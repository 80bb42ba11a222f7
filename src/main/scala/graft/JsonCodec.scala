package graft

import com.fasterxml.jackson.core.util.{DefaultPrettyPrinter, Separators}
import org.json4s.{DefaultFormats, Extraction, Formats}
import org.json4s.jackson.{JsonMethods, Serialization}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.util.Try

/** The one JSON codec for the engine's state files (registry, backfill
  * manifests, materialization ledger) and the bench/verify records: json4s
  * over Spark's bundled Jackson, so every string is escaped by the library
  * and every reader parses records instead of matching text.
  */
private[graft] object JsonCodec {

  // a Scala BigDecimal is written with its scale (0.300, not 0.3); numbers
  // read back as BigDecimal and still extract into Double fields
  private implicit val formats: Formats = DefaultFormats.withBigDecimal

  // one field per line as `"key": value` (Jackson's default is `"key" : value`)
  private val prettyWriter = JsonMethods.mapper.writer(new DefaultPrettyPrinter()
    .withSeparators(Separators.createDefaultInstance()
      .withObjectFieldValueSpacing(Separators.Spacing.AFTER)))

  /** One-line JSON: ledger lines and records that are read back by tools. */
  def compact[A <: AnyRef](a: A): String = Serialization.write(a)

  /** One field per line; an `Option` field that is `None` is left out. */
  def pretty[A <: AnyRef](a: A): String = prettyWriter.writeValueAsString(Extraction.decompose(a))

  def read[A: Manifest](json: String): A = Serialization.read[A](json)

  /** The record in `json`, or None when the text is torn, is not JSON or
    * lacks a field of `A`: a state file that cannot be read counts as absent.
    */
  def tryRead[A: Manifest](json: String): Option[A] = Try(read[A](json)).toOption

  /** Replace `target` atomically: write a hidden sibling temp file, then
    * move it over the target, so a reader sees the old or the new file,
    * never a torn one. Writers of one target must be serialized (the
    * registry and the manifests write under a file lock): they share the
    * temp file name.
    */
  def writeAtomic(target: Path, text: String): Unit = {
    Option(target.getParent).foreach(Files.createDirectories(_))
    val tmp = target.resolveSibling(s".${target.getFileName}.tmp")
    Files.write(tmp, text.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}
