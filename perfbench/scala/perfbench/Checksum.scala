package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Order-independent multiset checksum of a frame: the row count and the
  * exact (decimal, so it cannot overflow) sum of a 64-bit hash of each
  * row's canonical text. Columns are taken in name order and cast to
  * string, so a frame read back from another writer with other integer
  * widths or column order checksums the same; a sum (not xor) keeps
  * duplicate rows from cancelling.
  */
object Checksum {

  def rowHash(df: DataFrame): Column =
    xxhash64(df.columns.sorted.toIndexedSeq.map(c =>
      coalesce(col(s"`$c`").cast("string"), lit("\u0000null"))): _*)

  /** Aggregate columns `__rows`, `__hash`; evaluate them with [[render]]. */
  def columns(df: DataFrame): Seq[Column] = Seq(
    count(lit(1)).as("__rows"),
    coalesce(sum(rowHash(df).cast("decimal(20,0)")), lit(0).cast("decimal(30,0)")).as("__hash"))

  def render(r: Row): String =
    s"${r.getAs[Long]("__rows")}:${r.getAs[java.math.BigDecimal]("__hash").toPlainString}"

  def of(df: DataFrame): String = render(df.agg(columns(df).head, columns(df).tail: _*).head())
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(items: Iterable[String]): String = items.mkString("[", ", ", "]")
}
