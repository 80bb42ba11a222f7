package graft

import graft.engine.Backfill
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.ListMap

class JsonCodecSpec extends AnyFunSuite {

  test("a BigDecimal keeps its scale in compact and pretty output") {
    assert(JsonCodec.compact(ListMap("a" -> BigDecimal("0.300"), "b" -> BigDecimal("2.00"))) ==
      """{"a":0.300,"b":2.00}""")
    assert(JsonCodec.pretty(ListMap("a" -> BigDecimal("0.000"))).contains(""""a": 0.000"""))
  }

  test("a fractional double field reads back, in a record and in a manifest") {
    assert(JsonCodec.read[JsonCodecSpec.Rate]("""{"rows_per_sec":8.333333333333334,"rows":3}""") ==
      JsonCodecSpec.Rate(8.333333333333334, 3L))
    val ckpt = Files.createTempDirectory("graft_jsoncodec")
    try {
      Files.writeString(ckpt.resolve("2026-01-01.json"),
        """{"partition":"2026-01-01","status":"complete","input_rows":3,"output_rows":2,""" +
          """"input_files":[],"started_at_ms":1760000000000,"duration_ms":360,"rows_per_sec":8.333333333333334}""")
      assert(Backfill.isComplete(ckpt.toString, "2026-01-01"))
    } finally {
      Files.deleteIfExists(ckpt.resolve("2026-01-01.json"))
      Files.delete(ckpt)
    }
  }
}

object JsonCodecSpec {
  case class Rate(rows_per_sec: Double, rows: Long)
}
