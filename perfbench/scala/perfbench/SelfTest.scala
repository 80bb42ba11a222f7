package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Checks of the benchmark's own output checksum; exits non-zero on the
  * first failure. Run by perfbench/tests/test_checksum.py. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", args(0))
      .config("spark.sql.warehouse.dir", s"${args(0)}/warehouse")
      .getOrCreate()
    import spark.implicits._
    try {
      val base = Seq(("a", 1, Some(10L)), ("b", 2, None), ("c", 3, Some(30L)), ("a", 1, Some(10L)))
        .toDF("k", "i", "v")
      def check(name: String, ok: Boolean): Unit =
        if (!ok) throw new AssertionError(s"checksum self-test failed: $name")
      val c = Checksum.of(base)
      check("row order", Checksum.of(base.orderBy(col("k").desc, col("i").desc)) == c)
      check("partitioning", Checksum.of(base.repartition(3, col("i"))) == c)
      check("column order", Checksum.of(base.select("v", "k", "i")) == c)
      check("integer width", Checksum.of(base.withColumn("i", col("i").cast("long"))) == c)
      check("duplicate removed", Checksum.of(base.distinct()) != c)
      check("value changed", Checksum.of(base.withColumn("i", col("i") + 1)) != c)
      check("null vs empty", Checksum.of(base.withColumn("v", coalesce(col("v"), lit(0L)))) != c)
      check("values swapped between rows",
        Checksum.of(Seq(("a", 2, Some(10L)), ("b", 1, None), ("c", 3, Some(30L)), ("a", 1, Some(10L)))
          .toDF("k", "i", "v")) != c)
      check("empty frame", Checksum.of(base.filter(lit(false))) == "0:0")
      println("perfbench self-test ok")
    } finally spark.stop()
  }
}
