package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Sinks

object SinksSpec {
  // cross-task sink target (local mode: executors share the JVM)
  val written = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

class SinksSpec extends SparkTestBase {
  import spark.implicits._

  private val tmp = tempDir("graft-sinks")

  test("append sink aligns, casts, and json-serializes structs") {
    val df = Seq((1, 2L, "x")).toDF("a", "b", "c")
      .withColumn("s", struct(lit(7).as("k")))
      .withColumn("extra", lit(0))
    val target = StructType(Seq(
      StructField("a", LongType), // int → long cast
      StructField("b", LongType),
      StructField("c", StringType),
      StructField("s", StringType))) // struct → json string
    Sinks.appendWithSchemaCast(df, target, s"$tmp/append")
    Sinks.appendWithSchemaCast(df, target, s"$tmp/append") // append twice
    val back = spark.read.parquet(s"$tmp/append")
    assert(back.schema == target)
    assert(back.count() == 2)
    assert(back.select("s").as[String].head() == """{"k":7}""")
    intercept[IllegalArgumentException] {
      Sinks.alignToSchema(df.drop("b"), target)
    }
  }

  test("align resolves case-insensitively like Spark's analyzer; ambiguity errors") {
    val df = Seq((1L, "x")).toDF("ID", "C")
    val target = StructType(Seq(
      StructField("id", LongType), StructField("c", StringType)))
    val aligned = Sinks.alignToSchema(df, target)
    // output uses the TARGET's spelling
    assert(aligned.schema.fields.map(_.name).toSeq == Seq("id", "c"))
    assert(aligned.as[(Long, String)].head() == ((1L, "x")))
    // two source columns differing only by case cannot be resolved silently
    val dupe = Seq((1L, 2L, "x")).toDF("id", "ID", "c")
    val e = intercept[IllegalArgumentException] {
      Sinks.alignToSchema(dupe, target)
    }
    assert(e.getMessage.contains("ambiguous"))
  }

  test("align is locale-independent and handles dotted column names") {
    // Turkish locale: default-locale toLowerCase turns "ID" into dotless-ı
    // and the lookup would miss a column Spark itself resolves fine
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(new java.util.Locale("tr", "TR"))
      val df = Seq((1L, "x")).toDF("ID", "c")
      val target = StructType(Seq(
        StructField("id", LongType), StructField("c", StringType)))
      val aligned = Sinks.alignToSchema(df, target)
      assert(aligned.as[(Long, String)].head() == ((1L, "x")))
    } finally java.util.Locale.setDefault(prev)
    // a top-level column literally named "user.id" (legal in parquet) must
    // resolve as itself, not as nested-field access
    val dotted = Seq((7L, "y")).toDF("user.id", "c")
    val target2 = StructType(Seq(
      StructField("user.id", LongType), StructField("c", StringType)))
    val out = Sinks.alignToSchema(dotted, target2)
    assert(out.schema.fieldNames.toSeq == Seq("user.id", "c"))
    assert(out.select(col("`user.id`")).as[Long].head() == 7L)
  }

  test("foreachPartition sink streams every row through the writer") {
    SinksSpec.written.clear()
    val df = Transcripts.synthetic(spark, nConvs = 5, turnsPerConv = 8, seed = 2L)
      .select("conv_id", "turn_idx")
    val n = Sinks.foreachPartitionSink(df, { rows =>
      var c = 0L
      rows.foreach { r =>
        SinksSpec.written.add(s"${r.getString(0)}#${r.getInt(1)}"); c += 1
      }
      c
    })
    assert(n == 40 && SinksSpec.written.size() == 40)
    assert(SinksSpec.written.contains("conv_000003#7"))
  }

  test("staging export returns the written parquet file URIs") {
    val files = Sinks.exportToStaging(
      Seq((1, "a"), (2, "b")).toDF("id", "v").repartition(2), s"$tmp/staging")
    assert(files.size == 2 && files.forall(_.endsWith(".parquet")))
  }

  test("saved dataset round-trips and refuses overwrite") {
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    Sinks.saveDataset(df, s"$tmp/saved")
    val back = Sinks.loadDataset(spark, s"$tmp/saved")
    assert(back.except(df).isEmpty && df.except(back).isEmpty)
    intercept[Exception](Sinks.saveDataset(df, s"$tmp/saved"))
  }

  test("feature logging stamps request id and log timestamp, appends") {
    val served = Seq(("c1", 1.0), ("c2", 2.0)).toDF("conv_id", "score")
    val at = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    Sinks.logFeatures(served, "req-1", at, s"$tmp/featlog")
    Sinks.logFeatures(served, "req-2", at, s"$tmp/featlog")
    val back = spark.read.parquet(s"$tmp/featlog")
    assert(back.count() == 4)
    assert(back.filter(col("__log_request_id") === "req-2").count() == 2)
    assert(back.select("__log_timestamp").distinct().count() == 1)
  }

  test("appendIceberg fails loudly without the Iceberg runtime") {
    assume(!graft.sources.IcebergSource.available(spark),
      "runtime present — covered by the e2e activation test below")
    val e = intercept[IllegalArgumentException] {
      Sinks.appendIceberg(Seq((1L, "a")).toDF("id", "v"), "cat.db.t")
    }
    assert(e.getMessage.contains("iceberg-spark-runtime"), e.getMessage)
  }

  /** Self-activating e2e for the S6 Iceberg-append half (mirrors
    * BackfillSpec's scan-side activation test): skipped — not silently
    * passed — while `iceberg-spark-runtime` is off the classpath; on a
    * real deployment it exercises create → aligned append → snapshot
    * advance with no code change.
    */
  test("iceberg e2e: appendIceberg aligns columns and advances snapshots (skips without runtime)") {
    assume(graft.sources.IcebergSource.available(spark),
      "iceberg-spark-runtime not on classpath — explicit tested skip")
    val warehouse = tempDir("graft_ice_sink")
    spark.conf.set("spark.sql.catalog.graft_ices", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.graft_ices.type", "hadoop")
    spark.conf.set("spark.sql.catalog.graft_ices.warehouse", warehouse)
    Seq((1L, "a")).toDF("id", "v")
      .writeTo("graft_ices.db.t").using("iceberg").createOrReplace()
    val snap1 = graft.sources.IcebergSource.currentSnapshotId(spark, "graft_ices.db.t")
    // reordered + extra column: alignToSchema must reconcile to the live
    // table schema before the v2 append
    Sinks.appendIceberg(
      Seq(("b", 0, 2L)).toDF("v", "extra", "id"), "graft_ices.db.t")
    val snap2 = graft.sources.IcebergSource.currentSnapshotId(spark, "graft_ices.db.t")
    assert(snap1.nonEmpty && snap2.nonEmpty && snap1 != snap2,
      s"append must commit a new snapshot: $snap1 -> $snap2")
    assert(spark.table("graft_ices.db.t").count() == 2L)
  }

  test("monitoring DDL is idempotent and creates the four tables") {
    val t1 = Sinks.ensureMonitoringTables(spark, "graft_t")
    val t2 = Sinks.ensureMonitoringTables(spark, "graft_t") // no-op re-run
    assert(t1 == t2 && t1.size == 4)
    t1.foreach { t => assert(spark.catalog.tableExists(t), t) }
    assert(spark.table("graft_t_value_stats").schema.fieldNames.contains("p99"))
  }
}
