package graft

import org.apache.spark.sql.functions._
import graft.stats.DatasetProfile

/** SavedDataset validation profiles: save + profile round trip, validate
  * pass/fail, exact vs approx sketch parity on the metric set.
  */
class DatasetProfileSpec extends SparkTestBase {
  import spark.implicits._

  private val data = (1 to 200)
    .map(i => (i.toLong, (i % 7).toDouble, s"cat_${i % 3}"))
    .toDF("id", "value", "category")

  test("histogram of a constant column puts every row in one bucket, no div-by-zero") {
    // min == max means zero bin width: the division would raise
    // DIVIDE_BY_ZERO under ANSI (session default) and NULL-route silently
    // under non-ANSI
    val const = Seq(5.0, 5.0, 5.0).toDF("v")
    val h = graft.stats.Profile.histogram(const, "v", bins = 4)
      .as[(Int, Long)].collect().toSeq
    assert(h == Seq((1, 3L)), s"single occupied bucket, got $h")
  }

  test("requireValid plumbs exact and absTol through to validate") {
    // exact reference vs exact candidate of the SAME data must pass when
    // the exact flag reaches the candidate profiling (approx sketches on
    // skewed data could drift past relTol otherwise)
    val ref = DatasetProfile.profile(data, Seq("value"), exact = true)
    DatasetProfile.requireValid(data, ref, Seq("value"),
      relTol = 0.0, absTol = 1e-12, exact = true)
  }

  test("profile emits the full metric set in one pass") {
    val p = DatasetProfile.profile(data, exact = true)
      .as[(String, String, Double)].collect()
      .map { case (c, m, v) => (c, m) -> v }.toMap
    assert(p(("id", "n_rows")) == 200.0)
    assert(p(("value", "n_nonnull")) == 200.0)
    assert(p(("value", "n_distinct")) == 7.0)
    assert(p(("value", "min")) == 0.0 && p(("value", "max")) == 6.0)
    assert(p(("category", "n_distinct")) == 3.0)
    // string columns get no numeric metrics
    assert(!p.contains(("category", "mean")))
    // approx mode yields the same metric keys
    val pa = DatasetProfile.profile(data)
      .select("column", "metric").as[(String, String)].collect().toSet
    assert(pa == p.keySet)
  }

  test("saveWithProfile round trip validates clean; drifted data fails loudly") {
    val dir = tempDir("graft_profile")
    val path = s"$dir/ds"
    DatasetProfile.saveWithProfile(data, path, exact = true)
    val ref = DatasetProfile.loadProfile(spark, path)
    // same data: every metric passes
    val report = DatasetProfile.validate(data, ref, exact = true)
    assert(report.filter(!col("passed")).isEmpty)
    DatasetProfile.requireValid(data, ref) // must not throw
    // drifted candidate: value scaled 10x -> mean/max/stddev fail
    val drifted = data.withColumn("value", col("value") * 10)
    val ex = intercept[DatasetProfile.ValidationFailedException] {
      DatasetProfile.requireValid(drifted, ref)
    }
    assert(ex.getMessage.contains("value.max"))
  }

  test("validate flags a metric missing from one side as failed") {
    val ref = DatasetProfile.profile(data.select("id", "value"), exact = true)
    val report = DatasetProfile.validate(data, ref, exact = true)
    // category metrics exist only on the candidate side -> failed rows
    val catRows = report.filter(col("column") === "category")
    assert(catRows.count() > 0)
    assert(catRows.filter(col("passed")).isEmpty)
  }
}
