package graft

import org.apache.spark.sql.functions._

import graft.engine.{DurableRegistry, OdfvSpec, OutputExpr, ProjectionSpec,
  RegistryFile, ServiceSpec, SourceSpec, ViewSpec}

/** Durable (file-backed) registry: spec round trip, apply-upsert merge
  * semantics, and retrieval parity between a reloaded registry and the
  * in-memory one (reference: infra/registry/file.py persistence written by
  * feature_store.py:1556 `apply`).
  */
class DurableRegistrySpec extends SparkTestBase {
  import spark.implicits._

  private def tmpReg(): String =
    tempDir("graft_regspec") + "/registry.json"

  private def writeSource(): String = {
    val dir = tempDir("graft_regsrc") + "/src"
    Seq(
      ("a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "x"),
      ("a", java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 2L, "y"),
      ("b", java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 5L, "z")
    ).toDF("k", "ts", "v", "tag").write.mode("overwrite").parquet(dir)
    dir
  }

  private def viewSpec(name: String, srcDir: String) = ViewSpec(
    name,
    SourceSpec("parquet", srcDir,
      transformSql = Some("SELECT k, ts, v * 10 AS v10, tag FROM __src")),
    joinKeys = Seq("k"), tsCol = "ts", ttlSeconds = 3600L,
    features = Seq("v10", "tag"), tieBreakCols = Seq("tag"))

  test("specs survive a save/load round trip byte-for-byte") {
    val path = tmpReg()
    val file = RegistryFile(
      views = Seq(viewSpec("fv", "/tmp/x").copy(
        createdTsCol = Some("cts"), fieldMapping = Map("a" -> "b"),
        datePartitionCol = Some("ds"))),
      odfvs = Seq(OdfvSpec("od", Seq("v10"),
        Seq(OutputExpr("v100", "v10 * 10")), requestCols = Seq("rq"),
        sourceRefs = Seq("fv:v10"))),
      services = Seq(ServiceSpec("svc", Seq(
        ProjectionSpec("fv", Seq("v10"), Map("k" -> "kk"), Some("alias"))))))
    DurableRegistry.save(path, file)
    assert(DurableRegistry.load(path) == file)
  }

  test("apply merges by name: replace in place, append new, keep order") {
    val path = tmpReg()
    val src = writeSource()
    DurableRegistry.apply(path, views = Seq(
      viewSpec("v1", src), viewSpec("v2", src)))
    // second apply: replace v1 (new ttl), add v3 + an odfv
    val merged = DurableRegistry.apply(path,
      views = Seq(viewSpec("v1", src).copy(ttlSeconds = 7200L), viewSpec("v3", src)),
      odfvs = Seq(OdfvSpec("od", Seq("v10"), Seq(OutputExpr("v100", "v10 * 10")))))
    assert(merged.views.map(_.name) == Seq("v1", "v2", "v3"))
    assert(merged.views.head.ttlSeconds == 7200L)
    assert(merged.odfvs.map(_.name) == Seq("od"))
    // and the merge is what was persisted
    assert(DurableRegistry.load(path) == merged)
  }

  test("reloaded registry retrieves identically to the in-memory one") {
    val path = tmpReg()
    val src = writeSource()
    DurableRegistry.apply(path,
      views = Seq(viewSpec("fv", src)),
      odfvs = Seq(OdfvSpec("od", Seq("v10"),
        Seq(OutputExpr("v100", "v10 * 10")), sourceRefs = Seq("fv:v10"))),
      services = Seq(ServiceSpec("svc", Seq(ProjectionSpec("fv", Seq("v10"))))))
    // both event timestamps sit inside the 1 h TTL of their latest row
    val entity = Seq(
      ("a", java.sql.Timestamp.valueOf("2024-01-02 00:30:00")),
      ("b", java.sql.Timestamp.valueOf("2024-01-01 12:30:00"))
    ).toDF("k", "event_ts")
    val inMem = new engine.Registry()
      .register(FeatureView("fv",
        spark.read.parquet(src).select(col("k"), col("ts"),
          (col("v") * 10).as("v10"), col("tag")),
        Seq("k"), "ts", None, 3600L, Seq("v10", "tag"), tieBreakCols = Seq("tag")))
      .register(OnDemandView("od", Seq("v10"), outputs = Seq("v100"),
        sourceRefs = Seq("fv:v10"),
        transform = df => df.withColumn("v100", col("v10") * 10)))
    val reloaded = DurableRegistry.loadRegistry(spark, path)
    val refs = Seq("fv:v10", "od:v100")
    val got = reloaded.getHistoricalFeatures(entity, refs).orderBy("k").collect()
    val want = inMem.getHistoricalFeatures(entity, refs).orderBy("k").collect()
    assert(got.toSeq == want.toSeq)
    assert(got.map(r => (r.getAs[Long]("v10"), r.getAs[Long]("v100"))).toSeq ==
      Seq((20L, 200L), (50L, 500L)))
    // service path through the reloaded registry
    val svc = reloaded.getHistoricalFeaturesService(entity, "svc")
      .orderBy("k").collect()
    assert(svc.map(_.getAs[Long]("v10")).toSeq == Seq(20L, 50L))
  }

  test("loading a service referencing a missing view fails loudly") {
    val path = tmpReg()
    DurableRegistry.apply(path,
      services = Seq(ServiceSpec("svc", Seq(ProjectionSpec("ghost")))))
    val e = intercept[IllegalArgumentException] {
      DurableRegistry.loadRegistry(spark, path)
    }
    assert(e.getMessage.contains("ghost"))
  }

  test("apply blocks on an external file-lock holder; no definitions lost") {
    val path = tmpReg()
    val src = writeSource()
    DurableRegistry.apply(path, views = Seq(viewSpec("v1", src)))
    // hold the registry's writer lock from a separate lock scope (what a
    // second driver process does); apply must WAIT, not last-writer-win
    val lockPath = java.nio.file.Paths.get(path + ".lock")
    val ch = java.nio.channels.FileChannel.open(lockPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val lock = ch.lock()
    @volatile var done = false
    val t = new Thread(() => {
      DurableRegistry.apply(path, views = Seq(viewSpec("v2", src)))
      done = true
    })
    t.start()
    Thread.sleep(500)
    assert(!done, "apply must block while the lock is held externally")
    lock.release()
    ch.close()
    t.join(30000)
    assert(done, "apply must proceed once the lock is released")
    // both applies' definitions survive the interleaving
    assert(DurableRegistry.load(path).views.map(_.name) == Seq("v1", "v2"))
  }

  test("apply dedupes duplicate names within one batch, last wins") {
    val path = tmpReg()
    val src = writeSource()
    DurableRegistry.apply(path, views = Seq(
      viewSpec("v", src).copy(ttlSeconds = 111L),
      viewSpec("v", src).copy(ttlSeconds = 222L)))
    val views = DurableRegistry.load(path).views
    assert(views.map(_.name) == Seq("v"), s"duplicate name persisted: $views")
    assert(views.head.ttlSeconds == 222L, "last occurrence must win")
    // and the reload is unambiguous
    assert(DurableRegistry.loadRegistry(spark, path)
      .featureView("v").ttlSeconds == 222L)
  }

  test("entities persist, upsert in place, and resolve by name") {
    import graft.engine.EntitySpec
    val path = tmpReg()
    DurableRegistry.apply(path, entities = Seq(
      EntitySpec("conversation", "conv_id", "string", "a conversation"),
      EntitySpec("document", "doc_id", "int", "placeholder")))
    // second apply replaces `document` in place and appends nothing
    DurableRegistry.apply(path, entities = Seq(
      EntitySpec("document", "doc_id", "bigint", "one corpus document")))
    val ents = DurableRegistry.load(path).entities
    assert(ents.map(_.name) == Seq("conversation", "document"))
    assert(DurableRegistry.entity(path, "document") ==
      EntitySpec("document", "doc_id", "bigint", "one corpus document"))
    assert(DurableRegistry.entity(path, "conversation").joinKey == "conv_id")
    val miss = intercept[IllegalArgumentException](
      DurableRegistry.entity(path, "nope"))
    assert(miss.getMessage.contains("no entity 'nope'"))
    // a pre-entity registry file (no `entities` field) still loads
    val legacy = tmpReg()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(legacy),
      """{"version":1,"views":[],"odfvs":[],"services":[],
        |"savedDatasets":[],"validations":[]}""".stripMargin)
    assert(DurableRegistry.load(legacy).entities.isEmpty)
  }

  test("saved-dataset + validation references persist and resolve through the file") {
    import graft.engine.{SavedDatasetSpec, ValidationSpec}
    val path = tmpReg()
    val base = tempDir("graft_sdspec")
    val data = Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)).toDF("k", "v")
    stats.DatasetProfile.saveWithProfile(data, s"$base/sd", Seq("v"), exact = true)
    DurableRegistry.apply(path,
      savedDatasets = Seq(SavedDatasetSpec("sd", s"$base/sd",
        features = Seq("v"), joinKeys = Seq("k"),
        profilePath = Some(s"$base/sd.profile"))),
      validations = Seq(ValidationSpec("vr", "sd", Seq("v"),
        relTol = 0.05, exact = true)))
    // the saved dataset reloads by name
    assert(DurableRegistry.loadSavedDataset(spark, path, "sd")
      .orderBy("k").collect().map(_.getDouble(1)).toSeq == Seq(1.0, 2.0, 3.0))
    // identical data validates clean through the registered reference
    val report = DurableRegistry.validateAgainst(spark, path, "vr", data)
    assert(report.filter(!col("passed")).count() == 0)
    // drifted data fails the mean check
    val drifted = Seq(("a", 10.0), ("b", 20.0), ("c", 30.0)).toDF("k", "v")
    assert(DurableRegistry.validateAgainst(spark, path, "vr", drifted)
      .filter(!col("passed")).count() > 0)
    // unknown names and profile-less datasets fail loudly
    intercept[IllegalArgumentException] {
      DurableRegistry.validateAgainst(spark, path, "ghost", data)
    }
    DurableRegistry.apply(path,
      savedDatasets = Seq(SavedDatasetSpec("bare", s"$base/sd")),
      validations = Seq(ValidationSpec("vr2", "bare")))
    val e = intercept[IllegalArgumentException] {
      DurableRegistry.validateAgainst(spark, path, "vr2", data)
    }
    assert(e.getMessage.contains("profile"))
  }

  test("entity frame as SQL: getHistoricalFeaturesSql matches the DataFrame path") {
    val src = writeSource()
    val view = FeatureView("fv",
      spark.read.parquet(src).select(col("k"), col("ts"), col("v")),
      Seq("k"), "ts", None, 0L, Seq("v"), tieBreakCols = Seq("v"))
    Seq(("a", java.sql.Timestamp.valueOf("2024-01-02 06:00:00")))
      .toDF("k", "event_ts").createOrReplaceTempView("ent_sql_src")
    val viaSql = engine.Historical.getHistoricalFeaturesSql(spark,
      "SELECT k, event_ts FROM ent_sql_src", Seq(view)).collect()
    val viaDf = engine.Historical.getHistoricalFeatures(
      spark.table("ent_sql_src"), Seq(view)).collect()
    assert(viaSql.toSeq == viaDf.toSeq && viaSql.head.getAs[Long]("v") == 2L)
    val err = intercept[IllegalArgumentException] {
      engine.Historical.getHistoricalFeaturesSql(spark,
        "SELECT k FROM ent_sql_src", Seq(view))
    }
    assert(err.getMessage.contains("event_ts"))
  }
}
