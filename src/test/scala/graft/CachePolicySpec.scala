package graft

import org.apache.spark.sql.functions._

/** The [[CachePolicy]] knob (`spark.graft.cachePolicy`): the dedup/LSH
  * chains must produce byte-identical results whichever way their shared
  * frames are materialized — `local` (default, localCheckpoint),
  * `memory_and_disk` (executor-loss-survivable persist), `reliable`
  * (checkpoint dir). The policy changes durability, never semantics.
  */
class CachePolicySpec extends SparkTestBase {
  import spark.implicits._

  private def docs = {
    val base = (1 to 40).map { i =>
      (i.toLong, s"the quick brown fox number ${i % 7} jumps over dog $i pad " * 2)
    }
    // near-dup pairs: same text as the original, one token changed
    val dups = (1 to 10).map { i =>
      (100L + i, base(i - 1)._2.replace("quick", "swift"))
    }
    (base ++ dups).toDF("doc_id", "text")
  }

  private def runChain(): (Seq[String], Seq[String]) = {
    val pairs = text.Dedup.minHashLshPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.5)
    val clusters = text.Dedup.duplicateClusters(pairs)
    val kept = text.Dedup.dropNearDuplicates(docs, "doc_id", clusters)
    (clusters.collect().map(r => s"${r.get(0)}:${r.get(1)}").sorted.toSeq,
      kept.select("doc_id").collect().map(_.get(0).toString).sorted.toSeq)
  }

  private def withPolicy[T](mode: String)(body: => T): T = {
    spark.conf.set(CachePolicy.ConfKey, mode)
    try body
    finally spark.conf.unset(CachePolicy.ConfKey)
  }

  test("dedup chain is byte-identical under local and memory_and_disk policies") {
    val (clustersLocal, keptLocal) = runChain() // default = local
    val (clustersPersist, keptPersist) = withPolicy("memory_and_disk")(runChain())
    assert(clustersPersist == clustersLocal)
    assert(keptPersist == keptLocal)
    assert(keptLocal.nonEmpty && clustersLocal.nonEmpty,
      "fixture must actually exercise the chain")
  }

  test("dedup chain is byte-identical under the reliable-checkpoint policy") {
    val ckpt = tempDir("graft_ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    val (clustersLocal, keptLocal) = runChain()
    val (clustersRel, keptRel) = withPolicy("reliable")(runChain())
    assert(clustersRel == clustersLocal)
    assert(keptRel == keptLocal)
  }

  test("an unknown policy value fails loudly") {
    val e = intercept[IllegalArgumentException] {
      withPolicy("ramdisk")(runChain())
    }
    assert(e.getMessage.contains("ramdisk"))
  }
}
