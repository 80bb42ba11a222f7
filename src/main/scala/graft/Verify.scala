package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local iteration
    // aid; the driver always passes exactly two args)
    require(args.length == 2 || args.length == 3,
      "usage: Verify <sfDir> <outDir> [query[,query...]]")
    val Array(sfDir, outDir) = args.take(2)
    val only = args.lift(2).map(_.split(",").toSet)
    val spark = LocalSession("graft-verify", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val sql = SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), JsonCodec.compact(sql))
    spark.stop()
  }
}
