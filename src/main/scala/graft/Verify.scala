package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = run(args, singleFile = true)

  /** `singleFile = true` is the frozen driver contract (one part file per
    * result). The scale probes ([[VerifyScale]]) write with the plan's own
    * partitioning instead: at sf10 a 60M-row result (w1/z1) funnelled
    * through `coalesce(1)` serializes the entire write into one task —
    * the checker reads a directory of parquet either way.
    */
  private[graft] def run(args: Array[String], singleFile: Boolean): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.build("graft-verify", cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // optional prefix filter for targeted oracle iteration (same contract
    // as Bench): SPARK_GRAFT_ONLY=agg4,agg6
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
      .foreach { case (name, fn) =>
      try {
        val res = fn(spark, sfDir)
        (if (singleFile) res.coalesce(1) else res)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Jackson escapes quotes, backslashes and every control character, so
    // json.load (tools/check_oracle.py) reads back each query's SQL as written
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(SparkEntry.oracleSql.asJava)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // cache lifecycle: a pack run must leave the session cache-clean (the
    // leak matters in a long-lived service, not this one-shot main — but
    // the contract is asserted here AND in CacheLifecycleSpec)
    graft.queries.TextQueries.clearCaches()
    // localCheckpoint RDDs (PageRank/Clusters lineage anchors) are freed by
    // the ContextCleaner once unreachable — only explicit caches count as
    // leaks here
    val leaked = spark.sparkContext.getPersistentRDDs.values
      .filterNot(_.isCheckpointed)
    if (leaked.nonEmpty)
      System.err.println(s"[verify] WARNING: ${leaked.size} persistent RDDs leaked")
    spark.stop()
  }
}

/** Verify for the synthesized scale dirs (scaledata/sf1, sf10): identical
  * pack and oracle dump, but results keep the plan's partitioning instead
  * of coalescing to one file — compare with tools/check_oracle_dir.py.
  */
object VerifyScale {
  def main(args: Array[String]): Unit = Verify.run(args, singleFile = false)
}
