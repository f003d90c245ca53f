package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query names — local-iteration
    // subset; the driver always invokes with exactly two args.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt, sfDir)
      .appName("graft-verify").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dump(spark, sfDir, outDir,
      SparkEntry.catalog.filter(q => only.forall(_.contains(q.name))))
    GraftCaches.release(spark)
    spark.stop()
  }

  /** Writes each query's result to `outDir/<name>` as parquet, their
    * oracles to oracle_sql.json, and per-query wall time plus every
    * failure's message to verify_times.json. A query that throws is
    * timed to its failure point, logged and listed under "failures" —
    * never just a missing output directory. Returns the failures.
    *
    * Per-query wall time (VERDICT r15 #4): only the 34 headliners are
    * benched per round, so a wall-time blowup in any of the other ~460
    * queries is invisible until it stalls the whole verify sweep.
    * Verify already runs every query at both SFs — stamp the durations
    * so rounds can diff the top deltas. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           qs: Seq[Q]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    qs.foreach { case Q(name, run, _, _) =>
      val t0 = System.nanoTime()
      try run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: $msg")
        failures.put(name, msg)
      }
      times.put(name, (System.nanoTime() - t0) / 1e9)
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => times.contains(k) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.obj(oracles.map { case (k, v) => k -> Json.str(v) }))
    Files.writeString(Paths.get(s"$outDir/verify_times.json"), Json.obj(Seq(
      "sf" -> Json.str(sfDir),
      "times" -> Json.obj(times.map { case (k, v) => k -> f"$v%.3f" }),
      "failures" -> Json.obj(failures.map { case (k, v) => k -> Json.str(v) }))))
    failures.toMap
  }
}
