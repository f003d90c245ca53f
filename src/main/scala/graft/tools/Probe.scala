package graft.tools

import graft.{GraftCaches, GraftSession, ProcCpu, Q, SparkEntry, Verify}
import graft.ext.PlanStats
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

/** The engine's probe CLI: every subcommand builds its session through
  * [[GraftSession.local]] and runs catalog queries by name.
  *
  * `SPARK_GRAFT_CPUS` (default 32, the official bench width) sets the
  * core count of `hostile`, `plan`, `stages` and `time`; `plans`,
  * `census` and `windows` run at the fixed config their output is
  * pinned to.
  *
  *   hostile <sfDir> <outDir> [names]       Verify's dump under hostile configs
  *   plans   <sfDir> [out.md]               regenerate PLANS.md (local[8])
  *   plan    <sfDir> <outDir> <suffix> names...  one explain file per query
  *   census  <sfDir>                        HeadlinePlanPinSpec's pin table (local[4])
  *   windows <sfDir>                        queries with a global WindowExec (local[8])
  *   stages  <sfDir> names...               per-stage wall/CPU/tasks/shuffle table
  *   time    <sfDir> <runs> [-cold] names...  warm-up then N timed passes
  *
  * e.g. `sbt "runMain graft.tools.Probe plan <sf0.1-dir> plans/r17 _before q_triangle_count"`.
  */
object Probe {

  private val Usage =
    "usage: Probe hostile|plans|plan|census|windows|stages|time <sfDir> ..."

  def main(args: Array[String]): Unit = args.toList match {
    case "hostile" :: sfDir :: outDir :: only =>
      hostile(sfDir, outDir, only.headOption.map(_.split(",").toSet))
    case "plans" :: sfDir :: out => plans(sfDir, out.headOption.getOrElse("PLANS.md"))
    case "plan" :: sfDir :: outDir :: suffix :: names if names.nonEmpty =>
      plan(sfDir, outDir, suffix, names)
    case "census" :: sfDir :: Nil => census(sfDir)
    case "windows" :: sfDir :: Nil => windows(sfDir)
    case "stages" :: sfDir :: names if names.nonEmpty => stages(sfDir, names)
    case "time" :: sfDir :: runs :: tail => time(sfDir, runs.toInt, tail)
    case _ => System.err.println(Usage); sys.exit(2)
  }

  private def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  private def withSession[T](cpus: Int, sfDir: String, app: String,
      overrides: Map[String, String] = Map.empty)(body: SparkSession => T): T = {
    val spark = GraftSession.local(cpus, sfDir).appName(s"graft-probe-$app")
      .config(overrides).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try body(spark)
    finally { GraftCaches.release(spark); spark.stop() }
  }

  /** The named catalog queries, in catalog order; unknown names fail. */
  private def pick(names: Seq[String]): Seq[Q] = {
    val picked = SparkEntry.catalog.filter(q => names.contains(q.name))
    require(picked.size == names.toSet.size,
      s"unknown names: ${names.toSet -- picked.map(_.name)}")
    picked
  }

  /** Verify's dump under HOSTILE configs — exchange reuse OFF, AQE OFF,
    * subquery reuse OFF, 1 KB autoBroadcast threshold. This is the
    * config class that exposed the round-3 GlobalRank bug (two range
    * exchanges that only agreed because reuse collapsed them): any
    * query whose answer depends on exchange deduplication, adaptive
    * re-planning, or a particular join strategy diverges here and
    * fails the same check_oracle gate. Plans get slower; ANSWERS must
    * not change. Exits 1 when any query fails. */
  def hostile(sfDir: String, outDir: String, only: Option[Set[String]]): Unit = {
    val failures = withSession(envCpus, sfDir, "hostile", Map(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.exchange.reuse" -> "false",
      "spark.sql.execution.reuseSubquery" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "1KB")) { spark =>
      Verify.dump(spark, sfDir, outDir,
        SparkEntry.catalog.filter(q => only.forall(_.contains(q.name))))
    }
    if (failures.nonEmpty) sys.exit(1)
  }

  /** `q`'s PlanStats counts (pre-adaptive plan, subqueries included)
    * and its `explain("formatted")` text. */
  private def explain(spark: SparkSession, sfDir: String, q: Q)
      : (PlanStats.Counts, String) = {
    val df = q.run(spark, sfDir)
    (PlanStats.of(df),
      df.queryExecution.explainString(ExplainMode.fromString("formatted")))
  }

  /** Regenerates PLANS.md: every headliner's formatted physical plan
    * and structural counts at the local[8] doc config. */
  def plans(sfDir: String, out: String): Unit = withSession(8, sfDir, "plans") { spark =>
    val dumped = SparkEntry.headline.map(q => (q, explain(spark, sfDir, q)))
    val sb = new StringBuilder
    sb ++= "# PLANS — formatted physical plans of the headline queries\n\n"
    sb ++= s"Generated by `graft.tools.Probe plans` against `$sfDir` (local[8]).\n"
    sb ++= "Checks to read for: `PushedFilters` reaching the scan, "
    sb ++= "`ReadSchema` pruned to used columns, `BroadcastHashJoin` on "
    sb ++= "dimension sides, `partial_*` map-side aggregation, "
    sb ++= "`TakeOrderedAndProject` for top-k.\n"
    sb ++= "\n## Structural counts (this dump's config)\n\n"
    sb ++= "Shuffle-exchange / broadcast-exchange / source-scan node "
    sb ++= "counts on the pre-adaptive plan, subqueries included — the "
    sb ++= "deterministic regression signal (HeadlinePlanPinSpec pins "
    sb ++= "the same counts at the test config and fails on drift). "
    sb ++= "Counts are per plan branch: an exchange that two branches "
    sb ++= "share counts once per branch, even when the runtime reuses "
    sb ++= "one stage for both.\n\n"
    sb ++= "| headliner | shuffles | broadcasts | scans |\n"
    sb ++= "|---|---|---|---|\n"
    dumped.foreach { case (q, (c, _)) =>
      sb ++= s"| ${q.name} | ${c.shuffles} | ${c.broadcasts} | ${c.scans} |\n"
    }
    dumped.foreach { case (q, (_, text)) =>
      sb ++= s"\n## ${q.name}\n\n```\n$text```\n"
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plans] wrote $out")
  }

  /** One `<outDir>/<name><suffix>.txt` per named query at the official
    * bench config — the before/after plan evidence of an optimization
    * round (plans/rN/<query>_{before,after}.txt). */
  def plan(sfDir: String, outDir: String, suffix: String,
           names: Seq[String]): Unit = withSession(envCpus, sfDir, "plan") { spark =>
    Files.createDirectories(Paths.get(outDir))
    pick(names).foreach { q =>
      val (c, text) = explain(spark, sfDir, q)
      val header =
        s"# ${q.name} — explain(formatted) at $sfDir, " +
          s"local[$envCpus], shuffle.partitions=" +
          s"${spark.sessionState.conf.numShufflePartitions}\n" +
          s"# PlanStats: shuffles=${c.shuffles} " +
          s"broadcasts=${c.broadcasts} scans=${c.scans}\n\n"
      Files.writeString(Paths.get(s"$outDir/${q.name}$suffix.txt"), header + text)
      println(s"[plan] wrote $outDir/${q.name}$suffix.txt")
    }
  }

  /** Prints the per-headliner PlanStats counts in paste-able Scala map
    * syntax under the test session's config (local[4], sf0.001), so the
    * output IS the pin table for HeadlinePlanPinSpec. */
  def census(sfDir: String): Unit = withSession(4, sfDir, "census") { spark =>
    SparkEntry.headline.foreach { q =>
      println(s"""    "${q.name}" -> ${PlanStats.of(q.run(spark, sfDir))},""")
    }
  }

  /** Catalog queries whose physical plan holds a WindowExec with an
    * EMPTY partitionSpec (a single-partition global window) — the
    * discovery pass behind PlanAuditSpec's bounded-global-window
    * whitelist. */
  def windows(sfDir: String): Unit = withSession(8, sfDir, "windows") { spark =>
    SparkEntry.catalog.foreach { q =>
      try {
        val inner = q.run(spark, sfDir).queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.initialPlan
          case other => other
        }
        val globals = inner.collect {
          case w: WindowExec if w.partitionSpec.isEmpty &&
            !(w.orderSpec.nonEmpty && w.orderSpec.forall(
              _.child.references.forall(_.name == "_gr_pid"))) => w
        }
        if (globals.nonEmpty) {
          val desc = globals.map { w =>
            val ord = w.orderSpec.map(o =>
              o.child.references.map(_.name).mkString("+")).mkString(",")
            val n = try w.child.execute().count()
              catch { case _: Throwable => -1L }
            s"[$ord n=$n]"
          }
          println(s"[windows] ${q.name}: ${desc.mkString(" ")}")
        }
      } catch {
        case e: Throwable => println(s"[windows] ${q.name}: ERR ${e.getMessage}")
      }
    }
  }

  private val DrainKey = "graft.probe.drain"
  private val DrainTimeoutS = 30L

  /** Per-stage rows and the Catalyst phases of one instrumented pass. */
  private final class StageLog extends SparkListener with QueryExecutionListener {
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Double, Double, Int, Long, Long, String)]
    @volatile var qe: Option[QueryExecution] = None
    private var markerJob = -1
    private var markerStages = Set.empty[Int]
    private val drained = new CountDownLatch(1)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(DrainKey) != null)) {
        markerJob = e.jobId
        markerStages = e.stageIds.toSet
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerJob) drained.countDown()

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      if (!markerStages(i.stageId)) {
        val wall = (for {s <- i.submissionTime; c <- i.completionTime}
          yield (c - s) / 1e3).getOrElse(-1.0)
        val m = i.taskMetrics
        rows += ((i.stageId, wall, m.executorCpuTime / 1e9,
          i.numTasks, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, i.name.take(90)))
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = this.qe = Some(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()

    /** Blocks until every event posted so far has been delivered: runs
      * a one-task job tagged with [[DrainKey]] and waits for its end
      * event, which the listener bus delivers after everything queued
      * before it. Fails instead of returning a short stage table. */
    def drain(sc: SparkContext): Unit = {
      sc.setLocalProperty(DrainKey, "marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(DrainKey, null)
      if (!drained.await(DrainTimeoutS, TimeUnit.SECONDS))
        throw new IllegalStateException(
          s"listener bus did not drain within $DrainTimeoutS s")
    }
  }

  /** Stage-level decomposition of the named queries (find WHERE the
    * time goes before touching anything): one warm pass, then one
    * instrumented pass printing every completed stage's wall time,
    * executor CPU, task count and shuffle bytes — the headless
    * stand-in for the Spark UI's stage table. */
  def stages(sfDir: String, names: Seq[String]): Unit =
    withSession(envCpus, sfDir, "stages") { spark =>
      pick(names).foreach { q =>
        // warm pass: builds registry caches exactly like Bench's warmup
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        val log = new StageLog
        spark.sparkContext.addSparkListener(log)
        spark.listenerManager.register(log)
        val t0 = System.nanoTime()
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        try log.drain(spark.sparkContext)
        finally {
          spark.listenerManager.unregister(log)
          spark.sparkContext.removeSparkListener(log)
        }
        log.qe.foreach { qe =>
          val ph = qe.tracker.phases
            .map { case (k, v) => s"$k=${v.endTimeMs - v.startTimeMs}ms" }
            .mkString(" ")
          println(s"[stages] ${q.name}: planning phases: $ph")
        }
        println(f"[stages] ${q.name}: wall=$wall%.3f s, ${log.rows.size} stages")
        println(f"[stages] ${"id"}%5s ${"wall_s"}%7s ${"cpu_s"}%7s " +
          f"${"tasks"}%5s ${"shufR_MB"}%8s ${"shufW_MB"}%8s  name")
        log.rows.sortBy(-_._2).foreach { case (id, w, cpu, n, sr, sw, nm) =>
          println(f"[stages] $id%5d $w%7.3f $cpu%7.3f $n%5d " +
            f"${sr / 1e6}%8.1f ${sw / 1e6}%8.1f  $nm")
        }
        val sumWall = log.rows.map(_._2).filter(_ > 0).sum
        println(f"[stages] ${q.name}: stage-wall sum=$sumWall%.3f s " +
          f"(gaps to $wall%.3f s = driver/plan/broadcast-build time)")
      }
    }

  /** Subset slice of graft.Bench for perf adjudication: times only the
    * named queries under the official bench config (noop sink, warm-up
    * then `runs` timed passes) and prints every pass, not just the min,
    * so run-to-run spread is visible next to the 1-minute loadavg.
    * `-cold` (anywhere among the names) flushes GraftCaches before every
    * timed run, so session-cached chains (BPE training, LSH bucket
    * tables) are timed end-to-end instead of as a registry hit; any
    * other dash-arg is an error, not a query name. */
  def time(sfDir: String, runs: Int, tail: Seq[String]): Unit = {
    require(runs >= 1, s"runs must be >= 1, got $runs")
    val cold = tail.contains("-cold")
    val unknownFlags = tail.filter(a => a.startsWith("-") && a != "-cold")
    require(unknownFlags.isEmpty,
      s"unknown flags: ${unknownFlags.mkString(", ")} (only -cold is supported)")
    val picked = pick(tail.filterNot(_.startsWith("-")))
    withSession(envCpus, sfDir, "time") { spark =>
      picked.foreach { q =>
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        val times = (1 to runs).map { _ =>
          if (cold) GraftCaches.release(spark)
          val t0 = System.nanoTime()
          q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[time] ${q.name}${if (cold) " (cold)" else ""}: " +
          f"min=${times.min}%.3f " +
          times.map(t => f"$t%.3f").mkString("runs=[", ", ", "]") +
          f" loadavg=${ProcCpu.loadAvg()}%.2f")
      }
    }
  }
}
