package perfbench

import graft.{GraftCaches, GraftSession, Q, SparkEntry}
import graft.yelp.{Analytics, MasterTable, Schemas}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The benchmark's engine-side runner: one JVM, one workload.
  *
  * It sets the session up `--setups` times (session build, input
  * registration, cache fill, warm-up passes) and keeps the last one,
  * then runs whole passes over the workload's operation list from a
  * single closed-loop client until `--seconds` have passed. With
  * `--trace 1` every other pass runs under the [[Tracer]] listeners, so
  * the run itself shows what tracing costs. Everything it measured goes
  * to `<out>/runner.json`; run.py checks answers and prints metrics.
  *
  *   Runner --workload dashboard --data DIR --out DIR --seconds 10 \
  *     --trace 0 --seed 1 --cpus 4 --setups 3
  */
object Runner {

  final case class Args(workload: String, data: String, out: String,
      seconds: Double, trace: Boolean, seed: Long, cpus: Int, setups: Int)

  /** Outcome of one operation: rows collected to the driver (dashboard),
    * the directory written (ETL) or nothing (noop sink). */
  sealed trait Outcome
  final case class Rows(columns: Seq[String], rows: Array[Row]) extends Outcome
  final case class Written(path: String) extends Outcome
  case object Sunk extends Outcome

  final case class Op(name: String, run: SparkSession => Outcome)

  final case class OpRecord(pass: Int, index: Int, name: String,
      seconds: Double, error: Option[String], result: Option[String])

  /** A workload: how to register inputs and what one pass runs. */
  trait Workload {
    def name: String
    /** Input directory; its footprint sizes the shuffle partitions. */
    def inputDir: String
    /** Register inputs and fill caches; returns set-up layer numbers. */
    def prepare(s: SparkSession): Map[String, Double]
    def ops: IndexedSeq[Op]
    /** Operation order for one pass. */
    def order(pass: Int, seed: Long): IndexedSeq[Op] = ops
    /** The first warm-up pass may write what the answer check reads. */
    def warmOp(op: Op, first: Boolean): Op = op
    /** Warm-up passes of the first set-up, on the cold JVM: enough that
      * the JIT has settled before measuring (pass times stop falling).
      * Later set-ups run one warm-up pass. */
    def coldWarmPasses: Int
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("out"), m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("seed", "1").toLong,
      m.getOrElse("cpus", "4").toInt, m.getOrElse("setups", "3").toInt)
  }

  def session(a: Args, inputDir: String): SparkSession = {
    val work = Paths.get(a.out).toAbsolutePath
    SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions",
        GraftSession.shufflePartitions(inputDir, a.cpus))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        GraftSession.aqeMinPartitionSize)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
  }

  // ---------------------------------------------------------------- workloads

  private def readInputs(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = (
    s.read.schema(Schemas.business).json(s"$dir/business.json"),
    s.read.schema(Schemas.review).json(s"$dir/review.json"),
    s.read.schema(Schemas.user).json(s"$dir/user.json"))

  /** The reference Glue job: JSON scan, MasterTable.build, parquet write. */
  final class EtlMaster(a: Args) extends Workload {
    val name = "etl_master"
    val inputDir: String = a.data
    val coldWarmPasses = 2
    private var inputs: (DataFrame, DataFrame, DataFrame) = _
    private var seq = 0
    def prepare(s: SparkSession): Map[String, Double] = {
      inputs = readInputs(s, a.data); Map.empty
    }
    val ops: IndexedSeq[Op] = IndexedSeq(Op("etl_master", { _ =>
      val (b, r, u) = inputs
      seq += 1
      val path = s"${a.out}/etl/op_$seq"
      MasterTable.write(MasterTable.build(b, r, u), path)
      Written(path)
    }))
  }

  /** Dashboard Q1-Q10 over a master cached once through GraftCaches. */
  final class Dashboard(a: Args) extends Workload {
    val name = "dashboard"
    val inputDir: String = a.data
    val coldWarmPasses = 5
    private var master: DataFrame = _
    def prepare(s: SparkSession): Map[String, Double] = {
      val (b, r, u) = readInputs(s, a.data)
      val t0 = System.nanoTime()
      master = GraftCaches.getOrPersist(s, "perfbench.dashboard.master") {
        MasterTable.build(b, r, u, keepText = true)
      }
      val rows = master.count()
      val fill = (System.nanoTime() - t0) / 1e9
      val info = s.sparkContext.getRDDStorageInfo.filter(_.isCached)
      Map("cache.fill_s" -> fill,
        "cache.entries" -> info.length.toDouble,
        "cache.mem_mb" -> info.map(_.memSize).sum / 1e6,
        "cache.disk_mb" -> info.map(_.diskSize).sum / 1e6,
        "cache.partitions" -> info.map(_.numPartitions).sum.toDouble,
        "master.rows_out" -> rows.toDouble)
    }
    private def q(n: String, f: DataFrame => DataFrame) = Op(n, { _ =>
      val df = f(master)
      Rows(df.columns.toSeq, df.collect())
    })
    val ops: IndexedSeq[Op] = IndexedSeq(
      q("kpiTotals", Analytics.kpiTotals),
      q("avgRating", Analytics.avgRating),
      q("businessesByStars", Analytics.businessesByStars),
      q("yearlyTrends", Analytics.yearlyTrends),
      q("dayWiseByCategory", Analytics.dayWiseByCategory),
      q("engagementByCategory", Analytics.engagementByCategory),
      q("topStates", m => Analytics.topStates(m)),
      q("mostActive", Analytics.mostActive),
      q("topBusinessesPerCity", m => Analytics.topBusinessesPerCity(m)),
      q("reviewLengthByMonth", Analytics.reviewLengthByMonth))
    override def order(pass: Int, seed: Long): IndexedSeq[Op] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
  }

  /** The catalog's headline queries over a TPC-H-ish table directory,
    * each to a noop sink. The first warm-up writes parquet instead, for
    * the oracle compare. */
  final class Headliners(a: Args) extends Workload {
    val name = "headliners"
    val inputDir: String = a.data
    val coldWarmPasses = 1
    def prepare(s: SparkSession): Map[String, Double] = {
      val sql = SparkEntry.headline.flatMap(q => q.oracle.map(q.name -> _.trim)).toMap
      Files.createDirectories(Paths.get(a.out, "headliners"))
      Files.writeString(Paths.get(a.out, "headliners", "oracle_sql.json"), Json(sql))
      Map.empty
    }
    private def sink(q: Q, parquet: Boolean) = Op(q.name, { s =>
      val w = q.run(s, a.data).write.mode("overwrite")
      if (parquet) {
        val path = s"${a.out}/headliners/${q.name}"
        w.parquet(path); Written(path)
      } else { w.format("noop").save(); Sunk }
    })
    val ops: IndexedSeq[Op] = SparkEntry.headline.map(sink(_, parquet = false)).toIndexedSeq
    override def order(pass: Int, seed: Long): IndexedSeq[Op] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
    override def warmOp(op: Op, first: Boolean): Op =
      if (!first) op else sink(SparkEntry.headline.find(_.name == op.name).get, parquet = true)
  }

  /** Owning module of each catalog query, from each module's `queries`. */
  lazy val modules: Seq[(String, Seq[Q])] = {
    import graft.{ops => o, scale => c, yelp => y}
    Seq(
      "RelationalQueries" -> o.RelationalQueries.queries,
      "ScalarQueries" -> o.ScalarQueries.queries,
      "PipelineQueries" -> o.PipelineQueries.queries,
      "AdvancedQueries" -> o.AdvancedQueries.queries,
      "TemporalJoins" -> o.TemporalJoins.queries,
      "StatsQueries" -> o.StatsQueries.queries,
      "InferenceQueries" -> o.InferenceQueries.queries,
      "AgreementQueries" -> o.AgreementQueries.queries,
      "EvalQueries" -> o.EvalQueries.queries,
      "FeatureQueries" -> o.FeatureQueries.queries,
      "TypedAndSources" -> o.TypedAndSources.queries,
      "SpatialQueries" -> o.SpatialQueries.queries,
      "YelpQueries" -> y.YelpQueries.queries,
      "TextOps" -> c.TextOps.queries,
      "Privacy" -> c.Privacy.queries,
      "Dedup" -> c.Dedup.queries,
      "EntityResolution" -> c.EntityResolution.queries,
      "GraphOps" -> c.GraphOps.queries,
      "MinHashSigAgg" -> c.MinHashSigAgg.queries,
      "Multimodal" -> c.Multimodal.queries,
      "Similarity" -> c.Similarity.queries,
      "Sketches" -> c.Sketches.queries,
      "Layout" -> c.Layout.queries)
  }

  def workload(a: Args): Workload = a.workload match {
    case "etl_master" => new EtlMaster(a)
    case "dashboard"  => new Dashboard(a)
    case "headliners" => new Headliners(a)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  // ------------------------------------------------------------- box noise

  /** /proc readings: whole-box busy and steal jiffies, this JVM's CPU. */
  object Proc {
    private def cpuLine: Array[String] =
      Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    def boxBusy(): Long = {
      val f = cpuLine; f(1).toLong + f(2).toLong + f(3).toLong + f(6).toLong + f(7).toLong
    }
    def steal(): Long = { val f = cpuLine; if (f.length > 8) f(8).toLong else 0L }
    def self(): Long = {
      val s = Files.readString(Paths.get("/proc/self/stat"))
      val r = s.substring(s.lastIndexOf(')') + 2).split("\\s+")
      r(11).toLong + r(12).toLong
    }
    def statusKb(key: String): Long =
      Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
        .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    def loadAvg(): Double =
      Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    val UserHz = 100.0
  }

  // ---------------------------------------------------------------- running

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val procStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(Paths.get(a.out))
    val wl = workload(a)
    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionS = mutable.ArrayBuffer.empty[Double]
    val warmErrors = mutable.LinkedHashMap.empty[String, String]
    var setupLayers = Map.empty[String, Double]
    var spark: SparkSession = null
    for (k <- 1 to a.setups) {
      // the first set-up counts from process start (JVM boot included)
      val t0 = now() - (if (k == 1)
        (System.currentTimeMillis() - procStartMs) * 1000000L else 0L)
      val ts = now()
      val s = session(a, wl.inputDir)
      s.sparkContext.setLogLevel("WARN")
      sessionS += secs(ts)
      setupLayers = wl.prepare(s)
      val warm = if (k == 1) wl.coldWarmPasses else 1
      for (w <- 0 until warm; op <- wl.order(-k * 10 - w, a.seed))
        runOp(s, wl.warmOp(op, first = k == 1 && w == 0)).left.foreach(e =>
          warmErrors.getOrElseUpdate(op.name, e))
      setupS += secs(t0)
      if (k < a.setups) { GraftCaches.release(s); s.stop() } else spark = s
    }

    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val records = mutable.ArrayBuffer.empty[OpRecord]
    val results = mutable.LinkedHashMap.empty[String, Json.Raw]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    val box0 = Proc.boxBusy(); val self0 = Proc.self(); val st0 = Proc.steal()
    val load0 = Proc.loadAvg()
    val m0 = now()
    var pass = 0
    while (pass == 0 || secs(m0) < a.seconds || (a.trace && pass < 2)) {
      // traced runs alternate traced and untraced passes
      val traced = tracer.filter(_ => pass % 2 == 0)
      traced.foreach(_.install())
      val opSpans = mutable.ArrayBuffer.empty[(OpRecord, Long, Long, Seq[Tracer.PlanSpan])]
      wl.order(pass, a.seed).zipWithIndex.foreach { case (op, i) =>
        val id = s"p$pass.o$i.${op.name}"
        spark.sparkContext.setLocalProperty(Tracer.OpKey, id)
        val w0 = System.currentTimeMillis()
        val t0 = now()
        val out = runOp(spark, op)
        val dt = secs(t0)
        val w1 = System.currentTimeMillis()
        spark.sparkContext.setLocalProperty(Tracer.OpKey, null)
        val rec = OpRecord(pass, i, op.name, dt, out.left.toOption,
          out.toOption.flatMap(render(_, results)))
        records += rec
        traced.foreach(t => opSpans += ((rec, w0, w1, t.drain())))
      }
      val passRecs = records.filter(_.pass == pass)
      passes += Map("pass" -> pass, "traced" -> traced.isDefined,
        "seconds" -> passRecs.map(_.seconds).sum)
      traced.foreach { t =>
        t.uninstall()
        val (m, js) = passLayers(t, opSpans.toSeq, a.cpus, wl.name)
        layers += m
        spans += js
      }
      pass += 1
    }
    val measureS = secs(m0)
    val box1 = Proc.boxBusy(); val self1 = Proc.self(); val st1 = Proc.steal()

    val conf = spark.conf.getAll ++ Seq(
      "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.files.maxPartitionBytes",
      "spark.master").map(k => k -> scala.util.Try(spark.conf.get(k)).getOrElse(""))
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> a.seed, "cpus" -> a.cpus,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "conf" -> conf.toSeq.sortBy(_._1).toMap,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toDouble,
      "setup_s" -> setupS.toSeq, "session_start_s" -> sessionS.toSeq,
      "setup_layers" -> setupLayers,
      "warm_errors" -> warmErrors.toMap,
      "measure_s" -> measureS,
      "passes" -> passes.toSeq,
      "ops" -> records.toSeq.map(r => Map("pass" -> r.pass, "index" -> r.index,
        "name" -> r.name, "seconds" -> r.seconds, "error" -> r.error,
        "result" -> r.result)),
      "results" -> results.toMap,
      "layers" -> layers.toSeq,
      "box" -> Map(
        "loadavg_start" -> load0, "loadavg_end" -> Proc.loadAvg(),
        "ext_cores" -> math.max(0.0, (box1 - box0 - (self1 - self0)) / Proc.UserHz / measureS),
        "steal_cores" -> (st1 - st0) / Proc.UserHz / measureS,
        "self_cores" -> (self1 - self0) / Proc.UserHz / measureS),
      "peak_rss_mb" -> Proc.statusKb("VmHWM") / 1024.0)
    Files.writeString(Paths.get(a.out, "runner.json"), Json(report))
    if (a.trace)
      Files.writeString(Paths.get(a.out, "trace.json"), Json(Map("run" -> Map(
        "span" -> "run", "workload" -> wl.name, "seed" -> a.seed, "passes" -> spans))))
    GraftCaches.release(spark)
    spark.stop()
  }

  private def runOp(s: SparkSession, op: Op): Either[String, Outcome] =
    try Right(op.run(s))
    catch { case e: Throwable =>
      Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
    }

  /** Canonical JSON of a collected result (rows sorted); returns its
    * digest and keeps one copy per distinct digest. */
  private def render(o: Outcome, results: mutable.Map[String, Json.Raw]): Option[String] =
    o match {
      case Rows(cols, rows) =>
        val body = s"""{"columns":${Json(cols)},"rows":""" +
          rows.map(r => Json(r.toSeq)).sorted.mkString("[", ",", "]") + "}"
        val md = java.security.MessageDigest.getInstance("SHA-256")
        val d = md.digest(body.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
        results.getOrElseUpdate(d, Json.Raw(body))
        Some(d)
      case Written(p) => Some(p)
      case Sunk => None
    }

  /** Layer numbers of one traced pass, and its span tree. */
  def passLayers(t: Tracer, ops: Seq[(OpRecord, Long, Long, Seq[Tracer.PlanSpan])],
      cpus: Int, workload: String): (Map[String, Double], Map[String, Any]) = {
    val m = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val opSpans = ops.map { case (r, w0, w1, plans) =>
      val id = s"p${r.pass}.o${r.index}.${r.name}"
      val jobs = t.jobsOf(id)
      val stages = t.stagesOf(id)
      val busy = Tracer.covered(stages.map(s => (s.submitMs, s.completeMs)), w0, w1)
      val gap = math.max(0.0, r.seconds - busy / 1000.0)
      for (p <- plans; (ph, ms) <- p.phasesMs) m(s"catalyst.${ph}_ms") += ms
      m("exec.jobs") += jobs.size
      m("exec.stages") += stages.size
      m("exec.tasks") += stages.map(_.tasks).sum
      m("exec.task_run_s") += stages.map(_.runMs).sum / 1000.0
      m("exec.task_cpu_s") += stages.map(_.cpuNs).sum / 1e9
      m("exec.gc_s") += stages.map(_.gcMs).sum / 1000.0
      m("exec.input_mb") += stages.map(_.inputBytes).sum / 1e6
      m("exec.shuffle_write_mb") += stages.map(_.shuffleWriteBytes).sum / 1e6
      m("exec.shuffle_read_mb") += stages.map(_.shuffleReadBytes).sum / 1e6
      m("exec.spill_mb") += stages.map(_.spillBytes).sum / 1e6
      m("exec.driver_gap_s") += gap
      m("pass_s") += r.seconds
      workload match {
        case "dashboard" => m(s"analytics.${r.name}_s") += r.seconds
        case "headliners" =>
          m(s"query.${r.name}_s") += r.seconds
          modules.find(_._2.exists(_.name == r.name)).foreach { case (mod, _) =>
            m(s"module.${mod}_s") += r.seconds
          }
        case "etl_master" =>
          // the job that commits files is the op's last; its final stage writes
          jobs.lastOption.flatMap(j => stages.filter(_.jobId == j.jobId)
            .maxByOption(_.completeMs)).foreach(s =>
            m("master.write_s") += (s.completeMs - s.submitMs) / 1000.0)
        case _ =>
      }
      def stageSpan(s: Tracer.StageSpan) = Map(
        "span" -> "stage", "op" -> id, "stage_id" -> s.stageId, "attempt" -> s.attempt,
        "name" -> s.name, "tasks" -> s.tasks, "start_ms" -> s.submitMs,
        "end_ms" -> s.completeMs, "task_run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
        "gc_ms" -> s.gcMs, "input_bytes" -> s.inputBytes,
        "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "shuffle_read_bytes" -> s.shuffleReadBytes, "spill_bytes" -> s.spillBytes,
        "failed" -> s.failed)
      Map("span" -> "op", "op" -> id, "name" -> r.name, "start_ms" -> w0,
        "end_ms" -> w1, "seconds" -> r.seconds, "self_s" -> gap, "error" -> r.error,
        "catalyst" -> plans.map(p => Map("span" -> "catalyst", "op" -> id,
          "func" -> p.funcName, "phases_ms" -> p.phasesMs)),
        "jobs" -> jobs.map(j => Map("span" -> "job", "op" -> id, "job_id" -> j.jobId,
          "start_ms" -> j.startMs, "end_ms" -> j.endMs,
          "stages" -> stages.filter(_.jobId == j.jobId).map(stageSpan))))
    }
    val wall = m("pass_s")
    m("exec.core_util") = if (wall > 0) m("exec.task_run_s") / (wall * cpus) else 0.0
    val pass = ops.headOption.map(_._1.pass).getOrElse(-1)
    (m.toMap, Map("span" -> "pass", "pass" -> pass, "seconds" -> wall, "ops" -> opSpans))
  }
}
