package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Per-operation spans from Spark's public listener interfaces.
  *
  * The runner tags every job of an operation with the local property
  * [[Tracer.OpKey]]; jobs and stages find their operation through the
  * job's properties. Catalyst phase times arrive through a
  * `QueryExecutionListener`, which carries no properties, so after each
  * operation [[drain]] runs a one-task marker job and waits for its end
  * event: the listener bus delivers a queue's events in order, so every
  * event the operation posted has been seen by then. All spans stay in
  * memory until the run writes them out.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val jobs = mutable.ArrayBuffer.empty[JobSpan]
  private val stages = mutable.ArrayBuffer.empty[StageSpan]
  private val stageOwner = mutable.Map.empty[Int, (String, Int)]
  private val pendingPlans = mutable.ArrayBuffer.empty[PlanSpan]
  private var markerSeen = 0L
  private var markerSeq = 0L

  def install(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    drain()
    spark.listenerManager.unregister(this)
    sc.removeSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
      .getOrElse("")
    jobs += JobSpan(e.jobId, op, e.time, -1L, e.stageIds)
    e.stageIds.foreach(id => if (!stageOwner.contains(id))
      stageOwner(id) = (op, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val i = jobs.lastIndexWhere(_.jobId == e.jobId)
    if (i >= 0) {
      val j = jobs(i).copy(endMs = e.time)
      jobs(i) = j
      if (j.op.startsWith(Marker)) {
        markerSeen = math.max(markerSeen, j.op.stripPrefix(Marker).toLong)
        notifyAll()
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val (op, job) = stageOwner.getOrElse(i.stageId, ("", -1))
      val m = i.taskMetrics
      stages += StageSpan(i.stageId, i.attemptNumber(), op, job,
        i.name, i.numTasks,
        i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L),
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.jvmGCTime,
        if (m == null) 0L else m.inputMetrics.bytesRead,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.diskBytesSpilled,
        i.failureReason.isDefined)
    }

  private def plan(funcName: String, qe: QueryExecution, ok: Boolean): Unit =
    synchronized {
      pendingPlans += PlanSpan(funcName, ok,
        qe.tracker.phases.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs) })
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = plan(funcName, qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = plan(funcName, qe, ok = false)

  /** Block until every event posted so far has been delivered, then
    * hand back the Catalyst phase spans that arrived since the last
    * drain (they belong to the operation that just ended). */
  def drain(): Seq[PlanSpan] = {
    val id = synchronized { markerSeq += 1; markerSeq }
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, s"$Marker$id")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(OpKey, prev)
    synchronized {
      val deadline = System.currentTimeMillis() + DrainTimeoutMs
      while (markerSeen < id && System.currentTimeMillis() < deadline)
        wait(100)
      require(markerSeen >= id, "listener bus did not drain")
      val out = pendingPlans.toList
      pendingPlans.clear()
      out
    }
  }

  def jobsOf(op: String): Seq[JobSpan] = synchronized(jobs.filter(_.op == op).toList)
  def stagesOf(op: String): Seq[StageSpan] = synchronized(stages.filter(_.op == op).toList)
}

object Tracer {
  val OpKey = "perfbench.op"
  val Marker = "perfbench.marker."
  val DrainTimeoutMs = 30000L

  final case class JobSpan(jobId: Int, op: String, startMs: Long, endMs: Long,
      stageIds: Seq[Int])

  final case class StageSpan(stageId: Int, attempt: Int, op: String, jobId: Int,
      name: String, tasks: Int, submitMs: Long, completeMs: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, inputBytes: Long,
      shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
      failed: Boolean)

  final case class PlanSpan(funcName: String, ok: Boolean, phasesMs: Map[String, Long])

  /** Length of the union of [start, end) intervals, clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }
}
