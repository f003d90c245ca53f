package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RUNTIME-metrics verification — a tier beyond PlanSpec's shape
  * pins: plans prove a `partial_sum` node EXISTS; these tests prove
  * the bytes it saved actually stayed off the wire, by measuring
  * shuffle-write records/bytes through a SparkListener. A regression
  * that keeps the plan shape but breaks the reduction (e.g. a
  * high-cardinality key sneaking into a groupBy, or a broadcast
  * silently degrading to a shuffle join) fails HERE even when every
  * plan assertion still passes.
  *
  * Suites run sequentially in the forked test JVM (no
  * testForkedParallel), so the listener sees only this spec's jobs;
  * the listener bus is asynchronous, so readings poll to stability
  * before asserting.
  */
class MetricsSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  /** (shuffle-write records, bytes, tasks) across all stages of
    * `action`. Task count feeds the record-budget caps: a map-side
    * combine emits at most |groups| partial rows PER TASK, so the
    * environment-independent bound is groups × tasks, not a hard
    * absolute (which broke under legitimate partition-count changes —
    * volume-derived partition counts, larger test SFs). */
  private def shuffleOf(action: => Unit): (Long, Long, Long) = {
    val recs = new java.util.concurrent.atomic.AtomicLong(0)
    val bytes = new java.util.concurrent.atomic.AtomicLong(0)
    val tasks = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onStageCompleted(
          sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          recs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
        tasks.addAndGet(sc.stageInfo.numTasks.toLong)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      // the listener bus is async: poll until readings are stable
      var last = (-1L, -1L, -1L)
      var cur = (recs.get(), bytes.get(), tasks.get())
      var spins = 0
      while (cur != last && spins < 50) {
        Thread.sleep(100); last = cur
        cur = (recs.get(), bytes.get(), tasks.get()); spins += 1
      }
      cur
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("q_agg_pricing shuffles GROUP partials, not rows: map-side " +
      "combine measured at the wire") {
    val inputRows = Tables.lineitem(spark, sf).count()
    val (recs, _, tasks) = shuffleOf {
      SparkEntry.queries("q_agg_pricing")(spark, sf).collect()
    }
    // ≤ 8 (returnflag, linestatus) groups of partials per map task —
    // orders of magnitude under the input rows
    assert(recs > 0, "expected the aggregate to shuffle its partials")
    assert(recs < inputRows / 10,
      s"map-side combine broken: $recs shuffle records for " +
        s"$inputRows input rows")
    assert(recs <= 8L * tasks,
      s"expected ≤ groups×tasks partials, got $recs over $tasks tasks")
  }

  test("q_join_mktsegment broadcasts both dims: only aggregate " +
      "partials cross the wire, never join rows") {
    val lineitems = Tables.lineitem(spark, sf).count()
    val (recs, _, tasks) = shuffleOf {
      SparkEntry.queries("q_join_mktsegment")(spark, sf).collect()
    }
    // the two dimension joins are broadcast (PlanSpec pins the shape);
    // HERE we pin the consequence: shuffle traffic is the 5-segment
    // aggregate's partials, not the joined fact rows
    assert(recs < lineitems / 10,
      s"a join side leaked into the shuffle: $recs records")
    assert(recs <= 8L * tasks,
      s"expected ≤ segments×tasks partials, got $recs over $tasks tasks")
  }

  test("headline aggregates run spill-free at the test SF") {
    val spillMem = new java.util.concurrent.atomic.AtomicLong(0)
    val spillDisk = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onStageCompleted(
          sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          spillMem.addAndGet(m.memoryBytesSpilled)
          spillDisk.addAndGet(m.diskBytesSpilled)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Seq("q_agg_pricing", "q_join_mktsegment", "q_star_join",
        "q_master_pipeline")
        .foreach(n => SparkEntry.queries(n)(spark, sf).collect())
      Thread.sleep(1000) // drain the async bus
      assert(spillMem.get() === 0L && spillDisk.get() === 0L,
        s"unexpected spill: mem=${spillMem.get} disk=${spillDisk.get}" +
          " — partitions no longer fit memory at the test SF")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("guard stays honest: a row-preserving repartition DOES " +
      "shuffle every row") {
    val n = Tables.orders(spark, sf).count()
    val (recs, _, _) = shuffleOf {
      Tables.orders(spark, sf).repartition(4).count()
    }
    // if the measurement machinery under-counted, the two budget
    // tests above would pass vacuously — prove it counts full volume
    assert(recs >= n, s"listener undercounts: $recs < $n")
  }

  test("q_naive_bayes: model tables broadcast — only count partials " +
      "cross the wire, never the test x classes scoring fan") {
    import spark.implicits._
    val events = Tables.events(spark, sf).count()
    val (recs, _, tasks) = shuffleOf {
      SparkEntry.queries("q_naive_bayes")(spark, sf).collect()
    }
    // shuffle content: the model/cell count rollups' partials
    // (each bounded by its group cardinality per task) and the
    // confusion rollup — never events x 5 scored rows
    assert(recs > 0, "expected the count rollups to shuffle partials")
    assert(recs < events,
      s"scoring fan leaked into the shuffle: $recs records for " +
        s"$events events")
    val cellBound = Tables.events(spark, sf)
      .select($"event_type", dayofweek($"ts").cast("long"),
        (($"value".cast("decimal(18,2)") * 100).cast("long")
          / lit(5000)).cast("long"))
      .distinct().count() * 4 + 64
    assert(recs <= cellBound * tasks,
      s"expected <= cells x tasks partials, got $recs over $tasks " +
        s"tasks (cell bound $cellBound)")
  }

  test("q_spatial_join: the POI stencil broadcasts — shuffle carries " +
      "per-POI aggregate partials, never the cell-join fan") {
    val users = Tables.customer(spark, sf).count()
    val pois = Tables.supplier(spark, sf).count()
    val (recs, _, tasks) = shuffleOf {
      SparkEntry.queries("q_spatial_join")(spark, sf).collect()
    }
    assert(recs > 0, "expected the per-POI aggregate to shuffle")
    // the refined-join fan is users-scale; only |POI|-bounded
    // aggregate partials may cross
    assert(recs < users,
      s"join fan leaked into the shuffle: $recs records for " +
        s"$users users")
    assert(recs <= pois * tasks,
      s"expected <= pois x tasks partials, got $recs over $tasks tasks")
  }
}
