package graft

import org.apache.spark.sql.SparkSession

/** The one place a local engine session is configured, plus the
  * volume-aware sizing it applies.
  *
  * Volume-aware session sizing — the "no manual knob" closure of the
  * round-9 100× probe finding: `spark.sql.shuffle.partitions` pinned
  * at core count is right for sf0.1 but super-linear at 100× (the
  * q_yelp_master_volume 178× blow-up was fully root-caused to 1.2 B
  * amplified rows hash-aggregating across 32 partitions — ~37 M rows
  * per partition, all spill). AQE can COALESCE an over-partitioned
  * shuffle at runtime but can never SPLIT an under-partitioned one,
  * so the initial value must scale with input volume.
  *
  * The rule is calibrated by measurement, not guesswork: the probe
  * measured partitions=256 linear (94× runtime for 100× data) on a
  * 1.61 GB compressed input — ≈6 MiB of compressed scan bytes per
  * shuffle partition. On a real cluster the same rule holds with the
  * numerator from the scan estimate and the constant scaled to
  * executor-memory budget; here the input dir IS the scan set, so
  * its on-disk footprint is the estimate (compressed parquet, the
  * same thing Spark's own `files.maxPartitionBytes` reasons about).
  */
object GraftSession {

  /** The shared engine config for a `local[cpus]` session about to read
    * `sfDir`: volume-derived shuffle partitions, AQE on with the
    * [[aqeMinPartitionSize]] coalesce floor, UTC session timezone, UI
    * off. `Bench`, `Verify`, the tools and the test session all build
    * from this; a caller adds only what differs for it. */
  def settings(cpus: Int, sfDir: String): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> shufflePartitions(sfDir, cpus).toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
      aqeMinPartitionSize,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** A session builder carrying [[settings]]; callers chain their own
    * `appName` and overrides, then `getOrCreate()`. */
  def local(cpus: Int, sfDir: String): SparkSession.Builder =
    SparkSession.builder().config(settings(cpus, sfDir))

  /** Compressed-input bytes that one shuffle partition absorbs while
    * keeping per-partition hash/sort state in memory — measured, see
    * object doc (256 partitions / 1.61 GB probe = linear). */
  val BytesPerShufflePartition: Long = 6L << 20

  /** Upper clamp: beyond this, per-partition scheduling overhead
    * dominates on any single driver; a 1000-executor deployment
    * re-derives the constant from executor memory instead. */
  val MaxShufflePartitions: Int = 32768

  /** Total on-disk bytes under `dir` (0 if missing/unreadable). */
  def dirBytes(dir: String): Long = {
    val root = new java.io.File(dir)
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    if (root.exists()) walk(root) else 0L
  }

  /** The pure sizing rule: max(cpus, inputBytes / 6 MiB), clamped to
    * [[MaxShufflePartitions]]. */
  def derive(inputBytes: Long, cpus: Int): Int =
    math.min(MaxShufflePartitions.toLong,
      math.max(cpus.toLong, inputBytes / BytesPerShufflePartition)).toInt

  /** Shuffle-partition count for a session about to read `sfDir`:
    * [[derive]] of the dir's footprint. At sf0.1 (17.5 MB) this stays
    * at the core count — the pinned official-bench config — and at the
    * 100× probe (1.61 GB) it derives ~255 with no knob. */
  def shufflePartitions(sfDir: String, cpus: Int): Int =
    derive(dirBytes(sfDir), cpus)

  /** AQE post-shuffle coalesce floor (r18, guide §2 "make partitioning
    * scale-adaptive"). With the default `parallelismFirst=true` AQE
    * targets max(totalBytes/defaultParallelism, minPartitionSize); the
    * stock 1 MB floor collapses every sub-32 MB exchange below the
    * core count — at sf0.1 the SCD2/window/sessionize reduce stages ran
    * as 1–2 tasks on a 32-core box (measured: q_upsert_scd2 1.47 →
    * 0.79 s isolated at 64k). At production volumes post-shuffle partitions are
    * ≫ 1 MB and the floor is inert either way, so this knob only
    * restores parallelism where the data is small relative to the
    * cluster — it can never under-size a large shuffle (that is
    * [[derive]]'s job on the initial partition count).
    * (`parallelismFirst=false` — coalescing to the 64 MB advisory size
    * — was measured 2–4× WORSE here: it serializes compute-bound
    * post-shuffle stages exactly as the parallelismFirst scaladoc
    * warns.)
    *
    * The default is 256k, picked by a three-way FULL-BENCH comparison
    * (r18, same code, quiet windows): in-sequence totals 1m = 35.10,
    * 64k = 33.06, 256k = 31.66 pass-2 seconds — 64k maximally
    * parallelizes but pays the ~tens-of-ms/task local constant on
    * many-tiny-stage queries (isolated q_dedup_minhash_lsh 1.01 →
    * 2.06 s at 64k!), 1m serializes the compute-bound reduce stages;
    * 256k holds both ends (OPTIMIZATION_r18.md has the full table). */
  val aqeMinPartitionSize: String = "256k"
}
