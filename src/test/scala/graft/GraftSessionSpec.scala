package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the volume-derived shuffle-partition rule (round 10): the
  * q_yelp_master_volume 100× super-linearity was root-caused to a
  * PINNED partition count, so the fix must be a rule, not a knob —
  * and the rule's two calibration points are load-bearing: the
  * official sf0.1 bench config must stay at core count, and the 100×
  * probe volume must derive hundreds of partitions unprompted. */
class GraftSessionSpec extends AnyFunSuite {

  test("official config preserved: sf0.1-sized input at 32 cpus " +
      "derives exactly the core count") {
    // 17.5 MB / 6 MiB ≈ 2 — the cpus floor wins
    assert(GraftSession.derive(17508506L, 32) === 32)
    assert(GraftSession.derive(0L, 32) === 32)
  }

  test("100x-probe-sized input derives hundreds of partitions with " +
      "no manual knob (the measured-linear regime)") {
    // the round-9 probe measured partitions=256 linear at 1.61 GB
    val p = GraftSession.derive(1609435571L, 32)
    assert(p >= 200 && p <= 320, s"derived $p")
  }

  test("rule is monotone in volume and clamped") {
    val at10x = GraftSession.derive(160829169L, 32)
    val at100x = GraftSession.derive(1609435571L, 32)
    assert(at10x <= at100x)
    assert(GraftSession.derive(Long.MaxValue / 4, 32) ===
      GraftSession.MaxShufflePartitions)
  }

  test("dirBytes totals the real sf0.01 dir (nonzero, all tables)") {
    val b = GraftSession.dirBytes("/root/testdata/sf0.01")
    assert(b > 1000000L, s"sf0.01 footprint: $b")
    assert(GraftSession.dirBytes("/nonexistent-graft-path") === 0L)
  }

  test("shufflePartitions of the real sf0.1 dir keeps the pinned " +
      "bench config at 32 cpus") {
    assert(GraftSession.shufflePartitions("/root/testdata/sf0.1", 32)
      === 32)
  }

  /** A scale-factor dir next to the test session's sf0.001. */
  private def sfDir(name: String): String =
    new java.io.File(SparkTestSession.sf).toPath.resolveSibling(name).toString

  /** The config every entrypoint built by hand before the factory
    * existed: Bench at sf0.1 on 32 cores, Verify at sf0.01 on 4. */
  private def handBuilt(cpus: Int) = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "256k",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  test("factory settings equal the Bench and Verify configs") {
    assert(GraftSession.settings(32, sfDir("sf0.1")) === handBuilt(32))
    assert(GraftSession.settings(4, sfDir("sf0.01")) === handBuilt(4))
  }

  test("the test session is built by the factory") {
    val spark = SparkTestSession.spark
    GraftSession.settings(4, SparkTestSession.sf).foreach { case (k, v) =>
      assert(spark.conf.get(k) === v, k)
    }
  }

  /** Runs `body` with `kv` set in this JVM's environment map (what
    * `sys.env` reads), restoring the previous values afterwards. */
  private def withEnv[T](kv: (String, String)*)(body: => T): T = {
    val env = System.getenv()
    val field = env.getClass.getDeclaredField("m")
    field.setAccessible(true)
    val m = field.get(env).asInstanceOf[java.util.Map[String, String]]
    val prev = kv.map { case (k, _) => k -> Option(m.get(k)) }
    kv.foreach { case (k, v) => m.put(k, v) }
    try body
    finally prev.foreach { case (k, p) => p.fold(m.remove(k))(m.put(k, _)) }
  }

  test("the retired env overrides change nothing") {
    withEnv("SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "7",
        "SPARK_GRAFT_AQE_MIN_PARTITION" -> "1m") {
      assert(sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") === Some("7"))
      assert(GraftSession.shufflePartitions(sfDir("sf0.1"), 32) === 32)
      assert(GraftSession.aqeMinPartitionSize === "256k")
      assert(GraftSession.settings(32, sfDir("sf0.1")) === handBuilt(32))
    }
  }

  test("GraftSession.scala holds the only SparkSession.builder( in src/main") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val needle = java.util.regex.Pattern.quote("SparkSession.builder(")
    val sites = Files.walk(Paths.get("src/main/scala")).iterator.asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val n = Files.readString(p).split(needle, -1).length - 1
        Seq.fill(n)(p.getFileName.toString)
      }
    assert(sites === Seq("GraftSession.scala"))
  }
}
