package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The dump loop shared by Verify and `Probe hostile` names every
  * failing query in its artifact instead of leaving a missing dir. */
class VerifySpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  test("a query that throws is listed under failures; the rest still dump") {
    val out = Files.createTempDirectory("verify_dump").toString
    val good = SparkEntry.catalog.find(_.name == "q_join_mktsegment").get
    val boom = Q("q_boom", (_, _) => throw new IllegalStateException("boom\tat x"), None)
    val failures = Verify.dump(spark, sf, out, Seq(boom, good))
    assert(failures === Map("q_boom" -> "IllegalStateException: boom\tat x"))
    assert(Files.exists(Paths.get(out, "q_join_mktsegment", "_SUCCESS")))
    val times = Files.readString(Paths.get(out, "verify_times.json"))
    assert(times.startsWith(s"""{"sf":"$sf","times":{"q_boom":"""), times)
    assert(times.contains(""","q_join_mktsegment":"""), times)
    assert(times.endsWith(
      """"failures":{"q_boom":"IllegalStateException: boom\tat x"}}"""), times)
    val oracles = Files.readString(Paths.get(out, "oracle_sql.json"))
    assert(oracles.startsWith("""{"q_join_mktsegment":"""), oracles)
  }
}
