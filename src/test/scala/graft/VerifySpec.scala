package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Verify's failures are loud: a failing key is returned (main exits 1
  * naming it) and does not stop the other keys or the oracle file. */
class VerifySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("a failing key is reported and every other key is still dumped") {
    val out = Files.createTempDirectory("graft-verify")
    val queries: Map[String, SparkEntry.Query] = Map(
      "q_good" -> ((s, _) => s.range(3).toDF("id")),
      "q_bad" -> ((_, _) => throw new IllegalStateException("boom")))
    val failed = Verify.dump(spark, "/unused", out.toString, queries,
      Map("q_good" -> "SELECT 1", "q_bad" -> "SELECT 2"), only = Set.empty)
    assert(failed == List("q_bad"))
    val good: Path = out.resolve("q_good")
    assert(Files.list(good).anyMatch(_.getFileName.toString.endsWith(".parquet")))
    assert(spark.read.parquet(good.toString).count() == 3)
    assert(!Files.exists(out.resolve("q_bad")))
    val oracles = Files.readString(out.resolve("oracle_sql.json"))
    assert(oracles.contains("\"q_good\"") && oracles.contains("\"q_bad\""))
  }

  test("one argument is a usage error, not a MatchError") {
    assert(Verify.parseArgs(Array("/sf")).isEmpty)
    assert(Verify.parseArgs(Array.empty).isEmpty)
    assert(Verify.parseArgs(Array("/sf", "/out", "q_a", "q_b")) ==
      Some(("/sf", "/out", Set("q_a", "q_b"))))
    // the main itself: usage on stderr, a non-zero exit, no session
    val proc = new ProcessBuilder(s"${System.getProperty("java.home")}/bin/java",
      "-cp", System.getProperty("java.class.path"), "graft.Verify", "/sf")
      .redirectErrorStream(true).start()
    val printed = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() == 2, printed)
    assert(printed.trim == Verify.Usage, printed)
  }

  test("the name filter skips keys without counting them as failed") {
    val out = Files.createTempDirectory("graft-verify")
    val queries: Map[String, SparkEntry.Query] = Map(
      "q_good" -> ((s, _) => s.range(1).toDF("id")),
      "q_bad" -> ((_, _) => throw new IllegalStateException("boom")))
    assert(Verify.dump(spark, "/unused", out.toString, queries, Map.empty, Set("q_good")).isEmpty)
    assert(Files.exists(out.resolve("q_good")) && !Files.exists(out.resolve("q_bad")))
  }
}
