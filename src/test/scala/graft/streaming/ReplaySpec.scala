package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The run-to-end harness: a stuck replay is stopped and fails by name,
  * a failing batch surfaces its cause, and the progress of a replay run
  * on a cloned session reaches a SparkContext listener (what
  * StreamScale reads). */
class ReplaySpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  /** A one-file directory of ids 0..9 for the file-stream source. */
  private lazy val inputDir: String = {
    val d = java.nio.file.Files.createTempDirectory("replay-spec").resolve("in").toString
    spark.range(10).coalesce(1).write.parquet(d)
    d
  }
  private val schema = StructType(Seq(StructField("id", LongType)))

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("a replay past its bound is stopped and fails naming the replay") {
    val w = spark.readStream.schema(schema).parquet(inputDir).writeStream
      .foreachBatch((_: DataFrame, _: Long) => Thread.sleep(120000))
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](Replay.run("stuck_replay", w, timeoutMs = 1500))
    assert(e.getMessage.contains("stuck_replay"), e.getMessage)
    assert(spark.streams.active.isEmpty, "the timed-out query is still running")
    assert((System.nanoTime() - t0) / 1e9 < 60, "stopping the query took the sleep's full length")
  }

  test("a batch that throws fails the replay with the batch's exception as cause") {
    val w = spark.readStream.schema(schema).parquet(inputDir).writeStream
      .foreachBatch { (_: DataFrame, _: Long) =>
        throw new IllegalArgumentException("boom in batch")
      }
    val e = intercept[IllegalStateException](Replay.run("failing_replay", w))
    assert(e.getMessage.contains("failing_replay"), e.getMessage)
    assert(causes(e).exists(c =>
      c.isInstanceOf[IllegalArgumentException] && c.getMessage == "boom in batch"),
      causes(e).map(_.toString).mkString("\n"))
    assert(spark.streams.active.isEmpty)
  }

  test("a context listener sees the progress of a replay run on a cloned session") {
    val listener = new graft.tools.StreamScale.ProgressListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val s2 = Replay.session(spark, noDataBatches = false)
      val out = Replay.memory("replay_spec_progress",
        s2.readStream.schema(schema).parquet(inputDir).writeStream.outputMode("append"))
      assert(out.count() == 10)
      val progress = listener.take(spark.sparkContext)
        .filter(_.name == "replay_spec_progress")
      assert(progress.nonEmpty, "no progress captured from the cloned session")
      assert(progress.map(_.numInputRows).sum == 10)
      assert(listener.take(spark.sparkContext).isEmpty, "take must drain")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
