package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Ad-hoc profiler for the streaming gate keys: runs the stream-stream
  * interval join replay and dumps per-batch progress JSON (batch count,
  * durationMs breakdown, state-store metrics) so the fixed costs are
  * attributed instead of guessed. Usage:
  *   runMain graft.tools.StreamProf <sfDir>
  * Shuffle partitions and no-data micro-batches are set through the
  * `SPARK_GRAFT_CONF` overlay, e.g.
  * `spark.sql.shuffle.partitions=32;spark.sql.streaming.noDataMicroBatches.enabled=false`.
  */
object StreamProf {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.Session.create()

    // warmup + timed, mirroring Bench
    def run(tag: String): Unit = {
      val joined = graft.streaming.StreamingOps.purchaseErrorJoin(
        graft.streaming.StreamingOps.eventsStream(spark, s"$dir/events.parque[t]"))
      val t0 = System.nanoTime()
      val q = joined
        .select(col("user_id"), col("purchase_id"), col("error_id"),
          unix_micros(col("p_ts")).as("p_ts_us"), unix_micros(col("e_ts")).as("e_ts_us"))
        .writeStream.outputMode(OutputMode.Append()).format("memory")
        .queryName(s"prof_join_$tag").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val n = spark.table(s"prof_join_$tag").count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"RUN $tag parts=${spark.conf.get("spark.sql.shuffle.partitions")} total=$secs%.2f s rows=$n batches=${q.recentProgress.length}")
      q.recentProgress.foreach(p => println(p.json))
    }
    run("warm")
    run("timed")
    spark.stop()
  }
}
