package graft.tools

/** Scale-stress runner for the streaming/arbitrary-state gate keys:
  * runs each named key (from `SparkEntry.queries`) warm + N timed
  * passes against an SF dir (base testdata or a `Scale10` replica) and
  * prints, per timed run, wall seconds plus the state facts the replay
  * reported — batches, total state rows, state memory, and the RocksDB
  * size metrics when that provider ran — so the "state absorbs the
  * scale" claim carries measured state SIZE, not just wall time.
  * q_cdc_stream keeps its state in a versioned parquet table rather
  * than a state store; for it the final state version's bytes on disk
  * are reported instead.
  *
  * Usage: runMain graft.tools.StreamScale <sfDir> <key> [key...]
  */
object StreamScale {
  def main(args: Array[String]): Unit = {
    // Measure REPLAYS: the gate keys stage their replay once per JVM
    // and read back (bench/Verify discipline); this tool exists to
    // time the replay itself at scale, so every call re-runs it.
    System.setProperty("graft.fresh.replays", "1"): Unit
    val dir = args(0)
    // every name resolves (or fails by name) before Spark starts
    val keys = args.drop(1).toSeq.map(k => k -> graft.SparkEntry.query(k))
    require(keys.nonEmpty, "usage: StreamScale <sfDir> <key> [key...]")
    // replaySession copies spark.sql.streaming.* confs from this session,
    // so a SPARK_GRAFT_CONF overlay can force e.g. the RocksDB provider
    // onto replays that default to HDFS
    val spark = graft.Session.create()

    def duBytes(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(duBytes).sum).getOrElse(0L)
      else f.length()

    keys.foreach { case (key, fn) =>
      (0 to 2).foreach { pass =>
        val tag = if (pass == 0) "warm" else s"timed$pass"
        graft.streaming.StreamingOps.lastReplayProgress = Nil
        val t0 = System.nanoTime()
        val n = fn(spark, dir).count()
        val secs = (System.nanoTime() - t0) / 1e9
        val prog = graft.streaming.StreamingOps.lastReplayProgress
        val stateOps = prog.flatMap(_.stateOperators.toSeq)
        val lastOps = prog.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
        val rows = lastOps.map(_.numRowsTotal).sum
        val mem = lastOps.map(_.memoryUsedBytes).sum
        val rocksBytes = lastOps.flatMap { op =>
          import scala.jdk.CollectionConverters._
          op.customMetrics.asScala.collect {
            case (k, v) if k == "rocksdbSstFileSize" || k == "rocksdbTotalMemoryUsageBytes" =>
              (k, v.longValue())
          }
        }.groupMapReduce(_._1)(_._2)(_ + _)
        val cdcBytes =
          if (key == "q_cdc_stream") {
            val base = new java.io.File(graft.queries.Scratch.dir("cdc_stream_state", dir))
            Option(base.listFiles()).flatMap(_.sortBy(_.getName).lastOption)
              .map(duBytes).getOrElse(0L)
          } else 0L
        println(f"STREAMSCALE $key $tag%-7s ${secs}%8.2f s rows=$n " +
          f"batches=${prog.size} stateRows=$rows stateMemB=$mem " +
          f"updatedRows=${stateOps.map(_.numRowsUpdated).sum} " +
          rocksBytes.map { case (k, v) => s"$k=$v" }.mkString(" ") +
          (if (cdcBytes > 0) s" cdcStateBytes=$cdcBytes" else ""))
      }
    }
    spark.stop()
  }
}
