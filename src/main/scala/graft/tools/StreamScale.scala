package graft.tools

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Scale-stress runner for the streaming gate keys (the pipeline's
  * streaming and arbitrary-state keys and the DNS stream keys): runs
  * each named key (from `SparkEntry.queries`) warm + 2 timed passes
  * against an SF dir (base testdata or a `Scale10` replica) with every
  * replay re-run rather than read back from its staged artifact, and
  * prints, per run, wall seconds plus the state facts the replays
  * reported — batches, total state rows, state memory, and the RocksDB
  * size metrics when that provider ran — so the "state absorbs the
  * scale" claim carries measured state SIZE, not just wall time. Each
  * captured `StreamingQueryProgress` follows as one `PROGRESS` JSON
  * line (per-trigger `durationMs` phases, state operators, source
  * metrics such as the dns source's transfer counters).
  * q_cdc_stream keeps its state in a versioned parquet table rather
  * than a state store; for it the final state version's bytes on disk
  * are reported instead.
  *
  * Usage: runMain graft.tools.StreamScale <sfDir> <key> [key...]
  */
object StreamScale {

  /** Collects the progress of every streaming query run on a
    * SparkContext, whichever session started it: each query posts its
    * `QueryProgressEvent`s on the context's listener bus, where
    * `onOtherEvent` sees them. (A `StreamingQueryListener` on one
    * session's `spark.streams` sees only that session's queries, and
    * the replays run on cloned sessions.) */
  final class ProgressListener extends SparkListener {
    private val seen =
      new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    private val fences = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => seen.add(p.progress): Unit
      case _ =>
    }

    override def onJobStart(j: SparkListenerJobStart): Unit =
      Option(j.properties).flatMap(p => Option(p.getProperty(FenceKey)))
        .foreach(fences.add)

    /** Every progress posted before this call, removed from the
      * listener. Listeners receive events asynchronously but in order,
      * so this runs a one-task fence job and waits until its start
      * has been delivered: every earlier event has then been seen. */
    def take(sc: SparkContext): Seq[StreamingQueryProgress] = {
      val token = java.util.UUID.randomUUID().toString
      sc.setLocalProperty(FenceKey, token)
      try sc.parallelize(Seq(0), 1).count(): Unit
      finally sc.setLocalProperty(FenceKey, null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!fences.contains(token) && System.nanoTime() < deadline) Thread.sleep(10)
      require(fences.remove(token), "listener bus did not deliver the fence job within 30 s")
      Iterator.continually(seen.poll()).takeWhile(_ != null).toSeq
    }
  }

  private val FenceKey = "graft.streamscale.fence"

  def main(args: Array[String]): Unit = {
    // Measure REPLAYS: the gate keys stage their replay once per JVM
    // and read back (bench/Verify discipline); this tool exists to
    // time the replay itself at scale, so every call re-runs it.
    System.setProperty("graft.fresh.replays", "1"): Unit
    val dir = args(0)
    // every name resolves (or fails by name) before Spark starts
    val keys = args.drop(1).toSeq.map(k => k -> graft.SparkEntry.query(k))
    require(keys.nonEmpty, "usage: StreamScale <sfDir> <key> [key...]")
    // Replay.session copies spark.sql.streaming.* confs from this
    // session, so a SPARK_GRAFT_CONF overlay can force e.g. the RocksDB
    // provider onto replays that default to HDFS
    val spark = graft.Session.create()
    val progress = new ProgressListener
    spark.sparkContext.addSparkListener(progress)

    def duBytes(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(duBytes).sum).getOrElse(0L)
      else f.length()

    keys.foreach { case (key, fn) =>
      (0 to 2).foreach { pass =>
        val tag = if (pass == 0) "warm" else s"timed$pass"
        val t0 = System.nanoTime()
        val n = fn(spark, dir).count()
        val secs = (System.nanoTime() - t0) / 1e9
        val prog = progress.take(spark.sparkContext)
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
        prog.foreach(p => println(s"PROGRESS $key $tag ${p.json}"))
      }
    }
    spark.stop()
  }
}
