package graft.sources.dns

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end DNS replication — the reference's marquee scenario: a
  * streaming read of one server's change log feeds dynamic updates to
  * another, converging the replica. Exercises both connectors, action
  * mapping (AXFR/IXFR_ADD → add, IXFR_DELETE → delete), and streaming
  * resume across incremental changes. */
class ReplicationSpec extends AnyFunSuite {
  import Loopback.withServer
  private lazy val spark = graft.SparkTestSession.spark

  test("dns -> dns_update streaming pipeline converges the replica") {
    withServer { srcWire => withServer { dstWire =>
      val (src, dst) = (srcWire.backing, dstWire.backing)
      src.addZone("repl.zone.", Seq(
        ARecord("a.repl.zone.", "10.9.0.1"),
        ARecord("b.repl.zone.", "10.9.0.2")))
      dst.addZone("repl.zone.", Nil)

      val ck = Files.createTempDirectory("repl-ck").toString

      def replicateOnce(): Unit = {
        val changes = spark.readStream.format("dns")
          .option("server", srcWire.host).option("port", srcWire.port.toString)
          .option("organization", "repl")
          .option("zones", "repl.zone")
          .option("fixed-timestamp-micros", "1723400000000000")
          .load()
        val q = changes
          .select(col("action"), col("fqdn"), col("ip"), col("timestamp"),
            lit(300).cast("int").as("ttl"))
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            batch.write.format("dns_update")
              .option("server", dstWire.host).option("port", dstWire.port.toString)
              .mode("append").save()
          }
          .option("checkpointLocation", ck)
          .trigger(Trigger.Once())
          .start()
        q.awaitTermination(120000)
      }

      replicateOnce() // initial AXFR replicates the full zone
      assert(dst.lookup("a.repl.zone.") == Seq("10.9.0.1"))
      assert(dst.lookup("b.repl.zone.") == Seq("10.9.0.2"))

      // mutate the source; the next run ships only the IXFR delta
      src.update("repl.zone.",
        Seq(ARecord("c.repl.zone.", "10.9.0.3")),
        Seq(ARecord("a.repl.zone.", "10.9.0.1")))
      val dstSerialAfterFull = dst.serialOf("repl.zone.")

      replicateOnce()
      assert(dst.lookup("a.repl.zone.").isEmpty)   // delete propagated
      assert(dst.lookup("b.repl.zone.") == Seq("10.9.0.2"))
      assert(dst.lookup("c.repl.zone.") == Seq("10.9.0.3")) // add propagated
      // the delta run applied exactly one more update message
      assert(dst.serialOf("repl.zone.") == dstSerialAfterFull + 1)
    }}
  }
}
