package graft.sources.dns

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.dns.write.DnsOverwriteStaged

/** The write side's one reading of zone state (`snapshot`) and its one
  * zone replace (`DnsOverwriteStaged.merge` + `replaceZones`), against
  * stub clients — no server, no Spark. */
class ZoneSnapshotSpec extends AnyFunSuite {

  /** Answers every transfer with `result`, recording each request. */
  private final class StubClient(result: String => TransferResult) extends ZoneTransferClient {
    val requests = scala.collection.mutable.ArrayBuffer.empty[(String, Long, XfrType)]
    override def transfer(zone: String, serial: Long, xfr: XfrType,
                          timeoutSec: Int): TransferResult = {
      requests += ((zone, serial, xfr))
      result(zone)
    }
  }

  /** Records every overwrite instead of sending it. */
  private final class RecordingEmitter extends UpdateEmitter {
    val overwrites = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[String], Seq[DnsUpdateRecord])]
    override def update(zone: String, changes: Seq[DnsUpdateRecord]): Unit =
      fail(s"replace must not send a plain update (zone $zone)")
    override def overwrite(zone: String, wipeNames: Seq[String],
                           adds: Seq[DnsUpdateRecord]): Unit =
      overwrites += ((zone, wipeNames, adds))
  }

  private val delta = IxfrResult(9, Seq(IxfrDelta(8, 9,
    adds = Seq(ARecord("new.z.acme.", "10.0.0.9")), deletes = Nil)))

  private def add(fqdn: String, ip: String, ts: Long) =
    DnsUpdateRecord(DnsAction.IxfrAdd, fqdn, ip, ts, 60)

  test("snapshot is a serial-0 AXFR and throws on a delta reply") {
    val ok = new StubClient(_ => AxfrResult(3, Seq(ARecord("a.z.acme.", "10.0.0.1"))))
    assert(ok.snapshot("z.acme.", 5) == Seq(ARecord("a.z.acme.", "10.0.0.1")))
    assert(ok.requests == Seq(("z.acme.", 0L, XfrType.AXFR)))
    val e = intercept[IllegalStateException](new StubClient(_ => delta).snapshot("z.acme.", 5))
    assert(e.getMessage.contains("refusing to treat a delta as zone state"), e.getMessage)
    assert(e.getMessage.contains("z.acme."), e.getMessage)
  }

  test("replaceZones throws on a delta reply before the emitter is called") {
    val emitter = new RecordingEmitter
    intercept[IllegalStateException] {
      DnsOverwriteStaged.replaceZones(new StubClient(_ => delta), emitter, 5,
        Seq("z.acme."), Map("z.acme." -> Seq(add("a.z.acme.", "10.0.0.1", 1L))))
    }
    assert(emitter.overwrites.isEmpty)
  }

  test("replaceZones: sorted zones, distinct snapshot names, an absent zone is emptied") {
    val client = new StubClient({
      case "a.acme." => AxfrResult(1, Seq(ARecord("x.a.acme.", "10.0.0.1"),
        ARecord("x.a.acme.", "10.0.0.2"), ARecord("y.a.acme.", "10.0.0.3")))
      case _ => AxfrResult(1, Nil)
    })
    val emitter = new RecordingEmitter
    val content = Seq(add("n.b.acme.", "10.1.0.1", 1L))
    DnsOverwriteStaged.replaceZones(client, emitter, 5, Seq("b.acme.", "a.acme."),
      Map("b.acme." -> content))
    assert(emitter.overwrites == Seq(
      ("a.acme.", Seq("x.a.acme.", "y.a.acme."), Nil),
      ("b.acme.", Nil, content)))
  }

  test("merge: last write wins across tasks; one task's deduped content keeps its order") {
    val t1 = DnsOverwriteStaged(Seq("z." -> Seq(add("b.z.", "10.0.0.2", 2L), add("a.z.", "10.0.0.1", 5L))))
    val t2 = DnsOverwriteStaged(Seq("z." -> Seq(add("b.z.", "10.0.0.2", 7L))))
    assert(DnsOverwriteStaged.merge(Array(t1, t2)) ==
      Map("z." -> Seq(add("a.z.", "10.0.0.1", 5L), add("b.z.", "10.0.0.2", 7L))))
    val one = LwwDedup(Seq(add("c.z.", "10.0.0.3", 3L), add("a.z.", "10.0.0.1", 1L),
      add("c.z.", "10.0.0.3", 9L)))
    assert(DnsOverwriteStaged.merge(Array(DnsOverwriteStaged(Seq("z." -> one)))) == Map("z." -> one))
  }
}
