package graft.sources.dns

import org.scalatest.funsuite.AnyFunSuite
import DnsWire._

/** Ties the write-side row rules ([[DnsValidation.invalidReason]]) to
  * the wire encoder: for every fqdn/ip shape below, a row with a valid
  * action, timestamp and ttl passes validation exactly when
  * [[DnsWire.encode]] accepts the RFC 2136 update carrying its record.
  * A row the rules let through can then never fail a task at commit,
  * and a row they reject is named in `write()`. Blank and null fields
  * stay outside the equivalence: the rules reject them on purpose
  * (SURVEY §2.3), though a blank name encodes as the root. */
class ValidationWireSpec extends AnyFunSuite {

  /** The update message the writer sends for one row: the name in
    * absolute form under its derived zone, as an add or a delete. */
  private def encodes(action: String, fqdn: String, ip: String): Boolean = {
    val name = Fqdn.normalize(fqdn)
    val rr =
      if (action == DnsAction.IxfrDelete) Rr(name, TypeA, ClassNone, 0, AData(ip))
      else Rr(name, TypeA, ClassIn, 3600, AData(ip))
    val m = Message(1, queryFlags(OpcodeUpdate),
      Seq(Question(Fqdn.zoneOf(name), TypeSoa, ClassIn)), Nil, Seq(rr), Nil)
    try { encode(m); true } catch { case _: IllegalArgumentException => false }
  }

  private def reason(action: String, fqdn: String, ip: String): Option[String] =
    DnsValidation.invalidReason(Some(action), Some(fqdn), Some(ip),
      hasTimestamp = true, ttl = Some(3600))

  private def assertAgree(action: String, fqdn: String, ip: String): Unit = {
    val r = reason(action, fqdn, ip)
    assert(r.isEmpty == encodes(action, fqdn, ip),
      s"rules say ${r.getOrElse("ok")}, encoder ${if (encodes(action, fqdn, ip)) "accepts" else "rejects"}: " +
        s"action=$action fqdn=$fqdn ip=$ip")
  }

  private val emoji = new String(Character.toChars(0x1F600))

  test("label edge cases: 63 bytes pass both, 64 fail both as long_label") {
    val cases = Seq(
      "x" * 63 -> true, "x" * 64 -> false,
      "é" * 63 -> true, "é" * 64 -> false,       // one byte per non-ASCII code point
      emoji * 63 -> true, emoji * 64 -> false,   // a surrogate pair is one code point
      "\ud83d" * 63 -> true, "\ud83d" * 64 -> false) // a lone surrogate too
    cases.foreach { case (label, ok) =>
      Seq(s"$label.v.graft", s"h.$label.v.graft", s"a.v.$label", s"$label.v.graft.").foreach { fqdn =>
        assert(reason(DnsAction.IxfrAdd, fqdn, "10.0.0.1") ==
          (if (ok) None else Some("long_label")), fqdn)
        assertAgree(DnsAction.IxfrAdd, fqdn, "10.0.0.1")
      }
    }
  }

  test("empty labels are skipped by the encoder and accepted by the rules") {
    Seq("a..b.v.graft", ".h.v.graft", "h.v.graft..", s"${"x" * 63}..${"y" * 63}.v.graft")
      .foreach { fqdn =>
        assert(reason(DnsAction.IxfrAdd, fqdn, "10.0.0.1").isEmpty, fqdn)
        assertAgree(DnsAction.IxfrAdd, fqdn, "10.0.0.1")
      }
  }

  test("the q_dns_validate fqdn and ip shapes agree with the encoder") {
    for {
      action <- Seq(DnsAction.IxfrAdd, DnsAction.IxfrDelete)
      fqdn <- Seq("h7.v.graft", s"${"x" * 64}.v.graft")
      ip <- Seq("10.0.0.1", "10.0.0.300", "10.0.0")
    } assertAgree(action, fqdn, ip)
  }
}
