package graft.sources.dns

/** A loopback [[WireDnsServer]] for the length of one test body. The
  * connector's one transport is the wire client, so every spec that
  * reads or writes through it needs a real TCP endpoint; the server is
  * closed even when the body fails. Connect to `host` (127.0.0.1),
  * never a symbolic name. */
object Loopback {
  def withServer[A](body: WireDnsServer => A): A = {
    val srv = new WireDnsServer()
    try body(srv) finally srv.close()
  }
}
