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

/** A loopback proxy in front of `upstream` that forwards every request
  * (SOA polls included) except the next [[drops]] zone transfers
  * (AXFR/IXFR): for each of those it closes the client's connection
  * instead — a wire disconnect in the middle of a read.
  * [[disconnectAll]] closes every open client connection, as a server
  * closes idle ones. */
final class DisconnectingProxy(upstream: WireDnsServer) {
  import DnsWire._
  private val server = new java.net.ServerSocket()
  server.bind(new java.net.InetSocketAddress("127.0.0.1", 0))
  def host: String = "127.0.0.1"
  def port: Int = server.getLocalPort
  val drops = new java.util.concurrent.atomic.AtomicInteger(0)
  private val open = java.util.concurrent.ConcurrentHashMap.newKeySet[java.net.Socket]()

  def disconnectAll(): Unit = open.forEach(_.close())

  private def daemon(name: String)(body: => Unit): Unit = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
  }

  daemon("proxy-accept") {
    try while (true) {
      val client = server.accept()
      open.add(client)
      val up = new java.net.Socket(upstream.host, upstream.port)
      daemon("proxy-down") {
        try up.getInputStream.transferTo(client.getOutputStream)
        catch { case _: java.io.IOException => () }
        finally client.close()
      }
      daemon("proxy-up") {
        val in = new java.io.DataInputStream(client.getInputStream)
        val out = up.getOutputStream
        try while (true) {
          val req = readFramed(in)
          val xfr = req.questions.exists(q => q.qtype == TypeAxfr || q.qtype == TypeIxfr)
          if (xfr && drops.getAndUpdate(n => math.max(n - 1, 0)) > 0)
            throw new java.io.IOException("dropped")
          out.write(frame(req))
          out.flush()
        } catch { case _: java.io.IOException => () }
        finally { client.close(); up.close(); open.remove(client) }
      }
    } catch { case _: java.io.IOException => () } // closed
  }

  def close(): Unit = server.close()
}
