package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.net._
import graft.sources.v2.BlockFeedProvider

/** The h2 (TLS + ALPN) face of the block-stream transport: a self-signed
  * server certificate generated with the JDK's own keytool — exactly the
  * deployment artifact a real install provides — then the full drain
  * end-to-end over TLS, plus every rejection path: no ALPN, wrong host,
  * untrusted certificate, cleartext client. */
class TlsWireSpec extends AnyFunSuite {

  private val preface = "PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n".getBytes("ISO-8859-1")

  /** drainOnce against `port` must fail with a handshake refusal. */
  private def refusedHandshake(host: String, port: Int,
      ctx: javax.net.ssl.SSLContext): Unit = {
    val root = SparkSpec.tempDir("graft-tls-refused").toString
    val e = intercept[Exception] {
      BlockStreamDrainer.drainOnce(host, port, s"$root/feed", tls = Some(ctx))
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(_.isInstanceOf[javax.net.ssl.SSLHandshakeException]),
      s"expected an SSLHandshakeException in the cause chain of $e")
  }

  private val storePass = "changeit"
  private def pw = storePass.toCharArray

  private def keytool(args: String*): Unit = {
    val p = new ProcessBuilder(("keytool" +: args): _*)
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    require(p.waitFor() == 0, s"keytool ${args.head} failed: $out")
  }

  /** (keystore, truststore) for a fresh self-signed identity with the
    * given SAN — the truststore holds only that identity's certificate. */
  private def selfSigned(alias: String, san: String): (String, String) = {
    val dir = SparkSpec.tempDir(s"graft-tls-$alias").toString
    val ks = s"$dir/server.p12"
    val cert = s"$dir/server.cer"
    val ts = s"$dir/trust.p12"
    keytool("-genkeypair", "-alias", alias, "-keyalg", "RSA",
      "-keysize", "2048", "-validity", "2", "-storetype", "PKCS12",
      "-keystore", ks, "-storepass", storePass,
      "-dname", "CN=localhost", "-ext", s"san=$san")
    keytool("-exportcert", "-alias", alias, "-keystore", ks,
      "-storepass", storePass, "-file", cert)
    keytool("-importcert", "-noprompt", "-alias", alias, "-file", cert,
      "-keystore", ts, "-storetype", "PKCS12", "-storepass", storePass)
    (ks, ts)
  }

  // one identity shared by the suite: valid for localhost AND 127.0.0.1
  private lazy val (ksPath, tsPath) = selfSigned("graft", "dns:localhost,ip:127.0.0.1")

  test("h2 e2e: the reorg scenario drains over TLS with ALPN + hostname verification") {
    val root = SparkSpec.tempDir("graft-h2-tls-e2e").toString
    val script = BlockStreamScenario.chainWithReorg(blocks = 80L, reorgAt = 50L)
    val server = TlsWire.serverContext(ksPath, pw)
    val client = TlsWire.clientContext(tsPath, pw)
    val srv = new BlockStreamServer(script, tls = Some(server))
    try {
      val n = BlockStreamDrainer.drain(
        "localhost", srv.boundPort, s"$root/feed", tls = Some(client))
      assert(n == script.length, s"every message becomes one chunk, got $n")
      val ids = BlockFeedProvider.listChunks(s"$root/feed")
        .map(p => java.nio.file.Paths.get(p).getFileName.toString)
        .flatMap(BlockFeedProvider.chunkId)
      assert(ids.toSeq == (1L to script.length).toSeq)
    } finally srv.close()
  }

  test("h2 resume over TLS: a second connection subscribes from the chunk count") {
    val root = SparkSpec.tempDir("graft-h2-tls-resume").toString
    val script = BlockStreamScenario.chainWithReorg(blocks = 40L, reorgAt = 20L)
    val srv = new BlockStreamServer(script, tls = Some(TlsWire.serverContext(ksPath, pw)))
    val client = TlsWire.clientContext(tsPath, pw)
    try {
      val (n1, done1) = BlockStreamDrainer.drainOnce(
        "localhost", srv.boundPort, s"$root/feed", maxMessages = 2,
        tls = Some(client))
      assert(n1 == 2 && !done1)
      val (n2, done2) = BlockStreamDrainer.drainOnce(
        "localhost", srv.boundPort, s"$root/feed", tls = Some(client))
      assert(done2 && n1 + n2 == script.length)
    } finally srv.close()
  }

  test("server rejects a TLS client that negotiated no ALPN protocol") {
    val srv = new BlockStreamServer(Seq(BlockStreamWire.heartbeat),
      tls = Some(TlsWire.serverContext(ksPath, pw)))
    try {
      // a trusting client that never OFFERS h2 (the drainer always does,
      // so this one is a plain JDK socket): the handshake itself may
      // complete (ALPN is optional at the TLS layer), but the server
      // closes the connection before serving a single h2 byte
      val ctx = TlsWire.clientContext(tsPath, pw)
      val sock = ctx.getSocketFactory.createSocket("localhost", srv.boundPort)
        .asInstanceOf[javax.net.ssl.SSLSocket]
      try intercept[Exception] {
        sock.startHandshake()
        sock.getOutputStream.write(preface)
        sock.getOutputStream.flush()
        assert(sock.getInputStream.read() != -1, "server must hang up")
      } finally sock.close()
    } finally srv.close()
  }

  test("client refuses a certificate that does not match the host") {
    // identity valid for localhost ONLY; connecting to 127.0.0.1 must fail
    // endpoint identification even though the certificate IS trusted
    val (ks2, ts2) = selfSigned("hostonly", "dns:localhost")
    val srv = new BlockStreamServer(Seq(BlockStreamWire.heartbeat),
      tls = Some(TlsWire.serverContext(ks2, pw)))
    val ctx = TlsWire.clientContext(ts2, pw)
    try {
      refusedHandshake("127.0.0.1", srv.boundPort, ctx)
      // and the positive control: the SAME identity accepted via its name
      val root = SparkSpec.tempDir("graft-tls-hostonly").toString
      assert(BlockStreamDrainer.drainOnce("localhost", srv.boundPort,
        s"$root/feed", tls = Some(ctx)) == ((1L, true)))
    } finally srv.close()
  }

  test("client refuses a certificate signed by an unknown identity") {
    val (otherKs, _) = selfSigned("stranger", "dns:localhost,ip:127.0.0.1")
    val srv = new BlockStreamServer(Seq(BlockStreamWire.heartbeat),
      tls = Some(TlsWire.serverContext(otherKs, pw)))
    // trusts only the SUITE identity, not the stranger's
    val ctx = TlsWire.clientContext(tsPath, pw)
    try refusedHandshake("localhost", srv.boundPort, ctx)
    finally srv.close()
  }

  test("a cleartext h2c client cannot reach a TLS port") {
    val srv = new BlockStreamServer(Seq(BlockStreamWire.heartbeat),
      tls = Some(TlsWire.serverContext(ksPath, pw)))
    // the TLS server cannot parse the h2c preface as a ClientHello: it
    // hangs up, and the drainer's read fails
    val root = SparkSpec.tempDir("graft-tls-cleartext").toString
    try intercept[Exception] {
      BlockStreamDrainer.drainOnce("localhost", srv.boundPort, s"$root/feed",
        binary = true, h2c = true)
    } finally srv.close()
  }
}
