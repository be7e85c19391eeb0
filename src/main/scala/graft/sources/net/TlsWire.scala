package graft.sources.net

import java.io.FileInputStream
import java.security.{KeyStore, SecureRandom}

import javax.net.ssl.{KeyManagerFactory, SSLContext, SSLEngine, TrustManagerFactory}

/** TLS for the h2 transport — the deployment face the reference's
  * production feed actually wears (its Apibara gRPC subscription rides
  * TLS; reference `src/index.ts:16-24`). [[GrpcH2]] runs each engine
  * under Netty's `SslHandler`, below the HTTP/2 codec.
  *
  * All of it is the JDK's own public TLS stack:
  *  - ALPN (RFC 7301) negotiates the literal token "h2" — RFC 7540 §3.3's
  *    requirement for HTTP/2 over TLS. Servers OFFER h2 and reject a
  *    connection that negotiated anything else; clients REQUIRE it.
  *  - RFC 7540 §9.2 demands TLS 1.2+; both sides pin the enabled
  *    protocol versions to TLSv1.3/TLSv1.2 explicitly rather than trust
  *    JDK defaults.
  *  - Clients verify the server hostname against the certificate
  *    (endpoint identification "HTTPS", the standard X.509/SAN rule) —
  *    without it a valid-but-wrong certificate would pass.
  *
  * Certificates are a DEPLOYMENT input, as for any JVM service: a PKCS12
  * keystore path + password for the server, a truststore for clients that
  * don't chain to a public CA. TlsWireSpec generates an ephemeral
  * self-signed pair with the JDK's keytool and runs the block-stream
  * drain end-to-end over the result.
  */
object TlsWire {

  /** Load a PKCS12 store (keystore or truststore) from disk. */
  def loadStore(path: String, password: Array[Char]): KeyStore = {
    val ks = KeyStore.getInstance("PKCS12")
    val in = new FileInputStream(path)
    try ks.load(in, password) finally in.close()
    ks
  }

  /** Server SSLContext: the keystore holds the private key + cert chain
    * this server presents. */
  def serverContext(keystorePath: String, password: Array[Char]): SSLContext = {
    val kmf = KeyManagerFactory.getInstance(KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(loadStore(keystorePath, password), password)
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, new SecureRandom())
    ctx
  }

  /** Client SSLContext: the truststore holds the certificates (or CAs)
    * the client accepts — for a self-signed deployment, the server's own
    * exported certificate. */
  def clientContext(truststorePath: String, password: Array[Char]): SSLContext = {
    val tmf = TrustManagerFactory.getInstance(TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(loadStore(truststorePath, password))
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(null, tmf.getTrustManagers, new SecureRandom())
    ctx
  }

  private val Protocols = Array("TLSv1.3", "TLSv1.2")

  /** An engine for one connection: TLS 1.2+ and ALPN "h2" only. `peer`
    * (host, port) makes it a client that verifies the server certificate
    * against `host` (SAN/CN); None makes it a server. Whether ALPN agreed
    * on h2 is checked once the handshake completes ([[GrpcH2]]). */
  def engine(ctx: SSLContext, peer: Option[(String, Int)]): SSLEngine = {
    val e = peer.fold(ctx.createSSLEngine()) { case (h, p) => ctx.createSSLEngine(h, p) }
    e.setUseClientMode(peer.isDefined)
    val p = e.getSSLParameters
    p.setApplicationProtocols(Array("h2"))
    p.setProtocols(Protocols)
    if (peer.isDefined) p.setEndpointIdentificationAlgorithm("HTTPS")
    e.setSSLParameters(p)
    e
  }
}
