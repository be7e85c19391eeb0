package graft.streaming.pg

import java.io.{DataInputStream, DataOutputStream, EOFException}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Base64

import scala.collection.mutable

/** PostgreSQL frontend/backend protocol (v3) client, hand-rolled from the
  * published wire documentation (PostgreSQL docs, "Frontend/Backend
  * Protocol", protocol-message-formats) — because the sandbox ships no
  * Postgres JDBC driver jar and has no egress to fetch one, while the
  * reference's production sink target IS Postgres (BASELINE `pg` section;
  * dao.ts:1840-1851 upserts the cursor with `INSERT … ON CONFLICT`). This
  * client is the missing execution path: [[graft.streaming.JdbcMultiTableSink]]
  * *generates* the Postgres dialect; this file lets a live PostgreSQL 15
  * actually run it (through [[PgDriver]], the minimal JDBC facade).
  *
  * Implemented, both directions:
  *  - StartupMessage (protocol 3.0) carrying user/database plus run-time
  *    parameters (TimeZone=UTC, DateStyle=ISO — pinning the text formats
  *    this client parses);
  *  - authentication: trust (AuthenticationOk), cleartext password, MD5
  *    password, and SCRAM-SHA-256 (RFC 5802/7677, the `SASL` exchange
  *    PostgreSQL defaults to for password logins — no channel binding,
  *    matching the non-TLS socket);
  *  - the simple query protocol (`Q` → RowDescription/DataRow/
  *    CommandComplete/ReadyForQuery), multiple statements per message;
  *  - the extended query protocol (Parse → Bind → Describe → Execute →
  *    Sync) with text-format parameters and results, including PIPELINED
  *    batches: one Parse, then every Bind/Execute of the batch before a
  *    single Sync — the JDBC `executeBatch` shape, one round-trip per
  *    batch instead of one per row;
  *  - ErrorResponse/NoticeResponse field parsing: server errors surface as
  *    [[PgServerError]] carrying the SQLSTATE, so callers (the sink's
  *    `tableMissing` check, 42P01) branch on the same states they use
  *    against any JDBC driver.
  *
  * Honest boundaries: text result/parameter format only (binary format
  * buys nothing at these row sizes and doubles the codec surface), no
  * COPY sub-protocol, no NotificationResponse listeners, and no TLS on
  * this socket (the target is loopback; the block feed's TLS contexts,
  * [[graft.sources.net.TlsWire]], are deployment inputs that would serve
  * here too, but this client speaks plain socket streams).
  */
object PgWire {

  /** One column of a RowDescription. */
  final case class Field(name: String, typeOid: Int, typmod: Int)

  /** One statement's outcome: the row shape (empty for non-SELECT), rows
    * as text cells (None = SQL NULL), and the CommandComplete tag
    * ("INSERT 0 3", "DELETE 2", …). */
  final case class Result(fields: Vector[Field], rows: Vector[Vector[Option[String]]], tag: String) {
    /** Affected-row count parsed from the tag (0 when the tag has none). */
    def rowCount: Int = tag.split(' ') match {
      case Array("INSERT", _, n) => n.toInt
      case Array(_, n) if n.forall(_.isDigit) => n.toInt
      case _ => 0
    }
  }

  /** Server-reported error with its SQLSTATE (field 'C' of ErrorResponse). */
  final class PgServerError(val sqlState: String, message: String)
      extends java.sql.SQLException(message, sqlState)

  // type OIDs this client maps (pg_type.dat — stable, documented values)
  val OidBool = 16
  val OidBytea = 17
  val OidInt8 = 20
  val OidInt2 = 21
  val OidInt4 = 23
  val OidText = 25
  val OidFloat4 = 700
  val OidFloat8 = 701
  val OidBpchar = 1042
  val OidVarchar = 1043
  val OidDate = 1082
  val OidTimestamp = 1114
  val OidTimestamptz = 1184
  val OidNumeric = 1700
}

/** One authenticated connection. Not thread-safe (one in-flight exchange,
  * like a JDBC Connection). */
final class PgWireConnection(
    host: String,
    port: Int,
    val user: String,
    database: String,
    password: Option[String] = None,
    connectTimeoutMs: Int = 10000) extends AutoCloseable {
  import PgWire._

  private val socket = new Socket()
  socket.connect(new InetSocketAddress(host, port), connectTimeoutMs)
  socket.setTcpNoDelay(true)
  private val in = new DataInputStream(new java.io.BufferedInputStream(socket.getInputStream, 1 << 16))
  private val out = new DataOutputStream(new java.io.BufferedOutputStream(socket.getOutputStream, 1 << 16))

  /** Server parameters reported at startup (server_version, TimeZone, …). */
  val serverParams: mutable.Map[String, String] = mutable.Map.empty

  /** Last ReadyForQuery transaction status: 'I' idle, 'T' in transaction,
    * 'E' failed transaction. */
  @volatile var txStatus: Char = 'I'

  handshake()

  // ------------------------------------------------------------- frames

  private def cstring(b: mutable.ArrayBuilder[Byte], s: String): Unit = {
    b ++= s.getBytes(UTF_8); b += 0
  }

  private def send(msgType: Byte, payload: Array[Byte]): Unit = {
    if (msgType != 0) out.writeByte(msgType)
    out.writeInt(payload.length + 4)
    out.write(payload)
  }

  private def payload(build: mutable.ArrayBuilder[Byte] => Unit): Array[Byte] = {
    val b = mutable.ArrayBuilder.make[Byte]
    build(b)
    b.result()
  }

  private final class Msg(val tpe: Char, body: Array[Byte]) {
    private var pos = 0
    def i32(): Int = { val v = ((body(pos) & 0xff) << 24) | ((body(pos + 1) & 0xff) << 16) |
      ((body(pos + 2) & 0xff) << 8) | (body(pos + 3) & 0xff); pos += 4; v }
    def i16(): Int = { val v = ((body(pos) & 0xff) << 8) | (body(pos + 1) & 0xff); pos += 2; v }
    def byte(): Byte = { val v = body(pos); pos += 1; v }
    def bytes(n: Int): Array[Byte] = { val v = java.util.Arrays.copyOfRange(body, pos, pos + n); pos += n; v }
    def str(): String = {
      val end = body.indexOf(0.toByte, pos)
      val s = new String(body, pos, end - pos, UTF_8); pos = end + 1; s
    }
    def remaining: Int = body.length - pos
  }

  private def recv(): Msg = {
    val tpe = in.readByte().toChar
    val len = in.readInt() - 4
    if (len < 0 || len > (1 << 30)) throw new EOFException(s"bad message length $len")
    val body = new Array[Byte](len)
    in.readFully(body)
    new Msg(tpe, body)
  }

  private def parseError(m: Msg): PgServerError = {
    var state = "XX000"; var message = "unknown server error"
    var code = m.byte()
    while (code != 0) {
      val v = m.str()
      code match {
        case 'C' => state = v
        case 'M' => message = v
        case _ => ()
      }
      code = if (m.remaining > 0) m.byte() else 0
    }
    new PgServerError(state, message)
  }

  // --------------------------------------------------------- handshake

  private def handshake(): Unit = {
    // StartupMessage has no type byte: Int32 len, Int32 196608, params
    val p = payload { b =>
      b += 0; b += 3; b += 0; b += 0 // protocol 3.0
      Seq("user" -> user, "database" -> database, "client_encoding" -> "UTF8",
        "TimeZone" -> "UTC", "DateStyle" -> "ISO").foreach { case (k, v) =>
        cstring(b, k); cstring(b, v)
      }
      b += 0
    }
    send(0, p)
    out.flush()
    var ready = false
    while (!ready) {
      val m = recv()
      m.tpe match {
        case 'R' => authenticate(m)
        case 'S' => serverParams(m.str()) = m.str()
        case 'K' => () // BackendKeyData: pid/secret for cancel, unused
        case 'Z' => txStatus = m.byte().toChar; ready = true
        case 'E' => throw parseError(m)
        case 'N' => () // startup notices
        case t => throw new IllegalStateException(s"unexpected startup message '$t'")
      }
    }
  }

  private def authenticate(m: Msg): Unit = m.i32() match {
    case 0 => () // AuthenticationOk
    case 3 => // cleartext password
      send('p', payload(cstring(_, pw))); out.flush()
    case 5 => // md5: "md5" + hex(md5(hex(md5(password+user)) + salt))
      val salt = m.bytes(4)
      def md5hex(bs: Array[Byte]): String =
        MessageDigest.getInstance("MD5").digest(bs).map("%02x".format(_)).mkString
      val inner = md5hex((pw + user).getBytes(UTF_8))
      val outer = "md5" + md5hex(inner.getBytes(UTF_8) ++ salt)
      send('p', payload(cstring(_, outer))); out.flush()
    case 10 => scramAuth(m)
    case 11 | 12 => throw new IllegalStateException("SASL continue outside exchange")
    case other => throw new IllegalStateException(s"unsupported auth request $other")
  }

  private def pw: String = password.getOrElse(
    throw new IllegalStateException("server requested a password but none was provided"))

  /** SCRAM-SHA-256 per RFC 5802/7677 — no channel binding (gs2 "n,,"),
    * which is what PostgreSQL negotiates on a non-TLS socket. */
  private def scramAuth(m: Msg): Unit = {
    val mechanisms = Iterator.continually(m.str()).takeWhile(_.nonEmpty).toSeq
    require(mechanisms.contains("SCRAM-SHA-256"),
      s"server offers $mechanisms, client supports SCRAM-SHA-256")
    val rnd = new Array[Byte](18)
    new java.security.SecureRandom().nextBytes(rnd)
    val cnonce = Base64.getEncoder.encodeToString(rnd)
    val clientFirstBare = s"n=,r=$cnonce"
    val initial = ("n,," + clientFirstBare).getBytes(UTF_8)
    send('p', payload { b =>
      cstring(b, "SCRAM-SHA-256")
      b += ((initial.length >> 24) & 0xff).toByte; b += ((initial.length >> 16) & 0xff).toByte
      b += ((initial.length >> 8) & 0xff).toByte; b += (initial.length & 0xff).toByte
      b ++= initial
    })
    out.flush()

    val cont = recv()
    if (cont.tpe == 'E') throw parseError(cont)
    require(cont.tpe == 'R' && cont.i32() == 11, "expected SASLContinue")
    val serverFirst = new String(cont.bytes(cont.remaining), UTF_8)
    val attrs = serverFirst.split(',').map(a => a.charAt(0) -> a.substring(2)).toMap
    val nonce = attrs('r')
    require(nonce.startsWith(cnonce), "server nonce must extend the client nonce")
    val salt = Base64.getDecoder.decode(attrs('s'))
    val iters = attrs('i').toInt

    def hmac(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
      val h = javax.crypto.Mac.getInstance("HmacSHA256")
      h.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
      h.doFinal(data)
    }
    val spec = new javax.crypto.spec.PBEKeySpec(pw.toCharArray, salt, iters, 256)
    val salted = javax.crypto.SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
      .generateSecret(spec).getEncoded
    val clientKey = hmac(salted, "Client Key".getBytes(UTF_8))
    val storedKey = MessageDigest.getInstance("SHA-256").digest(clientKey)
    val clientFinalNoProof = s"c=${Base64.getEncoder.encodeToString("n,,".getBytes(UTF_8))},r=$nonce"
    val authMessage = s"$clientFirstBare,$serverFirst,$clientFinalNoProof".getBytes(UTF_8)
    val clientSig = hmac(storedKey, authMessage)
    val proof = clientKey.zip(clientSig).map { case (a, b) => (a ^ b).toByte }
    val clientFinal = s"$clientFinalNoProof,p=${Base64.getEncoder.encodeToString(proof)}"
    send('p', payload(_ ++= clientFinal.getBytes(UTF_8)))
    out.flush()

    val fin = recv()
    if (fin.tpe == 'E') throw parseError(fin)
    require(fin.tpe == 'R' && fin.i32() == 12, "expected SASLFinal")
    val serverFinal = new String(fin.bytes(fin.remaining), UTF_8)
    val serverKey = hmac(salted, "Server Key".getBytes(UTF_8))
    val expected = Base64.getEncoder.encodeToString(hmac(serverKey, authMessage))
    require(serverFinal == s"v=$expected", "server signature mismatch (not the genuine server)")
  }

  // ------------------------------------------------------ simple query

  /** Simple query protocol: one or more SQL statements in a single 'Q'
    * message; returns one Result per statement. Throws [[PgWire.PgServerError]]
    * on the FIRST server error (after draining to ReadyForQuery, so the
    * connection stays usable). */
  def simple(sql: String): Vector[Result] = {
    send('Q', payload(cstring(_, sql)))
    out.flush()
    val results = Vector.newBuilder[Result]
    var fields = Vector.empty[Field]
    var rows = Vector.newBuilder[Vector[Option[String]]]
    var error: PgServerError = null
    var done = false
    while (!done) {
      val m = recv()
      m.tpe match {
        case 'T' =>
          fields = readRowDescription(m); rows = Vector.newBuilder
        case 'D' => rows += readDataRow(m)
        case 'C' =>
          results += Result(fields, rows.result(), m.str())
          fields = Vector.empty; rows = Vector.newBuilder
        case 'I' => () // EmptyQueryResponse
        case 'E' => if (error == null) error = parseError(m)
        case 'N' => ()
        case 'S' => serverParams(m.str()) = m.str() // SET reports new value
        case 'Z' => txStatus = m.byte().toChar; done = true
        case t => throw new IllegalStateException(s"unexpected message '$t' in simple query")
      }
    }
    if (error != null) throw error
    results.result()
  }

  private def readRowDescription(m: Msg): Vector[Field] = {
    val n = m.i16()
    Vector.fill(n) {
      val name = m.str()
      m.i32(); m.i16() // table oid, column attnum
      val typeOid = m.i32()
      m.i16() // typlen
      val typmod = m.i32()
      m.i16() // format code
      Field(name, typeOid, typmod)
    }
  }

  private def readDataRow(m: Msg): Vector[Option[String]] = {
    val n = m.i16()
    Vector.fill(n) {
      val len = m.i32()
      if (len == -1) None else Some(new String(m.bytes(len), UTF_8))
    }
  }

  // ---------------------------------------------------- extended query

  private def sendParse(name: String, sql: String): Unit =
    send('P', payload { b => cstring(b, name); cstring(b, sql); b += 0; b += 0 })

  private def sendBind(stmt: String, params: Seq[Option[String]]): Unit =
    send('B', payload { b =>
      cstring(b, "") // unnamed portal
      cstring(b, stmt)
      b += 0; b += 0 // zero format codes: all parameters text
      b += ((params.length >> 8) & 0xff).toByte; b += (params.length & 0xff).toByte
      params.foreach {
        case None => b += -1; b += -1; b += -1; b += -1 // Int32 -1 = NULL
        case Some(s) =>
          val bytes = s.getBytes(UTF_8)
          b += ((bytes.length >> 24) & 0xff).toByte; b += ((bytes.length >> 16) & 0xff).toByte
          b += ((bytes.length >> 8) & 0xff).toByte; b += (bytes.length & 0xff).toByte
          b ++= bytes
      }
      b += 0; b += 0 // zero result format codes: all text
    })

  private def sendDescribePortal(): Unit =
    send('D', payload { b => b += 'P'.toByte; cstring(b, "") })

  private def sendExecute(): Unit =
    send('E', payload { b => cstring(b, ""); b += 0; b += 0; b += 0; b += 0 })

  private def sendSync(): Unit = send('S', Array.emptyByteArray)

  /** One parameterized statement through the extended protocol (text
    * parameters, None = NULL). */
  def execute(sql: String, params: Seq[Option[String]] = Nil): Result = {
    sendParse("", sql); sendBind("", params); sendDescribePortal(); sendExecute(); sendSync()
    out.flush()
    var fields = Vector.empty[Field]
    val rows = Vector.newBuilder[Vector[Option[String]]]
    var tag = ""
    var error: PgServerError = null
    var done = false
    while (!done) {
      val m = recv()
      m.tpe match {
        case '1' | '2' | 'n' => ()
        case 'T' => fields = readRowDescription(m)
        case 'D' => rows += readDataRow(m)
        case 'C' => tag = m.str()
        case 's' => () // PortalSuspended (maxRows 0 ⇒ not expected)
        case 'E' => if (error == null) error = parseError(m)
        case 'N' => ()
        case 'S' => serverParams(m.str()) = m.str()
        case 'Z' => txStatus = m.byte().toChar; done = true
        case t => throw new IllegalStateException(s"unexpected message '$t' in extended query")
      }
    }
    if (error != null) throw error
    Result(fields, rows.result(), tag)
  }

  /** Pipelined batch: ONE Parse, then Bind+Execute for every parameter row,
    * then ONE Sync — a single round-trip, the executeBatch shape. Returns
    * per-row affected counts. On a server error PostgreSQL skips the rest
    * of the pipeline to the Sync; the error is rethrown after the drain
    * with the failing row's index in the message. */
  def executeBatch(sql: String, batch: Seq[Seq[Option[String]]]): Array[Int] = {
    if (batch.isEmpty) return Array.empty
    sendParse("", sql)
    batch.foreach { params => sendBind("", params); sendExecute() }
    sendSync()
    out.flush()
    val counts = Array.fill(batch.size)(-3) // java.sql.Statement.EXECUTE_FAILED
    var idx = 0
    var error: PgServerError = null
    var done = false
    while (!done) {
      val m = recv()
      m.tpe match {
        case '1' | '2' | 'n' | 'T' | 'D' | 's' => ()
        case 'C' =>
          val tag = m.str()
          if (idx < counts.length) counts(idx) = Result(Vector.empty, Vector.empty, tag).rowCount
          idx += 1
        case 'E' =>
          if (error == null)
            error = { val e = parseError(m); new PgServerError(e.sqlState,
              s"batch row $idx: ${e.getMessage}") }
        case 'N' => ()
        case 'S' => serverParams(m.str()) = m.str()
        case 'Z' => txStatus = m.byte().toChar; done = true
        case t => throw new IllegalStateException(s"unexpected message '$t' in batch")
      }
    }
    if (error != null) throw error
    counts
  }

  override def close(): Unit = {
    try { send('X', Array.emptyByteArray); out.flush() } catch { case _: Throwable => () }
    socket.close()
  }
}
