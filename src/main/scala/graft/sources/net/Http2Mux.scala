package graft.sources.net

import java.io.{ByteArrayOutputStream, EOFException, InputStream, OutputStream}
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue}

/** CONCURRENT HTTP/2 stream multiplexing — the one transport boundary
  * [[Http2Wire]] documents out ("streams are sequential, never
  * concurrent"). That synchronous design is right for the drainer's
  * one-subscription-per-connection model; this layer is for the shape a
  * multi-tenant peer actually has — several RPCs IN FLIGHT on one
  * connection, frames interleaved per RFC 7540 §5 — and is built on the
  * same public primitives (frame codec, HPACK coder, §6.2 header-block
  * rules, §6.9 flow control) rather than replacing them.
  *
  * Architecture: one DEMUX THREAD per connection owns the read side and
  * routes frames to per-stream event queues (HEADERS→CONTINUATION blocks
  * are consumed inline, which is exactly the §6.10 no-interleave rule);
  * writers from any thread serialize frame emission through one write
  * lock. Flow control is shared state under one monitor: senders debit
  * the connection and stream windows and `wait` when either is exhausted;
  * the demux thread credits them from WINDOW_UPDATE and `notifyAll`s.
  * Receive credit is granted as the APPLICATION consumes (stream credit
  * per chunk, connection credit batched at half the window), so total
  * un-granted buffering per stream is bounded by `recvWindow` — the
  * window IS the queue bound, which is why the demux thread never blocks
  * on a full queue.
  *
  * Boundaries (documented): no PRIORITY scheduling (§5.3 is advisory and
  * was dropped in RFC 9113), no server push, writers are fair only as
  * far as lock acquisition order — enough for data integrity, which the
  * spec proves under window starvation.
  */
object Http2Mux {
  import Http2Wire._

  private sealed trait Ev
  private final case class EvHeaders(h: Seq[(String, String)], endStream: Boolean) extends Ev
  /** `raw` is the flow-controlled size (padding included, §6.9.1). */
  private final case class EvData(bytes: Array[Byte], raw: Int) extends Ev
  private final case class EvTrailers(h: Seq[(String, String)]) extends Ev
  private case object EvEnd extends Ev
  private final case class EvFail(e: Throwable) extends Ev

  private final class StreamState(val sid: Int, initialWindow: Long) {
    val events = new LinkedBlockingQueue[Ev]()
    var sendWindow: Long = initialWindow // guarded by the endpoint's fc monitor
    var headersSeen = false // demux thread only
  }

  /** One multiplexed connection endpoint (either role). */
  final class MuxEndpoint private[Http2Mux] (
      in: InputStream, out: OutputStream,
      recvWindow: Int, server: Boolean) {

    private val bin = new java.io.BufferedInputStream(in, 64 << 10)
    private val bout = new java.io.BufferedOutputStream(out, 64 << 10)
    private val decoder = new HpackDecoder() // demux thread only
    private[Http2Mux] val streams = new ConcurrentHashMap[Int, StreamState]()
    /** Server role: accepted request streams; None = connection done. */
    private[Http2Mux] val accepts =
      new LinkedBlockingQueue[Option[(Int, Seq[(String, String)], Boolean)]]()

    private val writeLock = new Object
    private val fc = new Object
    private var sendWindowConn: Long = DefaultWindow // fc
    private var peerInitialWindow: Long = DefaultWindow // fc
    @volatile private var peerMaxFrame: Int = DefaultMaxFrame
    @volatile private var dead: Throwable = null
    private var connOwed = 0 // fc: consumed-but-ungranted connection octets

    // ---- handshake (same bytes as the synchronous endpoint) ----
    if (!server) {
      bout.write(ClientPreface)
      sendSettingsFrames()
    } else {
      sendSettingsFrames() // the server preface IS a SETTINGS frame
      val preface = bin.readNBytes(ClientPreface.length)
      require(java.util.Arrays.equals(preface, ClientPreface),
        "client did not send the h2 connection preface")
    }

    private val demux = new Thread(() => demuxLoop(), "h2-mux-demux")
    demux.setDaemon(true)
    demux.start()

    private def sendSettingsFrames(): Unit = writeLock.synchronized {
      val payload =
        if (recvWindow == DefaultWindow) Array.emptyByteArray
        else Array[Byte](0, 4,
          ((recvWindow >>> 24) & 0xff).toByte, ((recvWindow >>> 16) & 0xff).toByte,
          ((recvWindow >>> 8) & 0xff).toByte, (recvWindow & 0xff).toByte)
      writeFrame(bout, Frame(TSettings, 0, 0, payload))
      if (recvWindow != DefaultWindow) {
        val inc = recvWindow - DefaultWindow
        writeFrame(bout, Frame(TWindowUpdate, 0, 0, Array[Byte](
          ((inc >>> 24) & 0x7f).toByte, ((inc >>> 16) & 0xff).toByte,
          ((inc >>> 8) & 0xff).toByte, (inc & 0xff).toByte)))
      }
      bout.flush()
    }

    // ------------------------------------------------------ demux side

    private def headerBlock(first: Frame): Array[Byte] = {
      var block = framePayload(first)
      var end = (first.flags & FEndHeaders) != 0
      while (!end) {
        val f = readFrame(bin).getOrElse(
          throw new EOFException("peer closed mid header block"))
        require(f.tpe == TContinuation && f.streamId == first.streamId,
          s"header block on stream ${first.streamId} interleaved by " +
            s"frame type ${f.tpe} stream ${f.streamId}")
        block = block ++ f.payload
        end = (f.flags & FEndHeaders) != 0
      }
      block
    }

    private def demuxLoop(): Unit = {
      try {
        var running = true
        while (running) readFrame(bin) match {
          case None => running = false
          case Some(f) => f.tpe match {
            case THeaders =>
              val headers = decoder.decode(headerBlock(f))
              val es = (f.flags & FEndStream) != 0
              val st = streams.get(f.streamId)
              if (st == null) {
                require(server, s"peer opened stream ${f.streamId} on a client")
                require(f.streamId % 2 == 1,
                  s"client-initiated stream ids must be odd: ${f.streamId}")
                register(f.streamId)
                accepts.put(Some((f.streamId, headers, es)))
              } else if (!st.headersSeen) {
                st.headersSeen = true
                st.events.put(EvHeaders(headers, es))
                if (es) st.events.put(EvEnd)
              } else {
                st.events.put(EvTrailers(headers))
                st.events.put(EvEnd)
              }
            case TData =>
              val st = streams.get(f.streamId)
              require(st != null, s"DATA for unknown stream ${f.streamId}")
              st.events.put(EvData(framePayload(f), f.payload.length))
              if ((f.flags & FEndStream) != 0) st.events.put(EvEnd)
            case TWindowUpdate =>
              val inc = (((f.payload(0) & 0x7f) << 24) | ((f.payload(1) & 0xff) << 16) |
                ((f.payload(2) & 0xff) << 8) | (f.payload(3) & 0xff)).toLong
              fc.synchronized {
                if (f.streamId == 0) sendWindowConn += inc
                else {
                  val st = streams.get(f.streamId)
                  if (st != null) st.sendWindow += inc
                }
                fc.notifyAll()
              }
            case TSettings if (f.flags & FAck) == 0 =>
              var i = 0
              while (i + 6 <= f.payload.length) {
                val id = ((f.payload(i) & 0xff) << 8) | (f.payload(i + 1) & 0xff)
                val v = ((f.payload(i + 2) & 0xff) << 24) | ((f.payload(i + 3) & 0xff) << 16) |
                  ((f.payload(i + 4) & 0xff) << 8) | (f.payload(i + 5) & 0xff)
                if (id == 4) fc.synchronized {
                  val delta = v - peerInitialWindow
                  peerInitialWindow = v
                  streams.forEach((_: Int, st: StreamState) => st.sendWindow += delta)
                  fc.notifyAll()
                } else if (id == 5) peerMaxFrame = v
                i += 6
              }
              writeLock.synchronized {
                writeFrame(bout, Frame(TSettings, FAck, 0, Array.emptyByteArray))
                bout.flush()
              }
            case TSettings => ()
            case TPing if (f.flags & FAck) == 0 =>
              writeLock.synchronized {
                writeFrame(bout, Frame(TPing, FAck, 0, f.payload)); bout.flush()
              }
            case TPing => ()
            case TRstStream =>
              val st = streams.get(f.streamId)
              if (st != null)
                st.events.put(EvFail(new EOFException(
                  s"stream ${f.streamId} reset by peer")))
            case TGoaway => running = false
            case TContinuation =>
              throw new IllegalStateException("CONTINUATION outside a header block")
            case _ => () // PRIORITY, unknown: ignore
          }
        }
        closeAll(new EOFException("connection closed"))
      } catch { case e: Throwable => closeAll(e) }
    }

    private def closeAll(e: Throwable): Unit = {
      dead = e
      fc.synchronized(fc.notifyAll())
      streams.forEach((_: Int, st: StreamState) => st.events.put(EvFail(e)))
      accepts.put(None)
    }

    // ------------------------------------------------------ write side

    private[Http2Mux] def register(sid: Int): StreamState = {
      val st = fc.synchronized(new StreamState(sid, peerInitialWindow))
      streams.put(sid, st)
      st
    }

    private[Http2Mux] def sendHeaders(sid: Int, headers: Seq[(String, String)],
        endStream: Boolean): Unit = writeLock.synchronized {
      val block = encodeHeaders(headers)
      val esFlag = if (endStream) FEndStream else 0
      val maxF = peerMaxFrame
      var off = 0
      var first = true
      while (off < block.length || first) {
        val n = math.min(maxF, block.length - off)
        val last = off + n >= block.length
        writeFrame(bout, Frame(
          if (first) THeaders else TContinuation,
          (if (first) esFlag else 0) | (if (last) FEndHeaders else 0),
          sid, java.util.Arrays.copyOfRange(block, off, off + n)))
        off += n; first = false
      }
      bout.flush()
    }

    /** Flow-controlled DATA from ANY thread: debit both windows (waiting
      * on the fc monitor when exhausted — the demux thread refills), then
      * emit under the write lock. Chunks from concurrent streams
      * interleave at frame granularity. */
    private[Http2Mux] def sendData(sid: Int, bytes: Array[Byte],
        endStream: Boolean): Unit = {
      val st = streams.get(sid)
      require(st != null, s"sendData on unknown stream $sid")
      var off = 0
      var emptySent = bytes.nonEmpty
      while (off < bytes.length || !emptySent) {
        val want = math.min(peerMaxFrame, bytes.length - off)
        fc.synchronized {
          while (dead == null && (sendWindowConn < want || st.sendWindow < want)) {
            writeLock.synchronized(bout.flush()) // emitted DATA must reach the peer pre-wait
            fc.wait(1000)
          }
          if (dead != null) throw new EOFException(s"connection closed: $dead")
          sendWindowConn -= want
          st.sendWindow -= want
        }
        val last = off + want >= bytes.length
        writeLock.synchronized {
          writeFrame(bout, Frame(TData,
            if (endStream && last) FEndStream else 0, sid,
            java.util.Arrays.copyOfRange(bytes, off, off + want)))
          if (last) bout.flush()
        }
        off += want
        emptySent = true
      }
    }

    /** Receive credit at CONSUME time: stream credit per chunk (the
      * reader's pace is the stream's pace), connection credit batched at
      * half the window (one write+flush per recvWindow/2 octets). */
    private[Http2Mux] def grant(sid: Int, n: Int): Unit = {
      val sendConn = fc.synchronized {
        connOwed += n
        if (connOwed >= math.max(recvWindow / 2, 1)) {
          val g = connOwed; connOwed = 0; g
        } else 0
      }
      writeLock.synchronized {
        def upd(stream: Int, inc: Int): Unit =
          writeFrame(bout, Frame(TWindowUpdate, 0, stream, Array[Byte](
            ((inc >>> 24) & 0x7f).toByte, ((inc >>> 16) & 0xff).toByte,
            ((inc >>> 8) & 0xff).toByte, (inc & 0xff).toByte)))
        try {
          upd(sid, n)
          if (sendConn > 0) upd(0, sendConn)
          bout.flush()
        } catch { case _: java.io.IOException => () } // peer already gone
      }
    }

    /** The stream's DATA as an InputStream over its event queue; trailers
      * surface through `onTrailers` before EOF. */
    private[Http2Mux] def streamInput(st: StreamState,
        onTrailers: Seq[(String, String)] => Unit): InputStream = new InputStream {
      private var buf: Array[Byte] = Array.emptyByteArray
      private var pos = 0
      private var done = false

      private def pull(): Unit =
        while (!done && pos >= buf.length) st.events.take() match {
          case EvData(bytes, raw) =>
            grant(st.sid, raw)
            buf = bytes; pos = 0
          case EvTrailers(h) => onTrailers(h)
          case EvEnd => done = true
          case EvFail(e) => throw new EOFException(s"stream failed: $e")
          case EvHeaders(_, _) =>
            throw new IllegalStateException("HEADERS inside a data stream")
        }

      override def read(): Int = {
        pull()
        if (done && pos >= buf.length) -1
        else { val b = buf(pos) & 0xff; pos += 1; b }
      }
      // zero-length reads return at once, as in Http2Wire.dataStream
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        if (len == 0) return 0
        pull()
        if (done && pos >= buf.length) return -1
        val n = math.min(len, buf.length - pos)
        System.arraycopy(buf, pos, b, off, n)
        pos += n
        n
      }
    }
  }

  // --------------------------------------------------------- gRPC roles

  /** Client connection carrying CONCURRENT RPCs: [[call]] is thread-safe
    * and non-blocking with respect to other in-flight calls. */
  final class MuxClientConnection(in: InputStream, out: OutputStream,
      recvWindow: Int = TunedWindow, scheme: String = "http") {
    private val ep = new MuxEndpoint(in, out, recvWindow, server = false)
    private val sidGen = new java.util.concurrent.atomic.AtomicInteger(-1)

    def call(authority: String, request: Array[Byte]): InputStream = {
      val sid = sidGen.addAndGet(2) // 1, 3, 5… (§5.1.1)
      val st = ep.register(sid) // registered BEFORE headers go out
      ep.sendHeaders(sid, Seq(
        ":method" -> "POST", ":scheme" -> scheme, ":path" -> Http2Wire.GrpcPath,
        ":authority" -> authority, "content-type" -> "application/grpc+proto",
        "te" -> "trailers"), endStream = false)
      val lpm = new ByteArrayOutputStream()
      ProtoWire.writeFrame(lpm, request)
      ep.sendData(sid, lpm.toByteArray, endStream = true)
      st.events.take() match {
        case EvHeaders(h, es) =>
          require(h.exists(x => x._1 == ":status" && x._2 == "200"),
            s"non-200 gRPC response: $h")
          require(!es, "gRPC response ended before any DATA (trailers-only)")
        case EvFail(e) => throw new EOFException(s"call failed: $e")
        case other => throw new IllegalStateException(s"expected headers, got $other")
      }
      ep.streamInput(st, trailers => {
        val s = trailers.collectFirst { case ("grpc-status", v) => v }
        require(s.contains("0"), s"gRPC stream failed: $trailers")
      })
    }
  }

  /** Server-side handle for one accepted RPC (thread-safe vs other calls
    * on the same connection). */
  final class MuxServerCall private[Http2Mux] (ep: MuxEndpoint, sid: Int) {
    def send(msg: Array[Byte]): Unit = {
      val lpm = new ByteArrayOutputStream()
      ProtoWire.writeFrame(lpm, msg)
      ep.sendData(sid, lpm.toByteArray, endStream = false)
    }
    def finish(): Unit =
      ep.sendHeaders(sid, Seq("grpc-status" -> "0"), endStream = true)
  }

  /** Serve every RPC the client opens on this connection, CONCURRENTLY —
    * one handler thread per accepted stream. Returns the number of RPCs
    * served, after the client closes and every handler finishes. */
  def serverLoop(in: InputStream, out: OutputStream,
      recvWindow: Int = TunedWindow)(
      handle: (Array[Byte], MuxServerCall) => Unit): Int = {
    val ep = new MuxEndpoint(in, out, recvWindow, server = true)
    val workers = scala.collection.mutable.ArrayBuffer.empty[Thread]
    var served = 0
    var more = true
    while (more) ep.accepts.take() match {
      case Some((sid, reqHeaders, endAtHeaders)) =>
        require(reqHeaders.exists(h => h._1 == ":path" && h._2 == Http2Wire.GrpcPath),
          s"unexpected RPC path in $reqHeaders")
        require(!endAtHeaders, "request stream carried no body")
        served += 1
        val t = new Thread(() => {
          val st = ep.streams.get(sid)
          val body = ep.streamInput(st, _ => ())
          val request = ProtoWire.readFrame(body).getOrElse(
            throw new EOFException("request stream ended before the LPM frame"))
          while (body.read() != -1) () // consume the half-close
          ep.sendHeaders(sid, Seq(
            ":status" -> "200", "content-type" -> "application/grpc+proto"),
            endStream = false)
          handle(request, new MuxServerCall(ep, sid))
        }, s"h2-mux-rpc-$sid")
        t.start()
        workers += t
      case None => more = false
    }
    workers.foreach(_.join(30000))
    served
  }
}
