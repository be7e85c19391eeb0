package graft.sources.net

import java.io.{ByteArrayOutputStream, EOFException, InputStream, OutputStream}

import scala.collection.mutable

/** HTTP/2 cleartext (h2c, prior-knowledge) transport, hand-rolled from the
  * published specs — RFC 7540 framing and RFC 7541 HPACK — because the
  * sandbox ships no gRPC/netty jars. This is the LAST layer of the S1
  * protocol story: [[BlockStreamWire]] carries the reference's message
  * grammar, [[BlockProtoCodec]] frames it as protobuf inside gRPC
  * Length-Prefixed-Messages, and this file carries those LPM bytes where
  * the reference's `@apibara/protocol` carries them — in DATA frames of an
  * HTTP/2 stream opened by a `POST /graft.v1.BlockStream/StreamData`
  * request with `content-type: application/grpc+proto`, answered by
  * response HEADERS, streamed DATA, and `grpc-status: 0` trailers
  * (reference `src/index.ts:127-141` holds exactly such a client-streaming
  * subscription open).
  *
  * Implemented for real, both directions:
  *  - the 9-byte frame header; DATA / HEADERS / RST_STREAM / SETTINGS /
  *    PING / GOAWAY / WINDOW_UPDATE frame types; the 24-byte client
  *    connection preface; SETTINGS exchange + ACK; PING echo;
  *  - HPACK: the full 61-entry static table, prefix-coded integers,
  *    literal fields with/without/never indexing, a decode-side dynamic
  *    table with FIFO eviction and size updates — the encoder emits
  *    indexed or literal-without-indexing forms only (each connection
  *    sends ONE header list per direction, so dynamic indexing buys
  *    nothing on this wire);
  *  - flow control on BOTH windows: senders debit the connection and
  *    stream windows and block on the peer's WINDOW_UPDATEs when a window
  *    is exhausted; receivers grant updates for every DATA frame consumed.
  *    DATA is split to the peer's SETTINGS_MAX_FRAME_SIZE.
  *
  * Implemented since r15: accept-side HPACK Huffman DECODE (RFC 7541 §5.2
  * + Appendix B — the full 257-symbol canonical code, tree walk, EOS and
  * padding rules), so a stock gRPC client that Huffman-codes its header
  * literals (most do) can reach this server; the Appendix C request and
  * response captures decode verbatim in Http2WireSpec. The encoder still
  * emits plain octets — on this wire each direction sends ONE short
  * header list, where Huffman saves a few dozen bytes per CONNECTION, so
  * decode-only is the whole interop surface.
  *
  * Implemented since r15 (interop hardening, all accept-side first):
  * HPACK Huffman DECODE as above; CONTINUATION frames (header blocks
  * fragment across frames in both directions — the emitter splits at the
  * peer's max frame size, the receiver reassembles per RFC 7540 §6.2/§6.10
  * including the no-interleaving rule); PADDED DATA/HEADERS and
  * PRIORITY-flagged HEADERS (the adornments stock clients attach — both
  * stripped per §6.1/§6.2, with padding still debited from flow-control
  * windows per §6.9); and SEQUENTIAL stream reuse — a client connection
  * can carry successive RPCs on ids 1, 3, 5… ([[ClientConnection]]) and
  * the server loop serves them in order ([[serverAcceptLoop]]), enforcing
  * §5.1.1's odd-and-increasing rule.
  *
  * Honest boundaries (documented, enforced with clear errors rather than
  * silently mis-parsed): Huffman literals are not EMITTED (accepted on
  * decode as above), and THIS endpoint is sequential — one RPC in flight
  * per connection at a time, the drainer's model, where
  * reconnect-and-resubscribe is the retry path. CONCURRENT streams live
  * in the sibling [[Http2Mux]] layer (demux thread + per-stream queues +
  * shared flow-control monitor, same frame/HPACK primitives), for peers
  * that genuinely hold several RPCs open on one connection.
  */
object Http2Wire {

  // ------------------------------------------------------------- frames

  val TData = 0x0; val THeaders = 0x1; val TRstStream = 0x3
  val TSettings = 0x4; val TPing = 0x6; val TGoaway = 0x7
  val TWindowUpdate = 0x8; val TContinuation = 0x9

  val FEndStream = 0x1; val FAck = 0x1; val FEndHeaders = 0x4
  val FPadded = 0x8; val FPriority = 0x20

  val DefaultWindow = 65535
  val DefaultMaxFrame = 16384

  /** Production receive window (4 MiB): the RFC's 65535-octet default
    * forces a credit round-trip every 64 KB — measured 10× off the
    * raw-socket drain throughput on the ingest bench. Every real gRPC
    * stack exposes and raises this knob the same way (SETTINGS id 4 for
    * streams + one connection WINDOW_UPDATE); receivers batch grants at
    * half-window so credit frames amortize across ~128 DATA frames
    * instead of one each. */
  val TunedWindow: Int = 4 << 20

  /** The fixed client connection preface (RFC 7540 §3.5). */
  val ClientPreface: Array[Byte] =
    "PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n".getBytes("ISO-8859-1")

  final case class Frame(tpe: Int, flags: Int, streamId: Int, payload: Array[Byte])

  def writeFrame(out: OutputStream, f: Frame): Unit = {
    val len = f.payload.length
    require(len < (1 << 24), s"frame too large: $len")
    out.write((len >>> 16) & 0xff); out.write((len >>> 8) & 0xff); out.write(len & 0xff)
    out.write(f.tpe & 0xff)
    out.write(f.flags & 0xff)
    out.write((f.streamId >>> 24) & 0x7f); out.write((f.streamId >>> 16) & 0xff)
    out.write((f.streamId >>> 8) & 0xff); out.write(f.streamId & 0xff)
    out.write(f.payload)
  }

  /** One frame, or None on clean EOF at a frame boundary. */
  def readFrame(in: InputStream): Option[Frame] = {
    val b0 = in.read()
    if (b0 == -1) return None
    val rest = in.readNBytes(8)
    if (rest.length < 8) throw new EOFException("truncated frame header")
    val len = (b0 << 16) | ((rest(0) & 0xff) << 8) | (rest(1) & 0xff)
    val tpe = rest(2) & 0xff
    val flags = rest(3) & 0xff
    val sid = ((rest(4) & 0x7f) << 24) | ((rest(5) & 0xff) << 16) |
      ((rest(6) & 0xff) << 8) | (rest(7) & 0xff)
    val payload = in.readNBytes(len)
    if (payload.length < len) throw new EOFException("truncated frame payload")
    Some(Frame(tpe, flags, sid, payload))
  }

  /** DATA/HEADERS payload minus the PADDED / PRIORITY adornments
    * (RFC 7540 §6.1/§6.2): stock clients pad DATA and attach priority to
    * their first HEADERS — both are carriage, not content. Padding still
    * counts against flow control (§6.9.1: the whole frame payload does),
    * so callers grant credit for the RAW length and parse the stripped
    * bytes. */
  private[net] def framePayload(f: Frame): Array[Byte] = {
    var from = 0
    var to = f.payload.length
    if ((f.flags & FPadded) != 0) {
      require(to >= 1, "PADDED frame without a pad-length octet")
      val pad = f.payload(0) & 0xff
      from = 1
      to -= pad
    }
    if (f.tpe == THeaders && (f.flags & FPriority) != 0) from += 5
    require(to >= from, s"padding/priority fields exceed the frame payload")
    if (from == 0 && to == f.payload.length) f.payload
    else java.util.Arrays.copyOfRange(f.payload, from, to)
  }

  // ------------------------------------------------------------- HPACK

  /** RFC 7541 Appendix A — the complete static table, 1-based. */
  val StaticTable: IndexedSeq[(String, String)] = IndexedSeq(
    ":authority" -> "", ":method" -> "GET", ":method" -> "POST",
    ":path" -> "/", ":path" -> "/index.html", ":scheme" -> "http",
    ":scheme" -> "https", ":status" -> "200", ":status" -> "204",
    ":status" -> "206", ":status" -> "304", ":status" -> "400",
    ":status" -> "404", ":status" -> "500", "accept-charset" -> "",
    "accept-encoding" -> "gzip, deflate", "accept-language" -> "",
    "accept-ranges" -> "", "accept" -> "", "access-control-allow-origin" -> "",
    "age" -> "", "allow" -> "", "authorization" -> "", "cache-control" -> "",
    "content-disposition" -> "", "content-encoding" -> "",
    "content-language" -> "", "content-length" -> "", "content-location" -> "",
    "content-range" -> "", "content-type" -> "", "cookie" -> "", "date" -> "",
    "etag" -> "", "expect" -> "", "expires" -> "", "from" -> "", "host" -> "",
    "if-match" -> "", "if-modified-since" -> "", "if-none-match" -> "",
    "if-range" -> "", "if-unmodified-since" -> "", "last-modified" -> "",
    "link" -> "", "location" -> "", "max-forwards" -> "",
    "proxy-authenticate" -> "", "proxy-authorization" -> "", "range" -> "",
    "referer" -> "", "refresh" -> "", "retry-after" -> "", "server" -> "",
    "set-cookie" -> "", "strict-transport-security" -> "",
    "transfer-encoding" -> "", "user-agent" -> "", "vary" -> "", "via" -> "",
    "www-authenticate" -> "")

  // ---------------------------------------------------- HPACK Huffman

  /** RFC 7541 Appendix B: (code, bit-length) per symbol 0..255, plus EOS
    * at index 256. A canonical complete code — codes of each length are
    * consecutive, and the 30-bit EOS is all-ones, which is what makes the
    * §5.2 padding rule ("padding must be the most significant bits of
    * EOS") equivalent to "trailing bits are all 1s, at most 7 of them". */
  private val HuffmanCodes: Array[(Int, Int)] = Array(
    (0x1ff8, 13), (0x7fffd8, 23), (0xfffffe2, 28), (0xfffffe3, 28),
    (0xfffffe4, 28), (0xfffffe5, 28), (0xfffffe6, 28), (0xfffffe7, 28),
    (0xfffffe8, 28), (0xffffea, 24), (0x3ffffffc, 30), (0xfffffe9, 28),
    (0xfffffea, 28), (0x3ffffffd, 30), (0xfffffeb, 28), (0xfffffec, 28),
    (0xfffffed, 28), (0xfffffee, 28), (0xfffffef, 28), (0xffffff0, 28),
    (0xffffff1, 28), (0xffffff2, 28), (0x3ffffffe, 30), (0xffffff3, 28),
    (0xffffff4, 28), (0xffffff5, 28), (0xffffff6, 28), (0xffffff7, 28),
    (0xffffff8, 28), (0xffffff9, 28), (0xffffffa, 28), (0xffffffb, 28),
    (0x14, 6), (0x3f8, 10), (0x3f9, 10), (0xffa, 12),
    (0x1ff9, 13), (0x15, 6), (0xf8, 8), (0x7fa, 11),
    (0x3fa, 10), (0x3fb, 10), (0xf9, 8), (0x7fb, 11),
    (0xfa, 8), (0x16, 6), (0x17, 6), (0x18, 6),
    (0x0, 5), (0x1, 5), (0x2, 5), (0x19, 6),
    (0x1a, 6), (0x1b, 6), (0x1c, 6), (0x1d, 6),
    (0x1e, 6), (0x1f, 6), (0x5c, 7), (0xfb, 8),
    (0x7ffc, 15), (0x20, 6), (0xffb, 12), (0x3fc, 10),
    (0x1ffa, 13), (0x21, 6), (0x5d, 7), (0x5e, 7),
    (0x5f, 7), (0x60, 7), (0x61, 7), (0x62, 7),
    (0x63, 7), (0x64, 7), (0x65, 7), (0x66, 7),
    (0x67, 7), (0x68, 7), (0x69, 7), (0x6a, 7),
    (0x6b, 7), (0x6c, 7), (0x6d, 7), (0x6e, 7),
    (0x6f, 7), (0x70, 7), (0x71, 7), (0x72, 7),
    (0xfc, 8), (0x73, 7), (0xfd, 8), (0x1ffb, 13),
    (0x7fff0, 19), (0x1ffc, 13), (0x3ffc, 14), (0x22, 6),
    (0x7ffd, 15), (0x3, 5), (0x23, 6), (0x4, 5),
    (0x24, 6), (0x5, 5), (0x25, 6), (0x26, 6),
    (0x27, 6), (0x6, 5), (0x74, 7), (0x75, 7),
    (0x28, 6), (0x29, 6), (0x2a, 6), (0x7, 5),
    (0x2b, 6), (0x76, 7), (0x2c, 6), (0x8, 5),
    (0x9, 5), (0x2d, 6), (0x77, 7), (0x78, 7),
    (0x79, 7), (0x7a, 7), (0x7b, 7), (0x7ffe, 15),
    (0x7fc, 11), (0x3ffd, 14), (0x1ffd, 13), (0xffffffc, 28),
    (0xfffe6, 20), (0x3fffd2, 22), (0xfffe7, 20), (0xfffe8, 20),
    (0x3fffd3, 22), (0x3fffd4, 22), (0x3fffd5, 22), (0x7fffd9, 23),
    (0x3fffd6, 22), (0x7fffda, 23), (0x7fffdb, 23), (0x7fffdc, 23),
    (0x7fffdd, 23), (0x7fffde, 23), (0xffffeb, 24), (0x7fffdf, 23),
    (0xffffec, 24), (0xffffed, 24), (0x3fffd7, 22), (0x7fffe0, 23),
    (0xffffee, 24), (0x7fffe1, 23), (0x7fffe2, 23), (0x7fffe3, 23),
    (0x7fffe4, 23), (0x1fffdc, 21), (0x3fffd8, 22), (0x7fffe5, 23),
    (0x3fffd9, 22), (0x7fffe6, 23), (0x7fffe7, 23), (0xffffef, 24),
    (0x3fffda, 22), (0x1fffdd, 21), (0xfffe9, 20), (0x3fffdb, 22),
    (0x3fffdc, 22), (0x7fffe8, 23), (0x7fffe9, 23), (0x1fffde, 21),
    (0x7fffea, 23), (0x3fffdd, 22), (0x3fffde, 22), (0xfffff0, 24),
    (0x1fffdf, 21), (0x3fffdf, 22), (0x7fffeb, 23), (0x7fffec, 23),
    (0x1fffe0, 21), (0x1fffe1, 21), (0x3fffe0, 22), (0x1fffe2, 21),
    (0x7fffed, 23), (0x3fffe1, 22), (0x7fffee, 23), (0x7fffef, 23),
    (0xfffea, 20), (0x3fffe2, 22), (0x3fffe3, 22), (0x3fffe4, 22),
    (0x7ffff0, 23), (0x3fffe5, 22), (0x3fffe6, 22), (0x7ffff1, 23),
    (0x3ffffe0, 26), (0x3ffffe1, 26), (0xfffeb, 20), (0x7fff1, 19),
    (0x3fffe7, 22), (0x7ffff2, 23), (0x3fffe8, 22), (0x1ffffec, 25),
    (0x3ffffe2, 26), (0x3ffffe3, 26), (0x3ffffe4, 26), (0x7ffffde, 27),
    (0x7ffffdf, 27), (0x3ffffe5, 26), (0xfffff1, 24), (0x1ffffed, 25),
    (0x7fff2, 19), (0x1fffe3, 21), (0x3ffffe6, 26), (0x7ffffe0, 27),
    (0x7ffffe1, 27), (0x3ffffe7, 26), (0x7ffffe2, 27), (0xfffff2, 24),
    (0x1fffe4, 21), (0x1fffe5, 21), (0x3ffffe8, 26), (0x3ffffe9, 26),
    (0xffffffd, 28), (0x7ffffe3, 27), (0x7ffffe4, 27), (0x7ffffe5, 27),
    (0xfffec, 20), (0xfffff3, 24), (0xfffed, 20), (0x1fffe6, 21),
    (0x3fffe9, 22), (0x1fffe7, 21), (0x1fffe8, 21), (0x7ffff3, 23),
    (0x3fffea, 22), (0x3fffeb, 22), (0x1ffffee, 25), (0x1ffffef, 25),
    (0xfffff4, 24), (0xfffff5, 24), (0x3ffffea, 26), (0x7ffff4, 23),
    (0x3ffffeb, 26), (0x7ffffe6, 27), (0x3ffffec, 26), (0x3ffffed, 26),
    (0x7ffffe7, 27), (0x7ffffe8, 27), (0x7ffffe9, 27), (0x7ffffea, 27),
    (0x7ffffeb, 27), (0xffffffe, 28), (0x7ffffec, 27), (0x7ffffed, 27),
    (0x7ffffee, 27), (0x7ffffef, 27), (0x7fffff0, 27), (0x3ffffee, 26),
    (0x3fffffff, 30))

  /** Flat binary decode tree: slot 2·node+bit holds a child node index
    * (> 0), a terminal −(symbol+1) (< 0), or 0 for unreachable (a code
    * word that is no symbol's prefix — impossible in a complete canonical
    * code, so hitting 0 means corrupt input... or a wrong table, which
    * the Appendix C captures in Http2WireSpec would catch). Node 0 is the
    * root, so index 0 is free to mean "unset". ~500 nodes, built once. */
  private val huffTree: Array[Int] = {
    val buf = mutable.ArrayBuffer[Int](0, 0)
    var sym = 0
    while (sym < HuffmanCodes.length) {
      val (code, bits) = HuffmanCodes(sym)
      var node = 0
      var i = bits - 1
      while (i >= 0) {
        val slot = 2 * node + ((code >>> i) & 1)
        if (i == 0) buf(slot) = -(sym + 1)
        else {
          if (buf(slot) == 0) { buf(slot) = buf.length / 2; buf += 0; buf += 0 }
          node = buf(slot)
        }
        i -= 1
      }
      sym += 1
    }
    buf.toArray
  }

  /** Huffman-decode one HPACK string literal (RFC 7541 §5.2). Errors per
    * the RFC: an EOS symbol inside the data, padding longer than 7 bits,
    * and padding that is not a prefix of EOS (EOS is all-ones, so: any
    * 0-bit after the last complete symbol). */
  private[net] def huffmanDecode(buf: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream(len * 2)
    var node = 0
    var pending = 0      // bits consumed since the last emitted symbol
    var padOnes = true   // ... and whether every one of them was a 1-bit
    var i = 0
    while (i < len) {
      val b = buf(off + i) & 0xff
      var j = 7
      while (j >= 0) {
        val bit = (b >>> j) & 1
        pending += 1
        if (bit == 0) padOnes = false
        val v = huffTree(2 * node + bit)
        require(v != 0, "invalid HPACK Huffman code")
        if (v < 0) {
          val sym = -v - 1
          require(sym != 256, "HPACK Huffman EOS inside string literal")
          out.write(sym)
          node = 0; pending = 0; padOnes = true
        } else node = v
        j -= 1
      }
      i += 1
    }
    require(pending <= 7 && padOnes,
      s"invalid HPACK Huffman padding ($pending trailing bits)")
    out.toByteArray
  }

  /** HPACK prefix-coded integer (RFC 7541 §5.1): `first` carries the bits
    * above the prefix (pattern bits); values ≥ 2^prefix−1 continue in
    * 7-bit groups. */
  private def writeInt(out: ByteArrayOutputStream, first: Int, prefix: Int,
      value0: Int): Unit = {
    val max = (1 << prefix) - 1
    if (value0 < max) out.write(first | value0)
    else {
      out.write(first | max)
      var value = value0 - max
      while (value >= 128) { out.write((value & 0x7f) | 0x80); value >>>= 7 }
      out.write(value)
    }
  }

  private final class Reader(buf: Array[Byte]) {
    var pos = 0
    def hasNext: Boolean = pos < buf.length
    def byte(): Int = { val b = buf(pos) & 0xff; pos += 1; b }
    def peek: Int = buf(pos) & 0xff
    def int(prefix: Int): Int = {
      val max = (1 << prefix) - 1
      var v = byte() & max
      if (v == max) {
        var shift = 0
        var b = 0
        while ({ b = byte(); (b & 0x80) != 0 }) {
          v += (b & 0x7f) << shift; shift += 7
          require(shift <= 28, "HPACK integer overflow")
        }
        v += b << shift
      }
      v
    }
    def string(): String = {
      val huffman = (peek & 0x80) != 0
      val len = int(7)
      require(pos + len <= buf.length, "HPACK string overruns block")
      val s =
        if (huffman) new String(huffmanDecode(buf, pos, len), "ISO-8859-1")
        else new String(buf, pos, len, "ISO-8859-1")
      pos += len
      s
    }
  }

  /** Encode a header list: exact static matches as indexed fields, known
    * static names as literal-without-indexing with an indexed name,
    * everything else fully literal (no Huffman, no dynamic entries). */
  def encodeHeaders(headers: Seq[(String, String)]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def literal(s: String): Unit = {
      val b = s.getBytes("ISO-8859-1")
      writeInt(out, 0x00, 7, b.length) // H bit clear
      out.write(b)
    }
    headers.foreach { case (name, value) =>
      val exact = StaticTable.indexWhere(e => e._1 == name && e._2 == value)
      if (exact >= 0) writeInt(out, 0x80, 7, exact + 1)
      else {
        val nameIdx = StaticTable.indexWhere(_._1 == name)
        if (nameIdx >= 0) { writeInt(out, 0x00, 4, nameIdx + 1); literal(value) }
        else { out.write(0x00); literal(name); literal(value) }
      }
    }
    out.toByteArray
  }

  /** Decode-side dynamic table: newest first, index 62.. after the static
    * entries, FIFO eviction by the RFC's size rule (entry size = name +
    * value + 32 octets). */
  final class HpackDecoder(var maxSize: Int = 4096) {
    private val dynamic = mutable.ArrayDeque.empty[(String, String)]
    private var size = 0

    private def entrySize(e: (String, String)): Int = e._1.length + e._2.length + 32
    private def evictTo(limit: Int): Unit =
      while (size > limit && dynamic.nonEmpty) size -= entrySize(dynamic.removeLast())
    private def add(e: (String, String)): Unit = {
      evictTo(maxSize - entrySize(e))
      if (entrySize(e) <= maxSize) { dynamic.prepend(e); size += entrySize(e) }
    }
    private def at(idx: Int): (String, String) = {
      require(idx >= 1, s"HPACK index 0 is invalid")
      if (idx <= StaticTable.length) StaticTable(idx - 1)
      else {
        val d = idx - StaticTable.length - 1
        require(d < dynamic.length, s"HPACK index $idx beyond tables")
        dynamic(d)
      }
    }

    def decode(block: Array[Byte]): Seq[(String, String)] = {
      val r = new Reader(block)
      val out = mutable.ArrayBuffer.empty[(String, String)]
      while (r.hasNext) {
        val b = r.peek
        if ((b & 0x80) != 0) {                 // indexed field
          out += at(r.int(7))
        } else if ((b & 0xc0) == 0x40) {       // literal, incremental indexing
          val idx = r.int(6)
          val name = if (idx == 0) r.string() else at(idx)._1
          val e = (name, r.string())
          add(e); out += e
        } else if ((b & 0xe0) == 0x20) {       // dynamic table size update
          maxSize = r.int(5); evictTo(maxSize)
        } else {                               // without indexing / never indexed
          val idx = r.int(4)
          val name = if (idx == 0) r.string() else at(idx)._1
          out += ((name, r.string()))
        }
      }
      out.toSeq
    }
  }

  // -------------------------------------------------- connection endpoint

  /** One h2c connection endpoint: SETTINGS handshake, control-frame
    * handling (SETTINGS ACK, PING echo, WINDOW_UPDATE credit), and
    * flow-controlled DATA send/receive on a single stream — the gRPC
    * server-streaming shape with one RPC per connection. NOT thread-safe:
    * each endpoint is owned by one drainer/server thread, matching the
    * bridge's single-connection model. */
  final class Endpoint(in: InputStream, out: OutputStream,
      recvWindow: Int = DefaultWindow) {
    private val decoder = new HpackDecoder()
    // what WE may still send before the peer must grant more
    private var sendWindowConn: Long = DefaultWindow
    private val sendWindowStream = mutable.Map.empty[Int, Long]
    // a stream first touched AFTER the peer's SETTINGS starts at the
    // peer's advertised initial window, not the RFC default
    private def streamWindow(id: Int): Long =
      sendWindowStream.getOrElseUpdate(id, peerInitialWindow.toLong)
    private var peerMaxFrame: Int = DefaultMaxFrame
    private var peerInitialWindow: Int = DefaultWindow

    /** Our SETTINGS (advertising `recvWindow` as the stream initial window
      * when tuned above the default) plus, in the same flush, the
      * connection-level WINDOW_UPDATE that SETTINGS cannot carry
      * (RFC 7540 §6.9.2: INITIAL_WINDOW_SIZE applies to streams only). */
    def sendSettings(): Unit = {
      val payload =
        if (recvWindow == DefaultWindow) Array.emptyByteArray
        else Array[Byte](0, 4,
          ((recvWindow >>> 24) & 0xff).toByte, ((recvWindow >>> 16) & 0xff).toByte,
          ((recvWindow >>> 8) & 0xff).toByte, (recvWindow & 0xff).toByte)
      writeFrame(out, Frame(TSettings, 0, 0, payload))
      if (recvWindow != DefaultWindow) {
        val inc = recvWindow - DefaultWindow
        writeFrame(out, Frame(TWindowUpdate, 0, 0, Array[Byte](
          ((inc >>> 24) & 0x7f).toByte, ((inc >>> 16) & 0xff).toByte,
          ((inc >>> 8) & 0xff).toByte, (inc & 0xff).toByte)))
      }
      out.flush()
    }

    /** Handle one non-DATA, non-HEADERS frame; returns false for frames the
      * caller must interpret (never happens — those are filtered before). */
    def handleControl(f: Frame): Unit = f.tpe match {
      case TSettings if (f.flags & FAck) == 0 =>
        var i = 0
        while (i + 6 <= f.payload.length) {
          val id = ((f.payload(i) & 0xff) << 8) | (f.payload(i + 1) & 0xff)
          val v = ((f.payload(i + 2) & 0xff) << 24) | ((f.payload(i + 3) & 0xff) << 16) |
            ((f.payload(i + 4) & 0xff) << 8) | (f.payload(i + 5) & 0xff)
          if (id == 4) { // INITIAL_WINDOW_SIZE: rebase open stream windows
            val delta = v - peerInitialWindow
            peerInitialWindow = v
            sendWindowStream.keys.foreach(k => sendWindowStream(k) += delta)
          } else if (id == 5) peerMaxFrame = v
          i += 6
        }
        writeFrame(out, Frame(TSettings, FAck, 0, Array.emptyByteArray))
        out.flush()
      case TSettings => () // our SETTINGS, acked
      case TPing if (f.flags & FAck) == 0 =>
        writeFrame(out, Frame(TPing, FAck, 0, f.payload)); out.flush()
      case TPing => ()
      case TWindowUpdate =>
        val inc = (((f.payload(0) & 0x7f) << 24) | ((f.payload(1) & 0xff) << 16) |
          ((f.payload(2) & 0xff) << 8) | (f.payload(3) & 0xff)).toLong
        if (f.streamId == 0) sendWindowConn += inc
        else sendWindowStream.update(f.streamId, streamWindow(f.streamId) + inc)
      case TRstStream =>
        throw new EOFException(s"stream ${f.streamId} reset by peer")
      case TGoaway =>
        throw new EOFException("connection closed by GOAWAY")
      case TContinuation =>
        // only reachable OUTSIDE a header block (headerBlock consumes
        // in-block continuations) — a connection error per RFC 7540 §6.10
        throw new IllegalStateException(
          "CONTINUATION frame outside a header block")
      case _ => () // PRIORITY, PUSH_PROMISE(never negotiated), unknown: ignore
    }

    /** Reassemble one header block started by `first` (HEADERS): strip the
      * §6.2 adornments, then consume CONTINUATION frames until END_HEADERS.
      * RFC 7540 §6.2/§6.10: NO other frame — not even on another stream —
      * may interleave, so anything else here is a connection error. */
    private def headerBlock(first: Frame): Array[Byte] = {
      var block = framePayload(first)
      var end = (first.flags & FEndHeaders) != 0
      while (!end) {
        val f = readFrame(in).getOrElse(
          throw new EOFException("peer closed mid header block"))
        require(f.tpe == TContinuation && f.streamId == first.streamId,
          s"header block on stream ${first.streamId} interleaved by " +
            s"frame type ${f.tpe} stream ${f.streamId}")
        block = block ++ f.payload // CONTINUATION carries bare fragment bytes
        end = (f.flags & FEndHeaders) != 0
      }
      block
    }

    /** Emit one header block, fragmenting at the peer's max frame size —
      * HEADERS first, CONTINUATION for the rest, END_HEADERS on the last
      * (RFC 7540 §6.2). One frame suffices for every list this wire sends
      * today; the split keeps the emitter correct if one ever doesn't. */
    def sendHeaders(streamId: Int, headers: Seq[(String, String)],
        endStream: Boolean): Unit = {
      val block = encodeHeaders(headers)
      val esFlag = if (endStream) FEndStream else 0
      if (block.length <= peerMaxFrame)
        writeFrame(out, Frame(THeaders, FEndHeaders | esFlag, streamId, block))
      else {
        var off = 0
        var first = true
        while (off < block.length) {
          val n = math.min(peerMaxFrame, block.length - off)
          val last = off + n >= block.length
          val tpe = if (first) THeaders else TContinuation
          val flags = (if (first) esFlag else 0) | (if (last) FEndHeaders else 0)
          writeFrame(out, Frame(tpe, flags, streamId,
            java.util.Arrays.copyOfRange(block, off, off + n)))
          off += n; first = false
        }
      }
      out.flush()
    }

    /** Flow-controlled DATA: splits to the peer's max frame size and, when
      * either window is exhausted, blocks reading control frames until the
      * peer's WINDOW_UPDATE re-opens it. */
    def sendData(streamId: Int, bytes: Array[Byte], endStream: Boolean): Unit = {
      var off = 0
      while (off < bytes.length || (bytes.isEmpty && endStream)) {
        val want = math.min(peerMaxFrame, bytes.length - off)
        while (sendWindowConn < want || streamWindow(streamId) < want) {
          // everything written so far must REACH the peer before we block
          // on its credit: with a buffered writer, un-flushed DATA the peer
          // never saw cannot be granted back — flush-then-wait or deadlock
          out.flush()
          handleControl(readFrame(in).getOrElse(
            throw new EOFException("peer closed while send window exhausted")))
        }
        val last = off + want >= bytes.length
        writeFrame(out, Frame(TData,
          if (endStream && last) FEndStream else 0, streamId,
          java.util.Arrays.copyOfRange(bytes, off, off + want)))
        sendWindowConn -= want
        sendWindowStream.update(streamId, streamWindow(streamId) - want)
        off += want
        if (bytes.isEmpty) { out.flush(); return }
      }
      out.flush()
    }

    /** Grant receive credit back for consumed DATA (connection + stream),
      * BATCHED: consumed octets accumulate and one credit pair goes out per
      * half-window, not per frame — per-frame grants cost a write+flush
      * every ≤16 KB and were the h2c drain leg's dominant overhead. The
      * sender stalls only at a FULLY spent window, so granting at half
      * keeps ≥ recvWindow/2 octets of credit in flight at all times.
      * Best-effort once the peer has hung up: a server that sent its whole
      * response and closed leaves everything readable in the socket buffer
      * (FIN discards nothing), but our credit WRITES now fail — that is a
      * normal end-of-stream race, not an error, so grants go dark instead
      * of failing the read path that still has frames to deliver. */
    private var peerGone = false
    private var owed = 0
    private def grant(streamId: Int, n: Int): Unit = {
      owed += n
      if (owed >= math.max(recvWindow / 2, 1) && !peerGone) {
        val p = Array[Byte](((owed >>> 24) & 0x7f).toByte, ((owed >>> 16) & 0xff).toByte,
          ((owed >>> 8) & 0xff).toByte, (owed & 0xff).toByte)
        try {
          writeFrame(out, Frame(TWindowUpdate, 0, 0, p))
          writeFrame(out, Frame(TWindowUpdate, 0, streamId, p))
          out.flush()
          owed = 0
        } catch { case _: java.io.IOException => peerGone = true }
      }
    }

    /** Read one header list (a HEADERS-led block, CONTINUATIONs included),
      * handling control frames in between; returns (headers, endStream). */
    def recvHeaders(): (Seq[(String, String)], Boolean) = {
      val (_, h, es) = nextHeaders().getOrElse(
        throw new EOFException("peer closed"))
      (h, es)
    }

    /** Like [[recvHeaders]] but surfaces the stream id and turns a clean
      * close (EOF at a frame boundary, or GOAWAY) into None — the server
      * loop's "no more RPCs on this connection" signal. */
    def nextHeaders(): Option[(Int, Seq[(String, String)], Boolean)] = {
      while (true) {
        val f = readFrame(in) match {
          case None => return None
          case Some(fr) => fr
        }
        f.tpe match {
          case THeaders =>
            return Some((f.streamId, decoder.decode(headerBlock(f)),
              (f.flags & FEndStream) != 0))
          case TGoaway => return None
          case TData => throw new IllegalStateException("DATA before HEADERS")
          case _ => handleControl(f)
        }
      }
      sys.error("unreachable")
    }

    /** The stream's DATA bytes as an InputStream: frames are pulled on
      * demand, receive credit is granted per frame, control frames are
      * handled transparently, and EOF surfaces at END_STREAM (on DATA) or
      * at the trailing header block. [[ProtoWire.readFrame]] consumes this
      * directly — the LPM layer cannot tell transports apart. */
    def dataStream(streamId: Int,
        onTrailers: Seq[(String, String)] => Unit = _ => ()): InputStream =
      new InputStream {
        private var buf: Array[Byte] = Array.emptyByteArray
        private var pos = 0
        private var eos = false

        private def pull(): Unit =
          while (!eos && pos >= buf.length) {
            val f = readFrame(in).getOrElse(throw new EOFException(
              "peer closed mid-stream"))
            f.tpe match {
              case TData if f.streamId == streamId =>
                // credit the RAW payload (padding included, §6.9.1);
                // deliver the stripped bytes
                grant(streamId, f.payload.length)
                buf = framePayload(f); pos = 0
                if ((f.flags & FEndStream) != 0) eos = true
              case THeaders => // trailers end the stream
                onTrailers(decoder.decode(headerBlock(f)))
                eos = true
              case _ => handleControl(f)
            }
          }

        override def read(): Int = {
          pull()
          if (pos >= buf.length) -1
          else { val b = buf(pos) & 0xff; pos += 1; b }
        }
        // a zero-length read returns at once (the InputStream contract):
        // readNBytes issues one after every complete message, and pulling
        // there would hold that message until the next DATA frame arrives
        override def read(b: Array[Byte], off: Int, len: Int): Int = {
          if (len == 0) return 0
          pull()
          if (pos >= buf.length) return -1
          val n = math.min(len, buf.length - pos)
          System.arraycopy(buf, pos, b, off, n)
          pos += n
          n
        }
      }
  }

  // --------------------------------------------------------- gRPC roles

  /** The path the reference's subscription RPC would use; field/package
    * naming is this repo's (the reference's .proto lives in its npm dep —
    * see [[ProtoWire]]'s header on why parity is not claimed). */
  val GrpcPath = "/graft.v1.BlockStream/StreamData"

  /** Client half of a connection that can carry SUCCESSIVE RPCs: the
    * preface + SETTINGS once, then one stream per [[call]] on ids 1, 3,
    * 5… (RFC 7540 §5.1.1). Sequential, not concurrent — finish reading a
    * call's response stream before opening the next; the endpoint is
    * single-threaded like everything on this wire. `scheme` is "http" for
    * h2c and "https" when the socket is TLS ([[TlsWire]]). */
  final class ClientConnection(in: InputStream, out: OutputStream,
      recvWindow: Int = TunedWindow, scheme: String = "http") {
    // buffer both directions: writeFrame emits the 9-byte header a byte at
    // a time, and unbuffered that is 9 syscalls per frame on a raw socket
    private val bin = new java.io.BufferedInputStream(in, 64 << 10)
    private val bout = new java.io.BufferedOutputStream(out, 64 << 10)
    bout.write(ClientPreface)
    private val ep = new Endpoint(bin, bout, recvWindow)
    ep.sendSettings()
    private var nextSid = 1

    def call(authority: String, request: Array[Byte]): InputStream = {
      val sid = nextSid
      nextSid += 2
      ep.sendHeaders(sid, Seq(
        ":method" -> "POST", ":scheme" -> scheme, ":path" -> GrpcPath,
        ":authority" -> authority, "content-type" -> "application/grpc+proto",
        "te" -> "trailers"), endStream = false)
      val lpm = new ByteArrayOutputStream()
      ProtoWire.writeFrame(lpm, request)
      ep.sendData(sid, lpm.toByteArray, endStream = true)
      val (respHeaders, endAtHeaders) = ep.recvHeaders()
      require(respHeaders.exists(h => h._1 == ":status" && h._2 == "200"),
        s"non-200 gRPC response: $respHeaders")
      require(!endAtHeaders, "gRPC response ended before any DATA (trailers-only)")
      ep.dataStream(sid, trailers => {
        val st = trailers.collectFirst { case ("grpc-status", v) => v }
        require(st.contains("0"), s"gRPC stream failed: $trailers")
      })
    }
  }

  /** One-shot client: open a connection, run one RPC, return its response
    * DATA bytes as an InputStream (trailers checked for `grpc-status: 0`)
    * — the drainer's connection-per-subscription model. */
  def clientCall(in: InputStream, out: OutputStream, authority: String,
      request: Array[Byte], recvWindow: Int = TunedWindow,
      scheme: String = "http"): InputStream =
    new ClientConnection(in, out, recvWindow, scheme).call(authority, request)

  /** Server-side handle for one accepted RPC: response headers are already
    * out; DATA per message via `send`; trailers + END_STREAM via
    * `finish`. */
  final class ServerCall private[Http2Wire] (ep: Endpoint, sid: Int) {
    def send(msg: Array[Byte]): Unit = {
      val lpm = new ByteArrayOutputStream()
      ProtoWire.writeFrame(lpm, msg)
      ep.sendData(sid, lpm.toByteArray, endStream = false)
    }
    def finish(): Unit =
      ep.sendHeaders(sid, Seq("grpc-status" -> "0"), endStream = true)
  }

  /** Server half, single-RPC form: validate the preface, exchange
    * SETTINGS, accept the first stream's request headers + LPM request
    * body, and hand back the [[ServerCall]] writer. */
  def serverAccept(in: InputStream, out: OutputStream,
      recvWindow: Int = TunedWindow): (Array[Byte], ServerCall) = {
    val ep = serverHandshake(in, out, recvWindow)
    acceptOne(ep, 0).getOrElse(
      throw new EOFException("client closed before opening a stream"))._2
  }

  /** Server half, connection-reuse form: serve EVERY RPC the client opens
    * on this connection, in stream-id order, until it closes cleanly (EOF
    * or GOAWAY). Returns the number of RPCs served. */
  def serverAcceptLoop(in: InputStream, out: OutputStream,
      recvWindow: Int = TunedWindow)(
      handle: (Array[Byte], ServerCall) => Unit): Int = {
    val ep = serverHandshake(in, out, recvWindow)
    var lastSid = 0
    var served = 0
    var more = true
    while (more) acceptOne(ep, lastSid) match {
      case Some((sid, (request, call))) =>
        handle(request, call)
        lastSid = sid
        served += 1
      case None => more = false
    }
    served
  }

  private def serverHandshake(in: InputStream, out: OutputStream,
      recvWindow: Int): Endpoint = {
    val bin = new java.io.BufferedInputStream(in, 64 << 10)
    val bout = new java.io.BufferedOutputStream(out, 64 << 10)
    val ep = new Endpoint(bin, bout, recvWindow)
    ep.sendSettings() // the server preface IS a SETTINGS frame
    val preface = bin.readNBytes(ClientPreface.length)
    require(java.util.Arrays.equals(preface, ClientPreface),
      "client did not send the h2 connection preface")
    ep
  }

  /** Accept one RPC on the next client-opened stream (or None on a clean
    * close): request headers + the LPM request body consumed to the
    * half-close, response headers sent. */
  private def acceptOne(ep: Endpoint, lastSid: Int)
      : Option[(Int, (Array[Byte], ServerCall))] =
    ep.nextHeaders().map { case (sid, reqHeaders, endAtHeaders) =>
      require(sid % 2 == 1 && sid > lastSid,
        s"client stream ids must be odd and increasing: $sid after $lastSid")
      require(reqHeaders.exists(h => h._1 == ":path" && h._2 == GrpcPath),
        s"unexpected RPC path in $reqHeaders")
      require(!endAtHeaders, "request stream carried no body")
      val body = ep.dataStream(sid)
      val request = ProtoWire.readFrame(body).getOrElse(
        throw new EOFException("request stream ended before the LPM frame"))
      // drain the remainder of the request stream to its END_STREAM so the
      // half-close is consumed before the response starts
      while (body.read() != -1) ()
      ep.sendHeaders(sid, Seq(
        ":status" -> "200", "content-type" -> "application/grpc+proto"),
        endStream = false)
      (sid, (request, new ServerCall(ep, sid)))
    }
}
