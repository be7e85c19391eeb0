package graft.sources.net

import java.io.{ByteArrayOutputStream, EOFException, InputStream, OutputStream}
import java.nio.ByteBuffer

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode

/** Protocol-buffers wire format, hand-rolled — varints, tags, and
  * length-delimited fields per the published encoding (Google's protobuf
  * "encoding" spec: base-128 little-endian varints with MSB continuation;
  * `tag = field << 3 | wireType`; wire types 0 = varint, 1 = 64-bit,
  * 2 = length-delimited, 5 = 32-bit), written against zero dependencies
  * because the sandbox ships no protobuf jar.
  *
  * This is the binary half of the S1 frame story: [[BlockStreamWire]]
  * carries the reference's message GRAMMAR, and until round 12 it was
  * framed as JSON lines only. [[BlockProtoCodec]] frames the same grammar
  * as protobuf messages inside gRPC's Length-Prefixed-Message envelope,
  * and [[GrpcH2]] carries those envelopes as a real gRPC server-streaming
  * RPC over HTTP/2 on Netty (h2c, or h2 over TLS) — the reference's
  * production transport shape (`@apibara/protocol`, a gRPC stream) at
  * every layer: grammar, schema, framing, and transport.
  *
  * Field numbers are this repo's own (documented on [[BlockProtoCodec]]):
  * the reference does not vendor its `.proto` (it lives in the npm dep),
  * so numbering parity cannot be verified in-sandbox and is therefore not
  * claimed. Everything structural about the format — proto3 presence
  * semantics (scalar zero omitted, oneof members and embedded messages
  * always present), packed repeated varints, unknown-field skipping — is
  * implemented and property-tested (ProtoWireSpec).
  */
object ProtoWire {

  val WireVarint = 0
  val WireLen = 2

  /** Append-only message writer. Nested messages are built in their own
    * Writer and embedded length-delimited — the standard layout. */
  final class Writer {
    private val out = new ByteArrayOutputStream()
    def toBytes: Array[Byte] = out.toByteArray

    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7FL) != 0L) { out.write(((v & 0x7FL) | 0x80L).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    private def tag(field: Int, wire: Int): Unit = varint((field.toLong << 3) | wire)

    /** proto3 scalar presence: zero is the field's default and is NOT
      * serialized; the reader materializes it back. */
    def uint64(field: Int, v: Long): Unit =
      if (v != 0L) { tag(field, WireVarint); varint(v) }

    /** proto3 scalar presence for strings: empty is not serialized. */
    def string(field: Int, s: String): Unit =
      if (s.nonEmpty) bytes(field, s.getBytes("UTF-8"))

    /** A oneof-carried string: members of a oneof have EXPLICIT presence —
      * a set member is serialized even at its default value, and that
      * presence is what discriminates the arm. */
    def stringOneof(field: Int, s: String): Unit =
      bytes(field, s.getBytes("UTF-8"))

    def bytes(field: Int, b: Array[Byte]): Unit = {
      tag(field, WireLen); varint(b.length.toLong); out.write(b)
    }

    /** An embedded message — always serialized (message fields have
      * explicit presence; an EMPTY embedded message is a zero-length
      * payload, which is exactly how the heartbeat arm rides its oneof). */
    def message(field: Int, m: Writer): Unit = bytes(field, m.toBytes)

    /** Packed repeated uint64 (proto3's default repeated-scalar layout). */
    def packed(field: Int, vs: Seq[Long]): Unit =
      if (vs.nonEmpty) {
        val w = new Writer; vs.foreach(w.varint); bytes(field, w.toBytes)
      }
  }

  /** Cursor over one serialized message. Unknown fields are skippable by
    * wire type — the protobuf forward-compatibility contract. */
  final class Reader(buf: Array[Byte]) {
    private var pos = 0
    def hasRemaining: Boolean = pos < buf.length

    def varint(): Long = {
      var shift = 0; var acc = 0L
      var cont = true
      while (cont) {
        require(pos < buf.length, "varint overruns the buffer")
        val b = buf(pos); pos += 1
        acc |= (b & 0x7FL) << shift
        cont = (b & 0x80) != 0
        shift += 7
        require(shift <= 70, "varint overruns 64 bits")
      }
      acc
    }

    /** (fieldNumber, wireType) */
    def tag(): (Int, Int) = { val t = varint(); ((t >>> 3).toInt, (t & 7L).toInt) }

    def lenBytes(): Array[Byte] = {
      val n = varint().toInt
      require(n >= 0 && pos + n <= buf.length,
        "length-delimited field overruns the buffer")
      val b = java.util.Arrays.copyOfRange(buf, pos, pos + n); pos += n; b
    }

    def string(): String = new String(lenBytes(), "UTF-8")

    /** Skip a field this schema does not know, by wire type. */
    def skip(wire: Int): Unit = wire match {
      case 0 => varint(); ()
      case 1 => require(pos + 8 <= buf.length, "64-bit field overruns"); pos += 8
      case 2 => lenBytes(); ()
      case 5 => require(pos + 4 <= buf.length, "32-bit field overruns"); pos += 4
      case other => throw new IllegalStateException(s"unsupported wire type $other")
    }
  }

  // ------------------------------------------------------------- framing

  /** gRPC's Length-Prefixed-Message envelope (the public gRPC wire spec):
    * 1-byte compressed flag (always 0 here — no compression) + 4-byte
    * big-endian message length + the protobuf message bytes. */
  def writeFrame(out: OutputStream, msg: Array[Byte]): Unit = {
    out.write(0)
    out.write(ByteBuffer.allocate(4).putInt(msg.length).array())
    out.write(msg)
  }

  /** One frame, or None on clean EOF at a frame boundary. A truncated
    * frame (EOF mid-length or mid-body) is an error, not an end. */
  def readFrame(in: InputStream): Option[Array[Byte]] = {
    val flag = in.read()
    if (flag == -1) return None
    require(flag == 0, "compressed gRPC frames are not supported")
    val lenB = in.readNBytes(4)
    if (lenB.length < 4) throw new EOFException("truncated frame length")
    val len = ByteBuffer.wrap(lenB).getInt
    require(len >= 0 && len <= (1 << 26), s"implausible frame length $len")
    val msg = in.readNBytes(len)
    if (msg.length < len) throw new EOFException("truncated frame body")
    Some(msg)
  }
}

/** The reference's stream grammar ([[BlockStreamWire]]) as protobuf
  * messages. One codec, two directions, lossless against the JSON trees
  * the drainer dispatches on — `decode(encode(tree))` reproduces the tree,
  * so the drainer's `_tag` dispatch is identical under either framing.
  *
  * Schema (field numbers are this repo's; see [[ProtoWire]]'s header):
  * {{{
  *   message StreamDataRequest {                 // the subscribe shape
  *     repeated Filter filter = 1;               //   Filter:
  *     string finality = 2;                      //     repeated EventFilter events = 1
  *     Cursor starting_cursor = 3;               //   EventFilter:
  *   }                                           //     uint64 id = 1; string address = 2;
  *   message Cursor { uint64 order_key = 1; }    //     repeated bytes keys = 3
  *   message StreamDataResponse {
  *     oneof message {
  *       Data data = 1; Invalidate invalidate = 2;
  *       Heartbeat heartbeat = 3; SystemMessage system_message = 4;
  *     }
  *   }
  *   message Data {
  *     string production = 1; string finality = 2;
  *     Cursor end_cursor = 3; repeated Block data = 4;
  *   }
  *   message Block { BlockHeader header = 1; repeated Event events = 2; }
  *   message BlockHeader {
  *     uint64 block_number = 1; string block_hash = 2; uint64 timestamp = 3;
  *   }
  *   message Event {
  *     uint64 transaction_index = 1; uint64 event_index_in_transaction = 2;
  *     string address = 3; string transaction_hash = 4;
  *     repeated uint64 filter_ids = 5;           // packed
  *   }
  *   message Invalidate { Cursor cursor = 1; }
  *   message Heartbeat {}
  *   message SystemMessage {
  *     oneof output { string stdout = 1; string stderr = 2; }
  *   }
  * }}}
  */
object BlockProtoCodec {
  import ProtoWire._
  import BlockStreamWire.mapper

  // -------------------------------------------------------------- encode

  private def cursorW(orderKey: Long): Writer = {
    val w = new Writer; w.uint64(1, orderKey); w
  }

  def encodeRequest(req: JsonNode): Array[Byte] = {
    val w = new Writer
    req.path("filter").forEach { f =>
      val fw = new Writer
      f.path("events").forEach { e =>
        val ew = new Writer
        ew.uint64(1, e.path("id").asLong())
        ew.string(2, e.path("address").asText(""))
        e.path("keys").forEach(k => ew.bytes(3, k.asText("").getBytes("UTF-8")))
        fw.message(1, ew)
      }
      w.message(1, fw)
    }
    w.string(2, req.path("finality").asText(""))
    w.message(3, cursorW(req.path("startingCursor").path("orderKey").asLong()))
    w.toBytes
  }

  def encodeResponse(msg: JsonNode): Array[Byte] = {
    val w = new Writer
    msg.path("_tag").asText() match {
      case "data" =>
        val d = msg.path("data")
        val dw = new Writer
        dw.string(1, d.path("production").asText(""))
        dw.string(2, d.path("finality").asText(""))
        dw.message(3, cursorW(d.path("endCursor").path("orderKey").asLong()))
        d.path("data").forEach { b =>
          val bw = new Writer
          val h = b.path("header")
          val hw = new Writer
          hw.uint64(1, h.path("blockNumber").asLong())
          hw.string(2, h.path("blockHash").asText(""))
          hw.uint64(3, h.path("timestamp").asLong())
          bw.message(1, hw)
          b.path("events").forEach { e =>
            val ew = new Writer
            ew.uint64(1, e.path("transactionIndex").asLong())
            ew.uint64(2, e.path("eventIndexInTransaction").asLong())
            ew.string(3, e.path("address").asText(""))
            ew.string(4, e.path("transactionHash").asText(""))
            val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
            e.path("filterIds").forEach(i => { ids += i.asLong(); () })
            ew.packed(5, ids.toSeq)
            bw.message(2, ew)
          }
          dw.message(4, bw)
        }
        w.message(1, dw)
      case "invalidate" =>
        val iw = new Writer
        iw.message(1, cursorW(
          msg.path("invalidate").path("cursor").path("orderKey").asLong()))
        w.message(2, iw)
      case "heartbeat" =>
        w.message(3, new Writer) // empty payload: oneof presence alone
      case "systemMessage" =>
        val o = msg.path("systemMessage").path("output")
        val sw = new Writer
        if (o.path("_tag").asText() == "stderr")
          sw.stringOneof(2, o.path("stderr").asText(""))
        else sw.stringOneof(1, o.path("stdout").asText(""))
        w.message(4, sw)
      case other =>
        throw new IllegalArgumentException(s"unknown message arm: $other")
    }
    w.toBytes
  }

  // -------------------------------------------------------------- decode

  private def decodeCursor(b: Array[Byte]): Long = {
    val r = new Reader(b)
    var key = 0L
    while (r.hasRemaining) r.tag() match {
      case (1, 0) => key = r.varint()
      case (_, wire) => r.skip(wire)
    }
    key
  }

  def decodeRequest(bytes: Array[Byte]): JsonNode = {
    val root = mapper.createObjectNode()
    val filters = root.putArray("filter")
    var finality = ""
    var cursor = 0L
    val r = new Reader(bytes)
    while (r.hasRemaining) r.tag() match {
      case (1, 2) =>
        val fr = new Reader(r.lenBytes())
        val events = filters.addObject().putArray("events")
        while (fr.hasRemaining) fr.tag() match {
          case (1, 2) =>
            val er = new Reader(fr.lenBytes())
            val e = events.addObject()
            var id = 0L; var address = ""
            val keys = scala.collection.mutable.ArrayBuffer.empty[String]
            while (er.hasRemaining) er.tag() match {
              case (1, 0) => id = er.varint()
              case (2, 2) => address = er.string()
              case (3, 2) => keys += er.string()
              case (_, wire) => er.skip(wire)
            }
            e.put("id", id); e.put("address", address)
            val ka = e.putArray("keys")
            keys.foreach(ka.add)
          case (_, wire) => fr.skip(wire)
        }
      case (2, 2) => finality = r.string()
      case (3, 2) => cursor = decodeCursor(r.lenBytes())
      case (_, wire) => r.skip(wire)
    }
    root.put("finality", finality)
    root.putObject("startingCursor").put("orderKey", cursor)
    root
  }

  def decodeResponse(bytes: Array[Byte]): JsonNode = {
    val r = new Reader(bytes)
    var result: ObjectNode = null
    while (r.hasRemaining) r.tag() match {
      case (1, 2) => result = decodeData(r.lenBytes())
      case (2, 2) =>
        val ir = new Reader(r.lenBytes())
        var cur = 0L
        while (ir.hasRemaining) ir.tag() match {
          case (1, 2) => cur = decodeCursor(ir.lenBytes())
          case (_, wire) => ir.skip(wire)
        }
        result = mapper.createObjectNode()
        result.put("_tag", "invalidate")
        result.putObject("invalidate").putObject("cursor").put("orderKey", cur)
      case (3, 2) =>
        r.lenBytes() // the (empty) heartbeat payload
        result = mapper.createObjectNode()
        result.put("_tag", "heartbeat")
      case (4, 2) =>
        val sr = new Reader(r.lenBytes())
        var arm = "stdout"; var text = ""
        while (sr.hasRemaining) sr.tag() match {
          case (1, 2) => arm = "stdout"; text = sr.string()
          case (2, 2) => arm = "stderr"; text = sr.string()
          case (_, wire) => sr.skip(wire)
        }
        result = mapper.createObjectNode()
        result.put("_tag", "systemMessage")
        val o = result.putObject("systemMessage").putObject("output")
        o.put("_tag", arm); o.put(arm, text)
      case (_, wire) => r.skip(wire)
    }
    require(result != null, "response frame carries no message arm")
    result
  }

  private def decodeData(b: Array[Byte]): ObjectNode = {
    val root = mapper.createObjectNode()
    root.put("_tag", "data")
    val d = root.putObject("data")
    var production = ""; var finality = ""; var endCursor = 0L
    val blocks = mapper.createArrayNode()
    val r = new Reader(b)
    while (r.hasRemaining) r.tag() match {
      case (1, 2) => production = r.string()
      case (2, 2) => finality = r.string()
      case (3, 2) => endCursor = decodeCursor(r.lenBytes())
      case (4, 2) => blocks.add(decodeBlock(r.lenBytes()))
      case (_, wire) => r.skip(wire)
    }
    d.put("production", production)
    d.put("finality", finality)
    d.putObject("endCursor").put("orderKey", endCursor)
    d.set[JsonNode]("data", blocks)
    root
  }

  private def decodeBlock(b: Array[Byte]): ObjectNode = {
    val bo = mapper.createObjectNode()
    val header = bo.putObject("header")
    var bn = 0L; var hash = ""; var ts = 0L
    val events = bo.putArray("events")
    val r = new Reader(b)
    while (r.hasRemaining) r.tag() match {
      case (1, 2) =>
        val hr = new Reader(r.lenBytes())
        while (hr.hasRemaining) hr.tag() match {
          case (1, 0) => bn = hr.varint()
          case (2, 2) => hash = hr.string()
          case (3, 0) => ts = hr.varint()
          case (_, wire) => hr.skip(wire)
        }
      case (2, 2) =>
        val er = new Reader(r.lenBytes())
        var ti = 0L; var ei = 0L; var addr = ""; var txh = ""
        val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
        while (er.hasRemaining) er.tag() match {
          case (1, 0) => ti = er.varint()
          case (2, 0) => ei = er.varint()
          case (3, 2) => addr = er.string()
          case (4, 2) => txh = er.string()
          case (5, 2) => // packed
            val pr = new Reader(er.lenBytes())
            while (pr.hasRemaining) ids += pr.varint()
          case (5, 0) => ids += er.varint() // unpacked writer compat
          case (_, wire) => er.skip(wire)
        }
        val eo = events.addObject()
        eo.put("transactionIndex", ti)
        eo.put("eventIndexInTransaction", ei)
        eo.put("address", addr)
        eo.put("transactionHash", txh)
        val fa = eo.putArray("filterIds")
        ids.foreach(fa.add)
      case (_, wire) => r.skip(wire)
    }
    header.put("blockNumber", bn)
    header.put("blockHash", hash)
    header.put("timestamp", ts)
    bo
  }
}
