package graft

import java.io.ByteArrayInputStream

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.net._
import graft.sources.v2.BlockFeedProvider

/** The h2c transport layer in isolation (frames + HPACK) and end-to-end
  * (the gRPC block stream over HTTP/2, including flow control under a
  * DATA volume that exhausts the 65535-octet default windows). */
class Http2WireSpec extends AnyFunSuite {
  import Http2Wire._

  test("frame header round-trips type, flags, stream id, payload") {
    val out = new java.io.ByteArrayOutputStream()
    val f = Frame(THeaders, FEndHeaders | FEndStream, 1, Array[Byte](1, 2, 3))
    writeFrame(out, f)
    val r = readFrame(new ByteArrayInputStream(out.toByteArray)).get
    assert(r.tpe == THeaders && r.flags == (FEndHeaders | FEndStream))
    assert(r.streamId == 1 && r.payload.toSeq == Seq[Byte](1, 2, 3))
    assert(readFrame(new ByteArrayInputStream(Array.emptyByteArray)).isEmpty)
  }

  test("HPACK: static-indexed, indexed-name, and new-name literals round-trip") {
    val headers = Seq(
      ":method" -> "POST",                       // exact static match -> indexed
      ":scheme" -> "http",                       // exact static match
      ":path" -> GrpcPath,                       // static name, literal value
      ":authority" -> "127.0.0.1:4000",
      "content-type" -> "application/grpc+proto",
      "te" -> "trailers",                        // new name, literal
      "grpc-status" -> "0",
      "x-long" -> ("v" * 300))                   // forces integer continuation
    val decoded = new HpackDecoder().decode(encodeHeaders(headers))
    assert(decoded == headers)
  }

  test("HPACK decoder: incremental indexing populates the dynamic table") {
    // literal with incremental indexing, new name "a"="b", then indexed 62
    val block = Array[Byte](
      0x40, 0x01, 'a'.toByte, 0x01, 'b'.toByte, // 0x40 = incremental, new name
      (0x80 | 62).toByte)                        // indexed: first dynamic entry
    val decoded = new HpackDecoder().decode(block)
    assert(decoded == Seq("a" -> "b", "a" -> "b"))
  }

  private def hex(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  test("HPACK Huffman: RFC 7541 C.4 — three foreign request captures on one connection") {
    // The RFC's OWN Huffman-coded captures (what a stock gRPC client's
    // HPACK encoder emits), fed through ONE decoder so the dynamic-table
    // interplay is exercised exactly as on a live connection.
    val d = new HpackDecoder()
    assert(d.decode(hex("8286 8441 8cf1 e3c2 e5f2 3a6b a0ab 90f4 ff")) == Seq(
      ":method" -> "GET", ":scheme" -> "http", ":path" -> "/",
      ":authority" -> "www.example.com"))
    assert(d.decode(hex("8286 84be 5886 a8eb 1064 9cbf")) == Seq(
      ":method" -> "GET", ":scheme" -> "http", ":path" -> "/",
      ":authority" -> "www.example.com", "cache-control" -> "no-cache"))
    assert(d.decode(hex("8287 85bf 4088 25a8 49e9 5ba9 7d7f 8925 a849 e95b b8e8 b4bf")) == Seq(
      ":method" -> "GET", ":scheme" -> "https", ":path" -> "/index.html",
      ":authority" -> "www.example.com", "custom-key" -> "custom-value"))
  }

  test("HPACK Huffman: RFC 7541 C.6.1 — the Huffman-coded response capture") {
    val d = new HpackDecoder()
    assert(d.decode(hex(
      "4882 6402 5885 aec3 771a 4b61 96d0 7abe 9410 54d4 44a8 2005 9504 0b81" +
        " 66e0 82a6 2d1b ff6e 919d 29ad 1718 63c7 8f0b 97c8 e9ae 82ae 43d3")) == Seq(
      ":status" -> "302", "cache-control" -> "private",
      "date" -> "Mon, 21 Oct 2013 20:13:21 GMT",
      "location" -> "https://www.example.com"))
  }

  test("HPACK Huffman: RFC 7541 §5.2 error rules — EOS, long padding, 0-bit padding") {
    def decodeStr(payload: String): Seq[(String, String)] = {
      val v = hex(payload)
      new HpackDecoder().decode(
        Array[Byte](0x00, 0x01, 'a'.toByte, (0x80 | v.length).toByte) ++ v)
    }
    // the 30-bit EOS symbol inside the data MUST be a decoding error
    val eos = intercept[IllegalArgumentException](decodeStr("ffffffff"))
    assert(eos.getMessage.contains("EOS"))
    // 'a' (00011) + 11 one-bits: padding strictly longer than 7 bits
    val long = intercept[IllegalArgumentException](decodeStr("1fff"))
    assert(long.getMessage.contains("padding"))
    // 'a' (00011) + 110: padding must be all ones (a prefix of EOS)
    val zero = intercept[IllegalArgumentException](decodeStr("1e"))
    assert(zero.getMessage.contains("padding"))
    // well-formed: 'a' + 3 one-bits of padding decodes
    assert(decodeStr("1f") == Seq("a" -> "a"))
  }

  test("accept side: fragmented, padded, priority-laden request parses (RFC 7540 §6.1/§6.2/§6.10)") {
    // what a stock client may legally send: HEADERS with PRIORITY and
    // PADDED set and NO END_HEADERS, the block completed by CONTINUATION,
    // then the LPM body in a PADDED DATA frame — crafted byte-for-byte
    // and fed to serverAccept
    val reqHeaders = Seq(
      ":method" -> "POST", ":scheme" -> "http", ":path" -> GrpcPath,
      ":authority" -> "127.0.0.1:1", "content-type" -> "application/grpc+proto",
      "te" -> "trailers")
    val block = encodeHeaders(reqHeaders)
    val (h1, h2) = block.splitAt(block.length / 2)
    val lpm = new java.io.ByteArrayOutputStream()
    ProtoWire.writeFrame(lpm, Array[Byte](7, 8, 9))

    val wire = new java.io.ByteArrayOutputStream()
    wire.write(ClientPreface)
    // HEADERS: PADDED(3) + PRIORITY(5 bytes: stream dep + weight), no END_HEADERS
    writeFrame(wire, Frame(THeaders, FPadded | FPriority, 1,
      Array[Byte](3) ++ Array[Byte](0, 0, 0, 0, 16) ++ h1 ++ Array[Byte](0, 0, 0)))
    writeFrame(wire, Frame(TContinuation, FEndHeaders, 1, h2))
    writeFrame(wire, Frame(TData, FPadded | FEndStream, 1,
      Array[Byte](2) ++ lpm.toByteArray ++ Array[Byte](0, 0)))

    val (request, _) = serverAccept(
      new ByteArrayInputStream(wire.toByteArray), new java.io.ByteArrayOutputStream())
    assert(request.toSeq == Seq[Byte](7, 8, 9))
  }

  test("accept side: a frame interleaving an open header block is a connection error") {
    val block = encodeHeaders(Seq(
      ":method" -> "POST", ":scheme" -> "http", ":path" -> GrpcPath))
    val wire = new java.io.ByteArrayOutputStream()
    wire.write(ClientPreface)
    writeFrame(wire, Frame(THeaders, 0, 1, block)) // no END_HEADERS: block open
    writeFrame(wire, Frame(TPing, 0, 0, new Array[Byte](8))) // illegal interleave
    writeFrame(wire, Frame(TContinuation, FEndHeaders, 1, Array.emptyByteArray))
    val e = intercept[IllegalArgumentException] {
      serverAccept(new ByteArrayInputStream(wire.toByteArray),
        new java.io.ByteArrayOutputStream())
    }
    assert(e.getMessage.contains("interleaved"))
  }

  test("emit side: a header block larger than the peer's max frame fragments and reassembles") {
    val in = new java.io.ByteArrayOutputStream() // peer SETTINGS: max frame 24
    writeFrame(in, Frame(TSettings, 0, 0, Array[Byte](0, 5, 0, 0, 0, 24)))
    val sent = new java.io.ByteArrayOutputStream()
    val ep = new Endpoint(new ByteArrayInputStream(in.toByteArray), sent)
    ep.handleControl(readFrame(new ByteArrayInputStream(in.toByteArray)).get)
    val headers = Seq("grpc-status" -> "0", "grpc-message" -> ("x" * 100))
    ep.sendHeaders(1, headers, endStream = true)

    val rd = new ByteArrayInputStream(sent.toByteArray)
    readFrame(rd).get // our SETTINGS ACK
    val first = readFrame(rd).get
    assert(first.tpe == THeaders && (first.flags & FEndHeaders) == 0)
    assert((first.flags & FEndStream) != 0, "END_STREAM rides the FIRST frame")
    var block = first.payload
    var done = false
    while (!done) {
      val f = readFrame(rd).get
      assert(f.tpe == TContinuation && f.payload.length <= 24)
      block = block ++ f.payload
      done = (f.flags & FEndHeaders) != 0
    }
    assert(new HpackDecoder().decode(block) == headers)
  }

  test("sequential streams: one connection carries successive RPCs on ids 1, 3, 5") {
    // the server loop serves each subscription the client opens; the
    // client resubscribes from a moved cursor WITHOUT redialing
    val script = BlockStreamScenario.chainWithReorg(blocks = 20L, reorgAt = 10L)
    val srv = new BlockStreamServer(script, binary = true, h2c = true)
    try {
      val sock = new java.net.Socket("127.0.0.1", srv.boundPort)
      try {
        val conn = new ClientConnection(sock.getInputStream, sock.getOutputStream)
        def messages(cursor: Int): Seq[String] = {
          val body = conn.call("127.0.0.1", BlockProtoCodec.encodeRequest(
            BlockStreamWire.mapper.readTree(BlockStreamWire.subscribe(cursor))))
          Iterator.continually(ProtoWire.readFrame(body))
            .takeWhile(_.isDefined)
            .map(f => BlockProtoCodec.decodeResponse(f.get).toString)
            .toSeq
        }
        val all = messages(0)     // stream 1: the full script + terminator
        assert(all.length == script.length + 1)
        val tail = messages(3)    // stream 3: same connection, cursor 3
        assert(tail.length == script.length - 3 + 1)
        val none = messages(script.length) // stream 5: terminator only
        assert(none.length == 1)
      } finally sock.close()
    } finally srv.close()
  }

  test("a message reaches the client on arrival, while the stream stays open") {
    // ProtoWire.readFrame ends every message with a zero-length read; the
    // data stream must answer it at once rather than wait for the next
    // DATA frame — a pending head would otherwise sit on the wire until
    // the block after it is sent
    val release = new java.util.concurrent.CountDownLatch(1)
    val ss = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
    val server = new Thread(() => {
      val s = ss.accept()
      try {
        val (_, call) = serverAccept(s.getInputStream, s.getOutputStream)
        call.send("head".getBytes("UTF-8"))
        release.await(30, java.util.concurrent.TimeUnit.SECONDS)
        call.finish()
      } finally s.close()
    }, "h2-arrival-server")
    server.start()
    val sock = new java.net.Socket("127.0.0.1", ss.getLocalPort)
    try {
      val body = new ClientConnection(sock.getInputStream, sock.getOutputStream)
        .call("127.0.0.1", "subscribe".getBytes("UTF-8"))
      val first = java.util.concurrent.CompletableFuture.supplyAsync(() => ProtoWire.readFrame(body))
      val msg = first.get(1, java.util.concurrent.TimeUnit.SECONDS)
      assert(msg.map(new String(_, "UTF-8")).contains("head"))
      release.countDown()
      assert(ProtoWire.readFrame(body).isEmpty) // trailers end the stream
    } finally { release.countDown(); sock.close(); server.join(10000); ss.close() }
  }

  test("h2c e2e: the reorg scenario drains identically over HTTP/2") {
    val root = SparkSpec.tempDir("graft-h2c-e2e").toString
    val script = BlockStreamScenario.chainWithReorg(blocks = 80L, reorgAt = 50L)
    val srv = new BlockStreamServer(script, binary = true, h2c = true)
    try {
      val n = BlockStreamDrainer.drain(
        "127.0.0.1", srv.boundPort, s"$root/feed", binary = true, h2c = true)
      assert(n == script.length, s"every message becomes one chunk, got $n")
      val ids = BlockFeedProvider.listChunks(s"$root/feed")
        .map(p => java.nio.file.Paths.get(p).getFileName.toString)
        .flatMap(BlockFeedProvider.chunkId)
      assert(ids.toSeq == (1L to script.length).toSeq)
    } finally srv.close()
  }

  test("h2c resume: a second connection subscribes from the chunk count") {
    val root = SparkSpec.tempDir("graft-h2c-resume").toString
    val script = BlockStreamScenario.chainWithReorg(blocks = 40L, reorgAt = 20L)
    val srv = new BlockStreamServer(script, binary = true, h2c = true)
    try {
      val (n1, done1) = BlockStreamDrainer.drainOnce(
        "127.0.0.1", srv.boundPort, s"$root/feed", maxMessages = 2,
        binary = true, h2c = true)
      assert(n1 == 2 && !done1)
      val (n2, done2) = BlockStreamDrainer.drainOnce(
        "127.0.0.1", srv.boundPort, s"$root/feed", binary = true, h2c = true)
      assert(done2 && n1 + n2 == script.length)
    } finally srv.close()
  }

  test("flow control: a DATA volume past the 65535-octet windows still drains") {
    // BOTH ends pinned to the RFC default window: one data message with
    // 6000 events is ~200 KB of protobuf — more than three times the
    // 65535-octet connection/stream windows, so the server MUST block on
    // the drainer's WINDOW_UPDATEs (and split to 16 KB frames) to finish;
    // a missing credit grant on either side deadlocks this test. The
    // production default (TunedWindow) would mask the blocking path here,
    // which is exactly why the knob is explicit.
    val root = SparkSpec.tempDir("graft-h2c-flow").toString
    val big = BlockStreamWire.data(Seq(BlockStreamWire.WireBlock(
      1L, 1704067200L, events = (0L until 6000L).map(i => (i / 50, i % 50)))))
    val srv = new BlockStreamServer(Seq(big), binary = true, h2c = true,
      h2cWindow = DefaultWindow)
    try {
      val n = BlockStreamDrainer.drain(
        "127.0.0.1", srv.boundPort, s"$root/feed", binary = true, h2c = true,
        h2cWindow = DefaultWindow)
      assert(n == 1L)
      val chunk = BlockFeedProvider.listChunks(s"$root/feed").head
      val rows = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(chunk)), "UTF-8").linesIterator.size
      assert(rows >= 6000, s"all 6000 events must cross the transport, got $rows")
    } finally srv.close()
  }

  test("tuned windows: the same oversized volume drains at the production default") {
    // the 4 MiB TunedWindow + batched half-window grants: same payload,
    // default knobs — covers the SETTINGS id-4 advertisement, the
    // connection-level top-up WINDOW_UPDATE, and the batched grant path
    // (200 KB < 4 MiB, so the sender never blocks; credit frames go out
    // at half-window, not per 16 KB frame)
    val root = SparkSpec.tempDir("graft-h2c-tuned").toString
    val big = BlockStreamWire.data(Seq(BlockStreamWire.WireBlock(
      1L, 1704067200L, events = (0L until 6000L).map(i => (i / 50, i % 50)))))
    val srv = new BlockStreamServer(Seq(big), binary = true, h2c = true)
    try {
      val n = BlockStreamDrainer.drain(
        "127.0.0.1", srv.boundPort, s"$root/feed", binary = true, h2c = true)
      assert(n == 1L)
    } finally srv.close()
  }
}
