package graft

import java.util.concurrent.{CompletableFuture, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.net._
import graft.sources.v2.BlockFeedProvider

/** The gRPC block stream over HTTP/2 cleartext ([[GrpcH2]] on Netty),
  * end to end through [[BlockStreamServer]] and [[BlockStreamDrainer]]:
  * the reorg scenario, resume, arrival, connection reuse, messages larger
  * than a frame and than the whole receive window, and what a closed
  * server leaves behind. */
class Http2WireSpec extends AnyFunSuite {

  private def bigMessage(events: Long): String =
    BlockStreamWire.data(Seq(BlockStreamWire.WireBlock(
      1L, 1704067200L, events = (0L until events).map(i => (i / 50, i % 50)))))

  private def chunkRows(dir: String): Int =
    BlockFeedProvider.listChunks(dir).map { chunk =>
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(chunk)), "UTF-8").linesIterator.size
    }.sum

  test("sequential streams: one connection carries successive RPCs on ids 1, 3, 5") {
    // the server serves each subscription the client opens; the client
    // resubscribes from a moved cursor WITHOUT redialing
    val script = BlockStreamScenario.chainWithReorg(blocks = 20L, reorgAt = 10L)
    val srv = new BlockStreamServer(script, binary = true, h2c = true)
    try {
      val conn = GrpcH2.connect("127.0.0.1", srv.boundPort, None)
      try {
        def messages(cursor: Int): Seq[String] = {
          val body = conn.call(BlockProtoCodec.encodeRequest(
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
      } finally conn.close()
    } finally srv.close()
  }

  test("a message reaches the client on arrival, while the stream stays open") {
    // ProtoWire.readFrame ends every message with a zero-length read; the
    // response body must answer it at once rather than wait for the next
    // DATA frame — a pending head would otherwise sit on the wire until
    // the block after it is sent. The script's tail is held back until
    // the drainer has committed the head.
    val release = new CountDownLatch(1)
    val script = BlockStreamWire.heartbeat #:: {
      release.await(30, TimeUnit.SECONDS); LazyList(BlockStreamWire.heartbeat)
    }
    val root = SparkSpec.tempDir("graft-h2c-arrival").toString
    val srv = new BlockStreamServer(script, binary = true, h2c = true)
    try {
      val first = CompletableFuture.supplyAsync(() => BlockStreamDrainer.drainOnce(
        "127.0.0.1", srv.boundPort, s"$root/feed", maxMessages = 1, h2c = true))
      assert(first.get(5, TimeUnit.SECONDS) == ((1L, false)))
      release.countDown()
      val (n, done) = BlockStreamDrainer.drainOnce(
        "127.0.0.1", srv.boundPort, s"$root/feed", h2c = true)
      assert(done && n == 1L)
    } finally { release.countDown(); srv.close() }
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
    // one data message with 6000 events is ~200 KB of protobuf: more than
    // three times the RFC's default windows and a dozen 16 KB DATA frames,
    // reassembled into one message
    val root = SparkSpec.tempDir("graft-h2c-flow").toString
    val srv = new BlockStreamServer(Seq(bigMessage(6000L)), binary = true, h2c = true)
    try {
      val n = BlockStreamDrainer.drain(
        "127.0.0.1", srv.boundPort, s"$root/feed", binary = true, h2c = true)
      assert(n == 1L)
      val rows = chunkRows(s"$root/feed")
      assert(rows >= 6000, s"all 6000 events must cross the transport, got $rows")
    } finally srv.close()
  }

  test("flow control: one message larger than the 4 MiB window still drains") {
    // 150k events are ~5 MB of protobuf in ONE message: the server must
    // stall on the drainer's window refills mid-message to finish
    val root = SparkSpec.tempDir("graft-h2c-window").toString
    val events = 150000L
    val srv = new BlockStreamServer(Seq(bigMessage(events)), binary = true, h2c = true)
    try {
      val n = BlockStreamDrainer.drain(
        "127.0.0.1", srv.boundPort, s"$root/feed", binary = true, h2c = true)
      assert(n == 1L)
      assert(chunkRows(s"$root/feed") >= events)
    } finally srv.close()
  }

  test("after close, no transport thread holds the JVM and the port refuses connections") {
    def nonDaemon(): Set[Thread] =
      Thread.getAllStackTraces.keySet.asScala.filter(t => t.isAlive && !t.isDaemon).toSet
    val before = nonDaemon()
    val root = SparkSpec.tempDir("graft-h2c-hygiene").toString
    val script = BlockStreamScenario.chainWithReorg(blocks = 20L, reorgAt = 10L)
    val srv = new BlockStreamServer(script, binary = true, h2c = true)
    val port = srv.boundPort
    try {
      val n = BlockStreamDrainer.drain("127.0.0.1", port, s"$root/feed", h2c = true)
      assert(n == script.length)
    } finally srv.close()
    // the transport's threads are named graft-grpc-*; they may predate
    // this test (the event loop group is JVM-wide), so match them by name
    val left = nonDaemon().filter(t => !before(t) || t.getName.startsWith("graft-grpc"))
    assert(left.isEmpty, s"non-daemon threads left running: ${left.map(_.getName)}")
    intercept[java.net.ConnectException](new java.net.Socket("127.0.0.1", port).close())
  }
}
