package graft

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.net._

/** Concurrent gRPC streams over HTTP/2 ([[GrpcH2]] on Netty): several RPCs
  * in flight on ONE connection, frames interleaved, the connection's
  * flow-control window shared, and concurrent drainers on separate
  * connections. The barrier tests PROVE concurrency rather than assume it
  * — any sequential server fails them by construction. */
class Http2MuxSpec extends AnyFunSuite {

  private def utf8(s: String) = s.getBytes("UTF-8")

  /** A server running `rpc` and one client connection to it. */
  private def withPair[A](rpc: (Array[Byte], Array[Byte] => Unit) => Unit)(
      body: GrpcH2.Connection => A): A = {
    val srv = GrpcH2.serve(0, None)(rpc)
    try {
      val conn = GrpcH2.connect("127.0.0.1", srv.port, None)
      try body(conn) finally conn.close()
    } finally srv.close()
  }

  private def readAll(body: java.io.InputStream): Seq[Array[Byte]] =
    Iterator.continually(ProtoWire.readFrame(body)).takeWhile(_.isDefined).map(_.get).toSeq

  test("four RPCs are in flight at once on one connection (barrier proof)") {
    // every handler waits until ALL FOUR requests have been accepted
    // before answering: a sequential server (one RPC in flight at a time)
    // can never release this latch
    val allAccepted = new CountDownLatch(4)
    val results = new ConcurrentHashMap[String, Seq[String]]()
    withPair { (request, send) =>
      allAccepted.countDown()
      assert(allAccepted.await(20, TimeUnit.SECONDS), "barrier timed out")
      val tag = new String(request, "UTF-8")
      (1 to 3).foreach(i => send(utf8(s"$tag-$i")))
    } { conn =>
      val clients = (1 to 4).map { c =>
        val t = new Thread(() => {
          val msgs = readAll(conn.call(utf8(s"rpc$c"))).map(new String(_, "UTF-8"))
          results.put(s"rpc$c", msgs); ()
        }, s"mux-spec-client-$c")
        t.start(); t
      }
      clients.foreach(_.join(30000))
      assert(results.size == 4)
      (1 to 4).foreach { c =>
        assert(results.get(s"rpc$c") == Seq(s"rpc$c-1", s"rpc$c-2", s"rpc$c-3"))
      }
    }
  }

  test("window starvation under concurrency: interleaved MB-scale streams stay intact") {
    // two concurrent calls each pull 4 MiB: together twice the 4 MiB
    // connection window, so neither stream finishes without the other's
    // consumption granting shared connection credit back — data integrity
    // here means per-stream frames interleaved AND routed correctly
    def pattern(tag: Int, i: Int): Array[Byte] =
      Array.fill(64 * 1024)(((tag * 31 + i * 7) & 0xff).toByte)
    withPair { (request, send) =>
      val tag = request(0).toInt
      (0 until 64).foreach(i => send(pattern(tag, i))) // 64 × 64 KiB
    } { conn =>
      val ok = new ConcurrentHashMap[Int, Boolean]()
      val readers = Seq(1, 2).map { tag =>
        val t = new Thread(() => {
          val msgs = readAll(conn.call(Array(tag.toByte)))
          ok.put(tag, msgs.length == 64 && msgs.zipWithIndex.forall {
            case (m, i) => java.util.Arrays.equals(m, pattern(tag, i))
          }); ()
        }, s"mux-spec-reader-$tag")
        t.start(); t
      }
      readers.foreach(_.join(30000))
      assert(ok.get(1) == true && ok.get(2) == true)
    }
  }

  test("block stream: two subscriptions drain CONCURRENTLY from one connection") {
    val script = BlockStreamScenario.chainWithReorg(blocks = 30L, reorgAt = 15L)
    val srv = new BlockStreamServer(script, binary = true, h2c = true)
    try {
      val conn = GrpcH2.connect("127.0.0.1", srv.boundPort, None)
      try {
        val counts = new ConcurrentHashMap[Int, Int]()
        val subs = Seq(0, 3).map { cursor =>
          val t = new Thread(() => {
            val body = conn.call(BlockProtoCodec.encodeRequest(
              BlockStreamWire.mapper.readTree(BlockStreamWire.subscribe(cursor))))
            counts.put(cursor, readAll(body).size); ()
          }, s"mux-spec-sub-$cursor")
          t.start(); t
        }
        subs.foreach(_.join(30000))
        assert(counts.get(0) == script.length + 1) // full script + terminator
        assert(counts.get(3) == script.length - 3 + 1)
      } finally conn.close()
    } finally srv.close()
  }

  test("block stream: two drainers on two connections are served at the same time") {
    // reading the script's first message blocks until BOTH subscriptions
    // have reached it: a server that serves one connection at a time
    // fails the second drainer's stream with the barrier's timeout
    val script = BlockStreamScenario.chainWithReorg(blocks = 30L, reorgAt = 15L)
    val bothSubscribed = new CountDownLatch(2)
    val gated: Seq[String] = new scala.collection.immutable.IndexedSeq[String] {
      def length: Int = script.length
      def apply(i: Int): String = {
        if (i == 0) {
          bothSubscribed.countDown()
          require(bothSubscribed.await(20, TimeUnit.SECONDS), "barrier timed out")
        }
        script(i)
      }
    }
    val root = SparkSpec.tempDir("graft-mux-drainers").toString
    val srv = new BlockStreamServer(gated, h2c = true)
    try {
      val drains = Seq("a", "b").map { d =>
        CompletableFuture.supplyAsync(() => BlockStreamDrainer.drainOnce(
          "127.0.0.1", srv.boundPort, s"$root/$d", h2c = true))
      }
      drains.foreach(f => assert(f.get(30, TimeUnit.SECONDS) == ((script.length.toLong, true))))
    } finally srv.close()
  }

  test("a message reaches the client on arrival, while the stream stays open") {
    // the response body must answer ProtoWire.readFrame's zero-length read
    // at once, not wait for the stream's next frame
    val release = new CountDownLatch(1)
    withPair { (_, send) =>
      send(utf8("head"))
      release.await(30, TimeUnit.SECONDS); ()
    } { conn =>
      try {
        val body = conn.call(utf8("subscribe"))
        val first = CompletableFuture.supplyAsync(() => ProtoWire.readFrame(body))
        val msg = first.get(1, TimeUnit.SECONDS)
        assert(msg.map(new String(_, "UTF-8")).contains("head"))
        release.countDown()
        assert(ProtoWire.readFrame(body).isEmpty) // trailers end the stream
      } finally release.countDown()
    }
  }

  test("sequential reuse still works on the mux client (ids 1, 3)") {
    withPair((request, send) => send(request.reverse)) { conn =>
      def roundTrip(s: String): String = {
        val body = conn.call(utf8(s))
        val r = new String(ProtoWire.readFrame(body).get, "UTF-8")
        assert(ProtoWire.readFrame(body).isEmpty) // trailers end the stream
        r
      }
      assert(roundTrip("abc") == "cba")
      assert(roundTrip("mux!") == "!xum")
    }
  }
}
