package graft

import java.net.{ServerSocket, Socket}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.net._

/** Concurrent HTTP/2 stream multiplexing ([[Http2Mux]]): several RPCs in
  * flight on ONE connection, frames interleaved, shared flow-control
  * windows. Each test PROVES concurrency rather than assuming it — the
  * barrier test deadlocks by construction under any sequential serving. */
class Http2MuxSpec extends AnyFunSuite {

  /** One listening socket; `server` runs in its own thread on the single
    * accepted connection; `body` gets a connected client socket. */
  private def withPair[A](server: Socket => Unit)(body: Socket => A): A = {
    val ss = new ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
    val st = new Thread(() => {
      val s = ss.accept()
      try server(s) finally s.close()
    }, "mux-spec-server")
    st.start()
    val client = new Socket("127.0.0.1", ss.getLocalPort)
    try body(client)
    finally { client.close(); st.join(30000); ss.close() }
  }

  test("four RPCs are in flight at once on one connection (barrier proof)") {
    val served = new java.util.concurrent.atomic.AtomicInteger
    // every handler waits until ALL FOUR requests have been accepted
    // before answering: a sequential server (one RPC in flight at a time)
    // can never release this latch and the test would time out
    val allAccepted = new CountDownLatch(4)
    val results = new ConcurrentHashMap[String, Seq[String]]()
    withPair { s =>
      served.set(Http2Mux.serverLoop(s.getInputStream, s.getOutputStream) {
        (request, call) =>
          allAccepted.countDown()
          assert(allAccepted.await(20, TimeUnit.SECONDS), "barrier timed out")
          val tag = new String(request, "UTF-8")
          (1 to 3).foreach(i => call.send(s"$tag-$i".getBytes("UTF-8")))
          call.finish()
      })
    } { sock =>
      val conn = new Http2Mux.MuxClientConnection(
        sock.getInputStream, sock.getOutputStream)
      val clients = (1 to 4).map { c =>
        val t = new Thread(() => {
          val body = conn.call("127.0.0.1", s"rpc$c".getBytes("UTF-8"))
          val msgs = Iterator.continually(ProtoWire.readFrame(body))
            .takeWhile(_.isDefined).map(f => new String(f.get, "UTF-8")).toSeq
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
    assert(served.get == 4)
  }

  test("window starvation under concurrency: interleaved MB-scale streams stay intact") {
    // client advertises a SMALL receive window, then two concurrent calls
    // each pull ~1 MiB: neither stream can proceed without the other's
    // consumption granting shared connection credit back — data integrity
    // here means per-stream frames interleaved AND routed correctly
    def pattern(tag: Int, i: Int): Array[Byte] =
      Array.fill(16 * 1024)(((tag * 31 + i * 7) & 0xff).toByte)
    withPair { s =>
      Http2Mux.serverLoop(s.getInputStream, s.getOutputStream) { (request, call) =>
        val tag = request(0).toInt
        (0 until 64).foreach(i => call.send(pattern(tag, i))) // 64 × 16 KiB
        call.finish()
      }
      ()
    } { sock =>
      val conn = new Http2Mux.MuxClientConnection(
        sock.getInputStream, sock.getOutputStream, recvWindow = 48 * 1024)
      val ok = new ConcurrentHashMap[Int, Boolean]()
      val readers = Seq(1, 2).map { tag =>
        val t = new Thread(() => {
          val body = conn.call("127.0.0.1", Array(tag.toByte))
          var i = 0
          var good = true
          Iterator.continually(ProtoWire.readFrame(body))
            .takeWhile(_.isDefined).foreach { f =>
              good &&= java.util.Arrays.equals(f.get, pattern(tag, i))
              i += 1
            }
          ok.put(tag, good && i == 64); ()
        }, s"mux-spec-reader-$tag")
        t.start(); t
      }
      readers.foreach(_.join(30000))
      assert(ok.get(1) == true && ok.get(2) == true)
    }
  }

  test("block stream: two subscriptions drain CONCURRENTLY from one connection") {
    val script = BlockStreamScenario.chainWithReorg(blocks = 30L, reorgAt = 15L)
    val srv = new BlockStreamServer(script, binary = true, h2c = true, mux = true)
    try {
      val sock = new Socket("127.0.0.1", srv.boundPort)
      try {
        val conn = new Http2Mux.MuxClientConnection(
          sock.getInputStream, sock.getOutputStream)
        val counts = new ConcurrentHashMap[Int, Int]()
        val subs = Seq(0, 3).map { cursor =>
          val t = new Thread(() => {
            val body = conn.call("127.0.0.1", BlockProtoCodec.encodeRequest(
              BlockStreamWire.mapper.readTree(BlockStreamWire.subscribe(cursor))))
            val n = Iterator.continually(ProtoWire.readFrame(body))
              .takeWhile(_.isDefined).size
            counts.put(cursor, n); ()
          }, s"mux-spec-sub-$cursor")
          t.start(); t
        }
        subs.foreach(_.join(30000))
        assert(counts.get(0) == script.length + 1) // full script + terminator
        assert(counts.get(3) == script.length - 3 + 1)
      } finally sock.close()
    } finally srv.close()
  }

  test("a message reaches the client on arrival, while the stream stays open") {
    // the mux stream input must answer ProtoWire.readFrame's zero-length
    // read at once, not wait for the stream's next event
    val release = new CountDownLatch(1)
    withPair { s =>
      Http2Mux.serverLoop(s.getInputStream, s.getOutputStream) { (_, call) =>
        call.send("head".getBytes("UTF-8"))
        release.await(30, TimeUnit.SECONDS)
        call.finish()
      }
      ()
    } { sock =>
      try {
        val body = new Http2Mux.MuxClientConnection(sock.getInputStream, sock.getOutputStream)
          .call("127.0.0.1", "subscribe".getBytes("UTF-8"))
        val first = java.util.concurrent.CompletableFuture.supplyAsync(() => ProtoWire.readFrame(body))
        val msg = first.get(1, TimeUnit.SECONDS)
        assert(msg.map(new String(_, "UTF-8")).contains("head"))
        release.countDown()
        assert(ProtoWire.readFrame(body).isEmpty) // trailers end the stream
      } finally release.countDown()
    }
  }

  test("sequential reuse still works on the mux client (ids 1, 3)") {
    withPair { s =>
      Http2Mux.serverLoop(s.getInputStream, s.getOutputStream) { (request, call) =>
        call.send(request.reverse); call.finish()
      }
      ()
    } { sock =>
      val conn = new Http2Mux.MuxClientConnection(
        sock.getInputStream, sock.getOutputStream)
      def roundTrip(s: String): String = {
        val body = conn.call("127.0.0.1", s.getBytes("UTF-8"))
        val r = new String(ProtoWire.readFrame(body).get, "UTF-8")
        assert(ProtoWire.readFrame(body).isEmpty) // trailers end the stream
        r
      }
      assert(roundTrip("abc") == "cba")
      assert(roundTrip("mux!") == "!xum")
    }
  }
}
