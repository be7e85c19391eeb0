package graft.sources.net

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter, PrintWriter}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode

import graft.sources.v2.{BlockFeedProvider, JsonBlockFeed}

/** The network leg of the block feed: the REFERENCE'S stream-message
  * grammar served over a socket, plus the bridge process that drains it
  * into the `graft-blocks` chunk-directory contract.
  *
  * The reference consumes an Apibara subscription: connect with a filter +
  * starting cursor, then dispatch on the message tag
  * `heartbeat | systemMessage | invalidate | data`
  * (reference `src/index.ts:16-24,127-141` for the subscription,
  * `:142-287` for the dispatch). This wire speaks that grammar — the same
  * discriminated arms, the same nesting (`invalidate.cursor.orderKey`,
  * `data.{production,finality,endCursor,data[].header/events[]}`), the
  * same subscribe shape (`{filter, finality, startingCursor}`) — under
  * one of three framings selected per connection mode:
  *  - one JSON object per line on a raw socket (Jackson is Spark's own
  *    JSON library);
  *  - protobuf messages in gRPC length-prefixed envelopes on a raw socket
  *    ([[ProtoWire]] / [[BlockProtoCodec]]; no protobuf jar is on the
  *    classpath, so the wire format is implemented from its published
  *    spec);
  *  - those envelopes as a gRPC server-streaming RPC over HTTP/2 on Netty
  *    ([[GrpcH2]]), cleartext (h2c) or over TLS with ALPN h2 — the
  *    reference's production transport shape (`@apibara/protocol` over
  *    gRPC) at every layer.
  *
  * The JSON rendering of the grammar:
  *
  *   client → server  {"filter":[{"events":[...]}],"finality":"pending",
  *                     "startingCursor":{"orderKey":N}}
  *   server → client  {"_tag":"data","data":{"production":"live",
  *                     "finality":"accepted","endCursor":{"orderKey":B},
  *                     "data":[{"header":{"blockNumber":B,"blockHash":"0xb..",
  *                     "timestamp":T},"events":[{"transactionIndex":i,
  *                     "eventIndexInTransaction":j,"address":"0x..",
  *                     "transactionHash":"0x..","filterIds":[..]}]}]}}
  *                    {"_tag":"invalidate","invalidate":{"cursor":{"orderKey":B}}}
  *                    {"_tag":"heartbeat"}
  *                    {"_tag":"systemMessage","systemMessage":{"output":
  *                     {"_tag":"stdout","stdout":"..."}}}
  *
  * Replay-harness extension (a live node never sends it): a finite replay
  * server terminates with a systemMessage whose stdout is
  * `end-of-script`; the drainer completes on it without committing a
  * chunk. The subscribe `startingCursor.orderKey` is the replay MESSAGE
  * index (the drainer's committed-chunk count) — a chain node's orderKey
  * is a block number, but the resume contract is identical: serve
  * everything after the cursor, exactly once.
  *
  * The drainer maps chunk-producing messages 1:1 onto committed chunks
  * (`data` → a data chunk; `invalidate` → a retract marker at
  * `cursor.orderKey + 1`, the reference's `deleteOldBlockNumbers(orderKey
  * + 1)`; `heartbeat` and non-terminal `systemMessage` → liveness marker
  * chunks), which makes the chunk DIRECTORY the drainer's durable cursor:
  * on restart it subscribes from `committed-chunk count`, so a crash
  * between socket read and chunk commit replays exactly the uncommitted
  * message. Chunk commit is an atomic rename, so the feed never exposes a
  * torn message — the drainer inherits exactly-once hand-off to Spark
  * from the connector's offset contract without any state of its own.
  */
object BlockStreamWire {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** One block's worth of wire events: (transactionIndex,
    * eventIndexInTransaction) pairs — the key fields the chunk contract
    * consumes; address/transactionHash/filterIds are carried for grammar
    * fidelity ([[BlockStreamDrainer]] parses, validates arm shape, and
    * forwards the key fields). */
  final case class WireBlock(blockNumber: Long, timestamp: Long,
      events: Seq[(Long, Long)])

  /** A reference-shaped `data` message: one chunk's worth of blocks under
    * one (production, finality) pair. `finality = "pending"` marks every
    * contained block as the pending head — the reference's per-message
    * finality (`index.ts:240,270`). */
  def data(blocks: Seq[WireBlock], finality: String = "accepted",
      production: String = "live"): String = {
    val root = mapper.createObjectNode()
    root.put("_tag", "data")
    val d = root.putObject("data")
    d.put("production", production)
    d.put("finality", finality)
    d.putObject("endCursor").put("orderKey",
      blocks.lastOption.map(_.blockNumber).getOrElse(0L))
    val arr = d.putArray("data")
    blocks.foreach { b =>
      val bo = arr.addObject()
      val h = bo.putObject("header")
      h.put("blockNumber", b.blockNumber)
      h.put("blockHash", s"0xb${b.blockNumber}")
      h.put("timestamp", b.timestamp)
      val evs = bo.putArray("events")
      b.events.foreach { case (ti, ei) =>
        val eo = evs.addObject()
        eo.put("transactionIndex", ti)
        eo.put("eventIndexInTransaction", ei)
        eo.put("address", "0xcore")
        eo.put("transactionHash", s"0xtx${b.blockNumber}_$ti")
        eo.putArray("filterIds").add(1L)
      }
    }
    root.toString
  }

  /** `invalidate`: everything AFTER `cursor.orderKey` is no longer
    * canonical — the receiver deletes block numbers ≥ orderKey + 1
    * (reference `index.ts:175-178`). */
  def invalidate(orderKey: Long): String =
    s"""{"_tag":"invalidate","invalidate":{"cursor":{"orderKey":$orderKey}}}"""

  val heartbeat: String = """{"_tag":"heartbeat"}"""

  def systemMessage(text: String, stderr: Boolean = false): String = {
    val root = mapper.createObjectNode()
    root.put("_tag", "systemMessage")
    val out = root.putObject("systemMessage").putObject("output")
    out.put("_tag", if (stderr) "stderr" else "stdout")
    out.put(if (stderr) "stderr" else "stdout", text)
    root.toString
  }

  /** The finite-replay terminator (see the object Scaladoc). */
  val endOfScript: String = systemMessage("end-of-script")

  /** The reference's subscribe shape (`index.ts:127-141`): the event
    * filter, pending finality, and the resume cursor. */
  def subscribe(cursor: Long): String = {
    val root = mapper.createObjectNode()
    val f = root.putArray("filter").addObject().putArray("events")
    val e = f.addObject()
    e.put("id", 1L); e.put("address", "0xcore"); e.putArray("keys")
    root.put("finality", "pending")
    root.putObject("startingCursor").put("orderKey", cursor)
    root.toString
  }
}

/** A finite replay server: serves the scripted message sequence to every
  * subscription, starting at the `startingCursor.orderKey` the client
  * subscribes with — the deterministic-replay behavior a chain node's
  * cursor subscription gives the reference (`index.ts:16-24`). Over gRPC
  * (`h2c`, or `tls`) every subscription runs at once on its own thread,
  * whether it arrives on a new connection or as one more stream on an open
  * one. The raw-socket framings serve one connection at a time. The
  * server lives until [[close]] or process exit.
  *
  * `paceMs` > 0 sleeps between messages — the cadence knob the ingest
  * throughput bench uses to emulate a chain producing one block per
  * interval (the reference's anchor is one block / ~30 s,
  * `index.ts:259-269`), so end-to-end lag is measured against a live
  * producer instead of a pre-drained backlog.
  *
  * As a standalone process: `graft.sources.net.BlockStreamServer <port>
  * [blocks] [reorgAt]` serves [[BlockStreamScenario.chainWithReorg]] and
  * prints `PORT=<actual>` on stdout (pass port 0 for an ephemeral pick).
  */
final class BlockStreamServer(script: Seq[String], port: Int = 0,
    paceMs: Long = 0L, binary: Boolean = false, h2c: Boolean = false,
    tls: Option[javax.net.ssl.SSLContext] = None) {
  private val grpc: Option[GrpcH2.Server] =
    Option.when(h2c || tls.isDefined)(GrpcH2.serve(port, tls)(serveScript))
  private val raw: Option[ServerSocket] =
    Option.when(grpc.isEmpty)(new ServerSocket(port))
  def boundPort: Int = grpc.map(_.port).getOrElse(raw.get.getLocalPort)

  raw.foreach { server =>
    val acceptor = new Thread(() => serveLoop(server), "block-stream-server")
    acceptor.setDaemon(true)
    acceptor.start()
  }

  private def serveLoop(server: ServerSocket): Unit =
    try while (!server.isClosed) {
      val sock = server.accept()
      try { if (binary) serveBinary(sock) else serveJson(sock) }
      catch { case NonFatal(_) => () } // client vanished: await the next
      finally sock.close()
    } catch { case NonFatal(_) => () } // server closed

  private def serveJson(sock: Socket): Unit = {
    val in = new BufferedReader(
      new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
    val out = new PrintWriter(
      new OutputStreamWriter(sock.getOutputStream, StandardCharsets.UTF_8))
    val sub = BlockStreamWire.mapper.readTree(in.readLine())
    val cursor = sub.path("startingCursor").path("orderKey").asInt(0)
    script.drop(cursor).foreach { msg =>
      if (paceMs > 0) Thread.sleep(paceMs)
      out.println(msg); out.flush()
    }
    out.println(BlockStreamWire.endOfScript)
    out.flush()
  }

  /** The same subscription contract under protobuf framing: one
    * length-prefixed StreamDataRequest in, length-prefixed
    * StreamDataResponse frames out ([[BlockProtoCodec]]). */
  private def serveBinary(sock: Socket): Unit = {
    val out = sock.getOutputStream
    serveScript(ProtoWire.readFrame(sock.getInputStream).getOrElse(
      throw new IllegalStateException("client closed before subscribing")),
      msg => { ProtoWire.writeFrame(out, msg); out.flush() })
  }

  /** One protobuf subscription against the script, whichever transport
    * carries it. The script stays authored as JSON grammar lines — each is
    * encoded on the way out, so every framing serves ONE scenario
    * definition. */
  private def serveScript(reqBytes: Array[Byte], send: Array[Byte] => Unit): Unit = {
    val sub = BlockProtoCodec.decodeRequest(reqBytes)
    val cursor = sub.path("startingCursor").path("orderKey").asInt(0)
    script.drop(cursor).foreach { msg =>
      if (paceMs > 0) Thread.sleep(paceMs)
      send(BlockProtoCodec.encodeResponse(BlockStreamWire.mapper.readTree(msg)))
    }
    send(BlockProtoCodec.encodeResponse(
      BlockStreamWire.mapper.readTree(BlockStreamWire.endOfScript)))
  }

  def close(): Unit = { grpc.foreach(_.close()); raw.foreach(_.close()) }
}

object BlockStreamServer {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(0)
    val blocks = args.lift(1).map(_.toLong).getOrElse(80L)
    val reorgAt = args.lift(2).map(_.toLong).getOrElse(50L)
    val srv = new BlockStreamServer(
      BlockStreamScenario.chainWithReorg(blocks, reorgAt), port,
      binary = args.lift(3).contains("proto"),
      h2c = args.lift(3).contains("h2c"))
    // the parent process reads the ephemeral port from this line
    println(s"PORT=${srv.boundPort}")
    Console.out.flush()
    Thread.currentThread().join() // serve until killed
  }
}

/** The bridge process ("the gRPC drainer" of the connector's Scaladoc):
  * subscribes at the feed directory's committed-chunk count and dispatches
  * each received message on its `_tag` exactly as the reference's consumer
  * loop does (`index.ts:142-287`), appending one committed chunk per
  * chunk-producing message. Restart-safe and duplicate-free by
  * construction — see [[BlockStreamWire]]. */
object BlockStreamDrainer {

  /** `data` arm → the chunk contract's scalar rows: per (block, event),
    * the block header's number plus the event's position, with the
    * MESSAGE-level finality deciding `is_pending` (the reference treats a
    * pending-finality data message as the head, `index.ts:240,270`). */
  private def dataRows(d: JsonNode): Seq[Map[String, Any]] = {
    val pending = d.path("finality").asText() == "pending"
    val blocks = d.path("data")
    (0 until blocks.size()).flatMap { bi =>
      val block = blocks.get(bi)
      val header = block.path("header")
      require(header.has("blockNumber"), s"data block without a header: $block")
      val bn = header.path("blockNumber").asLong()
      val events = block.path("events")
      (0 until events.size()).map { ei =>
        val ev = events.get(ei)
        Map[String, Any](
          "block_number" -> bn,
          "transaction_index" -> ev.path("transactionIndex").asLong(),
          "event_index" -> ev.path("eventIndexInTransaction").asLong(),
          "is_pending" -> pending)
      }
    }
  }

  /** One connection: subscribe at the current chunk count, drain until the
    * terminal system message, EOF, or `maxMessages` chunks this call.
    * Returns the number of chunks committed; `completed` is true iff the
    * end-of-script message was seen. `h2c` or `tls` selects gRPC over
    * HTTP/2 ([[GrpcH2]]); TLS verifies the server certificate against
    * `host`. */
  def drainOnce(host: String, port: Int, dir: String,
      maxMessages: Long = Long.MaxValue, binary: Boolean = false,
      h2c: Boolean = false,
      tls: Option[javax.net.ssl.SSLContext] = None): (Long, Boolean) = {
    val feed = new JsonBlockFeed(dir)
    val cursor = BlockFeedProvider.listChunks(dir).length
    def request = BlockProtoCodec.encodeRequest(
      BlockStreamWire.mapper.readTree(BlockStreamWire.subscribe(cursor)))
    val conn: java.io.Closeable =
      if (h2c || tls.isDefined) GrpcH2.connect(host, port, tls)
      else new Socket(host, port)
    try {
      // subscribe + message pull under the chosen framing; the dispatch
      // below sees only the grammar tree and cannot tell the framings apart
      val nextMessage: () => JsonNode = conn match {
        case grpc: GrpcH2.Connection =>
          val body = grpc.call(request)
          () => ProtoWire.readFrame(body).map(BlockProtoCodec.decodeResponse).orNull
        case sock: Socket if binary =>
          val out = sock.getOutputStream
          ProtoWire.writeFrame(out, request)
          out.flush()
          val in = sock.getInputStream
          () => ProtoWire.readFrame(in).map(BlockProtoCodec.decodeResponse).orNull
        case sock: Socket =>
          val out = new PrintWriter(
            new OutputStreamWriter(sock.getOutputStream, StandardCharsets.UTF_8))
          out.println(BlockStreamWire.subscribe(cursor)); out.flush()
          val in = new BufferedReader(
            new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
          () => Option(in.readLine()).map(BlockStreamWire.mapper.readTree).orNull
      }
      var n = 0L
      var completed = false
      var msg = if (n < maxMessages) nextMessage() else null
      while (msg != null && !completed) {
        msg.path("_tag").asText() match {
          case "data" =>
            feed.emit(dataRows(msg.path("data")))
            n += 1
          case "invalidate" =>
            // cursor.orderKey is the last VALID block; the chunk marker
            // carries the first block to retract (orderKey + 1), the
            // reference's deleteOldBlockNumbers(orderKey + 1)
            feed.emitInvalidate(
              msg.path("invalidate").path("cursor").path("orderKey").asLong() + 1)
            n += 1
          case "heartbeat" =>
            feed.emitHeartbeat(); n += 1
          case "systemMessage" =>
            val o = msg.path("systemMessage").path("output")
            if (o.path("_tag").asText() == "stdout" &&
                o.path("stdout").asText() == "end-of-script") completed = true
            // any other system message is a log/liveness signal (the
            // reference only logs it); its durable form is a heartbeat
            else { feed.emitHeartbeat(); n += 1 }
          case other => throw new IllegalStateException(s"unknown message arm: $other")
        }
        msg = if (!completed && n < maxMessages) nextMessage() else null
      }
      (n, completed)
    } finally conn.close()
  }

  /** Reconnecting drain: the long-lived bridge loop. Resumes from the
    * chunk count after every disconnect (the reference bridge's retry,
    * `index.ts:127-141`); `maxRetries` bounds consecutive FAILED attempts
    * (any progress resets the counter). Returns total chunks committed;
    * giving up throws with the last attempt's error as the cause. */
  def drain(host: String, port: Int, dir: String,
      maxRetries: Int = 5, backoffMs: Long = 200L,
      binary: Boolean = false, h2c: Boolean = false,
      tls: Option[javax.net.ssl.SSLContext] = None): Long = {
    var total = 0L
    var failures = 0
    var completed = false
    var lastError: Throwable = null
    while (!completed && failures <= maxRetries) {
      try {
        val (n, done) = drainOnce(host, port, dir, binary = binary, h2c = h2c, tls = tls)
        total += n
        completed = done
        if (n > 0) failures = 0
        if (!done) { failures += 1; Thread.sleep(backoffMs) }
      } catch {
        case NonFatal(e) => lastError = e; failures += 1; Thread.sleep(backoffMs)
      }
    }
    if (!completed)
      throw new IllegalStateException(
        s"drain gave up after $maxRetries consecutive failed attempts", lastError)
    total
  }

  def main(args: Array[String]): Unit = {
    val Array(host, port, dir) = args.take(3)
    val n = drain(host, port.toInt, dir,
      binary = args.lift(3).contains("proto"),
      h2c = args.lift(3).contains("h2c"))
    println(s"DRAINED=$n")
  }
}

/** Deterministic wire scripts shared by the server main and the specs. */
object BlockStreamScenario {
  import BlockStreamWire.WireBlock

  private def blocksOf(range: Seq[Long]): Seq[WireBlock] =
    range.map(b => WireBlock(b, 1704067200L + b * 120L, events = Seq((0L, 0L))))

  /** The T3/T4 chain shape in reference grammar: a backfill data message
    * (1..mid), a live data message to the tip, the pending head as its own
    * pending-finality message, a heartbeat, the reorg (`invalidate` at
    * orderKey = reorgAt − 1, so reorgAt.. is retracted), then the new
    * shorter chain `reorgAt..reorgAt+10` with its own pending head. After
    * a full drain + ingest the canonical table holds `reorgAt + 10` blocks
    * and the pending head is `reorgAt + 11`. */
  def chainWithReorg(blocks: Long, reorgAt: Long): Seq[String] = {
    require(blocks >= 2 && reorgAt >= 1 && reorgAt <= blocks)
    val mid = (blocks / 2).max(1L)
    Seq(
      BlockStreamWire.data(blocksOf(1L to mid), production = "backfill"),
      BlockStreamWire.data(blocksOf((mid + 1) to blocks)),
      BlockStreamWire.data(blocksOf(Seq(blocks + 1)), finality = "pending"),
      BlockStreamWire.heartbeat,
      BlockStreamWire.invalidate(reorgAt - 1),
      BlockStreamWire.data(blocksOf(reorgAt to (reorgAt + 10))),
      BlockStreamWire.data(blocksOf(Seq(reorgAt + 11)), finality = "pending"))
  }
}
