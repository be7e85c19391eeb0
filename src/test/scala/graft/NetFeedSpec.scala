package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.sources.FeedBlockSource
import graft.sources.net.{BlockStreamDrainer, BlockStreamScenario, BlockStreamServer, BlockStreamWire}
import graft.sources.v2.BlockFeedProvider
import graft.streaming.StreamDriver

/** The network leg end-to-end: a block-stream server speaking the
  * REFERENCE'S message grammar (`_tag`-discriminated heartbeat /
  * systemMessage / invalidate / data with block headers + events, JSON
  * line framing in place of protobuf) over a real TCP socket, the drainer
  * dispatching it into the chunk-directory contract, and Spark ingesting
  * the result through the `graft-blocks` connector + StreamDriver — the
  * full path the reference runs as gRPC subscription → dispatch →
  * Postgres (index.ts:16-24,142-287). */
class NetFeedSpec extends SparkSpec {

  test("the wire speaks the reference's message grammar") {
    val m = BlockStreamWire.mapper
    val script = BlockStreamScenario.chainWithReorg(blocks = 80L, reorgAt = 50L)
    val tags = script.map(s => m.readTree(s).path("_tag").asText())
    assert(tags.forall(Set("data", "invalidate", "heartbeat", "systemMessage")),
      s"only the reference's four arms may appear: $tags")

    // data arm: production/finality/endCursor plus header+events nesting
    val d = m.readTree(script.head).path("data")
    assert(d.has("production") && d.has("finality") &&
      d.path("endCursor").has("orderKey"))
    val block = d.path("data").get(0)
    assert(block.path("header").has("blockNumber") &&
      block.path("header").has("blockHash") &&
      block.path("header").has("timestamp"))
    val ev = block.path("events").get(0)
    assert(ev.has("transactionIndex") && ev.has("eventIndexInTransaction") &&
      ev.has("address") && ev.has("transactionHash") && ev.has("filterIds"))

    // the pending head rides a pending-finality data message of its own
    assert(script.map(m.readTree).count(n =>
      n.path("_tag").asText() == "data" &&
        n.path("data").path("finality").asText() == "pending") == 2)

    // invalidate arm: cursor.orderKey = last VALID block (reorgAt - 1)
    val inv = script.map(m.readTree)
      .find(_.path("_tag").asText() == "invalidate").get
    assert(inv.path("invalidate").path("cursor").path("orderKey").asLong() == 49L)

    // subscribe shape: filter + finality + startingCursor
    val sub = m.readTree(BlockStreamWire.subscribe(7))
    assert(sub.path("filter").get(0).path("events").get(0).has("address"))
    assert(sub.path("finality").asText() == "pending")
    assert(sub.path("startingCursor").path("orderKey").asLong() == 7L)
  }

  private val schema = StructType(Seq(
    StructField("block_number", LongType),
    StructField("transaction_index", LongType),
    StructField("event_index", LongType),
    StructField("is_pending", BooleanType)))
  private val ctl = BlockFeedProvider.withControlColumns(schema)

  test("socket → drainer → connector → StreamDriver: reorg + pending survive the wire") {
    val root = SparkSpec.tempDir("graft-net-e2e").toString
    val dir = s"$root/feed"
    val script = BlockStreamScenario.chainWithReorg(blocks = 80L, reorgAt = 50L)
    val srv = new BlockStreamServer(script)
    try {
      val n = BlockStreamDrainer.drain("127.0.0.1", srv.boundPort, dir)
      assert(n == script.length, s"every wire message becomes one chunk, got $n")

      val driver = new StreamDriver(spark, s"$root/facts", s"$root/ckpt")
      driver.start(FeedBlockSource(dir, ctl), Trigger.AvailableNow())
        .awaitTermination()

      val canonical = spark.read.parquet(s"$root/facts/raw_events")
      assert(canonical.count() == 60L, "1..49 survivors + 50..60 new chain")
      assert(canonical.groupBy(col("block_number")).count()
        .filter(col("count") > 1).isEmpty, "no duplicate blocks across the reorg")
      val pending = driver.operationalEvents
        .filter(col("batch_id") === driver.PendingBatchId)
        .select("block_number").collect().map(_.getLong(0)).toSeq
      assert(pending == Seq(61L), s"pending head must cross the wire, got $pending")
    } finally srv.close()
  }

  test("drainer crash mid-stream resumes from the chunk count, no dup no gap") {
    val root = SparkSpec.tempDir("graft-net-resume").toString
    val dir = s"$root/feed"
    val script = BlockStreamScenario.chainWithReorg(blocks = 40L, reorgAt = 20L)
    val srv = new BlockStreamServer(script)
    try {
      // first connection dies after 2 messages (maxMessages models the
      // crash window: committed chunks survive, the socket is gone)
      val (n1, done1) = BlockStreamDrainer.drainOnce(
        "127.0.0.1", srv.boundPort, dir, maxMessages = 2)
      assert(n1 == 2 && !done1)
      assert(BlockFeedProvider.listChunks(dir).length == 2)

      // restart: subscribes at cursor=2, drains the remainder exactly once
      val (n2, done2) = BlockStreamDrainer.drainOnce("127.0.0.1", srv.boundPort, dir)
      assert(done2 && n1 + n2 == script.length)
      val ids = BlockFeedProvider.listChunks(dir)
        .map(p => java.nio.file.Paths.get(p).getFileName.toString)
        .flatMap(BlockFeedProvider.chunkId)
      assert(ids.toSeq == (1L to script.length).toSeq,
        s"chunk ids must be contiguous after resume, got ${ids.toSeq}")

      // the drained feed converges to the scenario's canonical chain
      val driver = new StreamDriver(spark, s"$root/facts", s"$root/ckpt")
      driver.start(FeedBlockSource(dir, ctl), Trigger.AvailableNow())
        .awaitTermination()
      val canonical = spark.read.parquet(s"$root/facts/raw_events")
      assert(canonical.count() == 30L, "1..19 survivors + 20..30 new chain")
    } finally srv.close()
  }

  test("a drain that gives up carries the last failure as its cause") {
    val root = SparkSpec.tempDir("graft-net-giveup").toString
    val srv = new BlockStreamServer(Seq("""{"_tag":"bogus"}"""))
    try {
      val e = intercept[IllegalStateException] {
        BlockStreamDrainer.drain("127.0.0.1", srv.boundPort, s"$root/feed",
          maxRetries = 1, backoffMs = 10L)
      }
      assert(e.getMessage.contains("drain gave up"))
      val chain = Iterator.iterate[Throwable](e.getCause)(_.getCause).takeWhile(_ != null)
      assert(chain.exists(c => String.valueOf(c.getMessage).contains("unknown message arm: bogus")),
        s"the arm error must survive as the cause of: $e")
    } finally srv.close()
  }

  test("a separate server process serves the stream over a real socket") {
    val root = SparkSpec.tempDir("graft-net-proc").toString
    val dir = s"$root/feed"
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val proc = new ProcessBuilder(
      javaBin, "-cp", sys.props("java.class.path"),
      "graft.sources.net.BlockStreamServer", "0", "80", "50")
      .redirectErrorStream(true).start()
    try {
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      val port = Iterator.continually(reader.readLine())
        .takeWhile(_ != null).collectFirst {
          case l if l.startsWith("PORT=") => l.stripPrefix("PORT=").toInt
        }.getOrElse(fail("server process never printed its port"))

      val n = BlockStreamDrainer.drain("127.0.0.1", port, dir)
      assert(n == BlockStreamScenario.chainWithReorg(80L, 50L).length)

      // batch backfill through the connector reads what the process served
      val df = spark.read.format("graft-blocks").schema(ctl)
        .option("path", dir).load()
      // finalized rows: 80 + 11 re-emitted (50..60), plus 2 pending heads
      assert(df.filter(col(BlockFeedProvider.ControlCol).isNull).count() == 93L)
      assert(df.filter(col(BlockFeedProvider.ControlCol) ===
        BlockFeedProvider.ControlInvalidate).count() == 1L)
    } finally proc.destroyForcibly()
  }
}
