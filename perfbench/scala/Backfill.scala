package graft.perfbench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ingest.EventProcessors
import graft.sources.net.{BlockStreamDrainer, BlockStreamServer}
import graft.sources.v2.BlockFeedProvider
import graft.streaming.StreamDriver

/** The backfill leg of `ingest`: a seeded backlog sent over gRPC framing on h2c, drained to
  * chunks, then ingested by `StreamDriver` under `Trigger.AvailableNow`
  * with `maxChunksPerTrigger = 10`, into parquet facts plus a
  * `JdbcMultiTableSink`. One pass = one full backlog; wall runs from the
  * first subscribe to the last batch's sink commit. */
final class Backfill(ing: Ingest, msgs: Vector[Msg], n: Int = 2) {
  import ing._
  import ing.ctx._

  private val wire = msgs.map(_.wire)
  private val want = Script.canonicalKeys(msgs)
  private val events = want.length.toLong
  private val lastBlock = msgs.flatMap(_.blocks).map(_.blockNumber).max

  /** Runs the passes; returns the last pass's directory (kept: it is
    * storage the run holds). */
  def run(): String = {
    var lastDir = ""
    val batchMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val drainS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val (plain, traced) = passes(n) { (k, _) =>
      if (lastDir.nonEmpty) Files2.rm(lastDir)
      val dir = work(s"pass$k"); lastDir = dir
      val (sink, route, tables) = db.sink(s"bf$k")
      val t0 = System.nanoTime()
      val srv = new BlockStreamServer(wire, binary = true, h2c = true)
      val (_, dS) = try Stats.timed(span("sources.net", "drain") {
        BlockStreamDrainer.drain("127.0.0.1", srv.boundPort, s"$dir/feed", binary = true, h2c = true)
      }) finally srv.close()
      val q = span("streaming.StreamDriver", "availableNow ingest") {
        val q = new StreamDriver(spark, s"$dir/facts", s"$dir/ckpt", multiTableSink = Some((sink, route)))
          .start(FeedSource(s"$dir/feed", Some(10)), Trigger.AvailableNow())
        q.awaitTermination()
        q
      }
      val wall = (System.nanoTime() - t0) / 1e9
      drainS += dS
      val bs = triggerMs(q)
      batchMs ++= bs
      res.attempt(q.exception.isEmpty, bs.size.max(1))
      // output checks, outside the timed window
      val chunks = BlockFeedProvider.listChunks(s"$dir/feed").length
      res.check(s"pass$k.chunks", chunks == msgs.size, s"$chunks chunks for ${msgs.size} messages")
      sameKeys(s"pass$k.facts", factKeys(s"$dir/facts"), want)
      sameKeys(s"pass$k.sink", db.keys(tables), want)
      res.check(s"pass$k.cursor", sink.cursor().map(_._2).contains(lastBlock),
        s"cursor ${sink.cursor()} vs last block $lastBlock")
      wall
    }
    val walls = plain ++ traced
    res.metric("throughput_per_s", Stats.median(plain.map(events / _)), "1/s", plain.size)

    if (a.trace) {
      res.metric("backfill_events_per_s", Stats.median(walls.map(events / _)), "1/s", walls.size)
      res.metric("net.drain_s", Stats.median(drainS.toSeq), "s", drainS.size)
      res.metric("net.messages", msgs.size.toDouble, "count")
      res.metric("net.chunks", BlockFeedProvider.listChunks(s"$lastDir/feed").length.toDouble, "count")
      res.metric("backfill.batch_ms_p50", Stats.median(batchMs.toSeq), "ms", batchMs.size)
      layerMetrics(None, traced.size)
      engineMetrics()
      tracer.absorb(listeners)
      res.metric("sink.rows", db.keys(Seq(s"bf${walls.size - 1}_even", s"bf${walls.size - 1}_odd")).length.toDouble, "count")
      tracing {
        standaloneSink(s"$lastDir/facts")
        decode()
      }
    }
    lastDir
  }

  /** The sink alone: one `write` of the whole backlog as a single batch,
    * then one `retract` of the last 100 blocks. */
  private def standaloneSink(facts: String): Unit = {
    val batch = spark.read.parquet(s"$facts/raw_events")
      .select("block_number", "transaction_index", "event_index", "event_id").persist()
    val n = batch.count()
    val (sink, route, tables) = db.sink("standalone")
    val (_, wS) = Stats.timed(span("streaming.JdbcMultiTableSink", "standalone write") {
      sink.write(route(batch), 0L, lastBlock)
    })
    res.metric("sink.rows_per_s", n / wS, "1/s")
    val (_, rS) = Stats.timed(span("streaming.JdbcMultiTableSink", "standalone retract") {
      sink.retract(lastBlock - 99)
    })
    res.metric("sink.retract_ms", rS * 1000, "ms")
    val left = db.keys(tables).length
    res.check("standalone.retract", left == want.count(k => (k >>> 32) < lastBlock - 99),
      s"$left rows left after retract")
    batch.unpersist()
  }

  /** `EventProcessors.decodeAll` over the seeded felt-encoded batch. */
  private def decode(): Unit = {
    val sel = Map("swapped" -> EventProcessors.swapped.keySelector,
      "initialized" -> EventProcessors.poolInitialized.keySelector,
      "withdrawn" -> EventProcessors.protocolFeesWithdrawn.keySelector)
    val raw0 = spark.read.parquet(s"${a.inputs}/decode.parquet")
    val key0 = sel.foldLeft(lit(null).cast("string")) { case (acc, (k, v)) =>
      when(col("key0") === k, lit(v)).otherwise(acc) }
    val raw = raw0.withColumn("key0", key0).persist()
    val n = raw.count()
    val (outs, s) = Stats.timed(span("decode", "decodeAll") {
      val out = EventProcessors.decodeAll(spark, raw, Map("core" -> "0xcore"))
      out.values.foreach(_.write.format("noop").mode("overwrite").save())
      out
    })
    val rows = outs.values.map(_.count()).sum
    res.metric("decode.events_per_s", n / s, "1/s")
    res.metric("decode.rows_out", rows.toDouble, "count")
    val wantRows = raw0.filter(col("emitter") === "0xcore").count()
    res.check("decode.rows", rows == wantRows, s"$rows decoded rows vs $wantRows core events")
    raw.unpersist()
  }
}
