package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.sources.BlockSource
import graft.sources.net.{BlockStreamDrainer, BlockStreamServer, BlockStreamWire}
import graft.sources.v2.BlockFeedProvider
import graft.streaming.{JdbcMultiTableSink, StreamDriver}

/** Ingest-throughput harness — the measured half of the reference's actual
  * job. The query catalog benchmarks the ANALYTICAL surface; the reference,
  * however, is first an ETL system whose only published performance anchors
  * are cadence anchors: one block every ~30 s live, "weeks" to backfill the
  * chain (reference `src/index.ts:71-102,259-269`, `README.md:11-15`). This
  * harness drives the engine's full ingest chain —
  *
  *   TCP server speaking the reference message grammar
  *     → [[BlockStreamDrainer]] → chunk directory
  *     → `graft-blocks` DSv2 connector → [[StreamDriver]]
  *     → canonical parquet (+ optionally [[JdbcMultiTableSink]])
  *
  * — over a deterministic block replay at sf0.1-equivalent event volume
  * (100k events = the sf0.1 `events` table row count) and reports:
  *
  *   - `drain`: wire → committed chunks (the bridge leg alone), measured
  *     under ALL THREE framings — JSON lines, gRPC length-prefixed
  *     protobuf ([[graft.sources.net.BlockProtoCodec]]) on the raw socket,
  *     and the same LPM frames as a gRPC RPC over HTTP/2 cleartext on
  *     Netty ([[graft.sources.net.GrpcH2]]) — so the codec AND the transport
  *     each have a price;
  *   - `backfill`: chunks → canonical parquet via bounded AvailableNow
  *     micro-batches (the "weeks to sync" anchor; no relational leg);
  *   - `full`: the same backlog with the multi-table JDBC sink attached —
  *     the complete reference deployment shape;
  *   - `jdbc`: the sink leg alone (one batch, all rows), with the
  *     batch-size knob recorded;
  *   - `live`: a PACED producer (one single-block message per `paceMs`)
  *     against a continuously-triggered driver, measuring per-block
  *     end-to-end lag (chunk-commit mtime → operational visibility) as
  *     p50/p95/max — the number to hold against the reference's 30 s/block
  *     cadence.
  *
  * Scale note: every leg is the production path — no harness-only collect
  * touches a corpus-sized frame (the live phase collects per-batch DISTINCT
  * block numbers, bounded by blocks-per-trigger; the lag map is
  * live-block-count-sized).
  *
  * Measurement protocol (r15, VERDICT r14 #8): every timed leg runs
  * [[rounds]] times, INTERLEAVED — round r runs drain/proto/h2c/backfill/
  * full/jdbc once each before round r+1 starts, so a host-contention
  * window cannot hit all repeats of one leg — and the headline numbers
  * are per-leg MEDIANS with the (min, max) spread carried alongside. The
  * r14 A/B showed these legs are host-noise-bound (2.3× run-to-run on an
  * idle box); a median-of-3 with visible spread is self-adjudicating.
  */
object IngestBench {

  private val schema = StructType(Seq(
    StructField("block_number", LongType),
    StructField("transaction_index", LongType),
    StructField("event_index", LongType),
    StructField("is_pending", BooleanType)))
  private val ctl = BlockFeedProvider.withControlColumns(schema)

  /** FeedBlockSource with the backpressure knob: bounded micro-batches so
    * the backfill measures the per-batch machinery (the reference ingests
    * per-block-batch transactions), not one giant catch-up batch. */
  private final case class CappedFeedSource(dir: String, cap: Int) extends BlockSource {
    override def schema: StructType = ctl
    override def stream(spark: SparkSession): DataFrame =
      spark.readStream.format("graft-blocks").schema(ctl)
        .option("path", dir).option("maxChunksPerTrigger", cap.toString).load()
  }

  /** `blocks` wire blocks of `eventsPerBlock` events each, `perMessage`
    * blocks per data message, numbered from `firstBlock`. */
  private def script(blocks: Int, eventsPerBlock: Int, perMessage: Int,
      firstBlock: Long = 1L): Seq[String] = {
    val txs = 8.min(eventsPerBlock)
    val evs = (0 until eventsPerBlock)
      .map(e => ((e % txs).toLong, (e / txs).toLong))
    (firstBlock until (firstBlock + blocks)).grouped(perMessage).map { range =>
      BlockStreamWire.data(range.map(b =>
        BlockStreamWire.WireBlock(b, 1704067200L + b * 30L, evs)))
    }.toSeq
  }

  /** Per-leg timings are kept round-by-round; the headline per-leg number
    * is the MEDIAN and `_minmax` carries the spread. */
  final case class Result(
      blocks: Int, events: Long,
      drainSecs: Seq[Double], drainProtoSecs: Seq[Double], drainH2cSecs: Seq[Double],
      backfillSecs: Seq[Double], fullSecs: Seq[Double],
      jdbcSecs: Seq[Double], jdbcRows: Long, jdbcBatchSize: Int,
      jdbcPgSecs: Seq[Double],
      liveBlocks: Int, livePaceMs: Long,
      lagP50Ms: Long, lagP95Ms: Long, lagMaxMs: Long) {
    private def med(ts: Seq[Double]): Double = ts.sorted.apply(ts.size / 2)
    def drainSec: Double = med(drainSecs)
    def drainProtoSec: Double = med(drainProtoSecs)
    def drainH2cSec: Double = med(drainH2cSecs)
    def backfillSec: Double = med(backfillSecs)
    def fullSec: Double = med(fullSecs)
    def jdbcSec: Double = med(jdbcSecs)
    private def r1(x: Double): Double = math.rint(x * 10) / 10
    def json: String = {
      val evps = (n: Double) => if (n > 0) r1(events / n) else 0.0
      def mm(ts: Seq[Double]) = s"[${r1(ts.min)},${r1(ts.max)}]"
      s"""{"blocks":$blocks,"events":$events,"rounds":${drainSecs.size},""" +
        s""""drain_sec":${r1(drainSec)},"drain_evps":${evps(drainSec)},"drain_sec_minmax":${mm(drainSecs)},""" +
        s""""drain_proto_sec":${r1(drainProtoSec)},"drain_proto_evps":${evps(drainProtoSec)},"drain_proto_sec_minmax":${mm(drainProtoSecs)},""" +
        s""""drain_h2c_sec":${r1(drainH2cSec)},"drain_h2c_evps":${evps(drainH2cSec)},"drain_h2c_sec_minmax":${mm(drainH2cSecs)},""" +
        s""""backfill_sec":${r1(backfillSec)},"backfill_evps":${evps(backfillSec)},""" +
        s""""backfill_bps":${if (backfillSec > 0) r1(blocks / backfillSec) else 0.0},"backfill_sec_minmax":${mm(backfillSecs)},""" +
        s""""full_sec":${r1(fullSec)},"full_evps":${evps(fullSec)},"full_sec_minmax":${mm(fullSecs)},""" +
        s""""jdbc_rows":$jdbcRows,"jdbc_sec":${r1(jdbcSec)},""" +
        s""""jdbc_rps":${if (jdbcSec > 0) r1(jdbcRows / jdbcSec) else 0.0},""" +
        s""""jdbc_batchsize":$jdbcBatchSize,"jdbc_sec_minmax":${mm(jdbcSecs)},""" +
        (if (jdbcPgSecs.nonEmpty)
          s""""jdbc_pg_sec":${r1(med(jdbcPgSecs))},""" +
            s""""jdbc_pg_rps":${if (med(jdbcPgSecs) > 0) r1(jdbcRows / med(jdbcPgSecs)) else 0.0},""" +
            s""""jdbc_pg_sec_minmax":${mm(jdbcPgSecs)},"""
        else "") +
        s""""live_blocks":$liveBlocks,"live_pace_ms":$livePaceMs,""" +
        s""""lag_p50_ms":$lagP50Ms,"lag_p95_ms":$lagP95Ms,"lag_max_ms":$lagMaxMs,""" +
        s""""ref_block_interval_s":30}"""
    }
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Run every phase; sizes are parameters so the spec runs a small
    * instance of the same code the bench runs at full volume.
    *
    * `livePaceMs` must exceed the per-micro-batch cost or the lag numbers
    * measure backlog growth instead of steady-state latency — 750 ms is
    * ~2× the measured per-batch cost of the full chain on this harness
    * (still 40× the reference's 30 s cadence); the saturated-throughput
    * number is what `backfill`/`full` report. */
  def run(spark: SparkSession,
      blocks: Int = 2500, eventsPerBlock: Int = 40, perMessage: Int = 25,
      chunksPerTrigger: Int = 10,
      liveBlocks: Int = 20, livePaceMs: Long = 750L,
      rounds: Int = 3): Result = {
    val root = Files.createTempDirectory("graft-ingest-bench").toString
    try runPhases(spark, root, blocks, eventsPerBlock, perMessage,
      chunksPerTrigger, liveBlocks, livePaceMs, rounds)
    finally rmTree(new java.io.File(root)) // feeds + fact trees + Derby DBs: ~100s of MB per run
  }

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmTree)
    f.delete(); ()
  }

  private def runPhases(spark: SparkSession, root: String,
      blocks: Int, eventsPerBlock: Int, perMessage: Int,
      chunksPerTrigger: Int, liveBlocks: Int, livePaceMs: Long,
      rounds: Int): Result = {
    val events = blocks.toLong * eventsPerBlock

    // ---- pilot: untimed mini-run of both driver shapes ----------------
    // One-time costs (streaming machinery init, Derby engine boot, JDBC
    // writer codegen) land here instead of inflating whichever timed phase
    // runs first — the Bench warmup discipline applied to the ingest legs.
    locally {
      val pdir = s"$root/pilot_feed"
      val psrv = new BlockStreamServer(script(12, eventsPerBlock, 4))
      try BlockStreamDrainer.drain("127.0.0.1", psrv.boundPort, pdir)
      finally psrv.close()
      val pprops = new java.util.Properties
      val psink = new JdbcMultiTableSink(s"jdbc:derby:$root/db_pilot;create=true",
        Seq("ing_even", "ing_odd"), connectionProperties = pprops)
      val proute = (b: DataFrame) => Map(
        "ing_even" -> b.filter(col("block_number") % 2 === 0),
        "ing_odd" -> b.filter(col("block_number") % 2 === 1))
      new StreamDriver(spark, s"$root/facts_pilot", s"$root/ckpt_pilot",
        multiTableSink = Some((psink, proute)))
        .start(CappedFeedSource(pdir, chunksPerTrigger), Trigger.AvailableNow())
        .awaitTermination()
    }

    // ---- timed legs, `rounds` INTERLEAVED repetitions ------------------
    // Each round runs every leg once (fresh scratch dirs / servers / Derby
    // DBs per repetition — the one-time costs already landed in the
    // pilot), so a host-contention window cannot hit all repeats of one
    // leg. Medians + spread are assembled in Result.
    val jdbcBatchSize = 1000 // Spark JDBC writer default, recorded explicitly
    def mkSink(db: String): (JdbcMultiTableSink, DataFrame => Map[String, DataFrame]) = {
      val props = new java.util.Properties
      props.setProperty("batchsize", jdbcBatchSize.toString)
      val sink = new JdbcMultiTableSink(s"jdbc:derby:$root/$db;create=true",
        Seq("ing_even", "ing_odd"), connectionProperties = props)
      val route = (b: DataFrame) => Map(
        "ing_even" -> b.filter(col("block_number") % 2 === 0),
        "ing_odd" -> b.filter(col("block_number") % 2 === 1))
      (sink, route)
    }
    // jdbc_pg: the SAME sink leg against a live local PostgreSQL (the
    // reference's production target) through the hand-rolled wire client —
    // one disposable cluster for the whole run, fresh tables per round.
    // Skipped (empty seq) when the server binaries are absent.
    val pg: Option[graft.streaming.pg.PgServer.Instance] =
      if (graft.streaming.pg.PgServer.available)
        try {
          graft.streaming.pg.PgDriver.ensureRegistered()
          // own temp root (not under `root`, whose 0700 owner-only perms
          // would block the nobody-uid server from traversing into it)
          Some(graft.streaming.pg.PgServer.start(
            Files.createTempDirectory("graft-ingest-pg")))
        } catch { case e: Throwable =>
          System.err.println(s"[ingest-bench] pg leg skipped: $e"); None
        }
      else None
    def mkPgSink(r: Int): (JdbcMultiTableSink, DataFrame => Map[String, DataFrame]) = {
      val inst = pg.get
      val props = new java.util.Properties
      props.setProperty("batchsize", jdbcBatchSize.toString)
      props.setProperty("user", inst.user)
      props.setProperty("driver", "graft.streaming.pg.PgDriver")
      val (even, odd) = (s"ing_even_pg_$r", s"ing_odd_pg_$r")
      val sink = new JdbcMultiTableSink(inst.url(), Seq(even, odd),
        cursorTable = s"graft_cursor_pg_$r", connectionProperties = props)
      val route = (b: DataFrame) => Map(
        even -> b.filter(col("block_number") % 2 === 0),
        odd -> b.filter(col("block_number") % 2 === 1))
      (sink, route)
    }
    val drainSecs = Seq.newBuilder[Double]
    val drainProtoSecs = Seq.newBuilder[Double]
    val drainH2cSecs = Seq.newBuilder[Double]
    val backfillSecs = Seq.newBuilder[Double]
    val fullSecs = Seq.newBuilder[Double]
    val jdbcSecs = Seq.newBuilder[Double]
    val jdbcPgSecs = Seq.newBuilder[Double]
    var jdbcRows = 0L
    for (r <- 1 to rounds) {
      // drain: wire → chunk directory (JSON lines — the relational legs
      // read this round's feed)
      val srv = new BlockStreamServer(script(blocks, eventsPerBlock, perMessage))
      drainSecs += (try {
        val (_, t) = timed(BlockStreamDrainer.drain(
          "127.0.0.1", srv.boundPort, s"$root/feed_$r"))
        t
      } finally srv.close())
      // drain under protobuf framing (gRPC LPM vs JSON — prices the codec)
      val psrv = new BlockStreamServer(
        script(blocks, eventsPerBlock, perMessage), binary = true)
      drainProtoSecs += (try {
        val (_, t) = timed(BlockStreamDrainer.drain(
          "127.0.0.1", psrv.boundPort, s"$root/feed_proto_$r", binary = true))
        t
      } finally psrv.close())
      // drain over h2c (prices the transport layer vs the raw socket)
      val hsrv = new BlockStreamServer(
        script(blocks, eventsPerBlock, perMessage), binary = true, h2c = true)
      drainH2cSecs += (try {
        val (_, t) = timed(BlockStreamDrainer.drain(
          "127.0.0.1", hsrv.boundPort, s"$root/feed_h2c_$r",
          binary = true, h2c = true))
        t
      } finally hsrv.close())
      // backfill: chunks → canonical parquet (no relational leg)
      def runDriver(tag: String,
          sink: Option[(JdbcMultiTableSink, DataFrame => Map[String, DataFrame])]): Double = {
        val d = new StreamDriver(spark, s"$root/facts_$tag", s"$root/ckpt_$tag",
          multiTableSink = sink)
        val (_, t) = timed {
          d.start(CappedFeedSource(s"$root/feed_$r", chunksPerTrigger),
            Trigger.AvailableNow()).awaitTermination()
        }
        val n = spark.read.parquet(s"$root/facts_$tag/raw_events").count()
        require(n == events, s"ingest $tag row count $n != $events")
        t
      }
      backfillSecs += runDriver(s"backfill_$r", None)
      // full: same backlog with the multi-table JDBC leg attached
      fullSecs += runDriver(s"full_$r", Some(mkSink(s"db_full_$r")))
      // jdbc: the sink leg alone, one batch, all rows
      val (sinkOnly, routeOnly) = mkSink(s"db_only_$r")
      val batch = spark.read.parquet(s"$root/facts_backfill_$r/raw_events")
        .select("block_number", "transaction_index", "event_index", "event_id")
        .persist()
      jdbcRows = batch.count()
      val (_, jdbcSec) = timed(sinkOnly.write(routeOnly(batch), 0L, blocks.toLong))
      jdbcSecs += jdbcSec
      // jdbc_pg: the identical batch against live Postgres over the wire
      pg.foreach { _ =>
        val (pgSink, pgRoute) = mkPgSink(r)
        val (_, pgSec) = timed(pgSink.write(pgRoute(batch), 0L, blocks.toLong))
        jdbcPgSecs += pgSec
      }
      batch.unpersist()
    }

    // ---- live: paced producer, per-block end-to-end lag ----------------
    val liveDir = s"$root/live_feed"
    val liveSrv = new BlockStreamServer(
      script(liveBlocks, eventsPerBlock, perMessage = 1), paceMs = livePaceMs)
    val done = new ConcurrentHashMap[Long, Long]()
    val lags = try {
      val driver = new StreamDriver(spark, s"$root/facts_live", s"$root/ckpt_live",
        multiTableSink = Some(mkSink("db_live")),
        onOperationalRefresh = { df =>
          if (df.columns.contains("block_number")) {
            val t = System.currentTimeMillis()
            df.select("block_number").distinct().collect()
              .foreach(r => if (!r.isNullAt(0)) done.putIfAbsent(r.getLong(0), t))
          }
        })
      val q = driver.start(CappedFeedSource(liveDir, chunksPerTrigger),
        Trigger.ProcessingTime("100 milliseconds"))
      try {
        BlockStreamDrainer.drain("127.0.0.1", liveSrv.boundPort, liveDir)
        val deadline = System.currentTimeMillis() + 120000L
        while (done.size < liveBlocks && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        require(done.size == liveBlocks,
          s"live phase saw ${done.size}/$liveBlocks blocks before timeout")
      } finally q.stop()
      // block b rides chunk b (single-block messages, no control chunks):
      // lag = operational visibility − chunk-commit mtime
      (1 to liveBlocks).map { b =>
        val committed = Files.getLastModifiedTime(
          Paths.get(liveDir, f"chunk-$b%012d.jsonl")).toMillis
        math.max(0L, done.get(b.toLong) - committed)
      }.sorted
    } finally liveSrv.close()

    pg.foreach { inst =>
      inst.stop()
      rmTree(inst.dataDir.getParent.toFile) // own temp root, own cleanup
    }

    def pct(p: Int): Long = lags((lags.size * p / 100).min(lags.size - 1))
    Result(blocks, events,
      drainSecs.result(), drainProtoSecs.result(), drainH2cSecs.result(),
      backfillSecs.result(), fullSecs.result(),
      jdbcSecs.result(), jdbcRows, jdbcBatchSize, jdbcPgSecs.result(),
      liveBlocks, livePaceMs, pct(50), pct(95), lags.last)
  }

  /** Standalone run: prints the JSON fragment alone. Volume overridable
    * via SPARK_GRAFT_INGEST_BLOCKS for scale points beyond the bench's
    * default (the bench itself always runs the sf0.1-equivalent volume). */
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val blocks = sys.env.getOrElse("SPARK_GRAFT_INGEST_BLOCKS", "2500").toInt
    try println(run(spark, blocks = blocks).json) finally spark.stop()
  }
}
