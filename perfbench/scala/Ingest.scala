package graft.perfbench

import java.nio.file.{Files, Paths}
import java.sql.DriverManager
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.fixtures.Fixtures
import graft.sources.BlockSource
import graft.sources.net.{BlockStreamDrainer, BlockStreamServer, BlockStreamWire}
import graft.sources.v2.BlockFeedProvider
import graft.streaming.{JdbcMultiTableSink, StreamDriver}
import graft.streaming.pg.{PgDriver, PgServer}

/** One line of a generated chain script (see gen.py). */
final case class Msg(kind: String, finality: String, blocks: Seq[BlockStreamWire.WireBlock],
    key: Long, atMs: Double, block: Long) {
  def wire: String = kind match {
    case "invalidate" => BlockStreamWire.invalidate(key)
    case "heartbeat" => BlockStreamWire.heartbeat
    case _ => BlockStreamWire.data(blocks, finality)
  }
}

object Script {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def read(path: String): Vector[Msg] =
    Files.readAllLines(Paths.get(path)).asScala.iterator.filter(_.nonEmpty).map { line =>
      val n = mapper.readTree(line)
      val blocks = n.path("blocks").elements().asScala.map { b =>
        val evs = b.get(2).elements().asScala.map(e => (e.get(0).asLong(), e.get(1).asLong())).toVector
        BlockStreamWire.WireBlock(b.get(0).asLong(), b.get(1).asLong(), evs)
      }.toVector
      Msg(n.path("t").asText(), n.path("fin").asText("accepted"), blocks,
        n.path("key").asLong(0), n.path("at_ms").asDouble(0), n.path("block").asLong(0))
    }.toVector

  def key(b: Long, t: Long, e: Long): Long = (b << 32) | (t << 16) | e

  /** The canonical chain a consumer must end with: accepted data in
    * order, each invalidate dropping every block after its cursor. */
  def canonicalKeys(msgs: Seq[Msg]): Array[Long] = {
    val chain = scala.collection.mutable.TreeMap.empty[Long, Seq[(Long, Long)]]
    msgs.foreach { m =>
      if (m.kind == "invalidate") chain.keys.filter(_ > m.key).toVector.foreach(chain.remove)
      else if (m.kind == "data" && m.finality == "accepted") m.blocks.foreach(b => chain(b.blockNumber) = b.events)
    }
    chain.iterator.flatMap { case (b, evs) => evs.map { case (t, e) => key(b, t, e) } }.toArray.sorted
  }
}

/** The `graft-blocks` source with the admission cap the workload sets. */
final case class FeedSource(dir: String, cap: Option[Int]) extends BlockSource {
  override val schema: StructType = BlockFeedProvider.withControlColumns(StructType(Seq(
    StructField("block_number", LongType), StructField("transaction_index", LongType),
    StructField("event_index", LongType), StructField("is_pending", BooleanType))))
  override def stream(spark: SparkSession): DataFrame = {
    val r = spark.readStream.format("graft-blocks").schema(schema).option("path", dir)
    cap.fold(r)(c => r.option("maxChunksPerTrigger", c.toString)).load()
  }
}

/** The relational target: a local PostgreSQL started by `PgServer` under
  * `--pg-dir` (outside the checkout: as root the server runs as `nobody`,
  * which must reach its data directory). */
final class Db(ctx: Ctx, tag: String) {
  private val pg: PgServer.Instance = {
    require(PgServer.available, "PostgreSQL server binaries (initdb, pg_ctl) not found")
    require(ctx.a.pgDir.nonEmpty, "no --pg-dir for the PostgreSQL clusters")
    PgDriver.ensureRegistered()
    PgServer.start(Paths.get(s"${ctx.a.pgDir}/$tag"))
  }
  val url: String = pg.url()
  val props: Properties = {
    val p = new Properties
    p.setProperty("batchsize", "1000")
    p.setProperty("user", pg.user)
    p.setProperty("driver", "graft.streaming.pg.PgDriver")
    p
  }

  /** A multi-table sink over fresh tables: even and odd blocks routed to
    * two fact tables, the reference's per-processor fan-out in miniature. */
  def sink(name: String): (JdbcMultiTableSink, DataFrame => Map[String, DataFrame], Seq[String]) = {
    val tables = Seq(s"${name}_even", s"${name}_odd")
    val s = new JdbcMultiTableSink(url, tables, cursorTable = s"${name}_cursor", connectionProperties = props)
    val route = (b: DataFrame) => Map(
      tables(0) -> b.filter(col("block_number") % 2 === 0),
      tables(1) -> b.filter(col("block_number") % 2 === 1))
    (s, route, tables)
  }

  /** Every (block, tx, event) key held by `tables`, sorted. */
  def keys(tables: Seq[String]): Array[Long] = {
    val c = DriverManager.getConnection(url, props)
    try tables.flatMap { t =>
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(
          s"""SELECT "block_number", "transaction_index", "event_index" FROM $t""")
        val out = Array.newBuilder[Long]
        while (rs.next()) out += Script.key(rs.getLong(1), rs.getLong(2), rs.getLong(3))
        out.result()
      } catch { case _: java.sql.SQLException => Array.empty[Long] } // never created: no rows
      finally st.close()
    }.toArray.sorted
    finally c.close()
  }

  def stop(): Unit = {
    pg.stop()
    Files2.rm(pg.dataDir.getParent.toString)
  }
}

/** `ingest`: the chain wire → drainer → `graft-blocks` → `StreamDriver` →
  * parquet facts + `JdbcMultiTableSink`, measured two ways in one run:
  * saturated backfill passes ([[Backfill]], the throughput) and an open-loop
  * live schedule ([[Live]], the per-block lag). Both share one set-up: the
  * database and a warm-up of the whole chain. A traced run then adds the
  * streaming sketch replays of [[Loops]]. */
final class Ingest(val ctx: Ctx) {
  import ctx._
  var db: Db = _

  def run(): Unit = {
    val backfill = Script.read(s"${a.inputs}/backfill.jsonl")
    try {
      setup(backfill)
      val bfDir = new Backfill(this, backfill).run()
      val liveDir = new Live(this, Script.read(s"${a.inputs}/live.jsonl")).run()
      res.metric("storage_mb", blockManagerMb + Files2.duMb(bfDir) + Files2.duMb(liveDir), "MB")
      if (a.trace) replays(s"${a.inputs}/corpus")
    } finally if (db != null) db.stop()
  }

  /** The sketch replays over the seeded corpus, traced. */
  private def replays(sfDir: String): Unit = {
    val out = new Outputs(work("out"), sfDir)
    listeners.attach()
    tracer.enabled = true
    try {
      span("fixtures", "register") { Fixtures.register(spark, sfDir) }
      Loops.run(ctx, out, sfDir, "replays", Loops.replays, "streaming.Streaming")
    } finally { tracer.enabled = false; listeners.detach() }
    out.writeOracles()
  }

  /** Set-up: start the database three times (each start replaces the
    * previous instance; the median counts), then warm the whole chain once
    * on `warm`, the whole backlog: one-time costs (streaming machinery, JDBC
    * writer codegen, JIT) land in set-up, not in the measured passes. */
  private def setup(warm: Vector[Msg]): Unit = {
    val starts = (1 to 3).map { r =>
      if (db != null) db.stop()
      Stats.timed { db = tracing(span("streaming.pg", "start database") { new Db(ctx, s"s$r") }) }._2
    }
    val dir = work("warm")
    val (_, warmS) = Stats.timed {
      val srv = new BlockStreamServer(warm.map(_.wire), binary = true, h2c = true)
      try BlockStreamDrainer.drain("127.0.0.1", srv.boundPort, s"$dir/feed", binary = true, h2c = true)
      finally srv.close()
      val (sink, route, _) = db.sink("warm")
      new StreamDriver(spark, s"$dir/facts", s"$dir/ckpt", multiTableSink = Some((sink, route)))
        .start(FeedSource(s"$dir/feed", Some(10)), Trigger.AvailableNow()).awaitTermination()
    }
    Files2.rm(dir)
    res.metric("setup.db_start_s", Stats.median(starts), "s", starts.size)
    res.metric("setup.warm_s", warmS, "s")
    res.metric("setup_s", Main.sessionS + a.genS + Stats.median(starts) + warmS, "s")
  }

  def factKeys(factRoot: String): Array[Long] =
    spark.read.parquet(s"$factRoot/raw_events")
      .select("block_number", "transaction_index", "event_index").collect()
      .map(r => Script.key(r.getLong(0), r.getLong(1), r.getLong(2))).sorted

  def sameKeys(name: String, got: Array[Long], want: Array[Long]): Unit =
    res.check(name, java.util.Arrays.equals(got, want),
      s"${got.length} rows vs ${want.length} expected; " +
        s"first differing key ${got.zipAll(want, -1L, -1L).find { case (x, y) => x != y }}")

  /** Trigger time of every data micro-batch of `q`, ms. */
  def triggerMs(q: StreamingQuery): Seq[Double] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
      .map(_.durationMs.asScala.get("triggerExecution").map(_.doubleValue).getOrElse(0.0))

  /** Per-layer driver, connector and sink metrics from the listeners'
    * progress and write records; `passes` turns totals into per-pass
    * figures. Names start with `driver.`, `v2.` and `sink.`, behind
    * `prefix.` when given. */
  def layerMetrics(prefix: Option[String], passes: Int): Unit = {
    listeners.drain()
    def name(n: String) = prefix.fold(n)(p => s"$p.$n")
    val prog = listeners.progress.asScala.toSeq
    val data = prog.filter(_.numInputRows > 0)
    def ph(p: String) = data.flatMap(_.durationMs.asScala.get(p).map(_.doubleValue))
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    res.metric(name("driver.batches"), data.size.toDouble / passes, "count", data.size)
    res.metric(name("driver.trigger_ms_p50"), p50(ph("triggerExecution")), "ms", data.size)
    res.metric(name("driver.trigger_ms_p95"), if (data.isEmpty) 0.0 else Stats.pct(ph("triggerExecution"), 95), "ms", data.size)
    res.metric(name("driver.add_batch_ms_p50"), p50(ph("addBatch")), "ms", data.size)
    res.metric(name("driver.planning_ms_p50"), p50(ph("queryPlanning")), "ms", data.size)
    res.metric(name("driver.wal_commit_ms_p50"), p50(ph("walCommit")), "ms", data.size)
    res.metric(name("driver.commit_offsets_ms_p50"), p50(ph("commitOffsets")), "ms", data.size)
    res.metric(name("v2.latest_offset_ms_p50"), p50(ph("latestOffset")), "ms", data.size)
    res.metric(name("v2.get_batch_ms_p50"), p50(ph("getBatch")), "ms", data.size)
    val chunks = data.map(p => scala.util.Try(p.sources.head.endOffset.trim.toDouble -
      Option(p.sources.head.startOffset).map(_.trim.toDouble).getOrElse(0.0)).getOrElse(0.0))
    res.metric(name("v2.chunks_per_batch"), p50(chunks), "count", chunks.size)
    val w = listeners.writes.asScala.toSeq
    def ms(kind: String) = w.filter(_.kind == kind).map(_.durationNs / 1e6).sum / passes
    res.metric(name("driver.fact_write_ms"), ms("fact"), "ms", w.count(_.kind == "fact"))
    res.metric(name("driver.pending_write_ms"), ms("pending"), "ms", w.count(_.kind == "pending"))
    res.metric(name("sink.write_ms"), ms("jdbc"), "ms", w.count(_.kind == "jdbc"))
    // idle: the share of each query's lifetime with no trigger running
    val idle = prog.groupBy(_.runId).values.toSeq.map { ps =>
      val ts = ps.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble)
      val dur = ps.map(_.durationMs.asScala.get("triggerExecution").map(_.doubleValue).getOrElse(0.0))
      val life = (ts.zip(dur).map { case (t, d) => t + d }.max - ts.min).max(1.0)
      (1 - dur.sum / life).max(0.0)
    }
    res.metric(name("driver.idle_ratio"), p50(idle), "ratio", idle.size)
  }
}
