package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.fixtures.Fixtures
import graft.sources.FeedBlockSource
import graft.sources.net.{BlockStreamDrainer, BlockStreamScenario, BlockStreamServer}
import graft.sources.v2.BlockFeedProvider
import graft.streaming.{JdbcMultiTableSink, RollupRefresher, StreamDriver}

/** The reference's whole §3 lifecycle in ONE scenario — the integration
  * certificate the piecewise specs (NetFeedSpec, StreamingSpec,
  * JdbcMultiTableSinkSpec, RollupIncrementalSpec) imply but don't prove:
  *
  *   TCP server speaking the reference message grammar
  *     → drainer → chunk directory → `graft-blocks` DSv2 connector
  *     → StreamDriver (canonical parquet + in-memory pending head)
  *     → JdbcMultiTableSink (routed fact tables + cursor-as-commit)
  *     → RollupRefresher (4 hourly rollups) + operational-tier hook
  *
  * with BOTH failure modes the reference's design revolves around, in one
  * run: a mid-stream REORG (the wire's invalidate arm) and a KILL/RESTART
  * (a lost commit marker forcing a checkpoint replay). At the end, every
  * surface must equal its batch recompute of the final chain: canonical
  * facts, the pending head, each JDBC table, the cursor, and each rollup
  * against a fresh full materialization.
  */
class LifecycleSoakSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("block_number", LongType),
    StructField("transaction_index", LongType),
    StructField("event_index", LongType),
    StructField("is_pending", BooleanType)))
  private val ctl = BlockFeedProvider.withControlColumns(schema)

  test("wire → drainer → connector → driver → JDBC + rollups survives reorg AND restart") {
    val root = SparkSpec.tempDir("graft-soak").toString
    val dir = s"$root/feed"
    val sfDir = SparkSpec.fixtureSf
    Fixtures.register(spark, sfDir)

    // scenario: finalized 1..80 (+ pending 81), reorg to a 50..60 chain
    // (+ pending 61); final canonical = 1..49 survivors + 50..60 = 60 blocks
    // the soak runs the BINARY framing (gRPC length-prefixed protobuf,
    // BlockProtoCodec) so the codec is certified under reorg + restart +
    // mid-script resume; NetFeedSpec keeps the JSON framing covered, and
    // ProtoWireSpec pins the two framings chunk-identical
    val script = BlockStreamScenario.chainWithReorg(blocks = 80L, reorgAt = 50L)
    val srv = new BlockStreamServer(script, binary = true)

    val url = s"jdbc:derby:$root/db;create=true"
    val factTables = Seq("soak_even", "soak_odd")
    val sink = new JdbcMultiTableSink(url, factTables)
    val route = (batch: DataFrame) => Map(
      "soak_even" -> batch.filter(col("block_number") % 2 === 0),
      "soak_odd" -> batch.filter(col("block_number") % 2 === 1))

    val refresher = new RollupRefresher(spark, sfDir, s"$root/rollups")
    var analyticalTicks = 0
    var operationalTicks = 0
    // the operational tier: the six pool-state views the reference's
    // refreshOperationalMaterializedView maintains, materialized once on
    // the first tick (wiring + servability; their per-row correctness is
    // the DuckDB gate's job)
    val opViews: Seq[(String, () => DataFrame)] = Seq(
      "pool_states", "per_pool_per_tick_liquidity", "twamm_pool_states",
      "limit_order_pool_states", "oracle_pool_states", "spline_pools")
      .map(n => (n, () => SparkEntry.queries(n)(spark, sfDir)))
    def mkDriver() = new StreamDriver(spark, s"$root/facts", s"$root/ckpt",
      analyticalEvery = 3L,
      onOperationalRefresh = { _ =>
        operationalTicks += 1
        if (operationalTicks == 1)
          opViews.foreach { case (name, build) =>
            build().write.mode("overwrite").parquet(s"$root/op/$name")
          }
      },
      onAnalyticalRefresh = b => { analyticalTicks += 1; refresher.hook(b) },
      multiTableSink = Some((sink, route)))

    try {
      // ---- phase 1: the pre-reorg prefix crosses the wire --------------
      // 3 data messages (1..40, 41..80, pending 81) + the heartbeat
      val (n1, done1) = BlockStreamDrainer.drainOnce(
        "127.0.0.1", srv.boundPort, dir, maxMessages = 4, binary = true)
      assert(n1 == 4 && !done1)
      mkDriver().start(FeedBlockSource(dir, ctl), Trigger.AvailableNow())
        .awaitTermination()

      val mid = spark.read.parquet(s"$root/facts/raw_events")
      assert(mid.count() == 80L, "pre-reorg canonical chain")
      factTables.foreach { t =>
        assert(spark.read.jdbc(url, t, new java.util.Properties).count() == 40L,
          s"$t must hold its half of the pre-reorg chain")
      }

      // ---- kill: lose the last commit marker (forces a replay) ---------
      val commitsDir = java.nio.file.Paths.get(s"$root/ckpt/ingest/commits")
      val last = graft.util.Dirs.listNames(commitsDir.toString)
        .filter(_.forall(_.isDigit)).map(_.toLong).max
      Files.delete(commitsDir.resolve(last.toString))
      Files.deleteIfExists(commitsDir.resolve(s".$last.crc"))

      // ---- phase 2: the reorg + new chain arrive; restarted driver -----
      BlockStreamDrainer.drain("127.0.0.1", srv.boundPort, dir, binary = true)
      val driver = mkDriver()
      driver.start(FeedBlockSource(dir, ctl), Trigger.AvailableNow())
        .awaitTermination()

      // ---- canonical surface equals the batch truth --------------------
      val canonical = spark.read.parquet(s"$root/facts/raw_events")
      val blocksHeld = canonical.select("block_number")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(blocksHeld == ((1L to 49L) ++ (50L to 60L)),
        s"canonical must be the 49 survivors + the new chain, got $blocksHeld")
      assert(canonical.groupBy(col("block_number")).count()
        .filter(col("count") > 1).isEmpty,
        "replay + reorg must leave no duplicate blocks")

      // pending head is operational-only, held by the driver that processed it
      val pending = driver.operationalEvents
        .filter(col("batch_id") === driver.PendingBatchId)
        .select("block_number").collect().map(_.getLong(0)).toSeq
      assert(pending == Seq(61L), s"pending head after the reorg, got $pending")

      // ---- relational surface: every table equals canonical routed -----
      factTables.foreach { t =>
        val got = spark.read.jdbc(url, t, new java.util.Properties)
          .select("block_number").collect().map(_.getLong(0)).sorted.toSeq
        val want = blocksHeld.filter(b =>
          (t == "soak_even") == (b % 2 == 0))
        assert(got == want, s"$t diverged from canonical: got $got")
      }
      val (_, endBlock) = sink.cursor().getOrElse(fail("cursor never advanced"))
      assert(endBlock == 60L, s"cursor endBlock must be the chain tip, got $endBlock")

      // ---- analytical surface: rollups equal a fresh full recompute ----
      assert(analyticalTicks >= 1, "the analytical tier never ticked")
      val fresh = new RollupRefresher(spark, sfDir, s"$root/rollups_fresh")
      fresh.refresh()
      Seq("hourly_volume_by_token", "hourly_revenue_by_token",
        "hourly_price_data", "hourly_tvl_delta_by_token").foreach { name =>
        val inc = refresher.table(name)
        val full = fresh.table(name)
        assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty,
          s"rollup $name diverged from its full recompute")
      }

      // ---- operational tier materialized and is servable ---------------
      assert(operationalTicks >= 2, "operational tier must tick per batch")
      opViews.foreach { case (name, _) =>
        assert(spark.read.parquet(s"$root/op/$name").count() > 0,
          s"operational view $name must be servable")
      }
    } finally srv.close()
  }
}
