package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.fixtures.Fixtures
import graft.queries.{CoreViews, Twamm}
import graft.queries.CoreViews.Facts

/** Hand-built-frame semantics of the core views (SURVEY.md §5):
  * pool_states fallback rules (dao.ts:387-417), tick-liquidity
  * cancellation (dao.ts:475-499), and the seven operational views of the
  * per-pool tier on degenerate inputs. */
class ViewSemanticsSpec extends SparkSpec {

  private def dec(v: Long) = new java.math.BigDecimal(v)

  private lazy val emptySwaps = {
    import spark.implicits._
    Seq.empty[(String, java.math.BigDecimal, Long, java.math.BigDecimal, Double, Long)]
      .toDF("pool_key_hash", "liquidity_after", "event_id", "x", "sqrt_ratio_after", "tick_after")
      .select($"event_id", $"pool_key_hash", $"sqrt_ratio_after", $"tick_after", $"liquidity_after")
  }

  test("pool_states falls back to initialization when no swaps (dao.ts:387-390)") {
    import spark.implicits._
    val pools = Seq("p1").toDF("key_hash")
    val inits = Seq((10L, "p1", 42L, 1.5e38))
      .toDF("event_id", "pool_key_hash", "tick", "sqrt_ratio")
    val updates = Seq.empty[(Long, String, Long, Long, java.math.BigDecimal)]
      .toDF("event_id", "pool_key_hash", "lower_bound", "upper_bound", "liquidity_delta")

    val out = CoreViews.poolStatesFrom(spark, pools, emptySwaps, inits, updates).collect().head
    assert(out.getAs[Long]("tick") == 42L)
    assert(out.getAs[Double]("sqrt_ratio") == 1.5e38)
    assert(out.getAs[java.math.BigDecimal]("liquidity").longValueExact() == 0L)
    assert(out.getAs[Long]("last_event_id") == 10L)
  }

  test("pool_states counts only straddling post-swap deltas (dao.ts:407-417)") {
    import spark.implicits._
    val pools = Seq("p1").toDF("key_hash")
    val swaps = Seq((100L, "p1", dec(500), 3.0e38, 50L))
      .toDF("event_id", "pool_key_hash", "liquidity_after", "sqrt_ratio_after", "tick_after")
    val inits = Seq((10L, "p1", 0L, 1.0e38))
      .toDF("event_id", "pool_key_hash", "tick", "sqrt_ratio")
    val updates = Seq(
      (90L, "p1", 0L, 100L, dec(111)),   // before last swap: ignored
      (110L, "p1", 0L, 100L, dec(7)),    // after, straddles tick 50: counted
      (120L, "p1", 60L, 100L, dec(13)))  // after, does not straddle: ignored
      .toDF("event_id", "pool_key_hash", "lower_bound", "upper_bound", "liquidity_delta")

    val out = CoreViews.poolStatesFrom(spark, pools, swaps, inits, updates).collect().head
    assert(out.getAs[java.math.BigDecimal]("liquidity").longValueExact() == 507L)
    assert(out.getAs[Long]("last_event_id") == 120L)
    assert(out.getAs[Long]("last_liquidity_update_event_id") == 120L)
  }

  test("tick liquidity cancels to zero on full withdrawal (dao.ts:498)") {
    import spark.implicits._
    val updates = Seq(
      (1L, "p1", 0L, 100L, dec(50)),
      (2L, "p1", 0L, 100L, dec(-50)),  // full withdrawal: both bounds cancel
      (3L, "p1", 200L, 300L, dec(9)))
      .toDF("event_id", "pool_key_hash", "lower_bound", "upper_bound", "liquidity_delta")

    val rows = CoreViews.tickLiquidityFrom(spark, updates)
      .orderBy("tick").collect()
    // ticks 0/100 cancelled entirely; only the open 200/300 position remains
    assert(rows.map(_.getAs[Long]("tick")).toSeq == Seq(200L, 300L))
    assert(rows.map(_.getAs[java.math.BigDecimal]("net_liquidity_delta_diff").longValueExact()).toSeq
      == Seq(9L, -9L))
  }

  // ---- the per-pool tier on degenerate inputs: every view keeps its
  // declared schema and none throws

  private val opViews = CoreViews.views ++ Twamm.views

  /** Output columns (name, type) of each view over the fixtures. */
  private lazy val declared: Map[String, Seq[(String, DataType)]] = {
    Fixtures.register(spark, SparkSpec.fixtureSf)
    opViews.keys.map { v =>
      v -> SparkEntry.queries(v)(spark, SparkSpec.fixtureSf).schema.map(f => (f.name, f.dataType))
    }.toMap
  }

  /** Every view over `facts`, collected, after checking its schema. */
  private def run(facts: Facts): Map[String, Seq[Row]] = {
    val tier = CoreViews.tierFrom(spark, facts)
    opViews.map { case (v, project) =>
      val df: DataFrame = project(tier)
      assert(df.schema.map(f => (f.name, f.dataType)) == declared(v), v)
      v -> df.collect().toSeq
    }
  }

  private def keys(rows: Seq[Row]): Set[String] =
    rows.map(_.getAs[String]("pool_key_hash")).toSet

  /** An event id in `block` (dao.ts:124 packing). */
  private def eid(block: Long, n: Long) = (block << 32) + n

  private def facts(pools: String*): Facts = {
    import spark.implicits._
    Facts.empty(spark).copy(pools = pools.toDF("key_hash"))
  }

  test("degenerate: empty fact tables give empty views; a bare pool gets an empty state") {
    assert(run(Facts.empty(spark)).values.forall(_.isEmpty))

    val out = run(facts("p1"))
    assert(out.filter(_._1 != "pool_states").values.forall(_.isEmpty))
    val ps = out("pool_states").head
    assert(ps.getAs[String]("pool_key_hash") == "p1" && ps.isNullAt(ps.fieldIndex("tick")))
    assert(ps.getAs[Long]("liquidity") == 0L && ps.isNullAt(ps.fieldIndex("last_event_id")))
  }

  test("degenerate: a pool with only position updates") {
    import spark.implicits._
    val out = run(facts("p1").copy(updates = Seq((5L, "p1", 0L, 100L, dec(40)))
      .toDF("event_id", "pool_key_hash", "lower_bound", "upper_bound", "liquidity_delta")))
    val ps = out("pool_states").head
    // no swap or initialization: no tick, so no delta counts (dao.ts:407-417)
    assert(ps.isNullAt(ps.fieldIndex("tick")) && ps.getAs[Long]("liquidity") == 0L)
    assert(ps.getAs[Long]("last_event_id") == 5L && ps.getAs[Long]("last_liquidity_update_event_id") == 5L)
    assert(out("per_pool_per_tick_liquidity").map(_.getAs[Long]("tick")).sorted == Seq(0L, 100L))
    assert(Seq("twamm_pool_states", "twamm_sale_rate_deltas", "limit_order_pool_states",
      "oracle_pool_states", "spline_pools").forall(out(_).isEmpty))
  }

  private def orders = {
    import spark.implicits._
    Seq((eid(103, 1), "p1", dec(10), dec(7), 1000L, 5000L))
      .toDF("event_id", "key_hash", "sale_rate_delta0", "sale_rate_delta1", "start_time", "end_time")
  }

  test("degenerate: TWAMM orders without any virtual execution") {
    val out = run(facts("p1").copy(orders = orders))
    assert(out("twamm_pool_states").isEmpty && out("twamm_sale_rate_deltas").isEmpty)
    assert(out("pool_states").size == 1)
  }

  test("degenerate: the last execution's block is missing from blocks") {
    import spark.implicits._
    val executions = Seq((eid(100, 1), "p1", dec(3), dec(2)), (eid(102, 1), "p1", dec(4), dec(5)))
      .toDF("event_id", "key_hash", "token0_sale_rate", "token1_sale_rate")
    val withBlock = facts("p1").copy(executions = executions, orders = orders,
      blocks = Seq((100L, 900L), (102L, 1200L)).toDF("number", "time"))
    val ok = run(withBlock)
    val tps = ok("twamm_pool_states").head
    // the order (start 1000 <= 1200 < end 5000) is active at the last execution
    assert(tps.getAs[Long]("token0_sale_rate") == 14L && tps.getAs[Long]("last_virtual_execution_time") == 1200L)
    assert(ok("twamm_sale_rate_deltas").map(_.getAs[Long]("time")) == Seq(5000L))

    // only block 100 known: the reference's inner join drops the pool, it
    // does not fall back to the execution before
    val out = run(withBlock.copy(blocks = Seq((100L, 900L)).toDF("number", "time")))
    assert(out("twamm_pool_states").isEmpty && out("twamm_sale_rate_deltas").isEmpty)
    assert(out("pool_states").size == 1)
  }

  test("degenerate: a pool in the facts but not in pool_keys") {
    import spark.implicits._
    val f = facts("p1").copy(
      swaps = Seq((eid(100, 1), "p2", dec(500), 3.0e38, 50L))
        .toDF("event_id", "pool_key_hash", "liquidity_after", "sqrt_ratio_after", "tick_after"),
      updates = Seq((eid(100, 2), "p2", 0L, 100L, dec(7)))
        .toDF("event_id", "pool_key_hash", "lower_bound", "upper_bound", "liquidity_delta"),
      executions = Seq((eid(100, 3), "p2", dec(3), dec(2)))
        .toDF("event_id", "key_hash", "token0_sale_rate", "token1_sale_rate"),
      orders = orders.withColumn("key_hash", lit("p2")),
      placed = Seq((eid(100, 4), "p2")).toDF("event_id", "key_hash"),
      snapshots = Seq(("p2", 900L)).toDF("key_hash", "snapshot_block_timestamp"),
      splines = Seq("p2").toDF("pool_key_hash"),
      blocks = Seq((100L, 900L)).toDF("number", "time"))
    val out = run(f)
    // the views that join pool_states keep to pool_keys (dao.ts:803,865)...
    assert(keys(out("pool_states")) == Set("p1"))
    assert(Seq("twamm_pool_states", "twamm_sale_rate_deltas", "limit_order_pool_states")
      .forall(out(_).isEmpty))
    // ...the others read their fact table alone
    assert(Seq("per_pool_per_tick_liquidity", "oracle_pool_states", "spline_pools")
      .forall(v => keys(out(v)) == Set("p2")))
  }
}
