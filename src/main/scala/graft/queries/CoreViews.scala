package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.fixtures.Fixtures
import graft.ingest.Ingest

/** Operational "current state" views of the reference, §2.11 of SURVEY.md,
  * as one per-pool plan.
  *
  * The reference refreshes its seven operational views together on every
  * head block (dao.ts:1798-1807). Here all seven are projections of one
  * memoized frame, [[tier]], built with a single shuffle. Every fact row the
  * views read is tagged with its source and hashed by pool; then, within
  * each pool:
  *   1. a window over the whole pool finds the values the "since the last
  *      event" sums compare against: the last swap-or-initialization event
  *      and its tick, and the last virtual execution and its block time.
  *      The reference's correlated subqueries (dao.ts:407-417, 786-794)
  *      thereby become conditional sums, with no join back to the pool row;
  *   2. one grouping by (pool, kind, position) yields, at kind 0, one row
  *      per pool holding every "last event" column — a conditional `max_by`
  *      per source, the decorrelated `LATERAL ... ORDER BY event_id DESC
  *      LIMIT 1` of dao.ts:392-405 — together with those sums; at kind 1,
  *      the net and total liquidity per (pool, tick bound) (dao.ts:475-499);
  *      at kind 2, the net sale-rate change per (pool, time) after the last
  *      execution (dao.ts:817-851).
  * Block times reach the executions through a broadcast join to `blocks`
  * ahead of the shuffle. A refresh therefore runs three jobs for the memo
  * (that broadcast, the shuffle's map stage, the checkpoint) and only
  * narrow filters and projections per view: at this size the tier costs
  * per job and per generated class, not per row.
  *
  * Inputs. Over the registered fixtures ([[tier]]) the tagged rows come
  * from three cached tables, each scanned once: `ek`, of which nine of the
  * ten sources are filters (one projection tags each row with the table
  * whose `Fixtures.ekTables` predicate holds and fills the slots from that
  * table's declared column expressions), `pool_keys`, and `blocks` for the
  * broadcast. [[tierFrom]] builds the same tier from ten explicit tables,
  * a union of ten scans: the path for hand-built inputs, and the reference
  * the one-scan path is tested against.
  *
  * The reference's trigger-maintained per-tick table (dao.ts:501-647) is
  * replaced by this recompute.
  */
object CoreViews {

  private val dec38 = DecimalType(38, 0)
  private val dec30 = DecimalType(30, 0)

  /** The tables the tier reads: the fact tables and the two dimensions. */
  final case class Facts(pools: DataFrame, swaps: DataFrame, inits: DataFrame,
      updates: DataFrame, executions: DataFrame, orders: DataFrame, placed: DataFrame,
      closed: DataFrame, snapshots: DataFrame, splines: DataFrame, blocks: DataFrame)

  object Facts {
    /** The tables `Fixtures.register` declares. */
    def registered(spark: SparkSession): Facts = {
      def t(name: String) = spark.table(name)
      Facts(t("pool_keys"), t("swaps"), t("pool_initializations"), t("position_updates"),
        t("twamm_virtual_order_executions"), t("twamm_order_updates"), t("limit_order_placed"),
        t("limit_order_closed"), t("oracle_snapshots"), t("liquidity_updated"), t("blocks"))
    }

    /** Empty tables with just the columns the tier reads: the base for
      * hand-built inputs. */
    def empty(spark: SparkSession): Facts = {
      def e(ddl: String) = spark.createDataFrame(java.util.List.of[Row](), StructType.fromDDL(ddl))
      val ev = "event_id BIGINT, key_hash STRING"
      Facts(
        pools = e("key_hash STRING"),
        swaps = e("event_id BIGINT, pool_key_hash STRING, sqrt_ratio_after DOUBLE, " +
          "tick_after BIGINT, liquidity_after DECIMAL(18,0)"),
        inits = e("event_id BIGINT, pool_key_hash STRING, tick BIGINT, sqrt_ratio DOUBLE"),
        updates = e("event_id BIGINT, pool_key_hash STRING, lower_bound BIGINT, " +
          "upper_bound BIGINT, liquidity_delta DECIMAL(18,0)"),
        executions = e(s"$ev, token0_sale_rate DECIMAL(18,0), token1_sale_rate DECIMAL(18,0)"),
        orders = e(s"$ev, sale_rate_delta0 DECIMAL(18,0), sale_rate_delta1 DECIMAL(18,0), " +
          "start_time BIGINT, end_time BIGINT"),
        placed = e(ev),
        closed = e(ev),
        snapshots = e("key_hash STRING, snapshot_block_timestamp BIGINT"),
        splines = e("pool_key_hash STRING"),
        blocks = e("number BIGINT, time BIGINT"))
    }
  }

  // source tags of the tier's tagged union
  private val Pool = 0
  private val Swap = 1
  private val Init = 2
  private val Update = 3
  private val Execution = 4
  private val Order = 5
  private val Placed = 6
  private val Closed = 7
  private val Snapshot = 8
  private val Spline = 9

  /** One source of the tier's tagged union: its tag, its fixture table and
    * that table in [[Facts]], and the table's columns that fill the tier's
    * slots. An execution's `t` and `u` come from `blocks` (see [[fromRows]]). */
  private final case class Source(tag: Int, table: String, of: Facts => DataFrame,
      columns: (String, String)*)

  private val poolKeys = Source(Pool, "pool_keys", _.pools, "pool_key_hash" -> "key_hash")
  /** The nine sources that are filters of `ek` (`Fixtures.ekTables`). */
  private val ekSources = Seq(
    Source(Swap, "swaps", _.swaps, "pool_key_hash" -> "pool_key_hash", "eid" -> "event_id",
      "a" -> "sqrt_ratio_after", "t" -> "tick_after", "x" -> "liquidity_after"),
    Source(Init, "pool_initializations", _.inits, "pool_key_hash" -> "pool_key_hash",
      "eid" -> "event_id", "a" -> "sqrt_ratio", "t" -> "tick"),
    Source(Update, "position_updates", _.updates, "pool_key_hash" -> "pool_key_hash",
      "eid" -> "event_id", "t" -> "lower_bound", "u" -> "upper_bound", "x" -> "liquidity_delta"),
    Source(Execution, "twamm_virtual_order_executions", _.executions, "pool_key_hash" -> "key_hash",
      "eid" -> "event_id", "x" -> "token0_sale_rate", "y" -> "token1_sale_rate"),
    Source(Order, "twamm_order_updates", _.orders, "pool_key_hash" -> "key_hash",
      "eid" -> "event_id", "t" -> "start_time", "u" -> "end_time", "x" -> "sale_rate_delta0",
      "y" -> "sale_rate_delta1"),
    Source(Placed, "limit_order_placed", _.placed, "pool_key_hash" -> "key_hash", "eid" -> "event_id"),
    Source(Closed, "limit_order_closed", _.closed, "pool_key_hash" -> "key_hash", "eid" -> "event_id"),
    Source(Snapshot, "oracle_snapshots", _.snapshots, "pool_key_hash" -> "key_hash",
      "t" -> "snapshot_block_timestamp"),
    Source(Spline, "liquidity_updated", _.splines, "pool_key_hash" -> "pool_key_hash"))

  // one layout for every source: pool, tag, event id, one DOUBLE, two
  // BIGINTs and two DECIMALs; a source's unused slots are NULL
  private val slots = Seq("pool_key_hash" -> StringType, "eid" -> LongType, "a" -> DoubleType,
    "t" -> LongType, "u" -> LongType, "x" -> dec38, "y" -> dec38)

  private def layout(src: Column)(fill: (String, DataType) => Column): Seq[Column] =
    src.as("src") +: slots.map { case (n, t) => fill(n, t).cast(t).as(n) }

  /** The rows of one explicit table, tagged and laid out. */
  private def tagged(s: Source, df: DataFrame): DataFrame =
    df.select(layout(lit(s.tag))((n, _) => s.columns.toMap.get(n).fold(lit(null))(col)): _*)

  /** The memoized tier over the registered fixtures: a localCheckpoint, so
    * every view reads a leaf RDD rather than re-planning the shuffle. */
  def tier(spark: SparkSession, sfDir: String): DataFrame =
    graft.util.Memo.checkpointed(spark, sfDir, "op_tier") {
      Fixtures.register(spark, sfDir)
      fixtureTier(spark)
    }

  /** The tier over the registered fixtures, not memoized. It reads three
    * cached tables, each scanned once: `ek`, `pool_keys` and `blocks`. */
  private[graft] def fixtureTier(spark: SparkSession): DataFrame =
    fromRows(spark, fixtureRows(spark), spark.table("blocks"))

  /** The tagged rows of the registered fixtures: `pool_keys`, and one
    * projection of one scan of `ek` for the nine tables that filter it. The
    * tag is the first of the nine tables' predicates that holds, and each slot
    * a `CASE` on the tag over those tables' column expressions, both taken
    * from the declarations in `Fixtures`. Taking the first predicate gives
    * each `ek` row to one table, which equals their union because the nine
    * predicates are disjoint (`bucket` ranges, and the parity of `user_id`
    * within bucket 99). Rows no table takes are dropped. */
  private[graft] def fixtureRows(spark: SparkSession): DataFrame = {
    val declared = ekSources.map(s => s -> Fixtures.ekTable(s.table))
    val tag = cases(declared.map { case (s, t) => expr(t.where) -> lit(s.tag) })
    // sources whose column has the same expression share one branch
    def fill(slot: String, tpe: DataType): Column = {
      val branches = declared.flatMap { case (s, t) => s.columns.toMap.get(slot).map(c => t.expr(c) -> s.tag) }
      cases(branches.map(_._1).distinct.map { e =>
        col("src").isin(branches.collect { case (`e`, g) => g }: _*) -> expr(e).cast(tpe)
      })
    }
    spark.table("ek").select(tag.as("src"), col("*")).filter(col("src").isNotNull)
      .select(layout(col("src"))(fill): _*)
      .union(tagged(poolKeys, spark.table("pool_keys")))
  }

  /** `CASE WHEN c1 THEN v1 WHEN c2 THEN v2 … END`, NULL without branches. */
  private def cases(branches: Seq[(Column, Column)]): Column =
    branches.foldLeft(Option.empty[Column]) { case (acc, (c, v)) =>
      Some(acc.fold(when(c, v))(_.when(c, v)))
    }.getOrElse(lit(null))

  /** The tier over explicit inputs (unit-testable with hand-built frames).
    * Columns: `pool_key_hash`, `kind`, `pos`, `pool`, `s0`, `s1`. At kind 0
    * (`pos` NULL) `pool` is the pool's state: `in_pools`, the pool_states
    * columns, the TWAMM ones (NULL when the last execution's block is not in
    * `blocks`; `twamm_last_event_id` is its last_event_id), `placed_id`,
    * `closed_id`, `has_snapshot`, `last_snapshot`, `has_spline`. At kind 1
    * (`pos` a tick bound) `s0`, `s1` are its net and total liquidity; at
    * kind 2 (`pos` a time after the last execution) the net sale-rate
    * changes of token 0 and 1. Keyed rows whose sums cancel out are dropped.
    * The struct keeps the keyed rows narrow in the checkpointed memo. */
  def tierFrom(spark: SparkSession, f: Facts): DataFrame =
    fromRows(spark, (poolKeys +: ekSources).map(s => tagged(s, s.of(f))).reduce(_ union _), f.blocks)

  /** The tier from its tagged rows: block times for the executions, then
    * one shuffle by pool. */
  private def fromRows(spark: SparkSession, input: DataFrame, blocks: DataFrame): DataFrame = {
    import spark.implicits._

    // an execution's block time, and its block's number, which marks a
    // found block, also one with a NULL time
    val exec = $"src" === Execution
    val rows = input
      .join(broadcast(blocks.select($"number".as("b_number"), $"time".as("b_time"))),
        when(exec, Ingest.blockOf($"eid")) === $"b_number", "left")
      .select($"src", $"pool_key_hash", $"eid", $"a", when(exec, $"b_time").otherwise($"t").as("t"),
        when(exec, $"b_number").otherwise($"u").as("u"), $"x", $"y")
      // one map task per core reads every source's partitions
      .coalesce(spark.sparkContext.defaultParallelism)

    // 1. per pool, what the sums compare against
    val pool = Window.partitionBy($"pool_key_hash")
    def at(src: Int, c: Column): Column = when($"src" === src, c)
    def latest(src: Int, c: Column): Column = max_by(c, at(src, $"eid")).over(pool)
    val compared = rows.select($"*",
      coalesce(max(at(Swap, $"eid")).over(pool), max(at(Init, $"eid")).over(pool)).as("w_swap_eid"),
      coalesce(latest(Swap, $"t"), latest(Init, $"t")).as("w_tick"),
      max(at(Execution, $"eid")).over(pool).as("w_exec_eid"),
      latest(Execution, $"t").as("w_exec_time"),
      max(at(Pool, lit(true))).over(pool).as("w_in_pools"))

    // 2. every source row feeds its pool's row (kind 0); a position update
    // also feeds its two tick bounds (kind 1) and an order its start and
    // end times (kind 2), the latter only after the pool's last execution
    def entry(kind: Int, src: Column, pos: Column, s0: Column, s1: Column): Column =
      struct(lit(kind).as("kind"), src.cast(IntegerType).as("src"), pos.cast(LongType).as("pos"),
        s0.cast(dec38).as("s0"), s1.cast(dec38).as("s1"))
    val none = lit(null)
    val own = entry(0, $"src", none, none, none)
    val entries = when($"src" === Update, array(own,
        entry(1, none, $"t", $"x", $"x"), entry(1, none, $"u", -$"x", $"x")))
      .when($"src" === Order, array(own,
        entry(2, none, $"t", $"x", $"y"), entry(2, none, $"u", -$"x", -$"y")))
      .otherwise(array(own))

    def from(src: Int, c: Column): Column = when($"e.src" === src, c)
    // the source's last event, one scalar `max_by` per column (a struct
    // buffer would force a sort-based aggregate): `swap_eid`, `swap_a`, …
    val names = Map(Swap -> "swap", Init -> "init", Execution -> "exec")
    def lastOf(src: Int, cols: String*): Seq[Column] =
      cols.map(c => max_by(col(c), from(src, $"eid")).as(s"${names(src)}_$c"))
    val since = $"e.src" === Update && $"eid" > $"w_swap_eid" &&
      $"w_tick".between($"t", $"u" - 1)
    val active = $"e.src" === Order && $"eid" > $"w_exec_eid" &&
      $"t" <= $"w_exec_time" && $"u" > $"w_exec_time"
    val aggregates =
      Seq(max(from(Pool, lit(true))).as("in_pools")) ++
      lastOf(Swap, "eid", "a", "t", "x") ++
      lastOf(Init, "eid", "a", "t") ++
      lastOf(Execution, "eid", "t", "u", "x", "y") ++
      Seq(
        max(from(Update, $"eid")).as("last_update_event_id"),
        sum(when(since, $"x")).as("liq_since"),
        sum(when(active, $"x")).as("d0"),
        sum(when(active, $"y")).as("d1"),
        max(when(active, $"eid")).as("last_order_update_event_id"),
        max(from(Placed, $"eid")).as("placed_id"),
        max(from(Closed, $"eid")).as("closed_id"),
        max(from(Snapshot, lit(true))).as("has_snapshot"),
        max(from(Snapshot, $"t")).as("last_snapshot"),
        max(from(Spline, lit(true))).as("has_spline"),
        sum($"e.s0").as("s0"),
        sum($"e.s1").as("s1"))

    // 3. each pool's state as the views read it; the keyed rows carry only
    // their two sums, and those that cancel out are dropped
    val lastEvent = greatest(coalesce($"swap_eid", $"init_eid"), $"last_update_event_id")
    def ifExecuted(c: Column): Column = when($"exec_u".isNotNull, c)
    def plus(rate: Column, delta: Column): Column =
      (rate.cast(dec30) + coalesce(delta, lit(0)).cast(dec30)).cast(dec38)
    val poolState = struct(
      $"in_pools",
      coalesce($"swap_a", $"init_a").as("sqrt_ratio"),
      coalesce($"swap_t", $"init_t").as("tick"),
      plus(coalesce($"swap_x", lit(0)), $"liq_since").as("liquidity"),
      lastEvent.as("last_event_id"),
      $"last_update_event_id".as("last_liquidity_update_event_id"),
      ifExecuted(plus($"exec_x", $"d0")).as("token0_sale_rate"),
      ifExecuted(plus($"exec_y", $"d1")).as("token1_sale_rate"),
      ifExecuted($"exec_t").as("last_virtual_execution_time"),
      ifExecuted(greatest(coalesce($"last_order_update_event_id", $"exec_eid"), lastEvent))
        .as("twamm_last_event_id"),
      $"placed_id", $"closed_id", $"has_snapshot", $"last_snapshot", $"has_spline")
    compared.select($"*", explode(entries).as("e"))
      .filter($"e.kind" =!= 2 || ($"w_in_pools" && $"w_exec_time" < $"e.pos"))
      .groupBy($"pool_key_hash", $"e.kind".as("kind"), $"e.pos".as("pos"))
      .agg(aggregates.head, aggregates.tail: _*)
      .filter($"kind" === 0 || $"s0" =!= 0 || ($"kind" === 2 && $"s1" =!= 0))
      .select($"pool_key_hash", $"kind", $"pos", when($"kind" === 0, poolState).as("pool"), $"s0", $"s1")
  }

  /** The tier's pool rows for pools in `pool_keys`. */
  private[queries] def pooled(tier: DataFrame): DataFrame =
    tier.filter(col("kind") === 0 && col("pool.in_pools"))

  /** pool_states_view (dao.ts:384-433): latest swap ∨ initialization per pool
    * plus liquidity deltas applied since the last swap, counted only when the
    * position straddles the current tick; one row per `pool_keys` pool. */
  def poolStatesOf(tier: DataFrame): DataFrame =
    pooled(tier).select(col("pool_key_hash"), col("pool.sqrt_ratio"), col("pool.tick"),
      col("pool.liquidity"), col("pool.last_event_id"), col("pool.last_liquidity_update_event_id"))

  /** [[poolStatesOf]] over explicit pool, swap, initialization and
    * position-update tables (unit-testable). */
  def poolStatesFrom(spark: SparkSession, pools: DataFrame, swaps: DataFrame,
      inits: DataFrame, updates: DataFrame): DataFrame =
    poolStatesOf(tierFrom(spark,
      Facts.empty(spark).copy(pools = pools, swaps = swaps, inits = inits, updates = updates)))

  /** pool_states as a reusable oracle CTE chain (twamm/limit views read the
    * materialized pool states, dao.ts:803,865). */
  val poolStatesCtes: String =
    """, last_swap AS (
         SELECT pool_key_hash, event_id, sqrt_ratio_after, tick_after, liquidity_after
         FROM (SELECT s.*, ROW_NUMBER() OVER (PARTITION BY pool_key_hash ORDER BY event_id DESC) AS rn
               FROM swaps s) t WHERE rn = 1),
       last_init AS (
         SELECT pool_key_hash, event_id, sqrt_ratio, tick
         FROM (SELECT i.*, ROW_NUMBER() OVER (PARTITION BY pool_key_hash ORDER BY event_id DESC) AS rn
               FROM pool_initializations i) t WHERE rn = 1),
       lss AS (
         SELECT p.key_hash,
                COALESCE(ls.event_id, li.event_id) AS last_swap_event_id,
                COALESCE(ls.sqrt_ratio_after, li.sqrt_ratio) AS sqrt_ratio,
                COALESCE(ls.tick_after, li.tick) AS tick,
                COALESCE(ls.liquidity_after, 0) AS liquidity_last
         FROM pool_keys p
         LEFT JOIN last_swap ls ON p.key_hash = ls.pool_key_hash
         LEFT JOIN last_init li ON p.key_hash = li.pool_key_hash),
       last_upd AS (
         SELECT pool_key_hash, MAX(event_id) AS last_update_event_id
         FROM position_updates GROUP BY pool_key_hash),
       liq_since AS (
         SELECT l.key_hash, SUM(pu.liquidity_delta) AS s
         FROM lss l JOIN position_updates pu
           ON pu.pool_key_hash = l.key_hash
          AND pu.event_id > l.last_swap_event_id
          AND l.tick BETWEEN pu.lower_bound AND pu.upper_bound - 1
         GROUP BY l.key_hash),
       pool_states_cte AS (
         SELECT l.key_hash AS pool_key_hash,
                l.sqrt_ratio,
                CAST(l.tick AS BIGINT) AS tick,
                CAST(CAST(l.liquidity_last AS DECIMAL(30,0)) + CAST(COALESCE(q.s, 0) AS DECIMAL(30,0)) AS DECIMAL(38,0)) AS liquidity,
                GREATEST(l.last_swap_event_id, u.last_update_event_id) AS last_event_id,
                u.last_update_event_id AS last_liquidity_update_event_id
         FROM lss l
         LEFT JOIN last_upd u ON l.key_hash = u.pool_key_hash
         LEFT JOIN liq_since q ON l.key_hash = q.key_hash)"""

  /** per_pool_per_tick_liquidity_view (dao.ts:475-499): net + total
    * liquidity per (pool, tick bound), bounds whose net is zero dropped.
    * Decimal-typed; `Analytics.poolMarketDepth` reads it. */
  def tickLiquidity(spark: SparkSession, sfDir: String): DataFrame = tickLiquidityOf(tier(spark, sfDir))

  def tickLiquidityOf(tier: DataFrame): DataFrame =
    tier.filter(col("kind") === 1).select(
      col("pool_key_hash"),
      col("pos").as("tick"),
      col("s0").as("net_liquidity_delta_diff"),
      col("s1").as("total_liquidity_on_tick"))

  /** [[tickLiquidityOf]] over an explicit position-update table (unit-testable). */
  def tickLiquidityFrom(spark: SparkSession, pu: DataFrame): DataFrame =
    tickLiquidityOf(tierFrom(spark, Facts.empty(spark).copy(updates = pu)))

  val tickLiquidityCtes: String =
    """, all_tick_deltas AS (
         SELECT pool_key_hash, lower_bound AS tick,
                SUM(liquidity_delta) AS net, SUM(liquidity_delta) AS tot
         FROM position_updates GROUP BY pool_key_hash, lower_bound
         UNION ALL
         SELECT pool_key_hash, upper_bound AS tick,
                SUM(-liquidity_delta) AS net, SUM(liquidity_delta) AS tot
         FROM position_updates GROUP BY pool_key_hash, upper_bound),
       tick_liquidity_cte AS (
         SELECT pool_key_hash,
                CAST(tick AS BIGINT) AS tick,
                CAST(SUM(net) AS DECIMAL(38,0)) AS net_liquidity_delta_diff,
                CAST(SUM(tot) AS DECIMAL(38,0)) AS total_liquidity_on_tick
         FROM all_tick_deltas GROUP BY pool_key_hash, tick
         HAVING SUM(net) != 0)"""

  /** This object's catalog views as projections of a tier frame. Their
    * outputs canonicalize DECIMAL columns to BIGINT (values fit int64;
    * internal arithmetic stays decimal-exact, and `Analytics` keeps the
    * decimal-typed views above). */
  val views: Map[String, DataFrame => DataFrame] = Map(
    "pool_states" -> (t => poolStatesOf(t).withColumn("liquidity", col("liquidity").cast(LongType))),
    "per_pool_per_tick_liquidity" -> (t => tickLiquidityOf(t)
      .withColumn("net_liquidity_delta_diff", col("net_liquidity_delta_diff").cast(LongType))
      .withColumn("total_liquidity_on_tick", col("total_liquidity_on_tick").cast(LongType))))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    views.map { case (n, v) => n -> ((s: SparkSession, d: String) => v(tier(s, d))) }

  val oracles: Map[String, String] = Map(
    "pool_states" -> Fixtures.oracle(poolStatesCtes +
      """
      SELECT pool_key_hash, sqrt_ratio, tick, CAST(liquidity AS BIGINT) AS liquidity,
             last_event_id, last_liquidity_update_event_id
      FROM pool_states_cte"""),
    "per_pool_per_tick_liquidity" -> Fixtures.oracle(tickLiquidityCtes +
      """
      SELECT pool_key_hash, tick,
             CAST(net_liquidity_delta_diff AS BIGINT) AS net_liquidity_delta_diff,
             CAST(total_liquidity_on_tick AS BIGINT) AS total_liquidity_on_tick
      FROM tick_liquidity_cte"""))
}
