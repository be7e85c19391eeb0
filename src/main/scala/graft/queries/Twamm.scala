package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.fixtures.Fixtures

/** TWAMM / limit-order / oracle / spline operational state views
  * (dao.ts:765-880, 1025-1036), as projections of the per-pool tier
  * ([[CoreViews.tier]]): the last virtual execution, its block time and the
  * sale-rate sums since it, the last placed and closed limit orders, the
  * last oracle snapshot and the spline flag are all columns of a pool's row
  * there, and the sale-rate schedule is the tier's kind-2 rows.
  */
object Twamm {

  /** twamm_pool_states_view (dao.ts:765-805): sale rates at the last virtual
    * order execution plus deltas of orders placed after it that straddle the
    * execution time; only pools in pool_states whose last execution's block
    * is in `blocks`. Decimal-typed. */
  def twammPoolStatesOf(tier: DataFrame): DataFrame =
    CoreViews.pooled(tier).filter(col("pool.twamm_last_event_id").isNotNull).select(
      col("pool_key_hash"), col("pool.token0_sale_rate"), col("pool.token1_sale_rate"),
      col("pool.last_virtual_execution_time"), col("pool.twamm_last_event_id").as("last_event_id"))

  /** twamm pool states as reusable oracle CTEs. */
  val twammPoolStatesCtes: String =
    """, lvoe_id AS (
         SELECT key_hash, MAX(event_id) AS event_id
         FROM twamm_virtual_order_executions GROUP BY key_hash),
       last_voe AS (
         SELECT v.key_hash, v.token0_sale_rate, v.token1_sale_rate,
                v.event_id AS lvoe_event_id, b.time AS last_virtual_execution_time
         FROM lvoe_id i
         JOIN twamm_virtual_order_executions v ON v.event_id = i.event_id
         JOIN event_keys ek ON v.event_id = ek.id
         JOIN blocks b ON ek.block_number = b.number),
       active_after_lvoe AS (
         SELECT l.key_hash,
                SUM(tou.sale_rate_delta0) AS d0,
                SUM(tou.sale_rate_delta1) AS d1,
                MAX(tou.event_id) AS last_order_update_event_id
         FROM last_voe l
         JOIN twamm_order_updates tou
           ON tou.key_hash = l.key_hash
          AND tou.event_id > l.lvoe_event_id
          AND tou.start_time <= l.last_virtual_execution_time
          AND tou.end_time > l.last_virtual_execution_time
         GROUP BY l.key_hash),
       twamm_pool_states_cte AS (
         SELECT l.key_hash AS pool_key_hash,
                CAST(CAST(l.token0_sale_rate AS DECIMAL(30,0)) + CAST(COALESCE(a.d0, 0) AS DECIMAL(30,0)) AS DECIMAL(38,0)) AS token0_sale_rate,
                CAST(CAST(l.token1_sale_rate AS DECIMAL(30,0)) + CAST(COALESCE(a.d1, 0) AS DECIMAL(30,0)) AS DECIMAL(38,0)) AS token1_sale_rate,
                l.last_virtual_execution_time,
                GREATEST(COALESCE(a.last_order_update_event_id, l.lvoe_event_id), ps.last_event_id) AS last_event_id
         FROM last_voe l
         JOIN pool_states_cte ps ON l.key_hash = ps.pool_key_hash
         LEFT JOIN active_after_lvoe a ON l.key_hash = a.key_hash)"""

  val twammPoolStatesOracle: String = Fixtures.oracle(
    CoreViews.poolStatesCtes + twammPoolStatesCtes +
      """
      SELECT pool_key_hash,
             CAST(token0_sale_rate AS BIGINT) AS token0_sale_rate,
             CAST(token1_sale_rate AS BIGINT) AS token1_sale_rate,
             last_virtual_execution_time, last_event_id
      FROM twamm_pool_states_cte""")

  /** twamm_sale_rate_deltas (materialized semantics, dao.ts:817-851): future
    * sale-rate change schedule — only times strictly after the pool's last
    * virtual execution, and only changes that do not cancel out. */
  def saleRateDeltasOf(tier: DataFrame): DataFrame =
    tier.filter(col("kind") === 2).select(
      col("pool_key_hash"),
      col("pos").as("time"),
      col("s0").cast(LongType).as("net_sale_rate_delta0"),
      col("s1").cast(LongType).as("net_sale_rate_delta1"))

  val twammSaleRateDeltasOracle: String = Fixtures.oracle(
    CoreViews.poolStatesCtes + twammPoolStatesCtes +
      """, all_order_deltas AS (
         SELECT key_hash, start_time AS time,
                SUM(sale_rate_delta0) AS d0, SUM(sale_rate_delta1) AS d1
         FROM twamm_order_updates GROUP BY key_hash, start_time
         UNION ALL
         SELECT key_hash, end_time AS time,
                -SUM(sale_rate_delta0) AS d0, -SUM(sale_rate_delta1) AS d1
         FROM twamm_order_updates GROUP BY key_hash, end_time),
       summed AS (
         SELECT key_hash, time, SUM(d0) AS d0, SUM(d1) AS d1
         FROM all_order_deltas GROUP BY key_hash, time)
       SELECT s.key_hash AS pool_key_hash,
              s.time,
              CAST(s.d0 AS BIGINT) AS net_sale_rate_delta0,
              CAST(s.d1 AS BIGINT) AS net_sale_rate_delta1
       FROM summed s
       JOIN twamm_pool_states_cte t
         ON t.pool_key_hash = s.key_hash AND t.last_virtual_execution_time < s.time
       WHERE s.d0 != 0 OR s.d1 != 0""")

  /** limit_order_pool_states_view (dao.ts:853-873): pools in pool_states
    * with a placed order. */
  def limitOrderPoolStatesOf(tier: DataFrame): DataFrame =
    CoreViews.pooled(tier).filter(col("pool.placed_id").isNotNull).select(
      col("pool_key_hash"),
      greatest(greatest(col("pool.placed_id"), coalesce(col("pool.closed_id"), lit(0L))),
        col("pool.last_event_id")).as("last_event_id"))

  val limitOrderPoolStatesOracle: String = Fixtures.oracle(
    CoreViews.poolStatesCtes +
      """, llop AS (SELECT key_hash, MAX(event_id) AS placed_id FROM limit_order_placed GROUP BY key_hash),
       lloc AS (SELECT key_hash, MAX(event_id) AS closed_id FROM limit_order_closed GROUP BY key_hash)
       SELECT p.key_hash AS pool_key_hash,
              GREATEST(GREATEST(p.placed_id, COALESCE(c.closed_id, 0)), ps.last_event_id) AS last_event_id
       FROM llop p
       JOIN pool_states_cte ps ON p.key_hash = ps.pool_key_hash
       LEFT JOIN lloc c ON p.key_hash = c.key_hash""")

  /** oracle_pool_states_view (dao.ts:1025-1036): every pool with a snapshot. */
  def oraclePoolStatesOf(tier: DataFrame): DataFrame =
    tier.filter(col("kind") === 0 && col("pool.has_snapshot"))
      .select(col("pool_key_hash"), col("pool.last_snapshot").as("last_snapshot_block_timestamp"))

  val oraclePoolStatesOracle: String = Fixtures.oracle(
    """SELECT key_hash AS pool_key_hash,
              MAX(snapshot_block_timestamp) AS last_snapshot_block_timestamp
       FROM oracle_snapshots GROUP BY key_hash""")

  /** spline_pools_materialized (dao.ts:875-880): distinct pools with a
    * liquidity update. */
  def splinePoolsOf(tier: DataFrame): DataFrame =
    tier.filter(col("kind") === 0 && col("pool.has_spline")).select(col("pool_key_hash"))

  val splinePoolsOracle: String = Fixtures.oracle(
    "SELECT DISTINCT pool_key_hash FROM liquidity_updated")

  /** This object's catalog views as projections of a tier frame;
    * twamm_pool_states canonicalizes its sale rates to BIGINT. */
  val views: Map[String, DataFrame => DataFrame] = Map(
    "twamm_pool_states" -> (t => twammPoolStatesOf(t)
      .withColumn("token0_sale_rate", col("token0_sale_rate").cast(LongType))
      .withColumn("token1_sale_rate", col("token1_sale_rate").cast(LongType))),
    "twamm_sale_rate_deltas" -> (saleRateDeltasOf _),
    "limit_order_pool_states" -> (limitOrderPoolStatesOf _),
    "oracle_pool_states" -> (oraclePoolStatesOf _),
    "spline_pools" -> (splinePoolsOf _))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    views.map { case (n, v) => n -> ((s: SparkSession, d: String) => v(CoreViews.tier(s, d))) }

  val oracles: Map[String, String] = Map(
    "twamm_pool_states" -> twammPoolStatesOracle,
    "twamm_sale_rate_deltas" -> twammSaleRateDeltasOracle,
    "limit_order_pool_states" -> limitOrderPoolStatesOracle,
    "oracle_pool_states" -> oraclePoolStatesOracle,
    "spline_pools" -> splinePoolsOracle)
}
