package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, to_json}

import graft.fixtures.Fixtures
import graft.queries.{CoreViews, Twamm}
import graft.queries.CoreViews.Facts

/** The operational tier built from one scan of `ek` (`CoreViews.tier`)
  * against the tier over the ten registered fixture tables
  * (`CoreViews.tierFrom`), which stays the reference. */
class TierOneScanSpec extends SparkSpec {

  private val scales = Seq(SparkSpec.fixtureSf, "/root/testdata/sf0.01")

  /** The nine fixture tables that filter `ek` and feed the tier. */
  private val ekFed = Seq("swaps", "position_updates", "pool_initializations",
    "twamm_order_updates", "twamm_virtual_order_executions", "limit_order_placed",
    "limit_order_closed", "oracle_snapshots", "liquidity_updated")

  // leave the shared session back on the spec default
  override def afterAll(): Unit = Fixtures.register(spark, SparkSpec.fixtureSf)

  /** Row-for-row equality as multisets, EXCEPT ALL both ways. */
  private def assertSameRows(a: DataFrame, b: DataFrame, what: String): Unit = {
    assert(a.exceptAll(b).isEmpty, s"$what: rows only in the one-scan result")
    assert(b.exceptAll(a).isEmpty, s"$what: rows only in the reference")
  }

  /** The tier with its pool-state struct as JSON, so EXCEPT ALL compares it
    * field by field in one column. */
  private def flat(tier: DataFrame): DataFrame =
    tier.select(col("pool_key_hash"), col("kind"), col("pos"), to_json(col("pool")).as("pool"),
      col("s0"), col("s1"))

  for (sf <- scales) test(s"one-scan tier equals the ten-table reference at ${sf.split('/').last}") {
    Fixtures.register(spark, sf)
    val one = CoreViews.fixtureTier(spark)
    val ref = CoreViews.tierFrom(spark, Facts.registered(spark))
    assert(one.count() > 0)
    assertSameRows(flat(one), flat(ref), "tier")
    for ((v, project) <- CoreViews.views ++ Twamm.views)
      assertSameRows(project(one), project(ref), v)
  }

  for (sf <- scales) test(s"the nine ek tables' predicates are disjoint at ${sf.split('/').last}") {
    Fixtures.register(spark, sf)
    val tables = ekFed.map(spark.table(_).count()).sum
    val tagged = CoreViews.fixtureRows(spark).filter(col("src") =!= 0).count()
    assert(tables > 0 && tagged == tables, s"$tagged tagged rows, $tables table rows")
  }
}
