package graft

import org.apache.spark.sql.functions.lit

import graft.queries.Governance

/** Governance entries on degenerate input. */
class GovernanceSpec extends SparkSpec {

  test("staker_rewards over an empty blocks table is empty, with the declared schema") {
    val sf = SparkSpec.fixtureSf
    graft.fixtures.Fixtures.register(spark, sf)
    val dir = SparkSpec.fixtureDirExcept("events")
    // every fixture table, blocks included, derives from events
    spark.read.parquet(s"$sf/events.parquet").filter(lit(false))
      .write.parquet(dir.resolve("events.parquet").toString)

    val empty = Governance.stakerRewardsDefault(spark, dir.toString)
    assert(spark.table("blocks").isEmpty)
    assert(empty.isEmpty)
    val declared = Governance.stakerRewardsDefault(spark, sf).schema
    assert(empty.schema.map(f => f.name -> f.dataType) == declared.map(f => f.name -> f.dataType))
  }
}
