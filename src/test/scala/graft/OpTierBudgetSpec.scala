package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.col

import graft.fixtures.Fixtures
import graft.queries.CoreViews
import graft.util.Memo

/** Fixed cost of one refresh of the operational tier, the way the `views`
  * benchmark drives it: release the memo, then `persist()` + `count()` each
  * of the seven views in dependency order, then point reads by
  * `pool_key_hash` against the cached views. At this size a refresh costs
  * per job and per generated class, not per row, so both are budgeted. */
class OpTierBudgetSpec extends SparkSpec {

  private val sf = SparkSpec.fixtureSf

  /** The benchmark's refresh order: the view that builds the shared
    * per-pool memo first. */
  private val opViews = Seq("pool_states", "twamm_pool_states", "twamm_sale_rate_deltas",
    "oracle_pool_states", "limit_order_pool_states", "spline_pools", "per_pool_per_tick_liquidity")

  private var cached: Seq[(String, DataFrame)] = Nil

  // the session is shared across suites: leave no view cached
  override def afterAll(): Unit = {
    cached.foreach(_._2.unpersist(true))
    Memo.release(spark, sf)
  }

  /** One refresh; the Spark jobs each view started. */
  private def refresh(): Seq[(String, Int)] = {
    Memo.release(spark, sf)
    cached.foreach(_._2.unpersist(true))
    val per = opViews.map { v =>
      var df: DataFrame = null
      val jobs = StreamingSpec.recordJobs(spark) {
        df = SparkEntry.queries(v)(spark, sf).persist()
        df.count()
      }
      (v, df, jobs)
    }
    cached = per.map(p => (p._1, p._2))
    per.map(p => (p._1, p._3))
  }

  /** Three point reads per view, keys taken round-robin from pool_states. */
  private def reads(): Unit = {
    val keys = cached.head._2.select("pool_key_hash").collect().map(_.getString(0)).sorted
    for ((v, df) <- cached if df.columns.contains("pool_key_hash"); i <- 0 until 3)
      df.filter(col("pool_key_hash") === keys((i * 7 + v.length) % keys.length)).collect()
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Empties Spark's generated-class cache (a private field of
    * `CodeGenerator`, reached by reflection), so that the next pass
    * compiles each class it uses exactly once. */
  private def flushCodegenCache(): Unit = {
    val cg = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val field = cg.getClass.getDeclaredField("cache")
    field.setAccessible(true)
    val cache = field.get(cg)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  test("one refresh of the seven operational views takes at most 24 jobs") {
    Fixtures.register(spark, sf)
    refresh() // warm: fixture caches built, classes compiled
    val per = refresh()
    val total = per.map(_._2).sum
    val shown = per.map { case (v, n) => s"$v=$n" }.mkString(", ")
    assert(total <= 24, s"$total jobs: $shown")
    // the first view builds the shared per-pool memo; the rest project it
    assert(per.head._2 <= 6, shown)
    assert(per.tail.forall(_._2 <= 4), shown)
  }

  test("the tier scans each of ek, pool_keys and blocks once, and no file") {
    Fixtures.register(spark, sf)
    val plan = CoreViews.fixtureTier(spark).queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    val files = helper.collect(plan) { case s: FileSourceScanExec => s.nodeName }
    val cached = helper.collect(plan) { case s: InMemoryTableScanExec => s.relation.cacheBuilder.tableName }
    assert(files.isEmpty, plan)
    assert(cached.size <= 3, cached)
  }

  // The classes one refresh and its reads use must fit Spark's codegen
  // cache (100 entries). Counted from an emptied cache, each class compiles
  // once, so the count is the working set: 72 since the tier reads one scan
  // of `ek` instead of ten fixture views (96 before). A warm pass is not
  // asserted to compile nothing: the cache is four LRU segments of 25
  // entries, and which segment a key lands in depends on how this JVM
  // hashes its class loader, so 72 keys still overflow one segment in about
  // one JVM in ten (9.4% of 20,000 simulated loader hashes); and each
  // whole-stage class takes two entries, because the key includes the class
  // loader and the driver and the executor threads each compile it.
  test("a refresh plus its reads uses fewer generated classes than the codegen cache holds") {
    Fixtures.register(spark, sf)
    refresh()
    reads()
    flushCodegenCache()
    val before = compiles
    refresh()
    reads()
    val used = compiles - before
    assert(used <= 76, s"$used generated classes in one refresh and its reads")
  }
}
