package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped memo for shared sub-plans.
  *
  * Several catalog views are consumed by other views (the per-pool
  * operational tier, `CoreViews.tier`, feeds all seven operational views and
  * the market depth, the hourly rollups feed the 24h stats, the exploded
  * embedding elements feed all three similarity queries). Without a memo each
  * downstream query re-plans and re-executes the whole upstream tree; with it
  * the first use persists the (dimension-sized) intermediate and later uses
  * are cache scans — the batch analogue of the reference's materialized-view
  * tiers (dao.ts:1798-1807). The operational tier is one [[checkpointed]]
  * frame per refresh: its broadcast, its one shuffle's map stage and the
  * checkpoint are three jobs, and each view after it is a narrow projection.
  *
  * Lifecycle: frames accumulate for as long as a (session, sfDir) scope is
  * live — fine for a bench/verify run, a leak on a long-lived cluster where
  * corpus-sized frames (the embeddings table + norms) would pin
  * MEMORY_AND_DISK storage forever. [[release]] drops one scope,
  * [[releaseAll]] a whole session; `Fixtures.register` releases the previous
  * scope automatically when a session re-registers against a different data
  * directory.
  */
object Memo {

  /** Each entry carries the frame plus the action that actually frees its
    * storage: `unpersist` for persisted frames, but for localCheckpoint-ed
    * frames `Dataset.unpersist` is a NO-OP (checkpoint blocks belong to the
    * underlying RDD, which is not registered in the cacheManager), so those
    * entries unpersist the checkpointed RDD directly. First touch is atomic
    * ([[KeyedOnce]], VERDICT r14 #4): concurrent consumers block on one
    * build instead of double-persisting an expensive frame. */
  private val frames = new KeyedOnce[(SparkSession, String, String), (DataFrame, () => Unit)]

  def cached(spark: SparkSession, sfDir: String, name: String)(build: => DataFrame): DataFrame =
    frames((spark, sfDir, name)) {
      val df = build.persist(StorageLevel.MEMORY_AND_DISK)
      (df, () => { df.unpersist(false); () })
    }._1

  /** Like [[cached]], but also truncates lineage with an eager local
    * checkpoint. A persisted frame still CARRIES its full logical plan, so
    * every downstream stage's serialized task binary embeds the whole build
    * tree — for a deep plan (multi-window integrals) that is megabytes per
    * stage, and in local mode all executor threads serialize on the
    * broadcast-read KeyLock while one deserializes it (measured: the
    * majority of staker_rewards' warm wall time). Checkpointed frames hand
    * consumers a leaf RDD instead. Local checkpoint blocks die with their
    * executor — right for derived frames that can rebuild; an iterative
    * production job would point spark.checkpoint.dir at durable storage. */
  def checkpointed(spark: SparkSession, sfDir: String, name: String)(build: => DataFrame): DataFrame =
    frames((spark, sfDir, name)) {
      val ck = build.localCheckpoint()
      (ck, () => checkpointRdd(ck).foreach(_.unpersist(false)))
    }._1

  /** The RDD holding a localCheckpoint-ed frame's blocks. The analyzed plan
    * is a single `LogicalRDD` leaf whose `rdd` accessor is package-private
    * to Spark at the Scala level but public in bytecode — reflection reaches
    * it without depending on a private API at compile time. Best-effort: if
    * a Spark upgrade reshapes the plan, release falls back to the (async,
    * GC-driven) ContextCleaner path rather than failing. */
  private def checkpointRdd(ck: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    try {
      val leaf = ck.queryExecution.analyzed
      val m = leaf.getClass.getMethod("rdd")
      Option(m.invoke(leaf)).collect { case r: org.apache.spark.rdd.RDD[_] => r }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Unpersist and forget every frame memoized for (session, sfDir). The
    * next `cached` call under the scope rebuilds from scratch. */
  def release(spark: SparkSession, sfDir: String): Unit =
    frames.keys
      .filter(k => (k._1 eq spark) && k._2 == sfDir)
      .foreach(k => frames.remove(k).foreach(_._2()))

  /** Unpersist and forget every frame memoized for the session, all scopes —
    * also drops the session references themselves, so a stopped session can
    * be collected. */
  def releaseAll(spark: SparkSession): Unit =
    frames.keys
      .filter(_._1 eq spark)
      .foreach(k => frames.remove(k).foreach(_._2()))
}
