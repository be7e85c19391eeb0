package graft.perfbench

import graft.SparkEntry
import graft.util.Memo

/** The driver-loop entries, where the cost is Spark jobs, not rows: the
  * streaming sketch replays (layer `streaming.Streaming`) and the graph
  * iterations of `Sessions` (layer `queries.Sessions`). At 3-8 s an entry
  * neither set fits an untraced run, so each is a traced-only step: the
  * replays in the traced `ingest` run, the graph entries in the traced
  * `views` run. */
object Loops {
  val replays: Seq[String] =
    Seq("hist", "topk", "funnel", "anomaly", "sessions", "hll", "dq").map(k => s"streaming_${k}_replay")
  val graph: Seq[String] = Seq("events_hits_scores", "events_label_propagation",
    "events_user_pagerank", "events_kcore_curve", "events_cc_bigstar")

  /** One pass over `entries` (called `set`) of the registered corpus
    * `sfDir` after a memo release, each written through `out` for the
    * oracle check. Runs inside a traced section: the job count comes from
    * the attached SparkListener. */
  def run(ctx: Ctx, out: Outputs, sfDir: String, set: String, entries: Seq[String],
      layer: String): Unit = {
    import ctx._
    listeners.drain()
    val jobs0 = listeners.snapshot.jobs
    val (per, passS) = Stats.timed(span("queries", s"loops $set") {
      span("util.Memo", "release") { Memo.release(spark, sfDir) }
      entries.map { e =>
        e -> Stats.timed(span(layer, e) { out.keep(e, SparkEntry.queries(e)(spark, sfDir)) })._2
      }
    })
    listeners.drain()
    res.attempt(true, per.size)
    res.metric(s"loops.${set}_pass_s", passS, "s")
    per.foreach { case (e, s) => res.metric(s"loops.${e}_s", s, "s") }
    res.metric(s"loops.${set}_jobs", (listeners.snapshot.jobs - jobs0).toDouble, "count")
  }
}
