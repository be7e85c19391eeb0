package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The JVM half of the benchmark: runs one workload of one seed and writes
  * its metrics, tally and output checks as JSON (`--out`); `run.py`
  * generates the inputs, builds, launches this, runs the DuckDB oracle
  * check and prints the final line.
  *
  * {{{
  * graft.perfbench.Main --workload ingest|views --seed N
  *   --trace 0|1 --inputs DIR --work DIR --out FILE
  *   [--pg-dir DIR] [--gen-s SECONDS]
  * }}}
  */
object Main {
  @volatile var sessionS: Double = 0.0

  private def session(master: String, work: String): SparkSession = {
    val spark = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", master.filter(_.isDigit))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def context(spark: SparkSession, a: Args, res: Result): Ctx =
    new Ctx(spark, a, res, new Tracer(spark, s"${a.workload}-${a.seed}", enabled = false),
      new Listeners(spark))

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val (spark0, sS) = Stats.timed(session(a.master, a.work))
    sessionS = sS
    var spark = spark0
    val res = new Result
    val ctx = context(spark, a, res)
    try {
      a.workload match {
        case "ingest" => new Ingest(ctx).run()
        case "views" => new Views(ctx).run()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (a.trace) traceMetrics(ctx)
      if (a.trace && a.workload == "ingest") {
        spark.stop()
        spark = session("local[1]", s"${a.work}/local1")
        singleThreadBaseline(context(spark, a.copy(work = s"${a.work}/local1", trace = false), res))
      }
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        res.check("workload completed", ok = false, t.toString)
    } finally {
      res.write(a.out, Map("master" -> a.master, "spark_version" -> spark.version))
      spark.stop()
    }
  }

  /** The scaling baseline: one backfill pass at `local[1]` (a fresh
    * session in the same, already warm JVM), checked like the others. */
  private def singleThreadBaseline(ctx1: Ctx): Unit = {
    val one = new Result
    val ing = new Ingest(context(ctx1.spark, ctx1.a, one))
    ing.db = new Db(ing.ctx, "local1")
    try new Backfill(ing, Script.read(s"${ctx1.a.inputs}/backfill.jsonl"), n = 1).run()
    finally ing.db.stop()
    val evps = one.value("throughput_per_s")
    ctx1.res.metric("scaling.local1_events_per_s", evps, "1/s")
    ctx1.res.metric("scaling.speedup", ctx1.res.value("backfill_events_per_s") / evps, "ratio")
    ctx1.res.attempt(true, one.attempted - one.failed)
    ctx1.res.attempt(false, one.failed)
  }

  /** Self time per layer, summed over everything the run traced, and the
    * spans themselves, written next to the result. */
  private def traceMetrics(ctx: Ctx): Unit = {
    import ctx._
    tracer.absorb(listeners)
    val self = tracer.selfTimes
    Layers.all.foreach(l => res.metric(s"self.${l}_s", self.getOrElse(l, 0.0), "s"))
    res.metric("trace.spans", tracer.all.size.toDouble, "count")
    tracer.write(java.nio.file.Paths.get(s"${a.out}.spans.jsonl"))
  }
}

object Layers {
  /** Every layer a span can carry, in the order the README lists them. */
  val all: Seq[String] = Seq("sources.net", "sources.v2", "streaming.StreamDriver",
    "streaming.JdbcMultiTableSink", "streaming.pg", "decode", "fixtures", "queries",
    "streaming.RollupRefresher", "streaming.Streaming", "queries.Sessions", "util.Memo",
    "spark.sql", "spark", "spark.stage")
}
