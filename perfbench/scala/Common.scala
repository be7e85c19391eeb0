package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, trace: Boolean,
    inputs: String, work: String, out: String, pgDir: String, genS: Double) {
  val master = "local[4]"
}

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("trace") == "1",
      req("inputs"), req("work"), req("out"), m.getOrElse("pg-dir", ""),
      m.getOrElse("gen-s", "0").toDouble)
  }
}

object Stats {
  /** Linear-interpolated percentile (the numpy default). */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = (s.size - 1) * p / 100.0
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** What one run reports: metrics with unit and sample count, the
  * attempted/failed tally and the output checks. Written as one JSON file
  * for `run.py` to finish and print. */
final class Result {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String, n: Int = 1): Unit =
    metrics(name) = (value, unit, n)

  def value(name: String): Double = metrics.get(name).map(_._1).getOrElse(0.0)

  /** An operation (batch, block, refresh, read, entry) that ran. */
  def attempt(ok: Boolean, n: Long = 1): Unit = {
    attempted += n
    if (!ok) failed += n
  }

  /** An output check; a mismatch counts as a failed operation. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail.take(500)))
    attempt(ok)
    if (!ok) System.err.println(s"[perfbench] check failed: $name: $detail")
  }

  def write(path: String, host: Map[String, String]): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("attempted", attempted)
    root.put("failed", failed)
    val ms = root.putObject("metrics")
    metrics.foreach { case (k, (v, u, n)) =>
      val o = ms.putObject(k)
      o.put("value", v); o.put("unit", u); o.put("n", n)
    }
    val cs = root.putArray("checks")
    checks.foreach { case (n, ok, d) =>
      val o = cs.addObject(); o.put("name", n); o.put("ok", ok); o.put("detail", d)
    }
    val h: ObjectNode = root.putObject("host")
    host.foreach { case (k, v) => h.put(k, v) }
    Files.write(Paths.get(path), m.writeValueAsBytes(root))
  }
}

/** Per-run state shared by the workloads. */
final class Ctx(val spark: SparkSession, val a: Args, val res: Result,
    val tracer: Tracer, val listeners: Listeners) {
  def work(rel: String): String = s"${a.work}/$rel"
  def span[A](layer: String, name: String)(body: => A): A = tracer.span(layer, name)(body)

  /** In a traced run, trace `body` too (a set-up step or a traced-only
    * step outside the passes); spans only, no listeners. */
  def tracing[A](body: => A): A =
    if (!a.trace) body
    else {
      val was = tracer.enabled
      tracer.enabled = true
      try body finally tracer.enabled = was
    }

  var tracedPasses = 0
  var tracedWall = 0.0

  /** Run `n` passes: a fixed amount of work, so a slower host does not
    * change how warm the JVM is when later figures are taken. A traced run
    * makes three instead: untraced, traced (listeners attached), untraced;
    * the first settles the JIT and is left out of `trace.overhead_ratio`,
    * the traced wall over the last untraced one. Returns the walls of the
    * untraced and of the traced passes. */
  def passes(n: Int)(pass: (Int, Boolean) => Double): (Seq[Double], Seq[Double]) = {
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    for (k <- 0 until (if (a.trace) 3 else n)) {
      val t = a.trace && k == 1
      if (t) { listeners.attach(); tracer.enabled = true }
      val wall = try pass(k, t) finally if (t) { tracer.enabled = false; listeners.detach() }
      (if (t) traced else plain) += wall
      if (t) { tracedPasses += 1; tracedWall += wall }
    }
    if (a.trace) res.metric("trace.overhead_ratio", traced.head / plain.last, "ratio")
    (plain.toSeq, traced.toSeq)
  }

  /** Spark engine metrics per traced pass, from the SparkListener's
    * counters (by default as they are now). */
  def engineMetrics(c: SparkCounters = { listeners.drain(); listeners.snapshot }): Unit = {
    val n = math.max(1, tracedPasses)
    val cores = spark.sparkContext.defaultParallelism
    res.metric("spark.jobs", c.jobs.toDouble / n, "count")
    res.metric("spark.stages", c.stages.toDouble / n, "count")
    res.metric("spark.tasks", c.tasks.toDouble / n, "count")
    res.metric("spark.tasks_per_stage", if (c.stages > 0) c.tasks.toDouble / c.stages else 0.0, "ratio")
    res.metric("spark.run_s", c.runMs / 1000.0 / n, "s")
    res.metric("spark.cpu_s", c.cpuNs / 1e9 / n, "s")
    res.metric("spark.busy_ratio", if (tracedWall > 0) c.runMs / 1000.0 / (tracedWall * cores) else 0.0, "ratio")
    res.metric("spark.gc_s", c.gcMs / 1000.0 / n, "s")
    res.metric("spark.shuffle_write_mb", c.shuffleWriteBytes / 1048576.0 / n, "MB")
    res.metric("spark.spill_mb", c.spillBytes / 1048576.0 / n, "MB")
  }

  /** Storage the run still holds: block-manager memory plus disk of every
    * persisted RDD (localCheckpoint frames included). */
  def blockManagerMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def persistedRdds: Int = spark.sparkContext.getPersistentRDDs.size
}

/** Query results kept for the DuckDB oracle check `run.py` makes: each
  * result as parquet under `dir`, and `dir/oracle_sql.json` mapping its
  * name to `SparkEntry.oracleSql`, plus `_sfdir`, the corpus it ran on. */
final class Outputs(dir: String, sfDir: String) {
  private val oracles = mutable.LinkedHashMap.empty[String, String]

  def keep(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
    df.write.mode("overwrite").parquet(s"$dir/$name")
    graft.SparkEntry.oracleSql.get(name).foreach(oracles(name) = _)
  }

  def writeOracles(): Unit = {
    val m = new ObjectMapper()
    val o = m.createObjectNode()
    oracles.foreach { case (k, v) => o.put(k, v) }
    o.put("_sfdir", sfDir)
    Files.write(Paths.get(s"$dir/oracle_sql.json"), m.writeValueAsBytes(o))
  }
}

object Files2 {
  def rm(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath)) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }
  def rm(path: String): Unit = rm(new File(path))

  def duMb(path: String): Double = {
    def du(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L) else f.length()
    du(new File(path)) / 1048576.0
  }
}
