package graft.perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{InsertIntoHadoopFsRelationCommand, SaveIntoDataSourceCommand}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch microseconds; `parent` 0 is a root. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    start: Long, end: Long, run: String) {
  def dur: Long = end - start
}

/** The SparkListener's running totals of jobs, stages and tasks. */
final case class SparkCounters(jobs: Long, stages: Long, tasks: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long)

/** A write seen by the query-execution listener: what it wrote (`kind`:
  * fact, pending, rollup, parquet or jdbc) and how long it took. */
final case class WriteEvent(kind: String, target: String, durationNs: Long, endUs: Long)

/** Everything the benchmark learns from Spark's own listener APIs. The
  * benchmark registers these itself; nothing inside the program changes.
  *
  *  - a `SparkListener` counts jobs, stages and tasks with executor run/cpu
  *    time, GC, shuffle write and spill, and keeps job/stage intervals with
  *    their job group (the span id the [[Tracer]] set);
  *  - a `QueryExecutionListener` classifies the parquet and JDBC writes
  *    inside each micro-batch;
  *  - a `StreamingQueryListener` keeps every `StreamingQueryProgress`
  *    (trigger phases from `durationMs`).
  *
  * All three are registered by [[attach]] and removed by [[detach]], so
  * untraced passes run without them. */
final class Listeners(spark: SparkSession) {
  private val jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleW, spill = new AtomicLong
  val jobSpans = new ConcurrentLinkedQueue[(Int, String, Long, Long)]() // id, group, startMs, endMs
  val stageSpans = new ConcurrentLinkedQueue[(Int, Int, Long, Long, Int)]() // stage, job, startMs, endMs, tasks
  val writes = new ConcurrentLinkedQueue[WriteEvent]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val sqlStartMs = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  def snapshot: SparkCounters = SparkCounters(jobs.get, stages.get, tasks.get,
    runMs.get, cpuNs.get, gcMs.get, shuffleW.get, spill.get)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobStart.put(e.jobId, (group, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (g, t0) => jobSpans.add((e.jobId, g, t0, e.time)) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stageSpans.add((i.stageId, Option(stageJob.get(i.stageId)).getOrElse(-1), s, c, i.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlStartMs.put(s.executionId, s.time)
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      classify(qe).foreach { case (kind, target) =>
        val startMs = Option(sqlStartMs.get(qe.id))
        val endUs = startMs.map(_ * 1000 + durationNs / 1000)
          .getOrElse(Clock.nowUs)
        writes.add(WriteEvent(kind, target, durationNs, endUs))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** The write a query execution performed, if it was one. */
  private def classify(qe: QueryExecution): Option[(String, String)] = {
    val plans = Seq(scala.util.Try(qe.commandExecuted).toOption, Option(qe.logical)).flatten
    plans.iterator.flatMap(_.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand =>
        val p = c.outputPath.toString
        val kind =
          if (p.endsWith("/raw_events")) "fact"
          else if (p.endsWith("/pending_events")) "pending"
          else if (p.contains("/rollups/")) "rollup"
          else "parquet"
        (kind, p)
      case c: SaveIntoDataSourceCommand if c.options.contains("dbtable") =>
        ("jdbc", c.options("dbtable"))
    }).nextOption()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Forget the records (not the counters) once they became spans. */
  def clear(): Unit = {
    jobSpans.clear(); stageSpans.clear(); writes.clear(); progress.clear()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.perfbenchbus.Bus.drain(spark.sparkContext)
}

object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000
}

/** In-memory span recorder. Benchmark spans wrap every call into a layer;
  * each sets the Spark job group to its span id, so the jobs it runs are
  * tied back to it. Listener-derived spans (trigger phases, in-batch
  * writes, jobs, stages) are added by [[absorb]] and parented to
  * the innermost span that contains them. Spans are written out once, at
  * the end ([[write]]). With `enabled = false` every call is a plain
  * passthrough. */
final class Tracer(spark: SparkSession, val run: String, @volatile var enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong
  private val current = new InheritableThreadLocal[Long] { override def initialValue(): Long = 0L }

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get
      val sc = spark.sparkContext
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      current.set(id)
      sc.setJobGroup(id.toString, name)
      val t0 = Clock.nowUs
      try body
      finally {
        spans.add(Span(id, parent, name, layer, t0, Clock.nowUs, run))
        current.set(parent)
        if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, "")
      }
    }

  private val derived = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  private def add(parent: Long, name: String, layer: String, start: Long, end: Long): Long = {
    val id = ids.incrementAndGet()
    derived.add(id)
    spans.add(Span(id, parent, name, layer, start, math.max(start, end), run))
    id
  }

  /** Progress phases in the order a micro-batch runs them, with the layer
    * each belongs to. */
  private val phases = Seq(
    "latestOffset" -> "sources.v2", "walCommit" -> "streaming.StreamDriver",
    "getBatch" -> "sources.v2", "queryPlanning" -> "streaming.StreamDriver",
    "addBatch" -> "streaming.StreamDriver", "commitOffsets" -> "streaming.StreamDriver")

  /** Turn the listeners' records into spans: each trigger with its phases
    * laid out in execution order, each in-batch write, each job and stage.
    * Parents: a job whose group is a span id hangs under that span; every
    * other record under the innermost span that contains it. */
  def absorb(l: Listeners): Unit = {
    l.drain()
    l.progress.asScala.foreach { p =>
      val t0 = Instant.parse(p.timestamp).toEpochMilli * 1000
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue * 1000 }
      val trig = add(0L, s"trigger ${p.batchId}", "streaming.StreamDriver", t0,
        t0 + d.getOrElse("triggerExecution", 0L))
      var at = t0
      phases.foreach { case (ph, layer) =>
        d.get(ph).foreach { us => add(trig, ph, layer, at, at + us); at += us }
      }
    }
    l.writes.asScala.foreach { w =>
      val layer = w.kind match {
        case "jdbc" => "streaming.JdbcMultiTableSink"
        case "rollup" => "streaming.RollupRefresher"
        case "fact" | "pending" => "streaming.StreamDriver"
        case _ => "spark.sql"
      }
      add(0L, s"write ${w.kind} ${w.target}", layer, w.endUs - w.durationNs / 1000, w.endUs)
    }
    val jobIds = new java.util.HashMap[Int, Long]()
    l.jobSpans.asScala.foreach { case (job, group, s, e) =>
      val parent = scala.util.Try(group.toLong).toOption.filter(_ <= ids.get).getOrElse(0L)
      jobIds.put(job, add(parent, s"job $job", "spark", s * 1000, e * 1000))
    }
    l.stageSpans.asScala.foreach { case (stage, job, s, e, n) =>
      add(Option(jobIds.get(job)).getOrElse(0L), s"stage $stage ($n tasks)", "spark.stage",
        s * 1000, e * 1000)
    }
    l.clear()
    reparent()
  }

  /** Give every root listener-derived span the innermost containing span (1 ms
    * slack: listener times have millisecond resolution). */
  private def reparent(): Unit = {
    val all = spans.asScala.toVector
    val byLen = all.sortBy(_.dur)
    val fixed = all.map { s =>
      if (s.parent != 0L || !derived.contains(s.id)) s
      else byLen.find(p => p.id != s.id && p.dur >= s.dur &&
          p.start - 1000 <= s.start && s.end <= p.end + 1000 &&
          !(p.dur == s.dur && p.id > s.id))
        .map(p => s.copy(parent = p.id)).getOrElse(s)
    }
    spans.clear()
    fixed.foreach(spans.add)
  }

  def all: Vector[Span] = spans.asScala.toVector

  /** Self time per layer: each span's duration minus the part of it that
    * its children cover, summed by layer (seconds). */
  def selfTimes: Map[String, Double] = {
    val all = this.all
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Vector.empty)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
            if (b <= reach) (sum, reach)
            else (sum + b - math.max(a, reach), b)
          }._1
        (s.dur - covered).max(0L)
      }.sum / 1e6
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      val o = m.createObjectNode()
      o.put("id", s.id); o.put("parent", s.parent); o.put("name", s.name)
      o.put("layer", s.layer); o.put("start_us", s.start); o.put("end_us", s.end)
      o.put("run", s.run)
      w.write(o.toString); w.newLine()
    } finally w.close()
  }
}
