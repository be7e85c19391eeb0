package graft.streaming

import java.util.concurrent.{CompletionException, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution

/** Runs a micro-batch's independent commit legs at the same time: the
  * fact parquet write and the relational leg in
  * [[StreamDriver.processBatch]] (with the pending-head collect beside
  * them), and the per-table appends inside
  * [[JdbcMultiTableSink.write]]. Each leg runs under
  * `SQLExecution.withThreadLocalCaptured`, so its Spark jobs carry the
  * caller's local properties (the streaming query's job group included:
  * stopping the query cancels them) and see the caller's active session. */
private[streaming] object CommitLegs {

  /** One driver-wide pool. Unbounded, because a leg may submit legs of its
    * own and wait for them (the relational leg's per-table appends) — a
    * bounded pool could deadlock on that; idle threads expire after 60 s.
    * Daemon threads, so an idle pool never holds the JVM open. */
  private val pool = Executors.newCachedThreadPool(new ThreadFactory {
    private val seq = new AtomicInteger
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"graft-commit-leg-${seq.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  /** Start every leg, wait for ALL of them — a failed leg never leaves a
    * sibling still writing while the caller unpersists or refreshes — then
    * rethrow the first failure in leg order, unwrapped, with any later
    * ones attached as suppressed. */
  def runAll(spark: SparkSession, legs: Seq[() => Unit]): Unit = {
    val running = legs.map(leg =>
      SQLExecution.withThreadLocalCaptured(castToImpl(spark), pool)(leg()))
    val failures = running.flatMap { f =>
      try { f.join(); None }
      catch { case e: CompletionException => Some(e.getCause) }
    }
    failures.headOption.foreach { first =>
      failures.tail.filterNot(_ eq first).foreach(first.addSuppressed)
      throw first
    }
  }
}
