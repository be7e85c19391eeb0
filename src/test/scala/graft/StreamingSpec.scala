package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.streaming.StreamDriver

/** End-to-end streaming lifecycle (SURVEY §2.10 T1/T2/T5): file-backed block
  * stream → foreachBatch ingestion → checkpoint resume → two-tier refresh. */
class StreamingSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("block_number", LongType),
    StructField("transaction_index", LongType),
    StructField("event_index", LongType)))

  test("ingest, checkpoint-resume, and two-tier refresh cadence (T1/T2/T5)") {
    import spark.implicits._
    val root = SparkSpec.tempDir("graft-streaming").toString
    val rawDir = s"$root/raw"
    Files.createDirectories(java.nio.file.Paths.get(rawDir))

    var operationalRefreshes = 0
    var analyticalRefreshes = 0
    val driver = new StreamDriver(spark, s"$root/facts", s"$root/ckpt",
      analyticalEvery = 2L,
      onOperationalRefresh = _ => operationalRefreshes += 1,
      onAnalyticalRefresh = _ => analyticalRefreshes += 1)

    // chunk 1: blocks 1..100
    (1L to 100L).map(b => (b, 0L, 0L)).toDF("block_number", "transaction_index", "event_index")
      .write.mode("overwrite").parquet(s"$rawDir/chunk=1")
    // the file stream watches rawDir recursively via glob
    val q1 = driver.start(s"$rawDir/*", schema, Trigger.AvailableNow())
    q1.awaitTermination()

    val afterFirst = spark.read.parquet(s"$root/facts/raw_events")
    assert(afterFirst.count() == 100L)
    assert(operationalRefreshes == 1)    // one batch → one operational refresh
    assert(analyticalRefreshes == 1)     // batchId 0 % 2 == 0

    // chunk 2 arrives; a RESTARTED query on the same checkpoint must process
    // only the new file (cursor semantics, T2)
    (101L to 150L).map(b => (b, 0L, 0L)).toDF("block_number", "transaction_index", "event_index")
      .write.mode("overwrite").parquet(s"$rawDir/chunk=2")
    val q2 = driver.start(s"$rawDir/*", schema, Trigger.AvailableNow())
    q2.awaitTermination()

    val afterSecond = spark.read.parquet(s"$root/facts/raw_events")
    assert(afterSecond.count() == 150L)
    assert(afterSecond.agg(max($"block_number")).collect().head.getLong(0) == 150L)
    assert(operationalRefreshes == 2)
    assert(analyticalRefreshes == 1)     // batchId 1 % 2 != 0 → throttled

    // event ids were derived during ingestion and are the global order
    val ids = afterSecond.select($"event_id").orderBy($"event_id")
      .collect().map(_.getLong(0))
    assert(ids.toSeq == (1L to 150L).map(_ * 4294967296L))
  }

  test("real checkpoint replay after retract does not resurrect retracted blocks (T2/T3)") {
    import spark.implicits._
    val root = SparkSpec.tempDir("graft-streaming").toString
    val rawDir = s"$root/raw"
    Files.createDirectories(java.nio.file.Paths.get(rawDir))

    val driver = new StreamDriver(spark, s"$root/facts", s"$root/ckpt")
    (1L to 9000L).map(b => (b, 0L, 0L)).toDF("block_number", "transaction_index", "event_index")
      .write.mode("overwrite").parquet(s"$rawDir/chunk=1")
    val q1 = driver.start(s"$rawDir/*", schema, Trigger.AvailableNow())
    q1.awaitTermination()
    assert(spark.read.parquet(s"$root/facts/raw_events").count() == 9000L)

    driver.retract(5000L)
    assert(spark.read.parquet(s"$root/facts/raw_events").count() == 4999L)

    // simulate the crash window: the retract ran AFTER batch 0's data write
    // but the commit marker is lost, so the restarted query REPLAYS batch 0
    // from its pre-reorg offset file list (Spark's own replay path, not a
    // hand-called processBatch)
    val commit = java.nio.file.Paths.get(s"$root/ckpt/ingest/commits/0")
    assert(java.nio.file.Files.exists(commit))
    java.nio.file.Files.delete(commit)
    // the local FS keeps a Hadoop checksum twin; left behind it fails the
    // replayed batch's commit rename with a misleading "concurrently using"
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$root/ckpt/ingest/commits/.0.crc"))

    val q2 = driver.start(s"$rawDir/*", schema, Trigger.AvailableNow())
    q2.awaitTermination()

    val after = spark.read.parquet(s"$root/facts/raw_events")
    assert(after.count() == 4999L)
    assert(after.agg(max($"block_number")).collect().head.getLong(0) == 4999L)
  }

  test("pending blocks are served operationally but never committed as canonical (T4)") {
    import spark.implicits._
    val root = SparkSpec.tempDir("graft-streaming").toString
    val rawDir = s"$root/raw"
    Files.createDirectories(java.nio.file.Paths.get(rawDir))

    val pendingSchema = StructType(schema.fields :+ StructField("is_pending", BooleanType))
    var lastOperational: Option[org.apache.spark.sql.DataFrame] = None
    val driver = new StreamDriver(spark, s"$root/facts", s"$root/ckpt",
      onOperationalRefresh = df => lastOperational = Some(df))

    // chunk 1: blocks 1..10 finalized, block 11 pending (unfinalized head)
    ((1L to 10L).map(b => (b, 0L, 0L, false)) :+ ((11L, 0L, 0L, true)))
      .toDF("block_number", "transaction_index", "event_index", "is_pending")
      .write.mode("overwrite").parquet(s"$rawDir/chunk=1")
    driver.start(s"$rawDir/*", pendingSchema, Trigger.AvailableNow()).awaitTermination()

    // canonical storage holds only finalized blocks; the operational surface
    // (and the refresh callback) see the pending head too
    assert(spark.read.parquet(s"$root/facts/raw_events").count() == 10L)
    assert(driver.operationalEvents.count() == 11L)
    assert(lastOperational.get.count() == 11L)
    val pendingRows = driver.operationalEvents.filter($"batch_id" === driver.PendingBatchId)
    assert(pendingRows.select($"block_number").collect().map(_.getLong(0)).toSeq == Seq(11L))

    // chunk 2: block 11 re-emitted finalized + block 12 pending — the swap
    // needs NO reorg: canonical grows to 11, the pending store is replaced
    ((Seq((11L, 0L, 0L, false))) :+ ((12L, 0L, 0L, true)))
      .toDF("block_number", "transaction_index", "event_index", "is_pending")
      .write.mode("overwrite").parquet(s"$rawDir/chunk=2")
    driver.start(s"$rawDir/*", pendingSchema, Trigger.AvailableNow()).awaitTermination()

    val canonical = spark.read.parquet(s"$root/facts/raw_events")
    assert(canonical.count() == 11L)
    assert(canonical.agg(max($"block_number")).collect().head.getLong(0) == 11L)
    // no duplicate: block 11 exists exactly once across the whole surface
    val op = driver.operationalEvents
    assert(op.count() == 12L)
    assert(op.filter($"block_number" === 11L).count() == 1L)
    assert(op.filter($"batch_id" === driver.PendingBatchId)
      .select($"block_number").collect().map(_.getLong(0)).toSeq == Seq(12L))

    // startup cleanup: a fresh driver drops the stale pending suffix before
    // resuming (the live source re-emits the head, never advancing past it)
    val driver2 = new StreamDriver(spark, s"$root/facts", s"$root/ckpt")
    driver2.start(s"$rawDir/*", pendingSchema, Trigger.AvailableNow()).awaitTermination()
    assert(driver2.operationalEvents.filter($"batch_id" === driver2.PendingBatchId).isEmpty)
    assert(spark.read.parquet(s"$root/facts/raw_events").count() == 11L)
  }

  test("a batch holding a block both pending and accepted stores only the accepted copy (T4)") {
    import spark.implicits._
    val root = SparkSpec.tempDir("graft-streaming").toString
    val rawDir = s"$root/raw"
    Files.createDirectories(java.nio.file.Paths.get(rawDir))

    val pendingSchema = StructType(schema.fields :+ StructField("is_pending", BooleanType))
    var lastOperational: Option[org.apache.spark.sql.DataFrame] = None
    val driver = new StreamDriver(spark, s"$root/facts", s"$root/ckpt",
      onOperationalRefresh = df => lastOperational = Some(df))
    def pendingBlocks() = driver.operationalEvents.filter($"batch_id" === driver.PendingBatchId)
      .select($"block_number").collect().map(_.getLong(0)).toSeq

    // one chunk, so one micro-batch: block 11 arrives pending, then accepted
    ((1L to 10L).map(b => (b, 0L, 0L, false)) ++ Seq((11L, 0L, 0L, true), (11L, 0L, 0L, false)))
      .toDF("block_number", "transaction_index", "event_index", "is_pending")
      .write.mode("overwrite").parquet(s"$rawDir/chunk=1")
    driver.start(s"$rawDir/*", pendingSchema, Trigger.AvailableNow()).awaitTermination()

    assert(pendingBlocks().isEmpty, "the accepted copy supersedes the pending one")
    assert(driver.operationalEvents.filter($"block_number" === 11L).count() == 1L)
    assert(lastOperational.get.filter($"block_number" === 11L).count() == 1L)

    // only the superseded block is dropped: block 13 stays the pending head
    Seq((12L, 0L, 0L, true), (12L, 0L, 0L, false), (13L, 0L, 0L, true))
      .toDF("block_number", "transaction_index", "event_index", "is_pending")
      .write.mode("overwrite").parquet(s"$rawDir/chunk=2")
    driver.start(s"$rawDir/*", pendingSchema, Trigger.AvailableNow()).awaitTermination()

    assert(pendingBlocks() == Seq(13L))
    val op = driver.operationalEvents
    assert(op.count() == 13L)
    assert(op.groupBy($"block_number").count().filter($"count" > 1).isEmpty)
  }

  test("checkpoint replay after retract does not repopulate the pending store (T3 ∩ T4)") {
    import spark.implicits._
    val root = SparkSpec.tempDir("graft-streaming").toString
    val rawDir = s"$root/raw"
    Files.createDirectories(java.nio.file.Paths.get(rawDir))

    val pendingSchema = StructType(schema.fields :+ StructField("is_pending", BooleanType))
    val driver = new StreamDriver(spark, s"$root/facts", s"$root/ckpt")

    // blocks 1..9000 finalized, 9001 pending (head of the pre-reorg chain)
    ((1L to 9000L).map(b => (b, 0L, 0L, false)) :+ ((9001L, 0L, 0L, true)))
      .toDF("block_number", "transaction_index", "event_index", "is_pending")
      .write.mode("overwrite").parquet(s"$rawDir/chunk=1")
    driver.start(s"$rawDir/*", pendingSchema, Trigger.AvailableNow()).awaitTermination()
    assert(driver.operationalEvents.filter($"batch_id" === driver.PendingBatchId).count() == 1L)

    // reorg back to 5000: the pending head is invalidated with it
    driver.retract(5000L)
    assert(driver.operationalEvents.filter($"batch_id" === driver.PendingBatchId).isEmpty)

    // lose batch 0's commit → Spark replays it from the pre-reorg offsets.
    // The retract-ledger guard must apply to the batch's PENDING subset too:
    // block 9001 is ≥ the cutoff and must not reappear in the pending store.
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/ckpt/ingest/commits/0"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$root/ckpt/ingest/commits/.0.crc"))
    driver.start(s"$rawDir/*", pendingSchema, Trigger.AvailableNow()).awaitTermination()

    val op = driver.operationalEvents
    assert(op.filter($"batch_id" === driver.PendingBatchId).isEmpty)
    assert(op.count() == 4999L)
    assert(op.agg(max($"block_number")).collect().head.getLong(0) == 4999L)
  }

  test("operationalEvents serves the pending head (or nothing) before any canonical data") {
    import spark.implicits._
    val root = SparkSpec.tempDir("graft-streaming").toString
    val rawDir = s"$root/raw"
    Files.createDirectories(java.nio.file.Paths.get(rawDir))

    val pendingSchema = StructType(schema.fields :+ StructField("is_pending", BooleanType))
    val driver = new StreamDriver(spark, s"$root/facts", s"$root/ckpt")

    // nothing processed at all → empty frame, not an exception
    assert(driver.operationalEvents.isEmpty)

    // an all-pending first batch: the canonical write has zero rows (the
    // raw_events dir exists but holds no data files), yet the operational
    // surface must serve the pending head
    Seq((1L, 0L, 0L, true), (2L, 0L, 0L, true))
      .toDF("block_number", "transaction_index", "event_index", "is_pending")
      .write.mode("overwrite").parquet(s"$rawDir/chunk=1")
    driver.start(s"$rawDir/*", pendingSchema, Trigger.AvailableNow()).awaitTermination()

    val op = driver.operationalEvents
    assert(op.count() == 2L)
    assert(op.filter($"batch_id" === driver.PendingBatchId).count() == 2L)
  }

  test("a custom (non-file) BlockSource drives the same ingestion pipeline") {
    import spark.implicits._
    val root = SparkSpec.tempDir("graft-streaming").toString

    // an in-memory stream standing in for a network source (Kafka / gRPC
    // bridge): proves the BlockSource seam, not just the bundled file impl
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    val source = new graft.sources.BlockSource {
      override def schema = StructType(Seq(
        StructField("block_number", LongType),
        StructField("transaction_index", LongType),
        StructField("event_index", LongType)))
      override def stream(s: org.apache.spark.sql.SparkSession) =
        mem.toDF().toDF("block_number", "transaction_index", "event_index")
    }

    mem.addData((1L to 50L).map(b => (b, 0L, 0L)))
    val driver = new StreamDriver(spark, s"$root/facts", s"$root/ckpt")
    driver.start(source, Trigger.AvailableNow()).awaitTermination()

    val events = spark.read.parquet(s"$root/facts/raw_events")
    assert(events.count() == 50L)
    assert(events.agg(max($"block_number")).collect().head.getLong(0) == 50L)
  }

  test("a data batch opens its input partitions exactly once, whatever its legs") {
    import spark.implicits._
    val root = SparkSpec.tempDir("graft-streaming").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long, Boolean)](numPartitions = 2)
    // counts partition opens on the source side of the batch: a second
    // scan anywhere (a probe, a leg, the refresh) would open them again
    val opens = StreamingSpec.partitionOpens
    opens.set(0)
    val source = new graft.sources.BlockSource {
      override def schema = StructType(StreamingSpec.this.schema.fields :+
        StructField("is_pending", BooleanType))
      override def stream(s: org.apache.spark.sql.SparkSession) =
        mem.toDS().mapPartitions { rows => StreamingSpec.partitionOpens.incrementAndGet(); rows }
          .toDF("block_number", "transaction_index", "event_index", "is_pending")
    }

    val url = s"jdbc:derby:$root/db;create=true"
    val tables = Seq("once_even", "once_odd")
    val route = (b: org.apache.spark.sql.DataFrame) => Map(
      tables(0) -> b.filter($"block_number" % 2 === 0),
      tables(1) -> b.filter($"block_number" % 2 === 1))
    var refreshed = 0L
    val driver = new StreamDriver(spark, s"$root/facts", s"$root/ckpt",
      analyticalEvery = 1L,
      onOperationalRefresh = df => refreshed = df.count(),
      jdbcSink = Some(new graft.streaming.JdbcBatchSink(url, "once_events")),
      multiTableSink = Some((new graft.streaming.JdbcMultiTableSink(url, tables), route)))

    mem.addData((1L to 40L).map(b => (b, 0L, 0L, false)) :+ ((41L, 0L, 0L, true)))
    driver.start(source, Trigger.AvailableNow()).awaitTermination()

    assert(opens.get == 2, s"${opens.get} partition opens for a 2-partition batch")
    assert(refreshed == 41L)
    assert(spark.read.parquet(s"$root/facts/raw_events").count() == 40L)
    assert(spark.read.jdbc(url, "once_events", new java.util.Properties).count() == 40L)
    assert(driver.operationalEvents.count() == 41L)
  }

  /** Runs one micro-batch of `rows` canonical rows (blocks from 4090, 40
    * rows a block, so it spans two buckets) from a 4-partition source into
    * the parquet facts and two Derby sinks; returns the parquet files per
    * bucket and the task count of every stage the batch ran, in order: the
    * summary first, then the fact write and the three JDBC appends (the
    * legs run at the same time, so their order varies). */
  private def sizedBatch(rows: Int): (Map[String, Int], Seq[Int]) = {
    import spark.implicits._
    val root = SparkSpec.tempDir("graft-streaming").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long)](numPartitions = 4)
    val source = new graft.sources.BlockSource {
      override def schema = StreamingSpec.this.schema
      override def stream(s: org.apache.spark.sql.SparkSession) =
        mem.toDF().toDF("block_number", "transaction_index", "event_index")
    }
    val url = s"jdbc:derby:$root/db;create=true"
    val tables = Seq("sized_even", "sized_odd")
    val route = (b: org.apache.spark.sql.DataFrame) => Map(
      tables(0) -> b.filter($"block_number" % 2 === 0),
      tables(1) -> b.filter($"block_number" % 2 === 1))
    val driver = new StreamDriver(spark, s"$root/facts", s"$root/ckpt",
      jdbcSink = Some(new graft.streaming.JdbcBatchSink(url, "sized_events")),
      multiTableSink = Some((new graft.streaming.JdbcMultiTableSink(url, tables), route)))

    mem.addData((0 until rows).map(i => (4090L + i / 40, 0L, (i % 40).toLong)))
    val stages = StreamingSpec.recordStageTasks(spark) {
      driver.start(source, Trigger.AvailableNow()).awaitTermination()
    }
    val batchDir = new java.io.File(s"$root/facts/raw_events/batch_id=0")
    val files = batchDir.listFiles().filter(_.isDirectory).map(d =>
      d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    assert(spark.read.parquet(s"$root/facts/raw_events").count() == rows.toLong)
    (files, stages)
  }

  test("a batch below the rows-per-task size writes one file per bucket and one task per append") {
    val (files, stages) = sizedBatch(StreamDriver.RowsPerTask / 8)
    assert(files == Map("block_bucket=0" -> 1, "block_bucket=1" -> 1))
    assert(stages.headOption.contains(4), s"the summary reads all 4 source partitions: $stages")
    assert(stages.tail == Seq(1, 1, 1, 1), s"tasks of the fact write and the JDBC appends: $stages")
  }

  test("a batch above the rows-per-task size keeps more than one task per leg") {
    val (files, stages) = sizedBatch(2 * StreamDriver.RowsPerTask + 1)
    assert(files.values.sum > files.size, s"parquet files per bucket: $files")
    assert(stages.tail == Seq(3, 3, 3, 3), s"tasks of the fact write and the JDBC appends: $stages")
  }

  test("a data batch runs one summary job plus one job per parquet leg") {
    import spark.implicits._
    val root = SparkSpec.tempDir("graft-streaming").toString
    val driver = new StreamDriver(spark, s"$root/facts", s"$root/ckpt")
    def batch(rows: Seq[(Long, Long, Long, Boolean)]) =
      spark.sparkContext.parallelize(rows, 4).toDF("block_number", "transaction_index", "event_index", "is_pending")
    def jobs(rows: Seq[(Long, Long, Long, Boolean)], batchId: Long) =
      StreamingSpec.recordJobs(spark)(driver.processBatch(batch(rows), batchId))

    // fact write + pending write
    assert(jobs((1L to 40L).map(b => (b, 0L, 0L, false)) :+ ((41L, 0L, 0L, true)), 0L) == 3)
    // fact write only: a finalized head drops the pending store, no job
    assert(jobs((41L to 80L).map(b => (b, 0L, 0L, false)), 1L) == 2)
    assert(driver.operationalEvents.count() == 80L)
  }

  test("a failing relational leg fails the batch, leaks no cache, and its replay converges") {
    import spark.implicits._
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    val boom = new IllegalStateException("relational leg down")

    // one driver over a Derby multi-table sink; `fail` makes the relational
    // leg throw while the fact and pending legs still run beside it
    def run(root: String, fail: Boolean) = {
      val rawDir = s"$root/raw"
      Files.createDirectories(java.nio.file.Paths.get(rawDir))
      val url = s"jdbc:derby:$root/db;create=true"
      val tables = Seq("leg_even", "leg_odd")
      val sink = new graft.streaming.JdbcMultiTableSink(url, tables)
      val route = (b: org.apache.spark.sql.DataFrame) => {
        if (fail) throw boom
        Map(tables(0) -> b.filter($"block_number" % 2 === 0),
          tables(1) -> b.filter($"block_number" % 2 === 1))
      }
      val driver = new StreamDriver(spark, s"$root/facts", s"$root/ckpt",
        multiTableSink = Some((sink, route)))
      if (!Files.exists(java.nio.file.Paths.get(s"$rawDir/chunk=1")))
        ((1L to 30L).map(b => (b, 0L, 0L, false)) :+ ((31L, 0L, 0L, true)))
          .toDF("block_number", "transaction_index", "event_index", "is_pending")
          .write.parquet(s"$rawDir/chunk=1")
      val q = driver.start(s"$rawDir/*",
        StructType(schema.fields :+ StructField("is_pending", BooleanType)), Trigger.AvailableNow())
      (q, driver, sink, url, tables)
    }
    def state(root: String, driver: StreamDriver, sink: graft.streaming.JdbcMultiTableSink,
        url: String, tables: Seq[String]) = (
      spark.read.parquet(s"$root/facts/raw_events")
        .select("block_number", "transaction_index", "event_index", "event_id")
        .collect().map(_.toSeq).toSeq.sortBy(_.toString),
      tables.map(t => spark.read.jdbc(url, t, new java.util.Properties)
        .select("block_number", "batch_id").collect().map(_.toSeq).toSeq.sortBy(_.toString)),
      sink.cursor(),
      driver.operationalEvents.filter($"batch_id" === driver.PendingBatchId).count())

    val cleanRoot = SparkSpec.tempDir("graft-streaming").toString
    val (cq, cDriver, cSink, cUrl, cTables) = run(cleanRoot, fail = false)
    cq.awaitTermination()
    val clean = state(cleanRoot, cDriver, cSink, cUrl, cTables)
    assert(clean._3.contains((0L, 30L)) && clean._4 == 1L)

    spark.catalog.clearCache()
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val root = SparkSpec.tempDir("graft-streaming").toString
    val (q, _, _, _, _) = run(root, fail = true)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.awaitTermination())
    val chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(_ eq boom), s"the leg's own exception surfaces: $chain")
    assert(!chain.exists(_.isInstanceOf[java.util.concurrent.CompletionException]),
      s"unwrapped: $chain")
    assert(castToImpl(spark).sharedState.cacheManager.isEmpty, "the failed batch left its cache")
    // below the CacheManager: no RDD the failed batch persisted stays behind
    // (RDDs other suites persisted on this shared session are not ours)
    assert(spark.sparkContext.getPersistentRDDs.keySet == persistedBefore,
      "the failed batch left a persisted RDD")

    // the checkpoint replays the uncommitted batch 0 with a healthy sink
    val (rq, rDriver, rSink, rUrl, rTables) = run(root, fail = false)
    rq.awaitTermination()
    assert(state(root, rDriver, rSink, rUrl, rTables) == clean)
  }

  test("JDBC sink leg: idempotent batch writes, replay convergence, reorg deletes") {
    import spark.implicits._
    val root = SparkSpec.tempDir("graft-streaming").toString
    val rawDir = s"$root/raw"
    Files.createDirectories(java.nio.file.Paths.get(rawDir))

    // Spark's bundled embedded Derby stands in for the reference's Postgres
    val url = s"jdbc:derby:$root/db;create=true"
    val sink = new graft.streaming.JdbcBatchSink(url, "raw_events")
    val driver = new StreamDriver(spark, s"$root/facts", s"$root/ckpt",
      jdbcSink = Some(sink))

    (1L to 9000L).map(b => (b, 0L, 0L)).toDF("block_number", "transaction_index", "event_index")
      .write.mode("overwrite").parquet(s"$rawDir/chunk=1")
    driver.start(s"$rawDir/*", schema, Trigger.AvailableNow()).awaitTermination()

    def jdbcRows() = spark.read.jdbc(url, "raw_events", new java.util.Properties)
    assert(jdbcRows().count() == 9000L)

    // a reorg deletes the suffix on the relational side too
    driver.retract(5000L)
    assert(jdbcRows().count() == 4999L)

    // checkpoint replay of the pre-reorg batch: the delete-own-batch write
    // plus the retract-ledger filter converge to the survivor set, no dupes
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/ckpt/ingest/commits/0"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$root/ckpt/ingest/commits/.0.crc"))
    driver.start(s"$rawDir/*", schema, Trigger.AvailableNow()).awaitTermination()

    assert(jdbcRows().count() == 4999L)
    assert(jdbcRows().groupBy($"block_number").count().filter($"count" > 1).isEmpty)
    assert(jdbcRows().agg(max($"block_number")).collect().head.getLong(0) == 4999L)
  }

  test("hourly rollup watermark upsert equals full recompute (T6)") {
    val sfDir = "/root/testdata/sf0.001"
    val full = graft.queries.Rollups.hourlyVolumeByToken(spark, sfDir)

    val hours = full.select("hour").distinct().orderBy("hour")
      .collect().map(_.getLong(0))
    assert(hours.length > 2)
    val watermark = hours(hours.length / 2)

    val upserted = full.filter(col("hour") < watermark)
      .unionByName(graft.queries.Rollups.hourlyVolumeByTokenSince(spark, sfDir, watermark))

    assert(upserted.count() == full.count())
    assert(upserted.exceptAll(full).isEmpty && full.exceptAll(upserted).isEmpty)
  }
}

object StreamingSpec {
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
  import org.apache.spark.sql.SparkSession

  /** Source-side partition opens, counted from executor tasks (the local
    * master shares this JVM). */
  val partitionOpens = new java.util.concurrent.atomic.AtomicInteger

  /** The task count of every stage `body` submits, in submission order. */
  def recordStageTasks(spark: SparkSession)(body: => Unit): Seq[Int] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    listening(spark, new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        seen.add(e.stageInfo.numTasks)
    })(body)
    scala.jdk.CollectionConverters.CollectionHasAsScala(seen).asScala.toSeq
  }

  /** The number of Spark jobs `body` starts from this thread, the commit
    * legs' threads included (they carry the caller's job group). */
  def recordJobs(spark: SparkSession)(body: => Unit): Int = {
    val group = s"count-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val sc = spark.sparkContext
    sc.setJobGroup(group, "counted")
    try listening(spark, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    })(body)
    finally sc.clearJobGroup()
    jobs.get
  }

  /** Runs `body` with `l` registered, and waits for the listener bus to
    * deliver everything `body` posted before removing it (`listenerBus` is
    * private[spark] in Scala, public in bytecode). */
  private def listening(spark: SparkSession, l: SparkListener)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try body
    finally {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      sc.removeSparkListener(l)
    }
  }
}
