package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ingest.Ingest
import graft.sources.v2.BlockFeedProvider.{ControlCol, ControlInvalidate, InvalidateFromCol}

/** Streaming ingestion driver mirroring the reference's lifecycle
  * (index.ts:127-287, SURVEY.md §2.10):
  *
  *  - a block-batch stream (here: file/parquet-backed `readStream`; in
  *    production any ordered block source) feeds `foreachBatch`;
  *  - each batch appends to fact storage partitioned by block range, so the
  *    write is idempotent under replay — the deterministic event_id makes
  *    re-appending the same block a no-op after dedup (T1);
  *  - the checkpoint directory is the cursor (S11/T2): restart resumes from
  *    the last committed batch;
  *  - a reorg message retracts a block suffix by partition-pruned rewrite
  *    (T3): every fact's event_id embeds the block number;
  *  - two-tier refresh (T5): after each data batch `onOperationalRefresh`
  *    is called with the batch's canonical rows plus its surviving pending
  *    head (the operational views themselves still read the fixture facts,
  *    not the ingested ones); analytical rollups run only when
  *    `batchId % analyticalEvery == 0` — the reference's 5-minute throttle
  *    expressed in batches; the incremental variant recomputes only
  *    `hour >= watermark` partitions (T6).
  *
  *  - pending (unfinalized head) rows, flagged by an optional `is_pending`
  *    column, are processed and served operationally but never committed as
  *    canonical (T4, index.ts:137,243-246): they form a pending head held in
  *    driver memory, which each data batch replaces; the finalized
  *    re-emission supersedes them without a reorg (within one batch too: a
  *    pending row whose block the batch also accepts never reaches the
  *    head), and restarts/retracts empty it. The head is visible only to the
  *    driver instance that processed it; after a restart the source re-emits
  *    it, because the cursor never advanced past it.
  *
  *  - a micro-batch reads its source once (one persisted input, one
  *    Spark job that builds the cache and summarizes it) and then commits
  *    through two legs at the same time, each with tasks sized to the
  *    batch's rows: the fact parquet write and the relational leg; the
  *    pending head is collected from the cache beside them. What stays
  *    ordered: dims, then facts, then cursor inside the relational leg; both
  *    legs, then the operational refresh, then the analytical hook (see
  *    [[processBatch]]).
  *
  * Event-time watermarks/session windows are deliberately absent: blockchain
  * order is total, and "late data" manifests only as reorgs (T8).
  *
  * Layout note: `batch_id=N` accrues one directory per micro-batch — a
  * long-lived deployment periodically calls [[compact]] (quiesced) to fold
  * `batch_id < N` into the single archive partition `batch_id=-1`, one
  * directory per block_bucket. On a production table format
  * (Delta/Iceberg) the same pipeline writes MERGE/DELETE-capable tables
  * and compaction is the format's OPTIMIZE; the plain-parquet layout here
  * is the dependency-free stand-in that keeps the replay-idempotence and
  * partition-pruned-retract semantics testable.
  */
final class StreamDriver(
    spark: SparkSession,
    factRoot: String,
    checkpointRoot: String,
    analyticalEvery: Long = 10L,
    onOperationalRefresh: DataFrame => Unit = _ => (),
    onAnalyticalRefresh: Long => Unit = _ => (),
    multiTableSink: Option[(JdbcMultiTableSink, DataFrame => Map[String, DataFrame])] = None,
    multiTableDims: Seq[(String, Seq[String], DataFrame => DataFrame)] = Nil) {

  /** Partition column: coarse block bucket so a reorg delete prunes to a
    * bounded set of partitions (4096 blocks per bucket). */
  private def withBlockBucket(df: DataFrame): DataFrame =
    df.withColumn("block_bucket",
      floor(col("block_number") / 4096).cast("long"))

  /** Start the ingestion query over a parquet-backed raw-event stream whose
    * rows carry (block_number, transaction_index, event_index, payload...).
    * Convenience overload of `start(BlockSource, Trigger)`. */
  def start(rawEventsPath: String, schema: org.apache.spark.sql.types.StructType,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    start(graft.sources.FileBlockSource(rawEventsPath, schema), trigger)

  /** Start the ingestion query over any [[graft.sources.BlockSource]] —
    * the explicit seam where a production stream (Kafka, DataSource V2,
    * a gRPC bridge) replaces the bundled file source.
    * `Trigger.AvailableNow()` drains the backlog and stops (used by tests and
    * catch-up runs); the default processes continuously. The checkpoint is
    * the cursor (S11): restarting with the same checkpointRoot resumes after
    * the last committed batch. */
  def start(source: graft.sources.BlockSource, trigger: Trigger): StreamingQuery = {
    // T4 startup cleanup: the pending head is the uncommitted head suffix —
    // only valid relative to the live stream position at the moment it was
    // collected. After a restart the source re-emits the head (the reference
    // never advances its cursor past pending data, index.ts:243-246), so a
    // stale pending suffix would double it.
    pendingHead = None
    // multi-table relational leg: delete any batch the cursor never
    // acknowledged (a crash between the fact appends and the cursor write);
    // the checkpoint replay below then rewrites it — the reference's
    // "delete any pending data on restart" contract (index.ts:242-244)
    multiTableSink.foreach(_._1.repairAfterRestart())
    val raw = source.stream(spark)
    require(raw.isStreaming, s"BlockSource $source returned a non-streaming frame")
    raw.writeStream
      .trigger(trigger)
      .option("checkpointLocation", s"$checkpointRoot/ingest")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId)
      }
      .start()
  }

  /** One per-block-batch transaction (index.ts:195-257): derive event ids,
    * append facts idempotently, then run the refresh tiers.
    *
    * One source scan, one summary job: the input batch is persisted once,
    * and one pass over it ([[summarize]]) both builds the cache and answers
    * every question the batch asks of itself — control or data, the
    * invalidate boundary, the cursor's end block, the pending rows that
    * survive. Every leg and the refresh then read the cache.
    *
    * Legs sized by rows: every leg and the refresh read the cache through
    * `coalesce(n)`, n = ⌈dataRows ÷ [[StreamDriver.RowsPerTask]]⌉ — a
    * narrow merge of cached partitions, no shuffle and no second scan. A
    * live batch of a few hundred rows then writes one parquet file per
    * bucket, opens one connection per table and refreshes one partition;
    * a backfill batch of thousands keeps several tasks.
    *
    * Concurrent legs ([[CommitLegs]]): after the summary, two independent
    * writes run at the same time — the fact parquet write and the
    * relational leg (`JdbcMultiTableSink`, ordered inside: dims, then facts,
    * then cursor) — and the batch's pending head is collected from the cache
    * beside them. Both legs finish before the new head replaces the old
    * one, before the operational refresh, and the refresh before the
    * analytical hook; a failed leg fails the batch only after every other
    * leg has stopped, so no refresh ever sees a half-written batch, the
    * previous pending head stays in place, and the checkpoint replay reruns
    * both legs (each is idempotent).
    *
    * Idempotency is scoped to the batch: partitions are
    * `batch_id=N/block_bucket=M`, so a checkpoint replay of batch N
    * dynamically overwrites ONLY its own partitions (exactly-once, T1)
    * while other batches sharing a block bucket stay untouched.
    *
    * Replay-after-retract: a checkpoint replay of an UNCOMMITTED batch that
    * was written before a reorg retraction would resurrect the retracted
    * blocks (its offset-WAL file list is pre-reorg). Every retract therefore
    * records `(maxBatchId at retract time, fromBlock)` in a ledger, and a
    * replayed batch with id ≤ a ledger entry's maxBatchId is filtered to
    * `block_number < fromBlock` — reproducing exactly the survivor set the
    * retract committed. Batches newer than every ledger entry (the
    * post-reorg canonical chain) pass through unfiltered. */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    // Replay-after-compact: a batch folded into the archive no longer owns
    // a batch_id=N partition — re-writing one would DUPLICATE its rows
    // (one copy in the archive, one in the resurrected partition). Its
    // data (post-retract-filter, which ran before the fold) already lives
    // in batch_id=-1, so the replay is a pure no-op; the stream converges
    // at the first batch newer than the compaction ledger.
    if (batchId < compactedUpTo) return

    val cutoff = retractCutoffFor(batchId)
    // the finally must cover EVERY consumer: a transient failure in any leg
    // (parquet write, JDBC outage, pending-head collect) would otherwise
    // strand the batch-sized cache in the CacheManager for the session's
    // lifetime, one leak per failed-and-replayed batch
    val input = batch.persist()
    try {
      val s = summarize(input, cutoff)

      // Control batches (the reference's invalidate/heartbeat dispatch arms,
      // index.ts:142-287, carried in-band by the graft-blocks connector):
      // the connector guarantees a control marker rides ALONE in its
      // micro-batch, so a batch containing control rows has no data to
      // ingest — an invalidate runs the retraction inline (the stream stays
      // up; micro-batches are sequential, so the quiesced-only requirement
      // holds by construction), a heartbeat is pure liveness (its one input
      // row refreshes LivenessMonitor's progress clock; nothing to store).
      // A checkpoint replay of an invalidate batch re-runs the retract,
      // which is idempotent — and Spark replays at most the LAST uncommitted
      // batch, so no post-reorg batch can have committed before the replay.
      if (s.controlRows > 0) {
        require(s.dataRows == 0, s"batch $batchId mixes control markers with data rows — " +
          "the source must emit markers in their own micro-batch")
        s.invalidateFrom.foreach { fromBlock =>
          retract(fromBlock)
          // poke operational consumers after a retraction (the reference
          // pushes the invalidation downstream); heartbeats change nothing
          onOperationalRefresh(spark.emptyDataFrame)
        }
      } else commitData(input, batchId, cutoff, s)
    } finally input.unpersist()
  }

  /** The data arm of [[processBatch]]: the concurrent legs, then the
    * refresh tiers. Every frame here derives from the cached `input`,
    * coalesced to the batch's size. */
  private def commitData(input: DataFrame, batchId: Long, cutoff: Option[Long],
      s: StreamDriver.BatchSummary): Unit = {
    val sized = input.coalesce(StreamDriver.tasksFor(s.dataRows))
    // a row without a block number can neither be keyed nor retracted (it
    // would land in the __HIVE_DEFAULT_PARTITION__ bucket, outside every
    // reorg predicate) — malformed input, dropped at the boundary. The
    // retract-ledger replay guard applies to pending rows too: a checkpoint
    // replay of a pre-reorg batch must not repopulate the pending head
    // (and the operational view) with retracted blocks.
    def keyed(rows: Column): DataFrame = {
      val k = sized.filter(col("block_number").isNotNull && rows)
        .drop(ControlCol, InvalidateFromCol, "is_pending")
        .withColumn("event_id",
          Ingest.eventId(col("block_number"), col("transaction_index"), col("event_index")))
      cutoff.map(c => k.filter(col("block_number") < c)).getOrElse(k)
    }

    // T4: a batch may carry PENDING (unfinalized head) rows, flagged by an
    // optional `is_pending` column (index.ts:137). They are processed —
    // visible to operational consumers this tick — but never become
    // canonical: they form the pending head, which each batch replaces
    // wholesale (the pending head is whatever THIS batch says it is; the
    // finalized re-emission of the same block arrives later as a normal
    // canonical row, so the swap needs no reorg). A pending row whose
    // block this same batch also accepts is already superseded and never
    // reaches the head.
    val canonicalRows = !isPending(input)
    val pendingRows = Option.when(s.pendingBlocks.nonEmpty)(
      isPending(input) && col("block_number").isin(s.pendingBlocks: _*))
    val canonical = keyed(canonicalRows)
    val pending = pendingRows.map(keyed)

    val factLeg = () =>
      withBlockBucket(canonical)
        .withColumn("batch_id", lit(batchId))
        .write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "block_bucket")
        .parquet(s"$factRoot/raw_events")

    // relational leg (BASELINE's "JDBC sink to Postgres"): canonical rows
    // only — the pending head stays in driver memory. The sink routes the
    // batch into per-processor fact frames (the reference DAO's ~24 tables,
    // dao.ts:1895-2893) and writes them with the cursor-as-commit-marker
    // protocol; an all-filtered replay batch has no end block and moves no
    // cursor.
    val relationalLeg = () =>
      for ((sink, route) <- multiTableSink; endBlock <- s.endBlock) {
        // dimension legs FIRST (the reference inserts pool_keys rows as it
        // meets them, before the cursor advance, dao.ts:1869-1893): the
        // database-side insert-ignore makes this idempotent under batch
        // replay, so dims need no delete-own-batch protocol of their own —
        // a dim row, once present, is correct forever (keys are
        // content-addressed, never reorged)
        multiTableDims.foreach { case (table, keyCols, derive) =>
          sink.writeDim(table, derive(canonical), keyCols)
        }
        sink.write(route(canonical), batchId, endBlock)
      }

    // the pending head is ALWAYS this batch's pending set — an empty one
    // means the head is fully finalized, so the head empties too. Its rows
    // (a few blocks) are collected from the cache into a local relation:
    // driver heap, no block-manager storage to release. It replaces the
    // previous head only once every leg has committed.
    var head = pendingHead
    val headLeg = Option.when(input.columns.contains("is_pending"))(() =>
      head = pending.map { p =>
        val h = withBlockBucket(p).withColumn("batch_id", lit(PendingBatchId))
        spark.createDataFrame(h.collectAsList(), h.schema)
      })

    CommitLegs.runAll(spark, Seq(factLeg, relationalLeg) ++ headLeg)
    pendingHead = head

    // canonical rows and the surviving pending head, as one filter over the
    // sized input (a union would double the refresh's partitions)
    onOperationalRefresh(pendingRows.fold(canonical)(p => keyed(canonicalRows || p)))
    if (batchId % analyticalEvery == 0) onAnalyticalRefresh(batchId)
  }

  /** The optional pending flag; a batch without the column is all canonical. */
  private def isPending(df: DataFrame): Column =
    if (df.columns.contains("is_pending")) coalesce(col("is_pending").cast("boolean"), lit(false))
    else lit(false)

  /** One Spark job over the persisted input: the job that builds the cache
    * also folds each partition into a [[StreamDriver.BatchSummary]], and
    * the driver merges the per-partition partials. A projection over the
    * cache has no exchange, so it is not planned adaptively and runs no
    * separate cache stage; a global aggregate here ran three jobs (cache,
    * partial aggregate, final aggregate). Each partial holds two counts,
    * two bounds and the partition's pending and accepted block sets, so
    * what reaches the driver is bounded by the blocks in the batch, not by
    * its rows. */
  private def summarize(input: DataFrame, cutoff: Option[Long]): StreamDriver.BatchSummary = {
    val hasControl = input.columns.contains(ControlCol)
    val control = if (hasControl) col(ControlCol).isNotNull else lit(false)
    val invalidate =
      if (hasControl) when(col(ControlCol) === ControlInvalidate, col(InvalidateFromCol))
      else lit(null)
    val kept = col("block_number").isNotNull && !control &&
      cutoff.map(c => col("block_number") < c).getOrElse(lit(true))
    val pendingFlag = isPending(input)
    val blockWhere = (c: Column) => when(c, col("block_number")).cast("long")
    input
      .select(control, invalidate.cast("long"),
        blockWhere(kept && !pendingFlag), blockWhere(kept && pendingFlag))
      .queryExecution.toRdd
      .mapPartitions(rows => Iterator(StreamDriver.BatchSummary.of(rows)))
      .collect()
      .foldLeft(StreamDriver.BatchSummary.empty)(_ merge _)
  }

  /** Canonical facts plus the pending head (T4): what an operational query
    * should see — the reference serves unfinalized data too, it just never
    * commits a cursor past it. Pending rows carry `batch_id = -2`; they are
    * this driver instance's head, so a fresh instance serves none until it
    * processes a batch. */
  def operationalEvents: DataFrame = {
    val fs = new Path(factRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    (readParquetIfPresent(s"$factRoot/raw_events", fs), pendingHead) match {
      case (Some(c), Some(p)) =>
        // align the pending head (data columns only) to the canonical read
        // schema: partition-column read-back may narrow types, and unionByName
        // wants identical sets
        val aligned = c.schema.fields.map { f =>
          if (p.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }
        c.unionByName(p.select(aligned.toSeq: _*))
      case (Some(c), None) => c
      // no canonical data yet (no batch processed, or an all-pending first
      // batch): serve the pending head alone rather than throwing
      case (None, Some(p)) => p
      case (None, None) => spark.emptyDataFrame
    }
  }

  /** Read a parquet directory that may be absent or schemaless (exists but
    * holds no data files yet — e.g. an all-pending first batch never wrote
    * canonical rows). Returns None in both cases instead of throwing. */
  private def readParquetIfPresent(dir: String, fs: FileSystem): Option[DataFrame] =
    if (!fs.exists(new Path(dir))) None
    else try Some(spark.read.parquet(dir)) catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") ||
             e.getMessage.contains("PATH_NOT_FOUND") => None
    }

  /** Reorg retraction (T3): only partitions that can contain blocks ≥
    * fromBlock are touched — the boundary bucket is rewritten with its
    * surviving rows, strictly-higher buckets are dropped outright, earlier
    * buckets are never read. (With a table format this is `DELETE WHERE`;
    * on plain parquet it is an explicit partition-level delete+rewrite.)
    *
    * Crash-recoverable, two markers (each created atomically by
    * write-temp-then-rename; a torn temp is ignored because only the
    * renamed names are ever read):
    *  - `_RETRACT_DELETE` = survivors are fully materialized under
    *    `.retract_tmp`; the stale deletes may (re)run. Carries
    *    `fromBlock maxBatchId` so recovery can also replay the ledger
    *    entry that guards checkpoint replays (see processBatch).
    *  - `_RETRACT_SWAP` = every stale bucket is gone; only the remaining
    *    renames may run. Recovery from SWAP never re-deletes, because a
    *    partially-swapped survivor bucket in dest is indistinguishable from
    *    a stale one by path alone.
    * Removing the temp dir (markers included) marks the retract complete;
    * the ledger entry persists. */
  def retract(fromBlock: Long): Unit = {
    val path = s"$factRoot/raw_events"
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // 0. finish any half-done retract AND compact first: a crashed compact
    //    leaves the source missing folded rows (still in .compact_tmp) —
    //    computing survivors from that half-deleted source, then letting a
    //    later recoverCompact() swap the stale pre-reorg archive back in,
    //    would resurrect the retracted blocks
    recoverRetract()
    recoverCompact()

    // a reorg invalidates the unfinalized head outright (T3 ∩ T4): the
    // post-reorg source re-emits it
    pendingHead = None

    // the relational leg deletes instead of rewriting partitions (the
    // reference cascades deletes from event_keys, dao.ts:1543-1576)
    multiTableSink.foreach(_._1.retract(fromBlock))

    // an invalidate can precede any canonical write (a reorg during
    // catch-up, or a pending-only head): with no fact storage yet, the
    // head drop and relational deletes above are the whole retraction
    if (!fs.exists(new Path(path))) return

    val boundary = fromBlock / 4096
    val maxBatch = maxBatchId(fs)

    // 1. surviving rows of the boundary bucket are written EXECUTOR-SIDE to
    //    a temp prefix — never materialized on the driver (a production
    //    bucket would OOM a driver-side collect; VERDICT r1-r3). The write
    //    fully materializes the survivors before any source file is deleted.
    Ingest.retractFacts(
        spark.read.parquet(path).filter(col("block_bucket") === boundary), fromBlock)
      .write
      .mode("overwrite")
      .partitionBy("batch_id", "block_bucket")
      .parquet(tmpDir)

    // 1b. commit point: once this marker exists, the retract WILL complete
    //     (here or on recovery) using only the materialized survivors.
    writeMarker(fs, tmpDir, DeleteMarker, s"$fromBlock $maxBatch")
    writeLedgerEntry(fs, maxBatch, fromBlock)

    deletePhase(fs, boundary)
    writeMarker(fs, tmpDir, SwapMarker, s"$fromBlock $maxBatch")
    swapPhase(fs, tmpDir)
  }

  /** Fold every `batch_id < upToBatch` partition (the existing archive
    * included) into the single archive partition `batch_id=-1`, one
    * directory per block_bucket — small per-micro-batch files become one
    * scan-efficient run and the partition listing stops growing with
    * stream age. Quiesced-only, like retract: no concurrent processBatch.
    *
    * Same two-marker crash-safe protocol as retract (the folded archive is
    * fully materialized under `.compact_tmp` BEFORE any source directory
    * is deleted), plus a compaction ledger entry consumed by processBatch:
    * a checkpoint replay of a folded batch must skip its write entirely —
    * its rows already live in the archive, and resurrecting `batch_id=N`
    * would double them. */
  def compact(upToBatch: Long): Unit = {
    require(upToBatch >= 0, s"upToBatch must be >= 0: $upToBatch")
    val path = s"$factRoot/raw_events"
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // 0. never interleave with a half-done retract or compact
    recoverRetract()
    recoverCompact()

    if (!fs.exists(new Path(path)) || maxBatchId(fs) < 0) return

    // clamp to the batches that actually exist: an over-large bound would
    // land in the ledger and make processBatch silently skip every FUTURE
    // batch below it — permanent data loss from a fat-fingered argument
    val bound = math.min(upToBatch, maxBatchId(fs) + 1)

    // 1. materialize the folded archive executor-side (never on the driver)
    spark.read.parquet(path)
      .filter(col("batch_id") < bound)
      .withColumn("batch_id", lit(-1L))
      .write
      .mode("overwrite")
      .partitionBy("batch_id", "block_bucket")
      .parquet(compactTmpDir)

    // 1b. commit point
    writeMarker(fs, compactTmpDir, DeleteMarker, s"$bound")
    writeCompactLedgerEntry(fs, bound)

    compactDeletePhase(fs, bound)
    writeMarker(fs, compactTmpDir, SwapMarker, s"$bound")
    swapPhase(fs, compactTmpDir)
  }

  /** Complete a compact that died between its commit point and its swap —
    * same shape as [[recoverRetract]]: marker-less temp means the fold
    * never committed (source intact, discard); DELETE means the source
    * deletes may (re)run; SWAP means only renames remain. */
  def recoverCompact(): Unit = {
    val fs = new Path(s"$factRoot/raw_events")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpPath = new Path(compactTmpDir)
    val swapM = new Path(compactTmpDir, SwapMarker)
    val deleteM = new Path(compactTmpDir, DeleteMarker)
    if (fs.exists(swapM)) {
      swapPhase(fs, compactTmpDir)
    } else if (fs.exists(deleteM)) {
      val upToBatch = readMarker(fs, deleteM).toLong
      writeCompactLedgerEntry(fs, upToBatch)
      compactDeletePhase(fs, upToBatch)
      writeMarker(fs, compactTmpDir, SwapMarker, s"$upToBatch")
      swapPhase(fs, compactTmpDir)
    } else if (fs.exists(tmpPath)) {
      fs.delete(tmpPath, true)
    }
  }

  /** Complete a retract that died between its commit point and its swap.
    * Safe to call any time (e.g. on driver startup before resuming the
    * stream): a marker-less temp dir means the survivors write itself never
    * committed — the source is still intact, so the temp is just discarded. */
  def recoverRetract(): Unit = {
    val fs = new Path(s"$factRoot/raw_events")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpPath = new Path(tmpDir)
    val swapM = new Path(tmpDir, SwapMarker)
    val deleteM = new Path(tmpDir, DeleteMarker)
    if (fs.exists(swapM)) {
      swapPhase(fs, tmpDir)
    } else if (fs.exists(deleteM)) {
      val Array(fromBlock, maxBatch) = readMarker(fs, deleteM).split(' ').map(_.toLong)
      // the ledger entry is part of the commit — replay it before deleting,
      // in case the original crash hit between marker and ledger
      writeLedgerEntry(fs, maxBatch, fromBlock)
      deletePhase(fs, fromBlock / 4096)
      writeMarker(fs, tmpDir, SwapMarker, s"$fromBlock $maxBatch")
      swapPhase(fs, tmpDir)
    } else if (fs.exists(tmpPath)) {
      fs.delete(tmpPath, true)
    }
  }

  /** The pending head (T4): this batch's surviving pending rows as a local
    * relation, replaced wholesale by each data batch that has the
    * `is_pending` column, emptied by `start` and `retract`, never part of
    * the canonical partition layout. Volatile: [[operationalEvents]] is read
    * from other threads than the stream's. */
  @volatile private var pendingHead: Option[DataFrame] = None

  /** Sentinel batch_id of pending rows in [[operationalEvents]] (canonical
    * batches are ≥ 0; the compacted archive is -1). */
  val PendingBatchId = -2L

  private val tmpDir = s"$factRoot/.retract_tmp"
  private val ledgerDir = s"$factRoot/.retract_log"
  private val compactTmpDir = s"$factRoot/.compact_tmp"
  private val compactLedgerDir = s"$factRoot/.compact_log"
  private val DeleteMarker = "_RETRACT_DELETE"
  private val SwapMarker = "_RETRACT_SWAP"

  /** Atomic marker creation: write a temp file, then rename into the final
    * name. A crash mid-write leaves only a torn temp that is never read; a
    * rename onto an already-existing marker (recovery replay) is a no-op. */
  private def writeMarker(fs: FileSystem, dir: String, name: String,
      content: String): Unit = {
    val dest = new Path(dir, name)
    if (!fs.exists(dest)) {
      val tmp = new Path(dir, name + ".tmp")
      val out = fs.create(tmp, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      fs.rename(tmp, dest)
    }
  }

  private def readMarker(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
  }

  /** One empty file per retract, data in the name (no torn-content risk):
    * `r_<maxBatchId>_<fromBlock>`. */
  private def writeLedgerEntry(fs: FileSystem, maxBatch: Long, fromBlock: Long): Unit =
    if (maxBatch >= 0) {
      fs.mkdirs(new Path(ledgerDir))
      fs.create(new Path(ledgerDir, s"r_${maxBatch}_$fromBlock"), true).close()
      retractLedgerCache = Some(loadRetractLedger(fs))
    }

  /** Both ledgers are cached in memory after the first read: this driver is
    * the ledgers' only writer (retract/compact run in-process, quiesced),
    * and without the cache every 2-second micro-batch would pay two
    * listStatus round-trips against the fact store just to re-learn an
    * unchanged answer. A fresh driver instance (restart) re-reads from the
    * filesystem once. */
  @volatile private var retractLedgerCache: Option[Seq[(Long, Long)]] = None
  @volatile private var compactedUpToCache: Option[Long] = None

  private def loadRetractLedger(fs: FileSystem): Seq[(Long, Long)] = {
    val dir = new Path(ledgerDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case LedgerName(maxBatch, fromBlock) =>
        (maxBatch.toLong, fromBlock.toLong) }
  }

  /** The replay guard for a batch id: the tightest retract boundary among
    * ledger entries whose maxBatchId covers this batch (None for batches
    * newer than every recorded retract). */
  private def retractCutoffFor(batchId: Long): Option[Long] = {
    val entries = retractLedgerCache.getOrElse {
      val fs = new Path(ledgerDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val loaded = loadRetractLedger(fs)
      retractLedgerCache = Some(loaded)
      loaded
    }
    val cutoffs = entries.collect { case (maxBatch, fromBlock) if maxBatch >= batchId => fromBlock }
    if (cutoffs.isEmpty) None else Some(cutoffs.min)
  }

  private val LedgerName = "r_(-?\\d+)_(\\d+)".r

  /** One empty file per compaction, data in the name: `c_<upToBatch>`. */
  private def writeCompactLedgerEntry(fs: FileSystem, upToBatch: Long): Unit = {
    fs.mkdirs(new Path(compactLedgerDir))
    fs.create(new Path(compactLedgerDir, s"c_$upToBatch"), true).close()
    compactedUpToCache = Some(math.max(upToBatch, compactedUpToCache.getOrElse(0L)))
  }

  /** Exclusive upper bound of batch ids folded into the archive (0 when no
    * compaction has ever run — no batch is ever skipped). */
  private def compactedUpTo: Long = compactedUpToCache.getOrElse {
    val dir = new Path(compactLedgerDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val loaded =
      if (!fs.exists(dir)) 0L
      else {
        val ids = fs.listStatus(dir).toSeq
          .map(_.getPath.getName)
          .collect { case CompactLedgerName(upTo) => upTo.toLong }
        if (ids.isEmpty) 0L else ids.max
      }
    compactedUpToCache = Some(loaded)
    loaded
  }

  private val CompactLedgerName = "c_(\\d+)".r

  /** Compact step 2, idempotent: drop every source batch directory folded
    * into the materialized archive — ids below the bound plus the previous
    * archive (-1), which the new archive supersedes. */
  private def compactDeletePhase(fs: FileSystem, upToBatch: Long): Unit = {
    val root = new Path(s"$factRoot/raw_events")
    if (!fs.exists(root)) return
    fs.listStatus(root)
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("batch_id=") && {
          val v = n.stripPrefix("batch_id=")
          v.nonEmpty && v.forall(c => c.isDigit || c == '-') && v.toLong < upToBatch
        }
      }
      .foreach(st => fs.delete(st.getPath, true))
  }

  private def maxBatchId(fs: FileSystem): Long = {
    val root = new Path(s"$factRoot/raw_events")
    if (!fs.exists(root)) return -1L
    val ids = fs.listStatus(root).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("batch_id=") &&
        n.stripPrefix("batch_id=").forall(c => c.isDigit || c == '-') =>
        n.stripPrefix("batch_id=").toLong }
    if (ids.isEmpty) -1L else ids.max
  }

  /** Step 2, idempotent: partition-level delete of every bucket ≥ boundary.
    * Runs only while the DELETE marker is current — i.e. before any
    * survivor has been renamed into the fact root. Non-numeric partition
    * directory names (foreign files, default partitions) are skipped, never
    * parsed. */
  private def deletePhase(fs: FileSystem, boundary: Long): Unit = {
    val hadoopPath = new Path(s"$factRoot/raw_events")
    if (!fs.exists(hadoopPath)) return
    fs.listStatus(hadoopPath)
      .filter(_.getPath.getName.startsWith("batch_id="))
      .foreach { batchDir =>
        fs.listStatus(batchDir.getPath)
          .filter { st =>
            val n = st.getPath.getName
            n.startsWith("block_bucket=") && {
              val v = n.stripPrefix("block_bucket=")
              v.nonEmpty && v.forall(c => c.isDigit || c == '-')
            }
          }
          .filter(_.getPath.getName.stripPrefix("block_bucket=").toLong >= boundary)
          .foreach(st => fs.delete(st.getPath, true))
      }
  }

  /** Step 3, idempotent: move the surviving partition directories into
    * place — pure filesystem renames (metadata ops), no row ever crosses
    * the driver. Each rename removes its source from the temp prefix, so a
    * replay only touches not-yet-swapped buckets. Removing the temp dir
    * (markers included) is what marks the retract complete. */
  private def swapPhase(fs: FileSystem, srcTmpDir: String): Unit = {
    val hadoopPath = new Path(s"$factRoot/raw_events")
    val tmpPath = new Path(srcTmpDir)
    if (fs.exists(tmpPath)) {
      fs.listStatus(tmpPath)
        .filter(_.getPath.getName.startsWith("batch_id="))
        .foreach { batchDir =>
          fs.listStatus(batchDir.getPath)
            .filter(_.getPath.getName.startsWith("block_bucket="))
            .foreach { bucketDir =>
              val dest = new Path(
                s"${hadoopPath.toString}/${batchDir.getPath.getName}/${bucketDir.getPath.getName}")
              fs.mkdirs(dest.getParent)
              fs.rename(bucketDir.getPath, dest)
            }
        }
      fs.delete(tmpPath, true)
    }
  }
}

object StreamDriver {

  /** Rows per task of a batch's legs and refresh. A batch below it runs
    * every leg as one task — one parquet file per bucket, one connection
    * per table — because at a few hundred rows a leg's cost is its tasks,
    * not its rows: a live batch of ~160 rows in 4 chunks ran each leg as 4
    * tasks of ~40 rows, 16 tasks competing for 4 cores. A backfill batch
    * of 10 chunks × 1,000 rows keeps 3 tasks. */
  private[graft] val RowsPerTask = 4096

  /** Partitions for a batch of `rows` data rows: ⌈rows ÷ RowsPerTask⌉, at
    * least one. */
  private[streaming] def tasksFor(rows: Long): Int =
    math.max(1L, (rows + RowsPerTask - 1) / RowsPerTask).toInt

  /** What a batch needs to know about itself before it writes anything —
    * one partition's partial, or the merge of all of them.
    * `dataRows` counts every non-control row (the mixed-batch check and
    * the legs' size). The block sets see only rows that pass the replay
    * guard: the cursor's end block is the highest accepted one, and the
    * pending head's next content is [[pendingBlocks]]. */
  private final case class BatchSummary(controlRows: Long, dataRows: Long,
      invalidateFrom: Option[Long], acceptedBlocks: Set[Long], pendingBlocksSeen: Set[Long]) {

    def merge(o: BatchSummary): BatchSummary = BatchSummary(
      controlRows + o.controlRows, dataRows + o.dataRows,
      (invalidateFrom ++ o.invalidateFrom).minOption,
      acceptedBlocks ++ o.acceptedBlocks, pendingBlocksSeen ++ o.pendingBlocksSeen)

    def endBlock: Option[Long] = acceptedBlocks.maxOption

    /** The blocks the batch carries pending and does not also accept —
      * empty when the head is fully finalized. */
    lazy val pendingBlocks: Seq[Long] = (pendingBlocksSeen -- acceptedBlocks).toSeq.sorted
  }

  private object BatchSummary {
    val empty: BatchSummary = BatchSummary(0L, 0L, None, Set.empty, Set.empty)

    /** Fold one partition of [[StreamDriver.summarize]]'s projection:
      * (is control, invalidate-from, accepted block, pending block). */
    def of(rows: Iterator[InternalRow]): BatchSummary = {
      var control = 0L
      var data = 0L
      var invalidate = Option.empty[Long]
      val accepted = Set.newBuilder[Long]
      val pending = Set.newBuilder[Long]
      rows.foreach { r =>
        if (r.getBoolean(0)) control += 1 else data += 1
        if (!r.isNullAt(1)) invalidate = Some(invalidate.fold(r.getLong(1))(math.min(_, r.getLong(1))))
        if (!r.isNullAt(2)) accepted += r.getLong(2)
        if (!r.isNullAt(3)) pending += r.getLong(3)
      }
      BatchSummary(control, data, invalidate, accepted.result(), pending.result())
    }
  }
}
