package graft.queries

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.fixtures.Fixtures
import graft.plans.DotProduct
import graft.util.Dirs

/** Persisted ANN index lifecycle — the write-once / serve-many deployment
  * model of the similarity family (Jégou et al. 2011's IVF×PQ as actually
  * operated at 10⁹⁺ vectors; the batch twin of what
  * [[Dedup.incrementalMinhash]] models for MinHash bands and
  * [[graft.streaming.StreamingDedup]] models online).
  *
  * Why this exists: at 100 TB, in-session quantizer training is the wrong
  * lifecycle — a production deployment trains ONCE, writes versioned index
  * artifacts, serves every query from them, and appends each day's vectors
  * encoded against the FROZEN codebooks, never re-reading (let alone
  * re-training on) the standing corpus. Since round 12 this is the ONLY
  * path: every fused similarity entry ([[Similarity.annIvfPq]], the
  * IVF/PQ/LSH scorers, semantic dedup, the recall matrix) serves from
  * [[served]]'s per-session published index — the previous per-frame Memo
  * training path is gone.
  *
  * Artifact layout (all parquet, under one index root):
  * {{{
  *   root/delta=00001/            — the base build
  *     _manifest.json               (format, kind, params; written LAST)
  *     centroids/                   (cid, cemb, cnorm)      — IVF quantizer
  *     pq_codebooks/                (m, cid, cvec)          — PQ quantizer
  *     assignments/                 (vec_id, cluster)       — inverted lists
  *     pq_codes/cluster=N/          (vec_id, m, cid)        — ADC codes
  *     lsh_bands/                   (vec_id, bucket)        — LSH table
  *   root/delta=00002/            — an incremental append: NO quantizers,
  *     ...                          only the batch's assignments/codes/bands
  * }}}
  * Deltas are immutable and atomic: each is staged in a dot-prefixed temp
  * dir and renamed into place after its manifest lands — a reader either
  * sees a complete delta or none of it (the
  * [[graft.sources.v2]] chunk-commit discipline). An append writes O(batch)
  * bytes; the standing corpus is never rewritten — the LSM-ish shape every
  * production index store (FAISS on object storage, Lucene segments) uses.
  *
  * The code table is PARTITIONED BY its IVF cell: an IVF probe reads only
  * `nprobe × Q` cell directories out of `centroids-count` — at 100 TB the
  * scoring scan is partition-pruned to ~nprobe/centroids of the code bytes
  * (the broadcast probe join lets Spark's dynamic partition pruning narrow
  * the scan; the layout guarantees prunability regardless).
  *
  * Scoring ([[scoreIvfPq]]) reads ONLY persisted frames + the query
  * vectors; AnnIndexSpec pins that its plan contains no training operator
  * (no collect_list codebook rebuild, no min_by encode) and scans the
  * index directory.
  */
object AnnIndex {

  private val formatVersion = 1

  /** The loaded index: quantizers from the base delta, row-level artifacts
    * unioned across all deltas. PQ artifacts and the second LSH table are
    * optional — an IVF+LSH-only index (the `embeddings_aug` serving index)
    * carries neither. */
  final case class Frames(centroids: DataFrame, codebooks: Option[DataFrame],
      codes: Option[DataFrame], assignments: DataFrame, bands: DataFrame,
      bandsT1: Option[DataFrame], sq8Ranges: Option[DataFrame] = None,
      sq8Codes: Option[DataFrame] = None,
      tombstones: Option[DataFrame] = None)

  /** Fixture split for the incremental entry: the standing corpus the index
    * is trained+built on, and the incoming batch appended against frozen
    * quantizers (same deterministic 1-in-7 split as
    * [[Dedup.incrementalMinhash]]). */
  private[queries] val standingPred = "vec_id % 7 != 0"
  private[queries] val batchPred = "vec_id % 7 = 0"

  // ---------------------------------------------------------------- build

  /** Train quantizers on `trainPred`'s population of `table` and write the
    * base delta (delta=00001): centroids, the training population's
    * assignments and LSH bands, and — when `withPq` — the PQ codebooks and
    * codes; `withT1` additionally writes the second LSH plane family
    * ([[Similarity]] multi-table recall lever) so the multi-table scorer
    * serves from artifacts too. */
  def buildBase(spark: SparkSession, sfDir: String, root: String,
      trainPred: String, table: String = "embeddings",
      withPq: Boolean = true, withT1: Boolean = false,
      withSq8: Boolean = false): Unit = {
    val v = Similarity.vecs(spark, sfDir, table).filter(expr(trainPred))
    val cents = Similarity.centroidsOf(v)
    // Build intermediates are eagerly materialized (build-only code, once
    // per session root): un-checkpointed, the assignment cross-join ran
    // twice (codes join + write), the subvector explode three times
    // (codebook seed encode, Lloyd step, final encode) and the trained
    // codebook aggregate twice (encode + write) — each a full corpus pass.
    val assigned = Similarity.assignTo(v, cents).localCheckpoint()
    // inner join with the assignment drops degenerate vectors (no norm, no
    // cell) from the code table — same population the fused path scores
    val codes = if (withPq) Some {
      val subs = Similarity.pqSubvectors(spark, sfDir)
        .filter(expr(trainPred)).localCheckpoint()
      val cb = Similarity.trainCodebooks(spark, subs).localCheckpoint()
      (cb, Similarity.pqEncode(subs, cb).join(assigned, Seq("vec_id")))
    } else None
    val bands = Similarity.computeLshBuckets(spark, table).filter(expr(trainPred))
    val bandsT1 =
      if (withT1) Some(Similarity.computeLshBuckets(spark, table, 1).filter(expr(trainPred)))
      else None
    val sq8 = if (withSq8) Some(Similarity.sq8Quantize(v)) else None
    writeDelta(root, 1, "base") { tmp =>
      cents.write.parquet(s"$tmp/centroids")
      codes.foreach { case (cb, cd) =>
        cb.write.parquet(s"$tmp/pq_codebooks")
        cd.write.partitionBy("cluster").parquet(s"$tmp/pq_codes")
      }
      assigned.write.parquet(s"$tmp/assignments")
      bands.write.parquet(s"$tmp/lsh_bands")
      bandsT1.foreach(_.write.parquet(s"$tmp/lsh_bands_t1"))
      sq8.foreach { case (ranges, cds) =>
        ranges.write.parquet(s"$tmp/sq8_ranges")
        cds.write.parquet(s"$tmp/sq8_codes")
      }
    }
  }

  /** Append `batchPred`'s vectors as the next delta: assign and encode them
    * against the FROZEN persisted quantizers (read back from the base
    * delta — the plan provably cannot retrain, there is nothing to train
    * on), write O(batch) rows, touch nothing else. */
  def appendBatch(spark: SparkSession, sfDir: String, root: String,
      batchPred: String): Unit = {
    val next = Dirs.numericSuffixes(root, "delta=").maxOption.getOrElse(0) + 1
    require(next > 1, s"appendBatch needs a base delta under $root")
    val base = deltaPath(root, 1)
    val cents = spark.read.parquet(s"$base/centroids")
    val cb = spark.read.parquet(s"$base/pq_codebooks")
    val v = Similarity.vecs(spark, sfDir).filter(expr(batchPred))
    // materialized: consumed by the code join AND the assignments write
    val assigned = Similarity.assignTo(v, cents).localCheckpoint()
    val codes = Similarity
      .pqEncode(Similarity.pqSubvectors(spark, sfDir).filter(expr(batchPred)), cb)
      .join(assigned, Seq("vec_id"))
    val bands = Similarity.computeLshBuckets(spark, "embeddings").filter(expr(batchPred))
    // sq8 leg of the append: encode the batch against the FROZEN persisted
    // range table (no retrain — the exact analogue of the frozen PQ
    // codebooks above). Skipped when the base carries no sq8 artifacts.
    val sq8Delta =
      if (Files.isDirectory(Paths.get(s"$base/sq8_ranges")))
        Some(Similarity.sq8EncodeAgainst(v, spark.read.parquet(s"$base/sq8_ranges")))
      else None
    writeDelta(root, next, "append") { tmp =>
      assigned.write.parquet(s"$tmp/assignments")
      codes.write.partitionBy("cluster").parquet(s"$tmp/pq_codes")
      bands.write.parquet(s"$tmp/lsh_bands")
      sq8Delta.foreach(_.write.parquet(s"$tmp/sq8_codes"))
    }
  }

  /** Delete `ids` (a one-column `vec_id` frame) from the index by writing
    * a TOMBSTONE delta — the third leg of the lifecycle (build / append /
    * delete), and the one every serving deployment with GDPR erasure or
    * content takedowns needs. Like an append it is O(batch): one
    * `tombstones/` table in a fresh immutable delta, the standing
    * artifacts untouched. Serving masks tombstoned ids out of every row
    * table ([[masked]]); [[compact]] makes the deletion PHYSICAL — the
    * fold drops the rows and clears the tombstones, after which the bytes
    * are actually gone (the erasure guarantee compaction exists to give).
    *
    * Contract: `vec_id`s are immutable content ids and are never reused —
    * a tombstone masks the id across ALL deltas, earlier and later (id-
    * level, not sequence-level, semantics; re-inserting a deleted id is
    * out of contract until a compaction has cleared the tombstone). */
  def deleteIds(spark: SparkSession, root: String, ids: DataFrame): Unit = {
    val next = Dirs.numericSuffixes(root, "delta=").maxOption.getOrElse(0) + 1
    require(next > 1, s"deleteIds needs a base delta under $root")
    writeDelta(root, next, "delete") { tmp =>
      ids.select(col("vec_id")).distinct().write.parquet(s"$tmp/tombstones")
    }
  }

  /** The serving view of an index with tombstones: every row-level
    * artifact anti-joined against the tombstone set, quantizers untouched
    * (they are frozen statistics, not rows — a deletion does not retrain).
    * Identity when no tombstones exist. The anti-join's build side is the
    * tombstone table — bounded by deletions-since-last-compaction, so at
    * serving scale it broadcasts (AQE picks that up from parquet stats;
    * the layout guarantees it stays small because compaction clears it). */
  private[queries] def masked(idx: Frames): Frames = idx.tombstones match {
    case None => idx
    case Some(ts) =>
      val t = ts.select(col("vec_id")).distinct()
      def drop(df: DataFrame): DataFrame = df.join(t, Seq("vec_id"), "left_anti")
      idx.copy(codes = idx.codes.map(drop), assignments = drop(idx.assignments),
        bands = drop(idx.bands), bandsT1 = idx.bandsT1.map(drop),
        sq8Codes = idx.sq8Codes.map(drop), tombstones = None)
  }

  /** Base build for the RESIDUAL-encoded index (IVFADC as Jégou et al.
    * 2011 publish it): the PQ trains and encodes over r = v̂ − ĉ (the
    * vector's normalized residual against its assigned centroid) instead
    * of the raw normalized vector, with the coarse quantizer refined by
    * ONE Lloyd step first — residual encoding only pays under a TIGHT
    * quantizer, and the measured ladder
    * ([[Similarity.annRecallIvfPqResidual]]) shows the seeded quantizer
    * alone flips the trade negative. The refined centroid is the exact
    * per-cluster SUM vector ([[Similarity.ivfLloyd]]'s decimal trick —
    * sum/‖sum‖ ≡ mean/‖mean‖, so no division enters the artifact).
    * One shared codebook set across cells — the standard IVFADC layout.
    * Same artifact names and delta protocol as [[buildBase]], so
    * [[load]]/[[compact]]/[[recoverCompact]] apply unchanged; only the
    * subvector population and the scorer differ ([[scoreIvfPqResidual]]
    * builds one distance table per probed cell). */
  def buildResidualBase(spark: SparkSession, sfDir: String, root: String): Unit = {
    import spark.implicits._
    val v = Similarity.vecs(spark, sfDir)
    val a0 = Similarity.assignTo(v, Similarity.centroidsOf(v))
    val el = spark.table("embeddings")
      .select($"vec_id", posexplode($"embedding").as(Seq("idx", "x")))
    val cents = el.join(a0, Seq("vec_id"))
      .groupBy($"cluster", $"idx")
      .agg(sum(expr("TRY_CAST(CAST(x AS DOUBLE) AS DECIMAL(18,12))")).as("sx"))
      .groupBy($"cluster")
      .agg(expr(
        "transform(array_sort(collect_list(struct(idx, sx))), p -> CAST(p.sx AS DOUBLE))")
        .as("cemb"))
      .select($"cluster".as("cid"), $"cemb",
        expr("graft_dot(cemb, cemb)").as("cnorm"))
      // a refined centroid whose sum vector cancels (or TRY_CASTs) to zero
      // norm defines no direction: under ANSI mode the assignment's cosine
      // would DIVIDE_BY_ZERO on it (the adversarial corpus does this).
      // Drop it — its members re-assign to the surviving centroids — with
      // the same guard the oracle's r2cn CTE carries.
      .filter($"cnorm" > 0d && !isnan($"cnorm") && $"cnorm" < Double.PositiveInfinity)
      // materialized (build-only, see buildBase): the refined-centroid
      // aggregate feeds two broadcasts + the write; the assignment
      // cross-join and the residual-subvector explode each feed three
      // consumers — un-checkpointed, every one re-ran the whole chain
      .localCheckpoint()
    val assigned = Similarity.assignTo(v, cents).localCheckpoint()
    val rsubs = Similarity.residualSubvectors(v, assigned, cents).localCheckpoint()
    val cb = Similarity.trainCodebooks(spark, rsubs).localCheckpoint()
    val codes = Similarity.pqEncode(rsubs, cb).join(assigned, Seq("vec_id"))
    val bands = Similarity.computeLshBuckets(spark, "embeddings")
    writeDelta(root, 1, "base") { tmp =>
      cents.write.parquet(s"$tmp/centroids")
      cb.write.parquet(s"$tmp/pq_codebooks")
      codes.write.partitionBy("cluster").parquet(s"$tmp/pq_codes")
      assigned.write.parquet(s"$tmp/assignments")
      bands.write.parquet(s"$tmp/lsh_bands")
    }
  }

  private[queries] def deltaPath(root: String, n: Int): String =
    s"$root/delta=${"%05d".format(n)}"

  private[queries] def writeDelta(root: String, n: Int, kind: String)
      (write: String => Unit): Unit = {
    Files.createDirectories(Paths.get(root))
    val tmp = Paths.get(root, f".tmp-delta-$n%05d")
    rmTree(tmp) // a crashed previous attempt must not poison the stage
    Files.createDirectories(tmp)
    write(tmp.toString)
    // manifest is written LAST inside the staging dir, then one atomic
    // rename publishes the whole delta
    val manifest =
      s"""{"format":$formatVersion,"delta":$n,"kind":"$kind",""" +
        s""""pqM":${Similarity.pqM},"pqK":${Similarity.pqK}}"""
    Files.write(tmp.resolve("_manifest.json"), manifest.getBytes("UTF-8"))
    Files.move(tmp, Paths.get(deltaPath(root, n)),
      StandardCopyOption.ATOMIC_MOVE)
  }

  private[queries] def rmTree(p: Path): Unit = {
    val f = p.toFile
    if (f.isDirectory) f.listFiles().foreach(c => rmTree(c.toPath))
    f.delete(); ()
  }

  /** Clone every published delta of `srcRoot` into `dstRoot` by hardlinking
    * the immutable artifact files (plain copy where the filesystem refuses
    * links, or any link attempt fails with an I/O error). Deltas are write-once — published by atomic rename, never
    * mutated; compaction only ever unlinks a root's OWN directory entries
    * and writes fresh files — so a link-clone is an exact, isolated index
    * snapshot (the LSM-store clone every segment/delta store offers). The
    * build-identical lifecycle tags (compacted / del / vac) clone the
    * shared standing+append root instead of re-running the identical
    * quantizer training + encode (measured 8-12 s of cold bench time per
    * tag), then apply their OWN lifecycle steps (delete / compact) for
    * real on the clone. */
  private[queries] def cloneDeltas(srcRoot: String, dstRoot: String): Unit = {
    def link(src: Path, dst: Path): Unit = {
      Files.createDirectories(dst)
      src.toFile.listFiles().foreach { f =>
        val d = dst.resolve(f.getName)
        if (f.isDirectory) link(f.toPath, d)
        else
          try { Files.createLink(d, f.toPath); () }
          catch { case _: UnsupportedOperationException | _: java.io.IOException =>
            Files.copy(f.toPath, d, StandardCopyOption.REPLACE_EXISTING); ()
          }
      }
    }
    Dirs.numericSuffixes(srcRoot, "delta=").foreach { n =>
      link(Paths.get(deltaPath(srcRoot, n)), Paths.get(deltaPath(dstRoot, n)))
    }
  }

  // -------------------------------------------------------------- compact

  private val CompactMarker = ".compact_swap"
  private val CompactTmp = ".tmp-compact"

  /** Fold every published delta into a single fresh base — the LSM
    * compaction of the index lifecycle ([[graft.streaming.StreamDriver.compact]]'s
    * discipline applied to the index store): after many daily appends the
    * per-delta directory listing and the per-artifact union grow with
    * append count, so a deployment periodically quiesces and folds.
    * Quantizers are FROZEN — compaction rewrites only the row tables
    * (assignments/codes/bands), so serving before and after is
    * bit-identical (AnnIndexSpec pins it).
    *
    * Crash-safe, one marker: the folded base is fully staged under
    * `.tmp-compact` (manifest last), the marker commits, the old deltas
    * are deleted, the staged dir renames to `delta=00001`, the marker
    * clears. [[recoverCompact]] completes either half; [[load]] calls it
    * first, so a reader never observes the torn middle. Quiesced-only
    * like the StreamDriver twin: no concurrent append. */
  def compact(spark: SparkSession, root: String): Unit = {
    recoverCompact(root)
    val deltas = Dirs.numericSuffixes(root, "delta=").sorted
    if (deltas.size <= 1) return
    // the fold writes the MASKED view: tombstoned rows are physically
    // dropped from every row table and the tombstone set is cleared —
    // deletion becomes erasure here, and serving stays bit-identical
    // because readers were already masking
    val idx = masked(load(spark, root))
    val tmp = Paths.get(root, CompactTmp)
    rmTree(tmp)
    Files.createDirectories(tmp)
    // full materialization BEFORE any delete: these frames read the very
    // directories the swap removes
    idx.centroids.write.parquet(s"$tmp/centroids")
    idx.codebooks.foreach(_.write.parquet(s"$tmp/pq_codebooks"))
    idx.assignments.write.parquet(s"$tmp/assignments")
    idx.codes.foreach(_.write.partitionBy("cluster").parquet(s"$tmp/pq_codes"))
    idx.bands.write.parquet(s"$tmp/lsh_bands")
    idx.bandsT1.foreach(_.write.parquet(s"$tmp/lsh_bands_t1"))
    // sq8 artifacts ride the fold too — a compaction that enumerated only
    // the PQ/LSH tables would silently DROP them from an sq8-carrying root
    idx.sq8Ranges.foreach(_.write.parquet(s"$tmp/sq8_ranges"))
    idx.sq8Codes.foreach(_.write.parquet(s"$tmp/sq8_codes"))
    val manifest =
      s"""{"format":$formatVersion,"delta":1,"kind":"base",""" +
        s""""compactedFrom":${deltas.max},""" +
        s""""pqM":${Similarity.pqM},"pqK":${Similarity.pqK}}"""
    Files.write(tmp.resolve("_manifest.json"), manifest.getBytes("UTF-8"))
    // commit point: from here the fold WILL complete (here or on recovery)
    Files.createFile(Paths.get(root, CompactMarker))
    swapCompact(root)
    loadedFrames.remove(root) // cached Frames hold pre-fold file listings
    ()
  }

  /** Complete a compaction that died after its commit point; discard a
    * stage that never committed. Idempotent. */
  def recoverCompact(root: String): Unit = {
    val marker = Paths.get(root, CompactMarker)
    val tmp = Paths.get(root, CompactTmp)
    if (Files.exists(marker)) { swapCompact(root); loadedFrames.remove(root); () }
    else if (Files.exists(tmp)) rmTree(tmp) // pre-commit crash: base intact
  }

  private def swapCompact(root: String): Unit = {
    val tmp = Paths.get(root, CompactTmp)
    // tmp still present = the old deltas are the PRE-fold ones: delete
    // them and move the staged base in. tmp gone = the rename already
    // happened (a crash between move and marker delete) — delta=00001 IS
    // the folded base, touch nothing but the marker.
    if (Files.exists(tmp)) {
      Dirs.numericSuffixes(root, "delta=")
        .foreach(d => rmTree(Paths.get(deltaPath(root, d))))
      Files.move(tmp, Paths.get(deltaPath(root, 1)), StandardCopyOption.ATOMIC_MOVE)
    }
    Files.deleteIfExists(Paths.get(root, CompactMarker))
    ()
  }

  // ----------------------------------------------------------------- load

  /** Load the index: quantizers from the base delta only (they are frozen
    * — appends never carry them), row artifacts from every published
    * delta. Incomplete deltas are invisible by construction (atomic
    * rename), so a reader racing a writer sees a consistent prefix. */
  def load(spark: SparkSession, root: String): Frames = {
    recoverCompact(root) // a reader must never observe a torn fold
    val deltas = Dirs.numericSuffixes(root, "delta=").sorted
    require(deltas.headOption.contains(1), s"no base delta under $root")
    val base = deltaPath(root, 1)
    val manifest = new String(
      Files.readAllBytes(Paths.get(base, "_manifest.json")), "UTF-8")
    require(manifest.contains(s""""format":$formatVersion"""),
      s"index format mismatch under $root: $manifest")
    // one read per delta, unioned by name: a multi-path read would treat
    // the delta=N dirs as one partitioned table and reject the layout
    // (each delta is its own partitioned root). Optional artifacts may be
    // absent from every delta (an IVF+LSH-only index) — presence is a
    // directory check, never a read error.
    def all(artifact: String): Option[DataFrame] = {
      val present = deltas.map(d => s"${deltaPath(root, d)}/$artifact")
        // a dir with no data files (an EMPTY append batch — a day with no
        // new vectors writes zero rows) is schemaless: reading it throws
        // UNABLE_TO_INFER_SCHEMA, so it contributes nothing instead. The
        // check recurses: partitioned artifacts (pq_codes) keep their data
        // files under cluster=*/ subdirs.
        .filter(Dirs.hasFileWithSuffix(_, ".parquet"))
      present.map(spark.read.parquet(_)).reduceOption(_.unionByName(_))
    }
    Frames(
      centroids = spark.read.parquet(s"$base/centroids"),
      codebooks =
        if (Files.isDirectory(Paths.get(s"$base/pq_codebooks")))
          Some(spark.read.parquet(s"$base/pq_codebooks"))
        else None,
      // the partition-column reader infers small longs as ints — restore
      // the cid domain's type before anything joins on it
      codes = all("pq_codes").map(_.withColumn("cluster", col("cluster").cast(LongType))),
      assignments = all("assignments").getOrElse(
        throw new IllegalStateException(s"index $root has no assignments")),
      bands = all("lsh_bands").getOrElse(
        throw new IllegalStateException(s"index $root has no lsh_bands")),
      bandsT1 = all("lsh_bands_t1"),
      sq8Ranges =
        if (Files.isDirectory(Paths.get(s"$base/sq8_ranges")))
          Some(spark.read.parquet(s"$base/sq8_ranges"))
        else None,
      sq8Codes = all("sq8_codes"),
      tombstones = all("tombstones"))
  }

  /** Loaded + masked frames for a root, cached once (deltas are immutable
    * while a session serves). Every entry scores through this, so a root
    * carrying tombstones can never leak a deleted row into serving. */
  private def frames(spark: SparkSession, root: String): Frames =
    masked(loadedFrames.getOrElseUpdate(root, load(spark, root)))

  // ---------------------------------------------------------------- score

  /** IVF×PQ scoring over a loaded index — [[Similarity.annIvfPq]]'s exact
    * arithmetic, but every data-side frame is a parquet scan of the index:
    * probes rank the persisted centroids (constant-size broadcast), the
    * query distance table multiplies query subvectors by the persisted
    * codebooks (constant-size broadcast), and the code scan is pruned to
    * the probed cells by the broadcast join on the PARTITION column. No
    * training operator can appear in this plan — the quantizers are data.
    */
  def scoreIvfPq(spark: SparkSession, sfDir: String, idx: Frames,
      nprobe: Int, k: Int = 3): DataFrame = {
    val probes = Similarity.probesTo(spark, sfDir, idx.centroids, nprobe)
    val qdist = Similarity.pqSubvectors(spark, sfDir)
      .filter(expr(Similarity.queryFilter))
      .join(broadcast(codebooksOf(idx)), Seq("m"))
      .select(col("vec_id").as("qid"), col("m"), col("cid"),
        Similarity.pqD2("sv", "cvec").cast(DecimalType(25, 12)).as("qd2"))
    codesOf(idx)
      .join(broadcast(probes), Seq("cluster"))
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(qdist), Seq("qid", "m", "cid"))
      .observe("ivfpq", count(lit(1)).as("adc_rows"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("qd2")).as("approx_d2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("approx_d2"), col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast(LongType).as("rank"),
        round(col("approx_d2"), 6).cast(DoubleType).as("approx_d2"))
  }

  /** Residual-ADC scoring over a residual index ([[buildResidualBase]]):
    * [[scoreIvfPq]]'s plan shape with ONE distance table per (query,
    * probed cell) — the query's residual differs per probed centroid, so
    * qdist keys on (qid, cluster, m, cid) and the ADC join carries the
    * cluster. The table stays a broadcast: Q₀ × nprobe × pqM × pqK rows,
    * corpus-size-free. Like the raw scorer, every data-side frame is a
    * parquet scan of the index — no training operator can appear. */
  def scoreIvfPqResidual(spark: SparkSession, sfDir: String, idx: Frames,
      nprobe: Int): DataFrame = {
    val probes = Similarity.probesTo(spark, sfDir, idx.centroids, nprobe)
    val qdist = Similarity
      .queryResidualSubvectors(spark, sfDir, idx.centroids, probes)
      .join(broadcast(codebooksOf(idx)), Seq("m"))
      .select(col("qid"), col("cluster"), col("m"), col("cid"),
        Similarity.pqD2("sv", "cvec").cast(DecimalType(25, 12)).as("qd2"))
    codesOf(idx)
      .join(broadcast(probes), Seq("cluster"))
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(qdist), Seq("qid", "cluster", "m", "cid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("qd2")).as("approx_d2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("approx_d2"), col("vec_id"))))
      .filter(col("rank") <= 3)
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast(LongType).as("rank"),
        round(col("approx_d2"), 6).cast(DoubleType).as("approx_d2"))
  }

  /** SQ8 asymmetric scoring: reconstruct each candidate from its persisted
    * 8-bit codes + the 1-row range table (recon_i = mn_i + code_i·(mx_i −
    * mn_i)/255) and rank by squared L2 of the EXACT normalized query
    * against the reconstruction. Both artifact frames are parquet scans of
    * the index; the query side is the usual Q₀-row broadcast; the d² fold
    * is one [[graft.plans.DotProduct]] call over the per-pair diff. This is
    * the faiss ScalarQuantizer(QT_8bit) arm of the encoding ladder: no
    * cell pruning at all (full scan, like the flat PQ arm) but the corpus
    * is touched through 1 byte/dim instead of 8 — the 8× scan-byte saving
    * with near-exact recall ([[Similarity.annRecallSq8]] gates it). */
  def scoreSq8(spark: SparkSession, sfDir: String, idx: Frames): DataFrame = {
    val qn = Similarity.vecs(spark, sfDir).filter(expr(Similarity.queryFilter))
      .withColumn("nrm", sqrt(col("norm_sq")))
      .select(col("vec_id").as("qid"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE) / nrm)").as("qembn"))
    // reconstruction depends on the VECTOR alone: hoist it above the
    // query cross-join or every query re-pays the 64-element zip+transform
    // per vector (nqueries× redundant — the gap between a 40-query fixture
    // and a production query stream). Values are bit-identical either way,
    // so the oracle replay is untouched.
    sq8CodesOf(idx)
      .crossJoin(broadcast(sq8RangesOf(idx)))
      .withColumn("recon", expr(
        "transform(arrays_zip(codes, mns, mxs), " +
          "s -> s.mns + (CAST(s.codes AS DOUBLE) * (s.mxs - s.mns)) / 255.0)"))
      .select(col("vec_id"), col("codes"), col("recon"))
      .crossJoin(broadcast(qn))
      .filter(col("vec_id") =!= col("qid"))
      // only same-width pairs live in one metric space. Without this, a
      // TRUNCATED vector (encoder failure) zip_with-pads to NULL, its d²
      // goes NULL, and Spark's NULLS-FIRST ascending rank would put the
      // garbage vector at the TOP of every query (DuckDB sorts NULLS
      // LAST — a silent cross-engine divergence the equal-width fixture
      // corpus never exercises; the adversarial spec does)
      .filter(size(col("codes")) === size(col("qembn")))
      .withColumn("diff", expr("zip_with(qembn, recon, (a, b) -> a - b)"))
      .select(col("qid"), col("vec_id"), expr("graft_dot(diff, diff)").as("approx_d2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("approx_d2"), col("vec_id"))))
      .filter(col("rank") <= 3)
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast(LongType).as("rank"),
        round(col("approx_d2"), 6).cast(DoubleType).as("approx_d2"))
  }

  /** SQ8 served from the shared "full" index — the same root every other
    * fused similarity entry scores from; the sq8 artifacts ride the same
    * delta protocol. */
  def annSq8(spark: SparkSession, sfDir: String): DataFrame =
    scoreSq8(spark, sfDir, served(spark, sfDir))

  private[queries] def sq8RangesOf(idx: Frames): DataFrame =
    idx.sq8Ranges.getOrElse(
      throw new IllegalStateException("index carries no SQ8 range table"))

  private[queries] def sq8CodesOf(idx: Frames): DataFrame =
    idx.sq8Codes.getOrElse(
      throw new IllegalStateException("index carries no SQ8 codes"))

  private[queries] def codebooksOf(idx: Frames): DataFrame =
    idx.codebooks.getOrElse(
      throw new IllegalStateException("index carries no PQ codebooks"))

  private[queries] def codesOf(idx: Frames): DataFrame =
    idx.codes.getOrElse(
      throw new IllegalStateException("index carries no PQ codes"))

  // -------------------------------------------------------------- entries

  /** Build-once registry: the first call per (session, sfDir, tag) trains
    * and writes the artifacts into a fresh per-session temp root; every
    * later call — including the second half of the spec's
    * build-once/query-twice contract — only reads. First touch is atomic
    * (graft.util.KeyedOnce, VERDICT r14 #4): concurrent first consumers
    * block on ONE training run instead of racing duplicate temp roots. */
  private val roots = new graft.util.KeyedOnce[(SparkSession, String, String), String]

  /** Loaded frames per root — the deltas are immutable once [[ensure]]
    * returns, so the directory listing + parquet reads happen once.
    * Plain TrieMap.getOrElseUpdate is fine HERE: load() only constructs
    * lazy frames (listing + plan, no job, no artifact written), so a
    * first-touch race costs a duplicate listing, nothing orphaned —
    * unlike [[ensure]]/Memo, which need [[graft.util.KeyedOnce]]. */
  private val loadedFrames = TrieMap.empty[String, Frames]

  /** The session's built index root for a tag, if any (spec seam). */
  private[queries] def rootOf(spark: SparkSession, sfDir: String,
      tag: String): Option[String] =
    roots.get((spark, sfDir, tag))

  private def ensure(spark: SparkSession, sfDir: String, tag: String)
      (build: String => Unit): String =
    roots((spark, sfDir, tag)) {
      val root = Files.createTempDirectory(s"graft-ann-$tag-").toString
      // the temp root stands in for a durable index path: it must outlive
      // every consumer in this session, but not the JVM — without this
      // hook each Verify/Bench/test run leaves its indexes in /tmp
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        rmTree(Paths.get(root))))
      build(root)
      root
    }

  /** THE serving path of the whole similarity family (VERDICT r11 #2): the
    * first consumer per (session, sfDir, table) trains and publishes the
    * index; every fused catalog entry — IVF, PQ, IVF×PQ, LSH (both plane
    * families), semantic dedup, the recall matrix — then scores from the
    * same persisted artifacts. There is no parallel in-session Memo
    * training path anymore; a query plan in this family that contains a
    * training operator is a bug (AnnIndexSpec pins it). */
  private[queries] def served(spark: SparkSession, sfDir: String,
      table: String = "embeddings"): Frames = {
    Fixtures.register(spark, sfDir)
    DotProduct.register(spark)
    val root = table match {
      case "embeddings" =>
        ensure(spark, sfDir, "full")(r =>
          buildBase(spark, sfDir, r, "true", withT1 = true, withSq8 = true))
      case "embeddings_aug" =>
        // the near-dup/semantic-dedup fixture corpus: IVF + LSH only (no
        // PQ consumer exists on this table)
        ensure(spark, sfDir, "aug")(r =>
          buildBase(spark, sfDir, r, "true", table = table, withPq = false))
      case other =>
        throw new IllegalArgumentException(s"no serving index for table $other")
    }
    frames(spark, root)
  }

  /** IVF×PQ served from the persisted index. Since round 12 the fused
    * [[Similarity.annIvfPq]] IS this path (the r11 unification) — the
    * separate catalog entry remains as the lifecycle's explicit name and
    * pins that build-once/serve-many and the query entry can never
    * diverge. */
  def annIvfPqPersisted(spark: SparkSession, sfDir: String): DataFrame =
    scoreIvfPq(spark, sfDir, served(spark, sfDir), Similarity.ivfPqNprobe)

  /** The shared standing+append root: base delta trained on the standing
    * corpus, the batch appended against the frozen quantizers. Four
    * lifecycle tags consume this same artifact state (incremental serves
    * it as-is; compacted / del / vac clone it and apply their own
    * delete/fold steps) — one training run per session instead of four
    * identical ones. */
  private def incrRoot(spark: SparkSession, sfDir: String): String =
    ensure(spark, sfDir, "incr") { r =>
      buildBase(spark, sfDir, r, standingPred)
      appendBatch(spark, sfDir, r, batchPred)
    }

  /** The daily-ingest lifecycle end to end: v1 trains quantizers on the
    * standing corpus and indexes it; the incoming batch is encoded against
    * the FROZEN persisted codebooks/centroids and appended as v2 (O(batch)
    * work — the standing corpus is never re-read); queries then score the
    * union. Recall drift under a frozen quantizer is what
    * [[Similarity.annRecallIvfPq]]'s harness would watch in production —
    * the re-train trigger. */
  def annIvfPqIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    Fixtures.register(spark, sfDir)
    DotProduct.register(spark)
    scoreIvfPq(spark, sfDir,
      frames(spark, incrRoot(spark, sfDir)), Similarity.ivfPqNprobe)
  }

  /** LSH candidate generation + exact re-rank over a loaded index's bands
    * — [[Similarity.annLsh]]'s arithmetic with the band table read from
    * the index artifacts. */
  private[queries] def scoreLsh(spark: SparkSession, sfDir: String, bands: DataFrame): DataFrame = {
    import spark.implicits._
    val v = Similarity.vecs(spark, sfDir)
    val qb = bands.filter(expr(Similarity.queryFilter))
      .select($"vec_id".as("qid"), $"bucket")
    val candidates = qb.join(bands, Seq("bucket"))
      .filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id")
    val qv = v.filter(expr(Similarity.queryFilter))
      .select($"vec_id".as("qid"), $"embedding".as("qemb"), $"norm_sq".as("qn"))
    Similarity.rerank(v, qv, candidates, 3)
  }

  /** The fold half of the lifecycle under the driver's differential gate:
    * base + append + COMPACT, then serve. Compaction rewrites only the row
    * tables against frozen quantizers, so the entry shares
    * [[annIvfPqIncrementalOracle]] verbatim — a fold that moves one ranked
    * pair is a gate failure, not merely a spec failure. */
  def annIvfPqCompacted(spark: SparkSession, sfDir: String): DataFrame = {
    Fixtures.register(spark, sfDir)
    DotProduct.register(spark)
    val root = ensure(spark, sfDir, "compacted") { r =>
      cloneDeltas(incrRoot(spark, sfDir), r)
      compact(spark, r)
    }
    scoreIvfPq(spark, sfDir,
      frames(spark, root), Similarity.ivfPqNprobe)
  }

  /** Residual-encoded IVF×PQ, served from its own persisted index root
    * (tag "resid"): the IVFADC composition as published — coarse-quantize,
    * PQ-encode the residual, rank by per-probed-cell distance tables.
    * Recall gain over raw encoding is gated next door
    * ([[Similarity.annRecallIvfPqResidual]]). */
  def annIvfPqResidual(spark: SparkSession, sfDir: String): DataFrame = {
    Fixtures.register(spark, sfDir)
    DotProduct.register(spark)
    val root = ensure(spark, sfDir, "resid")(r => buildResidualBase(spark, sfDir, r))
    scoreIvfPqResidual(spark, sfDir,
      frames(spark, root), Similarity.ivfPqNprobe)
  }

  /** The LSH half of the daily-ingest lifecycle: the incremental index's
    * band table is the standing corpus' bands PLUS the batch delta's —
    * and because the hyperplane family is a pure function of the vector
    * (no trained state to freeze), append ∪ base is EXACTLY the
    * full-corpus band table, so this scores identically to the fused
    * [[Similarity.annLsh]] (same oracle, by construction). The entry pins
    * that the append path cannot drift the LSH serving surface — the
    * band-table twin of [[annIvfPqIncremental]]'s frozen-quantizer
    * contract. */
  def annLshIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    Fixtures.register(spark, sfDir)
    DotProduct.register(spark)
    scoreLsh(spark, sfDir,
      frames(spark, incrRoot(spark, sfDir)).bands)
  }

  // -------------------------------------------------------------- oracles

  /** Oracle twin of the incremental lifecycle: codebooks and centroids
    * trained on the standing population only, ALL vectors encoded/assigned
    * against them (build ∪ append ≡ the full population — the append's
    * correctness contract), then the cell-restricted ADC ranking. Mirrors
    * [[Similarity.annIvfPqOracle]]'s chain with the training predicates
    * narrowed. `candPred` restricts the candidate population (the deleted
    * lifecycle's tombstone mask; `TRUE` for the plain incremental index —
    * deletion touches ONLY candidate membership, never the frozen
    * quantizers, and the oracle says so structurally). */
  private def incrementalOracle(candPred: String): String = {
    def d2(sv: String, cv: String): String =
      s"((${DotProduct.duckDot(sv, sv)} + ${DotProduct.duckDot(cv, cv)}) - " +
        s"(2.0 * ${DotProduct.duckDot(sv, cv)}))"
    val m = Similarity.pqM
    val sub = Similarity.pqSub
    val stride = Similarity.pqSeedStride
    val k = Similarity.pqK
    val nprobe = Similarity.ivfPqNprobe
    Fixtures.oracle(
      s""", pq_nrm AS MATERIALIZED (
         SELECT vec_id, embedding, SQRT(norm_sq) AS nrm
         FROM (SELECT vec_id, embedding,
                      ${DotProduct.duckDot("embedding", "embedding")} AS norm_sq
               FROM embeddings)
         WHERE norm_sq > 0 AND isfinite(norm_sq)),
       pq_subs AS MATERIALIZED (
         SELECT e.vec_id, CAST(t.m AS INT) AS m,
                list_transform(
                  e.embedding[(t.m * $sub + 1):(t.m * $sub + $sub)],
                  x -> CAST(x AS DOUBLE) / e.nrm) AS sv
         FROM pq_nrm e, UNNEST(range($m)) AS t(m)),
       pq_cb0 AS MATERIALIZED (
         SELECT m, vec_id AS cid, sv AS cvec FROM pq_subs
         WHERE vec_id % $stride = 5 AND vec_id < ${stride * k}
           AND ${standingPred}),
       pq_enc0 AS MATERIALIZED (
         SELECT vec_id, m, cid FROM (
           SELECT s.vec_id, s.m, b.cid,
                  ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                    ORDER BY ${d2("s.sv", "b.cvec")}, b.cid) AS rn
           FROM pq_subs s JOIN pq_cb0 b ON s.m = b.m
           WHERE s.${standingPred})
         WHERE rn = 1),
       pq_el AS MATERIALIZED (
         SELECT vec_id, m, CAST(t.i AS INT) AS idx, sv[t.i + 1] AS x
         FROM pq_subs, UNNEST(range($sub)) AS t(i)),
       pq_sums AS MATERIALIZED (
         SELECT el.m, e0.cid, el.idx, COUNT(1) AS n,
                SUM(CAST(CAST(el.x AS VARCHAR) AS DECIMAL(18,12))) AS sx
         FROM pq_el el
         JOIN pq_enc0 e0 ON el.vec_id = e0.vec_id AND el.m = e0.m
         GROUP BY 1, 2, 3),
       pq_cb AS MATERIALIZED (
         SELECT m, cid,
                list(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY idx) AS cvec
         FROM pq_sums GROUP BY 1, 2),
       pq_enc AS MATERIALIZED (
         SELECT vec_id, m, cid FROM (
           SELECT s.vec_id, s.m, b.cid,
                  ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                    ORDER BY ${d2("s.sv", "b.cvec")}, b.cid) AS rn
           FROM pq_subs s JOIN pq_cb b ON s.m = b.m)
         WHERE rn = 1),
       pq_qd AS MATERIALIZED (
         SELECT s.vec_id AS qid, s.m, b.cid,
                CAST(CAST(${d2("s.sv", "b.cvec")} AS VARCHAR) AS DECIMAL(25,12)) AS qd2
         FROM pq_subs s JOIN pq_cb b ON s.m = b.m
         WHERE ${Similarity.queryPred("s.vec_id")}),
       nrm AS MATERIALIZED (
         SELECT vec_id, norm_sq
         FROM (SELECT vec_id,
                      ${DotProduct.duckDot("embedding", "embedding")} AS norm_sq
               FROM embeddings) n
         WHERE norm_sq > 0 AND isfinite(norm_sq)),
       ${Similarity.centStrideCte(standingPred)},
       cents AS MATERIALIZED (
         SELECT vec_id AS cid, embedding AS cemb FROM embeddings
         WHERE vec_id % (SELECT stride FROM cstride)
             = 3 % (SELECT stride FROM cstride) AND ${standingPred}),
       cn AS MATERIALIZED (
         SELECT vec_id AS cid, norm_sq AS cnorm FROM nrm
         WHERE vec_id % (SELECT stride FROM cstride)
             = 3 % (SELECT stride FROM cstride) AND ${standingPred}),
       cdots AS MATERIALIZED (
         SELECT e.vec_id, c.cid,
                ${DotProduct.duckDot("e.embedding", "c.cemb")} AS dot
         FROM embeddings e CROSS JOIN cents c),
       assignments AS MATERIALIZED (
         SELECT vec_id, cid AS cluster
         FROM (SELECT d.vec_id, d.cid,
                      ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY
                        d.dot / (SQRT(n.norm_sq) * SQRT(c.cnorm)) DESC,
                        d.cid) AS rn
               FROM cdots d
               JOIN nrm n ON d.vec_id = n.vec_id
               JOIN cn c ON d.cid = c.cid) t
         WHERE rn = 1),
       probes AS MATERIALIZED (
         SELECT vec_id AS qid, cid AS cluster FROM (
           SELECT d.vec_id, d.cid,
                  ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY
                    d.dot / (SQRT(n.norm_sq) * SQRT(c.cnorm)) DESC,
                    d.cid) AS rn
           FROM cdots d
           JOIN nrm n ON d.vec_id = n.vec_id
           JOIN cn c ON d.cid = c.cid
           WHERE ${Similarity.queryPred("d.vec_id")}) t
         WHERE rn <= $nprobe),
       cand AS MATERIALIZED (
         SELECT q.qid, a.vec_id
         FROM probes q JOIN assignments a
           ON q.cluster = a.cluster AND a.vec_id != q.qid
         WHERE $candPred),
       adc AS (
         SELECT cand.qid, c.vec_id, SUM(q.qd2) AS approx_d2
         FROM cand
         JOIN pq_enc c ON c.vec_id = cand.vec_id
         JOIN pq_qd q ON q.qid = cand.qid AND c.m = q.m AND c.cid = q.cid
         GROUP BY 1, 2),
       ranked AS (
         SELECT qid, vec_id, approx_d2,
                ROW_NUMBER() OVER (PARTITION BY qid ORDER BY approx_d2, vec_id) AS rank
         FROM adc)
       SELECT qid AS query_id, vec_id AS neighbor_id,
              CAST(rank AS BIGINT) AS rank,
              CAST(ROUND(approx_d2, 6) AS DOUBLE) AS approx_d2
       FROM ranked WHERE rank <= 3""")
  }

  val annIvfPqIncrementalOracle: String = incrementalOracle("TRUE")

  /** The erasure set of the deleted/vacuumed entries: a deterministic
    * 1-in-11 slice that hits BOTH index populations (standing `%7!=0` and
    * appended `%7=0` ids), so the tombstone mask is exercised across
    * deltas, and overlaps the query set (`%50=0`), pinning the external-
    * query semantic: a deleted vector stops being a CANDIDATE but an
    * incoming query equal to it still gets answered. */
  private[queries] val deletedPred = "vec_id % 11 = 3"

  val annIvfPqDeletedOracle: String = incrementalOracle(s"NOT (a.$deletedPred)")

  /** The deletion leg of the lifecycle under the differential gate:
    * build(standing) → append(batch) → delete(1-in-11) → serve. The oracle
    * is the incremental oracle with ONLY the candidate population masked —
    * quantizers, probes, and distance tables are structurally identical,
    * which is the whole deletion contract (tombstones remove rows, not
    * statistics). */
  def annIvfPqDeleted(spark: SparkSession, sfDir: String): DataFrame = {
    Fixtures.register(spark, sfDir)
    DotProduct.register(spark)
    val root = ensure(spark, sfDir, "del") { r =>
      cloneDeltas(incrRoot(spark, sfDir), r)
      deleteIds(spark, r,
        spark.table("embeddings").filter(expr(deletedPred)).select("vec_id"))
    }
    scoreIvfPq(spark, sfDir, frames(spark, root), Similarity.ivfPqNprobe)
  }

  /** The vacuum: delete then COMPACT, so the tombstoned rows are
    * physically gone from the folded base (the erasure guarantee, scoped
    * to this index root — after the fold no artifact under `vac`'s root
    * holds a byte of the deleted vectors; AnnIndexSpec pins it by reading
    * the folded tables raw). The root starts as a hardlink clone of the
    * shared standing+append root ([[cloneDeltas]]), which still links the
    * original files, so the bytes stay reachable on disk through that
    * root until it is released too. Shares
    * [[annIvfPqDeletedOracle]] verbatim: physical removal must not move a
    * single ranked pair relative to the masked view. */
  def annIvfPqVacuumed(spark: SparkSession, sfDir: String): DataFrame = {
    Fixtures.register(spark, sfDir)
    DotProduct.register(spark)
    val root = ensure(spark, sfDir, "vac") { r =>
      cloneDeltas(incrRoot(spark, sfDir), r)
      deleteIds(spark, r,
        spark.table("embeddings").filter(expr(deletedPred)).select("vec_id"))
      compact(spark, r)
    }
    scoreIvfPq(spark, sfDir, frames(spark, root), Similarity.ivfPqNprobe)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_ann_ivfpq_persisted" -> (annIvfPqPersisted _),
    "sim_ann_ivfpq_incremental" -> (annIvfPqIncremental _),
    "sim_ann_ivfpq_compacted" -> (annIvfPqCompacted _),
    "sim_ann_ivfpq_residual" -> (annIvfPqResidual _),
    "sim_ann_lsh_incremental" -> (annLshIncremental _),
    "sim_ann_ivfpq_deleted" -> (annIvfPqDeleted _),
    "sim_ann_ivfpq_vacuumed" -> (annIvfPqVacuumed _))

  val oracles: Map[String, String] = Map(
    // identical semantics to the fused entry by construction — build-once /
    // query-forever must not change a single ranked pair
    "sim_ann_ivfpq_persisted" -> Similarity.annIvfPqOracle,
    "sim_ann_ivfpq_incremental" -> annIvfPqIncrementalOracle,
    // a fold rewrites row tables only; serving must be bit-identical to
    // the unfolded incremental index
    "sim_ann_ivfpq_compacted" -> annIvfPqIncrementalOracle,
    "sim_ann_ivfpq_residual" -> Similarity.annIvfPqResidualOracle,
    // base ∪ append ≡ the full band table (no trained state in LSH), so
    // the incremental serving surface shares the fused entry's oracle
    "sim_ann_lsh_incremental" -> Similarity.annLshOracle,
    "sim_ann_ivfpq_deleted" -> annIvfPqDeletedOracle,
    // physical removal at the fold must serve bit-identically to the mask
    "sim_ann_ivfpq_vacuumed" -> annIvfPqDeletedOracle)
}
