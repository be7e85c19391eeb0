package graft.streaming

import java.sql.{Connection, DriverManager}
import java.util.Properties

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SQL-dialect seam for the sink's single-statement upserts. The embedded
  * spec database (Derby, bundled with Spark) and the reference's production
  * target (Postgres, BASELINE's `pg` section; dao.ts:1840-1851 writes the
  * cursor as `INSERT ... ON CONFLICT ... DO UPDATE`) spell the same upsert
  * differently — Derby has no ON CONFLICT and uses SQL:2003 MERGE; Postgres
  * has both. The dialect is selected from the JDBC url, the generated SQL
  * for BOTH dialects is pinned verbatim in JdbcMultiTableSinkSpec, and the
  * Derby form is exercised live by every sink spec and the ingest bench. */
sealed abstract class JdbcUpsertDialect(val name: String) {
  /** The commit-marker table: one row, PRIMARY KEY so the upsert has a
    * conflict target. */
  def cursorCreate(table: String): String =
    s"CREATE TABLE $table (id INT PRIMARY KEY, batch_id BIGINT, block_number BIGINT)"

  /** Single-statement cursor upsert — insert the marker or advance it in
    * place. One statement ⇒ atomic under autocommit on both databases, so
    * the sink never needs the DELETE+INSERT window it used before. */
  def cursorUpsert(table: String, batchId: Long, endBlock: Long): String

  /** Prepared-statement insert that silently skips rows whose key already
    * exists — the reference's dimension upsert (`insertPoolKeyHash`,
    * dao.ts:1869-1893: `INSERT ... ON CONFLICT DO NOTHING`). Returns the
    * SQL and the bind order (column names, in `?` position order): the two
    * dialects place the key parameters differently, so callers bind by
    * this list, never by assumption. */
  def insertIgnore(table: String, cols: Seq[String], keyCols: Seq[String])
      : (String, Seq[String])
}

object JdbcUpsertDialect {

  /** The reference's production dialect (dao.ts:1840-1851, 1869-1893). */
  case object Postgres extends JdbcUpsertDialect("postgres") {
    def cursorUpsert(table: String, batchId: Long, endBlock: Long): String =
      s"INSERT INTO $table (id, batch_id, block_number) VALUES (0, $batchId, $endBlock) " +
        s"ON CONFLICT (id) DO UPDATE SET batch_id = EXCLUDED.batch_id, " +
        s"block_number = EXCLUDED.block_number"

    def insertIgnore(table: String, cols: Seq[String], keyCols: Seq[String])
        : (String, Seq[String]) = (
      s"INSERT INTO $table (${cols.mkString(", ")}) " +
        s"VALUES (${cols.map(_ => "?").mkString(", ")}) " +
        s"ON CONFLICT (${keyCols.mkString(", ")}) DO NOTHING",
      cols)
  }

  /** The embedded spec database: same upsert as SQL:2003 MERGE against the
    * one-row SYSIBM.SYSDUMMY1 source. */
  case object Derby extends JdbcUpsertDialect("derby") {
    def cursorUpsert(table: String, batchId: Long, endBlock: Long): String =
      s"MERGE INTO $table c USING SYSIBM.SYSDUMMY1 s ON c.id = 0 " +
        s"WHEN MATCHED THEN UPDATE SET batch_id = $batchId, block_number = $endBlock " +
        s"WHEN NOT MATCHED THEN INSERT (id, batch_id, block_number) " +
        s"VALUES (0, $batchId, $endBlock)"

    def insertIgnore(table: String, cols: Seq[String], keyCols: Seq[String])
        : (String, Seq[String]) = (
      s"MERGE INTO $table t USING SYSIBM.SYSDUMMY1 s " +
        s"ON ${keyCols.map(k => s"t.$k = ?").mkString(" AND ")} " +
        s"WHEN NOT MATCHED THEN INSERT (${cols.mkString(", ")}) " +
        s"VALUES (${cols.map(_ => "?").mkString(", ")})",
      keyCols ++ cols)
  }

  /** Url-based selection, the standard JDBC convention. Anything that is
    * not Postgres falls back to the SQL:2003 MERGE form (Derby, DB2, and
    * the other MERGE-speaking databases). */
  def of(url: String): JdbcUpsertDialect =
    if (url.startsWith("jdbc:postgresql:")) Postgres else Derby
}

/** Multi-table transactional JDBC sink — the drop-in analogue of the
  * reference's per-block DAO transaction, which writes ~24 fact tables plus
  * the cursor inside ONE Postgres transaction per block batch
  * (reference dao.ts:1895-2893, index.ts:195-257: `beginTransaction` →
  * per-processor inserts → `writeCursor` → `commitTransaction`).
  *
  * Spark's distributed JDBC writer cannot share one transaction across
  * executor connections, so the reference's atomicity is reproduced as
  * crash-consistent replay instead:
  *
  *   1. delete-own-batch across ALL fact tables — one driver connection,
  *      one transaction;
  *   2. append every fact frame — distributed, and the tables at the same
  *      time ([[CommitLegs]]): step 2 starts only after step 1 commits, and
  *      step 3 only after every append has finished. Each append runs one
  *      task, on its own connection, per partition of its frame;
  *      [[StreamDriver]] sizes a batch's frames by its rows
  *      ([[StreamDriver.RowsPerTask]]), so a live batch appends each table
  *      over one connection;
  *   3. write the cursor row LAST, in its own single-statement transaction.
  *
  * The cursor is the commit marker: it advances only after every fact table
  * holds the batch, so `cursor.batch_id >= b` ⟺ batch b is fully present.
  * A crash at any earlier point leaves orphan rows ABOVE the cursor, which
  * exactly mirrors the reference's restart contract ("endCursor is what we
  * write so when we restart we delete any pending data", index.ts:242-244):
  * [[repairAfterRestart]] deletes rows of any batch the cursor never
  * acknowledged, in one transaction, and the checkpoint replay then rewrites
  * the batch from scratch. Net observable behavior = per-batch atomicity.
  *
  * Reorg support (T3): [[retract]] deletes `block_number >= fromBlock` from
  * every fact table AND rolls the cursor back in ONE driver transaction —
  * the all-tables analogue of the reference's cascaded event_keys delete
  * (dao.ts:1543-1576).
  *
  * Works against any DriverManager-registered database; the spec runs on
  * Spark's bundled embedded Derby, production points at Postgres.
  *
  * @param url         JDBC url
  * @param tables      fact table names this sink owns (every write must
  *                    provide exactly these keys)
  * @param cursorTable single-row commit-marker table
  */
final class JdbcMultiTableSink(
    url: String,
    tables: Seq[String],
    cursorTable: String = "graft_cursor",
    connectionProperties: Properties = new Properties) {

  require(tables.nonEmpty, "sink needs at least one fact table")

  /** Url-selected upsert dialect (spec seam). */
  val dialect: JdbcUpsertDialect = JdbcUpsertDialect.of(url)

  /** Crash-consistent multi-table batch write. `frames` must cover exactly
    * the configured tables; each frame gains a `batch_id` column. `endBlock`
    * is the batch's high block number, recorded on the cursor. */
  def write(frames: Map[String, DataFrame], batchId: Long, endBlock: Long): Unit = {
    val missing = tables.filterNot(frames.contains)
    val extra = frames.keys.filterNot(tables.contains)
    require(missing.isEmpty && extra.isEmpty,
      s"frames must match configured tables (missing: $missing, extra: ${extra.toSeq})")

    // 1. one transaction: clear any partial copy of this batch everywhere
    withConnection { conn =>
      conn.setAutoCommit(false)
      tables.foreach { t =>
        executeIgnoringMissing(conn, s"""DELETE FROM $t WHERE "batch_id" = $batchId""")
      }
      conn.commit()
    }

    // 2. distributed appends, one leg per table, all at once — replay-safe
    // because step 1 reruns first
    CommitLegs.runAll(frames.head._2.sparkSession, tables.map { t => () =>
      frames(t).withColumn("batch_id", lit(batchId))
        .write.mode("append").jdbc(url, t, connectionProperties)
    })

    // 3. the commit marker, last: batch is now fully present everywhere.
    // One dialect-selected upsert statement (the reference's writeCursor
    // shape, dao.ts:1840-1851) — atomic on its own, no delete window.
    withConnection { conn =>
      if (!cursorCreated) { ensureCursorTable(conn); cursorCreated = true }
      executeIgnoringMissing(conn,
        dialect.cursorUpsert(cursorTable, batchId, endBlock))
    }
  }

  /** Set once this instance has created (or found) the cursor table, so a
    * batch does not re-issue the CREATE: on Postgres each repeat fails with
    * 42P07 and logs a server-side ERROR. Readers ([[cursor]],
    * [[repairAfterRestart]], [[retract]]) tolerate a missing table. */
  @volatile private var cursorCreated = false

  /** Dimension upsert — the other half of the reference's upsert surface
    * (`insertPoolKeyHash`, dao.ts:1869-1893: `INSERT ... ON CONFLICT DO
    * NOTHING` into `pool_keys`). The ingest pipeline already dedups
    * dimension rows Spark-side (S10's anti-join against the current dim),
    * but that read-then-write is only safe for a single writer; the
    * reference instead lets the DATABASE arbitrate, which stays correct
    * under batch replays and concurrent writers without re-reading the
    * dim. The write runs as one task on one connection: it binds the
    * dialect's prepared insert-ignore (bind ORDER comes from the dialect —
    * the two dialects place the key parameters differently) and executes
    * it in JDBC batches. The dim table must exist with a unique/PK
    * constraint on `keyCols` ([[ensureDimTable]]): Postgres's ON CONFLICT
    * needs the conflict target to be backed by one, so requiring it keeps
    * the two dialects semantically identical rather than
    * Derby-MERGE-lenient. */
  def writeDim(table: String, frame: DataFrame, keyCols: Seq[String],
      batchSize: Int = 1000): Unit = {
    val cols = frame.columns.toSeq
    require(keyCols.nonEmpty && keyCols.forall(cols.contains),
      s"keyCols $keyCols must be columns of the frame (${cols.mkString(",")})")
    val (sql, bindOrder) = dialect.insertIgnore(table, cols, keyCols)
    val bindIdx = bindOrder.map(cols.indexOf)
    val (u, p, bs) = (url, connectionProperties, batchSize)
    // one connection per dim write: dims are small, and concurrent
    // partitions running the same Derby MERGE on separate connections
    // share its cached plan, whose per-execution state
    // (`MatchingClauseConstantAction._actionRS`) one connection can clear
    // under another, failing the write with an NPE or a duplicate key
    // (never with Derby's statement cache off, or with one partition).
    // Keys go in ascending order, so two concurrent writers
    // inserting overlapping keys cannot deadlock (40P01 — observed on live
    // Postgres, whose pipelined batches hold row locks until the
    // transaction's Sync)
    frame.coalesce(1).sortWithinPartitions(keyCols.map(col): _*)
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        val conn = DriverManager.getConnection(u, p)
        try {
          val st = conn.prepareStatement(sql)
          try {
            var pending = 0
            rows.foreach { r =>
              bindIdx.zipWithIndex.foreach { case (src, i) =>
                st.setObject(i + 1, r.get(src))
              }
              st.addBatch()
              pending += 1
              if (pending >= bs) { st.executeBatch(); pending = 0 }
            }
            if (pending > 0) { st.executeBatch(); () }
          } finally st.close()
        } finally conn.close()
      }
    }
  }

  /** Create the dim table if missing: common-SQL DDL (both dialects) with
    * the PRIMARY KEY the insert-ignore's conflict target resolves against.
    * `cols` are (name, SQL type) pairs in table order. */
  def ensureDimTable(table: String, cols: Seq[(String, String)],
      keyCols: Seq[String]): Unit =
    withConnection { conn =>
      try {
        val st = conn.createStatement()
        try st.executeUpdate(
          s"CREATE TABLE $table (${cols.map { case (n, t) => s"$n $t" }.mkString(", ")}, " +
            s"PRIMARY KEY (${keyCols.mkString(", ")}))")
        finally st.close()
      } catch {
        case e: java.sql.SQLException
          if e.getSQLState == "X0Y32" || e.getSQLState == "42P07" => ()
      }
    }

  /** The last fully-committed (batchId, endBlock), if any batch completed. */
  def cursor(): Option[(Long, Long)] =
    withConnection { conn =>
      try {
        val st = conn.createStatement()
        try {
          val rs = st.executeQuery(
            s"SELECT batch_id, block_number FROM $cursorTable")
          if (rs.next()) Some((rs.getLong(1), rs.getLong(2))) else None
        } finally st.close()
      } catch {
        case e: java.sql.SQLException if tableMissing(e) => None
      }
    }

  /** Startup repair: delete every row belonging to a batch the cursor never
    * acknowledged (a crash between the appends and the cursor write), in one
    * transaction. The streaming checkpoint then replays that batch. */
  def repairAfterRestart(): Unit = {
    val acknowledged = cursor().map(_._1)
    withConnection { conn =>
      conn.setAutoCommit(false)
      val pred = acknowledged match {
        case Some(b) => s""""batch_id" > $b"""
        case None    => "1=1" // nothing acknowledged: every row is orphaned
      }
      tables.foreach { t =>
        executeIgnoringMissing(conn, s"DELETE FROM $t WHERE $pred")
      }
      conn.commit()
    }
  }

  /** Reorg retraction across every table plus cursor rollback, atomically:
    * a reader never observes retracted facts with an unretracted cursor. */
  def retract(fromBlock: Long): Unit =
    withConnection { conn =>
      conn.setAutoCommit(false)
      tables.foreach { t =>
        executeIgnoringMissing(conn,
          s"""DELETE FROM $t WHERE "block_number" >= $fromBlock""")
      }
      executeIgnoringMissing(conn,
        s"UPDATE $cursorTable SET block_number = ${fromBlock - 1} " +
          s"WHERE block_number >= $fromBlock")
      conn.commit()
    }

  private def withConnection[A](body: Connection => A): A = {
    val conn = DriverManager.getConnection(url, connectionProperties)
    try body(conn) finally conn.close()
  }

  private def ensureCursorTable(conn: Connection): Unit =
    try {
      val st = conn.createStatement()
      try st.executeUpdate(dialect.cursorCreate(cursorTable))
      finally st.close()
    } catch {
      // X0Y32 = Derby "already exists"; 42P07 = Postgres duplicate_table
      case e: java.sql.SQLException
        if e.getSQLState == "X0Y32" || e.getSQLState == "42P07" => ()
    }

  /** Missing tables are fine for deletes: first batch, nothing created yet
    * (the distributed append creates fact tables on first write). Inside an
    * explicit transaction the statement runs under a SAVEPOINT: Postgres —
    * unlike Derby — aborts the WHOLE transaction on any statement error
    * (25P02 `in_failed_sql_transaction` for everything after), so ignoring
    * a missing table mid-transaction requires rolling back to just before
    * the failed statement. Found by the live-PG run of this sink
    * (PgWireSpec); Derby's lenient per-statement recovery masked it. */
  private def executeIgnoringMissing(conn: Connection, sql: String): Unit = {
    // per-call unique name: ROLLBACK TO keeps the savepoint established on
    // both databases, and Derby refuses a second SAVEPOINT of the same name
    val sp = if (!conn.getAutoCommit)
      Some(conn.setSavepoint(s"graft_sp_${JdbcMultiTableSink.spSeq.incrementAndGet()}"))
    else None
    try {
      val st = conn.createStatement()
      try st.executeUpdate(sql)
      finally st.close()
      sp.foreach(conn.releaseSavepoint)
    } catch {
      case e: java.sql.SQLException if tableMissing(e) =>
        sp.foreach { s => conn.rollback(s); conn.releaseSavepoint(s) }
    }
  }

  /** 42X05 = Derby missing table; 42P01 = Postgres undefined_table. */
  private def tableMissing(e: java.sql.SQLException): Boolean =
    e.getSQLState == "42X05" || e.getSQLState == "42P01"
}

object JdbcMultiTableSink {
  /** Savepoint name sequence (names must be transaction-unique on Derby). */
  private[streaming] val spSeq = new java.util.concurrent.atomic.AtomicLong(0)
}
