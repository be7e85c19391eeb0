package graft.streaming

import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Relational sink leg for the streaming driver — the reference's stated
  * deployment is "Structured Streaming + JDBC sink to Postgres" (its dao
  * writes each block batch to Postgres inside one transaction,
  * index.ts:195-257). This is the `foreachBatch` JDBC writer a user plugs in
  * alongside (or instead of) the parquet fact store.
  *
  * Exactly-once under checkpoint replay, mirroring the parquet path's
  * dynamic partition overwrite: every row carries its `batch_id`, and a
  * batch write first deletes its own batch_id then appends. Delete + append
  * are not one transaction (the append runs distributed, one connection per
  * partition of the batch frame — [[StreamDriver]] sizes that frame by its
  * rows, so a live batch appends over one connection), but a crash between
  * them leaves a state the replay repairs — the delete runs again and the
  * append re-inserts the full batch.
  *
  * Reorg support (T3): [[retract]] deletes `block_number >= fromBlock`,
  * the JDBC analogue of the partition-pruned parquet rewrite (the reference
  * cascades deletes from event_keys, dao.ts:1543-1576).
  *
  * Works against any DriverManager-registered JDBC database; tests run on
  * Spark's bundled embedded Derby, production would point at Postgres.
  */
final class JdbcBatchSink(
    url: String,
    table: String,
    connectionProperties: Properties = new Properties) {

  /** Idempotent per-batch write: delete-own-batch, then append. Column
    * identifiers are quoted: Spark's JDBC writer creates them quoted
    * (case-sensitive), so an unquoted name would be case-folded away. */
  def write(batch: DataFrame, batchId: Long): Unit = {
    execute(s"""DELETE FROM $table WHERE "batch_id" = $batchId""",
      ignoreMissingTable = true)
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("append").jdbc(url, table, connectionProperties)
  }

  /** Reorg retraction: drop every row at or above the fork point. */
  def retract(fromBlock: Long): Unit =
    execute(s"""DELETE FROM $table WHERE "block_number" >= $fromBlock""",
      ignoreMissingTable = true)

  /** Run one statement on a fresh driver-side connection. A missing table is
    * fine when asked (first batch: the append below creates it; a retract
    * before any write has nothing to delete). */
  private def execute(sql: String, ignoreMissingTable: Boolean): Unit = {
    val conn = DriverManager.getConnection(url, connectionProperties)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(sql)
      finally st.close()
    } catch {
      case e: java.sql.SQLException if ignoreMissingTable &&
          tableMissing(e) => ()
    } finally conn.close()
  }

  /** 42X05 is the SQLSTATE for "table does not exist" (Derby/ANSI);
    * Postgres uses 42P01. Both are class 42 (syntax/access-rule). */
  private def tableMissing(e: java.sql.SQLException): Boolean =
    e.getSQLState == "42X05" || e.getSQLState == "42P01"
}
