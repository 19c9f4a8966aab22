package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.Path

/** Catalog layer (S7–S9): maps the reference's 3-level Unity Catalog
  * namespace `cars_catalog.gold.<table>` onto the engine's SQL name
  * registry ([[graft.sql.TxLogSql.register]]) as `gold.<table>`
  * (SURVEY §4.3), with TxLog-backed transactional tables under a
  * warehouse root.
  *
  * `CREATE CATALOG cars_catalog` / `CREATE SCHEMA …` in the reference
  * (`db_notebook.ipynb:39,78,101`) become `CREATE DATABASE IF NOT
  * EXISTS`; `spark.catalog.tableExists('cars_catalog.gold.dim_branch')`
  * (`gold_dim_branch.ipynb:43065`) keeps its exact role as the
  * initial-vs-incremental gate (S8) through [[tableExists]], which asks
  * the transaction log.
  *
  * Storage: every gold table is a [[TxLog]] table — the same log-based
  * commit protocol (rename-if-absent manifests, snapshot isolation,
  * time travel, vacuum) the reference gets from Delta
  * (`gold_dim_branch.ipynb:88162-88175` writes `format('delta')`).
  * The initial load commits a single-dir snapshot; each SCD1 merge
  * rewrites only the dirs holding matched rows, adds one dir, and
  * commits nothing when its batch is empty (a watermark-filtered
  * replay). SQL reads `gold.<table>` as the current snapshot, resolved
  * at analysis time, so no commit has a registration to keep current.
  */
final case class GoldCatalog(spark: SparkSession, warehouse: String) {

  def ensureDatabases(): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS silver")
    spark.sql("CREATE DATABASE IF NOT EXISTS gold")
  }

  def tablePath(db: String, table: String): String = s"$warehouse/$db/$table"

  /** The transaction log backing a gold table. */
  def txlog(db: String, table: String): TxLog =
    TxLog(spark, tablePath(db, table))

  /** S8 — existence probe: a committed TxLog version. (The log is the
    * durable truth, as with the reference's Delta tables; the SQL name
    * registry is per-JVM.) */
  def tableExists(db: String, table: String): Boolean =
    txlog(db, table).exists()

  /** S6 — managed-table sink with external path: an overwrite-style
    * TxLog commit, with `db.table` registered so SQL sees
    * `gold.dim_branch`. */
  def saveAsTable(df: DataFrame, db: String, table: String): Unit = {
    txlog(db, table).overwrite(df)
    register(db, table)
  }

  /** SCD1 MERGE commit against the current snapshot (O1/O2). */
  def mergeInto(db: String, table: String, src: DataFrame,
                keys: Seq[String]): Unit = {
    txlog(db, table).merge(src, keys)
    register(db, table)
  }

  /** Make `db.table` addressable in SQL — SELECT, time travel and the
    * DML / DDL strings all resolve it to the table's transaction log,
    * reading whatever version is current at analysis time. Runs no
    * Spark job. */
  def register(db: String, table: String): Unit =
    graft.sql.TxLogSql.register(s"$db.$table", txlog(db, table))

  /** S9 — catalog table scan: snapshot-isolated read of the latest
    * committed version. */
  def table(db: String, table: String): DataFrame =
    txlog(db, table).snapshot()

  /** Historical read — the reference's `VERSION AS OF` time travel. */
  def tableAt(db: String, table: String, version: Long): DataFrame =
    txlog(db, table).snapshot(version)

  /** S7 — DROP TABLE IF EXISTS (reference `drop table.ipynb:24-32`):
    * unregister and remove data + log. */
  def dropTable(db: String, table: String): Unit = {
    graft.sql.TxLogSql.unregister(s"$db.$table")
    val p = new Path(tablePath(db, table))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}
