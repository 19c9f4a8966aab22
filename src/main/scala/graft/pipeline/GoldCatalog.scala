package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.Path

/** Catalog layer (S7–S9): maps the reference's 3-level Unity Catalog
  * namespace `cars_catalog.gold.<table>` onto Spark's 2-level session
  * catalog as database `gold` (SURVEY §4.3), with TxLog-backed
  * transactional tables under a warehouse root.
  *
  * `CREATE CATALOG cars_catalog` / `CREATE SCHEMA …` in the reference
  * (`db_notebook.ipynb:39,78,101`) become `CREATE DATABASE IF NOT
  * EXISTS`; `spark.catalog.tableExists('cars_catalog.gold.dim_branch')`
  * (`gold_dim_branch.ipynb:43065`) keeps its exact role as the
  * initial-vs-incremental gate (S8).
  *
  * Storage: every gold table is a [[TxLog]] table — the same log-based
  * commit protocol (rename-if-absent manifests, snapshot isolation,
  * time travel, vacuum) the reference gets from Delta
  * (`gold_dim_branch.ipynb:88162-88175` writes `format('delta')`).
  * The initial load commits a single-dir snapshot; each SCD1 merge
  * rewrites only the dirs holding matched rows, adds one dir, and
  * commits nothing when its batch is empty (a watermark-filtered
  * replay). SQL registration points `gold.<table>` at the current
  * snapshot and is re-pointed after each commit.
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
    * durable truth, as with the reference's Delta tables; catalog
    * registration is session-scoped.) */
  def tableExists(db: String, table: String): Boolean =
    txlog(db, table).exists()

  /** S6 — managed-table sink with external path: an overwrite-style
    * TxLog commit + session-catalog registration so SQL sees
    * `gold.dim_branch`. */
  def saveAsTable(df: DataFrame, db: String, table: String): Unit = {
    txlog(db, table).overwrite(df)
    register(db, table)
  }

  /** SCD1 MERGE commit against the current snapshot (O1/O2), then
    * re-point the SQL registration at the new snapshot. */
  def mergeInto(db: String, table: String, src: DataFrame,
                keys: Seq[String]): Unit = {
    txlog(db, table).merge(src, keys)
    register(db, table)
  }

  /** Register `db.table` over the CURRENT snapshot. A single-dir
    * snapshot (the initial load) registers as a plain parquet LOCATION
    * table; a MULTI-dir snapshot (after a merge that inserted rows, or
    * an `append`) registers as a catalog VIEW over
    * [[TxLog.snapshotSql]] — SQL keeps resolving either way instead of
    * silently vanishing. */
  def register(db: String, table: String): Unit = {
    val log = txlog(db, table)
    val dirs = log.snapshotDataDirs()
    dropRegistration(db, table)
    if (dirs.length == 1)
      spark.sql(
        s"CREATE TABLE $db.$table USING parquet LOCATION '${dirs.head}'")
    else
      spark.sql(s"CREATE VIEW $db.$table AS ${log.snapshotSql()}")
    // SQL-DML face: `MERGE INTO gold.t` / UPDATE / DELETE / INSERT
    // strings route through the transaction log (the catalog relation
    // the analyzer resolves is traced back to its root by scan path),
    // and each SQL-committed version re-points this registration so a
    // subsequent SELECT through the catalog never reads a stale
    // pre-DML snapshot.
    graft.sql.TxLogSql.register(s"$db.$table", log)
    graft.sql.TxLogSql.onCommit(s"$db.$table", () => register(db, table))
  }

  /** Drop whatever registration `db.table` currently has — DROP VIEW
    * and DROP TABLE each throw on the other object type, so the drop
    * must be type-aware. */
  private def dropRegistration(db: String, table: String): Unit =
    if (spark.catalog.tableExists(s"$db.$table")) {
      val kind = spark.catalog.getTable(db, table).tableType
      if (kind == "VIEW") spark.sql(s"DROP VIEW $db.$table")
      else spark.sql(s"DROP TABLE $db.$table")
    }

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
    dropRegistration(db, table)
    graft.sql.TxLogSql.unregister(s"$db.$table")
    val p = new Path(tablePath(db, table))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}
