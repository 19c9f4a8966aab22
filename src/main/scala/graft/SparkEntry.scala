package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see SURVEY.md §7.
  *
  * The engine's declared query surface: one entry per implemented
  * operator from SURVEY §2 (parity packs) plus the large-scale
  * training-data extensions (dedup / similarity / text / events packs).
  * Each query runs against the driver's sf-dir parquet tables; the
  * paired DuckDB oracle SQL (when SQL-expressible) is the correctness
  * gate.
  */
object SparkEntry {

  def packs: Seq[Q] =
    ParityQueries.all ++ MergeQueries.all ++ AnalyticsQueries.all ++
      JoinSetQueries.all ++ FuncQueries.all ++ EventQueries.all ++
      TextQueries.all ++ DedupQueries.all ++ VectorQueries.all ++
      MultimodalQueries.all ++ CurationQueries.all ++ ScaleQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Star-style revenue rollup — the reference's core analytical shape
    * (fact ⟕ dims → aggregate). */
  def entry(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val li = Tables.load(spark, dir, "lineitem")
    // No broadcast hint: orders grows with sf, so the planner must pick the
    // strategy from statistics (broadcast at this scale, SMJ beyond threshold).
    val o = Tables.load(spark, dir, "orders")
    li.join(o, li("l_orderkey") === o("o_orderkey"), "left")
      .groupBy(col("o_orderstatus"))
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] =
    packs.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap
}
