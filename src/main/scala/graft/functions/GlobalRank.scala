package graft.functions

import graft.functions.expressions.RangeBucket
import org.apache.spark.RangePartitioner
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.internal.SQLConf

/** Distributed EXACT global row_number over a total order — the
  * TeraSort-style two-phase rank:
  *
  *   1. one sampling job over the sort keys draws range bounds (the
  *      sampler of Spark's own range exchange, `RangePartitioner`) and
  *      FIXES them into a `range_bucket` column: every row's bucket is a
  *      pure function of its sort key, and each bucket holds a
  *      contiguous slice of the order,
  *   2. `row_number` WITHIN each bucket (parallel),
  *   3. add each bucket's exclusive prefix count, computed once over a
  *      `numParts`-row metadata frame and broadcast.
  *
  * Steps 2 and 3 both consume the bucketing, so it must be ONE
  * assignment. A range exchange under each consumer would sample its
  * own bounds — from input whose row order a preceding shuffle does not
  * fix, with a sampler seeded by RDD id — and the two could disagree:
  * counts from one partitioning, row numbers from another, duplicate and
  * missing ranks (seen on 20k-key dimensions). Fixed bounds make every
  * consumer, and every re-execution, agree; the bounds only decide how
  * evenly the buckets fill, never the ranks. The sampling job runs when
  * `rowNumber` is called.
  *
  * Spark's own `row_number().over(Window.orderBy(...))` funnels the
  * ENTIRE input through one task — the classic 100× scale failure.
  * Here the bucket window's hash exchange and the offsets' aggregate
  * stay fully parallel; the only partition-less window runs over the
  * `numParts`-row offsets aggregate, which is metadata, not data.
  *
  * `sortCols` must be a total order, or rank assignment on ties is
  * nondeterministic. Shared by surrogate-key generation
  * ([[graft.pipeline.DimensionBuilder]]) and the exact-ntile /
  * token-shard operators ([[graft.ops.CurationQueries]]).
  */
object GlobalRank {

  /** Window spec for a METADATA-sized frame (per-partition offsets,
    * small distinct lists), pinned to one partition by an explicit
    * constant-VALUED key: `pmod(xxhash64(key), 1)` is 0 for every row,
    * so execution is the same single partition a partition-less window
    * uses — but the partitionSpec is non-empty, so `WindowExec` does
    * not log its global-window warning and that warning stays a true
    * signal for ACCIDENTAL full-cardinality windows. (A literal key
    * doesn't work: Catalyst folds it away and the spec comes back
    * empty.) Only ever use this over aggregated/metadata cardinality. */
  def metaWindow(keyCol: Column): org.apache.spark.sql.expressions.WindowSpec =
    Window.partitionBy(pmod(xxhash64(keyCol), lit(1L)))

  /** Adds `outCol` = 1-based global rank of each row under `sortCols`.
    * When `totalCol` is set, also adds the total row count (derived
    * from the same per-bucket counts — no extra scan). Internal
    * columns are dropped; column order of `df` is preserved. */
  def rowNumber(df: DataFrame, outCol: String, numParts: Int,
                sortCols: Seq[Column], totalCol: Option[String] = None): DataFrame = {
    require(sortCols.nonEmpty, "GlobalRank.rowNumber needs at least one sort column")
    val bucketed = df.withColumn("__pid", rangeBucket(df, numParts, sortCols))
    val wOff = metaWindow(col("__pid")).orderBy(col("__pid"))
    val counts = bucketed.groupBy(col("__pid")).agg(count(lit(1)).as("__pn"))
    val offsets0 = counts
      .withColumn("__off", coalesce(sum(col("__pn")).over(
        wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val offsets = totalCol.fold(offsets0.select(col("__pid"), col("__off"))) { t =>
      offsets0.withColumn(t, sum(col("__pn")).over(
          wOff.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(col("__pid"), col("__off"), col(t))
    }
    val wLocal = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
    bucketed.withColumn("__rn", row_number().over(wLocal))
      .join(broadcast(offsets), "__pid")
      .withColumn(outCol, col("__off") + col("__rn"))
      .drop("__pid", "__rn", "__off")
  }

  /** Step 1: a [[RangeBucket]] column over `df` holding at most
    * `numParts` buckets, its bounds sampled now from `df`'s sort keys.
    * `sortCols` may carry sort directions and null orderings
    * (`col("x").desc`); the buckets follow them. */
  private def rangeBucket(df: DataFrame, numParts: Int, sortCols: Seq[Column]): Column = {
    val orders = sortCols.map(c => GraftSqlBridge.expression(df.sparkSession, c) match {
      case o: SortOrder => o
      case e => SortOrder(e, Ascending)
    })
    val keys = df.select(orders.zipWithIndex.map { case (o, i) =>
      GraftSqlBridge.column(o.child).as(s"__k$i") }: _*)
    implicit val ordering: Ordering[InternalRow] = new LazilyGeneratedOrdering(
      keys.schema.fields.toSeq.zip(orders).zipWithIndex.map { case ((f, o), i) =>
        SortOrder(BoundReference(i, f.dataType, f.nullable), o.direction,
          o.nullOrdering, Seq.empty)
      })
    val partitioner = new RangePartitioner(math.max(1, numParts),
      keys.queryExecution.toRdd.map(r => (r.copy(), null)),
      samplePointsPerPartitionHint = SQLConf.get.rangeExchangeSampleSizePerPartition)
    GraftSqlBridge.column(RangeBucket(orders.map(_.child), partitioner))
  }
}
