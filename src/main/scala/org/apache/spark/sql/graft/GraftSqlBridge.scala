package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Package-injection bridge: `Dataset.ofRows` is `private[sql]`, and a
  * library registering its own logical plans needs exactly that one
  * constructor. Declaring this object under `org.apache.spark.sql`
  * (the standard extension-library technique) exposes it to the graft
  * operators without touching any other internal API. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The Catalyst expression behind a `Column` (converted, so a sort
    * column comes back as a `SortOrder`), and a `Column` over a
    * Catalyst expression — for operators that build expressions the
    * Column API does not offer ([[graft.functions.GlobalRank]]'s fixed
    * range buckets). */
  def expression(spark: SparkSession, c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)

  /** `spark_catalog`: the name a 3-part identifier gives the session
    * catalog. */
  val SessionCatalogName: String =
    org.apache.spark.sql.connector.catalog.CatalogManager.SESSION_CATALOG_NAME

  /** ANSI-mode cast regardless of the session's `spark.sql.ansi.enabled`
    * — SQL INSERT's store-assignment coercion must FAIL on a value the
    * target type cannot represent ('abc' → INT, numeric overflow), not
    * commit NULL or a wrapped value silently, and the session default
    * (legacy) would do exactly that. */
  def ansiCast(c: org.apache.spark.sql.Column,
               dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode}
    classic.ExpressionUtils.column(
      Cast(classic.ExpressionUtils.expression(c), dt, None, EvalMode.ANSI))
  }

  /** Catalyst's size estimate for the frame (optimizer plan
    * statistics, bytes of the IN-MEMORY representation) — the input to
    * write right-sizing without executing anything. */
  def planSizeBytes(df: DataFrame): BigInt =
    df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.optimizedPlan.stats.sizeInBytes

  /** Re-root a computed batch frame as a STREAMING leaf
    * (`isStreaming=true`) — the v1 `Source.getBatch` contract
    * (MicroBatchExecution asserts it; Delta's source satisfies it the
    * same way via `DeltaLog.createDataFrame`). The underlying
    * `RDD[InternalRow]` is taken lazily from the frame's physical plan,
    * so the batch stays fully distributed. */
  def streamingFrame(spark: SparkSession, df: DataFrame): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val cdf = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    cs.internalCreateDataFrame(cdf.queryExecution.toRdd, df.schema,
      isStreaming = true)
  }

  /** The inverse of [[streamingFrame]]: re-root a microbatch's
    * STREAMING frame as a batch one so a `Sink.addBatch` body can
    * drive normal batch writers (`DataFrameWriter` refuses streaming
    * plans). Same technique as Delta's sink — the physical plan is
    * taken as-is, fully distributed, no materialization on the
    * driver. */
  def batchFrame(spark: SparkSession, df: DataFrame): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val cdf = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    cs.internalCreateDataFrame(cdf.queryExecution.toRdd, df.schema,
      isStreaming = false)
  }
}
