package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Silver transform (R12): bronze + two derived columns.
  *
  * The reference's silver notebook is missing from the checkout
  * (`.MISSING_LARGE_BLOBS:1`); semantics are reconstructed from the gold
  * notebooks' embedded outputs (SURVEY §1.2):
  *   - model_category = split(Model_ID, '-')[0]
  *     (proof: `Mah-M167 → Mah` in `gold_dim_model.ipynb` cell 7 output;
  *     hyphen-less `ZYXM13` stays whole — Spark split returns the full
  *     string at index 0 when the delimiter is absent)
  *   - RevPerUnit = Revenue / Units_Sold, long/long → double
  *     (proof: 13363978/2 = 6681989.0 in `gold_fact_sales.ipynb` cell 9)
  *
  * Both are narrow, codegen'd projections — no shuffle at any scale.
  */
object Silver {

  def transform(bronze: DataFrame): DataFrame =
    bronze
      .withColumn("model_category", split(col("Model_ID"), "-").getItem(0))
      .withColumn("RevPerUnit", col("Revenue") / col("Units_Sold"))

  /** S5 — silver parquet sink, as the reference writes it: one plain
    * overwrite of one unpartitioned directory
    * (`df.write.mode("overwrite").parquet(path)`). Silver holds only the
    * current batch ([[SalesPipeline.run]] overwrites it on every run),
    * and its readers — the four dimension builds and the fact build —
    * scan all of it with no Year/Month predicate, so calendar dirs would
    * prune nothing, while each write task would open one file per
    * (Year, Month) it sees: 132 small files for a 100k-row load instead
    * of one per task. A deployment that wants calendar dirs writes
    * through [[graft.ops.Scale.writePartitioned]]. */
  def write(silver: DataFrame, path: String): Unit =
    silver.write.mode("overwrite").parquet(path)

  /** Read silver back in the reference's canonical 13-column order.
    * The schema is supplied explicitly: it pins the declared
    * [[Schemas.silver]] ordering and types rather than trusting the
    * files' footers, and it keeps the read independent of what a
    * zero-row batch (an already-seen batch replays to nothing) leaves
    * on disk to infer a schema from. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.silver).parquet(path)
      .select(Schemas.silver.fieldNames.map(col).toSeq: _*)
}
