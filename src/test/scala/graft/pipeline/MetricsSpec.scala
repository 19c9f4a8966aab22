package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Observation-API metrics: counters ride the materializing job — and
  * the bronze full load's watermark now comes out of its own write. */
class MetricsSpec extends SparkTestBase {

  test("observed metrics equal direct recounts and ride the same action") {
    val df = spark.read.parquet(sf("0.001") + "/orders.parquet")
      .select(col("o_orderkey"),
        nullif(col("o_orderpriority"), lit("5-LOW")).as("prio"))
    val (observed, obs) = Metrics.observed(df, "orders_quality", Seq("prio"),
      extra = Seq(max(col("o_orderkey")).as("max_key")))
    val n = observed.count() // the action the metrics ride
    val m = obs.get
    assert(m("n_rows") === n)
    assert(m("null_prio") === df.filter(col("prio").isNull).count())
    assert(m("max_key") === df.agg(max(col("o_orderkey"))).head().getLong(0))
  }

  test("full-load ingest takes its watermark from the write's observation") {
    val bronze = tmpDir("metrics_bronze")
    val mark = Ingest.ingest(spark, carsales("SalesData.csv"), bronze, None)
    // same value the old separate max-scan produced
    val expected = Ingest.toBronze(
      Ingest.readSalesCsv(spark, carsales("SalesData.csv")))
      .agg(max("Date_ID")).head().getString(0)
    assert(mark === Some(expected))
    // and the write itself is intact (partitioned bronze readable)
    assert(spark.read.parquet(bronze).count() === 1849)
  }
}
