package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** S1/S3 — CSV parsing quirks + watermark/CDC semantics. The CSV
  * cases read the committed car-sales fixture
  * (`src/test/resources/carsales/`, FIXTURES.md §1), a stand-in built
  * to the shape of the reference's own CSVs. */
class IngestSpec extends SparkTestBase {

  test("CSV source: BOM header, quoted embedded commas, empty → null") {
    val raw = Ingest.readSalesCsv(spark, carsales("SalesData.csv"))
    assert(raw.count() === 1849)
    assert(raw.schema === Schemas.raw) // BOM did not corrupt the first column name
    // quoted field with comma survives as one value
    assert(Ingest.readSalesCsv(spark, carsales("IncrementalSales.csv"))
      .filter(col("DealerName") === "Fisker, Karma Motors").count() === 1)
    // empty DealerName fields arrive as null
    assert(raw.filter(col("DealerName").isNull).count() > 0)
  }

  test("bronze drops Product_Name (11 columns)") {
    val bronze = Ingest.toBronze(Ingest.readSalesCsv(spark, carsales("SalesData.csv")))
    assert(bronze.columns.length === 11)
    assert(!bronze.columns.contains("Product_Name"))
  }

  test("watermark filter keeps only rows strictly past the mark") {
    val raw = Ingest.readSalesCsv(spark, carsales("IncrementalSales.csv"))
    assert(Ingest.pastWatermark(raw, Some("DT01245")).count() === 4)
    assert(Ingest.pastWatermark(raw, Some("DT01246")).count() === 2)
    assert(Ingest.pastWatermark(raw, Some("DT01247")).count() === 0)
    assert(Ingest.pastWatermark(raw, None).count() === 4)
  }

  test("CDC ingest: update batch at the watermark loads only changed rows") {
    val root = tmpDir("ingest_cdc")
    val bronze = s"$root/bronze"
    // batch 1 (full): watermark None
    val wm1 = Ingest.ingest(spark, carsales("IncrementalSales.csv"), bronze, None)
    assert(wm1 === Some("DT01247"))
    assert(spark.read.parquet(bronze).count() === 4)
    // batch 2 re-uses DT01246-47: only the 3 changed rows load
    val wm2 = Ingest.ingest(spark, carsales("IncrementalSalesUpdate.csv"), bronze, wm1)
    assert(wm2 === Some("DT01247"))
    val b = spark.read.parquet(bronze)
    assert(b.count() === 3)
    assert(b.filter(col("DealerName").endsWith(" up")).count() === 3)
    // replaying batch 2: the 3 rows are now unchanged; only the XYZ row
    // (absent from current bronze) re-loads
    val wm3 = Ingest.ingest(spark, carsales("IncrementalSalesUpdate.csv"), bronze, wm2)
    assert(spark.read.parquet(bronze).count() === 1)
    // the mark must never regress, even when the batch holds only
    // rows below the old mark
    assert(wm3 === Some("DT01247"))
  }

  // One bronze-shaped row: key k at content version v. Date_ID/Year are
  // functions of k; DealerName carries the version so content changes
  // are visible to the bag difference.
  private type BRow = (String, String, String, Long, Long, String, Int, Int, Int, String, String)
  private def bRow(k: Int, v: Int): BRow =
    (s"B$k", s"D$k", s"M$k", 100L * k + v, k.toLong, f"DT$k%05d",
      k % 28 + 1, k % 12 + 1, 2020 + k % 3, s"Branch$k", s"Dealer$k-v$v")
  private def bDf(rows: Seq[BRow]) = {
    import spark.implicits._
    spark.createDataFrame(rows.toDF(Schemas.bronze.fieldNames.toSeq: _*).rdd,
      Schemas.bronze)
  }

  test("property: batch-bounded update path ≡ full-history bag difference on random batches") {
    val root = tmpDir("ingest_prop")
    val bronzePath = s"$root/bronze"
    val csvDir = s"$root/csv"
    val rnd = new scala.util.Random(7)
    // write a batch as CSV (the ingest source format)
    def writeCsv(rows: Seq[BRow], i: Int): String = {
      val p = s"$csvDir/batch$i"
      bDf(rows).withColumn("Product_Name", lit("pn"))
        .select(Schemas.raw.fieldNames.map(col).toSeq: _*)
        .write.mode("overwrite").option("header", true).csv(p)
      p
    }
    // the ROUND-3 reference semantics: bag difference against the FULL
    // pre-watermark bronze (what Ingest.ingest used to compute)
    def bagDiff(a: Seq[BRow], b: Seq[BRow]): Seq[BRow] = {
      val counts = scala.collection.mutable.Map.empty[BRow, Int]
      b.foreach(r => counts(r) = counts.getOrElse(r, 0) + 1)
      a.flatMap { r =>
        val c = counts.getOrElse(r, 0)
        if (c > 0) { counts(r) = c - 1; None } else Some(r)
      }
    }
    def referenceNext(prev: Seq[BRow], batch: Seq[BRow], w: Option[String]): Seq[BRow] =
      w match {
        case None => batch
        case Some(mark) =>
          val fresh = batch.filter(_._6 > mark)
          val changed = bagDiff(batch.filter(_._6 <= mark), prev.filter(_._6 <= mark))
          fresh ++ changed
      }
    var wm: Option[String] = None
    var prevBronze: Seq[BRow] = Seq.empty
    (0 until 5).foreach { i =>
      // random batch: random keys at random content versions (replays,
      // updates, and brand-new keys all occur)
      val keys = rnd.shuffle((1 to 20).toList).take(3 + rnd.nextInt(8))
      val batch = keys.map(k => bRow(k, rnd.nextInt(3)))
      val expected = referenceNext(prevBronze, batch, wm).sortBy(_.toString)
      wm = Ingest.ingest(spark, writeCsv(batch, i), bronzePath, wm)
      val got = Ingest.readBronze(spark, bronzePath).collect().map(r =>
        (r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4),
          r.getString(5), r.getInt(6), r.getInt(7), r.getInt(8), r.getString(9),
          r.getString(10))).toSeq.sortBy(_.toString)
      assert(got === expected, s"batch $i diverged from the full-history reference")
      // watermark follows max Date_ID seen, never regressing
      val batchMax = batch.map(_._6).max
      assert(wm === Some(Seq(Some(batchMax), wm).flatten.max))
      prevBronze = got
    }
  }

  test("update path's bronze scan is partition-pruned to the batch's years") {
    val root = tmpDir("ingest_prune")
    val bronzePath = s"$root/bronze"
    // bronze spanning 3 year partitions (keys 1..12 hit 2020/2021/2022)
    bDf((1 to 12).map(bRow(_, 0))).write.mode("overwrite")
      .partitionBy("Year").parquet(bronzePath)
    // a batch touching ONLY 2021 (keys ≡ 1 mod 3)
    val batchOld = bDf(Seq(bRow(1, 1), bRow(4, 1)))
    val ex = Ingest.existingForBatch(spark, bronzePath, batchOld, Seq(2021))
    val plan = ex.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("Year"), plan.take(1200))
    // sparkPlan, not executedPlan: AQE wraps the join in an adaptive
    // leaf node, hiding the scans from collectLeaves
    def files(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.sparkPlan.collectLeaves().map {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains("bronze")) =>
          f.selectedPartitions.totalNumberOfFiles
        case _ => 0L
      }.sum
    val full = Ingest.readBronze(spark, bronzePath)
    assert(files(ex) > 0 && files(ex) < files(full),
      s"pruned=${files(ex)} total=${files(full)}")
    // and the comparison itself is key-bounded + exact
    assert(ex.count() === 2)
  }

  test("watermark state round-trips") {
    val p = tmpDir("ingest_wm") + "/wm.txt"
    assert(Ingest.readWatermark(p).isEmpty)
    Ingest.writeWatermark(p, "DT01245")
    assert(Ingest.readWatermark(p) === Some("DT01245"))
  }

  test("observed metrics ride the write on BOTH ingest branches") {
    val root = tmpDir("ingest_obs")
    val bronze = s"$root/bronze"
    // full load: 4 rows, no null keys, watermark from the write job
    val (wm1, m1) = Ingest.ingestObserved(spark,
      carsales("IncrementalSales.csv"), bronze, None)
    assert(m1("n_rows") === 4L)
    assert(m1("null_Date_ID") === 0L)
    assert(m1("max_date_id") === "DT01247")
    assert(wm1 === Some("DT01247"))
    // incremental: only the 3 changed rows flow through the write, and
    // the metrics come from that same job — max over the WRITTEN rows
    // folded with the old mark is the watermark (no separate max scan)
    val (wm2, m2) = Ingest.ingestObserved(spark,
      carsales("IncrementalSalesUpdate.csv"), bronze, wm1)
    assert(m2("n_rows") === 3L)
    assert(m2("null_Date_ID") === 0L)
    assert(wm2 === Some("DT01247"))
  }
}
