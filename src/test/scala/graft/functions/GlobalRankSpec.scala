package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The distributed two-phase global rank — the primitive under
  * surrogate keys, exact ntile, token sharding, context-window
  * packing, identity columns, and z-order codes. Randomized
  * equivalence against the ground truth (sorted index), across the
  * size/partition edges that break naive implementations. */
class GlobalRankSpec extends SparkTestBase {
  import spark.implicits._

  private val rnd = new scala.util.Random(11)

  test("rank equals the sorted index for random sizes and partition counts") {
    for (n <- Seq(1, 2, 7, 100, 4096); parts <- Seq(1, 3, 16, 64)) {
      val vals = Seq.fill(n)(rnd.nextInt(50)) // heavy duplicates
      val df = vals.zipWithIndex.toDF("v", "id").repartition(5)
      val got = GlobalRank.rowNumber(df, "r", parts, Seq(col("v"), col("id")))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      // ground truth: 1-based index in the (v, id) sort order
      val want = vals.zipWithIndex.sortBy(identity).zipWithIndex
        .map { case ((v, id), i) => (v, id, i + 1L) }
      assert(got.sortBy(x => (x._1, x._2)).toSeq ===
        want.sortBy(x => (x._1, x._2)).toSeq, s"n=$n parts=$parts")
    }
  }

  test("ranks are exactly 1..N in key order over a distinct() whose row order is not fixed") {
    // 20k (key, attribute) rows out of a distinct() over a 6-file input
    // (each row three times, spread across the files) — the shape of a
    // dimension's new rows: the aggregate's output row order changes
    // run to run, and 20k keys are far more than the range sampler
    // keeps per partition. The attribute column is not a sort column,
    // so the counts' plan and the row numbers' plan differ below the
    // partitioning: per-partition counts and row numbers drawn from
    // two separately sampled partition assignments would disagree here
    // and mint duplicate or missing ranks.
    val n = 20000
    val dir = tmpDir("globalrank_distinct")
    spark.range(0L, 3L * n, 1L, 6)
      .select(format_string("K%07d", col("id") * 7919 % n).as("k"))
      .withColumn("name", concat(lit("name of "), col("k")))
      .write.parquet(dir)
    val keys = spark.read.parquet(dir).distinct()
    val got = GlobalRank.rowNumber(keys, "r", 8, Seq(col("k")))
      .collect().map(r => (r.getString(0), r.getLong(2))).sortBy(_._2)
    assert(got.length === n)
    // ground truth: the i-th key in key order carries rank i + 1
    val wrong = got.indices.find(i => got(i) != (f"K$i%07d", i + 1L))
    assert(wrong.isEmpty, wrong.map(i => s"position $i of the rank order holds ${got(i)}"))
  }

  test("totalCol carries the exact row count on every row") {
    val df = spark.range(137).toDF("id")
    val out = GlobalRank.rowNumber(df, "r", 8, Seq(col("id")),
      totalCol = Some("total"))
    assert(out.select("total").distinct().collect().map(_.getLong(0)).toSeq
      === Seq(137L))
    assert(out.agg(max(col("r"))).head().getLong(0) === 137L)
  }

  test("column order of the input frame is preserved, internals dropped") {
    val df = Seq((1L, "a", 2.0)).toDF("x", "y", "z")
    val out = GlobalRank.rowNumber(df, "rank", 4, Seq(col("x")))
    assert(out.columns.toSeq === Seq("x", "y", "z", "rank"))
  }
}
