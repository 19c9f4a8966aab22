package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** O1/O2 merge semantics — Delta `whenMatchedUpdateAll /
  * whenNotMatchedInsertAll` parity (SURVEY §2.3). */
class UpsertSpec extends SparkTestBase {
  import spark.implicits._

  private def target = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
    .toDF("k", "name", "v")

  test("matched rows update, unmatched target rows persist, new rows insert") {
    val src = Seq((2L, "b2", 21), (9L, "i", 90)).toDF("k", "name", "v")
    val out = Upsert.merge(target, src, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sortBy(_._1)
    assert(out === Array((1L, "a", 10), (2L, "b2", 21), (3L, "c", 30), (9L, "i", 90)))
  }

  test("target multiplicity preserved: two matched target rows both update") {
    val dupTarget = target.union(Seq((2L, "b_dup", 22)).toDF("k", "name", "v"))
    val src = Seq((2L, "upd", 99)).toDF("k", "name", "v")
    val out = Upsert.merge(dupTarget, src, Seq("k"))
    assert(out.count() === 4)
    assert(out.filter($"k" === 2L).collect().forall(r => r.getString(1) == "upd"))
  }

  test("strict mode rejects duplicate source keys (Delta parity)") {
    val src = Seq((2L, "x", 1), (2L, "y", 2)).toDF("k", "name", "v")
    val e = intercept[IllegalArgumentException] {
      Upsert.merge(target, src, Seq("k"))
    }
    assert(e.getMessage.contains("multiple rows"))
  }

  test("column-set mismatch is rejected") {
    val src = Seq((2L, "x")).toDF("k", "name")
    intercept[IllegalArgumentException] { Upsert.merge(target, src, Seq("k")) }
  }

  test("merge is idempotent: merging an already-applied batch changes nothing") {
    val src = Seq((2L, "b2", 21)).toDF("k", "name", "v")
    val once = Upsert.merge(target, src, Seq("k"))
    val twice = Upsert.merge(once, src, Seq("k"))
    assert(once.exceptAll(twice).count() === 0 && twice.exceptAll(once).count() === 0)
  }

  test("null source key never matches — inserts (reference `=` semantics)") {
    val src = Seq((Option.empty[Long], "n", 0)).toDF("k", "name", "v")
    val out = Upsert.merge(target, src, Seq("k"))
    assert(out.count() === 4)
    assert(out.filter($"k".isNull).count() === 1)
  }

  test("composite keys merge on the full conjunction") {
    val t2 = Seq((1L, 1L, "a"), (1L, 2L, "b")).toDF("k1", "k2", "v")
    val src = Seq((1L, 2L, "B"), (2L, 1L, "C")).toDF("k1", "k2", "v")
    val out = Upsert.merge(t2, src, Seq("k1", "k2")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(x => (x._1, x._2))
    assert(out === Array((1L, 1L, "a"), (1L, 2L, "B"), (2L, 1L, "C")))
  }

  test("partitioned merge equals the unpartitioned merge on random batches") {
    val rnd = new scala.util.Random(23)
    (1 to 5).foreach { trial =>
      val days = Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04")
      // day is a FUNCTION of the key — the documented precondition of
      // partition-pruned merging (a key can never "move" partitions,
      // as with event_date = date(hour_start) in the streaming gold)
      def frame(n: Int, keyLo: Int, keyHi: Int) =
        Seq.fill(n)((keyLo + rnd.nextInt(keyHi - keyLo), rnd.nextInt(1000)))
          .distinctBy(_._1)
          .map { case (k, v) =>
            (k.toLong, java.sql.Date.valueOf(days(k % days.length)), v) }
          .toDF("k", "day", "v")
      val tgt = frame(30, 0, 50)
      val src = frame(8, 25, 60)
      val path = tmpDir(s"upsert_part_$trial") + "/t"
      tgt.write.partitionBy("day").parquet(path)
      Upsert.mergeIntoPartitionedPath(spark, path, src, Seq("k"), "day")
      val got = spark.read.parquet(path).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[java.sql.Date]("day").toString,
          r.getAs[Int]("v"))).sortBy(_._1)
      // reference: plain in-memory merge, ignoring partition layout.
      // NOTE the partition column is part of the ROW — a merge that
      // moves a key to a new day must land it in the new day's dir.
      val want = Upsert.merge(tgt, src, Seq("k")).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[java.sql.Date]("day").toString,
          r.getAs[Int]("v"))).sortBy(_._1)
      assert(got === want, s"trial $trial")
    }
  }

  // --- SCD2 ---

  private def scd2Target = Seq(
    // one key with prior history: closed v1 + open v2
    (1L, "a_old", 9, "2023-01-01", Option("2024-01-01"), false),
    (1L, "a", 10, "2024-01-01", Option.empty[String], true),
    (2L, "b", 20, "2024-01-01", Option.empty[String], true),
    (3L, "c", 30, "2024-01-01", Option.empty[String], true))
    .toDF("k", "name", "v", "valid_from", "valid_to", "is_current")

  private def scd2Rows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3),
      Option(r.getString(4)), r.getBoolean(5)))
    .sortBy(t => (t._1, t._4))

  test("scd2: changed row closes old version and opens a new one") {
    val src = Seq((2L, "b2", 21)).toDF("k", "name", "v")
    val out = scd2Rows(Upsert.scd2Merge(scd2Target, src, Seq("k"), "2024-06-01"))
    assert(out.filter(_._1 == 2L) === Array(
      (2L, "b", 20, "2024-01-01", Some("2024-06-01"), false),
      (2L, "b2", 21, "2024-06-01", None, true)))
    // untouched keys (incl. pre-existing history) pass through verbatim
    assert(out.filter(_._1 != 2L) === scd2Rows(scd2Target).filter(_._1 != 2L))
  }

  test("scd2: identical source row is a no-op (no version churn)") {
    val src = Seq((2L, "b", 20)).toDF("k", "name", "v")
    val out = Upsert.scd2Merge(scd2Target, src, Seq("k"), "2024-06-01")
    assert(scd2Rows(out) === scd2Rows(scd2Target))
  }

  test("scd2: new key inserts a first open version") {
    val src = Seq((9L, "i", 90)).toDF("k", "name", "v")
    val out = scd2Rows(Upsert.scd2Merge(scd2Target, src, Seq("k"), "2024-06-01"))
    assert(out.filter(_._1 == 9L) === Array((9L, "i", 90, "2024-06-01", None, true)))
    assert(out.length === scd2Target.count() + 1)
  }

  test("scd2: re-applying the same batch changes nothing (idempotent)") {
    val src = Seq((2L, "b2", 21), (9L, "i", 90)).toDF("k", "name", "v")
    val once = Upsert.scd2Merge(scd2Target, src, Seq("k"), "2024-06-01")
    val twice = Upsert.scd2Merge(once, src, Seq("k"), "2024-06-01")
    assert(scd2Rows(once) === scd2Rows(twice))
  }

  test("scd2: null-valued attribute change is detected (null-safe compare)") {
    val src = Seq((2L, Option.empty[String], 20)).toDF("k", "name", "v")
    val out = scd2Rows(Upsert.scd2Merge(scd2Target, src, Seq("k"), "2024-06-01"))
    assert(out.filter(_._1 == 2L).map(t => (t._2, t._6)).toSet ===
      Set(("b", false), (null, true)))
  }

  test("scd2: strict mode rejects duplicate source keys") {
    val src = Seq((2L, "x", 1), (2L, "y", 2)).toDF("k", "name", "v")
    val e = intercept[IllegalArgumentException] {
      Upsert.scd2Merge(scd2Target, src, Seq("k"), "2024-06-01")
    }
    assert(e.getMessage.contains("multiple rows"))
  }

  test("scd2: source carrying bookkeeping columns is rejected") {
    val src = Seq((2L, "x", 1, true)).toDF("k", "name", "v", "is_current")
    intercept[IllegalArgumentException] {
      Upsert.scd2Merge(scd2Target, src, Seq("k"), "2024-06-01")
    }
  }

  test("overwriteAtomic swaps safely while the plan reads the target path") {
    val path = tmpDir("upsert_atomic") + "/t"
    target.write.parquet(path)
    val live = spark.read.parquet(path)
    val merged = Upsert.merge(live, Seq((1L, "a2", 11)).toDF("k", "name", "v"), Seq("k"))
    Upsert.overwriteAtomic(spark, merged, path)
    val after = spark.read.parquet(path)
    assert(after.count() === 3)
    assert(after.filter($"k" === 1L).head().getString(1) === "a2")
  }
}
