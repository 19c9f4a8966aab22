package graft.pipeline

import graft.SparkTestBase
import graft.pipeline.{MergeInto => M}
import org.apache.spark.sql.functions._

/** Full conditional MERGE ([[TxLog.mergeInto]]) — the Delta clause
  * surface: per-clause conditions, DELETE actions, NOT MATCHED BY
  * SOURCE, first-clause-wins ordering, the cardinality violation, and
  * the 100 TB commit shape (only dirs holding modified rows rewrite;
  * everything else carries). */
class TxLogMergeIntoSpec extends SparkTestBase {
  import spark.implicits._

  private def freshTable(name: String): TxLog = {
    val t = TxLog(spark, tmpDir(name))
    t.overwrite(Seq(
      (1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L))
      .toDF("k", "v", "amt"))
    t
  }

  test("conditional update / delete / insert fire per clause, in order") {
    val t = freshTable("mi_basic")
    val src = Seq(
      (1L, "upd", 100L),  // matched, amt>=100 → update
      (2L, "del", 5L),    // matched, amt<100  → delete
      (9L, "new", 99L))   // not matched       → insert
      .toDF("k", "v", "amt")
    val v = t.mergeInto(src, "t.k = s.k",
      matched = Seq(
        M.When(Some("s.amt >= 100"), M.Update(Seq("v" -> "s.v", "amt" -> "s.amt"))),
        M.When(None, M.Delete)),
      notMatched = Seq(M.When(None, M.InsertAll)))
    assert(v === 1L)
    val out = t.snapshot().orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(out === Seq(
      (1L, "upd", 100L), (3L, "c", 30L), (4L, "d", 40L), (9L, "new", 99L)))
    // time travel still sees the pre-merge table
    assert(t.snapshot(0L).count() === 4L)
  }

  test("first passing clause wins; assignments see both aliases and cast") {
    val t = freshTable("mi_order")
    val src = Seq((1L, "x", 7L)).toDF("k", "v", "amt")
    // both clauses match row 1 — the FIRST fires (update, not delete)
    t.mergeInto(src, "t.k = s.k",
      matched = Seq(
        M.When(Some("s.amt < 50"), M.Update(Seq("amt" -> "t.amt + s.amt"))),
        M.When(None, M.Delete)))
    val r1 = t.snapshot().filter(col("k") === 1L).head()
    assert(r1.getLong(2) === 17L) // 10 + 7, RHS mixed both aliases
    assert(r1.getString(1) === "a") // unassigned column carries
  }

  test("NOT MATCHED BY SOURCE: delete and conditional update (full sync)") {
    val t = freshTable("mi_nmbs")
    val src = Seq((1L, "keep", 10L), (2L, "keep", 20L)).toDF("k", "v", "amt")
    // rows 3,4 are target-only; delete those under 40, flag the rest
    t.mergeInto(src, "t.k = s.k",
      matched = Seq(M.When(None, M.Update(Seq("v" -> "s.v")))),
      notMatchedBySource = Seq(
        M.When(Some("t.amt < 40"), M.Delete),
        M.When(None, M.Update(Seq("v" -> "'orphan'")))))
    val out = t.snapshot().orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out === Seq((1L, "keep"), (2L, "keep"), (4L, "orphan")))
  }

  test("cardinality violation: two source rows modifying one target row fail") {
    val t = freshTable("mi_card")
    val dup = Seq((1L, "x", 1L), (1L, "y", 2L)).toDF("k", "v", "amt")
    val e = intercept[IllegalStateException](
      t.mergeInto(dup, "t.k = s.k",
        matched = Seq(M.When(None, M.Update(Seq("v" -> "s.v"))))))
    assert(e.getMessage.contains("cardinality violation"))
    // ...but duplicate matches where only ONE fires are legal
    t.mergeInto(dup, "t.k = s.k",
      matched = Seq(M.When(Some("s.v = 'y'"), M.Update(Seq("v" -> "s.v")))))
    assert(t.snapshot().filter(col("k") === 1L).head().getString(1) === "y")
  }

  test("only dirs holding modified rows rewrite; the rest carry with stats") {
    val root = tmpDir("mi_prune")
    val t = TxLog(spark, root, statsCols = Seq("k"))
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    t.append(Seq((10L, "x"), (11L, "y")).toDF("k", "v"))
    val dirsBefore = t.snapshotDataDirs().toSet
    assert(dirsBefore.size === 2)
    // touch only the appended dir's rows
    t.mergeInto(Seq((10L, "X")).toDF("k", "v"), "t.k = s.k",
      matched = Seq(M.When(None, M.Update(Seq("v" -> "s.v")))))
    val dirsAfter = t.snapshotDataDirs().toSet
    // the untouched dir carried; the touched dir was replaced
    val carried = dirsBefore.intersect(dirsAfter)
    assert(carried.size === 1)
    assert(t.snapshot().orderBy("k").collect().map(_.getString(1)).toSeq ===
      Seq("a", "b", "X", "y"))
    // carried stats still prune: a k=1 point read skips the new dir
    assert(t.snapshot().filter(col("k") === 1L).count() === 1L)
  }

  test("insert with explicit columns nulls the rest; no-op merge keeps version") {
    val t = freshTable("mi_insert")
    val v0 = t.currentVersion()
    // nothing matches, nothing fires → no-op, same version
    val vSame = t.mergeInto(Seq((1L, "a", 10L)).toDF("k", "v", "amt"),
      "t.k = s.k",
      matched = Seq(M.When(Some("s.amt > 1000"), M.Delete)))
    assert(vSame === v0)
    // explicit column-list insert: unlisted column becomes NULL
    t.mergeInto(Seq((7L, "seven", 0L)).toDF("k", "v", "amt"), "t.k = s.k",
      notMatched = Seq(
        M.When(None, M.Insert(Seq("k" -> "s.k", "v" -> "upper(s.v)")))))
    val r = t.snapshot().filter(col("k") === 7L).head()
    assert(r.getString(1) === "SEVEN")
    assert(r.isNullAt(2))
  }

  test("a CHECK constraint a writer introduces is validated on carried dirs") {
    val root = tmpDir("mi_check_carry")
    TxLog(spark, root).overwrite(Seq((-1L, "neg")).toDF("id", "v"))
    val strict = TxLog(spark, root, checkConstraints = Seq("pos" -> "id > 0"))
    // one valid row, inserted: the dir holding id = -1 only carries
    val e = intercept[IllegalStateException](
      strict.mergeInto(Seq((5L, "ok")).toDF("id", "v"), "t.id = s.id",
        matched = Seq(M.When(None, M.UpdateAll)),
        notMatched = Seq(M.When(None, M.InsertAll))))
    assert(e.getMessage.contains("pos"))
    intercept[IllegalStateException](
      strict.merge(Seq((5L, "ok")).toDF("id", "v"), Seq("id")))
    assert(strict.currentVersion() === 0L)
  }

  test("a NULL partition value leaves the new dir untagged; the table stays partitioned") {
    val t = TxLog(spark, tmpDir("mi_null_part"))
    t.overwritePartitioned(Seq((1L, "a", Option("d1")), (2L, "b", Option("d2")))
      .toDF("k", "v", "day"), "day")
    t.mergeInto(Seq((3L, "c", Option.empty[String])).toDF("k", "v", "day"), "t.k = s.k",
      matched = Seq(M.When(None, M.UpdateAll)),
      notMatched = Seq(M.When(None, M.InsertAll)))
    assert(t.partitionColumn() === Some("day"))
    assert(t.snapshot().orderBy("k").collect().map(_.getString(1)).toSeq ===
      Seq("a", "b", "c"))
    // the same through the SCD1 merge, updating the NULL-day row
    t.merge(Seq((3L, "C", Option.empty[String])).toDF("k", "v", "day"), Seq("k"))
    assert(t.partitionColumn() === Some("day"))
    assert(t.snapshot().orderBy("k").collect().map(_.getString(1)).toSeq ===
      Seq("a", "b", "C"))
  }

  test("validation: clause shapes, unknown columns, star coverage") {
    val t = freshTable("mi_validate")
    val src = Seq((1L, "x", 1L)).toDF("k", "v", "amt")
    // non-final clause must carry a condition
    assertThrows[IllegalArgumentException](
      t.mergeInto(src, "t.k = s.k", matched = Seq(
        M.When(None, M.Delete), M.When(None, M.Delete))))
    // unknown assignment target
    assertThrows[IllegalArgumentException](
      t.mergeInto(src, "t.k = s.k", matched = Seq(
        M.When(None, M.Update(Seq("nope" -> "1"))))))
    // INSERT * with a source missing target columns
    assertThrows[IllegalArgumentException](
      t.mergeInto(Seq(1L).toDF("k"), "t.k = s.k",
        notMatched = Seq(M.When(None, M.InsertAll))))
    // DELETE is not a NOT MATCHED action
    assertThrows[IllegalArgumentException](
      t.mergeInto(src, "t.k = s.k", notMatched = Seq(M.When(None, M.Delete))))
  }

  test("schema evolution: source-only columns join additively, Delta star contract") {
    val t = freshTable("mi_evolve")
    // source carries a NEW column `score` and LACKS target column `amt`
    val src = Seq((1L, "up", 0.5), (9L, "new", 0.9)).toDF("k", "v", "score")
    // without evolve the star shapes refuse (amt missing on the source)
    assertThrows[IllegalArgumentException](
      t.mergeInto(src, "t.k = s.k",
        matched = Seq(M.When(Some("s.score > 0"), M.UpdateAll)),
        notMatched = Seq(M.When(None, M.InsertAll))))
    t.mergeInto(src, "t.k = s.k",
      matched = Seq(M.When(Some("s.score > 0"), M.UpdateAll)),
      notMatched = Seq(M.When(None, M.InsertAll)), evolve = true)
    val out = t.snapshot().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSeq
    assert(out === Seq(
      (1L, "up", 10L, 0.5),   // UPDATE *: target-only amt KEPT, score set
      (2L, "b", 20L, -1.0),   // untouched rows read NULL for the new column
      (3L, "c", 30L, -1.0),
      (4L, "d", 40L, -1.0),
      (9L, "new", -1L, 0.9))) // INSERT *: target-only amt NULL, score set
    // time travel still reads the pre-evolution schema's data
    assert(t.snapshot(0L).columns.toSeq === Seq("k", "v", "amt"))
  }

  test("schema evolution: explicit assignment to a new column; carry dirs NULL-fill") {
    val root = tmpDir("mi_evolve_carry")
    val t = TxLog(spark, root, statsCols = Seq("k"))
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    t.append(Seq((10L, "x")).toDF("k", "v"))
    val dirsBefore = t.snapshotDataDirs().toSet
    // touch only row 10; assign the evolved column explicitly
    t.mergeInto(Seq((10L, 7L)).toDF("k", "flag"), "t.k = s.k",
      matched = Seq(M.When(None, M.Update(Seq("flag" -> "s.flag * 2")))),
      evolve = true)
    // the untouched dir carried physically — its rows NULL-fill `flag`
    assert(dirsBefore.intersect(t.snapshotDataDirs().toSet).size === 1)
    val out = t.snapshot().orderBy("k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(out === Seq((1L, -1L), (2L, -1L), (10L, 14L)))
    // without evolve the same assignment refuses as an unknown column
    assertThrows[IllegalArgumentException](
      t.mergeInto(Seq((1L, 1L)).toDF("k", "zzz"), "t.k = s.k",
        matched = Seq(M.When(None, M.Update(Seq("zzz" -> "s.zzz"))))))
  }

  test("SQL: MERGE WITH SCHEMA EVOLUTION on the conditional clause path") {
    val root = tmpDir("mi_evolve_sql")
    val t = TxLog(spark, root)
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    graft.sql.TxLogSql.register("mi_evolve_sql_t", t)
    Seq((2L, "B", "eu"), (3L, "C", "us")).toDF("k", "v", "region")
      .createOrReplaceTempView("mi_evolve_sql_s")
    spark.sql("""
      MERGE WITH SCHEMA EVOLUTION INTO mi_evolve_sql_t t
      USING mi_evolve_sql_s s ON t.k = s.k
      WHEN MATCHED AND s.region = 'eu' THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val out = spark.table("mi_evolve_sql_t").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) "-" else r.getString(2))).toSeq
    assert(out === Seq((1L, "a", "-"), (2L, "B", "eu"), (3L, "C", "us")))
    graft.sql.TxLogSql.unregister("mi_evolve_sql_t")
  }

  test("merge over a tombstoned dir sees only visible rows") {
    val t = freshTable("mi_tombs")
    t.deleteWhere("k = 2") // MoR tombstone, no rewrite
    // NMBS delete of everything unmatched: row 2 is already invisible
    // and must not resurrect
    t.mergeInto(Seq((1L, "a", 10L)).toDF("k", "v", "amt"), "t.k = s.k",
      matched = Seq(M.When(None, M.Update(Seq("v" -> "'hit'")))),
      notMatchedBySource = Seq(M.When(None, M.Delete)))
    val out = t.snapshot().collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out === Seq((1L, "hit")))
  }
}
