package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Transaction-log table format: commit protocol, snapshot isolation /
  * time travel, SCD1 merge commits, optimistic-conflict retry, vacuum. */
class TxLogSpec extends SparkTestBase {
  import spark.implicits._

  private def fresh(name: String) = TxLog(spark, tmpDir(s"txlog_$name"))

  test("overwrite/append commits version and snapshot reads see them") {
    val t = fresh("basic")
    assert(!t.exists() && t.currentVersion() === -1L)
    val v0 = t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(v0 === 0L && t.currentVersion() === 0L)
    val v1 = t.append(Seq((3L, "c")).toDF("id", "v"))
    assert(v1 === 1L)
    assert(t.snapshot().count() === 3)
    // time travel: version 0 still reads the pre-append state
    assert(t.snapshot(0).count() === 2)
  }

  test("merge commit has SCD1 semantics and keeps time travel") {
    val t = fresh("merge")
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.merge(Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"))
    val rows = t.snapshot().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows === Map(1L -> "a", 2L -> "B", 3L -> "c"))
    // time travel across the merge
    val before = t.snapshot(t.currentVersion() - 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(before === Map(1L -> "a", 2L -> "b"))
  }

  test("merge into a partition-tagged table keeps its partition column") {
    val t = fresh("merge_part")
    t.overwritePartitioned(
      Seq((1L, "a", "d1"), (2L, "b", "d2")).toDF("id", "v", "day"), "day")
    t.merge(Seq((2L, "B", "d2"), (3L, "c", "d3")).toDF("id", "v", "day"), Seq("id"))
    assert(t.partitionColumn() === Some("day"))
    assert(t.partitionValues() === Seq("d1", "d2", "d3"))
    assert(t.snapshot().orderBy("id").collect().map(_.getString(1)).toSeq ===
      Seq("a", "B", "c"))
  }

  test("an insert-only merge carries the pre-merge dir") {
    val t = fresh("merge_insert_only")
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val before = t.snapshotDataDirs()
    t.merge(Seq((3L, "c")).toDF("id", "v"), Seq("id"))
    val after = t.snapshotDataDirs()
    assert(after.size === 2 && before.forall(after.contains))
    assert(t.snapshot().orderBy("id").collect().map(_.getString(1)).toSeq ===
      Seq("a", "b", "c"))
  }

  test("an empty-source merge commits no version") {
    val t = fresh("merge_empty")
    t.overwrite(Seq((1L, "a")).toDF("id", "v"))
    val v = t.merge(Seq.empty[(Long, String)].toDF("id", "v"), Seq("id"))
    assert(v === 0L && t.currentVersion() === 0L)
  }

  test("optimistic commit survives a version collision (loser retries)") {
    val t = fresh("conflict")
    t.overwrite(Seq((1L, "a")).toDF("id", "v"))
    // simulate a concurrent winner by pre-creating the next version file
    val root = t.root
    val next = new java.io.File(s"$root/_txlog/00000001.json")
    val cur = new java.io.File(s"$root/_txlog/00000000.json")
    java.nio.file.Files.copy(cur.toPath, next.toPath)
    // this commit's first attempt collides with 00000001 → retries to 2
    val v = t.append(Seq((2L, "b")).toDF("id", "v"))
    assert(v === 2L)
    assert(t.snapshot().count() === 2)
  }

  test("latest-version hint: commits write it; stale, corrupt, ahead, missing, or vacuumed hints never change resolution") {
    val t = fresh("hint")
    (0 until 3).foreach(i => t.overwrite(Seq((i.toLong, s"v$i")).toDF("id", "v")))
    val hint = new java.io.File(s"${t.root}/_txlog/_latest")
    assert(hint.exists(), "commit did not write the _latest pointer")
    assert(java.nio.file.Files.readString(hint.toPath).trim === "2")
    // stale hint (concurrent writers committed past it): forward
    // probes repair it without a listing
    java.nio.file.Files.writeString(hint.toPath, "0")
    assert(t.currentVersion() === 2L)
    // corrupt hint: falls back to the full listing
    java.nio.file.Files.writeString(hint.toPath, "not-a-number")
    assert(t.currentVersion() === 2L)
    // hint ahead of reality (no such manifest): falls back
    java.nio.file.Files.writeString(hint.toPath, "99")
    assert(t.currentVersion() === 2L)
    // missing hint: falls back
    assert(hint.delete())
    assert(t.currentVersion() === 2L)
    // the next commit rewrites the pointer
    t.append(Seq((9L, "z")).toDF("id", "v"))
    assert(java.nio.file.Files.readString(hint.toPath).trim === "3")
    // hint pointing at a vacuumed-away version: falls back, resolves
    t.vacuum(keepVersions = 1)
    java.nio.file.Files.writeString(hint.toPath, "0")
    assert(t.currentVersion() === 3L)
    assert(t.snapshot().count() === 2) // v2's overwrite row + the append
  }

  test("vacuum drops unreferenced data dirs and old manifests; recent versions still read") {
    val t = fresh("vacuum")
    (0 until 5).foreach(i => t.overwrite(Seq((i.toLong, s"v$i")).toDF("id", "v")))
    t.vacuum(keepVersions = 2)
    // newest two snapshots read fine
    assert(t.snapshot().collect().head.getString(1) === "v4")
    assert(t.snapshot(3).collect().head.getString(1) === "v3")
    // older manifests are gone
    intercept[Exception](t.snapshot(0).collect())
    // exactly two data dirs remain (each overwrite snapshot = 1 dir)
    val dirs = new java.io.File(s"${t.root}/data").listFiles().count(_.isDirectory)
    assert(dirs === 2)
  }

  test("carries the real SCD1 pipeline: dealer dim golden replay through TxLog sinks") {
    val t = fresh("scd1")
    val spec = DimensionBuilder.specs.find(_.name == "dim_dealer").get
    def silverOf(csv: String) =
      Silver.transform(Ingest.toBronze(
        Ingest.readSalesCsv(spark, carsales(csv))))
    // full load → overwrite commit
    val full = DimensionBuilder.plan(silverOf("SalesData.csv"),
      DimensionBuilder.emptySeed(spark, spec), spec)
    t.overwrite(full)
    assert(t.snapshot().count() === 267)
    // incremental batches → merge commits
    Seq("IncrementalSales.csv", "IncrementalSalesUpdate.csv").foreach { csv =>
      val dim = DimensionBuilder.plan(silverOf(csv), t.snapshot(), spec)
      t.merge(dim, Seq(spec.dimKey))
    }
    val d = t.snapshot()
    assert(d.count() === 268)
    assert(d.filter(col("DealerName").endsWith(" up")).count() === 3)
    // time travel: the pre-incremental snapshot still shows 267 dealers
    assert(t.snapshot(0).count() === 267)
  }

  test("partitioned merge rewrites only the partitions in the batch, carrying the rest") {
    val t = fresh("partmerge")
    val base = Seq(("a", 1L, "x1"), ("a", 2L, "x2"), ("b", 3L, "x3"), ("c", 4L, "x4"))
      .toDF("day", "id", "v")
    t.overwritePartitioned(base, "day")
    val v0dirs = t.snapshotDataDirs(0)
    assert(v0dirs.length === 1)
    // batch touches only day=b: update id=3, insert id=5
    val v1 = t.mergePartitioned(
      Seq(("b", 3L, "X3"), ("b", 5L, "x5")).toDF("day", "id", "v"),
      Seq("id"), "day")
    assert(v1 === 1L)
    val rows = t.snapshot().collect()
      .map(r => r.getLong(1) -> (r.getString(0), r.getString(2))).toMap
    assert(rows === Map(1L -> ("a", "x1"), 2L -> ("a", "x2"),
      3L -> ("b", "X3"), 4L -> ("c", "x4"), 5L -> ("b", "x5")))
    // partition pruning is structural: the untouched partitions' rows
    // still live in the ORIGINAL v0 dir (carried manifest lines), only
    // day=b got a new dir — no full-table rewrite happened
    val v1dirs = t.snapshotDataDirs(1)
    assert(v1dirs.length === 2 && v1dirs.contains(v0dirs.head))
    // time travel across the partitioned merge
    assert(t.snapshot(0).filter(col("id") === 3L).head().getString(2) === "x3")
    assert(t.snapshot(0).count() === 4)
  }

  test("partition-scoped OPTIMIZE packs only the scoped partitions' entries, splitting shared dirs") {
    val t = fresh("optwhere")
    val base = Seq(("a", 1L, "x1"), ("b", 2L, "x2"), ("c", 3L, "x3"))
      .toDF("day", "id", "v")
    t.overwritePartitioned(base, "day") // v0: ONE dir, entries a, b, c
    val v0dir = t.snapshotDataDirs(0).head
    // small-file debt on a and b: three single-row dirs each
    (4L to 9L).foreach { i =>
      val d = if (i % 2 == 0) "a" else "b"
      t.append(Seq((d, i, s"x$i")).toDF("day", "id", "v"), tagBy = Some("day"))
    }
    val beforeDirs = t.snapshotDataDirs(t.currentVersion())
    assert(beforeDirs.length === 7)
    val v = t.compactSmallFiles(1L << 20, Seq("a"))
    // content is untouched — OPTIMIZE is layout-only
    val rows = t.snapshot().collect()
      .map(r => r.getLong(1) -> (r.getString(0), r.getString(2))).toMap
    assert(rows === Map(1L -> ("a", "x1"), 2L -> ("b", "x2"), 3L -> ("c", "x3"),
      4L -> ("a", "x4"), 5L -> ("b", "x5"), 6L -> ("a", "x6"),
      7L -> ("b", "x7"), 8L -> ("a", "x8"), 9L -> ("b", "x9")))
    val afterDirs = t.snapshotDataDirs(v)
    // the shared v0 dir SPLITS: it stays referenced for its b and c
    // entries while its day=a rows moved to the packed dir
    assert(afterDirs.contains(v0dir))
    // b's debt dirs are untouched — scoped write amplification only
    val bDirs = beforeDirs.filterNot(_ == v0dir).filter(d =>
      spark.read.parquet(d).filter(col("day") === "b").count() > 0)
    assert(bDirs.length === 3 && bDirs.forall(afterDirs.contains))
    // a's four entries (v0 share + 3 appends) folded into ONE new dir
    assert(afterDirs.length === 5) // v0dir + 3 b dirs + 1 packed a dir
    // a second scoped pass has no debt left → version-preserving no-op
    assert(t.compactSmallFiles(1L << 20, Seq("a")) === v)
    // scoping a non-partitioned table is refused
    val u = fresh("optwhere_untagged")
    u.overwrite(Seq((1L, "x")).toDF("id", "v"))
    intercept[IllegalArgumentException](u.compactSmallFiles(1L << 20, Seq("a")))
  }

  test("UPDATE rewrites only the dirs containing matches; partitioning and carried layout survive") {
    val t = TxLog(spark, tmpDir("txlog_cowupd"), statsCols = Seq("k"))
    (0 until 4).foreach(b => t.append(
      (b * 100 until b * 100 + 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")))
    val before = t.snapshotDataDirs()
    assert(before.length === 4)
    val v = t.updateWhere(Seq(("v", "'UP'")), Some("k = 137"))
    val after = t.snapshotDataDirs(v)
    // three untouched dirs carry by reference; one dir rewrote
    assert(after.length === 4)
    assert(before.count(after.contains) === 3)
    assert(t.snapshot().filter(col("v") === "UP").collect()
      .map(_.getLong(0)).toSeq === Seq(137L))
    assert(t.snapshot().count() === 400)
    // the carried dirs' range stats still prune
    assert(t.rangeDirs("5", "5").size === 1)
    // stats-excluded predicate: zero dirs rewrite, the version still
    // commits (history records the statement), content unchanged
    val v2 = t.updateWhere(Seq(("v", "'NOPE'")), Some("k = 99999"))
    assert(v2 === v + 1)
    assert(t.snapshotDataDirs(v2).toSet === after.toSet)
    assert(t.snapshot().filter(col("v") === "NOPE").count() === 0L)
    // partitioned table: UPDATE keeps the partitioning (previously a
    // whole-snapshot rewrite dropped it) and only the matched
    // partition's dirs rewrite
    val p = TxLog(spark, tmpDir("txlog_cowupd_part"))
    p.overwritePartitioned(Seq(("a", 1L, "x1"), ("b", 2L, "x2"))
      .toDF("day", "id", "w"), "day")
    p.append(Seq(("b", 3L, "x3")).toDF("day", "id", "w"), tagBy = Some("day"))
    val pBefore = p.snapshotDataDirs()
    p.updateWhere(Seq(("w", "'X3'")), Some("id = 3"))
    assert(p.partitionColumn() === Some("day"))
    assert(p.snapshotDataDirs().count(pBefore.contains) === 1) // v0 dir carried
    assert(p.snapshot().collect().map(r => r.getLong(1) -> r.getString(2)).toMap
      === Map(1L -> "x1", 2L -> "x2", 3L -> "X3"))
    // an UPDATE that MOVES a row across partitions re-tags from data
    p.updateWhere(Seq(("day", "'c'")), Some("id = 1"))
    assert(p.snapshot().filter(col("day") === "c").count() === 1L)
    assert(p.partitionValues().contains("c"))
  }

  test("DELETE's scan is stats-pruned: an excluded predicate is a no-op, a hit still lands") {
    val t = TxLog(spark, tmpDir("txlog_pruneddel"), statsCols = Seq("k"),
      bloomCols = Seq("k"))
    (0 until 4).foreach(b => t.append(
      (b * 100 until b * 100 + 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")))
    val v0 = t.currentVersion()
    // predicate outside every dir's range: no version committed
    assert(t.deleteWhere("k = 99999") === v0)
    // in-range delete still works (tombstone on the one matching dir)
    val v1 = t.deleteWhere("k = 137")
    assert(v1 === v0 + 1)
    assert(t.snapshot().count() === 399)
    assert(t.snapshot().filter(col("k") === 137L).count() === 0L)
    // a predicate the extractor cannot analyze falls back to the full
    // scan and stays correct
    val v2 = t.deleteWhere("k % 100 = 42")
    assert(v2 === v1 + 1)
    assert(t.snapshot().count() === 395)
  }

  test("DML pruning is type-safe: un-coerced literals never wrongly exclude a dir") {
    // price is DOUBLE: stats/Bloom canonical strings are "137.0", but
    // DELETE FROM ... WHERE price = 137 parses an INTEGER literal whose
    // raw canonical form is "137" — normalization must re-render it in
    // the stats column's own form, or the delete would silently no-op
    val t = TxLog(spark, tmpDir("txlog_typesafe"), statsCols = Seq("price"),
      bloomCols = Seq("price"))
    (0 until 3).foreach(b => t.append(
      (b * 100 until b * 100 + 100).map(i => (i.toDouble, s"v$i"))
        .toDF("price", "v")))
    val v = t.deleteWhere("price = 137")
    assert(v === t.currentVersion())
    assert(t.snapshot().count() === 299)
    assert(t.snapshot().filter(col("price") === 137.0).count() === 0L)
    // STRING stats column vs integer literal: lexicographic compare of
    // "42" against zero-padded values would wrongly exclude — the
    // type guard keeps the dir and the delete still lands
    val s = TxLog(spark, tmpDir("txlog_typesafe_str"), statsCols = Seq("k"))
    s.append(Seq(("041", 1L), ("042", 2L), ("043", 3L)).toDF("k", "n"))
    s.deleteWhere("k = 42") // ANSI: '042' = 42 casts the string side
    assert(s.snapshot().count() === 2)
    assert(s.snapshot().filter(col("k") === "042").count() === 0L)
  }

  test("DML pruning canonicalizes date STRINGS: non-ISO forms never wrongly exclude a dir") {
    // d is DATE: per-dir stats are padded ISO strings. DELETE WHERE
    // d = '2024-2-5' arrives as an UNRESOLVED StringType literal —
    // raw, '2024-2-5' > '2024-02-29' lexicographically, so without
    // canonicalization the only dir containing the row is pruned and
    // the delete silently no-ops (the exact ADVICE-high scenario).
    val t = TxLog(spark, tmpDir("txlog_datestr"), statsCols = Seq("d"),
      bloomCols = Seq("d"))
    (0 until 3).foreach { b =>
      t.append(spark.sql(
        s"SELECT DATE'2024-01-01' + make_interval(0,0,0,${b * 30} + x.id) AS d, " +
          s"x.id + ${b * 30} AS n FROM range(30) x"))
    }
    assert(t.snapshot().count() === 90)
    // non-canonical month/day, stray whitespace, a trailing time part:
    // all must land (each targets exactly one row)
    t.deleteWhere("d = '2024-2-5'")
    assert(t.snapshot().filter(col("d") === lit("2024-02-05").cast("date"))
      .count() === 0L)
    t.deleteWhere("d = '  2024-01-07  '")
    assert(t.snapshot().filter(col("d") === lit("2024-01-07").cast("date"))
      .count() === 0L)
    t.deleteWhere("d = '2024-3-2 00:00:00'")
    assert(t.snapshot().filter(col("d") === lit("2024-03-02").cast("date"))
      .count() === 0L)
    assert(t.snapshot().count() === 87)
    // range form: a non-canonical bound prunes CORRECTLY (still only
    // the covering dirs are touched) and deletes the right rows
    t.deleteWhere("d >= '2024-2-1' AND d <= '2024-2-29'")
    assert(t.snapshot().count() === 87 - 28) // Feb minus the deleted 2024-02-05
    // an unparseable string disables pruning for the conjunct
    // (conservative keep) — the kept dirs' residual evaluation then
    // surfaces ANSI's cast error instead of a silent no-op; a wrongly
    // pruned scan would have skipped the rows without any error
    intercept[Exception](t.deleteWhere("d = 'not-a-date-at-all'"))
    assert(t.snapshot().count() === 59)
  }

  test("NULL partition values: tagged appends degrade to untagged entries; explicit partitioned writes refuse") {
    val t = fresh("nullpart")
    t.overwritePartitioned(Seq((Option("a"), 1L), (Option("b"), 2L))
      .toDF("day", "id"), "day")
    // append with a NULL partition value: untagged entry — every row
    // stays visible (a tag filter would hide the null row)
    t.append(Seq((Option.empty[String], 3L), (Option("a"), 4L))
      .toDF("day", "id"), tagBy = Some("day"))
    assert(t.snapshot().count() === 4)
    assert(t.snapshot().filter(col("day").isNull).count() === 1L)
    assert(t.partitionColumn() === Some("day"))
    // SHOW PARTITIONS: null is not a partition value; the degraded
    // dir's non-null values surface via the data fallback
    assert(t.partitionValues() === Seq("a", "b"))
    // compaction packs the degraded dir without crashing; the packed
    // dir stays untagged and the null row survives
    t.compactSmallFiles(1L << 20)
    assert(t.snapshot().filter(col("day").isNull).count() === 1L)
    // the explicitly partitioned write fails loudly
    val e = intercept[IllegalArgumentException](t.overwritePartitioned(
      Seq((Option.empty[String], 9L)).toDF("day", "id"), "day"))
    assert(e.getMessage.contains("NULL"))
  }

  test("SHOW PARTITIONS reports the data's truth after a partition-emptying delete") {
    val t = fresh("emptypart")
    t.overwritePartitioned(Seq(("a", 1L), ("b", 2L), ("b", 3L))
      .toDF("day", "id"), "day")
    t.deleteWhere("day = 'a'") // MoR tombstones empty partition a
    assert(t.partitionValues() === Seq("b"))
    // a partial delete keeps the partition listed
    t.deleteWhere("id = 2")
    assert(t.partitionValues() === Seq("b"))
  }

  test("partitioned merge on an untagged table re-tags once, then prunes") {
    val t = fresh("retag")
    t.overwrite(Seq(("a", 1L, "x1"), ("b", 2L, "x2")).toDF("day", "id", "v"))
    // first partitioned merge: full rewrite + re-tag
    t.mergePartitioned(Seq(("a", 1L, "X1")).toDF("day", "id", "v"), Seq("id"), "day")
    assert(t.snapshotDataDirs(1).length === 1)
    // second: pruned — day=b's line carries over from version 1's dir
    t.mergePartitioned(Seq(("a", 3L, "x3")).toDF("day", "id", "v"), Seq("id"), "day")
    val v2dirs = t.snapshotDataDirs(2)
    assert(v2dirs.length === 2 && v2dirs.contains(t.snapshotDataDirs(1).head))
    val rows = t.snapshot().collect()
      .map(r => r.getLong(1) -> r.getString(2)).toMap
    assert(rows === Map(1L -> "X1", 2L -> "x2", 3L -> "x3"))
  }

  test("data skipping: range reads open only dirs whose stats overlap the bounds") {
    val t = TxLog(spark, tmpDir("txlog_skip"), statsCols = Seq("day"))
    t.overwrite(Seq(("2024-01-01", 1L), ("2024-01-02", 2L)).toDF("day", "id"))
    t.append(Seq(("2024-02-01", 3L), ("2024-02-02", 4L)).toDF("day", "id"))
    t.append(Seq(("2024-03-01", 5L)).toDF("day", "id"))
    assert(t.snapshotDataDirs().length === 3)
    // structural skip: only the February dir is opened
    assert(t.rangeDirs("2024-02-01", "2024-02-15").length === 1)
    val feb = t.snapshotRange("2024-02-01", "2024-02-15")
    assert(feb.collect().map(_.getLong(1)).sorted === Seq(3L, 4L))
    // bounds straddling two dirs open exactly those two
    assert(t.rangeDirs("2024-01-02", "2024-02-01").length === 2)
    assert(t.snapshotRange("2024-01-02", "2024-02-01").count() === 2)
    // out-of-range read opens nothing and returns empty with schema
    assert(t.rangeDirs("2030-01-01", "2030-12-31").isEmpty)
    assert(t.snapshotRange("2030-01-01", "2030-12-31").count() === 0)
    // residual filter keeps exactness INSIDE an opened dir
    assert(t.snapshotRange("2024-01-02", "2024-01-02").collect()
      .map(_.getLong(1)).toSeq === Seq(2L))
    // a stats-less writer's commit stays readable (conservative scan)
    TxLog(spark, t.root).append(Seq(("2024-04-01", 6L)).toDF("day", "id"))
    assert(t.snapshotRange("2024-01-01", "2024-12-31").count() === 6)
  }

  test("partitioned CDC apply: prunes to the batch's partitions, drops emptied ones, carries the rest") {
    val t = fresh("cdc_part")
    t.overwritePartitioned(Seq(("a", 1L, "x1"), ("a", 2L, "x2"),
      ("b", 3L, "x3"), ("c", 4L, "x4")).toDF("day", "id", "v"), "day")
    val v0dir = t.snapshotDataDirs(0).head
    // update a:1, insert a:5, delete ALL of b; c untouched
    val changes = Seq(("a", 1L, "X1", "U"), ("a", 5L, "x5", "I"),
      ("b", 3L, "", "D")).toDF("day", "id", "v", "op")
    val v1 = t.applyChangesPartitioned(changes, Seq("id"), "day")
    assert(v1 === 1L)
    val rows = t.snapshot().collect()
      .map(r => r.getLong(1) -> (r.getString(0), r.getString(2))).toMap
    // equivalence with the unpartitioned three-clause fold
    val want = Upsert.applyChanges(t.snapshot(0), changes, Seq("id")).collect()
      .map(r => r.getLong(1) -> (r.getString(0), r.getString(2))).toMap
    assert(rows === want)
    assert(rows === Map(1L -> ("a", "X1"), 2L -> ("a", "x2"),
      4L -> ("c", "x4"), 5L -> ("a", "x5")))
    // structural pruning: c's rows still live in the CARRIED v0 dir;
    // only the affected partitions got a new dir; b has no line at all
    val v1dirs = t.snapshotDataDirs(1)
    assert(v1dirs.length === 2 && v1dirs.contains(v0dir))
    // time travel: the pre-CDC snapshot still has b
    assert(t.snapshot(0).filter(col("day") === "b").count() === 1)
    // deleting the LAST remaining partitions leaves a readable empty table
    val wipe = Seq(("a", 1L, "", "D"), ("a", 2L, "", "D"), ("a", 5L, "", "D"),
      ("c", 4L, "", "D")).toDF("day", "id", "v", "op")
    t.applyChangesPartitioned(wipe, Seq("id"), "day")
    assert(t.snapshot().count() === 0)
    // and a txn-keyed CDC batch is exactly-once like the merge
    val t2 = fresh("cdc_txn")
    t2.overwritePartitioned(Seq(("a", 1L, "x")).toDF("day", "id", "v"), "day")
    t2.applyChangesPartitioned(Seq(("a", 1L, "", "D")).toDF("day", "id", "v", "op"),
      Seq("id"), "day", txn = Some(("cdc", 1L)))
    val vAfter = t2.currentVersion()
    t2.applyChangesPartitioned(Seq(("a", 1L, "", "D")).toDF("day", "id", "v", "op"),
      Seq("id"), "day", txn = Some(("cdc", 1L)))
    assert(t2.currentVersion() === vAfter && t2.snapshot().count() === 0)
  }

  test("multi-column data skipping: each stats column prunes independently") {
    // real tables prune on several columns (date + key): track both
    val t = TxLog(spark, tmpDir("txlog_skip_multi"), statsCols = Seq("day", "id"))
    t.overwrite(Seq(("2024-01-01", 10L), ("2024-01-02", 20L)).toDF("day", "id"))
    t.append(Seq(("2024-02-01", 30L), ("2024-02-02", 40L)).toDF("day", "id"))
    t.append(Seq(("2024-03-01", 50L)).toDF("day", "id"))
    assert(t.snapshotDataDirs().length === 3)
    // first column (day) prunes as before
    assert(t.rangeDirs("2024-02-01", "2024-02-15").length === 1)
    // SECOND column (id) prunes structurally too: ids 30-45 live only
    // in the February dir
    assert(t.rangeDirs("30", "45", Some("id")).length === 1)
    assert(t.snapshotRangeOn("id", "30", "45").collect()
      .map(_.getLong(1)).sorted === Seq(30L, 40L))
    // a range straddling dirs on id opens exactly those two
    assert(t.rangeDirs("20", "30", Some("id")).length === 2)
    // residual filter keeps exactness inside an opened dir
    assert(t.snapshotRangeOn("id", "15", "25").collect()
      .map(_.getLong(1)).toSeq === Seq(20L))
    // out-of-range on the second column opens nothing
    assert(t.rangeDirs("900", "999", Some("id")).isEmpty)
    assert(t.snapshotRangeOn("id", "900", "999").count() === 0)
    // both columns' stats survive a partitioned-merge carry: merge one
    // dir's worth and check the carried dirs still prune on id
    val t2 = TxLog(spark, tmpDir("txlog_skip_multi2"), statsCols = Seq("day", "id"))
    t2.overwritePartitioned(Seq(("a", 1L), ("b", 100L)).toDF("day", "id"), "day")
    t2.mergePartitioned(Seq(("a", 2L)).toDF("day", "id"), Seq("id"), "day")
    assert(t2.snapshotDataDirs().length === 2)
    assert(t2.snapshotRangeOn("id", "1", "5").collect()
      .map(_.getLong(1)).sorted === Seq(1L, 2L))
  }

  test("empty batches: partitioned overwrite resolves, partitioned merge is a version no-op") {
    val t = fresh("empty_part")
    val empty = Seq.empty[(String, Long)].toDF("day", "id")
    t.overwritePartitioned(empty, "day")
    assert(t.snapshot().count() === 0)
    t.overwritePartitioned(Seq(("a", 1L)).toDF("day", "id"), "day")
    val v = t.mergePartitioned(empty, Seq("id"), "day")
    assert(v === t.currentVersion() && t.snapshot().count() === 1)
  }

  test("schema evolution: an append adding a column widens the snapshot, old rows read null") {
    val t = fresh("evolve")
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.append(Seq((3L, "c", 9L)).toDF("id", "v", "score"))
    val snap = t.snapshot()
    assert(snap.columns.toSet === Set("id", "v", "score"))
    val rows = snap.collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(rows === Map(1L -> -1L, 2L -> -1L, 3L -> 9L))
  }

  test("clustered compaction tightens per-dir ranges so skipping hits one bucket") {
    val t = TxLog(spark, tmpDir("txlog_cluster"), statsCols = Seq("k"))
    // two appends, each spanning the WHOLE key range — skipping is
    // useless (every dir overlaps every range)...
    t.overwrite(spark.range(0, 1000, 2).toDF("k"))
    t.append(spark.range(1, 1000, 2).toDF("k"))
    assert(t.rangeDirs("100", "110").length === 2)
    // ...until clustered compaction re-sorts dirs into disjoint slices
    t.compactZOrder(Seq("k"), 4)
    assert(t.snapshotDataDirs().length === 4)
    assert(t.rangeDirs("100", "110").length === 1)
    val got = t.snapshotRange("100", "110").collect().map(_.getLong(0)).sorted
    assert(got === (100L to 110L).toArray)
    assert(t.snapshot().count() === 1000)
  }

  test("compaction folds a fragmented snapshot into one dir, preserving content and tags") {
    val t = fresh("compact")
    t.overwrite(Seq((1L, "a")).toDF("id", "v"))
    t.append(Seq((2L, "b")).toDF("id", "v"))
    t.append(Seq((3L, "c")).toDF("id", "v"))
    assert(t.snapshotDataDirs().length === 3)
    val before = t.snapshot().collect().map(_.getLong(0)).sorted
    val v = t.compact()
    assert(v === 3L && t.snapshotDataDirs().length === 1)
    assert(t.snapshot().collect().map(_.getLong(0)).sorted === before)
    // time travel still reaches the fragmented layout
    assert(t.snapshotDataDirs(2).length === 3)
    // partitioned table: tags survive compaction (next merge prunes)
    val p = fresh("compact_part")
    p.overwritePartitioned(Seq(("a", 1L), ("b", 2L)).toDF("day", "id"), "day")
    p.mergePartitioned(Seq(("a", 3L)).toDF("day", "id"), Seq("id"), "day")
    p.compact()
    assert(p.snapshotDataDirs().length === 1)
    p.mergePartitioned(Seq(("b", 4L)).toDF("day", "id"), Seq("id"), "day")
    // pruned merge: compacted dir carried for day=a, new dir for day=b
    assert(p.snapshotDataDirs().length === 2)
    assert(p.snapshot().count() === 4)
  }

  test("all-skipped range read keeps the FULL evolved schema (residual filters resolve)") {
    val t = TxLog(spark, tmpDir("txlog_skip_schema"), statsCols = Seq("day"))
    t.overwrite(Seq(("2024-01-01", 1L)).toDF("day", "id"))
    // schema evolution: later append adds `score`
    t.append(Seq(("2024-02-01", 2L, 9L)).toDF("day", "id", "score"))
    val out = t.snapshotRange("2030-01-01", "2030-12-31")
    assert(out.count() === 0)
    // the empty frame must expose the evolved column set, not just the
    // first dir's — a consumer's residual filter on `score` must
    // resolve instead of throwing
    assert(out.columns.toSet === Set("day", "id", "score"))
    assert(out.filter(col("score") > 0).count() === 0)
  }

  test("txn-keyed commits are exactly-once: redelivered batches skip, appends never duplicate") {
    val t = fresh("txn")
    val app = Some(("writerA", 0L))
    t.overwritePartitioned(Seq(("d1", 1L, "x")).toDF("day", "id", "v"), "day", app)
    val v1 = t.mergePartitioned(Seq(("d1", 1L, "X")).toDF("day", "id", "v"),
      Seq("id"), "day", Some(("writerA", 1L)))
    assert(v1 === 1L)
    // REDELIVERY of batch 1 (foreachBatch after restart): same id →
    // skipped, no new version, no content change
    val v1b = t.mergePartitioned(Seq(("d1", 1L, "X")).toDF("day", "id", "v"),
      Seq("id"), "day", Some(("writerA", 1L)))
    assert(v1b === 1L && t.currentVersion() === 1L)
    // a LATE redelivery after newer commits must not regress state:
    val v2 = t.mergePartitioned(Seq(("d1", 1L, "NEWER")).toDF("day", "id", "v"),
      Seq("id"), "day", Some(("writerA", 2L)))
    assert(v2 === 2L)
    val replayOld = t.mergePartitioned(Seq(("d1", 1L, "X")).toDF("day", "id", "v"),
      Seq("id"), "day", Some(("writerA", 1L)))
    assert(replayOld === 2L)
    assert(t.snapshot().filter(col("id") === 1L).head().getString(2) === "NEWER")
    // independent writer apps do not interfere
    assert(t.mergePartitioned(Seq(("d1", 5L, "b")).toDF("day", "id", "v"),
      Seq("id"), "day", Some(("writerB", 1L))) === 3L)
    // append redelivery would DUPLICATE rows without the guard
    val a = fresh("txn_append")
    a.append(Seq((1L, "r1")).toDF("id", "v"), Some(("app", 0L)))
    a.append(Seq((2L, "r2")).toDF("id", "v"), Some(("app", 1L)))
    a.append(Seq((2L, "r2")).toDF("id", "v"), Some(("app", 1L))) // redelivered
    assert(a.snapshot().count() === 2)
    // txn marks survive unkeyed commits and compaction
    a.append(Seq((3L, "r3")).toDF("id", "v"))
    a.compact()
    assert(a.append(Seq((2L, "r2")).toDF("id", "v"), Some(("app", 1L)))
      === a.currentVersion())
    assert(a.snapshot().count() === 3)
  }

  test("concurrent writers: every version has exactly one winner, losers land on later versions") {
    val t = fresh("race")
    t.overwrite(Seq((0L, "base")).toDF("id", "v"))
    // 4 threads × 2 appends racing the same table. The rename-if-absent
    // protocol must (a) give every commit a DISTINCT version and (b)
    // lose no data — each loser re-reads the winner's manifest before
    // retrying, so the final snapshot carries all 8 appended rows.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = t.append(Seq((i.toLong, s"w$i")).toDF("id", "v"))
        })
      }
      val versions = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      // one winner per version: all 8 commits got distinct versions 1..8
      assert(versions.sorted === (1L to 8L))
    } finally pool.shutdown()
    assert(t.currentVersion() === 8L)
    // lossless: every writer's row is in the final snapshot
    assert(t.snapshot().count() === 9)
    assert(t.snapshot().agg(sum("id")).head().getLong(0) === (1 to 8).sum.toLong)
  }

  test("concurrent merges re-run the transaction on conflict (no lost update)") {
    val t = fresh("mergerace")
    t.overwrite(Seq((1L, 0L), (2L, 0L)).toDF("id", "n"))
    // two racing merges on DIFFERENT keys; if the loser committed its
    // stale pre-race result, the winner's update would be silently
    // undone. The re-merge retry must preserve both.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = Seq(1L, 2L).map { k =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = t.merge(Seq((k, k * 10)).toDF("id", "n"), Seq("id"))
        })
      }
      val versions = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(versions.sorted === Seq(1L, 2L))
    } finally pool.shutdown()
    val rows = t.snapshot().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows === Map(1L -> 10L, 2L -> 20L))
  }

  test("readers never see half-committed state: data lands before the manifest") {
    val t = fresh("atomicity")
    t.overwrite(spark.range(1000).toDF("id"))
    // a reader resolving the snapshot NOW sees version 0 complete
    assert(t.snapshot().count() === 1000)
    // the log dir contains only fully-renamed manifests (no _tmp_ files)
    val leftover = new java.io.File(s"${t.root}/_txlog").listFiles()
      .map(_.getName).filter(_.startsWith("_tmp_"))
    assert(leftover.isEmpty)
  }

  test("bloom skipping: point lookups open only dirs whose filter fires, never miss a present key") {
    val t = TxLog(spark, tmpDir("txlog_bloom"), bloomCols = Seq("k"))
    t.overwrite((0L until 50L).map(i => (s"key$i", i)).toDF("k", "id"))
    t.append((50L until 100L).map(i => (s"key$i", i)).toDF("k", "id"))
    t.append((100L until 150L).map(i => (s"key$i", i)).toDF("k", "id"))
    assert(t.snapshotDataDirs().length === 3)
    // no false negatives: EVERY present key resolves through the prune
    (0L until 150L by 7L).foreach { i =>
      val got = t.snapshotPoint("k", s"key$i").collect()
      assert(got.map(_.getLong(1)).toSeq === Seq(i), s"key$i")
    }
    // structural skip: a key present in one dir opens ~1 dir (fp ≤ all)
    val opened = (0L until 150L by 11L).map(i => t.pointDirs("k", s"key$i").length)
    assert(opened.max <= 3 && opened.count(_ == 1) >= opened.length / 2,
      s"openings=$opened — bloom never bites?")
    // absent keys: overwhelmingly zero dirs opened, and always zero rows
    val ghostDirs = (0 until 20).map(g => t.pointDirs("k", s"ghost$g").length)
    assert(ghostDirs.sum < 10, s"ghost openings=$ghostDirs")
    (0 until 20).foreach(g =>
      assert(t.snapshotPoint("k", s"ghost$g").count() === 0L))
    // a bloom-less writer's commit stays readable (conservative scan)
    TxLog(spark, t.root).append(Seq(("keyX", 999L)).toDF("k", "id"))
    assert(t.snapshotPoint("k", "keyX").collect().map(_.getLong(1)).toSeq === Seq(999L))
    assert(t.snapshotPoint("k", "key3").count() === 1L)
  }

  test("bloom + range stats compose; blooms carry through partitioned merges for untouched dirs") {
    val t = TxLog(spark, tmpDir("txlog_bloom_part"),
      statsCols = Seq("id"), bloomCols = Seq("k"))
    t.overwritePartitioned(Seq(("p1", "a", 1L), ("p1", "b", 2L)).toDF("part", "k", "id"),
      partCol = "part")
    t.mergePartitioned(Seq(("p2", "c", 3L)).toDF("part", "k", "id"),
      keys = Seq("k"), partCol = "part")
    t.mergePartitioned(Seq(("p3", "d", 4L)).toDF("part", "k", "id"),
      keys = Seq("k"), partCol = "part")
    // the p1 dir was never rewritten — its bloom carried over and still prunes
    assert(t.pointDirs("k", "a").length === 1)
    assert(t.snapshotPoint("k", "a").collect().map(_.getLong(2)).toSeq === Seq(1L))
    // range stats AND bloom both restrict: id stats exclude dirs too
    assert(t.pointDirs("id", "3").length <= 3) // id has stats but no bloom
    assert(t.snapshotPoint("id", "3").count() === 1L)
  }

  test("restore: rolls content back metadata-only, keeps history, survives a redelivered txn") {
    val t = TxLog(spark, tmpDir("txlog_restore"), statsCols = Seq("id"))
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))        // v0
    t.append(Seq((3L, "c")).toDF("id", "v"), txn = Some(("app", 7L))) // v1
    t.merge(Seq((2L, "B")).toDF("id", "v"), Seq("id"))             // v2
    val v3 = t.restoreTo(0L)
    assert(v3 === 3L && t.currentVersion() === 3L)
    // content equals v0 exactly
    assert(t.snapshot().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      === Map(1L -> "a", 2L -> "b"))
    // the rolled-back versions stay time-travelable
    assert(t.snapshot(2).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      === Map(1L -> "a", 2L -> "B", 3L -> "c"))
    // txn high-water marks carried forward: the old batch still dedupes
    val v = t.append(Seq((9L, "dup")).toDF("id", "v"), txn = Some(("app", 7L)))
    assert(v === 3L && t.snapshot().count() === 2)
    // restoring to the present is a no-op
    assert(t.restoreTo(3L) === 3L)
    // data skipping still works on the restored snapshot (stats carried)
    assert(t.snapshotRange("1", "1").count() === 1L)
  }

  test("restore refuses a vacuumed target version") {
    val t = fresh("restore_vac")
    (0 until 5).foreach(i => t.overwrite(Seq((i.toLong, s"v$i")).toDF("id", "v")))
    t.vacuum(keepVersions = 2)
    intercept[Exception](t.restoreTo(0L))
    // and a valid recent restore still works
    assert(t.restoreTo(3L) === 5L)
    assert(t.snapshot().collect().head.getString(1) === "v3")
  }

  test("CHECK constraints: violating commits are refused atomically, passing ones land") {
    val dir = tmpDir("txlog_checks")
    val t = TxLog(spark, dir,
      checkConstraints = Seq("id_positive" -> "id > 0", "v_nonempty" -> "length(v) > 0"))
    val v0 = t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(v0 === 0L)
    // violating append: refused, version unchanged, snapshot untouched
    val e = intercept[IllegalStateException](
      t.append(Seq((-3L, "c"), (4L, "d")).toDF("id", "v")))
    assert(e.getMessage.contains("id_positive") && e.getMessage.contains("1 row"))
    assert(t.currentVersion() === 0L && t.snapshot().count() === 2)
    // null predicate result passes (SQL-standard CHECK)
    val v1 = t.append(Seq((Some(5L), None: Option[String])).toDF("id", "v"))
    assert(v1 === 1L && t.snapshot().count() === 3)
    // violating merge also refused
    intercept[IllegalStateException](
      t.merge(Seq((0L, "zero")).toDF("id", "v"), Seq("id")))
    assert(t.currentVersion() === 1L)
  }

  test("CHECK constraints persist in the manifest and bind later undeclared writers") {
    val dir = tmpDir("txlog_checks_persist")
    TxLog(spark, dir, checkConstraints = Seq("id_positive" -> "id > 0"))
      .overwrite(Seq((1L, "a")).toDF("id", "v"))
    // a NEW writer instance with no declared constraints still enforces
    val plain = TxLog(spark, dir)
    intercept[IllegalStateException](
      plain.append(Seq((-1L, "x")).toDF("id", "v")))
    assert(plain.append(Seq((2L, "y")).toDF("id", "v")) === 1L)
    // constraints survive an overwrite (metadata, not data)
    plain.overwrite(Seq((3L, "z")).toDF("id", "v"))
    intercept[IllegalStateException](
      plain.append(Seq((0L, "bad")).toDF("id", "v")))
  }

  test("adding a CHECK constraint validates EXISTING data before it binds") {
    val dir = tmpDir("txlog_checks_add")
    val plain = TxLog(spark, dir)
    plain.overwrite(Seq((1L, "a"), (-2L, "b")).toDF("id", "v"))
    // introducing a constraint the existing data violates: refused
    val strict = TxLog(spark, dir, checkConstraints = Seq("id_positive" -> "id > 0"))
    intercept[IllegalStateException](
      strict.append(Seq((3L, "c")).toDF("id", "v")))
    assert(plain.snapshot().count() === 2) // nothing committed
    // clean the data through the undeclared writer, then the add sticks
    plain.overwrite(Seq((1L, "a")).toDF("id", "v"))
    assert(strict.append(Seq((3L, "c")).toDF("id", "v")) === 2L)
    intercept[IllegalStateException](
      TxLog(spark, dir).append(Seq((-9L, "bad")).toDF("id", "v")))
  }

  test("CHECK constraints ride partitioned merges and restore") {
    val dir = tmpDir("txlog_checks_part")
    val t = TxLog(spark, dir, checkConstraints = Seq("amt_pos" -> "amt >= 0"))
    t.overwritePartitioned(
      Seq(("p1", 1L, 10L), ("p2", 2L, 20L)).toDF("pt", "id", "amt"), "pt")
    val v1 = t.mergePartitioned(
      Seq(("p1", 1L, 11L)).toDF("pt", "id", "amt"), Seq("id"), "pt")
    assert(v1 === 1L)
    intercept[IllegalStateException](t.mergePartitioned(
      Seq(("p2", 2L, -5L)).toDF("pt", "id", "amt"), Seq("id"), "pt"))
    assert(t.currentVersion() === 1L)
    // restore carries the constraint metadata back
    val v2 = t.restoreTo(0L)
    assert(v2 === 2L)
    intercept[IllegalStateException](TxLog(spark, dir).mergePartitioned(
      Seq(("p1", 3L, -1L)).toDF("pt", "id", "amt"), Seq("id"), "pt"))
  }

  test("shallow clone: zero-copy snapshot, then fully independent evolution") {
    val src = TxLog(spark, tmpDir("clone_src"), statsCols = Seq("id"))
    src.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    src.append(Seq((3L, "c")).toDF("id", "v"))
    val destRoot = tmpDir("clone_dest")
    val dest = src.shallowCloneTo(destRoot)
    // zero-copy: the clone's own data dir holds nothing yet
    val destData = new java.io.File(s"$destRoot/data")
    assert(!destData.exists() || destData.listFiles().isEmpty)
    assert(dest.snapshot().count() === 3)
    // independent: writes to either side don't leak to the other
    src.append(Seq((4L, "d")).toDF("id", "v"))
    dest.merge(Seq((1L, "A")).toDF("id", "v"), Seq("id"))
    assert(src.snapshot().count() === 4)
    assert(dest.snapshot().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      === Map(1L -> "A", 2L -> "b", 3L -> "c"))
    // stats carried: range read on the clone still prunes/answers
    assert(dest.snapshotRange("3", "3").count() === 1)
  }

  test("shallow clone of an older version is a metadata time-travel copy") {
    val src = TxLog(spark, tmpDir("clone_tt_src"))
    src.overwrite(Seq((1L, "v0")).toDF("id", "v"))
    src.overwrite(Seq((1L, "v1"), (2L, "v1")).toDF("id", "v"))
    val dest = src.shallowCloneTo(tmpDir("clone_tt_dest"), version = 0L)
    assert(dest.snapshot().collect().map(_.getString(1)).toSeq === Seq("v0"))
  }

  test("clone carries CHECK constraints; compact materializes it locally") {
    val src = TxLog(spark, tmpDir("clone_chk_src"),
      checkConstraints = Seq("id_pos" -> "id > 0"))
    src.overwrite(Seq((1L, "a")).toDF("id", "v"))
    val destRoot = tmpDir("clone_chk_dest")
    val dest = src.shallowCloneTo(destRoot)
    intercept[IllegalStateException](
      TxLog(spark, destRoot).append(Seq((-2L, "bad")).toDF("id", "v")))
    // materialize: after compact the clone references only its own dirs
    dest.compact()
    assert(new java.io.File(s"$destRoot/data").listFiles().nonEmpty)
    // now the source can vacuum away without breaking the clone
    (0 until 4).foreach(i => src.overwrite(Seq((9L + i, "x")).toDF("id", "v")))
    src.vacuum(keepVersions = 1)
    assert(dest.snapshot().count() === 1)
  }

  test("cloning onto an existing table or from a vacuumed version is refused") {
    val src = TxLog(spark, tmpDir("clone_ref_src"))
    (0 until 4).foreach(i => src.overwrite(Seq((i.toLong, "x")).toDF("id", "v")))
    src.vacuum(keepVersions = 1)
    intercept[Exception](src.shallowCloneTo(tmpDir("clone_ref_dest1"), version = 0L))
    val okRoot = tmpDir("clone_ref_dest2")
    src.shallowCloneTo(okRoot)
    intercept[IllegalArgumentException](src.shallowCloneTo(okRoot))
  }

  test("schema-evolving merge: source-only columns widen, target-only columns survive UPDATE *") {
    val t = TxLog(spark, tmpDir("evolve_merge"))
    t.overwrite(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "keep"))
    // source adds `extra`, lacks `keep`; updates id=2, inserts id=3
    t.merge(Seq((2L, "B", "x2"), (3L, "c", "x3")).toDF("id", "v", "extra"),
      Seq("id"), evolve = true)
    val rows = t.snapshot().collect()
      .map(r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        Option(r.getString(3))))).toMap
    assert(rows === Map(
      1L -> (("a", Some(10L), None)), // untouched: keep kept, extra null
      2L -> (("B", Some(20L), Some("x2"))), // updated: keep SURVIVES, extra arrives
      3L -> (("c", None, Some("x3"))))) // insert: keep null-filled
    // strict merge still refuses mismatched column sets
    intercept[IllegalArgumentException](
      t.merge(Seq((4L, "d", "x4")).toDF("id", "v", "extra2"), Seq("id")))
  }

  test("schema-evolving partitioned merge prunes AND widens") {
    val t = TxLog(spark, tmpDir("evolve_part"))
    t.overwritePartitioned(
      Seq(("p1", 1L, "a"), ("p2", 2L, "b")).toDF("pt", "id", "v"), "pt")
    t.mergePartitioned(Seq(("p1", 1L, "A", 7L)).toDF("pt", "id", "v", "score"),
      Seq("id"), "pt", evolve = true)
    val rows = t.snapshot().collect().map(r =>
      r.getLong(1) -> ((r.getString(2),
        if (r.schema.fieldNames.contains("score") && !r.isNullAt(r.fieldIndex("score")))
          Some(r.getLong(r.fieldIndex("score"))) else None))).toMap
    assert(rows === Map(1L -> (("A", Some(7L))), 2L -> (("b", None))))
  }

  test("identity append: contiguous ids across commits from manifest stats, no table scan") {
    val t = TxLog(spark, tmpDir("identity"), statsCols = Seq("row_id"))
    t.appendWithIdentity(Seq("a", "b", "c").toDF("v"), "row_id",
      orderCols = Seq(col("v")))
    t.appendWithIdentity(Seq("d", "e").toDF("v"), "row_id",
      orderCols = Seq(col("v")))
    val got = t.snapshot().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L, "e" -> 4L))
    // GENERATED ALWAYS: a batch carrying the column is refused
    intercept[IllegalArgumentException](
      t.appendWithIdentity(Seq(("z", 99L)).toDF("v", "row_id"), "row_id"))
    // and identity without stats tracking is refused
    intercept[IllegalArgumentException](
      TxLog(spark, tmpDir("identity_nostats"))
        .appendWithIdentity(Seq("x").toDF("v"), "row_id"))
  }

  test("identity append assigns unique contiguous ids on a large unordered batch") {
    val t = TxLog(spark, tmpDir("identity_big"), statsCols = Seq("rid"))
    val n = 10000L
    t.appendWithIdentity(spark.range(n).toDF("x").repartition(13), "rid")
    val ids = t.snapshot().select("rid").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === (0L until n))
  }

  test("z-order compaction: range reads prune dirs on BOTH clustered columns") {
    val t = TxLog(spark, tmpDir("txlog_zorder"), statsCols = Seq("a", "b"))
    // independent uniform columns — the adversarial case for 1-D sort
    val rows = (0 until 4096).map(i => ((i * 37) % 4096).toLong -> ((i * 59) % 4096).toLong)
    t.overwrite(rows.toDF("a", "b"))
    t.compactZOrder(Seq("a", "b"), nBuckets = 16)
    val total = t.snapshotDataDirs().length
    assert(total > 4, s"expected a multi-dir rewrite, got $total")
    // a narrow range on EITHER column opens a strict subset of dirs
    val aDirs = t.rangeDirs("0", "255", Some("a")).length
    val bDirs = t.rangeDirs("0", "255", Some("b")).length
    assert(aDirs < total, s"a-range opened all $total dirs")
    assert(bDirs < total, s"b-range opened all $total dirs")
    // numeric-string bounds: rangeDirs/snapshotRangeOn compare as BIGINT
    assert(t.snapshotRangeOn("a", "0", "255").count() ===
      rows.count { case (a, _) => a <= 255 })
    assert(t.snapshotRangeOn("b", "0", "255").count() ===
      rows.count { case (_, b) => b <= 255 })
    // content preserved exactly
    assert(t.snapshot().collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      === rows.sorted)
    // 1-D clustering would NOT have pruned b: prove z-order beats it
    val t1 = TxLog(spark, tmpDir("txlog_zorder_1d"), statsCols = Seq("a", "b"))
    t1.overwrite(rows.toDF("a", "b"))
    t1.compactZOrder(Seq("a"), 16)
    assert(t1.rangeDirs("0", "255", Some("b")).length === t1.snapshotDataDirs().length,
      "1-D layout unexpectedly pruned the second column")
  }

  test("timestamp time travel: versionAsOf resolves by commit mtime, vacuum shrinks eligibility") {
    val root = tmpDir("txlog_asof")
    val t = TxLog(spark, root)
    t.overwrite(Seq((1L, "v0")).toDF("id", "v"))
    t.overwrite(Seq((1L, "v1")).toDF("id", "v"))
    t.overwrite(Seq((1L, "v2")).toDF("id", "v"))
    // pin commit times: v0 at 1000s, v1 at 2000s, v2 at 3000s (epoch ms)
    Seq(0L, 1L, 2L).foreach { v =>
      new java.io.File(f"$root/_txlog/$v%08d.json").setLastModified((v + 1) * 1000000L)
    }
    assert(t.versionAsOf(1500000L) === 0L)
    assert(t.versionAsOf(2000000L) === 1L) // at-or-before is inclusive
    assert(t.versionAsOf(9999999L) === 2L)
    assert(t.snapshotAsOf(2500000L).collect().head.getString(1) === "v1")
    intercept[IllegalArgumentException](t.versionAsOf(500L)) // before first commit
    // vacuum removes v0's manifest: the old instant is no longer resolvable
    t.vacuum(keepVersions = 1)
    intercept[IllegalArgumentException](t.versionAsOf(1500000L))
  }

  test("history records each commit's operation, newest first") {
    val t = TxLog(spark, tmpDir("txlog_history"))
    t.overwrite(Seq((1L, "a")).toDF("id", "v"))
    t.append(Seq((2L, "b")).toDF("id", "v"))
    t.merge(Seq((2L, "B")).toDF("id", "v"), Seq("id"))
    t.restoreTo(1L)
    val h = t.history().collect()
      .map(r => r.getLong(0) -> r.getString(2))
    assert(h.toSeq === Seq(3L -> "RESTORE v1", 2L -> "MERGE",
      1L -> "APPEND", 0L -> "OVERWRITE"))
    // a clone's v0 names its source
    val c = t.shallowCloneTo(tmpDir("txlog_history_clone"))
    assert(c.history().collect().head.getString(2).startsWith("CLONE "))
    // dir counts ride the manifest header (bounded history reads) —
    // and a legacy manifest WITHOUT the header still answers via the
    // full-read fallback
    val n0 = t.history().collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    val mp = java.nio.file.Paths.get(s"${t.root}/_txlog/00000002.json")
    val txt = java.nio.file.Files.readString(mp)
    assert(txt.linesIterator.exists(_.startsWith("#ndirs=")),
      "commit did not stamp the #ndirs header")
    java.nio.file.Files.writeString(mp, txt.linesIterator
      .filterNot(_.startsWith("#ndirs=")).mkString("\n"))
    val n1 = t.history().collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(n1 === n0, "legacy (header-less) manifest mis-served n_dirs")
  }

  test("property: evolving merge equals strict merge whenever schemas already match") {
    val t0 = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("id", "v", "x")
    val src = Seq((2L, "B", 99L), (9L, "i", 90L)).toDF("id", "v", "x")
    val strict = Upsert.merge(t0, src, Seq("id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    val evolved = Upsert.mergeEvolve(t0, src, Seq("id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(strict === evolved)
  }

  test("CHECK constraint declarations are validated at construction") {
    intercept[IllegalArgumentException](
      TxLog(spark, tmpDir("txlog_checks_bad1"),
        checkConstraints = Seq("a" -> "x\t> 0")))
    intercept[IllegalArgumentException](
      TxLog(spark, tmpDir("txlog_checks_bad2"),
        checkConstraints = Seq("a" -> "x > 0", "a" -> "x < 9")))
  }

  test("OPTIMIZE bin-packing folds only under-target dirs, carries compliant ones, then no-ops") {
    val t = TxLog(spark, tmpDir("txlog_optimize"), statsCols = Seq("id"))
    // one compliant (large) dir + four single-row small-file dirs
    t.overwrite(spark.range(20000).toDF("id")
      .withColumn("v", concat(lit("row-"), col("id"))))
    (0 until 4).foreach(i =>
      t.append(Seq((100000L + i, s"s$i")).toDF("id", "v")))
    val before = t.snapshotDataDirs()
    assert(before.length === 5)
    def dirBytes(u: String) = // absolute paths; skip .crc files like listStatus does
      new java.io.File(u).listFiles()
        .filter(f => f.isFile && !f.getName.startsWith(".")).map(_.length).sum
    val big = before.maxBy(dirBytes)
    // target sits between the small dirs and the compliant one
    val target = dirBytes(big)
    val v = t.compactSmallFiles(target)
    assert(v === t.currentVersion())
    val after = t.snapshotDataDirs()
    // the compliant dir's manifest line is CARRIED — same uuid, no rewrite —
    // and the four small dirs folded into one right-sized dir
    assert(after.contains(big), "compliant dir was rewritten, not carried")
    assert(after.length === 2, s"expected big + 1 packed dir, got ${after.length}")
    // content preserved exactly
    assert(t.snapshot().count() === 20004)
    assert(t.snapshotRange("100000", "100003").collect()
      .map(_.getString(1)).sorted.toSeq === Seq("s0", "s1", "s2", "s3"))
    // carried range stats still prune: a big-dir-only range opens 1 dir
    assert(t.rangeDirs("0", "10").length === 1)
    // carried Bloom words still serve point lookups on the untouched dir
    assert(t.snapshotPoint("id", "7").count() === 1)
    // second OPTIMIZE with no new small-file debt: version-preserving no-op
    assert(t.compactSmallFiles(target) === v)
    assert(t.currentVersion() === v)
  }

  test("OPTIMIZE packs across a schema evolution and keeps evolved stats columns skippable") {
    val t = TxLog(spark, tmpDir("txlog_opt_evolve"), statsCols = Seq("id", "w"))
    // the compliant (large) dir carries the evolved column w with
    // committed ranges; the small dirs predate the evolution
    t.overwrite(spark.range(20000).toDF("id")
      .withColumn("v", concat(lit("r"), col("id")))
      .withColumn("w", col("id") * 2))
    t.append(Seq((100001L, "s1")).toDF("id", "v"))
    t.append(Seq((100002L, "s2")).toDF("id", "v"))
    def dirBytes(u: String) =
      new java.io.File(u).listFiles()
        .filter(f => f.isFile && !f.getName.startsWith(".")).map(_.length).sum
    val target = t.snapshotDataDirs().map(dirBytes).max
    t.compactSmallFiles(target)
    // packed across the evolution: pre-evolution rows read w as null
    assert(t.snapshot().filter(col("id") === 100001L).head()
      .isNullAt(2), "evolved column not null-filled through the pack")
    // w SURVIVES as a stats column: a w-range beyond the big dir's max
    // skips it, and only the (statless, conservatively opened) packed
    // dir is read — before the header fix this threw 'keeps no stats'
    assert(t.rangeDirs("90000", "90010", Some("w")).length === 1)
    assert(t.snapshotRangeOn("w", "0", "10").count() === 6)
  }

  test("OPTIMIZE survives an optimistic race and vacuum then drops the folded dirs") {
    val t = fresh("optimize_race")
    (0 until 3).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "v")))
    // simulate a concurrent winner stealing the next version slot
    val cur = new java.io.File(s"${t.root}/_txlog/00000002.json")
    val next = new java.io.File(s"${t.root}/_txlog/00000003.json")
    java.nio.file.Files.copy(cur.toPath, next.toPath)
    // OPTIMIZE's first attempt collides with 00000003 → retries onto 4
    val v = t.compactSmallFiles(1L << 20)
    assert(v === 4L && t.snapshot().count() === 3)
    assert(t.snapshotDataDirs().length === 1)
    // vacuum reclaims the folded small dirs once history rolls off
    t.vacuum(keepVersions = 1)
    val dirs = new java.io.File(s"${t.root}/data").listFiles().count(_.isDirectory)
    assert(dirs === 1, s"expected only the packed dir to survive vacuum, got $dirs")
    assert(t.snapshot().collect().map(_.getString(1)).sorted.toSeq === Seq("v0", "v1", "v2"))
  }

  test("OPTIMIZE on a partition-tagged table packs visible rows and re-tags") {
    val t = TxLog(spark, tmpDir("txlog_optimize_part"))
    t.overwritePartitioned(
      Seq(("a", 1L, "x1"), ("b", 2L, "x2")).toDF("pt", "id", "v"), "pt")
    // supersede pt=a: the v0 dir stays live for pt=b only, its pt=a row is dead
    t.mergePartitioned(Seq(("a", 1L, "X1")).toDF("pt", "id", "v"), Seq("id"), "pt")
    (0 until 3).foreach(i => t.mergePartitioned(
      Seq(("c", 10L + i, s"c$i")).toDF("pt", "id", "v"), Seq("id"), "pt"))
    val v = t.compactSmallFiles(1L << 20) // everything is under 1 MiB → full pack
    assert(t.snapshotDataDirs().length === 1)
    // dead rows did NOT resurrect through the pack: pt=a reads the merged value
    val rows = t.snapshot().collect().map(r => r.getLong(1) -> r.getString(2)).toMap
    assert(rows === Map(1L -> "X1", 2L -> "x2", 10L -> "c0", 11L -> "c1", 12L -> "c2"))
    // re-tagged: a later partitioned merge still prunes (carries the packed dir)
    t.mergePartitioned(Seq(("c", 13L, "c3")).toDF("pt", "id", "v"), Seq("id"), "pt")
    assert(t.snapshotDataDirs().contains(t.snapshotDataDirs(v).head))
    assert(t.compactSmallFiles(1L << 20) === t.currentVersion()) // ≤1 small dir → no-op
  }

  test("ADD CONSTRAINT and RESTORE validate only the VISIBLE rows of partition-tagged dirs") {
    val dir = tmpDir("txlog_checks_visible")
    val plain = TxLog(spark, dir)
    plain.overwritePartitioned(
      Seq(("a", 1L, -5L), ("b", 2L, 10L)).toDF("pt", "id", "amt"), "pt")
    // the merge supersedes every pt=a row; the v0 dir stays live for pt=b
    // only, so its violating row is dead — filtered on every read
    plain.mergePartitioned(Seq(("a", 1L, 5L)).toDF("pt", "id", "amt"), Seq("id"), "pt")
    assert(plain.snapshot().agg(min("amt")).head().getLong(0) === 5L)
    // every visible row satisfies amt >= 0 → the ADD must succeed even
    // though the raw v0 dir still physically holds the -5 row
    val strict = TxLog(spark, dir, checkConstraints = Seq("amt_pos" -> "amt >= 0"))
    assert(strict.append(Seq(("c", 3L, 7L)).toDF("pt", "id", "amt")) === 2L)
    // RESTORE through the constrained writer validates the same way
    assert(strict.restoreTo(1L) === 3L)
    // and the persisted constraint still refuses a VISIBLE violation
    intercept[IllegalStateException](
      TxLog(spark, dir).append(Seq(("d", 4L, -1L)).toDF("pt", "id", "amt")))
  }

  test("hard delete: merge-delete + compact + vacuum leaves NO physical trace of the key") {
    // the GDPR/right-to-be-forgotten contract: a logical delete hides
    // rows from readers, but copy-on-write keeps the bytes in old dirs
    // until compaction rewrites the live set and vacuum drops history —
    // only then is the subject's data physically gone from storage
    val t = fresh("gdpr")
    t.overwrite(Seq((1L, "alice-SECRET"), (2L, "bob"), (3L, "carol"))
      .toDF("id", "v"))
    t.overwrite(Upsert.applyChanges(t.snapshot(),
      Seq((1L, "alice-SECRET", "D")).toDF("id", "v", "op"), Seq("id")))
    // logically gone immediately
    assert(t.snapshot().filter(col("v").contains("SECRET")).count() === 0)
    def bytesOnDisk: String = {
      val buf = new StringBuilder
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) f.listFiles().foreach(walk)
        else if (f.getName.endsWith(".parquet"))
          buf.append(new String(java.nio.file.Files.readAllBytes(f.toPath),
            java.nio.charset.StandardCharsets.ISO_8859_1))
      walk(new java.io.File(t.root))
      buf.toString
    }
    // ...but the bytes still exist (time travel still serves them)
    assert(bytesOnDisk.contains("alice-SECRET"))
    assert(t.snapshot(0).filter(col("v").contains("SECRET")).count() === 1)
    // vacuum drops the superseded dirs and the history that cites them
    t.vacuum(keepVersions = 1)
    assert(!bytesOnDisk.contains("alice-SECRET"),
      "deleted subject's bytes survived vacuum")
    assert(t.snapshot().count() === 2)
    intercept[Exception](t.snapshot(0).collect()) // time travel window closed
  }

  test("merge-on-read delete hides rows through tombstones without touching any data file") {
    val t = fresh("mor_basic")
    t.overwrite((1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"))
    t.append((7L to 9L).map(i => (i, s"v$i")).toDF("id", "v"))
    val preVersion = t.currentVersion()
    def dataFiles: Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"${t.root}/data"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = dataFiles
    val v = t.deleteWhere("id % 2 = 0")
    assert(v === preVersion + 1)
    // read equivalence with the copy-on-write result
    assert(t.snapshot().select("id").as[Long].collect().sorted
      === Array(1L, 3L, 5L, 7L, 9L))
    // NO pre-existing data file was rewritten or removed — the delete
    // is a sidecar, not a dir rewrite (the copy-on-write path's
    // write amplification is exactly what this avoids)
    assert(before.forall { case (p, mtime) =>
      val f = new java.io.File(p); f.exists() && f.lastModified() === mtime },
      "merge-on-read delete modified a data file")
    // time travel: the pre-delete version still reads all rows
    assert(t.snapshot(preVersion).count() === 9)
    // a predicate matching nothing is a version-preserving no-op
    assert(t.deleteWhere("id > 100") === v)
    // deletes ACCUMULATE: a second vector layers on the first
    assert(t.deleteWhere("id = 3") === v + 1)
    assert(t.snapshot().select("id").as[Long].collect().sorted
      === Array(1L, 5L, 7L, 9L))
    // range/point reads go through the same visible-row path
    assert(t.snapshot(v).select("id").as[Long].collect().sorted
      === Array(1L, 3L, 5L, 7L, 9L))
  }

  test("merge-on-read delete respects partition tags and dead rows of tagged dirs") {
    val t = TxLog(spark, tmpDir("txlog_mor_part"))
    t.overwritePartitioned(
      Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 30L)).toDF("pt", "id", "amt"), "pt")
    // supersede pt=a: v0's pt=a rows are dead; live pt=a is the merged dir
    t.mergePartitioned(Seq(("a", 1L, 11L), ("a", 2L, 21L)).toDF("pt", "id", "amt"),
      Seq("id"), "pt")
    // delete hits only VISIBLE rows: id=1 in the merged dir; the dead
    // v0 copy must not resurrect anything later
    t.deleteWhere("id = 1")
    val rows = t.snapshot().collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(rows === Map(2L -> 21L, 3L -> 30L))
    // a partitioned merge AFTER the delete carries the tombstones
    t.mergePartitioned(Seq(("c", 9L, 90L)).toDF("pt", "id", "amt"), Seq("id"), "pt")
    val rows2 = t.snapshot().collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(rows2 === Map(2L -> 21L, 3L -> 30L, 9L -> 90L))
  }

  test("OPTIMIZE materializes deletion vectors; vacuum then hard-deletes the bytes") {
    val t = fresh("mor_optimize")
    t.overwrite(Seq((1L, "keep-1"), (2L, "gdpr-SECRET"), (3L, "keep-3"))
      .toDF("id", "v"))
    t.deleteWhere("v = 'gdpr-SECRET'")
    def manifestText: String = {
      val d = new java.io.File(s"${t.root}/_txlog")
      d.listFiles().filter(_.getName.endsWith(".json")).sortBy(_.getName).reverse
        .headOption.map(f => new String(
          java.nio.file.Files.readAllBytes(f.toPath))).getOrElse("")
    }
    assert(manifestText.contains("#tombstone"), "delete committed no tombstone line")
    def bytesOnDisk: String = {
      val buf = new StringBuilder
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) f.listFiles().foreach(walk)
        else if (f.getName.endsWith(".parquet"))
          buf.append(new String(java.nio.file.Files.readAllBytes(f.toPath),
            java.nio.charset.StandardCharsets.ISO_8859_1))
      walk(new java.io.File(t.root))
      buf.toString
    }
    // logically gone, physically still present (time travel serves it)
    assert(t.snapshot().count() === 2)
    assert(bytesOnDisk.contains("gdpr-SECRET"))
    // OPTIMIZE rewrites the tombstoned dir: survivors only, lines dropped
    t.compactSmallFiles(1L << 20)
    assert(!manifestText.contains("#tombstone"),
      "OPTIMIZE did not materialize the deletion vector")
    assert(t.snapshot().select("id").as[Long].collect().sorted === Array(1L, 3L))
    // a second pass with no new debt is still a no-op
    assert(t.compactSmallFiles(1L << 20) === t.currentVersion())
    // vacuum retires the pre-delete dirs + the spent sidecar → the
    // subject's bytes are physically gone (GDPR contract, MoR edition)
    t.vacuum(keepVersions = 1)
    assert(!bytesOnDisk.contains("gdpr-SECRET"),
      "deleted subject's bytes survived OPTIMIZE + vacuum")
    assert(t.snapshot().count() === 2)
  }

  test("merge-on-read update tombstones hits and appends images; no data file rewritten") {
    val t = fresh("mor_update")
    t.overwrite((1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"))
    t.append((7L to 9L).map(i => (i, s"v$i")).toDF("id", "v"))
    val preVersion = t.currentVersion()
    def dataFiles: Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"${t.root}/data"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = dataFiles
    val v = t.updateWhereMoR(Seq("v" -> "concat(v, '!')"), Some("id % 2 = 0"))
    assert(v === preVersion + 1)
    val got = t.snapshot().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === (1L to 9L).map(i =>
      i -> (if (i % 2 == 0) s"v$i!" else s"v$i")).toMap)
    // NO pre-existing data file was rewritten or removed — the hit
    // rows moved via sidecar + append, not a dir rewrite
    assert(before.forall { case (p, mtime) =>
      val f = new java.io.File(p); f.exists() && f.lastModified() === mtime },
      "merge-on-read update modified a pre-existing data file")
    // time travel: the pre-update version reads the original values
    assert(t.snapshot(preVersion).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
      === (1L to 9L).map(i => i -> s"v$i").toMap)
    // zero matches: UPDATE always commits (metadata-only version)
    assert(t.updateWhereMoR(Seq("v" -> "'x'"), Some("id > 100")) === v + 1)
    assert(t.snapshot().count() === 9)
    // equivalence with the copy-on-write path on identical input
    val c = fresh("mor_update_cow")
    c.overwrite((1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"))
    c.append((7L to 9L).map(i => (i, s"v$i")).toDF("id", "v"))
    c.updateWhere(Seq("v" -> "concat(v, '!')"), Some("id % 2 = 0"))
    assert(c.snapshot().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      === got)
  }

  test("merge-on-read update moves rows across partitions of a tagged table") {
    val t = TxLog(spark, tmpDir("txlog_mor_upd_part"))
    t.overwritePartitioned(
      Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 30L)).toDF("pt", "id", "amt"), "pt")
    t.updateWhereMoR(Seq("pt" -> "'c'", "amt" -> "amt + 1"), Some("id = 1"))
    val rows = t.snapshot().collect()
      .map(r => r.getLong(1) -> (r.getString(0), r.getLong(2))).toMap
    assert(rows === Map(1L -> ("c", 11L), 2L -> ("a", 20L), 3L -> ("b", 30L)))
    // the moved row's new partition is visible to partition metadata,
    // and the vacated value disappears only if emptied (a is not)
    assert(t.partitionValues() === Seq("a", "b", "c"))
  }

  test("REORG APPLY (PURGE) materializes only the deletion-vector debt") {
    val t = fresh("reorg_purge")
    t.overwrite((1L to 6L).map(i => (i, s"k$i")).toDF("id", "v"))
    t.append((7L to 9L).map(i => (i, s"k$i")).toDF("id", "v")) // clean small dir
    t.deleteWhere("id <= 2") // DV on the first dir only
    def manifestText: String = {
      val d = new java.io.File(s"${t.root}/_txlog")
      d.listFiles().filter(_.getName.endsWith(".json")).sortBy(_.getName).reverse
        .headOption.map(f => new String(
          java.nio.file.Files.readAllBytes(f.toPath))).getOrElse("")
    }
    assert(manifestText.contains("#tombstone"))
    val dirsBefore = t.snapshotDataDirs()
    assert(dirsBefore.size === 2)
    val v = t.purgeDeletes()
    // tombstones gone, content preserved
    assert(!manifestText.contains("#tombstone"),
      "REORG PURGE left deletion vectors in the manifest")
    assert(t.snapshot().select("id").as[Long].collect().sorted
      === (3L to 9L).toArray)
    // the CLEAN dir was CARRIED (same manifest entry) even though it is
    // far under the pack target — purge rewrites the DV debt and
    // nothing else (a full OPTIMIZE would have packed both dirs); only
    // the tombstoned dir was replaced
    val carried = t.snapshotDataDirs().toSet.intersect(dirsBefore.toSet)
    assert(carried.size === 1, "REORG PURGE did not carry the clean dir")
    assert(spark.read.parquet(carried.head).select("id").as[Long]
      .collect().sorted === (7L to 9L).toArray)
    // a table with no DV debt is a version-preserving no-op
    assert(t.purgeDeletes() === v)
  }

  test("vacuum keeps tombstone sidecars alive with the versions that cite them") {
    val t = fresh("mor_vacuum")
    t.overwrite((1L to 4L).map(i => (i, s"v$i")).toDF("id", "v"))
    t.deleteWhere("id >= 3")
    t.vacuum(keepVersions = 1)
    // the sidecar must have survived (it is referenced by the only
    // kept manifest) — the read still subtracts the deleted rows
    assert(t.snapshot().select("id").as[Long].collect().sorted === Array(1L, 2L))
  }

  test("RESTORE moves across a merge-on-read delete in both directions") {
    val t = fresh("mor_restore")
    t.overwrite((1L to 4L).map(i => (i, s"v$i")).toDF("id", "v"))
    val vDel = t.deleteWhere("id = 2")
    t.restoreTo(vDel - 1) // back before the delete: the row returns
    assert(t.snapshot().count() === 4)
    t.restoreTo(vDel) // forward again: the tombstone re-applies
    assert(t.snapshot().select("id").as[Long].collect().sorted
      === Array(1L, 3L, 4L))
  }

  test("merge-on-read delete on a schema-evolved table: missing column reads null") {
    val t = fresh("mor_evolve")
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // evolution: the appended batch carries a NEW column
    t.append(Seq((3L, "c", "fresh")).toDF("id", "v", "tag"))
    // predicate on the evolved column: pre-evolution rows read tag as
    // null → predicate null → they survive (additive semantics)
    t.deleteWhere("tag = 'fresh'")
    assert(t.snapshot().select("id").as[Long].collect().sorted === Array(1L, 2L))
  }

  test("z-order on 4 columns narrows code width sign-safely and prunes on every column") {
    val t = TxLog(spark, tmpDir("txlog_zorder4"), statsCols = Seq("a", "b", "c", "d"))
    // four independent uniform columns — at 16 bits each the interleave
    // would overflow a signed long; width must narrow to fit
    val rows = (0 until 4096).map { i =>
      (((i * 37) % 64).toLong, ((i * 59) % 64).toLong,
        ((i * 83) % 64).toLong, ((i * 101) % 64).toLong)
    }
    t.overwrite(rows.toDF("a", "b", "c", "d"))
    t.compactZOrder(Seq("a", "b", "c", "d"), nBuckets = 16)
    val total = t.snapshotDataDirs().length
    assert(total > 4, s"expected a multi-dir rewrite, got $total")
    // a narrow range on EACH of the four columns opens a strict subset
    for (cn <- Seq("a", "b", "c", "d"))
      assert(t.rangeDirs("0", "7", Some(cn)).length < total,
        s"$cn-range opened all $total dirs")
    assert(t.snapshotRangeOn("c", "0", "7").count() ===
      rows.count(_._3 <= 7))
    assert(t.snapshot().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
      === rows.sorted)
  }

  test("column mapping: rename is metadata-only and time travel reads each version's own names") {
    val t = TxLog(spark, tmpDir("txlog_colmap"), statsCols = Seq("id"))
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.append(Seq((3L, "c")).toDF("id", "v"))
    val dirsBefore = t.snapshotDataDirs().toSet
    val vRename = t.renameColumn("v", "amount")
    // zero data rewritten: the new version references the SAME dirs,
    // and the parquet files still store the physical name
    assert(t.snapshotDataDirs(vRename).toSet === dirsBefore)
    assert(spark.read.parquet(dirsBefore.head).columns.contains("v"))
    // the visible schema renamed; values unchanged
    assert(t.snapshot().columns.toSeq === Seq("id", "amount"))
    assert(t.snapshot().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      === Map(1L -> "a", 2L -> "b", 3L -> "c"))
    // time travel: the pre-rename version still reads the OLD name
    assert(t.snapshot(vRename - 1).columns.toSeq === Seq("id", "v"))
    // a later append speaks the new schema and lands under the mapping
    t.append(Seq((4L, "d")).toDF("id", "amount"))
    assert(t.snapshot().filter(col("amount") === "d").count() === 1)
    // a SQL read of the registered name exposes the mapped names too
    graft.sql.TxLogSql.register("txlog_colmap_sql", t)
    assert(spark.table("txlog_colmap_sql").columns.toSeq === Seq("id", "amount"))
    assert(spark.table("txlog_colmap_sql").count() === 4)
  }

  test("column mapping: renaming a STATS column keeps range skipping alive (physical keys)") {
    val t = TxLog(spark, tmpDir("txlog_colmap_stats"), statsCols = Seq("id"))
    t.overwrite((1L to 100L).map(i => (i, s"r$i")).toDF("id", "v"))
    t.append((101L to 200L).map(i => (i, s"r$i")).toDF("id", "v"))
    t.renameColumn("id", "key")
    // the prune resolves the logical name to its physical stats key
    val total = t.snapshotDataDirs().length
    assert(t.rangeDirs("1", "50", Some("key")).length < total)
    assert(t.snapshotRangeOn("key", "1", "50").count() === 50)
    // an append through the NEW writer-facing name still records stats
    // under the stable physical key — skipping covers the new dir too
    val t2 = TxLog(spark, t.root, statsCols = Seq("key"))
    t2.append((201L to 300L).map(i => (i, s"r$i")).toDF("key", "v"))
    assert(t2.rangeDirs("250", "260", Some("key")).length === 1)
    assert(t2.snapshotRangeOn("key", "250", "260").count() === 11)
  }

  test("column mapping: drop hides the column and a re-added name never resurrects old values") {
    val t = fresh("colmap_drop")
    t.overwrite(Seq((1L, "s1", "x"), (2L, "s2", "y")).toDF("id", "secret", "keep"))
    val vDrop = t.dropColumn("secret")
    assert(t.snapshot().columns.toSeq === Seq("id", "keep"))
    // time travel still reads the dropped column at pre-drop versions
    assert(t.snapshot(vDrop - 1).columns.contains("secret"))
    // re-adding the SAME logical name maps to a FRESH physical column:
    // the old rows' dropped values stay invisible (null), never resurrect
    t.append(Seq((3L, "z", "s3-new")).toDF("id", "keep", "secret"))
    val got = t.snapshot().collect()
      .map(r => (r.getLong(0), Option(r.getAs[String]("secret")))).toMap
    assert(got === Map(1L -> None, 2L -> None, 3L -> Some("s3-new")))
    // a full rewrite MATERIALIZES the mapping: logical names become
    // physical and the map resets (data now stores "secret" directly)
    t.compact()
    assert(t.snapshot().columns.sorted.toSeq === Seq("id", "keep", "secret"))
    assert(spark.read.parquet(t.snapshotDataDirs().head).columns.contains("secret"))
    assert(t.snapshot().filter(col("secret").isNotNull).count() === 1)
  }

  test("column mapping: partitioned merge carries the mapping; deleteWhere speaks the visible schema") {
    val t = fresh("colmap_merge")
    t.overwritePartitioned(
      Seq((1L, "2024-01", 10L), (2L, "2024-02", 20L)).toDF("id", "month", "v"),
      "month")
    t.renameColumn("v", "amount")
    // pruned merge through the NEW name: only 2024-02 rewrites
    t.mergePartitioned(Seq((2L, "2024-02", 25L)).toDF("id", "month", "amount"),
      Seq("id"), "month")
    assert(t.snapshot().collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("amount")).toMap
      === Map(1L -> 10L, 2L -> 25L))
    // merge-on-read delete with a predicate over the visible name
    t.deleteWhere("amount = 10")
    assert(t.snapshot().collect().map(_.getLong(0)).toSeq === Seq(2L))
    // the partition column itself is not remappable
    assertThrows[IllegalArgumentException](t.renameColumn("month", "m"))
  }

  test("column mapping: a rename CHAIN that swaps a name onto another column's physical stays sound") {
    val t = fresh("colmap_chain")
    t.overwrite(Seq((1L, 10L)).toDF("a", "b"))
    t.renameColumn("a", "x")
    t.renameColumn("b", "a") // logical 'a' now points at physical 'b'
    // append in VISIBLE order (x, a): x must land in physical 'a' and
    // logical 'a' in physical 'b' — an atomic projection, not a
    // sequential rename that would collide on the shared name
    t.append(Seq((2L, 20L)).toDF("x", "a"))
    assert(t.snapshot().columns.toSeq === Seq("x", "a"))
    assert(t.snapshot().collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      === Seq((1L, 10L), (2L, 20L)))
    // and a CHECK added AFTER the swap validates the LOGICAL column
    val t2 = TxLog(spark, t.root, checkConstraints = Seq(("a_pos", "a >= 0")))
    t2.append(Seq((3L, 30L)).toDF("x", "a"))
    assertThrows[IllegalStateException](
      t2.append(Seq((4L, -1L)).toDF("x", "a")))
    // line-format-hostile names are refused up front, not committed
    assertThrows[IllegalArgumentException](t.renameColumn("x", "bad\tname"))
  }

  test("column mapping + merge-on-read: a FULL wipe then OPTIMIZE keeps the table readable") {
    val t = fresh("mor_wipe_optimize")
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.deleteWhere("id >= 0") // GDPR-wipe every row via tombstones
    assert(t.snapshot().count() === 0)
    t.compactSmallFiles(1024 * 1024) // materializes: all dirs dirty, zero survivors
    // the committed manifest must still resolve to a (zero-row) snapshot
    assert(t.snapshot().count() === 0)
    assert(t.snapshot().columns.toSeq === Seq("id", "v"))
    t.append(Seq((3L, "c")).toDF("id", "v")) // and the table stays writable
    assert(t.snapshot().count() === 1)
  }

  test("column mapping: CHECK-referenced columns refuse rename/drop") {
    val t = TxLog(spark, tmpDir("txlog_colmap_chk"),
      checkConstraints = Seq(("pos_v", "v >= 0")))
    t.overwrite(Seq((1L, 5L)).toDF("id", "v"))
    assertThrows[IllegalArgumentException](t.renameColumn("v", "amount"))
    assertThrows[IllegalArgumentException](t.dropColumn("v"))
    // un-referenced columns stay remappable
    t.renameColumn("id", "pk")
    assert(t.snapshot().columns.toSeq === Seq("pk", "v"))
  }

  // ---- partition evolution (Iceberg-style spec change) ----

  private def evolveBase(name: String): TxLog = {
    val t = fresh(name)
    val base = Seq(("a", "r1", 1L, "x1"), ("a", "r2", 2L, "x2"),
      ("b", "r1", 3L, "x3"), ("c", "r2", 4L, "x4"))
      .toDF("day", "region", "id", "v")
    t.overwritePartitioned(base, "day") // v0: one dir tagged a,b,c
    // pruned merge on day=b: v0's dir stays live for a,c only — its
    // day=b row (id=3 "x3") is DEAD, superseded by the new dir's "X3"
    t.mergePartitioned(Seq(("b", "r1", 3L, "X3")).toDF("day", "region", "id", "v"),
      Seq("id"), "day")
    t
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Map[Long, (String, String, String)] =
    df.collect().map(r => r.getLong(2) ->
      ((r.getString(0), r.getString(1), r.getString(3)))).toMap

  test("partition evolution is metadata-only and keeps reads exact, incl. dead partition rows") {
    val t = evolveBase("evolve_read")
    val dirsBefore = t.snapshotDataDirs()
    val before = rowsOf(t.snapshot())
    assert(before(3L) === (("b", "r1", "X3"))) // sanity: merge applied
    val vE = t.evolvePartitioning("region")
    // zero data dirs written — same uuids referenced
    assert(t.snapshotDataDirs(vE).sorted === dirsBefore.sorted)
    // reads identical: the v0 dir's dead day=b row must NOT resurrect
    assert(rowsOf(t.snapshot()) === before)
    // the SQL read of the registered name agrees
    graft.sql.TxLogSql.register("txlog_evolve_read", t)
    assert(rowsOf(spark.table("txlog_evolve_read")) === before)
    // time travel: the pre-evolution version still reads its own scheme
    assert(rowsOf(t.snapshot(vE - 1)) === before)
    // guards: same column refused, absent column refused
    assertThrows[IllegalArgumentException](t.evolvePartitioning("region"))
    assertThrows[IllegalArgumentException](t.evolvePartitioning("nope"))
  }

  test("partition evolution: new-scheme merge self-heals foreign dirs, then prunes") {
    val t = evolveBase("evolve_heal")
    t.evolvePartitioning("region")
    val dirsBefore = t.snapshotDataDirs().toSet
    // first merge under the NEW scheme: every pre-evolution dir is
    // foreign — merged in whole, re-tagged under region
    val vm = t.mergePartitioned(
      Seq(("d", "r1", 5L, "x5")).toDF("day", "region", "id", "v"),
      Seq("id"), "region")
    assert(t.snapshotDataDirs(vm).toSet.intersect(dirsBefore).isEmpty,
      "foreign dirs must be folded away by the healing merge")
    assert(rowsOf(t.snapshot()) === Map(
      1L -> (("a", "r1", "x1")), 2L -> (("a", "r2", "x2")),
      3L -> (("b", "r1", "X3")), 4L -> (("c", "r2", "x4")),
      5L -> (("d", "r1", "x5"))))
    // second new-scheme merge: healed table prunes — r2's dir carries
    val healedDirs = t.snapshotDataDirs().toSet
    val v2 = t.mergePartitioned(
      Seq(("e", "r1", 6L, "x6")).toDF("day", "region", "id", "v"),
      Seq("id"), "region")
    assert(t.snapshotDataDirs(v2).toSet.intersect(healedDirs).nonEmpty,
      "post-heal merge must carry unaffected partitions' dirs")
    assert(t.snapshot().count() === 6)
  }

  test("partition evolution: compact materializes the new scheme in one pass") {
    val t = evolveBase("evolve_compact")
    val before = rowsOf(t.snapshot())
    t.evolvePartitioning("region")
    val preDirs = t.snapshotDataDirs().toSet
    t.compact()
    assert(t.snapshotDataDirs().toSet.intersect(preDirs).isEmpty)
    assert(rowsOf(t.snapshot()) === before)
    // compacted layout is tagged under region: a merge prunes at once
    val healedDirs = t.snapshotDataDirs().toSet
    t.mergePartitioned(
      Seq(("d", "r1", 5L, "x5")).toDF("day", "region", "id", "v"),
      Seq("id"), "region")
    assert(t.snapshotDataDirs().toSet.intersect(healedDirs).nonEmpty)
  }

  test("generated columns: computed when absent, validated when supplied, wrong values refused") {
    val t = TxLog(spark, tmpDir("txlog_gencol"),
      generatedCols = Seq(("y", "id * 2")))
    t.append(Seq(1L, 2L).toDF("id")) // column absent → computed
    assert(t.snapshot().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      === Map(1L -> 2L, 2L -> 4L))
    t.append(Seq((3L, 6L)).toDF("id", "y")) // supplied correctly → validated
    assert(t.snapshot().count() === 3)
    // wrong supplied value: commit refused atomically, snapshot intact
    assertThrows[IllegalStateException](t.append(Seq((4L, 9L)).toDF("id", "y")))
    assert(t.snapshot().count() === 3)
    // the derived CHECK persisted in the manifest BINDS a later writer
    // constructed without generatedCols (Delta: generation is table
    // metadata, not writer configuration)
    val t2 = TxLog(spark, t.root)
    assertThrows[IllegalStateException](t2.append(Seq((5L, 11L)).toDF("id", "y")))
    t2.append(Seq((5L, 10L)).toDF("id", "y"))
    assert(t2.snapshot().count() === 4)
  }

  test("partition evolution: deleteWhere sees only visible rows across schemes") {
    val t = evolveBase("evolve_delete")
    t.evolvePartitioning("region")
    // matches the VISIBLE id=3 row ("X3") and the dead "x3" row's
    // address must not be tombstoned twice / resurrected
    t.deleteWhere("v = 'x1'")
    val after = rowsOf(t.snapshot())
    assert(!after.contains(1L) && after(3L) === (("b", "r1", "X3")))
    assert(after.keySet === Set(2L, 3L, 4L))
  }

  private def dataDirCount(t: TxLog): Int = {
    val d = new java.io.File(s"${t.root}/data")
    if (!d.exists()) 0 else d.listFiles.count(_.isDirectory)
  }

  test("disjoint-partition concurrent merges both commit one fold each (rebase, no re-merge)") {
    val t = fresh("race_disjoint")
    t.overwritePartitioned(Seq(("a", 1L, "x1"), ("b", 2L, "x2"), ("c", 3L, "x3"))
      .toDF("day", "id", "v"), "day")
    val other = TxLog(spark, t.root)
    // deterministic race: after t's fold reads day=a and writes its
    // result dir, a concurrent writer merges day=c and wins version 1
    var fired = false
    t.beforePublish = () => if (!fired) {
      fired = true
      other.mergePartitioned(Seq(("c", 3L, "C3"), ("c", 6L, "c6"))
        .toDF("day", "id", "v"), Seq("id"), "day")
    }
    val before = dataDirCount(t)
    val v = try t.mergePartitioned(Seq(("a", 1L, "A1")).toDF("day", "id", "v"),
      Seq("id"), "day")
    finally t.beforePublish = () => ()
    // the loser REBASED onto the winner's head: version 2, and exactly
    // TWO new data dirs exist (one fold per writer) — a full re-merge
    // retry would have abandoned t's first dir and written a third
    assert(v === 2L)
    assert(dataDirCount(t) === before + 2)
    val rows = t.snapshot().collect()
      .map(r => r.getLong(1) -> (r.getString(0), r.getString(2))).toMap
    assert(rows === Map(1L -> ("a", "A1"), 2L -> ("b", "x2"),
      3L -> ("c", "C3"), 6L -> ("c", "c6")))
    // time travel: the winner's intermediate version is intact
    assert(t.snapshot(1).filter(col("id") === 1L).head().getString(2) === "x1")
  }

  test("overlapping-partition concurrent merges still serialize through a full re-merge") {
    val t = fresh("race_overlap")
    t.overwritePartitioned(Seq(("a", 1L, "x1"), ("b", 2L, "x2"))
      .toDF("day", "id", "v"), "day")
    val other = TxLog(spark, t.root)
    var fired = false
    t.beforePublish = () => if (!fired) {
      fired = true
      other.mergePartitioned(Seq(("a", 1L, "OTHER")).toDF("day", "id", "v"),
        Seq("id"), "day")
    }
    val before = dataDirCount(t)
    val v = try t.mergePartitioned(Seq(("a", 5L, "t5")).toDF("day", "id", "v"),
      Seq("id"), "day")
    finally t.beforePublish = () => ()
    assert(v === 2L)
    // same partition touched → the fold re-ran against the winner's
    // snapshot: three new dirs (winner's, t's abandoned first attempt,
    // t's re-merge), and NO lost update — the winner's value survives
    assert(dataDirCount(t) === before + 3)
    val rows = t.snapshot().collect()
      .map(r => r.getLong(1) -> (r.getString(0), r.getString(2))).toMap
    assert(rows === Map(1L -> ("a", "OTHER"), 2L -> ("b", "x2"), 5L -> ("a", "t5")))
  }

  test("partition values containing NUL, tab, or newline are rejected at commit time") {
    val t = fresh("tag_safe")
    for (bad <- Seq("a\u0000b", "a\tb", "a\nb", "a\rb")) {
      val e = intercept[IllegalArgumentException] {
        t.overwritePartitioned(Seq((bad, 1L)).toDF("day", "id"), "day")
      }
      assert(e.getMessage.contains("control character"))
    }
    // the refused commits never published a manifest
    assert(!t.exists())
  }

  test("manifest format gate: a higher-format manifest fails with a clear version error") {
    val t = fresh("format_gate")
    t.overwrite(Seq((1L, "a")).toDF("id", "v"))
    val m0 = java.nio.file.Paths.get(s"${t.root}/_txlog/00000000.json")
    val doctored = "#format=3\n" + new String(java.nio.file.Files.readAllBytes(m0))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${t.root}/_txlog/00000001.json"), doctored.getBytes)
    val e = intercept[java.io.IOException] { t.snapshot().collect() }
    assert(e.getMessage.contains("format 3") && e.getMessage.contains("upgrade"))
    // pre-gate versions still read
    assert(t.snapshot(0).count() === 1)
  }

  test("a dir tagged under multiple schemes is refused loudly, not silently intersected") {
    val t = fresh("multi_scheme")
    t.overwritePartitioned(Seq(("a", 1L, "x")).toDF("day", "id", "v"), "day")
    val log = s"${t.root}/_txlog"
    val lines = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$log/00000000.json"))).linesIterator.toSeq
    val dir = lines.filterNot(_.startsWith("#")).head.split('\t').head
    // hand-craft the undefined state: the SAME dir tagged both under
    // the live scheme (day) and a foreign column
    val doctored = ("#format=2" +: lines :+ s"$dir\ta\tother_col").mkString("\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$log/00000001.json"), doctored.getBytes)
    val e = intercept[IllegalArgumentException] { t.snapshot().collect() }
    assert(e.getMessage.contains("multiple schemes"))
  }

  test("evolvePartitioning stamps #format=2; format-1 tables stay headerless") {
    val t = fresh("format_stamp")
    t.overwritePartitioned(Seq(("a", 1L, "x")).toDF("day", "id", "v"), "day")
    def manifestText(v: Long) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f"${t.root}/_txlog/$v%08d.json")))
    assert(!manifestText(0).contains("#format="))
    t.evolvePartitioning("v")
    assert(manifestText(1).linesIterator.exists(_ == "#format=2"))
  }

  test("crashed-writer debris never surfaces and is vacuumed: orphan data dir + stale tmp manifest") {
    val t = fresh("crash_debris")
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // crash site 1: data dir fully written, manifest never committed
    Seq((9L, "ghost")).toDF("id", "v").write
      .parquet(s"${t.root}/data/orphan-uuid-never-committed")
    // crash site 2: staged manifest, killed before the atomic link
    val staleTmp = java.nio.file.Paths.get(s"${t.root}/_txlog/_tmp_crashed")
    java.nio.file.Files.writeString(staleTmp, "#op=OVERWRITE\nnever-linked")
    java.nio.file.Files.setLastModifiedTime(staleTmp,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 7200 * 1000L))
    // readers see neither: version unchanged, ghost row invisible
    assert(t.currentVersion() === 0L)
    assert(t.snapshot().collect().map(_.getLong(0)).sorted === Seq(1L, 2L))
    // a LIVE commit races past the debris untouched
    t.append(Seq((3L, "c")).toDF("id", "v"))
    assert(t.snapshot().count() === 3)
    // vacuum clears both: the orphan dir (unreferenced) and the aged
    // tmp; a fresh tmp (an in-flight writer) survives the grace window
    val freshTmp = java.nio.file.Paths.get(s"${t.root}/_txlog/_tmp_inflight")
    java.nio.file.Files.writeString(freshTmp, "staged")
    t.vacuum(keepVersions = 3)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"${t.root}/data/orphan-uuid-never-committed")))
    assert(!java.nio.file.Files.exists(staleTmp))
    assert(java.nio.file.Files.exists(freshTmp))
    // grace 0 sweeps even the fresh one (shutdown cleanup mode)
    t.vacuum(keepVersions = 3, tmpGraceMs = 0L)
    assert(!java.nio.file.Files.exists(freshTmp))
    assert(t.snapshot().count() === 3) // table intact throughout
  }

  // ---- clustered overwrite: the index-SERVING layout ----------------

  private def clusteredFresh(name: String) =
    TxLog(spark, tmpDir(s"txlog_$name"), statsCols = Seq("k", "x"))

  private def clusteredRows = Seq(
    (0L, 10L, "a"), (0L, 11L, "b"), (1L, 20L, "c"),
    (1L, 21L, "d"), (2L, 30L, "e")).toDF("k", "x", "v")

  test("overwriteClustered: snapshot round-trip, one subdir per value, per-subdir stats prune point reads") {
    val t = clusteredFresh("clustered_rt")
    val v = t.overwriteClustered(clusteredRows, "k")
    assert(v === 0L)
    assert(t.snapshot().collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2))).sorted ===
      clusteredRows.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2))).sorted)
    // physical layout: one __cluster subdir per distinct value
    val subdirs = new java.io.File(s"${t.root}/data").listFiles().head
      .listFiles().map(_.getName).filter(_.startsWith("__cluster=")).sorted
    assert(subdirs.toSeq === Seq("__cluster=0", "__cluster=1", "__cluster=2"))
    // a point read opens ONLY the probed value's subdir — the
    // nProbe/nlist byte-cost claim is structural, not incidental
    val dirs = t.pointDirs("k", "1")
    assert(dirs.size === 1 && dirs.head.endsWith("/__cluster=1"))
    assert(t.snapshotPoint("k", "1").collect().map(_.getString(2)).sorted ===
      Seq("c", "d"))
    // the SECOND stats column prunes too: x ranges are disjoint per
    // cluster, so a point read on x=30 opens only cluster 2's subdir
    val xDirs = t.pointDirs("x", "30")
    assert(xDirs.size === 1 && xDirs.head.endsWith("/__cluster=2"))
  }

  test("snapshotPoints: a multi-value probe batches the probed subdirs into ONE scan") {
    val t = clusteredFresh("clustered_multi")
    t.overwriteClustered(clusteredRows, "k")
    val df = t.snapshotPoints("k", Seq("0", "2"))
    assert(df.collect().map(_.getString(2)).sorted === Seq("a", "b", "e"))
    // plan shape: ONE relation scanning exactly the two probed subdirs
    val scans = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }
    assert(scans.size === 1, s"expected one batched scan, got ${scans.size}")
    assert(scans.head.size === 2 &&
      scans.head.forall(p => p.endsWith("__cluster=0") || p.endsWith("__cluster=2")))
    // empty value list: empty relation, schema preserved
    val empty = t.snapshotPoints("k", Seq.empty)
    assert(empty.count() === 0L && empty.columns.toSeq === Seq("k", "x", "v"))
  }

  test("overwriteClustered: vacuum's GC unit is the top-level uuid — live while any subdir is cited, gone after supersession") {
    val t = clusteredFresh("clustered_vac")
    t.overwriteClustered(clusteredRows, "k")
    val dataDir = new java.io.File(s"${t.root}/data")
    val clusteredUuid = dataDir.listFiles().head.getName
    // two plain overwrites on top; keepVersions=3 keeps v0 live
    t.overwrite(Seq((9L, 9L, "z")).toDF("k", "x", "v"))
    t.overwrite(Seq((8L, 8L, "y")).toDF("k", "x", "v"))
    t.vacuum(keepVersions = 3)
    assert(new java.io.File(dataDir, clusteredUuid).exists())
    assert(t.snapshot(0).count() === 5) // clustered snapshot still reads
    // shrink retention: the clustered uuid (all its subdirs) is GC'd
    t.vacuum(keepVersions = 1)
    assert(!new java.io.File(dataDir, clusteredUuid).exists())
    assert(t.snapshot().collect().map(_.getString(2)).toSeq === Seq("y"))
  }

  test("overwriteClustered: NULL cluster values are refused at commit; nothing becomes visible") {
    val t = clusteredFresh("clustered_null")
    val withNull = Seq((Some(0L), 1L, "a"), (None, 2L, "b"))
      .toDF("k", "x", "v")
    val e = intercept[IllegalArgumentException](t.overwriteClustered(withNull, "k"))
    assert(e.getMessage.contains("NULL"))
    assert(t.currentVersion() === -1L) // no manifest committed
    // a clean write afterwards works normally
    t.overwriteClustered(clusteredRows, "k")
    assert(t.snapshot().count() === 5)
  }

  test("overwriteClustered: zero-row frame commits an empty snapshot (the overwrite contract)") {
    val t = clusteredFresh("clustered_empty")
    t.overwriteClustered(clusteredRows, "k")
    val v = t.overwriteClustered(clusteredRows.filter(lit(false)), "k")
    assert(v === 1L)
    assert(t.snapshot().count() === 0L)
    assert(t.snapshot().columns.toSeq === Seq("k", "x", "v")) // schema kept
    assert(t.snapshot(0).count() === 5) // time travel intact
    // the table keeps working after the empty commit
    t.append(Seq((5L, 50L, "f")).toDF("k", "x", "v"))
    assert(t.snapshot().count() === 1L)
  }

  test("overwriteClustered: CHECK constraints gate the clustered commit atomically") {
    val root = tmpDir("txlog_clustered_check")
    val t = TxLog(spark, root, statsCols = Seq("k"),
      checkConstraints = Seq(("x_pos", "x > 0")))
    t.overwriteClustered(clusteredRows, "k") // persists the constraint
    val bad = Seq((0L, -1L, "neg")).toDF("k", "x", "v")
    intercept[Exception](t.overwriteClustered(bad, "k"))
    assert(t.currentVersion() === 0L) // violation refused, v0 intact
    assert(t.snapshot().count() === 5)
  }

  test("overwriteClustered: optimistic race retries; #txn redelivery returns the recorded version") {
    val t = clusteredFresh("clustered_race")
    t.overwriteClustered(clusteredRows, "k", txn = Some(("app1", 1L)))
    // simulate a concurrent winner stealing the next version number
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${t.root}/_txlog/00000000.json"),
      java.nio.file.Paths.get(s"${t.root}/_txlog/00000001.json"))
    val v = t.overwriteClustered(clusteredRows.filter($"k" < 2), "k",
      txn = Some(("app1", 2L)))
    assert(v === 2L) // first attempt collided at 1, retried to 2
    assert(t.snapshot().count() === 4)
    // redelivered batch (id <= recorded high-water mark): no new commit
    val again = t.overwriteClustered(clusteredRows, "k", txn = Some(("app1", 2L)))
    assert(again === 2L && t.currentVersion() === 2L)
    assert(t.snapshot().count() === 4)
  }

  test("TBLPROPERTIES: set/unset round-trip, idempotent no-op, reserved namespace refused") {
    val t = fresh("props")
    t.overwrite(Seq((1L, "a")).toDF("id", "v"))
    assert(t.properties().isEmpty)
    val v1 = t.setProperties(Seq("owner" -> "team-data", "pii" -> "false"))
    assert(v1 === 1L)
    assert(t.properties() === Seq("owner" -> "team-data", "pii" -> "false"))
    // upsert overwrites one key, leaves the other
    val v2 = t.setProperties(Seq("pii" -> "true"))
    assert(v2 === 2L)
    assert(t.properties().toMap === Map("owner" -> "team-data", "pii" -> "true"))
    // unchanged set → NO new commit (idempotent config convergence)
    assert(t.setProperties(Seq("pii" -> "true")) === 2L)
    assert(t.currentVersion() === 2L)
    // unset; missing key refused without ifExists, ignored with it
    val v3 = t.unsetProperties(Seq("pii"))
    assert(v3 === 3L && t.properties() === Seq("owner" -> "team-data"))
    intercept[IllegalArgumentException](t.unsetProperties(Seq("nope")))
    assert(t.unsetProperties(Seq("nope"), ifExists = true) === 3L)
    // reserved namespace and manifest-breaking characters refused
    intercept[IllegalArgumentException](
      t.setProperties(Seq("constraint.x" -> "1")))
    intercept[IllegalArgumentException](t.setProperties(Seq("k\tb" -> "v")))
    intercept[IllegalArgumentException](t.setProperties(Seq("k" -> "a\nb")))
    // time travel reads each version's OWN properties
    assert(t.properties(version = 0).isEmpty)
    assert(t.properties(version = 2).toMap ===
      Map("owner" -> "team-data", "pii" -> "true"))
  }

  test("TBLPROPERTIES survive every commit shape: append, merge, optimize, overwrite, clone") {
    val t = fresh("props_carry")
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.setProperties(Seq("owner" -> "x"))
    t.append(Seq((3L, "c")).toDF("id", "v"))
    assert(t.properties() === Seq("owner" -> "x"), "append dropped props")
    t.merge(Seq((3L, "C"), (4L, "d")).toDF("id", "v"), Seq("id"))
    assert(t.properties() === Seq("owner" -> "x"), "merge dropped props")
    t.compactSmallFiles(128L << 20)
    assert(t.properties() === Seq("owner" -> "x"), "optimize dropped props")
    t.deleteWhere("id = 4")
    assert(t.properties() === Seq("owner" -> "x"), "delete dropped props")
    t.overwrite(Seq((9L, "z")).toDF("id", "v"))
    assert(t.properties() === Seq("owner" -> "x"),
      "overwrite dropped props — properties are TABLE metadata, not data")
    val c = t.shallowCloneTo(tmpDir("txlog_props_clone"))
    assert(c.properties() === Seq("owner" -> "x"), "clone dropped props")
  }

  test("in-commit timestamps: recorded, strictly monotone, and the time-travel clock survives mtime skew") {
    val t = fresh("ict")
    t.overwrite(Seq((1L, "a")).toDF("id", "v")) // v0: pre-ICT, mtime clock
    t.setProperties(Seq(TxLog.IctProp -> "true")) // v1: first stamped commit
    t.append(Seq((2L, "b")).toDF("id", "v")) // v2
    t.append(Seq((3L, "c")).toDF("id", "v")) // v3
    // every ICT commit records an instant strictly after its parent's
    val instants = (1L to 3L).map(t.commitInstant)
    assert(instants === instants.sorted.distinct,
      s"in-commit instants not strictly increasing: $instants")
    // the recorded clock, not the file mtime, resolves TIMESTAMP AS OF:
    // skew every manifest's mtime far into the future (a file copy /
    // coarse-mtime filesystem would do this) and resolution holds
    val logDir = new java.io.File(s"${t.root}/_txlog")
    logDir.listFiles().filter(_.getName.endsWith(".json")).foreach { f =>
      f.setLastModified(System.currentTimeMillis() + 864000000L)
    }
    assert(t.versionAsOf(t.commitInstant(2L)) === 2L)
    assert(t.versionAsOf(t.commitInstant(3L)) === 3L)
    assert(t.snapshotAsOf(t.commitInstant(2L)).count() === 2)
    // history shows the recorded instants on the stamped versions
    val hist = t.history().collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    assert(hist(2L) === t.commitInstant(2L))
    assert(hist(3L) === t.commitInstant(3L))
    // disabling stops stamping new commits; recorded instants keep serving
    t.unsetProperties(Seq(TxLog.IctProp))
    t.append(Seq((4L, "d")).toDF("id", "v"))
    val mtxt = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"${t.root}/_txlog/%08d.json".format(t.currentVersion())))
    assert(!mtxt.contains("#commitTs="), "post-disable commit still stamped")
    assert(t.versionAsOf(t.commitInstant(3L)) >= 3L)
  }

  test("ICT property parses as a boolean: mixed case arms stamping, junk is rejected at SET time") {
    val t = fresh("ict_bool")
    t.overwrite(Seq((1L, "a")).toDF("id", "v"))
    // 'True' normalizes at the choke point — SHOW would report the
    // property set either way, so silent non-stamping (degrading to
    // the mtime clock with no warning) is the failure mode to kill
    t.setProperties(Seq(TxLog.IctProp -> "True"))
    assert(t.properties().toMap.apply(TxLog.IctProp) === "true")
    t.append(Seq((2L, "b")).toDF("id", "v"))
    val mtxt = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"${t.root}/_txlog/%08d.json".format(t.currentVersion())))
    assert(mtxt.contains("#commitTs="), "'True' did not arm ICT stamping")
    // a FOREIGN writer's manifest may carry an un-normalized value:
    // the stamping test itself must parse case-insensitively too
    val mp = java.nio.file.Paths.get(
      s"${t.root}/_txlog/%08d.json".format(t.currentVersion()))
    java.nio.file.Files.writeString(mp, java.nio.file.Files.readString(mp)
      .replace(s"#prop\t${TxLog.IctProp}\ttrue",
        s"#prop\t${TxLog.IctProp}\tTRUE"))
    TxLog.instantCache.clear() // the rewrite above changed recorded bytes
    t.append(Seq((3L, "c")).toDF("id", "v"))
    val next = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"${t.root}/_txlog/%08d.json".format(t.currentVersion())))
    assert(next.contains("#commitTs="),
      "a foreign-writer 'TRUE' silently disarmed stamping")
    // behavior-bearing keys reject junk at SET time, not at use time
    intercept[IllegalArgumentException](
      t.setProperties(Seq(TxLog.IctProp -> "yes")))
    intercept[IllegalArgumentException](
      t.setProperties(Seq(TxLog.VacuumRetainProp -> "0")))
    intercept[IllegalArgumentException](
      t.setProperties(Seq(TxLog.VacuumRetainProp -> "soon")))
  }

  test("timestamp resolution binary-searches with header-only reads: O(log V) opens, cached after") {
    val t = fresh("ict_boundedreads")
    t.overwrite(Seq((0L, "seed")).toDF("id", "v"))
    t.setProperties(Seq(TxLog.IctProp -> "true"))
    (1 to 34).foreach(i => t.append(Seq((i.toLong, s"r$i")).toDF("id", "v")))
    val cur = t.currentVersion() // 36 versions
    val ts = t.commitInstant(cur - 3)
    // cold resolution: at most ~2·log2(V) header reads (versionAsOf
    // probes O(log V) versions; each probe reads two LINES, never the
    // manifest body) — the former implementation read EVERY manifest
    // IN FULL, O(total log bytes) per call
    TxLog.instantCache.clear()
    val before = TxLog.instantReads.get()
    assert(t.versionAsOf(ts) === cur - 3)
    val coldReads = TxLog.instantReads.get() - before
    val logV = 64 - java.lang.Long.numberOfLeadingZeros(cur)
    assert(coldReads <= 2 * logV + 4,
      s"versionAsOf read $coldReads manifest headers over ${cur + 1} " +
        s"versions — expected O(log V) ≈ $logV")
    // warm resolution: recorded instants are immutable and cached —
    // a repeat costs ZERO reads
    val b2 = TxLog.instantReads.get()
    assert(t.versionAsOf(ts) === cur - 3)
    assert(TxLog.instantReads.get() === b2,
      "repeat resolution re-read manifest headers despite the cache")
    // the mirror bound resolves the same way
    val b3 = TxLog.instantReads.get()
    assert(t.versionAtOrAfter(ts) === cur - 3)
    assert(TxLog.instantReads.get() - b3 <= 2 * logV + 4)
    // vacuum shrinks the search window instead of breaking it: the
    // surviving-prefix boundary is found by existence probes alone
    t.vacuum(keepVersions = 3)
    assert(t.versionAsOf(t.commitInstant(cur)) === cur)
    intercept[IllegalArgumentException](t.versionAsOf(ts - 1000000L))
  }

  test("mixed table at-or-after: a forward-perturbed pre-ICT mtime cannot split fast/slow answers") {
    // versions 0-2 pre-ICT (mtime clock), 3+ ICT-recorded — the shape
    // of every table that arms ICT after its first commits. An
    // at-or-after binary search probing only ICT versions used to
    // TRUST its answer while the slow path's monotonized clock could
    // name an earlier version whose mtime external tooling had pushed
    // forward; resolution must give the monotonized answer either way.
    val t = fresh("mixed_atorafter")
    t.overwrite(Seq((0L, "v0")).toDF("id", "v"))
    t.append(Seq((1L, "v1")).toDF("id", "v"))
    t.setProperties(Seq(TxLog.IctProp -> "true")) // v2; stamps from v3
    (3 to 14).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "v")))
    val cur = t.currentVersion()
    assert(cur === 14L)
    val ts = t.commitInstant(12L) // a recorded instant near the top
    // sane clock: both directions land on 12
    assert(t.versionAtOrAfter(ts) === 12L)
    assert(t.versionAsOf(ts) === 12L)
    // external tooling (a copy/migration) moves a PRE-ICT manifest's
    // mtime far past every recorded instant
    def mf(v: Long) = new java.io.File(s"${t.root}/_txlog/%08d.json".format(v))
    assert(mf(1L).setLastModified(ts + 3650L * 86400000L))
    // monotonized clock: v1 (and v2, clamped) now read as the huge
    // instant — the FIRST version at-or-after ts is v1, however the
    // resolver gets there; answering 12 from an all-ICT probe set
    // would contradict the linear scan
    assert(t.versionAtOrAfter(ts) === 1L)
    // at-or-before is immune (the answer is the HIGHEST qualifier and
    // recorded instants are authoritative): still 12
    assert(t.versionAsOf(ts) === 12L)
  }

  test("mtime clock perturbed out of order: resolution is MONOTONIZED, never silently wrong") {
    val t = fresh("mtime_monotone")
    t.overwrite(Seq((0L, "v0")).toDF("id", "v"))
    (1 to 4).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "v")))
    // pin a clean mtime clock: v → base + v seconds
    val base = 1700000000000L
    def mf(v: Int) = new java.io.File(s"${t.root}/_txlog/%08d.json".format(v))
    (0 to 4).foreach(v => assert(mf(v).setLastModified(base + v * 1000L)))
    assert(t.versionAsOf(base + 2000L) === 2L) // sane clock resolves raw
    // external tooling reorders ONE mtime far past the rest — the
    // binary search's order-preserving precondition is gone; on the
    // MONOTONIZED clock (running max) v1..v4 all read base+10000
    assert(mf(1).setLastModified(base + 10000L))
    // base+2000: raw probe at v2 (mtime base+2000) would happily
    // answer 2 — but v2 became VISIBLE no earlier than v1 on any
    // consistent reading, so the monotonized answer is 0
    assert(t.versionAsOf(base + 2000L) === 0L)
    assert(t.versionAsOf(base + 10000L) === 4L) // clamp: all ≤ perturbed instant
    assert(t.versionAtOrAfter(base + 1L) === 1L) // lowest at-or-after, monotonized
    intercept[IllegalArgumentException](t.versionAsOf(base - 1L))
  }

  test("header resolution scans by prefix: a future prepended header cannot hide op/instant/ndirs") {
    val t = fresh("hdr_prefix")
    t.overwrite(Seq((1L, "a")).toDF("id", "v"))
    t.setProperties(Seq(TxLog.IctProp -> "true"))
    t.append(Seq((2L, "b")).toDF("id", "v"), op = "APPEND")
    val cur = t.currentVersion()
    val mp = java.nio.file.Paths.get(s"${t.root}/_txlog/%08d.json".format(cur))
    val recorded = java.nio.file.Files.readString(mp).linesIterator
      .find(_.startsWith("#commitTs=")).get.stripPrefix("#commitTs=").toLong
    // a NEWER writer version prepends two headers this reader has
    // never heard of — hard-coded line counts would push #commitTs=
    // and #ndirs= out of the read window and silently degrade the
    // clock to mtime / the history row to a full-manifest fallback
    java.nio.file.Files.writeString(mp,
      "#futureHeader=x\n#anotherFutureHeader=y\n" +
        java.nio.file.Files.readString(mp))
    TxLog.instantCache.clear() // recorded bytes changed
    assert(t.commitInstant(cur) === recorded,
      "prepended unknown headers hid the recorded commit instant")
    val row = t.history().collect().find(_.getLong(0) == cur).get
    assert(row.getTimestamp(1).getTime === recorded)
    assert(row.getString(2) === "APPEND")
  }

  test("strict UNSET validates inside the commit path; IF EXISTS no-ops without a commit") {
    val t = fresh("unset_strict")
    t.overwrite(Seq((1L, "a")).toDF("id", "v"))
    t.setProperties(Seq("owner" -> "alice"))
    val v = t.currentVersion()
    // IF EXISTS on a missing key: no error, no commit
    assert(t.unsetProperties(Seq("nope"), ifExists = true) === v)
    // strict on a missing key: loud error, no commit burned
    intercept[IllegalArgumentException](t.unsetProperties(Seq("nope")))
    assert(t.currentVersion() === v)
    // strict on a present key commits exactly once
    assert(t.unsetProperties(Seq("owner")) === v + 1)
    assert(!t.properties().toMap.contains("owner"))
  }

  test("metadata caches are size-capped LRU: eviction past capacity, hot keys survive") {
    val c = new TxLog.BoundedCache[(String, Long), java.lang.Long](8)
    (0 until 8).foreach(i => c.put(("t", i.toLong), java.lang.Long.valueOf(i.toLong)))
    // touch key 0 so it is the most recently used
    assert(c.get(("t", 0L)) === java.lang.Long.valueOf(0L))
    // two inserts past capacity evict the two LEAST recently used (1, 2)
    c.put(("t", 8L), java.lang.Long.valueOf(8L))
    c.put(("t", 9L), java.lang.Long.valueOf(9L))
    assert(c.get(("t", 0L)) !== null, "hot key evicted despite recent use")
    assert(c.get(("t", 1L)) === null, "LRU key survived past capacity")
    assert(c.get(("t", 2L)) === null, "LRU key survived past capacity")
    assert(c.get(("t", 9L)) !== null)
    c.removeIf(_._2 >= 8L)
    assert(c.get(("t", 9L)) === null)
  }
}
