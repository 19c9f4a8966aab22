package graft.pipeline

import graft.SparkTestBase
import graft.sql.TxLogSql
import org.apache.spark.sql.functions._

/** COPY INTO — file-granular idempotent ingestion. The contract under
  * test: each file loads exactly once across reruns, the loaded-file
  * registry commits atomically with the rows, new files load
  * incrementally, `force` overrides, vacuum keeps live registry
  * sidecars, and RESTORE rolls the registry back with the data. */
class TxLogCopyIntoSpec extends SparkTestBase {
  import spark.implicits._

  /** Write `rows` as a single parquet file named `name` under `dir`. */
  private def stageFile(dir: String, name: String,
                        rows: Seq[(Long, String)]): Unit = {
    val tmp = s"$dir/__stage_$name"
    rows.toDF("id", "v").repartition(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$dir/$name"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("each file loads exactly once; new files load incrementally; force reloads") {
    val src = tmpDir("copy_src")
    val t = TxLog(spark, tmpDir("copy_tbl"))
    stageFile(src, "a.parquet", Seq((1L, "a"), (2L, "b")))
    stageFile(src, "b.parquet", Seq((3L, "c")))
    val (v1, n1) = t.copyInto(src)
    assert((v1, n1) === (0L, 2L))
    assert(t.snapshot().count() === 3L)
    // rerun: registry covers everything — no-op, no version churn
    assert(t.copyInto(src) === (0L, 0L))
    assert(t.snapshot().count() === 3L)
    // a new file lands: only it loads
    stageFile(src, "c.parquet", Seq((4L, "d"), (5L, "e")))
    val (v2, n2) = t.copyInto(src)
    assert((v2, n2) === (1L, 1L))
    assert(t.snapshot().count() === 5L)
    assert(t.copiedFiles().count() === 3L)
    // force: everything reloads regardless of the registry
    val (_, n3) = t.copyInto(src, force = true)
    assert(n3 === 3L)
    assert(t.snapshot().count() === 10L)
  }

  test("registry survives interleaved commits and aligns schema with ANSI casts") {
    val src = tmpDir("copy_mix_src")
    val t = TxLog(spark, tmpDir("copy_mix_tbl"))
    t.overwrite(Seq((100L, "seed")).toDF("id", "v"))
    stageFile(src, "a.parquet", Seq((1L, "a")))
    t.copyInto(src)
    // unrelated commits between copies must carry the registry
    t.append(Seq((200L, "app")).toDF("id", "v"))
    t.deleteWhere("id = 100")
    stageFile(src, "b.parquet", Seq((2L, "b")))
    val (_, n) = t.copyInto(src)
    assert(n === 1L) // a.parquet stayed tracked across append + delete
    assert(t.snapshot().orderBy("id").collect().map(_.getLong(0)).toSeq ===
      Seq(1L, 2L, 200L))
    // files carrying an extra column are refused loudly
    val src2 = tmpDir("copy_extra_src")
    Seq((9L, "x", true)).toDF("id", "v", "extra").repartition(1)
      .write.parquet(s"$src2/d")
    val e = intercept[Exception](t.copyInto(s"$src2/d"))
    assert(e.getMessage.contains("columns not on the table"))
  }

  test("vacuum keeps live registry sidecars; RESTORE rolls the registry back") {
    val src = tmpDir("copy_vac_src")
    val t = TxLog(spark, tmpDir("copy_vac_tbl"))
    stageFile(src, "a.parquet", Seq((1L, "a")))
    t.copyInto(src)                         // v0
    t.append(Seq((50L, "x")).toDF("id", "v")) // v1
    stageFile(src, "b.parquet", Seq((2L, "b")))
    t.copyInto(src)                         // v2
    t.compact()                             // v3 — supersedes data dirs
    t.vacuum(keepVersions = 3)              // v1..v3 live (v0 reclaimed)
    // both registry sidecars are still readable (v2 references them)
    assert(t.copiedFiles().count() === 2L)
    assert(t.copyInto(src) === (3L, 0L))    // still idempotent post-vacuum
    // RESTORE to v1: b.parquet's load is rolled back and loads again
    t.restoreTo(1L)
    val (_, n) = t.copyInto(src)
    assert(n === 1L)
    assert(t.snapshot().filter(col("id") === 2L).count() === 1L)
  }

  test("every OPTIMIZE form carries the registry: a re-run loads nothing") {
    // compactSmallFiles, purgeDeletes and the one- and two-column
    // z-order rewrites must keep the #copied lines like compact() does —
    // losing them makes the next COPY INTO load every file again
    val optimizers: Seq[(String, TxLog => Long)] = Seq(
      "compactSmallFiles" -> (_.compactSmallFiles(1L << 30)),
      "purgeDeletes" -> (_.purgeDeletes()),
      "compactZOrder1" -> (_.compactZOrder(Seq("id"), 2)),
      "compactZOrder" -> (_.compactZOrder(Seq("id", "v"), 2)))
    optimizers.foreach { case (name, optimize) =>
      val src = tmpDir(s"copy_opt_src_$name")
      val t = TxLog(spark, tmpDir(s"copy_opt_tbl_$name"), statsCols = Seq("id", "v"))
      stageFile(src, "a.parquet", Seq((1L, "a"), (2L, "b")))
      stageFile(src, "b.parquet", Seq((3L, "c"), (4L, "d")))
      t.copyInto(src, pattern = "a*")
      t.copyInto(src, pattern = "b*")
      t.deleteWhere("id = 4") // deletion-vector debt for purgeDeletes
      val rows = t.snapshot().count()
      val before = t.currentVersion()
      assert(optimize(t) === before + 1, s"$name committed nothing")
      assert(t.copiedFiles().count() === 2L, s"$name dropped the registry")
      assert(t.copyInto(src) === (before + 1, 0L), s"$name: re-run loaded files")
      assert(t.snapshot().count() === rows, name)
    }
  }

  test("SQL statement: COPY INTO with PATTERN and COPY_OPTIONS force") {
    val src = tmpDir("copy_sql_src")
    val t = TxLog(spark, tmpDir("copy_sql_tbl"))
    TxLogSql.register("copy_sql_tbl", t)
    stageFile(src, "x.parquet", Seq((1L, "a")))
    stageFile(src, "skip.other", Seq((2L, "b")))
    val out = spark.sql(
      s"COPY INTO copy_sql_tbl FROM '$src' FILEFORMAT = PARQUET " +
        "PATTERN = '*.parquet'").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((0L, 1L)))
    assert(spark.sql("SELECT count(*) FROM copy_sql_tbl").head().getLong(0) === 1L)
    // rerun no-op, then force via COPY_OPTIONS
    assert(spark.sql(
      s"COPY INTO copy_sql_tbl FROM '$src' FILEFORMAT = PARQUET " +
        "PATTERN = '*.parquet'").head().getLong(1) === 0L)
    assert(spark.sql(
      s"COPY INTO copy_sql_tbl FROM '$src' FILEFORMAT = PARQUET " +
        "PATTERN = '*.parquet' COPY_OPTIONS ('force' = 'true')")
      .head().getLong(1) === 1L)
    assert(spark.sql("SELECT count(*) FROM copy_sql_tbl").head().getLong(0) === 2L)
    TxLogSql.unregister("copy_sql_tbl")
  }

  test("FORMAT_OPTIONS values may contain ')': the clause body is quote-aware") {
    // a quoted option value containing a closing paren — e.g. a ')'
    // CSV separator — used to stop the [^)]* clause body early and
    // fail requireCleanTail on the valid remainder
    val src = tmpDir("copy_paren_src")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$src/rows.csv"), "id)v\n1)a\n2)b\n")
    val t = TxLog(spark, tmpDir("copy_paren_tbl"))
    t.overwrite(Seq.empty[(Long, String)].toDF("id", "v"))
    TxLogSql.register("copy_paren_tbl", t)
    val out = spark.sql(
      s"COPY INTO copy_paren_tbl FROM '$src' FILEFORMAT = CSV " +
        "PATTERN = '*.csv' FORMAT_OPTIONS ('sep' = ')', 'header' = 'true') " +
        "COPY_OPTIONS ('force' = 'false')").collect()
    assert(out.head.getLong(1) === 1L, "the csv file did not load")
    assert(spark.sql("SELECT id, v FROM copy_paren_tbl ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "b")))
    TxLogSql.unregister("copy_paren_tbl")
  }
}
