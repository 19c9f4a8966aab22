package graft.pipeline

import graft.SparkTestBase
import graft.sql.TxLogSql
import org.apache.spark.sql.functions._

/** SQL DML face of TxLog: MERGE INTO / UPDATE / DELETE strings routed
  * through GraftExtensions' resolution rule into the library calls. */
class TxLogSqlSpec extends SparkTestBase {
  import spark.implicits._

  private def fresh(name: String) = TxLog(spark, tmpDir(s"txsql_$name"))

  test("MERGE INTO string performs the SCD1 upsert, equal to the library merge") {
    val t = fresh("merge")
    t.overwrite(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "v", "x"))
    Seq((2L, "B", 99.0), (3L, "c", 30.0)).toDF("id", "v", "x")
      .createOrReplaceTempView("txsql_merge_src")
    TxLogSql.register("txsql_merge_tgt", t)
    val out = spark.sql("""
      MERGE INTO txsql_merge_tgt AS t USING txsql_merge_src AS s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L)) // committed version
    val rows = t.snapshot().collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(rows === Map(1L -> ("a", 10.0), 2L -> ("B", 99.0), 3L -> ("c", 30.0)))
  }

  test("MERGE source can be an arbitrary subquery") {
    val t = fresh("merge_subq")
    t.overwrite(Seq((1L, 1.0)).toDF("id", "x"))
    Seq((1L, 5.0), (1L, 7.0), (2L, 4.0)).toDF("id", "x")
      .createOrReplaceTempView("txsql_subq_src")
    TxLogSql.register("txsql_subq_tgt", t)
    spark.sql("""
      MERGE INTO txsql_subq_tgt t
      USING (SELECT id, sum(x) AS x FROM txsql_subq_src GROUP BY id) s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val rows = t.snapshot().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows === Map(1L -> 12.0, 2L -> 4.0))
  }

  test("UPDATE evaluates every RHS against the pre-update row (swap works)") {
    val t = fresh("update_swap")
    t.overwrite(Seq((1L, 10.0, 20.0), (2L, 1.0, 2.0)).toDF("id", "a", "b"))
    TxLogSql.register("txsql_swap_tgt", t)
    spark.sql("UPDATE txsql_swap_tgt SET a = b, b = a WHERE id = 1")
    val rows = t.snapshot().collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    assert(rows === Seq((1L, 20.0, 10.0), (2L, 1.0, 2.0)))
  }

  test("UPDATE without WHERE touches every row; unknown column is refused") {
    val t = fresh("update_all")
    t.overwrite(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "x"))
    TxLogSql.register("txsql_updall_tgt", t)
    spark.sql("UPDATE txsql_updall_tgt SET x = x * 10")
    assert(t.snapshot().agg(sum($"x")).head().getDouble(0) === 30.0)
    intercept[Exception] {
      spark.sql("UPDATE txsql_updall_tgt SET nope = 1")
    }
  }

  test("UPDATE under spark.graft.update.mode=mor rides deletion vectors; REORG purges") {
    val t = fresh("update_mor")
    t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    TxLogSql.register("txsql_updmor_tgt", t)
    spark.conf.set("spark.graft.update.mode", "mor")
    try {
      val dirsBefore = t.snapshotDataDirs().toSet
      spark.sql("UPDATE txsql_updmor_tgt SET v = upper(v) WHERE id <= 2")
      val rows = t.snapshot().collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows === Map(1L -> "A", 2L -> "B", 3L -> "c"))
      // MOR: every pre-update dir still referenced (tombstone + append,
      // no rewrite) and the catalog read serves the post-update state
      assert(dirsBefore.subsetOf(t.snapshotDataDirs().toSet))
      assert(spark.sql("SELECT v FROM txsql_updmor_tgt WHERE id = 1")
        .head().getString(0) === "A")
      // REORG TABLE ... APPLY (PURGE) materializes the DV debt
      val ver = spark.sql("REORG TABLE txsql_updmor_tgt APPLY (PURGE)")
        .head().getLong(0)
      assert(ver === t.currentVersion())
      assert(t.snapshot().collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap === rows)
      // an invalid mode is refused
      spark.conf.set("spark.graft.update.mode", "sideways")
      intercept[Exception] {
        spark.sql("UPDATE txsql_updmor_tgt SET v = 'x' WHERE id = 3")
      }
    } finally spark.conf.unset("spark.graft.update.mode")
  }

  test("DELETE FROM string rides the merge-on-read deletion-vector path") {
    val t = fresh("delete")
    t.overwrite(Seq((1L, "keep"), (2L, "drop"), (3L, "keep")).toDF("id", "v"))
    TxLogSql.register("txsql_del_tgt", t)
    val dirsBefore = t.snapshotDataDirs().toSet
    spark.sql("DELETE FROM txsql_del_tgt WHERE v = 'drop'")
    assert(t.snapshot().collect().map(_.getLong(0)).sorted === Seq(1L, 3L))
    // MOR: the data dirs were NOT rewritten (tombstones only)
    assert(t.snapshotDataDirs().toSet === dirsBefore)
    // time travel still sees the deleted row
    assert(t.snapshot(0).count() === 3)
  }

  test("conditional MERGE: AND conditions, DELETE, assignments, NOT MATCHED BY SOURCE") {
    val t = fresh("merge_full")
    t.overwrite(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L))
      .toDF("id", "v", "amt"))
    Seq((1L, "upd", 100L), (2L, "del", 5L), (9L, "new", 99L))
      .toDF("id", "v", "amt").createOrReplaceTempView("txsql_full_src")
    TxLogSql.register("txsql_full_tgt", t)
    spark.sql("""
      MERGE INTO txsql_full_tgt t USING txsql_full_src s ON t.id = s.id
      WHEN MATCHED AND s.amt >= 100 THEN UPDATE SET v = s.v, amt = t.amt + s.amt
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED AND s.amt > 50 THEN INSERT (id, v) VALUES (s.id, upper(s.v))
      WHEN NOT MATCHED BY SOURCE AND t.amt > 35 THEN DELETE""")
    val rows = t.snapshot().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    // 1 updated (10+100), 2 deleted, 3 untouched, 4 NMBS-deleted,
    // 9 inserted with NULL amt
    assert(rows === Seq(
      (1L, "upd", 110L), (3L, "c", 30L), (9L, "NEW", -1L)))
  }

  test("non-equi merge conditions route through the general merge") {
    val t = fresh("merge_range")
    t.overwrite(Seq((1L, 5L), (2L, 15L), (3L, 25L)).toDF("id", "x"))
    Seq((10L, 20L)).toDF("lo", "hi").createOrReplaceTempView("txsql_range_src")
    TxLogSql.register("txsql_range_tgt", t)
    // range-predicate ON: every target row inside [lo, hi) deletes
    spark.sql("""
      MERGE INTO txsql_range_tgt t USING txsql_range_src s
      ON t.x >= s.lo AND t.x < s.hi
      WHEN MATCHED THEN DELETE""")
    assert(t.snapshot().orderBy("id").collect().map(_.getLong(0)).toSeq ===
      Seq(1L, 3L))
  }

  test("MERGE cardinality violation fails the statement") {
    val t = fresh("merge_card")
    t.overwrite(Seq((1L, "a")).toDF("id", "v"))
    Seq((1L, "x"), (1L, "y")).toDF("id", "v")
      .createOrReplaceTempView("txsql_card_src")
    TxLogSql.register("txsql_card_tgt", t)
    val e = intercept[Exception] {
      spark.sql("""
        MERGE INTO txsql_card_tgt t USING txsql_card_src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET v = s.v""")
    }
    assert(e.getMessage.contains("cardinality violation"))
  }

  test("DML against an unregistered name falls through to Spark's own resolution error") {
    val e = intercept[Exception] {
      spark.sql("DELETE FROM txsql_never_registered WHERE 1 = 1")
    }
    assert(!e.getMessage.contains("TxLog"))
  }

  test("SELECT resolves a registered table to its current snapshot") {
    val t = fresh("read")
    t.overwrite(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "v", "x"))
    TxLogSql.register("txsql_read_tgt", t)
    // bare read, qualified columns, aggregates, self-join — all plain SQL
    assert(spark.sql("SELECT sum(x) FROM txsql_read_tgt").head().getDouble(0) === 30.0)
    val joined = spark.sql("""
      SELECT a.id, b.v FROM txsql_read_tgt a
      JOIN txsql_read_tgt b ON a.id = b.id WHERE a.x > 15""").collect()
    assert(joined.map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((2L, "b")))
  }

  test("VERSION AS OF reads the addressed snapshot; TIMESTAMP AS OF resolves by commit instant") {
    val t = fresh("tt")
    t.overwrite(Seq((1L, 1.0)).toDF("id", "x"))           // v0
    val afterV0 = System.currentTimeMillis()
    Thread.sleep(30)
    t.append(Seq((2L, 2.0)).toDF("id", "x"))              // v1
    Thread.sleep(30)
    t.overwrite(Seq((9L, 9.0)).toDF("id", "x"))           // v2
    TxLogSql.register("txsql_tt_tgt", t)
    def ids(sql: String): Seq[Long] =
      spark.sql(sql).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids("SELECT id FROM txsql_tt_tgt VERSION AS OF 0") === Seq(1L))
    assert(ids("SELECT id FROM txsql_tt_tgt VERSION AS OF 1") === Seq(1L, 2L))
    assert(ids("SELECT id FROM txsql_tt_tgt") === Seq(9L))
    assert(ids(
      s"SELECT id FROM txsql_tt_tgt TIMESTAMP AS OF timestamp_millis(${afterV0}L)")
      === Seq(1L))
    // string-literal timestamp form coerces like CAST(e AS TIMESTAMP)
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
    val lit = fmt.format(java.time.Instant.ofEpochMilli(afterV0))
    assert(ids(s"SELECT id FROM txsql_tt_tgt TIMESTAMP AS OF '$lit'") === Seq(1L))
    // versions across a UNION in one statement
    assert(spark.sql("""
      SELECT count(*) FROM (
        SELECT id FROM txsql_tt_tgt VERSION AS OF 1
        UNION ALL SELECT id FROM txsql_tt_tgt)""").head().getLong(0) === 3L)
  }

  test("INSERT INTO appends (positional and BY NAME); INSERT OVERWRITE replaces") {
    val t = fresh("insert")
    t.overwrite(Seq((1L, "a", 1.0)).toDF("id", "v", "x"))
    TxLogSql.register("txsql_ins_tgt", t)
    spark.sql("INSERT INTO txsql_ins_tgt VALUES (2, 'b', 2.5)")
    // BY NAME reorders source columns to the table schema
    Seq((3.5, "c", 3L)).toDF("x", "v", "id")
      .createOrReplaceTempView("txsql_ins_byname")
    spark.sql("INSERT INTO txsql_ins_tgt BY NAME SELECT * FROM txsql_ins_byname")
    val rows = t.snapshot().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    assert(rows === Seq((1L, "a", 1.0), (2L, "b", 2.5), (3L, "c", 3.5)))
    // width mismatch is refused with the supported surface spelled out
    val e = intercept[Exception] {
      spark.sql("INSERT INTO txsql_ins_tgt VALUES (4, 'd')")
    }
    assert(e.getMessage.contains("match the width"))
    spark.sql("INSERT OVERWRITE txsql_ins_tgt VALUES (7, 'z', 0.0)")
    assert(t.snapshot().collect().map(_.getLong(0)).toSeq === Seq(7L))
    // history preserved: the pre-overwrite state is still addressable
    assert(spark.sql("SELECT count(*) FROM txsql_ins_tgt VERSION AS OF 2")
      .head().getLong(0) === 3L)
  }

  test("INSERT store-assignment is ANSI: an unrepresentable value fails the commit, never lands as NULL") {
    val t = fresh("insert_ansi")
    t.overwrite(Seq((1L, 10L)).toDF("id", "n"))
    TxLogSql.register("txsql_ins_ansi", t)
    // 'oops' cannot cast to BIGINT — legacy cast would commit NULL
    val e = intercept[Exception] {
      spark.sql("INSERT INTO txsql_ins_ansi VALUES (2, 'oops')")
    }
    assert(e.getMessage.toLowerCase.contains("cast") ||
      Option(e.getCause).exists(_.getMessage.toLowerCase.contains("cast")))
    assert(t.currentVersion() === 0L) // nothing committed
    assert(t.snapshot().count() === 1L)
    // a representable string still coerces (ANSI allows valid casts)
    spark.sql("INSERT INTO txsql_ins_ansi VALUES (3, '30')")
    assert(t.snapshot().collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toSeq === Seq((1L, 10L), (3L, 30L)))
  }

  test("table_changes TVF serves the CDF with keys from the registration; txlog_history lists versions") {
    val t = fresh("tvf")
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))            // v0
    t.merge(Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"))     // v1
    t.deleteWhere("id = 1")                                           // v2
    TxLogSql.register("txsql_tvf_tgt", t, keys = Seq("id"))
    // starting version INCLUSIVE, exactly Delta's table_changes: the
    // v0 seed serves as inserts at commit 0
    val feed = spark.sql(
      "SELECT _change_type, _commit_version, id FROM table_changes('txsql_tvf_tgt', 0, 2)")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(feed === Set(
      ("insert", 0L, 1L), ("insert", 0L, 2L),
      ("update_preimage", 1L, 2L), ("update_postimage", 1L, 2L),
      ("insert", 1L, 3L), ("delete", 2L, 1L)))
    // TVF composes like any relation (aggregate over it); from=1
    // starts after the seed
    assert(spark.sql("""
      SELECT count(*) FROM table_changes('txsql_tvf_tgt', 1, 1)""")
      .head().getLong(0) === 3L)
    val hist = spark.sql("SELECT version, operation FROM txlog_history('txsql_tvf_tgt')")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(hist.map(_._1) === Seq(2L, 1L, 0L)) // newest first
    assert(hist.map(_._2) === Seq("DELETE", "MERGE", "OVERWRITE"))
    // a table registered WITHOUT keys refuses table_changes with a clear error
    val t2 = fresh("tvf_nokeys")
    t2.overwrite(Seq((1L, "x")).toDF("id", "v"))
    TxLogSql.register("txsql_tvf_nokeys", t2)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM table_changes('txsql_tvf_nokeys', 0, 0)").collect()
    }
    assert(e.getMessage.contains("without key columns"))
  }

  test("SQL DML works against a GoldCatalog gold table, and each read sees the latest commit") {
    val cat = GoldCatalog(spark, tmpDir("txsql_gold_wh"))
    cat.ensureDatabases()
    cat.saveAsTable(Seq((1L, "alpha", 10.0), (2L, "beta", 20.0))
      .toDF("id", "name", "bal"), "gold", "dim_txsql")
    // gold.dim_txsql resolves through the name registry to its TxLog
    Seq((2L, "BETA", 99.0), (3L, "gamma", 30.0)).toDF("id", "name", "bal")
      .createOrReplaceTempView("txsql_gold_src")
    spark.sql("""
      MERGE INTO gold.dim_txsql t USING txsql_gold_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    // a read after the SQL commit sees the merged state
    val afterMerge = spark.table("gold.dim_txsql").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(afterMerge === Map(1L -> "alpha", 2L -> "BETA", 3L -> "gamma"))
    spark.sql("UPDATE gold.dim_txsql SET bal = bal + 1 WHERE id = 1")
    spark.sql("INSERT INTO gold.dim_txsql VALUES (4, 'delta', 40.0)")
    spark.sql("DELETE FROM gold.dim_txsql WHERE id = 2")
    val t = cat.txlog("gold", "dim_txsql")
    assert(t.currentVersion() === 4L) // overwrite + merge + update + insert + delete
    val end = spark.sql("SELECT id, bal FROM gold.dim_txsql ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(end === Seq((1L, 11.0), (3L, 30.0), (4L, 40.0)))
    // INSERT routed through the LOG, not into the snapshot dir: the
    // pre-insert version must NOT contain the inserted row
    assert(t.snapshot(2).collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    // time travel through the gold name
    assert(spark.sql("SELECT count(*) FROM gold.dim_txsql VERSION AS OF 0")
      .head().getLong(0) === 2L)
    cat.dropTable("gold", "dim_txsql")
  }

  test("a 3-part spark_catalog.gold name reads and merges the gold table") {
    val cat = GoldCatalog(spark, tmpDir("txsql_gold3_wh"))
    cat.ensureDatabases()
    cat.saveAsTable(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "gold", "dim_txsql3")
    assert(spark.sql("SELECT count(*) FROM spark_catalog.gold.dim_txsql3")
      .head().getLong(0) === 2L)
    Seq((2L, "B"), (3L, "c")).toDF("id", "v").createOrReplaceTempView("txsql_gold3_src")
    spark.sql("""
      MERGE INTO spark_catalog.gold.dim_txsql3 t USING txsql_gold3_src s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    assert(cat.txlog("gold", "dim_txsql3").currentVersion() === 1L)
    val rows = spark.sql("SELECT id, v FROM spark_catalog.gold.dim_txsql3").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows === Map(1L -> "a", 2L -> "B", 3L -> "c"))
    cat.dropTable("gold", "dim_txsql3")
  }

  test("SELECT * of a registered name equals snapshot() for every read-semantics shape") {
    // each shape: a table whose snapshot() applies one of the read
    // rules a plain parquet scan of its dirs would get wrong
    def partitioned(t: TxLog): Unit = {
      t.overwritePartitioned(Seq(("a", "r1", 1L, "x1"), ("a", "r2", 2L, "x2"),
        ("b", "r1", 3L, "x3"), ("c", "r2", 4L, "x4")).toDF("day", "region", "id", "v"), "day")
      // pruned merge on day=b: the first dir stays live for a,c only —
      // its day=b row (id=3 "x3") is dead, superseded by "X3"
      t.mergePartitioned(Seq(("b", "r1", 3L, "X3")).toDF("day", "region", "id", "v"),
        Seq("id"), "day")
    }
    val shapes: Seq[(String, TxLog => Unit)] = Seq(
      "partition tags, dead partitions of a multi-tagged dir" -> partitioned,
      "NULL-fill after additive evolution" -> { t =>
        t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
        t.append(Seq((3L, "c", 30.0)).toDF("id", "v", "score"))
      },
      "merge-on-read deletes" -> { t =>
        t.overwrite((1L to 5L).map(i => (i, i * 10L)).toDF("id", "amt"))
        t.append((6L to 8L).map(i => (i, i * 10L)).toDF("id", "amt"))
        t.deleteWhere("amt >= 40 AND amt <= 60")
      },
      "column-mapped names" -> { t =>
        t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
        t.append(Seq((3L, "c")).toDF("id", "v"))
        t.renameColumn("v", "amount")
        t.append(Seq((4L, "d")).toDF("id", "amount"))
      },
      "evolved partition scheme" -> { t =>
        partitioned(t)
        t.evolvePartitioning("region")
      })
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (r, rs) => r -> rs.size }
    shapes.zipWithIndex.foreach { case ((shape, build), i) =>
      val t = fresh(s"readshape_$i")
      build(t)
      TxLogSql.register(s"txsql_readshape_$i", t)
      val viaSql = spark.sql(s"SELECT * FROM txsql_readshape_$i")
      assert(viaSql.columns.toSeq === t.snapshot().columns.toSeq, shape)
      assert(bag(viaSql) === bag(t.snapshot()), shape)
    }
  }

  test("a registered table resolves inside subquery EXPRESSIONS (IN / scalar)") {
    val t = fresh("subq_read")
    t.overwrite(Seq((1L, 5.0), (2L, 50.0), (3L, 500.0)).toDF("id", "x"))
    TxLogSql.register("txsql_subq_read", t)
    Seq((1L, "p"), (2L, "q"), (9L, "r")).toDF("id", "tag")
      .createOrReplaceTempView("txsql_subq_probe")
    // IN-subquery over the registered table
    val in = spark.sql("""
      SELECT tag FROM txsql_subq_probe
      WHERE id IN (SELECT id FROM txsql_subq_read WHERE x >= 50)""")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(in === Seq("q"))
    // scalar subquery over a time-traveled read
    t.append(Seq((4L, 5000.0)).toDF("id", "x"))
    val s = spark.sql("""
      SELECT (SELECT sum(x) FROM txsql_subq_read VERSION AS OF 0) AS v0,
             (SELECT sum(x) FROM txsql_subq_read) AS cur""").head()
    assert(s.getDouble(0) === 555.0 && s.getDouble(1) === 5555.0)
  }

  test("a TxLog read can be the SOURCE of DML against another TxLog table") {
    val src = fresh("dmlsrc")
    src.overwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x"))
    val tgt = fresh("dmltgt")
    tgt.overwrite(Seq((1L, 0.0)).toDF("id", "x"))
    TxLogSql.register("txsql_dml_src", src)
    TxLogSql.register("txsql_dml_tgt2", tgt)
    spark.sql("""
      MERGE INTO txsql_dml_tgt2 t
      USING (SELECT id, x FROM txsql_dml_src) s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val rows = tgt.snapshot().collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows === Map(1L -> 10.0, 2L -> 20.0))
    spark.sql("INSERT INTO txsql_dml_tgt2 SELECT id + 100, x FROM txsql_dml_src")
    assert(tgt.snapshot().count() === 4)
  }
}
