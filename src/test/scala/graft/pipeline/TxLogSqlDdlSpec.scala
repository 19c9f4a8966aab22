package graft.pipeline

import graft.SparkTestBase
import graft.sql.TxLogSql
import org.apache.spark.sql.functions._

/** SQL DDL face: a TxLog table's WHOLE LIFE driven purely by SQL
  * strings — create, insert, merge, update, delete, time travel,
  * history, optimize, z-order, vacuum — with zero library calls in
  * the driving code (the r7/r8 verdict item: tables must not need
  * Scala registration to exist in SQL). */
class TxLogSqlDdlSpec extends SparkTestBase {
  import spark.implicits._

  test("full SQL lifecycle: CREATE … USING graft → DML → history → OPTIMIZE → VACUUM") {
    val loc = tmpDir("sqlddl_life")
    spark.sql(s"""
      CREATE TABLE sqlddl_life (id BIGINT, v STRING, bal DECIMAL(18,2))
      USING graft TBLPROPERTIES ('keys'='id') LOCATION '$loc'""")
    // v0 is the empty seed with the declared schema
    assert(spark.sql("SELECT * FROM sqlddl_life").columns.toSeq ===
      Seq("id", "v", "bal"))
    assert(spark.sql("SELECT count(*) FROM sqlddl_life").head().getLong(0) === 0L)
    spark.sql("INSERT INTO sqlddl_life VALUES (1, 'a', 10.00), (2, 'b', 20.00)")
    Seq((2L, "B", BigDecimal("21.00")), (3L, "c", BigDecimal("30.00")))
      .toDF("id", "v", "bal").createOrReplaceTempView("sqlddl_src")
    spark.sql("""
      MERGE INTO sqlddl_life AS t USING sqlddl_src AS s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    spark.sql("UPDATE sqlddl_life SET bal = bal + 1 WHERE id = 1")
    spark.sql("DELETE FROM sqlddl_life WHERE id = 3")
    val now = spark.sql("SELECT id, v, CAST(bal AS DOUBLE) FROM sqlddl_life")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(now === Set((1L, "a", 11.0), (2L, "B", 21.0)))
    // time travel + CDF through the same registration
    assert(spark.sql("SELECT count(*) FROM sqlddl_life VERSION AS OF 1")
      .head().getLong(0) === 2L)
    assert(spark.sql(
      "SELECT count(*) FROM table_changes('sqlddl_life', 0, 1)")
      .head().getLong(0) === 2L) // empty seed + 2 inserts
    // DESCRIBE HISTORY: 5 commits, newest first, operations recorded
    val hist = spark.sql("DESCRIBE HISTORY sqlddl_life")
      .select("version", "operation").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(hist.map(_._1) === Seq(4L, 3L, 2L, 1L, 0L))
    assert(hist.map(_._2) ===
      Seq("DELETE", "UPDATE", "MERGE", "APPEND", "OVERWRITE"))
    // OPTIMIZE bin-packs the small dirs into a new version
    val ov = spark.sql("OPTIMIZE sqlddl_life").head().getLong(0)
    assert(ov === 5L)
    assert(spark.sql("SELECT count(*) FROM sqlddl_life").head().getLong(0) === 2L)
    // VACUUM RETAIN 1 VERSIONS: only the optimized head survives
    assert(spark.sql("VACUUM sqlddl_life RETAIN 1 VERSIONS")
      .head().getString(0) === loc)
    intercept[Exception] {
      spark.sql("SELECT * FROM sqlddl_life VERSION AS OF 0").collect()
    }
    assert(spark.sql("SELECT count(*) FROM sqlddl_life").head().getLong(0) === 2L)
    TxLogSql.unregister("sqlddl_life")
  }

  test("CREATE TABLE attaches an existing table; schema mismatch and double-create are refused") {
    val loc = tmpDir("sqlddl_attach")
    TxLog(spark, loc).overwrite(Seq((1L, "x")).toDF("id", "v"))
    // attach WITHOUT a column list: schema comes from the log
    spark.sql(s"CREATE TABLE sqlddl_att USING graft LOCATION '$loc'")
    assert(spark.sql("SELECT id, v FROM sqlddl_att").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "x")))
    // re-create over the same location without IF NOT EXISTS + schema: refused
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE sqlddl_att2 (id BIGINT, v STRING) USING graft LOCATION '$loc'")
    }
    assert(e.getMessage.contains("already exists"))
    // IF NOT EXISTS with a MATCHING schema attaches quietly
    spark.sql(s"CREATE TABLE IF NOT EXISTS sqlddl_att3 (id BIGINT, v STRING) USING graft LOCATION '$loc'")
    assert(spark.sql("SELECT count(*) FROM sqlddl_att3").head().getLong(0) === 1L)
    // IF NOT EXISTS with a WRONG schema is still refused (silent
    // mis-attachment would corrupt later INSERT alignment)
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE TABLE IF NOT EXISTS sqlddl_att4 (id INT) USING graft LOCATION '$loc'")
    }
    assert(e2.getMessage.contains("does not match"))
    Seq("sqlddl_att", "sqlddl_att3").foreach(TxLogSql.unregister)
  }

  test("OPTIMIZE … ZORDER BY rewrites the layout and stats-prunes on both columns") {
    val loc = tmpDir("sqlddl_zorder")
    spark.sql(s"CREATE TABLE sqlddl_z (a BIGINT, b BIGINT, p STRING) USING graft LOCATION '$loc'")
    val rows = (0L until 1024L).map(i => (i % 32, i / 32, s"r$i"))
    rows.toDF("a", "b", "p").createOrReplaceTempView("sqlddl_z_src")
    spark.sql("INSERT INTO sqlddl_z SELECT * FROM sqlddl_z_src")
    val v = spark.sql("OPTIMIZE sqlddl_z ZORDER BY (a, b)").head().getLong(0)
    assert(v === 2L)
    assert(spark.sql("SELECT count(*) FROM sqlddl_z").head().getLong(0) === 1024L)
    // the z-ordered table range-prunes on BOTH columns: a point read
    // opens fewer dirs than the table has
    val t = TxLog(spark, loc, statsCols = Seq("a", "b"))
    val all = new java.io.File(s"$loc/data").listFiles().count(_.isDirectory)
    assert(t.pointDirs("a", "3").size < all)
    assert(t.pointDirs("b", "3").size < all)
    TxLogSql.unregister("sqlddl_z")
  }

  test("OPTIMIZE … ZORDER BY one column commits a version that range-prunes on it") {
    val loc = tmpDir("sqlddl_zorder1")
    spark.sql(s"CREATE TABLE sqlddl_z1 (c BIGINT, p STRING) USING graft LOCATION '$loc'")
    (0L until 1024L).map(i => ((i * 37) % 1024, s"r$i")).toDF("c", "p")
      .createOrReplaceTempView("sqlddl_z1_src")
    spark.sql("INSERT INTO sqlddl_z1 SELECT * FROM sqlddl_z1_src")
    val v = spark.sql("OPTIMIZE sqlddl_z1 ZORDER BY (c)").head().getLong(0)
    assert(v === 2L)
    assert(spark.sql("SELECT count(*) FROM sqlddl_z1").head().getLong(0) === 1024L)
    // the dirs are disjoint slices of c: a narrow range opens fewer
    // dirs than the table has
    val t = TxLog(spark, loc)
    val total = t.snapshotDataDirs().length
    assert(t.rangeDirs("0", "15", Some("c")).length < total, s"opened all $total dirs")
    TxLogSql.unregister("sqlddl_z1")
  }

  test("OPTIMIZE … WHERE scopes the pass to the named partitions; predicates are validated") {
    val loc = tmpDir("sqlddl_optwhere")
    val t = TxLog(spark, loc)
    t.overwritePartitioned(Seq(("a", 1L, "x1"), ("b", 2L, "x2"))
      .toDF("day", "id", "v"), "day")
    (3L to 8L).foreach { i =>
      val d = if (i % 2 == 0) "a" else "b"
      t.append(Seq((d, i, s"x$i")).toDF("day", "id", "v"), tagBy = Some("day"))
    }
    TxLogSql.register("sqlddl_ow", t)
    val dirsBefore = new java.io.File(s"$loc/data").listFiles().count(_.isDirectory)
    val v = spark.sql("OPTIMIZE sqlddl_ow WHERE day = 'a'").head().getLong(0)
    assert(v === t.currentVersion())
    assert(spark.sql("SELECT count(*) FROM sqlddl_ow").head().getLong(0) === 8L)
    // only day=a's debt packed; b's dirs untouched on disk
    assert(new java.io.File(s"$loc/data").listFiles().count(_.isDirectory)
      === dirsBefore + 1) // one packed dir added; vacuum reclaims the rest
    // IN-list form parses and is a no-op now for a (already packed)
    val v2 = spark.sql("OPTIMIZE sqlddl_ow WHERE day IN ('a')").head().getLong(0)
    assert(v2 === v)
    // non-partition column refused
    val e1 = intercept[Exception](
      spark.sql("OPTIMIZE sqlddl_ow WHERE id = '1'").collect())
    assert(e1.getMessage.contains("partition column"))
    // WHERE + ZORDER refused
    val e2 = intercept[Exception](
      spark.sql("OPTIMIZE sqlddl_ow WHERE day = 'a' ZORDER BY (id)").collect())
    assert(e2.getMessage.contains("cannot combine"))
    // unsupported predicate shape refused
    val e3 = intercept[Exception](
      spark.sql("OPTIMIZE sqlddl_ow WHERE day > 'a'").collect())
    assert(e3.getMessage.contains("supports only"))
    TxLogSql.unregister("sqlddl_ow")
  }

  test("OPTIMIZE WHERE accepts bare literals and quote-aware IN lists") {
    val loc = tmpDir("sqlddl_owq")
    val t = TxLog(spark, loc)
    // partition values that break naive parsing: numeric-looking, a
    // comma inside the value, an embedded quote
    t.overwritePartitioned(Seq(("5", 1L), ("a,b", 2L), ("it's", 3L), ("plain", 4L))
      .toDF("day", "id"), "day")
    (1 to 2).foreach(i =>
      t.append(Seq(("5", 10L + i)).toDF("day", "id"), tagBy = Some("day")))
    TxLogSql.register("sqlddl_owq", t)
    // bare literal: same scope as the quoted form (tags are the
    // cast-to-string encoding, so `day = 5` names partition '5')
    val before = new java.io.File(s"$loc/data").listFiles().count(_.isDirectory)
    spark.sql("OPTIMIZE sqlddl_owq WHERE day = 5")
    assert(new java.io.File(s"$loc/data").listFiles().count(_.isDirectory)
      === before + 1) // one packed dir for partition 5's three entries
    // IN list: a comma INSIDE quotes must not split; '' unescapes; a
    // bare member parses alongside quoted ones
    spark.sql("OPTIMIZE sqlddl_owq WHERE day IN ('a,b', 'it''s', plain)")
    assert(spark.sql("SELECT count(*) FROM sqlddl_owq").head().getLong(0) === 6L)
    assert(spark.sql("SELECT id FROM sqlddl_owq WHERE day = 'a,b'")
      .head().getLong(0) === 2L)
    // a compound predicate swallowed by the greedy RHS capture is
    // refused loudly, not silently mis-scoped
    val e = intercept[Exception](
      spark.sql("OPTIMIZE sqlddl_owq WHERE day = 'a,b' AND id = 1").collect())
    assert(e.getMessage.contains("supports only"))
    TxLogSql.unregister("sqlddl_owq")
  }

  test("SHOW PARTITIONS / DESCRIBE DETAIL / VACUUM DRY RUN: metadata statements answer from the manifest") {
    val loc = tmpDir("sqlddl_meta")
    val t = TxLog(spark, loc)
    t.overwritePartitioned(Seq(("a", 1L), ("b", 2L), ("c", 3L))
      .toDF("day", "id"), "day")
    t.overwritePartitioned(Seq(("a", 1L), ("b", 2L)).toDF("day", "id"), "day")
    TxLogSql.register("sqlddl_meta", t)
    // SHOW PARTITIONS: manifest tags, col=value form, sorted — the
    // overwrite dropped c, and only the CURRENT snapshot answers
    assert(spark.sql("SHOW PARTITIONS sqlddl_meta").collect()
      .map(_.getString(0)).toSeq === Seq("day=a", "day=b"))
    // DESCRIBE DETAIL: physical metadata of the CURRENT snapshot only
    val d = spark.sql("DESCRIBE DETAIL sqlddl_meta").head()
    assert(d.getString(0) === "graft")
    assert(d.getString(1) === loc)
    assert(d.getLong(2) === 1L) // version
    assert(d.getLong(3) >= 1L) // numFiles: live snapshot's files only
    assert(d.getLong(4) > 0L)
    assert(d.getString(5) === "day")
    assert(d.getLong(7) === 0L) // numDeletionVectors: clean table
    // VACUUM DRY RUN lists v0's now-unreferenced dir without deleting
    val planned = spark.sql("VACUUM sqlddl_meta RETAIN 1 VERSIONS DRY RUN")
      .collect().map(_.getString(0))
    assert(planned.exists(_.contains("/data/")))
    assert(planned.exists(_.endsWith("00000000.json")))
    planned.foreach(p => assert(new java.io.File(p.stripPrefix("file:")).exists(),
      s"DRY RUN must not delete: $p"))
    assert(spark.sql("SELECT count(*) FROM sqlddl_meta VERSION AS OF 0")
      .head().getLong(0) === 3L) // time travel still works — nothing deleted
    // the real pass deletes exactly the planned set
    spark.sql("VACUUM sqlddl_meta RETAIN 1 VERSIONS")
    planned.foreach(p =>
      assert(!new java.io.File(p.stripPrefix("file:")).exists(), s"not deleted: $p"))
    // empty partitioned snapshot: partCol survives, zero values, and
    // SHOW PARTITIONS exercises the untagged-entry data fallback
    t.overwritePartitioned(Seq.empty[(String, Long)].toDF("day", "id"), "day")
    assert(spark.sql("SHOW PARTITIONS sqlddl_meta").count() === 0L)
    // an unpartitioned table is refused
    val u = TxLog(spark, tmpDir("sqlddl_meta_untagged"))
    u.overwrite(Seq((1L, "x")).toDF("id", "v"))
    TxLogSql.register("sqlddl_meta_u", u)
    val e = intercept[Exception](spark.sql("SHOW PARTITIONS sqlddl_meta_u").collect())
    assert(e.getMessage.contains("not partitioned"))
    TxLogSql.unregister("sqlddl_meta_u")
    TxLogSql.unregister("sqlddl_meta")
  }

  test("CREATE TABLE PARTITIONED BY: a purely-SQL table is tagged from day one; SHOW CREATE re-runs") {
    val loc = tmpDir("sqlddl_partby")
    spark.sql(s"""
      CREATE TABLE sqlddl_pb (day STRING, id BIGINT, v STRING)
      USING graft PARTITIONED BY (day) LOCATION '$loc'""")
    val t = TxLog(spark, loc)
    assert(t.partitionColumn() === Some("day")) // empty seed keeps partCol
    spark.sql("INSERT INTO sqlddl_pb VALUES ('a', 1, 'x1'), ('b', 2, 'x2')")
    spark.sql("INSERT INTO sqlddl_pb VALUES ('a', 3, 'x3')")
    // plain INSERTs tag their dirs: partition metadata answers SHOW
    // PARTITIONS and scoped OPTIMIZE works on a SQL-only table
    assert(spark.sql("SHOW PARTITIONS sqlddl_pb").collect()
      .map(_.getString(0)).toSeq === Seq("day=a", "day=b"))
    spark.sql("OPTIMIZE sqlddl_pb WHERE day = 'a'")
    assert(spark.sql("SELECT count(*) FROM sqlddl_pb").head().getLong(0) === 3L)
    // INSERT OVERWRITE keeps the table partitioned
    spark.sql("INSERT OVERWRITE sqlddl_pb VALUES ('c', 9, 'x9')")
    assert(t.partitionColumn() === Some("day"))
    assert(spark.sql("SHOW PARTITIONS sqlddl_pb").collect()
      .map(_.getString(0)).toSeq === Seq("day=c"))
    // SHOW CREATE TABLE emits 'clustered_by' and that output re-runs
    // into an equally-partitioned table
    val ddl = spark.sql("SHOW CREATE TABLE sqlddl_pb").head().getString(0)
    assert(ddl.contains("'clustered_by' = 'day'"))
    val loc2 = tmpDir("sqlddl_partby2")
    spark.sql(ddl.replace("sqlddl_pb", "sqlddl_pb2")
      .replace(s"LOCATION '$loc'", s"LOCATION '$loc2'"))
    assert(TxLog(spark, loc2).partitionColumn() === Some("day"))
    // a PARTITIONED BY column missing from the schema is refused
    val e = intercept[Exception](spark.sql(s"""
      CREATE TABLE sqlddl_pb3 (id BIGINT) USING graft
      PARTITIONED BY (nope) LOCATION '${tmpDir("sqlddl_partby3")}'"""))
    assert(e.getMessage.contains("not in the schema"))
    // unsupported PARTITIONED BY shapes fail loudly instead of
    // silently creating an unpartitioned table
    val e2 = intercept[Exception](spark.sql(s"""
      CREATE TABLE sqlddl_pb4 (a STRING, b STRING) USING graft
      PARTITIONED BY (a, b) LOCATION '${tmpDir("sqlddl_partby4")}'"""))
    assert(e2.getMessage.contains("single-column"))
    val e3 = intercept[Exception](spark.sql(s"""
      CREATE TABLE sqlddl_pb5 (day STRING, id BIGINT) USING graft
      PARTITIONED BY (day STRING) LOCATION '${tmpDir("sqlddl_partby5")}'"""))
    assert(e3.getMessage.contains("single-column"))
    // INSERT with a NULL partition value degrades to an untagged
    // append instead of crashing
    spark.sql("INSERT INTO sqlddl_pb VALUES (NULL, 7, 'x7'), ('d', 8, 'x8')")
    assert(spark.sql("SELECT count(*) FROM sqlddl_pb WHERE day IS NULL")
      .head().getLong(0) === 1L)
    assert(spark.sql("SHOW PARTITIONS sqlddl_pb").collect()
      .map(_.getString(0)).toSeq === Seq("day=c", "day=d"))
    Seq("sqlddl_pb", "sqlddl_pb2").foreach(TxLogSql.unregister)
  }

  test("managed location: CREATE TABLE without LOCATION lands under the warehouse dir") {
    val name = "sqlddl_managed"
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:").stripSuffix("/")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$wh/graft/$name"))
    spark.sql(s"CREATE TABLE $name (k INT) USING graft")
    spark.sql(s"INSERT INTO $name VALUES (7)")
    assert(spark.sql(s"SELECT k FROM $name").head().getInt(0) === 7)
    assert(new java.io.File(s"$wh/graft/$name/_txlog").exists())
    TxLogSql.unregister(name)
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT: validates existing data, binds later writers, metadata-only") {
    val loc = tmpDir("sqlddl_constraint")
    spark.sql(s"CREATE TABLE sqlddl_chk (id BIGINT, bal DECIMAL(18,2)) USING graft LOCATION '$loc'")
    spark.sql("INSERT INTO sqlddl_chk VALUES (1, 10.00), (2, 20.00)")
    val v = spark.sql(
      "ALTER TABLE sqlddl_chk ADD CONSTRAINT bal_pos CHECK (bal >= 0)")
      .head().getLong(0)
    assert(v === 2L) // metadata-only commit
    assert(spark.sql("SELECT count(*) FROM sqlddl_chk").head().getLong(0) === 2L)
    // the constraint binds every later writer — violating INSERT refused
    intercept[Exception](spark.sql("INSERT INTO sqlddl_chk VALUES (3, -1.00)"))
    assert(spark.sql("SELECT count(*) FROM sqlddl_chk").head().getLong(0) === 2L)
    // idempotent re-add; different predicate under the same name refused
    assert(spark.sql(
      "ALTER TABLE sqlddl_chk ADD CONSTRAINT bal_pos CHECK (bal >= 0)")
      .head().getLong(0) === 2L)
    val e = intercept[Exception](spark.sql(
      "ALTER TABLE sqlddl_chk ADD CONSTRAINT bal_pos CHECK (bal > 5)"))
    assert(e.getMessage.contains("different predicate"))
    // a constraint EXISTING data violates is refused, nothing committed
    intercept[Exception](spark.sql(
      "ALTER TABLE sqlddl_chk ADD CONSTRAINT bal_big CHECK (bal > 15)"))
    assert(TxLog(spark, loc).currentVersion() === 2L)
    // DROP releases it: the same insert now commits
    spark.sql("ALTER TABLE sqlddl_chk DROP CONSTRAINT bal_pos")
    spark.sql("INSERT INTO sqlddl_chk VALUES (3, -1.00)")
    assert(spark.sql("SELECT count(*) FROM sqlddl_chk").head().getLong(0) === 3L)
    // dropping a missing name is refused loudly
    val e2 = intercept[Exception](spark.sql(
      "ALTER TABLE sqlddl_chk DROP CONSTRAINT no_such"))
    assert(e2.getMessage.contains("no CHECK constraint"))
    // the audit trail records both metadata commits
    val ops = spark.sql("DESCRIBE HISTORY sqlddl_chk")
      .select("operation").collect().map(_.getString(0)).toSeq
    assert(ops.contains("ADD CONSTRAINT bal_pos") &&
      ops.contains("DROP CONSTRAINT bal_pos"))
    TxLogSql.unregister("sqlddl_chk")
  }

  test("DESCRIBE TABLE lists the snapshot's columns + partitioning; DROP TABLE unregisters, data survives") {
    val loc = tmpDir("sqlddl_descdrop")
    spark.sql(s"CREATE TABLE sqlddl_dd (id BIGINT, v STRING) USING graft LOCATION '$loc'")
    spark.sql("INSERT INTO sqlddl_dd VALUES (1, 'a')")
    val desc = spark.sql("DESCRIBE TABLE sqlddl_dd").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(desc.toSeq === Seq(("id", "bigint"), ("v", "string")))
    // a clustered table reports its partitioning section
    val loc2 = tmpDir("sqlddl_descdrop2")
    TxLog(spark, loc2).overwriteClustered(
      Seq((0L, "x"), (1L, "y")).toDF("k", "s"), "k")
    spark.sql(s"CREATE TABLE sqlddl_dd2 USING graft LOCATION '$loc2'")
    val desc2 = spark.sql("DESC sqlddl_dd2").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(desc2.contains(("# Partitioning", "")) && desc2.contains(("part_0", "k")))
    // DROP TABLE: the SQL name dies, the transaction log survives
    spark.sql("DROP TABLE sqlddl_dd")
    intercept[Exception](spark.sql("SELECT * FROM sqlddl_dd").collect())
    assert(TxLog(spark, loc).snapshot().count() === 1L) // data intact
    // and the location re-attaches
    spark.sql(s"CREATE TABLE sqlddl_dd3 USING graft LOCATION '$loc'")
    assert(spark.sql("SELECT count(*) FROM sqlddl_dd3").head().getLong(0) === 1L)
    Seq("sqlddl_dd2", "sqlddl_dd3").foreach(TxLogSql.unregister)
  }

  test("CTAS + CREATE OR REPLACE: schema from the query, replace keeps history") {
    val loc = tmpDir("sqlddl_ctas")
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "v", "x").createOrReplaceTempView("sqlddl_ctas_src")
    spark.sql(s"""
      CREATE TABLE sqlddl_ctas USING graft TBLPROPERTIES ('keys'='id')
      LOCATION '$loc'
      AS SELECT id, v FROM sqlddl_ctas_src WHERE id < 3""")
    assert(spark.sql("SELECT * FROM sqlddl_ctas").columns.toSeq === Seq("id", "v"))
    assert(spark.sql("SELECT count(*) FROM sqlddl_ctas").head().getLong(0) === 2L)
    // plain CTAS over an existing table is refused; IF NOT EXISTS no-ops
    val e = intercept[Exception](spark.sql(
      s"CREATE TABLE sqlddl_ctas USING graft LOCATION '$loc' AS SELECT 1 AS one"))
    assert(e.getMessage.contains("already exists"))
    spark.sql(s"CREATE TABLE IF NOT EXISTS sqlddl_ctas USING graft LOCATION '$loc' AS SELECT 1 AS one")
    assert(spark.sql("SELECT count(*) FROM sqlddl_ctas").head().getLong(0) === 2L)
    // OR REPLACE overwrites THROUGH the log: new schema, history intact
    spark.sql(s"""
      CREATE OR REPLACE TABLE sqlddl_ctas USING graft LOCATION '$loc'
      AS SELECT id, x FROM sqlddl_ctas_src""")
    assert(spark.sql("SELECT * FROM sqlddl_ctas").columns.toSeq === Seq("id", "x"))
    assert(spark.sql("SELECT count(*) FROM sqlddl_ctas").head().getLong(0) === 3L)
    // the pre-replace snapshot is still time-travelable
    assert(spark.sql("SELECT count(*) FROM sqlddl_ctas VERSION AS OF 0")
      .head().getLong(0) === 2L)
    // a column list AND a query together are refused
    val e2 = intercept[Exception](spark.sql(
      s"CREATE OR REPLACE TABLE sqlddl_ctas (id BIGINT) USING graft LOCATION '$loc' AS SELECT 1 AS one"))
    assert(e2.getMessage.contains("mutually exclusive"))
    TxLogSql.unregister("sqlddl_ctas")
  }

  test("ALTER TABLE ADD/RENAME/DROP COLUMN: evolution + mapping, zero data rewritten") {
    val loc = tmpDir("sqlddl_cols")
    spark.sql(s"CREATE TABLE sqlddl_cols (id BIGINT, v STRING) USING graft LOCATION '$loc'")
    spark.sql("INSERT INTO sqlddl_cols VALUES (1, 'a'), (2, 'b')")
    // ADD COLUMNS: existing rows read the new column as null
    val v = spark.sql("ALTER TABLE sqlddl_cols ADD COLUMNS (score DOUBLE)")
      .head().getLong(0)
    assert(v === 2L)
    assert(spark.sql("SELECT * FROM sqlddl_cols").columns.toSeq ===
      Seq("id", "v", "score"))
    assert(spark.sql("SELECT count(*) FROM sqlddl_cols WHERE score IS NULL")
      .head().getLong(0) === 2L)
    spark.sql("INSERT INTO sqlddl_cols VALUES (3, 'c', 0.5)")
    // re-adding an existing column is refused
    val e = intercept[Exception](spark.sql(
      "ALTER TABLE sqlddl_cols ADD COLUMNS (v STRING)"))
    assert(e.getMessage.contains("already exist"))
    // RENAME COLUMN: metadata-only; the data files are untouched
    val dataFiles = new java.io.File(s"$loc/data").listFiles().length
    spark.sql("ALTER TABLE sqlddl_cols RENAME COLUMN score TO quality")
    assert(new java.io.File(s"$loc/data").listFiles().length === dataFiles)
    assert(spark.sql("SELECT * FROM sqlddl_cols").columns.toSeq ===
      Seq("id", "v", "quality"))
    assert(spark.sql(
      "SELECT quality FROM sqlddl_cols WHERE id = 3").head().getDouble(0) === 0.5)
    // DROP COLUMN: disappears from the snapshot, bytes stay on disk
    spark.sql("ALTER TABLE sqlddl_cols DROP COLUMN quality")
    assert(spark.sql("SELECT * FROM sqlddl_cols").columns.toSeq === Seq("id", "v"))
    assert(new java.io.File(s"$loc/data").listFiles().length === dataFiles)
    // time travel still reads each version under its own names
    assert(spark.sql("SELECT * FROM sqlddl_cols VERSION AS OF 4").columns.toSeq
      === Seq("id", "v", "quality"))
    // an ALTER ADD COLUMNS on a non-graft catalog table passes through
    spark.sql("CREATE TABLE IF NOT EXISTS sqlddl_pq_cols (k INT) USING parquet")
    spark.sql("ALTER TABLE sqlddl_pq_cols ADD COLUMNS (extra INT)")
    assert(spark.table("sqlddl_pq_cols").columns.toSeq === Seq("k", "extra"))
    spark.sql("DROP TABLE IF EXISTS sqlddl_pq_cols")
    TxLogSql.unregister("sqlddl_cols")
  }

  test("RESTORE TABLE: metadata-only rollback-as-commit, history preserved") {
    val loc = tmpDir("sqlddl_restore")
    spark.sql(s"CREATE TABLE sqlddl_rst (id BIGINT, v STRING) USING graft LOCATION '$loc'")
    spark.sql("INSERT INTO sqlddl_rst VALUES (1, 'a')")          // v1
    spark.sql("INSERT INTO sqlddl_rst VALUES (2, 'b')")          // v2
    spark.sql("DELETE FROM sqlddl_rst WHERE id = 1")             // v3
    assert(spark.sql("SELECT count(*) FROM sqlddl_rst").head().getLong(0) === 1L)
    val r = spark.sql("RESTORE TABLE sqlddl_rst TO VERSION AS OF 2").head()
    assert((r.getLong(0), r.getLong(1)) === ((4L, 2L)))
    assert(spark.sql("SELECT count(*) FROM sqlddl_rst").head().getLong(0) === 2L)
    // the rolled-back version is still readable (history, not erasure)
    assert(spark.sql("SELECT count(*) FROM sqlddl_rst VERSION AS OF 3")
      .head().getLong(0) === 1L)
    val ops = spark.sql("DESCRIBE HISTORY sqlddl_rst")
      .select("operation").collect().map(_.getString(0)).toSeq
    assert(ops.head === "RESTORE v2")
    // TIMESTAMP AS OF form: a future instant resolves to the head
    val future = java.time.LocalDateTime.now().plusHours(1)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss"))
    val r2 = spark.sql(
      s"RESTORE TABLE sqlddl_rst TO TIMESTAMP AS OF '$future'").head()
    assert(r2.getLong(1) === 4L) // restored-to = current head → no-op
    TxLogSql.unregister("sqlddl_rst")
  }

  test("SHALLOW CLONE via SQL: zero-copy, version-pinned, independent evolution") {
    val loc = tmpDir("sqlddl_clone_src")
    val dstLoc = tmpDir("sqlddl_clone_dst")
    spark.sql(s"CREATE TABLE sqlddl_cl_src (id BIGINT, v STRING) USING graft TBLPROPERTIES ('keys'='id') LOCATION '$loc'")
    spark.sql("INSERT INTO sqlddl_cl_src VALUES (1, 'a'), (2, 'b')") // v1
    spark.sql("INSERT INTO sqlddl_cl_src VALUES (3, 'c')")           // v2
    // clone pinned to v1: sees 2 rows however the source moves on
    spark.sql(s"CREATE TABLE sqlddl_cl_dst SHALLOW CLONE sqlddl_cl_src VERSION AS OF 1 LOCATION '$dstLoc'")
    assert(spark.sql("SELECT count(*) FROM sqlddl_cl_dst").head().getLong(0) === 2L)
    // zero bytes copied: the clone's data dir holds no parquet of its own
    assert(!new java.io.File(s"$dstLoc/data").exists() ||
      new java.io.File(s"$dstLoc/data").listFiles().isEmpty)
    // independent evolution: writes to the clone don't touch the source
    spark.sql("INSERT INTO sqlddl_cl_dst VALUES (9, 'z')")
    assert(spark.sql("SELECT count(*) FROM sqlddl_cl_dst").head().getLong(0) === 3L)
    assert(spark.sql("SELECT count(*) FROM sqlddl_cl_src").head().getLong(0) === 3L)
    // the clone carried the source's declared keys: table_changes works
    assert(spark.sql(
      "SELECT count(*) FROM table_changes('sqlddl_cl_dst', 1, 1)")
      .head().getLong(0) === 1L)
    // an existing destination is refused without IF NOT EXISTS
    val e = intercept[Exception](spark.sql(
      s"CREATE TABLE sqlddl_cl_dst2 SHALLOW CLONE sqlddl_cl_src LOCATION '$dstLoc'"))
    assert(e.getMessage.contains("already exists"))
    spark.sql(s"CREATE TABLE IF NOT EXISTS sqlddl_cl_dst3 SHALLOW CLONE sqlddl_cl_src LOCATION '$dstLoc'")
    assert(spark.sql("SELECT count(*) FROM sqlddl_cl_dst3").head().getLong(0) === 3L)
    Seq("sqlddl_cl_src", "sqlddl_cl_dst", "sqlddl_cl_dst3")
      .foreach(TxLogSql.unregister)
  }

  test("SHOW CREATE TABLE renders re-runnable DDL with keys, cluster column, constraints") {
    val loc = tmpDir("sqlddl_showcreate")
    spark.sql(s"CREATE TABLE sqlddl_sc (id BIGINT, bal DECIMAL(18,2)) USING graft TBLPROPERTIES ('keys'='id') LOCATION '$loc'")
    spark.sql("INSERT INTO sqlddl_sc VALUES (1, 10.00)")
    spark.sql("ALTER TABLE sqlddl_sc ADD CONSTRAINT bal_pos CHECK (bal >= 0)")
    val ddl = spark.sql("SHOW CREATE TABLE sqlddl_sc").head().getString(0)
    assert(ddl.contains("CREATE TABLE sqlddl_sc"))
    assert(ddl.contains("id BIGINT") && ddl.contains("bal DECIMAL(18,2)"))
    assert(ddl.contains("USING graft") && ddl.contains(s"LOCATION '$loc'"))
    assert(ddl.contains("'keys' = 'id'"))
    assert(ddl.contains("'constraint.bal_pos' = 'bal >= 0'"))
    // the rendered DDL re-attaches the table under a new name
    TxLogSql.unregister("sqlddl_sc")
    spark.sql(ddl.replace("CREATE TABLE sqlddl_sc (",
      "CREATE TABLE IF NOT EXISTS sqlddl_sc2 ("))
    assert(spark.sql("SELECT count(*) FROM sqlddl_sc2").head().getLong(0) === 1L)
    // a clustered table surfaces its layout column
    val loc2 = tmpDir("sqlddl_showcreate2")
    TxLog(spark, loc2).overwriteClustered(
      Seq((0L, "x"), (1L, "y")).toDF("k", "s"), "k")
    spark.sql(s"CREATE TABLE sqlddl_sc3 USING graft LOCATION '$loc2'")
    assert(spark.sql("SHOW CREATE TABLE sqlddl_sc3").head().getString(0)
      .contains("'clustered_by' = 'k'"))
    Seq("sqlddl_sc2", "sqlddl_sc3").foreach(TxLogSql.unregister)
  }

  test("non-graft statements and unregistered names pass through to Spark untouched") {
    // ordinary SQL still parses through the delegate
    assert(spark.sql("SELECT 1 + 1").head().getInt(0) === 2)
    // VACUUM / OPTIMIZE / DESCRIBE HISTORY on an unregistered name
    // fail with the registry's clear error, not a parse crash
    val e = intercept[Exception](spark.sql("VACUUM not_registered"))
    assert(e.getMessage.contains("not a registered TxLog table"))
    val e2 = intercept[Exception](spark.sql("DESCRIBE HISTORY not_registered"))
    assert(e2.getMessage.contains("not a registered TxLog table"))
    // CREATE TABLE USING anything-else is Spark's own statement
    spark.sql("CREATE TABLE IF NOT EXISTS sqlddl_parquet_tbl (k INT) USING parquet")
    spark.sql("DROP TABLE IF EXISTS sqlddl_parquet_tbl")
  }

  test("DESCRIBE DETAIL reports deletion-vector debt; REORG PURGE clears it") {
    val loc = tmpDir("sqlddl_dv")
    val t = TxLog(spark, loc)
    t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    TxLogSql.register("sqlddl_dv", t)
    def dvCount: Long = spark.sql("DESCRIBE DETAIL sqlddl_dv").head().getLong(7)
    assert(dvCount === 0L)
    spark.sql("DELETE FROM sqlddl_dv WHERE id = 1")
    spark.sql("DELETE FROM sqlddl_dv WHERE id = 2") // vectors STACK
    assert(dvCount === 2L)
    spark.sql("REORG TABLE sqlddl_dv APPLY (PURGE)")
    assert(dvCount === 0L)
    assert(spark.sql("SELECT id FROM sqlddl_dv").head().getLong(0) === 3L)
  }

  test("TBLPROPERTIES lifecycle in SQL: CREATE persists, SET/UNSET/SHOW, DETAIL + SHOW CREATE render, VACUUM reads retention") {
    val loc = tmpDir("sqlddl_props")
    // CREATE persists user properties; registration keys stay metadata
    spark.sql(s"""
      CREATE TABLE sqlddl_props (id BIGINT, v STRING) USING graft
      TBLPROPERTIES ('keys' = 'id', 'owner' = 'data-eng',
                     'note' = 'has, comma and it''s quote')
      LOCATION '$loc'""")
    def show: Map[String, String] =
      spark.sql("SHOW TBLPROPERTIES sqlddl_props").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(show === Map("owner" -> "data-eng",
      "note" -> "has, comma and it's quote"))
    // SET upserts (quoted and bare forms); UNSET removes
    spark.sql("""ALTER TABLE sqlddl_props SET TBLPROPERTIES
      ('owner' = 'ml-platform', graft.vacuum.retainVersions = '2')""")
    spark.sql(
      "ALTER TABLE sqlddl_props UNSET TBLPROPERTIES IF EXISTS ('note', 'gone')")
    assert(show === Map("owner" -> "ml-platform",
      "graft.vacuum.retainVersions" -> "2"))
    // single-key form; absent key fails loudly
    assert(spark.sql("SHOW TBLPROPERTIES sqlddl_props ('owner')").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("owner", "ml-platform")))
    val missing = intercept[Exception](
      spark.sql("SHOW TBLPROPERTIES sqlddl_props ('absent')").collect())
    assert(missing.getMessage.contains("no property"))
    // DESCRIBE DETAIL and SHOW CREATE TABLE both carry the properties
    val d = spark.sql("DESCRIBE DETAIL sqlddl_props").head()
    assert(d.getString(d.length - 1) ===
      "[graft.vacuum.retainVersions=2, owner=ml-platform]")
    val ddl = spark.sql("SHOW CREATE TABLE sqlddl_props").head().getString(0)
    assert(ddl.contains("'owner' = 'ml-platform'"))
    assert(ddl.contains("'graft.vacuum.retainVersions' = '2'"))
    // VACUUM without RETAIN honors the table's retention property:
    // retainVersions=2 dooms manifests older than {cur-1, cur}
    val t = TxLog(spark, loc)
    (1 to 3).foreach(i => t.overwrite(Seq((i.toLong, s"v$i")).toDF("id", "v")))
    val cur = t.currentVersion()
    val planned = spark.sql("VACUUM sqlddl_props DRY RUN").collect()
      .map(_.getString(0))
    assert(planned.exists(_.endsWith("%08d.json".format(cur - 2))),
      s"v${cur - 2} should be doomed under retainVersions=2: ${planned.toSeq}")
    assert(!planned.exists(_.endsWith("%08d.json".format(cur - 1))),
      s"v${cur - 1} must survive under retainVersions=2")
    spark.sql("VACUUM sqlddl_props")
    assert(spark.sql(s"SELECT count(*) FROM sqlddl_props VERSION AS OF ${cur - 1}")
      .head().getLong(0) === 1L) // still retained under the property
    TxLogSql.unregister("sqlddl_props")
  }

  test("in-commit timestamps via SQL: property turns the recorded clock on; TIMESTAMP AS OF uses it") {
    val loc = tmpDir("sqlddl_ict")
    spark.sql(s"""
      CREATE TABLE sqlddl_ict (id BIGINT, v STRING) USING graft
      TBLPROPERTIES ('graft.inCommitTimestamps' = 'true')
      LOCATION '$loc'""")
    spark.sql("INSERT INTO sqlddl_ict VALUES (1, 'a')")
    spark.sql("INSERT INTO sqlddl_ict VALUES (2, 'b')")
    val t = TxLog(spark, loc)
    val cur = t.currentVersion()
    // manifests record their instants (the property enables stamping)
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$loc/_txlog/%08d.json".format(cur)))
    assert(txt.contains("#commitTs="), "ICT table's commit not stamped")
    // TIMESTAMP AS OF resolves on the recorded clock even after the
    // manifest files' mtimes are skewed (e.g. a table copy)
    val instant = t.commitInstant(cur - 1)
    new java.io.File(s"$loc/_txlog").listFiles()
      .filter(_.getName.endsWith(".json"))
      .foreach(_.setLastModified(System.currentTimeMillis() + 864000000L))
    assert(spark.sql(s"""SELECT count(*) FROM sqlddl_ict
        TIMESTAMP AS OF timestamp_millis(${instant}L)""")
      .head().getLong(0) === 1L)
    // DESCRIBE HISTORY shows the recorded instants
    val hist = spark.sql("DESCRIBE HISTORY sqlddl_ict").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    assert(hist(cur) === t.commitInstant(cur))
    TxLogSql.unregister("sqlddl_ict")
  }

  test("CREATE IF NOT EXISTS / CTAS no-op on an existing table leaves its metadata untouched") {
    val loc = tmpDir("sqlddl_noop")
    spark.sql(s"""
      CREATE TABLE sqlddl_noop (id BIGINT, v STRING) USING graft
      TBLPROPERTIES ('owner' = 'original') LOCATION '$loc'""")
    spark.sql("INSERT INTO sqlddl_noop VALUES (1, 'a')")
    val t = TxLog(spark, loc)
    val v0 = t.currentVersion()
    val p0 = t.properties()
    // IF NOT EXISTS on an existing table is a no-op (ANSI/Delta): the
    // declared TBLPROPERTIES must NOT commit — and when they MATCH the
    // stored values (a SHOW CREATE TABLE replay) the statement passes
    // quietly
    spark.sql(s"""
      CREATE TABLE IF NOT EXISTS sqlddl_noop (id BIGINT, v STRING)
      USING graft TBLPROPERTIES ('owner' = 'original')
      LOCATION '$loc'""")
    assert(t.currentVersion() === v0,
      "IF-NOT-EXISTS-on-existing committed a version")
    assert(t.properties() === p0,
      "IF-NOT-EXISTS-on-existing changed table properties")
    // NORMALIZED comparison: behavior-bearing values commit in a
    // normal form ('TRUE' → 'true'), so replaying the user's ORIGINAL
    // un-normalized DDL against the stored normalized value is a
    // semantic no-op and must pass — comparing raw against stored
    // used to fail it
    spark.sql("ALTER TABLE sqlddl_noop SET TBLPROPERTIES " +
      "('graft.inCommitTimestamps' = 'TRUE')")
    val v1 = t.currentVersion()
    val p1 = t.properties()
    spark.sql(s"""
      CREATE TABLE IF NOT EXISTS sqlddl_noop (id BIGINT, v STRING)
      USING graft TBLPROPERTIES ('owner' = 'original',
        'graft.inCommitTimestamps' = 'TRUE')
      LOCATION '$loc'""")
    assert(t.currentVersion() === v1,
      "normalized-no-op replay committed a version")
    // and a declared value that is INVALID for a behavior-bearing key
    // fails with the SET-time validation message, not a raw compare
    val ev = intercept[Exception](spark.sql(s"""
      CREATE TABLE IF NOT EXISTS sqlddl_noop (id BIGINT, v STRING)
      USING graft TBLPROPERTIES ('graft.inCommitTimestamps' = 'yes')
      LOCATION '$loc'"""))
    assert(ev.getMessage.contains("boolean"), ev.getMessage)
    // a CONFLICTING declared property must fail LOUDLY, never be
    // silently discarded — the user believes the declared
    // configuration is in effect (imagine a declared ICT arm that
    // isn't); the error routes them to ALTER TABLE SET TBLPROPERTIES
    val ec = intercept[Exception](spark.sql(s"""
      CREATE TABLE IF NOT EXISTS sqlddl_noop (id BIGINT, v STRING)
      USING graft TBLPROPERTIES ('owner' = 'intruder', 'sneak' = 'x')
      LOCATION '$loc'"""))
    assert(ec.getMessage.contains("TBLPROPERTIES") &&
      ec.getMessage.contains("owner"), ec.getMessage)
    assert(t.currentVersion() === v1 && t.properties() === p1,
      "conflicting-props refusal still mutated the table")
    // CTAS IF NOT EXISTS no-op: same contract, same conflict signal
    val ec2 = intercept[Exception](spark.sql(s"""
      CREATE TABLE IF NOT EXISTS sqlddl_noop USING graft
      TBLPROPERTIES ('owner' = 'intruder2')
      LOCATION '$loc' AS SELECT 9 AS id, 'z' AS v"""))
    assert(ec2.getMessage.contains("TBLPROPERTIES"), ec2.getMessage)
    assert(t.currentVersion() === v1 && t.properties() === p1,
      "CTAS no-op branch mutated the existing table")
    // data untouched too
    assert(spark.sql("SELECT count(*) FROM sqlddl_noop").head().getLong(0) === 1L)
    TxLogSql.unregister("sqlddl_noop")
  }

  test("CREATE OR REPLACE resets TBLPROPERTIES to exactly the declared set") {
    val loc = tmpDir("sqlddl_replprops")
    spark.sql(s"""
      CREATE TABLE sqlddl_replprops (id BIGINT) USING graft
      TBLPROPERTIES ('owner' = 'old', 'graft.vacuum.retainVersions' = '2')
      LOCATION '$loc'""")
    spark.sql("INSERT INTO sqlddl_replprops VALUES (1)")
    // REPLACE resets configuration (Delta): the old retention policy
    // must NOT silently keep governing the new table
    spark.sql(s"""
      CREATE OR REPLACE TABLE sqlddl_replprops (id BIGINT, v STRING)
      USING graft TBLPROPERTIES ('owner' = 'new') LOCATION '$loc'""")
    val props = spark.sql("SHOW TBLPROPERTIES sqlddl_replprops").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props === Map("owner" -> "new"),
      s"REPLACE carried stale properties: $props")
    // a REPLACE with no TBLPROPERTIES clears everything
    spark.sql(s"""
      CREATE OR REPLACE TABLE sqlddl_replprops (id BIGINT)
      USING graft LOCATION '$loc'""")
    assert(spark.sql("SHOW TBLPROPERTIES sqlddl_replprops").count() === 0L)
    // history survives the replaces (Delta: REPLACE keeps history)
    assert(spark.sql("DESCRIBE HISTORY sqlddl_replprops").count() >= 4L)
    TxLogSql.unregister("sqlddl_replprops")
  }

  test("ANALYZE is single-commit and column-preserving across passes") {
    val loc = tmpDir("sqlddl_analyze")
    spark.sql(s"""
      CREATE TABLE sqlddl_analyze (id BIGINT, v STRING, w STRING)
      USING graft TBLPROPERTIES ('keys' = 'id') LOCATION '$loc'""")
    spark.sql(
      "INSERT INTO sqlddl_analyze VALUES (1,'a','x'), (2,'b','y'), (3,'b','y')")
    val t = TxLog(spark, loc)
    def props: Map[String, String] = t.properties().toMap
    val vBefore = t.currentVersion()
    spark.sql("ANALYZE TABLE sqlddl_analyze COMPUTE STATISTICS FOR COLUMNS v")
    // exactly ONE metadata commit per pass — the old unset+set pair
    // burned two versions and exposed a stats-less window in between
    assert(t.currentVersion() === vBefore + 1,
      "ANALYZE burned more than one log version")
    assert(props("graft.stats.numRows") === "3")
    assert(props("graft.stats.col.v.ndv") === "2")
    val vFirstPass = props("graft.stats.col.v.version")
    // a second pass over ANOTHER column keeps v's stats (Spark's
    // catalog contract) and refreshes only w's + the table-level keys
    spark.sql("INSERT INTO sqlddl_analyze VALUES (4,'c','z')")
    val vMid = t.currentVersion()
    spark.sql("ANALYZE TABLE sqlddl_analyze COMPUTE STATISTICS FOR COLUMNS w")
    assert(t.currentVersion() === vMid + 1)
    val p2 = props
    assert(p2("graft.stats.col.v.ndv") === "2",
      "ANALYZE FOR COLUMNS w wiped v's stats from the earlier pass")
    assert(p2("graft.stats.col.v.version") === vFirstPass,
      "v's per-column staleness version moved without re-analyzing v")
    assert(p2("graft.stats.col.w.ndv") === "3")
    assert(p2("graft.stats.numRows") === "4", "table-level stats not refreshed")
    assert(p2("graft.stats.col.w.version").toLong >
      vFirstPass.toLong, "w's pass did not record its own snapshot")
    // stats of a since-dropped column do not outlive the next pass
    spark.sql("ALTER TABLE sqlddl_analyze DROP COLUMN w")
    spark.sql("ANALYZE TABLE sqlddl_analyze COMPUTE STATISTICS")
    val p3 = props
    assert(!p3.keys.exists(_.startsWith("graft.stats.col.w.")),
      s"dropped column's stats survived: ${p3.keys.filter(_.contains(".w."))}")
    assert(p3.contains("graft.stats.col.v.ndv"),
      "live column's stats were wiped by a table-level pass")
    TxLogSql.unregister("sqlddl_analyze")
  }

  test("table_changes routes DATE/TIMESTAMP literals to the timestamp path, not the version path") {
    val loc = tmpDir("sqlddl_tcdate")
    spark.sql(s"""
      CREATE TABLE sqlddl_tcdate (id BIGINT, v STRING) USING graft
      TBLPROPERTIES ('keys' = 'id') LOCATION '$loc'""")
    spark.sql("INSERT INTO sqlddl_tcdate VALUES (1, 'a')")
    spark.sql("INSERT INTO sqlddl_tcdate VALUES (2, 'b')")
    val full = spark.sql(
      "SELECT count(*) FROM table_changes('sqlddl_tcdate', 0, 2)")
      .head().getLong(0)
    // DATE'2000-01-01' is internally Int 10957 (days since epoch): the
    // old `v: Number` match read it as starting VERSION 10957 — here it
    // must resolve as a timestamp to the first commit at-or-after it,
    // i.e. version 0, serving the whole feed
    assert(spark.sql(
      "SELECT count(*) FROM table_changes('sqlddl_tcdate', DATE'2000-01-01', 2)")
      .head().getLong(0) === full)
    assert(spark.sql(
      """SELECT count(*) FROM table_changes('sqlddl_tcdate',
         TIMESTAMP'2000-01-01 00:00:00', 2)""")
      .head().getLong(0) === full)
    // plain integer versions still route as versions
    assert(spark.sql(
      "SELECT count(*) FROM table_changes('sqlddl_tcdate', 2, 2)")
      .head().getLong(0) === 1L)
    // a non-version, non-time literal fails loudly
    val bad = intercept[Exception](spark.sql(
      "SELECT * FROM table_changes('sqlddl_tcdate', 1.5, 2)").collect())
    assert(bad.getMessage.toLowerCase.contains("bound"))
    TxLogSql.unregister("sqlddl_tcdate")
  }
}
