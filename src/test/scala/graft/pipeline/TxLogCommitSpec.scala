package graft.pipeline

import graft.SparkTestBase
import graft.pipeline.{MergeInto => M}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

/** A manifest store that loses every race: each publish counts an
  * attempt and reports that another writer won the version. Plugged in
  * by class name through `spark.graft.txlog.manifestStore.file.impl`. */
class LosingManifestStore extends ManifestStore {
  override def putIfAbsent(fs: FileSystem, logDir: Path, dest: Path,
                           content: Array[Byte]): Boolean = {
    LosingManifestStore.attempts.incrementAndGet()
    false
  }
}

object LosingManifestStore {
  val attempts = new java.util.concurrent.atomic.AtomicInteger
}

/** The retry contract of the one optimistic commit loop every TxLog
  * write goes through: a commit that keeps losing makes exactly
  * `MaxRaceRetries` publish attempts, then fails naming its operation
  * and publishes nothing; a commit that loses once to a concurrent
  * append rebuilds on the winner's head, lands one version later and
  * keeps the winner's row. */
class TxLogCommitSpec extends SparkTestBase {
  import spark.implicits._

  private val losing = "spark.graft.txlog.manifestStore.file.impl" ->
    classOf[LosingManifestStore].getName

  /** Stage `rows` as one parquet file `name` under `dir`. */
  private def stageFile(dir: String, name: String,
                        rows: Seq[(Long, String, String, String)]): Unit = {
    val tmp = s"$dir/__stage_$name"
    rows.toDF("id", "p", "v", "w").repartition(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/$name"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  private def rows(ids: Long*) =
    ids.map(i => (i, if (i % 2 == 0) "a" else "b", s"v$i", s"w$i")).toDF("id", "p", "v", "w")

  test("every commit op makes MaxRaceRetries publish attempts, then fails naming the op and publishes nothing") {
    val stats = Seq("id", "v")
    // untagged table: two dirs, a tombstone, a constraint, a property
    val flatRoot = tmpDir("commit_losing_flat")
    val flat = TxLog(spark, flatRoot, statsCols = stats)
    flat.overwrite(rows(1, 2))
    flat.append(rows(3, 4))
    flat.deleteWhere("id = 4")
    flat.addConstraint("pos", "id >= 0")
    flat.setProperties(Seq("owner" -> "etl"))
    // partition-tagged table on p
    val tagRoot = tmpDir("commit_losing_tagged")
    TxLog(spark, tagRoot, statsCols = stats).overwritePartitioned(rows(1, 2), "p")
    val src = tmpDir("commit_losing_src")
    stageFile(src, "x.parquet", Seq((7L, "a", "v7", "w7")))

    val ops: Seq[(String, String, TxLog => Any)] = Seq(
      (flatRoot, "RENAME COLUMN", _.renameColumn("w", "w2")),
      (flatRoot, "DROP COLUMN", _.dropColumn("w")),
      (flatRoot, "EVOLVE PARTITIONING", _.evolvePartitioning("p")),
      (flatRoot, "ADD CONSTRAINT", _.addConstraint("small", "id < 100")),
      (flatRoot, "DROP CONSTRAINT", _.dropConstraint("pos")),
      (flatRoot, "SET TBLPROPERTIES", _.setProperties(Seq("k" -> "x"))),
      (flatRoot, "UNSET TBLPROPERTIES", _.unsetProperties(Seq("owner"))),
      (flatRoot, "REPLACE TBLPROPERTIES", _.replaceProperties(Seq("k" -> "x"))),
      (flatRoot, "OVERWRITE", _.overwrite(rows(5))),
      (flatRoot, "APPEND", _.append(rows(5))),
      (flatRoot, "ADD COLUMNS", _.addColumns(
        org.apache.spark.sql.types.StructType.fromDDL("z INT"))),
      (flatRoot, "APPEND", _.appendWithIdentity(rows(5).drop("id"), "id")),
      (flatRoot, "COPY INTO", _.copyInto(src)),
      (flatRoot, "MERGE", _.merge(rows(1, 5), Seq("id"))),
      (flatRoot, "MERGE", _.mergeInto(rows(1, 5), "t.id = s.id",
        matched = Seq(M.When(None, M.UpdateAll)),
        notMatched = Seq(M.When(None, M.InsertAll)))),
      (flatRoot, "UPDATE", _.updateWhere(Seq("v" -> "'u'"), Some("id = 1"))),
      (flatRoot, "UPDATE", _.updateWhereMoR(Seq("v" -> "'u'"), Some("id = 1"))),
      (flatRoot, "DELETE", _.deleteWhere("id = 1")),
      (flatRoot, "OVERWRITE", _.compact()),
      (flatRoot, "OPTIMIZE", _.compactSmallFiles(1L << 30)),
      (flatRoot, "OPTIMIZE", _.purgeDeletes()),
      (flatRoot, "COMPACTZORDER", _.compactZOrder(Seq("id", "v"), 2)),
      (flatRoot, "RESTORE v0", _.restoreTo(0L)),
      (tagRoot, "OVERWRITE", _.overwritePartitioned(rows(5), "p")),
      (tagRoot, "OVERWRITE", _.overwriteClustered(rows(5), "p")),
      (tagRoot, "MERGEPARTITIONED", _.mergePartitioned(rows(1, 5), Seq("id"), "p")),
      (tagRoot, "REPLACEPARTITIONS", _.replacePartitions(rows(5), "p")),
      (tagRoot, "APPLYCHANGESPARTITIONED", _.applyChangesPartitioned(
        rows(1, 5).withColumn("op", lit("U")), Seq("id"), "p")))

    val heads = Seq(flatRoot, tagRoot).map(r => r -> TxLog(spark, r).currentVersion()).toMap
    withConf(losing) {
      ops.foreach { case (root, op, run) =>
        // a fresh writer resolves its manifest store on first publish
        val t = TxLog(spark, root, statsCols = stats)
        LosingManifestStore.attempts.set(0)
        val e = intercept[java.io.IOException](run(t))
        assert(e.getMessage.contains(s"TxLog $op") &&
          e.getMessage.contains(s"lost ${TxLog.MaxRaceRetries} optimistic races"),
          s"$op: ${e.getMessage}")
        assert(LosingManifestStore.attempts.get() === TxLog.MaxRaceRetries, op)
        assert(t.currentVersion() === heads(root), s"$op published a version")
      }
    }
  }

  test("v0-creating ops (CONVERT, SHALLOW CLONE) publish once and take no retry") {
    val plain = tmpDir("commit_losing_convert")
    rows(1, 2).write.parquet(plain)
    val cloneSrc = TxLog(spark, tmpDir("commit_losing_clone_src"))
    cloneSrc.overwrite(rows(1, 2))
    val cloneDest = tmpDir("commit_losing_clone_dest")
    withConf(losing) {
      LosingManifestStore.attempts.set(0)
      val e1 = intercept[IllegalArgumentException](TxLog(spark, plain).convertFrom())
      assert(e1.getMessage.contains("committed concurrently"))
      assert(LosingManifestStore.attempts.get() === 1)
      LosingManifestStore.attempts.set(0)
      val e2 = intercept[IllegalArgumentException](
        TxLog(spark, cloneSrc.root).shallowCloneTo(cloneDest))
      assert(e2.getMessage.contains("committed concurrently"))
      assert(LosingManifestStore.attempts.get() === 1)
    }
    assert(!TxLog(spark, plain).exists() && !TxLog(spark, cloneDest).exists())
  }

  test("an op that loses one race to a concurrent append lands one version later; the winner's row survives") {
    val winnerId = 100L
    def parted(rs: (Long, String)*) =
      rs.toDF("id", "v").withColumn("p", (col("id") % 2).cast("string"))
    // `tagged`: the table and the winner's append are tagged on
    // p = id % 2, so the winner (p = 0) sits outside every partition
    // the partitioned ops below rewrite
    def withWinner[T](name: String, stats: Seq[String] = Nil, tagged: Boolean = false)(
        run: TxLog => T): (TxLog, Long, T) = {
      val t = TxLog(spark, tmpDir(s"commit_race_$name"), statsCols = stats)
      def frame(rs: (Long, String)*) = if (tagged) parted(rs: _*) else rs.toDF("id", "v")
      val tagBy = if (tagged) Some("p") else None
      if (tagged) t.overwritePartitioned(frame((1L, "x1"), (2L, "x2")), "p")
      else t.overwrite(frame((1L, "x1"), (2L, "x2")))
      t.append(frame((3L, "x3")), tagBy = tagBy)
      val head = t.currentVersion()
      val other = TxLog(spark, t.root)
      var fired = false
      t.beforePublish = () => if (!fired) {
        fired = true
        other.append(frame((winnerId, "winner")), tagBy = tagBy)
      }
      val out = try run(t) finally t.beforePublish = () => ()
      assert(fired, s"$name never reached a commit attempt")
      val ids = t.snapshot().select("id").as[Long].collect().toSet
      assert(ids.contains(winnerId), s"$name lost the winner's row")
      (t, head, out)
    }

    val (tp, hp, vp) = withWinner("props")(_.setProperties(Seq("k" -> "x")))
    assert(vp === hp + 2 && tp.properties().toMap.get("k").contains("x"))

    val (tc, hc, vc) = withWinner("constraint")(_.addConstraint("pos", "id >= 0"))
    assert(vc === hc + 2 && tc.constraints() === Seq("pos" -> "id >= 0"))

    val (tr, hr, vr) = withWinner("rename")(_.renameColumn("v", "val"))
    assert(vr === hr + 2 && tr.snapshot().columns.toSeq === Seq("id", "val"))

    val (td, hd, vd) = withWinner("delete")(_.deleteWhere("id = 1"))
    assert(vd === hd + 2 &&
      td.snapshot().select("id").as[Long].collect().sorted.toSeq === Seq(2L, 3L, winnerId))

    val (tu, hu, vu) = withWinner("update")(_.updateWhere(Seq("v" -> "'u'"), Some("id = 1")))
    assert(vu === hu + 2 &&
      tu.snapshot().filter(col("v") === "u").select("id").as[Long].collect().toSeq === Seq(1L))

    val (tm, hm, vm) = withWinner("mergeinto")(_.mergeInto(
      Seq((1L, "m1"), (9L, "m9")).toDF("id", "v"), "t.id = s.id",
      matched = Seq(M.When(None, M.UpdateAll)),
      notMatched = Seq(M.When(None, M.InsertAll))))
    assert(vm === hm + 2 &&
      tm.snapshot().orderBy("id").as[(Long, String)].collect().toSeq ===
        Seq((1L, "m1"), (2L, "x2"), (3L, "x3"), (9L, "m9"), (winnerId, "winner")))

    val (to, ho, vo) = withWinner("optimize")(_.compactSmallFiles(1L << 30))
    assert(vo === ho + 2 && to.snapshotDataDirs().length === 1)

    val src = tmpDir("commit_race_copy_src")
    Seq((7L, "c7")).toDF("id", "v").repartition(1).write.parquet(src)
    val (ty, hy, (vy, loaded)) = withWinner("copy")(_.copyInto(src))
    assert(vy === hy + 2 && loaded === 1L && ty.copiedFiles().count() === 1L)
    assert(ty.snapshot().count() === 5L)

    // every compaction rewrites from the head it publishes over
    val (tk, hk, vk) = withWinner("compact")(_.compact())
    assert(vk === hk + 2 && tk.snapshotDataDirs().length === 1)
    val (tkp, hkp, vkp) = withWinner("compact_tagged", tagged = true)(_.compact())
    assert(vkp === hkp + 2 && tkp.snapshotDataDirs().length === 1 &&
      tkp.partitionColumn().contains("p"))
    for (cols <- Seq(Seq("id"), Seq("id", "v"))) {
      val (tz, hz, vz) = withWinner(s"zorder_${cols.size}", stats = cols)(
        _.compactZOrder(cols, 2))
      assert(vz === hz + 2 && tz.snapshotDataDirs().length === 2, cols)
      assert(tz.snapshot().count() === 4L, cols)
    }

    val (tmor, hmor, vmor) = withWinner("update_mor")(
      _.updateWhereMoR(Seq("v" -> "'u'"), Some("id = 1")))
    assert(vmor === hmor + 2 &&
      tmor.snapshot().filter(col("v") === "u").select("id").as[Long].collect().toSeq === Seq(1L))

    val (ta, ha, va) = withWinner("add_columns")(_.addColumns(
      org.apache.spark.sql.types.StructType.fromDDL("z INT")))
    assert(va === ha + 2 && ta.snapshot().columns.toSeq === Seq("id", "v", "z"))

    val (tdc, hdc, vdc) = withWinner("drop_column")(_.dropColumn("v"))
    assert(vdc === hdc + 2 && tdc.snapshot().columns.toSeq === Seq("id"))

    val (te, he, ve) = withWinner("evolve")(_.evolvePartitioning("v"))
    assert(ve === he + 2 && te.partitionColumn().contains("v"))

    val (ti, hi, vi) = withWinner("identity", stats = Seq("id"))(
      _.appendWithIdentity(Seq("n").toDF("v"), "id"))
    assert(vi === hi + 2 && ti.snapshot().filter(col("v") === "n").count() === 1L)

    val (tmp, hmp, vmp) = withWinner("merge_partitioned", tagged = true)(
      _.mergePartitioned(parted((1L, "m1"), (9L, "m9")), Seq("id"), "p"))
    assert(vmp === hmp + 2 &&
      tmp.snapshot().select("id", "v").orderBy("id").as[(Long, String)].collect().toSeq ===
        Seq((1L, "m1"), (2L, "x2"), (3L, "x3"), (9L, "m9"), (winnerId, "winner")))

    val (trp, hrp, vrp) = withWinner("replace_partitions", tagged = true)(
      _.replacePartitions(parted((5L, "r5")), "p"))
    assert(vrp === hrp + 2 &&
      trp.snapshot().select("id").as[Long].collect().sorted.toSeq === Seq(2L, 5L, winnerId))

    val (tac, hac, vac) = withWinner("apply_changes", tagged = true)(
      _.applyChangesPartitioned(parted((1L, "c1")).withColumn("op", lit("U")), Seq("id"), "p"))
    assert(vac === hac + 2 &&
      tac.snapshot().filter(col("id") === 1L).select("v").as[String].collect().toSeq === Seq("c1"))

    val (tmt, hmt, vmt) = withWinner("merge_tagged", tagged = true)(
      _.merge(parted((1L, "m1")), Seq("id")))
    assert(vmt === hmt + 2 &&
      tmt.snapshot().filter(col("id") === 1L).select("v").as[String].collect().toSeq === Seq("m1"))
  }
}
