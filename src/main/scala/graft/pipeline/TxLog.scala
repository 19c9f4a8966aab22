package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Minimal transaction-log table format — the engine's stand-in for the
  * reference's Delta tables (`gold_dim_branch.ipynb:88162-88175` writes
  * `format('delta')` and merges via `DeltaTable`; no Delta jars exist
  * in this environment, so the commit protocol is reimplemented from
  * first principles on plain parquet + a JSON log).
  *
  * Layout:
  * {{{
  *   <table>/_txlog/00000000.json   // snapshot manifest per version
  *   <table>/data/<uuid>/part-*.parquet
  * }}}
  *
  * Each manifest is a SNAPSHOT (the full list of live data dirs), not a
  * delta of actions — O(versions) storage for the tiny manifests buys
  * O(1) snapshot resolution and inherent compaction on overwrite-style
  * commits (an overwrite produces a single-dir snapshot; merges, updates
  * and deletes rewrite only the dirs they touch and carry the rest).
  *
  * Commit protocol: write the manifest to a temp name, then RENAME to
  * `<version>.json`. Rename-if-absent is the atomic primitive (true on
  * HDFS/local; object stores use a DynamoDB-style lock in production —
  * same contract as delta-on-S3). A losing writer's rename fails
  * because the version file exists → optimistic retry against the new
  * snapshot. Readers list `_txlog` and take the highest version — they
  * never see a half-committed table (the manifest appears atomically,
  * and data files are fully written before the manifest references
  * them).
  *
  * Scale: manifests hold directory names, not per-file entries, so a
  * million-file table costs the same manifest bytes; data stays plain
  * parquet readable by any engine.
  */
final case class TxLog(spark: SparkSession, root: String,
                       statsCols: Seq[String] = Nil,
                       bloomCols: Seq[String] = Nil,
                       checkConstraints: Seq[(String, String)] = Nil,
                       generatedCols: Seq[(String, String)] = Nil) {

  // CHECK constraints are manifest header lines (one per `\t`-free SQL
  // predicate); reject undeclarable ones at construction, not commit
  (checkConstraints ++ generatedCols).foreach { case (n, s) =>
    require(n.nonEmpty && !n.exists("\t\n\r".contains(_)),
      s"constraint name '$n' must be non-empty and tab/newline-free")
    require(s.nonEmpty && !s.exists("\t\n\r".contains(_)),
      s"constraint '$n' SQL must be non-empty and tab/newline-free")
  }
  require(checkConstraints.map(_._1).distinct.size == checkConstraints.size,
    "duplicate CHECK constraint names")

  /** GENERATED ALWAYS AS columns (Delta parity): each (name, sqlExpr)
    * is computed when a write's frame LACKS the column and VALIDATED
    * (null-safe equality, via the CHECK machinery) when the frame
    * supplies it — a frame carrying a wrong value is refused
    * atomically. The derived CHECKs persist in the manifest like any
    * constraint, so they bind every later writer of the table even
    * ones constructed without `generatedCols`. */
  private val generatedChecks: Seq[(String, String)] =
    generatedCols.map { case (n, s) => (s"__gen_$n", s"`$n` <=> ($s)") }
  private val allChecks: Seq[(String, String)] =
    checkConstraints ++ generatedChecks

  /** Compute any generated column the frame lacks; columns the frame
    * already carries are left alone (the derived CHECK validates them
    * pre-commit). */
  private def withGenerated(df: DataFrame): DataFrame =
    generatedCols.foldLeft(df) { case (acc, (n, s)) =>
      if (acc.columns.contains(n)) acc
      else acc.withColumn(n, org.apache.spark.sql.functions.expr(s))
    }

  private val logDir = s"$root/_txlog"
  private val dataDir = s"$root/data"

  private def fs = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Highest committed version, or -1 for an empty/absent table.
    *
    * Resolution is hint-first (the Delta `_last_checkpoint` analog):
    * read the advisory `_txlog/_latest` pointer, verify its manifest
    * exists, then ROLL FORWARD past it with existence probes — a
    * handful of O(1) requests instead of LISTing the whole log, which
    * on an object store costs one request per 1000 keys and grows with
    * table age. The hint is best-effort metadata, never trusted
    * blindly: a missing, corrupt, stale (concurrent writers committed
    * past it), vacuumed-away, or ahead-of-reality hint all degrade to
    * the full listing or are repaired by the forward probes —
    * correctness never depends on the hint, only request count does.
    * Staleness is bounded by the concurrent-commit window because
    * every successful commit rewrites the pointer. */
  def currentVersion(): Long = readLatestHint() match {
    case Some(h) if h >= 0 && fs.exists(manifestPath(h)) =>
      var v = h
      while (fs.exists(manifestPath(v + 1))) v += 1
      v
    case _ => listedVersion()
  }

  /** The full-LIST resolution — the fallback when no usable hint
    * exists, and the ground truth the hint must agree with. */
  private def listedVersion(): Long = {
    val p = new Path(logDir)
    if (!fs.exists(p)) -1L
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toLong)
      .foldLeft(-1L)(math.max)
  }

  def exists(): Boolean = currentVersion() >= 0

  private def manifestPath(v: Long) = new Path(f"$logDir/$v%08d.json")

  private def latestHintPath = new Path(logDir, "_latest")

  /** Best-effort advisory write of the latest-version pointer. An
    * unconditional overwrite put (no atomicity needed — readers verify
    * and roll forward); failures are swallowed because the hint is an
    * optimization, never a correctness input. Concurrent commits may
    * write hints out of order — a reader starting from an older hint
    * just pays extra forward probes. */
  private def writeLatestHint(v: Long): Unit =
    try {
      val out = fs.create(latestHintPath, true)
      out.write(v.toString.getBytes("UTF-8"))
      out.close()
    } catch { case _: Exception => () }

  private def readLatestHint(): Option[Long] =
    try {
      if (!fs.exists(latestHintPath)) None
      else {
        val in = fs.open(latestHintPath)
        try {
          val buf = new Array[Byte](64)
          val n = in.read(buf)
          if (n <= 0) None else Some(new String(buf, 0, n, "UTF-8").trim.toLong)
        } finally in.close()
      }
    } catch { case _: Exception => None }

  /** Parsed manifest. Line format (versioned trivial format; a real
    * log would be JSON actions — the commit protocol is the point
    * here):
    * {{{
    *   #op=<operation>                    // DESCRIBE HISTORY's operation (tryCommitManifest)
    *   #commitTs=<epochMillis>            // in-commit timestamp, TxLog.IctProp tables only
    *   #ndirs=<n>                         // live dir count (bounded history reads)
    *   #format=2                          // only when a format-2 feature (foreign tag) is used
    *   #partcol=<name>                    // optional: table is partition-tagged
    *   #check\t<name>\t<sqlPredicate>     // CHECK constraint (table metadata)
    *   #prop\t<key>\t<value>              // table property (TBLPROPERTIES)
    *   #statscol=<name>|<sqlType>         // one per stats column tracked
    *   #range\t<dir>\t<col>\t<min>\t<max> // data-skipping stats, one per (dir, col)
    *   #bloom\t<dir>\t<col>\t<hex>        // point-lookup Bloom bits, one per (dir, col)
    *   #txn\t<appId>\t<batchId>           // highest committed batch per writer app
    *   #tombstone\t<dir>\t<tsDir>         // merge-on-read deletion vector for <dir>
    *   #colmap\t<logical>\t<physical>     // column mapping, one per VISIBLE column
    *   #colretired\t<physical>            // physical name retired by DROP (never reused)
    *   #copied\t<regDir>                  // COPY INTO loaded-file registry sidecar
    *   <dir>                              // dir covers the whole table
    *   <dir>\t<partValue>                 // dir carries this partition's live rows
    *   <dir>\t<value>\t<col>              // FOREIGN tag: value under a former partition column
    * }}}
    * The first two lines are stamped by [[tryCommitManifest]], the
    * rest rendered by [[manifestLines]] in this order. Every commit
    * builds its manifest from the head's ([[commit]]), so TABLE
    * metadata — `#txn`, `#check`, `#copied`, `#prop` — carries over
    * unless the op changes it; LAYOUT (entries, stats, ranges,
    * Blooms, tombstones, column mapping) follows one of two shapes:
    * [[rewritten]] resets it, [[carried]] keeps the carried dirs'
    * share.
    * `#colmap` lines (Delta's column-mapping `name` mode) decouple the
    * VISIBLE (logical) schema from the names stored in parquet
    * (physical): [[renameColumn]]/[[dropColumn]] commit new mapping
    * metadata and rewrite ZERO data. No lines = identity mapping
    * (legacy tables). When present, the mapping is TOTAL: the visible
    * schema is exactly the mapped logical names in line order, and
    * unmapped physical columns are invisible (dropped). All other
    * manifest internals — stats headers, range/bloom keys, partcol —
    * are keyed by PHYSICAL names and are rename-stable.
    * A dir may appear on several entry lines (one per partition it is
    * live for); rows of OTHER partitions inside such a dir are dead —
    * superseded by a later merge — and filtered out on read.
    * `#txn` lines carry each writer application's high-water batch id
    * (Delta's txnAppId/txnVersion idempotence contract): a streaming
    * job that redelivers a batch after restart finds its id already
    * recorded and skips the double-commit. */
  private case class Manifest(partCol: Option[String],
                              stats: Seq[(String, String)],
                              entries: Seq[(String, Option[String])],
                              ranges: Map[(String, String), (String, String)],
                              txns: Map[String, Long] = Map.empty,
                              blooms: Map[(String, String), String] = Map.empty,
                              checks: Seq[(String, String)] = Nil,
                              tombstones: Map[String, Seq[String]] = Map.empty,
                              colMap: Seq[(String, String)] = Nil,
                              retired: Seq[String] = Nil,
                              copied: Seq[String] = Nil,
                              props: Seq[(String, String)] = Nil) {
    def dirs: Seq[String] = entries.map(_._1).distinct
  }

  private def readManifestFull(v: Long): Manifest = {
    val in = fs.open(manifestPath(v))
    val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    val lines = txt.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    // Format gate: manifests that use features beyond this reader's
    // format (3-field foreign-tag entry lines = format 2) carry a
    // `#format=N` header; a HIGHER N fails here with a clear
    // unsupported-version message instead of a downstream
    // "bad manifest line" parse error.
    lines.collectFirst {
      case l if l.startsWith("#format=") => l.stripPrefix("#format=")
    }.foreach { f =>
      val n = scala.util.Try(f.toInt).getOrElse(Int.MaxValue)
      if (n > ManifestFormat) throw new java.io.IOException(
        s"TxLog manifest at $root version $v uses format $f; this reader " +
          s"supports up to format $ManifestFormat — upgrade the reader")
    }
    val partCol = lines.collectFirst {
      case l if l.startsWith("#partcol=") => l.stripPrefix("#partcol=")
    }
    val stats = lines.filter(_.startsWith("#statscol=")).map { l =>
      l.stripPrefix("#statscol=").split('|') match {
        case Array(c, t) => (c, t)
        case _ => throw new java.io.IOException(s"bad statscol header: $l")
      }
    }
    val ranges = lines.filter(_.startsWith("#range\t")).map { l =>
      l.stripPrefix("#range\t").split('\t') match {
        case Array(d, c, lo, hi) => (d, c) -> (lo, hi)
        case _ => throw new java.io.IOException(s"bad range line: $l")
      }
    }.toMap
    val txns = lines.filter(_.startsWith("#txn\t")).map { l =>
      l.stripPrefix("#txn\t").split('\t') match {
        case Array(app, id) => app -> id.toLong
        case _ => throw new java.io.IOException(s"bad txn line: $l")
      }
    }.toMap
    val blooms = lines.filter(_.startsWith("#bloom\t")).map { l =>
      l.stripPrefix("#bloom\t").split('\t') match {
        case Array(d, c, hex) => (d, c) -> hex
        case _ => throw new java.io.IOException(s"bad bloom line: $l")
      }
    }.toMap
    val checks = lines.filter(_.startsWith("#check\t")).map { l =>
      l.stripPrefix("#check\t").split("\t", 2) match {
        case Array(n, s) => (n, s)
        case _ => throw new java.io.IOException(s"bad check line: $l")
      }
    }
    val tombstones = lines.filter(_.startsWith("#tombstone\t")).map { l =>
      l.stripPrefix("#tombstone\t").split('\t') match {
        case Array(d, t) => (d, t)
        case _ => throw new java.io.IOException(s"bad tombstone line: $l")
      }
    }.groupBy(_._1).map { case (d, ts) => d -> ts.map(_._2) }
    val colMap = lines.filter(_.startsWith("#colmap\t")).map { l =>
      l.stripPrefix("#colmap\t").split('\t') match {
        case Array(lg, ph) => (lg, ph)
        case _ => throw new java.io.IOException(s"bad colmap line: $l")
      }
    }
    val retired = lines.filter(_.startsWith("#colretired\t"))
      .map(_.stripPrefix("#colretired\t"))
    val copied = lines.filter(_.startsWith("#copied\t"))
      .map(_.stripPrefix("#copied\t"))
    val props = lines.filter(_.startsWith("#prop\t")).map { l =>
      l.stripPrefix("#prop\t").split("\t", 2) match {
        case Array(k, v) => (k, v)
        case _ => throw new java.io.IOException(s"bad prop line: $l")
      }
    }
    val entries = lines.filterNot(_.startsWith("#")).map { l =>
      l.split('\t') match {
        case Array(d) => (d, None)
        case Array(d, p) => (d, Some(p))
        // 3-field line: scheme-qualified tag under a FOREIGN column
        // (layout predates the current partition column — written by
        // evolvePartitioning)
        case Array(d, p, c) => (d, Some(foreignTag(c, p)))
        case _ => throw new java.io.IOException(s"bad manifest line: $l")
      }
    }
    Manifest(partCol, stats, entries, ranges, txns, blooms, checks, tombstones,
      colMap, retired, copied, props)
  }

  /** Scheme-qualified FOREIGN tag — a partition tag recorded under a
    * column that is no longer the table's partition column (written by
    * [[evolvePartitioning]] for dirs whose layout predates the current
    * scheme). Encoded in memory as `<col>NUL<value>` inside the
    * ordinary tag slot (values never contain NUL — they are manifest
    * text lines); on disk as a 3-field entry line `dir\tvalue\tcol`
    * (legacy readers never see 3 fields on pre-evolution tables). */
  private val SchemeSep = '\u0000'
  private def foreignTag(col: String, v: String): String = s"$col$SchemeSep$v"
  private def splitTag(tag: String): (Option[String], String) =
    tag.indexOf(SchemeSep.toInt) match {
      case -1 => (None, tag)
      case i => (Some(tag.substring(0, i)), tag.substring(i + 1))
    }
  private def isForeign(tag: Option[String]): Boolean =
    tag.exists(_.indexOf(SchemeSep.toInt) >= 0)

  /** Row-visibility filter for one dir from its manifest tag lines:
    * same-scheme tags restrict on the table's partition column,
    * foreign tags on their own recorded (physical) column — IN within
    * a column, AND across columns. None = dir fully visible (any
    * untagged line, or an untagged table). Physical names throughout:
    * tag filters apply to raw dir reads, and column mapping renames
    * only the logical view, so foreign tags survive renames. */
  private def tagFilter(partCol: Option[String],
                        tags: Seq[Option[String]]): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.col
    if (tags.isEmpty || tags.exists(_.isEmpty)) return None
    val parsed = tags.flatten.map(splitTag)
    val byCol = parsed.flatMap { case (scheme, v) =>
      scheme.orElse(partCol).map(_ -> v)
    }.groupBy(_._1)
    if (byCol.isEmpty) return None // bare tags on an untagged table: legacy full-read
    // One dir's entries must all sit under ONE scheme: no writer
    // produces a dir tagged under several columns, and silently ANDing
    // IN-lists across columns would HIDE rows (per-entry visibility is
    // a union). Fail loudly if a future writer ever produces the state
    // rather than misread the table.
    require(byCol.size == 1,
      s"TxLog dir carries partition tags under multiple schemes " +
        s"(${byCol.keys.toSeq.sorted.mkString(", ")}) — per-dir visibility " +
        "is defined for a single scheme only")
    Some(byCol.toSeq.sortBy(_._1).map { case (c, vs) =>
      col(c).cast("string").isin(vs.map(_._2).distinct: _*)
    }.reduce(_ && _))
  }

  /** Highest manifest format this reader parses. Format 2 = 3-field
    * foreign-tag entry lines (written by [[evolvePartitioning]]);
    * format-1 manifests carry no header (pre-evolution readers parse
    * them unchanged). */
  private val ManifestFormat = 2

  private def manifestLines(m: Manifest): Seq[String] =
    // dir count rides the header so DESCRIBE HISTORY reads BOUNDED
    // bytes per version (op + instant + n_dirs all sit in the first
    // few lines) instead of the whole manifest — a large table's
    // manifest carries thousands of range/bloom lines; pre-#ndirs
    // manifests fall back to a full read. Unknown #-headers are
    // ignored by every reader version, so no format bump is needed.
    Seq(s"#ndirs=${m.dirs.size}") ++
    // stamp the format header only when a format-2 feature is actually
    // used: format-1 tables stay byte-compatible with older readers
    (if (m.entries.exists(e => isForeign(e._2))) Seq(s"#format=2") else Seq.empty) ++
    m.partCol.map(c => s"#partcol=$c").toSeq ++
      m.checks.map { case (n, s) => s"#check\t$n\t$s" } ++
      m.props.sortBy(_._1).map { case (k, v) => s"#prop\t$k\t$v" } ++
      m.stats.map { case (c, t) => s"#statscol=$c|$t" } ++
      m.ranges.toSeq.sortBy(_._1).map { case ((d, c), (lo, hi)) =>
        s"#range\t$d\t$c\t$lo\t$hi" } ++
      m.blooms.toSeq.sortBy(_._1).map { case ((d, c), hex) =>
        s"#bloom\t$d\t$c\t$hex" } ++
      m.txns.toSeq.sortBy(_._1).map { case (a, i) => s"#txn\t$a\t$i" } ++
      m.tombstones.toSeq.sortBy(_._1).flatMap { case (d, ts) =>
        ts.map(t => s"#tombstone\t$d\t$t") } ++
      m.colMap.map { case (lg, ph) => s"#colmap\t$lg\t$ph" } ++
      m.retired.map(ph => s"#colretired\t$ph") ++
      m.copied.map(u => s"#copied\t$u") ++
      m.entries.map { case (d, t) =>
        t.map(splitTag) match {
          case Some((Some(c), v)) => s"$d\t$v\t$c"
          case Some((None, v)) => s"$d\t$v"
          case None => d
        }
      }

  private def readManifest(v: Long): Seq[String] =
    readManifestFull(v).dirs

  /** Data dirs referenced by `version`'s snapshot (default: latest). */
  def snapshotDataDirs(version: Long = -1L): Seq[String] = {
    val v = if (version >= 0) version else currentVersion()
    require(v >= 0, s"TxLog table at $root has no commits")
    readManifest(v).map(dirPath)
  }

  /** Snapshot read of `version` (default: latest). Fails on an empty
    * table — callers use [[exists]] for the initial-load branch.
    * On a partition-tagged table each dir is read restricted to the
    * partitions it is live for (a pushed-down IN filter — row groups
    * of dead partitions are skipped via parquet min/max stats). */
  def snapshot(version: Long = -1L): DataFrame = {
    val v = if (version >= 0) version else currentVersion()
    require(v >= 0, s"TxLog table at $root has no commits")
    val m = readManifestFull(v)
    readEntries(m, m.dirs.toSet)
  }

  /** The current snapshot's partition/cluster column, if any — table
    * METADATA (DESCRIBE's partitioning section reads it). */
  def partitionColumn(): Option[String] = {
    val v = currentVersion()
    if (v < 0) None else readManifestFull(v).partCol
  }

  /** Distinct partition values of the current snapshot (SHOW
    * PARTITIONS), sorted. Tagged entries answer from the MANIFEST
    * alone; an untagged entry in a tagged table (a dir covering the
    * whole table, e.g. the empty-snapshot guard) falls back to a
    * metadata-scale distinct over just that dir's rows. Empty for
    * untagged tables. */
  def partitionValues(): Seq[String] = {
    val v = currentVersion()
    if (v < 0) return Seq.empty
    val m = readManifestFull(v)
    m.partCol.toSeq.flatMap { pc =>
      // values of a dir's VISIBLE rows (nulls are not partition
      // values; a dir predating the column contributes nothing)
      // only the designed-for fallback is swallowed: a dir predating
      // the partition column (AnalysisException on the select) has no
      // values to report. A transient read failure PROPAGATES — a
      // silently shortened SHOW PARTITIONS is a wrong answer
      // masquerading as success.
      def visVals(d: String): Seq[String] =
        try dirVisibleRows(m.tombstones, d)
          .select(org.apache.spark.sql.functions.col(pc).cast("string"))
          .distinct().collect().toSeq
          .filterNot(_.isNullAt(0)).map(_.getString(0))
        catch { case _: org.apache.spark.sql.AnalysisException => Seq.empty }
      def dirty(d: String): Boolean = m.tombstones.get(d).exists(_.nonEmpty)
      m.entries.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (d, es) =>
        val tags = es.flatMap(_._2)
        if (tags.nonEmpty && !dirty(d)) tags // clean tagged dir: manifest answers
        else {
          // untagged entry (covers the dir) or a TOMBSTONED dir (a
          // delete may have emptied a partition — SHOW PARTITIONS must
          // report the data's truth): metadata-scale distinct over the
          // visible rows, restricted to the entry tags when present
          val vis = visVals(d)
          if (tags.nonEmpty) vis.intersect(tags) else vis
        }
      }.distinct.sorted
    }
  }

  /** DESCRIBE DETAIL's physical metadata for the current snapshot:
    * (numFiles, sizeInBytes) across its live data dirs — a driver-side
    * listing, no data read. */
  def detailStats(): (Long, Long) = {
    val dirs = snapshotDataDirs()
    val files = dirs.flatMap { d =>
      val p = new Path(d)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.filter(_.isFile)
    }
    (files.size.toLong, files.map(_.getLen).sum)
  }

  /** Deletion-vector debt of the current snapshot: tombstone sidecars
    * stacked across live dirs (DESCRIBE DETAIL's numDeletionVectors —
    * the signal that `REORG … APPLY (PURGE)` / [[purgeDeletes]] has
    * work to do). Zero for a clean table; answered from the manifest,
    * no data read. */
  def deletionVectorCount(): Long = {
    val v = currentVersion()
    if (v < 0) 0L
    else readManifestFull(v).tombstones.values.map(_.size.toLong).sum
  }

  /** The current snapshot's CHECK constraints, `(name, predicate)` in
    * declaration order — table METADATA (SHOW CREATE TABLE renders
    * them; [[addConstraint]]/[[dropConstraint]] maintain them). */
  def constraints(): Seq[(String, String)] = {
    val v = currentVersion()
    if (v < 0) Seq.empty else readManifestFull(v).checks
  }

  /** ALTER TABLE ADD COLUMNS — additive schema evolution as an
    * EXPLICIT statement rather than a side effect of the next evolved
    * append. Mechanism: commit one footer-only parquet dir carrying
    * the extended schema (zero rows — the single-partition write emits
    * exactly one file whose footer declares the new columns), so the
    * snapshot's mergeSchema union surfaces the columns as null for
    * every pre-existing row, exactly like Delta's metadata-only ADD
    * COLUMNS. Existing columns are refused; new columns append at the
    * end (first-appearance order). */
  def addColumns(newCols: StructType): Long = {
    require(newCols.nonEmpty, s"ADD COLUMNS on $root: empty column list")
    val cur = snapshot().schema
    val clash = newCols.fieldNames.filter(n =>
      cur.fieldNames.exists(_.equalsIgnoreCase(n)))
    require(clash.isEmpty,
      s"ADD COLUMNS on $root: column(s) ${clash.mkString(", ")} already exist")
    val extended = StructType(cur ++ newCols)
    append(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], extended)
      .repartition(1),
      op = s"ADD COLUMNS (${newCols.fieldNames.mkString(", ")})")
  }

  /** TIMESTAMP AS OF resolution (Delta's time travel by time): the
    * highest version whose manifest was committed at-or-before
    * `tsMillis`, on the [[commitInstant]] clock — the RECORDED
    * in-commit timestamp where the table runs under [[TxLog.IctProp]]
    * (robust to file copies, coarse mtimes, and writer clock skew),
    * the manifest publish mtime otherwise (the atomic publish is the
    * instant the version became visible). Fails if every commit is
    * later than `tsMillis` (nothing existed then), like Delta. */
  def versionAsOf(tsMillis: Long): Long = {
    val ans = clockResolve(tsMillis, atOrBefore = true)
    require(ans >= 0,
      s"TxLog table at $root has no commit at or before timestamp $tsMillis")
    ans
  }

  /** Resolve `tsMillis` on the commit clock: the HIGHEST version
    * committed at-or-before (`atOrBefore`) or the LOWEST at-or-after
    * (`!atOrBefore`); -1 when no version qualifies.
    *
    * Fast path: binary search — O(log V) header-only reads, not the
    * former O(total log bytes) full-manifest scan (one TIMESTAMP AS OF
    * on a 5,000-commit object-store table used to cost 5,000 full
    * GETs). The search's answer is TRUSTED only when every instant it
    * probed was a RECORDED in-commit timestamp — the ICT clock is
    * monotone by construction (each instant stamps past its parent's
    * at the commit choke point and is immutable once published), so
    * the order-preserving precondition holds; this is exactly Delta's
    * ICT contract (resolution in the ICT range ignores file mtimes
    * entirely). The moment ANY probe fell back to a publish mtime the
    * guarantee is gone — external tooling can reorder mtimes under
    * the log — so resolution drops to the slow path rather than
    * silently mis-resolving: a linear scan over the window resolving
    * on the MONOTONIZED clock (each instant clamped to the running
    * max — the clock Delta's history manager serves non-ICT tables
    * on, also by reading every commit in the window). O(V) header
    * reads is the documented price of a correct answer on a clock
    * with no monotonicity guarantee; arming [[TxLog.IctProp]] is the
    * O(log V) path. A manifest vanished under a concurrent VACUUM is
    * a vacuumed-prefix member: resolution moves up.
    *
    * What all-recorded PROBES actually vouch for differs by
    * direction. The search terminates having probed the two ADJACENT
    * versions around its boundary (the last lo-move probed the
    * answer, the last hi-move probed its neighbor). For AT-OR-BEFORE
    * that is sufficient: the answer is the HIGHEST qualifier,
    * recorded instants above the boundary are choke-point-monotone
    * past ts, and the slow path clamps every unrecorded instant above
    * the boundary to the running max (already past ts) — no unprobed
    * version can out-qualify the answer. For AT-OR-AFTER it is NOT:
    * the answer is the LOWEST qualifier, and an UNPROBED
    * mtime-derived version BELOW the boundary (a mixed table's
    * pre-ICT prefix) with a forward-perturbed mtime reads as a huge
    * instant on the slow path's monotonized clock and out-qualifies
    * the probed answer. So an at-or-after answer is trusted only once
    * every version below it is ESTABLISHED recorded — memory-only
    * when the sidecar primed the window (the all-ICT steady state), a
    * bounded header probe per unseen version otherwise, each of which
    * caches for every later resolution. */
  private def clockResolve(tsMillis: Long, atOrBefore: Boolean): Long = {
    val cur = currentVersion()
    require(cur >= 0, s"TxLog table at $root has no commits")
    val low = lowestExistingVersion(cur)
    primeInstantsFromSidecar(low, cur)
    var allRecorded = true
    var lo = low
    var hi = cur
    var ans = -1L
    while (allRecorded && lo <= hi) {
      val mid = lo + (hi - lo) / 2
      sourcedOrNone(mid) match {
        case Some((i, recorded)) =>
          allRecorded &&= recorded
          if (atOrBefore) {
            if (i <= tsMillis) { ans = mid; lo = mid + 1 } else hi = mid - 1
          } else {
            if (i >= tsMillis) { ans = mid; hi = mid - 1 } else lo = mid + 1
          }
        case None => lo = mid + 1
      }
    }
    if (allRecorded && !atOrBefore) {
      // at-or-after: the window BELOW the answer (the whole window
      // when nothing qualified) must be recorded too — see doc above
      val checkTo = if (ans >= 0) ans else cur + 1
      var v = low
      while (allRecorded && v < checkTo) {
        if (TxLog.instantCache.get((root, v)) == null)
          allRecorded = sourcedOrNone(v).forall(_._2)
        v += 1
      }
    }
    if (allRecorded) return ans
    // slow path: linear resolution over the whole window on the
    // REPAIRED clock — RECORDED instants are authoritative (immutable
    // and choke-point-monotone, so a perturbed mtime before them must
    // never clamp them away: recorded instants keep serving their
    // versions even after ICT is later disabled), while mtime-derived
    // instants are untrusted and clamp to the running max
    var running = Long.MinValue
    var found = -1L
    var v = low
    while (v <= cur) {
      sourcedOrNone(v).foreach { case (i, recorded) =>
        val eff = if (recorded) i else math.max(running, i)
        running = math.max(running, eff)
        if (atOrBefore) { if (eff <= tsMillis) found = v }
        else if (found < 0 && eff >= tsMillis) found = v
      }
      v += 1
    }
    found
  }

  /** [[instantSourced]] that treats a manifest vanished under a
    * concurrent VACUUM as "no instant" — [[clockResolve]]'s
    * TOCTOU-safe probe. */
  private def sourcedOrNone(v: Long): Option[(Long, Boolean)] =
    try Some(instantSourced(v))
    catch { case _: java.io.FileNotFoundException => None }

  /** Snapshot as of a wall-clock instant — [[versionAsOf]] + [[snapshot]]. */
  def snapshotAsOf(tsMillis: Long): DataFrame = snapshot(versionAsOf(tsMillis))

  /** The LOWEST version committed at-or-after `tsMillis` on the
    * [[commitInstant]] clock — Delta's STARTING-timestamp resolution
    * (`table_changes(t, start_ts, …)` / the streaming source's
    * `startingTimestamp`): "changes since ts" must begin at the first
    * commit the instant could have observed, the mirror image of
    * [[versionAsOf]]'s at-or-before. Fails when every commit is
    * earlier than `tsMillis` (the caller asked for a future window),
    * like Delta's timestamp-after-latest-commit error. */
  def versionAtOrAfter(tsMillis: Long): Long = {
    // mirror of [[versionAsOf]]: lowest version at-or-after, through
    // the same assert-or-monotonize resolution ([[clockResolve]])
    val ans = clockResolve(tsMillis, atOrBefore = false)
    require(ans >= 0,
      s"TxLog table at $root has no commit at or after timestamp $tsMillis " +
        "(the requested window starts after the latest commit)")
    ans
  }

  /** DESCRIBE HISTORY: one row per surviving version — commit instant
    * (the manifest's publish mtime, the same clock [[versionAsOf]]
    * resolves against), the operation recorded at commit (`#op=`
    * header; pre-op manifests read UNKNOWN), and the snapshot's dir
    * count. Newest first, like Delta's DESCRIBE HISTORY.
    *
    * CHECKPOINT-FIRST reads (the `_last_checkpoint` analog the
    * `_latest` hint already plays for version resolution): versions
    * covered by the validated [[trustedSidecar]] cost ZERO manifest
    * opens — a 1,000-commit table is one sidecar read + one
    * spot-check header + O(commits since the last refresh) header
    * reads, never 1,000 opens. Uncovered versions fall back to the
    * bounded per-header read ([[histEntryOf]]). */
  def history(): DataFrame = {
    val cur = currentVersion()
    require(cur >= 0, s"TxLog table at $root has no commits")
    import spark.implicits._
    val low = lowestExistingVersion(cur)
    val side = trustedSidecar(low, cur)
    (low to cur).reverse.flatMap { v =>
      side.get(v).flatMap { e =>
        // RECORDED instants are immutable — serve the sidecar copy.
        // mtime-derived instants are snapshots of MUTABLE file mtimes
        // (copies/migrations legitimately move them after the sidecar
        // was written), so those rows re-stat the live mtime: one
        // getFileStatus, still zero manifest OPENS for covered rows
        if (e.recorded) Some(e)
        else try Some(e.copy(instant =
          fs.getFileStatus(manifestPath(v)).getModificationTime))
        catch { case _: java.io.FileNotFoundException => None }
      }.orElse(
        // TOCTOU under a concurrent VACUUM: a vanished manifest is a
        // vacuumed-prefix member, its row simply drops out
        try Some(histEntryOf(v))
        catch { case _: java.io.FileNotFoundException => None })
    }.map(e => (e.version, new java.sql.Timestamp(e.instant), e.op, e.nDirs))
      .toDF("version", "timestamp", "operation", "n_dirs")
  }

  // ---- history checkpoint sidecar ---------------------------------------
  // `_txlog/_history`: a compacted copy of every version's history
  // header (instant + its source, op, dir count) — the DESCRIBE
  // HISTORY / cold-clock analog of Delta's `_last_checkpoint`. Same
  // discipline as the `_latest` hint: best-effort advisory writes,
  // readers VALIDATE before trusting, correctness never depends on it
  // — only request count does.

  private def historySidecarPath = new Path(logDir, "_history")
  private final val SidecarHeader = "#graftHistory=1"

  /** One compacted history row. `recorded` marks an in-commit (ICT)
    * instant — immutable, safe to feed the clock cache; mtime-derived
    * instants serve DESCRIBE HISTORY display but never the raw clock. */
  private[pipeline] final case class HistEntry(version: Long, instant: Long,
      recorded: Boolean, nDirs: Int, op: String)

  /** A version's history fields from its manifest header — the
    * bounded per-version read the sidecar checkpoints. */
  private def histEntryOf(v: Long): HistEntry = {
    val head = readHeaderUntil(v, stopAfter = "#ndirs=")
    // tab-sanitized at the SOURCE so the header path and the sidecar's
    // tab-separated line format can never disagree on the same version
    val op = head.find(_.startsWith("#op="))
      .map(_.stripPrefix("#op=").replaceAll("\t", " ")).getOrElse("UNKNOWN")
    val rec = head.collectFirst {
      case l if l.startsWith("#commitTs=") => l.stripPrefix("#commitTs=").toLong
    }
    val nDirs = head.collectFirst {
      case l if l.startsWith("#ndirs=") => l.stripPrefix("#ndirs=").toInt
    }.getOrElse(readManifestFull(v).dirs.size)
    HistEntry(v, rec.getOrElse(
      fs.getFileStatus(manifestPath(v)).getModificationTime), rec.isDefined,
      nDirs, op)
  }

  /** Raw sidecar parse — empty on absence, corruption, or a foreign
    * format version (never an error: the sidecar is advisory). */
  private def readHistorySidecarRaw(): Seq[HistEntry] =
    try {
      if (!fs.exists(historySidecarPath)) return Seq.empty
      val in = fs.open(historySidecarPath)
      val text = try {
        val br = new java.io.BufferedReader(
          new java.io.InputStreamReader(in, "UTF-8"))
        Iterator.continually(Option(br.readLine())).takeWhile(_.isDefined)
          .flatten.toList
      } finally in.close()
      if (!text.headOption.contains(SidecarHeader)) return Seq.empty
      text.drop(1).map { l =>
        val a = l.split("\t", 5)
        HistEntry(a(0).toLong, a(1).toLong, a(2) == "1", a(3).toInt, a(4))
      }
    } catch { case _: Exception => Seq.empty }

  /** Sidecar entries VALIDATED for this incarnation: restricted to the
    * surviving window `[low, cur]`, then the NEWEST remaining entry is
    * spot-checked against its actual manifest header — a same-root
    * re-created table (the log restarted from 0), a copied table whose
    * mtimes moved, or any corruption fails the check and the whole
    * sidecar is ignored. Manifests are immutable once published, so a
    * passing spot-check vouches for every older entry's MANIFEST-BORNE
    * fields (op, dir count, recorded ICT instants). It does NOT vouch
    * for mtime-derived instants — those are snapshots of mutable file
    * mtimes that can legitimately move while the newest entry still
    * matches, which is why [[history]] re-stats every `recorded=false`
    * row before serving it and the clock cache is primed from
    * `recorded=true` rows only. */
  private def trustedSidecar(low: Long, cur: Long): Map[Long, HistEntry] = {
    val raw = readHistorySidecarRaw()
      .filter(e => e.version >= low && e.version <= cur)
    if (raw.isEmpty) return Map.empty
    val newest = raw.maxBy(_.version)
    val ok = try histEntryOf(newest.version) == newest
      catch { case _: Exception => false }
    if (ok) raw.map(e => e.version -> e).toMap else Map.empty
  }

  /** Best-effort advisory sidecar write (the `_latest` discipline):
    * plain overwrite put, failures swallowed, readers validate. Ops
    * are sanitized to keep the line format. */
  private def writeHistorySidecar(entries: Seq[HistEntry]): Unit =
    try {
      val body = (SidecarHeader +: entries.sortBy(_.version).map(e =>
        s"${e.version}\t${e.instant}\t${if (e.recorded) "1" else "0"}\t" +
          s"${e.nDirs}\t${e.op.replaceAll("[\\t\\n\\r]", " ")}"))
        .mkString("\n")
      val out = fs.create(historySidecarPath, true)
      out.write(body.getBytes("UTF-8"))
      out.close()
    } catch { case _: Exception => () }

  /** Incremental sidecar refresh at the commit choke point: every
    * [[TxLog.SidecarEvery]]-th winning commit extends the validated
    * sidecar with the headers committed since its coverage —
    * O(SidecarEvery) header reads in steady state (one O(V) backfill
    * the first time an old table refreshes). */
  private def maybeRefreshHistorySidecar(version: Long): Unit =
    if (version > 0 && version % TxLog.SidecarEvery == 0) try {
      val low = lowestExistingVersion(version)
      val covered = trustedSidecar(low, version)
      val from = if (covered.isEmpty) low else covered.keys.max + 1
      val fresh = (from to version).flatMap(v =>
        try Some(histEntryOf(v))
        catch { case _: java.io.FileNotFoundException => None })
      writeHistorySidecar(covered.values.toSeq ++ fresh)
    } catch { case _: Exception => () }

  /** Feed the sidecar's RECORDED (immutable) instants into the
    * process-wide clock cache, once per (root, coverage window) — a
    * cold TIMESTAMP AS OF pays one sidecar read + one spot-check
    * instead of O(log V) header GETs. mtime-derived entries are NOT
    * primed: file mtimes can legitimately move and the raw clock must
    * observe that. */
  private def primeInstantsFromSidecar(low: Long, cur: Long): Unit = {
    val marker = (root, cur - cur % TxLog.SidecarEvery)
    if (!TxLog.sidecarPrimed.add(marker)) return
    trustedSidecar(low, cur).values.foreach(e =>
      if (e.recorded)
        TxLog.instantCache.put((root, e.version), java.lang.Long.valueOf(e.instant)))
  }

  /** CHANGE DATA FEED: the row-level changes committed by versions in
    * `[fromVersion, toVersion]` — INCLUSIVE of `fromVersion`, exactly
    * Delta's `table_changes(t, starting_version, ending_version)`
    * window — classified against primary `keys` as Delta CDF does:
    * `_change_type` ∈ {insert, delete, update_preimage,
    * update_postimage} plus `_commit_version` (the version that
    * committed the change). Version 0's commit diffs against the EMPTY
    * pre-state, so `fromVersion = 0` serves the seed snapshot as
    * inserts at commit 0 (Delta's starting-version semantics; a query
    * ported from Delta must not silently lose the seed).
    * `fromVersion = toVersion + 1` is the legal EMPTY window (a
    * streaming consumer already caught up). Reference parity-plus: the
    * reference's watermark loop re-reads source deltas
    * (`silver_sales.ipynb` incremental branch); CDF lets DOWNSTREAM
    * consumers do the same against any TxLog table.
    *
    * STORAGE-FREE and dir-granular: no change files are written at
    * commit time. Each consecutive manifest pair is diffed at DIR
    * granularity — a dir whose (presence, partition tags, tombstone
    * set) is identical in both versions cannot have contributed a
    * change and is never opened. A partition-pruned merge that
    * rewrote 3 of 10,000 partitions costs 3 partitions of I/O per
    * side here too; at 100 TB the feed reads bytes proportional to
    * what the commits touched, not to the table.
    *
    * Preconditions: `keys` must be unique per snapshot (the [[merge]]
    * invariant — CDF classifies by key identity); the versions' data
    * dirs must not have been [[vacuum]]ed. Schema evolution between
    * versions: only columns PRESENT IN BOTH versions participate in
    * update detection; version-specific columns null-fill (a rename
    * between the endpoints therefore reads as drop+add). */
  def changes(fromVersion: Long, toVersion: Long = -1L,
              keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "changes() classifies rows by key identity")
    val to = if (toVersion >= 0) toVersion else currentVersion()
    require(to >= 0, s"changes(): TxLog table at $root has no commits")
    require(fromVersion >= 0 && fromVersion <= to + 1,
      s"changes($fromVersion, $to): need 0 <= from <= to+1 (to <= ${currentVersion()})")
    (math.max(0L, fromVersion - 1) to to).foreach(v =>
      require(fs.exists(manifestPath(v)),
        s"changes($fromVersion, $to): manifest v$v was vacuumed — feed unavailable"))
    // v0's changes = the seed snapshot as inserts (diff from empty),
    // keys-first column order like every changeStep frame
    val seed =
      if (fromVersion == 0L && to >= 0L) {
        val s0 = snapshot(0)
        keys.foreach(k => require(s0.columns.contains(k),
          s"change key '$k' must exist in the seed version's schema"))
        Seq(s0.select((keys ++ s0.columns.filterNot(keys.contains))
            .map(col).toSeq: _*)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(0L)))
      } else Seq.empty
    val steps = seed ++
      (math.max(1L, fromVersion) to to).map(v => changeStep(v - 1, v, keys))
    steps.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse(snapshot(to).filter(lit(false))
        .withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(0L)))
  }

  /** The manifest ENTRIES whose visibility differs between two
    * versions — the pruned read set of a [[changes]] step (and what
    * specs assert to prove the feed never opens untouched
    * partitions). An entry's change signature is ((dir, partition
    * tag), the dir's tombstone set): a partitioned merge that rewrote
    * one partition of a many-tagged dir changes ONLY that (dir, tag)
    * pair, so the other partitions' rows are never read. */
  private[pipeline] def changedEntriesBetween(v0: Long, v1: Long)
      : (Seq[(String, Option[String])], Seq[(String, Option[String])]) = {
    val m0 = readManifestFull(v0); val m1 = readManifestFull(v1)
    def sigSet(m: Manifest): Set[((String, Option[String]), Set[String])] =
      m.entries.map(e => e -> m.tombstones.getOrElse(e._1, Nil).toSet).toSet
    val k0 = sigSet(m0); val k1 = sigSet(m1)
    (m0.entries.filter(e =>
       !k1.contains(e -> m0.tombstones.getOrElse(e._1, Nil).toSet)),
     m1.entries.filter(e =>
       !k0.contains(e -> m1.tombstones.getOrElse(e._1, Nil).toSet)))
  }

  /** Streaming-tail support ([[graft.streaming.TxLogStreamProvider]]):
    * classify commit `v` and return its rows. `Right(rows)` = the
    * commit only ADDED manifest entries — a pure append (including the
    * v0 table seed, whose rows are the whole snapshot, and
    * metadata-only commits, whose frame is empty). `Left(reason)` =
    * the commit rewrote, retagged, or tombstoned existing entries
    * (overwrite / merge / delete / compaction) and has no append-rows
    * representation — the streaming mirror of Delta's source tailing
    * AddFile actions and raising "data update detected" on anything
    * else. Dir-granular: only the ADDED entries' dirs are ever
    * opened. */
  def appendedAt(v: Long): Either[String, DataFrame] = {
    require(v >= 0 && fs.exists(manifestPath(v)),
      s"appendedAt($v): no committed version $v at $root")
    if (v == 0) return Right(snapshot(0))
    require(fs.exists(manifestPath(v - 1)),
      s"appendedAt($v): predecessor manifest v${v - 1} was vacuumed")
    val (removed, added) = changedEntriesBetween(v - 1, v)
    if (removed.nonEmpty)
      Left(s"commit v$v rewrote ${removed.size} existing manifest " +
        s"entr${if (removed.size == 1) "y" else "ies"}")
    else Right(readChosen(readManifestFull(v), added))
  }

  /** One commit's change rows: dir-granular manifest diff, then a
    * keyed full-outer join of only the CHANGED dirs' visible rows.
    * Rows a rewrite copied verbatim join equal and drop out. */
  private def changeStep(v0: Long, v1: Long, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val m0 = readManifestFull(v0); val m1 = readManifestFull(v1)
    val (ch0, ch1) = changedEntriesBetween(v0, v1)
    (ch0 ++ ch1).map(_._1).distinct.foreach(d =>
      require(fs.exists(new Path(dirPath(d))),
        s"changes($v0,$v1): data dir $d was vacuumed — feed unavailable"))
    val oldDf = readChosen(m0, ch0)
    val newDf = readChosen(m1, ch1)
    keys.foreach(k => require(
      oldDf.columns.contains(k) && newDf.columns.contains(k),
      s"change key '$k' must exist in both versions' schemas"))
    val vals1 = newDf.columns.filterNot(keys.contains).toSeq
    val vals0 = oldDf.columns.filterNot(keys.contains).toSeq
    val common = vals1.filter(vals0.contains)
    val allVals = vals1 ++ vals0.filterNot(vals1.contains)
    val dtypes = (newDf.schema ++ oldDf.schema)
      .map(f => f.name -> f.dataType).toMap
    def widen(df: DataFrame, mark: String): DataFrame =
      allVals.foldLeft(df)((acc, c) =>
        if (acc.columns.contains(c)) acc
        else acc.withColumn(c, lit(null).cast(dtypes(c))))
        .withColumn(mark, lit(true))
    val o = widen(oldDf, "__o").alias("o")
    val n = widen(newDf, "__n").alias("n")
    val cond = keys.map(k => col(s"o.$k") <=> col(s"n.$k")).reduce(_ && _)
    val j = o.join(n, cond, "full_outer")
    val valueChanged = common.map(c => !(col(s"o.$c") <=> col(s"n.$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    def take(side: String, tpe: String)(from: DataFrame) =
      from.select((keys ++ allVals).map(c => col(s"$side.$c").as(c)) :+
        lit(tpe).as("_change_type"): _*)
    val ins = take("n", "insert")(j.filter(col("o.__o").isNull))
    val del = take("o", "delete")(j.filter(col("n.__n").isNull))
    val upd = j.filter(col("o.__o").isNotNull && col("n.__n").isNotNull &&
      valueChanged)
    ins.unionByName(del)
      .unionByName(take("o", "update_preimage")(upd))
      .unionByName(take("n", "update_postimage")(upd))
      .withColumn("_commit_version", lit(v1))
  }

  /** Materialize the feed as parquet under `destDir`, one
    * `_commit_version=<v>` partition per commit — the streamable form:
    * `spark.readStream.parquet(destDir)` turns any TxLog table into an
    * incremental source (Delta writes such CDC files eagerly at commit
    * time; here they are derived lazily from the snapshots, so tables
    * pay nothing until a consumer asks). Idempotent per version:
    * re-materializing an existing version partition overwrites it
    * (dynamic partition overwrite). */
  def materializeChanges(fromVersion: Long, toVersion: Long,
                         keys: Seq[String], destDir: String): Unit = {
    changes(fromVersion, toVersion, keys)
      .write.partitionBy("_commit_version")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(destDir)
    // the rewrite replaces file names under existing partitions — drop
    // any cached listing so batch re-reads in this session stay valid
    spark.catalog.refreshByPath(destDir)
  }

  /** Range read over ONE of the table's stats columns — TxLog data
    * skipping: dirs whose committed [min,max] for `column` cannot
    * intersect [lo,hi] are never opened (the lakehouse file-skipping
    * move; manifest-level here, file-footer-level in Delta/Iceberg).
    * Dirs without stats for that column are read conservatively; a
    * residual typed filter keeps the result exact either way. `lo`/`hi`
    * are inclusive bounds in the column's string form (e.g.
    * "2024-01-03" for a DATE column). */
  def snapshotRangeOn(column: String, lo: String, hi: String,
                      version: Long = -1L): DataFrame = {
    val v = if (version >= 0) version else currentVersion()
    require(v >= 0, s"TxLog table at $root has no commits")
    val m = readManifestFull(v)
    val (c, t) = statsEntry(m, column) // physical name keys the prune
    val lg = logicalOf(m.colMap, c)   // visible name keys the residual
    import org.apache.spark.sql.functions.{col, expr}
    def q(s: String) = s.replace("'", "''") // SQL-literal escape
    readEntries(m, pruneDirs(m, c, t, lo, hi).toSet)
      .filter(col(lg) >= expr(s"CAST('${q(lo)}' AS $t)") &&
        col(lg) <= expr(s"CAST('${q(hi)}' AS $t)"))
  }

  /** [[snapshotRangeOn]] over the FIRST declared stats column. */
  def snapshotRange(lo: String, hi: String, version: Long = -1L): DataFrame = {
    val v = if (version >= 0) version else currentVersion()
    require(v >= 0, s"TxLog table at $root has no commits")
    snapshotRangeOn(firstStatsCol(readManifestFull(v)), lo, hi, version)
  }

  // ---- column mapping (logical ⇄ physical name indirection) ----

  /** Physical name behind logical `c` (identity when unmapped). */
  private def physicalOf(map: Seq[(String, String)], c: String): String =
    map.find(_._1 == c).map(_._2).getOrElse(c)

  /** Logical name exposing physical `p` (identity when unmapped). */
  private def logicalOf(map: Seq[(String, String)], p: String): String =
    map.find(_._2 == p).map(_._1).getOrElse(p)

  /** Project a PHYSICAL-named frame to the manifest's visible (logical)
    * schema. Mapped columns absent from `df` (a pruned read whose
    * chosen dirs predate an evolution) are skipped — same contract as
    * the unmapped read, which also exposes only the chosen dirs'
    * columns. Identity (no-op) for unmapped tables. */
  private def toLogical(map: Seq[(String, String)], df: DataFrame): DataFrame =
    if (map.isEmpty) df
    else {
      import org.apache.spark.sql.functions.col
      val have = df.columns.toSet
      df.select(map.collect { case (lg, ph) if have(ph) => col(ph).as(lg) }: _*)
    }

  /** Rename a LOGICAL-named frame to physical names for a carrying
    * write, and mint identity mappings for columns the map does not
    * know yet (additive evolution on a mapped table). A new logical
    * name colliding with a retired physical name gets a fresh physical
    * (`name__r<k>`) so dropped data can never resurrect. Returns the
    * physical frame and the FULL map for the commit. */
  private def toPhysical(map: Seq[(String, String)], retired: Seq[String],
                         df: DataFrame): (DataFrame, Seq[(String, String)]) =
    if (map.isEmpty) (df, map)
    else {
      import org.apache.spark.sql.functions.col
      // retired physicals stay poisoned forever: re-using one would
      // resurrect the dropped column's bytes out of old dirs
      val physTaken = scala.collection.mutable.Set((map.map(_._2) ++ retired): _*)
      var out = map
      // ONE atomic projection, never a fold of withColumnRenamed: a
      // legal rename chain can map a logical name onto ANOTHER
      // column's physical name (rename a→x; rename b→a), where
      // sequential renames collide or capture the wrong column
      val cols = df.columns.toSeq.map { c =>
        map.find(_._1 == c) match {
          case Some((_, ph)) => col(c).as(ph)
          case None =>
            require(!c.exists("\t\n\r".contains(_)),
              s"column name '$c' cannot join a mapped table (manifest line format)")
            val ph = if (!physTaken(c)) c
              else Iterator.from(1).map(k => s"${c}__r$k").find(!physTaken(_)).get
            physTaken += ph
            out = out :+ ((c, ph))
            col(c).as(ph)
        }
      }
      (df.select(cols: _*), out)
    }

  /** Current version's column map + retired physicals (empty for
    * unmapped/absent tables). */
  private def currentMapState(): (Seq[(String, String)], Seq[String]) = {
    val cur = currentVersion()
    if (cur < 0) (Nil, Nil)
    else { val m = readManifestFull(cur); (m.colMap, m.retired) }
  }

  /** The TOTAL map a first rename/drop starts from: the existing map,
    * or identity over the merged physical schema. */
  private def totalColMap(m: Manifest): Seq[(String, String)] =
    if (m.colMap.nonEmpty) m.colMap
    else spark.read.option("mergeSchema", "true")
      .parquet(m.dirs.map(dirPath): _*).schema.fieldNames.toSeq.map(c => (c, c))

  /** Refuse mapping ops on columns other machinery binds by name. */
  private def requireRemappable(m: Manifest, logical: String,
                                physical: String): Unit = {
    require(!m.partCol.contains(physical),
      s"cannot rename/drop partition column '$logical' of TxLog table at $root")
    val word = ("(?<![A-Za-z0-9_`])" +
      java.util.regex.Pattern.quote(logical) + "(?![A-Za-z0-9_`])").r
    m.checks.find(c => word.findFirstIn(c._2).isDefined).foreach { case (n, sql) =>
      throw new IllegalArgumentException(
        s"cannot rename/drop '$logical': CHECK constraint '$n' ($sql) references it — drop the constraint first")
    }
  }

  /** RENAME COLUMN — metadata-only, Delta column-mapping parity: the
    * logical name changes in the manifest; parquet keeps the physical
    * name; ZERO data rewritten. Time travel reads each version under
    * that version's own names. Stats/bloom skipping survives (keyed by
    * the physical name); the partition column and CHECK-referenced
    * columns are refused (their machinery binds by name). A full
    * rewrite ([[compact]]/[[overwrite]]) later MATERIALIZES
    * the mapping — logical names become physical, the map resets. */
  def renameColumn(oldName: String, newName: String): Long = {
    require(oldName != newName, s"rename to the same name '$oldName'")
    require(newName.nonEmpty && !newName.exists("\t\n\r".contains(_)),
      s"column name '$newName' must be non-empty and tab/newline-free (manifest line format)")
    commit(s"RENAME COLUMN $oldName TO $newName") { (cur, m) =>
      require(cur >= 0, s"TxLog table at $root has no commits")
      val map = totalColMap(m)
      val ph = map.find(_._1 == oldName).map(_._2).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$oldName' in TxLog table at $root (visible: ${map.map(_._1).mkString(",")})"))
      require(!map.exists(_._1 == newName),
        s"column '$newName' already exists in TxLog table at $root")
      requireRemappable(m, oldName, ph)
      Some(m.copy(colMap =
        map.map { case (lg, p) => if (lg == oldName) (newName, p) else (lg, p) }))
    }
  }

  /** DROP COLUMN — metadata-only (the mapping entry disappears; the
    * physical bytes stay until a rewrite). A later append re-adding the
    * same logical name mints a FRESH physical name, so the dropped
    * column's old values never resurrect — Delta's drop semantics. */
  def dropColumn(name: String): Long =
    commit(s"DROP COLUMN $name") { (cur, m) =>
      require(cur >= 0, s"TxLog table at $root has no commits")
      val map = totalColMap(m)
      val ph = map.find(_._1 == name).map(_._2).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$name' in TxLog table at $root (visible: ${map.map(_._1).mkString(",")})"))
      require(map.size > 1, s"cannot drop the last column '$name'")
      requireRemappable(m, name, ph)
      Some(m.copy(colMap = map.filterNot(_._1 == name),
        retired = (m.retired :+ ph).distinct))
    }

  /** PARTITION EVOLUTION — metadata-only, the Iceberg partition-spec
    * change: make `newCol` the table's partition column WITHOUT
    * rewriting any data dir. Every carried same-scheme partition tag
    * is re-recorded as a scheme-qualified FOREIGN tag under the old
    * column (a 3-field manifest line), so each dir's row-visibility
    * restriction keeps applying verbatim — dead partitions of
    * pre-evolution merges stay dead. Dirs committed after the
    * evolution are tagged, read-filtered, and merge-pruned under the
    * new column. Foreign-scheme dirs cannot be pruned by new-scheme
    * merges: they are merged in whole and come out re-tagged, so the
    * table SELF-HEALS into the new layout one merge at a time (or in
    * one pass via [[compact]], which rewrites under the new scheme).
    * At 100 TB this is the difference between changing a table's
    * partition strategy with a metadata commit and rewriting the
    * table: exactly Iceberg's spec-evolution contract, which Delta
    * lacks. */
  def evolvePartitioning(newCol: String): Long =
    commit(s"EVOLVE PARTITIONING TO $newCol") { (cur, prev) =>
      require(cur >= 0, s"TxLog table at $root has no commits to evolve")
      val phys = physicalOf(prev.colMap, newCol)
      require(!prev.partCol.contains(phys),
        s"TxLog table at $root is already partitioned by $newCol")
      require(snapshot(cur).schema.fieldNames.contains(newCol),
        s"partition column '$newCol' absent from TxLog table at $root")
      val evolved = prev.entries.map {
        case (d, Some(tag)) if !isForeign(Some(tag)) =>
          val oldCol = prev.partCol.getOrElse(throw new IllegalStateException(
            s"tagged entries without a partition column at $root"))
          (d, Some(foreignTag(oldCol, tag)))
        case e => e
      }
      Some(prev.copy(partCol = Some(phys), entries = evolved))
    }

  private def statsEntry(m: Manifest, column: String): (String, String) = {
    val ph = physicalOf(m.colMap, column)
    m.stats.find(_._1 == ph).getOrElse(throw new IllegalArgumentException(
      s"TxLog table at $root keeps no stats for '$column' " +
        s"(tracked: ${m.stats.map(_._1).mkString(",")}) — commit through a TxLog(statsCols=...) writer"))
  }

  private def firstStatsCol(m: Manifest): String =
    m.stats.headOption.map(_._1).getOrElse(throw new IllegalArgumentException(
      s"TxLog table at $root has no stats columns — commit through a TxLog(statsCols=...) writer"))

  private def pruneDirs(m: Manifest, c: String, t: String,
                        lo: String, hi: String): Seq[String] =
    m.dirs.filter { d =>
      m.ranges.get((d, c)).forall { case (mn, mx) =>
        cmpVals(t, mx, lo) >= 0 && cmpVals(t, mn, hi) <= 0
      }
    }

  /** Dirs the data-skipping prune would open for [lo,hi] on `column`
    * (default: first stats column) — exposed so tests can assert
    * skipping is structural, not just filtered. */
  private[pipeline] def rangeDirs(lo: String, hi: String,
                                  column: Option[String] = None): Seq[String] = {
    val m = readManifestFull(currentVersion())
    val (c, t) = statsEntry(m, column.getOrElse(firstStatsCol(m)))
    pruneDirs(m, c, t, lo, hi)
  }

  /** Data-skipping decision for the OPTIMIZER's scan-prune rule
    * ([[graft.plans.TxLogSkipScans]]): of `paths` (absolute dir paths,
    * scheme-stripped, typically a batched snapshot read's rootPaths),
    * the subset no predicate can exclude. `bounds` are per-column
    * inclusive [lo, hi] constraints and `points` are equality probes
    * for the per-dir Bloom words — both in the same CAST-to-STRING
    * canonical form the stats were committed in. Conservative
    * throughout: a path outside this table's data/, a column without
    * committed stats, or a dir without a range line is never skipped.
    *
    * Stats are immutable once a dir commits (dirs are never rewritten
    * in place), so the view may be assembled across manifest versions
    * and cached per (root, currentVersion) — time-travel scans of dirs
    * the current manifest no longer references still find their
    * ranges. */
  private def scanStatsView(): TxLog.ScanStatsView = {
    val cur = currentVersion()
    // bounded: stale (root, version) keys accumulate as tables commit —
    // dropping the whole map is safe (pure cache) and keeps the session
    // footprint flat
    if (TxLog.scanStatsCache.size() >= 256) TxLog.scanStatsCache.clear()
    TxLog.scanStatsCache.computeIfAbsent((root, cur), _ => {
      // incremental seed: dir stats are immutable, so version v's view
      // is v−1's cached view plus ONE manifest read — without the
      // seed, every commit would re-walk the whole log (O(history) per
      // commit, the very cost the hint-first currentVersion avoids)
      Option(TxLog.scanStatsCache.get((root, cur - 1))) match {
        case Some(prevView) =>
          val m = readManifestFull(cur)
          TxLog.ScanStatsView(m.stats.toMap, m.colMap,
            prevView.ranges ++ m.ranges, prevView.blooms ++ m.blooms)
        case None =>
          var types = Map.empty[String, String]
          var colMap = Seq.empty[(String, String)]
          var ranges = Map.empty[(String, String), (String, String)]
          var blooms = Map.empty[(String, String), String]
          var v = cur
          var stop = false
          while (v >= 0 && !stop) {
            try {
              val m = readManifestFull(v)
              if (v == cur) { types = m.stats.toMap; colMap = m.colMap }
              ranges = m.ranges ++ ranges // newer manifests win (identical anyway)
              blooms = m.blooms ++ blooms
            } catch { case _: Exception => stop = true } // vacuumed — older are gone too
            v -= 1
          }
          TxLog.ScanStatsView(types, colMap, ranges, blooms)
      }
    })
  }

  /** Re-render a predicate literal's canonical string in the STATS
    * column's own CAST-to-STRING form, or None when the combination
    * is not provably comparable — the type-coercion gap of the DML
    * face, whose predicates arrive parsed but UNRESOLVED (`price =
    * 137` carries an IntegerType literal against a DOUBLE column whose
    * stats and Bloom words say "137.0"). None disables pruning for
    * that conjunct — conservative, never wrong. */
  private def normalizeLit(statsType: String,
      litType: org.apache.spark.sql.types.DataType,
      s: String): Option[String] = {
    import org.apache.spark.sql.types._
    statsType match {
      case "TINYINT" | "SMALLINT" | "INT" | "BIGINT" => litType match {
        case ByteType | ShortType | IntegerType | LongType => Some(s)
        case StringType => scala.util.Try(s.trim.toLong.toString).toOption
        case _ => None // fractional vs integral column: don't guess
      }
      case "FLOAT" | "DOUBLE" =>
        scala.util.Try(s.trim.toDouble.toString).toOption // "137" → "137.0"
      case "DATE" => litType match {
        // DateType literals arrive pre-rendered as padded ISO
        // (PredicateBounds canonicalizes via LocalDate.ofEpochDay)
        case DateType => Some(s)
        // A STRING literal against a DATE column reaches here raw from
        // the unresolved DML face: Spark's cast accepts non-canonical
        // forms ('2024-7-1', stray whitespace, a trailing time part)
        // that compare WRONG lexicographically against ISO min/max and
        // hash wrong for Bloom probes — a dir containing matching rows
        // could be pruned, and DML would silently skip its rows. Parse
        // with cast semantics and re-render padded ISO; unparseable →
        // None (pruning disabled for the conjunct, never wrong).
        case StringType => canonDateString(s)
        case _ => None
      }
      case _ => litType match { // STRING stats: lexicographic compare
        case StringType => Some(s) // is only sound for string literals
        case _ => None
      }
    }
  }

  /** A date STRING in Spark's cast-to-DATE dialect (`[ \t]*
    * [+-]?y+-[m]m-[d]d[ T<time>]?[ \t]*`), re-rendered as the padded
    * ISO form the stats store — or None when it does not parse (the
    * caller keeps the dir). A trailing time part is truncated, which
    * matches the cast's own behavior for date comparisons. */
  private def canonDateString(s0: String): Option[String] = {
    val s = s0.trim
    val datePart = s.takeWhile(c => c != ' ' && c != 'T')
    datePart.split("-", -1) match {
      case Array(y, m, d) if y.nonEmpty && m.nonEmpty && d.nonEmpty =>
        scala.util.Try(
          java.time.LocalDate.of(y.toInt, m.toInt, d.toInt).toString).toOption
      case _ => None
    }
  }

  /** May dir token `d` contain a row satisfying every bound and point
    * probe? Conservative: unknown column/type/range, or a literal type
    * not provably comparable with the stats type → yes. */
  private def mayMatch(view: TxLog.ScanStatsView, d: String,
      bounds: Seq[graft.plans.PredicateBounds.Bound],
      points: Seq[(String, String, org.apache.spark.sql.types.DataType)]): Boolean = {
    val boundsOk = bounds.forall { case (c0, lo, hi, dt) =>
      val c = physicalOf(view.colMap, c0)
      view.types.get(c).forall { t =>
        view.ranges.get((d, c)).forall { case (mn, mx) =>
          (try lo.flatMap(normalizeLit(t, dt, _)).forall(l => cmpVals(t, mx, l) >= 0) &&
               hi.flatMap(normalizeLit(t, dt, _)).forall(h => cmpVals(t, mn, h) <= 0)
           catch { case _: NumberFormatException => true })
        }
      }
    }
    def pointsOk = points.forall { case (c0, value, dt) =>
      val c = physicalOf(view.colMap, c0)
      view.types.get(c).flatMap(t => normalizeLit(t, dt, value)).forall(v =>
        view.blooms.get((d, c)).forall(bloomMayContain(_, v)))
    }
    boundsOk && pointsOk
  }

  /** The data-skipping decision shared by the optimizer rule (path
    * granularity) and the DML paths (dir tokens): of `paths`, the
    * subset no bound, point probe, or IN-list (OR semantics per list)
    * can exclude. One stats-view resolution per call. */
  private[graft] def skipForScan(paths: Seq[String],
      bounds: Seq[graft.plans.PredicateBounds.Bound],
      points: Seq[(String, String, org.apache.spark.sql.types.DataType)],
      ins: Seq[(String, Seq[String], org.apache.spark.sql.types.DataType)] = Nil)
      : Seq[String] = {
    if (currentVersion() < 0) return paths
    val view = scanStatsView()
    val dataPrefix = new Path(dataDir).toUri.getPath + "/"
    def surviving(d: String): Boolean =
      mayMatch(view, d, bounds, points) && ins.forall { case (c, vs, dt) =>
        vs.exists(v => mayMatch(view, d,
          Seq((c, Some(v), Some(v), dt)), Seq((c, v, dt))))
      }
    paths.filter { p0 =>
      val p = new Path(p0).toUri.getPath
      !p.startsWith(dataPrefix) || surviving(p.stripPrefix(dataPrefix))
    }
  }

  /** [[skipForScan]] over manifest dir tokens for a predicate STRING —
    * the DML paths' pre-scan prune: a DELETE/UPDATE whose predicate
    * the stats exclude for a dir never opens that dir. The caller's
    * residual predicate keeps correctness; this bounds I/O only. A
    * predicate this extractor cannot analyze keeps every dir. */
  private def mayMatchDirs(dirs: Seq[String], predicate: String): Seq[String] = {
    val (bounds, points, ins) =
      try graft.plans.PredicateBounds.extract(
        spark.sessionState.sqlParser.parseExpression(predicate))
      catch { case _: Exception => return dirs }
    if (bounds.isEmpty && points.isEmpty && ins.isEmpty) return dirs
    val view = scanStatsView()
    dirs.filter(d => mayMatch(view, d, bounds, points) &&
      ins.forall { case (c, vs, dt) =>
        vs.exists(v => mayMatch(view, d,
          Seq((c, Some(v), Some(v), dt)), Seq((c, v, dt))))
      })
  }

  /** Driver-side ordering in the stats column's type: numeric types
    * parse; DATE and STRING compare lexicographically (ISO dates are
    * chronological). Timestamps are rejected at stats-collection time
    * (fractional-second toString is not lexicographic). */
  private def cmpVals(sqlType: String, a: String, b: String): Int = sqlType match {
    case "TINYINT" | "SMALLINT" | "INT" | "BIGINT" => java.lang.Long.compare(a.toLong, b.toLong)
    case "FLOAT" | "DOUBLE" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case _ => a.compareTo(b)
  }

  // MERGE-ON-READ deletion vectors: a tombstone sidecar is a parquet
  // dir of (file STRING, row BIGINT) pairs — the deleted rows' stable
  // physical addresses, captured from Spark's parquet metadata columns
  // (`_metadata.file_path`, `_metadata.row_index` — the same row-id
  // notion Delta's deletion vectors index). Reads subtract them with
  // one keyed ANTI join; the tombstone side is bounded by delete
  // volume, so at 100 TB it broadcasts and a one-row GDPR delete costs
  // a metadata-sized sidecar write instead of a dir rewrite.
  private final val DvFile = "__dv_file"
  private final val DvRow = "__dv_row"
  private final val DvDir = "__dv_dir"

  /** Every visible row of manifest `m` in the VISIBLE schema plus the
    * physical row address ([[DvFile]], [[DvRow]]) and the owning dir
    * ([[DvDir]]) — the input relation for row-addressed mutations:
    * [[deleteWhere]] tombstones by address, [[mergeInto]] rewrites the
    * addressed dirs and carries the rest. Pre-evolution dirs null-fill
    * columns they lack (mergeSchema union of dir footers), so a
    * predicate over any visible column resolves everywhere. */
  private def addressedVisibleRows(m: Manifest,
      only: Option[Set[String]] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // the schema is the TABLE's (all dirs), even when the scan is
    // restricted — a predicate over any visible column must resolve
    val full = spark.read.option("mergeSchema", "true")
      .parquet(m.dirs.map(dirPath): _*).schema
    m.entries.filter(e => only.forall(_.contains(e._1)))
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (d, es) =>
      val base = withRowIds(snapshotOfDir(d))
      val minus = m.tombstones.get(d).filter(_.nonEmpty)
        .fold(base)(ts => dropTombstoned(base, ts))
      val vis = tagFilter(m.partCol, es.map(_._2)).fold(minus)(minus.filter)
      val widened = full.fields.filterNot(f => vis.columns.contains(f.name))
        .foldLeft(vis)((df, f) => df.withColumn(f.name, lit(null).cast(f.dataType)))
      // mutations speak the VISIBLE schema: project physical → logical
      // (keeping the row-address columns) before evaluating anything
      val visNamed =
        if (m.colMap.isEmpty) widened
        else {
          val have = widened.columns.toSet
          widened.select(m.colMap.collect {
            case (lg, ph) if have(ph) => col(ph).as(lg) } ++
            Seq(col(DvFile), col(DvRow)): _*)
        }
      visNamed.withColumn(DvDir, lit(d))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** `df` widened with the two physical row-address columns. */
  private def withRowIds(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.select(col("*"), col("_metadata.file_path").as(DvFile),
      col("_metadata.row_index").as(DvRow))
  }

  /** Union of tombstone sidecar frames, in anti-join key shape. */
  private def tombstoneFrame(tsDirs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    tsDirs.map(t => spark.read.parquet(dirPath(t))
        .select(col("file").as("__ts_file"), col("row").as("__ts_row")))
      .reduce(_.unionByName(_))
  }

  /** Subtract tombstoned rows from a row-id-widened frame (keeps the
    * address columns — [[deleteWhere]] reuses them). */
  private def dropTombstoned(withIds: DataFrame, tsDirs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    withIds.join(tombstoneFrame(tsDirs),
      col(DvFile) === col("__ts_file") && col(DvRow) === col("__ts_row"),
      "left_anti")
  }

  /** A dir's rows with its tombstones applied (no partition-tag
    * restriction — callers layer that on top). */
  private def dirVisibleRows(tombs: Map[String, Seq[String]], d: String): DataFrame =
    tombs.get(d).filter(_.nonEmpty).fold(snapshotOfDir(d))(ts =>
      dropTombstoned(withRowIds(snapshotOfDir(d)), ts).drop(DvFile, DvRow))

  /** Union of `selectDirs`, each restricted to the partitions it is
    * live for in manifest `m`, minus each dir's tombstoned rows. */
  private def readEntries(m: Manifest, selectDirs: Set[String]): DataFrame =
    readChosen(m, m.entries.filter(e => selectDirs(e._1)))

  /** [[readEntries]] at ENTRY granularity: read exactly the given
    * (dir, tag) manifest entries — the change feed selects individual
    * partition tags of a dir other entries of which are unchanged. */
  private def readChosen(m: Manifest,
                         chosen: Seq[(String, Option[String])]): DataFrame = {
    require(chosen.nonEmpty || m.entries.nonEmpty, s"empty manifest at $root")
    // multi-dir batch read honoring converted hive leaves: plain dirs
    // batch into one mergeSchema scan; hive leaves (whose files LACK
    // the partition column) group by parent into one basePath-
    // discovery scan each — still O(groups) scans, not O(dirs)
    def batchRead(dirs: Seq[String]): DataFrame = {
      val (hive, plain) = dirs.distinct.partition(d => hiveLeafParent(d).isDefined)
      val plainDf =
        if (plain.isEmpty) None
        else Some(spark.read.option("mergeSchema", "true")
          .parquet(plain.map(dirPath): _*))
      val hiveDfs = hive.groupBy(d => hiveLeafParent(d).get).toSeq.sortBy(_._1)
        .map { case (parent, leaves) =>
          spark.read.option("basePath", parent)
            .option("mergeSchema", "true").parquet(leaves.map(dirPath): _*)
        }
      (plainDf.toSeq ++ hiveDfs)
        .reduce(_.unionByName(_, allowMissingColumns = true))
    }
    if (chosen.isEmpty) // everything skipped: empty frame, FULL schema —
      // merged across all dirs, so a schema-evolved table still exposes
      // columns a later append introduced (a residual filter on such a
      // column must resolve, not throw)
      return toLogical(m.colMap, batchRead(m.dirs)
        .filter(org.apache.spark.sql.functions.lit(false)))
    val dirty = chosen.map(_._1).distinct
      .filter(d => m.tombstones.get(d).exists(_.nonEmpty)).toSet
    // a CLUSTERED subdir entry is SELF-EVIDENT: the dir name itself
    // encodes its one tag value and overwriteClustered physically
    // placed only that value's rows there, so no row-level visibility
    // filter is needed — such entries batch into the one multi-dir
    // read (a 20-cell multi-point probe is ONE scan, not 20). A
    // CONVERTED hive leaf is self-evident the same way: the hive
    // layout physically placed only the dir-encoded value's rows there.
    def selfEvident(d: String, tag: Option[String]): Boolean =
      tag.exists { t =>
        val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(t)
        splitTag(t)._1.isEmpty && (d.endsWith("/__cluster=" + esc) ||
          m.partCol.exists(pc => d.endsWith(s"/$pc=$esc") &&
            hiveLeafParent(d).isDefined))
      }
    def effectiveFilter(d: String, es: Seq[(String, Option[String])])
        : Option[org.apache.spark.sql.Column] =
      if (es.forall(e => selfEvident(d, e._2))) None
      else tagFilter(m.partCol, es.map(_._2))
    // mergeSchema / allowMissingColumns: SCHEMA EVOLUTION — an append
    // that adds a column widens the snapshot; older dirs read the new
    // column as null (Delta's additive evolution semantics)
    val clean = chosen.filterNot(e => dirty(e._1))
    val cleanByDir = clean.groupBy(_._1).toSeq.sortBy(_._1)
    // per-dir visibility filters (same-scheme AND foreign-scheme tags
    // — see tagFilter); dirs with no restriction batch into one read
    val cleanDf: Option[DataFrame] =
      if (clean.isEmpty) None
      else if (cleanByDir.forall { case (d, es) =>
        effectiveFilter(d, es).isEmpty })
        Some(batchRead(cleanByDir.map(_._1)))
      else Some(cleanByDir.map { case (d, es) =>
        val df = snapshotOfDir(d)
        effectiveFilter(d, es).fold(df)(df.filter)
      }.reduce(_.unionByName(_, allowMissingColumns = true)))
    // tombstoned dirs read per-dir: row addresses are per-file, so the
    // anti join never crosses dirs; tag filters layer on the survivors
    val dirtyDfs = chosen.filter(e => dirty(e._1))
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (d, es) =>
        val df = dirVisibleRows(m.tombstones, d)
        effectiveFilter(d, es).fold(df)(df.filter)
      }
    toLogical(m.colMap, (cleanDf.toSeq ++ dirtyDfs)
      .reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  /** Resolve a manifest dir entry to a filesystem path. Entries are
    * normally uuid names under this table's `data/`; a SHALLOW CLONE's
    * manifest instead carries ABSOLUTE paths into its source table
    * ([[shallowCloneTo]]) — zero-copy references, same convention as
    * Delta clones' absolute-path actions. */
  private def dirPath(d: String): String =
    if (d.startsWith("/")) d else s"$dataDir/$d"

  /** OPTIMIZED WRITE (Delta's `optimizedWrite` parity): right-size the
    * dir's file count from the plan's size estimate so each task
    * writes roughly one [[TxLog.TargetFileBytes]] file, instead of
    * inheriting the upstream partitioning (at 100 TB the alternative
    * is a shuffle's worth of tiny files per commit; locally it is 32
    * near-empty files per dir that every later stats/bloom/snapshot
    * scan pays to open). A round-robin repartition — an adaptive
    * shuffle, exactly Delta's design — preserves upstream COMPUTE
    * parallelism (a plain coalesce would drag the whole job into the
    * merged tasks). Only shrinks: when the estimate already calls for
    * at least the session's shuffle parallelism, the frame is left
    * untouched, so genuinely large writes keep their width and the
    * extra shuffle never exceeds one target file per task.
    * Layout-controlled rewrites ([[pack]]) bypass it via `sized = false`. */
  private def sizedForWrite(df: DataFrame): DataFrame = {
    val est = org.apache.spark.sql.graft.GraftSqlBridge.planSizeBytes(df)
    // catalyst sizeInBytes is the in-memory width — parquet encoding
    // + compression lands near a third of it
    val n = est / 3 / TxLog.TargetFileBytes + 1
    val cur = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    if (n < cur) df.repartition(n.toInt) else df
  }

  /** Write `df` fully into a fresh uuid data dir (no manifest yet —
    * unreferenced dirs are invisible to readers and GC'd by vacuum).
    * `sized = false` bypasses the optimized-write repartition for
    * callers that already control their layout exactly. */
  private def writeDataDir(df: DataFrame, sized: Boolean = true): String = {
    val uuid = java.util.UUID.randomUUID().toString
    (if (sized) sizedForWrite(df) else df)
      .write.mode("overwrite").parquet(s"$dataDir/$uuid")
    uuid
  }

  private val StatsSafeTypes: Set[String] =
    Set("TINYINT", "SMALLINT", "INT", "BIGINT", "FLOAT", "DOUBLE", "DATE", "STRING")

  /** Min/max of every [[statsCols]] column over a freshly-written dir,
    * with each column's SQL type — ONE footer-cheap agg scan per commit
    * regardless of column count, the price of every future skipped
    * read. Columns that are absent/unsupported are dropped from the
    * header; bounds containing line-format characters are dropped from
    * the ranges (conservative reads, never wrong). */
  private def statsFor(uuid: String, colMap: Seq[(String, String)] = Nil)
      : (Seq[(String, String)], Map[(String, String), (String, String)]) =
    if (statsCols.isEmpty) (Seq.empty, Map.empty)
    else {
      import org.apache.spark.sql.functions.{col, max, min}
      val df = snapshotOfDir(uuid)
      // writer config names columns LOGICALLY; the dir (and the stats
      // header keys) are physical — translate through the commit's map
      val usable = statsCols.map(physicalOf(colMap, _))
        .flatMap(c => df.schema.find(_.name == c)
        .filter(f => StatsSafeTypes(f.dataType.sql))
        .map(f => (c, f.dataType.sql)))
      if (usable.isEmpty) (Seq.empty, Map.empty)
      else {
        val aggs = usable.flatMap { case (c, _) =>
          Seq(min(col(c)).cast("string"), max(col(c)).cast("string")) }
        val r = df.agg(aggs.head, aggs.drop(1): _*).head()
        val ranges = usable.zipWithIndex.flatMap { case ((c, _), i) =>
          if (r.isNullAt(2 * i) || r.isNullAt(2 * i + 1)) None
          else {
            val (mn, mx) = (r.getString(2 * i), r.getString(2 * i + 1))
            if ((mn + mx).exists(ch => ch == '\t' || ch == '\n' || ch == '\r')) None
            else Some((uuid, c) -> (mn, mx))
          }
        }.toMap
        (usable, ranges)
      }
    }

  private final val BloomHashes = 3

  /** Per-dir Bloom bits for every [[bloomCols]] column present in the
    * dir — the POINT-LOOKUP complement of min/max ranges (a needle key
    * in a 100 TB table prunes to the handful of dirs whose filter
    * fires, where a [min,max] band over a high-NDV key prunes
    * nothing). Geometry: [[TxLog.BloomBits]] bits (self-describing in the
    * manifest hex — readers derive it per line), 3 hashes =
    * `xxhash64(i, CAST(col AS STRING))` for i in 0..2 — the hash runs
    * INSIDE codegen on the executors; the driver replays the same
    * expression per probe. Build cost: one `bit_or` aggregation per
    * commit collapsing to `BloomBits/64` word rows — metadata-sized,
    * like [[statsFor]]'s agg. Size for ~10 bits per distinct key per
    * dir (~1% fp); an undersized filter saturates and degrades to
    * "open the dir" — conservative, never wrong. */
  private def bloomsFor(uuid: String, colMap: Seq[(String, String)] = Nil)
      : Map[(String, String), String] =
    if (bloomCols.isEmpty) Map.empty
    else {
      import org.apache.spark.sql.functions.{array, bit_or, col, explode, expr, lit, pmod, xxhash64}
      val df = snapshotOfDir(uuid)
      bloomCols.map(physicalOf(colMap, _))
        .filter(c => df.schema.exists(_.name == c)).flatMap { c =>
        val words = df.filter(col(c).isNotNull)
          .select(explode(array((0 until BloomHashes).map(i =>
            pmod(xxhash64(lit(i), col(c).cast("string")), lit(TxLog.BloomBits.toLong))): _*))
            .as("i"))
          .select((col("i") / 64).cast("int").as("w"),
            expr("shiftleft(CAST(1 AS BIGINT), CAST(i % 64 AS INT))").as("m"))
          .groupBy(col("w")).agg(bit_or(col("m")).as("bits"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val packed = Array.tabulate(TxLog.BloomBits / 64)(w => words.getOrElse(w, 0L))
        Some((uuid, c) -> packed.map(w => f"$w%016x").mkString)
      }.toMap
    }

  /** Driver-side replay of the executor bloom hash for one probe
    * value: the same `XxHash64(i, value)` expression, evaluated once. */
  private def bloomBitOf(i: Int, value: String, bits: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = XxHash64(Seq(Literal(i), Literal.create(value,
      org.apache.spark.sql.types.StringType)), 42L).eval().asInstanceOf[Long]
    java.lang.Math.floorMod(h, bits.toLong).toInt
  }

  /** Whether `hex` (a packed word bloom) may contain `value`. */
  private def bloomMayContain(hex: String, value: String): Boolean = {
    val words = hex.grouped(16).map(java.lang.Long.parseUnsignedLong(_, 16)).toArray
    val bits = words.length * 64
    (0 until BloomHashes).forall { i =>
      val b = bloomBitOf(i, value, bits)
      (words(b / 64) & (1L << (b % 64))) != 0L
    }
  }

  /** Dirs a point lookup `column = value` must open: bloom-pruned
    * (dirs with no filter for the column are kept — conservative),
    * further intersected with the min/max range prune when the column
    * also carries stats. Exposed so tests can assert skipping is
    * structural. */
  private[pipeline] def pointDirs(column: String, value: String,
                                  version: Long = -1L): Seq[String] = {
    val v = if (version >= 0) version else currentVersion()
    require(v >= 0, s"TxLog table at $root has no commits")
    val m = readManifestFull(v)
    val ph = physicalOf(m.colMap, column) // bloom/stats keys are physical
    val bloomed = m.dirs.filter(d =>
      m.blooms.get((d, ph)).forall(bloomMayContain(_, value)))
    m.stats.find(_._1 == ph) match {
      case Some((c, t)) => bloomed.intersect(pruneDirs(m, c, t, value, value))
      case None => bloomed
    }
  }

  /** Point-lookup read: `column = value` over the snapshot, opening
    * only [[pointDirs]]. The equality residual compares in STRING form
    * — the same canonicalization the filter was built from. */
  def snapshotPoint(column: String, value: String,
                    version: Long = -1L): DataFrame = {
    val v = if (version >= 0) version else currentVersion()
    require(v >= 0, s"TxLog table at $root has no commits")
    val m = readManifestFull(v)
    readEntries(m, pointDirs(column, value, v).toSet)
      .filter(org.apache.spark.sql.functions.col(column)
        .cast("string") === value)
  }

  /** MULTI-point lookup: `column IN (values)` over the snapshot,
    * opening the UNION of every value's [[pointDirs]] in ONE
    * distributed read (clustered subdir entries are self-evident, so
    * the union batches into a single multi-dir scan) — an ANN probe
    * over 20 cells costs one plan, not 20. An empty `values` is the
    * empty relation with the snapshot's schema. */
  def snapshotPoints(column: String, values: Seq[String],
                     version: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val v = if (version >= 0) version else currentVersion()
    require(v >= 0, s"TxLog table at $root has no commits")
    val m = readManifestFull(v)
    if (values.isEmpty) return snapshot(v).filter(lit(false))
    val dirs = values.flatMap(pointDirs(column, _, v)).toSet
    readEntries(m, dirs).filter(col(column).cast("string")
      .isin(values.distinct: _*))
  }

  /** The atomic publish primitive, chosen per storage scheme
    * ([[ManifestStore.forScheme]]): link/rename where the filesystem
    * has create-if-absent (local, HDFS), coordinated-put where it does
    * not (object stores — the reference's `abfss://` home), both
    * overridable via `spark.graft.txlog.manifestStore.<scheme>.impl`. */
  private lazy val manifestStore: ManifestStore =
    ManifestStore.forScheme(k => spark.conf.getOption(k), fs.getUri.getScheme)

  /** Attempt to commit `lines` as EXACTLY `version`'s manifest — a
    * put-if-absent of the version file through [[manifestStore]].
    * Returns whether THIS writer won `version`. */
  private def tryCommitManifest(version: Long, lines: Seq[String],
                                op: String = ""): Boolean = {
    fs.mkdirs(new Path(logDir))
    // In-commit timestamps (Delta's delta.enableInCommitTimestamps):
    // when the manifest being committed carries the table property,
    // the commit instant is RECORDED IN the manifest — monotone past
    // the parent's instant — so time travel survives file copies,
    // mtime-coarse filesystems, and clock skew between writers. The
    // single choke point stamps every commit path uniformly.
    // the property value parses as a BOOLEAN, case-insensitively
    // (Delta parses boolean table properties that way): setProperties
    // normalizes to lowercase at the choke point, but a manifest
    // written by a foreign/older writer may still carry 'True' — an
    // armed table must never silently degrade to the mtime clock
    val ictArmed = lines.exists { l =>
      l.startsWith(s"#prop\t${TxLog.IctProp}\t") &&
        l.stripPrefix(s"#prop\t${TxLog.IctProp}\t").trim
          .equalsIgnoreCase("true")
    }
    val stamped =
      if (ictArmed) {
        val floor =
          if (version == 0L) Long.MinValue
          else instantOrNone(version - 1).map(_ + 1).getOrElse(Long.MinValue)
        s"#commitTs=${math.max(System.currentTimeMillis(), floor)}" +: lines
      } else lines
    val withOp = if (op.isEmpty) stamped else s"#op=$op" +: stamped
    val won = manifestStore.putIfAbsent(fs, new Path(logDir), manifestPath(version),
      withOp.mkString("\n").getBytes("UTF-8"))
    // every winning commit refreshes the advisory latest-version
    // pointer, bounding reader roll-forward to the concurrent window
    if (won) {
      TxLog.purgeMetaCaches(root, version)
      writeLatestHint(version)
      maybeRefreshHistorySidecar(version)
    }
    won
  }

  /** THE optimistic transaction: the one commit path of every writing
    * op. Per attempt it reads the head manifest (the empty manifest
    * for a new table, whose head is -1) and skips a redelivered `txn`
    * (Delta's txnAppId/txnVersion exactly-once: the head stands — a
    * redelivered append would otherwise duplicate its rows). Then
    * `next(head, prev)` builds the next manifest FROM `prev` (None =
    * no-op, the head stands), the writer's batch id is stamped into
    * its `#txn` marks, and it publishes put-if-absent as `head + 1`.
    * A lost race re-runs `next` against the new head: ops whose result
    * depends on the snapshot they read (merge, update, delete,
    * compaction) recompute it, so a loser never recommits its stale
    * view over the winner's data (lost update). Gives up with an
    * IOException naming `op` after [[TxLog.MaxRaceRetries]] lost
    * races. Returns the version that stands: the committed one, or
    * the head on a no-op. */
  private def commit(op: String, txn: Option[(String, Long)] = None)(
      next: (Long, Manifest) => Option[Manifest]): Long = {
    @scala.annotation.tailrec
    def attempt(n: Int): Long = {
      if (n == TxLog.MaxRaceRetries) throw new java.io.IOException(
        s"TxLog $op lost ${TxLog.MaxRaceRetries} optimistic races at $root")
      val head = currentVersion()
      val prev =
        if (head >= 0) readManifestFull(head)
        else Manifest(None, Seq.empty, Seq.empty, Map.empty)
      val redelivered = txn.exists { case (app, id) => prev.txns.get(app).exists(_ >= id) }
      (if (redelivered) None else next(head, prev)) match {
        case None => head
        case Some(m) =>
          val txns = txn.fold(prev.txns) { case (app, id) =>
            prev.txns + (app -> math.max(id, prev.txns.getOrElse(app, -1L))) }
          beforePublish()
          if (tryCommitManifest(head + 1, manifestLines(m.copy(txns = txns)), op)) head + 1
          else attempt(n + 1)
      }
    }
    attempt(0)
  }

  /** Test seam: invoked by [[commit]] between building a manifest and
    * publishing it — lets a spec inject a concurrent writer
    * deterministically. No-op in production. */
  private[pipeline] var beforePublish: () => Unit = () => ()

  /** FULL-REWRITE shape: the new dirs ARE the table. Layout —
    * partition column, stats, entries, ranges, Blooms — is the new
    * dirs'; deletion vectors and column mapping reset (a rewrite
    * stores the visible names physically). Table metadata carries
    * from `prev`. */
  private def rewritten(prev: Manifest, partCol: Option[String],
                        entries: Seq[(String, Option[String])],
                        stats: Seq[(String, String)],
                        ranges: Map[(String, String), (String, String)],
                        blooms: Map[(String, String), String]): Manifest =
    prev.copy(partCol = partCol, stats = stats, entries = entries,
      ranges = ranges, blooms = blooms, tombstones = Map.empty,
      colMap = Nil, retired = Nil)

  /** CARRY shape: `carry` (prev's entries that stay live) plus the
    * `added` entries of freshly-written dirs. Ranges, Blooms and
    * deletion vectors are kept for the carried dirs only — a dir that
    * left the snapshot takes its metadata with it. Everything else
    * carries from `prev`. */
  private def carried(prev: Manifest, carry: Seq[(String, Option[String])],
                      added: Seq[(String, Option[String])],
                      stats: Seq[(String, String)],
                      ranges: Map[(String, String), (String, String)],
                      blooms: Map[(String, String), String]): Manifest = {
    // stats header: the new dirs' columns (declared order), plus any
    // column prev still tracks but this (possibly pre-evolution-shaped)
    // batch lacks — dropping it would discard the carried dirs' valid
    // ranges and turn range reads on it into refusals. New dirs simply
    // commit no range for it (absent range = conservatively opened)
    val header = stats ++ prev.stats.filterNot(p => stats.exists(_._1 == p._1))
    val headerCols = header.map(_._1).toSet
    val kept = carry.map(_._1).toSet
    prev.copy(stats = header, entries = carry ++ added,
      ranges = prev.ranges.filter { case ((d, c), _) => headerCols(c) && kept(d) } ++ ranges,
      blooms = prev.blooms.filter { case ((d, _), _) => kept(d) } ++ blooms,
      tombstones = prev.tombstones.filter { case (d, _) => kept(d) })
  }

  /** Table-level CHECK constraints for the NEXT manifest: the previous
    * snapshot's persisted set, plus any writer-declared constraint
    * whose name isn't recorded yet (constraints are TABLE metadata —
    * once committed they bind every later writer, declared or not;
    * redeclaring an existing name does not alter it). */
  private def mergedChecks(prev: Seq[(String, String)]): Seq[(String, String)] =
    prev ++ allChecks.filterNot(c => prev.exists(_._1 == c._1))

  /** Writer-declared constraints NOT yet persisted as of `prev` — the
    * ones existing data must be validated against before the commit
    * that introduces them (Delta's ALTER TABLE ADD CONSTRAINT scan). */
  private def addedChecks(prev: Seq[(String, String)]): Seq[(String, String)] =
    allChecks.filterNot(c => prev.exists(_._1 == c._1))

  /** (visibleRowsKey, constraintName, constraintSql) triples this
    * writer instance already proved — makes retry-loop re-validation
    * free. Keyed on the SQL too: losing an optimistic race to a writer
    * that persisted a DIFFERENT predicate under the same name must
    * re-validate, not ride the stale proof. The key's dir component
    * includes any partition-tag restriction, so a proof over a dir's
    * live subset never stands in for a proof over the whole dir. */
  private val validatedChecks = scala.collection.mutable.Set.empty[(String, String, String)]

  /** Enforce CHECK constraints over dirs BEFORE their manifest
    * commits: a row violates when the predicate is FALSE (null passes
    * — SQL-standard CHECK). One aggregation per dir covering all
    * pending constraints; on violation the commit is refused (the
    * manifest never references the dir, so readers never see the bad
    * rows — write-side atomicity is what makes post-write pre-commit
    * validation equivalent to Delta's in-write invariant).
    *
    * `dirs` pairs each uuid with the partition tags the committing
    * manifest exposes for it (None = whole dir): a partition-tagged
    * dir can be live for only SOME partitions — rows superseded by a
    * later pruned merge are filtered on read, and validating them here
    * would refuse an ADD CONSTRAINT / RESTORE that every VISIBLE row
    * satisfies. */
  private def enforceChecks(dirs: Seq[(String, Option[Seq[String]])],
                            partCol: Option[String],
                            checks: Seq[(String, String)],
                            tombs: Map[String, Seq[String]] = Map.empty,
                            colMap: Seq[(String, String)] = Nil): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, not, sum, when}
    for ((d, tags) <- dirs) {
      // length-prefixed tag encoding: tags are arbitrary cast-to-string
      // partition values, so a bare "," join would alias {"a","b"} with
      // {"a,b"} and let a stale proof stand in for unvalidated rows;
      // the tombstone ids join the key too — a dir with NEW deletes is
      // a different visible set than the proof it recorded before
      val key = d + tags.fold("")(t =>
        "|" + t.sorted.map(s => s.length + ":" + s).mkString) +
        tombs.get(d).filter(_.nonEmpty).fold("")(ts => "|dv:" + ts.mkString(","))
      val pending = checks.filterNot(c => validatedChecks((key, c._1, c._2)))
      if (pending.nonEmpty) {
        val base = dirVisibleRows(tombs, d)
        val visible = tags match {
          case Some(ts) =>
            tagFilter(partCol, ts.map(Option(_))).fold(base)(base.filter)
          case _ => base
        }
        val aggs = pending.map { case (n, sql) =>
          sum(when(not(coalesce(expr(sql), lit(true))), 1L).otherwise(0L)).as(s"__chk_$n") }
        // constraint SQL speaks the VISIBLE schema — project physical →
        // logical before evaluating (identity on unmapped tables), the
        // same boundary deleteWhere's predicate crosses
        val frame = toLogical(colMap, visible)
        val row =
          try frame.agg(aggs.head, aggs.tail: _*).head()
          catch { case e: org.apache.spark.sql.AnalysisException =>
            // a constraint naming a column some pre-evolution dir lacks
            // cannot be evaluated there — fail loudly with the remedy
            // (Delta null-fills; here compaction rewrites every dir
            // with the evolved schema, after which the add succeeds)
            throw new IllegalStateException(
              s"TxLog CHECK constraint(s) ${pending.map(_._1).mkString(",")} reference a column " +
                s"absent from pre-evolution data dir $d — compact() the table first (${e.getMessage})")
          }
        pending.zipWithIndex.foreach { case ((n, sql), i) =>
          val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
          if (bad > 0) throw new IllegalStateException(
            s"TxLog CHECK constraint '$n' ($sql) violated by $bad row(s) — commit to $root refused")
          validatedChecks += ((key, n, sql))
        }
      }
    }
  }

  /** Whole-dir validation — freshly-written dirs, where every row will
    * be visible. */
  private def enforceChecksOnDirs(dirUuids: Seq[String],
                                  checks: Seq[(String, String)],
                                  colMap: Seq[(String, String)] = Nil): Unit =
    enforceChecks(dirUuids.map(d => d -> Option.empty[Seq[String]]), None, checks,
      colMap = colMap)

  /** Manifest-filtered validation of a snapshot's entries: each dir
    * restricted to the partition tags that manifest exposes for it,
    * minus its tombstoned rows. */
  private def enforceChecksOnEntries(m: Manifest,
                                     checks: Seq[(String, String)]): Unit =
    enforceChecks(entryTagSets(m.entries, m.partCol), m.partCol, checks,
      m.tombstones, m.colMap)

  /** ALTER TABLE ADD CONSTRAINT (Delta parity): validate EXISTING
    * visible data against the predicate, then commit a METADATA-ONLY
    * manifest recording it — binding every later writer without
    * rewriting a byte. Re-adding an identical (name, predicate) is
    * idempotent; a different predicate under an existing name is
    * refused (drop it first). */
  def addConstraint(name: String, sql: String): Long = {
    require(name.nonEmpty && !name.exists("\t\n\r".contains(_)),
      s"constraint name '$name' must be non-empty and tab/newline-free")
    require(sql.nonEmpty && !sql.exists("\t\n\r".contains(_)),
      s"constraint '$name' SQL must be non-empty and tab/newline-free")
    commit(s"ADD CONSTRAINT $name") { (cur, prev) =>
      require(cur >= 0, s"TxLog table at $root has no commits")
      prev.checks.find(_._1 == name) match {
        case Some((_, existing)) =>
          require(existing == sql, s"constraint '$name' already exists " +
            s"with a different predicate ($existing) — drop it first")
          None
        case None =>
          // Delta's ADD CONSTRAINT scan: existing rows must already satisfy
          // the predicate, else the constraint would lie about the table
          enforceChecksOnEntries(prev, Seq((name, sql)))
          Some(prev.copy(checks = prev.checks :+ (name -> sql)))
      }
    }
  }

  /** ALTER TABLE DROP CONSTRAINT — metadata-only removal. Derived
    * generated-column checks (`__gen_*`) are structural and cannot be
    * dropped; a missing name is refused (say what you meant). */
  def dropConstraint(name: String): Long = {
    require(!name.startsWith("__gen_"),
      s"'$name' is a generated-column validation check — drop the column, " +
        "not the check")
    commit(s"DROP CONSTRAINT $name") { (cur, prev) =>
      require(cur >= 0, s"TxLog table at $root has no commits")
      require(prev.checks.exists(_._1 == name),
        s"no CHECK constraint named '$name' on the table at $root")
      Some(prev.copy(checks = prev.checks.filterNot(_._1 == name)))
    }
  }

  /** The snapshot's table properties (TBLPROPERTIES) — free-form
    * `(key, value)` TABLE metadata carried in the manifest footer,
    * sorted by key for determinism. Behavior-bearing keys:
    * [[TxLog.IctProp]] turns on in-commit timestamps from the NEXT
    * commit on; [[TxLog.VacuumRetainProp]] sets the default VACUUM
    * retention when a statement omits RETAIN. Everything else is
    * opaque annotation, exactly Delta's TBLPROPERTIES contract. */
  def properties(version: Long = -1): Seq[(String, String)] = {
    val v = if (version >= 0) version else currentVersion()
    if (v < 0) return Seq.empty
    // committed manifests are immutable, so a version's property set
    // caches process-wide (same discipline as the commit-instant
    // cache; both purge on a same-root commit, which covers
    // delete-and-recreate at the same path within a process) — a SQL
    // read that just resolved the snapshot doesn't pay a second full
    // manifest read to learn the table was never ANALYZEd
    val key = (root, v)
    val cached = TxLog.propsCache.get(key)
    if (cached != null) return cached
    val props = readManifestFull(v).props.sortBy(_._1)
    TxLog.propsCache.put(key, props)
    props
  }

  /** ALTER TABLE SET TBLPROPERTIES — metadata-only upsert commit.
    * Re-running with an unchanged property set commits NOTHING (the
    * current version returns), so config management can converge a
    * table idempotently. The `constraint.` namespace is reserved
    * (SHOW CREATE TABLE renders CHECK constraints under it). */
  def setProperties(kvs: Seq[(String, String)]): Long = {
    require(kvs.nonEmpty, "SET TBLPROPERTIES with no properties")
    updateProperties(set = kvs, unset = Nil,
      op = s"SET TBLPROPERTIES (${kvs.map(_._1).sorted.mkString(", ")})")
  }

  /** Validate-and-normalize one declared property. BEHAVIOR-BEARING
    * keys are parsed at the choke point: [[TxLog.IctProp]] must be a
    * boolean and normalizes to lowercase (a committed `'True'` that
    * fails an exact-match test would silently degrade the table to
    * the mtime clock — the worst outcome; Delta parses boolean table
    * properties case-insensitively), [[TxLog.VacuumRetainProp]] must
    * be a positive integer (a typo'd retention must fail at SET time,
    * not at the VACUUM that would act on it). Everything else is
    * opaque annotation and passes through verbatim. Exposed to the
    * SQL face so CREATE's no-op TBLPROPERTIES conflict check compares
    * declared values in the SAME normal form they would commit in. */
  private[graft] def normalizeProp(k: String, v: String): (String, String) = {
    require(k.nonEmpty && !k.exists("\t\n\r".contains(_)),
      s"property key '$k' must be non-empty and tab/newline-free " +
        "(manifest line format)")
    require(!v.exists("\t\n\r".contains(_)),
      s"property '$k' value must be tab/newline-free (manifest line format)")
    require(!k.startsWith("constraint."),
      s"property key '$k': the 'constraint.' namespace is reserved for " +
        "CHECK constraints — use ALTER TABLE ADD CONSTRAINT")
    k match {
      case TxLog.IctProp =>
        val b = v.trim.toLowerCase(java.util.Locale.ROOT)
        require(b == "true" || b == "false",
          s"table property '$k' must be a boolean, got '$v'")
        k -> b
      case TxLog.VacuumRetainProp =>
        require(scala.util.Try(v.trim.toInt).toOption.exists(_ >= 1),
          s"table property '$k' must be a positive integer, got '$v'")
        k -> v.trim
      case _ => k -> v
    }
  }

  /** SINGLE-COMMIT property update: remove `unset` keys and upsert
    * `set` in ONE metadata commit — the primitive behind
    * SET/UNSET TBLPROPERTIES, ANALYZE's stats refresh, and CREATE OR
    * REPLACE's property reset. A combined remove+write as two commits
    * would expose a window where a concurrent reader sees NEITHER the
    * old nor the new keys (and burn two log versions per refresh);
    * here the manifest swaps atomically. A no-op delta (nothing
    * changes) commits NOTHING and returns the current version. */
  def updateProperties(set: Seq[(String, String)], unset: Seq[String],
                       op: String = "UPDATE TBLPROPERTIES",
                       replaceAll: Boolean = false,
                       unsetMustExist: Boolean = false): Long = {
    val kvs = set.map { case (k, v) => normalizeProp(k, v) }
    require(kvs.map(_._1).distinct.size == kvs.size,
      s"duplicate keys in SET TBLPROPERTIES: ${kvs.map(_._1).mkString(", ")}")
    val dropped = unset.toSet ++ kvs.map(_._1)
    commit(op) { (cur, prev) =>
      require(cur >= 0, s"TxLog table at $root has no commits")
      // strict-UNSET presence is validated INSIDE the retry loop,
      // against the very property set the commit will replace — a
      // pre-loop check goes stale the moment a concurrent SET/UNSET
      // wins a race this attempt retries over
      if (unsetMustExist) {
        val present = prev.props.map(_._1).toSet
        val missing = unset.filterNot(present)
        require(missing.isEmpty,
          s"no table propert${if (missing.size == 1) "y" else "ies"} " +
            s"${missing.mkString(", ")} on the table at $root " +
            "(UNSET TBLPROPERTIES IF EXISTS to ignore)")
      }
      // replaceAll recomputes the drop set INSIDE the retry loop from
      // the version actually being replaced — a fixed pre-read list
      // would let a concurrently-SET key survive a REPLACE that must
      // reset configuration
      val merged =
        (if (replaceAll) kvs
         else prev.props.filterNot(p => dropped.contains(p._1)) ++ kvs)
          .sortBy(_._1)
      if (merged == prev.props.sortBy(_._1)) None
      else Some(prev.copy(props = merged))
    }
  }

  /** Commit EXACTLY `kvs` as the table's property set — CREATE OR
    * REPLACE's contract (Delta: REPLACE resets table configuration to
    * the declared set; a surviving stale `graft.vacuum.retainVersions`
    * from the replaced table would silently keep governing the new
    * one). One metadata commit; a no-op when the set already matches. */
  def replaceProperties(kvs: Seq[(String, String)]): Long =
    updateProperties(kvs, Nil,
      op = s"REPLACE TBLPROPERTIES (${kvs.map(_._1).sorted.mkString(", ")})",
      replaceAll = true)

  /** ALTER TABLE UNSET TBLPROPERTIES — metadata-only removal. A
    * missing key is refused (say what you meant) unless `ifExists`
    * (SQL's IF EXISTS form). Unsetting every key is legal; the table
    * reverts to mtime-clock time travel if [[TxLog.IctProp]] goes —
    * already-recorded in-commit instants keep serving their versions. */
  def unsetProperties(keys: Seq[String], ifExists: Boolean = false): Long = {
    require(keys.nonEmpty, "UNSET TBLPROPERTIES with no keys")
    // presence (strict form) validates INSIDE updateProperties' retry
    // loop, against the property set each attempt actually replaces —
    // never against a pre-read that a concurrent SET/UNSET can stale
    updateProperties(Nil, keys,
      op = s"UNSET TBLPROPERTIES (${keys.sorted.mkString(", ")})",
      unsetMustExist = !ifExists)
  }

  /** The instant version `v` became visible: the manifest's RECORDED
    * in-commit timestamp when present (committed under
    * [[TxLog.IctProp]]), else the manifest file's publish mtime — the
    * clock [[versionAsOf]] and [[history]] resolve against.
    *
    * BOUNDED read: the stamping choke point ([[tryCommitManifest]])
    * writes `#commitTs=` as the first manifest line after the optional
    * `#op=` header, so resolution reads at most the first two lines —
    * never the dir/stat body, which can be MBs on a large table. A
    * RECORDED instant is immutable (manifests publish put-if-absent
    * and are never rewritten) and caches process-wide per
    * (root, version); an mtime fallback is NOT cached — file mtimes
    * can legitimately change under copies/migrations, and the raw
    * clock must observe that. */
  def commitInstant(v: Long): Long = instantSourced(v)._1

  /** `(instant, recorded)` for version `v`: the RECORDED in-commit
    * instant (`recorded = true`) or the publish-mtime fallback
    * (`recorded = false`) — [[clockResolve]] needs the source to know
    * whether the monotone-clock contract is guaranteed (ICT) or merely
    * conventional (mtime). */
  private def instantSourced(v: Long): (Long, Boolean) = {
    val key = (root, v)
    val cached = TxLog.instantCache.get(key)
    if (cached != null) return (cached.longValue(), true)
    TxLog.instantReads.incrementAndGet()
    // scan prepended headers until #commitTs= or the first body line
    // (#ndirs= / non-#) — never a hard-coded line count, so a future
    // header prepended at the choke point cannot hide the instant
    val head = readHeaderUntil(v, stopAfter = "#commitTs=")
    head.collectFirst {
      case l if l.startsWith("#commitTs=") => l.stripPrefix("#commitTs=").toLong
    } match {
      case Some(ts) => TxLog.instantCache.put(key, ts); (ts, true)
      case None => (fs.getFileStatus(manifestPath(v)).getModificationTime, false)
    }
  }

  /** The manifest's leading `#`-header lines, up to and including the
    * first starting with `stopAfter` (or up to the first non-`#` line
    * when that header is absent) — the bounded-read primitive behind
    * [[commitInstant]] and [[history]]. Scanning by PREFIX instead of
    * a hard-coded line count keeps both resolvers correct if another
    * header is ever prepended at the commit choke point. */
  private def readHeaderUntil(v: Long, stopAfter: String): List[String] = {
    TxLog.headerReads.incrementAndGet()
    val in = fs.open(manifestPath(v))
    try {
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, "UTF-8"))
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var line = br.readLine()
      var done = false
      while (!done && line != null && line.startsWith("#")) {
        out += line
        done = line.startsWith(stopAfter) ||
          line.startsWith("#ndirs=") // first rendered-body header
        if (!done) line = br.readLine()
      }
      out.toList
    } finally in.close()
  }

  /** [[commitInstant]] that treats a manifest vanished under a
    * concurrent VACUUM as "no instant" instead of an I/O error — the
    * TOCTOU-safe form time-travel resolution uses. */
  private def instantOrNone(v: Long): Option[Long] =
    try Some(commitInstant(v))
    catch { case _: java.io.FileNotFoundException => None }

  /** Lowest surviving manifest version at-or-below `cur`. VACUUM
    * deletes a strict PREFIX of versions (everything below the kept
    * window), so existence is monotone over `[0, cur]` and the
    * boundary binary-searches in O(log V) existence probes. */
  private def lowestExistingVersion(cur: Long): Long = {
    if (fs.exists(manifestPath(0L))) return 0L
    var lo = 0L
    var hi = cur // currentVersion() saw this manifest: it exists
    while (hi - lo > 1) {
      val mid = lo + (hi - lo) / 2
      if (fs.exists(manifestPath(mid))) hi = mid else lo = mid
    }
    hi
  }

  /** Group (dir, tag) manifest lines into per-dir live-tag sets; a dir
    * with any untagged line (or an untagged table) validates in full. */
  private def entryTagSets(entries: Seq[(String, Option[String])],
                           partCol: Option[String]): Seq[(String, Option[Seq[String]])] =
    entries.groupBy(_._1).toSeq.sortBy(_._1).map { case (d, es) =>
      val tags = es.map(_._2)
      d -> (if (partCol.isDefined && tags.forall(_.isDefined)) Some(tags.flatten)
            else None)
    }

  /** High-water committed foreachBatch id for writer `app`, or None if
    * that app never committed (Delta's txnVersion-by-appId probe). A
    * stateful streaming sink needs this BEFORE deciding what to do with
    * a batch: a redelivered batch must skip the table write but still
    * CONSUME the dataframe, because the upstream stateful operator has
    * to commit its state stores for the batch either way. */
  def txnHighWater(app: String): Option[Long] = {
    val cur = currentVersion()
    if (cur < 0) None else readManifestFull(cur).txns.get(app)
  }

  /** Overwrite-style commit: the new snapshot is exactly `df`. The
    * payload is independent of the previous snapshot, so losing an
    * optimistic race only slides the version number. */
  def overwrite(df0: DataFrame): Long = {
    val df = withGenerated(df0)
    val uuid = writeDataDir(df)
    val (hdr, ranges) = statsFor(uuid)
    val blooms = bloomsFor(uuid)
    commit("OVERWRITE") { (_, prev) =>
      // constraints survive an overwrite (table metadata, not data)
      val checks = mergedChecks(prev.checks)
      enforceChecksOnDirs(Seq(uuid), checks)
      Some(rewritten(prev, None, Seq((uuid, None)), hdr, ranges, blooms)
        .copy(checks = checks))
    }
  }

  /** Append-style commit: previous snapshot stays live, `df` adds.
    * The carried-over dir list is re-read INSIDE the retry loop — a
    * loser that recommitted its pre-race view would silently drop the
    * winner's data (lost update); re-reading makes concurrent appends
    * serialize losslessly (pinned by the TxLogSpec race test).
    * `tagBy`: tag the new dir's manifest entries with its partition
    * values (one entry per value) — an `INSERT INTO … PARTITION` on a
    * tagged table must not break the all-entries-tagged invariant the
    * pruned-merge path requires. */
  def append(df0: DataFrame, txn: Option[(String, Long)] = None,
             op: String = "APPEND", tagBy: Option[String] = None): Long = {
    val df = withGenerated(df0)
    // a batch carrying NULL partition values degrades to an untagged
    // entry (all rows visible; pruning lost for this dir only)
    val newTags = tagBy.flatMap(pc => partValuesOpt(df, pc))
    // carrying commit on a mapped table: the new dir must store
    // PHYSICAL names (carried dirs do), and evolution columns mint
    // mapping entries. The map is read once up front — a concurrent
    // rename racing this append is the same single-metadata-writer
    // caveat as identity columns.
    val (curMap, curRetired) = currentMapState()
    val (phys, fullMap) = toPhysical(curMap, curRetired, df)
    val uuid = writeDataDir(phys)
    val (hdr, newRanges) = statsFor(uuid, fullMap)
    val newBlooms = bloomsFor(uuid, fullMap)
    commit(op, txn) { (_, prev) =>
      // the new dir was translated with the PRE-loop map: committing it
      // under a concurrently-changed mapping would silently revert the
      // rename/drop (Delta raises MetadataChangedException here)
      if (prev.colMap != curMap || prev.retired != curRetired)
        throw new java.io.IOException(
          s"concurrent column-mapping change during append to $root — retry the append")
      // new data meets ALL constraints; existing data meets any the
      // writer is introducing with this commit (the ADD CONSTRAINT scan)
      val checks = mergedChecks(prev.checks)
      enforceChecksOnDirs(Seq(uuid), checks, colMap = fullMap)
      enforceChecksOnEntries(prev, addedChecks(prev.checks))
      // carry the previous snapshot's entries, partition tags, stats
      // and deletion vectors wholesale; ranges are keyed (dir, col), so
      // carried stats stay valid for every column the merged header tracks
      Some(carried(prev, prev.entries,
        newTags.fold(Seq((uuid, Option.empty[String])))(_.map(v => (uuid, Option(v)))),
        hdr, newRanges, newBlooms).copy(checks = checks, colMap = fullMap))
    }
  }

  /** COPY INTO — file-granular idempotent bulk ingestion (Databricks'
    * statement of the same name): load the files under `srcDir`
    * matching `pattern` that have NOT been loaded before, in ONE
    * atomic commit appending both the rows and the loaded-file
    * registry entries. Re-running after new files land loads only the
    * new files; re-running with nothing new is a no-op; `force`
    * ignores the registry (Databricks `COPY_OPTIONS('force'='true')`).
    * Returns (committed version, files loaded).
    *
    * The registry rides the manifest: each COPY writes its
    * loaded-file list as a parquet sidecar dir referenced by a
    * `#copied` line — the deletion-vector sidecar pattern — so data
    * and ingestion record commit atomically (no crash window where a
    * file is half-tracked), registry reads scale as a parquet
    * anti-join (never a driver-side set), [[vacuum]] keeps live
    * sidecars, and [[restoreTo]] rolls the registry back with the
    * data (a file loaded after the restore point is loadable again).
    *
    * 100 TB shape: the driver pays one directory listing — the cost
    * any external scan pays — and collects only the NEW files' paths
    * (needed to open them); the loaded-set subtraction is a
    * distributed anti-join against the registry sidecars; the read
    * touches only new files. Rows align to the table's visible schema
    * by name under ANSI casts (INSERT's store-assignment contract);
    * files carrying extra columns or lacking table columns are
    * refused loudly. A virgin table adopts the first batch's schema. */
  def copyInto(srcDir: String, format: String = "parquet",
               pattern: String = "*",
               options: Map[String, String] = Map.empty,
               force: Boolean = false): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    val statuses = fs.globStatus(new Path(srcDir, pattern))
    val candidates = Option(statuses).getOrElse(Array.empty).toSeq
      .filter(_.isFile).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .map(p => (p.toUri.getPath, fs.getFileStatus(p).getLen,
        fs.getFileStatus(p).getModificationTime))
      .sortBy(_._1)
    require(candidates.nonEmpty,
      s"COPY INTO $root: no files matching '$pattern' under $srcDir")
    // files the standing attempt loads — re-derived from each head's
    // registry, so a race lost to a COPY of the same files loads none
    var loaded = 0L
    val v = commit("COPY INTO") { (cur, prev) =>
      val candDf = spark.createDataFrame(candidates)
        .toDF("path", "size", "mtime")
      val newFiles =
        (if (force || prev.copied.isEmpty) candDf
         else candDf.join(
           spark.read.parquet(prev.copied.map(dirPath): _*).select("path"),
           Seq("path"), "left_anti"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .toSeq.sortBy(_._1)
      loaded = newFiles.size.toLong
      if (newFiles.isEmpty) None // everything already loaded
      else {
        val raw = spark.read.format(format).options(options)
          .option("mergeSchema", "true").load(newFiles.map(_._1): _*)
        val aligned =
          if (cur < 0 || prev.entries.isEmpty) raw
          else {
            val tgt = snapshot(cur).schema
            val extra = raw.columns.filterNot(c =>
              tgt.fieldNames.exists(_.equalsIgnoreCase(c)))
            require(extra.isEmpty, s"COPY INTO $root: files carry columns " +
              s"not on the table: ${extra.mkString(", ")}")
            val missing = tgt.fieldNames.filterNot(c =>
              raw.columns.exists(_.equalsIgnoreCase(c)))
            require(missing.isEmpty, s"COPY INTO $root: files lack table " +
              s"column(s): ${missing.mkString(", ")}")
            raw.select(tgt.fields.toSeq.map(f =>
              col(raw.columns.find(_.equalsIgnoreCase(f.name)).get)
                .cast(f.dataType).as(f.name)): _*)
          }
        val df = withGenerated(aligned)
        val (phys, fullMap) = toPhysical(prev.colMap, prev.retired, df)
        val uuid = writeDataDir(phys)
        val regUuid = writeDataDir(spark.createDataFrame(newFiles)
          .toDF("path", "size", "mtime").repartition(1), sized = false)
        val (hdr, newRanges) = statsFor(uuid, fullMap)
        val checks = mergedChecks(prev.checks)
        enforceChecksOnDirs(Seq(uuid), checks, colMap = fullMap)
        Some(carried(prev, prev.entries, Seq((uuid, None)), hdr, newRanges,
          bloomsFor(uuid, fullMap)).copy(checks = checks, colMap = fullMap,
          copied = prev.copied :+ regUuid))
      }
    }
    (v, loaded)
  }

  /** The loaded-file registry [[copyInto]] maintains — (path, size,
    * mtime) per ingested file at the current version. */
  def copiedFiles(): DataFrame = {
    val cur = currentVersion()
    val copied = if (cur < 0) Nil else readManifestFull(cur).copied
    if (copied.isEmpty)
      spark.createDataFrame(Seq.empty[(String, Long, Long)])
        .toDF("path", "size", "mtime")
    else spark.read.parquet(copied.map(dirPath): _*)
  }

  /** IDENTITY-column append (Delta's `GENERATED ALWAYS AS IDENTITY`):
    * assigns `idCol` = contiguous BIGINTs continuing from the table's
    * high-water mark, then commits via [[append]]. The mark is read
    * from the MANIFEST's per-dir max stats — O(1) metadata, no table
    * scan — so `idCol` must be in `statsCols` (enforced; that same
    * tracking keeps the next append's mark current). Rank assignment
    * is the distributed two-phase row_number
    * ([[graft.functions.GlobalRank]]) — no single-partition window at
    * any batch size; `orderCols` fixes the within-batch numbering
    * (defaults to arbitrary-but-unique when empty).
    *
    * Concurrency: ids are assigned BEFORE the optimistic commit, so
    * two writers racing identity appends could mint overlapping ranges
    * — same single-identity-writer contract as Delta's identity
    * columns (its high watermark serializes through table metadata;
    * ours through the stats ranges this method reads). */
  def appendWithIdentity(df: DataFrame, idCol: String,
                         orderCols: Seq[org.apache.spark.sql.Column] = Nil,
                         txn: Option[(String, Long)] = None): Long = {
    require(statsCols.contains(idCol),
      s"appendWithIdentity needs '$idCol' in statsCols (the manifest stats ARE the identity high-water mark)")
    require(!df.columns.contains(idCol),
      s"append batch already carries '$idCol' — identity columns are GENERATED ALWAYS")
    import org.apache.spark.sql.functions.{col, xxhash64, struct}
    val base: Long =
      if (!exists()) 0L
      else {
        val m = readManifestFull(currentVersion())
        val phId = physicalOf(m.colMap, idCol) // range keys are physical
        val maxes = m.ranges.collect { case ((_, c), (_, hi)) if c == phId => hi.toLong }
        if (maxes.isEmpty) 0L else maxes.max + 1L
      }
    val order = if (orderCols.nonEmpty) orderCols
      else Seq(xxhash64(struct(df.columns.map(col).toSeq: _*)))
    val ranked = graft.functions.GlobalRank.rowNumber(df, idCol, 32, order)
      .withColumn(idCol, col(idCol) + org.apache.spark.sql.functions.lit(base - 1L))
    append(ranked, txn)
  }

  /** Distinct partition values of `partCol` in `df`, as strings —
    * partition METADATA (bounded by partitions-per-frame), the one
    * sanctioned driver round-trip of the partitioned commit path. */
  /** Characters a partition-tag value may not contain: tab/newline/CR
    * break the line-oriented manifest format, and NUL is the in-memory
    * foreign-tag scheme separator — a value containing it would be
    * MISPARSED by [[splitTag]] into a bogus foreign column and silently
    * misdirect the read-visibility filter (rows dropped or
    * resurrected). Rejected at COMMIT time with a clear error rather
    * than corrupting the table. */
  private def requireTagSafe(v: String, column: String): Unit =
    if (v != null && v.exists(c => c == SchemeSep || c == '\t' || c == '\n' || c == '\r'))
      throw new IllegalArgumentException(
        s"partition value for column '$column' contains a control character " +
          "(NUL, tab, or newline) unsupported in manifest tag encoding: " +
          v.map(c => if (c < ' ') f"\\u${c.toInt}%04x" else c.toString).mkString)

  /** Distinct partition values of `df`, or None when any row's value
    * is NULL — a null cannot be tagged (the equality tag filter would
    * hide the row), so callers either degrade to an UNTAGGED entry
    * (append/UPDATE/compaction — every row stays visible, pruning is
    * merely lost for that dir) or fail loudly (the explicitly
    * partitioned writes, matching overwriteClustered's contract). */
  private def partValuesOpt(df: DataFrame, partCol: String): Option[Seq[String]] = {
    val raw = df.select(org.apache.spark.sql.functions.col(partCol).cast("string"))
      .distinct().collect()
      .map(r => if (r.isNullAt(0)) null else r.getString(0))
    if (raw.contains(null)) None
    else {
      val vs = raw.toSeq.sorted
      vs.foreach(requireTagSafe(_, partCol))
      Some(vs)
    }
  }

  private def partValues(df: DataFrame, partCol: String): Seq[String] =
    partValuesOpt(df, partCol).getOrElse(throw new IllegalArgumentException(
      s"NULL value in partition column '$partCol' — a partition-tagged " +
        "write requires non-null partition values"))

  /** Overwrite-style commit that TAGS the new snapshot's manifest with
    * the partitions present in `df`, enabling partition-pruned
    * [[mergePartitioned]] commits afterwards. `partCol` stays a normal
    * column in the data; pruning happens at the manifest level.
    * `txn` = (appId, batchId) records the writer's batch high-water
    * mark; a redelivered batch (id ≤ recorded) is skipped — the
    * foreachBatch exactly-once contract. */
  def overwritePartitioned(df0: DataFrame, partCol: String,
                           txn: Option[(String, Long)] = None): Long = {
    val df = withGenerated(df0)
    val uuid = writeDataDir(df)
    val (hdr, ranges) = statsFor(uuid)
    val blooms = bloomsFor(uuid)
    // empty df → zero partitions; keep the dir referenced untagged so
    // the manifest still resolves to a (zero-row) snapshot
    val parts = partValues(snapshotOfDir(uuid), partCol)
    val entries =
      if (parts.isEmpty) Seq((uuid, Option.empty[String]))
      else parts.map(p => (uuid, Some(p)))
    commit("OVERWRITE", txn) { (_, prev) =>
      val checks = mergedChecks(prev.checks)
      enforceChecksOnDirs(Seq(uuid), checks)
      Some(rewritten(prev, Some(partCol), entries, hdr, ranges, blooms)
        .copy(checks = checks))
    }
  }

  /** CLUSTERED overwrite — the SERVING layout: one data SUBDIR per
    * partition value (`<uuid>/__cluster=<v>/`), each registered as its
    * own manifest entry with per-subdir min/max stats, so point reads
    * ([[snapshotPoint]]/[[pointDirs]]) open ONLY the matching value's
    * files. [[overwritePartitioned]] tags ONE dir with every partition
    * (manifest-level pruning for later partitioned commits, but a point
    * read still scans the whole dir); this writes the physical layout
    * an index-serving table needs — at 100 TB a probe touches
    * `nProbe/nlist` of the bytes, not all of them.
    *
    * One shuffle clusters rows by the partition value (every value's
    * rows land in one task → one file per subdir — Delta's optimized
    * write per partition), and per-subdir stats come from ONE grouped
    * aggregation over the written frame, not a scan per subdir. The
    * partition column itself stays in the data files (the hive-layout
    * key is a `__cluster` DUPLICATE), so subdir reads and row-level
    * tag filters see it like any column. */
  def overwriteClustered(df0: DataFrame, partCol: String,
                         txn: Option[(String, Long)] = None): Long = {
    import org.apache.spark.sql.functions.{col, max, min}
    val df = withGenerated(df0)
    val uuid = java.util.UUID.randomUUID().toString
    val tagKey = "__cluster"
    df.withColumn(tagKey, col(partCol).cast("string"))
      .repartition(col(partCol))
      .write.partitionBy(tagKey).mode("overwrite").parquet(s"$dataDir/$uuid")
    // enumerate written cluster values from the filesystem (the ground
    // truth of what the hive write produced); dir names are
    // hive-escaped, tags carry the unescaped value
    val subs = fs.listStatus(new Path(s"$dataDir/$uuid")).map(_.getPath.getName)
      .filter(_.startsWith(s"$tagKey=")).sorted.toSeq
    // NULL cluster values fail AT COMMIT (the requireTagSafe contract):
    // the hive write files them under the default-partition dir, whose
    // literal name the row-level tag filter would then compare against
    // col(partCol) — never equal to NULL, silently dropping the rows
    // from every snapshot read. (A genuine string value spelling the
    // hive default marker is indistinguishable here and equally
    // unsupported as a cluster key.)
    val hiveDefault = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .DEFAULT_PARTITION_NAME
    if (subs.contains(s"$tagKey=$hiveDefault")) {
      fs.delete(new Path(s"$dataDir/$uuid"), true)
      throw new IllegalArgumentException(
        s"overwriteClustered: cluster column '$partCol' contains NULL " +
          s"(or the literal hive default-partition marker) — cluster keys " +
          "must be non-null; filter or coalesce them before the write")
    }
    if (subs.isEmpty) {
      // zero rows: the partitioned write emitted no data files, so the
      // uuid dir is unreadable as parquet — rewrite the empty frame
      // unpartitioned (one schema-bearing empty file) and commit an
      // empty snapshot, the same contract as overwrite()
      df.repartition(1).write.mode("overwrite").parquet(s"$dataDir/$uuid")
      val (hdr0, _) = statsFor(uuid)
      return commitClustered(partCol, Seq((uuid, None)), hdr0, Map.empty, txn)
    }
    val parts = subs.map { n =>
      val v = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(n.stripPrefix(s"$tagKey="))
      requireTagSafe(v, partCol)
      (s"$uuid/$n", v)
    }
    // per-subdir stats in ONE grouped agg (keyed by the cluster value)
    val back = spark.read.parquet(s"$dataDir/$uuid")
    val usable = statsCols.flatMap(c => back.schema.find(_.name == c)
      .filter(f => StatsSafeTypes(f.dataType.sql)).map(f => (c, f.dataType.sql)))
    val ranges: Map[(String, String), (String, String)] =
      if (usable.isEmpty) Map.empty
      else {
        val aggs = usable.flatMap { case (c, _) =>
          Seq(min(col(c)).cast("string"), max(col(c)).cast("string")) }
        val dirOf = parts.map(_.swap).toMap
        // key the agg on the ORIGINAL column's string form (the value
        // the tags carry) — the discovered __cluster column's type is
        // inference-dependent and could re-canonicalize (e.g. "05"→5)
        back.groupBy(col(partCol).cast("string")).agg(aggs.head, aggs.drop(1): _*)
          .collect().flatMap { r =>
            dirOf.get(r.getString(0)).toSeq.flatMap { d =>
              usable.zipWithIndex.flatMap { case ((c, _), i) =>
                if (r.isNullAt(2 * i + 1) || r.isNullAt(2 * i + 2)) None
                else {
                  val (mn, mx) = (r.getString(2 * i + 1), r.getString(2 * i + 2))
                  if ((mn + mx).exists(ch => ch == '\t' || ch == '\n' || ch == '\r')) None
                  else Some((d, c) -> (mn, mx))
                }
              }
            }
          }.toMap
      }
    commitClustered(partCol, parts.map { case (d, v) => (d, Some(v)) },
      usable, ranges, txn)
  }

  /** The manifest-commit tail shared by both [[overwriteClustered]]
    * branches (clustered subdir entries and the empty-snapshot short
    * circuit). */
  private def commitClustered(partCol: String,
                              entries: Seq[(String, Option[String])],
                              header: Seq[(String, String)],
                              ranges: Map[(String, String), (String, String)],
                              txn: Option[(String, Long)]): Long =
    commit("OVERWRITE", txn) { (_, prev) =>
      val checks = mergedChecks(prev.checks)
      enforceChecksOnDirs(entries.map(_._1).distinct, checks)
      Some(rewritten(prev, Some(partCol), entries, header, ranges, Map.empty)
        .copy(checks = checks))
    }

  /** CONVERT TO GRAFT (Delta's `CONVERT TO DELTA`): impose the
    * transaction log IN PLACE on an existing plain-parquet directory —
    * zero bytes rewritten, however large the dataset. The v0 manifest
    * references the existing data by ABSOLUTE path (the shallow-clone
    * entry convention):
    *
    *   - flat layout (`partitionedBy = None`): the directory itself
    *     becomes the one entry;
    *   - hive layout (`col=value/` leaves): each leaf becomes an entry
    *     tagged with its value, with a `(v, v)` range stat — partition
    *     pruning, point lookups, and pruned merges work immediately
    *     and STRUCTURALLY ([[pointDirs]] opens only matching leaves).
    *
    * The partition column lives in the DIR NAMES, not the files
    * (standard hive layout), so conversion requires the declared
    * `(column, type)` — Delta's `PARTITIONED BY` clause exists for the
    * same reason — and the declared type must equal what Spark's
    * partition discovery infers (validated here, loudly): every later
    * read path materializes the column via basePath discovery
    * ([[snapshotOfDir]]/[[readChosen]]) and must see one consistent
    * type. Converted dirs live OUTSIDE `data/`, so [[vacuum]] never
    * reclaims them — rewrites supersede them in the manifest instead
    * (OPTIMIZE/compact materializes the table under `data/` and frees
    * the table from the source layout, the clone contract). Declared
    * [[statsCols]] get per-entry min/max ranges — one column-pruned
    * scan per leaf, the one-time convert cost. */
  def convertFrom(partitionedBy: Option[(String, String)] = None): Long = {
    require(root.startsWith("/"),
      s"CONVERT requires an absolute path, got $root")
    require(currentVersion() < 0,
      s"$root already has TxLog commits — CONVERT only imports fresh directories")
    val m = partitionedBy match {
      case None =>
        val (hdr, ranges) = statsFor(root)
        Manifest(None, hdr, Seq((root, None)), ranges)
      case Some((pc, typDdl)) =>
        val typ = org.apache.spark.sql.types.DataType.fromDDL(typDdl).sql
        val hiveDefault = org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.DEFAULT_PARTITION_NAME
        val subs = fs.listStatus(new Path(root)).filter(_.isDirectory)
          .map(_.getPath.getName).filter(_.startsWith(s"$pc=")).sorted.toSeq
        require(subs.nonEmpty,
          s"CONVERT: no '$pc=…' partition dirs under $root")
        require(!subs.contains(s"$pc=$hiveDefault"),
          s"CONVERT: $root contains a null-partition dir ($pc=$hiveDefault) " +
            "— null partition values are unsupported; backfill or drop it first")
        val parts = subs.map { n =>
          val v = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(n.stripPrefix(s"$pc="))
          requireTagSafe(v, pc)
          (s"$root/$n", v)
        }
        // declared type must equal discovery's inference — the read
        // paths materialize the column by discovery, so a divergent
        // declaration would silently change the snapshot's type
        val inferred = spark.read.option("basePath", root)
          .parquet(parts.map(_._1): _*).schema.find(_.name == pc)
          .map(_.dataType.sql)
          .getOrElse(throw new IllegalArgumentException(
            s"CONVERT: partition discovery found no column '$pc' under $root"))
        require(inferred.equalsIgnoreCase(typ),
          s"CONVERT: declared type $typ for '$pc' does not match partition " +
            s"discovery's $inferred — declare the discovered type")
        // per-leaf stats: the leaf scan sees pc via discovery, so a pc
        // in statsCols would duplicate the hand-built (v, v) entries —
        // fold them out of the scanned header
        val leafStats = parts.map { case (d, _) => statsFor(d) }
        val scannedHdr = leafStats.flatMap(_._1).distinct.filterNot(_._1 == pc)
        val scannedRanges = leafStats.flatMap(_._2)
          .filterNot { case ((_, c), _) => c == pc }.toMap
        val pcRanges = parts.map { case (d, v) => (d, pc) -> (v, v) }.toMap
        Manifest(Some(pc), (pc, typ) +: scannedHdr,
          parts.map { case (d, v) => (d, Some(v)) },
          pcRanges ++ scannedRanges)
    }
    require(tryCommitManifest(0L, manifestLines(m), "CONVERT"),
      s"CONVERT at $root was committed concurrently")
    0L
  }

  /** The parent dir of a CONVERTED hive leaf entry (`…/col=value`,
    * absolute — written by [[convertFrom]] over an existing
    * hive-partitioned dataset), or None for ordinary entries. Our own
    * clustered subdirs use the `__cluster=` scheme and are excluded;
    * uuid entries are relative and never contain `=`. */
  private def hiveLeafParent(d: String): Option[String] = {
    val slash = d.lastIndexOf('/')
    val name = d.substring(slash + 1)
    if (d.startsWith("/") && slash > 0 && name.contains("=") &&
        !name.startsWith("__cluster=")) Some(d.substring(0, slash))
    else None
  }

  private def snapshotOfDir(uuid: String): DataFrame =
    // a converted hive leaf's files LACK the partition column (it
    // lives in the dir name) — basePath discovery materializes it;
    // convertFrom validated that discovery's type equals the declared
    // one, so every read path sees one consistent type
    hiveLeafParent(uuid) match {
      case Some(parent) =>
        spark.read.option("basePath", parent).parquet(dirPath(uuid))
      case None => spark.read.parquet(dirPath(uuid))
    }

  /** Partition-pruned SCD1 MERGE commit — the 100 TB shape of [[merge]]
    * for time-partitioned tables: only the partitions present in `src`
    * are read, merged, and rewritten; every other partition's (dir,
    * partition) manifest lines carry over UNTOUCHED into the new
    * snapshot. An incremental batch hitting 3 of 10,000 daily
    * partitions costs 3 partitions of I/O, not a table rewrite — the
    * file-level pruning a Delta MERGE gets from partition predicates,
    * done at the manifest level here.
    *
    * A table whose current snapshot is not tagged on `partCol` (first
    * partitioned merge, or tagged on a different column) is merged in
    * full ONCE and re-tagged; subsequent merges prune. Same optimistic
    * re-merge-on-conflict transaction protocol as [[merge]].
    *
    * PRECONDITION (same as [[Upsert.mergeIntoPartitionedPath]]):
    * `partCol` must be functionally dependent on the merge keys, so a
    * key can never move between partitions — otherwise the pruned
    * merge would miss the key's old row and duplicate it. */
  /** Dynamic partition overwrite (Hive's `INSERT OVERWRITE …
    * PARTITION` dynamic mode; Delta's partition-scoped replaceWhere):
    * replace EXACTLY the partitions present in `src` and carry every
    * other partition's manifest lines, stats, blooms and tombstones
    * untouched — the 100 TB shape of "recompute one day of a
    * five-year table": cost ∝ the replaced partitions, never ∝ the
    * table. Partitions in `src` that do not exist yet simply appear;
    * an empty `src` is a no-op (no partitions present → nothing to
    * replace). On an untagged table this degrades to a full rewrite
    * preserving rows outside the replaced partition values; NULL
    * partition values (addressable by no dynamic overwrite) fail the
    * commit loudly like every partitioned path ([[partValues]]'s tag
    * check) rather than silently dropping rows. Same optimistic
    * transaction + rebase-on-race protocol as [[mergePartitioned]]. */
  def replacePartitions(src: DataFrame, partCol: String,
                        txn: Option[(String, Long)] = None): Long = {
    import org.apache.spark.sql.functions.col
    partitionedFoldCommit(src, partCol, txn, "replacePartitions",
      // the fold's output partitions are exactly src's (the pruned
      // target contributes nothing — it is being replaced)
      resultPartsAreAffected = true)(target => {
      val affected = partValues(src, partCol)
      // foreign-scheme dirs merge in whole: their rows OUTSIDE the
      // replaced partitions must survive the fold (on the pruned path
      // the target holds only affected-partition rows and this filter
      // keeps nothing)
      target.filter(col(partCol).isNull ||
          !col(partCol).cast("string").isin(affected: _*))
        .unionByName(src)
    })
  }

  def mergePartitioned(src: DataFrame, keys: Seq[String],
                       partCol: String, txn: Option[(String, Long)] = None,
                       evolve: Boolean = false): Long =
    partitionedFoldCommit(src, partCol, txn, "mergePartitioned",
      // pruned path: merged's partitions ARE the affected set (the
      // pruned target only held affected partitions and SCD1 never
      // drops rows) — no extra distinct job
      resultPartsAreAffected = true)(
      target =>
        if (evolve) Upsert.mergeEvolve(target, src, keys)
        else Upsert.merge(target, src, keys))

  /** Partition-pruned CDC APPLY commit — [[Upsert.applyChanges]]'s
    * three-clause fold (update/delete/insert) with [[mergePartitioned]]
    * pruning: only the partitions present in the change batch are read,
    * folded, and rewritten; untouched partitions' manifest lines carry
    * over. DELETE-aware at the manifest level: a partition whose every
    * row was deleted simply gets no line in the new snapshot — no
    * emptied Hive dir to remove. Same functional-dependence
    * PRECONDITION and optimistic transaction protocol as the merge. */
  def applyChangesPartitioned(changes: DataFrame, keys: Seq[String],
                              partCol: String, opCol: String = "op",
                              strict: Boolean = true,
                              txn: Option[(String, Long)] = None): Long =
    partitionedFoldCommit(changes, partCol, txn, "applyChangesPartitioned",
      // deletes can EMPTY a partition — the committed partition set
      // must be recomputed from the fold's actual output
      resultPartsAreAffected = false)(
      target => Upsert.applyChanges(target, changes, keys, opCol, strict))

  /** Shared pruned-commit transaction: read only `src`'s partitions of
    * the current snapshot, apply `fold` to that pruned target, commit
    * the result dir + carried lines as the next version. A lost race
    * re-runs the WHOLE transaction against the new head — unless the
    * fold can be rebased onto it (below). */
  private def partitionedFoldCommit(src: DataFrame, partCol: String,
                                    txn: Option[(String, Long)], op: String,
                                    resultPartsAreAffected: Boolean)(
                                    fold: DataFrame => DataFrame): Long = {
    lazy val affected = partValues(src, partCol).toSet
    /** One fold's result dir and the head manifest it read. */
    final case class Folded(read: Manifest, uuid: String,
                            fullMap: Seq[(String, String)], resultParts: Seq[String],
                            hdr: Seq[(String, String)],
                            ranges: Map[(String, String), (String, String)],
                            blooms: Map[(String, String), String])
    def affectedLines(m: Manifest) = m.entries.filter(_._2.exists(affected)).toSet
    // PARTITION-GRANULAR conflict resolution:
    // losing the version race does NOT by itself invalidate the fold
    // — it read only `affected`'s partitions. If every intervening
    // commit left those partitions' visible state untouched (same
    // (dir, tag) lines, same tombstones on those dirs, same schema
    // mapping, an all-tagged head on the same scheme), the folded dir
    // is still exactly right and we REBASE: re-derive the carry set
    // from the new head and commit the same dir one version later —
    // both disjoint-partition writers pay one fold each, the Delta
    // file-level-conflict behavior. Anything else (overlapping
    // partitions, overwrite, column mapping changes, untagged head)
    // re-runs the fold against the new head.
    def rebasesOnto(f: Folded, head: Manifest): Boolean =
      head.partCol == f.read.partCol &&
        head.colMap == f.read.colMap && head.retired == f.read.retired &&
        head.entries.forall(e => e._2.isDefined && !isForeign(e._2)) &&
        affectedLines(head) == affectedLines(f.read) &&
        affectedLines(f.read).map(_._1)
          .forall(d => f.read.tombstones.get(d) == head.tombstones.get(d))
    var last: Option[Folded] = None // a rebasable fold from an earlier attempt
    commit(op.toUpperCase, txn) { (base, prev) =>
      require(base >= 0, s"TxLog table at $root has no commits to fold into")
      // empty batch: no-op — commit nothing, current version stands
      if (src.isEmpty) None
      else {
        val pruned = prev.partCol.contains(partCol) && prev.entries.forall(_._2.isDefined)
        // dirs tagged under a FOREIGN scheme (their layout predates the
        // current partition column, see evolvePartitioning) cannot be
        // pruned on this merge's column: they are merged in whole (their
        // visible rows) and come out re-tagged under the current scheme
        // — the table self-heals into the new layout one merge at a time
        val foreignDirs = prev.entries.filter(e => isForeign(e._2)).map(_._1).distinct
        val f = last.filter(rebasesOnto(_, prev)).getOrElse {
          val target =
            if (pruned) {
              val touched = prev.entries.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (d, es) =>
                if (foreignDirs.contains(d))
                  Some(tagFilter(prev.partCol, es.map(_._2))
                    .fold(dirVisibleRows(prev.tombstones, d))(
                      dirVisibleRows(prev.tombstones, d).filter))
                else {
                  val hit = es.flatMap(_._2).filter(affected)
                  if (hit.isEmpty) None
                  else Some(dirVisibleRows(prev.tombstones, d).filter(
                    org.apache.spark.sql.functions.col(partCol)
                      .cast("string").isin(hit: _*)))
                }
              }
              // dirVisibleRows is physical-named; the fold (and its src)
              // speak the visible schema — map at the boundary
              if (touched.nonEmpty)
                toLogical(prev.colMap, touched.reduce(
                  _.unionByName(_, allowMissingColumns = true)))
              else snapshot(base).filter(org.apache.spark.sql.functions.lit(false))
            } else snapshot(base)
          val folded = fold(target).localCheckpoint(true)
          // carried dirs keep physical names — the rewritten dir must too
          val (physFolded, fullMap) = toPhysical(prev.colMap, prev.retired, folded)
          val uuid = writeDataDir(physFolded)
          val (hdr, newRanges) = statsFor(uuid, fullMap)
          // the retag path (and any delete-capable fold) must enumerate the
          // result's actual partitions; foreign-scheme dirs merged in
          // contribute rows OUTSIDE the affected set — enumerate the
          // folded result's real partitions
          val resultParts =
            if (resultPartsAreAffected && pruned && foreignDirs.isEmpty)
              affected.toSeq.sorted
            else partValues(folded, partCol)
          Folded(prev, uuid, fullMap, resultParts, hdr, newRanges, bloomsFor(uuid, fullMap))
        }
        // only a pruned fold over one scheme read a partition subset
        last = if (pruned && foreignDirs.isEmpty) Some(f) else None
        val carry =
          if (pruned) prev.entries.filter { case (d, p) =>
            !foreignDirs.contains(d) && !p.exists(affected) }
          else Seq.empty
        // all affected partitions emptied AND nothing carried: keep the
        // (zero-row) dir referenced untagged so the manifest resolves
        val newEntries =
          if (f.resultParts.isEmpty && carry.isEmpty) Seq((f.uuid, Option.empty[String]))
          else f.resultParts.map(p => (f.uuid, Option(p)))
        val next = carried(prev, carry, newEntries, f.hdr, f.ranges, f.blooms)
          .copy(partCol = Some(partCol), colMap = f.fullMap)
        // the carried dirs have not been validated against any
        // constraint THIS writer is introducing (none, usually)
        val checks = mergedChecks(prev.checks)
        enforceChecksOnDirs(Seq(f.uuid), checks, colMap = f.fullMap)
        enforceChecks(entryTagSets(carry, Some(partCol)), Some(partCol),
          addedChecks(prev.checks), next.tombstones, f.fullMap)
        Some(next.copy(checks = checks))
      }
    }
  }

  /** SCD1 MERGE — the reference's `whenMatchedUpdateAll()
    * .whenNotMatchedInsertAll()` on key equality, with [[Upsert.merge]]'s
    * semantics ([[Upsert.mergeEvolve]]'s under `evolve`), committed by
    * [[mergeInto]]'s `UPDATE SET *` / `INSERT *`. Checks first identical
    * column sets (unless `evolve`) and Delta's one-source-row-per-key
    * rule, which also refuses duplicate keys that match nothing. */
  def merge(src: DataFrame, keys: Seq[String],
            txn: Option[(String, Long)] = None,
            evolve: Boolean = false): Long = {
    if (!evolve) {
      val tgt = snapshot().columns
      require(tgt.sorted.sameElements(src.columns.sorted),
        s"merge requires identical column sets; got target=${tgt.toSeq} src=${src.columns.toSeq}")
    }
    Upsert.requireUniqueKeys(src, keys, "MERGE source")
    mergeInto(src, keys.map(k => s"t.`$k` = s.`$k`").mkString(" AND "),
      matched = Seq(MergeInto.When(None, MergeInto.UpdateAll)),
      notMatched = Seq(MergeInto.When(None, MergeInto.InsertAll)),
      txn = txn, evolve = evolve)
  }

  /** Full conditional MERGE — Delta's complete clause surface (see
    * [[MergeInto]] for the model): matched rows update or delete under
    * per-clause conditions, unmatched source rows insert, unmatched
    * TARGET rows (`WHEN NOT MATCHED BY SOURCE`) update or delete.
    * Clause conditions and assignment RHSes are SQL expressions over
    * `targetAlias`/`sourceAlias`-qualified columns; assigned values
    * cast to the target column's type under the session's ANSI mode
    * (unrepresentable values fail the commit, mirroring INSERT).
    *
    * 100 TB shape — the commit rewrites ONLY the dirs holding modified
    * rows and carries everything else structurally:
    *   1. join target (with physical row addresses) to source once;
    *      only rows where some clause FIRES materialize
    *      (`localCheckpoint` ∝ touched + inserted rows, never ∝ table);
    *   2. the fired addresses name the affected dirs (driver sees one
    *      string per dir — metadata-scale); unaffected dirs' manifest
    *      lines, stats, blooms and tombstones carry unchanged;
    *   3. affected dirs rewrite as survivors (address anti-join — the
    *      fired side is delete-volume-sized, so AQE broadcasts it)
    *      plus the fired updates plus the inserts, in one fresh dir.
    *
    * SQL MERGE contract details: clauses fire in declaration order,
    * first passing condition wins; a non-final clause must carry a
    * condition; two source rows modifying the same target row is a
    * cardinality violation and fails the whole commit (Delta's
    * behavior); a MERGE where no clause fires anywhere is a no-op
    * (current version stands, no churn). `UPDATE SET *` / `INSERT *`
    * require every target column on the source by name. Optimistic
    * TRANSACTION: a lost race re-runs the merge against the new head;
    * `txn` gives streaming exactly-once.
    * `evolve` is Delta's `WITH SCHEMA EVOLUTION` on this path:
    * source-only columns join the target schema additively (nullable;
    * rows the merge does not touch read NULL for them, including every
    * carried dir's rows — the snapshot NULL-fills missing physicals).
    * Under evolution `UPDATE SET *` keeps a target-only column's value
    * and `INSERT *` leaves it NULL (the documented Delta contract);
    * explicit `UPDATE SET`/`INSERT (cols)` may assign the new columns
    * directly. The schema evolves only when the merge commits — a
    * nothing-fired MERGE stays a full no-op. */
  def mergeInto(src: DataFrame, condition: String,
                matched: Seq[MergeInto.When] = Nil,
                notMatched: Seq[MergeInto.When] = Nil,
                notMatchedBySource: Seq[MergeInto.When] = Nil,
                targetAlias: String = "t", sourceAlias: String = "s",
                txn: Option[(String, Long)] = None,
                evolve: Boolean = false): Long = {
    import MergeInto._
    import org.apache.spark.sql.functions.{col, expr, lit, max, when}
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty, "MERGE requires at least one WHEN clause")
    def checkClauses(ws: Seq[When], who: String)(ok: Action => Boolean): Unit = {
      ws.foreach(w => require(ok(w.action),
        s"unsupported action ${w.action} in a $who clause"))
      ws.dropRight(1).foreach(w => require(w.cond.nonEmpty,
        s"only the last $who clause may omit its AND condition"))
    }
    checkClauses(matched, "WHEN MATCHED") {
      case Update(_) | UpdateAll | Delete => true; case _ => false }
    checkClauses(notMatched, "WHEN NOT MATCHED") {
      case Insert(_) | InsertAll => true; case _ => false }
    checkClauses(notMatchedBySource, "WHEN NOT MATCHED BY SOURCE") {
      case Update(_) | Delete => true; case _ => false }
    val SrcMark = "__merge_src"
    commit("MERGE", txn) { (base, prev) =>
      require(base >= 0, s"TxLog table at $root has no commits to merge into")
      val tgtSchema = snapshot(base).schema
      def srcHas(n: String) = src.columns.exists(_.equalsIgnoreCase(n))
      // additive evolution: source-only columns extend the commit's
      // output schema; internal marker names can never collide (the
      // __-prefix is reserved at the write boundary)
      val srcOnly: Seq[org.apache.spark.sql.types.StructField] =
        if (!evolve) Nil
        else src.schema.fields.toSeq.filterNot(f =>
          tgtSchema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
      val outSchema = org.apache.spark.sql.types.StructType(
        tgtSchema.fields.toSeq ++ srcOnly.map(_.copy(nullable = true)))
      def tgtField(n: String) = outSchema.fields
        .find(_.name.equalsIgnoreCase(n))
        .getOrElse(throw new IllegalArgumentException(
          s"MERGE assigns unknown target column '$n'"))
      (matched ++ notMatched ++ notMatchedBySource).foreach(_.action match {
        case Update(sets)   => sets.foreach(s => tgtField(s._1))
        case Insert(values) => values.foreach(v => tgtField(v._1))
        case UpdateAll | InsertAll =>
          val missing = tgtSchema.fieldNames.filterNot(srcHas)
          require(evolve || missing.isEmpty,
            "UPDATE SET * / INSERT * requires every " +
            s"target column on the source; missing: ${missing.mkString(", ")}" +
            " (or MERGE WITH SCHEMA EVOLUTION)")
        case Delete =>
      })
      // the target side exposes the evolved columns as typed NULLs so
      // alias-qualified references resolve uniformly below
      val addressed = srcOnly.foldLeft(addressedVisibleRows(prev))(
        (d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
      val tAliased = addressed.alias(targetAlias)
      val sAliased = src.withColumn(SrcMark, lit(true)).alias(sourceAlias)
      // full outer only when target-only rows can fire a clause —
      // otherwise they carry structurally and never enter the join
      val joinType =
        if (notMatchedBySource.nonEmpty) "full_outer" else "right_outer"
      val tgtPresent = col(s"$targetAlias.$DvFile").isNotNull
      val srcPresent = col(s"$sourceAlias.$SrcMark").isNotNull
      def condOf(w: When) = w.cond.map(expr).getOrElse(lit(true))
      val mActs = matched.zipWithIndex.map { case (w, i) => (s"m$i", w) }
      val iActs = notMatched.zipWithIndex.map { case (w, i) => (s"i$i", w) }
      val nActs = notMatchedBySource.zipWithIndex.map {
        case (w, i) => (s"n$i", w) }
      // one when-chain: groups are guard-disjoint, order matters only
      // within a group — first passing condition wins
      val ActCol = "__merge_act"
      val actChain =
        (mActs.map { case (g, w) => (tgtPresent && srcPresent && condOf(w), g) } ++
         iActs.map { case (g, w) => (!tgtPresent && srcPresent && condOf(w), g) } ++
         nActs.map { case (g, w) => (tgtPresent && !srcPresent && condOf(w), g) })
          .foldRight(lit(null).cast("string")) { case ((p, g), acc) =>
            when(p, lit(g)).otherwise(acc) }
      // the fired row's NEW value for column f, per firing clause —
      // resolved against the live aliases, then flattened so the
      // checkpoint below needs no qualifier resolution
      def valueOf(f: org.apache.spark.sql.types.StructField,
                  w: When): org.apache.spark.sql.Column = w.action match {
        case Update(sets) => sets.find(_._1.equalsIgnoreCase(f.name))
          .map(kv => expr(kv._2).cast(f.dataType))
          .getOrElse(col(s"$targetAlias.${f.name}"))
        case UpdateAll =>
          // evolve only: a target-only column keeps its pre-merge value
          if (srcHas(f.name)) col(s"$sourceAlias.${f.name}").cast(f.dataType)
          else col(s"$targetAlias.${f.name}")
        case InsertAll =>
          // evolve only: a target-only column inserts as NULL
          if (srcHas(f.name)) col(s"$sourceAlias.${f.name}").cast(f.dataType)
          else lit(null).cast(f.dataType)
        case Insert(values) => values.find(_._1.equalsIgnoreCase(f.name))
          .map(kv => expr(kv._2).cast(f.dataType))
          .getOrElse(lit(null).cast(f.dataType))
        case Delete => lit(null).cast(f.dataType) // row is dropped anyway
      }
      def valueChain(f: org.apache.spark.sql.types.StructField) =
        (mActs ++ iActs ++ nActs).foldRight(
          lit(null).cast(f.dataType)) { case ((g, w), acc) =>
          when(col(ActCol) === lit(g), valueOf(f, w)).otherwise(acc) }
      val fired = tAliased.join(sAliased, expr(condition), joinType)
        .withColumn(ActCol, actChain).filter(col(ActCol).isNotNull)
        .select(Seq(col(s"$targetAlias.$DvDir").as(DvDir),
            col(s"$targetAlias.$DvFile").as(DvFile),
            col(s"$targetAlias.$DvRow").as(DvRow), col(ActCol)) ++
          outSchema.fields.toSeq.map(f => valueChain(f).as(f.name)): _*)
        .localCheckpoint(true) // ∝ touched + inserted rows, not table
      // one driver round-trip, bounded metadata (≤ table dir count + 1):
      // per touched dir (NULL = the inserts), the most fired rows on one
      // target row — more than one can only be two MATCHED source rows
      val perDir = fired.groupBy(col(DvDir), col(DvFile), col(DvRow)).count()
        .groupBy(col(DvDir)).agg(max(col("count"))).collect()
      if (perDir.isEmpty) None // nothing fired anywhere: no-op
      else {
        // SQL MERGE cardinality contract: a target row modified by two
        // source matches fails the statement, not last-writer-wins
        if (perDir.exists(r => !r.isNullAt(0) && r.getLong(1) > 1))
          throw new IllegalStateException("MERGE cardinality violation: " +
            "multiple source rows matched and attempted to modify the same " +
            s"target row at $root — deduplicate the source on the merge keys")
        val deleteActs = (mActs ++ nActs).collect {
          case (g, When(_, Delete)) => g }
        val affected = perDir.filterNot(_.isNullAt(0)).map(_.getString(0)).toSeq.sorted
        val outCols = outSchema.fields.toSeq.map(f => col(f.name))
        val survivors = addressed.filter(col(DvDir).isin(affected: _*))
          .join(fired.select(col(DvDir), col(DvFile), col(DvRow)),
            Seq(DvDir, DvFile, DvRow), "left_anti")
        val newData = survivors.select(outCols: _*).unionByName(
          fired.filter(if (deleteActs.isEmpty) lit(true)
            else !col(ActCol).isin(deleteActs: _*)).select(outCols: _*))
        val (physNew, fullMap) = toPhysical(prev.colMap, prev.retired, newData)
        val uuid = writeDataDir(physNew)
        val (hdr, newRanges) = statsFor(uuid, fullMap)
        val newBlooms = bloomsFor(uuid, fullMap)
        val carry = prev.entries.filterNot(e => affected.contains(e._1))
        // a NULL partition value leaves the new dir untagged, as on UPDATE
        val newEntries = prev.partCol.flatMap(pc => partValuesOpt(newData, pc)) match {
          case Some(ps) if ps.nonEmpty || carry.nonEmpty => ps.map(p => (uuid, Option(p)))
          case _ => Seq((uuid, Option.empty[String]))
        }
        val next = carried(prev, carry, newEntries, hdr, newRanges, newBlooms)
        // carried dirs are new only to the constraints THIS writer adds
        val checks = mergedChecks(prev.checks)
        enforceChecksOnDirs(Seq(uuid), checks, colMap = fullMap)
        enforceChecks(entryTagSets(carry, prev.partCol), prev.partCol,
          addedChecks(prev.checks), next.tombstones, fullMap)
        Some(next.copy(checks = checks, colMap = fullMap))
      }
    }
  }

  /** Copy-on-write `UPDATE ... SET ... [WHERE ...]` commit: every
    * visible row matching `predicate` (all rows when None) takes the
    * `assignments` — each RHS is a SQL expression evaluated against
    * the PRE-update row (one projection computes every assignment, so
    * `SET a = b, b = a` swaps — SQL UPDATE semantics), cast back to
    * the column's existing type (UPDATE never changes the schema).
    *
    * DIR granularity: stats prune the predicate to candidate dirs
    * ([[mayMatchDirs]]), an addressed probe finds the dirs actually
    * containing matches, and ONLY those rewrite — every other dir's
    * manifest lines (entries, tags, ranges, Blooms, tombstones) carry
    * untouched. Write amplification tracks the matched dirs, not the
    * table: the one-customer UPDATE on a 100 TB table rewrites the
    * dirs holding that customer. Partition tagging survives (the
    * rewritten rows re-tag from data, so an UPDATE that moves rows
    * across partitions stays correct); rewritten dirs' deletion
    * vectors materialize, carried dirs keep theirs. Column-mapped
    * tables take the legacy whole-snapshot rewrite, which re-homes the
    * table on identity mapping. Same optimistic-transaction retry as
    * [[merge]]. */
  def updateWhere(assignments: Seq[(String, String)],
                  predicate: Option[String] = None): Long = {
    require(assignments.nonEmpty, "UPDATE requires at least one assignment")
    commit("UPDATE")(copyOnWriteUpdate(assignments, predicate))
  }

  /** One attempt of [[updateWhere]] against head `base`. */
  private def copyOnWriteUpdate(assignments: Seq[(String, String)],
                                predicate: Option[String])(
                                base: Long, prev: Manifest): Option[Manifest] = {
    import org.apache.spark.sql.functions.{col, expr, lit, when}
    require(base >= 0, s"TxLog table at $root has no commits to update")
    val snap = snapshot(base)
    val unknown = assignments.map(_._1).filterNot(snap.columns.contains)
    require(unknown.isEmpty,
      s"UPDATE of unknown column(s): ${unknown.mkString(", ")}")
    val cond = predicate.map(expr).getOrElse(lit(true))
    def applyAssignments(df: DataFrame): DataFrame =
      df.select(snap.schema.fields.map { f =>
        assignments.find(_._1 == f.name) match {
          case Some((_, rhs)) =>
            when(cond, expr(rhs).cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }.toSeq: _*)
    val checks = mergedChecks(prev.checks)
    if (prev.colMap.nonEmpty) {
      // legacy path: full rewrite onto identity mapping
      val updated = applyAssignments(snap).localCheckpoint(true)
      val uuid = writeDataDir(updated)
      val (hdr, ranges) = statsFor(uuid)
      enforceChecksOnDirs(Seq(uuid), checks)
      return Some(rewritten(prev, None, Seq((uuid, None)), hdr, ranges,
        bloomsFor(uuid)).copy(checks = checks))
    }
    val candidates = predicate.fold(prev.dirs)(p => mayMatchDirs(prev.dirs, p))
    val affected =
      if (candidates.isEmpty) Seq.empty[String]
      else addressedVisibleRows(prev, Some(candidates.toSet)).filter(cond)
        .select(col(DvDir)).distinct()
        .collect().map(_.getString(0)).toSeq.sorted
    // zero matches: a metadata-only version (UPDATE always commits —
    // history records the statement ran)
    if (affected.isEmpty) return Some(prev)
    val aff = affected.toSet
    val carry = prev.entries.filterNot(e => aff(e._1))
    val raw = prev.entries.filter(e => aff(e._1))
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (d, es) =>
        val baseDf = dirVisibleRows(prev.tombstones, d)
        tagFilter(prev.partCol, es.map(_._2)).fold(baseDf)(baseDf.filter)
      }.reduce(_.unionByName(_, allowMissingColumns = true))
    // pre-evolution dirs may lack later columns: widen to the
    // snapshot schema so assignments/predicates resolve
    val widened = snap.schema.fields
      .filterNot(f => raw.columns.contains(f.name))
      .foldLeft(raw)((df, f) =>
        df.withColumn(f.name, lit(null).cast(f.dataType)))
    val updated = applyAssignments(widened).localCheckpoint(true)
    val uuid = writeDataDir(updated)
    val (hdr, newRanges) = statsFor(uuid)
    val next = carried(prev, carry, taggedFromData(uuid, prev.partCol), hdr,
      newRanges, bloomsFor(uuid))
    enforceChecksOnDirs(Seq(uuid), checks)
    enforceChecks(entryTagSets(carry, prev.partCol), prev.partCol,
      addedChecks(prev.checks), next.tombstones, prev.colMap)
    Some(next.copy(checks = checks))
  }

  /** Entries for a freshly-written dir on a table tagged by `partCol`:
    * one per partition value in its data. An UPDATE may move rows
    * across partitions or write NULL partition values — the latter
    * leaves the dir untagged, keeping those rows visible. */
  private def taggedFromData(uuid: String,
                             partCol: Option[String]): Seq[(String, Option[String])] =
    partCol.flatMap(pc => partValuesOpt(snapshotOfDir(uuid), pc))
      .fold(Seq((uuid, Option.empty[String])))(_.map(p => (uuid, Option(p))))

  /** MERGE-ON-READ update — the deletion-vector UPDATE (Delta's
    * DV-enabled UPDATE): matching rows are tombstoned by physical
    * address in a sidecar (exactly [[deleteWhere]]'s mechanism) and
    * their UPDATED images appended as one new data dir. NO existing
    * data dir is rewritten, so write amplification is proportional to
    * the HIT rows — at 100 TB a one-row correction costs a
    * metadata-sized sidecar plus one row's parquet, where even the
    * dir-granular copy-on-write path ([[updateWhere]]) rewrites every
    * dir the row lives in. Reads pay one anti join per dirty dir
    * until OPTIMIZE / [[purgeDeletes]] materializes the debt. Every
    * RHS sees the pre-update row (standard UPDATE semantics; the
    * predicate-pruned scan means a keyed update on a stats/bloom
    * column opens only the matching dirs). Zero matches commit a
    * metadata-only version, matching [[updateWhere]] — history
    * records the statement ran. Column-mapped tables take
    * [[updateWhere]]'s path: appends speak physical names, and the
    * mapped write path is the CoW rewrite. */
  def updateWhereMoR(assignments: Seq[(String, String)],
                     predicate: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    require(assignments.nonEmpty, "UPDATE requires at least one assignment")
    commit("UPDATE") { (base, prev) =>
      require(base >= 0, s"TxLog table at $root has no commits to update")
      if (prev.colMap.nonEmpty) copyOnWriteUpdate(assignments, predicate)(base, prev)
      else {
        val snap = snapshot(base)
        val unknown = assignments.map(_._1).filterNot(snap.columns.contains)
        require(unknown.isEmpty,
          s"UPDATE of unknown column(s): ${unknown.mkString(", ")}")
        // predicate-pruned: dirs whose committed stats exclude the
        // predicate cannot contain hits (stats stay sound over
        // tombstones — deletes only narrow a dir's visible rows)
        val candidates = predicate.fold(prev.dirs)(p =>
          mayMatchDirs(prev.dirs, p)).toSet
        val hits =
          if (candidates.isEmpty) None
          else Some(addressedVisibleRows(prev, Some(candidates))
            .filter(predicate.map(expr).getOrElse(lit(true)))
            .localCheckpoint(true))
        // affected-dir list: bounded metadata (≤ table dir count)
        val affected = hits.fold(Seq.empty[String])(h =>
          h.select(col(DvDir)).distinct()
            .collect().map(_.getString(0)).toSeq.sorted)
        if (affected.isEmpty) Some(prev)
        else {
          val h = hits.get
          // the hit addresses become a tombstone sidecar shared by every
          // affected dir — deleteWhere's shape
          val tsUuid = writeDataDir(
            h.select(col(DvFile).as("file"), col(DvRow).as("row")))
          val tombs = affected.foldLeft(prev.tombstones)((acc, d) =>
            acc + (d -> (acc.getOrElse(d, Nil) :+ tsUuid)))
          // the updated images append in the snapshot schema; hits all
          // match, so assignments apply unconditionally (RHS evaluated
          // against the pre-update row)
          val updated = h.select(snap.schema.fields.map { f =>
            assignments.find(_._1 == f.name) match {
              case Some((_, rhs)) => expr(rhs).cast(f.dataType).as(f.name)
              case None => col(f.name).cast(f.dataType).as(f.name)
            }
          }.toSeq: _*).localCheckpoint(true)
          val uuid = writeDataDir(updated)
          val (hdr, newRanges) = statsFor(uuid)
          val checks = mergedChecks(prev.checks)
          enforceChecksOnDirs(Seq(uuid), checks)
          enforceChecks(entryTagSets(prev.entries, prev.partCol), prev.partCol,
            addedChecks(prev.checks), tombs, prev.colMap)
          // every prior entry carries (nothing was rewritten), so every
          // prior range/bloom stays — bounds over tombstoned rows are
          // loose but sound for skipping
          Some(carried(prev, prev.entries, taggedFromData(uuid, prev.partCol), hdr,
            newRanges, bloomsFor(uuid)).copy(checks = checks, tombstones = tombs))
        }
      }
    }
  }

  /** MERGE-ON-READ delete — Delta deletion-vector parity: rows
    * matching `predicate` are recorded as (file, row-index) pairs in a
    * tombstone sidecar; NO data dir is rewritten. Snapshot reads
    * anti-join the tombstones away; OPTIMIZE/[[compact]] materialize
    * them (survivors rewritten, lines dropped). At 100 TB this turns a
    * one-row GDPR delete from a whole-dir copy-on-write rewrite
    * ([[Upsert]]'s path) into a sidecar write proportional to the
    * DELETED rows. Time travel still reads the rows at pre-delete
    * versions (their manifests carry no tombstone lines) until
    * [[vacuum]] retires them — the Delta DV contract.
    *
    * A predicate matching nothing commits nothing (no version churn).
    * Pre-evolution dirs missing a predicate column read it as null
    * (predicate null → row survives — additive-evolution semantics).
    * Optimistic TRANSACTION like [[merge]]: the hit set depends on the
    * snapshot read, so a lost race recomputes it. */
  def deleteWhere(predicate: String): Long = {
    import org.apache.spark.sql.functions.{col, expr}
    commit("DELETE") { (cur, m) =>
      require(cur >= 0, s"TxLog table at $root has no commits to delete from")
      // predicate-pruned scan: a dir whose committed stats exclude the
      // predicate cannot contain hits — a one-key GDPR delete on a
      // stats/bloom column opens the matching dirs, not the table
      val candidates = mayMatchDirs(m.dirs, predicate).toSet
      if (candidates.isEmpty) None // stats exclude every dir — no-op
      else {
        val hits = addressedVisibleRows(m, Some(candidates)).filter(expr(predicate))
          .select(col(DvFile).as("file"), col(DvRow).as("row"),
            col(DvDir).as("__dir")).localCheckpoint(true)
        // affected-dir list: bounded metadata (≤ table dir count) — the
        // sanctioned driver round-trip
        val affected = hits.select(col("__dir")).distinct()
          .collect().map(_.getString(0)).toSeq.sorted
        if (affected.isEmpty) None // nothing matched — no-op
        else {
          val uuid = writeDataDir(hits.drop("__dir"))
          Some(m.copy(tombstones = affected.foldLeft(m.tombstones)((acc, d) =>
            acc + (d -> (acc.getOrElse(d, Nil) :+ uuid)))))
        }
      }
    }
  }

  /** OPTIMIZE-style full compaction ([[pack]]): rewrite EVERY entry
    * into fresh dirs, one per [[TxLog.TargetFileBytes]] of input (at
    * least one), range-clustered on the partition column or the first
    * stats column. It folds the dir-per-batch layout of append-built
    * and partition-merged tables in a versioned commit recorded as
    * `OVERWRITE` (time travel reaches the old layout until [[vacuum]]).
    * It always commits, and materializes everything reads resolve
    * through the manifest: deletion vectors, column mapping (logical
    * names become physical, the map resets), an evolved partition
    * scheme (dirs re-tagged under the current column) and a shallow
    * clone's references to its source. Table metadata (`#txn`,
    * `#check`, `#copied`, `#prop`) carries. */
  def compact(): Long = pack("OVERWRITE", debt = None, TxLog.BySize(TxLog.TargetFileBytes))

  /** On-disk bytes of a data dir — OPTIMIZE's packing metric. A
    * driver-side metadata listing, not a data read. */
  private def dirSize(uuid: String): Long = {
    val p = new Path(dirPath(uuid))
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
  }

  /** Target-size BIN-PACKING compaction — the part of Delta's OPTIMIZE
    * that [[compact]] (a full rewrite) skips: fold ONLY the dirs whose
    * on-disk bytes fall below `targetBytes` into right-sized dirs,
    * CARRYING every compliant dir's manifest lines — entries, tags,
    * range stats, Bloom words — untouched. Write amplification is
    * proportional to the small-file debt, not the table size: at
    * 100 TB, rewriting compliant data on every maintenance pass is the
    * difference between a bounded background job and a daily
    * full-table write. Running it again with no new debt is a
    * version-preserving no-op (one residual under-target dir cannot
    * pack any better, so ≤1 small dir commits nothing).
    *
    * Packed rows are read through the MANIFEST (a partition-tagged dir
    * live for a subset of its partitions contributes only its visible
    * rows), re-clustered on the partition column (tagged tables) or
    * the first stats column (so range skipping stays tight), and
    * re-tagged from the data.
    *
    * `parts` (Delta's `OPTIMIZE … WHERE partition predicate`) scopes
    * the pass to the named partition values of a TAGGED table — the
    * maintenance shape at 100 TB, where yesterday's ingest touched a
    * handful of partitions and compacting the other ten thousand is
    * pure write amplification. Scoping works at the ENTRY level: a dir
    * live for both scoped and unscoped partitions keeps its unscoped
    * entries (and their tombstones/stats) pointing at the old dir
    * while its scoped rows move — no row is ever duplicated or lost
    * because reads resolve per entry. A scoped pass does NOT purge
    * such a split dir's deletion vectors (the dir survives for its
    * carried entries); a table-wide pass does. */
  def compactSmallFiles(targetBytes: Long, parts: Seq[String] = Nil): Long = {
    require(targetBytes > 0, s"targetBytes must be positive (got $targetBytes)")
    pack("OPTIMIZE", Some(TxLog.Debt(targetBytes, parts, dvOnly = false)),
      TxLog.BySize(targetBytes))
  }

  /** `REORG TABLE … APPLY (PURGE)` — materialize the deletion-vector
    * debt and NOTHING else: only dirs carrying tombstones rewrite
    * (survivors land in right-sized dirs, sidecar lines drop);
    * size-compliant clean dirs are never touched, unlike a full
    * OPTIMIZE pass which also bin-packs small files. The maintenance
    * primitive for a 100 TB table under a steady MoR DELETE/UPDATE
    * trickle: write amplification tracks the TOMBSTONED dirs, not the
    * small-file debt of dirs the deletes never touched. `parts`
    * scopes the purge to named partition values of a tagged table
    * (entry-granular, like OPTIMIZE WHERE — a dir live for scoped and
    * unscoped partitions keeps its DVs, since the dir must survive
    * for its carried entries). A table with no tombstones is a
    * version-preserving no-op. */
  def purgeDeletes(parts: Seq[String] = Nil): Long =
    pack("OPTIMIZE", Some(TxLog.Debt(TxLog.TargetFileBytes, parts, dvOnly = true)),
      TxLog.BySize(TxLog.TargetFileBytes))

  /** Z-ORDER compaction — the liquid-clustering move: rewrite every
    * entry as `nBuckets` dirs cut by range along the z-curve of
    * `zCols`, so each dir's committed [min,max] is tight on EVERY
    * listed column at once and [[snapshotRangeOn]] prunes dirs for
    * predicates on ANY of them. One column's z-curve is its own order:
    * the dirs are disjoint slices of it, and [[snapshotRange]] skips all
    * but the matching bucket(s). For 2+ columns the codes are
    * per-column GLOBAL RANKS — the two-phase range-partitioned rank,
    * so arbitrary value distributions interleave uniformly and no step
    * funnels through one task. Code width is min(16, 62/n) bits per
    * column: the interleaved word must stay inside a signed long's
    * non-negative range (bit 63 would flip the sign and misorder the
    * range partitioner; an index ≥ 64 would silently alias through the
    * JVM's mod-64 shift), so 4+ columns trade per-column resolution
    * for column count — the standard z-order curve trade.
    * `zCols` must be tracked stats columns (the layout is only useful
    * through the stats that skip on it). A partition-tagged head is
    * refused (one physical clustering per table). Like [[compact]], a
    * [[pack]] of every entry; recorded as `COMPACTZORDER`. */
  def compactZOrder(zCols: Seq[String], nBuckets: Int): Long = {
    require(zCols.nonEmpty, "compactZOrder needs at least one column")
    require(zCols.forall(statsCols.contains),
      s"compactZOrder columns must all be in statsCols (got $zCols vs $statsCols)")
    pack("COMPACTZORDER", debt = None, TxLog.ByZOrder(zCols, nBuckets))
  }

  /** THE layout rewrite every compaction form calls. Each attempt runs
    * inside [[commit]], so it rewrites rows read from the head it
    * publishes over and a concurrent append carries through. `debt`
    * None rewrites every entry under the visible names into the
    * [[rewritten]] shape (mapping, deletion vectors and foreign tags
    * materialize) and always commits; `Some(d)` rewrites
    * [[TxLog.Debt]] `d`'s entries under their stored names, keeps the
    * mapping, [[carried]] the rest, and commits nothing without debt.
    * Each non-empty bucket of `cut` becomes one dir with fresh stats,
    * Blooms and partition tags from its data. */
  private def pack(op: String, debt: Option[TxLog.Debt], cut: TxLog.Cut): Long = {
    require(exists(), s"TxLog table at $root has no commits to compact")
    commit(op)((_, prev) => packAttempt(prev, debt, cut))
  }

  /** One attempt of [[pack]] against the head manifest `prev`. */
  private def packAttempt(prev: Manifest, debt: Option[TxLog.Debt],
                          cut: TxLog.Cut): Option[Manifest] = {
    import org.apache.spark.sql.functions.{col, lit, spark_partition_id}
    val sizes = prev.dirs.map(d => d -> dirSize(d)).toMap
    val picked = debt.fold(prev.entries)(debtEntries(prev, _, sizes))
    if (picked.isEmpty) return None
    val carry = prev.entries.filterNot(picked.contains)
    // a whole rewrite stores the VISIBLE names (the mapping
    // materializes); a partial one keeps the stored names, so its dirs
    // sit under the same mapping as the carried ones
    val whole = debt.isEmpty
    val colMap = if (whole) Nil else prev.colMap
    val partCol = if (whole) prev.partCol.map(logicalOf(prev.colMap, _)) else prev.partCol
    val rows = readChosen(if (whole) prev else prev.copy(colMap = Nil), picked)
    val (cutRows, k) = cut match {
      case TxLog.BySize(targetBytes) =>
        val k = math.max(1L, picked.map(_._1).distinct.map(sizes).sum / targetBytes).toInt
        val c = (partCol ++ statsCols.map(physicalOf(colMap, _))).find(rows.columns.contains)
        (c.fold(rows.repartition(k))(c => rows.repartitionByRange(k, col(c))), k)
      case TxLog.ByZOrder(cols, n) =>
        require(prev.partCol.isEmpty,
          "z-order compaction on a partition-tagged table is unsupported")
        (zOrdered(rows, cols.map(physicalOf(colMap, _)), n), n)
    }
    val uuids =
      if (k == 1) Seq(writeDataDir(cutRows, sized = false))
      else {
        val bucketed = cutRows.withColumn("__bucket", spark_partition_id())
          .localCheckpoint(true)
        // non-empty buckets in one pass over the checkpoint, no shuffle
        val live = bucketed.select("__bucket").rdd
          .mapPartitions(_.map(_.getInt(0)).toSet.iterator).collect().distinct.sorted
        live.toSeq.map(b => writeDataDir(
          bucketed.filter(col("__bucket") === b).drop("__bucket"), sized = false))
      }
    val stats = uuids.map(statsFor(_, colMap))
    // packed rows may include NULL partition values (from a degraded
    // untagged append): such a packed dir stays untagged
    val added0 = uuids.flatMap(taggedFromData(_, partCol))
    // a full merge-on-read wipe leaves zero visible rows: keep a
    // zero-row dir referenced (untagged) so the manifest still resolves
    // to a snapshot — same guard as the overwritePartitioned/foldCommit
    // empty cases
    val added =
      if (added0.nonEmpty || carry.nonEmpty) added0
      else Seq((uuids.headOption.getOrElse(
        writeDataDir(rows.filter(lit(false)), sized = false)), Option.empty[String]))
    val header = stats.map(_._1).find(_.nonEmpty).getOrElse(Seq.empty)
    val ranges = stats.flatMap(_._2).toMap
    val blooms = uuids.map(bloomsFor(_, colMap)).foldLeft(
      Map.empty[(String, String), String])(_ ++ _)
    val next =
      if (whole) rewritten(prev, partCol, added, header, ranges, blooms)
      else carried(prev, carry, added, header, ranges, blooms)
    val checks = mergedChecks(prev.checks)
    enforceChecksOnDirs(uuids, checks, colMap)
    enforceChecks(entryTagSets(carry, prev.partCol), prev.partCol,
      addedChecks(prev.checks), next.tombstones, prev.colMap)
    Some(next.copy(checks = checks))
  }

  /** The entries of `prev` carrying [[TxLog.Debt]] `d`, or none when packing
    * them would not pay: ≤1 small dir cannot pack better, and without
    * deletion vectors there is nothing to materialize. */
  private def debtEntries(prev: Manifest, d: TxLog.Debt,
                          sizes: Map[String, Long]): Seq[(String, Option[String])] = {
    require(d.parts.isEmpty || prev.partCol.nonEmpty,
      "partition-scoped OPTIMIZE requires a partition-tagged table")
    // under a scope, a None-tagged entry (dir covers the whole
    // table) never packs — it spans partitions outside the scope
    def inScope(tag: Option[String]): Boolean =
      d.parts.isEmpty || tag.exists(d.parts.contains)
    // deletion-vector debt counts as packing debt: rewriting a
    // tombstoned dir MATERIALIZES its deletes (survivors only, lines
    // dropped) — Delta's OPTIMIZE-purges-DVs behavior
    val dvDirs = prev.dirs.filter(x => prev.tombstones.get(x).exists(_.nonEmpty)).toSet
    val picked = prev.entries.filter { case (x, t) =>
      (dvDirs(x) || !d.dvOnly && sizes(x) < d.targetBytes) && inScope(t) }
    val dirs = picked.map(_._1).distinct
    if (dirs.size <= 1 && dirs.forall(!dvDirs(_))) Nil else picked
  }

  /** `rows` range-partitioned into `n` buckets along the z-curve of
    * `zCols` (see [[compactZOrder]]); one column ranges on itself. */
  private def zOrdered(rows: DataFrame, zCols: Seq[String], n: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit, shiftright}
    if (zCols.size == 1) return rows.repartitionByRange(n, col(zCols.head))
    val w = zCols.size
    val ranked = zCols.zipWithIndex.foldLeft(
      graft.functions.GlobalRank.rowNumber(rows, "__zr0", 32,
        Seq(col(zCols.head)), totalCol = Some("__zn"))) {
      case (d, (c, j)) if j > 0 =>
        graft.functions.GlobalRank.rowNumber(d, s"__zr$j", 32, Seq(col(c)))
      case (d, _) => d
    }
    // max interleave index = bits*w - 1 ≤ 61 < the sign bit
    val bits = math.min(16, 62 / w)
    val codes = (0 until w).map(j => expr(s"((__zr$j - 1) * ${1L << bits}) div __zn"))
    val z = (0 until bits).flatMap(i => (0 until w).map(j =>
        shiftright(codes(j), i).bitwiseAND(lit(1L)) * lit(1L << (i * w + j))))
      .reduce(_ + _)
    ranked.withColumn("__zz", z).repartitionByRange(n, col("__zz"))
      .drop((0 until w).map(j => s"__zr$j") :+ "__zn" :+ "__zz": _*)
  }

  /** Garbage-collect data dirs unreferenced by any of the newest
    * `keepVersions` manifests, and drop older manifests (bounds time
    * travel; the production knob is retention time). */
  /** The paths [[vacuum]] with the same retention would delete right
    * now — Delta's `VACUUM … DRY RUN`: unreferenced data dirs plus
    * manifests older than the retention window. A pure metadata
    * listing; nothing is touched. (Crashed-writer `_tmp_` debris is
    * excluded — its eligibility depends on the grace clock at delete
    * time, not on retention.) */
  def vacuumPlan(keepVersions: Int = 3): Seq[String] = {
    val cur = currentVersion()
    if (cur < 0) return Nil
    val keep = (math.max(0, cur - keepVersions + 1) to cur)
    val live = keep.flatMap { v =>
      val m = readManifestFull(v)
      m.dirs ++ m.tombstones.values.flatten ++ m.copied
    }.map(_.split('/').head).toSet
    val dd = new Path(dataDir)
    val doomedData =
      if (!fs.exists(dd)) Seq.empty
      else fs.listStatus(dd).map(_.getPath).toSeq
        .filter(p => !live.contains(p.getName))
    val doomedManifests = fs.listStatus(new Path(logDir)).map(_.getPath).toSeq
      .filter(_.getName.endsWith(".json"))
      .filter(_.getName.stripSuffix(".json").toLong < keep.head)
    (doomedData ++ doomedManifests).map(_.toString).sorted
  }

  def vacuum(keepVersions: Int = 3, tmpGraceMs: Long = 3600 * 1000L): Unit = {
    val cur = currentVersion()
    if (cur < 0) return
    val keep = (math.max(0, cur - keepVersions + 1) to cur)
    // tombstone sidecars referenced by kept manifests are as live as
    // the data dirs they subtract from
    val live = keep.flatMap { v =>
      val m = readManifestFull(v)
      m.dirs ++ m.tombstones.values.flatten ++ m.copied
    }
      // clustered entries name SUBDIRS (uuid/__cluster=v) — the GC unit
      // under data/ is the top-level uuid, live if ANY subdir is live
      .map(_.split('/').head).toSet
    val dd = new Path(dataDir)
    if (fs.exists(dd)) fs.listStatus(dd).map(_.getPath)
      .filter(p => !live.contains(p.getName))
      .foreach(p => fs.delete(p, true))
    fs.listStatus(new Path(logDir)).map(_.getPath)
      .filter(_.getName.endsWith(".json"))
      .filter(_.getName.stripSuffix(".json").toLong < keep.head)
      .foreach(p => fs.delete(p, true))
    // a writer killed between staging its manifest and the atomic
    // link/rename leaves a _tmp_ file no reader ever opens; GC it once
    // it is old enough that no LIVE commit attempt can still own it
    // (an in-flight writer's tmp is milliseconds old)
    val cutoff = System.currentTimeMillis() - tmpGraceMs
    fs.listStatus(new Path(logDir)).toSeq
      .filter(s => s.getPath.getName.startsWith("_tmp_") &&
        s.getModificationTime < cutoff)
      .foreach(s => fs.delete(s.getPath, true))
  }

  /** RESTORE: roll the table back to `version`'s content by committing
    * that snapshot's manifest AS A NEW VERSION — metadata-only (zero
    * data copied; the old dirs are re-referenced), history preserved
    * (the rolled-back versions stay time-travelable until vacuum), and
    * the restore itself shows up in the change feed like any commit.
    * Writer txn high-water marks are NOT rolled back — carried from
    * the current version — so a streaming writer's redelivered batch
    * still dedupes after a restore (Delta RESTORE's txn semantics).
    * Fails fast if vacuum already reclaimed any dir the target
    * snapshot references. */
  def restoreTo(version: Long): Long = {
    val m = readManifestFull(version) // throws if the manifest is gone
    (m.dirs ++ m.tombstones.values.flatten.toSeq.distinct ++ m.copied)
      .foreach { d =>
      require(fs.exists(new Path(dirPath(d))),
        s"cannot restore $root to v$version: data dir $d was vacuumed")
    }
    commit(s"RESTORE v$version") { (cur, _) =>
      if (cur == version) None // restoring to the present: no-op
      else {
        // constraints roll back WITH the restored metadata (the restored
        // data was validated against them); a writer-declared constraint
        // new to that version still gates the restored dirs first. The
        // txn marks are the head's: commit stamps them over `m`'s
        enforceChecksOnEntries(m, addedChecks(m.checks))
        Some(m.copy(checks = mergedChecks(m.checks)))
      }
    }
  }

  /** SHALLOW CLONE: create a new table at `destRoot` whose v0 manifest
    * REFERENCES this table's data dirs by absolute path — zero bytes
    * copied, however large the source (Delta's `CLONE ... SHALLOW`).
    * The clone then evolves independently: its appends/merges write
    * under its own root, and a [[compact]] rewrites everything locally
    * — the standard "materialize the clone" move. Skipping stats,
    * Bloom bits, and CHECK constraints are carried (keyed by the same
    * absolute dirs); writer txn marks are NOT — a clone is a new table
    * with its own exactly-once history.
    *
    * Caveat (same as Delta): the source's [[vacuum]] does not know
    * about clones — reclaiming a dir a clone still references breaks
    * that clone's reads. Retention policy must cover clone lifetimes,
    * or the clone must be compacted first. */
  def shallowCloneTo(destRoot: String, version: Long = -1L): TxLog = {
    val v = if (version >= 0) version else currentVersion()
    require(v >= 0, s"TxLog table at $root has no commits to clone")
    val m = readManifestFull(v)
    (m.dirs ++ m.tombstones.values.flatten.toSeq.distinct ++ m.copied)
      .foreach { d =>
      require(fs.exists(new Path(dirPath(d))),
        s"cannot clone $root@v$v: data dir $d was vacuumed")
    }
    val dest = TxLog(spark, destRoot, statsCols, bloomCols)
    require(!dest.exists(), s"clone destination $destRoot already has commits")
    def abs(d: String): String = dirPath(d)
    // tombstone sidecars clone by absolute reference too; their (file,
    // row) content stays valid because the clone reads the SAME source
    // files the addresses were captured from
    val cloned = Manifest(m.partCol, m.stats,
      m.entries.map { case (d, t) => (abs(d), t) },
      m.ranges.map { case ((d, c), r) => (abs(d), c) -> r },
      Map.empty, // fresh txn history
      m.blooms.map { case ((d, c), b) => (abs(d), c) -> b },
      m.checks,
      m.tombstones.map { case (d, ts) => abs(d) -> ts.map(abs) },
      m.colMap, m.retired, props = m.props) // same visible schema + props
    require(dest.tryCommitManifest(0L, manifestLines(cloned), s"CLONE $root@v$v"),
      s"clone destination $destRoot was committed concurrently")
    dest
  }
}

object TxLog {
  /** Table property that turns on IN-COMMIT TIMESTAMPS (Delta's
    * `delta.enableInCommitTimestamps`): each later manifest records
    * its own commit instant, monotone past its parent's, so
    * TIMESTAMP AS OF / DESCRIBE HISTORY survive file copies,
    * mtime-coarse filesystems, and writer clock skew. */
  val IctProp = "graft.inCommitTimestamps"

  /** Table property: default `VACUUM … RETAIN n VERSIONS` count when
    * the statement omits the RETAIN clause. */
  val VacuumRetainProp = "graft.vacuum.retainVersions"

  /** Target on-disk bytes of one written data file: the optimized
    * write's file sizing and the compaction dirs' bucket size. */
  final val TargetFileBytes: Long = 128L << 20

  /** Bits of every per-dir Bloom filter a commit writes (readers derive
    * each filter's geometry from its manifest hex). */
  private final val BloomBits = 4096

  /** The entries a partial [[TxLog!.pack]] rewrites: those of dirs
    * carrying packing debt — under `targetBytes` on disk (unless
    * `dvOnly`) or carrying deletion vectors — whose partition tag is in
    * `parts` (every tag when empty). */
  private final case class Debt(targetBytes: Long, parts: Seq[String], dvOnly: Boolean)

  /** How [[TxLog!.pack]] cuts the rows it rewrites into dirs. */
  private sealed trait Cut
  /** By range on the partition column, else the first stats column,
    * into one dir per `targetBytes` of input (at least one). */
  private final case class BySize(targetBytes: Long) extends Cut
  /** By range along the z-curve of `cols` into `n` dirs. */
  private final case class ByZOrder(cols: Seq[String], n: Int) extends Cut

  /** Parsed stats for the optimizer's scan-prune rule, assembled
    * across manifest versions (dir stats are immutable) and cached per
    * (root, currentVersion) so repeated optimizer passes pay one
    * manifest walk per table version. */
  private[pipeline] final case class ScanStatsView(
      types: Map[String, String],
      colMap: Seq[(String, String)],
      ranges: Map[(String, String), (String, String)],
      blooms: Map[(String, String), String])

  private[pipeline] val scanStatsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), ScanStatsView]()

  /** Size-capped LRU metadata cache (access-ordered LinkedHashMap
    * behind its own lock): a long-lived driver process touching many
    * tables and versions holds BOUNDED memory — entries past capacity
    * evict least-recently-used, and a miss merely re-reads a tiny
    * manifest header/footer. Plain lock, not striping: entries are
    * hit on the driver during plan/metadata resolution, never in a
    * hot executor path. */
  private[pipeline] final class BoundedCache[K, V >: Null <: AnyRef](capacity: Int) {
    private val m = new java.util.LinkedHashMap[K, V](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        size() > capacity
    }
    def get(k: K): V = m.synchronized(m.get(k))
    def put(k: K, v: V): Unit = m.synchronized { m.put(k, v); () }
    def removeIf(p: K => Boolean): Unit = m.synchronized {
      val it = m.keySet.iterator()
      while (it.hasNext) if (p(it.next())) it.remove()
    }
    def clear(): Unit = m.synchronized(m.clear())
  }

  /** Process-wide (root, version) → RECORDED commit instant. Only
    * in-commit (ICT) instants cache — they are immutable once the
    * manifest publishes; mtime-derived instants are not (copies and
    * migrations legitimately move them, and the raw clock must see
    * that). Vacuumed versions never get probed ([[TxLog.versionAsOf]]
    * resolves over surviving versions only), so stale entries for
    * deleted manifests are harmless — and bounded: the cache evicts
    * LRU past ~64k entries (≈ a few MB) instead of growing for the
    * life of the process. */
  private[pipeline] val instantCache =
    new BoundedCache[(String, Long), java.lang.Long](65536)

  /** Header reads [[TxLog.commitInstant]] performed (cache misses) —
    * test instrumentation for the bounded-read time-travel contract. */
  private[graft] val instantReads = new java.util.concurrent.atomic.AtomicLong

  /** EVERY manifest-header open (instant resolution, history rows,
    * sidecar refresh/spot-checks) — test instrumentation for the
    * checkpoint-sidecar read-count contract. */
  private[graft] val headerReads = new java.util.concurrent.atomic.AtomicLong

  /** Lost optimistic races after which a commit gives up (see
    * [[TxLog!.commit]]). */
  private[pipeline] final val MaxRaceRetries = 5

  /** History-checkpoint refresh cadence: every N-th winning commit
    * extends `_txlog/_history` (see [[TxLog!.maybeRefreshHistorySidecar]]). */
  private[pipeline] final val SidecarEvery = 10

  /** (root, coverage-window) markers for clock-cache priming — one
    * sidecar read per window per process, purged with the other
    * metadata caches on a same-root commit. */
  private[pipeline] val sidecarPrimed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Long)]()

  /** Process-wide (root, version) → sorted property set — same
    * immutability argument and same purge discipline as
    * [[TxLog.instantCache]]; LRU-bounded (property sets are bigger
    * than instants, so the cap is lower). */
  private[pipeline] val propsCache =
    new BoundedCache[(String, Long), Seq[(String, String)]](4096)

  /** A commit of `version` at `root` invalidates cached metadata for
    * that version AND everything above it: a table deleted and
    * re-created at the same path restarts from version 0, and the old
    * incarnation's cached instants/properties must not serve the new
    * one (within this process; cross-process recreation is the same
    * out-of-scope coherence problem every snapshot cache has). In
    * normal forward operation the purged range is empty. */
  private[pipeline] def purgeMetaCaches(root: String, version: Long): Unit = {
    instantCache.removeIf(k => k._1 == root && k._2 >= version)
    propsCache.removeIf(k => k._1 == root && k._2 >= version)
    sidecarPrimed.removeIf(k => k._1 == root)
  }
}
