package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** Hand-rolled SCD Type 1 MERGE (O1/O2) — Delta-equivalent semantics on
  * plain parquet tables, since the image ships no Delta/Iceberg jars.
  *
  * Reference semantics being reproduced
  * (`gold_dim_branch.ipynb:88162-88167`, cell 35):
  *   DeltaTable.merge(src, "trg.key = src.key")
  *     .whenMatchedUpdateAll().whenNotMatchedInsertAll()
  * i.e. every matched TARGET row is rewritten with its source row's
  * values (multiplicity of the target is preserved — two target rows
  * matching one source row both get updated), unmatched target rows are
  * kept, unmatched source rows are inserted. Delta errors when more than
  * one SOURCE row matches a single target row; `strict = true`
  * reproduces that check.
  *
  * Scale design: the merge is a single left join target⟕src on the key
  * + one anti join for inserts. `src` is the incremental batch — small
  * relative to target — so both joins broadcast src and the whole merge
  * is shuffle-free; the cost is one full rewrite of the target, which is
  * the same cost profile as Delta's copy-on-write for an unpartitioned
  * table. For 100 TB targets, partition the table and call
  * [[Upsert.merge]] per affected partition (the watermark design in
  * [[Ingest]] means incremental batches touch few partitions).
  *
  * Atomicity: [[overwriteAtomic]]'s staging + rename swap is atomic on
  * HDFS/local filesystems but not on object stores. [[TxLog]] supplies
  * the log-based commit protocol (rename-if-absent manifests, snapshot
  * isolation, time travel, optimistic concurrency) for deployments that
  * need Delta-style transactional guarantees on top of these merge
  * semantics.
  */
object Upsert {

  /** Delta parity: more than one `src` row per merge key is an error
    * (NULL keys group together), reported as `<what> has multiple rows
    * for key …` with the first offending group. */
  private[pipeline] def requireUniqueKeys(src: DataFrame, keys: Seq[String],
                                          what: String): Unit = {
    val d = src.groupBy(keys.map(col): _*).count()
      .filter(col("count") > 1).limit(1).collect()
    require(d.isEmpty, s"$what has multiple rows for key ${keys.mkString(",")}: ${d.head}")
  }

  /** Pure merge: returns the post-merge relation. Column sets of target
    * and src must match (SCD1 "UpdateAll" semantics need all columns);
    * on matching sets [[mergeEvolve]] evolves nothing, so it is the
    * merge.
    */
  def merge(target: DataFrame, src: DataFrame, keys: Seq[String],
            strict: Boolean = true): DataFrame = {
    require(target.columns.sorted.sameElements(src.columns.sorted),
      s"merge requires identical column sets; got target=${target.columns.toSeq} src=${src.columns.toSeq}")
    mergeEvolve(target, src, keys, strict)
  }

  /** [[merge]] with AUTOMATIC SCHEMA EVOLUTION (Delta's
    * `withSchemaEvolution()` / `mergeSchema` semantics):
    *   - a source-only column widens the result: matched rows take the
    *     source value, pre-existing unmatched rows read null;
    *   - a target-only column survives: matched rows KEEP the target
    *     value (an UPDATE * never nulls a column the source doesn't
    *     carry), inserted source rows null-fill it;
    *   - shared columns: matched rows take the source value, the rest
    *     keep their own (UpdateAll).
    * Column order: target columns first, new source columns appended —
    * additive, the same contract as [[TxLog]]'s evolving reads. The
    * join shape and `strict` are the object doc's. */
  def mergeEvolve(target: DataFrame, src: DataFrame, keys: Seq[String],
                  strict: Boolean = true): DataFrame = {
    require(keys.forall(k => target.columns.contains(k) && src.columns.contains(k)),
      s"merge keys ${keys.mkString(",")} must exist on both sides")
    if (strict) requireUniqueKeys(src, keys, "MERGE source")
    // Alias-qualified refs: target and src often share lineage (e.g. an
    // incremental batch derived from the target's own source), so plain
    // DataFrame column refs would hit the ambiguous-self-join check.
    val t = target.alias("__t")
    val s = broadcast(src).alias("__s")
    // plain (non-null-safe) equality: null keys never match, so
    // null-key source rows insert — matching the reference's `trg.k = src.k`.
    val cond = keys.map(k => col(s"__t.$k") === col(s"__s.$k")).reduce(_ && _)
    val matchedFlag = col(s"__s.${keys.head}").isNotNull
    val sSet = src.columns.toSet
    val tSet = target.columns.toSet
    val srcOnly = src.schema.fields.filterNot(f => tSet(f.name)).toSeq
    val updatedOrKept = t.join(s, cond, "left").select(
      target.schema.fields.toSeq.map { f =>
        if (sSet(f.name))
          when(matchedFlag, col(s"__s.${f.name}"))
            .otherwise(col(s"__t.${f.name}")).as(f.name)
        else col(s"__t.${f.name}").as(f.name) // target-only: UPDATE * keeps it
      } ++ srcOnly.map { f =>
        when(matchedFlag, col(s"__s.${f.name}"))
          .otherwise(lit(null).cast(f.dataType)).as(f.name)
      }: _*)
    val inserts = src.alias("__s2").join(
        target.select(keys.map(col): _*).alias("__t2"),
        keys.map(k => col(s"__s2.$k") === col(s"__t2.$k")).reduce(_ && _),
        "left_anti")
      .select(
        target.schema.fields.toSeq.map { f =>
          if (sSet(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        } ++ srcOnly.map(f => col(f.name)): _*)
    updatedOrKept.unionByName(inserts)
  }

  /** Partition-pruned MERGE into a Hive-partitioned parquet table —
    * [[merge]] at 100 TB shape. The target is laid out
    * `path/<partCol>=<v>/part-*.parquet`; the merge
    *
    *   1. collects the DISTINCT partition values present in `src`
    *      (partition METADATA — bounded by partitions-per-batch, never
    *      by data volume; the one sanctioned driver round-trip),
    *   2. reads ONLY those partitions of the target (the `isin` filter
    *      becomes a `PartitionFilters` entry on the scan — zero I/O on
    *      untouched partitions),
    *   3. merges, and
    *   4. rewrites ONLY the affected partition dirs via dynamic
    *      partition overwrite.
    *
    * An incremental batch touching 3 of 10,000 daily partitions costs
    * 3 partitions of read+write, not a table rewrite — the same file
    * pruning a Delta MERGE gets from partition predicates. `src` must
    * carry `partCol`; rows may land in partitions the target does not
    * have yet (they become inserts creating new dirs).
    *
    * PRECONDITION: `partCol` must be functionally dependent on the
    * merge keys (e.g. `event_date = date(hour_start)` with
    * `hour_start` a key). Otherwise a source row could "move" a key to
    * a different partition than its target row's — the pruned merge
    * would never see the old row and the key would end up duplicated.
    * Delta imposes the same constraint by requiring partition
    * predicates that cover all matched rows. Asserted-by-construction
    * at the call sites; the UpsertSpec property test pins the
    * equivalence with the unpartitioned merge under it. */
  def mergeIntoPartitionedPath(spark: SparkSession, path: String, src: DataFrame,
                               keys: Seq[String], partCol: String,
                               strict: Boolean = true): Unit = {
    require(src.columns.contains(partCol),
      s"merge source must carry partition column $partCol")
    val affected = src.select(partCol).distinct().collect().map(_.get(0)).toSeq
    if (affected.isEmpty) return
    val target = spark.read.parquet(path).filter(col(partCol).isin(affected: _*))
    // localCheckpoint: materialize the merged (affected-only) rows
    // before the overwrite pulls those dirs out from under the plan.
    val merged = merge(target, src, keys, strict)
      .repartition(math.max(1, affected.length), col(partCol))
      .localCheckpoint(true)
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try merged.write.mode("overwrite").partitionBy(partCol).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** SCD Type 2 merge: history-preserving dimension maintenance — the
    * companion to the reference's SCD1 `whenMatchedUpdateAll` (SURVEY
    * §2.3 O1), for dimensions where attribute history must survive.
    *
    * Contract: `target` carries the business key(s) + attributes +
    * the SCD bookkeeping columns `valid_from: string`, `valid_to:
    * string (null = open)`, `is_current: boolean`. `src` carries the
    * key(s) + the same attributes (no bookkeeping), all effective at
    * `effDate`. Semantics per source row:
    *
    *   - matched CURRENT row, any attribute differs (null-safely) →
    *     close the old version (`valid_to = effDate`,
    *     `is_current = false`) and insert a new open version;
    *   - matched CURRENT row, attributes identical → no-op (no spurious
    *     version churn);
    *   - key absent from target → insert a first open version;
    *   - historical (non-current) target rows always pass through.
    *
    * Scale: same shape as [[merge]] — one broadcast left join of the
    * current slice against the (small) batch plus one broadcast anti
    * join; history rows are untouched (at 100 TB, partition the table
    * by `is_current` or a `valid_to` bucket so the closed majority is
    * never read). Strict mode enforces Delta's one-source-row-per-key
    * rule, which SCD2 needs doubly: two versions for one key in one
    * batch would both open at `effDate`.
    */
  def scd2Merge(target: DataFrame, src: DataFrame, keys: Seq[String],
                effDate: String, strict: Boolean = true): DataFrame = {
    val book = Seq("valid_from", "valid_to", "is_current")
    require(book.forall(target.columns.contains),
      s"scd2Merge target must carry $book; got ${target.columns.toSeq}")
    require(book.forall(c => !src.columns.contains(c)),
      s"scd2Merge source must not carry $book; got ${src.columns.toSeq}")
    val attrs = src.columns.filterNot(keys.contains).toSeq
    require(attrs.nonEmpty && attrs.forall(target.columns.contains),
      s"scd2Merge source attrs $attrs must be target columns")
    if (strict) requireUniqueKeys(src, keys, "SCD2 source")
    val outCols = target.columns.toSeq
    val cur = target.filter(col("is_current")).alias("__t")
    val hist = target.filter(!col("is_current"))
    val s = broadcast(src).alias("__s")
    val cond = keys.map(k => col(s"__t.$k") === col(s"__s.$k")).reduce(_ && _)
    val matched = col(s"__s.${keys.head}").isNotNull
    // null-safe inequality on ANY attribute ⇒ a new version is due
    val changed = attrs.map(a => !(col(s"__t.$a") <=> col(s"__s.$a"))).reduce(_ || _)
    val joined = cur.join(s, cond, "left")
    // current rows: closed out when a differing source row matched,
    // untouched otherwise (unmatched or identical)
    val keptOrClosed = joined.select(outCols.map {
      case "valid_to" => when(matched && changed, lit(effDate))
        .otherwise(col("__t.valid_to")).as("valid_to")
      case "is_current" => when(matched && changed, lit(false))
        .otherwise(col("__t.is_current")).as("is_current")
      case c => col(s"__t.$c").as(c)
    }: _*)
    // new open versions for changed keys
    val reopened = joined.filter(matched && changed).select(outCols.map {
      case "valid_from" => lit(effDate).as("valid_from")
      case "valid_to" => lit(null).cast("string").as("valid_to")
      case "is_current" => lit(true).as("is_current")
      case c if attrs.contains(c) => col(s"__s.$c").as(c)
      case c => col(s"__t.$c").as(c)
    }: _*)
    // first versions for brand-new keys
    val inserts = src.alias("__s2").join(
        cur.select(keys.map(col): _*).alias("__t2"),
        keys.map(k => col(s"__s2.$k") === col(s"__t2.$k")).reduce(_ && _),
        "left_anti")
      .select(outCols.map {
        case "valid_from" => lit(effDate).as("valid_from")
        case "valid_to" => lit(null).cast("string").as("valid_to")
        case "is_current" => lit(true).as("is_current")
        case c => col(s"__s2.$c").as(c)
      }: _*)
    hist.unionByName(keptOrClosed).unionByName(reopened).unionByName(inserts)
  }

  /** CDC APPLY CHANGES: fold a change batch carrying an operation
    * column into the target — the three-clause MERGE
    * (`whenMatchedUpdate` / `whenMatchedDelete` / `whenNotMatchedInsert`)
    * a change-data-capture feed needs, which [[merge]]'s SCD1 two-clause
    * form cannot express. `changes` = target columns + `opCol` with
    * values `I`/`U`/`D`:
    *
    *   - `U` or `I` matching a target key → the target row is rewritten
    *     with the change row (upsert semantics — a CDC insert arriving
    *     for an existing key is a resync, not an error);
    *   - `D` matching → the target row is DROPPED;
    *   - `U`/`I` not matching → inserted;
    *   - `D` not matching → no-op (delete of an absent key).
    *
    * Scale: identical shape to [[merge]] — one broadcast left join plus
    * one broadcast anti join, no shuffle of the target;
    * [[TxLog.applyChangesPartitioned]] is the pruned composition for
    * partitioned targets.
    * Strict mode enforces one change row per key (a real CDC feed is
    * compacted to final-image-per-key upstream; two ops for one key in
    * one batch would make the fold order-dependent).
    */
  def applyChanges(target: DataFrame, changes: DataFrame, keys: Seq[String],
                   opCol: String = "op", strict: Boolean = true): DataFrame = {
    require(changes.columns.contains(opCol),
      s"applyChanges requires operation column '$opCol' on the change feed")
    require((changes.columns.toSet - opCol) == target.columns.toSet,
      s"applyChanges requires change columns = target columns + '$opCol'; " +
        s"got target=${target.columns.toSeq} changes=${changes.columns.toSeq}")
    if (strict) {
      val bad = changes.filter(!col(opCol).isin("I", "U", "D")).limit(1).collect()
      require(bad.isEmpty, s"applyChanges: unknown op in ${bad.headOption}")
      requireUniqueKeys(changes, keys, "applyChanges batch")
    }
    val t = target.alias("__t")
    val s = broadcast(changes).alias("__s")
    val cond = keys.map(k => col(s"__t.$k") === col(s"__s.$k")).reduce(_ && _)
    val matched = col(s"__s.${keys.head}").isNotNull
    val joined = t.join(s, cond, "left")
    val survivors = joined
      .filter(!matched || col(s"__s.$opCol") =!= "D")
      .select(target.columns.map(c =>
        when(matched, col(s"__s.$c")).otherwise(col(s"__t.$c")).as(c)).toSeq: _*)
    val inserts = changes.filter(col(opCol) =!= "D").alias("__s2")
      .join(target.select(keys.map(col): _*).alias("__t2"),
        keys.map(k => col(s"__s2.$k") === col(s"__t2.$k")).reduce(_ && _),
        "left_anti")
      .select(target.columns.map(col).toSeq: _*)
    survivors.unionByName(inserts)
  }

  /** Write `df` to `path` via staging-dir + rename swap. Safe when the
    * plan of `df` reads `path` itself. `partitionCols` Hive-partitions
    * the written layout (e.g. bronze by Year). */
  def overwriteAtomic(spark: SparkSession, df: DataFrame, path: String,
                      partitionCols: Seq[String] = Nil): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(path + "__staging")
    val old = new Path(path + "__old")
    fs.delete(staging, true)
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(staging.toString)
    fs.delete(old, true)
    if (fs.exists(p)) fs.rename(p, old)
    if (!fs.rename(staging, p))
      throw new java.io.IOException(s"atomic swap failed for $path")
    fs.delete(old, true)
  }
}
