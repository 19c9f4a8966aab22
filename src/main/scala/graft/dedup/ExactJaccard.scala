package graft.dedup

import graft.functions.TextFunctions
import graft.ops.SessionScopedCache
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact n-gram-shingle Jaccard via an inverted-index join — the
  * scalable shape for exact set-similarity:
  *
  *   explode (id, shingle) → self-equi-join on (block, shingle) →
  *   groupBy pair → |A∩B| → join sizes → jaccard.
  *
  * Unlike the naive all-pairs `array_intersect` (O(n²) intersections
  * whether or not documents share anything), the pair space here is
  * generated ONLY by co-occurring shingles: cost tracks Σ_shingle
  * C(df,2), i.e. the actual overlap structure. At 100 TB the remaining
  * hazard is hot shingles (stop-phrases) skewing the join — cap them
  * with `maxShingleDf` (drop shingles appearing in more documents; a
  * standard prefix-filter refinement, applied identically in the
  * oracle when used).
  */
object ExactJaccard {

  /** The materialized (id, blk, shingle) posting list of a corpus —
    * the inverted index every exact-similarity operator here joins on.
    * Memoized per (session, corpus plan, config) in
    * [[graft.ops.SessionScopedCache.memo]], so every caller in a
    * session shares one checkpointed build instead of re-shingling the
    * corpus (pair detection at 0.5, cluster edges, 0.3 Levenshtein
    * candidates).
    *
    * The index is stored HASH-PARTITIONED on the join keys (blk, s) at
    * a CORPUS-DERIVED partition count ([[postingParts]]) before the
    * checkpoint. Two scale problems this solves, both measured on the
    * r18 sf3→sf10 decade (dedup_minhash_estimate read 4.4–5.9× for
    * 3.33× data with provably linear candidate volume — max shingle
    * df 14):
    *
    *   - MAP parallelism: a checkpoint inherits its parent's
    *     partitioning, and the parent here is the documents scan — a
    *     single driver-layout parquet file, ≈9 splits at 1 GB. Every
    *     consumer's per-shingle work (the 4-md5 signature build, the
    *     shingle explode) then runs at SCAN parallelism regardless of
    *     corpus size, leaving most cores idle.
    *   - JOIN state: the self-join re-exchanged both sides into the
    *     session's FIXED shuffle-partition count, so per-task sort/
    *     hash state grew linearly with the corpus (the spill cliff at
    *     sf10: 25M rows into 32 sort tasks). Pre-partitioned on
    *     (blk, s), the self-join consumes the checkpoint's layout
    *     exchange-free at the derived width, so per-task state is
    *     BOUNDED by construction — the local stand-in for sizing
    *     spark.sql.shuffle.partitions to data volume on a cluster.
    *
    * At the bench/verify scales (sf ≤ 1) the derived count equals the
    * session's 32, so committed pins and plans are unchanged. */
  def postings(docs: DataFrame, idCol: String, textCol: String,
               blockCol: String, shingleN: Int = 3): DataFrame = {
    SessionScopedCache.memo(docs.sparkSession, "postings",
        (SessionScopedCache.plan(docs), s"$idCol|$textCol|$blockCol|$shingleN")) {
      val toks = docs.select(col(idCol).as("id"), col(blockCol).as("blk"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      val d = toks.select(col("id"), col("blk"),
        TextFunctions.shinglesFromTokens(col("toks"), shingleN).as("sh"))
      d.select(col("id"), col("blk"), explode(col("sh")).as("s"))
        .repartition(postingParts(docs), col("blk"), col("s"))
        .localCheckpoint(true)
    }
  }

  /** Partition count for a corpus's posting index: one partition per
    * ~2000 documents (≈100k posting rows at the corpora's ~50 shingles
    * per doc — small enough that a task's sort/hash state sits deep in
    * executor memory), floored at the session's shuffle-partition
    * setting (never LESS parallel than the session default) and capped
    * at 2048 (beyond which per-partition overheads dominate for any
    * corpus this engine meets locally; a real cluster raises the
    * session setting itself). Uses a parquet-metadata count — one
    * cheap job per cached postings build. */
  private def postingParts(docs: DataFrame): Int = {
    val session = docs.sparkSession.sessionState.conf.numShufflePartitions
    math.max(session, math.min(2048, (docs.count() / 2000L).toInt))
  }

  /** Asymmetric variant for INCREMENTAL dedup, over pre-built posting
    * lists: pair each document of the `exN` side against `exB` only
    * (never base×base — the base corpus was already deduped when it was
    * ingested). Cost tracks the batch's co-occurrence with the index,
    * not the corpus size — the shape a continuously-ingesting pipeline
    * runs per batch at 100 TB, with `exB` as the persistent inverted
    * index. Both sides can be filters over ONE shared [[postings]]
    * build.
    * @return (id_new, id_base, jaccard) with jaccard ≥ threshold,
    *         blocked by the postings' `blk` column. */
  def pairsAgainst(exN: DataFrame, exB: DataFrame,
                   threshold: Double = 0.5): DataFrame = {
    val inter = exN.alias("n")
      .join(exB.alias("b"),
        col("n.blk") === col("b.blk") && col("n.s") === col("b.s"))
      .groupBy(col("n.id").as("id_new"), col("b.id").as("id_base"))
      .agg(count(lit(1)).as("i"))
    val sizesN = exN.groupBy(col("id")).agg(count(lit(1)).as("nn"))
    val sizesB = exB.groupBy(col("id")).agg(count(lit(1)).as("nb"))
    inter
      .join(sizesN.select(col("id").as("id_new"), col("nn")), "id_new")
      .join(sizesB.select(col("id").as("id_base"), col("nb")), "id_base")
      .withColumn("jaccard",
        col("i").cast("double") / (col("nn") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_new"), col("id_base"), col("jaccard"))
  }

  /** @param maxShingleDf when set, shingles occurring in more than this
    *        many documents (within a block) are dropped from BOTH the
    *        index and the set sizes — i.e. Jaccard over the non-stop
    *        shingles. This bounds the worst bucket of the join at scale;
    *        `None` (default) keeps exact full-set semantics.
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold,
    *         pairs restricted to equal values of `blockCol` (e.g. lang).
    *
    * Memoized like [[postings]], plus the pair-space config. Four
    * operators run the IDENTICAL pair detection (near-dup report,
    * cluster edges, survivor election, duplicate-graph PageRank); the
    * candidate join + Jaccard filter is the expensive part, so the
    * checkpointed RESULT is what they must share — memoizing only the
    * postings still re-ran the join per caller. Entries are small by
    * construction (only pairs above threshold survive). */
  def pairs(docs: DataFrame, idCol: String, textCol: String, blockCol: String,
            shingleN: Int = 3, threshold: Double = 0.5,
            maxShingleDf: Option[Int] = None): DataFrame = {
    SessionScopedCache.memo(docs.sparkSession, "pairs", (SessionScopedCache.plan(docs),
        s"$idCol|$textCol|$blockCol|$shingleN|$threshold|$maxShingleDf")) {
      pairsUncached(docs, idCol, textCol, blockCol, shingleN, threshold,
        maxShingleDf).localCheckpoint(true)
    }
  }

  private def pairsUncached(docs: DataFrame, idCol: String, textCol: String,
                            blockCol: String, shingleN: Int, threshold: Double,
                            maxShingleDf: Option[Int]): DataFrame = {
    // Tokenize in its own projection (one regex split per row — see
    // [[TextFunctions.shinglesFromTokens]]), then materialize the
    // exploded posting list ONCE with localCheckpoint: the plan below
    // references it four times (both join sides + both size joins),
    // and without the checkpoint each reference re-runs the full
    // shingling scan — exactly what a real system avoids by
    // materializing the inverted index before self-joining it.
    val ex0 = postings(docs, idCol, textCol, blockCol, shingleN)
    val ex = maxShingleDf.fold(ex0) { cap =>
      val hot = ex0.groupBy(col("blk"), col("s"))
        .agg(count(lit(1)).as("df")).filter(col("df") > cap)
        .select(col("blk"), col("s"))
      ex0.join(hot, Seq("blk", "s"), "left_anti")
    }
    val inter = ex.alias("a")
      .join(ex.alias("b"),
        col("a.blk") === col("b.blk") && col("a.s") === col("b.s") &&
          col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("i"))
    // sizes over the SAME (possibly df-capped) shingle stream, so the
    // Jaccard denominator matches the intersection's universe
    val sizes = ex.groupBy(col("id")).agg(count(lit(1)).as("n"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), "id_b")
      .withColumn("jaccard",
        col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}
