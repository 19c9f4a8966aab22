package graft.dedup

import graft.ops.SessionScopedCache
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: duplicate PAIRS (from any detector —
  * exact, Jaccard, MinHash, SimHash) are edges of a graph whose
  * connected components are the duplicate clusters; the canonical
  * survivor per cluster is the minimum id.
  *
  * Algorithm: min-label propagation WITH pointer-doubling — every node
  * starts labeled with itself; each round takes the min of its own and
  * its neighbours' labels, then shortcuts `label ← label(label)` (the
  * label value is itself a node id, so one extra self-join jumps each
  * pointer two hops at once — the large-star/small-star idea).
  * Propagation alone converges in O(diameter) rounds, which silently
  * truncates on pathological chain graphs; with the shortcut the bound
  * is O(log diameter) and a maxIter of 20 covers diameters past 2^20.
  * Labels decrease monotonically, so the global label sum is a
  * convergence metric (one scalar to the driver per round — the only
  * driver traffic); exhausting maxIter un-converged throws rather than
  * returning partial components.
  */
object DedupClusters {

  /** Connected components of the pair graph, memoized per (session,
    * pair-graph plan, config) in [[graft.ops.SessionScopedCache.memo]]. Two
    * declared operators (`dedup_clusters`, `dedup_survivor_quality`)
    * resolve components of the IDENTICAL memoized pair graph; without
    * this the second runs the whole label-propagation loop — its
    * per-round driver actions included — again for the same answer.
    * The memoized value is the loop's final `localCheckpoint`ed label
    * frame, so a hit is a cached-RDD scan, not a lineage replay. As
    * with every memo here, the inputs are assumed immutable within a
    * session (a deployment over mutating inputs keys by table VERSION
    * instead, as the TxLog-backed caches do).
    *
    * @param pairs edge list (undirected, one row per pair)
    * @param numPartitions parallelism for the iteration; 0 → derive
    *        from the session's shuffle partitions. The pair graph is
    *        orders of magnitude smaller than the corpus, so this stays
    *        modest to avoid empty-task overhead — raise it for
    *        genuinely large pair counts.
    * @param maxBroadcastNodes guard for the per-round broadcast of the
    *        label frame: dedup graphs normally satisfy "nodes in pairs
    *        ≪ corpus", but a pathological corpus where most documents
    *        are duplicates would blow past the broadcast threshold —
    *        above this node count the rounds fall back to shuffle
    *        (hash) joins, which are unconditionally safe.
    * @return (node, cluster_id) for every node appearing in a pair;
    *         cluster_id = min node id of the component */
  def components(pairs: DataFrame, aCol: String, bCol: String,
                 maxIter: Int = 20, numPartitions: Int = 0,
                 maxBroadcastNodes: Long = 2000000L): DataFrame = {
    SessionScopedCache.memo(pairs.sparkSession, "components", (SessionScopedCache.plan(pairs),
        s"$aCol|$bCol|$maxIter|$numPartitions|$maxBroadcastNodes")) {
      components0(pairs, aCol, bCol, maxIter, numPartitions, maxBroadcastNodes)
    }
  }

  private def components0(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int, numPartitions: Int,
                          maxBroadcastNodes: Long): DataFrame = {
    val spark = pairs.sparkSession
    // Materialize the (possibly expensive) pair detection ONCE and
    // DURABLY before iterating. cache() alone is evictable: under
    // memory pressure each propagation round would silently re-run the
    // whole upstream detector (e.g. the exact-Jaccard inverted-index
    // join), turning an O(diameter) loop into O(diameter × detection).
    // localCheckpoint truncates lineage and spills to disk instead of
    // recomputing.
    val p = pairs.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .cache() // referenced twice by the symmetrizing union below
    // size the iteration parallelism to the ACTUAL pair-graph size
    // (known cheaply once p is cached): dedup graphs are orders of
    // magnitude smaller than the corpus, and empty-task overhead
    // dominates rounds run at corpus-sized parallelism.
    val parts =
      if (numPartitions > 0) numPartitions
      else {
        val m = p.count()
        math.max(4, math.min(spark.sessionState.conf.numShufflePartitions,
          (m / 20000L).toInt + 4))
      }
    val edges = p
      .union(p.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .repartition(parts, col("a"))
      .localCheckpoint(true)
    p.unpersist()
    var labels = edges.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
      .repartition(parts, col("node"))
      .localCheckpoint(true)
    // coalesce guards the empty pair graph (sum over zero rows is null)
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum("label"), lit(0L))).head().getLong(0)
    val nodeCount = labels.count()
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = nodeCount == 0L
    // labels = one row per node IN A DUPLICATE PAIR — normally small
    // relative to the corpus, so broadcast keeps each round
    // shuffle-light; the guard falls back to hash joins when the label
    // frame is too big to ship to every executor.
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (nodeCount <= maxBroadcastNodes) broadcast(df) else df
    // one round: propagate labels ← min(self, neighbours), then
    // pointer-double labels ← label(label). localCheckpoint truncates
    // the per-round lineage so round N never replays rounds 1..N-1
    // (and keeps the shortcut's self-join from recomputing the
    // propagation twice).
    def step(ls: DataFrame): DataFrame = {
      val neighborMin = edges
        .join(maybeBroadcast(ls), edges("b") === ls("node"))
        .groupBy(col("a").as("node")).agg(min(col("label")).as("nmin"))
      val prop = ls.join(maybeBroadcast(neighborMin), Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        .localCheckpoint(true)
      // shortcut: every label is a node id, so label(label) is defined
      // and stays within the component; left join for the (root) nodes
      // whose label is themselves
      val lab2 = prop.select(col("node").as("pnode"), col("label").as("plabel"))
      prop.alias("p")
        .join(maybeBroadcast(lab2).alias("q"),
          col("p.label") === col("q.pnode"), "left")
        .select(col("p.node").as("node"),
          coalesce(col("q.plabel"), col("p.label")).as("label"))
        .localCheckpoint(true)
    }
    while (iter < maxIter && !converged) {
      // TWO rounds per convergence check: the check is a driver
      // action, and duplicate clusters converge in very few rounds —
      // halving the action count costs at most one extra (cheap) round
      val next = step(step(labels))
      val s = labelSum(next)
      labels = next
      converged = s == prevSum
      prevSum = s
      iter += 1
    }
    require(converged,
      s"connected components did not converge in ${2 * maxIter} rounds — raise maxIter")
    labels.select(col("node"), col("label").as("cluster_id"))
  }
}
