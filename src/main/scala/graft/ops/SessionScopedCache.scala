package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** LRU-bounded memo with a dead-session sweep. The companion's
  * [[SessionScopedCache.memo]] registry is the engine's ONLY memo for
  * session-derived artifacts — trained quantizers, persisted serving
  * roots, checkpointed posting/pair/component frames, corpus counts,
  * staged stream sources, shared stream replays, the stream warm-up.
  * Every entry is keyed, scoped, bounded and stored the same way:
  *
  *   - KEY: the session (compared by reference), a `kind` naming the
  *     artifact, and the artifact's own key. A key derived from a
  *     DataFrame uses [[SessionScopedCache.plan]], the analyzed plan's
  *     `canonicalized` form: a hash match is confirmed by plan equality
  *     (the definition of `sameResult`), so two corpora whose plans
  *     merely hash alike never share an entry, while re-reading the
  *     same source rebuilds an equal plan and hits.
  *   - SCOPE: a new session never hits another session's entry (the
  *     key holds the session), and an entry whose session's context
  *     stopped is swept on the next access.
  *   - BOUND: one LRU capacity for the whole registry; a miss merely
  *     rebuilds, the cost any cold session pays.
  *   - EVICTION and the sweep only DROP THE REFERENCE. A frame built on
  *     an evicted entry keeps its RDD reachable, so a build still
  *     running over it never loses its blocks; ContextCleaner frees
  *     them once nothing refers to them.
  *   - STORAGE: a build that writes files takes its directory from
  *     [[SessionScopedCache.memoDir]] — unique to its entry within the
  *     JVM and emptied before the build, so a rebuilt entry never
  *     deletes files an older, evicted one still serves.
  *
  * Computation runs under the lock, and the monitor is reentrant, so a
  * memoized build may call other memos (pairs → postings, nnTop3 →
  * corpusCount, the served roots → the trained centroids, running
  * totals → staged source). Two concurrent builds of one artifact would
  * be strictly worse than a brief lock convoy on the driver; nothing
  * here sits in an executor hot path. A concurrent map's
  * `computeIfAbsent` cannot replace this: it throws on a recursive
  * update. */
private[graft] final class SessionScopedCache[K, V](capacity: Int) {
  private final case class Entry(alive: () => Boolean, v: V)
  private var hits, misses, evictions = 0L
  private val m = new java.util.LinkedHashMap[K, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, Entry]): Boolean = {
      val evict = this.size() > capacity
      if (evict) evictions += 1
      evict
    }
  }

  /** Sweep dead-session entries, then serve `k`, computing and
    * retaining the value (tagged with `alive`) on a miss. */
  def getOrCompute(k: K, alive: () => Boolean)(compute: => V): V = m.synchronized {
    val it = m.values.iterator()
    while (it.hasNext) {
      if (!it.next().alive()) { it.remove(); evictions += 1 }
    }
    val e = m.get(k)
    if (e != null) { hits += 1; e.v }
    else { misses += 1; val v = compute; m.put(k, Entry(alive, v)); v }
  }

  private[graft] def size: Int = m.synchronized(m.size())
  private[graft] def contains(k: K): Boolean = m.synchronized(m.containsKey(k))
  /** Hits, misses and evictions (LRU and dead-session sweep) so far. */
  private[graft] def counters: SessionScopedCache.Counters =
    m.synchronized(SessionScopedCache.Counters(hits, misses, evictions))
}

private[graft] object SessionScopedCache {
  final case class Counters(hits: Long, misses: Long, evictions: Long)

  /** Root of every scratch table the engine writes: `target/tmp` under
    * the JVM's working directory, i.e. the checkout it runs from, so two
    * checkouts' concurrent runs never create or delete each other's
    * tables. */
  val scratchRoot: String =
    new java.io.File(sys.props("user.dir"), "target/tmp").getAbsolutePath

  /** The registry's one bound. One `QueriesSmokeSpec` sweep (all 273
    * queries over one corpus) creates 19 distinct entries and one
    * `ops_mix` benchmark run 3 more, 22 in one session; 64 is the next
    * power of two above twice that, so a session over two corpora
    * still runs its warm passes without a rebuild. */
  private final val Capacity = 64

  private final case class Key(session: SparkSession, kind: String, key: Any)

  private val shared = new SessionScopedCache[Key, Any](Capacity)

  /** The registry's hits, misses and evictions so far. */
  private[graft] def counters: Counters = shared.counters

  /** The `kind` artifact for `key` in `spark`'s session, built by
    * `compute` on a miss. */
  def memo[V](spark: SparkSession, kind: String, key: Any)(compute: => V): V =
    shared.getOrCompute(Key(spark, kind, key), () => !spark.sparkContext.isStopped)(
      compute).asInstanceOf[V]

  private val dirSeq = new java.util.concurrent.atomic.AtomicLong()

  /** [[memo]] for a build that writes files: on a miss `build` gets a
    * fresh, empty directory under [[scratchRoot]] that belongs to this
    * entry alone. */
  def memoDir[V](spark: SparkSession, kind: String, key: Any)(build: String => V): V =
    memo(spark, kind, key) {
      val dir = s"$scratchRoot/memo/${kind}_${dirSeq.incrementAndGet()}"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      build(dir)
    }

  /** The key of a DataFrame-derived artifact: its canonicalized
    * analyzed plan, compared by equality. */
  def plan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed.canonicalized
}
