package graft.dedup

import graft.SparkTestBase
import graft.pipeline.{TxLog, Upsert}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.util.Random

/** Randomized property tests (fixed seeds — deterministic): the
  * distributed algorithms must agree with simple single-machine
  * reference implementations on arbitrary inputs, not just the
  * fixtures. */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  /** Union-find reference for connected components. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical label = min member id; path-compress everything first
    parent.keys.toSeq.foreach(find)
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("DedupClusters equals union-find on 20 random graphs") {
    val rnd = new Random(42)
    (1 to 20).foreach { trial =>
      val n = 2 + rnd.nextInt(40)
      val m = 1 + rnd.nextInt(60)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        val expected = unionFind(edges)
        val got = DedupClusters.components(edges.toDF("id_a", "id_b"), "id_a", "id_b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === expected, s"trial $trial, edges=$edges")
      }
    }
  }

  test("DedupClusters broadcast and shuffle paths agree on a high-duplicate corpus") {
    // pathological shape for the broadcast guard: nearly every doc is
    // in a duplicate pair (label frame ≈ corpus), chain + clique mix
    val rnd = new Random(11)
    val chain = (0L until 300L).sliding(2).map(s => (s(0), s(1))).toSeq
    val extra = Seq.fill(200)((rnd.nextInt(1000).toLong + 1000L,
      rnd.nextInt(1000).toLong + 1000L)).filter { case (a, b) => a != b }
    val edges = (chain ++ extra).toDF("id_a", "id_b")
    val expected = unionFind(chain ++ extra)
    // broadcast path (default guard) and forced shuffle path
    // (maxBroadcastNodes = 0) must produce identical components
    Seq(2000000L, 0L).foreach { cutoff =>
      val got = DedupClusters.components(edges, "id_a", "id_b",
        maxBroadcastNodes = cutoff)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"maxBroadcastNodes=$cutoff")
    }
  }

  test("DedupClusters caches resolved components per (session, pair graph, params)") {
    val edges = ((0L until 50L).sliding(2).map(s => (s(0), s(1))).toSeq
      :+ (100L, 101L)).toDF("id_a", "id_b")
    // same pair-graph plan + same params → the SECOND call must return
    // the SAME resolved frame (cache hit: no second propagation loop)
    val first = DedupClusters.components(edges, "id_a", "id_b")
    val second = DedupClusters.components(edges, "id_a", "id_b")
    assert(first eq second, "identical (plan, params) must hit the session cache")
    // any param in the key (here the broadcast cutoff) must MISS — the
    // broadcast-vs-shuffle agreement test above depends on both paths
    // actually running
    val shuffled = DedupClusters.components(edges, "id_a", "id_b",
      maxBroadcastNodes = 0L)
    assert(!(first eq shuffled), "different loop params must not share an entry")
    // and the cached frame is the correct answer either way
    val expected = unionFind((0L until 50L).sliding(2).map(s => (s(0), s(1))).toSeq
      :+ (100L, 101L))
    assert(second.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === expected)
    assert(shuffled.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === expected)
  }

  test("Upsert.merge is idempotent on 10 random keyed frames") {
    val rnd = new Random(7)
    (1 to 10).foreach { trial =>
      val tgt = Seq.tabulate(5 + rnd.nextInt(20))(i => (i.toLong, rnd.nextInt(100)))
        .toDF("k", "v")
      val srcKeys = Random.shuffle((0 until 30).toList).take(5 + rnd.nextInt(8))
      val src = srcKeys.map(k => (k.toLong, rnd.nextInt(100) + 1000)).toDF("k", "v")
      val once = Upsert.merge(tgt, src, Seq("k"))
      val twice = Upsert.merge(once, src, Seq("k"))
      assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty,
        s"trial $trial not idempotent")
    }
  }

  test("Upsert.merge commutes across disjoint-key batches (10 random cases)") {
    val rnd = new Random(99)
    (1 to 10).foreach { trial =>
      val tgt = Seq.tabulate(10)(i => (i.toLong, rnd.nextInt(100))).toDF("k", "v")
      val keys = Random.shuffle((0 until 40).toList).take(12).map(_.toLong)
      val (k1, k2) = keys.splitAt(6)
      val b1 = k1.map(k => (k, rnd.nextInt(100) + 1000)).toDF("k", "v")
      val b2 = k2.map(k => (k, rnd.nextInt(100) + 2000)).toDF("k", "v")
      val ab = Upsert.merge(Upsert.merge(tgt, b1, Seq("k")), b2, Seq("k"))
      val ba = Upsert.merge(Upsert.merge(tgt, b2, Seq("k")), b1, Seq("k"))
      assert(ab.exceptAll(ba).isEmpty && ba.exceptAll(ab).isEmpty,
        s"trial $trial not commutative")
    }
  }

  test("TxLog.merge's snapshot equals Upsert.merge as a bag (10 random cases)") {
    val rnd = new Random(41)
    (1 to 10).foreach { trial =>
      val keys = if (trial % 2 == 0) Seq("k1", "k2") else Seq("k1")
      val evolve = trial % 3 == 0
      // keys from a small range (duplicate target keys), 1 in 8 NULL
      def key(hi: Int) = if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(hi).toLong)
      def rows(n: Int, hi: Int) =
        Seq.fill(n)((key(hi), key(hi), rnd.nextInt(100), s"w${rnd.nextInt(100)}"))
      // a multi-dir target: one overwrite, then up to two appends
      val t = TxLog(spark, tmpDir(s"prop_txmerge_$trial"))
      t.overwrite(rows(3 + rnd.nextInt(8), 12).toDF("k1", "k2", "v", "w"))
      (1 to rnd.nextInt(3)).foreach(_ =>
        t.append(rows(2 + rnd.nextInt(6), 12).toDF("k1", "k2", "v", "w")))
      // one source row per key tuple (NULL keys group together)
      val srcRows = rows(2 + rnd.nextInt(10), 18)
        .distinctBy(r => if (keys.size == 1) Seq(r._1) else Seq(r._1, r._2))
      // evolve: the source lacks target-only `w` and adds `x`
      val src =
        if (evolve) srcRows.map(r => (r._1, r._2, r._3 + 1000, r._4 + "x")).toDF("k1", "k2", "v", "x")
        else srcRows.map(r => (r._1, r._2, r._3 + 1000, r._4)).toDF("k1", "k2", "v", "w")
      val v0 = t.currentVersion()
      t.merge(src, keys, evolve = evolve)
      val want =
        if (evolve) Upsert.mergeEvolve(t.snapshot(v0), src, keys)
        else Upsert.merge(t.snapshot(v0), src, keys)
      val got = t.snapshot()
      assert(got.columns.toSeq === want.columns.toSeq, s"trial $trial")
      def bag(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
      assert(bag(got) === bag(want), s"trial $trial")
    }
  }
}
