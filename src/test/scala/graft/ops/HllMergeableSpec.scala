package graft.ops

import graft.{SparkEntry, SparkTestBase}

/** `agg_hll_mergeable`'s oracle row must not depend on how the shuffle
  * splits the corpus: the union of per-source HLL sketches and the
  * one-pass sketch both estimate sf0.01's 500 distinct doc_ids within
  * their bands at every partition count. */
class HllMergeableSpec extends SparkTestBase {
  test("agg_hll_mergeable reads its oracle row at 1, 3, 4, 8 and 17 shuffle partitions") {
    for (n <- Seq(1, 3, 4, 8, 17))
      withConf("spark.sql.shuffle.partitions" -> n.toString) {
        val rows = SparkEntry.queries("agg_hll_mergeable")(spark, sf("0.01"))
          .collect().toSeq.map(_.toSeq)
        assert(rows === Seq(Seq(500L, true, true)), s"at $n shuffle partitions")
      }
  }
}
