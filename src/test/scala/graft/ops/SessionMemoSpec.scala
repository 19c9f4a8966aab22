package graft.ops

import graft.{SparkEntry, SparkTestBase}
import graft.streaming.RunningTotals
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The session memo ([[SessionScopedCache.memo]]) against Spark: a hit
  * is confirmed by plan equality, not by a 32-bit hash; eviction never
  * breaks a frame still built on the evicted entry; an entry never
  * outlives the session it was built in; and a warm pass builds
  * nothing. */
class SessionMemoSpec extends SparkTestBase {
  import spark.implicits._

  private def writeEmbeddings(dir: String, n: Int): Unit =
    (1 to n).map(i => (i.toLong, s"l$i", Array(i.toFloat, 0f)))
      .toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

  test("two corpora whose plans share a semanticHash keep their own counts") {
    // "Aa" and "BB" have the same String hash, so the two paths — and
    // the analyzed plans reading them — hash alike
    val root = tmpDir("memo_collision")
    writeEmbeddings(s"$root/Aa", 5)
    writeEmbeddings(s"$root/BB", 7)
    val a = Tables.load(spark, s"$root/Aa", "embeddings")
    val b = Tables.load(spark, s"$root/BB", "embeddings")
    assert(a.queryExecution.analyzed.semanticHash() ===
      b.queryExecution.analyzed.semanticHash(), "the two plans no longer collide")
    assert(VectorQueries.corpusCount(spark, a) === 5L)
    assert(VectorQueries.corpusCount(spark, b) === 7L)
    // a re-read of the same path rebuilds an equal plan: a hit
    val before = SessionScopedCache.counters
    assert(VectorQueries.corpusCount(spark,
      Tables.load(spark, s"$root/Aa", "embeddings")) === 5L)
    assert(SessionScopedCache.counters.misses === before.misses)
  }

  test("an evicted checkpointed entry still serves the frames built on it") {
    val c = new SessionScopedCache[Int, DataFrame](1)
    val base = c.getOrCompute(1, () => true)(
      spark.range(0, 100).toDF().repartition(4).localCheckpoint(true))
    val derived = base.filter(col("id") % 2 === 0)
    c.getOrCompute(2, () => true)(spark.range(0, 10).toDF().localCheckpoint(true))
    assert(!c.contains(1), "capacity 1 kept both entries")
    // give any asynchronous block removal time to land before the frame
    // that still refers to the evicted entry runs
    Thread.sleep(1000)
    assert(derived.count() === 50L)
  }

  test("a second session replays running totals in its own session") {
    val first = RunningTotals.perUser(spark, sf("0.001")).collect().toSet
    val other = spark.newSession()
    val second = RunningTotals.perUser(other, sf("0.001")).collect().toSet
    assert(first.nonEmpty)
    assert(second === first)
  }

  test("a warm dedup_clusters pass adds no memo misses") {
    val q = SparkEntry.queries("dedup_clusters")
    val cold = q(spark, sf("0.001")).collect().toSet
    val before = SessionScopedCache.counters
    val warm = q(spark, sf("0.001")).collect().toSet
    val after = SessionScopedCache.counters
    assert(warm === cold)
    assert(after.misses === before.misses, s"warm pass missed: $before -> $after")
    assert(after.hits > before.hits)
  }
}
