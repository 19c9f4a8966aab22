package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per forked test
  * run; getOrCreate dedups across suites). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def sf(s: String): String = s"/root/testdata/sf$s"

  /** Path of a committed car-sales CSV (`SalesData.csv`,
    * `IncrementalSales.csv`, `IncrementalSalesUpdate.csv`), resolved
    * from the test classpath. The files live in
    * `src/test/resources/carsales/`: a stand-in for the reference's
    * own CSVs, built to the shape FIXTURES.md §1 documents and checked
    * by `tools/carsales_fixture.py --selftest`. */
  def carsales(file: String): String = {
    val url = Option(getClass.getResource(s"/carsales/$file"))
      .getOrElse(fail(s"car-sales fixture $file is not on the test classpath"))
    new java.io.File(url.toURI).getPath
  }
  /** Root of every test's scratch tables (see [[SparkTestBase.scratchRoot]]). */
  def scratchRoot: String = SparkTestBase.scratchRoot

  def tmpDir(name: String): String = {
    val d = s"$scratchRoot/test_$name"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
    d
  }

  /** Scoped session confs: set, run, restore (unset keys restored to
    * unset). The plan-shape pins use this to steer broadcast/CBO
    * selection through the STATISTICS path rather than query hints. */
  def withConf[T](pairs: (String, String)*)(f: => T): T = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SparkTestBase {
  /** The engine's scratch root ([[graft.ops.SessionScopedCache.scratchRoot]]):
    * `target/tmp` under the test JVM's working directory — sbt forks
    * the test JVM in the checkout it runs from. */
  val scratchRoot: String = graft.ops.SessionScopedCache.scratchRoot

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // session setup, not per-query mutation: legacy nanos-vintage
      // events.parquet reads as raw long (see Tables.loadEvents)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the engine's own extensions: native functions, as-of planning,
      // HOF rewrite, TxLog SQL DML — the production session shape
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // TypedImperativeAggregate heaps/sketches carry O(k) state per
      // group: the default 128-group fallback to SORT-based
      // aggregation re-introduces exactly the per-group sort the
      // bounded-heap operators exist to avoid (measured 2x on
      // sim_knn_classify at sf1 with 800 query groups)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
