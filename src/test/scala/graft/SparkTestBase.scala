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

  /** Managed-table dir of table `t` in this session's
    * `spark.sql.warehouse.dir` (resolved against the working directory):
    * a previous JVM's dirs survive DROP TABLE in a new session. */
  def warehouseDir(t: String): java.io.File =
    new java.io.File(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, t)

  def tmpDir(name: String): String = {
    val d = s"$scratchRoot/test_$name"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
    d
  }

  /** Number of Spark jobs `f` starts (the listener bus is drained on
    * both sides, so no earlier job is counted and no job of `f` is
    * missed). */
  def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.graft.GraftCoreBridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try { f; org.apache.spark.graft.GraftCoreBridge.drainListenerBus(sc) }
    finally sc.removeSparkListener(l)
    n.get
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

  /** The production session shape ([[graft.GraftSession]]) on 8 cores. */
  lazy val session: SparkSession = graft.GraftSession.local(8)
}
