package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end golden replay (SURVEY §5, FIXTURES §6): full load →
  * incremental 1 → incremental 2 → idempotence, with every BASELINE.md
  * correctness invariant asserted. Runs the real SalesPipeline against
  * the committed car-sales fixture (`src/test/resources/carsales/`,
  * generated and checked by `tools/carsales_fixture.py`), a stand-in
  * built to the documented shape of the reference's own CSVs — not
  * against those CSVs themselves. */
class PipelineSpec extends SparkTestBase {

  private lazy val root = tmpDir("pipeline_golden")
  private lazy val pipe = {
    val p = SalesPipeline(spark, root)
    p.run(carsales("SalesData.csv"))
    p
  }

  private def counts: Map[String, Long] =
    (DimensionBuilder.specs.map(_.name) :+ "factsales")
      .map(n => n -> pipe.table(n).count()).toMap

  test("full load reproduces every BASELINE row count") {
    assert(counts === Map(
      "dim_branch" -> 1836L, "dim_dealer" -> 267L, "dim_model" -> 277L,
      "dim_date" -> 1156L, "factsales" -> 1849L))
  }

  test("silver schema is the reference's 13 columns with exact types") {
    pipe // force full load
    val silver = Silver.read(spark, s"$root/warehouse/silver/carsales")
    assert(silver.schema === Schemas.silver)
  }

  test("derived columns match the reference's golden outputs") {
    pipe
    val silver = Silver.read(spark, s"$root/warehouse/silver/carsales")
    // RevPerUnit: long/long → double (13363978/2 = 6681989.0)
    val r = silver.filter(col("Revenue") === 13363978L && col("Units_Sold") === 2L)
    assert(r.head().getAs[Double]("RevPerUnit") === 6681989.0)
    // model_category = split prefix
    val m = silver.filter(col("Model_ID") === "Mah-M167")
    assert(m.head().getAs[String]("model_category") === "Mah")
  }

  test("gold schemas match the reference star schema") {
    pipe
    assert(pipe.table("dim_branch").schema === Schemas.dimBranch)
    assert(pipe.table("dim_date").schema === Schemas.dimDate) // Day/Month/Year dropped
    assert(pipe.table("factsales").schema === Schemas.factSales)
  }

  test("surrogate keys are contiguous 1..N on the natural-key order") {
    pipe
    val keys = pipe.table("dim_dealer").select("dim_dealer_key")
      .collect().map(_.getLong(0)).sorted
    assert(keys === (1L to 267L).toArray)
  }

  test("incremental batch 1: new entities inserted, existing keys untouched") {
    pipe
    val dealerKeysBefore = pipe.table("dim_dealer")
      .select("Dealer_ID", "dim_dealer_key").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    pipe.run(carsales("IncrementalSales.csv"))
    assert(counts === Map(
      "dim_branch" -> 1840L, "dim_dealer" -> 268L, "dim_model" -> 278L,
      "dim_date" -> 1158L, "factsales" -> 1853L))
    // no-hyphen model: category is the whole string
    val zyx = pipe.table("dim_model").filter(col("Model_ID") === "ZYXM13")
    assert(zyx.head().getAs[String]("model_category") === "ZYXM13")
    // existing surrogate keys unchanged
    val after = pipe.table("dim_dealer").select("Dealer_ID", "dim_dealer_key")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    dealerKeysBefore.foreach { case (k, v) => assert(after(k) === v) }
    // gold commits go through the transaction log: the pre-incremental
    // snapshot is still readable (time travel), one version back
    val log = pipe.catalog.txlog("gold", "dim_dealer")
    assert(log.currentVersion() >= 1)
    assert(log.snapshot(log.currentVersion() - 1).count() === 267L)
    assert(log.snapshot().count() === 268L)
    // and the SQL name reads the CURRENT snapshot (S9)
    assert(spark.sql("SELECT count(*) FROM gold.dim_dealer").head().getLong(0) === 268L)
  }

  test("incremental batch 2: SCD1 updates in place, counts and keys stable") {
    pipe.run(carsales("IncrementalSales.csv"))
    val keysBefore = pipe.table("dim_dealer").select("Dealer_ID", "dim_dealer_key")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    pipe.run(carsales("IncrementalSalesUpdate.csv"))
    val d = pipe.table("dim_dealer")
    assert(d.filter(col("DealerName").endsWith(" up")).count() === 3)
    // the quoted-comma dealer got its update through the CSV parser
    assert(d.filter(col("DealerName") === "Fisker, Karma Motors up").count() === 1)
    assert(counts("dim_dealer") === 268L && counts("factsales") === 1853L)
    val keysAfter = pipe.table("dim_dealer").select("Dealer_ID", "dim_dealer_key")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(keysAfter === keysBefore)
  }

  test("replaying a batch is a no-op (merge idempotence)") {
    pipe.run(carsales("IncrementalSalesUpdate.csv"))
    val before = counts
    val namesBefore = pipe.table("dim_dealer").select("DealerName")
      .collect().map(r => Option(r.getString(0)).getOrElse("")).sorted
    pipe.run(carsales("IncrementalSalesUpdate.csv"))
    assert(counts === before)
    val namesAfter = pipe.table("dim_dealer").select("DealerName")
      .collect().map(r => Option(r.getString(0)).getOrElse("")).sorted
    assert(namesAfter === namesBefore)
  }

  test("RunMode.ForceFull drops gold + watermark and reloads as initial") {
    // after the incremental batches above, a forced full load of the
    // original CSV must reproduce the pristine initial-load counts
    pipe.run(carsales("SalesData.csv"), RunMode.ForceFull)
    assert(counts === Map(
      "dim_branch" -> 1836L, "dim_dealer" -> 267L, "dim_model" -> 277L,
      "dim_date" -> 1156L, "factsales" -> 1849L))
  }

  test("RunMode.ForceIncremental fails fast without persisted state") {
    val fresh = SalesPipeline(spark, tmpDir("pipeline_forceinc"))
    intercept[IllegalArgumentException](
      fresh.run(carsales("SalesData.csv"), RunMode.ForceIncremental))
  }

  test("SQL registration survives multi-dir snapshots (append/merge) through the name registry") {
    import spark.implicits._
    val cat = GoldCatalog(spark, tmpDir("catalog_multidir"))
    cat.ensureDatabases()
    cat.saveAsTable(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "gold", "multi_t")
    assert(spark.sql("SELECT count(*) FROM gold.multi_t").head().getLong(0) === 2L)
    // an append makes the snapshot multi-dir; the SQL name must keep
    // resolving instead of silently dropping rows
    cat.txlog("gold", "multi_t").append(Seq((3L, "c")).toDF("id", "v"))
    cat.register("gold", "multi_t")
    assert(spark.sql("SELECT count(*) FROM gold.multi_t").head().getLong(0) === 3L)
    // a merge's new snapshot (still multi-dir: it rewrote only the dir
    // holding id 3) is what the next read sees
    cat.mergeInto("gold", "multi_t", Seq((3L, "C")).toDF("id", "v"), Seq("id"))
    assert(spark.sql("SELECT v FROM gold.multi_t WHERE id = 3").head().getString(0) === "C")
    cat.dropTable("gold", "multi_t")
  }

  test("SQL reads a gold commit made straight through the TxLog, with no re-registration") {
    import spark.implicits._
    val cat = GoldCatalog(spark, tmpDir("catalog_stale"))
    cat.ensureDatabases()
    cat.saveAsTable(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "gold", "stale_t")
    assert(spark.sql("SELECT count(*) FROM gold.stale_t").head().getLong(0) === 2L)
    cat.txlog("gold", "stale_t").append(Seq((3L, "c")).toDF("id", "v"))
    assert(spark.sql("SELECT count(*) FROM gold.stale_t").head().getLong(0) === 3L)
    cat.dropTable("gold", "stale_t")
  }

  test("a gold commit runs no catalog DDL: GoldCatalog.mergeInto costs what TxLog.merge costs") {
    import spark.implicits._
    val cat = GoldCatalog(spark, tmpDir("catalog_noddl"))
    cat.ensureDatabases()
    val seed = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val change = Seq((2L, "B"), (3L, "c")).toDF("id", "v")
    val plain = TxLog(spark, tmpDir("catalog_noddl_plain"))
    plain.overwrite(seed)
    cat.saveAsTable(seed, "gold", "noddl_t")
    // DDL shows up as a command node: CreateTable / CreateViewCommand /
    // DropTableCommand / … in the executed query's analyzed plan
    val ddl = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def record(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
        qe.analyzed.foreach { p =>
          if (p.nodeName.matches("(Create|Drop).*(Table|View).*")) ddl.add(p.nodeName)
        }
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = record(qe)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = record(qe)
    }
    val plainJobs = jobsOf(plain.merge(change, Seq("id")))
    spark.listenerManager.register(listener)
    val goldJobs = try jobsOf(cat.mergeInto("gold", "noddl_t", change, Seq("id")))
      finally spark.listenerManager.unregister(listener)
    assert(goldJobs === plainJobs)
    assert(ddl.isEmpty, s"catalog DDL during a gold commit: $ddl")
    assert(spark.sql("SELECT v FROM gold.noddl_t WHERE id = 2").head().getString(0) === "B")
    cat.dropTable("gold", "noddl_t")
  }

  test("a new session reads a gold table committed through GoldCatalog") {
    import spark.implicits._
    val cat = GoldCatalog(spark, tmpDir("catalog_newsession"))
    cat.ensureDatabases()
    cat.saveAsTable(Seq((1L, "a")).toDF("id", "v"), "gold", "newsess_t")
    cat.mergeInto("gold", "newsess_t", Seq((2L, "b")).toDF("id", "v"), Seq("id"))
    val other = spark.newSession()
    assert(other.sql("SELECT count(*) FROM gold.newsess_t").head().getLong(0) === 2L)
    cat.dropTable("gold", "newsess_t")
  }

  test("KeyMode.Faithful: unique keys above maxKey (reference mono-id semantics)") {
    import spark.implicits._
    val spec = DimensionBuilder.specs.find(_.name == "dim_dealer").get
    val silver = Seq(("D1", "Alpha"), ("D2", "Beta"), ("D3", "Gamma"))
      .toDF("Dealer_ID", "DealerName")
    val sink = Seq((5L, "D0", "Zero")).toDF("dim_dealer_key", "Dealer_ID", "DealerName")
    // plan() is src-driven: all three dealers are new (D0 stays in the
    // sink via the merge, not via plan), so 3 fresh keys, all unique
    // and above the sink's max key (5)
    val out = DimensionBuilder.plan(silver, sink, spec, KeyMode.Faithful)
      .select("dim_dealer_key").collect().map(_.getLong(0))
    assert(out.length === 3)
    assert(out.distinct.length === 3)
    assert(out.forall(_ > 5L))
  }

  test("replaying a batch commits no gold version") {
    // its own root: the replay must follow the batch's first load (an
    // empty batch leaves bronze empty, so a second replay reloads it)
    val p = SalesPipeline(spark, tmpDir("pipeline_replay_versions"))
    p.run(carsales("SalesData.csv"))
    p.run(carsales("IncrementalSalesUpdate.csv"))
    def versions = (DimensionBuilder.specs.map(_.name) :+ "factsales")
      .map(n => n -> p.catalog.txlog("gold", n).currentVersion()).toMap
    val before = versions
    p.run(carsales("IncrementalSalesUpdate.csv"))
    assert(versions === before)
  }
}
