package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Queries covering every operator row of SURVEY §2 on the
  * driver-provided TPC-H-ish tables, each paired with its DuckDB oracle.
  *
  * Float determinism convention (applies to every pack): monetary /
  * measure sums go through an exact DECIMAL cast and only the final
  * scalar is cast back to DOUBLE — `CAST(sum(CAST(x AS DECIMAL)) AS
  * DOUBLE)` is bit-identical between Spark and DuckDB regardless of
  * aggregation order, while `sum(double)` is not (order-dependent ULPs).
  */
object ParityQueries {
  import SessionScopedCache.scratchRoot
  import Tables.load

  private val dec = DecimalType(18, 2)

  val all: Seq[Q] = Seq(

    // S1 — CSV source: header, quoted fields with embedded commas.
    // Round-trips nation through a CSV written under target/tmp and
    // reads it back with the univocity parser; the oracle recomputes the
    // same projection (incl. a comma-bearing derived string) from parquet.
    Q("s1_csv_source", (spark, dir) => {
      val out = s"$scratchRoot/s1_csv/nation"
      val df = load(spark, dir, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
          concat(col("n_name"), lit(", region "), col("n_regionkey")).as("quoted"))
      df.write.mode("overwrite").option("header", true).csv(out)
      spark.read.option("header", true).schema(df.schema).csv(out)
    }, oracle = Some("""
      SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
             concat(n_name, ', region ', n_regionkey) AS quoted
      FROM nation""")),

    // S2 — parquet scan + projection (column pruning reaches the scan).
    Q("s2_parquet_scan", (spark, dir) =>
      load(spark, dir, "region").select(col("r_regionkey"), col("r_name")),
      oracle = Some("SELECT r_regionkey, r_name FROM region")),

    // S3 — watermark incremental filter: only rows past the high-water
    // mark survive; the predicate is pushed into the parquet scan.
    Q("s3_incremental_watermark", (spark, dir) =>
      load(spark, dir, "orders")
        .filter(col("o_orderdate") > lit("1997-06-30").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate").cast("date").as("o_day")),
      oracle = Some("""
      SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_day
      FROM orders WHERE o_orderdate > TIMESTAMP '1997-06-30 00:00:00'""")),

    // S4 — SQL-over-files: query the parquet path directly
    // (reference: select … from parquet.`abfss://…/carsales`).
    Q("s4_sql_over_files", (spark, dir) =>
      spark.sql(s"SELECT p_partkey, p_brand FROM parquet.`$dir/part.parquet` WHERE p_size >= 25"),
      oracle = Some("SELECT p_partkey, p_brand FROM part WHERE p_size >= 25")),

    // S7/S8/S9 — catalog DDL + existence probe + catalog table scan.
    Q("s9_catalog_scan", (spark, dir) => {
      spark.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      load(spark, dir, "supplier").createOrReplaceTempView("graft_supplier_v")
      require(spark.catalog.tableExists("graft_supplier_v"))
      spark.table("graft_supplier_v").select(col("s_suppkey"), col("s_name"))
    }, oracle = Some("SELECT s_suppkey, s_name FROM supplier")),

    // R1/R2 — SELECT DISTINCT over a projection (dim natural-key dedup).
    Q("r1_distinct_projection", (spark, dir) =>
      load(spark, dir, "customer").select(col("c_nationkey"), col("c_mktsegment")).distinct(),
      oracle = Some("SELECT DISTINCT c_nationkey, c_mktsegment FROM customer")),

    // R4 — empty-relation seed: `where 1=0` must collapse to an empty
    // LocalRelation with the right schema (ConstantFolding +
    // PruneFilters + PropagateEmptyRelation), then union back.
    Q("r4_empty_seed", (spark, dir) => {
      val r = load(spark, dir, "region")
      val seed = r.select(col("r_regionkey"), col("r_name")).filter(lit(1) === lit(0))
      seed.union(r.select(col("r_regionkey"), col("r_name")))
    }, oracle = Some("""
      SELECT r_regionkey, r_name FROM region WHERE 1=0
      UNION ALL SELECT r_regionkey, r_name FROM region""")),

    // R5/R6 — left join + IS NULL split: the "new rows" side
    // (customers with no orders — natural-key lookup miss).
    Q("r5_left_join_new_rows", (spark, dir) => {
      val c = load(spark, dir, "customer")
      val o = load(spark, dir, "orders").select(col("o_custkey")).distinct()
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .filter(col("o_custkey").isNull)
        .select(col("c_custkey"), col("c_name"))
    }, oracle = Some("""
      SELECT c_custkey, c_name FROM customer c
      LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
        ON c.c_custkey = o.o_custkey
      WHERE o.o_custkey IS NULL""")),

    // R5/R6 — the complementary IS NOT NULL split ("existing rows").
    Q("r6_left_join_existing_rows", (spark, dir) => {
      val c = load(spark, dir, "customer")
      val o = load(spark, dir, "orders").select(col("o_custkey")).distinct()
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .filter(col("o_custkey").isNotNull)
        .select(col("c_custkey"), col("c_mktsegment"))
    }, oracle = Some("""
      SELECT c_custkey, c_mktsegment FROM customer c
      LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
        ON c.c_custkey = o.o_custkey
      WHERE o.o_custkey IS NOT NULL""")),

    // R7 — ungrouped scalar max aggregate with cast
    // (reference: select max(cast(dim_date_key as int)) + 1 driver-side).
    Q("r7_scalar_max_agg", (spark, dir) =>
      load(spark, dir, "lineitem").agg(
        max(col("l_orderkey")).as("max_orderkey"),
        max(col("l_quantity").cast("int")).cast("long").as("max_qty_int"),
        count(lit(1)).as("n_rows")),
      oracle = Some("""
      SELECT max(l_orderkey) AS max_orderkey,
             CAST(max(CAST(l_quantity AS INT)) AS BIGINT) AS max_qty_int,
             count(*) AS n_rows
      FROM lineitem""")),

    // R8 — deterministic surrogate-key generation: maxKey offset +
    // row_number over the natural key (the engine's documented
    // refinement of monotonically_increasing_id, SURVEY §4.2).
    Q("r8_surrogate_keys", (spark, dir) => {
      // metaWindow: the distinct-brand frame is metadata-sized; the
      // production-scale path is KeyMode.Deterministic's GlobalRank
      load(spark, dir, "part").select(col("p_brand")).distinct()
        .withColumn("dim_key",
          (lit(100L) + row_number().over(graft.functions.GlobalRank
            .metaWindow(col("p_brand")).orderBy("p_brand"))).cast("long"))
        .select(col("dim_key"), col("p_brand"))
    }, oracle = Some("""
      SELECT CAST(100 + row_number() OVER (ORDER BY p_brand) AS BIGINT) AS dim_key,
             p_brand
      FROM (SELECT DISTINCT p_brand FROM part)""")),

    // R9/R10 — column-reorder projection + positional union (bag
    // semantics; the reference unions new ∪ existing by position).
    Q("r10_positional_union", (spark, dir) => {
      val n = load(spark, dir, "nation")
        .select(col("n_nationkey").cast("long").as("id"), col("n_name").as("name"))
      val s = load(spark, dir, "supplier")
        .select(col("s_suppkey").as("id"), col("s_name").as("name"))
      n.union(s)
    }, oracle = Some("""
      SELECT CAST(n_nationkey AS BIGINT) AS id, n_name AS name FROM nation
      UNION ALL SELECT s_suppkey, s_name FROM supplier""")),

    // R11 — multi-way left equi-join fact-key lookup: the fact-build
    // shape (one big table ⟕ several small dims, every dim broadcast).
    Q("r11_multiway_join", (spark, dir) => {
      val l = load(spark, dir, "lineitem")
      val p = broadcast(load(spark, dir, "part").select(col("p_partkey"), col("p_brand")))
      val s = broadcast(load(spark, dir, "supplier").select(col("s_suppkey"), col("s_name")))
      val o = broadcast(load(spark, dir, "orders").select(col("o_orderkey"), col("o_orderstatus")))
      l.join(p, l("l_partkey") === p("p_partkey"), "left")
        .join(s, l("l_suppkey") === s("s_suppkey"), "left")
        .join(o, l("l_orderkey") === o("o_orderkey"), "left")
        .select(col("l_orderkey"), col("l_linenumber"), col("p_brand"),
          col("s_name"), col("o_orderstatus"),
          col("l_extendedprice").cast(dec).cast("double").as("price"))
    }, oracle = Some("""
      SELECT l_orderkey, l_linenumber, p_brand, s_name, o_orderstatus,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price
      FROM lineitem
      LEFT JOIN part ON l_partkey = p_partkey
      LEFT JOIN supplier ON l_suppkey = s_suppkey
      LEFT JOIN orders ON l_orderkey = o_orderkey"""), bench = true),

    // R12 — derived scalar columns: split-prefix (model_category
    // analogue) + numeric division (RevPerUnit analogue).
    Q("r12_derived_columns", (spark, dir) =>
      load(spark, dir, "part").select(
        col("p_partkey"),
        split(col("p_type"), " ").getItem(0).as("type_category"),
        (col("p_retailprice") / col("p_size")).as("price_per_size")),
      oracle = Some("""
      SELECT p_partkey, split_part(p_type, ' ', 1) AS type_category,
             p_retailprice / p_size AS price_per_size
      FROM part""")),

    // R13 — literal expressions + constant predicate.
    Q("r13_literals", (spark, dir) =>
      load(spark, dir, "part").filter(col("p_size") > lit(40))
        .select(col("p_partkey"), lit(1L).as("flag"), lit("full").as("load_mode")),
      oracle = Some("""
      SELECT p_partkey, CAST(1 AS BIGINT) AS flag, 'full' AS load_mode
      FROM part WHERE p_size > 40""")),
  )
}
