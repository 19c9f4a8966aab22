package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generic SCD1 dimension builder — the one algorithm the reference
  * copy-pastes across four notebooks (`gold_dim_branch.ipynb`,
  * `gold_dim_dealer.ipynb`, `gold_dim_model.ipynb`,
  * `gold_dim_date.ipynb`), implemented once (SURVEY §7.1 step 7).
  *
  * Pipeline per dim (operator ids from SURVEY §2):
  *   R1/R2  src  = silver.select(naturalKey, attrs).distinct()
  *   S8/R4  sink = existing dim | empty seed with the dim schema
  *   R5/R3  src LEFT JOIN sink on naturalKey (broadcast sink)
  *   R6     split: existing (key not null) / new (key null)
  *   R7     maxKey = max(sink.key) — kept distributed as a broadcast
  *          1-row frame, NOT collect()'d (the reference's
  *          `collect()[0][0]` at `gold_dim_branch.ipynb:60154-60160`
  *          is a driver round-trip per dim; a crossJoin(broadcast(max))
  *          keeps the plan lazy and cluster-side)
  *   R8     new keys = maxKey + global rank over naturalKey
  *          — deterministic, contiguous; a documented refinement of the
  *          reference's monotonically_increasing_id (SURVEY §4.2):
  *          mono-id's partition-striped gaps make golden tests
  *          impossible and risk key-range collisions across runs.
  *   R9/R10 final = new.select(reorder) UNION existing
  *   O1/O3  tableExists ? SCD1 merge : overwrite saveAsTable
  *
  * Scale notes: new-row key assignment uses the two-phase distributed
  * rank ([[graft.functions.GlobalRank]]) — fixed sampled range buckets
  * + local row_number + broadcast offsets — so even an initial full
  * load of a high-cardinality (user-id-like) dimension never funnels
  * through one task, and the keys stay contiguous and unique whatever
  * order the distinct() hands its rows over in. The sink side of the
  * R5 join is broadcast — dimension tables are the small side by
  * design. The only unavoidable shuffle is the
  * distinct() over the natural key, which is a partial+final
  * HashAggregate (map-side combine first).
  */
final case class DimSpec(name: String, dimKey: String, naturalKey: String,
                         attrs: Seq[String]) {
  def cols: Seq[String] = naturalKey +: attrs
  def allCols: Seq[String] = dimKey +: naturalKey +: attrs
}

/** Surrogate-key generation mode for new dimension rows. */
sealed trait KeyMode
object KeyMode {
  /** maxKey + row_number() over natural key: deterministic, contiguous,
    * replayable — the engine default (SURVEY §4.2 refinement). */
  case object Deterministic extends KeyMode
  /** The reference's literal semantics (`gold_dim_branch.ipynb:60233`):
    * maxKey + monotonically_increasing_id() + 1 — partition-striped ids,
    * so keys are unique but gap-ridden and NOT reproducible across
    * runs/partitionings. Offered as a drop-in fidelity flag; golden
    * replays require [[Deterministic]]. */
  case object Faithful extends KeyMode
}

object DimensionBuilder {

  val specs: Seq[DimSpec] = Seq(
    DimSpec("dim_branch", "dim_branch_key", "Branch_ID", Seq("BranchName")),
    DimSpec("dim_dealer", "dim_dealer_key", "Dealer_ID", Seq("DealerName")),
    DimSpec("dim_model", "dim_model_key", "Model_ID", Seq("model_category")),
    DimSpec("dim_date", "dim_date_key", "Date_ID", Seq.empty),
  )

  /** Pure plan: given silver and the current sink state, produce the
    * post-build dimension relation. No writes — unit-testable
    * ([[KeyMode.Deterministic]] runs one sampling job over the new rows
    * here, for [[graft.functions.GlobalRank]]'s bucket bounds). */
  def plan(silver: DataFrame, sink: DataFrame, spec: DimSpec,
           keyMode: KeyMode = KeyMode.Deterministic): DataFrame = {
    // R1/R2 — distinct natural key + attributes
    val src = silver.select(spec.cols.map(col): _*).distinct()

    // R5/R3 — attach existing surrogate keys; broadcast the dim side
    val s = src.alias("src")
    val k = broadcast(sink.select(col(spec.dimKey), col(spec.naturalKey).as("__nk")))
      .alias("snk")
    val joined = s.join(k, col(s"src.${spec.naturalKey}") === col("snk.__nk"), "left")

    // R6 — existing rows keep their key, attrs refreshed from src (SCD1)
    val existing = joined.filter(col(spec.dimKey).isNotNull)
      .select((col(spec.dimKey) +: spec.cols.map(c => col(s"src.$c"))): _*)

    // R7 — scalar max as a broadcast 1-row frame (no driver collect)
    val maxKey = sink.agg(coalesce(max(col(spec.dimKey)), lit(0L)).as("__maxkey"))

    // R8 — surrogate keys for new rows (mode-dependent, see [[KeyMode]])
    val newRows = joined.filter(col(spec.dimKey).isNull)
      .select(spec.cols.map(c => col(s"src.$c")): _*)
    val fresh = keyMode match {
      case KeyMode.Deterministic =>
        // maxKey + two-phase distributed rank on the natural key:
        // deterministic, contiguous, AND scale-safe — a global
        // `row_number().over(Window.orderBy(nk))` would funnel every
        // new row through one task, which is exactly the 100× failure
        // mode on an initial load of a high-cardinality dimension.
        // [[GlobalRank.rowNumber]]'s only partition-less window runs
        // over the numParts-row offsets metadata.
        val parts = newRows.sparkSession.sessionState.conf.numShufflePartitions
        graft.functions.GlobalRank.rowNumber(newRows, "__rank", parts,
            Seq(col(spec.naturalKey)))
          .crossJoin(broadcast(maxKey))
          .withColumn(spec.dimKey, (col("__maxkey") + col("__rank")).cast("long"))
          .drop("__maxkey", "__rank")
      case KeyMode.Faithful =>
        // the reference's literal mono-id semantics (gap-ridden keys)
        newRows.crossJoin(broadcast(maxKey))
          .withColumn(spec.dimKey,
            (col("__maxkey") + monotonically_increasing_id() + lit(1L)).cast("long"))
          .drop("__maxkey")
    }

    // R9/R10 — reorder key first, positional union
    fresh.select(spec.allCols.map(col): _*)
      .union(existing.select(spec.allCols.map(col): _*))
  }

  /** R4 — zero-row seed establishing the sink schema on first run
    * (reference: `select 1 as key, … where 1=0`,
    * `gold_dim_branch.ipynb:43075-43077`). We seed from the declared
    * schema — same LocalRelation<empty> Catalyst collapses the
    * reference's folded filter into, minus the int-vs-long key quirk
    * (our seed types the key long on both paths; SURVEY §7.4 trap 3). */
  def emptySeed(spark: SparkSession, spec: DimSpec): DataFrame = {
    val schema = Schemas.dimSchema(spec.dimKey, spec.naturalKey,
      spec.attrs.filterNot(_ == spec.naturalKey)
        .map(a => org.apache.spark.sql.types.StructField(
          a, org.apache.spark.sql.types.StringType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Full build with I/O: O3 initial overwrite or O1 SCD1 merge. */
  def build(spark: SparkSession, catalog: GoldCatalog, silver: DataFrame,
            spec: DimSpec): Unit = {
    val exists = catalog.tableExists("gold", spec.name)
    val sink =
      if (exists) catalog.table("gold", spec.name)
      else emptySeed(spark, spec)
    val result = plan(silver, sink, spec)
    if (exists) {
      // O1 — SCD1 merge on the surrogate key, exactly the reference's
      // `merge(…, 'trg.dim_branch_key = src.dim_branch_key')`: batch
      // rows update-in-place / insert; sink rows outside the batch
      // stay. Committed through the table's transaction log — the
      // pre-merge snapshot stays time-travelable.
      catalog.mergeInto("gold", spec.name, result, Seq(spec.dimKey))
    } else catalog.saveAsTable(result, "gold", spec.name)
  }
}
