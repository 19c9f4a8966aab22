package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.expressions.{CosineSimilarity, DotProduct, L2Squared, MinHashAgg, TopKAgg}

/** Session-extension entry point: registers the engine's native
  * functions and planner strategies at session build time, so a
  * cluster deployment enables them with
  * `--conf spark.sql.extensions=graft.GraftExtensions`
  * (no per-session registry calls needed):
  *
  *   - `cosine_sim(a, b)`   — codegen'd float-vector cosine
  *   - `l2_sq(a, b)`        — codegen'd float-vector squared L2
  *   - `dot_product(a, b)`  — codegen'd numeric-vector dot product
  *   - `minhash_agg(h, k)`  — one-pass MinHash sketch aggregate
  *   - `topk_agg(v, k)`     — bounded-heap grouped top-k aggregate
  *   - as-of join planning  — [[graft.plans.AsOfJoinStrategy]]
  *   - HOF vector rewrite   — [[graft.plans.VectorHofRewrite]]
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.VectorHofRewrite)
    // automatic data skipping for SQL reads of registered TxLog tables
    // (manifest range/Bloom stats prune scan dirs under a pushed-down
    // Filter — the PrepareDeltaScan analog)
    e.injectOptimizerRule(_ => graft.plans.TxLogSkipScans)
    // TxLog DDL statements (CREATE TABLE … USING graft, DESCRIBE
    // HISTORY, VACUUM, OPTIMIZE [ZORDER BY]) — the DeltaSqlParser
    // pattern: scoped statement forms intercepted, everything else
    // delegated to Spark's parser untouched
    e.injectParser((_, parser) => new graft.sql.GraftSqlParser(parser))
    // MERGE INTO / UPDATE / DELETE / INSERT strings against registered
    // TxLog tables (graft.sql.TxLogSql.register), plus SELECT over them
    // with VERSION AS OF / TIMESTAMP AS OF time travel — the SQL face
    // of the transaction log. A registered name has no session-catalog
    // entry, so the built-in resolver leaves it (time-traveled or not)
    // unresolved for this rule.
    e.injectResolutionRule(session => graft.sql.TxLogSql.TxLogDmlRule(session))
    // Delta-shaped CDF + history table-valued functions over registered
    // TxLog tables: table_changes('t', from, to) / txlog_history('t')
    e.injectTableFunction((
      new FunctionIdentifier("table_changes"),
      new ExpressionInfo(graft.sql.TxLogSql.getClass.getName, "table_changes"),
      (exprs: Seq[Expression]) => graft.sql.TxLogSql.tableChangesPlan(exprs)))
    e.injectTableFunction((
      new FunctionIdentifier("txlog_history"),
      new ExpressionInfo(graft.sql.TxLogSql.getClass.getName, "txlog_history"),
      (exprs: Seq[Expression]) => graft.sql.TxLogSql.historyPlan(exprs)))
    e.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 2)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "INTERNAL_ERROR",
            messageParameters =
              Map("message" -> s"dot_product expects 2 arguments, got ${exprs.length}"))
        DotProduct(exprs.head, exprs(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 2)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "INTERNAL_ERROR",
            messageParameters =
              Map("message" -> s"cosine_sim expects 2 arguments, got ${exprs.length}"))
        CosineSimilarity(exprs.head, exprs(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("l2_sq"),
      new ExpressionInfo(classOf[L2Squared].getName, "l2_sq"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 2)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "INTERNAL_ERROR",
            messageParameters =
              Map("message" -> s"l2_sq expects 2 arguments, got ${exprs.length}"))
        L2Squared(exprs.head, exprs(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("minhash_agg"),
      new ExpressionInfo(classOf[MinHashAgg].getName, "minhash_agg"),
      (exprs: Seq[Expression]) => MinHashAgg.fromExprs(exprs)))
    e.injectFunction((
      new FunctionIdentifier("topk_agg"),
      new ExpressionInfo(classOf[TopKAgg].getName, "topk_agg"),
      (exprs: Seq[Expression]) => TopKAgg.fromExprs(exprs)))
  }
}
