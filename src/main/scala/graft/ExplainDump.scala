package graft

/** Plan capture for the optimization rounds: write
  * `.explain("formatted")` of the named queries (or every declared
  * query with no args) to `<outDir>/<name>.txt`, in the
  * [[GraftSession]] the bench runs in, so the captured plan is the
  * plan the bench runs.
  *
  *   runMain graft.ExplainDump <outDir> [query ...]
  *
  * Captures the ANALYZED→physical plan via
  * `queryExecution.explainString`: the final action is never run, but
  * BUILDERS with eager steps still execute at construction time —
  * layout writes, `localCheckpoint(true)` materializations
  * (sim_recall_report, the dedup CC loop), session-cache fills — so a
  * full-suite dump is minutes, not a bench run, rather than zero work.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ExplainDump <outDir> [query ...]")
    val outDir = java.nio.file.Paths.get(args.head)
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpuCount())
    val names =
      if (args.length > 1) args.tail.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    // validate names up front: a typo aborts with the full list of
    // unknowns instead of throwing mid-dump after partial output
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val txt =
        try {
          val df = fn(spark, sfDir)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch {
          case e: Throwable => s"ERROR building $name: ${e.getMessage}"
        }
      java.nio.file.Files.write(outDir.resolve(s"$name.txt"), txt.getBytes)
      val nEx = "Exchange".r.findAllIn(txt).size
      println(f"$name%-38s exchanges=$nEx")
    }
    spark.stop()
  }
}
