package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-table access for the driver-provided TPC-H-ish data
  * (`TESTDATA.md`): one parquet per table under the given sf dir. */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The events table's `ts` physical type has varied across driver
    * data generations: TIMESTAMP(NANOS) (Spark 4 refuses it by default
    * — read raw nanos as long via the session conf
    * `spark.sql.legacy.parquet.nanosAsLong` and floor-divide to micros;
    * `/ 1000` through double would corrupt the low digits) or native
    * TIMESTAMP(MICROS) without zone (reads as TIMESTAMP_NTZ — cast to
    * the session zone, UTC everywhere here). Both paths yield the same
    * UTC-micros TimestampType column DuckDB and Arrow see, so oracle
    * comparisons line up regardless of the file's vintage.
    *
    * `nanosAsLong` is SESSION setup (set by [[graft.GraftSession]],
    * which every main and the test base build through), NOT
    * mutated here: a conf write inside a query body is a global side
    * effect on shared sessions (r6 verdict item 6). On a nanos-vintage
    * file under a session missing the conf, Spark's own
    * unsupported-nanos analysis error names the conf to set. */
  def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Footer probe: is `$dir/events.parquet`'s `ts` the legacy
    * TIMESTAMP(NANOS) vintage? Reads one parquet footer (no Spark scan,
    * no session conf needed) — streaming readers use this to pick the
    * matching explicit schema, since `readStream.schema(...)` cannot
    * adapt after the fact the way [[loadEvents]]'s inferred-schema
    * match does. */
  def eventsTsIsNanos(spark: SparkSession, dir: String): Boolean = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.hadoop.fs.Path
    val hconf = spark.sessionState.newHadoopConf()
    val p = new Path(s"$dir/events.parquet")
    val fs = p.getFileSystem(hconf)
    val file =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).map(_.getPath)
          .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
          .headOption.getOrElse(p)
      else p
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, hconf))
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      val ts = schema.getType(schema.getFieldIndex("ts"))
      ts.asPrimitiveType().getLogicalTypeAnnotation match {
        case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit == org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.NANOS
        case _ => false
      }
    } finally reader.close()
  }

  /** Register every table as a temp view for SQL-path queries (S4/S9). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") loadEvents(spark, dir) else load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
}
