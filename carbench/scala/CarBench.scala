package carbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.pipeline._

/** Cumulative Spark counters fed by a listener. `busyMs` is the wall time
  * during which at least one job was running, from the scheduler's own
  * event timestamps, so span time minus busy time is driver-only time. */
final class Counters extends SparkListener {
  private val jobs, stages, tasks, cpuNs, gcMs, shuffleWrite, spill,
    recordsWritten, bytesWritten = new AtomicLong
  private var active = 0
  private var activeSince = 0L
  private var busyMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    synchronized {
      if (active == 0) activeSince = e.time
      active += 1
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    active -= 1
    if (active == 0) busyMs += e.time - activeSince
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
      bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  /** Counter values at `nowMs` (epoch ms); call after draining the bus. */
  def snap(nowMs: Long): Map[String, Double] = {
    val busy = synchronized(busyMs + (if (active > 0) nowMs - activeSince else 0L))
    Map(
      "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
      "tasks" -> tasks.get.toDouble, "task_cpu_s" -> cpuNs.get / 1e9,
      "gc_s" -> gcMs.get / 1e3, "shuffle_write_mb" -> shuffleWrite.get / 1048576.0,
      "spill_mb" -> spill.get / 1048576.0, "records_written" -> recordsWritten.get.toDouble,
      "bytes_written" -> bytesWritten.get.toDouble, "busy_s" -> busy / 1e3)
  }
}

/** Peak heap used right after a collection, over all collections seen. */
object HeapPeak {
  @volatile var peakBytes = 0L

  def install(): Unit = {
    import scala.jdk.CollectionConverters._
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.openmbean.CompositeData
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          synchronized { if (used > peakBytes) peakBytes = used }
        }
    }
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }
  }
}

/** A span: one call into a layer, with the counter deltas over it. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long,
                      seconds: Double, deltas: Map[String, Double])

/** Records spans around layer calls when enabled; a plain call otherwise.
  * Spans stay in memory until the run ends. */
final class Tracer(spark: SparkSession, counters: Counters, val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List(-1)
  private var nextId = 0

  def drainedSnap(): Map[String, Double] = {
    org.apache.spark.graft.GraftCoreBridge.drainListenerBus(spark.sparkContext)
    counters.snap(System.currentTimeMillis())
  }

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s0 = drainedSnap()
      nextId += 1
      val id = nextId
      val parent = stack.head
      stack = id :: stack
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val secs = (System.nanoTime() - t0) / 1e9
        val s1 = drainedSnap()
        stack = stack.tail
        spans += Span(id, parent, name, w0, secs, s1.map { case (k, v) => k -> (v - s0(k)) })
      }
    }

  /** A zero-length span carrying counts measured by the caller. */
  def count(name: String, counts: Map[String, Double]): Unit =
    if (enabled) {
      nextId += 1
      spans += Span(nextId, stack.head, name, System.currentTimeMillis(), 0.0, counts)
    }
}

/** One timed operation: a full load, a batch, or a query run. */
final case class Op(name: String, kind: String, cycle: Int, seconds: Double,
                    cpuSeconds: Double, error: Option[String], extra: Map[String, String])

/** The JVM side of the benchmark: builds the session, warms up, then runs
  * one workload's cycles closed-loop (each operation starts when the
  * previous one ends) for at least `seconds` and `min_cycles`, and writes
  * timings, counters, spans and the locations of every output to a JSON
  * file. Output checks run afterwards in `carbench/run.py`. With
  * `setup_only=1` it stops after the warm-up, so set-up can be timed again.
  *
  * Args: `key=value` pairs — workload, trace (0|1), work (scratch dir),
  * out (result JSON), seconds, min_cycles, setup_only, and the workload's
  * own (see each [[Workload]]). */
object CarBench {

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val work = a("work")
    val cpus = Runtime.getRuntime.availableProcessors
    val res = new Result
    HeapPeak.install()
    res.num("jvm_start_epoch_s",
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1e3)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val tracer = new Tracer(spark, counters, a.getOrElse("trace", "0") == "1")
    res.num("session_ready_epoch_s", System.currentTimeMillis() / 1e3)
    try {
      val w = a("workload") match {
        case "carsales" => new CarSales(spark, a, tracer, res)
        case "ingest" => new IngestLoad(spark, a, tracer, res)
        case "ops_mix" => new OpsMix(spark, a, tracer, res)
        case x => throw new IllegalArgumentException(s"unknown workload $x")
      }
      // set-up ends here: JVM start and session; the first cycle is the
      // cold one
      res.num("setup_done_epoch_s", System.currentTimeMillis() / 1e3)
      if (a.getOrElse("setup_only", "0") != "1") {
        // host contention diagnostic of traced runs (the engine's own probe)
        if (tracer.enabled) {
          graft.Bench.calibrate(spark)
          res.num("probe_before_s", graft.Bench.calibrate(spark))
        }
        timedPart(spark, tracer, res) {
          val seconds = a.getOrElse("seconds", "0").toDouble
          val minCycles = a.getOrElse("min_cycles", "1").toInt
          val t0 = System.nanoTime()
          var k = 0
          while (k < minCycles || (System.nanoTime() - t0) / 1e9 < seconds) {
            w.cycle(k)
            k += 1
          }
        }
        w.finish()
        if (tracer.enabled) res.num("probe_after_s", graft.Bench.calibrate(spark))
      }
    } catch {
      case NonFatal(e) => res.str("fatal", describe(e))
    }
    res.num("heap_peak_mb", HeapPeak.peakBytes / 1048576.0)
    res.write(a("out"), tracer.spans.toSeq)
    spark.stop()
  }

  def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse("").split('\n').head}"
  }

  /** Times the timed part: counters and wall over the whole loop. */
  private def timedPart(spark: SparkSession, tracer: Tracer, res: Result)(body: => Unit): Unit = {
    val c0 = tracer.drainedSnap()
    res.num("timed_start_epoch_s", System.currentTimeMillis() / 1e3)
    val t0 = System.nanoTime()
    body
    res.num("wall_s", (System.nanoTime() - t0) / 1e9)
    val c1 = tracer.drainedSnap()
    c1.foreach { case (k, v) => res.num(s"spark.$k", v - c0(k)) }
  }

  /** One timed operation; a failure is recorded with its reason and the
    * loop goes on. */
  def timeOp(res: Result, tracer: Tracer, name: String, kind: String, cycle: Int,
             extra: => Map[String, String] = Map.empty)(body: => Unit): Unit = {
    val cpu0 = tracer.drainedSnap()("task_cpu_s")
    val t0 = System.nanoTime()
    val err = try { body; None } catch { case NonFatal(e) => Some(describe(e)) }
    val secs = (System.nanoTime() - t0) / 1e9
    val cpu = tracer.drainedSnap()("task_cpu_s") - cpu0
    res.ops += Op(name, kind, cycle, secs, cpu, err,
      try extra catch { case NonFatal(_) => Map.empty })
  }

  def duBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_: Path)).sum()
      finally s.close()
    }
  }

  /** Copies the parquet files under `from` (keeping partition dirs) to `to`. */
  def copyParquet(from: String, to: String): Unit = {
    val src = Paths.get(from)
    if (Files.exists(src)) {
      val s = Files.walk(src)
      try s.filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet")).forEach { f =>
        val dst = Paths.get(to).resolve(src.relativize(f).toString)
        Files.createDirectories(dst.getParent)
        Files.copy(f, dst)
      } finally s.close()
    }
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  /** The pipeline's data path for one batch: the `Ingest` and `Silver`
    * calls of `SalesPipeline.run`, in its order (watermark read, change
    * capture into bronze, silver rewrite, silver read, watermark write). */
  def ingestBatch(spark: SparkSession, root: String, csv: String, tracer: Tracer): Unit = {
    val bronzePath = s"$root/bronze/rawdata"
    val silverPath = s"$root/warehouse/silver/carsales"
    val watermarkPath = s"$root/state/watermark.txt"
    val wm = Ingest.readWatermark(watermarkPath)
    val newWm = tracer("Ingest")(Ingest.ingest(spark, csv, bronzePath, wm))
    val bronze = Ingest.readBronze(spark, bronzePath)
    tracer("Silver") {
      Silver.write(Silver.transform(bronze), silverPath)
      Silver.read(spark, silverPath)
    }
    newWm.foreach(Ingest.writeWatermark(watermarkPath, _))
  }

  private val goldTables = DimensionBuilder.specs.map(_.name) :+ "factsales"

  /** Where each gold table's current snapshot lives, for the checker. */
  def goldDirs(spark: SparkSession, root: String): Map[String, String] = {
    val cat = GoldCatalog(spark, s"$root/warehouse")
    goldTables.map(t => s"dirs.$t" -> cat.txlog("gold", t).snapshotDataDirs().mkString(",")).toMap
  }

  private def goldVersions(spark: SparkSession, root: String): Long = {
    val cat = GoldCatalog(spark, s"$root/warehouse")
    goldTables.map(t => cat.txlog("gold", t).currentVersion() + 1).sum
  }

  /** One pipeline batch. Untraced: `SalesPipeline.run`, as users call it.
    * Traced: the same public layer calls in the same order as
    * `SalesPipeline.run` in Auto mode, each inside a span. */
  def runBatch(spark: SparkSession, root: String, csv: String, tracer: Tracer): Unit =
    if (!tracer.enabled) SalesPipeline(spark, root).run(csv)
    else {
      val catalog = GoldCatalog(spark, s"$root/warehouse")
      val bronzePath = s"$root/bronze/rawdata"
      val silverPath = s"$root/warehouse/silver/carsales"
      val watermarkPath = s"$root/state/watermark.txt"
      val gold = s"$root/warehouse/gold"
      val v0 = goldVersions(spark, root)
      val b0 = duBytes(gold)
      catalog.ensureDatabases()
      val wm = Ingest.readWatermark(watermarkPath)
      val newWm = tracer("Ingest")(Ingest.ingest(spark, csv, bronzePath, wm))
      val bronze = Ingest.readBronze(spark, bronzePath)
      tracer("Silver") {
        Silver.write(Silver.transform(bronze), silverPath)
      }
      val silver = tracer("Silver")(Silver.read(spark, silverPath))
      DimensionBuilder.specs.foreach { spec =>
        val before = dimRows(catalog, spec)
        tracer(s"DimensionBuilder.${spec.name}") {
          DimensionBuilder.build(spark, catalog, silver, spec)
        }
        tracer.count("DimensionBuilder.new_keys",
          Map("count" -> (dimRows(catalog, spec) - before).toDouble))
      }
      tracer("FactBuilder")(FactBuilder.build(spark, catalog, silver))
      tracer("GoldCatalog") {
        DimensionBuilder.specs.foreach(s => catalog.register("gold", s.name))
        catalog.register("gold", "factsales")
      }
      newWm.foreach(Ingest.writeWatermark(watermarkPath, _))
      tracer.count("TxLog", Map("commits" -> (goldVersions(spark, root) - v0).toDouble,
        "bytes_written" -> (duBytes(gold) - b0).toDouble))
    }

  /** Rows of a dim (0 when absent), read outside the spans. */
  private def dimRows(catalog: GoldCatalog, spec: DimSpec): Long =
    if (!catalog.tableExists("gold", spec.name)) 0L
    else catalog.table("gold", spec.name).count()
}

/** A workload: timed cycles run back to back, the first one cold. */
trait Workload {
  def cycle(k: Int): Unit
  def finish(): Unit = ()
}

/** The pipeline's data path. Each cycle, into an empty root: a full load
  * of the history, a new batch, an update batch and a replay of the update
  * batch, each one timed operation through [[CarBench.ingestBatch]]. After
  * each operation (untimed) bronze and silver are copied aside for the
  * checker. Args: history, batches (the new and the update batch). */
final class IngestLoad(spark: SparkSession, a: Map[String, String], tracer: Tracer,
                       res: Result) extends Workload {
  private val work = a("work")
  private val Seq(newBatch, updateBatch) = a("batches").split(',').toSeq.take(2)
  private val plan = Seq((a("history"), "full_load", "full"), (newBatch, "new_batch", "new"),
    (updateBatch, "update_batch", "update"), (updateBatch, "replay", "replay"))
  def cycle(k: Int): Unit = {
    val root = s"$work/ingest/c$k"
    plan.zipWithIndex.foreach { case ((csv, name, kind), j) =>
      val check = s"$work/check/c$k/$j"
      CarBench.timeOp(res, tracer, name, kind, k, Map("csv" -> csv, "check" -> check)) {
        CarBench.ingestBatch(spark, root, csv, tracer)
      }
      CarBench.copyParquet(s"$root/bronze/rawdata", s"$check/bronze")
      CarBench.copyParquet(s"$root/warehouse/silver/carsales", s"$check/silver")
    }
    res.num("bytes_stored", CarBench.duBytes(root))
    CarBench.deleteTree(root)
  }
}

/** The paper's product: a full load of the history into an empty root,
  * then alternating new / update batches, then a replay of the last batch,
  * which must change nothing. Each is one timed operation. */
final class CarSales(spark: SparkSession, a: Map[String, String], tracer: Tracer,
                     res: Result) extends Workload {
  private val batches = a("batches").split(',').toSeq
  private val plan = (a("history"), "full_load", "full") +:
    batches.zipWithIndex.map { case (b, i) => (b, s"batch_$i", if (i % 2 == 0) "new" else "update") } :+
    ((batches.last, "replay", "replay"))

  def cycle(k: Int): Unit = {
    val root = s"${a("work")}/carsales/c$k"
    plan.foreach { case (csv, name, kind) =>
      CarBench.timeOp(res, tracer, name, kind, k, CarBench.goldDirs(spark, root) + ("csv" -> csv)) {
        CarBench.runBatch(spark, root, csv, tracer)
      }
    }
    res.num("bytes_stored", CarBench.duBytes(root))
    res.num("input_bytes", plan.map(p => Files.size(Paths.get(p._1))).sum.toDouble)
  }
}

/** SparkEntry queries over the TPC-H-ish tables; each cycle is one pass
  * over the mix in the same session (pass 1 is cold, later passes are the
  * warm, cache-served case). Args: sf (data dir), queries. */
final class OpsMix(spark: SparkSession, a: Map[String, String], tracer: Tracer,
                   res: Result) extends Workload {
  private val sf = a("sf")
  private val out = s"${a("work")}/ops"
  private val queries = a("queries").split(',').toSeq
  // one-time index/layout writes stay inside the timed part and are also
  // reported on their own
  private val layout0 = graft.ops.Scale.layoutNanos.get()

  def cycle(k: Int): Unit = queries.foreach { q =>
    val dir = s"$out/pass${k + 1}/$q"
    // the rows the oracle gate checks are the rows this action wrote
    CarBench.timeOp(res, tracer, q, if (k == 0) "pass1" else "warm", k, Map("out" -> dir)) {
      tracer(s"ops.$q.${if (k == 0) "pass1" else "warm"}") {
        graft.SparkEntry.queries(q)(spark, sf).write.mode("overwrite").parquet(dir)
      }
    }
  }

  override def finish(): Unit = {
    res.num("layout_s", (graft.ops.Scale.layoutNanos.get() - layout0) / 1e9)
    queries.foreach(q => graft.SparkEntry.oracleSql.get(q).foreach(res.str(s"oracle.$q", _)))
  }
}

/** Accumulates the JVM's result and writes it as one JSON object. */
final class Result {
  private val nums = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val strs = scala.collection.mutable.LinkedHashMap.empty[String, String]
  val ops = ArrayBuffer.empty[Op]

  def num(k: String, v: Double): Unit = nums(k) = v
  def str(k: String, v: String): Unit = strs(k) = v

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
  private def n(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def write(path: String, spans: Seq[Span]): Unit = {
    val opsJson = ops.map { o =>
      obj(Seq("name" -> q(o.name), "kind" -> q(o.kind), "cycle" -> o.cycle.toString,
        "seconds" -> n(o.seconds),
        "cpu_s" -> n(o.cpuSeconds),
        "error" -> o.error.fold("null")(q), "extra" -> obj(o.extra.map { case (k, v) => k -> q(v) })))
    }.mkString("[", ",", "]")
    val spansJson = spans.map { s =>
      obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> q(s.name),
        "start_ms" -> s.startMs.toString, "seconds" -> n(s.seconds),
        "deltas" -> obj(s.deltas.map { case (k, v) => k -> n(v) })))
    }.mkString("[", ",", "]")
    val body = obj(nums.map { case (k, v) => k -> n(v) } ++ strs.map { case (k, v) => k -> q(v) } ++
      Seq("ops" -> opsJson, "spans" -> spansJson))
    Files.write(Paths.get(path), body.getBytes("UTF-8"))
  }
}
