package graft.perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.catalog.Catalog
import graft.flows.{FlowAnalyzer, FlowRun}
import graft.pipelines.{HyperspectralPipeline, Quarantine}
import graft.signals.Signals
import graft.sinks.Artifacts
import graft.sources.Emd
import graft.stream.FileWatcher

/** The benchmark's engine process. perfbench/run.py generates the inputs,
  * starts this worker with a properties file, and talks to it over
  * stdin/stdout:
  *
  *   worker → `READY <phase>`  set-up done, the phase's timed part starts
  *   worker → `DONE <phase>`   the phase's work is committed
  *   run.py → `FLOW <path>`    (traced hs_stream only) per-file FlowRun
  *                             records to decompose with FlowAnalyzer
  *   worker → `BYE`            the result file is written; exiting
  *
  * A phase is `plain` (the engine's public entry points, no tracing) or
  * `traced` (the same calls with spans and listeners). Untraced runs do
  * one `plain` phase; traced runs do `plain` then `traced`, so the
  * tracing overhead is measured within one process.
  *
  * The worker calls only the layers' public functions; the traced
  * ingest replica below repeats HyperspectralPipeline.start/analyzeBatch
  * call for call with a span around each.
  */
object Worker {

  final case class Phase(name: String, start: Double, end: Double,
      cpuMs: Double, ops: Seq[String])

  def main(args: Array[String]): Unit = {
    val props = new java.util.Properties()
    val rd = Files.newBufferedReader(Paths.get(args(0)))
    try props.load(rd) finally rd.close()
    def conf(k: String): String = Option(props.getProperty(k))
      .getOrElse(sys.error(s"missing config key $k"))

    val spark = graft.core.GraftSession.local(conf("cores").toInt, "perfbench")
    val stdin = new BufferedReader(new InputStreamReader(System.in))
    val work = conf("work")
    val seconds = conf("seconds").toDouble
    val phaseNames = if (conf("trace") == "1") Seq("plain", "traced") else Seq("plain")

    val phases = conf("workload") match {
      case "hs_stream" =>
        val n = conf("files").toInt
        warmIngest(spark, s"$work/warm", conf("warm_watch"))
        phaseNames.map(p => streamPhase(spark, p, s"$work/$p", conf(s"watch_$p"), n))
      case "hs_backlog" =>
        warmIngest(spark, s"$work/warm", conf("warm_watch"))
        phaseNames.map(p => backlogPhase(spark, p, s"$work/$p", conf("watch"), seconds))
      case "query_suite" =>
        val names = conf("queries").split(",").toSeq
        val tables = conf("tables")
        val defs = graft.SparkEntry.defs.filter(d => names.contains(d.name))
          .sortBy(d => names.indexOf(d.name))
        require(defs.size == names.size,
          s"unknown queries: ${names.diff(defs.map(_.name)).mkString(",")}")
        warmQueries(spark, defs, tables, s"$work/warm")
        Files.writeString(Paths.get(s"$work/oracle.json"), defs.map(d =>
          s"${Json.str(d.name)}:${Json.str(d.oracle.getOrElse(""))}")
          .mkString("{", ",", "}"))
        phaseNames.map(p => queryPhase(spark, p, defs, tables, s"$work/$p", seconds))
    }

    val flow = if (phaseNames.contains("traced") && conf("workload") == "hs_stream") {
      val line = stdin.readLine()
      require(line != null && line.startsWith("FLOW "), s"expected FLOW, got $line")
      flowTiming(spark, line.stripPrefix("FLOW "))
    } else Map.empty[String, Double]

    val out = Seq(
      "phases" -> phases.map { p =>
        Seq("name" -> Json.str(p.name), "start" -> Json.num(p.start),
          "end" -> Json.num(p.end), "cpu_ms" -> Json.num(p.cpuMs),
          "ops" -> p.ops.mkString("[", ",", "]"))
          .map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
      }.mkString("[", ",\n", "]"),
      "live_heap_mb" -> Json.num(liveHeapMb()),
      "flow" -> Json.obj(flow))
      .map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",\n", "}")
    Files.writeString(Paths.get(conf("result")), out)
    spark.stop()
    say("BYE")
  }

  private def say(s: String): Unit = { println(s); System.out.flush() }

  private def nowMs(): Double = System.nanoTime() / 1e6 - nanoOffsetMs
  private val nanoOffsetMs = System.nanoTime() / 1e6 - System.currentTimeMillis()

  private def cpuMs(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime / 1e6

  /** Heap still in use after full collections at the end of the run:
    * what the workload retains (caches, state, leaked persists). Spark's
    * ContextCleaner frees broadcasts and shuffles on its own thread once
    * a collection has found them unreachable, so collect, give it time,
    * and collect again. */
  private def liveHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(500) }
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The backlog runs whole drains: the first always, another while one
    * more of the last drain's length still ends within `seconds` of the
    * phase start. */
  private def fits(t0: Double, lastMs: Double, seconds: Double): Boolean =
    lastMs == 0.0 || nowMs() + lastMs - t0 <= seconds * 1000

  // -- hyperspectral ingest ------------------------------------------------

  /** Dirs of one pipeline instance under `base`. */
  final case class Dirs(base: String) {
    def out = s"$base/out"; def catalog = s"$base/catalog"
    def ckpt = s"$base/ckpt"; def quarantine = s"$base/quarantine"
  }

  /** Start the watch → analyze → catalog flow: the engine's own entry
    * point when untraced, the traced replica otherwise. */
  private def startFlow(spark: SparkSession, tracer: Option[Tracer],
      watch: String, d: Dirs, drain: Boolean): StreamingQuery = tracer match {
    case None =>
      HyperspectralPipeline.start(spark, watch, d.out, d.catalog, d.ckpt,
        Emd.parseFiles, drain = drain, quarantineDir = Some(d.quarantine))
    case Some(t) => TracedFlow.start(spark, t, watch, d, drain)
  }

  /** Warm-up: drain the small warm-up backlog once (untimed set-up). */
  private def warmIngest(spark: SparkSession, base: String, watch: String): Unit =
    startFlow(spark, None, watch, Dirs(base), drain = true).awaitTermination()

  /** Counts files committed by the stream (one input row per new file). */
  private final class Committed extends StreamingQueryListener {
    @volatile var rows = 0L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      rows += e.progress.numInputRows
  }

  private def streamPhase(spark: SparkSession, name: String, base: String,
      watch: String, files: Int): Phase = {
    val tracer = if (name == "traced") Some(new Tracer(spark)) else None
    val committed = new Committed
    spark.streams.addListener(committed)
    val q = startFlow(spark, tracer, watch, Dirs(base), drain = false)
    val (t0, c0) = (nowMs(), cpuMs())
    say(s"READY $name")
    // run.py drops `files` files on its schedule; the phase ends when the
    // last of them is committed (or the stream dies)
    val deadline = t0 + 90000
    while (committed.rows < files && q.isActive && nowMs() < deadline)
      Thread.sleep(20)
    val (t1, c1) = (nowMs(), cpuMs())
    q.stop()
    spark.streams.removeListener(committed)
    q.exception.foreach(e => throw e)
    tracer.foreach(_.finish(s"$base/trace.json", TracedFlow.counters()))
    say(s"DONE $name")
    Phase(name, t0, t1, c1 - c0, Nil)
  }

  private def backlogPhase(spark: SparkSession, name: String, base: String,
      watch: String, seconds: Double): Phase = {
    val tracer = if (name == "traced") Some(new Tracer(spark)) else None
    val (t0, c0) = (nowMs(), cpuMs())
    say(s"READY $name")
    val drains = ArrayBuffer.empty[String]
    var last = 0.0
    while (fits(t0, last, seconds)) {
      val dir = s"$base/drain${drains.size}"
      val start = nowMs()
      val q = startFlow(spark, tracer, watch, Dirs(dir), drain = true)
      q.awaitTermination()
      last = nowMs() - start
      drains += s"""{"dir":${Json.str(dir)},"start":${Json.num(start)},"end":${Json.num(start + last)}}"""
    }
    val (t1, c1) = (nowMs(), cpuMs())
    tracer.foreach(_.finish(s"$base/trace.json", TracedFlow.counters()))
    say(s"DONE $name")
    Phase(name, t0, t1, c1 - c0, drains.toSeq)
  }

  // -- query suite ---------------------------------------------------------

  /** One query: evaluate and write its result (the user-visible output). */
  private def runQuery(spark: SparkSession, d: graft.QueryDef, tables: String,
      outDir: String): Unit =
    d.fn(spark, tables).write.mode("overwrite").parquet(s"$outDir/${d.name}")

  /** Warm-up: one untimed run of every query, on `WarmThreads` threads
    * (the cold run is mostly single-threaded planning and code
    * generation, so the threads overlap well), then one pass the way the
    * timed passes run, one query at a time, so the JIT has settled
    * before timing starts. */
  private def warmQueries(spark: SparkSession, defs: Seq[graft.QueryDef],
      tables: String, outDir: String): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(WarmThreads)
    try {
      defs.map(d => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = runQuery(spark, d, tables, outDir)
      })).foreach(_.get())
    } finally pool.shutdown()
    spark.sharedState.cacheManager.clearCache()
    defs.foreach(d => runQuery(spark, d, tables, outDir))
    spark.sharedState.cacheManager.clearCache()
  }
  private val WarmThreads = 2

  private def queryPhase(spark: SparkSession, name: String,
      defs: Seq[graft.QueryDef], tables: String, base: String,
      seconds: Double): Phase = {
    val tracer = if (name == "traced") Some(new Tracer(spark)) else None
    val (t0, c0) = (nowMs(), cpuMs())
    say(s"READY $name")
    val ops = ArrayBuffer.empty[String]
    var pass = 0
    // whole passes until `seconds` have passed: the first pass of a run
    // still runs on code the JIT has not finished, so a second one
    // steadies the per-query medians
    while (pass == 0 || nowMs() - t0 < seconds * 1000) {
      defs.foreach { d =>
        val start = nowMs()
        val ok = try {
          tracer match {
            case Some(t) => t.span("query", s"$pass/${d.name}")(runQuery(spark, d, tables, base))
            case None => runQuery(spark, d, tables, base)
          }
          true
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] ${d.name} failed: $e")
          false
        }
        ops += s"""{"pass":$pass,"query":${Json.str(d.name)},"ok":$ok,"start":${Json.num(start)},"end":${Json.num(nowMs())}}"""
      }
      spark.sharedState.cacheManager.clearCache()
      pass += 1
    }
    val (t1, c1) = (nowMs(), cpuMs())
    tracer.foreach(_.finish(s"$base/trace.json", Map.empty))
    say(s"DONE $name")
    Phase(name, t0, t1, c1 - c0, ops.toSeq)
  }

  // -- flow decomposition --------------------------------------------------

  /** Mean Active / Overhead / Total over FlowRun records, with the
    * engine's own FlowAnalyzer. */
  private def flowTiming(spark: SparkSession, path: String): Map[String, Double] = {
    val runs = spark.read.schema(Encoders.product[FlowRun].schema).json(path)
    val t = FlowAnalyzer.timingData(runs)
      .agg(avg("Active"), avg("Overhead"), avg("Total"), count(lit(1)))
      .head()
    Map("active_s" -> t.getDouble(0), "overhead_s" -> t.getDouble(1),
      "total_s" -> t.getDouble(2), "runs" -> t.getLong(3).toDouble)
  }
}

/** Traced replica of HyperspectralPipeline.start + analyzeBatch: the same
  * public calls in the same order, with a span around each, and the
  * parse counted per Emd.signals call through accumulators.
  */
object TracedFlow {
  @volatile private var calls: Option[(org.apache.spark.util.LongAccumulator,
    org.apache.spark.util.LongAccumulator)] = None

  /** Emd.signals calls and the time spent in them so far. */
  def counters(): Map[String, Double] = calls.map { case (c, ns) =>
    Map("parse_calls" -> c.sum.toDouble, "parse_ms" -> ns.sum / 1e6)
  }.getOrElse(Map.empty)

  /** Emd.parseFiles with every Emd.signals call timed. */
  private def parse(files: DataFrame): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    val (c, ns) = calls.get
    files.selectExpr("experiment_id", "path", "content")
      .as[(String, String, Array[Byte])]
      .flatMap { case (eid, path, content) =>
        val t0 = System.nanoTime()
        val sigs = Emd.signals(content)
        ns.add(System.nanoTime() - t0)
        c.add(1)
        sigs.map(s =>
          (eid, path, s.signal_idx, s.title, s.ndim, s.shape, s.data, s.metadata_json))
      }
      .toDF("experiment_id", "path", "signal_idx", "title", "ndim", "shape",
        "data", "metadata_json")
  }

  def start(spark: SparkSession, t: Tracer, watch: String, d: Worker.Dirs,
      drain: Boolean): StreamingQuery = {
    if (calls.isEmpty) {
      val sc = spark.sparkContext
      calls = Some((sc.longAccumulator("parse_calls"),
        sc.longAccumulator("parse_ns")))
    }
    val events = FileWatcher.fileEvents(spark, watch)
    FileWatcher.start(events, d.ckpt, drain) { (batch, batchId) =>
      t.span("batch", batchId.toString) {
        if (!batch.isEmpty) {
          val files = batch.select("path", "content", "experiment_id").cache()
          def analyze(fs: DataFrame): Unit = t.span("analyze", batchId.toString) {
            analyzeBatch(spark, t, parse(fs), fs, d.out, d.catalog, batchId)
          }
          try t.span("quarantine", batchId.toString) {
            Quarantine.run(spark, files, parse, d.quarantine, batchId)(analyze)
          } finally files.unpersist()
        }
      }
    }
  }

  private def analyzeBatch(spark: SparkSession, t: Tracer, signals: DataFrame,
      files: DataFrame, outDir: String, catalogPath: String, batchId: Long): Unit = {
    val key = batchId.toString
    def sink(name: String, df: DataFrame, path: String): Unit =
      t.span(name, key) {
        df.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(path)
      }
    val cube = Signals.explodeCube(Signals.firstWithNdimPerExperiment(signals, 3))
    sink("sinks.parquet", Signals.spectrum(cube), s"$outDir/spectrum")
    val intensity = Signals.intensityMap(cube)
    sink("sinks.parquet", intensity, s"$outDir/intensity")
    sink("sinks.parquet", Signals.metadataSummary(signals), s"$outDir/metadata")
    t.span("sinks.artifacts", key) {
      Artifacts.writeBatch(Artifacts.intensityPngs(intensity),
        s"$outDir/artifacts", batchId)
    }
    val docs = Catalog.dataciteDoc(
      files.select(col("path"), col("content"), lit("{}").as("metadata_json")))
    t.span("catalog.publish", key)(Catalog.publish(spark, docs, catalogPath))
  }
}
