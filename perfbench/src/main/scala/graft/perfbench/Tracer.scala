package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Trace recorder for the traced run: spans around the benchmark's calls
  * into the engine, plus what stock Spark listeners report (jobs, stages,
  * tasks, Catalyst phases, stream progress). Everything is kept in memory
  * and written out once, as JSON, when the run ends; the per-layer
  * arithmetic happens in perfbench/metrics.py.
  *
  * All times are epoch milliseconds as doubles, taken from one base
  * (`nowMs`), so spans line up with Spark's own event times.
  */
final class Tracer(spark: SparkSession) {
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  def nowMs(): Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6

  private case class Span(id: Int, parent: Int, name: String, key: String,
      start: Double, var end: Double = Double.NaN)
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }

  /** Time `body` as a span named `name`, child of the thread's open span.
    * `key` ties spans of one operation together (a batch id, a query). */
  def span[T](name: String, key: String = "")(body: => T): T = {
    val s = synchronized {
      val parent = stack.get.headOption.getOrElse(-1)
      val sp = Span(spans.size, parent, name, key, nowMs())
      spans += sp
      sp
    }
    stack.set(s.id :: stack.get)
    try body
    finally {
      s.end = nowMs()
      stack.set(stack.get.tail)
    }
  }

  // -- stock listener output ----------------------------------------------
  private val jobs = ArrayBuffer.empty[(Int, Double, Double)]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Double]
  private val stageTasks = ArrayBuffer.empty[Int]
  // run ms, cpu ms, gc ms, scheduler delay ms, shuffle write, spill
  private val tasks = ArrayBuffer.empty[Array[Double]]
  private val phases = ArrayBuffer.empty[(String, Double, Double)]
  // (generate output rows, hash-aggregate build ms) per query execution
  private val plans = ArrayBuffer.empty[(Long, Long)]
  private val progress = ArrayBuffer.empty[String]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = e.time.toDouble
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs += ((e.jobId, jobStart.getOrElse(e.jobId, e.time.toDouble),
        e.time.toDouble))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stageTasks += e.stageInfo.numTasks }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null && info != null) {
        val delay = math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
        tasks += Array(m.executorRunTime.toDouble,
          m.executorCpuTime / 1e6, m.jvmGCTime.toDouble, delay.toDouble,
          m.shuffleWriteMetrics.bytesWritten.toDouble,
          (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val ps = qe.tracker.phases.toSeq.map { case (n, p) =>
        (n, p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
      var rows = 0L
      var aggMs = 0L
      PlanWalk.foreach(qe.executedPlan) { node =>
        node.nodeName match {
          case "Generate" => rows += metric(node, "numOutputRows")
          case "HashAggregate" => aggMs += metric(node, "aggTime")
          case _ =>
        }
      }
      Tracer.this.synchronized {
        phases ++= ps
        plans += ((rows, aggMs))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private def metric(node: org.apache.spark.sql.execution.SparkPlan,
      name: String): Long = node.metrics.get(name).map(_.value).getOrElse(0L)

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e.progress.json }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Detach the listeners and write everything recorded as one JSON
    * object. Call after the last traced operation. */
  def finish(path: String, extra: Map[String, Double]): Unit = {
    org.apache.spark.graft.ListenerBridge.flush(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    val out = synchronized {
      def arr[A](xs: Iterable[A])(f: A => String) = xs.map(f).mkString("[", ",", "]")
      Seq(
        "spans" -> arr(spans)(s =>
          s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
          s""""key":${Json.str(s.key)},"start":${Json.num(s.start)},"end":${Json.num(s.end)}}"""),
        "jobs" -> arr(jobs)(j => s"[${j._1},${Json.num(j._2)},${Json.num(j._3)}]"),
        "stage_tasks" -> stageTasks.mkString("[", ",", "]"),
        "tasks" -> arr(tasks)(t => t.map(Json.num).mkString("[", ",", "]")),
        "phases" -> arr(phases)(p =>
          s"[${Json.str(p._1)},${Json.num(p._2)},${Json.num(p._3)}]"),
        "plans" -> arr(plans)(p => s"[${p._1},${p._2}]"),
        "progress" -> progress.mkString("[", ",", "]"),
        "extra" -> Json.obj(extra)
      ).map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",\n", "}")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), out)
  }
}

/** The little JSON the worker writes: numbers, strings, flat objects. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }
      .mkString("{", ",", "}")
}
