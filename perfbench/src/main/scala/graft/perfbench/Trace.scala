package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbenchbridge.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call: a layer call, or a request that groups layer calls.
  * The counters are filled by the Spark listeners while the span is open. */
final class Span(val id: Long, val name: String, val isLayer: Boolean,
    val parent: Long, val req: Long, val startNs: Long, val startWallMs: Long,
    val docs: Long) {
  var endNs = 0L
  var childNs = 0L
  var jobs = 0L
  var taskRunMs = 0L
  var shuffleBytes = 0L
  var outputBytes = 0L
  var planningMs = 0.0
  var filesRead = 0L
  var filesWritten = 0L
  def durNs: Long = endNs - startNs
  def selfMs: Double = (durNs - childNs) / 1e6
}

/** The benchmark's tracer. Off, it only runs the wrapped call. On, it
  * opens a span around each call, sets the Spark job group to the span, and
  * registers a `SparkListener` (jobs, task run time, shuffle, output bytes,
  * spill and GC) and a `QueryExecutionListener` (planning phases, files
  * read). The listener bus is drained at every span boundary, so events
  * land in the span that caused them. Spans stay in memory until [[write]].
  */
final class Tracer(spark: SparkSession, val enabled: Boolean, warehouse: File) {
  private val sc = spark.sparkContext
  private val originNs = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Span]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private var stack: List[Span] = Nil
  @volatile private var current: Span = null
  private var nextId = 0L
  private var nextReq = 0L
  private var req = -1L

  @volatile var countEngine = false
  private var engineSpill = 0L
  private var engineGcMs = 0L
  def spillBytes: Long = synchronized(engineSpill)
  def gcMs: Long = synchronized(engineGcMs)

  private def group(s: Span): String = s"perfbench-${s.id}"

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        val s = if (g == null) null else byGroup.get(g)
        if (s != null) Tracer.this.synchronized {
          s.jobs += 1
          e.stageIds.foreach(id => stageSpan.put(id, s))
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) Tracer.this.synchronized {
          if (countEngine) {
            engineSpill += m.memoryBytesSpilled + m.diskBytesSpilled
            engineGcMs += m.jvmGCTime
          }
          val s = stageSpan.get(e.stageId)
          if (s != null) {
            s.taskRunMs += m.executorRunTime
            s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            s.outputBytes += m.outputMetrics.bytesWritten
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val s = current
        if (s != null) {
          val planning = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
          val files = Tracer.filesScanned(qe)
          Tracer.this.synchronized { s.planningMs += planning; s.filesRead += files }
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** A call into one engine layer; `docs` is the number of documents the
    * call writes or processes (the base of the per-doc byte ratio), and
    * `writes` asks for the files it leaves in the warehouse to be counted. */
  def layer[A](name: String, docs: Long = 0L, writes: Boolean = false)(f: => A): A =
    span(name, isLayer = true, docs, writes)(f)

  /** A benchmark request (one chat turn, one upsert request...): its layer
    * calls share its request id. */
  def request[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val outer = req
      req = nextReq; nextReq += 1
      try span(name, isLayer = false, 0L, writes = false)(f) finally req = outer
    }

  private def drain(): Unit = ListenerBusDrain.drain(sc)

  private def span[A](name: String, isLayer: Boolean, docs: Long,
      writes: Boolean)(f: => A): A = {
    if (!enabled) return f
    drain()
    val parent = stack.headOption
    val s = new Span(nextId, name, isLayer, parent.map(_.id).getOrElse(-1L), req,
      System.nanoTime(), System.currentTimeMillis(), docs)
    nextId += 1
    byGroup.put(group(s), s)
    stack = s :: stack
    current = s
    sc.setJobGroup(group(s), name, interruptOnCancel = false)
    try f
    finally {
      s.endNs = System.nanoTime()
      drain()
      if (writes) s.filesWritten = Tracer.dataFilesSince(warehouse, s.startWallMs)
      stack = stack.tail
      current = stack.headOption.orNull
      parent match {
        case Some(p) =>
          p.childNs += s.durNs
          sc.setJobGroup(group(p), p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      synchronized(spans += s)
    }
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Writes the spans as JSON lines, times relative to the tracer's start. */
  def write(file: File): Unit = {
    def ms(ns: Long) = (ns - originNs) / 1e6
    val lines = allSpans.map { s =>
      Stats.jsonObject(Seq(
        "id" -> s.id.toString, "name" -> Stats.jsonString(s.name),
        "kind" -> Stats.jsonString(if (s.isLayer) "layer" else "request"),
        "parent" -> s.parent.toString, "req" -> s.req.toString,
        "start_ms" -> Stats.jsonNumber(ms(s.startNs)),
        "end_ms" -> Stats.jsonNumber(ms(s.endNs)),
        "self_ms" -> Stats.jsonNumber(s.selfMs),
        "jobs" -> s.jobs.toString, "task_run_ms" -> s.taskRunMs.toString,
        "shuffle_bytes" -> s.shuffleBytes.toString,
        "output_bytes" -> s.outputBytes.toString,
        "planning_ms" -> Stats.jsonNumber(s.planningMs),
        "files_read" -> s.filesRead.toString,
        "files_written" -> s.filesWritten.toString, "docs" -> s.docs.toString))
    }
    Files.write(file.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer extends AdaptiveSparkPlanHelper {
  /** Files the query's file scans opened (the scans' `numFiles` metric),
    * subqueries and adaptive stages included. */
  def filesScanned(qe: QueryExecution): Long =
    collectWithSubqueries(qe.executedPlan) {
      case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum

  /** Data files under `root` last modified at or after `sinceMs`: the
    * files a call left on disk (files it wrote and deleted again, such as
    * staging tables, are not counted). */
  def dataFilesSince(root: File, sinceMs: Long): Long =
    if (!root.exists()) 0L
    else {
      val st = Files.walk(root.toPath)
      try st.iterator().asScala.count { p: Path =>
        p.getFileName.toString.startsWith("part-") && Files.isRegularFile(p) &&
          Files.getLastModifiedTime(p).toMillis >= sinceMs
      }.toLong
      finally st.close()
    }
}
