package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What every workload shares: the session, its run directories, the
  * tracer and the failure accounting. Every timed operation goes through
  * [[op]]: a call that throws, or whose output fails its check, counts as
  * failed, is logged with its exception, and is never timed as a success.
  */
final class Ctx(val spark: SparkSession, val work: File, val seed: Long,
    val tracer: Tracer) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val warehouse: File = new File(work, "warehouse")
  var attempted = 0L
  var failed = 0L

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def inputDir(name: String): String = new File(work, s"input/$name").getAbsolutePath

  /** Runs and times one operation; the check runs after the clocks stop.
    * Returns the operation's wall and CPU time when it succeeded and passed. */
  def op[A](name: String)(body: => A)(check: A => Boolean): Option[Sample] = {
    attempted += 1
    val c0 = Ctx.cpuMark()
    val t0 = System.nanoTime()
    val result = try Right(body) catch { case e: Throwable => Left(e) }
    val sample = Sample((System.nanoTime() - t0) / 1e6, Ctx.cpuMsSince(c0))
    val ok = result match {
      case Left(e) =>
        log(s"FAILED $name: ${e.getClass.getName}: ${e.getMessage}")
        false
      case Right(a) =>
        val passed = try check(a) catch { case e: Throwable =>
          log(s"FAILED $name (check threw): $e"); false }
        if (!passed) log(s"FAILED $name: output check failed")
        passed
    }
    if (ok) Some(sample) else { failed += 1; None }
  }

  /** A check outside any timed operation (set-up or end-of-run). */
  def verify(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch { case e: Throwable =>
      log(s"FAILED check $name: ${e.getClass.getName}: ${e.getMessage}"); false }
    if (!passed) { failed += 1; log(s"FAILED check $name") }
  }

  /** Bytes of the regular files under `path` (a file or a directory). */
  def bytesUnder(path: File): Long =
    if (!path.exists()) 0L
    else {
      val st = java.nio.file.Files.walk(path.toPath)
      try st.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
        .map(p => java.nio.file.Files.size(p)).sum
      finally st.close()
    }
}

object Ctx {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  /** CPU time of each live Java thread, ns, by thread id. */
  def cpuMark(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }
  /** CPU ms the Java threads spent since `mark` (a thread that ended since
    * loses its share). The JIT compiler and GC threads are not Java
    * threads, so their time is left out: how much of it lands inside a
    * short operation depends on when the JVM compiles and collects, which
    * moves with the host's load, and during a `kb_serve` loop the JIT
    * alone compiles for longer than the loop runs. Unlike wall time, it
    * also leaves out the time the host's other guests steal from this one. */
  def cpuMsSince(mark: Map[Long, Long]): Double =
    cpuMark().iterator.map { case (id, ns) => ns - mark.getOrElse(id, 0L) }
      .filter(_ > 0).sum / 1e6
  /** (busy, steal) jiffies of all CPUs from /proc/stat. */
  def stat(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    } finally src.close()
  }
}

/** One successful operation: wall and Java-thread CPU milliseconds. */
final case class Sample(ms: Double, cpuMs: Double)

/** A measured metric: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** Command line:
  * `--workload kb_serve|curate_spine --seed N --seconds S --trace 0|1
  * --work DIR --out DIR`. The last stdout line is the result JSON; the
  * lines above it print every metric with its unit.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = arg("workload")
    require(Workload.Names.contains(name), s"unknown workload $name")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val work = new File(arg("work")).getAbsoluteFile
    val out = new File(arg("out")).getAbsoluteFile
    out.mkdirs()
    // set-up, several times: a fresh session, freshly generated inputs and
    // the engine calls before the first operation
    val setups = ArrayBuffer.empty[Sample]
    var spark: SparkSession = null
    (0 until SetupReps).foreach { rep =>
      val c0 = Ctx.cpuMark()
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(work)
      Workload.setUp(name, spark, seed, new File(work, s"input/setup$rep").getPath)
      setups += Sample((System.nanoTime() - t0) / 1e6, Ctx.cpuMsSince(c0))
    }
    val code =
      try run(name, seed, seconds, trace, out, spark, work, setups.toSeq)
      finally spark.stop()
    sys.exit(code)
  }

  private def session(work: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "local").getAbsolutePath)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def run(name: String, seed: Long, seconds: Double, trace: Boolean, out: File,
      spark: SparkSession, work: File, setups: Seq[Sample]): Int = {
    val tracer = new Tracer(spark, trace, new File(work, "warehouse"))
    val ctx = new Ctx(spark, work, seed, tracer)
    val w = Workload(name, ctx, new File(work, s"input/setup${SetupReps - 1}").getPath)
    val tb = System.nanoTime()
    val cb = Ctx.cpuMark()
    tracer.request("build") { w.build() }
    val buildS = (System.nanoTime() - tb) / 1e9
    val buildCpuS = Ctx.cpuMsSince(cb) / 1e3
    tracer.request("warm_up") { w.warmUp() }
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val startToFirstOp = (System.currentTimeMillis() - jvmStartMs) / 1e3
    tracer.countEngine = true
    val (busy0, steal0) = Ctx.stat()
    val loopStart = System.nanoTime()
    w.run(seconds)
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val (busy1, steal1) = Ctx.stat()
    tracer.countEngine = false
    w.finish()
    val ops = w.opSamples
    if (ops.isEmpty) ctx.verify("at least one operation succeeded")(false)
    val correct = ctx.failed == 0
    // gated: CPU time, bytes and memory; wall time swings with the host's
    // steal, and the cold build's CPU with JIT timing (both printed below)
    val e2e: Seq[Metric] =
      if (ops.isEmpty) Nil
      else Seq(
        Metric("setup_s", Stats.median(setups.map(_.cpuMs)) / 1e3, "s"),
        Metric("op_cpu_ms", Stats.median(ops.map(_.cpuMs)), "ms"),
        Metric("cpu_ms_per_doc", w.cpuMsPerDoc, "ms/doc"),
        Metric("stored_bytes_per_doc", w.storedBytesPerDoc, "B/doc"),
        Metric("peak_rss_mb", peakRssMb(), "MB"))
    def wallPcts(xs: Seq[Double]) =
      if (xs.isEmpty) Nil
      else Seq(Metric("op_p50_ms", Stats.percentile(xs, 50), "ms"),
        Metric("op_p90_ms", Stats.percentile(xs, 90), "ms"))
    val more = Seq(
      Metric("setup_wall_s", Stats.median(setups.map(_.ms)) / 1e3, "s"),
      Metric("build_s", buildS, "s"),
      Metric("build_cpu_s", buildCpuS, "s")) ++
      wallPcts(ops.map(_.ms)) ++
      Seq(Metric("op_samples", ops.length.toDouble, "count")) ++
      w.report ++ Seq(
      Metric("loop_s", loopS, "s"),
      Metric("start_to_first_op_s", startToFirstOp, "s"),
      Metric("failed_frac", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio"),
      Metric("loop_steal_frac",
        (steal1 - steal0).toDouble / math.max(1L, busy1 - busy0 + steal1 - steal0), "ratio"))
    val all = e2e ++ more
    val env = graft.Bench.envJson()
    all.foreach(m => println(s"metric ${m.name} ${Stats.jsonNumber(m.value)} ${m.unit}"))
    println(s"env $env")
    val tag = s"${name}_seed$seed"
    val shown =
      if (trace) {
        val spans = new File(out, s"spans_$tag.jsonl")
        tracer.write(spans)
        println(s"spans ${spans.getPath}")
        Overhead.report(new File(out, s"e2e_$tag.json"), all).foreach(println)
        Layers.metrics(tracer, ctx.cores, w.survivorFrac)
      } else {
        java.nio.file.Files.write(new File(out, s"e2e_$tag.json").toPath,
          metricsJson(all, env).getBytes("UTF-8"))
        e2e
      }
    println(Stats.jsonObject(Seq(
      "correct" -> correct.toString,
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> Stats.jsonObject(shown.map(m => m.name -> Stats.jsonObject(Seq(
        "value" -> Stats.jsonNumber(m.value), "unit" -> Stats.jsonString(m.unit))))))))
    if (correct) 0 else 1
  }

  def metricsJson(ms: Seq[Metric], env: String): String =
    Stats.jsonObject(Seq(
      "metrics" -> Stats.jsonObject(ms.map(m => m.name -> Stats.jsonObject(Seq(
        "value" -> Stats.jsonNumber(m.value), "unit" -> Stats.jsonString(m.unit))))),
      "env" -> env))

  /** Peak resident set size of this process (`VmHWM`), MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024.0 }.getOrElse(0.0)
    finally src.close()
  }
}
