package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {
  /** One-line JSON fragment describing the machine at measurement time —
    * system load average, available memory, cpu count. Short scheduler-bound
    * queries swing 3× with co-tenant load alone (PERF_NOTES.md), so a bench
    * number without its environment cannot be compared across rounds.
    */
  private[graft] def envJson(): String = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val load = os.getSystemLoadAverage
    val memAvailKb =
      try {
        val src = scala.io.Source.fromFile("/proc/meminfo")
        try src.getLines()
          .collectFirst { case l if l.startsWith("MemAvailable:") =>
            l.split("\\s+")(1).toLong }
          .getOrElse(-1L)
        finally src.close()
      } catch { case _: Throwable => -1L }
    val cpus = Runtime.getRuntime.availableProcessors()
    s"""{"load_avg":$load,"mem_available_kb":$memAvailKb,"cpus":$cpus}"""
  }

  /** The pinned CALIBRATION set (r18, VERDICT task 4): five untouched,
    * cache-stable entries spanning scan/join/agg/window shapes, each
    * ≥ 0.25 s at sf0.1 on the reference box (scheduler noise lives
    * below 0.2 s). Bench times them FIRST and LAST around the headline
    * passes and emits both into the envelope, so `tools/bench_diff.py`
    * can compute a machine-speed factor between two rounds from the
    * SAME queries' drift — making the "is this regression code or
    * environment" argument mechanical instead of hand-made each round.
    * Do not edit these entries' operators lightly: a code change to a
    * calibration query silently biases the factor (bench_diff prints
    * the per-query calibration ratios so a lone outlier is visible).
    */
  private[graft] val calibrationQueries: Seq[String] = Seq(
    "q_tpch_q3", "q_tpch_q18", "q_window_rank", "q_dedup_exact",
    "q_grouping_sets")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // A failing entry still gets a time (the elapsed time until it threw);
    // its name goes to stderr once and into the line's "failed" list, so
    // that time cannot pass for a success.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def countOrRecord(name: String, fn: (SparkSession, String) => DataFrame): Unit =
      try { fn(spark, sfDir).count() } catch { case e: Throwable =>
        if (failed.add(name)) System.err.println(s"[bench] $name failed: $e")
      }
    // Warmup pass: JIT + whole-stage-codegen compilation + page cache are
    // one-time costs that would otherwise all land on the first timed query;
    // the timed pass below measures steady-state throughput.
    SparkEntry.benchQueries.foreach { name =>
      countOrRecord(name, SparkEntry.queries(name))
    }
    // Best of THREE timed passes: single-pass numbers on this box swing up
    // to 4× on the nested-loop-heavy similarity queries from machine noise
    // alone, and round 9 showed two passes still let a 3× spike through on
    // the short scheduler-bound queries (PERF_NOTES.md); the min is the
    // reproducible steady-state cost.
    def timedPass(): Map[String, Double] = SparkEntry.benchQueries.map { name =>
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      countOrRecord(name, fn)
      name -> (System.nanoTime() - t0) / 1e9
    }.toMap
    // calibration pass: best of two reps per pinned query (they are all
    // in benchQueries, so the warmup above already JIT'd them)
    def calPass(): Map[String, Double] = calibrationQueries.map { name =>
      val fn = SparkEntry.queries(name)
      val t = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        countOrRecord(name, fn)
        (System.nanoTime() - t0) / 1e9
      }.min
      name -> t
    }.toMap
    val calFirst = calPass()
    val passes = Seq(timedPass(), timedPass(), timedPass())
    val calLast = calPass()
    val results = passes.head.map { case (k, _) => k -> passes.map(_(k)).min }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    def calJson(m: Map[String, Double]): String = calibrationQueries
      .map(k => s"\"" + k + "\":" + m(k)).mkString("{", ",", "}")
    val failedJson = failed.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    // calibration rides LAST on the line: the driver keeps only a
    // 2000-char stdout TAIL, so trailing keys are the ones that survive
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","env":${envJson()},"failed":$failedJson,"calibration":{"first":${calJson(calFirst)},"last":${calJson(calLast)}}}"""
    println(json)
    // The driver captures only a 2000-char stdout tail, which truncates a
    // third of the headline set — persist the SAME line to a repo file so
    // every round's full per-query read survives (judge-requested, r12).
    try {
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not persist BENCH_LOCAL.json: $e")
    }
    spark.stop()
  }
}
