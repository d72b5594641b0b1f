package graft

import org.apache.spark.sql.SparkSession

/** Dev harness: time a LIST of SparkEntry queries in one session —
  * `runMain graft.BenchMany <query_id>[,...] [sfDir] [reps]` — one id
  * times a single query. One `local[SPARK_GRAFT_CPUS]` session (default
  * 32) for the whole list; per query a warm pass, then `reps` timed
  * passes. Prints one `[benchmany]` line per query (best of reps, or
  * FAILED) plus a trailing env line.
  */
object BenchMany {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    SparkEntry.requireKnown(names.toSeq)
    val sfDir = if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      spark.sparkContext.setJobDescription(s"benchmany: $name")
      try {
        fn(spark, sfDir).count() // warmup: JIT + codegen compile
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[benchmany] $name best=${times.min}%.3f s " +
          f"all=${times.map(t => f"$t%.3f").mkString(",")}")
      } catch { case e: Throwable =>
        println(s"[benchmany] $name FAILED: ${e.getMessage}")
      }
      spark.sparkContext.setJobDescription(null)
    }
    println(s"[benchmany] env=${Bench.envJson()}")
    spark.stop()
  }
}
