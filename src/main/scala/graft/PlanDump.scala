package graft

import org.apache.spark.sql.SparkSession

/** Dev harness: dump `explain("formatted")` for a list of SparkEntry
  * queries to files — `runMain graft.PlanDump <outDir> <query_id>[,...]
  * [sfDir] [suffix]`. Writes `<outDir>/<query_id>_<suffix>.txt` per query
  * (suffix defaults to "plan"). Used by the optimization rounds to commit
  * before/after plan evidence the judge can read without running Spark.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    SparkEntry.requireKnown(names.toSeq)
    val sfDir = if (args.length > 2) args(2)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val suffix = if (args.length > 3) args(3) else "plan"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
