package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev harness: count and time the Spark JOBS one SparkEntry query
  * submits — `runMain graft.JobCount <query_id> [sfDir]`. Job-launch
  * latency dominates small-fixture composed entries (guide §1.5);
  * this names each job so the fusion targets are visible.
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    SparkEntry.requireKnown(Seq(name))
    val sfDir = if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    fn(spark, sfDir).count() // warm pass: fixture builds, codegen, caches
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val lines = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = js.stageInfos.lastOption.map(_.name).getOrElse("?")
        val nStages = js.stageInfos.size
        val nTasks = js.stageInfos.map(_.numTasks).sum
        starts.put(js.jobId, (js.time, s"stages=$nStages tasks=$nTasks  $site"))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val (t0, desc) = starts.getOrDefault(je.jobId, (je.time, "?"))
        lines.add(f"[job] ${je.jobId}%3d ${(je.time - t0) / 1e3}%7.3f s  $desc")
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val n = fn(spark, sfDir).count()
    val total = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // let listener drain
    lines.forEach(l => println(l))
    println(f"[jobcount] $name: ${lines.size()} jobs, $total%.3f s total ($n rows)")
    spark.stop()
  }
}
