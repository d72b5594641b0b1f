package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev harness: per-stage noop-sink timings of the curateMultilang
  * chain (guide §1.4/§1.5) — `runMain graft.MultilangProbe [sfDir]`.
  * Mirrors the operator's internal frames to localize cost; NOT a
  * bench (the entry's end-to-end number comes from Bench/BenchMany).
  */
object MultilangProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.{LangIdOps, TextAnalysisOps}

    def time[A](label: String)(f: => A): A = {
      spark.sparkContext.setJobDescription(s"mlprobe: $label")
      val t0 = System.nanoTime()
      val r = f
      println(f"[mlprobe] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      spark.sparkContext.setJobDescription(null)
      r
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warm the JVM/codegen once end-to-end
    LangIdOps.curateMultilang(spark, sfDir).count()

    for (rep <- 1 to 2) {
      println(s"--- rep $rep ---")
      val docs0 = time("derived-lang noop") {
        val d = LangIdOps.documentsWithDerivedLang(spark, sfDir)
          .select(col("doc_id"), col("text"), col("predicted").as("lang"))
        noop(d); d
      }
      val docs = time("docs checkpoint") { docs0.localCheckpoint(true) }
      time("gopher kept noop") {
        noop(TextAnalysisOps.gopherRulesOn(
            docs.select(col("doc_id"), col("text")), 20L, 100000L, 1L)
          .filter(col("keep") === 1L)
          .select(col("doc_id"), col("n_words")))
      }
      val toks = docs.select(col("doc_id"), col("lang"),
        split(col("text"), " ").as("t"))
      val bigPlan = toks.filter(size(col("t")) >= 2)
        .select(col("doc_id"), col("lang"),
          explode(transform(sequence(lit(1), size(col("t")) - 1), i =>
            struct(element_at(col("t"), i).as("w1"),
              element_at(col("t"), i + 1).as("w2")))).as("b"))
        .select(col("doc_id"), col("lang"),
          col("b.w1").as("w1"), col("b.w2").as("w2"))
      time("big explode noop") { noop(bigPlan) }
      val big = time("big checkpoint") { bigPlan.localCheckpoint(true) }
      val bc = time("bc agg checkpoint") {
        big.groupBy(col("lang"), col("w1"), col("w2"))
          .agg(count(lit(1)).as("c2")).localCheckpoint(true)
      }
      val lc = time("lc agg checkpoint") {
        bc.groupBy(col("lang"), col("w1")).agg(sum(col("c2")).as("c1"))
          .localCheckpoint(true)
      }
      time("bc count") { bc.count() }
      val agg = big
        .join(broadcast(bc), Seq("lang", "w1", "w2"))
        .join(broadcast(lc), Seq("lang", "w1"))
        .withColumn("p", col("c2").cast("double") / col("c1"))
        .groupBy(col("doc_id"))
        .agg((floor(sum(floor(col("p") * lit(1000000.0) + lit(0.5)).cast("long"))
            .cast("double") / count(lit(1)) + lit(0.5)).cast("double")
          / lit(1000000.0)).as("avg_cond_p"))
      time("scoring join noop") { noop(agg) }
      val scored = time("scored checkpoint") {
        docs.select(col("doc_id"), col("lang"))
          .join(agg, Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("lang"),
            coalesce(col("avg_cond_p"), lit(0.0)).as("avg_cond_p"))
          .localCheckpoint(true)
      }
      time("fences + bucket + final noop") {
        import org.apache.spark.sql.expressions.Window
        val wr = Window.partitionBy(col("lang")).orderBy(col("avg_cond_p").asc)
        val ranked = scored.withColumn("r", row_number().over(wr) - 1)
        val nl = scored.groupBy(col("lang")).agg(count(lit(1)).as("n"))
        val fences = ranked.join(broadcast(nl), Seq("lang"))
          .groupBy(col("lang"))
          .agg(
            max(when(col("r") ===
              floor(lit(1.0 / 3.0) * (col("n") - 1)).cast("long"),
              col("avg_cond_p"))).as("f1"),
            max(when(col("r") ===
              floor(lit(2.0 / 3.0) * (col("n") - 1)).cast("long"),
              col("avg_cond_p"))).as("f2"))
        noop(scored.join(broadcast(fences), Seq("lang"))
          .select(col("doc_id"), col("lang"), col("avg_cond_p")))
      }
      time("full entry count") {
        LangIdOps.curateMultilang(spark, sfDir).count()
      }
    }
    spark.stop()
  }
}
