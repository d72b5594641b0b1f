package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry.{Entry, Oracle, RowsOnly}

/** Invariants of the [[SparkEntry.entries]] table, and the mains' name
  * checks. None of these starts a Spark session: the mains must reject
  * an unknown name before they build one.
  */
class EntrySpec extends AnyFunSuite {
  private val entries = SparkEntry.entries

  /** Entries no SQL can replay. A new entry brings an oracle or is
    * added here on purpose.
    */
  private val RowsOnlyNames = Set(
    "q_approx_distinct", "q_approx_distinct_stored", "q_audio_neardup",
    "q_crawl_maintain", "q_dedup_semantic", "q_dedup_semantic_stored",
    "q_embed_batch", "q_eval_rank_indexed", "q_hybrid_rrf_served",
    "q_image_neardup", "q_knn_hnsw", "q_knn_hnsw_filtered",
    "q_knn_hnsw_probe", "q_knn_hnsw_routed", "q_knn_ivf_filtered",
    "q_knn_ivf_kmeans", "q_knn_ivf_part", "q_knn_ivf_probe", "q_knn_ivfpq",
    "q_knn_pq", "q_knn_projected", "q_knn_quantized",
    "q_mine_hardneg_indexed", "q_quality_lr")

  test("entry names are distinct") {
    assert(entries.map(_.name).distinct.size == entries.size)
  }

  test("the table check names every duplicate") {
    val Seq(a, b, c) = entries.take(3)
    val e = intercept[IllegalArgumentException](
      SparkEntry.distinctNames(Seq(a, b, a, c, b)))
    val named = e.getMessage.split(": ").last.split(", ").toSet
    assert(named == Set(a.name, b.name))
  }

  test("every oracle SQL and every rows-only reason is non-blank") {
    entries.foreach {
      case Entry(n, _, Oracle(sql), _) => assert(sql.trim.nonEmpty, n)
      case Entry(n, _, RowsOnly(why), _) => assert(why.trim.nonEmpty, n)
    }
  }

  test("every calibration entry is benched and oracled") {
    val byName = entries.map(e => e.name -> e).toMap
    Bench.calibrationQueries.foreach { n =>
      assert(byName.get(n).exists(_.bench), n)
      assert(byName(n).check.isInstanceOf[Oracle], n)
    }
  }

  test("the rows-only set is exactly the declared list") {
    assert(entries.collect { case Entry(n, _, RowsOnly(_), _) => n }.toSet ==
      RowsOnlyNames)
  }

  private def rejects(run: => Unit): String =
    intercept[IllegalArgumentException](run).getMessage

  test("Verify rejects an unknown name in its filter before any work") {
    val out = Files.createTempDirectory("entryspec").resolve("out")
    val msg = rejects(Verify.main(
      Array(TestSpark.Sf, out.toString, "q_knn_topk,q_nope")))
    assert(msg.contains("q_nope") && !msg.contains("q_knn_topk"))
    assert(!Files.exists(out))
  }

  test("BenchMany rejects an unknown name before any work") {
    val msg = rejects(BenchMany.main(Array("q_knn_topk,q_nope", TestSpark.Sf, "1")))
    assert(msg.contains("q_nope") && !msg.contains("q_knn_topk"))
  }
}
