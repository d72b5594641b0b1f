package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.forAll
import graft.operators.{BoundedCollect, DedupOps, LinkOps, MlOps}

/** Pins every [[graft.operators.BoundedCollect]] dispatch: each site run
  * at its default ceiling (the driver-side path on these inputs) must
  * emit exactly what the same call emits with a ceiling of 0 (the
  * distributed rounds). The graph sites have integer arithmetic and the
  * k-center/LR sites replicate the distributed float program term by
  * term, so every comparison is exact equality. The helper's own
  * boundary cases close the spec.
  */
class DispatchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** (default-ceiling result, forced-distributed result) of one call. */
  private def bothPaths[T](ceiling: Int)(run: Int => T): (T, T) =
    (run(ceiling), run(0))

  private def check(prop: Prop, minSuccessful: Int): Unit = {
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(minSuccessful), prop)
    assert(res.passed, res.status)
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private val Edges = BoundedCollect.LocalMaxEdges

  /** Sparse random graph on n nodes: each ordered pair with probability p. */
  private def randomGraph(minN: Int, maxN: Int, p: Double,
      keep: (Long, Long) => Boolean): Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(minN, maxN)
    seed <- Gen.long
  } yield {
    val rnd = new scala.util.Random(seed)
    (for {
      a <- 0L until n.toLong
      b <- 0L until n.toLong
      if keep(a, b) && rnd.nextDouble() < p
    } yield (a, b)).toList
  }

  test("CC local == distributed == brute-force reachability") {
    import spark.implicits._
    val graphs = Gen.oneOf(
      randomGraph(2, 24, 0.15, _ != _),
      // chain + isolated pair: forces multi-round star convergence
      Gen.choose(3, 30).map(n =>
        (0L until n.toLong).sliding(2).map(s => (s(1), s(0))).toList ++
          List((1000L, 1001L))))
    check(forAll(graphs) { edges =>
      val df = edges.toDF("a", "b")
      val (local, dist) = bothPaths(Edges)(m =>
        pairs(DedupOps.connectedComponentsOn(df, localMaxEdges = m)))
      // reference: brute-force reachability min per node
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val adj = (edges ++ edges.map(e => (e._2, e._1)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
      def compMin(start: Long): Long = {
        var seen = Set(start)
        var frontier = Set(start)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
          seen ++= frontier
        }
        seen.min
      }
      val ref = nodes.map(n => (n, compMin(n))).filter(p => p._1 != p._2).toSet
      local == dist && local == ref
    }, 10)
  }

  test("LPA local == distributed (labels + round count)") {
    import spark.implicits._
    check(forAll(randomGraph(4, 22, 0.2, _ < _).suchThat(_.nonEmpty)) { edges =>
      val und = edges.toDF("a", "b")
      val (local, dist) = bothPaths(Edges) { m =>
        val (df, rounds) = LinkOps.labelPropagationRounds(und, 5,
          localMaxEdges = m)
        (pairs(df), rounds)
      }
      local == dist
    }, 8)
  }

  test("BFS local == distributed rounds") {
    import spark.implicits._
    check(forAll(randomGraph(4, 22, 0.2, _ < _).suchThat(_.nonEmpty)) { edges =>
      // directed edges both ways + seeds = every 3rd node
      val e = (edges ++ edges.map(p => (p._2, p._1))).toDF("src", "dst")
      val seeds = edges.flatMap(p => Seq(p._1, p._2)).distinct
        .filter(_ % 3 == 0).toDF("doc_id")
      val (local, dist) = bothPaths(Edges)(m =>
        LinkOps.bfsDepthOn(seeds, e, maxDepth = 3, localMaxEdges = m)
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet)
      local == dist
    }, 8)
  }

  test("HITS local == distributed on the fixture") {
    // nano-unit integers, so rows must be equal
    val (local, dist) = bothPaths(Edges)(m =>
      LinkOps.hits(spark, TestSpark.Sf, localMaxEdges = m)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq)
    assert(local == dist)
  }

  private def centers(emb: DataFrame, k: Int): (Seq[(Int, Long, Double)],
      Seq[(Int, Long, Double)]) =
    bothPaths(MlOps.LrLocalMaxRows)(m =>
      MlOps.kcenterOn(emb, k, localMaxRows = m)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq)

  test("k-center local == distributed on the fixture") {
    import graft.sources.Tables
    val emb = Tables.embeddings(spark, TestSpark.Sf)
      .select(col("vec_id"), col("embedding"))
    val (local, dist) = centers(emb, 16)
    assert(local == dist, s"trajectories diverged:\nlocal $local\ndist  $dist")
    assert(local.size > 1, "vacuous trajectory")
  }

  test("k-center local == distributed at the early stop") {
    import spark.implicits._
    // three distinct positions, each duplicated: the covering radius hits
    // the 6-dp zero floor after three centers and both paths must stop
    // at the same round
    val vecs = Seq(
      (0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0)), (3L, Seq(0.0, 1.0, 0.0)),
      (4L, Seq(0.0, 0.0, 1.0)), (5L, Seq(0.0, 0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val (local, dist) = centers(vecs, 6)
    assert(local == dist, s"trajectories diverged:\nlocal $local\ndist  $dist")
    assert(local.size == 3, s"expected 3 centers before the zero floor: $local")
  }

  test("LR local == distributed (w, b), bit-for-bit") {
    import graft.operators.TextAnalysisOps
    import graft.sources.Tables
    val dir = TestSpark.Sf
    val docs = Tables.documents(spark, dir)
    val labeled = TextAnalysisOps.qualityScore(spark, dir)
      .select(col("doc_id"), (col("quality") >= 0.5).cast("double").as("label"))
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .filter(col("doc_id") % 2 === 0)
    val ((wL, bL), (wD, bD)) = bothPaths(MlOps.LrLocalMaxRows)(m =>
      MlOps.trainQualityLr(labeled, dim = 64, iters = 8, localMaxRows = m))
    assert(bL == bD, s"intercepts diverged: $bL vs $bD")
    assert(wL.toSeq == wD.toSeq,
      s"weights diverged at ${wL.toSeq.zip(wD.toSeq).indexWhere(p => p._1 != p._2)}")
  }

  test("collectAtMost: exactly max rows gives Some") {
    val rows = BoundedCollect.collectAtMost(spark.range(5).toDF(), 5)
    assert(rows.map(_.map(_.getLong(0)).toSeq) == Some(Seq(0L, 1L, 2L, 3L, 4L)))
    assert(BoundedCollect.collectAtMost(spark.range(0).toDF(), 5)
      .exists(_.isEmpty), "an empty frame under a positive ceiling is Some(empty)")
  }

  test("collectAtMost: max + 1 rows gives None") {
    assert(BoundedCollect.collectAtMost(spark.range(6).toDF(), 5).isEmpty)
  }

  test("collectAtMost: max = 0 on an empty frame gives None") {
    assert(BoundedCollect.collectAtMost(spark.range(0).toDF(), 0).isEmpty)
  }

  test("probeVocabTokens: 64 distinct tokens vs 65") {
    import spark.implicits._
    def vocab(n: Int): Option[Seq[String]] = {
      val toks = (0 until n).map(i => f"t$i%02d")
      // two overlapping docs: the probe counts DISTINCT tokens
      DedupOps.probeVocabTokens(
        Seq(toks.take(n / 2 + 1), toks.drop(n / 2)).toDF("s"))
    }
    assert(vocab(64) == Some((0 until 64).map(i => f"t$i%02d")))
    assert(vocab(65).isEmpty)
  }
}
