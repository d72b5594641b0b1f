package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{FrontierOps, GraphAnnOps, KnnOps, RetrievalOps, TextAnalysisOps, TextOps}
import graft.sources.{CatalogOps, Tables, WarcOps}

/** A workload. [[Workload.setUp]] writes its inputs and primes the
  * engine; `build` makes the state the timed loop uses, `warmUp` runs
  * operations untimed, `run` is the closed loop (one client, no think
  * time), `finish` the end-of-run checks. */
trait Workload {
  def build(): Unit
  def warmUp(): Unit
  /** The closed loop, measuring for about `seconds`. */
  def run(seconds: Double): Unit
  def finish(): Unit
  /** The workload's foreground operations: a chat turn with its ANN probe
    * (kb_serve), a spine rep (curate_spine). */
  def opSamples: Seq[Sample]
  /** CPU ms per document ingested (kb_serve) or curated (curate_spine). */
  def cpuMsPerDoc: Double
  /** Bytes the workload's stored tables take on disk per live document. */
  def storedBytesPerDoc: Double
  /** The workload's own metrics, by the names the README gives. */
  def report: Seq[Metric]
  /** Curation survivors ÷ extracted documents (curation only). */
  def survivorFrac: Double = 0.0
}

object Workload {
  val Names: Seq[String] = Seq("kb_serve", "curate_spine")

  /** One set-up: writes the workload's generated inputs to `dir`, then runs
    * the engine calls that come before its first operation. */
  def setUp(name: String, spark: SparkSession, seed: Long, dir: String): Unit =
    name match {
      case "kb_serve" =>
        writeDocs(spark, Gen.corpus(Gen.rng(seed, 0), 0, KbServe.BaseDocs), dir)
        KbServe.prime(spark, dir)
      case "curate_spine" =>
        writeDocs(spark, Gen.spineCorpus(Gen.rng(seed, 0), CurateSpine.Docs), dir)
        CurateSpine.prime(spark, dir)
    }

  def apply(name: String, ctx: Ctx, dir: String): Workload = name match {
    case "kb_serve" => new KbServe(ctx, dir)
    case "curate_spine" => new CurateSpine(ctx, dir)
  }

  /** Writes documents as `dir/documents.parquet` (the fixture layout). */
  def writeDocs(spark: SparkSession, docs: Seq[Doc], dir: String): Unit = {
    import spark.implicits._
    docs.toDF().write.parquet(s"$dir/documents.parquet")
  }
}

/** Exact cosine top-k over an in-memory copy of the corpus vectors, scored
  * like the engine (cosine rounded to 6 places). Ties at the k-th score
  * are all accepted. */
private final class ExactScorer(vectors: Map[Long, Array[Double]]) {
  private val ids = vectors.keys.toArray
  private val memo = mutable.HashMap.empty[String, Set[Long]]

  def topK(q: String, k: Int): Set[Long] = memo.getOrElseUpdate(q, {
    val qv = KbServe.embedQuery(q)
    val scores = ids.map { id =>
      val v = vectors(id)
      var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
      while (i < v.length) { ab += v(i) * qv(i); aa += v(i) * v(i); bb += qv(i) * qv(i); i += 1 }
      val d = math.sqrt(aa) * math.sqrt(bb)
      math.rint((if (d == 0.0) 0.0 else ab / d) * 1e6) / 1e6
    }
    val kth = scores.sorted(Ordering[Double].reverse)(k - 1)
    ids.indices.filter(i => scores(i) >= kth - 2e-6).map(ids).toSet
  })

  /** Share of `hits` that belong to the exact top-k. */
  def recall(q: String, hits: Seq[Long], k: Int): Double =
    math.min(k, hits.distinct.count(topK(q, k))).toDouble / k

  def updated(more: Map[Long, Array[Double]]): ExactScorer = new ExactScorer(vectors ++ more)
}

object KbServe {
  val BaseDocs = 2000
  /** Cells of the routed collection: the reference's collection has 3
    * shards (`BASELINE.md`); searches probe 2 of them (the engine's
    * default `nprobe`). */
  val KCells = 3
  val K = 3
  val EfSearch = 100
  /** Chat turns (each with its ANN probe) answered before the timed loop. */
  val WarmUpTurns = 4
  /** Distinct queries of the stream whose ANN top-3 is scored against the
    * exact top-3 at the end of a run. */
  val RecallQueries = 64
  /** Lowest acceptable mean ANN recall@3 over those queries. Twenty seeds
    * read 0.740 to 0.990 (mean 0.923, standard deviation 0.065): recall
    * moves with how the seed's corpus splits into cells. A floor at the
    * lowest value seen would fail about one new seed in twenty-one, so it
    * sits 0.14 below. */
  val RecallFloor = 0.6
  val Dim: Int = KnnOps.DefaultEmbedDim

  /** The engine's raw query vector for a text (what `topKByText` embeds). */
  def embedQuery(q: String): Array[Double] =
    graft.plans.FeatureHash.embed(UTF8String.fromString(q), Dim).toDoubleArray()

  /** The engine's embedding of a documents table: (vec_id, embedding). */
  def embed(spark: SparkSession, dir: String): DataFrame =
    TextAnalysisOps.embedVectors(spark, dir)
      .select(col("doc_id").as("vec_id"), col("embedding"))

  /** The engine work before the index build: embeds the corpus and stores
    * it as the `embeddings` table in the fixture schema, which the index
    * build and the chat turns' exact path read. */
  def prime(spark: SparkSession, dir: String): Unit =
    embed(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"),
        (col("vec_id") % 10).cast("int").as("label"))
      .write.parquet(s"$dir/embeddings.parquet")
}

/** `kb_serve`: the reference's knowledge-base path. Set-up embeds the
  * corpus; build makes the routed NSW collection, the BM25 stats and the
  * postings from it. The closed loop serves chat turns (`ragEndToEndText`:
  * exact top-3 plus prompt assembly), each followed by an index-served
  * top-3 (`searchStoredRouted`) for the same query. Halfway it runs one
  * ingest round in the reference's shape, one page per upsert request: a
  * new page (so `upsertNsw` inserts in place), then a re-crawled stored
  * page whose text changed (so `upsertNsw` rebuilds that page's cell).
  * Each request goes embed → NSW upsert → BM25 stats → postings and is
  * probed at once (ANN with the page's own vector, which must find it, and
  * BM25); the round ends by compacting the BM25 logs. Chat turns read the
  * corpus snapshot set-up embedded.
  */
final class KbServe(ctx: Ctx, dir: String) extends Workload {
  import KbServe._
  private val spark = ctx.spark
  private val db = "kb"
  private val queries = Gen.queries(Gen.rng(ctx.seed, 1), 4096)
  private val live = mutable.HashMap.empty[Long, Doc]
  private var nextId = BaseDocs.toLong
  private var requestNo = 0
  private var snapshot: ExactScorer = null
  private var current: ExactScorer = null
  private var ingestDocs = 0L
  private val turns, anns, pairs, requests, raws, compactions = ArrayBuffer.empty[Sample]
  private var recall = 0.0
  private var qi = 0

  def build(): Unit = {
    import spark.implicits._
    Tables.documents(spark, dir).as[Doc].collect().foreach(d => live(d.doc_id) = d)
    CatalogOps.createDatabase(spark, db)
    ctx.tracer.layer("CatalogOps.createNswRoutedCollection", BaseDocs, writes = true) {
      CatalogOps.createNswRoutedCollection(spark, db, "kb",
        Tables.embeddings(spark, dir).select("vec_id", "embedding"), kCells = KCells)
    }
    ctx.tracer.layer("CatalogOps.createBm25Stats", BaseDocs, writes = true) {
      CatalogOps.createBm25Stats(spark, db, "kb", Tables.documents(spark, dir))
    }
    ctx.tracer.layer("CatalogOps.createPostings", BaseDocs, writes = true) {
      CatalogOps.createPostings(spark, db, "kb", Tables.documents(spark, dir))
    }
  }

  private def vectorsOf(df: DataFrame): Map[Long, Array[Double]] =
    df.select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

  def warmUp(): Unit = {
    snapshot = new ExactScorer(vectorsOf(Tables.embeddings(spark, dir)))
    current = snapshot
    queries.takeRight(WarmUpTurns).foreach { q =>
      TextOps.ragEndToEndText(spark, dir, q, K).collect()
      annProbe(embedQuery(q))
    }
  }

  private def annProbe(qv: Array[Double]): Array[Row] =
    ctx.tracer.layer("GraphAnnOps.searchStoredRouted") {
      GraphAnnOps.searchStoredRouted(spark, db, "kb", qv, K, EfSearch).collect()
    }

  /** Doc ids cited by a turn's citation block, in rank order. */
  private def cited(rows: Array[Row]): Seq[Long] =
    rows.headOption.toSeq.flatMap(_.getAs[String]("citations").split("\n\n").drop(1))
      .map(_.trim.split("\\s+").last.toLong)

  /** One chat turn, then the index-served top-3 for the same query. */
  private def serve(): Unit = {
    val q = queries(qi % queries.length)
    qi += 1
    val top = snapshot.topK(q, K)
    val turn = ctx.tracer.request("rag_turn") {
      // traced runs also time the turn's retrieval on its own
      if (ctx.tracer.enabled) ctx.tracer.layer("KnnOps.topKByText") {
        KnnOps.topKByText(spark, dir, q, K).collect()
      }
      ctx.op("rag_turn") {
        ctx.tracer.layer("TextOps.ragEndToEndText") {
          TextOps.ragEndToEndText(spark, dir, q, K).collect()
        }
      } { rows =>
        val ids = cited(rows)
        ids.length == K && ids.distinct.length == K && ids.forall(top)
      }
    }
    val ann = ctx.tracer.request("ann_probe") {
      ctx.op("ann_topk")(annProbe(embedQuery(q)))(_.length == K)
    }
    turn.foreach(turns += _)
    ann.foreach(anns += _)
    for (t <- turn; a <- ann) pairs += Sample(t.ms + a.ms, t.cpuMs + a.cpuMs)
  }

  /** Writes the next upsert request's page, a new page on even requests and
    * a re-crawl of a stored page on odd ones, and for a re-crawl the stored
    * row under `prior/`. */
  private def nextRequest(): (String, Doc, Option[Doc]) = {
    val r = Gen.rng(ctx.seed, 100 + requestNo)
    val recrawl = requestNo % 2 == 1
    val id = if (recrawl) r.nextInt(nextId.toInt).toLong else nextId
    val d = Gen.doc(r, id, 10 + r.nextInt(91), s"src${id % 20}")
    val prior = if (recrawl) Some(live(id)) else None
    val rdir = ctx.inputDir(s"request$requestNo")
    Workload.writeDocs(spark, Seq(d), rdir)
    prior.foreach(p => Workload.writeDocs(spark, Seq(p), s"$rdir/prior"))
    if (!recrawl) nextId += 1
    requestNo += 1
    (rdir, d, prior)
  }

  /** One upsert request through embed → NSW upsert → BM25 stats →
    * postings; a re-crawled page first retracts its stored BM25 partials.
    * Returns the page's embedding. */
  private def upsert(rdir: String, recrawl: Boolean): DataFrame = {
    val emb = ctx.tracer.layer("TextAnalysisOps.embedVectors", 1) {
      embed(spark, rdir).localCheckpoint()
    }
    ctx.tracer.layer("CatalogOps.upsertNsw", 1, writes = true) {
      CatalogOps.upsertNsw(spark, db, "kb", emb)
    }
    if (recrawl) {
      val prior = Tables.documents(spark, s"$rdir/prior")
      ctx.tracer.layer("CatalogOps.removeBm25Stats", 1, writes = true) {
        CatalogOps.removeBm25Stats(spark, db, "kb", prior)
      }
      ctx.tracer.layer("CatalogOps.removePostings", 1, writes = true) {
        CatalogOps.removePostings(spark, db, "kb", prior)
      }
    }
    ctx.tracer.layer("CatalogOps.upsertBm25Stats", 1, writes = true) {
      CatalogOps.upsertBm25Stats(spark, db, "kb", Tables.documents(spark, rdir))
    }
    ctx.tracer.layer("CatalogOps.upsertPostings", 1, writes = true) {
      CatalogOps.upsertPostings(spark, db, "kb", Tables.documents(spark, rdir))
    }
    emb
  }

  private def liveDocsInStats(): Double =
    spark.table(s"`$db`.`kb__bm25stats`").agg(sum(col("n"))).head().getDouble(0)

  /** One upsert request, then its read-after-write probe: the page's own
    * vector must find it, and a BM25 query of its first words must return
    * three hits. */
  private def ingestRequest(): Unit = {
    val (rdir, d, prior) = nextRequest()
    var emb: DataFrame = null
    ctx.tracer.request("upsert") {
      ctx.op("upsert")(upsert(rdir, prior.isDefined)) { e => emb = e; true }
    }.foreach { s => requests += s; ingestDocs += 1 }
    if (emb != null) {
      live(d.doc_id) = d
      val v = vectorsOf(emb)
      current = current.updated(v)
      ctx.tracer.request("read_after_write") {
        ctx.op("read_after_write") {
          val ann = annProbe(v(d.doc_id))
          val bm = ctx.tracer.layer("RetrievalOps.bm25TopKIndexedOn") {
            RetrievalOps.bm25TopKIndexedOn(spark, db, "kb",
              d.text.split(" ").take(Gen.QueryWords).mkString(" "), K).collect()
          }
          (ann, bm)
        } { case (ann, bm) => ann.exists(_.getLong(0) == d.doc_id) && bm.length == K }
          .foreach(raws += _)
      }
    }
  }

  /** A new page, a re-crawled page, then compaction of both BM25 logs. */
  private def ingestRound(): Unit = {
    ingestRequest()
    ingestRequest()
    ctx.tracer.request("compaction") {
      ctx.op("compaction") {
        ctx.tracer.layer("CatalogOps.compactBm25Stats", live.size.toLong) {
          CatalogOps.compactBm25Stats(spark, db, "kb")
        }
        ctx.tracer.layer("CatalogOps.compactPostings", live.size.toLong, writes = true) {
          CatalogOps.compactPostings(spark, db, "kb")
        }
      }(_ => true).foreach(compactions += _)
    }
    ctx.verify("BM25 stats doc count equals live docs after compaction")(
      liveDocsInStats() == live.size.toDouble)
  }

  /** Serves for `seconds / 2`, runs one ingest round, then serves for
    * another `seconds / 2`; each serving phase answers at least one turn. */
  def run(seconds: Double): Unit = {
    def serveFor(s: Double): Unit = {
      val end = System.nanoTime() + (s * 1e9).toLong
      do serve() while (System.nanoTime() < end)
    }
    serveFor(seconds / 2)
    ingestRound()
    serveFor(seconds / 2)
  }

  /** Mean recall@3 of the routed ANN search over the stream's first
    * [[KbServe.RecallQueries]] distinct queries, in one batch
    * (`searchStoredRoutedBatch` returns what `searchStoredRouted` returns
    * per query). */
  private def annRecall(): Double = {
    import spark.implicits._
    val qs = queries.distinct.take(RecallQueries)
    val hits = GraphAnnOps.searchStoredRoutedBatch(spark, db, "kb",
        qs.indices.map(i => (i.toLong, embedQuery(qs(i)).toSeq)).toDF("query_id", "q_embedding"),
        K, EfSearch)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (i, rs) => i -> rs.map(_.getLong(1)).toSeq }
    qs.indices.map(i => current.recall(qs(i), hits.getOrElse(i.toLong, Nil), K)).sum / qs.length
  }

  def finish(): Unit = {
    ctx.verify(s"ann_recall_at_3 >= $RecallFloor") {
      recall = annRecall()
      recall >= RecallFloor
    }
    ctx.verify("BM25 stats doc count equals live docs at the end")(
      liveDocsInStats() == live.size.toDouble)
  }

  def opSamples: Seq[Sample] = pairs.toSeq
  private def ingestWork = (requests ++ compactions).toSeq
  def cpuMsPerDoc: Double = ingestWork.map(_.cpuMs).sum / math.max(1L, ingestDocs)
  /** Docs upserted ÷ wall time of the requests and the compaction. */
  def ingestDocsPerS: Double = ingestDocs / math.max(1e-9, ingestWork.map(_.ms).sum / 1e3)
  /** The engine's KB tables (NSW collection, BM25 stats, postings) on disk. */
  def storedBytesPerDoc: Double =
    ctx.bytesUnder(new File(ctx.warehouse, s"$db.db")).toDouble / live.size

  def report: Seq[Metric] = {
    def pcts(name: String, xs: Seq[Sample]) =
      if (xs.isEmpty) Nil
      else Seq(Metric(s"${name}_p50_ms", Stats.percentile(xs.map(_.ms), 50), "ms"),
        Metric(s"${name}_p90_ms", Stats.percentile(xs.map(_.ms), 90), "ms"),
        Metric(s"${name}_samples", xs.length.toDouble, "count"))
    pcts("rag_turn", turns.toSeq) ++ pcts("ann_topk", anns.toSeq) ++
      Seq(Metric("ann_recall_at_3", recall, "ratio"),
        Metric("ingest_docs_per_s", ingestDocsPerS, "docs/s")) ++
      pcts("read_after_write", raws.toSeq) ++
      Seq(Metric("upsert_requests", requests.length.toDouble, "count"),
        Metric("compactions", compactions.length.toDouble, "count"),
        Metric("live_docs", live.size.toDouble, "docs"))
  }
}

object CurateSpine {
  val Docs = 3000

  /** The engine work before the first rep: archives the corpus as WARC
    * members and parses and extracts them (the spine's first stage), forced
    * by summing the extracted text lengths. */
  def prime(spark: SparkSession, dir: String): Unit =
    WarcOps.extractOf(WarcOps.plantedSpineMembers(spark, dir))
      .agg(sum(length(col("text")))).collect()
}

/** `curate_spine`: crawl → archive → curate → export. Each rep plans the
  * next crawl cycle (`crawlPlan`), then runs the archive spine's verified
  * export (`spineExportVerified`) over a generated fixture-like corpus
  * (see [[Gen.spineCorpus]]). Build runs the other form of the export
  * once, cold: the traced run's reps run the export split into the calls
  * `spineExportVerified` composes, so its build runs the single call, and
  * the untraced run the other way round. Every rep's manifest must equal
  * the build's.
  */
final class CurateSpine(ctx: Ctx, dir: String) extends Workload {
  import CurateSpine._
  private val spark = ctx.spark
  private val reps = ArrayBuffer.empty[Sample]
  private var manifest: Seq[Row] = Nil
  private var survivors = -1L
  private var extracted = -1L

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** The verified export, split into the calls `spineExportVerified`
    * composes, in its order, each forced at its boundary. */
  private def splitExport(): Seq[Row] = {
    val xdocs = ctx.tracer.layer("WarcOps.extractOf") {
      WarcOps.extractOf(WarcOps.plantedSpineMembers(spark, dir)).localCheckpoint()
    }
    val (evalNg, ded) = ctx.tracer.layer("WarcOps.batchGateInputs") {
      val (e, f) = WarcOps.batchGateInputs(xdocs)
      (e.localCheckpoint(), f.localCheckpoint())
    }
    extracted = xdocs.count()
    val surv = ctx.tracer.layer("WarcOps.funnelSurvivors", extracted) {
      WarcOps.funnelSurvivors(xdocs, evalNg, ded).localCheckpoint()
    }
    survivors = surv.count()
    // survivorDocs' join back to the extracted text feeds the export
    val docs = surv.select(col("doc_id"))
      .join(xdocs.select(col("doc_id"), col("text")), Seq("doc_id"))
    ctx.tracer.layer("CatalogOps.exportShardedVerified", survivors, writes = true) {
      rows(CatalogOps.exportShardedVerified(spark, "spine", "docs", docs,
        repartitionTasks = 16))
    }
  }

  private def singleExport(): Seq[Row] =
    ctx.tracer.layer("WarcOps.spineExportVerified") {
      rows(WarcOps.spineExportVerified(spark, dir))
    }

  private def crawlPlan(): Array[Row] = ctx.tracer.layer("FrontierOps.crawlPlan") {
    FrontierOps.crawlPlan(spark, dir).collect()
  }

  def build(): Unit =
    manifest = if (ctx.tracer.enabled) singleExport() else splitExport()

  def warmUp(): Unit = ()

  /** Reps for `seconds`, at least one. */
  def run(seconds: Double): Unit = {
    val deadlineNs = System.nanoTime() + (seconds * 1e9).toLong
    var attempts = 0
    while (System.nanoTime() < deadlineNs || attempts == 0) {
      attempts += 1
      ctx.tracer.request("spine_rep") {
        ctx.op("spine_rep") {
          (crawlPlan(), if (ctx.tracer.enabled) splitExport() else singleExport())
        } { case (plan, m) => plan.nonEmpty && m.nonEmpty && m == manifest }
          .foreach(reps += _)
      }
    }
  }

  def finish(): Unit =
    ctx.verify("export manifest totals equal the survivor count")(
      manifest.nonEmpty && manifest.map(_.getAs[Long]("n_docs")).sum == survivors)

  def opSamples: Seq[Sample] = reps.toSeq
  def cpuMsPerDoc: Double =
    if (reps.isEmpty) 0.0 else Stats.median(reps.map(_.cpuMs).toSeq) / Docs
  def storedBytesPerDoc: Double = {
    val db = if (ctx.tracer.enabled) "spine" else "graft_spineexport"
    ctx.bytesUnder(new File(ctx.warehouse, s"$db.db")).toDouble / math.max(1L, survivors)
  }
  override def survivorFrac: Double =
    if (extracted <= 0) 0.0 else survivors.toDouble / extracted

  def report: Seq[Metric] = Seq(
    Metric("spine_docs_per_s",
      if (reps.isEmpty) 0.0 else Docs / (Stats.median(reps.map(_.ms).toSeq) / 1e3), "docs/s"),
    Metric("spine_survivors", survivors.toDouble, "docs"))
}
