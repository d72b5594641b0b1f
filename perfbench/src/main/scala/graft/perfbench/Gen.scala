package graft.perfbench

import scala.util.Random

/** One row of the `documents` fixture schema. */
final case class Doc(doc_id: Long, text: String, lang: String, source: String,
    n_chars: Long)

/** Seeded input generator. Every input a workload feeds the engine comes
  * from here: the same seed gives the same corpus, query stream and upsert
  * requests. Text keeps the documents fixture's vocabulary and schema:
  * whitespace-joined words from the same 31-word list, `lang` in
  * {de, en, es, fr, zh} with English the largest share, and `source` in
  * src0..src19, where src19 is the decontamination eval source.
  */
object Gen {
  val Vocab: IndexedSeq[String] = IndexedSeq("a", "agg", "batch", "big",
    "column", "customer", "data", "dup", "fast", "filter", "group", "hash",
    "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")

  private val OtherLangs = IndexedSeq("de", "es", "fr", "zh")

  /** A derived stream's generator: distinct streams of one seed never
    * share random draws. */
  def rng(seed: Long, stream: Long): Random =
    new Random(seed * 1000003L + stream * 7919L + 17L)

  private def lang(r: Random): String =
    if (r.nextDouble() < 0.41) "en" else OtherLangs(r.nextInt(OtherLangs.length))

  private def words(r: Random, n: Int): String =
    Iterator.fill(n)(Vocab(r.nextInt(Vocab.length))).mkString(" ")

  def doc(r: Random, id: Long, nWords: Int, source: String): Doc = {
    val t = words(r, nWords)
    Doc(id, t, lang(r), source, t.length.toLong)
  }

  /** Fixture-like documents with ids [from, from + n), drawn as the sf0.1
    * `documents` fixture reads: 10..100 words, about uniform; English 41%
    * (2,059 of 5,000), the other four languages evenly; source =
    * src(id mod 20). */
  def corpus(r: Random, from: Long, n: Int): IndexedSeq[Doc] =
    (0 until n).map { i =>
      val id = from + i
      doc(r, id, 10 + r.nextInt(91), s"src${id % 20}")
    }

  /** Documents whose text repeats an earlier document's, per 5,000
    * documents: the sf0.1 `documents` fixture has 8 such pairs in 5,000. */
  val DupsPer5000 = 8

  /** The curation spine's corpus: [[corpus]] (so src19, the eval source,
    * is every 20th document, and 10..19-word documents fall under the
    * 20-word Gopher floor as in the fixture) with the fixture's share of
    * exact duplicates: round(n * 8 / 5000) documents, at seeded positions,
    * copy the text of a seeded earlier document.
    */
  def spineCorpus(r: Random, n: Int): IndexedSeq[Doc] = {
    val out = corpus(r, 0, n).toArray
    val dups = math.round(n * DupsPer5000 / 5000.0).toInt
    r.shuffle((1 until n).toIndexedSeq).take(dups).sorted.foreach { i =>
      val t = out(r.nextInt(i)).text
      out(i) = out(i).copy(text = t, n_chars = t.length.toLong)
    }
    out.toIndexedSeq
  }

  /** Words per chat query: the engine's own text query
    * (`SparkEntry.KnnTextQuery`, "fast vector query scan") and the BM25
    * probes of PERF_NOTES.md have four terms. */
  val QueryWords = 4
  /** Zipf exponent of query words: the Zipfian corpus of
    * `graft.RetrievalScale` (PERF_NOTES.md) uses 1.07. */
  val ZipfS = 1.07

  /** Chat queries of [[QueryWords]] words, each drawn from a Zipf([[ZipfS]])
    * law over a seeded permutation of the vocabulary, so popular words (and
    * some whole queries) repeat. */
  def queries(r: Random, n: Int): IndexedSeq[String] = {
    val ranked = r.shuffle(Vocab)
    val weights = ranked.indices.map(k => 1.0 / math.pow(k + 1, ZipfS))
    val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    def draw(): String = {
      val k = cdf.indexWhere(_ >= r.nextDouble())
      ranked(if (k < 0) ranked.length - 1 else k)
    }
    (0 until n).map(_ => Iterator.fill(QueryWords)(draw()).mkString(" "))
  }
}
