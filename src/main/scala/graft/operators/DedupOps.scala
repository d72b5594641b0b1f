package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.{CatalogOps, Tables}
import BoundedCollect.{LocalMaxEdges, collectAtMost}

/** Deduplication for LLM training-data pipelines, over the `documents`
  * corpus (the crawl-collection analog; the reference's only write semantics
  * is overwrite-by-id, `TencentVDB.py:69-70,79` — everything beyond that is
  * the north-star pipeline surface).
  *
  * Four escalating strategies, each with the 100 TB plan shape:
  *  - exact: hash-groupBy on a content digest — one shuffle on the digest,
  *    group sizes are tiny (collision sets), no skew concern.
  *  - exact set-similarity (Jaccard): all-pairs baseline for the oracle;
  *    size-ratio blocking prunes the quadratic pair space.
  *  - MinHash + banded LSH: signature equi-join replaces the cross join —
  *    the standard near-dup plan at web scale (shuffle on band keys, exact
  *    rescore only on bucket collisions).
  *  - SimHash: 64-bit fingerprint; pigeonhole chunk-blocking gives EXACT
  *    hamming-≤3 recall with 4 equi-joins on 16-bit chunks.
  * Plus embedding-space near-dup (cosine) in [[KnnOps]] style.
  */
object DedupOps {

  import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
  import graft.plans.SortedIntersectSize

  /** NFC-normalize before anything byte-keyed (r15, SURVEY's own argument
    * for q_text_normalize): the same visible string arrives precomposed or
    * decomposed from different crawls, and shingles that hash raw bytes
    * treat the two as different documents — the twin pair the exact
    * digest (q_dedup_unicode) collapses would still be two documents to
    * every fuzzy path. ASCII rows return the input OBJECT (the
    * [[graft.plans.NfcNormalize]] zero-allocation fast path), so on
    * byte-clean corpora every hash, signature and stored artifact is
    * unchanged — the flipped default is free where it doesn't matter and
    * correct where it does (pinned: q_dedup_minhash_unicode).
    */
  private def nfc(c: Column): Column =
    toCol(graft.plans.NfcNormalize(toExpr(c)))

  /** Distinct word set of a document — the shingle unit for set-similarity,
    * NFC-first. (Word 1-grams; the fixture vocabulary is word-bag text. For
    * real corpora swap in character n-gram shingles — same plan shape.)
    */
  private def tokenSet(c: Column): Column = array_distinct(split(nfc(c), " "))

  /** Sorted variant — the build-side invariant of [[SortedIntersectSize]]
    * (sort ONCE per row at build time, not per pair).
    */
  private def tokenSetSorted(c: Column): Column = array_sort(tokenSet(c))

  /** 64-bit token bitmap: OR of (1 << xxhash64(token) mod 64) — a 1-word
    * set sketch evaluated as two long ops per PAIR inside the join loop.
    * Used only as a conservative prefilter; exact verification follows.
    */
  private def tokenBitmap(c: Column): Column =
    aggregate(tokenSet(c), lit(0L), (acc, t) =>
      acc.bitwiseOR(call_function("shiftleft", lit(1L),
        pmod(xxhash64(t), lit(64L)).cast("int"))))

  /** Bitmap-Jaccard prefilter: bit_count(a&b)/bit_count(a|b). For j ≥ 0.95
    * pairs the true sets differ by ≤ ⌊|U|/20⌋ elements, so the bitmaps
    * differ in at most that many positions — the ratio stays well above the
    * 0.8 cut (margin for hash collisions; validated against the exact
    * brute-force oracle on the fixtures). False positives are harmless
    * (exact verify follows); the margin guards false negatives.
    */
  private def bitmapPrefilter(aBm: Column, bBm: Column, cut: Double): Column =
    bit_count(aBm.bitwiseAND(bBm)).cast("double") /
      bit_count(aBm.bitwiseOR(bBm)) >= cut

  /** Exact Jaccard from a codegen'd sorted-merge intersection size:
    * j = i / (|A| + |B| - i). Identical integer inputs → identical IEEE
    * division as DuckDB's len(list_intersect)/len(list_distinct(list_cat)).
    */
  private def jaccardFast(aS: Column, bS: Column, aN: Column, bN: Column): Column = {
    val i = toCol(SortedIntersectSize(toExpr(aS), toExpr(bS)))
    i.cast("double") / (aN + bN - i)
  }

  /** Dictionary-encoded EXACT bitset sets, when the corpus vocabulary fits
    * one machine word: probe the distinct-token count (a one-scalar stats
    * job, like the dim probe in [[KnnOps.simJoinLsh]]); if ≤ 64, assign each
    * token a dictionary bit and represent every document's word set as a
    * single long. Set ops then collapse to TWO LONG INSTRUCTIONS per pair —
    * no array columns ride through the pair join at all. Collision-free by
    * construction, so |I| = bit_count(a&b) and |U| = |A|+|B|-|I| are EXACT
    * (same integers as the brute-force oracle). Above 64 tokens the SAME
    * idea runs at corpus scale as [[jaccardPairsDictOn]]: multi-word
    * bitsets over a frequency-pruned vocabulary, with rare tokens as a
    * sorted residual.
    */
  /** Probe, don't collect: pull at most 65 distinct tokens — the full
    * vocabulary reaches the driver only when it provably fits 64 bits.
    */
  private[graft] def probeVocab(docs: DataFrame): Option[Seq[String]] =
    probeVocabTokens(docs.select(tokenSet(col("text")).as("s")))

  /** [[probeVocab]] over a prebuilt token-array frame (r20) — callers
    * that already materialize the token sets probe them instead of
    * re-tokenizing the raw text.
    */
  private[graft] def probeVocabTokens(toks: DataFrame): Option[Seq[String]] =
    collectAtMost(toks.select(explode(col("s")).as("t")).distinct(), 64)
      .map(_.map(_.getString(0)).toSeq.sorted)

  private def exactBitsets(docs: DataFrame): Option[DataFrame] = {
    probeVocab(docs).map { vocab =>
      val vlit = typedLit(vocab)
      val bm = aggregate(tokenSet(col("text")), lit(0L), (acc, t) =>
        acc.bitwiseOR(call_function("shiftleft", lit(1L),
          (array_position(vlit, t) - 1).cast("int"))))
      // Cached: reused by both join sides / verify stages without
      // recomputing the tokenize+dictionary pass (tiny: 2 longs per doc).
      docs.select(col("doc_id"), bm.as("bm"))
        .withColumn("n", bit_count(col("bm")).cast("int")).cache()
    }
  }

  /** Exact Jaccard over dictionary bitsets (two longs in, one double out). */
  private def jaccardBitset(aBm: Column, bBm: Column, aN: Column, bN: Column): Column = {
    val i = bit_count(aBm.bitwiseAND(bBm))
    i.cast("double") / (aN + bN - i)
  }

  /** The dedup corpus: documents plus a simulated re-crawl of every 5th doc
    * under a surrogate id — so exact dedup has actual duplicates to remove.
    */
  private def corpusWithDups(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    docs.unionAll(
      docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
  }

  /** Exact dedup: group by content digest, keep the lowest id (deterministic
    * winner). One shuffle on the md5 digest; at 100 TB digests distribute
    * uniformly so there is no aggregation skew.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id").asc)
    corpusWithDups(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id").asc)
  }

  /** Exact word-set Jaccard near-dup pairs (j ≥ τ) — the oracle-checkable
    * baseline for MinHash. Dictionary-bitset vocabularies keep the
    * blocked pair loop (two long ops per pair beats any candidate
    * machinery at that width); the general-vocabulary path generates
    * candidates with the standard rare-token PREFIX FILTER
    * ([[jaccardPairsPrefixOn]]) instead of enumerating pairs — exact, and
    * the pair space never materializes.
    */
  def jaccardPairs(spark: SparkSession, dir: String, tau: Double = 0.95): DataFrame =
    jaccardPairsOn(Tables.documents(spark, dir).select(col("doc_id"), col("text")), tau)

  /** Corpus-parametric form of [[jaccardPairs]] (docs: doc_id, text) —
    * lets tests drive BOTH set representations, incl. the >64-token
    * fallback the fixtures never reach.
    */
  private[graft] def jaccardPairsOn(docs: DataFrame, tau: Double): DataFrame = {
    val spread = docs.sparkSession.sparkContext.defaultParallelism
    exactBitsets(docs) match {
      case Some(ws) =>
        // Stream-side spread: see [[KnnOps.simJoin]] (one-file fixture = one
        // BNLJ thread otherwise).
        val a = ws.select(col("doc_id").as("a_id"), col("bm").as("a_bm"), col("n").as("a_n"))
          .repartition(spread)
        val b = ws.select(col("doc_id").as("b_id"), col("bm").as("b_bm"), col("n").as("b_n"))
        a.join(b, col("a_id") < col("b_id"))
          .withColumn("j", jaccardBitset(col("a_bm"), col("b_bm"), col("a_n"), col("b_n")))
          .filter(col("j") >= tau)
          .select(col("a_id"), col("b_id"), round(col("j"), 6).as("jac"))
          .orderBy(col("a_id").asc, col("b_id").asc)
      case None => jaccardPairsDictOn(docs, tau)
    }
  }

  /** Prefix-filter candidate pairs over a prebuilt (doc_id, n, t) token
    * frame — one row per (doc, distinct token); the shared candidate
    * generator of the general-vocabulary paths (see
    * [[jaccardPairsPrefixOn]] for the SSJoin/AllPairs argument): under
    * the ascending-document-frequency token order, an equi-join on each
    * doc's first |X| − ⌈τ·|X|⌉ + 1 tokens generates EVERY j ≥ τ pair,
    * with the size-ratio block in the join condition. Callers feed an
    * already-materialized token frame (the cached `ws` of
    * [[jaccardPairsPrefixOn]], the cached shingle arrays of
    * [[jaccardPairsDictTokensOn]]), so the tau-sensitive prefix-length
    * rule and the size-ratio block live in exactly one place. Output:
    * distinct (a_id, b_id).
    */
  private def prefixCandidatesFromTok(tok: DataFrame, tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau out of range: $tau")
    // document-frequency join dispatches on the MEASURED vocabulary size
    // (r19 optimization round, the lmBigramScoreOn statistics discipline):
    // under the shared ceiling the df table broadcasts and the exploded
    // token frame never shuffles on the token key for the join (the
    // per-doc prefix window still exchanges by doc_id, as it must);
    // heaps-law vocabularies above the ceiling hash-join as before
    val dfreq0 = tok.groupBy(col("t")).agg(count(lit(1)).as("df"))
      .localCheckpoint(false)
    val dfreq = if (dfreq0.count() <= ShingleDfBroadcastMaxTypes)
      broadcast(dfreq0) else dfreq0
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("t").asc)
    // r20: (a) the prefix frame localCheckpoints — the self-join below
    // otherwise re-runs the whole dfreq-join + per-doc window chain once
    // PER SIDE (the before-plan carried two full window subtrees); the
    // frame is tiny (≈(1−τ)·|X| rows per doc). (b) the join key is the
    // token's 64-bit hash, not the raw string (§2.3: shuffle keys, not
    // payloads — shingle keys are multi-word strings): equal tokens
    // always hash equal so recall is unchanged, and a stray collision
    // only adds a candidate the callers' EXACT verify already rejects.
    val prefix = tok.join(dfreq, "t")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("n") - ceil(col("n") * tau) + 1)
      .select(xxhash64(col("t")).as("th"), col("doc_id"), col("n"))
      .localCheckpoint(false)
    val pl = prefix.select(col("th"), col("doc_id").as("a_id"), col("n").as("a_n"))
    val pr = prefix.select(col("th").as("th_r"), col("doc_id").as("b_id"), col("n").as("b_n"))
    pl.join(pr,
        col("th") === col("th_r") && col("a_id") < col("b_id") &&
          col("b_n") >= ceil(col("a_n") * tau) && col("b_n") <= floor(col("a_n") / tau))
      .select(col("a_id"), col("b_id")).distinct()
  }

  /** The multi-word-bitset general path — the ≤64-token dictionary trick at
    * CORPUS vocabulary: a frequency-pruned dictionary (top `maxBits` tokens
    * by document frequency — one map-side-combined aggregation whose output
    * is bounded at `maxBits` rows, collected like any broadcast model)
    * turns the frequent bulk of every document's word set into
    * ⌈maxBits/64⌉ machine words ([[graft.plans.DictEncode]]); the rare
    * remainder stays a short sorted residual array. Candidates come from
    * the same exact prefix filter as [[jaccardPairsPrefixOn]]; verification
    * is Σ popcount word ops ([[graft.plans.BitsetIntersectSize]]) plus a
    * residual sorted-merge — EXACT at any vocabulary (a dictionary, not a
    * hash: |I| = bitset part + residual part, same integers as the
    * brute-force oracle). vs the token-array prefix path the verify joins
    * move W longs + a few rare tokens per doc instead of the whole token
    * array, and the per-pair merge loop collapses to word ops — measured
    * in [[graft.DedupScale]] at 30k docs / 10k-word vocabulary.
    */
  private[graft] def jaccardPairsDictOn(docs: DataFrame, tau: Double,
      maxBits: Int = 4096): DataFrame =
    jaccardPairsDictTokensOn(
      docs.select(col("doc_id"), tokenSet(col("text")).as("s")), tau, maxBits)

  /** Token-array-parametric core of [[jaccardPairsDictOn]] (r20): takes a
    * prebuilt (doc_id, s) frame — s a DISTINCT token array — and CACHES
    * it, so the dictionary build, the dictionary encode, the prefix
    * candidate stage and the verify join-backs all read one materialized
    * frame. Callers whose token derivation is expensive (the bigram
    * shingles of [[ngramJaccardPairs]]: the before-plan re-ran the
    * O(|doc|²)-ish shingle construction in FIVE subtrees) pay it exactly
    * once (guide §1.2 step 1).
    */
  private[graft] def jaccardPairsDictTokensOn(toks0: DataFrame, tau: Double,
      maxBits: Int = 4096): DataFrame = {
    import graft.plans.BitsetIntersectSize
    require(maxBits >= 64, s"dictionary must hold at least one word: $maxBits")
    val toks = toks0.cache()
    val vocab = toks.select(explode(col("s")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("t").asc).limit(maxBits)
      .collect().map(_.getString(0)).toSeq
    if (vocab.isEmpty) { // empty corpus: keep the output schema
      return toks.select(col("doc_id").as("a_id"), col("doc_id").as("b_id"),
        lit(0.0).as("jac")).limit(0)
    }
    val enc = toCol(graft.plans.DictEncode(toExpr(col("s")), vocab))
    // cached: read by both verify join-backs (tiny: W longs + rare residue)
    val ws = toks.select(col("doc_id"), enc.as("e"))
      .select(col("doc_id"), col("e.bm").as("bm"), col("e.rest").as("rest"),
        col("e.n").as("n"))
      .cache()
    val i = (toCol(BitsetIntersectSize(toExpr(col("a_bm")), toExpr(col("b_bm")))) +
      toCol(SortedIntersectSize(toExpr(col("a_rest")), toExpr(col("b_rest")))))
      .cast("int")
    prefixCandidatesFromTok(
        toks.select(col("doc_id"), size(col("s")).as("n"),
          explode(col("s")).as("t")), tau)
      .join(ws.select(col("doc_id").as("a_id"), col("bm").as("a_bm"),
        col("rest").as("a_rest"), col("n").as("a_n")), "a_id")
      .join(ws.select(col("doc_id").as("b_id"), col("bm").as("b_bm"),
        col("rest").as("b_rest"), col("n").as("b_n")), "b_id")
      .withColumn("i", i)
      .withColumn("j", col("i").cast("double") / (col("a_n") + col("b_n") - col("i")))
      .filter(col("j") >= tau)
      .select(col("a_id"), col("b_id"), round(col("j"), 6).as("jac"))
      .orderBy(col("a_id").asc, col("b_id").asc)
  }

  /** Blocked all-pairs general path — the pre-candidate formulation, kept
    * as the measurement baseline ([[graft.DedupScale]]) and the
    * brute-force cross-check in tests. Three pruning layers run INSIDE
    * the pair loop, cheapest first: size-ratio block, 64-bit bitmap
    * prefilter, exact sorted-merge intersection. Still O(n²) enumeration.
    */
  private[graft] def jaccardPairsBlockedOn(docs: DataFrame, tau: Double): DataFrame = {
    val spread = docs.sparkSession.sparkContext.defaultParallelism
    val ws = docs
      .select(col("doc_id"), tokenSetSorted(col("text")).as("s"),
        size(tokenSet(col("text"))).as("n"), tokenBitmap(col("text")).as("bm"))
    val a = ws.select(col("doc_id").as("a_id"), col("s").as("a_s"),
      col("n").as("a_n"), col("bm").as("a_bm"))
      .repartition(spread)
    val b = ws.select(col("doc_id").as("b_id"), col("s").as("b_s"),
      col("n").as("b_n"), col("bm").as("b_bm"))
    a.join(b, col("a_id") < col("b_id") &&
        col("b_n") >= ceil(col("a_n") * tau) && col("b_n") <= floor(col("a_n") / tau) &&
        bitmapPrefilter(col("a_bm"), col("b_bm"), math.max(0.0, tau - 0.25)))
      .withColumn("j", jaccardFast(col("a_s"), col("b_s"), col("a_n"), col("b_n")))
      .filter(col("j") >= tau)
      .select(col("a_id"), col("b_id"), round(col("j"), 6).as("jac"))
      .orderBy(col("a_id").asc, col("b_id").asc)
  }

  /** Prefix-filter candidate generation (SSJoin/AllPairs): under any
    * global token order, two sets with J ≥ τ MUST share a token within
    * their first |X| − ⌈τ·|X|⌉ + 1 tokens — so an equi-join on prefix
    * tokens generates every qualifying pair without enumerating the pair
    * space. The global order is ascending DOCUMENT FREQUENCY (rare
    * first): prefixes then hold the rarest tokens, so join buckets stay
    * small (the frequency agg is one map-side-combined pass whose output
    * is the vocabulary, and the per-doc prefix is one window over the
    * exploded tokens). Size-ratio block in the join condition, hashed-
    * bitmap prefilter + codegen sorted-merge verify after the distinct —
    * exact by construction, candidate-then-verify in shape, like
    * [[minHashLsh]] but with zero miss probability.
    *
    * Measured ([[graft.DedupScale]], 30k docs / 10k-word vocabulary, 20%
    * planted near-dups, τ=0.9): blocked all-pairs 668.7 s → 17.3 s
    * (39×) with identical pairs; the minhash band join is still ~2.7×
    * faster (6.4 s) at a ~1e-8 per-pair miss — this path is what EXACT
    * general-vocabulary dedup costs at scale.
    */
  private[graft] def jaccardPairsPrefixOn(docs: DataFrame, tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau out of range: $tau")
    // read by the prefix build and both verify join-backs
    val ws = docs
      .select(col("doc_id"), tokenSetSorted(col("text")).as("s"),
        size(tokenSet(col("text"))).as("n"), tokenBitmap(col("text")).as("bm"))
      .cache()
    val candidates = prefixCandidatesFromTok(
      ws.select(col("doc_id"), col("n"), explode(col("s")).as("t")), tau)
    candidates
      .join(ws.select(col("doc_id").as("a_id"), col("s").as("a_s"),
        col("n").as("a_n"), col("bm").as("a_bm")), "a_id")
      .join(ws.select(col("doc_id").as("b_id"), col("s").as("b_s"),
        col("n").as("b_n"), col("bm").as("b_bm")), "b_id")
      .filter(bitmapPrefilter(col("a_bm"), col("b_bm"), math.max(0.0, tau - 0.25)))
      .withColumn("j", jaccardFast(col("a_s"), col("b_s"), col("a_n"), col("b_n")))
      .filter(col("j") >= tau)
      .select(col("a_id"), col("b_id"), round(col("j"), 6).as("jac"))
      .orderBy(col("a_id").asc, col("b_id").asc)
  }

  // ---- MinHash + banded LSH ----

  // Mersenne prime 2^31-1: with a, x < 2^31 the product a·x (< 2^62) wraps
  // the modulus ~2^31 times, so each (a,b) is a genuinely distinct
  // permutation. (A larger prime like 2^61-1 would NOT wrap — h would be
  // monotone in x and every "permutation" would order tokens identically.)
  /** Broadcast ceiling for SHINGLE-grain document-frequency tables
    * (r20, ADVICE): [[TextAnalysisOps.LmBroadcastMaxTypes]] was
    * calibrated for two-short-word bigram rows; RS-joined multi-word
    * shingle keys are several times wider, so a just-under-ceiling
    * table could be a multi-hundred-MB broadcast. The row ceiling
    * shrinks by the width factor to keep the broadcast in the same
    * byte class; above it the df join hash-joins as before (same rows
    * either way).
    */
  private val ShingleDfBroadcastMaxTypes: Long =
    graft.operators.TextAnalysisOps.LmBroadcastMaxTypes / 4

  private val MinhashPrime = (1L << 31) - 1
  private val NumHashes = 16
  private val NumBands = 8 // 8 bands × 2 rows = exactly NumHashes (16)
  /** Deterministic permutation coefficients (fixed seed — results must be
    * reproducible across runs and engines).
    */
  private val (hashA, hashB) = {
    val rnd = new scala.util.Random(20240812L)
    val a = Array.fill(NumHashes)(1L + rnd.nextInt(Int.MaxValue - 1).toLong)
    val b = Array.fill(NumHashes)(rnd.nextInt(Int.MaxValue).toLong)
    (a, b)
  }

  /** MinHash signatures h0..h15 AND the verify-side set representation per
    * doc, in ONE aggregation over the same exploded token stream:
    * h_i(doc) = min over tokens of (a_i·x + b_i) mod p, with x = 31-bit
    * xxhash64 of the token (products stay < 2^62 — no long overflow —
    * while wrapping the 31-bit modulus thoroughly); the set side is a
    * `bit_or` bitmap (dictionary bit when the vocabulary fits one word,
    * hashed bit otherwise) plus, on the general path, the sorted token
    * array for exact verification. One explode + one groupBy(doc_id):
    * shuffle volume is one row per (doc, token) with map-side partial
    * aggregation — the earlier separate signature ⋈ bitmap join cost two
    * extra exchanges for data that was derivable from the same stream.
    */
  private[graft] def minhashSigMeta(docs: DataFrame, vocab: Option[Seq[String]]): DataFrame =
    minhashSigMetaTokens(
      docs.select(col("doc_id"), tokenSet(col("text")).as("s")), vocab)

  /** [[minhashSigMeta]] over a prebuilt (doc_id, s) token-array frame
    * (r20) — the set-collapse stage of [[minHashLshOn]] already pays the
    * tokenize+NFC pass for its content key, so the signature build reads
    * the carried arrays instead of re-tokenizing the text per pass. All
    * downstream aggregations are order-free (min, bit_or, sort_array of
    * collect_list), so a sorted input array yields identical rows.
    */
  private[graft] def minhashSigMetaTokens(toks: DataFrame,
      vocab: Option[Seq[String]]): DataFrame = {
    val bitPos = vocab match {
      case Some(v) => (array_position(typedLit(v), col("t")) - 1).cast("int")
      case None => pmod(xxhash64(col("t")), lit(64L)).cast("int")
    }
    val tok = toks
      .select(col("doc_id"), explode(col("s")).as("t"))
      .select(col("doc_id"),
        xxhash64(col("t")).bitwiseAND(lit(0x7FFFFFFFL)).as("x"),
        call_function("shiftleft", lit(1L), bitPos).as("bit"),
        col("t"))
    val mins = (0 until NumHashes).map { i =>
      min(pmod(lit(hashA(i)) * col("x") + lit(hashB(i)), lit(MinhashPrime))).as(s"h$i")
    }
    val setSide =
      if (vocab.isDefined) Seq(bit_or(col("bit")).as("bm"))
      else Seq(bit_or(col("bit")).as("bm"),
        sort_array(collect_list(col("t"))).as("s"), count(lit(1)).as("n"))
    val aggs = mins ++ setSide
    val base = tok.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    if (vocab.isDefined) base.withColumn("n", bit_count(col("bm")).cast("int"))
    else base.withColumn("n", col("n").cast("int"))
  }

  /** Near-dup SURVIVORS via MinHash + banded LSH: the deduplicated corpus
    * (docs with no lower-id near-duplicate at j ≥ τ).
    *
    * Plan: signatures → explode 8 band keys → self EQUI-join on
    * (band, key) — this is the cross-join replacement: shuffle on band
    * keys, candidate pairs only from bucket collisions → distinct pairs →
    * exact Jaccard rescore → anti-join survivors. With 2-row bands,
    * P(candidate | j) = 1-(1-j²)^8 — per-pair miss (1-0.95²)⁸ ≈ 8.2e-9 at j ≥ 0.95, so the output
    * equals the exact [[jaccardPairs]] dedup on the fixtures (validated
    * against the brute-force oracle).
    *
    * Measured at 10× fixture scale ([[graft.DedupScale]]: 30k docs,
    * 10k-word vocabulary — the general path — 20% planted near-dups at
    * j ≈ 0.95, τ=0.9): blocked all-pairs 668.7 s vs this plan 6.5 s —
    * 103× — with EXACTLY equal survivor sets. This is the quadratic-vs-
    * candidate crossover the banding exists for.
    *
    * Band buckets larger than `maxBucket` are dropped from candidate
    * generation ([[LshGuard]] — recall contract, cost bound, and the
    * measured fixture headroom behind the default).
    */
  def minHashLsh(spark: SparkSession, dir: String, tau: Double = 0.95,
      maxBucket: Int = LshGuard.DefaultMaxBucket): DataFrame =
    minHashLshOn(Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      tau, maxBucket,
      KnnOps.parquetRowCount(spark, s"$dir/documents.parquet"))

  /** `q_dedup_minhash_unicode`: the NFC-first shingle default faced
    * against planted byte-different/NFC-identical twins — the
    * q_dedup_unicode planting (precomposed `café` at +20000, decomposed
    * `cafe`+U+0301 at +40000 on every 9th doc) run through the FUZZY
    * path. With raw-byte shingles the decomposed twin's accented token
    * never matches its precomposed sibling's, so the pair survives as
    * two documents; with NFC-first shingles the twins are identical word
    * SETS (collapsed by the representative step, exact-dup grade) and
    * the +40000 copies are removed. The oracle recomputes the survivor
    * rule brute-force over `nfc_normalize`d token sets — utf8proc vs the
    * engine's own NFC kernel, two independent implementations agreeing
    * through the whole minhash chain.
    */
  def minHashLshUnicode(spark: SparkSession, dir: String,
      tau: Double = 0.95): DataFrame = {
    // r20: ONE scan builds the twin-planted corpus (was: a 3-branch
    // union = three reads of documents.parquet, \u00A76 read-once
    // discipline) \u2014 every doc emits itself, and each 9th doc
    // additionally emits its precomposed and decomposed twins from the
    // same row. Row order differs from the old union, but every
    // consumer downstream is order-free (the setkey collapse is a
    // min-struct aggregation and the output sorts by doc_id).
    val corpus = Tables.documents(spark, dir)
      .select(explode(when(col("doc_id") % 9 === 0,
        array(
          struct(col("doc_id"), col("text")),
          struct((col("doc_id") + 20000L).as("doc_id"),
            concat(col("text"), lit(" caf\u00E9")).as("text")),
          struct((col("doc_id") + 40000L).as("doc_id"),
            concat(col("text"), lit(" cafe\u0301")).as("text"))))
        .otherwise(array(struct(col("doc_id"), col("text"))))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
    minHashLshOn(corpus, tau)
  }

  /** Corpus-parametric form of [[minHashLsh]] — see [[jaccardPairsOn]].
    * Band buckets larger than `maxBucket` are dropped from candidate
    * generation ([[LshGuard]] — recall contract and fixture headroom).
    */
  private[graft] def minHashLshOn(allDocs: DataFrame, tau: Double,
      maxBucket: Int = LshGuard.DefaultMaxBucket,
      knownRows: Option[Long] = None,
      release: Boolean = false): DataFrame = {
    // Collapse identical word-sets to their min-id representative FIRST
    // (exact dedup before near-dup — the real pipeline order). Identical
    // sets share every band, so a C-member cluster would enumerate
    // C(C,2)·bands candidate rows; after the collapse LSH runs on unique
    // sets only. Output-preserving: a non-representative always has its
    // representative as a lower-id j=1 duplicate (never a survivor), and a
    // representative survives iff no lower-id representative of a j ≥ τ
    // neighbor set exists — exactly the survivor rule on representatives.
    // min(struct) = lexicographic = lowest doc_id wins; a partial-capable
    // aggregation (map-side combine), unlike the sort-window formulation
    // which shuffles every row to its setkey partition before ranking.
    // r20: the collapse carries the sorted token ARRAY it already
    // computes for the content key — downstream (vocab probe, signature
    // build) reads the carried arrays instead of re-running the
    // NFC+tokenize pass over the representative text per stage (three
    // full tokenize passes → one). Only doc_id and the token set are
    // ever consumed past this point (survivors are ids; verify reads
    // the sig frame's own sorted list), so text is dropped here.
    val docs = allDocs
      .select(col("doc_id"), tokenSetSorted(col("text")).as("s"))
      .withColumn("setkey", md5(concat_ws(" ", col("s"))))
      .groupBy(col("setkey"))
      .agg(min(struct(col("doc_id"), col("s"))).as("rep"))
      .select(col("rep.doc_id").as("doc_id"), col("rep.s").as("s"))
      .cache() // reused by signatures, bitmaps, verify and the anti-join
    val vocab = probeVocabTokens(docs)
    // cached: the general path reads it for both banding and verify join-backs
    val sig = minhashSigMetaTokens(docs, vocab).cache()
    val bandStructs = (0 until NumBands).map { bnd =>
      struct(lit(bnd).as("band"), xxhash64(col(s"h${2 * bnd}"), col(s"h${2 * bnd + 1}")).as("bkey"))
    }
    // The verify strategy depends on the set representation:
    //  - dictionary bitsets available → verification is TWO LONG OPS, so it
    //    runs INSIDE the band-join condition; nothing but the duplicate ids
    //    (distinct, partial-agg'd map-side) is ever shuffled. No candidate
    //    materialization, no verify joins.
    //  - general vocabulary → hashed-bitmap prefilter in the join condition,
    //    distinct candidate pairs, then join token arrays back and verify
    //    with the codegen'd sorted-merge intersection.
    val verified = vocab match {
      case Some(_) =>
        // banding re-derives from the cached `sig` per consumer — the
        // b×-docs banded frame itself is never materialized (LshGuard)
        val banded = LshGuard.dropHotBuckets(sig
          .select(col("doc_id"), col("bm"), col("n"), explode(array(bandStructs: _*)).as("bb"))
          .select(col("doc_id"), col("bm"), col("n"),
            col("bb.band").as("band"), col("bb.bkey").as("bkey")), maxBucket, knownRows)
        val l = banded.select(col("band"), col("bkey"), col("doc_id").as("a_id"),
          col("bm").as("a_bm"), col("n").as("a_n"))
        val r = banded.select(col("band").as("band_r"), col("bkey").as("bkey_r"),
          col("doc_id").as("b_id"), col("bm").as("b_bm"), col("n").as("b_n"))
        l.join(r,
            col("band") === col("band_r") && col("bkey") === col("bkey_r") &&
              col("a_id") < col("b_id") &&
              jaccardBitset(col("a_bm"), col("b_bm"), col("a_n"), col("b_n")) >= tau)
          .select(col("b_id")).distinct()
      case None =>
        val banded = LshGuard.dropHotBuckets(sig
          .select(col("doc_id"), col("bm"), explode(array(bandStructs: _*)).as("bb"))
          .select(col("doc_id"), col("bm"), col("bb.band").as("band"), col("bb.bkey").as("bkey")),
          maxBucket, knownRows)
        val l = banded.select(col("band"), col("bkey"), col("doc_id").as("a_id"), col("bm").as("a_bm"))
        val r = banded.select(col("band").as("band_r"), col("bkey").as("bkey_r"),
          col("doc_id").as("b_id"), col("bm").as("b_bm"))
        val candidates = l.join(r,
            col("band") === col("band_r") && col("bkey") === col("bkey_r") &&
              col("a_id") < col("b_id") &&
              bitmapPrefilter(col("a_bm"), col("b_bm"), math.max(0.0, tau - 0.25)))
          .select(col("a_id"), col("b_id")).distinct()
        val ws = sig.select(col("doc_id"), col("s"), col("n"))
        candidates
          .join(ws.select(col("doc_id").as("a_id"), col("s").as("a_s"), col("n").as("a_n")), "a_id")
          .join(ws.select(col("doc_id").as("b_id"), col("s").as("b_s"), col("n").as("b_n")), "b_id")
          .filter(jaccardFast(col("a_s"), col("b_s"), col("a_n"), col("b_n")) >= tau)
          .select(col("b_id"))
    }
    val result = docs.join(verified, docs("doc_id") === verified("b_id"), "left_anti")
      .select(col("doc_id"))
      .orderBy(col("doc_id").asc)
    // `release` materializes the survivors and DROPS the internal caches:
    // a long-running stream calls this once per micro-batch with a NEW
    // plan each time, so without the release every batch would leave two
    // cached plans in executor storage forever (LRU-evicted, but wasted).
    // The batch entry points keep the lazy form — their caches are reused
    // across the session by plan identity.
    if (!release) result
    else {
      val out = result.localCheckpoint()
      sig.unpersist()
      docs.unpersist()
      out
    }
  }

  /** Near-dup PAIRS via MinHash banding — the candidate-then-verify twin of
    * the exact [[jaccardPairs]] (as [[KnnOps.simJoinLsh]] is to
    * [[KnnOps.simJoin]]); completes the family: exact pairs / banded
    * pairs / banded survivors. No identical-set collapse here — a pair of
    * identical documents IS a j=1 pair of the exact output, so every doc
    * bands individually. Verification is the same exact Jaccard as the
    * brute-force path (bitset or sorted-merge), so the result matches
    * [[jaccardPairs]] up to the banding miss probability (≈ 8e-9 per pair
    * at j ≥ 0.95) — reproduced exactly on the fixtures.
    */
  def minHashLshPairs(spark: SparkSession, dir: String, tau: Double = 0.95,
      maxBucket: Int = LshGuard.DefaultMaxBucket): DataFrame =
    minHashLshPairsOn(Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      tau, maxBucket,
      KnnOps.parquetRowCount(spark, s"$dir/documents.parquet"))

  private[graft] def minHashLshPairsOn(docs: DataFrame, tau: Double,
      maxBucket: Int = LshGuard.DefaultMaxBucket,
      knownRows: Option[Long] = None): DataFrame = {
    // r20: tokenize once — the vocab probe and the signature build both
    // read one cached token-array frame instead of each re-running the
    // NFC+tokenize pass over the text (the minHashLshOn carry, without
    // the collapse this variant deliberately lacks)
    val toks = docs.select(col("doc_id"), tokenSetSorted(col("text")).as("s"))
      .cache()
    val vocab = probeVocabTokens(toks)
    val sig = minhashSigMetaTokens(toks, vocab).cache()
    val bandStructs = (0 until NumBands).map { bnd =>
      struct(lit(bnd).as("band"), xxhash64(col(s"h${2 * bnd}"), col(s"h${2 * bnd + 1}")).as("bkey"))
    }
    vocab match {
      case Some(_) =>
        val banded = LshGuard.dropHotBuckets(sig
          .select(col("doc_id"), col("bm"), col("n"), explode(array(bandStructs: _*)).as("bb"))
          .select(col("doc_id"), col("bm"), col("n"),
            col("bb.band").as("band"), col("bb.bkey").as("bkey")), maxBucket, knownRows)
        val l = banded.select(col("band"), col("bkey"), col("doc_id").as("a_id"),
          col("bm").as("a_bm"), col("n").as("a_n"))
        val r = banded.select(col("band").as("band_r"), col("bkey").as("bkey_r"),
          col("doc_id").as("b_id"), col("bm").as("b_bm"), col("n").as("b_n"))
        l.join(r,
            col("band") === col("band_r") && col("bkey") === col("bkey_r") &&
              col("a_id") < col("b_id") &&
              jaccardBitset(col("a_bm"), col("b_bm"), col("a_n"), col("b_n")) >= tau)
          .select(col("a_id"), col("b_id"),
            round(jaccardBitset(col("a_bm"), col("b_bm"), col("a_n"), col("b_n")), 6).as("jac"))
          .distinct()
          .orderBy(col("a_id").asc, col("b_id").asc)
      case None =>
        val banded = LshGuard.dropHotBuckets(sig
          .select(col("doc_id"), col("bm"), explode(array(bandStructs: _*)).as("bb"))
          .select(col("doc_id"), col("bm"), col("bb.band").as("band"), col("bb.bkey").as("bkey")),
          maxBucket, knownRows)
        val l = banded.select(col("band"), col("bkey"), col("doc_id").as("a_id"), col("bm").as("a_bm"))
        val r = banded.select(col("band").as("band_r"), col("bkey").as("bkey_r"),
          col("doc_id").as("b_id"), col("bm").as("b_bm"))
        val candidates = l.join(r,
            col("band") === col("band_r") && col("bkey") === col("bkey_r") &&
              col("a_id") < col("b_id") &&
              bitmapPrefilter(col("a_bm"), col("b_bm"), math.max(0.0, tau - 0.25)))
          .select(col("a_id"), col("b_id")).distinct()
        val ws = sig.select(col("doc_id"), col("s"), col("n"))
        candidates
          .join(ws.select(col("doc_id").as("a_id"), col("s").as("a_s"), col("n").as("a_n")), "a_id")
          .join(ws.select(col("doc_id").as("b_id"), col("s").as("b_s"), col("n").as("b_n")), "b_id")
          .withColumn("j", jaccardFast(col("a_s"), col("b_s"), col("a_n"), col("b_n")))
          .filter(col("j") >= tau)
          .select(col("a_id"), col("b_id"), round(col("j"), 6).as("jac"))
          .orderBy(col("a_id").asc, col("b_id").asc)
    }
  }

  /** n-gram (word bigram) Jaccard near-dup pairs — order-sensitive shingles,
    * so reordered texts that share a word set no longer count as duplicates
    * (the complement of the 1-gram [[jaccardPairs]]). Implemented by
    * deriving the bigram-shingle stream per row and reusing the
    * set-similarity join; bigram vocabularies exceed one machine word, so
    * this runs the general path (sorted-merge + hashed-bitmap prefilter)
    * in production, not just in tests.
    */
  def ngramJaccardPairs(spark: SparkSession, dir: String, tau: Double = 0.8): DataFrame = {
    // r20: build the distinct shingle ARRAY directly (was: join the
    // shingles back into a space-separated string and re-tokenize it in
    // jaccardPairsOn — every downstream pass re-ran the whole build).
    // The split word array is a MATERIALIZED projection first: HOF
    // lambdas get no codegen subexpression elimination, so an inlined
    // split would re-split the string per element_at (the
    // filter-pushdown-recompute trap, PERF_NOTES). Equivalence with the
    // old string round-trip: tokens carry no spaces, so split(join(sh,
    // " "), " ") = sh, and NFC is idempotent (shingles of NFC'd words
    // joined by RS are already NFC — no composition forms across a
    // space/RS boundary), so tokenSet(joined) = array_distinct(sh).
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(nfc(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"),
        array_distinct(
          transform(sequence(lit(1), size(col("w")) - 1),
            i => concat_ws("\u001E", // RS: cannot occur inside a token pair ambiguously
              element_at(col("w"), i),
              element_at(col("w"), i + 1)))).as("s"))
    // straight to the dictionary path: bigram vocabularies exceed one
    // machine word at any real corpus size, and the dictionary path is
    // exact at ANY vocabulary (dictionary bitset + sorted residual), so
    // the ≤64-token probe could only pick a same-answer representation
    jaccardPairsDictTokensOn(docs, tau)
  }

  /** Asymmetric CONTAINMENT near-dup pairs (`q_dedup_containment`):
    * C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| over distinct word 3-gram
    * shingles (Broder's containment measure, "On the resemblance and
    * containment of documents", 1997). Detects the duplication class
    * symmetric Jaccard structurally misses: a short document wholly
    * quoted inside a long one (license blocks, syndicated articles with
    * added commentary, crops) — the pair's union is dominated by B, so
    * j stays low while C(A→B) ≈ 1. Directed output: (a_id, b_id) means
    * a_id's shingles are ≥ tau-covered by b_id's; exact duplicates emit
    * both directions.
    *
    * Plan (the AllPairs asymmetric variant): candidates from an
    * equi-join of A's PREFIX shingles against the full shingle postings
    * — under ascending-document-frequency order, if |A∩B| ≥ ⌈τ|A|⌉
    * then at least one of A's first |A| − ⌈τ|A|⌉ + 1 shingles is in B
    * (pigeonhole), so the join is exact-recall. Prefix shingles are the
    * RAREST by construction, so the posting buckets the join touches
    * are the small ones — the same self-limiting property as
    * [[jaccardPairsPrefixOn]]'s candidate stage; a corpus-wide
    * boilerplate shingle never enters a prefix unless the document is
    * nothing but boilerplate. One size block applies (|B| ≥ ⌈τ|A|⌉);
    * there is deliberately no upper block — containment is one-sided.
    * Verify is the codegen sorted-merge intersect per candidate pair.
    */
  def containmentPairs(spark: SparkSession, dir: String, tau: Double = 0.6): DataFrame =
    containmentPairsOn(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), tau)

  private[graft] def containmentPairsOn(docs0: DataFrame, tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau out of range: $tau")
    // normalize ONCE as a projected column: `w` is referenced at several
    // HOF sites below, and HOF lambdas don't get codegen subexpression
    // elimination — an inlined nfc(split(...)) would re-scan the string
    // per element_at (measured ~1.2x on q_dedup_containment)
    val docs = docs0.select(col("doc_id"), nfc(col("text")).as("text"))
    val w = split(col("text"), " ")
    // derived frame (not the raw fixture plan — see the cache gotcha):
    // read by the token explode, the df counter, and both verify join-backs
    val sh = docs
      .filter(size(w) >= 3)
      .select(col("doc_id"),
        array_sort(array_distinct(
          transform(sequence(lit(1), size(w) - 2), i =>
            concat_ws("\u001E", element_at(w, i), // RS joiner (see ngramJaccardPairs)
              element_at(w, i + 1), element_at(w, i + 2))))).as("s"))
      .withColumn("n", size(col("s")))
      .cache()
    val tok = sh.select(col("doc_id"), col("n"), explode(col("s")).as("t"))
    // shingle-frequency join: same measured-size broadcast dispatch as
    // prefixCandidatesFromTok (r19) — shingle vocabularies follow the
    // corpus, so the ceiling guards the broadcast at scale
    val dfreq0 = tok.groupBy(col("t")).agg(count(lit(1)).as("df"))
      .localCheckpoint(false)
    val dfreq = if (dfreq0.count() <= ShingleDfBroadcastMaxTypes)
      broadcast(dfreq0) else dfreq0
    val wnd = Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("t").asc)
    // r20: the prefix-vs-postings join keys on the shingle's 64-bit
    // hash instead of the raw 3-word string (§2.3 — shuffle keys, not
    // payloads; the prefixCandidatesFromTok discipline). Equal shingles
    // always hash equal (exact recall); a stray collision only adds a
    // candidate pair the sorted-merge containment verify rejects.
    val prefix = tok.join(dfreq, "t")
      .withColumn("rn", row_number().over(wnd))
      .filter(col("rn") <= col("n") - ceil(col("n") * tau) + 1)
      .select(xxhash64(col("t")).as("th"), col("doc_id").as("a_id"),
        col("n").as("a_n"))
    val full = tok.select(xxhash64(col("t")).as("th_r"),
      col("doc_id").as("b_id"), col("n").as("b_n"))
    val cand = prefix.join(full,
        col("th") === col("th_r") && col("a_id") =!= col("b_id") &&
          col("b_n") >= ceil(col("a_n") * tau))
      .select(col("a_id"), col("b_id")).distinct()
    val i = toCol(SortedIntersectSize(toExpr(col("a_s")), toExpr(col("b_s"))))
    cand
      .join(sh.select(col("doc_id").as("a_id"), col("s").as("a_s"),
        col("n").as("a_n")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("s").as("b_s")), "b_id")
      .withColumn("i", i)
      .withColumn("c", col("i").cast("double") / col("a_n"))
      .filter(col("c") >= tau)
      .select(col("a_id"), col("b_id"), round(col("c"), 6).as("containment"))
      .orderBy(col("a_id").asc, col("b_id").asc)
  }

  /** PARAGRAPH-level corpus dedup (`q_dedup_paragraph`; Dolma,
    * Soldaini et al. 2024 §4.2 run exactly this pass — paragraphs
    * duplicated ACROSS the corpus are boilerplate: navigation blocks,
    * subscribe footers, license text — the granularity between the
    * within-document line signal (q_gopher_repetition) and whole-doc
    * fingerprints): every paragraph hashes, corpus-wide counts flag the
    * duplicated ones, and each document reports its duplicated-paragraph
    * character fraction with a keep gate at the 20% integer-ratio
    * threshold (the repetition battery's convention — no division).
    *
    * The word-soup fixture is paragraph-less, so the query PLANTS
    * corpus-wide boilerplate deterministically: doc_id % 4 appends a
    * shared "subscribe" paragraph, doc_id % 10 a shared "rights"
    * paragraph — the same fixed strings across documents, so they are
    * corpus-duplicates BY CONSTRUCTION while each doc's own text
    * paragraph stays (mostly) unique.
    *
    * Scale: paragraph-grain exchanges keyed on the 128-bit hash (one
    * count aggregation + one join-back) — never a pair join; this is
    * the shape Dolma runs with a bloom membership test instead of the
    * exact count, and [[graft.functions.BloomFunctions]]' maintained
    * bloom store is exactly that streaming/approximate swap-in when the
    * corpus-wide exact count is too expensive per increment.
    */
  def dedupParagraph(spark: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(spark, dir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 4 === 0,
          lit("\n\nsubscribe to the newsletter today")).otherwise(lit("")),
        when(col("doc_id") % 10 === 0,
          lit("\n\nall rights reserved legal notice")).otherwise(lit("")))
        .as("text"))
    paragraphDedupOn(planted)
  }

  /** Parametric core: (doc_id, text) in; per-doc paragraph counts,
    * duplicated-paragraph char accounting, and the keep gate out.
    */
  private[graft] def paragraphDedupOn(docs: DataFrame): DataFrame = {
    val paras = docs.select(col("doc_id"),
      explode(split(col("text"), "\n\n")).as("para"))
      .withColumn("h", md5(col("para")))
    val counts = paras.groupBy(col("h")).agg(count(lit(1)).as("c"))
    paras.join(counts, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_paras"),
        sum(when(col("c") > 1, length(col("para")).cast("long"))
          .otherwise(0L)).as("dup_chars"),
        sum(length(col("para")).cast("long")).as("total_chars"))
      .withColumn("keep",
        (lit(5L) * col("dup_chars") <= col("total_chars")).cast("long"))
      .orderBy(col("doc_id").asc)
  }

  /** C4's THREE-SENTENCE-SPAN dedup (`q_dedup_span3`; Raffel et al.
    * 2020 §2.2: "we removed all but one of any three-sentence span
    * occurring more than once") — the sub-document dedup that strips
    * shared boilerplate (cookie banners, legal footers) out of pages
    * whose bodies are unique, where document-grain dedup keeps both
    * copies and paragraph-grain dedup needs the boilerplate to be its
    * own paragraph. First-arrival semantics: a span's globally first
    * occurrence (min (doc_id, position)) stays; every later occurrence
    * is removed, and a document's retained text is its sentences not
    * covered by any removed span.
    *
    * The fixture corpus is single-line word soup, so pages are PLANTED
    * (the PII discipline): four body sentences from the doc's own token
    * slices (unique spans), `% 4` appends a SHARED three-sentence
    * cookie banner (the cross-document duplicate — removed everywhere
    * but its first carrier), `% 9` re-appends the doc's own first three
    * sentences (a within-document repeat — the copy goes, the original
    * stays).
    *
    * Scale shape: spans exchange at HASH grain only — a map-side
    * combinable min-struct aggregation finds first arrivals (never a
    * row_number sort: a hot boilerplate hash would serialize one
    * partition), the join back is span⋈1-row-per-hash (AQE handles the
    * hot-key skew), and coverage/reassembly is per-document HOF work on
    * a doc-grain exchange. No pair joins anywhere.
    */
  def dedupSpan3(spark: SparkSession, dir: String): DataFrame = {
    val w = split(col("text"), " ")
    def tok(from: Int, n: Int): Column = array_join(slice(w, from, n), " ")
    val boiler = lit("we use cookies on this site.\naccept all cookies to continue.\nsee our privacy policy for details.")
    val planted = Tables.documents(spark, dir).select(col("doc_id"),
      concat(
        tok(1, 6), lit(" one."),
        lit("\n"), tok(2, 6), lit(" two."),
        lit("\n"), tok(3, 6), lit(" three."),
        lit("\n"), tok(1, 5), lit(" four."),
        when(col("doc_id") % 4 === 0,
          concat(lit("\n"), boiler)).otherwise(lit("")),
        when(col("doc_id") % 9 === 0,
          concat(lit("\n"), tok(1, 6), lit(" one.\n"), tok(2, 6),
            lit(" two.\n"), tok(3, 6), lit(" three.")))
          .otherwise(lit(""))).as("text"))
    spanDedupOn(planted)
  }

  /** Parametric core: (doc_id, text) in; sentence counts, removed-span
    * coverage, and the retained text out. Sentences are newline-split
    * (the C4 battery's line grain); spans are hashes of consecutive
    * sentence triples (1-based starts), and a sentence is removed iff
    * some REMOVED span occurrence covers its position. Arrays consumed
    * inside later lambdas are staged attributes (the lambda-recompute
    * discipline).
    */
  private[graft] def spanDedupOn(docs: DataFrame): DataFrame = {
    val staged = docs.select(col("doc_id"),
      split(col("text"), "\n").as("sents"))
    val spans = staged.select(col("doc_id"),
        explode(when(size(col("sents")) >= 3,
          transform(sequence(lit(1), size(col("sents")) - 2), j =>
            struct(j.as("pos"),
              md5(array_join(slice(col("sents"), j, lit(3)), "\n")).as("h"))))
          .otherwise(array().cast("array<struct<pos:int,h:string>>")))
          .as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.h").as("h"))
    // first arrival per span hash: map-side combinable min over the
    // (doc_id, pos) struct — one hash-grain exchange, skew-immune
    val first = spans.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    val removed = spans.join(first, Seq("h"))
      .filter(struct(col("doc_id"), col("pos")) =!= col("f"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("rem"))
    staged.join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("sents"),
        coalesce(col("rem"), array().cast("array<int>")).as("rem"))
      .select(col("doc_id"), col("rem"),
        size(col("sents")).cast("long").as("n_sents"),
        filter(zip_with(col("sents"), sequence(lit(1), size(col("sents"))),
          (s, i) => struct(s.as("s"), i.as("i"))),
          x => !exists(col("rem"), p =>
            x.getField("i") >= p && x.getField("i") <= p + 2)).as("keptArr"))
      .select(col("doc_id"), col("n_sents"),
        (col("n_sents") - size(col("keptArr"))).as("n_removed_sents"),
        array_join(transform(col("keptArr"), x => x.getField("s")), "\n")
          .as("kept_text"))
      .orderBy(col("doc_id").asc)
  }

  /** One micro-batch of STREAMING paragraph dedup over the maintained
    * BLOOM store — the Dolma-style swap-in [[paragraphDedupOn]]'s scaladoc
    * names: at crawl scale the corpus-wide exact paragraph count is too
    * expensive per increment, so membership is a capacity-planned bloom
    * filter (false positives = a unique paragraph occasionally counted
    * duplicated, the trade Dolma ships; NO false negatives — boilerplate
    * never slips through). FIRST-ARRIVAL semantics: a paragraph's first
    * occurrence (across batches via the store, within the batch via a
    * (doc_id, pos) window) is clean, every later occurrence is
    * duplicated — the streaming counterpart of the batch form's
    * corpus-count c > 1 flag (which also flags the first occurrence;
    * the spec pins the exact relation).
    *
    * Store/replay discipline: the bloom word log is idempotent by
    * algebra (OR — the one maintained store needing no watermark), so
    * state survives at-least-once replay bit-for-bit; the RETURNED
    * flags of a replayed batch drift (its own hashes are now in the
    * store), so a sink must key on (doc_id, batch) — the
    * [[MlOps.dsirIncrementalBatch]] caveat, documented not hidden.
    */
  private[graft] def paragraphIncrementalBatch(batch: DataFrame, db: String,
      name: String): DataFrame = {
    import graft.sources.CatalogOps
    import graft.functions.BloomFunctions
    val spark = batch.sparkSession
    val paras = batch
      .select(col("doc_id"), posexplode(split(col("text"), "\n\n"))
        .as(Seq("pos", "para")))
      .withColumn("h", md5(col("para")))
    // probe the store state SO FAR (before this batch's append)
    val (words, m) = CatalogOps.foldedBloomWords(spark, db, name)
    val bloomDf = spark.createDataFrame(
      java.util.Collections.singletonList(org.apache.spark.sql.Row(words)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__bloom_words",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, false)))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("doc_id").asc, col("pos").asc)
    val flagged = paras.crossJoin(broadcast(bloomDf))
      .withColumn("seen",
        BloomFunctions.mightContain(col("h"), col("__bloom_words"), m) ||
          row_number().over(w) > 1)
      .drop("__bloom_words")
    val out = flagged
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("seen"), 1L).otherwise(0L)).as("n_dup_paras"),
        sum(when(col("seen"), length(col("para")).cast("long"))
          .otherwise(0L)).as("dup_chars"),
        sum(length(col("para")).cast("long")).as("total_chars"))
      .withColumn("keep",
        (lit(5L) * col("dup_chars") <= col("total_chars")).cast("long"))
      .localCheckpoint() // flags are fixed BEFORE the store advances
    CatalogOps.upsertBloomStore(spark, db, name,
      paras.select(col("h")).distinct(), "h")
    out
  }

  /** Build-if-absent streamed-paragraph results over the fixture — the
    * `q_dedup_paragraph_stream` contract entry: the SAME planted corpus
    * as [[dedupParagraph]], fed oldest-half-first (doc_id % 2 = 0 then
    * the odd half) through [[paragraphIncrementalBatch]] over a fresh
    * capacity-planned bloom store. FULLY ORACLED as of r17: with the
    * even-then-odd delivery order, first arrival is the deterministic
    * (doc_id % 2, doc_id, pos) rank per paragraph hash — PROVIDED no
    * odd-half probe false-positives against the even-half store (no
    * false negatives by construction). The build measures that exactly
    * (probe anti-joined against the even half's true paragraph set) and
    * require()s zero, refusing to serve drifted flags; production
    * streams keep the documented bloom trade. The spec still pins
    * streamed ≡ exact first-arrival below saturation, the fill/fpp
    * budget, and the store's replay idempotence.
    */
  def paragraphStreamFixture(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.CatalogOps
    val db = "graft_parastream"
    val name = "docs"
    this.synchronized {
      // completion marker written LAST (the funnelStreamFixture r17
      // discipline): marker-present ⇒ both halves landed; absent ⇒
      // rebuild; mismatch ⇒ fail loudly
      val metaTbl = s"`$db`.`${name}__resultsmeta`"
      if (!spark.catalog.tableExists(s"$db.${name}__resultsmeta")) {
        CatalogOps.createDatabase(spark, db)
        Seq(s"${name}__results", s"${name}__bloom", s"${name}__bloommeta",
          s"${name}__resultsmeta")
          .foreach(KnnOps.dropTableAndDir(spark, db, _))
        val planted = Tables.documents(spark, dir).select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 4 === 0,
              lit("\n\nsubscribe to the newsletter today")).otherwise(lit("")),
            when(col("doc_id") % 10 === 0,
              lit("\n\nall rights reserved legal notice")).otherwise(lit("")))
            .as("text"))
        CatalogOps.createBloomStore(spark, db, name,
          planted.select(md5(col("text")).as("h")).limit(0), "h",
          expectedKeys = 16384L)
        def paraHashes(half: Long) = planted
          .filter(col("doc_id") % 2 === half)
          .select(explode(split(col("text"), "\n\n")).as("para"))
          .select(md5(col("para")).as("h")).distinct()
        paragraphIncrementalBatch(
          planted.filter(col("doc_id") % 2 === 0L), db, name)
          .write.mode("append").saveAsTable(s"`$db`.`${name}__results`")
        // zero-FP guarantee behind the r17 oracle flip: any odd-half
        // paragraph the store claims to have seen must ACTUALLY be an
        // even-half paragraph — measured exactly, refused loudly
        val fps = CatalogOps.probeBloomStore(spark, db, name,
            paraHashes(1L), "h")
          .join(paraHashes(0L), Seq("h"), "left_anti")
          .count()
        require(fps == 0L,
          s"paragraph stream fixture: $fps bloom false positive(s) at " +
            "expectedKeys=16384 — the served flags would drift from the " +
            "first-arrival oracle; raise the store capacity")
        paragraphIncrementalBatch(
          planted.filter(col("doc_id") % 2 === 1L), db, name)
          .write.mode("append").saveAsTable(s"`$db`.`${name}__results`")
        spark.createDataFrame(Seq(Tuple1(2L))).toDF("expected_batches")
          .write.mode("overwrite").saveAsTable(metaTbl)
      }
      require(spark.table(metaTbl).head().getLong(0) == 2L,
        s"paragraph stream fixture `$db.$name` marker is corrupt — " +
          s"drop the `$db` database to rebuild")
    }
    spark.table(s"`$db`.`${name}__results`")
      .select(col("doc_id"), col("n_paras"), col("n_dup_paras"),
        col("dup_chars"), col("total_chars"), col("keep"))
      .orderBy(col("doc_id").asc)
  }

  /** Duplicated-SPAN detection — the SUBSTRING granularity of corpus dedup
    * (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    * Better": exact duplicated token spans are removed corpus-wide, the
    * one duplication class document-level fingerprints cannot see —
    * boilerplate headers, license blocks, templated passages inside
    * otherwise-unique documents). The reference engine has no substring
    * pass at all; this is the Spark-first shape of the paper's suffix
    * array: every `w`-token window (stride 1) is hashed, window hashes
    * are counted corpus-wide, and each document reports how much of it is
    * covered by windows that occur more than once (in ANY document,
    * including its own). Output `(doc_id, n_windows, n_dup_windows,
    * dup_ratio)` — the downstream curation gate drops or trims docs by
    * `dup_ratio`.
    *
    * Scale: the exploded frame is one fixed-width `(doc_id, hash)` row
    * per window — `tokens − w + 1` rows per doc, never window TEXT. The
    * plan hashes the windows TWICE (two Generates) on purpose: the
    * counting side partial-combines map-side so its exchange carries
    * `(hash, count)` rows, and the probe side semi-joins the re-derived
    * windows against a broadcast of ONLY the duplicated hashes (the
    * `count > 1` survivors). The alternative — explode once and reuse the
    * exchange — would shuffle every raw window row (~16 B × corpus
    * tokens, i.e. more bytes than the corpus itself); re-running the
    * codegen'd xxhash64 map work is far cheaper. When duplication is so
    * pervasive the dup-hash set outgrows the broadcast threshold, AQE
    * falls back to a shuffled join and pays that big exchange only in the
    * regime that actually needs it. 64-bit hashes are exact to the
    * birthday bound (~4e9 windows); beyond that, pair a second seed.
    * Fixture corpus is [[corpusWithDups]] (planted exact copies), so
    * copied docs arrive fully span-covered.
    */
  def dedupSubstring(spark: SparkSession, dir: String, w: Int = 20): DataFrame =
    dedupSubstringOn(corpusWithDups(spark, dir), w)

  /** One `(doc_id, wh)` row per `w`-token window (stride 1) — the shared
    * window derivation of [[dedupSubstringOn]] and
    * [[substringIncrementalBatch]]. Docs shorter than `w` tokens emit
    * nothing.
    */
  private[graft] def windowHashes(docs: DataFrame, w: Int): DataFrame = {
    val toks = docs.select(col("doc_id"), split(nfc(col("text")), " ").as("t"))
    toks.filter(size(col("t")) >= w)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("t")) - lit(w - 1)),
          i => xxhash64(concat_ws(" ", slice(col("t"), i, lit(w)))))).as("wh"))
  }

  private[graft] def dedupSubstringOn(docs: DataFrame, w: Int): DataFrame = {
    val toks = docs.select(col("doc_id"), split(nfc(col("text")), " ").as("t"))
    val counts = toks.select(col("doc_id"),
      greatest(size(col("t")) - lit(w - 1), lit(0)).cast("long").as("n_windows"))
    val exploded = windowHashes(docs, w)
    val dupHashes = exploded.groupBy(col("wh"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("wh"))
    val perDoc = exploded.join(dupHashes, Seq("wh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_windows"))
    counts.join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
      .withColumn("dup_ratio",
        when(col("n_windows") > 0,
          col("n_dup_windows").cast("double") / col("n_windows"))
          .otherwise(lit(0.0)))
      .orderBy(col("doc_id").asc)
  }

  /** The ACTIONABLE form of [[dedupSubstring]]: emit each document's text
    * with duplicated spans REMOVED, keeping the corpus-wide first
    * occurrence (Lee et al. 2021 drop all-but-one copy of every
    * duplicated substring; coverage reporting tells you how dirty a doc
    * is, this pass actually cleans it). A window occurrence `(doc, pos)`
    * is removable iff its content occurs more than once corpus-wide AND
    * it is not the globally first occurrence (lexicographic minimum
    * `(doc_id, pos)` — a `min(struct(...))` tuple aggregation, NOT a
    * `doc_id·K + pos` scalar encoding, which would alias across
    * documents once a doc carries ≥ K windows: real training corpora
    * hold 100k-token books); every token covered by a removable window
    * is dropped. Output `(doc_id, kept_text, n_removed)`.
    *
    * Scale shape mirrors [[dedupSubstring]]: the ownership aggregation
    * partial-combines `(hash, min (doc_id, pos), count)` map-side, the
    * probe side
    * re-derives windows and joins only the duplicated hashes (AQE
    * broadcasts while that set is small), and the removable positions
    * collect per DOC — a list bounded by the document's own window
    * count, never by the corpus. The final trim is one higher-order
    * filter over the token array with the doc's removable intervals.
    */
  def dedupSubstringTrim(spark: SparkSession, dir: String, w: Int = 20): DataFrame =
    dedupSubstringTrimOn(corpusWithDups(spark, dir), w)

  private[graft] def dedupSubstringTrimOn(docs: DataFrame, w: Int): DataFrame = {
    val toks = docs.select(col("doc_id"), split(nfc(col("text")), " ").as("t"))
    def wins = toks.filter(size(col("t")) >= w)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("t")) - lit(w - 1)),
          i => xxhash64(concat_ws(" ", slice(col("t"), i, lit(w)))))))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("wh"))
    // min(struct) = lexicographic (doc_id, then pos): safe at any window
    // count, and still a partial-capable aggregation (map-side combine)
    val dupOwners = wins
      .groupBy(col("wh"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("owner"),
        count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("wh"), col("owner.doc_id").as("own_doc"), col("owner.pos").as("own_pos"))
    val removable = wins.join(dupOwners, "wh")
      .filter(col("doc_id") =!= col("own_doc") || col("pos") =!= col("own_pos"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("pos")).as("ps")) // bounded by the doc's windows
    toks.join(removable, Seq("doc_id"), "left_outer")
      .withColumn("kept_arr",
        when(col("ps").isNull, col("t"))
          .otherwise(filter(col("t"), (tok, i) =>
            !exists(col("ps"), p => p <= i + 1 && i + 1 <= p + lit(w - 1)))))
      .select(col("doc_id"),
        array_join(col("kept_arr"), " ").as("kept_text"),
        (size(col("t")) - size(col("kept_arr"))).cast("long").as("n_removed"))
      .orderBy(col("doc_id").asc)
  }

  // ---- SimHash ----

  /** 64-bit SimHash per doc + near-neighbor count at hamming ≤ 3.
    *
    * Fingerprint: per NFC'd distinct token, 64 bit votes (+1/−1 per
    * position), position-wise summed, sign → bit. Token bits come from
    * the CONTENT-ADDRESSED md5-nibble convention (r17 — flipped from
    * xxhash64, which no other engine can replay): bit p of token t is
    * bit (p % 4) of hex nibble 17 + p/4 of md5(t), so the whole
    * signature is closed-form from the token set and the DuckDB oracle
    * rebuilds it exactly. The 64 positions are 64 parallel `sum`
    * aggregates over the (doc, nibble-row) stream — partial aggregation
    * folds them map-side into one 64-column row per doc, so the shuffle
    * carries docs×64 longs (NOT tokens×64 exploded rows: the earlier
    * posexplode formulation shuffled 64 rows per TOKEN — dim× the corpus —
    * where this shuffles one row per doc). Pair search uses PIGEONHOLE
    * BLOCKING: 4 chunks of 16 bits — hamming ≤ 3 implies at least one chunk
    * is identical, so 4 equi-joins on (chunk_idx, chunk_value) give EXACT
    * recall without a cross join (the classic simhash dedup plan,
    * scale-correct). Fully DuckDB-oracled as of r17 (bit_count(xor) at
    * sf-scale brute force on the oracle side; the engine must block).
    */
  def simHash(spark: SparkSession, dir: String, maxHamming: Int = 3,
      maxBucket: Int = 0): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val voteCols = (0 until 64).map { p =>
      // nibble k = p/4 lives in 4-hex group g = k/4 at in-group offset
      // m = k%4 (big-endian hex: first char is most significant), so
      // bit p maps to group bit 4*(3-m) + p%4
      val k = p / 4
      val sh = 4 * (3 - k % 4) + p % 4
      sum(when(call_function("shiftright", col(s"g${k / 4}"), lit(sh))
        .bitwiseAND(lit(1)) === 1, 1L).otherwise(-1L)).as(s"v$p")
    }
    // the plan below reads the fingerprint frame THREE times (cluster
    // counts, the blocked join's distinct fps, the final per-doc join);
    // the token explode + 64-sum aggregate above it is the expensive part,
    // so materialize the (doc_id, simhash) rows once — 16 B × corpus, the
    // audioNearDupOn discipline
    val fp = docs
      .select(col("doc_id"), explode(tokenSet(col("text"))).as("t"))
      // four conv() parses of 4-hex windows instead of 16 per-nibble
      // instr draws — same bits, measured ~25% cheaper on the vote stage
      .select(col("doc_id") +: (0 until 4).map(g =>
        expr(s"cast(conv(substring(md5(t), ${17 + 4 * g}, 4), 16, 10) as int)")
          .as(s"g$g")): _*)
      .groupBy(col("doc_id"))
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(p => when(col(s"v$p") > 0, lit(1L << p)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
      .localCheckpoint()

    // COUNT-SHAPED consumption of the blocked join: a doc's neighbor count
    // is (members of its own fingerprint − 1) + Σ members of each unequal
    // near fingerprint — so the aggregation runs over DISTINCT-fp pairs
    // weighted by cluster sizes and never materializes the id-level pair
    // expansion (a c-member boilerplate cluster costs one fpCounts row,
    // not c² pairs; measured 6.1 vs 27.0 s at a 10k cluster even for the
    // pair-emitting form — `DedupScale hamming`).
    val fpCounts = fp.groupBy(col("simhash")).agg(count(lit(1)).as("cnt"))
    // maxBucket defaults to 0 (guard OFF) because this is the fully
    // ORACLED entry: the DuckDB twin brute-forces every bit_count(xor)
    // pair over the distinct fingerprints, so a hot (chunk, cval) bucket
    // dropped by the guard would undercount n_neighbors and diverge
    // (ADVICE r17). The exposure is bounded: blocking runs over DISTINCT
    // fingerprints, so a guard-worthy bucket needs > 10k distinct
    // near-identical signatures, not 10k duplicate docs. A 100 TB caller
    // trading exactness for hot-bucket immunity passes
    // LshGuard.DefaultMaxBucket — and accepts that guarded buckets make
    // the count a lower bound (OperatorSpec pins both modes equal here).
    val crossSum = hammingNearFpPairs(
        fpCounts.select(col("simhash").as("fp")), maxHamming, maxBucket)
      .join(fpCounts.select(col("simhash").as("b_fp"), col("cnt")), Seq("b_fp"))
      .groupBy(col("a_fp")).agg(sum(col("cnt")).as("n_cross"))
    fp.join(fpCounts, Seq("simhash"))
      .join(crossSum, fp("simhash") === crossSum("a_fp"), "left")
      .select(col("doc_id"), col("simhash"),
        (col("cnt") - 1L + coalesce(col("n_cross"), lit(0L))).as("n_neighbors"))
      .orderBy(col("doc_id").asc)
  }

  /** One (id, fp, chunk, cval) row per pigeonhole chunk of each 64-bit
    * fingerprint — the blocking keys of [[hammingNearPairs]], exposed so
    * the streaming image filter can persist them as its store layout
    * (probe = equi-join on the SAME keys).
    */
  private[graft] def hammingChunkRows(fps: DataFrame, maxHamming: Int): DataFrame = {
    val nChunks = maxHamming + 1
    require(nChunks >= 1 && nChunks <= 32, s"maxHamming out of range: $maxHamming")
    val width = 64 / nChunks
    val chunkCols = (0 until nChunks).map { c =>
      val start = c * width
      val len = if (c == nChunks - 1) 64 - start else width
      val mask = if (len >= 64) -1L else (1L << len) - 1L
      call_function("shiftright", col("fp"), lit(start)).bitwiseAND(lit(mask))
    }
    fps.select(col("id"), col("fp"),
      posexplode(array(chunkCols: _*)).as(Seq("chunk", "cval")))
  }

  /** Pigeonhole-blocked hamming pair generation over 64-bit fingerprints
    * `(id, fp)` — the shared blocking plan of the text [[simHash]], the
    * image perceptual-hash pass ([[imageNearDupOn]]) and the audio twin.
    * `maxHamming + 1` chunks: ≤ maxHamming differing bits cannot touch
    * every chunk, so some chunk stays equal and equi-joins on
    * (chunk_idx, chunk_value) generate EVERY qualifying pair with EXACT
    * recall — no cross join, shuffle on chunk keys only.
    *
    * IDENTICAL FINGERPRINTS COLLAPSE FIRST. The duplicate clusters dedup
    * exists to find are exactly what detonates a naive blocked self-join:
    * a boilerplate cluster of c equal fingerprints puts c rows in one
    * (chunk, cval) bucket of EVERY chunk and the join enumerates
    * (maxHamming+1)·c² rows before any distinct (the band joins measured
    * this shape at 7.5× with a 5k-doc cluster — `DedupScale hotcluster`).
    * So the blocked join here runs over DISTINCT fingerprints only —
    * a cluster of c equal fps costs 1 row per chunk — and id-level pairs
    * come back by expansion: members of one distinct fingerprint are
    * hamming-0 pairs by definition (one output-sized equi-join on fp),
    * and each qualifying distinct-fp pair expands through two
    * output-sized equi-joins on fp. Exact recall is preserved; no
    * pre-distinct enumeration is ever super-linear in the OUTPUT.
    *
    * For the residual pathology — many NEAR-identical-but-unequal
    * fingerprints landing in one bucket — a RELATIVE occupancy cap on
    * (chunk, cval) over distinct fps drops buckets that are both above
    * `maxBucket` and [[HammingHotFactor]]× their chunk's average
    * occupancy (`maxBucket <= 0` disables; see [[hammingNearFpPairs]] for
    * why the absolute LshGuard form would fire on healthy volume here).
    * The cap can drop cross-fp recall in a degenerate bucket (the
    * documented trade) but NEVER same-fp pairs: exact duplicates bypass
    * the blocked join entirely.
    *
    * Output: symmetric (a_id, b_id, a_fp, b_fp) rows, a_id ≠ b_id, both
    * directions (callers keep one direction with `a_id < b_id` or count
    * neighbors per a_id). Input ids are assumed unique per row, which
    * every call site (doc_id-keyed fingerprint frames) satisfies.
    */
  private[graft] def hammingNearPairs(fps: DataFrame, maxHamming: Int,
      maxBucket: Int = LshGuard.DefaultMaxBucket): DataFrame = {
    val fpPairs = hammingNearFpPairs(
      fps.select(col("fp")).distinct(), maxHamming, maxBucket)
    val a = fps.select(col("id").as("a_id"), col("fp").as("a_fp"))
    val b = fps.select(col("id").as("b_id"), col("fp").as("b_fp"))
    val crossPairs = fpPairs.join(a, "a_fp").join(b, "b_fp")
      .select(col("a_id"), col("b_id"), col("a_fp"), col("b_fp"))
    val samePairs = a.join(b,
        col("a_fp") === col("b_fp") && col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_fp"), col("b_fp"))
    crossPairs.unionByName(samePairs)
  }

  /** The distinct-fingerprint stage of [[hammingNearPairs]]: qualifying
    * UNEQUAL fingerprint pairs `(a_fp, b_fp)` at hamming ≤ maxHamming,
    * both directions, over a 1-column `fp` frame of DISTINCT values.
    * Exposed separately so count-shaped consumers ([[simHash]]) can
    * aggregate cluster sizes over these pairs instead of materializing
    * the id-level expansion — a c-member duplicate cluster contributes
    * one row here, not c² rows.
    *
    * The occupancy cap here is RELATIVE, unlike [[LshGuard]]'s absolute
    * form: a bucket drops only when it holds BOTH more than `maxBucket`
    * distinct fps AND more than [[HammingHotFactor]]× its chunk's average
    * occupancy. The pigeonhole key space is tiny (7-bit chunk values at
    * maxHamming=8 → 128 buckets per chunk), so ordinary corpus VOLUME
    * saturates an absolute cap — 2M distinct dHashes average ~15k per
    * bucket on healthy data, and an absolute 10k cap would silently drop
    * every bucket and destroy near-dup recall. Degeneracy relative to the
    * corpus's own average is what marks a boilerplate cluster; uniform
    * volume raises the average with the buckets and never fires the cap.
    * Both aggregates run over distinct-fp chunk rows (tiny, lazy).
    */
  private[graft] val HammingHotFactor = 16.0

  private[graft] def hammingNearFpPairs(distinctFps: DataFrame,
      maxHamming: Int, maxBucket: Int): DataFrame = {
    val chunkedAll = hammingChunkRows(
      distinctFps.select(col("fp").as("id"), col("fp")), maxHamming)
      .select(col("fp"), col("chunk"), col("cval"))
    val chunked =
      if (maxBucket <= 0) chunkedAll
      else {
        val counts = chunkedAll.groupBy(col("chunk"), col("cval"))
          .agg(count(lit(1)).as("__bsz"))
        val chunkAvg = counts.groupBy(col("chunk")).agg(avg(col("__bsz")).as("__avg"))
        val hot = counts.join(chunkAvg, Seq("chunk"))
          .filter(col("__bsz") > maxBucket &&
            col("__bsz") > col("__avg") * lit(HammingHotFactor))
          .select(col("chunk"), col("cval"))
        chunkedAll.join(broadcast(hot), Seq("chunk", "cval"), "left_anti")
      }
    val l = chunked.select(col("chunk"), col("cval"), col("fp").as("a_fp"))
    val r = chunked.select(col("chunk").as("chunk_r"), col("cval").as("cval_r"),
      col("fp").as("b_fp"))
    l.join(r,
        col("chunk") === col("chunk_r") && col("cval") === col("cval_r") &&
          col("a_fp") =!= col("b_fp"))
      .select(col("a_fp"), col("b_fp")).distinct()
      .filter(bit_count(col("a_fp").bitwiseXOR(col("b_fp"))) <= maxHamming)
  }

  /** Perceptual-hash IMAGE near-dup pairs — the image-modality member of
    * the dedup family, composing the multimodal decode stack with the
    * simhash blocking plan: per-image 64-bit dHash
    * ([[MultimodalOps.perceptualHash]] — map-side decode, zero shuffle)
    * then the SAME pigeonhole-blocked hamming join as [[simHash]]
    * ([[hammingNearPairs]]). Re-encoded (PNG↔PPM), resized, or
    * mildly-edited copies of a picture land within a few dHash bits, so
    * the image-dedup pass every multimodal training pipeline runs is the
    * text plan with a different fingerprint. Output (a_id, b_id,
    * hamming), a_id < b_id. No DuckDB oracle (image decode is
    * engine-native) — rows-only, planted-copy recovery pinned in tests.
    */
  def imageNearDupOn(records: org.apache.spark.sql.Dataset[MediaRecord],
      maxHamming: Int = 8): DataFrame =
    // deliberately NOT checkpointed like audioNearDupOn: the dHash decode
    // is cheap enough that the A/B measured the materialization barrier
    // as a net loss here (1.96 s vs 2.21 s at sf0.1) while the audio
    // twin's heavier synth/decode made it a 2× win — per-operator
    // measurement, not a blanket rule
    hammingNearPairs(
      MultimodalOps.perceptualHash(records).toDF()
        .select(col("doc_id").as("id"), col("dhash").as("fp")), maxHamming)
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).as("hamming"))
      .orderBy(col("a_id").asc, col("b_id").asc)

  /** Fixture-driven form of [[imageNearDupOn]] (`q_image_neardup`): the
    * corpus carries no rasters, so each document's bytes render as a
    * deterministic 8×8-block P6 mosaic ([[MultimodalOps.renderPpm]]), and
    * every 5th doc is re-rendered as a 48×48 nearest-neighbor RESIZE under
    * a surrogate id — the resized-copy pathology image dedup exists for.
    * The planted pairs (d, d+10000) must come back through the real
    * decode → dHash → blocked-join path.
    */
  def imageNearDup(spark: SparkSession, dir: String, maxHamming: Int = 8): DataFrame = {
    import spark.implicits._
    // NOT fanned out (FanOut.widen tried + REVERTED r20, like the audio
    // twin): the un-checkpointed render+dHash chain runs once per join
    // side, so the spread exchange also ran twice and the blocked join
    // inherited 64-partition inputs — measured 1.35 → 2.19 s
    val imgs = MultimodalOps.mediaRecords(spark, dir)
      .map(r => MediaRecord(r.doc_id,
        MultimodalOps.renderPpm(r.payload), "image/x-portable-pixmap"))
    val copies = MultimodalOps
      .resizePpm(imgs.filter((r: MediaRecord) => r.doc_id % 5 == 0), 48, 48)
      .map(r => MediaRecord(r.doc_id + 10000, r.payload, r.mime))
    imageNearDupOn(imgs.unionAll(copies), maxHamming)
  }

  /** Spectral-fingerprint AUDIO near-dup pairs — the audio-modality
    * member of the family: per-clip 64-bit Haitsma–Kalker-style hash
    * ([[MultimodalOps.audioFingerprint]] — real PCM decode, map-side,
    * amplitude-invariant band-order bits) through the SAME
    * pigeonhole-blocked hamming join as simhash and image dedup
    * ([[hammingNearPairs]]). Volume-changed or container-re-encoded
    * copies of a recording land within a few bits; the audio-dedup pass
    * a multimodal training pipeline runs is, again, the text plan with a
    * different fingerprint. Output (a_id, b_id, hamming), a_id < b_id.
    */
  def audioNearDupOn(records: org.apache.spark.sql.Dataset[MediaRecord],
      maxHamming: Int = 6): DataFrame = {
    // the blocked self-join references the fingerprint set twice; the
    // synth/decode/Goertzel pipeline above it is the expensive part, so
    // materialize the (id, fp) rows ONCE (8 B × corpus — tiny) instead
    // of decoding every clip per join side (measured 2× on the contract
    // entry)
    val fps = MultimodalOps.audioFingerprint(records).toDF()
      .select(col("doc_id").as("id"), col("fp"))
      .localCheckpoint()
    hammingNearPairs(fps, maxHamming)
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).as("hamming"))
      .orderBy(col("a_id").asc, col("b_id").asc)
  }

  /** Fixture-driven form of [[audioNearDupOn]] (`q_audio_neardup`): the
    * corpus carries no audio, so each document's bytes synthesize a
    * deterministic tone-mix WAV ([[MultimodalOps.renderWav]] — band
    * choice and temporal envelope from the bytes), and every 7th doc is
    * VOLUME-SCALED (0.4×) and re-encoded under a surrogate id — the
    * loudness-changed-copy pathology audio dedup exists for. Planted
    * pairs (d, d+20000) must come back through the real decode →
    * fingerprint → blocked-join path. Rows-only (audio decode is
    * engine-native); planted recovery pinned in tests.
    */
  def audioNearDup(spark: SparkSession, dir: String, maxHamming: Int = 6): DataFrame = {
    import spark.implicits._
    // NOT fanned out (FanOut.widen tried + REVERTED r20): the 1.4 s
    // two-task synth+fingerprint checkpoint looked like idle-capacity
    // waste, but spreading it to 64 tasks measured 1.88 → 2.79 s — the
    // javax.sound encode/decode path serializes on AudioSystem's
    // provider machinery, so extra tasks buy contention, not speedup
    val src = MultimodalOps.mediaRecords(spark, dir)
    val clips = src.map(r => MediaRecord(r.doc_id,
      MultimodalOps.renderWav(r.payload, seconds = 0.32), "audio/wav"))
    // the copies synthesize at gain 0.4 directly — sample-identical to a
    // decode→scale→re-encode of the original modulo one requantization
    // (the TRUE re-encode path, scaleWav, is what the unit tests pin;
    // here it would decode+re-encode every 7th clip for the same bits)
    val copies = src.filter((r: MediaRecord) => r.doc_id % 7 == 0)
      .map(r => MediaRecord(r.doc_id + 20000,
        MultimodalOps.renderWav(r.payload, seconds = 0.32, gain = 0.4),
        "audio/wav"))
    audioNearDupOn(clips.unionAll(copies), maxHamming)
  }

  /** Embedding-space near-dup: each doc that has a lower-id neighbor at
    * cosine ≥ τ, mapped to its canonical (lowest-id) representative — the
    * "semantic dedup" pass of a training-data pipeline. The pair source is
    * the cost-dispatching similarity join ([[KnnOps.simJoinAuto]]): exact
    * all-pairs below the measured crossover, banded LSH above it — so this
    * pass inherits the scale path without its own tuning. (The join emits
    * score > τ−ε and the ≥ τ cut reapplies on the rounded score, keeping
    * the boundary semantics of the oracle exactly.)
    */
  def embedNearDup(spark: SparkSession, dir: String, tau: Double = 0.45): DataFrame = {
    // strictly-greater join threshold nudged below τ so pairs AT τ survive
    KnnOps.simJoinAuto(spark, dir, threshold = tau - 1e-7)
      .filter(col("score") >= tau)
      .groupBy(col("b_id"))
      .agg(min(col("a_id")).as("canonical_id"))
      .select(col("b_id").as("dup_id"), col("canonical_id"))
      .orderBy(col("dup_id").asc)
  }

  /** SEMANTIC dedup with LEARNED cell blocking — the SemDeDup shape
    * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication"): k-means clusters the embedding
    * space, and duplicate search runs ONLY within a cluster — pairs in
    * different cells are never compared. This is the third blocking
    * strategy of the dedup family, distinct from both of the others:
    * hyperplane-LSH banding ([[KnnOps.simJoinLsh]]) prunes only near
    * τ→1, and the prefix filter ([[jaccardPairsPrefixOn]]) is lexical —
    * learned cells capture "same meaning, different words" at the
    * moderate cosines (τ ≈ 0.9 on real embeddings) where semantic
    * duplicates actually live. The published trade: a cross-cell
    * near-dup pair is missed by construction (measured on planted
    * clusters in tests; kCells = 1 degrades to the exact all-pairs
    * join, the recall ceiling).
    *
    * Plan: cache-train-unpersist k-means (the deterministic seeded
    * [[KnnOps.kmeansCentroids]]), per-row cell assignment via the
    * codegen [[graft.plans.NearestCentroid]] (map-side), then a pair
    * join EQUI-keyed on the cell — the shuffle is the blocking. Exact
    * cosine verifies in the join condition; output maps every duplicate
    * to its lowest-id in-cell canonical, `(dup_id, canonical_id)` like
    * [[embedNearDup]]. Scale notes: Σ cell² bounds the pair work — at
    * production kCells is thousands (cells of ~√corpus), the join fans
    * as wide as the cell count, and a pathological giant cell wants the
    * same cap treatment as [[LshGuard]] or a recursive re-cluster; the
    * fixture's kCells = 8 is fixture-sized. Rows-only (k-means is
    * engine-native); planted-cluster recovery and the kCells = 1
    * exact-equality ceiling are test-pinned.
    */
  def semanticDedupCells(spark: SparkSession, dir: String, tau: Double = 0.45,
      kCells: Int = 8, iters: Int = 3, epsilon: Double = 0.0,
      maxCellRows: Long = 0L): DataFrame =
    semanticDedupCellsOn(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      tau, kCells, iters, epsilon, maxCellRows)

  /** `epsilon > 0` enables BOUNDARY MULTI-ASSIGNMENT: a vector whose
    * cosine margin between its nearest and second-nearest cell is below ε
    * blocks into BOTH cells, so a near-dup pair split by the k-means
    * partition can still meet — the optional recovery knob for the
    * published SemDeDup cross-cell miss. Measured on the planted-cluster
    * grid (`DedupScale semdedup`, n=10k, 500 planted groups, kCells=16 vs
    * the kCells=1 exact ceiling): ε=0 recovers 77.0% of the ceiling's
    * duplicates; ε=0.01 → 81.7% (+5.9% assignments); ε=0.02 → 84.9%
    * (+11.4%); ε=0.05 → 91.9% (+28.0%); ε=0.1 → 97.3% (+50.6%) — join
    * work grows with the double-assigned fraction (each extra assignment
    * re-enters the Σcell² candidate bound). Default OFF (ε = 0) keeps the
    * published SemDeDup trade and the contract entry bit-stable.
    */
  private[graft] def semanticDedupCellsOn(emb: DataFrame, tau: Double,
      kCells: Int, iters: Int, epsilon: Double = 0.0,
      maxCellRows: Long = 0L): DataFrame = {
    require(kCells >= 1, s"kCells out of range: $kCells")
    // cache-train-unpersist: see createIvfCollection
    emb.cache()
    val cents = try KnnOps.kmeansCentroids(emb, kCells, iters)
      finally emb.unpersist()
    semanticDedupWithCentroids(emb, cents, kCells, tau, epsilon, maxCellRows)
  }

  /** Semantic dedup against a PERSISTED quantizer
    * ([[graft.sources.CatalogOps.createKmeansModel]]) — the serving form:
    * no training pass, the stored model's centroids block the pair join.
    * With a model created on the same corpus and parameters this is
    * bit-identical to [[semanticDedupCells]] (pinned in tests); with a
    * mini-batch-maintained model it is the production shape — the
    * quantizer ages gracefully (count-weighted running means) instead of
    * retraining on the full history per dedup run.
    */
  def semanticDedupStored(spark: SparkSession, db: String, name: String,
      emb: DataFrame, tau: Double = 0.45, epsilon: Double = 0.0,
      maxCellRows: Long = 0L): DataFrame = {
    val (cents, _, kCells, _, _) =
      graft.sources.CatalogOps.readKmeansModel(spark, db, name)
    semanticDedupWithCentroids(emb, cents, kCells, tau, epsilon, maxCellRows)
  }

  /** Build-if-absent quantizer for the stored-semantic contract entry —
    * create-half + mini-batch-upsert-half every contract run, so the
    * maintenance path faces the fixture each time (same convention as
    * the lexical/positional index ensures). NOTE the halves: the create
    * trains Lloyd on the even ids; the odd ids arrive as ONE mini-batch
    * step — the stored model is the AGED one by construction.
    */
  private[graft] def ensureKmeansModel(spark: SparkSession, dir: String,
      kCells: Int = 8, iters: Int = 3): (String, String) = {
    import graft.sources.CatalogOps
    val db = "graft_kmeans"
    val name = "emb"
    this.synchronized {
      if (!spark.catalog.tableExists(s"$db.${name}__kmeans")) {
        CatalogOps.createDatabase(spark, db)
        KnnOps.dropTableAndDir(spark, db, s"${name}__kmeans")
        val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
        CatalogOps.createKmeansModel(spark, db, name,
          emb.filter(col("vec_id") % 2 === 0), kCells, iters)
        CatalogOps.upsertKmeansModel(spark, db, name,
          emb.filter(col("vec_id") % 2 =!= 0), batchId = 0L)
      }
    }
    (db, name)
  }

  /** `q_dedup_semantic_stored`: [[semanticDedupStored]] over the
    * fixture against the maintained quantizer of [[ensureKmeansModel]].
    */
  def semanticDedupStoredFixture(spark: SparkSession, dir: String,
      tau: Double = 0.45): DataFrame = {
    val (db, name) = ensureKmeansModel(spark, dir)
    semanticDedupStored(spark, db, name,
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")), tau)
  }

  /** Recursive GIANT-CELL refinement — the cap treatment the cell-blocked
    * pair join needs at scale (a crawl corpus's boilerplate mass can land
    * one k-means cell with millions of rows, and the equi-keyed pair join
    * is quadratic per cell): any cell above `maxCellRows` re-clusters
    * with its own deterministic sub-k-means (`subK` subcells, trained on
    * ONLY that cell's rows) and the split repeats up to `maxDepth`.
    * Unlike an LshGuard-style drop, splitting keeps intra-subcell recall —
    * the groups found just get finer, which for dedup is the SAFE
    * direction (under-merge, never a wrong merge: every emitted pair is
    * still cosine-verified ≥ τ). Cross-subcell pairs inside the split
    * cell are missed exactly like SemDeDup's own cross-cell trade; the
    * [[NearCentroidCells]] ε-multi-assignment composes upstream for
    * boundary recovery. Best-effort on degenerate content: a cell of
    * IDENTICAL embeddings cannot split (k-means sends every row to one
    * subcell) — its quadratic pair set is the true answer, and the loop
    * stops at `maxDepth`. Each round localCheckpoints the assignment so
    * the per-hot-cell training passes and the anti-join read a
    * materialized frame, not a growing lineage; driver state stays
    * cell-count-sized. Rows with the same vec_id (ε multi-assignment)
    * refine independently.
    *
    * MEASURED trade (`DedupScale semdedup`, dim-16, kCells=2 degenerate
    * quantizer): capped runs keep 72-73% of the uncapped duplicate set
    * with ZERO wrong merges, but at local fixture sizes the refinement's
    * driver-sequenced jobs (counts + per-hot-cell Lloyd rounds) cost more
    * than the quadratic join they avoid (12.6 s vs 3.1 s at n=30k —
    * 225M dim-16 candidates are only ~3 s of codegen'd cosine). The
    * crossover is candidates×dim work vs a near-constant number of
    * hot-cell passes: at production dims (768+) and cells of 10⁶+ rows
    * the uncapped join is 10¹²+ cosine evals — a stuck stage — while
    * refinement stays a few passes over hot-cell rows. Default OFF;
    * turn on (cap ≈ rows per executor-hour of pair work) when cell
    * histograms show boilerplate mass.
    */
  private[graft] def refineCells(cells: DataFrame, maxCellRows: Long,
      subK: Int = 8, iters: Int = 2, maxDepth: Int = 3): DataFrame = {
    if (maxCellRows <= 0) return cells
    require(maxCellRows >= subK,
      s"maxCellRows ($maxCellRows) must be >= subK ($subK) to seed the sub-quantizer")
    val spark = cells.sparkSession
    var cur = cells
    var depth = 0
    var done = false
    while (depth < maxDepth && !done) {
      val counts = cur.groupBy(col("cell")).agg(count(lit(1)).as("n")).collect()
      val hot = counts.filter(_.getLong(1) > maxCellRows)
        .map(_.getAs[Number]("cell").longValue()).sorted
      if (hot.isEmpty) done = true
      else {
        var nextId = counts.map(_.getAs[Number]("cell").longValue()).max + 1L
        val snap = cur.localCheckpoint()
        val hotDf = spark.createDataFrame(hot.toIndexedSeq.map(Tuple1(_))).toDF("cell")
        var result = snap.join(broadcast(hotDf), Seq("cell"), "left_anti")
          .select(col("vec_id"), col("embedding"), col("cell"))
        hot.foreach { c =>
          val sub = snap.filter(col("cell") === c)
            .select(col("vec_id"), col("embedding"))
          val subCents = KnnOps.kmeansCentroids(sub, subK, iters)
          val assign = toCol(graft.plans.NearestCentroid(
            toExpr(col("embedding")), subCents.toSeq, subK))
          result = result.unionByName(sub.select(col("vec_id"), col("embedding"),
            (assign.cast("long") + lit(nextId)).as("cell")))
          nextId += subK
        }
        cur = result
        depth += 1
      }
    }
    cur
  }

  private[graft] def semanticDedupWithCentroids(emb: DataFrame,
      cents: Array[Double], kCells: Int, tau: Double,
      epsilon: Double = 0.0, maxCellRows: Long = 0L): DataFrame = {
    import graft.functions.VectorFunctions.cosineFast
    val assigned =
      if (epsilon <= 0.0) {
        val assign = toCol(graft.plans.NearestCentroid(
          toExpr(col("embedding")), cents.toSeq, kCells))
        emb.select(col("vec_id"), col("embedding"), assign.as("cell"))
      } else {
        // boundary multi-assignment: ≤2 cells per vector; a pair sharing
        // both cells meets twice, which the min() aggregate absorbs
        val assign = toCol(graft.plans.NearCentroidCells(
          toExpr(col("embedding")), cents.toSeq, kCells, epsilon))
        emb.select(col("vec_id"), col("embedding"),
          explode(assign).as("cell"))
      }
    val cells =
      if (maxCellRows <= 0) assigned
      else refineCells(
        assigned.select(col("vec_id"), col("embedding"),
          col("cell").cast("long").as("cell")), maxCellRows)
    val a = cells.select(col("cell"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"))
    val b = cells.select(col("cell").as("cell_b"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"))
    a.join(b, col("cell") === col("cell_b") && col("a_id") < col("b_id") &&
        cosineFast(col("a_emb"), col("b_emb")) >= tau)
      .groupBy(col("b_id"))
      .agg(min(col("a_id")).as("canonical_id"))
      .select(col("b_id").as("dup_id"), col("canonical_id"))
      .orderBy(col("dup_id").asc)
  }

  /** Transitive-closure dedup: connected components over the verified
    * near-dup pairs, each doc labeled with its component's minimum id.
    * The pairwise passes above answer "who is similar to whom"; a real
    * corpus dedup must answer "which docs are the SAME group" — and
    * similarity is not transitive (A≈B, B≈C does not give A≈C ≥ τ), so the
    * group is the connected component of the similarity graph, not the
    * neighbor list. Pair source is the banded-LSH path
    * ([[minHashLshPairs]]); resolution is [[connectedComponentsOn]].
    */
  def dedupConnected(spark: SparkSession, dir: String, tau: Double = 0.95): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val star = connectedComponentsOn(
      minHashLshPairs(spark, dir, tau).select(col("a_id").as("a"), col("b_id").as("b")))
    docs.join(star.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .orderBy(col("doc_id").asc)
  }

  /** KEEP-BEST duplicate resolution (`q_dedup_keepbest`) — for every
    * near-dup cluster ([[dedupConnected]]'s transitive-closure
    * components), keep the HIGHEST-QUALITY copy instead of the first:
    * the production survivor policy (the copies of a near-dup cluster
    * differ — truncation, boilerplate, OCR noise — and min-id keeps an
    * arbitrary one; every serious pipeline keeps the best). Quality is
    * the engine's oracled composite (distinct-ratio + length ramp, the
    * q_text_quality formula), ties resolve to the smaller doc_id — the
    * [[dedupExact]] convention.
    *
    * Scale: the CC resolution dominates and is reused unchanged; the
    * survivor pick adds ONE component-keyed partial-aggregated
    * `max(struct(quality, −doc_id))` — order-free, no window over the
    * corpus, the exchange carries one row per (component × map task).
    * Both engines compare the ROUNDED quality, so the argmax cannot
    * straddle a rounding boundary.
    */
  def dedupKeepBest(spark: SparkSession, dir: String,
      tau: Double = 0.95): DataFrame = {
    val comp = dedupConnected(spark, dir, tau)
    val toks = split(col("text"), " ")
    val q = Tables.documents(spark, dir).select(col("doc_id"),
      round(size(array_distinct(toks)).cast("double") / size(toks) * lit(0.5) +
        least(lit(1.0), size(toks).cast("double") / lit(100.0)) * lit(0.5), 6)
        .as("quality"))
    keepBestOn(comp, q)
  }

  /** SOFT DEDUPLICATION (`q_dedup_soft`) — down-weight duplicates
    * instead of dropping them (the SoftDeDup reweighting family; the
    * standard alternative when hard removal costs long-tail coverage):
    * every document receives sampling weight `1/|cluster|` over the
    * transitive near-dup clusters [[dedupConnected]] resolves, so each
    * distinct content mass contributes one document's worth of expected
    * training tokens regardless of how many copies the crawl captured.
    * Weights are emitted in ppm via INTEGER division (`1000000 div
    * size`) — no float path for either engine to diverge on.
    *
    * Scale: reuses the CC closure unchanged (the maintained component
    * store serves the same answer without the pair pass); the weight
    * itself adds one component-grain count aggregate and one
    * component-keyed join — partial-aggregated, no new corpus-grain
    * exchange, no window over the corpus.
    */
  def dedupSoft(spark: SparkSession, dir: String,
      tau: Double = 0.95): DataFrame = {
    val comp = dedupConnected(spark, dir, tau)
    val sizes = comp.groupBy(col("component")).agg(count(lit(1)).as("csize"))
    comp.join(sizes, Seq("component"))
      .select(col("doc_id"), col("component"), col("csize"),
        expr("1000000 div csize").as("weight_ppm"))
      .orderBy(col("doc_id").asc)
  }

  /** Parametric core: (doc_id, component) × (doc_id, quality) in,
    * one (component, kept_doc_id, quality, n_members) row per cluster.
    */
  private[graft] def keepBestOn(comp: DataFrame, quality: DataFrame): DataFrame =
    comp.join(quality, Seq("doc_id"))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("w"))
      .select(col("component"), (-col("w.nid")).as("kept_doc_id"),
        col("w.quality").as("quality"), col("n_members"))
      .orderBy(col("component").asc)

  // ---------------------------------------------------------------------
  // MAINTAINED COMPONENT STORE — the transitive closure as a serving
  // artifact. [[dedupConnected]] / [[dedupKeepBest]] each re-pay the full
  // LSH pair pass + star rounds per call; a pipeline that wants components
  // AND survivors (AND membership probes) should pay the closure once and
  // serve it — the rank-store pattern ([[LinkOps.createRankStore]])
  // applied to the one expensive artifact that lacked it. The algebraic
  // license for the incremental fold: NEW DOCUMENTS ONLY ADD EDGES, and
  // added edges can only MERGE components — never split them — so the
  // delta resolves on the QUOTIENT graph (stored components contracted to
  // their labels) whose size is bounded by the delta's edge set, not the
  // corpus. create(n) + refresh(batch) == cold(n + batch) exactly, because
  // LSH pair discovery is a pure per-pair predicate: pairs(full corpus) =
  // pairs(old) ∪ pairs(new, new) ∪ pairs(new, old), and connected
  // components of an edge UNION are independent of discovery order. (The
  // one caveat is the LshGuard hot-bucket cap, whose bucket sizes are
  // measured per-pass — equality holds while no band bucket crosses the
  // guard, the same published contract as the streaming minhash filter.)
  //
  // Layout: `{name}__components` (doc_id, component) partitioned by
  // bucket = pmod(hash(doc_id), 32) — doc-keyed so a row NEVER moves
  // partitions when its component label changes; a refresh rewrites only
  // the buckets holding merged-component members or new docs (dynamic
  // overwrite, untouched buckets byte-stable). `{name}__csigs` (doc_id,
  // band, bkey) is the probe surface new batches equi-join (at 100 TB:
  // bucketed on bkey so the probe is bucket-local); `{name}__cdata`
  // (doc_id, s, n) carries the sorted token arrays the exact-Jaccard
  // verify needs (the general-path representation — the store must not
  // depend on the corpus fitting a 64-word vocabulary). `{name}__cmeta`
  // carries the refresh epoch.
  // ---------------------------------------------------------------------

  private val CompStoreBuckets = 32

  /** (doc_id, band, bkey) rows from a [[minhashSigMeta]] frame — the LSH
    * blocking keys, shared by the store layout and its probe.
    */
  private def bandRows(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until NumBands).map { bnd =>
      struct(lit(bnd).as("band"),
        xxhash64(col(s"h${2 * bnd}"), col(s"h${2 * bnd + 1}")).as("bkey"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  private def compTable(db: String, name: String) = s"`$db`.`${name}__components`"

  /** Build the store from scratch: full LSH pair pass + transitive
    * closure over `docs` (doc_id, text), persisted with the probe
    * artifacts a future refresh needs.
    */
  def createComponentStore(spark: SparkSession, db: String, name: String,
      docs0: DataFrame, tau: Double = 0.95,
      maxBucket: Int = LshGuard.DefaultMaxBucket): Unit = {
    val docs = docs0.select(col("doc_id"), col("text"))
    val star = connectedComponentsOn(
      minHashLshPairsOn(docs, tau, maxBucket)
        .select(col("a_id").as("a"), col("b_id").as("b")))
    docs.select(col("doc_id"))
      .join(star.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"),
        pmod(hash(col("doc_id")), lit(CompStoreBuckets)).as("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .saveAsTable(compTable(db, name))
    // probe stores are doc-id bucketed too: a removal purge rewrites only
    // the doomed ids' buckets, never the table (the deleteByIds shape)
    val sig = minhashSigMeta(docs, None).cache()
    bandRows(sig)
      .withColumn("bucket", pmod(hash(col("doc_id")), lit(CompStoreBuckets)))
      .write.mode("overwrite").partitionBy("bucket")
      .saveAsTable(s"`$db`.`${name}__csigs`")
    sig.select(col("doc_id"), col("s"), col("n"))
      .withColumn("bucket", pmod(hash(col("doc_id")), lit(CompStoreBuckets)))
      .write.mode("overwrite").partitionBy("bucket")
      .saveAsTable(s"`$db`.`${name}__cdata`")
    sig.unpersist()
    // tau AND maxBucket travel with the store: every fold must re-verify
    // at the SAME threshold and the SAME hot-bucket cap, or the stored
    // closure silently changes meaning / the guard semantics drift
    // across epochs (ADVICE r15 — exactly the drift class the tau
    // require() already guards); guard_hits accumulates the folds'
    // hot-bucket drops (ADVICE r14 — a nonzero counter says the stored
    // closure may differ from a cold rebuild through the guard, loudly
    // instead of silently)
    spark.createDataFrame(Seq((1L, tau, 0L, maxBucket.toLong)))
      .toDF("epoch", "tau", "guard_hits", "max_bucket")
      .write.mode("overwrite").saveAsTable(s"`$db`.`${name}__cmeta`")
  }

  /** The store's build threshold + hot-bucket cap + current (epoch,
    * cumulative guard-hit count); folds must match tau AND maxBucket.
    */
  private def compMeta(spark: SparkSession, db: String, name: String,
      tau: Double, maxBucket: Int): (Long, Long) = {
    val r = spark.table(s"`$db`.`${name}__cmeta`")
      .agg(max(col("epoch")), max(col("tau")), max(col("guard_hits")),
        max(col("max_bucket"))).head()
    require(r.getDouble(1) == tau,
      s"component store `$name` was built at tau=${r.getDouble(1)}; " +
        s"folding at tau=$tau would change what 'duplicate' means — " +
        "rebuild the store to change the threshold")
    require(r.getLong(3) == maxBucket.toLong,
      s"component store `$name` was built with maxBucket=${r.getLong(3)}; " +
        s"folding at maxBucket=$maxBucket would change the hot-bucket " +
        "guard semantics across epochs — rebuild the store to change the cap")
    (r.getLong(0), r.getLong(2))
  }

  /** Incremental fold of a NEW-DOCUMENT batch into the stored closure.
    * Work is delta-bounded end to end: the batch's band keys equi-join
    * the signature store (new–old candidates), the batch LSH-pairs
    * itself (new–new), old endpoints contract to their stored component
    * label, and the star rounds run on that quotient graph. The rewrite
    * touches ONLY the buckets holding merged-component members or new
    * docs; every other partition's files stay byte-identical. Ids must
    * be fresh — the store is an append-only corpus artifact (updates are
    * a delete + re-add lifecycle, like every index store here).
    */
  def refreshComponents(spark: SparkSession, db: String, name: String,
      newDocs0: DataFrame, tau: Double = 0.95,
      maxBucket: Int = LshGuard.DefaultMaxBucket): Unit = {
    val newDocs = newDocs0.select(col("doc_id"), col("text"))
    val (epoch0, hits0) = compMeta(spark, db, name, tau, maxBucket) // refuses tau/cap mismatch
    val comps = spark.table(compTable(db, name))
    val newIds = newDocs.select(col("doc_id")).localCheckpoint(false)
    require(comps.join(broadcast(newIds), Seq("doc_id"), "left_semi").isEmpty,
      "refreshComponents takes NEW ids only (append-only store; updates are delete + re-add)")
    val sig = minhashSigMeta(newDocs, None).cache()
    // new–new: the ordinary banded pair pass within the batch
    val nn = minHashLshPairsOn(newDocs, tau)
      .select(col("a_id").as("a"), col("b_id").as("b"))
    // new–old: batch band keys probe the signature store (bucket-local at
    // scale), then exact-Jaccard verify against ONLY the candidate docs.
    // The hot-bucket guard measures bucket sizes over the COMBINED
    // store+batch view (ADVICE r14: per-side measurement let a bucket
    // crossing the cap only in the combined view diverge silently from
    // the cold build, which measures over the whole corpus): ONE hot
    // set, anti-joined from both sides, and its size lands in __cmeta as
    // a cumulative guard-hit counter so a fold that actually dropped
    // rows is detectable after the fact. (The new–new pass still
    // measures within the batch — a bucket hot corpus-wide but cold
    // in-batch keeps its in-batch pairs, which only ADDS edges the cold
    // closure's guard dropped; the counter flags exactly these folds.)
    val storedRaw = spark.table(s"`$db`.`${name}__csigs`")
      .select(col("band"), col("bkey"), col("doc_id"))
    val hot = storedRaw.select(col("band"), col("bkey"))
      .unionByName(bandRows(sig).select(col("band"), col("bkey")))
      .groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > maxBucket)
      .select(col("band"), col("bkey"))
      .localCheckpoint(false)
    val guardHits = hot.count()
    val stored = storedRaw
      .join(broadcast(hot), Seq("band", "bkey"), "left_anti")
      .select(col("band").as("band_s"), col("bkey").as("bkey_s"),
        col("doc_id").as("old_id"))
    val cand = bandRows(sig)
      .join(broadcast(hot), Seq("band", "bkey"), "left_anti")
      .join(stored, col("band") === col("band_s") && col("bkey") === col("bkey_s"))
      .select(col("doc_id").as("new_id"), col("old_id")).distinct()
    val cdata = spark.table(s"`$db`.`${name}__cdata`")
    val no = cand
      .join(sig.select(col("doc_id").as("new_id"), col("s").as("a_s"),
        col("n").as("a_n")), "new_id")
      .join(cdata.select(col("doc_id").as("old_id"), col("s").as("b_s"),
        col("n").as("b_n")), "old_id")
      .filter(jaccardFast(col("a_s"), col("b_s"), col("a_n"), col("b_n")) >= tau)
      .select(col("new_id"), col("old_id"))
    // quotient: contract each old endpoint to its stored component label;
    // the star rounds then run over |delta edges| + touched labels only
    val noComp = no
      .join(comps.select(col("doc_id").as("old_id"), col("component")), "old_id")
      .select(col("new_id").as("a"), col("component").as("b"))
    val star = connectedComponentsOn(nn.unionByName(noComp))
      .localCheckpoint(false) // read twice: new-row labels + old-label remap
    val newRows = newIds
      .join(star.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"),
        pmod(hash(col("doc_id")), lit(CompStoreBuckets)).as("bucket"))
    // star nodes are new ids or OLD component labels; the non-new rows
    // are exactly the merged-label remap (model-sized: ≤ |delta| merges)
    val remap = star.join(broadcast(newIds),
        star("node") === newIds("doc_id"), "left_anti")
      .select(col("node").as("component"), col("component").as("newcomp"))
    // touched buckets: merged-component members + the new docs' buckets
    val touched = comps.join(broadcast(remap.select(col("component"))),
        Seq("component"), "left_semi").select(col("bucket"))
      .unionByName(newRows.select(col("bucket")))
      .distinct()
    val staged = comps
      .join(broadcast(touched), Seq("bucket"), "left_semi")
      .join(broadcast(remap), Seq("component"), "left")
      .select(col("doc_id"),
        coalesce(col("newcomp"), col("component")).as("component"), col("bucket"))
      .unionByName(newRows)
    CatalogOps.overwritePartitions(compTable(db, name), staged)
    // probe artifacts append; epoch bumps
    bandRows(sig)
      .withColumn("bucket", pmod(hash(col("doc_id")), lit(CompStoreBuckets)))
      .write.mode("append").insertInto(s"$db.${name}__csigs")
    sig.select(col("doc_id"), col("s"), col("n"))
      .withColumn("bucket", pmod(hash(col("doc_id")), lit(CompStoreBuckets)))
      .write.mode("append").insertInto(s"$db.${name}__cdata")
    sig.unpersist()
    spark.createDataFrame(Seq((epoch0 + 1, tau, hits0 + guardHits, maxBucket.toLong)))
      .toDF("epoch", "tau", "guard_hits", "max_bucket")
      .write.mode("overwrite").saveAsTable(s"`$db`.`${name}__cmeta`")
  }

  /** Remove documents from the stored closure — the fold [[refreshComponents]]
    * cannot express: deleting a node can SPLIT its component (it may have
    * been the only bridge), so the touched components re-resolve from
    * scratch — but ONLY them. The stored probe artifacts make that local:
    * the surviving members' band keys re-join among themselves
    * (`{name}__csigs` restricted to the touched components' survivors),
    * exact Jaccard re-verifies from `{name}__cdata`, and the star rounds
    * run on that member-bounded subgraph. Untouched components never
    * enter any join; the rewrite touches only the buckets holding member
    * rows (dynamic overwrite). `tau` must be the store's build threshold
    * — a mismatch is refused loudly (it would silently change what
    * "duplicate" means; the threshold travels in `{name}__cmeta`).
    *
    * The sig/data stores are doc-id bucketed like the components table,
    * so their purge rewrites only the doomed ids' buckets (the
    * deleteByIds shape: untouched buckets byte-stable, emptied drop).
    */
  def removeFromComponents(spark: SparkSession, db: String, name: String,
      ids: DataFrame, tau: Double = 0.95,
      maxBucket: Int = LshGuard.DefaultMaxBucket): Unit = {
    val (epoch0, hits0) = compMeta(spark, db, name, tau, maxBucket) // refuses tau/cap mismatch
    val doomed = ids.toDF("doc_id").distinct().localCheckpoint(false)
    val comps = spark.table(compTable(db, name))
    val touchedComps = comps.join(broadcast(doomed), Seq("doc_id"), "left_semi")
      .select(col("component")).distinct()
    // every row of every touched component (doomed + survivors), with its
    // bucket — the full rewrite/re-resolution scope
    val members = comps.join(broadcast(touchedComps), Seq("component"), "left_semi")
      .localCheckpoint(false)
    val survivors = members.join(broadcast(doomed), Seq("doc_id"), "left_anti")
      .select(col("doc_id")).localCheckpoint(false)
    // re-resolve among survivors only: band keys from the sig store,
    // exact-Jaccard verify from the data store. Hot-bucket guard before
    // the self-join — a giant touched component IS the boilerplate-
    // cluster shape, and an unguarded self-join over its shared band
    // keys would be the r12 hamming pathology all over again
    val sigs = LshGuard.dropHotBuckets(
      spark.table(s"`$db`.`${name}__csigs`")
        .select(col("band"), col("bkey"), col("doc_id"))
        .join(broadcast(survivors), Seq("doc_id"), "left_semi"),
      maxBucket)
    val l = sigs.select(col("band"), col("bkey"), col("doc_id").as("a_id"))
    val r = sigs.select(col("band").as("band_r"), col("bkey").as("bkey_r"),
      col("doc_id").as("b_id"))
    val cand = l.join(r, col("band") === col("band_r") &&
        col("bkey") === col("bkey_r") && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    val cdata = spark.table(s"`$db`.`${name}__cdata`")
    val pairs = cand
      .join(cdata.select(col("doc_id").as("a_id"), col("s").as("a_s"),
        col("n").as("a_n")), "a_id")
      .join(cdata.select(col("doc_id").as("b_id"), col("s").as("b_s"),
        col("n").as("b_n")), "b_id")
      .filter(jaccardFast(col("a_s"), col("b_s"), col("a_n"), col("b_n")) >= tau)
      .select(col("a_id").as("a"), col("b_id").as("b"))
    val star = connectedComponentsOn(pairs)
    val newRows = survivors
      .join(star.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"),
        pmod(hash(col("doc_id")), lit(CompStoreBuckets)).as("bucket"))
    val touchedBuckets = members.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val staged = comps
      .where(col("bucket").isin(touchedBuckets: _*))
      .join(broadcast(members.select(col("doc_id"))), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("component"), col("bucket"))
      .unionByName(newRows)
    // purge the probe artifacts: both stores are doc-id bucketed, so the
    // rewrite reads and overwrites ONLY the doomed ids' buckets (the
    // deleteByIds shape — untouched buckets byte-stable, emptied drop)
    val doomedBuckets = doomed
      .select(pmod(hash(col("doc_id")), lit(CompStoreBuckets)).as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq
    // each rewrite drops the buckets its rows no longer reach; the frame
    // is checkpointed because it is read twice (bucket set + rewrite)
    def rewrite(t: String, rows: DataFrame, buckets: Seq[Int]): Unit = {
      val kept = rows.localCheckpoint()
      val live = kept.select(col("bucket")).distinct().collect().map(_.getInt(0)).toSet
      CatalogOps.overwritePartitions(t, kept, buckets.filterNot(live).map(Seq(_)))
    }
    rewrite(compTable(db, name), staged, touchedBuckets)
    Seq("csigs", "cdata").foreach { sfx =>
      val t = s"`$db`.`${name}__$sfx`"
      rewrite(t, spark.table(t).where(col("bucket").isin(doomedBuckets: _*))
        .join(broadcast(doomed), Seq("doc_id"), "left_anti"), doomedBuckets)
    }
    spark.createDataFrame(Seq((epoch0 + 1, tau, hits0, maxBucket.toLong)))
      .toDF("epoch", "tau", "guard_hits", "max_bucket")
      .write.mode("overwrite").saveAsTable(s"`$db`.`${name}__cmeta`")
  }

  /** Serve the stored closure — the read twin of [[refreshComponents]]. */
  def servedComponents(spark: SparkSession, db: String, name: String): DataFrame =
    spark.table(compTable(db, name)).select(col("doc_id"), col("component"))

  /** `q_dedup_cc_stored`: [[dedupConnected]] answered from the
    * MAINTAINED store — one bucketed read instead of the LSH pair pass +
    * star rounds. Same oracle as the live closure (the fold is exact).
    */
  def connectedStoredFixture(spark: SparkSession, dir: String): DataFrame = {
    ensureComponentStoreFixture(spark, dir)
    servedComponents(spark, "graft_comps", "docs")
      .orderBy(col("doc_id").asc)
  }

  /** `q_dedup_soft_stored`: [[dedupSoft]] answered from the MAINTAINED
    * component store — the serve path a pipeline actually reweights
    * from (the live closure is the backfill). Same oracle as the live
    * twin: the fold is exact, and the weight arithmetic is shared.
    */
  def dedupSoftStoredFixture(spark: SparkSession, dir: String): DataFrame = {
    ensureComponentStoreFixture(spark, dir)
    val comp = servedComponents(spark, "graft_comps", "docs")
    val sizes = comp.groupBy(col("component")).agg(count(lit(1)).as("csize"))
    comp.join(sizes, Seq("component"))
      .select(col("doc_id"), col("component"), col("csize"),
        expr("1000000 div csize").as("weight_ppm"))
      .orderBy(col("doc_id").asc)
  }

  /** `q_dedup_keepbest_stored`: [[dedupKeepBest]] answered from the
    * MAINTAINED store — built create(even ids) + refresh(odd ids) so every
    * contract run exercises the incremental merge fold, then served as
    * one store read + quality join + component argmax (the ~4 s closure
    * re-run drops to the join cost). Same oracle as `q_dedup_keepbest`:
    * the fold is exact, not approximate. Idempotent per session.
    */
  def keepBestStoredFixture(spark: SparkSession, dir: String): DataFrame = {
    ensureComponentStoreFixture(spark, dir)
    val toks = split(col("text"), " ")
    val q = Tables.documents(spark, dir).select(col("doc_id"),
      round(size(array_distinct(toks)).cast("double") / size(toks) * lit(0.5) +
        least(lit(1.0), size(toks).cast("double") / lit(100.0)) * lit(0.5), 6)
        .as("quality"))
    keepBestOn(servedComponents(spark, "graft_comps", "docs"), q)
  }

  /** Session-idempotent fixture store: create(even ids) + refresh(odd
    * ids), so every cold session exercises the incremental merge fold.
    *
    * The ready-check keys on the persisted epoch AND a fixture
    * fingerprint (`{name}__cfix` carries the source dir — ADVICE r14:
    * epoch alone survives across sessions on a persistent warehouse and
    * would serve a stale store against a fresh oracle when the fixture
    * dir changes; the documents fixtures differ in CONTENT across scale
    * factors, so the dir is the fingerprint).
    */
  private def ensureComponentStoreFixture(spark: SparkSession, dir: String): Unit = {
    import graft.sources.CatalogOps
    val db = "graft_comps"
    val name = "docs"
    this.synchronized {
      val ready = spark.catalog.tableExists(s"$db.${name}__cmeta") &&
        spark.catalog.tableExists(s"$db.${name}__cfix") &&
        // pre-r16 stores carry no max_bucket column — rebuild once
        spark.table(s"`$db`.`${name}__cmeta`").columns.contains("max_bucket") && {
          val r = spark.table(s"`$db`.`${name}__cmeta`")
            .agg(max(col("epoch"))).head()
          val f = spark.table(s"`$db`.`${name}__cfix`")
            .agg(max(col("fixture"))).head()
          !r.isNullAt(0) && r.getLong(0) == 2L &&
            !f.isNullAt(0) && f.getString(0) == dir
        }
      if (!ready) {
        CatalogOps.createDatabase(spark, db)
        Seq("components", "csigs", "cdata", "cmeta", "cfix").foreach(sfx =>
          KnnOps.dropTableAndDir(spark, db, s"${name}__$sfx"))
        val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
        createComponentStore(spark, db, name, docs.filter(col("doc_id") % 2 === 0))
        refreshComponents(spark, db, name, docs.filter(col("doc_id") % 2 === 1))
        spark.createDataFrame(Seq(Tuple1(dir))).toDF("fixture")
          .write.mode("overwrite").saveAsTable(s"`$db`.`${name}__cfix`")
      }
    }
  }

  /** One micro-batch of the STREAMING near-dup dedup
    * ([[graft.streaming.StreamingOps.streamingDedupMinhash]]): the
    * continuous-crawl analog of [[minHashLsh]], FIRST-ARRIVAL-WINS across
    * batches (the reference's overwrite-by-id stream made content-aware).
    *
    * Per batch: (1) in-batch near-dup dedup (lowest id wins, the batch
    * twin of the batch rule); (2) the survivors' band keys equi-join the
    * persisted signature store — the batch side broadcasts, the store is
    * NEVER rescanned beyond this pruned join (at corpus scale the store
    * is bucketed on the band key so the probe is bucket-local, and the
    * [[LshGuard]] boilerplate pathology applies to the store side the
    * same way); (3) bucket collisions verify with exact Jaccard against
    * ONLY the candidate stored docs; (4) fresh uniques append to the docs
    * table and their band rows to the signature store. A batch doc
    * near-duplicating a STORED doc always loses, whatever its id —
    * streaming semantics are arrival-ordered. With ids fed in ascending
    * order the result equals the batch [[minHashLshOn]] survivors when
    * near-dup groups are transitive (test-pinned on the planted fixture);
    * the rules can diverge on a doc similar only to an already-DROPPED
    * doc — the batch rule consults it, the store no longer holds it (the
    * batch rule is itself order-sensitive there; [[dedupConnected]] is
    * the order-free resolution).
    */
  private[graft] def dedupIncrementalBatch(batch0: DataFrame, db: String,
      name: String, tau: Double, batchId: Option[Long] = None): Unit = {
    val spark = batch0.sparkSession
    // At-least-once replay protection (foreachBatch can replay a batch
    // after a crash): a commit watermark written AFTER both appends makes
    // a fully-committed batch a no-op on replay; the partial-crash windows
    // are closed by writing SIGS FIRST and id-anti-joining both appends —
    // every step is idempotent, so any replay converges to the same store
    // (scenarios pinned in StreamingSpec). Batch ids are monotonic, so the
    // watermark is ONE row overwritten per batch — not an append-per-batch
    // table that would accumulate small files and a full scan on the hot
    // path of every micro-batch.
    val commitsName = s"${name}__commits"
    if (batchId.isDefined && spark.catalog.tableExists(s"$db.$commitsName")) {
      val r = spark.table(s"`$db`.`$commitsName`")
        .agg(max(col("batch_id"))).head()
      if (!r.isNullAt(0) && batchId.get <= r.getLong(0)) return
    }
    val batch = batch0.select(col("doc_id"), col("text"))
    // release=true: the per-batch plan is new every time — without it the
    // stream accumulates two cached plans per micro-batch
    val inBatch = minHashLshOn(batch, tau, release = true).select(col("doc_id"))
    val survivors = batch.join(inBatch, "doc_id").cache()
    // general-vocabulary signatures: a stream never has a stable dictionary
    val sig = minhashSigMeta(survivors, None)
    val bandStructs = (0 until NumBands).map { bnd =>
      struct(lit(bnd).as("band"),
        xxhash64(col(s"h${2 * bnd}"), col(s"h${2 * bnd + 1}")).as("bkey"))
    }
    val bands = sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val fresh =
      if (!spark.catalog.tableExists(s"$db.$name")) survivors
      else {
        val cand = spark.table(s"`$db`.`${name}__sigs`")
          .join(broadcast(bands.withColumnRenamed("doc_id", "new_id")),
            Seq("band", "bkey"))
          .select(col("new_id"), col("doc_id").as("old_id")).distinct()
          .cache() // reused: old-id pruning + the verify join
        try {
          val newTok = survivors
            .select(col("doc_id").as("new_id"), tokenSet(col("text")).as("new_s"))
          // candidate-pruned verify: only the candidate old docs are
          // fetched and re-tokenized (broadcast join on old_id — the
          // candidate set is micro-batch-bounded, like the band probe
          // above), so per-batch verify cost scales with the candidates,
          // not the stored corpus
          val oldIds = cand.select(col("old_id")).distinct()
          val oldTok = spark.table(s"`$db`.`$name`")
            .select(col("doc_id").as("old_id"), col("text"))
            .join(broadcast(oldIds), "old_id")
            .select(col("old_id"), tokenSet(col("text")).as("old_s"))
          val dupIds = cand.join(newTok, "new_id").join(oldTok, "old_id")
            .withColumn("j",
              size(array_intersect(col("new_s"), col("old_s"))).cast("double") /
                size(array_union(col("new_s"), col("old_s"))))
            .filter(col("j") >= tau)
            .select(col("new_id").as("doc_id")).distinct()
          // materialize before releasing the candidate cache it reads
          survivors.join(dupIds, Seq("doc_id"), "left_anti").localCheckpoint()
        } finally cand.unpersist()
      }
    val freshC = fresh.cache()
    val freshIds = freshC.select(col("doc_id"))
    // SIG rows first: a crash here leaves sigs without docs — the replay's
    // verify cannot flag those ids (no stored text), recomputes the same
    // fresh set, and the anti-joins below skip what already landed
    val sigRows = bands.join(freshIds, "doc_id")
    val sigsToWrite =
      if (!spark.catalog.tableExists(s"$db.${name}__sigs")) sigRows
      else sigRows.join(
        spark.table(s"`$db`.`${name}__sigs`")
          .join(broadcast(freshIds), "doc_id")
          .select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
    sigsToWrite.write.mode("append").saveAsTable(s"`$db`.`${name}__sigs`")
    // DOCS second: a crash between docs and the marker is healed by the
    // verify itself (the replayed rows j=1-match their own stored copy)
    val docsToWrite =
      if (!spark.catalog.tableExists(s"$db.$name")) freshC
      else freshC.join(
        spark.table(s"`$db`.`$name`")
          .join(broadcast(freshIds), "doc_id")
          .select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
    docsToWrite.write.mode("append").saveAsTable(s"`$db`.`$name`")
    batchId.foreach { id =>
      spark.createDataFrame(Seq(Tuple1(id))).toDF("batch_id")
        .write.mode("overwrite").saveAsTable(s"`$db`.`$commitsName`")
    }
    freshC.unpersist()
    survivors.unpersist()
  }

  /** One micro-batch of STREAMING substring dedup
    * ([[graft.streaming.StreamingOps.streamingDedupSubstring]]): the
    * span-coverage ingest filter — [[dedupSubstring]]'s semantics made
    * arrival-ordered. A batch doc is dropped when more than
    * `maxDupRatio` of its `w`-token windows duplicate spans of the
    * RETAINED corpus so far (the persisted window-hash store), of a
    * lower-id doc in the same batch, or of an EARLIER occurrence inside
    * the doc itself (a span repeated k times within one doc counts k−1
    * duplicated windows — the arrival-ordered reading of the batch
    * pass's same-doc duplication; the batch twin additionally flags the
    * first copy once a span repeats anywhere, so a mostly-boilerplate
    * doc is caught by BOTH passes, at ratio (k−1)/k here vs 1.0 there).
    * Docs shorter than `w` tokens carry ratio 0 and pass (the span
    * filter cannot judge them). Kept docs
    * append to `name`; their window hashes append to `name__winhashes`
    * as `(wh, owner_id)` rows, FIRST WRITER owns the hash.
    *
    * Store probe cost ∝ the batch's windows, never the store: the store
    * side is pruned by a broadcast of the batch's distinct hashes before
    * its only join. The store itself is an append log — one file-set per
    * micro-batch — so long-running streams fold it periodically with
    * [[graft.sources.CatalogOps.compactWinhashes]] (probe decisions
    * unchanged; cadence measured in [[graft.DedupScale]] `winmaint`). Replay-safe under foreachBatch's at-least-once
    * contract with the [[dedupIncrementalBatch]] two-layer design: a
    * 1-row commit watermark no-ops committed batches, and the
    * hashes-docs partial-crash window is closed by OWNERSHIP — a
    * replayed doc probing its own crashed-in hashes sees `owner_id ==
    * doc_id`, which never counts as duplication, so it re-reaches the
    * original decision and the anti-joined appends fill in whatever is
    * missing (scenarios pinned in StreamingSpec). Decisions are frozen
    * via `localCheckpoint` BEFORE the store mutates — a lazy plan
    * re-evaluated after the hash append would see the batch's own spans
    * as stored and drop everything.
    */
  private[graft] def substringIncrementalBatch(batch0: DataFrame, db: String,
      name: String, w: Int = 20, maxDupRatio: Double = 0.5,
      batchId: Option[Long] = None): Unit = {
    val spark = batch0.sparkSession
    val commitsName = s"${name}__commits"
    if (batchId.isDefined && spark.catalog.tableExists(s"$db.$commitsName")) {
      val r = spark.table(s"`$db`.`$commitsName`")
        .agg(max(col("batch_id"))).head()
      if (!r.isNullAt(0) && batchId.get <= r.getLong(0)) return
    }
    val batch = batch0.select(col("doc_id"), col("text"))
    // one row per (doc, distinct window) with its occurrence count — the
    // grain every downstream consumer needs (self-repeats fold into `c`,
    // batch ownership and the store probe key on the hash)
    val occ = windowHashes(batch, w)
      .groupBy(col("doc_id"), col("wh")).agg(count(lit(1)).as("c"))
      .cache()
    try {
      val batchOwner = occ.groupBy(col("wh")).agg(min(col("doc_id")).as("batch_owner"))
      val withBatch = occ.join(batchOwner, "wh")
      val storeTable = s"$db.${name}__winhashes"
      val joined =
        if (spark.catalog.tableExists(storeTable)) {
          // pruned probe: only the batch's hashes are read off the store
          val probe = spark.table(s"`$db`.`${name}__winhashes`")
            .join(broadcast(occ.select(col("wh")).distinct()), "wh")
            .select(col("wh"), col("owner_id").as("store_owner"))
          withBatch.join(probe, Seq("wh"), "left_outer")
        } else withBatch.withColumn("store_owner", lit(null).cast("long"))
      // externally-owned hash → every occurrence is a dup; otherwise the
      // doc owns it and only self-repeats beyond the first count (c − 1).
      // The self clause consults nothing but the batch row itself, so a
      // replay reproduces the decision bit-for-bit.
      val perDoc = joined
        .withColumn("n_dup_grp",
          when((col("store_owner").isNotNull && col("store_owner") =!= col("doc_id")) ||
            col("batch_owner") < col("doc_id"), col("c"))
            .otherwise(col("c") - 1))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_windows"), sum(col("n_dup_grp")).as("n_dup"))
      val kept = batch.join(perDoc, Seq("doc_id"), "left_outer")
        .filter(coalesce(col("n_dup").cast("double") / col("n_windows"), lit(0.0))
          <= maxDupRatio)
        .select(col("doc_id"), col("text"))
        .localCheckpoint()
      val keptIds = kept.select(col("doc_id"))
      // HASHES first (see scaladoc), one owner row per new hash
      val newHashes = occ.join(keptIds, "doc_id")
        .groupBy(col("wh")).agg(min(col("doc_id")).as("owner_id"))
      val hashesToWrite =
        if (spark.catalog.tableExists(storeTable))
          newHashes.join(
            spark.table(s"`$db`.`${name}__winhashes`")
              .join(broadcast(newHashes.select(col("wh"))), "wh")
              .select(col("wh")).distinct(),
            Seq("wh"), "left_anti")
        else newHashes
      hashesToWrite.write.mode("append").saveAsTable(s"`$db`.`${name}__winhashes`")
      // DOCS second, id-anti-joined for replay idempotency
      val docsToWrite =
        if (spark.catalog.tableExists(s"$db.$name"))
          kept.join(
            spark.table(s"`$db`.`$name`")
              .join(broadcast(keptIds), "doc_id")
              .select(col("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
        else kept
      docsToWrite.write.mode("append").saveAsTable(s"`$db`.`$name`")
      batchId.foreach { id =>
        spark.createDataFrame(Seq(Tuple1(id))).toDF("batch_id")
          .write.mode("overwrite").saveAsTable(s"`$db`.`$commitsName`")
      }
    } finally occ.unpersist()
  }

  /** One micro-batch of STREAMING substring TRIM
    * ([[graft.streaming.StreamingOps.streamingTrimSubstring]]): the
    * cleaning twin of [[substringIncrementalBatch]] — every incoming doc
    * is KEPT, but tokens covered by a `w`-token window already owned by
    * the store, by a lower-id doc in the same batch, or by an earlier
    * position of the SAME doc (self-repeated spans keep only their first
    * copy) are excised before the doc lands — [[dedupSubstringTrim]]'s
    * first-occurrence contract made arrival-ordered. The window-hash store records the
    * ORIGINAL text's windows (first-writer-owned): a later replay of the
    * same span trims against the first arrival, and re-deriving windows
    * from trimmed text would instead mint artificial spans straddling
    * excision boundaries.
    *
    * Replay safety is inherited unchanged: the ownership heal —
    * `owner_id == doc_id` never trims — makes a replayed doc reproduce
    * its original kept text after the hashes-landed/doc-lost crash
    * window, and the id-anti-joined appends close the rest (pinned in
    * StreamingSpec alongside the filter twin's windows).
    */
  private[graft] def substringTrimIncrementalBatch(batch0: DataFrame, db: String,
      name: String, w: Int = 20, batchId: Option[Long] = None): Unit = {
    val spark = batch0.sparkSession
    val commitsName = s"${name}__commits"
    if (batchId.isDefined && spark.catalog.tableExists(s"$db.$commitsName")) {
      val r = spark.table(s"`$db`.`$commitsName`")
        .agg(max(col("batch_id"))).head()
      if (!r.isNullAt(0) && batchId.get <= r.getLong(0)) return
    }
    val batch = batch0.select(col("doc_id"), col("text"))
    val toks = batch.select(col("doc_id"), split(nfc(col("text")), " ").as("t"))
    val wins = toks.filter(size(col("t")) >= w)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("t")) - lit(w - 1)),
          i => xxhash64(concat_ws(" ", slice(col("t"), i, lit(w)))))))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("wh"))
      .cache()
    try {
      val batchOwner = wins.groupBy(col("wh")).agg(min(col("doc_id")).as("batch_owner"))
      // the doc's own first position per hash: self-repeats beyond it are
      // removable (batch-local, so replays reproduce it deterministically)
      val firstPos = wins.groupBy(col("doc_id"), col("wh"))
        .agg(min(col("pos")).as("first_pos"))
      val storeTable = s"$db.${name}__winhashes"
      val withOwners = {
        val b = wins.join(batchOwner, "wh").join(firstPos, Seq("doc_id", "wh"))
        if (spark.catalog.tableExists(storeTable)) {
          val probe = spark.table(s"`$db`.`${name}__winhashes`")
            .join(broadcast(wins.select(col("wh")).distinct()), "wh")
            .select(col("wh"), col("owner_id").as("store_owner"))
          b.join(probe, Seq("wh"), "left_outer")
        } else b.withColumn("store_owner", lit(null).cast("long"))
      }
      val removable = withOwners
        .filter((col("store_owner").isNotNull && col("store_owner") =!= col("doc_id")) ||
          col("batch_owner") < col("doc_id") || col("pos") > col("first_pos"))
        .groupBy(col("doc_id"))
        .agg(collect_list(col("pos")).as("ps")) // bounded by the doc's windows
      val trimmed = toks.join(removable, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          when(col("ps").isNull, array_join(col("t"), " "))
            .otherwise(array_join(
              filter(col("t"), (tok, i) =>
                !exists(col("ps"), p => p <= i + 1 && i + 1 <= p + lit(w - 1))),
              " ")).as("text"))
        .localCheckpoint() // freeze kept text BEFORE the store mutates
      // HASHES first: the ORIGINAL windows, first writer owns
      val newHashes = wins.groupBy(col("wh")).agg(min(col("doc_id")).as("owner_id"))
      val hashesToWrite =
        if (spark.catalog.tableExists(storeTable))
          newHashes.join(
            spark.table(s"`$db`.`${name}__winhashes`")
              .join(broadcast(newHashes.select(col("wh"))), "wh")
              .select(col("wh")).distinct(),
            Seq("wh"), "left_anti")
        else newHashes
      hashesToWrite.write.mode("append").saveAsTable(s"`$db`.`${name}__winhashes`")
      // DOCS second, id-anti-joined for replay idempotency
      val docIds = trimmed.select(col("doc_id"))
      val docsToWrite =
        if (spark.catalog.tableExists(s"$db.$name"))
          trimmed.join(
            spark.table(s"`$db`.`$name`")
              .join(broadcast(docIds), "doc_id")
              .select(col("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
        else trimmed
      docsToWrite.write.mode("append").saveAsTable(s"`$db`.`$name`")
      batchId.foreach { id =>
        spark.createDataFrame(Seq(Tuple1(id))).toDF("batch_id")
          .write.mode("overwrite").saveAsTable(s"`$db`.`$commitsName`")
      }
    } finally wins.unpersist()
  }

  /** One micro-batch of the STREAMING IMAGE near-dup ingest filter
    * ([[graft.streaming.StreamingOps.streamingDedupImage]]) — the
    * perceptual-hash twin of [[dedupIncrementalBatch]] for a continuous
    * multimodal crawl, FIRST-ARRIVAL-WINS: an incoming image is dropped
    * when its dHash lands within `maxHamming` bits of a RETAINED image
    * (the persisted fingerprint store) or of a lower-id image in the
    * same batch. Payloads no codec claims are KEPT (the filter cannot
    * judge them) and leave no fingerprint rows.
    *
    * Store layout is the blocking structure itself: one
    * `(doc_id, fp, chunk, cval)` row per pigeonhole chunk
    * ([[hammingChunkRows]] — maxHamming+1 rows per image), so the probe
    * is an equi-join on (chunk, cval) pruned by a broadcast of the
    * batch's chunk keys — per-batch cost ∝ batch × bucket occupancy,
    * never the stored corpus (at scale, bucket the store on
    * (chunk, cval) and the probe is bucket-local, the [[LshGuard]]
    * boilerplate caveat applying to pathological all-identical streams
    * the same way). Replay-safe under at-least-once foreachBatch with
    * the standard two layers: a 1-row commit watermark no-ops committed
    * batches, and the hashes-docs crash window is closed by OWNERSHIP —
    * a replayed image probing its own crashed-in fingerprint rows sees
    * `store_id == doc_id`, which never counts, so it re-reaches the
    * original decision and the id-anti-joined appends fill in whatever
    * is missing (pinned in StreamingSpec alongside the text twins).
    */
  private[graft] def imageIncrementalBatch(batch0: DataFrame, db: String,
      name: String, maxHamming: Int = 8, batchId: Option[Long] = None): Unit =
    fingerprintIncrementalBatch(batch0, db, name, maxHamming, batchId,
      hashTableOf = n => s"${n}__imghash",
      fpOf = (batch, spark) => {
        import spark.implicits._
        MultimodalOps.perceptualHash(
            batch.select(col("doc_id"), col("payload"),
              lit("application/octet-stream").as("mime")).as[MediaRecord]).toDF()
          .select(col("doc_id").as("id"), col("dhash").as("fp"))
      })

  /** The audio twin of [[imageIncrementalBatch]]: same store layout, same
    * replay discipline, fingerprint = the gain-invariant spectral hash
    * ([[MultimodalOps.audioFingerprint]]) — a volume-changed re-encode of
    * a retained recording is dropped at ingest. Store table
    * `{name}__audiohash`; undecodable payloads are KEPT and leave no
    * fingerprint rows, like every filter here.
    */
  private[graft] def audioIncrementalBatch(batch0: DataFrame, db: String,
      name: String, maxHamming: Int = 6, batchId: Option[Long] = None): Unit =
    fingerprintIncrementalBatch(batch0, db, name, maxHamming, batchId,
      hashTableOf = n => s"${n}__audiohash",
      fpOf = (batch, spark) => {
        import spark.implicits._
        MultimodalOps.audioFingerprint(
            batch.select(col("doc_id"), col("payload"),
              lit("audio/wav").as("mime")).as[MediaRecord]).toDF()
          .select(col("doc_id").as("id"), col("fp"))
      })

  /** Streaming URL-dedup ingest filter
    * ([[graft.streaming.StreamingOps.streamingDedupUrl]]) — the
    * exact-key member of the incremental-dedup family, FIRST-ARRIVAL-
    * WINS on the CANONICAL url ([[TextOps.canonicalizeUrl]] — a re-crawl
    * of `HTTP://HOST:80/x?utm_source=…#f` never lands beside
    * `http://host/x`). Store `{name}__urlseen` = one (cu, doc_id) row per
    * retained doc; the probe is an equi-join on cu pruned by a broadcast
    * of the batch's canonical urls — per-batch cost ∝ batch, never the
    * stored corpus (at scale, bucket the store on cu and the probe is
    * bucket-local). Replay-safe under at-least-once foreachBatch with the
    * family's two layers: a 1-row commit watermark no-ops committed
    * batches, and the urlseen-docs crash window is closed by OWNERSHIP —
    * a replayed doc probing its own crashed-in store row sees
    * `store doc_id == doc_id`, which never counts, so it re-reaches the
    * original decision and the id-anti-joined appends fill in whatever is
    * missing. Expects (doc_id, url, …) batches; kept docs append with
    * every batch column.
    */
  private[graft] def urlIncrementalBatch(batch0: DataFrame, db: String,
      name: String, batchId: Option[Long] = None): Unit = {
    val spark = batch0.sparkSession
    val commitsName = s"${name}__commits"
    if (batchId.isDefined && spark.catalog.tableExists(s"$db.$commitsName")) {
      val r = spark.table(s"`$db`.`$commitsName`")
        .agg(max(col("batch_id"))).head()
      if (!r.isNullAt(0) && batchId.get <= r.getLong(0)) return
    }
    val canon = batch0.withColumn("__cu", TextOps.canonicalizeUrl(col("url")))
    val seenTable = s"$db.${name}__urlseen"
    // in-batch: lowest doc_id per canonical url wins
    val inBatchKeep = canon.groupBy(col("__cu")).agg(min(col("doc_id")).as("__keep"))
    val withKeep = canon.join(inBatchKeep, Seq("__cu"))
    val inBatchDropped = withKeep.filter(col("doc_id") =!= col("__keep"))
      .select(col("doc_id"))
    val storeDropped =
      if (spark.catalog.tableExists(seenTable)) {
        spark.table(s"`$db`.`${name}__urlseen`")
          .select(col("cu"), col("doc_id").as("store_id"))
          .join(broadcast(canon.select(col("__cu").as("cu"), col("doc_id"))), Seq("cu"))
          .filter(col("store_id") =!= col("doc_id")) // replay heal: own row never counts
          .select(col("doc_id")).distinct()
      } else canon.select(col("doc_id")).limit(0)
    val droppedIds = inBatchDropped.unionByName(storeDropped).distinct()
    val kept = canon.join(droppedIds, Seq("doc_id"), "left_anti")
      .localCheckpoint() // freeze decisions BEFORE the store mutates
    val keptIds = kept.select(col("doc_id"))
    // SEEN rows first (crash window healed by ownership, see scaladoc)
    val newSeen = kept.select(col("__cu").as("cu"), col("doc_id"))
    val seenToWrite =
      if (spark.catalog.tableExists(seenTable))
        newSeen.join(
          spark.table(s"`$db`.`${name}__urlseen`")
            .join(broadcast(keptIds), "doc_id")
            .select(col("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
      else newSeen
    seenToWrite.write.mode("append").saveAsTable(s"`$db`.`${name}__urlseen`")
    // DOCS second, id-anti-joined for replay idempotency
    val docRows = kept.drop("__cu", "__keep")
    val docsToWrite =
      if (spark.catalog.tableExists(s"$db.$name"))
        docRows.join(
          spark.table(s"`$db`.`$name`")
            .join(broadcast(keptIds), "doc_id")
            .select(col("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
      else docRows
    docsToWrite.write.mode("append").saveAsTable(s"`$db`.`$name`")
    batchId.foreach { id =>
      spark.createDataFrame(Seq(Tuple1(id))).toDF("batch_id")
        .write.mode("overwrite").saveAsTable(s"`$db`.`$commitsName`")
    }
  }

  /** The shared core of the perceptual ingest filters — everything in the
    * [[imageIncrementalBatch]] contract except how a payload becomes a
    * 64-bit fingerprint: `fpOf` maps a (doc_id, payload) batch to
    * (id, fp) rows (dropping unjudgeable payloads), `hashTableOf` names
    * the per-modality store. One replay-discipline implementation, N
    * modalities (pinned by the image and audio StreamingSpec twins).
    */
  private def fingerprintIncrementalBatch(batch0: DataFrame, db: String,
      name: String, maxHamming: Int, batchId: Option[Long],
      hashTableOf: String => String,
      fpOf: (DataFrame, SparkSession) => DataFrame): Unit = {
    val spark = batch0.sparkSession
    val commitsName = s"${name}__commits"
    if (batchId.isDefined && spark.catalog.tableExists(s"$db.$commitsName")) {
      val r = spark.table(s"`$db`.`$commitsName`")
        .agg(max(col("batch_id"))).head()
      if (!r.isNullAt(0) && batchId.get <= r.getLong(0)) return
    }
    val batch = batch0.select(col("doc_id"), col("payload"))
    val hashTable = hashTableOf(name)
    val fps = fpOf(batch, spark).cache()
    try {
      // in-batch: lowest id wins its hamming neighborhood
      val inBatchDropped = hammingNearPairs(fps, maxHamming)
        .filter(col("a_id") < col("b_id"))
        .select(col("b_id").as("id")).distinct()
      val storeTable = s"$db.$hashTable"
      val batchChunks = hammingChunkRows(fps, maxHamming)
      val storeDropped =
        if (spark.catalog.tableExists(storeTable)) {
          val store = spark.table(s"`$db`.`$hashTable`")
          val batchIdDf = fps.select(col("id").as("doc_id"))
          // replay residue: store rows OWNED by this batch's ids (the
          // crashed-in window) — batch-bounded; per-row store_id kept so
          // ownership (own rows never count) applies exactly as before
          val owned = store.join(broadcast(batchIdDf), Seq("doc_id"))
            .select(col("chunk"), col("cval"),
              col("doc_id").as("store_id"), col("fp").as("store_fp"))
            .join(broadcast(batchChunks
              .select(col("chunk"), col("cval"), col("id"), col("fp"))), Seq("chunk", "cval"))
            .filter(col("store_id") =!= col("id")) // replay heal: own rows never count
            .select(col("id"), col("fp"), col("store_fp"))
          // foreign store rows (store_id ∉ batch, so ownership is moot):
          // semi-prune to the batch's buckets, then COLLAPSE identical
          // fingerprints per bucket BEFORE the probe join — a boilerplate
          // cluster of c equal stored fingerprints costs 1 probe row, not
          // c×(batch keys in its bucket) (the hammingNearPairs discipline)
          val foreign = store.join(broadcast(batchIdDf), Seq("doc_id"), "left_anti")
            .join(broadcast(batchChunks.select(col("chunk"), col("cval")).distinct()),
              Seq("chunk", "cval"), "left_semi")
            .select(col("chunk"), col("cval"), col("fp").as("store_fp")).distinct()
            .join(broadcast(batchChunks
              .select(col("chunk"), col("cval"), col("id"), col("fp"))), Seq("chunk", "cval"))
            .select(col("id"), col("fp"), col("store_fp"))
          owned.unionByName(foreign).distinct()
            .filter(bit_count(col("fp").bitwiseXOR(col("store_fp"))) <= maxHamming)
            .select(col("id")).distinct()
        } else fps.select(col("id")).limit(0)
      val droppedIds = inBatchDropped.unionByName(storeDropped).distinct()
        .withColumnRenamed("id", "doc_id")
      val kept = batch.join(droppedIds, Seq("doc_id"), "left_anti")
        .localCheckpoint() // freeze decisions BEFORE the store mutates
      val keptIds = kept.select(col("doc_id"))
      // HASHES first (crash window healed by ownership, see scaladoc)
      val newRows = batchChunks.withColumnRenamed("id", "doc_id")
        .join(keptIds, "doc_id")
      val rowsToWrite =
        if (spark.catalog.tableExists(storeTable))
          newRows.join(
            spark.table(s"`$db`.`$hashTable`")
              .join(broadcast(keptIds), "doc_id")
              .select(col("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
        else newRows
      rowsToWrite.select(col("doc_id"), col("fp"), col("chunk"), col("cval"))
        .write.mode("append").saveAsTable(s"`$db`.`$hashTable`")
      // DOCS second, id-anti-joined for replay idempotency
      val docsToWrite =
        if (spark.catalog.tableExists(s"$db.$name"))
          kept.join(
            spark.table(s"`$db`.`$name`")
              .join(broadcast(keptIds), "doc_id")
              .select(col("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
        else kept
      docsToWrite.write.mode("append").saveAsTable(s"`$db`.`$name`")
      batchId.foreach { id =>
        spark.createDataFrame(Seq(Tuple1(id))).toDF("batch_id")
          .write.mode("overwrite").saveAsTable(s"`$db`.`$commitsName`")
      }
    } finally fps.unpersist()
  }

  /** Group resolution for image near-dups: connected components over the
    * verified hamming pairs, each image labeled with its component's
    * minimum id — the image twin of [[dedupConnected]] (hamming ≤ h is
    * not transitive: A within h of B and B of C does not bound A–C by h,
    * so "the same picture's variants" is the component, not the neighbor
    * list). Pairs from [[imageNearDupOn]], closure from
    * [[connectedComponentsOn]] (large-star/small-star, no neighbor
    * arrays). Output (doc_id, component) for every decodable image.
    */
  def imageDedupConnectedOn(records: org.apache.spark.sql.Dataset[MediaRecord],
      maxHamming: Int = 8): DataFrame = {
    val ids = MultimodalOps.perceptualHash(records).toDF().select(col("doc_id"))
    val star = connectedComponentsOn(
      imageNearDupOn(records, maxHamming)
        .select(col("a_id").as("a"), col("b_id").as("b")))
    ids.join(star.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .orderBy(col("doc_id").asc)
  }

  /** Group resolution for audio near-dups — the audio twin of
    * [[imageDedupConnectedOn]]: connected components over the verified
    * hamming pairs, each decodable clip labeled with its component's
    * minimum id (hamming ≤ h is not transitive, so "the same recording's
    * variants" is the component).
    */
  def audioDedupConnectedOn(records: org.apache.spark.sql.Dataset[MediaRecord],
      maxHamming: Int = 6): DataFrame = {
    val ids = MultimodalOps.audioFingerprint(records).toDF().select(col("doc_id"))
    val star = connectedComponentsOn(
      audioNearDupOn(records, maxHamming)
        .select(col("a_id").as("a"), col("b_id").as("b")))
    ids.join(star.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .orderBy(col("doc_id").asc)
  }

  /** SERVING probe of the streaming image store — the lookup twin of
    * [[imageIncrementalBatch]] (the ingest filter answers "should this
    * land?", this answers "have we seen this picture?"): near-dups of
    * ONE query image among the retained corpus, `(doc_id, hamming)`
    * best-first. The query hashes DRIVER-side (one image needs no Spark
    * job) and its pigeonhole chunk keys become an OR-of-conjunctions
    * scan predicate on the store — pushed to parquet, so the read prunes
    * to the query's buckets exactly like the ingest probe. Unjudgeable
    * payloads return no rows.
    */
  def probeImage(spark: SparkSession, db: String, name: String,
      payload: Array[Byte], maxHamming: Int = 8): DataFrame = {
    import spark.implicits._
    MultimodalOps.perceptualHashOne(payload) match {
      case None => Seq.empty[(Long, Int)].toDF("doc_id", "hamming")
      case Some((dh, _)) =>
        probeFingerprintStore(spark, s"`$db`.`${name}__imghash`", dh, maxHamming)
    }
  }

  /** The audio twin of [[probeImage]]: "have we heard this recording?"
    * against the streaming audio store — driver-side spectral hash, same
    * pushed chunk-key predicate, best-first (doc_id, hamming) out.
    * Undecodable or too-short payloads probe to empty.
    */
  def probeAudio(spark: SparkSession, db: String, name: String,
      payload: Array[Byte], maxHamming: Int = 6): DataFrame = {
    import spark.implicits._
    MultimodalOps.audioFingerprintOne(payload) match {
      case None => Seq.empty[(Long, Int)].toDF("doc_id", "hamming")
      case Some(fp) =>
        probeFingerprintStore(spark, s"`$db`.`${name}__audiohash`", fp, maxHamming)
    }
  }

  /** The URL twin of [[probeImage]]: "have we crawled this page?" against
    * the streaming urlseen store ([[urlIncrementalBatch]]) — the url
    * canonicalizes through a 1-row local plan (ConvertToLocalRelation
    * evaluates the projection driver-side; no cluster tasks) so the SAME
    * Column logic serves ingest and probe, and the canonical form becomes
    * an equality predicate pushed to the store scan — the read prunes to
    * at most the matching row groups.
    * Returns the retaining (doc_id) row, or no rows for a fresh url.
    */
  def probeUrl(spark: SparkSession, db: String, name: String,
      url: String): DataFrame = {
    import spark.implicits._
    val cu = Seq(Tuple1(url)).toDF("u")
      .select(TextOps.canonicalizeUrl(col("u"))).head().getString(0)
    spark.table(s"`$db`.`${name}__urlseen`")
      .filter(col("cu") === lit(cu))
      .select(col("doc_id"))
  }

  /** Shared single-fingerprint probe: chunk keys derived with EXACTLY
    * [[hammingChunkRows]]' layout (the low bits of an arithmetic shift
    * equal the logical shift's) become an OR-of-conjunctions predicate
    * pushed to the store scan.
    */
  private def probeFingerprintStore(spark: SparkSession, table: String,
      fp: Long, maxHamming: Int): DataFrame = {
    val nChunks = maxHamming + 1
    require(nChunks >= 1 && nChunks <= 32, s"maxHamming out of range: $maxHamming")
    val width = 64 / nChunks
    val pred = (0 until nChunks).map { c =>
      val start = c * width
      val len = if (c == nChunks - 1) 64 - start else width
      val mask = if (len >= 64) -1L else (1L << len) - 1L
      col("chunk") === c && col("cval") === ((fp >> start) & mask)
    }.reduce(_ || _)
    spark.table(table)
      .filter(pred)
      .select(col("doc_id"), col("fp")).distinct()
      .select(col("doc_id"),
        bit_count(col("fp").bitwiseXOR(lit(fp))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("hamming").asc, col("doc_id").asc)
  }

  /** Alternating large-star / small-star connected components (Kiveris,
    * Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
    * MapReduce and Beyond", SoCC'14): O(log²n) rounds worst-case, a handful
    * in practice, each round linear in the edge count. Returns the star
    * graph `(node, component)` — one row per non-root node, component =
    * the component's minimum node id.
    *
    * Both stars are expressed as groupBy-min + equi-join back ON THE SAME
    * KEY, so Catalyst reuses one exchange per star and NO per-node
    * neighbor array is ever collected — a giant component costs the same
    * per-row work as a small one (the usual `collect_set` formulation
    * OOMs on the root's neighborhood at web scale; this one cannot).
    * Each round materializes via `localCheckpoint` to truncate the
    * iterative lineage (on a cluster, `checkpoint` to reliable storage —
    * same plan shape).
    */
  /** Multi-signal identity resolution — `q_dedup_multi`: one document
    * identity across DIFFERENT duplicate signals. A crawl corpus carries
    * the same page as url-level duplicates (tracking-param re-crawls,
    * [[graft.operators.TextOps.urlDedup]]) AND as byte-identical mirrors
    * under unrelated urls (exact-text dedup); neither signal alone
    * resolves "one page" — a mirror of a re-crawl needs BOTH edges and
    * the transitive closure over their union. Edges from each signal are
    * keeper-star shaped (min-per-group + join back — never pairwise),
    * the union feeds [[connectedComponentsOn]], and every doc labels
    * with its component's minimum id. Both signals are exact, so the
    * whole resolution faces a recursive-CTE oracle.
    */
  def dedupMulti(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val urlPairs = TextOps.urlDedup(spark, dir)
      .select(col("dup_id").as("a"), col("canonical_id").as("b"))
    val byText = docs.select(col("doc_id"), md5(col("text")).as("h"))
    val textKeep = byText.groupBy(col("h")).agg(min(col("doc_id")).as("tid"))
    val textPairs = byText.join(textKeep, "h")
      .filter(col("doc_id") =!= col("tid"))
      .select(col("doc_id").as("a"), col("tid").as("b"))
    val star = connectedComponentsOn(urlPairs.unionAll(textPairs))
    docs.select(col("doc_id"))
      .join(star.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .orderBy(col("doc_id").asc)
  }

  /** Driver union-find over a collected bounded edge list — min-label
    * (union always attaches the larger root under the smaller, so every
    * component's root is its minimum id). Output rows (node, component)
    * for node ≠ component, the star rounds' exact output set.
    */
  private def localComponents(spark: SparkSession,
      edges: Array[Row]): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { row =>
      val a = row.getLong(0)
      val b = row.getLong(1)
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val it = parent.keySet().iterator()
    while (it.hasNext) {
      val x = it.next()
      val c = find(x)
      if (x != c) out += ((x, c))
    }
    spark.createDataFrame(out.toSeq).toDF("node", "component")
  }

  private[graft] def connectedComponentsOn(pairs: DataFrame,
      localMaxEdges: Int = LocalMaxEdges): DataFrame = {
    // downhill edges (hi → lo), self-loops dropped
    var edges = pairs
      .select(greatest(col("a"), col("b")).as("hi"), least(col("a"), col("b")).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
      .localCheckpoint()
    // fixed-point signature: (row count, order-independent hash fold —
    // XOR, since edges are distinct rows; ANSI-safe where a sum of
    // full-range hashes would overflow). A stable signature means the star
    // map stopped changing — and the transform is idempotent at the fixed
    // point, so one phantom extra round from a hash collision could only
    // re-emit the same set.
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("hi"), col("lo"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    // a bounded long-keyed edge set resolves driver-side in one union-find
    // pass ([[BoundedCollect]]) instead of star ROUNDS of exchanges; both
    // paths produce the identical min-label map (the star fixed point is
    // each node → component minimum, which is exactly what union-by-min-
    // root computes). An empty probe skips the signature job: zero edges
    // is the distributed path's zero-round exit.
    val longKeyed = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    val probe = if (longKeyed) collectAtMost(edges, localMaxEdges) else None
    if (probe.exists(_.nonEmpty))
      return localComponents(edges.sparkSession, probe.get)
    var sig = if (probe.nonEmpty) (0L, 0L) else signature(edges)
    var converged = sig._1 == 0L
    var rounds = 0
    while (!converged && rounds < 40) {
      // LARGE-STAR: per node u over the UNDIRECTED neighborhood Γ(u),
      // attach every larger neighbor v > u to m = min(Γ(u) ∪ {u}).
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .unionAll(edges.select(col("lo").as("u"), col("hi").as("v")))
      val minU = sym.groupBy(col("u")).agg(min(col("v")).as("mv"))
      // distinct is load-bearing: different u re-emit the same (v, m) edge,
      // and those duplicates would fan out through small-star's join
      val large = sym.join(minU, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), least(col("u"), col("mv")).as("lo"))
        .distinct()
      // SMALL-STAR: per node u over its smaller neighbors L (downhill
      // edges grouped by hi), attach u and every v ∈ L to m = min(L).
      val minHi = large.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val small = large.join(minHi, "hi")
        .select(col("lo").as("node"), col("m"))
        .filter(col("node") =!= col("m"))
        .unionAll(minHi.select(col("hi").as("node"), col("m")))
        .select(col("node").as("hi"), col("m").as("lo"))
        .distinct()
        .localCheckpoint()
      val next = signature(small)
      converged = next == sig
      sig = next
      edges = small
      rounds += 1
    }
    require(converged, s"connected components did not converge in $rounds rounds")
    edges.select(col("hi").as("node"), col("lo").as("component"))
  }
}
