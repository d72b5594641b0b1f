package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.{CatalogOps, CdxOps, Tables, WarcOps}

/** Driver contract: the engine's query surface as one table, `entries`,
  * with one [[SparkEntry.Entry]] per implemented operator from SURVEY.md
  * §2. A record holds the entry's builder, whether [[graft.Bench]] times
  * it, and its check, one of two:
  *  - `Oracle(sql)`: DuckDB-runnable SQL over the same parquet tables
  *    (driver registers them by file stem: region, nation, customer,
  *    supplier, part, orders, lineitem, events, documents, embeddings)
  *    whose result the entry's must equal;
  *  - `RowsOnly(reason)`: no SQL can replay the answer (approximate
  *    indexes, engine-native decoders and training), so the gate checks
  *    only the entry's rows.
  * `queries`, `benchQueries` and `oracleSql` are views of the table.
  *
  * Determinism rules (FIXTURES.md): double vector math on both sides,
  * `round(score, 6)`, total ORDER BY with integer tie-breaks, exact integral
  * accumulation for float sums, UTC timezone.
  */
object SparkEntry {

  /** Flagship on sf0.001 — the reference's ENTIRE KB query path as one
    * DataFrame, seeded the way the reference seeds it: from TYPED TEXT
    * (`prompt_text → searchByText(limit=3) → context concat → prompt →
    * citations`, ref `main_server.py:130-143,46-51,171-175`); see
    * [[TextOps.ragEndToEndText]].
    */
  def entry(spark: SparkSession): DataFrame =
    entry(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))

  def entry(spark: SparkSession, dir: String): DataFrame =
    TextOps.ragEndToEndText(spark, dir, KnnTextQuery)

  /** How the correctness gate checks an entry. */
  sealed trait Check
  /** The entry's result must equal this DuckDB SQL's. */
  final case class Oracle(sql: String) extends Check
  /** No SQL can replay the answer; the gate checks only the rows. */
  final case class RowsOnly(reason: String) extends Check

  /** One registered entry: its builder, its check, and whether
    * [[graft.Bench]] times it.
    */
  final case class Entry(name: String, run: (SparkSession, String) => DataFrame,
                         check: Check, bench: Boolean = true)

  /** Every entry's builder, by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.run).toMap

  /** Headline bench set (run by [[graft.Bench]], in table order): one
    * representative query per operator family, each with its scale-shaped
    * plan — vector/knn, similarity joins (exact + LSH), the dedup ladder,
    * embedding, text analysis, RAG shaping, relational joins/aggs/windows,
    * events. Every entry stays covered by the correctness gate; the bench
    * reports the engine's per-family throughput profile.
    */
  lazy val benchQueries: Seq[String] = entries.filter(_.bench).map(_.name)

  /** The oracle SQL of every `Oracle`-checked entry, by name. */
  lazy val oracleSql: Map[String, String] =
    entries.collect { case Entry(n, _, Oracle(sql), _) => n -> sql }.toMap

  /** Throws an IllegalArgumentException naming each of `names` that is
    * not an entry — for mains to call before they start a session.
    */
  def requireKnown(names: Seq[String]): Unit = {
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown entry names: ${unknown.mkString(", ")}")
  }

  /** Adjacent-pair cosine — the bare metric surface (ref `TencentVDB.py:46`)
    * as a row-level function, vec_id i vs i+1.
    */
  private def cosinePair(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.cosineFast
    val emb = Tables.embeddings(spark, dir)
    val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    a.join(b, col("b_id") === col("a_id") + 1)
      .select(col("a_id"), col("b_id"),
        round(cosineFast(col("a_emb"), col("b_emb")), 6).as("score"))
      .orderBy(col("a_id").asc)
  }

  /** Shared by q_dedup_keepbest (live closure) and
    * q_dedup_keepbest_stored (maintained component store) — the
    * incremental merge fold is exact, so both face one oracle: the CC
    * closure composed with the q_text_quality composite, ranked on the
    * ROUNDED quality with doc_id tie-break.
    */
  /** Shared by q_dedup_cc (live transitive closure) and q_dedup_cc_stored
    * (the maintained component store) — the incremental fold is exact.
    */
  private val ConnectedOracle: String =
    """WITH RECURSIVE
      |ws AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS s FROM documents),
      |p AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b
      |  FROM ws a JOIN ws b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_cat(a.s, b.s))) >= 0.95),
      |edges AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
      |reach(n, m) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a WHERE e.b <> r.n),
      |comp AS (SELECT n AS doc_id, least(n, min(m)) AS component FROM reach GROUP BY n)
      |SELECT d.doc_id, coalesce(k.component, d.doc_id) AS component
      |FROM documents d LEFT JOIN comp k USING (doc_id)
      |ORDER BY doc_id ASC""".stripMargin

  /** Generated chained-CTE mirror of the DoReMi multiplicative-weights
    * loop (`q_domain_doremi`): two CTEs per round — raw update, then
    * normalize + smooth + trajectory accumulate — every division over
    * nonnegative integers, the exact operation order of
    * `TextAnalysisOps.domainDoremi`.
    */
  private def doremiCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { k =>
      s"""r${k}a AS (
         |  SELECT source, n_docs, excess_nano, uw, acc,
         |         w * (1000000000 + excess_nano) // 1000000000 AS raw
         |  FROM r${k - 1}),
         |r$k AS (
         |  SELECT source, n_docs, excess_nano, uw,
         |         ((raw * 1000000 // sum(raw) OVER ()) * 9 + uw) // 10 AS w,
         |         acc + ((raw * 1000000 // sum(raw) OVER ()) * 9 + uw) // 10 AS acc
         |  FROM r${k}a)""".stripMargin
    }.mkString(",\n")
    s"""q AS (
       |  SELECT source,
       |         CAST(floor((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |             / len(string_split(text, ' ')) * 0.5 +
       |           least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0) * 0.5)
       |           * 1000000000.0 + 0.5) AS BIGINT) AS qn
       |  FROM documents),
       |d AS (SELECT source, count(*) AS n_docs, sum(qn) AS s_nano FROM q GROUP BY source),
       |e AS (
       |  SELECT source, n_docs,
       |         s_nano // n_docs - (sum(s_nano) OVER ()) // (sum(n_docs) OVER ()) AS excess_nano,
       |         1000000 // (count(*) OVER ()) AS uw
       |  FROM d),
       |r0 AS (SELECT source, n_docs, excess_nano, uw, uw AS w,
       |       CAST(0 AS BIGINT) AS acc FROM e),
       |$roundCtes""".stripMargin
  }

  private def doremiOracle(rounds: Int): String =
    s"""WITH ${doremiCtes(rounds)}
       |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       |       CAST(excess_nano AS BIGINT) AS excess_nano,
       |       CAST(w AS BIGINT) AS final_w_ppm,
       |       CAST(acc // $rounds AS BIGINT) AS avg_w_ppm
       |FROM r$rounds
       |ORDER BY source ASC""".stripMargin

  /** The epoch plan extends the DoReMi CTEs with per-domain token sums
    * and the scale-relative 4-pass budget.
    */
  private def epochPlanOracle(rounds: Int): String =
    s"""WITH ${doremiCtes(rounds)},
       |tk AS (
       |  SELECT source, sum(len(string_split(text, ' '))) AS n_tokens
       |  FROM documents GROUP BY source),
       |j AS (
       |  SELECT r$rounds.source, r$rounds.n_docs, tk.n_tokens,
       |         acc // $rounds AS avg_w_ppm
       |  FROM r$rounds JOIN tk USING (source)),
       |b AS (SELECT *, 4 * sum(n_tokens) OVER () AS budget FROM j)
       |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       |       CAST(n_tokens AS BIGINT) AS n_tokens,
       |       CAST(avg_w_ppm AS BIGINT) AS avg_w_ppm,
       |       CAST(avg_w_ppm * budget // n_tokens AS BIGINT) AS epochs_micro,
       |       CAST(CASE WHEN avg_w_ppm * budget // n_tokens <= 4000000
       |                 THEN 1 ELSE 0 END AS BIGINT) AS r_epochs
       |FROM b
       |ORDER BY source ASC""".stripMargin

  /** Shared by q_dedup_soft (live closure) and q_dedup_soft_stored (the
    * maintained component store) — the fold is exact and the ppm weight
    * arithmetic is shared integer division.
    */
  private val SoftDedupOracle: String =
    """WITH RECURSIVE
      |ws AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS s FROM documents),
      |p AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b
      |  FROM ws a JOIN ws b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_cat(a.s, b.s))) >= 0.95),
      |edges AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
      |reach(n, m) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a WHERE e.b <> r.n),
      |comp AS (SELECT n AS doc_id, least(n, min(m)) AS component FROM reach GROUP BY n),
      |cl AS (
      |  SELECT d.doc_id, coalesce(k.component, d.doc_id) AS component
      |  FROM documents d LEFT JOIN comp k USING (doc_id)),
      |sz AS (SELECT component, count(*) AS csize FROM cl GROUP BY component)
      |SELECT cl.doc_id, cl.component, CAST(sz.csize AS BIGINT) AS csize,
      |       CAST(1000000 // sz.csize AS BIGINT) AS weight_ppm
      |FROM cl JOIN sz USING (component)
      |ORDER BY cl.doc_id ASC""".stripMargin

  private val KeepBestOracle: String =
    """WITH RECURSIVE
      |ws AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS s FROM documents),
      |p AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b
      |  FROM ws a JOIN ws b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_cat(a.s, b.s))) >= 0.95),
      |edges AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
      |reach(n, m) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a WHERE e.b <> r.n),
      |comp AS (SELECT n AS doc_id, least(n, min(m)) AS component FROM reach GROUP BY n),
      |cl AS (
      |  SELECT d.doc_id, coalesce(k.component, d.doc_id) AS component
      |  FROM documents d LEFT JOIN comp k USING (doc_id)),
      |q AS (
      |  SELECT doc_id,
      |         round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |             / len(string_split(text, ' ')) * 0.5 +
      |           least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0) * 0.5, 6)
      |           AS quality
      |  FROM documents),
      |sel AS (
      |  SELECT cl.component, q.doc_id, q.quality,
      |         row_number() OVER (PARTITION BY cl.component
      |           ORDER BY q.quality DESC, q.doc_id ASC) AS rn,
      |         count(*) OVER (PARTITION BY cl.component) AS n_members
      |  FROM cl JOIN q USING (doc_id))
      |SELECT component, doc_id AS kept_doc_id, quality,
      |       CAST(n_members AS BIGINT) AS n_members
      |FROM sel WHERE rn = 1
      |ORDER BY component ASC""".stripMargin

  /** Shared by q_json_tree (schema-typed explodes) and q_json_tree_deep
    * (recursive Generator) — identical rows by contract.
    */
  private val JsonTreeOracle: String =
    """WITH l1 AS (
      |  SELECT json_extract_string(n, '$.title') AS title,
      |         json_extract_string(n, '$.link') AS link,
      |         json_extract(n, '$.children') AS children
      |  FROM (SELECT unnest(CAST(json_extract(
      |    '{"list":[{"title":"overview","link":"/overview","children":[{"title":"quickstart","link":"/quickstart"},{"title":"concepts","link":"/concepts"}]},{"title":"api","link":"/api","children":[{"title":"search","link":"/search"},{"title":"upsert","link":"/upsert"},{"title":"ddl","link":"/ddl"}]},{"title":"pricing","link":"/pricing","children":[]}]}',
      |    '$.list') AS JSON[])) AS n)),
      |l2 AS (
      |  SELECT json_extract_string(c, '$.title') AS title,
      |         link || json_extract_string(c, '$.link') AS sublink
      |  FROM (SELECT link, unnest(CAST(children AS JSON[])) AS c FROM l1))
      |SELECT title, 'https://nav.local' || link AS url, CAST(1 AS BIGINT) AS depth FROM l1
      |UNION ALL
      |SELECT title, 'https://nav.local' || sublink, 2 FROM l2
      |ORDER BY depth ASC, url ASC""".stripMargin

  /** The `q_knn_text` query string (fixture-vocabulary words) and its raw
    * feature-hash vector — computed by the SAME pure-JVM kernel the plan's
    * [[graft.plans.FeatureHashEmbed]] expression compiles to, so the SQL
    * oracle's literal can never drift from the engine. Components are
    * signed token counts (exact small integers), so the literal round-trips
    * exactly through SQL text; cosine scale-invariance makes normalization
    * unnecessary on either side.
    */
  private[graft] val KnnTextQuery = "fast vector query scan"

  private[graft] def knnTextQueryVec(dim: Int = KnnOps.DefaultEmbedDim): Array[Double] =
    graft.plans.FeatureHash.embed(
      org.apache.spark.unsafe.types.UTF8String.fromString(KnnTextQuery), dim)
      .toDoubleArray

  /** BM25 oracle fragments, generated from the SAME term list
    * ([[RetrievalOps.queryTerms]] of [[KnnTextQuery]]) the engine scores,
    * in the SAME fixed order — the fp `+` chain must associate identically
    * on both engines (FIXTURES.md determinism rules). Constants appear as
    * the SAME decimal numerals the Column expression uses (`2.2`, `1.2`,
    * `0.25`, `0.75`), so both sides parse identical doubles.
    */
  /** Phrase-match oracle generated from [[RetrievalOps.PhraseQuery]] — one
    * phrase definition for the engine and the oracle. DuckDB lists are
    * 1-based, so `pos = i - 1` restores the engine's 0-based token offsets.
    */
  /** See EvalOps.rankEval — shared by the per-query entry and the macro
    * average.
    */
  /** VALUES bodies of the lang-id model — generated from
    * [[graft.operators.LangIdOps]]'s literals so the Spark operator and
    * the DuckDB oracle share ONE model definition and cannot drift.
    */
  private def langDictValues: String =
    LangIdOps.renderDict.flatMap { case (tok, per) =>
      per.map { case (l, w) => s"('$l','$tok','$w')" }
    }.mkString(",\n    ")

  private def langProfValues: String =
    LangIdOps.trigramProfile.map { case (l, g, w) => s"('$l','$g',$w)" }
      .mkString(",\n    ")

  /** The lang-id CTE chain — dictionary/profile VALUES, per-token
    * rendering, `^tok$` trigram windows, per-language integer log-odds
    * sums, argmax with the lang-ascending tie-break — ending at
    * `lpred(doc_id, lang, s_de..s_zh, predicted)`. Shared by q_lang_id
    * and every derived-label consumer. Rendering is LENIENT (LEFT JOIN,
    * out-of-vocabulary tokens pass through raw — r16, mirroring
    * [[graft.operators.LangIdOps.withDerivedLangOn]]'s contract; the
    * strict q_lang_id engine path raises on OOV rather than rendering,
    * so on any corpus BOTH engines produce rows the two forms agree on:
    * the frozen fixture is fully in-dictionary).
    */
  /** DuckDB twin of [[graft.operators.DedupOps.simHash]] (r17 — flips
    * q_dedup_simhash from rows-only to fully oracled): the signature is
    * closed-form since the token hash moved to the content-addressed
    * md5-nibble convention — bit p of token t is bit (p % 4) of hex
    * nibble 17 + p/4 of md5(t). Votes are 64 integer sums over the
    * NFC'd distinct-token stream, the sign pack mirrors the engine's
    * term order exactly (Σ 2^p for p ≤ 62 caps at BIGINT max, the p=63
    * term is the literal −2^63 — no overflow either side), and the
    * neighbor count brute-forces bit_count(xor) ≤ maxHamming over the
    * DISTINCT fingerprints (the engine must pigeonhole-block its way to
    * the same pairs).
    */
  private def simhashOracleSql(maxHamming: Int = 3): String = {
    val nibs = (0 until 16).map(k =>
      s"instr('0123456789abcdef', substr(md5(t), ${17 + k}, 1)) - 1 AS n$k")
      .mkString(", ")
    val votes = (0 until 64).map(p =>
      s"sum(CASE WHEN (n${p / 4} // ${1 << (p % 4)}) % 2 = 1 THEN 1 ELSE -1 END) AS v$p")
      .mkString(",\n       ")
    val sig = (0 until 64).map { p =>
      val w = if (p == 63) "-9223372036854775808" else (1L << p).toString
      s"CASE WHEN v$p > 0 THEN CAST($w AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString(" +\n         ")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         unnest(list_distinct(string_split(nfc_normalize(text), ' '))) AS t
       |  FROM documents),
       |nib AS (
       |  SELECT doc_id, $nibs
       |  FROM toks),
       |v AS (SELECT doc_id, $votes FROM nib GROUP BY doc_id),
       |sig AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM v),
       |fpc AS (SELECT simhash, count(*) AS cnt FROM sig GROUP BY simhash),
       |crs AS (
       |  SELECT a.simhash AS afp, sum(b.cnt) AS n_cross
       |  FROM fpc a JOIN fpc b
       |    ON a.simhash <> b.simhash
       |   AND bit_count(xor(a.simhash, b.simhash)) <= $maxHamming
       |  GROUP BY a.simhash)
       |SELECT s.doc_id, s.simhash,
       |       CAST(f.cnt - 1 + coalesce(c.n_cross, 0) AS BIGINT) AS n_neighbors
       |FROM sig s JOIN fpc f USING (simhash)
       |LEFT JOIN crs c ON s.simhash = c.afp
       |ORDER BY s.doc_id ASC""".stripMargin
  }

  /** DuckDB twin of the FULL BPE chain (r17 — flips q_bpe_tokens from
    * rows-only to fully oracled): the training loop replayed as
    * unrolled chained-CTE rounds (the q_select_kcenter discipline).
    * Each round recomputes the weighted adjacent-pair counts over the
    * current per-word symbol forms, picks the argmax under the engine's
    * exact total order (count DESC, left ASC, right ASC — ASCII symbols,
    * so binary and UTF-16 collation agree), applies the GREEDY
    * LEFT-TO-RIGHT NON-OVERLAPPING rewrite (chain grouping + odd-parity
    * within each run of consecutive sites — the aa+aa case), and
    * passes through unchanged once no pair repeats (the engine's
    * cnt < 2 stop). Rounds are bounded at Σ(len(w)+1) − |vocab| over
    * the fixture vocabulary — the maximum possible merge count (each
    * merge removes ≥ 1 symbol from the form table), so the unroll
    * always reaches the engine's fixed point. The final forms ARE the
    * encodes (greedy lowest-rank apply ≡ training-order replay for
    * training-vocabulary words — the BpeProperties-pinned law; the
    * fixture's maxWords covers the whole vocabulary), so per-doc counts
    * join the word stream against the final form lengths. MATERIALIZED
    * is load-bearing: without it DuckDB inlines each round's state into
    * every downstream reference and the scan count grows exponentially.
    * SELF-GUARDING (ADVICE r17): both fixture-bound assumptions — the
    * corpus vocabulary fits the top-10000 LIMIT (else the final join
    * drops OOV words the engine still encodes) and the max merge bound
    * Σ(len(w)+1) − |vocab| fits the unroll — are asserted in a `grd`
    * CTE via error(), so a scale change fails the oracle LOUDLY at run
    * time instead of surfacing as a puzzling row mismatch.
    */
  private def bpeOracleSql(rounds: Int = 138): String = {
    def roundCtes(r: Int): String = {
      val prev = s"s${r - 1}"
      s"""p$r AS MATERIALIZED (
         |  SELECT f[i] AS l, f[i+1] AS rr, sum(c) AS cnt
         |  FROM (SELECT c, f, unnest(range(1, len(f))) AS i FROM $prev)
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (
         |  SELECT l, rr FROM p$r WHERE cnt >= 2
         |  ORDER BY cnt DESC, l ASC, rr ASC LIMIT 1),
         |x$r AS MATERIALIZED (
         |  SELECT s.w, s.c, s.f, i.i,
         |         CASE WHEN b.l IS NOT NULL AND s.f[i.i] = b.l
         |                AND s.f[i.i + 1] = b.rr
         |              THEN 1 ELSE 0 END AS cand
         |  FROM $prev s
         |  LEFT JOIN b$r b ON TRUE,
         |  LATERAL (SELECT unnest(range(1, len(s.f) + 1)) AS i) i),
         |t$r AS MATERIALIZED (
         |  SELECT w, i,
         |         CASE WHEN row_number() OVER (PARTITION BY w, chain ORDER BY i) % 2 = 1
         |              THEN 1 ELSE 0 END AS taken
         |  FROM (SELECT w, i, i - row_number() OVER (PARTITION BY w ORDER BY i) AS chain
         |        FROM x$r WHERE cand = 1)),
         |s$r AS MATERIALIZED (
         |  SELECT x.w, any_value(x.c) AS c,
         |         list(CASE WHEN coalesce(ts.taken, 0) = 1
         |                   THEN x.f[x.i] || x.f[x.i + 1]
         |                   ELSE x.f[x.i] END ORDER BY x.i) AS f
         |  FROM x$r x
         |  LEFT JOIN t$r ts ON ts.w = x.w AND ts.i = x.i
         |  LEFT JOIN t$r tp ON tp.w = x.w AND tp.i = x.i - 1
         |  WHERE NOT coalesce(tp.taken, 0) = 1
         |  GROUP BY x.w)""".stripMargin
    }
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT w, count(*) AS c
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) > 0 GROUP BY w
       |  ORDER BY c DESC, w ASC LIMIT 10000),
       |s0 AS MATERIALIZED (
       |  SELECT w, c,
       |         list_append(list_transform(range(1, length(w) + 1),
       |           k -> substr(w, k, 1)), '</w>') AS f
       |  FROM w0),
       |""".stripMargin +
      (1 to rounds).map(roundCtes).mkString(",\n") +
      s""",
         |fin AS (SELECT w, CAST(len(f) AS BIGINT) AS n_sym FROM s$rounds),
         |docw AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |grd AS MATERIALIZED (
         |  SELECT CASE
         |    WHEN (SELECT count(DISTINCT w) FROM docw WHERE length(w) > 0)
         |         > 10000
         |      THEN error('bpe oracle invalid at this corpus scale: more than 10000 distinct words, so the top-10000 vocabulary LIMIT would drop OOV words the engine still encodes')
         |    WHEN (SELECT sum(length(w) + 1) - count(*) FROM w0) > $rounds
         |      THEN error('bpe oracle invalid at this corpus scale: the maximum merge bound sum(len(w)+1) - |vocab| exceeds the $rounds unrolled rounds, so the unroll may stop short of the engine fixed point')
         |    ELSE 1 END AS ok)
         |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens
         |FROM (SELECT * FROM docw
         |      WHERE length(w) > 0 AND (SELECT ok FROM grd) = 1) d
         |JOIN fin USING (w)
         |GROUP BY d.doc_id
         |ORDER BY d.doc_id ASC""".stripMargin
  }

  /** The crawl-plan derivation as reusable CTEs ending at
    * `r2(host, url, priority, status, cap, slot)` — sitemap candidates
    * in closed form, the handwritten literal robots rules
    * (longest-match + allow-tie), delay-shrunk caps, per-host rank.
    * Shared by q_crawl_plan (which SELECTs the schedule) and the
    * crawl→archive composition (which feeds the scheduled page ids
    * into the archive spine, r18).
    */
  private def crawlPlanCtes: String =
    """base AS (
      |  SELECT source AS host, doc_id, lang,
      |         try_cast(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) % 4 AS hc,
      |         CAST((doc_id % 30) * (CASE lang WHEN 'en' THEN 5 WHEN 'fr' THEN 4
      |                                         WHEN 'es' THEN 3 WHEN 'de' THEN 2 ELSE 1 END)
      |              + n_chars % 7 AS BIGINT) AS p
      |  FROM documents),
      |cand AS (
      |  SELECT host, hc,
      |         'https://' || host || '/' || lang || '/p' || CAST(doc_id AS VARCHAR) AS url,
      |         '/' || lang || '/p' || CAST(doc_id AS VARCHAR) AS path,
      |         p AS priority, 'stale' AS status
      |  FROM base
      |  WHERE CAST('2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS DATE)
      |        > (DATE '2026-02-01' - CAST(doc_id % 30 AS INT))
      |  UNION ALL
      |  SELECT host, hc,
      |         'https://' || host || '/disc/p' || CAST(doc_id AS VARCHAR),
      |         '/disc/p' || CAST(doc_id AS VARCHAR),
      |         CAST(160 AS BIGINT), 'new'
      |  FROM base WHERE doc_id % 5 = 0),
      |rules(hc, allow, pat, plen) AS (VALUES
      |  (0, false, '/de/%', 4), (0, false, '/zh/%', 4),
      |  (1, false, '/%7', 4), (1, true, '/en/%', 4), (1, false, '/en%', 3),
      |  (2, false, '/es/%', 4)),
      |m AS (
      |  SELECT c.host, c.hc, c.url, c.priority, c.status, r.allow, r.plen
      |  FROM cand c LEFT JOIN rules r ON c.hc = r.hc AND c.path LIKE r.pat),
      |mm AS (SELECT host, hc, url, priority, status, allow, plen,
      |              max(plen) OVER (PARTITION BY host, url) AS best
      |       FROM m),
      |v AS (
      |  SELECT host, hc, url, priority, status FROM mm
      |  GROUP BY host, hc, url, priority, status, best
      |  HAVING best IS NULL OR bool_or(allow AND plen = best)),
      |delays(hc, delay) AS (VALUES (0, 2.0), (1, 3.0)),
      |r2 AS (
      |  SELECT v.host, v.url, v.priority, v.status,
      |         least(CAST(8 AS BIGINT),
      |               CAST(coalesce(floor(10.0 / d.delay), 8) AS BIGINT)) AS cap,
      |         row_number() OVER (PARTITION BY v.host
      |                            ORDER BY v.priority DESC, v.url ASC) AS slot
      |  FROM v LEFT JOIN delays d ON v.hc = d.hc)""".stripMargin

  /** The verified-export manifest in closed form — per-shard totals,
    * id range, and the 48-bit md5-draw bit_xor content checksum over
    * the whole corpus. Shared by q_export_verified and its streaming
    * twin (the halves partition the corpus and every manifest column
    * folds associatively, so the served stream manifest is this exact
    * aggregate).
    */
  private def exportManifestOracleSql: String =
    "WITH " + manifestSelectOver("documents")

  /** The manifest CTE chain + final select over ANY relation carrying
    * (doc_id, text) — shared by the raw-corpus exports and the r19
    * spine-survivor export (whose relation is the funnel's output).
    * Caller supplies the leading `WITH ` and any upstream CTEs.
    */
  private def manifestSelectOver(rel: String): String = {
    val mult = (1 to 12).map(k =>
      s"(instr('0123456789abcdef', substr(h, $k, 1)) - 1) * ${1L << (4 * (12 - k))}")
      .mkString(" +\n           ")
    s"""mfr AS (
       |  SELECT doc_id, text,
       |         instr('0123456789abcdef',
       |           substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1 AS shard,
       |         md5(CAST(doc_id AS VARCHAR) || ':' || md5(text)) AS h
       |  FROM $rel),
       |mfm AS (
       |  SELECT CAST(shard AS BIGINT) AS shard, doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |         CAST(length(text) AS BIGINT) AS n_bytes,
       |         CAST($mult AS BIGINT) AS ck
       |  FROM mfr)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |       CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
       |       CAST(min(doc_id) AS BIGINT) AS min_doc,
       |       CAST(max(doc_id) AS BIGINT) AS max_doc,
       |       CAST(bit_xor(ck) AS BIGINT) AS checksum
       |FROM mfm GROUP BY shard
       |ORDER BY shard ASC""".stripMargin
  }

  /** The archive-spine oracle — shared by q_archive_e2e and its
    * streaming twin (ordered halves + the fixture's require()'d
    * zero-FP measurement make the folded shard log the batch answer).
    */
  private def archiveE2eOracleSql: String = archiveSpineOracleSql(
    """xraw AS (
      |  SELECT doc_id, lang, source, text FROM documents
      |  WHERE doc_id % 13 <> 7)""".stripMargin)

  /** The archive spine's CTE chain up to the six-gate SURVIVORS,
    * parameterized on the `xraw` input corpus definition (r18, split
    * r19): main-content extraction, lang-id, gate flags, `surv`
    * (doc_id, n_tok). One prefix serves the shard-plan tail
    * ([[archiveSpineOracleSql]]) and the r19 verified-export tail
    * ([[spineExportOracleSql]]). `prefixCtes` (each comma-terminated)
    * precede xraw — the crawl composition threads its whole plan
    * derivation in. `xdocs` is MATERIALIZED: the funnel CTEs reference
    * it ~8×, and the export tail adds a 9th (the q_bpe_tokens
    * re-inline lesson).
    */
  private def spineSurvCtes(xrawCte: String,
      prefixCtes: String = ""): String =
    ("WITH " + prefixCtes + xrawCte + ",\n" + htmlMainCtes("xraw") + ",\n" +
      s"""|xdocs AS MATERIALIZED (
          |  SELECT doc_id, lang, source, main_text AS text FROM mt),
          |""".stripMargin + langIdCtesOn("xdocs") + ",\n" +
      funnelFlagCtes("xdocs") + ",\n" +
      "surv AS (SELECT doc_id, n_tok FROM kk WHERE k6 = 1)")

  /** The spine-survivor verified-export oracle (r19): the spine chain
    * to `surv`, the survivors' curated text re-joined, then the
    * closed-form manifest arithmetic over exactly those rows.
    */
  private def spineExportOracleSql: String =
    spineExportOracleSqlOf("""xraw AS (
      |  SELECT doc_id, lang, source, text FROM documents
      |  WHERE doc_id % 13 <> 7)""".stripMargin)

  /** [[spineExportOracleSql]] parameterized on the input corpus — the
    * crawl-loop compositions thread their schedule derivation in as
    * `prefixCtes` and restrict `xraw` to the fetched subset.
    */
  private def spineExportOracleSqlOf(xrawCte: String,
      prefixCtes: String = ""): String =
    spineSurvCtes(xrawCte, prefixCtes) + ",\n" +
      """|sdocs AS MATERIALIZED (
         |  SELECT s.doc_id, x.text FROM surv s JOIN xdocs x USING (doc_id)),
         |""".stripMargin + manifestSelectOver("sdocs")

  /** The shard-plan tail over the spine survivors — q_archive_e2e and
    * every composition serving the 16-row export shard PLAN.
    */
  private def archiveSpineOracleSql(xrawCte: String,
      prefixCtes: String = ""): String =
    (spineSurvCtes(xrawCte, prefixCtes) + ",\n" +
        s"""|sh AS (
           |  SELECT s.doc_id, s.n_tok,
           |         CAST(length(x.text) AS BIGINT) AS n_bytes,
           |         CAST(instr('0123456789abcdef',
           |           substr(md5(CAST(s.doc_id AS VARCHAR)), 32, 1)) - 1
           |           AS BIGINT) AS shard
           |  FROM surv s JOIN xdocs x USING (doc_id)),
           |agg AS (
           |  SELECT shard, count(*) AS n_docs, sum(n_tok) AS n_tokens,
           |         sum(n_bytes) AS n_bytes, min(doc_id) AS min_doc
           |  FROM sh GROUP BY shard)
           |SELECT shard, CAST(n_docs AS BIGINT) AS n_docs,
           |       CAST(n_tokens AS BIGINT) AS n_tokens,
           |       CAST(n_bytes AS BIGINT) AS n_bytes,
           |       CAST(min_doc AS BIGINT) AS min_doc,
           |       CAST((1000000 * n_tokens) // max(n_tokens) OVER ()
           |         AS BIGINT) AS share_ppm
           |FROM agg
           |ORDER BY shard ASC""".stripMargin)

  /** Per-document curation-funnel flag CTEs over `rel` (doc_id, lang,
    * source, text) — the six gate flags, the fl join, and the kk
    * cumulative products; requires [[langIdCtesOn]](rel) upstream for
    * `lpred`. Shared by q_curation_funnel (rel = documents) and
    * q_archive_e2e (rel = the WARC-extracted corpus, r17).
    */
  private def funnelFlagCtes(rel: String): String =
    (s"""flang AS (
        |  SELECT doc_id, CASE WHEN predicted = 'en' THEN 1 ELSE 0 END AS f_lang
        |  FROM lpred),
        |gc AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) +
        |      CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS n_symbols,
        |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(string_split(text, chr(10)), l -> starts_with(trim(l), '-')
        |      OR starts_with(trim(l), '*'))) AS BIGINT) AS n_bullet,
        |    CAST(len(list_filter(string_split(text, chr(10)), l -> ends_with(trim(l), '...'))) AS BIGINT) AS n_ell_end,
        |    CAST(len(list_filter(string_split(text, ' '), w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS n_alpha_words,
        |    CAST(len(list_filter(['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'],
        |      s -> list_contains(list_transform(string_split(text, ' '), w -> lower(w)), s))) AS BIGINT) AS n_stopwords
        |  FROM $rel),
        |fgop AS (
        |  SELECT doc_id,
        |    CAST(n_words >= 20 AND n_words <= 100000 AS BIGINT) *
        |    CAST(n_chars >= 3 * n_words AND n_chars <= 10 * n_words AS BIGINT) *
        |    CAST(10 * n_symbols <= n_words AS BIGINT) *
        |    CAST(10 * n_bullet <= 9 * n_lines AS BIGINT) *
        |    CAST(10 * n_ell_end <= 3 * n_lines AS BIGINT) *
        |    CAST(5 * n_alpha_words >= 4 * n_words AS BIGINT) *
        |    CAST(n_stopwords >= 1 AS BIGINT) AS f_gopher
        |  FROM gc),
        |rc AS (
        |  SELECT doc_id,
        |         text ||
        |         CASE WHEN doc_id % 6 = 0
        |              THEN chr(10) || substr(text, 1, 40) || chr(10) || substr(text, 1, 40)
        |              ELSE '' END ||
        |         CASE WHEN doc_id % 8 = 0 AND doc_id % 6 <> 0
        |              THEN chr(10) || substr(text, 1, 40) ELSE '' END AS t
        |  FROM $rel),
        |rm AS (
        |  SELECT doc_id, t,
        |         CAST(list_sum(list_transform(string_split(t, chr(10)),
        |           l -> length(l))) AS BIGINT) AS line_chars,
        |         CAST(list_sum(list_transform(string_split(t, chr(10)),
        |           l -> length(l))) AS BIGINT)
        |           - CAST(list_sum(list_transform(list_distinct(string_split(t, chr(10))),
        |               l -> length(l))) AS BIGINT) AS dup_line_chars
        |  FROM rc),
        |rbg AS (
        |  SELECT doc_id, w[i] || ' ' || w[i + 1] AS b
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
        |        FROM (SELECT doc_id, string_split_regex(t, '[ \\n]') AS w FROM rc)
        |        WHERE len(w) >= 2)),
        |rt2 AS (
        |  SELECT doc_id, max(cnt * length(b)) AS top2_chars
        |  FROM (SELECT doc_id, b, count(*) AS cnt FROM rbg GROUP BY doc_id, b)
        |  GROUP BY doc_id),
        |frep AS (
        |  SELECT rm.doc_id,
        |         CAST(CASE WHEN 5 * rm.dup_line_chars <= rm.line_chars
        |                    AND 5 * coalesce(rt2.top2_chars, 0) <= rm.line_chars
        |               THEN 1 ELSE 0 END AS BIGINT) AS f_rep
        |  FROM rm LEFT JOIN rt2 USING (doc_id)),
        |fded AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY md5(text))
        |              THEN 1 ELSE 0 END AS f_dedup
        |  FROM $rel),
        |dtok AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM $rel),
        |dng AS (
        |  SELECT doc_id, source,
        |         unnest(list_distinct(list_transform(range(1, len(t) - 2),
        |           i -> list_aggregate(t[i:i+3], 'string_agg', ' ')))) AS g
        |  FROM dtok),
        |deval AS (SELECT DISTINCT g FROM dng WHERE source = 'src19'),
        |dhits AS (
        |  SELECT dng.doc_id, count(*) AS shared
        |  FROM dng JOIN deval USING (g) WHERE dng.source <> 'src19'
        |  GROUP BY dng.doc_id),
        |fdec AS (
        |  SELECT d.doc_id,
        |         CASE WHEN d.source <> 'src19' AND coalesce(h.shared, 0) = 0
        |              THEN 1 ELSE 0 END AS f_decon
        |  FROM $rel d LEFT JOIN dhits h USING (doc_id)),
        |fmix AS (
        |  SELECT doc_id,
        |         CASE WHEN len(string_split(text, ' ')) >= 20
        |               AND (doc_id * 2654435761) % 1000 <
        |                   (coalesce(TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT),
        |                     length(source)) % 4 + 1) * 0.25 * 1000
        |              THEN 1 ELSE 0 END AS f_mix
        |  FROM $rel),
        |fl AS (
        |  SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
        |         f_lang, f_gopher, f_rep, f_dedup, f_decon, f_mix
        |  FROM $rel d
        |  JOIN flang USING (doc_id) JOIN fgop USING (doc_id)
        |  JOIN frep USING (doc_id) JOIN fded USING (doc_id)
        |  JOIN fdec USING (doc_id) JOIN fmix USING (doc_id)),
        |kk AS (
        |  SELECT *, f_lang AS k1, f_lang * f_gopher AS k2,
        |         f_lang * f_gopher * f_rep AS k3,
        |         f_lang * f_gopher * f_rep * f_dedup AS k4,
        |         f_lang * f_gopher * f_rep * f_dedup * f_decon AS k5,
        |         f_lang * f_gopher * f_rep * f_dedup * f_decon * f_mix AS k6
        |  FROM fl)""").stripMargin

  private def langIdCtes: String = langIdCtesOn("documents")

  /** [[langIdCtes]] over any relation carrying (doc_id, lang, text) —
    * the archive e2e runs lang-id over the EXTRACTED corpus (r17).
    */
  private def langIdCtesOn(rel: String): String =
    s"""ldict AS (SELECT * FROM (VALUES
       |    $langDictValues) AS t(dlang, tok, word)),
       |lprof AS (SELECT * FROM (VALUES
       |    $langProfValues) AS t(plang, g, w)),
       |ltoks AS (
       |  SELECT doc_id, lang, t, unnest(range(1, len(t) + 1)) AS i
       |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS t FROM $rel)),
       |lrend AS (
       |  SELECT x.doc_id, x.lang,
       |         string_agg(coalesce(d.word, x.tok), ' ' ORDER BY x.i) AS rtext
       |  FROM (SELECT doc_id, lang, i, t[i] AS tok FROM ltoks) x
       |  LEFT JOIN ldict d ON d.dlang = x.lang AND d.tok = x.tok
       |  GROUP BY x.doc_id, x.lang),
       |lwords AS (
       |  SELECT doc_id, lang, rt[j] AS w
       |  FROM (SELECT doc_id, lang, rt, unnest(range(1, len(rt) + 1)) AS j
       |        FROM (SELECT doc_id, lang, string_split(rtext, ' ') AS rt
       |              FROM lrend))),
       |lgrams AS (
       |  SELECT doc_id, lang, substring('^' || w || '$$', CAST(k AS INT), 3) AS g
       |  FROM (SELECT doc_id, lang, w, unnest(range(1, length(w) + 1)) AS k
       |        FROM lwords)),
       |lsc AS (
       |  SELECT gr.doc_id, gr.lang,
       |    CAST(coalesce(sum(CASE WHEN p.plang = 'de' THEN p.w END), 0) AS BIGINT) AS s_de,
       |    CAST(coalesce(sum(CASE WHEN p.plang = 'en' THEN p.w END), 0) AS BIGINT) AS s_en,
       |    CAST(coalesce(sum(CASE WHEN p.plang = 'es' THEN p.w END), 0) AS BIGINT) AS s_es,
       |    CAST(coalesce(sum(CASE WHEN p.plang = 'fr' THEN p.w END), 0) AS BIGINT) AS s_fr,
       |    CAST(coalesce(sum(CASE WHEN p.plang = 'zh' THEN p.w END), 0) AS BIGINT) AS s_zh
       |  FROM lgrams gr LEFT JOIN lprof p ON p.g = gr.g
       |  GROUP BY gr.doc_id, gr.lang),
       |lpred AS (
       |  SELECT doc_id, lang, s_de, s_en, s_es, s_fr, s_zh,
       |    CASE
       |      WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
       |      WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
       |      WHEN s_es >= s_de AND s_es >= s_en AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
       |      WHEN s_fr >= s_de AND s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
       |      ELSE 'zh' END AS predicted
       |  FROM lsc)""".stripMargin

  /** DuckDB twin of [[graft.operators.RetrievalOps.mmrRerank]] (r16 —
    * flips q_knn_mmr from rows-only to fully oracled, the
    * q_link_communities discipline applied to the serving stack): the
    * greedy unrolled as k−1 chained CTE rounds over the top-`pool`
    * candidate set. Every compared quantity is shared-double exact —
    * rel rounds at 6 (the knn convention), pairwise sims floor-half-up
    * at 6, the score `0.7·rel − (1.0 − 0.7)·maxSim` keeps the engine's
    * operand order so IEEE arithmetic is bit-identical, and the argmax
    * is its integer micro value with (sm DESC, pool position ASC) ties
    * — exactly the engine's scan. Round 1 is always pool position 1
    * (the score is monotone in rel with ties falling to the first).
    */
  private def mmrOracleSql(pool: Int = 20, k: Int = 10): String = {
    val qv = knnTextQueryVec().mkString(", ")
    val rounds = (2 to k).map { i =>
      val prev = s"sel${i - 1}"
      s"""cand$i AS MATERIALIZED (
         |  SELECT c.p, c.vec_id, c.rel,
         |    CAST(floor((0.7 * c.rel - (1.0 - 0.7) * max(s.sim)) * 1000000.0 + 0.5) AS BIGINT) AS sm
         |  FROM pool c JOIN simm s ON s.pa = c.p AND s.pb IN (SELECT p FROM $prev)
         |  WHERE c.p NOT IN (SELECT p FROM $prev)
         |  GROUP BY c.p, c.vec_id, c.rel),
         |pick$i AS MATERIALIZED (
         |  SELECT CAST($i AS BIGINT) AS rank, p, vec_id, rel, sm FROM cand$i
         |  ORDER BY sm DESC, p ASC LIMIT 1),
         |sel$i AS MATERIALIZED (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM pick$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |pool AS MATERIALIZED (
       |  SELECT vec_id, v, rel, row_number() OVER (ORDER BY rel DESC, vec_id ASC) AS p
       |  FROM (SELECT vec_id, v,
       |          round(list_cosine_similarity(v, CAST([$qv] AS DOUBLE[])), 6) AS rel
       |        FROM e)
       |  QUALIFY p <= $pool),
       |simm AS MATERIALIZED (
       |  SELECT a.p AS pa, b.p AS pb,
       |         floor(list_cosine_similarity(a.v, b.v) * 1000000.0 + 0.5) / 1000000.0 AS sim
       |  FROM pool a JOIN pool b ON a.p <> b.p),
       |sel1 AS MATERIALIZED (
       |  SELECT CAST(1 AS BIGINT) AS rank, p, vec_id, rel,
       |         CAST(floor((0.7 * rel - (1.0 - 0.7) * 0.0) * 1000000.0 + 0.5) AS BIGINT) AS sm
       |  FROM pool WHERE p = 1),
       |$rounds
       |SELECT rank, vec_id, rel, CAST(sm AS DOUBLE) / 1000000.0 AS mmr
       |FROM sel$k ORDER BY rank ASC""".stripMargin
  }

  /** DuckDB twin of [[graft.operators.MlOps.kcenterOn]] (r16 — flips
    * q_select_kcenter from rows-only to fully oracled): farthest-first
    * unrolled as k−1 chained (pick, fold) CTE rounds. Distances are
    * micro-rounded at computation in BOTH engines (the r16 semantics),
    * so state, argmax (dmin DESC, vec_id ASC — the engine's
    * max(struct(dmin, −vec_id))), and the reported radius are exact
    * integers-over-1e6. The oracle runs the full k: the fixture never
    * hits the zero-radius early stop (CORRECTNESS pins 16 rows).
    */
  private def kcenterOracleSql(k: Int = 16): String = {
    val d6 = (a: String, b: String) =>
      s"floor((1.0 - list_cosine_similarity($a, $b)) * 1000000.0 + 0.5) / 1000000.0"
    val rounds = (2 to k).map { i =>
      s"""p$i AS MATERIALIZED (SELECT vec_id, v, dmin FROM d${i - 1} ORDER BY dmin DESC, vec_id ASC LIMIT 1),
         |d$i AS MATERIALIZED (
         |  SELECT d.vec_id, d.v, least(d.dmin, ${d6("d.v", "p.v")}) AS dmin
         |  FROM d${i - 1} d CROSS JOIN p$i p)""".stripMargin
    }.mkString(",\n")
    val branches = (2 to k).map(i =>
      s"SELECT $i, vec_id, dmin FROM p$i").mkString("\nUNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c1 AS MATERIALIZED (SELECT vec_id, v FROM e ORDER BY vec_id ASC LIMIT 1),
       |d1 AS MATERIALIZED (
       |  SELECT e.vec_id, e.v, ${d6("e.v", "c1.v")} AS dmin
       |  FROM e CROSS JOIN c1),
       |$rounds
       |SELECT CAST(1 AS INT) AS rank, vec_id, 0.0 AS radius FROM c1
       |UNION ALL $branches
       |ORDER BY rank ASC""".stripMargin
  }

  /** Block-scored main-content CTEs over a relation carrying (doc_id,
    * text, ...) — pages (the planted full page), blk (per-block text +
    * link chars), kp (the two closed-form gates), mt (joined main text).
    * Extra input columns ride through (`SELECT *`), so the ingest
    * composition reuses the chain verbatim.
    */
  private def htmlMainCtes(rel: String): String =
    s"""pages AS (
       |  SELECT *, '<html><body>' ||
       |    '<div class="nav"><a href="/">home</a> <a href="/about">about</a> <a href="/products">products</a></div>' ||
       |    '<div class="main">' || substr(text, 1, CAST(length(text) // 2 AS INT)) || '</div>' ||
       |    '<div class="main2">' || substr(text, CAST(length(text) // 2 AS INT) + 1) ||
       |    CASE WHEN doc_id % 3 = 0 THEN ' see <a href="/d">details</a>' ELSE '' END ||
       |    CASE WHEN doc_id % 5 = 0 THEN repeat(' <a href="/p">more link text here</a>', 6) ELSE '' END ||
       |    '</div>' ||
       |    '<div class="share">share</div>' ||
       |    '<div class="footer"><a href="/privacy">privacy</a> <a href="/terms">terms</a> copyright corpus</div>' ||
       |    '</body></html>' AS html
       |  FROM $rel),
       |blk AS (
       |  SELECT *, list_filter(list_transform(string_split(html, '</div>'), b ->
       |      struct_pack(
       |        txt := trim(regexp_replace(regexp_replace(b, '<[^>]*>', ' ', 'g'), ' +', ' ', 'g')),
       |        lch := CAST(coalesce(list_sum(list_transform(
       |          regexp_extract_all(b, '<a[^>]*>([^<]*)</a>', 1), x -> length(x))), 0) AS BIGINT))),
       |    s -> struct_extract(s, 'txt') <> '') AS blocks
       |  FROM pages),
       |kp AS (
       |  SELECT *, list_filter(blocks, s ->
       |      len(string_split(struct_extract(s, 'txt'), ' ')) >= 5
       |      AND 5 * struct_extract(s, 'lch') <= length(struct_extract(s, 'txt'))) AS kept
       |  FROM blk),
       |mt AS (
       |  SELECT *, array_to_string(list_transform(kept, s -> struct_extract(s, 'txt')), ' ') AS main_text
       |  FROM kp)""".stripMargin

  /** Oracle shared by q_select_dsir_langid and its maintained-model twin
    * q_select_dsir_stored_langid (integer count folds make the served
    * selection bit-identical): the q_select_dsir chain with the DERIVED
    * label marking the target — lang-id CTEs supply the per-doc
    * prediction, everything downstream (features, add-1 smoothing,
    * nano-rounded log-ratio dot product, length-de-biased top-m) is the
    * proven dsir arithmetic verbatim.
    */
  private def dsirLangIdSql: String =
    s"""WITH $langIdCtes,
       |toks AS (
       |  SELECT d.doc_id, p.predicted, string_split(d.text, ' ') AS t
       |  FROM documents d JOIN lpred p USING (doc_id)),
       |occ AS (
       |  SELECT doc_id, predicted, unnest(t) AS f FROM toks
       |  UNION ALL
       |  SELECT doc_id, predicted, t[i] || ' ' || t[i + 1] AS f
       |  FROM (SELECT doc_id, predicted, t, unnest(range(1, len(t))) AS i
       |        FROM toks WHERE len(t) >= 2)),
       |pair AS (
       |  SELECT doc_id, predicted, f, count(*) AS c
       |  FROM occ GROUP BY doc_id, predicted, f),
       |model AS (
       |  SELECT f, sum(CASE WHEN predicted = 'en' THEN c ELSE 0 END) AS ct,
       |         sum(c) AS cr
       |  FROM pair GROUP BY f),
       |ds AS (SELECT sum(ct) AS tt, sum(cr) AS tr, count(*) AS v FROM model),
       |lnr AS (
       |  SELECT f, CAST(floor(ln(
       |      ((ct + 1.0) / CAST(tt + v AS DOUBLE)) /
       |      ((cr + 1.0) / CAST(tr + v AS DOUBLE))) * 1000000000.0 + 0.5)
       |    AS BIGINT) AS w
       |  FROM model CROSS JOIN ds),
       |per AS (
       |  SELECT doc_id, sum(c * w) AS lw_nano, sum(c) AS n_feat
       |  FROM pair JOIN lnr USING (f) GROUP BY doc_id)
       |SELECT d.doc_id, d.lang, d.source, CAST(p.n_feat AS BIGINT) AS n_feat,
       |       CAST(p.lw_nano AS BIGINT) AS lw_nano,
       |       round(CAST(p.lw_nano AS DOUBLE) / 1000000000.0 / p.n_feat, 6)
       |         AS lw_avg
       |FROM per p JOIN documents d USING (doc_id)
       |ORDER BY CAST(p.lw_nano AS DOUBLE) / p.n_feat DESC, d.doc_id ASC
       |LIMIT 100""".stripMargin

  /** Oracle for the COMPLETE A1.1 repetition battery — planted text,
    * split surfaces, and all thirteen integer-ratio gates mirrored in
    * DuckDB. The per-n gram fragments are GENERATED from the same n list
    * the Spark operator iterates, so engine and oracle cannot drift on a
    * hand-copied index; the duplicated-n-gram coverage mirrors the
    * no-double-count position rule (a token counts once iff any
    * duplicated n-gram covers it).
    */
  private def gopherRepetitionFullSql: String = {
    def grams(n: Int): String =
      s"""list_transform(range(1, len(w) - ${n - 2}), j ->
         |      array_to_string(list_slice(w, j, j + ${n - 1}), ' ')) AS g$n""".stripMargin
    def topN(n: Int): String =
      s"""CAST(coalesce(list_max(list_transform(list_distinct(g$n), g ->
         |      len(list_filter(g$n, x -> x = g)) * length(g))), 0) AS BIGINT)
         |      AS top${n}_chars""".stripMargin
    def dupN(n: Int): String =
      s"""CAST(coalesce(list_sum(list_transform(range(1, len(w) + 1), i ->
         |      CASE WHEN len(list_filter(
         |          range(greatest(1, i - ${n - 1}), least(i, len(w) - ${n - 1}) + 1),
         |          j -> list_contains(
         |            list_filter(list_distinct(g$n), g ->
         |              len(list_filter(g$n, x -> x = g)) >= 2),
         |            g$n[j]))) > 0
         |      THEN length(w[i]) ELSE 0 END)), 0) AS BIGINT) AS dup${n}_chars""".stripMargin
    val flagDefs = Seq(
      "CAST(CASE WHEN 10 * dup_lines <= 3 * n_lines THEN 1 ELSE 0 END AS BIGINT) AS r_dup_line",
      "CAST(CASE WHEN 10 * dup_paras <= 3 * n_paras THEN 1 ELSE 0 END AS BIGINT) AS r_dup_para",
      "CAST(CASE WHEN 5 * dup_line_chars <= line_chars THEN 1 ELSE 0 END AS BIGINT) AS r_line_chars",
      "CAST(CASE WHEN 5 * dup_para_chars <= para_chars THEN 1 ELSE 0 END AS BIGINT) AS r_para_chars",
      "CAST(CASE WHEN 5 * top2_chars <= line_chars THEN 1 ELSE 0 END AS BIGINT) AS r_top2",
      "CAST(CASE WHEN 50 * top3_chars <= 9 * line_chars THEN 1 ELSE 0 END AS BIGINT) AS r_top3",
      "CAST(CASE WHEN 25 * top4_chars <= 4 * line_chars THEN 1 ELSE 0 END AS BIGINT) AS r_top4",
      "CAST(CASE WHEN 20 * dup5_chars <= 3 * w_chars THEN 1 ELSE 0 END AS BIGINT) AS r_dup5",
      "CAST(CASE WHEN 50 * dup6_chars <= 7 * w_chars THEN 1 ELSE 0 END AS BIGINT) AS r_dup6",
      "CAST(CASE WHEN 100 * dup7_chars <= 13 * w_chars THEN 1 ELSE 0 END AS BIGINT) AS r_dup7",
      "CAST(CASE WHEN 25 * dup8_chars <= 3 * w_chars THEN 1 ELSE 0 END AS BIGINT) AS r_dup8",
      "CAST(CASE WHEN 100 * dup9_chars <= 11 * w_chars THEN 1 ELSE 0 END AS BIGINT) AS r_dup9",
      "CAST(CASE WHEN 10 * dup10_chars <= w_chars THEN 1 ELSE 0 END AS BIGINT) AS r_dup10")
    val flagNames = Seq("r_dup_line", "r_dup_para", "r_line_chars",
      "r_para_chars", "r_top2", "r_top3", "r_top4",
      "r_dup5", "r_dup6", "r_dup7", "r_dup8", "r_dup9", "r_dup10")
    s"""WITH src AS (
       |  SELECT doc_id, text,
       |    array_to_string(list_slice(string_split(text, ' '), 1, 12), ' ') AS blk12,
       |    array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ') AS blk3,
       |    substr(text, 1, CAST(length(text) // 2 AS INT)) AS half
       |  FROM documents),
       |c AS (
       |  SELECT doc_id,
       |    text ||
       |    CASE WHEN doc_id % 6 = 0
       |         THEN chr(10) || substr(text, 1, 40) || chr(10) || substr(text, 1, 40)
       |         ELSE '' END ||
       |    CASE WHEN doc_id % 8 = 0 AND doc_id % 6 <> 0
       |         THEN chr(10) || substr(text, 1, 40) ELSE '' END ||
       |    CASE WHEN doc_id % 7 = 0 THEN ' ' || blk12 || ' ' || blk12 ELSE '' END ||
       |    CASE WHEN doc_id % 11 = 0 THEN repeat(' ' || blk3, 8) ELSE '' END ||
       |    CASE WHEN doc_id % 9 = 0
       |         THEN chr(10) || chr(10) || half || chr(10) || chr(10) || half
       |         ELSE '' END AS t
       |  FROM src),
       |m AS (
       |  SELECT doc_id,
       |    string_split(t, chr(10)) AS ls,
       |    string_split(t, chr(10) || chr(10)) AS ps,
       |    list_filter(string_split_regex(t, '[ \\n]'), x -> x <> '') AS w
       |  FROM c),
       |g AS (
       |  SELECT doc_id, ls, ps, w,
       |    ${(2 to 10).map(grams).mkString(",\n    ")}
       |  FROM m),
       |b AS (
       |  SELECT doc_id,
       |    CAST(len(ls) AS BIGINT) AS n_lines,
       |    CAST(len(ls) - len(list_distinct(ls)) AS BIGINT) AS dup_lines,
       |    CAST(coalesce(list_sum(list_transform(ls, l -> length(l))), 0) AS BIGINT) AS line_chars,
       |    CAST(coalesce(list_sum(list_transform(ls, l -> length(l))), 0)
       |      - coalesce(list_sum(list_transform(list_distinct(ls), l -> length(l))), 0) AS BIGINT) AS dup_line_chars,
       |    CAST(len(ps) AS BIGINT) AS n_paras,
       |    CAST(len(ps) - len(list_distinct(ps)) AS BIGINT) AS dup_paras,
       |    CAST(coalesce(list_sum(list_transform(ps, p -> length(p))), 0) AS BIGINT) AS para_chars,
       |    CAST(coalesce(list_sum(list_transform(ps, p -> length(p))), 0)
       |      - coalesce(list_sum(list_transform(list_distinct(ps), p -> length(p))), 0) AS BIGINT) AS dup_para_chars,
       |    CAST(coalesce(list_sum(list_transform(w, x -> length(x))), 0) AS BIGINT) AS w_chars,
       |    ${Seq(2, 3, 4).map(topN).mkString(",\n    ")},
       |    ${(5 to 10).map(dupN).mkString(",\n    ")}
       |  FROM g),
       |f AS (
       |  SELECT *,
       |    ${flagDefs.mkString(",\n    ")}
       |  FROM b)
       |SELECT doc_id, n_lines, dup_lines, line_chars, dup_line_chars,
       |       n_paras, dup_paras, para_chars, dup_para_chars, w_chars,
       |       top2_chars, top3_chars, top4_chars,
       |       dup5_chars, dup6_chars, dup7_chars, dup8_chars, dup9_chars,
       |       dup10_chars,
       |       ${flagNames.mkString(", ")},
       |       ${flagNames.mkString(" * ")} AS keep
       |FROM f
       |ORDER BY doc_id ASC""".stripMargin
  }

  /** Shared C4-battery CTE fragment (q_c4_rules / q_curate_e2e_c4):
    * `c` rebuilds TextAnalysisOps.c4Planted's page corpus from the same
    * doc_id arithmetic (Spark slice(w, i, n) ↔ DuckDB w[i : i+n-1],
    * both clamping), `k` applies the line-retention predicate —
    * terminal punctuation, ≥5 words, no "javascript" — exactly as
    * c4LineKeep. The page-drop predicates stay in the consumers (the
    * metrics entry emits them as flags; the e2e filters on them).
    */
  private val c4PageDropSql: String =
    """contains(t, 'badword1') OR contains(t, 'badword2')
      |           OR contains(t, 'badword3') OR contains(t, 'lorem ipsum')
      |           OR contains(t, '{')""".stripMargin
  private val c4Ctes: String =
    """c AS (
      |  SELECT doc_id, source,
      |         array_to_string(w[1:6], ' ') || '.' ||
      |         CASE WHEN doc_id % 2 = 0 THEN chr(10) || array_to_string(w[2:7], ' ') || '!' ELSE '' END ||
      |         CASE WHEN doc_id % 3 = 0 THEN chr(10) || array_to_string(w[3:8], ' ') || '?' ELSE '' END ||
      |         CASE WHEN doc_id % 4 = 0 THEN chr(10) || array_to_string(w[2:9], ' ') || '?' ELSE '' END ||
      |         chr(10) || array_to_string(w[1:4], ' ') || '.' ||
      |         chr(10) || array_to_string(w[1:7], ' ') ||
      |         CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'enable javascript to view the ' || array_to_string(w[1:3], ' ') || '.' ELSE '' END ||
      |         CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'the classic lorem ipsum filler marks this page as boilerplate.' ELSE '' END ||
      |         CASE WHEN doc_id % 19 = 0 THEN chr(10) || 'function render() { return ' || array_to_string(w[1:2], ' ') || ' }' ELSE '' END ||
      |         CASE WHEN doc_id % 23 = 0 THEN chr(10) || 'this page cites badword2 alongside ' || array_to_string(w[1:3], ' ') || '.' ELSE '' END
      |           AS t
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents)),
      |k AS (
      |  SELECT doc_id, source, t,
      |         CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
      |         list_filter(string_split(t, chr(10)), l ->
      |           substr(l, length(l), 1) IN ('.', '!', '?', '"')
      |           AND len(string_split(l, ' ')) >= 5
      |           AND NOT contains(l, 'javascript')) AS kept
      |  FROM c)""".stripMargin

  /** The CCNet two-gate chain (Gopher battery + LM head/middle buckets,
    * thresholds 20/100000/1) over the relation `rel` — CTE list plus the
    * final SELECT, to be prefixed with `WITH ` (and any upstream CTEs,
    * e.g. q_curate_e2e_lang's derived-language gate). Parameterizing the
    * source relation keeps the per-language composition and the
    * whole-corpus entry on ONE SQL body.
    */
  private def curateCcnetSql(rel: String): String =
    "WITH " + curateCcnetCtes(rel, "") + "\n" + curateCcnetSelect("") +
      "\nORDER BY doc_id ASC"

  /** The CCNet chain's CTE list with every CTE name suffixed by `x`, so
    * several languages' chains (q_curate_multilang) can coexist in one
    * WITH; [[curateCcnetSelect]] is the matching final projection.
    */
  private def curateCcnetCtes(rel: String, x: String): String =
    s"""base$x AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS t,
       |         string_split(text, chr(10)) AS ls
       |  FROM $rel),
       |c$x AS (
       |  SELECT doc_id,
       |    CAST(len(t) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(t, w -> length(w))) AS BIGINT) AS n_chars,
       |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) +
       |      CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT)
       |      AS n_symbols,
       |    CAST(len(ls) AS BIGINT) AS n_lines,
       |    CAST(len(list_filter(ls, l -> starts_with(trim(l), '-')
       |      OR starts_with(trim(l), '*'))) AS BIGINT) AS n_bullet,
       |    CAST(len(list_filter(ls, l -> ends_with(trim(l), '...'))) AS BIGINT)
       |      AS n_ell_end,
       |    CAST(len(list_filter(t, w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT)
       |      AS n_alpha_words,
       |    CAST(len(list_filter(['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'],
       |      s -> list_contains(list_transform(t, w -> lower(w)), s))) AS BIGINT)
       |      AS n_stopwords
       |  FROM base$x),
       |kept$x AS (
       |  SELECT doc_id, n_words FROM c$x
       |  WHERE n_words >= 20 AND n_words <= 100000
       |    AND n_chars >= 3 * n_words AND n_chars <= 10 * n_words
       |    AND 10 * n_symbols <= n_words
       |    AND 10 * n_bullet <= 9 * n_lines
       |    AND 10 * n_ell_end <= 3 * n_lines
       |    AND 5 * n_alpha_words >= 4 * n_words
       |    AND n_stopwords >= 1),
       |big$x AS (
       |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
       |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
       |        FROM base$x WHERE len(t) >= 2)),
       |lc$x AS (SELECT w1, count(*) AS c1 FROM big$x GROUP BY w1),
       |bc$x AS (SELECT w1, w2, count(*) AS c2 FROM big$x GROUP BY w1, w2),
       |per$x AS (
       |  SELECT b.doc_id, CAST(bc$x.c2 AS DOUBLE) / lc$x.c1 AS p
       |  FROM big$x b JOIN bc$x USING (w1, w2) JOIN lc$x USING (w1)),
       |agg$x AS (
       |  SELECT doc_id,
       |         floor(CAST(sum(CAST(floor(p * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |               / count(*) + 0.5) / 1000000.0 AS avg_cond_p
       |  FROM per$x GROUP BY doc_id),
       |scored$x AS (
       |  SELECT d.doc_id, CAST(coalesce(a.avg_cond_p, 0.0) AS DOUBLE) AS avg_cond_p
       |  FROM $rel d LEFT JOIN agg$x a USING (doc_id)),
       |stats$x AS (SELECT CAST(count(*) AS BIGINT) AS n FROM scored$x),
       |ranked$x AS (
       |  SELECT avg_cond_p,
       |         row_number() OVER (ORDER BY avg_cond_p) - 1 AS r FROM scored$x),
       |f$x AS (
       |  SELECT max(CASE WHEN r = CAST(floor((1.0 / 3.0) * (n - 1)) AS BIGINT)
       |               THEN avg_cond_p END) AS f1,
       |         max(CASE WHEN r = CAST(floor((2.0 / 3.0) * (n - 1)) AS BIGINT)
       |               THEN avg_cond_p END) AS f2
       |  FROM ranked$x CROSS JOIN stats$x),
       |bucketed$x AS (
       |  SELECT s.doc_id, s.avg_cond_p,
       |         CASE WHEN s.avg_cond_p <= f.f1 THEN 'tail'
       |              WHEN s.avg_cond_p <= f.f2 THEN 'middle'
       |              ELSE 'head' END AS bucket
       |  FROM scored$x s CROSS JOIN f$x f)""".stripMargin

  private def curateCcnetSelect(x: String): String =
    s"""SELECT k.doc_id, k.n_words, b.avg_cond_p, b.bucket
       |FROM kept$x k JOIN bucketed$x b USING (doc_id)
       |WHERE b.bucket <> 'tail'""".stripMargin

  /** The STORED-LM CCNet chain's CTE list (r17): identical to
    * [[curateCcnetCtes]] except the in-query LM count tables are
    * replaced by the maintained-model chain — counts from the
    * `doc_id % 2 = 0` training sample only, top-512 prune with the
    * (c2 desc, w1, w2) total-order tie-break, OOV transitions floored
    * to p = 0 (the q_lm_bigram_stored oracle's exact stages, scoped to
    * `rel` so the per-language branches train per shard exactly like
    * the engine's per-language store).
    */
  private def curateCcnetStoredCtes(rel: String, x: String): String =
    curateCcnetStoredCtes(rel, x, rel)

  /** `trainRel` scopes the LM training sample separately from the
    * scored corpus (r17: the verdict-banded stored serve scores the
    * VERDICT subset against the model trained on the PREDICTED-en
    * sample — the store routes by prediction, not confidence).
    */
  private def curateCcnetStoredCtes(rel: String, x: String,
      trainRel: String): String =
    s"""base$x AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS t,
       |         string_split(text, chr(10)) AS ls
       |  FROM $rel),
       |c$x AS (
       |  SELECT doc_id,
       |    CAST(len(t) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(t, w -> length(w))) AS BIGINT) AS n_chars,
       |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) +
       |      CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT)
       |      AS n_symbols,
       |    CAST(len(ls) AS BIGINT) AS n_lines,
       |    CAST(len(list_filter(ls, l -> starts_with(trim(l), '-')
       |      OR starts_with(trim(l), '*'))) AS BIGINT) AS n_bullet,
       |    CAST(len(list_filter(ls, l -> ends_with(trim(l), '...'))) AS BIGINT)
       |      AS n_ell_end,
       |    CAST(len(list_filter(t, w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT)
       |      AS n_alpha_words,
       |    CAST(len(list_filter(['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'],
       |      s -> list_contains(list_transform(t, w -> lower(w)), s))) AS BIGINT)
       |      AS n_stopwords
       |  FROM base$x),
       |kept$x AS (
       |  SELECT doc_id, n_words FROM c$x
       |  WHERE n_words >= 20 AND n_words <= 100000
       |    AND n_chars >= 3 * n_words AND n_chars <= 10 * n_words
       |    AND 10 * n_symbols <= n_words
       |    AND 10 * n_bullet <= 9 * n_lines
       |    AND 10 * n_ell_end <= 3 * n_lines
       |    AND 5 * n_alpha_words >= 4 * n_words
       |    AND n_stopwords >= 1),
       |big$x AS (
       |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
       |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
       |        FROM base$x WHERE len(t) >= 2)),
       |strain$x AS (
       |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
       |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
       |        FROM (SELECT doc_id, string_split(text, ' ') AS t
       |              FROM $trainRel WHERE doc_id % 2 = 0)
       |        WHERE len(t) >= 2)),
       |slc$x AS (SELECT w1, count(*) AS c1 FROM strain$x GROUP BY w1),
       |sbc$x AS (SELECT w1, w2, count(*) AS c2 FROM strain$x GROUP BY w1, w2),
       |pruned$x AS (
       |  SELECT w1, w2, c2 FROM (
       |    SELECT *, row_number() OVER (ORDER BY c2 DESC, w1 ASC, w2 ASC) AS rn
       |    FROM sbc$x)
       |  WHERE rn <= 512),
       |model$x AS (
       |  SELECT p.w1, p.w2, CAST(p.c2 AS DOUBLE) / lc.c1 AS p
       |  FROM pruned$x p JOIN slc$x lc USING (w1)),
       |per$x AS (
       |  SELECT b.doc_id, coalesce(m.p, 0.0) AS p
       |  FROM big$x b LEFT JOIN model$x m USING (w1, w2)),
       |agg$x AS (
       |  SELECT doc_id,
       |         floor(CAST(sum(CAST(floor(p * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |               / count(*) + 0.5) / 1000000.0 AS avg_cond_p
       |  FROM per$x GROUP BY doc_id),
       |scored$x AS (
       |  SELECT d.doc_id, CAST(coalesce(a.avg_cond_p, 0.0) AS DOUBLE) AS avg_cond_p
       |  FROM $rel d LEFT JOIN agg$x a USING (doc_id)),
       |stats$x AS (SELECT CAST(count(*) AS BIGINT) AS n FROM scored$x),
       |ranked$x AS (
       |  SELECT avg_cond_p,
       |         row_number() OVER (ORDER BY avg_cond_p) - 1 AS r FROM scored$x),
       |f$x AS (
       |  SELECT max(CASE WHEN r = CAST(floor((1.0 / 3.0) * (n - 1)) AS BIGINT)
       |               THEN avg_cond_p END) AS f1,
       |         max(CASE WHEN r = CAST(floor((2.0 / 3.0) * (n - 1)) AS BIGINT)
       |               THEN avg_cond_p END) AS f2
       |  FROM ranked$x CROSS JOIN stats$x),
       |bucketed$x AS (
       |  SELECT s.doc_id, s.avg_cond_p,
       |         CASE WHEN s.avg_cond_p <= f.f1 THEN 'tail'
       |              WHEN s.avg_cond_p <= f.f2 THEN 'middle'
       |              ELSE 'head' END AS bucket
       |  FROM scored$x s CROSS JOIN f$x f)""".stripMargin

  /** DuckDB twin of [[graft.operators.LinkOps.labelPropagation]] (r15 —
    * flips q_link_communities from rows-only to fully oracled): the same
    * synthetic undirected edge set, the synchronous vote-argmax round
    * unrolled 5× as chained CTEs. EVERY quantity is an integer (labels
    * are node ids, votes are counts) and the argmax tie-break is (count
    * DESC, label ASC) on both sides, so the trajectories are exact.
    * The engine's zero-change early stop is bit-identical to running
    * the full budget (synchronous LPA is idempotent at a fixed point —
    * the property LpaProperties pins), so the oracle always runs all 5
    * rounds.
    */
  private def lpaOracleSql(iters: Int = 5): String = {
    val rounds = (1 to iters).map { i =>
      val prev = s"l${i - 1}"
      s"""v$i AS (
         |  SELECT adj.v, l.label AS nl, count(*) AS c
         |  FROM adj JOIN $prev l ON adj.nb = l.v GROUP BY adj.v, l.label),
         |l$i AS (
         |  SELECT v, nl AS label FROM (
         |    SELECT v, nl, row_number() OVER (
         |      PARTITION BY v ORDER BY c DESC, nl ASC) AS rn FROM v$i)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |ks AS (SELECT unnest([1, 2, 3, 4]) AS k),
       |e AS (
       |  SELECT d.doc_id AS src,
       |         (d.doc_id * ${graft.operators.LinkOps.EdgeMult} + ks.k * ${graft.operators.LinkOps.EdgeStride}) % n.n AS dst
       |  FROM documents d CROSS JOIN n CROSS JOIN ks
       |  WHERE (d.doc_id * ${graft.operators.LinkOps.EdgeMult} + ks.k * ${graft.operators.LinkOps.EdgeStride}) % n.n <> d.doc_id),
       |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e),
       |adj AS (SELECT a AS v, b AS nb FROM und UNION ALL SELECT b, a FROM und),
       |l0 AS (SELECT DISTINCT v, v AS label FROM adj),
       |$rounds
       |SELECT v AS doc_id, label AS community
       |FROM l$iters ORDER BY doc_id ASC""".stripMargin
  }

  private def rankEvalOracleSql: String = {
      // ONE weight definition for both engines: the integer micro-unit DCG
      // discounts come from EvalOps and are injected as list literals, so
      // no log2 evaluation can diverge between Spark and DuckDB
      val w = graft.operators.EvalOps.dcgWeightsMicro(10).mkString("[", ", ", "]")
      val idcg = graft.operators.EvalOps.idcgPrefixMicro(10).mkString("[", ", ", "]")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
         |           FROM embeddings WHERE vec_id < 8),
         |c AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 8),
         |scored AS (
         |  SELECT q.query_id, q.q_label, c.vec_id, c.label,
         |         round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.q_emb AS DOUBLE[])), 6) AS score
         |  FROM c CROSS JOIN q
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
         |  FROM scored
         |), topk AS (SELECT * FROM ranked WHERE rank <= 10),
         |rc AS (SELECT label, count(*) AS n_rel FROM c GROUP BY label),
         |per AS (
         |  SELECT query_id,
         |         CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS hits,
         |         CAST(sum(CASE WHEN label = q_label THEN list_extract($w, CAST(rank AS INT)) ELSE 0 END) AS BIGINT) AS dcg_micro,
         |         min(CASE WHEN label = q_label THEN rank END) AS first_rel
         |  FROM topk GROUP BY query_id)
         |SELECT q.query_id,
         |       CAST(coalesce(rc.n_rel, 0) AS BIGINT) AS n_rel,
         |       CAST(coalesce(per.hits, 0) AS BIGINT) AS hits,
         |       round(CASE WHEN coalesce(rc.n_rel, 0) > 0
         |             THEN CAST(coalesce(per.hits, 0) AS DOUBLE) / rc.n_rel ELSE 0.0 END, 6) AS recall_at_k,
         |       round(CASE WHEN per.first_rel IS NOT NULL
         |             THEN 1.0 / per.first_rel ELSE 0.0 END, 6) AS mrr,
         |       round(CASE WHEN coalesce(rc.n_rel, 0) > 0 AND per.dcg_micro IS NOT NULL
         |             THEN CAST(per.dcg_micro AS DOUBLE) / list_extract($idcg, CAST(least(rc.n_rel, 10) AS INT))
         |             ELSE 0.0 END, 6) AS ndcg
         |FROM q
         |LEFT JOIN rc ON q.q_label = rc.label
         |LEFT JOIN per ON q.query_id = per.query_id
         |ORDER BY q.query_id ASC""".stripMargin
    }

  /** Unrolled Jacobi rounds, arithmetic mirrored expression-for-
    * expression against LinkOps.pageRank (integer nano-unit ranks,
    * per-edge contributions rounded BEFORE the order-independent sum).
    * Shared by the cold 3-round entry and the stored warm-start entry —
    * exact trajectory continuation means one oracle serves both.
    */
  private def pageRankOracleSql: String = {
      val iterCtes = (1 to 3).map { i =>
        val prev = if (i == 1) "r0" else s"r${i - 1}"
        s"""c$i AS (
           |  SELECT ed.dst AS doc_id,
           |         sum(CAST(floor(CAST(r.rank_nano AS DOUBLE) / ed.deg + 0.5) AS BIGINT)) AS s
           |  FROM ed JOIN $prev r ON ed.src = r.doc_id GROUP BY ed.dst),
           |r$i AS (
           |  SELECT d.doc_id,
           |         CAST(floor(floor((1.0 - 0.85) * 1000000000.0 / n.n + 0.5)
           |              + 0.85 * CAST(coalesce(c$i.s, 0) AS DOUBLE) + 0.5) AS BIGINT) AS rank_nano
           |  FROM documents d CROSS JOIN n LEFT JOIN c$i ON d.doc_id = c$i.doc_id)""".stripMargin
      }.mkString(",\n")
      s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |ks AS (SELECT unnest([1, 2, 3, 4]) AS k),
         |e AS (
         |  SELECT d.doc_id AS src,
         |         (d.doc_id * ${graft.operators.LinkOps.EdgeMult} + ks.k * ${graft.operators.LinkOps.EdgeStride}) % n.n AS dst
         |  FROM documents d CROSS JOIN n CROSS JOIN ks
         |  WHERE (d.doc_id * ${graft.operators.LinkOps.EdgeMult} + ks.k * ${graft.operators.LinkOps.EdgeStride}) % n.n <> d.doc_id),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |ed AS (SELECT e.src, e.dst, deg.deg FROM e JOIN deg USING (src)),
         |r0 AS (
         |  SELECT d.doc_id, CAST(floor(1000000000.0 / n.n + 0.5) AS BIGINT) AS rank_nano
         |  FROM documents d CROSS JOIN n),
         |$iterCtes
         |SELECT doc_id, round(CAST(rank_nano AS DOUBLE) / 1000000000.0, 6) AS rank
         |FROM r3 ORDER BY doc_id ASC""".stripMargin
    }

  /** DuckDB twin of [[graft.operators.LinkOps.hits]]: the same synthetic
    * edge set, the same two L1-normalized integer-nano half-steps per
    * round, unrolled as chained CTEs — `floor(raw·1e9/total + 0.5)` on
    * exactly-representable integer inputs is bit-identical in both
    * engines.
    */
  private def hitsOracleSql: String = {
    def half(i: Int, prevVec: String, prevCol: String, joinOn: String,
        groupAs: String, vec: String, outCol: String): String =
      s"""${vec}raw AS (
         |  SELECT e.$groupAs AS doc_id, sum(v.$prevCol) AS raw
         |  FROM e JOIN $prevVec v ON e.$joinOn = v.doc_id GROUP BY e.$groupAs),
         |${vec}tot AS (SELECT sum(raw) AS tot FROM ${vec}raw),
         |$vec AS (
         |  SELECT d.doc_id,
         |         CAST(floor(CAST(coalesce(r.raw, 0) AS DOUBLE) * 1000000000.0
         |              / CAST(t.tot AS DOUBLE) + 0.5) AS BIGINT) AS $outCol
         |  FROM documents d CROSS JOIN ${vec}tot t
         |  LEFT JOIN ${vec}raw r ON d.doc_id = r.doc_id)""".stripMargin
    val rounds = (1 to 3).map { i =>
      val prevHub = if (i == 1) "h0" else s"h${i - 1}"
      half(i, prevHub, "hub_nano", "src", "dst", s"a$i", "auth_nano") + ",\n" +
        half(i, s"a$i", "auth_nano", "dst", "src", s"h$i", "hub_nano")
    }.mkString(",\n")
    s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |ks AS (SELECT unnest([1, 2, 3, 4]) AS k),
       |e AS (
       |  SELECT d.doc_id AS src,
       |         (d.doc_id * ${graft.operators.LinkOps.EdgeMult} + ks.k * ${graft.operators.LinkOps.EdgeStride}) % n.n AS dst
       |  FROM documents d CROSS JOIN n CROSS JOIN ks
       |  WHERE ks.k <= 1 + d.doc_id % 4
       |    AND (d.doc_id * ${graft.operators.LinkOps.EdgeMult} + ks.k * ${graft.operators.LinkOps.EdgeStride}) % n.n <> d.doc_id),
       |h0 AS (SELECT doc_id, CAST(1000000000 AS BIGINT) AS hub_nano FROM documents),
       |$rounds
       |SELECT h3.doc_id,
       |       round(CAST(h3.hub_nano AS DOUBLE) / 1000000000.0, 6) AS hub,
       |       round(CAST(a3.auth_nano AS DOUBLE) / 1000000000.0, 6) AS auth
       |FROM h3 JOIN a3 ON h3.doc_id = a3.doc_id
       |ORDER BY h3.doc_id ASC""".stripMargin
  }

  /** DuckDB twin of [[graft.operators.TextOps.fixtureUrls]] — the same
    * five deterministic noise variants per 5-doc group, built from plain
    * string SQL so both engines face identical inputs.
    */
  private def urlFixtureCte: String =
    """urls AS (
      |  SELECT doc_id,
      |    CASE CAST(doc_id % 5 AS INT)
      |      WHEN 0 THEN 'http://www.example.com/d/' || CAST(doc_id // 5 AS VARCHAR) || '?a=1&b=2'
      |      WHEN 1 THEN 'HTTP://WWW.EXAMPLE.COM/d/' || CAST(doc_id // 5 AS VARCHAR) || '?a=1&b=2'
      |      WHEN 2 THEN 'http://www.example.com:80/d/' || CAST(doc_id // 5 AS VARCHAR) || '?a=1&b=2'
      |      WHEN 3 THEN 'http://www.example.com/d/' || CAST(doc_id // 5 AS VARCHAR) || '?b=2&utm_source=news&a=1'
      |      ELSE 'http://www.example.com/d/' || CAST(doc_id // 5 AS VARCHAR) || '?a=1&b=2#section-3'
      |    END AS url
      |  FROM documents)""".stripMargin

  /** DuckDB twin of [[graft.operators.TextOps.canonicalizeUrl]], rule by
    * rule: fragment, lowercase authority, default ports, tracking-param
    * drop + sort. Ends in a `canon(doc_id, url, canonical_url)` CTE.
    */
  private def urlCanonCte: String =
    """u1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS s1 FROM urls),
      |u2 AS (SELECT doc_id, url,
      |  lower(regexp_extract(s1, '^[^/?#]*//[^/?#]*')) ||
      |    substr(s1, length(regexp_extract(s1, '^[^/?#]*//[^/?#]*')) + 1) AS s2 FROM u1),
      |u3 AS (SELECT doc_id, url,
      |  regexp_replace(regexp_replace(s2,
      |    '^(http://[^/:?#]*):80([/?#]|$)', '\1\2'),
      |    '^(https://[^/:?#]*):443([/?#]|$)', '\1\2') AS s3 FROM u2),
      |u4 AS (SELECT doc_id, url,
      |  regexp_extract(s3, '^[^?]*') AS base,
      |  CASE WHEN strpos(s3, '?') > 0 THEN substr(s3, strpos(s3, '?') + 1) ELSE '' END AS q FROM u3),
      |u5 AS (SELECT doc_id, url, base,
      |  list_sort(list_filter(string_split(q, '&'),
      |    p -> p <> '' AND NOT regexp_matches(p, '^(utm_[a-zA-Z0-9_]*|gclid|fbclid|ref)($|=)'))) AS ps FROM u4),
      |canon AS (SELECT doc_id, url,
      |  base || CASE WHEN len(ps) > 0 THEN '?' || array_to_string(ps, '&') ELSE '' END AS canonical_url FROM u5)""".stripMargin

  private def heavyHittersOracleSql: String =
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      |SELECT term, CAST(count(*) AS BIGINT) AS n, CAST(0 AS BIGINT) AS err
      |FROM tok GROUP BY term
      |ORDER BY n DESC, term ASC
      |LIMIT 15""".stripMargin

  private def phrasePosCtes: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |p AS (SELECT doc_id, i - 1 AS pos, t[i] AS term
      |      FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks))""".stripMargin

  private def phraseJoinsAndPreds(terms: Seq[String]): (String, String) = (
    terms.indices.tail.map(i =>
      s"  JOIN p p$i ON p$i.doc_id = p0.doc_id AND p$i.pos = p0.pos + $i").mkString("\n"),
    terms.zipWithIndex.map { case (t, i) => s"p$i.term = '$t'" }.mkString(" AND "))

  /** Phrase oracle with the candidate-restricting id predicate — the
    * statistics-free FILTER composition (no stats exist to keep
    * corpus-wide here; the predicate just gates candidates).
    */
  private def phraseFilteredOracleSql: String = {
    val terms = RetrievalOps.PhraseQuery.split(" ").filter(_.nonEmpty).toSeq
    val (joins, preds) = phraseJoinsAndPreds(terms)
    s"""WITH $phrasePosCtes,
       |m AS (
       |  SELECT p0.doc_id, p0.pos
       |  FROM p p0
       |$joins
       |  WHERE $preds AND p0.doc_id % 2 = 0)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
       |       CAST(min(pos) AS BIGINT) AS first_pos
       |FROM m GROUP BY doc_id ORDER BY doc_id ASC""".stripMargin
  }

  /** Ordered-proximity oracle: each successive term joins on the
    * PREVIOUS term's position with a 1 + slop gap window — the same
    * chain combinatorics the engine's fold computes.
    */
  private def proximityOracleSql(slop: Int): String = {
    val terms = RetrievalOps.PhraseQuery.split(" ").filter(_.nonEmpty).toSeq
    val joins = terms.indices.tail.map { i =>
      val prev = if (i == 1) "p0" else s"p${i - 1}"
      s"  JOIN p p$i ON p$i.doc_id = p0.doc_id AND p$i.pos > $prev.pos AND p$i.pos <= $prev.pos + ${1 + slop}"
    }.mkString("\n")
    val preds = terms.zipWithIndex
      .map { case (t, i) => s"p$i.term = '$t'" }.mkString(" AND ")
    s"""WITH $phrasePosCtes,
       |m AS (
       |  SELECT p0.doc_id, p0.pos
       |  FROM p p0
       |$joins
       |  WHERE $preds)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
       |       CAST(min(pos) AS BIGINT) AS first_pos
       |FROM m GROUP BY doc_id ORDER BY doc_id ASC""".stripMargin
  }

  private def phraseOracleSql: String = {
    val terms = RetrievalOps.PhraseQuery.split(" ").filter(_.nonEmpty).toSeq
    val (joins, preds) = phraseJoinsAndPreds(terms)
    s"""WITH $phrasePosCtes,
       |m AS (
       |  SELECT p0.doc_id, p0.pos
       |  FROM p p0
       |$joins
       |  WHERE $preds)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
       |       CAST(min(pos) AS BIGINT) AS first_pos
       |FROM m GROUP BY doc_id ORDER BY doc_id ASC""".stripMargin
  }

  /** Batched phrase oracle: one per-phrase match CTE, UNION ALL, grouped
    * per (query_id, doc_id) — generated from the SAME
    * [[RetrievalOps.PhraseBatch]] the engine answers.
    */
  private def phraseBatchOracleSql: String = {
    val mCtes = RetrievalOps.PhraseBatch.zipWithIndex.map { case (phrase, qi) =>
      val terms = phrase.split(" ").filter(_.nonEmpty).toSeq
      val (joins, preds) = phraseJoinsAndPreds(terms)
      s"""m$qi AS (
         |  SELECT $qi AS query_id, p0.doc_id, p0.pos
         |  FROM p p0
         |$joins
         |  WHERE $preds)""".stripMargin
    }.mkString(",\n")
    val union = RetrievalOps.PhraseBatch.indices
      .map(qi => s"SELECT * FROM m$qi").mkString(" UNION ALL ")
    s"""WITH $phrasePosCtes,
       |$mCtes,
       |allm AS ($union)
       |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       |       CAST(count(*) AS BIGINT) AS n_hits,
       |       CAST(min(pos) AS BIGINT) AS first_pos
       |FROM allm GROUP BY query_id, doc_id
       |ORDER BY query_id ASC, doc_id ASC""".stripMargin
  }

  private def bm25Terms: Seq[String] = RetrievalOps.queryTerms(KnnTextQuery)

  /** Per-document tf columns + corpus stats CTEs for ONE query's term
    * set, CTE names suffixed so several queries' chains can coexist in
    * one WITH (the batched oracle is a UNION ALL of these).
    */
  private def bm25BaseCtesFor(ts: Seq[String], sfx: String): String = {
    val tfCols = ts.indices.map(i =>
      s"CAST(len(list_filter(string_split(text, ' '), x -> x = '${ts(i)}')) AS DOUBLE) AS tf$i")
      .mkString(",\n       ")
    val dfAggs = ts.indices.map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
      .mkString(",\n       ")
    s"""f$sfx AS (
       |  SELECT doc_id,
       |       CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
       |       $tfCols
       |  FROM documents),
       |s$sfx AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
       |       $dfAggs
       |  FROM f$sfx)""".stripMargin
  }

  private def bm25BaseCtes: String = bm25BaseCtesFor(bm25Terms, "")

  /** Okapi sum in TERM-INDEX order — the same left-to-right addition
    * order as the engine's tidx-sorted fold, and a tf=0 term adds an
    * exact +0.0, so per-query sums are bit-identical across the live,
    * stored, and batched chains.
    */
  private def bm25ScoreExprFor(ts: Seq[String]): String =
    ts.indices.map(i =>
      s"ln((n - df$i + 0.5) / (df$i + 0.5) + 1.0) * (tf$i * 2.2) / (tf$i + 1.2 * (0.25 + 0.75 * dl / avgdl))")
      .mkString("\n     + ")

  private def bm25ScoreExpr: String = bm25ScoreExprFor(bm25Terms)

  private def bm25AnyHitFor(ts: Seq[String]): String =
    ts.indices.map(i => s"tf$i").mkString(" + ")

  private def bm25AnyHit: String = bm25AnyHitFor(bm25Terms)

  /** The queries of the batched BM25 contract entries — shared with the
    * oracle builder so the literal batch and its SQL mirror cannot drift.
    */
  private[graft] val Bm25Batch: Seq[(Long, String)] = Seq(
    0L -> KnnTextQuery, 1L -> "hash join merge", 2L -> "stream window agg")

  /** The batched-BM25 oracle (VERDICT r14 §5): each batch query is 3
    * LITERAL queries, so the batch is a UNION ALL of three single-query
    * chains — each branch the already-proven q_text_bm25 oracle with its
    * own terms — which preserves every per-query fp chain exactly. One
    * SQL body faces both q_text_bm25_batch and q_text_bm25_batch_indexed
    * (the engine pins them bit-identical to the stored single-query
    * path, so they share the oracle).
    */
  private def bm25BatchOracleSql(k: Int = 10): String = {
    val branches = Bm25Batch.map { case (qid, q) =>
      val ts = RetrievalOps.queryTerms(q)
      s"""SELECT query_id, rank, doc_id, bm25 FROM (
         |  SELECT CAST($qid AS BIGINT) AS query_id,
         |         CAST(row_number() OVER (
         |           ORDER BY round(${bm25ScoreExprFor(ts)}, 6) DESC, doc_id ASC)
         |           AS BIGINT) AS rank,
         |         doc_id,
         |         round(${bm25ScoreExprFor(ts)}, 6) AS bm25
         |  FROM f$qid CROSS JOIN s$qid
         |  WHERE ${bm25AnyHitFor(ts)} > 0) WHERE rank <= $k""".stripMargin
    }
    val ctes = Bm25Batch.map { case (qid, q) =>
      bm25BaseCtesFor(RetrievalOps.queryTerms(q), qid.toString)
    }.mkString(",\n")
    s"""WITH $ctes
       |${branches.mkString("\nUNION ALL\n")}
       |ORDER BY query_id ASC, rank ASC""".stripMargin
  }

  /** DuckDB twin of [[graft.operators.RetrievalOps.prfTopK]]: the static
    * pass-1 CTEs seed the pool, expansion terms mine dynamically, and the
    * dynamic-term pass-2 score sums per-term INTEGER-MICRO partials — the
    * order-independent form both engines reproduce exactly.
    */
  private def prfOracleSql: String = {
    val qList = bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH $bm25BaseCtes,
       |seed AS (
       |  SELECT doc_id FROM f CROSS JOIN s
       |  WHERE $bm25AnyHit > 0
       |  ORDER BY round($bm25ScoreExpr, 6) DESC, doc_id ASC
       |  LIMIT 5),
       |toksd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |exp AS (
       |  SELECT term FROM toksd JOIN seed USING (doc_id)
       |  WHERE term NOT IN ($qList) AND length(term) > 0
       |  GROUP BY term ORDER BY count(*) DESC, term ASC LIMIT 3),
       |allt AS (SELECT term FROM exp UNION SELECT unnest([$qList]) AS term),
       |tfr AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
       |        FROM toksd WHERE term IN (SELECT term FROM allt)
       |        GROUP BY doc_id, term),
       |dfr AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tfr GROUP BY term),
       |sc AS (
       |  SELECT t.doc_id,
       |         sum(CAST(round(ln((s.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1.0)
       |             * (t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * f.dl / s.avgdl))
       |             * 1000000.0) AS BIGINT)) AS micros
       |  FROM tfr t JOIN dfr USING (term) JOIN f ON t.doc_id = f.doc_id CROSS JOIN s
       |  GROUP BY t.doc_id)
       |SELECT doc_id, CAST(micros AS DOUBLE) / 1000000.0 AS prf_score
       |FROM sc ORDER BY prf_score DESC, doc_id ASC
       |LIMIT 20""".stripMargin
  }

  private def bm25AllHit: String =
    bm25Terms.indices.map(i => s"tf$i > 0").mkString(" AND ")

  /** Shared by `q_events_transitions` and its maintained-store twin —
    * the boundary-bridged fold is pinned exactly equal to the one-shot
    * matrix, so both face the same SQL.
    */
  private val TransitionsSql: String =
    """SELECT from_type, to_type, n_trans FROM (
      |  SELECT from_type, event_type AS to_type, count(*) AS n_trans FROM (
      |    SELECT event_type,
      |           lag(event_type) OVER (
      |             PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS from_type
      |    FROM events)
      |  WHERE from_type IS NOT NULL
      |  GROUP BY 1, 2)
      |ORDER BY n_trans DESC, from_type ASC, to_type ASC""".stripMargin

  /** The registry. Benched entries run in this order in [[graft.Bench]];
    * each unbenched one sits next to its family. Names are distinct
    * (checked on first access).
    */
  lazy val entries: Seq[Entry] = distinctNames(Seq(
    Entry("q_knn_topk", (s, d) => KnnOps.topK(s, d), Oracle(
      """SELECT e.vec_id,
        |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) AS score
        |FROM embeddings e
        |CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY score DESC, e.vec_id ASC
        |LIMIT 3""".stripMargin)),
    Entry("q_knn_text", (s, d) => KnnOps.topKByText(s, d, KnnTextQuery), Oracle(
      s"""SELECT e.vec_id, e.label,
         |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |             CAST([${knnTextQueryVec().mkString(", ")}] AS DOUBLE[])), 6) AS score
         |FROM embeddings e
         |ORDER BY score DESC, e.vec_id ASC
         |LIMIT 3""".stripMargin)),
    Entry("q_knn_batch", (s, d) => KnnOps.topKBatchAgg(s, d), Oracle(
      """WITH cand AS (
        |  SELECT q.vec_id AS query_id, e.vec_id,
        |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) AS score
        |  FROM embeddings e
        |  CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
        |  WHERE e.vec_id >= 5
        |), ranked AS (
        |  SELECT query_id, vec_id, score,
        |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
        |  FROM cand
        |)
        |SELECT query_id, vec_id, score, rank FROM ranked
        |WHERE rank <= 3
        |ORDER BY query_id ASC, rank ASC""".stripMargin)),
    Entry("q_knn_filtered", (s, d) => KnnOps.topKFiltered(s, d), Oracle(
      """SELECT e.vec_id, e.label,
        |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) AS score
        |FROM embeddings e
        |CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0 AND e.label = 3
        |ORDER BY score DESC, e.vec_id ASC
        |LIMIT 5""".stripMargin)),
    // q_knn_ivf (label-cell IVF) retired from the contract: superseded by
    // the trained-cell kmeans variant (3/3 vs 1/3 fixture recall); the
    // method and its recall test remain (KnnOps.topKIvf).
    Entry("q_knn_ivf_kmeans", (s, d) => KnnOps.topKIvfKmeans(s, d),
      RowsOnly("approximate: IVF cells from engine-trained k-means")),
    // ingest-cost entries: build the index per call, by design
    Entry("q_knn_ivf_part", (s, d) => KnnOps.topKIvfPartitionedE2E(s, d),
      RowsOnly("approximate: IVF cells from engine-trained k-means")),
    Entry("q_knn_hnsw", (s, d) => GraphAnnOps.topKNsw(s, d),
      RowsOnly("approximate: beam search over an engine-built NSW graph")),
    // probe-only twins: index built once per session (warmup), calls pay
    // only the query path — the 100×-relevant number
    Entry("q_knn_ivf_probe", (s, d) => KnnOps.topKIvfProbe(s, d),
      RowsOnly("approximate: nprobe-pruned IVF cells")),
    Entry("q_knn_hnsw_probe", (s, d) => GraphAnnOps.topKNswProbe(s, d),
      RowsOnly("approximate: beam search over an engine-built NSW graph")),
    // routed graph probe: coarse quantizer picks nprobe cell graphs, the
    // beam search never touches the rest (partition-pruned, plan-pinned)
    Entry("q_knn_hnsw_routed", (s, d) => GraphAnnOps.topKNswRouted(s, d),
      RowsOnly("approximate: beam search over routed NSW cell graphs")),
    Entry("q_knn_quantized", (s, d) => KnnOps.topKQuantizedProbe(s, d),
      RowsOnly("approximate: int8-quantized candidate scan")),
    Entry("q_knn_pq", (s, d) => KnnOps.topKPqProbe(s, d),
      RowsOnly("approximate: answers from product-quantized codes")),
    Entry("q_knn_ivfpq", (s, d) => KnnOps.topKIvfPqProbe(s, d),
      RowsOnly("approximate: IVF cells plus product-quantized codes")),
    // filtered ANN on the INDEX path (predicate composed with the probe,
    // not with an exact scan — the FILTER-index production shape)
    Entry("q_knn_ivf_filtered", (s, d) => KnnOps.topKIvfFiltered(s, d),
      RowsOnly("approximate: filtered probe of nprobe-pruned IVF cells")),
    Entry("q_knn_hnsw_filtered", (s, d) => GraphAnnOps.topKNswFiltered(s, d),
      RowsOnly("approximate: filtered beam search over an NSW graph")),
    Entry("q_cosine_pair", (s, d) => cosinePair(s, d), Oracle(
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS score
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |ORDER BY a_id ASC""".stripMargin)),
    Entry("q_sim_join", (s, d) => KnnOps.simJoin(s, d), Oracle(
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS score
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) > 0.35
        |ORDER BY a_id ASC, b_id ASC""".stripMargin)),
    Entry("q_sim_join_lsh", (s, d) => KnnOps.simJoinLsh(s, d), Oracle(
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS score
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) > 0.35
        |ORDER BY a_id ASC, b_id ASC""".stripMargin)),
    Entry("q_sim_join_auto", (s, d) => KnnOps.simJoinAuto(s, d), Oracle(
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS score
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) > 0.35
        |ORDER BY a_id ASC, b_id ASC""".stripMargin)),
    Entry("q_vec_centroids", (s, d) => KnnOps.centroids(s, d), Oracle(
      """SELECT label, pos, round(avg(v), 6) AS centroid_v
        |FROM (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
        |             unnest(range(len(embedding))) AS pos
        |      FROM embeddings)
        |GROUP BY label, pos
        |ORDER BY label ASC, pos ASC""".stripMargin)),
    Entry("q_vec_quantize", (s, d) => KnnOps.quantize(s, d), Oracle(
      """WITH q AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |         127.0 / greatest(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), 1e-12) AS s
        |  FROM embeddings)
        |SELECT vec_id,
        |       round(s, 6) AS scale_r,
        |       CAST(list_min(list_transform(v, x -> round(x * s))) AS BIGINT) AS qmin,
        |       CAST(list_max(list_transform(v, x -> round(x * s))) AS BIGINT) AS qmax,
        |       round(sqrt(list_sum(list_transform(v,
        |         x -> (x - round(x * s) / s) * (x - round(x * s) / s)))), 6) AS recon_err
        |FROM q ORDER BY vec_id ASC""".stripMargin)),
    Entry("q_embed_batch", (s, d) => TextAnalysisOps.embedBatch(s, d),
      RowsOnly("xxhash64 embedding kernel is not SQL-expressible")),
    Entry("q_dedup_exact", (s, d) => DedupOps.dedupExact(s, d), Oracle(
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 5 = 0)
        |SELECT doc_id, fp FROM (
        |  SELECT doc_id, md5(text) AS fp,
        |         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn
        |  FROM corpus)
        |WHERE rn = 1
        |ORDER BY doc_id ASC""".stripMargin)),
    Entry("q_dedup_jaccard", (s, d) => DedupOps.jaccardPairs(s, d), Oracle(
      """WITH ws AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS s FROM documents)
        |SELECT a_id, b_id, round(j, 6) AS jac FROM (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_cat(a.s, b.s))) AS j
        |  FROM ws a JOIN ws b ON a.doc_id < b.doc_id)
        |WHERE j >= 0.95
        |ORDER BY a_id ASC, b_id ASC""".stripMargin)),
    Entry("q_dedup_ngram", (s, d) => DedupOps.ngramJaccardPairs(s, d), Oracle(
      """WITH bg AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(w)), i -> w[i] || chr(30) || w[i + 1])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 2)
        |SELECT a_id, b_id, round(j, 6) AS jac FROM (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_cat(a.s, b.s))) AS j
        |  FROM bg a JOIN bg b ON a.doc_id < b.doc_id)
        |WHERE j >= 0.8
        |ORDER BY a_id ASC, b_id ASC""".stripMargin), bench = false),
    Entry("q_dedup_minhash", (s, d) => DedupOps.minHashLsh(s, d), Oracle(
      """WITH ws AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS s FROM documents),
        |dup AS (
        |  SELECT DISTINCT b.doc_id AS b_id
        |  FROM ws a JOIN ws b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_cat(a.s, b.s))) >= 0.95)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT b_id FROM dup)
        |ORDER BY doc_id ASC""".stripMargin)),
    Entry("q_dedup_minhash_pairs", (s, d) => DedupOps.minHashLshPairs(s, d), Oracle(
      """WITH ws AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS s FROM documents)
        |SELECT a_id, b_id, round(j, 6) AS jac FROM (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_cat(a.s, b.s))) AS j
        |  FROM ws a JOIN ws b ON a.doc_id < b.doc_id)
        |WHERE j >= 0.95
        |ORDER BY a_id ASC, b_id ASC""".stripMargin), bench = false),
    Entry("q_dedup_simhash", (s, d) => DedupOps.simHash(s, d), Oracle(
      // the simhash signature is closed-form md5-nibble arithmetic (r17);
      // the oracle brute-forces bit_count(xor) <= 3 over distinct fps —
      // the engine must pigeonhole-block its way to the same pairs
      simhashOracleSql())),
    Entry("q_doc_fingerprint", (s, d) => TextAnalysisOps.fingerprint(s, d), Oracle(
      """SELECT doc_id, md5(text) AS fp,
        |       CAST(ascii(substr(md5(text), 1, 1)) % 16 AS BIGINT) AS shard
        |FROM documents ORDER BY doc_id ASC""".stripMargin), bench = false),
    Entry("q_doc_winnow", (s, d) => TextAnalysisOps.winnowFingerprint(s, d), Oracle(
      """WITH h AS (
        |  SELECT doc_id,
        |         list_transform(range(1, length(text) - 4), i ->
        |           ascii(substr(text, i,     1)) * CAST(1 AS BIGINT) +
        |           ascii(substr(text, i + 1, 1)) * CAST(31 AS BIGINT) +
        |           ascii(substr(text, i + 2, 1)) * CAST(961 AS BIGINT) +
        |           ascii(substr(text, i + 3, 1)) * CAST(29791 AS BIGINT) +
        |           ascii(substr(text, i + 4, 1)) * CAST(923521 AS BIGINT) +
        |           ascii(substr(text, i + 5, 1)) * CAST(28629151 AS BIGINT)) AS hs
        |  FROM documents WHERE length(text) >= 9),
        |wn AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(hs) - 2), m ->
        |           list_min(hs[m:m+3]))) AS fps
        |  FROM h)
        |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
        |       list_min(fps) AS min_fp, list_max(fps) AS max_fp
        |FROM wn ORDER BY doc_id ASC""".stripMargin), bench = false),
    Entry("q_dedup_embed", (s, d) => DedupOps.embedNearDup(s, d), Oracle(
      """SELECT b_id AS dup_id, min(a_id) AS canonical_id FROM (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.45)
        |GROUP BY b_id
        |ORDER BY dup_id ASC""".stripMargin)),
    Entry("q_dedup_cc", (s, d) => DedupOps.dedupConnected(s, d), Oracle(ConnectedOracle)),
    // one identity across url-dup AND exact-text-dup edges (closure of
    // the union — a mirror of a re-crawl needs both signals)
    Entry("q_dedup_multi", (s, d) => DedupOps.dedupMulti(s, d), Oracle(
      s"""WITH RECURSIVE $urlFixtureCte,
         |$urlCanonCte,
         |uedge AS (
         |  SELECT c.doc_id AS a, k.canonical_id AS b
         |  FROM canon c JOIN (SELECT canonical_url AS cu, min(doc_id) AS canonical_id
         |                     FROM canon GROUP BY canonical_url) k
         |    ON c.canonical_url = k.cu
         |  WHERE c.doc_id <> k.canonical_id),
         |tedge AS (
         |  SELECT d.doc_id AS a, k.tid AS b
         |  FROM documents d JOIN (SELECT md5(text) AS h, min(doc_id) AS tid
         |                         FROM documents GROUP BY md5(text)) k
         |    ON md5(d.text) = k.h
         |  WHERE d.doc_id <> k.tid),
         |p AS (SELECT a, b FROM uedge UNION SELECT a, b FROM tedge),
         |edges AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
         |reach(n, m) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a WHERE e.b <> r.n),
         |comp AS (SELECT n AS doc_id, least(n, min(m)) AS component FROM reach GROUP BY n)
         |SELECT d.doc_id, coalesce(k2.component, d.doc_id) AS component
         |FROM documents d LEFT JOIN comp k2 USING (doc_id)
         |ORDER BY doc_id ASC""".stripMargin)),
    Entry("q_dedup_substring", (s, d) => DedupOps.dedupSubstring(s, d), Oracle(
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 5 = 0),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
        |w AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(t) - 18),
        |           i -> list_aggregate(t[i:i+19], 'string_agg', ' '))) AS win
        |  FROM toks WHERE len(t) >= 20),
        |dup AS (SELECT win FROM w GROUP BY win HAVING count(*) > 1),
        |per AS (
        |  SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows
        |  FROM w JOIN dup USING (win) GROUP BY w.doc_id)
        |SELECT t.doc_id,
        |       CAST(greatest(len(t.t) - 19, 0) AS BIGINT) AS n_windows,
        |       CAST(coalesce(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
        |       CASE WHEN len(t.t) >= 20
        |            THEN CAST(coalesce(p.n_dup_windows, 0) AS DOUBLE) / (len(t.t) - 19)
        |            ELSE 0.0 END AS dup_ratio
        |FROM toks t LEFT JOIN per p ON t.doc_id = p.doc_id
        |ORDER BY t.doc_id ASC""".stripMargin)),
    Entry("q_dedup_substring_trim", (s, d) => DedupOps.dedupSubstringTrim(s, d), Oracle(
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 5 = 0),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
        |wpos AS (SELECT doc_id, t, unnest(range(1, len(t) - 18)) AS pos
        |         FROM toks WHERE len(t) >= 20),
        |w AS (SELECT doc_id, pos,
        |             list_aggregate(t[pos:pos+19], 'string_agg', ' ') AS win
        |      FROM wpos),
        |own AS (SELECT win, doc_id, pos,
        |               count(*) OVER (PARTITION BY win) AS n,
        |               row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn
        |        FROM w),
        |rem AS (SELECT doc_id, pos FROM own WHERE n > 1 AND rn > 1),
        |tokpos AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS k FROM toks),
        |dropk AS (SELECT DISTINCT tp.doc_id, tp.k
        |          FROM tokpos tp JOIN rem ON tp.doc_id = rem.doc_id
        |            AND tp.k BETWEEN rem.pos AND rem.pos + 19),
        |kept AS (
        |  SELECT tp.doc_id,
        |         coalesce(string_agg(tp.t[tp.k], ' ' ORDER BY tp.k)
        |           FILTER (WHERE d.k IS NULL), '') AS kept_text,
        |         CAST(count(*) FILTER (WHERE d.k IS NOT NULL) AS BIGINT) AS n_removed
        |  FROM tokpos tp LEFT JOIN dropk d ON tp.doc_id = d.doc_id AND tp.k = d.k
        |  GROUP BY tp.doc_id)
        |SELECT doc_id, kept_text, n_removed FROM kept ORDER BY doc_id ASC""".stripMargin)),
    // image-modality near-dup: rendered-mosaic corpus with planted resized
    // copies → dHash → pigeonhole-blocked hamming join; rows-only (image
    // decode is engine-native), planted-copy recovery pinned in tests
    Entry("q_image_neardup", (s, d) => DedupOps.imageNearDup(s, d),
      RowsOnly("image decode is engine-native")),
    // audio-modality near-dup: spectral fingerprint over real PCM decode,
    // volume-scaled planted copies; rows-only (audio decode engine-native)
    Entry("q_audio_neardup", (s, d) => DedupOps.audioNearDup(s, d),
      RowsOnly("audio decode is engine-native")),
    // SemDeDup-shape semantic dedup: k-means cell blocking + exact cosine
    // verify; rows-only (k-means is engine-native), planted-cluster
    // recovery and the kCells=1 exact ceiling pinned in tests
    Entry("q_dedup_semantic", (s, d) => DedupOps.semanticDedupCells(s, d),
      RowsOnly("k-means cell blocking is engine-native")),
    // the SERVING form: blocked by the persisted mini-batch-maintained
    // quantizer (create-half + upsert-half each run); rows-only like its
    // live twin (k-means is engine-native), behavior pinned in tests
    Entry("q_dedup_semantic_stored", (s, d) => DedupOps.semanticDedupStoredFixture(s, d),
      RowsOnly("k-means quantizer is engine-native")),
    Entry("q_text_quality", (s, d) => TextAnalysisOps.qualityScore(s, d), Oracle(
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_alpha
        |  FROM documents)
        |SELECT doc_id, n_tokens, n_distinct, n_alpha,
        |       round(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS distinct_ratio,
        |       round(CAST(n_alpha AS DOUBLE) / n_tokens, 6) AS avg_word_len,
        |       round(CAST(n_distinct AS DOUBLE) / n_tokens * 0.5 + least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.5, 6) AS quality
        |FROM t ORDER BY doc_id ASC""".stripMargin)),
    Entry("q_text_lang", (s, d) => TextAnalysisOps.langId(s, d), Oracle(
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(list_intersect(list_distinct(string_split(text, ' ')), ['table','scan','join','query','index'])) AS BIGINT) AS s_rel,
        |    CAST(len(list_intersect(list_distinct(string_split(text, ' ')), ['stream','batch','window','watermark'])) AS BIGINT) AS s_stream,
        |    CAST(len(list_intersect(list_distinct(string_split(text, ' ')), ['vector','embedding','column','row'])) AS BIGINT) AS s_vec
        |  FROM documents)
        |SELECT doc_id, s_rel, s_stream, s_vec,
        |       CASE WHEN s_rel >= s_stream AND s_rel >= s_vec THEN 'relational'
        |            WHEN s_stream >= s_vec THEN 'streaming'
        |            ELSE 'vector' END AS predicted
        |FROM s ORDER BY doc_id ASC""".stripMargin), bench = false),
    // TRAINED quality classifier (fastText-lineage): distributed GD on
    // heuristic-gate labels, broadcast-weights scoring; rows-only (fp
    // training is engine-native), learnability + determinism test-pinned.
    // An oracle flip via fixed-point weight updates was EVALUATED and
    // rejected (r18, VERDICT task 6): the features come from the
    // xxhash64 embed kernel (not SQL-expressible — the q_embed_batch
    // class), and the sigmoid trajectory is transcendental, so an
    // integer-scaled mirror would have to replace exp() with a rational
    // approximation on BOTH engines — changing the operator to fit the
    // oracle rather than oracling the operator
    Entry("q_quality_lr", (s, d) => MlOps.qualityLrFixture(s, d),
      RowsOnly("floating-point GD training is engine-native")),
    Entry("q_token_count", (s, d) => TextAnalysisOps.tokenCount(s, d), Oracle(
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS alpha_runs,
        |       n_chars
        |FROM documents ORDER BY doc_id ASC""".stripMargin)),
    Entry("q_text_bigrams", (s, d) => TextAnalysisOps.bigrams(s, d), Oracle(
      """SELECT bigram, count(*) AS n FROM (
        |  SELECT unnest(list_transform(range(1, len(w)),
        |                               i -> w[i] || ' ' || w[i + 1])) AS bigram
        |  FROM (SELECT string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 2)
        |GROUP BY bigram
        |ORDER BY n DESC, bigram ASC
        |LIMIT 20""".stripMargin), bench = false),
    // sketch-aggregated vocabulary head: one pass, m-entry partials —
    // exact (and therefore oracled) whenever the vocabulary fits in m
    Entry("q_term_heavyhitters", (s, d) => TextAnalysisOps.heavyHitterTerms(s, d),
      Oracle(heavyHittersOracleSql)),
    // the MAINTAINED sketch (create-half + fold-half each run) — exact
    // below saturation, so it faces the SAME oracle as the live aggregate
    Entry("q_term_heavyhitters_stored", (s, d) => TextAnalysisOps.heavyHittersStoredFixture(s, d),
      Oracle(heavyHittersOracleSql)),
    // REAL trained-BPE token counts (train-then-count composite, the
    // ingest-cost label); fully oracled as of r17 — the merge loop
    // replays as unrolled chained-CTE rounds (bpeOracleSql), still
    // pinned against a driver-side reference + the Sennrich toy example
    Entry("q_bpe_tokens", (s, d) => TextAnalysisOps.bpeTokens(s, d), Oracle(
      // the full BPE chain replayed: unrolled training rounds to the
      // vocabulary-derived merge bound, final forms = the encodes
      bpeOracleSql())),
    // corpus-trained bigram-LM quality score (CCNet-lineage filter);
    // exact integer-micros accumulation → fully DuckDB-oracled
    Entry("q_lm_bigram", (s, d) => TextAnalysisOps.lmBigramScore(s, d), Oracle(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |big AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
        |        FROM toks WHERE len(t) >= 2)),
        |lc AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1),
        |bc AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2),
        |per AS (
        |  SELECT b.doc_id, CAST(bc.c2 AS DOUBLE) / lc.c1 AS p
        |  FROM big b JOIN bc USING (w1, w2) JOIN lc USING (w1)),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |         floor(CAST(sum(CAST(floor(p * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |               / count(*) + 0.5) / 1000000.0 AS avg_cond_p,
        |         floor(min(p) * 1000000.0 + 0.5) / 1000000.0 AS min_cond_p
        |  FROM per GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |       CAST(coalesce(a.avg_cond_p, 0.0) AS DOUBLE) AS avg_cond_p,
        |       CAST(coalesce(a.min_cond_p, 0.0) AS DOUBLE) AS min_cond_p
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id ASC""".stripMargin)),
    Entry("q_multimodal_meta", (s, d) => MultimodalOps.mediaMeta(s, d), Oracle(
      """SELECT doc_id,
        |       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
        |       sha256(text) AS content_sha,
        |       substr(hex(CAST(text AS BLOB)), 1, 32) AS head_hex,
        |       64 + CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) % 512 AS width,
        |       64 + (CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) * 7) % 512 AS height,
        |       1 + CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) % 16 AS n_frames
        |FROM documents ORDER BY doc_id ASC""".stripMargin)),
    Entry("q_agg_hash", (s, d) => RelOps.aggHash(s, d), Oracle(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(round(l_extendedprice * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_base_price,
        |       round(CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*), 6) AS avg_qty,
        |       count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag ASC, l_linestatus ASC""".stripMargin)),
    Entry("q_agg_distinct", (s, d) => RelOps.aggDistinct(s, d), Oracle(
      """SELECT o_orderstatus,
        |       count(DISTINCT o_custkey) AS n_custs,
        |       count(DISTINCT o_orderpriority) AS n_prios,
        |       count(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus ASC""".stripMargin), bench = false),
    Entry("q_agg_stats", (s, d) => RelOps.aggStats(s, d), Oracle(
      """SELECT o_orderstatus,
        |       round(stddev_samp(o_totalprice), 2) AS sd_price,
        |       round(corr(o_totalprice, o_custkey), 6) AS corr_price_cust,
        |       count(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus ASC""".stripMargin), bench = false),
    Entry("q_grouping_sets", (s, d) => RelOps.groupingSets(s, d), Oracle(
      """SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL'
        |            ELSE coalesce(l_returnflag, 'NULL') END AS returnflag,
        |       CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL'
        |            ELSE coalesce(l_linestatus, 'NULL') END AS linestatus,
        |       CAST(sum(CAST(round(l_extendedprice * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_price,
        |       count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag ASC, linestatus ASC""".stripMargin)),
    Entry("q_pivot", (s, d) => RelOps.pivotEvents(s, d), Oracle(
      """SELECT date_trunc('day', ts) AS day,
        |       count(*) FILTER (WHERE event_type = 'click') AS click,
        |       count(*) FILTER (WHERE event_type = 'error') AS error,
        |       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |       count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |       count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY date_trunc('day', ts) ORDER BY day ASC""".stripMargin), bench = false),
    Entry("q_unpivot", (s, d) => RelOps.unpivotLineitem(s, d), Oracle(
      """SELECT l_orderkey, l_linenumber, metric, val FROM (
        |  SELECT l_orderkey, l_linenumber, 'discount' AS metric, l_discount AS val FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'price', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'quantity', l_quantity FROM lineitem)
        |ORDER BY l_orderkey ASC, l_linenumber ASC, metric ASC""".stripMargin), bench = false),
    Entry("q_tpch_q1", (s, d) => RelOps.pricingSummary(s, d), Oracle(
      """SELECT l_returnflag, l_linestatus,
        |       sum(l_quantity) AS sum_qty,
        |       CAST(sum(CAST(round(l_extendedprice * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_base_price,
        |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_disc_price,
        |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_charge,
        |       round(sum(l_quantity) / count(*), 6) AS avg_qty,
        |       round(CAST(sum(CAST(round(l_extendedprice * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 / count(*), 6) AS avg_price,
        |       round(CAST(sum(CAST(round(l_discount * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 / count(*), 6) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag ASC, l_linestatus ASC""".stripMargin), bench = false),
    Entry("q_tpch_q3", (s, d) => RelOps.shippingPriority(s, d), Oracle(
      """SELECT l_orderkey, o_orderdate,
        |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin)),
    Entry("q_tpch_q4", (s, d) => RelOps.orderPriorityCheck(s, d), Oracle(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate < TIMESTAMP '1998-06-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority ASC""".stripMargin), bench = false),
    Entry("q_tpch_q5", (s, d) => RelOps.localSupplierVolume(s, d), Oracle(
      """SELECT n_name,
        |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name ASC""".stripMargin), bench = false),
    Entry("q_tpch_q6", (s, d) => RelOps.revenueChange(s, d), Oracle(
      """SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin), bench = false),
    Entry("q_tpch_q10", (s, d) => RelOps.returnedItemReport(s, d), Oracle(
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey ASC
        |LIMIT 20""".stripMargin)),
    Entry("q_join_hash", (s, d) => RelOps.joinHash(s, d), Oracle(
      """SELECT o_orderkey, c_name, c_mktsegment, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey ASC""".stripMargin)),
    Entry("q_join_salted", (s, d) => RelOps.joinSalted(s, d), Oracle(
      """SELECT o_orderkey, c_name, c_mktsegment, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey ASC""".stripMargin), bench = false),
    Entry("q_join_broadcast", (s, d) => RelOps.joinBroadcast(s, d), Oracle(
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey ASC""".stripMargin)),
    Entry("q_join_semi", (s, d) => RelOps.joinSemi(s, d), Oracle(
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey ASC""".stripMargin), bench = false),
    Entry("q_join_anti", (s, d) => RelOps.joinAnti(s, d), Oracle(
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey ASC""".stripMargin), bench = false),
    Entry("q_join_outer", (s, d) => RelOps.joinOuter(s, d), Oracle(
      """SELECT o_orderkey, count(l_orderkey) AS n_items,
        |       coalesce(CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE), 0.0) AS sum_qty
        |FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey ORDER BY o_orderkey ASC""".stripMargin), bench = false),
    Entry("q_join_range", (s, d) => RelOps.joinRange(s, d), Oracle(
      """SELECT l_orderkey, l_linenumber, l_shipdate, o_orderdate
        |FROM lineitem JOIN orders
        |  ON l_orderkey = o_orderkey
        | AND l_shipdate >= o_orderdate
        | AND l_shipdate <= o_orderdate + INTERVAL 60 DAY
        |ORDER BY l_orderkey ASC, l_linenumber ASC""".stripMargin), bench = false),
    // probe side cut by a deterministic bloom of the selective build side
    // BEFORE the exchange; no false negatives ⇒ same oracle as plain join
    Entry("q_join_bloom", (s, d) => RelOps.joinBloom(s, d), Oracle(
      """SELECT l.l_orderkey, CAST(l.l_linenumber AS BIGINT) AS l_linenumber,
        |       round(l.l_extendedprice * (1 - l.l_discount), 4) AS rev, o.o_orderdate
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT' AND o.o_orderstatus = 'F'
        |ORDER BY l_orderkey ASC, l_linenumber ASC""".stripMargin)),
    // exact order statistics via iterative histogram refinement — the
    // bounded-memory scale path (`percentile` buffers whole groups)
    Entry("q_quantile_exact", (s, d) => RelOps.quantileExact(s, d), Oracle(
      // the oracle derives the lower order statistic from first principles
      // (row_number against ⌊p·(n−1)⌋) rather than trusting quantile_disc's
      // rank convention to coincide
      """WITH n AS (SELECT count(*) AS c FROM orders),
        |s AS (SELECT o_totalprice AS v,
        |             row_number() OVER (ORDER BY o_totalprice) AS rn
        |      FROM orders),
        |q(p) AS (VALUES (0.25), (0.5), (0.75), (0.95))
        |SELECT CAST(q.p AS DOUBLE) AS p, s.v
        |FROM q CROSS JOIN n
        |JOIN s ON s.rn = CAST(floor(q.p * (n.c - 1)) AS BIGINT) + 1
        |ORDER BY p ASC""".stripMargin)),
    Entry("q_percentile", (s, d) => RelOps.percentiles(s, d), Oracle(
      """SELECT o_orderstatus,
        |       round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
        |       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |       round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
        |       round(quantile_cont(o_totalprice, 0.95), 4) AS p95
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus ASC""".stripMargin), bench = false),
    // q-digest sketch quantiles: one pass, sketch-sized exchange; exact
    // below capacity (raises if compression fired) -> faces the rank oracle
    Entry("q_quantile_sketch", (s, d) => RelOps.quantileSketch(s, d), Oracle(
      """WITH g AS (SELECT source, n_chars, count(*) AS c
        |           FROM documents GROUP BY source, n_chars),
        |w AS (SELECT source, n_chars,
        |             sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum,
        |             sum(c) OVER (PARTITION BY source) AS n
        |      FROM g)
        |SELECT source,
        |       min(CASE WHEN cum >= ceiling(0.25 * n) THEN n_chars END) AS p25,
        |       min(CASE WHEN cum >= ceiling(0.5 * n) THEN n_chars END) AS p50,
        |       min(CASE WHEN cum >= ceiling(0.9 * n) THEN n_chars END) AS p90,
        |       min(CASE WHEN cum >= ceiling(0.99 * n) THEN n_chars END) AS p99,
        |       CAST(max(n) AS BIGINT) AS n_docs
        |FROM w GROUP BY source
        |ORDER BY source ASC""".stripMargin)),
    // the same report served from the MAINTAINED digest store
    Entry("q_quantile_sketch_stored", (s, d) => RelOps.quantileSketchStored(s, d), Oracle(
      """WITH g AS (SELECT source, n_chars, count(*) AS c
        |           FROM documents GROUP BY source, n_chars),
        |w AS (SELECT source, n_chars,
        |             sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum,
        |             sum(c) OVER (PARTITION BY source) AS n
        |      FROM g)
        |SELECT source,
        |       min(CASE WHEN cum >= ceiling(0.25 * n) THEN n_chars END) AS p25,
        |       min(CASE WHEN cum >= ceiling(0.5 * n) THEN n_chars END) AS p50,
        |       min(CASE WHEN cum >= ceiling(0.9 * n) THEN n_chars END) AS p90,
        |       min(CASE WHEN cum >= ceiling(0.99 * n) THEN n_chars END) AS p99,
        |       CAST(max(n) AS BIGINT) AS n_docs
        |FROM w GROUP BY source
        |ORDER BY source ASC""".stripMargin)),
    // grouped top-k via the bounded heap (no per-group sort, k·tasks shuffle)
    Entry("q_group_topk", (s, d) => RelOps.groupTopK(s, d), Oracle(
      """WITH r AS (
        |  SELECT source, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY n_chars DESC, doc_id ASC) AS rank
        |  FROM documents)
        |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, n_chars
        |FROM r WHERE rank <= 5 ORDER BY source ASC, rank ASC""".stripMargin)),
    // the planning query you run before committing to a shuffle key
    Entry("q_key_skew", (s, d) => RelOps.keySkew(s, d), Oracle(
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
        |t AS (SELECT count(*) AS total FROM events)
        |SELECT user_id, cnt, cnt * 1000000 // total AS share_ppm,
        |       (cnt * 32 + total - 1) // total AS rec_salt
        |FROM c CROSS JOIN t
        |ORDER BY cnt DESC, user_id ASC LIMIT 10""".stripMargin)),
    // the same report served from the maintained SpaceSaving key sketch
    // (exact below saturation ⇒ same oracle, no ask-time corpus pass)
    Entry("q_key_skew_stored", (s, d) => RelOps.keySkewStored(s, d), Oracle(
      // the stored twin is exact below sketch saturation ⇒ identical SQL
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
        |t AS (SELECT count(*) AS total FROM events)
        |SELECT user_id, cnt, cnt * 1000000 // total AS share_ppm,
        |       (cnt * 32 + total - 1) // total AS rec_salt
        |FROM c CROSS JOIN t
        |ORDER BY cnt DESC, user_id ASC LIMIT 10""".stripMargin)),
    // salt only measured-hot keys (blanket salting replicates the whole
    // build side); same semantics as the plain join ⇒ same-oracle class
    Entry("q_join_skew", (s, d) => RelOps.joinSkew(s, d), Oracle(
      """WITH u AS (SELECT user_id AS u_id, count(*) AS u_events
        |           FROM events GROUP BY user_id)
        |SELECT e.event_id, e.user_id, e.value, u.u_events
        |FROM events e JOIN u ON e.user_id = u.u_id
        |ORDER BY event_id ASC""".stripMargin)),
    // z-order layout arithmetic (bucket ranks + Morton interleave)
    Entry("q_zorder_value", (s, d) => RelOps.zorderValue(s, d), Oracle(
      // the spread LUT is generated from the same code the Spark plan uses;
      // every arithmetic step mirrors ZorderFunctions.widthBucket exactly
      // (same IEEE op order), so the comparison is bit-for-bit
      {
        val lut = (0 until graft.functions.ZorderFunctions.Buckets)
          .map(graft.functions.ZorderFunctions.spread).mkString("[", ", ", "]")
        s"""WITH mm AS (SELECT min(value) AS vlo, max(value) AS vhi,
           |                   min(CAST(user_id AS DOUBLE)) AS ulo,
           |                   max(CAST(user_id AS DOUBLE)) AS uhi FROM events),
           |b AS (SELECT event_id,
           |  CASE WHEN vhi <= vlo THEN 0 ELSE
           |    CAST(least(greatest(floor((value - vlo) * 256.0 / (vhi - vlo)), 0.0), 255.0) AS BIGINT)
           |  END AS vb,
           |  CASE WHEN uhi <= ulo THEN 0 ELSE
           |    CAST(least(greatest(floor((CAST(user_id AS DOUBLE) - ulo) * 256.0 / (uhi - ulo)), 0.0), 255.0) AS BIGINT)
           |  END AS ub
           |  FROM events CROSS JOIN mm)
           |SELECT event_id, vb, ub,
           |       list_extract($lut, CAST(vb AS INT) + 1) * 2 +
           |       list_extract($lut, CAST(ub AS INT) + 1) AS z
           |FROM b ORDER BY event_id ASC""".stripMargin
      })),
    // id membership served bloom-first from the maintained store, exact
    // confirm behind it ⇒ same output as the plain semi join
    Entry("q_join_semi_bloom", (s, d) => RelOps.semiJoinBloomStored(s, d), Oracle(
      """SELECT r.range AS probe_id FROM range(1000) r
        |WHERE r.range IN (SELECT doc_id FROM documents)
        |ORDER BY probe_id ASC""".stripMargin)),
    // snapshot-isolated reads over the append-only version log
    Entry("q_timetravel_latest", (s, d) => TextOps.timeTravelLatest(s, d), Oracle(
      "SELECT * FROM documents WHERE doc_id >= 50 ORDER BY doc_id ASC")),
    Entry("q_timetravel_asof", (s, d) => TextOps.timeTravelAsOf(s, d), Oracle(
      "SELECT * FROM documents WHERE doc_id % 2 = 0 ORDER BY doc_id ASC")),
    // CDC change feed: insert/update/delete rows between two snapshots
    Entry("q_timetravel_changes", (s, d) => TextOps.timeTravelChanges(s, d), Oracle(
      // snapshot contents are pure predicates over the fixture (ensure
      // builds: v0 = even ids, v1 += odd ids, v2 -= ids < 50), so the
      // resolved reads have closed-form oracles
      """WITH ch AS (
        |  SELECT 'insert' AS change, CAST(1 AS BIGINT) AS v,
        |         doc_id, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 2 = 1 AND doc_id >= 50
        |  UNION ALL
        |  SELECT 'update', CAST(1 AS BIGINT), doc_id, text, 'xx', source, n_chars
        |  FROM documents WHERE doc_id % 10 = 0 AND doc_id >= 50
        |  UNION ALL
        |  SELECT 'delete', CAST(2 AS BIGINT), doc_id, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 2 = 0 AND doc_id < 50)
        |SELECT change, v, doc_id, text, lang, source, n_chars
        |FROM ch ORDER BY doc_id ASC""".stripMargin)),
    // split keyed on the dup-cluster representative: no eval leakage
    Entry("q_split_leakage", (s, d) => TextAnalysisOps.splitLeakageSafe(s, d), Oracle(
      """WITH r AS (SELECT md5(text) AS h, min(doc_id) AS rep
        |           FROM documents GROUP BY md5(text))
        |SELECT d.doc_id, r.rep, (r.rep * 3266489917) % 1000 AS bucket,
        |       CASE WHEN (r.rep * 3266489917) % 1000 < 800 THEN 'train'
        |            WHEN (r.rep * 3266489917) % 1000 < 900 THEN 'valid'
        |            ELSE 'test' END AS split
        |FROM documents d JOIN r ON md5(d.text) = r.h
        |ORDER BY d.doc_id ASC""".stripMargin)),
    Entry("q_sample_split", (s, d) => TextAnalysisOps.sampleSplit(s, d), Oracle(
      """SELECT doc_id, (doc_id * 3266489917) % 1000 AS bucket,
        |       CASE WHEN (doc_id * 3266489917) % 1000 < 800 THEN 'train'
        |            WHEN (doc_id * 3266489917) % 1000 < 900 THEN 'valid'
        |            ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id ASC""".stripMargin), bench = false),
    // reproducible per-source sample by hash rank on the same heap
    Entry("q_sample_stratified", (s, d) => RelOps.sampleStratified(s, d), Oracle(
      """WITH s AS (SELECT source, doc_id,
        |                  (doc_id * 3266489917) % 1000003 AS h FROM documents),
        |r AS (SELECT source, doc_id,
        |             row_number() OVER (PARTITION BY source
        |                                ORDER BY h ASC, doc_id ASC) AS rank
        |      FROM s)
        |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id
        |FROM r WHERE rank <= 10
        |ORDER BY source ASC, rank ASC""".stripMargin)),
    Entry("q_approx_distinct", (s, d) => RelOps.approxDistinct(s, d),
      RowsOnly("HLL estimate, not an exact count"), bench = false),
    // the stored twin: HLL registers as a maintained max-fold artifact
    Entry("q_approx_distinct_stored", (s, d) => RelOps.approxDistinctStored(s, d),
      RowsOnly("HLL estimate, not an exact count")),
    // the pre-training validation suite: one row per constraint
    Entry("q_quality_checks", (s, d) => RelOps.qualityChecks(s, d), Oracle(
      """WITH checks AS (
        |SELECT 'accepted_o_orderstatus' AS chk,
        |       sum(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS v,
        |       count(*) AS t
        |FROM orders
        |UNION ALL
        |SELECT 'fk_orders_customer',
        |       sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END), count(*)
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |UNION ALL
        |SELECT 'notnull_l_shipdate',
        |       sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END), count(*)
        |FROM lineitem
        |UNION ALL
        |SELECT 'range_l_discount',
        |       sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END), count(*)
        |FROM lineitem
        |UNION ALL
        |SELECT 'unique_o_orderkey',
        |       count(*) - count(DISTINCT o_orderkey), count(*)
        |FROM orders)
        |SELECT chk AS "check", CAST(v AS BIGINT) AS violations,
        |       CAST(t AS BIGINT) AS total, CAST(v AS BIGINT) = 0 AS pass
        |FROM checks ORDER BY chk ASC""".stripMargin)),
    Entry("q_events_distinct", (s, d) => EventOps.tumblingDistinct(s, d), Oracle(
      """SELECT date_trunc('day', ts) AS day, event_type,
        |       count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY date_trunc('day', ts), event_type
        |ORDER BY day ASC, event_type ASC""".stripMargin)),
    Entry("q_window_percentrank", (s, d) => RelOps.windowPercentRank(s, d), Oracle(
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |       percent_rank() OVER (PARTITION BY c_mktsegment
        |                            ORDER BY c_acctbal ASC, c_custkey ASC) AS pr,
        |       cume_dist() OVER (PARTITION BY c_mktsegment
        |                         ORDER BY c_acctbal ASC, c_custkey ASC) AS cd
        |FROM customer ORDER BY c_custkey ASC""".stripMargin)),
    Entry("q_tpch_q7", (s, d) => RelOps.volumeShipping(s, d), Oracle(
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS INT) AS l_year,
        |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation ASC, cust_nation ASC, l_year ASC""".stripMargin)),
    Entry("q_tpch_q8", (s, d) => RelOps.nationalMarketShare(s, d), Oracle(
      """WITH t AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |         CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000.0) AS BIGINT) AS volu,
        |         n2.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE p_type = 'STANDARD' AND r_name = 'AMERICA'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT o_year,
        |       round((CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN volu ELSE 0 END) AS DOUBLE) / 1000000.0)
        |             / (CAST(sum(volu) AS DOUBLE) / 1000000.0), 6) AS mkt_share,
        |       CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN volu ELSE 0 END) AS DOUBLE) / 1000000.0 AS nation_vol,
        |       CAST(sum(volu) AS DOUBLE) / 1000000.0 AS total_vol
        |FROM t GROUP BY o_year ORDER BY o_year ASC""".stripMargin)),
    Entry("q_tpch_q14", (s, d) => RelOps.promotionEffect(s, d), Oracle(
      """WITH s AS (
        |  SELECT
        |    CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000.0) AS BIGINT)
        |      ELSE 0 END) AS DOUBLE) / 1000000.0 AS promo,
        |    CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS total
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-07-01')
        |SELECT round(100.0 * promo / total, 6) AS promo_pct, promo, total FROM s""".stripMargin)),
    Entry("q_tpch_q15", (s, d) => RelOps.topSupplier(s, d), Oracle(
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey),
        |m AS (SELECT max(total_revenue) AS max_rev FROM rev)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev CROSS JOIN m
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = max_rev
        |ORDER BY s_suppkey ASC""".stripMargin)),
    Entry("q_tpch_q17", (s, d) => RelOps.smallQuantityRevenue(s, d), Oracle(
      """WITH t AS (
        |  SELECT l_partkey,
        |         (sum(CAST(l_quantity AS BIGINT)) * 200000) // count(*) AS thresh_micros
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT
        |  CAST(sum(CAST(round(l_extendedprice * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS small_qty_revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN t USING (l_partkey)
        |WHERE CAST(l_quantity AS BIGINT) * 1000000 < thresh_micros""".stripMargin)),
    Entry("q_tpch_q18", (s, d) => RelOps.largeVolumeCustomers(s, d), Oracle(
      """WITH big AS (
        |  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING total_qty > 300)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey ASC
        |LIMIT 20""".stripMargin)),
    Entry("q_tpch_q2", (s, d) => RelOps.minCostSupplier(s, d), Oracle(
      """WITH eu AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |cand AS (
        |  SELECT p_partkey, s_acctbal, s_name, n_name,
        |         CAST(round(l_extendedprice * 1000000.0 / l_quantity) AS BIGINT) AS unit_micros
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN eu ON l_suppkey = s_suppkey
        |  WHERE p_type = 'LARGE' AND p_size BETWEEN 10 AND 20),
        |mn AS (SELECT p_partkey, min(unit_micros) AS min_micros FROM cand GROUP BY p_partkey)
        |SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey,
        |       CAST(unit_micros AS DOUBLE) / 1000000.0 AS unit_price
        |FROM cand JOIN mn USING (p_partkey)
        |WHERE unit_micros = min_micros
        |ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
        |LIMIT 100""".stripMargin)),
    Entry("q_tpch_q9", (s, d) => RelOps.productTypeProfit(s, d), Oracle(
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
        |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000.0) AS BIGINT)
        |                - CAST(round(p_retailprice * 500000.0) AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%bolt%'
        |GROUP BY n_name, year(o_orderdate)
        |ORDER BY nation ASC, o_year DESC""".stripMargin)),
    Entry("q_tpch_q11", (s, d) => RelOps.importantPartValue(s, d), Oracle(
      """WITH v AS (
        |  SELECT l_partkey, sum(CAST(round(l_extendedprice * 1000000.0) AS BIGINT)) AS val_micros
        |  FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |    WHERE n_name = 'NATION_7')
        |  GROUP BY l_partkey),
        |t AS (SELECT sum(val_micros) AS tot_micros FROM v)
        |SELECT l_partkey AS p_partkey, CAST(val_micros AS DOUBLE) / 1000000.0 AS value
        |FROM v CROSS JOIN t
        |WHERE val_micros * 1000 > tot_micros
        |ORDER BY value DESC, p_partkey ASC""".stripMargin)),
    Entry("q_tpch_q12", (s, d) => RelOps.latePriorityLines(s, d), Oracle(
      """SELECT l_linestatus,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus ASC""".stripMargin)),
    Entry("q_tpch_q13", (s, d) => RelOps.customerDistribution(s, d), Oracle(
      """WITH c AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist FROM c
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)),
    Entry("q_tpch_q16", (s, d) => RelOps.supplierPartCounts(s, d), Oracle(
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND p_size IN (1,5,10,15,20,25,30,35)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC""".stripMargin)),
    Entry("q_tpch_q19", (s, d) => RelOps.discountedRevenueDisjunct(s, d), Oracle(
      """SELECT CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),
    Entry("q_tpch_q20", (s, d) => RelOps.dominantSuppliers(s, d), Oracle(
      """WITH shipped AS (
        |  SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS BIGINT)) AS q
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'small%'
        |    AND l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY l_partkey, l_suppkey),
        |tot AS (SELECT l_partkey, sum(q) AS total_q FROM shipped GROUP BY l_partkey),
        |dom AS (SELECT DISTINCT l_suppkey FROM shipped JOIN tot USING (l_partkey)
        |        WHERE q * 2 > total_q)
        |SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey FROM dom)
        |ORDER BY s_suppkey ASC""".stripMargin)),
    Entry("q_tpch_q21", (s, d) => RelOps.waitingSuppliers(s, d), Oracle(
      """WITH pos AS (
        |  SELECT l_orderkey, l_suppkey,
        |         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY THEN 1 ELSE 0 END) AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY l_orderkey, l_suppkey),
        |w AS (
        |  SELECT p1.l_suppkey, count(*) AS numwait
        |  FROM pos p1
        |  WHERE p1.late = 1
        |    AND EXISTS (SELECT 1 FROM pos p2
        |                WHERE p2.l_orderkey = p1.l_orderkey AND p2.l_suppkey <> p1.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM pos p3
        |                    WHERE p3.l_orderkey = p1.l_orderkey AND p3.l_suppkey <> p1.l_suppkey
        |                      AND p3.late = 1)
        |  GROUP BY p1.l_suppkey)
        |SELECT s_suppkey, s_name, numwait
        |FROM w JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY numwait DESC, s_suppkey ASC
        |LIMIT 100""".stripMargin)),
    Entry("q_tpch_q22", (s, d) => RelOps.dormantCustomers(s, d), Oracle(
      """WITH sel AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal,
        |         CAST(round(c_acctbal * 1000000.0) AS BIGINT) AS bal_micros
        |  FROM customer
        |  WHERE c_nationkey IN (1,3,5,7,9,11,13) AND c_acctbal > 0),
        |st AS (SELECT sum(bal_micros) AS sum_micros, count(*) AS n_sel FROM sel)
        |SELECT c_nationkey AS cntrycode, count(*) AS numcust,
        |       CAST(sum(bal_micros) AS DOUBLE) / 1000000.0 AS totacctbal
        |FROM sel CROSS JOIN st
        |WHERE bal_micros * n_sel > sum_micros
        |  AND c_custkey NOT IN (SELECT o_custkey FROM orders
        |                        WHERE o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_nationkey
        |ORDER BY cntrycode ASC""".stripMargin)),
    Entry("q_part_brands", (s, d) => RelOps.partBrandRevenue(s, d), Oracle(
      """SELECT p_brand, count(*) AS n_items,
        |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue,
        |       count(DISTINCT p_partkey) AS n_parts
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY p_brand ASC""".stripMargin), bench = false),
    // outlier clipping at exact percentile fences (reuses the refinement)
    Entry("q_winsorize", (s, d) => RelOps.winsorize(s, d), Oracle(
      """WITH n AS (SELECT count(*) AS c FROM orders),
        |s AS (SELECT o_totalprice AS v,
        |             row_number() OVER (ORDER BY o_totalprice) AS rn
        |      FROM orders),
        |lo AS (SELECT v FROM s CROSS JOIN n
        |       WHERE rn = CAST(floor(0.05 * (c - 1)) AS BIGINT) + 1),
        |hi AS (SELECT v FROM s CROSS JOIN n
        |       WHERE rn = CAST(floor(0.95 * (c - 1)) AS BIGINT) + 1)
        |SELECT o_orderkey, o_totalprice,
        |       least(greatest(o_totalprice, lo.v), hi.v) AS clipped,
        |       (o_totalprice < lo.v OR o_totalprice > hi.v) AS was_outlier
        |FROM orders CROSS JOIN lo CROSS JOIN hi
        |ORDER BY o_orderkey ASC""".stripMargin)),
    // one crawl-cycle plan: delta's added/changed → capped fetch schedule
    Entry("q_crawl_e2e", (s, d) => FrontierOps.crawlCycle(s, d), Oracle(
      """WITH old AS (
        |  SELECT doc_id,
        |         md5(CASE WHEN doc_id % 13 = 0 THEN substr(text, 1, 10) ELSE text END) AS old_hash
        |  FROM documents WHERE doc_id % 11 <> 3),
        |neu AS (SELECT doc_id, md5(text) AS new_hash FROM documents WHERE doc_id % 17 <> 5),
        |delta AS (
        |  SELECT coalesce(old.doc_id, neu.doc_id) AS doc_id,
        |         CASE WHEN old.doc_id IS NULL THEN 'added'
        |              WHEN neu.doc_id IS NULL THEN 'removed'
        |              WHEN old_hash <> new_hash THEN 'changed' END AS change
        |  FROM old FULL OUTER JOIN neu ON old.doc_id = neu.doc_id
        |  WHERE old.doc_id IS NULL OR neu.doc_id IS NULL OR old_hash <> new_hash),
        |p AS (
        |  SELECT source AS host, doc_id,
        |         ((doc_id % 30) * CASE lang WHEN 'en' THEN 5 WHEN 'fr' THEN 4
        |                                    WHEN 'es' THEN 3 WHEN 'de' THEN 2
        |                                    ELSE 1 END
        |          + n_chars % 7) AS priority
        |  FROM documents),
        |j AS (
        |  SELECT host, p.doc_id AS doc_id, change, priority,
        |         row_number() OVER (PARTITION BY host
        |                            ORDER BY priority DESC, p.doc_id ASC) AS slot
        |  FROM delta JOIN p ON delta.doc_id = p.doc_id
        |  WHERE change IN ('added', 'changed'))
        |SELECT host, CAST(slot AS BIGINT) AS slot, doc_id, change, priority
        |FROM j WHERE slot <= 5
        |ORDER BY host ASC, slot ASC""".stripMargin)),
    // per-status exact quantiles (report-grain group cardinality)
    Entry("q_quantile_grouped", (s, d) => RelOps.quantileGrouped(s, d), Oracle(
      """WITH s AS (
        |  SELECT o_orderstatus, o_totalprice AS v,
        |         row_number() OVER (PARTITION BY o_orderstatus
        |                            ORDER BY o_totalprice) AS rn,
        |         count(*) OVER (PARTITION BY o_orderstatus) AS c
        |  FROM orders),
        |q(p) AS (VALUES (0.5), (0.95))
        |SELECT o_orderstatus, CAST(q.p AS DOUBLE) AS p, s.v
        |FROM q JOIN s ON s.rn = CAST(floor(q.p * (s.c - 1)) AS BIGINT) + 1
        |ORDER BY o_orderstatus ASC, p ASC""".stripMargin)),
    // padding-minimizing inference batching (pad < bucketWidth by construction)
    Entry("q_batch_by_length", (s, d) => TextAnalysisOps.batchByLength(s, d), Oracle(
      """WITH b AS (
        |  SELECT doc_id, n_chars, n_chars // 200 AS lbucket,
        |         (doc_id * 2654435761) % 4 AS sub,
        |         CAST((row_number() OVER (PARTITION BY n_chars // 200,
        |                                               (doc_id * 2654435761) % 4
        |                                  ORDER BY n_chars ASC, doc_id ASC) - 1)
        |              // 16 AS BIGINT) AS batch
        |  FROM documents)
        |SELECT doc_id, lbucket, sub, batch, n_chars,
        |       max(n_chars) OVER (PARTITION BY lbucket, sub, batch) AS batch_max,
        |       max(n_chars) OVER (PARTITION BY lbucket, sub, batch) - n_chars AS pad_chars
        |FROM b ORDER BY doc_id ASC""".stripMargin)),
    // rank-normalization via a broadcast CDF grid (no global sort)
    Entry("q_score_calibrate", (s, d) => RelOps.scoreCalibrate(s, d), Oracle(
      // the oracle mirrors the grid construction bin for bin (same IEEE
      // bucket arithmetic as q_zorder_value's discipline)
      """WITH mm AS (SELECT min(CAST(n_chars AS DOUBLE)) AS lo,
        |                   max(CAST(n_chars AS DOUBLE)) AS hi,
        |                   count(*) AS n FROM documents),
        |b AS (
        |  SELECT doc_id, n_chars, n,
        |         CASE WHEN hi <= lo THEN 0 ELSE
        |           CAST(least(greatest(floor((CAST(n_chars AS DOUBLE) - lo) * 1024.0 / (hi - lo)), 0.0), 1023.0) AS BIGINT)
        |         END AS bin
        |  FROM documents CROSS JOIN mm),
        |g AS (
        |  SELECT bin AS gbin,
        |         sum(count(*)) OVER (ORDER BY bin
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - count(*) AS below
        |  FROM b GROUP BY bin)
        |SELECT doc_id, n_chars,
        |       round(CAST(below AS DOUBLE) / n, 6) AS pct
        |FROM b JOIN g ON b.bin = g.gbin
        |ORDER BY doc_id ASC""".stripMargin)),
    Entry("q_histogram", (s, d) => RelOps.histogram(s, d), Oracle(
      """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket, count(*) AS n
        |FROM orders GROUP BY bucket ORDER BY bucket ASC""".stripMargin), bench = false),
    Entry("q_join_asof", (s, d) => RelOps.joinAsof(s, d), Oracle(
      """WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts FROM events WHERE event_type = 'click'),
        |     j AS (SELECT p.p_id, p.user_id, p.p_ts, c.c_id, c.c_ts,
        |                  row_number() OVER (PARTITION BY p.p_id ORDER BY c.c_ts DESC NULLS LAST, c.c_id DESC NULLS LAST) AS rn
        |           FROM p LEFT JOIN c ON p.user_id = c.c_user AND c.c_ts <= p.p_ts)
        |SELECT p_id, user_id, p_ts, c_id, c_ts FROM j WHERE rn = 1
        |ORDER BY p_id ASC""".stripMargin)),
    // keyless time-tolerance join via bucket decomposition (no cartesian)
    Entry("q_join_interval", (s, d) => RelOps.joinInterval(s, d), Oracle(
      """WITH p AS (SELECT event_id AS p_id, ts AS pts FROM events
        |           WHERE event_type = 'purchase'),
        |     c AS (SELECT event_id AS c_id, ts AS cts FROM events
        |           WHERE event_type = 'click')
        |SELECT p_id, c_id, date_diff('second', cts, pts) AS gap_s
        |FROM p JOIN c ON abs(date_diff('second', cts, pts)) <= 60
        |ORDER BY p_id ASC, c_id ASC""".stripMargin)),
    Entry("q_window_rank", (s, d) => RelOps.windowRank(s, d), Oracle(
      """SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk, drnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER w AS rn, rank() OVER w AS rnk, dense_rank() OVER w AS drnk
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC))
        |WHERE rn <= 3
        |ORDER BY o_custkey ASC, rn ASC""".stripMargin)),
    Entry("q_window_ntile", (s, d) => RelOps.windowNtile(s, d), Oracle(
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |       ntile(4) OVER (PARTITION BY o_orderstatus
        |                      ORDER BY o_totalprice ASC, o_orderkey ASC) AS quartile
        |FROM orders ORDER BY o_orderkey ASC""".stripMargin), bench = false),
    Entry("q_window_running", (s, d) => RelOps.windowRunning(s, d), Oracle(
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |       CAST(sum(CAST(round(o_totalprice * 1000000.0) AS BIGINT))
        |              OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1000000.0 AS running_total
        |FROM orders ORDER BY o_custkey ASC, o_orderkey ASC""".stripMargin), bench = false),
    Entry("q_window_lag", (s, d) => RelOps.windowLag(s, d), Oracle(
      """SELECT user_id, event_id, ts,
        |       lag(event_id, 1) OVER w AS prev_event,
        |       lead(event_id, 1) OVER w AS next_event,
        |       CAST(floor(date_part('epoch', ts)) AS BIGINT)
        |         - CAST(floor(date_part('epoch', lag(ts, 1) OVER w)) AS BIGINT) AS gap_sec
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |ORDER BY user_id ASC, event_id ASC""".stripMargin), bench = false),
    Entry("q_window_range", (s, d) => RelOps.windowRange(s, d), Oracle(
      """SELECT user_id, event_id, ts,
        |       count(*) OVER w AS n_last_hour,
        |       CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) OVER w AS DOUBLE) / 1000000.0 AS sum_last_hour
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |             ORDER BY CAST(floor(date_part('epoch', ts)) AS BIGINT)
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id ASC, event_id ASC""".stripMargin)),
    Entry("q_window_firstlast", (s, d) => RelOps.windowFirstLast(s, d), Oracle(
      """SELECT user_id, event_id, event_type,
        |       first_value(event_type) OVER w AS first_type,
        |       last_value(event_type) OVER w AS last_type
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id ASC, event_id ASC""".stripMargin), bench = false),
    Entry("q_sort_limit", (s, d) => RelOps.sortLimit(s, d), Oracle(
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10")),
    Entry("q_set_union", (s, d) => RelOps.setUnion(s, d), Oracle(
      """SELECT nationkey, kind, count(*) AS n FROM (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey, 'customer' AS kind FROM customer
        |  UNION ALL
        |  SELECT CAST(s_nationkey AS BIGINT), 'supplier' FROM supplier)
        |GROUP BY nationkey, kind
        |ORDER BY nationkey ASC, kind ASC""".stripMargin), bench = false),
    Entry("q_set_intersect", (s, d) => RelOps.setIntersect(s, d), Oracle(
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |INTERSECT
        |SELECT CAST(s_nationkey AS BIGINT) FROM supplier
        |ORDER BY nationkey ASC""".stripMargin), bench = false),
    Entry("q_set_except", (s, d) => RelOps.setExcept(s, d), Oracle(
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |EXCEPT
        |SELECT CAST(s_nationkey AS BIGINT) FROM supplier
        |ORDER BY nationkey ASC""".stripMargin), bench = false),
    Entry("q_agg_concat", (s, d) => TextOps.aggConcat(s, d), Oracle(
      """SELECT lang, string_agg(substr(text, 1, 20), ' | ' ORDER BY doc_id ASC) AS context
        |FROM documents GROUP BY lang ORDER BY lang ASC""".stripMargin)),
    Entry("q_flatten_results", (s, d) => TextOps.flattenResults(s, d), Oracle(
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang, source ORDER BY doc_id ASC) AS rn
        |  FROM documents)
        |WHERE rn <= 2
        |ORDER BY lang ASC, doc_id ASC""".stripMargin), bench = false),
    Entry("q_limit", (s, d) => TextOps.limitK(s, d), Oracle(
      "SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id ASC LIMIT 3"), bench = false),
    Entry("q_upsert_lastwins", (s, d) => TextOps.upsertLastWins(s, d), Oracle(
      """WITH v AS (
        |  SELECT doc_id, lang, substr(text, 1, 40) AS body, CAST(1 AS BIGINT) AS version FROM documents
        |  UNION ALL
        |  SELECT doc_id, lang, 'UPDATED ' || source, 2 FROM documents WHERE doc_id % 7 = 0
        |)
        |SELECT doc_id, lang, body, version FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn FROM v)
        |WHERE rn = 1
        |ORDER BY doc_id ASC""".stripMargin)),
    Entry("q_tree_flatten", (s, d) => TextOps.treeFlatten(s, d), Oracle(
      """SELECT 'root' AS title, '' AS url, CAST(0 AS BIGINT) AS depth
        |UNION ALL
        |SELECT r_name, '/r/' || r_regionkey, 1 FROM region
        |UNION ALL
        |SELECT n_name, '/r/' || n_regionkey || '/n/' || n_nationkey, 2 FROM nation
        |ORDER BY depth ASC, url ASC""".stripMargin)),
    Entry("q_scan_documents", (s, d) => TextOps.scanDocuments(s, d), Oracle(
      "SELECT * FROM documents ORDER BY doc_id ASC"), bench = false),
    Entry("q_project_fields", (s, d) => TextOps.projectFields(s, d), Oracle(
      "SELECT doc_id, lang AS title, substr(text, 1, 60) AS body FROM documents ORDER BY doc_id ASC"), bench = false),
    Entry("q_filter_nonempty", (s, d) => TextOps.filterNonempty(s, d), Oracle(
      "SELECT doc_id, n_chars FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0 ORDER BY doc_id ASC"), bench = false),
    Entry("q_filter_metadata", (s, d) => TextOps.filterMetadata(s, d), Oracle(
      "SELECT doc_id, lang, source FROM documents WHERE lang = 'en' ORDER BY doc_id ASC"), bench = false),
    Entry("q_clean_text", (s, d) => TextOps.cleanText(s, d), Oracle(
      """SELECT doc_id, substr(cleaned, 1, 80) AS cleaned, CAST(length(cleaned) AS BIGINT) AS clean_len
        |FROM (SELECT doc_id,
        |             regexp_replace(replace(text, ' ', chr(10) || chr(10)), '\n+', chr(10), 'g') AS cleaned
        |      FROM documents)
        |ORDER BY doc_id ASC""".stripMargin), bench = false),
    Entry("q_truncate", (s, d) => TextOps.truncate(s, d), Oracle(
      "SELECT doc_id, substr(text, 1, 6000) AS body, least(n_chars, 6000) AS body_len FROM documents ORDER BY doc_id ASC"), bench = false),
    Entry("q_scalar_bundle", (s, d) => RelOps.scalarBundle(s, d), Oracle(
      """SELECT l_orderkey, l_linenumber,
        |       CAST(year(l_shipdate) AS BIGINT) AS ship_year,
        |       CAST(month(l_shipdate) AS BIGINT) AS ship_month,
        |       date_trunc('month', l_shipdate) AS ship_month_start,
        |       CAST(CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT) AS DOUBLE) / 100.0 AS discounted,
        |       lower(l_returnflag) AS flag_lower,
        |       l_returnflag || '/' || l_linestatus AS flag_status,
        |       CAST(length(l_returnflag) AS BIGINT) AS flag_len,
        |       abs(l_quantity) AS abs_qty
        |FROM lineitem ORDER BY l_orderkey ASC, l_linenumber ASC""".stripMargin), bench = false),
    Entry("q_json_extract", (s, d) => TextOps.jsonExtract(s, d), Oracle(
      "SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k, event_type FROM events ORDER BY event_id ASC"), bench = false),
    Entry("q_json_tree", (s, d) => TextOps.jsonTree(s, d), Oracle(JsonTreeOracle), bench = false),
    Entry("q_json_tree_deep", (s, d) => TextOps.jsonTreeDeep(s, d), Oracle(
      // the recursive Generator flattens the SAME payload to the SAME rows —
      // one oracle serves both formulations
      JsonTreeOracle), bench = false),
    Entry("q_rag_e2e", (s, d) => TextOps.ragEndToEndText(s, d, KnnTextQuery), Oracle(
      s"""WITH scored AS (
         |  SELECT e.vec_id,
         |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |               CAST([${knnTextQueryVec().mkString(", ")}] AS DOUBLE[])), 6) AS score
         |  FROM embeddings e),
         |hits AS (
         |  SELECT vec_id, score,
         |         row_number() OVER (ORDER BY score DESC, vec_id ASC) AS rank
         |  FROM scored ORDER BY score DESC, vec_id ASC LIMIT 3),
         |payload AS (
         |  SELECT h.rank, d.source, d.doc_id, substr(d.text, 1, 40) AS snip
         |  FROM hits h JOIN documents d ON h.vec_id = d.doc_id)
         |SELECT '$KnnTextQuery' AS query,
         |       substr('请按照"总结要点"进行总结,内容是：' || string_agg(snip, '' ORDER BY rank ASC), 1, 200) AS llm_prompt,
         |       '参考链接：' || string_agg(chr(10) || chr(10) || source || '     ' || doc_id, '' ORDER BY rank ASC) AS citations
         |FROM payload""".stripMargin)),
    Entry("q_rag_e2e_vec", (s, d) => TextOps.ragEndToEnd(s, d), Oracle(
      """WITH scored AS (
        |  SELECT e.vec_id,
        |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) AS score
        |  FROM embeddings e
        |  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |  WHERE e.vec_id <> 0),
        |hits AS (
        |  SELECT vec_id, score,
        |         row_number() OVER (ORDER BY score DESC, vec_id ASC) AS rank
        |  FROM scored ORDER BY score DESC, vec_id ASC LIMIT 3),
        |payload AS (
        |  SELECT h.rank, d.source, d.doc_id, substr(d.text, 1, 40) AS snip
        |  FROM hits h JOIN documents d ON h.vec_id = d.doc_id)
        |SELECT CAST(0 AS BIGINT) AS query_id,
        |       substr('请按照"总结要点"进行总结,内容是：' || string_agg(snip, '' ORDER BY rank ASC), 1, 200) AS llm_prompt,
        |       '参考链接：' || string_agg(chr(10) || chr(10) || source || '     ' || doc_id, '' ORDER BY rank ASC) AS citations
        |FROM payload""".stripMargin), bench = false),
    Entry("q_chunk_split", (s, d) => TextOps.chunkSplit(s, d), Oracle(
      """WITH c AS (
        |  SELECT doc_id, text,
        |         greatest(1, CAST(ceil((length(text) - 200) / 150.0) + 1 AS BIGINT)) AS n
        |  FROM documents)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |       substr(text, CAST(i * 150 + 1 AS INT), 200) AS chunk,
        |       CAST(length(substr(text, CAST(i * 150 + 1 AS INT), 200)) AS BIGINT) AS chunk_len
        |FROM (SELECT doc_id, text, unnest(range(0, n)) AS i FROM c)
        |ORDER BY doc_id ASC, chunk_idx ASC""".stripMargin), bench = false),
    Entry("q_prompt_template", (s, d) => TextOps.promptTemplate(s, d), Oracle(
      """SELECT doc_id, substr('请按照"总结要点"进行总结,内容是：' || text, 1, 120) AS llm_prompt
        |FROM documents ORDER BY doc_id ASC""".stripMargin), bench = false),
    Entry("q_citation_format", (s, d) => TextOps.citationFormat(s, d), Oracle(
      """WITH ranked AS (
        |  SELECT lang, source, doc_id,
        |         row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rank
        |  FROM documents)
        |SELECT lang,
        |       '参考链接：' || string_agg(chr(10) || chr(10) || source || '     ' || doc_id, '' ORDER BY rank ASC) AS citations
        |FROM ranked WHERE rank <= 3
        |GROUP BY lang ORDER BY lang ASC""".stripMargin), bench = false),
    Entry("q_pipeline_e2e", (s, d) => TextOps.pipelineEndToEnd(s, d), Oracle(
      """WITH q AS (
        |  SELECT doc_id, text,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
        |  FROM documents),
        |filtered AS (
        |  SELECT doc_id, text FROM q
        |  WHERE n_tokens >= 30 AND CAST(n_distinct AS DOUBLE) / n_tokens >= 0.3),
        |deduped AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn
        |    FROM filtered)
        |  WHERE rn = 1),
        |chunked AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |         substr(text, CAST(i * 150 + 1 AS INT), 200) AS chunk
        |  FROM (SELECT doc_id, text,
        |               unnest(range(0, greatest(1, CAST(ceil((length(text) - 200) / 150.0) + 1 AS BIGINT)))) AS i
        |        FROM deduped)),
        |assigned AS (
        |  SELECT doc_id, chunk,
        |         CASE WHEN (doc_id * 2246822519 + chunk_idx * 40503) % 1000 < 800 THEN 'train'
        |              WHEN (doc_id * 2246822519 + chunk_idx * 40503) % 1000 < 900 THEN 'valid'
        |              ELSE 'test' END AS split
        |  FROM chunked)
        |SELECT split, count(*) AS n_chunks,
        |       CAST(sum(len(string_split(chunk, ' '))) AS BIGINT) AS n_tokens,
        |       count(DISTINCT doc_id) AS n_docs
        |FROM assigned GROUP BY split ORDER BY split ASC""".stripMargin)),
    Entry("q_events_tumbling", (s, d) => EventOps.tumbling(s, d), Oracle(
      """SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
        |FROM events
        |GROUP BY date_trunc('day', ts), event_type
        |ORDER BY day ASC, event_type ASC""".stripMargin)),
    Entry("q_events_hopping", (s, d) => EventOps.hopping(s, d), Oracle(
      """SELECT w_start, event_type, count(*) AS n FROM (
        |  SELECT event_type,
        |         unnest([epoch_ms(CAST(floor(date_part('epoch', ts) / 43200) * 43200000 AS BIGINT)),
        |                 epoch_ms(CAST((floor(date_part('epoch', ts) / 43200) - 1) * 43200000 AS BIGINT))]) AS w_start
        |  FROM events)
        |GROUP BY w_start, event_type
        |ORDER BY w_start ASC, event_type ASC""".stripMargin), bench = false),
    Entry("q_events_sessionize", (s, d) => EventOps.sessionize(s, d), Oracle(
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |         lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN prev_ts IS NULL
        |                OR CAST(floor(date_part('epoch', ts)) AS BIGINT)
        |                   - CAST(floor(date_part('epoch', prev_ts)) AS BIGINT) > 1800
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM g),
        |s AS (
        |  SELECT user_id, ts,
        |         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM f)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(ts) AS session_start, max(ts) AS session_end
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id ASC, session_id ASC""".stripMargin)),
    Entry("q_events_retention", (s, d) => EventOps.retention(s, d), Oracle(
      """WITH ev AS (SELECT user_id, date_trunc('day', ts) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id)
        |SELECT cohort_day,
        |       CAST(date_diff('day', cohort_day, day) AS BIGINT) AS day_offset,
        |       count(DISTINCT ev.user_id) AS n_users
        |FROM ev JOIN f USING (user_id)
        |GROUP BY cohort_day, day_offset
        |ORDER BY cohort_day ASC, day_offset ASC""".stripMargin), bench = false),
    Entry("q_events_funnel", (s, d) => EventOps.funnel(s, d), Oracle(
      """WITH v AS (
        |  SELECT user_id, min(ts) AS view_ts FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS click_ts
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.view_ts
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS purchase_ts
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
        |  GROUP BY e.user_id)
        |SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts,
        |       CASE WHEN p.purchase_ts IS NOT NULL THEN 3
        |            WHEN c.click_ts IS NOT NULL THEN 2
        |            ELSE 1 END AS funnel_stage
        |FROM v
        |LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id ASC""".stripMargin), bench = false),
    Entry("q_text_bm25", (s, d) => RetrievalOps.bm25TopK(s, d), Oracle(
      s"""WITH $bm25BaseCtes
         |SELECT doc_id,
         |       round($bm25ScoreExpr, 6) AS bm25
         |FROM f CROSS JOIN s
         |WHERE $bm25AnyHit > 0
         |ORDER BY bm25 DESC, doc_id ASC
         |LIMIT 20""".stripMargin)),
    // served from the persisted stats store, built create-half +
    // upsert-half so the incremental path faces the oracle every run
    Entry("q_text_bm25_stored", (s, d) => RetrievalOps.bm25TopKStored(s, d), Oracle(
      // the stored-stats probe is bit-identical to the live two-scan path
      // (exact-integer partials; see RetrievalOps.bm25TopKStored) — it
      // faces the SAME oracle, which is the point: the persisted artifact
      // must never drift from the definition
      s"""WITH $bm25BaseCtes
         |SELECT doc_id,
         |       round($bm25ScoreExpr, 6) AS bm25
         |FROM f CROSS JOIN s
         |WHERE $bm25AnyHit > 0
         |ORDER BY bm25 DESC, doc_id ASC
         |LIMIT 20""".stripMargin)),
    // inverted-postings serving: zero corpus scans, bucket-pruned read;
    // bit-identical to the stored path → faces the SAME oracle
    Entry("q_text_bm25_indexed", (s, d) => RetrievalOps.bm25TopKIndexed(s, d), Oracle(
      // the postings-index probe (zero corpus scans) is bit-identical to
      // both paths above — same oracle again, same no-drift point
      s"""WITH $bm25BaseCtes
         |SELECT doc_id,
         |       round($bm25ScoreExpr, 6) AS bm25
         |FROM f CROSS JOIN s
         |WHERE $bm25AnyHit > 0
         |ORDER BY bm25 DESC, doc_id ASC
         |LIMIT 20""".stripMargin)),
    // conjunctive (AND) mode: all terms required, same scores/statistics
    Entry("q_text_bm25_conj", (s, d) => {
      val (db, name) = RetrievalOps.ensureLexicalIndex(s, d)
      RetrievalOps.bm25TopKIndexedConj(s, db, name, KnnTextQuery, 20)
    }, Oracle(
      // conjunctive mode: every term required, scores unchanged
      s"""WITH $bm25BaseCtes
         |SELECT doc_id,
         |       round($bm25ScoreExpr, 6) AS bm25
         |FROM f CROSS JOIN s
         |WHERE $bm25AllHit
         |ORDER BY bm25 DESC, doc_id ASC
         |LIMIT 20""".stripMargin), bench = false),
    // FILTER-index composition on the lexical path: metadata predicate
    // restricts candidates, statistics stay corpus-wide (Lucene semantics)
    Entry("q_text_bm25_filtered", (s, d) => {
      val (db, name) = RetrievalOps.ensureLexicalIndex(s, d)
      RetrievalOps.bm25TopKIndexedFiltered(s, db, name,
        Tables.documents(s, d), KnnTextQuery,
        org.apache.spark.sql.functions.col("source") === "src7", 20)
    }, Oracle(
      // filtered lexical search: predicate restricts candidates only —
      // statistics stay corpus-wide, so the score CTEs are unchanged
      s"""WITH $bm25BaseCtes
         |SELECT doc_id,
         |       round($bm25ScoreExpr, 6) AS bm25
         |FROM f CROSS JOIN s
         |WHERE $bm25AnyHit > 0
         |  AND doc_id IN (SELECT doc_id FROM documents WHERE source = 'src7')
         |ORDER BY bm25 DESC, doc_id ASC
         |LIMIT 20""".stripMargin)),
    // batched lexical serving: one corpus scan for a whole query table;
    // fully oracled (r15): the batch is 3 literal queries, so the oracle
    // is a UNION ALL of three single-query chains — each per-query fp
    // chain preserved exactly (also bit-pinned to the stored
    // single-query path in RetrievalSpec)
    Entry("q_text_bm25_batch", (s, d) => {
      val (db, name) = RetrievalOps.ensureBm25Store(s, d)
      RetrievalOps.bm25ForQueriesStored(s, Tables.documents(s, d), db, name,
        s.createDataFrame(Bm25Batch).toDF("query_id", "qtext"))
    }, Oracle(
      // three literal single-query chains UNION ALL'd — per-query fp
      // arithmetic identical to q_text_bm25's proven oracle
      bm25BatchOracleSql())),
    // postings-index batched serving: zero corpus scans for a whole query
    // table; bit-identical to the stored batched path -> SAME oracle
    Entry("q_text_bm25_batch_indexed", (s, d) => {
      val (db, name) = RetrievalOps.ensureLexicalIndex(s, d)
      RetrievalOps.bm25ForQueriesIndexed(s, db, name,
        s.createDataFrame(Bm25Batch).toDF("query_id", "qtext"))
    }, Oracle(
      // engine output bit-identical to the stored batched path -> same SQL
      bm25BatchOracleSql())),
    Entry("q_hybrid_rrf", (s, d) => RetrievalOps.hybridRrf(s, d), Oracle(
      s"""WITH $bm25BaseCtes,
         |b AS (
         |  SELECT doc_id, round($bm25ScoreExpr, 6) AS bm25
         |  FROM f CROSS JOIN s
         |  WHERE $bm25AnyHit > 0
         |  ORDER BY bm25 DESC, doc_id ASC LIMIT 20),
         |lex AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lrank FROM b),
         |vp AS (
         |  SELECT vec_id,
         |         round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
         |               CAST([${knnTextQueryVec().mkString(", ")}] AS DOUBLE[])), 6) AS vscore
         |  FROM embeddings
         |  ORDER BY vscore DESC, vec_id ASC LIMIT 20),
         |vec AS (
         |  SELECT vec_id, row_number() OVER (ORDER BY vscore DESC, vec_id ASC) AS vrank FROM vp)
         |SELECT COALESCE(l.doc_id, v.vec_id) AS doc_id,
         |       CAST(COALESCE(l.lrank, 0) AS BIGINT) AS lex_rank,
         |       CAST(COALESCE(v.vrank, 0) AS BIGINT) AS vec_rank,
         |       round(COALESCE(1.0 / (60.0 + l.lrank), 0.0) + COALESCE(1.0 / (60.0 + v.vrank), 0.0), 6) AS rrf
         |FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.vec_id
         |ORDER BY rrf DESC, doc_id ASC
         |LIMIT 10""".stripMargin)),
    // both pools from persisted artifacts (BM25 store + routed NSW
    // index). Rows-only with a DIRECT pin (r19): the vector pool is a
    // beam-searched NSW walk — recall<1 by construction, and the walk
    // order depends on the engine-built graph no SQL can replay. What
    // RetrievalSpec pins DIRECTLY on THIS entry: at exhaustive
    // settings (beam ≥ corpus, all cells) the ENTIRE fusion equals
    // q_hybrid_rrf bit-for-bit; at production settings the output is
    // still exactly k rows whose rrf scores recompute from the two
    // rank columns by the 1/(60+r) arithmetic, and the LEXICAL side's
    // ranks equal the exact run's (only the vector pool is
    // approximate — the fusion and the BM25 half never are)
    Entry("q_hybrid_rrf_served", (s, d) => RetrievalOps.hybridRrfServed(s, d),
      RowsOnly("vector pool is an NSW beam search; RetrievalSpec pins it")),
    Entry("q_tfidf_topterms", (s, d) => RetrievalOps.tfidfTopTerms(s, d), Oracle(
      """WITH tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  GROUP BY doc_id, term),
        |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |s AS (
        |  SELECT doc_id, term, round(tf * ln(n / df), 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (
        |  SELECT doc_id, term, tfidf,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk
        |  FROM s)
        |SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, tfidf
        |FROM r WHERE rk <= 3
        |ORDER BY doc_id ASC, rk ASC""".stripMargin)),
    // tf-idf from the postings artifact: one postings scan, no explode,
    // no self-join; bit-identical to the live path → SAME oracle
    Entry("q_tfidf_indexed", (s, d) => {
      val (db, name) = RetrievalOps.ensureLexicalIndex(s, d)
      RetrievalOps.tfidfTopTermsIndexed(s, db, name)
    }, Oracle(
      // the postings-served tf-idf is bit-identical to the live path —
      // same oracle, same no-drift point as the bm25 index family
      """WITH tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  GROUP BY doc_id, term),
        |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |s AS (
        |  SELECT doc_id, term, round(tf * ln(n / df), 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (
        |  SELECT doc_id, term, tfidf,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk
        |  FROM s)
        |SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, tfidf
        |FROM r WHERE rk <= 3
        |ORDER BY doc_id ASC, rk ASC""".stripMargin)),
    // greedy MMR, FULLY oracled as of r16: micro-integer scores with
    // pool-order ties replay exactly as k-1 chained CTE rounds
    // (mmrOracleSql); RetrievalSpec still cross-checks the greedy core
    Entry("q_knn_mmr", (s, d) => RetrievalOps.mmrRerank(s, d), Oracle(
      // greedy serving/selection loops unrolled as chained CTE rounds —
      // the same flip, applied to the two remaining deterministic greedies
      mmrOracleSql())),
    // exact phrase match, live corpus-scan form
    Entry("q_text_phrase", (s, d) => RetrievalOps.phraseSearch(s, d), Oracle(phraseOracleSql)),
    // same phrase served from the positional-postings index (create-half
    // + upsert-half each run); bit-identical → SAME oracle
    Entry("q_text_phrase_indexed", (s, d) => {
      val (db, name) = RetrievalOps.ensurePositionalIndex(s, d)
      RetrievalOps.phraseSearchIndexed(s, db, name)
    }, Oracle(
      // the positional-index probe is bit-identical to the live scan —
      // same oracle, same no-drift point as the bm25 indexed twins
      phraseOracleSql)),
    // batched phrase serving: ONE index probe answers a phrase table
    // (includes a repeated-term phrase — the offset-coverage edge case)
    Entry("q_text_phrase_batch", (s, d) => {
      val (db, name) = RetrievalOps.ensurePositionalIndex(s, d)
      val qs = RetrievalOps.PhraseBatch.zipWithIndex
        .map { case (p, i) => (i.toLong, p) }
      RetrievalOps.phraseForQueriesIndexed(s, db, name,
        s.createDataFrame(qs).toDF("query_id", "phrase"))
    }, Oracle(phraseBatchOracleSql)),
    // FILTER-composed phrase: metadata predicate restricts candidates
    // only, pushed below the adjacency chain (Lucene filter semantics)
    Entry("q_text_phrase_filtered", (s, d) => {
      val (db, name) = RetrievalOps.ensurePositionalIndex(s, d)
      RetrievalOps.phraseSearchIndexedFiltered(s, db, name,
        Tables.documents(s, d), RetrievalOps.PhraseQuery,
        org.apache.spark.sql.functions.col("doc_id") % 2 === 0)
    }, Oracle(phraseFilteredOracleSql)),
    // ordered proximity (sloppy phrase): in-order terms with up to 2
    // interleaved tokens per gap; live scan + positions-index twin
    Entry("q_text_near", (s, d) => RetrievalOps.proximitySearch(s, d),
      Oracle(proximityOracleSql(2))),
    Entry("q_text_near_indexed", (s, d) => {
      val (db, name) = RetrievalOps.ensurePositionalIndex(s, d)
      RetrievalOps.proximitySearchIndexed(s, db, name)
    }, Oracle(proximityOracleSql(2))),
    // retrieval-evaluation / pair-mining layer over the knn core
    Entry("q_mine_hardneg", (s, d) => EvalOps.hardNegatives(s, d), Oracle(
      """WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 5),
        |scored AS (
        |  SELECT q.query_id, c.vec_id,
        |         round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.q_emb AS DOUBLE[])), 6) AS score
        |  FROM c CROSS JOIN q WHERE c.label <> q.q_label
        |), ranked AS (
        |  SELECT query_id, vec_id, score,
        |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
        |  FROM scored
        |)
        |SELECT query_id, vec_id, score, rank FROM ranked
        |WHERE rank <= 5
        |ORDER BY query_id ASC, rank ASC""".stripMargin)),
    // ANN-served mining: nprobe-pruned IVF cells. Rows-only with a
    // DIRECT pin, not one inherited from the index entries (r19): the
    // default nprobe < kCells makes the mining pool recall<1 by
    // construction — which cells a query probes depends on the
    // engine-trained k-means centroids, so no closed-form SQL can
    // replay the pruned candidate set. What EvalSpec pins DIRECTLY on
    // THIS entry: at nprobe = kCells the result equals q_mine_hardneg's
    // exact mining bit-for-bit (the approximation is exactly the cell
    // pruning, nothing else), and at pruned probes every mined hit is
    // label-mismatched with dense consistent ranks (a valid, possibly
    // shallower pool — never a wrong pair)
    Entry("q_mine_hardneg_indexed", (s, d) => EvalOps.hardNegativesIndexed(s, d),
      RowsOnly("mines nprobe-pruned IVF cells; EvalSpec pins it")),
    // assembled DPR-style training records: positive + hard negatives
    Entry("q_mine_pairs", (s, d) => EvalOps.trainingPairs(s, d), Oracle(
      """WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 5),
        |scored AS (
        |  SELECT q.query_id, c.vec_id, c.label, q.q_label,
        |         round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.q_emb AS DOUBLE[])), 6) AS score
        |  FROM c CROSS JOIN q
        |), pos AS (
        |  SELECT query_id, 'pos' AS role, rank, vec_id, score FROM (
        |    SELECT query_id, vec_id, score,
        |           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
        |    FROM scored WHERE label = q_label) WHERE rank <= 1
        |), neg AS (
        |  SELECT query_id, 'neg' AS role, rank, vec_id, score FROM (
        |    SELECT query_id, vec_id, score,
        |           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
        |    FROM scored WHERE label <> q_label) WHERE rank <= 3
        |)
        |SELECT query_id, role, rank, vec_id, score
        |FROM (SELECT * FROM pos UNION ALL SELECT * FROM neg)
        |ORDER BY query_id ASC, role ASC, rank ASC""".stripMargin)),
    Entry("q_eval_rank", (s, d) => EvalOps.rankEval(s, d), Oracle(rankEvalOracleSql)),
    Entry("q_eval_rank_macro", (s, d) => EvalOps.rankEvalMacro(s, d), Oracle(
      // macro averages over the SAME per-query metric subquery — per-query
      // values are already rounded to 6 dp, so the integer-microunit sum
      // keeps the average order-independent on both engines
      s"""WITH per AS ($rankEvalOracleSql)
         |SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |       round(CAST(sum(CAST(floor(recall_at_k * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / count(*) / 1000000.0, 6) AS recall_at_k,
         |       round(CAST(sum(CAST(floor(mrr * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / count(*) / 1000000.0, 6) AS mrr,
         |       round(CAST(sum(CAST(floor(ndcg * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / count(*) / 1000000.0, 6) AS ndcg
         |FROM per""".stripMargin)),
    // metrics of the ranking the IVF index actually SERVES. Rows-only
    // with a DIRECT pin (r19): the evaluated run is the nprobe-pruned
    // probe's — recall<1 against the exact run by construction, and
    // the pruned candidate set depends on engine-trained centroids no
    // oracle can replay. EvalSpec pins DIRECTLY on THIS entry: at
    // nprobe = kCells the whole metric frame (n_rel, hits, recall,
    // MRR, nDCG) equals q_eval_rank's exact-scan eval bit-for-bit,
    // and at pruned probes every metric is a valid fraction per query
    // — the entry measures the index's true serving quality, which is
    // exactly why its numbers must NOT equal the exact ones
    Entry("q_eval_rank_indexed", (s, d) => EvalOps.rankEvalIndexed(s, d),
      RowsOnly("scores the nprobe-pruned IVF run; EvalSpec pins it")),
    // crawl-side link centrality (deterministic synthetic edge graph)
    Entry("q_link_pagerank", (s, d) => LinkOps.pageRank(s, d), Oracle(pageRankOracleSql)),
    // the MAINTAINED vector: create(2 rounds) + warm-start refresh(1),
    // served from the store — exact trajectory ⇒ SAME oracle as cold(3)
    Entry("q_link_pagerank_stored", (s, d) => LinkOps.pageRankStoredFixture(s, d),
      Oracle(pageRankOracleSql)),
    Entry("q_decontaminate", (s, d) => TextAnalysisOps.decontaminate(s, d), Oracle(
      """WITH tok AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |ng AS (
        |  SELECT doc_id, source,
        |         unnest(list_distinct(list_transform(range(1, len(t) - 2),
        |           i -> list_aggregate(t[i:i+3], 'string_agg', ' ')))) AS g
        |  FROM tok),
        |eval AS (SELECT DISTINCT g FROM ng WHERE source = 'src19'),
        |hits AS (
        |  SELECT ng.doc_id, CAST(count(*) AS BIGINT) AS shared_ngrams
        |  FROM ng JOIN eval USING (g) WHERE ng.source <> 'src19'
        |  GROUP BY ng.doc_id)
        |SELECT d.doc_id, d.source,
        |       coalesce(h.shared_ngrams, 0) AS shared_ngrams,
        |       CAST(coalesce(h.shared_ngrams, 0) > 0 AS BIGINT) AS contaminated
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |WHERE d.source <> 'src19'
        |ORDER BY d.doc_id ASC""".stripMargin)),
    Entry("q_pack_sequences", (s, d) => TextAnalysisOps.packSequences(s, d), Oracle(
      """WITH t AS (
        |  SELECT doc_id, doc_id // 128 AS shard,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, n_tok,
        |         CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM t)
        |SELECT doc_id, shard, n_tok, cum_before,
        |       CAST(shard * 4294967296 + cum_before // 512 AS BIGINT) AS seq_id
        |FROM c ORDER BY doc_id ASC""".stripMargin)),
    Entry("q_domain_mix", (s, d) => TextAnalysisOps.domainMix(s, d), Oracle(
      """WITH w AS (
        |  SELECT doc_id, source, (doc_id * 2654435761) % 1000 AS bucket,
        |         CAST((coalesce(TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT), length(source)) % 4 + 1) * 0.25 AS DOUBLE) AS weight
        |  FROM documents)
        |SELECT doc_id, source, bucket, weight FROM w
        |WHERE bucket < weight * 1000
        |ORDER BY doc_id ASC""".stripMargin)),
    // XLM-R-style temperature mixing: per-source keep rates learned from
    // measured domain sizes (α = 0.5), applied map-side
    Entry("q_domain_mix_temp", (s, d) => TextAnalysisOps.domainMixTemperature(s, d), Oracle(
      """WITH cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM documents GROUP BY source),
        |tot AS (SELECT sum(sqrt(CAST(n_s AS DOUBLE))) AS z, CAST(sum(n_s) AS BIGINT) AS n FROM cnt),
        |rate AS (
        |  SELECT source,
        |         floor(least(1.0, sqrt(CAST(n_s AS DOUBLE)) / tot.z * 0.5 * tot.n / n_s) * 1000000.0 + 0.5) / 1000000.0 AS keep
        |  FROM cnt CROSS JOIN tot)
        |SELECT d.doc_id, d.source, rate.keep
        |FROM documents d JOIN rate USING (source)
        |WHERE (d.doc_id * 2246822519) % 1000 < rate.keep * 1000
        |ORDER BY d.doc_id ASC""".stripMargin)),
    Entry("q_curate_e2e", (s, d) => TextAnalysisOps.curateEndToEnd(s, d), Oracle(
      """WITH gated AS (
        |  SELECT doc_id, source, text,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents
        |  WHERE source <> 'src19'
        |    AND len(string_split(text, ' ')) >= 20
        |    AND (doc_id * 2654435761) % 1000 <
        |        (coalesce(TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT), length(source)) % 4 + 1) * 0.25 * 1000),
        |ng AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 2),
        |           i -> list_aggregate(string_split(text, ' ')[i:i+3], 'string_agg', ' ')))) AS g
        |  FROM gated),
        |eng AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 2),
        |           i -> list_aggregate(string_split(text, ' ')[i:i+3], 'string_agg', ' ')))) AS g
        |  FROM documents WHERE source = 'src19'),
        |dirty AS (SELECT DISTINCT ng.doc_id FROM ng JOIN eng USING (g)),
        |clean AS (
        |  SELECT g.doc_id, g.source, g.n_tok, g.doc_id // 128 AS shard
        |  FROM gated g LEFT JOIN dirty d ON g.doc_id = d.doc_id
        |  WHERE d.doc_id IS NULL),
        |packed AS (
        |  SELECT doc_id, source, n_tok, shard,
        |         CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM clean)
        |SELECT doc_id, source, n_tok, CAST(shard * 4294967296 + cum_before // 512 AS BIGINT) AS seq_id
        |FROM packed ORDER BY doc_id ASC""".stripMargin)),
    Entry("q_url_canonical", (s, d) => TextOps.urlCanonical(s, d), Oracle(
      s"""WITH $urlFixtureCte,
         |$urlCanonCte
         |SELECT doc_id, url, canonical_url FROM canon ORDER BY doc_id ASC""".stripMargin)),
    Entry("q_url_dedup", (s, d) => TextOps.urlDedup(s, d), Oracle(
      s"""WITH $urlFixtureCte,
         |$urlCanonCte,
         |keep AS (SELECT canonical_url AS cu, min(doc_id) AS canonical_id
         |         FROM canon GROUP BY canonical_url)
         |SELECT c.doc_id AS dup_id, k.canonical_id
         |FROM canon c JOIN keep k ON c.canonical_url = k.cu
         |WHERE c.doc_id <> k.canonical_id
         |ORDER BY dup_id ASC""".stripMargin)),
    // RefinedWeb-style URL admission: UT1-class domain blocklist +
    // weighted strict/soft URL-word score, broadcast-dimension join
    Entry("q_url_blocklist", (s, d) => TextOps.urlBlocklist(s, d), Oracle(
      // UT1-class blocklist + weighted URL-word score, planted hosts
      """WITH u AS (
        |  SELECT doc_id,
        |         'http://host' || CAST(doc_id % 20 AS VARCHAR) || '.example/page/' || CAST(doc_id AS VARCHAR) ||
        |         CASE WHEN doc_id % 7 = 0 THEN '/casino/bonus' ELSE '' END ||
        |         CASE WHEN doc_id % 8 = 0 THEN '/bet-and-win' ELSE '' END AS url
        |  FROM documents),
        |b(bhost) AS (VALUES ('host0.example'), ('host6.example'), ('host12.example'), ('host18.example')),
        |m AS (
        |  SELECT doc_id, url, regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1) AS host,
        |         (CASE WHEN contains(url, 'casino') THEN 5 ELSE 0 END
        |          + CASE WHEN contains(url, 'bet') THEN 1 ELSE 0 END
        |          + CASE WHEN contains(url, 'win') THEN 1 ELSE 0 END) AS sc
        |  FROM u)
        |SELECT m.doc_id, m.url, m.host,
        |       CAST(CASE WHEN b.bhost IS NULL THEN 1 ELSE 0 END AS BIGINT) AS r_domain,
        |       CAST(sc AS BIGINT) AS url_score,
        |       CAST(CASE WHEN sc < 5 THEN 1 ELSE 0 END AS BIGINT) AS r_score,
        |       CAST(CASE WHEN b.bhost IS NULL AND sc < 5 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM m LEFT JOIN b ON m.host = b.bhost
        |ORDER BY m.doc_id ASC""".stripMargin)),
    Entry("q_url_concat", (s, d) => TextOps.urlConcat(s, d), Oracle(
      "SELECT doc_id, 'https://corpus.local/' || source || '/' || doc_id AS url FROM documents ORDER BY doc_id ASC"), bench = false),
    // incremental re-crawl diff by content hash (added/changed/removed)
    Entry("q_crawl_delta", (s, d) => FrontierOps.crawlDelta(s, d), Oracle(
      """WITH old AS (
        |  SELECT doc_id,
        |         md5(CASE WHEN doc_id % 13 = 0 THEN substr(text, 1, 10) ELSE text END) AS old_hash
        |  FROM documents WHERE doc_id % 11 <> 3),
        |neu AS (SELECT doc_id, md5(text) AS new_hash FROM documents WHERE doc_id % 17 <> 5)
        |SELECT coalesce(old.doc_id, neu.doc_id) AS doc_id,
        |       CASE WHEN old.doc_id IS NULL THEN 'added'
        |            WHEN neu.doc_id IS NULL THEN 'removed'
        |            WHEN old_hash <> new_hash THEN 'changed' END AS change,
        |       old_hash, new_hash
        |FROM old FULL OUTER JOIN neu ON old.doc_id = neu.doc_id
        |WHERE old.doc_id IS NULL OR neu.doc_id IS NULL OR old_hash <> new_hash
        |ORDER BY doc_id ASC""".stripMargin)),
    // next-cycle fetch schedule: staleness priority, per-host politeness cap
    Entry("q_crawl_frontier", (s, d) => FrontierOps.crawlFrontier(s, d), Oracle(
      """WITH f AS (
        |  SELECT source AS host, doc_id,
        |         CAST((doc_id % 30) * (CASE lang WHEN 'en' THEN 5 WHEN 'fr' THEN 4
        |                                         WHEN 'es' THEN 3 WHEN 'de' THEN 2 ELSE 1 END)
        |              + n_chars % 7 AS BIGINT) AS priority
        |  FROM documents),
        |r AS (SELECT host, doc_id, priority,
        |             row_number() OVER (PARTITION BY host ORDER BY priority DESC, doc_id ASC) AS slot
        |      FROM f)
        |SELECT host, CAST(slot AS BIGINT) AS slot, doc_id, priority
        |FROM r WHERE slot <= 8
        |ORDER BY host ASC, slot ASC""".stripMargin)),
    // the POLITE frontier: RFC 9309 admission gates the schedule (a
    // disallowed URL never consumes a slot) and crawl-delay shrinks the
    // per-host cap — RobotsOps (built r13) wired into the crawl cycle
    Entry("q_crawl_robots", (s, d) => FrontierOps.crawlFrontierRobots(s, d), Oracle(
      // RFC 9309 admission + delay caps, re-derived from a HANDWRITTEN
      // literal rules table (host class = numeric suffix % 4, mirroring
      // RobotsOps.fixtureRobots): per (page, rule) LIKE match carrying the
      // robots pattern's octet length, longest match wins, allow wins the
      // length tie, no match → allowed; cap = least(8, floor(10/delay)).
      // A group-selection bug (class 2: the graftbot group, not `*`) or a
      // wildcard/$-anchor bug (class 1: '/*7$' → LIKE '/%7') diverges here.
      """WITH f AS (
        |  SELECT source AS host, doc_id,
        |         '/' || lang || '/p' || CAST(doc_id AS VARCHAR) AS path,
        |         CAST((doc_id % 30) * (CASE lang WHEN 'en' THEN 5 WHEN 'fr' THEN 4
        |                                         WHEN 'es' THEN 3 WHEN 'de' THEN 2 ELSE 1 END)
        |              + n_chars % 7 AS BIGINT) AS priority,
        |         try_cast(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) % 4 AS hc
        |  FROM documents),
        |rules(hc, allow, pat, plen) AS (VALUES
        |  (0, false, '/de/%', 4), (0, false, '/zh/%', 4),
        |  (1, false, '/%7', 4), (1, true, '/en/%', 4), (1, false, '/en%', 3),
        |  (2, false, '/es/%', 4)),
        |m AS (
        |  SELECT f.host, f.doc_id, f.path, f.priority, f.hc, r.allow, r.plen
        |  FROM f LEFT JOIN rules r ON f.hc = r.hc AND f.path LIKE r.pat),
        |mm AS (
        |  SELECT host, doc_id, path, priority, hc, allow, plen,
        |         max(plen) OVER (PARTITION BY host, doc_id) AS best
        |  FROM m),
        |v AS (
        |  SELECT host, doc_id, path, priority, hc
        |  FROM mm
        |  GROUP BY host, doc_id, path, priority, hc, best
        |  HAVING best IS NULL OR bool_or(allow AND plen = best)),
        |delays(hc, delay) AS (VALUES (0, 2.0), (1, 3.0)),
        |r2 AS (
        |  SELECT v.host, v.doc_id, v.path, v.priority,
        |         least(CAST(8 AS BIGINT),
        |               CAST(coalesce(floor(10.0 / d.delay), 8) AS BIGINT)) AS cap,
        |         row_number() OVER (PARTITION BY v.host
        |                            ORDER BY v.priority DESC, v.doc_id ASC) AS slot
        |  FROM v LEFT JOIN delays d ON v.hc = d.hc)
        |SELECT host, CAST(slot AS BIGINT) AS slot, doc_id, path, priority
        |FROM r2 WHERE slot <= cap
        |ORDER BY host ASC, slot ASC""".stripMargin)),
    // anchor-text aggregation over the same edge graph (document expansion)
    Entry("q_link_anchors", (s, d) => LinkOps.linkAnchors(s, d), Oracle(
      s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |ks AS (SELECT unnest([1, 2, 3, 4]) AS k),
         |e AS (
         |  SELECT d.doc_id AS src,
         |         (d.doc_id * ${graft.operators.LinkOps.EdgeMult} + ks.k * ${graft.operators.LinkOps.EdgeStride}) % n.n AS dst
         |  FROM documents d CROSS JOIN n CROSS JOIN ks
         |  WHERE (d.doc_id * ${graft.operators.LinkOps.EdgeMult} + ks.k * ${graft.operators.LinkOps.EdgeStride}) % n.n <> d.doc_id),
         |a AS (SELECT e.dst, list(substr(d.text, 1, 24) ORDER BY e.src) AS l
         |      FROM e JOIN documents d ON e.src = d.doc_id GROUP BY e.dst)
         |SELECT dst AS doc_id, CAST(len(l) AS BIGINT) AS in_degree,
         |       array_to_string(l[1:3], ' | ') AS top_anchors
         |FROM a ORDER BY doc_id ASC""".stripMargin)),
    // HITS hubs/authorities: the second classic centrality, nano-int exact
    Entry("q_link_hits", (s, d) => LinkOps.hits(s, d), Oracle(hitsOracleSql)),
    // degree-ordered triangle count + global clustering coefficient
    Entry("q_link_triangles", (s, d) => LinkOps.triangleCount(s, d), Oracle(
      s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |ks AS (SELECT unnest([1, 2, 3, 4]) AS k),
         |e AS (
         |  SELECT d.doc_id AS src,
         |         (d.doc_id * ${graft.operators.LinkOps.EdgeMult} + ks.k * ${graft.operators.LinkOps.EdgeStride}) % n.n AS dst
         |  FROM documents d CROSS JOIN n CROSS JOIN ks
         |  WHERE (d.doc_id * ${graft.operators.LinkOps.EdgeMult} + ks.k * ${graft.operators.LinkOps.EdgeStride}) % n.n <> d.doc_id),
         |u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e),
         |deg AS (SELECT v, count(*) AS d FROM (
         |          SELECT a AS v FROM u UNION ALL SELECT b FROM u) GROUP BY v),
         |tri AS (SELECT count(*) AS t FROM u t1
         |        JOIN u t2 ON t1.b = t2.a
         |        JOIN u t3 ON t3.a = t1.a AND t3.b = t2.b),
         |w AS (SELECT CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS nw FROM deg)
         |SELECT t AS n_triangles, nw AS n_wedges,
         |       round(3.0 * t / nw, 6) AS clustering
         |FROM tri CROSS JOIN w""".stripMargin)),
    // MATCH_RECOGNIZE-lite: regex over each user's ordered event string
    Entry("q_events_pattern", (s, d) => EventOps.eventPattern(s, d), Oracle(
      """WITH s AS (
        |  SELECT user_id,
        |         string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY user_id)
        |SELECT user_id, CAST(length(seq) AS BIGINT) AS seq_len,
        |       CAST(len(regexp_extract_all(seq, 'v[ce]*p')) AS BIGINT) AS n_matches
        |FROM s ORDER BY user_id ASC""".stripMargin)),
    // Efraimidis-Spirtes weighted reservoir: top-k by deterministic A-ES key
    Entry("q_sample_weighted", (s, d) => RelOps.sampleWeighted(s, d), Oracle(
      """WITH s AS (
        |  SELECT doc_id, source, n_chars,
        |         ln((CAST((doc_id * 3266489917) % 1000003 AS DOUBLE) + 0.5) / 1000003.0)
        |           / CAST(n_chars AS DOUBLE) AS aes_key
        |  FROM documents)
        |SELECT doc_id, source, n_chars FROM s
        |ORDER BY aes_key DESC, doc_id ASC
        |LIMIT 200""".stripMargin)),
    // per-source weighted reservoirs through the bounded-heap group top-k
    Entry("q_sample_weighted_grouped", (s, d) => RelOps.sampleWeightedGrouped(s, d), Oracle(
      """WITH s AS (
        |  SELECT source, doc_id,
        |         ln((CAST((doc_id * 3266489917) % 1000003 AS DOUBLE) + 0.5) / 1000003.0)
        |           / CAST(n_chars AS DOUBLE) AS aes_key
        |  FROM documents),
        |r AS (SELECT source, doc_id,
        |             row_number() OVER (PARTITION BY source
        |                                ORDER BY aes_key DESC, doc_id ASC) AS rank
        |      FROM s)
        |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id
        |FROM r WHERE rank <= 10
        |ORDER BY source ASC, rank ASC""".stripMargin)),
    // incremental materialized view: the daily report served from the store
    Entry("q_report_maintained", (s, d) => EventOps.reportMaintained(s, d), Oracle(
      """SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
        |FROM events GROUP BY 1, 2
        |ORDER BY day ASC, event_type ASC""".stripMargin)),
    // RM3-lite pseudo-relevance feedback: seed pool -> expansion -> re-score
    Entry("q_text_prf", (s, d) => RetrievalOps.prfTopK(s, d), Oracle(prfOracleSql)),
    // asymmetric containment: A quoted/cropped inside B (Broder 1997)
    Entry("q_dedup_containment", (s, d) => DedupOps.containmentPairs(s, d), Oracle(
      // brute-force directed containment over word 3-gram shingle lists;
      // the engine's prefix-filter candidates + sorted-merge verify must
      // reproduce it exactly (the filter is exact-recall by pigeonhole)
      """WITH bg AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(w) - 1),
        |           i -> w[i] || chr(30) || w[i + 1] || chr(30) || w[i + 2])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 3)
        |SELECT a_id, b_id, round(c, 6) AS containment FROM (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) AS c
        |  FROM bg a JOIN bg b ON a.doc_id <> b.doc_id)
        |WHERE c >= 0.6
        |ORDER BY a_id ASC, b_id ASC""".stripMargin)),
    // document-level PMI over the df-pruned vocabulary (Church & Hanks)
    Entry("q_term_cooccur", (s, d) => TextAnalysisOps.termCooccurrence(s, d), Oracle(
      // document-level PMI: integer counts throughout; the one double op
      // (ln of an integer ratio, identical operand order) rounded at 6 —
      // the BM25 cross-engine convention
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
        |  FROM documents),
        |dfreq AS (SELECT t, count(*) AS df FROM tok GROUP BY 1),
        |keep AS (SELECT t, df FROM dfreq ORDER BY df DESC, t ASC LIMIT 64),
        |pruned AS (SELECT tok.doc_id, tok.t, keep.df
        |           FROM tok JOIN keep ON tok.t = keep.t),
        |n AS (SELECT count(*) AS nd FROM documents),
        |pairs AS (
        |  SELECT a.t AS term_a, b.t AS term_b, a.df AS df_a, b.df AS df_b,
        |         count(*) AS n_ab
        |  FROM pruned a JOIN pruned b
        |    ON a.doc_id = b.doc_id AND a.t < b.t
        |  GROUP BY 1, 2, 3, 4)
        |SELECT term_a, term_b, n_ab,
        |       round(ln((CAST(n_ab AS DOUBLE) * CAST(nd AS DOUBLE)) /
        |                (CAST(df_a AS DOUBLE) * CAST(df_b AS DOUBLE))), 6) AS pmi
        |FROM pairs CROSS JOIN n
        |ORDER BY n_ab DESC, term_a ASC, term_b ASC
        |LIMIT 20""".stripMargin)),
    // SymSpell deletion-neighborhood fuzzy vocabulary lookup
    Entry("q_text_fuzzy", (s, d) => RetrievalOps.fuzzyVocabMatch(s, d), Oracle(
      // brute-force levenshtein over the whole vocabulary — the engine's
      // deletion-neighborhood join must find exactly the same matches;
      // the query-term VALUES literal is built from the ONE Scala list
      s"""WITH v AS (
         |  SELECT term, count(*) AS n_occur
         |  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
         |  WHERE len(term) > 0
         |  GROUP BY 1),
         |q(q_term) AS (VALUES ${graft.operators.RetrievalOps.FuzzyQueryTerms
              .map(t => s"('$t')").mkString(", ")})
         |SELECT q_term, term, n_occur
         |FROM q JOIN v ON levenshtein(q_term, term) <= 1
         |ORDER BY q_term ASC, term ASC""".stripMargin)),
    // first-order Markov transition matrix over user timelines
    Entry("q_events_transitions", (s, d) => EventOps.transitions(s, d), Oracle(TransitionsSql)),
    // per-type daily z-scores from integer moments; |z| >= 2 flagged
    Entry("q_events_anomaly", (s, d) => EventOps.dailyAnomalies(s, d), Oracle(
      // integer moments (D days, S = Σn, Q = Σn²) per type; z is ONE shared
      // double expression over them — identical operand order both engines
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, count(*) AS d, sum(n) AS s, sum(n * n) AS q
        |  FROM daily GROUP BY 1)
        |SELECT event_type, day, n,
        |       round(CAST(d * n - s AS DOUBLE) /
        |             sqrt(CAST(d AS DOUBLE) * CAST(d * q - s * s AS DOUBLE) /
        |                  CAST(d - 1 AS DOUBLE)), 6) AS z,
        |       CAST(abs(round(CAST(d * n - s AS DOUBLE) /
        |             sqrt(CAST(d AS DOUBLE) * CAST(d * q - s * s AS DOUBLE) /
        |                  CAST(d - 1 AS DOUBLE)), 6)) >= 2.0 AS BIGINT) AS is_anomaly
        |FROM daily JOIN m USING (event_type)
        |WHERE d > 1 AND d * q - s * s > 0
        |ORDER BY event_type ASC, day ASC""".stripMargin)),
    // synchronous label propagation communities (rows-only: iterative)
    Entry("q_link_communities", (s, d) => LinkOps.labelPropagation(s, d), Oracle(
      // synchronous LPA unrolled 5 rounds — all-integer trajectory, exact;
      // early-stop ≡ full budget by idempotence (law-pinned), so the
      // engine's convergence stop faces the full-budget oracle
      lpaOracleSql())),
    // least-central-to-own-label vectors: the pre-training outlier sweep
    Entry("q_vec_outliers", (s, d) => KnnOps.outliers(s, d), Oracle(
      // centroid micro-rounded BEFORE the cosine in both engines — the
      // unrounded mean is a row-order-dependent double sum
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (
        |  SELECT label, list(round(cv, 6) ORDER BY pos) AS centroid FROM (
        |    SELECT label, pos, avg(x) AS cv FROM (
        |      SELECT label, unnest(v) AS x, unnest(range(len(v))) AS pos FROM e)
        |    GROUP BY label, pos)
        |  GROUP BY label)
        |SELECT e.vec_id, e.label,
        |       round(list_cosine_similarity(e.v, c.centroid), 6) AS centrality
        |FROM e JOIN c ON e.label = c.label
        |ORDER BY centrality ASC, vec_id ASC
        |LIMIT 20""".stripMargin)),
    // window-granularity PMI (w=3): the word2vec counting pass
    Entry("q_term_cooccur_win", (s, d) => TextAnalysisOps.termCooccurrenceWindow(s, d), Oracle(
      // nested list comprehension mirrors the engine's bounded per-position
      // fan-out; DuckDB range(a,b) is [a,b) so the inner bound carries +1
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |pairs AS (
        |  SELECT unnest(flatten(list_transform(range(1, len(w)), i ->
        |    list_transform(range(i + 1, least(i + 3, len(w)) + 1), j ->
        |      [least(w[i], w[j]), greatest(w[i], w[j])])))) AS p
        |  FROM t),
        |cnt AS (
        |  SELECT p[1] AS term_a, p[2] AS term_b, count(*) AS n_ab
        |  FROM pairs GROUP BY 1, 2),
        |uni AS (
        |  SELECT x, count(*) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS x FROM documents)
        |  GROUP BY 1),
        |tot AS (SELECT sum(c) AS tu FROM uni),
        |tp AS (SELECT sum(n_ab) AS t_p FROM cnt)
        |SELECT term_a, term_b, n_ab,
        |       round(ln((CAST(n_ab AS DOUBLE) * CAST(tu AS DOUBLE) * CAST(tu AS DOUBLE)) /
        |                (CAST(t_p AS DOUBLE) * CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE))), 6) AS pmi
        |FROM cnt CROSS JOIN tot CROSS JOIN tp
        |JOIN uni ca ON cnt.term_a = ca.x
        |JOIN uni cb ON cnt.term_b = cb.x
        |ORDER BY n_ab DESC, term_a ASC, term_b ASC
        |LIMIT 20""".stripMargin)),
    // fraction of directed edges whose reverse exists (link-farm tell)
    Entry("q_link_reciprocity", (s, d) => LinkOps.reciprocity(s, d), Oracle(
      s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |ks AS (SELECT unnest([1, 2, 3, 4]) AS k),
         |e AS (
         |  SELECT DISTINCT d.doc_id AS src,
         |         (d.doc_id * ${graft.operators.LinkOps.EdgeMult} + ks.k * ${graft.operators.LinkOps.EdgeStride}) % n.n AS dst
         |  FROM documents d CROSS JOIN n CROSS JOIN ks
         |  WHERE (d.doc_id * ${graft.operators.LinkOps.EdgeMult} + ks.k * ${graft.operators.LinkOps.EdgeStride}) % n.n <> d.doc_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_edges,
         |       CAST(sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_reciprocal,
         |       round(CAST(sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) /
         |             CAST(count(*) AS DOUBLE), 6) AS reciprocity
         |FROM e LEFT JOIN (SELECT dst AS src, src AS dst FROM e) r
         |  ON e.src = r.src AND e.dst = r.dst""".stripMargin)),
    // the maintained form: boundary-state store, no event scan at ask time
    Entry("q_events_transitions_stored", (s, d) => EventOps.transitionsStored(s, d), Oracle(
      // the boundary-bridged fold equals the one-shot matrix exactly
      TransitionsSql)),
    // pairwise source-distribution JSD: the mixture-shift alarm
    Entry("q_source_drift", (s, d) => TextAnalysisOps.sourceDrift(s, d), Oracle(
      // per-term contribution nano-rounded BEFORE the sum (one shared
      // double expression over integer counts) — order-free integer Σ
      """WITH counts AS (
        |  SELECT source, t, count(*) AS c
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS t FROM documents)
        |  GROUP BY 1, 2),
        |tot AS (SELECT source, sum(c) AS n FROM counts GROUP BY 1),
        |vocab AS (SELECT DISTINCT t FROM counts),
        |dense AS (
        |  SELECT s.source, v.t, coalesce(c.c, 0) AS c, s.n
        |  FROM tot s CROSS JOIN vocab v
        |  LEFT JOIN counts c ON c.source = s.source AND c.t = v.t),
        |p AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |         CAST(a.c AS DOUBLE) / CAST(a.n AS DOUBLE) AS pa,
        |         CAST(b.c AS DOUBLE) / CAST(b.n AS DOUBLE) AS pb
        |  FROM dense a JOIN dense b ON a.t = b.t AND a.source < b.source),
        |q AS (SELECT source_a, source_b, pa, pb, (pa + pb) / 2.0 AS m FROM p),
        |nano AS (
        |  SELECT source_a, source_b,
        |         CAST(floor(((CASE WHEN pa > 0 THEN pa * ln(pa / m) ELSE 0 END) * 0.5 +
        |                     (CASE WHEN pb > 0 THEN pb * ln(pb / m) ELSE 0 END) * 0.5)
        |                    * 1000000000.0 + 0.5) AS BIGINT) AS nn
        |  FROM q)
        |SELECT source_a, source_b,
        |       round(CAST(sum(nn) AS DOUBLE) / 1000000000.0, 6) AS jsd
        |FROM nano GROUP BY 1, 2
        |ORDER BY source_a ASC, source_b ASC""".stripMargin)),
    // pages cited together (A^T A off-diagonal): related-pages signal
    Entry("q_link_cocitation", (s, d) => LinkOps.coCitation(s, d), Oracle(
      s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |ks AS (SELECT unnest([1, 2, 3, 4]) AS k),
         |e AS (
         |  SELECT DISTINCT d.doc_id AS src,
         |         (d.doc_id * ${graft.operators.LinkOps.EdgeMult} + ks.k * ${graft.operators.LinkOps.EdgeStride}) % n.n AS dst
         |  FROM documents d CROSS JOIN n CROSS JOIN ks
         |  WHERE (d.doc_id * ${graft.operators.LinkOps.EdgeMult} + ks.k * ${graft.operators.LinkOps.EdgeStride}) % n.n <> d.doc_id)
         |SELECT l.dst AS a, r.dst AS b, count(*) AS n_cocite
         |FROM e l JOIN e r ON l.src = r.src AND l.dst < r.dst
         |GROUP BY 1, 2
         |ORDER BY n_cocite DESC, a ASC, b ASC
         |LIMIT 20""".stripMargin)),
    // DSIR importance-weighted selection (Xie et al. 2023): target-vs-raw
    // n-gram LM log-ratio per doc, nano-unit exact → fully oracled.
    // The DEFAULT chain targets the DERIVED language label as of r17 —
    // no default consumes the fixture lang column (ground truth a crawl
    // never has); the fixture-label originals live on as _goldlang
    // continuity twins below
    Entry("q_select_dsir", (s, d) => MlOps.dsirSelectLangId(s, d), Oracle(
      // the q_select_dsir chain with the DERIVED label marking the target:
      // lang-id CTEs supply the per-doc prediction, everything downstream
      // (features, add-1 smoothing, nano-rounded log-ratio dot product,
      // length-de-biased top-m) is the proven dsir arithmetic verbatim
      dsirLangIdSql)),
    // depth-limited multi-source BFS: min-hop crawl depth from the seeds
    Entry("q_link_depth", (s, d) => LinkOps.bfsDepth(s, d), Oracle(
      // BFS depth: recursive-CTE min-hop reference over the same edge hash
      s"""WITH RECURSIVE n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |ks AS (SELECT unnest([1, 2, 3, 4]) AS k),
         |e AS (
         |  SELECT DISTINCT d.doc_id AS src,
         |         (d.doc_id * ${graft.operators.LinkOps.EdgeMult} + ks.k * ${graft.operators.LinkOps.EdgeStride}) % n.n AS dst
         |  FROM documents d CROSS JOIN n CROSS JOIN ks
         |  WHERE (d.doc_id * ${graft.operators.LinkOps.EdgeMult} + ks.k * ${graft.operators.LinkOps.EdgeStride}) % n.n <> d.doc_id),
         |bfs(doc_id, depth) AS (
         |  SELECT doc_id, 0 AS depth FROM documents WHERE doc_id % 100 = 0
         |  UNION
         |  SELECT e.dst, b.depth + 1 FROM bfs b JOIN e ON e.src = b.doc_id
         |  WHERE b.depth < 3)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |       CAST(min(depth) AS INT) AS depth
         |FROM bfs GROUP BY doc_id ORDER BY doc_id ASC""".stripMargin)),
    // Pearson matrix from exact integer-cent moments: one pass, 15 numbers
    Entry("q_corr_matrix", (s, d) => RelOps.corrMatrix(s, d), Oracle(
      // Pearson from exact integer-cent moments: r is ONE shared double
      // expression over them with identical operand order in both engines
      """WITH c AS (
        |  SELECT CAST(round(l_discount * 100) AS BIGINT) AS d,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS e,
        |         CAST(round(l_quantity * 100) AS BIGINT) AS q,
        |         CAST(round(l_tax * 100) AS BIGINT) AS t
        |  FROM lineitem),
        |m AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |         CAST(sum(d) AS DOUBLE) AS sd, CAST(sum(e) AS DOUBLE) AS se,
        |         CAST(sum(q) AS DOUBLE) AS sq, CAST(sum(t) AS DOUBLE) AS st,
        |         CAST(sum(d*d) AS DOUBLE) AS qd, CAST(sum(e*e) AS DOUBLE) AS qe,
        |         CAST(sum(q*q) AS DOUBLE) AS qq, CAST(sum(t*t) AS DOUBLE) AS qt,
        |         CAST(sum(d*e) AS DOUBLE) AS pde, CAST(sum(d*q) AS DOUBLE) AS pdq,
        |         CAST(sum(d*t) AS DOUBLE) AS pdt, CAST(sum(e*q) AS DOUBLE) AS peq,
        |         CAST(sum(e*t) AS DOUBLE) AS pet, CAST(sum(q*t) AS DOUBLE) AS pqt
        |  FROM c)
        |SELECT col_a, col_b, corr FROM (
        |  SELECT 'l_discount' AS col_a, 'l_extendedprice' AS col_b,
        |         round((n*pde - sd*se) / (sqrt(n*qd - sd*sd) * sqrt(n*qe - se*se)), 6) AS corr FROM m
        |  UNION ALL
        |  SELECT 'l_discount', 'l_quantity',
        |         round((n*pdq - sd*sq) / (sqrt(n*qd - sd*sd) * sqrt(n*qq - sq*sq)), 6) FROM m
        |  UNION ALL
        |  SELECT 'l_discount', 'l_tax',
        |         round((n*pdt - sd*st) / (sqrt(n*qd - sd*sd) * sqrt(n*qt - st*st)), 6) FROM m
        |  UNION ALL
        |  SELECT 'l_extendedprice', 'l_quantity',
        |         round((n*peq - se*sq) / (sqrt(n*qe - se*se) * sqrt(n*qq - sq*sq)), 6) FROM m
        |  UNION ALL
        |  SELECT 'l_extendedprice', 'l_tax',
        |         round((n*pet - se*st) / (sqrt(n*qe - se*se) * sqrt(n*qt - st*st)), 6) FROM m
        |  UNION ALL
        |  SELECT 'l_quantity', 'l_tax',
        |         round((n*pqt - sq*st) / (sqrt(n*qq - sq*sq) * sqrt(n*qt - st*st)), 6) FROM m)
        |ORDER BY col_a ASC, col_b ASC""".stripMargin)),
    // the MAINTAINED model, trained AND asked on the derived label:
    // integer count folds keep it bit-identical to the live selection
    Entry("q_select_dsir_stored", (s, d) => MlOps.dsirSelectStoredLangId(s, d), Oracle(
      // maintained derived-label model (r16): integer count folds keep the
      // served selection bit-identical to the live derived-label chain —
      // SAME oracle; the LAST ground-truth lang consumer (the stored
      // model's training marker) is gone
      dsirLangIdSql)),
    Entry("q_link_coupling", (s, d) => LinkOps.coupling(s, d), Oracle(
      s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |ks AS (SELECT unnest([1, 2, 3, 4]) AS k),
         |e AS (
         |  SELECT DISTINCT d.doc_id AS src,
         |         (d.doc_id * ${graft.operators.LinkOps.EdgeMult} + ks.k * ${graft.operators.LinkOps.EdgeStride}) % n.n AS dst
         |  FROM documents d CROSS JOIN n CROSS JOIN ks
         |  WHERE (d.doc_id * ${graft.operators.LinkOps.EdgeMult} + ks.k * ${graft.operators.LinkOps.EdgeStride}) % n.n <> d.doc_id),
         |keep AS (SELECT dst FROM e GROUP BY dst HAVING count(*) <= 1000),
         |p AS (SELECT e.src, e.dst FROM e JOIN keep ON e.dst = keep.dst)
         |SELECT l.src AS a, r.src AS b, count(*) AS n_couple
         |FROM p l JOIN p r ON l.dst = r.dst AND l.src < r.src
         |GROUP BY 1, 2
         |ORDER BY n_couple DESC, a ASC, b ASC
         |LIMIT 20""".stripMargin)),
    // farthest-first k-center coreset (Gonzalez 1985 / Sener & Savarese
    // 2018): the DIVERSITY selection pass — FULLY oracled as of r16
    // (micro-rounded distances replay as chained pick/fold CTE rounds,
    // kcenterOracleSql); driver-reference + planted-cluster pins stay
    Entry("q_select_kcenter", (s, d) => MlOps.kcenterSelect(s, d), Oracle(kcenterOracleSql())),
    // SEMANTIC decontamination: max cosine vs a broadcast eval-suite row,
    // folded map-side — catches paraphrase leakage n-grams can't
    Entry("q_decontaminate_sem", (s, d) => KnnOps.semanticDecontaminate(s, d), Oracle(
      """WITH ev AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE label = 0),
        |c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings WHERE label <> 0),
        |m AS (
        |  SELECT c.vec_id,
        |         round(max(list_cosine_similarity(c.e, ev.e)), 6) AS max_eval_cos
        |  FROM c CROSS JOIN ev GROUP BY c.vec_id)
        |SELECT vec_id, max_eval_cos,
        |       CAST(CASE WHEN max_eval_cos >= 0.45 THEN 1 ELSE 0 END AS BIGINT)
        |         AS contaminated
        |FROM m ORDER BY vec_id ASC""".stripMargin)),
    // CCNet head/middle/tail: bigram-LM score split at EXACT tercile
    // fences from the iterative histogram refinement
    Entry("q_ppl_buckets", (s, d) => TextAnalysisOps.pplBuckets(s, d), Oracle(
      // same LM CTEs as q_lm_bigram; fences = exact order statistics at
      // ranks floor(p*(n-1)) — value-at-rank is tie-permutation invariant
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |big AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
        |        FROM toks WHERE len(t) >= 2)),
        |lc AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1),
        |bc AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2),
        |per AS (
        |  SELECT b.doc_id, CAST(bc.c2 AS DOUBLE) / lc.c1 AS p
        |  FROM big b JOIN bc USING (w1, w2) JOIN lc USING (w1)),
        |agg AS (
        |  SELECT doc_id,
        |         floor(CAST(sum(CAST(floor(p * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |               / count(*) + 0.5) / 1000000.0 AS avg_cond_p
        |  FROM per GROUP BY doc_id),
        |scored AS (
        |  SELECT d.doc_id, CAST(coalesce(a.avg_cond_p, 0.0) AS DOUBLE) AS avg_cond_p
        |  FROM documents d LEFT JOIN agg a USING (doc_id)),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n FROM scored),
        |ranked AS (
        |  SELECT avg_cond_p,
        |         row_number() OVER (ORDER BY avg_cond_p) - 1 AS r FROM scored),
        |f AS (
        |  SELECT max(CASE WHEN r = CAST(floor((1.0 / 3.0) * (n - 1)) AS BIGINT)
        |               THEN avg_cond_p END) AS f1,
        |         max(CASE WHEN r = CAST(floor((2.0 / 3.0) * (n - 1)) AS BIGINT)
        |               THEN avg_cond_p END) AS f2
        |  FROM ranked CROSS JOIN stats)
        |SELECT s.doc_id, s.avg_cond_p,
        |       CASE WHEN s.avg_cond_p <= f.f1 THEN 'tail'
        |            WHEN s.avg_cond_p <= f.f2 THEN 'middle'
        |            ELSE 'head' END AS bucket
        |FROM scored s CROSS JOIN f
        |ORDER BY s.doc_id ASC""".stripMargin)),
    // the published Gopher rule battery — every ratio threshold an
    // integer cross-multiplication, boundary-exact in both engines
    Entry("q_gopher_rules", (s, d) => TextAnalysisOps.gopherRules(s, d), Oracle(
      // every ratio rule is an integer cross-multiplication — no division,
      // no rounding site, boundary-exact in both engines by construction
      """WITH base AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS t,
        |         string_split(text, chr(10)) AS ls
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(t) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(t, w -> length(w))) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) +
        |      CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT)
        |      AS n_symbols,
        |    CAST(len(ls) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(ls, l -> starts_with(trim(l), '-')
        |      OR starts_with(trim(l), '*'))) AS BIGINT) AS n_bullet,
        |    CAST(len(list_filter(ls, l -> ends_with(trim(l), '...'))) AS BIGINT)
        |      AS n_ell_end,
        |    CAST(len(list_filter(t, w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT)
        |      AS n_alpha_words,
        |    CAST(len(list_filter(['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'],
        |      s -> list_contains(list_transform(t, w -> lower(w)), s))) AS BIGINT)
        |      AS n_stopwords
        |  FROM base),
        |r AS (
        |  SELECT *,
        |    CAST(n_words >= 50 AND n_words <= 100000 AS BIGINT) AS r_word_count,
        |    CAST(n_chars >= 3 * n_words AND n_chars <= 10 * n_words AS BIGINT)
        |      AS r_word_len,
        |    CAST(10 * n_symbols <= n_words AS BIGINT) AS r_symbol_ratio,
        |    CAST(10 * n_bullet <= 9 * n_lines AS BIGINT) AS r_bullet,
        |    CAST(10 * n_ell_end <= 3 * n_lines AS BIGINT) AS r_ellipsis,
        |    CAST(5 * n_alpha_words >= 4 * n_words AS BIGINT) AS r_alpha,
        |    CAST(n_stopwords >= 2 AS BIGINT) AS r_stopwords
        |  FROM c)
        |SELECT doc_id, n_words, n_chars, n_symbols, n_lines, n_bullet,
        |       n_ell_end, n_alpha_words, n_stopwords, r_word_count,
        |       r_word_len, r_symbol_ratio, r_bullet, r_ellipsis, r_alpha,
        |       r_stopwords,
        |       r_word_count * r_word_len * r_symbol_ratio * r_bullet *
        |         r_ellipsis * r_alpha * r_stopwords AS keep
        |FROM r ORDER BY doc_id ASC""".stripMargin)),
    // the CCNet composition: rule gate AND LM head+middle buckets
    Entry("q_curate_ccnet", (s, d) => TextAnalysisOps.curateCcnet(s, d), Oracle(
      // the two gates' CTEs composed verbatim (thresholds 20/100000/1)
      curateCcnetSql("documents"))),
    // JL Rademacher projection from a shared integer-lattice matrix —
    // map-side, matrix never materialized, one rounding site
    Entry("q_vec_project", (s, d) => KnnOps.vecProject(s, d), Oracle(
      // the ±1 matrix cell recomputed from the same integer lattice; the
      // fold is an explicit left-to-right list_reduce so the double
      // summation order matches Spark's aggregate exactly
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ks AS (SELECT unnest(range(0, 16)) AS k)
        |SELECT e.vec_id, CAST(ks.k AS BIGINT) AS k,
        |       round(list_reduce(
        |         list_transform(range(0, len(v)), j ->
        |           v[j + 1] * (CASE WHEN (((ks.k * 65537::BIGINT + j + 1)
        |               * 2654435761::BIGINT) % 2147483647) % 2 = 0
        |             THEN 1.0 ELSE -1.0 END)),
        |         (a, b) -> a + b) / sqrt(16.0), 6) AS v
        |FROM e CROSS JOIN ks
        |ORDER BY vec_id ASC, k ASC""".stripMargin)),
    // two-phase projected knn: coarse scan over the stored JL space,
    // full-precision rescore; rows-only (approximate by construction)
    Entry("q_knn_projected", (s, d) => KnnOps.topKProjectedProbe(s, d),
      RowsOnly("approximate: coarse scan in a JL-projected space")),
    // keep the BEST copy per near-dup cluster, not the first: one
    // component-keyed order-free argmax on top of the CC resolution
    Entry("q_dedup_keepbest", (s, d) => DedupOps.dedupKeepBest(s, d), Oracle(
      // the CC closure composed with the q_text_quality composite; both
      // engines rank on the ROUNDED quality, doc_id breaks ties
      KeepBestOracle)),
    // the MAINTAINED closure: component store built create(evens) +
    // incremental refresh(odds), keep-best served as one store read +
    // argmax — same oracle as the live twin (the fold is exact)
    Entry("q_dedup_keepbest_stored", (s, d) => DedupOps.keepBestStoredFixture(s, d), Oracle(
      // the stored twin faces the SAME oracle: create(evens) + incremental
      // refresh(odds) is an exact fold, not an approximation
      KeepBestOracle)),
    // the closure served from the maintained component store (one
    // bucketed read; same recursive-CTE oracle — the fold is exact)
    Entry("q_dedup_cc_stored", (s, d) => DedupOps.connectedStoredFixture(s, d), Oracle(
      // the stored twin faces the SAME recursive-CTE oracle: the
      // incremental merge fold is exact
      ConnectedOracle)),
    // the maintained loop end to end: IVF collection built from the OLD
    // snapshot, the delta's added/changed re-embedded + upserted and its
    // removals retired — rows-only (k-means cells + hash embedder are
    // engine-native); streaming twin ≡ batch apply pinned in tests
    Entry("q_crawl_maintain", (s, d) => FrontierOps.crawlMaintainFixture(s, d),
      RowsOnly("k-means cells and hash embedder are engine-native")),
    // PII redaction: emails/IPv4/phones → typed placeholders + counts,
    // deterministically PLANTED into the fixture corpus (no organic PII
    // in word soup); one map-side projection, three codegen'd regexes
    Entry("q_pii_redact", (s, d) => TextOps.piiRedact(s, d), Oracle(
      // identical pattern literals and the SAME staged replacement order
      // (email → ip → phone) on both engines: counts are taken on the text
      // AFTER the earlier stages so count ≡ what the replace actually hit
      """WITH c AS (
        |  SELECT doc_id,
        |         text ||
        |         CASE WHEN doc_id % 7 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
        |         CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END ||
        |         CASE WHEN doc_id % 13 = 0 THEN ' call +1 555 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS t
        |  FROM documents),
        |s1 AS (SELECT doc_id, t,
        |              regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        |       FROM c),
        |s2 AS (SELECT doc_id, t, t1,
        |              regexp_replace(t1, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t2
        |       FROM s1)
        |SELECT doc_id,
        |       regexp_replace(t2, '\+\d{1,3}[ -]\d{3}[ -]\d{4}\b', '<PHONE>', 'g') AS redacted,
        |       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |       CAST(len(regexp_extract_all(t1, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ips,
        |       CAST(len(regexp_extract_all(t2, '\+\d{1,3}[ -]\d{3}[ -]\d{4}\b')) AS BIGINT) AS n_phones
        |FROM s2
        |ORDER BY doc_id ASC""".stripMargin)),
    Entry("q_text_redact", (s, d) => TextAnalysisOps.redactPii(s, d), Oracle(
      """WITH pii AS (
        |  SELECT doc_id,
        |         text || ' contact user' || doc_id || '@example.com via +1-555-' ||
        |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        |         ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS t
        |  FROM documents
        |), s1 AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |         regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g') AS t1
        |  FROM pii
        |), s2 AS (
        |  SELECT doc_id, n_emails,
        |         CAST(len(regexp_extract_all(t1, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
        |         regexp_replace(t1, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS t2
        |  FROM s1
        |)
        |SELECT doc_id, n_emails, n_ips,
        |       CAST(len(regexp_extract_all(t2, '\+?[0-9][0-9()\-. ]{6,}[0-9]')) AS BIGINT) AS n_phones,
        |       regexp_replace(t2, '\+?[0-9][0-9()\-. ]{6,}[0-9]', '<PHONE>', 'g') AS redacted
        |FROM s2 ORDER BY doc_id ASC""".stripMargin), bench = false),
    // sitemap ingestion: per-host XML bodies parsed (from_xml) into
    // (url, lastmod), classified new/stale/fresh vs the corpus — the
    // discovery half next to robots' admission half; the oracle computes
    // the expected answer in closed form, so a mangled parse diverges
    Entry("q_crawl_sitemap", (s, d) => FrontierOps.crawlSitemap(s, d), Oracle(
      // closed-form expected answer (no XML on the oracle side): the
      // engine must round-trip through real XML parsing and land exactly
      // on this arithmetic
      """WITH base AS (SELECT source AS host, doc_id, lang FROM documents),
        |known AS (
        |  SELECT host,
        |         'https://' || host || '/' || lang || '/p' || CAST(doc_id AS VARCHAR) AS url,
        |         '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS lastmod,
        |         CASE WHEN CAST('2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS DATE)
        |                   > (DATE '2026-02-01' - CAST(doc_id % 30 AS INT))
        |              THEN 'stale' ELSE 'fresh' END AS status
        |  FROM base),
        |disc AS (
        |  SELECT host, 'https://' || host || '/disc/p' || CAST(doc_id AS VARCHAR) AS url,
        |         '2026-01-15' AS lastmod, 'new' AS status
        |  FROM base WHERE doc_id % 5 = 0)
        |SELECT host, url, lastmod, status FROM known
        |UNION ALL
        |SELECT host, url, lastmod, status FROM disc
        |ORDER BY host ASC, url ASC""".stripMargin)),
    // the WHOLE next-cycle plan composed: sitemap-INDEX candidates (new
    // ahead of stale) → robots admission → delay-capped politeness schedule
    Entry("q_crawl_plan", (s, d) => FrontierOps.crawlPlan(s, d), Oracle(
      // the composed plan: sitemap candidates in closed form, the same
      // handwritten literal robots rules, longest-match + allow-tie, then
      // the delay-capped per-host rank — one chained-CTE mirror of the
      // whole planning pass
      ("WITH " + crawlPlanCtes + """
        |SELECT host, CAST(slot AS BIGINT) AS slot, url, priority, status
        |FROM r2 WHERE slot <= cap
        |ORDER BY host ASC, slot ASC""".stripMargin))),
    // Unicode NFC + accent folding via native codegen expressions; the
    // oracle runs DuckDB's utf8proc twins (nfc_normalize/strip_accents) —
    // two independent conformant implementations must agree byte-for-byte
    Entry("q_text_normalize", (s, d) => TextOps.textNormalize(s, d), Oracle(
      // the decomposed plant is built from the same code points via chr();
      // the precomposed one is already NFC and must pass through unchanged
      ("""WITH c AS (
        |  SELECT doc_id,
        |         text ||
        |         CASE WHEN doc_id % 3 = 0 THEN ' caf' || chr(233) || ' na' || chr(239) || 've' ELSE '' END ||
        |         CASE WHEN doc_id % 4 = 0 THEN ' Zu' || chr(776) || 'rich pin' || chr(771) || 'ata' ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(t) AS norm,
        |       strip_accents(nfc_normalize(t)) AS folded,
        |       CAST(nfc_normalize(t) <> t AS BIGINT) AS changed
        |FROM c
        |ORDER BY doc_id ASC""").stripMargin)),
    // normalize-then-dedup composition: byte-different/NFC-identical
    // planted twins collapse to one digest (a raw-byte dedup keeps both)
    Entry("q_dedup_unicode", (s, d) => TextOps.dedupUnicode(s, d), Oracle(
      // the +20000 twin carries the precomposed suffix, the +40000 twin the
      // decomposed one — same NFC form, different bytes; min-id per
      // normalized digest keeps the +20000 copy and drops the +40000 one
      """WITH twins AS (SELECT doc_id, text FROM documents WHERE doc_id % 9 = 0),
        |corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000, text || ' caf' || chr(233) FROM twins
        |  UNION ALL
        |  SELECT doc_id + 40000, text || ' cafe' || chr(769) FROM twins)
        |SELECT min(doc_id) AS doc_id, md5(nfc_normalize(text)) AS fp
        |FROM corpus
        |GROUP BY md5(nfc_normalize(text))
        |ORDER BY doc_id ASC""".stripMargin)),
    // language identification (CCNet's first gate, derived not trusted):
    // literal char-trigram log-odds profile over the rendered-surface
    // fixture — one map-side codegen expression, zero corpus exchanges
    Entry("q_lang_id", (s, d) => LangIdOps.langIdFixture(s, d), Oracle(
      // char-trigram profile lang-id over the rendered-surface corpus —
      // same literal model VALUES the Spark expression carries
      s"""WITH $langIdCtes
         |SELECT doc_id, lang, predicted,
         |  CAST(CASE WHEN predicted = lang THEN 1 ELSE 0 END AS INT) AS correct,
         |  s_de, s_en, s_es, s_fr, s_zh
         |FROM lpred
         |ORDER BY doc_id ASC""".stripMargin)),
    // the composed chain: derived lang gate -> per-language CCNet battery
    Entry("q_curate_e2e_lang", (s, d) => LangIdOps.curateE2eLang(s, d), Oracle(
      // lang-id as the chain's FIRST gate: the CCNet battery (gates AND
      // perplexity fences) computed over the derived-en subset only
      (s"""WITH $langIdCtes,
          |endocs AS (
          |  SELECT d.doc_id, d.text
          |  FROM documents d JOIN lpred p USING (doc_id)
          |  WHERE p.predicted = 'en'),
          |""".stripMargin + curateCcnetCtes("endocs", "") + "\n" +
        curateCcnetSelect("") + "\nORDER BY doc_id ASC"))),
    // + Luhn-gated credit-card stage: candidates by regex, redaction
    // only on mod-10-valid numbers; planted valid AND Luhn-failing
    Entry("q_pii_redact_cc", (s, d) => TextOps.piiRedactCc(s, d), Oracle(
      // the q_pii_redact chain + the Luhn-gated card stage; check digit and
      // validity share ONE closed-form mod-10 sum (integer-exact both sides)
      """WITH p0 AS (
        |  SELECT doc_id, text,
        |         '4' || lpad(CAST((doc_id * 1000003) % 10000000000000 AS VARCHAR), 14, '0') AS body
        |  FROM documents),
        |p1 AS (
        |  SELECT doc_id, text, body,
        |         (10 - (list_sum(list_transform(range(1, 16), i ->
        |            CASE WHEN i % 2 = 1 THEN
        |              CASE WHEN 2 * CAST(substr(body, CAST(16 - i AS INT), 1) AS BIGINT) > 9
        |                   THEN 2 * CAST(substr(body, CAST(16 - i AS INT), 1) AS BIGINT) - 9
        |                   ELSE 2 * CAST(substr(body, CAST(16 - i AS INT), 1) AS BIGINT) END
        |              ELSE CAST(substr(body, CAST(16 - i AS INT), 1) AS BIGINT) END)) % 10)) % 10 AS chk
        |  FROM p0),
        |c AS (
        |  SELECT doc_id,
        |         text ||
        |         CASE WHEN doc_id % 7 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
        |         CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END ||
        |         CASE WHEN doc_id % 13 = 0 THEN ' call +1 555 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
        |         CASE WHEN doc_id % 17 = 0 THEN ' card ' || body || CAST(chk AS VARCHAR) ELSE '' END ||
        |         CASE WHEN doc_id % 19 = 0 AND doc_id % 17 <> 0 THEN ' ref ' || body || CAST((chk + 5) % 10 AS VARCHAR) ELSE '' END AS t
        |  FROM p1),
        |s1 AS (SELECT doc_id, t,
        |              regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        |       FROM c),
        |s2 AS (SELECT doc_id, t, t1,
        |              regexp_replace(t1, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t2
        |       FROM s1),
        |s3 AS (SELECT doc_id, t, t1, t2,
        |              regexp_replace(t2, '\+\d{1,3}[ -]\d{3}[ -]\d{4}\b', '<PHONE>', 'g') AS t3
        |       FROM s2),
        |s4 AS (SELECT doc_id, t, t1, t2, t3,
        |              regexp_extract(t3, '\b\d{16}\b') AS cand
        |       FROM s3),
        |s5 AS (SELECT doc_id, t, t1, t2, t3, cand,
        |              cand <> '' AND (list_sum(list_transform(range(1, length(cand) + 1), i ->
        |                CASE WHEN i % 2 = 0 THEN
        |                  CASE WHEN 2 * CAST(substr(cand, CAST(length(cand) - i + 1 AS INT), 1) AS BIGINT) > 9
        |                       THEN 2 * CAST(substr(cand, CAST(length(cand) - i + 1 AS INT), 1) AS BIGINT) - 9
        |                       ELSE 2 * CAST(substr(cand, CAST(length(cand) - i + 1 AS INT), 1) AS BIGINT) END
        |                  ELSE CAST(substr(cand, CAST(length(cand) - i + 1 AS INT), 1) AS BIGINT) END)) % 10 = 0) AS ok
        |       FROM s4)
        |SELECT doc_id,
        |       CASE WHEN ok THEN replace(t3, cand, '<CARD>') ELSE t3 END AS redacted,
        |       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |       CAST(len(regexp_extract_all(t1, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ips,
        |       CAST(len(regexp_extract_all(t2, '\+\d{1,3}[ -]\d{3}[ -]\d{4}\b')) AS BIGINT) AS n_phones,
        |       CAST(CASE WHEN ok THEN 1 ELSE 0 END AS BIGINT) AS n_cards,
        |       CAST(CASE WHEN cand <> '' AND NOT ok THEN 1 ELSE 0 END AS BIGINT) AS n_card_rejected
        |FROM s5
        |ORDER BY doc_id ASC""".stripMargin)),
    // the two-level <sitemapindex> -> <urlset> protocol (how a 50k+-URL
    // host publishes): parse index, walk child locs through the fetch
    // boundary, parse each urlset; closed-form oracle
    Entry("q_crawl_sitemap_index", (s, d) => FrontierOps.crawlSitemapIndex(s, d), Oracle(
      // closed-form mirror of the two-level protocol: rank -> 10-entry
      // chunk -> child loc -> same classification; a parse that drops an
      // entry or misroutes it to the wrong child diverges
      """WITH base AS (SELECT source AS host, doc_id, lang FROM documents),
        |known AS (
        |  SELECT host,
        |         'https://' || host || '/' || lang || '/p' || CAST(doc_id AS VARCHAR) AS url,
        |         '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS lastmod,
        |         CASE WHEN CAST('2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS DATE)
        |                   > (DATE '2026-02-01' - CAST(doc_id % 30 AS INT))
        |              THEN 'stale' ELSE 'fresh' END AS status
        |  FROM base),
        |disc AS (
        |  SELECT host, 'https://' || host || '/disc/p' || CAST(doc_id AS VARCHAR) AS url,
        |         '2026-01-15' AS lastmod, 'new' AS status
        |  FROM base WHERE doc_id % 5 = 0),
        |e AS (
        |  SELECT host, url, lastmod, status FROM known
        |  UNION ALL
        |  SELECT host, url, lastmod, status FROM disc),
        |ch AS (
        |  SELECT host, url, lastmod, status,
        |         (row_number() OVER (PARTITION BY host ORDER BY url ASC) - 1) // 10 AS child
        |  FROM e)
        |SELECT host,
        |       'https://' || host || '/sitemap-' || CAST(child AS VARCHAR) || '.xml' AS sitemap,
        |       url, lastmod, status
        |FROM ch
        |ORDER BY host ASC, url ASC""".stripMargin)),
    // NFC-first shingles faced against planted byte-different/
    // NFC-identical twins: the fuzzy path now collapses what the exact
    // digest (q_dedup_unicode) collapses
    Entry("q_dedup_minhash_unicode", (s, d) => DedupOps.minHashLshUnicode(s, d), Oracle(
      // the q_dedup_unicode planting through the FUZZY survivor rule, token
      // sets nfc_normalize'd (utf8proc) — must equal the engine's NFC-first
      // minhash chain
      """WITH twins AS (SELECT doc_id, text FROM documents WHERE doc_id % 9 = 0),
        |corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000, text || ' caf' || chr(233) FROM twins
        |  UNION ALL
        |  SELECT doc_id + 40000, text || ' cafe' || chr(769) FROM twins),
        |ws AS (SELECT doc_id, list_distinct(string_split(nfc_normalize(text), ' ')) AS s FROM corpus),
        |dup AS (
        |  SELECT DISTINCT b.doc_id AS b_id
        |  FROM ws a JOIN ws b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_cat(a.s, b.s))) >= 0.95)
        |SELECT doc_id FROM corpus
        |WHERE doc_id NOT IN (SELECT b_id FROM dup)
        |ORDER BY doc_id ASC""".stripMargin)),
    // continuity twins: the fixture-label forms (accuracy-pin surface —
    // the derived default is judged against these)
    Entry("q_select_dsir_goldlang", (s, d) => MlOps.dsirSelect(s, d), Oracle(
      // DSIR: per-feature ln-ratio nano-rounded BEFORE the per-doc sum —
      // the same order-independent integer arithmetic as the Spark plan
      // (the fixture-label continuity twin; the default is derived-label)
      """WITH toks AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
        |occ AS (
        |  SELECT doc_id, lang, unnest(t) AS f FROM toks
        |  UNION ALL
        |  SELECT doc_id, lang, t[i] || ' ' || t[i + 1] AS f
        |  FROM (SELECT doc_id, lang, t, unnest(range(1, len(t))) AS i
        |        FROM toks WHERE len(t) >= 2)),
        |pair AS (
        |  SELECT doc_id, lang, f, count(*) AS c FROM occ GROUP BY doc_id, lang, f),
        |model AS (
        |  SELECT f, sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS ct,
        |         sum(c) AS cr
        |  FROM pair GROUP BY f),
        |s AS (SELECT sum(ct) AS tt, sum(cr) AS tr, count(*) AS v FROM model),
        |lnr AS (
        |  SELECT f, CAST(floor(ln(
        |      ((ct + 1.0) / CAST(tt + v AS DOUBLE)) /
        |      ((cr + 1.0) / CAST(tr + v AS DOUBLE))) * 1000000000.0 + 0.5)
        |    AS BIGINT) AS w
        |  FROM model CROSS JOIN s),
        |per AS (
        |  SELECT doc_id, sum(c * w) AS lw_nano, sum(c) AS n_feat
        |  FROM pair JOIN lnr USING (f) GROUP BY doc_id)
        |SELECT d.doc_id, d.lang, d.source, CAST(p.n_feat AS BIGINT) AS n_feat,
        |       CAST(p.lw_nano AS BIGINT) AS lw_nano,
        |       round(CAST(p.lw_nano AS DOUBLE) / 1000000000.0 / p.n_feat, 6)
        |         AS lw_avg
        |FROM per p JOIN documents d USING (doc_id)
        |ORDER BY CAST(p.lw_nano AS DOUBLE) / p.n_feat DESC, d.doc_id ASC
        |LIMIT 100""".stripMargin)),
    // the per-language accuracy surface (lang x predicted counts)
    Entry("q_lang_confusion", (s, d) => LangIdOps.langConfusion(s, d), Oracle(
      // the confusion matrix of the derived label vs the fixture label
      s"""WITH $langIdCtes
         |SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n_docs
         |FROM lpred GROUP BY lang, predicted
         |ORDER BY lang ASC, predicted ASC""".stripMargin)),
    // Gopher's repetition GATES (Rae et al. A1.1): duplicated-line
    // chars + char-weighted top-2-gram, 20% integer-ratio thresholds
    // (q_text_repetition is the count-based top-bigram SIGNAL)
    Entry("q_gopher_repetition", (s, d) => TextAnalysisOps.gopherRepetition(s, d), Oracle(
      // Gopher repetition battery: planted line structure, integer char
      // counts, 20% cross-multiplied gates — all closed-form
      """WITH c AS (
        |  SELECT doc_id,
        |         text ||
        |         CASE WHEN doc_id % 6 = 0
        |              THEN chr(10) || substr(text, 1, 40) || chr(10) || substr(text, 1, 40)
        |              ELSE '' END ||
        |         CASE WHEN doc_id % 8 = 0 AND doc_id % 6 <> 0
        |              THEN chr(10) || substr(text, 1, 40) ELSE '' END AS t
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, t,
        |         CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
        |         CAST(list_sum(list_transform(string_split(t, chr(10)),
        |           l -> length(l))) AS BIGINT) AS line_chars,
        |         CAST(list_sum(list_transform(string_split(t, chr(10)),
        |           l -> length(l))) AS BIGINT)
        |           - CAST(list_sum(list_transform(list_distinct(string_split(t, chr(10))),
        |               l -> length(l))) AS BIGINT) AS dup_line_chars
        |  FROM c),
        |bg AS (
        |  SELECT doc_id, w[i] || ' ' || w[i + 1] AS b
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
        |        FROM (SELECT doc_id, string_split_regex(t, '[ \n]') AS w FROM c)
        |        WHERE len(w) >= 2)),
        |t2 AS (
        |  SELECT doc_id, max(cnt * length(b)) AS top2_chars
        |  FROM (SELECT doc_id, b, count(*) AS cnt FROM bg GROUP BY doc_id, b)
        |  GROUP BY doc_id)
        |SELECT m.doc_id, m.n_lines, m.line_chars, m.dup_line_chars,
        |       CAST(coalesce(t2.top2_chars, 0) AS BIGINT) AS top2_chars,
        |       CAST(CASE WHEN 5 * m.dup_line_chars <= m.line_chars THEN 1 ELSE 0 END AS BIGINT) AS r_dup_line,
        |       CAST(CASE WHEN 5 * coalesce(t2.top2_chars, 0) <= m.line_chars THEN 1 ELSE 0 END AS BIGINT) AS r_top2,
        |       CAST(CASE WHEN 5 * m.dup_line_chars <= m.line_chars
        |                  AND 5 * coalesce(t2.top2_chars, 0) <= m.line_chars
        |             THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM m LEFT JOIN t2 USING (doc_id)
        |ORDER BY m.doc_id ASC""".stripMargin)),
    Entry("q_text_repetition", (s, d) => TextAnalysisOps.repetitionSignals(s, d), Oracle(
      """WITH b AS (
        |  SELECT doc_id, CAST(len(w) - 1 AS BIGINT) AS n_bigrams,
        |         unnest(list_transform(range(1, len(w)),
        |                               i -> w[i] || chr(30) || w[i + 1])) AS bg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 2
        |), c AS (
        |  SELECT doc_id, n_bigrams, bg, count(*) AS c FROM b GROUP BY 1, 2, 3
        |)
        |SELECT doc_id, n_bigrams, max(c) AS top_bigram_n,
        |       round(CAST(max(c) AS DOUBLE) / n_bigrams, 6) AS top_bigram_frac
        |FROM c GROUP BY doc_id, n_bigrams
        |ORDER BY doc_id ASC""".stripMargin), bench = false),
    // the FULL CCNet: every language through its own LM + fences, union'd
    Entry("q_curate_multilang", (s, d) => LangIdOps.curateMultilang(s, d), Oracle(
      // the full per-language CCNet: one suffixed copy of the proven chain
      // per language over its derived-label shard, union'd with the tag
      {
        val ctes = LangIdOps.langs.map { l =>
          s"""end_$l AS (
             |  SELECT d.doc_id, d.text
             |  FROM documents d JOIN lpred p USING (doc_id)
             |  WHERE p.predicted = '$l'),
             |${curateCcnetCtes(s"end_$l", s"_$l")}""".stripMargin
        }.mkString(",\n")
        val branches = LangIdOps.langs.map { l =>
          s"SELECT '$l' AS lang, q.* FROM (\n${curateCcnetSelect(s"_$l")}) q"
        }.mkString("\nUNION ALL\n")
        s"""WITH $langIdCtes,
           |$ctes
           |$branches
           |ORDER BY lang ASC, doc_id ASC""".stripMargin
      })),
    // Dolma-style paragraph dedup: corpus-wide duplicated paragraphs
    // (boilerplate) flagged per doc with char accounting + 20% keep gate
    Entry("q_dedup_paragraph", (s, d) => DedupOps.dedupParagraph(s, d), Oracle(
      """WITH c AS (
        |  SELECT doc_id,
        |         text ||
        |         CASE WHEN doc_id % 4 = 0
        |              THEN chr(10) || chr(10) || 'subscribe to the newsletter today'
        |              ELSE '' END ||
        |         CASE WHEN doc_id % 10 = 0
        |              THEN chr(10) || chr(10) || 'all rights reserved legal notice'
        |              ELSE '' END AS t
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, unnest(string_split(t, chr(10) || chr(10))) AS para
        |  FROM c),
        |hc AS (SELECT md5(para) AS h, count(*) AS cnt FROM p GROUP BY md5(para)),
        |j AS (SELECT p.doc_id, p.para, hc.cnt FROM p JOIN hc ON md5(p.para) = hc.h)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_paras,
        |       CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_paras,
        |       CAST(sum(CASE WHEN cnt > 1 THEN length(para) ELSE 0 END) AS BIGINT) AS dup_chars,
        |       CAST(sum(length(para)) AS BIGINT) AS total_chars,
        |       CAST(CASE WHEN 5 * sum(CASE WHEN cnt > 1 THEN length(para) ELSE 0 END)
        |                      <= sum(length(para)) THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM j GROUP BY doc_id
        |ORDER BY doc_id ASC""".stripMargin)),
    // the BOUNDED maintained LM (CCNet's published shape): sample-trained
    // count logs folded + top-V pruned at serve, OOV floored to p = 0 —
    // broadcast-safe by construction at any corpus scale; fully oracled
    Entry("q_lm_bigram_stored", (s, d) => TextAnalysisOps.lmBigramScoreStored(s, d), Oracle(
      // the bounded maintained LM: counts from the doc_id%2=0 training
      // sample only, top-512 prune with the (c2 desc, w1, w2) total-order
      // tie-break, OOV transitions floored to p = 0 — every stage exact SQL
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |big AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
        |        FROM toks WHERE len(t) >= 2)),
        |strain AS (SELECT * FROM big WHERE doc_id % 2 = 0),
        |lc AS (SELECT w1, count(*) AS c1 FROM strain GROUP BY w1),
        |bc AS (SELECT w1, w2, count(*) AS c2 FROM strain GROUP BY w1, w2),
        |pruned AS (
        |  SELECT w1, w2, c2 FROM (
        |    SELECT *, row_number() OVER (ORDER BY c2 DESC, w1 ASC, w2 ASC) AS rn
        |    FROM bc)
        |  WHERE rn <= 512),
        |model AS (
        |  SELECT p.w1, p.w2, CAST(p.c2 AS DOUBLE) / lc.c1 AS p
        |  FROM pruned p JOIN lc USING (w1)),
        |per AS (
        |  SELECT b.doc_id, coalesce(m.p, 0.0) AS p
        |  FROM big b LEFT JOIN model m USING (w1, w2)),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |         floor(CAST(sum(CAST(floor(p * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |               / count(*) + 0.5) / 1000000.0 AS avg_cond_p,
        |         floor(min(p) * 1000000.0 + 0.5) / 1000000.0 AS min_cond_p
        |  FROM per GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |       CAST(coalesce(a.avg_cond_p, 0.0) AS DOUBLE) AS avg_cond_p,
        |       CAST(coalesce(a.min_cond_p, 0.0) AS DOUBLE) AS min_cond_p
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id ASC""".stripMargin)),
    // the COMPLETE A1.1 battery: all 13 published gates — line/paragraph
    // dup fractions + char fractions, top-2/3/4-gram shares, duplicated
    // n-gram char coverage n=5..10 (no-double-count position rule)
    Entry("q_gopher_repetition_full", (s, d) => TextAnalysisOps.gopherRepetitionFull(s, d), Oracle(
      // the COMPLETE A1.1 battery — generated per-n fragments, thirteen
      // integer-ratio gates, planted both-sides structure
      gopherRepetitionFullSql)),
    Entry("q_select_dsir_stored_goldlang", (s, d) => MlOps.dsirSelectStored(s, d), Oracle(
      // maintained-model form: bit-identical (integer count folds) — SAME oracle
      """WITH toks AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
        |occ AS (
        |  SELECT doc_id, lang, unnest(t) AS f FROM toks
        |  UNION ALL
        |  SELECT doc_id, lang, t[i] || ' ' || t[i + 1] AS f
        |  FROM (SELECT doc_id, lang, t, unnest(range(1, len(t))) AS i
        |        FROM toks WHERE len(t) >= 2)),
        |pair AS (
        |  SELECT doc_id, lang, f, count(*) AS c FROM occ GROUP BY doc_id, lang, f),
        |model AS (
        |  SELECT f, sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS ct,
        |         sum(c) AS cr
        |  FROM pair GROUP BY f),
        |s AS (SELECT sum(ct) AS tt, sum(cr) AS tr, count(*) AS v FROM model),
        |lnr AS (
        |  SELECT f, CAST(floor(ln(
        |      ((ct + 1.0) / CAST(tt + v AS DOUBLE)) /
        |      ((cr + 1.0) / CAST(tr + v AS DOUBLE))) * 1000000000.0 + 0.5)
        |    AS BIGINT) AS w
        |  FROM model CROSS JOIN s),
        |per AS (
        |  SELECT doc_id, sum(c * w) AS lw_nano, sum(c) AS n_feat
        |  FROM pair JOIN lnr USING (f) GROUP BY doc_id)
        |SELECT d.doc_id, d.lang, d.source, CAST(p.n_feat AS BIGINT) AS n_feat,
        |       CAST(p.lw_nano AS BIGINT) AS lw_nano,
        |       round(CAST(p.lw_nano AS DOUBLE) / 1000000000.0 / p.n_feat, 6)
        |         AS lw_avg
        |FROM per p JOIN documents d USING (doc_id)
        |ORDER BY CAST(p.lw_nano AS DOUBLE) / p.n_feat DESC, d.doc_id ASC
        |LIMIT 100""".stripMargin)),
    // block-scored MAIN-CONTENT extraction (jusText/trafilatura class):
    // word floor + link-density fence per block, boilerplate dropped
    Entry("q_html_main", (s, d) => TextOps.htmlMain(s, d), Oracle(
      // main-content extraction: the same planted page, the same two
      // closed-form gates (word floor + 20% link-density cross-mult)
      (s"""WITH ${htmlMainCtes("documents")}
          |SELECT doc_id, CAST(len(blocks) AS BIGINT) AS n_blocks,
          |       CAST(len(kept) AS BIGINT) AS n_kept,
          |       CAST(length(main_text) AS BIGINT) AS main_chars,
          |       CAST(len(list_filter(string_split(main_text, ' '),
          |         t -> t = 'the' OR t = 'a')) AS BIGINT) AS stop_words,
          |       main_text
          |FROM mt ORDER BY doc_id ASC""".stripMargin))),
    Entry("q_html_extract", (s, d) => TextOps.htmlExtract(s, d), Oracle(
      """SELECT doc_id,
        |       regexp_extract('<html><body><div class="J-markdown-box">' || substr(text, 1, 80) || '</div></body></html>',
        |                      '(?s)<div class="J-markdown-box">(.*?)</div>', 1) AS body
        |FROM documents ORDER BY doc_id ASC""".stripMargin), bench = false),
    // the ingest chain with the block scorer where the ref pulls one
    // container — extraction feeds collapse/truncate/upsert/fingerprint
    Entry("q_ingest_e2e_main", (s, d) => TextOps.ingestEndToEndMain(s, d), Oracle(
      // the ingest chain with block-scored extraction where the reference
      // pulls one container: versions -> pages -> main text -> collapse +
      // truncate -> last-writer-wins -> fingerprint
      (s"""WITH v AS (
          |  SELECT 'https://corpus.local/' || source || '/' || doc_id AS url, doc_id, text,
          |         CAST(1 AS BIGINT) AS version
          |  FROM documents
          |  UNION ALL
          |  SELECT 'https://corpus.local/' || source || '/' || doc_id, doc_id, text || ' refreshed', 2
          |  FROM documents WHERE doc_id % 5 = 0),
          |${htmlMainCtes("v")},
          |c AS (
          |  SELECT url, doc_id, version, CAST(len(kept) AS BIGINT) AS n_kept,
          |         substr(regexp_replace(main_text, ' +', ' ', 'g'), 1, 6000) AS body
          |  FROM mt),
          |u AS (
          |  SELECT *, row_number() OVER (PARTITION BY url ORDER BY version DESC) AS rn FROM c)
          |SELECT url, doc_id, version, n_kept,
          |       CAST(length(body) AS BIGINT) AS body_len, md5(body) AS fp
          |FROM u WHERE rn = 1
          |ORDER BY url ASC""".stripMargin))),
    Entry("q_ingest_e2e", (s, d) => TextOps.ingestEndToEnd(s, d), Oracle(
      """WITH v AS (
        |  SELECT 'https://corpus.local/' || source || '/' || doc_id AS url, doc_id, text,
        |         CAST(1 AS BIGINT) AS version
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://corpus.local/' || source || '/' || doc_id, doc_id, text || ' refreshed', 2
        |  FROM documents WHERE doc_id % 5 = 0),
        |c AS (
        |  SELECT url, doc_id, version,
        |         substr(regexp_replace(text, ' +', ' ', 'g'), 1, 6000) AS body
        |  FROM v),
        |u AS (
        |  SELECT *, row_number() OVER (PARTITION BY url ORDER BY version DESC) AS rn FROM c)
        |SELECT url, doc_id, version, CAST(length(body) AS BIGINT) AS body_len, md5(body) AS fp
        |FROM u WHERE rn = 1
        |ORDER BY url ASC""".stripMargin), bench = false),
    // the Dolma-style STREAMING form over the maintained bloom store
    // (r16): first-arrival flags, capacity-planned membership — fully
    // oracled as of r17: the even-then-odd half order makes first
    // arrival the deterministic (doc_id % 2, doc_id, pos) rank, and the
    // fixture build require()s zero measured bloom false positives
    Entry("q_dedup_paragraph_stream", (s, d) => DedupOps.paragraphStreamFixture(s, d), Oracle(
      // corpus-wide paragraph counts over the planted boilerplate — all
      // integer char accounting, 20% cross-multiplied gate
      // the streaming form's first arrival is the deterministic
      // (half parity, doc_id, pos) rank once the fixture's zero-FP
      // require holds — the batch twin's planting, first-arrival flags
      """WITH planted AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 0
        |         THEN chr(10) || chr(10) || 'subscribe to the newsletter today'
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 10 = 0
        |         THEN chr(10) || chr(10) || 'all rights reserved legal notice'
        |         ELSE '' END AS text
        |  FROM documents),
        |paras AS (
        |  SELECT doc_id, i - 1 AS pos, ps[i] AS para
        |  FROM (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps
        |        FROM planted),
        |       unnest(range(1, len(ps) + 1)) AS t(i)),
        |fl AS (
        |  SELECT doc_id, para,
        |         row_number() OVER (PARTITION BY md5(para)
        |           ORDER BY doc_id % 2, doc_id, pos) > 1 AS seen
        |  FROM paras)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_paras,
        |       CAST(sum(CASE WHEN seen THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_paras,
        |       CAST(sum(CASE WHEN seen THEN length(para) ELSE 0 END) AS BIGINT) AS dup_chars,
        |       CAST(sum(length(para)) AS BIGINT) AS total_chars,
        |       CAST(CASE WHEN 5 * sum(CASE WHEN seen THEN length(para) ELSE 0 END)
        |                  <= sum(length(para)) THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM fl GROUP BY doc_id
        |ORDER BY doc_id ASC""".stripMargin)),
    // the CONFIDENCE band (r16): integer score margin + unknown verdict
    // below the fixed fence — CCNet's low-confidence routing
    Entry("q_lang_id_margin", (s, d) => LangIdOps.langIdMargin(s, d), Oracle(
      // margin = best - second-best integer score (a CASE over the argmax);
      // verdict fences it at the fixed integer minimum — boundary-exact
      s"""WITH $langIdCtes,
         |mg AS (
         |  SELECT doc_id, lang, predicted,
         |    greatest(s_de, s_en, s_es, s_fr, s_zh) -
         |    CASE predicted
         |      WHEN 'de' THEN greatest(s_en, s_es, s_fr, s_zh)
         |      WHEN 'en' THEN greatest(s_de, s_es, s_fr, s_zh)
         |      WHEN 'es' THEN greatest(s_de, s_en, s_fr, s_zh)
         |      WHEN 'fr' THEN greatest(s_de, s_en, s_es, s_zh)
         |      ELSE greatest(s_de, s_en, s_es, s_fr) END AS margin
         |  FROM lpred)
         |SELECT doc_id, lang, predicted, margin,
         |  CASE WHEN margin >= ${LangIdOps.DefaultMinMargin} THEN predicted
         |       ELSE 'unknown' END AS verdict
         |FROM mg ORDER BY doc_id ASC""".stripMargin)),
    // the lang gate routed through the CONFIDENCE band (r16): en-verdict
    // only — low-margin docs go to unknown and out, CCNet's §3.1 routing
    Entry("q_curate_e2e_verdict", (s, d) => LangIdOps.curateE2eLangVerdict(s, d), Oracle(
      // the confidence-banded gate: en verdict only — with predicted = 'en'
      // the second-best score is the greatest of the non-en scores
      (s"""WITH $langIdCtes,
          |endocs AS (
          |  SELECT d.doc_id, d.text
          |  FROM documents d JOIN lpred p USING (doc_id)
          |  WHERE p.predicted = 'en'
          |    AND p.s_en - greatest(p.s_de, p.s_es, p.s_fr, p.s_zh)
          |        >= ${LangIdOps.DefaultMinMargin}),
          |""".stripMargin + curateCcnetCtes("endocs", "") + "\n" +
        curateCcnetSelect("") + "\nORDER BY doc_id ASC"))),
    // C4's published cleaning battery (Raffel et al. 2020 §2.2): line
    // retention + page drops, planted both-sides like the Gopher gates
    Entry("q_c4_rules", (s, d) => TextAnalysisOps.c4Rules(s, d), Oracle(
      // C4's cleaning battery: planted pages, line retention, page flags
      (s"""WITH $c4Ctes
        |SELECT doc_id, n_lines,
        |       CAST(len(kept) AS BIGINT) AS n_kept,
        |       array_to_string(kept, chr(10)) AS kept_text,
        |       CAST(CASE WHEN len(kept) >= 3 THEN 1 ELSE 0 END AS BIGINT) AS r_sentences,
        |       CAST(CASE WHEN contains(t, 'badword1') OR contains(t, 'badword2')
        |                   OR contains(t, 'badword3') THEN 0 ELSE 1 END AS BIGINT) AS r_badword,
        |       CAST(CASE WHEN contains(t, 'lorem ipsum') THEN 0 ELSE 1 END AS BIGINT) AS r_lorem,
        |       CAST(CASE WHEN contains(t, '{') THEN 0 ELSE 1 END AS BIGINT) AS r_brace,
        |       CAST(CASE WHEN len(kept) >= 3 AND NOT ($c4PageDropSql)
        |             THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM k ORDER BY doc_id ASC""".stripMargin))),
    // the curation chain with C4 line cleaning as its FIRST stage
    Entry("q_curate_e2e_c4", (s, d) => TextAnalysisOps.curateEndToEndC4(s, d), Oracle(
      // the curation chain with C4 cleaning first: the q_curate_e2e tail
      // over the RETAINED text (eval n-grams stay raw — the benchmark
      // split is the contamination source, never cleaned training data)
      (s"""WITH $c4Ctes,
        |cleaned AS (
        |  SELECT doc_id, source, array_to_string(kept, ' ') AS text
        |  FROM k
        |  WHERE len(kept) >= 3 AND NOT ($c4PageDropSql)),
        |gated AS (
        |  SELECT doc_id, source, text,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM cleaned
        |  WHERE source <> 'src19'
        |    AND len(string_split(text, ' ')) >= 20
        |    AND (doc_id * 2654435761) % 1000 <
        |        (coalesce(TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT), length(source)) % 4 + 1) * 0.25 * 1000),
        |ng AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 2),
        |           i -> list_aggregate(string_split(text, ' ')[i:i+3], 'string_agg', ' ')))) AS g
        |  FROM gated),
        |eng AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 2),
        |           i -> list_aggregate(string_split(text, ' ')[i:i+3], 'string_agg', ' ')))) AS g
        |  FROM documents WHERE source = 'src19'),
        |dirty AS (SELECT DISTINCT ng.doc_id FROM ng JOIN eng USING (g)),
        |clean AS (
        |  SELECT g.doc_id, g.source, g.n_tok, g.doc_id // 128 AS shard
        |  FROM gated g LEFT JOIN dirty d ON g.doc_id = d.doc_id
        |  WHERE d.doc_id IS NULL),
        |packed AS (
        |  SELECT doc_id, source, n_tok, shard,
        |         CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM clean)
        |SELECT doc_id, source, n_tok, CAST(shard * 4294967296 + cum_before // 512 AS BIGINT) AS seq_id
        |FROM packed ORDER BY doc_id ASC""".stripMargin))),
    // Unicode-script mix + purity gate — the check that runs before
    // (or alongside) statistical lang-id; planted non-Latin runs
    Entry("q_script_detect", (s, d) => LangIdOps.scriptDetect(s, d), Oracle(
      // script-block char counts + dominant script + Latin-purity gate;
      // planted codepoints via chr() (the q_text_normalize convention)
      """WITH p AS (
        |  SELECT doc_id,
        |         text ||
        |         CASE WHEN doc_id % 6 = 0 THEN ' ' || chr(1087) || chr(1088) || chr(1080) || chr(1074) ELSE '' END ||
        |         CASE WHEN doc_id % 7 = 0 THEN ' ' || chr(945) || chr(946) || chr(947) ELSE '' END ||
        |         CASE WHEN doc_id % 10 = 0 THEN ' ' || chr(20013) || chr(25991) ELSE '' END ||
        |         CASE WHEN doc_id % 11 = 0 THEN ' ' || chr(1606) || chr(1589) ELSE '' END ||
        |         CASE WHEN doc_id % 13 = 0 THEN ' ' || regexp_replace(text, '[a-z]', chr(1103), 'g')
        |                || ' ' || regexp_replace(text, '[a-z]', chr(1103), 'g') ELSE '' END AS t
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |         CAST(length(t) AS BIGINT) AS n_chars,
        |         CAST(length(regexp_replace(t, '[^A-Za-z]', '', 'g')) AS BIGINT) AS n_latin,
        |         CAST(length(regexp_replace(t, '[^\x{0400}-\x{04FF}]', '', 'g')) AS BIGINT) AS n_cyrillic,
        |         CAST(length(regexp_replace(t, '[^\x{0370}-\x{03FF}]', '', 'g')) AS BIGINT) AS n_greek,
        |         CAST(length(regexp_replace(t, '[^\x{4E00}-\x{9FFF}]', '', 'g')) AS BIGINT) AS n_cjk,
        |         CAST(length(regexp_replace(t, '[^\x{0600}-\x{06FF}]', '', 'g')) AS BIGINT) AS n_arabic
        |  FROM p)
        |SELECT doc_id, n_chars, n_latin, n_cyrillic, n_greek, n_cjk, n_arabic,
        |       CASE WHEN n_latin >= n_cyrillic AND n_latin >= n_greek
        |              AND n_latin >= n_cjk AND n_latin >= n_arabic THEN 'latin'
        |            WHEN n_cyrillic >= n_greek AND n_cyrillic >= n_cjk
        |              AND n_cyrillic >= n_arabic THEN 'cyrillic'
        |            WHEN n_greek >= n_cjk AND n_greek >= n_arabic THEN 'greek'
        |            WHEN n_cjk >= n_arabic THEN 'cjk'
        |            ELSE 'arabic' END AS script,
        |       CAST(CASE WHEN 20 * (n_cyrillic + n_greek + n_cjk + n_arabic) <= n_chars
        |             THEN 1 ELSE 0 END AS BIGINT) AS r_latin
        |FROM m ORDER BY doc_id ASC""".stripMargin)),
    // C4's three-sentence-span dedup: first arrival stays, later
    // occurrences removed, retained text reassembled per doc
    Entry("q_dedup_span3", (s, d) => DedupOps.dedupSpan3(s, d), Oracle(
      // C4 span dedup: first-arrival min over (doc_id, pos) mirrored as
      // min(doc_id·1e6 + pos); coverage via nested list lambdas
      """WITH c AS (
        |  SELECT doc_id,
        |         array_to_string(w[1:6], ' ') || ' one.' || chr(10) ||
        |         array_to_string(w[2:7], ' ') || ' two.' || chr(10) ||
        |         array_to_string(w[3:8], ' ') || ' three.' || chr(10) ||
        |         array_to_string(w[1:5], ' ') || ' four.' ||
        |         CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'we use cookies on this site.' || chr(10) || 'accept all cookies to continue.' || chr(10) || 'see our privacy policy for details.' ELSE '' END ||
        |         CASE WHEN doc_id % 9 = 0 THEN chr(10) || array_to_string(w[1:6], ' ') || ' one.' || chr(10) || array_to_string(w[2:7], ' ') || ' two.' || chr(10) || array_to_string(w[3:8], ' ') || ' three.' ELSE '' END AS t
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |sa AS (SELECT doc_id, string_split(t, chr(10)) AS sents FROM c),
        |spans AS (
        |  SELECT doc_id, j AS pos, md5(array_to_string(sents[j:j+2], chr(10))) AS h
        |  FROM (SELECT doc_id, sents, unnest(range(1, len(sents) - 1)) AS j FROM sa)),
        |frst AS (SELECT h, min(doc_id * 1000000 + pos) AS f FROM spans GROUP BY h),
        |removed AS (
        |  SELECT doc_id, list(pos) AS rem
        |  FROM spans JOIN frst USING (h)
        |  WHERE doc_id * 1000000 + pos <> f
        |  GROUP BY doc_id),
        |k AS (
        |  SELECT sa.doc_id, sents, coalesce(r.rem, CAST([] AS BIGINT[])) AS rem
        |  FROM sa LEFT JOIN removed r ON sa.doc_id = r.doc_id),
        |k2 AS (
        |  SELECT doc_id, CAST(len(sents) AS BIGINT) AS n_sents, sents,
        |         list_filter(range(1, len(sents) + 1), i ->
        |           len(list_filter(rem, p -> i >= p AND i <= p + 2)) = 0) AS keptidx
        |  FROM k)
        |SELECT doc_id, n_sents,
        |       CAST(n_sents - len(keptidx) AS BIGINT) AS n_removed_sents,
        |       coalesce(array_to_string(list_transform(keptidx, i -> sents[i]), chr(10)), '') AS kept_text
        |FROM k2 ORDER BY doc_id ASC""".stripMargin)),
    // WARC member round-trip (ISO 28500, the Common Crawl delivery
    // format): planted per-host members re-split, headers parsed,
    // Content-Length validated — the archive-ingestion stage a 100 TB
    // pipeline runs where the reference fetches one URL at a time
    Entry("q_warc_parse", (s, d) => WarcOps.warcParse(s, d), Oracle(
      // closed-form mirror of the WARC round-trip: the oracle rebuilds the
      // payload string directly and measures it; the engine must re-split
      // the member, parse headers, and validate lengths to land on the
      // same numbers (the q_crawl_sitemap convention — no WARC parsing on
      // the oracle side)
      """WITH p AS (
        |  SELECT source AS host,
        |         'https://' || source || '.example/' || lang || '/p' ||
        |           CAST(doc_id AS VARCHAR) AS url,
        |         doc_id,
        |         'HTTP/1.1 200 OK' || chr(13) || chr(10) ||
        |           'Content-Type: text/html' || chr(13) || chr(10) ||
        |           chr(13) || chr(10) ||
        |           '<html><head><title>' || source || '/p' ||
        |           CAST(doc_id AS VARCHAR) || '</title></head><body><p>' ||
        |           text || '</p></body></html>' AS payload
        |  FROM documents)
        |SELECT host, url,
        |       '<urn:md5:' || md5(url) || '>' AS rec_id,
        |       '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
        |         'T' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') ||
        |         ':00:00Z' AS warc_date,
        |       'response' AS warc_type,
        |       CAST(length(payload) +
        |            CASE WHEN doc_id % 13 = 7 THEN 1 ELSE 0 END AS BIGINT)
        |         AS content_length,
        |       CAST(length(payload) AS BIGINT) AS payload_len,
        |       '200' AS http_status,
        |       CAST(CASE WHEN doc_id % 13 = 7 THEN 0 ELSE 1 END AS BIGINT)
        |         AS len_ok
        |FROM p
        |ORDER BY url ASC""".stripMargin)),
    // WET-style text conversion of the length-valid 200 responses —
    // envelope dropped, markup stripped, whitespace collapsed
    Entry("q_warc_wet", (s, d) => WarcOps.warcWet(s, d), Oracle(
      // WET mirror: title + body text with markup gone — only the
      // length-valid records survive, so the planted corrupt rows are out
      """WITH w AS (
        |  SELECT 'https://' || source || '.example/' || lang || '/p' ||
        |           CAST(doc_id AS VARCHAR) AS url,
        |         trim(regexp_replace(
        |           source || '/p' || CAST(doc_id AS VARCHAR) || ' ' || text,
        |           ' +', ' ', 'g')) AS wet_text
        |  FROM documents WHERE doc_id % 13 <> 7)
        |SELECT url, wet_text,
        |       CAST(len(str_split(wet_text, ' ')) AS BIGINT) AS n_words
        |FROM w
        |ORDER BY url ASC""".stripMargin)),
    // CDX capture-index planning (CDXJ lines, real SURT + from_json
    // round-trip): latest good capture per urlkey — what to fetch
    Entry("q_cdx_latest", (s, d) => CdxOps.cdxLatest(s, d), Oracle(
      // closed-form mirror of the CDX plan: which capture wins is pure
      // doc_id arithmetic on the oracle side; the engine must SURT, split
      // and from_json its way to the same row
      """WITH d AS (
        |  SELECT doc_id, source, lang, text, n_chars,
        |         CASE WHEN doc_id % 9 = 0 OR doc_id % 10 = 0
        |              THEN 1 ELSE 2 END AS chosen
        |  FROM documents)
        |SELECT 'example,' || source || ')/' || lang || '/p' ||
        |         CAST(doc_id AS VARCHAR) AS urlkey,
        |       'https://' || source || '.example/' || lang || '/p' ||
        |         CAST(doc_id AS VARCHAR) AS url,
        |       '202601' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
        |         lpad(CAST(chosen * 8 AS VARCHAR), 2, '0') || '0000' AS ts,
        |       md5(text || CASE WHEN doc_id % 4 = 0 THEN '1'
        |                        ELSE CAST(chosen AS VARCHAR) END) AS digest,
        |       CAST(n_chars + chosen AS BIGINT) AS length
        |FROM d
        |ORDER BY urlkey ASC""".stripMargin)),
    // revisit collapse: captures vs distinct digests per urlkey — the
    // storage-dedup ratio an archive reader plans against
    Entry("q_cdx_revisit", (s, d) => CdxOps.cdxRevisit(s, d), Oracle(
      // revisit mirror: good-capture and distinct-digest counts in closed
      // form (two good captures unless the third was a 404/PDF; one
      // distinct digest on the % 4 revisit plant)
      """WITH d AS (
        |  SELECT doc_id, source, lang,
        |         CASE WHEN doc_id % 9 = 0 OR doc_id % 10 = 0
        |              THEN 1 ELSE 2 END AS n_captures
        |  FROM documents)
        |SELECT 'example,' || source || ')/' || lang || '/p' ||
        |         CAST(doc_id AS VARCHAR) AS urlkey,
        |       CAST(n_captures AS BIGINT) AS n_captures,
        |       CAST(CASE WHEN n_captures = 1 OR doc_id % 4 = 0
        |                 THEN 1 ELSE 2 END AS BIGINT) AS n_unique,
        |       CAST(CASE WHEN n_captures = 2 AND doc_id % 4 = 0
        |                 THEN 1 ELSE 0 END AS BIGINT) AS has_revisit
        |FROM d
        |ORDER BY urlkey ASC""".stripMargin)),
    // export shard planning: content-addressed hash sharding + balance
    // report — the layout stage between curation and the trainer
    Entry("q_shard_assign", (s, d) => TextAnalysisOps.shardAssign(s, d), Oracle(
      // hash-shard mirror: the last md5 nibble is the shard in both
      // engines; balance share is integer ppm against the heaviest shard
      """WITH a AS (
        |  SELECT doc_id, n_chars,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |         CAST(instr('0123456789abcdef',
        |           substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1 AS BIGINT)
        |           AS shard
        |  FROM documents),
        |g AS (
        |  SELECT shard, count(*) AS n_docs, sum(n_tok) AS n_tokens,
        |         sum(n_chars) AS n_bytes, min(doc_id) AS min_doc
        |  FROM a GROUP BY shard)
        |SELECT shard, CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(n_bytes AS BIGINT) AS n_bytes,
        |       CAST(min_doc AS BIGINT) AS min_doc,
        |       CAST((1000000 * n_tokens) // max(n_tokens) OVER () AS BIGINT)
        |         AS share_ppm
        |FROM g ORDER BY shard ASC""".stripMargin)),
    // SoftDeDup-style reweighting: 1/|cluster| sampling weight (ppm,
    // integer division) over the CC clusters instead of hard removal
    Entry("q_dedup_soft", (s, d) => DedupOps.dedupSoft(s, d), Oracle(
      // SoftDeDup weights: the CC closure + component sizes + the same
      // integer ppm division; the stored twin folds exactly
      SoftDedupOracle)),
    // the weights served from the maintained component store — the
    // reweighting a pipeline actually runs (live closure = backfill)
    Entry("q_dedup_soft_stored", (s, d) => DedupOps.dedupSoftStoredFixture(s, d),
      Oracle(SoftDedupOracle)),
    // WAT-style anchor extraction from the planted full pages — the
    // parse stage between archive and the link-graph family
    Entry("q_wat_links", (s, d) => WarcOps.watLinks(s, d), Oracle(
      // WAT mirror: the planted page's anchor inventory rebuilt
      // arithmetically — nav triple, % 3 details link, six % 5
      // boilerplate links, footer pair, positions computed in closed form
      """WITH d AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS hasd,
        |         CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS hasp
        |  FROM documents),
        |links AS (
        |  SELECT doc_id, 0 AS pos, '/' AS href, 'home' AS anchor FROM d
        |  UNION ALL SELECT doc_id, 1, '/about', 'about' FROM d
        |  UNION ALL SELECT doc_id, 2, '/products', 'products' FROM d
        |  UNION ALL SELECT doc_id, 3, '/d', 'details' FROM d WHERE hasd = 1
        |  UNION ALL SELECT doc_id, 3 + hasd + r.i, '/p', 'more link text here'
        |    FROM d CROSS JOIN (SELECT unnest(range(6)) AS i) r WHERE hasp = 1
        |  UNION ALL SELECT doc_id, 3 + hasd + 6 * hasp, '/privacy', 'privacy' FROM d
        |  UNION ALL SELECT doc_id, 4 + hasd + 6 * hasp, '/terms', 'terms' FROM d)
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos, href, anchor
        |FROM links
        |ORDER BY doc_id ASC, pos ASC""".stripMargin)),
    // DoReMi-class learned mixture: multiplicative weights on integer
    // excess quality, uniform smoothing, trajectory-average output
    Entry("q_domain_doremi", (s, d) => TextAnalysisOps.domainDoremi(s, d), Oracle(
      // DoReMi loop mirrored round by round in generated CTEs
      doremiOracle(5))),
    // T5 span corruption: content-addressed masking, maximal-run spans,
    // sentinel input/target pairs — the denoising-objective data prep
    Entry("q_span_corrupt", (s, d) => TextAnalysisOps.spanCorrupt(s, d), Oracle(
      // span-corruption mirror: same md5-nibble mask, lag/run windows,
      // ordered FILTER string_aggs — byte-identical pairs by construction
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         unnest(range(len(string_split(text, ' ')))) AS p
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, p, toks[p + 1] AS tok,
        |         CASE WHEN instr('0123456789abcdef',
        |             substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |               CAST(p AS VARCHAR)), 32, 1)) - 1 < 3
        |           THEN 1 ELSE 0 END AS m
        |  FROM t),
        |w AS (
        |  SELECT *, CASE WHEN m = 1 AND
        |        coalesce(lag(m) OVER (PARTITION BY doc_id ORDER BY p), 0) = 0
        |      THEN 1 ELSE 0 END AS fos
        |  FROM tok),
        |k AS (
        |  SELECT *, sum(fos) OVER (PARTITION BY doc_id ORDER BY p) AS kk
        |  FROM w),
        |pieces AS (
        |  SELECT doc_id, p, m, kk,
        |         CASE WHEN m = 0 THEN tok
        |              WHEN fos = 1 THEN '<extra_id_' || CAST(kk - 1 AS VARCHAR) || '>'
        |         END AS ip,
        |         CASE WHEN fos = 1 THEN '<extra_id_' || CAST(kk - 1 AS VARCHAR) || '> ' || tok
        |              WHEN m = 1 THEN tok
        |         END AS tp
        |  FROM k)
        |SELECT doc_id,
        |       coalesce(string_agg(ip, ' ' ORDER BY p) FILTER (WHERE ip IS NOT NULL), '') AS input_text,
        |       coalesce(string_agg(tp, ' ' ORDER BY p) FILTER (WHERE tp IS NOT NULL), '') AS target_text,
        |       CAST(coalesce(max(kk), 0) AS BIGINT) AS n_spans,
        |       CAST(sum(m) AS BIGINT) AS n_masked
        |FROM pieces
        |GROUP BY doc_id
        |ORDER BY doc_id ASC""".stripMargin)),
    // FIM infilling prep: content-addressed 50% gate + ordered cuts,
    // PSM rendering — pure map-side projection
    Entry("q_fim_transform", (s, d) => TextAnalysisOps.fimTransform(s, d), Oracle(
      // FIM mirror: same md5-nibble gate and cuts, list slicing in PSM
      // order — double-space seams at empty segments are part of the
      // contract on both sides
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |         CAST(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || ':' || 'c1'), 32, 1)) - 1 AS BIGINT) AS na,
        |         CAST(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || ':' || 'c2'), 32, 1)) - 1 AS BIGINT) AS nb,
        |         CASE WHEN instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || ':' || 'fim'), 32, 1)) - 1 < 8
        |              THEN 1 ELSE 0 END AS fim
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, tk, n_tok, fim,
        |         least(na * n_tok // 16, nb * n_tok // 16) AS c1,
        |         greatest(na * n_tok // 16, nb * n_tok // 16) AS c2
        |  FROM t)
        |SELECT doc_id, CAST(fim AS BIGINT) AS fim, n_tok,
        |       CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
        |       CASE WHEN fim = 0 THEN array_to_string(tk, ' ')
        |            ELSE '<PRE> ' || coalesce(array_to_string(tk[1:c1], ' '), '') ||
        |                 ' <SUF> ' || coalesce(array_to_string(tk[c2+1:n_tok], ' '), '') ||
        |                 ' <MID> ' || coalesce(array_to_string(tk[c1+1:c2], ' '), '')
        |       END AS rendered
        |FROM c
        |ORDER BY doc_id ASC""".stripMargin)),
    // the published stage-wise removal table: docs/tokens surviving each
    // curation stage + per-stage keep ppm — same gates as the entries
    Entry("q_curation_funnel", (s, d) => TextAnalysisOps.curationFunnel(s, d), Oracle(
      // funnel mirror: each stage flag is the PROVEN oracle fragment of
      // its own entry (lang-id CTEs, gopher battery, repetition plants,
      // md5 first-arrival, n-gram hits, mix bucket), cumulative products,
      // a 7-row union, and the lag-window keep ppm
      (s"""WITH $langIdCtes,
          |""".stripMargin + funnelFlagCtes("documents") + ",\n" +
        s"""|agg AS (
        |  SELECT count(*) AS n0, sum(n_tok) AS t0,
        |         sum(k1) AS n1, sum(n_tok * k1) AS t1,
        |         sum(k2) AS n2, sum(n_tok * k2) AS t2,
        |         sum(k3) AS n3, sum(n_tok * k3) AS t3,
        |         sum(k4) AS n4, sum(n_tok * k4) AS t4,
        |         sum(k5) AS n5, sum(n_tok * k5) AS t5,
        |         sum(k6) AS n6, sum(n_tok * k6) AS t6
        |  FROM kk),
        |st AS (
        |  SELECT 0 AS stage, 'raw' AS stage_name, n0 AS n_docs, t0 AS n_tokens FROM agg
        |  UNION ALL SELECT 1, 'lang_id', n1, t1 FROM agg
        |  UNION ALL SELECT 2, 'gopher_rules', n2, t2 FROM agg
        |  UNION ALL SELECT 3, 'gopher_repetition', n3, t3 FROM agg
        |  UNION ALL SELECT 4, 'dedup_exact', n4, t4 FROM agg
        |  UNION ALL SELECT 5, 'decontaminate', n5, t5 FROM agg
        |  UNION ALL SELECT 6, 'domain_mix', n6, t6 FROM agg)
        |SELECT CAST(stage AS BIGINT) AS stage, stage_name,
        |       CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(CASE WHEN lag(n_docs) OVER (ORDER BY stage) IS NULL THEN 1000000
        |                 WHEN lag(n_docs) OVER (ORDER BY stage) = 0 THEN 0
        |                 ELSE n_docs * 1000000 // lag(n_docs) OVER (ORDER BY stage)
        |            END AS BIGINT) AS kept_ppm
        |FROM st
        |ORDER BY stage ASC""".stripMargin))),
    // annealing-phase plan: exact 90th-percentile quality fence routes
    // the top slice to the final training stretch + a 10% replay slice
    Entry("q_anneal_mix", (s, d) => TextAnalysisOps.annealMix(s, d), Oracle(
      // anneal mirror: the shared rounded quality, the exact order
      // statistic at rank floor(0.9·(n−1)) (the q_quantile_exact
      // convention), strict-above routing, and the coprime replay bucket
      """WITH q AS (
        |  SELECT doc_id,
        |         round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |             / len(string_split(text, ' ')) * 0.5 +
        |           least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0) * 0.5, 6)
        |           AS quality
        |  FROM documents),
        |n AS (SELECT count(*) AS c FROM q),
        |s AS (SELECT quality AS v, row_number() OVER (ORDER BY quality) AS rn FROM q),
        |f AS (
        |  SELECT s.v AS fence FROM s CROSS JOIN n
        |  WHERE s.rn = CAST(floor(0.9 * (n.c - 1)) AS BIGINT) + 1)
        |SELECT q.doc_id, q.quality,
        |       CASE WHEN q.quality > f.fence THEN 'anneal' ELSE 'main' END AS phase,
        |       CAST(CASE WHEN q.quality > f.fence
        |                  OR (q.doc_id * 1540483477) % 1000 < 100
        |             THEN 1 ELSE 0 END AS BIGINT) AS anneal_epoch
        |FROM q CROSS JOIN f
        |ORDER BY q.doc_id ASC""".stripMargin)),
    // data-constrained scaling check: epochs per domain under the
    // learned mixture and a 4-pass budget; ~4-epoch value-cliff flag
    Entry("q_epoch_plan", (s, d) => TextAnalysisOps.epochPlan(s, d), Oracle(
      // the DoReMi CTEs + token sums + the 4-pass budget arithmetic
      epochPlanOracle(5))),
    // the funnel maintained as a STREAM over the bloom store: per-batch
    // stage totals appended, served by summing the log — fully oracled
    // as of r17 against the batch report SQL (ordered halves + the
    // build's require()'d zero-FP measurement make the log fold
    // algebraically the batch fold)
    Entry("q_curation_funnel_stream", (s, d) => TextAnalysisOps.funnelStreamFixture(s, d), Oracle(
      // the STREAM twin faces the SAME report oracle as of r17: ordered
      // halves + zero bloom false positives make the log fold
      // algebraically the batch fold (no FN by construction; FP = 0 is
      // require()'d in the fixture build against the exact half-1 hash
      // set — a deterministic guarantee, not a probability)
      (s"""WITH $langIdCtes,
          |""".stripMargin + funnelFlagCtes("documents") + ",\n" +
        s"""|agg AS (
        |  SELECT count(*) AS n0, sum(n_tok) AS t0,
        |         sum(k1) AS n1, sum(n_tok * k1) AS t1,
        |         sum(k2) AS n2, sum(n_tok * k2) AS t2,
        |         sum(k3) AS n3, sum(n_tok * k3) AS t3,
        |         sum(k4) AS n4, sum(n_tok * k4) AS t4,
        |         sum(k5) AS n5, sum(n_tok * k5) AS t5,
        |         sum(k6) AS n6, sum(n_tok * k6) AS t6
        |  FROM kk),
        |st AS (
        |  SELECT 0 AS stage, 'raw' AS stage_name, n0 AS n_docs, t0 AS n_tokens FROM agg
        |  UNION ALL SELECT 1, 'lang_id', n1, t1 FROM agg
        |  UNION ALL SELECT 2, 'gopher_rules', n2, t2 FROM agg
        |  UNION ALL SELECT 3, 'gopher_repetition', n3, t3 FROM agg
        |  UNION ALL SELECT 4, 'dedup_exact', n4, t4 FROM agg
        |  UNION ALL SELECT 5, 'decontaminate', n5, t5 FROM agg
        |  UNION ALL SELECT 6, 'domain_mix', n6, t6 FROM agg)
        |SELECT CAST(stage AS BIGINT) AS stage, stage_name,
        |       CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(CASE WHEN lag(n_docs) OVER (ORDER BY stage) IS NULL THEN 1000000
        |                 WHEN lag(n_docs) OVER (ORDER BY stage) = 0 THEN 0
        |                 ELSE n_docs * 1000000 // lag(n_docs) OVER (ORDER BY stage)
        |            END AS BIGINT) AS kept_ppm
        |FROM st
        |ORDER BY stage ASC""".stripMargin))),
    // SFT pair formatting with loss-mask accounting: planted
    // prompt/response halves, chat template, masked-token counts
    Entry("q_sft_format", (s, d) => TextAnalysisOps.sftFormat(s, d), Oracle(
      // SFT mirror: same halves, template and integer mask accounting
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |c AS (SELECT doc_id, tk, n, n // 2 AS np FROM t)
        |SELECT doc_id,
        |       '<|user|> ' || coalesce(array_to_string(tk[1:np], ' '), '') ||
        |         ' <|assistant|> ' ||
        |         coalesce(array_to_string(tk[np+1:n], ' '), '') AS rendered,
        |       CAST(n + 2 AS BIGINT) AS n_total,
        |       CAST(np + 2 AS BIGINT) AS n_masked,
        |       CAST((np + 2) * 1000000 // (n + 2) AS BIGINT) AS mask_ppm
        |FROM c
        |ORDER BY doc_id ASC""".stripMargin)),
    // the INDEXER: CDXJ capture records built FROM the parsed WARC
    // members (fetch -> archive -> index -> plan; q_cdx_latest consumes
    // what this step produces); only length-valid records index
    Entry("q_cdx_index", (s, d) => CdxOps.cdxIndexFromWarc(s, d), Oracle(
      // indexer mirror: the q_warc_parse payload rebuild, corrupt rows
      // excluded, SURT/timestamp/digest in closed form
      """WITH p AS (
        |  SELECT source, lang, doc_id,
        |         'https://' || source || '.example/' || lang || '/p' ||
        |           CAST(doc_id AS VARCHAR) AS url,
        |         'HTTP/1.1 200 OK' || chr(13) || chr(10) ||
        |           'Content-Type: text/html' || chr(13) || chr(10) ||
        |           chr(13) || chr(10) ||
        |           '<html><head><title>' || source || '/p' ||
        |           CAST(doc_id AS VARCHAR) || '</title></head><body><p>' ||
        |           text || '</p></body></html>' AS payload
        |  FROM documents WHERE doc_id % 13 <> 7)
        |SELECT 'example,' || source || ')/' || lang || '/p' ||
        |         CAST(doc_id AS VARCHAR) AS urlkey,
        |       '202601' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
        |         lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || '0000' AS ts,
        |       url, '200' AS status, md5(payload) AS digest,
        |       CAST(length(payload) AS BIGINT) AS length
        |FROM p
        |ORDER BY urlkey ASC""".stripMargin)),
    // the published serve shape (r17): the SAME chain scored against the
    // sample-trained maintained LM — no corpus-derived count table, no
    // dispatch decision job anywhere in the serve plan
    Entry("q_curate_ccnet_stored", (s, d) => TextAnalysisOps.curateCcnetStored(s, d), Oracle(
      // the maintained-LM serve: same gates + fences, scores from the
      // doc_id%2=0 sample-trained top-512 model with OOV floored to 0
      ("WITH " + curateCcnetStoredCtes("documents", "") + "\n" +
        curateCcnetSelect("") + "\nORDER BY doc_id ASC"))),
    // the per-language maintained-LM serve (r17): each shard scored
    // against ITS stored sample-trained model, |langs|*512-row broadcast
    Entry("q_curate_multilang_stored", (s, d) => LangIdOps.curateMultilangStored(s, d), Oracle(
      // the per-language maintained-LM serve: each language's branch is
      // the stored-CCNet chain trained on ITS doc_id%2=0 shard sample
      {
        val ctes = LangIdOps.langs.map { l =>
          s"""end_s$l AS (
             |  SELECT d.doc_id, d.text
             |  FROM documents d JOIN lpred p USING (doc_id)
             |  WHERE p.predicted = '$l'),
             |${curateCcnetStoredCtes(s"end_s$l", s"_s$l")}""".stripMargin
        }.mkString(",\n")
        val branches = LangIdOps.langs.map { l =>
          s"SELECT '$l' AS lang, q.* FROM (\n${curateCcnetSelect(s"_s$l")}) q"
        }.mkString("\nUNION ALL\n")
        s"""WITH $langIdCtes,
           |$ctes
           |$branches
           |ORDER BY lang ASC, doc_id ASC""".stripMargin
      })),
    // the COMPLETE archive->training spine (r17): WARC members -> parse
    // + length gate -> envelope strip -> main-content extraction (keys
    // recovered from the record URL) -> six-gate funnel -> export shard
    // plan of the survivors — CC dump in, training shards out
    Entry("q_archive_e2e", (s, d) => WarcOps.archiveE2e(s, d), Oracle(
      // the archive->training spine: valid records are closed-form
      // (doc_id % 13 <> 7), main_text from the proven html-main CTEs,
      // lang-id + six-gate funnel over the EXTRACTED corpus, shard plan
      // of the k6 survivors — the engine must round-trip the real bytes
      archiveE2eOracleSql)),
    // the spine as a STREAM (r17): per-batch extract + bloom
    // first-arrival + gate battery appending shard partials, served by
    // folding the log — ordered halves + require()'d zero-FP make it
    // face the SAME oracle as the batch spine
    Entry("q_archive_e2e_stream", (s, d) => WarcOps.archiveStreamFixture(s, d),
      Oracle(archiveE2eOracleSql)),
    // the composed en chain served from the stored en model (r17)
    Entry("q_curate_e2e_lang_stored", (s, d) => LangIdOps.curateE2eLangStored(s, d), Oracle(
      // the composed en chain on the stored en model: train CTEs scoped to
      // the predicted-en sample, everything else the proven chain
      (s"""WITH $langIdCtes,
          |endocs AS (
          |  SELECT d.doc_id, d.text
          |  FROM documents d JOIN lpred p USING (doc_id)
          |  WHERE p.predicted = 'en'),
          |""".stripMargin + curateCcnetStoredCtes("endocs", "") + "\n" +
        curateCcnetSelect("") + "\nORDER BY doc_id ASC"))),
    // the confidence-banded gate on the stored en model (r17): the model
    // stays prediction-routed; gates/scoring/fences run over the verdict
    Entry("q_curate_e2e_verdict_stored", (s, d) => LangIdOps.curateE2eVerdictStored(s, d), Oracle(
      // the banded gate on the stored en model: the TRAIN rel stays the
      // predicted-en sample, the scored corpus is the verdict subset
      (s"""WITH $langIdCtes,
          |entrain AS (
          |  SELECT d.doc_id, d.text
          |  FROM documents d JOIN lpred p USING (doc_id)
          |  WHERE p.predicted = 'en'),
          |vdocs AS (
          |  SELECT d.doc_id, d.text
          |  FROM documents d JOIN lpred p USING (doc_id)
          |  WHERE p.predicted = 'en'
          |    AND p.s_en - greatest(p.s_de, p.s_es, p.s_fr, p.s_zh)
          |        >= ${LangIdOps.DefaultMinMargin}),
          |""".stripMargin + curateCcnetStoredCtes("vdocs", "", "entrain") + "\n" +
        curateCcnetSelect("") + "\nORDER BY doc_id ASC"))),
    // write-then-verify sharded export (r17): documents land in a
    // shard-partitioned collection, the manifest computes FROM THE
    // WRITTEN table — per-shard totals + id range + bit_xor content
    // checksum, so a lost/doubled/corrupted row fails the oracle
    Entry("q_export_verified",
      (s, d) => CatalogOps.exportShardedVerified(s, "graft_export", "docs", Tables.documents(s, d)),
      Oracle(
        // the manifest is closed-form from documents arithmetic; the engine
        // must round-trip the WRITE to produce it — any write-path byte slip
        // moves the bit_xor checksum
        exportManifestOracleSql)),
    // the export as a STREAM (r18): per-micro-batch idempotent
    // (shard, batch_id) partition writes + a manifest-partials log in
    // docs-then-log commit order, served by recomputing the manifest
    // FROM the written table and require()-reconciling it against the
    // folded log — stream-in -> verified-shards-out, same closed-form
    // oracle as the batch export
    Entry("q_export_verified_stream", (s, d) => CatalogOps.exportStreamFixture(s, d), Oracle(
      // the STREAMING export faces the SAME closed form: the two ordered
      // halves partition the corpus, sums/min/max/bit_xor are associative,
      // and the serve require()s the written table ≡ the folded log before
      // returning — so the folded manifest IS the batch manifest exactly
      exportManifestOracleSql)),
    // revisit-aware spine (r18): members planted with % 4 byte-identical
    // re-crawl captures; extraction runs ONCE per distinct payload
    // digest (min-struct winner, combinable) and fans out to captures —
    // same shard plan, measurably fewer extraction rows (WarcSpec pins
    // both), same closed-form oracle
    Entry("q_archive_e2e_revisit", (s, d) => WarcOps.archiveE2eRevisit(s, d), Oracle(
      // the revisit plant adds only byte-identical captures of existing
      // pages and the digest collapse + (digest, url) fan-out returns the
      // full spine's corpus exactly — same closed form
      archiveE2eOracleSql)),
    // the FULL loop (r18): discover -> admit -> schedule -> fetch ->
    // archive -> extract -> curate -> shard in ONE composed plan — the
    // crawl plan's politeness-capped schedule crosses the injected
    // fetch surface into WARC members and feeds the unchanged spine;
    // the schedule side broadcasts (hosts x cap), the corpus never
    // shuffles for the fetch join
    Entry("q_crawl_archive_e2e", (s, d) => WarcOps.crawlArchiveE2e(s, d), Oracle(
      // the crawl-plan CTEs thread straight into the spine's: scheduled
      // page ids (both URL shapes canonicalize via /p<id>) subset the
      // corpus, then the identical extraction/funnel/shard chain runs
      // over the fetched pages — one chained-CTE mirror of the full loop
      // MATERIALIZED on sched/xraw is load-bearing (the q_bpe_tokens
      // lesson): the spine CTEs reference xraw many times, and DuckDB
      // would otherwise re-inline the whole crawl-plan derivation into
      // each reference (measured: 0.3 s materialized vs > 5 min inlined)
      archiveSpineOracleSql(
        """xraw AS MATERIALIZED (
          |  SELECT d.doc_id, d.lang, d.source, d.text
          |  FROM documents d JOIN sched USING (doc_id)
          |  WHERE d.doc_id % 13 <> 7)""".stripMargin,
        prefixCtes = crawlPlanCtes + """,
          |sched AS MATERIALIZED (
          |  SELECT DISTINCT CAST(regexp_extract(url, '/p([0-9]+)$', 1)
          |    AS BIGINT) AS doc_id
          |  FROM r2 WHERE slot <= cap),
          |""".stripMargin))),
    // the revisit spine as a STREAM (r18): extraction is STORE-BACKED
    // across micro-batches — digest the batch, anti-join the maintained
    // xtexts store, extract only never-seen digests, fold the capture
    // corpus from store + new; an unchanged page re-fetched in every
    // crawl extracts exactly once, ever. Same oracle as the batch spine
    Entry("q_archive_e2e_revisit_stream", (s, d) => WarcOps.archiveRevisitStreamFixture(s, d),
      Oracle(
        // the store changes WHERE a text comes from, never what it is
        // (digests are content addresses); ordered halves + require()'d
        // zero-FP carry the stream-oracle argument unchanged
        archiveE2eOracleSql)),
    // the spine's survivors land as verified bytes (r19): WARC members
    // -> parse -> extract -> six-gate funnel -> the CURATED text
    // written sharded + manifest recomputed from the written table —
    // the curate -> verified-write seam a production pipeline ships
    Entry("q_spine_export_verified", (s, d) => WarcOps.spineExportVerified(s, d), Oracle(
      // the spine CTEs thread into the manifest arithmetic: survivors'
      // curated text, sharded + checksummed — any byte lost between the
      // gate battery and storage moves the bit_xor
      spineExportOracleSql)),
    // the spine-survivor export as a STREAM (r19): per-batch gate
    // battery over the maintained bloom store, survivors landed via
    // idempotent (shard, batch_id) writes in docs -> log -> bloom
    // commit order, compacted to one file set per shard, served by the
    // written-table-vs-folded-log reconciliation — same closed form
    Entry("q_spine_export_verified_stream", (s, d) => WarcOps.spineExportStreamFixture(s, d),
      Oracle(
        // the streamed halves partition the batch funnel's survivor set
        // (ordered halves + require()'d zero-FP bloom), every manifest
        // column folds associatively, and the fixture compacts before
        // serving — so the served manifest IS the batch manifest exactly
        spineExportOracleSql)),
    // the full loop LIVE (r19): repeated crawl cycles — half schedule,
    // then the steady-state full re-crawl — through store-backed
    // revisit extraction, the incremental gate battery, and the
    // verified export; revisits extract once ACROSS cycles and
    // re-fetched texts never re-export
    Entry("q_crawl_archive_e2e_stream", (s, d) => WarcOps.crawlArchiveStreamFixture(s, d), Oracle(
      // the FULL loop live: crawl-plan CTEs -> fetched-subset spine
      // CTEs -> manifest closed form. Ordered cycles (half schedule,
      // then the full re-crawl) + the require()'d zero-FP bloom make
      // the streamed survivor set exactly the batch funnel's over the
      // fetched corpus; the re-crawl's revisits extract once across
      // cycles and never re-export, so the served manifest IS this
      spineExportOracleSqlOf(
        """xraw AS MATERIALIZED (
          |  SELECT d.doc_id, d.lang, d.source, d.text
          |  FROM documents d JOIN sched USING (doc_id)
          |  WHERE d.doc_id % 13 <> 7)""".stripMargin,
        prefixCtes = crawlPlanCtes + """,
          |sched AS MATERIALIZED (
          |  SELECT DISTINCT CAST(regexp_extract(url, '/p([0-9]+)$', 1)
          |    AS BIGINT) AS doc_id
          |  FROM r2 WHERE slot <= cap),
          |""".stripMargin))),
    // the extraction store's RETENTION story live (r19): generational
    // eviction between crawl cycles — evicted digests re-extract
    // exactly once (self-healing miss), retained ones never, and the
    // served manifest is byte-identical to the un-evicted loop's
    Entry("q_crawl_archive_evict", (s, d) => WarcOps.crawlArchiveEvictFixture(s, d), Oracle(
      // generational eviction between cycles moves extraction WORK (the
      // evicted digests re-extract, require()'d exactly-once), never a
      // byte of output: extractions are pure functions of the payload
      // behind the digest, so the served manifest faces the SAME closed
      // form as the un-evicted loop
      spineExportOracleSqlOf(
        """xraw AS MATERIALIZED (
          |  SELECT d.doc_id, d.lang, d.source, d.text
          |  FROM documents d JOIN sched USING (doc_id)
          |  WHERE d.doc_id % 13 <> 7)""".stripMargin,
        prefixCtes = crawlPlanCtes + """,
          |sched AS MATERIALIZED (
          |  SELECT DISTINCT CAST(regexp_extract(url, '/p([0-9]+)$', 1)
          |    AS BIGINT) AS doc_id
          |  FROM r2 WHERE slot <= cap),
          |""".stripMargin))),
  ))

  private[graft] def distinctNames(es: Seq[Entry]): Seq[Entry] = {
    val dups = es.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate entry names: ${dups.toSeq.sorted.mkString(", ")}")
    es
  }
}
