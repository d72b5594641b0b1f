package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WARC container round-trip — the ingestion format every web-scale
  * corpus actually arrives in (ISO 28500; Common Crawl publishes its
  * crawls as WARC/WET/WAT). The reference fetches pages one URL at a
  * time (ref `Crawling.py:41-44`); a 100 TB pipeline instead reads
  * archived WARC members — concatenated records of WARC headers, an
  * HTTP envelope, and the payload — and must re-split, parse, and
  * length-validate them before any downstream stage runs.
  *
  * The zero-egress fixture has no archive files, so WARC members are
  * PLANTED from `documents` arithmetic (the q_crawl_sitemap
  * convention): one response record per document, grouped into one
  * member per host. The engine must round-trip through a REAL record
  * split + header parse + Content-Length check and land exactly on the
  * closed form the DuckDB oracle computes directly. Gate variation is
  * planted: every `doc_id % 13 == 7` record's Content-Length header
  * overstates the payload by one byte (a truncated-transfer stand-in),
  * so the length gate fires both ways on the corpus.
  *
  * Scale: record building, splitting and header parsing are all
  * map-side codegen (concat / split / regexp_extract); the only
  * exchange is the host-grain member assembly (collect_list at host
  * cardinality — the grain archives are written at). Parsing N members
  * is embarrassingly parallel: one task per member span, no shuffle at
  * all in a real `binaryFile` read. Payloads never leave their row —
  * no corpus-grain wide rows are shuffled.
  */
object WarcOps {

  private val Crlf = "\r\n"
  private val BlankLine = Crlf + Crlf

  /** The planted per-document record pieces, shared by the member
    * builder and the WET/Scaladoc arithmetic. Payload = HTTP/1.1
    * envelope + a full HTML page titled `source/p<doc_id>`.
    */
  private[graft] def plantedRecords(docs: DataFrame): DataFrame =
    plantedRecordsOf(docs,
      concat(lit("<html><head><title>"), col("source"), lit("/p"),
        col("doc_id").cast("string"), lit("</title></head><body><p>"),
        col("text"), lit("</p></body></html>")))

  /** The record builder parameterized on the payload HTML — the simple
    * title+paragraph page for the parse/WET entries, the full planted
    * page ([[graft.operators.TextOps.plantedPage]]) for the archive
    * e2e spine (r17). Headers, dates, and the % 13 == 7 length
    * corruption are identical regardless of body. `capture = 2` plants
    * a REVISIT of the same page (r18): a later crawl of the same URL
    * returning byte-identical payload — WARC-Date one month later and
    * a distinct record id, everything else (URL, payload, corruption
    * rule) unchanged, so its payload digest collides with capture 1's
    * by construction.
    */
  private[graft] def plantedRecordsOf(docs: DataFrame,
      html: Column, capture: Int = 1): DataFrame = {
    val url = concat(lit("https://"), col("source"), lit(".example/"),
      col("lang"), lit("/p"), col("doc_id").cast("string"))
    val payload = concat(
      lit("HTTP/1.1 200 OK" + Crlf + "Content-Type: text/html" + BlankLine),
      html)
    val warcDate = concat(lit(f"2026-$capture%02d-"),
      lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0"), lit("T"),
      lpad((col("doc_id") % 24).cast("string"), 2, "0"), lit(":00:00Z"))
    val recId = if (capture == 1) md5(url)
      else md5(concat(url, lit(s"#$capture")))
    // the planted corruption: % 13 == 7 headers overstate by one byte
    val declaredLen = length(payload) +
      when(col("doc_id") % 13 === 7, 1L).otherwise(0L)
    docs.select(
      col("source").as("host"), col("doc_id"),
      concat(
        lit("WARC/1.0" + Crlf),
        lit("WARC-Type: response" + Crlf),
        lit("WARC-Target-URI: "), url, lit(Crlf),
        lit("WARC-Date: "), warcDate, lit(Crlf),
        lit("WARC-Record-ID: <urn:md5:"), recId, lit(">" + Crlf),
        lit("Content-Type: application/http" + Crlf),
        lit("Content-Length: "), declaredLen.cast("string"),
        lit(BlankLine),
        payload, lit(BlankLine)).as("rec"))
  }

  /** WARC members: records concatenated in doc_id order, one member per
    * (host, 1000-record chunk) — real archives cap member size (Common
    * Crawl writes ~1 GB members), so a member row must NEVER scale with
    * a host's page count: the chunk key bounds the collect_list at
    * 1000 records regardless of host size. Parsing re-splits on the
    * record magic, so the member grouping is invisible to every
    * downstream consumer (and to the oracle, which mirrors records,
    * not members).
    */
  private[graft] def warcMembersOf(docs: DataFrame): DataFrame =
    warcMembersFrom(plantedRecords(docs))

  /** Member assembly over ANY (host, doc_id, rec) record frame — the
    * (host, 1000-record chunk) grain bounds every member row
    * regardless of host size.
    */
  private[graft] def warcMembersFrom(records: DataFrame): DataFrame =
    records
      .groupBy(col("host"), expr("doc_id div 1000").as("__chunk"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("doc_id"), col("rec")))),
          s => s.getField("rec")), "").as("warc"))
      .select(col("host"), col("warc"))

  /** Parse (host, warc) members back into records: resync-split on the
    * record magic, header block = everything before the first blank
    * line, payload = the rest minus the record terminator, then header
    * extraction + the Content-Length validation every WARC reader runs.
    * Entirely map-side after the explode.
    */
  private[graft] def warcParseOn(members: DataFrame): DataFrame = {
    val recs = members
      .select(col("host"),
        explode(filter(split(col("warc"), "WARC/1\\.0\r\n"),
          r => length(r) > 0)).as("rec"))
    val hdr = substring_index(col("rec"), BlankLine, 1)
    val payload = col("rec").substr(length(hdr) + lit(5),
      length(col("rec")) - length(hdr) - lit(8))
    def header(name: String): Column =
      regexp_extract(col("rec").substr(lit(1), length(hdr)),
        name + ": ([^\r\n]+)", 1)
    recs.select(
      col("host"),
      header("WARC-Target-URI").as("url"),
      header("WARC-Record-ID").as("rec_id"),
      header("WARC-Date").as("warc_date"),
      header("WARC-Type").as("warc_type"),
      header("Content-Length").cast("long").as("content_length"),
      length(payload).cast("long").as("payload_len"),
      regexp_extract(payload, "^HTTP/1\\.1 ([0-9]+)", 1).as("http_status"),
      payload.as("payload"))
      .withColumn("len_ok",
        (col("payload_len") === col("content_length")).cast("long"))
  }

  /** `q_warc_parse`: the full member round-trip over the planted
    * corpus — build members, re-split, parse headers, validate lengths.
    */
  def warcParse(spark: SparkSession, dir: String): DataFrame =
    warcParseOn(warcMembersOf(Tables.documents(spark, dir)))
      .select(col("host"), col("url"), col("rec_id"), col("warc_date"),
        col("warc_type"), col("content_length"), col("payload_len"),
        col("http_status"), col("len_ok"))
      .orderBy(col("url").asc)

  /** `q_warc_wet`: WET-style text extraction from parsed members —
    * keep only length-valid 200 responses, drop the HTTP envelope,
    * strip markup, collapse whitespace (the Common Crawl WET contract:
    * one text conversion per valid response record). The length gate
    * does real work here: the planted corrupt records are excluded.
    */
  def warcWet(spark: SparkSession, dir: String): DataFrame =
    wetOn(warcParseOn(warcMembersOf(Tables.documents(spark, dir))))
      .orderBy(col("url").asc)

  /** The WET conversion core on ANY parsed-record frame — shared by the
    * batch entry and the streaming ingest twin (identical arithmetic by
    * construction).
    */
  private[graft] def wetOn(parsed: DataFrame): DataFrame = {
    val valid = parsed
      .filter(col("len_ok") === 1L && col("http_status") === "200")
    val httpHdr = substring_index(col("payload"), BlankLine, 1)
    val html = col("payload").substr(length(httpHdr) + lit(5),
      length(col("payload")) - length(httpHdr) - lit(4))
    valid
      .withColumn("wet_text",
        trim(regexp_replace(regexp_replace(html, "<[^>]*>", " "), " +", " ")))
      .select(col("url"), col("wet_text"),
        size(split(col("wet_text"), " ")).cast("long").as("n_words"))
  }

  /** `q_archive_e2e` (r17): the COMPLETE archive→training spine in one
    * composed plan — the actual shape of a 100 TB pipeline (CC dump in,
    * training shards out), composing every stage r16 built separately:
    *
    *   WARC members (payload = the FULL planted page, not the title
    *   stub) → record re-split + header parse + Content-Length gate
    *   ([[warcParseOn]]; the % 13 == 7 corrupt records drop here) →
    *   HTTP envelope strip → block-scored MAIN-CONTENT extraction
    *   ([[graft.operators.TextOps.htmlMainOn]]) with (doc_id, lang,
    *   source) recovered from the record URL, never trusted from a side
    *   channel → the six-gate curation funnel
    *   ([[graft.operators.TextAnalysisOps.funnelFlagsOn]]) over the
    *   EXTRACTED text → hash shard assignment of the survivors (the
    *   q_shard_assign report, scoped to what actually ships).
    *
    * Output: the 16-row export shard plan of the surviving corpus —
    * every upstream byte (a dropped record, a boilerplate block, a
    * failed gate) moves these totals, so the hash-match verifies the
    * whole spine.
    *
    * Scale: parse/extract/keys are map-side on the member split; the
    * extracted corpus localCheckpoints ONCE before the funnel (its six
    * gate consumers would otherwise each re-run the parse chain — the
    * curateE2eLang materialize-the-gated-subset discipline); the funnel
    * adds its one hash-grain dedup exchange; shard totals are a 16-row
    * exchange. No corpus-grain exchange beyond the member assembly and
    * the funnel's own profile.
    */
  def archiveE2e(spark: SparkSession, dir: String): DataFrame =
    shardPlanOfSurvivors(
      // EAGER checkpoint (r20): the funnel's side inputs (eval n-gram
      // set, dedup flags, the n_bytes join-back) are built as CONCURRENT
      // broadcast jobs, and a lazy checkpoint only dedups SEQUENTIAL
      // consumers — each racing broadcast re-ran the whole parse +
      // extraction chain (JobCount: three ~0.55 s broadcast jobs at
      // sf0.1, collapsed to one 0.63 s materialization + ~0.04 s reads).
      // Wall-time is ~flat at fixture scale (the races overlapped on
      // idle cores); the win is 3× the parse CPU at 100 TB, where the
      // corpus-scale chain cannot hide behind idle capacity.
      extractOf(plantedSpineMembers(spark, dir)).localCheckpoint())

  /** The archive spine's planted member input: WARC members whose
    * payload body is the FULL planted page (shared by the batch entry
    * and the streaming fixture so the two spines read the same bytes).
    */
  private[graft] def plantedSpineMembers(spark: SparkSession,
      dir: String): DataFrame = {
    val docs0 = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    warcMembersFrom(plantedRecordsOf(
      graft.operators.TextOps.plantedPage(docs0), col("html")))
  }

  /** Member bytes → extracted corpus: record re-split + header parse +
    * Content-Length gate, HTTP envelope strip, block-scored main
    * content, (doc_id, lang, source) recovered from the record URL.
    * Map-side end to end after the member explode; callers checkpoint
    * (the frame feeds the funnel's six gate consumers).
    */
  private[graft] def extractOf(members: DataFrame): DataFrame =
    extractFromValid(warcParseOn(members)
      .filter(col("len_ok") === 1L && col("http_status") === "200"))

  /** Envelope strip + URL key recovery + block-scored main content over
    * any length-valid parsed-record frame carrying (url, payload) —
    * the per-record extraction core, factored (r18) so the full and
    * revisit-aware spines share one implementation.
    */
  private[graft] def extractFromValid(parsed: DataFrame): DataFrame = {
    import graft.operators.TextOps
    TextOps.htmlMainOn(parsed.select(urlKeyCols :+ payloadHtmlCol: _*))
      .select(col("doc_id"), col("lang"), col("source"),
        col("main_text").as("text"))
  }

  /** Key recovery from a capture URL — THE single definition of the
    * `https://{source}.example/{lang}/p{doc_id}` convention (r18
    * review: this triple appeared in three extraction sites; one copy
    * drifting would silently diverge them on non-fixture corpora).
    */
  private def urlKeyCols: Seq[Column] = Seq(
    regexp_extract(col("url"), "/p([0-9]+)$", 1).cast("long").as("doc_id"),
    regexp_extract(col("url"), "\\.example/([^/]+)/p", 1).as("lang"),
    regexp_extract(col("url"), "^https://([^.]+)\\.example/", 1)
      .as("source"))

  /** The HTTP-envelope strip: payload → html body (`as("html")`). */
  private def payloadHtmlCol: Column = {
    val httpHdr = substring_index(col("payload"), BlankLine, 1)
    col("payload").substr(length(httpHdr) + lit(5),
      length(col("payload")) - length(httpHdr) - lit(4)).as("html")
  }

  /** Earliest capture per distinct payload digest — the combinable
    * min-struct winner shared by the batch and store-backed revisit
    * paths: (digest, payload).
    */
  private def digestWinnersOf(withDigest: DataFrame): DataFrame =
    withDigest
      .groupBy(col("__digest"))
      .agg(min(struct(col("warc_date"), col("rec_id"), col("url"),
        col("payload"))).as("__w"))
      .select(col("__digest"), col("__w").getField("payload").as("payload"))

  /** Block-scored main text of winner payloads: (digest, text). */
  private def mainTextByDigest(winners: DataFrame): DataFrame =
    graft.operators.TextOps.htmlMainOn(
        winners.select(col("__digest"), payloadHtmlCol))
      .select(col("__digest"), col("main_text").as("text"))

  /** Fan one extraction per digest out to the captures, key recovery on
    * each capture's OWN url: (doc_id, lang, source, text).
    */
  private def fanOutToCaptures(withDigest: DataFrame,
      texts: DataFrame): DataFrame =
    withDigest.select(col("__digest"), col("url")).distinct()
      .join(texts, Seq("__digest"))
      .select(urlKeyCols :+ col("text"): _*)

  /** The revisit-planted spine input (r18): the same full-page members
    * as [[plantedSpineMembers]] plus a SECOND capture of every
    * `doc_id % 4 == 0` page — byte-identical payload, one month later
    * (the q_cdx_revisit `% 4` shared-digest convention at the member
    * layer: real crawls re-fetch unchanged pages constantly and archive
    * the duplicates as revisit records).
    */
  private[graft] def plantedSpineMembersRevisit(spark: SparkSession,
      dir: String): DataFrame =
    plantedSpineMembersRevisitOf(Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text")))

  /** The revisit member builder over ANY (doc_id, lang, source, text)
    * frame — the streaming fixture feeds doc_id-ordered halves.
    */
  private[graft] def plantedSpineMembersRevisitOf(
      docs0: DataFrame): DataFrame = {
    val paged = graft.operators.TextOps.plantedPage(docs0)
    warcMembersFrom(
      plantedRecordsOf(paged, col("html"))
        .unionByName(plantedRecordsOf(paged.filter(col("doc_id") % 4 === 0),
          col("html"), capture = 2)))
  }

  /** Length-valid parsed records of the revisit-planted members —
    * factored so the spec can measure capture rows vs distinct digests
    * (the extraction-savings probe).
    */
  private[graft] def revisitValidRecords(spark: SparkSession,
      dir: String): DataFrame =
    warcParseOn(plantedSpineMembersRevisit(spark, dir))
      .filter(col("len_ok") === 1L && col("http_status") === "200")

  /** Revisit-aware extraction (r18): extract ONCE per distinct payload
    * digest and fan the result out to captures — what a real Common
    * Crawl reader does with revisit records (q_cdx_revisit MEASURES the
    * collapse ratio; this exploits it). The winner per digest is the
    * earliest capture via a min-struct aggregate (map-side combinable —
    * a million-revisit page costs one struct per partition, never a
    * rank window on a hot digest); the heavy block-scored extraction
    * runs only on winners; the fan-out is one digest-keyed equi-join;
    * capture-grain key recovery stays on each capture's OWN url, so two
    * urls sharing bytes keep their identities. Identical twin captures
    * of one url collapse at (digest, url) grain — the extracted corpus
    * is exactly the full-extraction spine's, with measurably fewer
    * extraction rows (the revisit share).
    */
  private[graft] def extractRevisitAware(valid: DataFrame): DataFrame = {
    val withDigest = valid.withColumn("__digest", md5(col("payload")))
    fanOutToCaptures(withDigest,
      mainTextByDigest(digestWinnersOf(withDigest)))
  }

  /** `q_archive_e2e_revisit` (r18): the archive→training spine over the
    * REVISIT-PLANTED members with digest-collapsed extraction — the
    * same 16-row shard plan as q_archive_e2e (the planted revisits are
    * byte-identical re-crawls of existing pages, so the extracted
    * corpus is unchanged; WarcSpec pins plan equality and the
    * extraction-row savings), against the same closed-form oracle.
    * Scale trade, documented: one extra digest-grain exchange (the
    * winner aggregate + fan-out join) buys extraction work proportional
    * to DISTINCT content instead of captures — on real crawls the
    * revisit share is large, and block-scored extraction dominates the
    * per-record cost.
    */
  def archiveE2eRevisit(spark: SparkSession, dir: String): DataFrame =
    shardPlanOfSurvivors(
      // eager for the same reason as [[archiveE2e]] (r20): the funnel's
      // concurrent broadcast side inputs would each re-run the
      // revisit-aware extraction chain under a lazy cut
      extractRevisitAware(revisitValidRecords(spark, dir))
        .localCheckpoint())

  /** Funnel + shard-plan tail of the archive spine over any extracted
    * (doc_id, lang, source, text) corpus — factored so the spec can pin
    * the WARC round-trip lossless (archive path ≡ direct extraction).
    */
  private[graft] def shardPlanOfSurvivors(xdocs: DataFrame): DataFrame = {
    val (evalNg, ded) = batchGateInputs(xdocs)
    shardReportOf(survivorShardPartials(xdocs, evalNg, ded))
  }

  /** The BATCH spine's two gate side inputs over one whole extracted
    * corpus: the global min-doc_id exact-dedup flag (hash-grain
    * aggregate, no pairs) and the src19 decontamination n-gram set —
    * factored (r19) so the shard plan and the verified export of the
    * same survivors derive them identically.
    */
  private[graft] def batchGateInputs(
      xdocs: DataFrame): (DataFrame, DataFrame) = {
    import graft.operators.TextAnalysisOps
    val hashes = xdocs.select(col("doc_id"), md5(col("text")).as("__h"))
    val ded = hashes
      .join(hashes.groupBy(col("__h")).agg(min(col("doc_id")).as("__kid")),
        Seq("__h"))
      .select(col("doc_id"),
        (col("doc_id") === col("__kid")).cast("long").as("f_dedup"))
    val evalNg = TextAnalysisOps.ngramSet(xdocs.filter(col("source") === "src19"))
    (evalNg, ded)
  }

  /** Six-gate survivors of an extracted corpus: (doc_id, n_tok) — the
    * shared filter behind the shard partials and the survivor-docs
    * export feed.
    */
  private[graft] def funnelSurvivors(xdocs: DataFrame,
      evalNg: DataFrame, ded: DataFrame): DataFrame = {
    import graft.operators.TextAnalysisOps
    TextAnalysisOps.funnelFlagsOn(xdocs, evalNg, ded)
      .filter(col("f_lang") * col("f_gopher") * col("f_rep") *
        col("f_dedup") * col("f_decon") * col("f_mix") === 1L)
      .select(col("doc_id"), col("n_tok"))
  }

  /** The survivors as an exportable (doc_id, text) corpus — what a
    * production spine actually SHIPS (r19, VERDICT task 1): the
    * curated text, not the raw input. One doc_id equi-join back to the
    * extracted frame; the funnel flags never carry the text column
    * through their six-way join.
    */
  private[graft] def survivorDocs(xdocs: DataFrame,
      evalNg: DataFrame, ded: DataFrame): DataFrame =
    funnelSurvivors(xdocs, evalNg, ded).select(col("doc_id"))
      .join(xdocs.select(col("doc_id"), col("text")), Seq("doc_id"))

  /** `q_spine_export_verified` (r19 — VERDICT task 1): the archive
    * spine's SURVIVORS land as verified bytes. Where q_archive_e2e
    * stops at the 16-row shard PLAN and q_export_verified ships the
    * RAW corpus, this composes the two seams a production pipeline
    * actually joins: WARC members → parse + length gate → extraction →
    * six-gate funnel → the surviving CURATED text written to a
    * shard-partitioned collection with the manifest recomputed FROM
    * THE WRITTEN TABLE ([[CatalogOps.exportShardedVerified]] — totals,
    * id range, bit_xor content checksum per shard). Fully oracled: the
    * spine CTEs thread into the closed-form manifest SQL, so any byte
    * lost between gate and storage moves the checksum.
    *
    * Scale: the funnel's profile is the spine's (one hash-grain dedup
    * exchange over the extracted corpus); the export adds one shard
    * repartition of the SURVIVORS (the shipped subset, not the input)
    * and the one-scan manifest — the deliberate verification cost.
    */
  def spineExportVerified(spark: SparkSession, dir: String): DataFrame = {
    val xdocs = extractOf(plantedSpineMembers(spark, dir))
      // eager for the same reason as [[archiveE2e]] (r20): evalNg, ded
      // and the survivor text join-back race as broadcast builds
      .localCheckpoint()
    val (evalNg, ded) = batchGateInputs(xdocs)
    CatalogOps.exportShardedVerified(spark, "graft_spineexport", "docs",
      survivorDocs(xdocs, evalNg, ded), repartitionTasks = 16)
  }

  /** `q_spine_export_verified_stream` (r19): the spine-survivor export
    * as a STREAM — the extracted corpus fed in two doc_id-ordered
    * halves through the incremental gate battery + idempotent export
    * write, served by [[CatalogOps.exportVerifiedStreamServe]]'s
    * written-table-vs-folded-log reconciliation. FULLY ORACLED against
    * the batch spine-export manifest SQL: ordered halves + the
    * require()'d zero-FP bloom measurement make the streamed survivor
    * set exactly the batch funnel's, and every manifest column folds
    * associatively. After the backfill the fixture runs the full
    * maintenance cadence ([[CatalogOps.compactExportShards]]) so the
    * served answer is demonstrably fold-invariant on the Verify path,
    * not just in specs.
    */
  def spineExportStreamFixture(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysisOps
    val db = "graft_spineexpstream"
    val name = "docs"
    this.synchronized {
      val metaTbl = s"`$db`.`${name}__expmeta`"
      if (!spark.catalog.tableExists(s"$db.${name}__expmeta")) {
        CatalogOps.createDatabase(spark, db)
        Seq(name, s"${name}__manifestlog", s"${name}__bloom",
          s"${name}__bloommeta", s"${name}__expmeta")
          .foreach(graft.operators.KnnOps.dropTableAndDir(spark, db, _))
        import spark.implicits._
        CatalogOps.createBloomStore(spark, db, name,
          Seq.empty[String].toDF("__h"), "__h", expectedKeys = 16384L)
        val xall = extractOf(plantedSpineMembers(spark, dir))
          .localCheckpoint(false)
        val evalNg = TextAnalysisOps
          .ngramSet(xall.filter(col("source") === "src19"))
          .localCheckpoint(false)
        val n = Tables.documents(spark, dir).count()
        val h1 = xall.filter(col("doc_id") < n / 2)
        val h2 = xall.filter(col("doc_id") >= n / 2)
        def land(bid: Long, xdocs: DataFrame): Unit = {
          CatalogOps.appendBatchLog(spark, db, s"${name}__manifestlog",
            CatalogOps.exportIncrementalBatch(spark, db, name,
              survivorDocs(xdocs, evalNg,
                incrementalDedupFlags(xdocs, db, name)),
              bid, repartitionTasks = 16),
            bid)
          TextAnalysisOps.funnelAdvanceBloom(xdocs, db, name)
        }
        land(0L, h1)
        // zero-FP guarantee behind the batch-equality oracle
        val fps = CatalogOps.probeBloomStore(spark, db, name,
            h2.select(md5(col("text")).as("__h")).distinct(), "__h")
          .join(h1.select(md5(col("text")).as("__h")).distinct(),
            Seq("__h"), "left_anti")
          .count()
        require(fps == 0L,
          s"spine export stream fixture: $fps bloom false positive(s) at " +
            "expectedKeys=16384 — the served manifest would drift from " +
            "the batch oracle; raise the store capacity")
        land(1L, h2)
        // the live maintenance cadence, exercised on the Verify path:
        // fold the per-batch partitions to one file set per shard —
        // the served answer must be byte-identical pre/post (the
        // manifest log is untouched, the reconciliation still holds)
        CatalogOps.compactExportShards(spark, db, name)
        spark.createDataFrame(Seq(Tuple1(2L))).toDF("expected_batches")
          .write.mode("overwrite").saveAsTable(metaTbl)
      }
      val expected = spark.table(metaTbl).head().getLong(0)
      val logged = spark.table(s"`$db`.`${name}__manifestlog`")
        .select(col("batch_id")).distinct().count()
      require(logged == expected,
        s"spine export stream fixture `$db.$name` is corrupt: marker " +
          s"promises $expected batches, log has $logged — drop the `$db` " +
          "database to rebuild")
    }
    CatalogOps.exportVerifiedStreamServe(spark, db, name)
  }

  /** Survivors of the six-gate funnel folded to per-shard partials —
    * (shard, n_docs, n_tokens, n_bytes, min_doc), all associative, so
    * the streaming spine appends one partial set per micro-batch and
    * the serve folds them to the batch answer exactly.
    */
  private[graft] def survivorShardPartials(xdocs: DataFrame,
      evalNg: DataFrame, ded: DataFrame): DataFrame = {
    funnelSurvivors(xdocs, evalNg, ded)
      .join(xdocs.select(col("doc_id"),
        length(col("text")).cast("long").as("n_bytes")), Seq("doc_id"))
      .withColumn("shard",
        (expr("instr('0123456789abcdef', " +
          "substring(md5(cast(doc_id as string)), 32, 1))") - 1L)
          .cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_bytes")).as("n_bytes"),
        min(col("doc_id")).as("min_doc"))
  }

  /** Fold shard partials (one set per batch, or the batch path's single
    * set) into the final plan: sums + min are exact integer merges, the
    * balance share computes AT SERVE over the folded totals (a ppm
    * ratio is not associative — only its inputs are).
    */
  private[graft] def shardReportOf(partials: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    partials
      .groupBy(col("shard"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_bytes")).as("n_bytes"),
        min(col("min_doc")).as("min_doc"))
      .withColumn("__max_tok",
        max(col("n_tokens")).over(Window.partitionBy()))
      .withColumn("share_ppm", expr("(1000000 * n_tokens) div __max_tok"))
      .drop("__max_tok")
      .orderBy(col("shard").asc)
  }

  /** One micro-batch of the STREAMING archive spine: extracted docs'
    * dedup first-arrival comes from the maintained bloom store (probe
    * the state so far; the caller advances it AFTER the partials row
    * lands — the crash-atomic funnel discipline), every other gate is
    * the stateless battery, and the batch contributes one shard-partial
    * set to the append-only `{name}__shards` log.
    */
  private[graft] def archiveIncrementalBatch(xdocs: DataFrame,
      evalNg: DataFrame, db: String, name: String): DataFrame =
    survivorShardPartials(xdocs, evalNg,
      incrementalDedupFlags(xdocs, db, name)).localCheckpoint()

  /** The STREAM spine's exact-dedup flag for one micro-batch: probe
    * the maintained bloom store (the state SO FAR — the caller
    * advances it after the batch's outputs commit) plus a batch-local
    * first-arrival for intra-batch twins. Factored (r19) so the
    * shard-partials path and the survivor-docs export path share one
    * definition of "first arrival across the stream".
    */
  private[graft] def incrementalDedupFlags(xdocs: DataFrame, db: String,
      name: String): DataFrame = {
    import graft.functions.BloomFunctions
    import graft.sources.CatalogOps
    val spark = xdocs.sparkSession
    val hashed = xdocs.select(col("doc_id"), md5(col("text")).as("__h"))
    val (words, m) = CatalogOps.foldedBloomWords(spark, db, name)
    val bloomDf = spark.createDataFrame(
      java.util.Collections.singletonList(org.apache.spark.sql.Row(words)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__bloom_words",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, false)))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__h")).orderBy(col("doc_id").asc)
    hashed.crossJoin(broadcast(bloomDf))
      .withColumn("f_dedup",
        (!(BloomFunctions.mightContain(col("__h"), col("__bloom_words"), m) ||
          row_number().over(w) > 1)).cast("long"))
      .select(col("doc_id"), col("f_dedup"))
  }

  /** STORE-BACKED revisit-aware extraction for the STREAMING spine
    * (r18): a live CC reader sees the same payload digests across
    * micro-batches (revisits of unchanged pages arrive in every
    * crawl), so extraction should run once per digest ACROSS the
    * stream, not once per batch-local digest. This maintains a
    * `{name}__xtexts` (digest → extracted main text) store: per batch,
    * digest the valid records, anti-join against the store, run the
    * heavy block-scored extraction ONLY on never-seen digests, append
    * them, and fold the batch's capture-grain corpus from store ∪ new.
    *
    * Replay safety needs no log: the anti-join makes a replayed append
    * a no-op (its digests are already stored), and if a crash landed
    * between the append and the shard-partials commit, the replay
    * simply finds everything stored and re-emits identical partials —
    * texts are content-addressed by digest, so a double-write could
    * only ever write the same bytes (the read side still folds
    * min-per-digest so even that is deterministic).
    *
    * Scale: the store is DISTINCT-CONTENT-sized (the whole point); the
    * anti-join and fan-out join are digest-keyed equi-joins; the
    * winner aggregate is the same combinable min-struct as the batch
    * revisit path.
    */
  private[graft] def revisitXdocsOf(members: DataFrame, db: String,
      name: String, gen: Long = 0L): DataFrame = {
    val spark = members.sparkSession
    val xt = s"`$db`.`${name}__xtexts`"
    val valid = warcParseOn(members)
      .filter(col("len_ok") === 1L && col("http_status") === "200")
      .withColumn("__digest", md5(col("payload")))
      .localCheckpoint()
    val winners = digestWinnersOf(valid)
    val newWinners =
      if (spark.catalog.tableExists(s"$db.${name}__xtexts"))
        winners.join(spark.table(xt).select(col("__digest")),
          Seq("__digest"), "left_anti")
      else winners
    // localCheckpoint before the append: the plan otherwise READS the
    // table it appends to (the anti-join above) — Spark 4.1 analyzes
    // that fine, but the pattern is version-sensitive ("Cannot insert
    // into a table that is also being read from" on older releases)
    // and the checkpoint pins the new-digest row set before the write
    // either way (ADVICE r18)
    // `gen` partitions the store generationally (r19 — the retention
    // story): a digest lands in the generation CURRENT when it was
    // first extracted, and [[evictXtextGenerations]] retires whole old
    // generations by metadata-only partition drop. A still-hot digest
    // evicted with its generation simply re-extracts once on its next
    // appearance and re-lands in the current generation — segmented-
    // LRU behavior with zero per-row bookkeeping.
    val newRows = mainTextByDigest(newWinners).localCheckpoint()
      .withColumn("__gen", lit(gen))
    if (!spark.catalog.tableExists(s"$db.${name}__xtexts"))
      newRows.write.partitionBy("__gen").saveAsTable(xt)
    else newRows.write.mode("append").partitionBy("__gen").saveAsTable(xt)
    spark.catalog.refreshTable(xt)
    // min-fold makes the read deterministic even if the single-writer
    // invariant were ever violated (texts are content-addressed, so
    // duplicates could only ever be identical bytes anyway)
    val texts = spark.table(xt)
      .groupBy(col("__digest")).agg(min(col("text")).as("text"))
    fanOutToCaptures(valid, texts).localCheckpoint()
  }

  /** Retention for the `{name}__xtexts` extraction store (r19 — the
    * growth policy the distinct-content-sized store needs at 100 TB,
    * where distinct content is still petabyte-class): drop every
    * generation below `keepFromGen` as a METADATA-ONLY partition
    * retirement — no row rewrite, no staging, cost independent of
    * store size (contrast [[CatalogOps.deleteByIds]], the row-level
    * anti-join rewrite, which would scan and rewrite the retained
    * petabytes to delete the expired ones).
    *
    * The policy is segmented LRU with self-healing misses: a digest
    * lives in the generation CURRENT at its first extraction
    * ([[revisitXdocsOf]]'s `gen`), so eviction retires whole cold
    * segments; a still-recurring digest caught in a retired segment
    * re-extracts ONCE on its next appearance and re-lands in the
    * current generation. Content addressing makes the only failure
    * mode extra work — never a wrong answer, because an extraction is
    * a pure function of the payload bytes behind the digest. The two
    * invariants WarcSpec pins: eviction NEVER re-extracts a retained
    * digest (retained generations are untouched and the anti-join
    * still sees them), and a fully-evicted store converges back to
    * one row per distinct digest.
    *
    * Crash contract: each partition drop is an independent idempotent
    * metadata op — a crash mid-eviction leaves some generations
    * retired and the rest retirable by re-running the same call.
    */
  def evictXtextGenerations(spark: SparkSession, db: String,
      name: String, keepFromGen: Long): Unit = {
    if (!spark.catalog.tableExists(s"$db.${name}__xtexts")) return
    val doomed = spark.sql(s"SHOW PARTITIONS `$db`.`${name}__xtexts`")
      .collect().map(_.getString(0))
      .map(_.stripPrefix("__gen=").toLong)
      .filter(_ < keepFromGen)
    CatalogOps.dropPartitions(spark, s"`$db`.`${name}__xtexts`", doomed.map(Seq(_)).toSeq)
  }

  /** `q_archive_e2e_revisit_stream` (r18): the revisit-planted members
    * fed in two doc_id-ordered halves through store-backed extraction
    * ([[revisitXdocsOf]]) + the standard incremental gate battery
    * ([[archiveIncrementalBatch]]), served by folding the shard log.
    * FULLY ORACLED against the batch spine's SQL — the extraction
    * store changes WHERE a text comes from, never what it is (digests
    * are content addresses), and the ordered halves + require()'d
    * zero-FP bloom measurement carry the r17 stream-oracle argument
    * unchanged. The build also require()s the extraction-savings
    * invariant: the store holds exactly one row per distinct digest.
    */
  def archiveRevisitStreamFixture(spark: SparkSession,
      dir: String): DataFrame = {
    import graft.operators.TextAnalysisOps
    val db = "graft_archrevstream"
    val name = "docs"
    this.synchronized {
      val metaTbl = s"`$db`.`${name}__shardsmeta`"
      if (!spark.catalog.tableExists(s"$db.${name}__shardsmeta")) {
        CatalogOps.createDatabase(spark, db)
        Seq(s"${name}__shards", s"${name}__xtexts", s"${name}__bloom",
          s"${name}__bloommeta", s"${name}__shardsmeta")
          .foreach(graft.operators.KnnOps.dropTableAndDir(spark, db, _))
        import spark.implicits._
        CatalogOps.createBloomStore(spark, db, name,
          Seq.empty[String].toDF("__h"), "__h", expectedKeys = 16384L)
        val docs0 = Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"), col("source"), col("text"))
        // the static decontamination side input — same eval set as the
        // batch spine (a benchmark suite is known up front). Derived by
        // DIRECT extraction of the src19 valid pages rather than a
        // full-corpus member parse: the WarcSpec lossless pin
        // guarantees direct ≡ archive-path extraction, and an eval
        // suite is a small known artifact — no reason to parse the
        // whole corpus to obtain it at build
        val evalNg = TextAnalysisOps.ngramSet(
            graft.operators.TextOps.htmlMainOn(
                graft.operators.TextOps.plantedPage(
                  docs0.filter(col("source") === "src19" &&
                    col("doc_id") % 13 =!= 7)))
              .select(col("doc_id"), col("lang"), col("source"),
                col("main_text").as("text")))
          .localCheckpoint(false)
        val n = docs0.count()
        var h1x: DataFrame = null
        Seq(0L, 1L).foreach { bid =>
          val half = if (bid == 0L) docs0.filter(col("doc_id") < n / 2)
            else docs0.filter(col("doc_id") >= n / 2)
          val xdocs = revisitXdocsOf(
            plantedSpineMembersRevisitOf(half), db, name, gen = bid)
          if (bid == 0L) {
            h1x = xdocs
          } else {
            // zero-FP guarantee behind the batch-equality oracle
            val fps = CatalogOps.probeBloomStore(spark, db, name,
                xdocs.select(md5(col("text")).as("__h")).distinct(), "__h")
              .join(h1x.select(md5(col("text")).as("__h")).distinct(),
                Seq("__h"), "left_anti")
              .count()
            require(fps == 0L,
              s"revisit stream fixture: $fps bloom false positive(s) at " +
                "expectedKeys=16384 — the served shard plan would drift " +
                "from the batch oracle; raise the store capacity")
          }
          CatalogOps.appendBatchLog(spark, db, s"${name}__shards",
            archiveIncrementalBatch(xdocs, evalNg, db, name), bid)
          TextAnalysisOps.funnelAdvanceBloom(xdocs, db, name)
        }
        // the savings invariant: one stored extraction per distinct
        // digest across the whole stream (the %4 twins and any
        // cross-batch repeats never re-extracted)
        val stored = spark.table(s"`$db`.`${name}__xtexts`").count()
        val distinctDigests = spark.table(s"`$db`.`${name}__xtexts`")
          .select(col("__digest")).distinct().count()
        require(stored == distinctDigests,
          s"extraction store holds $stored rows for $distinctDigests " +
            "digests — the anti-join idempotence invariant broke")
        spark.createDataFrame(Seq(Tuple1(2L))).toDF("expected_batches")
          .write.mode("overwrite").saveAsTable(metaTbl)
      }
      val expected = spark.table(metaTbl).head().getLong(0)
      val logged = spark.table(s"`$db`.`${name}__shards`")
        .select(col("batch_id")).distinct().count()
      require(logged == expected,
        s"revisit stream fixture `$db.$name` is corrupt: marker promises " +
          s"$expected batches, log has $logged — drop the `$db` database " +
          "to rebuild")
    }
    shardReportOf(spark.table(s"`$db`.`${name}__shards`")
      .drop("batch_id"))
  }

  /** `q_archive_e2e_stream` (r17): the archive→training spine as a
    * STREAM — the same planted members fed in two doc_id-ordered halves
    * through [[archiveIncrementalBatch]] over a fresh capacity-planned
    * bloom store, served by folding the shard-partials log
    * ([[shardReportOf]]). FULLY ORACLED against q_archive_e2e's SQL:
    * ordered halves make the bloom-vs-min-id first-arrival identical to
    * the global min-id (no false negatives by construction), and the
    * build measures half-2 false positives against the exact half-1
    * hash set and require()s zero — the q_curation_funnel_stream
    * discipline. The decontamination n-gram set is STATIC side input
    * (a benchmark suite is known up front), derived once here from the
    * full extracted corpus' src19 docs so stream and batch face the
    * same eval set.
    */
  def archiveStreamFixture(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysisOps
    val db = "graft_archivestream"
    val name = "docs"
    this.synchronized {
      val metaTbl = s"`$db`.`${name}__shardsmeta`"
      if (!spark.catalog.tableExists(s"$db.${name}__shardsmeta")) {
        CatalogOps.createDatabase(spark, db)
        Seq(s"${name}__shards", s"${name}__bloom", s"${name}__bloommeta",
          s"${name}__shardsmeta")
          .foreach(graft.operators.KnnOps.dropTableAndDir(spark, db, _))
        import spark.implicits._
        CatalogOps.createBloomStore(spark, db, name,
          Seq.empty[String].toDF("__h"), "__h", expectedKeys = 16384L)
        val xall = extractOf(plantedSpineMembers(spark, dir))
          .localCheckpoint(false)
        val evalNg = TextAnalysisOps
          .ngramSet(xall.filter(col("source") === "src19"))
          .localCheckpoint(false)
        val n = Tables.documents(spark, dir).count()
        val h1 = xall.filter(col("doc_id") < n / 2)
        val h2 = xall.filter(col("doc_id") >= n / 2)
        CatalogOps.appendBatchLog(spark, db, s"${name}__shards",
          archiveIncrementalBatch(h1, evalNg, db, name), 0L)
        TextAnalysisOps.funnelAdvanceBloom(h1, db, name)
        // zero-FP guarantee behind the batch-equality oracle
        val fps = CatalogOps.probeBloomStore(spark, db, name,
            h2.select(md5(col("text")).as("__h")).distinct(), "__h")
          .join(h1.select(md5(col("text")).as("__h")).distinct(),
            Seq("__h"), "left_anti")
          .count()
        require(fps == 0L,
          s"archive stream fixture: $fps bloom false positive(s) at " +
            "expectedKeys=16384 — the served shard plan would drift " +
            "from the batch oracle; raise the store capacity")
        CatalogOps.appendBatchLog(spark, db, s"${name}__shards",
          archiveIncrementalBatch(h2, evalNg, db, name), 1L)
        TextAnalysisOps.funnelAdvanceBloom(h2, db, name)
        spark.createDataFrame(Seq(Tuple1(2L))).toDF("expected_batches")
          .write.mode("overwrite").saveAsTable(metaTbl)
      }
      val expected = spark.table(metaTbl).head().getLong(0)
      val logged = spark.table(s"`$db`.`${name}__shards`")
        .select(col("batch_id")).distinct().count()
      require(logged == expected,
        s"archive stream fixture `$db.$name` is corrupt: marker promises " +
          s"$expected batches, log has $logged — drop the `$db` database " +
          "to rebuild")
    }
    shardReportOf(spark.table(s"`$db`.`${name}__shards`")
      .drop("batch_id"))
  }

  /** `q_crawl_archive_e2e` (r18): the FULL loop — the last unjoined
    * seam closed. [[graft.operators.FrontierOps.crawlPlan]] runs the
    * whole planning pass (sitemap-index discovery → RFC 9309 admission
    * → delay-capped politeness schedule), the schedule crosses the
    * injected fetch surface into WARC response records (the
    * q_crawl_sitemap body-injection convention: the fixture fetcher
    * returns each scheduled page's planted full-page bytes; production
    * swaps in [[CrawlOps.fetchPages]]), and the members feed the
    * UNCHANGED archive spine: parse + length gate → envelope strip →
    * main-content extraction → six-gate funnel → export shard plan.
    * Discover → admit → schedule → fetch → archive → extract → curate
    * → shard, one composed plan, fully oracled (every fragment is
    * closed-form; the oracle threads the crawl-plan CTEs into the
    * spine's).
    *
    * Page identity at the fetch boundary: the schedule names pages by
    * URL (a known page at `/{lang}/p{id}`, a sitemap discovery at
    * `/disc/p{id}`); the fetcher canonicalizes both to the page id —
    * exactly the fetch-dedup any crawler runs — so a page scheduled as
    * both refresh and discovery fetches once.
    *
    * Scale: the schedule is hosts × cap rows (bounded by politeness,
    * never corpus-scale), so the fetch join BROADCASTS the scheduled
    * ids against the corpus-side page store — the corpus never
    * shuffles for the join; downstream is the spine's own profile
    * (member assembly + funnel dedup exchanges on the FETCHED subset).
    */
  def crawlArchiveE2e(spark: SparkSession, dir: String): DataFrame =
    shardPlanOfSurvivors(
      // eager for the same reason as [[archiveE2e]] (r20): a lazy cut
      // lets the funnel's concurrent broadcast side inputs each re-run
      // the whole crawl-plan + fetch + parse + extraction chain
      extractOf(crawlMembersOf(fetchedSpineDocs(spark, dir)))
        .localCheckpoint())

  /** The composed loop's archive stage: fetched pages rendered to full
    * planted pages and assembled into WARC response members — factored
    * (r19) so the batch loop and its streaming cycles build members
    * identically.
    */
  private[graft] def crawlMembersOf(docs: DataFrame): DataFrame =
    warcMembersFrom(plantedRecordsOf(
      graft.operators.TextOps.plantedPage(docs), col("html")))

  /** `q_crawl_archive_e2e_stream` (r19 — VERDICT task 2): the FULL
    * loop as a LIVE stream — repeated crawl cycles through crawlPlan →
    * fetch → store-backed revisit extraction ([[revisitXdocsOf]]) →
    * incremental gate battery → verified export, served by the
    * written-table-vs-folded-log reconciliation.
    *
    * Cycle fixture (two ordered cycle-batches, the r17 convention
    * lifted to the CYCLE level): cycle 0 is a crawl that got through
    * the first half of its schedule (`doc_id < n/2`); cycle 1 is the
    * steady-state FULL re-crawl — the first half arrives again as
    * byte-identical revisits, the second half for the first time.
    * That makes every maintained store earn its keep across cycles:
    * the `__xtexts` extraction store collapses the revisits (extract
    * once per digest ACROSS cycles — require()'d: store rows ==
    * distinct digests), the bloom store drops the re-fetched texts at
    * the dedup gate so nothing re-exports, and the export log keeps
    * the (shard, batch_id) writes idempotent.
    *
    * FULLY ORACLED against the composed batch SQL (crawl-plan CTEs →
    * spine-survivor CTEs → closed-form manifest): the ordered cycles +
    * the require()'d zero-FP bloom measurement make the streamed
    * survivor set exactly the batch funnel's over the fetched corpus,
    * and every manifest column folds associatively. The fixture runs
    * [[CatalogOps.compactExportShards]] after the backfill so the
    * Verify-path answer is demonstrably fold-invariant.
    *
    * Scale: the schedule is hosts × cap (politeness-bounded), so the
    * fetch join broadcasts cycle ids against the page store; the
    * re-crawl's extraction cost drops by the revisit share via the
    * digest store; export work per cycle ∝ NEW survivors only.
    */
  def crawlArchiveStreamFixture(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{TextAnalysisOps, TextOps}
    val db = "graft_crawlarchstream"
    val name = "docs"
    this.synchronized {
      val metaTbl = s"`$db`.`${name}__expmeta`"
      if (!spark.catalog.tableExists(s"$db.${name}__expmeta")) {
        CatalogOps.createDatabase(spark, db)
        Seq(name, s"${name}__manifestlog", s"${name}__manifestlog__wm",
          s"${name}__xtexts", s"${name}__bloom", s"${name}__bloommeta",
          s"${name}__expmeta", s"__${name}_compact_staging",
          s"__${name}_compact_ready",
          s"__${name}__manifestlog_compact_staging",
          s"__${name}__manifestlog_compact_ready",
          s"__${name}__xtexts_files_staging",
          s"__${name}__xtexts_files_ready")
          .foreach(graft.operators.KnnOps.dropTableAndDir(spark, db, _))
        import spark.implicits._
        CatalogOps.createBloomStore(spark, db, name,
          Seq.empty[String].toDF("__h"), "__h", expectedKeys = 16384L)
        val fetched = fetchedSpineDocs(spark, dir).localCheckpoint(false)
        // static decontamination side input — the batch composition's
        // eval set, derived by direct extraction of the fetched
        // corpus' valid src19 pages (direct ≡ archive-path extraction
        // is the WarcSpec lossless pin)
        val evalNg = TextAnalysisOps.ngramSet(
            TextOps.htmlMainOn(TextOps.plantedPage(
                fetched.filter(col("source") === "src19" &&
                  col("doc_id") % 13 =!= 7)))
              .select(col("doc_id"), col("lang"), col("source"),
                col("main_text").as("text")))
          .localCheckpoint(false)
        val n = Tables.documents(spark, dir).count()
        def land(bid: Long, xdocs: DataFrame): Unit = {
          CatalogOps.appendBatchLog(spark, db, s"${name}__manifestlog",
            CatalogOps.exportIncrementalBatch(spark, db, name,
              survivorDocs(xdocs, evalNg,
                incrementalDedupFlags(xdocs, db, name)),
              bid, repartitionTasks = 16),
            bid)
          TextAnalysisOps.funnelAdvanceBloom(xdocs, db, name)
        }
        val x0 = revisitXdocsOf(
          crawlMembersOf(fetched.filter(col("doc_id") < n / 2)), db, name,
          gen = 0L)
        land(0L, x0)
        val x1 = revisitXdocsOf(crawlMembersOf(fetched), db, name,
          gen = 1L)
        // zero-FP guarantee behind the batch-equality oracle: the NEW
        // half's texts must not collide into the advanced bloom
        val fps = CatalogOps.probeBloomStore(spark, db, name,
            x1.filter(col("doc_id") >= n / 2)
              .select(md5(col("text")).as("__h")).distinct(), "__h")
          .join(x0.select(md5(col("text")).as("__h")).distinct(),
            Seq("__h"), "left_anti")
          .count()
        require(fps == 0L,
          s"crawl-archive stream fixture: $fps bloom false positive(s) " +
            "at expectedKeys=16384 — the served manifest would drift " +
            "from the batch oracle; raise the store capacity")
        land(1L, x1)
        // extract-once ACROSS cycles: the full re-crawl added only the
        // never-seen digests — one stored extraction per distinct
        // digest over both cycles
        val stored = spark.table(s"`$db`.`${name}__xtexts`").count()
        val distinctDigests = spark.table(s"`$db`.`${name}__xtexts`")
          .select(col("__digest")).distinct().count()
        require(stored == distinctDigests,
          s"extraction store holds $stored rows for $distinctDigests " +
            "digests across cycles — the anti-join idempotence " +
            "invariant broke")
        // the FULL live maintenance cadence on the Verify path (r19):
        // fold the docs table's per-batch partitions, fold the manifest
        // log to one row per shard under the watermark, and file-fold
        // the extraction store — the served answer must not move
        // through any of the three
        CatalogOps.compactExportShards(spark, db, name)
        CatalogOps.compactBatchLog(spark, db, s"${name}__manifestlog")
        CatalogOps.compactContentStore(spark, db, s"${name}__xtexts")
        spark.createDataFrame(Seq(Tuple1(2L))).toDF("expected_batches")
          .write.mode("overwrite").saveAsTable(metaTbl)
      }
      val expected = spark.table(metaTbl).head().getLong(0)
      // the log is compacted at build, so batch-count completeness reads
      // from the id RANGE (watermark semantics), not distinct rows
      val maxId = spark.table(s"`$db`.`${name}__manifestlog`")
        .agg(max(col("batch_id"))).head().getLong(0)
      require(maxId == expected - 1L,
        s"crawl-archive stream fixture `$db.$name` is corrupt: marker " +
          s"promises batches 0..${expected - 1}, log watermark is " +
          s"$maxId — drop the `$db` database to rebuild")
    }
    CatalogOps.exportVerifiedStreamServe(spark, db, name)
  }

  /** `q_crawl_archive_evict` (r19 — VERDICT item 5, the extraction
    * store's RETENTION story made live): the crawl loop's cycles with
    * generational eviction between them. The `__xtexts` store is
    * distinct-content-sized — at 100 TB still petabyte-class — so it
    * cannot grow unbounded; [[evictXtextGenerations]] retires whole
    * cold generations by metadata-only partition drop, and a
    * still-recurring digest caught in a retired generation simply
    * re-extracts once and re-lands in the current one (segmented LRU
    * with self-healing misses — content addressing makes eviction's
    * only cost extra work, never a changed answer).
    *
    * The fixture runs three cycles: cycle 0 (half schedule, gen 0)
    * stores the first half's digests; cycle 1 (full re-crawl, gen 1)
    * extracts only the never-seen half (the extract-once invariant);
    * then the retention horizon passes gen 0 and eviction retires it;
    * cycle 2 (full re-crawl, gen 2) re-extracts EXACTLY the evicted
    * digests — the retained gen-1 digests never re-extract
    * (require()'d both ways) — and the store converges back to one
    * row per distinct digest. Cycles 0-1 land exports; cycle 2's
    * survivors all dedup away against the advanced bloom (a pure
    * maintenance re-fetch), so the served manifest is the SAME
    * closed form as q_crawl_archive_e2e_stream — eviction between
    * cycles moved extraction WORK, never a byte of output.
    */
  def crawlArchiveEvictFixture(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{TextAnalysisOps, TextOps}
    val db = "graft_crawlarchevict"
    val name = "docs"
    this.synchronized {
      val metaTbl = s"`$db`.`${name}__expmeta`"
      if (!spark.catalog.tableExists(s"$db.${name}__expmeta")) {
        CatalogOps.createDatabase(spark, db)
        Seq(name, s"${name}__manifestlog", s"${name}__manifestlog__wm",
          s"${name}__xtexts", s"${name}__bloom", s"${name}__bloommeta",
          s"${name}__expmeta")
          .foreach(graft.operators.KnnOps.dropTableAndDir(spark, db, _))
        import spark.implicits._
        CatalogOps.createBloomStore(spark, db, name,
          Seq.empty[String].toDF("__h"), "__h", expectedKeys = 16384L)
        val fetched = fetchedSpineDocs(spark, dir).localCheckpoint(false)
        val evalNg = TextAnalysisOps.ngramSet(
            TextOps.htmlMainOn(TextOps.plantedPage(
                fetched.filter(col("source") === "src19" &&
                  col("doc_id") % 13 =!= 7)))
              .select(col("doc_id"), col("lang"), col("source"),
                col("main_text").as("text")))
          .localCheckpoint(false)
        val n = Tables.documents(spark, dir).count()
        def land(bid: Long, xdocs: DataFrame): Unit = {
          CatalogOps.appendBatchLog(spark, db, s"${name}__manifestlog",
            CatalogOps.exportIncrementalBatch(spark, db, name,
              survivorDocs(xdocs, evalNg,
                incrementalDedupFlags(xdocs, db, name)),
              bid, repartitionTasks = 16),
            bid)
          TextAnalysisOps.funnelAdvanceBloom(xdocs, db, name)
        }
        val x0 = revisitXdocsOf(
          crawlMembersOf(fetched.filter(col("doc_id") < n / 2)), db, name,
          gen = 0L)
        land(0L, x0)
        def genRows(g: Long): Long = spark.table(s"`$db`.`${name}__xtexts`")
          .filter(col("__gen") === g).count()
        val d0 = genRows(0L)
        val x1 = revisitXdocsOf(crawlMembersOf(fetched), db, name,
          gen = 1L)
        val fps = CatalogOps.probeBloomStore(spark, db, name,
            x1.filter(col("doc_id") >= n / 2)
              .select(md5(col("text")).as("__h")).distinct(), "__h")
          .join(x0.select(md5(col("text")).as("__h")).distinct(),
            Seq("__h"), "left_anti")
          .count()
        require(fps == 0L,
          s"crawl-archive evict fixture: $fps bloom false positive(s) " +
            "at expectedKeys=16384 — the served manifest would drift " +
            "from the batch oracle; raise the store capacity")
        land(1L, x1)
        val d1 = genRows(1L)
        // the retention horizon passes generation 0: metadata-only drop
        evictXtextGenerations(spark, db, name, keepFromGen = 1L)
        require(genRows(0L) == 0L && genRows(1L) == d1,
          "eviction must retire exactly the expired generation")
        // cycle 2, a maintenance re-fetch after eviction: EXACTLY the
        // evicted digests re-extract (self-healing miss); the retained
        // generation never re-extracts a digest
        revisitXdocsOf(crawlMembersOf(fetched), db, name, gen = 2L)
        val d2 = genRows(2L)
        require(d2 == d0,
          s"post-eviction re-crawl re-extracted $d2 digests; expected " +
            s"exactly the $d0 evicted ones — retained digests must " +
            "never re-extract, evicted ones exactly once")
        require(genRows(1L) == d1,
          "the retained generation changed across the re-crawl — a " +
            "retained digest was re-extracted")
        val stored = spark.table(s"`$db`.`${name}__xtexts`").count()
        val distinctDigests = spark.table(s"`$db`.`${name}__xtexts`")
          .select(col("__digest")).distinct().count()
        require(stored == distinctDigests && stored == d1 + d2,
          s"store did not converge to one row per digest after " +
            s"eviction + self-heal ($stored rows, $distinctDigests " +
            "digests)")
        spark.createDataFrame(Seq(Tuple1(2L))).toDF("expected_batches")
          .write.mode("overwrite").saveAsTable(metaTbl)
      }
      val expected = spark.table(metaTbl).head().getLong(0)
      val logged = spark.table(s"`$db`.`${name}__manifestlog`")
        .select(col("batch_id")).distinct().count()
      require(logged == expected,
        s"crawl-archive evict fixture `$db.$name` is corrupt: marker " +
          s"promises $expected batches, log has $logged — drop the " +
          s"`$db` database to rebuild")
    }
    CatalogOps.exportVerifiedStreamServe(spark, db, name)
  }

  /** The composed loop's fetch stage: scheduled page ids (both URL
    * shapes canonicalize via /p<id> — the fetch-dedup) pulled against
    * the corpus-side page store with the schedule BROADCAST — factored
    * so WarcSpec can pin the broadcast on the pre-checkpoint plan (the
    * final frame's executedPlan starts at the checkpoint boundary).
    */
  private[graft] def fetchedSpineDocs(spark: SparkSession,
      dir: String): DataFrame = {
    val sched = graft.operators.FrontierOps.crawlPlan(spark, dir)
    val ids = sched
      .select(regexp_extract(col("url"), "/p([0-9]+)$", 1).cast("long")
        .as("doc_id"))
      .distinct()
    Tables.documents(spark, dir)
      .join(broadcast(ids), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
  }

  /** `q_wat_links`: WAT-style link extraction — per page, every anchor
    * tag parsed to (position, href, anchor text). This is the stage
    * between the archive and the link family ([[graft.operators.LinkOps]]
    * consumes edge tables; a real pipeline must first EXTRACT them from
    * markup — Common Crawl publishes exactly this as its WAT sidecar).
    * Pages are the planted full-page fixture main-content extraction
    * already uses ([[graft.operators.TextOps.plantedPage]]), so the
    * anchor inventory is closed-form: 3 nav links, a `% 3` inline
    * details link, six `% 5` boilerplate links, and 2 footer links —
    * the oracle rebuilds positions arithmetically; the engine must find
    * and split every tag.
    *
    * Scale: regexp_extract_all + posexplode is one map-side Generate —
    * output is links-per-page bounded, never corpus-quadratic; the only
    * exchange is the presentation sort.
    */
  def watLinks(spark: SparkSession, dir: String): DataFrame = {
    val pages = graft.operators.TextOps.plantedPage(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")))
    pages
      .select(col("doc_id"),
        posexplode(regexp_extract_all(col("html"),
          lit("<a href=\"[^\"]*\"[^>]*>[^<]*</a>"), lit(0))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        regexp_extract(col("col"), "href=\"([^\"]*)\"", 1).as("href"),
        regexp_extract(col("col"), ">([^<]*)</a>", 1).as("anchor"))
      .orderBy(col("doc_id").asc, col("pos").asc)
  }
}
