package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import BoundedCollect.{LocalMaxEdges, collectAtMost}

/** Link-graph centrality — the crawl-side quality signal the reference's
  * ingest pipeline implies but never computes (it crawls a nav tree,
  * `Crawling.py:13-51`, and treats every page equally). Production
  * training-data pipelines weight documents by link centrality
  * (PageRank / harmonic centrality over the host graph — Common Crawl
  * publishes exactly these rankings); this operator is that pass.
  *
  * The fixture has no real hyperlinks, so the edge set is DERIVED
  * deterministically from doc_ids (a fixed affine hash, [[linkEdges]]) —
  * the graph is synthetic but the OPERATOR is the real one: out-degree
  * normalization, damping, dangling-free contribution passing, N fixed
  * Jacobi iterations (Page et al. 1999).
  *
  * Scale shape: each iteration is one shuffle-join of the rank vector
  * against the edge list on `src` plus one aggregation on `dst` — the
  * textbook distributed PageRank round. The edge list is the 100 TB-scale
  * object, so it is MATERIALIZED once (lazy `localCheckpoint` of the
  * degree-annotated edges) rather than letting the unrolled declarative
  * plan re-derive it every round — iterative algorithms are the one place
  * lineage truncation beats pure laziness (without it the audit showed 16
  * re-scans across 3 rounds; with it, one). On a cluster you would go one
  * step further and pre-partition the persisted edges by `src` (bucketed
  * collection) so each round's join is shuffle-free on the big side; the
  * aggregation on `dst` is the one unavoidable exchange per round.
  *
  * Determinism (FIXTURES.md rules): ranks live in integer NANO-UNITS
  * (`rank_nano: BIGINT`, 1e9 = rank 1.0). Per-edge contributions round to
  * integers BEFORE the sum, so the grouped sum is an order-independent
  * integer sum; the damping update re-rounds to integers each round. The
  * DuckDB oracle unrolls the identical arithmetic, so both engines produce
  * bit-equal ranks at any iteration count.
  */
object LinkOps {

  /** Multiplier/stride of the synthetic edge hash — shared with the oracle
    * SQL builder in [[graft.SparkEntry]] so the two engines derive the
    * same graph.
    */
  val EdgeMult = 48271L
  val EdgeStride = 10007L

  /** Synthetic out-links: doc `i` links to `(i·48271 + k·10007) mod N` for
    * k = 1..fanout, self-loops dropped. Deterministic, degree ≈ fanout,
    * and (because 48271 is coprime to typical N) in-degrees vary enough to
    * make the rank vector non-uniform.
    */
  def linkEdges(docs: DataFrame, nDocs: Long, fanout: Int): DataFrame = {
    val ks = explode(sequence(lit(1), lit(fanout))).as("k")
    docs.select(col("doc_id").as("src"), ks)
      .withColumn("dst",
        (col("src") * lit(EdgeMult) + col("k") * lit(EdgeStride)) % lit(nDocs))
      .filter(col("dst") =!= col("src"))
      .select(col("src"), col("dst"))
  }

  /** PageRank over [[linkEdges]], `iters` fixed Jacobi rounds at damping
    * `d`. Output: (doc_id, rank) with rank = nano-units / 1e9 rounded to
    * 6 decimals, ordered by doc_id. Every node has out-degree ≥ fanout-1
    * (at most one self-loop dropped), so there is no dangling-mass term.
    */
  def pageRank(spark: SparkSession, dir: String, iters: Int = 3,
               fanout: Int = 4, damping: Double = 0.85): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    // N is a driver-side scalar (one count job; a catalog row-count stat
    // at scale) — it parameterizes the teleport term and the edge hash
    val n = docs.count()
    val init = docs.select(col("doc_id"),
      lit(math.floor(1e9 / n + 0.5).toLong).as("rank_nano"))
    asRanks(pageRankFrom(docs, n, init, iters, fanout, damping))
  }

  /** The iteration core: `iters` Jacobi rounds from an ARBITRARY starting
    * vector. The update is a deterministic function of the rank vector,
    * so running i rounds and then j more from the stored result IS the
    * (i+j)-round trajectory — the property that makes the persisted store
    * below an exact-continuation maintenance artifact, not an
    * approximation.
    */
  private def pageRankFrom(docs: DataFrame, n: Long, init: DataFrame,
      iters: Int, fanout: Int, damping: Double): DataFrame = {
    val edges = linkEdges(docs, n, fanout)
    // out-degree differs per node only via dropped self-loops — computed
    // from the edge list itself, joined back on src
    val outDeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // one persisted degree-annotated edge table feeds every round (lazy:
    // checkpoints on first use, so explain() before execution stays cheap)
    val withDeg = edges.join(outDeg, Seq("src")).localCheckpoint(false)

    val teleportNano = math.floor((1.0 - damping) * 1e9 / n + 0.5)
    var ranks = init
    for (_ <- 1 to iters) {
      // integer-rounded per-edge contribution -> order-independent sum
      val contrib = withDeg
        .join(ranks, withDeg("src") === ranks("doc_id"))
        .select(col("dst"),
          floor(col("rank_nano").cast("double") / col("deg") + lit(0.5))
            .cast("bigint").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        .withColumnRenamed("dst", "doc_id")
      ranks = docs
        .join(contrib, Seq("doc_id"), "left")
        .select(col("doc_id"),
          floor(lit(teleportNano) +
            lit(damping) * coalesce(col("s"), lit(0L)).cast("double") +
            lit(0.5)).cast("bigint").as("rank_nano"))
    }
    ranks
  }

  /** Serve the stored vector (doc_id, rank) — the read twin of
    * [[refreshRanks]] for callers that only probe.
    */
  def servedRanks(spark: SparkSession, db: String, name: String): DataFrame =
    asRanks(spark.table(s"`$db`.`${name}__ranks`")
      .select(col("doc_id"), col("rank_nano")))

  /** `q_link_pagerank_stored`: the MAINTAINED vector at 3 total rounds —
    * built create(2 rounds) + refresh(1 round) so every contract run
    * exercises the warm-start continuation, and served from the store.
    * The exact-trajectory property makes this face the SAME oracle as
    * the 3-round cold run; idempotent per session (a store already at
    * 3 rounds serves as-is instead of advancing).
    */
  def pageRankStoredFixture(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.CatalogOps
    val db = "graft_ranks"
    val name = "links"
    this.synchronized {
      val ready = spark.catalog.tableExists(s"$db.${name}__ranks") && {
        // an interrupted prior create can leave the table EMPTY — max()
        // over zero rows is null, which means not-ready, not a crash
        val r = spark.table(s"`$db`.`${name}__ranks`")
          .agg(max(col("iters_done"))).head()
        !r.isNullAt(0) && r.getLong(0) == 3L
      }
      if (!ready) {
        CatalogOps.createDatabase(spark, db)
        KnnOps.dropTableAndDir(spark, db, s"${name}__ranks")
        createRankStore(spark, db, name, dir, iters = 2)
        refreshRanks(spark, db, name, dir, extraIters = 1)
      }
    }
    servedRanks(spark, db, name)
  }

  /** HITS hubs & authorities (`q_link_hits`, Kleinberg 1999) over
    * [[linkEdges]] — the second classic link-centrality signal next to
    * [[pageRank]]: a good HUB links to good authorities, a good
    * AUTHORITY is linked from good hubs, iterated to the mutual fixed
    * point. Each round is two half-steps — authority(v) = Σ_in hub,
    * hub(u) = Σ_out authority(new) — each L1-normalized so the vector
    * sums to 1e9 integer nano-units.
    *
    * Determinism (the [[pageRank]] discipline): scores live in integer
    * nano-units; the normalization `floor(raw·1e9/total + 0.5)` runs in
    * double on exactly-representable integer inputs with one fixed op
    * order, so both engines round identically. The L1 total never
    * reaches the driver — it is a one-row aggregate on a broadcast cross
    * join (the keySkew/topSupplier pattern).
    *
    * Scale shape: per half-step, one shuffle join of the score vector
    * against the edge list plus one aggregation on the opposite
    * endpoint — the same textbook round as distributed PageRank, with
    * the same bucketed-edges upgrade path. The edge list checkpoints
    * once; per-round vectors checkpoint lazily (doc-sized) because each
    * is consumed twice (its own L1 total + the next half-step).
    */
  def hits(spark: SparkSession, dir: String, iters: Int = 3,
      fanout: Int = 4,
      localMaxEdges: Int = LocalMaxEdges): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.count()
    // [[linkEdges]]'s affine hash is a PERFECT 4-regular graph (the
    // multiplier is invertible mod N and no k ≤ 4 produces a self-loop),
    // whose HITS fixed point is the uniform vector — degenerate. HITS
    // gets a varying out-degree instead: doc i emits only k ≤ 1 + (i mod
    // 4) of the same hashed edges, so in-degrees (and the fixed point)
    // actually vary.
    val edges = docs
      .select(col("doc_id").as("src"),
        explode(sequence(lit(1), lit(fanout))).as("k"))
      .filter(col("k") <= lit(1) + col("src") % lit(4))
      .withColumn("dst",
        (col("src") * lit(EdgeMult) + col("k") * lit(EdgeStride)) % lit(n))
      .filter(col("dst") =!= col("src"))
      .select(col("src"), col("dst"))
      .localCheckpoint(false)

    // a bounded edge set iterates driver-side ([[BoundedCollect]]).
    // INVARIANT the equivalence leans on (r20, ADVICE): every edge dst is
    // a doc present in `docs` (the `% n` construction above guarantees it
    // for ids 0..n-1, and Tables.documents ids are contiguous by fixture
    // contract) — the distributed half-step drops a non-doc dst's mass at
    // its docs join while the local map would keep feeding it back via
    // getOrDefault. The arithmetic replicates the distributed half-step
    // exactly: long in-sums (order-free exact integers), the L1 total a
    // long sum over all docs (absent endpoint contributes 0),
    // normalization floor(raw·1e9/tot + 0.5) on the same
    // exactly-representable doubles. Only edge-endpoint nodes can carry
    // nonzero mass after round one, so the local state is edge-bounded;
    // the final assembly joins the local result back over `docs`
    // distributed (absent docs normalize to floor(0.5) = 0, as in the
    // distributed left join).
    val probe = collectAtMost(edges, localMaxEdges)
    if (probe.nonEmpty) {
      val es = probe.get.map(row => (row.getLong(0), row.getLong(1)))
      var hubM = new java.util.HashMap[Long, Long]()
      var authM: java.util.HashMap[Long, Long] = null
      def halfStep(by: ((Long, Long)) => Long, of: ((Long, Long)) => Long,
          prev: java.util.HashMap[Long, Long],
          prevDefault: Long): java.util.HashMap[Long, Long] = {
        val raw = new java.util.HashMap[Long, Long]()
        es.foreach { edge =>
          val w = if (prev == null) prevDefault
            else prev.getOrDefault(of(edge), 0L)
          raw.put(by(edge), raw.getOrDefault(by(edge), 0L) + w)
        }
        var tot = 0L
        raw.forEach { (_, v) => tot += v }
        val out = new java.util.HashMap[Long, Long]()
        raw.forEach { (k, v) =>
          out.put(k, math.floor(v.toDouble * 1000000000.0
            / tot.toDouble + 0.5).toLong)
        }
        out
      }
      for (i <- 1 to iters) {
        // authority(dst) = Σ hub(src); hub = 1e9 everywhere in round 1
        authM = halfStep(_._2, _._1, if (i == 1) null else hubM, 1000000000L)
        // hub(src) = Σ auth(dst); every dst has an auth value (0 default)
        hubM = halfStep(_._1, _._2, authM, 0L)
      }
      val rows = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      val keys = new java.util.HashSet[Long]()
      keys.addAll(hubM.keySet()); keys.addAll(authM.keySet())
      keys.forEach { k =>
        rows += ((k, hubM.getOrDefault(k, 0L), authM.getOrDefault(k, 0L)))
      }
      val local = spark.createDataFrame(rows.toSeq)
        .toDF("doc_id", "hub_nano", "auth_nano")
      return docs.join(local, Seq("doc_id"), "left")
        .select(col("doc_id"),
          round(coalesce(col("hub_nano"), lit(0L)).cast("double")
            / lit(1000000000.0), 6).as("hub"),
          round(coalesce(col("auth_nano"), lit(0L)).cast("double")
            / lit(1000000000.0), 6).as("auth"))
        .orderBy(col("doc_id").asc)
    }

    // one L1-normalized half-step: raw in-sums joined back over all docs
    // (absent endpoint = 0), total on a broadcast one-row frame
    def normalized(raw: DataFrame, outName: String): DataFrame = {
      val tot = raw.agg(sum(col("raw")).as("tot"))
      docs.join(raw, Seq("doc_id"), "left")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"),
          floor(coalesce(col("raw"), lit(0L)).cast("double") * lit(1000000000.0)
            / col("tot").cast("double") + lit(0.5)).cast("bigint").as(outName))
        .localCheckpoint(false) // consumed twice: own total + next half-step
    }

    var hub = docs.select(col("doc_id"), lit(1000000000L).as("hub_nano"))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      val araw = edges
        .join(hub, edges("src") === hub("doc_id"))
        .groupBy(col("dst").as("doc_id")).agg(sum(col("hub_nano")).as("raw"))
      auth = normalized(araw, "auth_nano")
      val hraw = edges
        .join(auth, edges("dst") === auth("doc_id"))
        .groupBy(col("src").as("doc_id")).agg(sum(col("auth_nano")).as("raw"))
      hub = normalized(hraw, "hub_nano")
    }
    hub.join(auth, Seq("doc_id"))
      .select(col("doc_id"),
        round(col("hub_nano").cast("double") / lit(1000000000.0), 6).as("hub"),
        round(col("auth_nano").cast("double") / lit(1000000000.0), 6).as("auth"))
      .orderBy(col("doc_id").asc)
  }

  /** Triangle count + global clustering coefficient
    * (`q_link_triangles`) — the graph-quality statistic (link-farm and
    * community density both show up here first), computed with the
    * degree-ordered node-iterator (Schank & Wagner 2005): every
    * undirected edge orients from lower to higher (degree, id) rank, so
    * each triangle is counted exactly once as a wedge at its
    * lowest-rank corner closed by an oriented edge — and, the scale
    * point, the oriented out-degree is O(√m) regardless of how skewed
    * the raw degrees are, so the wedge join cannot detonate on a hub
    * the way a naive neighbor self-join does. Wedge total Σd(d−1)/2
    * stays in exact integers; the clustering ratio divides two exact
    * longs in double and rounds to 6 — engine-identical.
    */
  def triangleCount(spark: SparkSession, dir: String,
      fanout: Int = 4): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.count()
    val und = linkEdges(docs, n, fanout)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    triangleCountOn(und)
  }

  /** The parametric core over an undirected distinct edge set (a < b).
    * `byDegree = false` orients by id alone — the naive form kept for
    * `graft.TriangleScale`'s hub A/B, where it enumerates a hub's d²/2
    * wedges and the degree-ordered form provably cannot.
    */
  private[graft] def triangleCountOn(und0: DataFrame,
      byDegree: Boolean = true): DataFrame = {
    val und = und0.localCheckpoint(false) // consumed by degrees + orientation
    val deg = und.select(col("a").as("v"))
      .unionByName(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
    val aFirst =
      if (byDegree) col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
      else col("a") < col("b") // id order only — the hub-detonating form
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("dstd"))
      .localCheckpoint(false) // wedge sides + the closing-edge probe
    val rankLt =
      if (byDegree) col("bd") < col("cd") || (col("bd") === col("cd") && col("wb") < col("wc"))
      else col("wb") < col("wc")
    val e1 = oriented.select(col("src"), col("dst").as("wb"), col("dstd").as("bd"))
    val e2 = oriented.select(col("src"), col("dst").as("wc"), col("dstd").as("cd"))
    val wedges = e1.join(e2, Seq("src")).filter(rankLt)
    val tri = wedges
      .join(oriented.select(col("src").as("wb"), col("dst").as("wc")),
        Seq("wb", "wc"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val wedgeTotal = deg.agg(
      sum(expr("(d * (d - 1)) div 2")).as("n_wedges")) // integer-exact
    tri.crossJoin(broadcast(wedgeTotal))
      .select(col("n_triangles"), col("n_wedges"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6).as("clustering"))
  }

  /** `q_link_anchors`: anchor-text aggregation — for every linked-to page,
    * the in-degree and the first few anchor texts of its in-links, the
    * classic web-search document-expansion signal (anchor text often
    * describes the TARGET better than the target's own body; Brin & Page
    * 1998 §2.2). The fixture graph is [[linkEdges]]; the "anchor" a
    * source page would use is its own lead text (first 24 chars).
    *
    * Scale shape: the anchor prefix is PROJECTED before the join, so the
    * edges⋈documents exchange carries (src, dst, 24 chars) — never page
    * bodies. One co-partitioned join on src, one aggregation on dst.
    * Per-target state is bounded: the sorted in-link array exists only
    * within the aggregation and is cut to `topAnchors` on emit; a
    * mega-in-degree page (every crawl has one: the homepage) makes one
    * group large but never quadratic. Deterministic: anchors ordered by
    * src id, which is unique within a target's in-link set.
    */
  def linkAnchors(spark: SparkSession, dir: String,
                  fanout: Int = 4, topAnchors: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = docs.select(col("doc_id")).count()
    val edges = linkEdges(docs.select(col("doc_id")), n, fanout)
    val anchors = docs.select(col("doc_id").as("src"),
      substring(col("text"), 1, 24).as("anchor"))
    edges.join(anchors, Seq("src"))
      .groupBy(col("dst").as("doc_id"))
      .agg(array_sort(collect_list(struct(col("src"), col("anchor")))).as("ins"))
      .select(col("doc_id"),
        size(col("ins")).cast("long").as("in_degree"),
        array_join(transform(slice(col("ins"), 1, topAnchors),
          x => x.getField("anchor")), " | ").as("top_anchors"))
      .orderBy(col("doc_id").asc)
  }

  private def asRanks(nano: DataFrame): DataFrame =
    nano.select(col("doc_id"),
        round(col("rank_nano").cast("double") / lit(1e9), 6).as("rank"))
      .orderBy(col("doc_id").asc)

  /** Persist the rank vector as a maintenance artifact:
    * `{name}__ranks` = (doc_id, rank_nano) + a 1-row iteration watermark
    * folded into the rows (`iters_done`). At 100 TB nobody recomputes
    * link centrality from scratch per crawl increment — the stored
    * vector warm-starts the next rounds ([[refreshRanks]]).
    */
  def createRankStore(spark: SparkSession, db: String, name: String,
      dir: String, iters: Int = 3, fanout: Int = 4,
      damping: Double = 0.85): Unit = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.count()
    val init = docs.select(col("doc_id"),
      lit(math.floor(1e9 / n + 0.5).toLong).as("rank_nano"))
    pageRankFrom(docs, n, init, iters, fanout, damping)
      .withColumn("iters_done", lit(iters.toLong))
      .write.mode("overwrite").saveAsTable(s"`$db`.`${name}__ranks`")
  }

  /** Continue the iteration from the stored vector: `extraIters` more
    * rounds over the CURRENT corpus. Same-corpus refresh is an EXACT
    * trajectory continuation (pinned: create(i) + refresh(j) ==
    * cold-run(i+j) bit-for-bit); documents added since the last store
    * seed at the uniform teleport floor for the grown N and the
    * iteration redistributes from there — the standard warm-start, which
    * converges to the grown graph's fixed point in far fewer rounds than
    * a cold start. Overwrites the store and returns the refreshed ranks.
    */
  def refreshRanks(spark: SparkSession, db: String, name: String,
      dir: String, extraIters: Int = 2, fanout: Int = 4,
      damping: Double = 0.85): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.count()
    val stored = spark.table(s"`$db`.`${name}__ranks`")
    // an interrupted prior create can leave the store EMPTY — max() over
    // zero rows is null; warm-start from iteration 0 (= uniform teleport
    // floor via the coalesce below) instead of NPE-ing
    val itersHead = stored.select(max(col("iters_done"))).head()
    val itersDone = if (itersHead.isNullAt(0)) 0L else itersHead.getLong(0)
    val init = docs
      .join(stored.select(col("doc_id"), col("rank_nano")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("rank_nano"),
          lit(math.floor(1e9 / n + 0.5).toLong)).as("rank_nano"))
    val next = pageRankFrom(docs, n, init, extraIters, fanout, damping)
      .withColumn("iters_done", lit(itersDone + extraIters))
      .localCheckpoint() // materialize BEFORE overwriting the table it reads
    next.write.mode("overwrite").saveAsTable(s"`$db`.`${name}__ranks`")
    asRanks(next)
  }

  /** Link reciprocity (`q_link_reciprocity`) — the fraction of directed
    * edges whose reverse also exists. The classic link-farm / mutual-
    * citation signal (organic web graphs run low; reciprocal cliques are
    * a spam tell) and a one-number health check of the crawl graph. One
    * distinct edge derivation read twice (localCheckpoint), one
    * (src, dst)-keyed self left-join marking reversals, one single-row
    * aggregate — the ratio divides two exact longs, round-6.
    */
  def reciprocity(spark: SparkSession, dir: String, fanout: Int = 4): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.count()
    val e = linkEdges(docs, n, fanout).distinct().localCheckpoint(false)
    e.join(e.select(col("dst").as("src"), col("src").as("dst"))
        .withColumn("has_rev", lit(1)), Seq("src", "dst"), "left")
      .agg(count(lit(1)).as("n_edges"),
        sum(coalesce(col("has_rev"), lit(0))).cast("long").as("n_reciprocal"))
      .select(col("n_edges"), col("n_reciprocal"),
        round(col("n_reciprocal").cast("double") /
          col("n_edges").cast("double"), 6).as("reciprocity"))
  }

  /** Co-citation similarity (`q_link_cocitation`, Small 1973) — pairs of
    * pages cited TOGETHER: for every two distinct link targets sharing a
    * source, the number of co-citing sources. The classic related-pages
    * signal (A^T·A off-diagonal) and the link-analysis complement of the
    * content-based similarity family.
    *
    * Scale: the pair fan-out per source is C(out-degree, 2) — bounded by
    * the crawler's own fanout (a page links to dozens, not millions), so
    * the pair stream is edge-linear with a small constant; the
    * aggregation partial-combines on (a, b). The hub hazard lives on the
    * IN-degree side and never materializes: a page cited by millions
    * contributes one row per citing source, not a quadratic corner —
    * the transpose problem (bibliographic coupling over in-hubs) is
    * [[coupling]], shipped with the stop-node prune.
    */
  def coCitation(spark: SparkSession, dir: String, fanout: Int = 4,
      topK: Int = 20): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.count()
    val e = linkEdges(docs, n, fanout).distinct().localCheckpoint(false)
    val l = e.select(col("src"), col("dst").as("a"))
    val r = e.select(col("src"), col("dst").as("b"))
    l.join(r, Seq("src")).filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_cocite"))
      .orderBy(col("n_cocite").desc, col("a").asc, col("b").asc)
      .limit(topK)
  }

  /** Bibliographic coupling (`q_link_coupling`, Kessler 1963) — pairs of
    * pages citing the SAME target: for every two distinct sources sharing
    * a link target, the number of shared targets. The transpose of
    * [[coCitation]] (A·A^T off-diagonal): co-citation relates the CITED,
    * coupling relates the CITING — the duplicate-mirror / topic-sibling
    * signal on the crawl side (two pages with near-identical out-link
    * sets are template instances or mirrors long before their text says
    * so).
    *
    * Scale: this is the side [[coCitation]]'s scaladoc flags as the hub
    * hazard — pair fan-out per TARGET is C(in-degree, 2), and in-degree
    * is unbounded (a page cited by millions detonates one join key
    * quadratically; out-degree was safe because the crawler's own fanout
    * bounds it). Shipped treatment is the published stop-node prune, the
    * exact analogue of [[graft.operators.TextAnalysisOps]]' topV
    * df-prune for doc-level co-occurrence: targets with in-degree >
    * `maxIn` are dropped BEFORE pairing. A universally-cited page (front
    * page, license text, spec) carries ~zero discriminative coupling
    * signal — identical to a stopword in term space — so the prune caps
    * per-target work at C(maxIn, 2) while keeping the informative mass.
    * The prune is part of the metric's DEFINITION here (mirrored in the
    * oracle), not a silent truncation; on the fixture lattice (in-degree
    * ≈ fanout) it keeps everything.
    */
  def coupling(spark: SparkSession, dir: String, fanout: Int = 4,
      maxIn: Int = 1000, topK: Int = 20): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.count()
    couplingOn(linkEdges(docs, n, fanout).distinct(), maxIn, topK)
  }

  /** Parametric core: distinct directed edges (src, dst) in, top-`topK`
    * coupled source pairs out; targets with in-degree > `maxIn` dropped
    * before pairing.
    */
  private[graft] def couplingOn(edges: DataFrame, maxIn: Int,
      topK: Int): DataFrame = {
    val e = edges.localCheckpoint(false)
    val keep = e.groupBy(col("dst")).agg(count(lit(1)).as("indeg"))
      .filter(col("indeg") <= maxIn).select(col("dst"))
    val pruned = e.join(keep, Seq("dst"), "left_semi")
    val l = pruned.select(col("dst"), col("src").as("a"))
    val r = pruned.select(col("dst"), col("src").as("b"))
    l.join(r, Seq("dst")).filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_couple"))
      .orderBy(col("n_couple").desc, col("a").asc, col("b").asc)
      .limit(topK)
  }

  /** Community detection by synchronous LABEL PROPAGATION
    * (`q_link_communities`, Raghavan et al. 2007) over the undirected
    * [[linkEdges]] graph. Every node starts as its own label; each round
    * every node adopts the most frequent label among its NEIGHBORS
    * (ties → smallest label). The semantic complement of
    * [[DedupOps]]-style connected components: CC gives one label per
    * component, so a single bridge edge merges two dense clusters — LPA
    * keeps dense regions' labels local because a bridge contributes one
    * vote against a clique's many (pinned in tests on a planted
    * two-clique + bridge graph).
    *
    * Determinism: a fixed round BUDGET with an exact zero-change early
    * stop (r14 — see [[labelPropagationRounds]]: idempotence at the
    * fixed point makes stopping bit-identical to running every round),
    * integer votes, and the per-node argmax as
    * `max(struct(count, -label))` — an order-free aggregate (no window,
    * no arbitrary first()); synchronous updates mean no intra-round
    * order dependence either. (Asynchronous LPA, the other published
    * variant, is faster to converge but schedule-dependent — wrong for
    * a reproducible pipeline.)
    *
    * Scale: each round is one join of the label vector against the
    * materialized adjacency (both localCheckpointed once — the pagerank
    * lineage-truncation rule) plus one (node, label)-keyed count and one
    * node-keyed max, all partial-agg'd; per-round label state is one row
    * per node, and labels ride the same partitioning through every
    * round. Votes per round = 2|E| rows — edge-linear, hub-safe (a hub
    * contributes one row per incident edge, never a quadratic corner).
    */
  def labelPropagation(spark: SparkSession, dir: String, iters: Int = 5,
      fanout: Int = 4): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.count()
    val und = linkEdges(docs, n, fanout)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    labelPropagationOn(und, iters)
  }

  /** Parametric core over an undirected distinct edge set (a < b).
    * Output: (doc_id, community) ordered by doc_id — community = the
    * converged (or round-`iters`) label, a member node id.
    */
  private[graft] def labelPropagationOn(und0: DataFrame, iters: Int): DataFrame =
    labelPropagationRounds(und0, iters)._1

  /** Driver-side synchronous LPA over a collected bounded edge list —
    * the same vote counting ((count DESC, label ASC) argmax), the same
    * synchronous update, the same zero-change early stop as the
    * distributed rounds; pure integer arithmetic, so equality is exact.
    */
  private def localLpa(edges: Array[(Long, Long)],
      iters: Int): (Seq[(Long, Long)], Int) = {
    val adj = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
    def nbrs(v: Long) = {
      var l = adj.get(v)
      if (l == null) { l = scala.collection.mutable.ArrayBuffer[Long](); adj.put(v, l) }
      l
    }
    edges.foreach { case (a, b) => nbrs(a) += b; nbrs(b) += a }
    var labels = new java.util.HashMap[Long, Long]()
    adj.keySet().forEach(v => labels.put(v, v))
    var rounds = 0
    var converged = false
    while (rounds < iters && !converged) {
      val next = new java.util.HashMap[Long, Long]()
      var changed = false
      adj.forEach { (v, ns) =>
        val votes = new java.util.HashMap[Long, Long]()
        ns.foreach { nb =>
          val nl = labels.get(nb)
          votes.put(nl, votes.getOrDefault(nl, 0L) + 1L)
        }
        var bestC = -1L
        var bestL = Long.MaxValue
        votes.forEach { (l, c) =>
          if (c > bestC || (c == bestC && l < bestL)) { bestC = c; bestL = l }
        }
        next.put(v, bestL)
        if (bestL != labels.get(v)) changed = true
      }
      converged = !changed
      labels = next
      rounds += 1
    }
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    labels.forEach { (v, l) => out += ((v, l)) }
    (out.toSeq, rounds)
  }

  /** The iteration with its round count exposed (for the convergence
    * tests). Synchronous LPA is IDEMPOTENT at a fixed point — a round
    * that changes no label makes every later round identical — so the
    * loop stops at the first zero-change round: the result is
    * bit-identical to running all `iters` rounds (oscillating graphs —
    * bipartite 2-cycles — never hit the stop and run the full budget,
    * the published bound for synchronous LPA). The change probe rides
    * the round's OWN job: the prev-label join folds into the plan that
    * the round checkpoints anyway (r15 — the r14 form ran it as a
    * second node-sized shuffle join per round, measured +24% on the
    * driver tail), so convergence is a short-circuit `isEmpty` scan of
    * the already-materialized checkpoint — no extra exchange.
    */
  private[graft] def labelPropagationRounds(und0: DataFrame,
      iters: Int, localMaxEdges: Int = LocalMaxEdges): (DataFrame, Int) = {
    val und = und0.localCheckpoint(false)
    // a bounded edge set resolves driver-side ([[BoundedCollect]])
    val probe = collectAtMost(und, localMaxEdges)
    if (probe.nonEmpty) {
      val spark = und.sparkSession
      val es = probe.get.map(r => (r.getLong(0), r.getLong(1)))
      val (labels, rounds) = localLpa(es, iters)
      return (spark.createDataFrame(labels).toDF("doc_id", "community")
        .orderBy(col("doc_id").asc), rounds)
    }
    val adj = und.select(col("a").as("v"), col("b").as("nb"))
      .unionByName(und.select(col("b").as("v"), col("a").as("nb")))
      .localCheckpoint(false) // re-read every round: truncate once
    var labels = adj.select(col("v")).distinct()
      .select(col("v"), col("v").as("label"))
      .localCheckpoint(false)
    var rounds = 0
    var converged = false
    while (rounds < iters && !converged) {
      val next = adj
        .join(labels.select(col("v").as("nb"), col("label").as("nl")), "nb")
        .groupBy(col("v"), col("nl")).agg(count(lit(1)).as("c"))
        .groupBy(col("v"))
        .agg(max(struct(col("c"), (-col("nl")).as("negl"))).as("m"))
        .select(col("v"), (-col("m.negl")).as("label"))
        .join(labels.select(col("v"), col("label").as("prev")), "v")
        .select(col("v"), col("label"),
          (col("label") =!= col("prev")).as("changed"))
        .localCheckpoint(false)
      converged = next.filter(col("changed")).isEmpty
      labels = next.select(col("v"), col("label"))
      rounds += 1
    }
    (labels.select(col("v").as("doc_id"), col("label").as("community"))
      .orderBy(col("doc_id").asc), rounds)
  }

  /** Depth-limited multi-source BFS (`q_link_depth`) — min-hop distance
    * from a seed set within `maxDepth` rounds: the crawl-scheduling
    * primitive behind depth-limited frontier expansion (a crawler that
    * stops at depth d fetches exactly this set, in exactly these waves)
    * and the reachability complement of the centrality family — pagerank
    * weights reachable mass, BFS says WHAT is reachable and how soon.
    * Seeds here are `doc_id % seedMod == 0` (the fixture's stand-in for
    * a seed-URL list).
    *
    * Scale: frontier iteration where the BIG sides never ride an
    * exchange. Each round broadcasts the CURRENT frontier (nodes
    * discovered last round, never the full visited set) and semi-joins
    * the checkpointed edge list map-side for the out-neighborhood;
    * dedup broadcasts those candidate ids and streams the visited
    * deltas map-side. Edge and visited rows are only SCANNED — the
    * round's whole shuffle is the candidate distinct, so total exchange
    * stays linear in rounds instead of the quadratic Σ|visited_r| a
    * per-round anti-join pays and the R·|E| a per-round edge shuffle
    * pays (both measured in `graft.GraphScale`); a huge-frontier round
    * (expander regime, where saturation bounds round count) falls back
    * to shuffled joins rather than a multi-GiB broadcast.
    * Visited accumulates as per-round checkpointed deltas unioned
    * lazily (the [[pageRank]] lineage rule — an unrolled declarative
    * plan doubles per round; re-checkpointing the full set would
    * rewrite it R times). Rounds are bounded by `maxDepth` BY CONTRACT —
    * depth-limited crawling wants the cutoff anyway — and an exhausted
    * frontier (the per-round count is free: it materializes the delta's
    * checkpoint) stops early, the [[graft.operators.DedupOps]] CC
    * discipline.
    *
    * Determinism: a node's depth is its min hop count — a pure function
    * of graph + seeds with nothing to tie-break (any parent discovering
    * a node in round r assigns the same depth r).
    */
  def bfsDepth(spark: SparkSession, dir: String, seedMod: Long = 100,
      maxDepth: Int = 3, fanout: Int = 4): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.count()
    val e = linkEdges(docs, n, fanout).distinct()
    bfsDepthOn(docs.filter(col("doc_id") % lit(seedMod) === 0), e, maxDepth)
  }

  /** Parametric core: `seeds` (doc_id) at depth 0 over directed edges
    * (src, dst). Output: (doc_id, depth) for every node within
    * `maxDepth` hops, ordered by doc_id.
    */
  /** PRECONDITION (r20, ADVICE): `seeds` must carry DISTINCT doc_ids —
    * the local path dedups duplicate seed rows (depth map insert) while
    * the distributed path would emit one depth-0 row per duplicate, so
    * the two paths agree only under distinct seeds. Every current
    * caller passes distinct ids (doc-id grain frames).
    */
  private[graft] def bfsDepthOn(seeds: DataFrame, edges: DataFrame,
      maxDepth: Int, dedupBroadcastMax: Long = 2000000L,
      localMaxEdges: Int = LocalMaxEdges): DataFrame = {
    // bounded edges + bounded seeds resolve driver-side
    // ([[BoundedCollect]]) — min-hop depth is a pure integer function of
    // graph + seeds, nothing to drift
    val e = edges.localCheckpoint(false)
    val probe = collectAtMost(e, localMaxEdges).flatMap(es =>
      collectAtMost(seeds.select(col("doc_id")), localMaxEdges).map((es, _)))
    if (probe.nonEmpty) {
      val (es, seedRows) = probe.get
      val spark = e.sparkSession
      val adj = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
      es.foreach { row =>
        val s = row.getLong(0)
        var l = adj.get(s)
        if (l == null) { l = scala.collection.mutable.ArrayBuffer[Long](); adj.put(s, l) }
        l += row.getLong(1)
      }
      val depth = new java.util.HashMap[Long, Int]()
      var frontier = scala.collection.mutable.ArrayBuffer[Long]()
      seedRows.foreach { row =>
        val v = row.getLong(0)
        if (!depth.containsKey(v)) { depth.put(v, 0); frontier += v }
      }
      var r = 1
      while (r <= maxDepth && frontier.nonEmpty) {
        val next = scala.collection.mutable.ArrayBuffer[Long]()
        frontier.foreach { v =>
          val ns = adj.get(v)
          if (ns != null) ns.foreach { d =>
            if (!depth.containsKey(d)) { depth.put(d, r); next += d }
          }
        }
        frontier = next
        r += 1
      }
      val out = scala.collection.mutable.ArrayBuffer[(Long, Int)]()
      depth.forEach { (v, d) => out += ((v, d)) }
      return spark.createDataFrame(out.toSeq).toDF("doc_id", "depth")
        .orderBy(col("doc_id").asc)
    }
    // Edges checkpoint ONCE (`e` above) and are only ever STREAMED: in
    // the small-frontier regime the probe broadcasts the frontier and
    // semi-joins the edge list map-side, so edge rows never ride an
    // exchange (pinning a repartition through localCheckpoint does not
    // survive AQE — measured: the pinned form still re-exchanged the
    // edge side every round).
    val first = seeds.select(col("doc_id"), lit(0).as("depth"))
      .localCheckpoint(false)
    // Visited is a buffer of per-round checkpointed DELTAS, unioned
    // lazily — not one frame re-checkpointed per round, which would
    // rewrite Σ|visited_r| ≈ R²/2·|frontier| rows over R rounds.
    val deltas = scala.collection.mutable.ArrayBuffer[DataFrame](first)
    def visitedIds: DataFrame =
      deltas.map(_.select(col("doc_id"))).reduce(_ unionByName _)
    var frontier = first.select(col("doc_id"))
    var nFrontier = first.count()
    var r = 1
    while (r <= maxDepth && nFrontier > 0) {
      val cand = (
        if (nFrontier <= dedupBroadcastMax)
          // Frontier broadcast, edges streamed: the round's only
          // exchange is the distinct over the frontier's out-
          // neighborhood. A semi join suffices — multiplicity dies in
          // the distinct anyway, so don't materialize it.
          e.join(broadcast(frontier), e("src") === frontier("doc_id"),
            "left_semi")
        else
          // Huge frontier: broadcast would not fit; pay the shuffled
          // join, amortized over the few rounds this regime can last.
          e.join(frontier, e("src") === frontier("doc_id"), "left_semi")
        ).select(col("dst").as("doc_id")).distinct()
        .localCheckpoint(false)
      val nCand = cand.count()
      val fresh =
        if (nCand <= dedupBroadcastMax) {
          // Membership test WITHOUT shuffling the visited set: broadcast
          // the candidate ids, stream every visited delta map-side to
          // collect the already-seen subset (≤ |cand| rows), then a
          // broadcast anti-join of two small sides. Visited bytes never
          // cross the wire — the round's only exchange is cand's
          // distinct, proportional to the frontier's out-neighborhood.
          val seen = visitedIds
            .join(broadcast(cand), Seq("doc_id"), "left_semi")
          cand.join(broadcast(seen), Seq("doc_id"), "left_anti")
        } else {
          // Expander regime: the frontier saturates the graph in a few
          // rounds, so the shuffled anti-join's visited exchange is paid
          // only O(1) times — and a multi-GiB broadcast would be worse.
          cand.join(visitedIds, Seq("doc_id"), "left_anti")
        }
      val next = fresh.select(col("doc_id"), lit(r).as("depth"))
        .localCheckpoint(false)
      nFrontier = next.count()
      if (nFrontier > 0) deltas += next
      frontier = next.select(col("doc_id"))
      r += 1
    }
    deltas.reduce(_ unionByName _).orderBy(col("doc_id").asc)
  }
}
