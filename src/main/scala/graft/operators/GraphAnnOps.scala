package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** One partition's navigable-small-world graph, flattened for the Dataset
  * encoder: vectors row-major, adjacency as offsets + a flat neighbor
  * list (CSR layout).
  */
case class NswGraph(part: Int, n: Int, dim: Int, ids: Array[Long],
    vecs: Array[Double], adjOff: Array[Int], adj: Array[Int])

/** Graph-based ANN — the reference's literal index type
  * (`HNSWParams(m=16, efconstruction=200)`, ref `TencentVDB.py:46`),
  * re-planned for Spark's execution model instead of one shared mutable
  * graph: each PARTITION builds its own navigable-small-world graph in
  * `mapPartitions` (no shuffle — the graph never crosses partitions, the
  * ingest analog of the reference server's per-shard index), and a query
  * beam-searches every partition graph independently, merging k rows per
  * partition through a global bounded top-k. Search cost per partition is
  * O(ef · M · dim) hops instead of a full scan; the merge carries
  * k·partitions rows — the same shuffle contract as the bounded-heap knn.
  *
  * Single-layer NSW rather than the hierarchical variant: with per-
  * partition graphs the node count per graph is corpus/partitions, so the
  * log-factor the hierarchy buys is already paid by the partition fan-out
  * (and build stays deterministic: insertion in vec_id order, similarity
  * ties break to the lower node).
  *
  * Approximate by construction → rows-only in the driver contract; recall
  * vs the exact scan is pinned in tests. Fixture recall is exact:
  * nodes-per-partition ≈ m, so the graphs stay essentially unpruned and
  * an efSearch ≥ nodes beam is exhaustive. (Pruned graphs are directed —
  * a prune drops A→B but not B→A — so recall < 1 is possible exactly as
  * in HNSW; the ScalaCheck suite pins the unpruned-equality and
  * true-score contracts.)
  */
object GraphAnnOps {

  /** Cosine between a stored node and a query, double accumulation in
    * index order — the same operation order as the fused codegen cosine,
    * so scores agree to the ulp.
    */
  private def cosAt(vecs: Array[Double], dim: Int, node: Int,
      q: Array[Double]): Double = {
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    val base = node * dim
    while (i < dim) {
      val x = vecs(base + i); val y = q(i)
      ab += x * y; aa += x * x; bb += y * y; i += 1
    }
    val d = math.sqrt(aa) * math.sqrt(bb)
    if (d == 0.0) 0.0 else ab / d
  }

  /** Greedy beam search over the first `limit` nodes of an adjacency
    * structure: expand the best unexpanded candidate, keep the `ef` best
    * visited. Returns (node, score) sorted best-first with lower-node
    * tie-breaks. Entry point is node 0 — deterministic (the lowest vec_id
    * of the original build; in-place-inserted nodes append after it).
    */
  private def beamSearch(vecs: Array[Double], dim: Int,
      neighbors: (Int, Int => Unit) => Unit,
      limit: Int, q: Array[Double], ef: Int): Array[(Int, Double)] = {
    if (limit <= 0) return Array.empty
    val visited = new java.util.BitSet(limit)
    // candidates: best-first by (score desc, node asc)
    val cand = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](
      Ordering.by[(Double, Int), (Double, Int)] { case (s, nd) => (s, -nd) })
    // result pool: worst-first so the floor is O(1) to inspect/evict
    val pool = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](
      Ordering.by[(Double, Int), (Double, Int)] { case (s, nd) => (-s, nd) })
    val s0 = cosAt(vecs, dim, 0, q)
    visited.set(0); cand.enqueue((s0, 0)); pool.enqueue((s0, 0))
    while (cand.nonEmpty) {
      val (s, node) = cand.dequeue()
      // the classic termination: the best candidate cannot improve the pool
      if (pool.size >= ef && s < pool.head._1) { cand.clear() }
      else {
        neighbors(node, { nb =>
          if (nb < limit && !visited.get(nb)) {
            visited.set(nb)
            val sn = cosAt(vecs, dim, nb, q)
            // admission mirrors eviction's (score desc, node asc) order: a
            // score TIED with the floor still enters when its node id is
            // lower, else boundary ties would resolve to whichever node was
            // visited first instead of the documented lower-node tie-break
            val admit = pool.size < ef || sn > pool.head._1 ||
              (sn == pool.head._1 && nb < pool.head._2)
            if (admit) {
              cand.enqueue((sn, nb)); pool.enqueue((sn, nb))
              if (pool.size > ef) pool.dequeue()
            }
          }
        })
      }
    }
    pool.toArray.map { case (s, nd) => (nd, s) }
      .sortBy { case (nd, s) => (-s, nd) }
  }

  /** Build one NSW graph per partition: nodes inserted in vec_id order,
    * each connected bidirectionally to `m` neighbors chosen by the HNSW
    * diversity heuristic ([[selectDiverse]]) from the `efConstruction`
    * beam results over the graph built so far; overflowing adjacency
    * lists prune back to `m` with the same heuristic. Pure per-partition
    * compute — zero shuffle.
    */
  def buildGraphs(emb: DataFrame, m: Int = 16,
      efConstruction: Int = 200): Dataset[NswGraph] = {
    import emb.sparkSession.implicits._
    emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val rows = it.toArray.sortBy(_._1)
        if (rows.isEmpty) Iterator.empty
        else {
          val n = rows.length
          val dim = rows(0)._2.length
          val vecs = new Array[Double](n * dim)
          var r = 0
          while (r < n) {
            val v = rows(r)._2; var i = 0
            while (i < dim) { vecs(r * dim + i) = v(i); i += 1 }
            r += 1
          }
          Iterator.single(buildLocal(
            org.apache.spark.TaskContext.getPartitionId(),
            rows.map(_._1), vecs, dim, m, efConstruction))
        }
      }
  }

  /** Build one NSW graph per PART VALUE — the routed twin of
    * [[buildGraphs]]: rows arrive as (part, vec_id, embedding), group by
    * part (one shuffle — the same cost the IVF write pays for
    * `partitionBy`), and each group builds its graph with `part` as the
    * graph id. Where [[buildGraphs]] lets the physical partition id name
    * the graph (hash sharding), here the caller chooses the part — the
    * coarse-quantizer cell for a routed collection.
    */
  def buildGraphsByPart(rows: DataFrame, m: Int = 16,
      efConstruction: Int = 200): Dataset[NswGraph] = {
    import rows.sparkSession.implicits._
    rows.select(col("part").cast("int"), col("vec_id"),
        col("embedding").cast("array<double>"))
      .as[(Int, Long, Seq[Double])]
      .groupByKey(_._1)
      .mapGroups { (part, it) =>
        val rs = it.toArray.sortBy(_._2)
        val n = rs.length
        val dim = rs(0)._3.length
        val vecs = new Array[Double](n * dim)
        var r = 0
        while (r < n) {
          val v = rs(r)._3; var i = 0
          while (i < dim) { vecs(r * dim + i) = v(i); i += 1 }
          r += 1
        }
        buildLocal(part, rs.map(_._2), vecs, dim, m, efConstruction)
      }
  }

  /** Cosine between two STORED nodes — the diversity comparison of
    * [[selectDiverse]] (same accumulation order as [[cosAt]]).
    */
  private def cosNodes(vecs: Array[Double], dim: Int, a: Int, b: Int): Double = {
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    val ba = a * dim; val bb0 = b * dim
    while (i < dim) {
      val x = vecs(ba + i); val y = vecs(bb0 + i)
      ab += x * y; aa += x * x; bb += y * y; i += 1
    }
    val d = math.sqrt(aa) * math.sqrt(bb)
    if (d == 0.0) 0.0 else ab / d
  }

  /** HNSW neighbor-selection heuristic (Malkov & Yashunin, TPAMI 2020,
    * Algorithm 4): scan candidates best-first and accept one only if it is
    * MORE similar to the anchor than to every already-accepted neighbor.
    * Keep-most-similar produces cluster ISLANDS on clustered corpora —
    * every neighbor slot goes to the node's own cluster (cluster size >
    * m), greedy search cannot cross clusters, and recall collapses
    * (measured: `graft.AnnRecall`, 32 planted clusters — 0.09 with the
    * simple rule). The diversity rule spends slots on candidates that open
    * NEW directions, which is what keeps the graph navigable. Rejected
    * candidates backfill any remaining slots in similarity order (the
    * paper's keepPrunedConnections), so sparse graphs stay as dense as
    * the simple rule's. Deterministic: candidates arrive (score desc,
    * node asc) and ties reject (the lower-node earlier candidate wins its
    * slot first).
    */
  private def selectDiverse(vecs: Array[Double], dim: Int,
      candidates: Array[(Int, Double)], m: Int): Array[Int] = {
    val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
    val rejected = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < candidates.length && selected.length < m) {
      val (c, sAnchor) = candidates(i)
      var diverse = true
      var j = 0
      while (j < selected.length && diverse) {
        if (cosNodes(vecs, dim, c, selected(j)) >= sAnchor) diverse = false
        j += 1
      }
      if (diverse) selected += c else rejected += c
      i += 1
    }
    var r = 0
    while (selected.length < m && r < rejected.length) {
      selected += rejected(r); r += 1
    }
    selected.toArray
  }

  /** Pure per-partition graph construction (the `mapPartitions` body) —
    * also ScalaCheck-driven directly, without Spark jobs. Neighbor
    * selection and overflow pruning both use [[selectDiverse]].
    */
  private[graft] def buildLocal(part: Int, ids: Array[Long],
      vecs: Array[Double], dim: Int, m: Int, efConstruction: Int): NswGraph = {
    val n = ids.length
    val adjacency = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
    insertNodes(adjacency, vecs, dim, from = 1, until = n, m, efConstruction)
    toCsr(part, ids, vecs, dim, adjacency)
  }

  /** The Malkov insert loop (beam search over the graph so far →
    * diversity-selected neighbors → bidirectional links → overflow prune)
    * for nodes [from, until) — the shared core of a from-scratch build
    * ([[buildLocal]], from = 1) and of TRUE incremental insertion into an
    * existing graph ([[insertLocal]], from = the stored node count).
    */
  private def insertNodes(
      adjacency: Array[scala.collection.mutable.ArrayBuffer[Int]],
      vecs: Array[Double], dim: Int, from: Int, until: Int,
      m: Int, efConstruction: Int): Unit = {
    def pruneTo(node: Int): Unit = {
      val a = adjacency(node)
      if (a.length > m) {
        val q = new Array[Double](dim)
        System.arraycopy(vecs, node * dim, q, 0, dim)
        val cands = a.map(nb => (nb, cosAt(vecs, dim, nb, q)))
          .sortBy { case (nb, s) => (-s, nb) }.toArray
        val kept = selectDiverse(vecs, dim, cands, m)
        a.clear(); a ++= kept
      }
    }
    var node = from
    while (node < until) {
      val q = new Array[Double](dim)
      System.arraycopy(vecs, node * dim, q, 0, dim)
      val found = beamSearch(vecs, dim,
        (nd, f) => { val a = adjacency(nd); var i = 0
          while (i < a.length) { f(a(i)); i += 1 } },
        node, q, efConstruction)
      val neighbors = selectDiverse(vecs, dim, found, m)
      neighbors.foreach { nb =>
        adjacency(node) += nb
        adjacency(nb) += node
        pruneTo(nb)
      }
      node += 1
    }
  }

  private def toCsr(part: Int, ids: Array[Long], vecs: Array[Double],
      dim: Int,
      adjacency: Array[scala.collection.mutable.ArrayBuffer[Int]]): NswGraph = {
    val n = ids.length
    val adjOff = new Array[Int](n + 1)
    var o = 0; var j = 0
    while (j < n) { o += adjacency(j).length; adjOff(j + 1) = o; j += 1 }
    val adjFlat = new Array[Int](o)
    j = 0
    while (j < n) {
      var p = adjOff(j); val a = adjacency(j); var i = 0
      while (i < a.length) { adjFlat(p) = a(i); p += 1; i += 1 }
      j += 1
    }
    NswGraph(part, n, dim, ids, vecs, adjOff, adjFlat)
  }

  /** TRUE incremental insertion into a stored graph — Malkov's insert
    * without the whole-graph rebuild [[graft.sources.CatalogOps.upsertNsw]]
    * previously paid for every touched graph: the stored CSR arrays seed
    * the adjacency, the batch's nodes append in ascending-id order, and
    * each runs the SAME insert step as construction ([[insertNodes]] —
    * beam search, diversity selection, link-back, overflow prune). Cost is
    * O(batch · ef · M · dim) instead of O(graph · ef · M · dim); at a hot
    * cell receiving steady small batches that is the difference between
    * paying the cell and paying the batch. The insertion ORDER differs
    * from a from-scratch build (new ids append after stored ones instead
    * of interleaving by id), so the graph is not byte-equal to a rebuild —
    * NSW quality is insertion-order-robust and recall is pinned equal on
    * planted clusters in tests; callers needing the canonical order force
    * a rebuild (the update path always does).
    */
  private[graft] def insertLocal(g: NswGraph, addIds: Array[Long],
      addVecs: Array[Double], m: Int, efConstruction: Int): NswGraph = {
    val nAdd = addIds.length
    if (nAdd == 0) return g
    val n0 = g.n
    val n = n0 + nAdd
    val vecs = new Array[Double](n * g.dim)
    System.arraycopy(g.vecs, 0, vecs, 0, n0 * g.dim)
    System.arraycopy(addVecs, 0, vecs, n0 * g.dim, nAdd * g.dim)
    val adjacency = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
    var j = 0
    while (j < n0) {
      var p = g.adjOff(j)
      while (p < g.adjOff(j + 1)) { adjacency(j) += g.adj(p); p += 1 }
      j += 1
    }
    insertNodes(adjacency, vecs, g.dim, from = n0, until = n, m, efConstruction)
    toCsr(g.part, g.ids ++ addIds, vecs, g.dim, adjacency)
  }

  /** Pure single-graph query (the `flatMap` body of [[searchGraphs]]).
    * Walks the stored CSR arrays directly — no per-call adjacency
    * materialization, which matters in the batch path where every routed
    * query searches the same graph.
    */
  private[graft] def searchLocal(g: NswGraph, q: Array[Double],
      ef: Int): Array[(Long, Double)] = {
    beamSearch(g.vecs, g.dim,
      (nd, f) => { var p = g.adjOff(nd); val end = g.adjOff(nd + 1)
        while (p < end) { f(g.adj(p)); p += 1 } },
      g.n, q, ef)
      .map { case (node, s) => (g.ids(node), s) }
  }

  /** Search every partition graph for the query's `efSearch`-beam top-k;
    * the global merge is k rows per graph through one bounded sort.
    */
  def searchGraphs(graphs: Dataset[NswGraph], qVec: Array[Double],
      k: Int = 3, efSearch: Int = 100): DataFrame = {
    import graphs.sparkSession.implicits._
    graphs.flatMap { g =>
      searchLocal(g, qVec, math.max(efSearch, k)).take(k)
    }.toDF("vec_id", "score")
      .select(col("vec_id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  /** FILTERED graph-ANN search — predicate composed with the beam search,
    * the reference's declared FILTER-index-with-HNSW shape (ref
    * `TencentVDB.py:31-32,48`). Graph rows store ids and vectors only
    * (attributes would bloat every CSR row), so the composition is the
    * standard HNSW POST-FILTER with over-fetch: each graph's beam emits
    * `k·overFetch` candidates instead of k (the ef/nprobe headroom that
    * keeps recall up when the predicate thins the neighborhood), the
    * candidate set — k·overFetch·graphs rows, bounded by construction —
    * BROADCASTS into a join with the attribute table, the predicate
    * applies there (and pushes into the attribute scan), and the global
    * top-k re-ranks what survives. One plan, no driver round-trip.
    * Exhaustive when k·overFetch ≥ nodes-per-graph and efSearch ≥ nodes —
    * the fixture equality pin vs the exact filtered scan; approximate
    * below that, like every graph probe.
    */
  def searchGraphsFiltered(graphs: Dataset[NswGraph], qVec: Array[Double],
      attrs: DataFrame, predicate: Column, k: Int = 3, efSearch: Int = 100,
      overFetch: Int = 4): DataFrame = {
    import graphs.sparkSession.implicits._
    require(overFetch >= 1, s"invalid overFetch $overFetch")
    val perGraph = k * overFetch
    val candidates = graphs.flatMap { g =>
      searchLocal(g, qVec, math.max(efSearch, perGraph)).take(perGraph)
    }.toDF("vec_id", "score")
      .select(col("vec_id"), round(col("score"), 6).as("score"))
    attrs.filter(predicate)
      .join(broadcast(candidates), "vec_id")
      .select(col("vec_id"), col("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  /** [[searchGraphsFiltered]] over a persisted NSW collection — the
    * filtered twin of [[searchStored]].
    */
  def searchStoredFiltered(spark: SparkSession, db: String, name: String,
      qVec: Array[Double], attrs: DataFrame, predicate: Column, k: Int = 3,
      efSearch: Int = 100, overFetch: Int = 4): DataFrame = {
    import spark.implicits._
    searchGraphsFiltered(spark.table(s"`$db`.`$name`").as[NswGraph], qVec,
      attrs, predicate, k, efSearch, overFetch)
  }

  /** Search a PERSISTED graph collection
    * ([[graft.sources.CatalogOps.createNswCollection]]): the build was
    * paid at ingest; a query costs one beam search per stored graph row
    * plus the k·graphs merge.
    */
  def searchStored(spark: SparkSession, db: String, name: String,
      qVec: Array[Double], k: Int = 3, efSearch: Int = 100): DataFrame = {
    import spark.implicits._
    searchGraphs(spark.table(s"`$db`.`$name`").as[NswGraph], qVec, k, efSearch)
  }

  /** ROUTED graph search over a coarse-quantizer-partitioned NSW
    * collection ([[graft.sources.CatalogOps.createNswRoutedCollection]]) —
    * the serving shape the reference's sharded HNSW implies
    * (`shard=3`, ref `TencentVDB.py:55`: shards are ROUTED, not
    * broadcast): the query picks its `nprobe` nearest cells driver-side
    * from the persisted k×dim model (the same [[KnnOps.nearestCells]] the
    * IVF probe uses) and beam-searches ONLY those cells' graphs — the
    * `part IN (probes)` predicate is a PARTITION filter on the graph
    * table (plan-pinned), so at 10k graph partitions a query touches
    * nprobe of them instead of all (the last all-partitions fan-out in
    * the engine, closed). Recall now composes like IVF's: a true
    * neighbor in an unprobed cell is missed, so nprobe trades recall for
    * fan-out (measured on planted clusters in `graft.AnnRecall`);
    * exhaustive at nprobe = kCells.
    */
  def searchStoredRouted(spark: SparkSession, db: String, name: String,
      qVec: Array[Double], k: Int = 3, efSearch: Int = 100,
      nprobe: Int = 2): DataFrame = {
    import spark.implicits._
    val (cents, kCells) = KnnOps.readCoarseModel(spark, db, name)
    val probes = KnnOps.nearestCells(qVec, cents, kCells, nprobe)
    searchGraphs(spark.table(s"`$db`.`$name`")
        .filter(col("part").isin(probes.map(Int.box): _*)).as[NswGraph],
      qVec, k, efSearch)
  }

  /** FILTERED search on the ROUTED graph path — the routed twin of
    * [[searchStoredFiltered]], composing all three prunings: the coarse
    * quantizer opens only `nprobe` cell graphs (partition pruning), each
    * probed graph over-fetches `k·overFetch` beam candidates (the
    * post-filter headroom), and the predicate applies on the broadcast
    * attribute join. Recall composes multiplicatively on BOTH axes — an
    * unprobed cell and a filtered-out neighborhood each cost — so hard
    * filters want nprobe AND overFetch headroom (equality vs the exact
    * filtered scan at exhaustive settings is test-pinned).
    */
  def searchStoredRoutedFiltered(spark: SparkSession, db: String, name: String,
      qVec: Array[Double], attrs: DataFrame, predicate: Column, k: Int = 3,
      efSearch: Int = 100, nprobe: Int = 2, overFetch: Int = 4): DataFrame = {
    import spark.implicits._
    val (cents, kCells) = KnnOps.readCoarseModel(spark, db, name)
    val probes = KnnOps.nearestCells(qVec, cents, kCells, nprobe)
    searchGraphsFiltered(spark.table(s"`$db`.`$name`")
        .filter(col("part").isin(probes.map(Int.box): _*)).as[NswGraph],
      qVec, attrs, predicate, k, efSearch, overFetch)
  }

  /** Batched ROUTED graph search — [[searchStoredRouted]] for a query
    * TABLE (query_id, q_embedding), one job for the whole batch: every
    * query picks its `nprobe` cells driver-side against the k×dim model
    * (micro-batch-sized by contract, like [[KnnOps.topKForQueriesIvf]]),
    * the graph scan prunes to the UNION of probed cells (one pruned read
    * serves the batch), each pruned graph beam-searches only the queries
    * routed to IT (driver-broadcast routing map), and the bounded-heap
    * [[graft.plans.TopKScoreId]] merges k rows per (query, graph). The
    * per-micro-batch scorer of [[graft.streaming.StreamingOps
    * .streamingKnnNswRouted]]. Output ≡ running [[searchStoredRouted]]
    * per query (test-pinned).
    */
  def searchStoredRoutedBatch(spark: SparkSession, db: String, name: String,
      queries: DataFrame, k: Int = 3, efSearch: Int = 100,
      nprobe: Int = 2): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    val (cents, kCells) = KnnOps.readCoarseModel(spark, db, name)
    // replayed query_ids resolve deterministically (see topKForQueries)
    val qRows = queries.groupBy(col("query_id"))
      .agg(max(struct(col("q_embedding"))).as("__w"))
      .select(col("query_id"), col("__w.q_embedding").as("q_embedding"))
      .collect()
    val routing: Map[Int, Array[(Long, Array[Double])]] = qRows
      .flatMap { r =>
        val qid = r.getLong(0)
        val qv = r.getSeq[Double](1).toArray
        KnnOps.nearestCells(qv, cents, kCells, nprobe).map(c => (c, (qid, qv)))
      }
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2) }
    val routingB = spark.sparkContext.broadcast(routing)
    val probedParts = routing.keys.toSeq.map(Int.box)
    val ef = math.max(efSearch, k)
    val hits = spark.table(s"`$db`.`$name`")
      .filter(col("part").isin(probedParts: _*)).as[NswGraph]
      .flatMap { g =>
        routingB.value.getOrElse(g.part, Array.empty[(Long, Array[Double])])
          .iterator.flatMap { case (qid, qv) =>
            searchLocal(g, qv, ef).take(k).map { case (id, s) => (qid, id, s) }
          }
      }
      .toDF("query_id", "vec_id", "score")
      .select(col("query_id"), col("vec_id"), round(col("score"), 6).as("score"))
    val topk = toCol(graft.plans.TopKScoreId(
      toExpr(col("score")), toExpr(col("vec_id")), k).toAggregateExpression())
    hits.groupBy(col("query_id"))
      .agg(topk.as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "hit")))
      .select(col("query_id"), col("hit.vec_id").as("vec_id"),
        col("hit.score").as("score"), (col("pos") + 1).cast("int").as("rank"))
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /** Probe entry for the ROUTED graph collection (`q_knn_hnsw_routed`):
    * build-if-absent (warmup pays it), then every call is the pure routed
    * probe — model read, driver-side cell choice, beam searches over the
    * nprobe pruned graph partitions. One extra search slot absorbs the
    * query's own self-hit, like [[topKNswProbe]].
    */
  def topKNswRouted(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 3, kCells: Int = 8, nprobe: Int = 2, m: Int = 16,
      efConstruction: Int = 200, efSearch: Int = 100): DataFrame = {
    val (db, name) = ensureNswRoutedCollection(spark, dir, kCells, m, efConstruction)
    val qVec = Tables.embeddings(spark, dir).filter(col("vec_id") === queryId)
      .select(col("embedding")).head().getSeq[Double](0).toArray
    searchStoredRouted(spark, db, name, qVec, k + 1, efSearch, nprobe)
      .filter(col("vec_id") =!= queryId)
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Build-if-absent for the routed probe entry — single-JVM guard only;
    * see the cross-session note in [[KnnOps.topKIvfProbe]].
    */
  private[graft] def ensureNswRoutedCollection(spark: SparkSession, dir: String,
      kCells: Int, m: Int, efConstruction: Int): (String, String) = {
    import graft.sources.CatalogOps
    val db = "graft_nsw_routed"
    val name = "emb_nsw"
    this.synchronized {
      if (!spark.catalog.tableExists(s"$db.$name") ||
          !spark.catalog.tableExists(s"$db.${name}__meta") ||
          !spark.catalog.tableExists(s"$db.${name}__model")) {
        CatalogOps.createDatabase(spark, db)
        Seq(name, s"${name}__meta", s"${name}__model").foreach(KnnOps.dropTableAndDir(spark, db, _))
        CatalogOps.createNswRoutedCollection(spark, db, name,
          Tables.embeddings(spark, dir), kCells = kCells, m = m,
          efConstruction = efConstruction)
      }
    }
    (db, name)
  }

  /** Build-then-search composite for the driver contract (`q_knn_hnsw`):
    * the reference's exercised query (`searchByText(limit=3)` over its
    * HNSW index) through the per-partition graphs. The corpus spreads by
    * vec_id hash first — the fixture is one parquet file = one partition,
    * which would otherwise build ONE graph on one thread (at real scale
    * the file count provides the spread, and the graphs are built once at
    * ingest, not per query).
    */
  def topKNsw(spark: SparkSession, dir: String, queryId: Long = 0L, k: Int = 3,
      m: Int = 16, efConstruction: Int = 200, efSearch: Int = 100): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val qVec = emb.filter(col("vec_id") === queryId)
      .select(col("embedding")).head().getSeq[Double](0).toArray
    val corpus = emb.filter(col("vec_id") =!= queryId)
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
    searchGraphs(buildGraphs(corpus, m, efConstruction), qVec, k, efSearch)
  }

  /** Probe-ONLY graph entry (`q_knn_hnsw_probe`) — the query-path twin of
    * [[topKNsw]], which rebuilds every graph per call (honest about it, but
    * the bench then measures ingest, not retrieval). The graph collection
    * is built once per session if absent (warmup / first call pays it);
    * after that a call costs the beam searches over the stored CSR rows
    * plus the k·graphs merge — the number a 1000-executor serving path
    * actually pays. The full corpus is indexed (an index doesn't know its
    * future queries); the fixture query row is filtered AFTER search, so
    * results stay comparable with [[topKNsw]] — searched with one extra
    * slot to absorb the query's own self-hit.
    */
  def topKNswProbe(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 3, shards: Int = 8, m: Int = 16, efConstruction: Int = 200,
      efSearch: Int = 100): DataFrame = {
    val (db, name) = ensureNswProbeCollection(spark, dir, shards, m, efConstruction)
    val qVec = Tables.embeddings(spark, dir).filter(col("vec_id") === queryId)
      .select(col("embedding")).head().getSeq[Double](0).toArray
    searchStored(spark, db, name, qVec, k + 1, efSearch)
      .filter(col("vec_id") =!= queryId)
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Build-if-absent for the probe-only NSW entries — single-JVM guard
    * only; see the cross-session note in [[KnnOps.topKIvfProbe]].
    */
  private[graft] def ensureNswProbeCollection(spark: SparkSession, dir: String,
      shards: Int, m: Int, efConstruction: Int): (String, String) = {
    import graft.sources.CatalogOps
    val db = "graft_nsw_probe"
    val name = "emb_nsw"
    this.synchronized {
      // a crash between the two saveAsTable writes leaves the main table
      // present with a missing __meta — require BOTH before trusting the
      // collection (mirrors topKIvfProbe's model-table check)
      if (!spark.catalog.tableExists(s"$db.$name") ||
          !spark.catalog.tableExists(s"$db.${name}__meta")) {
        CatalogOps.createDatabase(spark, db)
        Seq(name, s"${name}__meta").foreach(KnnOps.dropTableAndDir(spark, db, _))
        CatalogOps.createNswCollection(spark, db, name,
          Tables.embeddings(spark, dir), shards, m, efConstruction)
      }
    }
    (db, name)
  }

  /** FILTERED graph-ANN probe entry (`q_knn_hnsw_filtered`) — the indexed
    * twin of [[KnnOps.topKFiltered]], same shape as [[KnnOps
    * .topKIvfFiltered]] on the IVF side: stored graphs beam-search with
    * over-fetch headroom, the label predicate applies on the attribute
    * join ([[searchStoredFiltered]]), results re-rank globally. The
    * query's own row is excluded by predicate (one extra over-fetch slot
    * absorbs the self-hit). Approximate by construction → rows-only;
    * equality vs the exact filtered scan at exhaustive over-fetch and
    * recall at production over-fetch are test-pinned.
    */
  def topKNswFiltered(spark: SparkSession, dir: String, queryId: Long = 0L,
      labelEq: Int = 3, k: Int = 5, shards: Int = 8, m: Int = 16,
      efConstruction: Int = 200, efSearch: Int = 100,
      overFetch: Int = 4): DataFrame = {
    val (db, name) = ensureNswProbeCollection(spark, dir, shards, m, efConstruction)
    val emb = Tables.embeddings(spark, dir)
    val qVec = emb.filter(col("vec_id") === queryId)
      .select(col("embedding")).head().getSeq[Double](0).toArray
    searchStoredFiltered(spark, db, name, qVec,
      attrs = emb.select(col("vec_id"), col("label")),
      predicate = col("label") === labelEq && col("vec_id") =!= queryId,
      k, efSearch, overFetch)
  }
}
