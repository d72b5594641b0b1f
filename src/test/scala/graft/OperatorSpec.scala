package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Operator-level invariants on the sf0.001 fixtures (SURVEY §5.2-3).
  * The DuckDB oracle gate (tools/check_oracle.py) checks exact values;
  * these pin the algebraic properties that the oracle can't express.
  */
class OperatorSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = TestSpark.Sf

  test("knn with k = n reproduces the full similarity sort") {
    val n = 499 // corpus minus the query row
    val topAll = KnnOps.topK(spark, sf, queryId = 0L, k = n)
      .select("vec_id").collect().map(_.getLong(0))
    assert(topAll.length === n)
    val full = KnnOps.topK(spark, sf, queryId = 0L, k = n + 100)
      .select("vec_id").collect().map(_.getLong(0))
    assert(topAll.toSeq === full.toSeq)
  }

  test("query-by-text knn: text path equals the vector path given the embedded vector") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol}
    import graft.functions.VectorFunctions.cosineFast
    // the plan-side composition (embed inside the query)
    val textPath = KnnOps.topKByText(spark, sf, SparkEntry.KnnTextQuery, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    // the vector path: the SAME raw vector, pre-embedded driver-side by the
    // pure-JVM kernel (what the DuckDB oracle literal is built from)
    val qv = SparkEntry.knnTextQueryVec()
    assert(qv.exists(_ != 0.0), "query vector must be non-degenerate")
    assert(qv.forall(x => x == math.rint(x)), "raw hash vector must be integral")
    val q = spark.range(1).select(typedLit(qv.toSeq).as("q_embedding"))
    val vecPath = graft.sources.Tables.embeddings(spark, sf)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(cosineFast(col("embedding"), col("q_embedding")), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc).limit(5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(textPath.toSeq === vecPath.toSeq)
    // and the in-plan FeatureHashEmbed agrees bit-for-bit with the kernel
    val planVec = spark.range(1).select(
      toCol(graft.plans.FeatureHashEmbed(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(SparkEntry.KnnTextQuery),
          org.apache.spark.sql.types.StringType), 64)).as("v"))
      .head().getSeq[Double](0)
    assert(planVec.toArray.toSeq === qv.toSeq)
  }

  test("bounded-heap batch knn equals the rank-window formulation") {
    val window = NegativePlans.topKBatchWindow(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val agg = KnnOps.topKBatchAgg(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(agg.toSeq === window.toSeq)
  }

  test("approximate distinct stays within the configured error of exact") {
    val rows = RelOps.approxDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = RelOps.aggDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      assert(math.abs(rows(k) - ex).toDouble / ex < 0.05)
    }
  }

  test("percentiles are monotone p25 <= p50 <= p75 <= p95") {
    RelOps.percentiles(spark, sf).collect().foreach { r =>
      val Seq(p25, p50, p75, p95) = (1 to 4).map(r.getDouble)
      assert(p25 <= p50 && p50 <= p75 && p75 <= p95)
    }
  }

  test("top-k aggregate is callable from SQL") {
    import graft.sources.Tables
    Tables.embeddings(spark, sf).limit(50).createOrReplaceTempView("emb_small")
    val rows = spark.sql(
      """SELECT topk_score_id(CAST(vec_id AS DOUBLE), vec_id, 3) AS top
        |FROM emb_small""".stripMargin).collect()
    val top = rows(0).getSeq[org.apache.spark.sql.Row](0)
    assert(top.map(_.getLong(0)) === Seq(49L, 48L, 47L)) // highest "scores"
  }

  test("custom expressions are callable from SQL via GraftExtensions") {
    val r = spark.sql(
      """SELECT vec_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
        |       vec_dot(array(2.0D, 3.0D), array(4.0D, 5.0D)) AS d,
        |       sorted_intersect_size(array('a','b','c'), array('b','c','d')) AS i
        |""".stripMargin).collect()(0)
    assert(r.getDouble(0) === 1.0)
    assert(r.getDouble(1) === 23.0)
    assert(r.getInt(2) === 2)
    val agg = spark.sql(
      """SELECT vec_sum_count(v) AS sc FROM VALUES
        |  (array(1.0D, 2.0D)), (array(3.0D, 4.0D)) AS t(v)""".stripMargin)
      .collect()(0).getStruct(0)
    assert(agg.getSeq[Double](0) === Seq(4.0, 6.0))
    assert(agg.getLong(1) === 2L)
    // constant-matrix expressions: planes/centroids fold at registration
    val m = spark.sql(
      """SELECT vec_band_keys(array(1.0D, 0.0D), array(1.0D, 0.0D, 0.0D, 1.0D), 2, 1) AS keys,
        |       vec_nearest_centroid(array(1.0D, 0.0D), array(0.0D, 1.0D, 1.0D, 0.0D), 2) AS cell
        |""".stripMargin).collect()(0)
    assert(m.getSeq[Long](0) === Seq(1L, 0L)) // dot>0 for plane (1,0); not for (0,1)
    assert(m.getInt(1) === 1) // centroid (1,0) is the cosine argmax
  }

  test("recursive tree Generator flattens any depth in one pass") {
    // depth-2 reference payload: identical rows to the schema-typed explodes
    val deep = TextOps.jsonTreeDeep(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val typed = TextOps.jsonTree(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(deep === typed)
    // depth-4 nesting the per-level formulation cannot express without
    // another explode stage per level
    val nested =
      """{"title":"a","link":"/a","children":[
        |  {"title":"b","link":"/b","children":[
        |    {"title":"c","link":"/c","children":[
        |      {"title":"d","link":"/d"}]}]},
        |  {"title":"e","link":"/e"}]}""".stripMargin.replace("\n", "")
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    val rows = spark.range(1)
      .select(toCol(graft.plans.NavTreeExplode(toExpr(lit(nested))))
        .as(Seq("title", "url", "depth")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows === Seq(
      ("a", "/a", 1L), ("b", "/a/b", 2L), ("c", "/a/b/c", 3L),
      ("d", "/a/b/c/d", 4L), ("e", "/a/e", 2L))) // preorder, urls accumulate
    // and the UDTF is a SQL table function via GraftExtensions
    val viaSql = spark.sql(
      s"SELECT t.* FROM (SELECT 1) LATERAL VIEW nav_tree_explode('$nested') t")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(viaSql === rows)
  }

  test("funnel steps are strictly ordered and stages consistent") {
    val rows = EventOps.funnel(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (v, c, p, stage) =
        (r.getTimestamp(1), r.getTimestamp(2), r.getTimestamp(3), r.getInt(4))
      assert(v != null)
      if (c != null) assert(c.after(v)) // strictly after the view step
      if (p != null) assert(c != null && p.after(c)) // no skipping stages
      assert(stage === (if (p != null) 3 else if (c != null) 2 else 1))
    }
  }

  test("retention matrix: offsets non-negative, day 0 covers every user") {
    import graft.sources.Tables
    val rows = EventOps.retention(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2))) // (day_offset, n_users)
    assert(rows.nonEmpty && rows.forall(_._1 >= 0L))
    val day0 = rows.filter(_._1 == 0L).map(_._2).sum
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(day0 === users) // every user is active on their own first day
  }

  test("eventPattern equals a driver-side regex over the sorted event strings") {
    import graft.sources.Tables
    val got = EventOps.eventPattern(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    // reference: plain Scala — same ordering key (ts, event_id), same regex
    val ref = Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), (r.getTimestamp(1).getTime, r.getLong(2),
        r.getString(3).substring(0, 1))))
      .groupBy(_._1).map { case (u, es) =>
        val seq = es.map(_._2).sortBy(t => (t._1, t._2)).map(_._3).mkString
        (u, seq.length.toLong, "v[ce]*p".r.findAllIn(seq).length.toLong)
      }.toSeq.sortBy(_._1)
    assert(got.toSeq === ref)
  }

  test("weighted sample is k-sized, duplicate-free, and weight-skewed") {
    import graft.sources.Tables
    val rows = RelOps.sampleWeighted(spark, sf, k = 50).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(rows.length === 50)
    assert(rows.map(_._1).distinct.length === 50) // without replacement
    // A-ES inclusion prob ∝ n_chars: the sample must skew heavier than
    // the corpus (not a tight bound — a sanity law on the weighting)
    val sampleMean = rows.map(_._2).sum.toDouble / rows.length
    val corpus = Tables.documents(spark, sf).select("n_chars").collect()
      .map(_.getLong(0))
    val corpusMean = corpus.sum.toDouble / corpus.length
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean should exceed corpus mean $corpusMean")
    // determinism: a second run is bit-identical
    val again = RelOps.sampleWeighted(spark, sf, k = 50).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(again.toSeq === rows.toSeq)
  }

  test("HITS vectors are L1-normalized and a rebuilt run is identical") {
    val rows = LinkOps.hits(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, h, a) => h >= 0.0 && a >= 0.0 })
    // each vector sums to 1 up to the per-node nano rounding (±0.5e-9 each)
    val tol = rows.length * 1e-6 + 1e-6
    assert(math.abs(rows.map(_._2).sum - 1.0) < tol)
    assert(math.abs(rows.map(_._3).sum - 1.0) < tol)
    // the fixed point is non-uniform (the affine edge hash skews in-degree)
    assert(rows.map(_._3).distinct.length > 1)
    val again = LinkOps.hits(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(again.toSeq === rows.toSeq)
  }

  test("maintained agg report: folds are bucket-pruned, replays no-op, report exact") {
    import graft.sources.{CatalogOps, Tables}
    val db = "aggreportdb"
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + s"/$db.db"))
    CatalogOps.createDatabase(spark, db)
    val rows = Tables.events(spark, sf).select(col("event_id"),
      date_trunc("day", col("ts")).as("day"), col("event_type"), col("value"))
    CatalogOps.createAggReport(spark, db, "ev",
      rows.filter(col("event_id") % 2 === 0), Seq("day", "event_type"), "value")
    val tableDir = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath + s"/$db.db/ev__aggstore")
    def bucketFiles(b: Int): Set[(String, Long)] = {
      val d = new java.io.File(tableDir, s"__bucket=$b")
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    // fold a batch touching ONE key: only its bucket may rewrite
    val oneKey = rows.filter(col("event_id") % 2 =!= 0).limit(1).collect()(0)
    val oneBatch = rows.filter(col("event_id") % 2 =!= 0)
      .filter(col("day") === oneKey.getTimestamp(1) &&
        col("event_type") === oneKey.getString(2))
    val touchedBucket = oneBatch
      .select(pmod(hash(col("day"), col("event_type")), lit(32)).as("b"))
      .head().getInt(0)
    val before = (0 until 32).map(bucketFiles)
    CatalogOps.upsertAggReport(spark, db, "ev", oneBatch, batchId = 0L)
    (0 until 32).filterNot(_ == touchedBucket).foreach { b =>
      assert(bucketFiles(b) === before(b), s"untouched bucket $b rewrote")
    }
    assert(bucketFiles(touchedBucket) !== before(touchedBucket))
    // fold the rest, then the served report equals the direct groupBy
    CatalogOps.upsertAggReport(spark, db, "ev",
      rows.filter(col("event_id") % 2 =!= 0)
        .filter(col("day") =!= oneKey.getTimestamp(1) ||
          col("event_type") =!= oneKey.getString(2)), batchId = 1L)
    def served() = CatalogOps.serveAggReport(spark, db, "ev")
      .orderBy(col("day"), col("event_type")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    val direct = rows.groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * lit(1000000.0)).cast("long")).cast("double")
          / lit(1000000.0)).as("sum_value"))
      .orderBy(col("day"), col("event_type")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(served() === direct)
    // replay: at-or-below-watermark folds change nothing, byte-for-byte
    val all = (0 until 32).map(bucketFiles)
    CatalogOps.upsertAggReport(spark, db, "ev", oneBatch, batchId = 0L)
    CatalogOps.upsertAggReport(spark, db, "ev",
      rows.filter(col("event_id") % 2 =!= 0), batchId = 1L)
    (0 until 32).foreach(b => assert(bucketFiles(b) === all(b), s"replay rewrote bucket $b"))
    assert(served() === direct)
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
  }

  test("CDC feed patches snapshot(from) into snapshot(to) exactly") {
    import graft.sources.CatalogOps
    val (db, name) = TextOps.ensureCdcDocs(spark, sf)
    type Doc = (Long, String, String, String, Long)
    def snap(asOf: Long): Set[Doc] =
      CatalogOps.readVersioned(spark, db, name, asOf = asOf).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSet
    val pre = snap(0L)
    val post = snap(Long.MaxValue)
    val feed = CatalogOps.changesVersioned(spark, db, name, fromV = 0L).collect()
    val deletes = feed.filter(_.getString(0) == "delete").map(_.getLong(2)).toSet
    val upserts: Set[Doc] = feed
      .filter(r => r.getString(0) == "insert" || r.getString(0) == "update")
      .map(r => (r.getLong(2), r.getString(3), r.getString(4),
        r.getString(5), r.getLong(6))).toSet
    // the patch law: apply deletes, overwrite/insert the images → post
    val patched = pre.filterNot(d =>
      deletes.contains(d._1) || upserts.exists(_._1 == d._1)) ++ upserts
    assert(patched === post)
    // every change kind fires on this fixture
    assert(feed.map(_.getString(0)).toSet === Set("insert", "update", "delete"))
    // sub-window feeds classify by their own boundaries
    val feed01 = CatalogOps.changesVersioned(spark, db, name, 0L, 1L).collect()
    assert(feed01.map(_.getString(0)).toSet === Set("insert", "update"))
    val feed12 = CatalogOps.changesVersioned(spark, db, name, 1L, 2L).collect()
    assert(feed12.map(_.getString(0)).toSet === Set("delete"))
    // an id inserted and deleted inside the window nets to NO event
    val insertedThenDeleted = feed.map(_.getLong(2)).toSet
      .intersect((1L until 50L by 2).toSet)
    assert(insertedThenDeleted.isEmpty)
  }

  test("q-digest: live sketch, maintained store, and exact quantiles all agree") {
    val live = RelOps.quantileSketch(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(live.nonEmpty)
    // the stored twin (create half + fold half) serves the same report
    val stored = RelOps.quantileSketchStored(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(stored.toSeq === live.toSeq)
    // and both match the exact per-group rank rule
    import graft.sources.Tables
    val byGroup = Tables.documents(spark, sf).select("source", "n_chars")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, vs) => s -> vs.map(_._2).sorted.toIndexedSeq }
    live.foreach { case (src, p25, p50, p90, p99, n) =>
      val vs = byGroup(src)
      assert(n === vs.length.toLong)
      def exact(p: Double): Long =
        vs((math.ceil(p * vs.length).toLong.max(1L) - 1).toInt)
      assert((p25, p50, p90, p99) ===
        ((exact(0.25), exact(0.5), exact(0.9), exact(0.99))), s"group $src")
    }
  }

  test("similarity-join dispatcher branches agree on the fixture") {
    val viaExact = KnnOps.simJoinAuto(spark, sf, crossoverRows = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val viaLsh = KnnOps.simJoinAuto(spark, sf, crossoverRows = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(viaExact.nonEmpty)
    assert(viaLsh.toSeq === viaExact.toSeq)
  }

  test("dispatcher statistics: footer row count and model-derived crossover") {
    import graft.sources.Tables
    // footer metadata equals the scan count, for a file and for a directory
    val meta = KnnOps.parquetRowCount(spark, sf + "/embeddings.parquet")
    assert(meta === Some(Tables.embeddings(spark, sf).count()))
    val tmp = java.nio.file.Files.createTempDirectory("graft_cnt").toFile
    try {
      Tables.embeddings(spark, sf).repartition(3)
        .write.mode("overwrite").parquet(tmp.getPath + "/e.parquet")
      assert(KnnOps.parquetRowCount(spark, tmp.getPath + "/e.parquet") === meta)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    assert(KnnOps.parquetRowCount(spark, sf + "/nope.parquet") === None)
    // low-threshold regime: banding cannot prune random data → exact always
    assert(KnnOps.derivedCrossover(0.35) === Long.MaxValue)
    // high-threshold regime: finite and near the measured LshCrossover ~10k
    val c8 = KnnOps.derivedCrossover(0.8)
    assert(c8 > 5000L && c8 < 20000L, s"crossover(0.8)=$c8")
    val c9 = KnnOps.derivedCrossover(0.9)
    assert(c9 > 1000L && c9 < c8, s"crossover(0.9)=$c9")
  }

  test("review regressions: replayed queries, bad payloads, nested layouts") {
    import spark.implicits._
    import graft.sources.Tables
    // a replayed query row must not displace true neighbors from the heap
    val emb = Tables.embeddings(spark, sf)
    val q0 = emb.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val replayed = q0.unionAll(q0) // same query twice in one batch
    val got = KnnOps.topKForQueries(replayed, emb.filter(col("vec_id") >= 5), k = 3)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(got.length === 3 && got.map(_._1).distinct.length === 3)
    // malformed nav payload emits nothing instead of failing the job
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    val bad = spark.range(1)
      .select(toCol(graft.plans.NavTreeExplode(toExpr(lit("{\"title\":"))))
        .as(Seq("title", "url", "depth")))
    assert(bad.count() === 0)
    // a PPM width that overflows Int is rejected, not wrapped
    assert(MultimodalOps.parsePpm(
      ("P6\n4294967298 1\n255\n" + "x" * 8).getBytes("US-ASCII")).isEmpty)
    // a partitioned layout (no direct part-files) reports None, not 0 rows
    val tmp = java.nio.file.Files.createTempDirectory("graft_nest").toFile
    try {
      Seq((1L, 0), (2L, 1)).toDF("id", "cell")
        .write.partitionBy("cell").parquet(tmp.getPath + "/t.parquet")
      assert(KnnOps.parquetRowCount(spark, tmp.getPath + "/t.parquet") === None)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("LSH banding auto-tuner meets the miss target across thresholds") {
    Seq(0.2, 0.35, 0.5, 0.8, 0.9, 0.95).foreach { tau =>
      val (r, b) = KnnOps.lshParams(tau)
      val p = 1.0 - math.acos(tau) / math.Pi
      val miss = math.pow(1.0 - math.pow(p, r), b)
      assert(miss <= 1e-6 * 1.0001, s"tau=$tau r=$r b=$b miss=$miss")
      assert(r >= 1 && b >= 1 && b <= 500, s"tau=$tau r=$r b=$b")
    }
    assert(KnnOps.lshParams(0.35) === ((3, 53)))
    assert(KnnOps.lshParams(0.8) === ((7, 62)))
  }

  test("LSH-bucketed similarity join reproduces the exact all-pairs result") {
    val exact = KnnOps.simJoin(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val lsh = KnnOps.simJoinLsh(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(lsh.toSeq === exact.toSeq)
  }

  test("probe-only IVF/NSW entries reuse the session collection and match their twins") {
    // IVF: probe-only output equals the build-per-call composite (same
    // deterministic training), and the second call rewrites no files
    val e2e = KnnOps.topKIvfPartitionedE2E(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val probe1 = KnnOps.topKIvfProbe(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(probe1.toSeq === e2e.toSeq)
    def listing(db: String, t: String) = {
      val root = new java.io.File(new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath + s"/$db/$t")
      import scala.jdk.CollectionConverters._
      org.apache.commons.io.FileUtils
        .listFiles(root, Array("parquet"), true).asScala
        .map(f => (f.getPath, f.lastModified, f.length)).toSeq.sorted
    }
    val ivfBefore = listing("graft_ivf_probe.db", "emb_ivf")
    assert(ivfBefore.nonEmpty)
    val probe2 = KnnOps.topKIvfProbe(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(probe2.toSeq === probe1.toSeq)
    assert(listing("graft_ivf_probe.db", "emb_ivf") === ivfBefore)
    // NSW: fixture graphs are exhaustive at efSearch=100 → probe matches
    // the exact scan, and repeat calls leave the stored graphs untouched
    val exact = KnnOps.topK(spark, sf, queryId = 0L, k = 3)
      .collect().map(_.getLong(0))
    val nsw1 = GraphAnnOps.topKNswProbe(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(nsw1.map(_._1).toSeq === exact.toSeq)
    val nswBefore = listing("graft_nsw_probe.db", "emb_nsw")
    assert(nswBefore.nonEmpty)
    val nsw2 = GraphAnnOps.topKNswProbe(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(nsw2.toSeq === nsw1.toSeq)
    assert(listing("graft_nsw_probe.db", "emb_nsw") === nswBefore)
  }

  test("quantized collection: two-phase probe matches the exact scan at ~1/8 the bytes") {
    val exact = KnnOps.topK(spark, sf, queryId = 0L, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val q1 = KnnOps.topKQuantizedProbe(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // the int8 phase generates candidates; the full-precision rescore
    // restores EXACT scores and order, so the output matches the exact scan
    assert(q1.toSeq === exact.toSeq)
    val q2 = KnnOps.topKQuantizedProbe(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(q2.toSeq === q1.toSeq) // collection reused, not rebuilt
    // storage: codes replace the 8-byte-per-component array — the
    // quantized table must be well under a third of the source bytes
    // (~1/8 + parquet overhead; float32 corpora would see ~1/4)
    val srcBytes = org.apache.commons.io.FileUtils.sizeOf(
      new java.io.File(s"$sf/embeddings.parquet"))
    val qBytes = org.apache.commons.io.FileUtils.sizeOf(
      new java.io.File(new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath + "/graft_q8_probe.db/emb_q8"))
    assert(qBytes > 0 && qBytes.toDouble / srcBytes < 0.3,
      s"quantized $qBytes vs source $srcBytes")
    // codes round-trip: reconstructed vectors stay within the scalar-
    // quantization error bound |x̂ᵢ−xᵢ| ≤ max|x|/254 per component
    val row = spark.table("graft_q8_probe.emb_q8")
      .filter(col("vec_id") === 7L).select(col("codes"), col("scale")).head()
    val (codes, scale) = (row.getAs[Array[Byte]](0), row.getDouble(1))
    val orig = graft.sources.Tables.embeddings(spark, sf)
      .filter(col("vec_id") === 7L).select(col("embedding")).head().getSeq[Double](0)
    val maxAbs = orig.map(math.abs).max
    codes.zip(orig).foreach { case (c, x) =>
      assert(math.abs(c / scale - x) <= maxAbs / 254.0 + 1e-6) }
  }

  test("exact dedup removes every simulated re-crawl duplicate and is idempotent") {
    val out = DedupOps.dedupExact(spark, sf)
    val ids = out.select("doc_id").collect().map(_.getLong(0))
    assert(ids.length === 500)         // 600 in, 100 surrogate dups removed
    assert(ids.forall(_ < 10000))      // originals (lowest id) always win
    val fps = out.select("fp").distinct().count()
    assert(fps === 500)                // one survivor per distinct content
  }

  test("large-vocabulary fallback (sorted-merge + prefilter) matches brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(11L)
    val vocab = (0 until 120).map(i => f"tok$i%03d") // > 64 → fallback path
    val docs: Seq[(Long, String)] = (0 until 10).flatMap { g =>
      val base = rnd.shuffle(vocab).take(30)
      (0 until 4).map { v =>
        val toks = if (v == 0) base
          else base.updated(rnd.nextInt(30), vocab(rnd.nextInt(120)))
        ((g * 4 + v).toLong, toks.mkString(" "))
      }
    }
    val df = docs.toDF("doc_id", "text")
    val got = DedupOps.jaccardPairsOn(df, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = docs.map { case (id, t) => id -> t.split(" ").toSet }
    val expected = (for {
      (a, sa) <- sets
      (b, sb) <- sets if a < b
      if sa.intersect(sb).size.toDouble / sa.union(sb).size >= 0.9
    } yield (a, b)).toSet
    assert(got === expected)
    // the candidate-driven path and the blocked pair loop agree exactly
    val blocked = DedupOps.jaccardPairsBlockedOn(df, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked === expected)
    val surv = DedupOps.minHashLshOn(df, 0.9).collect().map(_.getLong(0)).toSet
    assert(surv === docs.map(_._1).toSet -- expected.map(_._2))
    val bandedPairs = DedupOps.minHashLshPairsOn(df, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bandedPairs === expected) // pairs variant, same general path
  }

  test("multi-word-bitset jaccard stays exact when the dictionary is smaller than the vocabulary") {
    import spark.implicits._
    // 120-token vocabulary, dictionary pruned to 64 bits: roughly half of
    // every document's tokens land in the sorted residual — the path where
    // bitset + residual-merge must still sum to the exact intersection
    val rnd = new scala.util.Random(23L)
    val vocab = (0 until 120).map(i => f"tok$i%03d")
    val docs: Seq[(Long, String)] = (0 until 12).flatMap { g =>
      val base = rnd.shuffle(vocab).take(25)
      (0 until 3).map { v =>
        val toks = if (v == 0) base
          else base.updated(rnd.nextInt(25), vocab(rnd.nextInt(120)))
        ((g * 3 + v).toLong, toks.mkString(" "))
      }
    }
    val df = docs.toDF("doc_id", "text")
    for (tau <- Seq(0.9, 0.7)) {
      val dict = DedupOps.jaccardPairsDictOn(df, tau, maxBits = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val blocked = DedupOps.jaccardPairsBlockedOn(df, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(dict === blocked, s"tau=$tau")
      assert(dict.nonEmpty, s"vacuous corpus at tau=$tau")
    }
  }

  test("prefix-filter jaccard equals the blocked pair loop across random corpora") {
    import spark.implicits._
    // randomized sizes/overlap structure across several thresholds: the
    // prefix bound must never lose a pair the blocked enumeration finds
    var totalPairs = 0
    for ((seed, tau) <- Seq((1L, 0.95), (2L, 0.9), (3L, 0.8), (4L, 0.7), (5L, 0.6))) {
      val rnd = new scala.util.Random(seed)
      val vocab = (0 until 150).map(i => f"t$i%03d")
      var prev: Seq[String] = Seq.empty
      val docs = (0 until 60).map { id =>
        val toks =
          if (id % 2 == 1 && prev.nonEmpty)
            // genuine near-dup: perturb ONE token of the PREVIOUS doc
            prev.updated(rnd.nextInt(prev.length), vocab(rnd.nextInt(150)))
          else {
            val n = 8 + rnd.nextInt(20)
            rnd.shuffle(vocab).take(n)
          }
        prev = toks
        (id.toLong, toks.mkString(" "))
      }.toDF("doc_id", "text")
      val prefix = DedupOps.jaccardPairsPrefixOn(docs, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val blocked = DedupOps.jaccardPairsBlockedOn(docs, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(prefix === blocked, s"seed=$seed tau=$tau")
      totalPairs += prefix.size
    }
    assert(totalPairs > 50, s"vacuous corpus: only $totalPairs pairs") // real pairs exercised
  }

  test("minhash LSH survivors equal the brute-force jaccard dedup") {
    val pairs = DedupOps.jaccardPairs(spark, sf, tau = 0.95)
      .select("b_id").distinct().collect().map(_.getLong(0)).toSet
    val all = graft.sources.Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = (all -- pairs).toSeq.sorted
    val got = DedupOps.minHashLsh(spark, sf, tau = 0.95)
      .collect().map(_.getLong(0)).toSeq
    assert(got === expected)
  }

  test("truncate bounds body length and preserves prefix") {
    val rows = TextOps.truncate(spark, sf, n = 100)
      .select(length(col("body")).as("l"), col("body_len")).collect()
    rows.foreach { r =>
      assert(r.getInt(0) <= 100)
      assert(r.getInt(0).toLong === r.getLong(1))
    }
  }

  test("PII redaction finds every planted pattern and leaves none behind") {
    val rows = TextAnalysisOps.redactPii(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(1) === 1L, "one planted email") // n_emails
      assert(r.getLong(2) === 1L, "one planted ip")    // n_ips
      assert(r.getLong(3) === 1L, "one planted phone") // n_phones
      val red = r.getString(4)
      assert(red.contains("<EMAIL>") && red.contains("<IP>") && red.contains("<PHONE>"))
      assert(!red.contains("@") && !red.contains("555"))
    }
  }

  test("repetition signal is a valid fraction and maximal bigram share") {
    TextAnalysisOps.repetitionSignals(spark, sf).collect().foreach { r =>
      val (n, top, frac) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(top >= 1L && top <= n)
      assert(frac > 0.0 && frac <= 1.0)
      assert(math.abs(frac - math.rint(top.toDouble / n * 1e6) / 1e6) < 1e-9)
    }
  }

  test("blank-line collapse is idempotent (no \\n runs survive)") {
    val cleaned = TextOps.cleanText(spark, sf)
      .filter(col("cleaned").contains("\n\n")).count()
    assert(cleaned === 0)
  }

  test("upsert keeps the newest version exactly for re-crawled ids") {
    val out = TextOps.upsertLastWins(spark, sf).collect()
    out.foreach { r =>
      val id = r.getLong(0)
      val version = r.getLong(3)
      assert(version === (if (id % 7 == 0) 2L else 1L))
    }
    assert(out.map(_.getLong(0)).distinct.length === out.length) // id unique
  }

  test("tree flatten emits every node exactly once with parent-prefixed urls") {
    val rows = TextOps.treeFlatten(spark, sf).collect()
    assert(rows.length === 31) // 1 root + 5 regions + 25 nations
    assert(rows.count(_.getLong(2) == 0L) === 1)
    assert(rows.count(_.getLong(2) == 1L) === 5)
    assert(rows.count(_.getLong(2) == 2L) === 25)
    rows.filter(_.getLong(2) == 2L).foreach { r =>
      assert(r.getString(1).matches("/r/\\d+/n/\\d+"))
    }
  }

  test("hashing embedder is deterministic, unit-norm, dim-agnostic") {
    val e1 = TextAnalysisOps.embedVectors(spark, sf, dim = 32).collect()
    val e2 = TextAnalysisOps.embedVectors(spark, sf, dim = 32).collect()
    assert(e1.map(_.getSeq[Double](1)).toSeq === e2.map(_.getSeq[Double](1)).toSeq)
    e1.foreach { r =>
      assert(r.getSeq[Double](1).length === 32)
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-6) // L2 norm
    }
  }

  test("fused feature-hash embedder equals the HOF formulation bit-for-bit") {
    import graft.sources.Tables
    // The O(tokens × dim) aggregate/transform formulation the codegen
    // expression replaced — kept here as the semantic oracle.
    def hofRaw(dim: Int) = aggregate(
      split(col("text"), " "),
      array_repeat(lit(0.0), dim),
      (acc, t) => {
        val bucket = pmod(xxhash64(t), lit(dim.toLong))
        val sgn = when(shiftright(xxhash64(t), 32).bitwiseAND(lit(1L)) === 1L, lit(1.0))
          .otherwise(lit(-1.0))
        transform(acc, (x, i) => x + when(bucket === i.cast("long"), sgn).otherwise(lit(0.0)))
      })
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    import spark.implicits._
    // fixture corpus is clean single-space text — the adversarial rows pin
    // the split semantics the fused loop must reproduce: empty string,
    // consecutive/leading/trailing spaces (empty tokens DO get hashed),
    // and multi-byte UTF-8
    val adversarial = Seq(
      (9000L, ""), (9001L, "a  b"), (9002L, " a"), (9003L, "a "),
      (9004L, "  "), (9005L, "héllo wörld ünïcode"), (9006L, "多 字 节 文本"),
      (9007L, "mixed 多字节 ascii")).toDF("doc_id", "text")
    for (dim <- Seq(8, 64)) {
      val both = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
        .unionAll(adversarial)
        .select(col("doc_id"),
          toCol(graft.plans.FeatureHashEmbed(toExpr(col("text")), dim)).as("fused"),
          hofRaw(dim).as("hof"))
        .collect()
      both.foreach { r =>
        assert(r.getSeq[Double](1) === r.getSeq[Double](2),
          s"doc ${r.getLong(0)} dim $dim: fused != HOF")
      }
    }
  }

  test("embed_batch summary is all-scalar and consistent with the vectors") {
    val s = TextAnalysisOps.embedBatch(spark, sf, dim = 32)
    assert(s.schema.fields.forall(f => !f.dataType.typeName.contains("array")))
    val rows = s.collect()
    rows.foreach { r =>
      assert(r.getLong(1) === 32L) // dim
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-6) // norm
      assert(r.getLong(3) > 0L && r.getLong(3) <= 32L) // nnz
    }
    // signature is a function of content: identical across evaluations
    val sig2 = TextAnalysisOps.embedBatch(spark, sf, dim = 32).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(4))).toSeq ===
      sig2.map(r => (r.getLong(0), r.getLong(4))).toSeq)
  }

  test("typed mapPartitions decode equals the SQL metadata path") {
    val typed = MultimodalOps.decodeMeta(MultimodalOps.mediaRecords(spark, sf))
      .collect().map(m => (m.doc_id, m.byte_len, m.width, m.height, m.n_frames, m.content_sha))
      .sortBy(_._1)
    val sql = MultimodalOps.mediaMeta(spark, sf)
      .select("doc_id", "byte_len", "width", "height", "n_frames", "content_sha")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))
    assert(typed.toSeq === sql.toSeq)
  }

  test("chunk splitting overlaps adjacent chunks and covers the document") {
    val rows = TextOps.chunkSplit(spark, sf, size = 200, overlap = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byDoc = rows.groupBy(_._1)
    val lens = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), length(col("text")).cast("long").as("l"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    byDoc.foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._2).map(_._3)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.takeRight(50) === b.take(50)) // overlap intact
        case _ =>
      }
      // full coverage: advancing 150 per chunk, ending past the doc length
      assert(150L * (sorted.length - 1) + sorted.last.length >= lens(id))
    }
  }

  test("winnowing fingerprints match the plain-Scala model on random strings") {
    import spark.implicits._
    val k = 6; val w = 4
    val rnd = new scala.util.Random(271828L)
    val strings = (0L until 50L).map { id =>
      val len = k + w - 1 + rnd.nextInt(120)
      (id, Array.fill(len)((32 + rnd.nextInt(95)).toChar).mkString) // printable ASCII
    }
    def model(s: String): (Long, Long, Long) = {
      val hs = (0 to s.length - k).map { i =>
        (0 until k).map(j => s(i + j).toLong * math.pow(31, j).toLong).sum
      }
      val fps = hs.sliding(w).map(_.min).toSeq.distinct
      (fps.length.toLong, fps.min, fps.max)
    }
    val got = TextAnalysisOps.winnowFingerprintOn(
        strings.toDF("doc_id", "text"), k, w)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    strings.foreach { case (id, s) => assert(got(id) === model(s), s"doc $id") }
  }

  test("PPM decode path is real: true dimensions and channel means") {
    import spark.implicits._
    import graft.operators.{MediaRecord, MultimodalOps}
    // a valid 4x2 P6 with a header comment: R=10, G=20, B=30 everywhere
    val header = "P6\n# test image\n4 2\n255\n".getBytes("US-ASCII")
    val pixels = Array.fill(8)(Array[Byte](10, 20, 30)).flatten
    val ppm = header ++ pixels
    val records = Seq(
      MediaRecord(1L, ppm, "image/x-portable-pixmap"),
      MediaRecord(2L, "not an image".getBytes("UTF-8"), "text/plain")).toDS
    val meta = MultimodalOps.decodeMetaPpm(records).collect().sortBy(_.doc_id)
    assert(meta(0).width === 4L && meta(0).height === 2L && meta(0).n_frames === 1L)
    // the non-PPM row routed through the labeled stub, not the parser
    assert(meta(1).width === 64L + "not an image".length % 512L)
    val feats = MultimodalOps.meanRgb(records).collect()
    assert(feats.map(_.doc_id).toSeq === Seq(1L)) // non-PPM yields no feature
    val f = feats(0).feature
    assert(math.abs(f(0) - 10f / 255f) < 1e-6 &&
      math.abs(f(1) - 20f / 255f) < 1e-6 && math.abs(f(2) - 30f / 255f) < 1e-6)
    // malformed payloads are rejected, not mis-parsed
    assert(MultimodalOps.parsePpm("P6\n4 2\n255\nxx".getBytes("US-ASCII")).isEmpty)
    assert(MultimodalOps.parsePpm("P5\n4 2\n255\n".getBytes("US-ASCII")).isEmpty)
    // magic must be FOLLOWED by whitespace: "P6123..." is not a PPM, and
    // gluing the digits onto the magic must not yield width=123
    assert(MultimodalOps.parsePpm(
      ("P6123 45 1\n" + "x" * (123 * 45 * 3)).getBytes("US-ASCII")).isEmpty)
  }

  test("tall PPM resize stays index-safe (no Int overflow in the sample walk)") {
    import spark.implicits._
    import graft.operators.{MediaRecord, MultimodalOps}
    // 1 x 300000 source to 1 x 100000: y*sh reaches 3e10 — Int math would
    // go negative around y=7160 and crash the task on a negative index
    val (sw, sh) = (1, 300000)
    val header = s"P6\n$sw $sh\n255\n".getBytes("US-ASCII")
    val payload = header ++ Array.fill(sw * sh * 3)(7.toByte)
    val out = MultimodalOps.resizePpm(
      Seq(MediaRecord(1L, payload, "image/x-portable-pixmap")).toDS, 1, 100000)
      .collect()(0).payload
    val parsed = MultimodalOps.parsePpm(out)
    assert(parsed.isDefined)
    val (w, h, _, off) = parsed.get
    assert(w === 1 && h === 100000)
    assert(out(off) === 7.toByte && out(out.length - 1) === 7.toByte)
  }

  test("audio metadata never carries NOT_SPECIFIED sentinels as measurements") {
    import spark.implicits._
    import graft.operators.{MediaRecord, MultimodalOps}
    // AU header with the legal unknown-data-size marker (0xFFFFFFFF): a
    // reader may claim it while reporting frameLength = -1 — the row must
    // either be dropped or carry real non-negative numbers, never -1
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    dos.writeBytes(".snd"); dos.writeInt(24); dos.writeInt(-1) // size unknown
    dos.writeInt(3); dos.writeInt(8000); dos.writeInt(1)       // 16-bit PCM mono
    (0 until 4000).foreach(i => dos.writeShort(i % 256))
    val rows = MultimodalOps.audioMeta(
      Seq(MediaRecord(1L, bos.toByteArray, "audio/basic")).toDS).collect()
    rows.foreach { m =>
      assert(m.n_samples >= 0L, s"sentinel frame count leaked: $m")
      assert(m.duration_ms >= 0L, s"sentinel duration leaked: $m")
      assert(m.sample_rate > 0L, m.toString)
    }
  }

  test("PPM resize resamples nearest-neighbor and round-trips the format") {
    import spark.implicits._
    import graft.operators.{MediaRecord, MultimodalOps}
    // 4x2, each pixel's red channel encodes its (x, y): r = 10*x + y
    val header = "P6\n4 2\n255\n".getBytes("US-ASCII")
    val pixels = (for (y <- 0 until 2; x <- 0 until 4)
      yield Array((10 * x + y).toByte, 0.toByte, 0.toByte)).flatten.toArray
    val records = Seq(MediaRecord(1L, header ++ pixels, "image/x-portable-pixmap")).toDS
    val out = MultimodalOps.resizePpm(records, 2, 1).collect()(0).payload
    val parsed = MultimodalOps.parsePpm(out)
    assert(parsed.isDefined)
    val (w, h, _, off) = parsed.get
    assert(w === 2 && h === 1)
    // nearest-neighbor: target (0,0) <- source (0,0) r=0; (1,0) <- (2,0) r=20
    assert(out(off) === 0.toByte && out(off + 3) === 20.toByte)
  }

  test("WAV/AIFF audio decode via the JDK: true format, true duration, real signal stats") {
    import spark.implicits._
    import graft.operators.{MediaRecord, MultimodalOps}
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // a 440 Hz sine per channel at the given amplitudes — 16-bit PCM,
    // container-encoded by the JDK's own writers (WAV little-endian,
    // AIFF big-endian)
    def tone(sampleRate: Float, seconds: Double, amps: Seq[Double],
        aiff: Boolean): Array[Byte] = {
      val channels = amps.length
      val frames = (sampleRate * seconds).toInt
      val bytes = new Array[Byte](frames * channels * 2)
      for (i <- 0 until frames; c <- 0 until channels) {
        val v = math.round(amps(c) * 32767.0 *
          math.sin(2 * math.Pi * 440.0 * i / sampleRate)).toInt
        val idx = (i * channels + c) * 2
        if (aiff) { bytes(idx) = ((v >> 8) & 0xFF).toByte; bytes(idx + 1) = (v & 0xFF).toByte }
        else { bytes(idx) = (v & 0xFF).toByte; bytes(idx + 1) = ((v >> 8) & 0xFF).toByte }
      }
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, sampleRate,
        16, channels, channels * 2, sampleRate, aiff)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt, frames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais,
        if (aiff) AudioFileFormat.Type.AIFF else AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val records = Seq(
      MediaRecord(1L, tone(8000f, 0.5, Seq(0.5), aiff = false), "audio/wav"),
      MediaRecord(2L, tone(16000f, 0.25, Seq(0.25, 0.8), aiff = false), "audio/wav"),
      MediaRecord(3L, tone(8000f, 0.5, Seq(0.5), aiff = true), "audio/aiff"),
      MediaRecord(4L, "not audio at all".getBytes("UTF-8"), "text/plain")).toDS
    val meta = MultimodalOps.audioMeta(records).collect().sortBy(_.doc_id)
    // payloads no audio reader claims are dropped, never mis-decoded
    assert(meta.map(_.doc_id).toSeq === Seq(1L, 2L, 3L))
    assert(meta(0).sample_rate === 8000L && meta(0).channels === 1L &&
      meta(0).bits === 16L && meta(0).n_samples === 4000L &&
      meta(0).duration_ms === 500L)
    assert(meta(1).sample_rate === 16000L && meta(1).channels === 2L &&
      meta(1).n_samples === 4000L && meta(1).duration_ms === 250L)
    assert(meta(2).sample_rate === 8000L && meta(2).duration_ms === 500L)
    // signal statistics: a sine at amplitude A has RMS A/√2 and mean ≈ 0 —
    // 0.5 s at 440 Hz is an integral 220 cycles, so both hold tightly
    val feats = MultimodalOps.audioFeatures(records).collect().sortBy(_.doc_id)
    assert(feats.map(_.doc_id).toSeq === Seq(1L, 2L, 3L))
    def close(a: Float, b: Double, tol: Double = 0.01) = math.abs(a - b) < tol
    assert(close(feats(0).rms(0), 0.5 / math.sqrt(2)), feats(0).rms.mkString(","))
    assert(close(feats(0).mean(0), 0.0))
    assert(close(feats(1).rms(0), 0.25 / math.sqrt(2)), feats(1).rms.mkString(","))
    assert(close(feats(1).rms(1), 0.8 / math.sqrt(2)), feats(1).rms.mkString(","))
    assert(close(feats(2).rms(0), 0.5 / math.sqrt(2)), feats(2).rms.mkString(","))
  }

  test("audio fingerprint: gain-invariant bits; near-dup recovers planted volume copies") {
    import spark.implicits._
    import graft.operators.{DedupOps, MediaRecord, MultimodalOps}
    // (1) uniform gain cancels in the band-order bits: a 0.4× re-encode
    // fingerprints within a couple of requantization bits of the original
    val payloads = (0 until 12).map(i => s"doc payload $i with bytes".getBytes("UTF-8"))
    payloads.foreach { p =>
      val wav = MultimodalOps.renderWav(p)
      val fp = MultimodalOps.audioFingerprintOne(wav).get
      val quiet = MultimodalOps.scaleWav(wav, 0.4).get
      val fpQ = MultimodalOps.audioFingerprintOne(quiet).get
      assert(java.lang.Long.bitCount(fp ^ fpQ) <= 2,
        s"volume change moved the fingerprint ${java.lang.Long.bitCount(fp ^ fpQ)} bits")
    }
    // (2) non-audio and too-short payloads are dropped, never mis-hashed
    assert(MultimodalOps.audioFingerprintOne("not audio".getBytes).isEmpty)
    assert(MultimodalOps.audioFingerprintOne(
      MultimodalOps.renderWav(payloads(0), seconds = 0.1)).isEmpty)
    // (3) end-to-end blocked join: planted volume copies come back
    val clips = payloads.zipWithIndex.map { case (p, i) =>
      MediaRecord(i.toLong, MultimodalOps.renderWav(p), "audio/wav")
    }
    val copies = clips.filter(_.doc_id % 3 == 0).map(r =>
      MediaRecord(r.doc_id + 100,
        MultimodalOps.scaleWav(r.payload, 0.4).get, "audio/wav"))
    val pairs = DedupOps.audioNearDupOn((clips ++ copies).toDS, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    clips.filter(_.doc_id % 3 == 0).foreach { r =>
      assert(pairs.contains((r.doc_id, r.doc_id + 100)),
        s"planted volume copy of ${r.doc_id} not recovered")
    }
    // (4) component resolution: a quiet copy of a quiet copy chains to
    // the original's group even though ends may differ by > maxHamming
    val chain = Seq(
      MediaRecord(50L, MultimodalOps.renderWav(payloads(1)), "audio/wav"),
      MediaRecord(51L, MultimodalOps.scaleWav(
        MultimodalOps.renderWav(payloads(1)), 0.5).get, "audio/wav"),
      MediaRecord(52L, MultimodalOps.scaleWav(MultimodalOps.scaleWav(
        MultimodalOps.renderWav(payloads(1)), 0.5).get, 0.5).get, "audio/wav"))
    val comp = DedupOps.audioDedupConnectedOn(chain.toDS, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comp === Map(50L -> 50L, 51L -> 50L, 52L -> 50L),
      s"variant chain must resolve to one group: $comp")
  }

  test("PNG/JPEG decode via the JDK codecs: true dimensions, pixels, and resize") {
    import spark.implicits._
    import graft.operators.{MediaRecord, MultimodalOps}
    def encode(fmt: String, w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    // PNG is lossless: exact dims AND exact channel means survive decode
    val png = encode("png", 5, 3, 0x0A141E) // R=10 G=20 B=30
    val jpg = encode("jpg", 7, 4, 0x808080) // grey survives JPEG well
    val records = Seq(
      MediaRecord(1L, png, "image/png"),
      MediaRecord(2L, jpg, "image/jpeg"),
      MediaRecord(3L, "not an image".getBytes("UTF-8"), "text/plain")).toDS
    val meta = MultimodalOps.decodeMetaPpm(records).collect().sortBy(_.doc_id)
    assert(meta(0).width === 5L && meta(0).height === 3L)
    assert(meta(1).width === 7L && meta(1).height === 4L)
    assert(meta(2).width === 64L + "not an image".length % 512L) // stub fallback
    val feats = MultimodalOps.meanRgb(records).collect().sortBy(_.doc_id)
    assert(feats.map(_.doc_id).toSeq === Seq(1L, 2L)) // unclaimed payload drops
    val f = feats(0).feature
    assert(math.abs(f(0) - 10f / 255f) < 1e-6 &&
      math.abs(f(1) - 20f / 255f) < 1e-6 && math.abs(f(2) - 30f / 255f) < 1e-6)
    assert(feats(1).feature.forall(c => math.abs(c - 128f / 255f) < 0.02f))
    // resize decodes, nearest-neighbor resamples, re-encodes as PNG
    val resized = MultimodalOps.resizePpm(records, 2, 2).collect().sortBy(_.doc_id)
    val back = MultimodalOps.decodeImage(resized(0).payload)
    assert(resized(0).mime === "image/png" && back.isDefined)
    assert(back.get.getWidth === 2 && back.get.getHeight === 2)
    assert((back.get.getRGB(0, 0) & 0xFFFFFF) === 0x0A141E) // lossless round-trip
    assert(resized(2).payload.length === 4) // unclaimed payload → labeled stub
  }

  test("MP4 box walk reports real duration, dimensions, and track count") {
    import spark.implicits._
    import graft.operators.{MediaRecord, MultimodalOps}
    def box(fourcc: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(payload.length + 8)
      bb.putInt(payload.length + 8).put(fourcc.getBytes("US-ASCII")).put(payload)
      bb.array()
    }
    val ftyp = box("ftyp",
      "isom".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0) ++
        "isom".getBytes("US-ASCII"))
    // mvhd version 0: timescale 1000, duration 5400 ticks → 5400 ms
    val mvhdV0 = {
      val bb = java.nio.ByteBuffer.allocate(100)
      bb.putInt(0).putInt(0).putInt(0).putInt(1000).putInt(5400)
      box("mvhd", bb.array())
    }
    // mvhd version 1 (64-bit times): timescale 90000, duration 675000 → 7500 ms
    val mvhdV1 = {
      val bb = java.nio.ByteBuffer.allocate(112)
      bb.putInt(0x01000000).putLong(0L).putLong(0L).putInt(90000).putLong(675000L)
      box("mvhd", bb.array())
    }
    def tkhd(w: Int, h: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(84)
      bb.putInt(0).putInt(0).putInt(0).putInt(1).putInt(0).putInt(5400)
      bb.position(bb.position() + 8 + 2 + 2 + 2 + 2 + 36)
      bb.putInt(w << 16).putInt(h << 16) // 16.16 fixed point
      box("tkhd", bb.array())
    }
    def stsz(samples: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12)
      bb.putInt(0).putInt(0).putInt(samples) // vf, sample_size=0, sample_count
      box("mdia", box("minf", box("stbl", box("stsz", bb.array()))))
    }
    // video 640x360 @ 90 frames + audio track (0x0 dims, 430 samples —
    // must win neither the dims nor the frame count)
    val mp4V0 = ftyp ++ box("moov",
      mvhdV0 ++ box("trak", tkhd(640, 360) ++ stsz(90)) ++
        box("trak", tkhd(0, 0) ++ stsz(430)))
    val mp4V1 = ftyp ++ box("moov", mvhdV1 ++ box("trak", tkhd(1920, 1080)))
    val records = Seq(
      MediaRecord(1L, mp4V0, "video/mp4"),
      MediaRecord(2L, mp4V1, "video/mp4"),
      MediaRecord(3L, "not a video".getBytes("UTF-8"), "text/plain")).toDS
    val meta = MultimodalOps.videoMeta(records).collect().sortBy(_.doc_id)
    assert(meta.map(_.doc_id).toSeq === Seq(1L, 2L)) // unclaimed payload drops
    assert(meta(0).duration_ms === 5400L)
    assert(meta(0).width === 640L && meta(0).height === 360L)
    assert(meta(0).n_frames === 90L) // the VIDEO track's stsz count
    assert(meta(0).n_tracks === 2L)
    assert(meta(1).duration_ms === 7500L) // 64-bit mvhd layout
    assert(meta(1).width === 1920L && meta(1).height === 1080L)
    assert(meta(1).n_frames === 0L) // no sample table present
    assert(meta(1).n_tracks === 1L)
    // truncated container (box size past the payload end) → rejected
    assert(MultimodalOps.parseMp4(mp4V0.dropRight(4)).isEmpty)
    // adversarial nesting: 100k recursively nested container headers must
    // reject at the depth cap, not overflow the stack inside a Spark task
    val depth = 100000
    val bomb = new Array[Byte](8 * depth)
    val moovTag = "moov".getBytes("US-ASCII")
    (0 until depth).foreach { lvl =>
      val remaining = 8 * (depth - lvl)
      val bb = java.nio.ByteBuffer.wrap(bomb, 8 * lvl, 8)
      bb.putInt(remaining).put(moovTag)
    }
    assert(MultimodalOps.parseMp4(ftyp ++ bomb).isEmpty)
    // a truncated LEAF box (stsz missing its sample_count) must reject the
    // container, never read a sibling box's bytes as the frame count
    val badStsz = ftyp ++ box("moov", mvhdV0 ++ box("trak",
      tkhd(640, 360) ++ box("mdia", box("minf", box("stbl",
        box("stsz", Array[Byte](0, 0, 0, 0, 0, 0, 0, 0)) ++
          box("free", Array.fill(8)(0.toByte)))))))
    assert(MultimodalOps.parseMp4(badStsz).isEmpty)
  }

  test("batch sessionizer agrees with Spark's native session_window") {
    // Two independent formulations of 30-minute-gap sessions must produce
    // identical (user, start, end, n) tuples. Controlled corpus: the lag
    // chain splits on SECOND-truncated diff > 1800 while session_window
    // splits on exact micros >= 1800 s, so gaps sit clearly on one side
    // of the boundary (<= 29m59s merge, >= 31m split) — where the two
    // semantics provably coincide; a fixture regeneration can't trip it.
    import spark.implicits._
    val base = 1700000000L * 1000000L // epoch micros, with sub-second offsets below
    def ev(id: Long, user: Long, offsetMicros: Long) =
      (id, (base + offsetMicros) * 1000L, user, "click", 1.0, "{}")
    val events = Seq(
      ev(1, 1, 0L), ev(2, 1, 600L * 1000000), // +10m: merge
      ev(3, 1, 600L * 1000000 + 1799500000L), // +29m59.5s: merge both ways
      ev(4, 1, 600L * 1000000 + 1799500000L + 1860L * 1000000), // +31m: split
      ev(5, 2, 300500000L), // lone event, sub-second offset
      ev(6, 3, 0L), ev(7, 3, 7200L * 1000000) // +2h: split
    )
    val tmp = java.nio.file.Files.createTempDirectory("graft_sess").toFile
    try {
      events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(tmp.getPath + "/events.parquet")
      val ours = EventOps.sessionize(spark, tmp.getPath)
        .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
        .toSet
      val native = graft.sources.Tables.events(spark, tmp.getPath)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), min(col("ts")).as("s"), max(col("ts")).as("e"))
        .select(col("user_id"), col("s"), col("e"), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
        .toSet
      assert(ours === native)
      assert(ours.size === 5) // u1: 2 sessions, u2: 1, u3: 2
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("multimodal resize/frame-sample/feature stubs keep shapes and determinism") {
    val recs = MultimodalOps.mediaRecords(spark, sf)
    val resized = MultimodalOps.resize(recs, 8, 8).collect()
    assert(resized.length === recs.count())
    resized.foreach(r => assert(r.payload.length === 64))
    val frames = MultimodalOps.sampleFrames(recs, everyN = 2).collect()
    val metaFrames = MultimodalOps.decodeMeta(recs).collect()
      .map(m => m.doc_id -> m.n_frames).toMap
    val byDoc = frames.groupBy(_.doc_id)
    byDoc.foreach { case (id, fs) =>
      assert(fs.length === ((metaFrames(id) + 1) / 2)) // ceil(n_frames / 2)
      assert(fs.map(_.frame_idx).sorted.toSeq === fs.map(_.frame_idx).toSeq.sorted)
    }
    val f1 = MultimodalOps.featureExtract(recs, dim = 16).collect()
      .map(f => f.doc_id -> f.feature.toSeq).toMap
    val f2 = MultimodalOps.featureExtract(recs, dim = 16).collect()
      .map(f => f.doc_id -> f.feature.toSeq).toMap
    assert(f1 === f2)
    f1.values.foreach(v => assert(v.length === 16 && v.forall(_ >= 0.0f)))
  }

  test("NSW graph knn recalls the exact top-k on the fixture, deterministically") {
    // nodes-per-partition ≈ m keeps the graphs essentially unpruned, so an
    // efSearch ≥ nodes beam is exhaustive and fixture recall is exact
    val nsw = GraphAnnOps.topKNsw(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exact = KnnOps.topK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(nsw.map(_._1).toSeq === exact.map(_._1).toSeq)
    nsw.zip(exact).foreach { case ((_, s1), (_, s2)) =>
      assert(math.abs(s1 - s2) < 1e-6)
    }
    val again = GraphAnnOps.topKNsw(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(again.toSeq === nsw.toSeq)
    // the index artifact itself: one graph per non-empty partition, every
    // node within degree bounds after pruning
    val graphs = GraphAnnOps.buildGraphs(
      graft.sources.Tables.embeddings(spark, sf)
        .repartition(8, col("vec_id"))).collect()
    assert(graphs.nonEmpty && graphs.length <= 8)
    graphs.foreach { g =>
      val degrees = (0 until g.n).map(i => g.adjOff(i + 1) - g.adjOff(i))
      assert(degrees.forall(d => d >= 1 || g.n == 1), s"isolated node in part ${g.part}")
      assert(degrees.forall(_ <= 16 + 1), s"degree bound violated in part ${g.part}")
    }
  }

  test("stored NSW collection answers queries without rebuilding") {
    import graft.sources.{CatalogOps, Tables}
    CatalogOps.dropDatabase(spark, "nswdb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/nswdb.db"))
    CatalogOps.createDatabase(spark, "nswdb")
    val emb = Tables.embeddings(spark, sf)
    CatalogOps.createNswCollection(spark, "nswdb", "emb_nsw",
      emb.filter(col("vec_id") =!= 0L))
    val qVec = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Double](0).toArray
    val stored = GraphAnnOps.searchStored(spark, "nswdb", "emb_nsw", qVec)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exact = KnnOps.topK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(stored.map(_._1).toSeq === exact.map(_._1).toSeq)
    stored.zip(exact).foreach { case ((_, s1), (_, s2)) =>
      assert(math.abs(s1 - s2) < 1e-6)
    }
    CatalogOps.dropDatabase(spark, "nswdb")
  }

  test("NSW upsert rebuilds only the touched partition graphs") {
    import graft.sources.{CatalogOps, Tables}
    import spark.implicits._
    CatalogOps.dropDatabase(spark, "nswupdb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/nswupdb.db"))
    CatalogOps.createDatabase(spark, "nswupdb")
    val emb = Tables.embeddings(spark, sf)
    CatalogOps.createNswCollection(spark, "nswupdb", "emb_nsw", emb, shards = 8)
    val beforeIds = spark.table("`nswupdb`.`emb_nsw`")
      .select(explode(col("ids")).as("id")).collect().map(_.getLong(0)).toSet
    // batch: move id 1 onto id 2's vector, and insert a brand-new id
    val v2 = emb.filter(col("vec_id") === 2L)
      .select(col("embedding")).head().getSeq[Double](0)
    val batch = Seq((1L, v2), (777777L, v2.map(_ * -1.0))).toDF("vec_id", "embedding")
    val touched = batch.select(pmod(hash(col("vec_id")), lit(8)).as("p"))
      .collect().map(_.getInt(0)).toSet
    val untouchedPart = (0 until 8).find(p => !touched.contains(p)).get
    val tableDir = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath + "/nswupdb.db/emb_nsw")
    def files(p: Int): Set[(String, Long)] =
      new java.io.File(tableDir, s"part=$p").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    val keepBefore = files(untouchedPart)
    assert(keepBefore.nonEmpty)
    CatalogOps.upsertNsw(spark, "nswupdb", "emb_nsw", batch)
    assert(files(untouchedPart) === keepBefore) // untouched graphs intact
    val afterIds = spark.table("`nswupdb`.`emb_nsw`")
      .select(explode(col("ids")).as("id")).collect().map(_.getLong(0)).toSeq
    assert(afterIds.toSet === beforeIds + 777777L) // one insert, no id lost
    assert(afterIds.distinct.length === afterIds.length) // ...or duplicated
    // the rebuilt graphs serve the new vectors: the inserted id is its own
    // nearest neighbor, and the moved id now scores 1.0 against id 2's vector
    val hitNew = GraphAnnOps.searchStored(spark, "nswupdb", "emb_nsw",
      v2.map(_ * -1.0).toArray, k = 1).head()
    assert(hitNew.getLong(0) === 777777L && hitNew.getDouble(1) === 1.0)
    val hitMoved = GraphAnnOps.searchStored(spark, "nswupdb", "emb_nsw",
      v2.toArray, k = 3).collect().map(_.getLong(0)).toSet
    assert(hitMoved.contains(1L) && hitMoved.contains(2L))
    CatalogOps.dropDatabase(spark, "nswupdb")
  }

  test("NSW upsert dispatch: small new-id batches insert in place, updates and forced mode rebuild") {
    import graft.sources.{CatalogOps, Tables}
    import spark.implicits._
    CatalogOps.dropDatabase(spark, "nswinsdb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/nswinsdb.db"))
    CatalogOps.createDatabase(spark, "nswinsdb")
    val emb = Tables.embeddings(spark, sf)
    CatalogOps.createNswCollection(spark, "nswinsdb", "emb_nsw", emb, shards = 4)
    // a NEGATIVE id sorts before every stored id: an in-place insert
    // APPENDS it to the graph's id array, a rebuild would put it first —
    // the stored order is the witness for which path ran
    val newId = -5L
    val v = emb.filter(col("vec_id") === 3L)
      .select(col("embedding")).head().getSeq[Double](0)
    val newVec = v.map(_ * 0.5) // same direction: cosine 1.0 against v
    val part = Seq(newId).toDF("id")
      .select(pmod(hash(col("id").cast("long")), lit(4))).head().getInt(0)
    def partIds(): Seq[Long] = spark.table("`nswinsdb`.`emb_nsw`")
      .filter(col("part") === part).select(col("ids")).head().getSeq[Long](0)
    CatalogOps.upsertNsw(spark, "nswinsdb", "emb_nsw",
      Seq((newId, newVec)).toDF("vec_id", "embedding"))
    val afterInsert = partIds()
    assert(afterInsert.last === newId, "small new-id batch must take the in-place insert path")
    assert(afterInsert.count(_ == newId) === 1)
    // the incrementally-grown graph serves the new vector
    val hit = GraphAnnOps.searchStored(spark, "nswinsdb", "emb_nsw",
      newVec.toArray, k = 2).collect().map(_.getLong(0))
    assert(hit.contains(newId) && hit.contains(3L))
    // updating the id (same batch shape, id now stored) must REBUILD: a
    // stale node's links cannot survive, and the rebuild restores the
    // canonical ascending-id insertion order
    CatalogOps.upsertNsw(spark, "nswinsdb", "emb_nsw",
      Seq((newId, v.map(_ * -1.0))).toDF("vec_id", "embedding"))
    val afterUpdate = partIds()
    assert(afterUpdate.head === newId, "update path must rebuild in ascending-id order")
    assert(afterUpdate === afterUpdate.sorted)
    val hitNeg = GraphAnnOps.searchStored(spark, "nswinsdb", "emb_nsw",
      v.map(_ * -1.0).toArray, k = 1).head()
    assert(hitNeg.getLong(0) === newId && hitNeg.getDouble(1) === 1.0)
    // insertFrac = 0 forces the rebuild path even for a fresh id
    CatalogOps.upsertNsw(spark, "nswinsdb", "emb_nsw",
      Seq((-7L, newVec)).toDF("vec_id", "embedding"), insertFrac = 0.0)
    val p7 = Seq(-7L).toDF("id")
      .select(pmod(hash(col("id").cast("long")), lit(4))).head().getInt(0)
    val ids7 = spark.table("`nswinsdb`.`emb_nsw`")
      .filter(col("part") === p7).select(col("ids")).head().getSeq[Long](0)
    assert(ids7 === ids7.sorted, "insertFrac=0 must force a full rebuild")
    assert(ids7.contains(-7L))
    CatalogOps.dropDatabase(spark, "nswinsdb")
  }

  test("NSW in-place insert matches a from-scratch build's results on planted clusters") {
    import graft.sources.CatalogOps
    import spark.implicits._
    Seq("nswca", "nswcb").foreach { db =>
      CatalogOps.dropDatabase(spark, db)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
        new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + s"/$db.db"))
      CatalogOps.createDatabase(spark, db)
    }
    val rnd = new scala.util.Random(4242L)
    val dim = 8
    def clusterVec(c: Int): Seq[Double] =
      Seq.tabulate(dim)(i => (if (i % 4 == c) 1.0 else 0.05) + rnd.nextDouble() * 0.05)
    val base = (0 until 160).map(i => (i.toLong, clusterVec(i % 4)))
    val extra = (0 until 8).map(i => (1000L + i, clusterVec(i % 4)))
    // A: create on the base, then in-place insert the extras (4 shards ×
    // ~40 nodes; ≤ 2 new rows per shard — well under the insert threshold)
    CatalogOps.createNswCollection(spark, "nswca", "emb_nsw",
      base.toDF("vec_id", "embedding"), shards = 4)
    CatalogOps.upsertNsw(spark, "nswca", "emb_nsw", extra.toDF("vec_id", "embedding"))
    // verify A actually took the insert path (extras appended, not sorted in)
    val appended = spark.table("`nswca`.`emb_nsw`").select(col("ids")).collect()
      .map(_.getSeq[Long](0)).filter(_.exists(_ >= 1000L))
    assert(appended.nonEmpty && appended.forall(ids => ids.last >= 1000L))
    // B: one from-scratch build over the union
    CatalogOps.createNswCollection(spark, "nswcb", "emb_nsw",
      (base ++ extra).toDF("vec_id", "embedding"), shards = 4)
    // every cluster centroid query returns the same neighbors from both —
    // and both equal the brute-force exact ranking
    val all = (base ++ extra).toMap
    (0 until 4).foreach { c =>
      val q = Seq.tabulate(dim)(i => if (i % 4 == c) 1.0 else 0.05)
      def cos(v: Seq[Double]): Double = {
        val ab = v.zip(q).map { case (x, y) => x * y }.sum
        ab / (math.sqrt(v.map(x => x * x).sum) * math.sqrt(q.map(x => x * x).sum))
      }
      val want = all.toSeq.map { case (id, v) => (id, cos(v)) }
        .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
      val gotA = GraphAnnOps.searchStored(spark, "nswca", "emb_nsw",
        q.toArray, k = 5, efSearch = 200).collect().map(_.getLong(0)).toSeq
      val gotB = GraphAnnOps.searchStored(spark, "nswcb", "emb_nsw",
        q.toArray, k = 5, efSearch = 200).collect().map(_.getLong(0)).toSeq
      assert(gotA === want, s"cluster $c: insert-path collection diverged from exact")
      assert(gotB === want, s"cluster $c: rebuilt collection diverged from exact")
    }
    Seq("nswca", "nswcb").foreach(db => CatalogOps.dropDatabase(spark, db))
  }

  test("IVF probe retrieval recalls the exact top-k on the fixture") {
    val exact = KnnOps.topK(spark, sf, queryId = 0L, k = 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val ivfRows = KnnOps.topKIvf(spark, sf, queryId = 0L, k = 3, nprobe = 3).collect()
    assert(ivfRows.length === 3)
    val scores = ivfRows.map(_.getDouble(2))
    assert(scores.sameElements(scores.sorted.reverse)) // best-first
    assert(ivfRows.map(_.getInt(1)).distinct.length <= 3) // ≤ nprobe cells scanned
    // Recall at nprobe=3/10 is data-dependent; the fixture's embeddings
    // cluster only weakly by label, pinning it at 1/3 (deterministic).
    assert((exact intersect ivfRows.map(_.getLong(0)).toSet).size >= 1)
    val ivfAll = KnnOps.topKIvf(spark, sf, queryId = 0L, k = 3, nprobe = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ivfAll === exact) // probing every cell = exact search
  }

  test("k-means IVF: probing every cell reproduces exact knn; result deterministic") {
    val exact = KnnOps.topK(spark, sf, queryId = 0L, k = 3)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val allCells = KnnOps.topKIvfKmeans(spark, sf, queryId = 0L, k = 3,
      kCells = 4, nprobe = 4, iters = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(allCells === exact) // probing every cell = exact search
    val r1 = KnnOps.topKIvfKmeans(spark, sf, queryId = 0L, k = 3).collect()
    val r2 = KnnOps.topKIvfKmeans(spark, sf, queryId = 0L, k = 3).collect()
    assert(r1.map(_.toSeq).toSeq === r2.map(_.toSeq).toSeq) // seeded training
    assert(r1.length === 3)
  }

  test("int8 quantization bounds the code range and reconstruction error") {
    val rows = KnnOps.quantize(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = r.getDouble(1); val qmin = r.getLong(2)
      val qmax = r.getLong(3); val err = r.getDouble(4)
      assert(scale > 0.0)
      assert(qmin >= -127L && qmax <= 127L)
      assert(qmax >= qmin)
      // per-element rounding error ≤ 0.5/scale ⇒ ‖err‖₂ ≤ √dim · 0.5/scale
      assert(err <= math.sqrt(64.0) * 0.5 / scale * 1.001 + 1e-9)
    }
  }

  test("vec_sum_count centroids equal the posexplode positional-avg formulation") {
    import graft.sources.Tables
    val fast = KnnOps.centroids(spark, sf)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    val reference = Tables.embeddings(spark, sf)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("v")), 6).as("centroid_v"))
      .orderBy(col("label").asc, col("pos").asc)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    assert(fast.toSeq === reference.toSeq)
  }

  test("vec_sum_count fails loudly on ragged vector dimensions") {
    import spark.implicits._
    val ragged = Seq((1, Seq(1.0, 2.0)), (1, Seq(1.0, 2.0, 3.0))).toDF("label", "embedding")
      .select(col("label"), col("embedding").cast("array<double>").as("embedding"))
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    val agg = toCol(graft.plans.VecSumCount(toExpr(col("embedding"))).toAggregateExpression())
    val ex = intercept[Exception] {
      ragged.coalesce(1).groupBy(col("label")).agg(agg.as("sc")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("dimension mismatch")))
  }

  test("LSH similarity join is graceful on an empty corpus") {
    import graft.sources.Tables
    val empty = Tables.embeddings(spark, sf).filter(col("vec_id") < 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_empty").toFile
    try {
      empty.write.mode("overwrite").parquet(tmp.getPath + "/embeddings.parquet")
      val out = KnnOps.simJoinLsh(spark, tmp.getPath)
      assert(out.count() === 0)
      assert(out.columns.toSeq === Seq("a_id", "b_id", "score"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("reference pipeline composes end-to-end through the catalog") {
    import graft.sources.{CatalogOps, Tables}
    CatalogOps.dropDatabase(spark, "ragdb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/ragdb.db"))
    CatalogOps.createDatabase(spark, "ragdb")
    // ingest: vector collection with materialized unit vectors (index build)
    CatalogOps.createVectorCollection(spark, "ragdb", "kb",
      Tables.embeddings(spark, sf))
    // query path: prenormed one-dot retrieval over the stored collection...
    val hits = KnnOps.topKPrenormed(spark.table("`ragdb`.`kb`"), queryId = 0L, k = 3)
    // ...must retrieve the same documents as the raw-parquet exact plan
    val exactIds = KnnOps.topK(spark, sf, queryId = 0L, k = 3)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val hitIds = hits.select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(hitIds === exactIds)
    // answer shaping: payload join + citation block over the retrieved ids
    val answer = hits.join(Tables.documents(spark, sf),
        hits("vec_id") === col("doc_id"))
      .agg(concat(lit("参考链接："),
        array_join(sort_array(collect_list(
          concat(lit("\n\n"), col("source"), lit("     "), col("doc_id")))), ""))
        .as("citations"))
      .collect()(0).getString(0)
    assert(answer.startsWith("参考链接："))
    exactIds.foreach(id => assert(answer.contains(id.toString)))
    CatalogOps.dropDatabase(spark, "ragdb")
  }

  test("catalog lifecycle: create, load, upsert-by-id, drop") {
    import graft.sources.{CatalogOps, Tables}
    import org.apache.spark.sql.functions._
    // Clear leftovers from any previously interrupted run (the in-memory
    // catalog forgets tables on restart but their files persist).
    CatalogOps.dropDatabase(spark, "graftdb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/graftdb.db"))
    CatalogOps.createDatabase(spark, "graftdb")
    assert(CatalogOps.listDatabases(spark).collect().map(_.getString(0)).contains("graftdb"))
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 10)
    CatalogOps.createCollection(spark, "graftdb", "docs", docs, shards = 3)
    assert(spark.table("`graftdb`.`docs`").count() === 10)
    val batch = docs.filter(col("doc_id") < 3).withColumn("text", lit("UPDATED"))
    CatalogOps.upsert(spark, "graftdb", "docs", batch, "doc_id")
    val after = spark.table("`graftdb`.`docs`")
    assert(after.count() === 10) // overwrite-by-id, not append
    assert(after.filter(col("text") === "UPDATED").count() === 3)
    CatalogOps.dropCollection(spark, "graftdb", "docs")
    CatalogOps.dropDatabase(spark, "graftdb")
    assert(!CatalogOps.listDatabases(spark).collect().map(_.getString(0)).contains("graftdb"))
  }

  test("partition-scoped upsert rewrites only the touched partitions") {
    import graft.sources.{CatalogOps, Tables}
    CatalogOps.dropDatabase(spark, "pupdb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/pupdb.db"))
    CatalogOps.createDatabase(spark, "pupdb")
    CatalogOps.createPartitionedCollection(spark, "pupdb", "docs_p",
      Tables.documents(spark, sf).select(col("doc_id"), col("text"), col("lang")), "lang")
    val tableDir = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath + "/pupdb.db/docs_p")
    def partFiles(lang: String): Set[(String, Long)] = {
      val d = new java.io.File(tableDir, s"lang=$lang")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val langs = spark.table("`pupdb`.`docs_p`").select("lang").distinct()
      .collect().map(_.getString(0)).sorted
    assert(langs.length >= 2, langs.mkString(","))
    val (touchLang, keepLang) = (langs.head, langs.last)
    val keepBefore = partFiles(keepLang)
    val before = spark.table("`pupdb`.`docs_p`").count()
    val batchIds = Tables.documents(spark, sf)
      .filter(col("lang") === touchLang).limit(3)
      .select(col("doc_id")).collect().map(_.getLong(0))
    import spark.implicits._
    val batch = batchIds.toSeq.map(id => (id, "PUPDATED", touchLang))
      .toDF("doc_id", "text", "lang")
    CatalogOps.upsertPartitioned(spark, "pupdb", "docs_p", batch, "doc_id", "lang")
    val after = spark.table("`pupdb`.`docs_p`")
    assert(after.count() === before) // overwrite-by-id, not append
    assert(after.filter(col("text") === "PUPDATED").count() === batchIds.length)
    assert(partFiles(keepLang) === keepBefore) // untouched partition intact
    // a batch with an unseen partition value creates that partition
    val fresh = Seq((999999L, "NEWDOC", "zz")).toDF("doc_id", "text", "lang")
    CatalogOps.upsertPartitioned(spark, "pupdb", "docs_p", fresh, "doc_id", "lang")
    assert(spark.table("`pupdb`.`docs_p`").filter(col("lang") === "zz").count() === 1)
    assert(partFiles(keepLang) === keepBefore) // still untouched
    // a batch row that MOVES an id to another partition must erase the old
    // copy (and drop the partition the move emptied) — without the
    // old-partition sweep the table would serve doc 999999 twice
    val moved = Seq((999999L, "MOVED", "zy")).toDF("doc_id", "text", "lang")
    CatalogOps.upsertPartitioned(spark, "pupdb", "docs_p", moved, "doc_id", "lang")
    val rows999 = spark.table("`pupdb`.`docs_p`")
      .filter(col("doc_id") === 999999L).collect()
    assert(rows999.length === 1, rows999.mkString(";"))
    assert(rows999(0).getAs[String]("lang") === "zy")
    assert(spark.table("`pupdb`.`docs_p`").filter(col("lang") === "zz").count() === 0)
    CatalogOps.dropDatabase(spark, "pupdb")
  }

  test("moved-id sweep prunes to the id column and pushes the batch id range; stable partitioning skips it") {
    import graft.sources.{CatalogOps, Tables}
    import spark.implicits._
    CatalogOps.dropDatabase(spark, "swpdb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/swpdb.db"))
    CatalogOps.createDatabase(spark, "swpdb")
    CatalogOps.createPartitionedCollection(spark, "swpdb", "docs_s",
      Tables.documents(spark, sf).select(col("doc_id"), col("text"), col("lang")), "lang")
    val stored = spark.table("`swpdb`.`docs_s`")
      .filter(col("doc_id").isin(3L, 7L))
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val batch = Seq((3L, "SWEEP1", stored(3L)), (7L, "SWEEP2", stored(7L)))
      .toDF("doc_id", "text", "lang")
    // the sweep is NOT a full-table read: only doc_id comes off disk (lang
    // is a partition column) and the batch's id range reaches the footer,
    // so row groups outside [3, 7] are stats-skipped
    val sweep = CatalogOps.oldPartitionsOf(spark, "swpdb", "docs_s", batch, "doc_id", "lang")
    val p = sweep.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("GreaterThanOrEqual(doc_id,3)"), p)
    assert(p.contains("LessThanOrEqual(doc_id,7)"), p)
    assert(p.linesIterator.exists(l =>
      l.trim.startsWith("ReadSchema") && l.contains("struct<doc_id:bigint>")), p)
    assert(sweep.collect().map(_.getString(0)).toSet === batch.select("lang")
      .collect().map(_.getString(0)).toSet)
    // stablePartitioning=true (partition value is a function of the id by
    // caller contract): the sweep is skipped and the upsert result is
    // identical to the default path for a non-moving batch
    CatalogOps.upsertPartitioned(spark, "swpdb", "docs_s", batch, "doc_id", "lang",
      stablePartitioning = true)
    val after = spark.table("`swpdb`.`docs_s`")
    assert(after.filter(col("text").startsWith("SWEEP")).count() === 2)
    assert(after.filter(col("doc_id").isin(3L, 7L)).count() === 2) // no duplicates
    // an EMPTY batch is a no-op, not a crash: the sweep's min/max bounds
    // are null, the range filter keeps nothing, no partition rewrites
    val before = after.count()
    CatalogOps.upsertPartitioned(spark, "swpdb", "docs_s",
      batch.filter(col("doc_id") < 0), "doc_id", "lang")
    assert(spark.table("`swpdb`.`docs_s`").count() === before)
    CatalogOps.dropDatabase(spark, "swpdb")
  }

  test("hot-bucket guard drops only boilerplate-cluster minhash pairs") {
    import spark.implicits._
    // 40 unrelated docs (unique vocabularies), 2 planted near-dup pairs,
    // and a 300-doc boilerplate cluster: 100 shared tokens + 1 unique each
    // (j ≈ 0.98 inside the cluster) — near-identical signatures put the
    // whole cluster into the same band buckets, the web-corpus pathology
    // the guard exists for. Vocabulary >> 64 forces the general path.
    val normal = (0 until 40).map(i => (i.toLong, (0 until 10).map(j => s"n${i}_t$j").mkString(" ")))
    val planted = Seq(
      (900L, ((0 until 20).map(j => s"p0_$j") :+ "p0_a").mkString(" ")),
      (901L, ((0 until 20).map(j => s"p0_$j") :+ "p0_b").mkString(" ")),
      (902L, ((0 until 20).map(j => s"p1_$j") :+ "p1_a").mkString(" ")),
      (903L, ((0 until 20).map(j => s"p1_$j") :+ "p1_b").mkString(" ")))
    val base = (0 until 100).map(j => s"boiler_$j").mkString(" ")
    val cluster = (0 until 300).map(i => (1000L + i, s"$base u$i"))
    val docs = (normal ++ planted ++ cluster).toDF("doc_id", "text")
    val tau = 0.9 // planted pairs: j = 20/22 ≈ 0.909
    def pairs(cap: Int): Set[(Long, Long)] =
      DedupOps.minHashLshPairsOn(docs, tau, cap)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unCapped = pairs(0)
    val capped = pairs(50)
    val plantedPairs = Set((900L, 901L), (902L, 903L))
    // uncapped: the cluster contributes C(300,2) pairs — the quadratic blowup
    assert(unCapped.size >= 300 * 299 / 2, s"got ${unCapped.size}")
    assert(plantedPairs.subsetOf(unCapped))
    // capped: bounded output, planted pairs intact, and the ONLY losses are
    // cluster-internal pairs (both sides inside the oversized buckets)
    assert(capped.size < 1000, s"got ${capped.size}")
    assert(plantedPairs.subsetOf(capped))
    val lost = unCapped -- capped
    assert(lost.nonEmpty && lost.forall { case (a, b) => a >= 1000L && b >= 1000L })
    // survivors variant: same surgical contract — non-cluster survivors equal
    val survU = DedupOps.minHashLshOn(docs, tau, 0)
      .collect().map(_.getLong(0)).toSet
    val survC = DedupOps.minHashLshOn(docs, tau, 50)
      .collect().map(_.getLong(0)).toSet
    assert(survU.filter(_ < 1000L) === survC.filter(_ < 1000L))
  }

  test("hot-bucket guard drops only the degenerate vector cluster in LSH sim-join") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(424242L)
    def randVec(): Seq[Double] = Seq.fill(dim)(rnd.nextGaussian())
    val normals = (0 until 50).map(i => (i.toLong, randVec()))
    // planted near-dup pair among the normals (cosine ≈ 1)
    val v = randVec()
    val pair = Seq((900L, v), (901L, v.map(_ * 1.0000001)))
    // 200 EXACTLY identical vectors: every band bucket of the cluster has
    // 200 rows — deterministically hot at cap=30
    val cv = randVec()
    val cluster = (0 until 200).map(i => (1000L + i, cv))
    val tmp = java.nio.file.Files.createTempDirectory("graft_hot").toFile
    try {
      (normals ++ pair ++ cluster).toDF("vec_id", "embedding")
        .withColumn("label", lit(0))
        .write.mode("overwrite").parquet(tmp.getPath + "/embeddings.parquet")
      def pairs(cap: Int): Set[(Long, Long)] =
        KnnOps.simJoinLsh(spark, tmp.getPath, threshold = 0.8, maxBucket = cap)
          .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val unCapped = pairs(0)
      val capped = pairs(30)
      assert(unCapped.size >= 200 * 199 / 2, s"got ${unCapped.size}")
      assert(unCapped.contains((900L, 901L)))
      assert(capped.contains((900L, 901L)))
      val lost = unCapped -- capped
      assert(lost.nonEmpty && lost.forall { case (a, b) => a >= 1000L && b >= 1000L })
      // everything outside the degenerate cluster is untouched
      assert(capped.filter { case (a, b) => a < 1000L && b < 1000L } ===
        unCapped.filter { case (a, b) => a < 1000L && b < 1000L })
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("partition-pruned IVF probe equals the in-query kmeans IVF") {
    import graft.sources.{CatalogOps, Tables}
    CatalogOps.dropDatabase(spark, "ivfdb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/ivfdb.db"))
    CatalogOps.createDatabase(spark, "ivfdb")
    CatalogOps.createIvfCollection(spark, "ivfdb", "emb_ivf",
      Tables.embeddings(spark, sf))
    // the collection landed as one directory per cell
    val tableDir = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath + "/ivfdb.db/emb_ivf")
    val cellDirs = tableDir.listFiles().filter(_.getName.startsWith("cell=")).map(_.getName)
    assert(cellDirs.nonEmpty && cellDirs.length <= 8, cellDirs.mkString(","))
    // identical training data + deterministic kmeans → identical probe result
    val part = KnnOps.topKIvfPartitioned(spark, "ivfdb", "emb_ivf")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val kmeans = KnnOps.topKIvfKmeans(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(part === kmeans)
    // the e2e contract entry runs the same build-then-probe
    val e2e = KnnOps.topKIvfPartitionedE2E(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(e2e === kmeans)
    CatalogOps.dropDatabase(spark, "ivfdb")
  }

  test("IVF upsert rewrites only moved-into and moved-out-of cell partitions") {
    import graft.sources.{CatalogOps, Tables}
    CatalogOps.dropDatabase(spark, "ivfupdb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/ivfupdb.db"))
    CatalogOps.createDatabase(spark, "ivfupdb")
    val cents = CatalogOps.createIvfCollection(spark, "ivfupdb", "emb_ivf",
      Tables.embeddings(spark, sf))
    val dim = cents.length / 8
    val coll = spark.table("`ivfupdb`.`emb_ivf`")
    val before = coll.count()
    // move one stored id into a DIFFERENT cell by rewriting its vector to
    // that cell's own centroid (nearest to itself by construction)
    val victim = coll.select(col("vec_id"), col("cell")).orderBy(col("vec_id")).head()
    val (vid, oldCell) = (victim.getLong(0), victim.getInt(1))
    val newCell = (oldCell + 1) % 8
    val target = cents.slice(newCell * dim, (newCell + 1) * dim).toSeq
    import spark.implicits._
    val batch = Seq((vid, 0, target), (999999L, 0, target))
      .toDF("vec_id", "label", "embedding")
    // a cell neither moved out of nor into must keep its files untouched
    val tableDir = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath + "/ivfupdb.db/emb_ivf")
    def files(cell: Int): Set[(String, Long)] = {
      val d = new java.io.File(tableDir, s"cell=$cell")
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val untouchedCell = (0 until 8).find(c => c != oldCell && c != newCell).get
    val keepBefore = files(untouchedCell)
    assert(keepBefore.nonEmpty)
    CatalogOps.upsertIvf(spark, "ivfupdb", "emb_ivf", batch)
    val after = spark.table("`ivfupdb`.`emb_ivf`")
    assert(after.count() === before + 1) // one update + one insert
    assert(after.groupBy(col("vec_id")).count().filter(col("count") > 1).count() === 0)
    // both batch rows landed in the model-derived cell
    assert(after.filter(col("vec_id").isin(vid, 999999L))
      .select(col("cell")).collect().map(_.getInt(0)).toSeq === Seq(newCell, newCell))
    assert(files(untouchedCell) === keepBefore)
  }

  test("IVF upsert drops a cell partition emptied by a move") {
    import graft.sources.CatalogOps
    import spark.implicits._
    CatalogOps.dropDatabase(spark, "ivfmvdb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/ivfmvdb.db"))
    CatalogOps.createDatabase(spark, "ivfmvdb")
    // hand-built 2-cell collection: cell 0 holds exactly one row
    Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0))).toDF("cell", "centroid")
      .write.saveAsTable("`ivfmvdb`.`tiny__model`")
    Seq((1L, Seq(1.0, 0.0), 0), (2L, Seq(0.0, 1.0), 1), (3L, Seq(0.0, 0.9), 1))
      .toDF("vec_id", "embedding", "cell")
      .write.partitionBy("cell").saveAsTable("`ivfmvdb`.`tiny`")
    // the only cell-0 row moves to cell 1
    CatalogOps.upsertIvf(spark, "ivfmvdb", "tiny", Seq((1L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding"))
    val after = spark.table("`ivfmvdb`.`tiny`")
    assert(after.count() === 3)
    assert(after.filter(col("cell") === 0).count() === 0) // no stale copy
    assert(after.filter(col("vec_id") === 1L).select(col("cell")).head().getInt(0) === 1)
    val parts = spark.sql("SHOW PARTITIONS `ivfmvdb`.`tiny`")
      .collect().map(_.getString(0)).toSeq
    assert(!parts.contains("cell=0"), parts.mkString(","))
    CatalogOps.dropDatabase(spark, "ivfmvdb")
  }

  test("chunking rejects degenerate parameters") {
    intercept[IllegalArgumentException] {
      TextOps.chunkSplit(spark, sf, size = 50, overlap = 50)
    }
  }

  test("prenormed knn over a materialized vector collection equals exact knn") {
    import graft.sources.{CatalogOps, Tables}
    CatalogOps.dropDatabase(spark, "vecdb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/vecdb.db"))
    CatalogOps.createDatabase(spark, "vecdb")
    CatalogOps.createVectorCollection(spark, "vecdb", "emb_v",
      Tables.embeddings(spark, sf))
    val unitized = spark.table("`vecdb`.`emb_v`")
    // the materialized norm reconstructs the original scale
    assert(unitized.filter(col("norm") <= 0.0).count() === 0)
    val pre = KnnOps.topKPrenormed(unitized, queryId = 0L, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exact = KnnOps.topK(spark, sf, queryId = 0L, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(pre.map(_._1).toSeq === exact.map(_._1).toSeq)
    pre.zip(exact).foreach { case ((_, s1), (_, s2)) =>
      assert(math.abs(s1 - s2) < 2e-6) // one-dot vs fused cosine: ulp-level
    }
    CatalogOps.dropDatabase(spark, "vecdb")
  }

  test("crawl connector runs the full ingest chain over an injected fetcher") {
    import graft.sources.{CrawlOps, CrawlTarget}
    val targets = (1 to 5).map(i => CrawlTarget(s"https://site.local/p$i", s"page$i"))
    val mkFetch: () => String => String = () => url =>
      if (url.endsWith("p5")) "<html><div class=\"J-markdown-box\"></div></html>" // empty body
      else s"""<html><div class="J-markdown-box">body
               |
               |
               |of $url</div></html>""".stripMargin
    val docs = CrawlOps.crawl(spark, targets, mkFetch).collect()
    assert(docs.length === 4) // empty-body page filtered (ref Crawling.py:43)
    docs.foreach { r =>
      assert(!r.getString(2).contains("\n\n")) // blank runs collapsed
      assert(r.getString(2).startsWith("body\nof https://site.local/"))
    }
  }

  test("skew-salted join returns exactly the plain hash-join result") {
    val plainJoin = RelOps.joinHash(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val salted = RelOps.joinSalted(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(salted.toSeq === plainJoin.toSeq)
  }

  test("hopping windows count every event exactly windowLength/slide times") {
    val totalEvents = graft.sources.Tables.events(spark, sf).count()
    val hopped = EventOps.hopping(spark, sf)
      .agg(sum(col("n"))).collect()(0).getLong(0)
    assert(hopped === 2 * totalEvents) // 1 day / 12 h = 2 windows per event
  }

  test("simhash neighbor counts are symmetric and self-free") {
    val rows = DedupOps.simHash(spark, sf).collect()
    assert(rows.length === 500)
    val total = rows.map(_.getLong(2)).sum
    assert(total % 2 === 0) // pair symmetry: every neighbor edge counted twice
    // the contract entry runs guard-OFF (exact, matches the brute-force
    // oracle); pin that the production guard is NOT binding at fixture
    // scale — if a blocking bucket ever trips it, the two modes diverge
    // loudly here instead of silently undercounting against the oracle
    val guarded = DedupOps.simHash(spark, sf,
      maxBucket = graft.operators.LshGuard.DefaultMaxBucket).collect()
    assert(guarded.map(_.toSeq).toSeq === rows.map(_.toSeq).toSeq)
  }

  test("filtered IVF probe: exact at exhaustive probes, valid + recall-bounded below") {
    // nprobe = kCells probes every cell — the index path degenerates to the
    // exact filtered scan, pinning that the predicate composition itself
    // loses nothing (all loss comes from cell pruning)
    val exact = KnnOps.topKFiltered(spark, sf, queryId = 0L, labelEq = 3, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    val exhaustive = KnnOps.topKIvfFiltered(spark, sf, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(exhaustive.toSeq === exact.toSeq)
    // production nprobe: every hit must satisfy the predicate, carry its
    // exact score, and keep meaningful recall on the fixture
    val probed = KnnOps.topKIvfFiltered(spark, sf) // nprobe = 4 of 8
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(probed.length === 5)
    val labels = graft.sources.Tables.embeddings(spark, sf)
      .filter(col("vec_id").isin(probed.map(t => Long.box(t._1)): _*))
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    probed.foreach { case (id, score) =>
      assert(labels(id) === 3)
      val ex = exact.find(_._1 == id) // scores are exact wherever ids overlap
      ex.foreach { case (_, s) => assert(s === score) }
    }
    val recall = probed.map(_._1).count(exact.map(_._1).contains) / 5.0
    assert(recall >= 0.4, s"filtered-IVF fixture recall $recall")
  }

  test("filtered NSW probe: exact at exhaustive over-fetch, valid below") {
    val exact = KnnOps.topKFiltered(spark, sf, queryId = 0L, labelEq = 3, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    // k·overFetch = 65 ≥ nodes-per-graph (500/8) and efSearch ≥ nodes: every
    // graph search is exhaustive, so post-filter + re-rank IS the exact scan
    val exhaustive = GraphAnnOps.topKNswFiltered(spark, sf, overFetch = 13)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(exhaustive.toSeq === exact.toSeq)
    // production over-fetch: predicate holds, scores exact, recall bounded
    val probed = GraphAnnOps.topKNswFiltered(spark, sf) // overFetch = 4
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(probed.length === 5)
    val labels = graft.sources.Tables.embeddings(spark, sf)
      .filter(col("vec_id").isin(probed.map(t => Long.box(t._1)): _*))
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    probed.foreach { case (id, score) =>
      assert(labels(id) === 3)
      exact.find(_._1 == id).foreach { case (_, s) => assert(s === score) }
    }
    val recall = probed.map(_._1).count(exact.map(_._1).contains) / 5.0
    assert(recall >= 0.4, s"filtered-NSW fixture recall $recall")
  }

  test("projected collection: exhaustive rescore equals exact; planted clusters recalled") {
    import spark.implicits._
    // exhaustive rescoreK: phase 1 passes every row, so the rescore
    // reproduces the exact scan bit for bit — candidate generation can
    // only ever DROP, never distort
    KnnOps.topKProjectedProbe(spark, sf) // ensure the session collection
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val qVec = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Double](0).toArray
    val got = KnnOps.topKProjected(spark, "graft_proj_probe", "emb_proj",
        emb, qVec, excludeId = 0L, k = 3, rescoreK = 500)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exact = KnnOps.topK(spark, sf, queryId = 0L, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq === exact.toSeq)
    // planted clusters: JL at outDim 16 must recall a tight cluster's
    // members through the coarse phase at production rescoreK
    val rnd = new scala.util.Random(23)
    val base = Array.tabulate(4)(c => Array.tabulate(64)(j =>
      if (j % 4 == c) 1.0 else 0.0))
    val planted = (0 until 40).map { i =>
      (i.toLong, base(i % 4).map(_ + rnd.nextGaussian() * 0.02).toSeq)
    }.toDF("vec_id", "embedding")
    graft.sources.CatalogOps.createDatabase(spark, "graft_proj_test")
    graft.sources.CatalogOps.createProjectedCollection(
      spark, "graft_proj_test", "planted", planted)
    val q = planted.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Double](0).toArray
    val top = KnnOps.topKProjected(spark, "graft_proj_test", "planted",
        planted, q, excludeId = 0L, k = 5, rescoreK = 12)
      .collect().map(_.getLong(0))
    // all five neighbors come from vec 0's own cluster (ids ≡ 0 mod 4)
    assert(top.forall(_ % 4 === 0L), s"cluster recall failed: ${top.toSeq}")
    graft.sources.CatalogOps.dropDatabase(spark, "graft_proj_test")
  }

  test("batched projected probe equals the per-query two-phase probe") {
    import spark.implicits._
    KnnOps.topKProjectedProbe(spark, sf) // ensure the session collection
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val batch = KnnOps.topKForQueriesProjected(spark, "graft_proj_probe",
        "emb_proj", emb, queries, k = 3, rescoreK = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(batch.length === 12) // 4 queries × k
    (0L until 4L).foreach { qid =>
      val qVec = emb.filter(col("vec_id") === qid)
        .select(col("embedding")).head().getSeq[Double](0).toArray
      val single = KnnOps.topKProjected(spark, "graft_proj_probe", "emb_proj",
          emb, qVec, excludeId = -1L, k = 3, rescoreK = 12)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(batch.filter(_._1 == qid).map(t => (t._2, t._3)).toSeq === single.toSeq,
        s"query $qid diverged")
    }
  }

  test("projected upsert lifecycle: incremental build equals one-shot, updates overwrite") {
    import spark.implicits._
    import graft.sources.CatalogOps
    val emb = graft.sources.Tables.embeddings(spark, sf)
    CatalogOps.dropDatabase(spark, "proj_life")
    CatalogOps.createDatabase(spark, "proj_life")
    // incremental: create on the first 300 ids, upsert the rest
    CatalogOps.createProjectedCollection(spark, "proj_life", "inc",
      emb.filter(col("vec_id") < 300))
    CatalogOps.upsertProjected(spark, "proj_life", "inc",
      emb.filter(col("vec_id") >= 300))
    CatalogOps.createProjectedCollection(spark, "proj_life", "oneshot", emb)
    val qVec = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Double](0).toArray
    def ask(name: String) = KnnOps.topKProjected(spark, "proj_life", name,
        emb, qVec, excludeId = 0L, k = 3, rescoreK = 12)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(ask("inc") === ask("oneshot"))
    // update: re-upsert id 7 with a counterfeit vector — its stored pvec
    // must become the counterfeit's projection, row count unchanged
    val fake = Seq((7L, 9, Seq.fill(64)(0.25))).toDF("vec_id", "label", "embedding")
    CatalogOps.upsertProjected(spark, "proj_life", "inc", fake)
    val stored = spark.table("proj_life.inc").filter(col("vec_id") === 7L)
      .select(col("pvec")).head().getSeq[Double](0)
    val expect = fake.select(
        KnnOps.projectArray(col("embedding"), 16).as("p"))
      .head().getSeq[Double](0)
    assert(stored === expect)
    assert(spark.table("proj_life.inc").count() === emb.count())
    CatalogOps.dropDatabase(spark, "proj_life")
  }

  test("quantized probe with a predicate equals the exact filtered scan at full rescore") {
    KnnOps.topKQuantizedProbe(spark, sf) // ensure the session collection
    val qVec = graft.sources.Tables.embeddings(spark, sf)
      .filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Double](0).toArray
    // rescoreK = corpus: phase 1 keeps every predicate row, so the rescore
    // reproduces the exact filtered scan bit for bit
    val got = KnnOps.topKQuantized(spark, "graft_q8_probe", "emb_q8",
        graft.sources.Tables.embeddings(spark, sf), qVec, excludeId = 0L,
        k = 5, rescoreK = 500, predicate = col("label") === 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exact = KnnOps.topKFiltered(spark, sf, queryId = 0L, labelEq = 3, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.toSeq === exact.toSeq)
  }

  test("batched quantized probe equals the per-query two-phase probe") {
    import spark.implicits._
    KnnOps.topKQuantizedProbe(spark, sf) // ensure the session collection
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val batch = KnnOps.topKForQueriesQuantized(spark, "graft_q8_probe", "emb_q8",
        emb, queries, k = 3, rescoreK = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(batch.length === 12) // 4 queries × k
    (0L until 4L).foreach { qid =>
      val qVec = emb.filter(col("vec_id") === qid)
        .select(col("embedding")).head().getSeq[Double](0).toArray
      val single = KnnOps.topKQuantized(spark, "graft_q8_probe", "emb_q8",
          emb, qVec, excludeId = -1L, k = 3, rescoreK = 12)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
      assert(batch.filter(_._1 == qid).toSeq === single.toSeq, s"query $qid")
    }
  }

  test("text-seeded RAG flagship assembles prompt and citations from the text query") {
    val rows = TextOps.ragEndToEndText(spark, sf, SparkEntry.KnnTextQuery).collect()
    assert(rows.length === 1)
    val r = rows(0)
    assert(r.getString(0) === SparkEntry.KnnTextQuery)
    assert(r.getString(1).startsWith("请按照\"总结要点\"进行总结,内容是："))
    assert(r.getString(2).startsWith("参考链接："))
    // the citation block carries exactly the text-knn hit ids, rank-ordered
    val hits = KnnOps.topKByText(spark, sf, SparkEntry.KnnTextQuery, k = 3)
      .collect().map(_.getLong(0))
    val cited = r.getString(2).split("\n\n").drop(1)
      .map(_.split(" {5}")(1).trim.toLong).toSeq
    assert(cited === hits.toSeq)
  }

  test("PQ probe at exhaustive rescore equals the exact knn") {
    // rescoreK ≥ corpus: every row survives phase 1, so the full-precision
    // rescore IS the exact scan regardless of codebook quality
    val got = KnnOps.topKPqProbe(spark, sf, queryId = 0L, k = 3, rescoreK = 500)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exact = KnnOps.topK(spark, sf, queryId = 0L, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq === exact.toSeq)
    // production over-fetch: k valid rows with exact scores
    val probed = KnnOps.topKPqProbe(spark, sf, queryId = 0L, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(probed.length === 3)
    val all = KnnOps.topK(spark, sf, queryId = 0L, k = 499)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    probed.foreach { case (id, s) => assert(all(id) === s) }
  }

  test("PQ on clustered data: codes recover the exact top-k at modest rescore") {
    import spark.implicits._
    // planted structure (the regime PQ exists for): 10 tight clusters —
    // fixture embeddings are near-random, where no codebook can help
    val rnd = new scala.util.Random(31L)
    val dim = 32
    val centers = Array.fill(10, dim)(rnd.nextGaussian())
    val vecs: Seq[(Long, Seq[Double])] = (0 until 300).map { i =>
      val c = centers(i % 10)
      (i.toLong, (0 until dim).map(d => c(d) + 0.05 * rnd.nextGaussian()))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val db = "graft_test_pq"
    graft.sources.CatalogOps.createDatabase(spark, db)
    // the test warehouse persists across JVMs behind the in-memory catalog
    Seq("clustered", "clustered__pqmodel", "clustered__pqmeta").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS `$db`.`$t`")
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"/tmp/graft-test-warehouse/$db.db/$t"))
    }
    graft.sources.CatalogOps.createPqCollection(spark, db, "clustered", df,
      m = 4, kCent = 16, iters = 3)
    val qVec = vecs.head._2.toArray
    val got = KnnOps.topKPq(spark, db, "clustered", df, qVec,
        excludeId = 0L, k = 5, rescoreK = 40)
      .collect().map(_.getLong(0))
    import graft.functions.VectorFunctions.cosineFast
    val exact = df.filter(col("vec_id") =!= 0L)
      .crossJoin(broadcast(Seq(Tuple1(qVec.toSeq)).toDF("q")))
      .select(col("vec_id"), cosineFast(col("embedding"), col("q")).as("s"))
      .orderBy(col("s").desc, col("vec_id").asc)
      .limit(5).collect().map(_.getLong(0))
    assert(got.toSeq === exact.toSeq)
  }

  test("IVF-PQ probe: exact at exhaustive settings, composes a predicate") {
    // nprobe = kCells and rescoreK ≥ corpus: no pruning, every row
    // rescored at full precision ⇒ exactly the brute-force scan
    val got = KnnOps.topKIvfPqProbe(spark, sf, queryId = 0L, k = 3,
        rescoreK = 500, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exact = KnnOps.topK(spark, sf, queryId = 0L, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq === exact.toSeq)
    // filtered variant at exhaustive settings equals the exact filtered scan
    val qVec = graft.sources.Tables.embeddings(spark, sf)
      .filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Double](0).toArray
    val gotF = KnnOps.topKIvfPq(spark, "graft_ivfpq_probe", "emb_ivfpq",
        graft.sources.Tables.embeddings(spark, sf), qVec, excludeId = 0L,
        k = 5, rescoreK = 500, nprobe = 8, predicate = col("label") === 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exactF = KnnOps.topKFiltered(spark, sf, queryId = 0L, labelEq = 3, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(gotF.toSeq === exactF.toSeq)
    // production settings: k valid rows with exact scores
    val probed = KnnOps.topKIvfPqProbe(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(probed.length === 3)
    val all = KnnOps.topK(spark, sf, queryId = 0L, k = 499)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    probed.foreach { case (id, s) => assert(all(id) === s) }
  }

  test("residual IVF-PQ on clustered data recovers the exact top-k at modest settings") {
    import spark.implicits._
    // same planted-cluster regime as the flat-PQ test: the coarse cells
    // absorb the cluster structure and the residual codes order the
    // within-cell neighbors — modest nprobe/rescoreK recover exactness
    val rnd = new scala.util.Random(47L)
    val dim = 32
    val centers = Array.fill(8, dim)(rnd.nextGaussian())
    val vecs: Seq[(Long, Seq[Double])] = (0 until 320).map { i =>
      val c = centers(i % 8)
      (i.toLong, (0 until dim).map(d => c(d) + 0.05 * rnd.nextGaussian()))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val db = "graft_test_ivfpq"
    graft.sources.CatalogOps.createDatabase(spark, db)
    Seq("clustered", "clustered__model", "clustered__pqmodel", "clustered__pqmeta")
      .foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS `$db`.`$t`")
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s"/tmp/graft-test-warehouse/$db.db/$t"))
      }
    graft.sources.CatalogOps.createIvfPqCollection(spark, db, "clustered", df,
      kCells = 8, m = 4, kCent = 16, iters = 3)
    val qVec = vecs.head._2.toArray
    // rescoreK ≥ the 40-member cluster: within a tight cluster the
    // residual near-ties are rank-resolved by the exact rescore, not by
    // ADC — the candidate set must cover the cluster, like the flat-PQ
    // test's 40-of-300
    val got = KnnOps.topKIvfPq(spark, db, "clustered", df, qVec,
        excludeId = 0L, k = 5, rescoreK = 48, nprobe = 3)
      .collect().map(_.getLong(0))
    import graft.functions.VectorFunctions.cosineFast
    val exact = df.filter(col("vec_id") =!= 0L)
      .crossJoin(broadcast(Seq(Tuple1(qVec.toSeq)).toDF("q")))
      .select(col("vec_id"), cosineFast(col("embedding"), col("q")).as("s"))
      .orderBy(col("s").desc, col("vec_id").asc)
      .limit(5).collect().map(_.getLong(0))
    assert(got.toSeq === exact.toSeq)
  }

  test("batched PQ probe equals the per-query two-phase probe") {
    import spark.implicits._
    KnnOps.topKPqProbe(spark, sf) // ensure the session collection
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val batch = KnnOps.topKForQueriesPq(spark, "graft_pq_probe", "emb_pq",
        emb, queries, k = 3, rescoreK = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(batch.length === 12) // 4 queries × k
    (0L until 4L).foreach { qid =>
      val qVec = emb.filter(col("vec_id") === qid)
        .select(col("embedding")).head().getSeq[Double](0).toArray
      val single = KnnOps.topKPq(spark, "graft_pq_probe", "emb_pq",
          emb, qVec, excludeId = -1L, k = 3, rescoreK = 64)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
      assert(batch.filter(_._1 == qid).toSeq === single.toSeq, s"query $qid")
    }
  }

  test("batched IVF-PQ probe equals the per-query pruned+coded probe") {
    import spark.implicits._
    KnnOps.topKIvfPqProbe(spark, sf) // ensure the session collection
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val batch = KnnOps.topKForQueriesIvfPq(spark, "graft_ivfpq_probe", "emb_ivfpq",
        emb, queries, k = 3, rescoreK = 64, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(batch.length === 12) // 4 queries × k
    (0L until 4L).foreach { qid =>
      val qVec = emb.filter(col("vec_id") === qid)
        .select(col("embedding")).head().getSeq[Double](0).toArray
      val single = KnnOps.topKIvfPq(spark, "graft_ivfpq_probe", "emb_ivfpq",
          emb, qVec, excludeId = -1L, k = 3, rescoreK = 64, nprobe = 4)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
      assert(batch.filter(_._1 == qid).toSeq === single.toSeq, s"query $qid")
    }
  }

  test("IVF-PQ upsert re-encodes with stored models, touches only affected partitions") {
    import graft.sources.{CatalogOps, Tables}
    import spark.implicits._
    CatalogOps.dropDatabase(spark, "ivfpqupdb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/ivfpqupdb.db"))
    CatalogOps.createDatabase(spark, "ivfpqupdb")
    CatalogOps.createIvfPqCollection(spark, "ivfpqupdb", "emb",
      Tables.embeddings(spark, sf))
    val coll = spark.table("`ivfpqupdb`.`emb`")
    val before = coll.count()
    // a NEW id carrying the exact vector of stored row 0: the stored models
    // must give it row 0's cell, codes, and norm (no retrain on upsert)
    val r0 = coll.filter(col("vec_id") === 0L)
      .select(col("cell"), col("codes"), col("norm")).head()
    val (cell0, codes0, norm0) = (r0.getInt(0), r0.getAs[Array[Byte]](1), r0.getDouble(2))
    val v0 = Tables.embeddings(spark, sf).filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Double](0)
    val label0 = Tables.embeddings(spark, sf).filter(col("vec_id") === 0L)
      .select(col("label")).head().getInt(0)
    val tableDir = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath + "/ivfpqupdb.db/emb")
    def files(cell: Int): Set[(String, Long)] = {
      val d = new java.io.File(tableDir, s"cell=$cell")
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val untouched = (0 until 8).find(_ != cell0).get
    val keepBefore = files(untouched)
    assert(keepBefore.nonEmpty)
    CatalogOps.upsertIvfPq(spark, "ivfpqupdb", "emb",
      Seq((999999L, label0, v0)).toDF("vec_id", "label", "embedding"))
    val after = spark.table("`ivfpqupdb`.`emb`")
    assert(after.count() === before + 1)
    val newRow = after.filter(col("vec_id") === 999999L)
      .select(col("cell"), col("codes"), col("norm")).head()
    assert(newRow.getInt(0) === cell0)
    assert(newRow.getAs[Array[Byte]](1).toSeq === codes0.toSeq)
    assert(newRow.getDouble(2) === norm0)
    assert(files(untouched) === keepBefore)
    CatalogOps.dropDatabase(spark, "ivfpqupdb")
  }

  test("upsertPq re-encodes from persisted codebooks; appends leave stored files untouched") {
    import graft.sources.{CatalogOps, Tables}
    import spark.implicits._
    CatalogOps.dropDatabase(spark, "pqupdb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/pqupdb.db"))
    CatalogOps.createDatabase(spark, "pqupdb")
    val emb = Tables.embeddings(spark, sf)
    CatalogOps.createPqCollection(spark, "pqupdb", "emb_pq", emb)
    val before = spark.table("`pqupdb`.`emb_pq`").count()
    def row(id: Long) = spark.table("`pqupdb`.`emb_pq`")
      .filter(col("vec_id") === id)
      .select(col("codes"), col("norm")).head()
    val r0 = row(0L)
    val (codes0, norm0) = (r0.getAs[Array[Byte]](0), r0.getDouble(1))
    val v0 = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Double](0)
    val label0 = emb.filter(col("vec_id") === 0L)
      .select(col("label")).head().getInt(0)
    val tableDir = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath + "/pqupdb.db/emb_pq")
    def files(): Set[(String, Long)] = tableDir.listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSet
    val keepBefore = files()
    assert(keepBefore.nonEmpty)
    // APPEND path: a brand-new id re-encodes through the PERSISTED
    // codebooks (same vector → byte-identical codes) and every stored
    // file stays byte-for-byte
    CatalogOps.upsertPq(spark, "pqupdb", "emb_pq",
      Seq((999999L, label0, v0)).toDF("vec_id", "label", "embedding"))
    assert(spark.table("`pqupdb`.`emb_pq`").count() === before + 1)
    val rNew = row(999999L)
    assert(rNew.getAs[Array[Byte]](0).toSeq === codes0.toSeq)
    assert(rNew.getDouble(1) === norm0)
    assert(keepBefore.subsetOf(files())) // append never rewrites
    // UPDATE path: moving the id onto id 1's vector re-encodes to id 1's
    // codes, keeps the count, and leaves no duplicate
    val v1 = emb.filter(col("vec_id") === 1L)
      .select(col("embedding")).head().getSeq[Double](0)
    val r1 = row(1L)
    CatalogOps.upsertPq(spark, "pqupdb", "emb_pq",
      Seq((999999L, label0, v1)).toDF("vec_id", "label", "embedding"))
    assert(spark.table("`pqupdb`.`emb_pq`").count() === before + 1)
    assert(spark.table("`pqupdb`.`emb_pq`")
      .filter(col("vec_id") === 999999L).count() === 1)
    val rUpd = row(999999L)
    assert(rUpd.getAs[Array[Byte]](0).toSeq === r1.getAs[Array[Byte]](0).toSeq)
    assert(rUpd.getDouble(1) === r1.getDouble(1))
    // the probe serves the updated encoding: exhaustive rescore against
    // id 1's vector must surface the moved id at score 1.0
    val emb2 = emb.unionByName(
      Seq((999999L, label0, v1)).toDF("vec_id", "label", "embedding")
        .select(emb.columns.map(col).toIndexedSeq: _*))
    val hits = KnnOps.topKPq(spark, "pqupdb", "emb_pq", emb2,
        v1.toArray, excludeId = -1L, k = 2, rescoreK = 600)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(hits.toSeq === Seq((1L, 1.0), (999999L, 1.0)))
    CatalogOps.dropDatabase(spark, "pqupdb")
  }

  test("compaction collapses upsert-fragmented partitions to one file, rows intact") {
    import graft.sources.{CatalogOps, Tables}
    import spark.implicits._
    CatalogOps.dropDatabase(spark, "compactdb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/compactdb.db"))
    CatalogOps.createDatabase(spark, "compactdb")
    CatalogOps.createIvfCollection(spark, "compactdb", "emb_ivf",
      Tables.embeddings(spark, sf))
    // two APPEND batches — the streaming-ingest pattern (partition-scoped
    // upserts REPLACE files; appends accumulate them, one+ per batch)
    val mk = (from: Long) => spark.table("`compactdb`.`emb_ivf`")
      .filter(col("vec_id") < 8)
      .select((col("vec_id") + from).as("vec_id"), col("label"),
        col("embedding"), col("cell"))
    mk(100000L).write.mode("append").insertInto("compactdb.emb_ivf")
    mk(200000L).write.mode("append").insertInto("compactdb.emb_ivf")
    val tableDir = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath + "/compactdb.db/emb_ivf")
    def fileCounts: Map[String, Int] = tableDir.listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("cell="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
      .toMap
    assert(fileCounts.values.exists(_ > 1), fileCounts.toString) // fragmented
    val before = spark.table("`compactdb`.`emb_ivf`")
      .collect().map(r => (r.getLong(0), r.getInt(3))).toSet
    CatalogOps.compactCollection(spark, "compactdb", "emb_ivf")
    val countsAfter = fileCounts
    assert(countsAfter.values.forall(_ === 1), countsAfter.toString)
    val after = spark.table("`compactdb`.`emb_ivf`")
      .collect().map(r => (r.getLong(0), r.getInt(3))).toSet
    assert(after === before)
    // the partition layout survives: the probe still prunes
    val q = KnnOps.topKIvfPartitioned(spark, "compactdb", "emb_ivf")
    assert(q.count() === 3)
    CatalogOps.dropDatabase(spark, "compactdb")
  }

  test("IVF-PQ lifecycle: create, probe, incremental upsert, compact — consistent throughout") {
    import graft.sources.{CatalogOps, Tables}
    import spark.implicits._
    CatalogOps.dropDatabase(spark, "lifecycledb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/lifecycledb.db"))
    CatalogOps.createDatabase(spark, "lifecycledb")
    val emb = Tables.embeddings(spark, sf)
    CatalogOps.createIvfPqCollection(spark, "lifecycledb", "emb", emb)
    val qVec = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Double](0).toArray
    def probe(full: org.apache.spark.sql.DataFrame) =
      KnnOps.topKIvfPq(spark, "lifecycledb", "emb", full, qVec,
          excludeId = 0L, k = 3, rescoreK = 500, nprobe = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val initial = probe(emb)
    // upsert a new id carrying the query vector itself: at exhaustive
    // settings it must become the top hit (score 1.0)
    CatalogOps.upsertIvfPq(spark, "lifecycledb", "emb",
      Seq((777777L, 0, qVec.toSeq)).toDF("vec_id", "label", "embedding"))
    val emb2 = emb.unionByName(
      Seq((777777L, 0, qVec.toSeq)).toDF("vec_id", "label", "embedding")
        .select(emb.columns.map(col).toIndexedSeq: _*))
    val afterUpsert = probe(emb2)
    assert(afterUpsert.head === ((777777L, 1.0)))
    assert(afterUpsert.tail === initial.take(2))
    // compaction changes files, never answers
    CatalogOps.compactCollection(spark, "lifecycledb", "emb")
    assert(probe(emb2) === afterUpsert)
    CatalogOps.dropDatabase(spark, "lifecycledb")
  }

  test("deleteByIds rewrites only doomed partitions and drops emptied ones") {
    import graft.sources.CatalogOps
    import spark.implicits._
    CatalogOps.dropDatabase(spark, "deldb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/deldb.db"))
    CatalogOps.createDatabase(spark, "deldb")
    // hand-built 3-cell collection: cell 0 holds exactly one row
    Seq((1L, Seq(1.0, 0.0), 0), (2L, Seq(0.0, 1.0), 1), (3L, Seq(0.0, 0.9), 1),
        (4L, Seq(0.5, 0.5), 2), (5L, Seq(0.6, 0.4), 2))
      .toDF("vec_id", "embedding", "cell")
      .write.partitionBy("cell").saveAsTable("`deldb`.`tiny`")
    val tableDir = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath + "/deldb.db/tiny")
    def files(cell: Int): Set[(String, Long)] = {
      val d = new java.io.File(tableDir, s"cell=$cell")
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val keepCell2 = files(2)
    assert(keepCell2.nonEmpty)
    // dooms the only cell-0 row (partition must drop) and one of two
    // cell-1 rows (partition must rewrite); cell 2 untouched
    CatalogOps.deleteByIds(spark, "deldb", "tiny", Seq(1L, 2L).toDF("vec_id"))
    val after = spark.table("`deldb`.`tiny`")
    assert(after.select($"vec_id").collect().map(_.getLong(0)).toSet === Set(3L, 4L, 5L))
    assert(files(2) === keepCell2) // untouched partition byte-identical
    val parts = spark.sql("SHOW PARTITIONS `deldb`.`tiny`")
      .collect().map(_.getString(0)).toSeq
    assert(!parts.contains("cell=0"), parts.mkString(","))
    // unpartitioned twin
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("vec_id", "text")
      .write.saveAsTable("`deldb`.`flat`")
    CatalogOps.deleteByIds(spark, "deldb", "flat", Seq(2L).toDF("id"))
    assert(spark.table("`deldb`.`flat`").select($"vec_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    CatalogOps.dropDatabase(spark, "deldb")
  }

  test("staging-swap crash windows: orphaned staging reclaimed, re-run converges") {
    import graft.sources.CatalogOps
    import spark.implicits._
    CatalogOps.dropDatabase(spark, "crashdb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/crashdb.db"))
    CatalogOps.createDatabase(spark, "crashdb")
    // window 1 — crash AFTER the stage write, BEFORE insertInto: target
    // untouched, staging orphaned with arbitrary stale content. The next
    // call must overwrite the orphan (not merge it) and land correctly.
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("vec_id", "text")
      .write.saveAsTable("`crashdb`.`flat`")
    Seq((99L, "stale", 7)).toDF("vec_id", "junk", "extra") // wrong schema too
      .write.saveAsTable("`crashdb`.`__flat_delete_staging`")
    CatalogOps.deleteByIds(spark, "crashdb", "flat", Seq(2L).toDF("vec_id"))
    assert(spark.table("`crashdb`.`flat`").select($"vec_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    assert(!spark.catalog.tableExists("crashdb.__flat_delete_staging"),
      "staging must be dropped after a successful swap")
    // a PARTITIONED table rewrites in place (no staging table at all)
    Seq((1L, "a", 0), (2L, "b", 0), (3L, "c", 1), (4L, "d", 2))
      .toDF("vec_id", "text", "cell")
      .write.partitionBy("cell").saveAsTable("`crashdb`.`part`")
    CatalogOps.deleteByIds(spark, "crashdb", "part", Seq(3L).toDF("vec_id"))
    assert(spark.table("`crashdb`.`part`").select($"vec_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 4L))
    assert(!spark.catalog.tableExists("crashdb.__part_delete_staging"))
    // crash AFTER the commit: the target is already post-delete;
    // re-running the SAME call must be a content no-op (idempotent recovery)
    CatalogOps.deleteByIds(spark, "crashdb", "part", Seq(3L).toDF("vec_id"))
    assert(spark.table("`crashdb`.`part`").select($"vec_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 4L))
    // window 2 proxy — a partition left at its PRE-delete version while
    // others committed (the mid-commit mix): re-run converges. Simulate
    // by re-inserting a doomed row into its original partition.
    Seq((3L, "c", 1)).toDF("vec_id", "text", "cell")
      .write.mode("append").insertInto("crashdb.part")
    CatalogOps.deleteByIds(spark, "crashdb", "part", Seq(3L).toDF("vec_id"))
    assert(spark.table("`crashdb`.`part`").select($"vec_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 4L))
    CatalogOps.dropDatabase(spark, "crashdb")
  }

  test("deleteByIds on a multi-column-partitioned table: full-tuple sweep, untouched siblings byte-identical") {
    import graft.sources.CatalogOps
    import spark.implicits._
    CatalogOps.dropDatabase(spark, "delmpdb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/delmpdb.db"))
    CatalogOps.createDatabase(spark, "delmpdb")
    // the date×source shape: a fully-doomed subpartition (a=1,b=1) with a
    // surviving sibling (a=1,b=2) is exactly what a single-level sweep
    // would corrupt — until r13 this was refused loudly; now the
    // full-tuple sweep must drop (a=1,b=1) and leave every other
    // partition's files byte-identical
    Seq((1L, "r1", 1, 1), (2L, "r2", 1, 2), (3L, "r3", 2, 1),
        (4L, "r4", 2, 1), (5L, "r5", 2, 2))
      .toDF("vec_id", "v", "a", "b")
      .write.partitionBy("a", "b").saveAsTable("`delmpdb`.`multi`")
    val tableDir = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath + "/delmpdb.db/multi")
    def files(a: Int, b: Int): Set[(String, Long)] = {
      val d = new java.io.File(tableDir, s"a=$a/b=$b")
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val keep12 = files(1, 2)
    val keep22 = files(2, 2)
    assert(keep12.nonEmpty && keep22.nonEmpty)
    // dooms all of (a=1,b=1) [drop], one of two rows in (a=2,b=1)
    // [rewrite]; (a=1,b=2) and (a=2,b=2) untouched
    CatalogOps.deleteByIds(spark, "delmpdb", "multi", Seq(1L, 3L).toDF("vec_id"))
    val after = spark.table("`delmpdb`.`multi`")
    assert(after.select($"vec_id").collect().map(_.getLong(0)).toSet === Set(2L, 4L, 5L))
    assert(files(1, 2) === keep12) // surviving sibling byte-identical
    assert(files(2, 2) === keep22)
    val parts = spark.sql("SHOW PARTITIONS `delmpdb`.`multi`")
      .collect().map(_.getString(0)).toSeq
    assert(!parts.exists(_.startsWith("a=1/b=1")), parts.mkString(","))
    assert(parts.contains("a=1/b=2") && parts.contains("a=2/b=1"), parts.mkString(","))
    // second delete dooming the REST of a first-level subtree: (a=2,b=1)
    // and (a=2,b=2) both drop at the leaf level
    CatalogOps.deleteByIds(spark, "delmpdb", "multi", Seq(4L, 5L).toDF("vec_id"))
    assert(spark.table("`delmpdb`.`multi`").select($"vec_id")
      .collect().map(_.getLong(0)).toSet === Set(2L))
    val parts2 = spark.sql("SHOW PARTITIONS `delmpdb`.`multi`")
      .collect().map(_.getString(0)).toSeq
    assert(parts2 === Seq("a=1/b=2"), parts2.mkString(","))
    assert(files(1, 2) === keep12)
    CatalogOps.dropDatabase(spark, "delmpdb")
  }

  test("deleteByIds on an NSW collection rebuilds touched graphs; probes never serve deleted ids") {
    import graft.sources.{CatalogOps, Tables}
    import spark.implicits._
    CatalogOps.dropDatabase(spark, "nswdeldb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/nswdeldb.db"))
    CatalogOps.createDatabase(spark, "nswdeldb")
    val emb = Tables.embeddings(spark, sf)
    CatalogOps.createNswCollection(spark, "nswdeldb", "emb_nsw", emb, shards = 8)
    val byPart = emb
      .select(col("vec_id"), pmod(hash(col("vec_id")), lit(8)).as("p"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val doomId = 5L
    val doomPart = byPart.find(_._1 == doomId).get._2
    val emptyPart = (0 until 8).find(_ != doomPart).get
    val emptyIds = byPart.filter(_._2 == emptyPart).map(_._1).toSeq
    val untouchedPart = (0 until 8)
      .find(p => p != doomPart && p != emptyPart).get
    val tableDir = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath + "/nswdeldb.db/emb_nsw")
    def files(p: Int): Set[(String, Long)] = {
      val d = new java.io.File(tableDir, s"part=$p")
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val keepBefore = files(untouchedPart)
    assert(keepBefore.nonEmpty)
    val vDoom = emb.filter(col("vec_id") === doomId)
      .select(col("embedding")).head().getSeq[Double](0).toArray
    // before: the doomed vector is served, at its own id, score 1.0
    val hitBefore = GraphAnnOps.searchStored(spark, "nswdeldb", "emb_nsw", vDoom, k = 1).head()
    assert(hitBefore.getLong(0) === doomId && hitBefore.getDouble(1) === 1.0)
    val doomedSet = (doomId +: emptyIds).toSet
    // deleteByIds ROUTES to the graph rebuild (no deleteNsw in the call)
    CatalogOps.deleteByIds(spark, "nswdeldb", "emb_nsw",
      doomedSet.toSeq.toDF("vec_id"))
    val afterIds = spark.table("`nswdeldb`.`emb_nsw`")
      .select(explode(col("ids")).as("id")).collect().map(_.getLong(0)).toSet
    assert(afterIds === byPart.map(_._1).toSet -- doomedSet)
    assert(files(untouchedPart) === keepBefore) // untouched graphs intact
    val parts = spark.sql("SHOW PARTITIONS `nswdeldb`.`emb_nsw`")
      .collect().map(_.getString(0)).toSeq
    assert(!parts.contains(s"part=$emptyPart"), parts.mkString(",")) // emptied graph dropped
    // the probe can never serve a deleted id — even queried with the
    // deleted row's own vector (which would have scored 1.0)
    val served = GraphAnnOps.searchStored(spark, "nswdeldb", "emb_nsw",
        vDoom, k = 20, efSearch = 1000)
      .collect().map(_.getLong(0)).toSet
    assert(served.nonEmpty && served.intersect(doomedSet).isEmpty)
    // id-TYPE-proof hash replay: Murmur3 hashInt(9) != hashLong(9L), so an
    // IntegerType ids frame hashed as-is would probe the wrong shards and
    // the delete would silently no-op — the cast-to-long rule must hold
    CatalogOps.deleteByIds(spark, "nswdeldb", "emb_nsw",
      Seq(9).toDF("vec_id")) // Int, not Long
    val afterInt = spark.table("`nswdeldb`.`emb_nsw`")
      .select(explode(col("ids")).as("id")).collect().map(_.getLong(0)).toSet
    assert(!afterInt.contains(9L), "Int-typed delete silently no-opped")
    CatalogOps.dropDatabase(spark, "nswdeldb")
  }

  test("routed NSW: exhaustive probe equals exact; upsert routes by cell; delete stays consistent") {
    import graft.sources.{CatalogOps, Tables}
    import spark.implicits._
    CatalogOps.dropDatabase(spark, "nswrdb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/nswrdb.db"))
    CatalogOps.createDatabase(spark, "nswrdb")
    val emb = Tables.embeddings(spark, sf)
    CatalogOps.createNswRoutedCollection(spark, "nswrdb", "emb_nswr", emb)
    val qVec = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Double](0).toArray
    // exhaustive settings (nprobe = kCells, beam ≥ nodes) must equal the
    // exact scan — same contract as the unrouted stored-graph test
    val exact = KnnOps.topK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val routed = GraphAnnOps.searchStoredRouted(spark, "nswrdb", "emb_nswr",
        qVec, k = 4, efSearch = 1000, nprobe = 8)
      .filter(col("vec_id") =!= 0L).limit(3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(routed.map(_._1).toSeq === exact.map(_._1).toSeq)
    routed.zip(exact).foreach { case ((_, s1), (_, s2)) =>
      assert(math.abs(s1 - s2) < 1e-6)
    }
    val tableDir = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath + "/nswrdb.db/emb_nswr")
    def partFiles(): Map[String, Set[(String, Long)]] = tableDir.listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("part="))
      .map(d => d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet)
      .toMap
    def partOf(id: Long): Option[String] = spark.table("`nswrdb`.`emb_nswr`")
      .select(col("part"), explode(col("ids")).as("id"))
      .filter(col("id") === id).collect().headOption.map("part=" + _.getInt(0))
    // UPSERT a new id carrying id 0's vector: it must route to id 0's cell
    // and only that cell's graph may rewrite
    val before = partFiles()
    CatalogOps.upsertNsw(spark, "nswrdb", "emb_nswr",
      Seq((888888L, qVec.toSeq)).toDF("vec_id", "embedding"))
    val newPart = partOf(888888L).get
    assert(partOf(0L).get === newPart) // same vector → same cell
    val after = partFiles()
    assert((before.keySet - newPart).forall(p => after(p) === before(p)),
      "untouched cell graphs must stay byte-identical")
    // the routed probe now serves the new id at 1.0 (tie after id 0)
    val hits = GraphAnnOps.searchStoredRouted(spark, "nswrdb", "emb_nswr",
        qVec, k = 2, efSearch = 1000, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(hits.toSeq === Seq((0L, 1.0), (888888L, 1.0)))
    // MOVE: re-upsert 888888 with a vector from a DIFFERENT cell — the id
    // must leave its old graph and appear in exactly the donor's cell
    val donor = emb
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .find { case (id, _) =>
        partOf(id).isDefined && partOf(id).get != newPart }.get
    CatalogOps.upsertNsw(spark, "nswrdb", "emb_nswr",
      Seq((888888L, donor._2)).toDF("vec_id", "embedding"))
    assert(partOf(888888L).get === partOf(donor._1).get)
    val dupCheck = spark.table("`nswrdb`.`emb_nswr`")
      .select(explode(col("ids")).as("id")).filter(col("id") === 888888L).count()
    assert(dupCheck === 1L) // gone from the old graph, present once
    // DELETE through the generic entry (routes to the graph rebuild):
    // the probe must never serve the deleted id again
    CatalogOps.deleteByIds(spark, "nswrdb", "emb_nswr", Seq(888888L).toDF("vec_id"))
    val served = GraphAnnOps.searchStoredRouted(spark, "nswrdb", "emb_nswr",
        donor._2.toArray, k = 10, efSearch = 1000, nprobe = 8)
      .collect().map(_.getLong(0)).toSet
    assert(served.nonEmpty && !served.contains(888888L))
    CatalogOps.dropDatabase(spark, "nswrdb")
  }

  test("filtered routed graph search equals the exact filtered scan at exhaustive settings") {
    import graft.sources.{CatalogOps, Tables}
    import spark.implicits._
    CatalogOps.dropDatabase(spark, "nswrfdb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/nswrfdb.db"))
    CatalogOps.createDatabase(spark, "nswrfdb")
    val emb = Tables.embeddings(spark, sf)
    CatalogOps.createNswRoutedCollection(spark, "nswrfdb", "emb_nswr", emb)
    val qVec = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Double](0).toArray
    // exhaustive: every cell probed, beam >= nodes, over-fetch >= matches
    val got = GraphAnnOps.searchStoredRoutedFiltered(spark, "nswrfdb", "emb_nswr",
        qVec, attrs = emb.select(col("vec_id"), col("label")),
        predicate = col("label") === 3 && col("vec_id") =!= 0L,
        k = 5, efSearch = 1000, nprobe = 8, overFetch = 200)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exact = KnnOps.topKFiltered(spark, sf, queryId = 0L, labelEq = 3, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(2))) // (vec_id, label, score)
    assert(got.map(_._1).toSeq === exact.map(_._1).toSeq)
    got.zip(exact).foreach { case ((_, s1), (_, s2)) =>
      assert(math.abs(s1 - s2) < 1e-6)
    }
    // pruned settings still return k rows (recall measured elsewhere)
    assert(GraphAnnOps.searchStoredRoutedFiltered(spark, "nswrfdb", "emb_nswr",
      qVec, emb.select(col("vec_id"), col("label")),
      col("label") === 3 && col("vec_id") =!= 0L,
      k = 5, efSearch = 100, nprobe = 2).count() <= 5)
    CatalogOps.dropDatabase(spark, "nswrfdb")
  }

  test("batched routed graph search equals the per-query routed probe") {
    import graft.sources.{CatalogOps, Tables}
    import spark.implicits._
    CatalogOps.dropDatabase(spark, "nswrbdb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/nswrbdb.db"))
    CatalogOps.createDatabase(spark, "nswrbdb")
    val emb = Tables.embeddings(spark, sf)
    CatalogOps.createNswRoutedCollection(spark, "nswrbdb", "emb_nswr", emb)
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val batched = GraphAnnOps.searchStoredRoutedBatch(spark, "nswrbdb", "emb_nswr",
        queries, k = 3, efSearch = 100, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(batched.length === 12) // 4 queries × k
    (0L until 4L).foreach { qid =>
      val qv = emb.filter(col("vec_id") === qid)
        .select(col("embedding")).head().getSeq[Double](0).toArray
      val single = GraphAnnOps.searchStoredRouted(spark, "nswrbdb", "emb_nswr",
          qv, k = 3, efSearch = 100, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(batched.filter(_._1 == qid).sortBy(_._4)
        .map(t => (t._2, t._3)).toSeq === single.toSeq, s"query $qid diverged")
    }
    CatalogOps.dropDatabase(spark, "nswrbdb")
  }

  test("deleteByIds removes codes: quantized and IVF-PQ probes never serve deleted ids") {
    import graft.sources.{CatalogOps, Tables}
    import spark.implicits._
    CatalogOps.dropDatabase(spark, "codedeldb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + "/codedeldb.db"))
    CatalogOps.createDatabase(spark, "codedeldb")
    val emb = Tables.embeddings(spark, sf)
    val qVec = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Double](0).toArray
    // IVF-PQ: cell-partitioned byte codes — the partition-scoped delete path
    CatalogOps.createIvfPqCollection(spark, "codedeldb", "emb_ivfpq", emb)
    def probePq() = KnnOps.topKIvfPq(spark, "codedeldb", "emb_ivfpq", emb,
        qVec, excludeId = -1L, k = 3, rescoreK = 500, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val pqBefore = probePq()
    assert(pqBefore.head === ((0L, 1.0))) // the row's own vector tops the probe
    CatalogOps.deleteByIds(spark, "codedeldb", "emb_ivfpq", Seq(0L).toDF("vec_id"))
    val pqAfter = probePq()
    assert(!pqAfter.map(_._1).contains(0L))
    assert(pqAfter.head === pqBefore(1)) // survivors keep their scores/order
    // int8-quantized: unpartitioned codes — the whole-rewrite delete path
    CatalogOps.createQuantizedCollection(spark, "codedeldb", "emb_q", emb)
    def probeQ() = KnnOps.topKQuantized(spark, "codedeldb", "emb_q", emb,
        qVec, excludeId = -1L, k = 3, rescoreK = 500)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probeQ().head === ((0L, 1.0)))
    CatalogOps.deleteByIds(spark, "codedeldb", "emb_q", Seq(0L).toDF("vec_id"))
    assert(!probeQ().map(_._1).contains(0L))
    CatalogOps.dropDatabase(spark, "codedeldb")
  }

  test("PQ expressions: codegen matches driver math, ADC equals reconstructed dot") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    val rnd = new scala.util.Random(13L)
    val (m, k, subDim) = (4, 8, 4)
    val dim = m * subDim
    val cb = Array.fill(m * k * subDim)(rnd.nextGaussian())
    val vecs = (0 until 20).map(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian())))
    val q = Array.fill(dim)(rnd.nextGaussian())
    val lut = Array.tabulate(m * k) { j =>
      val (s, c) = (j / k, j % k)
      (0 until subDim).map(i => q(s * subDim + i) * cb((s * k + c) * subDim + i)).sum
    }
    val df = vecs.toDF("vec_id", "v")
    val got = df.select(col("vec_id"),
        toCol(graft.plans.PqCodes(toExpr(col("v")), cb.toSeq, m, k)).as("codes"))
      .select(col("vec_id"), col("codes"),
        toCol(graft.plans.PqAdcDot(toExpr(col("codes")), lut.toSeq, m, k)).as("adc"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1), r.getDouble(2)))
      .sortBy(_._1)
    vecs.foreach { case (id, v) =>
      // driver-side argmin reimplementation
      val expCodes = (0 until m).map { s =>
        (0 until k).minBy { c =>
          (0 until subDim).map { i =>
            val d = v(s * subDim + i) - cb((s * k + c) * subDim + i); d * d
          }.sum
        }
      }
      val (_, codes, adc) = got(id.toInt)
      assert(codes.map(_ & 0xFF).toSeq === expCodes)
      // ADC dot == dot(q, reconstruction from codebook centroids)
      val recon = (0 until dim).map { d =>
        val s = d / subDim
        cb((s * k + expCodes(s)) * subDim + (d % subDim))
      }
      val reconDot = (0 until dim).map(d => q(d) * recon(d)).sum
      assert(math.abs(adc - reconDot) < 1e-9)
    }
  }

  test("connected components resolve transitive chains that pairwise dedup cannot") {
    import spark.implicits._
    // A≈B, B≈C, C≈D with no direct A≈D pair: one component rooted at A
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (20L, 21L))
      .toDF("a", "b")
    val got = DedupOps.connectedComponentsOn(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(2L -> 1L, 3L -> 1L, 4L -> 1L,
      11L -> 10L, 12L -> 10L, 21L -> 20L))
    // empty pair set converges immediately to an empty star
    assert(DedupOps.connectedComponentsOn(
      Seq.empty[(Long, Long)].toDF("a", "b")).count() === 0L)
  }

  test("connected components match driver-side union-find on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val edges = (0 until 300)
      .map(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(e => e._1 != e._2)
    // union-find that always roots at the component minimum
    val parent = Array.tabulate(120)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = (0 until 120).map(n => n.toLong -> find(n).toLong)
      .filter(p => p._1 != p._2).toMap
    val got = DedupOps.connectedComponentsOn(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect)
  }

  test("decontamination flags exactly the docs sharing an eval 4-gram") {
    import graft.sources.Tables
    val rows = TextAnalysisOps.decontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 != "src19")) // eval source never in the output
    assert(rows.forall { case (_, _, shared, flag) =>
      shared >= 0 && flag == (if (shared > 0) 1L else 0L) })
    assert(rows.exists(_._4 == 1L) && rows.exists(_._4 == 0L)) // non-trivial split
    // independent recompute of one contaminated doc's overlap
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def grams(t: String): Set[String] =
      t.split(" ").sliding(4).filter(_.length == 4).map(_.mkString(" ")).toSet
    val evalGrams = docs.filter(_._2 == "src19").flatMap(d => grams(d._3)).toSet
    val (cid, _, cShared, _) = rows.find(_._4 == 1L).get
    val cText = docs.find(_._1 == cid).get._3
    assert((grams(cText) & evalGrams).size.toLong === cShared)
  }

  test("sequence packing: shard-local offsets chain and bins respect the budget") {
    val rows = TextAnalysisOps.packSequences(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (shard, docs) =>
      val ordered = docs.sortBy(_._1)
      assert(ordered.head._4 === 0L) // first doc in a shard starts at offset 0
      ordered.sliding(2).foreach {
        case Array((_, _, nTok, cum, _), (_, _, _, cumNext, _)) =>
          assert(cumNext === cum + nTok) // offsets chain exactly
        case _ =>
      }
      ordered.foreach { case (docId, s, _, cum, seq) =>
        assert(s === docId / 128)
        assert(seq === shard * (1L << 32) + cum / 512) // bin = start-offset div budget
      }
    }
  }

  test("curation composite equals the composition of its stages") {
    import graft.sources.Tables
    val got = TextAnalysisOps.curateEndToEnd(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    // recompute from the individually-tested stage operators
    val mixKeep = TextAnalysisOps.domainMix(spark, sf).collect().map(_.getLong(0)).toSet
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def grams(t: String): Set[String] =
      t.split(" ").sliding(4).filter(_.length == 4).map(_.mkString(" ")).toSet
    val evalGrams = docs.filter(_._2 == "src19").flatMap(d => grams(d._3)).toSet
    val survivors = docs
      .filter(d => d._2 != "src19")
      .filter(d => d._3.split(" ").length >= 20)
      .filter(d => mixKeep.contains(d._1))
      .filter(d => (grams(d._3) & evalGrams).isEmpty)
      .map(d => (d._1, d._2, d._3.split(" ").length.toLong))
      .sortBy(_._1)
    assert(got.map(g => (g._1, g._2, g._3)).toSeq === survivors.toSeq)
    // packing recompute over the survivor stream
    val expSeq = scala.collection.mutable.Map[Long, Long]() // shard -> cum
    survivors.foreach { case (id, _, nTok) =>
      val shard = id / 128
      val cum = expSeq.getOrElse(shard, 0L)
      val seqId = shard * (1L << 32) + cum / 512
      assert(got.find(_._1 == id).get._4 === seqId)
      expSeq(shard) = cum + nTok
    }
  }

  test("domain mix keeps exactly the rows under their source's weight threshold") {
    import graft.sources.Tables
    val rows = TextAnalysisOps.domainMix(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, source, bucket, weight) =>
      val idx = source.replaceAll("[^0-9]", "").toLong
      assert(weight === (idx % 4 + 1) * 0.25)
      assert(bucket < weight * 1000)
    }
    // the filter is the ONLY row reduction: recompute expected keep count
    val all = Tables.documents(spark, sf).select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = all.count { case (id, src) =>
      val w = (src.replaceAll("[^0-9]", "").toLong % 4 + 1) * 0.25
      java.lang.Math.floorMod(id * 2654435761L, 1000L) < w * 1000
    }
    assert(rows.length === expected)
  }

  test("substring dedup flags the shared 20-token span, not unique, short, or partially-overlapping windows") {
    import spark.implicits._
    val span = (0 until 20).map(i => s"S$i").mkString(" ")
    def uniq(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, uniq("a", 10) + " " + span + " " + uniq("b", 10)), // span at offset 10
      (2L, uniq("c", 5) + " " + span + " " + uniq("d", 15)),  // same span, different context
      (3L, uniq("e", 40)),                                    // unique long doc
      (4L, uniq("f", 10)),                                    // shorter than the window
      (5L, uniq("g", 25)),                                    // exact-copy pair:
      (6L, uniq("g", 25))                                     //   every window duplicated
    ).toDF("doc_id", "text")
    val got = DedupOps.dedupSubstringOn(docs, 20).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // 40-token docs have 21 windows; ONLY the window equal to the planted
    // span duplicates — every other window mixes in unique context tokens
    assert(got(1L) === ((21L, 1L, 1.0 / 21)))
    assert(got(2L) === ((21L, 1L, 1.0 / 21)))
    assert(got(3L) === ((21L, 0L, 0.0)))
    assert(got(4L) === ((0L, 0L, 0.0)))
    assert(got(5L) === ((6L, 6L, 1.0)))
    assert(got(6L) === ((6L, 6L, 1.0)))
  }

  test("substring trim removes duplicated spans everywhere but the first occurrence") {
    import spark.implicits._
    val span = (0 until 20).map(i => s"S$i").mkString(" ")
    def uniq(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val d1 = uniq("a", 10) + " " + span + " " + uniq("b", 10) // first occurrence at pos 11
    val d2 = uniq("c", 5) + " " + span + " " + uniq("d", 15)  // later occurrence at pos 6
    val docs = Seq(
      (1L, d1), (2L, d2),
      (3L, uniq("e", 40)),  // unique: untouched
      (4L, uniq("f", 10)),  // shorter than the window: untouched
      (5L, uniq("g", 25)), (6L, uniq("g", 25)) // exact copies: 6 trims to empty
    ).toDF("doc_id", "text")
    val got = DedupOps.dedupSubstringTrimOn(docs, 20).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) === ((d1, 0L))) // owner keeps its span
    assert(got(2L) === ((uniq("c", 5) + " " + uniq("d", 15), 20L))) // span excised
    assert(got(3L) === ((uniq("e", 40), 0L)))
    assert(got(4L) === ((uniq("f", 10), 0L)))
    assert(got(5L) === ((uniq("g", 25), 0L)))
    assert(got(6L) === (("", 25L))) // full copy vanishes
  }

  test("substring coverage equals a suffix-array reference (the Lee et al. exact semantics)") {
    // The window-hash pass claims: token-window at position p is duplicated
    // iff p lies inside SOME duplicated substring of length >= w — the
    // suffix-array formulation of Lee et al. 2021's exact algorithm. This
    // reference computes it the suffix-array way (no hashing at all):
    // sort all suffixes of the sentinel-separated token stream; the window
    // at p repeats corpus-wide iff the suffix at p shares a prefix of
    // >= w tokens with an ADJACENT suffix in sorted order (equal w-prefixes
    // are contiguous in suffix-array order, so adjacent LCPs suffice).
    // Equality on randomized corpora pins both the coverage semantics
    // (spans longer than w, overlapping repeats, self-repeats, spans at
    // every stride offset) and collision-freedom of the 64-bit hashes.
    import spark.implicits._
    val w = 5
    def saReference(docs: Seq[(Long, Array[String])]): Map[Long, (Long, Long)] = {
      val stream = scala.collection.mutable.ArrayBuffer.empty[String]
      val owner = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
      docs.foreach { case (id, toks) =>
        toks.indices.foreach { i => stream += toks(i); owner += ((id, i)) }
        stream += s" sep$id"; owner += ((-1L, -1)) // unique: no window spans docs
      }
      val a = stream.toArray
      val n = a.length
      val sa = (0 until n).sortWith { (i, j) =>
        var p = i; var q = j
        while (p < n && q < n && a(p) == a(q)) { p += 1; q += 1 }
        if (p == n) true else if (q == n) false else a(p) < a(q)
      }
      def lcp(i: Int, j: Int): Int = {
        var l = 0
        while (i + l < n && j + l < n && a(i + l) == a(j + l)) l += 1
        l
      }
      val adj = (0 until n - 1).map(r => lcp(sa(r), sa(r + 1)))
      val dup = new Array[Boolean](n)
      (0 until n).foreach { r =>
        val best = math.max(if (r > 0) adj(r - 1) else 0,
          if (r < n - 1) adj(r) else 0)
        if (best >= w) dup(sa(r)) = true
      }
      val counts = scala.collection.mutable.Map.empty[Long, (Long, Long)]
      docs.foreach { case (id, toks) =>
        counts(id) = (math.max(toks.length - w + 1, 0).toLong, 0L)
      }
      (0 until n).foreach { g =>
        val (id, pos) = owner(g)
        if (id >= 0) {
          val len = docs.find(_._1 == id).get._2.length
          if (pos <= len - w && dup(g)) {
            val (nw, nd) = counts(id); counts(id) = (nw, nd + 1)
          }
        }
      }
      counts.toMap
    }
    Seq(11L, 22L, 33L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val vocab = (0 until 12).map(i => s"t$i")
      // random docs over a TINY vocabulary: incidental repeats at every
      // offset, plus planted structure — an exact-w span shared by two
      // docs, a long span repeated twice INSIDE one doc, a w-1 span that
      // must not flag by itself
      val spanW = Array.fill(w)(vocab(rnd.nextInt(12)))
      val spanLong = Array.fill(2 * w + 3)(vocab(rnd.nextInt(12)))
      val shortSpan = Array.fill(w - 1)(vocab(rnd.nextInt(12)))
      def randToks(k: Int) = Array.fill(k)(vocab(rnd.nextInt(12)))
      val docs: Seq[(Long, Array[String])] = Seq(
        (1L, randToks(10) ++ spanW ++ randToks(10)),
        (2L, randToks(3) ++ spanW ++ randToks(20)),
        (3L, randToks(4) ++ spanLong ++ randToks(2) ++ spanLong ++ randToks(4)),
        (4L, shortSpan ++ randToks(8) ++ shortSpan),
        (5L, randToks(w - 1)), // shorter than the window
        (6L, randToks(40)), (7L, randToks(40)), (8L, randToks(60))
      )
      val got = DedupOps.dedupSubstringOn(
          docs.map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text"), w)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val want = saReference(docs)
      assert(got === want, s"seed $seed: window-hash coverage diverged from the suffix array")
    }
  }

  test("substring trim ownership holds for a 100k-window document (no key-space aliasing)") {
    // A doc_id*100000+pos scalar encoding aliases here: doc 1's occurrence
    // at pos 100001 keys to 1*100000+100001 = 200001 — the SAME key as
    // doc 2's occurrence at pos 1 (2*100000+1). The lexicographic
    // (doc_id, pos) tuple-min must award ownership to doc 1 and trim
    // doc 2's copy; the aliased encoding sees two occurrences of one key
    // and trims neither.
    import spark.implicits._
    val book = (0 until 100020).map(i => s"a$i").mkString(" ") // 100,001 windows
    val span = (100000 until 100020).map(i => s"a$i").mkString(" ") // = book's window at pos 100001
    val tail = (0 until 20).map(i => s"b$i").mkString(" ")
    val docs = Seq((1L, book), (2L, span + " " + tail)).toDF("doc_id", "text")
    val got = DedupOps.dedupSubstringTrimOn(docs, 20).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) === ((book, 0L)), "the first occurrence (doc 1, pos 100001) must keep its span")
    assert(got(2L) === ((tail, 20L)), "doc 2's copy of the span must be trimmed")
  }

  test("image near-dup recovers resized, re-encoded, and mildly-edited copies via dHash blocking") {
    import spark.implicits._
    import graft.operators.{MediaRecord, MultimodalOps}
    val rnd = new scala.util.Random(1234L)
    val bytesA = Array.fill(192)(rnd.nextInt(256).toByte)
    val bytesD = Array.fill(192)(rnd.nextInt(256).toByte)
    // E = A with one mosaic block recolored white → black — a mild edit,
    // not a new image; the extreme swap guarantees the gradient signs
    // against the block's two grid neighbors flip
    (30 to 32).foreach(i => bytesA(i) = 0xFF.toByte)
    val bytesE = bytesA.clone()
    (30 to 32).foreach(i => bytesE(i) = 0x00.toByte)
    val mosaicA = MultimodalOps.renderPpm(bytesA)
    // C = the same picture PNG-re-encoded (decode the P6 raster into a
    // BufferedImage, write PNG): byte-level unrelated, perceptually equal
    val png = {
      val (w, h, _, off) = MultimodalOps.parsePpm(mosaicA).get
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val p = off + (y * w + x) * 3
        img.setRGB(x, y, ((mosaicA(p) & 0xFF) << 16) |
          ((mosaicA(p + 1) & 0xFF) << 8) | (mosaicA(p + 2) & 0xFF))
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val records = Seq(
      MediaRecord(1L, mosaicA, "image/x-portable-pixmap"),
      MediaRecord(3L, png, "image/png"),
      MediaRecord(4L, MultimodalOps.renderPpm(bytesD), "image/x-portable-pixmap"),
      MediaRecord(5L, MultimodalOps.renderPpm(bytesE), "image/x-portable-pixmap"),
      MediaRecord(6L, "not an image".getBytes("UTF-8"), "text/plain")).toDS
    val withResize = records.unionAll(
      MultimodalOps.resizePpm(records.filter((r: MediaRecord) => r.doc_id == 1L), 48, 48)
        .map(r => MediaRecord(2L, r.payload, r.mime)))
    val df = DedupOps.imageNearDupOn(withResize, maxHamming = 8)
    // blocked equi-join only — a cross join here would be quadratic at scale
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    val pairs = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // resize and PNG re-encode are perceptually identical to the original
    assert(pairs((1L, 2L)) === 0 && pairs((1L, 3L)) === 0 && pairs((2L, 3L)) === 0)
    // the one-block edit moves at most two gradient signs per affected row
    assert(pairs.contains((1L, 5L)) && pairs((1L, 5L)) > 0 && pairs((1L, 5L)) <= 4)
    // the unrelated mosaic pairs with nothing; unclaimed payloads drop out
    assert(!pairs.keys.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.keys.exists(p => p._1 == 6L || p._2 == 6L))
  }

  test("bigram LM score: hand-computable corpus, repeated bigrams score high, rare transitions flagged") {
    import spark.implicits._
    import graft.sources.Tables
    // fixture-level: recompute the whole thing driver-side, exactly
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val allBigrams = docs.flatMap { case (_, t) =>
      val w = t.split(" "); if (w.length < 2) Seq.empty else w.sliding(2).map(a => (a(0), a(1))).toSeq
    }
    val c1 = allBigrams.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val c2 = allBigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expect = docs.map { case (id, t) =>
      val w = t.split(" ")
      if (w.length < 2) id -> ((0L, 0.0, 0.0))
      else {
        val ps = w.sliding(2).map { a =>
          c2((a(0), a(1))).toDouble / c1(a(0))
        }.toSeq
        // floor(x + 0.5) everywhere — the operator's binary-double HALF_UP
        val sumMicros = ps.map(p => math.floor(p * 1e6 + 0.5).toLong).sum
        val avg = math.floor(sumMicros.toDouble / ps.length + 0.5) / 1e6
        id -> ((ps.length.toLong, avg, math.floor(ps.min * 1e6 + 0.5) / 1e6))
      }
    }.toMap
    val got = TextAnalysisOps.lmBigramScore(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.keySet === expect.keySet)
    got.foreach { case (id, (n, avg, mn)) =>
      val (en, eavg, emn) = expect(id)
      assert(n === en, s"doc $id n_bigrams")
      assert(math.abs(avg - eavg) < 1e-9, s"doc $id avg: $avg vs $eavg")
      assert(math.abs(mn - emn) < 1e-9, s"doc $id min: $mn vs $emn")
    }
    // structural: a doc that is one repeated bigram scores 1.0; a unique
    // transition inside an otherwise-common context scores its rarity
    val synth = Seq(
      (1L, "a b a b a b a b"),  // (a,b) and (b,a) dominate their contexts
      (2L, "a b a b a zzz b"))  // (a,zzz) is 1 of a's 5 transitions
      .toDF("doc_id", "text")
    val s = TextAnalysisOps.lmBigramScoreOn(synth)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    // doc 1: every (a,b) is 5/6 of a's transitions... compute: a appears as
    // left 6 times total ((a,b)x5 + (a,zzz)x1), b as left 5 ((b,a)x5)
    assert(s(1L)._2 > 0.8)  // both transition types are their context's bulk
    assert(s(2L)._2 <= 1.0 / 5.0 + 1e-9) // the zzz transition is rare
  }

  test("BPE training reproduces the Sennrich toy example and encodes 'lowest' as low + est") {
    // the published worked example: {low:5, lower:2, newest:6, widest:3}
    val words = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val merges = TextAnalysisOps.bpeTrainLocal(words, 5)
    assert(merges === Seq(("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"), ("lo", "w")))
    val rank = merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    // the canonical subword split: an UNSEEN word decomposes into learned units
    assert(TextAnalysisOps.bpeEncodeWord("lowest", rank) === Vector("low", "est</w>"))
    // unseen characters degrade gracefully to character granularity
    assert(TextAnalysisOps.bpeEncodeWord("xyz", rank) ===
      Vector("x", "y", "z", "</w>"))
  }

  test("BPE token counts match an independent apply-in-training-order reference") {
    import spark.implicits._
    // greedy lowest-rank-first (the operator) ≡ applying merges in training
    // order (this reference): a lower-rank pair can never be CREATED by a
    // higher-rank merge, so the two formulations agree — cross-checked here
    def refEncode(word: String, merges: Seq[(String, String)]): Vector[String] = {
      var syms = word.map(_.toString).toVector :+ "</w>"
      merges.foreach { case (l, r) =>
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
            out += l + r; j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.result()
      }
      syms
    }
    val rnd = new scala.util.Random(31337L)
    val vocabWords = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "albedo", "betamax", "gambit", "alphabet")
    val docs = (0 until 30).map { i =>
      (i.toLong, Seq.fill(5 + rnd.nextInt(15))(
        vocabWords(rnd.nextInt(vocabWords.length))).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val merges = TextAnalysisOps.bpeTrain(df, nMerges = 40)
    assert(merges.nonEmpty)
    val got = TextAnalysisOps.bpeTokenCountOn(spark, df, merges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    docs.foreach { case (id, text) =>
      val ws = text.split(" ").filter(_.nonEmpty)
      val expect = ws.map(w => refEncode(w, merges).length.toLong).sum
      assert(got(id) === ((ws.length.toLong, expect)), s"doc $id")
    }
  }

  test("fixture BPE tokens: deterministic, bounded by words and characters") {
    val r1 = TextAnalysisOps.bpeTokens(spark, sf, nMerges = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val r2 = TextAnalysisOps.bpeTokens(spark, sf, nMerges = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(r1.toSeq === r2.toSeq) // data-seeded training is deterministic
    assert(r1.nonEmpty)
    r1.foreach { case (_, nWords, nBpe) =>
      assert(nBpe >= nWords) // a word is at least one token
    }
    // merges actually compress: total BPE tokens well under char+word count
    import graft.sources.Tables
    val totalBpe = r1.map(_._3).sum
    val totalCharPlusWord = Tables.documents(spark, sf)
      .select(sum(length(regexp_replace(col("text"), " ", "")) +
        size(split(col("text"), " "))))
      .head().getLong(0)
    assert(totalBpe < totalCharPlusWord / 2,
      s"BPE failed to compress: $totalBpe vs char-level $totalCharPlusWord")
  }

  test("semantic cell dedup: planted clusters resolve to their canonical; kCells=1 is the exact ceiling") {
    import spark.implicits._
    val rnd = new scala.util.Random(2025L)
    val dim = 8
    // 4 well-separated clusters of 12 vectors: within-cluster cosine high,
    // cross-cluster low — the regime SemDeDup's learned blocking targets
    def vecNear(c: Int): Seq[Double] =
      Seq.tabulate(dim)(i => (if (i % 4 == c) 1.0 else 0.03) + rnd.nextDouble() * 0.03)
    val vecs = (0 until 48).map(i => (i.toLong, vecNear(i % 4)))
    val emb = vecs.toDF("vec_id", "embedding")
    val got = DedupOps.semanticDedupCellsOn(emb, tau = 0.9, kCells = 4, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // brute-force exact pairs at the same tau (driver-side), canonical =
    // min in-cluster id; clusters are separated so cross-cluster cos < tau
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val ab = a.zip(b).map { case (x, y) => x * y }.sum
      ab / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val exact = vecs.flatMap { case (bId, bV) =>
      val lowers = vecs.filter { case (aId, aV) => aId < bId && cos(aV, bV) >= 0.9 }
      if (lowers.isEmpty) None else Some(bId -> lowers.map(_._1).min)
    }.toMap
    assert(exact.nonEmpty && exact.values.toSet === Set(0L, 1L, 2L, 3L))
    // with cells aligned to the planted clusters, the blocked result IS the
    // exact result — learned blocking loses nothing inside its clusters
    assert(got === exact)
    // kCells=1 degrades to the exact all-pairs join for ANY geometry — the
    // recall ceiling the published method trades against
    val one = DedupOps.semanticDedupCellsOn(emb, tau = 0.9, kCells = 1, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(one === exact)
    // the trade is real: a planted cross-cell pair (one vector per cluster
    // direction, nudged together) can be missed when cells split it —
    // verified structurally instead: every reported pair is within-cell
    val cells = DedupOps.semanticDedupCellsOn(emb, tau = 0.0, kCells = 4, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // at tau=0 every within-cell pair reports; 4 cells × 12 → 11 dups each
    assert(cells.length === 44 && cells.map(_._2).distinct.sorted.toSeq === Seq(0L, 1L, 2L, 3L))

    // BOUNDARY PROBE (epsilon knob): a near-dup pair sitting ON the cell
    // boundary — one member leaning to each side — is missed at eps=0 (the
    // published SemDeDup trade) and recovered once multi-assignment blocks
    // both members into both cells
    val u = Seq.tabulate(dim)(i => if (i == 0) 1.02 else if (i == 1) 1.0 else 0.0)
    val v = Seq.tabulate(dim)(i => if (i == 0) 1.0 else if (i == 1) 1.02 else 0.0)
    val emb2 = Seq((100L, u), (101L, v)).toDF("vec_id", "embedding")
    // fixed centroids e0/e1 (no k-means noise): u leans e0, v leans e1 —
    // the pair splits at eps=0 even though cos(u,v) ≈ 0.9998 ≥ tau
    val cents = (Seq.tabulate(dim)(i => if (i == 0) 1.0 else 0.0) ++
      Seq.tabulate(dim)(i => if (i == 1) 1.0 else 0.0)).toArray
    def pairFound(eps: Double): Boolean =
      DedupOps.semanticDedupWithCentroids(emb2, cents, kCells = 2,
          tau = 0.95, epsilon = eps)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .contains((101L, 100L))
    assert(!pairFound(0.0), "the split boundary pair must be missed at eps=0")
    assert(pairFound(0.05), "eps multi-assignment must recover the boundary pair")
  }

  test("semantic dedup giant-cell refinement: cells split below the cap, tight groups survive, deterministic") {
    import spark.implicits._
    val dim = 8
    val rnd = new scala.util.Random(31L)
    // a GIANT diffuse cell: 60 vectors all nearest centroid c0, but spread
    // into 3 internal tight groups (20 each) + one small cell of 6 at c1
    def around(base: Seq[Double], r: Double): Seq[Double] = {
      val v = base.zip(Seq.fill(dim)(rnd.nextGaussian())).map { case (b, g) => b + r * g }
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val g1 = Seq.tabulate(dim)(i => if (i == 0) 1.0 else 0.10)
    val g2 = Seq.tabulate(dim)(i => if (i == 0) 1.0 else if (i == 1) 0.45 else 0.0)
    val g3 = Seq.tabulate(dim)(i => if (i == 0) 1.0 else if (i == 2) 0.45 else 0.0)
    val far = Seq.tabulate(dim)(i => if (i == 3) 1.0 else 0.0)
    // ids interleave the groups (group = id % 3) so the deterministic
    // first-rows sub-k-means seeding sees every group
    val groups = Seq(g1, g2, g3)
    val rows = (0 until 60).map(i => (i.toLong, around(groups(i % 3), 0.01))) ++
      (60 until 66).map(i => (i.toLong, around(far, 0.01)))
    val emb = rows.toDF("vec_id", "embedding")
    // centroids: c0 = the shared e0-ish direction (all 60 land there), c1 = far
    val cents = (Seq.tabulate(dim)(i => if (i == 0) 1.0 else 0.0) ++ far).toArray

    // structural: after refinement no cell exceeds the cap
    val assigned = emb.select($"vec_id", $"embedding",
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.plans.NearestCentroid(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression($"embedding"),
          cents.toSeq, 2)).cast("long").as("cell"))
    val refined = DedupOps.refineCells(assigned, maxCellRows = 25, subK = 4)
    val sizes = refined.groupBy($"cell").count().collect().map(_.getLong(1))
    assert(sizes.forall(_ <= 25), s"refined cell sizes: ${sizes.mkString(",")}")
    assert(refined.count() === 66) // row-preserving

    // tight groups survive the split: a subcell is group-pure (intra-group
    // cosine ≫ inter-group), so every mapping stays inside its own group
    // and most members still find an in-subcell lower-id neighbor — the
    // under-merge-only contract (finer groups, never a wrong merge)
    val dups = DedupOps.semanticDedupWithCentroids(emb, cents, 2, tau = 0.97,
        maxCellRows = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(dups.nonEmpty)
    dups.foreach { case (d, c) =>
      if (d >= 60L) assert(c >= 60L, s"far-cell doc $d merged into $c")
      else assert(c < 60L && d % 3 === c % 3,
        s"mapping $d -> $c crossed a planted group — a wrong merge")
    }
    (0 until 3).foreach { g =>
      val found = (0 until 60).count(i => i % 3 == g && dups.contains(i.toLong))
      assert(found >= 15, s"group $g kept only $found/19 dedup mappings after the split")
    }
    // deterministic: the refinement trains seeded k-means per hot cell
    val again = DedupOps.semanticDedupWithCentroids(emb, cents, 2, tau = 0.97,
        maxCellRows = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(again === dups)
  }

  test("URL canonicalization: case/port/tracking/fragment/param-order variants collapse; dissimilar urls do not") {
    import spark.implicits._
    import graft.operators.TextOps
    def canon(u: String): String =
      Seq(Tuple1(u)).toDF("u").select(TextOps.canonicalizeUrl($"u")).head().getString(0)
    val want = "http://www.example.com/d/7?a=1&b=2"
    // the five fixture noise classes
    assert(canon("http://www.example.com/d/7?a=1&b=2") === want)
    assert(canon("HTTP://WWW.EXAMPLE.COM/d/7?a=1&b=2") === want)
    assert(canon("http://www.example.com:80/d/7?a=1&b=2") === want)
    assert(canon("http://www.example.com/d/7?b=2&utm_source=news&a=1") === want)
    assert(canon("http://www.example.com/d/7?a=1&b=2#section-3") === want)
    // edge cases
    assert(canon("https://Host.Example.com:443/P?gclid=x") === "https://host.example.com/P")
    assert(canon("https://h.co:8443/x") === "https://h.co:8443/x") // non-default port kept
    assert(canon("http://h.co/A/B?ref=nav") === "http://h.co/A/B")  // path case preserved
    assert(canon("http://h.co/x?utm=1") === "http://h.co/x?utm=1")  // bare 'utm' is NOT a tracking prefix
    assert(canon("http://h.co/x?refresh=1") === "http://h.co/x?refresh=1") // 'ref' matches whole name only
    assert(canon("http://h.co/x?") === "http://h.co/x")
    // distinct identities stay distinct
    assert(canon("http://h.co/x?a=1") !== canon("http://h.co/x?a=2"))
    assert(canon("http://h.co/x") !== canon("https://h.co/x"))
    // the fixture dedup: every 5-doc group collapses to its lowest id
    val dups = TextOps.urlDedup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dups.nonEmpty)
    dups.foreach { case (d, c) =>
      assert(d / 5 === c / 5 && c % 5 === 0L && d % 5 != 0L) }
    val n = graft.sources.Tables.documents(spark, sf).count()
    assert(dups.length === (n - (n + 4) / 5).toInt) // all non-keepers flagged
  }

  test("temperature mix: tail domains keep more than head domains; kept mass near target") {
    import spark.implicits._
    import graft.operators.TextAnalysisOps
    val out = TextAnalysisOps.domainMixTemperature(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.nonEmpty)
    val keepBySource = out.groupBy(_._2).view.mapValues(_.head._3).toMap
    // per-source keep rate is a single value (the broadcast rate)
    out.groupBy(_._2).foreach { case (s, rows) =>
      assert(rows.map(_._3).distinct.length === 1, s"rate must be constant per source $s")
    }
    // α = 0.5 keep rate is monotone NON-INCREASING in source size: verify
    // against the independently recomputed sizes
    val sizes = graft.sources.Tables.documents(spark, sf)
      .groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rates = keepBySource.toSeq.map { case (s, k) => (sizes(s), k) }.sortBy(_._1)
    rates.sliding(2).foreach {
      case Seq((n1, k1), (n2, k2)) if n1 < n2 =>
        assert(k1 >= k2 - 1e-9, s"smaller source ($n1) must keep ≥ larger ($n2): $k1 vs $k2")
      case _ =>
    }
    // kept mass lands near the 0.5 target (hash-bucket granularity)
    val total = graft.sources.Tables.documents(spark, sf).count().toDouble
    val frac = out.length / total
    assert(frac > 0.35 && frac < 0.65, s"kept fraction drifted: $frac")
  }

  test("LR quality filter: separable classes learned; deterministic; fixture gate recovered above base rate") {
    import spark.implicits._
    import graft.operators.MlOps
    // (1) two disjoint vocabularies — linearly separable in hashed BOW —
    // must train to (near-)perfect agreement
    val rnd = new scala.util.Random(11L)
    val goodV = Vector("alpha", "beta", "gamma", "delta")
    val badV = Vector("zork", "quux", "fnord", "bleep")
    val docs = (0 until 80).map { i =>
      val v = if (i % 2 == 0) goodV else badV
      (i.toLong, Seq.fill(6 + rnd.nextInt(10))(v(rnd.nextInt(v.length))).mkString(" "),
        if (i % 2 == 0) 1.0 else 0.0)
    }
    val df = docs.toDF("doc_id", "text", "label")
    val (w, b) = MlOps.trainQualityLr(df, dim = 64, iters = 40)
    val preds = MlOps.scoreQualityLr(df.select($"doc_id", $"text"), w, b)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val correct = docs.count { case (id, _, y) => preds(id) == y.toInt }
    assert(correct >= 78, s"separable classes must be learned: $correct/80")
    // (2) deterministic: same data, same model, bit-for-bit
    val (w2, b2) = MlOps.trainQualityLr(df, dim = 64, iters = 40)
    assert(w.toSeq === w2.toSeq && b === b2)
    // (3) fixture: the trained gate beats the predict-majority base rate
    // comfortably (measured ~0.87 train agreement vs 0.63 base)
    val scored = MlOps.qualityLrFixture(spark, sf)
    val lab = graft.operators.TextAnalysisOps.qualityScore(spark, sf)
      .select($"doc_id", ($"quality" >= 0.5).cast("int").as("label"))
    val j = scored.join(lab, "doc_id").cache()
    try {
      val n = j.count().toDouble
      val acc = j.filter($"pred" === $"label").count() / n
      val base = math.max(lab.filter($"label" === 1).count(),
        lab.filter($"label" === 0).count()) / n
      assert(acc >= base + 0.1,
        f"trained gate must beat the base rate: acc=$acc%.3f base=$base%.3f")
      // scores are calibrated probabilities, not raw margins
      assert(scored.filter($"score" < 0.0 || $"score" > 1.0).count() === 0)
    } finally j.unpersist()
  }

  test("stored semantic dedup: frozen model equals live; mini-batch tracks clusters; replays no-op") {
    import spark.implicits._
    import graft.sources.{CatalogOps, Tables}
    val db = "kmeansmodel_t"
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + s"/$db.db"))
    CatalogOps.createDatabase(spark, db)
    // (1) model trained on the full fixture with the live parameters →
    // the stored probe is bit-identical to the live train-per-call path
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    CatalogOps.createKmeansModel(spark, db, "full", emb, kCells = 8, iters = 3)
    val stored = DedupOps.semanticDedupStored(spark, db, "full", emb, tau = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val live = DedupOps.semanticDedupCells(spark, sf, tau = 0.45, kCells = 8, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(stored === live)
    // (2) mini-batch maintenance on planted clusters: seed on half the
    // corpus, age with two mini-batches — centroids land on the cluster
    // means anyway (count-weighted running mean), counts account all rows
    val rnd = new scala.util.Random(7L)
    val dim = 8
    def vecNear(c: Int): Seq[Double] =
      Seq.tabulate(dim)(i => (if (i % 4 == c) 1.0 else 0.03) + rnd.nextDouble() * 0.03)
    val vecs = (0 until 48).map(i => (i.toLong, vecNear(i % 4)))
    val pdf = vecs.toDF("vec_id", "embedding")
    CatalogOps.createKmeansModel(spark, db, "planted",
      pdf.filter($"vec_id" < 24), kCells = 4, iters = 3)
    CatalogOps.upsertKmeansModel(spark, db, "planted",
      pdf.filter($"vec_id" >= 24 && $"vec_id" < 36), batchId = 0L)
    CatalogOps.upsertKmeansModel(spark, db, "planted",
      pdf.filter($"vec_id" >= 36), batchId = 1L)
    val (cents, counts, k, d, wm) = CatalogOps.readKmeansModel(spark, db, "planted")
    assert(k === 4 && d === dim && wm === 1L && counts.sum === 48L)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val ab = a.zip(b).map { case (x, y) => x * y }.sum
      ab / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    (0 until 4).foreach { c =>
      val mean = (0 until dim).map(i =>
        vecs.filter(_._1 % 4 == c).map(_._2(i)).sum / 12.0)
      val best = (0 until 4).map(cell =>
        cos(cents.slice(cell * dim, (cell + 1) * dim).toSeq, mean)).max
      assert(best > 0.999, s"cluster $c lost by the aged model (best cos $best)")
    }
    // (3) replays: at-or-below-watermark batches must not move the model
    val before = spark.table(s"`$db`.`planted__kmeans`").collect().map(_.toString).sorted.toSeq
    CatalogOps.upsertKmeansModel(spark, db, "planted",
      pdf.filter($"vec_id" >= 36), batchId = 1L)
    CatalogOps.upsertKmeansModel(spark, db, "planted",
      pdf.filter($"vec_id" >= 24 && $"vec_id" < 36), batchId = 0L)
    val after = spark.table(s"`$db`.`planted__kmeans`").collect().map(_.toString).sorted.toSeq
    assert(after === before, "replayed mini-batches must be no-ops")
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
  }

  test("image dedup components: a chain of variants resolves to one group") {
    import spark.implicits._
    import graft.operators.{MediaRecord, MultimodalOps}
    val rnd = new scala.util.Random(555L)
    val bytes = Array.fill(192)(rnd.nextInt(256).toByte)
    val m = MultimodalOps.renderPpm(bytes)
    // chain: original → resize → resize-of-resize; plus one unrelated image
    val base = Seq(
      MediaRecord(1L, m, "image/x-portable-pixmap"),
      MediaRecord(4L, MultimodalOps.renderPpm(
        Array.fill(192)(rnd.nextInt(256).toByte)), "image/x-portable-pixmap")).toDS
    val r1 = MultimodalOps.resizePpm(base.filter((r: MediaRecord) => r.doc_id == 1L), 48, 48)
      .map(r => MediaRecord(2L, r.payload, r.mime))
    val r2 = MultimodalOps.resizePpm(r1, 64, 64)
      .map(r => MediaRecord(3L, r.payload, r.mime))
    val got = DedupOps.imageDedupConnectedOn(base.unionAll(r1).unionAll(r2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
  }

  test("fixture image near-dup recovers every planted resized copy") {
    import graft.sources.Tables
    val pairs = DedupOps.imageNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = Tables.documents(spark, sf).select("doc_id").collect()
      .map(_.getLong(0)).filter(_ % 5 == 0).map(d => (d, d + 10000)).toSet
    assert(planted.nonEmpty && planted.subsetOf(pairs),
      s"missing planted pairs: ${(planted -- pairs).take(5)}")
  }

  test("perceptual hashes are decode-invariant and discriminate unrelated images") {
    import spark.implicits._
    import graft.operators.{MediaRecord, MultimodalOps}
    val rnd = new scala.util.Random(77L)
    val bytes = Array.fill(192)(rnd.nextInt(256).toByte)
    val mosaic = MultimodalOps.renderPpm(bytes)
    val other = MultimodalOps.renderPpm(Array.fill(192)(rnd.nextInt(256).toByte))
    val hs = MultimodalOps.perceptualHash(Seq(
      MediaRecord(1L, mosaic, "image/x-portable-pixmap"),
      MediaRecord(2L, other, "image/x-portable-pixmap")).toDS)
      .collect().sortBy(_.doc_id)
    // dHash and aHash both populated and different across unrelated images
    assert(hs(0).dhash !== hs(1).dhash)
    assert(hs(0).ahash !== hs(1).ahash)
    assert(java.lang.Long.bitCount(hs(0).dhash ^ hs(1).dhash) > 8)
  }

  test("sample split is not aliased with the domain-mix bucket: valid/test draw from low-weight sources") {
    // With a shared multiplier, every doc surviving a weight-w source has
    // mix bucket < w*1000, so valid/test (split bucket >= 800) could only
    // come from weight-1.0 sources. The independent split hash must give
    // mix survivors from weight <= 0.75 sources a chance at every split.
    val mixed = TextAnalysisOps.domainMix(spark, sf)
      .select("doc_id", "weight")
    val splits = TextAnalysisOps.sampleSplit(spark, sf)
      .select("doc_id", "split")
    val joined = mixed.join(splits, "doc_id")
      .collect().map(r => (r.getDouble(1), r.getString(2)))
    assert(joined.nonEmpty)
    val lowWeight = joined.filter(_._1 <= 0.75)
    assert(lowWeight.nonEmpty, "fixture must contain weight<=0.75 sources")
    val lowSplits = lowWeight.map(_._2).toSet
    assert(lowSplits.contains("valid") || lowSplits.contains("test"),
      s"mix survivors from low-weight sources landed only in $lowSplits — split hash aliased with mix hash")
    // and the split itself stays deterministic: bucket = id*3266489917 mod 1000
    val buckets = TextAnalysisOps.sampleSplit(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    buckets.foreach { case (id, b, s) =>
      assert(b === java.lang.Math.floorMod(id * 3266489917L, 1000L))
      val exp = if (b < 800) "train" else if (b < 900) "valid" else "test"
      assert(s === exp)
    }
  }

  test("crawl delta: classification matches a brute diff of the two snapshots") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    // brute-force the fixture's old/new snapshots and their hash diff
    val expected = docs.keys.flatMap { id =>
      val inOld = id % 11 != 3
      val inNew = id % 17 != 5
      val oldText = if (id % 13 == 0) docs(id).take(10) else docs(id)
      (inOld, inNew) match {
        case (false, true) => Some(id -> "added")
        case (true, false) => Some(id -> "removed")
        case (true, true) if oldText != docs(id) => Some(id -> "changed")
        case _ => None
      }
    }.toMap
    val got = FrontierOps.crawlDelta(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got === expected)
    // hashes present exactly on the sides that exist
    FrontierOps.crawlDelta(spark, sf).collect().foreach { r =>
      r.getString(1) match {
        case "added"   => assert(r.isNullAt(2) && !r.isNullAt(3))
        case "removed" => assert(!r.isNullAt(2) && r.isNullAt(3))
        case "changed" => assert(!r.isNullAt(2) && !r.isNullAt(3) &&
          r.getString(2) != r.getString(3))
      }
    }
    assert(expected.values.toSet === Set("added", "removed", "changed"),
      "fixture must exercise all three classes")
  }

  test("crawl frontier: politeness cap respected, slots dense, priority formula exact") {
    val rows = FrontierOps.crawlFrontier(spark, sf, perHostCap = 8).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "source", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val rate = Map("en" -> 5L, "fr" -> 4L, "es" -> 3L, "de" -> 2L)
    val prio = docs.map { case (id, _, lang, nc) =>
      id -> ((id % 30) * rate.getOrElse(lang, 1L) + nc % 7) }.toMap
    rows.foreach { case (_, _, id, p) => assert(p === prio(id)) }
    rows.groupBy(_._1).foreach { case (host, hs) =>
      assert(hs.length <= 8)
      val hostSize = docs.count(_._2 == host)
      assert(hs.length === math.min(8, hostSize), s"host $host not filled")
      assert(hs.map(_._2).sorted.toSeq === (1 to hs.length).map(_.toLong))
      // slots ordered by descending priority, doc_id tiebreak
      val bySlot = hs.sortBy(_._2).map(r => (r._4, r._3))
      assert(bySlot.sameElements(bySlot.sortBy { case (p, id) => (-p, id) }))
      // nothing outside the schedule beats anything inside it
      val scheduled = hs.map(_._3).toSet
      val bestOutside = docs.filter(d => d._2 == host && !scheduled.contains(d._1))
        .map(d => (prio(d._1), -d._1)).sorted.reverse.headOption
      val worstInside = bySlot.last
      bestOutside.foreach { case (p, negId) =>
        assert(p < worstInside._1 || (p == worstInside._1 && -negId > worstInside._2)) }
    }
  }

  test("bloom reduce: no false negatives, fp rate in bound, reduced join equals plain join") {
    import spark.implicits._
    import graft.functions.BloomFunctions
    // membership law on a synthetic key set: every inserted key passes
    val keys = (0L until 3000L).map(_ * 2654435761L % 1000003L).distinct
    val build = keys.toDF("k")
    val m = BloomFunctions.sizeFor(keys.length.toLong)
    val words = BloomFunctions.buildBloomWords(build, "k", m)
    assert(words.length === (m / 64).toInt)
    val bloomDf = Seq(Tuple1(words)).toDF("__bloom_words")
    def survivors(probe: Seq[Long]): Seq[Long] =
      probe.toDF("k").crossJoin(bloomDf)
        .where(BloomFunctions.mightContain(col("k"), col("__bloom_words"), m))
        .select("k").collect().map(_.getLong(0)).toSeq
    assert(survivors(keys).toSet === keys.toSet, "false negative — forbidden")
    // absent keys: fp rate must sit near the designed ~1e-3 (loose 1%)
    val absent = (1L to 20000L).map(_ + 2000000L)
    val fps = survivors(absent).length
    assert(fps <= absent.length / 100, s"fp rate ${fps.toDouble / absent.length}")
    // determinism: rebuild over a different partitioning, same words
    val words2 = BloomFunctions.buildBloomWords(build.repartition(7), "k", m)
    assert(words.sameElements(words2))
    // SQL surface: bloom_might_contain equals the Column API verdicts
    val sqlSurvivors = {
      Seq(Tuple1(words)).toDF("bw").createOrReplaceTempView("bloom_words_v")
      val probeAll = (keys ++ (1L to 500L).map(_ + 2000000L))
      probeAll.toDF("k").createOrReplaceTempView("bloom_probe_v")
      spark.sql(
        s"""SELECT k FROM bloom_probe_v CROSS JOIN bloom_words_v
           |WHERE bloom_might_contain(k, bw, ${m}L)""".stripMargin)
        .collect().map(_.getLong(0)).toSet
    }
    val apiSurvivors = (keys ++ (1L to 500L).map(_ + 2000000L))
      .toDF("k").crossJoin(bloomDf)
      .where(BloomFunctions.mightContain(col("k"), col("__bloom_words"), m))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(sqlSurvivors === apiSurvivors)
    // the contract query equals the unreduced join bit-for-bit
    val got = RelOps.joinBloom(spark, sf).collect()
    val build2 = graft.sources.Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val plain = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("rev"))
      .join(build2, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("rev"), col("o_orderdate"))
      .orderBy(col("l_orderkey").asc, col("l_linenumber").asc)
      .collect()
    assert(got.sameElements(plain))
    // and the reduction is real: probe survivors ≈ build selectivity + fp
    val probeAll = graft.sources.Tables.lineitem(spark, sf).select(col("l_orderkey"))
    val reduced = BloomFunctions.bloomReduce(spark, probeAll, "l_orderkey",
      build2, "o_orderkey").count()
    val total = probeAll.count()
    assert(reduced < total * 0.15, s"probe kept $reduced of $total")
  }

  test("exact quantile refinement equals the sorted-array order statistic") {
    import spark.implicits._
    // Forced multi-round refinement: tiny bins + tiny exact threshold on a
    // mix of a continuous ramp, a heavy duplicate spike (40% one value),
    // and negative values. Seeded PRNG — deterministic.
    val rnd = new scala.util.Random(42)
    val vals = Seq.fill(5000) {
      val u = rnd.nextDouble()
      if (u < 0.4) 123.456 else rnd.nextDouble() * 2000.0 - 500.0
    }
    val ps = Seq(0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0)
    val got = RelOps.quantileExactOn(vals.toDF("x"), "x", ps,
      buckets = 8, exactThreshold = 10, maxIters = 32).toMap
    val sorted = vals.sorted
    ps.foreach { p =>
      val want = sorted(math.floor(p * (vals.length - 1)).toInt)
      assert(got(p) === want, s"p=$p")
    }
    // Degenerate: all values identical collapses via lo == hi, no endgame
    val const = Seq.fill(100)(7.5).toDF("x")
    assert(RelOps.quantileExactOn(const, "x", Seq(0.5)).head._2 === 7.5)
    // Pathologically narrow range (sub-ulp spreads) must still terminate
    val tight = Seq.tabulate(200)(i => 1.0 + i * 1e-16).toDF("x")
    val t50 = RelOps.quantileExactOn(tight, "x", Seq(0.5),
      buckets = 4, exactThreshold = 2, maxIters = 3).head._2
    val tsorted = Seq.tabulate(200)(i => 1.0 + i * 1e-16).sorted
    assert(t50 === tsorted(math.floor(0.5 * 199).toInt))
    // Contract query agrees with a brute in-Spark sort at the fixture
    val fixture = RelOps.quantileExact(spark, sf).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val all = graft.sources.Tables.orders(spark, sf)
      .select(col("o_totalprice").cast("double")).collect().map(_.getDouble(0)).sorted
    Seq(0.25, 0.5, 0.75, 0.95).foreach { p =>
      assert(fixture(p) === all(math.floor(p * (all.length - 1)).toInt), s"fixture p=$p")
    }
  }

  test("hot-key salted join equals the plain join on a planted giant key") {
    import spark.implicits._
    // 60% of probe rows share ONE key; the rest spread over 1000 keys.
    val probe = spark.range(20000).select(
      col("id").as("rid"),
      when(col("id") % 5 < 3, lit(77L)).otherwise(col("id") % 1000).as("k"))
    val build = spark.range(1000).select(col("id").as("bk"),
      (col("id") * 13 % 101).as("bv"))
    val got = RelOps.joinHotSalted(probe, "k", "rid", build, "bk",
        hotThreshold = 1000L, saltFactor = 8)
      .select("rid", "k", "bv").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val plain = probe.join(build, col("k") === col("bk"))
      .select("rid", "k", "bv").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.length === plain.length && got.sameElements(plain))
    // the hot set is exactly {77}: replication must be bounded by
    // |build_hot| * (S-1) = 7 extra build rows, not build * S
    val hotCount = probe.groupBy(col("k")).count()
      .where(col("count") > 1000).count()
    assert(hotCount === 1)
    // skew report arithmetic vs brute on the same frame
    val rep = RelOps.keySkewOn(probe, "k", topK = 3, partitions = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val n = 20000L
    val topCnt = probe.where(col("k") === 77L).count()
    assert(rep.head === ((77L, topCnt, topCnt * 1000000L / n,
      (topCnt * 32L + n - 1) / n)))
    assert(rep.head._4 >= 2, "giant key must demand salting")
    assert(rep.tail.forall(_._2 <= topCnt))
  }

  test("zorder: interleave law, equi-depth balance, clustered layout prunes both columns") {
    import spark.implicits._
    import graft.functions.ZorderFunctions._
    import graft.sources.{CatalogOps, LayoutStats}
    // interleave ≡ the bit-twiddled reference on the full 16×16 grid
    val grid = (for (a <- 0 until 16; b <- 0 until 16) yield (a.toLong, b.toLong))
    val zs = grid.toDF("a", "b")
      .select(col("a"), col("b"), zInterleave(col("a"), col("b")).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    grid.foreach { case (a, b) =>
      assert(zs((a, b)) === ((spread(a.toInt) << 1) | spread(b.toInt)))
    }
    // equi-depth bounds level a skewed (exponential) column: every bucket
    // within 2× of the uniform share
    val rnd = new scala.util.Random(7)
    val skewed = Seq.fill(20000)(-math.log(1.0 - rnd.nextDouble())).toDF("x")
    val bounds = equiDepthBounds(skewed, "x", 16)
    assert(bounds.length === 15)
    val counts = skewed.groupBy(depthBucket(col("x"), bounds).as("b"))
      .count().collect().map(_.getLong(1))
    assert(counts.length === 16)
    assert(counts.max <= 2 * 20000 / 16 && counts.min >= 20000 / 16 / 2,
      s"unbalanced: ${counts.sorted.mkString(",")}")
    // clustered layout: same rows written z-ordered vs sorted-by-x; the
    // zone-map boxes must prune BOTH columns for z, only x for the sort
    val db = "zorderdb"
    CatalogOps.dropDatabase(spark, db)
    CatalogOps.createDatabase(spark, db)
    val data = spark.range(200000).select(
      (abs(xxhash64(col("id"))) % 100000L).cast("double").as("x"),
      (abs(xxhash64(col("id"), lit(1))) % 100000L).cast("double").as("y"),
      col("id"))
    // 16 KiB groups ≈ 300 row groups: tiles fine enough that the z-box
    // beats the x-slab (at 64 KiB / 74 groups both read 9 groups — tile
    // resolution 12.5% can't resolve a 10% slab; pruning is granularity-
    // bound, measured while writing this test)
    CatalogOps.createZorderedCollection(spark, db, "zz", data, "x", "y",
      shards = 1, rowGroupBytes = 16L * 1024)
    data.repartitionByRange(1, col("x")).sortWithinPartitions(col("x"))
      .write.mode("overwrite").option("parquet.block.size", (16L * 1024).toString)
      .saveAsTable(s"`$db`.`sx`")
    val zb = LayoutStats.rowGroupBoxes(spark, s"$db.zz", Seq("x", "y"))
    val sb = LayoutStats.rowGroupBoxes(spark, s"$db.sx", Seq("x", "y"))
    assert(zb.map(_._2).sum === 200000L && sb.map(_._2).sum === 200000L)
    assert(zb.length >= 16, s"need multiple row groups, got ${zb.length}")
    // 10%×10% box: multiplicative pruning beats single-column pruning
    val box = Seq((0, 20000.0, 30000.0), (1, 40000.0, 50000.0))
    val (zg, zr, _, _) = LayoutStats.pruneCount(zb, box)
    val (sg, sr, _, _) = LayoutStats.pruneCount(sb, box)
    assert(zr < sr, s"z-order rows read $zr !< sorted-x $sr")
    // y-only predicate: the x-sorted layout cannot prune at all
    val (_, zyRows, _, _) = LayoutStats.pruneCount(zb, Seq((1, 40000.0, 50000.0)))
    val (_, syRows, _, _) = LayoutStats.pruneCount(sb, Seq((1, 40000.0, 50000.0)))
    assert(syRows === 200000L, "x-sort should read everything on a y predicate")
    assert(zyRows < 200000L / 2, s"z-order y-only read $zyRows")
    assert(zg > 0 && sg > 0)
    CatalogOps.dropDatabase(spark, db)
  }

  test("zonemap index serves pruned scans; compaction restores appended clustering") {
    import graft.sources.{CatalogOps, LayoutStats}
    val db = "zonemapdb"
    CatalogOps.dropDatabase(spark, db)
    CatalogOps.createDatabase(spark, db)
    def mk(range: org.apache.spark.sql.Dataset[java.lang.Long]) = range.select(
      (abs(xxhash64(col("id"))) % 50000L).cast("double").as("x"),
      (abs(xxhash64(col("id"), lit(1))) % 50000L).cast("double").as("y"),
      col("id"))
    CatalogOps.createZorderedCollection(spark, db, "t", mk(spark.range(100000)),
      "x", "y", shards = 4, rowGroupBytes = 32L * 1024)
    CatalogOps.createZonemap(spark, db, "t", Seq("x", "y"))
    val ranges = Seq(("x", 10000.0, 15000.0), ("y", 20000.0, 25000.0))
    def plain = spark.table(s"$db.t")
      .where(col("x").between(10000.0, 15000.0) && col("y").between(20000.0, 25000.0))
    val got = CatalogOps.scanZonemapped(spark, db, "t", ranges)
      .select("id").collect().map(_.getLong(0)).sorted
    val want = plain.select("id").collect().map(_.getLong(0)).sorted
    assert(got.length > 0 && got.sameElements(want))
    // the pruning is real: the served scan opens a strict subset of files
    val matched = CatalogOps.scanZonemapped(spark, db, "t", ranges).inputFiles.length
    val total = spark.table(s"$db.t").inputFiles.length
    assert(total === 4 && matched < total, s"matched $matched of $total")
    // a range off the data's support reads nothing and returns empty
    assert(CatalogOps.scanZonemapped(spark, db, "t",
      Seq(("x", -10.0, -5.0))).count() === 0L)
    // appended batches land unclustered: the box predicate's zone-map
    // cost jumps, then compaction restores it
    mk(spark.range(100000, 120000)).write.mode("append").saveAsTable(s"`$db`.`t`")
    // incremental index maintenance: only the NEW files' footers are
    // walked; the served scan sees appended rows; a replay is a no-op
    CatalogOps.upsertZonemap(spark, db, "t", Seq("x", "y"))
    val zmRows = spark.table(s"$db.t__zonemap").count()
    CatalogOps.upsertZonemap(spark, db, "t", Seq("x", "y"))
    assert(spark.table(s"$db.t__zonemap").count() === zmRows, "replay must be a no-op")
    assert(CatalogOps.scanZonemapped(spark, db, "t", ranges).count() === plain.count(),
      "served scan must include appended rows")
    val boxIdx = Seq((0, 10000.0, 15000.0), (1, 20000.0, 25000.0))
    val degraded = LayoutStats.pruneCount(
      LayoutStats.rowGroupBoxes(spark, s"$db.t", Seq("x", "y")), boxIdx)
    CatalogOps.compactZordered(spark, db, "t", "x", "y",
      shards = 4, rowGroupBytes = 32L * 1024)
    val compacted = LayoutStats.pruneCount(
      LayoutStats.rowGroupBoxes(spark, s"$db.t", Seq("x", "y")), boxIdx)
    assert(compacted._4 === 120000L && spark.table(s"$db.t").count() === 120000L)
    assert(compacted._2 < degraded._2,
      s"compaction should tighten boxes: ${compacted._2} !< ${degraded._2}")
    // rebuilt zonemap over the compacted layout still serves exact scans
    CatalogOps.createZonemap(spark, db, "t", Seq("x", "y"))
    assert(CatalogOps.scanZonemapped(spark, db, "t", ranges).count() === plain.count())
    CatalogOps.dropDatabase(spark, db)
  }

  test("grouped top-k heap equals the rank window, ties and undersized groups included") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // heavy score ties + one group smaller than k
    val rows = (0 until 5000).map { i =>
      (s"g${i % 7}", (i * 37 % 50).toLong, i.toLong)
    } ++ Seq(("tiny", 1L, 90001L), ("tiny", 1L, 90002L))
    val df = rows.toDF("g", "s", "id")
    val got = RelOps.groupTopKOn(df, "g", "s", "id", 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    val w = Window.partitionBy(col("g")).orderBy(col("s").desc, col("id").asc)
    val want = df.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 4).select("g", "rank", "id", "s")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    assert(got.length === want.length && got.sameElements(want))
    assert(got.count(_._1 == "tiny") === 2, "undersized group returns all its rows")
  }

  test("stored key-skew report equals the live count-pass report") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val live = rows(RelOps.keySkew(spark, sf))
    val stored = rows(RelOps.keySkewStored(spark, sf))
    assert(live.nonEmpty && stored === live)
  }

  test("versioned collection: snapshot isolation, append-only history, compaction floor") {
    import graft.sources.CatalogOps
    val db = "ttdb"
    CatalogOps.dropDatabase(spark, db)
    CatalogOps.createDatabase(spark, db)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val v0 = spark.range(100).select(col("id").as("doc_id"),
      concat(lit("t"), col("id")).as("text"))
    CatalogOps.createVersionedCollection(spark, db, "c", v0)
    def logFiles(): Map[String, Array[Byte]] = {
      val dir = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
        s"$db.db", "c__vlog")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.readAllBytes(p)).toMap
    }
    val beforeAppend = logFiles()
    // v1: modify ids 0..9, add 100..109
    val v1 = spark.range(10).select(col("id").as("doc_id"), lit("MOD").as("text"))
      .unionByName(spark.range(100, 110).select(col("id").as("doc_id"),
        concat(lit("t"), col("id")).as("text")))
    assert(CatalogOps.upsertVersioned(spark, db, "c", v1) === 1L)
    // append-only: every pre-existing file byte-identical
    val afterAppend = logFiles()
    beforeAppend.foreach { case (p, bytes) =>
      assert(afterAppend.contains(p) &&
        java.util.Arrays.equals(afterAppend(p), bytes), s"file rewritten: $p")
    }
    // snapshot isolation across upsert and delete
    assert(CatalogOps.deleteVersioned(spark, db, "c", 50L until 60L) === 2L)
    val snap0 = rows(CatalogOps.readVersioned(spark, db, "c", asOf = 0L))
    val snap1 = rows(CatalogOps.readVersioned(spark, db, "c", asOf = 1L))
    val latest = rows(CatalogOps.readVersioned(spark, db, "c"))
    assert(snap0 === (0L until 100L).map(i => (i, s"t$i")).toSet)
    assert(snap1.size === 110 && snap1((5L, "MOD")) && snap1((105L, "t105")))
    assert(latest.size === 100 && !latest.exists(_._1 == 55L) && latest((5L, "MOD")))
    // compaction to floor 1: later snapshots resolve identically, the
    // pre-floor snapshot refuses loudly
    CatalogOps.compactVersioned(spark, db, "c", floorV = 1L)
    assert(rows(CatalogOps.readVersioned(spark, db, "c", asOf = 1L)) === snap1)
    assert(rows(CatalogOps.readVersioned(spark, db, "c")) === latest)
    intercept[IllegalArgumentException] {
      CatalogOps.readVersioned(spark, db, "c", asOf = 0L)
    }
    // and the folded log is smaller: one resolved partition replaces two
    val vs = spark.table(s"$db.c__vlog").select("__v").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(vs.toSeq === Seq(1L, 2L), s"got ${vs.toSeq}")
    // duplicate ids inside ONE snapshot resolve deterministically by row
    // content (the upsert tie-break rule), not by partitioning
    val dup = spark.range(2).select(lit(500L).as("doc_id"),
      when(col("id") === 0, "zebra").otherwise("aard").as("text"))
    CatalogOps.upsertVersioned(spark, db, "c", dup)
    val resolved = CatalogOps.readVersioned(spark, db, "c")
      .where(col("doc_id") === 500L).collect()
    assert(resolved.length === 1 && resolved(0).getString(1) === "zebra")
    // batch-id watermark: a redelivered micro-batch commits no new version
    val headBefore = spark.table(s"$db.c__vmeta").collect()(0).getLong(0)
    val vNew = CatalogOps.upsertVersionedBatch(spark, db, "c",
      spark.range(1).select(lit(900L).as("doc_id"), lit("s").as("text")),
      batchId = 7L)
    assert(vNew === headBefore + 1)
    val vReplay = CatalogOps.upsertVersionedBatch(spark, db, "c",
      spark.range(1).select(lit(901L).as("doc_id"), lit("s2").as("text")),
      batchId = 7L)
    assert(vReplay === vNew, "redelivered batch must not commit a version")
    assert(CatalogOps.readVersioned(spark, db, "c")
      .where(col("doc_id") === 901L).count() === 0L)
    // manufacture a crash orphan (partition above the committed head):
    // invisible to reads, reclaimed by vacuum, reads unchanged after
    val head = spark.table(s"$db.c__vmeta").collect()(0).getLong(0)
    spark.range(1).select(lit(902L).as("doc_id"), lit("orphan").as("text"),
        lit(1).as("__op"), lit(head + 5).as("__v"))
      .write.mode("append").partitionBy("__v").saveAsTable(s"`$db`.`c__vlog`")
    val latestRows = CatalogOps.readVersioned(spark, db, "c").count()
    assert(CatalogOps.readVersioned(spark, db, "c")
      .where(col("doc_id") === 902L).count() === 0L, "orphan must be invisible")
    CatalogOps.vacuumVersioned(spark, db, "c")
    assert(spark.table(s"$db.c__vlog").select("__v").distinct()
      .collect().map(_.getLong(0)).forall(_ <= head), "orphan reclaimed")
    assert(CatalogOps.readVersioned(spark, db, "c").count() === latestRows)
    CatalogOps.dropDatabase(spark, db)
  }

  test("bloom store: replayed and reordered upserts fold to the one-shot filter bit-for-bit") {
    import graft.sources.CatalogOps
    import graft.functions.BloomFunctions
    val db = "bloomdb"
    CatalogOps.dropDatabase(spark, db)
    CatalogOps.createDatabase(spark, db)
    val all = spark.range(5000).select((col("id") * 2654435761L).as("k"))
    val a = all.where(col("k") % 3 === 0)
    val b = all.where(col("k") % 3 =!= 0)
    CatalogOps.createBloomStore(spark, db, "s", a, "k", expectedKeys = 8192L)
    CatalogOps.upsertBloomStore(spark, db, "s", b, "k")
    CatalogOps.upsertBloomStore(spark, db, "s", b, "k") // at-least-once replay
    CatalogOps.upsertBloomStore(spark, db, "s", a, "k") // out-of-order re-delivery
    val (folded, m) = CatalogOps.foldedBloomWords(spark, db, "s")
    val oneShot = BloomFunctions.buildBloomWords(all, "k", m)
    assert(folded.sameElements(oneShot),
      "OR-idempotence must make replays invisible")
    // no false negatives through the served probe; absent keys mostly drop
    val present = CatalogOps.probeBloomStore(spark, db, "s", all, "k").count()
    assert(present === 5000L)
    val absent = spark.range(100000).select((col("id") + 7777777L).as("k"))
    val survivors = CatalogOps.probeBloomStore(spark, db, "s", absent, "k").count()
    assert(survivors < 1000L, s"fp survivors $survivors")
    // fill report: sane occupancy and the fill^k fpp estimate
    val (fill, fpp) = CatalogOps.bloomStoreFill(spark, db, "s")
    assert(fill > 0.05 && fill < 0.5 && math.abs(fpp - math.pow(fill, 6)) < 1e-12)
    // compaction folds the log without changing the filter or the probe
    val logRows = spark.table(s"$db.s__bloom").count()
    CatalogOps.compactBloomStore(spark, db, "s")
    assert(spark.table(s"$db.s__bloom").count() <= (m / 64) &&
      spark.table(s"$db.s__bloom").count() < logRows)
    assert(CatalogOps.foldedBloomWords(spark, db, "s")._1.sameElements(oneShot))
    CatalogOps.dropDatabase(spark, db)
  }

  test("HLL store: replay-invariant max fold, accuracy in bound, small-range exactness") {
    import spark.implicits._
    import graft.sources.CatalogOps
    val db = "hlldb"
    CatalogOps.dropDatabase(spark, db)
    CatalogOps.createDatabase(spark, db)
    // 100k distinct keys with duplicates, split into three batches
    val all = spark.range(300000).select((col("id") % 100000L).as("k"))
    val b1 = all.where(col("k") % 3 === 0)
    val b2 = all.where(col("k") % 3 === 1)
    val b3 = all.where(col("k") % 3 === 2)
    CatalogOps.createHllStore(spark, db, "s", b1, "k")
    CatalogOps.upsertHllStore(spark, db, "s", b2, "k")
    CatalogOps.upsertHllStore(spark, db, "s", b3, "k")
    CatalogOps.upsertHllStore(spark, db, "s", b2, "k") // redelivery
    val est = CatalogOps.hllEstimate(spark, db, "s")
    assert(math.abs(est - 100000L) < 5000L, s"estimate $est")
    // fold ≡ one-shot registers, bit-identical despite replay + ordering
    val oneShot = CatalogOps.hllRegisterRows(all, "k")
      .collect().map(r => (r.getInt(0), r.getInt(1))).sorted
    val folded = spark.table(s"$db.s__hll")
      .groupBy(col("bucket")).agg(max(col("rho")).as("rho"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).sorted
    assert(folded.sameElements(oneShot))
    // compaction preserves the estimate exactly
    CatalogOps.compactHllStore(spark, db, "s")
    assert(spark.table(s"$db.s__hll").count() <= 4096L)
    assert(CatalogOps.hllEstimate(spark, db, "s") === est)
    // small range: linear counting is near-exact
    CatalogOps.createHllStore(spark, db, "t",
      spark.range(100).select(col("id").as("k")), "k")
    val small = CatalogOps.hllEstimate(spark, db, "t")
    assert(math.abs(small - 100L) <= 3L, s"small-range estimate $small")
    CatalogOps.dropDatabase(spark, db)
  }

  test("robots.txt: RFC 9309 longest-match semantics, wildcards, agent groups, frontier admission") {
    import graft.sources.RobotsOps
    import graft.sources.RobotsOps.Rule
    // longest match wins; allow wins ties; empty disallow allows all
    val g = RobotsOps.parse(
      """User-agent: *
        |Disallow: /example/page
        |Allow: /example/page/
        |Disallow: /*.php$
        |Allow: /tie
        |Disallow: /tie
        |Disallow:
        |""".stripMargin)
    val rules = RobotsOps.rulesFor(g, "anybot/1.0")
    assert(RobotsOps.isAllowed(rules, "/example/page/index.html")) // allow longer
    assert(!RobotsOps.isAllowed(rules, "/example/page.html"))      // disallow prefix
    assert(!RobotsOps.isAllowed(rules, "/index.php"))              // $ anchor hits
    assert(RobotsOps.isAllowed(rules, "/index.php5"))              // $ anchor misses
    assert(RobotsOps.isAllowed(rules, "/tie/anything"))            // tie → allow
    assert(RobotsOps.isAllowed(rules, "/unmentioned"))             // no match → allow
    // wildcard interior match
    val w = RobotsOps.rulesFor(RobotsOps.parse(
      "User-agent: *\nDisallow: /private*/data\n"), "x")
    assert(!RobotsOps.isAllowed(w, "/private123/data/x"))
    assert(RobotsOps.isAllowed(w, "/private123/info"))
    // agent group selection: longest token substring beats *, which beats none
    val ag = RobotsOps.parse(
      """User-agent: examplebot
        |User-agent: examplebot-news
        |Disallow: /news-only
        |
        |User-agent: *
        |Disallow: /everyone
        |""".stripMargin)
    assert(!RobotsOps.isAllowed(RobotsOps.rulesFor(ag, "Mozilla examplebot-news/2.1"), "/news-only"))
    assert(RobotsOps.isAllowed(RobotsOps.rulesFor(ag, "examplebot-news"), "/everyone"))
    assert(!RobotsOps.isAllowed(RobotsOps.rulesFor(ag, "randombot"), "/everyone"))
    assert(RobotsOps.isAllowed(RobotsOps.rulesFor(Seq.empty, "any"), "/anything"))
    // distributed admission: per-host rules, absent robots allows, malformed drops
    import spark.implicits._
    val urls = Seq(
      "https://a.example/ok", "https://a.example/blocked/x",
      "https://b.example/anything", "not a url").toDS()
    val robots = Map("a.example" -> "User-agent: *\nDisallow: /blocked\n")
    val kept = RobotsOps.filterAllowed(urls, robots, "graftbot").collect().toSet
    assert(kept === Set("https://a.example/ok", "https://b.example/anything"))
    // crawl-delay: parsed per group, selected with the same agent rule,
    // and enforced as a per-cycle slot budget on the frontier
    val dg = RobotsOps.parse(
      "User-agent: graftbot\nCrawl-delay: 10\nDisallow: /x\n\nUser-agent: *\nCrawl-delay: 1\n")
    assert(RobotsOps.crawlDelayFor(dg, "graftbot/1.0") === Some(10.0))
    assert(RobotsOps.crawlDelayFor(dg, "other") === Some(1.0))
    val frontier = (for (h <- Seq("slow.example", "fast.example"); s <- 1 to 8)
      yield (h, s.toLong)).toDF("host", "slot")
    val capped = RobotsOps.capByCrawlDelay(frontier, "host", "slot",
      Map("slow.example" -> "User-agent: *\nCrawl-delay: 20\n"),
      "graftbot", cycleSeconds = 60.0, globalCap = 8)
      .groupBy(col("host")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(capped("slow.example") === 3L, s"60s / 20s delay = 3 slots: $capped")
    assert(capped("fast.example") === 8L, "no delay keeps the global cap")
    // wildcard + $-anchor battery (the class-1 fixture rule family)
    val star = RobotsOps.rulesFor(RobotsOps.parse(
      "User-agent: *\nDisallow: /*7$\nAllow: /en/\nDisallow: /en\n"), "graftbot")
    assert(!RobotsOps.isAllowed(star, "/fr/p17"))  // anchored wildcard hits
    assert(RobotsOps.isAllowed(star, "/fr/p170")) // $ anchor misses
    assert(RobotsOps.isAllowed(star, "/en/p17"))  // len-4 tie → allow wins
    assert(!RobotsOps.isAllowed(star, "/enx"))    // bare /en prefix disallows
    assert(RobotsOps.isAllowed(star, "/en/p3"))   // allow outranks /en
    // Sitemap records: global (group-independent), URL case preserved,
    // duplicates dropped, comments stripped, parse() still ignores them
    val smBody = "User-agent: a\nDisallow: /x\nSitemap: https://h/S1.xml\n" +
      "User-agent: *\nSITEMAP: https://h/S1.xml # dup, key case-insensitive\n" +
      "sitemap: https://h/s2.xml\nSitemap:\n"
    assert(RobotsOps.sitemaps(smBody) ===
      Seq("https://h/S1.xml", "https://h/s2.xml"))
    assert(RobotsOps.rulesFor(RobotsOps.parse(smBody), "zbot") === Seq.empty)
  }

  test("robots-gated frontier: disallowed URLs never take a slot, delay shrinks caps") {
    import graft.sources.RobotsOps
    val rows = FrontierOps.crawlFrontierRobots(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "source", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val rate = Map("en" -> 5L, "fr" -> 4L, "es" -> 3L, "de" -> 2L)
    val prio = docs.map { case (id, _, lang, nc) =>
      id -> ((id % 30) * rate.getOrElse(lang, 1L) + nc % 7) }.toMap
    def cls(host: String): Int = host.reverse.takeWhile(_.isDigit).reverse.toInt % 4
    // independent mirror of the fixture verdicts (NOT through RobotsOps)
    def allowed(host: String, lang: String, id: Long): Boolean = cls(host) match {
      case 0 => lang != "de" && lang != "zh"
      case 1 => lang == "en" || !s"/$lang/p$id".endsWith("7")
      case 2 => lang != "es"
      case _ => true
    }
    val cap = Map(0 -> 5, 1 -> 3, 2 -> 8, 3 -> 8)
    // exact expected schedule: admit → rank by (priority DESC, id) → cap
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (host, hd) =>
      hd.toSeq.filter(d => allowed(host, d._3, d._1))
        .sortBy(d => (-prio(d._1), d._1))
        .take(cap(cls(host)))
        .zipWithIndex
        .map { case (d, i) => (host, (i + 1).toLong, d._1, s"/${d._3}/p${d._1}", prio(d._1)) }
    }.toSet
    assert(rows.toSet === expected)
    // the headline guarantee: a disallowed URL that WOULD have won a
    // politeness slot is excluded, and its slot goes to the next-best
    // allowed page (slots stay dense)
    val unguarded = FrontierOps.crawlFrontier(spark, sf, perHostCap = 8).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val docLang = docs.map(d => d._1 -> d._3).toMap
    val blockedScheduled = unguarded.filter { case (h, slot, id) =>
      slot <= cap(cls(h)) && !allowed(h, docLang(id), id) }
    assert(blockedScheduled.nonEmpty,
      "fixture should have a disallowed page inside the unguarded schedule")
    val byHost = rows.groupBy(_._1)
    blockedScheduled.foreach { case (h, _, id) =>
      val sched = byHost.getOrElse(h, Array.empty)
      assert(!sched.exists(_._3 == id), s"disallowed $id scheduled on $h")
      assert(sched.map(_._2).sorted.toSeq ===
        (1 to sched.length).map(_.toLong), s"slots not dense on $h")
    }
  }

  test("component store: create + incremental refresh equals the cold closure; keep-best serves from it") {
    import graft.sources.{CatalogOps, Tables}
    val db = "compstoredb"
    CatalogOps.dropDatabase(spark, db)
    CatalogOps.createDatabase(spark, db)
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // create on even ids, fold in the odds — the store must land on the
    // full-corpus closure exactly (new edges only merge, never split)
    DedupOps.createComponentStore(spark, db, "t", docs.filter(col("doc_id") % 2 === 0))
    DedupOps.refreshComponents(spark, db, "t", docs.filter(col("doc_id") % 2 === 1))
    val stored = DedupOps.servedComponents(spark, db, "t")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cold = DedupOps.dedupConnected(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored === cold)
    // a second, disjoint refresh keeps the law (epoch-3 store == cold on
    // the shifted corpus is covered by the union argument; here: ids must
    // be fresh — re-folding an existing id is refused loudly)
    intercept[IllegalArgumentException] {
      DedupOps.refreshComponents(spark, db, "t", docs.limit(1))
    }
    // keep-best from the store is byte-identical to the live closure
    val servedKb = DedupOps.keepBestStoredFixture(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val liveKb = DedupOps.dedupKeepBest(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(servedKb.toSeq === liveKb.toSeq)
    CatalogOps.dropDatabase(spark, db)
  }

  test("sitemap ingestion: statuses partition correctly, discoveries are sitemap-only") {
    val rows = FrontierOps.crawlSitemap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0))
    assert(rows.length === docs.length + docs.count(_ % 5 == 0))
    val byStatus = rows.groupBy(_._4)
    assert(byStatus.keySet === Set("new", "stale", "fresh"))
    // every discovery is a sitemap-only /disc/ url, and nothing else is
    assert(byStatus("new").forall(_._2.contains("/disc/p")))
    assert((byStatus("stale") ++ byStatus("fresh")).forall(!_._2.contains("/disc/p")))
    assert(byStatus("new").length === docs.count(_ % 5 == 0))
    // stale ⇔ advertised lastmod strictly newer than the last fetch
    rows.filter(!_._2.contains("/disc/p")).foreach { case (_, url, lastmod, status) =>
      val id = url.substring(url.lastIndexOf("/p") + 2).toLong
      val lastFetch = java.time.LocalDate.parse("2026-02-01").minusDays(id % 30)
      val expect = if (java.time.LocalDate.parse(lastmod).isAfter(lastFetch)) "stale" else "fresh"
      assert(status === expect, s"$url lastmod=$lastmod")
    }
  }

  test("unicode normalization: NFC composes, fold drops marks, ASCII object identity, SQL surface") {
    import graft.plans.UnicodeKernels
    import org.apache.spark.unsafe.types.UTF8String
    val dec = UTF8String.fromString("Zürich piñata é")
    val pre = UTF8String.fromString("Zürich piñata é")
    assert(UnicodeKernels.nfc(dec).toString === pre.toString)
    assert(UnicodeKernels.nfc(pre) eq pre, "already-NFC input returns the input object")
    val ascii = UTF8String.fromString("plain w7")
    assert(UnicodeKernels.nfc(ascii) eq ascii)
    assert(UnicodeKernels.foldAccents(ascii) eq ascii)
    assert(UnicodeKernels.foldAccents(pre).toString === "Zurich pinata e")
    // non-mark specials (the fi ligature) pass through — strip_accents parity
    assert(UnicodeKernels.foldAccents(
      UTF8String.fromString("\uFB01n d\u00E9j\u00E0 vu")).toString === "\uFB01n deja vu")
    // SQL surface exercises the codegen path end to end
    val r = spark.sql(
      "SELECT text_nfc('é') AS a, text_fold_accents('café') AS b").head()
    assert(r.getString(0) === "é" && r.getString(1) === "cafe")
  }

  test("pii redaction: multiple matches, staged order, negatives untouched") {
    import spark.implicits._
    val rows = Seq(
      (1L, "mail a@b.co and c.d+x@e-f.org twice"),          // two emails
      (2L, "ips 10.0.0.1 and 192.168.255.3 end"),           // two ips
      (3L, "call +1 555 0100 or +44 123 4567 now"),         // two phones
      (4L, "version 1.2 costs $3 at w17 plain"),            // negatives only
      (5L, "mixed u5@example.com from 10.0.5.5 call +1 555 0005"))
    val out = TextOps.piiRedactOn(rows.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out(0) === ((1L, "mail <EMAIL> and <EMAIL> twice", 2L, 0L, 0L)))
    assert(out(1) === ((2L, "ips <IP> and <IP> end", 0L, 2L, 0L)))
    assert(out(2) === ((3L, "call <PHONE> or <PHONE> now", 0L, 0L, 2L)))
    assert(out(3) === ((4L, "version 1.2 costs $3 at w17 plain", 0L, 0L, 0L)))
    assert(out(4) === ((5L, "mixed <EMAIL> from <IP> call <PHONE>", 1L, 1L, 1L)))
  }

  test("pii card stage: Luhn gate redacts valid, keeps invalid; multi-candidate fold") {
    import spark.implicits._
    val rows = Seq(
      (1L, "pay 4111111111111111 now"),                    // valid (Luhn 0)
      (2L, "order 4111111111111112 ref"),                  // candidate, Luhn-fails
      (3L, "two 4111111111111111 and 5500005555555559 x"), // both valid
      (4L, "mix 4111111111111111 bad 4111111111111113 y"), // one of each
      (5L, "short 411111111111111 and long 41111111111111111 z")) // not 16-digit
    val out = TextOps.piiRedactCcOn(rows.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(5),
        r.getLong(6)))
    assert(out(0) === ((1L, "pay <CARD> now", 1L, 0L)))
    assert(out(1) === ((2L, "order 4111111111111112 ref", 0L, 1L)))
    assert(out(2) === ((3L, "two <CARD> and <CARD> x", 2L, 0L)))
    assert(out(3) === ((4L, "mix <CARD> bad 4111111111111113 y", 1L, 1L)))
    assert(out(4) === ((5L, "short 411111111111111 and long 41111111111111111 z", 0L, 0L)))
  }

  test("component-store fold records guard hits when the combined view crosses the cap") {
    import graft.sources.CatalogOps
    import spark.implicits._
    val db = "guarddb"
    CatalogOps.dropDatabase(spark, db)
    CatalogOps.createDatabase(spark, db)
    def toks(from: Int, until: Int) = (from until until).map(i => s"g$i").mkString(" ")
    // near-identical docs share every band key, so the combined
    // store+batch view concentrates into hot buckets a cap of 1 drops.
    // The cap is a CREATE-time property carried in __cmeta (folding at
    // a different cap is refused), so the store is built at cap 1 too
    DedupOps.createComponentStore(spark, db, "t",
      Seq((1L, toks(1, 41)), (2L, toks(2, 42))).toDF("doc_id", "text"),
      maxBucket = 1)
    DedupOps.refreshComponents(spark, db, "t",
      Seq((3L, toks(3, 43))).toDF("doc_id", "text"), maxBucket = 1)
    val m = spark.table(s"`$db`.`t__cmeta`")
      .agg(max(col("epoch")), max(col("guard_hits"))).head()
    assert(m.getLong(0) === 2L)
    // the fold actually dropped candidate rows — and said so
    assert(m.getLong(1) > 0L)
    // a normal-cap fold on a fresh store records zero
    CatalogOps.dropDatabase(spark, db)
    CatalogOps.createDatabase(spark, db)
    DedupOps.createComponentStore(spark, db, "u",
      Seq((1L, toks(1, 41))).toDF("doc_id", "text"))
    DedupOps.refreshComponents(spark, db, "u",
      Seq((9L, (1 to 12).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text"))
    val m2 = spark.table(s"`$db`.`u__cmeta`")
      .agg(max(col("guard_hits"))).head()
    assert(m2.getLong(0) === 0L)
    CatalogOps.dropDatabase(spark, db)
  }

  test("gopher repetition gates: duplicated lines and dominant bigrams flag, clean text keeps") {
    import spark.implicits._
    val rows = Seq(
      // 3 identical 11-char lines: line_chars 33, distinct 11, dup 22 →
      // 5·22 > 33 fails dup gate; "aa bb" covers 3×5=15 chars → 5·15 > 33
      (1L, "aa bb cc dd\naa bb cc dd\naa bb cc dd"),
      // dominant bigram, single line: "x y" ×4 × 3 chars = 12 of 15
      (2L, "x y x y x y x y"),
      // long all-distinct text: top bigram covers 7 of ~110 chars → keeps
      (3L, (1 to 30).map(i => s"w$i").mkString(" ")))
    val out = TextAnalysisOps.gopherRepetitionOn(rows.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    // (doc_id, n_lines, line_chars, dup_line_chars, top2_chars, r_dup, r_top2, keep)
    assert(out(0) === ((1L, 3L, 33L, 22L, 15L, 0L, 0L, 0L)))
    assert(out(1) === ((2L, 1L, 15L, 0L, 12L, 1L, 0L, 0L)))
    val d3 = out(2)
    assert(d3._2 === 1L && d3._4 === 0L && d3._6 === 1L && d3._7 === 1L
      && d3._8 === 1L)
  }

  test("minhash NFC-first shingles: decomposed twin collapses onto its precomposed sibling") {
    val out = DedupOps.minHashLshUnicode(spark, TestSpark.Sf)
      .select(col("doc_id")).as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet
    // every +40000 (decomposed) copy is an exact SET duplicate of its
    // +20000 (precomposed) sibling after NFC, so none may survive;
    // without normalization the twins' accented tokens differ byte-wise
    // and every +40000 copy would survive
    assert("caf\u00E9" != "cafe\u0301")
    assert(!out.exists(_ >= 40000L))
    assert(out.nonEmpty)
  }

  test("robots admission honors a NON-fixture body through the injected fetcher") {
    import graft.sources.RobotsOps
    // deny-all for src1 (a fixture class-1 host that normally schedules),
    // no body anywhere else (RFC allow-all)
    val fetch: String => Option[String] = url =>
      if (url == "https://src1/robots.txt")
        Some("User-agent: *\nDisallow: /\n")
      else None
    val out = FrontierOps.crawlFrontierRobots(spark, TestSpark.Sf, fetch = fetch)
      .select(col("host")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(!out.contains("src1"))
    // and the fixture fetch (the default) DOES schedule src1
    val base = FrontierOps.crawlFrontierRobots(spark, TestSpark.Sf)
      .select(col("host")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(base.contains("src1"))
  }

  test("sitemap index parses NON-fixture bodies through the injected fetch surface") {
    import spark.implicits._
    val idx = Seq(("h1",
      "<sitemapindex><sitemap><loc>https://h1/sitemap-0.xml</loc></sitemap>" +
        "<sitemap><loc>https://h1/sitemap-1.xml</loc></sitemap></sitemapindex>"))
      .toDF("host", "ixml")
    val children = Seq(
      ("h1", "https://h1/sitemap-0.xml",
        "<urlset><url><loc>https://h1/a</loc><lastmod>2026-01-10</lastmod></url>" +
          "<url><loc>https://h1/b</loc><lastmod>2026-01-11</lastmod></url></urlset>"),
      ("h1", "https://h1/sitemap-1.xml",
        "<urlset><url><loc>https://h1/c</loc><lastmod>2026-01-12</lastmod></url></urlset>"))
      .toDF("host", "sloc", "cxml")
    val out = FrontierOps.crawlSitemapIndex(spark, TestSpark.Sf,
        bodies = Some((idx, children)))
      .collect().map(r => (r.getString(1), r.getString(2), r.getString(3),
        r.getString(4)))
    assert(out.toSeq === Seq(
      ("https://h1/sitemap-0.xml", "https://h1/a", "2026-01-10", "new"),
      ("https://h1/sitemap-0.xml", "https://h1/b", "2026-01-11", "new"),
      ("https://h1/sitemap-1.xml", "https://h1/c", "2026-01-12", "new")))
  }

  test("crawlPlan consumes injected sitemap bodies: ONE control-plane fetch surface (r16)") {
    import spark.implicits._
    val idx = Seq(("src1",
      "<sitemapindex><sitemap><loc>https://src1/sitemap-0.xml</loc></sitemap></sitemapindex>"))
      .toDF("host", "ixml")
    val children = Seq(("src1", "https://src1/sitemap-0.xml",
      "<urlset><url><loc>https://src1/en/p999999</loc><lastmod>2026-01-10</lastmod></url></urlset>"))
      .toDF("host", "sloc", "cxml")
    val out = FrontierOps.crawlPlan(spark, TestSpark.Sf,
      sitemapBodies = Some((idx, children))).collect()
    // the plan is built from the INJECTED discovery, not the fixture one
    assert(out.map(_.getString(2)).toSet === Set("https://src1/en/p999999"))
    assert(out.forall(r => r.getString(4) == "new" && r.getLong(3) == 160L))
  }

  test("sitemap index: two-level walk reproduces the flat entry set exactly") {
    val flat = FrontierOps.crawlSitemap(spark, TestSpark.Sf)
      .select("host", "url", "lastmod", "status")
    val idx = FrontierOps.crawlSitemapIndex(spark, TestSpark.Sf)
    val idxFlat = idx.select("host", "url", "lastmod", "status")
    assert(idxFlat.exceptAll(flat).isEmpty && flat.exceptAll(idxFlat).isEmpty)
    // the index form must actually shard: some host spans >1 child sitemap
    val multi = idx.groupBy(col("host"))
      .agg(countDistinct(col("sitemap")).as("nc"))
      .filter(col("nc") > 1).count()
    assert(multi > 0)
  }

  test("component store removal: bridge delete splits, duplicate delete doesn't, rebuild equality") {
    import graft.sources.CatalogOps
    import spark.implicits._
    val db = "comprmdb"
    CatalogOps.dropDatabase(spark, db)
    CatalogOps.createDatabase(spark, db)
    def toks(from: Int, until: Int) = (from until until).map(i => s"w$i").mkString(" ")
    // A≈B and B≈C at j=39/41≈0.951, A vs C at 38/42≈0.905 < 0.95: B is
    // the bridge. X/X' are an unrelated exact-dup pair.
    val docs = Seq(
      (1L, toks(1, 41)), (2L, toks(2, 42)), (3L, toks(3, 43)),
      (10L, (1 to 10).map(i => s"u$i").mkString(" ")),
      (11L, (1 to 10).map(i => s"u$i").mkString(" ")))
    def served(name: String) = DedupOps.servedComponents(spark, db, name)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    DedupOps.createComponentStore(spark, db, "t", docs.toDF("doc_id", "text"))
    assert(served("t") === Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
    // deleting the bridge SPLITS {1,2,3}; the dup pair is untouched
    DedupOps.removeFromComponents(spark, db, "t", Seq(2L).toDF("doc_id"))
    assert(served("t") === Set((1L, 1L), (3L, 3L), (10L, 10L), (11L, 10L)))
    // equality with a cold rebuild on the surviving corpus
    DedupOps.createComponentStore(spark, db, "cold",
      docs.filter(_._1 != 2L).toDF("doc_id", "text"))
    assert(served("t") === served("cold"))
    // deleting one exact-dup copy does NOT split the survivor's component
    DedupOps.removeFromComponents(spark, db, "t", Seq(11L).toDF("doc_id"))
    assert(served("t") === Set((1L, 1L), (3L, 3L), (10L, 10L)))
    // lifecycle roundtrip: re-adding a bridge doc re-merges via refresh
    // (the purged sig/data stores must still probe correctly)
    DedupOps.refreshComponents(spark, db, "t", Seq((20L, toks(2, 42))).toDF("doc_id", "text"))
    assert(served("t") === Set((1L, 1L), (3L, 1L), (20L, 1L), (10L, 10L)))
    // tau travels with the store: a mismatched fold is refused loudly
    intercept[IllegalArgumentException] {
      DedupOps.refreshComponents(spark, db, "t",
        Seq((30L, toks(50, 60))).toDF("doc_id", "text"), tau = 0.8)
    }
    intercept[IllegalArgumentException] {
      DedupOps.removeFromComponents(spark, db, "t", Seq(1L).toDF("doc_id"), tau = 0.8)
    }
    // r16: the hot-bucket cap travels in __cmeta like tau — a fold at a
    // different cap would silently change guard semantics across epochs
    intercept[IllegalArgumentException] {
      DedupOps.refreshComponents(spark, db, "t",
        Seq((31L, toks(50, 60))).toDF("doc_id", "text"), maxBucket = 7)
    }
    intercept[IllegalArgumentException] {
      DedupOps.removeFromComponents(spark, db, "t", Seq(1L).toDF("doc_id"),
        maxBucket = 7)
    }
    CatalogOps.dropDatabase(spark, db)
  }

  test("3-D z-order clusters all three axes; the 2-D layout leaves the third unpruned") {
    import graft.sources.{CatalogOps, LayoutStats}
    import graft.functions.ZorderFunctions._
    // stride-3 interleave law on a sample grid
    val g3 = for (a <- Seq(0, 3, 7, 255); b <- Seq(0, 5, 255); c <- Seq(1, 128)) yield (a, b, c)
    import spark.implicits._
    val zs = g3.map { case (a, b, c) => (a.toLong, b.toLong, c.toLong) }
      .toDF("a", "b", "c")
      .select(col("a"), col("b"), col("c"),
        zInterleaveN(Seq(col("a"), col("b"), col("c"))).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
    g3.foreach { case (a, b, c) =>
      val want = (spreadN(a, 3) << 2) | (spreadN(b, 3) << 1) | spreadN(c, 3)
      assert(zs((a.toLong, b.toLong, c.toLong)) === want)
    }
    val db = "zorder3db"
    CatalogOps.dropDatabase(spark, db)
    CatalogOps.createDatabase(spark, db)
    val data = spark.range(200000).select(
      (abs(xxhash64(col("id"))) % 100000L).cast("double").as("x"),
      (abs(xxhash64(col("id"), lit(1))) % 100000L).cast("double").as("y"),
      (abs(xxhash64(col("id"), lit(2))) % 100000L).cast("double").as("u"))
    CatalogOps.createZorderedCollectionN(spark, db, "z3", data,
      Seq("x", "y", "u"), shards = 1, rowGroupBytes = 16L * 1024)
    CatalogOps.createZorderedCollection(spark, db, "z2", data, "x", "y",
      shards = 1, rowGroupBytes = 16L * 1024)
    val b3 = LayoutStats.rowGroupBoxes(spark, s"$db.z3", Seq("x", "y", "u"))
    val b2 = LayoutStats.rowGroupBoxes(spark, s"$db.z2", Seq("x", "y", "u"))
    val n = 200000L
    // a 10% u-only slab: the 3-D layout prunes it, the 2-D layout cannot
    val uSlab = Seq((2, 40000.0, 50000.0))
    val (_, r3u, _, _) = LayoutStats.pruneCount(b3, uSlab)
    val (_, r2u, _, _) = LayoutStats.pruneCount(b2, uSlab)
    assert(r2u === n, "2-D layout must read everything on the unclustered axis")
    // the Morton trade at n = 3: each axis keeps only ~8/3 bits of
    // resolution at this group count, so a 10% slab still reads ~half —
    // but HALF, not all (measured 50.4% at 296 groups)
    assert(r3u < n * 3 / 5, s"3-D layout read $r3u of $n on the u slab")
    // 3-D box: multiplicative pruning across all three
    val box = Seq((0, 10000.0, 20000.0), (1, 30000.0, 40000.0), (2, 50000.0, 60000.0))
    val (_, r3b, _, _) = LayoutStats.pruneCount(b3, box)
    assert(r3b < n / 10, s"3-D box read $r3b")
    CatalogOps.dropDatabase(spark, db)
  }

  test("bucketed versioned log: same lifecycle, exchange-free snapshot resolution") {
    import graft.sources.CatalogOps
    val db = "ttbdb"
    CatalogOps.dropDatabase(spark, db)
    CatalogOps.createDatabase(spark, db)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val v0 = spark.range(2000).select(col("id").as("doc_id"),
      concat(lit("t"), col("id")).as("text"))
    CatalogOps.createVersionedCollection(spark, db, "c", v0, buckets = 8)
    CatalogOps.upsertVersioned(spark, db, "c",
      spark.range(50).select(col("id").as("doc_id"), lit("MOD").as("text")))
    CatalogOps.deleteVersioned(spark, db, "c", 100L until 150L)
    val latest = rows(CatalogOps.readVersioned(spark, db, "c"))
    assert(latest.size === 1950 && latest((5L, "MOD")) && !latest.exists(_._1 == 120L))
    assert(rows(CatalogOps.readVersioned(spark, db, "c", asOf = 0L)).size === 2000)
    // the resolution window rides the bucket layout: NO exchange anywhere
    val plan = CatalogOps.readVersioned(spark, db, "c")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      "bucketed log must resolve without a shuffle:\n" + plan)
    // the unbucketed twin DOES shuffle (the baseline that proves the pin)
    CatalogOps.createVersionedCollection(spark, db, "u", v0)
    val uplan = CatalogOps.readVersioned(spark, db, "u")
      .queryExecution.executedPlan.toString
    assert(uplan.contains("Exchange"))
    // streaming-batch path + compaction keep the bucket property
    CatalogOps.upsertVersionedBatch(spark, db, "c",
      spark.range(2000, 2100).select(col("id").as("doc_id"), lit("new").as("text")),
      batchId = 1L)
    CatalogOps.compactVersioned(spark, db, "c", floorV = 2L)
    assert(CatalogOps.readVersioned(spark, db, "c").count() === 2050)
    val plan2 = CatalogOps.readVersioned(spark, db, "c")
      .queryExecution.executedPlan.toString
    assert(!plan2.contains("Exchange"), "bucketing must survive maintenance")
    CatalogOps.dropDatabase(spark, db)
  }

  test("describeCollection profiles from footers: counts exact, layout spec surfaced") {
    import graft.sources.CatalogOps
    val db = "descdb"
    CatalogOps.dropDatabase(spark, db)
    CatalogOps.createDatabase(spark, db)
    val data = spark.range(5000).select(col("id").as("doc_id"),
      (col("id") % 5).as("cell"))
    CatalogOps.createBucketedCollection(spark, db, "b", data, "doc_id", buckets = 4)
    val d = CatalogOps.describeCollection(spark, db, "b").collect()(0)
    assert(d.getString(0) === s"$db.b")
    assert(d.getLong(3) === 5000L, "row count from footers must be exact")
    assert(d.getLong(1) > 0 && d.getLong(2) >= d.getLong(1) && d.getLong(4) > 0)
    assert(d.getString(6) === "4x(doc_id)")
    CatalogOps.createPartitionedCollection(spark, db, "p", data, "cell")
    val dp = CatalogOps.describeCollection(spark, db, "p").collect()(0)
    assert(dp.getLong(3) === 5000L && dp.getString(5) === "cell")
    CatalogOps.dropDatabase(spark, db)
  }

  test("interval join: bucketed decomposition equals the cartesian, no cartesian planned") {
    import spark.implicits._
    // randomized times with deliberate boundary values (exact multiples
    // of the tolerance, equal timestamps, just-inside/just-outside)
    val rnd = new scala.util.Random(11)
    val base = 1700000000L
    val lt = (0 until 300).map(i => base + rnd.nextInt(3600) +
      (if (i % 7 == 0) 0 else rnd.nextInt(3)))
    val rt = (0 until 300).map(_ => base + rnd.nextInt(3600))
    val l = lt.zipWithIndex.map { case (t, i) => (i.toLong, new java.sql.Timestamp(t * 1000L)) }
      .toDF("lid", "lts")
    val r = rt.zipWithIndex.map { case (t, i) => (i.toLong, new java.sql.Timestamp(t * 1000L)) }
      .toDF("rid", "rts")
    val tol = 30L
    val got = RelOps.intervalJoinOn(l, "lts", r, "rts", tol)
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).sorted
    val brute = l.crossJoin(r)
      .where(abs(col("lts").cast("long") - col("rts").cast("long")) <= tol)
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).sorted
    assert(got.length === brute.length && got.sameElements(brute))
    assert(got.nonEmpty)
    // no duplicate pairs (each pair meets in exactly one right bucket)
    assert(got.distinct.length === got.length)
    // and the plan is an equi join, not a cartesian/BNLJ
    val plan = RelOps.intervalJoinOn(l, "lts", r, "rts", tol)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("length-bucketed batching pads less than arrival-order batching") {
    import org.apache.spark.sql.expressions.Window
    val bucketedPad = TextAnalysisOps.batchByLength(spark, sf)
      .agg(sum(col("pad_chars"))).collect()(0).getLong(0)
    // the naive baseline: batches of 16 in doc_id (arrival) order
    val w = Window.orderBy(col("doc_id").asc)
    val naive = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars"))
      .withColumn("batch", ((row_number().over(w) - 1) / 16).cast("long"))
    val naivePad = naive
      .withColumn("bmax", max(col("n_chars"))
        .over(Window.partitionBy(col("batch"))))
      .agg(sum(col("bmax") - col("n_chars"))).collect()(0).getLong(0)
    assert(bucketedPad * 2 < naivePad,
      s"bucketed pad $bucketedPad !<< naive pad $naivePad")
    // the construction guarantee: padding < bucketWidth per sequence
    val maxPad = TextAnalysisOps.batchByLength(spark, sf)
      .agg(max(col("pad_chars"))).collect()(0).getLong(0)
    assert(maxPad < 200L)
  }

  test("CDF-grid calibration tracks the true rank within the bin resolution") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(5)
    val vals = Seq.fill(20000)(rnd.nextGaussian() * 100.0 + 500.0)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "x")
    val got = RelOps.calibrateOn(df, "x")
      .select(col("id"), col("x"), col("pct")).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val truePct = df.withColumn("tp",
        (percent_rank().over(Window.orderBy(col("x").asc, col("id").asc))))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // error bound: the grid's step is the mass of one bin; on a gaussian
    // the densest of 1024 bins holds well under 1% of the mass
    val worst = got.keys.map(id => math.abs(got(id)._2 - truePct(id))).max
    assert(worst < 0.01, s"worst calibration error $worst")
    // monotone: higher value never gets a lower pct
    val sortedByX = got.values.toSeq.sortBy(_._1)
    assert(sortedByX.sliding(2).forall {
      case Seq((_, p1), (_, p2)) => p1 <= p2; case _ => true
    })
  }

  test("interval join law across randomized tolerances; calibration degenerate inputs") {
    import spark.implicits._
    // randomized (seeded) sweep: varying tolerance, clustered + uniform
    // times, equality with brute force at every setting
    val rnd = new scala.util.Random(23)
    (0 until 4).foreach { trial =>
      val tol = Seq(1L, 7L, 60L, 3600L)(trial)
      val span = tol * 50
      def mk(n: Int, salt: Int) = (0 until n).map { i =>
        val t = 1700000000L + (math.abs(rnd.nextLong()) % span) +
          (if (i % 5 == 0) tol * (i % 3) else 0L) // exact-multiple boundaries
        (i.toLong + salt * 100000L, new java.sql.Timestamp(t * 1000L))
      }
      val l = mk(120, 1).toDF("lid", "lts")
      val r = mk(120, 2).toDF("rid", "rts")
      val got = RelOps.intervalJoinOn(l, "lts", r, "rts", tol)
        .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).sorted
      val brute = l.crossJoin(r)
        .where(abs(col("lts").cast("long") - col("rts").cast("long")) <= tol)
        .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).sorted
      assert(got.sameElements(brute), s"tol=$tol: ${got.length} vs ${brute.length}")
    }
    // calibration degenerate inputs: all-equal collapses to pct 0 (no row
    // is strictly below); two-point mass gives exactly the lower fraction
    val const = Seq.fill(50)(3.14).zipWithIndex.map(_.swap).toDF("id", "x")
    assert(RelOps.calibrateOn(const, "x").select("pct").collect()
      .forall(_.getDouble(0) === 0.0))
    val twoPoint = (Seq.fill(30)(1.0) ++ Seq.fill(70)(2.0))
      .zipWithIndex.map(_.swap).toDF("id", "x")
    val pcts = RelOps.calibrateOn(twoPoint, "x")
      .select("x", "pct").collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(pcts(1.0) === 0.0 && pcts(2.0) === 0.3)
  }

  test("windowed distinct: per-window HLL registers track the exact counts") {
    import graft.sources.CatalogOps
    val db = "wdistdb"
    CatalogOps.dropDatabase(spark, db)
    CatalogOps.createDatabase(spark, db)
    // every (day, type) window of the exact form, re-answered through the
    // HLL register path — the scale story the tumblingDistinct scaladoc
    // names for cardinalities where exact distinct is the bottleneck
    val exact = EventOps.tumblingDistinct(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val ev = graft.sources.Tables.events(spark, sf)
      .select(date_trunc("day", col("ts")).as("day"), col("event_type"),
        col("user_id"))
    val windows = exact.keys.toSeq.sortBy(_.toString).take(6)
    windows.foreach { case (day, typ) =>
      val slice = ev.where(col("day") === day && col("event_type") === typ)
        .select(col("user_id").as("k"))
      CatalogOps.createHllStore(spark, db, "w", slice, "k")
      val est = CatalogOps.hllEstimate(spark, db, "w")
      val want = exact((day, typ))
      // fixture windows are small → linear counting, near-exact
      assert(math.abs(est - want) <= math.max(2L, want / 20),
        s"window ($day,$typ): est $est vs exact $want")
    }
    CatalogOps.dropDatabase(spark, db)
  }

  test("multi-signal dedup: both edge types land in one component, closure bridges signals") {
    val comp = DedupOps.dedupMulti(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every url-dup pair shares a component
    val urlPairs = TextOps.urlDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(urlPairs.nonEmpty)
    urlPairs.foreach { case (a, b) => assert(comp(a) === comp(b)) }
    // every exact-text pair shares a component
    val byText = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    byText.groupBy(_._2).values.filter(_.length > 1).foreach { g =>
      val cs = g.map(x => comp(x._1)).distinct
      assert(cs.length === 1, s"text group split: $g")
    }
    // the union closure can only merge: component count is at most either
    // single signal's, and a synthetic bridge merges through the closure
    val urlOnly = urlPairs.map(_._1).toSet ++ urlPairs.map(_._2)
    assert(comp.values.toSet.size <= comp.size - urlPairs.length + 1)
    import spark.implicits._
    val bridge = DedupOps.connectedComponentsOn(
      Seq((10L, 20L), (20L, 30L), (100L, 200L)).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bridge(20L) === 10L && bridge(30L) === 10L && bridge(200L) === 100L)
    assert(urlOnly.nonEmpty)
  }

  test("link anchors: in-degree and sorted top anchors match a brute rebuild") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val n = docs.size.toLong
    val edges = for {
      src <- docs.keys.toSeq; k <- 1 to 4
      dst = (src * LinkOps.EdgeMult + k * LinkOps.EdgeStride) % n
      if dst != src
    } yield (src, dst)
    val expected = edges.groupBy(_._2).map { case (dst, es) =>
      val anchors = es.map(_._1).sorted.map(s => docs(s).take(24))
      dst -> (es.length.toLong, anchors.take(3).mkString(" | "))
    }
    val got = LinkOps.linkAnchors(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got === expected)
  }

  test("containment: directed quoted-inside pairs; prefix-filter candidates lose nothing") {
    import spark.implicits._
    val small = "alpha beta gamma delta epsilon zeta eta theta"
    val big = small + " iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    val other = "one two three four five six seven eight nine ten"
    val dup = "x y z w v u t s"
    val docs = Seq((1L, small), (2L, big), (3L, other), (4L, dup), (5L, dup))
      .toDF("doc_id", "text")
    val out = DedupOps.containmentPairsOn(docs, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((1L, 2L)) === 1.0)        // small wholly inside big
    assert(!out.contains((2L, 1L)))      // but big is NOT covered by small
    assert(out((4L, 5L)) === 1.0 && out((5L, 4L)) === 1.0) // exact dup: both ways
    assert(!out.keys.exists(p => p._1 == 3L || p._2 == 3L))
    // exact-recall on the fixture corpus: the prefix-filtered plan must
    // equal a local brute force over the same 3-gram shingle sets
    val fixture = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split(" ").sliding(3).filter(_.length == 3)
          .map(_.mkString("\u001E")).toSet) // the engine's RS joiner
      .filter(_._2.nonEmpty)
    val tau = 0.6
    val brute = (for {
      (a, sa) <- fixture; (b, sb) <- fixture
      if a != b
      c = sa.count(sb.contains).toDouble / sa.size
      if c >= tau
    } yield (a, b) -> BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble).toMap
    val gotFix = DedupOps.containmentPairs(spark, sf, tau).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(gotFix === brute)
    assert(gotFix.nonEmpty) // the fixture plants real containment pairs
  }

  test("term co-occurrence: document-level pair counts and PMI match hand computation") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a b"), (3L, "a c a"), (4L, "b d"))
      .toDF("doc_id", "text")
    val out = TextAnalysisOps.termCooccurrenceOn(docs, topV = 10, topK = 10)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    def pmi(nab: Long, dfa: Long, dfb: Long): Double =
      BigDecimal(math.log(nab.toDouble * 4.0 / (dfa.toDouble * dfb.toDouble)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // df: a=3 b=3 c=2 d=1; "a c a" counts a ONCE (distinct per doc)
    val expected = Seq(
      ("a", "b", 2L, pmi(2, 3, 3)),
      ("a", "c", 2L, pmi(2, 3, 2)),
      ("b", "c", 1L, pmi(1, 3, 2)),
      ("b", "d", 1L, pmi(1, 3, 1)))
    assert(out.toSeq === expected)
    // topV prune: keeping only {a, b} (df 3) must drop every c/d pair
    val pruned = TextAnalysisOps.termCooccurrenceOn(docs, topV = 2, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(pruned.toSeq === Seq(("a", "b", 2L)))
  }

  test("source drift: JSD is 0 for identical, ln 2 for disjoint, hand value between") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "a a b"), ("s2", "a a b"),        // identical distributions
      ("s3", "c c d"),                          // disjoint vocabulary
      ("s4", "a b"))                            // same support as s1, shifted
      .toDF("source", "text")
    val out = TextAnalysisOps.sourceDriftOn(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(out.size === 6)
    assert(out(("s1", "s2")) === 0.0)
    assert(math.abs(out(("s1", "s3")) - math.log(2)) < 1e-6)
    assert(math.abs(out(("s2", "s3")) - math.log(2)) < 1e-6)
    // hand value s1 vs s4: P=(2/3,1/3), Q=(1/2,1/2) over {a,b}
    def kl(p: Seq[Double], m: Seq[Double]) =
      p.zip(m).map { case (pi, mi) => if (pi > 0) pi * math.log(pi / mi) else 0.0 }.sum
    val (pp, qq) = (Seq(2.0 / 3, 1.0 / 3), Seq(0.5, 0.5))
    val mm = pp.zip(qq).map { case (x, y) => (x + y) / 2 }
    val want = 0.5 * kl(pp, mm) + 0.5 * kl(qq, mm)
    assert(math.abs(out(("s1", "s4")) - want) < 1e-6)
    // symmetric by construction: only a<b pairs emitted, each exactly once
    assert(out.keys.forall { case (x, y) => x < y })
  }

  test("window co-occurrence: bounded fan-out pairs and PMI match hand computation") {
    import spark.implicits._
    // "a b c d": w=2 pairs = (a,b)(a,c)(b,c)(b,d)(c,d); "x a": (a,x)
    val docs = Seq((1L, "a b c d"), (2L, "x a")).toDF("doc_id", "text")
    val out = TextAnalysisOps.termCooccurrenceWindowOn(docs, w = 2, topK = 10)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // unigrams: a=2 b=1 c=1 d=1 x=1, T_u=6; T_p=6
    def pmi(nab: Long, ca: Long, cb: Long): Double =
      BigDecimal(math.log(nab.toDouble * 6.0 * 6.0 / (6.0 * ca.toDouble * cb.toDouble)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = Seq(
      ("a", "b", 1L, pmi(1, 2, 1)), ("a", "c", 1L, pmi(1, 2, 1)),
      ("a", "x", 1L, pmi(1, 2, 1)), ("b", "c", 1L, pmi(1, 1, 1)),
      ("b", "d", 1L, pmi(1, 1, 1)), ("c", "d", 1L, pmi(1, 1, 1)))
    assert(out.toSeq === expected)
    // a repeated token within the window co-occurs with itself
    val rep = TextAnalysisOps.termCooccurrenceWindowOn(
      Seq((1L, "a a b")).toDF("doc_id", "text"), w = 2, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rep.toSeq === Seq(("a", "b", 2L), ("a", "a", 1L)))
  }

  test("vec outliers: least-central rows match a local centroid+cosine reference") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](2).toArray, r.getInt(1)))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cents = emb.groupBy(_._3).view.mapValues { rows =>
      val dim = rows.head._2.length
      Array.tabulate(dim)(i => r6(rows.map(_._2(i)).sum / rows.length))
    }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    val local = emb.map { case (id, v, l) => id -> (l, r6(cos(v, cents(l)))) }.toMap
    val got = KnnOps.outliers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(got.length === math.min(20, emb.length))
    assert(got === got.sortBy(t => (t._3, t._1))) // ascending, id tie-break
    // the local loop's fold order can differ from the codegen fold by an
    // ulp, so compare scores with tolerance and require every reported
    // outlier to sit at or below the local 20th-smallest score boundary
    val tol = 2e-6
    got.foreach { case (id, l, s) =>
      assert(local(id)._1 === l)
      assert(math.abs(local(id)._2 - s) <= tol, s"id=$id $s vs ${local(id)._2}")
    }
    val boundary = local.values.map(_._2).toSeq.sorted
      .take(math.min(20, emb.length)).last
    assert(got.forall(_._3 <= boundary + tol))
  }

  test("label propagation: bridged cliques keep distinct communities where CC merges them") {
    import spark.implicits._
    // two 5-cliques joined by ONE bridge edge (5)-(10)
    val cliqueA = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val cliqueB = for (i <- 10L to 14L; j <- (i + 1) to 14L) yield (i, j)
    val und = (cliqueA ++ cliqueB :+ (5L, 10L)).toDF("a", "b")
    val labels = LinkOps.labelPropagationOn(und, iters = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val la = (1L to 5L).map(labels)
    val lb = (10L to 14L).map(labels)
    assert(la.distinct.size === 1, s"clique A split: $la")
    assert(lb.distinct.size === 1, s"clique B split: $lb")
    assert(la.head !== lb.head, "the bridge must NOT merge the communities")
    // the same graph is ONE connected component — the semantic difference
    val cc = DedupOps.connectedComponentsOn(und).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(((1L to 5L) ++ (10L to 14L)).map(v => cc.getOrElse(v, v)).distinct.size === 1)
    // determinism: a second run is bit-identical
    val again = LinkOps.labelPropagationOn(und, iters = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === labels)
  }

  test("daily anomalies: z from integer moments matches a local reference, flag at |z| >= 2") {
    val rows = EventOps.dailyAnomalies(spark, sf).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    assert(rows.nonEmpty)
    // per type: mean-centered z recomputed locally from the (day, n) pairs
    rows.groupBy(_._1).foreach { case (_, tRows) =>
      val d = tRows.length.toLong
      val s = tRows.map(_._3).sum
      val q = tRows.map(x => x._3 * x._3).sum
      tRows.foreach { case (_, _, n, z, flag) =>
        val want = BigDecimal((d * n - s).toDouble /
          math.sqrt(d.toDouble * (d * q - s * s).toDouble / (d - 1).toDouble))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(z === want)
        assert(flag === (if (math.abs(z) >= 2.0) 1L else 0L))
      }
    }
    // Σz ≈ 0 per type is NOT exact after rounding; but the raw centered
    // sums are: Σ(d·n − s) = 0 exactly
    rows.groupBy(_._1).foreach { case (_, tRows) =>
      val d = tRows.length.toLong
      val s = tRows.map(_._3).sum
      assert(tRows.map(x => d * x._3 - s).sum === 0L)
    }
  }

  test("maintained transition matrix: boundary-bridged folds equal one-shot, replay no-ops") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val (db, name) = ("graft_trans_test", "ev")
    graft.sources.CatalogOps.createDatabase(spark, db)
    KnnOps.dropTableAndDir(spark, db, s"${name}__transstore")
    // three time-ordered batches; users 7 and 8 straddle every boundary,
    // so the bridge path carries real transitions each fold
    val b0 = Seq((1L, ts(10), 7L, "view"), (2L, ts(20), 8L, "view"),
      (3L, ts(30), 7L, "click"))
    val b1 = Seq((4L, ts(40), 7L, "purchase"), (5L, ts(50), 8L, "click"),
      (6L, ts(60), 9L, "signup"))
    val b2 = Seq((7L, ts(70), 8L, "purchase"), (8L, ts(80), 9L, "view"),
      (9L, ts(90), 7L, "view"))
    def df(b: Seq[(Long, java.sql.Timestamp, Long, String)]) =
      b.toDF("event_id", "ts", "user_id", "event_type")
    EventOps.transStoreFold(spark, db, name, df(b0), 0L)
    EventOps.transStoreFold(spark, db, name, df(b1), 1L)
    EventOps.transStoreFold(spark, db, name, df(b2), 2L)
    def served() = EventOps.serveTransStore(spark, db, name).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val want = EventOps.transitionsOn(df(b0 ++ b1 ++ b2)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(served() === want)
    assert(want.map(_._3).sum === 6L) // 9 events, 3 users → 6 transitions
    // committed replay: folding batch 1 again changes nothing
    EventOps.transStoreFold(spark, db, name, df(b1), 1L)
    assert(served() === want)
  }

  test("event transitions: lag pairs per user, ts then event_id order, full matrix") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ev = Seq(
      (1L, ts(10), 7L, "view"), (2L, ts(20), 7L, "click"),
      (3L, ts(30), 7L, "view"), (4L, ts(40), 7L, "click"),
      // user 8: a ts TIE broken by event_id (5 before 6)
      (5L, ts(50), 8L, "view"), (6L, ts(50), 8L, "purchase"),
      (7L, ts(60), 9L, "signup")) // single event: no transition
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = EventOps.transitionsOn(ev).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === Seq(
      ("view", "click", 2L),
      ("click", "view", 1L),
      ("view", "purchase", 1L)))
  }

  test("dsir: target-like pool docs outrank target-unlike; partition-order invariant") {
    import spark.implicits._
    import graft.operators.MlOps
    // target corpus (lang=tg) dominated by the marker bigram "alpha beta";
    // pool docs (lang=pl): one echoing the target distribution, one of
    // fresh off-target tokens, one mixed
    val docs = Seq(
      (1L, "tg", "s0", "alpha beta alpha beta alpha beta"),
      (2L, "tg", "s0", "alpha beta gamma alpha beta"),
      (3L, "pl", "s1", "alpha beta alpha beta"),       // target-like
      (4L, "pl", "s1", "zeta eta theta iota kappa"),   // off-target
      (5L, "pl", "s1", "alpha beta zeta eta")          // mixed
    ).toDF("doc_id", "lang", "source", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      MlOps.dsirSelectOn(df, col("lang") === "tg", m = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(5)))
    val got = run(docs)
    val byId = got.toMap
    // ranking: target-like pool doc above mixed above off-target
    assert(byId(3L) > byId(5L) && byId(5L) > byId(4L),
      s"importance order violated: $got")
    // a target doc or the target-echoing pool doc tops the list — never
    // the off-target or mixed pool docs
    assert(Set(1L, 2L, 3L).contains(got.head._1), s"unexpected top: $got")
    // exact invariance under input partitioning (integer nano arithmetic)
    val re = run(docs.repartition(7))
    assert(re.toSeq === got.toSeq)
  }

  test("dsir: m caps the selection and keeps the global best") {
    import spark.implicits._
    import graft.operators.MlOps
    val docs = (1L to 20L).map { i =>
      val txt = if (i <= 5) "target marker tokens here"
                else if (i % 2 == 0) "target marker tokens here too"
                else "completely different words entirely"
      (i, if (i <= 5) "tg" else "pl", "s", txt)
    }.toDF("doc_id", "lang", "source", "text")
    val all = MlOps.dsirSelectOn(docs, col("lang") === "tg", m = 100)
      .collect().map(_.getLong(0))
    val top3 = MlOps.dsirSelectOn(docs, col("lang") === "tg", m = 3)
      .collect().map(_.getLong(0))
    assert(top3.toSeq === all.take(3).toSeq)
    assert(top3.length === 3)
  }

  test("bfs depth: min-hop on a diamond+chain, depth cutoff, partition invariance") {
    import spark.implicits._
    import graft.operators.LinkOps
    // 1→2, 1→3, 2→4, 3→4 (diamond), 4→5→6→7 (chain past the cutoff)
    val e = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 7L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("doc_id")
    val got = LinkOps.bfsDepthOn(seeds, e, maxDepth = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    // node 4 is reachable at depth 2 via both branches — min-hop, once
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 3))
    // deeper cutoff reaches the chain tail; shallower stops earlier
    val deep = LinkOps.bfsDepthOn(seeds, e, maxDepth = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(deep(6L) === 4 && deep(7L) === 5)
    // multi-source: a second seed re-roots its own neighborhood at 0
    val two = LinkOps.bfsDepthOn(Seq(1L, 5L).toDF("doc_id"), e, maxDepth = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(two(5L) === 0 && two(6L) === 1 && two(7L) === 2 && two(4L) === 2)
    // exact invariance under input partitioning
    val re = LinkOps.bfsDepthOn(seeds.repartition(5), e.repartition(7), 3)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(re === got)
  }

  test("coupling: hand counts, hub prune drops the promiscuous target, determinism") {
    import spark.implicits._
    import graft.operators.LinkOps
    // sources 1,2 share targets {10,11}; 2,3 share {12}; plus a hub
    // target 99 cited by EVERY source — in-degree 3 > maxIn=2, pruned
    val e = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (2L, 12L),
      (3L, 12L), (1L, 99L), (2L, 99L), (3L, 99L)).toDF("src", "dst")
    val got = LinkOps.couplingOn(e, maxIn = 2, topK = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // hub 99 contributes nothing: (1,2)=2 via {10,11}, (2,3)=1 via {12}
    assert(got === Map((1L, 2L) -> 2L, (2L, 3L) -> 1L))
    // without the prune the hub couples everyone to everyone
    val un = LinkOps.couplingOn(e, maxIn = 10, topK = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(un === Map((1L, 2L) -> 3L, (2L, 3L) -> 2L, (1L, 3L) -> 1L))
    // topK tie order is (count desc, a, b) — deterministic cut
    val top1 = LinkOps.couplingOn(e, maxIn = 10, topK = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(top1.toSeq === Seq((1L, 2L, 3L)))
    // partition invariance
    val re = LinkOps.couplingOn(e.repartition(7), maxIn = 2, topK = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(re === got)
  }

  test("kcenter: cluster resolution, reference equality, radius curve, dup stop") {
    import spark.implicits._
    import graft.operators.MlOps
    // independent greedy reference — same cosine accumulation order as
    // CosineSimilarity (dot/(sqrt(aa)*sqrt(bb))), distances micro-rounded
    // AT COMPUTATION (the r16 oracle-exact semantics), max-dist tie ->
    // min id, stop when the radius rounds to zero at 6 dp
    def cosD(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1 }
      val d = math.sqrt(aa) * math.sqrt(bb)
      1.0 - (if (d == 0.0) 0.0 else dot / d)
    }
    def refGreedy(vs: Seq[(Long, Array[Double])], k: Int): Seq[(Int, Long, Double)] = {
      val sorted = vs.sortBy(_._1)
      var picked = List((1, sorted.head._1, 0.0))
      def cosD6(a: Array[Double], b: Array[Double]): Double =
        math.floor(cosD(a, b) * 1e6 + 0.5) / 1e6
      val dmin = scala.collection.mutable.Map(
        vs.map { case (id, v) => id -> cosD6(v, sorted.head._2) }: _*)
      val byId = vs.toMap
      var r = 2
      var stop = false
      while (r <= k && !stop) {
        val (id, d) = dmin.toSeq.map { case (i, dd) => (i, dd) }
          .sortBy { case (i, dd) => (-dd, i) }.head
        if (math.floor(d * 1e6 + 0.5) <= 0.0) stop = true
        else {
          picked ::= ((r, id, d))
          val cv = byId(id)
          vs.foreach { case (i, v) => dmin(i) = math.min(dmin(i), cosD6(v, cv)) }
          r += 1
        }
      }
      picked.reverse.map { case (rk, id, d) => (rk, id, d) }
    }
    // three tight planted clusters around orthogonal axes + jitter
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 30L).map { i =>
      val base = Array.fill(8)(0.0)
      base((i % 3).toInt * 2) = 1.0
      (i, base.map(_ + rnd.nextDouble() * 0.01))
    }
    val df = vecs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val got = MlOps.kcenterOn(df, k = 5).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    // first three picks cover all three clusters before any revisit
    val firstClusters = got.take(3).map(_._2 % 3).toSet
    assert(firstClusters.size === 3)
    // radius curve is non-increasing from rank 2 on
    val radii = got.drop(1).map(_._3)
    assert(radii.zip(radii.drop(1)).forall { case (a, b) => a >= b })
    // exact match against the independent reference (ids + round-6 radius)
    assert(got === refGreedy(vecs, 5))
    // partition invariance
    val re = MlOps.kcenterOn(df.repartition(7), k = 5).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(re === got)
    // all-identical positions: selection stops after the seed
    val dup = (0L until 6L).map(i => (i, Seq(1.0, 2.0, 3.0))).toDF("vec_id", "embedding")
    val d1 = MlOps.kcenterOn(dup, k = 4).collect()
    assert(d1.length === 1 && d1(0).getLong(1) === 0L)
  }

  test("gopher rules: each rule trips on its planted violation, keep is the conjunction") {
    import spark.implicits._
    import graft.operators.TextAnalysisOps
    val pass = ("the quick brown fox and lazy dogs run " * 7).trim
    val docs = Seq(
      (1L, pass),                                     // clean: keep
      (2L, "the and tiny short text here now"),       // too few words
      (3L, pass + " # # # # # # #"),                  // symbol ratio
      (4L, "- one\n- two\n- three\n- four"),          // all bullet lines
      (5L, "alpha beta gamma...\ndelta epsilon zeta\neta theta iota...\nkappa lambda mu"), // ellipsis lines
      (6L, "zzz yyy xxx www vvv uuu"),                // no stopwords
      (7L, "a b c d e f g h")                         // mean word length < 3
    ).toDF("doc_id", "text")
    val got = TextAnalysisOps.gopherRulesOn(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    def flag(id: Long, name: String): Long =
      got(id).getLong(got(id).fieldIndex(name))
    assert(flag(1L, "keep") === 1L)
    assert(flag(2L, "r_word_count") === 0L && flag(2L, "r_word_len") === 1L &&
      flag(2L, "r_stopwords") === 1L && flag(2L, "keep") === 0L)
    assert(flag(3L, "r_symbol_ratio") === 0L && flag(3L, "r_word_count") === 1L &&
      flag(3L, "r_alpha") === 1L)
    assert(flag(4L, "r_bullet") === 0L)
    assert(flag(5L, "r_ellipsis") === 0L)
    assert(flag(6L, "r_stopwords") === 0L)
    assert(flag(7L, "r_word_len") === 0L)
    // hand counters on the clean doc: 56 words, 8-word pattern x7
    assert(got(1L).getLong(got(1L).fieldIndex("n_words")) === 56L)
    assert(got(1L).getLong(got(1L).fieldIndex("n_stopwords")) === 2L)
    // partition invariance
    val re = TextAnalysisOps.gopherRulesOn(docs.repartition(5)).collect()
      .map(r => (r.getLong(0), r.toSeq)).toMap
    assert(re === got.map { case (k, r) => (k, r.toSeq) })
  }

  test("ppl buckets: hand LM terciles, boundary semantics, partition invariance") {
    import spark.implicits._
    import graft.operators.TextAnalysisOps
    // corpus-trained bigram MLE with three exact probability plateaus:
    // (a,a) p=1.0 ×3 docs, (b,*) split 2/2 so p=0.5 ×4, (c,*) split
    // 4 ways so p=0.25 ×4 — n=11, fences at ranks floor(10/3)=3 -> 0.25
    // and floor(20/3)=6 -> 0.5: tail<=0.25, middle<=0.5, head above
    val docs = Seq(
      (1L, "a a a a"), (2L, "a a a a"), (3L, "a a a a"),
      (4L, "b m"), (5L, "b m"), (6L, "b n"), (7L, "b n"),
      (8L, "c p1"), (9L, "c p2"), (10L, "c p3"), (11L, "c p4")
    ).toDF("doc_id", "text")
    val got = TextAnalysisOps.pplBucketsOn(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    val byBucket = got.groupBy(_._3).view.mapValues(_.map(_._1).toSet).toMap
    assert(byBucket("head") === Set(1L, 2L, 3L))
    assert(byBucket("middle") === Set(4L, 5L, 6L, 7L))
    assert(byBucket("tail") === Set(8L, 9L, 10L, 11L))
    assert(got.filter(_._3 == "head").forall(_._2 === 1.0))
    assert(got.filter(_._3 == "middle").forall(_._2 === 0.5))
    assert(got.filter(_._3 == "tail").forall(_._2 === 0.25))
    // partition invariance
    val re = TextAnalysisOps.pplBucketsOn(docs.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    assert(re === got)
    // degenerate: all scores equal -> everything is tail (<= both fences)
    val same = Seq((1L, "z z z"), (2L, "z z z")).toDF("doc_id", "text")
    val s = TextAnalysisOps.pplBucketsOn(same).collect().map(_.getString(2))
    assert(s.forall(_ === "tail"))
  }

  test("keep-best dedup: best quality wins, ties to min id, singletons pass through") {
    import spark.implicits._
    import graft.operators.DedupOps
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 8L), (9L, 8L))
      .toDF("doc_id", "component")
    val quality = Seq((1L, 0.4), (2L, 0.9), (3L, 0.9), (7L, 0.1),
      (8L, 0.5), (9L, 0.5)).toDF("doc_id", "quality")
    val got = DedupOps.keepBestOn(comp, quality).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(got === Seq(
      (1L, 2L, 0.9, 3L),   // 2 and 3 tie on quality -> smaller id
      (7L, 7L, 0.1, 1L),   // singleton passes through
      (8L, 8L, 0.5, 2L)))  // tie -> min id
    // partition invariance
    val re = DedupOps.keepBestOn(comp.repartition(5), quality.repartition(3))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(re === got)
  }

  test("vec project: JL geometry survives, basis-vector sanity, partition invariance") {
    import spark.implicits._
    import graft.operators.KnnOps
    // three separated clusters in 32-d, projected to 8-d: nearest
    // neighbor in PROJECTED space must stay within-cluster (the JL
    // claim, pinned empirically — matrix and jitter are deterministic)
    val rnd = new scala.util.Random(11)
    val base = Array.tabulate(3)(c => Array.tabulate(32)(j =>
      if (j % 3 == c) 1.0 else 0.0))
    val vecs = (0 until 21).map { i =>
      (i.toLong, base(i % 3).map(_ + rnd.nextGaussian() * 0.05).toSeq)
    }
    val proj = KnnOps.vecProjectOn(vecs.toDF("vec_id", "embedding"), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    (0 until 21).foreach { i =>
      val nn = (0 until 21).filter(_ != i)
        .minBy(j => d2(proj(i.toLong), proj(j.toLong)))
      assert(nn % 3 === i % 3, s"NN of $i crossed clusters after projection")
    }
    // one-hot basis vector: every projected coordinate is ±1/sqrt(8)
    val eVec = (0 until 32).map(j => if (j == 5) 1.0 else 0.0)
    val pe = KnnOps.vecProjectOn(Seq((0L, eVec)).toDF("vec_id", "embedding"), 8)
      .collect().map(_.getDouble(2))
    val unit = math.floor(1.0 / math.sqrt(8.0) * 1e6 + 0.5) / 1e6
    assert(pe.length === 8 && pe.forall(v => math.abs(v) === unit))
    // partition invariance
    val re = KnnOps.vecProjectOn(vecs.toDF("vec_id", "embedding").repartition(7), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val orig = KnnOps.vecProjectOn(vecs.toDF("vec_id", "embedding"), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(re === orig)
  }

  test("semantic decontamination: hand cosines, threshold flag, empty eval set") {
    import spark.implicits._
    import graft.operators.KnnOps
    // eval label 0 = axes e1 and e2; corpus: a copy of e1 (cos 1), a
    // 45-degree blend (cos ~0.7071), and an orthogonal e3 (cos 0)
    val emb = Seq(
      (1L, 0, Seq(1.0, 0.0, 0.0)),
      (2L, 0, Seq(0.0, 1.0, 0.0)),
      (10L, 1, Seq(2.0, 0.0, 0.0)),
      (11L, 1, Seq(1.0, 1.0, 0.0)),
      (12L, 2, Seq(0.0, 0.0, 5.0))
    ).toDF("vec_id", "label", "embedding")
    val got = KnnOps.semanticDecontaminateOn(emb, evalLabel = 0, tau = 0.45)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got === Seq((10L, 1.0, 1L), (11L, 0.707107, 1L), (12L, 0.0, 0L)))
    // tau above the blend: only the exact copy is flagged
    val strict = KnnOps.semanticDecontaminateOn(emb, evalLabel = 0, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(strict === Seq((10L, 1L), (11L, 0L), (12L, 0L)))
    // empty eval set: everything survives with max_eval_cos = -1
    val none = KnnOps.semanticDecontaminateOn(emb, evalLabel = 9, tau = 0.45)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(none.forall { case (_, c, f) => c === -1.0 && f === 0L })
    assert(none.length === 5)
    // partition invariance
    val re = KnnOps.semanticDecontaminateOn(emb.repartition(7), 0, 0.45)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(re === got)
  }

  test("corr matrix: hand values, bounds, partition invariance") {
    import spark.implicits._
    import graft.operators.RelOps
    // y = 2x (r=1), z = -x (r=-1), w independent-ish
    val df = Seq((1L, 2L, -1L, 5L), (2L, 4L, -2L, 3L), (3L, 6L, -3L, 8L),
      (4L, 8L, -4L, 1L), (5L, 10L, -5L, 9L))
      .toDF("x", "y", "z", "w")
    val names = Seq("w", "x", "y", "z")
    val got = RelOps.corrMatrixOn(df, names).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    assert(got(("x", "y")) === 1.0)
    assert(got(("x", "z")) === -1.0)
    assert(got(("y", "z")) === -1.0)
    assert(got.values.forall(v => v >= -1.0 && v <= 1.0))
    assert(got.size === 6)
    val re = RelOps.corrMatrixOn(df.repartition(7), names).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    assert(re === got)
    // fixture run returns 6 in-range rows
    val fix = RelOps.corrMatrix(spark, sf).collect()
    assert(fix.length === 6 &&
      fix.forall(r => math.abs(r.getDouble(2)) <= 1.0))
  }

  test("dsir stored: maintained model serves the live selection bit-for-bit") {
    import graft.operators.MlOps
    val live = MlOps.dsirSelect(spark, sf).collect().toSeq
    val stored = MlOps.dsirSelectStored(spark, sf).collect().toSeq
    assert(stored === live,
      "integer count folds must reproduce the one-shot selection exactly")
  }

  test("url blocklist: domain and score rules gate independently, both sides planted") {
    import spark.implicits._
    val blocked = Seq("bad.example").toDF("host")
    val urls = Seq(
      (1L, "http://ok.example/page/1"),               // clean
      (2L, "http://bad.example/page/2"),              // domain rule
      (3L, "http://ok.example/casino/bonus"),         // strict word: score 5
      (4L, "http://ok.example/bet-and-win"),          // two softs: score 2, passes
      (5L, "http://bad.example/casino/win")           // both rules fail, score 6
    ).toDF("doc_id", "url")
    val out = TextOps.urlBlocklistOn(urls, blocked)
      .collect().map(r => r.getLong(0) ->
        (r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(out(1L) === (("ok.example", 1L, 0L, 1L, 1L)))
    assert(out(2L) === (("bad.example", 0L, 0L, 1L, 0L)))
    assert(out(3L) === (("ok.example", 1L, 5L, 0L, 0L)))
    assert(out(4L) === (("ok.example", 1L, 2L, 1L, 1L)))
    assert(out(5L) === (("bad.example", 0L, 6L, 0L, 0L)))
  }

  test("url blocklist fixture: every flag takes both values and the join is broadcast") {
    val full = TextOps.urlBlocklist(spark, sf).localCheckpoint()
    Seq("r_domain", "r_score", "keep").foreach { f =>
      val r = full.agg(min(col(f)), max(col(f))).head()
      assert(r.getLong(0) == 0L && r.getLong(1) == 1L, s"$f must take both values")
    }
    val plan = TextOps.urlBlocklist(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      "blocklist must join by broadcast")
  }
}
