package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{GraphAnnOps, NswGraph}
import graft.sources.{CatalogOps, Tables}

/** Incremental NSW maintenance ([[CatalogOps.upsertNsw]],
  * [[CatalogOps.deleteNsw]]): the no-op fast path, emptied cells on the
  * upsert path, graph rows equal to direct `buildLocal`/`insertLocal`
  * calls, and a ceiling on the Spark jobs one small upsert launches.
  */
class NswMaintenanceSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private def warehouse: String =
    new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath

  private def freshDb(db: String): Unit = {
    CatalogOps.dropDatabase(spark, db)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$warehouse/$db.db"))
    CatalogOps.createDatabase(spark, db)
  }

  /** partition dir → its parquet files with their mtimes */
  private def partFiles(db: String, name: String): Map[String, Set[(String, Long)]] =
    new java.io.File(s"$warehouse/$db.db/$name").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("part="))
      .map(d => d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet)
      .toMap

  private def graphs(db: String, name: String): Map[Int, NswGraph] =
    spark.table(s"`$db`.`$name`").as[NswGraph].collect().map(g => g.part -> g).toMap

  /** a graph as comparable values (arrays compare by reference) */
  private def canon(g: NswGraph) =
    (g.part, g.n, g.dim, g.ids.toSeq, g.vecs.toSeq, g.adjOff.toSeq, g.adj.toSeq)

  private def nodes(g: NswGraph): Seq[(Long, Seq[Double])] =
    g.ids.indices.map(i => g.ids(i) -> g.vecs.slice(i * g.dim, (i + 1) * g.dim).toSeq)

  private def partOf(gs: Map[Int, NswGraph], id: Long): Int =
    gs.values.find(_.ids.contains(id)).get.part

  /** three planted directions in 4-d; k-means seeds on the lowest ids, so
    * id 0 (alone on the third axis) keeps a cell to itself */
  private def planted: DataFrame = {
    val rnd = new scala.util.Random(77L)
    def near(axis: Int): Seq[Double] =
      Seq.tabulate(4)(i => (if (i == axis) 1.0 else 0.0) + rnd.nextDouble() * 0.05)
    ((0L, near(2)) +: (1 until 41).map(i => (i.toLong, near((i + 1) % 2))))
      .toDF("vec_id", "embedding")
  }

  test("NSW no-op batches write nothing: empty upsert, delete of absent ids") {
    val db = "nswnoopdb"
    freshDb(db)
    CatalogOps.createNswRoutedCollection(spark, db, "routed", planted, kCells = 3)
    CatalogOps.createNswCollection(spark, db, "sharded", planted, shards = 4)
    // every command (table write, DDL) the calls run: a no-op must run none
    val commands = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = qe.analyzed match {
        case c: org.apache.spark.sql.catalyst.plans.logical.Command => commands.add(c.nodeName)
        case _ =>
      }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    Seq("routed", "sharded").foreach { name =>
      val before = partFiles(db, name)
      assert(before.nonEmpty)
      spark.listenerManager.register(listener)
      try {
        CatalogOps.upsertNsw(spark, db, name,
          Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding"))
        CatalogOps.deleteByIds(spark, db, name, Seq(123456789L, -3L).toDF("vec_id"))
        org.apache.spark.graftbridge.ListenerBusDrain.drain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      assert(commands.isEmpty, s"$name: ${commands.toArray.mkString(", ")}")
      assert(partFiles(db, name) === before, s"$name: a no-op call rewrote files")
      assert(!spark.catalog.tableExists(db, s"__${name}_graph_staging"))
      assert(!new java.io.File(s"$warehouse/$db.db/__${name}_graph_staging").exists())
    }
    CatalogOps.dropDatabase(spark, db)
  }

  test("routed NSW upsert drops a cell its only node moved out of; duplicate ids keep the max embedding") {
    val db = "nswemptydb"
    freshDb(db)
    CatalogOps.createNswRoutedCollection(spark, db, "kb", planted, kCells = 3)
    val before = graphs(db, "kb")
    val lone = partOf(before, 0L)
    assert(before(lone).n === 1, "id 0 must start alone in its cell")
    val target = partOf(before, 1L) // id 1 sits on the first axis
    // two rows for id 0, both on the first axis: the winner is
    // max(struct(embedding)), the lexicographically larger vector
    val hi = Seq(1.0, 0.02, 0.01, 0.0)
    val lo = Seq(1.0, 0.01, 0.03, 0.0)
    CatalogOps.upsertNsw(spark, db, "kb", Seq((0L, lo), (0L, hi)).toDF("vec_id", "embedding"))
    val parts = spark.sql(s"SHOW PARTITIONS `$db`.`kb`").collect().map(_.getString(0)).toSet
    assert(!parts.contains(s"part=$lone"), parts.mkString(","))
    val after = graphs(db, "kb")
    assert(!after.contains(lone))
    assert(after.values.toSeq.flatMap(_.ids).count(_ == 0L) === 1)
    assert(partOf(after, 0L) === target)
    assert(nodes(after(target)).toMap.apply(0L) === hi)
    CatalogOps.dropDatabase(spark, db)
  }

  test("routed NSW upsert writes the graphs direct buildLocal/insertLocal calls give") {
    val db = "nswbytedb"
    freshDb(db)
    val sf01 = new java.io.File(TestSpark.Sf).getParent + "/sf0.01"
    CatalogOps.createNswRoutedCollection(spark, db, "kb",
      Tables.embeddings(spark, sf01).select(col("vec_id"), col("embedding")))
    val (m, efC) = (16, 200) // the collection's build constants
    def flat(rows: Seq[(Long, Seq[Double])]): Array[Double] = rows.flatMap(_._2).toArray
    def rebuilt(g: Option[NswGraph], p: Int, drop: Set[Long],
        add: Seq[(Long, Seq[Double])]): Option[NswGraph] = {
      val rows = (g.toSeq.flatMap(nodes).filterNot(r => drop(r._1)) ++ add).sortBy(_._1)
      if (rows.isEmpty) None
      else Some(GraphAnnOps.buildLocal(p, rows.map(_._1).toArray, flat(rows),
        rows.head._2.length, m, efC))
    }
    /** upsert `batch`, then compare every stored graph with `expect`
      * applied to the graphs before the call */
    def step(label: String, batch: Seq[(Long, Seq[Double])], insertFrac: Double)(
        expect: Map[Int, NswGraph] => Map[Int, NswGraph]): Unit = {
      val before = graphs(db, "kb")
      CatalogOps.upsertNsw(spark, db, "kb", batch.toDF("vec_id", "embedding"), insertFrac)
      val want = expect(before)
      val got = graphs(db, "kb")
      assert(got.keySet === want.keySet, label)
      want.keys.foreach(p => assert(canon(got(p)) === canon(want(p)), s"$label: part $p"))
    }
    val g0 = graphs(db, "kb")
    def vec(gs: Map[Int, NswGraph], id: Long): Seq[Double] =
      nodes(gs(partOf(gs, id))).toMap.apply(id)
    // 1. a new id on a stored vector routes to that vector's cell and
    //    takes the in-place insert path
    val p0 = partOf(g0, 0L)
    assert(g0(p0).n >= 5, "cell too small for the insert path")
    val v0 = vec(g0, 0L)
    step("insert", Seq(900001L -> v0), 0.2) { gs =>
      gs.updated(p0, GraphAnnOps.insertLocal(gs(p0), Array(900001L), v0.toArray, m, efC))
    }
    // 2. an in-cell update: id x takes the vector of y from its own cell
    val g1 = graphs(db, "kb")
    val (x, y) = { val ids = g1(p0).ids.filter(_ != 900001L); (ids(1), ids(2)) }
    val vy = vec(g1, y)
    step("in-cell update", Seq(x -> vy), 0.2) { gs =>
      gs.updated(p0, rebuilt(gs.get(p0), p0, Set(x), Seq(x -> vy)).get)
    }
    // 3. a cell-moving update: id x takes a vector from another cell; its
    //    old cell rebuilds without it, the new one (which never held x)
    //    inserts it in place
    val g2 = graphs(db, "kb")
    val q = g2.keys.find(p => p != p0 && g2(p).n >= 5).get
    val vz = vec(g2, g2(q).ids.head)
    step("moving update", Seq(x -> vz), 0.2) { gs =>
      gs.updated(p0, rebuilt(gs.get(p0), p0, Set(x), Nil).get)
        .updated(q, GraphAnnOps.insertLocal(gs(q), Array(x), vz.toArray, m, efC))
    }
    // 4. insertFrac = 0: a new id rebuilds its cell
    step("forced rebuild", Seq(900002L -> vz), 0.0) { gs =>
      gs.updated(q, rebuilt(gs.get(q), q, Set.empty, Seq(900002L -> vz)).get)
    }
    CatalogOps.dropDatabase(spark, db)
  }

  test("a one-row routed NSW upsert runs at most 15 Spark jobs") {
    val db = "nswjobsdb"
    freshDb(db)
    CatalogOps.createNswRoutedCollection(spark, db, "kb", planted, kCells = 3)
    val group = "nsw-upsert-job-count"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val batch = Seq((5000L, Seq(0.9, 0.05, 0.02, 0.01))).toDF("vec_id", "embedding")
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "one-row upsertNsw")
      try CatalogOps.upsertNsw(spark, db, "kb", batch)
      finally spark.sparkContext.clearJobGroup()
      org.apache.spark.graftbridge.ListenerBusDrain.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(spark.table(s"`$db`.`kb`").select(explode(col("ids"))).as[Long]
      .collect().contains(5000L))
    assert(jobs.get() > 0 && jobs.get() <= 15, s"${jobs.get()} jobs")
    CatalogOps.dropDatabase(spark, db)
  }
}
