package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.DedupOps
import graft.sources.{CatalogOps, Tables}

/** The partition-scoped rewrites ([[CatalogOps.overwritePartitions]]):
  * partition values that no SQL literal renders faithfully (`\`, `'`,
  * null), and the caller's session conf, which no rewrite may touch.
  */
class PartitionRewriteSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private def freshDb(db: String): Unit = {
    CatalogOps.dropDatabase(spark, db)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath + s"/$db.db"))
    CatalogOps.createDatabase(spark, db)
  }

  private def partitions(table: String): Seq[String] =
    spark.sql(s"SHOW PARTITIONS $table").collect().map(_.getString(0)).toSeq.sorted

  private def ids(table: String, idCol: String): Set[Long] =
    spark.table(table).select(col(idCol)).collect().map(_.getLong(0)).toSet

  test("deleteByIds drops emptied partitions whose values hold a backslash or a quote") {
    val db = "rwescdb"
    freshDb(db)
    val t = s"`$db`.`t`"
    Seq((1L, "a\\b"), (2L, "a\\b"), (3L, "it's"), (4L, "z")).toDF("vec_id", "p")
      .write.partitionBy("p").saveAsTable(t)
    CatalogOps.deleteByIds(spark, db, "t", Seq(1L, 2L, 3L).toDF("vec_id"))
    assert(ids(t, "vec_id") === Set(4L))
    assert(partitions(t) === Seq("p=z"))
    CatalogOps.dropDatabase(spark, db)
  }

  test("upsertPartitioned keeps the other rows of the null partition and drops it when emptied") {
    val db = "rwnullupdb"
    freshDb(db)
    val t = s"`$db`.`t`"
    Seq((1L, "one", null), (2L, "two", null), (3L, "three", "x"))
      .toDF("doc_id", "text", "p").write.partitionBy("p").saveAsTable(t)
    CatalogOps.upsertPartitioned(spark, db, "t",
      Seq((1L, "ONE", null: String)).toDF("doc_id", "text", "p"), "doc_id", "p")
    assert(spark.table(t).select($"doc_id", $"text", $"p").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet ===
      Set((1L, "ONE", None), (2L, "two", None), (3L, "three", Some("x"))))
    // both null-partition rows move out: the partition empties and drops
    CatalogOps.upsertPartitioned(spark, db, "t",
      Seq((1L, "ONE", "y"), (2L, "TWO", "y")).toDF("doc_id", "text", "p"), "doc_id", "p")
    assert(spark.table(t).filter($"p".isNull).count() === 0)
    assert(ids(t, "doc_id") === Set(1L, 2L, 3L))
    assert(partitions(t) === Seq("p=x", "p=y"))
    CatalogOps.dropDatabase(spark, db)
  }

  test("deleteByIds deletes from the null partition and drops it when emptied") {
    val db = "rwnulldeldb"
    freshDb(db)
    val t = s"`$db`.`t`"
    Seq((1L, null), (2L, null), (3L, "x")).toDF("vec_id", "p")
      .write.partitionBy("p").saveAsTable(t)
    CatalogOps.deleteByIds(spark, db, "t", Seq(1L).toDF("vec_id"))
    assert(ids(t, "vec_id") === Set(2L, 3L))
    CatalogOps.deleteByIds(spark, db, "t", Seq(2L).toDF("vec_id"))
    assert(ids(t, "vec_id") === Set(3L))
    assert(partitions(t) === Seq("p=x"))
    CatalogOps.dropDatabase(spark, db)
  }

  test("no rewriting operator sets partitionOverwriteMode on the caller's session") {
    val db = "rwconfdb"
    freshDb(db)
    val key = "spark.sql.sources.partitionOverwriteMode"
    val sf = TestSpark.Sf
    CatalogOps.createPartitionedCollection(spark, db, "part",
      Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "y")).toDF("doc_id", "text", "p"), "p")
    val emb = Tables.embeddings(spark, sf)
    CatalogOps.createIvfCollection(spark, db, "ivf", emb)
    val rnd = new scala.util.Random(5L)
    val planted = (0L until 40L).map(i => (i, Seq.tabulate(4)(j =>
      (if (j == i % 3) 1.0 else 0.0) + rnd.nextDouble() * 0.05))).toDF("vec_id", "embedding")
    CatalogOps.createNswRoutedCollection(spark, db, "nsw", planted, kCells = 3)
    CatalogOps.createVersionedCollection(spark, db, "ver",
      spark.range(10).select(col("id").as("doc_id"), lit("t").as("text")))
    CatalogOps.createAggReport(spark, db, "agg",
      Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v"), Seq("k"), "v")
    val words = (0 until 30).map(i => s"w$i").mkString(" ")
    DedupOps.createComponentStore(spark, db, "cc",
      Seq((1L, words), (2L, words + " extra"), (3L, "other text")).toDF("doc_id", "text"))

    val calls: Seq[(String, () => Unit)] = Seq(
      "upsertPartitioned" -> (() => CatalogOps.upsertPartitioned(spark, db, "part",
        Seq((2L, "B", "x")).toDF("doc_id", "text", "p"), "doc_id", "p")),
      "upsertIvf" -> (() => CatalogOps.upsertIvf(spark, db, "ivf",
        emb.limit(2).withColumn("vec_id", col("vec_id") + 1000000L))),
      "upsertNsw" -> (() => CatalogOps.upsertNsw(spark, db, "nsw",
        Seq((500L, Seq(1.0, 0.0, 0.0, 0.0))).toDF("vec_id", "embedding"))),
      "deleteByIds partitioned" -> (() =>
        CatalogOps.deleteByIds(spark, db, "part", Seq(1L).toDF("doc_id"), "doc_id")),
      "deleteByIds NSW" -> (() =>
        CatalogOps.deleteByIds(spark, db, "nsw", Seq(1L, 2L).toDF("vec_id"))),
      "compactCollection" -> (() => CatalogOps.compactCollection(spark, db, "part")),
      "upsertVersionedBatch" -> (() => CatalogOps.upsertVersionedBatch(spark, db, "ver",
        Seq((3L, "u")).toDF("doc_id", "text"), batchId = 0L)),
      "compactVersioned" -> (() => CatalogOps.compactVersioned(spark, db, "ver", floorV = 1L)),
      "upsertAggReport" -> (() => CatalogOps.upsertAggReport(spark, db, "agg",
        Seq(("a", 3.0), ("c", 4.0)).toDF("k", "v"), batchId = 0L)),
      "refreshComponents" -> (() => DedupOps.refreshComponents(spark, db, "cc",
        Seq((4L, words + " more")).toDF("doc_id", "text"))),
      "removeFromComponents" -> (() =>
        DedupOps.removeFromComponents(spark, db, "cc", Seq(2L).toDF("doc_id"))))

    // a sampler reads the caller's conf about every millisecond while
    // each operator runs; it must never see dynamic mode
    @volatile var running: String = null
    @volatile var done = false
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val sampler = new Thread(() => while (!done) {
      val label = running
      if (spark.conf.getOption(key).exists(_.equalsIgnoreCase("dynamic")))
        seen.add(String.valueOf(label))
      Thread.sleep(1)
    })
    sampler.setDaemon(true)
    sampler.start()
    try calls.foreach { case (label, call) =>
      val before = spark.conf.getOption(key)
      running = label
      call()
      running = null
      assert(spark.conf.getOption(key) === before, label)
    } finally {
      done = true
      sampler.join()
    }
    assert(seen.isEmpty)
    // the calls did their work
    assert(ids(s"`$db`.`part`", "doc_id") === Set(2L, 3L))
    assert(spark.table(s"`$db`.`ivf`").filter($"vec_id" >= 1000000L).count() === 2)
    assert(CatalogOps.readVersioned(spark, db, "ver")
      .filter($"doc_id" === 3L).select($"text").as[String].collect().toSeq === Seq("u"))
    assert(DedupOps.servedComponents(spark, db, "cc").select($"doc_id").as[Long]
      .collect().toSet === Set(1L, 3L, 4L))
    CatalogOps.dropDatabase(spark, db)
  }
}
