package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** DDL surface — the reference's database/collection lifecycle mapped to the
  * Spark catalog (ref `TencentVDB.py:22` create_database, `:53-61`
  * create_collection with shard=3, `:23-25` list_databases, `:87-98`
  * drop_collection / drop_database).
  *
  * Collections are tables; the reference's `shard=3` becomes the write-side
  * partition count (`repartition(n)` before the parquet sink — at cluster
  * scale this is the file-parallelism knob). Schema stays dynamic the same
  * way the reference's is ("写入任何字段", `TencentVDB.py:33`): tables take
  * whatever schema the DataFrame carries.
  */
object CatalogOps {

  /** `create_database` (ref `TencentVDB.py:22`). Idempotent. */
  def createDatabase(spark: SparkSession, name: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$name`")

  /** `list_databases` + print loop (ref `TencentVDB.py:23-25`). */
  def listDatabases(spark: SparkSession): DataFrame =
    spark.sql("SHOW DATABASES")

  /** `create_collection(name, shard, ...)` (ref `TencentVDB.py:53-61`):
    * materialize a DataFrame as a managed table with `shards` write
    * partitions. Index DDL has no Spark analog by design — predicate
    * pushdown and partition pruning replace the FILTER index (SURVEY §4).
    */
  def createCollection(spark: SparkSession, db: String, name: String,
      data: DataFrame, shards: Int = 3): Unit =
    data.repartition(shards).write.mode("overwrite")
      .saveAsTable(s"`$db`.`$name`")

  /** Upsert into a collection — overwrite-by-id (ref `TencentVDB.py:69-79`):
    * last-writer-wins merge of the new batch over the stored table, keyed on
    * `idCol`. The read-merge-write cycle is the parquet analog of the
    * reference's delete+reinsert; table formats with native MERGE (Delta,
    * Iceberg) collapse this to one command at scale.
    */
  def upsert(spark: SparkSession, db: String, name: String,
      batch: DataFrame, idCol: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val table = s"`$db`.`$name`"
    val current = spark.table(table)
    // Tie-break beyond __v with the full row content so a batch that
    // carries duplicate ids still resolves deterministically (the winner is
    // a function of row values, not of partitioning).
    val tieBreak = struct(current.columns.filterNot(_ == idCol).map(col).toIndexedSeq: _*)
    val w = Window.partitionBy(col(idCol)).orderBy(col("__v").desc, tieBreak.desc)
    val merged = current.withColumn("__v", lit(1))
      .unionByName(batch.withColumn("__v", lit(2)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__v", "__rn")
    // Stage through a scratch table: Spark (correctly) refuses to overwrite
    // a table its own plan reads from, so the merge materializes first and
    // the target is rewritten from the staged copy.
    val staging = s"`$db`.`__${name}_upsert_staging`"
    merged.write.mode("overwrite").saveAsTable(staging)
    spark.table(staging).write.mode("overwrite").saveAsTable(table)
    spark.sql(s"DROP TABLE IF EXISTS $staging")
  }

  /** Partition-scoped upsert into a PARTITIONED collection — the 100 TB
    * form of [[upsert]]: instead of rewriting the whole table, merge the
    * batch with ONLY the stored partitions it touches and rewrite just
    * those via dynamic partition overwrite. Untouched partitions keep
    * their files byte-for-byte (pinned in tests). Requires every batch row
    * to carry the partition column; last-writer-wins per id within the
    * touched partitions, same semantics as [[upsert]].
    */
  def upsertPartitioned(spark: SparkSession, db: String, name: String,
      batch: DataFrame, idCol: String, partCol: String,
      stablePartitioning: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.col
    // touched = the batch's partitions PLUS the old partitions of updated
    // ids: a batch row that changes an id's partition value must erase the
    // id from its old partition or the table serves duplicate rows for it
    // (the merge core drops an old partition the move emptied). When the
    // partition value is a stable function of the id (hash bucket, a date
    // embedded in the id), moves are impossible — the caller declares that
    // with stablePartitioning=true and the old-partition sweep is skipped,
    // making the upsert read NOTHING outside the batch's own partitions.
    val touched =
      if (stablePartitioning) batch.select(col(partCol))
      else batch.select(col(partCol))
        .union(oldPartitionsOf(spark, db, name, batch, idCol, partCol))
    mergeTouchedPartitions(spark, db, name, batch, idCol, partCol,
      touched.distinct())
  }

  /** The moved-id sweep of [[upsertPartitioned]]: the stored partitions
    * holding any of the batch's ids. NOT a full-table read per batch: the
    * scan is column-pruned to (id, partition) and the batch's id RANGE is
    * pushed into the parquet scan, so row groups whose id stats don't
    * overlap the batch are skipped at the footer — for roughly-monotonic
    * ids (ingest order) the sweep touches only the row groups that could
    * hold an updated id. The broadcast join then exacts the match.
    */
  private[graft] def oldPartitionsOf(spark: SparkSession, db: String,
      name: String, batch: DataFrame, idCol: String, partCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit, max, min}
    val batchIds = batch.select(col(idCol)).distinct()
    val bounds = batchIds.agg(min(col(idCol)), max(col(idCol))).head()
    spark.table(s"`$db`.`$name`")
      .select(col(idCol), col(partCol))
      .filter(col(idCol) >= lit(bounds.get(0)) && col(idCol) <= lit(bounds.get(1)))
      .join(broadcast(batchIds), idCol)
      .select(col(partCol))
  }

  /** Shared merge core of [[upsertPartitioned]] and [[upsertIvf]]:
    * last-writer-wins the batch over the stored rows of exactly the
    * `touched` partitions and rewrite those through
    * [[overwritePartitions]], dropping any touched partition the merge
    * emptied (a row that MOVED partition leaves its old one behind).
    * Partitions match null-safely: a null partition value is a partition
    * like any other.
    */
  private def mergeTouchedPartitions(spark: SparkSession, db: String, name: String,
      batch: DataFrame, idCol: String, partCol: String,
      touchedFrame: DataFrame): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val table = s"`$db`.`$name`"
    // the (small by contract) touched set comes to the driver before
    // anything is written: its plan may read the target table
    // (upsertIvf's oldCells)
    val touchedVals = touchedFrame.distinct().collect().map(_.get(0)).toSeq
    val touched = spark.createDataFrame(spark.sparkContext.parallelize(
      touchedVals.map(org.apache.spark.sql.Row(_)), 1), touchedFrame.schema)
    val stored = spark.table(table)
    val current = stored.join(broadcast(touched), stored(partCol) <=> touched(partCol),
      "left_semi") // only affected partitions read
    // ties rank the partition value first, then the rest in table order
    val tieBreak = struct((partCol +: current.columns.filterNot(c => c == idCol || c == partCol))
      .map(col).toIndexedSeq: _*)
    val w = Window.partitionBy(col(idCol)).orderBy(col("__v").desc, tieBreak.desc)
    val merged = current.withColumn("__v", lit(1))
      .unionByName(batch.withColumn("__v", lit(2)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__v", "__rn")
      .localCheckpoint() // read twice: its partition set and the rewrite
    val live = merged.select(col(partCol)).distinct().collect().map(_.get(0)).toSet
    overwritePartitions(table, merged, touchedVals.filterNot(live).map(Seq(_)))
  }

  /** Incremental index maintenance for an IVF collection — the per-upsert
    * `build_index=True` of the reference (`TencentVDB.py:79`: the server
    * re-indexes each upsert) composed with the partition-scoped upsert:
    * the batch's cells are re-derived from the PERSISTED quantizer model
    * ([[createIvfCollection]]'s `name__model` — centroids are not
    * retrained; that is an index REBUILD), and only the partitions the
    * batch lands in — plus the old cells of updated ids, since a changed
    * vector can move cells — are merged and rewritten. Untouched cell
    * partitions keep their files byte-for-byte (pinned in tests); a cell
    * partition emptied by a move is dropped rather than left stale.
    * The batch carries the collection's row schema minus `cell`.
    */
  def upsertIvf(spark: SparkSession, db: String, name: String,
      batch: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    val (cents, kCells) = graft.operators.KnnOps.readCoarseModel(spark, db, name)
    val assign = toCol(graft.plans.NearestCentroid(
      toExpr(col(vecCol)), cents.toSeq, kCells))
    val derived = batch.withColumn("cell", assign)
    val oldCells = spark.table(s"`$db`.`$name`")
      .join(broadcast(batch.select(col(idCol)).distinct()), idCol)
      .select(col("cell"))
    mergeTouchedPartitions(spark, db, name, derived, idCol, "cell",
      derived.select(col("cell")).union(oldCells).distinct())
  }

  /** Bucketed collection — the ingest-time layout that makes repeated
    * key-joins shuffle-free: both sides bucketed (and sorted) on the join
    * key land co-partitioned, so SortMergeJoin plans with ZERO Exchange
    * (pinned in PlanSpec). This is the cluster-scale replacement for the
    * reference's `shard=3` knob: sharding chosen FOR the query key rather
    * than round-robin.
    */
  def createBucketedCollection(spark: SparkSession, db: String, name: String,
      data: DataFrame, bucketCol: String, buckets: Int = 8): Unit =
    data.write.mode("overwrite")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(s"`$db`.`$name`")

  /** Id-indexed collection — parquet BLOOM FILTERS on the id column for
    * point lookups (the `query(document_ids=[...])` surface, ref
    * `TencentVDB.py:69-75`, served without a full scan). Rows are
    * hash-distributed on the id, which is the realistic post-shuffle
    * ingest layout AND the adversarial one for min/max row-group stats:
    * every row group spans nearly the whole id range, so statistics can
    * prune nothing — the bloom filter is what lets the reader skip row
    * groups that cannot contain the probed ids. At 100 TB a point fetch
    * then opens every footer (a listing-scale cost, same as any
    * unpartitioned probe) but READS almost no data pages.
    *
    * `expectedNdvPerGroup` sizes the filter and is PER ROW GROUP (blooms
    * are a per-row-group structure; parquet-mr derives bits from the
    * target FPP at that cardinality) — sizing it to the TABLE cardinality
    * is the measured anti-pattern: every group then carries a
    * max-size (1 MiB) bloom and a probe pays more bloom bytes than the
    * data it skips (`graft.LookupScale` caught exactly this).
    * `rowGroupBytes` is exposed because the skipping granularity IS the
    * row group — production keeps the default 128 MiB, measurements
    * shrink it to get many groups per file. Note the complementary
    * mechanism: row groups whose id column fully DICTIONARY-encodes are
    * already skippable from the dictionary page alone; the bloom is what
    * keeps point lookups cheap once groups grow past the 1 MiB dictionary
    * page cap (~128k distinct longs), which every production-sized group
    * does.
    */
  def createIdIndexedCollection(spark: SparkSession, db: String, name: String,
      data: DataFrame, idCol: String = "doc_id", shards: Int = 3,
      expectedNdvPerGroup: Long = 1500000L,
      rowGroupBytes: Long = 128L * 1024 * 1024): Unit = {
    import org.apache.spark.sql.functions.col
    data.repartition(shards, col(idCol))
      .write.mode("overwrite")
      .option(s"parquet.bloom.filter.enabled#$idCol", "true")
      .option(s"parquet.bloom.filter.expected.ndv#$idCol", expectedNdvPerGroup.toString)
      .option("parquet.block.size", rowGroupBytes.toString)
      .saveAsTable(s"`$db`.`$name`")
  }

  /** Point lookup by id set — plans as one scan with a pushed
    * `In(idCol, ...)` filter; on a [[createIdIndexedCollection]] table the
    * parquet reader drops row groups via the id bloom filter before
    * touching data pages. Deterministic output order by id.
    */
  def lookupByIds(spark: SparkSession, db: String, name: String,
      ids: Seq[Long], idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.table(s"`$db`.`$name`")
      .filter(col(idCol).isin(ids: _*))
      .orderBy(col(idCol).asc)
  }

  /** Partitioned collection — the layout that turns the reference's FILTER
    * index (`TencentVDB.py:48`, "检索时需作为条件查询的字段") into partition
    * PRUNING: a filter on the partition column plans as PartitionFilters
    * and the scan never opens non-matching directories (pinned in
    * PlanSpec). Partition by the hot low-cardinality predicate columns;
    * bucket ([[createBucketedCollection]]) by the high-cardinality join
    * keys.
    */
  def createPartitionedCollection(spark: SparkSession, db: String, name: String,
      data: DataFrame, partitionCol: String): Unit =
    data.write.mode("overwrite")
      .partitionBy(partitionCol)
      .saveAsTable(s"`$db`.`$name`")

  /** Footer-driven collection profile — the DESCRIBE surface (the
    * reference prints its collection listing, `TencentVDB.py:26-29`)
    * answered from metadata alone: file/row-group/row/byte counts from
    * parquet footers (driver-scale, no scan job), layout spec from the
    * catalog. One row out.
    */
  def describeCollection(spark: SparkSession, db: String,
      name: String): org.apache.spark.sql.DataFrame = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.catalyst.TableIdentifier
    import scala.jdk.CollectionConverters._
    spark.sql(s"REFRESH TABLE `$db`.`$name`") // stale-listing guard
    val files = spark.table(s"`$db`.`$name`").inputFiles
    val conf = spark.sessionState.newHadoopConf()
    var groups = 0L
    var rows = 0L
    var bytes = 0L
    files.foreach { f =>
      val p = new Path(f)
      bytes += p.getFileSystem(conf).getFileStatus(p).getLen
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try {
        val blocks = r.getFooter.getBlocks.asScala
        groups += blocks.size
        rows += blocks.map(_.getRowCount).sum
      } finally r.close()
    }
    val meta = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(name, Some(db)))
    val partCols = meta.partitionColumnNames.mkString(",")
    val bucketSpec = meta.bucketSpec
      .map(bs => s"${bs.numBuckets}x(${bs.bucketColumnNames.mkString(",")})")
      .getOrElse("")
    spark.createDataFrame(Seq(
      (s"$db.$name", files.length.toLong, groups, rows, bytes, partCols, bucketSpec)))
      .toDF("table", "files", "row_groups", "rows", "bytes",
        "partition_cols", "bucket_spec")
  }

  // ---- maintained bloom membership store ----

  /** Maintained bloom membership store `{name}__bloom` — the crawl-scale
    * "have we seen this key?" negative path ([[graft.functions
    * .BloomFunctions]] as a persisted artifact). State is a log of
    * (w, word) rows; the served filter is their per-word `bit_or` fold.
    * This is the one maintained store that needs NO replay watermark:
    * OR is idempotent and commutative, so an at-least-once replay or a
    * reordered batch folds to the SAME bits by algebra, not by
    * bookkeeping (pinned bit-for-bit in the spec). `expectedKeys` fixes
    * the filter size forever — capacity-plan it; [[bloomStoreFill]]
    * reports occupancy and the implied false-positive rate as the store
    * grows. Upserts append O(distinct words touched) rows; compaction
    * folds the log to ≤ m/64 rows.
    */
  def createBloomStore(spark: SparkSession, db: String, name: String,
      keys: DataFrame, keyCol: String, expectedKeys: Long): Unit = {
    val m = graft.functions.BloomFunctions.sizeFor(expectedKeys)
    spark.createDataFrame(Seq(Tuple1(m))).toDF("m")
      .write.mode("overwrite").saveAsTable(s"`$db`.`${name}__bloommeta`")
    graft.functions.BloomFunctions.bloomWordRows(keys, keyCol, m)
      .write.mode("overwrite").saveAsTable(s"`$db`.`${name}__bloom`")
  }

  private def bloomM(spark: SparkSession, db: String, name: String): Long =
    spark.table(s"`$db`.`${name}__bloommeta`").collect()(0).getLong(0)

  /** Append one batch's word rows — replay-safe by idempotence alone. */
  def upsertBloomStore(spark: SparkSession, db: String, name: String,
      keys: DataFrame, keyCol: String): Unit =
    graft.functions.BloomFunctions
      .bloomWordRows(keys, keyCol, bloomM(spark, db, name))
      .write.mode("append").saveAsTable(s"`$db`.`${name}__bloom`")

  /** The served filter: fold the word log, collect the m/64-long array
    * (model-sized — 2 bytes per capacity key). */
  def foldedBloomWords(spark: SparkSession, db: String,
      name: String): (Array[Long], Long) = {
    import org.apache.spark.sql.functions._
    val m = bloomM(spark, db, name)
    val rows = spark.table(s"`$db`.`${name}__bloom`")
      .groupBy(col("w")).agg(expr("bit_or(word)").as("word")).collect()
    val arr = new Array[Long]((m / 64).toInt)
    rows.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    (arr, m)
  }

  /** Drop probe rows whose key CANNOT be in the store (no false
    * negatives; survivors carry < fpp false positives for a downstream
    * exact confirm). The folded words ride a broadcast 1-row frame; the
    * per-row probe is codegen'd hashing.
    */
  def probeBloomStore(spark: SparkSession, db: String, name: String,
      probe: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.functions.BloomFunctions
    val (words, m) = foldedBloomWords(spark, db, name)
    val bloomDf = spark.createDataFrame(
      java.util.Collections.singletonList(org.apache.spark.sql.Row(words)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__bloom_words",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false)))))
    probe.crossJoin(broadcast(bloomDf))
      .where(BloomFunctions.mightContain(col(keyCol), col("__bloom_words"), m))
      .drop("__bloom_words")
  }

  /** Fold the word log in place: ≤ m/64 rows after, same filter. */
  def compactBloomStore(spark: SparkSession, db: String, name: String): Unit = {
    import org.apache.spark.sql.functions._
    val folded = spark.table(s"`$db`.`${name}__bloom`")
      .groupBy(col("w")).agg(expr("bit_or(word)").as("word"))
    val staging = s"`$db`.`__${name}_bloom_staging`"
    folded.write.mode("overwrite").saveAsTable(staging)
    spark.table(staging).write.mode("overwrite")
      .saveAsTable(s"`$db`.`${name}__bloom`")
    spark.sql(s"DROP TABLE IF EXISTS $staging")
  }

  /** Occupancy report: set bits / m, and the implied false-positive rate
    * fill^k — the signal that the capacity plan has been outgrown. */
  def bloomStoreFill(spark: SparkSession, db: String, name: String): (Double, Double) = {
    val (words, m) = foldedBloomWords(spark, db, name)
    val set = words.map(java.lang.Long.bitCount).map(_.toLong).sum
    val fill = set.toDouble / m
    (fill, math.pow(fill, graft.functions.BloomFunctions.NumHashes))
  }

  // ---- maintained HLL distinct-count store ----

  /** HyperLogLog register store `{name}__hll` — "how many distinct keys
    * has this corpus ever seen?" as a maintained artifact: a log of
    * (bucket, rho) rows whose served state is max(rho) per bucket. MAX
    * is idempotent and commutative — the bloom store's watermark-free
    * replay argument with a different monoid: redelivered or reordered
    * batches fold to the same registers by algebra (pinned). p = 12 →
    * 4096 registers, ±1.6% standard error (Flajolet et al. 2007,
    * incl. the small-range linear-counting correction). The register
    * arithmetic is exact integer/string builtins — `length(bin(w))` is
    * floor(log₂ w)+1 with no float anywhere — so the registers (hence
    * the estimate) are a pure deterministic function of the key SET:
    * same keys, same answer, any partitioning, any delivery order.
    */
  def createHllStore(spark: SparkSession, db: String, name: String,
      keys: DataFrame, keyCol: String): Unit =
    hllRegisterRows(keys, keyCol)
      .write.mode("overwrite").saveAsTable(s"`$db`.`${name}__hll`")

  /** Append one batch's registers — replay-safe by max-idempotence. */
  def upsertHllStore(spark: SparkSession, db: String, name: String,
      keys: DataFrame, keyCol: String): Unit =
    hllRegisterRows(keys, keyCol)
      .write.mode("append").saveAsTable(s"`$db`.`${name}__hll`")

  private val HllP = 12
  private val HllM = 1 << HllP // 4096 registers

  /** One partial-agg'd register pass: ≤ m rows per partition shuffle. */
  private[graft] def hllRegisterRows(df: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val h = xxhash64(col(keyCol))
    val w = shiftrightunsigned(h, HllP)
    val rho = when(w === 0L, lit(64 - HllP + 1))
      .otherwise(lit(64 - HllP + 1) - length(bin(w))).cast("int")
    df.select(h.bitwiseAND(lit((HllM - 1).toLong)).cast("int").as("bucket"),
        rho.as("rho"))
      .groupBy(col("bucket")).agg(max(col("rho")).as("rho"))
  }

  /** The served estimate: fold the register log (≤ m rows reach the
    * driver) and evaluate the HLL formula with linear-counting small-
    * range correction. Deterministic to the last bit.
    */
  def hllEstimate(spark: SparkSession, db: String, name: String): Long = {
    import org.apache.spark.sql.functions._
    val rows = spark.table(s"`$db`.`${name}__hll`")
      .groupBy(col("bucket")).agg(max(col("rho")).as("rho"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val m = HllM.toDouble
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val sum = (0 until HllM).map(b => math.pow(2.0, -rows.getOrElse(b, 0))).sum
    val raw = alpha * m * m / sum
    val zeros = HllM - rows.count(_._2 > 0)
    val corrected =
      if (raw <= 2.5 * m && zeros > 0) m * math.log(m / zeros.toDouble)
      else raw
    math.rint(corrected).toLong
  }

  /** Fold the register log in place: ≤ m rows after, same registers. */
  def compactHllStore(spark: SparkSession, db: String, name: String): Unit = {
    import org.apache.spark.sql.functions._
    val folded = spark.table(s"`$db`.`${name}__hll`")
      .groupBy(col("bucket")).agg(max(col("rho")).as("rho"))
    val staging = s"`$db`.`__${name}_hll_staging`"
    folded.write.mode("overwrite").saveAsTable(staging)
    spark.table(staging).write.mode("overwrite")
      .saveAsTable(s"`$db`.`${name}__hll`")
    spark.sql(s"DROP TABLE IF EXISTS $staging")
  }

  // ---- versioned collections (time travel) ----

  /** Versioned collection — snapshot-isolated reads over an APPEND-ONLY
    * version log (the Delta/Iceberg time-travel capability on plain
    * parquet). `{name}__vlog` holds every row ever written plus
    * tombstones, partitioned by the version that wrote it: `__v` (the
    * snapshot id) and `__op` (+1 upsert, -1 delete). Writes never touch
    * existing files — an upsert or delete APPENDS one partition
    * directory, so historical snapshots are immutable by construction
    * and a crashed writer leaves at worst an unreferenced partition
    * (the manifest `{name}__vmeta` names the committed max version and
    * the compaction floor; readers go through it). [[readVersioned]]
    * resolves any snapshot; [[compactVersioned]] bounds history.
    */
  /** `buckets > 0` co-locates the log by id: snapshot resolution runs
    * with NO exchange (plan-pinned) and post-compact reads measured 10×
    * faster than the plain log — but a bucketed scan is one task per
    * bucket with no file splitting, so read cost grows linearly in
    * history depth (25 files/bucket ⇒ 0.77 → 9.1 s, `VersionScale`):
    * bucketed logs need a TIGHTER compaction cadence.
    */
  def createVersionedCollection(spark: SparkSession, db: String, name: String,
      data: DataFrame, idCol: String = "doc_id", buckets: Int = 0): Unit = {
    import org.apache.spark.sql.functions._
    val w = data.withColumn("__op", lit(1)).withColumn("__v", lit(0L))
      .write.mode("overwrite").partitionBy("__v")
    (if (buckets > 0) w.bucketBy(buckets, idCol).sortBy(idCol) else w)
      .saveAsTable(s"`$db`.`${name}__vlog`")
    writeVmeta(spark, db, name, maxV = 0L, floorV = 0L)
  }

  /** The log's bucket spec, read from catalog metadata (no manifest
    * field to drift). */
  private def vlogBuckets(spark: SparkSession, db: String,
      name: String): Option[(Int, String)] = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(s"${name}__vlog", Some(db)))
      .bucketSpec.map(bs => (bs.numBuckets, bs.bucketColumnNames.head))
  }

  /** Append `rows` (already carrying __op/__v) honoring the log's bucket
    * layout — every snapshot keeps the same id co-location, so
    * [[readVersioned]]'s resolution window never shuffles on a bucketed
    * log (plan-pinned).
    */
  private def appendVlog(spark: SparkSession, db: String, name: String,
      rows: DataFrame): Unit = {
    val w = rows.write.mode("append").partitionBy("__v")
    (vlogBuckets(spark, db, name) match {
      case Some((n, c)) => w.bucketBy(n, c).sortBy(c)
      case None => w
    }).saveAsTable(s"`$db`.`${name}__vlog`")
  }

  // manifest = (head version, compaction floor, streaming batch-id
  // watermark) in ONE overwrite — state and watermark cannot desync
  // (the k-means-model replay discipline)
  private def writeVmeta(spark: SparkSession, db: String, name: String,
      maxV: Long, floorV: Long, batchId: Long = -1L): Unit =
    spark.createDataFrame(Seq((maxV, floorV, batchId)))
      .toDF("max_v", "floor", "batch_id")
      .write.mode("overwrite").saveAsTable(s"`$db`.`${name}__vmeta`")

  private def readVmeta(spark: SparkSession, db: String,
      name: String): (Long, Long, Long) = {
    val r = spark.table(s"`$db`.`${name}__vmeta`").collect()(0)
    (r.getLong(0), r.getLong(1), if (r.schema.length > 2) r.getLong(2) else -1L)
  }

  /** Append one new snapshot carrying the batch (last-writer-wins at
    * read). O(batch) — one new `__v` partition, every prior file
    * untouched. Returns the new version id.
    */
  def upsertVersioned(spark: SparkSession, db: String, name: String,
      batch: DataFrame, idCol: String = "doc_id"): Long = {
    import org.apache.spark.sql.functions._
    val (maxV, floorV, batchWm) = readVmeta(spark, db, name)
    val v = maxV + 1
    appendVlog(spark, db, name,
      batch.withColumn("__op", lit(1)).withColumn("__v", lit(v)))
    writeVmeta(spark, db, name, v, floorV, batchWm)
    v
  }

  /** The streaming-ingest form: one snapshot per micro-batch, replay-safe
    * through the batch-id watermark carried IN the manifest — an
    * at-least-once redelivery of an already-committed batch returns the
    * current head without writing (versions never duplicate). Crash
    * window: if the process dies between the partition append and the
    * manifest overwrite, the orphaned partition is above the committed
    * head and invisible to every reader (readers clamp to the manifest);
    * the replay rewrites version head+1 — dynamic partition overwrite of
    * exactly that orphan — and then commits. Exactly-once by
    * construction, no commit log needed.
    */
  def upsertVersionedBatch(spark: SparkSession, db: String, name: String,
      batch: DataFrame, batchId: Long, idCol: String = "doc_id"): Long = {
    import org.apache.spark.sql.functions.lit
    val (maxV, floorV, batchWm) = readVmeta(spark, db, name)
    if (batchId <= batchWm) return maxV
    val v = maxV + 1
    if (vlogBuckets(spark, db, name).isDefined) {
      // bucketed logs append through the bucket-aware writer; a crash
      // orphan at v is reclaimed first so the replay cannot double it
      vacuumVersioned(spark, db, name)
      appendVlog(spark, db, name,
        batch.withColumn("__op", lit(1)).withColumn("__v", lit(v)))
    } else overwritePartitions(s"`$db`.`${name}__vlog`",
      batch.withColumn("__op", lit(1)).withColumn("__v", lit(v)))
    writeVmeta(spark, db, name, v, floorV, batchId)
    v
  }

  /** Append a tombstone snapshot for the given ids: rows exist in
    * snapshots < the returned version and resolve away from it on.
    */
  def deleteVersioned(spark: SparkSession, db: String, name: String,
      ids: Seq[Long], idCol: String = "doc_id"): Long = {
    import org.apache.spark.sql.functions._
    val (maxV, floorV, batchWm) = readVmeta(spark, db, name)
    val v = maxV + 1
    val cols = spark.table(s"`$db`.`${name}__vlog`").columns
      .filterNot(c => c == "__op" || c == "__v")
    val base = spark.createDataFrame(ids.map(Tuple1(_))).toDF(idCol)
    val widened = cols.foldLeft(base) { (df, c) =>
      if (c == idCol) df
      else df.withColumn(c,
        lit(null).cast(spark.table(s"`$db`.`${name}__vlog`").schema(c).dataType))
    }
    appendVlog(spark, db, name,
      widened.select(cols.map(col).toIndexedSeq: _*)
        .withColumn("__op", lit(-1)).withColumn("__v", lit(v)))
    writeVmeta(spark, db, name, v, floorV, batchWm)
    v
  }

  /** The collection AS OF a snapshot (default: latest). The `__v <= asOf`
    * predicate is a PARTITION filter — history after the snapshot is
    * never read — and resolution is one id-keyed window taking the
    * newest writer per id (ties inside one version broken by row
    * content, the [[upsert]] determinism rule), dropping tombstoned
    * winners. Read cost ∝ rows written up to asOf; [[compactVersioned]]
    * is the cadence that bounds it. Reads below the compaction floor
    * refuse loudly — that history no longer exists.
    */
  def readVersioned(spark: SparkSession, db: String, name: String,
      asOf: Long = Long.MaxValue, idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val (maxV, floorV, _) = readVmeta(spark, db, name)
    val v = math.min(asOf, maxV)
    require(v >= floorV,
      s"snapshot $v predates the compaction floor $floorV — compacted history cannot be read")
    val log = spark.table(s"`$db`.`${name}__vlog`").where(col("__v") <= v)
    val dataCols = log.columns.filterNot(c => c == "__op" || c == "__v")
    val tieBreak = struct(dataCols.filterNot(_ == idCol).map(col).toIndexedSeq: _*)
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__v").desc, col("__op").asc, tieBreak.desc)
    log.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1 && col("__op") === 1)
      .select(dataCols.map(col).toIndexedSeq: _*)
  }

  /** Fold history at-or-below the floor into ONE materialized snapshot
    * partition (the resolved rows, re-tagged `__v = floor`), dropping
    * the per-version partitions it replaces; snapshots above the floor
    * keep resolving exactly as before (their partitions are untouched —
    * the same dynamic-partition-overwrite discipline as
    * [[upsertPartitioned]]). Time travel below the floor is gone — that
    * is the deal compaction offers.
    */
  def compactVersioned(spark: SparkSession, db: String, name: String,
      floorV: Long, idCol: String = "doc_id"): Unit = {
    import org.apache.spark.sql.functions._
    val (maxV, oldFloor, batchWm) = readVmeta(spark, db, name)
    require(floorV > oldFloor && floorV <= maxV,
      s"floor must be in (${oldFloor}, $maxV], got $floorV")
    val snapshot = readVersioned(spark, db, name, asOf = floorV, idCol)
      .withColumn("__op", lit(1)).withColumn("__v", lit(floorV))
    val table = s"`$db`.`${name}__vlog`"
    val folded = (oldFloor until floorV).map(Seq(_))
    if (vlogBuckets(spark, db, name).isDefined) {
      // the bucket-aware append cannot replace partition floorV, so it
      // drops with the folded ones first — after the snapshot that reads
      // them is materialized
      val landed = snapshot.localCheckpoint()
      dropPartitions(spark, table, folded :+ Seq(floorV))
      appendVlog(spark, db, name, landed)
    } else overwritePartitions(table, snapshot, folded)
    writeVmeta(spark, db, name, maxV, floorV, batchWm)
  }

  /** CDC change feed over a versioned collection — the row-level changes
    * a consumer must apply to move from snapshot `fromV` to `toV`
    * (exclusive/inclusive): `(change ∈ insert|update|delete, v, <data
    * cols>)`. Inserts and updates carry the POST-image (and the version
    * that wrote it); deletes carry the PRE-image (resolved at `fromV`)
    * with the tombstone's version — the Delta/Iceberg change-data-feed
    * surface on plain parquet, the contract an incremental index
    * maintainer or replication sink consumes instead of re-diffing
    * snapshots.
    *
    * Scale shape: only ids TOUCHED in `(fromV, toV]` can change, so the
    * feed starts from a partition-pruned scan of exactly those version
    * partitions; the pre/post resolution reads history ≤ toV semi-joined
    * to the touched ids (on a bucketed log: id-co-located, no exchange).
    * Both resolutions are the same (id)-window with the same ordering,
    * so Catalyst plans one exchange + sort and reuses it. Cost ∝ touched
    * ids' history, never the collection.
    *
    * Soundness (test-pinned): snapshot(fromV) patched with this feed
    * equals snapshot(toV) exactly. An upsert rewriting identical content
    * still emits an `update` (the feed reports writes, not diffs —
    * standard CDF semantics).
    */
  def changesVersioned(spark: SparkSession, db: String, name: String,
      fromV: Long, toV: Long = Long.MaxValue,
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val (maxV, floorV, _) = readVmeta(spark, db, name)
    val to = math.min(toV, maxV)
    require(fromV >= floorV,
      s"pre-state $fromV predates the compaction floor $floorV — compacted history cannot be diffed")
    require(to >= fromV, s"empty change window: ($fromV, $to]")
    val log = spark.table(s"`$db`.`${name}__vlog`")
    val dataCols = log.columns.filterNot(c => c == "__op" || c == "__v")
    val restCols = dataCols.filterNot(_ == idCol)
    val touched = log.where(col("__v") > fromV && col("__v") <= to)
      .select(col(idCol)).distinct()
    val hist = log.where(col("__v") <= to)
      .join(touched, Seq(idCol), "left_semi")
    val tieBreak = struct(restCols.map(col).toIndexedSeq: _*)
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__v").desc, col("__op").asc, tieBreak.desc)
    val post = hist.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col(idCol), col("__op").as("__post_op"), col("__v").as("__post_v"),
        struct(restCols.map(col).toIndexedSeq: _*).as("__post"))
    val pre = hist.where(col("__v") <= fromV)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1 && col("__op") === 1)
      .select(col(idCol), struct(restCols.map(col).toIndexedSeq: _*).as("__pre"))
    post.join(pre, Seq(idCol), "left_outer")
      .withColumn("change",
        when(col("__pre").isNull && col("__post_op") === 1, lit("insert"))
          .when(col("__pre").isNotNull && col("__post_op") === 1, lit("update"))
          .when(col("__pre").isNotNull && col("__post_op") === -1, lit("delete")))
      .where(col("change").isNotNull) // absent→absent (insert+delete inside the window)
      .select(Seq(col("change"), col("__post_v").as("v"), col(idCol)) ++
        restCols.map(c => when(col("change") === "delete",
          col("__pre").getField(c)).otherwise(col("__post").getField(c)).as(c)): _*)
  }

  /** Drop crash orphans from a versioned collection: partitions above
    * the committed head exist only when a writer died between its
    * partition append and the manifest overwrite — readers never see
    * them (reads clamp to the manifest), but the bytes linger and a
    * replayed batch overwrites only ONE orphan slot. Vacuum reclaims
    * them all; safe to run any time, a no-op on a clean store.
    */
  def vacuumVersioned(spark: SparkSession, db: String, name: String): Unit = {
    import org.apache.spark.sql.functions.col
    val (maxV, _, _) = readVmeta(spark, db, name)
    val orphans = spark.table(s"`$db`.`${name}__vlog`")
      .select(col("__v")).distinct()
      .collect().map(_.getLong(0)).filter(_ > maxV)
    dropPartitions(spark, s"`$db`.`${name}__vlog`", orphans.map(Seq(_)).toSeq)
  }

  /** Z-ordered collection — multi-column min/max pruning from layout
    * alone. [[createPartitionedCollection]] prunes one low-cardinality
    * column by directory; [[createBucketedCollection]] co-locates one
    * join key; this covers the remaining shape — RANGE predicates over
    * two high-cardinality columns at once — by sorting on the interleaved
    * bucket ranks ([[graft.functions.ZorderFunctions]]) so every row
    * group's min/max box is tight in BOTH columns and the ordinary
    * parquet zone-map skipping prunes multiplicatively (measured:
    * `LayoutScale`). Equi-depth bucket bounds come from one histogram
    * pass per column; the z column itself is DROPPED before write — the
    * layout is the whole index, nothing new to maintain, and a plain
    * reader sees a plain table. `rowGroupBytes` sets skip granularity
    * (production default 128 MiB; measurements shrink it).
    */
  def createZorderedCollection(spark: SparkSession, db: String, name: String,
      data: DataFrame, colA: String, colB: String, shards: Int = 8,
      rowGroupBytes: Long = 128L * 1024 * 1024): Unit =
    createZorderedCollectionN(spark, db, name, data, Seq(colA, colB),
      shards, rowGroupBytes)

  /** The N-dimensional form (2–4 columns): stride-N bit interleave of
    * the per-column equi-depth bucket ranks — every clustered column
    * gets a tight per-row-group box, at the price of each single-axis
    * range resolving ~Buckets^((n−1)/n) coarser (the Morton trade;
    * measured for n = 2 in `LayoutScale`, n = 3 pinned in the spec).
    */
  def createZorderedCollectionN(spark: SparkSession, db: String, name: String,
      data: DataFrame, cols: Seq[String], shards: Int = 8,
      rowGroupBytes: Long = 128L * 1024 * 1024): Unit = {
    import org.apache.spark.sql.functions.col
    import graft.functions.ZorderFunctions._
    val bucketCols = cols.map { c =>
      depthBucket(col(c), equiDepthBounds(data, c, Buckets))
    }
    data.withColumn("__z", zInterleaveN(bucketCols))
      .repartitionByRange(shards, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes.toString)
      .saveAsTable(s"`$db`.`$name`")
  }

  /** Re-cluster a z-ordered collection — the maintenance half of
    * [[createZorderedCollection]]. Appended micro-batches land in
    * arrival order, so their row groups span the full (colA, colB) space
    * and the zone-map stops pruning them (measured in the lifecycle
    * test: appended groups read on every predicate). Rewriting re-sorts
    * the WHOLE table on freshly recomputed equi-depth bounds — bounds
    * drift with the data, so stale splits from create time are not
    * reused. Same staging discipline as [[compactCollection]]; at 100 TB
    * the rewrite is amortized like any compaction cadence, and a
    * partitioned variant would rewrite only the partitions whose dirty
    * fraction crossed the threshold.
    */
  def compactZordered(spark: SparkSession, db: String, name: String,
      colA: String, colB: String, shards: Int = 8,
      rowGroupBytes: Long = 128L * 1024 * 1024): Unit = {
    val df = spark.table(s"`$db`.`$name`")
    val staging = s"__${name}_zorder_staging"
    createZorderedCollection(spark, db, staging, df, colA, colB,
      shards, rowGroupBytes)
    // drop + rename, not a second write: a copy pass through a plain
    // table read would re-split the staged files and smear the very
    // clustering the staging write just paid for
    spark.sql(s"DROP TABLE `$db`.`$name`")
    spark.sql(s"ALTER TABLE `$db`.`$staging` RENAME TO `$db`.`$name`")
  }

  /** Persisted zone-map index `{name}__zonemap`: one row per (file,
    * row-group, column) with the footer min/max box and row count, for
    * the given NUMERIC columns. Footer min/max is what a pruning scan
    * consults anyway — but at 100 TB "consult" means opening millions of
    * footers per query, a listing-scale metadata pass; materializing the
    * boxes once turns every later planning pass into a scan of one small
    * table (this is the job Iceberg/Delta manifests do). The footer walk
    * runs DISTRIBUTED — the file list fans out over executors
    * (`mapPartitions`, the imperative-IO case the style ledger reserves
    * it for), so index build cost is bounded by footers/executor, not
    * footers/driver. Long format (file, rg, rows, col, mn, mx) keeps the
    * store schema independent of how many columns are indexed.
    */
  def createZonemap(spark: SparkSession, db: String, name: String,
      cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "createZonemap: no columns given")
    // the cached relation's file listing can be stale when another plan
    // (a streaming micro-batch) appended since this session last read it
    spark.sql(s"REFRESH TABLE `$db`.`$name`")
    val files = spark.table(s"`$db`.`$name`").inputFiles.toSeq
    zonemapOf(spark, files, cols)
      .write.mode("overwrite").saveAsTable(s"`$db`.`${name}__zonemap`")
  }

  /** Incremental zonemap maintenance: index only files the store has not
    * seen (append-fed collections add files, they never mutate them — a
    * parquet file's boxes are immutable, so file identity IS the
    * high-water mark and replayed maintenance is a no-op by
    * construction). Compaction/rewrite changes file names wholesale —
    * rebuild with [[createZonemap]] after those. Cost ∝ NEW files'
    * footers, distributed like the full build.
    */
  def upsertZonemap(spark: SparkSession, db: String, name: String,
      cols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.col
    val store = s"`$db`.`${name}__zonemap`"
    val known = spark.table(store).select(col("file")).distinct()
      .collect().map(_.getString(0)).toSet
    spark.sql(s"REFRESH TABLE `$db`.`$name`") // see createZonemap
    val fresh = spark.table(s"`$db`.`$name`").inputFiles.toSeq
      .filterNot(known)
    if (fresh.isEmpty) return
    // stage the new files as a temp "collection view" is unnecessary:
    // reuse the distributed walk on just the fresh list
    val zm = zonemapOf(spark, fresh, cols)
    zm.write.mode("append").saveAsTable(store)
  }

  /** Distributed footer walk shared by [[createZonemap]] and
    * [[upsertZonemap]].
    */
  private def zonemapOf(spark: SparkSession, files: Seq[String],
      cols: Seq[String]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val confMap = {
      import scala.jdk.CollectionConverters._
      spark.sessionState.newHadoopConf().asScala
        .map(e => e.getKey -> e.getValue).toMap
    }
    val colsB = cols.toIndexedSeq
    files.toDS().repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        import org.apache.parquet.hadoop.ParquetFileReader
        import org.apache.parquet.hadoop.util.HadoopInputFile
        import org.apache.hadoop.fs.Path
        import scala.jdk.CollectionConverters._
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confMap.foreach { case (k, v) => conf.set(k, v) }
        it.flatMap { f =>
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
          try {
            r.getFooter.getBlocks.asScala.toList.zipWithIndex.flatMap {
              case (block, rg) =>
                val byName = block.getColumns.asScala
                  .map(c => c.getPath.toDotString -> c).toMap
                colsB.map { c =>
                  val st = byName(c).getStatistics
                  require(st != null && !st.isEmpty, s"no statistics for $c in $f")
                  def d(x: Comparable[_]): Double = x match {
                    case v: java.lang.Double  => v.doubleValue()
                    case v: java.lang.Float   => v.doubleValue()
                    case v: java.lang.Long    => v.doubleValue()
                    case v: java.lang.Integer => v.doubleValue()
                    case other => throw new IllegalArgumentException(
                      s"non-numeric statistics for $c: ${other.getClass}")
                  }
                  (f, rg, block.getRowCount,
                    c, d(st.genericGetMin()), d(st.genericGetMax()))
                }
            }
          } finally r.close()
        }
      }.toDF("file", "rg", "rows", "col", "mn", "mx")
  }

  /** Range scan served THROUGH the zone-map index: the planning pass
    * scans `{name}__zonemap` (not footers) for files holding at least
    * one row group overlapping EVERY queried range, then reads only
    * those files with the predicate still pushed (row-group skipping
    * inside surviving files falls to the ordinary parquet reader). The
    * collected object is the matched FILE LIST — planning metadata,
    * query-bounded the same way every table format's driver-side scan
    * planning is. Result ≡ the plain filtered scan (zone maps
    * over-approximate, the pushed predicate finishes).
    */
  def scanZonemapped(spark: SparkSession, db: String, name: String,
      ranges: Seq[(String, Double, Double)]): org.apache.spark.sql.DataFrame = {
    require(ranges.nonEmpty, "scanZonemapped: no ranges given")
    import org.apache.spark.sql.functions._
    val zm = spark.table(s"`$db`.`${name}__zonemap`")
    val overlapping = ranges.map { case (c, lo, hi) =>
      zm.where(col("col") === c && col("mx") >= lo && col("mn") <= hi)
        .select(col("file"), col("rg"))
    }.reduce(_.intersect(_))
    val files = overlapping.select(col("file")).distinct()
      .collect().map(_.getString(0))
    val base = spark.table(s"`$db`.`$name`")
    val pred = ranges.map { case (c, lo, hi) =>
      col(c) >= lo && col(c) <= hi
    }.reduce(_ && _)
    if (files.isEmpty) base.where(lit(false))
    else spark.read.schema(base.schema).parquet(files.toIndexedSeq: _*).where(pred)
  }

  /** Vector collection — the `build_index=True` ingest analog (ref
    * `TencentVDB.py:79`; the server builds its HNSW index at upsert). We
    * materialize what the cosine metric actually needs at query time: the
    * unit-normalized vector (and the norm for reconstruction), so every
    * query-time score collapses from a fused 3-accumulator cosine to ONE
    * dot product — at 100 TB the normalization cost is paid once at ingest
    * instead of per query ([[graft.operators.KnnOps.topKPrenormed]]).
    */
  def createVectorCollection(spark: SparkSession, db: String, name: String,
      data: DataFrame, vecCol: String = "embedding", shards: Int = 3): Unit = {
    import org.apache.spark.sql.functions.col
    import graft.functions.VectorFunctions.{l2Norm, l2Normalize}
    data
      .withColumn("norm", l2Norm(col(vecCol)))
      .withColumn("unit", l2Normalize(col(vecCol)))
      .repartition(shards).write.mode("overwrite")
      .saveAsTable(s"`$db`.`$name`")
  }

  /** IVF-partitioned vector collection — the ingest-time layout that makes
    * the coarse-quantizer probe an actual partition-pruned read (the
    * `build_index=True` analog for the reference's latent IVFFLAT surface,
    * ref `TencentVDB.py:7,79`). Trains the k-means quantizer
    * ([[graft.operators.KnnOps.kmeansCentroids]]) over `vecCol`, assigns
    * every row its nearest cell with the fused
    * [[graft.plans.NearestCentroid]] projection, and writes the corpus
    * `partitionBy("cell")` — so a probe that touches `nprobe` of `kCells`
    * cells plans `PartitionFilters: [cell IN (...)]` and the scan never
    * opens the other directories (pinned in PlanSpec). The k×dim model is
    * persisted alongside as `name__model`; query time reads the MODEL, not
    * the corpus, to choose cells ([[graft.operators.KnnOps
    * .topKIvfPartitioned]]). Returns the flattened row-major centroids.
    */
  def createIvfCollection(spark: SparkSession, db: String, name: String,
      data: DataFrame, vecCol: String = "embedding",
      kCells: Int = 8, iters: Int = 3): Array[Double] = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    // Cache only for the training iterations (the Lloyd passes re-read the
    // data `iters` times); released before the write so no InMemoryRelation
    // leaks into unrelated plans (see KnnOps.topKIvfKmeans).
    data.cache()
    val cents = try graft.operators.KnnOps.kmeansCentroids(data, kCells, iters)
      finally data.unpersist()
    val assign = toCol(graft.plans.NearestCentroid(
      toExpr(col(vecCol)), cents.toSeq, kCells))
    data.withColumn("cell", assign)
      .write.mode("overwrite").partitionBy("cell")
      .saveAsTable(s"`$db`.`$name`")
    val dim = cents.length / kCells
    val model = (0 until kCells).map(c =>
      (c, cents.slice(c * dim, (c + 1) * dim).toSeq))
    spark.createDataFrame(model).toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite")
      .saveAsTable(s"`$db`.`${name}__model`")
    cents
  }

  /** NSW graph collection — the graph-index ingest analog of
    * [[createIvfCollection]] (the reference builds its HNSW at upsert,
    * `TencentVDB.py:79`): the per-partition graphs
    * ([[graft.operators.GraphAnnOps.buildGraphs]]) materialize as ONE
    * table row per partition (CSR-flattened arrays), so queries pay only
    * the beam searches ([[graft.operators.GraphAnnOps.searchStored]]) —
    * never a rebuild. `shards` controls graph count = search fan-out.
    */
  def createNswCollection(spark: SparkSession, db: String, name: String,
      data: DataFrame, shards: Int = 8, m: Int = 16,
      efConstruction: Int = 200): Unit = {
    import org.apache.spark.sql.functions.col
    // partitioned by graph id so incremental maintenance ([[upsertNsw]])
    // can rewrite exactly the rebuilt graphs via dynamic overwrite.
    // vec_id is normalized to LONG before the shard hash: Murmur3 is
    // type-sensitive (hashInt(5) != hashLong(5L)), and upsert/delete
    // replay this hash from caller-provided frames whose id type may
    // differ — all three paths cast to long so the replay always lands
    // on the ingest's partitions.
    graft.operators.GraphAnnOps.buildGraphs(
        data.withColumn("vec_id", col("vec_id").cast("long"))
          .repartition(shards, col("vec_id")), m, efConstruction)
      .write.mode("overwrite").partitionBy("part")
      .saveAsTable(s"`$db`.`$name`")
    // build parameters travel with the index: the upsert must re-shard and
    // re-build with the SAME hash fan-out and graph constants. `kind`
    // records the collection type so maintenance entry points dispatch on
    // a declared fact, not on column-name coincidence.
    spark.createDataFrame(Seq((shards, m, efConstruction, false, "nsw")))
      .toDF("shards", "m", "ef_construction", "routed", "kind")
      .coalesce(1).write.mode("overwrite")
      .saveAsTable(s"`$db`.`${name}__meta`")
  }

  /** ROUTED NSW collection — [[createNswCollection]] with the coarse
    * quantizer of [[createIvfCollection]] choosing the graphs: k-means
    * cells become the graph PARTITIONS (one NSW graph per cell), so a
    * query probes the `nprobe` nearest cells' graphs instead of
    * beam-searching every shard — the reference's sharded-HNSW serving
    * shape (`shard=3`, ref `TencentVDB.py:55`) with IVF-grade partition
    * pruning on top ([[graft.operators.GraphAnnOps.searchStoredRouted]]).
    * Persists the k×dim model as `name__model` (probe reads the MODEL to
    * route) and the build constants + `routed=true` as `name__meta` (the
    * maintenance paths branch on it: batch rows route by cell, not by id
    * hash).
    */
  def createNswRoutedCollection(spark: SparkSession, db: String, name: String,
      data: DataFrame, kCells: Int = 8, iters: Int = 3, m: Int = 16,
      efConstruction: Int = 200): Unit = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    // cache-train-unpersist: see createIvfCollection
    data.cache()
    val cents = try graft.operators.KnnOps.kmeansCentroids(data, kCells, iters)
      finally data.unpersist()
    val assign = toCol(graft.plans.NearestCentroid(
      toExpr(col("embedding")), cents.toSeq, kCells))
    graft.operators.GraphAnnOps.buildGraphsByPart(
        data.select(assign.as("part"), col("vec_id"), col("embedding")),
        m, efConstruction)
      .write.mode("overwrite").partitionBy("part")
      .saveAsTable(s"`$db`.`$name`")
    val dim = cents.length / kCells
    val model = (0 until kCells).map(c =>
      (c, cents.slice(c * dim, (c + 1) * dim).toSeq))
    spark.createDataFrame(model).toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite")
      .saveAsTable(s"`$db`.`${name}__model`")
    spark.createDataFrame(Seq((kCells, m, efConstruction, true, "nsw")))
      .toDF("shards", "m", "ef_construction", "routed", "kind")
      .coalesce(1).write.mode("overwrite")
      .saveAsTable(s"`$db`.`${name}__meta`")
  }

  /** (shards, m, efConstruction, routed) of an NSW collection; `routed`
    * defaults false for meta tables written before the flag existed.
    */
  private def readNswMeta(spark: SparkSession, db: String,
      name: String): (Int, Int, Int, Boolean) = {
    val df = spark.table(s"`$db`.`${name}__meta`")
    val r = df.head()
    val routed = df.columns.indexOf("routed") match {
      case -1 => false
      case i  => r.getBoolean(i)
    }
    (r.getInt(0), r.getInt(1), r.getInt(2), routed)
  }

  /** Int8-QUANTIZED collection — the storage-side counterpart of the ANN
    * indexes: every vector stored as dim signed bytes
    * ([[graft.plans.Int8Codes]]: per-vector symmetric scheme, scale =
    * 127/max|xᵢ|) plus its `scale` (for reconstruction; cosine scoring
    * does not need it — it cancels). The quantized scan reads ~⅛ the bytes
    * of the double-array fixture (~¼ of a float32 corpus) — measured and
    * pinned in tests — which is what makes a 100 TB first-pass vector scan
    * affordable; [[graft.operators.KnnOps.topKQuantized]] rescores the
    * survivors at full precision.
    */
  def createQuantizedCollection(spark: SparkSession, db: String, name: String,
      data: DataFrame, vecCol: String = "embedding"): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    data
      // stored UNROUNDED: this must be the exact value the encoder divides
      // by, or reconstruction code/scale drifts beyond the max|x|/254 bound
      // for large-magnitude vectors (and rounds to 0.0 past ~1.27e8)
      .withColumn("scale", lit(127.0) / greatest(
        array_max(transform(col(vecCol), x => abs(x))), lit(1e-12)))
      .withColumn("codes", toCol(graft.plans.Int8Codes(toExpr(col(vecCol)))))
      .drop(vecCol)
      .write.mode("overwrite").saveAsTable(s"`$db`.`$name`")
  }

  /** JL-PROJECTED collection — the stored form of
    * [[graft.operators.KnnOps.projectArray]]: (vec_id, pvec) with the
    * vector down-projected once at write time, so every coarse phase-1
    * scan reads outDim doubles per row instead of dim (the projection
    * costs outDim·dim per row — it only pays off PRE-COMPUTED; computing
    * it per query would cost more than exact scoring). The matrix is a
    * shared integer-hash construction, so queries project driver-side
    * to the same space with no stored model at all.
    */
  def createProjectedCollection(spark: SparkSession, db: String, name: String,
      data: DataFrame, vecCol: String = "embedding", outDim: Int = 16): Unit = {
    import org.apache.spark.sql.functions._
    data
      .withColumn("pvec",
        graft.operators.KnnOps.projectArray(col(vecCol), outDim))
      .drop(vecCol)
      .write.mode("overwrite").saveAsTable(s"`$db`.`$name`")
  }

  /** Incremental upsert into a projected collection — the same
    * last-write-wins discipline as the other index upsert paths
    * (in-batch id collisions resolve by row value; pure-insert batches
    * append, updates go through a staged overwrite). The projection is
    * PER-ROW (no model, no neighbors, no cells), so an upsert derives
    * exactly the new rows' pvecs and touches nothing else — the cheapest
    * maintenance in the index family. outDim is inferred from the stored
    * rows, so a batch can never silently write a different-width space.
    */
  def upsertProjected(spark: SparkSession, db: String, name: String,
      batch: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    import org.apache.spark.sql.functions._
    val table = s"`$db`.`$name`"
    val head = spark.table(table).select(size(col("pvec")).as("d"))
      .limit(1).collect()
    require(head.nonEmpty,
      s"$db.$name has no rows — outDim is undeterminable; " +
        "recreate via createProjectedCollection")
    val outDim = head(0).getInt(0)
    val keyW = max(struct(batch.columns.filterNot(_ == idCol)
      .map(col).toIndexedSeq: _*)).as("__w")
    val dedup = batch.groupBy(col(idCol)).agg(keyW)
      .select(col(idCol) +: batch.columns.filterNot(_ == idCol)
        .map(c => col(s"__w.$c").as(c)).toIndexedSeq: _*)
    val derived = dedup
      .withColumn("pvec",
        graft.operators.KnnOps.projectArray(col(vecCol), outDim))
      .drop(vecCol)
    val targetCols = spark.table(table).columns.toIndexedSeq.map(col)
    val updates = spark.table(table)
      .join(broadcast(dedup.select(col(idCol))), idCol).limit(1).count()
    if (updates == 0L) {
      derived.select(targetCols: _*).write.mode("append").insertInto(s"$db.$name")
    } else {
      val staging = s"`$db`.`__${name}_upsert_staging`"
      spark.table(table)
        .join(broadcast(dedup.select(col(idCol))), Seq(idCol), "left_anti")
        .unionByName(derived.select(targetCols: _*))
        .write.mode("overwrite").saveAsTable(staging)
      try {
        spark.table(staging).select(targetCols: _*)
          .write.mode("overwrite").insertInto(s"$db.$name")
      } finally spark.sql(s"DROP TABLE IF EXISTS $staging")
    }
  }

  /** PRODUCT-QUANTIZED collection — the next footprint step after
    * [[createQuantizedCollection]]: per-subspace k-means codebooks
    * ([[graft.operators.KnnOps.pqCodebooks]], one distributed Lloyd pass
    * per iteration for ALL subspaces), every vector stored as M byte codes
    * ([[graft.plans.PqCodes]]) plus its exact L2 norm (so the ADC score
    * normalizes to a cosine without reconstruction). At 1024-d float32 and
    * M=8 the code column is 1/512th of the vector bytes; the probe
    * ([[graft.operators.KnnOps.topKPq]]) reads codes + norm only and
    * re-scores survivors at full precision. Codebooks persist to
    * `name__pqmodel` (sub, cell, centroid) and the shape to
    * `name__pqmeta` (m, k, sub_dim) — the probe reads the model tables,
    * never retrains.
    */
  def createPqCollection(spark: SparkSession, db: String, name: String,
      data: DataFrame, vecCol: String = "embedding",
      m: Int = 8, kCent: Int = 16, iters: Int = 3): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    import graft.functions.VectorFunctions.dotFast
    // cache-train-unpersist: see createIvfCollection
    data.cache()
    val cb = try graft.operators.KnnOps.pqCodebooks(data, m, kCent, iters)
      finally data.unpersist()
    val subDim = cb.length / (m * kCent)
    val codes = toCol(graft.plans.PqCodes(toExpr(col(vecCol)), cb.toSeq, m, kCent))
    data
      .withColumn("codes", codes)
      .withColumn("norm", sqrt(dotFast(col(vecCol), col(vecCol))))
      .drop(vecCol)
      .write.mode("overwrite").saveAsTable(s"`$db`.`$name`")
    val model = for (s <- 0 until m; c <- 0 until kCent) yield
      (s, c, cb.slice((s * kCent + c) * subDim, (s * kCent + c + 1) * subDim).toSeq)
    spark.createDataFrame(model).toDF("sub", "cell", "centroid")
      .coalesce(1).write.mode("overwrite")
      .saveAsTable(s"`$db`.`${name}__pqmodel`")
    spark.createDataFrame(Seq((m, kCent, subDim))).toDF("m", "k", "sub_dim")
      .coalesce(1).write.mode("overwrite")
      .saveAsTable(s"`$db`.`${name}__pqmeta`")
  }

  /** Incremental maintenance for a plain PQ collection — completes the
    * upsert family ([[upsertIvf]], [[upsertIvfPq]], [[upsertNsw]]): the
    * batch's codes re-derive from the PERSISTED codebooks (`__pqmodel` /
    * `__pqmeta` — no retraining; that is an index REBUILD), so an encoded
    * batch row is byte-identical to what [[createPqCollection]] would have
    * produced (pinned in tests). The collection is unpartitioned, so file
    * scoping works by WRITE MODE instead of partition pruning: a batch of
    * brand-new ids APPENDS (every existing file stays byte-for-byte); a
    * batch that updates stored ids must remove the old rows and pays the
    * staged whole-table merge — the honest cost of updating an
    * unpartitioned layout (key-partitioned layouts exist for update-heavy
    * tables; PQ collections are bulk-ingest + append in practice).
    */
  def upsertPq(spark: SparkSession, db: String, name: String,
      batch: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    import graft.functions.VectorFunctions.dotFast
    val table = s"`$db`.`$name`"
    val (cb, m, kCent, _) = graft.operators.KnnOps.readPqModel(spark, db, name)
    // a batch carrying the same id twice resolves deterministically —
    // winner by row value, same rule as the other upsert paths
    val keyW = max(struct(batch.columns.filterNot(_ == idCol).map(col).toIndexedSeq: _*)).as("__w")
    val dedup = batch.groupBy(col(idCol)).agg(keyW)
      .select(col(idCol) +: batch.columns.filterNot(_ == idCol)
        .map(c => col(s"__w.$c").as(c)).toIndexedSeq: _*)
    val derived = dedup
      .withColumn("codes", toCol(graft.plans.PqCodes(
        toExpr(col(vecCol)), cb.toSeq, m, kCent)))
      .withColumn("norm", sqrt(dotFast(col(vecCol), col(vecCol))))
      .drop(vecCol)
    val targetCols = spark.table(table).columns.toIndexedSeq.map(col)
    val updates = spark.table(table)
      .join(broadcast(dedup.select(col(idCol))), idCol).limit(1).count()
    if (updates == 0L) {
      derived.select(targetCols: _*).write.mode("append").insertInto(s"$db.$name")
    } else {
      val staging = s"`$db`.`__${name}_upsert_staging`"
      spark.table(table)
        .join(broadcast(dedup.select(col(idCol))), Seq(idCol), "left_anti")
        .unionByName(derived.select(targetCols: _*))
        .write.mode("overwrite").saveAsTable(staging)
      try {
        spark.table(staging).select(targetCols: _*)
          .write.mode("overwrite").insertInto(s"$db.$name")
      } finally spark.sql(s"DROP TABLE IF EXISTS $staging")
    }
  }

  /** IVF-PQ collection — the composed 100 TB index: the coarse quantizer's
    * cell becomes the PARTITION column (directory pruning at plan time,
    * like [[createIvfCollection]]) and the rows store PQ byte codes + the
    * exact norm instead of the vector (like [[createPqCollection]]). Codes
    * quantize the RESIDUAL x − centroid(cell) — the classic IVF-PQ
    * formulation: residuals concentrate near zero, so the shared codebooks
    * spend their 256^M capacity on the part the coarse quantizer didn't
    * explain; the probe re-adds ⟨q, centroid⟩ per probed cell. A probe
    * ([[graft.operators.KnnOps.topKIvfPq]]) therefore reads nprobe/kCells
    * of the directories AND only M bytes + a double per surviving row —
    * the two prunings multiply. Persists the coarse model (`__model`),
    * the residual codebooks (`__pqmodel`), and the shape (`__pqmeta`).
    */
  def createIvfPqCollection(spark: SparkSession, db: String, name: String,
      data: DataFrame, vecCol: String = "embedding", kCells: Int = 8,
      m: Int = 8, kCent: Int = 16, iters: Int = 3): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    import graft.functions.VectorFunctions.dotFast
    // cache-train-unpersist: both trainings re-read the data iters times
    data.cache()
    val cents = try graft.operators.KnnOps.kmeansCentroids(data, kCells, iters)
      finally data.unpersist()
    val assign = toCol(graft.plans.NearestCentroid(
      toExpr(col(vecCol)), cents.toSeq, kCells))
    // RESIDUAL encoding (the classic IVF-PQ formulation): codes quantize
    // x − centroid(cell), which concentrates the codebooks on the
    // small-magnitude residual distribution instead of the full spread —
    // the probe adds ⟨q, centroid⟩ back per cell. zip_with is interpreted,
    // but this is the one-time ingest path, not a query loop.
    val residualOf = residualFrame(spark, data, vecCol, assign, cents, kCells)
    residualOf.cache()
    val cb = try graft.operators.KnnOps.pqCodebooks(
        residualOf.select(col("vec_id"), col("__residual").as("embedding")),
        m, kCent, iters)
      finally residualOf.unpersist()
    val codes = toCol(graft.plans.PqCodes(toExpr(col("__residual")), cb.toSeq, m, kCent))
    residualOf
      .withColumn("codes", codes)
      .withColumn("norm", sqrt(dotFast(col(vecCol), col(vecCol))))
      .drop(vecCol, "__residual")
      .write.mode("overwrite").partitionBy("cell")
      .saveAsTable(s"`$db`.`$name`")
    val dim = cents.length / kCells
    val coarse = (0 until kCells).map(c =>
      (c, cents.slice(c * dim, (c + 1) * dim).toSeq))
    spark.createDataFrame(coarse).toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite")
      .saveAsTable(s"`$db`.`${name}__model`")
    val subDim = cb.length / (m * kCent)
    val model = for (s <- 0 until m; c <- 0 until kCent) yield
      (s, c, cb.slice((s * kCent + c) * subDim, (s * kCent + c + 1) * subDim).toSeq)
    spark.createDataFrame(model).toDF("sub", "cell", "centroid")
      .coalesce(1).write.mode("overwrite")
      .saveAsTable(s"`$db`.`${name}__pqmodel`")
    spark.createDataFrame(Seq((m, kCent, subDim))).toDF("m", "k", "sub_dim")
      .coalesce(1).write.mode("overwrite")
      .saveAsTable(s"`$db`.`${name}__pqmeta`")
  }

  /** (vec_id, …, cell, __residual) frame: each row's vector minus its
    * cell's centroid — the encoder input of the residual IVF-PQ build and
    * upsert. The k×dim centroid table broadcasts; the subtraction is a
    * per-row projection.
    */
  private def residualFrame(spark: SparkSession, data: DataFrame,
      vecCol: String, assign: org.apache.spark.sql.Column,
      cents: Array[Double], kCells: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val dim = cents.length / kCells
    val centTable = spark.createDataFrame((0 until kCells).map(c =>
        (c, cents.slice(c * dim, (c + 1) * dim).toSeq)))
      .toDF("cell", "__cent")
    data.withColumn("cell", assign)
      .join(broadcast(centTable), "cell")
      .withColumn("__residual", zip_with(col(vecCol), col("__cent"), (x, c) => x - c))
      .drop("__cent")
  }

  /** Incremental IVF-PQ maintenance — [[upsertIvf]] for the composed
    * index: the batch's cells AND codes are re-derived from the PERSISTED
    * models (coarse centroids from `__model`, codebooks from `__pqmodel` —
    * neither retrains; that is an index REBUILD), and only the touched
    * cell partitions — the batch's cells plus the old cells of updated
    * ids — merge and rewrite. Untouched cell partitions keep their files
    * byte-for-byte; emptied partitions drop. Batch schema: the raw row
    * (id, vector, attrs) — the encoder derives what the collection stores.
    */
  def upsertIvfPq(spark: SparkSession, db: String, name: String,
      batch: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    import graft.functions.VectorFunctions.dotFast
    val (cents, kCells) = graft.operators.KnnOps.readCoarseModel(spark, db, name)
    val (cb, m, kCent, _) = graft.operators.KnnOps.readPqModel(spark, db, name)
    val assign = toCol(graft.plans.NearestCentroid(
      toExpr(col(vecCol)), cents.toSeq, kCells))
    val derived = residualFrame(spark, batch, vecCol, assign, cents, kCells)
      .withColumn("codes", toCol(graft.plans.PqCodes(
        toExpr(col("__residual")), cb.toSeq, m, kCent)))
      .withColumn("norm", sqrt(dotFast(col(vecCol), col(vecCol))))
      .drop(vecCol, "__residual")
    val oldCells = spark.table(s"`$db`.`$name`")
      .join(broadcast(batch.select(col(idCol)).distinct()), idCol)
      .select(col("cell"))
    mergeTouchedPartitions(spark, db, name, derived, idCol, "cell",
      derived.select(col("cell")).union(oldCells).distinct())
  }

  /** Incremental NSW maintenance — the graph twin of [[upsertIvf]]: each
    * batch row's target graph is the ingest hash
    * (`pmod(hash(vec_id), shards)` — `functions.hash` IS the Murmur3 used
    * by `repartition(n, col)`, seed 42) or, for routed collections, the
    * nearest cell of the PERSISTED coarse model (no retrain), and only the
    * touched graphs rewrite via dynamic partition overwrite; untouched
    * graph partitions keep their files byte-for-byte (pinned in tests).
    * Batch schema: (vec_id, embedding).
    *
    * The batch is deduplicated, cell-assigned and checkpointed ONCE; only
    * its (part, vec_id) pairs come to the driver (what a broadcast of the
    * batch ids would hold), and [[rewriteNsw]] plans the whole
    * maintenance there. Two paths per touched graph:
    *  - TRUE INSERT ([[graft.operators.GraphAnnOps.insertLocal]]) when the
    *    graph's batch rows are all NEW ids and number at most
    *    `insertFrac` of its stored nodes: the stored CSR seeds the
    *    adjacency and only the batch runs Malkov's insert step —
    *    O(batch) per graph, the path a hot cell on a steady small-batch
    *    stream needs (a rebuild pays O(cell) per batch forever).
    *  - REBUILD (same ascending-id insertion order, same constants from
    *    `name__meta`) when the graph holds any batch id — a stale node's
    *    links must not survive, and a routed update that MOVES a cell
    *    leaves its old graph holding the id — or when the batch is a
    *    large fraction of the graph, where a from-scratch build costs the
    *    same and restores the canonical id-interleaved insertion order.
    */
  def upsertNsw(spark: SparkSession, db: String, name: String,
      rawBatch: DataFrame, insertFrac: Double = 0.2): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    val (shards, m, efC, routed) = readNswMeta(spark, db, name)
    // a batch carrying the same id twice resolves deterministically (the
    // winner is a function of row values — same rule as the merge core's
    // tie-break), never of partitioning
    val batch = rawBatch.groupBy(col("vec_id"))
      .agg(max(struct(col("embedding"))).as("__w"))
      .select(col("vec_id").cast("long").as("vec_id"), // hash replay: see createNswCollection
        col("__w.embedding").as("embedding").cast("array<double>"))
    val part =
      if (!routed) pmod(hash(col("vec_id")), lit(shards))
      else {
        val (cents, kCells) = graft.operators.KnnOps.readCoarseModel(spark, db, name)
        toCol(graft.plans.NearestCentroid(toExpr(col("embedding")), cents.toSeq, kCells))
      }
    val batchP = batch.select(part.cast("int").as("part"), col("vec_id"), col("embedding"))
      .localCheckpoint()
    val keys = batchP.select(col("part"), col("vec_id")).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    // sharded: an id's stored graph IS its batch graph, so only those are
    // scanned; routed: a moved id's old cell can be any graph
    rewriteNsw(spark, db, name, m, efC, keys.map(_._2),
      if (routed) None else Some(keys.map(_._1).distinct.toSeq),
      keys.groupBy(_._1).map { case (p, ks) => p -> ks.length }, Some(batchP), insertFrac)
  }

  /** The shared core of [[upsertNsw]] and [[deleteNsw]], planned on the
    * driver. `ids` are every id the call writes or removes; `batchN`
    * counts the batch rows routed to each part and `batch` holds them as
    * (part, vec_id, embedding) — both empty for a delete.
    *  1. STATS: one projection over the graph table's (part, n, ids)
    *     columns counts each graph's overlap with `ids` — no explode, no
    *     join, no shuffle, no vector decode; `cand` partition-prunes it
    *     when the candidate graphs are known (sharded collections).
    *  2. PLAN: the touched graphs are those holding an id or receiving a
    *     batch row; none touched → return before any write. A graph is
    *     EMPTIED when n − overlap + batch rows = 0; otherwise it inserts
    *     in place (see [[upsertNsw]]) or rebuilds.
    *  3. ONE COGROUP: the live touched graphs (read through a
    *     `part IN (…)` partition filter) meet their batch rows; an insert
    *     graph runs `insertLocal` on its rows in ascending-id order, a
    *     rebuild graph decodes its surviving nodes, adds its batch rows and
    *     runs `buildLocal` over all of them in ascending-id order.
    *  4. REWRITE: [[overwritePartitions]] replaces exactly the written
    *     graphs' partitions and drops the emptied ones (every node
    *     deleted, or a routed update moved a cell's last row away). The
    *     emptied list is the driver's plan, so nothing reads the table
    *     after it is rewritten.
    */
  private def rewriteNsw(spark: SparkSession, db: String, name: String,
      m: Int, efC: Int, ids: Array[Long], cand: Option[Seq[Int]],
      batchN: Map[Int, Int], batch: Option[DataFrame], insertFrac: Double): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.{GraphAnnOps, NswGraph}
    if (ids.isEmpty) return
    val graphs = spark.table(s"`$db`.`$name`")
    val stats: Map[Int, (Int, Int)] = cand
      .fold(graphs)(ps => graphs.filter(col("part").isin(ps.map(Int.box): _*)))
      .select(col("part"), col("n"), size(array_intersect(col("ids"), typedLit(ids))))
      .collect().map(r => r.getInt(0) -> (r.getInt(1), r.getInt(2))).toMap
    val touched = stats.collect { case (p, (_, o)) if o > 0 => p }.toSet ++ batchN.keySet
    if (touched.isEmpty) return
    def rows(p: Int): Int = stats.get(p).fold(0) { case (n, o) => n - o } + batchN.getOrElse(p, 0)
    val (emptied, live) = touched.toSeq.sorted.partition(rows(_) == 0)
    val inserts = batchN.keySet.filter(p => stats.get(p).exists { case (n, o) =>
      o == 0 && batchN(p) <= insertFrac * n })
    val liveParts = live.map(Int.box)
    val doomed = ids.toSet
    val gks = graphs.filter(col("part").isin(liveParts: _*))
      .as[NswGraph].groupByKey(_.part)
    val rks = batch.fold(spark.emptyDataset[(Int, Long, Seq[Double])])(
        _.filter(col("part").isin(liveParts: _*)).as[(Int, Long, Seq[Double])])
      .groupByKey(_._1)
    val written = gks.cogroup(rks) { (p, gs, batchRows) =>
      val add = batchRows.map(r => (r._2, r._3.toArray)).toArray.sortBy(_._1)
      if (inserts(p)) gs.map(g => GraphAnnOps.insertLocal(
        g, add.map(_._1), add.flatMap(_._2), m, efC))
      else {
        val kept = gs.flatMap(g => (0 until g.n).iterator.filterNot(i => doomed(g.ids(i)))
          .map(i => (g.ids(i), g.vecs.slice(i * g.dim, (i + 1) * g.dim))))
        val all = (kept ++ add).toArray.sortBy(_._1)
        Iterator.single(GraphAnnOps.buildLocal(p, all.map(_._1), all.flatMap(_._2),
          all(0)._2.length, m, efC))
      }
    }
    overwritePartitions(s"`$db`.`$name`", written.toDF(), emptied.map(Seq(_)))
  }

  /** Graph-aware row deletion for an NSW collection — the index-consistent
    * twin of [[deleteByIds]] (which routes here automatically): the
    * doomed ids come to the driver (with their ingest-hash candidate
    * graphs for sharded collections; a routed part depends on the VECTOR,
    * so every graph is a candidate) and [[rewriteNsw]] runs with no batch
    * rows. A graph is touched only if its id list actually holds a doomed
    * id (one stats scan, ids column only); absent ids write nothing. ONLY
    * the touched graphs rebuild from their survivors with the stored
    * constants; untouched graph partitions keep their files byte-for-byte,
    * and a graph whose every node was doomed drops its partition. After
    * this, [[graft.operators.GraphAnnOps.searchStored]] can never serve a
    * deleted id (pinned in tests).
    */
  def deleteNsw(spark: SparkSession, db: String, name: String,
      ids: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    val (shards, m, efC, routed) = readNswMeta(spark, db, name)
    // cast to long BEFORE hashing: see createNswCollection — a caller
    // passing Int ids would otherwise hash to the wrong candidate parts
    // and the delete would silently no-op
    val doomed = ids.toDF("vec_id")
      .select(col("vec_id").cast("long").as("vec_id")).distinct()
      .select(col("vec_id"), pmod(hash(col("vec_id")), lit(shards)))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    rewriteNsw(spark, db, name, m, efC, doomed.map(_._1),
      if (routed) None else Some(doomed.map(_._2).distinct.toSeq),
      Map.empty, None, insertFrac = 0.0)
  }

  /** Row deletion by id — the write the dedup pipeline ends with (drop the
    * losers from the collection; the reference only deletes whole
    * collections, `TencentVDB.py:87-98`, but a training-data store needs
    * the row form). Partitioned collections rewrite ONLY the partitions
    * that hold doomed ids ([[overwritePartitions]]: untouched files
    * intact, emptied partitions dropped — the [[upsertIvf]] machinery
    * pointed at removal). Multi-column-partitioned tables (date×source
    * catalogs) are handled at the FULL-TUPLE level — touched, rewritten,
    * and swept by the complete partition spec — so a fully-doomed
    * subpartition under a surviving sibling drops while the sibling stays
    * byte-identical. Unpartitioned collections rewrite whole through a
    * staging table; NSW graph collections route to [[deleteNsw]] (the ids
    * live inside CSR arrays — only a graph rebuild can remove them).
    * `ids` is a 1-column frame (any name) and broadcasts — delete cost
    * scales with the touched partitions, not the table.
    *
    * CRASH CONTRACT (single-writer; pinned in tests): every failure
    * window is recoverable by RE-RUNNING THE SAME CALL —
    *  - crash before the target's commit: the target is untouched
    *    (pre-delete state, row-consistent); on an unpartitioned
    *    collection the orphaned staging table is reclaimed by the next
    *    call's `overwrite` stage write, whatever stale schema or rows it
    *    holds;
    *  - crash DURING the commit: each partition lands at either its pre-
    *    or post-delete version (the committer moves files per partition),
    *    so every partition is row-consistent and the re-run anti-joins
    *    the doomed ids out of whichever mix survived — deletion is
    *    idempotent on row content, the re-run converges;
    *  - crash after the commit, before the emptied partitions drop (or
    *    the staging table does): those partitions still hold only doomed
    *    rows, which the re-run finds and drops; the re-run is otherwise a
    *    content no-op.
    * Readers concurrent with the commit window can observe the mixed
    * state — the documented single-writer trade of plain-parquet tables
    * (the versioned-collection family is the MVCC alternative: appended
    * `__v` snapshots never rewrite files).
    */
  def deleteByIds(spark: SparkSession, db: String, name: String,
      ids: DataFrame, idCol: String = "vec_id"): Unit = {
    import org.apache.spark.sql.functions._
    val table = s"`$db`.`$name`"
    // An NSW collection stores GRAPHS, not rows — its ids live inside CSR
    // arrays, so a row-level anti-join cannot touch them and a naive delete
    // would leave stale nodes for every future probe to serve. Route to the
    // graph-aware rebuild instead (the index-consistency contract: a probe
    // must never return a deleted id). Dispatch reads the DECLARED kind
    // from the meta table; the column-shape sniff only covers meta tables
    // written before the kind column existed.
    val isNsw = spark.catalog.tableExists(s"$db.${name}__meta") && {
      val meta = spark.table(s"`$db`.`${name}__meta`")
      if (meta.columns.contains("kind"))
        meta.head().getAs[String]("kind") == "nsw"
      else {
        val colsLower = spark.table(table).columns.map(_.toLowerCase).toSet
        Set("part", "ids", "vecs", "adjoff", "adj").subsetOf(colsLower)
      }
    }
    if (isNsw) {
      require(idCol == "vec_id",
        s"NSW collections are keyed on vec_id; got idCol=$idCol")
      deleteNsw(spark, db, name, ids)
      return
    }
    val doomed = ids.toDF(idCol).distinct()
    val partCols = spark.catalog.listColumns(s"$db.$name")
      .collect().filter(_.isPartition).map(_.name).toSeq
    if (partCols.isEmpty) {
      val staging = s"`$db`.`__${name}_delete_staging`"
      spark.table(table).join(broadcast(doomed), Seq(idCol), "left_anti")
        .write.mode("overwrite").saveAsTable(staging)
      try {
        val targetCols = spark.table(table).columns.toIndexedSeq.map(col)
        spark.table(staging).select(targetCols: _*)
          .write.mode("overwrite").insertInto(s"$db.$name")
      } finally spark.sql(s"DROP TABLE IF EXISTS $staging")
      return
    }
    // Multi-column partitioning works at the FULL-TUPLE level throughout:
    // touched partitions are distinct (p1, …, pn) tuples holding doomed
    // ids, the rewrite is keyed on the whole tuple, and the fully-doomed
    // sweep drops complete leaf specs — so a doomed (date=x, source=y)
    // under a surviving sibling (date=x, source=z) is removed while the
    // sibling's files stay byte-identical. Tuples match null-safely.
    val touched = spark.table(table).join(broadcast(doomed), idCol)
      .select(partCols.map(col): _*).distinct().collect().toSeq
    if (touched.isEmpty) return
    val touchedDf = spark.createDataFrame(
      spark.sparkContext.parallelize(touched, 1), touched.head.schema)
    val stored = spark.table(table)
    val kept = stored
      .join(broadcast(touchedDf), partCols.map(c => stored(c) <=> touchedDf(c)).reduce(_ && _),
        "left_semi") // only affected partitions read
      .join(broadcast(doomed), Seq(idCol), "left_anti")
      .localCheckpoint() // read twice: its partition set and the rewrite
    // a partition whose every row was doomed is absent from `kept` —
    // dynamic overwrite leaves it untouched, so it drops by its full spec
    val live = kept.select(partCols.map(col): _*).distinct().collect().map(_.toSeq).toSet
    overwritePartitions(table, kept, touched.map(_.toSeq).filterNot(live))
  }

  /** Small-file compaction — the maintenance pass every incrementally
    * upserted collection needs at scale: each partition-scoped merge
    * leaves one more file per touched partition, and a 100 TB table fed
    * by streaming upserts decays into millions of footer-read-dominated
    * small files. Rewrites every partition to `filesPerPartition` files
    * (hash-clustered on the partition column, so each partition value
    * lands in exactly that many write tasks), row-preserving, through
    * [[overwritePartitions]] like the partition-scoped upsert.
    * Unpartitioned tables rewrite to exactly `filesPerPartition` files.
    */
  def compactCollection(spark: SparkSession, db: String, name: String,
      filesPerPartition: Int = 1): Unit = {
    import org.apache.spark.sql.functions._
    require(filesPerPartition >= 1, s"filesPerPartition must be ≥ 1")
    val table = s"`$db`.`$name`"
    val partCols = spark.catalog.listColumns(s"$db.$name")
      .collect().filter(_.isPartition).map(_.name).toSeq
    val df = spark.table(table)
    val clustered =
      if (partCols.isEmpty) df.repartition(filesPerPartition)
      else if (filesPerPartition == 1) df.repartition(partCols.map(col): _*)
      else df.repartition((partCols.map(col) :+
        pmod(hash(col(df.columns.head)), lit(filesPerPartition))): _*)
    overwritePartitions(table, clustered)
  }

  /** BM25 corpus-statistics store — the "index-time" artifact that turns
    * [[graft.operators.RetrievalOps.bm25Scored]]'s two corpus scans into
    * the ONE-scan serving probe ([[graft.operators.RetrievalOps
    * .bm25TopKStored]]). Lucene pays these statistics at index time; this
    * is the same trade as a catalog artifact.
    *
    * Log-structured and mergeable by design: both tables are APPEND-ONLY
    * logs of associative partials —
    *
    *  - `name__bm25stats`: rows of `(n, sum_dl)` (docs and summed doc
    *    lengths of one ingest batch); the corpus totals are their sums.
    *  - `name__bm25df`: rows of `(term, df)` (per-batch document
    *    frequencies); a term's corpus df is the sum of its rows.
    *
    * So [[upsertBm25Stats]] APPENDS one batch's partials — O(batch), no
    * read-modify-write, no O(vocabulary) rewrite — and the probe merges at
    * read time, where it only ever touches the FEW query terms (pushed
    * `term IN (...)` filter). [[compactBm25Stats]] folds the log back to
    * one row per term when batch count grows. All partials are exact
    * integer counts in doubles, so merge order can never change a score
    * (fp-exact up to 2^53 — the determinism rule the oracle equality
    * relies on).
    */
  def createBm25Stats(spark: SparkSession, db: String, name: String,
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): Unit =
    writeBm25Partials(spark, db, name, docs, idCol, textCol, overwrite = true)

  /** Append one ingest batch's BM25 partials — see [[createBm25Stats]]. */
  def upsertBm25Stats(spark: SparkSession, db: String, name: String,
      newDocs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): Unit =
    writeBm25Partials(spark, db, name, newDocs, idCol, textCol, overwrite = false)

  private def writeBm25Partials(spark: SparkSession, db: String, name: String,
      docs: DataFrame, idCol: String, textCol: String, overwrite: Boolean,
      batchId: Long = -1L, negated: Boolean = false): Unit = {
    val mode = if (overwrite) "overwrite" else "append"
    val perDoc = bm25PerDoc(docs, idCol, textCol)
    writeBm25StatsRow(db, name, perDoc, mode, batchId, negated)
    writeBm25DfRows(db, name, perDoc, mode, batchId, negated)
  }

  /** (dl, w) per doc — dl = size of ALL tokens (empty strings included),
    * the SAME length the live scorer and the SQL oracle use. Shared by the
    * batch writer and the streaming incremental writer so the partial
    * definition (tokenization, dl convention — bit-identical to the
    * oracle) lives once.
    */
  private def bm25PerDoc(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    docs.select(col(idCol), split(col(textCol), " ").as("w"))
      .select(size(col("w")).cast("double").as("dl"), col("w"))
  }

  // batch_id is the PARTITION column of both partial logs: batch-API
  // writes land in dir -1; streaming batches land in their own dir, making
  // the existence check in [[bm25StatsIncrementalBatch]] a partition-pruned
  // no-scan. sum_dl coalesces to 0.0 so an EMPTY batch writes an exact
  // (0, 0) partial, not a NULL that serving-time sums would have to dodge.
  private def writeBm25StatsRow(db: String, name: String, perDoc: DataFrame,
      saveMode: String, batchId: Long, negated: Boolean = false): Unit = {
    import org.apache.spark.sql.functions._
    val sign = if (negated) -1L else 1L
    perDoc.agg((count(lit(1)) * sign).cast("double").as("n"),
        (coalesce(sum(col("dl")), lit(0.0)) * sign).as("sum_dl"))
      .withColumn("batch_id", lit(batchId))
      .write.mode(saveMode).partitionBy("batch_id")
      .saveAsTable(s"`$db`.`${name}__bm25stats`")
  }

  private def writeBm25DfRows(db: String, name: String, perDoc: DataFrame,
      saveMode: String, batchId: Long, negated: Boolean = false): Unit = {
    import org.apache.spark.sql.functions._
    val sign = if (negated) -1L else 1L
    perDoc.select(explode(array_distinct(col("w"))).as("term"))
      .groupBy(col("term"))
      .agg((count(lit(1)) * sign).cast("double").as("df"))
      .withColumn("batch_id", lit(batchId))
      .write.mode(saveMode).partitionBy("batch_id")
      .saveAsTable(s"`$db`.`${name}__bm25df`")
  }

  /** One micro-batch of streaming BM25 maintenance
    * ([[graft.streaming.StreamingOps.streamingBm25Stats]] calls this per
    * batch): append the batch's partials, replay-safe under foreachBatch's
    * at-least-once contract. Same watermark design as
    * [[graft.operators.DedupOps.dedupIncrementalBatch]] — a fully
    * committed batch no-ops via the 1-row commit watermark — and the
    * partial-crash window between the two appends closes because each
    * append is individually idempotent: partials are tagged with the
    * batch id as a PARTITION value, so "already appended" is a
    * partition-existence check (directory listing, no data scan) and a
    * replay appends only the log the crash lost. Compaction folds batch
    * dirs away, so quiesce the stream before [[compactBm25Stats]] (the
    * commit watermark still blocks committed-batch replays after it).
    */
  def bm25StatsIncrementalBatch(batch: DataFrame, db: String, name: String,
      batchId: Long, idCol: String = "doc_id", textCol: String = "text"): Unit = {
    import org.apache.spark.sql.functions._
    val spark = batch.sparkSession
    val commitsName = s"${name}__bm25commits"
    if (spark.catalog.tableExists(s"$db.$commitsName")) {
      val r = spark.table(s"`$db`.`$commitsName`")
        .agg(max(col("batch_id"))).head()
      if (!r.isNullAt(0) && batchId <= r.getLong(0)) return
    }
    def alreadyAppended(t: String): Boolean =
      spark.catalog.tableExists(s"$db.$t") &&
        !spark.table(s"`$db`.`$t`")
          .filter(col("batch_id") === batchId).limit(1).isEmpty
    val perDoc = bm25PerDoc(batch, idCol, textCol)
    if (!alreadyAppended(s"${name}__bm25stats"))
      writeBm25StatsRow(db, name, perDoc, "append", batchId)
    if (!alreadyAppended(s"${name}__bm25df"))
      writeBm25DfRows(db, name, perDoc, "append", batchId)
    spark.createDataFrame(Seq(Tuple1(batchId))).toDF("batch_id")
      .write.mode("overwrite").saveAsTable(s"`$db`.`$commitsName`")
  }

  /** Remove documents from the BM25 store by appending NEGATED partials —
    * deletion in a log-structured store is just ingest with sign flipped,
    * and because every partial is an exact integer count the merged
    * (n, sum_dl, df) after remove(docs) equals a fresh build without
    * them, bit-for-bit (RetrievalSpec pins this). O(batch) like upsert;
    * no read-modify-write; [[compactBm25Stats]] folds cancelled rows
    * away. The caller passes the SAME rows it deletes from the corpus
    * table (`deleteByIds` + removeBm25Stats is the composed lifecycle).
    */
  def removeBm25Stats(spark: SparkSession, db: String, name: String,
      removedDocs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Unit =
    writeBm25Partials(spark, db, name, removedDocs, idCol, textCol,
      overwrite = false, negated = true)

  /** Fold the append-only BM25 partial logs down to one stats row and one
    * row per term (a whole-table swap through a staging table: the fold
    * reads the table it replaces, and a static overwrite may not). Probe
    * results are unchanged — the partials are exact counts, so the fold
    * is a pure merge; terms whose df
    * cancelled to zero are dropped.
    */
  def compactBm25Stats(spark: SparkSession, db: String, name: String): Unit = {
    import org.apache.spark.sql.functions._
    // the merged rows keep the MAX folded batch_id so the streaming
    // watermark ordering survives compaction (see bm25StatsIncrementalBatch)
    Seq(
      (s"${name}__bm25stats",
        (d: DataFrame) => d.agg(sum(col("n")).as("n"), sum(col("sum_dl")).as("sum_dl"),
          max(col("batch_id")).as("batch_id"))),
      (s"${name}__bm25df",
        (d: DataFrame) => {
          // null max = empty log; the fold below then emits zero rows, so
          // the lit value never lands in a row — any placeholder is safe
          val maxRow = d.agg(max(col("batch_id"))).head()
          val maxBatch = if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0)
          d.groupBy(col("term")).agg(sum(col("df")).as("df"))
            .filter(col("df") =!= 0.0)
            .withColumn("batch_id", lit(maxBatch))
        })
    ).foreach { case (t, fold) =>
      // empty log: nothing to fold, and the stats aggregate over zero rows
      // would write a single all-null partial — skip instead
      if (!spark.table(s"`$db`.`$t`").isEmpty) {
        val staging = s"`$db`.`__${t}_compact_staging`"
        fold(spark.table(s"`$db`.`$t`")).write.mode("overwrite").saveAsTable(staging)
        try spark.table(staging).write.mode("overwrite").partitionBy("batch_id")
          .saveAsTable(s"`$db`.`$t`")
        finally spark.sql(s"DROP TABLE IF EXISTS $staging")
      }
    }
  }

  /** Number of term-hash partitions in a postings store. Bounded and
    * fixed: partitioning by RAW term would create vocabulary-many
    * directories (unbounded, filesystem-hostile at 100 TB); a hash bucket
    * keeps the directory count constant while still letting a probe prune
    * to exactly the query terms' buckets — a few directories out of 64 —
    * before the pushed `term IN (...)` filter sees a single row group.
    */
  val PostingsBuckets = 64

  private def postingsBucket(term: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    pmod(xxhash64(term), lit(PostingsBuckets.toLong))
  }

  /** The SAME bucket function driver-side, so a probe can enumerate its
    * query terms' bucket partitions as pruning literals without a job:
    * `xxhash64` is XXH64 with seed 42, and `pmod` on a positive modulus
    * is `floorMod`. Pinned equal to the column form in CatalogSpec.
    */
  private[graft] def postingsBucketOf(term: String): Long =
    java.lang.Math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(term), 42L),
      PostingsBuckets.toLong)

  /** Inverted postings index — the term→documents artifact that removes
    * the LAST corpus scan from lexical serving. The statistics store
    * ([[createBm25Stats]]) already made the stats pass an index-time cost,
    * but its probe still re-tokenizes the whole corpus per query; at
    * 100 TB that scan IS the query cost. Lucene's answer (and ours) is the
    * inverted index: pay one tokenize at ingest, serve from postings.
    *
    * `name__postings`: rows of `(term, doc_id, tf, dl)` — one row per
    * (document, distinct term), `tf` the in-document term frequency, `dl`
    * the document's token length — PARTITIONED by `bucket =
    * pmod(xxhash64(term), [[PostingsBuckets]])` so a probe reads only the
    * query terms' buckets (partition pruning, directory-level) and then
    * only their rows (pushed `term IN` scan filter, row-group level).
    * Probe cost is proportional to the query terms' posting lists, never
    * the corpus.
    *
    * Log-structured like the stats store: [[upsertPostings]] APPENDS one
    * batch's rows (O(batch), no read-modify-write); [[removePostings]]
    * appends SIGN-FLIPPED rows, so a read-time `sum(tf)/sum(dl)` per
    * (term, doc_id) cancels deleted documents exactly (all values are
    * exact integer counts in doubles — merge order cannot perturb them,
    * the same fp-exactness rule the stats store relies on); survivors are
    * the rows with merged tf > 0. [[compactPostings]] folds the log.
    * Contract: appended docs are NEW ids (re-ingest = remove + upsert),
    * matching the stats-store contract.
    */
  def createPostings(spark: SparkSession, db: String, name: String,
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): Unit =
    writePostings(spark, db, name, docs, idCol, textCol, overwrite = true)

  /** Append one ingest batch's postings — see [[createPostings]]. */
  def upsertPostings(spark: SparkSession, db: String, name: String,
      newDocs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): Unit =
    writePostings(spark, db, name, newDocs, idCol, textCol, overwrite = false)

  /** Remove documents by appending negated postings (tf and dl sign-
    * flipped) — deletion in the log is ingest with sign flipped, exactly
    * like [[removeBm25Stats]]. Pass the SAME rows deleted from the corpus
    * table. */
  def removePostings(spark: SparkSession, db: String, name: String,
      removedDocs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Unit =
    writePostings(spark, db, name, removedDocs, idCol, textCol,
      overwrite = false, negated = true)

  private def writePostings(spark: SparkSession, db: String, name: String,
      docs: DataFrame, idCol: String, textCol: String, overwrite: Boolean,
      batchId: Long = -1L, negated: Boolean = false): Unit = {
    import org.apache.spark.sql.functions._
    val mode = if (overwrite) "overwrite" else "append"
    val sign = if (negated) -1.0 else 1.0
    val toks = split(col(textCol), " ")
    // tf via explode + count; dl = size of ALL tokens (empty strings
    // included) — the SAME integers the live scorer and the oracle compute
    docs.select(col(idCol).as("doc_id"),
        size(toks).cast("double").as("dl"), explode(toks).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg((count(lit(1)) * sign).cast("double").as("tf"))
      .select(col("term"), col("doc_id"), col("tf"),
        (col("dl") * sign).as("dl"),
        postingsBucket(col("term")).as("bucket"),
        lit(batchId).as("batch_id"))
      // bucket is the probe's pruning axis; batch_id nests inside it so a
      // streaming replay check stays a directory listing (per-bucket dirs).
      // Cluster on bucket before the write — at fixture batch sizes AQE
      // already coalesces the grouped output to one partition, but a
      // production-sized batch spans many tasks and would lay down
      // tasks×buckets files per append (the positions store measured
      // exactly that, `RetrievalScale posmaint`)
      .repartition(col("bucket"))
      .write.mode(mode).partitionBy("bucket", "batch_id")
      .saveAsTable(s"`$db`.`${name}__postings`")
  }

  /** Persisted per-source document counts — the model behind streaming
    * temperature mixing ([[graft.operators.TextAnalysisOps
    * .domainMixTemperature]] fed one micro-batch at a time): rows
    * `(source, n_s, batch_id)`, source-cardinality-sized, watermark in
    * the state's own overwrite (the k-means-model replay discipline).
    */
  def createSourceCounts(spark: SparkSession, db: String, name: String,
      docs: DataFrame): Unit =
    writeSourceCounts(spark, db, name, countsOf(docs), batchId = -1L)

  /** Fold one batch's counts into the store — replay-safe via the stored
    * watermark. */
  def upsertSourceCounts(spark: SparkSession, db: String, name: String,
      batch: DataFrame, batchId: Long): Unit = {
    if (!spark.catalog.tableExists(s"$db.${name}__srccounts")) {
      writeSourceCounts(spark, db, name, countsOf(batch), batchId)
      return
    }
    val stored = spark.table(s"`$db`.`${name}__srccounts`").collect()
    if (stored.nonEmpty && batchId <= stored.head.getLong(2)) return
    // the null-source row is the empty-state watermark sentinel, not a count
    val merged = collection.mutable.HashMap[String, Long](
      stored.filter(!_.isNullAt(0))
        .map(r => r.getString(0) -> r.getLong(1)).toIndexedSeq: _*)
    countsOf(batch).foreach { case (s, n) =>
      merged.update(s, merged.getOrElse(s, 0L) + n)
    }
    writeSourceCounts(spark, db, name, merged.toMap, batchId)
  }

  /** Stored counts → (source → n_s, watermark). */
  private[graft] def readSourceCounts(spark: SparkSession, db: String,
      name: String): (Map[String, Long], Long) = {
    val rows = spark.table(s"`$db`.`${name}__srccounts`").collect()
    (rows.filter(!_.isNullAt(0)).map(r => r.getString(0) -> r.getLong(1)).toMap,
      if (rows.isEmpty) -1L else rows.head.getLong(2))
  }

  private def countsOf(docs: DataFrame): Map[String, Long] = {
    import org.apache.spark.sql.functions._
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_s")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  private def writeSourceCounts(spark: SparkSession, db: String, name: String,
      counts: Map[String, Long], batchId: Long): Unit = {
    // the watermark rides in every row, so an EMPTY state must still carry
    // one — an empty-create followed by a replayed micro-batch would
    // otherwise double-count (the guard reads the batch_id off stored
    // rows). A null-source sentinel row holds it; readers skip null keys.
    val rows =
      if (counts.isEmpty) Seq((null: String, 0L, batchId))
      else counts.toSeq.sorted.map { case (s, n) => (s, n, batchId) }
    spark.createDataFrame(rows)
      .toDF("source", "n_s", "batch_id")
      .write.mode("overwrite").saveAsTable(s"`$db`.`${name}__srccounts`")
  }

  /** Persisted SpaceSaving term sketch — the heavy-hitter statistic
    * ([[graft.plans.SpaceSavingTopK]]) as a MAINTAINED artifact:
    * `{name}__termsketch` holds at most m `(term, count, err, batch_id)`
    * rows. Sketch-sized state with the batch-id watermark written in the
    * SAME overwrite (the k-means-model replay discipline — state and
    * watermark cannot desync). Each refresh aggregates ONLY the batch
    * (one partial-agg'd pass) and folds it into the stored summary with
    * the aggregate's OWN merge method — stream-equals-batch is by
    * construction the same code path Spark's partial aggregation runs.
    */
  def createTermSketch(spark: SparkSession, db: String, name: String,
      docs: DataFrame, m: Int = 256): Unit =
    writeTermSketch(spark, db, name,
      sketchOf(docs, m), batchId = -1L)

  /** Fold one batch into the stored sketch — replay-safe via the stored
    * watermark; see [[createTermSketch]]. A missing store bootstraps from
    * the batch (the [[upsertSourceCounts]] convention), so a streaming
    * feed needs no separate create call.
    */
  def upsertTermSketch(spark: SparkSession, db: String, name: String,
      batch: DataFrame, batchId: Long, m: Int = 256): Unit = {
    import org.apache.spark.sql.functions.col
    if (!spark.catalog.tableExists(s"$db.${name}__termsketch")) {
      writeTermSketch(spark, db, name, sketchOf(batch, m), batchId)
      return
    }
    val stored = spark.table(s"`$db`.`${name}__termsketch`").collect()
    if (stored.nonEmpty && batchId <= stored.head.getLong(3)) return
    // the null-term row is the empty-state watermark sentinel, not an entry
    val sb = scala.collection.mutable.HashMap[String, (Long, Long)](
      stored.filter(!_.isNullAt(0))
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toIndexedSeq: _*)
    val merged = mergeAgg(m).merge(sb, sketchOf(batch, m))
    writeTermSketch(spark, db, name, merged, batchId)
  }

  /** The stored summary's head — (term, n, err) sorted count-first. */
  def heavyHittersStored(spark: SparkSession, db: String, name: String,
      topK: Int = 15): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.table(s"`$db`.`${name}__termsketch`")
      .filter(col("term").isNotNull) // skip the empty-state watermark sentinel
      .select(col("term"), col("count").as("n"), col("err"))
      .orderBy(col("n").desc, col("term").asc)
      .limit(topK)
  }

  private def mergeAgg(m: Int) = graft.plans.SpaceSavingTopK(
    org.apache.spark.sql.catalyst.expressions.BoundReference(
      0, org.apache.spark.sql.types.StringType, nullable = false), m)

  /** One partial-agg'd sketch pass over a doc batch, collected as the
    * aggregate's buffer type (≤ m entries reach the driver). */
  private def sketchOf(docs: DataFrame,
      m: Int): scala.collection.mutable.HashMap[String, (Long, Long)] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    val sketch = toCol(graft.plans.SpaceSavingTopK(
      toExpr(col("term")), m).toAggregateExpression())
    val rows = docs.select(explode(split(col("text"), " ")).as("term"))
      .agg(sketch.as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.term"), col("e.count"), col("e.err")).collect()
    scala.collection.mutable.HashMap(
      rows.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toIndexedSeq: _*)
  }

  private def writeTermSketch(spark: SparkSession, db: String, name: String,
      buf: scala.collection.mutable.HashMap[String, (Long, Long)],
      batchId: Long): Unit = {
    // empty-state watermark sentinel: see writeSourceCounts
    val rows =
      if (buf.isEmpty) Seq((null: String, 0L, 0L, batchId))
      else buf.toSeq.sortBy { case (t, (c, _)) => (-c, t) }
        .map { case (t, (c, e)) => (t, c, e, batchId) }
    spark.createDataFrame(rows)
      .toDF("term", "count", "err", "batch_id")
      .write.mode("overwrite").saveAsTable(s"`$db`.`${name}__termsketch`")
  }

  // ---- maintained DSIR model (target/raw n-gram count store) ----

  /** Persisted DSIR feature-count model
    * ([[graft.operators.MlOps.dsirSelect]] as a MAINTAINED artifact):
    * `{name}__dsirmodel` holds `(f, ct, cr, batch_id)` — per-feature
    * target and raw counts, vocab-sized, with the replay watermark in
    * the SAME overwrite (the k-means-model discipline: state and
    * watermark cannot desync). Counts are INTEGERS, so folds are exact
    * additions — a maintained model equals the one-shot model built on
    * the union of its batches, and the weights served from it face the
    * SAME DuckDB oracle as the live pass. The fold is fully distributed
    * (union → groupBy(f) → sum, eagerly materialized before the
    * overwrite); nothing vocab-sized reaches the driver. At open-web
    * vocabularies, partition the store by a feature-hash bucket and fold
    * per touched bucket (the aggstore discipline) — the fixture store is
    * one overwrite.
    */
  def createDsirModel(spark: SparkSession, db: String, name: String,
      docs: DataFrame, isTarget: org.apache.spark.sql.Column): Unit =
    writeDsirModel(spark, db, name,
      graft.operators.MlOps.dsirModelOf(
        graft.operators.MlOps.dsirPairsOf(docs, isTarget)),
      batchId = -1L)

  /** Fold one batch's counts into the stored model — replay-safe via the
    * row-carried watermark; a missing store bootstraps from the batch
    * (the [[upsertSourceCounts]] convention).
    */
  def upsertDsirModel(spark: SparkSession, db: String, name: String,
      batch: DataFrame, isTarget: org.apache.spark.sql.Column,
      batchId: Long): Unit = {
    import org.apache.spark.sql.functions._
    val batchModel = graft.operators.MlOps.dsirModelOf(
      graft.operators.MlOps.dsirPairsOf(batch, isTarget))
    if (!spark.catalog.tableExists(s"$db.${name}__dsirmodel")) {
      writeDsirModel(spark, db, name, batchModel, batchId)
      return
    }
    val stored = spark.table(s"`$db`.`${name}__dsirmodel`")
    // watermark rides every row (incl. the empty-state sentinel), so one
    // head row answers the replay check
    val wm = stored.select(max(col("batch_id"))).head()
    if (!wm.isNullAt(0) && batchId <= wm.getLong(0)) return
    val merged = stored.filter(col("f").isNotNull)
      .select(col("f"), col("ct"), col("cr"))
      .unionByName(batchModel)
      .groupBy(col("f"))
      .agg(sum(col("ct")).as("ct"), sum(col("cr")).as("cr"))
    writeDsirModel(spark, db, name, merged, batchId)
  }

  /** Stored model → (f, ct, cr), sentinel row dropped. */
  def readDsirModel(spark: SparkSession, db: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.table(s"`$db`.`${name}__dsirmodel`")
      .filter(col("f").isNotNull)
      .select(col("f"), col("ct"), col("cr"))
  }

  private def writeDsirModel(spark: SparkSession, db: String, name: String,
      model: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.functions._
    // materialize BEFORE the overwrite: the merged plan reads the table
    // being replaced (localCheckpoint truncates the lineage — the
    // staging-swap alternative without the second table)
    val rows = model
      .select(col("f"), col("ct").cast("long").as("ct"),
        col("cr").cast("long").as("cr"), lit(batchId).as("batch_id"))
      .localCheckpoint(true)
    val out =
      if (rows.isEmpty)
        // empty-state watermark sentinel: see writeSourceCounts
        spark.createDataFrame(Seq((null: String, 0L, 0L, batchId)))
          .toDF("f", "ct", "cr", "batch_id")
      else rows
    out.write.mode("overwrite").saveAsTable(s"`$db`.`${name}__dsirmodel`")
  }

  // ---- maintained additive aggregate report (incremental mat. view) ----

  /** Maintained groupBy report — the simplest and most-used maintained
    * artifact: an additive (count, micro-exact sum) aggregate at key
    * grain, kept current by folding batches instead of re-scanning the
    * corpus (the incremental-materialized-view capability). The store
    * `{name}__aggstore` is PARTITIONED by a key-hash bucket, so a fold
    * touches only the buckets the batch's keys land in: fold cost ∝
    * batch keys + their buckets' stored rows, never the report — and at
    * 100 TB the report itself is already the small object; the point is
    * never re-paying the corpus scan that built it.
    *
    * Replay safety is PER BUCKET: every row carries the batch id that
    * last rewrote its bucket, and a fold skips buckets already at-or-past
    * the incoming id. Dynamic partition overwrite commits per partition,
    * so a writer dying mid-fold leaves committed buckets (which the
    * replay skips) and uncommitted buckets (which it folds) — exactly
    * once per bucket, no commit log.
    */
  def createAggReport(spark: SparkSession, db: String, name: String,
      rows: DataFrame, keys: Seq[String], valueCol: String,
      buckets: Int = 32, batchId: Long = -1L): Unit = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty && buckets > 0)
    aggPartials(rows, keys, valueCol, buckets)
      .withColumn("__batch_id", lit(batchId))
      .write.mode("overwrite").partitionBy("__bucket")
      .saveAsTable(s"`$db`.`${name}__aggstore`")
    spark.createDataFrame(Seq((buckets, valueCol)))
      .toDF("buckets", "value_col")
      .write.mode("overwrite").saveAsTable(s"`$db`.`${name}__aggmeta`")
  }

  /** One partial-agg'd pass at key grain; sums in exact integer micros. */
  private def aggPartials(rows: DataFrame, keys: Seq[String],
      valueCol: String, buckets: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"),
        sum(round(col(valueCol) * lit(1000000.0)).cast("long")).as("sum_micros"))
      .withColumn("__bucket", pmod(hash(keys.map(col): _*), lit(buckets)))
  }

  /** Fold one batch into the report: aggregate ONLY the batch (tiny), and
    * rewrite only the buckets it touches (partition-pruned read + dynamic
    * partition overwrite; untouched buckets byte-identical, pinned).
    */
  def upsertAggReport(spark: SparkSession, db: String, name: String,
      batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.functions._
    val meta = spark.table(s"`$db`.`${name}__aggmeta`").collect()(0)
    val (buckets, valueCol) = (meta.getInt(0), meta.getString(1))
    val store = s"`$db`.`${name}__aggstore`"
    val keys = spark.table(store).columns
      .filterNot(c => c == "cnt" || c == "sum_micros" ||
        c == "__batch_id" || c == "__bucket").toSeq
    val bp = aggPartials(batch, keys, valueCol, buckets)
      .localCheckpoint(false) // consumed twice: touched-set + the fold
    val touched = bp.select(col("__bucket")).distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return
    // per-bucket watermark: buckets already at-or-past this id were
    // committed by a prior (possibly crashed) fold of the same batch
    val stored = spark.table(store)
      .where(col("__bucket").isin(touched.map(Integer.valueOf).toSeq: _*))
    val bucketWm = stored.groupBy(col("__bucket"))
      .agg(max(col("__batch_id")).as("wm")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val eligible = touched.filter(b => bucketWm.getOrElse(b, -1L) < batchId)
    if (eligible.isEmpty) return
    val elig = eligible.map(Integer.valueOf).toSeq
    val folded = stored.where(col("__bucket").isin(elig: _*))
      .select((keys.map(col) :+ col("cnt") :+ col("sum_micros")): _*)
      .unionByName(bp.where(col("__bucket").isin(elig: _*))
        .select((keys.map(col) :+ col("cnt") :+ col("sum_micros")): _*))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("cnt")).as("cnt"), sum(col("sum_micros")).as("sum_micros"))
      .withColumn("__bucket", pmod(hash(keys.map(col): _*), lit(buckets)))
      .withColumn("__batch_id", lit(batchId))
    overwritePartitions(store, folded)
  }

  /** The report, served from the store: keys + (n, sum_value) — no
    * corpus scan at ask time.
    */
  def serveAggReport(spark: SparkSession, db: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val store = spark.table(s"`$db`.`${name}__aggstore`")
    val keys = store.columns.filterNot(c => c == "cnt" || c == "sum_micros" ||
      c == "__batch_id" || c == "__bucket").toSeq
    store.select((keys.map(col) :+ col("cnt").as("n") :+
      (col("sum_micros").cast("double") / lit(1000000.0)).as("sum_value")): _*)
  }

  /** Persisted per-source q-digest quantile sketches
    * ([[graft.plans.QDigestNodes]]) — per-group distribution statistics
    * as a MAINTAINED artifact: `{name}__qdigest` holds ≤ capacity nodes
    * per source as `(source, node, rmin, rmax, cnt, batch_id)` rows.
    * Sketch-sized state, batch-id watermark in the SAME overwrite (the
    * term-sketch discipline); each refresh digests ONLY the batch (one
    * partial-agg'd pass) and folds it with the sketch's own additive
    * merge — the code path Spark's partial aggregation runs, so
    * stream-equals-batch below saturation is by construction.
    */
  def createQdigestStore(spark: SparkSession, db: String, name: String,
      docs: DataFrame, levels: Int = 10, capacity: Int = 256): Unit =
    writeQdigest(spark, db, name,
      qdigestsOf(docs, levels, capacity), levels, batchId = -1L)

  /** Fold one batch into the stored digests — replay-safe via the stored
    * watermark; a missing store bootstraps from the batch (the
    * source-counts convention, so a streaming feed needs no create).
    */
  def upsertQdigest(spark: SparkSession, db: String, name: String,
      batch: DataFrame, batchId: Long, levels: Int = 10,
      capacity: Int = 256): Unit = {
    if (!spark.catalog.tableExists(s"$db.${name}__qdigest")) {
      writeQdigest(spark, db, name,
        qdigestsOf(batch, levels, capacity), levels, batchId)
      return
    }
    val storedRows = spark.table(s"`$db`.`${name}__qdigest`").collect()
    if (storedRows.nonEmpty && batchId <= storedRows.head.getLong(5)) return
    // stored rows → per-source buffers (key 0 = total, rebuilt from counts)
    val stored = scala.collection.mutable.HashMap.empty[String, graft.plans.QDigest.Buf]
    storedRows.filter(!_.isNullAt(0)).foreach { r =>
      val buf = stored.getOrElseUpdate(r.getString(0), graft.plans.QDigest.empty())
      buf.update(r.getLong(1), r.getLong(4))
      buf.update(0L, buf.getOrElse(0L, 0L) + r.getLong(4))
    }
    qdigestsOf(batch, levels, capacity).foreach { case (src, b) =>
      stored.get(src) match {
        case Some(existing) =>
          graft.plans.QDigest.mergeInto(existing, b, levels, capacity)
        case None => stored.update(src, b)
      }
    }
    writeQdigest(spark, db, name, stored.toMap, levels, batchId)
  }

  /** One partial-agg'd digest pass per source; ≤ groups × capacity node
    * entries reach the driver.
    */
  private def qdigestsOf(docs: DataFrame, levels: Int,
      capacity: Int): Map[String, graft.plans.QDigest.Buf] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    val agg = toCol(graft.plans.QDigestNodes(
      toExpr(col("n_chars")), levels, capacity).toAggregateExpression())
    val rows = docs.groupBy(col("source")).agg(agg.as("nodes"))
      .select(col("source"), explode(col("nodes")).as("e"))
      .select(col("source"), col("e.node"), col("e.cnt")).collect()
    val out = scala.collection.mutable.HashMap.empty[String, graft.plans.QDigest.Buf]
    rows.foreach { r =>
      val buf = out.getOrElseUpdate(r.getString(0), graft.plans.QDigest.empty())
      buf.update(r.getLong(1), r.getLong(2))
      buf.update(0L, buf.getOrElse(0L, 0L) + r.getLong(2))
    }
    out.toMap
  }

  private def writeQdigest(spark: SparkSession, db: String, name: String,
      digests: Map[String, graft.plans.QDigest.Buf], levels: Int,
      batchId: Long): Unit = {
    // empty-state watermark sentinel: see writeSourceCounts
    val rows =
      if (digests.isEmpty) Seq((null: String, 0L, 0L, 0L, 0L, batchId))
      else digests.toSeq.sortBy(_._1).flatMap { case (src, buf) =>
        buf.toSeq.filter(_._1 != 0L).sortBy(_._1).map { case (node, cnt) =>
          val (rmin, rmax) = graft.plans.QDigest.rangeOf(levels, node)
          (src, node, rmin, rmax, cnt, batchId)
        }
      }
    spark.createDataFrame(rows)
      .toDF("source", "node", "rmin", "rmax", "cnt", "batch_id")
      .write.mode("overwrite").saveAsTable(s"`$db`.`${name}__qdigest`")
  }

  /** Persisted k-means centroid model — the learned blocking quantizer
    * (semantic dedup's cells, IVF's coarse layer) promoted to a
    * MAINTAINED artifact so a growing corpus refreshes it with
    * mini-batches instead of retraining on the full history.
    *
    * `{name}__kmeans`: one row per cell `(cell, centroid, n, batch_id)` —
    * model-sized (k rows), so reads/writes are trivially cheap; the
    * corpus-scale work stays in the one assignment + [[graft.plans
    * .VecSumCount]] pass per call. `batch_id` doubles as the replay
    * watermark: the model is a FOLD state, and writing state + watermark
    * as ONE overwrite makes the update atomic for at-least-once feeds —
    * no separate commit table can desync from the model it guards.
    *
    * Create trains the deterministic seeded Lloyd iterations
    * ([[graft.operators.KnnOps.kmeansCentroids]]); [[upsertKmeansModel]]
    * applies one Sculley-2010 mini-batch step: assign the batch to the
    * STORED centroids, then per cell `c' = (c·n + Σbatch) / (n + m)` —
    * the count-weighted running mean, so a replayed or empty cell is a
    * no-op and counts always sum to rows ingested.
    */
  def createKmeansModel(spark: SparkSession, db: String, name: String,
      emb: DataFrame, kCells: Int, iters: Int = 3): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    import graft.operators.KnnOps
    emb.cache() // cache-train-unpersist: see createIvfCollection
    val cents = try KnnOps.kmeansCentroids(emb, kCells, iters)
      finally emb.unpersist()
    val dim = cents.length / kCells
    val assign = toCol(graft.plans.NearestCentroid(
      toExpr(col("embedding")), cents.toSeq, kCells))
    val counts = emb.select(assign.as("cell"))
      .groupBy(col("cell")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // watermark -1: streaming feeds start at micro-batch 0, which must
    // NOT be mistaken for already-applied
    writeKmeansModel(spark, db, name, kCells, dim, cents,
      Array.tabulate(kCells)(c => counts.getOrElse(c, 0L)), batchId = -1L)
  }

  /** One mini-batch model refresh — count-weighted running mean per cell
    * (see [[createKmeansModel]]). `batchId` is the replay watermark:
    * batches at or below the stored one no-op. Centroids move, stored
    * CELL ASSIGNMENTS do not — like every IVF deployment, assignment
    * drift is reconciled at the next rebuild/compaction, and the probe
    * keeps working against the cells rows were filed under.
    */
  def upsertKmeansModel(spark: SparkSession, db: String, name: String,
      batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    val (cents, counts, kCells, dim, storedBatch) = readKmeansModel(spark, db, name)
    if (batchId <= storedBatch) return
    val assign = toCol(graft.plans.NearestCentroid(
      toExpr(col("embedding")), cents.toSeq, kCells))
    val sumCount = toCol(graft.plans.VecSumCount(
      toExpr(col("embedding"))).toAggregateExpression())
    val next = cents.clone(); val nextN = counts.clone()
    batch.select(assign.as("cell"), col("embedding"))
      .groupBy(col("cell")).agg(sumCount.as("sc"))
      .select(col("cell"), col("sc.sums"), col("sc.n"))
      .collect()
      .foreach { r =>
        val cell = r.getInt(0); val s = r.getSeq[Double](1); val m = r.getLong(2)
        val n = counts(cell)
        var i = 0
        while (i < dim) {
          next(cell * dim + i) = (cents(cell * dim + i) * n + s(i)) / (n + m)
          i += 1
        }
        nextN(cell) = n + m
      }
    writeKmeansModel(spark, db, name, kCells, dim, next, nextN, batchId)
  }

  /** Stored model → (flat centroids, per-cell counts, k, dim, batch_id). */
  private[graft] def readKmeansModel(spark: SparkSession, db: String,
      name: String): (Array[Double], Array[Long], Int, Int, Long) = {
    import org.apache.spark.sql.functions.col
    val rows = spark.table(s"`$db`.`${name}__kmeans`")
      .orderBy(col("cell").asc).collect()
    val k = rows.length
    val dim = rows.head.getSeq[Double](1).length
    val cents = new Array[Double](k * dim)
    val counts = new Array[Long](k)
    rows.foreach { r =>
      val c = r.getInt(0)
      val v = r.getSeq[Double](1)
      var i = 0; while (i < dim) { cents(c * dim + i) = v(i); i += 1 }
      counts(c) = r.getLong(2)
    }
    (cents, counts, k, dim, rows.head.getLong(3))
  }

  private def writeKmeansModel(spark: SparkSession, db: String, name: String,
      kCells: Int, dim: Int, cents: Array[Double], counts: Array[Long],
      batchId: Long): Unit = {
    val rows = (0 until kCells).map { c =>
      (c, cents.slice(c * dim, (c + 1) * dim).toSeq, counts(c), batchId)
    }
    spark.createDataFrame(rows)
      .toDF("cell", "centroid", "n", "batch_id")
      .write.mode("overwrite").saveAsTable(s"`$db`.`${name}__kmeans`")
  }

  /** Positional postings — the phrase-query artifact: one row per token
    * OCCURRENCE `(term, doc_id, pos, sign)`, partitioned by the same
    * term-hash `bucket` as [[createPostings]] so a phrase probe prunes to
    * its terms' directories and then its terms' row groups. Positions are
    * 0-based token offsets under the corpus tokenizer (space split), the
    * same integers the live phrase scan and the DuckDB oracle derive.
    *
    * Log-structured like the tf postings, but occurrences carry no
    * summable payload, so deletion cancels by ROW IDENTITY instead of
    * sign-flipped sums: [[removePositions]] appends `sign = -1` twins and
    * a read-time `sum(sign) > 0` per (term, doc_id, pos) keeps exactly
    * the live occurrences. Contract: appended docs are NEW ids
    * (re-ingest = remove + upsert), matching the postings contract.
    *
    * Ref: the reference's SDK searches bag-of-words + vectors only
    * (`TencentVDB.py:45-98`); positional phrase probes are the standard
    * third index every lexical engine adds (Lucene PhraseQuery).
    */
  def createPositions(spark: SparkSession, db: String, name: String,
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): Unit =
    writePositions(spark, db, name, docs, idCol, textCol, overwrite = true)

  /** Append one ingest batch's position rows — see [[createPositions]]. */
  def upsertPositions(spark: SparkSession, db: String, name: String,
      newDocs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): Unit =
    writePositions(spark, db, name, newDocs, idCol, textCol, overwrite = false)

  /** Remove documents by appending `sign = -1` occurrence twins — pass
    * the SAME rows deleted from the corpus table. */
  def removePositions(spark: SparkSession, db: String, name: String,
      removedDocs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Unit =
    writePositions(spark, db, name, removedDocs, idCol, textCol,
      overwrite = false, negated = true)

  private def writePositions(spark: SparkSession, db: String, name: String,
      docs: DataFrame, idCol: String, textCol: String,
      overwrite: Boolean, batchId: Long = -1L, negated: Boolean = false): Unit = {
    import org.apache.spark.sql.functions._
    val mode = if (overwrite) "overwrite" else "append"
    val sign = if (negated) -1L else 1L
    docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "term")))
      .select(col("term"), col("doc_id"), col("pos").cast("long").as("pos"),
        lit(sign).as("sign"), postingsBucket(col("term")).as("bucket"),
        lit(batchId).as("batch_id"))
      // cluster on the partition column before the write: without this,
      // EVERY task holds rows of EVERY bucket and each append lays down
      // tasks×buckets files — measured 2,000 files per micro-batch,
      // 127k files and a 5.7× probe slowdown by 64 batches
      // (`RetrievalScale posmaint`); clustered, an append is ≤ 1 file per
      // touched bucket
      .repartition(col("bucket"))
      .write.mode(mode).partitionBy("bucket", "batch_id")
      .saveAsTable(s"`$db`.`${name}__positions`")
  }

  /** One micro-batch of streaming positional-index maintenance —
    * replay-safe under foreachBatch's at-least-once contract with the
    * identical two-layer design as [[postingsIncrementalBatch]]: commit
    * watermark first, then a `batch_id` partition-existence check makes
    * the append itself idempotent.
    */
  def positionsIncrementalBatch(batch: DataFrame, db: String, name: String,
      batchId: Long, idCol: String = "doc_id", textCol: String = "text"): Unit = {
    import org.apache.spark.sql.functions._
    val spark = batch.sparkSession
    val commitsName = s"${name}__poscommits"
    if (spark.catalog.tableExists(s"$db.$commitsName")) {
      val r = spark.table(s"`$db`.`$commitsName`")
        .agg(max(col("batch_id"))).head()
      if (!r.isNullAt(0) && batchId <= r.getLong(0)) return
    }
    val alreadyAppended =
      spark.catalog.tableExists(s"$db.${name}__positions") &&
        !spark.table(s"`$db`.`${name}__positions`")
          .filter(col("batch_id") === batchId).limit(1).isEmpty
    if (!alreadyAppended)
      writePositions(spark, db, name, batch, idCol, textCol,
        overwrite = false, batchId = batchId)
    spark.createDataFrame(Seq(Tuple1(batchId))).toDF("batch_id")
      .write.mode("overwrite").saveAsTable(s"`$db`.`$commitsName`")
  }

  /** Fold the positional log to the live occurrence set: per
    * (term, doc_id, pos) the signed multiplicity is summed, cancelled
    * occurrences drop, survivors rewrite with `sign = 1` (a multiplicity
    * above 1 is impossible under the new-ids ingest contract — one
    * occurrence row per position per live ingest). Same staging-table
    * swap + MAX-batch_id watermark convention as [[compactPostings]];
    * probe results are unchanged because the read-time merge IS this
    * fold. */
  def compactPositions(spark: SparkSession, db: String, name: String): Unit = {
    import org.apache.spark.sql.functions._
    val t = s"${name}__positions"
    val maxRow = spark.table(s"`$db`.`$t`").agg(max(col("batch_id"))).head()
    if (maxRow.isNullAt(0)) return // empty log: nothing to fold
    val maxBatch = maxRow.getLong(0)
    val staging = s"`$db`.`__${t}_compact_staging`"
    spark.table(s"`$db`.`$t`")
      .groupBy(col("term"), col("doc_id"), col("pos"))
      .agg(sum(col("sign")).as("mult"))
      .filter(col("mult") > 0L)
      .select(col("term"), col("doc_id"), col("pos"), lit(1L).as("sign"),
        postingsBucket(col("term")).as("bucket"), lit(maxBatch).as("batch_id"))
      .write.mode("overwrite").saveAsTable(staging)
    try spark.table(staging).repartition(col("bucket"))
      .write.mode("overwrite")
      .partitionBy("bucket", "batch_id").saveAsTable(s"`$db`.`$t`")
    finally spark.sql(s"DROP TABLE IF EXISTS $staging")
  }

  /** One micro-batch of streaming postings maintenance — replay-safe
    * under foreachBatch's at-least-once contract with the same two-layer
    * design as [[bm25StatsIncrementalBatch]]: a 1-row commit watermark
    * no-ops fully committed batches, and the append itself is idempotent
    * because `batch_id` is a PARTITION value — "already appended" is a
    * partition-existence check, no data scan.
    */
  def postingsIncrementalBatch(batch: DataFrame, db: String, name: String,
      batchId: Long, idCol: String = "doc_id", textCol: String = "text"): Unit = {
    import org.apache.spark.sql.functions._
    val spark = batch.sparkSession
    val commitsName = s"${name}__postcommits"
    if (spark.catalog.tableExists(s"$db.$commitsName")) {
      val r = spark.table(s"`$db`.`$commitsName`")
        .agg(max(col("batch_id"))).head()
      if (!r.isNullAt(0) && batchId <= r.getLong(0)) return
    }
    val alreadyAppended =
      spark.catalog.tableExists(s"$db.${name}__postings") &&
        !spark.table(s"`$db`.`${name}__postings`")
          .filter(col("batch_id") === batchId).limit(1).isEmpty
    if (!alreadyAppended)
      writePostings(spark, db, name, batch, idCol, textCol,
        overwrite = false, batchId = batchId)
    spark.createDataFrame(Seq(Tuple1(batchId))).toDF("batch_id")
      .write.mode("overwrite").saveAsTable(s"`$db`.`$commitsName`")
  }

  /** Fold the postings log to one row per live (term, doc_id): merged
    * tf/dl sums, cancelled (deleted) rows dropped. Same staging-table
    * swap as [[compactBm25Stats]]; the merged rows keep the MAX folded
    * batch_id so the streaming watermark ordering survives. Probe results
    * are unchanged — the merge the probe does at read time is exactly the
    * fold. */
  def compactPostings(spark: SparkSession, db: String, name: String): Unit = {
    import org.apache.spark.sql.functions._
    val t = s"${name}__postings"
    val maxRow = spark.table(s"`$db`.`$t`").agg(max(col("batch_id"))).head()
    if (maxRow.isNullAt(0)) return // empty log: nothing to fold
    val maxBatch = maxRow.getLong(0)
    val staging = s"`$db`.`__${t}_compact_staging`"
    spark.table(s"`$db`.`$t`")
      .groupBy(col("term"), col("doc_id"))
      .agg(sum(col("tf")).as("tf"), sum(col("dl")).as("dl"))
      .filter(col("tf") =!= 0.0)
      .select(col("term"), col("doc_id"), col("tf"), col("dl"),
        postingsBucket(col("term")).as("bucket"),
        lit(maxBatch).as("batch_id"))
      .write.mode("overwrite").saveAsTable(staging)
    try spark.table(staging).repartition(col("bucket"))
      .write.mode("overwrite")
      .partitionBy("bucket", "batch_id").saveAsTable(s"`$db`.`$t`")
    finally spark.sql(s"DROP TABLE IF EXISTS $staging")
  }

  /** Fold the streaming substring-dedup/trim window-hash store
    * (`{name}__winhashes`, written by [[graft.operators.DedupOps
    * .substringIncrementalBatch]] / `substringTrimIncrementalBatch`)
    * from its one-file-set-per-micro-batch append log down to
    * `filesPerPartition` files. The appends are anti-joined so the store
    * already holds ONE row per hash; the fold is therefore a layout
    * rewrite, with `min(owner_id)` making it deterministic should a
    * violated invariant ever hand it two rows — and since the anti-join
    * keeps only the first writer's row, first-writer ownership survives
    * the fold unchanged. Same staging-table swap as [[compactPostings]];
    * probe decisions are unchanged pre/post (pinned in StreamingSpec,
    * measured in [[graft.DedupScale]] `winmaint`).
    */
  def compactWinhashes(spark: SparkSession, db: String, name: String,
      filesPerPartition: Int = 1): Unit = {
    import org.apache.spark.sql.functions._
    require(filesPerPartition >= 1, s"filesPerPartition must be ≥ 1")
    val t = s"${name}__winhashes"
    if (!spark.catalog.tableExists(s"$db.$t")) return
    val staging = s"`$db`.`__${t}_compact_staging`"
    spark.table(s"`$db`.`$t`")
      .groupBy(col("wh")).agg(min(col("owner_id")).as("owner_id"))
      .repartition(filesPerPartition)
      .write.mode("overwrite").saveAsTable(staging)
    try spark.table(staging).write.mode("overwrite").saveAsTable(s"`$db`.`$t`")
    finally spark.sql(s"DROP TABLE IF EXISTS $staging")
    // the pre-swap file listing may be cached; the next micro-batch's
    // probe must read the compacted layout
    spark.catalog.refreshTable(s"`$db`.`$t`")
  }

  /** Fold the streaming sequence-packing offset log (`{name}__packlog`,
    * one (shard, delta_tokens, batch_id) row per touched shard per batch
    * — [[graft.operators.TextAnalysisOps.packingIncrementalBatch]]).
    * Only rows AT OR BELOW the commit watermark fold (into one summed
    * row per shard carrying the watermark's batch_id); rows above it —
    * a batch mid-crash-window — stay untouched, so a replay of that
    * batch still reads exactly the state it read originally
    * (`batch_id < bid` sees the folded committed prefix, bid > watermark
    * by construction). Same staging swap as [[compactBm25Stats]].
    */
  def compactPacklog(spark: SparkSession, db: String, name: String): Unit = {
    import org.apache.spark.sql.functions._
    val t = s"${name}__packlog"
    if (!spark.catalog.tableExists(s"$db.$t")) return
    val commits = s"$db.${name}__commits"
    if (!spark.catalog.tableExists(commits)) return // nothing provably committed
    val r = spark.table(s"`$db`.`${name}__commits`").agg(max(col("batch_id"))).head()
    if (r.isNullAt(0)) return
    val watermark = r.getLong(0)
    val log = spark.table(s"`$db`.`$t`")
    val folded = log.filter(col("batch_id") <= watermark)
      .groupBy(col("shard")).agg(sum(col("delta_tokens")).as("delta_tokens"))
      .withColumn("batch_id", lit(watermark))
      .unionByName(log.filter(col("batch_id") > watermark))
    val staging = s"`$db`.`__${t}_compact_staging`"
    folded.write.mode("overwrite").saveAsTable(staging)
    try spark.table(staging).write.mode("overwrite").saveAsTable(s"`$db`.`$t`")
    finally spark.sql(s"DROP TABLE IF EXISTS $staging")
    spark.catalog.refreshTable(s"`$db`.`$t`")
  }

  /** VERIFIED SHARDED EXPORT (`q_export_verified`, r17) — the write
    * stage q_shard_assign only PLANS: documents land in a
    * shard-partitioned collection (content-addressed md5-nibble shard,
    * `partitionBy` → one directory per shard, the layout trainer
    * workers read in parallel), and the manifest is computed FROM THE
    * WRITTEN TABLE, not from the input — write-then-verify, so a lost
    * row, a double-write, or a corrupted text surfaces as a manifest
    * mismatch against the closed-form oracle. Per shard: doc/token/byte
    * totals, id range, and an order-free content checksum —
    * `bit_xor` over a 48-bit value drawn from md5(doc_id ':' md5(text))
    * — covering both membership AND bytes (XOR is the associative,
    * overflow-free fold that survives any corpus size; a sum checksum
    * overflows BIGINT near 10^12 docs).
    *
    * Scale: with `repartitionTasks = 0` (the fixture default) the write
    * is `repartition`-free — at local[32] every task may open all 16
    * shard directories (small-files behavior, harmless at fixture
    * scale). At 100 TB pass `repartitionTasks > 0`: the write is then
    * preceded by `repartition(n, col("shard"))` so each task writes
    * into exactly one shard directory — same manifest bit-for-bit
    * (ExportSpec pins it), one file per shard per task instead of
    * shards × tasks files. The manifest pass is ONE scan of the written
    * table with a 16-row exchange — the deliberate verification cost
    * (footer-only counts are free via [[describeCollection]], but only
    * a scan can checksum content).
    */
  def exportShardedVerified(spark: SparkSession, db: String, name: String,
      docs: DataFrame, repartitionTasks: Int = 0): DataFrame = this.synchronized {
    // the whole drop → write → manifest-scan sequence runs under the
    // fixture builders' this.synchronized discipline, and the manifest
    // localCheckpoints (16 rows) before the lock releases — a concurrent
    // or interrupted re-export can no longer race the scan into a
    // spurious mismatch or serve a half-dropped table (ADVICE r17)
    import org.apache.spark.sql.functions._
    createDatabase(spark, db)
    graft.operators.KnnOps.dropTableAndDir(spark, db, name)
    val sharded = docs.select(col("doc_id"), col("text"))
      .withColumn("shard", exportShardCol)
    (if (repartitionTasks > 0)
       sharded.repartition(repartitionTasks, col("shard"))
     else sharded)
      .write.mode("overwrite").partitionBy("shard")
      .saveAsTable(s"`$db`.`$name`")
    manifestAggOf(spark.table(s"`$db`.`$name`"))
      .orderBy(col("shard").asc)
      .localCheckpoint()
  }

  /** The content-addressed shard draw shared by every export surface:
    * last md5 nibble of the doc id — 16 balanced shards, closed-form on
    * the oracle side.
    */
  private[graft] def exportShardCol: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    (expr("instr('0123456789abcdef', " +
      "substring(md5(cast(doc_id as string)), 32, 1))") - 1L).cast("long")
  }

  /** The per-shard manifest aggregate over any (shard, doc_id, text)
    * frame — doc/token/byte totals, id range, and the 48-bit
    * md5-draw bit_xor content checksum. ONE implementation (r18 review):
    * the batch export, the incremental batch's partials, and the stream
    * serve's written-table scan must stay bit-identical to each other
    * AND to the SQL oracle — a drift in any copy would fire the serve's
    * reconciliation require() as a spurious corruption, or silently
    * diverge engine from oracle.
    */
  private[graft] def manifestAggOf(rows: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    rows.select(col("shard").cast("long").as("shard"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        length(col("text")).cast("long").as("n_bytes"),
        expr("cast(conv(substring(md5(concat(cast(doc_id as string), " +
          "':', md5(text))), 1, 12), 16, 10) as bigint)").as("ck"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_bytes")).as("n_bytes"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        expr("bit_xor(ck)").as("checksum"))
  }

  /** One micro-batch of the STREAMING verified export (r18 — VERDICT
    * task 1: stream-in → verified-shards-out, the shape of a live
    * ingest): the batch's documents land in the shard-partitioned
    * collection `{db}.{name}` via an IDEMPOTENT dynamic partition
    * overwrite of exactly this batch's `(shard, batch_id)` partitions —
    * a replayed batch rewrites the same bytes instead of appending
    * duplicates, which is what makes the write side crash-atomic
    * without any transaction log. The caller then appends the batch's
    * manifest partials (computed FROM THE INPUT, pre-write) to
    * `{name}__manifestlog` — docs-then-log order, so every crash window
    * replays to a reconciled state:
    *
    *   - crash after docs, before log → replay rewrites the same
    *     partitions (no-op by idempotence) and appends the log row once;
    *   - crash after log → the replay guard (batch_id present in the
    *     log) skips both.
    *
    * Scale: the write is a map-side projection + partitioned append
    * (one batch's data, never the collection); the partials row set is
    * a ≤ 16-row aggregate of the batch. Per-batch `(shard, batch_id)`
    * partitioning is the streaming layout — a periodic
    * [[compactWinhashes]]-style fold can rewrite old batches into one
    * directory per shard once their batches age out of the replay
    * window (the trainer reads prune on `shard` either way).
    */
  def exportIncrementalBatch(spark: SparkSession, db: String, name: String,
      docs: DataFrame, batchId: Long, repartitionTasks: Int = 0): DataFrame = {
    import org.apache.spark.sql.functions._
    // repartitionTasks > 0 bounds the batch's file fan-out exactly like
    // the batch export's knob: without it every task opens every shard
    // directory (tasks × shards files PER BATCH — measured 8192 files
    // at 16 batches on local[32], `graft.ExportScale`); with it each
    // task writes one directory, one file per (shard, batch)
    // localCheckpoint once: the batch feeds TWO consumers (the docs
    // write and the partials aggregate) — without it the source
    // lineage, including the optional repartition exchange, would run
    // twice per micro-batch (r18 review)
    val keyed = docs.select(col("doc_id"), col("text"))
      .withColumn("shard", exportShardCol)
      .withColumn("batch_id", lit(batchId))
      .localCheckpoint()
    val batch =
      if (repartitionTasks > 0) keyed.repartition(repartitionTasks, col("shard"))
      else keyed
    if (!spark.catalog.tableExists(s"$db.$name")) {
      createDatabase(spark, db)
      batch.write.partitionBy("shard", "batch_id")
        .saveAsTable(s"`$db`.`$name`")
    } else overwritePartitions(s"`$db`.`$name`", batch)
    // the manifest partials THIS batch believes it wrote — n/min/max/xor
    // are all associative, so the serve folds the log exactly; computed
    // from the pre-repartition checkpoint (the ≤16-row aggregate needs
    // no shard co-location)
    manifestAggOf(keyed).localCheckpoint()
  }

  /** The one partition-scoped rewrite: replace exactly the partitions of
    * `table` that `rows` holds, leave every other partition's files
    * untouched, then drop the `drop` partitions (full partition tuples in
    * the table's partition-column order, raw values, null allowed) —
    * dynamic overwrite cannot express an emptied partition. Insert, then
    * drop, then refresh `table` in the caller's session.
    *
    * `rows` may read `table` itself: a dynamic overwrite commits each
    * partition after its write job has read everything. Only an
    * unpartitioned table is overwritten whole, and that overwrite deletes
    * the files before the job runs, so those rows are checkpointed first.
    *
    * Dynamic mode must ride the session conf (insertInto ignores the
    * writer option on a catalog table — measured as static semantics
    * wiping every other partition), but setting it on the SHARED conf
    * leaks it to any concurrent writer and two overlapping set/restores
    * can strand a stale value (ADVICE r18). A cloned session shares the
    * SparkContext and catalog and copies the caller's conf and listeners,
    * but owns that copy, so the mode is scoped to this one write; the
    * rows re-bind to the clone through their RDD.
    * Drops go through the catalog API with the values' own string form
    * and no SQL literal, so a `\`, a `'` or a null in a value still names
    * its partition.
    */
  private[graft] def overwritePartitions(table: String, rows: DataFrame,
      drop: Seq[Seq[Any]] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    val spark = rows.sparkSession
    // insertInto is positional: project to the table's column order
    val projected = rows.select(spark.table(table).columns.toIndexedSeq.map(col): _*)
    val src =
      if (partitionColumns(spark, table).isEmpty) projected.localCheckpoint()
      else projected
    val s2 = org.apache.spark.sql.graftbridge.SessionBridge.cloneSession(spark)
    s2.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // written nullable, as the catalog declares every column: a file's
    // layout then never depends on which plan produced its rows
    s2.createDataFrame(src.rdd, src.schema.toNullable)
      .write.mode("overwrite").insertInto(table)
    if (drop.nonEmpty) dropPartitions(spark, table, drop) // refreshes
    else spark.catalog.refreshTable(table)
  }

  /** Drop partitions of `table` given as full tuples of raw values (see
    * [[overwritePartitions]]), absent ones ignored, then refresh it; no
    * specs, no catalog call. */
  private[graft] def dropPartitions(spark: SparkSession, table: String,
      specs: Seq[Seq[Any]]): Unit = if (specs.nonEmpty) {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.StringType
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    // the catalog keys a partition by the string the writer cast its value to
    def str(v: Any): String =
      if (v == null) null else Cast(Literal(v), StringType, tz).eval().toString
    val cols = partitionColumns(spark, table)
    spark.sessionState.catalog.dropPartitions(
      spark.sessionState.sqlParser.parseTableIdentifier(table),
      specs.map(vs => cols.zip(vs.map(str)).toMap),
      ignoreIfNotExists = true, purge = false, retainData = false)
    spark.catalog.refreshTable(table)
  }

  private def partitionColumns(spark: SparkSession, table: String): Seq[String] =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).partitionColumnNames

  /** Fold the streaming export's per-batch partitions (r18): a live
    * ingest accretes one `(shard, batch_id)` partition set per
    * micro-batch — correct (the batch grain is what makes replays
    * idempotent) but small-files-shaped over time. This maintenance
    * fold rewrites every COMMITTED batch (batch_id present in the
    * manifest log — those are exactly the batches the replay guard
    * skips, so their partitions never rewrite again) into the
    * watermark batch's partitions, one file per shard, while any
    * mid-crash-window batch (docs written, log row missing) keeps its
    * own partitions untouched so its replay still overwrites exactly
    * what it originally wrote. Row set, manifest, and checksum are
    * unchanged by construction ([[exportVerifiedStreamServe]] serves
    * identical bytes pre/post — ExportSpec pins it, replay storm
    * included).
    *
    * CRASH-ATOMIC, unlike the plain [[compactWinhashes]] staging swap
    * (r18 review: this table is the PRIMARY exported corpus, not a
    * rebuildable derived store — a crash mid-rewrite must not lose
    * committed data). Staging holds ONLY the folded rows re-keyed to
    * the watermark batch, and a `__compact_ready` marker written AFTER
    * it makes completeness provable: marker present → staging is
    * whole, so entry (or the next compaction) FINISHES the target
    * rewrite; staging without marker → an incomplete fold, discarded
    * untouched-target. The finish step is PARTITION-SCOPED (ADVICE
    * r18: the old full-table overwrite raced live ingest — a batch
    * committed between the fold snapshot and the rewrite was wiped,
    * and its log row then blocked re-landing forever): a dynamic
    * partition overwrite lands the folded rows in exactly the
    * `(shard, watermark)` partitions, then the folded batches'
    * ORIGINAL partitions drop one `(shard, batch_id)` spec at a time —
    * a batch landing concurrently under a NEW batch_id is never
    * touched, so compaction is safe to run beside live ingest of the
    * same export (just not beside another compaction of it — the
    * fixture builders' synchronized discipline). Every crash point
    * between fold, marker, overwrite, drops, and cleanup replays to a
    * reconciled state; mid-finish the target transiently holds folded
    * + original copies, which is why [[exportVerifiedStreamServe]]
    * refuses to serve while a marker is present.
    */
  def compactExportShards(spark: SparkSession, db: String,
      name: String): Unit = {
    import org.apache.spark.sql.functions._
    val staging = s"`$db`.`__${name}_compact_staging`"
    val ready = s"`$db`.`__${name}_compact_ready`"
    // recovery BEFORE the normal path: a surviving marker proves a
    // complete staged fold whose target rewrite may have died mid-way
    if (spark.catalog.tableExists(s"$db.__${name}_compact_ready")) {
      finishExportCompaction(spark, db, name)
    } else if (spark.catalog.tableExists(s"$db.__${name}_compact_staging")) {
      // fold died before its marker: staging may be partial; the
      // target was never touched — discard and refold below
      spark.sql(s"DROP TABLE IF EXISTS $staging")
    }
    if (!spark.catalog.tableExists(s"$db.$name") ||
        !spark.catalog.tableExists(s"$db.${name}__manifestlog")) return
    val loggedIds = spark.table(s"`$db`.`${name}__manifestlog`")
      .select(col("batch_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    // a PRIOR compactBatchLog may have folded old log rows away — those
    // ids are committed too (the replay guard's wm semantics), so fold
    // their docs partitions as well; batchCommitted's invariant (an
    // uncommitted id exceeds every committed id) keeps this safe
    val logWm: Option[Long] =
      if (spark.catalog.tableExists(s"$db.${name}__manifestlog__wm")) {
        val r = spark.table(s"`$db`.`${name}__manifestlog__wm`")
          .agg(max(col("watermark"))).head()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      } else None
    val docs = spark.table(s"`$db`.`$name`")
    val docIds = docs.select(col("batch_id")).distinct()
      .collect().map(_.getLong(0))
    val committedIds = (docIds.filter(id => logWm.exists(id <= _))
      ++ docIds.filter(loggedIds.contains)).distinct.sorted
    if (committedIds.isEmpty) return
    val watermark = committedIds.last
    // staging = the committed rows ONLY, re-keyed to the watermark;
    // uncommitted (mid-crash-window) batches stay out of staging and
    // out of the drop set, so their partitions survive untouched
    val folded = docs.filter(col("batch_id").isin(committedIds: _*))
      .withColumn("batch_id", lit(watermark))
      .select(col("doc_id"), col("text"), col("shard"), col("batch_id"))
      .repartition(16, col("shard"))
    folded.write.mode("overwrite").saveAsTable(staging)
    // marker LAST: its presence proves the staging write completed, and
    // its CONTENT is the WAL metadata — the original batch ids the fold
    // consumed (exactly the partitions the finish step must drop)
    spark.createDataFrame(committedIds.map(Tuple1(_)).toIndexedSeq)
      .toDF("folded_batch_id")
      .coalesce(1).write.mode("overwrite").saveAsTable(ready)
    finishExportCompaction(spark, db, name)
  }

  /** Complete a staged export compaction, partition-scoped: land the
    * folded rows via dynamic overwrite of their own `(shard,
    * watermark)` partitions, then drop the folded batches' original
    * partitions (recorded in the marker). Batches that landed after
    * the fold keep their partitions — staging never saw them and the
    * drop set never names them. Idempotent — a crash anywhere inside
    * replays from the top on the next [[compactExportShards]] call
    * (the overwrite rewrites identical bytes, the drops are
    * IF EXISTS). Errors propagate (ADVICE r18: the old version
    * swallowed NonFatal and could destructively proceed on a
    * transient read failure) — compaction is safely retryable from
    * the top.
    */
  private def finishExportCompaction(spark: SparkSession, db: String,
      name: String): Unit = {
    import org.apache.spark.sql.functions._
    val staging = s"`$db`.`__${name}_compact_staging`"
    val ready = s"`$db`.`__${name}_compact_ready`"
    val staged = spark.table(staging)
    val foldedIds = spark.table(ready)
      .select(col("folded_batch_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    val watermark = foldedIds.last
    if (!spark.catalog.tableExists(s"$db.$name")) {
      // the scoped finish never drops the target, but a marker can
      // outlive an EXTERNAL drop of it — recreate from the write-ahead
      // copy (committed data; there is nothing else left to preserve)
      staged.write.partitionBy("shard", "batch_id")
        .saveAsTable(s"`$db`.`$name`")
    } else {
      overwritePartitions(s"`$db`.`$name`", staged,
        for (id <- foldedIds.filter(_ != watermark); s <- 0 until 16) yield Seq(s, id))
    }
    spark.sql(s"DROP TABLE IF EXISTS $ready")
    spark.sql(s"DROP TABLE IF EXISTS $staging")
  }

  /** Append one batch's per-shard partial rows to the append-only
    * batch log `{logName}`, stamping `batch_id`. Creates the log
    * PARTITIONED BY batch_id so [[compactBatchLog]] can later fold old
    * batches partition-scoped (safe beside live ingest of new
    * batches); appends to an existing log in its own layout either
    * way. One call per committed micro-batch — log-row presence IS the
    * batch's commit record ([[batchCommitted]]).
    */
  def appendBatchLog(spark: SparkSession, db: String, logName: String,
      partials: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.functions._
    val rows = partials.withColumn("batch_id", lit(batchId))
    if (!spark.catalog.tableExists(s"$db.$logName")) {
      createDatabase(spark, db)
      rows.write.partitionBy("batch_id").saveAsTable(s"`$db`.`$logName`")
    } else {
      // saveAsTable(append) demands the declared partitioning MATCH the
      // table's — re-declare it for the partitioned layout this helper
      // creates, omit it for a legacy unpartitioned log
      val partitioned = spark.catalog.listColumns(s"$db.$logName")
        .collect().exists(c => c.name == "batch_id" && c.isPartition)
      val w = rows.write.mode("append")
      (if (partitioned) w.partitionBy("batch_id") else w)
        .saveAsTable(s"`$db`.`$logName`")
    }
  }

  /** The streaming replay guard over a (possibly compacted) batch log:
    * a batch is committed iff its id sits at or under the log's
    * compaction watermark (`{logName}__wm` — the ids
    * [[compactBatchLog]] folded away) OR its log row is present.
    * Sound under the single-sequential-writer discipline every stream
    * here runs: an uncommitted (mid-crash-window) batch id is always
    * GREATER than every committed id at the moment it crashed — its
    * failure stops the query before any later batch can commit — so no
    * watermark ever covers an id whose replay must still run.
    */
  def batchCommitted(spark: SparkSession, db: String, logName: String,
      batchId: Long): Boolean = {
    import org.apache.spark.sql.functions._
    if (!spark.catalog.tableExists(s"$db.$logName")) return false
    val folded = spark.catalog.tableExists(s"$db.${logName}__wm") && {
      val r = spark.table(s"`$db`.`${logName}__wm`")
        .agg(max(col("watermark"))).head()
      !r.isNullAt(0) && batchId <= r.getLong(0)
    }
    folded || !spark.table(s"`$db`.`$logName`")
      .filter(col("batch_id") === batchId).isEmpty
  }

  /** Column-name-dispatched merge for folding batch-log partials to
    * one row per shard: counts/totals sum, the id range folds
    * min/max, the content checksum is an order-free bit_xor — exactly
    * the serve-side fold, so folding the LOG cannot move any serve.
    */
  private def logFoldExprs(
      logDf: DataFrame): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    logDf.schema.fieldNames.toSeq
      .filterNot(c => c == "shard" || c == "batch_id")
      .map {
        case c @ "min_doc"  => min(col(c)).as(c)
        case c @ "max_doc"  => max(col(c)).as(c)
        case c @ "checksum" => expr(s"bit_xor(`$c`)").as(c)
        case c              => sum(col(c)).as(c)
      }
  }

  /** Fold a streaming batch log (r19 — the [[compactExportShards]]
    * discipline applied to the LOG side): a live ingest appends one
    * ≤16-row partial set per micro-batch, which is exactly right for
    * replay but accretes one partition + file per batch forever. This
    * fold rewrites every current batch's rows into ONE row per shard
    * under the watermark batch (all log columns merge associatively —
    * [[logFoldExprs]] — so every serve that folds the log is
    * byte-identical pre/post), while the replay guard keeps skipping
    * the folded-away ids via the append-only `{logName}__wm` watermark
    * written BEFORE anything is rewritten.
    *
    * Crash-atomic and ingest-safe: watermark append first (from then
    * on every folded id still reads committed whatever else happens);
    * staging holds the complete folded row set; the `_compact_ready`
    * marker written AFTER staging carries the WAL drop set; the finish
    * step lands the folded rows by dynamic overwrite of the watermark
    * partition and drops the folded batches' own partitions one spec
    * at a time — a batch landing concurrently under a NEW batch_id is
    * never touched. Mid-finish the log transiently double-counts
    * (folded + surviving originals), which is why
    * [[exportVerifiedStreamServe]] refuses to serve while the marker
    * is present. Not safe concurrent with ITSELF (the fixture
    * builders' synchronized discipline).
    */
  def compactBatchLog(spark: SparkSession, db: String,
      logName: String): Unit = {
    import org.apache.spark.sql.functions._
    val staging = s"`$db`.`__${logName}_compact_staging`"
    val ready = s"`$db`.`__${logName}_compact_ready`"
    if (spark.catalog.tableExists(s"$db.__${logName}_compact_ready")) {
      finishBatchLogCompaction(spark, db, logName)
    } else if (spark.catalog.tableExists(s"$db.__${logName}_compact_staging")) {
      // fold died before its marker: staging may be partial; the log
      // was never touched — discard and refold below
      spark.sql(s"DROP TABLE IF EXISTS $staging")
    }
    if (!spark.catalog.tableExists(s"$db.$logName")) return
    require(spark.catalog.listColumns(s"$db.$logName").collect()
        .exists(c => c.name == "batch_id" && c.isPartition),
      s"batch log `$db`.`$logName` is not partitioned by batch_id " +
        "(legacy layout) — rebuild it through appendBatchLog before " +
        "compacting")
    val log = spark.table(s"`$db`.`$logName`")
    val ids = log.select(col("batch_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    if (ids.length < 2) return
    val wm = ids.last
    // replay-guard watermark FIRST, append-only (a crash mid-append
    // loses at most this one row and never prior ones): from here every
    // id ≤ wm reads committed via batchCommitted even after its row folds
    val wmRow = spark.createDataFrame(Seq(Tuple1(wm))).toDF("watermark")
      .coalesce(1)
    if (!spark.catalog.tableExists(s"$db.${logName}__wm"))
      wmRow.write.saveAsTable(s"`$db`.`${logName}__wm`")
    else wmRow.write.mode("append").saveAsTable(s"`$db`.`${logName}__wm`")
    // snapshot on the id set: a batch appending mid-fold lands a NEW id
    // that stays out of staging and out of the drop set
    val exprs = logFoldExprs(log)
    val folded = log.filter(col("batch_id").isin(ids: _*))
      .groupBy(col("shard")).agg(exprs.head, exprs.tail: _*)
      .withColumn("batch_id", lit(wm))
      .select(log.columns.map(col).toIndexedSeq: _*)
    folded.coalesce(1).write.mode("overwrite").saveAsTable(staging)
    // marker LAST: presence proves staging is whole; content is the WAL
    spark.createDataFrame(ids.map(Tuple1(_)).toIndexedSeq)
      .toDF("folded_batch_id")
      .coalesce(1).write.mode("overwrite").saveAsTable(ready)
    finishBatchLogCompaction(spark, db, logName)
  }

  /** Complete a staged batch-log fold, partition-scoped: dynamic
    * overwrite of the watermark partition, then drop the folded ids'
    * own partitions (from the marker WAL). Idempotent — a crash
    * anywhere replays from the top on the next [[compactBatchLog]]
    * call; errors propagate (retryable from the top).
    */
  private def finishBatchLogCompaction(spark: SparkSession, db: String,
      logName: String): Unit = {
    import org.apache.spark.sql.functions._
    val staging = s"`$db`.`__${logName}_compact_staging`"
    val ready = s"`$db`.`__${logName}_compact_ready`"
    val staged = spark.table(staging)
    val foldedIds = spark.table(ready)
      .select(col("folded_batch_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    val wm = foldedIds.last
    if (!spark.catalog.tableExists(s"$db.$logName")) {
      // a marker can outlive an EXTERNAL drop of the log — restore the
      // committed fold from the write-ahead copy
      staged.write.partitionBy("batch_id").saveAsTable(s"`$db`.`$logName`")
    } else {
      overwritePartitions(s"`$db`.`$logName`", staged,
        foldedIds.filter(_ != wm).map(Seq(_)))
    }
    spark.sql(s"DROP TABLE IF EXISTS $ready")
    spark.sql(s"DROP TABLE IF EXISTS $staging")
  }

  /** Crash-atomic FILE fold of an append-accreting content-addressed
    * store (r19 — the `__xtexts` digest→text extraction store's
    * maintenance): per-batch appends leave one file set per batch; this
    * rewrites the table into `files` files with rows deduplicated at
    * whole-row grain (appends are content-addressed, so a duplicate
    * row is byte-identical by construction — the dedup is a file-size
    * bonus, never a semantic change). Staging + marker + overwrite:
    * staging holds the complete folded copy BEFORE the target is
    * touched, so a crash between the target's drop and rewrite
    * recovers from the write-ahead copy on the next call.
    *
    * Concurrent ingest tolerance is the content-addressed store's own:
    * an append landing between the snapshot and the overwrite is lost
    * from the store, which is SELF-HEALING (the next batch seeing that
    * digest re-extracts and re-appends — extra work, never a wrong
    * answer, because readers fold min-per-digest). Run it at ingest
    * quiesce to avoid the wasted re-extraction; never concurrent with
    * itself.
    */
  def compactContentStore(spark: SparkSession, db: String, table: String,
      files: Int = 16): Unit = {
    val staging = s"`$db`.`__${table}_files_staging`"
    val ready = s"`$db`.`__${table}_files_ready`"
    if (spark.catalog.tableExists(s"$db.__${table}_files_ready")) {
      finishContentStoreCompaction(spark, db, table)
    } else if (spark.catalog.tableExists(s"$db.__${table}_files_staging")) {
      spark.sql(s"DROP TABLE IF EXISTS $staging")
    }
    if (!spark.catalog.tableExists(s"$db.$table")) return
    // carry the target's partitioning through the fold (the __xtexts
    // store is generation-partitioned for eviction — a fold must not
    // flatten the layout retention depends on)
    val partCols = spark.catalog.listColumns(s"$db.$table")
      .collect().filter(_.isPartition).map(_.name).toSeq
    val folded = spark.table(s"`$db`.`$table`").distinct().repartition(files)
    val w = folded.write.mode("overwrite")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
      .saveAsTable(staging)
    spark.createDataFrame(Seq(Tuple1(files.toLong))).toDF("files")
      .coalesce(1).write.mode("overwrite").saveAsTable(ready)
    finishContentStoreCompaction(spark, db, table)
  }

  /** Complete a staged content-store file fold: overwrite the target
    * from the write-ahead staging copy (in the staging table's own
    * partition layout — it carries the target's), then clean up.
    * Idempotent.
    */
  private def finishContentStoreCompaction(spark: SparkSession, db: String,
      table: String): Unit = {
    val staging = s"`$db`.`__${table}_files_staging`"
    val ready = s"`$db`.`__${table}_files_ready`"
    val partCols = spark.catalog.listColumns(s"$db.__${table}_files_staging")
      .collect().filter(_.isPartition).map(_.name).toSeq
    val w = spark.table(staging).write.mode("overwrite")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
      .saveAsTable(s"`$db`.`$table`")
    spark.sql(s"DROP TABLE IF EXISTS $ready")
    spark.sql(s"DROP TABLE IF EXISTS $staging")
    spark.catalog.refreshTable(s"`$db`.`$table`")
  }

  /** Serve the streaming verified export: recompute the manifest FROM
    * THE WRITTEN TABLE (one scan — the deliberate verification cost,
    * exactly [[exportShardedVerified]]'s arithmetic), fold the
    * append-only partials log (sums/min/max are exact integer merges,
    * the checksum is an order-free bit_xor fold), and RECONCILE the two
    * per shard — count, token/byte totals, id range, and content
    * checksum must all agree, so a lost row, a doubled row, or a
    * corrupted byte anywhere between what the stream believed it wrote
    * and what the table actually holds surfaces as a require() here,
    * not as silent training-data drift. Returns the written-table
    * manifest (the q_export_verified schema — same closed-form oracle).
    */
  def exportVerifiedStreamServe(spark: SparkSession, db: String,
      name: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // a surviving compaction marker means a fold's finish step is in
    // flight or crashed mid-way — the target can transiently hold the
    // folded rows AND the originals; fail actionably instead of as a
    // puzzling checksum mismatch
    require(!spark.catalog.tableExists(s"$db.__${name}_compact_ready"),
      s"verified streaming export `$db.$name`: a compaction marker is " +
        "present — a fold is in flight or crashed mid-finish; run " +
        "compactExportShards to complete recovery before serving")
    // same refusal for the LOG side: mid-finish the log transiently
    // holds the folded watermark row AND surviving originals (double
    // count) — fail actionably instead of as a reconciliation mismatch
    require(!spark.catalog.tableExists(
        s"$db.__${name}__manifestlog_compact_ready"),
      s"verified streaming export `$db.$name`: a manifest-log fold is " +
        "in flight or crashed mid-finish; run compactBatchLog to " +
        "complete recovery before serving")
    val written = manifestAggOf(spark.table(s"`$db`.`$name`"))
      .localCheckpoint()
    val folded = spark.table(s"`$db`.`${name}__manifestlog`")
      .groupBy(col("shard"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_bytes")).as("n_bytes"),
        min(col("min_doc")).as("min_doc"),
        max(col("max_doc")).as("max_doc"),
        expr("bit_xor(checksum)").as("checksum"))
    val cols = Seq("n_docs", "n_tokens", "n_bytes", "min_doc", "max_doc",
      "checksum")
    val mismatch = written.as("w")
      .join(folded.as("l"), Seq("shard"), "full_outer")
      .filter(cols.map(c => !(col(s"w.$c") <=> col(s"l.$c")))
        .reduce(_ || _))
      .select(col("shard")).collect().map(_.getLong(0)).sorted
    require(mismatch.isEmpty,
      s"verified streaming export `$db.$name`: written table and folded " +
        s"manifest log disagree on shard(s) ${mismatch.mkString(", ")} — " +
        "a row was lost, doubled, or corrupted between stream and storage")
    written.orderBy(col("shard").asc)
  }

  /** `q_export_verified_stream` (r18): the verified sharded export as a
    * STREAM — the corpus fed in two doc_id-ordered halves through
    * [[exportIncrementalBatch]] (idempotent partition-scoped writes +
    * manifest partials log, docs-then-log commit order), served by
    * [[exportVerifiedStreamServe]]'s written-table-vs-folded-log
    * reconciliation. FULLY ORACLED against q_export_verified's
    * closed-form manifest SQL: the two halves partition the corpus, so
    * folded sums/min/max/bit_xor equal the batch aggregate exactly —
    * no approximation anywhere on this path. Build-if-absent with the
    * completion marker written last + a corruption require() at serve
    * (the r17 stream-fixture discipline).
    */
  def exportStreamFixture(spark: SparkSession, dir: String): DataFrame = {
    val db = "graft_exportstream"
    val name = "docs"
    this.synchronized {
      val metaTbl = s"`$db`.`${name}__manifestmeta`"
      if (!spark.catalog.tableExists(s"$db.${name}__manifestmeta")) {
        import org.apache.spark.sql.functions._
        createDatabase(spark, db)
        Seq(name, s"${name}__manifestlog", s"${name}__manifestmeta")
          .foreach(graft.operators.KnnOps.dropTableAndDir(spark, db, _))
        val docs = Tables.documents(spark, dir)
          .select(col("doc_id"), col("text"))
        val n = docs.count()
        Seq(0L, 1L).foreach { bid =>
          val half = if (bid == 0L) docs.filter(col("doc_id") < n / 2)
            else docs.filter(col("doc_id") >= n / 2)
          appendBatchLog(spark, db, s"${name}__manifestlog",
            exportIncrementalBatch(spark, db, name, half, bid,
              repartitionTasks = 16),
            bid)
        }
        spark.createDataFrame(Seq(Tuple1(2L))).toDF("expected_batches")
          .write.mode("overwrite").saveAsTable(metaTbl)
      }
      val expected = spark.table(metaTbl).head().getLong(0)
      val logged = spark.table(s"`$db`.`${name}__manifestlog`")
        .select(org.apache.spark.sql.functions.col("batch_id"))
        .distinct().count()
      require(logged == expected,
        s"export stream fixture `$db.$name` is corrupt: marker promises " +
          s"$expected batches, log has $logged — drop the `$db` database " +
          "to rebuild")
    }
    exportVerifiedStreamServe(spark, db, name)
  }

  /** `drop_collection` (ref `TencentVDB.py:87-89`). */
  def dropCollection(spark: SparkSession, db: String, name: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`$name`")

  /** `drop_database` (`delete_and_drop`, ref `TencentVDB.py:91-98`). */
  def dropDatabase(spark: SparkSession, name: String): Unit = {
    spark.sql(s"DROP DATABASE IF EXISTS `$name` CASCADE")
    // CASCADE removes REGISTERED tables' locations; a crashed prior JVM
    // can leave table dirs the fresh session's catalog never knew about,
    // and the next managed create then fails LOCATION_ALREADY_EXISTS.
    // A dropped database's directory is supposed to be gone — finish it.
    try {
      import org.apache.hadoop.fs.Path
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val dir = new Path(wh, s"$name.db")
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(dir)) fs.delete(dir, true)
    } catch { case scala.util.control.NonFatal(_) => () }
  }
}
