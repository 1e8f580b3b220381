package graft.ops

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.SparkShims
import org.apache.spark.sql.types.StructType

/** Bucket-directory manifests for partitioned index tables (one bucket id
  * per line, sorted; the leading underscore keeps the file invisible to
  * parquet reads). With a manifest, a bucket-pruned maintenance read lists
  * ONLY the wanted bucket directories (explicit paths + `basePath`) — on an
  * object store the recursive listing of a many-thousand-bucket table is
  * otherwise paid on EVERY pruned read and grows with corpus size, while
  * the manifest keeps it ∝ touched buckets. Measured on the graph tier's
  * insert ladder: the 50× rung halved (SCALING.md).
  *
  * Written once per mutation (build / append / delete / compact) from one
  * single-level `listStatus` of the table root — the authoritative
  * directory truth, immune to empty-bucket bookkeeping drift. Shared by
  * [[GraphAnn]] (edges/assign), [[AnnIndex]] (the IVF store) and
  * [[ProductQuantizer]] (the IVF-PQ code table).
  */
private[graft] object IndexManifests {

  private[graft] val FileName = "_graft_buckets"

  def write(spark: SparkSession, table: String, partCol: String): Unit = {
    // the manifest is the final write of every leased bucket-table
    // mutation (append/delete/compact): fence it against a mid-epoch
    // lease takeover — no-op for un-leased initial builds
    IndexFiles.fenceWriterLease(spark, table)
    val root = new org.apache.hadoop.fs.Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val buckets = fs.listStatus(root).iterator
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(partCol + "="))
      .map(_.substring(partCol.length + 1).toLong).toSeq.sorted
    // write-to-temp + rename, never an in-place overwrite: a crash mid-
    // write must not leave a truncated-but-parsable manifest that later
    // maintenance reads trust as authoritative (a silently shortened
    // bucket list would make the next append/delete rewrite touched
    // buckets WITHOUT their stored members/edges). The rename is atomic
    // on HDFS/local; on stores where it is copy+delete the window is a
    // missing manifest, which readers treat as "no manifest" and fall
    // back to the (slower, correct) isin route — never a torn one.
    val tmp = new org.apache.hadoop.fs.Path(root, FileName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write((buckets.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    val dst = new org.apache.hadoop.fs.Path(root, FileName)
    // rename ONTO the destination first: POSIX-rename stores replace the
    // old manifest atomically (no missing window at all); HDFS-semantics
    // stores refuse and fall back to delete+rename, whose window readers
    // already tolerate via the isin fallback
    if (!fs.rename(tmp, dst)) {
      fs.delete(dst, false)
      require(fs.rename(tmp, dst),
        s"manifest rename failed: $tmp -> $dst")
    }
  }

  /** `df` spread for a bucket-partitioned write: the explicit-count
    * `repartition(defaultParallelism, partCol)` keeps one task — so one
    * file — per bucket, and unlike `repartition(partCol)` it is not
    * coalesced by AQE, so even a batch-sized write's buckets are written by
    * all cores instead of one task (each parquet file costs about 12 ms to
    * open and close on a 4-core box, so a 40-row append touching 20 buckets
    * took 0.3 s in one task).
    */
  def byBucket(df: DataFrame, partCol: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(partCol))

  /** Full-store write of a bucket-partitioned table ([[byBucket]]), then
    * its manifest. Shared by the index builds (`GraphAnn`'s edges,
    * `ProductQuantizer`'s codes).
    */
  def writeBuckets(df: DataFrame, table: String, partCol: String): Unit = {
    byBucket(df, partCol).write.mode("overwrite").partitionBy(partCol).parquet(table)
    write(df.sparkSession, table, partCol)
  }

  /** [[writeBuckets]]' append counterpart: `df` appended to the bucket
    * directories it lands in ([[byBucket]]), then the manifest refreshed so
    * the next pruned read sees any directory the append created. Shared by
    * every store append (the IVF store, the graph's `assign/`, the IVF-PQ
    * code table).
    */
  def appendBuckets(df: DataFrame, table: String, partCol: String): Unit = {
    byBucket(df, partCol).write.mode("append").partitionBy(partCol).parquet(table)
    write(df.sparkSession, table, partCol)
  }

  def read(spark: SparkSession, table: String): Option[Seq[Long]] = {
    val p = new org.apache.hadoop.fs.Path(table, FileName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      Some(txt.split("\n").iterator.map(_.trim).filter(_.nonEmpty)
        .map(_.toLong).toSeq)
    }
  }

  /** Bucket-pruned read of a partitioned index table. With a manifest the
    * read passes the wanted bucket directories as EXPLICIT paths (plus
    * `basePath`, so the partition column still materializes) — listing
    * cost ∝ wanted buckets. Without one (legacy artifact) it falls back to
    * an `isin` partition filter whose literals MUST match the column's
    * inferred type (small ids infer int, large infer long): a mismatched
    * isin wraps the partition column in a cast, which defeats partition
    * pruning — the read silently degrades to a corpus scan (measured: the
    * graph_insert ScaleSmoke rung's shuffle grew with the corpus until
    * this fix).
    *
    * `schema` is the table's stored shape when the caller knows it: every
    * read then uses it, so Spark infers no schema (no job before the scan
    * itself), and it is the shape of an empty read. Without it, a read of
    * none of the wanted buckets (an all-fresh batch) takes its schema from
    * ONE existing bucket directory; a table with zero bucket directories
    * holds zero parquet files, and inferring a schema over it throws.
    */
  def readBuckets(spark: SparkSession, table: String, partCol: String,
      wanted: Seq[Long], schema: Option[StructType] = None): DataFrame = {
    def parquet(paths: String*): DataFrame =
      schema.fold(spark.read)(spark.read.schema(_)).option("basePath", table)
        .parquet(paths: _*)
    read(spark, table) match {
      case Some(all) =>
        val have = all.toSet
        val hit = wanted.filter(have)
        if (hit.nonEmpty) parquet(hit.map(b => s"$table/$partCol=$b"): _*)
        else schema match {
          case Some(s) => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
          // still ∝ one bucket, never a full-table listing
          case None => parquet(all.headOption.fold(table)(b => s"$table/$partCol=$b"))
            .where(lit(false))
        }
      case None =>
        val df = schema.fold(spark.read)(spark.read.schema(_)).parquet(table)
        val vals: Seq[Any] = df.schema(partCol).dataType match {
          case org.apache.spark.sql.types.IntegerType => wanted.map(_.toInt)
          case _ => wanted
        }
        df.where(col(partCol).isin(vals: _*))
    }
  }

  /** Replace the `touched` buckets of a partitioned table with `rows`,
    * their new content — the rewrite step every bucket-partitioned store
    * shares (IVF store, IVF-PQ code table, graph edges and members): ONE
    * dynamic partition overwrite replaces just those bucket directories.
    * `rows` may read the directories it replaces: the commit swaps them
    * only after every task has finished reading. A dynamic overwrite
    * cannot CLEAR a bucket it writes no rows for, so the write observes
    * which buckets still hold rows and the emptied ones are dropped after
    * it; the manifest is refreshed last.
    */
  def replaceBuckets(spark: SparkSession, table: String, partCol: String,
      touched: Seq[Long], rows: DataFrame): Unit = {
    val live = new Observation()
    byBucket(rows.observe(live, collect_set(col(partCol).cast("long")).as("live")), partCol)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(table)
    val kept = live.get("live").asInstanceOf[scala.collection.Seq[Long]].toSet
    val fs = IndexFiles.fs(spark, table)
    touched.filterNot(kept).foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(table, s"$partCol=$b"), true)
    }
    write(spark, table, partCol)
  }

  /** Remove `pairs` — each deleted id and the bucket holding it, as two
    * long columns — from a bucket-partitioned table, rewriting only the
    * touched buckets ([[replaceBuckets]] over a manifest-listed read of
    * them). NULL ids are never removed, and ids divisible by `refuseStride`
    * fail the delete, with `why`, before anything is written. The job that
    * pins the pairs also collects them when they are at most
    * [[SizeRoute.DeleteIds]]: the ids then ride in the plan as one sorted
    * array ([[NotAmong]]). Above it, the touched buckets are collected from
    * the pin and the rewrite anti-joins it.
    */
  def deleteRows(spark: SparkSession, table: String, partCol: String,
      idCol: String, pairs: DataFrame, schema: Option[StructType],
      refuseStride: Int, why: String): Unit = {
    val pinned = pairs.toDF("__del", "__b").localCheckpoint(eager = false)
    val held = SizeRoute.collectWithin(pinned, SizeRoute(SizeRoute.DeleteIds), _ => 1L)
    require(held.fold(pinned.where(pmod(col("__del"), lit(refuseStride)) === 0).isEmpty)(
      !_.exists(_.getLong(0) % refuseStride == 0)), why)
    val touched = held.fold(pinned.select("__b").distinct().collect().map(_.getLong(0)))(
      _.map(_.getLong(1))).distinct.sorted.toSeq
    if (touched.isEmpty) return
    val read = readBuckets(spark, table, partCol, touched, schema)
    val id = col(idCol).cast("long")
    replaceBuckets(spark, table, partCol, touched, held match {
      case Some(rows) => read.where(coalesce(SparkShims.column(NotAmong(SparkShims.expression(id),
        rows.map(_.getLong(0)).distinct.sorted)), lit(true)))
      case None => read.join(pinned, id === col("__del"), "left_anti")
    })
  }

  /** Compact a partitioned index table's over-fragmented bucket
    * directories — shared by the IVF store (`AnnIndex.compactBuckets`),
    * the IVF-PQ code table and the graph tier (`GraphAnn.compact`), whose
    * per-mutation appends otherwise grow hot buckets by one+ file forever.
    * Only buckets past `maxFilesPerBucket` rewrite, via ONE partition-
    * pruned scan + ONE dynamic partition overwrite (never a per-bucket
    * driver loop of jobs); big buckets split to ~`targetBytes` output
    * files (the slice salt keeps a 10 GB bucket from becoming one 10 GB
    * task), small ones collapse to a single file. Concurrent probes see
    * either the old or new files of a bucket; run under the store's
    * single-writer contract. Returns the compacted bucket ids (empty =
    * cheap no-op, safe on a maintenance timer).
    */
  def compactTable(spark: SparkSession, table: String, partCol: String,
      maxFilesPerBucket: Int = 8, targetBytes: Long = 128L << 20): Seq[Long] = {
    // bucket/file stats through the table's Hadoop FileSystem — the same
    // resolution write() uses, so compaction runs wherever the table lives
    // (before r16 this listed via java.nio local paths: correct in the
    // sandbox, a silent throw on HDFS/S3 while every sibling operation
    // worked)
    val bucketStats: Map[Long, (Int, Long)] =
      IndexFiles.listSubdirs(spark, table, partCol + "=").map { d =>
        val cid = d.getPath.getName.stripPrefix(partCol + "=").toLong
        val parts = IndexFiles.listParquet(spark, d.getPath.toString)
        cid -> (parts.length, parts.map(_.getLen).sum)
      }.toMap
    val over = bucketStats.filter(_._2._1 > maxFilesPerBucket).keys.toSeq.sorted
    if (over.isEmpty) return Seq.empty
    val slices = over.map(c =>
      c -> math.max(1L, (bucketStats(c)._2 + targetBytes - 1) / targetBytes)).toMap
    val sliceLit = map(slices.toSeq.flatMap {
      case (c, n) => Seq(lit(c), lit(n)) }: _*)
    // manifest-listed pruned read: the read cost is ∝ over-threshold
    // buckets even when the table holds thousands of healthy ones
    val df = readBuckets(spark, table, partCol, over)
    val dataCols = df.columns.filterNot(_ == partCol).map(col)
    val nTasks = math.max(slices.values.sum,
        spark.sparkContext.defaultParallelism.toLong)
      .min(Int.MaxValue).toInt
    df.withColumn("__slice",
        pmod(hash(dataCols: _*), element_at(sliceLit, col(partCol).cast("long"))))
      .repartition(nTasks, col(partCol), col("__slice"))
      .drop("__slice")
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(table)
    // a compaction only rewrites files within existing bucket dirs, but
    // refresh anyway so the manifest is re-derived from directory truth
    // after any mutation
    write(spark, table, partCol)
    over
  }
}
