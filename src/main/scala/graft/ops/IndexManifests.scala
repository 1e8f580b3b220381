package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
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

  /** Full-store write of a bucket-partitioned table, then its manifest.
    * The explicit-count `repartition(defaultParallelism, partCol)` keeps
    * one task — so one file — per bucket, and unlike `repartition(partCol)`
    * it is not coalesced by AQE: a small store's buckets are written by all
    * cores instead of one task. Shared by every index build (`AnnIndex`,
    * `GraphAnn`, `ProductQuantizer`); batch-sized append and delete
    * writes keep their own shape.
    */
  def writeBuckets(df: DataFrame, table: String, partCol: String): Unit = {
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(table)
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
    * When none of the wanted buckets exist (an all-fresh batch) the read
    * is empty by construction: schema comes from ONE existing bucket
    * directory when the table has any, else from `emptySchema` — the
    * caller's expected shape, required because a table with zero bucket
    * directories holds zero parquet files and schema inference over it
    * throws (reachable: a graph `edges/` table whose buckets were all
    * single-member at build time, or a delete that emptied every bucket).
    */
  def readBuckets(spark: SparkSession, table: String, partCol: String,
      wanted: Seq[Long], emptySchema: Option[StructType] = None): DataFrame =
    read(spark, table) match {
      case Some(all) =>
        val have = all.toSet
        val hit = wanted.filter(have)
        if (hit.nonEmpty)
          spark.read.option("basePath", table)
            .parquet(hit.map(b => s"$table/$partCol=$b"): _*)
        else if (all.nonEmpty)
          // none of the wanted buckets exist, but the table has data:
          // empty frame with the stored schema, read off ONE bucket dir
          // (still ∝ one bucket, never a full-table listing)
          spark.read.option("basePath", table)
            .parquet(s"$table/$partCol=${all.head}")
            .where(lit(false))
        else emptySchema match {
          // zero bucket directories -> zero parquet files: nothing to
          // infer from, so the caller's expected shape is authoritative
          case Some(schema) => spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], schema)
          case None => spark.read.parquet(table).where(lit(false))
        }
      case None =>
        val df = spark.read.parquet(table)
        val vals: Seq[Any] = df.schema(partCol).dataType match {
          case org.apache.spark.sql.types.IntegerType => wanted.map(_.toInt)
          case _ => wanted
        }
        df.where(col(partCol).isin(vals: _*))
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
    val confKey = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey, "dynamic")
    try {
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
        .write.mode("overwrite").partitionBy(partCol).parquet(table)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
    // a compaction only rewrites files within existing bucket dirs, but
    // refresh anyway so the manifest is re-derived from directory truth
    // after any mutation
    write(spark, table, partCol)
    over
  }
}
