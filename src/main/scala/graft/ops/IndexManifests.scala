package graft.ops

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.SparkShims
import org.apache.spark.sql.types.StructType

/** Bucket-directory manifests for partitioned index tables, and the one
  * batch-sized write path of the bucketed vector stores ([[AnnIndex]]'s IVF
  * store and [[ProductQuantizer]]'s IVF-PQ code table).
  *
  * The manifest (`_graft_buckets`; the leading underscore keeps it
  * invisible to parquet reads) lists the table's bucket directories, one id
  * per line, sorted. With it, a bucket-pruned read lists ONLY the wanted
  * bucket directories (explicit paths + `basePath`): on an object store the
  * recursive listing of a many-thousand-bucket table is otherwise paid on
  * EVERY pruned read and grows with corpus size, while the manifest keeps
  * it ∝ touched buckets (the graph tier's insert ladder: the 50× rung
  * halved, SCALING.md).
  *
  * The manifest also carries the table's PENDING writes, so one file read
  * gives a reader the whole store:
  *  - `delta <rows> <buckets> <file>`: an appended batch, written as one
  *    parquet file sorted by bucket under the hidden [[DeltaDir]]
  *    ([[appendRows]]);
  *  - `tomb <id> <bucket>`: a deleted id and the bucket holding it
  *    ([[deleteRows]]);
  *  - `folding`: a [[fold]] is rewriting buckets;
  *  - `end`, last, on every manifest that carries pending lines.
  * Every live read ([[readLive]]) is buckets ∪ delta rows − tombstones. An
  * append or delete republishes the manifest from the one it read (no root
  * listing, no bucket touched); a fold, a build or a bucket rewrite
  * re-derives the bucket list from one single-level `listStatus` of the
  * table root, the directory truth. A manifest without pending lines is
  * the plain bucket list, as before pending writes existed.
  */
private[graft] object IndexManifests {

  private[graft] val FileName = "_graft_buckets"

  /** The hidden directory of a table's delta files (`Store.all`'s full
    * parquet read must never see them as rows).
    */
  private[graft] val DeltaDir = "_graft_delta"

  /** One committed delta file: its path under the table, the batch rows it
    * holds and the buckets they file under.
    */
  final case class Delta(file: String, rows: Long, buckets: Seq[Long])

  /** A table's bucket directories and its pending writes. */
  final case class Manifest(buckets: Seq[Long], delta: Seq[Delta] = Nil,
      tombs: Seq[(Long, Long)] = Nil, folding: Boolean = false) {

    /** Pending delta rows plus tombstones: what [[SizeRoute.PendingRows]] bounds. */
    def pending: Long = delta.map(_.rows).sum + tombs.size

    def settled: Boolean = delta.isEmpty && tombs.isEmpty && !folding

    def text: String =
      if (settled) buckets.mkString("", "\n", "\n")
      else (buckets.map(_.toString) ++
        delta.map(d => s"delta ${d.rows} ${d.buckets.mkString(",")} ${d.file}") ++
        tombs.map { case (id, b) => s"tomb $id $b" } ++
        (if (folding) Seq("folding") else Nil) :+ "end").mkString("", "\n", "\n")
  }

  private def parse(txt: String): Manifest = {
    val lines = txt.split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
    Manifest(
      lines.filter(l => l.head.isDigit || l.head == '-').map(_.toLong),
      lines.filter(_.startsWith("delta ")).map(_.split(" ", 4) match {
        case Array(_, n, bs, f) => Delta(f, n.toLong, bs.split(",").filter(_.nonEmpty).map(_.toLong).toSeq)
      }),
      lines.filter(_.startsWith("tomb ")).map(_.split(" ") match {
        case Array(_, id, b) => (id.toLong, b.toLong)
      }),
      lines.contains("folding"))
  }

  /** Publish `m` as the table's manifest: the final write of every
    * bucket-table mutation, fenced against a mid-epoch lease takeover
    * (a no-op for un-leased initial builds).
    */
  def publish(spark: SparkSession, table: String, m: Manifest): Unit = {
    IndexFiles.fenceWriterLease(spark, table)
    val root = new org.apache.hadoop.fs.Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // write-to-temp + rename, never an in-place overwrite: a crash mid-
    // write must not leave a truncated-but-parsable manifest that later
    // maintenance reads trust as authoritative (a silently shortened
    // bucket list would make the next append/delete rewrite touched
    // buckets WITHOUT their stored members/edges). The rename is atomic
    // on HDFS/local; where it is copy+delete, [[read]] takes the complete
    // temp file for the missing destination.
    val tmp = new org.apache.hadoop.fs.Path(root, FileName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(m.text.getBytes("UTF-8"))
    finally out.close()
    val dst = new org.apache.hadoop.fs.Path(root, FileName)
    // rename ONTO the destination first: POSIX-rename stores replace the
    // old manifest atomically (no missing window at all); HDFS-semantics
    // stores refuse and fall back to delete+rename
    if (!fs.rename(tmp, dst)) {
      fs.delete(dst, false)
      require(fs.rename(tmp, dst),
        s"manifest rename failed: $tmp -> $dst")
    }
  }

  /** Re-derive the bucket list from one single-level `listStatus` of the
    * table root and publish it, keeping the pending writes of the current
    * manifest, or dropping them (`settle`: the fold that applied them).
    */
  def write(spark: SparkSession, table: String, partCol: String,
      settle: Boolean = false): Unit = {
    val fs = IndexFiles.fs(spark, table)
    val buckets = fs.listStatus(new org.apache.hadoop.fs.Path(table)).iterator
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(partCol + "="))
      .map(_.substring(partCol.length + 1).toLong).toSeq.sorted
    val kept = if (settle) None else read(spark, table)
    publish(spark, table, kept.fold(Manifest(buckets))(_.copy(buckets = buckets)))
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
    * the next pruned read sees any directory the append created. The
    * builds' append (`AnnIndex.materialize`, the graph's `assign/`) and the
    * [[fold]] of delta rows.
    */
  def appendBuckets(df: DataFrame, table: String, partCol: String): Unit = {
    byBucket(df, partCol).write.mode("append").partitionBy(partCol).parquet(table)
    write(df.sparkSession, table, partCol)
  }

  /** The table's manifest, or None when it has none. Where a republish's
    * rename cannot replace the old file (HDFS semantics, object stores),
    * [[publish]] deletes it before renaming the complete temp file onto
    * it: for that window the temp file is the manifest, taken only when it
    * ends with `end` (a settled one needs no stand-in: the directory truth
    * is then the whole store).
    */
  def read(spark: SparkSession, table: String): Option[Manifest] = {
    val fs = IndexFiles.fs(spark, table)
    def load(name: String): Option[String] =
      try {
        val in = fs.open(new org.apache.hadoop.fs.Path(table, name))
        try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
      } catch { case _: java.io.FileNotFoundException => None }
    load(FileName)
      .orElse(load(FileName + ".tmp").filter(_.endsWith("end\n")))
      .orElse(load(FileName))
      .map(parse)
  }

  /** The manifest of a table about to be mutated: a table written before
    * manifests gets one from its directory truth first.
    */
  private def current(spark: SparkSession, table: String, partCol: String): Manifest =
    read(spark, table).getOrElse { write(spark, table, partCol); read(spark, table).get }

  /** Bucket-pruned read of a partitioned index table's bucket directories
    * (no pending writes: [[readLive]] adds those). With a manifest the
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
      wanted: Seq[Long], schema: Option[StructType] = None): DataFrame =
    stored(spark, table, partCol, Some(wanted), schema, read(spark, table))

  /** [[readBuckets]] over a manifest already read; every bucket (a full
    * listing) when `wanted` is None.
    */
  private def stored(spark: SparkSession, table: String, partCol: String,
      wanted: Option[Seq[Long]], schema: Option[StructType], m: Option[Manifest]): DataFrame = {
    def reader = schema.fold(spark.read)(spark.read.schema(_))
    def parquet(paths: String*): DataFrame = reader.option("basePath", table).parquet(paths: _*)
    (wanted, m) match {
      case (None, _) => reader.parquet(table)
      case (Some(w), Some(m)) =>
        val have = m.buckets.toSet
        val hit = w.filter(have)
        if (hit.nonEmpty) parquet(hit.map(b => s"$table/$partCol=$b"): _*)
        else schema match {
          case Some(s) => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
          // still ∝ one bucket, never a full-table listing
          case None => parquet(m.buckets.headOption.fold(table)(b => s"$table/$partCol=$b"))
            .where(lit(false))
        }
      case (Some(w), None) =>
        val df = reader.parquet(table)
        val vals: Seq[Any] = df.schema(partCol).dataType match {
          case org.apache.spark.sql.types.IntegerType => w.map(_.toInt)
          case _ => w
        }
        df.where(col(partCol).isin(vals: _*))
    }
  }

  /** The live rows of the `wanted` buckets (every bucket when None): the
    * bucket directories ∪ the pending delta rows filed under them − the
    * tombstoned ids. Only the delta files holding a wanted bucket are read,
    * and all of it is one scan plan beside the bucket scan, so a probe
    * stays one job; a table with nothing pending reads its buckets alone.
    * `idCol` is the table's id column.
    */
  def readLive(spark: SparkSession, table: String, partCol: String, idCol: String,
      wanted: Option[Seq[Long]], schema: Option[StructType]): DataFrame = {
    val m = read(spark, table)
    val rows = stored(spark, table, partCol, wanted, schema, m)
    m.filterNot(_.settled).fold(rows)(live(spark, table, partCol, idCol, wanted, schema, _, rows))
  }

  private def live(spark: SparkSession, table: String, partCol: String, idCol: String,
      wanted: Option[Seq[Long]], schema: Option[StructType], m: Manifest,
      rows: DataFrame): DataFrame = {
    val all = deltaRows(spark, table, partCol, idCol, wanted, schema, m, rows)
      .fold(rows)(rows.unionByName(_))
    if (m.tombs.isEmpty) all else all.where(notAmong(col(idCol), m.tombs.map(_._1)))
  }

  /** The delta rows of the `wanted` buckets, or None when no delta file
    * holds one. While a fold is in flight (or was interrupted) a delta row
    * may already sit in its bucket directory, `rows`: it is then read once.
    */
  private def deltaRows(spark: SparkSession, table: String, partCol: String, idCol: String,
      wanted: Option[Seq[Long]], schema: Option[StructType], m: Manifest,
      rows: => DataFrame): Option[DataFrame] = {
    val want = wanted.map(_.toSet)
    val files = m.delta.filter(d => want.forall(w => d.buckets.exists(w)))
    if (files.isEmpty) None
    else {
      val d = schema.fold(spark.read)(spark.read.schema(_))
        .parquet(files.map(f => s"$table/${f.file}"): _*)
      val in = wanted.fold(d)(w => d.where(col(partCol).isin(w: _*)))
      Some(if (m.folding) in.join(rows.select(idCol), Seq(idCol), "left_anti") else in)
    }
  }

  /** `c` is not among `ids` (a NULL id is never among them). */
  private def notAmong(c: org.apache.spark.sql.Column, ids: Seq[Long]): org.apache.spark.sql.Column =
    coalesce(SparkShims.column(NotAmong(SparkShims.expression(c.cast("long")),
      ids.distinct.sorted.toArray)), lit(true))

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

  /** Append `batch` to a bucket-partitioned table. `assign` files batch
    * rows under their buckets (`partCol`) in the table's row shape; `idCol`
    * is the batch's id column and `tableId` the table's.
    *
    * A table already holding [[maxDeltaFiles]] delta files folds first.
    * A batch that fits in the [[SizeRoute.PendingRows]] bound beside the
    * rows and tombstones already pending is collected in one job,
    * assigned on the driver when the centroids are held there, and written
    * as ONE parquet file sorted by bucket under [[DeltaDir]]; the manifest
    * then lists it, and no bucket directory is read or written. A batch
    * that re-inserts a tombstoned id folds first, so its old row is gone
    * before the new one lands (the flat PQ store's revive rule). A larger
    * batch folds what is pending and is appended to its bucket directories
    * ([[appendBuckets]]).
    */
  def appendRows(batch: DataFrame, idCol: String, table: String, partCol: String,
      tableId: String, schema: Option[StructType])(assign: DataFrame => DataFrame): Unit = {
    val spark = batch.sparkSession
    val m = {
      val m0 = current(spark, table, partCol)
      if (m0.delta.size < maxDeltaFiles(spark)) m0
      else { fold(spark, table, partCol, tableId, schema, m0); current(spark, table, partCol) }
    }
    val budget = math.max(0L, SizeRoute(SizeRoute.PendingRows) - m.pending)
    SizeRoute.collectWithin(batch, budget, _ => 1L) match {
      case Some(rows) if rows.isEmpty => ()
      case Some(rows) =>
        val at = batch.schema.fieldIndex(idCol)
        val ids = rows.iterator.filterNot(_.isNullAt(at)).map(_.getAs[Number](at).longValue).toSet
        val base =
          if (m.tombs.exists(t => ids(t._1))) {
            fold(spark, table, partCol, tableId, schema, m)
            current(spark, table, partCol)
          } else m
        val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), batch.schema)
        val out = assign(local)
        val shaped = schema.fold(out)(s => out.select(s.fields.map(f => col(f.name).cast(f.dataType)): _*))
        val dir = s"$DeltaDir/${java.util.UUID.randomUUID}"
        val filed = new Observation()
        shaped.observe(filed, collect_set(col(partCol).cast("long")).as("b"))
          .coalesce(1).sortWithinPartitions(partCol)
          .write.parquet(s"$table/$dir")
        val file = IndexFiles.listParquet(spark, s"$table/$dir").map(_.getPath.getName)
        require(file.size == 1, s"a delta write left ${file.size} files in $table/$dir")
        val buckets = filed.get("b").asInstanceOf[scala.collection.Seq[Long]].toSeq.sorted
        publish(spark, table, base.copy(
          delta = base.delta :+ Delta(s"$dir/${file.head}", rows.length.toLong, buckets)))
      case None =>
        fold(spark, table, partCol, tableId, schema, m)
        appendBuckets(assign(batch), table, partCol)
    }
  }

  /** Delta files up to which a table keeps appending them: half of
    * `spark.sql.sources.parallelPartitionDiscovery.threshold`, the path
    * count past which Spark lists a scan's paths in a job of its own, so a
    * probe of its buckets and their delta files stays one job however
    * small the appended batches are.
    */
  private def maxDeltaFiles(spark: SparkSession): Int =
    spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold", "32").toInt / 2

  /** Remove `pairs` — each deleted id and the bucket holding it, as two
    * long columns — from a bucket-partitioned table. NULL ids are never
    * removed, and ids divisible by `refuseStride` fail the delete, with
    * `why`, before anything is written. The job that pins the pairs also
    * collects them when they are at most [[SizeRoute.DeleteIds]]: they are
    * then recorded as tombstones in the manifest, and no bucket is read or
    * rewritten, unless the pending rows and tombstones would pass
    * [[SizeRoute.PendingRows]], in which case they fold at once. Above
    * [[SizeRoute.DeleteIds]], what is pending folds, the touched buckets
    * are collected from the pin and rewritten anti-joined against it.
    */
  def deleteRows(spark: SparkSession, table: String, partCol: String,
      idCol: String, pairs: DataFrame, schema: Option[StructType],
      refuseStride: Int, why: String): Unit = {
    val pinned = pairs.toDF("__del", "__b").localCheckpoint(eager = false)
    val held = SizeRoute.collectWithin(pinned, SizeRoute(SizeRoute.DeleteIds), _ => 1L)
    require(held.fold(pinned.where(pmod(col("__del"), lit(refuseStride)) === 0).isEmpty)(
      !_.exists(_.getLong(0) % refuseStride == 0)), why)
    val m = current(spark, table, partCol)
    held match {
      case Some(rows) =>
        if (rows.isEmpty) return
        val next = m.copy(tombs = (m.tombs ++ rows.map(r => (r.getLong(0), r.getLong(1)))).distinct)
        if (next.pending <= SizeRoute(SizeRoute.PendingRows)) publish(spark, table, next)
        else fold(spark, table, partCol, idCol, schema, next)
      case None =>
        fold(spark, table, partCol, idCol, schema, m)
        val touched = pinned.select("__b").distinct().collect().map(_.getLong(0)).sorted.toSeq
        if (touched.nonEmpty) replaceBuckets(spark, table, partCol, touched,
          readBuckets(spark, table, partCol, touched, schema)
            .join(pinned, col(idCol).cast("long") === col("__del"), "left_anti"))
    }
  }

  /** Test seam: a fold throws after its bucket writes, before its final
    * manifest publish, as a writer dying there would leave the table.
    */
  private[graft] val interruptFoldForTest = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** Fold a table's pending writes into its bucket directories (nothing
    * but the sweep of unlisted delta files when none are pending); true
    * when any were pending. Run it under the store's writer lease.
    */
  def fold(spark: SparkSession, table: String, partCol: String, idCol: String,
      schema: Option[StructType]): Boolean =
    read(spark, table).exists { m => fold(spark, table, partCol, idCol, schema, m); !m.settled }

  /** The buckets holding a tombstone are rewritten with their delta rows
    * and without the tombstoned ids ([[replaceBuckets]]); the other delta
    * rows are appended to their buckets ([[appendBuckets]]). The manifest
    * says `folding` from before the first bucket write until the settled
    * manifest replaces it, and reads and this fold take a delta row
    * already found in its bucket directory once, so a fold interrupted
    * anywhere in between duplicates and loses no row, and the next fold
    * completes it. Last, the delta directory goes, with any file a crashed
    * append left unlisted in it.
    */
  private def fold(spark: SparkSession, table: String, partCol: String, idCol: String,
      schema: Option[StructType], m: Manifest): Unit = {
    if (!m.settled) {
      publish(spark, table, m.copy(folding = true))
      val buckets = (ids: Seq[Long]) => readBuckets(spark, table, partCol, ids, schema)
      val hit = m.tombs.map(_._2).distinct.sorted
      if (hit.nonEmpty) replaceBuckets(spark, table, partCol, hit,
        live(spark, table, partCol, idCol, Some(hit), schema, m, buckets(hit)))
      val rest = m.delta.flatMap(_.buckets).distinct.sorted.filterNot(hit.toSet)
      if (rest.nonEmpty) deltaRows(spark, table, partCol, idCol, Some(rest), schema, m,
        buckets(rest)).foreach(appendBuckets(_, table, partCol))
      if (interruptFoldForTest.get()) throw new IllegalStateException("fold interrupted for a test")
      write(spark, table, partCol, settle = true)
    }
    IndexFiles.deleteRecursive(spark, s"$table/$DeltaDir")
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
