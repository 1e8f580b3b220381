package graft

import org.apache.spark.sql.functions._

/** Partitioning-invariance for the STREAMED family (the r17 rung covered
  * only batch gates). Two exposures, both asserted here:
  *
  *  1. **Input partitioning**: each streamed gate's static/corpus sides
  *     scan parquet and its epochs collect() from parquet — an 8-file
  *     mirror changes both the scan partitioning and the collect (replay)
  *     ORDER, so a partition-order-sensitive fold into streaming state
  *     would diverge. All 8 streamed gates re-run against the mirror and
  *     must produce identical results.
  *  2. **At-rest store partitioning**: the gates' FINAL reads re-read
  *     stores the stream wrote (parquet sinks; the maintained ANN store).
  *     A store rewritten to many files per bucket — the layout maintained
  *     stores actually have at scale after many append epochs — must
  *     answer identically. Covered for the two at-rest shapes: the
  *     parquet-sink re-read and the manifest-pruned ANN probe.
  */
class StreamedPartitionSpec extends SparkTestBase {

  private val srcDir = "/root/testdata/sf0.01"

  private lazy val multiDir: String =
    PartitionInvariance.multiMirror(spark, srcDir)

  private val gates = Seq(
    "streamed_ingest_survivors", "streamed_components",
    "streamed_cluster_delete", "streamed_ann_delete_topk",
    "streamed_sessions", "streamed_attribution",
    "streamed_profiles", "streamed_profiles_v2",
    "streamed_file_ingest_survivors")

  gates.foreach { name =>
    test(s"$name is input-partitioning-invariant (1 file vs 8-file mirror)") {
      val fn = SparkEntry.queries(name)
      val single = PartitionInvariance.canon(fn(spark, srcDir))
      val multi = PartitionInvariance.canon(fn(spark, multiDir))
      PartitionInvariance.assertSame(single, multi)
      spark.catalog.clearCache()
    }
  }

  test("at-rest parquet sink re-read is file-count-invariant (streamed_ingest shape)") {
    val s = spark
    import s.implicits._
    // the ingest gates' sink shape: per-epoch parquet appends, final read
    // = read the whole dir. Rewriting the at-rest dir to 8 files (what a
    // long-lived stream's store looks like after compaction) must not
    // change the re-read result.
    val d = docs3()
    def shingle(f: org.apache.spark.sql.DataFrame) =
      f.select(col("doc_id"), graft.ops.TextOps.wordNGrams(col("text"), 3).as("sh"))
    val corpus = shingle(d.where(pmod(col("doc_id"), lit(2)) === 0))
    val epochs = Seq(1L, 3L).map(m =>
      d.where(pmod(col("doc_id"), lit(4)) === m)
        .as[(Long, String)].collect().toSeq)
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](s)
    val out = graft.util.TempDirs.create("streamed_part_ingest")
    val q = graft.streaming.StreamSizing.withStatePartitions(s, 8) {
      graft.streaming.CorpusIngest.dedupedIngest(
          shingle(stream.toDF().toDF("doc_id", "text")), corpus,
          "doc_id", "sh", 0.5) { (survivors, _) =>
        survivors.select("doc_id").write.mode("append").parquet(out)
      }
    }
    try epochs.foreach { e => stream.addData(e); q.processAllAvailable() }
    finally q.stop()
    val single = PartitionInvariance.canon(s.read.parquet(out))
    // rewrite the at-rest store to 8 files and re-read
    val out8 = graft.util.TempDirs.create("streamed_part_ingest8")
    s.read.parquet(out).repartition(8).write.mode("overwrite").parquet(out8)
    val multi = PartitionInvariance.canon(s.read.parquet(out8))
    PartitionInvariance.assertSame(single, multi)
  }

  test("maintained ANN store probes identically after a multi-file-per-bucket rewrite") {
    val s = spark
    import s.implicits._
    val emb = s.read.parquet(s"$srcDir/embeddings.parquet")
    // build + maintain the store exactly like the streamed_ann_delete gate
    val p = graft.util.TempDirs.create("streamed_part_ann")
    graft.ops.AnnIndex.materialize(
      emb.where(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding", 64, p)
    def epoch(rows: org.apache.spark.sql.DataFrame)(
        start: org.apache.spark.sql.DataFrame => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val data = rows.select(col("vec_id"), col("embedding"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Float])](s)
      val q = start(stream.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"),
          col("embedding").cast("array<float>").as("embedding")))
      try { stream.addData(data); q.processAllAvailable() }
      finally q.stop()
    }
    epoch(emb.where(pmod(col("vec_id"), lit(2)) === 1))(sdf =>
      graft.streaming.CorpusIngest.annIngest(
        sdf, "vec_id", "embedding", 64, p)())
    epoch(emb.where(pmod(col("vec_id"), lit(4)) === 3))(sdf =>
      graft.streaming.CorpusIngest.annDeletes(
        sdf, "vec_id", "embedding", 64, p)())
    val reduced = emb.where(pmod(col("vec_id"), lit(4)) =!= 3)
    val qvec = emb.where(col("vec_id") === 1).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble).toArray
    def probe(path: String) = PartitionInvariance.canon(
      graft.ops.AnnIndex.fromMaterialized(reduced, "vec_id", "embedding",
        64, path).probeTopK(qvec, 10, nprobe = 4))
    val single = probe(p)
    // the SAME logical store with every bucket split across multiple
    // files (the at-scale layout after many append epochs): repartition
    // before the partitioned write, refresh the manifest, copy the
    // store's centroid files
    val p8 = graft.util.TempDirs.create("streamed_part_ann8")
    graft.ops.CentroidStore.Store.open(s, p, "embedding", Seq("stride" -> 64), "reading")
      .all.repartition(8)
      .write.mode("overwrite").partitionBy("__centroid").parquet(p8)
    graft.ops.IndexManifests.write(s, p8, "__centroid")
    val fs = graft.ops.IndexFiles.fs(s, p)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(s"$p/_graft_ivf"), fs,
      new org.apache.hadoop.fs.Path(s"$p8/_graft_ivf"), false, s.sparkContext.hadoopConfiguration)
    val multi = probe(p8)
    PartitionInvariance.assertSame(single, multi)
  }

  private def docs3(): org.apache.spark.sql.DataFrame =
    spark.read.parquet(s"$srcDir/documents.parquet")
      .select(col("doc_id"), col("text"))
}
