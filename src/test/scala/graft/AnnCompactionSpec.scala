package graft

import org.apache.spark.sql.functions._

import graft.ops.AnnIndex

/** Bucket compaction for the streaming-append ANN index: repeated
  * [[AnnIndex.appendToMaterialized]] batches grow each touched bucket
  * directory by a file per batch forever (the small-files scale risk);
  * [[AnnIndex.compactBuckets]] must collapse only the over-threshold
  * buckets, leave the rest byte-identical, and change NO probe result.
  */
class AnnCompactionSpec extends SparkTestBase {

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def qvec(id: Long): Array[Double] =
    emb.where(col("vec_id") === id).select("embedding").head()
      .getSeq[Float](0).map(_.toDouble).toArray

  private def bucketFiles(path: String): Map[Long, Seq[String]] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(java.nio.file.Paths.get(path)).iterator().asScala
      .filter(p => java.nio.file.Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("__centroid="))
      .map { p =>
        val files = java.nio.file.Files.list(p).iterator().asScala
          .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq.sorted
        p.getFileName.toString.stripPrefix("__centroid=").toLong -> files
      }.toMap
  }

  test("compaction collapses fragmented buckets, preserves others and every probe result") {
    val path = graft.util.TempDirs.create("graft_ann_compact")
    // base = even ids; five append batches of odd ids fragment the buckets
    AnnIndex.materialize(
      emb.where(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding", 64, path)
    // with no room for pending rows every append lands in its bucket
    // directories, one file each
    graft.ops.SizeRoute.withBounds(graft.ops.SizeRoute.PendingRows -> 0) {
      (0 until 5).foreach { b =>
        AnnIndex.appendToMaterialized(
          emb.where(pmod(col("vec_id"), lit(10)) === 2 * b + 1), "vec_id", "embedding", 64, path)
      }
    }
    val before = bucketFiles(path)
    assert(before.values.exists(_.length > 2), "fixture failed to fragment any bucket")

    val idx0 = AnnIndex.fromMaterialized(emb, "vec_id", "embedding", 64, path)
    val probesBefore = Seq(1L, 7L, 42L).map(q =>
      idx0.probeTopK(qvec(q), 10, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)

    val compacted = AnnIndex.compactBuckets(spark, path, maxFilesPerBucket = 2)
    assert(compacted.nonEmpty)
    assert(compacted == before.filter(_._2.length > 2).keys.toSeq.sorted,
      "compacted exactly the over-threshold buckets")

    val after = bucketFiles(path)
    assert(after.keySet == before.keySet, "bucket set unchanged")
    compacted.foreach { c =>
      assert(after(c).length <= 2, s"bucket $c still fragmented: ${after(c).length} files")
    }
    before.keys.filterNot(compacted.contains).foreach { c =>
      assert(after(c) == before(c), s"untouched bucket $c was rewritten")
    }
    // stride marker survives; re-open and re-probe — identical results
    val idx1 = AnnIndex.fromMaterialized(emb, "vec_id", "embedding", 64, path)
    val probesAfter = Seq(1L, 7L, 42L).map(q =>
      idx1.probeTopK(qvec(q), 10, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    assert(probesAfter == probesBefore)
  }

  test("below-threshold index is a no-op") {
    val path = graft.util.TempDirs.create("graft_ann_compact_noop")
    AnnIndex.materialize(emb, "vec_id", "embedding", 64, path)
    val before = bucketFiles(path)
    assert(AnnIndex.compactBuckets(spark, path, maxFilesPerBucket = 8).isEmpty)
    assert(bucketFiles(path) == before)
  }

  test("PQ codes compaction: fragmented flat store collapses, content identical, no-op below threshold") {
    import graft.ops.ProductQuantizer
    import ProductQuantizer.PqSpec
    val spec = PqSpec(m = 8, dsub = 8, stride = 16)
    val path = graft.util.TempDirs.create("graft_pq_compact")
    AnnIndex // touch to keep imports tidy
    ProductQuantizer.materialize(
      emb.where(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding", spec, path)
    (0 until 4).foreach { b =>
      ProductQuantizer.appendToMaterialized(
        emb.where(pmod(col("vec_id"), lit(8)) === 2 * b + 1),
        "vec_id", "embedding", path)
    }
    // the LIVE code dir moves across generations after r16's atomic-swap
    // compaction — resolve it the way every reader does
    def liveDir(): String = ProductQuantizer.resolveCodesDir(spark, path)
    def codeFiles(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(java.nio.file.Paths.get(liveDir()))
        .iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSeq.sorted
    }
    def codes(): Set[(Long, Int, Long)] =
      spark.read.parquet(liveDir()).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val beforeFiles = codeFiles()
    val beforeCodes = codes()
    assert(beforeFiles.length > 2, s"fixture failed to fragment: $beforeFiles")
    assert(ProductQuantizer.compactCodes(spark, path, maxFiles = 2))
    assert(codeFiles().length <= 2, s"still fragmented: ${codeFiles()}")
    assert(codes() == beforeCodes, "compaction changed the code content")
    // probes through the compacted store still work (spec marker + codebooks intact)
    val (_, (cb, codesDf)) = ProductQuantizer.fromMaterialized(spark, path, Some(spec))
    assert(!cb.isEmpty && codesDf.count() == beforeCodes.size)
    // already-compacted: no-op
    val afterFiles = codeFiles()
    assert(!ProductQuantizer.compactCodes(spark, path, maxFiles = 2))
    assert(codeFiles() == afterFiles)
  }
}
