package graft

import org.apache.spark.sql.functions._

import graft.ops.{AnnIndex, GraphAnn, IndexFiles, ProductQuantizer}
import graft.ops.ProductQuantizer.PqSpec

/** Round-16 scale-honesty gates for the materialized-index maintenance
  * plane:
  *
  *  1. Every maintenance operation must resolve paths through the store's
  *     HADOOP FileSystem — proven by running full build/append/delete/
  *     compact/probe cycles against `file:`-SCHEME-QUALIFIED paths, which
  *     `java.nio.file.Paths.get` cannot resolve (the scheme becomes a path
  *     segment), so any surviving local-path resolution throws here.
  *  2. The flat-PQ compaction swap must be crash-atomic: a kill at any
  *     stage leaves a complete readable generation (the generation-pointer
  *     commit — VERDICT r15 #3).
  *  3. A re-inserted (revived) id must not leave duplicate stored rows
  *     (r15 ADVICE high), an empty delete batch must not leave a sidecar
  *     (ADVICE low), and an interrupted pre-r16 sidecar rewrite artifact
  *     must fail loudly instead of reading as "no tombstones" (ADVICE
  *     medium).
  */
class IndexDurabilitySpec extends SparkTestBase {

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def qvec(id: Long): Array[Double] =
    emb.where(col("vec_id") === id).select("embedding").head()
      .getSeq[Float](0).map(_.toDouble).toArray

  /** A `file:`-scheme-qualified fresh store root. */
  private def fsPath(prefix: String): String =
    "file:" + graft.util.TempDirs.create(prefix)

  private val spec = PqSpec(m = 8, dsub = 8, stride = 64)

  test("flat PQ full maintenance cycle on a file:-scheme store (build, tombstone delete, compact, revive append, probe)") {
    val path = fsPath("graft_fs_pq")
    ProductQuantizer.materialize(emb, "vec_id", "embedding", spec, path)
    ProductQuantizer.deleteFromMaterialized(
      emb.where(pmod(col("vec_id"), lit(4)) === 3), "vec_id", path)
    val reduced = emb.where(pmod(col("vec_id"), lit(4)) =!= 3)
    def probe(): Seq[(Long, Double)] = {
      val (_, pre) = ProductQuantizer.fromMaterialized(spark, path, Some(spec))
      ProductQuantizer.adcRerankTopK(reduced, "vec_id", "embedding", qvec(1),
          k = 10, spec, overfetch = 100, precomputed = Some(pre))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    val before = probe()
    assert(before.nonEmpty)
    // fold the sidecar (generation swap) — listing + flip are Hadoop-FS
    assert(ProductQuantizer.compactCodes(spark, path, maxFiles = 2))
    assert(probe() == before, "compaction changed probe results")
    // revive one deleted id: forced fold + append, all on the file: store
    ProductQuantizer.deleteFromMaterialized(
      emb.where(col("vec_id") === 2), "vec_id", path)
    ProductQuantizer.appendToMaterialized(
      emb.where(col("vec_id") === 2), "vec_id", "embedding", path)
    val live = ProductQuantizer.resolveCodesDir(spark, path)
    assert(live.startsWith("file:"), s"resolver dropped the scheme: $live")
    val dups = spark.read.parquet(live)
      .groupBy(col("__id"), col("__m")).count().where(col("count") > 1).count()
    assert(dups == 0, "revive left duplicate code rows")
  }

  test("IVF + graph tiers run build/append/delete/compact on a file:-scheme store") {
    // IVF float tier
    val ivf = fsPath("graft_fs_ivf")
    AnnIndex.materialize(
      emb.where(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding", 64, ivf)
    (0 until 3).foreach { b =>
      AnnIndex.appendToMaterialized(
        emb.where(pmod(col("vec_id"), lit(6)) === 2 * b + 1), "vec_id", "embedding", 64, ivf)
    }
    AnnIndex.deleteFromMaterialized(
      emb.where(col("vec_id") === 3), "vec_id", "embedding", 64, ivf)
    AnnIndex.compactBuckets(spark, ivf, maxFilesPerBucket = 1)
    val got = AnnIndex.fromMaterialized(emb, "vec_id", "embedding", 64, ivf)
      .probeTopK(qvec(7), 10, nprobe = 4)
      .collect().map(_.getLong(0)).toSeq
    val want = AnnIndex.build(
        emb.where(col("vec_id") =!= 3), "vec_id", "embedding", 64)
      .probeTopK(qvec(7), 10, nprobe = 4)
      .collect().map(_.getLong(0)).toSeq
    assert(got == want, "file:-scheme IVF store diverged from batch build")

    // graph tier: the assign/ store header, manifest writes and the shared
    // compactTable listing all resolve through the scheme
    val g = fsPath("graft_fs_graph")
    GraphAnn.materialize(
      emb.where(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding",
      stride = 64, degree = 4, g)
    (0 until 3).foreach { b =>
      GraphAnn.appendToMaterialized(
        emb.where(pmod(col("vec_id"), lit(6)) === 2 * b + 1), "vec_id", "embedding", 64, 4, g)
    }
    GraphAnn.deleteFromMaterialized(
      emb.where(col("vec_id") === 5), "vec_id", "embedding", 64, 4, g)
    GraphAnn.compact(spark, g, maxFilesPerBucket = 1)
    val gGot = GraphAnn.fromMaterialized(spark, g, 64, 4)
    val gWant = GraphAnn.buildEdges(
      emb.where(col("vec_id") =!= 5), "vec_id", "embedding", 64, 4)
    assert(gGot.select("src", "dst").collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSet ==
      gWant.select("src", "dst").collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSet,
      "file:-scheme graph store diverged from batch build")
  }

  test("compactCodes crash injection: a kill at any stage leaves a complete readable generation") {
    // Stage replay: the compaction is (1) write codes_g<N+1> in full,
    // (2) publish the sequenced generation pointer (one create-exclusive
    // `_graft_codes_gen.<N+1>` file — r17), (3) GC dirs/sidecar files one
    // retention cycle old. Simulate a crash after each stage and assert
    // every read sees a complete generation.
    val path = fsPath("graft_fs_crash")
    ProductQuantizer.materialize(emb, "vec_id", "embedding", spec, path)
    ProductQuantizer.deleteFromMaterialized(
      emb.where(pmod(col("vec_id"), lit(4)) === 3), "vec_id", path)
    val reduced = emb.where(pmod(col("vec_id"), lit(4)) =!= 3)
    def visible(): Set[Long] = {
      val (_, (_, codes)) = ProductQuantizer.fromMaterialized(spark, path, Some(spec))
      codes.select("__id").distinct().collect().map(_.getLong(0)).toSet
    }
    val want = reduced.select(col("vec_id").cast("long"))
      .collect().map(_.getLong(0)).toSet
    assert(visible() == want)

    // crash AFTER stage 1 (orphan next-gen dir, pointer not flipped):
    // replicate stage 1 by hand, then read — the old generation is live
    val live0 = ProductQuantizer.resolveCodesDir(spark, path)
    spark.read.parquet(live0).limit(5)
      .write.mode("overwrite").parquet(s"$path/codes_g1")
    assert(ProductQuantizer.resolveCodesDir(spark, path) == live0,
      "an uncommitted generation dir must stay invisible")
    assert(visible() == want, "orphan generation changed reads")
    // recovery: the real compaction overwrites the orphan and commits
    assert(ProductQuantizer.compactCodes(spark, path, maxFiles = 2))
    val live1 = ProductQuantizer.resolveCodesDir(spark, path)
    assert(live1.endsWith("codes_g1"))
    assert(visible() == want, "committed compaction changed reads")

    // crash AFTER stage 2 (pointer flipped, old dir still present):
    // replicate by re-creating a stale plain `codes/` dir — reads resolve
    // through the pointer and ignore it
    spark.read.parquet(live1).write.mode("overwrite").parquet(s"$path/codes")
    assert(ProductQuantizer.resolveCodesDir(spark, path) == live1)
    assert(visible() == want, "stale pre-flip dir changed reads")
    IndexFiles.deleteRecursive(spark, s"$path/codes")

    // stale TOMBSTONES surviving a crash between flip and sidecar drop
    // filter already-purged ids — a harmless no-op, and the next
    // compaction folds them away
    emb.where(pmod(col("vec_id"), lit(4)) === 3)
      .select(col("vec_id").cast("long").as("__id"))
      .write.mode("overwrite").parquet(s"$path/tombstones")
    assert(visible() == want, "stale tombstones resurrected or hid rows")
    assert(ProductQuantizer.compactCodes(spark, path, maxFiles = 2))
    // r17 snapshot retention: the folded sidecar file outlives its fold by
    // one cycle (recorded in the live generation, invisible to reads) so
    // an in-flight reader's planned anti-join never loses files mid-scan;
    // the NEXT compaction ages it out
    assert(visible() == want)
    assert(ProductQuantizer.compactCodes(spark, path, force = true))
    assert(!IndexFiles.exists(spark, s"$path/tombstones"))
    assert(visible() == want)
  }

  test("graph tier drained to zero member edges and regrown equals a fresh build") {
    // The zero-file corner end-to-end: delete every non-centroid member, so
    // every bucket holds exactly its centroid and the edges/ table drops to
    // ZERO bucket directories (a single-member bucket has no kNN edges) —
    // the case IndexManifests' typed-empty reads exist for — then append a
    // fresh batch and check the regrown store equals a from-scratch build.
    val path = fsPath("graft_fs_drain")
    val evens = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    GraphAnn.materialize(evens, "vec_id", "embedding", 64,
      GraphAnn.DefaultDegree, path)
    val nonCentroidEvens = evens.where(pmod(col("vec_id"), lit(64)) =!= 0)
    GraphAnn.deleteFromMaterialized(nonCentroidEvens,
      "vec_id", "embedding", 64, GraphAnn.DefaultDegree, path)
    // drained: no member-edge buckets remain on disk
    assert(IndexFiles.listSubdirs(spark, s"$path/edges", "__bucket=").isEmpty,
      "expected every edge bucket directory to be dropped")
    // the drained store still opens and probes (upper levels + assign only)
    val drained = GraphAnn.fromMaterialized(spark, path, 64,
      GraphAnn.DefaultDegree)
    assert(drained.where(col("src") =!= col("dst")).count() >= 0)
    // regrow from a fresh batch
    val odds = emb.where(pmod(col("vec_id"), lit(2)) === 1)
    GraphAnn.appendToMaterialized(odds, "vec_id", "embedding", 64,
      GraphAnn.DefaultDegree, path)
    val want = GraphAnn.buildEdges(
      emb.where(pmod(col("vec_id"), lit(64)) === 0 ||
        pmod(col("vec_id"), lit(2)) === 1),
      "vec_id", "embedding", 64, GraphAnn.DefaultDegree)
    def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edgeSet(GraphAnn.fromMaterialized(spark, path, 64,
        GraphAnn.DefaultDegree)) == edgeSet(want),
      "regrown store diverged from a fresh build")
    // probes through the regrown store match the fresh build's
    val got = GraphAnn.pointProbeTopK(
      emb.where(pmod(col("vec_id"), lit(64)) === 0 ||
        pmod(col("vec_id"), lit(2)) === 1),
      "vec_id", "embedding",
      GraphAnn.fromMaterialized(spark, path, 64, GraphAnn.DefaultDegree),
      qvec(7), k = 10, stride = 64).collect().map(_.getLong(0)).toSeq
    val fresh = GraphAnn.pointProbeTopK(
      emb.where(pmod(col("vec_id"), lit(64)) === 0 ||
        pmod(col("vec_id"), lit(2)) === 1),
      "vec_id", "embedding", want, qvec(7), k = 10, stride = 64)
      .collect().map(_.getLong(0)).toSeq
    assert(got == fresh)
  }

  test("empty delete batch leaves no sidecar; interrupted pre-r16 sidecar rewrite fails loudly") {
    val path = fsPath("graft_fs_tomb")
    ProductQuantizer.materialize(emb, "vec_id", "embedding", spec, path)
    ProductQuantizer.deleteFromMaterialized(
      emb.where(lit(false)), "vec_id", path)
    assert(!IndexFiles.exists(spark, s"$path/tombstones"),
      "empty delete batch wrote a sidecar")
    // a leftover _rewriting dir (pre-r16 two-rename swap interrupted
    // mid-flight) must throw, not silently read as an empty tombstone set
    emb.limit(1).select(col("vec_id").cast("long").as("__id"))
      .write.mode("overwrite").parquet(s"$path/tombstones_rewriting")
    intercept[IllegalArgumentException] {
      ProductQuantizer.fromMaterialized(spark, path, Some(spec))
    }
  }
  test("IVF pending writes on an object store: an unpublished delta file is ignored then swept, an interrupted fold neither duplicates nor loses a row") {
    import graft.ops.IndexManifests
    spark.sparkContext.hadoopConfiguration.set("fs.graftmock.impl",
      classOf[graft.tools.MockObjectStoreFs].getName)
    val ivf = "graftmock:" + graft.util.TempDirs.create("graft_mock_delta")
    AnnIndex.materialize(emb.where(col("vec_id") < 300), "vec_id", "embedding", 64, ivf)
    AnnIndex.appendToMaterialized(emb.where(col("vec_id") >= 300 && col("vec_id") < 400 &&
      pmod(col("vec_id"), lit(64)) =!= 0), "vec_id", "embedding", 64, ivf)
    def live(): Seq[Long] =
      graft.ops.CentroidStore.Store.open(spark, ivf, "embedding", Seq("stride" -> 64), "reading")
        .all.select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSeq.sorted
    def probe(): Seq[Long] = AnnIndex.fromMaterialized(emb, "vec_id", "embedding", 64, ivf)
      .probeTopK(qvec(7), 10, nprobe = 8).collect().map(_.getLong(0)).toSeq
    val before = (live(), probe())
    // a writer that died between its delta-file write and the manifest
    // publish leaves an unlisted file: reads keep the previous epoch
    emb.where(col("vec_id") >= 400).withColumn("__centroid", lit(0L)).coalesce(1)
      .write.parquet(s"$ivf/${IndexManifests.DeltaDir}/orphan")
    assert((live(), probe()) == before, "an unpublished delta file changed reads")
    AnnIndex.deleteFromMaterialized(emb.where(pmod(col("vec_id"), lit(4)) === 3 && col("vec_id") < 360),
      "vec_id", "embedding", 64, ivf)
    val want = before._1.filterNot(id => id % 4 == 3 && id < 360)
    assert(live() == want)
    // a fold that dies after its bucket writes, before its final publish
    IndexManifests.interruptFoldForTest.set(true)
    try intercept[IllegalStateException](AnnIndex.compactBuckets(spark, ivf))
    finally IndexManifests.interruptFoldForTest.set(false)
    assert(IndexManifests.read(spark, ivf).exists(_.folding))
    assert(live() == want, "an interrupted fold duplicated or lost rows")
    val torn = probe()
    // the next fold completes it and sweeps the unlisted file
    AnnIndex.compactBuckets(spark, ivf)
    assert(IndexManifests.read(spark, ivf).exists(_.settled))
    assert(!IndexFiles.exists(spark, s"$ivf/${IndexManifests.DeltaDir}"))
    val stored = spark.read.parquet(ivf).select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSeq
    assert(stored.sorted == want, "the completed fold duplicated or lost rows")
    assert(probe() == torn)
  }
}
