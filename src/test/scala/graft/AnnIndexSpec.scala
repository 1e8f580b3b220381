package graft

import org.apache.spark.sql.functions._

import graft.ops.AnnIndex

/** IVF coarse quantizer: brute force is exact; probing more buckets
  * converges to brute force (recall is monotone in nprobe).
  */
class AnnIndexSpec extends SparkTestBase {

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def qvec(id: Long): Array[Double] =
    emb.where(col("vec_id") === id).select("embedding").head()
      .getSeq[Float](0).map(_.toDouble).toArray

  test("bruteForceTopK matches a full sort exactly") {
    val idx = AnnIndex.build(emb, "vec_id", "embedding", stride = 64)
    val brute = idx.bruteForceTopK(qvec(5), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = emb.select(col("vec_id"),
        graft.functions.array_cosine_distance(col("embedding"),
          typedLit(qvec(5).toSeq)).as("cos_dist"))
      .orderBy(col("cos_dist").asc_nulls_last, col("vec_id").asc)
      .limit(10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(brute == full)
  }

  test("probing all buckets equals brute force; fewer buckets is a subset-ranked approximation") {
    val idx = AnnIndex.build(emb, "vec_id", "embedding", stride = 64)
    val nCentroids = 500 / 64 + 1 // vec_ids divisible by 64 in [0, 500)
    val brute = idx.bruteForceTopK(qvec(3), 10)
      .collect().map(_.getLong(0)).toSet
    val allProbe = idx.probeTopK(qvec(3), 10, nprobe = nCentroids)
      .collect().map(_.getLong(0)).toSet
    assert(allProbe == brute)
    val recalls = Seq(1, 2, 4, nCentroids).map { np =>
      idx.probeTopK(qvec(3), 10, nprobe = np)
        .collect().map(_.getLong(0)).toSet.intersect(brute).size
    }
    assert(recalls == recalls.sorted, s"recall not monotone: $recalls")
    // the query's own bucket is always probed first -> self-match present
    assert(idx.probeTopK(qvec(3), 1, nprobe = 1)
      .head().getLong(0) == 3L)
  }

  test("materialized index probes equal the plan-built index and prune partitions") {
    val path = java.nio.file.Files.createTempDirectory("ann_mat_test").toString
    AnnIndex.materialize(emb, "vec_id", "embedding", 64, path)
    val mat = AnnIndex.fromMaterialized(emb, "vec_id", "embedding", 64, path)
    val plan = AnnIndex.build(emb, "vec_id", "embedding", stride = 64)
    val got = mat.probeTopK(qvec(3), 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = plan.probeTopK(qvec(3), 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
    // the probe must not scan every bucket: its scan lists only the two
    // ranked bucket directories
    val df = mat.probeTopK(qvec(3), 10, nprobe = 2)
    df.collect()
    val roots = AnnIndexSpec.scanRoots(df)
    assert(roots.size == 2 && roots.forall(_.startsWith("__centroid=")),
      s"the materialized probe lists $roots:\n${df.queryExecution.executedPlan}")
  }

  test("appendToMaterialized: incremental growth equals a full materialize") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val path = java.nio.file.Files.createTempDirectory("ann_inc_test").toString
    val even = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    val odd = emb.where(pmod(col("vec_id"), lit(2)) === 1)
    AnnIndex.materialize(even, "vec_id", "embedding", 64, path)
    AnnIndex.appendToMaterialized(odd, "vec_id", "embedding", 64, path)
    val inc = AnnIndex.fromMaterialized(emb, "vec_id", "embedding", 64, path)
    val full = AnnIndex.build(emb, "vec_id", "embedding", stride = 64)
    for (nprobe <- Seq(2, 8)) {
      val got = inc.probeTopK(qvec(5), 10, nprobe)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = full.probeTopK(qvec(5), 10, nprobe)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want, s"nprobe=$nprobe")
    }
    // a stride mismatch on append is rejected like on open
    intercept[IllegalArgumentException] {
      AnnIndex.appendToMaterialized(odd, "vec_id", "embedding", 32, path)
    }
  }

  test("deleteFromMaterialized: delete equals a reduced-corpus materialize") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val path = java.nio.file.Files.createTempDirectory("ann_del_test").toString
    AnnIndex.materialize(emb, "vec_id", "embedding", 64, path)
    AnnIndex.deleteFromMaterialized(emb.where(pmod(col("vec_id"), lit(4)) === 3),
      "vec_id", "embedding", 64, path)
    val reduced = emb.where(pmod(col("vec_id"), lit(4)) =!= 3)
    // the live store is row-identical to a reduced-corpus build: same
    // (id, bucket) set, no deleted id survives
    val redPath = java.nio.file.Files.createTempDirectory("ann_red_test").toString
    AnnIndex.materialize(reduced, "vec_id", "embedding", 64, redPath)
    val want = spark.read.parquet(redPath)
      .select(col("vec_id"), col("__centroid").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(AnnIndexSpec.liveAssignment(spark, path) == want)
    // and probes over the deleted artifact match the reduced build
    val del = AnnIndex.fromMaterialized(reduced, "vec_id", "embedding", 64, path)
    val full = AnnIndex.fromMaterialized(reduced, "vec_id", "embedding", 64, redPath)
    for (nprobe <- Seq(2, 8)) {
      val got = del.probeTopK(qvec(5), 10, nprobe)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want2 = full.probeTopK(qvec(5), 10, nprobe)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want2, s"nprobe=$nprobe")
    }
    // deleting a centroid-level id is refused (geometry frozen)
    intercept[IllegalArgumentException] {
      AnnIndex.deleteFromMaterialized(emb.where(col("vec_id") === 128),
        "vec_id", "embedding", 64, path)
    }
    // folded, the stored artifact itself is row-identical to the
    // reduced-corpus build
    AnnIndex.compactBuckets(spark, path)
    val stored = spark.read.parquet(path)
      .select(col("vec_id"), col("__centroid").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored == want)
    // the IVF store's bucket manifest tracks the directory truth through
    // materialize + delete + fold (IndexManifests, shared with the graph tier)
    val manifest = java.nio.file.Files.readString(
        java.nio.file.Paths.get(path, "_graft_buckets"))
      .split("\n").iterator.map(_.trim).filter(_.nonEmpty)
      .map(_.toLong).toSeq
    val dirs = new java.io.File(path).listFiles().toSeq
      .filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith("__centroid="))
      .map(_.substring("__centroid=".length).toLong).sorted
    assert(manifest == dirs)
  }

  test("kmeans refinement keeps centroid count, lowers inertia, preserves exactness") {
    val init = graft.ops.AnnIndex.kmeansCentroids(emb, "vec_id", "embedding",
      stride = 64, iters = 0)
    val refined = graft.ops.AnnIndex.kmeansCentroids(emb, "vec_id", "embedding",
      stride = 64, iters = 2)
    assert(init.count() == refined.count(), "iteration must not drop clusters")

    def inertia(cents: org.apache.spark.sql.DataFrame): Double =
      emb.select(col("vec_id"), col("embedding").cast("array<double>").as("__v"))
        .crossJoin(broadcast(cents))
        .select(col("vec_id"),
          graft.functions.array_cosine_distance(col("__v"), col("__cvec")).as("d"))
        .groupBy("vec_id").agg(min("d").as("d"))
        .agg(sum("d")).head().getDouble(0)
    val (i0, i2) = (inertia(init), inertia(refined))
    assert(i2 <= i0 + 1e-6, s"inertia rose: $i0 -> $i2")

    // probing every kmeans bucket still equals brute force
    val idx = graft.ops.AnnIndex.buildKMeans(emb, "vec_id", "embedding", 64, 2)
    val all = idx.probeTopK(qvec(3), 10, nprobe = 1000)
      .collect().map(_.getLong(0)).toSeq
    val brute = idx.bruteForceTopK(qvec(3), 10)
      .collect().map(_.getLong(0)).toSeq
    assert(all == brute)
  }

  test("materialize fails fast on an empty centroid set; stride mismatch is rejected") {
    val path = java.nio.file.Files.createTempDirectory("ann_guard_test").toString
    assertThrows[IllegalArgumentException] {
      // ids 1..499 with a stride beyond the range (0 itself excluded —
      // it divides everything) -> no centroids
      AnnIndex.materialize(emb.where(col("vec_id") > 0),
        "vec_id", "embedding", 1 << 20, path)
    }
    AnnIndex.materialize(emb, "vec_id", "embedding", 64, path)
    assertThrows[IllegalArgumentException] {
      AnnIndex.fromMaterialized(emb, "vec_id", "embedding", 32, path)
    }
  }

  test("probeTopKBatch equals per-query probeTopK for every query in the batch") {
    val idx = AnnIndex.build(emb, "vec_id", "embedding", stride = 64)
    val qids = Seq(1L, 5L, 9L)
    val queries = emb.where(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val batch = idx.probeTopKBatch(queries, "qid", "qvec", 10, nprobe = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    for (qid <- qids) {
      val single = idx.probeTopK(qvec(qid), 10, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val got = batch(qid).sortBy(_._2).map(t => (t._3, t._4)).toSeq
      assert(got == single, s"qid $qid: batch != single-query probe")
      // ranks are 1-based and dense
      assert(batch(qid).map(_._2).sorted.toSeq == (1L to single.length))
    }
  }

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  private def probed(idx: AnnIndex, q: Array[Double], nprobe: Int = 4): Seq[(Long, Double)] =
    idx.probeTopK(q, 10, nprobe).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def storedAssignment(path: String): Set[(Long, Long)] =
    spark.read.parquet(path).select(col("vec_id"), col("__centroid").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("store job budget: a reopened or held-open probe is one job, append and delete batch-sized") {
    val path = tmp("ann_jobs_test")
    val batch = emb.where(col("vec_id") >= 400 && pmod(col("vec_id"), lit(2)) === 1)
    AnnIndex.materialize(emb.where(col("vec_id") < 400 || pmod(col("vec_id"), lit(2)) === 0),
      "vec_id", "embedding", 64, path)
    val q = qvec(3)
    val base = emb // opening a parquet frame infers its schema in a job
    val (_, reopened) = JobCount(spark.sparkContext) {
      AnnIndex.fromMaterialized(base, "vec_id", "embedding", 64, path).probeTopK(q, 10).collect()
    }
    assert(reopened == 1, s"reopened-store probe ran $reopened jobs")
    val held = AnnIndex.fromMaterialized(emb, "vec_id", "embedding", 64, path)
    val q5 = qvec(5)
    val (_, heldJobs) = JobCount(spark.sparkContext)(held.probeTopK(q5, 10).collect())
    assert(heldJobs == 1, s"held-open probe ran $heldJobs jobs")
    val app = batch.orderBy("vec_id").limit(40).localCheckpoint()
    assert(app.count() == 40)
    val (_, append) = JobCount(spark.sparkContext) {
      AnnIndex.appendToMaterialized(app, "vec_id", "embedding", 64, path)
    }
    assert(append <= 2, s"a 40-row append ran $append jobs")
    val del = emb.where(pmod(col("vec_id"), lit(4)) === 3).orderBy("vec_id").limit(20)
      .localCheckpoint()
    val (_, delete) = JobCount(spark.sparkContext) {
      AnnIndex.deleteFromMaterialized(del, "vec_id", "embedding", 64, path)
    }
    assert(delete <= 2, s"a 20-row delete ran $delete jobs")
    // with both pending, a reopened and a held-open probe are still one job
    val (_, pendingJobs) = JobCount(spark.sparkContext) {
      AnnIndex.fromMaterialized(base, "vec_id", "embedding", 64, path).probeTopK(q, 10).collect()
    }
    assert(pendingJobs == 1, s"reopened-store probe with pending writes ran $pendingJobs jobs")
    val (_, pendingHeld) = JobCount(spark.sparkContext)(held.probeTopK(q5, 10).collect())
    assert(pendingHeld == 1, s"held-open probe with pending writes ran $pendingHeld jobs")
    // and the maintained store is the one a fresh materialize builds
    val live = emb.where(col("vec_id") < 400 || pmod(col("vec_id"), lit(2)) === 0)
      .union(app)
      .join(del.select("vec_id"), Seq("vec_id"), "left_anti")
    val fresh = tmp("ann_jobs_fresh")
    AnnIndex.materialize(live, "vec_id", "embedding", 64, fresh)
    assert(AnnIndexSpec.liveAssignment(spark, path) == storedAssignment(fresh))
  }

  test("above the size bounds: a store built, maintained and probed through Spark equals the held route") {
    import graft.ops.SizeRoute
    val gone = emb.where(pmod(col("vec_id"), lit(4)) === 3)
    val qs = Seq(qvec(3), qvec(77), qvec(250))
    def run(bounds: (SizeRoute.Bound, Int)*): (Set[(Long, Long)], Seq[Seq[(Long, Double)]], Int) = {
      val path = tmp("ann_bounds_test")
      SizeRoute.withBounds(bounds: _*) {
        AnnIndex.materialize(emb.where(col("vec_id") < 300), "vec_id", "embedding", 32, path)
        AnnIndex.appendToMaterialized(emb.where(col("vec_id") >= 300 && pmod(col("vec_id"), lit(32)) =!= 0),
          "vec_id", "embedding", 32, path)
        AnnIndex.deleteFromMaterialized(gone, "vec_id", "embedding", 32, path)
        val idx = AnnIndex.fromMaterialized(emb, "vec_id", "embedding", 32, path)
        val (_, jobs) = JobCount(spark.sparkContext)(idx.probeTopK(qs.head, 10).collect())
        (AnnIndexSpec.liveAssignment(spark, path, 32), qs.map(probed(idx, _)), jobs)
      }
    }
    val (heldRows, heldProbes, heldJobs) = run()
    val (rows, probes, jobs) = run(SizeRoute.IvfCentroidBytes -> 0, SizeRoute.DeleteIds -> 0)
    assert(rows == heldRows && probes == heldProbes)
    assert(heldJobs == 1 && jobs == 2, s"probe jobs held $heldJobs, distributed $jobs")
    // 500 ids, less the 6 centroid-level ids the append skips and the 125 deleted
    assert(!rows.exists(r => r._1 % 4 == 3) && rows.size == 500 - 6 - 125)
  }

  test("assignment equals the struct-min rule on NULL, NaN, zero and tied vectors, on every route") {
    val sp = spark
    import sp.implicits._
    val nan = Float.NaN
    def vecs(centroidNull: Boolean) = Seq[(Long, Seq[java.lang.Float])](
      (0L, Seq(1f, 0f)), (4L, Seq(0f, 1f)), (8L, Seq(-1f, 0f)),
      (12L, if (centroidNull) Seq(0.5f, null) else Seq(0.5f, 0.5f)),
      (1L, Seq(1f, 1f)), // equidistant from 0 and 4: the lowest cid
      (2L, null), (3L, Seq(null, 1f)), (5L, Seq(nan, 1f)), (6L, Seq(0f, 0f)),
      (7L, Seq(0.9f, 0.1f)), (9L, Seq(-0.2f, 1f)), (10L, Seq(nan, nan)))
    for (centroidNull <- Seq(false, true)) {
      val df = vecs(centroidNull).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      val want = AnnIndexSpec.structMin(df, "vec_id", "embedding", 4)
      for (bound <- Seq(0, Int.MaxValue)) {
        val path = tmp("ann_rule_test")
        graft.ops.SizeRoute.withBounds(graft.ops.SizeRoute.IvfCentroidBytes -> bound) {
          AnnIndex.materialize(df, "vec_id", "embedding", 4, path)
        }
        assert(storedAssignment(path) == want, s"bound $bound, centroid NULL: $centroidNull")
        // the graph store's assign/ follows the same rule, per level when tiered
        for (superStride <- Seq(0, 8)) {
          val graph = tmp("graph_rule_test")
          graft.ops.SizeRoute.withBounds(graft.ops.SizeRoute.IvfCentroidBytes -> bound) {
            graft.ops.GraphAnn.materialize(df, "vec_id", "embedding", 4, 2, graph, superStride)
          }
          val got = spark.read.parquet(s"$graph/assign")
            .select(col("__nid"), col("__centroid").cast("long"))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          assert(got == AnnIndexSpec.structMin(df, "vec_id", "embedding", 4, superStride),
            s"graph superStride $superStride, bound $bound, centroid NULL: $centroidNull")
        }
      }
    }
  }

  test("a store opens from its path: any base frame gives the same rows; a store without its centroid file is refused") {
    import graft.ops.GraphAnn
    val path = tmp("ann_base_test")
    AnnIndex.materialize(emb, "vec_id", "embedding", 64, path)
    val other = emb.where(col("vec_id") === 7)
    for (q <- Seq(qvec(3), qvec(77)))
      assert(probed(AnnIndex.fromMaterialized(other, "vec_id", "embedding", 64, path), q) ==
        probed(AnnIndex.fromMaterialized(emb, "vec_id", "embedding", 64, path), q))
    java.nio.file.Files.delete(java.nio.file.Paths.get(path, "_graft_ivf", "header"))
    val err = intercept[IllegalArgumentException] {
      AnnIndex.fromMaterialized(emb, "vec_id", "embedding", 64, path)
    }
    assert(err.getMessage.contains("re-materialize"), err.getMessage)
    // the graph store too: append and delete read only the store
    def graph(p: String): (Set[(Long, Long, Long)], Set[(Long, Long)]) = (
      GraphAnn.fromMaterialized(spark, p, 64, 4).where(col("__bucket").isNotNull)
        .select("src", "dst", "__bucket").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet,
      spark.read.parquet(s"$p/assign").select(col("__nid"), col("__centroid").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    def built(df: org.apache.spark.sql.DataFrame) = {
      val p = tmp("graph_base_ref")
      GraphAnn.materialize(df, "vec_id", "embedding", 64, 4, p)
      graph(p)
    }
    val g = tmp("graph_base_test")
    GraphAnn.materialize(emb.where(col("vec_id") < 250), "vec_id", "embedding", 64, 4, g)
    GraphAnn.appendToMaterialized(
      emb.where(col("vec_id") >= 250 && pmod(col("vec_id"), lit(64)) =!= 0),
      "vec_id", "embedding", 64, 4, g)
    val grown = emb.where(col("vec_id") < 250 || pmod(col("vec_id"), lit(64)) =!= 0)
    assert(graph(g) == built(grown), "append != rebuild")
    GraphAnn.deleteFromMaterialized(emb.where(pmod(col("vec_id"), lit(4)) === 3),
      "vec_id", "embedding", 64, 4, g)
    assert(graph(g) == built(grown.where(pmod(col("vec_id"), lit(4)) =!= 3)), "delete != rebuild")
    java.nio.file.Files.delete(java.nio.file.Paths.get(g, "assign", "_graft_ivf", "header"))
    for (open <- Seq[() => Any](() => GraphAnn.fromMaterialized(spark, g, 64, 4),
        () => GraphAnn.appendToMaterialized(emb.where(col("vec_id") === 1),
          "vec_id", "embedding", 64, 4, g))) {
      val refused = intercept[IllegalArgumentException](open())
      assert(refused.getMessage.contains("re-materialize"), refused.getMessage)
    }
  }

  test("unique-id contract: a duplicated id is one stored row per input row; centroid deletes refused") {
    val path = tmp("ann_dup_test")
    val dup = emb.union(emb.where(col("vec_id") === 5))
    AnnIndex.materialize(dup, "vec_id", "embedding", 64, path)
    assert(spark.read.parquet(path).where(col("vec_id") === 5).count() == 2)
    assert(spark.read.parquet(path).count() == 501)
    val err = intercept[IllegalArgumentException] {
      AnnIndex.deleteFromMaterialized(emb.where(col("vec_id").isin(5, 192)),
        "vec_id", "embedding", 64, path)
    }
    assert(err.getMessage.contains("centroid-level"), err.getMessage)
    assert(spark.read.parquet(path).count() == 501, "a refused delete removed rows")
  }

  test("4 threads probing one store handle equal a serial run") {
    val path = tmp("ann_threads_test")
    AnnIndex.materialize(emb, "vec_id", "embedding", 64, path)
    val idx = AnnIndex.fromMaterialized(emb, "vec_id", "embedding", 64, path)
    val qs = Seq(1L, 7L, 42L, 99L, 250L, 333L, 401L, 499L).map(qvec)
    val serial = qs.map(probed(idx, _))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val running = qs.map(q => pool.submit(
        new java.util.concurrent.Callable[Seq[(Long, Double)]] { def call() = probed(idx, q) }))
      assert(running.map(_.get(5, java.util.concurrent.TimeUnit.MINUTES)) == serial)
    } finally pool.shutdown()
  }

  private def manifest(table: String): graft.ops.IndexManifests.Manifest =
    graft.ops.IndexManifests.read(spark, table).get

  test("with a delta and tombstones pending, every read path equals a store materialized over the survivors") {
    import graft.ops.ProductQuantizer
    val spec = ProductQuantizer.PqSpec(m = 8, dsub = 8, stride = 16)
    val base = emb.where(col("vec_id") < 300)
    // appended ids are neither centroids (64) nor codebook entries (16)
    val added = emb.where(col("vec_id") >= 300 && pmod(col("vec_id"), lit(16)) =!= 0)
    // deletes hit stored rows and rows still in the delta
    val gone = emb.where(pmod(col("vec_id"), lit(4)) === 3 && col("vec_id") < 360)
    val ivf = tmp("ann_pending_ivf")
    val comp = tmp("ann_pending_pq")
    AnnIndex.materialize(base, "vec_id", "embedding", 64, ivf)
    ProductQuantizer.materializeIvfPq(base, "vec_id", "embedding", spark.read.parquet(ivf), spec, comp)
    for (half <- Seq(added.where(col("vec_id") < 400), added.where(col("vec_id") >= 400))) {
      AnnIndex.appendToMaterialized(half, "vec_id", "embedding", 64, ivf)
      ProductQuantizer.appendToIvfPq(half, "vec_id", "embedding", ivf, 64, comp)
    }
    AnnIndex.deleteFromMaterialized(gone, "vec_id", "embedding", 64, ivf)
    ProductQuantizer.deleteFromIvfPq(gone, "vec_id", "embedding", ivf, 64, comp)
    for (t <- Seq(ivf, s"$comp/codes")) {
      val m = manifest(t)
      assert(m.delta.size == 2 && m.tombs.nonEmpty && !m.folding, s"$t: $m")
    }
    val survivors = base.union(added).join(gone.select("vec_id"), Seq("vec_id"), "left_anti")
    val ivfFresh = tmp("ann_pending_ivf_fresh")
    val compFresh = tmp("ann_pending_pq_fresh")
    AnnIndex.materialize(survivors, "vec_id", "embedding", 64, ivfFresh)
    ProductQuantizer.materializeIvfPq(survivors, "vec_id", "embedding",
      spark.read.parquet(ivfFresh), spec, compFresh)
    val pending = AnnIndex.fromMaterialized(emb, "vec_id", "embedding", 64, ivf)
    val fresh = AnnIndex.fromMaterialized(emb, "vec_id", "embedding", 64, ivfFresh)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq
    val qids = Seq(3L, 301L, 333L, 402L, 77L)
    for (q <- qids.map(qvec); nprobe <- Seq(2, 8)) {
      assert(rows(pending.probeTopK(q, 10, nprobe)) == rows(fresh.probeTopK(q, 10, nprobe)))
      assert(rows(ProductQuantizer.probeIvfPqTopK(pending, "vec_id", "embedding", comp, q, 10, nprobe)) ==
        rows(ProductQuantizer.probeIvfPqTopK(fresh, "vec_id", "embedding", compFresh, q, 10, nprobe)))
    }
    for (q <- qids.map(qvec))
      assert(rows(pending.bruteForceTopK(q, 10)) == rows(fresh.bruteForceTopK(q, 10)))
    val queries = emb.where(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    assert(rows(pending.probeTopKBatch(queries, "qid", "qvec", 10)).toSet ==
      rows(fresh.probeTopKBatch(queries, "qid", "qvec", 10)).toSet)
    assert(rows(pending.recallAtK(queries, "qid", "qvec", 10)).toSet ==
      rows(fresh.recallAtK(queries, "qid", "qvec", 10)).toSet)
    assert(AnnIndexSpec.liveAssignment(spark, ivf) == storedAssignment(ivfFresh))
    assert(ProductQuantizerSpec.liveCodes(spark, comp) == ProductQuantizerSpec.liveCodes(spark, compFresh))
  }

  test("pending edge cases: a delete from the delta, a revive, an empty delete, and a fold equal to a rebuild") {
    val path = tmp("ann_pending_edges")
    def live(ids: Long*) = emb.where(col("vec_id").isin(ids: _*))
    AnnIndex.materialize(emb.where(col("vec_id") < 250), "vec_id", "embedding", 64, path)
    val batch = emb.where(col("vec_id") >= 250 && col("vec_id") < 300 && pmod(col("vec_id"), lit(64)) =!= 0)
    AnnIndex.appendToMaterialized(batch, "vec_id", "embedding", 64, path)
    // an id still in the delta: its tombstone hides the delta row
    AnnIndex.deleteFromMaterialized(live(261L), "vec_id", "embedding", 64, path)
    assert(!AnnIndexSpec.liveAssignment(spark, path).exists(_._1 == 261L))
    // a stored id deleted and appended again comes back exactly once: the
    // append folds first, so the old row is gone before the new one lands
    AnnIndex.deleteFromMaterialized(live(5L), "vec_id", "embedding", 64, path)
    assert(manifest(path).tombs.exists(_._1 == 5L))
    AnnIndex.appendToMaterialized(live(5L), "vec_id", "embedding", 64, path)
    val m = manifest(path)
    assert(m.tombs.isEmpty && m.delta.size == 1, s"the revive did not fold first: $m")
    val s = graft.ops.CentroidStore.Store.open(spark, path, "embedding", Seq("stride" -> 64), "reading")
    assert(s.all.where(col("vec_id") === 5).count() == 1)
    // an empty delete batch leaves no tombstone state
    AnnIndex.deleteFromMaterialized(emb.where(lit(false)), "vec_id", "embedding", 64, path)
    assert(manifest(path) == m)
    // a fold is row-identical to a rebuild, and leaves nothing pending
    val survivors = emb.where(col("vec_id") < 300 && col("vec_id") =!= 261 &&
      (col("vec_id") < 250 || pmod(col("vec_id"), lit(64)) =!= 0))
    val fresh = tmp("ann_pending_edges_fresh")
    AnnIndex.materialize(survivors, "vec_id", "embedding", 64, fresh)
    AnnIndex.compactBuckets(spark, path)
    assert(storedAssignment(path) == storedAssignment(fresh))
    assert(spark.read.parquet(path).groupBy("vec_id").count().where(col("count") > 1).isEmpty)
    assert(manifest(path).settled && !new java.io.File(path, "_graft_delta").exists)
    // probes afterwards scan bucket directories only
    val df = AnnIndex.fromMaterialized(emb, "vec_id", "embedding", 64, path).probeTopK(qvec(5), 10)
    df.collect()
    val roots = AnnIndexSpec.scanRoots(df)
    assert(roots.nonEmpty && roots.forall(_.startsWith("__centroid=")), roots)
  }
}

object AnnIndexSpec {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** The live `(vec_id, bucket)` rows of the IVF store at `path`: its
    * buckets, its pending delta rows and tombstones applied.
    */
  def liveAssignment(spark: SparkSession, path: String, stride: Int = 64): Set[(Long, Long)] =
    graft.ops.CentroidStore.Store.open(spark, path, "embedding", Seq("stride" -> stride), "reading")
      .all.select(col("vec_id"), col("__centroid").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Names of the directories the file scans of `df`'s executed plan list. */
  def scanRoots(df: DataFrame): Seq[String] = {
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    Plans.collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.getName)
    }.flatten
  }

  /** The assignment rule as the IVF build first wrote it, kept as the
    * reference: a join against the stride centroids and a
    * `min(struct(d, cid))` per id. With `superStride > 0`, the graph's
    * tiered rule: the same per level, first against the super-centroids
    * (ids divisible by `superStride`), then against the centroids that
    * themselves file under the row's super.
    */
  def structMin(df: DataFrame, idCol: String, vecCol: String, stride: Int,
      superStride: Int = 0): Set[(Long, Long)] = {
    val cents = df.where(pmod(col(idCol), lit(stride)) === 0)
      .select(col(idCol).cast("long").as("__cid"), col(vecCol).as("__cvec"))
    def nearest(rows: DataFrame, cands: DataFrame, on: org.apache.spark.sql.Column) =
      rows.join(broadcast(cands), on)
        .select(col(idCol), struct(
          graft.functions.array_cosine_distance(col(vecCol), col("__cvec")).as("d"),
          col("__cid").as("cid")).as("__dc"))
        .groupBy(col(idCol)).agg(min(col("__dc")).getField("cid").as("__centroid"))
    val rows =
      if (superStride <= 0) nearest(df, cents, lit(true))
      else {
        val supers = nearest(df, cents.where(pmod(col("__cid"), lit(superStride)) === 0), lit(true))
        nearest(df.join(supers.withColumnRenamed("__centroid", "__s"), idCol),
          cents.join(supers.select(col(idCol).cast("long").as("__cid"), col("__centroid").as("__cs")),
            "__cid"), col("__s") === col("__cs"))
      }
    rows.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }
}

/** PQ-ADC tier (ops/ProductQuantizer): code validity, recall vs brute
  * force, exactness when rerank covers the corpus, and the IVF-PQ
  * composition through AnnIndex.probedRows.
  */
class ProductQuantizerSpec extends SparkTestBase {
  import graft.ops.{AnnIndex, ProductQuantizer}
  import ProductQuantizer.PqSpec

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  // stride 16 -> 32 codebook entries per subspace: synthetic uniform
  // vectors carry no cluster structure for PQ to exploit, so recall needs
  // codebook granularity that real (clustered) embeddings get for free
  private val spec = PqSpec(m = 8, dsub = 8, stride = 16)

  private def qvec(id: Long): Array[Double] =
    emb.where(col("vec_id") === id).select("embedding").head()
      .getSeq[Float](0).map(_.toDouble).toArray

  private def bruteIds(q: Array[Double], k: Int): Seq[Long] =
    emb.select(col("vec_id"),
        graft.functions.array_cosine_distance(col("embedding"),
          typedLit(q.toSeq)).as("d"))
      .orderBy(col("d").asc_nulls_last, col("vec_id").asc)
      .limit(k).collect().map(_.getLong(0)).toSeq

  test("PQ codes: one code per (vector, subspace), all within the codebook") {
    val cb = ProductQuantizer.codebooks(emb, "vec_id", "embedding", spec)
    val ksub = cb.select("__j").distinct().count()
    assert(ksub == (500 + 15) / 16, s"unexpected codebook size $ksub")
    val codes = ProductQuantizer.encode(emb, "vec_id", "embedding", cb, spec)
    assert(codes.count() == 500L * spec.m)
    assert(codes.groupBy("__id", "__m").count().where(col("count") =!= 1).count() == 0)
    assert(codes.where(col("__code") < 0 || col("__code") >= ksub).count() == 0)
  }

  test("PQ ADC rerank: recall@10 >= 8/10 vs brute force on each probe") {
    // uniform random vectors concentrate pairwise distances (no cluster
    // margin for ADC to separate), the worst case for PQ — overfetch is
    // the standard recall knob and stays a constant per query at scale
    for (id <- Seq(1L, 7L, 42L)) {
      val brute = bruteIds(qvec(id), 10).toSet
      val pq = ProductQuantizer.adcRerankTopK(emb, "vec_id", "embedding",
          qvec(id), k = 10, spec, overfetch = 150)
        .collect().map(_.getLong(0)).toSet
      val recall = pq.intersect(brute).size
      assert(recall >= 8, s"query $id: recall@10 = $recall")
    }
  }

  test("PQ with corpus-wide overfetch equals brute force exactly") {
    val got = ProductQuantizer.adcRerankTopK(emb, "vec_id", "embedding",
        qvec(3), k = 10, spec, overfetch = 500)
      .collect().map(_.getLong(0)).toSeq
    assert(got == bruteIds(qvec(3), 10))
  }

  test("materialized PQ index reloads and probes identically; geometry guarded") {
    val path = java.nio.file.Files.createTempDirectory("pq_mat_test").toString
    ProductQuantizer.materialize(emb, "vec_id", "embedding", spec, path)
    val (loaded, pre) = ProductQuantizer.fromMaterialized(spark, path)
    assert(loaded == spec)
    val viaDisk = ProductQuantizer.adcRerankTopK(emb, "vec_id", "embedding",
        qvec(7), k = 10, loaded, overfetch = 100, precomputed = Some(pre))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inline = ProductQuantizer.adcRerankTopK(emb, "vec_id", "embedding",
        qvec(7), k = 10, spec, overfetch = 100)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaDisk == inline)
    // wrong expected geometry is rejected at open
    intercept[IllegalArgumentException] {
      ProductQuantizer.fromMaterialized(spark, path,
        expect = Some(ProductQuantizer.PqSpec(4, 16, 16)))
    }
  }

  test("PQ incremental append: half materialize + half append == full materialize") {
    val full = java.nio.file.Files.createTempDirectory("pq_full").toString
    val half = java.nio.file.Files.createTempDirectory("pq_half").toString
    ProductQuantizer.materialize(emb, "vec_id", "embedding", spec, full)
    // codebook ids all live in the even half (stride 16 keeps even ids),
    // so the half-build derives the SAME codebooks the full build did
    ProductQuantizer.materialize(
      emb.where(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding",
      spec, half)
    ProductQuantizer.appendToMaterialized(
      emb.where(pmod(col("vec_id"), lit(2)) === 1), "vec_id", "embedding", half)
    def codesOf(p: String): Set[(Long, Int, Long)] =
      spark.read.parquet(s"$p/codes").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(codesOf(half) == codesOf(full))
    // probes through the appended index match the full one
    val (sp2, pre) = ProductQuantizer.fromMaterialized(spark, half)
    val viaHalf = ProductQuantizer.adcRerankTopK(emb, "vec_id", "embedding",
        qvec(3), k = 10, sp2, overfetch = 100, precomputed = Some(pre))
      .collect().map(_.getLong(0)).toSeq
    val (_, preF) = ProductQuantizer.fromMaterialized(spark, full)
    val viaFull = ProductQuantizer.adcRerankTopK(emb, "vec_id", "embedding",
        qvec(3), k = 10, spec, overfetch = 100, precomputed = Some(preF))
      .collect().map(_.getLong(0)).toSeq
    assert(viaHalf == viaFull)
  }

  test("PQ delete equals a reduced-corpus materialize (both layouts)") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    // resolve the LIVE code dir (it moves across generations after a
    // compaction's atomic pointer flip)
    def codesOf(p: String): Set[(Long, Int, Long)] =
      spark.read.parquet(ProductQuantizer.resolveCodesDir(spark, p))
        .select(col("__id"), col("__m"), col("__code"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // Set equality hides IDENTICAL duplicate rows — assert none exist
    // physically (a revived id whose old rows weren't purged would double
    // its ADC distance on the precomputed path)
    def assertNoDuplicates(p: String): Unit = {
      val dups = spark.read.parquet(ProductQuantizer.resolveCodesDir(spark, p))
        .groupBy(col("__id"), col("__m")).count()
        .where(col("count") > 1).count()
      assert(dups == 0, s"store at $p holds duplicate (__id, __m) code rows")
    }
    val reduced = emb.where(pmod(col("vec_id"), lit(4)) =!= 3)
    // FLAT layout: a TOMBSTONE-sidecar delete — the code files must NOT
    // rewrite (delete cost ∝ batch, not corpus)
    val flat = java.nio.file.Files.createTempDirectory("pq_del_flat").toString
    ProductQuantizer.materialize(emb, "vec_id", "embedding", spec, flat)
    def codeFiles(p: String): Set[String] =
      new java.io.File(s"$p/codes").listFiles().toSeq
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
    val filesBefore = codeFiles(flat)
    ProductQuantizer.deleteFromMaterialized(
      emb.where(pmod(col("vec_id"), lit(4)) === 3), "vec_id", flat)
    assert(codeFiles(flat) == filesBefore,
      "flat delete must not rewrite the code files (tombstone sidecar)")
    assert(new java.io.File(s"$flat/tombstones").isDirectory)
    val flatRed = java.nio.file.Files.createTempDirectory("pq_del_flat_red").toString
    ProductQuantizer.materialize(reduced, "vec_id", "embedding", spec, flatRed)
    // every read path goes through fromMaterialized, which anti-joins the
    // sidecar: the visible code set equals the reduced rebuild already
    def visibleCodesOf(p: String): Set[(Long, Int, Long)] = {
      val (_, (_, codes)) = ProductQuantizer.fromMaterialized(spark, p)
      codes.select(col("__id"), col("__m"), col("__code"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    }
    assert(visibleCodesOf(flat) == codesOf(flatRed))
    // compaction folds the tombstones into the files; the folded sidecar
    // file is RETAINED one cycle for in-flight readers (r17 snapshot
    // retention) but must be invisible to every read — and a second
    // compaction ages it out entirely
    assert(ProductQuantizer.compactCodes(spark, flat))
    assert(codesOf(flat) == codesOf(flatRed))
    assert(ProductQuantizer.compactCodes(spark, flat, force = true))
    assert(!new java.io.File(s"$flat/tombstones").isDirectory)
    // a flat append after a (new) tombstone delete revives re-inserted ids
    ProductQuantizer.deleteFromMaterialized(
      emb.where(col("vec_id") === 2), "vec_id", flat)
    assert(visibleCodesOf(flat) ==
      codesOf(flatRed) -- codesOf(flatRed).filter(_._1 == 2L))
    ProductQuantizer.appendToMaterialized(
      emb.where(col("vec_id") === 2), "vec_id", "embedding", flat)
    assert(visibleCodesOf(flat) == codesOf(flatRed))
    assertNoDuplicates(flat) // the revive must purge id 2's OLD rows
    // the revive's forced fold leaves the sidecar file retained-but-folded
    // (invisible — the reads above prove it); one more compaction cycle
    // ages it out of the store entirely
    assert(ProductQuantizer.compactCodes(spark, flat, force = true))
    assert(!new java.io.File(s"$flat/tombstones").isDirectory,
      "a sidecar folded a full cycle ago must age out")
    // deleting a codebook-entry id is refused (entries are referenced)
    intercept[IllegalArgumentException] {
      ProductQuantizer.deleteFromMaterialized(
        emb.where(col("vec_id") === 64), "vec_id", flat)
    }
    // IVF-PQ layout: bucket-pruned rewrite, assignment required
    val ivf = java.nio.file.Files.createTempDirectory("pq_del_ivf").toString
    AnnIndex.materialize(emb, "vec_id", "embedding", 64, ivf)
    val comp = java.nio.file.Files.createTempDirectory("pq_del_comp").toString
    ProductQuantizer.materializeIvfPq(emb, "vec_id", "embedding",
      spark.read.parquet(ivf), spec, comp)
    intercept[IllegalArgumentException] { // partitioned layout needs the map
      ProductQuantizer.deleteFromMaterialized(
        emb.where(pmod(col("vec_id"), lit(4)) === 3), "vec_id", comp)
    }
    intercept[IllegalArgumentException] { // flat append would corrupt it
      ProductQuantizer.appendToMaterialized(
        emb.where(col("vec_id") === 3), "vec_id", "embedding", comp)
    }
    // the documented footgun now fails LOUDLY instead of silently
    // no-opping: an assignment missing the deleted ids (e.g. the
    // companion index read back AFTER its own delete) is rejected
    intercept[IllegalArgumentException] {
      ProductQuantizer.deleteFromMaterialized(
        emb.where(pmod(col("vec_id"), lit(4)) === 3), "vec_id", comp,
        assignment = Some(spark.read.parquet(ivf)
          .where(pmod(col("vec_id"), lit(4)) =!= 3)))
    }
    ProductQuantizer.deleteFromMaterialized(
      emb.where(pmod(col("vec_id"), lit(4)) === 3), "vec_id", comp,
      assignment = Some(spark.read.parquet(ivf)))
    val ivfRed = java.nio.file.Files.createTempDirectory("pq_del_ivf_red").toString
    AnnIndex.materialize(reduced, "vec_id", "embedding", 64, ivfRed)
    val compRed = java.nio.file.Files.createTempDirectory("pq_del_comp_red").toString
    ProductQuantizer.materializeIvfPq(reduced, "vec_id", "embedding",
      spark.read.parquet(ivfRed), spec, compRed)
    def bucketedCodesOf(p: String): Set[(Long, Int, Long, Long)] =
      spark.read.parquet(s"$p/codes")
        .select(col("__id"), col("__m"), col("__code"),
          col("__centroid").cast("long"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    // the live code table (tombstones pending) equals the rebuild; folded,
    // so does the stored one
    assert(ProductQuantizerSpec.liveCodes(spark, comp) == bucketedCodesOf(compRed))
    ProductQuantizer.compact(spark, comp)
    assert(bucketedCodesOf(comp) == bucketedCodesOf(compRed))
    // the IVF-PQ code table's bucket manifest tracks the directory truth
    // through materializeIvfPq + delete + fold
    val manifest = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$comp/codes", "_graft_buckets"))
      .split("\n").iterator.map(_.trim).filter(_.nonEmpty)
      .map(_.toLong).toSeq
    val dirs = new java.io.File(s"$comp/codes").listFiles().toSeq
      .filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith("__centroid="))
      .map(_.substring("__centroid=".length).toLong).sorted
    assert(manifest == dirs)
  }

  test("IVF-PQ replayed-assignment maintenance: append and delete equal the trusted-frame path and a rebuild") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    def bucketedCodesOf(p: String): Set[(Long, Int, Long, Long)] =
      spark.read.parquet(s"$p/codes")
        .select(col("__id"), col("__m"), col("__code"),
          col("__centroid").cast("long"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    // full-corpus reference store
    val ivfFull = java.nio.file.Files.createTempDirectory("pq_rp_ivff").toString
    AnnIndex.materialize(emb, "vec_id", "embedding", 64, ivfFull)
    val compFull = java.nio.file.Files.createTempDirectory("pq_rp_compf").toString
    ProductQuantizer.materializeIvfPq(emb, "vec_id", "embedding",
      spark.read.parquet(ivfFull), spec, compFull)
    // half store (evens — covers both codebook-entry and centroid ids),
    // then APPEND the odds with the REPLAYED assignment
    val evens = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    val odds = emb.where(pmod(col("vec_id"), lit(2)) === 1)
    val ivfHalf = java.nio.file.Files.createTempDirectory("pq_rp_ivfh").toString
    AnnIndex.materialize(evens, "vec_id", "embedding", 64, ivfHalf)
    val comp = java.nio.file.Files.createTempDirectory("pq_rp_comp").toString
    ProductQuantizer.materializeIvfPq(evens, "vec_id", "embedding",
      spark.read.parquet(ivfHalf), spec, comp)
    ProductQuantizer.appendToIvfPq(odds, "vec_id", "embedding",
      ivfPath = ivfHalf, stride = 64, path = comp)
    assert(ProductQuantizerSpec.liveCodes(spark, comp) == bucketedCodesOf(compFull),
      "replayed append must equal the full-corpus build")
    // DELETE via the replayed assignment (no trusted frame anywhere)
    ProductQuantizer.deleteFromIvfPq(
      emb.where(pmod(col("vec_id"), lit(4)) === 3), "vec_id", "embedding",
      ivfPath = ivfHalf, stride = 64, path = comp)
    val reduced = emb.where(pmod(col("vec_id"), lit(4)) =!= 3)
    val ivfRed = java.nio.file.Files.createTempDirectory("pq_rp_ivfr").toString
    AnnIndex.materialize(reduced, "vec_id", "embedding", 64, ivfRed)
    val compRed = java.nio.file.Files.createTempDirectory("pq_rp_compr").toString
    ProductQuantizer.materializeIvfPq(reduced, "vec_id", "embedding",
      spark.read.parquet(ivfRed), spec, compRed)
    assert(ProductQuantizerSpec.liveCodes(spark, comp) == bucketedCodesOf(compRed),
      "replayed delete must equal the reduced-corpus build")
    ProductQuantizer.compact(spark, comp)
    assert(bucketedCodesOf(comp) == bucketedCodesOf(compRed),
      "the folded code table must equal the reduced-corpus build")
    // appending codebook-entry or centroid ids is refused (frozen sets)
    intercept[IllegalArgumentException] {
      ProductQuantizer.appendToIvfPq(emb.where(col("vec_id") === 16),
        "vec_id", "embedding", ivfPath = ivfHalf, stride = 64, path = comp)
    }
    intercept[IllegalArgumentException] {
      ProductQuantizer.appendToIvfPq(emb.where(col("vec_id") === 64),
        "vec_id", "embedding", ivfPath = ivfHalf, stride = 64, path = comp)
    }
  }

  test("precomputed (codebooks, codes) probes equal the inline path") {
    val cb = ProductQuantizer.codebooks(emb, "vec_id", "embedding", spec)
    val codes = ProductQuantizer.encode(emb, "vec_id", "embedding", cb, spec)
    val pre = ProductQuantizer.adcRerankTopK(emb, "vec_id", "embedding",
        qvec(7), k = 10, spec, overfetch = 100,
        precomputed = Some((cb, codes)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inline = ProductQuantizer.adcRerankTopK(emb, "vec_id", "embedding",
        qvec(7), k = 10, spec, overfetch = 100)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pre == inline)
  }

  test("trained codebooks: same entry count, lower inertia, higher recall than stride on clustered data") {
    import graft.ops.ProductQuantizer
    // clustered fixture: 8 well-separated centers, 64 members each with
    // moderate noise — the distribution PQ exists for (uniform data, like
    // the synthetic embeddings table, has no structure for k-means to
    // learn, which is why this spec builds its own corpus)
    def u(x: Long): Double =
      graft.util.Hashing.splitmix64(x).toDouble / Long.MaxValue.toDouble
    val dim = 64
    val rows = (0 until 512).map { i =>
      val c = i / 64
      (i.toLong, (0 until dim).map(p => u(c * 7919L + p) + 0.35 * u(i * 104729L + p)).toArray)
    }
    val df = spark.createDataFrame(rows).toDF("id", "v")
    val sp = PqSpec(m = 8, dsub = 8, stride = 32)
    val strideCb = ProductQuantizer.codebooks(df, "id", "v", sp)
    val trainedCb = ProductQuantizer.trainedCodebooks(df, "id", "v", sp, iters = 2)
    assert(strideCb.count() == trainedCb.count(), "training must not drop entries")

    // k-means invariant: total quantization error (sum of min distances to
    // any entry, per subspace) does not rise
    def inertia(cb: org.apache.spark.sql.DataFrame): Double = {
      val sub = df.select(col("id"),
          posexplode(array((0 until sp.m).map(s =>
            slice(col("v"), s * sp.dsub + 1, sp.dsub)): _*)))
        .withColumnRenamed("pos", "__m").withColumnRenamed("col", "__sv")
      sub.join(broadcast(cb), Seq("__m"))
        .select(col("id"), col("__m"),
          graft.functions.array_distance(col("__sv"), col("__cbvec")).as("d"))
        .groupBy("id", "__m").agg(min("d").as("d"))
        .agg(sum("d")).head().getDouble(0)
    }
    val (i0, i2) = (inertia(strideCb), inertia(trainedCb))
    assert(i2 <= i0 + 1e-6, s"training raised quantization error: $i0 -> $i2")

    def bruteOf(q: Array[Double]): Set[Long] =
      df.select(col("id"),
          graft.functions.array_cosine_distance(col("v"), typedLit(q.toSeq)).as("d"))
        .orderBy(col("d").asc_nulls_last, col("id").asc)
        .limit(10).collect().map(_.getLong(0)).toSet
    def recallWith(cb: org.apache.spark.sql.DataFrame, q: Array[Double],
        overfetch: Int): Int = {
      val codes = ProductQuantizer.encode(df, "id", "v", cb, sp)
      ProductQuantizer.adcRerankTopK(df, "id", "v", q, k = 10, sp,
          overfetch = overfetch, precomputed = Some((cb, codes)))
        .collect().map(_.getLong(0)).toSet.intersect(bruteOf(q)).size
    }
    // moderate overfetch (40 for k=10) makes recall track ADC ranking
    // quality directly. Everything here is deterministic (splitmix64 data,
    // deterministic training/encode), so the aggregate is a pinned value,
    // not a flaky sample: trained must average >= 9/10 over the query set
    // on a fixture where the untrained init measurably scores lower.
    val qids = Seq(7, 137, 341)
    val rs = qids.map(q => recallWith(strideCb, rows(q)._2, 40)).sum
    val rt = qids.map(q => recallWith(trainedCb, rows(q)._2, 40)).sum
    assert(rt >= 9 * qids.size, s"trained recall@10 total = $rt/${10 * qids.size}")
    assert(rs < rt, s"stride recall $rs not below trained $rt — fixture has no training signal")

    // the trained build persists through the at-rest layout unchanged:
    // materialize(trainedIters) -> fromMaterialized == the inline trained path
    val path = java.nio.file.Files.createTempDirectory("pq_trained_mat").toString
    ProductQuantizer.materialize(df, "id", "v", sp, path, trainedIters = 2)
    val (_, pre) = ProductQuantizer.fromMaterialized(spark, path)
    val viaDisk = ProductQuantizer.adcRerankTopK(df, "id", "v", rows(7)._2,
        k = 10, sp, overfetch = 40, precomputed = Some(pre))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inline = ProductQuantizer.adcRerankTopK(df, "id", "v", rows(7)._2,
        k = 10, sp, overfetch = 40,
        precomputed = Some((trainedCb,
          ProductQuantizer.encode(df, "id", "v", trainedCb, sp))))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaDisk == inline, "materialized trained index diverged from inline")
  }

  test("materializeIvfPq: at-rest probe equals the inline composition and prunes both scans") {
    val annPath = java.nio.file.Files.createTempDirectory("ivfpq_ann").toString
    AnnIndex.materialize(emb, "vec_id", "embedding", 64, annPath)
    val idx = AnnIndex.fromMaterialized(emb, "vec_id", "embedding", 64, annPath)
    val pqPath = java.nio.file.Files.createTempDirectory("ivfpq_pq").toString
    ProductQuantizer.materializeIvfPq(emb, "vec_id", "embedding",
      spark.read.parquet(annPath), spec, pqPath)
    val got = ProductQuantizer.probeIvfPqTopK(idx, "vec_id", "embedding",
      pqPath, qvec(3), k = 10, nprobe = 4, overfetch = 100, spark = Some(spark))
    val gotRows = got.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // inline equivalent: full-corpus codebooks + codes, ADC restricted to
    // the probed rows, rerank over the probed rows
    val cb = ProductQuantizer.codebooks(emb, "vec_id", "embedding", spec)
    val codes = ProductQuantizer.encode(emb, "vec_id", "embedding", cb, spec)
    val probedIds = idx.probedRows(qvec(3), 4)
      .select(col("vec_id").cast("long").as("__id"))
    val pruned = codes.join(probedIds, Seq("__id"), "left_semi")
    val want = ProductQuantizer.adcRerankTopK(
        idx.probedRows(qvec(3), 4), "vec_id", "embedding", qvec(3),
        k = 10, spec, overfetch = 100, precomputed = Some((cb, pruned)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotRows == want, "at-rest IVF-PQ probe diverged from inline composition")
    // both the code scan and the float scan must carry a runtime partition
    // filter on __centroid — the probe never reads unprobed buckets
    val executed = got.queryExecution.executedPlan.toString
    assert(executed.contains("dynamicpruning") ||
      executed.contains("PartitionFilters: [isnotnull(__centroid"),
      s"no partition pruning on the IVF-PQ probe:\n$executed")
    // geometry marker is shared with the plain PQ layout
    intercept[IllegalArgumentException] {
      ProductQuantizer.fromMaterialized(spark, pqPath,
        expect = Some(ProductQuantizer.PqSpec(4, 16, 16)))
    }
  }

  test("IVF-PQ composition: PQ over probedRows; all-bucket probe is exact") {
    val idx = AnnIndex.build(emb, "vec_id", "embedding", stride = 64)
    val nCentroids = 500 / 64 + 1
    // all buckets + full overfetch -> brute force (tier composition loses
    // nothing when both tiers are un-truncated)
    val all = ProductQuantizer.adcRerankTopK(
        idx.probedRows(qvec(3), nCentroids), "vec_id", "embedding",
        qvec(3), k = 10, spec, overfetch = 500)
      .collect().map(_.getLong(0)).toSeq
    assert(all == bruteIds(qvec(3), 10))
    // pruned probe: recall floor vs brute force (uniform synthetic data
    // spreads true neighbors across buckets, so the IVF prune itself costs
    // recall; 4 of 8 buckets + PQ keeps a majority of the true top-10)
    val pruned = ProductQuantizer.adcRerankTopK(
        idx.probedRows(qvec(3), 4), "vec_id", "embedding",
        qvec(3), k = 10, spec, overfetch = 150)
      .collect().map(_.getLong(0)).toSet
    assert(pruned.intersect(bruteIds(qvec(3), 10).toSet).size >= 6,
      s"IVF-PQ recall too low: $pruned")
  }
}


object ProductQuantizerSpec {
  import org.apache.spark.sql.SparkSession

  /** The live code rows of the IVF-PQ store at `p`, as every probe reads
    * them: buckets, pending delta rows and tombstones applied.
    */
  def liveCodes(spark: SparkSession, p: String): Set[(Long, Int, Long, Long)] = {
    val (_, (_, codes)) = graft.ops.ProductQuantizer.fromMaterialized(spark, p)
    codes.select(col("__id"), col("__m"), col("__code"), col("__centroid").cast("long"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
  }
}

/** Graph-ANN tier (ops/GraphAnn): bounded-degree navigable graph, beam
  * search probe. Recall vs brute force at IVF-equivalent probe cost,
  * determinism, materialize round-trip, geometry guard.
  */
class GraphAnnSpec extends SparkTestBase {
  import graft.ops.{AnnIndex, GraphAnn, SizeRoute}

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def qvec(id: Long): Array[Double] =
    emb.where(col("vec_id") === id).select("embedding").head()
      .getSeq[Float](0).map(_.toDouble).toArray

  private def bruteIds(q: Array[Double], k: Int): Seq[Long] =
    emb.select(col("vec_id"),
        graft.functions.array_cosine_distance(col("embedding"),
          typedLit(q.toSeq)).as("d"))
      .orderBy(col("d").asc_nulls_last, col("vec_id").asc)
      .limit(k).collect().map(_.getLong(0)).toSeq

  private def pair(r: org.apache.spark.sql.Row): (Long, Option[Double]) =
    (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))

  /** A probe's `(id, cos_dist)` rows as [[ReferenceBeamSearch]] rows. */
  private def probed(df: org.apache.spark.sql.DataFrame): Seq[(Long, Option[Double])] =
    df.collect().map(pair).toSeq

  private def edgePairs(edges: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    edges.select(col("src").cast("long"), col("dst").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** [[ReferenceBeamSearch]] for query `q` over the `(src, dst)` pairs of
    * an edge frame, with the engine's distance from `q` to every corpus id.
    */
  private def reference(df: org.apache.spark.sql.DataFrame, idCol: String,
      vecCol: String, edges: Seq[(Long, Long)], q: Array[Double], k: Int,
      stride: Int, beam: Int = GraphAnn.DefaultBeam,
      rounds: Int = GraphAnn.DefaultRounds): ReferenceBeamSearch.Result = {
    val dist = df.where(col(idCol).isNotNull)
      .select(col(idCol).cast("long"),
        graft.functions.array_cosine_distance(col(vecCol), typedLit(q.toSeq)))
      .collect().map(pair).toMap
    ReferenceBeamSearch(edges, dist, stride, k, beam, rounds)
  }

  test("edge table is bounded-degree and two-family") {
    val edges = GraphAnn.buildEdges(emb, "vec_id", "embedding", stride = 64)
    val deg = edges.groupBy("src").count()
    assert(deg.where(col("count") > 2 * GraphAnn.DefaultDegree).count() == 0,
      "a node exceeded bucket-degree + centroid-degree")
    // centroids carry BOTH families: bucket-mate edges and centroid edges
    val centDeg = deg.where(col("src") % 64 === 0)
      .agg(min("count")).head().getLong(0)
    assert(centDeg > GraphAnn.DefaultDegree,
      s"centroid out-degree $centDeg has no centroid-layer edges")
  }

  /** An independent bucket kNN in plain Scala, one node per ROW (a
    * duplicated id is two nodes that never link to each other): stride
    * centroids, nearest-centroid assignment by (distance, id) — through
    * the nearest super and then its centroids when `superStride > 0` —
    * each node's `degree` nearest bucket-mates by (distance, dst id), and
    * the upper levels (centroid kNN within supers, exact kNN among the top
    * level). Returns member edges `(src, dst, dst row, bucket)`, upper
    * edges `(src, dst, dst row)` and the assignment `(row, bucket)`.
    */
  private def referenceBuild(rows: IndexedSeq[(Long, Array[Double])], stride: Int,
      degree: Int, superStride: Int = 0)
      : (Seq[(Long, Long, Int, Long)], Seq[(Long, Long, Int)], Seq[(Int, Long)]) = {
    def d(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      if (na == 0.0 || nb == 0.0) 2.0
      else 1.0 - math.max(-1.0, math.min(1.0, dot / (math.sqrt(na) * math.sqrt(nb))))
    }
    def argmin(i: Int, cands: Seq[Int]): Long =
      cands.map(c => (d(rows(i)._2, rows(c)._2), rows(c)._1)).min._2
    def knn(nodes: Seq[Int]): Seq[(Long, Long, Int)] = nodes.flatMap { i =>
      nodes.filter(j => rows(j)._1 != rows(i)._1)
        .sortBy(j => (d(rows(i)._2, rows(j)._2), rows(j)._1)).take(degree)
        .map(j => (rows(i)._1, rows(j)._1, j))
    }
    val cents = rows.indices.filter(i => rows(i)._1 % stride == 0)
    val (assign, upper) =
      if (superStride <= 0) (rows.indices.map(i => i -> argmin(i, cents)), knn(cents))
      else {
        val supers = rows.indices.filter(i => rows(i)._1 % superStride == 0)
        val superOf = cents.map(c => c -> argmin(c, supers)).toMap
        (rows.indices.map { i =>
          val s = argmin(i, supers)
          i -> argmin(i, cents.filter(superOf(_) == s))
        }, cents.groupBy(superOf).values.toSeq.flatMap(knn) ++ knn(supers))
      }
    val member = assign.groupBy(_._2).toSeq.flatMap { case (b, in) =>
      knn(in.map(_._1)).map { case (src, dst, j) => (src, dst, j, b) }
    }
    (member, upper, assign)
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame, idCol: String,
      vecCol: String): IndexedSeq[(Long, Array[Double])] =
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toIndexedSeq

  private def parquetFilesPerBucket(table: String): Seq[Int] =
    new java.io.File(table).listFiles().toSeq.filter(_.getName.contains("="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))

  /** buildEdges and materialize equal [[referenceBuild]] row for row (as
    * multisets), and every bucket directory of edges/ and assign/ holds one
    * file.
    */
  private def assertBuildMatchesReference(what: String,
      df: org.apache.spark.sql.DataFrame, idCol: String, vecCol: String,
      stride: Int, degree: Int, superStride: Int = 0): Unit = {
    val rows = rowsOf(df, idCol, vecCol)
    val (member, upper, assign) = referenceBuild(rows, stride, degree, superStride)
    def vec(j: Int): Seq[Double] = rows(j)._2.toSeq
    val built = GraphAnn.buildEdges(df, idCol, vecCol, stride, degree, superStride)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(built.sorted == (member.map(e => (e._1, e._2)) ++ upper.map(e => (e._1, e._2))).sorted,
      s"$what: buildEdges diverged from the reference kNN")
    val p = tmpDir("graph_ref")
    GraphAnn.materialize(df, idCol, vecCol, stride, degree, p, superStride)
    def read(t: String, cols: String*) = spark.read.parquet(s"$p/$t")
      .select(cols.map(c => col(c)): _*).collect().toSeq
    def stored(r: org.apache.spark.sql.Row, i: Int): Seq[Double] =
      r.getSeq[Any](i).map { case f: Float => f.toDouble; case x: Double => x }
    assert(read("edges", "src", "dst", GraphAnn.DstVecCol, "__bucket")
        .map(r => (r.getLong(0), r.getLong(1), stored(r, 2), r.get(3).toString.toLong))
        .sortBy(e => (e._1, e._2, e._4)) ==
      member.map(e => (e._1, e._2, vec(e._3), e._4)).sortBy(e => (e._1, e._2, e._4)),
      s"$what: edges/ diverged from the reference kNN")
    assert(read("cedges", "src", "dst", GraphAnn.DstVecCol)
        .map(r => (r.getLong(0), r.getLong(1), stored(r, 2))).sortBy(e => (e._1, e._2)) ==
      upper.map(e => (e._1, e._2, vec(e._3))).sortBy(e => (e._1, e._2)),
      s"$what: cedges/ diverged from the reference kNN")
    assert(read("assign", "__nid", "__centroid")
        .map(r => (r.getLong(0), r.get(1).toString.toLong)).sorted ==
      assign.map { case (i, b) => (rows(i)._1, b) }.sorted,
      s"$what: assign/ diverged from the reference assignment")
    for (t <- Seq("edges", "assign"))
      assert(parquetFilesPerBucket(s"$p/$t").forall(_ == 1),
        s"$what: a $t/ bucket directory holds more than one file")
  }

  /** The degenerate fixture: stride 8 over ids 0..47, centroids 0, 8, 40
    * head clusters A, B, C; centroid 16 duplicates 8's vector, member 45
    * duplicates it too, centroid 24 is the zero vector (both assigned to
    * the lowest tied centroid, so their own buckets stay empty); centroid
    * 32 points along an axis no member uses (a singleton bucket).
    */
  private def degenerateFixture: (org.apache.spark.sql.DataFrame, Seq[Array[Double]]) = {
    val sp = spark
    import sp.implicits._
    def u(x: Long): Double =
      graft.util.Hashing.splitmix64(x).toDouble / Long.MaxValue.toDouble
    def axis(a: Int): Array[Double] = Array.tabulate(8)(i => if (i == a) 1.0 else 0.0)
    val vecs = (0L until 48L).map {
      case 0L => axis(0)
      case 8L | 16L | 45L => axis(1)
      case 24L => Array.fill(8)(0.0)
      case 32L => axis(7)
      case 40L => axis(2)
      case i => Array.tabulate(8)(d =>
        (if (d == (i % 3).toInt) 1.0 else 0.0) + (if (d < 6) 0.4 * u(i * 31 + d) else 0.0))
    }
    (vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v"), vecs)
  }

  test("build equals an independent bucket kNN: flat, tiered, degenerate; one file per bucket") {
    assertBuildMatchesReference("flat/64", emb, "vec_id", "embedding", 64,
      GraphAnn.DefaultDegree)
    assertBuildMatchesReference("tiered/16/64", emb, "vec_id", "embedding", 16,
      GraphAnn.DefaultDegree, superStride = 64)
    val (deg, _) = degenerateFixture
    assertBuildMatchesReference("degenerate", deg, "id", "v", 8, 4)
    assertBuildMatchesReference("degenerate tiered", deg, "id", "v", 8, 4, superStride = 16)
    // the IVF store's bucket writes keep one file per bucket directory too
    val ivf = tmpDir("ivf_files")
    AnnIndex.materialize(emb, "vec_id", "embedding", 64, ivf)
    val files = parquetFilesPerBucket(ivf)
    assert(files.size == 8 && files.forall(_ == 1), s"IVF files per bucket: $files")
  }

  test("build contract: a duplicated id is one node per row; a NULL vector files under the lowest centroid") {
    val sp = spark
    import sp.implicits._
    // id 3 twice, with different vectors: each row is assigned and ranked
    // on its own and neither links to the other
    val dup = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.9, 0.1)), (3L, Seq(0.8, 0.3)),
      (3L, Seq(0.7, 0.2)), (4L, Seq(0.2, 0.9)), (5L, Seq(0.6, 0.6)),
      (6L, Seq(0.0, 1.0)), (7L, Seq(0.3, 0.8))).toDF("id", "v")
    assertBuildMatchesReference("duplicate ids", dup, "id", "v", 6, 2)
    val (member, _, assign) = referenceBuild(rowsOf(dup, "id", "v"), 6, 2)
    assert(assign.count(a => a._1 == 2 || a._1 == 3) == 2)
    assert(member.count(_._1 == 3L) == 4 && !member.exists(e => e._1 == 3L && e._2 == 3L))
    // a row with no nearest centroid (here: a NULL vector) is filed under
    // the lowest centroid (flat) or the lowest centroid of the lowest super
    // (tiered); an insert and a delete of that row replay the same rule, so
    // each equals a rebuild
    val withNull = Seq((0L, Some(Seq(1.0, 0.0))), (1L, Some(Seq(0.0, 1.0))),
      (2L, Some(Seq(0.5, 0.5))), (3L, Option.empty[Seq[Double]]),
      (4L, Some(Seq(0.1, 0.9))), (5L, Some(Seq(0.9, 0.2)))).toDF("id", "v")
    val nullRow = withNull.where(col("v").isNull)
    def store(p: String): (Set[(Long, Long, Long)], Set[(Long, Long)], Set[(Long, Long)]) = (
      spark.read.parquet(s"$p/edges").collect()
        .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"),
          r.getAs[Any]("__bucket").toString.toLong)).toSet,
      spark.read.parquet(s"$p/cedges").select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet,
      spark.read.parquet(s"$p/assign").collect()
        .map(r => (r.getAs[Long]("__nid"), r.getAs[Any]("__centroid").toString.toLong)).toSet)
    for (superStride <- Seq(0, 4)) {
      val full = tmpDir("null_full")
      GraphAnn.materialize(withNull, "id", "v", 2, 2, full, superStride)
      assert(store(full)._3.contains((3L, 0L)), s"superStride $superStride: ${store(full)._3}")
      val grown = tmpDir("null_grown")
      GraphAnn.materialize(withNull.where(col("v").isNotNull), "id", "v", 2, 2, grown,
        superStride)
      GraphAnn.appendToMaterialized(nullRow, "id", "v", 2, 2, grown, superStride)
      assert(store(grown) == store(full), s"superStride $superStride: insert != rebuild")
      val reduced = tmpDir("null_reduced")
      GraphAnn.materialize(withNull.where(col("v").isNotNull), "id", "v", 2, 2, reduced,
        superStride)
      GraphAnn.deleteFromMaterialized(nullRow, "id", "v", 2, 2, full, superStride)
      assert(store(full) == store(reduced), s"superStride $superStride: delete != rebuild")
    }
  }

  test("beam search: recall@10 vs brute force at IVF-equivalent cost; deterministic") {
    // the uniform synthetic corpus is graph navigation's WORST case
    // (neighbor-of-neighbor correlation is weakest for i.i.d. uniform
    // vectors at dim 64), so the bar here is parity-class with the IVF
    // probe at comparable scored-vector cost, not the production recall —
    // the clustered-fixture test below pins that
    val edges = GraphAnn.buildEdges(emb, "vec_id", "embedding", stride = 64)
    val ivf = AnnIndex.build(emb, "vec_id", "embedding", stride = 64)
    var (graphTotal, ivfTotal) = (0, 0)
    for (id <- Seq(1L, 7L, 42L)) {
      val brute = bruteIds(qvec(id), 10).toSet
      val graph = GraphAnn.pointProbeTopK(emb, "vec_id", "embedding", edges,
          qvec(id), k = 10, stride = 64)
        .collect().map(_.getLong(0)).toSet
      val ivfHits = ivf.probeTopK(qvec(id), 10, nprobe = 4)
        .collect().map(_.getLong(0)).toSet
      val (rg, ri) = (graph.intersect(brute).size, ivfHits.intersect(brute).size)
      info(s"q=$id graph=$rg ivf(nprobe=4)=$ri")
      assert(rg >= 5, s"query $id: graph recall@10 = $rg")
      graphTotal += rg; ivfTotal += ri
    }
    assert(graphTotal >= ivfTotal - 3,
      s"graph total $graphTotal not parity-class with IVF $ivfTotal")
    // determinism: the probe is a pure function of (corpus, edges, query)
    val a = GraphAnn.pointProbeTopK(emb, "vec_id", "embedding", edges,
      qvec(7), k = 10, stride = 64).collect().toSeq
    val b = GraphAnn.pointProbeTopK(emb, "vec_id", "embedding", edges,
      qvec(7), k = 10, stride = 64).collect().toSeq
    assert(a == b)
  }

  test("beam search on clustered data: recall@10 >= 9/10 average") {
    // the distribution graph ANN exists for: well-separated clusters, the
    // trained-PQ fixture recipe. Entry centroids route to the query's
    // cluster, bucket-kNN edges walk within it.
    def u(x: Long): Double =
      graft.util.Hashing.splitmix64(x).toDouble / Long.MaxValue.toDouble
    val rows = (0 until 512).map { i =>
      val c = i / 64
      (i.toLong, (0 until 64).map(p => u(c * 7919L + p) + 0.35 * u(i * 104729L + p)).toArray)
    }
    val df = spark.createDataFrame(rows).toDF("id", "v")
    val edges = GraphAnn.buildEdges(df, "id", "v", stride = 64)
    def brute(q: Array[Double]): Set[Long] =
      df.select(col("id"),
          graft.functions.array_cosine_distance(col("v"), typedLit(q.toSeq)).as("d"))
        .orderBy(col("d").asc_nulls_last, col("id").asc)
        .limit(10).collect().map(_.getLong(0)).toSet
    val qids = Seq(7, 137, 341)
    val total = qids.map { qid =>
      val got = GraphAnn.pointProbeTopK(df, "id", "v", edges, rows(qid)._2,
          k = 10, stride = 64)
        .collect().map(_.getLong(0)).toSet
      val r = got.intersect(brute(rows(qid)._2)).size
      info(s"q=$qid recall=$r")
      r
    }.sum
    assert(total >= 9 * qids.size, s"clustered recall total $total/${10 * qids.size}")
  }

  test("point probe is row-identical to the reference beam search") {
    val edges = GraphAnn.buildEdges(emb, "vec_id", "embedding", stride = 64)
    val pairs = edgePairs(edges)
    for (id <- Seq(1L, 7L, 42L)) {
      val a = reference(emb, "vec_id", "embedding", pairs, qvec(id), k = 10,
        stride = 64)
      val b = probed(GraphAnn.pointProbeTopK(emb, "vec_id", "embedding", edges,
        qvec(id), k = 10, stride = 64))
      assert(a.rows == b, s"query $id: point probe diverged from the reference")
      assert(a.rounds == GraphAnn.lastProbeRounds, s"query $id: rounds differ")
    }
    // non-default geometry: narrower beam, fewer rounds
    val a = reference(emb, "vec_id", "embedding", pairs, qvec(3), k = 5,
      stride = 64, beam = 4, rounds = 2)
    val b = probed(GraphAnn.pointProbeTopK(emb, "vec_id", "embedding", edges,
      qvec(3), k = 5, stride = 64, beam = 4, rounds = 2))
    assert(a.rows == b)
    assert(a.rounds == GraphAnn.lastProbeRounds)
  }

  test("batched beam search is row-identical per query to the single-query shapes") {
    val edges = GraphAnn.buildEdges(emb, "vec_id", "embedding", stride = 64)
    val pairs = edgePairs(edges)
    val qids = Seq(1L, 7L, 42L)
    val queries = emb.where(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qv"))
    val batch = GraphAnn.beamSearchTopKBatch(emb, "vec_id", "embedding",
        edges, queries, "qid", "qv", k = 10, stride = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    for (id <- qids) {
      val single = reference(emb, "vec_id", "embedding", pairs, qvec(id),
          k = 10, stride = 64).rows.zipWithIndex
        .map { case ((nid, d), i) => (id, i + 1L, nid, d.get) }
      assert(batch(id).toSeq.sortBy(_._2) == single,
        s"query $id: batch probe diverged from the reference")
    }
    // non-default geometry + a query whose convergence round differs from
    // the others must freeze at ITS round, not the batch's last
    val queries2 = emb.where(col("vec_id").isin(3L, 11L))
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qv"))
    val batch2 = GraphAnn.beamSearchTopKBatch(emb, "vec_id", "embedding",
        edges, queries2, "qid", "qv", k = 5, stride = 64, beam = 4, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    for (id <- Seq(3L, 11L)) {
      val single = reference(emb, "vec_id", "embedding", pairs, qvec(id),
          k = 5, stride = 64, beam = 4, rounds = 2)
        .rows.map { case (nid, d) => (id, nid, d.get) }
      assert(batch2(id).toSeq == single)
    }
    // one-query chunks and float query vectors give the rows of one chunk
    // of double vectors
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    def batchOf(qs: org.apache.spark.sql.DataFrame) = GraphAnn.beamSearchTopKBatch(
      emb, "vec_id", "embedding", edges, qs, "qid", "qv", k = 10, stride = 64)
    val oneChunk = rows(batchOf(queries))
    assert(rows(SizeRoute.withBounds(SizeRoute.GraphProbeQueries -> 1)(
        batchOf(queries))) == oneChunk,
      "one-query chunks diverged from one chunk")
    assert(rows(batchOf(emb.where(col("vec_id").isin(qids: _*))
        .select(col("vec_id").as("qid"), col("embedding").as("qv")))) == oneChunk,
      "float query vectors diverged from double ones")
    // a NULL query id must NOT be read as long 0 (it would alias with a
    // real query 0), and a NULL vector has no probe: both are rejected
    val withNull = queries
      .select(when(col("qid") === 7L, lit(null).cast("long"))
        .otherwise(col("qid")).as("qid"), col("qv"))
    intercept[IllegalArgumentException](batchOf(withNull))
    val nullVec = queries.select(col("qid"),
      when(col("qid") === 7L, lit(null)).otherwise(col("qv")).as("qv"))
    val e = intercept[IllegalArgumentException](batchOf(nullVec))
    assert(e.getMessage.contains("query 7 "), e.getMessage)
    // two vectors under one query id would share one beam: rejected
    val dupIds = queries.union(queries.where(col("qid") === 42L)
      .select(lit(7L).as("qid"), col("qv")))
    val dup = intercept[IllegalArgumentException](batchOf(dupIds))
    assert(dup.getMessage.contains(": 7 "), dup.getMessage)
  }

  test("tiered centroid layer: parity-class recall, bounded degree, geometry guard") {
    // stride 16 -> ~31 centroids, superStride 64 -> ~8 super-centroids on
    // the 500-vector corpus: small, but exercises all three edge levels
    val flat = GraphAnn.buildEdges(emb, "vec_id", "embedding", stride = 16)
    val tiered = GraphAnn.buildEdges(emb, "vec_id", "embedding", stride = 16,
      degree = GraphAnn.DefaultDegree, superStride = 64)
    var (flatTotal, tierTotal) = (0, 0)
    for (id <- Seq(1L, 7L, 42L)) {
      val brute = bruteIds(qvec(id), 10).toSet
      def recall(edges: org.apache.spark.sql.DataFrame): Int =
        GraphAnn.pointProbeTopK(emb, "vec_id", "embedding", edges, qvec(id),
            k = 10, stride = 16)
          .collect().map(_.getLong(0)).toSet.intersect(brute).size
      val (rf, rt) = (recall(flat), recall(tiered))
      info(s"q=$id flat=$rf tiered=$rt")
      flatTotal += rf; tierTotal += rt
    }
    assert(tierTotal >= flatTotal - 3,
      s"tiered recall $tierTotal not parity-class with flat $flatTotal")
    // a super-centroid carries at most member + centroid + top families
    val maxDeg = tiered.groupBy("src").count().agg(max("count")).head().getLong(0)
    assert(maxDeg <= 3L * GraphAnn.DefaultDegree, s"out-degree $maxDeg")
    // geometry marker includes the tier and mismatches fail fast
    val path = java.nio.file.Files.createTempDirectory("graph_tier").toString
    GraphAnn.materialize(emb, "vec_id", "embedding", 16,
      GraphAnn.DefaultDegree, path, superStride = 64)
    val reopened = GraphAnn.fromMaterialized(spark, path, 16,
      GraphAnn.DefaultDegree, superStride = 64)
    assert(reopened.count() == tiered.count())
    intercept[IllegalArgumentException] {
      GraphAnn.fromMaterialized(spark, path, 16, GraphAnn.DefaultDegree)
    }
  }

  test("wider beam / more rounds converge toward brute force") {
    val edges = GraphAnn.buildEdges(emb, "vec_id", "embedding", stride = 64,
      degree = 8)
    val brute = bruteIds(qvec(3), 10).toSet
    val recalls = Seq((4, 1), (8, 2), (16, 3), (32, 4)).map { case (beam, rounds) =>
      GraphAnn.pointProbeTopK(emb, "vec_id", "embedding", edges, qvec(3),
          k = 10, stride = 64, beam = beam, rounds = rounds)
        .collect().map(_.getLong(0)).toSet.intersect(brute).size
    }
    info(s"recall ladder: $recalls")
    assert(recalls.last >= 9, s"widest probe recall ${recalls.last}")
    assert(recalls.head <= recalls.last, s"ladder not improving: $recalls")
  }

  test("convergence early-exit: a raised round cap costs nothing once converged") {
    // clustered fixture (the case graph ANN exists for): the greedy walk
    // converges in a few rounds, so a deep cap must EARLY-EXIT with rows
    // identical to the capped run — `rounds` is a cap, not the cost. This
    // is the HNSW termination rule, shared by the probe, the reference
    // search and the SQL oracle's per-round frontier guard.
    def u(x: Long): Double =
      graft.util.Hashing.splitmix64(x).toDouble / Long.MaxValue.toDouble
    val rows = (0 until 512).map { i =>
      val c = i / 64
      (i.toLong, (0 until 64).map(p => u(c * 7919L + p) + 0.35 * u(i * 104729L + p)).toArray)
    }
    val df = spark.createDataFrame(rows).toDF("id", "v")
    val edges = GraphAnn.buildEdges(df, "id", "v", stride = 64)
    val q = rows(137)._2
    val capped = probed(GraphAnn.pointProbeTopK(df, "id", "v", edges, q,
      k = 10, stride = 64, rounds = 4))
    val cappedRounds = GraphAnn.lastProbeRounds
    val deep = probed(GraphAnn.pointProbeTopK(df, "id", "v", edges, q,
      k = 10, stride = 64, rounds = 16))
    val deepRounds = GraphAnn.lastProbeRounds
    info(s"rounds executed: cap4=$cappedRounds cap16=$deepRounds")
    assert(deep == capped, "deep cap changed the converged result")
    assert(deepRounds < 16, "16-round cap never early-exited on clustered data")
    // the reference search exits at the same round with the same rows
    val refDeep = reference(df, "id", "v", edgePairs(edges), q, k = 10,
      stride = 64, rounds = 16)
    assert(refDeep.rows == deep, "reference diverged under early exit")
    assert(refDeep.rounds == deepRounds,
      "reference exited at a different round than the point probe")
  }

  test("materialized edges probe identically; geometry mismatch rejected") {
    val path = java.nio.file.Files.createTempDirectory("graph_mat").toString
    GraphAnn.materialize(emb, "vec_id", "embedding", 64, GraphAnn.DefaultDegree, path)
    val edges = GraphAnn.fromMaterialized(spark, path, 64, GraphAnn.DefaultDegree)
    val got = probed(GraphAnn.pointProbeTopK(emb, "vec_id", "embedding", edges,
      qvec(5), k = 10, stride = 64))
    val want = reference(emb, "vec_id", "embedding",
      edgePairs(GraphAnn.buildEdges(emb, "vec_id", "embedding", 64)),
      qvec(5), k = 10, stride = 64).rows
    assert(got == want)
    intercept[IllegalArgumentException] {
      GraphAnn.fromMaterialized(spark, path, 64, 16)
    }
  }

  test("graph compact: file counts collapse after append/delete cycles, probes unchanged") {
    val p = java.nio.file.Files.createTempDirectory("graph_compact").toString
    // start from a third of the corpus, then append the rest in 6 small
    // batches: assign/ gains one file per batch per touched bucket
    GraphAnn.materialize(emb.where(pmod(col("vec_id"), lit(3)) === 0),
      "vec_id", "embedding", 64, GraphAnn.DefaultDegree, p)
    (0 until 6).foreach { i =>
      GraphAnn.appendToMaterialized(
        emb.where(pmod(col("vec_id"), lit(3)) =!= 0)
          .where(pmod(col("vec_id"), lit(64)) =!= 0)
          .where(pmod(col("vec_id"), lit(6)) === i),
        "vec_id", "embedding", 64, GraphAnn.DefaultDegree, p)
    }
    def maxFiles(table: String): Int =
      new java.io.File(table).listFiles().toSeq.filter(_.isDirectory)
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).max
    assert(maxFiles(s"$p/assign") > 2,
      "fixture must actually fragment the assignment table")
    val edges = GraphAnn.fromMaterialized(spark, p, 64, GraphAnn.DefaultDegree)
    val before = GraphAnn.pointProbeTopK(emb, "vec_id", "embedding", edges,
        qvec(5), k = 10, stride = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def rowsOf(table: String, cols: Seq[String]): Set[Seq[Any]] =
      spark.read.parquet(table).select(cols.map(col): _*).collect()
        .map(_.toSeq.map {
          case v: Int => v.toLong // partition col may infer int
          case v => v
        }).toSet
    val assignBefore = rowsOf(s"$p/assign", Seq("__nid", "__centroid"))
    val edgesBefore = rowsOf(s"$p/edges", Seq("src", "dst", "__bucket"))
    val (ce, ca) = GraphAnn.compact(spark, p, maxFilesPerBucket = 2)
    assert(ca.nonEmpty, "over-threshold assign buckets must compact")
    assert(maxFiles(s"$p/assign") <= 2)
    // re-filing changes NOTHING: same rows, same probe
    assert(rowsOf(s"$p/assign", Seq("__nid", "__centroid")) == assignBefore)
    assert(rowsOf(s"$p/edges", Seq("src", "dst", "__bucket")) == edgesBefore)
    val after = GraphAnn.pointProbeTopK(emb, "vec_id", "embedding",
        GraphAnn.fromMaterialized(spark, p, 64, GraphAnn.DefaultDegree),
        qvec(5), k = 10, stride = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after == before)
    // manifests still match directory truth on both tables
    def manifestOf(table: String): Seq[Long] =
      java.nio.file.Files.readString(
          java.nio.file.Paths.get(table, "_graft_buckets"))
        .split("\n").iterator.map(_.trim).filter(_.nonEmpty)
        .map(_.toLong).toSeq
    def dirsOf(table: String, partCol: String): Seq[Long] =
      new java.io.File(table).listFiles().toSeq.filter(_.isDirectory)
        .map(_.getName).filter(_.startsWith(partCol + "="))
        .map(_.substring(partCol.length + 1).toLong).sorted
    assert(manifestOf(s"$p/assign") == dirsOf(s"$p/assign", "__centroid"))
    assert(manifestOf(s"$p/edges") == dirsOf(s"$p/edges", "__bucket"))
    // second call is a no-op (nothing over threshold)
    val (ce2, ca2) = GraphAnn.compact(spark, p, maxFilesPerBucket = 2)
    assert(ce2.isEmpty && ca2.isEmpty)
    assert(ce.isEmpty || maxFiles(s"$p/edges") <= 2)
  }

  test("graph incremental insert: half materialize + half append == full materialize") {
    val half = java.nio.file.Files.createTempDirectory("graph_inc").toString
    val full = java.nio.file.Files.createTempDirectory("graph_full").toString
    // even half first (every id divisible by stride 64 is even, so the
    // half-build's centroid set == the full build's), then the odd batch
    GraphAnn.materialize(emb.where(pmod(col("vec_id"), lit(2)) === 0),
      "vec_id", "embedding", 64, GraphAnn.DefaultDegree, half)
    GraphAnn.appendToMaterialized(emb.where(pmod(col("vec_id"), lit(2)) === 1),
      "vec_id", "embedding", 64, GraphAnn.DefaultDegree, half)
    GraphAnn.materialize(emb, "vec_id", "embedding", 64,
      GraphAnn.DefaultDegree, full)
    def edgeSet(p: String): Set[(Long, Long)] =
      GraphAnn.fromMaterialized(spark, p, 64, GraphAnn.DefaultDegree)
        .select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // row-identical artifact — the append IS the rebuild for touched buckets
    assert(edgeSet(half) == edgeSet(full))
    // and the probe over the appended artifact matches the full one exactly
    val gotP = GraphAnn.pointProbeTopK(emb, "vec_id", "embedding",
        GraphAnn.fromMaterialized(spark, half, 64, GraphAnn.DefaultDegree),
        qvec(5), k = 10, stride = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val wantP = GraphAnn.pointProbeTopK(emb, "vec_id", "embedding",
        GraphAnn.fromMaterialized(spark, full, 64, GraphAnn.DefaultDegree),
        qvec(5), k = 10, stride = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotP == wantP)
    // a batch that would add a centroid is rejected (bucket geometry frozen)
    intercept[IllegalArgumentException] {
      GraphAnn.appendToMaterialized(emb.where(col("vec_id") === 128),
        "vec_id", "embedding", 64, GraphAnn.DefaultDegree, half)
    }
    // opening a tiered artifact for append with the wrong superStride
    // (here: the flat default) is refused — geometry is authoritative
    val tiered = java.nio.file.Files.createTempDirectory("graph_tier_inc").toString
    GraphAnn.materialize(emb, "vec_id", "embedding", 64,
      GraphAnn.DefaultDegree, tiered, superStride = 128)
    intercept[IllegalArgumentException] {
      GraphAnn.appendToMaterialized(emb.where(col("vec_id") === 1),
        "vec_id", "embedding", 64, GraphAnn.DefaultDegree, tiered)
    }
    // the bucket manifests exist and list exactly the partition dirs
    def manifest(table: String): Seq[Long] =
      java.nio.file.Files.readString(
          java.nio.file.Paths.get(table, "_graft_buckets"))
        .split("\n").iterator.map(_.trim).filter(_.nonEmpty)
        .map(_.toLong).toSeq
    def dirs(table: String, partCol: String): Seq[Long] = {
      val d = new java.io.File(table).listFiles().toSeq
      d.filter(_.isDirectory).map(_.getName)
        .filter(_.startsWith(partCol + "="))
        .map(_.substring(partCol.length + 1).toLong).sorted
    }
    assert(manifest(s"$half/edges") == dirs(s"$half/edges", "__bucket"))
    assert(manifest(s"$half/assign") == dirs(s"$half/assign", "__centroid"))
  }

  test("graph delete: full build + batch delete == reduced-corpus build") {
    val del = java.nio.file.Files.createTempDirectory("graph_del").toString
    val red = java.nio.file.Files.createTempDirectory("graph_red").toString
    GraphAnn.materialize(emb, "vec_id", "embedding", 64,
      GraphAnn.DefaultDegree, del)
    GraphAnn.deleteFromMaterialized(emb.where(pmod(col("vec_id"), lit(4)) === 3),
      "vec_id", "embedding", 64, GraphAnn.DefaultDegree, del)
    val reduced = emb.where(pmod(col("vec_id"), lit(4)) =!= 3)
    GraphAnn.materialize(reduced, "vec_id", "embedding", 64,
      GraphAnn.DefaultDegree, red)
    def edgeSet(p: String): Set[(Long, Long)] =
      GraphAnn.fromMaterialized(spark, p, 64, GraphAnn.DefaultDegree)
        .select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // row-identical artifact: deletion may PROMOTE edges the stored
    // top-degree ranked out — the from-scratch touched-bucket recompute
    // must capture them (a filter of the stored edges would not)
    assert(edgeSet(del) == edgeSet(red))
    val gotP = GraphAnn.pointProbeTopK(reduced, "vec_id", "embedding",
        GraphAnn.fromMaterialized(spark, del, 64, GraphAnn.DefaultDegree),
        qvec(5), k = 10, stride = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val wantP = GraphAnn.pointProbeTopK(reduced, "vec_id", "embedding",
        GraphAnn.fromMaterialized(spark, red, 64, GraphAnn.DefaultDegree),
        qvec(5), k = 10, stride = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotP == wantP)
    // no deleted id survives anywhere in the artifact (src or dst)
    val ids = GraphAnn.fromMaterialized(spark, del, 64, GraphAnn.DefaultDegree)
      .select(explode(array(col("src"), col("dst"))).as("id"))
      .where(pmod(col("id"), lit(4)) === 3)
    assert(ids.isEmpty)
    // deleting a centroid-level id is refused (geometry frozen)
    intercept[IllegalArgumentException] {
      GraphAnn.deleteFromMaterialized(emb.where(col("vec_id") === 128),
        "vec_id", "embedding", 64, GraphAnn.DefaultDegree, del)
    }
  }

  test("graph delete clears emptied bucket partitions") {
    val sp = spark
    import sp.implicits._
    // two buckets: centroid 0 with one member 1 (nearby), centroid 64
    // with members 65, 66; deleting id 1 empties bucket 0's edge set
    def v(x: Double): Array[Float] =
      Array.tabulate(4)(i => if (i == 0) 1f else (x * (i + 1)).toFloat)
    val tiny = Seq(
      (0L, v(0.0)), (1L, v(0.01)),
      (64L, v(5.0)), (65L, v(5.01)), (66L, v(5.02))
    ).toDF("vec_id", "embedding")
    val p = java.nio.file.Files.createTempDirectory("graph_del_tiny").toString
    GraphAnn.materialize(tiny, "vec_id", "embedding", 64, 2, p)
    GraphAnn.deleteFromMaterialized(tiny.where(col("vec_id") === 1),
      "vec_id", "embedding", 64, 2, p)
    val red = java.nio.file.Files.createTempDirectory("graph_red_tiny").toString
    GraphAnn.materialize(tiny.where(col("vec_id") =!= 1),
      "vec_id", "embedding", 64, 2, red)
    def edgeSet(path: String): Set[(Long, Long)] =
      GraphAnn.fromMaterialized(spark, path, 64, 2)
        .select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edgeSet(p) == edgeSet(red))
    // the emptied bucket's edge directory is gone and the manifest agrees
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$p/edges", "__bucket=0")))
    val manifest = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$p/edges", "_graft_buckets"))
      .split("\n").iterator.map(_.trim).filter(_.nonEmpty).map(_.toLong).toSet
    assert(!manifest.contains(0L))
  }

  test("tiered graph incremental insert: half + append == full tiered build") {
    val half = java.nio.file.Files.createTempDirectory("graph_tinc").toString
    val full = java.nio.file.Files.createTempDirectory("graph_tfull").toString
    // even half first: ids divisible by stride 64 (and so by superStride
    // 128) are all even — the half build's centroid AND super sets equal
    // the full build's, the frozen-geometry contract
    GraphAnn.materialize(emb.where(pmod(col("vec_id"), lit(2)) === 0),
      "vec_id", "embedding", 64, GraphAnn.DefaultDegree, half,
      superStride = 128)
    GraphAnn.appendToMaterialized(emb.where(pmod(col("vec_id"), lit(2)) === 1),
      "vec_id", "embedding", 64, GraphAnn.DefaultDegree, half,
      superStride = 128)
    GraphAnn.materialize(emb, "vec_id", "embedding", 64,
      GraphAnn.DefaultDegree, full, superStride = 128)
    def edgeSet(p: String): Set[(Long, Long)] =
      GraphAnn.fromMaterialized(spark, p, 64, GraphAnn.DefaultDegree,
          superStride = 128)
        .select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // row-identical artifact: upper levels frozen by construction, member
    // level spliced under the build's exact hierarchical assignment rule
    assert(edgeSet(half) == edgeSet(full))
    val gotP = GraphAnn.pointProbeTopK(emb, "vec_id", "embedding",
        GraphAnn.fromMaterialized(spark, half, 64, GraphAnn.DefaultDegree,
          superStride = 128),
        qvec(5), k = 10, stride = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val wantP = GraphAnn.pointProbeTopK(emb, "vec_id", "embedding",
        GraphAnn.fromMaterialized(spark, full, 64, GraphAnn.DefaultDegree,
          superStride = 128),
        qvec(5), k = 10, stride = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotP == wantP)
    // and the tiered DELETE path: removing the 4k+3 rows from the spliced
    // artifact equals a reduced-corpus tiered build (same frozen-geometry
    // replay, survivors-only bucket recompute)
    GraphAnn.deleteFromMaterialized(emb.where(pmod(col("vec_id"), lit(4)) === 3),
      "vec_id", "embedding", 64, GraphAnn.DefaultDegree, half,
      superStride = 128)
    val redT = java.nio.file.Files.createTempDirectory("graph_tred").toString
    GraphAnn.materialize(emb.where(pmod(col("vec_id"), lit(4)) =!= 3),
      "vec_id", "embedding", 64, GraphAnn.DefaultDegree, redT,
      superStride = 128)
    assert(edgeSet(half) == edgeSet(redT))
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A store probe (bucket-granular expansion) equals, row for row and in
    * executed rounds, the plain point probe over the `built` edge frame and
    * the [[ReferenceBeamSearch]] over its edges on every query. All queries
    * as one batch over the store give each query its point-probe rows.
    */
  private def assertStoreProbes(what: String, df: org.apache.spark.sql.DataFrame,
      idCol: String, vecCol: String, store: org.apache.spark.sql.DataFrame,
      built: org.apache.spark.sql.DataFrame, queries: Seq[Array[Double]],
      stride: Int, k: Int = 10, beam: Int = GraphAnn.DefaultBeam,
      rounds: Int = GraphAnn.DefaultRounds): Unit = {
    def probe(edges: org.apache.spark.sql.DataFrame, q: Array[Double],
        rounds: Int) = {
      val rows = GraphAnn.pointProbeTopK(df, idCol, vecCol, edges, q, k,
        stride, beam, rounds).collect().toSeq
      (rows, GraphAnn.lastProbeRounds)
    }
    val pairs = edgePairs(built)
    val singles = queries.zipWithIndex.map { case (q, i) =>
      val (got, gotRounds) = probe(store, q, rounds)
      assert(got.nonEmpty, s"$what q$i: empty probe")
      assert((got, gotRounds) == probe(built, q, rounds),
        s"$what q$i: store probe diverged from the plain point probe")
      val want = reference(df, idCol, vecCol, pairs, q, k, stride, beam, rounds)
      assert((got.map(pair), gotRounds) == (want.rows, want.rounds),
        s"$what q$i: store probe diverged from the reference")
      got
    }
    val sp = spark
    import sp.implicits._
    val batch = GraphAnn.beamSearchTopKBatch(df, idCol, vecCol, store,
        queries.zipWithIndex.map { case (q, i) => (i.toLong, q.toSeq) }
          .toDF("qid", "qv"), "qid", "qv", k, stride, beam, rounds)
      .collect().toSeq.groupMap(_.getLong(0))(r => (r.getLong(1), r.getLong(2), r.get(3)))
    singles.zipWithIndex.foreach { case (rows, i) =>
      val single = rows.zipWithIndex
        .map { case (r, j) => (j + 1L, r.getLong(0), r.get(1)) }
      assert(batch.getOrElse(i.toLong, Nil).sortBy(_._1) == single,
        s"$what q$i: batch store probe diverged from the point probe")
    }
  }

  test("store probe equals both in-memory shapes on flat and tiered stores") {
    val qs = Seq(1L, 7L, 42L).map(qvec)
    for (stride <- Seq(16, 64)) {
      val p = tmpDir("graph_probe_flat")
      GraphAnn.materialize(emb, "vec_id", "embedding", stride,
        GraphAnn.DefaultDegree, p)
      val store = GraphAnn.fromMaterialized(spark, p, stride, GraphAnn.DefaultDegree)
      assert(store.columns.toSeq == Seq("src", "dst", GraphAnn.DstVecCol, "__bucket"))
      // centroid-level rows carry a NULL bucket, member rows their src's
      assert(store.where(col("__bucket").isNull)
        .where(pmod(col("src"), lit(stride)) =!= 0).isEmpty)
      val built = GraphAnn.buildEdges(emb, "vec_id", "embedding", stride)
      assertStoreProbes(s"flat/$stride", emb, "vec_id", "embedding", store,
        built, qs, stride)
      assertStoreProbes(s"flat/$stride narrow", emb, "vec_id", "embedding",
        store, built, qs.take(2), stride, k = 5, beam = 4)
    }
    val t = tmpDir("graph_probe_tiered")
    GraphAnn.materialize(emb, "vec_id", "embedding", 16,
      GraphAnn.DefaultDegree, t, superStride = 64)
    assertStoreProbes("tiered", emb, "vec_id", "embedding",
      GraphAnn.fromMaterialized(spark, t, 16, GraphAnn.DefaultDegree,
        superStride = 64),
      GraphAnn.buildEdges(emb, "vec_id", "embedding", 16,
        superStride = 64), qs, 16)
  }

  test("store probe equals both in-memory shapes after append, delete and a full drain") {
    val qs = Seq(1L, 7L, 42L).map(qvec)
    val appended = tmpDir("graph_probe_append")
    GraphAnn.materialize(emb.where(pmod(col("vec_id"), lit(2)) === 0),
      "vec_id", "embedding", 64, GraphAnn.DefaultDegree, appended)
    GraphAnn.appendToMaterialized(emb.where(pmod(col("vec_id"), lit(2)) === 1),
      "vec_id", "embedding", 64, GraphAnn.DefaultDegree, appended)
    assertStoreProbes("appended", emb, "vec_id", "embedding",
      GraphAnn.fromMaterialized(spark, appended, 64, GraphAnn.DefaultDegree),
      GraphAnn.buildEdges(emb, "vec_id", "embedding", 64), qs, 64)

    val deleted = tmpDir("graph_probe_delete")
    GraphAnn.materialize(emb, "vec_id", "embedding", 64,
      GraphAnn.DefaultDegree, deleted)
    GraphAnn.deleteFromMaterialized(emb.where(pmod(col("vec_id"), lit(4)) === 3),
      "vec_id", "embedding", 64, GraphAnn.DefaultDegree, deleted)
    val reduced = emb.where(pmod(col("vec_id"), lit(4)) =!= 3)
    assertStoreProbes("deleted", reduced, "vec_id", "embedding",
      GraphAnn.fromMaterialized(spark, deleted, 64, GraphAnn.DefaultDegree),
      GraphAnn.buildEdges(reduced, "vec_id", "embedding", 64), qs, 64)

    // every member deleted: no bucket directory is left, every centroid's
    // own bucket is empty and its member edges come from the src scan
    val drained = tmpDir("graph_probe_drain")
    val centroids = emb.where(pmod(col("vec_id"), lit(64)) === 0)
    GraphAnn.materialize(emb, "vec_id", "embedding", 64,
      GraphAnn.DefaultDegree, drained)
    GraphAnn.deleteFromMaterialized(emb.where(pmod(col("vec_id"), lit(64)) =!= 0),
      "vec_id", "embedding", 64, GraphAnn.DefaultDegree, drained)
    assert(graft.ops.IndexFiles.listSubdirs(spark, s"$drained/edges",
      "__bucket=").isEmpty)
    assertStoreProbes("drained", centroids, "vec_id", "embedding",
      GraphAnn.fromMaterialized(spark, drained, 64, GraphAnn.DefaultDegree),
      GraphAnn.buildEdges(centroids, "vec_id", "embedding", 64), qs, 64)
  }

  test("store probe is exact on duplicate, zero-vector and singleton-bucket centroids") {
    val (df, vecs) = degenerateFixture
    val p = tmpDir("graph_probe_degenerate")
    GraphAnn.materialize(df, "id", "v", 8, 4, p)
    for (b <- Seq(16, 24, 32)) assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$p/edges", s"__bucket=$b")), s"bucket $b not empty")
    // the entry beam holds all six centroids, so round 1 expands each one
    assertStoreProbes("degenerate", df, "id", "v",
      GraphAnn.fromMaterialized(spark, p, 8, 4),
      GraphAnn.buildEdges(df, "id", "v", 8, 4),
      Seq(vecs(8), vecs(32), vecs(5), vecs(13)), 8, k = 20, beam = 6)
  }

  test("concurrent probes on one session equal a serial run and leave its conf unchanged") {
    val emb = this.emb
    val p = tmpDir("graph_probe_concurrent")
    GraphAnn.materialize(emb, "vec_id", "embedding", 16,
      GraphAnn.DefaultDegree, p)
    val store = GraphAnn.fromMaterialized(spark, p, 16, GraphAnn.DefaultDegree)
    val sp = spark
    import sp.implicits._
    val ids = Seq(1L, 7L, 42L, 99L)
    val vecs = ids.map(qvec)
    val queries = ids.zip(vecs).map { case (id, v) => (id, v.toSeq) }.toDF("qid", "qv")
    def run(t: Int) = (
      GraphAnn.beamSearchTopKBatch(emb, "vec_id", "embedding", store, queries,
          "qid", "qv", k = 10, stride = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(r => (r._1, r._2)).toSeq,
      probed(GraphAnn.pointProbeTopK(emb, "vec_id", "embedding", store, vecs(t),
        k = 10, stride = 16)))
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.adaptive.enabled",
      "spark.sql.shuffle.partitions")
    val confs = keys.map(spark.conf.get)
    val serial = ids.indices.map(run)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val running = ids.indices.map(t =>
        pool.submit(new java.util.concurrent.Callable[Any] { def call(): Any = run(t) }))
      assert(running.map(_.get(5, java.util.concurrent.TimeUnit.MINUTES)) == serial)
    } finally pool.shutdown()
    assert(keys.map(spark.conf.get) == confs)
  }

  test("store probe runs at most one job per round plus the entry job") {
    // opened once: opening a parquet frame infers its schema in a job
    val emb = this.emb
    val p = tmpDir("graph_probe_jobs")
    GraphAnn.materialize(emb, "vec_id", "embedding", 16,
      GraphAnn.DefaultDegree, p)
    val store = GraphAnn.fromMaterialized(spark, p, 16, GraphAnn.DefaultDegree)
    for (id <- Seq(1L, 7L, 42L)) {
      val q = qvec(id)
      val (_, jobs) = JobCount(spark.sparkContext) {
        GraphAnn.pointProbeTopK(emb, "vec_id", "embedding", store, q,
          k = 10, stride = 16, beam = 4).collect()
      }
      val rounds = GraphAnn.lastProbeRounds
      assert(rounds >= 1 && jobs <= 1 + rounds, s"q$id: $jobs jobs in $rounds rounds")
    }
    // stride 64: the entry beam holds every centroid, so round 1 loads
    // every bucket and the later rounds run no job
    val all = tmpDir("graph_probe_jobs_all")
    GraphAnn.materialize(emb, "vec_id", "embedding", 64,
      GraphAnn.DefaultDegree, all)
    val allStore = GraphAnn.fromMaterialized(spark, all, 64, GraphAnn.DefaultDegree)
    for (id <- Seq(1L, 7L)) {
      val q = qvec(id)
      val (_, jobs) = JobCount(spark.sparkContext) {
        GraphAnn.pointProbeTopK(emb, "vec_id", "embedding", allStore, q,
          k = 10, stride = 64).collect()
      }
      val rounds = GraphAnn.lastProbeRounds
      assert(rounds >= 2, s"q$id: expected a multi-round probe, got $rounds")
      assert(jobs == 2, s"q$id: $jobs jobs in $rounds rounds")
    }
    // a Q-query batch: Q entry jobs, then still at most one job per round
    val sp = spark
    import sp.implicits._
    val qids = Seq(1L, 7L, 42L)
    val queries = qids.map(id => (id, qvec(id).toSeq)).toDF("qid", "qv")
    val (_, jobs) = JobCount(spark.sparkContext) {
      GraphAnn.beamSearchTopKBatch(emb, "vec_id", "embedding", store, queries,
        "qid", "qv", k = 10, stride = 16, beam = 4).collect()
    }
    val rounds = GraphAnn.lastProbeRounds
    assert(rounds >= 1 && jobs <= qids.size + rounds,
      s"batch: $jobs jobs in $rounds rounds")
    // chunks of c queries: one entry job per chunk, then at most one job
    // per round ([[GraphAnn.lastProbeRounds]] is the most any chunk ran)
    for (c <- Seq(1, 2, 3)) {
      val (_, jobs) = JobCount(spark.sparkContext) {
        SizeRoute.withBounds(SizeRoute.GraphProbeQueries -> c) {
          GraphAnn.beamSearchTopKBatch(emb, "vec_id", "embedding", store, queries,
            "qid", "qv", k = 10, stride = 16, beam = 4).collect()
        }
      }
      val rounds = GraphAnn.lastProbeRounds
      val chunks = (qids.size + c - 1) / c
      assert(rounds >= 1 && jobs <= chunks * (1 + rounds),
        s"chunk $c: $jobs jobs in $chunks chunks of at most $rounds rounds")
    }
  }
}

/** sim_join_lsh's documented check (it has no SQL oracle: the hyperplane
  * literals are impractical to replicate in DuckDB): every emitted pair is
  * exact-verified (precision 1.0 by construction — assert it), and recall
  * against the exact broadcast join stays above a measured floor.
  */
class LshRecallSpec extends SparkTestBase {
  test("sign-LSH cosine join: precision 1.0, recall >= 0.5 vs exact join") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val tau = 0.55
    val dim = emb.select(col("embedding")).head().getSeq[Float](0).length
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(graft.ops.SimilarityJoin.cosineJoinBroadcast(
      emb, "vec_id", "embedding", tau))
    val lsh = pairs(graft.ops.SimilarityJoin.cosineJoinLsh(
      emb, "vec_id", "embedding", tau, dim))
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    assert(exact.nonEmpty, "exact join returned no pairs — tau too tight for this data")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall below floor (lsh=${lsh.size}, exact=${exact.size})")
  }
}

/** Sketch error bounds: HLL within its configured relative standard
  * deviation of the exact count (the sketch_stats query asserts the same
  * bound as an oracle-checked boolean; this pins it independently).
  */
class SketchBoundsSpec extends SparkTestBase {
  test("approx_count_distinct stays within 4 rsd of exact") {
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    val rsd = 0.05
    val rows = li.groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_orderkey"), rsd).as("approx"),
        count_distinct(col("l_orderkey")).as("exact"))
      .collect()
    rows.foreach { r =>
      val approx = r.getLong(1).toDouble
      val exact = r.getLong(2).toDouble
      assert(math.abs(approx - exact) / exact <= 4 * rsd,
        s"${r.getString(0)}: approx $approx vs exact $exact")
    }
  }
}
