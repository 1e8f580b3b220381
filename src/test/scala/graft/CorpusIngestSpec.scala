package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.TextOps
import graft.streaming.CorpusIngest

/** Streaming corpus ingest with near-dup dedup: micro-batches deduped
  * within themselves and against the static corpus; stream == batch by
  * construction (foreachBatch reuses the batch operators), which the spec
  * still verifies end to end.
  */
class CorpusIngestSpec extends SparkTestBase {

  private val Tau = 0.5

  private def shingled(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      TextOps.wordNGrams(col("text"), 3).as("sh"), col("text"))

  private def docsDf(rows: (Long, String)*): DataFrame = {
    val sp = spark
    import sp.implicits._
    shingled(rows.toDF("doc_id", "text"))
  }

  private val corpus = docsDf(
    100L -> "the quick brown fox jumps over the lazy dog today",
    101L -> "completely different corpus text about spark and scala engines")

  test("per-batch: within-batch dups then corpus dups are dropped, fresh kept") {
    val batch = docsDf(
      1L -> "the quick brown fox jumps over the lazy dog today", // corpus dup
      2L -> "an entirely new document with its own novel wording here",
      3L -> "an entirely new document with its own novel wording here", // within-batch dup of 2
      4L -> "unrelated fresh content mentioning neither foxes nor engines")
    val out = CorpusIngest.processBatch(batch, corpus, "doc_id", "sh", Tau)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(2L, 4L))
  }

  test("streaming ingest over two epochs matches per-batch application") {
    val sp = spark
    import sp.implicits._
    val epoch1 = Seq(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "an entirely new document with its own novel wording here")
    val epoch2 = Seq(
      3L -> "an entirely new document with its own novel wording here",
      4L -> "unrelated fresh content mentioning neither foxes nor engines")

    val stream = MemoryStream[(Long, String)](sp)
    val sdf = shingled(stream.toDF().toDF("doc_id", "text"))
    val got = mutable.Map[Long, Set[Long]]()
    val q = CorpusIngest.dedupedIngest(sdf, corpus, "doc_id", "sh", Tau) {
      (survivors, epochId) =>
        val ids = survivors.select("doc_id").collect().map(_.getLong(0)).toSet
        got.synchronized { got(epochId) = got.getOrElse(epochId, Set.empty) ++ ids }
    }
    stream.addData(epoch1)
    q.processAllAvailable()
    stream.addData(epoch2)
    q.processAllAvailable()
    q.stop()

    val surviving = got.values.flatten.toSet
    // epoch 1: 1 is a corpus dup, 2 survives. epoch 2: 3 duplicates epoch-1's
    // doc 2 but the corpus frame here is STATIC, so 3 survives (see the
    // evolving-corpus test for the fold-in contract); 4 survives.
    assert(surviving == Set(2L, 3L, 4L))
    // identical to applying the batch function per epoch
    val manual1 = CorpusIngest.processBatch(docsDf(epoch1: _*), corpus, "doc_id", "sh", Tau)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val manual2 = CorpusIngest.processBatch(docsDf(epoch2: _*), corpus, "doc_id", "sh", Tau)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(surviving == manual1 ++ manual2)
  }

  test("clustered ingest: streamed label maintenance == from-scratch clustering") {
    val sp = spark
    import sp.implicits._
    // corpus: docs 100/101 near-dup each other; 102 is a singleton pair-wise
    val baseDocs = Seq(
      100L -> "the quick brown fox jumps over the lazy dog today",
      101L -> "the quick brown fox jumps over the lazy dog tonight",
      102L -> "completely different corpus text about spark and scala engines")
    // epoch 1: 5 dups the 100-cluster; 6 is fresh. epoch 2: 7 dups 6
    // (cross-EPOCH — only visible if the batch folded into the at-rest
    // side), 8 bridges nothing.
    val epoch1 = Seq(
      5L -> "the quick brown fox jumps over the lazy dog today",
      6L -> "an entirely new document with its own novel wording here")
    val epoch2 = Seq(
      7L -> "an entirely new document with its own novel wording here",
      8L -> "unrelated fresh content mentioning neither foxes nor engines")
    def sh(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text").select(col("doc_id"),
        TextOps.wordNGrams(col("text"), 3).as("sh"))
    val state = CorpusIngest.clusterState(sh(baseDocs), "doc_id", "sh", Tau)
    val stream = MemoryStream[(Long, String)](sp)
    val sdf = stream.toDF().toDF("doc_id", "text").select(col("doc_id"),
      TextOps.wordNGrams(col("text"), 3).as("sh"))
    val q = CorpusIngest.clusteredIngest(sdf, state, "doc_id", "sh", Tau)(
      (_, _) => ())
    stream.addData(epoch1); q.processAllAvailable()
    stream.addData(epoch2); q.processAllAvailable()
    q.stop()
    val got = state.currentLabels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // from-scratch clustering over ALL docs' pairs
    val all = sh(baseDocs ++ epoch1 ++ epoch2)
    val want = graft.ops.Dedup.components(
        graft.ops.Dedup.jaccardJoin(all, "doc_id", "sh", Tau).select("a", "b"),
        "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // the cross-epoch dup 6-7 MUST be one cluster (proves the fold-in)
    assert(got(7L) == got(6L))
  }

  test("clustered ingest: the plan-depth collapse re-pins the ingest union without changing results") {
    val sp = spark
    import sp.implicits._
    val baseDocs = Seq(
      100L -> "the quick brown fox jumps over the lazy dog today",
      102L -> "completely different corpus text about spark and scala engines")
    def sh(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text").select(col("doc_id"),
        TextOps.wordNGrams(col("text"), 3).as("sh"))
    // collapseEvery = 2: three epochs force one collapse mid-stream and
    // leave one epoch folded lazily after it
    val state = CorpusIngest.clusterState(sh(baseDocs), "doc_id", "sh", Tau,
      collapseEvery = 2)
    val epochs = Seq(
      Seq(5L -> "the quick brown fox jumps over the lazy dog today"),
      Seq(6L -> "an entirely new document with its own novel wording here"),
      // cross-epoch dup of 6 AND a dup of the base corpus — correctness
      // after the collapse requires the collapsed frame to hold all
      // prior epochs
      Seq(7L -> "an entirely new document with its own novel wording here",
        8L -> "completely different corpus text about spark and scala engines"))
    epochs.foreach(ep =>
      CorpusIngest.clusterBatch(sh(ep), state, "doc_id", "sh", Tau))
    // collapsed after epoch 2, one epoch folded lazily since: the ingest
    // plan is union(collapsed LogicalRDD, epoch-3) — arity 2, where an
    // uncollapsed chain would flatten to one union of 4 children
    val unionArity = state.currentIngested.queryExecution.optimizedPlan
      .collect { case u: org.apache.spark.sql.catalyst.plans.logical.Union =>
        u.children.size }
    assert(unionArity.forall(_ <= 2), s"ingest union not collapsed: $unionArity")
    // the collapsed+lazy ingest state holds every doc exactly once
    assert(state.currentIngested.count() ==
      (baseDocs.size + epochs.flatten.size).toLong)
    val got = state.currentLabels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val all = sh(baseDocs ++ epochs.flatten)
    val want = graft.ops.Dedup.components(
        graft.ops.Dedup.jaccardJoin(all, "doc_id", "sh", Tau).select("a", "b"),
        "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    assert(got(7L) == got(6L) && got(8L) == got(102L))
  }

  test("cluster delete epoch: a takedown SPLITS a streamed cluster; maintained == from-scratch over survivors") {
    val sp = spark
    import sp.implicits._
    // shingle-level chain: 1,2 = {s1,s2} twins; 3 = {s1,s2,s3,s4} bridges
    // both sides at J = 0.5; 4,5 = {s3,s4} twins; 9 = unrelated singleton
    // pair partner of 8. Deleting 3 must split {1,2,3,4,5} into {1,2} and
    // {4,5}; deleting 8 must drop 9 from the labeling (pairless).
    val corpus = Seq(
      1L -> Seq("s1", "s2"), 2L -> Seq("s1", "s2"),
      8L -> Seq("x1", "x2"), 9L -> Seq("x1", "x2"))
    val epoch1 = Seq(3L -> Seq("s1", "s2", "s3", "s4"))
    val epoch2 = Seq(4L -> Seq("s3", "s4"), 5L -> Seq("s3", "s4"))
    val state = CorpusIngest.clusterState(
      corpus.toDF("doc_id", "sh"), "doc_id", "sh", Tau)
    Seq(epoch1, epoch2).foreach(ep =>
      CorpusIngest.clusterBatch(ep.toDF("doc_id", "sh"), state,
        "doc_id", "sh", Tau))
    // pre-delete: one merged cluster rooted at 1, plus {8,9}
    val before = state.currentLabels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(before == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      8L -> 8L, 9L -> 8L))
    val got = CorpusIngest.deleteBatch(Seq(3L, 8L).toDF("doc_id"), state,
        "doc_id", "sh", Tau)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L))
    assert(state.currentLabels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == got)
    // the shingle state dropped the deleted rows too (later epochs must
    // not pair against removed docs)
    assert(state.currentIngested.select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 4L, 5L, 9L))
    // from-scratch over the surviving docs agrees
    val survivors = (corpus ++ epoch1 ++ epoch2)
      .filterNot(d => Set(3L, 8L).contains(d._1))
    val want = CorpusIngest.clusterState(
        survivors.toDF("doc_id", "sh"), "doc_id", "sh", Tau)
      .currentLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // a later INGEST epoch still folds in correctly after the delete: a
    // new twin of 9 revives it as a pair (9 re-pairs from stored shingles)
    CorpusIngest.clusterBatch(Seq(10L -> Seq("x1", "x2"))
        .toDF("doc_id", "sh"), state, "doc_id", "sh", Tau)
    val after = state.currentLabels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L,
      9L -> 9L, 10L -> 9L))
  }

  test("quality-gated ingest: streamed scores == batch scores, routing by predicted") {
    val sp = spark
    import sp.implicits._
    // model trained once, offline, on a separable corpus
    val train = Seq(
      (100L, "good clean prose", true), (101L, "spam junk noise", false),
      (102L, "clean good text", true), (103L, "junk spam junk", false)
    ).toDF("doc_id", "text", "label")
    val w = graft.ops.HashedClassifier.train(train, "text", col("label"), 512)
      .persist()
    w.count()

    val epoch1 = Seq(1L -> "good clean prose arrives", 2L -> "spam junk spam")
    val epoch2 = Seq(3L -> "clean text good prose")
    val stream = MemoryStream[(Long, String)](sp)
    val got = mutable.Map[Long, (Long, Boolean)]()
    val q = CorpusIngest.scoredIngest(stream.toDF().toDF("doc_id", "text"),
        "doc_id", "text", w, 512) { (scored, _) =>
      scored.select("doc_id", "score", "predicted").collect().foreach { r =>
        got.synchronized { got(r.getLong(0)) = (r.getLong(1), r.getBoolean(2)) }
      }
    }
    stream.addData(epoch1)
    q.processAllAvailable()
    stream.addData(epoch2)
    q.processAllAvailable()
    q.stop()

    assert(got(1L)._2 && !got(2L)._2 && got(3L)._2, got)
    // bit-identical to scoring the union as one batch
    val batch = graft.ops.HashedClassifier.score(
        (epoch1 ++ epoch2).toDF("doc_id", "text"), "doc_id", "text", w, 512)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got.toMap == batch, s"stream $got vs batch $batch")
  }

  test("dsir ingest: streamed importance scores == batch scores, NULL text kept at 0") {
    val sp = spark
    import sp.implicits._
    // weights fitted once, offline: target = science-like prose
    val target = Seq((200L, "the theory of relativity explains gravity"),
      (201L, "quantum mechanics describes particles")).toDF("doc_id", "text")
    val rawFit = Seq((210L, "click here to win a prize"),
      (211L, "buy cheap pills online now")).toDF("doc_id", "text")
    val w = graft.ops.Dsir.importanceWeights(
        target, col("text"), rawFit, col("text"), 256).persist()
    w.count()

    val epoch1 = Seq(1L -> "the theory of relativity explains more",
      2L -> "click here to win")
    val epoch2 = Seq(3L -> null.asInstanceOf[String])
    val stream = MemoryStream[(Long, String)](sp)
    val got = mutable.Map[Long, Long]()
    val q = CorpusIngest.dsirIngest(stream.toDF().toDF("doc_id", "text"),
        "doc_id", "text", w, 256) { (scored, _) =>
      scored.select("doc_id", "score").collect().foreach { r =>
        got.synchronized { got(r.getLong(0)) = r.getLong(1) }
      }
    }
    stream.addData(epoch1)
    q.processAllAvailable()
    stream.addData(epoch2)
    q.processAllAvailable()
    q.stop()

    assert(got.keySet == Set(1L, 2L, 3L), "every row reaches the sink")
    assert(got(3L) == 0L, "NULL-text doc scores 0, never vanishes")
    assert(got(1L) > got(2L), s"target-like doc must outscore spam: $got")
    // bit-identical to scoring the union as one batch
    val batch = graft.ops.Dsir.scoreDocs(
        (epoch1 ++ epoch2).toDF("doc_id", "text"), "doc_id", col("text"),
        w, 256)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.toMap == batch, s"stream $got vs batch $batch")
  }

  test("stateless media pipeline runs unchanged on a stream (audio stats, stream == batch)") {
    val sp = spark
    import sp.implicits._
    import graft.ops.Multimodal
    val f = Multimodal.DefaultSampleFormula
    val stream = MemoryStream[Long](sp)
    val clips = Multimodal.syntheticAudioFor(
      stream.toDF().toDF("media_id"), "media_id", 320)
    val q = Multimodal.audioFrameStats(clips, f.frameSize, 64)
      .writeStream.format("memory").queryName("audio_stream_test")
      .outputMode("append").start()
    stream.addData(1L, 2L, 3L)
    q.processAllAvailable()
    q.stop()
    val streamed = sp.table("audio_stream_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4))).toSet
    val batch = Multimodal.audioFrameStats(
        Multimodal.syntheticAudioFor(Seq(1L, 2L, 3L).toDF("media_id"), "media_id", 320),
        f.frameSize, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming ANN maintenance: streamed epochs == batch appends; replayed epoch is a no-op") {
    import graft.ops.{AnnIndex, ProductQuantizer}
    import ProductQuantizer.PqSpec
    val sp = spark
    import sp.implicits._
    val emb = sp.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val spec = PqSpec(m = 8, dsub = 8, stride = 16)
    val annPath = java.nio.file.Files.createTempDirectory("ann_stream").toString
    val pqPath = java.nio.file.Files.createTempDirectory("pq_stream").toString
    // build both stores over the even half (stride centroids / codebook ids
    // are all even, so the half-build derives the same geometry as full)
    val even = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    AnnIndex.materialize(even, "vec_id", "embedding", 64, annPath)
    ProductQuantizer.materialize(even, "vec_id", "embedding", spec, pqPath)

    // stream the odd half in two epochs
    val odd = emb.where(pmod(col("vec_id"), lit(2)) === 1)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val (e1, e2) = odd.partition(_._1 % 4 == 1)
    val stream = MemoryStream[(Long, Seq[Float])](sp)
    val sdf = stream.toDF().toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val epochs = mutable.Buffer[(Long, Seq[String])]()
    val q = graft.streaming.CorpusIngest.annIngest(sdf, "vec_id",
      "embedding", 64, annPath, Some(pqPath)) { (id, stores) =>
      epochs.synchronized { epochs += ((id, stores)) }
    }
    stream.addData(e1.toSeq)
    q.processAllAvailable()
    stream.addData(e2.toSeq)
    q.processAllAvailable()
    q.stop()
    assert(epochs.count(_._2.nonEmpty) == 2, s"epochs seen: $epochs")

    // probes through the streamed index equal a full batch build
    val qvec = emb.where(col("vec_id") === 5).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble).toArray
    val streamed = AnnIndex.fromMaterialized(emb, "vec_id", "embedding", 64, annPath)
      .probeTopK(qvec, 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = AnnIndex.build(emb, "vec_id", "embedding", stride = 64)
      .probeTopK(qvec, 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(streamed == full, "streamed IVF index diverged from batch build")
    // PQ codes match a full batch materialize
    val fullPq = java.nio.file.Files.createTempDirectory("pq_stream_full").toString
    ProductQuantizer.materialize(emb, "vec_id", "embedding", spec, fullPq)
    def codesOf(p: String): Set[(Long, Int, Long)] =
      sp.read.parquet(s"$p/codes").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(codesOf(pqPath) == codesOf(fullPq), "streamed PQ codes diverged")

    // replaying an already-committed epoch must not double-append
    val before = (sp.read.parquet(annPath).count(), sp.read.parquet(s"$pqPath/codes").count())
    val replay = graft.streaming.CorpusIngest.appendVectorEpoch(
      e1.toSeq.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding")),
      emb, "vec_id", "embedding", 64, annPath, Some(pqPath), epochId = 0L)
    assert(replay.isEmpty, s"replayed epoch appended to $replay")
    val after = (sp.read.parquet(annPath).count(), sp.read.parquet(s"$pqPath/codes").count())
    assert(before == after, "replayed epoch changed the stores")

    // crash recovery stays AUTOMATIC through the replay tail: a restarted
    // sole-writer query facing a crashed predecessor's leftover lock must
    // skip already-absorbed epochs lease-less (r17); it only needs the
    // operator takeover decision at the first epoch that really mutates
    Seq(annPath, pqPath).foreach { p =>
      graft.ops.IndexFiles.writeString(sp, p + "/" + graft.ops.IndexFiles.LockName,
        "op=crashed-predecessor nonce=gone\n")
    }
    val replayLocked = graft.streaming.CorpusIngest.appendVectorEpoch(
      e1.toSeq.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding")),
      emb, "vec_id", "embedding", 64, annPath, Some(pqPath), epochId = 0L)
    assert(replayLocked.isEmpty,
      "replayed epoch under a leftover lock must no-op, not mutate")
    // a NEW epoch still fails loudly until the operator breaks the lock
    intercept[IllegalStateException] {
      graft.streaming.CorpusIngest.appendVectorEpoch(
        e1.toSeq.toDF("vec_id", "embedding")
          .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding")),
        emb, "vec_id", "embedding", 64, annPath, Some(pqPath), epochId = 99L)
    }
    Seq(annPath, pqPath).foreach(p => graft.ops.IndexFiles.breakWriterLease(sp, p))
  }

  test("in-loop compaction bounds bucket file counts without changing probes") {
    import graft.ops.AnnIndex
    val sp = spark
    import sp.implicits._
    val emb = sp.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val annPath = java.nio.file.Files.createTempDirectory("ann_compact_loop").toString
    val even = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    AnnIndex.materialize(even, "vec_id", "embedding", 64, annPath)

    // three epochs of odd-id appends; compactEvery=2 with an aggressive
    // 1-file threshold fires after the final (epochId 2) append, so the
    // steady state is fully compacted
    val odd = emb.where(pmod(col("vec_id"), lit(2)) === 1)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val slices = Seq(
      odd.filter(_._1 % 6 == 1), odd.filter(_._1 % 6 == 3), odd.filter(_._1 % 6 == 5))
    val stream = MemoryStream[(Long, Seq[Float])](sp)
    val sdf = stream.toDF().toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val q = graft.streaming.CorpusIngest.annIngest(sdf, "vec_id",
      "embedding", 64, annPath, pqPath = None,
      compactEvery = 2, maxFilesPerBucket = 1)()
    slices.foreach { s => stream.addData(s.toSeq); q.processAllAvailable() }
    q.stop()

    // every bucket directory is back to a single parquet file...
    import scala.jdk.CollectionConverters._
    val counts = java.nio.file.Files.list(java.nio.file.Paths.get(annPath))
      .iterator().asScala
      .filter(p => java.nio.file.Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("__centroid="))
      .map(p => java.nio.file.Files.list(p).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))).toSeq
    assert(counts.nonEmpty && counts.forall(_ == 1),
      s"buckets not compacted to single files: $counts")
    // ...and probes still equal a full batch build
    val qvec = emb.where(col("vec_id") === 5).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble).toArray
    val streamed = AnnIndex.fromMaterialized(emb, "vec_id", "embedding", 64, annPath)
      .probeTopK(qvec, 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = AnnIndex.build(emb, "vec_id", "embedding", stride = 64)
      .probeTopK(qvec, 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(streamed == full, "compacted streamed index diverged from batch build")
  }

  test("streaming ANN maintenance routes an IVF-PQ store through the partition-aware append") {
    import graft.ops.{AnnIndex, ProductQuantizer}
    import ProductQuantizer.PqSpec
    val sp = spark
    import sp.implicits._
    val emb = sp.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val spec = PqSpec(m = 8, dsub = 8, stride = 16)
    val annPath = java.nio.file.Files.createTempDirectory("ann_s2").toString
    val compPath = java.nio.file.Files.createTempDirectory("ivfpq_s2").toString
    val even = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    AnnIndex.materialize(even, "vec_id", "embedding", 64, annPath)
    ProductQuantizer.materializeIvfPq(even, "vec_id", "embedding",
      sp.read.parquet(annPath), spec, compPath)
    val odd = emb.where(pmod(col("vec_id"), lit(2)) === 1)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val stream = MemoryStream[(Long, Seq[Float])](sp)
    val sdf = stream.toDF().toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val q = graft.streaming.CorpusIngest.annIngest(sdf, "vec_id",
      "embedding", 64, annPath, Some(compPath))()
    stream.addData(odd.toSeq); q.processAllAvailable(); q.stop()
    // the streamed IVF-PQ store equals a full-corpus build (partitioned
    // rows, replayed assignment — the flat append would have corrupted it)
    val fullAnn = java.nio.file.Files.createTempDirectory("ann_s2f").toString
    val fullComp = java.nio.file.Files.createTempDirectory("ivfpq_s2f").toString
    AnnIndex.materialize(emb, "vec_id", "embedding", 64, fullAnn)
    ProductQuantizer.materializeIvfPq(emb, "vec_id", "embedding",
      sp.read.parquet(fullAnn), spec, fullComp)
    def bucketed(p: String): Set[(Long, Int, Long, Long)] =
      sp.read.parquet(s"$p/codes")
        .select(col("__id"), col("__m"), col("__code"),
          col("__centroid").cast("long"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(ProductQuantizerSpec.liveCodes(sp, compPath) == bucketed(fullComp))
  }

  test("streaming GRAPH maintenance: streamed epochs == batch build; replay is a no-op") {
    import graft.ops.GraphAnn
    val sp = spark
    import sp.implicits._
    val emb = sp.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("graph_stream").toString
    val even = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    GraphAnn.materialize(even, "vec_id", "embedding", 64,
      GraphAnn.DefaultDegree, path)
    val odd = emb.where(pmod(col("vec_id"), lit(2)) === 1)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val (e1, e2) = odd.partition(_._1 % 4 == 1)
    val stream = MemoryStream[(Long, Seq[Float])](sp)
    val sdf = stream.toDF().toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val seen = mutable.Buffer[(Long, Boolean)]()
    val q = graft.streaming.CorpusIngest.graphIngest(sdf, "vec_id",
      "embedding", 64, GraphAnn.DefaultDegree, path,
      compactEvery = 1, maxFilesPerBucket = 4) { (id, absorbed) =>
      seen.synchronized { seen += ((id, absorbed)) }
    }
    stream.addData(e1.toSeq); q.processAllAvailable()
    stream.addData(e2.toSeq); q.processAllAvailable()
    q.stop()
    assert(seen.count(_._2) == 2, s"epochs seen: $seen")
    // streamed artifact == the full batch build, edge for edge
    val full = java.nio.file.Files.createTempDirectory("graph_stream_f").toString
    GraphAnn.materialize(emb, "vec_id", "embedding", 64,
      GraphAnn.DefaultDegree, full)
    def edgeSet(p: String): Set[(Long, Long)] =
      GraphAnn.fromMaterialized(sp, p, 64, GraphAnn.DefaultDegree)
        .select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edgeSet(path) == edgeSet(full))
    // replaying the committed epochs is a no-op (epoch marker): a fresh
    // query over the same un-checkpointed MemoryStream re-delivers both
    // batches as epochs 0 and 1 — both at-or-below the stored marker
    val before = sp.read.parquet(s"$path/assign").count()
    val q2 = graft.streaming.CorpusIngest.graphIngest(sdf, "vec_id",
      "embedding", 64, GraphAnn.DefaultDegree, path)()
    q2.processAllAvailable(); q2.stop()
    assert(sp.read.parquet(s"$path/assign").count() == before)
  }

  test("streamed ANN takedown equals a reduced-corpus rebuild on every tier; replayed epochs are no-ops") {
    import graft.ops.{AnnIndex, GraphAnn, ProductQuantizer}
    import ProductQuantizer.PqSpec
    val sp = spark
    import sp.implicits._
    val emb = sp.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val spec = PqSpec(m = 8, dsub = 8, stride = 16)
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val annA = tmp("sdel_annA")     // IVF float + flat PQ sidecar store
    val pqFlat = tmp("sdel_pqflat")
    val annB = tmp("sdel_annB")     // IVF float + partitioned IVF-PQ store
    val ivfComp = tmp("sdel_ivfpq")
    val graphPath = tmp("sdel_graph")
    AnnIndex.materialize(emb, "vec_id", "embedding", 64, annA)
    ProductQuantizer.materialize(emb, "vec_id", "embedding", spec, pqFlat)
    AnnIndex.materialize(emb, "vec_id", "embedding", 64, annB)
    ProductQuantizer.materializeIvfPq(emb, "vec_id", "embedding",
      sp.read.parquet(annB), spec, ivfComp)
    GraphAnn.materialize(emb, "vec_id", "embedding", 64,
      GraphAnn.DefaultDegree, graphPath)

    // one streamed takedown epoch per store family: vec_id % 4 == 3 rows
    // (never centroid- or codebook-level — all odd)
    val del = emb.where(pmod(col("vec_id"), lit(4)) === 3)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    def runTakedown(start: DataFrame => org.apache.spark.sql.streaming.StreamingQuery)
        : Unit = {
      val stream = MemoryStream[(Long, Seq[Float])](sp)
      val q = start(stream.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding")))
      try { stream.addData(del); q.processAllAvailable() } finally q.stop()
    }
    runTakedown(sdf => graft.streaming.CorpusIngest.annDeletes(
      sdf, "vec_id", "embedding", 64, annA, Some(pqFlat))())
    runTakedown(sdf => graft.streaming.CorpusIngest.annDeletes(
      sdf, "vec_id", "embedding", 64, annB, Some(ivfComp))())
    runTakedown(sdf => graft.streaming.CorpusIngest.graphDeletes(
      sdf, "vec_id", "embedding", 64, GraphAnn.DefaultDegree, graphPath)())

    // every tier equals its reduced-corpus rebuild
    val reduced = emb.where(pmod(col("vec_id"), lit(4)) =!= 3)
    val annRed = tmp("sdel_annRed")
    AnnIndex.materialize(reduced, "vec_id", "embedding", 64, annRed)
    def ivfRows(p: String): Set[(Long, Long)] =
      sp.read.parquet(p).select(col("vec_id"), col("__centroid").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(AnnIndexSpec.liveAssignment(sp, annA) == ivfRows(annRed), "IVF store A diverged")
    assert(AnnIndexSpec.liveAssignment(sp, annB) == ivfRows(annRed), "IVF store B diverged")

    val pqRed = tmp("sdel_pqRed")
    ProductQuantizer.materialize(reduced, "vec_id", "embedding", spec, pqRed)
    def flatCodes(p: String): Set[(Long, Int, Long)] = {
      val (_, (_, codes)) = ProductQuantizer.fromMaterialized(sp, p)
      codes.select(col("__id"), col("__m"), col("__code"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    }
    assert(flatCodes(pqFlat) == flatCodes(pqRed), "flat PQ store diverged")

    val compRed = tmp("sdel_ivfpqRed")
    ProductQuantizer.materializeIvfPq(reduced, "vec_id", "embedding",
      sp.read.parquet(annRed), spec, compRed)
    def bucketedCodes(p: String): Set[(Long, Int, Long, Long)] =
      sp.read.parquet(s"$p/codes")
        .select(col("__id"), col("__m"), col("__code"),
          col("__centroid").cast("long"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(ProductQuantizerSpec.liveCodes(sp, ivfComp) == bucketedCodes(compRed),
      "IVF-PQ store diverged")

    val graphRed = tmp("sdel_graphRed")
    GraphAnn.materialize(reduced, "vec_id", "embedding", 64,
      GraphAnn.DefaultDegree, graphRed)
    def edgeSet(p: String): Set[(Long, Long)] =
      GraphAnn.fromMaterialized(sp, p, 64, GraphAnn.DefaultDegree)
        .select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edgeSet(graphPath) == edgeSet(graphRed), "graph store diverged")

    // replay: a fresh un-checkpointed query re-delivers the same batch as
    // epoch 0 — at-or-below every stored takedown marker, so nothing moves
    // (a flat-PQ replay would otherwise re-append sidecar rows)
    val sidecarBefore = sp.read.parquet(s"$pqFlat/tombstones").count()
    val annBefore = (AnnIndexSpec.liveAssignment(sp, annA), graft.ops.IndexManifests.read(sp, annA))
    runTakedown(sdf => graft.streaming.CorpusIngest.annDeletes(
      sdf, "vec_id", "embedding", 64, annA, Some(pqFlat))())
    assert(sp.read.parquet(s"$pqFlat/tombstones").count() == sidecarBefore,
      "replayed takedown epoch re-appended tombstones")
    assert((AnnIndexSpec.liveAssignment(sp, annA), graft.ops.IndexManifests.read(sp, annA)) == annBefore,
      "replayed takedown epoch changed the IVF store")
  }

  test("evolving corpus: folding survivors back in dedupes later epochs against them") {
    // the production loop: sink writes survivors to the corpus store, so the
    // next epoch's static frame includes them. Simulate the fold-in.
    var corpusNow = corpus
    def ingest(batch: DataFrame): Set[Long] = {
      val s = CorpusIngest.processBatch(batch, corpusNow, "doc_id", "sh", Tau)
      corpusNow = corpusNow.unionByName(s)
      s.select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val e1 = ingest(docsDf(2L -> "an entirely new document with its own novel wording here"))
    val e2 = ingest(docsDf(3L -> "an entirely new document with its own novel wording here"))
    assert(e1 == Set(2L) && e2 == Set.empty)
  }
  /** A shingled crawl fixture for the cluster-maintenance epochs: 12-word
    * docs, a third of them one-word edits of an earlier doc (J = 7/13 on
    * word 3-grams, a near-dup at tau 0.5). Frames are parallelized, so no
    * input is already a driver-held LocalRelation.
    */
  private def crawl(seed: Long, ids: Seq[Long]): DataFrame = {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(seed)
    val words = (0 until 400).map(i => s"w$i")
    val texts = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    val rows = ids.map { id =>
      val t =
        if (texts.nonEmpty && rnd.nextInt(3) == 0) {
          val c = texts(rnd.nextInt(texts.size)).clone()
          c(rnd.nextInt(c.length)) = words(rnd.nextInt(words.size)); c
        } else Array.fill(12)(words(rnd.nextInt(words.size)))
      texts += t
      id -> t.mkString(" ")
    }
    sp.sparkContext.parallelize(rows, 1).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.wordNGrams(col("text"), 3).as("sh"))
  }

  private def labelMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("cluster and takedown epochs leave the cache-entry count where it started") {
    val sp = spark
    import sp.implicits._
    // both routes: the driver-held batch and the distributed joins
    for (forced <- Seq(false, true)) {
      val bounds =
        if (forced) Seq(graft.ops.SizeRoute.IngestBatchBytes -> 0,
          graft.ops.SizeRoute.GraphLabelEdges -> 0)
        else Nil
      graft.ops.SizeRoute.withBounds(bounds: _*) {
        val state = CorpusIngest.clusterState(crawl(1L, 0L until 30L),
          "doc_id", "sh", Tau, collapseEvery = 2)
        val before = org.apache.spark.sql.CacheEntries(sp)
        (0 until 3).foreach { e =>
          CorpusIngest.clusterBatch(crawl(10L + e, (100L * (e + 1)) until (100L * (e + 1) + 8)),
            state, "doc_id", "sh", Tau)
          CorpusIngest.deleteBatch(Seq(3L * e, 100L * (e + 1)).toDF("doc_id"),
            state, "doc_id", "sh", Tau)
        }
        assert(org.apache.spark.sql.CacheEntries(sp) == before, s"forced=$forced")
      }
    }
  }

  test("cluster and takedown epochs stay within the per-epoch job budget") {
    val sp = spark
    import sp.implicits._
    val state = CorpusIngest.clusterState(crawl(2L, 0L until 60L),
      "doc_id", "sh", Tau)
    val all = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    all += crawl(2L, 0L until 60L)
    var gone = Set.empty[Long]
    (0 until 3).foreach { e =>
      val ids = (1000L * (e + 1)) until (1000L * (e + 1) + 40)
      val batch = crawl(20L + e, ids)
      all += batch
      val (_, cluster) = JobCount(sp.sparkContext)(
        CorpusIngest.clusterBatch(batch, state, "doc_id", "sh", Tau))
      val dels = Seq(5L * e, 7L * e + 1, ids.head, ids.last)
      gone ++= dels
      val (_, delete) = JobCount(sp.sparkContext)(CorpusIngest.deleteBatch(
        sp.sparkContext.parallelize(dels, 1).toDF("doc_id"), state,
        "doc_id", "sh", Tau))
      assert(cluster <= CorpusIngestSpec.ClusterEpochJobs, s"epoch $e cluster: $cluster jobs")
      assert(delete <= CorpusIngestSpec.DeleteEpochJobs, s"epoch $e delete: $delete jobs")
    }
    // the budgeted epochs still maintain the exact labeling
    val survivors = all.reduce(_ unionAll _).where(!col("doc_id").isin(gone.toSeq: _*))
    val want = graft.ops.Dedup.components(
      graft.ops.Dedup.jaccardJoin(survivors, "doc_id", "sh", Tau).select("a", "b"), "doc_id")
    assert(labelMap(state.currentLabels) == labelMap(want))
  }
}

object CorpusIngestSpec {
  /** Spark jobs one epoch may run on the crawl fixture: a cluster epoch
    * collects the batch, pins and collects its pairs, reads the touched
    * labels and writes the new ones (6 measured); a takedown epoch
    * collects the ids, reads the touched components, their members and
    * the members' shingles, and writes the new labels (9 measured).
    */
  val ClusterEpochJobs = 6
  val DeleteEpochJobs = 9
}
