package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale validation (SCALING.md "measured" section): run the
  * dedup family (exact Jaccard, MinHash+LSH, connected components,
  * substring-level), sequence packing, and the materialized-ANN probe on
  * 1x/10x/50x synthetic blow-ups of the sf0.1 tables, printing per-family
  * wall time, total shuffle-write bytes, and driver-heap delta.
  *
  * The corpus scales by salted copies: each copy's vocabulary is re-coded
  * through md5 (token -> salted hash token), so copies share NO shingles —
  * duplicate density stays constant as the corpus grows, measuring the
  * pipeline's scaling rather than an artificial cross-copy duplicate
  * explosion. Embedding copies shift ids by a multiple of the centroid
  * stride, so bucket COUNT grows with k while bucket size stays constant —
  * the regime where a partition-pruned probe should stay flat.
  *
  * Usage: sbt "Test/runMain graft.tools.ScaleSmoke [sfDir] [k k ...]"
  */
object ScaleSmoke {

  private final class ShuffleTally extends SparkListener {
    private val written = new java.util.concurrent.atomic.AtomicLong
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      written.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    def reset(): Long = written.getAndSet(0L)
  }

  private def usedHeapMb: Double = {
    System.gc()
    val r = Runtime.getRuntime
    (r.totalMemory - r.freeMemory) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val ks = if (args.length > 1) args.drop(1).toSeq.map(_.toInt) else Seq(1, 10, 50)
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.prepare(spark)
    val tally = new ShuffleTally
    spark.sparkContext.addSparkListener(tally)

    // SCALE_FAMILIES=a,b: measure a subset of rungs (iteration aid; unset
    // runs every family — the committed SCALING.md path). Producer rungs
    // (index builds, the LSH pair table) still EXECUTE unreported when a
    // selected family consumes their side effects — see timedOrRun.
    val famOnly = sys.env.get("SCALE_FAMILIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def on(family: String): Boolean = famOnly.forall(_.contains(family))
    def timed(family: String, k: Int, rows: Long)(body: => Long): Unit = {
      if (!on(family)) return
      val heap0 = usedHeapMb
      tally.reset()
      val t0 = System.nanoTime()
      val out = body
      val sec = (System.nanoTime() - t0) / 1e9
      // one listener-drain breath so the tally covers the measured jobs
      Thread.sleep(200)
      val mb = tally.reset() / 1e6
      val dHeap = usedHeapMb - heap0
      println(f"SCALE family=$family%-12s k=$k%3d rows=$rows%9d out=$out%9d " +
        f"sec=$sec%8.2f shuffleMB=$mb%9.1f driverHeapDeltaMB=$dHeap%7.1f")
    }

    def scaledDocs(k: Int): DataFrame = {
      val base = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text")
      val copies = (0 until k).map { c =>
        base.select(
          (col("doc_id") + lit(c * 1000000L)).as("doc_id"),
          concat_ws(" ", transform(split(col("text"), " "),
            t => substring(md5(concat(t, lit(s"|$c"))), 1, 8))).as("text"))
      }
      copies.reduce(_ unionAll _)
        .repartition(spark.sparkContext.defaultParallelism)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

    // warmup initializes codegen/shuffle machinery off the clock
    scaledDocs(1).count()

    for (k <- ks) {
      val docs = scaledDocs(k)
      val nRows = docs.count()
      def shingled = docs.select(col("doc_id"),
        graft.ops.TextOps.wordNGrams(col("text"), 3).as("sh"))

      timed("jaccard", k, nRows) {
        graft.ops.Dedup.jaccardJoin(shingled, "doc_id", "sh", 0.5).count()
      }

      val sh2 = shingled.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var lshPairs: DataFrame = null
      def buildLshPairs(): Long = {
        val sigs = graft.ops.Dedup.minhashSignatures(sh2, "doc_id", "sh", 16)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val cands = graft.ops.Dedup.lshCandidatePairs(
          graft.ops.Dedup.lshBands(sigs, "doc_id", 16, 4), "doc_id")
        lshPairs = graft.ops.Dedup.verifyJaccard(cands, sh2, "doc_id", "sh", 0.5)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        lshPairs.count()
      }
      // components/pagerank consume the pair table: build it unreported
      // when only they are selected
      if (on("minhash_lsh")) timed("minhash_lsh", k, nRows)(buildLshPairs())
      else if (on("components") || on("pagerank")) buildLshPairs()

      timed("components", k, nRows) {
        graft.ops.Dedup.components(lshPairs.select(col("a"), col("b")))
          .select(countDistinct(col("component"))).head().getLong(0)
      }

      // integer PageRank over the verified near-dup pair graph: one
      // shuffle per iteration, state |V| longs — wall should track |E|
      timed("pagerank", k, nRows) {
        graft.ops.Centrality.pageRankInt(lshPairs.select(col("a"), col("b")),
          "a", "b", 5).count()
      }

      // BPE training: 8 argmax rounds over the DISTINCT word table (the
      // salted recode grows the vocabulary ~linearly with k — the claim
      // under test is that rounds cost vocab-, not corpus-, sized work)
      timed("bpe_train", k, nRows) {
        graft.ops.Subword.bpeTrain(docs, "text", 8).length.toLong
      }

      timed("substring", k, nRows) {
        graft.ops.Dedup.substringDupStats(docs, "doc_id", "text", 6).count()
      }

      timed("packing", k, nRows) {
        graft.ops.Packing.sequenceOffsets(docs, "doc_id",
          size(split(col("text"), " ")), 512).count()
      }

      // segment-level dedup: explode is scan-parallel, the dup census is
      // one segment-hash aggregate, reassembly one doc-keyed shuffle —
      // wall and shuffle should both track corpus size ~linearly (the
      // salted recode keeps cross-copy segment collisions at zero)
      // force the FULL output (count() alone lets Catalyst prune the dup
      // marking and the text reassembly — measured 1.5 shuffle-MB at 250k
      // docs, i.e. a hollowed-out rung)
      def segAll(d: DataFrame, maxBytes: Long): Long =
        graft.ops.Dedup.segmentDedup(d, "doc_id", "text", 3,
            windowMaxBytes = maxBytes)
          .agg(count(lit(1)), sum(col("n_dropped")),
            sum(length(col("clean_text"))))
          .head().getLong(0)
      timed("segment_dedup", k, nRows) { segAll(docs, 1L << 30) }

      // the SKEW case the size router exists for: one boilerplate segment
      // (6-token header = 2 aligned window-3 segments) carried by EVERY
      // doc. The census route partial-aggregates the hot hash map-side
      // (compact (h,min,max) partials shuffle) and its wall must stay
      // within ~2x the window route's at the same k, with no straggler
      // blow-up as k grows; the window route ships every hot row to one
      // WindowExec task and is expected to degrade first.
      val hotDocs = docs.withColumn("text",
        concat(lit("the same boilerplate header goes here "), col("text")))
      timed("seg_hot_wind", k, nRows) { segAll(hotDocs, Long.MaxValue) }
      timed("seg_hot_cens", k, nRows) { segAll(hotDocs, 0L) }

      // incremental components: a FIXED batch of new pairs merged into a
      // k×-scaled at-rest labeling. The micro fixpoint is batch-sized by
      // construction; the only corpus-sized term is the final one-pass
      // relabel join over the labels — wall should grow far slower than
      // k and shuffle should be labels-join-sized, never edge-sized.
      // at-rest state built OUTSIDE the timed block (the producer-rung
      // pattern, same as the postings/ann builds): wall AND shuffle below
      // cover only the merge — previously the wall included the
      // corpus-sized build while the shuffle tally excluded it, so the
      // family's two columns measured different spans
      if (on("inc_components")) {
        val pairs = graft.ops.Dedup.jaccardJoin(shingled, "doc_id", "sh", 0.5)
          .select(col("a"), col("b"))
        // star contraction for the at-rest build: the τ=0.5 recoded-shingle
        // graph has adversarially deep chains (label propagation hits the
        // round guard); identical labeling, off the probe clock either way
        val atRest = graft.ops.Dedup.componentsStar(pairs, "doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        atRest.count() // at-rest state built off the probe clock
        // batch: 200 bridging pairs between existing cluster members plus
        // 100 fresh-node pairs — the merge/insert mix of a real crawl
        val members = atRest.orderBy("doc_id").limit(400)
          .select(col("doc_id")).collect().map(_.getLong(0))
        val bridge = members.sliding(2, 2).take(200)
          .map(w => (w(0), w(w.length - 1))).toSeq
        val freshPairs = (0 until 100).map(i =>
          (5000000000L + i * 2, 5000000000L + i * 2 + 1))
        val sp2 = spark
        import sp2.implicits._
        val newPairs = (bridge ++ freshPairs).toDF("a", "b")
        timed("inc_components", k, nRows) {
          graft.ops.Dedup.incrementalComponents(atRest, "doc_id",
            newPairs).count()
        }
        atRest.unpersist(blocking = false)
      }

      // snapshot delta: two scans + ONE full-outer id join; the 'new'
      // snapshot perturbs 1/9 of docs — linear in corpus size
      timed("snapshot_delta", k, nRows) {
        graft.ops.SnapshotDelta.delta(
          docs,
          docs.withColumn("text", when(col("doc_id") % 9 === 2,
            concat(col("text"), lit(" rev2"))).otherwise(col("text"))),
          "doc_id", "text").count()
      }

      // hashed classifier train+score: both sides are explode + one
      // aggregate; the weight table stays 4096 rows at every k
      timed("classifier", k, nRows) {
        val w = graft.ops.HashedClassifier.train(docs, "text",
          col("doc_id") % 2 === 0, 4096)
        graft.ops.HashedClassifier.score(docs, "doc_id", "text", w, 4096)
          .count()
      }

      // DSIR fit + full-corpus score: two fit count passes + a broadcast
      // 4096-row weight table + one per-doc aggregate — wall should track
      // the corpus linearly (the ~0.5%-sample fit sides are noise)
      timed("dsir", k, nRows) {
        val w = graft.ops.Dsir.importanceWeights(
          docs.where(col("doc_id") % 199 === 0), col("text"),
          docs.where(col("doc_id") % 199 =!= 0), col("text"), 4096)
        graft.ops.Dsir.scoreDocs(docs, "doc_id", col("text"), w, 4096)
          .count()
      }

      // fuzzy decontamination vs a FIXED benchmark (the k=1 slice's
      // doc_id%50 docs): bench postings broadcast, corpus explodes once —
      // linear in corpus size at constant benchmark size
      timed("fuzzy_decon", k, nRows) {
        graft.ops.Decontaminate.fuzzyContaminatedIds(
          docs, "doc_id", col("text"),
          docs.where(col("doc_id") < 1000000L && col("doc_id") % 50 === 0),
          "doc_id", col("text"), n = 3, tau = 0.5).count()
      }

      // winnowing: exchange-free scan projection + one distinct — wall
      // should track the scan; selected rows ~2/(w+1) of gram positions
      timed("winnow", k, nRows) {
        graft.ops.Dedup.winnowFingerprints(docs, "doc_id", "text", 3, 4)
          .count()
      }

      // at-rest incremental tier: a FIXED 500-doc crawl batch (copy-0
      // vocabulary, id-shifted — every row a true near-dup of the at-rest
      // corpus) probed against the corpus's bucketed shingle postings.
      // The postings build is the once-per-ingest producer
      // (materializePostings — pay its shuffle at ingest, not per batch);
      // the probe's ONLY exchange is the batch side, so corpus growth may
      // show up as bucket-scan volume but never as probe shuffle. The
      // claim under measurement: probe wall tracks the BATCH (+ a
      // columnar bucket scan), not the corpus — the 100× rung is the
      // at-rest analogue of the streaming ingest_epoch family.
      val batch = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text").limit(500)
        .select((col("doc_id") + lit(900000000L)).as("doc_id"),
          concat_ws(" ", transform(split(col("text"), " "),
            t => substring(md5(concat(t, lit("|0"))), 1, 8))).as("text"))
      val batchSh = batch.select(col("doc_id"),
        graft.ops.TextOps.wordNGrams(col("text"), 3).as("sh"))
      val pTable = s"scale_postings_$k"
      def buildPostings(): Long = {
        spark.sql(s"DROP TABLE IF EXISTS $pTable")
        graft.ops.Dedup.materializePostings(shingled, "doc_id", "sh", pTable)
        spark.table(pTable).count()
      }
      if (on("postings_build")) timed("postings_build", k, nRows)(buildPostings())
      else if (on("postings_probe")) buildPostings()
      timed("postings_probe", k, nRows) { // best of 3, min millis as `out`
        var best = Long.MaxValue
        (0 until 3).foreach { _ =>
          val t0 = System.nanoTime()
          val pairs = graft.ops.Dedup.jaccardJoinAgainstPostings(
            batchSh, graft.ops.Dedup.openPostings(spark, pTable),
            "doc_id", "sh", 0.5)
          graft.ops.Dedup.incrementalSurvivors(batch, "doc_id", pairs)
            .count()
          best = math.min(best, (System.nanoTime() - t0) / 1000000)
        }
        best
      }

      spark.catalog.clearCache()
      docs.unpersist(blocking = true)
    }

    // ---- streaming-tier rungs: per-EPOCH wall vs batch size at FIXED
    // corpus size — the "per-epoch work scales with the batch, not the
    // corpus" claim in CorpusIngest measured instead of asserted in prose.
    // The corpus side is prepared ONCE off the per-epoch clock (shingled +
    // persisted; classifier weights trained + persisted), exactly as a
    // production ingest holds its at-rest artifacts; each epoch runs the
    // foreachBatch body (processBatch / score) on a fresh id-shifted batch
    // drawn from the corpus text (real near-dup matches, realistic join
    // volume). `k` column = epoch batch rows.
    if (on("ingest_epoch") || on("scored_epoch")) {
      val docs = scaledDocs(1)
      val n = docs.count()
      val corpusSh = docs.select(col("doc_id"),
          graft.ops.TextOps.wordNGrams(col("text"), 3).as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      corpusSh.count()
      val wts = graft.ops.HashedClassifier.train(docs, "text",
          col("doc_id") % 2 === 0, 4096)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      wts.count()
      for (b <- Seq(50, 500, 5000)) {
        val batch = docs.orderBy("doc_id").limit(b)
          .select((col("doc_id") + lit(10000000L)).as("doc_id"), col("text"))
          .select(col("doc_id"),
            graft.ops.TextOps.wordNGrams(col("text"), 3).as("sh"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        batch.count()
        timed("ingest_epoch", b, n) {
          graft.streaming.CorpusIngest.processBatch(
            batch, corpusSh, "doc_id", "sh", 0.5).count()
        }
        batch.unpersist(blocking = false)
        val sbatch = docs.orderBy("doc_id").limit(b)
          .select((col("doc_id") + lit(20000000L)).as("doc_id"), col("text"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        sbatch.count()
        timed("scored_epoch", b, n) {
          graft.ops.HashedClassifier.score(
            sbatch, "doc_id", "text", wts, 4096).count()
        }
        sbatch.unpersist(blocking = false)
      }
      spark.catalog.clearCache()
      docs.unpersist(blocking = true)
    }

    // streamed_sessions DECOMPOSED (the bench row's explicit judging rule,
    // r13 VERDICT #3): the gate's wall = state-store/checkpoint FIXED cost
    // + data work, and comparing the whole wall against one batch SQL
    // hides that decomposition behind the bench's 0.3 s oracle-exclusion
    // threshold. This family measures the gate pipeline (identical shape:
    // MemoryStream → watermarked session_window → 8 state partitions →
    // foreachBatch parquet sink, two epochs) best-of-3 at THREE inputs:
    // 1 event (pure fixed cost F), the sf0.1 events fixture (the bench
    // row's wall W), and the fixture ×4 (the data-term slope). Rule: the
    // row is judged by its DATA TERM — strong iff (W − F) ≤ 2 × the
    // DuckDB oracle wall; the fixed term is the price of a checkpointed,
    // recoverable streaming query and amortizes per-batch in production,
    // not per-query. `out` = emitted sessions, k = input events.
    if (on("sessions_decomp")) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      val baseEv = spark.read.parquet(s"$dir/events.parquet")
        .select(col("ts"), col("user_id"), col("value"))
        .as[(java.sql.Timestamp, Long, Double)].collect().toSeq
      val maxTs = baseEv.iterator.map(_._1.getTime).max
      def runOnce(rows: Seq[(java.sql.Timestamp, Long, Double)]): Long = {
        val stream = MemoryStream[(java.sql.Timestamp, Long, Double)](spark)
        val out = graft.util.TempDirs.create("sessions_decomp_out")
        val sessions = graft.streaming.EventStreams.sessionize(
          stream.toDF().toDF("ts", "user_id", "value")
            .withColumn("value", col("value").cast("decimal(18,2)")))
        val q = graft.streaming.StreamSizing.withStatePartitions(spark, 8) {
          sessions.writeStream.outputMode("append")
            .option("checkpointLocation",
              graft.util.TempDirs.create("sessions_decomp_ckpt"))
            .foreachBatch { (b: DataFrame, _: Long) =>
              b.write.mode("append").parquet(out)
            }
            .start()
        }
        try {
          stream.addData(rows)
          q.processAllAvailable()
          stream.addData(Seq((new java.sql.Timestamp(
            maxTs + 10L * 86400L * 1000L), -1L, 0.0)))
          q.processAllAvailable()
        } finally q.stop()
        spark.read.parquet(out).count()
      }
      val variants = Seq(
        ("fixed", baseEv.take(1)),
        ("full", baseEv),
        ("x4", (0 until 4).flatMap(c =>
          baseEv.map { case (t0, u, v) => (t0, u + c * 1000000000L, v) })))
      for ((_, rows) <- variants) { // warm codegen/state-store classes
        runOnce(rows.take(1))
      }
      for ((name, rows) <- variants) {
        var best = Long.MaxValue
        var emitted = 0L
        (0 until 3).foreach { _ =>
          val t0 = System.nanoTime()
          emitted = runOnce(rows)
          best = math.min(best, (System.nanoTime() - t0) / 1000000L)
        }
        println(f"SCALE family=sessions_decomp variant=$name%-5s " +
          f"events=${rows.length}%7d sessions=$emitted%7d bestMs=$best%7d")
      }
    }

    // streamed_cluster_delete DECOMPOSED — same judging-rule shape as the
    // other streaming gates: the gate's wall is TWO checkpointed streaming
    // queries (ingest + takedown) plus the clusterState init, against one
    // in-process recursive-CTE SQL. F = the pipeline on a 3-doc corpus /
    // 1-doc epoch / 1-id delete (pure machinery); `full` replays the
    // sf0.1 gate exactly — fixture collects INSIDE the wall, like the
    // registered gate; `x4` scales salted doc copies for the slope.
    // Rule: streamed_cluster_delete strong iff bench wall ≤ F + 2×(W−F).
    if (on("cluster_delete_decomp")) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      def saltedDocs(k: Int): DataFrame = {
        val base = spark.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "text")
        (0 until k).map { c =>
          base.select((col("doc_id") + lit(c * 1000000L)).as("doc_id"),
            concat_ws(" ", transform(split(col("text"), " "),
              t => substring(md5(concat(t, lit(s"|$c"))), 1, 8))).as("text"))
        }.reduce(_ unionAll _)
      }
      def sh(f: DataFrame): DataFrame =
        f.select(col("doc_id"), graft.ops.TextOps.wordNGrams(col("text"), 3).as("sh"))
      // the fixture frames are prepared lazily; every collect happens
      // inside the timed wall, exactly as the registered gate runs
      def runOnce(docs: DataFrame): Long = {
        val state = graft.streaming.CorpusIngest.clusterState(
          sh(docs.where(pmod(col("doc_id"), lit(2)) === 0)),
          "doc_id", "sh", 0.5)
        val epoch = docs.where(pmod(col("doc_id"), lit(2)) === 1)
          .as[(Long, String)].collect().toSeq
        val stream = MemoryStream[(Long, String)](spark)
        val q = graft.streaming.StreamSizing.withStatePartitions(spark, 8) {
          graft.streaming.CorpusIngest.clusteredIngest(
            sh(stream.toDF().toDF("doc_id", "text")), state,
            "doc_id", "sh", 0.5)((_, _) => ())
        }
        try { stream.addData(epoch); q.processAllAvailable() } finally q.stop()
        val dels = docs.where(pmod(col("doc_id"), lit(5)) === 0)
          .select("doc_id").as[Long].collect().toSeq
        val delStream = MemoryStream[Long](spark)
        val qd = graft.streaming.StreamSizing.withStatePartitions(spark, 8) {
          graft.streaming.CorpusIngest.clusterDeletes(
            delStream.toDF().toDF("doc_id"), state,
            "doc_id", "sh", 0.5)((_, _) => ())
        }
        try { delStream.addData(dels); qd.processAllAvailable() } finally qd.stop()
        state.currentLabels.count()
      }
      val fixedDocs = Seq(
        (2L, "alpha beta gamma delta epsilon"),
        (5L, "alpha beta gamma delta zeta"),
        (3L, "one two three four five six")).toDF("doc_id", "text")
      val variants = Seq(
        ("fixed", () => fixedDocs),
        ("full", () => saltedDocs(1)),
        ("x4", () => saltedDocs(4)))
      runOnce(fixedDocs) // warm codegen/state-store classes
      for ((name, mk) <- variants) {
        var best = Long.MaxValue
        var labeled = 0L
        (0 until 3).foreach { _ =>
          val t0 = System.nanoTime()
          labeled = runOnce(mk())
          best = math.min(best, (System.nanoTime() - t0) / 1000000L)
        }
        println(f"SCALE family=cluster_delete_decomp variant=$name%-5s " +
          f"labeled=$labeled%7d bestMs=$best%7d")
      }
    }

    // central_rep_docs / central_dedup_survivors DECOMPOSED — the
    // composite-centrality gates carry TWO fixpoints' fixed costs
    // (components rounds + PageRank iterations, each a chain of small
    // driver-scheduled jobs) on top of one shared jaccard pair derivation,
    // which makes their DuckDB ratio noise-sensitive at gate scale even
    // though each piece is individually at/under parity. Same judging-rule
    // shape as the streaming gates: F = the full pipeline on a 3-doc
    // fixture (pure fixpoint/scheduling machinery), `full` replays the
    // sf0.1 gates exactly (fixture reads inside the wall, like the
    // registered gate), `x4` scales salted copies for the slope. Rule:
    // gate strong iff bench wall ≤ F + 2×(W−F).
    if (on("central_decomp")) {
      // Mirror the registered gates' amortization exactly: the gates read
      // a repartitioned doc SPOOL and a per-dir hot-shingle array (both
      // cached across bench invocations), so only the shingle scan + pair
      // join + fixpoints run inside the gate's bench wall. Prepare the
      // spools per variant OUTSIDE the timed loop, time only the gate
      // pipeline.
      import spark.implicits._
      val fixedDocs = Seq(
        (2L, "alpha beta gamma delta epsilon"),
        (5L, "alpha beta gamma delta zeta"),
        (3L, "one two three four five six")).toDF("doc_id", "text")
      def saltedDocs(k: Int): DataFrame = {
        val base = spark.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "text")
        (0 until k).map { c =>
          base.select((col("doc_id") + lit(c * 1000000L)).as("doc_id"),
            concat_ws(" ", transform(split(col("text"), " "),
              t => substring(md5(concat(t, lit(s"|$c"))), 1, 8))).as("text"))
        }.reduce(_ unionAll _)
      }
      def spooled(df: DataFrame): (String, Seq[String]) = {
        val p = graft.util.TempDirs.create("central_decomp_spool")
        df.repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(p)
        val shingled = spark.read.parquet(p).select(col("doc_id"),
          graft.ops.TextOps.wordNGrams(col("text"), 3).as("sh"))
        (p, graft.ops.Dedup.hotShingles(shingled, "doc_id", "sh", 0.25).toSeq)
      }
      def gateSh(spool: String, hot: Seq[String]): DataFrame =
        spark.read.parquet(spool).select(col("doc_id"),
            graft.ops.TextOps.wordNGrams(col("text"), 3).as("sh"))
          .withColumn("sh", array_except(col("sh"), typedLit(hot)))
      def repsOnce(spool: String, hot: Seq[String]): Long = {
        val pairs = graft.ops.Dedup.jaccardJoin(
          gateSh(spool, hot), "doc_id", "sh", 0.5).select("a", "b")
        graft.ops.Centrality.centralRepresentatives(
          pairs, "a", "b", 5, 1000000L, 85L, 100L).count()
      }
      def prOnce(spool: String, hot: Seq[String]): Long = {
        val pairs = graft.ops.Dedup.jaccardJoin(
          gateSh(spool, hot), "doc_id", "sh", 0.5).select("a", "b")
        graft.ops.Centrality.pageRankInt(
          pairs, "a", "b", 5, 1000000L, 85L, 100L).count()
      }
      def survOnce(spool: String, hot: Seq[String]): Long = {
        val pairs = graft.ops.Dedup.jaccardJoin(
          gateSh(spool, hot), "doc_id", "sh", 0.5).select("a", "b")
        graft.ops.Centrality.survivorsByCentrality(
          spark.read.parquet(spool).select("doc_id"), "doc_id", pairs,
          "a", "b", 5, 1000000L, 85L, 100L).count()
      }
      val variants = Seq(
        ("fixed", () => fixedDocs),
        ("full", () => saltedDocs(1)),
        ("x4", () => saltedDocs(4)))
      locally { // warm codegen/fixpoint classes off the clock
        val (p, hot) = spooled(fixedDocs)
        repsOnce(p, hot); survOnce(p, hot); prOnce(p, hot)
      }
      for ((name, mk) <- variants) {
        val (p, hot) = spooled(mk())
        var bestReps = Long.MaxValue
        var bestSurv = Long.MaxValue
        var bestPr = Long.MaxValue
        var reps = 0L
        var surv = 0L
        var pr = 0L
        (0 until 3).foreach { _ =>
          val t0 = System.nanoTime()
          reps = repsOnce(p, hot)
          bestReps = math.min(bestReps, (System.nanoTime() - t0) / 1000000L)
          val t1 = System.nanoTime()
          surv = survOnce(p, hot)
          bestSurv = math.min(bestSurv, (System.nanoTime() - t1) / 1000000L)
          val t2 = System.nanoTime()
          pr = prOnce(p, hot)
          bestPr = math.min(bestPr, (System.nanoTime() - t2) / 1000000L)
        }
        println(f"SCALE family=central_decomp variant=$name%-5s " +
          f"reps=$reps%7d repsBestMs=$bestReps%7d " +
          f"surv=$surv%7d survBestMs=$bestSurv%7d " +
          f"pr=$pr%7d prBestMs=$bestPr%7d")
      }
    }

    // streamed_attribution DECOMPOSED — same judging rule as
    // sessions_decomp for the stream-stream join gate: wall = two-sided
    // join-state fixed cost F (1 purchase + 1 view) + a data term
    // (fixture W, fixture ×4 user-shifted for the slope). Strong iff
    // (W − F) ≤ 2 × the DuckDB range-join oracle wall.
    if (on("attribution_decomp")) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      val ev = spark.read.parquet(s"$dir/events.parquet")
      val pBase = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("user_id"))
        .as[(Long, java.sql.Timestamp, Long)].collect().toSeq
      val vBase = ev.where(col("event_type") === "view")
        .select(col("ts"), col("user_id"))
        .as[(java.sql.Timestamp, Long)].collect().toSeq
      // gate-shaped run: TWO time-split epochs, exactly like the
      // streamed_attribution registration. Inputs arrive as thunks so the
      // `full` variant can replay the fixture COLLECT inside the wall,
      // exactly as the registered gate does — D = W − F then covers both
      // the pipeline and the driver fixture-replay linear terms.
      def runOnce(mkP: () => Seq[(Long, java.sql.Timestamp, Long)],
          mkV: () => Seq[(java.sql.Timestamp, Long)]): Long = {
        val p = mkP(); val v = mkV()
        val times = (p.iterator.map(_._2.getTime) ++
          v.iterator.map(_._1.getTime)).toSeq
        val mid = times.min + (times.max - times.min) / 2
        val pStream = MemoryStream[(Long, java.sql.Timestamp, Long)](spark)
        val vStream = MemoryStream[(java.sql.Timestamp, Long)](spark)
        val out = graft.util.TempDirs.create("attr_decomp_out")
        val joined = graft.streaming.EventStreams.attributionJoin(
          pStream.toDF().toDF("event_id", "ts", "user_id"),
          vStream.toDF().toDF("ts", "user_id"))
        val q = graft.streaming.StreamSizing.withStatePartitions(spark, 4) {
          joined.writeStream.outputMode("append")
            .option("checkpointLocation",
              graft.util.TempDirs.create("attr_decomp_ckpt"))
            .foreachBatch { (b: DataFrame, _: Long) =>
              b.write.mode("append").parquet(out)
            }
            .start()
        }
        try Seq[Long => Boolean](_ < mid, _ >= mid).foreach { epoch =>
          pStream.addData(p.filter(r => epoch(r._2.getTime)))
          vStream.addData(v.filter(r => epoch(r._1.getTime)))
          q.processAllAvailable()
        } finally q.stop()
        spark.read.parquet(out).count()
      }
      // fixed = earliest + latest row per side, so BOTH epochs fire and F
      // measures the gate's full two-batch fixed cost
      def ends[A](rows: Seq[A], t: A => Long): Seq[A] =
        Seq(rows.minBy(t), rows.maxBy(t))
      val pFixed = ends[(Long, java.sql.Timestamp, Long)](pBase, _._2.getTime)
      val vFixed = ends[(java.sql.Timestamp, Long)](vBase, _._1.getTime)
      val pX4 = (0 until 4).flatMap(c => pBase.map { case (e, t0, u) =>
        (e, t0, u + c * 1000000000L) })
      val vX4 = (0 until 4).flatMap(c => vBase.map { case (t0, u) =>
        (t0, u + c * 1000000000L) })
      // `full` re-collects from parquet inside the wall (the gate's exact
      // shape); x4 is a prebuilt synthetic, so its rung isolates the
      // PIPELINE slope
      val variants = Seq[(String, () => Seq[(Long, java.sql.Timestamp, Long)],
          () => Seq[(java.sql.Timestamp, Long)])](
        ("fixed", () => pFixed, () => vFixed),
        ("full",
          () => ev.where(col("event_type") === "purchase")
            .select(col("event_id"), col("ts"), col("user_id"))
            .as[(Long, java.sql.Timestamp, Long)].collect().toSeq,
          () => ev.where(col("event_type") === "view")
            .select(col("ts"), col("user_id"))
            .as[(java.sql.Timestamp, Long)].collect().toSeq),
        ("x4", () => pX4, () => vX4))
      runOnce(() => pFixed, () => vFixed) // warm
      for ((name, p, v) <- variants) {
        var best = Long.MaxValue
        var emitted = 0L
        var n = 0
        (0 until 3).foreach { _ =>
          val t0 = System.nanoTime()
          emitted = runOnce(p, v)
          n = p().length + v().length
          best = math.min(best, (System.nanoTime() - t0) / 1000000L)
        }
        println(f"SCALE family=attribution_decomp variant=$name%-5s " +
          f"events=$n%7d pairs=$emitted%7d bestMs=$best%7d")
      }
    }

    // streamed_profiles DECOMPOSED — mapGroupsWithState fixed cost vs the
    // per-event/per-key data term (fixture, then ×4 user-shifted). Strong
    // iff (W − F) ≤ 2 × the DuckDB groupBy oracle wall.
    if (on("profiles_decomp")) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      val baseEv = spark.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("ts"), col("value"))
        .as[(Long, java.sql.Timestamp, Double)].collect().toSeq
      // gate-shaped run: TWO time-split epochs, exactly like the
      // streamed_profiles registration; thunked input for the same
      // replay-inside-the-wall reason as attribution_decomp. `v2` swaps in
      // userProfilesV2 (transformWithState + RocksDB provider) so the v2
      // gate's fixed-cost premium is measured, not guessed.
      def runOnce(mkRows: () => Seq[(Long, java.sql.Timestamp, Double)],
          v2: Boolean = false): Long = {
        val rows = mkRows()
        val ts = rows.map(_._2.getTime)
        val mid = ts.min + (ts.max - ts.min) / 2
        val stream = MemoryStream[(Long, java.sql.Timestamp, Double)](spark)
        val out = graft.util.TempDirs.create("prof_decomp_out")
        val events = stream.toDF().toDF("user_id", "ts", "value")
          .as[graft.streaming.EventStreams.UserEvent]
        val providerKey = "spark.sql.streaming.stateStore.providerClass"
        val prevProvider = spark.conf.getOption(providerKey)
        if (v2) spark.conf.set(providerKey,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
        val profiles =
          if (v2) graft.streaming.EventStreams.userProfilesV2(events)
          else graft.streaming.EventStreams.userProfiles(events)
        val q = graft.streaming.StreamSizing.withStatePartitions(spark, 4) {
          profiles.toDF().writeStream.outputMode("update")
            .option("checkpointLocation",
              graft.util.TempDirs.create("prof_decomp_ckpt"))
            .foreachBatch { (b: DataFrame, _: Long) =>
              b.write.mode("append").parquet(out)
            }
            .start()
        }
        try Seq[Long => Boolean](_ < mid, _ >= mid).foreach { epoch =>
          stream.addData(rows.filter(r => epoch(r._2.getTime)))
          q.processAllAvailable()
        } finally q.stop()
        } finally prevProvider match {
          case Some(v) => spark.conf.set(providerKey, v)
          case None => spark.conf.unset(providerKey)
        }
        spark.read.parquet(out).count()
      }
      // fixed = earliest + latest event so both epochs fire (the gate's
      // full two-batch fixed cost)
      val fixedRows = Seq(baseEv.minBy(_._2.getTime), baseEv.maxBy(_._2.getTime))
      val x4Rows = (0 until 4).flatMap(c =>
        baseEv.map { case (u, t0, v) => (u + c * 1000000000L, t0, v) })
      val fullThunk = () => spark.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("ts"), col("value"))
        .as[(Long, java.sql.Timestamp, Double)].collect().toSeq
        .map(r => (r._1, r._2, math.floor(r._3 * 100.0 + 0.5)))
      val variants =
        Seq[(String, () => Seq[(Long, java.sql.Timestamp, Double)], Boolean)](
          ("fixed", () => fixedRows, false),
          // the gate's exact replay: re-collect + cents map inside the wall
          ("full", fullThunk, false),
          ("x4", () => x4Rows, false),
          // the v2 gate's fixed cost and fixture wall (transformWithState
          // on RocksDB): the data term is shared, the fixed premium is not
          ("v2fix", () => fixedRows, true),
          ("v2ful", fullThunk, true))
      runOnce(() => fixedRows) // warm
      for ((name, rows, v2) <- variants) {
        var best = Long.MaxValue
        var emitted = 0L
        var n = 0
        (0 until 3).foreach { _ =>
          val t0 = System.nanoTime()
          emitted = runOnce(rows, v2)
          n = rows().length
          best = math.min(best, (System.nanoTime() - t0) / 1000000L)
        }
        println(f"SCALE family=profiles_decomp variant=$name%-5s " +
          f"events=$n%7d profiles=$emitted%7d bestMs=$best%7d")
      }
    }

    // streaming state sizing: the SAME sessionize query at varying state
    // partition counts and event volumes. The claim under measurement
    // (StreamSizing scaladoc): per-micro-batch cost = state-store fixed
    // cost × partitions + data work / parallelism, so at gate-scale key
    // counts fewer partitions win (the fixed term dominates) while the
    // data-work term — what a 1000-executor ingest sizes FOR — grows with
    // rows, not partitions. `k` column = state partitions; rows = events.
    if (on("stream_state")) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      val baseEv = spark.read.parquet(s"$dir/events.parquet")
        .select(col("ts"), col("user_id"), col("value"))
        .as[(java.sql.Timestamp, Long, Double)].collect().toSeq
      for (copies <- Seq(1, 10)) {
        // copies shift user_id — keys (and sessions) grow with volume,
        // the realistic direction for an event stream
        val rows = (0 until copies).flatMap(c =>
          baseEv.map { case (ts0, u, v) => (ts0, u + c * 1000000000L, v) })
        val maxTs = baseEv.iterator.map(_._1.getTime).max
        for (n <- Seq(4, 8, 32)) {
          timed("stream_state", n, rows.length.toLong) {
            val stream = MemoryStream[(java.sql.Timestamp, Long, Double)](spark)
            val emitted = new java.util.concurrent.atomic.LongAdder
            val q = graft.streaming.StreamSizing.withStatePartitions(spark, n) {
              graft.streaming.EventStreams.sessionize(
                  stream.toDF().toDF("ts", "user_id", "value"))
                .writeStream.outputMode("append")
                .option("checkpointLocation",
                  graft.util.TempDirs.create(s"scale_stream_state_${copies}_$n"))
                .foreachBatch { (b: DataFrame, _: Long) =>
                  emitted.add(b.count())
                }
                .start()
            }
            try {
              stream.addData(rows)
              q.processAllAvailable()
              stream.addData(Seq((new java.sql.Timestamp(
                maxTs + 10L * 86400L * 1000L), -1L, 0.0)))
              q.processAllAvailable()
            } finally q.stop()
            emitted.sum()
          }
        }
      }
    }

    // ANN-maintenance epochs: appendVectorEpoch against a FIXED
    // materialized index — per-epoch wall should track the batch (only
    // affected bucket dirs grow; assignment joins the batch against the
    // broadcast centroids, never the corpus)
    if (on("ann_epoch")) {
      val base = spark.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nV = base.count()
      val apath = graft.util.TempDirs.create("scale_ann_ingest")
      graft.ops.AnnIndex.materialize(base, "vec_id", "embedding", 64, apath)
      for (b <- Seq(50, 500, 2000)) { // ascending = valid epoch ids
        val batch = base.orderBy("vec_id").limit(b)
          .select((col("vec_id") + lit(b * 100000000L)).as("vec_id"),
            col("embedding"))
        timed("ann_epoch", b, nV) {
          graft.streaming.CorpusIngest.appendVectorEpoch(batch, base,
            "vec_id", "embedding", 64, apath, None, epochId = b)
          b.toLong
        }
      }
      base.unpersist(blocking = true)
    }

    // materialized-ANN probe: bucket count grows with k, bucket size is
    // constant -> build cost should scale ~linearly, probe cost ~flat.
    // Copies must DIFFER geometrically (deterministic per-copy offset per
    // component): identical copies make every cross-copy centroid distance
    // tie, and the min-cid tie-break then routes all k copies' vectors
    // into copy 0's buckets — Σ bucket² degenerates toward (k·bucket)²
    // and the measurement reads as a superlinear blow-up that the
    // operator does not have on real (distinct) data
    for (k <- ks) {
      val base = spark.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
      val emb = (0 until k).map(c => base.select(
          (col("vec_id") + lit(c * 64000000L)).as("vec_id"),
          (if (c == 0) col("embedding")
           else transform(col("embedding"), (x, i) =>
             (x + (pmod(hash(lit(c) * lit(1000003) + i), lit(2001)) - lit(1000))
               .cast("double") / lit(1000.0)).cast("float")))
            .as("embedding")))
        .reduce(_ unionAll _)
        .repartition(spark.sparkContext.defaultParallelism)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nVec = emb.count()
      val qvec = base.where(col("vec_id") === 1).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toArray
      val path = graft.util.TempDirs.create(s"scale_ann_$k")
      def buildAnn(): Long = {
        graft.ops.AnnIndex.materialize(emb, "vec_id", "embedding", 64, path)
        nVec
      }
      // ann_probe reads the materialized index: build it unreported when
      // only the probe is selected
      if (on("ann_build")) timed("ann_build", k, nVec)(buildAnn())
      else if (on("ann_probe")) buildAnn()
      lazy val idx = graft.ops.AnnIndex.fromMaterialized(emb, "vec_id", "embedding", 64, path)
      timed("ann_probe", k, nVec) { // best of 3
        (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          idx.probeTopK(qvec, 10, nprobe = 4).collect()
          System.nanoTime() - t0
        }.min / 1000000L // report min millis as `out`
      }
      // corpus-sized maintenance read from ONE parquet file (a narrow
      // scan), the ann_incremental_topk and ann_ivf_delete_topk shapes:
      // half the corpus appended to a store of the other half, a quarter
      // deleted from a full store (stores built unreported)
      if (on("ann_inc_half") || on("ann_del_qtr")) {
        val one = graft.util.TempDirs.create(s"scale_ann_one_$k")
        emb.coalesce(1).write.mode("overwrite").parquet(one)
        val narrow = spark.read.parquet(one)
        val inc = graft.util.TempDirs.create(s"scale_ann_inc_$k")
        graft.ops.AnnIndex.materialize(narrow.where(pmod(col("vec_id"), lit(2)) === 0),
          "vec_id", "embedding", 64, inc)
        timed("ann_inc_half", k, nVec) {
          graft.ops.AnnIndex.appendToMaterialized(narrow.where(pmod(col("vec_id"), lit(2)) === 1),
            "vec_id", "embedding", 64, inc)
          spark.read.parquet(inc).count()
        }
        val del = graft.util.TempDirs.create(s"scale_ann_del_$k")
        graft.ops.AnnIndex.materialize(narrow, "vec_id", "embedding", 64, del)
        timed("ann_del_qtr", k, nVec) {
          graft.ops.AnnIndex.deleteFromMaterialized(narrow.where(pmod(col("vec_id"), lit(4)) === 3),
            "vec_id", "embedding", 64, del)
          spark.read.parquet(del).count()
        }
      }
      timed("brute_force", k, nVec) {
        emb.select(col("vec_id"),
            graft.functions.array_cosine_distance(col("embedding"),
              typedLit(qvec.toSeq)).as("d"))
          .orderBy(col("d").asc_nulls_last, col("vec_id").asc)
          .limit(10).collect().length.toLong
      }
      // batched exact top-k, 100 queries in ONE corpus scan — wall should
      // scale with corpus size but NOT with query count (the whole batch
      // rides the same scan; each partition ships <= k rows per query)
      timed("brute_batch100", k, nVec) {
        val queries = emb.where(pmod(col("vec_id"), lit(97)) === lit(1))
          .limit(100)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        graft.ops.SimilarityJoin.bruteForceTopKBatch(
          emb, "vec_id", "embedding", queries, "qid", "qvec", 10).count()
      }
      // graph tier: edge build is Σ bucket² (bucket count grows with k,
      // bucket size constant -> ~linear); the point probe touches
      // O(beam·degree·rounds) rows regardless of corpus size -> ~flat
      val gpath = graft.util.TempDirs.create(s"scale_graph_$k")
      def buildGraph(): Long = {
        graft.ops.GraphAnn.materialize(emb, "vec_id", "embedding", 64,
          graft.ops.GraphAnn.DefaultDegree, gpath)
        nVec
      }
      if (on("graph_build")) timed("graph_build", k, nVec)(buildGraph())
      else if (on("graph_probe") || on("graph_batch100") ||
        on("graph_insert") || on("graph_delete")) buildGraph()
      lazy val edges = graft.ops.GraphAnn.fromMaterialized(spark, gpath, 64,
        graft.ops.GraphAnn.DefaultDegree)
      timed("graph_probe", k, nVec) { // best of 3, min millis as `out`
        (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          graft.ops.GraphAnn.pointProbeTopK(emb, "vec_id", "embedding",
            edges, qvec, k = 10, stride = 64).collect()
          System.nanoTime() - t0
        }.min / 1000000L
      }
      // batched probe: the point probe's driver loop serves the 100
      // queries in chunks of SizeRoute(GraphProbeQueries), one entry job
      // per chunk and at most one job per round (SCALING.md quotes the
      // Q = 3 / 64 / 1024 A/B at 1×)
      timed("graph_batch100", k, nVec) { // wall millis as `out`
        val queries = emb.where(pmod(col("vec_id"), lit(97)) === lit(1))
          .limit(100)
          .select(col("vec_id").as("qid"),
            col("embedding").cast("array<double>").as("qv"))
        val t0 = System.nanoTime()
        graft.ops.GraphAnn.beamSearchTopKBatch(emb, "vec_id", "embedding",
          edges, queries, "qid", "qv", k = 10, stride = 64).count()
        (System.nanoTime() - t0) / 1000000L
      }
      // incremental graph insert: a FIXED 200-vector batch spliced into
      // the k×-scaled at-rest graph. The batch is drawn from the SCALED
      // corpus (a crawl batch resembles the corpus distribution — drawing
      // it from copy 0 alone would pile every insert into copy-0's
      // buckets, whose population grows with k in this fixture), so
      // candidate work is touched-buckets × constant bucket size and the
      // storage mutation replaces only touched partitions — wall and
      // shuffle should flatten once touched-bucket count saturates at the
      // batch size. Runs AFTER the probe families (it mutates gpath).
      timed("graph_insert", k, nVec) {
        // ids ≡ 1 (mod 64): never centroid-level, never colliding
        val batch = emb.where(pmod(col("vec_id"), lit(389)) === 7).limit(200)
          .select((lit(900000001L) + col("vec_id") * lit(64)).as("vec_id"),
            col("embedding"))
        graft.ops.GraphAnn.appendToMaterialized(batch, "vec_id", "embedding", 64,
          graft.ops.GraphAnn.DefaultDegree, gpath)
        200L
      }
      // incremental graph DELETE: a FIXED 200-vector batch removed from
      // the k×-scaled at-rest graph (same distribution-drawn batch logic
      // as graph_insert). Work = touched buckets recomputed from scratch
      // over SURVIVORS — Σ touched-bucket² grows with bucket population
      // (∝ k at fixed stride), so per-touched-bucket cost tracks bucket
      // size, never the corpus. Runs after the probe families (mutates
      // gpath; insert ran first, so the inserted ids are at rest too).
      timed("graph_delete", k, nVec) {
        val batch = emb.where(pmod(col("vec_id"), lit(389)) === 11)
          .where(pmod(col("vec_id"), lit(64)) =!= 0).limit(200)
        graft.ops.GraphAnn.deleteFromMaterialized(batch, "vec_id", "embedding", 64,
          graft.ops.GraphAnn.DefaultDegree, gpath)
        200L
      }
      // flat-PQ tombstone DELETE: a FIXED 200-id batch tombstoned against
      // the k×-scaled flat code table — one batch-sized sidecar write, the
      // code files untouched, so wall should be ~FLAT across corpus growth
      // (the r14 rewrite-and-swap paid a full codes rewrite per delete
      // batch). The deferred corpus-sized work is the fold, measured
      // separately as pq_fold (compactCodes — runs once per maintenance
      // window, amortized over many delete batches).
      val pqDelPath = graft.util.TempDirs.create(s"scale_pqdel_$k")
      def buildPqDel(): Long = {
        graft.ops.ProductQuantizer.materialize(emb, "vec_id", "embedding",
          graft.ops.ProductQuantizer.PqSpec(m = 8, dsub = 8, stride = 64),
          pqDelPath)
        nVec
      }
      if (on("pq_delete") || on("pq_fold")) buildPqDel()
      timed("pq_delete", k, nVec) {
        val batch = emb.where(pmod(col("vec_id"), lit(389)) === 11)
          .where(pmod(col("vec_id"), lit(64)) =!= 0).limit(200)
        graft.ops.ProductQuantizer.deleteFromMaterialized(
          batch, "vec_id", pqDelPath)
        200L
      }
      timed("pq_fold", k, nVec) {
        graft.ops.ProductQuantizer.compactCodes(spark, pqDelPath)
        nVec
      }
      // tiered centroid layer: the fixed-stride centroid² remedy — the
      // centroid level becomes Σ bucket² under superStride, only the
      // ~n/superStride supers pay the exact kNN
      val g2path = graft.util.TempDirs.create(s"scale_graph2_$k")
      def buildTiered(): Long = {
        graft.ops.GraphAnn.materialize(emb, "vec_id", "embedding", 64,
          graft.ops.GraphAnn.DefaultDegree, g2path, superStride = 4096)
        nVec
      }
      if (on("graph_tiered")) timed("graph_tiered", k, nVec)(buildTiered())
      else if (on("graph_probe2")) buildTiered()
      lazy val tiered = graft.ops.GraphAnn.fromMaterialized(spark, g2path, 64,
        graft.ops.GraphAnn.DefaultDegree, superStride = 4096)
      timed("graph_probe2", k, nVec) { // best of 3, min millis as `out`
        (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          graft.ops.GraphAnn.pointProbeTopK(emb, "vec_id", "embedding",
            tiered, qvec, k = 10, stride = 64).collect()
          System.nanoTime() - t0
        }.min / 1000000L
      }
      spark.catalog.clearCache()
      emb.unpersist(blocking = true)
    }

    // ann_autoprobe_pq_topk DECOMPOSED (the r17 borderline row): F = the
    // per-invocation machinery that does not scale with the corpus — the
    // query-vector head(), fromMaterialized's generation/spec resolution,
    // catalog registration, the optimizer splice (rule match + probe plan
    // memo build + the require() optimization pass) and the spliced
    // plan's job floors; D = the ADC broadcast-join + rerank read, the
    // only corpus-sized term. Mirrors the registered gate's amortization
    // exactly: the trained-PQ spool materializes OUTSIDE the wall (the
    // gate caches it per dir across bench invocations); everything the
    // gate re-runs per invocation stays INSIDE. Variants: `fixed` = a
    // stride-covering 65-row corpus (pure F), `full` = the sf dir corpus,
    // `x4` = 4 id-shifted copies (slope check for D).
    if (on("autoprobe_pq_decomp")) {
      import graft.plans.AnnCatalog
      graft.GraftSession.attachAnnProbeRule(spark)
      val spec = graft.ops.ProductQuantizer.PqSpec(m = 8, dsub = 8, stride = 64)
      val baseEmb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
      def copies(k: Int): DataFrame = (0 until k).map { c =>
        baseEmb.select((col("vec_id") + lit(c * 1000000L)).as("vec_id"),
          col("embedding"))
      }.reduce(_ unionAll _)
      val variants: Seq[(String, DataFrame)] = Seq(
        ("fixed", baseEmb.where(col("vec_id") <= 64)),
        ("full", copies(1)),
        ("x4", copies(4)))
      def spool(emb: DataFrame, name: String): String = {
        val p = graft.util.TempDirs.create(s"autoprobe_decomp_$name")
        graft.ops.ProductQuantizer.materialize(emb, "vec_id", "embedding",
          spec, p, trainedIters = 2)
        p
      }
      def gateOnce(emb: DataFrame, path: String): Long = {
        val qvec = emb.where(col("vec_id") === 1).select(col("embedding"))
          .head().getSeq[Float](0).map(_.toDouble).toArray
        val (_, precomputed) =
          graft.ops.ProductQuantizer.fromMaterialized(spark, path, Some(spec))
        AnnCatalog.clear()
        AnnCatalog.registerProbe(emb, "vec_id", "embedding", (q, k) =>
          graft.ops.ProductQuantizer.adcRerankTopK(emb, "vec_id",
            "embedding", q, k, spec, overfetch = 100,
            precomputed = Some(precomputed)))
        spark.conf.set("spark.graft.ann.autoProbe", "true")
        val df = emb.select(col("vec_id"),
            graft.functions.array_cosine_distance(
              col("embedding"), typedLit(qvec.toSeq)).as("cos_dist"))
          .orderBy(col("cos_dist").asc_nulls_last, col("vec_id").asc)
          .limit(10)
        require(df.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
          "decomp rung lost the splice — it no longer measures the gate")
        df.count()
      }
      // the gate reads its corpus as a fresh SINGLE parquet scan per
      // invocation (t(), no Filter above it — the rule's match shape);
      // land each variant corpus the same way
      def corpusSpool(df: DataFrame, name: String): DataFrame = {
        val cp = graft.util.TempDirs.create(s"autoprobe_corpus_$name")
        df.write.mode("overwrite").parquet(cp)
        spark.read.parquet(cp)
      }
      locally { // warm codegen/rule classes off the clock
        val emb = corpusSpool(variants.head._2, "warm")
        gateOnce(emb, spool(emb, "warm"))
      }
      for ((name, embSrc) <- variants) {
        val emb = corpusSpool(embSrc, name)
        val n = emb.count()
        val p = spool(emb, name)
        var best = Long.MaxValue
        var out = 0L
        (0 until 3).foreach { _ =>
          val t0 = System.nanoTime()
          out = gateOnce(emb, p)
          best = math.min(best, (System.nanoTime() - t0) / 1000000L)
        }
        println(f"SCALE family=autoprobe_pq_decomp variant=$name%-5s " +
          f"vecs=$n%7d topk=$out%3d wallBestMs=$best%7d")
        spark.conf.set("spark.graft.ann.autoProbe", "false")
      }
    }

    // ann_autoprobe_graph_topk DECOMPOSED, same framing as the PQ family:
    // the probe is a DRIVER BEAM (fixed rounds of IN-pushdown point
    // reads), so its cost is rounds × job floor + the splice machinery —
    // independent of corpus size by design. F = the fixed-corpus wall;
    // the full/x4 variants prove D ≈ 0.
    if (on("autoprobe_graph_decomp")) {
      import graft.plans.AnnCatalog
      graft.GraftSession.attachAnnProbeRule(spark)
      val baseEmb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
      def copies(k: Int): DataFrame = (0 until k).map { c =>
        baseEmb.select((col("vec_id") + lit(c * 1000000L)).as("vec_id"),
          col("embedding"))
      }.reduce(_ unionAll _)
      def corpusSpool(df: DataFrame, name: String): DataFrame = {
        val cp = graft.util.TempDirs.create(s"apg_corpus_$name")
        df.write.mode("overwrite").parquet(cp)
        spark.read.parquet(cp)
      }
      def gateOnce(emb: DataFrame, edges: DataFrame): Long = {
        val qvec = emb.where(col("vec_id") === 1).select(col("embedding"))
          .head().getSeq[Float](0).map(_.toDouble).toArray
        AnnCatalog.clear()
        AnnCatalog.registerProbe(emb, "vec_id", "embedding", (q, k) =>
          graft.ops.GraphAnn.pointProbeTopK(emb, "vec_id", "embedding",
            edges, q, k, stride = 64))
        spark.conf.set("spark.graft.ann.autoProbe", "true")
        val df = emb.select(col("vec_id"),
            graft.functions.array_cosine_distance(
              col("embedding"), typedLit(qvec.toSeq)).as("cos_dist"))
          .orderBy(col("cos_dist").asc_nulls_last, col("vec_id").asc)
          .limit(10)
        val plan = df.queryExecution.optimizedPlan.toString
        require(plan.contains("LocalRelation") && !plan.contains("Sort"),
          "decomp rung lost the graph splice")
        df.count()
      }
      def spool(emb: DataFrame, name: String): DataFrame = {
        val p = graft.util.TempDirs.create(s"apg_spool_$name")
        graft.ops.GraphAnn.materialize(emb, "vec_id", "embedding", 64,
          graft.ops.GraphAnn.DefaultDegree, p)
        graft.ops.GraphAnn.fromMaterialized(spark, p, 64,
          graft.ops.GraphAnn.DefaultDegree)
      }
      val variants: Seq[(String, DataFrame)] = Seq(
        ("fixed", baseEmb.where(col("vec_id") <= 64)),
        ("full", copies(1)),
        ("x4", copies(4)))
      locally {
        val emb = corpusSpool(variants.head._2, "warm")
        gateOnce(emb, spool(emb, "warm"))
      }
      for ((name, embSrc) <- variants) {
        val emb = corpusSpool(embSrc, name)
        val n = emb.count()
        val edges = spool(emb, name)
        var best = Long.MaxValue
        var out = 0L
        (0 until 3).foreach { _ =>
          val t0 = System.nanoTime()
          out = gateOnce(emb, edges)
          best = math.min(best, (System.nanoTime() - t0) / 1000000L)
        }
        println(f"SCALE family=autoprobe_graph_decomp variant=$name%-5s " +
          f"vecs=$n%7d topk=$out%3d wallBestMs=$best%7d")
        spark.conf.set("spark.graft.ann.autoProbe", "false")
      }
    }
    spark.stop()
  }
}
