package graftbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col}

import graft.ops.{Dedup, TextOps}
import graft.queries.EncoderFixture
import graft.search.VectorSearchClient
import graft.sources.CorpusIO

/** `curate`: batch LLM-data curation on one thread. Each pass reads the
  * generated JSONL corpus, filters encoding damage and too-short docs,
  * clusters near-duplicates with MinHash LSH and connected components,
  * keeps one doc per cluster, embeds the survivors with the in-repo encoder,
  * labels their semantic clusters with `Dedup.embedComponents` and writes
  * the survivors back as JSONL.
  */
object CurateWorkload {
  val Uniques = 4400
  val ExactFamilies = 100
  val NearFamilies = 100
  val Hot = 150
  val Damaged = 50
  val Short = 50
  val ShingleN = 3
  val MinhashK = 16
  val Bands = 8
  val Jaccard = 0.5
  val MaxBadPpm = 1000L
  val MinTokens = 5
  val CosineTau = 0.002
  val SpanningAbove = 4096

  /** One pass's outputs, for checking: survivor ids, and when traced the
    * LSH candidate and verified pair counts.
    */
  final case class Pass(ms: Double, traced: Boolean, out: Set[Long],
      candidates: Long, verified: Long, error: Option[String])

  def run(conf: Conf): Outcome = {
    val (spark, tracer, setup, setupWalls) = Harness.setups(conf, reps = 3) { (spark, _, dir) =>
      val data = Gen.curate(conf.seed, Uniques, ExactFamilies, NearFamilies, Hot, Damaged, Short)
      Gen.writeJsonl(new File(dir, "corpus"), data.docs, conf.nproc)
      (data, dir)
    }
    val (data, dir) = setup

    def pass(p: Int, traced: Boolean, input: String): Pass = {
      val outPath = new File(dir, s"out$p").getPath
      var candidates = -1L
      var verified = -1L
      val t0 = System.nanoTime()
      val res = Try(tracer.op(traced)(tracer.span("bench.curate_pass", p) {
        val raw = tracer.step("sources.read")(CorpusIO.readJsonl(spark, input, Gen.Schema))
        val clean = tracer.step("ops.text_filter")(
          TextOps.encodingFilter(raw, "id", col("text"), MaxBadPpm)
            .where(TextOps.tokenCount(col("text")) >= MinTokens))
        val sh = clean.select(col("id"), TextOps.wordNGrams(col("text"), ShingleN).as("sh"))
        val sigs = tracer.step("ops.minhash")(Dedup.minhashSignatures(sh, "id", "sh", MinhashK))
        val cands = tracer.step("ops.lsh_candidates")(
          Dedup.lshCandidatePairs(Dedup.lshBands(sigs, "id", MinhashK, Bands), "id"))
        val pairs = tracer.step("ops.verify")(Dedup.verifyJaccard(cands, sh, "id", "sh", Jaccard))
        if (traced) { candidates = cands.count(); verified = pairs.count() }
        val labels = tracer.step("ops.components")(
          Dedup.components(pairs.select("a", "b"), "id"))
        val dropped = labels.where(col("id") =!= col("component"))
          .select(col("component").as("a"), col("id").as("b"))
        val survivors = Dedup.survivors(clean, "id", dropped)
        val vecs = tracer.step("search.embed_corpus")(
          VectorSearchClient.fromCorpus(survivors, "text", "id", EncoderFixture.embedder).index)
        val semantic = tracer.step("ops.embed_components")(
          Dedup.embedComponents(vecs, "id", "embedding", CosineTau, EncoderFixture.Dim))
        tracer.span("sources.write") {
          CorpusIO.writeJsonl(survivors.join(semantic, Seq("id"), "left")
            .select(col("id"), col("text"), coalesce(col("component"), col("id")).as("cluster")),
            outPath)
        }
      }))
      val ms = (System.nanoTime() - t0) / 1e6
      spark.catalog.clearCache()
      val out = res.toOption.map(_ => readIds(spark, outPath))
      Harness.deleteTree(new File(outPath))
      Harness.log(f"pass $p: $ms%.0f ms")
      Pass(ms, traced, out.getOrElse(Set.empty), candidates, verified,
        res.failed.toOption.map(_.toString))
    }

    val input = new File(dir, "corpus").getPath
    val gc0 = Jvm.gcMillis()
    val start = System.nanoTime()
    val passes = Vector.newBuilder[Pass]
    var p = 0
    while (p < 2 || Jvm.seconds(start) < conf.seconds) {
      passes += pass(p, conf.trace && p % 2 == 1, input)
      p += 1
    }
    val gcMs = (Jvm.gcMillis() - gc0).toDouble
    tracer.drain()
    val all = passes.result()
    val problems = all.map(ps => ps.error.map(Seq(_)).getOrElse(Checks.curated(data, ps.out)))
    val recalls = all.filter(_.error.isEmpty).map(ps => Checks.nearDupRecall(data, ps.out))

    val untraced = all.filter(!_.traced).map(_.ms)
    val docsPerS = untraced.map(ms => data.docs.length / (ms / 1e3))
    val e2e = ListMap(
      "op_p50_ms" -> Metric.p50(untraced, "ms"),
      "op_p95_ms" -> Metric.p95(untraced, "ms"),
      "items_per_s" -> Metric.p50(docsPerS, "1/s"),
      "curate_docs_per_s" -> Metric.p50(docsPerS, "docs/s"),
      "curate.near_dup_recall" -> Metric.p50(recalls, "ratio"))

    val report =
      if (conf.trace) Some(new SpanReport(tracer.spans, tracer.listener, start)) else None
    val layers = report.fold(ListMap.empty[String, Metric]) { report =>
      val tracedPasses = all.filter(_.traced)
      val passSpans = report.named("bench.curate_pass")
      val c = new Counters
      passSpans.foreach(s => c += report.inclusive(s))
      val n = math.max(passSpans.length, 1).toDouble
      val cand = tracedPasses.map(_.candidates.toDouble)
      val ver = tracedPasses.map(_.verified.toDouble)
      def s(name: String) = Metric.p50(report.seconds(name), "s")
      Harness.commonLayers(report, conf.nproc, all.length, gcMs,
        Harness.overheadPct(tracedPasses.map(_.ms), untraced)) ++ ListMap(
        "sources.read_s" -> s("sources.read"),
        "sources.write_s" -> s("sources.write"),
        "ops.text_filter_s" -> s("ops.text_filter"),
        "ops.minhash_s" -> s("ops.minhash"),
        "ops.verify_s" -> s("ops.verify"),
        "ops.lsh_candidates" -> Metric.p50(cand, "pairs"),
        "ops.lsh_verified" -> Metric.p50(ver, "pairs"),
        "ops.lsh_precision" -> Metric.p50(cand.zip(ver).map { case (a, b) => b / a }, "ratio"),
        "ops.components_s" -> s("ops.components"),
        "ops.embed_components_s" -> s("ops.embed_components"),
        "search.embed_corpus_s" -> s("search.embed_corpus"),
        "spark.jobs" -> Metric(c.jobs / n, "count"),
        "spark.shuffle_write_mb" -> Metric(c.shuffleWriteBytes / 1e6 / n, "MB"),
        "spark.spill_mb" -> Metric(c.spillBytes / 1e6 / n, "MB"),
        "jvm.gc_s" -> Metric(gcMs / 1e3, "s"))
    }
    val failedPasses = all.zip(problems).filter(_._2.nonEmpty)
    Outcome(setupWalls, data.sizes ++ Map("shingle_n" -> ShingleN, "minhash_k" -> MinhashK,
        "bands" -> Bands, "jaccard" -> Jaccard, "cosine_tau" -> CosineTau, "passes" -> all.length),
      e2e, layers, all.length, failedPasses.length,
      Seq(Check("curate.planted_truth", failedPasses.isEmpty,
          failedPasses.take(2).map(_._2.take(3).mkString("; ")).mkString(" | ")),
        // embedComponents routes inputs above its all-pairs bound (4096 rows
        // by default) to the spanning tier, which this workload exists to load
        Check("curate.survivors_take_spanning_tier", all.forall(_.out.size > SpanningAbove),
          s"survivors per pass: ${all.map(_.out.size).distinct.mkString(",")}")),
      report)
  }

  private def readIds(spark: SparkSession, path: String): Set[Long] =
    spark.read.schema(Gen.Schema).json(path).select("id").collect().map(_.getLong(0)).toSet
}
