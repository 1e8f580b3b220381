package graftbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}

import org.apache.spark.sql.{DataFrame, Row}

import graft.ops.{AnnIndex, GraphAnn}
import graft.queries.EncoderFixture
import graft.search.{Embedder, VectorSearchClient}
import graft.sources.CorpusIO

/** `search`: interactive semantic search, closed loop. Each request embeds a
  * Zipf-popular query text and answers it on one of three tiers in fixed
  * rotation: brute force (`searchByVectors`, with back-join and rank), the
  * IVF store (`AnnIndex.probeTopK`) or the graph store
  * (`GraphAnn.pointProbeTopK`). Phase 1 runs one caller; phase 2 runs
  * `nproc` callers.
  */
object SearchWorkload {
  val Docs = 4000
  val Pool = 64
  val ZipfS = 1.1
  val K = 10
  val IvfStride = 100
  val NProbe = 8
  val GraphStride = 200
  /** Share of the run given to the single-caller phase. */
  val Phase1Share = 0.6
  val Tiers = Vector("brute", "ivf", "graph")
  private val Phase2Ops = 1000000L

  final class State(val data: Gen.SearchData, val embedder: Embedder,
      val client: VectorSearchClient, val ivf: AnnIndex, val edges: DataFrame)

  /** One answered request: ranked `(rank, id)` hits of a query vector. */
  final case class Answer(op: Long, query: Int, tier: Int, traced: Boolean,
      ms: Double, qv: Array[Double], hits: Seq[(Long, Long)], error: Option[String])

  def run(conf: Conf): Outcome = {
    val (spark, tracer, st, setupWalls) = Harness.setups(conf, reps = 3) { (spark, tracer, dir) =>
      val data = Gen.search(conf.seed, Docs, Pool, ZipfS)
      Gen.writeJsonl(new File(dir, "corpus"), data.corpus, conf.nproc)
      val embedder = EncoderFixture.embedder
      val corpus = tracer.span("sources.read") {
        val c = CorpusIO.readJsonl(spark, new File(dir, "corpus").getPath, Gen.Schema).cache()
        c.count()
        c
      }
      val client = tracer.span("search.embed_corpus") {
        val c = VectorSearchClient.fromCorpus(corpus, "text", "id", embedder)
        c.index.count()
        c
      }
      val ivfPath = new File(dir, "ivf").getPath
      val graphPath = new File(dir, "graph").getPath
      Harness.log("corpus embedded")
      tracer.span("search.index_build") {
        AnnIndex.materialize(client.index, "id", "embedding", IvfStride, ivfPath)
        Harness.log("ivf built")
        GraphAnn.materialize(client.index, "id", "embedding", GraphStride,
          GraphAnn.DefaultDegree, graphPath)
        Harness.log("graph built")
      }
      new State(data, embedder, client,
        AnnIndex.fromMaterialized(client.index, "id", "embedding", IvfStride, ivfPath),
        GraphAnn.fromMaterialized(spark, graphPath, GraphStride, GraphAnn.DefaultDegree))
    }
    // the checking reference is the benchmark's own, built outside set-up
    val held = st.client.index.collect()
    val exact = new Checks.ExactIndex(held.map(_.getLong(0)),
      held.map(_.getSeq[Float](1).toArray))

    def request(op: Long, q: Int, tier: Int, traced: Boolean): Answer = {
      val t0 = System.nanoTime()
      val res = Try(tracer.op(traced)(tracer.span(s"search.${Tiers(tier)}", op) {
        val qv = tracer.span("search.embed") {
          st.embedder.embedBatch(Seq(VectorSearchClient.QueryPrefix + st.data.queries(q)))
            .head.map(_.toDouble)
        }
        (qv, tier match {
          case 0 =>
            val df = tracer.span("search.plan") {
              val d = st.client.searchByVectors(Seq(0L -> qv), K)
              d.queryExecution.executedPlan
              d
            }
            tracer.span("search.exec")(df.collect())
              .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("id"))).toSeq
          case 1 =>
            ranked(tracer.span("ops.AnnIndex.probeTopK")(st.ivf.probeTopK(qv, K, NProbe).collect()))
          case _ =>
            ranked(tracer.span("ops.GraphAnn.pointProbeTopK")(GraphAnn.pointProbeTopK(
              st.client.index, "id", "embedding", st.edges, qv, K, GraphStride).collect()))
        })
      }))
      val ms = (System.nanoTime() - t0) / 1e6
      res.fold(e => Answer(op, q, tier, traced, ms, Array.empty, Nil, Some(e.toString)),
        { case (qv, hits) => Answer(op, q, tier, traced, ms, qv, hits, None) })
    }

    val gc0 = Jvm.gcMillis()
    // phase 1: one caller
    val rng = new Random(conf.seed * 31 + 1)
    val phase1 = Vector.newBuilder[Answer]
    val p1Start = System.nanoTime()
    var i = 0
    while (i < 6 || Jvm.seconds(p1Start) < conf.seconds * Phase1Share) {
      phase1 += request(i, Gen.zipfPick(rng, st.data.zipfCdf), i % 3, conf.trace && i % 2 == 1)
      i += 1
    }
    Harness.log(s"phase 1: $i requests")
    // phase 2: nproc closed-loop callers for the rest of the run
    val phase2 = new ConcurrentLinkedQueue[Answer]()
    val p2Start = System.nanoTime()
    val deadline = p2Start + (conf.seconds * (1 - Phase1Share) * 1e9).toLong
    val callers = (0 until conf.nproc).map { t =>
      new Thread(() => {
        val r = new Random(conf.seed * 31 + 100 + t)
        var j = 0
        while (System.nanoTime() < deadline) {
          val op = Phase2Ops + t * 100000L + j
          phase2.add(request(op, Gen.zipfPick(r, st.data.zipfCdf), (j + t) % 3,
            conf.trace && j % 2 == 1))
          j += 1
        }
      })
    }
    callers.foreach(_.start())
    callers.foreach(_.join())
    Harness.log(s"phase 2: ${phase2.size} requests in ${Jvm.seconds(p2Start)} s")
    val gcMs = (Jvm.gcMillis() - gc0).toDouble
    tracer.drain()

    // checks: brute force equals the exact reference by id and rank; ANN
    // tiers must return k hits and report recall against the same reference
    val answers = phase1.result() ++ phase2.asScala
    val refs = scala.collection.mutable.HashMap.empty[Int, Seq[Long]]
    def truth(a: Answer) = refs.getOrElseUpdate(a.query, exact.topK(a.qv, K).map(_._1))
    val problems = answers.map { a =>
      a.error.map(Seq(_)).getOrElse(
        if (a.tier == 0) Checks.rankedTopK(a.hits, truth(a))
        else Checks.annResult(a.hits.map(_._2), K))
    }
    val failedAnswers = answers.zip(problems).filter(_._2.nonEmpty)
    def recall(tier: Int) = {
      val rs = answers.filter(a => a.tier == tier && a.error.isEmpty)
        .map(a => Checks.recall(a.hits.map(_._2), truth(a)))
      Metric(if (rs.isEmpty) 0.0 else Stats.mean(rs), "ratio", rs)
    }

    val p1 = phase1.result()
    val p1Untraced = p1.filter(!_.traced).map(_.ms)
    // the fixed tier rotation makes the pooled median jump between the two
    // fastest tiers from run to run; the typical request latency is the
    // mean over the tiers of each tier's median
    val tierMedians = (0 to 2).map(t => Stats.median(p1.filter(a => !a.traced && a.tier == t).map(_.ms)))
    // closed-loop throughput by Little's law (callers / mean latency): the
    // same quantity as completions per second in steady state, without the
    // quantization of counting whole requests in a short window
    val qps = conf.nproc / (Stats.mean(phase2.asScala.toSeq.map(_.ms)) / 1e3)
    val e2e = ListMap(
      "op_p50_ms" -> Metric(Stats.mean(tierMedians), "ms", p1Untraced),
      "op_p95_ms" -> Metric.p95(p1Untraced, "ms"),
      "items_per_s" -> Metric(qps, "1/s"),
      "search_p50_ms" -> Metric.p50(p1Untraced, "ms"),
      "search_p95_ms" -> Metric.p95(p1Untraced, "ms"),
      "search.brute_p50_ms" -> Metric(tierMedians(0), "ms"),
      "search.ivf_p50_ms" -> Metric(tierMedians(1), "ms"),
      "search.graph_p50_ms" -> Metric(tierMedians(2), "ms"),
      "search_qps" -> Metric(qps, "req/s"),
      "search.ivf_recall10" -> recall(1),
      "search.graph_recall10" -> recall(2))

    val report =
      if (conf.trace) Some(new SpanReport(tracer.spans, tracer.listener, p1Start)) else None
    val layers = report.fold(ListMap.empty[String, Metric]) { report =>
      val p1Spans = report.all.filter(s => s.parent == 0L && s.op >= 0 && s.op < Phase2Ops)
      val tierMs = (0 to 2).map(t => p1Spans.filter(_.name == s"search.${Tiers(t)}").map(_.ms))
      val top = report.all.filter(s => s.parent == 0L && s.op >= 0)
      val c = new Counters
      top.foreach(s => c += report.inclusive(s))
      val perQuery = math.max(top.length, 1).toDouble
      val overhead = Harness.overheadPct(p1.filter(_.traced).map(_.ms), p1Untraced)
      val named = ListMap(
        "search.embed_ms" -> Metric.p50(report.ms("search.embed"), "ms"),
        "search.plan_ms" -> Metric.p50(report.ms("search.plan"), "ms"),
        "search.exec_ms" -> Metric.p50(report.ms("search.exec"), "ms"),
        "search.brute_p50_ms" -> Metric.p50(tierMs(0), "ms"),
        "search.ivf_p50_ms" -> Metric.p50(tierMs(1), "ms"),
        "search.graph_p50_ms" -> Metric.p50(tierMs(2), "ms"),
        "search.ivf_recall10" -> recall(1),
        "search.graph_recall10" -> recall(2),
        "spark.jobs_per_query" -> Metric(c.jobs / perQuery, "count"),
        "spark.tasks_per_query" -> Metric(c.tasks / perQuery, "count"),
        "spark.rows_read_per_hit" -> Metric(c.inputRecords / (perQuery * K), "rows"),
        "search.index_build_s" -> Metric.p50(report.seconds("search.index_build"), "s"),
        "search.embed_corpus_s" -> Metric.p50(report.seconds("search.embed_corpus"), "s"),
        "jvm.gc_s" -> Metric(gcMs / 1e3, "s"))
      Harness.commonLayers(report, conf.nproc, answers.length, gcMs, overhead) ++ named
    }
    Outcome(setupWalls,
      Map("docs" -> Docs, "dim" -> st.embedder.dim, "query_pool" -> Pool, "zipf_s" -> ZipfS,
        "k" -> K, "ivf_stride" -> IvfStride, "nprobe" -> NProbe, "graph_stride" -> GraphStride,
        "phase1_requests" -> p1.length, "phase2_requests" -> phase2.size,
        "phase2_callers" -> conf.nproc),
      e2e, layers, answers.length, failedAnswers.length,
      Seq(Check("search.brute_exact_and_ann_full", failedAnswers.isEmpty,
        failedAnswers.take(3).map { case (a, p) =>
          s"op ${a.op} tier ${Tiers(a.tier)}: ${p.mkString("; ")}" }.mkString(" | "))),
      report)
  }

  private def ranked(rows: Array[Row]): Seq[(Long, Long)] =
    rows.toSeq.zipWithIndex.map { case (r, i) => (i + 1L, r.getLong(0)) }
}
