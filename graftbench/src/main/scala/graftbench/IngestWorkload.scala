package graftbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ops.{AnnIndex, Dedup, TextOps}
import graft.queries.EncoderFixture
import graft.search.VectorSearchClient
import graft.sources.CorpusIO
import graft.streaming.CorpusIngest

/** `ingest`: continuous corpus maintenance on one writer thread. Crawl
  * epochs land as JSONL files; each ingest epoch folds its docs into the
  * near-duplicate clustering (`CorpusIngest.clusterBatch`) and appends their
  * vectors to the IVF store (`appendVectorEpoch`); every `TakedownEvery`-th
  * epoch deletes earlier docs from both instead (`deleteBatch`,
  * `deleteVectorEpoch`). After each epoch a few IVF probes must see the
  * write.
  */
object IngestWorkload {
  val AtRest = 2000
  val EpochsGenerated = 400
  val PerEpoch = 40
  val NearShare = 0.3
  val TakedownEvery = 3
  val PerTakedown = 20
  val CollapseEvery = 4
  val Stride = 50
  val NProbe = 4
  val K = 10
  val Probes = 2
  val ShingleN = 3
  val Jaccard = 0.5

  final class State(val dir: File, val data: Gen.IngestData, val cluster: CorpusIngest.ClusterState,
      val base: DataFrame, val annPath: String)

  final case class EpochRun(index: Int, kind: String, docs: Int, ms: Double,
      probeMs: Seq[Double], traced: Boolean, problems: Seq[String])

  def run(conf: Conf): Outcome = {
    val (spark, tracer, st, setupWalls) = Harness.setups(conf, reps = 3) { (spark, tracer, dir) =>
      val data = Gen.ingest(conf.seed, AtRest, EpochsGenerated, PerEpoch, NearShare,
        TakedownEvery, PerTakedown, Stride)
      Gen.writeJsonl(new File(dir, "at_rest"), data.atRest, conf.nproc)
      data.epochs.foreach(e => Gen.writeJsonl(new File(dir, s"epoch${e.index}"), e.docs, 1))
      val raw = tracer.span("sources.read") {
        val d = CorpusIO.readJsonl(spark, new File(dir, "at_rest").getPath, Gen.Schema).cache()
        d.count()
        d
      }
      val cluster = tracer.span("streaming.state_init") {
        CorpusIngest.clusterState(shingled(raw), "id", "sh", Jaccard, CollapseEvery)
      }
      val base = tracer.span("search.embed_corpus") {
        val v = embedded(raw)
        v.count()
        v
      }
      val annPath = new File(dir, "ivf").getPath
      tracer.span("search.index_build") {
        AnnIndex.materialize(base, "id", "embedding", Stride, annPath)
      }
      new State(dir, data, cluster, base, annPath)
    }
    val embedder = EncoderFixture.embedder

    var appendEpoch = 0L
    var takedownEpoch = 0L
    var mutations = 0
    def epoch(e: Gen.Epoch, traced: Boolean): EpochRun = {
      mutations += 1
      val collapse = mutations % CollapseEvery == 0
      val kind = if (collapse) "collapse" else if (e.takedown) "delete" else "cluster"
      val t0 = System.nanoTime()
      val res = Try(tracer.op(traced)(tracer.span("bench.epoch", e.index) {
        val batch = tracer.step("sources.read")(
          CorpusIO.readJsonl(spark, new File(st.dir, s"epoch${e.index}").getPath, Gen.Schema))
        if (e.takedown) {
          tracer.span(s"streaming.${kind}_epoch")(
            CorpusIngest.deleteBatch(batch.select("id"), st.cluster, "id", "sh", Jaccard))
          val vecs = tracer.step("search.embed_batch")(embedded(batch))
          tracer.span("ops.ann_delete")(CorpusIngest.deleteVectorEpoch(vecs, st.base, "id",
            "embedding", Stride, st.annPath, None, takedownEpoch))
          takedownEpoch += 1
        } else {
          tracer.span(s"streaming.${kind}_epoch")(
            CorpusIngest.clusterBatch(shingled(batch), st.cluster, "id", "sh", Jaccard))
          val vecs = tracer.step("search.embed_batch")(embedded(batch))
          tracer.span("ops.ann_append")(CorpusIngest.appendVectorEpoch(vecs, st.base, "id",
            "embedding", Stride, st.annPath, None, appendEpoch))
          appendEpoch += 1
        }
      }))
      val ms = (System.nanoTime() - t0) / 1e6
      // fresh reads: probe for docs the epoch just wrote (must be found) or
      // deleted (must be gone)
      val probed = e.docs.take(Probes).map { case (id, text) =>
        val qv = embedder.embedOne(VectorSearchClient.DocPrefix + text).map(_.toDouble)
        val p0 = System.nanoTime()
        val hits = Try(tracer.op(traced)(tracer.span("search.fresh_probe", e.index) {
          tracer.span("ops.AnnIndex.probeTopK") {
            AnnIndex.fromMaterialized(st.base, "id", "embedding", Stride, st.annPath)
              .probeTopK(qv, K, NProbe).collect().map(_.getLong(0)).toSeq
          }
        }))
        val pms = (System.nanoTime() - p0) / 1e6
        val problem = hits.fold(err => Some(err.toString), h =>
          if (e.takedown && h.contains(id)) Some(s"deleted id $id still found")
          else if (!e.takedown && !h.contains(id)) Some(s"written id $id not found")
          else None)
        (pms, problem)
      }
      Harness.log(f"epoch ${e.index} $kind: $ms%.0f ms, probes ${probed.map(_._1.toInt).mkString(",")} ms")
      EpochRun(e.index, kind, e.docs.length, ms, probed.map(_._1), traced,
        res.failed.toOption.map(_.toString).toSeq ++ probed.flatMap(_._2))
    }

    val gc0 = Jvm.gcMillis()
    val start = System.nanoTime()
    val runs = Vector.newBuilder[EpochRun]
    var i = 0
    // every run spans all three epoch kinds (ingest, takedown, plan-depth
    // collapse); a traced run spans each kind traced and untraced
    val minEpochs = if (conf.trace) 2 * CollapseEvery else CollapseEvery
    while ((i < minEpochs || Jvm.seconds(start) < conf.seconds) && i < st.data.epochs.length) {
      runs += epoch(st.data.epochs(i), conf.trace && i % 2 == 1)
      i += 1
    }
    val gcMs = (Jvm.gcMillis() - gc0).toDouble
    tracer.drain()
    val all = runs.result()
    val checks = Seq(labelsCheck(st), storeCheck(spark, st, all.length))

    val untraced = all.filter(!_.traced)
    // how many epochs fit in a run varies, and with it the mix of epoch
    // kinds; taking each kind's median and averaging over the kinds keeps
    // that mix from moving the run's figures
    val byKind = untraced.groupBy(_.kind).values.toSeq
    val epochMs = Stats.mean(byKind.map(k => Stats.median(k.map(_.ms))))
    val docsPerS = Stats.mean(byKind.map(k => Stats.median(k.map(r => r.docs / (r.ms / 1e3)))))
    val e2e = ListMap(
      "op_p50_ms" -> Metric(epochMs, "ms", untraced.map(_.ms)),
      "op_p95_ms" -> Metric.p95(untraced.map(_.ms), "ms"),
      "items_per_s" -> Metric(docsPerS, "1/s"),
      "ingest_docs_per_s" -> Metric(untraced.map(_.docs).sum / (untraced.map(_.ms).sum / 1e3), "docs/s"),
      "epoch_p50_s" -> Metric.p50(untraced.map(_.ms / 1e3), "s"),
      "fresh_search_p50_ms" -> Metric.p50(untraced.flatMap(_.probeMs), "ms"))

    val report =
      if (conf.trace) Some(new SpanReport(tracer.spans, tracer.listener, start)) else None
    val layers = report.fold(ListMap.empty[String, Metric]) { report =>
      val epochs = report.named("bench.epoch")
      val c = new Counters
      epochs.foreach(s => c += report.inclusive(s))
      val n = math.max(epochs.length, 1).toDouble
      def s(name: String) = Metric.p50(report.seconds(name), "s")
      Harness.commonLayers(report, conf.nproc, all.length, gcMs,
        Harness.overheadPct(all.filter(_.traced).map(_.ms), untraced.map(_.ms))) ++ ListMap(
        "streaming.state_init_s" -> s("streaming.state_init"),
        "search.index_build_s" -> s("search.index_build"),
        "streaming.cluster_epoch_s" -> s("streaming.cluster_epoch"),
        "streaming.delete_epoch_s" -> s("streaming.delete_epoch"),
        "streaming.collapse_epoch_s" -> s("streaming.collapse_epoch"),
        "ops.ann_append_s" -> s("ops.ann_append"),
        "search.fresh_probe_ms" -> Metric.p50(report.ms("search.fresh_probe"), "ms"),
        "spark.jobs_per_epoch" -> Metric(c.jobs / n, "count"),
        "spark.tasks_per_epoch" -> Metric(c.tasks / n, "count"),
        "spark.shuffle_mb_per_epoch" -> Metric(c.shuffleWriteBytes / 1e6 / n, "MB"),
        "jvm.gc_s" -> Metric(gcMs / 1e3, "s"))
    }
    val failed = all.filter(_.problems.nonEmpty)
    Outcome(setupWalls, st.data.sizes ++ Map("epochs_run" -> all.length,
        "takedown_every" -> TakedownEvery, "collapse_every" -> CollapseEvery,
        "collapses" -> all.count(_.kind == "collapse"), "ivf_stride" -> Stride, "nprobe" -> NProbe,
        "probes_per_epoch" -> Probes),
      e2e, layers, all.length, failed.length,
      Check("ingest.epochs_and_fresh_probes", failed.isEmpty,
        failed.take(3).map(r => s"epoch ${r.index}: ${r.problems.mkString("; ")}").mkString(" | ")) +:
        checks,
      report)
  }

  private def shingled(docs: DataFrame): DataFrame =
    docs.select(col("id"), TextOps.wordNGrams(col("text"), ShingleN).as("sh"))

  private def embedded(docs: DataFrame): DataFrame =
    VectorSearchClient.fromCorpus(docs, "text", "id", EncoderFixture.embedder).index

  /** The maintained labels must equal a batch labeling of the surviving
    * corpus (the stream = batch identity).
    */
  private def labelsCheck(st: State): Check = {
    val ingested = st.cluster.currentIngested
    val want = Dedup.components(Dedup.jaccardJoin(ingested, "id", "sh", Jaccard).select("a", "b"), "id")
    def asMap(df: DataFrame) = df.select("id", "component").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val problems = Checks.sameLabels(asMap(st.cluster.currentLabels), asMap(want))
    Check("ingest.labels_equal_batch_components", problems.isEmpty, problems.mkString("; "))
  }

  /** The maintained IVF store must answer probes exactly like a store
    * freshly materialized over the surviving vectors.
    */
  private def storeCheck(spark: SparkSession, st: State, epochsRun: Int): Check = {
    val live = scala.collection.mutable.LinkedHashMap.empty[Long, String]
    st.data.epochs.take(epochsRun).foreach { e =>
      if (e.takedown) e.docs.foreach(d => live.remove(d._1)) else live ++= e.docs
    }
    import spark.implicits._
    val vecs = st.base.unionByName(embedded(live.toSeq.toDF("id", "text"))).cache()
    val freshPath = new File(st.dir, "ivf_fresh").getPath
    AnnIndex.materialize(vecs, "id", "embedding", Stride, freshPath)
    val fresh = AnnIndex.fromMaterialized(vecs, "id", "embedding", Stride, freshPath)
    val kept = AnnIndex.fromMaterialized(st.base, "id", "embedding", Stride, st.annPath)
    val embedder = EncoderFixture.embedder
    val queries = (live.toSeq.takeRight(2) ++ st.data.atRest.take(2)).map(_._2)
    val problems = queries.zipWithIndex.flatMap { case (q, i) =>
      val qv = embedder.embedOne(VectorSearchClient.QueryPrefix + q).map(_.toDouble)
      def hits(a: AnnIndex) = a.probeTopK(qv, K, NProbe).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val (a, b) = (hits(kept), hits(fresh))
      if (a == b && a.length == K) None else Some(s"query $i: maintained ${a.take(3)} vs fresh ${b.take(3)}")
    }
    vecs.unpersist()
    Check("ingest.ivf_equals_fresh_materialize", problems.isEmpty,
      s"${live.size} live epoch docs; ${problems.take(2).mkString(" | ")}")
  }
}
