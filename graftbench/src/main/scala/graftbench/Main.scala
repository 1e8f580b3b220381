package graftbench

import java.io.File

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Run settings, from the command line. */
final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
    nproc: Int, work: File, out: File)

final case class Check(name: String, ok: Boolean, detail: String)

/** What one workload run produced. `metrics` holds the end-to-end metrics
  * (contract names and the workload's own names); `layers` holds the traced
  * per-layer metrics, and `spans` the recorded spans, on a traced run only.
  */
final case class Outcome(setupS: Seq[Double], sizes: Map[String, Any],
    metrics: ListMap[String, Metric], layers: ListMap[String, Metric],
    attempted: Long, failed: Long, checks: Seq[Check], spans: Option[SpanReport])

/** Benchmark entry point: `--workload search|curate|ingest --seed N
  * --seconds S --trace 0|1 --nproc P --work DIR --out DIR`. Prints bare JSON
  * lines; the last one is the run summary. Exits 1 when any operation or
  * check failed.
  */
object Main {
  /** End-to-end metrics every workload reports (the summary line's keys). */
  val EndToEnd: Seq[String] = Seq("setup_s", "op_p50_ms", "items_per_s")

  /** Per-layer metrics every traced run reports (the summary line's keys). */
  val PerLayer: Seq[String] = Seq("search.self_ms_per_op", "ops.self_ms_per_op",
    "spark.jobs_per_op", "spark.tasks_per_op", "spark.task_ms_per_op",
    "spark.shuffle_mb_per_op", "spark.task_busy_ratio", "jvm.gc_ms_per_op",
    "trace.uncovered_pct", "trace.overhead_pct")

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val loadBefore = Jvm.loadAvg()
    val outcome = conf.workload match {
      case "search" => SearchWorkload.run(conf)
      case "curate" => CurateWorkload.run(conf)
      case "ingest" => IngestWorkload.run(conf)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Harness.log("workload done")
    Harness.stop()
    Harness.log("session stopped")
    val loadAfter = Jvm.loadAvg()
    val mutation = Checks.mutationSelfCheck()
    val checks = outcome.checks ++ mutation.map { case (n, ok) => Check(s"mutation.$n", ok, "") }
    val correct = outcome.failed == 0 && checks.forall(_.ok)
    val setup = Metric.p50(outcome.setupS, "s")
    val all = ListMap("setup_s" -> setup) ++ outcome.metrics
    val common = Seq("workload" -> conf.workload, "seed" -> conf.seed, "nproc" -> conf.nproc,
      "seconds" -> conf.seconds, "trace" -> conf.trace)
    Json.emit(Seq("kind" -> "inputs") ++ common ++ Seq("sizes" -> outcome.sizes): _*)
    Json.emit(Seq("kind" -> "checks") ++ common ++ Seq("correct" -> correct,
      "checks" -> checks.map(c => ListMap("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail))): _*)
    outcome.spans.foreach(r => Json.emit(Seq("kind" -> "spans") ++ common ++
      Seq("spans_file" -> Harness.writeSpans(conf, r), "spans" -> r.all.length): _*))
    Json.emit(Seq("kind" -> (if (conf.trace) "layers" else "metrics")) ++ common ++ Seq(
      "attempted" -> outcome.attempted, "failed" -> outcome.failed,
      "loadavg_before" -> loadBefore, "loadavg_after" -> loadAfter,
      "metrics" -> (if (conf.trace) outcome.layers else all).map { case (k, m) => k -> m.json }): _*)
    val summary =
      if (conf.trace) PerLayer.map(k => k -> outcome.layers(k))
      else EndToEnd.map(k => k -> all(k))
    Json.emit("correct" -> correct, "attempted" -> outcome.attempted, "failed" -> outcome.failed,
      "metrics" -> ListMap(summary.map { case (k, m) =>
        k -> ListMap("value" -> m.value, "unit" -> m.unit) }: _*))
    System.exit(if (correct) 0 else 1)
  }

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Conf(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("nproc").toInt, new File(need("work")), new File(need("out")))
  }
}

/** Session, set-up and reporting helpers shared by the workloads. */
object Harness {
  @volatile private var active: Option[SparkSession] = None

  /** A fresh `local[nproc]` session with the engine's defaults, spilling and
    * writing only under the run's work directory.
    */
  def session(conf: Conf): SparkSession = {
    val spark = GraftSession.builder(s"local[${conf.nproc}]", conf.nproc)
      .config("spark.local.dir", new File(conf.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(conf.work, "warehouse").getPath)
      .config("spark.ui.showConsoleProgress", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    active = Some(spark)
    spark
  }

  def stop(): Unit = { active.foreach(_.stop()); active = None }

  private val started = System.nanoTime()

  /** Progress note on stderr (stdout carries only JSON lines). */
  def log(msg: String): Unit =
    System.err.println(f"[graftbench +${Jvm.seconds(started)}%.1fs] $msg")

  /** Set-up repeated `reps` times, each from session start through input
    * generation and index/state build; the last repetition's session and
    * state are the ones measured. Returns the per-repetition walls too.
    */
  def setups[S](conf: Conf, reps: Int)(build: (SparkSession, Tracer, File) => S)
      : (SparkSession, Tracer, S, Seq[Double]) = {
    var last: (SparkSession, Tracer, S) = null
    val walls = (0 until reps).map { r =>
      if (last != null) stop()
      val t0 = System.nanoTime()
      val spark = session(conf)
      val tracer = new Tracer(spark.sparkContext, conf.trace)
      val dir = new File(conf.work, s"setup$r")
      val state = tracer.op(conf.trace)(build(spark, tracer, dir))
      last = (spark, tracer, state)
      val wall = Jvm.seconds(t0)
      log(f"set-up $r: $wall%.2fs")
      wall
    }
    (last._1, last._2, last._3, walls)
  }

  /** The per-layer metrics every traced run reports, over the traced
    * operations' top-level spans (spans with an op id; set-up spans have
    * none). `overheadPct` compares traced and untraced operations of the
    * same run.
    */
  def commonLayers(report: SpanReport, nproc: Int, allOps: Int, gcMs: Double,
      overheadPct: Double): ListMap[String, Metric] = {
    val opSpans = report.all.filter(_.op >= 0)
    val top = opSpans.filter(_.parent == 0L)
    val ops = math.max(top.map(_.op).distinct.length, 1).toDouble
    val spark = new Counters
    top.foreach(s => spark += report.inclusive(s))
    val topMs = top.map(_.ms).sum
    def self(module: String) =
      opSpans.filter(_.name.startsWith(module + ".")).map(report.selfMs).sum / ops
    ListMap(
      "search.self_ms_per_op" -> Metric(self("search"), "ms"),
      "ops.self_ms_per_op" -> Metric(self("ops"), "ms"),
      "spark.jobs_per_op" -> Metric(spark.jobs / ops, "count"),
      "spark.tasks_per_op" -> Metric(spark.tasks / ops, "count"),
      "spark.task_ms_per_op" -> Metric(spark.taskMs / ops, "ms"),
      "spark.shuffle_mb_per_op" -> Metric(spark.shuffleWriteBytes / 1e6 / ops, "MB"),
      "spark.task_busy_ratio" -> Metric(spark.taskMs / math.max(topMs * nproc, 1e-9), "ratio"),
      "jvm.gc_ms_per_op" -> Metric(gcMs / math.max(allOps, 1), "ms"),
      "trace.uncovered_pct" -> Metric(100.0 * top.map(report.selfMs).sum / math.max(topMs, 1e-9), "%"),
      "trace.overhead_pct" -> Metric(overheadPct, "%"))
  }

  /** Traced over untraced median, as a percentage difference. */
  def overheadPct(traced: Seq[Double], untraced: Seq[Double]): Double =
    if (traced.isEmpty || untraced.isEmpty) 0.0
    else 100.0 * (Stats.median(traced) / Stats.median(untraced) - 1.0)

  /** Writes every recorded span once, at the end of the run. */
  def writeSpans(conf: Conf, report: SpanReport): String = {
    conf.out.mkdirs()
    val f = new File(conf.out, s"spans-${conf.workload}-seed${conf.seed}.json")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.write(Json.render(report.spansJson)) finally w.close()
    f.getPath
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
