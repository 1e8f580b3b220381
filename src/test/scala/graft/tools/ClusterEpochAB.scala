package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.JobCount
import graft.ops.TextOps
import graft.streaming.CorpusIngest

/** Times the cluster-maintenance epochs of one crawl: the engine's
  * `CorpusIngest.clusterBatch`/`deleteBatch` over at-rest docs, 40-doc
  * ingest epochs, a 20-doc takedown every 3rd epoch and a collapse every
  * 4th, read from JSONL files so no batch is a driver-held LocalRelation.
  * Each round builds a fresh state (untimed) and records each epoch's wall
  * and Spark jobs. It uses only the public epoch API, so the same file
  * runs against an older checkout: an A/B alternates runs of the two
  * checkouts and compares their per-kind lines and label digests.
  *
  * Usage: sbt "Test/runMain graft.tools.ClusterEpochAB [rounds] [epochs] [seed]"
  */
object ClusterEpochAB {
  val AtRest = 2000
  val PerEpoch = 40
  val PerTakedown = 20
  val TakedownEvery = 3
  val CollapseEvery = 4
  val Tau = 0.5

  /** The crawl: at-rest docs (a tenth with a one-word near-dup), then
    * epochs of 40 docs (30% one-word edits of at-rest docs) with a 20-doc
    * takedown of earlier epoch docs every 3rd epoch.
    */
  final case class Crawl(atRest: Seq[(Long, String)], epochs: Seq[(Boolean, Seq[(Long, String)])])

  def crawl(seed: Long, epochs: Int): Crawl = {
    val r = new scala.util.Random(seed)
    val vocab = (0 until 5000).map(i => s"w$i")
    def words(n: Int) = Vector.fill(n)(vocab(r.nextInt(vocab.size)))
    def mutate(ws: Vector[String]) = ws.updated(r.nextInt(ws.size), vocab(r.nextInt(vocab.size)))
    val rest = Vector.newBuilder[(Long, Vector[String])]
    var i = 1L
    while (i <= AtRest) {
      val ws = words(20 + r.nextInt(11))
      rest += i -> ws
      if (r.nextDouble() < 0.1) { i += 1; rest += i -> mutate(ws) }
      i += 1
    }
    val restRows = rest.result()
    var next = i + 1
    val live = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val es = (0 until epochs).map { e =>
      if ((e + 1) % TakedownEvery == 0 && live.size >= PerTakedown) {
        val gone = r.shuffle(live.indices.toVector).take(PerTakedown).sorted.reverse
        val docs = gone.map(live(_))
        gone.foreach(live.remove)
        (true, docs.sortBy(_._1))
      } else {
        val docs = Vector.fill(PerEpoch) {
          val t = if (r.nextDouble() < 0.3) mutate(restRows(r.nextInt(restRows.size))._2)
            else words(20 + r.nextInt(11))
          next += 1
          (next, t.mkString(" "))
        }
        live ++= docs
        (false, docs)
      }
    }
    Crawl(restRows.map { case (id, ws) => (id, ws.mkString(" ")) }, es)
  }

  def main(args: Array[String]): Unit = {
    val rounds = args.headOption.map(_.toInt).getOrElse(5)
    val nEpochs = args.lift(1).map(_.toInt).getOrElse(8)
    val seed = args.lift(2).map(_.toLong).getOrElse(2301L)
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = graft.util.TempDirs.create("cluster_epoch_ab")
    val c = crawl(seed, nEpochs)
    c.atRest.toDF("id", "text").repartition(4).write.json(s"$dir/at_rest")
    c.epochs.zipWithIndex.foreach { case ((_, docs), e) =>
      docs.toDF("id", "text").coalesce(1).write.json(s"$dir/epoch$e")
    }
    val schema = "id LONG, text STRING"
    def shingled(df: DataFrame) = df.select(col("id"), TextOps.wordNGrams(col("text"), 3).as("sh"))
    def read(p: String) = spark.read.schema(schema).json(p)
    val raw = read(s"$dir/at_rest").cache()
    raw.count()

    // (kind, ms, jobs) per epoch, over all rounds
    var walls = Vector.empty[(String, Double, Int)]
    var digests = Set.empty[Int]
    (0 until rounds).foreach { round =>
      val state = CorpusIngest.clusterState(shingled(raw), "id", "sh", Tau, CollapseEvery)
      var out: DataFrame = state.currentLabels
      c.epochs.zipWithIndex.foreach { case ((takedown, _), e) =>
        val kind = if ((e + 1) % CollapseEvery == 0) "collapse"
          else if (takedown) "delete" else "cluster"
        val batch = read(s"$dir/epoch$e")
        val t0 = System.nanoTime()
        val (_, jobs) = JobCount(spark.sparkContext) {
          out = if (takedown) CorpusIngest.deleteBatch(batch.select("id"), state, "id", "sh", Tau)
            else CorpusIngest.clusterBatch(shingled(batch), state, "id", "sh", Tau)
        }
        walls :+= ((kind, (System.nanoTime() - t0) / 1e6, jobs))
      }
      val labels = out.collect().map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
      digests += labels.hashCode
      println(s"EPOCHS round=$round labels=${labels.size} digest=${labels.hashCode}")
    }
    if (digests.size != 1) sys.error(s"rounds disagree: $digests")
    def at(xs: Seq[Double], q: Double) = {
      val s = xs.sorted; if (s.isEmpty) 0.0 else s(((s.size - 1) * q).round.toInt)
    }
    for (kind <- Seq("cluster", "delete", "collapse")) {
      val xs = walls.filter(_._1 == kind)
      val ms = xs.map(_._2)
      println(f"EPOCHS kind=$kind n=${xs.size} median_ms=${at(ms, 0.5)}%.0f " +
        f"q1_ms=${at(ms, 0.25)}%.0f q3_ms=${at(ms, 0.75)}%.0f " +
        f"jobs_median=${at(xs.map(_._3.toDouble), 0.5)}%.0f jobs_max=${xs.map(_._3).maxOption.getOrElse(0)}")
    }
    spark.stop()
  }
}
