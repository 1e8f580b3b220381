package graft.tools

import graft.JobCount
import graft.ops.AnnIndex
import graft.streaming.CorpusIngest

/** Times the vector step of an ingest crawl against one materialized IVF
  * store: `CorpusIngest.appendVectorEpoch` for 40-vector epochs, a 20-vector
  * `deleteVectorEpoch` takedown every 3rd epoch, and after each epoch two
  * fresh-read probes (`AnnIndex.fromMaterialized(...).probeTopK`). Vectors
  * are 64-dim floats written as JSONL and read back per epoch, so no batch
  * is a driver-held LocalRelation. Each round materializes a fresh store
  * (untimed) and records each step's wall and Spark jobs; after the last
  * epoch it times `AnnIndex.compactBuckets` (the fold of whatever the
  * epochs left pending, then the compaction). It uses only the
  * public API, so the same file runs against an older checkout: an A/B
  * alternates runs of the two checkouts and compares their per-step lines
  * and probe digests. The session runs `local[cores]`, as graftbench does.
  *
  * Usage: sbt "Test/runMain graft.tools.VectorEpochAB [rounds] [epochs] [seed]"
  */
object VectorEpochAB {
  val AtRest = 2000
  val PerEpoch = 40
  val PerTakedown = 20
  val TakedownEvery = 3
  val Stride = 50
  val Dim = 64

  def main(args: Array[String]): Unit = {
    val rounds = args.headOption.map(_.toInt).getOrElse(3)
    val nEpochs = args.lift(1).map(_.toInt).getOrElse(9)
    val seed = args.lift(2).map(_.toLong).getOrElse(1001L)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftSession.builder(s"local[$cores]", cores, tuneSmallFileScans = true)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val r = new scala.util.Random(seed)
    def vec = Seq.fill(Dim)(r.nextFloat() * 2f - 1f)
    val dir = graft.util.TempDirs.create("vector_epoch_ab")
    (1L to AtRest).map(_ -> vec).toDF("id", "embedding").repartition(4)
      .write.json(s"$dir/at_rest")
    // appended ids skip the stride multiples: those would be centroid ids
    val fresh = Iterator.from(AtRest + 1).map(_.toLong).filter(_ % Stride != 0)
    val live = scala.collection.mutable.ArrayBuffer.empty[Long]
    val epochs = (0 until nEpochs).map { e =>
      val takedown = (e + 1) % TakedownEvery == 0 && live.size >= PerTakedown
      val ids =
        if (takedown) {
          val gone = r.shuffle(live.toVector).take(PerTakedown).sorted
          live --= gone
          gone
        } else fresh.take(PerEpoch).toVector
      if (!takedown) live ++= ids
      ids.map(_ -> vec).toDF("id", "embedding").coalesce(1).write.json(s"$dir/epoch$e")
      takedown
    }
    val schema = "id LONG, embedding ARRAY<FLOAT>"
    def read(p: String) = spark.read.schema(schema).json(p)
    val base = read(s"$dir/at_rest").cache()
    base.count()
    val queries = (0 until 2).map(_ => vec.map(_.toDouble).toArray)

    // (step, ms, jobs) over all rounds
    var walls = Vector.empty[(String, Double, Int)]
    var digests = Set.empty[Int]
    (0 until rounds).foreach { round =>
      val path = s"$dir/ivf$round"
      AnnIndex.materialize(base, "id", "embedding", Stride, path)
      var hits = Seq.empty[Seq[Long]]
      def timed[A](step: String)(body: => A): A = {
        val t0 = System.nanoTime()
        val (out, jobs) = JobCount(spark.sparkContext)(body)
        walls :+= ((step, (System.nanoTime() - t0) / 1e6, jobs))
        out
      }
      epochs.zipWithIndex.foreach { case (takedown, e) =>
        val batch = read(s"$dir/epoch$e")
        if (takedown) timed("delete")(CorpusIngest.deleteVectorEpoch(batch, base, "id",
            "embedding", Stride, path, None, e))
        else timed("append")(CorpusIngest.appendVectorEpoch(batch, base, "id",
            "embedding", Stride, path, None, e))
        hits = queries.map(q => timed("probe")(AnnIndex.fromMaterialized(base, "id",
          "embedding", Stride, path).probeTopK(q, 10, 4).collect().map(_.getLong(0)).toSeq))
      }
      timed("fold")(AnnIndex.compactBuckets(spark, path))
      digests += hits.hashCode
      println(s"VECTORS round=$round digest=${hits.hashCode}")
    }
    if (digests.size != 1) sys.error(s"rounds disagree: $digests")
    def at(xs: Seq[Double], q: Double) = {
      val s = xs.sorted; if (s.isEmpty) 0.0 else s(((s.size - 1) * q).round.toInt)
    }
    for (step <- Seq("append", "delete", "probe", "fold")) {
      val xs = walls.filter(_._1 == step)
      val ms = xs.map(_._2)
      println(f"VECTORS step=$step n=${xs.size} median_ms=${at(ms, 0.5)}%.0f " +
        f"q1_ms=${at(ms, 0.25)}%.0f q3_ms=${at(ms, 0.75)}%.0f " +
        f"jobs_median=${at(xs.map(_._3.toDouble), 0.5)}%.0f jobs_max=${xs.map(_._3).maxOption.getOrElse(0)}")
    }
    spark.stop()
  }
}
