package graft.tools

import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SizeEstimator

import graft.JobCount
import graft.ops.{BatchPostings, SizeRoute, TextOps}
import graft.streaming.CorpusIngest

/** Measures the `SizeRoute.IngestBatchBytes` route. For each doc width (in
  * word 3-grams) and batch size it reports the batch's index footprint —
  * `BatchPostings.weight`, the heap by Spark's `SizeEstimator` and the
  * serialized size each scan task deserializes — and the wall and Spark
  * jobs of one `CorpusIngest.clusterBatch` epoch against 2,000 at-rest docs
  * of that width through each route: the driver-held index (bound at
  * `Int.MaxValue`) and the shuffled joins (bound 0). A tenth of each batch
  * are one-word edits of at-rest docs. Every rep builds a fresh state
  * (untimed); the route order alternates per rep, and both routes' labels
  * must be equal.
  *
  * `fit` mode instead prints the heap of indexes over distinct shingles at
  * several widths and shingle lengths, from which `BatchPostings.RowBytes`
  * and `ShingleBytes` are read.
  *
  * Usage: sbt "Test/runMain graft.tools.IngestRouteSweep [reps] [width:size,size...]..."
  *        sbt "Test/runMain graft.tools.IngestRouteSweep fit"
  */
object IngestRouteSweep {
  val AtRest = 2000
  val Tau = 0.5

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("fit")) fit() else sweep(args)

  private def fit(): Unit = {
    for (rows <- Seq(1000, 4000); k <- Seq(1, 10, 100); len <- Seq(8, 32)) {
      var n = 0L
      def shingle = { n += 1; val s = n.toString; s + "x" * (len - s.length) }
      val data = (0 until rows).map(i => Row(i.toLong, Seq.fill(k)(shingle)))
      val heap = SizeEstimator.estimate(BatchPostings(data.toArray, Tau))
      println(s"FIT rows=$rows shingles_per_row=$k chars=$len heap=$heap " +
        f"per_shingle=${heap.toDouble / (rows * k)}%.1f weight=${data.map(BatchPostings.weight).sum}")
    }
  }

  private def sweep(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val specs = (if (args.length > 1) args.drop(1).toSeq
      else Seq("24:256,1024,4096,16384", "960:64,256,1024")).map { s =>
        val Array(w, bs) = s.split(":")
        (w.toInt, bs.split(",").map(_.toInt).toSeq)
      }
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val ser = new JavaSerializer(spark.sparkContext.getConf).newInstance()
    val rnd = new scala.util.Random(2311)
    val vocab = (0 until 50000).map(i => s"w$i")
    def words(n: Int) = Vector.fill(n)(vocab(rnd.nextInt(vocab.size)))
    def shingled(df: DataFrame) = df.select(col("id"), TextOps.wordNGrams(col("text"), 3).as("sh"))
    def labelMap(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((width, sizes) <- specs) {
      val rest = (1L to AtRest).map(i => (i, words(width + 2)))
      val raw = rest.map { case (i, ws) => (i, ws.mkString(" ")) }.toDF("id", "text")
        .repartition(4).cache()
      raw.count()
      for (size <- sizes) {
        val docs = (0 until size).map { j =>
          val ws = if (j % 10 == 0) { val (_, r) = rest(rnd.nextInt(rest.size)); r.updated(0, "edit") }
            else words(width + 2)
          (1000000L + j, ws.mkString(" "))
        }
        val batch = spark.sparkContext.parallelize(docs, 4).toDF("id", "text")
          .localCheckpoint()
        val rows = shingled(batch).collect()
        val postings = BatchPostings(rows, Tau)
        println(s"SWEEP width=$width size=$size weight=${rows.map(BatchPostings.weight).sum} " +
          s"heap=${SizeEstimator.estimate(postings)} serialized=${ser.serialize(postings).limit()}")
        (0 until reps).foreach { rep =>
          val order = if (rep % 2 == 0) Seq("driver", "shuffled") else Seq("shuffled", "driver")
          val labels = order.map { route =>
            val bound = if (route == "driver") Int.MaxValue else 0
            SizeRoute.withBounds(SizeRoute.IngestBatchBytes -> bound) {
              val state = CorpusIngest.clusterState(shingled(raw), "id", "sh", Tau)
              val t0 = System.nanoTime()
              val (out, jobs) = JobCount(spark.sparkContext)(
                CorpusIngest.clusterBatch(shingled(batch), state, "id", "sh", Tau))
              val ms = (System.nanoTime() - t0) / 1e6
              println(f"SWEEP width=$width size=$size rep=$rep route=$route ms=$ms%.0f jobs=$jobs")
              labelMap(out)
            }
          }
          if (labels.distinct.size != 1) sys.error(s"routes disagree at width=$width size=$size")
        }
      }
      raw.unpersist()
    }
    spark.stop()
  }
}
