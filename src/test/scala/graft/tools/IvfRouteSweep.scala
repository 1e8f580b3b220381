package graft.tools

import org.apache.spark.sql.functions._

import graft.JobCount
import graft.ops.{AnnIndex, SizeRoute}

/** Measures the two IVF-store size routes on one `local[cores]` session.
  *
  * `centroids` mode (`SizeRoute.IvfCentroidBytes`): for each vector
  * dimension and centroid count it materializes a store whose every
  * vector is a centroid (stride 1, untimed) and reports the centroid
  * table's bytes, then the wall and Spark jobs of a fresh open plus one
  * probe (`fromMaterialized(...).probeTopK`, as an ingest epoch's fresh
  * read runs it) and of a 40-vector `appendToMaterialized`, through each
  * route: the driver-held table (bound at `Int.MaxValue`) and the
  * Spark-read table (bound 0). Both routes' probe rows must be equal.
  *
  * `deletes` mode (`SizeRoute.DeleteIds`): for each batch size it
  * materializes a store of 64-dim vectors (stride 128, untimed) and
  * reports the wall and jobs of `deleteFromMaterialized` through each
  * route: the pairs collected to the driver (bound at `Int.MaxValue`) and
  * the pinned anti-join (bound 0), each rep on disjoint ids and on a store
  * with nothing pending (an untimed `compactBuckets` folds after each).
  *
  * The route order alternates per rep.
  *
  * `pending` mode (`SizeRoute.PendingRows`): on a store of 64,000 64-dim
  * vectors (stride 128, untimed) it grows the pending writes in steps of
  * 40-vector appends and 20-vector deletes, as ingest epochs write them,
  * and at each step reports the wall and jobs of a fresh open plus one
  * probe. Then, for each pending size, it writes that many appended
  * vectors as 40-vector delta files plus half as many tombstones onto a
  * fresh store and reports the wall of the fold (`compactBuckets`).
  *
  * Usage: sbt "Test/runMain graft.tools.IvfRouteSweep centroids [reps] [dim:count,count...]..."
  *        sbt "Test/runMain graft.tools.IvfRouteSweep deletes [reps] [size,size...]"
  *        sbt "Test/runMain graft.tools.IvfRouteSweep pending [reps] [epochs,epochs...] [rows,rows...]"
  */
object IvfRouteSweep {

  def main(args: Array[String]): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftSession.builder(s"local[$cores]", cores, tuneSmallFileScans = true)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    try args.headOption match {
      case Some("deletes") => deletes(spark, reps,
        args.lift(2).getOrElse("100,1000,10000").split(",").map(_.toInt).toSeq)
      case Some("pending") => pending(spark, reps,
        args.lift(2).getOrElse("0,8,32,96").split(",").map(_.toInt).toSeq,
        args.lift(3).getOrElse("1000,4000,16000").split(",").map(_.toInt).toSeq)
      case _ => centroids(spark, reps,
        (if (args.length > 2) args.drop(2).toSeq else Seq("64:100,400,1600,6400", "768:200,800,1600"))
          .map { s =>
            val Array(d, cs) = s.split(":")
            (d.toInt, cs.split(",").map(_.toInt).toSeq)
          })
    } finally spark.stop()
  }

  private def timed[A](body: => A)(implicit spark: org.apache.spark.sql.SparkSession): (A, Double, Int) = {
    val t0 = System.nanoTime()
    val (out, jobs) = JobCount(spark.sparkContext)(body)
    (out, (System.nanoTime() - t0) / 1e6, jobs)
  }

  private def vectors(spark: org.apache.spark.sql.SparkSession, ids: Seq[Long], dim: Int,
      seed: Long): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val r = new scala.util.Random(seed)
    ids.map(i => (i, Seq.fill(dim)(r.nextFloat() * 2f - 1f))).toDF("id", "embedding")
      .repartition(4)
  }

  private val Routes = Seq("held" -> Int.MaxValue, "spark" -> 0)

  private def report(what: String, rows: Seq[(String, Double, Int)]): Unit =
    for ((route, _) <- Routes) {
      val xs = rows.filter(_._1 == route)
      val ms = xs.map(_._2).sorted
      println(f"SWEEP $what route=$route n=${ms.size} median_ms=${ms(ms.size / 2)}%.0f " +
        f"min_ms=${ms.head}%.0f max_ms=${ms.last}%.0f jobs=${xs.map(_._3).max}")
    }

  private def centroids(spark: org.apache.spark.sql.SparkSession, reps: Int,
      specs: Seq[(Int, Seq[Int])]): Unit = {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    for ((dim, counts) <- specs; count <- counts) {
      val path = graft.util.TempDirs.create("ivf_route_sweep")
      val corpus = vectors(spark, 0L until count, dim, count).cache()
      corpus.count()
      SizeRoute.withBounds(SizeRoute.IvfCentroidBytes -> 0) {
        AnnIndex.materialize(corpus, "id", "embedding", 1, path)
      }
      val bytes = new java.io.File(path, "_graft_ivf/centroids").listFiles()
        .filter(f => !f.getName.matches("[._].*")).map(_.length).sum
      val q = Array.fill(dim)(0.5)
      var probes = Vector.empty[(String, Double, Int)]
      var appends = Vector.empty[(String, Double, Int)]
      var next = count.toLong
      for (rep <- 0 until reps + 1) {
        val order = if (rep % 2 == 0) Routes else Routes.reverse
        val hits = order.map { case (route, bound) =>
          SizeRoute.withBounds(SizeRoute.IvfCentroidBytes -> bound) {
            val (hits, ms, jobs) = timed(AnnIndex.fromMaterialized(corpus, "id", "embedding", 1,
              path).probeTopK(q, 10, 4).collect().map(_.getLong(0)).toSeq)
            // the first rep warms both routes up
            if (rep > 0) probes :+= ((route, ms, jobs))
            hits
          }
        }
        if (hits.distinct.size != 1) sys.error(s"routes disagree: $hits")
        for ((route, bound) <- order) SizeRoute.withBounds(SizeRoute.IvfCentroidBytes -> bound) {
          val batch = vectors(spark, next until next + 40, dim, next).localCheckpoint()
          next += 40
          val (_, ms, jobs) = timed(AnnIndex.appendToMaterialized(batch, "id",
            "embedding", 1, path))
          if (rep > 0) appends :+= ((route, ms, jobs))
        }
      }
      println(s"SWEEP centroids dim=$dim count=$count table_bytes=$bytes")
      report(s"open_probe dim=$dim count=$count bytes=$bytes", probes)
      report(s"append dim=$dim count=$count bytes=$bytes", appends)
      corpus.unpersist()
    }
  }

  private def deletes(spark: org.apache.spark.sql.SparkSession, reps: Int,
      sizes: Seq[Int]): Unit = {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val stride = 128
    for (size <- sizes) {
      val n = math.max(64000, 2 * (reps + 1) * size * 2)
      val path = graft.util.TempDirs.create("ivf_delete_sweep")
      val corpus = vectors(spark, 0L until n, 64, size).cache()
      corpus.count()
      AnnIndex.materialize(corpus, "id", "embedding", stride, path)
      val live = new scala.util.Random(size).shuffle((0L until n).filter(_ % stride != 0).toVector)
      var rows = Vector.empty[(String, Double, Int)]
      var used = 0
      for (rep <- 0 until reps + 1) {
        val order = if (rep % 2 == 0) Routes else Routes.reverse
        for ((route, bound) <- order) SizeRoute.withBounds(SizeRoute.DeleteIds -> bound) {
          val gone = live.slice(used, used + size)
          used += size
          val batch = corpus.where(col("id").isin(gone: _*)).localCheckpoint()
          val (_, ms, jobs) = timed(AnnIndex.deleteFromMaterialized(batch, "id",
            "embedding", stride, path))
          if (rep > 0) rows :+= ((route, ms, jobs))
          // each delete starts from a store with nothing pending
          AnnIndex.compactBuckets(spark, path)
        }
      }
      report(s"delete ids=$size corpus=$n", rows)
      corpus.unpersist()
    }
  }
  private def pending(spark: org.apache.spark.sql.SparkSession, reps: Int,
      epochSteps: Seq[Int], foldRows: Seq[Int]): Unit = {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val stride = 128
    val n = 64000
    val corpus = vectors(spark, 0L until n, 64, 7).cache()
    corpus.count()
    val live = new scala.util.Random(7).shuffle((0L until n).filter(_ % stride != 0).toVector)
    def median(xs: Seq[(Double, Int)]) = xs.sortBy(_._1).apply(xs.size / 2)
    SizeRoute.withBounds(SizeRoute.PendingRows -> Int.MaxValue) {
      val path = graft.util.TempDirs.create("ivf_pending_sweep")
      AnnIndex.materialize(corpus, "id", "embedding", stride, path)
      val q = Array.fill(64)(0.5)
      var epochs = 0
      var next = n.toLong
      var used = 0
      for (step <- epochSteps) {
        while (epochs < step) {
          if (epochs % 3 == 2) {
            val gone = live.slice(used, used + 20)
            used += 20
            AnnIndex.deleteFromMaterialized(corpus.where(col("id").isin(gone: _*)).localCheckpoint(),
              "id", "embedding", stride, path)
          } else {
            AnnIndex.appendToMaterialized(vectors(spark, (next until next + 40).filter(_ % stride != 0),
              64, next).localCheckpoint(), "id", "embedding", stride, path)
            next += 40
          }
          epochs += 1
        }
        val m = graft.ops.IndexManifests.read(spark, path).get
        val probes = (0 to reps).map { _ =>
          val (_, ms, jobs) = timed(AnnIndex.fromMaterialized(corpus, "id", "embedding", stride, path)
            .probeTopK(q, 10, 4).collect())
          (ms, jobs)
        }.tail
        val (ms, jobs) = median(probes)
        println(f"SWEEP pending epochs=$epochs delta_files=${m.delta.size} pending_rows=${m.pending} " +
          f"probe_median_ms=$ms%.0f probe_min_ms=${probes.map(_._1).min}%.0f jobs=$jobs")
      }
    }
    for (rows <- foldRows) {
      val walls = (0 until reps).map { rep =>
        val path = graft.util.TempDirs.create("ivf_fold_sweep")
        AnnIndex.materialize(corpus, "id", "embedding", stride, path)
        SizeRoute.withBounds(SizeRoute.PendingRows -> Int.MaxValue) {
          var next = (n + rep * rows * 2).toLong
          for (_ <- 0 until rows / 40) {
            AnnIndex.appendToMaterialized(vectors(spark, (next until next + 40).filter(_ % stride != 0),
              64, next).localCheckpoint(), "id", "embedding", stride, path)
            next += 40
          }
          AnnIndex.deleteFromMaterialized(corpus.where(col("id").isin(live.take(rows / 2): _*))
            .localCheckpoint(), "id", "embedding", stride, path)
        }
        val (_, ms, jobs) = timed(AnnIndex.compactBuckets(spark, path))
        (ms, jobs)
      }
      val (ms, jobs) = median(walls)
      println(f"SWEEP fold appended_rows=$rows tombstones=${rows / 2} median_ms=$ms%.0f " +
        f"min_ms=${walls.map(_._1).min}%.0f max_ms=${walls.map(_._1).max}%.0f jobs=$jobs")
    }
    corpus.unpersist()
  }
}
