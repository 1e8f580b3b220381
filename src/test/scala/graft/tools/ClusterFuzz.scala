package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.SizeRoute

/** Differential fuzz of the cluster-maintenance geometry
  * (Dedup.incrementalComponents + deleteFromComponents +
  * CorpusIngest.clusterBatch/deleteBatch): random merge AND delete
  * scenarios checked against from-scratch clustering over the surviving
  * pair set — the same contract the `incremental_components` /
  * `streamed_components` / `streamed_cluster_delete` gates prove on one
  * fixture each, swept here across the adversarial geometries:
  *
  *  - random epoch counts (1–4 sequential merges into the same labels);
  *  - bridge batches that daisy-chain k existing clusters (the documented
  *    label-propagation-adversarial case the star route exists for);
  *  - fresh-node-only batches, empty batches, batch == the entire at-rest
  *    pair set (an at-least-once re-delivery);
  *  - BOTH size routes (driver union-find and distributed star
  *    contraction, forced via a zero GraphLabelEdges route bound on odd
  *    scenarios);
  *  - DELETE epochs interleaved with merges (~every other epoch): each
  *    seen node leaves w.p. 0.3 — bridge deletions exercise the SPLIT
  *    path — plus a never-seen id per batch (no-op contract);
  *  - the streaming twin (clusterState/clusterBatch/deleteBatch over
  *    synthesized shingle corpora, tau = 0.5) on every 5th scenario,
  *    with a takedown epoch after the merges and sometimes one more
  *    ingest epoch AFTER the delete (post-delete re-pairing); every other
  *    streaming scenario forces the distributed routes (zero
  *    IngestBatchBytes and GraphLabelEdges bounds), the rest hold the
  *    batch on the driver.
  *
  * Usage: sbt "Test/runMain graft.tools.ClusterFuzz [nScenarios] [seed]"
  * Prints one line per mismatch and a final `CLUSTERFUZZ` summary; exits
  * nonzero on any mismatch.
  */
object ClusterFuzz {

  private def labelMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100)
    val seed = args.lift(1).map(_.toLong).getOrElse(42L)
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    var bad = 0
    var ran = 0

    def pairsDf(ps: Seq[(Long, Long)]): DataFrame =
      if (ps.isEmpty) Seq.empty[(Long, Long)].toDF("a", "b")
      else ps.toDF("a", "b")

    (0 until n).foreach { i =>
      ran += 1
      if (i % 5 == 4) SizeRoute.withBounds((if (i % 10 == 9)
          Seq(SizeRoute.IngestBatchBytes -> 0, SizeRoute.GraphLabelEdges -> 0)
          else Nil): _*) {
        // ---- streaming twin: synthesized shingle corpus, 2–3 epochs ----
        val vocab = (0 until 12).map(v => s"s$v")
        def doc(id: Long): (Long, Seq[String]) = {
          val k = 2 + rng.nextInt(4)
          (id, rng.shuffle(vocab).take(k))
        }
        val corpus = (0 until 6 + rng.nextInt(10)).map(j => doc(j.toLong))
        val corpusDf = corpus.toDF("doc_id", "sh")
        val state = graft.streaming.CorpusIngest.clusterState(
          corpusDf, "doc_id", "sh", 0.5)
        val epochs = (0 until 2 + rng.nextInt(2)).map { e =>
          val base = 100L * (e + 1)
          // mix fresh docs with exact copies of existing docs (guaranteed
          // jaccard-1 dups — the cross-epoch fold-in case)
          val fresh = (0 until 1 + rng.nextInt(4)).map(j => doc(base + j))
          val dups = corpus.take(rng.nextInt(3)).zipWithIndex.map {
            case ((_, sh), j) => (base + 50L + j, sh)
          }
          fresh ++ dups
        }
        epochs.foreach { ep =>
          graft.streaming.CorpusIngest.clusterBatch(
            ep.toDF("doc_id", "sh"), state, "doc_id", "sh", 0.5)
        }
        // takedown epoch: each ingested doc leaves w.p. 0.25, plus one id
        // that was never ingested (must be a no-op)
        val ingested = corpus ++ epochs.flatten
        val dels = ingested.map(_._1).filter(_ => rng.nextDouble() < 0.25) :+
          999999L
        graft.streaming.CorpusIngest.deleteBatch(
          dels.toDF("doc_id"), state, "doc_id", "sh", 0.5)
        // interleave: sometimes one more ingest epoch AFTER the delete
        // (new docs may re-pair with shingles of surviving docs)
        val post = (0 until rng.nextInt(3)).map(j => doc(900L + j))
        if (post.nonEmpty)
          graft.streaming.CorpusIngest.clusterBatch(
            post.toDF("doc_id", "sh"), state, "doc_id", "sh", 0.5)
        val surviving = ingested.filterNot(d => dels.contains(d._1)) ++ post
        val full = graft.streaming.CorpusIngest.clusterState(
          surviving.toDF("doc_id", "sh"), "doc_id", "sh", 0.5)
        val got = labelMap(state.currentLabels)
        val want = labelMap(full.currentLabels)
        if (got != want) {
          bad += 1
          println(s"MISMATCH stream scenario=$i seed=$seed dels=$dels " +
            s"got=$got want=$want")
        }
      } else {
        // ---- incrementalComponents geometry ----
        val nNodes = 4 + rng.nextInt(40)
        val big = rng.nextBoolean()
        def nid(j: Int): Long =
          if (big) 1000000000L + j * 977L else j.toLong
        val nodes = (0 until nNodes).map(nid)
        val atRest = (0 until rng.nextInt(nNodes * 2)).map { _ =>
          val a = nodes(rng.nextInt(nNodes)); val b = nodes(rng.nextInt(nNodes))
          (math.min(a, b), math.max(a, b))
        }.filter(p => p._1 != p._2).distinct
        var labels = graft.ops.Dedup.components(pairsDf(atRest), "id")
        var allPairs = atRest
        val epochs = 1 + rng.nextInt(4)
        (0 until epochs).foreach { e =>
          val kind = rng.nextInt(4)
          val batch: Seq[(Long, Long)] = kind match {
            case 0 => // daisy-chain bridge across existing clusters
              val comps = labelMap(labels).toSeq.groupBy(_._2)
                .values.map(g => g.map(_._1).min).toSeq.sorted
              if (comps.size < 2) Seq.empty
              else comps.sliding(2).map(w => (w(0), w(1))).toSeq
            case 1 => // fresh nodes only
              val base = 5000000L * (e + 1) + i
              (0 until 1 + rng.nextInt(5)).map(j =>
                (base + 2L * j, base + 2L * j + 1))
            case 2 => // empty epoch / re-delivery of the full at-rest set
              if (rng.nextBoolean()) Seq.empty else allPairs
            case _ => // random mix touching old and new nodes
              (0 until 1 + rng.nextInt(6)).map { _ =>
                val a = if (rng.nextBoolean() && nodes.nonEmpty)
                  nodes(rng.nextInt(nNodes)) else 7000000L + rng.nextInt(20)
                val b = if (rng.nextBoolean() && nodes.nonEmpty)
                  nodes(rng.nextInt(nNodes)) else 7000000L + rng.nextInt(20)
                (math.min(a, b), math.max(a, b))
              }.filter(p => p._1 != p._2)
          }
          // odd scenarios force the distributed star route
          val maxEdges = if (i % 2 == 1) 0 else 1 << 22
          labels = SizeRoute.withBounds(SizeRoute.GraphLabelEdges -> maxEdges) {
            graft.ops.Dedup.incrementalComponents(labels, "id", pairsDf(batch))
          }
          allPairs = (allPairs ++ batch).distinct
          // delete epoch after every other merge: each seen node leaves
          // w.p. 0.3 (bridges included — the SPLIT geometry), plus one
          // never-seen id; pairsAmong replays the true induced pair rule
          if (rng.nextBoolean()) {
            val seen = allPairs.flatMap(p => Seq(p._1, p._2)).distinct
            val dels = seen.filter(_ => rng.nextDouble() < 0.3) :+ 888888888L
            val delSet = dels.toSet
            labels = SizeRoute.withBounds(SizeRoute.GraphLabelEdges -> maxEdges) {
              graft.ops.Dedup.deleteFromComponents(labels, "id",
                dels.toDF("id"),
                ids => pairsDf(allPairs)
                  .join(ids.select(col("id").as("a")), Seq("a"), "left_semi")
                  .join(ids.select(col("id").as("b")), Seq("b"), "left_semi"))
            }
            allPairs = allPairs.filter(p => !delSet(p._1) && !delSet(p._2))
          }
        }
        val want = labelMap(graft.ops.Dedup.components(pairsDf(allPairs), "id"))
        val got = labelMap(labels)
        if (got != want) {
          bad += 1
          println(s"MISMATCH inc scenario=$i seed=$seed epochs=$epochs " +
            s"got=$got want=$want pairs=$allPairs")
        }
      }
      if ((i + 1) % 25 == 0) println(s"  ...${i + 1}/$n scenarios, $bad mismatches")
    }
    println(s"CLUSTERFUZZ scenarios=$ran seed=$seed mismatches=$bad")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
