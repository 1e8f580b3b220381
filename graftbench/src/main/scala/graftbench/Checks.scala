package graftbench

/** Output checks, written against in-process references that share no code
  * with the engine paths they check. Each check returns the problems it
  * found; an empty result is a pass.
  */
object Checks {

  /** Cosine distance with the engine's documented semantics: accumulate in
    * double, zero vector gives 2.0, similarity clamped to [-1, 1].
    */
  def cosDist(a: Array[Float], q: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = q(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 2.0
    else 1.0 - math.max(-1.0, math.min(1.0, dot / (math.sqrt(na) * math.sqrt(nb))))
  }

  /** Exhaustive top-k over vectors held in this process, ordered by (distance, id). */
  final class ExactIndex(ids: Array[Long], vecs: Array[Array[Float]]) {
    def topK(q: Array[Double], k: Int): Vector[(Long, Double)] = {
      val heap = new java.util.PriorityQueue[(Long, Double)](k + 1,
        (x: (Long, Double), y: (Long, Double)) => {
          val c = java.lang.Double.compare(y._2, x._2)
          if (c != 0) c else java.lang.Long.compare(y._1, x._1)
        })
      var i = 0
      while (i < ids.length) {
        heap.add((ids(i), cosDist(vecs(i), q)))
        if (heap.size > k) heap.poll()
        i += 1
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
      while (!heap.isEmpty) out += heap.poll()
      out.reverse.toVector
    }
  }

  /** A ranked result must hold exactly the reference ids, in order, with
    * ranks 1..k.
    */
  def rankedTopK(got: Seq[(Long, Long)], want: Seq[Long]): Seq[String] =
    if (got.length != want.length) Seq(s"expected ${want.length} rows, got ${got.length}")
    else got.zip(want).zipWithIndex.collect {
      case (((rank, id), w), i) if rank != i + 1 || id != w =>
        s"rank ${i + 1}: got (rank $rank, id $id), want id $w"
    }.take(3)

  /** An ANN result must be full-length; recall is reported, not gated. */
  def annResult(got: Seq[Long], k: Int): Seq[String] =
    if (got.length < k) Seq(s"short result: ${got.length} < $k") else Nil

  def recall(got: Seq[Long], want: Seq[Long]): Double =
    if (want.isEmpty) 1.0 else got.toSet.intersect(want.toSet).size.toDouble / want.length

  /** Curation output against the planted truth: filtered docs are gone,
    * each exact-copy family keeps exactly its lowest id, and no unrelated
    * document was merged away (every unique doc and every family's lowest id
    * survives).
    */
  def curated(d: Gen.CurateData, out: Set[Long]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    (d.damaged ++ d.short).filter(out).take(3).foreach(id => problems += s"filtered doc $id survived")
    d.exactFamilies.foreach { f =>
      val kept = f.filter(out)
      if (kept != Seq(f.min)) problems += s"exact family ${f.min}: kept ${kept.mkString(",")}"
    }
    d.families.foreach { f =>
      if (!out(f.min)) problems += s"family ${f.min} lost its lowest id (merged with an unrelated doc)"
    }
    d.uniques.filterNot(out).take(3).foreach(id => problems += s"unique doc $id merged away")
    problems.result()
  }

  /** Share of planted near-duplicates (near and templated families, lowest
    * id excluded) that curation removed.
    */
  def nearDupRecall(d: Gen.CurateData, out: Set[Long]): Double = {
    val dups = (d.nearFamilies :+ d.hotFamily).flatMap(f => f.filter(_ != f.min))
    dups.count(id => !out(id)).toDouble / math.max(dups.length, 1)
  }

  /** Two labelings must assign the same component to the same ids. */
  def sameLabels(got: Map[Long, Long], want: Map[Long, Long]): Seq[String] = {
    val missing = want.keySet.diff(got.keySet)
    val extra = got.keySet.diff(want.keySet)
    val differ = want.collect { case (id, c) if got.get(id).exists(_ != c) => id }
    Seq(
      if (missing.nonEmpty) Some(s"${missing.size} ids missing, e.g. ${missing.take(3).mkString(",")}") else None,
      if (extra.nonEmpty) Some(s"${extra.size} extra ids, e.g. ${extra.take(3).mkString(",")}") else None,
      if (differ.nonEmpty) Some(s"${differ.size} labels differ, e.g. ${differ.take(3).mkString(",")}") else None
    ).flatten
  }

  /** Feeds each check a known-bad input built from a known-good one; every
    * perturbation must be flagged. Returns (perturbation, flagged).
    */
  def mutationSelfCheck(): Seq[(String, Boolean)] = {
    val want = Seq(11L, 7L, 42L, 3L)
    val good = want.zipWithIndex.map { case (id, i) => (i + 1L, id) }
    val swapped = good.updated(0, (1L, want(1))).updated(1, (2L, want(0)))
    val d = Gen.curate(seed = 7, uniques = 20, exactFamilies = 3, nearFamilies = 2,
      hot = 4, damaged = 1, short = 1)
    val goodOut = (d.uniques ++ d.families.map(_.min)).toSet
    val dup = d.exactFamilies.head.max
    val labels = Map(1L -> 1L, 2L -> 1L, 5L -> 5L)
    Seq(
      "reference_passes" -> (rankedTopK(good, want).isEmpty && curated(d, goodOut).isEmpty &&
        sameLabels(labels, labels).isEmpty),
      "swapped_rank_flagged" -> rankedTopK(swapped, want).nonEmpty,
      "short_result_flagged" -> (rankedTopK(good.init, want).nonEmpty && annResult(want.init, 4).nonEmpty),
      "kept_duplicate_flagged" -> curated(d, goodOut + dup).nonEmpty,
      "dropped_unique_flagged" -> curated(d, goodOut - d.uniques.head).nonEmpty,
      "changed_label_flagged" -> sameLabels(labels.updated(2L, 2L), labels).nonEmpty)
  }
}
