package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import scala.util.Random

import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.queries.EncoderFixture

/** Seeded input generators for the three workloads. Every input is a pure
  * function of the seed; the planted ground truth is kept beside the data.
  * Texts are drawn from the words of the encoder fixture's sentences, so the
  * in-repo encoder sees in-vocabulary text.
  */
object Gen {
  val Vocab: Vector[String] =
    EncoderFixture.Sentences.flatMap(_.split(" ")).distinct.toVector

  /** The JSONL schema every generated corpus is read back with. */
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))

  def words(r: Random, n: Int): Vector[String] = Vector.fill(n)(Vocab(r.nextInt(Vocab.length)))

  def text(r: Random, lo: Int, hi: Int): String = words(r, lo + r.nextInt(hi - lo + 1)).mkString(" ")

  /** Replaces `n` distinct positions of `ws` with different vocabulary words. */
  def mutate(r: Random, ws: Vector[String], n: Int): Vector[String] =
    r.shuffle(ws.indices.toVector).take(n).foldLeft(ws) { (acc, i) =>
      var w = acc(i)
      while (w == acc(i)) w = Vocab(r.nextInt(Vocab.length))
      acc.updated(i, w)
    }

  /** Writes `(id, text)` rows as JSON lines, spread over `parts` files. */
  def writeJsonl(dir: File, rows: Seq[(Long, String)], parts: Int): Unit = {
    dir.mkdirs()
    val outs = (0 until parts).map { p =>
      new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(new File(dir, f"part-$p%05d.json")), StandardCharsets.UTF_8))
    }
    try rows.zipWithIndex.foreach { case ((id, t), i) =>
      val o = outs(i % parts)
      o.write(Json.render(scala.collection.immutable.ListMap("id" -> id, "text" -> t)))
      o.write('\n')
    } finally outs.foreach(_.close())
  }

  // ---- search -------------------------------------------------------------

  final case class SearchData(corpus: Vector[(Long, String)], queries: Vector[String],
      zipfCdf: Array[Double])

  def search(seed: Long, docs: Int, pool: Int, zipfS: Double): SearchData = {
    val r = new Random(seed)
    val corpus = Vector.tabulate(docs)(i => (i.toLong + 1, text(r, 6, 14)))
    val queries = Vector.fill(pool)(text(r, 3, 7))
    val w = (1 to pool).map(k => 1.0 / math.pow(k, zipfS))
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    SearchData(corpus, queries, cdf)
  }

  /** Zipf-popular draw from the query pool. */
  def zipfPick(r: Random, cdf: Array[Double]): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  // ---- curate -------------------------------------------------------------

  /** The curation corpus and its planted truth. Family lists hold ids;
    * `damaged` docs carry encoding damage and `short` docs are too short,
    * so the text filter must drop both.
    */
  final case class CurateData(docs: Vector[(Long, String)],
      exactFamilies: Vector[Vector[Long]], nearFamilies: Vector[Vector[Long]],
      hotFamily: Vector[Long], uniques: Vector[Long], damaged: Vector[Long],
      short: Vector[Long]) {
    def families: Vector[Vector[Long]] = exactFamilies ++ nearFamilies :+ hotFamily
    def sizes: Map[String, Int] = Map("docs" -> docs.length,
      "exact_families" -> exactFamilies.length, "exact_docs" -> exactFamilies.map(_.length).sum,
      "near_families" -> nearFamilies.length, "near_docs" -> nearFamilies.map(_.length).sum,
      "hot_family_docs" -> hotFamily.length, "unique_docs" -> uniques.length,
      "damaged_docs" -> damaged.length, "short_docs" -> short.length)
  }

  def curate(seed: Long, uniques: Int, exactFamilies: Int, nearFamilies: Int,
      hot: Int, damaged: Int, short: Int): CurateData = {
    val r = new Random(seed)
    val texts = Vector.newBuilder[(String, String, Int)] // (text, kind, family index)
    def doc() = words(r, 24 + r.nextInt(13))
    (0 until uniques).foreach(_ => texts += ((doc().mkString(" "), "u", -1)))
    (0 until exactFamilies).foreach { f =>
      val t = doc().mkString(" ")
      (0 until 2 + r.nextInt(4)).foreach(_ => texts += ((t, "e", f)))
    }
    (0 until nearFamilies).foreach { f =>
      val base = doc()
      texts += ((base.mkString(" "), "n", f))
      (0 until 1 + r.nextInt(3)).foreach(_ =>
        texts += ((mutate(r, base, 1 + r.nextInt(2)).mkString(" "), "n", f)))
    }
    // one templated family: pages differ only in two slot words
    val template = words(r, 30)
    val slots = r.shuffle((0 until Vocab.length * Vocab.length).toVector).take(hot)
    slots.foreach { s =>
      val page = template.updated(9, Vocab(s / Vocab.length)).updated(21, Vocab(s % Vocab.length))
      texts += ((page.mkString(" "), "h", 0))
    }
    (0 until damaged).foreach { _ =>
      val ws = doc()
      texts += ((ws.take(8).mkString(" ") + " �� " + ws.drop(8).mkString(" "), "d", -1))
    }
    (0 until short).foreach(_ => texts += ((words(r, 2 + r.nextInt(2)).mkString(" "), "s", -1)))
    val all = texts.result()
    // ids are a seeded permutation, so family members land far apart
    val ids = r.shuffle((1L to all.length.toLong).toVector)
    val tagged = all.zip(ids)
    def fams(kind: String, n: Int) = {
      val by = tagged.filter(_._1._2 == kind).groupBy(_._1._3)
      Vector.tabulate(n)(f => by(f).map(_._2).sorted)
    }
    CurateData(
      docs = r.shuffle(tagged.map { case ((t, _, _), id) => (id, t) }),
      exactFamilies = fams("e", exactFamilies),
      nearFamilies = fams("n", nearFamilies),
      hotFamily = tagged.filter(_._1._2 == "h").map(_._2).sorted,
      uniques = tagged.filter(_._1._2 == "u").map(_._2),
      damaged = tagged.filter(_._1._2 == "d").map(_._2),
      short = tagged.filter(_._1._2 == "s").map(_._2))
  }

  // ---- ingest -------------------------------------------------------------

  /** One crawl epoch: docs to ingest, or (for a takedown) docs to delete. */
  final case class Epoch(index: Int, takedown: Boolean, docs: Vector[(Long, String)])

  final case class IngestData(atRest: Vector[(Long, String)], epochs: Vector[Epoch]) {
    def sizes: Map[String, Int] = Map("at_rest_docs" -> atRest.length,
      "epochs_generated" -> epochs.length,
      "docs_per_ingest_epoch" -> epochs.find(!_.takedown).map(_.docs.length).getOrElse(0),
      "docs_per_takedown_epoch" -> epochs.find(_.takedown).map(_.docs.length).getOrElse(0))
  }

  /** At-rest corpus plus an epoch schedule: every `takedownEvery`-th epoch
    * deletes docs that earlier epochs ingested; the others ingest `perEpoch`
    * docs, `nearShare` of them near-duplicates of at-rest docs. New ids are
    * never multiples of `stride`, so appended vectors never collide with
    * centroid ids of the IVF store.
    */
  def ingest(seed: Long, atRest: Int, epochs: Int, perEpoch: Int, nearShare: Double,
      takedownEvery: Int, perTakedown: Int, stride: Int): IngestData = {
    val r = new Random(seed)
    val rest = Vector.newBuilder[(Long, String, Vector[String])]
    var i = 1L
    while (i <= atRest) {
      val ws = words(r, 20 + r.nextInt(11))
      rest += ((i, ws.mkString(" "), ws))
      // a few at-rest near-duplicate pairs, so the at-rest labels are non-trivial
      if (r.nextDouble() < 0.1 && i < atRest) {
        i += 1
        val v = mutate(r, ws, 1)
        rest += ((i, v.mkString(" "), v))
      }
      i += 1
    }
    val restRows = rest.result()
    var nextId = atRest.toLong + 1
    def freshId(): Long = {
      if (nextId % stride == 0) nextId += 1
      nextId += 1
      nextId - 1
    }
    val live = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val schedule = (0 until epochs).map { e =>
      if ((e + 1) % takedownEvery == 0 && live.length >= perTakedown) {
        val gone = r.shuffle(live.indices.toVector).take(perTakedown).sorted.reverse
        val docs = gone.map(live(_))
        gone.foreach(live.remove)
        Epoch(e, takedown = true, docs.sortBy(_._1))
      } else {
        val docs = Vector.fill(perEpoch) {
          val t =
            if (r.nextDouble() < nearShare) {
              val (_, _, ws) = restRows(r.nextInt(restRows.length))
              mutate(r, ws, 1).mkString(" ")
            } else words(r, 20 + r.nextInt(11)).mkString(" ")
          (freshId(), t)
        }
        live ++= docs
        Epoch(e, takedown = false, docs)
      }
    }.toVector
    IngestData(restRows.map(x => (x._1, x._2)), schedule)
  }
}
