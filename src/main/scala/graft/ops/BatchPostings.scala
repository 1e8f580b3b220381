package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.SparkShims.AbstractDataType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The inverted shingle index of a driver-held batch: each distinct
  * shingle maps to the batch rows holding it. It scores a shingle set
  * against every batch row in one pass over the set, under exactly
  * [[Dedup.jaccardJoin]]'s pair rule: array_distinct sets (a NULL element
  * counts toward the size but matches nothing), empty sets never pair,
  * the length bound `size_b >= ceil(tau * size_a)` both ways, and
  * `inter / (size_a + size_b - inter) >= tau` in doubles.
  *
  * It ships inside [[BatchJaccardMatches]] to every task of the scan
  * (batch-sized: the caller holds the batch under
  * [[SizeRoute.IngestBatchBytes]] by [[BatchPostings.weight]]). The count
  * buffers are per deserialized copy, so one copy serves one task thread.
  */
private[graft] final class BatchPostings private (ids: Array[Long],
    sets: Array[java.util.HashSet[UTF8String]],
    postings: java.util.HashMap[UTF8String, Array[Int]], tau: Double)
    extends Serializable {

  @transient private lazy val inter = new Array[Int](ids.length)
  @transient private lazy val hits = new Array[Int](ids.length)

  /** Calls `emit(j)` for every batch row `j` that pairs with `set`. */
  private def pairing(set: java.util.HashSet[UTF8String])(emit: Int => Unit): Unit = {
    val size = set.size.toLong
    var nHits = 0
    val it = set.iterator
    while (it.hasNext) {
      val rows = postings.get(it.next())
      if (rows != null) rows.foreach { j =>
        if (inter(j) == 0) { hits(nHits) = j; nHits += 1 }
        inter(j) += 1
      }
    }
    var k = 0
    while (k < nHits) {
      val j = hits(k)
      val (n, sa) = (inter(j).toLong, sets(j).size.toLong)
      if (size >= math.ceil(tau * sa).toLong && sa >= math.ceil(tau * size).toLong &&
          n.toDouble / (sa + size - n).toDouble >= tau) emit(j)
      inter(j) = 0
      k += 1
    }
  }

  /** Ids of the batch rows pairing with the shingle array `sh`. */
  def matches(sh: ArrayData): ArrayData = {
    val set = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < sh.numElements()) {
      set.add(if (sh.isNullAt(i)) null else sh.getUTF8String(i))
      i += 1
    }
    val out = Array.newBuilder[Long]
    pairing(set)(j => out += ids(j))
    ArrayData.toArrayData(out.result())
  }

  /** The pairs within the batch, `a < b` ([[Dedup.jaccardJoin]]'s output). */
  def withinPairs: Seq[(Long, Long)] = {
    val out = Seq.newBuilder[(Long, Long)]
    sets.indices.foreach { i =>
      pairing(sets(i))(j => if (ids(i) < ids(j)) out += ((ids(i), ids(j))))
    }
    out.result()
  }

  override def toString: String = s"BatchPostings(${ids.length} rows)"
}

private[graft] object BatchPostings {

  /** The index over collected `(id: long, shingles: array<string>)` rows;
    * rows with a NULL id or a NULL or empty shingle array drop out, as
    * they drop out of [[Dedup.jaccardJoin]].
    */
  def apply(rows: Array[Row], tau: Double): BatchPostings = {
    val kept = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1) && r.getSeq[String](1).nonEmpty)
    val sets = kept.map { r =>
      val s = new java.util.HashSet[UTF8String]()
      r.getSeq[String](1).foreach(x => s.add(if (x == null) null else UTF8String.fromString(x)))
      s
    }
    val lists = scala.collection.mutable.HashMap.empty[UTF8String, scala.collection.mutable.ArrayBuilder.ofInt]
    sets.zipWithIndex.foreach { case (s, j) =>
      s.forEach(x => if (x != null) lists.getOrElseUpdate(x, new scala.collection.mutable.ArrayBuilder.ofInt) += j)
    }
    val postings = new java.util.HashMap[UTF8String, Array[Int]]()
    lists.foreach { case (x, js) => postings.put(x, js.result()) }
    new BatchPostings(kept.map(_.getLong(0)), sets, postings, tau)
  }

  /** Estimated heap bytes of one indexed row, apart from its shingles. */
  val RowBytes = 160L
  /** Estimated heap bytes of one indexed shingle, apart from its
    * characters: its set entry, its string object and its postings entry.
    */
  val ShingleBytes = 256L

  /** The estimated heap bytes a collected `(id, shingles)` row adds to the
    * index: [[RowBytes]] plus, per shingle, [[ShingleBytes]] and its
    * characters (its UTF-8 bytes for ASCII text). On indexes of distinct
    * shingles (1–100 a row, 8–32 characters, 1,000–4,000 rows) Spark's
    * `SizeEstimator` measured 0.84–0.98 of this estimate
    * (`graft.tools.IngestRouteSweep fit`); shingles shared between rows
    * share one postings entry, so they weigh less.
    */
  def weight(r: Row): Long =
    if (r.isNullAt(1)) RowBytes
    else r.getSeq[String](1).foldLeft(RowBytes) { (w, x) =>
      w + ShingleBytes + (if (x == null) 0 else x.length)
    }

  /** True when a frame's `(idCol, shingleCol)` fit the index: long ids and
    * string shingle arrays.
    */
  def fits(schema: StructType, idCol: String, shingleCol: String): Boolean =
    schema(idCol).dataType == LongType &&
      (schema(shingleCol).dataType match {
        case ArrayType(StringType, _) => true
        case _ => false
      })
}

/** `batch_jaccard_matches(sh)` — the ids of the driver-held batch rows that
  * pair with this row's shingle array under [[Dedup.jaccardJoin]]'s rule,
  * as `array<long>`; NULL for a NULL array. Exploding it over a scan of
  * the at-rest shingles yields [[Dedup.jaccardJoinAgainst]]'s pairs in one
  * narrow pass: no shuffle on the shingle or on the pair. Its generated
  * code makes one call per row into the task's copy of the
  * [[BatchPostings]] (the `cosine_topk` shape).
  */
private[graft] case class BatchJaccardMatches(child: Expression,
    postings: BatchPostings) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "batch_jaccard_matches"

  override def nullSafeEval(sh: Any): Any = postings.matches(sh.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("postings", postings, classOf[BatchPostings].getName)
    defineCodeGen(ctx, ev, c => s"$p.matches($c)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `id NOT IN ids` for a driver-held id set, as one expression over a
  * sorted primitive array (8 bytes an id) rather than one literal per id:
  * a filter that a state frame carries for many later scans stays one
  * plan node. NULL for a NULL id, like `NOT IN`.
  */
private[graft] case class NotAmong(child: Expression, sortedIds: Array[Long])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "not_among"

  override def nullSafeEval(id: Any): Any =
    java.util.Arrays.binarySearch(sortedIds, id.asInstanceOf[Long]) < 0

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ids = ctx.addReferenceObj("ids", sortedIds, "long[]")
    defineCodeGen(ctx, ev, c => s"java.util.Arrays.binarySearch($ids, $c) < 0")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)

  override def toString: String = s"not_among($child, ${sortedIds.length} ids)"
}
