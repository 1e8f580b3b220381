package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._

import graft.functions._

/** F1/F2 edge semantics pinned to the DuckDB 1.0 oracle (FIXTURES.md §C):
  * parallel -> 0, orthogonal -> 1, opposite -> 2, zero vector -> 2.0
  * (similarity -1.0), NULL -> NULL, dim mismatch -> error, similarity
  * clamped to [-1, 1].
  */
class VectorExpressionsSpec extends SparkTestBase {
  private val sp = SparkTestBase.spark
  import sp.implicits._

  private def dist(a: Seq[Double], b: Seq[Double]): java.lang.Double =
    Seq((a, b)).toDF("a", "b")
      .select(array_cosine_distance(col("a"), col("b")))
      .head().get(0).asInstanceOf[java.lang.Double]

  test("parallel vectors have distance 0") {
    assert(dist(Seq(1.0, 0.0), Seq(2.0, 0.0)) == 0.0)
  }

  test("orthogonal vectors have distance 1") {
    assert(dist(Seq(1.0, 0.0), Seq(0.0, 3.0)) == 1.0)
  }

  test("opposite vectors have distance 2") {
    assert(dist(Seq(1.0, 0.0), Seq(-1.0, 0.0)) == 2.0)
  }

  test("zero vector distance is 2.0 (DuckDB 1.0 similarity -1.0)") {
    assert(dist(Seq(0.0, 0.0), Seq(1.0, 2.0)) == 2.0)
  }

  test("NULL input yields NULL") {
    val r = Seq((Some(Seq(1.0, 2.0)), Option.empty[Seq[Double]]))
      .toDF("a", "b")
      .select(array_cosine_distance(col("a"), col("b")))
      .head()
    assert(r.isNullAt(0))
  }

  test("NULL element yields NULL") {
    val df = spark.sql("SELECT array(1.0D, CAST(NULL AS DOUBLE)) AS a, array(1.0D, 2.0D) AS b")
    graft.functions.registerAll(spark)
    assert(df.select(array_cosine_distance(col("a"), col("b"))).head().isNullAt(0))
  }

  test("dimension mismatch throws with DuckDB cast-error parity text") {
    val e = intercept[Exception] {
      Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
        .select(array_cosine_distance(col("a"), col("b"))).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("length 3 to array with length 2")))
  }

  test("similarity is clamped to [-1, 1] (self-similarity exactly 1)") {
    // range-based input: not a local relation, so codegen actually runs
    val df = spark.range(100)
      .select(transform(sequence(lit(0), lit(63)),
        i => (col("id") + i + 1).cast("double")).as("v"))
    val sims = df.select(array_cosine_similarity(col("v"), col("v"))).collect()
    // never exceeds 1 (clamped); may undershoot by an ULP (sqrt(x)^2 != x)
    assert(sims.forall(r => r.getDouble(0) <= 1.0 && r.getDouble(0) >= 1.0 - 1e-12))
  }

  test("float32 arrays widen to double (mixed float/double inputs)") {
    val d = Seq((Seq(1.0f, 0.0f), Seq(1.0, 0.0))).toDF("a", "b")
      .select(array_cosine_distance(col("a"), col("b"))).head().getDouble(0)
    assert(d == 0.0)
  }

  test("SQL registry exposes all functions") {
    graft.functions.registerAll(spark)
    val r = spark.sql(
      """SELECT array_cosine_distance(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS d,
        |       array_inner_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dot,
        |       array_distance(array(0.0D, 0.0D), array(3.0D, 4.0D)) AS l2,
        |       array_l2_norm(array(3.0D, 4.0D)) AS n,
        |       simhash(array('a', 'b')) AS sh""".stripMargin).head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 11.0)
    assert(r.getDouble(2) == 5.0)
    assert(r.getDouble(3) == 5.0)
    assert(!r.isNullAt(4))
  }

  test("cosine_argmin: distance semantics, tie to lowest cid, error paths") {
    graft.functions.registerAll(spark)
    // candidate 20 is parallel (d=0), 10 orthogonal (d=1) -> 20 wins
    val r = spark.sql(
      """SELECT cosine_argmin(array(1.0D, 0.0D),
        |         array(10L, 20L),
        |         array(array(0.0D, 1.0D), array(2.0D, 0.0D))) AS best,
        |       cosine_argmin(array(1.0D, 0.0D),
        |         array(9L, 3L),
        |         array(array(1.0D, 0.0D), array(3.0D, 0.0D))) AS tie,
        |       cosine_argmin(array(1.0D, 0.0D),
        |         array(7L),
        |         array(array(0.0D, 0.0D))) AS zerovec,
        |       cosine_argmin(array(1.0D, 0.0D),
        |         cast(array() AS array<bigint>),
        |         cast(array() AS array<array<double>>)) AS empty""".stripMargin).head()
    assert(r.getLong(0) == 20L)
    assert(r.getLong(1) == 3L, "equal distances must tie to the lowest cid")
    assert(r.getLong(2) == 7L, "zero-vector candidate (d=2.0) still selectable")
    assert(r.isNullAt(3), "no candidates -> NULL")
    // agrees with the two-expression formulation on real float data, and
    // runs through codegen (parquet scan, not a folded LocalRelation)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = emb.where(col("vec_id") % 64 === 0)
    val candArr = cents.agg(
      collect_list(col("vec_id").cast("long")).as("cids"),
      collect_list(col("embedding")).as("cvecs"))
    val got = emb.limit(50).crossJoin(candArr)
      .select(col("vec_id"),
        cosine_argmin(col("embedding"), col("cids"), col("cvecs")).as("best"))
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    val centRows = cents.select(col("vec_id").cast("long"), col("embedding"))
      .collect().map(row => row.getLong(0) -> row.getSeq[Float](1))
    val expect = emb.limit(50)
      .select(col("vec_id").cast("long"), col("embedding")).collect().map { row =>
        val v = row.getSeq[Float](1)
        def d(c: Seq[Float]): Double = {
          var dot = 0.0; var na = 0.0; var nb = 0.0
          v.indices.foreach { i =>
            val x = v(i).toDouble; val y = c(i).toDouble
            dot += x * y; na += x * x; nb += y * y
          }
          if (na == 0.0 || nb == 0.0) 2.0
          else 1.0 - math.max(-1.0, math.min(1.0, dot / (math.sqrt(na) * math.sqrt(nb))))
        }
        row.getLong(0) -> centRows.map { case (cid, cv) => (d(cv), cid) }.min._2
      }.toMap
    assert(got == expect, "codegen'd argmin diverged from the replay")
    val err = intercept[Exception] {
      spark.sql("""SELECT cosine_argmin(array(1.0D, 0.0D), array(1L),
        |  array(array(1.0D, 0.0D), array(0.0D, 1.0D)))""".stripMargin).head()
    }
    assert(err.getMessage.contains("cosine_argmin") ||
      err.getCause != null && err.getCause.getMessage.contains("cosine_argmin"))
  }

  test("cosine_topk equals the filter + window rule, interpreted and generated") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types._
    import org.scalacheck.{Gen, Prop, Test}
    type Vec = Option[Seq[Option[Double]]]
    // a small value pool makes ties, zero vectors, NaN and NULL elements common
    val elem: Gen[Option[Double]] = Gen.frequency(
      9 -> Gen.oneOf(0.0, 1.0, -1.0, 0.5, 2.0).map(Some(_)),
      1 -> Gen.const(Some(Double.NaN)), 1 -> Gen.const(None))
    def vec(dim: Int): Gen[Vec] =
      Gen.frequency(1 -> Gen.const(None), 9 -> Gen.listOfN(dim, elem).map(Some(_)))
    val id: Gen[Option[Long]] =
      Gen.frequency(1 -> Gen.const(None), 9 -> Gen.choose(0L, 6L).map(Some(_)))
    final case class Case(v: Vec, self: Long, cands: Seq[(Option[Long], Vec)], k: Int)
    val cases = for {
      dim <- Gen.choose(1, 4); m <- Gen.choose(0, 10)
      v <- vec(dim); self <- Gen.choose(0L, 6L)
      cands <- Gen.listOfN(m, Gen.zip(id, vec(dim))); k <- Gen.choose(0, m + 3)
    } yield Case(v, self, cands, k)
    // the rule being replaced: drop NULL ids and self, order by
    // (distance asc, NaN after numbers, NULL last, then id), take k
    def distance(a: Seq[Option[Double]], b: Seq[Option[Double]]): Option[Double] =
      if (a.exists(_.isEmpty) || b.exists(_.isEmpty)) None
      else {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        a.indices.foreach { i =>
          val x = a(i).get; val y = b(i).get
          dot += x * y; na += x * x; nb += y * y
        }
        Some(if (na == 0.0 || nb == 0.0) 2.0
          else 1.0 - math.max(-1.0, math.min(1.0, dot / (math.sqrt(na) * math.sqrt(nb)))))
      }
    def reference(c: Case): Seq[(Long, Int)] = {
      val scored = c.cands.zipWithIndex.collect {
        case ((Some(cid), w), j) if cid != c.self =>
          (cid, j, for (a <- c.v; b <- w; d <- distance(a, b)) yield d)
      }
      def rank(d: Option[Double]) = d match {
        case None => 2; case Some(x) if x.isNaN => 1; case _ => 0 }
      scored.sortWith { case ((ia, _, da), (ib, _, db)) =>
        if (rank(da) != rank(db)) rank(da) < rank(db)
        else if (rank(da) == 0 && da.get != db.get) da.get < db.get
        else ia < ib
      }.take(c.k).map { case (cid, j, _) => (cid, j) }
    }
    def catalyst(v: Vec, float: Boolean): ArrayData = v.map(xs =>
      new GenericArrayData(xs.map(_.map[Any](x => if (float) x.toFloat else x).orNull).toArray[Any]))
      .orNull
    def pairs(out: ArrayData): Seq[(Long, Int)] =
      (0 until out.numElements()).map { i =>
        val r = out.getStruct(i, 2); (r.getLong(0), r.getInt(1)) }
    for (float <- Seq(false, true)) {
      val vt = ArrayType(if (float) FloatType else DoubleType, containsNull = true)
      def expr(k: Int) = CosineTopK(BoundReference(0, vt, nullable = true),
        BoundReference(1, LongType, nullable = false),
        BoundReference(2, ArrayType(LongType, containsNull = true), nullable = false),
        BoundReference(3, ArrayType(vt, containsNull = true), nullable = false), k)
      val compiled = scala.collection.mutable.Map.empty[Int,
        org.apache.spark.sql.catalyst.expressions.UnsafeProjection]
      val prop = Prop.forAllNoShrink(cases) { c =>
        val row = InternalRow(catalyst(c.v, float), c.self,
          new GenericArrayData(c.cands.map(_._1.map(Long.box).orNull).toArray[Any]),
          new GenericArrayData(c.cands.map(x => catalyst(x._2, float)).toArray[Any]))
        val interpreted = pairs(expr(c.k).eval(row).asInstanceOf[ArrayData])
        val generated = pairs(compiled.getOrElseUpdate(c.k,
          GenerateUnsafeProjection.generate(Seq(expr(c.k)))).apply(row).getArray(0))
        val want = reference(c)
        assert(interpreted == want, s"interpreted $interpreted != $want for $c")
        assert(generated == want, s"generated $generated != $want for $c")
        true
      }
      val result = Test.check(
        Test.Parameters.default.withMinSuccessfulTests(300).withWorkers(1), prop)
      assert(result.passed, s"float=$float: ${result.status}")
    }
    // error paths on both paths: unequal id/vector array lengths, and a
    // candidate whose dimension differs from the query's
    val dt = ArrayType(DoubleType)
    def arr(xs: Any*) = new GenericArrayData(xs.toArray[Any])
    val bad = Seq(
      ("1 ids vs 2 vectors", InternalRow(arr(1.0, 0.0), 9L, arr(1L),
        arr(arr(1.0, 0.0), arr(0.0, 1.0)))),
      ("dimension mismatch (2 vs 3)", InternalRow(arr(1.0, 0.0), 9L, arr(1L),
        arr(arr(1.0, 0.0, 0.0)))))
    for ((msg, row) <- bad) {
      val e = CosineTopK(BoundReference(0, dt, true), BoundReference(1, LongType, false),
        BoundReference(2, ArrayType(LongType), false), BoundReference(3, ArrayType(dt), false), 2)
      val i = intercept[IllegalArgumentException](e.eval(row))
      val g = intercept[IllegalArgumentException](
        GenerateUnsafeProjection.generate(Seq(e)).apply(row))
      assert(i.getMessage.contains(msg) && g.getMessage.contains(msg), s"$i / $g")
    }
    // through SQL: NULL self id gives NULL, k above the candidate count
    // returns every candidate, and the largest k allocates only for the
    // candidates a row has
    graft.functions.registerAll(spark)
    val r = spark.sql(
      """SELECT cosine_topk(array(1.0D, 0.0D), 7L, array(7L, 3L, 5L),
        |         array(array(1.0D, 0.0D), array(0.0D, 1.0D), array(1.0D, 1.0D)), 5) AS all,
        |       cosine_topk(array(1.0D, 0.0D), CAST(NULL AS BIGINT), array(3L),
        |         array(array(1.0D, 0.0D)), 5) AS noself,
        |       cosine_topk(array(1.0D, 0.0D), 7L, array(7L, 3L, 5L),
        |         array(array(1.0D, 0.0D), array(0.0D, 1.0D), array(1.0D, 1.0D)),
        |         2147483647) AS maxk""".stripMargin).head()
    def topk(i: Int) =
      r.getSeq[org.apache.spark.sql.Row](i).map(x => (x.getLong(0), x.getInt(1)))
    assert(topk(0) == Seq((5L, 2), (3L, 1)))
    assert(r.isNullAt(1))
    assert(topk(2) == topk(0))
  }

  test("cosine_distances equals array_cosine_distance per query, interpreted and generated") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types._
    import org.scalacheck.{Gen, Prop, Test}
    type Vec = Option[Seq[Option[Double]]]
    val elem: Gen[Option[Double]] = Gen.frequency(
      12 -> Gen.choose(-2.0, 2.0).map(Some(_)), 2 -> Gen.const(Some(0.0)),
      1 -> Gen.const(Some(Double.NaN)), 1 -> Gen.const(None))
    def vec(dim: Int): Gen[Vec] =
      Gen.frequency(1 -> Gen.const(None), 9 -> Gen.listOfN(dim, elem).map(Some(_)))
    val cases = for {
      dim <- Gen.choose(1, 5); m <- Gen.choose(0, 6)
      v <- vec(dim); qs <- Gen.listOfN(m, vec(dim))
    } yield (v, qs)
    def catalyst(v: Vec, float: Boolean): ArrayData = v.map(xs =>
      new GenericArrayData(xs.map(_.map[Any](x => if (float) x.toFloat else x).orNull).toArray[Any]))
      .orNull
    def doubles(a: ArrayData): Seq[Option[Double]] =
      (0 until a.numElements()).map(i => if (a.isNullAt(i)) None else Some(a.getDouble(i)))
    // bit-for-bit, NaN included
    def bits(xs: Seq[Option[Double]]) = xs.map(_.map(java.lang.Double.doubleToRawLongBits))
    for (float <- Seq(false, true); literal <- Seq(false, true)) {
      val vt = ArrayType(if (float) FloatType else DoubleType, containsNull = true)
      val qt = ArrayType(ArrayType(DoubleType, containsNull = true), containsNull = true)
      val v = BoundReference(0, vt, nullable = true)
      def queries(qs: ArrayData) =
        if (literal) Literal(qs, qt) else BoundReference(1, qt, nullable = true)
      val prop = Prop.forAllNoShrink(cases) { case (vv, qv) =>
        val qs = new GenericArrayData(qv.map(catalyst(_, float = false)).toArray[Any])
        val row = InternalRow(catalyst(vv, float), qs)
        val e = CosineDistances(v, queries(qs))
        val interpreted = Option(e.eval(row).asInstanceOf[ArrayData]).map(doubles)
        val generated = {
          val r = GenerateUnsafeProjection.generate(Seq(e)).apply(row)
          if (r.isNullAt(0)) None else Some(doubles(r.getArray(0)))
        }
        val per = qv.indices.map(j => Option(CosineDistance(v,
            Literal(qs.getArray(j), qt.elementType)).eval(row))
          .map(_.asInstanceOf[Double]))
        // a v holding a NULL element gives NULL, not an array of NULLs
        val want = if (vv.isEmpty || vv.exists(_.contains(None))) None else Some(per)
        assert(interpreted.map(bits) == want.map(bits), s"interpreted $interpreted != $want")
        assert(generated.map(bits) == want.map(bits), s"generated $generated != $want")
        true
      }
      val result = Test.check(
        Test.Parameters.default.withMinSuccessfulTests(200).withWorkers(1), prop)
      assert(result.passed, s"float=$float literal=$literal: ${result.status}")
    }
    // a query of another dimension raises on both paths
    val dt = ArrayType(DoubleType)
    def arr(xs: Any*) = new GenericArrayData(xs.toArray[Any])
    val e = CosineDistances(BoundReference(0, dt, nullable = true),
      Literal(arr(arr(1.0, 0.0), arr(1.0, 0.0, 0.0)), ArrayType(dt)))
    val row = InternalRow(arr(1.0, 0.0))
    val i = intercept[IllegalArgumentException](e.eval(row))
    val g = intercept[IllegalArgumentException](
      GenerateUnsafeProjection.generate(Seq(e)).apply(row))
    assert(i.getMessage.contains("(2 vs 3)") && g.getMessage.contains("(2 vs 3)"), s"$i / $g")
  }

  test("simhash: equal token arrays agree, empty array is 0, null is null") {
    graft.functions.registerAll(spark)
    val r = spark.sql(
      """SELECT simhash(array('x','y','z')) AS a, simhash(array('x','y','z')) AS b,
        |       simhash(CAST(array() AS ARRAY<STRING>)) AS e,
        |       simhash(CAST(NULL AS ARRAY<STRING>)) AS n""".stripMargin)
      .head()
    assert(r.getLong(0) == r.getLong(1))
    assert(r.getLong(2) == 0L)
    assert(r.isNullAt(3))
  }
}
