package graft

import org.apache.spark.sql.functions._

import graft.search.{HashingEmbedder, VectorSearchClient}

/** End-to-end search pipeline (the reference's live surface,
  * model/search/vector.py:96-190) with the deterministic offline embedder.
  */
class SearchClientSpec extends SparkTestBase {

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    .select("doc_id", "text")
  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    .withColumnRenamed("vec_id", "doc_id")

  test("searchByVector: self-query ranks itself first at distance 0") {
    val client = VectorSearchClient.fromEmbedded(docs, emb, "doc_id", HashingEmbedder(64))
    val q = emb.where(col("doc_id") === 7).select("embedding").head()
      .getSeq[Float](0).map(_.toDouble).toArray
    val out = client.searchByVector(q, 5)
    // exact documented shape: (rank, <corpus cols>, score) — no query_id leak
    assert(out.columns.toSeq == Seq("rank", "doc_id", "text", "score"))
    val top = out.collect()
    assert(top.length == 5)
    val first = top.head
    assert(first.getAs[Long]("rank") == 1L)
    assert(first.getAs[Long]("doc_id") == 7L)
    assert(first.getAs[Double]("score") == 0.0)
    // ranks are 1..5 in ascending score order
    assert(top.map(_.getAs[Long]("rank")).toSeq == (1L to 5L))
    val scores = top.map(_.getAs[Double]("score")).toSeq
    assert(scores == scores.sorted)
  }

  test("fromCorpus embeds and finds an identical text at distance 0") {
    val client = VectorSearchClient.fromCorpus(docs, "text", "doc_id", HashingEmbedder(16))
    // embed the same prefixed text the index used for doc 3
    val text3 = docs.where(col("doc_id") === 3).select("text").head().getString(0)
    val qv = HashingEmbedder(16)
      .embedOne(VectorSearchClient.DocPrefix + text3).map(_.toDouble)
    val top = client.searchByVector(qv, 3).collect()
    assert(top.head.getAs[Long]("doc_id") == 3L)
    // sqrt(x)*sqrt(x) != x at ULP level, so self-distance may be ~1e-16,
    // exactly as the DuckDB oracle computes it
    assert(math.abs(top.head.getAs[Double]("score")) <= 1e-12)
  }

  test("searchTopN batches queries into one frame keyed by query_id") {
    val client = VectorSearchClient.fromEmbedded(docs, emb, "doc_id", HashingEmbedder(64))
    val out = client.searchTopN(Seq("alpha", "beta"), 4)
    assert(out.columns.toSeq ==
      Seq("query_id", "rank", "doc_id", "text", "score"))
    val rows = out.collect()
    assert(rows.length == 8)
    assert(rows.map(_.getAs[Long]("query_id")).toSet == Set(0L, 1L))
  }

  test("search drops query_id and keeps demo shape") {
    val client = VectorSearchClient.fromEmbedded(docs, emb, "doc_id", HashingEmbedder(64))
    val out = client.search("hello", 3)
    assert(out.columns.toSeq == Seq("rank", "doc_id", "text", "score"))
    assert(out.count() == 3)
  }

  test("corpus columns named score/rank do not collide") {
    val tricky = docs.withColumn("score", lit("corpus-score"))
      .withColumn("rank", lit(99))
    val client = VectorSearchClient.fromEmbedded(tricky, emb, "doc_id", HashingEmbedder(64))
    val q = emb.where(col("doc_id") === 0).select("embedding").head()
      .getSeq[Float](0).map(_.toDouble).toArray
    // corpus score/rank survive under their names; search appends its own
    val cols = client.searchByVector(q, 2).columns.toSeq
    assert(cols.count(_ == "score") == 2) // corpus's and the search score
  }

  test("batched bounded-heap search equals the per-query scan path") {
    val client = VectorSearchClient.fromEmbedded(docs, emb, "doc_id", HashingEmbedder(64))
    val qvecs = (0L to 2L).map { i =>
      i -> emb.where(col("doc_id") === i).select("embedding").head()
        .getSeq[Float](0).map(_.toDouble).toArray
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(rows(client.searchByVectorsBatched(qvecs, 7)) ==
      rows(client.searchByVectors(qvecs, 7)))
  }

  test("eager search equals the batched path on back-join edge cases, in two jobs") {
    val base = VectorSearchClient.fromEmbedded(docs, emb, "doc_id", HashingEmbedder(64))
    def qv(id: Long) = emb.where(col("doc_id") === id).select("embedding").head()
      .getSeq[Float](0).map(_.toDouble).toArray
    val q1 = Seq(0L -> qv(7))
    val q3 = Seq(2L -> qv(0), 0L -> qv(1), 1L -> qv(2))
    // every column, order-insensitive only among rows sharing (query, rank)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.toSeq.map(v => if (v == null) "null" else v.toString)).toSeq
      .sortBy(r => (r(0).toLong, r(1).toLong, r.mkString("|")))
    def check(what: String, c: VectorSearchClient, n: Int): Unit =
      for (qs <- Seq(q1, q3)) {
        val eager = c.searchByVectors(qs, n)
        val batched = c.searchByVectorsBatched(qs, n)
        assert(eager.columns.toSeq == batched.columns.toSeq, what)
        assert(eager.schema.map(_.dataType) == batched.schema.map(_.dataType), what)
        assert(rows(eager) == rows(batched), s"$what: Q=${qs.size} diverged")
        val ranked = eager.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(ranked == ranked.sorted, s"$what: rows not in (query_id, rank) order")
      }
    check("plain", base, 7)
    // duplicate corpus ids fan out under one rank
    val hitIds = base.searchByVectors(q3, 7).select("doc_id").collect()
      .map(_.getLong(0)).toSeq
    val picked = hitIds.distinct.take(4)
    val pickedHits = hitIds.count(picked.contains)
    val dups = docs.unionAll(docs.where(col("doc_id").isin(picked: _*))
      .withColumn("text", concat(lit("dup "), col("text"))))
    val dupClient = VectorSearchClient.fromEmbedded(dups, emb, "doc_id", HashingEmbedder(64))
    check("duplicate ids", dupClient, 7)
    assert(dupClient.searchByVectors(q3, 7).count() == 21 + pickedHits)
    // index ids missing from the corpus drop out
    val holes = docs.where(!col("doc_id").isin(picked: _*))
    val withHoles = VectorSearchClient.fromEmbedded(holes, emb, "doc_id", HashingEmbedder(64))
    check("missing ids", withHoles, 7)
    assert(withHoles.searchByVectors(q3, 7).count() == 21 - pickedHits)
    // corpus rank/score columns ride along under their names
    check("rank/score columns", VectorSearchClient.fromEmbedded(
      docs.withColumn("score", lit("corpus-score")).withColumn("rank", lit(99)),
      emb, "doc_id", HashingEmbedder(64)), 7)
    // an int corpus id back-joins a long index id and keeps the long type
    val intIds = VectorSearchClient.fromEmbedded(
      docs.select(col("doc_id").cast("int").as("doc_id"), col("text")),
      emb, "doc_id", HashingEmbedder(64))
    check("int corpus id", intIds, 7)
    assert(intIds.searchByVector(qv(7), 3).schema("doc_id").dataType ==
      org.apache.spark.sql.types.LongType)
    // NULL embeddings rank last: equal to the batched path while the
    // non-null rows fill the top n, behind every scored row past that
    val nulled = emb.withColumn("embedding",
      when(pmod(col("doc_id"), lit(5)) === 0, lit(null)).otherwise(col("embedding")))
    val nullClient = VectorSearchClient.fromEmbedded(docs, nulled, "doc_id",
      HashingEmbedder(64))
    check("null embeddings", nullClient, 7)
    val small = VectorSearchClient.fromEmbedded(docs,
      nulled.where(col("doc_id") < 10), "doc_id", HashingEmbedder(64))
    val tail = small.searchByVector(qv(7), 10).collect()
    assert(tail.map(_.getAs[Long]("rank")).toSeq == (1L to 10L))
    assert(tail.map(r => r.isNullAt(r.fieldIndex("score"))).toSeq ==
      Seq.fill(8)(false) ++ Seq(true, true))
    assert(tail.takeRight(2).map(_.getAs[Long]("doc_id")).toSeq == Seq(0L, 5L))
    // one top-k job and one corpus read per query
    base.index.count()
    val (_, jobs) = JobCount(spark.sparkContext)(base.searchByVectors(q1, 7))
    assert(jobs == 2, s"Q=1 search ran $jobs jobs")
    // query ids must be distinct
    intercept[IllegalArgumentException](base.searchByVectors(q1 ++ q1, 7))
  }

  test("searchDemo reproduces the demo app's renamed shape") {
    val sp = spark
    import sp.implicits._
    val corpus = docs.withColumnRenamed("text", "content")
      .withColumn("title", concat(lit("doc "), col("doc_id")))
    val client = VectorSearchClient.fromEmbedded(corpus, emb, "doc_id", HashingEmbedder(64))
    val out = client.searchDemo("query text", 3)
    assert(out.columns.toSeq == Seq("rank", "title", "rap lyric", "distance"))
    assert(out.count() == 3)
  }

  test("registerIndex exposes the reference's SQL surface") {
    val client = VectorSearchClient.fromEmbedded(docs, emb, "doc_id", HashingEmbedder(64))
    client.registerIndex()
    val top = spark.sql(
      """SELECT doc_id, array_cosine_distance(embedding,
        |  (SELECT embedding FROM ruri_vector_index WHERE doc_id = 0)) AS distance
        |FROM ruri_vector_index
        |ORDER BY distance ASC NULLS LAST, doc_id ASC LIMIT 3""".stripMargin).collect()
    assert(top.head.getLong(0) == 0L && top.head.getDouble(1) == 0.0)
  }

  test("fromEmbedded validates index dimension against the embedder") {
    val e = intercept[IllegalArgumentException] {
      VectorSearchClient.fromEmbedded(docs, emb, "doc_id", HashingEmbedder(8))
    }
    assert(e.getMessage.contains("dim"))
  }

  test("fromCorpus fails fast on null ids") {
    val sp = spark
    import sp.implicits._
    val bad = Seq((Some(1L), "a"), (None, "b")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      VectorSearchClient.fromCorpus(bad, "text", "doc_id", HashingEmbedder(8))
        .searchByVector(Array.fill(8)(0.1), 1).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("id column is null")))
  }
}

/** Executor-singleton model loading (the production half of S9 that is
  * buildable offline): a SingletonEmbedder ships only (name, dim, loader);
  * the handle materializes exactly once per JVM regardless of partition
  * count or how many embedder instances reference the same model — the
  * distributed analogue of the reference's construct-once model client
  * (model/search/vector.py:41-62).
  */
class SingletonEmbedderSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._
  import graft.search.{ModelRegistry, SingletonEmbedder, VectorSearchClient}

  test("model handle loads once per JVM across partitions and instances") {
    val corpus = spark.range(200)
      .select(col("id"), concat(lit("text "), col("id")).as("text"))
      .repartition(16)
    val name = s"spec-${java.util.UUID.randomUUID}"
    val key = s"$name/64"

    val c1 = VectorSearchClient.fromCorpus(corpus, "text", "id", SingletonEmbedder(name))
    c1.searchTopN(Seq("query one"), 3).collect()
    assert(ModelRegistry.loadCount(key) == 1,
      s"expected one load across 16 partitions, got ${ModelRegistry.loadCount(key)}")

    // a second embedder instance for the same model must reuse the handle
    val c2 = VectorSearchClient.fromCorpus(corpus, "text", "id", SingletonEmbedder(name))
    c2.searchTopN(Seq("query two"), 3).collect()
    assert(ModelRegistry.loadCount(key) == 1)

    // deterministic parity with the underlying hashing model
    val viaSingleton = SingletonEmbedder(name).embedOne("abc").toSeq
    val direct = graft.search.HashingEmbedder(64).embedOne("abc").toSeq
    assert(viaSingleton == direct)
  }
}
