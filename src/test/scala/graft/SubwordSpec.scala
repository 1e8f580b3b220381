package graft

import org.apache.spark.sql.functions._

import graft.ops.{SizeRoute, Subword}
import graft.queries.EncoderFixture
import graft.search.{ModelRegistry, VectorSearchClient}

/** WordPiece subword tokenization (ops/Subword) and the engine-computed
  * embedding pipeline it feeds (EncoderFixture → SubwordTransformerEmbedder
  * → VectorSearchClient.fromCorpus) — the reference's text → token ids →
  * encoder → vector dataflow (model/search/vector.py:64-78).
  */
class SubwordSpec extends SparkTestBase {
  private val sp = spark
  import sp.implicits._

  private val vocab: Map[(String, Boolean), Long] = Map(
    ("search", false) -> 0L, ("ing", true) -> 1L, ("er", true) -> 2L,
    ("s", true) -> 3L, ("s", false) -> 4L, ("un", false) -> 5L,
    ("a", false) -> 6L, ("b", true) -> 7L)

  test("greedyPieces takes the longest match at each position") {
    // search|ing: word-initial 'search' (6) wins over nothing shorter,
    // then continuation 'ing'
    assert(Subword.greedyPieces("searching", vocab, 6, -1L) == Seq(0L, 1L))
    assert(Subword.greedyPieces("searchers", vocab, 6, -1L) == Seq(0L, 2L, 3L))
  }

  test("greedyPieces distinguishes word-initial from continuation pieces") {
    // 's' exists with BOTH flags and different ids: initial s -> 4, inner s -> 3
    assert(Subword.greedyPieces("s", vocab, 6, -1L) == Seq(4L))
    assert(Subword.greedyPieces("ss", vocab, 6, -1L) == Seq(4L, 3L))
  }

  test("greedyPieces maps a word with any unmatched position to one [UNK]") {
    // 'unz': 'un' matches, then 'z' has no continuation entry -> whole
    // word is a single unkId, partial pieces discarded (BERT semantics)
    assert(Subword.greedyPieces("unz", vocab, 6, -99L) == Seq(-99L))
    // 'z' unmatched at position 0
    assert(Subword.greedyPieces("z", vocab, 6, -99L) == Seq(-99L))
  }

  test("greedyPieces encodes the empty word to zero pieces") {
    assert(Subword.greedyPieces("", vocab, 6, -1L).isEmpty)
    assert(Subword.greedyPieces(null, vocab, 6, -1L).isEmpty)
  }

  test("induce and induceLocal agree on the same corpus") {
    val texts = Seq(
      "the cat sat on the mat",
      "the cats sit on mats",
      "a cat and a mat")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val spark_ = Subword.collectVocab(Subword.induce(df, "text", 40, 3))
    val local = Subword.induceLocal(texts, 40, 3)
    assert(spark_ == local)
  }

  test("encode explodes per-piece rows matching greedyPieces") {
    val vdf = Seq(("cat", false, 0L), ("s", true, 1L), ("mat", false, 2L))
      .toDF("piece", "is_cont", "piece_id")
    val vmap = Subword.collectVocab(vdf)
    val docs = Seq((1L, "cats mat dog")).toDF("doc_id", "text")
    val rows = Subword.encode(docs, "doc_id", "text", vmap, 3)
      .orderBy("wpos", "k")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(rows == Seq(
      (1L, 0L, 0L, 0L), (1L, 0L, 1L, 1L), // cat + ##s
      (1L, 1L, 0L, 2L),                   // mat
      (1L, 2L, 0L, -1L)))                 // dog -> [UNK]
  }

  test("per-lang fertility composition: pieces per word and unk rate replay locally") {
    val vdf = Seq(("cat", false, 0L), ("s", true, 1L), ("mat", false, 2L))
      .toDF("piece", "is_cont", "piece_id")
    val vmap = Subword.collectVocab(vdf)
    // en: "cats mat" = 3 pieces / 2 words; xx: "dog dog cats" = 2 unk +
    // 2 pieces = 4 rows / 3 words
    val docs = Seq((1L, "cats mat", "en"), (2L, "dog dog cats", "xx"))
      .toDF("doc_id", "text", "lang")
    val got = Subword.encode(docs, "doc_id", "text", vmap, 3)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(sum(when(col("k") === 0, 1L).otherwise(0L)).as("n_words"),
        count(org.apache.spark.sql.functions.lit(1)).as("n_pieces"),
        sum(when(col("piece_id") === -1L, 1L).otherwise(0L)).as("n_unk"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("en") == (2L, 3L, 0L))
    assert(got("xx") == (3L, 4L, 2L), "each [UNK] word is exactly one piece row")
  }

  test("subword encoder embedder is deterministic and null-safe") {
    val e = EncoderFixture.buildEmbedder()
    val t = VectorSearchClient.DocPrefix + EncoderFixture.Sentences.head
    val a = e.embedOne(t); val b = e.embedOne(t)
    assert(a.toSeq == b.toSeq)
    assert(a.length == EncoderFixture.Dim)
    // l2-normalized
    val norm = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
    assert(e.embedBatch(Seq(null)).head.forall(_ == 0f))
  }

  test("engine-side (executor) embeddings equal the driver-side literals") {
    // the exact claim encoder_search_topk's oracle rests on: mapPartitions
    // through the registry produces the SAME float32 vectors the driver's
    // buildEmbedder computes for the oracle literals
    val n = EncoderFixture.Sentences.length
    val corpus = spark.range(0, 40).select(col("id").as("doc_id"),
      element_at(typedLit(EncoderFixture.Sentences),
        pmod(col("id"), lit(n)).cast("int") + 1).as("text"))
    val client = VectorSearchClient.fromCorpus(
      corpus, "text", "doc_id", EncoderFixture.embedder)
    val got = client.index.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    (0 until 40).foreach { i =>
      assert(got(i.toLong) == EncoderFixture.docVectors(i % n).toSeq,
        s"doc $i embedding drifted from the driver literal")
    }
    // the model handle materialized through the registry (once per JVM,
    // regardless of partition count)
    assert(ModelRegistry.loadCount(
      s"${EncoderFixture.ModelName}/${EncoderFixture.Dim}") == 1)
  }

  test("wordpiece ids stay below the [UNK] row by construction") {
    val e = EncoderFixture.buildEmbedder()
    assert(EncoderFixture.vocab.valuesIterator.forall(
      id => id >= 0 && id < e.model.vocab - 1))
    assert(e.model.vocab == EncoderFixture.VocabSize + 1)
  }

  // ------------------------------------------------------------------
  // BPE (merge-trained subword tier)
  // ------------------------------------------------------------------

  private val bpeTexts = Seq(
    "low lower lowest low low",
    "new newer newest new newer",
    "wider wide wide widest",
    "low new wide lower")

  test("bpeTrain and bpeLocal learn identical merges") {
    val df = bpeTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val engine = Subword.bpeTrain(df, "text", 6)
    val (local, _) = Subword.bpeLocal(bpeTexts, 6)
    assert(engine == local)
  }

  test("bpeTrain size route: driver loop equals the distributed loop") {
    val df = bpeTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val driver = Subword.bpeTrain(df, "text", 6) // tiny vocab routes driver
    val dist = SizeRoute.withBounds(SizeRoute.BpeWords -> 0) {
      Subword.bpeTrain(df, "text", 6)
    }
    assert(driver == dist)
  }

  test("bpeEncode matches the local twin's piece sequences") {
    val df = bpeTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val merges = Subword.bpeTrain(df, "text", 6)
    val (_, localPieces) = Subword.bpeLocal(bpeTexts, 6)
    val rows = Subword.bpeEncode(df, "doc_id", "text", merges)
      .collect()
      .groupBy(r => (r.getLong(0), r.getLong(1)))
      .map { case (key, rs) =>
        key -> rs.sortBy(_.getLong(2)).map(_.getString(3)).toSeq
      }
    bpeTexts.zipWithIndex.foreach { case (t, i) =>
      t.split(" ", -1).zipWithIndex.foreach { case (w, wpos) =>
        assert(rows((i.toLong, wpos.toLong)) == localPieces(w),
          s"doc $i word '$w' pieces drifted")
      }
    }
  }

  test("bpe merges overlapping pairs left-to-right non-overlapping") {
    // 'aaaa' under merge (a,a): [aa, aa]; 'aaa': [aa, a] — the wrapped
    // replace semantics both engines share
    val (merges, pieces) = Subword.bpeLocal(Seq("aaaa aaa aaaa"), 1)
    assert(merges.head.left == "a" && merges.head.right == "a")
    assert(pieces("aaaa") == Seq("aa", "aa"))
    assert(pieces("aaa") == Seq("aa", "a"))
  }

  test("bpe pieces always reassemble the word; filter drops unsafe words") {
    val df = Seq((0L, "hello WORLD x9 a|b high-five ok"))
      .toDF("doc_id", "text")
    val merges = Subword.bpeTrain(df, "text", 2)
    val enc = Subword.bpeEncode(df, "doc_id", "text", merges).collect()
    // only lowercase-alnum words survive: hello(0), x9(2), ok(5)
    assert(enc.map(_.getLong(1)).toSet == Set(0L, 2L, 5L))
    val byWord = enc.groupBy(_.getLong(1))
      .map { case (w, rs) => w -> rs.sortBy(_.getLong(2)).map(_.getString(3)).mkString }
    assert(byWord(0L) == "hello" && byWord(2L) == "x9" && byWord(5L) == "ok")
  }

  test("bpeTrain argmax tie-break is (cnt desc, lhs asc, rhs asc)") {
    // 'ab' and 'ba' pair counts tie at 2; 'ab' (lhs 'a') must win round 1
    val (merges, _) = Subword.bpeLocal(Seq("ab ab ba ba"), 1)
    assert(merges.head == Subword.BpeMerge(1, "a", "b", 2))
  }
}
