package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, SizeRoute, TextOps}

/** Substring-level dedup (Lee et al. ExactSubstr, fixed-window form):
  * planted boilerplate is flagged and removed span-exactly; unique text
  * is untouched; within-doc repetition counts.
  */
class SubstringDedupSpec extends SparkTestBase {

  private val Boiler = "subscribe to our newsletter for daily updates now"

  private def corpus = {
    val sp = spark
    import sp.implicits._
    Seq(
      (0L, s"alpha beta gamma delta epsilon zeta $Boiler"),
      (1L, s"$Boiler one two three four five six"),
      (2L, "entirely unique text with no repeated spans anywhere at all today"),
      // within-doc repetition: the same 4-token run twice in one doc
      (3L, "red green blue white red green blue white tail marker closing words")
    ).toDF("doc_id", "text")
  }

  test("dup stats flag exactly the docs sharing the boilerplate or self-repeating") {
    val got = Dedup.substringDupStats(corpus, "doc_id", "text", windowTokens = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // docs 0 and 1 share every window inside the 8-token boilerplate:
    // 8 - 4 + 1 = 5 shared windows each
    assert(got(0L)._2 == 5, s"doc0 $got")
    assert(got(1L)._2 == 5, s"doc1 $got")
    assert(got(2L)._2 == 0, s"unique doc flagged: $got")
    // doc 3: "red green blue white" appears at positions 0 and 4 -> both
    // windows duplicated (within-doc repetition counts corpus-wide)
    assert(got(3L)._2 == 2, s"doc3 $got")
    // n_windows = tokens - 3
    assert(got(0L)._1 == corpus.where(col("doc_id") === 0)
      .select(TextOps.tokenCount(col("text"))).head().getLong(0) - 3)
  }

  test("clean removes exactly the covered spans and keeps order") {
    val got = Dedup.substringDedupClean(corpus, "doc_id", "text", windowTokens = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // the boilerplate (8 tokens) is fully covered in docs 0 and 1; the
    // unique prefixes/suffixes survive in order
    assert(got(0L) == (6L, "alpha beta gamma delta epsilon zeta"), got(0L))
    assert(got(1L) == (6L, "one two three four five six"), got(1L))
    assert(got(2L)._2 == "entirely unique text with no repeated spans anywhere at all today")
    // doc 3: both "red green blue white" runs removed, tail kept
    assert(got(3L) == (4L, "tail marker closing words"), got(3L))
  }

  test("a doc that is entirely boilerplate yields the empty string, not a dropped row") {
    val sp = spark
    import sp.implicits._
    val df = Seq((0L, Boiler), (1L, Boiler)).toDF("doc_id", "text")
    val got = Dedup.substringDedupClean(df, "doc_id", "text", windowTokens = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    assert(got.toSeq == Seq((0L, 0L, ""), (1L, 0L, "")))
  }
}

/** Dedup tiers over synthetic corpora with planted duplicates. */
class DedupSpec extends SparkTestBase {

  private def corpus = {
    val sp = spark
    import sp.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 0
      (2L, "completely different text about spark query engines and columnar scans"),
      (3L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 0
      (4L, "another unrelated document mentioning joins aggregates and windows only")
    ).toDF("doc_id", "text")
  }

  test("exact dedup keeps lowest tie-break per key") {
    val out = Dedup.exact(corpus, Seq("text"), "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(0L, 1L, 2L, 4L))
  }

  test("jaccard join finds exact and near duplicates, nothing else") {
    val sh = corpus.select(col("doc_id"), TextOps.wordNGrams(col("text"), 3).as("sh"))
    val pairs = Dedup.jaccardJoin(sh, "doc_id", "sh", 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L), (0L, 3L), (1L, 3L)))
  }

  test("minhash LSH candidates cover all true near-dup pairs here") {
    val sh = corpus.select(col("doc_id"), TextOps.wordNGrams(col("text"), 3).as("sh"))
    val sigs = Dedup.minhashSignatures(sh, "doc_id", "sh", 16)
    val cands = Dedup.lshCandidatePairs(Dedup.lshBands(sigs, "doc_id", 16, 4), "doc_id")
    val verified = Dedup.verifyJaccard(cands, sh, "doc_id", "sh", 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified == Set((0L, 1L), (0L, 3L), (1L, 3L)))
  }

  test("identical texts have identical minhash signatures") {
    val sh = corpus.select(col("doc_id"), TextOps.wordNGrams(col("text"), 3).as("sh"))
    val sigs = Dedup.minhashSignatures(sh, "doc_id", "sh", 16).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getLong).toSeq).toMap
    assert(sigs(0L) == sigs(3L))
    assert(sigs(0L) != sigs(2L))
  }

  test("simhash pairs: exact dup has hamming 0; near-dup small; unrelated absent") {
    val pairs = Dedup.simhashPairs(corpus, "doc_id", split(col("text"), " "), 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(4))).toMap
    assert(pairs.contains((0L, 3L)) && pairs((0L, 3L)) == 0)
    assert(!pairs.keySet.exists { case (a, b) => Set(a, b).contains(2L) })
  }

  test("jaccardJoin matches a naive driver-side all-pairs computation") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val corp = (0 until 40).map { i =>
      (i.toLong, Seq.fill(5 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))))
    }
    val df = corp.toDF("id", "sh")
    val got = graft.ops.Dedup.jaccardJoin(df, "id", "sh", 0.4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(5))).toMap
    val sets = corp.map { case (id, sh) => id -> sh.toSet }.toMap
    val expected = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size
      j = inter.toDouble / (sets(a).size + sets(b).size - inter)
      if j >= 0.4
    } yield (a, b) -> j).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, j) => assert(math.abs(j - expected(k)) < 1e-12) }
  }

  test("dropHotShingles removes boilerplate, keeps signal, preserves rows") {
    val sp = spark
    import sp.implicits._
    // every doc shares the "BOILER PLATE X" shingle; only 0/1 share real content
    val docs = Seq(
      (0L, Seq("BOILER", "real a", "real b")),
      (1L, Seq("BOILER", "real a", "real b")),
      (2L, Seq("BOILER", "other c")),
      (3L, Seq("BOILER"))) // nothing but boilerplate
      .toDF("doc_id", "sh")
    val filtered = graft.ops.Dedup.dropHotShingles(docs, "doc_id", "sh", 0.5)
    val got = filtered.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(got.keySet == Set(0L, 1L, 2L, 3L)) // no row dropped
    assert(got.values.forall(!_.contains("BOILER")))
    assert(got(0L) == Set("real a", "real b") && got(2L) == Set("other c"))
    assert(got(3L).isEmpty)
    // the boilerplate-only pairing disappears; the real near-dup survives
    val pairs = graft.ops.Dedup.jaccardJoin(filtered, "doc_id", "sh", 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)))
    // below-threshold shingles untouched
    val loose = graft.ops.Dedup.dropHotShingles(docs, "doc_id", "sh", 1.0)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(loose(0L).contains("BOILER"))
    // the collected hot LIST (the once-per-corpus composition form) agrees
    // with the in-plan op: same threshold semantics, sorted, and applying
    // it as the codegen'd set-subtract removes exactly the hot shingles
    val hot = graft.ops.Dedup.hotShingles(docs, "doc_id", "sh", 0.5)
    assert(hot.toSeq == Seq("BOILER"), hot.toSeq)
    assert(graft.ops.Dedup.hotShingles(docs, "doc_id", "sh", 1.0).isEmpty)
    import org.apache.spark.sql.functions.{array_except, col, typedLit}
    val viaList = docs.withColumn("sh", array_except(col("sh"), typedLit(hot.toSeq)))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(viaList == got, viaList)
  }

  test("incremental dedup: batch-vs-corpus only, differential vs driver all-pairs") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(99L)
    val vocab = (0 until 30).map(i => s"w$i")
    def doc(): Seq[String] = (0 until 6 + rnd.nextInt(6)).map(_ => vocab(rnd.nextInt(vocab.size)))
    val rows = (0L until 60L).map { i =>
      // plant near-dups of corpus docs into the batch
      if (i % 2 == 1 && i % 6 == 1) (i, ((i - 1), "copy")) else (i, (i, "fresh"))
    }
    val texts = rows.map { case (i, (src, kind)) =>
      val base = { val r2 = new scala.util.Random(src); // deterministic per source
        (0 until 9).map(_ => vocab(r2.nextInt(vocab.size))) }
      (i, (if (kind == "copy") base :+ "x" else base).mkString(" "))
    }
    val df = texts.toDF("doc_id", "text")
      .select(col("doc_id"), graft.ops.TextOps.wordNGrams(col("text"), 3).as("sh"))
    val batch = df.where(col("doc_id") % 2 === 1)
    val corpus = df.where(col("doc_id") % 2 === 0)
    val got = graft.ops.Dedup.jaccardJoinAgainst(batch, corpus, "doc_id", "sh", 0.5)
      .select("a", "b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // cross-side only: a always odd, b always even
    assert(got.forall { case (a, b, _) => a % 2 == 1 && b % 2 == 0 })
    assert(got.nonEmpty) // planted copies found
    // driver-side reference over distinct shingle sets
    val sets = df.collect().map(r => r.getLong(0) -> r.getSeq[String](1).distinct.toSet).toMap
    val want = (for {
      a <- sets.keys if a % 2 == 1
      b <- sets.keys if b % 2 == 0
      if sets(a).nonEmpty && sets(b).nonEmpty
      inter = (sets(a) & sets(b)).size
      j = inter.toDouble / (sets(a).size + sets(b).size - inter)
      if j >= 0.5
    } yield (a, b, j)).toSet
    assert(got == want)
    // survivors = batch minus matched
    val surv = graft.ops.Dedup.incrementalSurvivors(
        batch.select("doc_id"), "doc_id",
        graft.ops.Dedup.jaccardJoinAgainst(batch, corpus, "doc_id", "sh", 0.5))
      .collect().map(_.getLong(0)).toSet
    assert(surv == sets.keys.filter(_ % 2 == 1).toSet -- want.map(_._1))
  }

  test("materialized postings: at-rest incremental dedup is row-identical and corpus-exchange-free") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), graft.ops.TextOps.wordNGrams(col("text"), 3).as("sh"))
    val batch = docs.where(col("doc_id") % 2 === 1)
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val table = "graft_test_postings"
    graft.ops.Dedup.materializePostings(corpus, "doc_id", "sh", table, buckets = 8)
    try {
      val postings = graft.ops.Dedup.openPostings(spark, table)
      val atRest = graft.ops.Dedup.jaccardJoinAgainstPostings(
        batch, postings, "doc_id", "sh", 0.5)
      val inline = graft.ops.Dedup.jaccardJoinAgainst(
        batch, corpus, "doc_id", "sh", 0.5)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("a", "b", "inter", "size_a", "size_b").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      assert(rows(atRest) == rows(inline))
      // the bucketed postings scan is actually used
      assert(atRest.queryExecution.executedPlan.toString.contains("Bucketed: true"),
        atRest.queryExecution.executedPlan.toString)
      // the corpus side must NOT be re-shuffled. At this fixture size both
      // shapes broadcast (hiding the property), so force the sort-merge
      // path the large-scale planner takes: then the inline shape
      // exchanges BOTH join sides, the at-rest shape only the batch side.
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(key)
      try {
        spark.conf.set(key, "-1")
        def nEx(df: org.apache.spark.sql.DataFrame) =
          "Exchange hashpartitioning".r
            .findAllIn(df.queryExecution.executedPlan.toString).size
        val atRestEx = nEx(graft.ops.Dedup.jaccardJoinAgainstPostings(
          batch, postings, "doc_id", "sh", 0.5))
        val inlineEx = nEx(graft.ops.Dedup.jaccardJoinAgainst(
          batch, corpus, "doc_id", "sh", 0.5))
        assert(atRestEx == inlineEx - 1,
          s"at-rest $atRestEx vs inline $inlineEx exchanges")
      } finally spark.conf.set(key, prev)
    } finally graft.sources.Bucketing.drop(spark, table)
  }

  test("incremental LSH tier: batch bands vs pre-signed corpus bands") {
    val sp = spark
    import sp.implicits._
    // corpus: 20 docs; batch: copies of corpus docs 0/4/8 plus fresh docs
    def text(i: Long) = {
      val r = new scala.util.Random(i)
      (0 until 12).map(_ => s"w${r.nextInt(25)}").mkString(" ")
    }
    val corpus = (0L until 20L).map(i => (i, text(i))).toDF("doc_id", "text")
      .select(col("doc_id"), graft.ops.TextOps.wordNGrams(col("text"), 3).as("sh"))
    val batch = Seq(100L -> text(0), 101L -> text(4), 102L -> text(8),
        103L -> text(1000), 104L -> text(2000))
      .toDF("doc_id", "text")
      .select(col("doc_id"), graft.ops.TextOps.wordNGrams(col("text"), 3).as("sh"))
    // corpus signs once; the batch signs only itself
    val corpusBands = graft.ops.Dedup.lshBands(
      graft.ops.Dedup.minhashSignatures(corpus, "doc_id", "sh", 16), "doc_id", 16, 4)
    val batchBands = graft.ops.Dedup.lshBands(
      graft.ops.Dedup.minhashSignatures(batch, "doc_id", "sh", 16), "doc_id", 16, 4)
    val cands = graft.ops.Dedup.lshCandidatePairsAgainst(
      batchBands, corpusBands, "doc_id")
    val verified = graft.ops.Dedup.verifyJaccard(
        cands, batch.unionAll(corpus), "doc_id", "sh", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact copies MUST be found (identical signatures share every band)
    assert(Set((100L, 0L), (101L, 4L), (102L, 8L)).subsetOf(verified))
    // every candidate is cross-side: a from batch, b from corpus
    val all = cands.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(all.forall { case (a, b) => a >= 100L && b < 100L })
  }

  test("survivors drop larger ids of matched pairs") {
    val sh = corpus.select(col("doc_id"), TextOps.wordNGrams(col("text"), 3).as("sh"))
    val pairs = Dedup.jaccardJoin(sh, "doc_id", "sh", 0.5)
    val out = Dedup.survivors(corpus, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(0L, 2L, 4L))
  }

  test("at-rest winnow index: cross-split parity and batch-side-only exchange") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val batch = d.where(col("doc_id") % 2 === 1)
    val corpus = d.where(col("doc_id") % 2 === 0)
    val table = "graft_test_winnow"
    Dedup.materializeWinnow(corpus, "doc_id", "text", 3, 4, table, buckets = 8)
    try {
      val batchFps = Dedup.winnowFingerprints(batch, "doc_id", "text", 3, 4)
      val atRest = Dedup.winnowPairsAgainst(
        batchFps, spark.table(table), "doc_id", 2L)
      // parity: the at-rest pairs equal the inline cross-split computation
      val inline = Dedup.winnowFingerprints(d, "doc_id", "text", 3, 4)
      val expect = inline.select(col("fp"), col("doc_id").as("a"))
        .where(col("a") % 2 === 1)
        .join(inline.select(col("fp"), col("doc_id").as("b"))
          .where(col("b") % 2 === 0), "fp")
        .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 2)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows(atRest) == rows(expect))
      assert(atRest.queryExecution.executedPlan.toString.contains("Bucketed: true"),
        atRest.queryExecution.executedPlan.toString)
      // under the sort-merge regime the at-rest shape exchanges ONLY the
      // batch fingerprints (the corpus buckets join in place)
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(key)
      try {
        spark.conf.set(key, "-1")
        val plan = Dedup.winnowPairsAgainst(
            batchFps, spark.table(table), "doc_id", 2L)
          .queryExecution.executedPlan.toString
        val nEx = "Exchange hashpartitioning\\(fp".r.findAllIn(plan).size
        assert(nEx == 1, s"expected one fp exchange (batch side), got $nEx:\n$plan")
      } finally spark.conf.set(key, prev)
    } finally graft.sources.Bucketing.drop(spark, table)
  }

  test("winnowing: coverage guarantee, density, local window-min replay, short docs") {
    val sp = spark
    import sp.implicits._
    val (k, w) = (3, 4)
    val shared = "the quick brown fox jumps over the lazy dog tonight"  // 10 tokens >= k+w-1
    val docs = Seq(
      (1L, s"prefix words here $shared and a unique ending one"),
      (2L, s"$shared with a totally different continuation after it"),
      (3L, "no overlap with anything else in this tiny corpus at all"),
      (4L, "too short"),                          // < k tokens for any window
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs, "doc_id", "text", k, w)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // short/NULL docs yield no fingerprints
    assert(!byDoc.contains(4L) && !byDoc.contains(5L))
    // coverage: docs 1 and 2 share a >= k+w-1 token run -> MUST share a fp
    assert(byDoc(1L).intersect(byDoc(2L)).nonEmpty,
      "winnowing coverage guarantee violated")
    // density: selection is far sparser than the gram count
    val grams1 = docs.where(col("doc_id") === 1)
      .select(TextOps.wordNGrams(col("text"), k)).head().getSeq[String](0)
    assert(byDoc(1L).size < grams1.size,
      s"selected ${byDoc(1L).size} of ${grams1.size} positions")
    // local replay of the full window-min rule for doc 3
    def h(g: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16)
    }
    val t3 = "no overlap with anything else in this tiny corpus at all".split(" ")
    val hs = t3.sliding(k).map(_.mkString(" ")).map(h).toSeq
    val expect = hs.sliding(w).map(_.min).toSet
    assert(byDoc(3L) == expect, "window minima must replay exactly")
    // pairs: only (1,2) share >= 2 fingerprints here
    val pairs = Dedup.winnowPairs(
        Dedup.winnowFingerprints(docs, "doc_id", "text", k, w), "doc_id", 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)), pairs.mkString(","))
  }
}

/** Connected components: transitivity, differential vs union-find, and the
  * convergence guard.
  */
class ComponentsSpec extends SparkTestBase {
  private val sp = SparkTestBase.spark
  import sp.implicits._

  test("chains collapse to one component (what greedy survivors can't see)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val got = graft.ops.Dedup.components(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("differential vs union-find on a random graph") {
    val rnd = new scala.util.Random(4242L)
    val pairRows = (1 to 120).map(_ => (rnd.nextInt(60).toLong, 60L + rnd.nextInt(60)))
    val got = graft.ops.Dedup.components(pairRows.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // plain union-find with path compression
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairRows.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(x => x -> find(x)).toMap
    assert(got == want)
  }

  test("throws instead of returning an unconverged labeling") {
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    // the guard belongs to the distributed fixpoint — force it (the driver
    // union-find route needs no iteration bound)
    assertThrows[IllegalArgumentException] {
      SizeRoute.withBounds(SizeRoute.GraphLabelEdges -> 0) {
        graft.ops.Dedup.components(chain, maxIters = 3)
      }
    }
  }

  test("size route: driver labeling equals the distributed fixpoint") {
    val rnd = new scala.util.Random(20260818L)
    val pairRows = (1 to 150).map(_ =>
      (rnd.nextInt(80).toLong, rnd.nextInt(160).toLong))
    val pairs = pairRows.toDF("a", "b")
    val driver = graft.ops.Dedup.components(pairs) // routes driver (tiny)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = SizeRoute.withBounds(SizeRoute.GraphLabelEdges -> 0) {
      graft.ops.Dedup.components(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(driver == dist)
  }

  test("reliable checkpointing converges to the same labels") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 10L)).toDF("a", "b")
    val dir = graft.util.TempDirs.create("graft_ckpt")
    // reliable checkpointing is a distributed-fixpoint concern — force the
    // route so the checkpoint-dir assertion below stays meaningful
    val reliable = SizeRoute.withBounds(SizeRoute.GraphLabelEdges -> 0) {
      graft.ops.Dedup.components(pairs, checkpointDir = Some(dir))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val local = graft.ops.Dedup.components(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable == local)
    // reliable checkpoints actually hit the checkpoint dir
    assert(new java.io.File(dir).listFiles().nonEmpty)
  }

  test("incrementalComponents: planted merge topologies match a full recompute") {
    // old clusters {1,2,3} (canonical 1) and {10,11} (canonical 10)
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val labels = graft.ops.Dedup.components(oldPairs, "doc_id")
    // batch: bridges both old clusters (11-2), adds a fresh pair (20-21)
    // and a cross edge from a fresh node into an old cluster (21-3)
    val newPairs = Seq((11L, 2L), (20L, 21L), (21L, 3L)).toDF("a", "b")
    val got = graft.ops.Dedup.incrementalComponents(labels, "doc_id", newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = graft.ops.Dedup.components(oldPairs.unionAll(newPairs), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    assert(got.values.toSet == Set(1L)) // everything merged to global min
  }

  test("incrementalComponents: randomized merges equal components over the union") {
    for (seed <- Seq(11L, 12L, 13L)) {
      val rnd = new scala.util.Random(seed)
      val oldRows = (1 to 80).map(_ =>
        (rnd.nextInt(40).toLong, 40L + rnd.nextInt(40)))
      val newRows = (1 to 30).map(_ =>
        (rnd.nextInt(100).toLong, rnd.nextInt(100).toLong))
        .filter { case (a, b) => a != b }
      val labels = graft.ops.Dedup.components(oldRows.toDF("a", "b"), "doc_id")
      val got = graft.ops.Dedup.incrementalComponents(
          labels, "doc_id", newRows.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = graft.ops.Dedup.components(
          oldRows.toDF("a", "b").unionAll(newRows.toDF("a", "b")), "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"seed $seed")
    }
  }

  test("incrementalComponents: sequential batches equal full recompute at every step") {
    // the production life of the operator: labels absorb batch after
    // batch, each merge exact against from-scratch clustering over
    // everything ingested so far
    val rnd = new scala.util.Random(99L)
    var labels = graft.ops.Dedup.components(
      Seq.empty[(Long, Long)].toDF("a", "b"), "doc_id")
    var allPairs = Seq.empty[(Long, Long)]
    for (epoch <- 1 to 4) {
      val batch = (1 to 25).map(_ =>
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter { case (a, b) => a != b }
      allPairs ++= batch
      labels = graft.ops.Dedup.incrementalComponents(
          labels, "doc_id", batch.toDF("a", "b"))
        .localCheckpoint() // pin: the next merge reads this as at-rest state
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = graft.ops.Dedup.components(allPairs.toDF("a", "b"), "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"diverged after epoch $epoch")
    }
  }

  test("incrementalComponents: empty batch and empty at-rest state") {
    val oldPairs = Seq((1L, 2L), (5L, 6L)).toDF("a", "b")
    val labels = graft.ops.Dedup.components(oldPairs, "doc_id")
    val none = Seq.empty[(Long, Long)].toDF("a", "b")
    val unchanged = graft.ops.Dedup.incrementalComponents(labels, "doc_id", none)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(unchanged == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))
    // first batch ever: no at-rest labels
    val empty = labels.where(lit(false))
    val first = graft.ops.Dedup.incrementalComponents(empty, "doc_id", oldPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(first == unchanged)
  }

  // the induced-subgraph pair rule for pure pair-graph delete tests: the
  // true surviving pair set restricted to the requested ids — exactly what
  // a production caller re-derives from stored shingles
  private def pairsAmongFrom(all: Seq[(Long, Long)])
      : org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = {
    ids =>
      val sp = spark
      import sp.implicits._
      all.toDF("a", "b")
        .join(ids.select(col("doc_id").as("a")), Seq("a"), "left_semi")
        .join(ids.select(col("doc_id").as("b")), Seq("b"), "left_semi")
  }

  test("deleteFromComponents: a bridge delete SPLITS the component") {
    // 1-2 == 3 == 4-5: node 3 bridges two pairs; deleting it must split
    // the single component into {1,2} and {4,5}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val labels = graft.ops.Dedup.components(pairs.toDF("a", "b"), "doc_id")
    assert(labels.collect().map(_.getLong(1)).toSet == Set(1L))
    val got = graft.ops.Dedup.deleteFromComponents(labels, "doc_id",
        Seq(3L).toDF("doc_id"), pairsAmongFrom(pairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("deleteFromComponents: deleting the canonical min re-labels the survivors") {
    val pairs = Seq((10L, 11L), (10L, 12L), (11L, 12L), (20L, 21L))
    val labels = graft.ops.Dedup.components(pairs.toDF("a", "b"), "doc_id")
    val got = graft.ops.Dedup.deleteFromComponents(labels, "doc_id",
        Seq(10L).toDF("doc_id"), pairsAmongFrom(pairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the untouched cluster keeps its label; the touched one re-canonicalizes
    assert(got == Map(11L -> 11L, 12L -> 11L, 20L -> 20L, 21L -> 20L))
  }

  test("deleteFromComponents: pairless survivors drop, unknown ids are no-ops, empty delete is identity") {
    val pairs = Seq((1L, 2L), (5L, 6L))
    val labels = graft.ops.Dedup.components(pairs.toDF("a", "b"), "doc_id")
    // deleting 1 leaves 2 with no pair: 2 leaves the labeling (components'
    // node contract — only nodes in >= 1 pair are labeled)
    val afterBridge = graft.ops.Dedup.deleteFromComponents(labels, "doc_id",
        Seq(1L).toDF("doc_id"), pairsAmongFrom(pairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterBridge == Map(5L -> 5L, 6L -> 5L))
    // ids never labeled (never paired / already gone) are no-ops
    val noop = graft.ops.Dedup.deleteFromComponents(labels, "doc_id",
        Seq(999L).toDF("doc_id"), pairsAmongFrom(pairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(noop == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))
    // empty delete batch is identity
    val empty = graft.ops.Dedup.deleteFromComponents(labels, "doc_id",
        Seq.empty[Long].toDF("doc_id"), pairsAmongFrom(pairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(empty == noop)
    // deleting a whole cluster removes every trace of it
    val gone = graft.ops.Dedup.deleteFromComponents(labels, "doc_id",
        Seq(5L, 6L).toDF("doc_id"), pairsAmongFrom(pairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gone == Map(1L -> 1L, 2L -> 1L))
  }

  test("deleteFromComponents: empty at-rest labels are a no-op frame of the right shape") {
    val none = Seq.empty[(Long, Long)]
    val labels = graft.ops.Dedup.components(none.toDF("a", "b"), "doc_id")
    val out = graft.ops.Dedup.deleteFromComponents(labels, "doc_id",
      Seq(7L).toDF("doc_id"), pairsAmongFrom(none))
    assert(out.columns.toSeq == Seq("doc_id", "component"))
    assert(out.isEmpty)
  }

  test("deleteFromComponents: randomized deletes equal components over the surviving pairs") {
    for (seed <- Seq(21L, 22L, 23L, 24L)) {
      val rnd = new scala.util.Random(seed)
      val pairs = (1 to 120).map(_ =>
        (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val labels = graft.ops.Dedup.components(pairs.toDF("a", "b"), "doc_id")
      val dels = (0L until 50L).filter(_ => rnd.nextDouble() < 0.3)
      // even seeds drive the driver union-find, odd the star contraction
      val maxEdges = if (seed % 2 == 0) 1 << 22 else 0
      val got = SizeRoute.withBounds(SizeRoute.GraphLabelEdges -> maxEdges) {
        graft.ops.Dedup.deleteFromComponents(labels, "doc_id",
            dels.toDF("doc_id"), pairsAmongFrom(pairs))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      val surviving = pairs.filter { case (a, b) =>
        !dels.contains(a) && !dels.contains(b) }
      val want = graft.ops.Dedup.components(surviving.toDF("a", "b"), "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"seed $seed dels=$dels")
    }
  }

  test("componentsStar: path graph converges in O(log n) rounds, not diameter") {
    // a 64-node path has diameter 63: min-label propagation needs 63 rounds,
    // star contraction must finish well under this budget
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val got = graft.ops.Dedup.componentsStar(path, maxIters = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 63L).map(_ -> 0L).toMap)
  }

  test("componentsStar: differential vs union-find on a random graph") {
    val rnd = new scala.util.Random(777L)
    val pairRows = (1 to 150).map(_ => (rnd.nextInt(70).toLong, 70L + rnd.nextInt(70)))
    val got = graft.ops.Dedup.componentsStar(pairRows.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairRows.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(x => x -> find(x)).toMap
    assert(got == want)
  }

  test("componentsStar: union-find differential across 12 random topologies") {
    def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(x => x -> find(x)).toMap
    }
    (1 to 12).foreach { seed =>
      val rnd = new scala.util.Random(seed * 7919L)
      val n = 20 + rnd.nextInt(60)
      val shape = seed % 4
      val pairs: Seq[(Long, Long)] = shape match {
        case 0 => // sparse random
          (1 to n).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        case 1 => // long paths (deep diameter — the star-contraction case)
          (0L until n.toLong - 1).map(i => (i, i + 1))
        case 2 => // cliques of 5
          (0 until n / 5).flatMap(c => for (i <- 0 until 5; j <- i + 1 until 5)
            yield ((c * 5 + i).toLong, (c * 5 + j).toLong))
        case _ => // stars + isolated self-loops
          (1 until n).map(i => if (i % 3 == 0) (i.toLong, i.toLong)
            else ((i - i % 7).toLong, i.toLong))
      }
      val filtered = pairs.filter(p => p._1 != p._2) ++
        pairs.filter(p => p._1 == p._2) // keep self-loops: must not crash
      val got = graft.ops.Dedup.componentsStar(filtered.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = unionFind(filtered.filter(p => p._1 != p._2)) ++
        filtered.collect { case (a, b) if a == b &&
          !filtered.exists(q => q._1 != q._2 && (q._1 == a || q._2 == a)) => a -> a }
      // every node present in the edge list must be labeled
      val nodes = filtered.flatMap(p => Seq(p._1, p._2)).toSet
      assert(got.keySet == nodes, s"seed $seed: node set")
      nodes.foreach { x =>
        val w = want.getOrElse(x, x)
        assert(got(x) == w, s"seed $seed shape $shape node $x: ${got(x)} vs $w")
      }
    }
  }

  test("componentsStar: agrees with label propagation on a mixed graph") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 5L), (8L, 9L), (9L, 10L), (10L, 8L))
      .toDF("a", "b")
    def toMapOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(toMapOf(graft.ops.Dedup.componentsStar(pairs)) ==
      toMapOf(graft.ops.Dedup.components(pairs)))
  }

  /** embedComponents == the uncontracted cosineJoinLsh -> componentsStar
    * pipeline, row for row — the contraction must be invisible.
    */
  private def uncontractedEmbed(df: org.apache.spark.sql.DataFrame,
      tau: Double, dim: Int): Map[Long, Long] = {
    val pairs = graft.ops.SimilarityJoin
      .cosineJoinLsh(df, "vec_id", "embedding", tau, dim)
      .select(col("a"), col("b"))
    graft.ops.Dedup.componentsStar(pairs, "vec_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def contractedEmbed(df: org.apache.spark.sql.DataFrame,
      tau: Double, dim: Int): Map[Long, Long] =
    graft.ops.Dedup.embedComponents(df, "vec_id", "embedding", tau, dim)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("embedComponents: identical labeling to the uncontracted pipeline under heavy exact duplication") {
    val rnd = new scala.util.Random(4242L)
    val dim = 8
    // 12 base vectors, each duplicated 1-9 times bit-identically, ids
    // interleaved so group minima are non-trivial; plus two exact-zero
    // vectors (self-distance 2.0 — must NOT contract or pair) and one
    // vector with a NaN element (self-distance NaN — same)
    val bases = (0 until 12).map(_ => Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
    var id = 0L
    val rows = scala.collection.mutable.Buffer[(Long, Array[Float])]()
    bases.zipWithIndex.foreach { case (v, i) =>
      (0 to i % 5 * 2).foreach { _ => rows += ((id, v.clone())); id += 3 }
    }
    rows += ((id, Array.fill(dim)(0f))); id += 3
    rows += ((id, Array.fill(dim)(0f))); id += 3
    rows += ((id, Array.tabulate(dim)(j => if (j == 2) Float.NaN else 0.5f)))
    val df = rows.toSeq.toDF("vec_id", "embedding")
    val tau = 0.55
    val want = uncontractedEmbed(df, tau, dim)
    val got = contractedEmbed(df, tau, dim)
    assert(got == want)
    // sanity: the duplication actually exercised the contraction (some
    // group has >= 3 members) and the zero/NaN rows are absent from both
    assert(rows.size > bases.size + 3)
    val zeroIds = rows.toSeq.filter(_._2.forall(_ == 0f)).map(_._1)
    assert(zeroIds.nonEmpty && zeroIds.forall(z => !got.contains(z)))
  }

  test("embedComponents: zero vectors pair (and contract) when tau admits self-distance 2.0") {
    // with tau >= 2.0 a zero vector's self-distance passes the gate, the
    // raw graph pairs identical zeros, and the contraction must follow
    val df = Seq(
      (1L, Array.fill(4)(0f)), (5L, Array.fill(4)(0f)),
      (9L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val want = uncontractedEmbed(df, 2.0, 4)
    val got = contractedEmbed(df, 2.0, 4)
    assert(got == want)
    assert(got.get(1L).contains(1L) && got.get(5L).contains(1L))
  }

  test("embedComponents: templated-page shape — near-dup cluster of DISTINCT vectors emits linear edges, identical labeling") {
    // m distinct vectors within tau of each other (tiny per-coordinate
    // jitter): the exact-dup contraction does NOT fire (different bits),
    // all m share band keys, and the all-pairs tier emits m(m-1)/2
    // verified pairs — the r18 verdict's named near-dup quadratic. The
    // spanning tier must emit O(m) edges with the SAME component labeling.
    val dim = 8
    val m = 200
    val rnd = new scala.util.Random(77L)
    val base = Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
    val rows = (0 until m).map { i =>
      val v = base.clone()
      v(i % dim) += (i + 1) * 1e-5f // distinct bits, negligible angle
      ((i * 13 + 5).toLong, v)
    } :+ ((9999L, Array.fill(dim)(-1f))) // a far singleton — must not pair
    val df = rows.toDF("vec_id", "embedding")
    val tau = 0.2
    // the quadratic exists in the pair tier...
    val allPairs = graft.ops.SimilarityJoin
      .cosineJoinLsh(df, "vec_id", "embedding", tau, dim).count()
    assert(allPairs == m.toLong * (m - 1) / 2)
    // ...and the spanning tier replaces it with <= bands*(m-1) edges
    val spanning = graft.ops.SimilarityJoin
      .cosineLshComponentEdges(df, "vec_id", "embedding", tau, dim)
    val nEdges = spanning.count()
    assert(nEdges >= m - 1 && nEdges <= 4L * (m - 1),
      s"expected ~linear spanning edge count, got $nEdges for m=$m")
    // labeling identical to the uncontracted all-pairs pipeline
    assert(contractedEmbed(df, tau, dim) == uncontractedEmbed(df, tau, dim))
  }

  test("cosineLshComponentEdges: block-pair decomposition preserves components exactly") {
    // Force the oversized-bucket path with a tiny per-task ceiling: every
    // bucket above 8 members splits into block-pairs, so components must
    // survive edges whose endpoints land in different blocks. Shapes:
    // (a) one big within-tau cluster (every block pair verifies),
    // (b) a CHAIN u1-u2-...-uk where only consecutive rows are within tau
    //     (connectivity must reroute through many block-pair groups),
    // (c) far bucket-mates that never verify (no spurious edges).
    val dim = 8
    val rnd = new scala.util.Random(4241L)
    val base = Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
    val cluster = (0 until 60).map { i =>
      val v = base.clone(); v(i % dim) += (i + 1) * 1e-5f
      ((100 + i).toLong, v)
    }
    // chain: rotate a unit vector in small angular steps; consecutive
    // steps are within tau, distant steps are not
    val chain = (0 until 40).map { i =>
      val theta = i * 0.12
      val v = Array.fill(dim)(0f)
      v(0) = math.cos(theta).toFloat; v(1) = math.sin(theta).toFloat
      ((1000 + i).toLong, v)
    }
    val far = Seq((5000L, Array.fill(dim)(-1f)))
    val df = (cluster ++ chain ++ far).toDF("vec_id", "embedding")
    val tau = 0.02
    val single = graft.ops.Dedup.componentsStar(
        graft.ops.SimilarityJoin.cosineLshComponentEdges(
          df, "vec_id", "embedding", tau, dim).toDF("a", "b"), "vec_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val decomposed = graft.ops.Dedup.componentsStar(
        graft.ops.SimilarityJoin.cosineLshComponentEdges(
          df, "vec_id", "embedding", tau, dim,
          maxBucketRows = 8, maxBlocks = 16).toDF("a", "b"), "vec_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(decomposed == single)
    // the chain actually is one component and the far row pairs with nobody
    assert(decomposed.filter(_._1 >= 1000L).filter(_._1 < 5000L).values.toSet.size == 1)
    assert(!decomposed.contains(5000L))
    // and the decomposition genuinely split: with maxBucketRows=8 the
    // 60-member cluster bucket must produce more edges than members-1 per
    // band (block-pair forests overlap) while staying ~linear
    val nEdges = graft.ops.SimilarityJoin.cosineLshComponentEdges(
      df, "vec_id", "embedding", tau, dim,
      maxBucketRows = 8, maxBlocks = 16).count()
    assert(nEdges < 40L * 101, s"decomposed edge count not ~linear: $nEdges")
  }

  test("cosineLshComponentEdges: randomized decomposition differential (forced tiny buckets)") {
    val dim = 6
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed * 15485863L)
      val nBase = 3 + rnd.nextInt(5)
      val bases = (0 until nBase).map(_ => Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
      val rows = (0 until 80).map { i =>
        val v = bases(rnd.nextInt(nBase)).clone()
        val k = rnd.nextInt(3)
        (0 until dim).foreach(j => v(j) += rnd.nextFloat() * 0.15f * k)
        (i.toLong * 5 + 2, v)
      }
      val df = rows.toDF("vec_id", "embedding")
      val tau = 0.05 + rnd.nextDouble() * 0.3
      val want = graft.ops.Dedup.componentsStar(
          graft.ops.SimilarityJoin.cosineLshComponentEdges(
            df, "vec_id", "embedding", tau, dim).toDF("a", "b"), "vec_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = graft.ops.Dedup.componentsStar(
          graft.ops.SimilarityJoin.cosineLshComponentEdges(
            df, "vec_id", "embedding", tau, dim,
            maxBucketRows = 4 + rnd.nextInt(12),
            maxBlocks = 2 + rnd.nextInt(14)).toDF("a", "b"), "vec_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"seed $seed tau $tau")
    }
  }

  test("cosineLshComponentEdges: components match cosineJoinLsh's across adversarial shapes") {
    // shapes where spanning-forest exactness is non-trivial: bucket-mates
    // that do NOT verify (far vectors colliding in a band), chains where
    // connectivity crosses buckets, zero vectors, NaN elements, and a
    // vector with a NULL element (droppable — can never verify)
    val dim = 6
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed * 7919L)
      val nBase = 3 + rnd.nextInt(5)
      val bases = (0 until nBase).map(_ => Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
      val rows = (0 until 60).map { i =>
        val v = bases(rnd.nextInt(nBase)).clone()
        // graded jitter: some rows within tau of their base, some pushed
        // out past it but often still in the same sign bucket
        val k = rnd.nextInt(3)
        (0 until dim).foreach(j => v(j) += rnd.nextFloat() * 0.15f * k)
        (i.toLong * 3 + 1, v)
      }
      val df = rows.toDF("vec_id", "embedding")
      val tau = 0.05 + rnd.nextDouble() * 0.3
      val wantPairs = graft.ops.SimilarityJoin
        .cosineJoinLsh(df, "vec_id", "embedding", tau, dim)
        .select(col("a"), col("b"))
      val want = graft.ops.Dedup.componentsStar(wantPairs, "vec_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gotEdges = graft.ops.SimilarityJoin
        .cosineLshComponentEdges(df, "vec_id", "embedding", tau, dim)
        .toDF("a", "b")
      val got = graft.ops.Dedup.componentsStar(gotEdges, "vec_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"seed $seed tau $tau")
    }
  }

  test("embedComponents: randomized differential vs the uncontracted pipeline") {
    val dim = 6
    (1 to 6).foreach { seed =>
      val rnd = new scala.util.Random(seed * 104729L)
      val nBase = 5 + rnd.nextInt(10)
      val bases = (0 until nBase).map(_ => Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
      val rows = (0 until 40).map { i =>
        val v = bases(rnd.nextInt(nBase))
        // half the rows perturb one element — near-dups that are NOT
        // bit-identical must never contract, only pair through the LSH
        val w = if (rnd.nextBoolean()) v.clone()
          else { val c = v.clone(); c(rnd.nextInt(dim)) += rnd.nextFloat() * 0.01f; c }
        (i.toLong * 7, w)
      }
      val df = rows.toDF("vec_id", "embedding")
      val tau = 0.3 + rnd.nextDouble() * 0.4
      assert(contractedEmbed(df, tau, dim) == uncontractedEmbed(df, tau, dim),
        s"seed $seed tau $tau")
    }
  }

  test("embedComponents: forced spanning route == forced all-pairs route == default (r20 size route)") {
    // the r20 small-input route picks the all-pairs tier below
    // allPairsMaxRows; the labeling must be identical on every route,
    // including across the near-dup family shape the spanning tier exists
    // for (distinct vectors within tau)
    val dim = 8
    val rnd = new scala.util.Random(9090L)
    val base = Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
    val rows = (0 until 60).map { i =>
      val v =
        if (i % 3 == 0) { // templated family: distinct bits, tiny angle
          val c = base.clone(); c(i % dim) += (i + 1) * 1e-5f; c
        } else Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
      ((i * 11 + 2).toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val tau = 0.25
    def run(allPairsMaxRows: Int): Map[Long, Long] =
      SizeRoute.withBounds(SizeRoute.EmbedAllPairsRows -> allPairsMaxRows) {
        graft.ops.Dedup.embedComponents(df, "vec_id", "embedding", tau, dim)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
    val spanning = run(0)
    val allPairs = run(Int.MaxValue)
    val default = contractedEmbed(df, tau, dim)
    assert(spanning == allPairs, "route labelings diverged")
    assert(default == spanning, "default route diverged")
    assert(spanning.nonEmpty)
  }

  test("embedComponents evaluates each caller row once (the size probe reads the pin)") {
    val acc = spark.sparkContext.longAccumulator("embed-rows")
    val seen = udf { (id: Long) => acc.add(1); true }
    val rnd = new scala.util.Random(4242L)
    val rows = (0 until 40).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat())))
    // an RDD source, not a driver-folded LocalRelation: the filter runs in
    // tasks, once per row per evaluation of the caller's lineage
    val df = spark.sparkContext.parallelize(rows, 2).toDF("vec_id", "embedding")
      .where(seen(col("vec_id")))
    graft.ops.Dedup.embedComponents(df, "vec_id", "embedding", 0.25, 8).collect()
    assert(acc.value == rows.size.toLong)
  }
}
