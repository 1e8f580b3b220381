package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{AnnIndex, Decontaminate, Dedup, Dsir, GraphAnn, HashedClassifier, LanguageModel, PipelineMetrics, ProductQuantizer, Redact, SimilarityJoin, SnapshotDelta, TextOps, Vocab}

/** North-star operator queries (LLM-data-pipeline surface): dedup tiers,
  * similarity joins, ANN, text analysis. Each Spark query exercises the
  * library operators in graft.ops; each oracle replicates the exact same
  * deterministic (md5-based) pipeline in DuckDB-1.0 SQL, so even MinHash-LSH
  * and SimHash are hash-match checkable, not just rows-only.
  */
object NorthStarQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Documents spread across the cluster: the testdata parquet is a single
    * row-group (= one scan partition), which would serialize every
    * string-heavy operator onto one thread. Materialized ONCE per source
    * dir as a multi-file parquet spool (the layout real data has) instead
    * of a per-query `repartition`: the dozen documents-based queries each
    * paid a full-text shuffle per invocation; a spooled read is a plain
    * parallel scan with pushdown. Survives `clearCache()` like the events
    * spool.
    */
  private val docsSpool = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** cache_or_fetch's write-through CSV cache path per dir. */
  private val cacheSpool = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Spool key: the source dir DECORATED with a snapshot signature (every
    * file's relative path, length, and mtime, digested). All the per-dir
    * spools below cache artifacts for the process lifetime; keyed on the
    * path alone, a fixture REGENERATED in place within one JVM session
    * would silently serve the stale hot list / winnow table / PQ codebook.
    * The signature makes regeneration a cache miss (the stale entry is
    * abandoned, not evicted — entries are O(path) driver strings). Listing
    * a fixture dir is a dozen `stat`s per gate invocation — noise next to
    * the query itself; real deployments key at-rest indexes the same way
    * (snapshot/version id, not path).
    */
  private def snapKey(dir: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] = {
      val kids = Option(f.listFiles()).map(_.toSeq.sortBy(_.getName))
        .getOrElse(Seq.empty)
      kids.flatMap(k => if (k.isDirectory) walk(k) else Seq(k))
    }
    val sig = walk(new java.io.File(dir))
      .map(f => s"${f.getPath.stripPrefix(dir)}:${f.length}:${f.lastModified}")
      .mkString("|")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8"))
    dir + "@" + md.map("%02x".format(_)).mkString
  }

  /** `computeIfAbsent` under the snapshot key; `build` receives the PLAIN
    * dir (never the decorated key), so every existing builder lambda reads
    * the fixture it was written against.
    */
  private def spooled[V](map: java.util.concurrent.ConcurrentHashMap[String, V],
      dir: String)(build: String => V): V =
    map.computeIfAbsent(snapKey(dir), _ => build(dir))

  private def docs(s: SparkSession, dir: String): DataFrame = {
    val path = spooled(docsSpool, dir)(d => {
      val tmp = graft.util.TempDirs.create("graft_docs_spool")
      t(s, d, "documents").repartition(s.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(tmp)
      tmp
    })
    s.read.parquet(path)
  }

  /** Document-frequency cap for the boilerplate guard composed into every
    * jaccard-family gate below (same threshold as the dedicated
    * `boilerplate_filtered_pairs` gate).
    */
  private val HotShingleFrac = 0.25

  /** Hot-shingle list per source dir, computed ONCE (Dedup.hotShingles —
    * the ingest-time document-frequency statistic, ≤ ~10³ strings by
    * construction at any corpus size).
    */
  private val hotShingleSpool =
    new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()

  /** Shared pair-building input: 3-word shingles WITH the hot-shingle
    * guard composed by default (one boilerplate shingle shared by 10% of
    * a web corpus makes the banded join bucket², so the 100 TB posture
    * depends on every jaccard-derived pipeline carrying the guard, not
    * just the dedicated boilerplate gate). The hot LIST is the once-per-
    * corpus Dedup.hotShingles statistic; each query composes it as a
    * codegen'd `array_except(sh, lit(hot))` — set semantics, which every
    * consumer already applies via array_distinct. (An in-plan
    * higher-order filter here measured 3-10× gate wall: the lambda
    * evaluates interpreted per shingle element and breaks downstream
    * codegen — the literal set-subtract is the scale-sane composition.)
    * The oracle side REPLAYS the guard ([[GuardedShCte]] document-
    * frequency chain), so the cross-engine hash is exact on any fixture —
    * hot shingles present or not — instead of silently depending on the
    * fixture being boilerplate-free; the guard's presence in each gate's
    * plan is PlanSpec-asserted.
    */
  private def docsWithShingles(s: SparkSession, dir: String): DataFrame = {
    val shingled = docs(s, dir)
      .select(col("doc_id"), TextOps.wordNGrams(col("text"), 3).as("sh"))
    val hot = spooled(hotShingleSpool, dir)(_ =>
      Dedup.hotShingles(shingled, "doc_id", "sh", HotShingleFrac))
    shingled.withColumn("sh",
      array_except(col("sh"), typedLit(hot.toSeq)))
  }

  private val JaccardTau = 0.5
  private val CosineTau = 0.55
  private val Bm25Terms = Seq("spark", "join", "fast")

  // WordPiece gate geometry — interpolated into the oracle SQL so the two
  // engines can never drift.
  private val WpVocabSize = 200
  private val WpMaxPieceLen = 4

  /** BPE gate geometry: merge rounds replayed by the oracle CTE chain. */
  private val BpeRounds = 8

  // Segment-dedup gate geometry: 3-token segments duplicate when shared by
  // >= 2 distinct docs (~1/3 of sf0.01 segments — a real kept/dropped mix).
  private val SegWindow = 3
  private val SegMinDocs = 2

  // Hard-negative mining band: rank 1 = positive, ranks [11, 15] = hard
  // negatives (just past the top-10 "relevant" zone).
  private val NegFrom = 11
  private val NegTo = 15

  // Hashed-classifier gate geometry: 256 feature buckets — small enough
  // that distinct tokens collide (the hashing-trick regime under test).
  private val ClfBuckets = 256

  // DSIR gate geometry: 64 hashed unigram+bigram feature buckets, top-50
  // selection — both interpolated into the oracle.
  private val DsirBuckets = 64
  private val DsirTopN = 50
  private val GumbelSeed = 17L
  private val GumbelTau = 250000L

  // Winnowing gate geometry (Schleimer et al. 2003): 3-token shingles,
  // 4-hash windows — guarantee threshold = k + w - 1 = 6 shared tokens.
  private val WinnowK = 3
  private val WinnowW = 4

  // Integer-exact PageRank gate geometry (ops/Centrality.scala): ranks in
  // micro-units, 85/100 damping, 5 iterations — all interpolated into the
  // oracle so the two engines can never drift.
  private val PrIters = 5
  private val PrUnit = 1000000L
  private val PrDampNum = 85L
  private val PrDampDen = 100L
  private val PrBase = PrUnit * (PrDampDen - PrDampNum) / PrDampDen

  /** The PageRank iterations as a DuckDB CTE chain over a `pairs` CTE
    * (unique a<b rows): undirected edges + degrees once, then one
    * integer-exact aggregate per round. `AS MATERIALIZED` on edges/deg
    * (each referenced every round) and on each r_k (referenced by r_{k+1}
    * and possibly the final select).
    */
  private def pageRankCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""edges AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM pairs
         |  UNION
         |  SELECT b AS src, a AS dst FROM pairs),
         |deg AS MATERIALIZED (
         |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
         |r0 AS (SELECT src AS id, CAST($PrUnit AS BIGINT) AS pr FROM deg),
         |""".stripMargin)
    (1 to rounds).foreach { k =>
      sb.append(
        s"""r$k AS MATERIALIZED (
           |  SELECT e.dst AS id,
           |         CAST($PrBase + (CAST(sum(r.pr // d.deg) AS BIGINT) * $PrDampNum) // $PrDampDen AS BIGINT) AS pr
           |  FROM edges e JOIN deg d ON d.src = e.src JOIN r${k - 1} r ON r.id = e.src
           |  GROUP BY e.dst)""".stripMargin)
      sb.append(if (k < rounds) ",\n" else "")
    }
    sb.toString
  }

  /** The BPE training rounds as a DuckDB materialized-CTE chain
    * `w0, rng, p1, b1, w1, …, p_R, b_R, w_R` over the distinct-word
    * table — w_k = reps after merge k, b_k = the round-k argmax merge.
    * `AS MATERIALIZED` is load-bearing: w_{k-1} is referenced by both
    * p_k and w_k, and DuckDB would otherwise re-inline the whole replace
    * chain exponentially (the graph-ANN oracle lesson). Word charset is
    * pinned to lowercase alnum ([[graft.ops.Subword.BpeWordPattern]]) so
    * pieces can never contain the `|` wrapper.
    */
  private def bpeTrainCtes: String = {
    val sb = new StringBuilder
    sb.append(
      """w0 AS MATERIALIZED (
        |  SELECT word, CAST(count(*) AS BIGINT) AS c,
        |         regexp_replace(word, '(.)', '|\1|', 'g') AS rep
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE regexp_matches(word, '^[a-z0-9]+$')
        |  GROUP BY word),
        |rng AS MATERIALIZED (
        |  SELECT unnest(range(1, (SELECT max(length(word)) FROM w0) + 1)) AS s),
        |""".stripMargin)
    (1 to BpeRounds).foreach { k =>
      sb.append(
        s"""p$k AS (
           |  SELECT w.arr[s.s] AS lhs, w.arr[s.s + 1] AS rhs,
           |         CAST(sum(w.c) AS BIGINT) AS cnt
           |  FROM (SELECT string_split(trim(rep, '|'), '||') AS arr, c FROM w${k - 1}) w
           |  JOIN rng s ON s.s <= len(w.arr) - 1
           |  GROUP BY 1, 2),
           |b$k AS MATERIALIZED (
           |  SELECT lhs, rhs, cnt FROM p$k
           |  ORDER BY cnt DESC, lhs ASC, rhs ASC LIMIT 1),
           |w$k AS MATERIALIZED (
           |  SELECT word, c,
           |         replace(rep,
           |           '|' || (SELECT lhs FROM b$k) || '||' || (SELECT rhs FROM b$k) || '|',
           |           '|' || (SELECT lhs FROM b$k) || (SELECT rhs FROM b$k) || '|') AS rep
           |  FROM w${k - 1})""".stripMargin)
      sb.append(if (k < BpeRounds) ",\n" else "")
    }
    sb.toString
  }

  /** Single line, no quotes (interpolated into oracle SQL literals). */
  private val BoilerplateSalt = " graft corp all rights reserved footer text"

  // curation_funnel thresholds — shared constants interpolated into the
  // oracle SQL so the two engines can never drift. DupTau is looser than
  // the Gopher 0.3 (the synthetic corpus has a naturally small vocabulary:
  // 0.3 flags 85% of docs, which would gut every downstream stage).
  private val FunnelMinChars = 100
  private val FunnelMinQuality = 0.75
  private val FunnelDupTau10 = 7

  /** Japanese fixture sentences for `ja_token_stats` (no quote characters
    * — they interpolate into SQL literals). Assigned per doc by
    * `doc_id % length`.
    */
  private val JaSentences: Seq[String] = Seq(
    "私は猫が好きです。",
    "今日は学校に行きました。",
    "明日東京で友達と音楽を聞きます。",
    "犬が水を飲みます。",
    "先生は本を読みます。",
    "コーヒーとケーキは新しい店で楽しいです。")

  /** Deterministic PII injection shared by the `pii_redact` query and its
    * oracle (the synthetic corpus is PII-free, so the fixture is salted
    * in-query; counts vary with doc_id so the columns aren't constant).
    */
  private def piiSalted(text: org.apache.spark.sql.Column, docId: org.apache.spark.sql.Column) =
    concat(text,
      lit(" contact user"), docId.cast("string"), lit("@example.com"),
      repeat(lit(" node 10.2.33.4"), (docId % 3).cast("int")),
      when(docId % 5 === 0, lit(" id 123-45-6789")).otherwise(lit("")))

  // Single line on purpose: this fragment is interpolated into oracle SQL
  // templates that call .stripMargin AFTERWARD, and a stripMargin over a
  // continuation line starting with `||` eats one `|` (the r5 pii_redact bug).
  // Rule: never hand a multi-line string to a template that stripMargins later.
  private val piiSaltedSql =
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'" +
      " || repeat(' node 10.2.33.4', CAST(doc_id % 3 AS INTEGER))" +
      " || CASE WHEN doc_id % 5 = 0 THEN ' id 123-45-6789' ELSE '' END"

  /** Deterministic encoding-damage injection shared by the
    * `encoding_quality` query and its oracle (the synthetic corpus is
    * clean UTF-8, so U+FFFD replacement chars, C0 controls and DEL are
    * salted in-query; counts vary with doc_id so no column is constant).
    */
  private def encSalted(text: org.apache.spark.sql.Column,
      docId: org.apache.spark.sql.Column) =
    concat(text,
      when(docId % 3 === 0, lit(" b�d")).otherwise(lit("")),
      repeat(lit("\u0001"), (docId % 4).cast("int")),
      when(docId % 7 === 0, lit(" \u007f")).otherwise(lit("")))

  // single-line (stripMargin rule above); control chars via chr() so no
  // raw control byte rides inside the SQL text
  private val encSaltedSql =
    "text || CASE WHEN doc_id % 3 = 0 THEN ' b' || chr(65533) || 'd' ELSE '' END" +
      " || repeat(chr(1), CAST(doc_id % 4 AS INTEGER))" +
      " || CASE WHEN doc_id % 7 = 0 THEN ' ' || chr(127) ELSE '' END"

  /** The redaction chain as DuckDB SQL, generated from [[Redact.PiiPatterns]]
    * so query and oracle can never drift (cf. the sim_join_lsh shared-constant
    * rule).
    */
  private def redactSql(inner: String): String =
    Redact.PiiPatterns.foldLeft(inner) { case (sql, (_, pat, tok)) =>
      s"regexp_replace($sql, '$pat', '$tok', 'g')"
    }

  /** One materialized ANN index per source dir (build-once / probe-many). */
  private val annSpool = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Incrementally-grown index (materialize half + append half) per dir. */
  private val annIncSpool = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** At-rest IVF-PQ index (codebooks + bucket-partitioned codes) per dir. */
  private val ivfpqSpool = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Graph-ANN edge table (GraphAnn.materialize) per dir. */
  private val graphSpool = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** TRAINED (codebooks, codes) at-rest PQ artifact per dir — Lloyd rounds
    * run once at build, probes replay against the stored artifact.
    */
  private val pqTrainedSpool = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** incremental_postings_dedup's bucketed postings table, built ONCE per
    * source dir (catalog table — bucket metadata needs `saveAsTable`).
    */
  private val postingsSpool = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** incremental_winnow_pairs' at-rest bucketed fingerprint table per dir. */
  private val winnowSpool = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Tiered (superStride) graph-ANN edge table per dir. */
  private val graphTierSpool = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Incrementally-grown graph edge table (materialize even half + append
    * the odd batch) per dir. */
  private val graphIncSpool = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Tiered twin of [[graphIncSpool]] (superStride=128 build + append). */
  private val graphTierIncSpool = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Full build + batch delete of the vec_id % 4 == 3 rows, per dir. */
  private val graphDelSpool = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** IVF twin of [[graphDelSpool]]. */
  private val annDelSpool = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** PQ twin of [[graphDelSpool]] (flat code-table layout). */
  private val pqDelSpool = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Half build + one STREAMED ingest epoch + one STREAMED takedown epoch
    * (CorpusIngest.annIngest / annDeletes), per dir.
    */
  private val annStreamDelSpool = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** BPE merges learned ONCE per source dir (train-once/encode-many — the
    * tokenizer lifecycle; the TRAINING cost itself stays benched in
    * `bpe_merges`, which always retrains).
    */
  private val bpeMergeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[graft.ops.Subword.BpeMerge]]()
  private def bpeMergesFor(s: SparkSession, dir: String): Seq[graft.ops.Subword.BpeMerge] =
    spooled(bpeMergeCache, dir)(d => graft.ops.Subword.bpeTrain(docs(s, d), "text", BpeRounds))

  /** Embedding dim probed from data ONCE per source dir: every LSH query
    * needs it, and an unmemoized `head()` is a whole extra Spark job per
    * query run. The probe still validates the [[EmbeddingDim]] constant the
    * oracles bake into their literal hyperplanes.
    */
  private val dimCache = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private def embeddingDim(s: SparkSession, dir: String): Int =
    spooled(dimCache, dir)(d => {
      val dim = t(s, d, "embeddings").select(col("embedding"))
        .head().getSeq[Float](0).length
      require(dim == EmbeddingDim,
        s"embeddings at $d have dim $dim, oracles assume $EmbeddingDim")
      dim
    }).intValue

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S7 cache-or-fetch (CorpusIO.cacheOrFetch — the reference's
    // write-through corpus cache, notion_db.py:175-211) under the hash
    // gate: the first call MISSES (fetch runs, result persists as the CSV
    // cache), the second call HITS with a poisoned fetch that would throw
    // if invoked — so the gated rows prove both the write-through AND that
    // a hit never refetches. The cache path is keyed on (dir, snapshot
    // signature): regenerating the fixture in place is a miss, not a stale
    // serve. The md5-prefix fingerprint sums prove the CSV roundtrip was
    // byte-exact on every row, not just row-count-preserving.
    "cache_or_fetch" -> { (s, dir) =>
      val cache = spooled(cacheSpool, dir)(_ =>
        graft.util.TempDirs.create("graft_corpus_cache") + "/corpus")
      val fetchable = t(s, dir, "documents")
        .select(concat(lit("doc-"), col("doc_id")).as("title"),
          col("text").as("content"))
      graft.sources.CorpusIO.cacheOrFetch(s, cache)(fetchable) // miss path
      val cached = graft.sources.CorpusIO.cacheOrFetch(s, cache)(
        sys.error("S7 contract violated: fetch ran on a cache hit"))
      cached.agg(count(lit(1)).as("n"),
        sum(conv(substring(md5(col("title")), 1, 8), 16, 10).cast("long"))
          .as("title_fp_sum"),
        sum(conv(substring(md5(col("content")), 1, 8), 16, 10).cast("long"))
          .as("content_fp_sum"))
    },

    // exact n-gram Jaccard similarity join — inverted index, no cartesian
    "ngram_jaccard_join" -> { (s, dir) =>
      Dedup.jaccardJoin(docsWithShingles(s, dir), "doc_id", "sh", JaccardTau)
        .transform(sortedSingle(_, col("a"), col("b")))
    },

    // MinHash signatures -> banded LSH buckets -> candidates -> exact verify
    "minhash_lsh_pairs" -> { (s, dir) =>
      // persist: the shingle arrays feed the signature pipeline AND both
      // verification sides
      val sh = docsWithShingles(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // persist: both band self-join sides read the signatures
      val sigs = Dedup.minhashSignatures(sh, "doc_id", "sh", 16)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cands = Dedup.lshCandidatePairs(Dedup.lshBands(sigs, "doc_id", 16, 4), "doc_id")
      Dedup.verifyJaccard(cands, sh, "doc_id", "sh", JaccardTau)
        .transform(sortedSingle(_, col("a"), col("b")))
    },

    // near-dedup survivors: drop larger id of each verified near-dup pair
    "near_dedup_survivors" -> { (s, dir) =>
      val sh = docsWithShingles(s, dir)
      val pairs = Dedup.jaccardJoin(sh, "doc_id", "sh", JaccardTau)
      Dedup.survivors(t(s, dir, "documents").select("doc_id"), "doc_id", pairs)
        .transform(sortedSingle(_, col("doc_id")))
    },

    // transitive duplicate clusters: connected components over the verified
    // near-dup pair graph (min-label propagation; oracle = DuckDB recursive
    // CTE reachability). The chain case a-b-c gets ONE canonical id even
    // though a and c were never compared.
    "dedup_components" -> { (s, dir) =>
      val pairs = Dedup.jaccardJoin(docsWithShingles(s, dir), "doc_id", "sh", JaccardTau)
        .select("a", "b")
      Dedup.components(pairs, "doc_id")
        .transform(sortedSingle(_, col("doc_id")))
    },

    // cluster MAINTENANCE: merge a crawl batch's near-dup pairs into
    // at-rest component labels (Dedup.incrementalComponents) — the corpus
    // graph is never recomputed; old clusters enter through one anchor
    // edge per touched member and the micro fixpoint is batch-sized. The
    // batch (doc_id%4==3) pairs with itself and cross-joins the corpus, so
    // old ∪ new pairs == the full jaccard pair set — the oracle is the
    // SAME full recursive-CTE replay as dedup_components, proving the
    // incremental merge equals the from-scratch clustering row for row.
    "incremental_components" -> { (s, dir) =>
      val sh = docsWithShingles(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val corpus = sh.where(pmod(col("doc_id"), lit(4)) =!= 3)
      val batch = sh.where(pmod(col("doc_id"), lit(4)) === 3)
      val oldPairs = Dedup.jaccardJoin(corpus, "doc_id", "sh", JaccardTau)
        .select("a", "b")
      val atRest = Dedup.components(oldPairs, "doc_id")
      val newPairs = Dedup.jaccardJoin(batch, "doc_id", "sh", JaccardTau)
        .select("a", "b")
        .unionAll(Dedup.jaccardJoinAgainst(batch, corpus, "doc_id", "sh",
          JaccardTau).select("a", "b"))
      // no unpersist here: the returned frame is lazy (the harness clears
      // the cache between queries — the incremental_dedup precedent)
      Dedup.incrementalComponents(atRest, "doc_id", newPairs)
        .transform(sortedSingle(_, col("doc_id")))
    },

    // cluster-size distribution — the dedup QA view ("how big are my
    // near-dup families?"): components -> per-cluster count -> size
    // histogram. Two tiny aggregates after the (already-gated) clustering;
    // at scale both group on compact longs.
    "dedup_cluster_sizes" -> { (s, dir) =>
      val pairs = Dedup.jaccardJoin(docsWithShingles(s, dir), "doc_id", "sh", JaccardTau)
        .select("a", "b")
      Dedup.components(pairs, "doc_id")
        .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
        .transform(sortedSingle(_, col("cluster_size")))
    },

    // INTEGER-EXACT PageRank over the near-dup pair graph
    // (ops/Centrality.pageRankInt): fixed-point micro-unit ranks, integer
    // per-edge contributions and damping — shuffle-order-independent, so
    // all 5 iterations replay bit-exact in the oracle. One shuffle per
    // iteration; rank state is |V| longs.
    "pagerank_centrality" -> { (s, dir) =>
      // pin the pair derivation like centralRepresentatives does its own:
      // pageRankInt's edge union + degree branches otherwise re-run the
      // whole shingle-join pipeline per scan — invisible at sf0.1 (the
      // pipeline is ~0.15 s) but 214 s vs ~35 s at the 100×-sf0.1 rung,
      // where each jaccard replay is ~16 s (SCALING.md r17)
      val pairs = Dedup.jaccardJoin(docsWithShingles(s, dir), "doc_id", "sh", JaccardTau)
        .select("a", "b")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = graft.ops.Centrality.pageRankInt(pairs, "a", "b", PrIters,
          PrUnit, PrDampNum, PrDampDen)
        .withColumnRenamed("id", "doc_id")
        .transform(sortedSingle(_, col("doc_id")))
      // the returned plan is lazy — retire into the bounded LRU instead of
      // unpersisting under it (the Centrality entry points' own pattern)
      graft.ops.FixpointPin.retire(pairs)
      out
    },

    // canonical-representative selection: per dedup cluster, keep the most
    // CENTRAL doc (pr desc, id asc) instead of the arbitrary min-id — the
    // curation policy PageRank exists for here. Composes the two gated
    // pieces (components + pageRankInt) plus a per-cluster argmax window.
    "central_rep_docs" -> { (s, dir) =>
      val pairs = Dedup.jaccardJoin(docsWithShingles(s, dir), "doc_id", "sh", JaccardTau)
        .select("a", "b")
      graft.ops.Centrality.centralRepresentatives(pairs, "a", "b", PrIters,
          PrUnit, PrDampNum, PrDampDen)
        .transform(sortedSingle(_, col("component")))
    },

    // centrality-policy dedup end product: keep every singleton (anti-join,
    // the complement never materializes) plus the most CENTRAL doc of each
    // near-dup cluster — Dedup.survivors with "keep the canonical copy"
    // instead of "keep the min id".
    "central_dedup_survivors" -> { (s, dir) =>
      val pairs = Dedup.jaccardJoin(docsWithShingles(s, dir), "doc_id", "sh", JaccardTau)
        .select("a", "b")
      graft.ops.Centrality.survivorsByCentrality(
          t(s, dir, "documents").select("doc_id"), "doc_id", pairs, "a", "b",
          PrIters, PrUnit, PrDampNum, PrDampDen)
        .transform(sortedSingle(_, col("doc_id")))
    },

    // incremental dedup: new batch (odd doc ids) deduped AGAINST the
    // existing corpus (even ids) — cross-side inverted-index Jaccard join,
    // never a corpus self-join. The shape of "dedup today's crawl against
    // the 100 TB already ingested".
    "incremental_dedup" -> { (s, dir) =>
      // persist: the shingle pipeline (split + n-grams over every doc)
      // feeds BOTH join sides; unpersisted it recomputes per side
      val sh = docsWithShingles(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val batch = sh.where(pmod(col("doc_id"), lit(2)) === 1)
      val corpus = sh.where(pmod(col("doc_id"), lit(2)) === 0)
      val pairs = Dedup.jaccardJoinAgainst(batch, corpus, "doc_id", "sh", JaccardTau)
      Dedup.incrementalSurvivors(
          t(s, dir, "documents").select("doc_id")
            .where(pmod(col("doc_id"), lit(2)) === 1), "doc_id", pairs)
        .transform(sortedSingle(_, col("doc_id")))
    },

    // the SAME incremental dedup through the AT-REST postings artifact
    // (Dedup.materializePostings: corpus shingles exploded, bucketed and
    // sorted by shingle ONCE at ingest) — per batch only the batch side
    // shuffles; the corpus postings join from their buckets in place.
    // Same oracle as incremental_dedup: the at-rest layout must not
    // change a single row.
    "incremental_postings_dedup" -> { (s, dir) =>
      val table = spooled(postingsSpool, dir)(d => {
        val nm = s"graft_postings_${java.lang.Long.toHexString(d.hashCode.toLong & 0xffffffffL)}"
        Dedup.materializePostings(
          docsWithShingles(s, d).where(pmod(col("doc_id"), lit(2)) === 0),
          "doc_id", "sh", nm, buckets = 8)
        nm
      })
      val batch = docsWithShingles(s, dir)
        .where(pmod(col("doc_id"), lit(2)) === 1)
      val pairs = Dedup.jaccardJoinAgainstPostings(
        batch, Dedup.openPostings(s, table), "doc_id", "sh", JaccardTau)
      Dedup.incrementalSurvivors(
          t(s, dir, "documents").select("doc_id")
            .where(pmod(col("doc_id"), lit(2)) === 1), "doc_id", pairs)
        .transform(sortedSingle(_, col("doc_id")))
    },

    // Bloom membership CONTRACT gate (Dedup.corpusBloom + the codegen'd
    // bloom_might_contain probe): filter over the even-id corpus text
    // fingerprints, probed by ALL docs. Emits the exact batch/seen counts
    // plus the two contract facts as stable values — false_negatives MUST
    // be 0 (Bloom guarantee; a broken probe path flips it and fails the
    // hash) and the false-positive count on truly-unseen keys must sit
    // under 3x the configured fpp. Deterministic end to end: the filter's
    // bits are order-independent ORs with fixed seeds.
    "bloom_prefilter_gate" -> { (s, dir) =>
      val fp = t(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("fp"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val corpus = fp.where(pmod(col("doc_id"), lit(2)) === 0)
      val filter = Dedup.corpusBloom(corpus, "fp",
        expectedItems = math.max(corpus.count(), 1L), fpp = 0.03)
      val probed = fp
        .withColumn("__maybe", graft.functions.bloom_might_contain(col("fp"), filter))
        .join(corpus.select(col("fp")).distinct().withColumn("__seen", lit(true)),
          Seq("fp"), "left")
        .withColumn("__seen", coalesce(col("__seen"), lit(false)))
      probed.agg(
          count(lit(1)).as("n_batch"),
          sum(when(col("__seen"), 1L).otherwise(0L)).as("n_seen"),
          sum(when(col("__seen") && !col("__maybe"), 1L).otherwise(0L))
            .as("false_negatives"),
          sum(when(!col("__seen") && col("__maybe"), 1L).otherwise(0L)).as("__fp"),
          sum(when(!col("__seen"), 1L).otherwise(0L)).as("__unseen"))
        .select(col("n_batch"), col("n_seen"), col("false_negatives"),
          (col("__fp") <= greatest(ceil(col("__unseen") * 3 * 0.03), lit(5L)))
            .as("fp_ok"))
    },

    // the Bloom tier END TO END: incremental exact dedup where the filter
    // fast-paths guaranteed-unseen batch rows around the corpus anti-join
    // (Dedup.bloomIncrementalSurvivors). The oracle is the PLAIN set
    // difference — the hash matches iff the fast path changed nothing,
    // which is the tier's whole contract.
    "bloom_dedup_survivors" -> { (s, dir) =>
      val fp = t(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("fp"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val corpus = fp.where(pmod(col("doc_id"), lit(2)) === 0)
      val batch = fp.where(pmod(col("doc_id"), lit(2)) === 1)
      val filter = Dedup.corpusBloom(corpus, "fp",
        expectedItems = math.max(corpus.count(), 1L), fpp = 0.03)
      Dedup.bloomIncrementalSurvivors(batch, corpus, "fp", filter)
        .select("doc_id")
        .transform(sortedSingle(_, col("doc_id")))
    },

    // boilerplate resistance (Dedup.dropHotShingles): every doc gets the
    // same salted footer (the corpus is boilerplate-free, so the fixture is
    // in-query — cf. pii_redact), whose shingles then appear in 100% of
    // docs and are dropped by the document-frequency pass before the
    // Jaccard join. At 100 TB this is what keeps one shared header from
    // putting 10^8 postings in one inverted-index bucket.
    "boilerplate_filtered_pairs" -> { (s, dir) =>
      val salted = docs(s, dir).select(col("doc_id"),
        TextOps.wordNGrams(
          concat(col("text"), lit(BoilerplateSalt)), 3).as("sh"))
      val filtered = Dedup.dropHotShingles(salted, "doc_id", "sh", maxDocFrac = 0.25)
      Dedup.jaccardJoin(filtered, "doc_id", "sh", JaccardTau)
        .transform(sortedSingle(_, col("a"), col("b")))
    },

    // the LSH tier of incremental dedup (Dedup.lshCandidatePairsAgainst):
    // the new batch signs itself and equi-joins the corpus's PRE-SIGNED
    // band table — at 100 TB the corpus signs once at ingest and its text
    // is never re-read; per-batch work scales with the batch. Candidates
    // verified with the exact Jaccard; oracle replays the full minhash
    // pipeline with the batch-vs-corpus candidate predicate.
    "incremental_lsh_pairs" -> { (s, dir) =>
      val sh = docsWithShingles(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // signatures are per-doc, so sign the whole frame ONCE and split the
      // BAND table by parity — in production the corpus half is exactly the
      // stored band table from ingest, never recomputed (running the
      // signature pipeline twice, once per side, measured 1.8 s vs 0.9 s)
      val bands = Dedup.lshBands(
          Dedup.minhashSignatures(sh, "doc_id", "sh"), "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val batchBands = bands.where(pmod(col("doc_id"), lit(2)) === 1)
      val corpusBands = bands.where(pmod(col("doc_id"), lit(2)) === 0)
      val cands = Dedup.lshCandidatePairsAgainst(batchBands, corpusBands, "doc_id")
      Dedup.verifyJaccard(cands, sh, "doc_id", "sh", JaccardTau)
        .transform(sortedSingle(_, col("a"), col("b")))
    },

    // SimHash banded near-dup pairs (custom Catalyst expression)
    "simhash_pairs" -> { (s, dir) =>
      Dedup.simhashPairs(docs(s, dir), "doc_id",
          split(col("text"), " "), 3)
        .select(col("a"), col("b"), col("hamming").cast("long").as("hamming"))
        .transform(sortedSingle(_, col("a"), col("b")))
    },

    // embedding cosine near-dup join (exact, broadcast)
    "sim_join_cosine" -> { (s, dir) =>
      SimilarityJoin.cosineJoinBroadcast(
          t(s, dir, "embeddings"), "vec_id", "embedding", CosineTau)
        .transform(sortedSingle(_, col("a"), col("b")))
    },

    // embedding cosine join, LSH-bucketed (scale path). Fully oracle-exact:
    // the hyperplanes are a deterministic splitmix64 stream, materialized as
    // literal DOUBLE[64] arrays in the DuckDB oracle, and both engines
    // accumulate the sign dot products left-to-right in double — the whole
    // sign-bit banding pipeline replays bit-identically in SQL.
    "sim_join_lsh" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      SimilarityJoin.cosineJoinLsh(emb, "vec_id", "embedding", CosineTau,
          embeddingDim(s, dir))
        .transform(sortedSingle(_, col("a"), col("b")))
    },

    // transitive EMBEDDING-space duplicate clusters: sign-LSH cosine pairs
    // -> Kiveris large-star/small-star contraction (Dedup.componentsStar,
    // O(log n) rounds — the 100 TB-posture components variant). r18: the
    // pipeline runs through Dedup.embedComponents, which contracts
    // bit-identical vectors to one representative FIRST — the raw pair set
    // grows quadratically in exact-duplicate multiplicity (the r17 100×
    // rung's one scale-killer: every vector had 99 exact copies, 286 s) —
    // with a labeling proven identical to the uncontracted pipeline.
    // Component = min vec_id of the cluster; oracle = the same contraction
    // + recursive-CTE reachability over representative-level LSH pairs.
    "embed_dedup_components" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Dedup.embedComponents(emb, "vec_id", "embedding", CosineTau,
          embeddingDim(s, dir))
        .transform(sortedSingle(_, col("vec_id")))
    },

    // SemDeDup semantic dedup (Abbas et al. 2023): k-means clusters ->
    // within-cluster centroid-distance ordering -> screen each member
    // against all earlier-ordered members at cosine eps. The whole
    // pipeline (stride-init Lloyd rounds, argmin assignment, ordering,
    // screen) is deterministic, so DuckDB replays it exactly — "semantic
    // dedup" is hash-gated, not a spec claim. Pairwise work stays WITHIN
    // clusters (equi-join on centroid), the 100 TB-safe shape.
    "semantic_dedup" -> { (s, dir) =>
      Dedup.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
          stride = 64, iters = 2, eps = CosineTau)
        .transform(sortedSingle(_, col("vec_id")))
    },

    // the size-ROUTED production entrypoint (SimilarityJoin.cosineJoin):
    // maxExactRows is forced below the corpus size so the router must take
    // the banded LSH tier — this puts the routed branch itself (the call
    // every production consumer makes) in the correctness gate, not just
    // the tiers it dispatches to. Oracle = the sign-LSH replication, which
    // only hash-matches if the router actually picked the LSH tier.
    "sim_join_routed" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      SimilarityJoin.cosineJoin(emb, "vec_id", "embedding", CosineTau,
          embeddingDim(s, dir), maxExactRows = 10)
        .transform(sortedSingle(_, col("a"), col("b")))
    },

    // IVF-probe ANN top-k. Fully oracle-checked: centroid choice (every
    // stride-th id), the argmin assignment, the nprobe centroid ranking and
    // the final top-k are all deterministic, so DuckDB replicates the exact
    // pipeline (same distance expression, same (d, cid) tie-break).
    // The index materializes ONCE per source dir as centroid-partitioned
    // parquet (build-once / probe-many — the shape IVF exists for); each
    // probe scans only the nprobe bucket directories via partition pruning.
    "ann_ivf_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val path = spooled(annSpool, dir)(d => {
        val p = graft.util.TempDirs.create("graft_ann_spool")
        AnnIndex.materialize(t(s, d, "embeddings"), "vec_id", "embedding", 64, p)
        p
      })
      val qvec = emb.where(col("vec_id") === 1).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toArray
      AnnIndex.fromMaterialized(emb, "vec_id", "embedding", 64, path)
        .probeTopK(qvec, 10, nprobe = 4)
    },

    // INCREMENTAL index growth (AnnIndex.appendToMaterialized): materialize
    // the even-id half, append the odd-id batch against the SAME centroids
    // (bucket geometry untouched, existing files never rewritten — the
    // daily-ingest path at 100 TB), probe sees old + new. Assignment is
    // identical to materializing the full corpus, so the oracle is shared
    // with ann_ivf_topk.
    "ann_incremental_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val path = spooled(annIncSpool, dir)(d => {
        val p = graft.util.TempDirs.create("graft_ann_inc_spool")
        val all = t(s, d, "embeddings")
        AnnIndex.materialize(
          all.where(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding", 64, p)
        AnnIndex.appendToMaterialized(
          all.where(pmod(col("vec_id"), lit(2)) === 1), "vec_id", "embedding", 64, p)
        p
      })
      val qvec = emb.where(col("vec_id") === 1).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toArray
      AnnIndex.fromMaterialized(emb, "vec_id", "embedding", 64, path)
        .probeTopK(qvec, 10, nprobe = 4)
    },

    // IVF batch DELETE (AnnIndex.deleteFromMaterialized — the removal half
    // of the maintenance trio): materialize full, delete the vec_id % 4 ==
    // 3 rows (never centroid-level), probe over the survivors. Touched
    // bucket partitions are rewritten without the deleted ids — trivially
    // row-identical to a reduced-corpus materialize — and the oracle
    // replays the build+probe over `embeddings WHERE vec_id % 4 <> 3`.
    "ann_ivf_delete_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val path = spooled(annDelSpool, dir)(d => {
        val p = graft.util.TempDirs.create("graft_ann_del_spool")
        val all = t(s, d, "embeddings")
        AnnIndex.materialize(all, "vec_id", "embedding", 64, p)
        AnnIndex.deleteFromMaterialized(
          all.where(pmod(col("vec_id"), lit(4)) === 3), "vec_id", "embedding", 64, p)
        p
      })
      val reduced = emb.where(pmod(col("vec_id"), lit(4)) =!= 3)
      val qvec = emb.where(col("vec_id") === 1).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toArray
      AnnIndex.fromMaterialized(reduced, "vec_id", "embedding", 64, path)
        .probeTopK(qvec, 10, nprobe = 4)
    },

    // STREAMED ANN TAKEDOWN (CorpusIngest.annDeletes — the delete twin of
    // the streaming ingest loop, closing the maintenance symmetry: batch
    // deletes existed on all three index tiers, streamed deletes could
    // reach only the cluster labels). The IVF index is built over the even
    // half; one real MemoryStream ingest epoch appends the odd half
    // (annIngest), then one takedown epoch streams the vec_id % 4 == 3
    // rows out (annDeletes — ids AND vectors, assignment REPLAYED from the
    // frozen stride centroids, epoch-guarded so a replay is a no-op). The
    // final artifact is row-identical to a reduced-corpus rebuild, so the
    // oracle replays build+probe over embeddings WHERE vec_id % 4 <> 3 —
    // the same replay the batch delete gate carries.
    "streamed_ann_delete_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val path = spooled(annStreamDelSpool, dir)(d => {
        import s.implicits._
        val p = graft.util.TempDirs.create("graft_ann_sdel_spool")
        val all = t(s, d, "embeddings")
        AnnIndex.materialize(
          all.where(pmod(col("vec_id"), lit(2)) === 0),
          "vec_id", "embedding", 64, p)
        def epoch(rows: DataFrame)(
            start: DataFrame => org.apache.spark.sql.streaming.StreamingQuery)
            : Unit = {
          val data = rows.select(col("vec_id"), col("embedding"))
            .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
          val stream = org.apache.spark.sql.execution.streaming.runtime
            .MemoryStream[(Long, Seq[Float])](s)
          val q = start(stream.toDF().toDF("vec_id", "embedding")
            .select(col("vec_id"),
              col("embedding").cast("array<float>").as("embedding")))
          try { stream.addData(data); q.processAllAvailable() }
          finally q.stop()
        }
        epoch(all.where(pmod(col("vec_id"), lit(2)) === 1))(sdf =>
          graft.streaming.CorpusIngest.annIngest(
            sdf, "vec_id", "embedding", 64, p)())
        epoch(all.where(pmod(col("vec_id"), lit(4)) === 3))(sdf =>
          graft.streaming.CorpusIngest.annDeletes(
            sdf, "vec_id", "embedding", 64, p)())
        p
      })
      val reduced = emb.where(pmod(col("vec_id"), lit(4)) =!= 3)
      val qvec = emb.where(col("vec_id") === 1).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toArray
      AnnIndex.fromMaterialized(reduced, "vec_id", "embedding", 64, path)
        .probeTopK(qvec, 10, nprobe = 4)
    },

    // IVF over Lloyd-refined centroids (AnnIndex.buildKMeans): stride-sample
    // init + 2 deterministic k-means rounds (means rounded to a 1e-6 grid so
    // cross-engine accumulation drift can't flip an argmin) — the oracle
    // replays the identical iteration in SQL. Closes SCALING.md's "swap in
    // k-means later" with the probe path untouched.
    "ann_kmeans_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val qvec = emb.where(col("vec_id") === 1).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toArray
      AnnIndex.buildKMeans(emb, "vec_id", "embedding", stride = 64, iters = 2)
        .probeTopK(qvec, 10, nprobe = 4)
    },

    // PQ-ADC two-stage ANN (ops/ProductQuantizer) — the memory tier of
    // IVF-PQ, covering the reference's voyager/HNSW latent surface
    // (requirements.txt:31-33): vectors compress to 8 one-byte codes, the
    // candidate scan reads ONLY codes + a broadcast 8xK integer distance
    // table, and full-precision vectors are read for the 100-row rerank
    // alone. Every stage is deterministic (stride codebooks, lowest-id tie
    // break, floor(d^2*1e6) integer ADC — order-free), so DuckDB replays
    // codebooks, assignment, ADC and rerank exactly.
    "ann_pq_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val qvec = emb.where(col("vec_id") === 1).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toArray
      ProductQuantizer.adcRerankTopK(emb, "vec_id", "embedding", qvec,
        k = 10, ProductQuantizer.PqSpec(m = 8, dsub = 8, stride = 64),
        overfetch = 100)
    },

    // PQ batch DELETE (ProductQuantizer.deleteFromMaterialized, flat
    // layout): materialize the full code table, delete the vec_id % 4 == 3
    // rows — a TOMBSTONE-sidecar append (cost ∝ batch; the code files are
    // NOT rewritten — r15; compactCodes folds the sidecar; the IVF-PQ
    // layout's bucket-pruned path is spec-covered), probe with the stored
    // artifact over the survivors (fromMaterialized anti-joins the
    // sidecar). Codes encode per-row against frozen codebooks, so delete
    // == reduced-corpus re-encode — the oracle replays the whole PQ
    // pipeline over exactly the surviving rows.
    "ann_pq_delete_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val spec = ProductQuantizer.PqSpec(m = 8, dsub = 8, stride = 64)
      val path = spooled(pqDelSpool, dir)(d => {
        val p = graft.util.TempDirs.create("graft_pq_del_spool")
        val all = t(s, d, "embeddings")
        ProductQuantizer.materialize(all, "vec_id", "embedding", spec, p)
        ProductQuantizer.deleteFromMaterialized(
          all.where(pmod(col("vec_id"), lit(4)) === 3), "vec_id", p)
        p
      })
      val reduced = emb.where(pmod(col("vec_id"), lit(4)) =!= 3)
      val qvec = emb.where(col("vec_id") === 1).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toArray
      val (_, precomputed) = ProductQuantizer.fromMaterialized(s, path, Some(spec))
      ProductQuantizer.adcRerankTopK(reduced, "vec_id", "embedding", qvec,
        k = 10, spec, overfetch = 100, precomputed = Some(precomputed))
    },

    // the full IVF-PQ composition under the gate, probe-many shape: the
    // AT-REST layout (ProductQuantizer.materializeIvfPq — full-corpus
    // codebooks, codes partitioned by IVF bucket) is built ONCE per dir
    // beside ann_ivf_topk's materialized index, and the probe
    // partition-prunes the code scan to the nprobe bucket directories,
    // ADCs over those M-byte codes alone, and reranks against the SAME
    // pruned buckets of the float table. Nothing corpus-sized runs at
    // probe time — the benched plan is the production plan.
    "ann_ivfpq_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      // probe the SAME materialized index ann_ivf_topk built (build once,
      // probe many — a fresh AnnIndex.build would re-run the corpus-wide
      // assignment argmin on every probe)
      val path = spooled(annSpool, dir)(d => {
        val p = graft.util.TempDirs.create("graft_ann_spool")
        AnnIndex.materialize(t(s, d, "embeddings"), "vec_id", "embedding", 64, p)
        p
      })
      val spec = ProductQuantizer.PqSpec(m = 8, dsub = 8, stride = 64)
      val pqPath = spooled(ivfpqSpool, dir)(d => {
        val p = graft.util.TempDirs.create("graft_ivfpq_spool")
        ProductQuantizer.materializeIvfPq(t(s, d, "embeddings"),
          "vec_id", "embedding", s.read.parquet(path), spec, p)
        p
      })
      val qvec = emb.where(col("vec_id") === 1).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toArray
      val idx = AnnIndex.fromMaterialized(emb, "vec_id", "embedding", 64, path)
      ProductQuantizer.probeIvfPqTopK(idx, "vec_id", "embedding", pqPath,
        qvec, k = 10, nprobe = 4, overfetch = 50, spark = Some(s))
    },

    // Graph-ANN (ops/GraphAnn — the voyager/HNSW capability family as a
    // deterministic navigable graph): bounded-degree bucket-kNN +
    // centroid-kNN edge table materialized once per dir, probed by
    // fixed-round best-first beam search with a tabu set. Probe cost is
    // O(beam·degree·rounds) scored vectors — independent of corpus size —
    // and the whole build + search replays in SQL, so the graph tier is
    // under the hash gate like every other ANN tier.
    "ann_graph_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val path = spooled(graphSpool, dir)(d => {
        val p = graft.util.TempDirs.create("graft_graph_spool")
        GraphAnn.materialize(t(s, d, "embeddings"), "vec_id", "embedding",
          64, GraphAnn.DefaultDegree, p)
        p
      })
      val qvec = emb.where(col("vec_id") === 1).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toArray
      val edges = GraphAnn.fromMaterialized(s, path, 64, GraphAnn.DefaultDegree)
      // single-query probe: the one driver loop (bounded driver beam
      // state, bucket-pruned store reads per round); GraphAnnSpec checks
      // it row for row against an independent reference beam search
      GraphAnn.pointProbeTopK(emb, "vec_id", "embedding", edges, qvec,
        k = 10, stride = 64)
    },

    // INCREMENTAL graph growth (GraphAnn.appendToMaterialized): materialize
    // the even-id half, insert the odd-id batch against the SAME frozen
    // centroid set (every id divisible by stride 64 is even, so the two
    // centroid sets coincide), probe sees old + new. The insert replaces
    // only the touched bucket partitions (batch×bucket candidate work,
    // dynamic partition overwrite) and is row-identical to rebuilding over
    // the union corpus BY CONSTRUCTION — which is why the oracle is shared
    // with ann_graph_topk: the full-build replay only hash-matches if the
    // spliced artifact equals the rebuilt one.
    "ann_graph_incremental_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val path = spooled(graphIncSpool, dir)(d => {
        val p = graft.util.TempDirs.create("graft_graph_inc_spool")
        val all = t(s, d, "embeddings")
        GraphAnn.materialize(all.where(pmod(col("vec_id"), lit(2)) === 0),
          "vec_id", "embedding", 64, GraphAnn.DefaultDegree, p)
        GraphAnn.appendToMaterialized(
          all.where(pmod(col("vec_id"), lit(2)) === 1),
          "vec_id", "embedding", 64, GraphAnn.DefaultDegree, p)
        p
      })
      val qvec = emb.where(col("vec_id") === 1).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toArray
      val edges = GraphAnn.fromMaterialized(s, path, 64, GraphAnn.DefaultDegree)
      GraphAnn.pointProbeTopK(emb, "vec_id", "embedding", edges, qvec,
        k = 10, stride = 64)
    },

    // Batched graph probe under the hash gate: the point probe's driver
    // loop serves a whole chunk of the query table (one entry job for the
    // chunk, then each round's bucket loads serve every chunk query).
    // The oracle replays the identical unrolled rounds once per query id
    // over the SAME shared build CTEs.
    "ann_graph_batch_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val path = spooled(graphSpool, dir)(d => {
        val p = graft.util.TempDirs.create("graft_graph_spool")
        GraphAnn.materialize(t(s, d, "embeddings"), "vec_id", "embedding",
          64, GraphAnn.DefaultDegree, p)
        p
      })
      val edges = GraphAnn.fromMaterialized(s, path, 64, GraphAnn.DefaultDegree)
      val queries = emb.where(col("vec_id").isin(GraphBatchQids: _*))
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv"))
      GraphAnn.beamSearchTopKBatch(emb, "vec_id", "embedding", edges,
          queries, "query_id", "qv", k = 10, stride = 64)
        .transform(sortedSingle(_, col("query_id"), col("rank")))
    },

    // The TIERED graph build under the hash gate: superStride=128 makes
    // assignment hierarchical (nearest super bucket, then cosine_argmin
    // over only that bucket's centroids — the subquadratic at-scale build)
    // and adds the centroid-within-super + super-exact edge levels. The
    // oracle replays the full hierarchy in SQL, so the production build
    // path is oracle-proven, not just spec-parity-claimed.
    "ann_graph_tiered_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val path = spooled(graphTierSpool, dir)(d => {
        val p = graft.util.TempDirs.create("graft_graph_tier_spool")
        GraphAnn.materialize(t(s, d, "embeddings"), "vec_id", "embedding",
          64, GraphAnn.DefaultDegree, p, superStride = 128)
        p
      })
      val qvec = emb.where(col("vec_id") === 1).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toArray
      val edges = GraphAnn.fromMaterialized(s, path, 64,
        GraphAnn.DefaultDegree, superStride = 128)
      GraphAnn.pointProbeTopK(emb, "vec_id", "embedding", edges, qvec,
        k = 10, stride = 64)
    },

    // Batch DELETE (GraphAnn.deleteFromMaterialized — the other half of
    // index maintenance): materialize the FULL corpus, delete the
    // vec_id % 4 == 3 rows (never centroid-level: those are % 64 == 0),
    // probe over the survivors. Touched buckets' member edges are
    // recomputed from scratch over the surviving members — deletion can
    // PROMOTE edges the stored top-degree ranked out — so the artifact is
    // row-identical to a reduced-corpus rebuild BY CONSTRUCTION, and the
    // oracle replays exactly that: the full build chain over
    // `embeddings WHERE vec_id % 4 <> 3`.
    "ann_graph_delete_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val path = spooled(graphDelSpool, dir)(d => {
        val p = graft.util.TempDirs.create("graft_graph_del_spool")
        val all = t(s, d, "embeddings")
        GraphAnn.materialize(all, "vec_id", "embedding",
          64, GraphAnn.DefaultDegree, p)
        GraphAnn.deleteFromMaterialized(
          all.where(pmod(col("vec_id"), lit(4)) === 3),
          "vec_id", "embedding", 64, GraphAnn.DefaultDegree, p)
        p
      })
      val reduced = emb.where(pmod(col("vec_id"), lit(4)) =!= 3)
      val qvec = emb.where(col("vec_id") === 1).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toArray
      val edges = GraphAnn.fromMaterialized(s, path, 64, GraphAnn.DefaultDegree)
      GraphAnn.pointProbeTopK(reduced, "vec_id", "embedding", edges, qvec,
        k = 10, stride = 64)
    },

    // TIERED incremental growth: the member level splices exactly like the
    // flat one — the upper levels depend only on the centroid/super sets
    // (both frozen: the batch contains no ids divisible by stride, which
    // covers superStride multiples) and the batch replays the build's
    // hierarchical assignment rule against those frozen sets. The oracle
    // is SHARED with ann_graph_tiered_topk: the full tiered-build replay
    // only hash-matches if the spliced artifact equals the rebuilt one.
    "ann_graph_tiered_incremental_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val path = spooled(graphTierIncSpool, dir)(d => {
        val p = graft.util.TempDirs.create("graft_graph_tier_inc_spool")
        val all = t(s, d, "embeddings")
        GraphAnn.materialize(all.where(pmod(col("vec_id"), lit(2)) === 0),
          "vec_id", "embedding", 64, GraphAnn.DefaultDegree, p,
          superStride = 128)
        GraphAnn.appendToMaterialized(
          all.where(pmod(col("vec_id"), lit(2)) === 1),
          "vec_id", "embedding", 64, GraphAnn.DefaultDegree, p,
          superStride = 128)
        p
      })
      val qvec = emb.where(col("vec_id") === 1).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toArray
      val edges = GraphAnn.fromMaterialized(s, path, 64,
        GraphAnn.DefaultDegree, superStride = 128)
      GraphAnn.pointProbeTopK(emb, "vec_id", "embedding", edges, qvec,
        k = 10, stride = 64)
    },

    // PQ with TRAINED codebooks (ProductQuantizer.trainedCodebooks): the
    // stride sample is only the init; two per-subspace Lloyd rounds move
    // every codebook entry to the mean of its members (1e-6 grid, empty
    // entries frozen — the ann_kmeans_topk determinism recipe, subspace
    // flavor), then the probe runs the production precomputed path over
    // the trained (codebooks, codes). The oracle replays the full
    // training iteration in SQL, so "trained" is under the hash gate,
    // not just a spec claim.
    "ann_pq_trained_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val spec = ProductQuantizer.PqSpec(m = 8, dsub = 8, stride = 64)
      val qvec = emb.where(col("vec_id") === 1).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toArray
      // build-once/probe-many like every other materialized index tier:
      // the k-means TRAINING runs once per source dir into an at-rest
      // (codebooks, codes) artifact (ProductQuantizer.materialize with
      // trainedIters — reload-identical by AnnIndexSpec), so the benched
      // probe measures the production probe path, while the ORACLE still
      // replays the full training iteration in SQL — "trained" stays under
      // the hash gate without paying Lloyd rounds on every probe.
      val path = spooled(pqTrainedSpool, dir)(d => {
        val p = graft.util.TempDirs.create("graft_pq_trained_spool")
        ProductQuantizer.materialize(t(s, d, "embeddings"), "vec_id",
          "embedding", spec, p, trainedIters = 2)
        p
      })
      val (_, precomputed) = ProductQuantizer.fromMaterialized(s, path, Some(spec))
      ProductQuantizer.adcRerankTopK(emb, "vec_id", "embedding", qvec,
        k = 10, spec, overfetch = 100, precomputed = Some(precomputed))
    },

    // batched IVF probe: one index pass answers a query TABLE (the
    // offline-batch shape). Per-query bucket routing + the bounded-heap
    // top-k aggregate — each partition ships <= k rows per query to the
    // shuffle; the (query x candidate) distance table never materializes.
    "ann_batch_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id").isin(1L, 2L, 3L))
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      AnnIndex.build(emb, "vec_id", "embedding", stride = 64)
        .probeTopKBatch(queries, "qid", "qvec", 10, nprobe = 4)
        .transform(sortedSingle(_, col("qid"), col("rank")))
    },

    // AnnProbeRule under the oracle gate (VERDICT r5 task 5): the query is
    // written as BRUTE-FORCE top-k (select distance, order asc, limit 10)
    // over the registered embeddings relation with
    // spark.graft.ann.autoProbe=true — the Catalyst rule must splice in the
    // IVF probe plan, and the oracle is the IVF probe's SQL replica, NOT
    // brute force. The splice is asserted (LeftSemi bucket join in the
    // optimized plan) so a silently-unmatched shape fails loudly here
    // instead of passing as brute force.
    "ann_autoprobe_topk" -> { (s, dir) =>
      import graft.plans.AnnCatalog
      // sessions built by GraftSession.builder get the rule via
      // GraftExtensions; a driver-made session (Verify/Bench) gets it here
      // through the public experimental hook — idempotent, still conf-gated
      graft.GraftSession.attachAnnProbeRule(s)
      val emb = t(s, dir, "embeddings")
      val qvec = emb.where(col("vec_id") === 1).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toArray
      // conf + registration must OUTLIVE this lambda: the caller wraps the
      // returned frame (Verify's coalesce, Bench's count), which builds a
      // fresh QueryExecution from the LOGICAL plan — the rule has to fire
      // again in that re-optimization, or the query silently degrades to
      // brute force (observed: an unset-in-finally version shipped the
      // brute-force answer). Session-wide conf + a registered index is
      // exactly the production posture. clear() first so repeated bench
      // invocations don't accumulate duplicate entries; no other registered
      // query has the rewritable shape (search_topk_sql's query vector is a
      // scalar subquery, not a Literal — verified unmatched).
      AnnCatalog.clear()
      AnnCatalog.register(emb, "vec_id", "embedding",
        AnnIndex.build(emb, "vec_id", "embedding", stride = 64), nprobe = 4)
      s.conf.set("spark.graft.ann.autoProbe", "true")
      val df = emb.select(col("vec_id"),
          graft.functions.array_cosine_distance(
            col("embedding"), typedLit(qvec.toSeq)).as("cos_dist"))
        .orderBy(col("cos_dist").asc_nulls_last, col("vec_id").asc)
        .limit(10)
      // assert the splice on this frame's own plan — a shape drift that
      // stops the rule matching must fail loudly here, not pass brute force
      val plan = df.queryExecution.optimizedPlan.toString
      require(plan.contains("LeftSemi"),
        s"AnnProbeRule did not rewrite the brute-force shape:\n$plan")
      df
    },

    // the SAME brute-force-shaped query answered by the at-rest TRAINED
    // PQ index (AnnCatalog.registerProbe — the generalized substitution):
    // the splice swaps the corpus scan + sort for the ADC broadcast-join
    // rerank over the materialized (codebooks, codes) artifact, and the
    // oracle is the trained-PQ probe replica, NOT brute force. Splice
    // require()-asserted via the rerank's LeftSemi candidate join.
    "ann_autoprobe_pq_topk" -> { (s, dir) =>
      import graft.plans.AnnCatalog
      graft.GraftSession.attachAnnProbeRule(s)
      val emb = t(s, dir, "embeddings")
      val spec = ProductQuantizer.PqSpec(m = 8, dsub = 8, stride = 64)
      val qvec = emb.where(col("vec_id") === 1).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toArray
      val path = spooled(pqTrainedSpool, dir)(d => {
        val p = graft.util.TempDirs.create("graft_pq_trained_spool")
        ProductQuantizer.materialize(t(s, d, "embeddings"), "vec_id",
          "embedding", spec, p, trainedIters = 2)
        p
      })
      val (_, precomputed) = ProductQuantizer.fromMaterialized(s, path, Some(spec))
      AnnCatalog.clear()
      AnnCatalog.registerProbe(emb, "vec_id", "embedding", (q, k) =>
        ProductQuantizer.adcRerankTopK(emb, "vec_id", "embedding", q,
          k, spec, overfetch = 100, precomputed = Some(precomputed)))
      s.conf.set("spark.graft.ann.autoProbe", "true")
      val df = emb.select(col("vec_id"),
          graft.functions.array_cosine_distance(
            col("embedding"), typedLit(qvec.toSeq)).as("cos_dist"))
        .orderBy(col("cos_dist").asc_nulls_last, col("vec_id").asc)
        .limit(10)
      val plan = df.queryExecution.optimizedPlan.toString
      require(plan.contains("LeftSemi"),
        s"AnnProbeRule did not splice the PQ probe:\n$plan")
      df
    },

    // ...and by the materialized GRAPH index: the registered probe is the
    // driver-beam point probe (vector-adjacent edge artifact), whose
    // result frame is a bounded LocalRelation — so the spliced optimized
    // plan contains NO corpus relation at all, which is exactly what the
    // require() asserts (a brute-force fallback would keep the parquet
    // scan + Sort). Oracle = the graph probe's unrolled-rounds replica.
    "ann_autoprobe_graph_topk" -> { (s, dir) =>
      import graft.plans.AnnCatalog
      graft.GraftSession.attachAnnProbeRule(s)
      val emb = t(s, dir, "embeddings")
      val path = spooled(graphSpool, dir)(d => {
        val p = graft.util.TempDirs.create("graft_graph_spool")
        GraphAnn.materialize(t(s, d, "embeddings"), "vec_id", "embedding",
          64, GraphAnn.DefaultDegree, p)
        p
      })
      val edges = GraphAnn.fromMaterialized(s, path, 64, GraphAnn.DefaultDegree)
      val qvec = emb.where(col("vec_id") === 1).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toArray
      AnnCatalog.clear()
      AnnCatalog.registerProbe(emb, "vec_id", "embedding", (q, k) =>
        GraphAnn.pointProbeTopK(emb, "vec_id", "embedding", edges, q,
          k, stride = 64))
      s.conf.set("spark.graft.ann.autoProbe", "true")
      val df = emb.select(col("vec_id"),
          graft.functions.array_cosine_distance(
            col("embedding"), typedLit(qvec.toSeq)).as("cos_dist"))
        .orderBy(col("cos_dist").asc_nulls_last, col("vec_id").asc)
        .limit(10)
      val plan = df.queryExecution.optimizedPlan.toString
      require(plan.contains("LocalRelation") && !plan.contains("Sort"),
        s"AnnProbeRule did not splice the graph probe:\n$plan")
      df
    },

    // ...and by the at-rest IVF-PQ composition, completing the autoprobe
    // matrix over all four index tiers (IVF / trained PQ / IVF-PQ / graph):
    // the splice swaps the corpus scan + sort for the partition-pruned
    // code scan + ADC + pruned-bucket rerank over the artifacts
    // ann_ivfpq_topk materialized. Splice require()-asserted via the
    // bucket-prune LeftSemi.
    "ann_autoprobe_ivfpq_topk" -> { (s, dir) =>
      import graft.plans.AnnCatalog
      graft.GraftSession.attachAnnProbeRule(s)
      val emb = t(s, dir, "embeddings")
      val path = spooled(annSpool, dir)(d => {
        val p = graft.util.TempDirs.create("graft_ann_spool")
        AnnIndex.materialize(t(s, d, "embeddings"), "vec_id", "embedding", 64, p)
        p
      })
      val spec = ProductQuantizer.PqSpec(m = 8, dsub = 8, stride = 64)
      val pqPath = spooled(ivfpqSpool, dir)(d => {
        val p = graft.util.TempDirs.create("graft_ivfpq_spool")
        ProductQuantizer.materializeIvfPq(t(s, d, "embeddings"),
          "vec_id", "embedding", s.read.parquet(path), spec, p)
        p
      })
      val idx = AnnIndex.fromMaterialized(emb, "vec_id", "embedding", 64, path)
      val qvec = emb.where(col("vec_id") === 1).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toArray
      AnnCatalog.clear()
      AnnCatalog.registerProbe(emb, "vec_id", "embedding", (q, k) =>
        ProductQuantizer.probeIvfPqTopK(idx, "vec_id", "embedding", pqPath,
          q, k, nprobe = 4, overfetch = 50, spark = Some(s)))
      s.conf.set("spark.graft.ann.autoProbe", "true")
      val df = emb.select(col("vec_id"),
          graft.functions.array_cosine_distance(
            col("embedding"), typedLit(qvec.toSeq)).as("cos_dist"))
        .orderBy(col("cos_dist").asc_nulls_last, col("vec_id").asc)
        .limit(10)
      val plan = df.queryExecution.optimizedPlan.toString
      require(plan.contains("LeftSemi"),
        s"AnnProbeRule did not splice the IVF-PQ probe:\n$plan")
      df
    },

    // language-ID heuristic: marker-word argmax, computed INLINE in the scan
    // projection (TextOps.langGuess) — zero shuffles before the output sort,
    // where the explode->broadcast-join->window formulation shuffled the
    // whole exploded token table twice. The marker list is compile-time
    // small (the bm25-inline precedent); per-doc cost O(tokens x langs).
    "langid_docs" -> { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          TextOps.langGuess(TextOps.tokens(col("text"))).as("lang_guess"))
        .transform(sortedSingle(_, col("doc_id")))
    },

    // quality scoring: token/char/punct/stopword stats + composite score
    "quality_docs" -> { (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.approxBpeTokenCount(col("text")).as("n_bpe"),
        TextOps.punctRatio(col("text")).as("punct_ratio"),
        TextOps.stopwordRatio(col("text")).as("stopword_ratio"),
        TextOps.meanTokenLen(col("text")).as("mean_token_len"),
        TextOps.qualityScore(col("text")).as("quality"))
        .transform(sortedSingle(_, col("doc_id")))
    },

    // token table: term + document frequencies (tokenize -> explode -> agg).
    // Two-phase: count_distinct NEXT TO count(*) would force an Expand (row
    // duplication) over the whole exploded token table — the most expensive
    // possible shape at corpus scale. Aggregating (token, doc_id) first
    // partial-combines map-side, then tf/df both fall out of one pass.
    "token_stats" -> { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("token", "doc_id").agg(count(lit(1)).as("__c"))
        .groupBy("token")
        .agg(sum("__c").as("tf"), count(lit(1)).as("df"))
        .orderBy(col("tf").desc, col("token").asc)
        .limit(50)
    },

    // the Japanese tokenizer under the gate (the reference's MeCab wakati
    // use case, model/utils/tokenizer.py:27-37): deterministic Japanese
    // fixture sentences (the synthetic corpus has none — salted like
    // pii_redact) are segmented PER ROW on executors by JapaneseTokenizer,
    // then the token_stats shape runs over the segments. The oracle
    // replays with the DRIVER-side tokenizations of the same sentences as
    // shared literals (the hyperplane-constant recipe: both sides derive
    // from the same pure function, so they cannot drift).
    "ja_token_stats" -> { (s, dir) =>
      val tok = new graft.ops.JapaneseTokenizer()
      val segment = udf((t: String) => tok.tokenize(t))
      docs(s, dir)
        .select(col("doc_id"),
          element_at(typedLit(JaSentences),
            pmod(col("doc_id"), lit(JaSentences.length)).cast("int") + 1)
            .as("__ja"))
        .select(col("doc_id"), explode(split(segment(col("__ja")), " ")).as("token"))
        .groupBy("token", "doc_id").agg(count(lit(1)).as("__c"))
        .groupBy("token")
        .agg(sum("__c").as("tf"), count(lit(1)).as("df"))
        .orderBy(col("tf").desc, col("token").asc)
        .limit(30)
    },

    // WordPiece vocabulary induction (ops/Subword.induce) under the gate:
    // top-200 corpus-word substrings by occurrence count with the
    // word-initial/continuation flag (the ## distinction as a column).
    // Induction is one distinct-word aggregate + a substring explode of
    // the DISTINCT word table only, then TakeOrderedAndProject — the
    // 100 TB shape (the corpus-sized text is touched once).
    "wordpiece_vocab" -> { (s, dir) =>
      graft.ops.Subword.induce(docs(s, dir), "text", WpVocabSize, WpMaxPieceLen)
        .orderBy(col("piece_id").asc)
        .limit(50)
    },

    // greedy longest-match WordPiece ENCODING under the gate: every doc's
    // words decompose against the induced vocab ([UNK] = -1 for words with
    // an unmatched position — BERT semantics), digested per doc as
    // (piece count, unk count, md5 of the id sequence in word/piece
    // order) so the gate pins the ENTIRE sequence without corpus-sized
    // output rows. The oracle replays induction AND the greedy walk
    // (recursive CTE over the longest-match step function) — the
    // tokenizer itself is hash-gated, not spec-claimed. Encoding is a
    // per-row scan UDF over a broadcast vocab: zero shuffle before the
    // per-doc digest.
    "wordpiece_encode" -> { (s, dir) =>
      val d = docs(s, dir)
      val vmap = graft.ops.Subword.collectVocab(
        graft.ops.Subword.induce(d, "text", WpVocabSize, WpMaxPieceLen))
      graft.ops.Subword.encode(d, "doc_id", "text", vmap, WpMaxPieceLen)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_pieces"),
          count(when(col("piece_id") === -1L, 1)).as("n_unk"),
          md5(concat_ws(",",
            transform(
              sort_array(collect_list(struct(col("wpos"), col("k"), col("piece_id")))),
              e => e.getField("piece_id").cast("string")))).as("seq_md5"))
        .transform(sortedSingle(_, col("doc_id")))
    },

    // Tokenizer FERTILITY per language (pieces-per-word + UNK rate under
    // the corpus-induced WordPiece vocab) — the standard multilingual
    // tokenizer-QA view (a vocab fitted on majority-language text
    // over-fragments the rest; fertility quantifies that). Composes the
    // gated induce+encode, then ONE per-lang aggregate; ppm fixed-point so
    // the whole chain (induction, the greedy walk, the ratios) replays in
    // SQL.
    "token_fertility" -> { (s, dir) =>
      val d = docs(s, dir)
      val vmap = graft.ops.Subword.collectVocab(
        graft.ops.Subword.induce(d, "text", WpVocabSize, WpMaxPieceLen))
      graft.ops.Subword.encode(d, "doc_id", "text", vmap, WpMaxPieceLen)
        .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(
          sum(when(col("k") === 0, 1L).otherwise(0L)).as("n_words"),
          count(lit(1)).as("n_pieces"),
          sum(when(col("piece_id") === -1L, 1L).otherwise(0L)).as("n_unk"))
        .withColumn("fertility_ppm",
          expr("n_pieces * 1000000L div greatest(n_words, 1L)"))
        .withColumn("unk_ppm",
          expr("n_unk * 1000000L div greatest(n_words, 1L)"))
        .transform(sortedSingle(_, col("lang")))
    },

    // Byte-pair-encoding MERGE TRAINING under the gate (Sennrich et al.
    // 2016 — the GPT-family tokenizer trainer; WordPiece above is the
    // one-aggregate frequency variant, this is the real iterative
    // algorithm). Each round: one map-side-combined adjacent-pair count
    // over the DISTINCT word table (vocab-class, never corpus-sized) +
    // a 1-row argmax collect; the merge is applied as a literal
    // wrapped-pair `replace` whose semantics Spark, the JVM and DuckDB
    // share exactly (ops/Subword.scala BPE section). The oracle replays
    // all rounds as a materialized-CTE chain.
    "bpe_merges" -> { (s, dir) =>
      val ms = graft.ops.Subword.bpeTrain(docs(s, dir), "text", BpeRounds)
      import s.implicits._
      ms.map(m => (m.round.toLong, m.left, m.right, m.cnt))
        .toDF("merge_round", "lhs", "rhs", "cnt")
        .transform(sortedSingle(_, col("merge_round")))
    },

    // BPE ENCODING under the gate: the learned merges replayed as pure
    // chained codegen'd `replace` column expressions — zero shuffle, no
    // UDF, no vocab join on the encode path — digested per doc as
    // (piece count, word count, md5 of the piece sequence in word/piece
    // order) so the gate pins the entire sequence without corpus-sized
    // output rows.
    "bpe_encode" -> { (s, dir) =>
      val d = docs(s, dir)
      val ms = bpeMergesFor(s, dir)
      // per-WORD piece arrays (bpePieces — the same chained-replace
      // expressions bpeEncode uses) digested without a per-piece explode:
      // word rows, not piece rows, reach the aggregate
      d.select(col("doc_id"),
          posexplode(TextOps.tokens(col("text"))).as(Seq("wpos", "word")))
        .where(col("word").rlike(graft.ops.Subword.BpeWordPattern))
        .select(col("doc_id"), col("wpos").cast("long").as("wpos"),
          graft.ops.Subword.bpePieces(col("word"), ms).as("pieces"))
        .groupBy(col("doc_id"))
        .agg(sum(size(col("pieces"))).cast("long").as("n_pieces"),
          count(lit(1)).as("n_words"),
          md5(concat_ws(",",
            flatten(transform(
              sort_array(collect_list(struct(col("wpos"), col("pieces")))),
              e => e.getField("pieces"))))).as("seq_md5"))
        .transform(sortedSingle(_, col("doc_id")))
    },

    // ENGINE-COMPUTED embeddings under the hash gate — the reference's
    // full embed dataflow (model/search/vector.py:64-78,123,164):
    // fixture sentences salted onto doc ids (the ja_token_stats recipe),
    // `文章: ` prefix applied ENGINE-side (doc_prefix expression inside
    // VectorSearchClient.fromCorpus), WordPiece ids → transformer encoder
    // → l2-normalize computed PER ROW on executors through the
    // once-per-JVM ModelRegistry, the query embedded by the same runtime
    // with the `クエリ: ` prefix, then the standard top-k + rank +
    // back-join. The oracle consumes the same pure functions'
    // driver-side outputs as literals (EncoderFixture) — both sides
    // derive from one deterministic computation, so the gate is
    // hash-exact while the distributed side genuinely runs
    // text → ids → encoder → vector.
    "encoder_search_topk" -> { (s, dir) =>
      val n = EncoderFixture.Sentences.length
      val corpus = docs(s, dir).select(col("doc_id"),
        element_at(typedLit(EncoderFixture.Sentences),
          pmod(col("doc_id"), lit(n)).cast("int") + 1).as("text"))
      val client = graft.search.VectorSearchClient.fromCorpus(
        corpus, "text", "doc_id", EncoderFixture.embedder)
      client.search(EncoderFixture.QueryText, 10)
        .select(col("rank"), col("doc_id"), col("text"), col("score"))
    },

    // the PADDED/MASKED encoder path under the hash gate — the reference's
    // batch encode() dataflow (model/search/vector.py:64-78: variable-
    // length inputs pad to the batch max and flow through the masked
    // export with a 0/1 attention_mask). Executor batches are
    // partition-dependent (mapPartitions grouped(1024)), so the gate
    // hash-verifies the masked graph's padding-invariance END TO END: if
    // a pad row leaked into any head's softmax or the mean-pool, results
    // would depend on batch composition and diverge from the oracle's
    // one-batch driver literals.
    "encoder_search_masked_topk" -> { (s, dir) =>
      val n = EncoderFixture.Sentences.length
      val corpus = docs(s, dir).select(col("doc_id"),
        element_at(typedLit(EncoderFixture.Sentences),
          pmod(col("doc_id"), lit(n)).cast("int") + 1).as("text"))
      val client = graft.search.VectorSearchClient.fromCorpus(
        corpus, "text", "doc_id", EncoderFixture.maskedEmbedder)
      client.search(EncoderFixture.QueryText, 10)
        .select(col("rank"), col("doc_id"), col("text"), col("score"))
    },

    // BM25 top-k for a runtime term list (TextOps.bm25): terms flow through
    // a broadcast term table — same plan for 3 terms or 10^4 — doc lengths
    // are a shuffle-free projection, and nothing persists (the one shared
    // shuffle is deduped by AQE ReuseExchange, so no blocking
    // materialization for small term sets).
    "bm25_topk" -> { (s, dir) =>
      TextOps.bm25(docs(s, dir), "doc_id", TextOps.tokens(col("text")), Bm25Terms)
        .select(col("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(20)
    },

    // skew-safe salted rollup: same result as a plain groupBy, but the hot
    // key spreads over 16 reducers (two-phase aggregation)
    "events_salted_rollup" -> { (s, dir) =>
      // value pre-cast to DECIMAL so both salted phases sum exactly —
      // the two-phase merge order is inherently unpinned, which is fine
      // once the partials are order-free
      val ev = graft.SparkEntry.eventsTable(s, dir)
        .withColumn("value", col("value").cast("decimal(18,2)"))
      graft.ops.Skew.saltedSumCount(ev, Seq("event_type"), "value",
          Seq(col("event_id")), salts = 16)
        .select(col("event_type"), col("sum_value").cast("double").as("sum_value"),
          col("n_rows"))
        .transform(sortedSingle(_, col("event_type")))
    },

    // multimodal pipeline with a REAL codec (javax.imageio, JDK-native):
    // one PNG per doc id (pixels = integer formula), decoded and
    // nearest-neighbor-resized on actual pixels, then per-grid-cell channel
    // sums. PNG is lossless and the resize mapping is floor integer
    // division, so the DuckDB oracle recomputes the identical sums from the
    // formula alone — the decode path is hash-exact, not rows-only.
    "media_pipeline" -> { (s, dir) =>
      import graft.ops.{ImageIoCodec, Multimodal}
      // per-row codec work is the cost: spread the single-row-group scan
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
      val media = Multimodal.syntheticImagesFor(ids, "doc_id", MediaW, MediaH)
      val resized = Multimodal.resizeImages(media, MediaRW, MediaRH, ImageIoCodec)
      Multimodal.gridChannelStats(resized, MediaGrid, ImageIoCodec)
        .transform(sortedSingle(_, col("media_id"), col("cell_id")))
    },

    // perceptual image hash (dHash) over REAL decoded pixels: 9x8
    // nearest-neighbor luminance grid, gradient sign bits. Integer-exact
    // end to end, so the oracle recomputes the hash from the pixel formula.
    "image_dhash" -> { (s, dir) =>
      import graft.ops.{ImageIoCodec, Multimodal}
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
      val media = Multimodal.syntheticImagesFor(ids, "doc_id", MediaW, MediaH)
      Multimodal.dhash64(media, ImageIoCodec)
        .transform(sortedSingle(_, col("media_id")))
    },

    // the ONNX-BACKED codec seam, end to end (r19): real PNGs decode, grid-
    // pool to integer channel sums, and run through a REAL ONNX protobuf
    // artifact — built by the in-repo writer, written to disk, re-read and
    // parsed by the executor (write → parse → execute, the production
    // model-artifact path) — inside Multimodal.extractFeatures'
    // mapPartitions batching. Integer weights + integer inputs keep every
    // float op exact below 2^24, so the oracle replays decode→pool→MLP
    // with BIGINT arithmetic from the pixel formula. A trained vision
    // tower swaps the artifact bytes and gives up only the hash gate.
    "media_onnx_features" -> { (s, dir) =>
      import graft.ops.Multimodal
      val p = graft.util.TempDirs.create("graft_onnx_codec")
      val f = java.nio.file.Paths.get(p, "codec.onnx")
      java.nio.file.Files.write(f,
        graft.search.OnnxLinearModel.toMlpBytes(onnxCodecMlp))
      val codec = new graft.ops.OnnxMediaCodec(
        java.nio.file.Files.readAllBytes(f), MediaGrid)
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val media = Multimodal.syntheticImagesFor(ids, "doc_id", MediaW, MediaH)
      Multimodal.extractFeatures(media, codec, dim = OnnxCodecOut)
        .select(col("media_id"), posexplode(col("features")))
        .select(col("media_id"), col("pos").cast("long").as("i"),
          col("col").cast("double").as("f"))
        .transform(sortedSingle(_, col("media_id"), col("i")))
    },

    // per-frame audio features over REAL decoded PCM (WavCodec: hand-rolled
    // RIFF encode, javax.sound.sampled decode — the JDK's actual WAV
    // parser). Frame peak / exact energy (sum of squares) / zero crossings /
    // silence flag, all integer arithmetic, so the oracle recomputes every
    // stat from the sample formula (PCM16 is lossless). Decode+frame is a
    // scan-parallel flatMap — no shuffle before the output sort.
    "audio_frame_stats" -> { (s, dir) =>
      import graft.ops.Multimodal
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
      val media = Multimodal.syntheticAudioFor(ids, "doc_id", AudioSamples)
      Multimodal.audioFrameStats(media,
          Multimodal.DefaultSampleFormula.frameSize, AudioSilence)
        .transform(sortedSingle(_, col("media_id"), col("frame_id")))
    },

    // binary payload dedup (Multimodal.dedupByContent): 5 pixel-identical
    // PNG copies per base image (id % 100 drives the pixel formula), exact
    // sha2-content dedup keeps the min media_id of each. Proves binary-safe
    // dedup against an oracle that never decodes: identical formula inputs
    // MUST encode to identical bytes (PNG encoding is deterministic), so
    // the survivor set is min(doc_id) per id-class.
    "media_dedup" -> { (s, dir) =>
      import graft.ops.Multimodal
      // pixels derive from the id CLASS (doc_id % 100), so every class has
      // byte-identical PNG copies; encode each class once, fan out to docs
      val classMedia = Multimodal.syntheticImagesFor(
          t(s, dir, "documents").select((col("doc_id") % 100).as("cls"))
            .distinct().repartition(s.sparkContext.defaultParallelism),
          "cls", MediaW, MediaH)
        .select(col("media_id").as("__cls"), col("kind"), col("bytes"), col("meta"))
      val withIds = t(s, dir, "documents")
        .select(col("doc_id").as("media_id"), (col("doc_id") % 100).as("__cls"))
        .join(broadcast(classMedia), "__cls")
        .select("media_id", "kind", "bytes", "meta")
      Multimodal.dedupByContent(withIds)
        .select("media_id")
        .transform(sortedSingle(_, col("media_id")))
    },

    // document fingerprint: md5 of normalized text
    "fingerprint_docs" -> { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .transform(sortedSingle(_, col("doc_id")))
    },

    // PII redaction (graft.ops.Redact): regex families with identical
    // Java/RE2 semantics, applied as a per-row scan projection — zero
    // shuffle at any corpus size. The fixture salts deterministic PII into
    // the PII-free synthetic corpus (piiSalted, replayed verbatim by the
    // oracle); output is match counts per family + an md5 of the redacted
    // text, so the oracle proves string-exact replacement without hashing
    // megabyte rows into the gate.
    "pii_redact" -> { (s, dir) =>
      val salted = piiSalted(col("text"), col("doc_id"))
      docs(s, dir).select(
        col("doc_id"),
        Redact.piiCount(salted, "email").as("n_emails"),
        Redact.piiCount(salted, "ipv4").as("n_ips"),
        Redact.piiCount(salted, "ssn").as("n_ssns"),
        md5(Redact.redactPii(salted)).as("redacted_fp"))
        .transform(sortedSingle(_, col("doc_id")))
    },

    // Gopher-style repetition signals (duplicate-token and top-n-gram
    // concentration) — the quality-filter family from the Gopher/RefinedWeb
    // data pipelines. Every statistic is a per-document scan projection
    // (sorted-run-length for the top-n-gram count, TextOps.topNGramCount):
    // ZERO shuffles before the output sort, where explode+groupBy would
    // shuffle 2x the corpus for a per-doc number. Integer columns + boolean
    // flag only, so the cross-engine hash is exact by construction.
    "repetition_docs" -> { (s, dir) =>
      docs(s, dir).filter(col("text").isNotNull).select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.distinctTokenCount(col("text")).as("n_distinct_tokens"),
        TextOps.topNGramCount(col("text"), 2).as("top_2gram_n"),
        TextOps.nGramCount(col("text"), 2).as("n_2grams"),
        TextOps.topNGramCount(col("text"), 3).as("top_3gram_n"),
        TextOps.nGramCount(col("text"), 3).as("n_3grams"))
        .withColumn("repetitive", TextOps.repetitiveFlag(
          col("n_tokens"), col("n_distinct_tokens"), col("top_2gram_n"),
          col("n_2grams"), col("top_3gram_n"), col("n_3grams")))
        .transform(sortedSingle(_, col("doc_id")))
    },

    // corpus-trained bigram LM scoring (ops/LanguageModel): the
    // CCNet/KenLM perplexity-filter seam. The gated tier is INTEGER-exact —
    // per-doc sum/count of corpus bigram frequencies, one final IEEE
    // division — so the oracle reproduces it bit for bit where a log-based
    // score could drift (ln is not IEEE-pinned across engines; that tier is
    // spec-replayed instead). Train = explode + map-side-combined groupBy;
    // score = explode + count-table join + per-doc agg. 100 TB shapes only.
    "lm_fit_docs" -> { (s, dir) =>
      val d = docs(s, dir).filter(col("text").isNotNull)
      LanguageModel.scoreDocs(d, "doc_id", "text",
        LanguageModel.trainBigrams(d, "text"))
        .transform(sortedSingle(_, col("doc_id")))
    },

    // vocabulary induction + token-id encoding (ops/Vocab): top-64 tokens
    // by (count desc, token asc) take dense ids 0..63; docs with id < 40
    // are encoded as exploded (doc_id, pos, token_id) rows with -1 for OOV.
    // The top-k cut is TakeOrderedAndProject (per-partition heaps, never a
    // global sort of the count table) and the id window runs on the
    // already-cut 64 rows; encoding broadcast-joins the vocab into the
    // exploded corpus — nothing corpus-sized shuffles.
    "vocab_encode" -> { (s, dir) =>
      val d = docs(s, dir).filter(col("text").isNotNull)
      val v = Vocab.induce(d, "text", 64)
      Vocab.encode(d.where(col("doc_id") < 40), "doc_id", "text", v)
        .transform(sortedSingle(_, col("doc_id"), col("pos")))
    },

    // int8-quantized cosine top-k (graft.ops.Quantize): integer codes only —
    // cosine is scale-invariant — 4x smaller scan/shuffle at ~1% rank cost.
    // Quantization arithmetic is identical IEEE rounding in both engines, so
    // the oracle is exact, not approximate. The query vector's code is
    // derived ONCE driver-side (Quantize.codesLocal — one row) and inlined
    // as a literal: one scan job total, no broadcast sub-plan re-deriving
    // the codes frame (the round-4 shape cost 0.9 s for a 500-row table).
    "quantized_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      val qv = emb.where(col("vec_id") === 0).select(col("e"))
        .head().getSeq[Double](0).toArray
      val qcode = graft.ops.Quantize.codesLocal(qv)
      emb.select(col("vec_id"),
          graft.ops.Quantize.cosineDistance(
            graft.ops.Quantize.codes(col("e")), typedLit(qcode)).as("q_dist"))
        .orderBy(col("q_dist").asc_nulls_last, col("vec_id").asc)
        .limit(10)
    },

    // two-stage retrieval (the SCANN/FAISS production shape): stage 1 ranks
    // the WHOLE corpus on cheap int8-code distances (4x smaller scan at
    // rest) and keeps 100 candidates; stage 2 reranks only those 100 at
    // full float precision (broadcast semi-join + TakeOrdered). At 100 TB
    // the float embeddings are read for 100 rows instead of the corpus —
    // recall comes from stage-1 overfetch (100 >> 10), exactness of the
    // final ordering from stage 2. Both stages replay in SQL: quantization
    // is IEEE/HALF_UP-identical and tie-breaks are pinned, so even the
    // candidate-set boundary is deterministic.
    "quantized_rerank_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      val qv = emb.where(col("vec_id") === 0).select(col("e"))
        .head().getSeq[Double](0).toArray
      val qcode = graft.ops.Quantize.codesLocal(qv)
      val cands = emb.select(col("vec_id"),
          graft.ops.Quantize.cosineDistance(
            graft.ops.Quantize.codes(col("e")), typedLit(qcode)).as("q_dist"))
        .orderBy(col("q_dist").asc_nulls_last, col("vec_id").asc)
        .limit(100)
        .select(col("vec_id").as("cand_id"))
      emb.join(broadcast(cands), col("vec_id") === col("cand_id"), "left_semi")
        .select(col("vec_id"),
          graft.functions.array_cosine_distance(
            col("e"), typedLit(qv.toSeq)).as("cos_dist"))
        .orderBy(col("cos_dist").asc_nulls_last, col("vec_id").asc)
        .limit(10)
    },

    // deterministic 10% hash sample (graft.ops.Sampling): membership from
    // the row key's md5, reproducible across engines/retries — never rand()
    "sample_docs" -> { (s, dir) =>
      graft.ops.Sampling.sampleRange(
          t(s, dir, "documents"), col("doc_id"), buckets = 100, lo = 0, hi = 10)
        .select("doc_id", "lang", "n_chars")
        .transform(sortedSingle(_, col("doc_id")))
    },

    // text → tensor END TO END: induce a vocab, encode docs to ids, compute
    // scalable global offsets (Packing.sequenceOffsets — the parallel
    // prefix sum), and route every token to its (seq_id, pos_in_seq) slot
    // with docs crossing sequence boundaries (GPT-style packing). Every
    // stage is the oracle-gated operator it names; this query proves the
    // COMPOSITION is exact too.
    "training_sequences" -> { (s, dir) =>
      import graft.ops.{Packing, Vocab}
      val d = docs(s, dir).filter(col("text").isNotNull)
      val forty = d.where(col("doc_id") < 40)
      val v = Vocab.induce(d, "text", 64)
      val enc = Vocab.encode(forty, "doc_id", "text", v)
      val offs = Packing.sequenceOffsets(forty, "doc_id",
        TextOps.tokenCount(col("text")), binSize = 128)
      Packing.packTokens(enc, "doc_id", 128, offs)
        .transform(sortedSingle(_, col("seq_id"), col("pos_in_seq")))
    },

    // canonical text normalization (TextOps.normalizeText): control bytes →
    // space, Unicode NFC (custom codegen'd expression — Spark has none),
    // lowercase, space collapse, trim. The corpus is clean ASCII, so the
    // fixture salts each doc with a deterministic messy suffix (tab, a
    // DECOMPOSED e+U+0301 that NFC must compose to é, double spaces, a BEL
    // control byte) — the oracle builds the same bytes with chr() and
    // replays the chain through DuckDB's own nfc_normalize.
    "normalize_docs" -> { (s, dir) =>
      val messy = concat(col("text"),
        lit("\tCafe\u0301  X\u0007Y del "), col("doc_id").cast("string"))
      docs(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), TextOps.normalizeText(messy).as("norm_text"),
          length(TextOps.normalizeText(messy)).cast("long").as("norm_len"))
        .transform(sortedSingle(_, col("doc_id")))
    },

    // exactly-k-per-stratum sampling (Sampling.kPerGroup): eval-set /
    // few-shot-pool construction — a fractional sample can't promise
    // per-group counts. Rank within stratum by (md5(key), key): any retry
    // or engine picks the same k; the window partitions by stratum so
    // nothing global sorts.
    "sample_k_per_group" -> { (s, dir) =>
      graft.ops.Sampling.kPerGroup(
          t(s, dir, "documents"), col("lang"), col("doc_id"), k = 5)
        .select("doc_id", "lang")
        .transform(sortedSingle(_, col("lang"), col("doc_id")))
    },

    // deterministic corpus shuffle (Sampling.shuffled): training-order
    // randomization from the key's md5 — reproducible across runs, task
    // retries, and engines, where rand() re-rolls on every retry. The
    // shuffled rank is emitted so the oracle proves the ORDER, not just
    // the membership, of the first 50 positions.
    "corpus_shuffle" -> { (s, dir) =>
      graft.ops.Sampling.shuffled(t(s, dir, "documents"), col("doc_id"))
        .limit(50)
        .select(col("doc_id"), col("lang"))
        .withColumn("shuffle_rank",
          row_number().over(org.apache.spark.sql.expressions.Window.orderBy(
            md5(col("doc_id").cast("string")).asc, col("doc_id").asc)).cast("long"))
        .transform(sortedSingle(_, col("shuffle_rank")))
    },

    // train/holdout split (Sampling.trainHoldout): one deterministic hash
    // pass yields both splits; the oracle proves they are disjoint, exhaust
    // the corpus, and land the exact rows the hash assigns (per-split count
    // + doc_id sum + text fingerprint sum — any row in the wrong split
    // breaks all three).
    "train_holdout_split" -> { (s, dir) =>
      val (train, holdout) = graft.ops.Sampling.trainHoldout(
        t(s, dir, "documents"), col("doc_id"), buckets = 100, trainBuckets = 80)
      def summarize(df: DataFrame, name: String) =
        df.agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("text_fp_sum"))
          .select(lit(name).as("split"), col("n"), col("id_sum"), col("text_fp_sum"))
      summarize(train, "train").unionAll(summarize(holdout, "holdout"))
        .transform(sortedSingle(_, col("split")))
    },

    // stratified mixture sampling: per-language keep fractions from one
    // deterministic hash-bucket filter (graft.ops.Sampling.stratified) —
    // upsample fr to 50%, downsample en to 10%, 20% elsewhere. Scan-side
    // filter, no shuffle, retry-stable.
    "stratified_sample" -> { (s, dir) =>
      graft.ops.Sampling.stratified(
          t(s, dir, "documents"), col("lang"), col("doc_id"), buckets = 100,
          fractions = Map("en" -> 10, "fr" -> 50), defaultKeep = 20)
        .select("doc_id", "lang")
        .transform(sortedSingle(_, col("doc_id")))
    },

    // sequence packing (graft.ops.Packing): global token offsets + 512-token
    // training-bin spans, computed as a SCALABLE prefix sum (range
    // partitions -> parallel local cumsums -> partition-count-sized offset
    // window -> broadcast back), never the single-task global window the
    // naive `sum() OVER (ORDER BY id)` encoding degenerates to. The oracle
    // uses exactly that naive window — fine at oracle scale — so the hash
    // match proves the distributed prefix sum equals the sequential one.
    "packing_offsets" -> { (s, dir) =>
      graft.ops.Packing.sequenceOffsets(
          t(s, dir, "documents"), "doc_id",
          TextOps.tokenCount(col("text")), binSize = 512)
        .transform(sortedSingle(_, col("doc_id")))
    },

    // benchmark decontamination (graft.ops.Decontaminate): docs sharing any
    // 3-gram with the "benchmark" slice (doc_id % 50 == 0 stands in for the
    // eval set) are flagged with their distinct-hit count. The benchmark
    // n-gram set is vocabulary-sized and BROADCAST; the corpus explodes
    // once and never shuffles — the decontamination shape at 100 TB.
    "decontaminate_docs" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      graft.ops.Decontaminate.contaminatedIds(
          d.filter(col("doc_id") % 50 =!= 0), "doc_id", col("text"),
          d.filter(col("doc_id") % 50 === 0), col("text"), n = 3)
        .transform(sortedSingle(_, col("doc_id")))
    },

    // SUBSTRING-level dedup (Dedup.substringDupStats/DedupClean — Lee et
    // al. 2022's ExactSubstr in its fixed-window exact formulation): the
    // tier every doc-level pass misses — boilerplate paragraphs pasted
    // into otherwise-unique pages. Windows explode locally, the corpus-
    // wide gram count is one map-side-combined aggregate, and only the
    // (small) duplicated-span subset reaches the second shuffle.
    "substring_dup_stats" -> { (s, dir) =>
      Dedup.substringDupStats(
          t(s, dir, "documents").filter(col("text").isNotNull),
          "doc_id", "text", windowTokens = 6)
        .transform(sortedSingle(_, col("doc_id")))
    },
    // the destructive form: tokens covered by ANY duplicated window are
    // removed and the remainder re-joined in order (fully-duplicated docs
    // honestly yield the empty string)
    "substring_dedup_clean" -> { (s, dir) =>
      Dedup.substringDedupClean(
          t(s, dir, "documents").filter(col("text").isNotNull),
          "doc_id", "text", windowTokens = 6)
        .transform(sortedSingle(_, col("doc_id")))
    },

    // dataset mixture to a token budget (graft.ops.Mixture): cap every
    // language at 5000 tokens. The keep fraction is derived from the data
    // (per-lang token totals -> integer bucket threshold, floor division so
    // the oracle replays it exactly), then applied as the deterministic
    // hash filter — one scan, one #strata-row aggregate, broadcast join,
    // no driver collect. At sf0.01 this downsamples en (keep 425/1000
    // buckets) and keeps the under-budget languages whole.
    "mixture_budget" -> { (s, dir) =>
      graft.ops.Mixture.toTokenBudget(
          t(s, dir, "documents"), col("lang"), col("doc_id"),
          TextOps.tokenCount(col("text")), targetTokens = 5000, buckets = 1000)
        .select("doc_id", "lang")
        .transform(sortedSingle(_, col("doc_id")))
    },

    // epoch UPSAMPLING — the other half of mixture construction: a small
    // high-quality source runs 2.5 epochs, the bulk runs 1, a noisy one
    // runs a 0.4-epoch downsample — all from ONE map-side scan
    // (broadcast epoch spec + explode(sequence)), deterministic
    // thousandths arithmetic both engines replay exactly
    "epoch_upsample" -> { (s, dir) =>
      graft.ops.Mixture.epochReplicate(
          t(s, dir, "documents"), col("source"), col("doc_id"),
          epochs1000 = Map("src0" -> 2500L, "src1" -> 1000L, "src2" -> 400L),
          default1000 = 1000L)
        .select("doc_id", "source", "epoch_copy")
        .transform(sortedSingle(_, col("doc_id"), col("epoch_copy")))
    },

    // observe()-piggybacked per-stage health certificate (O1) for the
    // funnel's declarative stages: counters (rows, null/empty texts, char
    // volume) accumulate INSIDE the action that materializes each stage —
    // at 100 TB the corpus and its health certificate cost ONE pass, not
    // two. The certificate itself is a handful of longs per stage, so the
    // driver-built result frame is O(stages), never O(data).
    "pipeline_metrics" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val s1 = d.where(col("text").isNotNull &&
        length(col("text")) >= FunnelMinChars)
      val s2 = s1.where(TextOps.qualityScore(col("text")) >= FunnelMinQuality)
      val lng = (x: Any) => Option(x).map(_.asInstanceOf[Long]).getOrElse(0L)
      val certs = Seq((0, "all", d), (1, "min_length", s1), (2, "quality", s2))
        .map { case (id, nm, df) =>
          val (inst, obs) = PipelineMetrics.observeCorpus(
            df, "text", s"pm_${nm}_${System.nanoTime}")
          inst.write.format("noop").mode("overwrite").save()
          val m = obs.get
          (id, nm, lng(m("n_rows")), lng(m("null_texts")),
            lng(m("empty_texts")), lng(m("total_chars")))
        }
      s.createDataFrame(certs).toDF("stage_id", "stage", "n_rows",
          "null_texts", "empty_texts", "total_chars")
        .transform(sortedSingle(_, col("stage_id")))
    },
    // END-TO-END corpus curation funnel — the composed LLM-training-data
    // pipeline (length gate -> quality gate -> repetition gate -> exact
    // dedup -> near-dedup), reporting survivor counts per stage. Shape at
    // scale: ONE persisted scan computes every per-doc flag (zero shuffles),
    // the cumulative counts fall out of one aggregate, exact dedup is one
    // hash shuffle on the survivor subset only, and near-dedup runs the
    // inverted-index Jaccard join on what's left — each stage shrinks the
    // data the next one shuffles. Counts are exact integers, so the oracle
    // (which replays the identical chain in SQL) hash-matches exactly.
    "curation_funnel" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val rep = TextOps.repetitiveFlag(
        TextOps.tokenCount(col("text")), TextOps.distinctTokenCount(col("text")),
        TextOps.topNGramCount(col("text"), 2), TextOps.nGramCount(col("text"), 2),
        TextOps.topNGramCount(col("text"), 3), TextOps.nGramCount(col("text"), 3),
        dupTauTimes10 = FunnelDupTau10)
      val flagged = d
        .withColumn("f1", col("text").isNotNull &&
          length(col("text")) >= FunnelMinChars)
        .withColumn("f2", col("f1") &&
          TextOps.qualityScore(col("text")) >= FunnelMinQuality)
        .withColumn("f3", col("f2") && !rep)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // stages 0-3: cumulative counts from ONE aggregate over the flag scan
      val head = flagged.agg(
          count(lit(1)).as("c0"),
          count(when(col("f1"), 1)).as("c1"),
          count(when(col("f2"), 1)).as("c2"),
          count(when(col("f3"), 1)).as("c3"))
        .select(explode(array(
          struct(lit(0).as("stage_id"), lit("all").as("stage"), col("c0").as("n_docs")),
          struct(lit(1).as("stage_id"), lit("min_length").as("stage"), col("c1").as("n_docs")),
          struct(lit(2).as("stage_id"), lit("quality").as("stage"), col("c2").as("n_docs")),
          struct(lit(3).as("stage_id"), lit("not_repetitive").as("stage"), col("c3").as("n_docs")))).as("s"))
        .select(col("s.stage_id"), col("s.stage"), col("s.n_docs"))
      // stage 4: exact dedup among stage-3 survivors (min doc_id per text
      // hash; min_by keeps the text for the near-dup stage without a
      // corpus re-join)
      val exact = flagged.filter(col("f3"))
        .groupBy(md5(col("text")).as("__h"))
        .agg(min(col("doc_id")).as("doc_id"),
          min_by(col("text"), col("doc_id")).as("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // stage 5: near-dedup survivors among the exact-dedup survivors
      val pairs = Dedup.jaccardJoin(
        exact.select(col("doc_id"), TextOps.wordNGrams(col("text"), 3).as("sh")),
        "doc_id", "sh", JaccardTau)
      val near = Dedup.survivors(exact.select("doc_id"), "doc_id", pairs)
      val tail = exact.agg(count(lit(1)).as("n_docs"))
        .select(lit(4).as("stage_id"), lit("exact_dedup").as("stage"), col("n_docs"))
        .unionAll(near.agg(count(lit(1)).as("n_docs"))
          .select(lit(5).as("stage_id"), lit("near_dedup").as("stage"), col("n_docs")))
      head.unionAll(tail).transform(sortedSingle(_, col("stage_id")))
    },

    // context-window chunking: overlapping 32-token windows, stride 24;
    // emits per-chunk token count + content fingerprint (scan-parallel
    // projection — the packing step of a training pipeline). ONE
    // tokenization per doc: the token array is its own projection and
    // chunkStats emits (count, fp) structs directly — no re-splitting of
    // chunk strings downstream (the round-3 formulation re-tokenized per
    // chunk and re-split per chunk string: 22x over the oracle)
    "chunk_docs" -> { (s, dir) =>
      docs(s, dir)
        .where(col("text").isNotNull) // oracle filters identically
        .select(col("doc_id"), TextOps.tokens(col("text")).as("__t"))
        .select(col("doc_id"), posexplode(TextOps.chunkStats(col("__t"), 32, 24)))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
          col("col.n_chunk_tokens").as("n_chunk_tokens"),
          col("col.chunk_fp").as("chunk_fp"))
        .transform(sortedSingle(_, col("doc_id"), col("chunk_id")))
    },

    // C4/CCNet-style cross-document SEGMENT dedup (Dedup.segmentDedup):
    // 3-token segments occurring in >= 2 distinct docs are dropped from
    // EVERY doc carrying them, docs reassembled from the survivors in
    // order — the boilerplate-removal tier doc-level dedup can't reach.
    // The oracle replays segmentation, the distinct-doc dup census and the
    // ordered reassembly; clean_fp proves the rebuilt text byte-for-byte.
    "segment_dedup_clean" -> { (s, dir) =>
      Dedup.segmentDedup(docs(s, dir), "doc_id", "text",
          window = SegWindow, minDocs = SegMinDocs)
        .select(col("doc_id"), col("n_segments"), col("n_dropped"),
          md5(col("clean_text")).as("clean_fp"))
        .transform(sortedSingle(_, col("doc_id")))
    },

    // contrastive-pair mining (SimilarityJoin.hardNegatives): per query,
    // nearest non-self neighbor = positive, ranks 11-15 = hard negatives —
    // one bounded-heap corpus scan (TopKByScore), never a query x corpus
    // distance table. The oracle re-ranks with a window over the same
    // cosine distances and applies the identical band split.
    "hard_negatives" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id").isin(1L, 2L, 3L))
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      SimilarityJoin.hardNegatives(emb, "vec_id", "embedding",
          queries, "qid", "qvec", negFrom = NegFrom, negTo = NegTo)
        .transform(sortedSingle(_, col("qid"), col("rank")))
    },

    // ANN quality measurement (AnnIndex.recallAtK): recall@10 of the
    // nprobe=4 IVF probe vs exact brute force, per query — both sides
    // batched (probe via probeTopKBatch, truth via bruteForceTopKBatch).
    // The oracle independently replays BOTH pipelines and intersects, so
    // the gate proves the probe, the ground truth, and the recall
    // arithmetic agree across engines.
    "ann_recall" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id").isin(1L, 2L, 3L))
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      AnnIndex.build(emb, "vec_id", "embedding", stride = 64)
        .recallAtK(queries, "qid", "qvec", k = 10, nprobe = 4)
        .transform(sortedSingle(_, col("qid")))
    },

    // dedup-QA calibration (Dedup.minhashCalibration): for every LSH
    // candidate pair, the 16-component minhash agreement estimator next to
    // the EXACT shingle Jaccard and the absolute error — the view that
    // tells you whether the (k, bands) geometry is trustworthy before you
    // delete data with it. All ratios of small integers -> hash-exact.
    "minhash_calibration" -> { (s, dir) =>
      Dedup.minhashCalibration(docsWithShingles(s, dir), "doc_id", "sh", 16, 4)
        .transform(sortedSingle(_, col("a"), col("b")))
    },

    // recrawl snapshot diff (SnapshotDelta.delta): two snapshots derived
    // deterministically from documents (drops on each side simulate
    // adds/removes; a ' rev2' suffix on doc_id%9==2 simulates edits),
    // classified added/removed/changed/unchanged by ONE full-outer id join
    // over scan-side fingerprints. The incremental-ingest front door: at
    // 100 TB downstream curation touches only the changed subset.
    "corpus_delta" -> { (s, dir) =>
      val d = docs(s, dir)
      val old = d.where(col("doc_id") % 11 =!= 3)
      val neu = d.where(col("doc_id") % 13 =!= 5)
        .withColumn("text", when(col("doc_id") % 9 === 2,
          concat(col("text"), lit(" rev2"))).otherwise(col("text")))
      SnapshotDelta.delta(old, neu, "doc_id", "text")
        .transform(sortedSingle(_, col("doc_id")))
    },

    // labelled retrieval eval (SimilarityJoin.retrievalEval): precision@10
    // and reciprocal rank per query, relevance = label agreement — the
    // search-QA metric pass over the same bounded-heap exact top-k
    // substrate as hard_negatives. The oracle re-ranks with a window and
    // recomputes both metrics from the same integers.
    "retrieval_eval" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id").isin(1L, 2L, 3L, 4L, 5L))
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      SimilarityJoin.retrievalEval(emb, "vec_id", "embedding", "label",
          queries, "qid", "qvec", k = 10)
        .transform(sortedSingle(_, col("qid")))
    },

    // training-ready sharded export (CorpusIO.writeSharded): the corpus
    // actually lands on disk as 8 hash-partitioned shard dirs, and the
    // gate checks the returned MANIFEST — per-shard row count + the
    // order-independent bit_xor id checksum a data loader verifies before
    // reading. Shard assignment is the standard md5 bucket, replayed.
    "sharded_export" -> { (s, dir) =>
      val out = graft.util.TempDirs.create("sharded_export")
      graft.sources.CorpusIO.writeSharded(t(s, dir, "documents"), "doc_id",
          8, out)
        .transform(sortedSingle(_, col("shard")))
    },

    // metadata-FILTERED vector search: the production "where label = X"
    // pre-filter composed with batched exact top-k — the filter lands in
    // the corpus scan (PushedFilters), so the heap only ever sees the
    // qualifying subset. Exact tier shown; the same predicate composes
    // onto the IVF bucket scan for the approximate tier.
    "ann_filtered_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id").isin(1L, 2L, 3L))
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      SimilarityJoin.bruteForceTopKBatch(
          emb.where(col("label") === 3), "vec_id", "embedding",
          queries, "qid", "qvec", k = 10)
        .transform(sortedSingle(_, col("qid"), col("rank")))
    },

    // hybrid retrieval (SimilarityJoin.rrfFuse): BM25 top-20 fused with
    // vector top-20 by reciprocal-rank fusion — the production default for
    // lexical+semantic search. Both input rankings reuse already-gated
    // scoring (BM25 with the shared terms; cosine to the vec_id=0 query);
    // the fusion is 1/(60+rank) sums — deterministic doubles.
    "hybrid_rrf_topk" -> { (s, dir) =>
      val bmRanked = TextOps.bm25(docs(s, dir), "doc_id",
          TextOps.tokens(col("text")), Bm25Terms)
        .select(col("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)))
        .select("doc_id", "rank")
      val emb = t(s, dir, "embeddings")
      val qv = emb.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      val vecRanked = emb
        .select(col("vec_id").as("doc_id"),
          graft.functions.array_cosine_distance(
            col("embedding").cast("array<double>"), typedLit(qv)).as("d"))
        .orderBy(col("d").asc_nulls_last, col("doc_id").asc)
        .limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("d").asc_nulls_last, col("doc_id").asc)))
        .select("doc_id", "rank")
      SimilarityJoin.rrfFuse(bmRanked, vecRanked, "doc_id", "rank", k = 10)
    },

    // SOFT dedup (Dedup.softDedupWeights): duplicate-aware loss weighting
    // instead of deletion — every doc keeps a weight of 10^6 div its
    // near-dup cluster size (singletons at 10^6). Integer fixed-point, so
    // the whole components -> sizes -> weights chain is hash-exact.
    "soft_dedup_weights" -> { (s, dir) =>
      val pairs = Dedup.jaccardJoin(docsWithShingles(s, dir), "doc_id", "sh",
        JaccardTau).select("a", "b")
      Dedup.softDedupWeights(t(s, dir, "documents"), "doc_id", pairs)
        .transform(sortedSingle(_, col("doc_id")))
    },

    // diversity keep (components + Sampling.kPerGroup composed): at most 2
    // deterministic representatives per near-dup cluster — the
    // SemDeDup-style "keep a few per family" policy, built from two
    // already-gated ops with no new machinery.
    "diversity_keep" -> { (s, dir) =>
      val pairs = Dedup.jaccardJoin(docsWithShingles(s, dir), "doc_id", "sh",
        JaccardTau).select("a", "b")
      val comp = Dedup.components(pairs, "doc_id")
      val full = t(s, dir, "documents").select("doc_id")
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
      graft.ops.Sampling.kPerGroup(full, col("component"), col("doc_id"), 2)
        .transform(sortedSingle(_, col("doc_id")))
    },

    // temperature sampling at alpha=1/2 (Mixture.sampleTemperature):
    // per-source budget share proportional to sqrt(source token count) —
    // the mT5/UniMax multilingual balancing recipe. floor(sqrt) is
    // IEEE-correctly-rounded in both engines; everything after is ppm
    // fixed-point integer, so the whole share derivation AND the sampled
    // row set sit under the hash gate.
    "temperature_mixture" -> { (s, dir) =>
      graft.ops.Mixture.sampleTemperature(docs(s, dir), col("source"),
          col("doc_id"), size(split(col("text"), " ")).cast("long"),
          budget = 8000L)
        .select(col("doc_id"), col("source"))
        .transform(sortedSingle(_, col("doc_id")))
    },

    // per-group ADAPTIVE quantile filter (Sampling.adaptiveQuantileFilter):
    // keep docs at or above their own source's median length — the
    // RefinedWeb-style per-domain cutoff. Exact interpolating percentile on
    // an integer metric, so Spark's `percentile` and DuckDB's
    // `quantile_cont` agree bit-for-bit and the cutoff itself is gated.
    "adaptive_filter" -> { (s, dir) =>
      graft.ops.Sampling.adaptiveQuantileFilter(
          docs(s, dir).select("doc_id", "source", "n_chars"),
          col("source"), col("n_chars"), 0.5)
        .select(col("doc_id"), col("source"), col("n_chars"), col("cutoff"))
        .transform(sortedSingle(_, col("doc_id")))
    },

    // supervised quality-filter tier (ops/HashedClassifier): fastText-shape
    // hashed bag-of-words linear classifier, INTEGER-EXACT train + score —
    // trained on doc_id%3!=0 to predict lang='en', scored on the held-out
    // third. The oracle replays the feature hash, the full training
    // aggregate and the scoring sum, so "trained" is hash-gated.
    "classifier_quality" -> { (s, dir) =>
      val d = docs(s, dir)
      val w = HashedClassifier.train(d.where(col("doc_id") % 3 =!= 0),
        "text", col("lang") === "en", ClfBuckets)
      val eval = d.where(col("doc_id") % 3 === 0)
      HashedClassifier.score(eval, "doc_id", "text", w, ClfBuckets)
        .join(eval.select(col("doc_id"), (col("lang") === "en").as("actual")),
          "doc_id")
        .transform(sortedSingle(_, col("doc_id")))
    },

    // the STREAMING ingest tier under the hash gate: two crawl epochs (odd
    // docs split by doc_id%4) flow through a real MemoryStream into
    // CorpusIngest.dedupedIngest — within-epoch near-dup dedup, then dedup
    // against the static even-id corpus, survivors appended per epoch with
    // foreachBatch's epoch semantics. The oracle replays BOTH epochs'
    // jaccard chains (within-pairs drop-b, then cross-pairs drop-a) in SQL,
    // so stream==batch is oracle-proven, not just spec-claimed. The
    // MemoryStream feed is the standard deterministic streaming harness —
    // production sources (files/Kafka) deliver the same micro-batch frames.
    "streamed_ingest_survivors" -> { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      def shingle(f: DataFrame): DataFrame =
        f.select(col("doc_id"), TextOps.wordNGrams(col("text"), 3).as("sh"))
      // the static side is prepared ONCE, as at 100 TB (the corpus is
      // shingled at ingest and reused across epochs)
      val corpus = shingle(d.where(pmod(col("doc_id"), lit(2)) === 0))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val epochs = Seq(1L, 3L).map(m =>
        d.where(pmod(col("doc_id"), lit(4)) === m)
          .as[(Long, String)].collect().toSeq)
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)](s)
      val out = graft.util.TempDirs.create("streamed_ingest")
      // per-query sizing: the foreachBatch jaccard chain shuffles EPOCH
      // volumes (~1/4 of the corpus here), not corpus volumes — the
      // session default (sized for batch-tier shuffles) over-partitions
      // every per-batch exchange. Production sizes this to the micro-batch
      // volume the same way (StreamSizing scaladoc).
      val q = graft.streaming.StreamSizing.withStatePartitions(s, 8) {
        graft.streaming.CorpusIngest.dedupedIngest(
            shingle(stream.toDF().toDF("doc_id", "text")), corpus,
            "doc_id", "sh", JaccardTau) { (survivors, _) =>
          survivors.select("doc_id").write.mode("append").parquet(out)
        }
      }
      try epochs.foreach { e => stream.addData(e); q.processAllAvailable() }
      finally q.stop()
      corpus.unpersist(blocking = false)
      s.read.parquet(out).transform(sortedSingle(_, col("doc_id")))
    },

    // the SAME ingest pipeline driven from a REAL FILE SOURCE (r19): each
    // crawl epoch lands as parquet in an ingest directory and is drained
    // by its own Trigger.AvailableNow run restarting from ONE durable
    // checkpoint — so the FileStreamSource offset log and the commit log
    // are exercised across a genuine query restart: run 2 must resume
    // AFTER run 1's committed batch (epoch 1's file is listed but never
    // re-processed; re-processing would re-append its survivors and break
    // the row gate). Same epochs, same dedup chain, same oracle as
    // streamed_ingest_survivors — stream == batch == file-source-stream.
    "streamed_file_ingest_survivors" -> { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      def shingle(f: DataFrame): DataFrame =
        f.select(col("doc_id"), TextOps.wordNGrams(col("text"), 3).as("sh"))
      val corpus = shingle(d.where(pmod(col("doc_id"), lit(2)) === 0))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val src = graft.util.TempDirs.create("streamed_file_src")
      val ckpt = graft.util.TempDirs.create("streamed_file_ckpt")
      val out = graft.util.TempDirs.create("streamed_file_out")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      def drainEpoch(m: Long): Unit = {
        // land the epoch, then drain everything the source has NOT yet
        // committed — one AvailableNow run per epoch, one shared checkpoint
        d.where(pmod(col("doc_id"), lit(4)) === m)
          .coalesce(1).write.mode("append").parquet(src)
        val q = graft.streaming.StreamSizing.withStatePartitions(s, 8) {
          graft.streaming.CorpusIngest.dedupedIngest(
              shingle(s.readStream.schema(schema).parquet(src)), corpus,
              "doc_id", "sh", JaccardTau, checkpoint = Some(ckpt),
              trigger = Some(org.apache.spark.sql.streaming.Trigger
                .AvailableNow())) { (survivors, _) =>
            survivors.select("doc_id").write.mode("append").parquet(out)
          }
        }
        try q.awaitTermination() finally q.stop()
      }
      drainEpoch(1)
      drainEpoch(3)
      corpus.unpersist(blocking = false)
      s.read.parquet(out).transform(sortedSingle(_, col("doc_id")))
    },

    // streaming CLUSTER MAINTENANCE under the hash gate: two crawl epochs
    // replayed through a real MemoryStream into
    // CorpusIngest.clusteredIngest — each micro-batch's pairs (batch-self
    // + batch-vs-ingested-so-far) merge into the at-rest labels via
    // incrementalComponents, and the batch folds into the at-rest side
    // for later epochs. corpus-self ∪ e1-self ∪ e1×corpus ∪ e2-self ∪
    // e2×(corpus∪e1) == the FULL pair set, so the oracle is the
    // from-scratch recursive-CTE clustering — stream == batch identity
    // for the maintained labeling, not just per-epoch outputs.
    "streamed_components" -> { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      def shingle(f: DataFrame): DataFrame =
        f.select(col("doc_id"), TextOps.wordNGrams(col("text"), 3).as("sh"))
      val state = graft.streaming.CorpusIngest.clusterState(
        shingle(d.where(pmod(col("doc_id"), lit(2)) === 0)),
        "doc_id", "sh", JaccardTau)
      val epochs = Seq(1L, 3L).map(m =>
        d.where(pmod(col("doc_id"), lit(4)) === m)
          .as[(Long, String)].collect().toSeq)
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)](s)
      val q = graft.streaming.StreamSizing.withStatePartitions(s, 8) {
        graft.streaming.CorpusIngest.clusteredIngest(
          shingle(stream.toDF().toDF("doc_id", "text")), state,
          "doc_id", "sh", JaccardTau)((_, _) => ())
      }
      try epochs.foreach { e => stream.addData(e); q.processAllAvailable() }
      finally q.stop()
      state.currentLabels.transform(sortedSingle(_, col("doc_id")))
    },

    // streaming cluster DELETE under the hash gate — the takedown twin of
    // streamed_components: one crawl epoch (all odd docs — corpus-self ∪
    // odds-self ∪ odds×corpus already covers the FULL pair set; the
    // cross-epoch fold-in contract is streamed_components' gate, not this
    // one's) folds into the maintained labeling, then a DELETE epoch
    // replays every doc_id%5==0 takedown through
    // CorpusIngest.clusterDeletes — touched
    // components' surviving pair sets are re-derived from the stored
    // shingles and relabeled (a delete can split a component or move its
    // canonical min-id label; this fixture's dup families are near-cliques
    // so the observable effects here are canonical moves and pairless
    // survivors dropping out — planted SPLIT topologies are spec/fuzz
    // covered in ComponentsSpec and ClusterFuzz). The oracle is the
    // from-scratch recursive-CTE clustering of the pair set RESTRICTED to
    // surviving endpoints (pairwise Jaccard is independent of other docs,
    // so the surviving pair set IS the full pair set minus deleted
    // endpoints) — maintained-after-delete == from-scratch, under the hash.
    "streamed_cluster_delete" -> { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      def shingle(f: DataFrame): DataFrame =
        f.select(col("doc_id"), TextOps.wordNGrams(col("text"), 3).as("sh"))
      val state = graft.streaming.CorpusIngest.clusterState(
        shingle(d.where(pmod(col("doc_id"), lit(2)) === 0)),
        "doc_id", "sh", JaccardTau)
      val epochs = Seq(
        d.where(pmod(col("doc_id"), lit(2)) === 1)
          .as[(Long, String)].collect().toSeq)
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)](s)
      val q = graft.streaming.StreamSizing.withStatePartitions(s, 8) {
        graft.streaming.CorpusIngest.clusteredIngest(
          shingle(stream.toDF().toDF("doc_id", "text")), state,
          "doc_id", "sh", JaccardTau)((_, _) => ())
      }
      try epochs.foreach { e => stream.addData(e); q.processAllAvailable() }
      finally q.stop()
      // the takedown epoch: ids arrive as their own stream (removal
      // requests), sequential with the ingest writer per the single-writer
      // state contract
      val delIds = d.where(pmod(col("doc_id"), lit(5)) === 0)
        .select("doc_id").as[Long].collect().toSeq
      val delStream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Long](s)
      val qd = graft.streaming.StreamSizing.withStatePartitions(s, 8) {
        graft.streaming.CorpusIngest.clusterDeletes(
          delStream.toDF().toDF("doc_id"), state,
          "doc_id", "sh", JaccardTau)((_, _) => ())
      }
      try { delStream.addData(delIds); qd.processAllAvailable() }
      finally qd.stop()
      state.currentLabels.transform(sortedSingle(_, col("doc_id")))
    },

    // the WATERMARKED EventStreams tier under the hash gate: the whole
    // events fixture replayed through a real MemoryStream into the native
    // session_window aggregation (EventStreams.sessionize, 30-min gap,
    // 2-h watermark), append mode — each session emits exactly once when
    // the watermark passes its end. A sentinel event 10 days past the
    // fixture advances the watermark so every fixture session closes (the
    // sentinel's own session stays open and is never emitted — nothing to
    // filter). `value` pre-casts to DECIMAL(18,2) so the session sum is
    // order-free exact (the events_salted_rollup recipe); the oracle is
    // the classic gaps-and-islands replay of session_window semantics
    // (new session iff ts >= previous ts + gap; end = last ts + gap), so
    // stream output == batch SQL under the hash.
    "streamed_sessions" -> { (s, dir) =>
      import s.implicits._
      val rows = graft.SparkEntry.eventsTable(s, dir)
        .select(col("ts"), col("user_id"), col("value"))
        .as[(java.sql.Timestamp, Long, Double)].collect().toSeq
      val maxTs = rows.iterator.map(_._1.getTime).max
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, Long, Double)](s)
      val out = graft.util.TempDirs.create("streamed_sessions")
      val sessions = graft.streaming.EventStreams.sessionize(
        stream.toDF().toDF("ts", "user_id", "value")
          .withColumn("value", col("value").cast("decimal(18,2)")))
      // state partitions sized to the query, not the session default: the
      // fixture has ~2k session keys, and each of the 32 default partitions
      // pays a state-store instance + per-batch checkpoint file ops —
      // measured 5.1 s at 32 vs the data work itself. Production sizes
      // this per stream the same way (StreamSizing scaladoc).
      val q = graft.streaming.StreamSizing.withStatePartitions(s, 8) {
        sessions.writeStream.outputMode("append")
          .option("checkpointLocation",
            graft.util.TempDirs.create("streamed_sessions_ckpt"))
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(out)
          }
          .start()
      }
      try {
        stream.addData(rows)
        q.processAllAvailable()
        stream.addData(Seq((new java.sql.Timestamp(
          maxTs + 10L * 86400L * 1000L), -1L, 0.0)))
        q.processAllAvailable()
      } finally q.stop()
      s.read.parquet(out)
        .select(col("session_start"), col("session_end"), col("user_id"),
          col("n_events"), col("session_value").cast("double").as("session_value"))
        .transform(sortedSingle(_, col("user_id"), col("session_start")))
    },

    // STREAM-STREAM interval join under the hash gate
    // (EventStreams.attributionJoin): purchases and views replayed through
    // two real MemoryStreams in two TIME-SPLIT epochs (all epoch-1 ts <
    // all epoch-2 ts), inner-joined on user within the preceding 30
    // minutes, append mode. The split makes cross-epoch state retention
    // load-bearing — an epoch-1 view must still be in join state when its
    // epoch-2 purchase arrives — while watermark eviction provably cannot
    // drop a matchable row: an evicted view has v_ts + gap < watermark,
    // and every non-late purchase has p_ts >= watermark, so v_ts >=
    // p_ts - gap >= watermark - gap keeps it. Inner-join matches emit as
    // found, so no sentinel flush is needed; the oracle is the plain batch
    // range join — stream == batch under the hash.
    "streamed_attribution" -> { (s, dir) =>
      import s.implicits._
      val ev = graft.SparkEntry.eventsTable(s, dir)
      val pRows = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("user_id"))
        .as[(Long, java.sql.Timestamp, Long)].collect().toSeq
      val vRows = ev.where(col("event_type") === "view")
        .select(col("ts"), col("user_id"))
        .as[(java.sql.Timestamp, Long)].collect().toSeq
      val times = (pRows.iterator.map(_._2.getTime) ++
        vRows.iterator.map(_._1.getTime)).toSeq
      val mid = times.min + (times.max - times.min) / 2
      val pStream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, Long)](s)
      val vStream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, Long)](s)
      val joined = graft.streaming.EventStreams.attributionJoin(
        pStream.toDF().toDF("event_id", "ts", "user_id"),
        vStream.toDF().toDF("ts", "user_id"))
      val out = graft.util.TempDirs.create("streamed_attribution")
      val q = graft.streaming.StreamSizing.withStatePartitions(s, 4) {
        joined.writeStream.outputMode("append")
          .option("checkpointLocation",
            graft.util.TempDirs.create("streamed_attribution_ckpt"))
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(out)
          }
          .start()
      }
      try Seq[Long => Boolean](_ < mid, _ >= mid).foreach { epoch =>
        pStream.addData(pRows.filter(r => epoch(r._2.getTime)))
        vStream.addData(vRows.filter(r => epoch(r._1.getTime)))
        q.processAllAvailable()
      } finally q.stop()
      s.read.parquet(out)
        .select(col("event_id"), col("user_id"), col("p_ts"), col("v_ts"))
        .transform(sortedSingle(_, col("event_id"), col("v_ts")))
    },

    // ARBITRARY-STATE streaming under the hash gate
    // (EventStreams.userProfiles, the mapGroupsWithState tier): per-user
    // running profiles over two time-split MemoryStream epochs, update
    // mode — each touched user re-emits its snapshot per micro-batch, and
    // the FINAL snapshot per user (max n_events: strictly increasing
    // whenever the user appears) must equal the batch groupBy. Values ride
    // as exact integer cents (floor(v*100 + 0.5), replayed verbatim in the
    // oracle) so the running double sum is order-free exact — the
    // streamed_sessions DECIMAL recipe, driver-state flavor.
    "streamed_profiles" -> { (s, dir) =>
      import s.implicits._
      val rows = graft.SparkEntry.eventsTable(s, dir)
        .select(col("user_id"), col("ts"), col("value"))
        .as[(Long, java.sql.Timestamp, Double)].collect().toSeq
        .map(r => (r._1, r._2, math.floor(r._3 * 100.0 + 0.5)))
      val mid = {
        val ts = rows.map(_._2.getTime)
        ts.min + (ts.max - ts.min) / 2
      }
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, Double)](s)
      val profiles = graft.streaming.EventStreams.userProfiles(
        stream.toDF().toDF("user_id", "ts", "value")
          .as[graft.streaming.EventStreams.UserEvent])
      val out = graft.util.TempDirs.create("streamed_profiles")
      val q = graft.streaming.StreamSizing.withStatePartitions(s, 4) {
        profiles.toDF().writeStream.outputMode("update")
          .option("checkpointLocation",
            graft.util.TempDirs.create("streamed_profiles_ckpt"))
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(out)
          }
          .start()
      }
      try Seq[Long => Boolean](_ < mid, _ >= mid).foreach { epoch =>
        stream.addData(rows.filter(r => epoch(r._2.getTime)))
        q.processAllAvailable()
      } finally q.stop()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("n_events").desc)
      s.read.parquet(out)
        .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
        .select(col("user_id"), col("n_events"),
          col("total_value").cast("long").as("total_cents"), col("last_seen"))
        .transform(sortedSingle(_, col("user_id")))
    },

    // The SAME semantics on the state API v2 (EventStreams.userProfilesV2,
    // `transformWithState` + typed ValueState on the RocksDB provider —
    // Spark 4's arbitrary-state surface). Sharing streamed_profiles'
    // oracle pins v1 == v2 == batch under the hash, not just in a spec.
    "streamed_profiles_v2" -> { (s, dir) =>
      import s.implicits._
      val rows = graft.SparkEntry.eventsTable(s, dir)
        .select(col("user_id"), col("ts"), col("value"))
        .as[(Long, java.sql.Timestamp, Double)].collect().toSeq
        .map(r => (r._1, r._2, math.floor(r._3 * 100.0 + 0.5)))
      val mid = {
        val ts = rows.map(_._2.getTime)
        ts.min + (ts.max - ts.min) / 2
      }
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prevProvider = s.conf.getOption(providerKey)
      s.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val out = graft.util.TempDirs.create("streamed_profiles_v2")
      try {
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, java.sql.Timestamp, Double)](s)
        val profiles = graft.streaming.EventStreams.userProfilesV2(
          stream.toDF().toDF("user_id", "ts", "value")
            .as[graft.streaming.EventStreams.UserEvent])
        val q = graft.streaming.StreamSizing.withStatePartitions(s, 4) {
          profiles.toDF().writeStream.outputMode("update")
            .option("checkpointLocation",
              graft.util.TempDirs.create("streamed_profiles_v2_ckpt"))
            .foreachBatch { (b: DataFrame, _: Long) =>
              b.write.mode("append").parquet(out)
            }
            .start()
        }
        try Seq[Long => Boolean](_ < mid, _ >= mid).foreach { epoch =>
          stream.addData(rows.filter(r => epoch(r._2.getTime)))
          q.processAllAvailable()
        } finally q.stop()
      } finally prevProvider match {
        case Some(v) => s.conf.set(providerKey, v)
        case None => s.conf.unset(providerKey)
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("n_events").desc)
      s.read.parquet(out)
        .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
        .select(col("user_id"), col("n_events"),
          col("total_value").cast("long").as("total_cents"), col("last_seen"))
        .transform(sortedSingle(_, col("user_id")))
    },

    // DSIR-style importance fitting (ops/Dsir — Xie et al. 2023): hashed
    // unigram+bigram features, target sample = doc_id % 7 == 0, raw = the
    // rest; per-bucket weight = fixed-point smoothed probability RATIO
    // p_t(b)/p_r(b) in millionths, over the FULL 64-bucket range. The whole
    // fit (both count passes, both totals, the ratio arithmetic) replays in
    // SQL, so "fitted" is hash-gated like the classifier's training.
    "dsir_weights" -> { (s, dir) =>
      val d = docs(s, dir)
      Dsir.importanceWeights(
          d.where(pmod(col("doc_id"), lit(7)) === 0), col("text"),
          d.where(pmod(col("doc_id"), lit(7)) =!= 0), col("text"),
          DsirBuckets)
        .transform(sortedSingle(_, col("bucket")))
    },

    // ...and the selection half: score every raw doc with the fitted
    // weights (one explode + broadcast weight join + per-doc average — the
    // classifier's scoring shape) and keep the top 50 most target-like by
    // (score desc, doc_id asc) — a TakeOrderedAndProject cut, never a
    // global window.
    "dsir_select" -> { (s, dir) =>
      val d = docs(s, dir)
      val raw = d.where(pmod(col("doc_id"), lit(7)) =!= 0)
      val w = Dsir.importanceWeights(
        d.where(pmod(col("doc_id"), lit(7)) === 0), col("text"),
        raw, col("text"), DsirBuckets)
      Dsir.selectTop(
          Dsir.scoreDocs(raw, "doc_id", col("text"), w, DsirBuckets),
          "doc_id", DsirTopN)
        .transform(sortedSingle(_, col("doc_id")))
    },

    // ...and the paper's ACTUAL selection rule: seeded Gumbel-top-n
    // resampling (draw ∝ exp(score/τ) via the Gumbel-top-k identity) made
    // engine-exact — per-doc uniform from the 60-bit md5 convention on
    // "seed|doc_id", the Gumbel quantile −ln(−ln u) PRE-QUANTIZED to a
    // 1024-entry fixed-point table embedded as a literal in both engines
    // (query time is pure integer arithmetic; no libm call can diverge),
    // key = score·10⁶ + τ·g_micro, top-n. The gated gkey column pins the
    // draw arithmetic itself, not just the chosen ids.
    "dsir_gumbel_select" -> { (s, dir) =>
      val d = docs(s, dir)
      val raw = d.where(pmod(col("doc_id"), lit(7)) =!= 0)
      val w = Dsir.importanceWeights(
        d.where(pmod(col("doc_id"), lit(7)) === 0), col("text"),
        raw, col("text"), DsirBuckets)
      Dsir.selectGumbelTop(
          Dsir.scoreDocs(raw, "doc_id", col("text"), w, DsirBuckets),
          "doc_id", DsirTopN, GumbelSeed, GumbelTau)
        .transform(sortedSingle(_, col("doc_id")))
    },

    // Winnowing fingerprints (Dedup.winnowFingerprints — MOSS): per-window
    // minimum shingle hashes, ~2/(w+1) selection density, shared-run
    // coverage guaranteed at k+w-1 tokens. Per-doc digest pins the exact
    // fingerprint SET (count + md5 of the sorted values) without
    // corpus-sized gate rows; hashing + winnowing are one scan projection.
    "winnow_fingerprints" -> { (s, dir) =>
      Dedup.winnowFingerprints(docs(s, dir), "doc_id", "text",
          WinnowK, WinnowW)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_fp"),
          md5(concat_ws(",",
            sort_array(collect_list(col("fp"))).cast("array<string>")))
            .as("fps_md5"))
        .transform(sortedSingle(_, col("doc_id")))
    },

    // ...and the sparse-index candidate join over those fingerprints:
    // pairs sharing >= 2 window minima (the substring-overlap near-dup
    // tier between exact-substring and MinHash).
    "winnow_pairs" -> { (s, dir) =>
      Dedup.winnowPairs(
          Dedup.winnowFingerprints(docs(s, dir), "doc_id", "text",
            WinnowK, WinnowW),
          "doc_id", minShared = 2L)
        .transform(sortedSingle(_, col("a"), col("b")))
    },

    // INCREMENTAL winnow matching through the AT-REST artifact
    // (Dedup.materializeWinnow: corpus fingerprints bucketed+sorted by fp
    // ONCE at ingest) — per crawl batch only the batch side shuffles; the
    // ~w/2x-sparser-than-postings corpus index joins from its buckets in
    // place. Batch = odd ids vs corpus = even ids.
    "incremental_winnow_pairs" -> { (s, dir) =>
      val table = spooled(winnowSpool, dir)(d => {
        val nm = s"graft_winnow_${java.lang.Long.toHexString(d.hashCode.toLong & 0xffffffffL)}"
        Dedup.materializeWinnow(
          docs(s, d).where(pmod(col("doc_id"), lit(2)) === 0),
          "doc_id", "text", WinnowK, WinnowW, nm, buckets = 8)
        nm
      })
      Dedup.winnowPairsAgainst(
          Dedup.winnowFingerprints(
            docs(s, dir).where(pmod(col("doc_id"), lit(2)) === 1),
            "doc_id", "text", WinnowK, WinnowW),
          s.table(table), "doc_id", minShared = 2L)
        .transform(sortedSingle(_, col("a"), col("b")))
    },

    // Encoding-damage QA (TextOps.encodingStats): U+FFFD replacement-char
    // and stray-control-byte counts + fixed-point bad_ppm per doc — the
    // pre-tokenization charset screen. Counting is length-difference under
    // remove-all regexp_replace (single-char matches), a pure scan
    // projection; damage is salted in-query (the fixture is clean UTF-8).
    "encoding_quality" -> { (s, dir) =>
      val d = docs(s, dir)
      TextOps.encodingStats(d, "doc_id", encSalted(col("text"), col("doc_id")))
        .transform(sortedSingle(_, col("doc_id")))
    },

    // CCNet-style per-language corpus-fit TERTILE bucketing
    // (LanguageModel.fitBuckets): head/middle/tail labels from the
    // fixed-point fit metric and exact per-lang 1/3 / 2/3 percentile
    // cutoffs — the cutoffs ride along in the output so cross-engine
    // percentile drift would break the hash, not silently flip labels.
    "ppl_buckets" -> { (s, dir) =>
      val d = docs(s, dir).filter(col("text").isNotNull)
      LanguageModel.fitBuckets(d, "doc_id", "text", "lang",
          LanguageModel.trainBigrams(d, "text"))
        .transform(sortedSingle(_, col("doc_id")))
    },

    // FUZZY benchmark decontamination (Decontaminate.fuzzyContaminatedIds):
    // corpus docs near-duplicating ANY eval doc (3-gram Jaccard >= tau) —
    // the GPT-3-style similarity tier run alongside the exact-containment
    // `decontaminate_docs` gate. Benchmark postings broadcast; the corpus
    // explodes once and never self-joins.
    "fuzzy_decontaminate" -> { (s, dir) =>
      val d = docs(s, dir)
      Decontaminate.fuzzyContaminatedIds(
          d.filter(pmod(col("doc_id"), lit(10)) =!= 0), "doc_id", col("text"),
          d.filter(pmod(col("doc_id"), lit(10)) === 0), "doc_id", col("text"),
          n = 3, tau = JaccardTau)
        .transform(sortedSingle(_, col("doc_id")))
    },
  )

  // ---- media pipeline constants (shared by the Spark query and oracle) ----

  private val MediaW = 24; private val MediaH = 24 // generated image
  private val MediaRW = 12; private val MediaRH = 12 // after resize
  private val MediaGrid = 3 // grid cells per side
  private val AudioSamples = 800 // PCM16 samples per generated clip
  private val AudioSilence = 64 // |peak| below this = silent frame

  // ---- ONNX media-codec fixture (shared by query and oracle) ----
  private val OnnxCodecHidden = 8
  private val OnnxCodecOut = 8

  /** Deterministic INTEGER-weight 2-layer MLP for the ONNX-backed codec
    * gate — one splitmix64 stream, so query and oracle literals can never
    * drift. Exactness budget (24×24 image, 3×3 grid → 8×8 cells): cell
    * sum ≤ 64·765 = 48,960; |h| ≤ 9·1·48,960 + 15 < 2^19; |out| ≤
    * 8·2·|h| + 50 < 2^23 — every float op exact, SQL replays in BIGINT.
    */
  private lazy val onnxCodecMlp: graft.search.MlpEmbedder = {
    var s = 0x5eed00c0dec5L
    def next(mod: Int, off: Int): Float = {
      s = graft.util.Hashing.splitmix64(s)
      (java.lang.Long.remainderUnsigned(s, mod.toLong).toInt - off).toFloat
    }
    val in = MediaGrid * MediaGrid
    val w1 = Array.fill(OnnxCodecHidden * in)(next(3, 1)) // {-1,0,1}
    val b1 = Array.fill(OnnxCodecHidden)(next(31, 15)) // [-15,15]
    val w2 = Array.fill(OnnxCodecOut * OnnxCodecHidden)(next(5, 2)) // [-2,2]
    val b2 = Array.fill(OnnxCodecOut)(next(101, 50)) // [-50,50]
    graft.search.MlpEmbedder(Seq(
      graft.search.MlpLayer(OnnxCodecHidden, in, w1, b1),
      graft.search.MlpLayer(OnnxCodecOut, OnnxCodecHidden, w2, b2)))
  }

  /** Replays decode→grid-pool→MLP in BIGINT arithmetic from the pixel
    * formula: PNG decode is lossless and every forward op is float-exact
    * on these integer magnitudes (see [[onnxCodecMlp]]), so equality is
    * exact, not approximate.
    */
  private def mediaOnnxFeaturesOracle: String = {
    val f = graft.ops.Multimodal.DefaultFormula
    val g = MediaGrid; val cw = MediaW / g; val ch = MediaH / g
    val in = g * g
    val l1 = onnxCodecMlp.layers(0); val l2 = onnxCodecMlp.layers(1)
    val hExprs = (0 until OnnxCodecHidden).map { r =>
      val terms = (0 until in)
        .map(c => s"(${l1.w(r * in + c).toLong})*c$c").mkString(" + ")
      s"greatest(0, ${l1.b(r).toLong} + $terms) AS h$r"
    }
    val oExprs = (0 until OnnxCodecOut).map { r =>
      val terms = (0 until OnnxCodecHidden)
        .map(c => s"(${l2.w(r * OnnxCodecHidden + c).toLong})*h$c").mkString(" + ")
      s"(${l2.b(r).toLong} + $terms) AS o$r"
    }
    val cCols = (0 until in)
      .map(k => s"max(CASE WHEN cell_id = $k THEN csum END) AS c$k").mkString(", ")
    s"""WITH px AS (
       |  SELECT d.doc_id AS media_id, xs.x AS x, ys.y AS y
       |  FROM documents d
       |  CROSS JOIN (SELECT unnest(range(0, $MediaW)) AS x) xs
       |  CROSS JOIN (SELECT unnest(range(0, $MediaH)) AS y) ys),
       |cells AS (
       |  SELECT media_id, (y // $ch) * $g + (x // $cw) AS cell_id,
       |         CAST(sum((${f.channelSql(f.r, "media_id", "x", "y")}) +
       |                  (${f.channelSql(f.g, "media_id", "x", "y")}) +
       |                  (${f.channelSql(f.b, "media_id", "x", "y")})) AS BIGINT) AS csum
       |  FROM px GROUP BY 1, 2),
       |xrow AS (SELECT media_id, $cCols FROM cells GROUP BY media_id),
       |hrow AS (SELECT media_id, ${hExprs.mkString(", ")} FROM xrow),
       |orow AS (SELECT media_id, ${oExprs.mkString(", ")} FROM hrow),
       |feats AS (SELECT media_id,
       |  list_value(${(0 until OnnxCodecOut).map(r => s"o$r").mkString(", ")}) AS l
       |  FROM orow)
       |SELECT media_id, CAST(i AS BIGINT) AS i, CAST(l[i+1] AS DOUBLE) AS f
       |FROM feats CROSS JOIN (SELECT unnest(range(0, $OnnxCodecOut)) AS i)
       |ORDER BY media_id, i""".stripMargin
  }

  /** Replays the decode→resize→pool pipeline arithmetically: resized pixel
    * (x,y) is source pixel ((x*W)//RW, (y*H)//RH) (ImageIoCodec's floor
    * mapping), whose channels come straight from the PixelFormula — PNG adds
    * nothing lossy in between.
    */
  /** Recomputes every frame stat from the shared [[graft.ops.Multimodal
    * .SampleFormula]] — never decoding: PCM16 WAV is lossless, so the
    * decoder must return exactly these samples.
    */
  private def audioFrameStatsOracle: String = {
    val f = graft.ops.Multimodal.DefaultSampleFormula
    val fs = f.frameSize
    s"""WITH ids AS (SELECT doc_id AS media_id FROM documents),
       |samp AS (
       |  SELECT media_id, i, CAST(${f.sampleSql("media_id", "i")} AS BIGINT) AS s
       |  FROM ids CROSS JOIN (SELECT unnest(range(0, $AudioSamples)) AS i)),
       |fr AS (SELECT media_id, i // $fs AS frame_id, i, s,
       |              lag(s) OVER (PARTITION BY media_id ORDER BY i) AS prev
       |       FROM samp)
       |SELECT media_id, frame_id,
       |       count(*)::BIGINT AS n_samples,
       |       max(abs(s))::BIGINT AS peak,
       |       sum(s*s)::BIGINT AS sum_sq,
       |       count(*) FILTER (i % $fs != 0 AND (prev < 0) != (s < 0))::BIGINT AS zero_crossings,
       |       (max(abs(s)) < $AudioSilence) AS silent
       |FROM fr GROUP BY media_id, frame_id
       |ORDER BY media_id, frame_id""".stripMargin
  }

  private def mediaPipelineOracle: String = {
    val f = graft.ops.Multimodal.DefaultFormula
    val sx = s"(x * $MediaW) // $MediaRW"
    val sy = s"(y * $MediaH) // $MediaRH"
    val cw = MediaRW / MediaGrid; val ch = MediaRH / MediaGrid
    s"""WITH px AS (
       |  SELECT d.doc_id AS media_id, xs.x AS x, ys.y AS y
       |  FROM documents d
       |  CROSS JOIN (SELECT unnest(range(0, $MediaRW)) AS x) xs
       |  CROSS JOIN (SELECT unnest(range(0, $MediaRH)) AS y) ys)
       |SELECT media_id,
       |       (y // $ch) * $MediaGrid + (x // $cw) AS cell_id,
       |       CAST(sum(${f.channelSql(f.r, "media_id", sx, sy)}) AS BIGINT) AS sum_r,
       |       CAST(sum(${f.channelSql(f.g, "media_id", sx, sy)}) AS BIGINT) AS sum_g,
       |       CAST(sum(${f.channelSql(f.b, "media_id", sx, sy)}) AS BIGINT) AS sum_b
       |FROM px GROUP BY 1, 2 ORDER BY media_id, cell_id""".stripMargin
  }

  /** dHash oracle: luminance = channel sum at the floor-mapped source pixel
    * of the 9x8 grid; bit y*8+x set iff the right neighbor is brighter.
    * DuckDB refuses `1::BIGINT << 63`, so distinct bit powers accumulate in
    * HUGEINT and the unsigned total folds to the signed long two's
    * complement (subtract 2^64 when >= 2^63) — exactly Scala's bitwise OR.
    */
  private def dhashOracle: String = {
    val f = graft.ops.Multimodal.DefaultFormula
    def lum(cx: String): String = {
      val sx = s"(($cx) * $MediaW) // 9"
      val sy = s"(y * $MediaH) // 8"
      Seq(f.r, f.g, f.b)
        .map(c => s"(${f.channelSql(c, "media_id", sx, sy)})").mkString(" + ")
    }
    s"""WITH px AS (
       |  SELECT d.doc_id AS media_id, xs.x AS x, ys.y AS y
       |  FROM documents d
       |  CROSS JOIN (SELECT unnest(range(0, 8)) AS x) xs
       |  CROSS JOIN (SELECT unnest(range(0, 8)) AS y) ys),
       |raw AS (
       |  SELECT media_id,
       |         sum(CASE WHEN ${lum("x + 1")} > ${lum("x")}
       |                  THEN 1::HUGEINT << (y*8 + x) ELSE 0::HUGEINT END) AS u
       |  FROM px GROUP BY media_id)
       |SELECT media_id,
       |       CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
       |                 THEN u - 18446744073709551616::HUGEINT ELSE u END AS BIGINT) AS dhash
       |FROM raw ORDER BY media_id""".stripMargin
  }

  // ---- oracle SQL ----

  /** Word-3-gram distinct shingle list, DuckDB-side (mirrors
    * TextOps.wordNGrams + array_distinct).
    */
  private val ShinglesSql =
    "list_distinct(list_transform(range(0, greatest(len(string_split(text,' '))-2, 0)), " +
      "i -> array_to_string(string_split(text,' ')[i+1:i+3], ' ')))"

  private val ShCte =
    s"sh AS (SELECT doc_id, unnest($ShinglesSql) AS sh FROM documents)"

  /** Guarded shingle CTE chain: replays Dedup.hotShingles + the
    * `array_except(sh, lit(hot))` guard that [[docsWithShingles]] composes
    * into every jaccard-family gate — a shingle in MORE than
    * HotShingleFrac of docs is removed from every doc before any pair
    * math. With the raw [[ShCte]] the cross-engine hash silently depended
    * on the fixture having no hot shingles; with this chain the oracle is
    * exact on ANY fixture, boilerplate or not (the strict `>` hot bar ==
    * the `df <= n*frac` keep filter here). Docs whose every shingle is hot
    * simply have no `sh` rows — same as the Spark side, whose signature /
    * postings pipelines all start from an explode.
    */
  private val GuardedShCte =
    s"""sh0 AS (SELECT doc_id, unnest($ShinglesSql) AS sh FROM documents),
       |shtot AS (SELECT count(*) AS n FROM documents),
       |shdf AS (SELECT sh, count(*) AS df FROM sh0 GROUP BY sh),
       |sh AS (SELECT s.doc_id, s.sh FROM sh0 s JOIN shdf d USING (sh)
       |       CROSS JOIN shtot WHERE d.df <= shtot.n * $HotShingleFrac)""".stripMargin

  /** Guarded per-doc shingle SET (list form) — the guarded counterpart of
    * the inline `sets AS (SELECT doc_id, $ShinglesSql AS s ...)` used by
    * the minhash verify/calibration oracles. Built from the guarded `sh`
    * rows, so it must appear after [[GuardedShCte]] in the WITH chain;
    * only docs with >= 1 surviving shingle appear, which matches the
    * candidate side (a doc with no shingles signs no bands in either
    * engine).
    */
  private val GuardedSetsCte =
    "sets AS (SELECT doc_id, list(sh) AS s FROM sh GROUP BY doc_id)"

  /** Winnowing fingerprint CTE chain, DuckDB-side (mirrors
    * Dedup.winnowFingerprints at k=3, w=4: ordered gram list, 60-bit md5
    * hashes, per-window list_min over 1-based inclusive slices, distinct
    * values per doc).
    */
  private val WinnowFpCte =
    s"""h AS (
       |  SELECT doc_id, list_transform(
       |    list_transform(range(0, greatest(len(string_split(text, ' ')) - ${WinnowK - 1}, 0)),
       |      i -> array_to_string(string_split(text, ' ')[i+1:i+$WinnowK], ' ')),
       |    g -> ('0x' || substr(md5(g), 1, 15))::BIGINT) AS hs
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, list_transform(
       |    range(1, greatest(len(hs) - ${WinnowW - 1}, 0) + 1),
       |    i -> list_min(hs[i:i+${WinnowW - 1}])) AS mins
       |  FROM h),
       |f AS (SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM m)""".stripMargin

  /** DSIR feature instances, DuckDB-side (mirrors Dsir.features: word
    * unigrams + bigrams per instance; NULL text contributes no rows).
    */
  /** The embedded Gumbel quantile table as a SQL list literal (the same
    * integers [[Dsir.gumbelTableMicro]] puts in the Spark plan).
    */
  private lazy val GumbelTableSql: String =
    Dsir.gumbelTableMicro.mkString("[", ", ", "]")

  private val DsirFtCte =
    "ft AS (SELECT doc_id, unnest(list_concat(string_split(text, ' '), " +
      "list_transform(range(0, greatest(len(string_split(text, ' ')) - 1, 0)), " +
      "i -> array_to_string(string_split(text, ' ')[i+1:i+2], ' ')))) AS f " +
      "FROM documents)"

  /** The DSIR fit replay (consumes `ft`): target/raw bucket counts, totals,
    * and the fixed-point smoothed-ratio weight over the FULL bucket range —
    * Dsir.importanceWeights' exact integer arithmetic (`//` = Spark's `div`
    * on these non-negative operands).
    */
  private val DsirWCtes =
    s"""tc AS (
       |  SELECT ('0x' || substr(md5(f), 1, 15))::BIGINT % $DsirBuckets AS bucket,
       |         count(*)::BIGINT AS nt
       |  FROM ft WHERE doc_id % 7 = 0 GROUP BY 1),
       |rc AS (
       |  SELECT ('0x' || substr(md5(f), 1, 15))::BIGINT % $DsirBuckets AS bucket,
       |         count(*)::BIGINT AS nr
       |  FROM ft WHERE doc_id % 7 <> 0 GROUP BY 1),
       |tot AS (
       |  SELECT (SELECT coalesce(sum(nt), 0) FROM tc) AS tt,
       |         (SELECT coalesce(sum(nr), 0) FROM rc) AS tr),
       |w AS (
       |  SELECT b.bucket,
       |         ((coalesce(tc.nt, 0) + 1) * 1000000 // (tot.tt + $DsirBuckets))
       |           * 1000000
       |           // greatest((coalesce(rc.nr, 0) + 1) * 1000000
       |                      // (tot.tr + $DsirBuckets), 1) AS w
       |  FROM (SELECT unnest(range($DsirBuckets))::BIGINT AS bucket) b
       |  LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket), tot)""".stripMargin

  /** One streamed-ingest epoch replayed in SQL (batch = docs with
    * doc_id % 4 == `mod`): within-batch jaccard pairs drop the b side
    * (Dedup.survivors), the within-survivors then dedup against the
    * even-id corpus dropping the a side (Dedup.incrementalSurvivors) —
    * CorpusIngest.processBatch's exact chain. CTE names carry `sfx` so two
    * epochs share one WITH (and the shared sh/sizes CTEs).
    */
  private def streamedEpochSql(mod: Int, sfx: String): String =
    s"""w$sfx AS (
       |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS inter
       |  FROM sh l JOIN sh r ON l.sh = r.sh AND l.doc_id < r.doc_id
       |  WHERE l.doc_id % 4 = $mod AND r.doc_id % 4 = $mod
       |  GROUP BY 1, 2),
       |wd$sfx AS (
       |  SELECT DISTINCT b FROM w$sfx
       |  JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
       |  WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= $JaccardTau),
       |ws$sfx AS (
       |  SELECT doc_id FROM documents
       |  WHERE doc_id % 4 = $mod AND doc_id NOT IN (SELECT b FROM wd$sfx)),
       |x$sfx AS (
       |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS inter
       |  FROM sh l JOIN sh r ON l.sh = r.sh
       |  WHERE l.doc_id IN (SELECT doc_id FROM ws$sfx) AND r.doc_id % 2 = 0
       |  GROUP BY 1, 2),
       |xd$sfx AS (
       |  SELECT DISTINCT a FROM x$sfx
       |  JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
       |  WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= $JaccardTau),
       |s$sfx AS (
       |  SELECT doc_id FROM ws$sfx WHERE doc_id NOT IN (SELECT a FROM xd$sfx))"""
      .stripMargin

  private val JaccardPairsSql =
    s"""WITH $GuardedShCte,
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS inter
       |  FROM sh l JOIN sh r ON l.sh = r.sh AND l.doc_id < r.doc_id
       |  GROUP BY 1, 2)
       |SELECT a, b, inter, sa.sz AS size_a, sb.sz AS size_b,
       |       inter::DOUBLE / (sa.sz + sb.sz - inter) AS jaccard
       |FROM inter JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
       |WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= $JaccardTau""".stripMargin

  private def minhashOracle: String = minhashPairsOracle("l.doc_id < r.doc_id")

  /** Minhash+LSH pair oracle, parameterized on the candidate predicate:
    * `l < r` for the self-join tier, a parity split for the incremental
    * batch-vs-corpus tier.
    */
  private def minhashPairsOracle(candPredicate: String): String = {
    // 60-bit long minhash (numeric min == fixed-width-hex min); band keys
    // concatenate the decimal renderings — mirrors Dedup.minhashSignatures
    val mins = (0 until 16).map { j =>
      s"min(('0x' || substr(md5('$j|' || sh), 1, 15))::BIGINT) AS h$j"
    }.mkString(", ")
    val bandRows = (0 until 4).map { b =>
      val cols = (b * 4 until b * 4 + 4).map(j => s"h$j::VARCHAR").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($cols) AS key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH $GuardedShCte,
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandRows),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND $candPredicate),
       |$GuardedSetsCte,
       |v AS (
       |  SELECT a, b, CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS inter,
       |         len(sa.s) AS sza, len(sb.s) AS szb
       |  FROM cand JOIN sets sa ON a = sa.doc_id JOIN sets sb ON b = sb.doc_id)
       |SELECT a, b, inter::DOUBLE / (sza + szb - inter) AS jaccard
       |FROM v WHERE inter::DOUBLE / (sza + szb - inter) >= $JaccardTau
       |ORDER BY a, b""".stripMargin
  }

  /** Calibration oracle: the minhash pipeline replay (same sig/bands/cand
    * CTEs as [[minhashPairsOracle]]) extended with the 16-component
    * agreement estimator and the untruncated exact Jaccard per candidate.
    */
  private def minhashCalibrationOracle: String = {
    val mins = (0 until 16).map { j =>
      s"min(('0x' || substr(md5('$j|' || sh), 1, 15))::BIGINT) AS h$j"
    }.mkString(", ")
    val bandRows = (0 until 4).map { b =>
      val cols = (b * 4 until b * 4 + 4).map(j => s"h$j::VARCHAR").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($cols) AS key FROM sig"
    }.mkString("\n  UNION ALL ")
    val agree = (0 until 16)
      .map(j => s"CASE WHEN sa.h$j = sb.h$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $GuardedShCte,
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandRows),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bands l JOIN bands r
       |    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
       |est AS (
       |  SELECT c.a, c.b, CAST($agree AS DOUBLE) / 16.0 AS est_jaccard
       |  FROM cand c JOIN sig sa ON c.a = sa.doc_id JOIN sig sb ON c.b = sb.doc_id),
       |$GuardedSetsCte,
       |v AS (
       |  SELECT e.a, e.b, e.est_jaccard,
       |         CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS inter,
       |         len(sa.s) AS sza, len(sb.s) AS szb
       |  FROM est e JOIN sets sa ON e.a = sa.doc_id JOIN sets sb ON e.b = sb.doc_id)
       |SELECT a, b, est_jaccard,
       |       inter::DOUBLE / (sza + szb - inter) AS jaccard,
       |       abs(est_jaccard - inter::DOUBLE / (sza + szb - inter)) AS abs_err
       |FROM v ORDER BY a, b""".stripMargin
  }

  private def simhashOracle: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
      |h AS (SELECT doc_id, ('0x' || substr(md5(tk), 1, 15))::BIGINT AS h FROM tok),
      |bits AS (
      |  SELECT doc_id, bt.b AS b,
      |         sum(CASE WHEN (h >> bt.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      |  FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS b) bt
      |  GROUP BY doc_id, bt.b),
      |sig AS (
      |  SELECT doc_id,
      |         CAST(sum(CASE WHEN vote >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sig
      |  FROM bits GROUP BY doc_id),
      |banded AS (
      |  SELECT doc_id, sig, bs.band AS band, (sig >> (bs.band * 15)) & 32767 AS key
      |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bs),
      |cand AS (
      |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b, l.sig AS sig_a, r.sig AS sig_b
      |  FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)
      |SELECT a, b, CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
      |FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
      |ORDER BY a, b""".stripMargin

  /** One Lloyd iteration in DuckDB SQL: argmin assignment against `prev`,
    * per-position means rounded to the 1e-6 grid, empty clusters keeping
    * their previous centroid — mirrors `AnnIndex.kmeansCentroids` exactly.
    */
  private def kmeansIterSql(prev: String, n: Int): String =
    s"""a$n AS (
       |  SELECT vec_id, v, centroid FROM (
       |    SELECT e.vec_id, e.v, c.cid AS centroid,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             1 - array_cosine_similarity(e.v, c.cv) ASC, c.cid ASC) AS rn
       |    FROM e CROSS JOIN $prev c) WHERE rn = 1),
       |m$n AS (
       |  SELECT centroid AS cid, p.p AS p, round(avg(v[CAST(p.p AS INT) + 1]), 6) AS m
       |  FROM a$n CROSS JOIN (SELECT unnest(range(0, 64)) AS p) p
       |  GROUP BY 1, 2),
       |c$n AS (
       |  SELECT cid, list(m ORDER BY p)::DOUBLE[64] AS cv FROM m$n GROUP BY cid
       |  UNION ALL
       |  SELECT cid, cv FROM $prev WHERE cid NOT IN (SELECT DISTINCT centroid FROM a$n))""".stripMargin

  /** One per-subspace PQ Lloyd round in DuckDB SQL: packed-long argmin
    * assignment against `prev` (the engine's exact key arithmetic incl.
    * the distance clamp), per-position means rounded to the 1e-6 grid,
    * empty entries keeping their previous position — mirrors
    * `ProductQuantizer.trainedCodebooks` exactly. Expects a `sub` CTE of
    * (vec_id, m, sv DOUBLE[8]).
    */
  private def pqTrainIterSql(prev: String, n: Int): String =
    s"""a$n AS (
       |  SELECT s.vec_id, s.m,
       |         min(CAST(floor(least(array_distance(s.sv, c.cv), 2000.0)
       |             * 1000000000000.0) AS BIGINT) * 4096 + c.j) % 4096 AS j
       |  FROM sub s JOIN $prev c ON s.m = c.m
       |  GROUP BY s.vec_id, s.m),
       |m$n AS (
       |  SELECT a.m, a.j, p.p AS p, round(avg(s.sv[CAST(p.p AS INT) + 1]), 6) AS mv
       |  FROM a$n a JOIN sub s ON a.vec_id = s.vec_id AND a.m = s.m
       |  CROSS JOIN (SELECT unnest(range(0, 8)) AS p) p
       |  GROUP BY 1, 2, 3),
       |cb$n AS (
       |  SELECT m, j, list(mv ORDER BY p)::DOUBLE[8] AS cv FROM m$n GROUP BY m, j
       |  UNION ALL
       |  SELECT c.m, c.j, c.cv FROM $prev c
       |  WHERE NOT EXISTS (SELECT 1 FROM a$n a WHERE a.m = c.m AND a.j = c.j))""".stripMargin

  /** Query ids for `ann_graph_batch_topk` — shared between the engine
    * query and the generated oracle so the two can never drift.
    */
  private val GraphBatchQids: Seq[Long] = Seq(1L, 7L, 42L)

  /** One beam-search round in DuckDB SQL: frontier = best `beam` visited
    * nodes not yet expanded (the engine's tabu set), expand their
    * out-edges, score the reached vectors, min-dedup into the visited set
    * — the round of the engine's one probe loop (`GraphAnn.probeLoop`,
    * behind `pointProbeTopK` and `beamSearchTopKBatch`). Expects CTEs `e`
    * (vec_id, v), `q` (v), `edges` (src, dst) and `v{n-1}` (id, d).
    * `sfx` namespaces the per-round CTEs (and the query CTE `q$sfx`) so a
    * BATCH oracle can replay the identical round chain once per query id
    * inside one WITH, sharing the build CTEs (e/cents/assign/edges).
    */
  private def graphRoundSql(n: Int, beam: Int, k: Int, sfx: String = ""): String = {
    // rounds >= 2 carry the engine's HNSW convergence guard
    // (GraphAnn.converged): the round's frontier is empty — and with it
    // every later round — once no current-top-k node remains unexpanded.
    // Identical rule both sides, so early exit cannot break the hash gate.
    val notExpanded = if (n == 1) "" else
      s""" WHERE id NOT IN (SELECT id FROM x${n - 1}$sfx)
         |          AND EXISTS (SELECT 1 FROM (SELECT id FROM v${n - 1}$sfx
         |                      ORDER BY d ASC NULLS LAST, id ASC LIMIT $k) tk
         |                      WHERE tk.id NOT IN (SELECT id FROM x${n - 1}$sfx))""".stripMargin
    val xDef =
      if (n == 1) s"SELECT id FROM f1$sfx"
      else s"SELECT id FROM x${n - 1}$sfx UNION SELECT id FROM f$n$sfx"
    // every CTE here is referenced by LATER rounds too — AS MATERIALIZED is
    // load-bearing: DuckDB inlines plain CTEs at each reference, which makes
    // the unrolled-round chain EXPONENTIAL in evaluation cost (measured:
    // 633 s for 4 rounds at sf0.1; materialized: sub-second). Same results,
    // linear evaluation.
    s"""f$n$sfx AS MATERIALIZED (SELECT id, d FROM v${n - 1}$sfx$notExpanded
       |        ORDER BY d ASC NULLS LAST, id ASC LIMIT $beam),
       |x$n$sfx AS MATERIALIZED ($xDef),
       |n$n$sfx AS MATERIALIZED (SELECT DISTINCT ed.dst AS id FROM f$n$sfx f JOIN edges ed ON ed.src = f.id),
       |v$n$sfx AS MATERIALIZED (
       |  SELECT id, min(d) AS d FROM (
       |    SELECT id, d FROM v${n - 1}$sfx
       |    UNION ALL
       |    SELECT n.id, 1 - array_cosine_similarity(e.v, (SELECT v FROM q$sfx)) AS d
       |    FROM n$n$sfx n JOIN e ON e.vec_id = n.id) GROUP BY id)""".stripMargin
  }

  /** The trained-codebook PQ probe replayed end to end (stride init, two
    * Lloyd rounds, assignment / ADC / rerank against the trained cb2) —
    * shared by `ann_pq_trained_topk` and its autoprobe-substitution twin.
    */
  private def annPqTrainedOracle: String =
    s"""WITH sub AS (
       |  SELECT vec_id, m,
       |         list_transform(embedding[m*8+1:m*8+8],
       |                        x -> CAST(x AS DOUBLE))::DOUBLE[8] AS sv
       |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 8)) AS m)),
       |cb0 AS (SELECT dense_rank() OVER (ORDER BY vec_id) - 1 AS j, m, sv AS cv FROM sub WHERE vec_id % 64 = 0),
       |${pqTrainIterSql("cb0", 1)},
       |${pqTrainIterSql("cb1", 2)},
       |code AS (
       |  SELECT s.vec_id, s.m,
       |         min(CAST(floor(least(array_distance(s.sv, c.cv), 2000.0)
       |             * 1000000000000.0) AS BIGINT) * 4096 + c.j) % 4096 AS j
       |  FROM sub s JOIN cb2 c ON s.m = c.m
       |  GROUP BY s.vec_id, s.m),
       |q AS (SELECT m, sv AS qv FROM sub WHERE vec_id = 1),
       |dt AS (
       |  SELECT c.m, c.j,
       |         CAST(floor(array_distance(c.cv, q.qv) * array_distance(c.cv, q.qv)
       |              * 1000000.0) AS BIGINT) AS dq
       |  FROM cb2 c JOIN q ON c.m = q.m),
       |adc AS (
       |  SELECT co.vec_id, CAST(sum(dt.dq) AS BIGINT) AS adc
       |  FROM code co JOIN dt ON co.m = dt.m AND co.j = dt.j
       |  GROUP BY co.vec_id),
       |cand AS (SELECT vec_id FROM adc ORDER BY adc ASC, vec_id ASC LIMIT 100),
       |fq AS (SELECT embedding FROM embeddings WHERE vec_id = 1)
       |SELECT e.vec_id,
       |       1 - array_cosine_similarity(e.embedding::DOUBLE[64],
       |           (SELECT embedding FROM fq)::DOUBLE[64]) AS cos_dist
       |FROM embeddings e JOIN cand USING (vec_id)
       |ORDER BY cos_dist ASC NULLS LAST, vec_id ASC LIMIT 10""".stripMargin

  /** The graph-ANN build + probe replayed end to end: stride-centroid
    * assignment, per-bucket kNN edges + centroid kNN edges (both
    * (dist asc, id asc)-ranked, degree-bounded), then `DefaultRounds`
    * unrolled beam-search rounds.
    */
  private def annGraphOracle: String = annGraphOracle("")

  /** The flat-build replay over an optionally REDUCED corpus (`ePred`, a
    * `WHERE ...` tail on the base CTE) — the delete gate replays the
    * rebuild over exactly the surviving rows.
    */
  private def annGraphOracle(ePred: String): String = {
    val degree = GraphAnn.DefaultDegree
    val beam = GraphAnn.DefaultBeam
    val rounds = (1 to GraphAnn.DefaultRounds)
      .map(graphRoundSql(_, beam, 10)).mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[64] AS v FROM embeddings$ePred),
       |q AS MATERIALIZED (SELECT v FROM e WHERE vec_id = 1),
       |cents AS MATERIALIZED (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 64 = 0),
       |assign AS MATERIALIZED (
       |  SELECT vec_id, centroid FROM (
       |    SELECT e.vec_id, c.cid AS centroid,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             1 - array_cosine_similarity(e.v, c.cv) ASC, c.cid ASC) AS rn
       |    FROM e CROSS JOIN cents c) WHERE rn = 1),
       |bedges AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT l.vec_id AS src, r.vec_id AS dst,
       |           row_number() OVER (PARTITION BY l.vec_id ORDER BY
       |             1 - array_cosine_similarity(le.v, re.v) ASC, r.vec_id ASC) AS rn
       |    FROM assign l JOIN assign r ON l.centroid = r.centroid AND l.vec_id <> r.vec_id
       |    JOIN e le ON le.vec_id = l.vec_id JOIN e re ON re.vec_id = r.vec_id)
       |  WHERE rn <= $degree),
       |cedges AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT l.cid AS src, r.cid AS dst,
       |           row_number() OVER (PARTITION BY l.cid ORDER BY
       |             1 - array_cosine_similarity(l.cv, r.cv) ASC, r.cid ASC) AS rn
       |    FROM cents l JOIN cents r ON l.cid <> r.cid)
       |  WHERE rn <= $degree),
       |edges AS MATERIALIZED (SELECT src, dst FROM bedges UNION ALL SELECT src, dst FROM cedges),
       |v0 AS MATERIALIZED (
       |  SELECT cid AS id, 1 - array_cosine_similarity(cv, (SELECT v FROM q)) AS d
       |  FROM cents ORDER BY d ASC NULLS LAST, cid ASC LIMIT $beam),
       |$rounds
       |SELECT id AS vec_id, d AS cos_dist FROM v${GraphAnn.DefaultRounds}
       |ORDER BY d ASC NULLS LAST, id ASC LIMIT 10""".stripMargin
  }

  /** The batch probe replayed: ONE shared build (e/cents/assign/edges —
    * identical to [[annGraphOracle]]'s) and the same unrolled beam rounds
    * namespaced per query id, UNION ALL'd with a rank per query. Engine
    * row-identity per query is GraphAnnSpec's batched-vs-single assertion;
    * this gate pins the whole batch result to DuckDB.
    */
  private def annGraphBatchOracle: String = {
    val degree = GraphAnn.DefaultDegree
    val beam = GraphAnn.DefaultBeam
    val r = GraphAnn.DefaultRounds
    val perQuery = GraphBatchQids.map { qid =>
      val sfx = s"_$qid"
      val rounds = (1 to r).map(graphRoundSql(_, beam, 10, sfx)).mkString(",\n")
      s"""q$sfx AS MATERIALIZED (SELECT v FROM e WHERE vec_id = $qid),
         |v0$sfx AS MATERIALIZED (
         |  SELECT cid AS id, 1 - array_cosine_similarity(cv, (SELECT v FROM q$sfx)) AS d
         |  FROM cents ORDER BY d ASC NULLS LAST, cid ASC LIMIT $beam),
         |$rounds""".stripMargin
    }.mkString(",\n")
    val finals = GraphBatchQids.map { qid =>
      s"""SELECT CAST($qid AS BIGINT) AS query_id,
         |       row_number() OVER (ORDER BY d ASC NULLS LAST, id ASC) AS rank,
         |       id AS vec_id, d AS cos_dist
         |FROM (SELECT id, d FROM v${r}_$qid ORDER BY d ASC NULLS LAST, id ASC LIMIT 10)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[64] AS v FROM embeddings),
       |cents AS MATERIALIZED (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 64 = 0),
       |assign AS MATERIALIZED (
       |  SELECT vec_id, centroid FROM (
       |    SELECT e.vec_id, c.cid AS centroid,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             1 - array_cosine_similarity(e.v, c.cv) ASC, c.cid ASC) AS rn
       |    FROM e CROSS JOIN cents c) WHERE rn = 1),
       |bedges AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT l.vec_id AS src, r.vec_id AS dst,
       |           row_number() OVER (PARTITION BY l.vec_id ORDER BY
       |             1 - array_cosine_similarity(le.v, re.v) ASC, r.vec_id ASC) AS rn
       |    FROM assign l JOIN assign r ON l.centroid = r.centroid AND l.vec_id <> r.vec_id
       |    JOIN e le ON le.vec_id = l.vec_id JOIN e re ON re.vec_id = r.vec_id)
       |  WHERE rn <= $degree),
       |cedges AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT l.cid AS src, r.cid AS dst,
       |           row_number() OVER (PARTITION BY l.cid ORDER BY
       |             1 - array_cosine_similarity(l.cv, r.cv) ASC, r.cid ASC) AS rn
       |    FROM cents l JOIN cents r ON l.cid <> r.cid)
       |  WHERE rn <= $degree),
       |edges AS MATERIALIZED (SELECT src, dst FROM bedges UNION ALL SELECT src, dst FROM cedges),
       |$perQuery
       |SELECT query_id, rank, vec_id, cos_dist FROM ($finals)
       |ORDER BY query_id, rank""".stripMargin
  }

  /** The TIERED graph build + probe replayed end to end (superStride=128):
    * per-centroid and per-vector nearest-SUPER assignment, member argmin
    * restricted to the super bucket's centroids (`cosine_argmin`'s
    * (d, cid)-min = row_number ORDER BY d, cid), bucket kNN per level,
    * exact kNN among supers, then the same unrolled beam rounds.
    */
  private def annGraphTieredOracle: String = {
    val degree = GraphAnn.DefaultDegree
    val beam = GraphAnn.DefaultBeam
    val rounds = (1 to GraphAnn.DefaultRounds)
      .map(graphRoundSql(_, beam, 10)).mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[64] AS v FROM embeddings),
       |q AS MATERIALIZED (SELECT v FROM e WHERE vec_id = 1),
       |cents AS MATERIALIZED (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 64 = 0),
       |supers AS MATERIALIZED (SELECT vec_id AS sid, v AS sv FROM e WHERE vec_id % 128 = 0),
       |cassign AS MATERIALIZED (
       |  SELECT cid, cv, super FROM (
       |    SELECT c.cid, c.cv, s.sid AS super,
       |           row_number() OVER (PARTITION BY c.cid ORDER BY
       |             1 - array_cosine_similarity(c.cv, s.sv) ASC, s.sid ASC) AS rn
       |    FROM cents c CROSS JOIN supers s) WHERE rn = 1),
       |vassign AS MATERIALIZED (
       |  SELECT vec_id, super FROM (
       |    SELECT e.vec_id, s.sid AS super,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             1 - array_cosine_similarity(e.v, s.sv) ASC, s.sid ASC) AS rn
       |    FROM e CROSS JOIN supers s) WHERE rn = 1),
       |assign AS MATERIALIZED (
       |  SELECT vec_id, centroid FROM (
       |    SELECT va.vec_id, ca.cid AS centroid,
       |           row_number() OVER (PARTITION BY va.vec_id ORDER BY
       |             1 - array_cosine_similarity(e.v, ca.cv) ASC, ca.cid ASC) AS rn
       |    FROM vassign va
       |    JOIN e ON e.vec_id = va.vec_id
       |    JOIN cassign ca ON ca.super = va.super) WHERE rn = 1),
       |bedges AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT l.vec_id AS src, r.vec_id AS dst,
       |           row_number() OVER (PARTITION BY l.vec_id ORDER BY
       |             1 - array_cosine_similarity(le.v, re.v) ASC, r.vec_id ASC) AS rn
       |    FROM assign l JOIN assign r ON l.centroid = r.centroid AND l.vec_id <> r.vec_id
       |    JOIN e le ON le.vec_id = l.vec_id JOIN e re ON re.vec_id = r.vec_id)
       |  WHERE rn <= $degree),
       |cedges AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT l.cid AS src, r.cid AS dst,
       |           row_number() OVER (PARTITION BY l.cid ORDER BY
       |             1 - array_cosine_similarity(l.cv, r.cv) ASC, r.cid ASC) AS rn
       |    FROM cassign l JOIN cassign r ON l.super = r.super AND l.cid <> r.cid)
       |  WHERE rn <= $degree),
       |sedges AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT l.sid AS src, r.sid AS dst,
       |           row_number() OVER (PARTITION BY l.sid ORDER BY
       |             1 - array_cosine_similarity(l.sv, r.sv) ASC, r.sid ASC) AS rn
       |    FROM supers l CROSS JOIN supers r WHERE l.sid <> r.sid)
       |  WHERE rn <= $degree),
       |edges AS MATERIALIZED (
       |  SELECT src, dst FROM bedges
       |  UNION ALL SELECT src, dst FROM cedges
       |  UNION ALL SELECT src, dst FROM sedges),
       |v0 AS MATERIALIZED (
       |  SELECT cid AS id, 1 - array_cosine_similarity(cv, (SELECT v FROM q)) AS d
       |  FROM cents ORDER BY d ASC NULLS LAST, cid ASC LIMIT $beam),
       |$rounds
       |SELECT id AS vec_id, d AS cos_dist FROM v${GraphAnn.DefaultRounds}
       |ORDER BY d ASC NULLS LAST, id ASC LIMIT 10""".stripMargin
  }

  private def annKmeansOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[64] AS v FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 64 = 0),
       |${kmeansIterSql("c0", 1)},
       |${kmeansIterSql("c1", 2)},
       |probed AS (
       |  SELECT cid FROM (
       |    SELECT cid, 1 - array_cosine_similarity(cv, (SELECT v FROM e WHERE vec_id = 1)) AS d
       |    FROM c2)
       |  ORDER BY d ASC NULLS LAST, cid ASC LIMIT 4),
       |assign AS (
       |  SELECT vec_id, centroid FROM (
       |    SELECT e.vec_id, c.cid AS centroid,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             1 - array_cosine_similarity(e.v, c.cv) ASC, c.cid ASC) AS rn
       |    FROM e CROSS JOIN c2 c) WHERE rn = 1)
       |SELECT e.vec_id,
       |       1 - array_cosine_similarity(e.v, (SELECT v FROM e WHERE vec_id = 1)) AS cos_dist
       |FROM e JOIN assign a ON e.vec_id = a.vec_id
       |WHERE a.centroid IN (SELECT cid FROM probed)
       |ORDER BY cos_dist ASC NULLS LAST, e.vec_id ASC LIMIT 10""".stripMargin

  /** SemDeDup replayed in SQL: the annKmeansOracle centroid prefix (stride
    * init + two Lloyd rounds on the 1e-6 grid), argmin assignment carrying
    * the centroid distance, per-cluster (cdist, vec_id) ordering, and the
    * earlier-member cosine screen — mirrors `Dedup.semanticDedup` exactly.
    */
  private def semanticDedupOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[64] AS v FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 64 = 0),
       |${kmeansIterSql("c0", 1)},
       |${kmeansIterSql("c1", 2)},
       |assign AS (
       |  SELECT vec_id, v, centroid, cdist FROM (
       |    SELECT e.vec_id, e.v, c.cid AS centroid,
       |           1 - array_cosine_similarity(e.v, c.cv) AS cdist,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             1 - array_cosine_similarity(e.v, c.cv) ASC, c.cid ASC) AS rn
       |    FROM e CROSS JOIN c2 c) WHERE rn = 1),
       |ranked AS (
       |  SELECT vec_id, v, centroid, cdist,
       |         row_number() OVER (PARTITION BY centroid
       |           ORDER BY cdist ASC, vec_id ASC) AS rnk
       |  FROM assign),
       |dups AS (
       |  SELECT DISTINCT r.vec_id
       |  FROM ranked r JOIN ranked l
       |    ON r.centroid = l.centroid AND l.rnk < r.rnk
       |  WHERE 1 - array_cosine_similarity(r.v, l.v) <= $CosineTau)
       |SELECT r.vec_id, r.centroid, CAST(r.rnk AS BIGINT) AS rnk, r.cdist,
       |       (d.vec_id IS NOT NULL) AS is_dup
       |FROM ranked r LEFT JOIN dups d ON r.vec_id = d.vec_id
       |ORDER BY r.vec_id""".stripMargin

  /** Embedding dimensionality of the testdata `embeddings` table (64 at
    * every SF — verified by the dim probe the Spark queries run).
    */
  private val EmbeddingDim = 64

  /** Sign-LSH oracle: the deterministic hyperplanes (same splitmix64 stream
    * as `SimilarityJoin.hyperplanes`) embedded as literal DOUBLE arrays;
    * signature, banding and verification replayed in SQL. Every parameter —
    * dim, bit count, band math — derives from the same SimilarityJoin
    * constants the Spark query uses, so the two sides cannot drift apart.
    * Double literals use Scala's shortest-round-trip rendering, which DuckDB
    * parses back to the identical IEEE value.
    */
  private def simJoinLshOracle: String = simJoinLshPairsSql + "\nORDER BY a, b"

  /** The sign-LSH pair pipeline (no final ORDER BY) — shared by the
    * sim_join_lsh / sim_join_routed oracles and the embed_dedup_components
    * recursive-CTE oracle, which consumes the pairs as a CTE.
    */
  /** The sign-LSH signature -> band -> candidate CTE block over a source
    * CTE named `e(vec_id, v)` — shared by [[simJoinLshPairsSql]] (e = the
    * raw embeddings) and the embed_dedup_components oracle (e = contracted
    * representatives). Emits `p`, `sig`, `banded`, `cand`.
    */
  private def signLshCandBlockSql: String = {
    val dim = EmbeddingDim
    val nBits = SimilarityJoin.DefaultNBits
    val bands = SimilarityJoin.DefaultBands
    val rowsPerBand = nBits / bands
    val mask = (1L << rowsPerBand) - 1L
    val values = SimilarityJoin.hyperplanes(dim, nBits).zipWithIndex
      .map { case (p, i) => s"($i, [${p.mkString(", ")}]::DOUBLE[$dim])" }
      .mkString(",\n    ")
    s"""p(bit, pl) AS (VALUES
       |    $values),
       |sig AS (
       |  SELECT vec_id,
       |         CAST(sum(CASE WHEN array_inner_product(v, pl) >= 0
       |                       THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS sig
       |  FROM e CROSS JOIN p GROUP BY vec_id),
       |banded AS (
       |  SELECT vec_id, b.band AS band, (sig >> (b.band * $rowsPerBand)) & $mask AS key
       |  FROM sig CROSS JOIN (SELECT unnest(range(0, $bands)) AS band) b),
       |cand AS (
       |  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
       |  FROM banded l JOIN banded r
       |    ON l.band = r.band AND l.key = r.key AND l.vec_id < r.vec_id)""".stripMargin
  }

  private def simJoinLshPairsSql: String = {
    val dim = EmbeddingDim
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[$dim] AS v FROM embeddings),
       |$signLshCandBlockSql
       |SELECT c.a, c.b, 1 - array_cosine_similarity(ea.v, eb.v) AS cos_dist
       |FROM cand c JOIN e ea ON c.a = ea.vec_id JOIN e eb ON c.b = eb.vec_id
       |WHERE 1 - array_cosine_similarity(ea.v, eb.v) <= $CosineTau""".stripMargin
  }

  /** embed_dedup_components oracle: the SAME exact-duplicate contraction
    * Dedup.embedComponents performs (self-dup gate, min-id representative
    * per distinct vector), sign-LSH pairs over representatives, recursive-
    * CTE reachability, then member expansion — identical labeling to the
    * uncontracted pipeline (the contraction-correctness argument lives on
    * embedComponents), and the recursion stays feasible when duplicate
    * multiplicity is high (the r17 100× rung made the raw-pair replay
    * infeasible for DuckDB).
    */
  private def embedDedupComponentsOracle: String = {
    val dim = EmbeddingDim
    s"""WITH RECURSIVE
       |e0 AS (SELECT vec_id, embedding::DOUBLE[$dim] AS v FROM embeddings),
       |sd AS (SELECT vec_id, v,
       |         (1 - array_cosine_similarity(v, v)) <= $CosineTau AS selfdup
       |       FROM e0),
       |grp AS (SELECT min(vec_id) AS rep, count(*) AS m, v
       |        FROM sd WHERE selfdup GROUP BY v),
       |members AS (
       |  SELECT s.vec_id AS id, g.rep AS rep, g.m AS m
       |  FROM sd s JOIN grp g ON s.v = g.v WHERE s.selfdup
       |  UNION ALL
       |  SELECT vec_id, vec_id, 1 FROM sd WHERE NOT selfdup),
       |e AS (SELECT rep AS vec_id, v FROM grp
       |      UNION ALL
       |      SELECT vec_id, v FROM sd WHERE NOT selfdup),
       |$signLshCandBlockSql,
       |pairs AS (
       |  SELECT c.a, c.b
       |  FROM cand c JOIN e ea ON c.a = ea.vec_id JOIN e eb ON c.b = eb.vec_id
       |  WHERE 1 - array_cosine_similarity(ea.v, eb.v) <= $CosineTau),
       |edges AS (
       |  SELECT a AS src, b AS dst FROM pairs
       |  UNION
       |  SELECT b AS src, a AS dst FROM pairs),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e2.dst AS id, reach.r AS r
       |  FROM reach JOIN edges e2 ON e2.src = reach.id),
       |repcomp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
       |SELECT m.id AS vec_id, CAST(coalesce(rc.comp, m.rep) AS BIGINT) AS component
       |FROM members m LEFT JOIN repcomp rc ON m.rep = rc.id
       |WHERE m.m >= 2 OR rc.id IS NOT NULL
       |ORDER BY vec_id""".stripMargin
  }

  private val MarkersValues: String =
    TextOps.LangMarkers.map { case (l, w) => s"('$l','$w')" }.mkString(", ")

  private val StopwordList: String =
    TextOps.Stopwords.map(w => s"'$w'").mkString(", ")

  /** TextOps.qualityScore replayed in DuckDB SQL — single source for the
    * quality_docs oracle AND the curation_funnel quality gate. Single line
    * (interpolated into stripMargin templates — see [[piiSaltedSql]]'s rule).
    */
  private def qualityExprSql: String =
    "round(least(length(text)::DOUBLE / 200.0, 1.0) * 0.5" +
      " + (CASE WHEN (length(text) - length(regexp_replace(text, '[.,;:!?''\"()]', '', 'g')))::DOUBLE" +
      " / greatest(length(text), 1) < 0.2 THEN 1.0 ELSE 0.5 END) * 0.25" +
      s" + (CASE WHEN len(list_filter(string_split(text, ' '), x -> list_contains([$StopwordList], x)))::DOUBLE" +
      " / greatest(len(string_split(text, ' ')), 1) BETWEEN 0.05 AND 0.6" +
      " THEN 1.0 ELSE 0.5 END) * 0.25, 6)"

  def oracleSql: Map[String, String] = oracleSqlBase +
    // the IVF-PQ tier under plan substitution answers with the SAME probe
    // as ann_ivfpq_topk, so its oracle is the same replica (aliased after
    // construction — a literal self-reference inside the Map can't see it)
    ("ann_autoprobe_ivfpq_topk" -> oracleSqlBase("ann_ivfpq_topk")) +
    // the FILE-source ingest gate replays the identical two epochs through
    // spark.readStream.parquet restarts, so the survivor set is the same
    ("streamed_file_ingest_survivors" ->
      oracleSqlBase("streamed_ingest_survivors"))

  private lazy val oracleSqlBase: Map[String, String] = Map(
    "ngram_jaccard_join" -> (JaccardPairsSql + "\nORDER BY a, b"),
    "minhash_lsh_pairs" -> minhashOracle,
    "incremental_lsh_pairs" ->
      minhashPairsOracle("l.doc_id % 2 = 1 AND r.doc_id % 2 = 0"),
    // the salted CTE aliases `text`, so ShinglesSql resolves against the
    // the cache is a byte-exact write-through copy of the fetch result, so
    // the oracle computes the same fingerprints from the source directly —
    // the hash matches iff the CSV cache roundtrip was the identity
    "cache_or_fetch" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(('0x' || substr(md5('doc-' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) AS BIGINT) AS title_fp_sum,
        |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_fp_sum
        |FROM documents""".stripMargin,
    // boilerplate-salted text without parameterization
    "boilerplate_filtered_pairs" ->
      s"""WITH salted AS (SELECT doc_id, text || '$BoilerplateSalt' AS text FROM documents),
         |sh0 AS (SELECT doc_id, unnest($ShinglesSql) AS sh FROM salted),
         |tot AS (SELECT count(*) AS n FROM salted),
         |dfreq AS (SELECT sh, count(*) AS df FROM sh0 GROUP BY sh),
         |sh AS (SELECT s.doc_id, s.sh FROM sh0 s JOIN dfreq d USING (sh)
         |       CROSS JOIN tot WHERE d.df <= tot.n * 0.25),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS inter
         |          FROM sh l JOIN sh r ON l.sh = r.sh AND l.doc_id < r.doc_id
         |          GROUP BY 1, 2)
         |SELECT a, b, inter, sa.sz AS size_a, sb.sz AS size_b,
         |       inter::DOUBLE / (sa.sz + sb.sz - inter) AS jaccard
         |FROM inter JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
         |WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= $JaccardTau
         |ORDER BY a, b""".stripMargin,
    "near_dedup_survivors" ->
      s"""WITH pairs AS ($JaccardPairsSql)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT b FROM pairs)
         |ORDER BY doc_id""".stripMargin,
    "dedup_components" ->
      s"""WITH RECURSIVE pairs AS ($JaccardPairsSql),
         |edges AS (
         |  SELECT a AS src, b AS dst FROM pairs
         |  UNION
         |  SELECT b AS src, a AS dst FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst AS id, reach.r AS r
         |  FROM reach JOIN edges e ON e.src = reach.id)
         |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS component
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // the streamed maintenance must ALSO equal from-scratch clustering:
    // the per-epoch pair sets union to the full jaccard pair set (gate
    // comment lays out the cover), same replica as dedup_components
    "streamed_components" ->
      s"""WITH RECURSIVE pairs AS ($JaccardPairsSql),
         |edges AS (
         |  SELECT a AS src, b AS dst FROM pairs
         |  UNION
         |  SELECT b AS src, a AS dst FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst AS id, reach.r AS r
         |  FROM reach JOIN edges e ON e.src = reach.id)
         |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS component
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // the maintained labeling after the takedown epoch must equal the
    // from-scratch clustering of the SURVIVING pair set: pairwise Jaccard
    // is independent of other docs, so restricting the full pair set to
    // surviving endpoints IS the survivors' pair set — same recursive-CTE
    // replay over that restriction
    "streamed_cluster_delete" ->
      s"""WITH RECURSIVE pairs AS ($JaccardPairsSql),
         |surv AS (SELECT a, b FROM pairs WHERE a % 5 <> 0 AND b % 5 <> 0),
         |edges AS (
         |  SELECT a AS src, b AS dst FROM surv
         |  UNION
         |  SELECT b AS src, a AS dst FROM surv),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst AS id, reach.r AS r
         |  FROM reach JOIN edges e ON e.src = reach.id)
         |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS component
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // the incremental merge must equal the from-scratch clustering: the
    // engine's old ∪ batch pair sets union to the full jaccard pair set,
    // so the oracle is dedup_components' full recursive-CTE replay
    "incremental_components" ->
      s"""WITH RECURSIVE pairs AS ($JaccardPairsSql),
         |edges AS (
         |  SELECT a AS src, b AS dst FROM pairs
         |  UNION
         |  SELECT b AS src, a AS dst FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst AS id, reach.r AS r
         |  FROM reach JOIN edges e ON e.src = reach.id)
         |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS component
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    "dedup_cluster_sizes" ->
      s"""WITH RECURSIVE pairs AS ($JaccardPairsSql),
         |edges AS (
         |  SELECT a AS src, b AS dst FROM pairs
         |  UNION
         |  SELECT b AS src, a AS dst FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst AS id, reach.r AS r
         |  FROM reach JOIN edges e ON e.src = reach.id),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |sizes AS (SELECT component, count(*)::BIGINT AS cluster_size
         |          FROM comp GROUP BY component)
         |SELECT cluster_size, count(*)::BIGINT AS n_clusters
         |FROM sizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    // integer-exact PageRank replayed iteration by iteration (see
    // pageRankCtes): same fixed-point units, same integer divisions —
    // bit-exact regardless of either engine's aggregation order
    "pagerank_centrality" ->
      s"""WITH pairs AS ($JaccardPairsSql),
         |${pageRankCtes(PrIters)}
         |SELECT id AS doc_id, pr FROM r$PrIters ORDER BY doc_id""".stripMargin,
    // per-cluster argmax of the replayed PageRank over the recursive-CTE
    // components — the canonical-representative policy end to end
    "central_rep_docs" ->
      s"""WITH RECURSIVE pairs AS ($JaccardPairsSql),
         |${pageRankCtes(PrIters)},
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst AS id, reach.r AS r
         |  FROM reach JOIN edges e ON e.src = reach.id),
         |comp AS (SELECT id, CAST(min(r) AS BIGINT) AS component FROM reach GROUP BY id)
         |SELECT component, doc_id, pr FROM (
         |  SELECT c.component, p.id AS doc_id, p.pr,
         |         row_number() OVER (PARTITION BY c.component
         |                            ORDER BY p.pr DESC, p.id ASC) AS rn
         |  FROM r$PrIters p JOIN comp c ON c.id = p.id)
         |WHERE rn = 1 ORDER BY component""".stripMargin,
    // singletons (docs in no pair) + the per-cluster centrality argmax —
    // the composed dedup policy replayed end to end
    "central_dedup_survivors" ->
      s"""WITH RECURSIVE pairs AS ($JaccardPairsSql),
         |${pageRankCtes(PrIters)},
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst AS id, reach.r AS r
         |  FROM reach JOIN edges e ON e.src = reach.id),
         |comp AS (SELECT id, CAST(min(r) AS BIGINT) AS component FROM reach GROUP BY id),
         |reps AS (
         |  SELECT doc_id FROM (
         |    SELECT c.component, p.id AS doc_id,
         |           row_number() OVER (PARTITION BY c.component
         |                              ORDER BY p.pr DESC, p.id ASC) AS rn
         |    FROM r$PrIters p JOIN comp c ON c.id = p.id)
         |  WHERE rn = 1)
         |SELECT doc_id FROM (
         |  SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id FROM nodes)
         |  UNION ALL
         |  SELECT doc_id FROM reps)
         |ORDER BY doc_id""".stripMargin,
    "simhash_pairs" -> simhashOracle,
    "media_pipeline" -> mediaPipelineOracle,
    "image_dhash" -> dhashOracle,
    "media_onnx_features" -> mediaOnnxFeaturesOracle,
    "audio_frame_stats" -> audioFrameStatsOracle,
    // byte-identical payloads <=> identical formula class: survivors are
    // min(doc_id) per class, no decoding needed
    "media_dedup" ->
      """SELECT min(doc_id) AS media_id FROM documents
        |GROUP BY doc_id % 100 ORDER BY media_id""".stripMargin,
    // Bloom contract: the exact counts plus the two guarantees as constants
    // — the Spark side can only reproduce them if the probe honors the
    // no-false-negative / bounded-fp contract
    "bloom_prefilter_gate" ->
      """WITH fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |corpus AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_batch,
        |       CAST(sum(CASE WHEN c.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
        |       CAST(0 AS BIGINT) AS false_negatives,
        |       TRUE AS fp_ok
        |FROM fp LEFT JOIN corpus c ON fp.fp = c.fp""".stripMargin,
    // plain set difference — the Bloom fast path must be invisible in rows
    "bloom_dedup_survivors" ->
      """WITH fp AS (SELECT doc_id, md5(text) AS fp FROM documents)
        |SELECT doc_id FROM fp
        |WHERE doc_id % 2 = 1
        |  AND fp NOT IN (SELECT fp FROM fp WHERE doc_id % 2 = 0)
        |ORDER BY doc_id""".stripMargin,
    // both streamed epochs' full dedup chains replayed — the engine's
    // MemoryStream run must land on exactly this set
    "streamed_ingest_survivors" ->
      s"""WITH $ShCte,
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |${streamedEpochSql(1, "e1")},
         |${streamedEpochSql(3, "e2")}
         |SELECT doc_id FROM (
         |  SELECT doc_id FROM se1 UNION ALL SELECT doc_id FROM se2)
         |ORDER BY doc_id""".stripMargin,
    // session_window replayed as gaps-and-islands: a new session starts
    // iff the event is >= gap past the previous event (Spark's session
    // end is last-event + gap, half-open); DECIMAL session sums keep the
    // aggregate order-free so stream == batch bit-for-bit
    "streamed_sessions" ->
      """WITH e AS (SELECT ts, user_id, CAST(value AS DECIMAL(18,2)) AS value
        |           FROM events),
        |m AS (SELECT user_id, ts, value,
        |        CASE WHEN lag(ts) OVER w IS NULL
        |               OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT user_id, ts, value,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |          ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM m)
        |SELECT min(ts) AS session_start,
        |       max(ts) + INTERVAL 30 MINUTE AS session_end,
        |       user_id, count(*)::BIGINT AS n_events,
        |       CAST(sum(value) AS DOUBLE) AS session_value
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    // the stream-stream interval join replays as the plain batch range
    // join: every (purchase, view-in-preceding-30min) pair of the same
    // user, boundary-inclusive on both ends exactly as the stream side
    "streamed_attribution" ->
      """SELECT p.event_id, p.user_id, p.ts AS p_ts, v.ts AS v_ts
        |FROM events p JOIN events v ON p.user_id = v.user_id
        |  AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1800 SECONDS
        |WHERE p.event_type = 'purchase' AND v.event_type = 'view'
        |ORDER BY p.event_id, v.ts""".stripMargin,
    // the final mapGroupsWithState snapshot per user == the batch groupBy;
    // cents = floor(value*100 + 0.5) replays the gate's exact-integer
    // arithmetic (identical double ops on both engines)
    "streamed_profiles" -> streamedProfilesOracle,
    // the v2 state API must land on the identical batch truth
    "streamed_profiles_v2" -> streamedProfilesOracle,
    "incremental_dedup" ->
      s"""WITH $GuardedShCte,
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS inter
         |  FROM sh l JOIN sh r ON l.sh = r.sh
         |  WHERE l.doc_id % 2 = 1 AND r.doc_id % 2 = 0
         |  GROUP BY 1, 2),
         |matched AS (
         |  SELECT DISTINCT a FROM inter
         |  JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
         |  WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= $JaccardTau)
         |SELECT doc_id FROM documents
         |WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT a FROM matched)
         |ORDER BY doc_id""".stripMargin,
    // identical semantics to incremental_dedup — the at-rest bucketed
    // postings layout must not change a single row
    "incremental_postings_dedup" ->
      s"""WITH $GuardedShCte,
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS inter
         |  FROM sh l JOIN sh r ON l.sh = r.sh
         |  WHERE l.doc_id % 2 = 1 AND r.doc_id % 2 = 0
         |  GROUP BY 1, 2),
         |matched AS (
         |  SELECT DISTINCT a FROM inter
         |  JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
         |  WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= $JaccardTau)
         |SELECT doc_id FROM documents
         |WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT a FROM matched)
         |ORDER BY doc_id""".stripMargin,
    "sim_join_lsh" -> simJoinLshOracle,
    // routed entrypoint forced above maxExactRows → must equal the LSH tier
    "sim_join_routed" -> simJoinLshOracle,
    "embed_dedup_components" -> embedDedupComponentsOracle,
    "ann_kmeans_topk" -> annKmeansOracle,
    "semantic_dedup" -> semanticDedupOracle,
    "ann_graph_topk" -> annGraphOracle,
    // append == rebuild by construction, so the incremental gate replays
    // the FULL build (the strongest form: the splice only hash-matches if
    // the spliced artifact equals a from-scratch one)
    "ann_graph_incremental_topk" -> annGraphOracle,
    // delete == reduced-corpus rebuild by construction: the oracle replays
    // the full build chain over exactly the surviving rows
    "ann_graph_delete_topk" -> annGraphOracle(" WHERE vec_id % 4 <> 3"),
    "ann_graph_batch_topk" -> annGraphBatchOracle,
    "ann_graph_tiered_topk" -> annGraphTieredOracle,
    // same append == rebuild construction, tiered geometry: the full
    // hierarchical-build replay only matches if the member-level splice
    // (frozen upper levels) equals a from-scratch tiered build
    "ann_graph_tiered_incremental_topk" -> annGraphTieredOracle,
    "sim_join_cosine" ->
      s"""SELECT l.vec_id AS a, r.vec_id AS b,
         |       1 - array_cosine_similarity(l.embedding::DOUBLE[64], r.embedding::DOUBLE[64]) AS cos_dist
         |FROM embeddings l JOIN embeddings r ON l.vec_id < r.vec_id
         |WHERE 1 - array_cosine_similarity(l.embedding::DOUBLE[64], r.embedding::DOUBLE[64]) <= $CosineTau
         |ORDER BY a, b""".stripMargin,
    "langid_docs" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
         |m(lang, word) AS (VALUES $MarkersValues),
         |counts AS (
         |  SELECT doc_id, lang, count(*) AS cnt FROM tok JOIN m ON tk = word
         |  GROUP BY doc_id, lang),
         |best AS (
         |  SELECT doc_id, lang FROM (
         |    SELECT doc_id, lang,
         |           row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, lang ASC) AS rn
         |    FROM counts) WHERE rn = 1)
         |SELECT d.doc_id, coalesce(b.lang, 'und') AS lang_guess
         |FROM documents d LEFT JOIN best b USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "quality_docs" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(string_split_regex(text, '[^A-Za-z0-9]+'), x -> len(x) > 0)) AS BIGINT)
         |    + CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS n_bpe,
         |  (length(text) - length(regexp_replace(text, '[.,;:!?''"()]', '', 'g')))::DOUBLE
         |    / greatest(length(text), 1) AS punct_ratio,
         |  len(list_filter(string_split(text, ' '), x -> list_contains([$StopwordList], x)))::DOUBLE
         |    / greatest(len(string_split(text, ' ')), 1) AS stopword_ratio,
         |  CASE WHEN len(list_filter(string_split(text, ' '), x -> len(x) > 0)) > 0
         |       THEN list_aggregate(list_transform(list_filter(string_split(text, ' '), x -> len(x) > 0), x -> len(x)), 'sum')::DOUBLE
         |            / len(list_filter(string_split(text, ' '), x -> len(x) > 0))
         |       ELSE 0.0 END AS mean_token_len,
         |  $qualityExprSql AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    "token_stats" ->
      """SELECT tk AS token, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents)
        |GROUP BY tk ORDER BY tf DESC, token ASC LIMIT 50""".stripMargin,
    // driver-side tokenizations of the SAME sentences via the SAME pure
    // JapaneseTokenizer the executors run — shared-constant recipe
    "ja_token_stats" -> {
      val tok = new graft.ops.JapaneseTokenizer()
      val rows = JaSentences.zipWithIndex
        .map { case (sent, i) => s"($i, '${tok.tokenize(sent)}')" }
        .mkString(", ")
      s"""WITH f(i, toks) AS (VALUES $rows),
         |t AS (SELECT d.doc_id, unnest(string_split(f.toks, ' ')) AS token
         |      FROM documents d JOIN f ON d.doc_id % ${JaSentences.length} = f.i)
         |SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
         |FROM t GROUP BY token ORDER BY tf DESC, token ASC LIMIT 30""".stripMargin
    },
    // WordPiece induction replayed exactly: distinct-word counts,
    // substring explode (start s, len 1..maxPieceLen), (cnt desc, piece
    // asc, is_cont asc) top-N with dense ids
    "wordpiece_vocab" ->
      s"""WITH wc AS (
         |  SELECT word, count(*) AS c FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  GROUP BY word),
         |subs AS (
         |  SELECT substr(wc.word, s.s, l.l) AS piece, s.s > 1 AS is_cont,
         |         CAST(sum(c) AS BIGINT) AS cnt
         |  FROM wc
         |  JOIN (SELECT unnest(range(1, (SELECT max(length(word)) FROM wc) + 1)) AS s) s
         |    ON s.s <= length(wc.word)
         |  JOIN (SELECT unnest(range(1, ${WpMaxPieceLen + 1})) AS l) l
         |    ON s.s + l.l - 1 <= length(wc.word)
         |  GROUP BY 1, 2),
         |vocab AS (
         |  SELECT piece, is_cont, cnt,
         |         CAST(row_number() OVER (ORDER BY cnt DESC, piece ASC, is_cont ASC) - 1
         |              AS BIGINT) AS piece_id
         |  FROM (SELECT * FROM subs
         |        ORDER BY cnt DESC, piece ASC, is_cont ASC LIMIT $WpVocabSize))
         |SELECT piece, is_cont, piece_id, cnt FROM vocab
         |ORDER BY piece_id LIMIT 50""".stripMargin,
    // the greedy longest-match walk replayed as a recursive CTE over the
    // per-(word, position) longest-piece step function: a word whose walk
    // stalls before length+1 is [UNK] (-1), BERT semantics; per-doc digest
    // = (piece count, unk count, md5 of the ordered id sequence)
    "wordpiece_encode" ->
      s"""WITH RECURSIVE wc AS (
         |  SELECT word, count(*) AS c FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  GROUP BY word),
         |subs AS (
         |  SELECT substr(wc.word, s.s, l.l) AS piece, s.s > 1 AS is_cont,
         |         CAST(sum(c) AS BIGINT) AS cnt
         |  FROM wc
         |  JOIN (SELECT unnest(range(1, (SELECT max(length(word)) FROM wc) + 1)) AS s) s
         |    ON s.s <= length(wc.word)
         |  JOIN (SELECT unnest(range(1, ${WpMaxPieceLen + 1})) AS l) l
         |    ON s.s + l.l - 1 <= length(wc.word)
         |  GROUP BY 1, 2),
         |vocab AS (
         |  SELECT piece, is_cont,
         |         CAST(row_number() OVER (ORDER BY cnt DESC, piece ASC, is_cont ASC) - 1
         |              AS BIGINT) AS piece_id
         |  FROM (SELECT * FROM subs
         |        ORDER BY cnt DESC, piece ASC, is_cont ASC LIMIT $WpVocabSize)),
         |words AS (
         |  SELECT doc_id, CAST(wpos - 1 AS BIGINT) AS wpos, word
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
         |               generate_subscripts(string_split(text, ' '), 1) AS wpos
         |        FROM documents)),
         |dwords AS (SELECT DISTINCT word FROM words),
         |steps AS (
         |  SELECT word, p, piece_id, plen FROM (
         |    SELECT d.word, s.s AS p, v.piece_id, length(v.piece) AS plen,
         |           row_number() OVER (PARTITION BY d.word, s.s
         |                              ORDER BY length(v.piece) DESC) AS rn
         |    FROM dwords d
         |    JOIN (SELECT unnest(range(1, (SELECT max(length(word)) FROM dwords) + 1)) AS s) s
         |      ON s.s <= length(d.word)
         |    JOIN vocab v
         |      ON v.is_cont = (s.s > 1)
         |     AND v.piece = substr(d.word, s.s, length(v.piece))
         |  ) WHERE rn = 1),
         |walk(word, p, k, piece_id) AS (
         |  SELECT word, 1 AS p, CAST(0 AS BIGINT) AS k, CAST(NULL AS BIGINT) AS piece_id
         |  FROM dwords
         |  UNION ALL
         |  SELECT w.word, w.p + s.plen, w.k + 1, s.piece_id
         |  FROM walk w JOIN steps s ON s.word = w.word AND s.p = w.p),
         |wend AS (SELECT word, max(p) AS pend FROM walk GROUP BY word),
         |wpieces AS (
         |  SELECT w.word, w.k - 1 AS k, w.piece_id
         |  FROM walk w JOIN wend e ON w.word = e.word
         |  WHERE w.k >= 1 AND e.pend = length(w.word) + 1
         |  UNION ALL
         |  SELECT e.word, CAST(0 AS BIGINT) AS k, CAST(-1 AS BIGINT) AS piece_id
         |  FROM wend e WHERE e.pend <= length(e.word)),
         |enc AS (
         |  SELECT wo.doc_id, wo.wpos, wp.k, wp.piece_id
         |  FROM words wo JOIN wpieces wp ON wo.word = wp.word)
         |SELECT doc_id,
         |       count(*)::BIGINT AS n_pieces,
         |       count(*) FILTER (piece_id = -1)::BIGINT AS n_unk,
         |       md5(string_agg(CAST(piece_id AS VARCHAR), ',' ORDER BY wpos, k)) AS seq_md5
         |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the same induction + greedy-walk chain, aggregated per LANGUAGE:
    // words = k=0 rows, pieces = all rows, fixed-point ratios
    "token_fertility" ->
      s"""WITH RECURSIVE wc AS (
         |  SELECT word, count(*) AS c FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  GROUP BY word),
         |subs AS (
         |  SELECT substr(wc.word, s.s, l.l) AS piece, s.s > 1 AS is_cont,
         |         CAST(sum(c) AS BIGINT) AS cnt
         |  FROM wc
         |  JOIN (SELECT unnest(range(1, (SELECT max(length(word)) FROM wc) + 1)) AS s) s
         |    ON s.s <= length(wc.word)
         |  JOIN (SELECT unnest(range(1, ${WpMaxPieceLen + 1})) AS l) l
         |    ON s.s + l.l - 1 <= length(wc.word)
         |  GROUP BY 1, 2),
         |vocab AS (
         |  SELECT piece, is_cont,
         |         CAST(row_number() OVER (ORDER BY cnt DESC, piece ASC, is_cont ASC) - 1
         |              AS BIGINT) AS piece_id
         |  FROM (SELECT * FROM subs
         |        ORDER BY cnt DESC, piece ASC, is_cont ASC LIMIT $WpVocabSize)),
         |words AS (
         |  SELECT doc_id, CAST(wpos - 1 AS BIGINT) AS wpos, word
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
         |               generate_subscripts(string_split(text, ' '), 1) AS wpos
         |        FROM documents)),
         |dwords AS (SELECT DISTINCT word FROM words),
         |steps AS (
         |  SELECT word, p, piece_id, plen FROM (
         |    SELECT d.word, s.s AS p, v.piece_id, length(v.piece) AS plen,
         |           row_number() OVER (PARTITION BY d.word, s.s
         |                              ORDER BY length(v.piece) DESC) AS rn
         |    FROM dwords d
         |    JOIN (SELECT unnest(range(1, (SELECT max(length(word)) FROM dwords) + 1)) AS s) s
         |      ON s.s <= length(d.word)
         |    JOIN vocab v
         |      ON v.is_cont = (s.s > 1)
         |     AND v.piece = substr(d.word, s.s, length(v.piece))
         |  ) WHERE rn = 1),
         |walk(word, p, k, piece_id) AS (
         |  SELECT word, 1 AS p, CAST(0 AS BIGINT) AS k, CAST(NULL AS BIGINT) AS piece_id
         |  FROM dwords
         |  UNION ALL
         |  SELECT w.word, w.p + s.plen, w.k + 1, s.piece_id
         |  FROM walk w JOIN steps s ON s.word = w.word AND s.p = w.p),
         |wend AS (SELECT word, max(p) AS pend FROM walk GROUP BY word),
         |wpieces AS (
         |  SELECT w.word, w.k - 1 AS k, w.piece_id
         |  FROM walk w JOIN wend e ON w.word = e.word
         |  WHERE w.k >= 1 AND e.pend = length(w.word) + 1
         |  UNION ALL
         |  SELECT e.word, CAST(0 AS BIGINT) AS k, CAST(-1 AS BIGINT) AS piece_id
         |  FROM wend e WHERE e.pend <= length(e.word)),
         |enc AS (
         |  SELECT wo.doc_id, wo.wpos, wp.k, wp.piece_id
         |  FROM words wo JOIN wpieces wp ON wo.word = wp.word),
         |st AS (
         |  SELECT d.lang,
         |         count(*) FILTER (e.k = 0)::BIGINT AS n_words,
         |         count(*)::BIGINT AS n_pieces,
         |         count(*) FILTER (e.piece_id = -1)::BIGINT AS n_unk
         |  FROM enc e JOIN documents d USING (doc_id)
         |  GROUP BY d.lang)
         |SELECT lang, n_words, n_pieces, n_unk,
         |       n_pieces * 1000000 // greatest(n_words, 1) AS fertility_ppm,
         |       n_unk * 1000000 // greatest(n_words, 1) AS unk_ppm
         |FROM st ORDER BY lang""".stripMargin,
    // BPE merge training replayed exactly: R materialized rounds of
    // adjacent-pair count -> (cnt desc, lhs asc, rhs asc) argmax ->
    // wrapped-pair replace (see bpeTrainCtes)
    "bpe_merges" -> {
      val unions = (1 to BpeRounds).map { k =>
        s"SELECT CAST($k AS BIGINT) AS merge_round, lhs, rhs, cnt FROM b$k"
      }.mkString("\nUNION ALL\n")
      s"""WITH $bpeTrainCtes
         |SELECT * FROM (
         |$unions)
         |ORDER BY merge_round""".stripMargin
    },
    // BPE encoding replayed from the SAME training chain: every safe word
    // occurrence (position among ALL tokens, pre-filter — matching the
    // engine's posexplode-then-filter) takes its final piece sequence
    // from w_R; per-doc digest = (piece count, word count, md5 of the
    // ordered piece sequence)
    "bpe_encode" -> {
      val R = BpeRounds
      s"""WITH $bpeTrainCtes,
         |words AS (
         |  SELECT doc_id, CAST(wpos - 1 AS BIGINT) AS wpos, word FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
         |           generate_subscripts(string_split(text, ' '), 1) AS wpos
         |    FROM documents)
         |  WHERE regexp_matches(word, '^[a-z0-9]+$$')),
         |wp AS (
         |  SELECT wr.word, CAST(s.s - 1 AS BIGINT) AS k, wr.arr[s.s] AS piece
         |  FROM (SELECT word, string_split(trim(rep, '|'), '||') AS arr FROM w$R) wr
         |  JOIN rng s ON s.s <= len(wr.arr)),
         |enc AS (
         |  SELECT w.doc_id, w.wpos, p.k, p.piece
         |  FROM words w JOIN wp p ON p.word = w.word)
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_pieces,
         |       CAST(count(DISTINCT wpos) AS BIGINT) AS n_words,
         |       md5(string_agg(piece, ',' ORDER BY wpos, k)) AS seq_md5
         |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // engine-computed embeddings: the oracle's sentence/query vectors are
    // the SAME pure runtime's driver-side outputs (EncoderFixture
    // literals — exact double widenings of the float32 embeddings), so
    // this hash-gates the executor-side text→ids→encoder→vector pipeline
    // plus the top-k/rank/back-join arithmetic
    "encoder_search_topk" -> {
      s"""WITH sents(i, txt, v) AS (VALUES ${EncoderFixture.sentencesValuesSql}),
         |q(v) AS (VALUES (${EncoderFixture.vecSql(EncoderFixture.queryVector)})),
         |emb AS (
         |  SELECT d.doc_id, s.txt, s.v
         |  FROM documents d JOIN sents s ON d.doc_id % ${EncoderFixture.Sentences.length} = s.i),
         |scored AS (
         |  SELECT doc_id, txt,
         |         1 - array_cosine_similarity(v, (SELECT v FROM q)) AS score
         |  FROM emb)
         |SELECT CAST(row_number() OVER (ORDER BY score ASC NULLS LAST, doc_id ASC)
         |            AS BIGINT) AS rank,
         |       doc_id, txt AS text, score
         |FROM scored ORDER BY score ASC NULLS LAST, doc_id ASC LIMIT 10""".stripMargin
    },
    // masked/padded encoder path: the literal vectors are the masked
    // export's ONE-padded-batch driver outputs (EncoderFixture
    // .maskedDocVectors) — the executor side re-derives them from
    // partition-dependent padded batches, so hash equality proves the
    // mask arithmetic (additive masked softmax + masked mean-pool) keeps
    // pad rows out of every result bit
    "encoder_search_masked_topk" -> {
      s"""WITH sents(i, txt, v) AS (VALUES ${EncoderFixture.maskedSentencesValuesSql}),
         |q(v) AS (VALUES (${EncoderFixture.vecSql(EncoderFixture.maskedQueryVector)})),
         |emb AS (
         |  SELECT d.doc_id, s.txt, s.v
         |  FROM documents d JOIN sents s ON d.doc_id % ${EncoderFixture.Sentences.length} = s.i),
         |scored AS (
         |  SELECT doc_id, txt,
         |         1 - array_cosine_similarity(v, (SELECT v FROM q)) AS score
         |  FROM emb)
         |SELECT CAST(row_number() OVER (ORDER BY score ASC NULLS LAST, doc_id ASC)
         |            AS BIGINT) AS rank,
         |       doc_id, txt AS text, score
         |FROM scored ORDER BY score ASC NULLS LAST, doc_id ASC LIMIT 10""".stripMargin
    },
    "corpus_shuffle" ->
      """SELECT doc_id, lang,
        |       CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
        |                               doc_id ASC) AS BIGINT) AS shuffle_rank
        |FROM documents
        |ORDER BY shuffle_rank LIMIT 50""".stripMargin,
    "train_holdout_split" ->
      """WITH b AS (SELECT doc_id, text,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bkt
        |  FROM documents)
        |SELECT CASE WHEN bkt < 80 THEN 'train' ELSE 'holdout' END AS split,
        |       count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |       CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS text_fp_sum
        |FROM b GROUP BY 1 ORDER BY split""".stripMargin,
    "packing_offsets" ->
      """WITH n AS (SELECT doc_id,
        |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |             CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        |      FROM n)
        |SELECT doc_id, n_tokens, start_offset,
        |       start_offset // 512 AS first_bin,
        |       greatest(start_offset // 512,
        |                (start_offset + n_tokens - 1) // 512) AS last_bin
        |FROM c ORDER BY doc_id""".stripMargin,
    // fixed-window substring duplication replayed: same L=6 windows
    // (array_to_string slice == WordNGrams), corpus-wide counts, >= 2
    // threshold; dup_ratio is one exact int/int double division. Window
    // starts come from a per-row range(len(t)) unnest — NO fixed position
    // cap, so a longer-than-expected doc can never silently diverge from
    // the uncapped engine
    "substring_dup_stats" ->
      """WITH tl AS (SELECT doc_id, string_split(text, ' ') AS t
        |            FROM documents WHERE text IS NOT NULL),
        |win AS (
        |  SELECT doc_id, s, array_to_string(t[s+1:s+6], ' ') AS gram
        |  FROM (SELECT doc_id, t, unnest(range(0, greatest(len(t) - 5, 0))) AS s
        |        FROM tl)),
        |cnt AS (SELECT gram, count(*) AS c FROM win GROUP BY gram),
        |nd AS (SELECT w.doc_id, count(*) AS ndup
        |       FROM win w JOIN (SELECT gram FROM cnt WHERE c >= 2) d USING (gram)
        |       GROUP BY w.doc_id),
        |nw AS (SELECT doc_id, count(*) AS n_windows FROM win GROUP BY doc_id)
        |SELECT nw.doc_id, nw.n_windows,
        |       coalesce(nd.ndup, 0) AS n_dup_windows,
        |       coalesce(nd.ndup, 0)::DOUBLE / nw.n_windows AS dup_ratio
        |FROM nw LEFT JOIN nd USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // covered position = any duplicated window start s with s <= p < s+6;
    // the anti-join keeps the rest and string_agg(ORDER BY p) re-joins
    "substring_dedup_clean" ->
      """WITH tl AS (SELECT doc_id, string_split(text, ' ') AS t
        |            FROM documents WHERE text IS NOT NULL),
        |tok AS (
        |  SELECT doc_id, p, t[p+1] AS token
        |  FROM (SELECT doc_id, t, unnest(range(0, len(t))) AS p FROM tl)),
        |win AS (
        |  SELECT doc_id, s, array_to_string(t[s+1:s+6], ' ') AS gram
        |  FROM (SELECT doc_id, t, unnest(range(0, greatest(len(t) - 5, 0))) AS s
        |        FROM tl)),
        |cnt AS (SELECT gram, count(*) AS c FROM win GROUP BY gram),
        |dwin AS (SELECT w.doc_id, w.s
        |         FROM win w JOIN (SELECT gram FROM cnt WHERE c >= 2) d USING (gram)),
        |cov AS (SELECT DISTINCT doc_id, s + u AS p
        |        FROM dwin CROSS JOIN (SELECT unnest(range(0, 6)) AS u)),
        |kept AS (
        |  SELECT tok.doc_id, tok.p, tok.token FROM tok
        |  WHERE NOT EXISTS (SELECT 1 FROM cov
        |                    WHERE cov.doc_id = tok.doc_id AND cov.p = tok.p)),
        |cl AS (SELECT doc_id, count(*) AS n_kept,
        |              string_agg(token, ' ' ORDER BY p) AS clean_text
        |       FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(cl.n_kept, 0) AS n_kept,
        |       coalesce(cl.clean_text, '') AS clean_text
        |FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
        |LEFT JOIN cl USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "decontaminate_docs" ->
      s"""WITH bench AS (
         |  SELECT DISTINCT gram FROM (
         |    SELECT unnest($ShinglesSql) AS gram
         |    FROM documents WHERE doc_id % 50 = 0)),
         |corp AS (
         |  SELECT doc_id, unnest($ShinglesSql) AS gram
         |  FROM documents WHERE doc_id % 50 <> 0)
         |SELECT doc_id, count(*)::BIGINT AS n_hits
         |FROM corp JOIN bench USING (gram)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "mixture_budget" ->
      """WITH tot AS (SELECT lang, sum(len(string_split(text, ' '))) AS tot
        |             FROM documents GROUP BY lang),
        |keep AS (SELECT lang, least(1000, (1000 * 5000) // tot) AS keep FROM tot)
        |SELECT doc_id, d.lang AS lang FROM documents d
        |JOIN keep k ON d.lang IS NOT DISTINCT FROM k.lang
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 < k.keep
        |ORDER BY doc_id""".stripMargin,
    // the full curation chain replayed in SQL: same thresholds (shared
    // constants), same repetition gate (incl. the minimum-evidence rules),
    // same md5 dedup key and the same Jaccard near-dup semantics on the
    // exact-dedup survivor subset
    // identical thousandths arithmetic: whole epochs = e DIV 1000 copies,
    // the remainder epoch keeps the rows whose md5 bucket < e % 1000
    "epoch_upsample" ->
      """WITH spec(source, e1000) AS (VALUES ('src0', 2500), ('src1', 1000), ('src2', 400)),
        |base AS (
        |  SELECT d.doc_id, d.source, coalesce(s.e1000, 1000) AS e1000,
        |         ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 AS b
        |  FROM documents d LEFT JOIN spec s USING (source)),
        |n AS (SELECT doc_id, source,
        |             e1000 // 1000 + CASE WHEN b < e1000 % 1000 THEN 1 ELSE 0 END AS n
        |      FROM base)
        |SELECT doc_id, source, unnest(range(n))::BIGINT AS epoch_copy
        |FROM n WHERE n > 0
        |ORDER BY doc_id, epoch_copy""".stripMargin,
    // same stage filters as the funnel head (shared threshold constants +
    // the shared quality expression), plain aggregates per stage
    "pipeline_metrics" ->
      s"""WITH s1 AS (SELECT * FROM documents
         |            WHERE text IS NOT NULL AND length(text) >= $FunnelMinChars),
         |s2 AS (SELECT * FROM s1 WHERE $qualityExprSql >= $FunnelMinQuality)
         |SELECT 0 AS stage_id, 'all' AS stage, count(*)::BIGINT AS n_rows,
         |       coalesce(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 0)::BIGINT AS null_texts,
         |       coalesce(sum(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END), 0)::BIGINT AS empty_texts,
         |       coalesce(sum(length(text)), 0)::BIGINT AS total_chars
         |FROM documents
         |UNION ALL
         |SELECT 1, 'min_length', count(*)::BIGINT,
         |       coalesce(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 0)::BIGINT,
         |       coalesce(sum(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END), 0)::BIGINT,
         |       coalesce(sum(length(text)), 0)::BIGINT
         |FROM s1
         |UNION ALL
         |SELECT 2, 'quality', count(*)::BIGINT,
         |       coalesce(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 0)::BIGINT,
         |       coalesce(sum(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END), 0)::BIGINT,
         |       coalesce(sum(length(text)), 0)::BIGINT
         |FROM s2
         |ORDER BY stage_id""".stripMargin,
    "curation_funnel" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
         |            FROM documents WHERE text IS NOT NULL),
         |g2 AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS g
         |       FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM tok)),
         |c2 AS (SELECT doc_id, max(c) AS top2
         |       FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1),
         |g3 AS (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
         |       FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM tok)),
         |c3 AS (SELECT doc_id, max(c) AS top3
         |       FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2) GROUP BY 1),
         |rep AS (
         |  SELECT b.doc_id,
         |         ((coalesce(c2.top2, 0) * 5 > greatest(len(t) - 1, 0) AND greatest(len(t) - 1, 0) >= 5)
         |          OR (coalesce(c3.top3, 0) * 6 > greatest(len(t) - 2, 0) AND greatest(len(t) - 2, 0) >= 6)
         |          OR (len(t) - len(list_distinct(t))) * 10 > len(t) * $FunnelDupTau10) AS repetitive
         |  FROM tok b LEFT JOIN c2 USING (doc_id) LEFT JOIN c3 USING (doc_id)),
         |s1 AS (SELECT d.* FROM documents d
         |       WHERE text IS NOT NULL AND length(text) >= $FunnelMinChars),
         |s2 AS (SELECT * FROM s1 WHERE $qualityExprSql >= $FunnelMinQuality),
         |s3 AS (SELECT s2.* FROM s2 JOIN rep USING (doc_id) WHERE NOT rep.repetitive),
         |s4 AS (SELECT min(doc_id) AS doc_id, min_by(text, doc_id) AS text
         |       FROM s3 GROUP BY md5(text)),
         |sh4 AS (SELECT doc_id, unnest($ShinglesSql) AS sh FROM s4),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh4 GROUP BY doc_id),
         |inter AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS inter
         |          FROM sh4 l JOIN sh4 r ON l.sh = r.sh AND l.doc_id < r.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (SELECT a, b FROM inter
         |          JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
         |          WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= $JaccardTau),
         |s5 AS (SELECT doc_id FROM s4 WHERE doc_id NOT IN (SELECT b FROM pairs))
         |SELECT 0 AS stage_id, 'all' AS stage, count(*)::BIGINT AS n_docs FROM documents
         |UNION ALL SELECT 1, 'min_length', count(*) FROM s1
         |UNION ALL SELECT 2, 'quality', count(*) FROM s2
         |UNION ALL SELECT 3, 'not_repetitive', count(*) FROM s3
         |UNION ALL SELECT 4, 'exact_dedup', count(*) FROM s4
         |UNION ALL SELECT 5, 'near_dedup', count(*) FROM s5
         |ORDER BY stage_id""".stripMargin,
    "bm25_topk" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
         |stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
         |tf AS (SELECT doc_id, tk, count(*) AS tf FROM tok
         |       WHERE tk IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")}) GROUP BY doc_id, tk),
         |dfreq AS (SELECT tk, count(*) AS df FROM tf GROUP BY tk)
         |SELECT doc_id,
         |       round(sum(
         |         ln(1.0 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5))
         |         * (tf * (1.2 + 1.0))
         |         / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (SELECT avgdl FROM stats)))), 6) AS score
         |FROM tf JOIN dfreq USING (tk) JOIN dl USING (doc_id)
         |GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin,
    "fingerprint_docs" ->
      """SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "pii_redact" -> {
      val counts = Redact.PiiPatterns.map { case (name, pat, _) =>
        val colName = name match {
          case "email" => "n_emails"
          case "ipv4"  => "n_ips"
          case "ssn"   => "n_ssns"
        }
        s"CAST(len(regexp_extract_all(t, '$pat')) AS BIGINT) AS $colName"
      }.mkString(",\n       ")
      s"""WITH salted AS (SELECT doc_id,
         |  $piiSaltedSql AS t
         |FROM documents)
         |SELECT doc_id,
         |       $counts,
         |       md5(${redactSql("t")}) AS redacted_fp
         |FROM salted ORDER BY doc_id""".stripMargin
    },
    "repetition_docs" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
        |            FROM documents WHERE text IS NOT NULL),
        |g2 AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS g
        |       FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM tok)),
        |c2 AS (SELECT doc_id, max(c) AS top2
        |       FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1),
        |g3 AS (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        |       FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM tok)),
        |c3 AS (SELECT doc_id, max(c) AS top3
        |       FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2) GROUP BY 1),
        |base AS (
        |  SELECT doc_id,
        |         CAST(len(t) AS BIGINT) AS n_tokens,
        |         CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens,
        |         CAST(greatest(len(t) - 1, 0) AS BIGINT) AS n_2grams,
        |         CAST(greatest(len(t) - 2, 0) AS BIGINT) AS n_3grams
        |  FROM tok)
        |SELECT b.doc_id, b.n_tokens, b.n_distinct_tokens,
        |       coalesce(c2.top2, 0) AS top_2gram_n, b.n_2grams,
        |       coalesce(c3.top3, 0) AS top_3gram_n, b.n_3grams,
        |       ((coalesce(c2.top2, 0) * 5 > b.n_2grams AND b.n_2grams >= 5)
        |        OR (coalesce(c3.top3, 0) * 6 > b.n_3grams AND b.n_3grams >= 6)
        |        OR (b.n_tokens - b.n_distinct_tokens) * 10 > b.n_tokens * 3) AS repetitive
        |FROM base b LEFT JOIN c2 USING (doc_id) LEFT JOIN c3 USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,
    // bigram LM corpus-fit: ALL grams kept (no list_distinct — a language
    // model counts occurrences, not presence); empty gram lists drop docs
    // from the join side exactly like Spark's explode, and the left join
    // brings them back null-scored
    "lm_fit_docs" ->
      """WITH g2 AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - 1, 0)),
        |    i -> array_to_string(string_split(text, ' ')[i+1:i+2], ' '))) AS gram
        |  FROM documents WHERE text IS NOT NULL),
        |cnt AS (SELECT gram, count(*)::BIGINT AS gram_cnt FROM g2 GROUP BY gram),
        |per AS (SELECT g.doc_id, count(*)::BIGINT AS n_bigrams,
        |               sum(coalesce(c.gram_cnt, 0))::BIGINT AS fit_sum
        |        FROM g2 g LEFT JOIN cnt c USING (gram) GROUP BY g.doc_id)
        |SELECT d.doc_id,
        |       coalesce(p.n_bigrams, 0)::BIGINT AS n_bigrams,
        |       coalesce(p.fit_sum, 0)::BIGINT AS fit_sum,
        |       CASE WHEN coalesce(p.n_bigrams, 0) = 0 THEN NULL
        |            ELSE CAST(p.fit_sum AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE)
        |       END AS fit_avg
        |FROM (SELECT DISTINCT doc_id FROM documents WHERE text IS NOT NULL) d
        |LEFT JOIN per p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // vocab induction is fully order-pinned (count desc, token asc) so the
    // dense ids agree across engines; encode replays the left join + OOV -1
    "vocab_encode" ->
      """WITH tok AS (
        |  SELECT doc_id, pos, t[pos+1] AS token
        |  FROM (SELECT doc_id, t, unnest(range(0, len(t))) AS pos
        |        FROM (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents WHERE text IS NOT NULL) d)),
        |cnt AS (SELECT token, count(*)::BIGINT AS tok_cnt FROM tok GROUP BY token),
        |voc AS (SELECT token,
        |               row_number() OVER (ORDER BY tok_cnt DESC, token ASC) - 1 AS token_id
        |        FROM cnt ORDER BY tok_cnt DESC, token ASC LIMIT 64)
        |SELECT s.doc_id, CAST(s.pos AS BIGINT) AS pos,
        |       CAST(coalesce(v.token_id, -1) AS BIGINT) AS token_id
        |FROM tok s LEFT JOIN voc v USING (token)
        |WHERE s.doc_id < 40
        |ORDER BY s.doc_id, s.pos""".stripMargin,
    "quantized_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[64] AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
        |qc AS (SELECT vec_id,
        |         list_transform(v, x -> round(x * (CASE WHEN mx > 0 THEN 127.0/mx ELSE 1.0 END)))::DOUBLE[64] AS q
        |       FROM m),
        |qv AS (SELECT q FROM qc WHERE vec_id = 0)
        |SELECT vec_id,
        |       CASE WHEN sqrt(array_inner_product(q, q)) *
        |                 sqrt(array_inner_product((SELECT q FROM qv), (SELECT q FROM qv))) > 0
        |            THEN 1.0 - array_inner_product(q, (SELECT q FROM qv))
        |                 / (sqrt(array_inner_product(q, q)) *
        |                    sqrt(array_inner_product((SELECT q FROM qv), (SELECT q FROM qv))))
        |       END AS q_dist
        |FROM qc ORDER BY q_dist ASC NULLS LAST, vec_id ASC LIMIT 10""".stripMargin,
    // stage-1 quantized candidates (identical arithmetic to quantized_topk)
    // then full-precision rerank of exactly those 100
    "quantized_rerank_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[64] AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
        |qc AS (SELECT vec_id,
        |         list_transform(v, x -> round(x * (CASE WHEN mx > 0 THEN 127.0/mx ELSE 1.0 END)))::DOUBLE[64] AS q
        |       FROM m),
        |qv AS (SELECT q FROM qc WHERE vec_id = 0),
        |cand AS (
        |  SELECT vec_id,
        |         CASE WHEN sqrt(array_inner_product(q, q)) *
        |                   sqrt(array_inner_product((SELECT q FROM qv), (SELECT q FROM qv))) > 0
        |              THEN 1.0 - array_inner_product(q, (SELECT q FROM qv))
        |                   / (sqrt(array_inner_product(q, q)) *
        |                      sqrt(array_inner_product((SELECT q FROM qv), (SELECT q FROM qv))))
        |         END AS q_dist
        |  FROM qc ORDER BY q_dist ASC NULLS LAST, vec_id ASC LIMIT 100),
        |fq AS (SELECT v FROM e WHERE vec_id = 0)
        |SELECT e.vec_id,
        |       1 - array_cosine_similarity(e.v, (SELECT v FROM fq)) AS cos_dist
        |FROM e JOIN cand c ON e.vec_id = c.vec_id
        |ORDER BY cos_dist ASC NULLS LAST, e.vec_id ASC LIMIT 10""".stripMargin,
    "sample_docs" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 10
        |ORDER BY doc_id""".stripMargin,
    // the composed pipeline replayed: same tok/voc as vocab_encode, doc
    // offsets as a cumulative sum (fine at oracle scale; Spark's side is
    // the scalable prefix sum), integer div/mod routing
    "training_sequences" ->
      """WITH tok AS (
        |  SELECT doc_id, pos, t[pos+1] AS token
        |  FROM (SELECT doc_id, t, unnest(range(0, len(t))) AS pos
        |        FROM (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents WHERE text IS NOT NULL) d)),
        |cnt AS (SELECT token, count(*)::BIGINT AS tok_cnt FROM tok GROUP BY token),
        |voc AS (SELECT token,
        |               row_number() OVER (ORDER BY tok_cnt DESC, token ASC) - 1 AS token_id
        |        FROM cnt ORDER BY tok_cnt DESC, token ASC LIMIT 64),
        |lens AS (SELECT doc_id, len(string_split(text, ' ')) AS n
        |         FROM documents WHERE text IS NOT NULL AND doc_id < 40),
        |offs AS (SELECT doc_id,
        |                coalesce(sum(n) OVER (ORDER BY doc_id
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
        |         FROM lens)
        |SELECT CAST((o.start_offset + s.pos) // 128 AS BIGINT) AS seq_id,
        |       CAST((o.start_offset + s.pos) % 128 AS BIGINT) AS pos_in_seq,
        |       CAST(coalesce(v.token_id, -1) AS BIGINT) AS token_id
        |FROM tok s
        |JOIN offs o USING (doc_id)
        |LEFT JOIN voc v USING (token)
        |ORDER BY seq_id, pos_in_seq""".stripMargin,
    "normalize_docs" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |         text || chr(9) || 'Cafe' || chr(769) || '  X' || chr(7) ||
        |         'Y del ' || CAST(doc_id AS VARCHAR) AS t
        |  FROM documents WHERE text IS NOT NULL),
        |n AS (
        |  SELECT doc_id,
        |         trim(regexp_replace(lower(nfc_normalize(
        |           regexp_replace(t, '[\x00-\x1f\x7f]', ' ', 'g'))),
        |           ' +', ' ', 'g')) AS norm_text
        |  FROM raw)
        |SELECT doc_id, norm_text, CAST(length(norm_text) AS BIGINT) AS norm_len
        |FROM n ORDER BY doc_id""".stripMargin,
    "sample_k_per_group" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
        |  FROM documents) WHERE rn <= 5
        |ORDER BY lang, doc_id""".stripMargin,
    "stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 <
        |      CASE WHEN lang = 'en' THEN 10 WHEN lang = 'fr' THEN 50 ELSE 20 END
        |ORDER BY doc_id""".stripMargin,
    "chunk_docs" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
        |             FROM documents WHERE text IS NOT NULL),
        |ids AS (SELECT doc_id, t,
        |               unnest(range(0, greatest(CAST(ceil((len(t) - 32) / 24.0) AS BIGINT), 0) + 1)) AS chunk_id
        |        FROM tok)
        |SELECT doc_id, chunk_id,
        |       CAST(len(t[(chunk_id*24+1):(chunk_id*24+32)]) AS BIGINT) AS n_chunk_tokens,
        |       md5(array_to_string(t[(chunk_id*24+1):(chunk_id*24+32)], ' ')) AS chunk_fp
        |FROM ids ORDER BY doc_id, chunk_id""".stripMargin,
    "events_salted_rollup" ->
      """SELECT event_type,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |       count(*) AS n_rows
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "ann_ivf_topk" -> annIvfOracle,
    // the autoprobe query is brute-force SHAPED but must return the IVF
    // probe's answer (the rule spliced the probe plan in — asserted at
    // registration); sharing the probe oracle is exactly the proof
    "ann_autoprobe_topk" -> annIvfOracle,
    // PQ replayed stage by stage: stride-sampled subvector codebooks,
    // (d asc, j asc) assignment, integer-scaled ADC sum (floor(d^2*1e6) —
    // bit-identical per entry, order-free in the sum), exact cosine rerank
    // of the 100 survivors. array_distance argument order matches the
    // engine's (subvector, codebook) / (codebook, query) exactly.
    "ann_pq_topk" -> annPqOracleWhere(""),
    // delete == reduced-corpus re-encode (frozen codebooks; entry rows are
    // never deletable): the oracle replays the full PQ pipeline over
    // exactly the surviving rows
    "ann_pq_delete_topk" -> annPqOracleWhere(" WHERE vec_id % 4 <> 3"),
    // the trained-codebook PQ replayed END TO END: stride init, two
    // per-subspace Lloyd rounds (pqTrainIterSql — the engine's packed-long
    // argmin, 1e-6-grid means, frozen empty entries), then assignment /
    // ADC / rerank against the TRAINED cb2 — identical pipeline to
    // ann_pq_topk with cb -> cb2
    "ann_pq_trained_topk" -> annPqTrainedOracle,
    // the autoprobe splice must return exactly what the directly-invoked
    // probe tier returns — each substitution gate shares its tier's oracle
    "ann_autoprobe_pq_topk" -> annPqTrainedOracle,
    "ann_autoprobe_graph_topk" -> annGraphOracle,
    // IVF bucket selection (annIvfOracle's CTEs) composed with the at-rest
    // PQ replay: codebooks and codes derive from the FULL corpus (that is
    // what materializeIvfPq stores), the ADC runs only over rows in the
    // probed buckets (the partition-pruned code scan), and the rerank reads
    // the same pruned buckets. The query's subvectors come from the raw
    // corpus row (the engine inlines the literal query vector whether or
    // not its own bucket was probed).
    "ann_ivfpq_topk" ->
      """WITH cents AS (
        |  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id % 64 = 0),
        |q AS (SELECT embedding::DOUBLE[64] AS v FROM embeddings WHERE vec_id = 1),
        |probed AS (
        |  SELECT cid FROM (
        |    SELECT cid,
        |           1 - array_cosine_similarity(embedding::DOUBLE[64], (SELECT v FROM q)) AS d
        |    FROM cents)
        |  ORDER BY d ASC NULLS LAST, cid ASC LIMIT 4),
        |assign AS (
        |  SELECT vec_id, centroid FROM (
        |    SELECT e.vec_id, c.cid AS centroid,
        |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |             1 - array_cosine_similarity(e.embedding::DOUBLE[64],
        |                 c.embedding::DOUBLE[64]) ASC,
        |             c.cid ASC) AS rn
        |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
        |sel AS (
        |  SELECT e.vec_id, e.embedding FROM embeddings e
        |  JOIN assign a ON e.vec_id = a.vec_id
        |  WHERE a.centroid IN (SELECT cid FROM probed)),
        |suball AS (
        |  SELECT vec_id, m,
        |         list_transform(embedding[m*8+1:m*8+8],
        |                        x -> CAST(x AS DOUBLE))::DOUBLE[8] AS sv
        |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 8)) AS m)),
        |cb AS (SELECT dense_rank() OVER (ORDER BY vec_id) - 1 AS j, m, sv AS cv FROM suball WHERE vec_id % 64 = 0),
        |sub AS (
        |  SELECT s.vec_id, s.m, s.sv FROM suball s JOIN sel ON s.vec_id = sel.vec_id),
        |code AS (
        |  SELECT s.vec_id, s.m,
        |         min(CAST(floor(least(array_distance(s.sv, c.cv), 2000.0)
        |             * 1000000000000.0) AS BIGINT) * 4096 + c.j) % 4096 AS j
        |  FROM sub s JOIN cb c ON s.m = c.m
        |  GROUP BY s.vec_id, s.m),
        |qsub AS (SELECT m, sv AS qv FROM suball WHERE vec_id = 1),
        |dt AS (
        |  SELECT c.m, c.j,
        |         CAST(floor(array_distance(c.cv, s.qv) * array_distance(c.cv, s.qv)
        |              * 1000000.0) AS BIGINT) AS dq
        |  FROM cb c JOIN qsub s ON c.m = s.m),
        |adc AS (
        |  SELECT co.vec_id, CAST(sum(dt.dq) AS BIGINT) AS adc
        |  FROM code co JOIN dt ON co.m = dt.m AND co.j = dt.j
        |  GROUP BY co.vec_id),
        |cand AS (SELECT vec_id FROM adc ORDER BY adc ASC, vec_id ASC LIMIT 50)
        |SELECT s.vec_id,
        |       1 - array_cosine_similarity(s.embedding::DOUBLE[64],
        |           (SELECT v FROM q)) AS cos_dist
        |FROM sel s JOIN cand USING (vec_id)
        |ORDER BY cos_dist ASC NULLS LAST, vec_id ASC LIMIT 10""".stripMargin,
    // the batched probe replayed per query: same centroid choice and
    // assignment as annIvfOracle, ranking and top-k partitioned by qid
    "ann_batch_topk" ->
      """WITH cents AS (
        |  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id % 64 = 0),
        |q AS (SELECT vec_id AS qid, embedding::DOUBLE[64] AS v
        |      FROM embeddings WHERE vec_id IN (1, 2, 3)),
        |probed AS (
        |  SELECT qid, cid FROM (
        |    SELECT q.qid, c.cid,
        |           row_number() OVER (PARTITION BY q.qid ORDER BY
        |             1 - array_cosine_similarity(c.embedding::DOUBLE[64], q.v)
        |               ASC NULLS LAST,
        |             c.cid ASC) AS rn
        |    FROM cents c CROSS JOIN q) WHERE rn <= 4),
        |assign AS (
        |  SELECT vec_id, centroid FROM (
        |    SELECT e.vec_id, c.cid AS centroid,
        |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |             1 - array_cosine_similarity(e.embedding::DOUBLE[64],
        |                 c.embedding::DOUBLE[64]) ASC,
        |             c.cid ASC) AS rn
        |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
        |hits AS (
        |  SELECT q.qid,
        |         e.vec_id,
        |         1 - array_cosine_similarity(e.embedding::DOUBLE[64], q.v) AS cos_dist,
        |         row_number() OVER (PARTITION BY q.qid ORDER BY
        |           1 - array_cosine_similarity(e.embedding::DOUBLE[64], q.v)
        |             ASC NULLS LAST,
        |           e.vec_id ASC) AS rnk
        |  FROM embeddings e
        |  JOIN assign a ON e.vec_id = a.vec_id
        |  JOIN probed p ON a.centroid = p.cid
        |  JOIN q ON q.qid = p.qid)
        |SELECT qid, CAST(rnk AS BIGINT) AS rank, vec_id, cos_dist
        |FROM hits WHERE rnk <= 10
        |ORDER BY qid, rank""".stripMargin,
    // materialize(half) + appendToMaterialized(other half) yields the exact
    // assignment of materializing the full corpus (centroids are the same
    // stride sample either way), so the incremental path shares the oracle
    "ann_incremental_topk" -> annIvfOracle,
    // delete == reduced-corpus rebuild: the oracle replays build+probe
    // over exactly the surviving rows
    "ann_ivf_delete_topk" -> annIvfOracleWhere(" WHERE vec_id % 4 <> 3"),
    // half build + streamed ingest epoch + streamed takedown epoch ==
    // reduced-corpus rebuild (frozen centroids make append and delete both
    // exact), so the streamed gate shares the batch delete's replay
    "streamed_ann_delete_topk" -> annIvfOracleWhere(" WHERE vec_id % 4 <> 3"),
    // segmentation -> distinct-doc dup census -> ordered reassembly, all
    // replayed: clean_fp only matches if the surviving segments AND their
    // order are byte-identical to the engine's rebuilt text
    "segment_dedup_clean" ->
      s"""WITH tok AS (
         |  SELECT doc_id, string_split(text, ' ') AS t
         |  FROM documents WHERE text IS NOT NULL),
         |seg AS (
         |  SELECT doc_id,
         |         unnest(range(0, (len(t) + ${SegWindow - 1}) // $SegWindow)) AS seg_id,
         |         t
         |  FROM tok),
         |s2 AS (
         |  SELECT doc_id, seg_id,
         |         array_to_string(
         |           t[(seg_id*$SegWindow+1):(seg_id*$SegWindow+$SegWindow)], ' ') AS seg
         |  FROM seg),
         |dup AS (
         |  SELECT md5(seg) AS h FROM s2
         |  GROUP BY md5(seg) HAVING count(DISTINCT doc_id) >= $SegMinDocs),
         |m AS (
         |  SELECT doc_id, seg_id, seg,
         |         md5(seg) IN (SELECT h FROM dup) AS isdup
         |  FROM s2)
         |SELECT doc_id,
         |       count(*) AS n_segments,
         |       CAST(sum(CASE WHEN isdup THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |       md5(coalesce(
         |         string_agg(CASE WHEN NOT isdup THEN seg END, ' ' ORDER BY seg_id),
         |         '')) AS clean_fp
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the full ranking re-derived with a window over the same cosine
    // distances (self excluded), then the identical positive/negative band
    // split — role, rank, id and distance must all agree
    "hard_negatives" ->
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding::DOUBLE[64] AS v
         |  FROM embeddings WHERE vec_id IN (1, 2, 3)),
         |scored AS (
         |  SELECT q.qid, e.vec_id,
         |         1 - array_cosine_similarity(e.embedding::DOUBLE[64], q.v) AS cos_dist,
         |         row_number() OVER (PARTITION BY q.qid ORDER BY
         |           1 - array_cosine_similarity(e.embedding::DOUBLE[64], q.v)
         |             ASC NULLS LAST,
         |           e.vec_id ASC) AS rnk
         |  FROM embeddings e JOIN q ON e.vec_id <> q.qid)
         |SELECT qid, CAST(rnk AS BIGINT) AS rank, vec_id, cos_dist,
         |       CASE WHEN rnk <= 1 THEN 'positive' ELSE 'hard_negative' END AS role
         |FROM scored WHERE rnk <= 1 OR rnk BETWEEN $NegFrom AND $NegTo
         |ORDER BY qid, rank""".stripMargin,
    // both pipelines replayed independently — the IVF probe (shared CTE
    // shape with ann_batch_topk) and the exact brute-force truth — then
    // intersected per query; recall only matches if probe, truth and the
    // arithmetic all agree
    "ann_recall" ->
      """WITH cents AS (
        |  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id % 64 = 0),
        |q AS (SELECT vec_id AS qid, embedding::DOUBLE[64] AS v
        |      FROM embeddings WHERE vec_id IN (1, 2, 3)),
        |probed AS (
        |  SELECT qid, cid FROM (
        |    SELECT q.qid, c.cid,
        |           row_number() OVER (PARTITION BY q.qid ORDER BY
        |             1 - array_cosine_similarity(c.embedding::DOUBLE[64], q.v)
        |               ASC NULLS LAST,
        |             c.cid ASC) AS rn
        |    FROM cents c CROSS JOIN q) WHERE rn <= 4),
        |assign AS (
        |  SELECT vec_id, centroid FROM (
        |    SELECT e.vec_id, c.cid AS centroid,
        |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |             1 - array_cosine_similarity(e.embedding::DOUBLE[64],
        |                 c.embedding::DOUBLE[64]) ASC,
        |             c.cid ASC) AS rn
        |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
        |probe AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT q.qid, e.vec_id,
        |           row_number() OVER (PARTITION BY q.qid ORDER BY
        |             1 - array_cosine_similarity(e.embedding::DOUBLE[64], q.v)
        |               ASC NULLS LAST,
        |             e.vec_id ASC) AS rnk
        |    FROM embeddings e
        |    JOIN assign a ON e.vec_id = a.vec_id
        |    JOIN probed p ON a.centroid = p.cid
        |    JOIN q ON q.qid = p.qid) WHERE rnk <= 10),
        |truth AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT q.qid, e.vec_id,
        |           row_number() OVER (PARTITION BY q.qid ORDER BY
        |             1 - array_cosine_similarity(e.embedding::DOUBLE[64], q.v)
        |               ASC NULLS LAST,
        |             e.vec_id ASC) AS rnk
        |    FROM embeddings e CROSS JOIN q) WHERE rnk <= 10),
        |hits AS (
        |  SELECT p.qid, count(*) AS n_hits
        |  FROM probe p JOIN truth t ON p.qid = t.qid AND p.vec_id = t.vec_id
        |  GROUP BY p.qid)
        |SELECT qs.qid, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |       coalesce(h.n_hits, 0) / 10.0 AS recall
        |FROM (SELECT DISTINCT qid FROM q) qs LEFT JOIN hits h USING (qid)
        |ORDER BY qs.qid""".stripMargin,
    // the full minhash pipeline replayed (signatures, bands, candidates)
    // plus BOTH sides of the calibration: the 16-component agreement
    // estimator and the exact shingle Jaccard — est, truth and the error
    // must all agree bit-for-bit
    "minhash_calibration" -> minhashCalibrationOracle,
    // both snapshot derivations replayed (the %11/%13 drops, the %9 edit
    // suffix), then the same full-outer id join and IS NOT DISTINCT FROM
    // fingerprint classification
    "corpus_delta" ->
      """WITH oldsnap AS (
        |  SELECT doc_id, md5(text) AS old_fp FROM documents WHERE doc_id % 11 <> 3),
        |newsnap AS (
        |  SELECT doc_id,
        |         md5(CASE WHEN doc_id % 9 = 2 THEN text || ' rev2' ELSE text END) AS new_fp
        |  FROM documents WHERE doc_id % 13 <> 5)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |       CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN n.doc_id IS NULL THEN 'removed'
        |            WHEN o.old_fp IS NOT DISTINCT FROM n.new_fp THEN 'unchanged'
        |            ELSE 'changed' END AS status,
        |       o.old_fp AS old_fp, n.new_fp AS new_fp
        |FROM oldsnap o FULL OUTER JOIN newsnap n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,
    // the ranking re-derived with a window (self excluded), labels joined
    // from the corpus rows, and both metrics recomputed from the same
    // integers — n_rel/k and 1/rank are exact rationals, so this holds
    // under the hash gate
    "retrieval_eval" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding::DOUBLE[64] AS v, label AS ql
        |  FROM embeddings WHERE vec_id IN (1, 2, 3, 4, 5)),
        |scored AS (
        |  SELECT q.qid, q.ql, e.label AS hl,
        |         row_number() OVER (PARTITION BY q.qid ORDER BY
        |           1 - array_cosine_similarity(e.embedding::DOUBLE[64], q.v)
        |             ASC NULLS LAST,
        |           e.vec_id ASC) AS rnk
        |  FROM embeddings e JOIN q ON e.vec_id <> q.qid)
        |SELECT qid,
        |       CAST(sum(CASE WHEN hl = ql THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
        |       CAST(sum(CASE WHEN hl = ql THEN 1 ELSE 0 END) AS DOUBLE) / 10.0
        |         AS precision_at_k,
        |       CAST(min(CASE WHEN hl = ql THEN rnk END) AS BIGINT) AS first_rel_rank,
        |       coalesce(1.0 / min(CASE WHEN hl = ql THEN rnk END), 0.0)
        |         AS reciprocal_rank
        |FROM scored WHERE rnk <= 10 GROUP BY qid ORDER BY qid""".stripMargin,
    // the md5 shard assignment and both manifest columns replayed —
    // bit_xor is order-independent in both engines, so neither side
    // depends on scan order
    "sharded_export" ->
      """WITH h AS (
        |  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8
        |           AS shard,
        |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hh
        |  FROM documents)
        |SELECT shard, count(*)::BIGINT AS n_rows, bit_xor(hh) AS id_checksum
        |FROM h GROUP BY shard ORDER BY shard""".stripMargin,
    // the label filter + window ranking replayed — the filtered subset is
    // the ranking universe, so ranks and distances must agree end to end
    "ann_filtered_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding::DOUBLE[64] AS v
        |  FROM embeddings WHERE vec_id IN (1, 2, 3))
        |SELECT qid, CAST(rnk AS BIGINT) AS rank, vec_id, cos_dist FROM (
        |  SELECT q.qid, e.vec_id,
        |         1 - array_cosine_similarity(e.embedding::DOUBLE[64], q.v) AS cos_dist,
        |         row_number() OVER (PARTITION BY q.qid ORDER BY
        |           1 - array_cosine_similarity(e.embedding::DOUBLE[64], q.v)
        |             ASC NULLS LAST,
        |           e.vec_id ASC) AS rnk
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.label = 3)
        |WHERE rnk <= 10 ORDER BY qid, rank""".stripMargin,
    // both rankings replayed (the BM25 CTE chain with the shared terms;
    // the cosine window with the vec_id=0 query), then the same
    // 1/(60+rank) fusion, full-outer join and top-10 cut
    "hybrid_rrf_topk" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
         |stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
         |tf AS (SELECT doc_id, tk, count(*) AS tf FROM tok
         |       WHERE tk IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")}) GROUP BY doc_id, tk),
         |dfreq AS (SELECT tk, count(*) AS df FROM tf GROUP BY tk),
         |bm AS (
         |  SELECT doc_id,
         |         round(sum(
         |           ln(1.0 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5))
         |           * (tf * (1.2 + 1.0))
         |           / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (SELECT avgdl FROM stats)))), 6) AS score
         |  FROM tf JOIN dfreq USING (tk) JOIN dl USING (doc_id)
         |  GROUP BY doc_id),
         |bmr AS (SELECT doc_id, ra FROM (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS ra
         |  FROM bm) WHERE ra <= 20),
         |q AS (SELECT embedding::DOUBLE[64] AS v FROM embeddings WHERE vec_id = 0),
         |vr AS (SELECT doc_id, rb FROM (
         |  SELECT e.vec_id AS doc_id,
         |         row_number() OVER (ORDER BY
         |           1 - array_cosine_similarity(e.embedding::DOUBLE[64], q.v)
         |             ASC NULLS LAST,
         |           e.vec_id ASC) AS rb
         |  FROM embeddings e CROSS JOIN q) WHERE rb <= 20),
         |fused AS (
         |  SELECT coalesce(b.doc_id, v.doc_id) AS doc_id,
         |         coalesce(1.0 / (60 + b.ra), 0) + coalesce(1.0 / (60 + v.rb), 0)
         |           AS rrf_score
         |  FROM bmr b FULL OUTER JOIN vr v ON b.doc_id = v.doc_id)
         |SELECT CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS BIGINT)
         |         AS rank,
         |       doc_id, rrf_score
         |FROM fused ORDER BY rrf_score DESC, doc_id ASC LIMIT 10""".stripMargin,
    // the recursive-CTE components replay extended with sizes and the
    // integer inverse-size weight — singletons fall out of the left joins
    "soft_dedup_weights" ->
      s"""WITH RECURSIVE pairs AS ($JaccardPairsSql),
         |edges AS (
         |  SELECT a AS src, b AS dst FROM pairs
         |  UNION
         |  SELECT b AS src, a AS dst FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst AS id, reach.r AS r
         |  FROM reach JOIN edges e ON e.src = reach.id),
         |comp AS (SELECT id, CAST(min(r) AS BIGINT) AS component FROM reach GROUP BY id),
         |sizes AS (SELECT component, count(*)::BIGINT AS cluster_size
         |          FROM comp GROUP BY component)
         |SELECT d.doc_id,
         |       coalesce(c.component, d.doc_id) AS component,
         |       coalesce(s.cluster_size, 1) AS cluster_size,
         |       CAST(1000000 // coalesce(s.cluster_size, 1) AS BIGINT) AS weight_ppm
         |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
         |LEFT JOIN sizes s ON c.component = s.component
         |ORDER BY d.doc_id""".stripMargin,
    // components replay + the kPerGroup determinism contract (md5 of the
    // decimal id, then id) — at most 2 rows per cluster survive
    "diversity_keep" ->
      s"""WITH RECURSIVE pairs AS ($JaccardPairsSql),
         |edges AS (
         |  SELECT a AS src, b AS dst FROM pairs
         |  UNION
         |  SELECT b AS src, a AS dst FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst AS id, reach.r AS r
         |  FROM reach JOIN edges e ON e.src = reach.id),
         |comp AS (SELECT id, CAST(min(r) AS BIGINT) AS component FROM reach GROUP BY id),
         |withcomp AS (
         |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
         |SELECT doc_id, component FROM (
         |  SELECT doc_id, component,
         |         row_number() OVER (PARTITION BY component
         |           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
         |  FROM withcomp) WHERE rn <= 2
         |ORDER BY doc_id""".stripMargin,
    // the sqrt-share derivation and the hash-bucket keep filter replayed:
    // floor(sqrt) agrees bit-for-bit (correctly-rounded IEEE sqrt both
    // engines), the ppm/alloc/keep chain is pure integer floor division
    "temperature_mixture" ->
      """WITH t AS (
        |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tot
        |  FROM documents GROUP BY source),
        |w AS (SELECT source, tot, CAST(floor(sqrt(tot::DOUBLE)) AS BIGINT) AS w FROM t),
        |s AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM w),
        |k AS (
        |  SELECT source,
        |         least(1000, 1000 * (8000 * (w * 1000000 // sw) // 1000000) // tot)
        |           AS keep
        |  FROM w, s)
        |SELECT d.doc_id, d.source FROM documents d
        |JOIN k ON d.source IS NOT DISTINCT FROM k.source
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000
        |      < k.keep
        |ORDER BY doc_id""".stripMargin,
    // the per-source exact median replayed with quantile_cont — the same
    // q*(n-1) interpolation Spark's percentile computes, bit-equal on the
    // integer metric — then the same keep-filter
    "adaptive_filter" ->
      """WITH cut AS (
        |  SELECT source, quantile_cont(n_chars, 0.5) AS cutoff
        |  FROM documents GROUP BY source)
        |SELECT d.doc_id, d.source, d.n_chars, c.cutoff
        |FROM documents d JOIN cut c USING (source)
        |WHERE d.n_chars >= c.cutoff
        |ORDER BY d.doc_id""".stripMargin,
    // the feature hash, the training aggregate (+1/-1 per token instance)
    // and the scoring sum all replayed — integer arithmetic end to end, so
    // the trained model itself is under the hash gate
    "classifier_quality" ->
      s"""WITH tr AS (
         |  SELECT lang = 'en' AS pos, unnest(string_split(text, ' ')) AS tok
         |  FROM documents WHERE doc_id % 3 <> 0),
         |cnt AS (
         |  SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT % $ClfBuckets AS bucket,
         |         CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
         |         CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
         |  FROM tr GROUP BY 1),
         |tot AS (
         |  SELECT CAST(sum(np) AS BIGINT) AS tp, CAST(sum(nn) AS BIGINT) AS tn
         |  FROM cnt),
         |w AS (
         |  SELECT bucket,
         |         CAST(np * 1000000 // tp - nn * 1000000 // tn AS BIGINT) AS w
         |  FROM cnt, tot),
         |ev AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents WHERE doc_id % 3 = 0),
         |sc AS (
         |  SELECT e.doc_id, CAST(coalesce(sum(w.w), 0) AS BIGINT) AS score
         |  FROM ev e LEFT JOIN w
         |    ON ('0x' || substr(md5(e.tok), 1, 15))::BIGINT % $ClfBuckets = w.bucket
         |  GROUP BY e.doc_id)
         |SELECT d.doc_id, CAST(coalesce(s.score, 0) AS BIGINT) AS score,
         |       coalesce(s.score, 0) > 0 AS predicted,
         |       d.lang = 'en' AS actual
         |FROM documents d LEFT JOIN sc s USING (doc_id)
         |WHERE d.doc_id % 3 = 0
         |ORDER BY d.doc_id""".stripMargin,
    // the full DSIR fit replayed: both hashed-feature count passes, both
    // totals, and the fixed-point smoothed-ratio arithmetic over the full
    // bucket range — integer end to end
    "dsir_weights" ->
      s"""WITH $DsirFtCte,
         |$DsirWCtes
         |SELECT bucket, CAST(w AS BIGINT) AS w FROM w ORDER BY bucket""".stripMargin,
    // fit + score + top-n selection replayed; docs with NULL text keep a
    // 0-score row via the LEFT JOIN (the engine's explode_outer contract)
    "dsir_select" ->
      s"""WITH $DsirFtCte,
         |$DsirWCtes,
         |sc AS (
         |  SELECT ft.doc_id,
         |         CAST(sum(w.w) // greatest(count(*), 1) AS BIGINT) AS score
         |  FROM ft JOIN w
         |    ON ('0x' || substr(md5(ft.f), 1, 15))::BIGINT % $DsirBuckets = w.bucket
         |  WHERE ft.doc_id % 7 <> 0 GROUP BY 1),
         |scored AS (
         |  SELECT d.doc_id, CAST(coalesce(s.score, 0) AS BIGINT) AS score
         |  FROM documents d LEFT JOIN sc s USING (doc_id)
         |  WHERE d.doc_id % 7 <> 0),
         |top AS (
         |  SELECT doc_id, score FROM scored
         |  ORDER BY score DESC, doc_id ASC LIMIT $DsirTopN)
         |SELECT doc_id, score FROM top ORDER BY doc_id""".stripMargin,
    // the Gumbel draw replayed with the SAME embedded quantile table (a
    // literal list — both engines do only md5 + integer arithmetic at
    // query time, so the sampled set and the key values are bit-equal)
    "dsir_gumbel_select" ->
      s"""WITH $DsirFtCte,
         |$DsirWCtes,
         |sc AS (
         |  SELECT ft.doc_id,
         |         CAST(sum(w.w) // greatest(count(*), 1) AS BIGINT) AS score
         |  FROM ft JOIN w
         |    ON ('0x' || substr(md5(ft.f), 1, 15))::BIGINT % $DsirBuckets = w.bucket
         |  WHERE ft.doc_id % 7 <> 0 GROUP BY 1),
         |scored AS (
         |  SELECT d.doc_id, CAST(coalesce(s.score, 0) AS BIGINT) AS score
         |  FROM documents d LEFT JOIN sc s USING (doc_id)
         |  WHERE d.doc_id % 7 <> 0),
         |g AS (
         |  SELECT doc_id, score,
         |         CAST(($GumbelTableSql)[
         |           CAST(('0x' || substr(md5('$GumbelSeed|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |                % ${Dsir.GumbelBuckets} AS INT) + 1] AS BIGINT) AS gm
         |  FROM scored),
         |gk AS (
         |  SELECT doc_id, score,
         |         CAST(score * 1000000 + $GumbelTau * gm AS BIGINT) AS gkey
         |  FROM g),
         |top AS (
         |  SELECT doc_id, score, gkey FROM gk
         |  ORDER BY gkey DESC, doc_id ASC LIMIT $DsirTopN)
         |SELECT doc_id, score, gkey FROM top ORDER BY doc_id""".stripMargin,
    // the full winnowing chain replayed: ordered (non-distinct) 3-gram
    // list, the 60-bit md5 hash convention, per-window list_min, distinct
    // selection, and the sorted-set digest
    "winnow_fingerprints" ->
      s"""WITH $WinnowFpCte
         |SELECT doc_id, count(*)::BIGINT AS n_fp,
         |       md5(string_agg(CAST(fp AS VARCHAR), ',' ORDER BY fp)) AS fps_md5
         |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "winnow_pairs" ->
      s"""WITH $WinnowFpCte
         |SELECT l.doc_id AS a, r.doc_id AS b, count(*)::BIGINT AS n_shared
         |FROM f l JOIN f r ON l.fp = r.fp AND l.doc_id < r.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY a, b""".stripMargin,
    // same chain, split batch (odd) vs corpus (even) — the at-rest
    // bucketed layout must not change a single row
    "incremental_winnow_pairs" ->
      s"""WITH $WinnowFpCte
         |SELECT l.doc_id AS a, r.doc_id AS b, count(*)::BIGINT AS n_shared
         |FROM f l JOIN f r ON l.fp = r.fp
         |WHERE l.doc_id % 2 = 1 AND r.doc_id % 2 = 0
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY a, b""".stripMargin,
    // the salt, both length-difference counts and the fixed-point ppm all
    // replayed (chr(65533) = U+FFFD; the control class is the shared
    // TextOps.ControlCharClass constant)
    "encoding_quality" ->
      s"""WITH enc AS (SELECT doc_id, $encSaltedSql AS t FROM documents),
         |st AS (
         |  SELECT doc_id,
         |    coalesce(length(t), 0)::BIGINT AS n_chars,
         |    coalesce(length(t) - length(regexp_replace(t, chr(65533), '', 'g')), 0)::BIGINT
         |      AS n_replacement,
         |    coalesce(length(t) - length(regexp_replace(t, '${TextOps.ControlCharClass}', '', 'g')), 0)::BIGINT
         |      AS n_control
         |  FROM enc)
         |SELECT doc_id, n_chars, n_replacement, n_control,
         |       (n_replacement + n_control) * 1000000 // greatest(n_chars, 1)
         |         AS bad_ppm
         |FROM st ORDER BY doc_id""".stripMargin,
    // the whole bucketing chain replayed: bigram training, the integer
    // fit metric, per-lang quantile_cont cutoffs (same q·(n-1) definition
    // as Spark's percentile on this integer metric) and the label rules
    "ppl_buckets" ->
      """WITH g2 AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - 1, 0)),
        |    i -> array_to_string(string_split(text, ' ')[i+1:i+2], ' '))) AS gram
        |  FROM documents WHERE text IS NOT NULL),
        |cnt AS (SELECT gram, count(*)::BIGINT AS gram_cnt FROM g2 GROUP BY gram),
        |per AS (SELECT g.doc_id, count(*)::BIGINT AS n_bigrams,
        |               sum(coalesce(c.gram_cnt, 0))::BIGINT AS fit_sum
        |        FROM g2 g LEFT JOIN cnt c USING (gram) GROUP BY g.doc_id),
        |fit AS (
        |  SELECT d.doc_id, d.lang,
        |         coalesce(p.fit_sum * 1000000 // nullif(p.n_bigrams, 0), 0)
        |           AS fit1e6
        |  FROM documents d LEFT JOIN per p USING (doc_id)
        |  WHERE d.text IS NOT NULL),
        |cut AS (
        |  SELECT lang, quantile_cont(fit1e6, 1.0/3) AS c33,
        |         quantile_cont(fit1e6, 2.0/3) AS c67
        |  FROM fit GROUP BY lang)
        |SELECT f.doc_id, f.lang, CAST(f.fit1e6 AS BIGINT) AS fit1e6,
        |       c.c33, c.c67,
        |       CASE WHEN f.fit1e6 >= c.c67 THEN 'head'
        |            WHEN f.fit1e6 >= c.c33 THEN 'middle'
        |            ELSE 'tail' END AS bucket
        |FROM fit f JOIN cut c ON f.lang IS NOT DISTINCT FROM c.lang
        |ORDER BY f.doc_id""".stripMargin,
    // the fuzzy tier's full jaccard chain replayed across the bench split:
    // per-pair intersection over distinct 3-gram shingles, the size-exact
    // jaccard (one IEEE division per pair), tau cut, then per-corpus-doc
    // match count + max
    "fuzzy_decontaminate" ->
      s"""WITH $ShCte,
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |pairs AS (
         |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS inter
         |  FROM sh l JOIN sh r ON l.sh = r.sh
         |  WHERE l.doc_id % 10 <> 0 AND r.doc_id % 10 = 0
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT a, inter::DOUBLE / (sa.sz + sb.sz - inter) AS jac
         |  FROM pairs
         |  JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
         |  WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= $JaccardTau)
         |SELECT a AS doc_id, count(*)::BIGINT AS n_bench_matches,
         |       max(jac) AS max_jaccard
         |FROM j GROUP BY a ORDER BY doc_id""".stripMargin,
  )

  private val annIvfOracle: String = annIvfOracleWhere("")

  /** The final per-user profile snapshot == the batch groupBy; cents =
    * floor(value·100 + 0.5) replays the gates' exact-integer arithmetic
    * (identical double ops on both engines). Shared by the v1
    * (mapGroupsWithState) and v2 (transformWithState) gates.
    */
  private val streamedProfilesOracle: String =
    """SELECT user_id, count(*)::BIGINT AS n_events,
      |       CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT)
      |         AS total_cents,
      |       max(ts) AS last_seen
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** The flat-PQ pipeline replay (codebooks, packed-argmin assignment,
    * integer ADC, full-precision rerank) over an optionally REDUCED corpus
    * (`ePred`, a `WHERE ...` tail on the base CTE) — the delete gate
    * replays the re-encode over exactly the surviving rows.
    */
  private def annPqOracleWhere(ePred: String): String =
    s"""WITH eb AS (SELECT vec_id, embedding FROM embeddings$ePred),
      |sub AS (
      |  -- list_transform materializes the slice before the ARRAY cast:
      |  -- DuckDB 1.0.0 casts a sliced list to DOUBLE[n] with the slice
      |  -- OFFSET ignored (reads the wrong 8 floats / garbage). The
      |  -- lambda forces fresh storage; values are the same float->double
      |  -- conversion Spark's cast applies.
      |  SELECT vec_id, m,
      |         list_transform(embedding[m*8+1:m*8+8],
      |                        x -> CAST(x AS DOUBLE))::DOUBLE[8] AS sv
      |  FROM eb CROSS JOIN (SELECT unnest(range(0, 8)) AS m)),
      |cb AS (SELECT dense_rank() OVER (ORDER BY vec_id) - 1 AS j, m, sv AS cv FROM sub WHERE vec_id % 64 = 0),
      |-- assignment replays the engine's packed-long argmin exactly:
      |-- floor(least(d, 2000)*1e12)*4096 + j, min, then % 4096 recovers j
      |-- (the 1e-12 quantization AND the packedKey overflow clamp are part
      |-- of the algorithm, identical both sides)
      |code AS (
      |  SELECT s.vec_id, s.m,
      |         min(CAST(floor(least(array_distance(s.sv, c.cv), 2000.0)
      |             * 1000000000000.0) AS BIGINT) * 4096 + c.j) % 4096 AS j
      |  FROM sub s JOIN cb c ON s.m = c.m
      |  GROUP BY s.vec_id, s.m),
      |q AS (SELECT m, sv AS qv FROM sub WHERE vec_id = 1),
      |dt AS (
      |  SELECT c.m, c.j,
      |         CAST(floor(array_distance(c.cv, q.qv) * array_distance(c.cv, q.qv)
      |              * 1000000.0) AS BIGINT) AS dq
      |  FROM cb c JOIN q ON c.m = q.m),
      |adc AS (
      |  SELECT co.vec_id, CAST(sum(dt.dq) AS BIGINT) AS adc
      |  FROM code co JOIN dt ON co.m = dt.m AND co.j = dt.j
      |  GROUP BY co.vec_id),
      |cand AS (SELECT vec_id FROM adc ORDER BY adc ASC, vec_id ASC LIMIT 100),
      |fq AS (SELECT embedding FROM eb WHERE vec_id = 1)
      |SELECT e.vec_id,
      |       1 - array_cosine_similarity(e.embedding::DOUBLE[64],
      |           (SELECT embedding FROM fq)::DOUBLE[64]) AS cos_dist
      |FROM eb e JOIN cand USING (vec_id)
      |ORDER BY cos_dist ASC NULLS LAST, vec_id ASC LIMIT 10""".stripMargin

  /** The IVF build+probe replay over an optionally REDUCED corpus
    * (`ePred`, a `WHERE ...` tail on the base CTE) — the delete gate
    * replays the rebuild over exactly the surviving rows.
    */
  private def annIvfOracleWhere(ePred: String): String =
    s"""WITH eb AS (SELECT vec_id, embedding FROM embeddings$ePred),
      |cents AS (
      |  SELECT vec_id AS cid, embedding FROM eb WHERE vec_id % 64 = 0),
      |q AS (SELECT embedding::DOUBLE[64] AS v FROM eb WHERE vec_id = 1),
      |probed AS (
      |  SELECT cid FROM (
      |    SELECT cid,
      |           1 - array_cosine_similarity(embedding::DOUBLE[64], (SELECT v FROM q)) AS d
      |    FROM cents)
      |  ORDER BY d ASC NULLS LAST, cid ASC LIMIT 4),
      |assign AS (
      |  SELECT vec_id, centroid FROM (
      |    SELECT e.vec_id, c.cid AS centroid,
      |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |             1 - array_cosine_similarity(e.embedding::DOUBLE[64],
      |                 c.embedding::DOUBLE[64]) ASC,
      |             c.cid ASC) AS rn
      |    FROM eb e CROSS JOIN cents c) WHERE rn = 1)
      |SELECT e.vec_id,
      |       1 - array_cosine_similarity(e.embedding::DOUBLE[64], (SELECT v FROM q)) AS cos_dist
      |FROM eb e JOIN assign a ON e.vec_id = a.vec_id
      |WHERE a.centroid IN (SELECT cid FROM probed)
      |ORDER BY cos_dist ASC NULLS LAST, e.vec_id ASC LIMIT 10""".stripMargin
}
