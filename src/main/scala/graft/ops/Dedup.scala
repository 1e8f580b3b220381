package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.SparkShims
import org.apache.spark.storage.StorageLevel

import graft.functions.simhash

/** Deduplication operators for the LLM-data-pipeline surface (north star).
  *
  * Four tiers, all shuffle-disciplined for 100 TB:
  *  - exact: one hash-aggregate shuffle on the dedup key.
  *  - minhash+LSH: shingle explode -> per-doc signature aggregate -> band
  *    bucket join (never all-pairs; candidate verification is an
  *    inverted-index equi-join).
  *  - simhash: one 60-bit fingerprint per doc (custom Catalyst expression),
  *    banded 4x15 bits — pigeonhole-guarantees recall for hamming <= 3.
  *  - exact n-gram Jaccard: prefix-free inverted-index join (pairs must
  *    share >= 1 shingle — exact, no candidate loss, no cartesian).
  *
  * Hashes are md5-based so every pipeline is replicable as a DuckDB-1.0
  * oracle query; at production scale substitute xxhash64 — the machinery is
  * hash-agnostic.
  *
  * Caching note: the multi-consumer pipelines (minhash, simhash) persist
  * shared intermediates (MEMORY_AND_DISK) and hand the lineage to
  * the returned plan — the blocks live until the session ends or the caller
  * runs `spark.catalog.clearCache()`. In a long-lived session invoking
  * these repeatedly, clear between batches.
  */
object Dedup {

  /** Exact dedup: keep the lowest-tiebreak row per key (deterministic,
    * unlike dropDuplicates). Genuinely ONE hash-aggregate shuffle:
    * `min_by(struct(*), tieBreak)` combines map-side, so the exchange
    * carries one surviving row per (partition, key) — a window/row_number
    * formulation would shuffle and sort every input row. Ties on
    * `tieBreak` within a key pick an arbitrary row; use a unique tie-break.
    */
  def exact(df: DataFrame, keyCols: Seq[String], tieBreak: String): DataFrame = {
    val all = struct(df.columns.map(col): _*)
    df.groupBy(keyCols.map(col): _*)
      .agg(min_by(all, col(tieBreak)).as("__graft_row"))
      .select(df.columns.map(c => col(s"__graft_row.`$c`").as(c)): _*)
  }

  /** MinHash signature k-column layout: h_j = min over shingles of the
    * 60-bit value `first-15-hex-chars(md5(j || '|' || shingle))` (the same
    * hash convention as [[graft.functions.SimHash]]). Minhashing over longs
    * — not hex strings — matters: `min(string)` has a variable-length
    * aggregation buffer, which forces Spark into SortAggregate (two full
    * sorts of the exploded table); `min(long)` takes the HashAggregate fast
    * path. Numeric order == fixed-width-hex lexicographic order, so the
    * semantics are unchanged and a DuckDB oracle expresses the same value as
    * `('0x' || substr(md5(...), 1, 15))::BIGINT`.
    * Input: (idCol, shingleCol: array<string>). Output: idCol, h0..h{k-1} long.
    */
  def minhashSignatures(df: DataFrame, idCol: String, shingleCol: String,
      k: Int = 16): DataFrame = {
    // inner explode: docs with zero shingles drop out of the signature set
    // (matches the oracle's unnest; short docs can't near-dup anyway)
    val exploded = df
      .select(col(idCol), explode(array_distinct(col(shingleCol))).as("__sh"))
      .persist(StorageLevel.MEMORY_AND_DISK) // feeds the dictionary AND the join
    // Hash each DISTINCT shingle once (the shingle dictionary is vocabulary-
    // sized — far smaller than the (doc, shingle) instance table), then join
    // the k hashes back. Cuts k*instances md5 calls to k*|dict|; AQE
    // broadcasts the dictionary when it fits.
    val dict = exploded.select(col("__sh")).distinct()
      .select(col("__sh") +: (0 until k).map { j =>
        conv(substring(md5(concat(lit(s"$j|"), col("__sh"))), 1, 15), 16, 10)
          .cast("long").as(s"__h$j")
      }: _*)
    val aggs = (0 until k).map(j => min(col(s"__h$j")).as(s"h$j"))
    exploded.join(dict, "__sh")
      .groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH band keys from a minhash signature frame: band b covers rows
    * [b*rowsPerBand, (b+1)*rowsPerBand); band key = md5 of the joined mins.
    * Output: (idCol, band, key).
    */
  def lshBands(sigs: DataFrame, idCol: String, k: Int = 16,
      bands: Int = 4): DataFrame = {
    val rowsPerBand = k / bands
    require(bands * rowsPerBand == k, s"bands ($bands) must divide k ($k)")
    // posexplode of a band-key array: ONE pass over the signatures (a
    // per-band union would recompute the whole minhash pipeline per band).
    // Long minhashes render as decimal strings — DuckDB's `::VARCHAR` casts
    // identically, keeping the band keys oracle-replicable.
    val bandKeys = (0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(j => col(s"h$j").cast("string"))
      md5(concat_ws("|", cols: _*))
    }
    sigs.select(col(idCol), posexplode(array(bandKeys: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
  }

  /** Candidate pairs (a < b) sharing at least one LSH band bucket.
    * Self-join on (band, key) — co-partitioned equi-join, no cartesian.
    */
  def lshCandidatePairs(bandsDf: DataFrame, idCol: String): DataFrame = {
    val l = bandsDf.select(col("band"), col("key"), col(idCol).as("a"))
    val r = bandsDf.select(col("band"), col("key"), col(idCol).as("b"))
    l.join(r, Seq("band", "key"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Cross-corpus LSH candidates: batch band rows against CORPUS band rows
    * — the scale tier of incremental dedup. The corpus signs ONCE (store
    * its [[lshBands]] output as a table keyed by (band, key)); each new
    * batch computes only its own signatures and equi-joins the band table —
    * corpus text is never re-read, never self-joined. Output: (a = batch
    * id, b = corpus id) candidates, to verify with [[verifyJaccard]].
    */
  def lshCandidatePairsAgainst(batchBands: DataFrame, corpusBands: DataFrame,
      idCol: String): DataFrame = {
    val l = batchBands.select(col("band"), col("key"), col(idCol).as("a"))
    val r = corpusBands.select(col("band"), col("key"), col(idCol).as("b"))
    l.join(r, Seq("band", "key"))
      .select("a", "b").distinct()
  }

  /** Exact n-gram Jaccard similarity join via inverted index: explode each
    * doc's distinct shingles, equi-join on shingle (any pair with J > 0
    * shares one — exact, no recall loss, no cartesian), count matches per
    * pair, filter J >= tau. Set sizes travel with the exploded rows (no
    * back-joins), and pairs failing the length bound
    * `tau*|A| <= |B| <= |A|/tau` are cut before aggregation. The postings
    * shuffle ONCE on the shingle and both join sides read that one
    * exchange (exchange reuse), so nothing is persisted: the plan leaves
    * no cache entry behind.
    */
  def jaccardJoin(df: DataFrame, idCol: String, shingleCol: String,
      tau: Double): DataFrame = {
    val ex = df
      .select(col(idCol).as("__id"), array_distinct(col(shingleCol)).as("__arr"))
      .withColumn("__sz", size(col("__arr")).cast("long"))
      .where(col("__sz") > 0)
      .select(col("__id"), col("__sz"), explode(col("__arr")).as("__sh"))
      .repartition(col("__sh"))
    val l = ex.select(col("__sh"), col("__id").as("a"), col("__sz").as("size_a"))
    val r = ex.select(col("__sh"), col("__id").as("b"), col("__sz").as("size_b"))
    l.join(r, "__sh")
      .where(col("a") < col("b") &&
        col("size_b") >= ceil(lit(tau) * col("size_a")) &&
        col("size_a") >= ceil(lit(tau) * col("size_b")))
      .groupBy("a", "b", "size_a", "size_b")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter")).cast("double"))
      .where(col("jaccard") >= tau)
      .select("a", "b", "inter", "size_a", "size_b", "jaccard")
  }

  /** Drop "hot" shingles — those appearing in more than `maxDocFrac` of
    * docs — from a (idCol, shingleCol) frame. Boilerplate n-grams (headers,
    * license blurbs, navigation) are the LSH/Jaccard scale killer: one
    * shingle shared by 10% of a 10^9-doc corpus puts 10^8 postings in one
    * inverted-index bucket (join volume bucket² — 10^16 candidate pairs)
    * while carrying no near-dup signal. The document-frequency pass is one
    * hash aggregate; the rejoin is a broadcast-friendly semi-join against
    * the (small) hot-shingle list. Rows keep their id even if every
    * shingle was hot (empty array), so downstream survivors logic still
    * sees the doc.
    */
  /** The hot-shingle LIST itself — shingles in more than `maxDocFrac` of
    * docs, collected to the driver (sorted for determinism). Bounded by
    * construction: a shingle must appear in > frac·N docs, so at most
    * (avg shingles per doc) / frac distinct shingles qualify — ~10³
    * strings at any corpus size, the model-artifact cost class. This is
    * the ingest-time document-frequency statistic: compute it ONCE per
    * corpus snapshot and compose it into every shingle pipeline as a
    * codegen'd `array_except(sh, lit(hot))` (set semantics — every
    * consumer in this repo treats the shingle column as a set), instead
    * of re-aggregating document frequencies per query.
    */
  def hotShingles(df: DataFrame, idCol: String, shingleCol: String,
      maxDocFrac: Double): Array[String] = {
    require(maxDocFrac > 0.0 && maxDocFrac <= 1.0,
      s"maxDocFrac must be in (0, 1]: $maxDocFrac")
    val nDocs = df.agg(count(lit(1)).cast("double").as("__n"))
    df.select(col(idCol), explode(array_distinct(col(shingleCol))).as("__sh"))
      .groupBy("__sh").agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(nDocs))
      .where(col("__df") > col("__n") * maxDocFrac)
      .select(col("__sh"))
      .collect().map(_.getString(0)).sorted
  }

  def dropHotShingles(df: DataFrame, idCol: String, shingleCol: String,
      maxDocFrac: Double): DataFrame = {
    require(maxDocFrac > 0.0 && maxDocFrac <= 1.0,
      s"maxDocFrac must be in (0, 1]: $maxDocFrac")
    // The doc total stays IN the plan (broadcast 1-row aggregate) instead
    // of an eager driver-side count(): composing the guard into a query
    // must not fire a job at construction time, and one plan means the
    // engine can share the scan between the frequency pass and the rejoin.
    val nDocs = df.agg(count(lit(1)).cast("double").as("__ndocs"))
    val hot = df
      .select(col(idCol), explode(array_distinct(col(shingleCol))).as("__sh"))
      .groupBy("__sh").agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(nDocs))
      .where(col("__df") > col("__ndocs") * maxDocFrac)
      .select(col("__sh").as("__hot"))
    val hotList = broadcast(hot.agg(collect_set(col("__hot")).as("__hots")))
    df.crossJoin(hotList)
      .withColumn(shingleCol,
        filter(col(shingleCol), s => !array_contains(col("__hots"), s)))
      .drop("__hots")
  }

  /** Cross-corpus n-gram Jaccard join: pairs (a from `batch`, b from
    * `corpus`) with J >= tau — the INCREMENTAL dedup shape (dedup a new
    * crawl batch against the existing corpus without re-comparing the
    * corpus to itself). Same inverted-index + length-bound machinery as
    * [[jaccardJoin]], but the equi-join runs between the two sides only:
    * join volume is Σ_shingle |batch postings|·|corpus postings|, never a
    * self-join of the (much larger) corpus. Output: (a, b, inter, size_a,
    * size_b, jaccard).
    */
  def jaccardJoinAgainst(batch: DataFrame, corpus: DataFrame, idCol: String,
      shingleCol: String, tau: Double): DataFrame =
    againstCore(
      explodedPostings(batch, idCol, shingleCol, "a", "size_a"),
      explodedPostings(corpus, idCol, shingleCol, "b", "size_b"), tau)

  /** `(id, size, __sh)` posting rows of a shingled frame — the inverted-
    * index representation every against-join consumes (zero-shingle docs
    * drop out; they can't near-dup).
    */
  private[ops] def explodedPostings(df: DataFrame, idCol: String,
      shingleCol: String, idAs: String, sizeAs: String): DataFrame = df
    .select(col(idCol).as("__id"), array_distinct(col(shingleCol)).as("__arr"))
    .withColumn("__sz", size(col("__arr")).cast("long"))
    .where(col("__sz") > 0)
    .select(col("__id").as(idAs), col("__sz").as(sizeAs),
      explode(col("__arr")).as("__sh"))

  private[ops] def againstCore(l: DataFrame, r: DataFrame, tau: Double): DataFrame =
    l.join(r, "__sh")
      .where(col("size_b") >= ceil(lit(tau) * col("size_a")) &&
        col("size_a") >= ceil(lit(tau) * col("size_b")))
      .groupBy("a", "b", "size_a", "size_b")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter")).cast("double"))
      .where(col("jaccard") >= tau)
      .select("a", "b", "inter", "size_a", "size_b", "jaccard")

  /** Materialize the corpus's inverted shingle postings as a BUCKETED
    * catalog table — the build-once/probe-many artifact for incremental
    * dedup. At 100 TB the corpus is never re-shingled, re-exploded, or
    * re-SHUFFLED per crawl batch: the postings are bucketed (and sorted)
    * by shingle, so [[jaccardJoinAgainstPostings]] exchanges ONLY the
    * (much smaller) batch side — the corpus side of the equi-join reads
    * its buckets in place. Pay shuffle at ingest once, not per probe —
    * the same at-rest posture as `AnnIndex.materialize`.
    */
  def materializePostings(corpus: DataFrame, idCol: String,
      shingleCol: String, table: String, buckets: Int = 32): Unit =
    graft.sources.Bucketing.writeBucketed(
      explodedPostings(corpus, idCol, shingleCol, "b", "size_b"),
      table, "__sh", buckets)

  /** Open a [[materializePostings]] table. */
  def openPostings(spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame = spark.table(table)

  /** [[jaccardJoinAgainst]] with the corpus side already at rest as a
    * [[materializePostings]] table — row-identical (spec-asserted), but
    * the only exchange feeding the join is the batch side's.
    */
  def jaccardJoinAgainstPostings(batch: DataFrame, postings: DataFrame,
      idCol: String, shingleCol: String, tau: Double): DataFrame =
    againstCore(
      explodedPostings(batch, idCol, shingleCol, "a", "size_a"),
      postings, tau)

  /** Batch rows surviving incremental dedup: anti-join on the matched batch
    * ids from [[jaccardJoinAgainst]].
    */
  def incrementalSurvivors(batch: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame =
    batch.join(pairs.select(col("a").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** SimHash near-dup candidate pairs with hamming distance <= maxHamming.
    * 60-bit signature banded into 4x15 bits: any pair within hamming 3 shares
    * at least one identical band (pigeonhole) — exact recall for
    * maxHamming <= 3; the hamming filter makes precision exact too.
    * Output: (a, b, sig_a, sig_b, hamming).
    */
  def simhashPairs(df: DataFrame, idCol: String, tokensCol: Column,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-band 60-bit simhash guarantees recall only for hamming <= 3")
    // persist: the signature (md5 per token) feeds both sides of the band
    // self-join; without it the whole simhash recomputes per join side
    val sigs = df.select(col(idCol).as("__id"), simhash(tokensCol).as("__sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bandKeys = (0 until 4).map { b =>
      shiftright(col("__sig"), b * 15).bitwiseAND(lit(0x7fffL))
    }
    val banded = sigs.select(col("__id"), col("__sig"), posexplode(array(bandKeys: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
    val l = banded.select(col("band"), col("key"), col("__id").as("a"), col("__sig").as("sig_a"))
    val r = banded.select(col("band"), col("key"), col("__id").as("b"), col("__sig").as("sig_b"))
    l.join(r, Seq("band", "key"))
      .where(col("a") < col("b"))
      .select("a", "b", "sig_a", "sig_b").distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .where(col("hamming") <= maxHamming)
  }

  /** Verify candidate pairs with the exact Jaccard over distinct shingle
    * sets (array_intersect — no explode needed once candidates are known).
    * Input pairs: (a, b); sh: (idCol, shingleCol). Output: (a, b, jaccard).
    */
  def verifyJaccard(pairs: DataFrame, sh: DataFrame, idCol: String,
      shingleCol: String, tau: Double): DataFrame = {
    val a = sh.select(col(idCol).as("a"), array_distinct(col(shingleCol)).as("__sa"))
    val b = sh.select(col(idCol).as("b"), array_distinct(col(shingleCol)).as("__sb"))
    pairs.join(a, "a").join(b, "b")
      .withColumn("inter", size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("__sa")) + size(col("__sb")) - col("inter")).cast("double"))
      .where(col("jaccard") >= tau)
      .select("a", "b", "jaccard")
  }

  /** MinHash estimator calibration — the dedup-QA view that tells you
    * whether your (k, bands) geometry is trustworthy before you delete data
    * with it: for every LSH candidate pair, the k-component minhash
    * agreement fraction (the unbiased Jaccard estimator j-hat = |{j :
    * h_j(a) = h_j(b)}| / k) next to the EXACT shingle-set Jaccard, plus the
    * absolute error. Aggregate the output (mean abs error, error quantiles)
    * to pick k; every number here is a ratio of small integers, so the gate
    * can hold it hash-exact.
    *
    * Scale shape: signatures are the one existing minhash pass (distinct-
    * shingle dictionary, k mins per doc); candidates come from the banded
    * equi-join (never all-pairs); the estimator is a projection over the
    * two signature rows joined per candidate; the exact side reuses
    * [[verifyJaccard]] at tau=0 over the SAME candidate set — the exact
    * Jaccard is only ever computed for pairs LSH already surfaced.
    * Output: (a, b, est_jaccard, jaccard, abs_err).
    */
  def minhashCalibration(sh: DataFrame, idCol: String, shingleCol: String,
      k: Int = 16, bands: Int = 4): DataFrame = {
    val sigs = minhashSignatures(sh, idCol, shingleCol, k)
      .persist(StorageLevel.MEMORY_AND_DISK) // feeds bands AND both pair sides
    val cands = lshCandidatePairs(lshBands(sigs, idCol, k, bands), idCol)
    val a = sigs.select(col(idCol).as("a") +:
      (0 until k).map(j => col(s"h$j").as(s"__a$j")): _*)
    val b = sigs.select(col(idCol).as("b") +:
      (0 until k).map(j => col(s"h$j").as(s"__b$j")): _*)
    val matches = (0 until k)
      .map(j => when(col(s"__a$j") === col(s"__b$j"), 1).otherwise(0))
      .reduce(_ + _)
    val est = cands.join(a, "a").join(b, "b")
      .select(col("a"), col("b"),
        (matches.cast("double") / lit(k.toDouble)).as("est_jaccard"))
    est.join(verifyJaccard(cands, sh, idCol, shingleCol, tau = 0.0), Seq("a", "b"))
      .withColumn("abs_err", abs(col("est_jaccard") - col("jaccard")))
  }

  /** SOFT dedup — duplicate-aware loss weighting instead of deletion: keep
    * every near-dup but weight it by the inverse of its cluster size, so a
    * 40-copy boilerplate family contributes ~one document's worth of
    * training signal while unique text keeps full weight (the
    * delete-nothing alternative the data-weighting literature prefers when
    * duplicates carry slight variation worth keeping). Weights are
    * fixed-point millionths (10^6 div cluster_size — integer, so the gate
    * holds them exact). Docs in no pair are singletons at weight 10^6.
    *
    * Output: (idCol, component, cluster_size, weight_ppm), one row per
    * input row. Scale shape: [[components]] is the already-gated O(log n)
    * label propagation; sizes are one count aggregate on compact longs;
    * the weight join is against a cluster-count-sized table.
    */
  def softDedupWeights(df: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val comp = components(pairs, idCol)
    val sizes = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    df.select(col(idCol))
      .join(comp, Seq(idCol), "left")
      .join(sizes, Seq("component"), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("component"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .withColumn("weight_ppm", expr("1000000 div cluster_size"))
  }

  /** Greedy survivor set from near-dup pairs: drop any doc that appears as
    * the larger id in a matched pair (keep-first semantics; not transitive
    * clustering — for that, see [[components]]).
    */
  def survivors(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("b").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Transitive duplicate clusters: connected components over the near-dup
    * pair graph, each node labeled with the minimum id reachable from it.
    * Greedy [[survivors]] can drop every member of a chain a–b–c except `a`
    * while never comparing a to c; components make the transitive closure
    * explicit so exactly one canonical doc survives per cluster.
    *
    * Iterative min-label propagation: each round joins labels across edges
    * and keeps the per-node min; a round is one shuffle join + one
    * aggregate, and the loop stops at fixpoint (round count = graph
    * diameter). Near-dup graphs are shallow (dup clusters are cliques or
    * short chains), so a handful of rounds suffices; for adversarially deep
    * graphs swap in alternating large-star/small-star (O(log n) rounds) —
    * same per-round plan shape. `maxIters` bounds the worst case; the
    * method throws if the fixpoint is not reached by then (a silently
    * unconverged labeling would look like valid clusters).
    *
    * Output: (idCol, component) for every node appearing in `pairs`.
    *
    * Size route: a long-id edge set of at most
    * [[SizeRoute.GraphLabelEdges]] (symmetric) edges is labeled by a driver
    * union-find instead of the distributed fixpoint ([[SizeRoute.driverRows]]:
    * one job pins, sizes and collects it); identical min-id labeling,
    * differential-tested.
    *
    * @param checkpointDir when set, per-round lineage truncation uses
    *   RELIABLE `checkpoint()` into this directory (survives executor loss —
    *   required for long cluster jobs) instead of `localCheckpoint()`
    *   (executor-memory/disk only — fastest, fine for short-lived local
    *   work, but an executor loss mid-iteration kills the job).
    */
  def components(pairs: DataFrame, idCol: String = "id",
      maxIters: Int = 25, checkpointDir: Option[String] = None): DataFrame = {
    // truncate lineage each round: a round's plan references the previous
    // round's twice, so without checkpointing the logical plan doubles per
    // iteration and analysis itself OOMs around round 10
    val checkpoint = roundCheckpoint(pairs.sparkSession, checkpointDir)
    // pre-partition the (large) edge side on the per-round join key: the
    // cached exchange satisfies every iteration's join distribution, so
    // only the (node-sized) label side shuffles per round — without this,
    // |E| re-shuffles diameter-many times. Repartition BEFORE the
    // distinct: hash(dst) satisfies the distinct's clustered distribution
    // on (src, dst) (same (src,dst) ⇒ same dst ⇒ same partition), so the
    // build pays exactly ONE |E| exchange — distinct-then-repartition
    // paid two (the r13 pagerank ladder measured the redundant second
    // exchange as a regression at the 50× rung)
    // The pin is SIZE-ROUTED (FixpointPin): persist when the caller
    // lineage is shallow (lazy, no extra materialization job, cached
    // stats — the gate-scale winner), localCheckpoint when deep (under a
    // plain persist a deep shingle-pipeline lineage re-serializes into
    // every round's task binaries — the pagerank ladder measured it as
    // 33→6 s at the 50× rung; the LogicalRDD keeps hash(dst)).
    val edges = FixpointPin.pin(
      pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
        .repartition(col("dst"))
        .distinct())
    // size route (Scaladoc above). The symmetric edge view double-counts
    // each pair; union-find is immune to the duplication, and the bound
    // applies to what is actually collected.
    SizeRoute.driverRows(edges, SizeRoute.GraphLabelEdges) match {
      case Some(rows) =>
        val out = driverLabels(edges.sparkSession, rows)
          .select(col("__mid").as(idCol), col("component"))
        edges.unpersist()
        return out
      case None =>
    }
    var labels = checkpoint(
      edges.select(col("src").as("__id")).distinct()
        .withColumn("__label", col("__id")))
    // labels only ever DECREASE (per-node min over a growing reachable
    // set), so fixpoint == the label sum is unchanged — one node-sized
    // aggregate per round instead of a labels⋈labels change-detection
    // join. DECIMAL(38,0): exact at any node count × id magnitude. A
    // decimal overflow returns NULL under non-ANSI mode, and two
    // consecutive NULL sums would compare equal — converged would go true
    // on UNCONVERGED labels. Unreachable headroom (sum < |V|·2^63 needs
    // |V| > 10^19 to overflow 38 digits), but fail LOUDLY, not silently:
    def labelSum(df: DataFrame): Option[java.math.BigDecimal] = {
      val row = df.agg(sum(col("__label").cast("decimal(38,0)")),
        count(lit(1))).head()
      val s = row.getDecimal(0)
      require(row.getLong(1) == 0L || s != null,
        "components label-sum overflowed decimal(38,0) — convergence " +
          "detection would be silently wrong")
      Option(s) // None only on an empty graph — equal across rounds
    }
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      // propagate each node's label to its neighbors, keep the min
      val prop = edges.join(labels, col("dst") === col("__id"))
        .select(col("src").as("__id"), col("__label"))
      val next = checkpoint(
        labels.unionAll(prop)
          .groupBy("__id").agg(min("__label").as("__label")))
      val nextSum = labelSum(next)
      converged = nextSum == prevSum
      prevSum = nextSum
      labels = next
      iter += 1
    }
    // the final labels sit on their own eager checkpoint, so the edge pin
    // can be released here: unpersist drops the persist branch's cache
    // entry (scoped cleanup — streaming callers invoke this per epoch and
    // a leaked CacheManager entry per call would grow for the process
    // lifetime); the checkpoint branch is a no-op unpersist and the
    // ContextCleaner frees its blocks when the RDD is GC'd
    edges.unpersist()
    require(converged,
      s"components did not converge in $maxIters rounds — raise maxIters " +
        "or use componentsStar for adversarially deep graphs")
    labels.select(col("__id").as(idCol), col("__label").as("component"))
  }

  /** Merge a batch of NEW near-dup pairs into AT-REST component labels —
    * the cluster-maintenance analogue of [[jaccardJoinAgainst]]: today's
    * crawl connects new docs to each other and to the corpus, and the
    * at-rest labeling must absorb those edges WITHOUT recomputing the
    * corpus graph (at 100 TB the full pair set is not re-derivable per
    * batch).
    *
    * The merge is exact because a cluster's canonical label IS its minimum
    * member id: every old cluster enters the fixpoint through a single
    * `member — canonical` anchor edge per TOUCHED member, so the micro
    * graph (new pairs + anchors) is batch-sized, its per-family minimum
    * over {touched ids, old canonical ids} equals the true minimum over
    * every member of every merged cluster, and untouched clusters never
    * enter the computation at all.
    *
    * The new pairs are pinned once and every consumer reads that pin. Up
    * to [[SizeRoute.GraphLabelEdges]] pairs ([[SizeRoute.driverRows]]) the
    * merge runs in batch-sized steps: one job pins and collects the
    * pairs, one narrow pass over `labels` against a broadcast
    * LocalRelation of the touched ids reads their stored labels, the
    * driver builds the anchors, the union-find, the relabel map and the
    * fresh nodes' rows, and ONE narrow pass writes the new labeling
    * (`labels` ⋈ broadcast relabel map, ∪ the fresh rows). A
    * [[graft.streaming.CorpusIngest.clusterBatch]] epoch of 40 docs runs
    * at most 6 jobs this way (CorpusIngestSpec holds the budget). Above
    * the bound the micro graph is labeled distributed
    * ([[labelMicroGraph]]) and the relabel joins run as shuffled joins.
    *
    * Output: `(idCol, component)` for every node in `labels` or
    * `newPairs`, identical row-for-row to [[components]] over the union of
    * the old and new pair sets when `labels` is such a labeling (DedupSpec
    * asserts equality on randomized merge topologies). The returned frame
    * is EAGERLY materialized (localCheckpoint) so every internal cache is
    * released before return — the continuous `clusteredIngest` path calls
    * this once per micro-batch and a per-epoch CacheManager leak would
    * grow for the process lifetime. Callers therefore need no checkpoint
    * of their own; a pinned `labels` (such as this method's own output) is
    * read in place, never copied.
    */
  def incrementalComponents(labels: DataFrame, idCol: String,
      newPairs: DataFrame, maxIters: Int = 25,
      checkpointDir: Option[String] = None): DataFrame = {
    val (plan, caches) = incrementalComponentsPlan(labels, idCol, newPairs,
      maxIters, checkpointDir)
    // pin the output, then release every internal cache (scoped cleanup —
    // nothing this function persisted outlives it)
    val out = plan.localCheckpoint()
    caches.foreach(_.unpersist())
    out
  }

  /** The lazy merge plan plus the internal caches backing it — the public
    * entrypoint materializes the plan and releases the caches; PlanSpec
    * asserts the plan SHAPE here (the driver-built relabel map and fresh
    * rows enter as bounded LocalRelations; the relabel join is the only
    * label-state pass). Callers of this variant own the returned caches.
    */
  private[graft] def incrementalComponentsPlan(labels: DataFrame, idCol: String,
      newPairs: DataFrame, maxIters: Int = 25,
      checkpointDir: Option[String] = None): (DataFrame, Seq[DataFrame]) = {
    val lab = labels.select(col(idCol).as("__oid"), col("component").as("__ocomp"))
    val np = pinMicroEdges(newPairs.select(col("a"), col("b")), checkpointDir)
    SizeRoute.driverRows(np, SizeRoute.GraphLabelEdges) match {
      case Some(pairs) => (driverMerge(lab, idCol, pairs), Seq(np))
      case None =>
        val labPin = lab.persist(StorageLevel.MEMORY_AND_DISK)
        val touched = np.select(col("a").as("__oid"))
          .unionAll(np.select(col("b").as("__oid"))).distinct()
        // old state enters ONLY through touched members: one anchor edge to
        // the cluster's canonical node stands in for the whole old cluster
        val anchors = labPin.join(touched, Seq("__oid"))
          .where(col("__oid") =!= col("__ocomp"))
          .select(col("__oid").as("a"), col("__ocomp").as("b"))
        val microEdges = pinMicroEdges(np.unionAll(anchors), checkpointDir)
        // no persist on micro: the star labels sit on the fixpoint's final
        // checkpoint — both of its two consumers below re-derive from it
        val micro = labelMicroGraph(microEdges, maxIters, checkpointDir)
        // affected old clusters: canonical id -> merged (global-min) label
        val relabel = micro.join(
            labPin.select(col("__ocomp").as("__mid")).distinct(), Seq("__mid"))
          .select(col("__mid").as("__ocomp"), col("component").as("__merged"))
        val updatedOld = labPin.join(relabel, Seq("__ocomp"), "left")
          .select(col("__oid").as(idCol),
            coalesce(col("__merged"), col("__ocomp")).as("component"))
        // nodes the batch introduced (not in the at-rest labeling)
        val fresh = micro
          .join(labPin.select(col("__oid").as("__mid")), Seq("__mid"), "left_anti")
          .select(col("__mid").as(idCol), col("component"))
        (updatedOld.unionAll(fresh), Seq(microEdges, labPin, np))
    }
  }

  /** The driver route of [[incrementalComponentsPlan]] over the collected
    * new pairs: the touched members' stored `(id, component)` rows come
    * from one narrow pass over `lab` (a broadcast LocalRelation of touched
    * ids, not a literal list in the plan), the union-find over pairs +
    * anchors runs here, and the plan returned is the one narrow write pass.
    * An old canonical id is always a member of its own cluster in a
    * [[components]] labeling, so only touched ids can be fresh.
    */
  private def driverMerge(lab: DataFrame, idCol: String,
      pairs: Array[org.apache.spark.sql.Row]): DataFrame = {
    val spark = lab.sparkSession
    val kept = lab.select(col("__oid").as(idCol), col("__ocomp").as("component"))
    val uf = new MinUnionFind
    pairs.foreach(r => uf.union(r.getLong(0), r.getLong(1)))
    val touched = uf.nodes
    if (touched.isEmpty) return kept
    val stored = lab.join(broadcast(longs(spark, touched, "__oid")), "__oid")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    stored.foreach { case (m, c) => uf.union(m, c) }
    val relabel = stored.map(_._2).distinct.map(c => (c, uf.find(c)))
      .filter { case (c, m) => c != m }
    val storedIds = stored.map(_._1).toSet
    val fresh = touched.filterNot(storedIds).map(x => (x, uf.find(x)))
    val updated =
      if (relabel.isEmpty) kept
      else lab.join(broadcast(spark.createDataFrame(relabel.toSeq)
          .toDF("__ocomp", "__merged")), Seq("__ocomp"), "left")
        .select(col("__oid").as(idCol),
          coalesce(col("__merged"), col("__ocomp")).as("component"))
    narrowUnion(updated, spark.createDataFrame(fresh.toSeq).toDF(idCol, "component"))
  }

  /** `big ∪ small` coalesced to the default parallelism: a label state
    * rewritten every epoch must not gain the small side's partitions each
    * time, and a coalesce keeps the write one narrow pass.
    */
  private def narrowUnion(big: DataFrame, small: DataFrame): DataFrame =
    big.unionAll(small).coalesce(big.sparkSession.sparkContext.defaultParallelism)

  /** A one-column long LocalRelation. */
  private def longs(spark: org.apache.spark.sql.SparkSession, xs: Iterable[Long],
      name: String): DataFrame =
    spark.createDataFrame(xs.toSeq.map(Tuple1(_))).toDF(name)

  /** Union-find over long ids whose roots are component minima. */
  private final class MinUnionFind {
    private val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x // path compression
      while (parent.getOrDefault(c, c) != c) {
        val nxt = parent.getOrDefault(c, c); parent.put(c, r); c = nxt
      }
      parent.putIfAbsent(r, r)
      r
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    /** Every id seen so far. */
    def nodes: Vector[Long] = {
      import scala.jdk.CollectionConverters._
      parent.keySet().asScala.toVector
    }
  }

  /** Size-routed labeling of a BOUNDED (batch-neighborhood-sized) micro
    * pair graph — the shared engine under [[incrementalComponents]]'
    * distributed merge, [[deleteFromComponents]]' split recompute and
    * [[embedComponents]]' representative graph. Through
    * [[SizeRoute.driverRows]] at [[SizeRoute.GraphLabelEdges]] a driver
    * union-find labels the graph from one collect; above, distributed star
    * contraction (O(log n) rounds — bridge batches daisy-chain canonicals
    * into long paths, adversarial for plain label propagation even when
    * the batch is small). Identical min-id labeling either way.
    * `microEdges` must be two same-typed columns and already PINNED
    * ([[pinMicroEdges]]). Output: (__mid, component) for every node
    * appearing in an edge.
    */
  private[graft] def labelMicroGraph(microEdges: DataFrame, maxIters: Int,
      checkpointDir: Option[String]): DataFrame =
    SizeRoute.driverRows(microEdges, SizeRoute.GraphLabelEdges) match {
      case Some(rows) => driverLabels(microEdges.sparkSession, rows)
      case None => componentsStar(microEdges, "__mid", maxIters, checkpointDir)
    }

  /** Driver union-find over collected long edge rows: (__mid, component =
    * min id of the node's component) for every node appearing in an edge.
    */
  private def driverLabels(spark: org.apache.spark.sql.SparkSession,
      edges: Array[org.apache.spark.sql.Row]): DataFrame = {
    val uf = new MinUnionFind
    edges.foreach(row => uf.union(row.getLong(0), row.getLong(1)))
    spark.createDataFrame(uf.nodes.map(x => (x, uf.find(x)))).toDF("__mid", "component")
  }

  /** Pin a micro edge set for its consumers (the size route and the
    * labeling — don't re-pay the upstream join), keeping the fixpoint's
    * nested self-joins off the composite upstream lineage. The local
    * branch persists so the route's one job both materializes the cache
    * and collects or sizes it; the reliable branch keeps checkpoint() for
    * executor-loss tolerance on long cluster jobs. A plan over driver
    * rows only (LocalRelation leaves) is not pinned: re-reading it runs
    * no job.
    */
  private def pinMicroEdges(microPlan: DataFrame,
      checkpointDir: Option[String]): DataFrame =
    if (microPlan.queryExecution.analyzed.collectLeaves()
        .forall(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
      microPlan
    else checkpointDir match {
      case Some(dir) =>
        microPlan.sparkSession.sparkContext.setCheckpointDir(dir)
        microPlan.checkpoint()
      case None => microPlan.persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** Per-round lineage truncation of the distributed fixpoints: reliable
    * `checkpoint()` into `checkpointDir` when set, else `localCheckpoint()`.
    */
  private def roundCheckpoint(spark: org.apache.spark.sql.SparkSession,
      checkpointDir: Option[String]): DataFrame => DataFrame =
    checkpointDir match {
      case Some(dir) =>
        spark.sparkContext.setCheckpointDir(dir)
        df => df.checkpoint()
      case None => df => df.localCheckpoint()
    }

  /** Remove `delIds` from an at-rest component labeling — the DELETE twin
    * of [[incrementalComponents]], for takedowns/redactions folded into a
    * maintained clustering: deleting a doc removes every pair incident to
    * it, which can SPLIT its component (the doc was a bridge) or change
    * the component's canonical label (the doc was the min member), so
    * stored labels cannot be patched in place — but only the TOUCHED
    * components (those containing a deleted doc) can change, and their
    * surviving pair set is closed within them (a qualifying pair between
    * two docs puts them in the same component by definition, so no
    * surviving pair can leave a touched component). The recompute is
    * therefore exact and delete-neighborhood-sized. Up to
    * [[SizeRoute.GraphLabelEdges]] deleted ids and affected survivors
    * ([[SizeRoute.collectAtMost]], [[SizeRoute.collectWithin]]) it runs in
    * batch-sized steps:
    *
    *  1. the deleted ids come to the driver (no job when they already are
    *     a LocalRelation, as [[graft.streaming.CorpusIngest.deleteBatch]]
    *     hands them over);
    *  2. touched components: one narrow pass over `labels` against a
    *     broadcast LocalRelation of the deleted ids;
    *  3. affected survivors: one narrow pass over `labels` against a
    *     broadcast LocalRelation of the touched components, collected in
    *     one job ([[SizeRoute.collectWithin]]; a limit probe would take up
    *     to four growing jobs over a 32-partition labeling), minus the
    *     deleted ids on the driver;
    *  4. `pairsAmong(affectedSurvivorIds)` re-derives the induced pair set
    *     among them — the caller replays the SAME pair rule the labeling
    *     was built with (e.g. a Jaccard join over the survivors' stored
    *     shingles); work scales with the touched clusters, not the corpus;
    *     the pairs are labeled by the size-routed [[labelMicroGraph]];
    *  5. ONE narrow pass writes the result: `labels` anti the touched
    *     components, ∪ the relabeled LocalRelation.
    *
    * A [[graft.streaming.CorpusIngest.deleteBatch]] epoch of 20 ids runs
    * at most 9 jobs this way (CorpusIngestSpec holds the budget). Above
    * the bound the same steps run as shuffled joins.
    *
    * Affected survivors left with NO qualifying pair drop out of the
    * labeling — exactly [[components]]' contract (only nodes appearing in
    * ≥ 1 pair are labeled), so the result is row-identical to a
    * from-scratch [[components]] over the surviving pair set.
    *
    * The returned frame is EAGERLY materialized (localCheckpoint) with
    * every internal cache released before return — the streaming
    * [[graft.streaming.CorpusIngest]] path calls this once per takedown
    * epoch (same scoped-cleanup contract as [[incrementalComponents]]).
    *
    * Output: `(idCol, component)`.
    */
  def deleteFromComponents(labels: DataFrame, idCol: String,
      delIds: DataFrame, pairsAmong: DataFrame => DataFrame,
      maxIters: Int = 25, checkpointDir: Option[String] = None): DataFrame = {
    val spark = labels.sparkSession
    val lab = labels.select(col(idCol).as("__oid"), col("component").as("__ocomp"))
    val bound = SizeRoute(SizeRoute.GraphLabelEdges)
    val driverDel =
      if (delIds.schema(idCol).dataType != org.apache.spark.sql.types.LongType) None
      else SizeRoute.collectAtMost(delIds.select(col(idCol)), bound)
    val driverAffected = driverDel.flatMap { rows =>
      val del = rows.filterNot(_.isNullAt(0)).map(_.getLong(0)).distinct
      val touched =
        if (del.isEmpty) Array.empty[Long]
        else lab.join(broadcast(longs(spark, del, "__oid")), "__oid")
          .select(col("__ocomp")).collect().map(_.getLong(0)).distinct
      val members =
        if (touched.isEmpty) Some(Array.empty[org.apache.spark.sql.Row])
        else SizeRoute.collectWithin(lab
          .join(broadcast(longs(spark, touched, "__ocomp")), "__ocomp")
          .select(col("__oid")), bound, _ => 1L)
      members.map { ms =>
        val delSet = del.toSet
        (touched, ms.map(_.getLong(0)).filterNot(delSet))
      }
    }
    driverAffected match {
      case None => deleteDistributed(lab, idCol, delIds, pairsAmong, maxIters,
        checkpointDir)
      case Some((touched, affected)) =>
        def labeled(df: DataFrame) =
          df.select(col("__oid").as(idCol), col("__ocomp").as("component"))
        if (touched.isEmpty) return labeled(lab).localCheckpoint()
        val kept = labeled(lab.join(broadcast(longs(spark, touched, "__ocomp")),
          Seq("__ocomp"), "left_anti"))
        val microEdges = pinMicroEdges(
          pairsAmong(longs(spark, affected, idCol)).select(col("a"), col("b")),
          checkpointDir)
        val relabeled = labelMicroGraph(microEdges, maxIters, checkpointDir)
          .select(col("__mid").as(idCol), col("component"))
        val out = narrowUnion(kept, relabeled).localCheckpoint()
        microEdges.unpersist()
        out
    }
  }

  /** [[deleteFromComponents]] above its driver bound: the same five steps
    * as shuffled joins over pinned frames.
    */
  private def deleteDistributed(lab0: DataFrame, idCol: String,
      delIds: DataFrame, pairsAmong: DataFrame => DataFrame, maxIters: Int,
      checkpointDir: Option[String]): DataFrame = {
    val lab = lab0.persist(StorageLevel.MEMORY_AND_DISK)
    val del = delIds.select(col(idCol).as("__oid")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // components that contain at least one deleted member — everything
    // else is provably unaffected and passes through below
    val touched = lab.join(del, Seq("__oid"))
      .select(col("__ocomp")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val affected = lab.join(touched, Seq("__ocomp"), "left_semi")
      .join(del, Seq("__oid"), "left_anti")
      .select(col("__oid").as(idCol))
    // the induced pair set among affected survivors, re-derived under the
    // caller's pair rule (deletion can PROMOTE a split, so neither stored
    // labels nor any stored pair subset can stand in for the recompute)
    val microEdges = pinMicroEdges(
      pairsAmong(affected).select(col("a"), col("b")), checkpointDir)
    val micro = labelMicroGraph(microEdges, maxIters, checkpointDir)
    // survivors with no remaining pair drop out (components' node
    // contract); everyone micro labeled is an affected survivor
    val relabeled = micro.select(col("__mid").as(idCol), col("component"))
    val untouched = lab.join(touched, Seq("__ocomp"), "left_anti")
      .select(col("__oid").as(idCol), col("__ocomp").as("component"))
    val out = untouched.unionAll(relabeled).localCheckpoint()
    Seq(lab, del, touched, microEdges).foreach(_.unpersist())
    out
  }

  /** The near-dup pairs `(a, b)` of a shingled batch `(idCol, shingleCol)`
    * under [[jaccardJoin]]'s rule — within it (`a < b`) and, given
    * `atRest`, against it (a = batch id, b = at-rest id, the
    * [[jaccardJoinAgainst]] pairs) — plus the batch's own copy to keep
    * beyond the caller's epoch: a local checkpoint of its two columns.
    *
    * One job fills that checkpoint and, for a batch (long ids, string
    * shingles) whose [[BatchPostings]] index weighs at most
    * [[SizeRoute.IngestBatchBytes]], collects it ([[SizeRoute.collectWithin]]);
    * the index then yields the within pairs on the driver and the against
    * pairs in one narrow scan of `atRest` ([[BatchJaccardMatches]]), with
    * no shuffle on the shingle or the pair. A heavier batch is joined
    * from the checkpoint as before.
    */
  private[graft] def batchPairs(batch: DataFrame, atRest: Option[DataFrame],
      idCol: String, shingleCol: String, tau: Double): (DataFrame, DataFrame) = {
    val pinned = batch.select(col(idCol), col(shingleCol)).localCheckpoint(eager = false)
    val held =
      if (!BatchPostings.fits(pinned.schema, idCol, shingleCol)) None
      else SizeRoute.collectWithin(pinned, SizeRoute(SizeRoute.IngestBatchBytes),
        BatchPostings.weight)
    val pairs = held match {
      case Some(rs) =>
        val postings = BatchPostings(rs, tau)
        val within = batch.sparkSession.createDataFrame(postings.withinPairs).toDF("a", "b")
        atRest.fold(within)(r => within.unionAll(r.select(
          explode(SparkShims.column(BatchJaccardMatches(
            SparkShims.expression(col(shingleCol)), postings))).as("a"),
          col(idCol).as("b"))))
      case None =>
        val within = jaccardJoin(pinned, idCol, shingleCol, tau).select("a", "b")
        atRest.fold(within)(r => within.unionAll(
          jaccardJoinAgainst(pinned, r, idCol, shingleCol, tau).select("a", "b")))
    }
    (pinned, pairs)
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): O(log n) rounds regardless of graph diameter, where
    * [[components]]' plain label propagation needs diameter-many rounds — a
    * 10^6-node path graph needs ~20 rounds here vs 10^6 there. Same
    * per-round plan shape (shuffle join + aggregate); prefer this variant
    * when dup chains can be adversarially deep.
    *
    *  - large-star: every neighbor v > u re-attaches to m(u) = min of u's
    *    closed neighborhood;
    *  - small-star: every neighbor v <= u (and u itself) attaches to m(u).
    *
    * Output: (idCol, component) for every node in `pairs`, component = min
    * node id of the cluster — identical labeling to [[components]].
    */
  def componentsStar(pairs: DataFrame, idCol: String = "id",
      maxIters: Int = 50, checkpointDir: Option[String] = None): DataFrame = {
    val checkpoint = roundCheckpoint(pairs.sparkSession, checkpointDir)
    // single consumer (the final root join) — no persist: caching it
    // would leak a CacheManager entry per call on the streaming path
    val nodes = pairs.select(col("a").as("__id"))
      .unionAll(pairs.select(col("b").as("__id"))).distinct()
    // closed-neighborhood minimum per node over the symmetric edge view
    def sym(e: DataFrame): DataFrame =
      e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    def withMin(n: DataFrame): DataFrame =
      n.join(
        n.groupBy("u").agg(min(col("v")).as("__mv"))
          .select(col("u"), least(col("__mv"), col("u")).as("m")),
        "u")
    def largeStar(e: DataFrame): DataFrame = {
      val n = withMin(sym(e))
      n.where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val n = withMin(sym(e))
      n.where(col("v") < col("u")).select(col("v").as("u"), col("m").as("v"))
        .unionAll(n.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v")).distinct()
    }
    var edges = checkpoint(
      pairs.select(col("a").as("u"), col("b").as("v"))
        .where(col("u") =!= col("v")).distinct())
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val next = checkpoint(smallStar(largeStar(edges)))
      // fixpoint = identical edge sets (exact symmetric diff, one shuffle)
      converged = next.unionAll(edges)
        .groupBy("u", "v").agg(count(lit(1)).as("__c"))
        .where(col("__c") === 1).isEmpty
      edges = next
      iter += 1
    }
    require(converged,
      s"componentsStar did not converge in $maxIters rounds (unexpected: " +
        "the bound is O(log n)) — raise maxIters")
    // fixpoint edges form stars (child -> root); roots have no out-edge
    nodes.join(edges.select(col("u").as("__id"), col("v").as("__root")),
        Seq("__id"), "left")
      .groupBy("__id")
      .agg(min(col("__root")).as("__r"))
      .select(col("__id").as(idCol),
        coalesce(col("__r"), col("__id")).as("component"))
  }

  /** Transitive EMBEDDING-space duplicate clusters — sign-LSH cosine pairs
    * ([[SimilarityJoin.cosineJoinLsh]]) fed to [[componentsStar]] — with
    * EXACT-DUPLICATE CONTRACTION first: bit-identical vectors collapse to
    * one representative (min id) + a member map, the banded LSH and the
    * components fixpoint run on representatives only, and members expand
    * back into the final labeling. Output and labeling are IDENTICAL to
    * running the LSH + components over the raw rows; the cost is not.
    *
    * Why this exists (the r17 100×-rung scale finding): the pair set of
    * the uncontracted pipeline grows QUADRATICALLY in exact-duplicate
    * multiplicity — m bit-identical vectors share every band key and all
    * pass verification, so they alone emit m(m-1)/2 pairs. Real web-crawl
    * corpora are exactly this shape (the most-duplicated pages have
    * millions of identical copies), making O(m²) the dominant term at
    * scale. Contraction makes each duplicate group cost O(m): one
    * aggregate row + one expansion join row per member.
    *
    * Correctness of the contraction, exactly:
    *  - group key is VALUE equality of the vector (Spark's group-by
    *    normalizes -0.0 to 0.0 and NaN to one NaN — both coarsenings are
    *    sound here because numerically-equal vectors produce identical
    *    dot products, hence identical signatures, band keys and verified
    *    distances: group-equal rows are indistinguishable to the whole
    *    pipeline);
    *  - only SELF-DUP vectors contract (cos_dist(v, v) <= tau): a zero
    *    vector's self-distance is 2.0 and a NaN-containing vector's is
    *    NaN, so identical such rows do NOT pair in the raw graph and must
    *    stay individual rows — for any other vector, members of its group
    *    form a clique in the raw graph (identical signatures collide in
    *    every band; the verified distance is the self-distance);
    *  - a member's raw-graph edges to rows OUTSIDE its group are exactly
    *    its representative's edges (same vector → same signature, same
    *    verified distance), so contracting preserves reachability, and
    *    component = min id of the cluster is preserved because each
    *    group's min id IS its representative;
    *  - membership in the output ([[componentsStar]] labels only nodes
    *    with at least one pair): a group of m >= 2 members is always in
    *    the raw output (the clique), even when its representative has no
    *    representative-level pair — kept with component = rep; an m == 1
    *    row is in the raw output iff its representative reached the pair
    *    set — the inner-join semantics of the expansion's null filter.
    *
    * Inputs of at most [[SizeRoute.EmbedAllPairsRows]] rows (a bounded
    * probe of the pinned input) take the representative pair set from the
    * all-pairs [[SimilarityJoin.cosineJoinLsh]] tier instead of the
    * spanning tier. Identical labeling either way.
    */
  def embedComponents(df: DataFrame, idCol: String, vecCol: String,
      tau: Double, dim: Int,
      nBits: Int = SimilarityJoin.DefaultNBits,
      bands: Int = SimilarityJoin.DefaultBands,
      seed: Long = SimilarityJoin.DefaultSeed,
      maxIters: Int = 50, checkpointDir: Option[String] = None): DataFrame = {
    val keyed = df
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("__selfdup",
        graft.functions.array_cosine_distance(col("__v"), col("__v")) <= lit(tau))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one hash-aggregate shuffle on the vector value (the exact-dedup
    // shape); a hot duplicate group partial-aggregates map-side, so the
    // exchange carries one row per (map task, distinct vector)
    val groups = keyed.where(col("__selfdup"))
      .groupBy("__v")
      .agg(min(col("__id")).as("__rep"), count(lit(1)).as("__m"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val members = keyed.where(col("__selfdup"))
      .join(groups, Seq("__v"))
      .select(col("__id"), col("__rep"), col("__m"))
      .unionAll(keyed.where(!col("__selfdup"))
        .select(col("__id"), col("__id").as("__rep"), lit(1L).as("__m")))
    val repVecs = groups.select(col("__rep").as(idCol), col("__v").as(vecCol))
      .unionAll(keyed.where(!col("__selfdup"))
        .select(col("__id").as(idCol), col("__v").as(vecCol)))
    // SIZE-ROUTED labeling of the representative graph ([[labelMicroGraph]]):
    // after contraction the rep pair set is small by construction whenever
    // duplication is the dominant term. The localCheckpoint materializes
    // the LSH pair pipeline once — it feeds both the size gate and the
    // labeling.
    //
    // Edge TIER (r19): connectivity needs a spanning structure, not the
    // pair listing, so long-id inputs take
    // [[SimilarityJoin.cosineLshComponentEdges]] — per band bucket a
    // spanning forest of the verified subgraph, at most |bucket|-1 edges —
    // closing the NEAR-duplicate quadratic the exact-dup contraction above
    // cannot see: m DISTINCT vectors all within tau (the templated-page
    // shape) don't contract (different bits) but share band keys, so the
    // all-pairs tier fed O(m²) verified pairs into the fixpoint. Labeling
    // is provably identical (per-bucket local components preserved =>
    // global components preserved; see the Scaladoc proof there), covered
    // by the randomized differentials in DedupSpec.
    val idIsLong =
      df.schema(idCol).dataType == org.apache.spark.sql.types.LongType
    // SMALL-INPUT route to the all-pairs tier ([[SizeRoute.EmbedAllPairsRows]]).
    // The probe reads the pinned `keyed` frame, so it fills the pin every
    // consumer below reads instead of recomputing the caller's lineage.
    val useSpanning = idIsLong &&
      !SizeRoute.atMost(keyed, SizeRoute(SizeRoute.EmbedAllPairsRows))
    val rawPairs =
      if (useSpanning)
        SimilarityJoin.cosineLshComponentEdges(repVecs, idCol, vecCol, tau,
          dim, nBits, bands, seed)
      else
        SimilarityJoin.cosineJoinLsh(repVecs, idCol, vecCol, tau,
          dim, nBits, bands, seed).select(col("a"), col("b"))
    // LAZY checkpoint (r20): the count below materializes it — an eager
    // checkpoint spent a separate driver-blocking job on the LSH pair
    // pipeline before the count could read the blocks
    val pairs = rawPairs.localCheckpoint(eager = false)
    val repComp = labelMicroGraph(pairs, maxIters, checkpointDir)
      .withColumnRenamed("__mid", "__rep")
    val out = members.join(repComp, Seq("__rep"), "left")
      .where(col("__m") >= 2 || col("component").isNotNull)
      .select(col("__id").as(idCol),
        coalesce(col("component"), col("__rep")).as("component"))
    // componentsStar's eager fixpoint already materialized both pins; only
    // the expansion join above is still lazy — retire, don't unpersist
    // (the FixpointPin LRU shape: dropping the caches here would recompute
    // the group aggregate once per downstream consumer)
    FixpointPin.retire(keyed)
    FixpointPin.retire(groups)
    out
  }

  /** SUBSTRING-level duplication — the tier doc-level dedup cannot see
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499): a boilerplate paragraph pasted into
    * thousands of otherwise-unique pages survives every whole-doc and
    * near-doc tier above. Every L-token sliding WINDOW is a span; a span
    * whose text occurs >= `minCount` times corpus-wide (across docs or
    * repeated within one) is duplicated. This is the fixed-window exact
    * formulation of the paper's suffix-array ExactSubstr — window hits are
    * exact (no false positives), and any duplicated run of >= L tokens is
    * guaranteed to be hit (its length-L prefix window repeats too).
    *
    * Per-doc duplication profile `(id, n_windows, n_dup_windows,
    * dup_ratio)` — the filter/reporting view. Shuffle discipline: windows
    * explode locally (posexplode of the codegen'd [[TextOps.wordNGrams]]),
    * the corpus-wide count is ONE map-side-combined aggregate on the gram
    * (the token_stats shape), and the window->count join carries only
    * grams that survive `minCount` (typically a tiny fraction), so the
    * second shuffle is the duplicated-span subset, not the corpus.
    */
  def substringDupStats(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int, minCount: Int = 2): DataFrame = {
    require(windowTokens >= 1 && minCount >= 2,
      s"need windowTokens >= 1, minCount >= 2: $windowTokens, $minCount")
    val wins = substringWindows(df, idCol, textCol, windowTokens)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dup = duplicatedGrams(wins, minCount)
    // ONE pass over the windows computes both per-doc counts (r19
    // optimization round): a left join against the (unique-per-gram)
    // duplicated dictionary flags each window, and a single per-doc
    // aggregate counts all windows and sums the flags — the previous
    // shape paid a second full pass over `wins` for n_windows plus a
    // per-doc join of the two aggregates (3 exchanges -> 2, one pass
    // fewer over the exploded windows; identical output by construction:
    // `dup` is distinct on __gram, so the left join is row-preserving).
    wins.join(dup.withColumn("__isdup", lit(1L)), Seq("__gram"), "left")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("__isdup"), lit(0L))).as("__ndup"))
      .select(col("__id").as(idCol), col("n_windows"),
        col("__ndup").as("n_dup_windows"),
        (col("__ndup").cast("double") /
          col("n_windows")).as("dup_ratio"))
  }

  /** Remove the duplicated spans: a token is dropped iff ANY duplicated
    * window covers it (window start s covers positions [s, s+L-1]); what
    * remains is re-joined in order. Returns `(id, n_kept, clean_text)` for
    * every input doc — a fully-duplicated doc yields an empty string, which
    * is the honest answer (the caller's length filter drops it).
    *
    * The TOKENS never explode: only covered positions do — and only from
    * DUPLICATED windows, the small subset — aggregating to one
    * positions-array row per affected doc. The removal itself is a pure
    * per-row expression (index-filter over the original token array +
    * array_join), so the corpus-sized side contributes zero shuffle rows
    * beyond the window counting every variant needs.
    */
  def substringDedupClean(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int, minCount: Int = 2): DataFrame = {
    require(windowTokens >= 1 && minCount >= 2,
      s"need windowTokens >= 1, minCount >= 2: $windowTokens, $minCount")
    val wins = substringWindows(df, idCol, textCol, windowTokens)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dup = duplicatedGrams(wins, minCount)
    val coveredPerDoc = wins.join(dup, Seq("__gram"))
      .select(col("__id"),
        explode(sequence(col("__s"), col("__s") + (windowTokens - 1))).as("__p"))
      .groupBy(col("__id"))
      .agg(collect_set(col("__p")).as("__cov"))
    val kept = filter(TextOps.tokens(col(textCol)),
      (_, i) => !array_contains(coalesce(col("__cov"), array().cast("array<int>")), i))
    df.select(col(idCol).cast("long").as("__id"), col(textCol))
      .join(coveredPerDoc, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        // null text -> (0, ""): same contract as a fully-covered doc
        coalesce(size(kept).cast("long"), lit(0L)).as("n_kept"),
        coalesce(array_join(kept, " "), lit("")).as("clean_text"))
  }

  /** `(__id, __s, __gram)` — every L-token window with its start position
    * (posexplode of the in-order gram array; local, no shuffle).
    */
  private def substringWindows(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int): DataFrame =
    // per-row window explode + gram construction must not inherit a
    // narrow scan's layout (widenNarrowScan rationale; no-op when wide)
    graft.util.Partitions.widenNarrowScan(
        df.select(col(idCol).cast("long").as("__id"), col(textCol)))
      .select(col("__id"),
        posexplode(TextOps.wordNGrams(col(textCol), windowTokens)))
      .withColumnRenamed("pos", "__s").withColumnRenamed("col", "__gram")

  /** Grams occurring >= minCount corpus-wide — ONE map-side-combined
    * aggregate; the result is the (small) duplicated-span dictionary.
    */
  private def duplicatedGrams(wins: DataFrame, minCount: Int): DataFrame =
    wins.groupBy(col("__gram")).agg(count(lit(1)).as("__c"))
      .where(col("__c") >= minCount).select(col("__gram"))

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space with k-means, then screen each cluster for
    * near-identical pairs — the embedding-space analogue of MinHash dedup
    * for paraphrases/translations that share no surface n-grams.
    *
    * Algorithm (the paper's screening rule, made deterministic):
    *  1. k-means centroids via [[AnnIndex.kmeansCentroids]] (fixed stride
    *     init, fixed iteration count, 1e-6 mean grid — oracle-replayable).
    *  2. assign every vector to its nearest centroid (lowest-cid tie-break).
    *  3. within a cluster, order members by (distance-to-centroid ASC,
    *     id ASC) — the paper keeps cluster members closest to the centroid.
    *  4. a member is a semantic duplicate iff some EARLIER-ordered member of
    *     the same cluster sits within cosine distance `eps` of it. The max
    *     is over all earlier members regardless of their own dup flag
    *     (the paper's non-iterative screen — one pass, no fixpoint).
    *
    * Scale posture: pairwise work is confined WITHIN clusters (equi-join on
    * centroid id, never all-pairs); expected cluster size == `stride`, so
    * compare cost is `n * stride` — at 100 TB you raise the centroid count
    * (lower stride) to keep clusters bounded, exactly as the paper shards
    * its clustering. One broadcast-join pass for assignment, one
    * cluster-partitioned self-join for the screen.
    *
    * Output: (idCol, centroid, rnk, cdist, is_dup) for every input vector.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      stride: Int = 64, iters: Int = 2, eps: Double = 0.55): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = AnnIndex.kmeansCentroids(df, idCol, vecCol, stride, iters)
    // widen a narrower-than-core-count scan before the broadcast
    // cross-join (one-file inputs otherwise run the n·(n/stride) argmin
    // in a single task — the r18 rung finding on AnnIndex.buildWith)
    val vecs = graft.util.Partitions.widenNarrowScan(
      df.select(col(idCol), col(vecCol).cast("array<double>").as("__v")))
    // nearest-centroid argmin: struct min orders by distance then cid, so
    // ties break to the lowest centroid id — same rule as the IVF build
    val assigned = vecs.crossJoin(broadcast(cents))
      .select(col(idCol), col("__v"),
        struct(graft.functions.array_cosine_distance(col("__v"), col("__cvec")).as("d"),
          col("__cid").as("cid")).as("__dc"))
      .groupBy(col(idCol))
      .agg(first(col("__v")).as("__v"), min(col("__dc")).as("__best"))
      .select(col(idCol), col("__v"),
        col("__best.cid").as("centroid"), col("__best.d").as("cdist"))
    val w = Window.partitionBy(col("centroid"))
      .orderBy(col("cdist").asc, col(idCol).asc)
    val ranked = assigned.withColumn("rnk", row_number().over(w).cast("long"))
      .persist(StorageLevel.MEMORY_AND_DISK) // feeds both sides of the screen
    val earlier = ranked.select(col("centroid"), col("rnk").as("__lr"),
      col("__v").as("__lv"))
    val dupIds = ranked.select(col(idCol), col("centroid"), col("rnk"), col("__v"))
      .join(earlier, Seq("centroid"))
      .where(col("__lr") < col("rnk"))
      .where(graft.functions.array_cosine_distance(col("__v"), col("__lv")) <= eps)
      .select(col(idCol)).distinct()
      .withColumn("__isdup", lit(true))
    ranked.join(dupIds, Seq(idCol), "left")
      .select(col(idCol), col("centroid"), col("rnk"), col("cdist"),
        coalesce(col("__isdup"), lit(false)).as("is_dup"))
  }

  /** C4/CCNet-style cross-document SEGMENT dedup (Raffel et al. 2020 §2.2
    * dedup "three-sentence spans"; CCNet's paragraph-level hash dedup): the
    * text is cut into fixed non-overlapping `window`-token segments, any
    * segment whose hash occurs in >= `minDocs` DISTINCT documents is dropped
    * from every document carrying it, and each document is reassembled from
    * its surviving segments in order. This removes boilerplate (headers,
    * license blocks, navigation chrome) that exact/minhash DOC-level dedup
    * cannot touch because the carrying documents differ elsewhere.
    *
    * Output: (idCol, n_segments, n_dropped, clean_text).
    *
    * Scale shape (minDocs == 2, the default and the C4 semantics),
    * SIZE-ROUTED because the two candidate plans fail in opposite regimes:
    *
    *  - small inputs (<= `windowMaxBytes` by Catalyst's plan-time size
    *    estimate): "appears in >= 2 distinct docs" == min(doc) != max(doc)
    *    OVER the segment hash — a single window marks every segment row in
    *    place with ONE exchange on `__h` (no census aggregate, no mark
    *    join), then the groupBy-doc reassembly is the only other shuffle:
    *    2 exchanges total. BUT a window exchange moves the FULL exploded
    *    rows (including segment text) with no map-side reduction, and
    *    WindowExec buffers each `__h` group in one task with no AQE skew
    *    mitigation (skew splitting applies to joins, not window
    *    exchanges) — one boilerplate segment shared by millions of docs
    *    (the exact payload this operator targets) pins its whole group on
    *    one straggler. Fine at gate scale; a skew/spill risk at corpus
    *    scale.
    *  - large inputs: min/max(doc) census per hash — a partial-aggregating
    *    groupBy that compacts each map task's rows to one (h, min, max)
    *    triple per local hash BEFORE the shuffle (skew-immune: the hot
    *    hash contributes one row per map task, not one row per
    *    occurrence), then the duplicated-hash subset joins back on the
    *    equi-key where AQE CAN skew-split and broadcast. The census branch
    *    reads only (id, hash) — Catalyst prunes `__seg` from its side —
    *    and the segments recompute beats persisting a corpus-sized
    *    explode.
    *
    * The general minDocs tier keeps the exact distinct-doc census
    * (aggregate + equi-join on the hash). Nothing is ever pairwise in the
    * number of documents.
    *
    * @param windowMaxBytes plan-time input-size bound for the minDocs=2
    *   window fast path; above it the skew-immune census+join plan runs.
    */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      window: Int, minDocs: Int = 2,
      windowMaxBytes: Long = 1L << 30): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    import org.apache.spark.sql.expressions.Window
    // codegen'd segment constructor (graft.functions.WordChunks) — the
    // slice-per-segment HOF it replaces stayed interpreted (same class of
    // win as the winnowing window_min rewrite)
    def segments(d: DataFrame) = d.where(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(graft.functions.word_chunks(split(col(textCol), " "), window)))
      .select(col(idCol), col("pos").cast("long").as("__seg_id"),
        col("col").as("__seg"), md5(col("col")).as("__h"))
    // Catalyst's plan-time size estimate (file length for scans, object
    // size for local relations) — no job fires here.
    def inputBytes: BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // `__dup` is true-or-NULL on both branches so the reassembly aggregate
    // below is branch-agnostic (NULL == survivor).
    val marked = if (minDocs == 2 && inputBytes <= windowMaxBytes) {
      val byHash = Window.partitionBy(col("__h"))
      segments(df).withColumn("__dup",
        when(min(col(idCol)).over(byHash) =!= max(col(idCol)).over(byHash),
          lit(true)))
    } else if (minDocs == 2) {
      // skew-immune census: min/max partial-aggregates map-side (compact
      // (h, min, max) partials shuffle, never the segment text); the dup
      // side is the duplicated subset, AQE broadcasts/skew-splits the
      // rejoin. The census side's segments recompute is pruned to
      // (id, hash) — no persist of a corpus-sized explode.
      val dup = segments(df)
        .groupBy(col("__h"))
        .agg(min(col(idCol)).as("__mn"), max(col(idCol)).as("__mx"))
        .where(col("__mn") =!= col("__mx"))
        .select(col("__h"), lit(true).as("__dup"))
      segments(df).join(dup, Seq("__h"), "left")
    } else {
      // exact distinct-doc census (count(DISTINCT doc) is hash-partial per
      // segment); two consumers -> persist the exploded segments once
      val segs = segments(df).persist(StorageLevel.MEMORY_AND_DISK)
      val dup = segs.groupBy(col("__h"))
        .agg(countDistinct(col(idCol)).as("__nd"))
        .where(col("__nd") >= minDocs)
        .select(col("__h"), lit(true).as("__dup"))
      segs.join(dup, Seq("__h"), "left")
    }
    marked
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dropped"),
        // collect_list skips the nulled (dropped) segments; the struct sort
        // restores document order before the join — deterministic because
        // __seg_id is unique within a doc
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("__dup").isNull,
            struct(col("__seg_id"), col("__seg"))))),
          x => x.getField("__seg"))).as("clean_text"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the MOSS
    * local document fingerprinting scheme): hash every k-token shingle,
    * slide a w-hash window, keep each window's MINIMUM hash. Any shared
    * token run of length >= k + w - 1 is GUARANTEED to contribute a shared
    * fingerprint (the winnowing coverage theorem), while only ~2/(w+1) of
    * positions are kept — an inverted index ~w/2× SMALLER than full
    * shingle postings for substring-overlap detection, which is exactly
    * what the 100 TB tier wants between the exact-substring pass (heavy)
    * and MinHash (whole-document only). The gated contract keeps the
    * DISTINCT selected hash VALUES per doc (position-free — the value set
    * is what the candidate join consumes).
    *
    * Scale shape: hashing + window minima are one scan-side array
    * projection (codegen); the only shuffle is the per-doc distinct.
    * Output: (idCol, fp: long) — distinct fingerprints per doc.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    require(k > 0 && w > 0, s"k and w must be positive: k=$k w=$w")
    val grams = TextOps.wordNGrams(col(textCol), k)
    // the 60-bit md5 long convention shared with MinHash and the oracle
    val hashes = transform(grams, g =>
      conv(substring(md5(g), 1, 15), 16, 10).cast("long"))
    // codegen'd O(n) monotonic-deque window minimum — the HOF encoding
    // (transform(sequence) + array_min(slice)) stayed interpreted and
    // allocated a slice per window, measured ~6x this wall at the 50x
    // ScaleSmoke rung; short/NULL docs yield an empty window list
    val mins = graft.functions.window_min(hashes, w)
    // per-row md5-per-gram hashing must not inherit a narrow scan's layout
    graft.util.Partitions.widenNarrowScan(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(array_distinct(mins)).as("fp"))
  }

  /** Candidate pairs (a < b) sharing >= `minShared` winnowing fingerprints
    * — the sparse-index near-dup/plagiarism join. Same inverted-index
    * equi-join discipline as [[jaccardJoin]]: join volume is per-fingerprint
    * postings products, never all-pairs.
    */
  def winnowPairs(fps: DataFrame, idCol: String,
      minShared: Long = 2L): DataFrame = {
    val l = fps.select(col("fp"), col(idCol).as("a"))
    val r = fps.select(col("fp"), col(idCol).as("b"))
    l.join(r, "fp")
      .where(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Materialize a corpus's winnowing fingerprints as a BUCKETED (and
    * sorted) catalog table keyed by fp — the at-rest artifact for
    * INCREMENTAL winnow matching, exactly the [[materializePostings]]
    * posture: the corpus is fingerprinted and shuffled ONCE at ingest;
    * per crawl batch only the (much smaller) batch side exchanges, the
    * corpus buckets join in place. The winnowing index is additionally
    * ~w/2× smaller than full shingle postings — the cheapest at-rest
    * overlap index of the dedup family.
    */
  def materializeWinnow(corpus: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, table: String, buckets: Int = 32): Unit =
    graft.sources.Bucketing.writeBucketed(
      winnowFingerprints(corpus, idCol, textCol, k, w)
        .withColumnRenamed(idCol, "b"),
      table, "fp", buckets)

  /** Cross-corpus winnow candidates: batch fingerprints against an at-rest
    * [[materializeWinnow]] table — (a = batch id, b = corpus id, n_shared).
    * The corpus side is never recomputed, re-exploded or re-shuffled.
    */
  def winnowPairsAgainst(batchFps: DataFrame, corpusFps: DataFrame,
      idCol: String, minShared: Long = 2L): DataFrame =
    batchFps.select(col("fp"), col(idCol).as("a"))
      .join(corpusFps.select(col("fp"), col("b")), "fp")
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)

  /** Bloom filter over the corpus's dedup keys, built in one aggregate pass
    * (`stat.bloomFilter` — order-independent bit ORs, fixed seed, so the
    * filter is deterministic for a given key set). The returned filter is a
    * driver-side object sized by `expectedItems`/`fpp` — ~1.1 GB at 10^9
    * keys / 1% fpp, so at the 100 TB tier build it once per ingest epoch and
    * reuse across batches (it is the cheap side: ONE scan of corpus keys vs
    * a per-batch corpus-sized join).
    */
  def corpusBloom(corpus: DataFrame, keyCol: String, expectedItems: Long,
      fpp: Double = 0.03): org.apache.spark.util.sketch.BloomFilter =
    corpus.stat.bloomFilter(keyCol, expectedItems, fpp)

  /** Exact incremental dedup with a Bloom FAST PATH: batch rows the filter
    * rejects are GUARANTEED unseen (Bloom has no false negatives) and
    * survive without touching the corpus; only the "possibly seen" subset —
    * true duplicates plus the fpp sliver — pays the exact anti-join. At
    * 100 TB this turns "join every crawl batch against the full corpus key
    * set" into "join the few-percent candidate subset": the shuffle carries
    * candidates, not the batch. Row-identical to the plain anti-join by
    * construction (the spec and the `bloom_dedup_survivors` gate both hold
    * it to that).
    */
  def bloomIncrementalSurvivors(batch: DataFrame, corpusKeys: DataFrame,
      keyCol: String,
      filter: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    val probe = graft.functions.bloom_might_contain(col(keyCol), filter)
    val guaranteedUnseen = batch.where(!probe)
    val verifiedUnseen = batch.where(probe)
      .join(corpusKeys.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
    guaranteedUnseen.unionByName(verifiedUnseen)
  }
}
