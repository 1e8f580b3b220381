package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.{VectorLoop, array_cosine_distance, array_inner_product, array_l2_norm}

/** Embedding-similarity joins and approximate-nearest-neighbor search
  * (north star: similarity search over an embedding column).
  *
  * Scale posture:
  *  - `cosineJoinBroadcast`: exact theta-join, small side broadcast. Use when
  *    one side fits an executor (dims, centroids, query batches). This is
  *    what the oracle checks.
  *  - `cosineJoinLsh`: random-hyperplane signatures + banded buckets; only
  *    bucket-mates are compared, then verified with the true distance —
  *    the O(n·bucket) scale path for all-pairs near-dup over 10^9 vectors.
  *  - `AnnIndex`: brute-force top-k (TakeOrderedAndProject — the reference's
  *    exact semantics, model/search/vector.py:173-180) plus an IVF-style
  *    coarse quantizer: vectors bucketed by nearest centroid, queries probe
  *    the closest `nprobe` buckets only.
  */
object SimilarityJoin {

  /** Default ceiling for the broadcast (exact) tier: 2M x 64-dim float
    * vectors ~ 600 MB broadcast — near the practical executor-memory wall.
    * Above this the exact all-pairs loop is the wrong plan anyway (O(n^2)
    * distance evaluations); [[cosineJoin]] routes to the LSH tier instead.
    */
  val DefaultMaxBroadcastRows: Int = 2000000

  /** Sign-LSH defaults — shared with oracle generation so the SQL replica
    * can never drift out of sync with the Spark pipeline's banding math.
    */
  val DefaultNBits: Int = 16
  val DefaultBands: Int = 4
  val DefaultSeed: Long = 42L

  /** Per-task member ceiling for [[cosineLshComponentEdges]]' band buckets:
    * a bucket larger than this is block-pair-decomposed so one task holds
    * at most ~this many vectors (64 Ki × 64-dim doubles ≈ 32 MB) instead
    * of the whole bucket.
    */
  val DefaultMaxBucketRows: Int = 1 << 16

  /** Block-count cap for the decomposition: bounds a member's replication
    * factor (each member ships to its block's `B` block-pairs). Beyond
    * `maxBlocks` blocks the per-task bound degrades gracefully to
    * 2n/maxBlocks — a bucket that hot (n > maxBlocks × maxBucketRows / 2,
    * i.e. ~8M members in one band bucket at the defaults) means the
    * banding itself has degenerated and wants re-tuning, not more blocks.
    */
  val DefaultMaxBlocks: Int = 256

  /** Batched EXACT brute-force top-k: the ground truth for ANN recall
    * ([[AnnIndex.recallAtK]]) and the scoring substrate for contrastive-pair
    * mining ([[hardNegatives]]). ONE corpus scan serves the whole broadcast
    * query table; per-query top-k runs through the bounded-heap aggregate
    * ([[graft.functions.TopKByScore]]) so each partition ships at most k
    * rows per query to the shuffle — never the (query x corpus) distance
    * table. Output `(qidCol, rank, idCol, cos_dist)`, rank 1-based by
    * (dist asc, id asc). `excludeSelf` drops the corpus row whose id equals
    * the query id — for mining, where every query is a corpus member and
    * would otherwise be its own nearest neighbor.
    *
    * Like probeTopKBatch, the query table is broadcast (a day's query batch,
    * 10^4-10^6 vectors); shard and union beyond that. Exhaustive scan cost
    * is the point here — this is the eval/mining tier, not the serving tier.
    */
  def bruteForceTopKBatch(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val q = broadcast(queries.select(col(qidCol).cast("long").as("__qid"),
      col(qvecCol).as("__qvec")))
    val joined =
      if (excludeSelf) corpus.join(q, col(idCol).cast("long") =!= col("__qid"))
      else corpus.crossJoin(q)
    joined
      .select(col("__qid"), struct(
        array_cosine_distance(col(vecCol), col("__qvec")).as("score"),
        col(idCol).cast("long").as("id")).as("__sv"))
      .groupBy(col("__qid"))
      .agg(graft.functions.topk_by_score(col("__sv"), k).as("__hits"))
      .select(col("__qid"), posexplode(col("__hits")))
      .select(col("__qid").as(qidCol), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as(idCol), col("col.score").as("cos_dist"))
  }

  /** Hard-negative mining for contrastive training (DPR, Karpukhin et al.
    * 2020; SimCSE): for each query, emit its nearest non-self neighbor as
    * the `positive` and the rank-[negFrom, negTo] band as `hard_negative`s —
    * close enough to be informative, far enough to be (presumed) wrong.
    * One bounded-heap pass ([[bruteForceTopKBatch]] with k = negTo); the
    * role split is a projection. Output
    * `(qidCol, rank, idCol, cos_dist, role)`.
    */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      negFrom: Int, negTo: Int, posK: Int = 1): DataFrame = {
    require(posK >= 1 && negFrom > posK && negTo >= negFrom,
      s"need 1 <= posK < negFrom <= negTo, got posK=$posK " +
        s"negFrom=$negFrom negTo=$negTo")
    bruteForceTopKBatch(corpus, idCol, vecCol, queries, qidCol, qvecCol,
        k = negTo, excludeSelf = true)
      .where(col("rank") <= posK || col("rank").between(negFrom, negTo))
      .withColumn("role",
        when(col("rank") <= posK, lit("positive")).otherwise(lit("hard_negative")))
  }

  /** Labelled retrieval evaluation — precision@k and reciprocal rank per
    * query, relevance = label agreement (the standard proxy when no human
    * judgments exist: a hit is "relevant" iff it carries the query's own
    * class label). One bounded-heap exact top-k pass
    * ([[bruteForceTopKBatch]], self excluded — a query finding itself is
    * not retrieval quality), then two broadcast label joins and one
    * per-query aggregate. Every metric is a ratio of small integers
    * (n_rel/k, 1/rank), so the gate holds it hash-exact.
    *
    * Output: (qidCol, n_rel, precision_at_k, first_rel_rank — NULL when no
    * relevant hit ranks — and reciprocal_rank, 0.0 when none), one row per
    * query.
    */
  def retrievalEval(corpus: DataFrame, idCol: String, vecCol: String,
      labelCol: String, queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int): DataFrame = {
    val hits = bruteForceTopKBatch(corpus, idCol, vecCol, queries, qidCol,
      qvecCol, k, excludeSelf = true)
    val corpusLabels = corpus.select(col(idCol),
      col(labelCol).cast("long").as("__hit_label"))
    // query labels come from the corpus row sharing the query's id — the
    // mining setup where every query is a corpus member
    val queryLabels = broadcast(queries.select(col(qidCol)).join(
      corpus.select(col(idCol).cast("long").as(qidCol),
        col(labelCol).cast("long").as("__q_label")), qidCol))
    hits.join(corpusLabels, idCol).join(queryLabels, qidCol)
      .withColumn("__rel", col("__hit_label") === col("__q_label"))
      .groupBy(col(qidCol))
      .agg(
        sum(when(col("__rel"), 1L).otherwise(0L)).as("n_rel"),
        (sum(when(col("__rel"), 1L).otherwise(0L)).cast("double") /
          lit(k.toDouble)).as("precision_at_k"),
        min(when(col("__rel"), col("rank"))).as("first_rel_rank"))
      .withColumn("reciprocal_rank",
        coalesce(lit(1.0) / col("first_rel_rank"), lit(0.0)))
  }

  /** Reciprocal-rank fusion (Cormack & Clarke 2009) — the standard way to
    * combine a lexical ranking (BM25) with a vector ranking into one hybrid
    * result without score normalization: fused score = sum over systems of
    * 1/(c + rank), items absent from a list contribute 0 for it. Scores are
    * per-row scalar arithmetic on small integers — deterministic doubles,
    * so the fusion sits under the hash gate.
    *
    * Inputs are two ranked lists (idCol, rankCol) — both already top-m
    * bounded by their producers. One full-outer equi-join on the id (each
    * side is m rows — broadcastable by size), a TakeOrdered top-k cut, and
    * a final row_number over the k survivors (k-bounded single partition by
    * construction). Output: (rank, idCol, rrf_score).
    */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String, rankCol: String,
      k: Int, c: Int = 60): DataFrame = {
    require(k > 0 && c >= 0, s"need k > 0 and c >= 0, got k=$k c=$c")
    val fa = a.select(col(idCol), col(rankCol).cast("long").as("__ra"))
    val fb = b.select(col(idCol), col(rankCol).cast("long").as("__rb"))
    fa.join(fb, Seq(idCol), "full_outer")
      .select(col(idCol),
        (coalesce(lit(1.0) / (lit(c.toLong) + col("__ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c.toLong) + col("__rb")), lit(0.0)))
          .as("rrf_score"))
      .orderBy(col("rrf_score").desc, col(idCol).asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("rrf_score").desc, col(idCol).asc)).cast("long"))
      .select(col("rank"), col(idCol), col("rrf_score"))
  }

  /** Exact cosine-threshold self-join: pairs (a, b), a < b, with
    * cosine distance <= tau. The right side is broadcast — exact and
    * shuffle-free, intended for sides that fit in an executor.
    *
    * Guarded: broadcasting an unbounded side OOMs every executor at scale,
    * so the size ceiling is checked up front with a bounded probe
    * ([[SizeRoute.atMost]]) that reads at most n+1 rows, never the full
    * table. Pass `maxBroadcastRows = Int.MaxValue` to skip the check (and
    * its one cheap job) when the caller already knows the size.
    */
  def cosineJoinBroadcast(df: DataFrame, idCol: String, vecCol: String,
      tau: Double, maxBroadcastRows: Int = DefaultMaxBroadcastRows): DataFrame = {
    require(SizeRoute.atMost(df, maxBroadcastRows),
      s"cosineJoinBroadcast: side exceeds $maxBroadcastRows rows — " +
        "broadcasting it would exhaust executor memory; use cosineJoin " +
        "(auto-routes) or cosineJoinLsh (banded scale path)")
    // repartition the stream side: a single-row-group parquet scan is one
    // partition, which would run the O(n^2) distance loop on one thread
    val par = df.sparkSession.sparkContext.defaultParallelism
    val l = df.repartition(par).select(col(idCol).as("a"), col(vecCol).as("__va"))
    val r = df.select(col(idCol).as("b"), col(vecCol).as("__vb"))
    l.join(broadcast(r), col("a") < col("b"))
      .withColumn("cos_dist", array_cosine_distance(col("__va"), col("__vb")))
      .where(col("cos_dist") <= tau)
      .select("a", "b", "cos_dist")
  }

  /** Size-routed cosine self-join: the exact broadcast tier while the frame
    * fits under `maxExactRows`, the banded LSH tier above it — so a caller
    * can't accidentally broadcast a 100 GB table.
    */
  def cosineJoin(df: DataFrame, idCol: String, vecCol: String, tau: Double,
      dim: Int, maxExactRows: Int = DefaultMaxBroadcastRows,
      nBits: Int = DefaultNBits, bands: Int = DefaultBands,
      seed: Long = DefaultSeed): DataFrame =
    if (SizeRoute.atMost(df, maxExactRows))
      cosineJoinBroadcast(df, idCol, vecCol, tau, maxBroadcastRows = Int.MaxValue)
    else
      cosineJoinLsh(df, idCol, vecCol, tau, dim, nBits, bands, seed)

  /** Deterministic pseudo-random unit hyperplanes (splitmix64 stream) for
    * sign-LSH. Returned as Seq of Array[Double], broadcast via literals.
    * Public: the DuckDB oracle materializes the same planes as literal
    * arrays to replicate the full sign-LSH pipeline in SQL.
    */
  def hyperplanes(dim: Int, nBits: Int, seed: Long = DefaultSeed): Seq[Array[Double]] = {
    var s = seed
    (0 until nBits).map { _ =>
      Array.fill(dim) {
        s = graft.util.Hashing.splitmix64(s)
        s.toDouble / Long.MaxValue.toDouble
      }
    }
  }

  /** Sign-LSH signature: bit i = 1 iff <v, plane_i> >= 0. Computed with the
    * codegen'd dot-product expression — no UDF.
    */
  def signBits(vecCol: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(array_inner_product(vecCol, typedLit(p.toSeq)) >= 0.0, shiftleft(lit(1L), i))
        .otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** Connectivity-preserving sign-LSH edge set: SAME banded buckets as
    * [[cosineJoinLsh]], but each bucket emits a SPANNING FOREST of its
    * verified subgraph instead of every verified pair — output `(a, b)`
    * edges whose connected components are PROVABLY IDENTICAL to those of
    * the full [[cosineJoinLsh]] pair set. This is the components-consumer
    * tier ([[Dedup.embedComponents]]): labeling needs connectivity, not the
    * pair listing.
    *
    * Why this exists (the r18 verdict's named residual, the near-duplicate
    * twin of the exact-dup contraction): m DISTINCT vectors all within tau
    * of each other — the templated-page shape, ubiquitous in web crawls —
    * share band keys and pass verification pairwise, so the all-pairs tier
    * emits O(m²) verified pairs into the components fixpoint, whose input
    * then grows quadratically too. A spanning forest of each bucket's
    * verified subgraph is at most |bucket|-1 edges — linear in m — and
    * preserves the global components exactly: the full graph's edge set is
    * the union over buckets of bucket-local verified edges, and replacing
    * each bucket's edge set by a spanning forest WITH THE SAME LOCAL
    * COMPONENTS lets any original path be rerouted segment-by-segment
    * inside the buckets it traversed.
    *
    * Per-bucket exactness (incremental union-find over the bucket's rows,
    * one task per bucket): for each new row x, scan each existing local
    * component's members until the FIRST member within tau — emit that one
    * edge and merge; if NO member of a component is within tau, the full
    * component was scanned, so no x-edge into it exists. Any further
    * x-edges into a merged component are redundant for connectivity by
    * definition. Verification replicates [[graft.functions.CosineDistance]]
    * bit-for-bit (same left-to-right double accumulation, same zero-vector
    * -> 2.0 and [-1,1] clamp), so the edge PREDICATE — dist <= tau — is
    * exactly the column expression's. Rows whose vector is NULL or carries
    * a NULL element are dropped up front: the distance expression returns
    * NULL for them, so they can never verify a pair in either tier.
    *
    * Cost shape: the templated cluster (one within-tau component of size m)
    * costs O(m) distance evaluations — each new row hits the component's
    * first member — and emits m-1 edges; the adversarial bucket where
    * nothing verifies degenerates to the same O(m²) evaluations the
    * all-pairs tier pays (inherent to exact verification of candidates),
    * but emits ZERO rows instead of feeding a quadratic pair set downstream.
    * The band shuffle ships the vectors (bands × dim × 8B per row) where
    * the all-pairs tier ships 8-byte signatures and re-attaches vectors by
    * join — the price of local verification, paid once, bounded by bands×
    * corpus width, never by pair multiplicity.
    *
    * Oversized buckets are BLOCK-PAIR DECOMPOSED (r19; the one-task-per-
    * bucket residual of the first spanning tier): a bucket whose member
    * count n exceeds `maxBucketRows` hashes each member into one of
    * B = ⌈2n/maxBucketRows⌉ blocks (capped at `maxBlocks`) and replicates
    * it to the B block-pairs (i,j), i ≤ j, that contain its block; each
    * (band, key, i, j) group then runs the SAME local union-find over the
    * ≤ ~maxBucketRows members of blocks i ∪ j. Exactness is the same
    * segment-rerouting argument one level down: any verified edge (u,v) of
    * the bucket lies entirely inside the group for (blk(u), blk(v)) — both
    * endpoints are present there — so that group's spanning forest
    * connects u and v, and every original bucket-local path reroutes
    * group-by-group; the union of group forests therefore preserves the
    * bucket's local components, and the bucket-union argument above lifts
    * that to global components unchanged. Cost: per-task memory is
    * bounded by ~maxBucketRows vectors regardless of bucket size (the
    * 10⁶-member templated bucket that was one 512 MB task is now ~500
    * 32 MB tasks); member replication is ×B for oversized buckets only
    * (normal buckets take the B = 1 path untouched, one group per bucket);
    * output stays ≤ members−1 edges per group, linear in n for fixed B.
    * The hot-bucket census that sizes B aggregates the NARROW
    * (band, key) projection — two longs per row, combine-heavy — and only
    * buckets above the threshold are broadcast back.
    *
    * Long ids only (the local union-find keys on them); callers with
    * non-long ids use the all-pairs tier.
    */
  def cosineLshComponentEdges(df: DataFrame, idCol: String, vecCol: String,
      tau: Double, dim: Int, nBits: Int = DefaultNBits,
      bands: Int = DefaultBands, seed: Long = DefaultSeed,
      maxBucketRows: Int = DefaultMaxBucketRows,
      maxBlocks: Int = DefaultMaxBlocks): DataFrame = {
    val rowsPerBand = nBits / bands
    require(bands * rowsPerBand == nBits, s"bands ($bands) must divide nBits ($nBits)")
    require(df.schema(idCol).dataType == org.apache.spark.sql.types.LongType,
      s"cosineLshComponentEdges requires a long id column, got " +
        s"${df.schema(idCol).dataType.simpleString} — use cosineJoinLsh")
    val spark = df.sparkSession
    import spark.implicits._
    val planes = hyperplanes(dim, nBits, seed)
    // cast to array<double> FIRST: element-wise float->double widening is
    // exactly what the distance/signature expressions do internally, so
    // signatures and band keys are bit-identical to the all-pairs tier's
    val projected = df.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .where(col("__v").isNotNull && !exists(col("__v"), _.isNull))
    // Small-input bypass probe BEFORE the widen: the bounded probe on the
    // pre-shuffle projection stops scanning at maxBucketRows + 1 rows,
    // whereas probing the repartitioned frame would execute the exchange's
    // full map side (every row scanned and shuffle-written) first.
    // (Int.MaxValue disables the decomposition outright with no probe.)
    val small = SizeRoute.atMost(projected, maxBucketRows)
    val vecd = graft.util.Partitions.widenNarrowScan(projected)
    val sigsRaw = vecd.select(col("__id"), col("__v"),
      signBits(col("__v"), planes).as("__sig"))
    // census path: the signature pipeline (scan + nBits×dim dot products
    // per row) feeds BOTH the hot-bucket census and the final group job —
    // persist it once, same two-consumer shape cosineJoinLsh persists for
    val sigs = if (small) sigsRaw
      else sigsRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mask = (1L << rowsPerBand) - 1L
    val bandKeys = (0 until bands).map { b =>
      shiftright(col("__sig"), b * rowsPerBand).bitwiseAND(lit(mask))
    }
    val bucketed = sigs.select(col("__id"), col("__v"), posexplode(array(bandKeys: _*)))
      .select(col("pos").as("__band"), col("col").as("__key"),
        col("__id"), col("__v"))
    // Small-input bypass: if the WHOLE input fits under the per-task
    // ceiling, no bucket can exceed it — skip the census/broadcast/explode
    // (three extra jobs that cost ~0.3-0.4 s at gate scale) and take the
    // one-group-per-bucket path directly.
    val expanded = if (small) {
      bucketed.select(col("__band"), col("__key"),
        lit(0).as("__pi"), lit(0).as("__pj"), lit(0).as("__blk"),
        col("__id"), col("__v"))
    } else {
      // hot-bucket census on the narrow (band, key) projection; only
      // buckets above the per-task ceiling come back, broadcast-joined
      val hot = bucketed.select(col("__band"), col("__key"))
        .groupBy(col("__band"), col("__key"))
        .agg(count(lit(1)).as("__n"))
        .where(col("__n") > maxBucketRows)
      val nb = when(col("__n").isNull, lit(1))
        .otherwise(least(
          ceil(col("__n") * lit(2.0) / lit(maxBucketRows.toDouble)),
          lit(maxBlocks.toLong)))
        .cast("int")
      bucketed
        .join(broadcast(hot), Seq("__band", "__key"), "left_outer")
        .withColumn("__nb", nb)
        .withColumn("__blk",
          pmod(xxhash64(col("__id")), col("__nb").cast("long")).cast("int"))
        .withColumn("__ob", explode(sequence(lit(0), col("__nb") - 1)))
        .select(col("__band"), col("__key"),
          least(col("__blk"), col("__ob")).as("__pi"),
          greatest(col("__blk"), col("__ob")).as("__pj"),
          col("__blk"), col("__id"), col("__v"))
    }
    expanded
      .as[(Int, Long, Int, Int, Int, Long, Seq[Double])]
      .groupByKey { case (band, key, pi, pj, _, _, _) => (band, key, pi, pj) }
      .flatMapGroups { (key: (Int, Long, Int, Int), rows) =>
        // In a MIXED block-pair group (i ≠ j), intra-block forest edges are
        // redundant output: a suppressed intra-block edge (u,v) is a
        // VERIFIED edge with blk(u) = blk(v), so the self-pair group for
        // that block sees u,v adjacent and its forest connects them — the
        // union of group outputs still preserves the bucket's components
        // (same rerouting argument, substituting self-pair connectivity
        // for each suppressed segment). The union-find still MERGES on
        // every hit; only the emission is suppressed. Halves hot-bucket
        // edge output (≈ m(B+1)/2 instead of m(B+1) per band).
        val selfPair = key._3 == key._4
        bucketSpanningEdges(rows.map(r => (r._6, r._7, r._5)), tau,
          emitIntraBlock = selfPair)
      }
      .toDF("a", "b")
  }

  /** Incremental exact union-find over one band bucket: emits a spanning
    * forest of the bucket's verified (dist <= tau) subgraph. See
    * [[cosineLshComponentEdges]] for the exactness argument.
    */
  private def bucketSpanningEdges(rows: Iterator[(Long, Seq[Double], Int)],
      tau: Double, emitIntraBlock: Boolean = true): Iterator[(Long, Long)] = {
    import scala.collection.mutable.ArrayBuffer
    val comps = ArrayBuffer.empty[ArrayBuffer[(Long, Array[Double], Int)]]
    val out = ArrayBuffer.empty[(Long, Long)]
    rows.foreach { case (id, vseq, blk) =>
      val v = vseq.toArray
      var hits: List[Int] = Nil
      var ci = 0
      while (ci < comps.length) {
        val members = comps(ci)
        var mi = 0
        var hit = false
        while (mi < members.length && !hit) {
          val (mid, mv, mblk) = members(mi)
          if (VectorLoop.cosine(v, mv) <= tau) {
            if (emitIntraBlock || mblk != blk)
              out += ((math.min(id, mid), math.max(id, mid)))
            hit = true
          }
          mi += 1
        }
        if (hit) hits = ci :: hits // descending order by construction
        ci += 1
      }
      hits match {
        case Nil => comps += ArrayBuffer((id, v, blk))
        case _ =>
          val asc = hits.reverse
          val target = comps(asc.head)
          target += ((id, v, blk))
          // fold higher-indexed hit comps into the first; remove from the
          // end so remaining indices stay valid
          asc.tail.reverse.foreach { i => target ++= comps(i); comps.remove(i) }
      }
    }
    out.iterator
  }

  /** Approximate cosine-threshold self-join: random-hyperplane signatures,
    * banded buckets, candidates verified with the exact distance. Recall is
    * probabilistic (more bands -> higher recall); precision is exact.
    */
  def cosineJoinLsh(df: DataFrame, idCol: String, vecCol: String, tau: Double,
      dim: Int, nBits: Int = DefaultNBits, bands: Int = DefaultBands,
      seed: Long = DefaultSeed): DataFrame = {
    val rowsPerBand = nBits / bands
    require(bands * rowsPerBand == nBits, s"bands ($bands) must divide nBits ($nBits)")
    val planes = hyperplanes(dim, nBits, seed)
    // persist: nBits dot products per row feed both self-join sides.
    // widenNarrowScan decouples the pipeline's parallelism from the
    // INPUT's file layout: a single-file vector table otherwise scans as
    // ONE partition, which serializes the per-row signature dot products
    // AND — because the band self-join broadcasts one side — the whole
    // superlinear band-bucket pipeline into a single task (measured on
    // the 100× synthetic rung: 35+ min in one task vs ~a minute across
    // the full core count; same treatment the jaccard family gets from
    // its repartitioned doc spool).
    val sigs = graft.util.Partitions.widenNarrowScan(df)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        signBits(col(vecCol), planes).as("__sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mask = (1L << rowsPerBand) - 1L
    val bandKeys = (0 until bands).map { b =>
      shiftright(col("__sig"), b * rowsPerBand).bitwiseAND(lit(mask))
    }
    val banded = sigs.select(col("__id"), col("__sig"), posexplode(array(bandKeys: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
    // Dedup WITHOUT a shuffle: a pair colliding in several bands is emitted
    // only from its FIRST matching band — recomputable from the two
    // signatures (8-byte longs) with bit ops, so no distinct() exchange at
    // all and never a dim-length vector in the band join's payload.
    val l = banded.select(col("band"), col("key"), col("__id").as("a"), col("__sig").as("__sa"))
    val r = banded.select(col("band"), col("key"), col("__id").as("b"), col("__sig").as("__sb"))
    val firstMatchingBand = (0 until bands).map { bp =>
      when(col("band") > bp,
        shiftright(col("__sa"), bp * rowsPerBand).bitwiseAND(lit(mask)) =!=
          shiftright(col("__sb"), bp * rowsPerBand).bitwiseAND(lit(mask)))
        .otherwise(lit(true))
    }.reduce(_ && _)
    val cands = l.join(r, Seq("band", "key"))
      .where(col("a") < col("b") && firstMatchingBand)
      .select("a", "b")
    // verification re-attaches the vectors from the persisted signature
    // frame — candidate count is bucket-bounded, so AQE turns these into
    // broadcast joins when the candidate set is small
    cands
      .join(sigs.select(col("__id").as("a"), col("__v").as("__va")), "a")
      .join(sigs.select(col("__id").as("b"), col("__v").as("__vb")), "b")
      .withColumn("cos_dist", array_cosine_distance(col("__va"), col("__vb")))
      .where(col("cos_dist") <= tau)
      .select("a", "b", "cos_dist")
  }
}

/** IVF-style ANN index: a coarse quantizer over deterministic centroids.
  * Build: every vector whose id divides by `stride` is a centroid
  * (deterministic — no k-means rounds needed for a correctness-first
  * index; [[AnnIndex.buildKMeans]] refines them), and each vector is filed
  * under its nearest centroid by ONE codegen'd `cosine_argmin` against the
  * whole centroid table as one row: no shuffle and no aggregate, and the
  * same kernel serves build, append, delete and the IVF-PQ replay.
  * Query: rank centroids by distance to the query, scan only the `nprobe`
  * nearest buckets, then exact top-k within them. A materialized store
  * ([[AnnIndex.materialize]]) keeps its centroid table and schema beside
  * its buckets, so an opened store ranks on the driver and lists only the
  * ranked bucket directories: a probe is one Spark job.
  */
final class AnnIndex private (
    assignedOf: () => DataFrame, // (id, vec, __centroid): every bucket
    cents: CentroidStore.Centroids,
    store: Option[CentroidStore.Store],
    idCol: String, vecCol: String) extends Serializable {

  private lazy val assigned = assignedOf()

  /** Exact brute-force top-k — the reference's semantics
    * (ORDER BY distance LIMIT k -> TakeOrderedAndProject).
    */
  def bruteForceTopK(qvec: Array[Double], k: Int): DataFrame =
    assigned
      .select(col(idCol),
        array_cosine_distance(col(vecCol), typedLit(qvec.toSeq)).as("cos_dist"))
      .orderBy(col("cos_dist").asc_nulls_last, col(idCol).asc)
      .limit(k)

  /** IVF probe: top-k among the `nprobe` buckets nearest to the query.
    * On an opened store it is ONE Spark job while the store's centroid
    * table is driver-held ([[SizeRoute.IvfCentroidBytes]]; above it the
    * ranking is one job more); an in-memory index ([[AnnIndex.build]])
    * ranks inside its lazy plan.
    */
  def probeTopK(qvec: Array[Double], k: Int, nprobe: Int = 4): DataFrame =
    probedRows(qvec, nprobe)
      .select(col(idCol),
        array_cosine_distance(col(vecCol), typedLit(qvec.toSeq)).as("cos_dist"))
      .orderBy(col("cos_dist").asc_nulls_last, col(idCol).asc)
      .limit(k)

  /** The bucket-pruned `(id, vec)` rows a probe scans — exposed for tier
    * composition: IVF-PQ is
    * `ProductQuantizer.adcRerankTopK(index.probedRows(q, nprobe), ...)`,
    * so the scan is cut to nprobe bucket directories, PQ codes cut the
    * per-row cost inside them, and only the rerank overfetch touches
    * full-precision vectors.
    */
  def probedRows(qvec: Array[Double], nprobe: Int): DataFrame = probed(qvec, nprobe)._1

  /** The `nprobe` centroid ids nearest the query, as a `(__probe_cid)`
    * frame — the bucket-selection half of a probe, exposed so sibling
    * at-rest layouts keyed by the same buckets (e.g.
    * [[ProductQuantizer.probeIvfPqTopK]]'s centroid-partitioned code
    * table) can partition-prune with the identical selection.
    */
  def probedCentroids(qvec: Array[Double], nprobe: Int): DataFrame = probed(qvec, nprobe)._2

  /** [[probedRows]] and [[probedCentroids]] from one ranking. */
  private[graft] def probed(qvec: Array[Double], nprobe: Int): (DataFrame, DataFrame) =
    store match {
      case Some(s) =>
        val ids = cents.ranked(qvec, nprobe)
        (s.buckets(ids).select(col(idCol), col(vecCol)),
          s.spark.createDataFrame(ids.map(Tuple1(_))).toDF("__probe_cid"))
      case None =>
        val c = CentroidStore.ranked(cents.frame, qvec, nprobe)
        (assigned.join(broadcast(c), col("__centroid") === col("__probe_cid"), "left_semi")
          .select(col(idCol), col(vecCol)), c)
    }

  /** Batched IVF probe: ONE pass over the index serving a whole
    * query-vector table — the offline-batch shape (embed a day's queries,
    * answer them all in a single job). Per-query centroid ranking windows
    * over the tiny (queries × centroids) broadcast product; each index row
    * then joins ONLY the queries probing its bucket, and per-query top-k
    * runs through the bounded-heap aggregate ([[graft.functions.TopKByScore]])
    * — each partition ships at most k rows per query to the shuffle, never
    * the full (query × candidate) distance table. Output:
    * `(qidCol, rank, idCol, cos_dist)`, rank 1-based by (dist asc, id asc).
    *
    * The query table is broadcast twice, so it must be broadcast-sized
    * (10^4-10^6 query vectors — a day's batch — fits executor memory;
    * beyond that, shard the query table and union the outputs: the index
    * side is re-scanned per shard but never re-built).
    *
    * Preconditions: `qidCol` and the index's id column must be numeric —
    * both are cast to long, so a non-numeric id becomes NULL and its rows
    * drop out of the grouped top-k. And like [[graft.functions.TopKByScore]],
    * NULL-distance candidates are excluded from the heap: when a query's
    * probed buckets hold fewer than k non-null-distance candidates the query
    * returns fewer than k rows, whereas a NULLS LAST sort would pad with
    * null-distance rows.
    */
  def probeTopKBatch(queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nprobe: Int = 4): DataFrame = {
    val q = broadcast(queries.select(col(qidCol).cast("long").as("__qid"),
      col(qvecCol).as("__qvec")))
    val w = Window.partitionBy(col("__qid"))
      .orderBy(col("__d").asc_nulls_last, col("__cid").asc)
    val probed = cents.frame.crossJoin(q)
      .select(col("__qid"), col("__cid"),
        array_cosine_distance(col("__cvec"), col("__qvec")).as("__d"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= nprobe)
      .select(col("__qid"), col("__cid").as("__probe_cid"))
    assigned
      .join(broadcast(probed.join(q, Seq("__qid"))),
        col("__centroid") === col("__probe_cid"))
      .select(col("__qid"), struct(
        array_cosine_distance(col(vecCol), col("__qvec")).as("score"),
        col(idCol).cast("long").as("id")).as("__sv"))
      .groupBy(col("__qid"))
      .agg(graft.functions.topk_by_score(col("__sv"), k).as("__hits"))
      .select(col("__qid"), posexplode(col("__hits")))
      .select(col("__qid").as(qidCol), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as(idCol), col("col.score").as("cos_dist"))
  }

  /** Recall@k of the IVF probe against exact brute force, per query: the
    * standard ANN quality gauge (how many of the true top-k the nprobe-bucket
    * scan recovered). Both sides run batched — the probe through
    * [[probeTopKBatch]], the truth through
    * [[SimilarityJoin.bruteForceTopKBatch]] (one exhaustive scan for the
    * whole query table; eval-tier cost by design — run it on a SAMPLED query
    * set to tune nprobe, not on production traffic). Output
    * `(qidCol, n_hits, recall)`, recall = |probe ∩ truth| / k, one row per
    * query even at zero hits.
    */
  def recallAtK(queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nprobe: Int = 4): DataFrame = {
    val probe = probeTopKBatch(queries, qidCol, qvecCol, k, nprobe)
      .select(col(qidCol), col(idCol))
    val truth = SimilarityJoin.bruteForceTopKBatch(
        assigned, idCol, vecCol, queries, qidCol, qvecCol, k)
      .select(col(qidCol), col(idCol))
    val hits = probe.join(truth, Seq(qidCol, idCol))
      .groupBy(col(qidCol)).agg(count(lit(1)).as("n_hits"))
    queries.select(col(qidCol).cast("long").as(qidCol)).distinct()
      .join(hits, Seq(qidCol), "left")
      .select(col(qidCol), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) / lit(k.toDouble)).as("recall"))
  }
}

object AnnIndex {
  import CentroidStore.{Centroids, Store, assignedTo, centroidsOf}

  /** Materialize the IVF index as parquet PARTITIONED BY centroid bucket —
    * the build-once / probe-many shape IVF exists for. The store's
    * self-description is written first ([[Store]]: the centroid table,
    * written by Spark, and a header naming the stride and the bucket
    * schema); the store is then opened as every later open, append and
    * delete opens it, and `df` is written straight into its bucket
    * directories, one file per bucket ([[IndexManifests.appendBuckets]]),
    * so `stride` doubles as the file-granularity knob; a fresh store has
    * nothing pending. Ids must be unique: each input row is one stored row.
    */
  def materialize(df: DataFrame, idCol: String, vecCol: String,
      stride: Int, path: String): Unit = {
    val spark = df.sparkSession
    IndexFiles.deleteRecursive(spark, path)
    val schema = StructType(df.select(col(idCol), col(vecCol)).schema
      .map(_.copy(nullable = true)) :+ StructField("__centroid", LongType))
    val s = Store.write(centroidsOf(df, idCol, vecCol, stride), Seq("stride" -> stride),
      schema, vecCol, path)
    // fail before any bucket is written: a store of NULL buckets
    if (s.bytes == 0) IndexFiles.deleteRecursive(spark, path)
    require(s.bytes > 0, s"no centroids: no $idCol divisible by stride $stride")
    IndexManifests.appendBuckets(assignedTo(df, idCol, vecCol, s.centroids), path, "__centroid")
  }

  /** Open a [[materialize]]d index from its path: the store's header and
    * (within [[SizeRoute.IvfCentroidBytes]]) its centroid table are read
    * once into the handle, with no Spark job, and `stride` must match the
    * header. A store without the header must be re-materialized. `df` is
    * unread: it stays in the signature only because the `graftbench/`
    * harness compiles against it, and leaves with a change to that harness.
    */
  def fromMaterialized(df: DataFrame, idCol: String, vecCol: String,
      stride: Int, path: String): AnnIndex = {
    val s = open(df.sparkSession, path, vecCol, stride, "opened")
    new AnnIndex(() => s.all, s.centroids, Some(s), idCol, vecCol)
  }

  /** Append a NEW vector batch to a [[materialize]]d index: the batch is
    * assigned against the store's centroid table and, when it fits the
    * [[SizeRoute.PendingRows]] bound beside what is pending, written as one
    * delta file that the manifest lists; no bucket directory is read or
    * written ([[IndexManifests.appendRows]]). A re-inserted deleted id
    * folds the pending writes first, and a larger batch is appended to its
    * bucket directories. Probes see old + new immediately. Appended vectors
    * never become centroids (the standard IVF contract); re-materialize to
    * re-balance after heavy growth.
    */
  def appendToMaterialized(batch: DataFrame, idCol: String,
      vecCol: String, stride: Int, path: String): Unit =
      IndexFiles.withWriterLease(batch.sparkSession, path, "ann-append") {
    val s = open(batch.sparkSession, path, vecCol, stride, "appending")
    IndexManifests.appendRows(batch.select(col(idCol), col(vecCol)), idCol, path, "__centroid",
      idCol, Some(s.schema))(assignedTo(_, idCol, vecCol, s.centroids))
  }

  /** Batch DELETE from a [[materialize]]d index — the removal half of the
    * maintenance trio (append grows, compact re-files, this removes;
    * takedowns and dedup removals otherwise force a re-materialize).
    * EXACT, and trivially so for IVF: the index stores only assigned rows,
    * so a delete removes the deleted ids' rows and nothing else —
    * row-identical to materializing over the reduced corpus. The batch's
    * buckets are recovered by REPLAYING the assignment against the stored
    * centroid table in the one job that collects the `(id, bucket)` pairs;
    * [[IndexManifests.deleteRows]] records them as tombstones that every
    * read filters and the next fold applies, or, past
    * [[SizeRoute.PendingRows]], folds them into the touched buckets at
    * once. Deleting centroid-level ids is refused: it changes bucket
    * geometry — re-materialize instead. Single-writer, like every
    * materialized-index mutation.
    */
  def deleteFromMaterialized(batch: DataFrame, idCol: String,
      vecCol: String, stride: Int, path: String): Unit =
      IndexFiles.withWriterLease(batch.sparkSession, path, "ann-delete") {
    val s = open(batch.sparkSession, path, vecCol, stride, "deleting")
    IndexManifests.deleteRows(batch.sparkSession, path, "__centroid", idCol,
      assignedTo(batch.where(col(idCol).isNotNull), idCol, vecCol, s.centroids)
        .select(col(idCol).cast("long"), col("__centroid")),
      Some(s.schema), stride,
      s"batch contains centroid-level ids ($idCol divisible by $stride): " +
        "deleting centroids changes the bucket geometry — re-materialize instead")
  }

  /** Fold a [[materialize]]d index's pending appends and deletes into its
    * buckets ([[IndexManifests.fold]]), then compact its over-fragmented
    * buckets — the maintenance half of [[appendToMaterialized]], whose
    * folds and large batches grow each affected bucket directory by one
    * file forever (the small-files risk SCALING.md flags: at 100 TB a hot
    * bucket appended every 5 minutes is ~300 files/day, and probe-time
    * scan planning degrades with file count, not data size).
    *
    * Buckets whose parquet file count exceeds `maxFilesPerBucket` are
    * rewritten into ~`targetBytes` files; everything else keeps its
    * existing files byte-for-byte. Scale shape: ONE Spark job regardless
    * of how many buckets compact — the read is partition-pruned to the
    * affected buckets and the write uses DYNAMIC partition overwrite, so
    * only the rewritten bucket directories are replaced (never the whole
    * index, never a driver-side per-bucket loop of jobs). The driver does
    * one directory listing — metadata work proportional to file count,
    * which is exactly what this op exists to bound.
    *
    * Concurrent probes against the index during the swap see either the
    * old or new files of a bucket; appends should be paused around
    * compaction (same contract as re-materializing).
    *
    * Returns the compacted bucket ids (empty = nothing exceeded the
    * threshold — the call is a cheap no-op, safe on a maintenance timer).
    */
  def compactBuckets(spark: SparkSession, path: String,
      maxFilesPerBucket: Int = 8, targetBytes: Long = 128L << 20): Seq[Long] =
    IndexFiles.withWriterLease(spark, path, "ann-compact") {
      val schema = Store.header(spark, path)._2
      IndexManifests.fold(spark, path, "__centroid", schema.head.name, Some(schema))
      IndexManifests.compactTable(spark, path, "__centroid",
        maxFilesPerBucket, targetBytes)
    }

  /** Lloyd-refined centroids: start from the deterministic stride sample,
    * run `iters` rounds of (argmin assignment → per-cluster mean). Each
    * round is the index build's assignment kernel + two aggregates;
    * k-means|| would only change the INIT step.
    *
    * Deterministic and oracle-replicable by construction: fixed init, fixed
    * iteration count, empty clusters keep their previous centroid, and
    * every mean is rounded to a 1e-6 grid so last-ULP accumulation-order
    * drift (Spark partial aggregates vs a sequential engine) cannot flip a
    * downstream argmin. Output: (__cid, __cvec double array).
    */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
      stride: Int = 64, iters: Int = 2): DataFrame = {
    // the assignment's per-row parallelism must not inherit the INPUT's
    // file layout — shared rationale in
    // [[graft.util.Partitions.widenNarrowScan]]
    val vecs = graft.util.Partitions.widenNarrowScan(
      df.select(col(idCol), col(vecCol).cast("array<double>").as("__v")))
    var cents = centroidsOf(df, idCol, vecCol, stride)
      .select(col("__cid"), col("__cvec").cast("array<double>").as("__cvec"))
    for (_ <- 1 to iters) {
      val current = cents
      val assigned = assignedTo(vecs, idCol, "__v", new Centroids(() => current, None))
        .withColumnRenamed("__centroid", "__cid")
      // vector_sum: ONE shuffle of dim-length buffers; the posexplode
      // formulation this replaces shuffled |vectors|·dim rows twice and
      // sorted them back into arrays. round-to-1e-6 absorbs the same
      // accumulation-order ULP drift either way (sum/n == avg's sum/count).
      val means = assigned
        .groupBy(col("__cid"))
        .agg(graft.functions.vector_sum(col("__v")).as("__sum"),
          count(lit(1)).as("__n"))
        .select(col("__cid"),
          transform(col("__sum"), x => round(x / col("__n"), 6)).as("__mvec"))
      // empty clusters keep their previous centroid. LAZY persist (not
      // localCheckpoint) bounds the per-round plan doubling while keeping
      // the whole refinement in ONE job: each round's centroids cache on
      // first evaluation instead of paying an eager materialization job
      // per round (2 jobs saved at iters=2; measured 1.5s -> 1.1s).
      cents = cents.select(col("__cid"), col("__cvec").as("__prev"))
        .join(means, Seq("__cid"), "left")
        .select(col("__cid"), coalesce(col("__mvec"), col("__prev")).as("__cvec"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    cents
  }

  /** Build an IVF index over [[kmeansCentroids]] — same assignment and
    * probe machinery as [[build]], better-balanced buckets.
    */
  def buildKMeans(df: DataFrame, idCol: String, vecCol: String,
      stride: Int = 64, iters: Int = 2): AnnIndex =
    inMemory(df, idCol, vecCol, kmeansCentroids(df, idCol, vecCol, stride, iters))

  /** Build the IVF index. `stride` controls centroid count (~n/stride). */
  def build(df: DataFrame, idCol: String, vecCol: String,
      stride: Int = 64): AnnIndex =
    // fully lazy: no Spark job at build time. An empty centroid set (no id
    // divisible by `stride`) makes every probe return empty — pick a stride
    // <= max id, or validate eagerly at the call site if that risk is live.
    inMemory(df, idCol, vecCol, centroidsOf(df, idCol, vecCol, stride))

  private def inMemory(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): AnnIndex = {
    val cents = new Centroids(() => centroids, None)
    new AnnIndex(() => assignedTo(df, idCol, vecCol, cents),
      cents, None, idCol, vecCol)
  }

  /** `batch`'s `(idCol, __centroid)` rows replayed against the IVF store at
    * `path`: the rows [[materialize]] files there for those ids, so an
    * IVF-PQ code table stays bucket-consistent with its companion store.
    */
  private[ops] def storedAssignment(batch: DataFrame, idCol: String,
      vecCol: String, stride: Int, path: String): DataFrame =
    assignedTo(batch, idCol, vecCol,
      open(batch.sparkSession, path, vecCol, stride, "assigning").centroids)
      .select(col(idCol), col("__centroid"))

  private def open(spark: SparkSession, path: String, vecCol: String, stride: Int,
      verb: String): Store =
    Store.open(spark, path, vecCol, Seq("stride" -> stride), verb)
}
