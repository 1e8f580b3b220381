package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph centrality over the near-duplicate pair graph — the curation use
  * is CANONICAL REPRESENTATIVE selection: instead of keeping the min-id
  * doc of each dedup cluster (Dedup.survivors), keep the most CENTRAL one
  * (the doc most similar to the rest of its family — typically the
  * cleanest copy of a boilerplate/mirror cluster, while min-id is an
  * arbitrary crawl accident).
  *
  * PageRank here is INTEGER-EXACT: ranks live in fixed-point units
  * (micro-units by default) and every step is integer arithmetic —
  * `rank DIV deg` per-edge contributions, integer damping
  * `(inflow * dampNum) DIV dampDen` — so the result is independent of
  * shuffle/accumulation order and bit-identical across engines (the
  * lineitem_moments / PQ integer-distance-table rule). With float ranks a
  * 1000-executor sum order would drift; with integers the oracle can
  * replay every iteration exactly.
  *
  * Scale shape: each iteration is ONE shuffle (the inflow aggregate on
  * dst); the adjacency (edges ⋈ degree) is computed once and persisted.
  * Rank state is |V| longs — never corpus-row-sized. Iteration count is a
  * fixed small constant (PageRank on near-dup families converges in a few
  * rounds; families are small-diameter). Overflow headroom: total rank
  * mass is |V|·unit ≤ 1e10·1e6 = 1e16, well inside int64.
  */
object Centrality {

  /** Fixed-point PageRank over an undirected pair graph.
    *
    * DETERMINISM CONTRACT (applies to every lazy-returning entry point in
    * this object): the returned plan re-reads the retired adjacency pin at
    * the CALLER'S materialization, and a Spark cache is best-effort — if
    * the pin was evicted (FixpointPin's bounded LRU, memory pressure), the
    * pairs input RECOMPUTES. A deterministic input recomputes to the same
    * rows (slower, never wrong); a non-deterministic one (sampled,
    * shuffled-limit, clock-dependent) can make the eagerly-labeled
    * components and the lazily-read ranks disagree. Pass deterministic
    * pair frames, or snapshot (localCheckpoint/write) non-deterministic
    * ones first — the same requirement Spark itself places on cached
    * non-deterministic plans.
    *
    * Size route: a long-id adjacency of at most [[SizeRoute.PageRankRows]]
    * rows runs the rank loop on the driver ([[SizeRoute.driverRows]]),
    * bit-identical by construction; CentralitySpec holds the differential.
    *
    * @param pairs  unique undirected pairs, `aCol < bCol` per row (the
    *               dedup-pair contract); vertices are the docs that appear
    *               in at least one pair; must be DETERMINISTIC (above)
    * @param iters  fixed iteration count (replayed by oracles)
    * @param unit   fixed-point scale of the initial rank (1.0 == unit)
    * @return (id, pr) — rank in integer units after `iters` rounds
    */
  def pageRankInt(pairs: DataFrame, aCol: String, bCol: String, iters: Int,
      unit: Long = 1000000L, dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
    require(iters >= 1, s"need at least one iteration: $iters")
    require((unit * (dampDen - dampNum)) % dampDen == 0,
      s"teleport base must be integer-exact: $unit * ($dampDen - $dampNum) / $dampDen")
    val base = unit * (dampDen - dampNum) / dampDen
    // adjacency with out-degree attached: read `iters` times — persist
    // once, PRE-PARTITIONED on the per-iteration join key so the cached
    // exchange satisfies every round's join and only the node-sized rank
    // side shuffles per iteration. The repartition comes FIRST and both
    // the degree aggregate and the join derive from it: hash(src)
    // satisfies the aggregate's distribution AND the join's, and the two
    // scans of the repartitioned subtree are one ReusedExchange — so the
    // build pays exactly ONE |E| exchange in every regime. The r13 shape
    // (join THEN repartition) paid a redundant second |E| exchange
    // whenever deg was too big to broadcast (the measured 23.2→33.0 s
    // regression at the 50× ScaleSmoke rung), while dropping the
    // repartition entirely (the r10 shape) left the cache unpartitioned
    // whenever deg DID broadcast — |E| re-shuffled every round at the
    // small rungs. This shape is the best of both, unconditionally.
    // The pin is SIZE-ROUTED (FixpointPin): persist when the caller
    // lineage is shallow (lazy + cached stats — the gate-scale winner by
    // ~1.3 s), localCheckpoint when it is deep (truncation keeps a deep
    // shingle-pipeline lineage out of every round's task binaries — the
    // 50×-ladder winner by ~25 s; the LogicalRDD keeps hash(src)). The
    // persist branch RETIRES into FixpointPin's bounded LRU instead of
    // leaking a CacheManager entry per call (per-epoch callers) — and
    // instead of eager-pinning the RESULT, which re-added an extra
    // driver-blocking job per call on top of the size-route count below
    // (measured in the r16 bench: pagerank_centrality 2.0→3.2 s before
    // this shape). Note the r19 size route DOES pay one eager count job
    // per call unconditionally — also in the large-graph distributed
    // regime, where it is pure cache-warming of a pin every round reads
    // anyway (the adjacency materializes once either way). The
    // returned rank plan stays LAZY and reads the still-alive cache at
    // the caller's one materialization; the cache unpersists only after
    // MaxRetired newer pins (long past the consuming query). The
    // checkpoint branch needs none of this: ContextCleaner frees its
    // blocks on GC. (Dedup.components differs: its per-round labels are
    // already eagerly checkpointed, so it unpersists its pin directly.)
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .repartition(col("src"))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val (adj, persisted) = FixpointPin.pinScoped(edges.join(deg, "src"))
    // size route (Scaladoc above): the pinned adjacency is consumed every
    // round anyway — the route's one job materializes it, and a small
    // graph comes back with it to replay the integer loop on the driver
    val small = SizeRoute.driverRows(adj, SizeRoute.PageRankRows)
    if (small.isDefined) {
      val rows = small.get
      if (persisted) FixpointPin.retire(adj)
      var cur = new java.util.HashMap[Long, Long]()
      rows.foreach(r => cur.put(r.getLong(0), unit))
      var it = 0
      while (it < iters) {
        val inflow = new java.util.HashMap[Long, Long](cur.size * 2)
        rows.foreach { r =>
          if (cur.containsKey(r.getLong(0)))
            inflow.put(r.getLong(1),
              inflow.getOrDefault(r.getLong(1), 0L) +
                cur.get(r.getLong(0)) / r.getLong(2))
        }
        val next = new java.util.HashMap[Long, Long](inflow.size * 2)
        inflow.forEach((k, v) => next.put(k, base + (v * dampNum) / dampDen))
        cur = next
        it += 1
      }
      import scala.jdk.CollectionConverters._
      val out = cur.entrySet().asScala.iterator
        .map(e => (e.getKey.longValue(), e.getValue.longValue())).toSeq
      return pairs.sparkSession.createDataFrame(out).toDF("id", "pr")
    }
    var ranks = deg.select(col("src").as("id"), lit(unit).as("pr"))
    (1 to iters).foreach { _ =>
      val inflow = adj.join(ranks, adj("src") === ranks("id"))
        .select(col("dst"), expr("pr DIV deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      ranks = inflow.select(col("dst").as("id"),
        (lit(base) + expr(s"(inflow * $dampNum) DIV $dampDen")).as("pr"))
    }
    if (persisted) FixpointPin.retire(adj)
    ranks.select(col("id"), col("pr").cast("long").as("pr"))
  }

  /** The most central doc of each near-dup cluster: connected components
    * over the pair graph (Dedup.components) joined to [[pageRankInt]],
    * argmax per component by (pr desc, id asc). Output
    * `(component, doc_id, pr)` — one row per cluster.
    */
  def centralRepresentatives(pairs: DataFrame, aCol: String, bCol: String,
      iters: Int, unit: Long = 1000000L, dampNum: Long = 85,
      dampDen: Long = 100): DataFrame = {
    // both consumers iterate over the pair graph; evaluate the (typically
    // expensive — e.g. a shingle join) pair input ONCE. The pin retires
    // into FixpointPin's bounded LRU: the returned plan stays LAZY (an
    // eager pin here cost the composite gates 0.5–1.7 s of extra
    // materialization jobs in the r16 bench) while per-epoch callers still
    // cannot leak a cache entry per call.
    val p = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = centralRepsOn(p, iters, unit, dampNum, dampDen)
    FixpointPin.retire(p)
    out
  }

  /** [[centralRepresentatives]] over an already-pinned `(a, b)` pair frame —
    * both fixpoints (components + PageRank) read the SAME pinned pair set,
    * so a composing caller ([[survivorsByCentrality]]) evaluates the pair
    * derivation once for everything it needs. Lazy; the caller owns the
    * pin's lifecycle.
    */
  private def centralRepsOn(p: DataFrame, iters: Int, unit: Long,
      dampNum: Long, dampDen: Long): DataFrame = {
    val comp = Dedup.components(p, "doc_id")
    val pr = pageRankInt(p, "a", "b", iters, unit, dampNum, dampDen)
    val w = Window.partitionBy(col("component"))
      .orderBy(col("pr").desc, col("doc_id").asc)
    comp.join(pr, comp("doc_id") === pr("id"))
      .select(col("component"), col("doc_id"), col("pr"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .drop("rn")
  }

  /** Centrality-policy dedup: from `universe`, keep every doc that is in
    * no near-dup pair (singletons, via anti-join — never materializing
    * the complement) plus the ONE most central doc of each cluster.
    * This is `Dedup.survivors` with "keep the canonical copy" in place of
    * "keep the min id". Output: `idCol` only.
    */
  def survivorsByCentrality(universe: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String, iters: Int,
      unit: Long = 1000000L, dampNum: Long = 85, dampDen: Long = 100)
      : DataFrame = {
    val p = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one pinned pair set feeds all three consumers (components fixpoint,
    // PageRank fixpoint, member set) — before r16 this re-persisted inside
    // centralRepresentatives, paying a second cache of the same pairs.
    // Like centralRepresentatives the plan stays LAZY and the pin retires
    // into the bounded LRU (the eager reps/members checkpoints this
    // carried briefly cost the gate 4.5 s vs r15's 2.8 s in the r16
    // bench — two extra materialization jobs of the whole pair pipeline).
    val reps = centralRepsOn(p, iters, unit, dampNum, dampDen)
      .select(col("doc_id").as(idCol))
    val members = p.select(col("a").as(idCol))
      .union(p.select(col("b").as(idCol)))
      .distinct()
    FixpointPin.retire(p)
    universe.select(col(idCol))
      .join(members, Seq(idCol), "left_anti")
      .unionAll(reps)
  }
}
