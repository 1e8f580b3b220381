package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}

import graft.functions.{array_cosine_distance, cosine_distances}

/** Graph-based ANN — the navigable-graph tier of the reference's voyager
  * (HNSW) dependency (cobalt-duckdb requirements.txt:31-33,
  * model/search/vector.py:96): sub-linear probes that follow neighbor
  * links toward the query instead of scanning whole buckets, so recall
  * does not fall off a bucket boundary the way a pure IVF prune can.
  *
  * HNSW itself is an insertion-order-sequential structure — the wrong
  * shape for a distributed, deterministic, replayable build. This is the
  * same capability re-derived for Spark's execution model:
  *
  *  - **Build** (once, corpus-sized, all DataFrame plans): assign vectors
  *    to their nearest stride centroid by the IVF store's rule
  *    ([[CentroidStore.assignedTo]]: `cosine_argmin` against one row of
  *    every centroid — no shuffle; a materialized graph assigns against
  *    the centroid table its `assign/` store holds), then take each
  *    vector's `degree` nearest bucket-mates as its out-edges plus each
  *    centroid's `degree` nearest centroids. Both levels run ONE codegen'd
  *    kernel, `cosine_topk`: a node scores its candidates from a row of
  *    index-aligned `(ids, vecs)` arrays — its own bucket's row for
  *    members (one shuffle groups each bucket into one row, spread over
  *    every core), one broadcast row of all centroids for the top level —
  *    and keeps the top `degree`. That is Σ bucket² distance evaluations
  *    (the LSH-join cost class, never all-pairs) with no pair explosion
  *    and no sort. The result is one bounded-degree edge table:
  *    ≤ degree·(n + n/stride) rows of two longs. Centroids are corpus rows,
  *    so the two edge families share one id space and the centroid layer
  *    is the navigable "upper level": centroid→centroid links move across
  *    the space, centroid→member links descend into a neighborhood.
  *
  *  - **Probe** (one driver loop, [[probeLoop]], behind every entry point;
  *    at most `rounds` best-first rounds): start from the `beam` centroids
  *    nearest the query, expand the best `beam` visited-but-unexpanded
  *    nodes' out-edges, score the newly reached vectors against the query
  *    with the engine's distance expression (on a store, read off the
  *    stored dst vectors of whole bucket partitions — never a corpus
  *    scan), and stop once the current top-k is fully expanded. The beam
  *    state lives in driver maps of ≤ beam + beam·degree·rounds pairs per
  *    query; total vectors scored ≈ beam·degree·rounds, so at 100 TB the
  *    probe cost is independent of corpus size once the edge table is
  *    built. A batch of queries runs the same loop over chunks of queries.
  *
  * Everything is deterministic and engine-replayable: fixed stride
  * centroids, (distance, id)-ordered neighbor ranking, fixed round count,
  * min-distance dedup of the visited set — so the whole structure sits
  * under the DuckDB hash gate (`ann_graph_topk`), not just a recall spec.
  */
object GraphAnn {
  import CentroidStore.{Centroids, Store, assignedTo, candidates, centroidsOf, nearestIn}

  /** Shared probe defaults — interpolated into the SQL oracle so the two
    * engines can never drift. beam·degree·rounds ≈ the number of vectors a
    * probe scores; the defaults land that near an IVF nprobe=4 scan on the
    * test corpus so the two tiers are cost-comparable.
    */
  val DefaultDegree = 8
  val DefaultBeam = 16
  val DefaultRounds = 4

  /** Index-aligned candidate arrays `(__ids, __vecs)` over the nodes
    * `(__nid, __nv)`: one row per `key` value, or one row of every node
    * when no key is given. ONE `collect_list` of structs builds both, so a
    * NULL id or vector keeps its slot (two `collect_list`s would drop it
    * and misalign the arrays).
    */
  private def candidateArrays(nodes: DataFrame, key: String*): DataFrame = {
    val m = collect_list(struct(col("__nid"), col("__nv"))).as("__m")
    (if (key.isEmpty) nodes.agg(m) else nodes.groupBy(key.map(col): _*).agg(m))
      .select(key.map(col) :+ col("__m.__nid").as("__ids")
        :+ col("__m.__nv").as("__vecs"): _*)
  }

  /** The member assignment `(__nid, __nv, __centroid)` of `df`'s rows
    * against `cents` by the struct-min rule ([[CentroidStore.assignedTo]]).
    * Flat (`superStride <= 0`): the nearest centroid, every row scoring
    * every centroid. Tiered: the nearest super-centroid (a centroid whose
    * id divides by `superStride`), then the same rule among the centroids
    * that themselves file under that super. The bucket's centroids ride as
    * one broadcast candidate row per super ([[CentroidStore.candidates]]),
    * so the join never explodes members × candidates; broadcast is
    * load-bearing, since a sort-merge fallback would route every member of
    * a super bucket into ONE task. Build, append and delete all assign
    * here. One row per input row.
    */
  private def assigned(df: DataFrame, idCol: String, vecCol: String,
      cents: Centroids, superStride: Int): DataFrame = {
    val rows = df.select(col(idCol).cast("long").as("__nid"), col(vecCol).as("__nv"))
    if (superStride <= 0) assignedTo(rows, "__nid", "__nv", cents)
    else {
      val supers = cents.every(superStride)
      val buckets = candidates(assignedTo(cents.frame, "__cid", "__cvec", supers)
        .withColumnRenamed("__centroid", "__s"), "__s")
      assignedTo(rows, "__nid", "__nv", supers)
        .withColumnRenamed("__centroid", "__s")
        .join(broadcast(buckets), Seq("__s"))
        .select(col("__nid"), col("__nv"), nearestIn(col("__nv")).as("__centroid"))
    }
  }

  /** Centroid nodes `(__nid, __nv)` of a `(__cid, __cvec)` frame. */
  private def nodes(cents: DataFrame): DataFrame =
    cents.select(col("__cid").as("__nid"), col("__cvec").as("__nv"))

  /** An append's or a delete's first step: the store at `path`, and
    * `batch`'s member assignment against it — the rule the build filed its
    * rows by, batch-sized and pinned — with the buckets it touches
    * (bounded by the batch size). Centroid-level ids are refused: they
    * would change the bucket geometry.
    */
  private def replayed(batch: DataFrame, idCol: String, vecCol: String, stride: Int,
      degree: Int, path: String, superStride: Int, verb: String): (Store, DataFrame, Seq[Long]) = {
    val s = open(batch.sparkSession, path, stride, degree, superStride, verb)
    require(batch.where(pmod(col(idCol), lit(stride)) === 0).isEmpty,
      s"batch contains centroid-level ids ($idCol divisible by $stride): " +
        s"$verb centroids changes the bucket geometry — re-materialize instead")
    val members = assigned(batch, idCol, vecCol, s.centroids, superStride).localCheckpoint()
    (s, members, members.select(col("__centroid")).distinct().collect().map(_.getLong(0)).toSeq)
  }

  /** The one kNN kernel of the build: each row's node `(__nid, __nv)`
    * keeps its `degree` nearest candidates of `(__ids, __vecs)` (itself
    * excluded; ties → lowest dst id) as edges `(src, dst, __dstv)`, the
    * dst vector read off the candidate array. `keep` columns ride along.
    */
  private def knnEdges(rows: DataFrame, degree: Int, keep: String*): DataFrame =
    rows.select(Seq(col("__nid").as("src"), col("__vecs")) ++ keep.map(col) :+
        explode(graft.functions.cosine_topk(col("__nv"), col("__nid"),
          col("__ids"), col("__vecs"), degree)).as("__e"): _*)
      .select(Seq(col("src"), col("__e.dst").as("dst"),
        col("__vecs")(col("__e.idx")).as(DstVecCol)) ++ keep.map(col): _*)

  /** degree-NN edges within each bucket of an assignment `(__nid, __nv,
    * __centroid)`, keeping src's bucket as `__bucket` — the materialized
    * layout partitions member-level edges by it so an incremental insert
    * can replace ONLY touched bucket partitions. One shuffle groups each
    * bucket into its own candidate row on an explicit-count partitioning
    * (AQE leaves it at the core count), and the row's members are exploded
    * back out of its arrays, so a member meets only its own bucket: Σ
    * bucket² distance evaluations, the same cost class as every
    * banded/bucketed join in this repo, never n², and nothing corpus-sized
    * on the driver. The build and [[deleteFromMaterialized]] share it.
    */
  private def bucketKnnEdges(assigned: DataFrame, degree: Int): DataFrame = {
    val cores = assigned.sparkSession.sparkContext.defaultParallelism
    val buckets = candidateArrays(
      assigned.repartition(cores, col("__centroid")), "__centroid")
    knnEdges(buckets
        .select(col("__centroid").as(BucketCol), col("__ids"), col("__vecs"),
          posexplode(col("__ids")).as(Seq("__i", "__nid")))
        .withColumn("__nv", col("__vecs")(col("__i"))),
      degree, BucketCol)
  }

  /** Exact degree-NN among a (small, broadcastable) node set `(__cid,
    * __cvec)` — the top navigable layer, scored from one candidate row of
    * every node. Quadratic in the layer's node count BY DESIGN: only ever
    * applied to a layer whose size the caller bounds (all centroids in the
    * flat build; super-centroids in the tiered build).
    */
  private def exactKnnEdges(cents: DataFrame, degree: Int): DataFrame = {
    val n = nodes(cents)
    knnEdges(n.crossJoin(broadcast(candidateArrays(n))), degree)
  }

  /** The bounded-degree edge table `(src, dst)`: per vector its `degree`
    * nearest bucket-mates, per centroid its `degree` nearest centroids.
    *
    * With `superStride = 0` (the default, and the shape the
    * `ann_graph_topk` oracle replays) assignment is exact — every vector
    * scores every centroid (n · n/stride evaluations) and the centroid
    * layer is an exact centroid² kNN. Fine while `n/stride` is
    * broadcast-sized, but QUADRATIC in n at a fixed stride (measured: the
    * 50× ScaleSmoke build row).
    *
    * `superStride > 0` (a multiple of `stride`) builds the HNSW-style
    * three-level structure with HIERARCHICAL assignment instead: every
    * vector scores only the `n/superStride` super-centroids, then only
    * the ~`superStride/stride` centroids of its super bucket —
    * n·(n/superStride + superStride/stride) evaluations, subquadratic for
    * any reasonable superStride, at the standard IVF-tree approximation
    * (a boundary vector may land in the second-best bucket; the recall
    * contract is the spec's parity-class gate, and the beam search
    * recovers across buckets by construction). The centroid level gets
    * its kNN within super buckets (Σ bucket² again); only the
    * super-centroids — bounded by construction — pay the exact quadratic
    * kNN. Every level shares the one id space (a super-centroid IS a
    * centroid IS a corpus row), so the probe is unchanged: beam search
    * just follows edges.
    *
    * Input contract: ids are unique. A duplicated id is one node per row
    * (each row assigned and ranked on its own, never linked to a row of
    * the same id). Every level assigns by the IVF store's struct-min rule
    * ([[CentroidStore.assignedTo]]): a row whose vector is NULL or holds a
    * NULL element, or whose every distance is NaN, files under the lowest
    * candidate id — the lowest centroid flat, the lowest super and then
    * the lowest centroid of its bucket tiered — and a candidate whose
    * vector is NULL or holds a NULL element takes every other row (the
    * lowest such candidate). Inserts and deletes replay the same rule.
    */
  def buildEdges(df: DataFrame, idCol: String, vecCol: String,
      stride: Int, degree: Int = DefaultDegree,
      superStride: Int = 0): DataFrame = {
    requireTiers(stride, superStride)
    val (member, upper, _) = levels(df, idCol, vecCol, stride, degree, superStride,
      new Centroids(() => centroidsOf(df, idCol, vecCol, stride), None))(identity)
    member.select(col("src"), col("dst"))
      .union(upper.select(col("src"), col("dst")))
  }

  /** The build decomposed by level — member edges `(src, dst, __dstv,
    * __bucket)`, the upper (centroid/super) levels `(src, dst, __dstv)`,
    * and the member assignment against `cents` (the stride centroids),
    * which `pin` pins once before it feeds the bucket arrays, the kernel
    * and the caller — so [[materialize]] can lay the artifact out for
    * incremental maintenance while [[buildEdges]] keeps its flat union
    * shape. The upper levels' nodes are `df`'s own rows, so their stored
    * vectors are verbatim.
    */
  private def levels(df: DataFrame, idCol: String, vecCol: String,
      stride: Int, degree: Int, superStride: Int, cents: Centroids)(
      pin: DataFrame => DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // with no id divisible by superStride the hierarchical assignment
    // would be empty and the build would silently emit NO member-level
    // edges — a degenerate index, not an error (r8 ADVICE)
    require(superStride <= 0 || !cents.every(superStride).frame.isEmpty,
      s"no super-centroids: no $idCol divisible by superStride $superStride")
    val centNodes = centroidsOf(df, idCol, vecCol, stride)
    val members = pin(assigned(df, idCol, vecCol, cents, superStride))
    if (superStride <= 0)
      (bucketKnnEdges(members, degree), exactKnnEdges(centNodes, degree), members)
    else {
      // the centroid level's kNN runs within each super's bucket
      // (centroids × supers — the small side of the hierarchy)
      val centSupers = assignedTo(nodes(centNodes), "__nid", "__nv", cents.every(superStride))
      // the families are disjoint (a node of each level is its own
      // bucket's centroid at that level), so plain unions need no
      // distinct() exchange
      (bucketKnnEdges(members, degree),
        bucketKnnEdges(centSupers, degree).drop(BucketCol)
          .union(exactKnnEdges(centroidsOf(df, idCol, vecCol, superStride), degree)),
        members)
    }
  }

  private def requireTiers(stride: Int, superStride: Int): Unit =
    require(superStride <= 0 || (superStride > stride && superStride % stride == 0),
      s"superStride $superStride must be a multiple of stride $stride above it")

  /** The stored shape of the edge table, so its pruned reads infer no
    * schema — also the shape of a table whose every bucket was dropped or
    * never written (zero parquet files, nothing to infer from). `vecType`
    * is the corpus vector column's type, which the stored `__dstv` column
    * carries verbatim.
    */
  private def edgesSchema(vecType: DataType) = Some(StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType),
    StructField(DstVecCol, vecType), StructField("__bucket", LongType))))

  /** Neighbor-vector column of a VECTOR-ADJACENT materialized edge table
    * (see [[materialize]]); [[bucketExpansion]] scores it per query.
    */
  private[graft] val DstVecCol = "__dstv"

  /** Bucket column of a [[fromMaterialized]] frame (NULL on centroid-level
    * rows); the driver probe loop ([[probeLoop]]) routes on its presence.
    */
  private[graft] val BucketCol = "__bucket"

  /** Materialize the edge table as parquet (build once / probe many). The
    * member assignment `assign/` is a self-describing store
    * ([[CentroidStore.Store]], written first): its header carries the
    * geometry (stride, degree, superStride), so a reopen with a different one
    * fails fast, and its centroid table is what the build, append and delete
    * assign against. Edges are stored VECTOR-ADJACENT — each (src, dst) row
    * carries dst's vector, the classic HNSW memory layout (neighbor vectors
    * live with the links): a probe reads the reached neighbors AND their
    * query distances off the edge artifact, never touching the corpus table
    * after the entry beam. Member-level edges are partitioned by src's bucket
    * and never leave it, so [[pointProbeTopK]] loads whole bucket partitions
    * by partition pruning on `__bucket` — a `src IN (frontier)` predicate
    * prunes nothing here, since a bucket's src ids are scattered over the id
    * range of every file. Storage is degree·(n + n/stride) rows × (2 longs +
    * one vector): the artifact trades `degree` copies of each vector for
    * locality, exactly as an in-process HNSW trades memory for it. The input
    * contract is [[buildEdges]]'s.
    */
  def materialize(df: DataFrame, idCol: String, vecCol: String,
      stride: Int, degree: Int, path: String, superStride: Int = 0): Unit = {
    requireTiers(stride, superStride)
    val spark = df.sparkSession
    val assign = s"$path/assign"
    IndexFiles.deleteRecursive(spark, assign)
    val s = Store.write(centroidsOf(df, idCol, vecCol, stride),
      geometry(stride, degree, superStride), StructType(Seq(StructField("__nid", LongType),
        StructField("__nv", df.schema(vecCol).dataType), StructField("__centroid", LongType))),
      "__nv", assign)
    if (s.bytes == 0) IndexFiles.deleteRecursive(spark, assign)
    require(s.bytes > 0, s"no centroids: no $idCol divisible by stride $stride")
    // the assignment is pinned once: it feeds the bucket arrays, the
    // kernel and the assign/ write
    val (member, upper, assigned) =
      levels(df, idCol, vecCol, stride, degree, superStride, s.centroids)(_.persist())
    try {
      // Member-level edges are PARTITIONED BY SRC'S BUCKET: an incremental
      // insert ([[appendToMaterialized]]) touches only the buckets the
      // batch lands in, so it can replace exactly those partitions (dynamic
      // partition overwrite) and never rewrite the at-rest remainder. The
      // upper (centroid/super) levels change only on a re-materialize —
      // they live in their own small table. writeBuckets spreads the
      // bucket writes over every core with one file per bucket directory,
      // so the listing/footer cost of every later bucket-pruned read (and
      // of the probes) stays proportional to bucket count.
      IndexManifests.writeBuckets(member, s"$path/edges", "__bucket")
      upper.write.mode("overwrite").parquet(s"$path/cedges")
      // the member ASSIGNMENT rides along in the store, bucket-partitioned
      // (the IVF layout): an insert must see a touched bucket's existing
      // members (vectors included) without scanning the corpus — a
      // bucket-pruned read of this table is exactly that
      IndexManifests.appendBuckets(assigned, assign, "__centroid")
    } finally assigned.unpersist()
  }

  private def geometry(stride: Int, degree: Int, superStride: Int): Seq[(String, Int)] =
    Seq("stride" -> stride, "degree" -> degree, "superStride" -> math.max(superStride, 0))

  /** The graph store at `path`: its `assign/` table, whose header geometry
    * must be the caller's. A graph written before the header existed must
    * be re-materialized.
    */
  private def open(spark: SparkSession, path: String, stride: Int, degree: Int,
      superStride: Int, verb: String): Store =
    Store.open(spark, s"$path/assign", "__nv", geometry(stride, degree, superStride), verb)

  /** Open a [[materialize]]d edge table; the stored geometry is
    * authoritative and checked against the caller's expectation. Probes
    * see one `(src, dst, __dstv, __bucket)` frame: member-level rows carry
    * their src's bucket (the partition key, which is also dst's bucket —
    * member edges never leave their bucket), centroid-level rows a NULL
    * bucket. The probe loop ([[pointProbeTopK]], [[beamSearchTopKBatch]])
    * routes on that column and expands the store bucket by bucket.
    */
  def fromMaterialized(spark: SparkSession, path: String,
      stride: Int, degree: Int, superStride: Int = 0): DataFrame = {
    open(spark, path, stride, degree, superStride, "opened")
    val cedges = spark.read.parquet(s"$path/cedges")
      .select(col("src"), col("dst"), col(DstVecCol),
        lit(null).cast("long").as(BucketCol))
    // a fully-DRAINED member table (every bucket single-member after a
    // takedown wave → zero bucket directories → zero parquet files) must
    // still open: schema inference over zero files throws, so serve the
    // typed-empty member side off the (always-present) centroid table's
    // schema — the same zero-file rule IndexManifests.readBuckets carries
    // for the maintenance reads (IndexDurabilitySpec drives the full
    // drain→reopen→regrow cycle)
    val member =
      if (IndexFiles.listSubdirs(spark, s"$path/edges", "__bucket=").isEmpty)
        cedges.where(lit(false))
      else spark.read.parquet(s"$path/edges")
        .select(col("src"), col("dst"), col(DstVecCol),
          col(BucketCol).cast("long"))
    member.unionAll(cedges)
  }

  /** Batch INSERT into a materialized graph — the incremental-maintenance
    * tier (the IVF index has had `annIngest`/`appendToMaterialized` since
    * r8; without this, a crawl batch forced a full bounded-degree edge
    * rebuild). EXACT: the updated artifact is row-identical to
    * re-materializing over the union corpus, because
    *
    *  - the batch is assigned against the centroid table the store holds
    *    (the same frozen-centroid contract as
    *    [[AnnIndex.appendToMaterialized]] — and the batch must not itself
    *    contain centroid-level ids, checked below), so assignments match
    *    the full rebuild's, under the [[buildEdges]] rule;
    *  - a full rebuild changes member edges ONLY inside buckets the batch
    *    lands in, and within a touched bucket an old node's new top-degree
    *    neighbors are a subset of {its stored top-degree neighbors} ∪
    *    {the bucket's new members} — any old candidate outside the stored
    *    top-degree already had `degree` closer old neighbors, which a
    *    superset cannot undo. So per touched bucket the insert ranks
    *    stored-edges ∪ (old member × new member) ∪ (new member × all
    *    members) candidates — batch×bucket work, never corpus×corpus —
    *    under the build's exact (distance, dst) tie-break;
    *  - the centroid-level table and untouched bucket partitions are not
    *    read or written at all.
    *
    * Storage mutation is two bucket-pruned writes: the batch's assignment
    * rows APPEND to `assign/`, and the recomputed touched-bucket edges
    * replace exactly those partitions of `edges/` (dynamic partition
    * overwrite). Single-writer per artifact, like every materialized-index
    * mutation here.
    *
    * TIERED geometry (`superStride > 0`, matching the stored header)
    * splices the same way: the upper (centroid-within-super + super-exact)
    * levels depend only on the centroid and super sets — both frozen, since
    * the batch may not contain ids divisible by `stride` (which covers
    * `superStride` multiples, a build-time invariant) — so `cedges/` is
    * untouched, and the batch's member assignment replays the build's
    * hierarchical rule against the stored centroids (nearest super, then
    * the nearest centroid of that super's bucket). A full tiered rebuild
    * over the union corpus computes the identical assignment for every old
    * row (frozen sets + order-independent tie-break), so the
    * per-touched-bucket subset argument above carries over verbatim.
    */
  def appendToMaterialized(batch: DataFrame, idCol: String,
      vecCol: String, stride: Int, degree: Int, path: String,
      superStride: Int = 0): Unit =
      IndexFiles.withWriterLease(batch.sparkSession, path, "graph-append") {
    val spark = batch.sparkSession
    // the pinned batch feeds both candidate joins and the assign append
    val (s, newMembers, touched) =
      replayed(batch, idCol, vecCol, stride, degree, path, superStride, "appending")
    if (touched.isEmpty) return
    // old members of touched buckets only: a bucket-PRUNED read of the
    // assignment table (manifest-listed directories), never a corpus scan
    val oldTouched = s.buckets(touched)
      .select(col("__nid"), col("__nv"), col("__centroid").cast("long"))
      .localCheckpoint()
    val newSide = newMembers.select(col("__centroid"),
      col("__nid").as("dst"), col("__nv").as("__vr"))
    // NEW srcs score every bucket-mate (old + new)
    val newSrcCand = newMembers.select(col("__centroid"),
        col("__nid").as("src"), col("__nv").as("__vl"))
      .join(oldTouched.select(col("__centroid"), col("__nid").as("dst"),
          col("__nv").as("__vr"))
        .unionAll(newSide), Seq("__centroid"))
      .where(col("src") =!= col("dst"))
    // OLD srcs in touched buckets score only the NEW bucket-mates ...
    val oldSrc = oldTouched.select(col("__centroid"),
      col("__nid").as("src"), col("__nv").as("__vl"))
    val oldNewCand = oldSrc.join(newSide, Seq("__centroid"))
      .where(col("src") =!= col("dst"))
    val fresh = newSrcCand.unionAll(oldNewCand)
      .select(col("src"), col("dst"),
        array_cosine_distance(col("__vl"), col("__vr")).as("__d"),
        col("__centroid").as("__bucket"), col("__vr").as(DstVecCol))
    // ... merged with their STORED top-degree edges (bucket-pruned read;
    // the stored __dstv recomputes the identical distance expression)
    val storedCand = IndexManifests.readBuckets(spark, s"$path/edges", "__bucket",
        touched, edgesSchema(s.schema("__nv").dataType))
      .select(col("src"), col("dst"), col(DstVecCol),
        col("__bucket").cast("long"))
      .join(oldSrc.select(col("src"), col("__vl")), Seq("src"))
      .select(col("src"), col("dst"),
        array_cosine_distance(col("__vl"), col(DstVecCol)).as("__d"),
        col("__bucket"), col(DstVecCol))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("__d").asc_nulls_last, col("dst").asc)
    val updated = fresh.unionAll(storedCand)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= degree)
      .select(col("src"), col("dst"), col(DstVecCol), col("__bucket"))
    // replace exactly the touched bucket partitions; append the batch's
    // assignment rows (existing assignment rows never change). Both
    // manifests refresh so the NEXT mutation's pruned reads see any bucket
    // directory this one created.
    IndexManifests.replaceBuckets(spark, s"$path/edges", "__bucket", touched, updated)
    IndexManifests.appendBuckets(newMembers, s"$path/assign", "__centroid")
  }

  /** Batch DELETE from a materialized graph — the other half of index
    * maintenance (takedowns, dedup removals; without it any deletion
    * forced a full rebuild). `batch` holds the rows being removed (id +
    * vector — the caller has them: they are corpus rows). EXACT: the
    * updated artifact is row-identical to re-materializing over the
    * reduced corpus, because
    *
    *  - deleting a member cannot change any assignment (centroids are
    *    frozen: deleting centroid-level ids is refused below, same as
    *    insert), so a full rebuild differs only inside the buckets the
    *    deleted rows lived in;
    *  - a deleted node's every member-edge occurrence — as src AND as dst
    *    — lies inside its own bucket (bucket-kNN edges connect bucket-mates
    *    only), and removal can PROMOTE new edges for surviving bucket-mates
    *    (their stored top-degree was ranked including the deleted node), so
    *    the touched buckets' member edges are recomputed FROM SCRATCH over
    *    the surviving members — the same inputs and ranking rule as the
    *    reduced-corpus rebuild, Σ touched-bucket² work, never corpus-sized;
    *  - the upper levels contain no deleted ids (not centroids) and are
    *    untouched.
    *
    * The deleted rows' buckets are recovered by REPLAYING the (frozen,
    * deterministic) assignment rule on the batch — no corpus-sized lookup
    * of the assignment table by a non-partition key; the replay runs
    * against the store's own centroid table, so every row (a NULL vector
    * included) lands where [[buildEdges]] filed it. Storage mutation is
    * two dynamic partition overwrites plus explicit directory removal for
    * touched buckets whose edge/member sets become empty (a dynamic
    * overwrite only replaces partitions it has rows for). Deleting an id
    * that was never inserted is a harmless no-op (its bucket recomputes to
    * its current state). Works on both geometries like the insert.
    */
  def deleteFromMaterialized(batch: DataFrame, idCol: String,
      vecCol: String, stride: Int, degree: Int, path: String,
      superStride: Int = 0): Unit =
      IndexFiles.withWriterLease(batch.sparkSession, path, "graph-delete") {
    val spark = batch.sparkSession
    // the replay recovers the deleted rows' stored buckets exactly
    // (frozen sets, deterministic tie-break)
    val (s, delAssigned, touched) =
      replayed(batch, idCol, vecCol, stride, degree, path, superStride, "deleting")
    if (touched.isEmpty) return
    // surviving members of touched buckets: bucket-pruned read minus the
    // batch (anti-join, batch-sized broadcast side — no id-list literals)
    val remaining = s.buckets(touched)
      .select(col("__nid"), col("__nv"), col("__centroid").cast("long"))
      .join(broadcast(delAssigned.select(col("__nid"))), Seq("__nid"),
        "left_anti")
      .localCheckpoint()
    // recompute the touched buckets' member edges from scratch over the
    // survivors with the build's own kernel (dst vectors ride along), and
    // replace both tables' touched buckets — emptied ones (edge-less
    // single-member buckets; fully-emptied memberships) are dropped
    IndexManifests.replaceBuckets(spark, s"$path/edges", "__bucket", touched,
      bucketKnnEdges(remaining, degree))
    IndexManifests.replaceBuckets(spark, s"$path/assign", "__centroid", touched,
      remaining)
  }

  /** Compact a materialized graph's over-fragmented bucket directories —
    * the maintenance third of the mutation trio (append grows `assign/` by
    * one file per batch per touched bucket and rewrites `edges/` buckets
    * one file at a time; after many append/delete cycles a hot bucket's
    * listing/footer cost creeps, exactly the small-files risk
    * `AnnIndex.compactBuckets` / `ProductQuantizer.compactCodes` bound for
    * the other tiers). Both partitioned tables compact through the shared
    * [[IndexManifests.compactTable]] (one pruned scan + one dynamic
    * partition overwrite each, manifests refreshed); the small `cedges/`
    * table is a build-time artifact and never fragments. Probe results
    * are unchanged — compaction only re-files rows. Run under the store's
    * single-writer contract (appends paused), like every mutation here.
    * Returns the compacted bucket ids per table (edges, assign); both
    * empty = cheap no-op, safe on a maintenance timer.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      maxFilesPerBucket: Int = 8, targetBytes: Long = 128L << 20)
      : (Seq[Long], Seq[Long]) =
    IndexFiles.withWriterLease(spark, path, "graph-compact") {
      (IndexManifests.compactTable(spark, s"$path/edges", "__bucket",
          maxFilesPerBucket, targetBytes),
        IndexManifests.compactTable(spark, s"$path/assign", "__centroid",
          maxFilesPerBucket, targetBytes))
    }

  /** Executed-round observability for the convergence specs: how many
    * rounds the most recent probe on this thread actually expanded (the
    * early-exit's measurable effect). Thread-local because probes are
    * driver-side loops and tests run suites concurrently.
    */
  private val probeRounds = new ThreadLocal[Int] { override def initialValue = 0 }
  private[graft] def lastProbeRounds: Int = probeRounds.get()

  /** The HNSW termination rule of [[probeLoop]], replayed by the SQL
    * oracle's per-round frontier guard: continue expanding only while some
    * node of the CURRENT top-k is still unexpanded. Once every top-k node
    * has been expanded, the best unexpanded candidate ranks below k — the
    * greedy search has converged and further rounds are pure cost (they
    * could only improve the result through a longer-range hop, which greedy
    * best-first search forgoes BY DEFINITION — this is the standard HNSW
    * stopping condition, identical on both engines, so the gate stays
    * hash-exact). The `rounds` parameter is a CAP rather than the exact
    * cost, which lets a deep-graph deployment raise it without paying on
    * easy queries.
    */
  private def converged(visitedTopK: Seq[Long], expanded: Long => Boolean): Boolean =
    visitedTopK.forall(expanded)

  /** Batched beam search: every query of a query-vector table gets its
    * [[pointProbeTopK]] rows — the same loop, [[probeLoop]], run over
    * chunks of queries. The query table is collected (one job, none for a
    * driver-local table) and probed `SizeRoute(GraphProbeQueries)` queries
    * at a time, each chunk one driver loop: ONE entry job scores every
    * centroid row against every chunk query, then per round ≤ 1 job on a
    * [[fromMaterialized]] store (plus one unpruned scan in a round that
    * expands a degenerate centroid) or 2 jobs on a plain `(src, dst)`
    * frame, REGARDLESS of the chunk's size. A query that
    * [[converged]] stops contributing frontier nodes while the rest keep
    * walking. [[lastProbeRounds]] reports the most rounds any chunk ran.
    *
    * Driver state per chunk: every centroid row with one distance per
    * chunk query (centroids × chunk); per query a map of ≤ beam +
    * beam·degree·rounds (id, distance) pairs; on a store, the loaded
    * buckets' edges with one distance per chunk query each. For the whole
    * call the driver holds the query vectors and the ranked output,
    * queries × k rows.
    *
    * Output: `(qidCol, rank, idCol, cos_dist)`, rank 1-based per query by
    * (dist asc NULLS LAST, id asc) — the [[AnnIndex.probeTopKBatch]] shape.
    * Query vectors of any numeric array type are cast to `array<double>`.
    * A NULL query id, a NULL query vector or element, or a repeated query
    * id raises an `IllegalArgumentException` naming it. `edges` must be
    * built over the same corpus/stride.
    *
    * EXECUTION CONTRACT: this call is EAGER, not a lazy plan builder. It
    * runs every probe job at call time and returns a driver-local frame;
    * a caller composing the result into a larger plan gets a scan of those
    * rows, not a deferred probe. No session conf is touched.
    */
  def beamSearchTopKBatch(df: DataFrame, idCol: String, vecCol: String,
      edges: DataFrame, queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, stride: Int, beam: Int = DefaultBeam,
      rounds: Int = DefaultRounds): DataFrame = {
    require(k > 0 && beam > 0 && rounds >= 0,
      s"invalid probe: k=$k beam=$beam rounds=$rounds")
    val chunk = math.max(1, SizeRoute(SizeRoute.GraphProbeQueries))
    val seen = scala.collection.mutable.HashSet.empty[Long]
    var mostRounds = 0
    val out = queries
      .select(col(qidCol).cast("long"), col(qvecCol).cast("array<double>"))
      .collect().grouped(chunk).flatMap { part =>
        val qs = part.map { r =>
          require(!r.isNullAt(0), "graph probe query ids must not be NULL")
          val qid = r.getLong(0)
          require(!r.isNullAt(1), s"graph probe query $qid has a NULL vector")
          val v = r.getSeq[java.lang.Double](1)
          require(!v.contains(null), s"graph probe query $qid has a NULL element")
          require(seen.add(qid), s"graph probe query ids must be distinct: $qid repeats")
          qid -> v.map(_.doubleValue)
        }
        val top = probeLoop(df, idCol, vecCol, edges, qs.map(_._2), k, stride,
          beam, rounds)
        mostRounds = math.max(mostRounds, probeRounds.get())
        qs.map(_._1).zip(top).flatMap { case (qid, ranked) =>
          ranked.zipWithIndex.map { case ((id, d), r) =>
            org.apache.spark.sql.Row(qid, r + 1L, id, d)
          }
        }
      }.toVector
    probeRounds.set(mostRounds)
    localFrame(df, out, qidCol, "rank", idCol)
  }

  /** Single-query point probe: [[probeLoop]] run with one query. The beam
    * state is held on the driver, bounded by construction at
    * ≤ beam + beam·degree·rounds (id, distance) pairs — a few hundred rows
    * REGARDLESS of corpus size, the same per-query working set an
    * in-process HNSW library keeps — so holding it driver-side is the
    * model-artifact cost class, not a collect of data. The entry also
    * holds one distance per centroid row, and on a store the driver holds
    * the loaded buckets' edges (see [[bucketExpansion]]). Distances are
    * computed by the engine's codegen'd expression; the driver only orders
    * already-computed (distance, id) pairs. Jobs per call: one entry job,
    * then per round ≤ 1 job on a [[fromMaterialized]] store (plus one
    * unpruned scan in a round that expands a degenerate centroid) or 2 jobs
    * on a plain `(src, dst)` frame ([[buildEdges]]). Returns a driver-local
    * `(idCol, cos_dist)` frame, k rows ranked (dist asc NULLS LAST, id asc)
    * over every node visited. No session conf is touched.
    *
    * Use [[beamSearchTopKBatch]] when probing a BATCH of queries: its
    * rounds serve a whole chunk of queries at once.
    */
  def pointProbeTopK(df: DataFrame, idCol: String, vecCol: String,
      edges: DataFrame, qvec: Array[Double], k: Int, stride: Int,
      beam: Int = DefaultBeam, rounds: Int = DefaultRounds): DataFrame = {
    require(k > 0 && beam > 0 && rounds >= 0,
      s"invalid probe: k=$k beam=$beam rounds=$rounds")
    val top = probeLoop(df, idCol, vecCol, edges, Seq(qvec.toSeq), k, stride,
      beam, rounds).head
    localFrame(df, top.map { case (id, d) => org.apache.spark.sql.Row(id, d) },
      idCol)
  }

  /** A driver-local frame of `rows`: the given non-NULL long columns, then
    * a nullable `cos_dist` double.
    */
  private def localFrame(df: DataFrame, rows: Seq[org.apache.spark.sql.Row],
      longCols: String*): DataFrame = {
    import scala.jdk.CollectionConverters._
    df.sparkSession.createDataFrame(rows.asJava, StructType(
      longCols.map(StructField(_, LongType, nullable = false)) :+
        StructField("cos_dist", DoubleType, nullable = true)))
  }

  /** Query `i`'s distance in a collected `cosine_distances` array. The
    * probe's queries hold no NULL element, so the array is complete, or
    * NULL for a NULL vector or element: every distance NULL.
    */
  private def distAt(ds: Array[Double], i: Int): java.lang.Double =
    if (ds == null) null else ds(i)

  // derived once: encoder derivation reflects on the type at every call
  private lazy val ScoredIds =
    org.apache.spark.sql.Encoders.product[(Long, Array[Double])]
  private lazy val ScoredEdges =
    org.apache.spark.sql.Encoders.product[(Long, Long, Option[Long], Array[Double])]

  /** The probe's ranking key: (distance asc NULLS LAST, id asc), the
    * oracle's sort. java.lang.Double.compare is NaN-largest like Spark's
    * ordering, and cos_dist never produces -0.0 (1 - 1 = +0.0), so exact
    * double comparison of engine-computed values is drift-free.
    */
  private def rankKey(id: Long, d: java.lang.Double): (Boolean, Double, Long) =
    (d == null, if (d == null) 0d else d.doubleValue, id)

  /** The one graph probe: a best-first tabu beam search over Q ≥ 1 query
    * vectors, each query's beam state in a driver map. Every distance comes
    * from one engine expression per row, `cosine_distances` against all Q
    * queries (bit-identical to `array_cosine_distance`). Entry: ONE job
    * scores every centroid row (an id divisible by `stride`), and each
    * query keeps its `beam` best by [[rankKey]]. Each round takes every
    * query's frontier — its best `beam` visited-but-unexpanded nodes, or
    * none once the query has [[converged]] — and expands their union in
    * one step, routed on the edge frame's columns:
    * [[bucketExpansion]] for a [[fromMaterialized]] store (`__bucket`
    * present); for a plain `(src, dst)` frame, one edge read of the union
    * frontier, then one corpus read of the newly reached ids. A node is
    * scored once per query: its distance is a pure function of (query,
    * id). Returns each query's top-k `(id, distance)` pairs in rank order
    * and records the executed rounds for [[lastProbeRounds]].
    */
  private def probeLoop(df: DataFrame, idCol: String, vecCol: String,
      edges: DataFrame, queries: Seq[Seq[Double]], k: Int, stride: Int,
      beam: Int, rounds: Int): IndexedSeq[Seq[(Long, java.lang.Double)]] = {
    import scala.collection.mutable
    val qs = typedLit(queries)
    val visited = queries.map(_ => mutable.HashMap.empty[Long, java.lang.Double])
      .toIndexedSeq
    val expanded = queries.map(_ => mutable.HashSet.empty[Long]).toIndexedSeq
    def ranked(i: Int): Seq[(Long, java.lang.Double)] =
      visited(i).toSeq.sortBy { case (id, d) => rankKey(id, d) }
    val cents = df.where(pmod(col(idCol), lit(stride)) === 0)
      .select(col(idCol).cast("long"), cosine_distances(col(vecCol), qs))
      .as(ScoredIds).collect()
    for (i <- queries.indices)
      cents.map { case (id, ds) => (id, distAt(ds, i)) }
        .sortBy { case (id, d) => rankKey(id, d) }.take(beam)
        .foreach { case (id, d) => visited(i)(id) = d }
    val expand: IndexedSeq[Seq[Long]] => Unit =
      if (edges.columns.contains(BucketCol))
        bucketExpansion(edges, qs, stride, visited)
      else { fs =>
        val out = edges.where(col("src").isin(fs.flatten.distinct: _*))
          .select(col("src").cast("long"), col("dst").cast("long"))
          .collect().groupMap(_.getLong(0))(_.getLong(1))
        val reached = fs.indices.map(i => fs(i)
          .flatMap(out.getOrElse(_, Array.emptyLongArray))
          .filterNot(visited(i).contains(_)).toSet)
        val active = reached.indices.filter(reached(_).nonEmpty)
        if (active.nonEmpty)
          df.select(col(idCol).cast("long").as("__nid"), col(vecCol).as("__nv"))
            .where(col("__nid").isin(active.flatMap(reached(_)).distinct: _*))
            .select(col("__nid"), cosine_distances(col("__nv"), qs))
            .as(ScoredIds).collect().foreach { case (nid, ds) =>
              for (i <- active if reached(i)(nid)) visited(i)(nid) = distAt(ds, i)
            }
      }
    def frontiers(round: Int): IndexedSeq[Seq[Long]] = visited.indices.map { i =>
      val ids = ranked(i).map(_._1)
      if (round > 0 && converged(ids.take(k), expanded(i))) Nil
      else ids.filterNot(expanded(i)).take(beam)
    }
    var round = 0
    var fs = IndexedSeq.empty[Seq[Long]]
    while (round < rounds && { fs = frontiers(round); fs.exists(_.nonEmpty) }) {
      for (i <- fs.indices) expanded(i) ++= fs(i)
      expand(fs)
      round += 1
    }
    probeRounds.set(round)
    visited.indices.map(ranked(_).take(k))
  }

  /** [[probeLoop]]'s round step over a [[fromMaterialized]] frame: scores
    * the out-neighbors of each query's frontier into its `visited` map.
    * Member edges never leave their bucket, so a member node's out-edges
    * all lie in the bucket it was reached through, and a centroid-level
    * node (an id divisible by `stride`) is looked up in its own-id bucket.
    * Each round loads, in ONE job, every bucket of the frontier union not
    * loaded yet — whole `__bucket` partitions by partition pruning, plus
    * those centroids' centroid-level out-edges — with every query's
    * engine-computed distance on every loaded row; a round
    * whose frontiers sit in loaded buckets runs no job. The queries and the
    * bucket set are array literals, so the probe keeps one compiled stage
    * shape. A centroid whose own bucket holds no member edge from it
    * costs one more, unpruned `src` scan: a duplicate or zero-vector
    * centroid (assigned to the lowest tied centroid, leaving its own bucket
    * empty) or a singleton bucket. Driver state beyond the beams is loaded
    * buckets × bucket rows × degree edges, each two ids and Q primitive
    * distances — independent of the vector dimension.
    */
  private def bucketExpansion(edges: DataFrame, qs: Column, stride: Int,
      visited: IndexedSeq[scala.collection.mutable.HashMap[Long, java.lang.Double]])
      : IndexedSeq[Seq[Long]] => Unit = {
    import scala.collection.mutable
    // src -> (dst, per-query distances, dst's bucket — None on a
    // centroid-level edge)
    val out = mutable.HashMap.empty[Long,
      mutable.ArrayBuffer[(Long, Array[Double], Option[Long])]]
    val bucketOf = mutable.HashMap.empty[Long, Long] // member nodes, as reached
    val loaded = mutable.HashSet.empty[Long]
    val held = mutable.HashSet.empty[Long] // srcs whose member edges are in `out`
    def fetch(cond: Column): Unit =
      edges.where(cond)
        .select(col("src"), col("dst"), col(BucketCol),
          cosine_distances(col(DstVecCol), qs))
        .as(ScoredEdges).collect()
        .foreach { case (src, dst, b, ds) =>
          if (b.isDefined) held += src
          out.getOrElseUpdate(src, mutable.ArrayBuffer.empty) += ((dst, ds, b))
        }
    def isCentroid(id: Long) = id % stride == 0
    fs => {
      val frontier = fs.flatten.distinct
      val need = frontier.flatMap(n =>
          if (isCentroid(n)) Some(n) else bucketOf.get(n))
        .distinct.filterNot(loaded)
      if (need.nonEmpty) {
        // an array literal, not an IN list: codegen passes it by reference,
        // so rounds with different bucket sets reuse one compiled stage
        val ids = typedLit(need)
        fetch(array_contains(ids, col(BucketCol)) ||
          (col(BucketCol).isNull && array_contains(ids, col("src"))))
        loaded ++= need
      }
      // member edges of a centroid outside its own bucket (or of a node
      // reached some other way): one unpruned src scan, once per src even
      // when several queries expand it
      val missing = frontier.filter(n => !held(n) &&
        (isCentroid(n) || !bucketOf.contains(n)))
      if (missing.nonEmpty) {
        fetch(col(BucketCol).isNotNull && col("src").isin(missing: _*))
        held ++= missing
      }
      for (i <- fs.indices; n <- fs(i); (dst, ds, b) <- out.getOrElse(n, Nil)) {
        if (!visited(i).contains(dst)) visited(i)(dst) = distAt(ds, i)
        b.foreach(bucketOf(dst) = _)
      }
    }
  }
}
