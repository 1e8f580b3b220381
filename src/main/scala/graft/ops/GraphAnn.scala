package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.array_cosine_distance

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
  *    to their nearest stride centroid (`cosine_argmin` against one
  *    broadcast row of every centroid — no shuffle), then take each
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
  *  - **Probe** (`rounds` fixed beam-search rounds, the join-per-round
  *    shape of `Dedup.components`): start from the `beam` centroids
  *    nearest the query, expand every frontier node's out-edges, score the
  *    newly reached vectors against the query (a broadcast semi-join of
  *    ≤ beam·degree ids against the corpus — never a corpus scan), keep
  *    the best `beam` as the next frontier. Per-round work is
  *    O(beam·degree) rows; total vectors scored ≈ beam·degree·rounds — at
  *    100 TB the probe cost is independent of corpus size once the edge
  *    table is built.
  *
  * Everything is deterministic and engine-replayable: fixed stride
  * centroids, (distance, id)-ordered neighbor ranking, fixed round count,
  * min-distance dedup of the visited set — so the whole structure sits
  * under the DuckDB hash gate (`ann_graph_topk`), not just a recall spec.
  */
object GraphAnn {

  /** Shared probe defaults — interpolated into the SQL oracle so the two
    * engines can never drift. beam·degree·rounds ≈ the number of vectors a
    * probe scores; the defaults land that near an IVF nprobe=4 scan on the
    * test corpus so the two tiers are cost-comparable.
    */
  val DefaultDegree = 8
  val DefaultBeam = 16
  val DefaultRounds = 4

  private def centroidsOf(df: DataFrame, idCol: String, vecCol: String,
      stride: Int): DataFrame =
    df.where(pmod(col(idCol), lit(stride)) === 0)
      .select(col(idCol).cast("long").as("__cid"), col(vecCol).as("__cvec"))

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

  /** `__nv`'s nearest candidate in `(__ids, __vecs)` (ties → lowest id).
    * A row with none — a NULL vector, a NULL element (its own or a
    * candidate's), or only NaN distances — is filed under the LOWEST
    * candidate id. Build, insert and delete share this rule, so a delete
    * finds such a row's bucket again.
    */
  private def nearest: Column =
    coalesce(graft.functions.cosine_argmin(col("__nv"), col("__ids"), col("__vecs")),
      array_min(col("__ids")))

  /** Assignment `(__nid, __nv, __centroid)` against an EXPLICIT centroid
    * frame `(__cid, __cvec)` — also the seam [[appendToMaterialized]]
    * needs: an appended batch must score the same centroid set the at-rest
    * index was built over, not centroids derived from the batch itself.
    * Every row scores all centroids from ONE broadcast row through the
    * codegen'd `cosine_argmin` — no shuffle, so the input's partitions
    * (widened to the core count when narrower) carry through. One row per
    * input row: ids must be unique.
    */
  private def assignedTo(df: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame): DataFrame =
    graft.util.Partitions.widenNarrowScan(
        df.select(col(idCol).cast("long").as("__nid"), col(vecCol).as("__nv")))
      .crossJoin(broadcast(candidateArrays(
        cents.select(col("__cid").as("__nid"), col("__cvec").as("__nv")))))
      .select(col("__nid"), col("__nv"), nearest.as("__centroid"))

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
  private def exactKnnEdges(nodes: DataFrame, degree: Int): DataFrame = {
    val n = nodes.select(col("__cid").as("__nid"), col("__cvec").as("__nv"))
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
    * the same id). A row with no nearest centroid (a NULL vector, a NULL
    * element, or only NaN distances) is filed under the lowest candidate
    * centroid id: the lowest centroid in the flat build, the lowest
    * centroid of the lowest super in the tiered one. A centroid with a
    * NULL vector or element leaves every row without a nearest centroid,
    * so all land in the lowest centroid. Inserts and deletes replay the
    * same rule.
    */
  def buildEdges(df: DataFrame, idCol: String, vecCol: String,
      stride: Int, degree: Int = DefaultDegree,
      superStride: Int = 0): DataFrame = {
    val (member, upper, _) =
      levels(df, idCol, vecCol, stride, degree, superStride)(identity)
    member.select(col("src"), col("dst"))
      .union(upper.select(col("src"), col("dst")))
  }

  /** The build decomposed by level — member edges `(src, dst, __dstv,
    * __bucket)`, the upper (centroid/super) levels `(src, dst, __dstv)`,
    * and the member assignment, which `pin` pins once before it feeds the
    * bucket arrays, the kernel and the caller — so [[materialize]] can lay
    * the artifact out for incremental maintenance while [[buildEdges]]
    * keeps its flat union shape.
    */
  private def levels(df: DataFrame, idCol: String, vecCol: String,
      stride: Int, degree: Int, superStride: Int)(
      pin: DataFrame => DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val cents = centroidsOf(df, idCol, vecCol, stride)
    if (superStride <= 0) {
      val assigned = pin(assignedTo(df, idCol, vecCol, cents))
      (bucketKnnEdges(assigned, degree), exactKnnEdges(cents, degree), assigned)
    } else {
      require(superStride > stride && superStride % stride == 0,
        s"superStride $superStride must be a multiple of stride $stride above it")
      // fail-fast mirror of materialize's stride-centroid check: with no id
      // divisible by superStride the hierarchical assignment would be empty
      // and the build would silently emit NO member-level edges — a
      // degenerate index, not an error (r8 ADVICE)
      require(!df.where(pmod(col(idCol), lit(superStride)) === 0).isEmpty,
        s"no super-centroids: no $idCol divisible by superStride $superStride")
      val supers = centroidsOf(df, idCol, vecCol, superStride)
      // centroids carry their super assignment (centroids × supers — the
      // small side of the hierarchy)
      val centAssigned = assignedTo(cents, "__cid", "__cvec", supers)
      val assigned =
        pin(hierarchicalAssign(df, idCol, vecCol, supers, centAssigned))
      // the families are disjoint (a node of each level is its own
      // bucket's centroid at that level), so plain unions need no
      // distinct() exchange
      (bucketKnnEdges(assigned, degree),
        bucketKnnEdges(centAssigned, degree).drop(BucketCol)
          .union(exactKnnEdges(supers, degree)),
        assigned)
    }
  }

  /** The tiered build's MEMBER assignment rule against EXPLICIT frozen
    * frames: nearest super (n × supers, broadcast), then argmin over only
    * that super bucket's centroids. Factored out so
    * [[appendToMaterialized]] replays the exact build rule for a batch
    * against the at-rest geometry (frozen `supers` + the centroid→super
    * map `centAssigned`).
    *
    * The bucket's centroids ride as index-aligned array columns in ONE
    * row per super ([[candidateArrays]]), so the join never explodes
    * members × candidates, and the codegen'd `cosine_argmin` replaces both
    * the SortAggregate-over-wide-rows shape (min(struct) after explosion)
    * and the interpreted higher-order array_min(transform(...)) — each
    * measured ~4× the FLAT build's cost at the 50× ScaleSmoke rung.
    * `cosine_argmin` tie-breaks on the lowest cid independent of array
    * order, so the collect_list row order is immaterial to the result.
    */
  private def hierarchicalAssign(df: DataFrame, idCol: String, vecCol: String,
      supers: DataFrame, centAssigned: DataFrame): DataFrame =
    // broadcast is load-bearing: the arrays' post-aggregation size estimate
    // is unknown to the planner, and a sort-merge fallback would route
    // every member of a super bucket into ONE task's argmin loop. Their
    // real size is all centroid vectors
    assignedTo(df, idCol, vecCol, supers)
      .withColumnRenamed("__centroid", "__s")
      .join(broadcast(candidateArrays(
        centAssigned.withColumnRenamed("__centroid", "__s"), "__s")), Seq("__s"))
      .select(col("__nid"), col("__nv"), nearest.as("__centroid"))

  private val SpecMarker = "_graft_graph_spec"

  // bucket manifests + manifest-driven pruned reads live in
  // [[IndexManifests]] (shared with the IVF store)
  private def writeBucketManifest(spark: org.apache.spark.sql.SparkSession,
      table: String, partCol: String): Unit =
    IndexManifests.write(spark, table, partCol)

  private def readBuckets(spark: org.apache.spark.sql.SparkSession,
      table: String, partCol: String, wanted: Seq[Long],
      emptySchema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame =
    IndexManifests.readBuckets(spark, table, partCol, wanted, emptySchema)

  /** Expected stored shapes for the fileless-table read fallback (a table
    * whose every bucket was dropped or never written holds zero parquet
    * files — nothing to infer a schema from). `vecType` is the corpus
    * vector column's type, which the stored `__nv`/`__dstv` columns carry
    * verbatim.
    */
  private def assignSchema(vecType: org.apache.spark.sql.types.DataType) =
    Some(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__nid",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("__nv", vecType),
      org.apache.spark.sql.types.StructField("__centroid",
        org.apache.spark.sql.types.LongType))))

  private def edgesSchema(vecType: org.apache.spark.sql.types.DataType) =
    Some(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("src",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("dst",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(DstVecCol, vecType),
      org.apache.spark.sql.types.StructField("__bucket",
        org.apache.spark.sql.types.LongType))))

  /** Neighbor-vector column of a VECTOR-ADJACENT materialized edge table
    * (see [[materialize]]); [[bucketExpansion]] scores it per query.
    */
  private[graft] val DstVecCol = "__dstv"

  /** Bucket column of a [[fromMaterialized]] frame (NULL on centroid-level
    * rows); the driver probe loop ([[probeLoop]]) routes on its presence.
    */
  private[graft] val BucketCol = "__bucket"

  /** Materialize the edge table as parquet (build once / probe many), with
    * a geometry marker so a reopen with different (stride, degree) fails
    * fast. Edges are stored VECTOR-ADJACENT — each (src, dst) row carries
    * dst's vector, the classic HNSW memory layout (neighbor vectors live
    * with the links): a probe reads the reached neighbors AND their query
    * distances off the edge artifact, never touching the corpus table
    * after the entry beam. Member-level edges are partitioned by src's
    * bucket and never leave it, so [[pointProbeTopK]] loads whole bucket
    * partitions by partition pruning on `__bucket` — a `src IN (frontier)`
    * predicate prunes nothing here, since a bucket's src ids are scattered
    * over the id range of every file. Storage is degree·(n + n/stride)
    * rows × (2 longs + one vector): the artifact trades `degree` copies of
    * each vector for locality, exactly as an in-process HNSW trades memory
    * for it. The input contract is [[buildEdges]]'s.
    */
  def materialize(df: DataFrame, idCol: String, vecCol: String,
      stride: Int, degree: Int, path: String, superStride: Int = 0): Unit = {
    require(!df.where(pmod(col(idCol), lit(stride)) === 0).isEmpty,
      s"no centroids: no $idCol divisible by stride $stride")
    // the assignment is pinned once: it feeds the bucket arrays, the
    // kernel and the assign/ write
    val (member, upper, assigned) =
      levels(df, idCol, vecCol, stride, degree, superStride)(_.persist())
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
      // the member ASSIGNMENT rides along, bucket-partitioned (the IVF
      // layout): an insert must see a touched bucket's existing members
      // (vectors included) without scanning the corpus — a bucket-pruned
      // read of this table is exactly that
      IndexManifests.writeBuckets(assigned, s"$path/assign", "__centroid")
    } finally assigned.unpersist()
    IndexFiles.writeString(df.sparkSession, s"$path/$SpecMarker",
      if (superStride > 0) s"$stride $degree $superStride"
      else s"$stride $degree")
  }

  /** Stored geometry `(stride, degree, superStride)`, read through the
    * store's Hadoop FileSystem (the marker lives beside the data — HDFS/S3/
    * local alike, not only a local disk).
    */
  private def readSpec(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Int, Int) = {
    val parts = IndexFiles.readString(spark, s"$path/$SpecMarker")
      .trim.split(" ")
    (parts(0).toInt, parts(1).toInt,
      if (parts.length > 2) parts(2).toInt else 0)
  }

  /** Open a [[materialize]]d edge table; the stored geometry is
    * authoritative and checked against the caller's expectation. Probes
    * see one `(src, dst, __dstv, __bucket)` frame: member-level rows carry
    * their src's bucket (the partition key, which is also dst's bucket —
    * member edges never leave their bucket), centroid-level rows a NULL
    * bucket. The driver probe loop ([[pointProbeTopK]], gate-sized
    * [[beamSearchTopKBatch]] calls) routes on that column and expands the
    * store bucket by bucket.
    */
  def fromMaterialized(spark: org.apache.spark.sql.SparkSession, path: String,
      stride: Int, degree: Int, superStride: Int = 0): DataFrame = {
    val (storedStride, storedDegree, storedSuper) = readSpec(spark, path)
    require(storedStride == stride && storedDegree == degree
        && storedSuper == superStride,
      s"graph at $path was materialized with (stride, degree, superStride) = " +
        s"($storedStride, $storedDegree, $storedSuper), opened expecting " +
        s"($stride, $degree, $superStride)")
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
    *  - the batch is assigned against the centroids of `base` (the same
    *    frozen-centroid contract as [[AnnIndex.appendToMaterialized]] —
    *    and the batch must not itself contain centroid-level ids, checked
    *    below), so assignments match the full rebuild's (a row with no
    *    nearest centroid, e.g. a NULL vector, lands in the lowest centroid's
    *    bucket, the [[buildEdges]] rule);
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
    * TIERED geometry (`superStride > 0`, matching the stored spec) splices
    * the same way: the upper (centroid-within-super + super-exact) levels
    * depend only on the centroid and super sets — both frozen, since the
    * batch may not contain ids divisible by `stride` (which covers
    * `superStride` multiples) — so `cedges/` is untouched, and the batch's
    * member assignment replays the build's exact hierarchical rule
    * ([[hierarchicalAssign]]: nearest frozen super, then `cosine_argmin`
    * over that super bucket's frozen centroids). A full tiered rebuild
    * over the union corpus computes the identical assignment for every old
    * row (frozen sets + order-independent argmin tie-break), so the
    * per-touched-bucket subset argument above carries over verbatim.
    */
  def appendToMaterialized(batch: DataFrame, base: DataFrame, idCol: String,
      vecCol: String, stride: Int, degree: Int, path: String,
      superStride: Int = 0): Unit =
      IndexFiles.withWriterLease(batch.sparkSession, path, "graph-append") {
    val spark = batch.sparkSession
    val (storedStride, storedDegree, storedSuper) = readSpec(spark, path)
    require(storedStride == stride && storedDegree == degree
        && storedSuper == superStride,
      s"graph at $path was materialized with (stride, degree, superStride) = " +
        s"($storedStride, $storedDegree, $storedSuper), append expects " +
        s"($stride, $degree, $superStride)")
    // the frozen-supers argument below relies on supers ⊆ centroids: the
    // no-centroid batch check covers superStride multiples ONLY because
    // superStride is a multiple of stride. levels() enforces that at build
    // time; re-assert it here so the invariant is locally checkable rather
    // than enforced at a distance.
    require(superStride <= 0 || superStride % stride == 0,
      s"superStride $superStride must be a multiple of stride $stride")
    require(batch.where(pmod(col(idCol), lit(stride)) === 0).isEmpty,
      s"batch contains centroid-level ids ($idCol divisible by $stride): " +
        "inserting centroids changes the bucket geometry — re-materialize instead")
    val cents = centroidsOf(base, idCol, vecCol, stride)
    // batch-sized; pinned — consumed by the touched-list collect, both
    // candidate joins, and the assign append
    val newMembers = (if (superStride > 0) {
      val supers = centroidsOf(base, idCol, vecCol, superStride)
      hierarchicalAssign(batch, idCol, vecCol, supers,
        assignedTo(cents, "__cid", "__cvec", supers))
    } else assignedTo(batch, idCol, vecCol, cents)).localCheckpoint()
    val touched = newMembers.select(col("__centroid")).distinct()
      .collect().map(_.getLong(0)) // bounded by the batch size
    if (touched.isEmpty) return
    // old members of touched buckets only: a bucket-PRUNED read of the
    // assignment table (manifest-listed directories), never a corpus scan
    val vecType = base.schema(vecCol).dataType
    val oldTouched = readBuckets(spark, s"$path/assign", "__centroid", touched,
        assignSchema(vecType))
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
    val storedCand = readBuckets(spark, s"$path/edges", "__bucket", touched,
        edgesSchema(vecType))
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
    // assignment rows (existing assignment rows never change). Same
    // one-file-per-bucket repartition discipline as the build.
    updated.repartition(col("__bucket")).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__bucket").parquet(s"$path/edges")
    newMembers.repartition(col("__centroid"))
      .write.mode("append").partitionBy("__centroid")
      .parquet(s"$path/assign")
    // refresh both manifests (one single-level listStatus each) so the
    // NEXT mutation's pruned reads see any bucket directory this one
    // created
    writeBucketManifest(spark, s"$path/edges", "__bucket")
    writeBucketManifest(spark, s"$path/assign", "__centroid")
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
    * of the assignment table by a non-partition key; a row with no
    * nearest centroid (a NULL vector) replays to the lowest centroid's
    * bucket, where [[buildEdges]] filed it. Storage mutation is
    * two dynamic partition overwrites plus explicit directory removal for
    * touched buckets whose edge/member sets become empty (a dynamic
    * overwrite only replaces partitions it has rows for). Deleting an id
    * that was never inserted is a harmless no-op (its bucket recomputes to
    * its current state). Works on both geometries like the insert.
    */
  def deleteFromMaterialized(batch: DataFrame, base: DataFrame, idCol: String,
      vecCol: String, stride: Int, degree: Int, path: String,
      superStride: Int = 0): Unit =
      IndexFiles.withWriterLease(batch.sparkSession, path, "graph-delete") {
    val spark = batch.sparkSession
    val (storedStride, storedDegree, storedSuper) = readSpec(spark, path)
    require(storedStride == stride && storedDegree == degree
        && storedSuper == superStride,
      s"graph at $path was materialized with (stride, degree, superStride) = " +
        s"($storedStride, $storedDegree, $storedSuper), delete expects " +
        s"($stride, $degree, $superStride)")
    // same locally-checkable frozen-supers invariant as the append path
    require(superStride <= 0 || superStride % stride == 0,
      s"superStride $superStride must be a multiple of stride $stride")
    require(batch.where(pmod(col(idCol), lit(stride)) === 0).isEmpty,
      s"batch contains centroid-level ids ($idCol divisible by $stride): " +
        "deleting centroids changes the bucket geometry — re-materialize instead")
    val cents = centroidsOf(base, idCol, vecCol, stride)
    // replay the build's assignment rule on the deleted rows — recovers
    // their stored buckets exactly (frozen sets, deterministic tie-break)
    val delAssigned = (if (superStride > 0) {
      val supers = centroidsOf(base, idCol, vecCol, superStride)
      hierarchicalAssign(batch, idCol, vecCol, supers,
        assignedTo(cents, "__cid", "__cvec", supers))
    } else assignedTo(batch, idCol, vecCol, cents)).localCheckpoint()
    val touched = delAssigned.select(col("__centroid")).distinct()
      .collect().map(_.getLong(0)) // bounded by the batch size
    if (touched.isEmpty) return
    // surviving members of touched buckets: bucket-pruned read minus the
    // batch (anti-join, batch-sized broadcast side — no id-list literals)
    val remaining = readBuckets(spark, s"$path/assign", "__centroid", touched,
        assignSchema(base.schema(vecCol).dataType))
      .select(col("__nid"), col("__nv"), col("__centroid").cast("long"))
      .join(broadcast(delAssigned.select(col("__nid"))), Seq("__nid"),
        "left_anti")
      .localCheckpoint()
    // recompute the touched buckets' member edges from scratch over the
    // survivors with the build's own kernel (dst vectors ride along)
    val newEdges = bucketKnnEdges(remaining, degree).localCheckpoint()
    newEdges.repartition(col("__bucket")).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__bucket").parquet(s"$path/edges")
    remaining
      .repartition(col("__centroid")).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__centroid").parquet(s"$path/assign")
    // dynamic overwrite cannot CLEAR a partition it has no rows for:
    // explicitly remove touched bucket directories that became empty
    // (edge-less single-member buckets; fully-emptied memberships)
    def dropEmptied(table: String, partCol: String, live: Set[Long]): Unit = {
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      touched.filterNot(live).foreach { b =>
        fs.delete(new org.apache.hadoop.fs.Path(table, s"$partCol=$b"), true)
      }
    }
    dropEmptied(s"$path/edges", "__bucket",
      newEdges.select(col("__bucket")).distinct()
        .collect().map(_.getLong(0)).toSet)
    dropEmptied(s"$path/assign", "__centroid",
      remaining.select(col("__centroid")).distinct()
        .collect().map(_.getLong(0)).toSet)
    writeBucketManifest(spark, s"$path/edges", "__bucket")
    writeBucketManifest(spark, s"$path/assign", "__centroid")
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

  /** The HNSW termination rule, shared by both probe shapes and replayed
    * by the SQL oracle's per-round frontier guard: continue expanding only
    * while some node of the CURRENT top-k is still unexpanded. Once every
    * top-k node has been expanded, the best unexpanded candidate ranks
    * below k — the greedy search has converged and further fixed rounds
    * are pure cost (they could only improve the result through a
    * longer-range hop, which greedy best-first search forgoes BY
    * DEFINITION — this is the standard HNSW stopping condition, identical
    * on both engines, so the gate stays hash-exact). The `rounds`
    * parameter becomes a CAP rather than the exact cost, which is what
    * lets a deep-graph deployment raise it without paying on easy
    * queries.
    */
  private def converged(visitedTopK: Seq[Long], expanded: Long => Boolean): Boolean =
    visitedTopK.forall(expanded)

  /** Beam-search top-k over a built edge table. Entry = the `beam`
    * centroids nearest the query; each of `rounds` rounds takes the best
    * `beam` visited-but-UNEXPANDED nodes (best-first with a tabu set —
    * re-expanding a node is pure waste, and on weakly-navigable data it
    * stalls convergence), expands their out-edges, and scores the reached
    * vectors against the query. Returns `(idCol, cos_dist)`, k rows,
    * ranked (dist asc, id asc) over every node visited. Rounds stop early
    * at [[converged]]; `rounds` is the cap.
    *
    * Per-round work is O(beam·degree) rows; the vector lookup for reached
    * ids is a BROADCAST semi-join of those ≤ beam·degree ids into a scan
    * of the corpus.
    *
    * Preconditions: numeric ids, non-null vectors, `edges` built over the
    * same corpus/stride (centroids must exist in `df`).
    */
  def beamSearchTopK(df: DataFrame, idCol: String, vecCol: String,
      edges: DataFrame, qvec: Array[Double], k: Int, stride: Int,
      beam: Int = DefaultBeam, rounds: Int = DefaultRounds): DataFrame = {
    require(k > 0 && beam > 0 && rounds >= 0, s"invalid probe: k=$k beam=$beam rounds=$rounds")
    val q = typedLit(qvec.toSeq)
    val vecs = df.select(col(idCol).cast("long").as("__nid"), col(vecCol).as("__nv"))
    var visited = df.where(pmod(col(idCol), lit(stride)) === 0)
      .select(col(idCol).cast("long").as("__nid"),
        array_cosine_distance(col(vecCol), q).as("__d"))
      .orderBy(col("__d").asc_nulls_last, col("__nid").asc)
      .limit(beam)
    var expanded: DataFrame = null
    var prevVisited: DataFrame = null
    var round = 0
    var done = rounds == 0
    while (!done) {
      round += 1
      val unexpanded =
        if (expanded == null) visited
        else visited.join(expanded, Seq("__nid"), "left_anti")
      val frontier = unexpanded
        .orderBy(col("__d").asc_nulls_last, col("__nid").asc)
        .limit(beam)
        .select(col("__nid"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val prevExpanded = expanded
      expanded =
        (if (expanded == null) frontier else expanded.union(frontier))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val reached = edges
        .join(broadcast(frontier.select(col("__nid").as("__fid"))),
          col("src") === col("__fid"), "left_semi")
        .select(col("dst").as("__nid")).distinct()
      val scored = vecs
        .join(broadcast(reached), Seq("__nid"), "left_semi")
        .select(col("__nid"), array_cosine_distance(col("__nv"), q).as("__d"))
      // min-dedup is formal (a node's distance is a pure function of its
      // id), it just keeps the visited set one row per node
      visited = visited.union(scored)
        .groupBy(col("__nid")).agg(min(col("__d")).as("__d"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // materialize THIS round's state (both frames are beam-bounded —
      // counts are trivial jobs), then release the superseded caches: a
      // long-lived session probing many queries must not accumulate
      // 3 cached frames per round until eviction pressure (r8 ADVICE)
      visited.count()
      expanded.count()
      if (prevVisited != null) prevVisited.unpersist(blocking = false)
      if (prevExpanded != null) prevExpanded.unpersist(blocking = false)
      // round 1 aliases expanded = frontier — keep that one cached
      if (!(expanded eq frontier)) frontier.unpersist(blocking = false)
      prevVisited = visited
      // HNSW convergence ([[converged]] — the oracle's per-round frontier
      // guard): stop once every current-top-k node has been expanded. The
      // check reads two beam-bounded cached frames — trivial driver work.
      if (round >= rounds) done = true
      else {
        val topK = visited
          .orderBy(col("__d").asc_nulls_last, col("__nid").asc).limit(k)
          .collect().map(_.getLong(0)).toSeq
        val exp = expanded.collect().map(_.getLong(0)).toSet
        if (converged(topK, exp)) done = true
      }
    }
    probeRounds.set(round)
    // the final round's expanded set feeds nothing downstream
    if (expanded != null) expanded.unpersist(blocking = false)
    visited
      .select(col("__nid").as(idCol), col("__d").as("cos_dist"))
      .orderBy(col("cos_dist").asc_nulls_last, col(idCol).asc)
      .limit(k)
  }

  /** Batched beam search: every query of a query-vector table walks the
    * same rounds. Row-identical per query to [[beamSearchTopK]] /
    * [[pointProbeTopK]] (spec-asserted): same entry beam, same best-first
    * tabu frontier, same min-dedup, and the same per-query HNSW
    * [[converged]] rule — a query that converges simply stops contributing
    * frontier rows while the rest keep walking. Two routes serve it:
    *
    *  - a gate-sized table (≤ `beam` rows, double vectors, no NULL id or
    *    vector) runs [[probeLoop]], the driver loop behind
    *    [[pointProbeTopK]], with all Q queries at once. Jobs per call: Q
    *    entry jobs, then per round ≤ 1 job on a [[fromMaterialized]] store
    *    (plus one unpruned scan in a round that expands a degenerate
    *    centroid) or 2 jobs on a plain `(src, dst)` frame, REGARDLESS of Q.
    *    Driver state: Q maps of ≤ beam + beam·degree·rounds (id, distance)
    *    pairs, plus, on a store, the loaded buckets' edges with Q distances
    *    each.
    *  - a larger table runs [[beamSearchTopKBatchJoin]]: each round is one
    *    edge-table join and one corpus scan regardless of query count, all
    *    per-round state in (queries × beam)-bounded frames keyed by
    *    `(__qid, __nid)` — nothing corpus-sized and no driver-side beam
    *    state; the driver only sees one tiny emptiness check per round. The
    *    query table is broadcast twice per round (frontier semi-join and
    *    distance lookup), so it must be broadcast-sized — shard and union
    *    beyond ~10^5 queries, as with [[AnnIndex.probeTopKBatch]].
    *
    * Output: `(qidCol, rank, idCol, cos_dist)`, rank 1-based per query by
    * (dist asc NULLS LAST, id asc) — the [[AnnIndex.probeTopKBatch]] shape.
    * Preconditions: numeric query ids, `edges` built over the same
    * corpus/stride. Query ids must be distinct: the driver route rejects
    * duplicates with an `IllegalArgumentException`; the join route does not
    * check, and would merge the duplicates' visited sets.
    *
    * EXECUTION CONTRACT: this call is EAGER, not a lazy plan builder. Both
    * routes run Spark jobs at call time — the driver route collects the
    * query table head and drives the whole probe loop (inside a
    * [[withSessionConfs]] override window), and the join route
    * localCheckpoints every round — and both return a materialized
    * (checkpointed or driver-local) frame. Callers composing the result
    * into a larger plan get a scan of that materialized state, not a
    * deferred probe; the probe's (queries × beam)-bounded output makes
    * that the intended cost model at any corpus size.
    */
  def beamSearchTopKBatch(df: DataFrame, idCol: String, vecCol: String,
      edges: DataFrame, queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, stride: Int, beam: Int = DefaultBeam,
      rounds: Int = DefaultRounds): DataFrame = {
    require(k > 0 && beam > 0 && rounds >= 0,
      s"invalid probe: k=$k beam=$beam rounds=$rounds")
    // Route GATE-SIZED batches (≤ beam queries, double vectors) through the
    // driver loop: the join shape's per-round wall at tiny batch sizes is
    // FIXED driver scheduling (checkpoint + window + dedup jobs per round),
    // not data — measured 2.24 s for 3 queries, where the driver loop lands
    // well under 1 s. The two shapes are row-identical (spec-asserted);
    // beyond `beam` queries the join shape's amortization wins and driver
    // maps stop being the model-artifact cost class.
    queries.schema(qvecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, _) =>
        val head = SizeRoute.collectAtMost(
          queries.select(col(qidCol).cast("long"), col(qvecCol)), beam)
        // NULL ids/vectors stay on the join shape: getLong would silently
        // read a NULL id as 0 and alias it with a real query 0
        if (head.exists(_.forall(r => !r.isNullAt(0) && !r.isNullAt(1))))
          // Whole-stage codegen + AQE OFF for the loop's micro-jobs: an IN
          // list is inlined into generated code and differs every round,
          // so each frontier-sized collect would pay a fresh janino
          // compilation (measured ~100 ms/job), and AQE adds query-stage
          // jobs. Interpreted eval of the SAME expressions is bit-identical
          // and instant on frontier-sized inputs.
          return withSessionConfs(df.sparkSession,
              "spark.sql.codegen.wholeStage" -> "false",
              "spark.sql.adaptive.enabled" -> "false") {
            probeLoop(df, idCol, vecCol, edges,
              head.get.map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq)).toSeq,
              qidCol, k, stride, beam, rounds)
          }
      case _ =>
    }
    beamSearchTopKBatchJoin(df, idCol, vecCol, edges, queries, qidCol,
      qvecCol, k, stride, beam, rounds)
  }

  /** Serializes every graft conf-override window on a session (probe loops
    * clamp shuffle partitions / disable AQE+codegen for their driver-sized
    * micro-jobs). The monitor makes overlapping graft callers impossible —
    * without it, two concurrent probes could interleave set/restore and
    * leave the session with the wrong persistent conf after an exception.
    * The overrides are still SESSION-visible for the duration: a concurrent
    * NON-graft query on the same SparkSession (parallel bench, streaming
    * ingest) that plans inside the window runs with them; callers needing
    * full isolation should probe on their own SparkSession. Every body run
    * here materializes its result (localCheckpoint / driver state) before
    * returning, so nothing escapes the window lazily.
    */
  private val confWindowLock = new Object
  private def withSessionConfs[A](spark: org.apache.spark.sql.SparkSession,
      kvs: (String, String)*)(body: => A): A = confWindowLock.synchronized {
    val prev = kvs.map { case (key, _) => key -> spark.conf.get(key) }
    try { kvs.foreach { case (key, v) => spark.conf.set(key, v) }; body }
    finally prev.foreach { case (key, v) => spark.conf.set(key, v) }
  }

  /** The join-shape batch probe — all per-round state in (queries × beam)-
    * bounded engine frames; the scale path for large query tables (see
    * [[beamSearchTopKBatch]], which routes here beyond `beam` queries).
    */
  private[graft] def beamSearchTopKBatchJoin(df: DataFrame, idCol: String,
      vecCol: String, edges: DataFrame, queries: DataFrame, qidCol: String,
      qvecCol: String, k: Int, stride: Int, beam: Int = DefaultBeam,
      rounds: Int = DefaultRounds): DataFrame = {
    val q = broadcast(queries.select(col(qidCol).cast("long").as("__qid"),
      col(qvecCol).as("__qv")))
    val vecs = df.select(col(idCol).cast("long").as("__nid"), col(vecCol).as("__nv"))
    val wq = Window.partitionBy(col("__qid"))
      .orderBy(col("__d").asc_nulls_last, col("__nid").asc)
    // Per-round state is localCheckpoint'd, not persisted: every round's
    // frames reference the previous round's visited AND expanded, so
    // without lineage truncation the logical plan compounds per round
    // (same growth `Dedup.components` truncates) — at DefaultRounds=4 the
    // un-truncated tree already OOMs the driver just STRINGIFYING the
    // plan. Eager localCheckpoint bounds every round's plan at depth one;
    // superseded checkpoint blocks are released by the ContextCleaner.
    // `expanded` needs NO checkpoint of its own: it is a union of ≤rounds
    // already-checkpointed frontiers — depth-one lineage by construction —
    // which saves one materializing job per round.
    //
    // Every state frame is (queries × beam)-bounded, so the loop's
    // shuffles (windows, anti-joins, the min-dedup groupBy) run with a
    // CLAMPED partition count: at the session default (e.g. 200, or 32 in
    // the bench) each tiny state shuffle pays task-scheduling overhead
    // that dominates the probe wall-clock in local mode. The corpus-sized
    // work (edge/vector scans) is broadcast-join probed, so its scan
    // parallelism comes from the file splits, not this conf.
    val spark = df.sparkSession
    val clamped =
      math.min(spark.conf.get("spark.sql.shuffle.partitions").toInt, 8).toString
    // AQE off for the loop: every round's state frames are already
    // (queries x beam)-bounded with a clamped partition count, so AQE
    // can only re-plan trivial shuffles — but each re-plan is an extra
    // driver round-trip of query-stage jobs PER ROUND, and the loop's
    // wall-clock is pure scheduling at gate size. Restored (and serialized
    // against concurrent graft probes) by withSessionConfs.
    withSessionConfs(spark,
        "spark.sql.shuffle.partitions" -> clamped,
        "spark.sql.adaptive.enabled" -> "false") {
      var round = 0
      // entry: per query, the beam nearest centroids (the cross product is
      // (n/stride × queries) rows against the broadcast query table)
      var visited = df.where(pmod(col(idCol), lit(stride)) === 0)
        .select(col(idCol).cast("long").as("__nid"), col(vecCol).as("__nv"))
        .crossJoin(q)
        .select(col("__qid"), col("__nid"),
          array_cosine_distance(col("__nv"), col("__qv")).as("__d"))
        .withColumn("__rn", row_number().over(wq))
        .where(col("__rn") <= beam).drop("__rn")
        .localCheckpoint()
      var frontiers = Vector.empty[DataFrame] // checkpointed, per round
      def expanded: DataFrame =
        if (frontiers.isEmpty) null else frontiers.reduce(_ union _)
      var done = rounds == 0
      while (!done) {
        round += 1
        val exp = expanded
        // Convergence gate + frontier in ONE pass (round 1 always runs —
        // expanded empty). A query stays active while some current-top-k
        // node is unexpanded; its frontier is the best `beam` unexpanded
        // nodes. Both derive from window flags over the SAME per-query
        // partitioning — one broadcast left-join against the expanded set
        // and one sort, instead of the semi/anti-join cascade whose
        // per-round broadcast and AQE-stage jobs dominate wall-clock in
        // local mode (measured 68 driver-scheduled jobs for 4 rounds).
        val marked =
          if (exp == null) visited.withColumn("__x", lit(null).cast("int"))
          // frontiers are disjoint by construction (each excludes the
          // union of its predecessors), so the expanded set is duplicate-
          // free and the left join cannot fan out
          else visited.join(broadcast(exp.withColumn("__x", lit(1))),
            Seq("__qid", "__nid"), "left")
        val wqAll = Window.partitionBy(col("__qid"))
          .orderBy(col("__d").asc_nulls_last, col("__nid").asc)
        val frontier = marked
          .withColumn("__rk", row_number().over(wqAll))
          .withColumn("__live", max(when(col("__rk") <= k && col("__x").isNull, 1)
            .otherwise(0)).over(Window.partitionBy(col("__qid"))))
          .where(col("__x").isNull && col("__live") === 1)
          .withColumn("__rn", row_number().over(wqAll))
          .where(col("__rn") <= beam)
          .select(col("__qid"), col("__nid"))
          .localCheckpoint()
        if (frontier.isEmpty) { // all queries converged (or stalled): stop
          done = true
        } else {
          frontiers :+= frontier
          val reached = edges
            .join(broadcast(frontier.select(col("__qid").as("__fq"),
              col("__nid").as("__fid"))), col("src") === col("__fid"))
            .select(col("__fq").as("__qid"), col("dst").as("__nid")).distinct()
          val scored = vecs
            .join(broadcast(reached), Seq("__nid"))
            .join(q, Seq("__qid"))
            .select(col("__qid"), col("__nid"),
              array_cosine_distance(col("__nv"), col("__qv")).as("__d"))
          visited = visited.union(scored)
            .groupBy(col("__qid"), col("__nid")).agg(min(col("__d")).as("__d"))
            .localCheckpoint()
          if (round >= rounds) done = true
        }
      }
      probeRounds.set(round)
      visited
        .withColumn("__rn", row_number().over(wq))
        .where(col("__rn") <= k)
        .select(col("__qid").as(qidCol), col("__rn").cast("long").as("rank"),
          col("__nid").as(idCol), col("__d").as("cos_dist"))
        // the caller consumes this OUTSIDE the conf clamp — pin the final
        // ranked frame so its window also runs on the clamped state size
        .localCheckpoint()
    }
  }

  /** Single-query point probe — row-identical to [[beamSearchTopK]]
    * (spec-asserted): [[probeLoop]], the driver loop behind gate-sized
    * [[beamSearchTopKBatch]] calls, run with one query. The beam state is
    * held on the driver, bounded by construction at
    * ≤ beam + beam·degree·rounds (id, distance) pairs — a few hundred rows
    * REGARDLESS of corpus size, the same per-query working set an
    * in-process HNSW library keeps — so holding it driver-side is the
    * model-artifact cost class, not a collect of data. On a store the
    * driver also holds the loaded buckets' edges (see [[bucketExpansion]]).
    * Distances are still computed by the engine's codegen'd expression —
    * the driver only orders already-computed (distance, id) pairs, so the
    * probe shapes cannot drift. Jobs per call: one entry job (top-`beam`
    * over the centroids), then per round ≤ 1 job on a [[fromMaterialized]]
    * store (plus one unpruned scan in a round that expands a degenerate
    * centroid) or 2 jobs on a plain `(src, dst)` frame ([[buildEdges]]).
    * No session conf is touched.
    *
    * Use [[beamSearchTopKBatch]] when probing a BATCH of queries in one
    * pass (its rounds amortize across queries); use this for the
    * single-query / low-latency path.
    */
  def pointProbeTopK(df: DataFrame, idCol: String, vecCol: String,
      edges: DataFrame, qvec: Array[Double], k: Int, stride: Int,
      beam: Int = DefaultBeam, rounds: Int = DefaultRounds): DataFrame = {
    require(k > 0 && beam > 0 && rounds >= 0,
      s"invalid probe: k=$k beam=$beam rounds=$rounds")
    // renamed by position: idCol may equal any fixed column name
    probeLoop(df, idCol, vecCol, edges, Seq(0L -> qvec.toSeq), "__qid", k,
        stride, beam, rounds)
      .toDF("__qid", "__rank", "__nid", "__d")
      .select(col("__nid").as(idCol), col("__d").as("cos_dist"))
  }

  private def distAt(r: org.apache.spark.sql.Row, i: Int): java.lang.Double =
    if (r.isNullAt(i)) null else java.lang.Double.valueOf(r.getDouble(i))

  /** The driver-loop probe over Q ≥ 1 queries (distinct ids), with each
    * query's beam state in a driver map. Entry: per query, one top-`beam`
    * job over the centroids. Each round takes every query's frontier — its
    * best `beam` visited-but-unexpanded nodes, or none once the query has
    * [[converged]] — and expands their union in one step, routed on the
    * edge frame's columns: [[bucketExpansion]] for a [[fromMaterialized]]
    * store (`__bucket` present); for a plain `(src, dst)` frame, one edge
    * read of the union frontier, then one corpus read of the newly reached
    * ids with one distance column per query that reached any. Returns a
    * driver-local `(qidCol, rank, idCol, cos_dist)` frame, rank 1-based per
    * query by (dist asc NULLS LAST, id asc).
    */
  private def probeLoop(df: DataFrame, idCol: String, vecCol: String,
      edges: DataFrame, queries: Seq[(Long, Seq[Double])], qidCol: String,
      k: Int, stride: Int, beam: Int, rounds: Int): DataFrame = {
    import scala.collection.mutable
    require(queries.map(_._1).distinct.size == queries.size,
      "graph probe query ids must be distinct")
    val qs = queries.map { case (_, v) => typedLit(v) }
    val visited = queries.map(_ => mutable.HashMap.empty[Long, java.lang.Double])
      .toIndexedSeq
    val expanded = queries.map(_ => mutable.HashSet.empty[Long]).toIndexedSeq
    // (distance asc NULLS LAST, id asc) — the join shape's exact sort key.
    // java.lang.Double.compare is NaN-largest like Spark's ordering, and
    // cos_dist never produces -0.0 (1 - 1 = +0.0), so exact double
    // comparison of engine-computed values is drift-free.
    def ranked(i: Int): Seq[(Long, java.lang.Double)] = visited(i).toSeq
      .sortBy { case (id, d) => (d == null, if (d == null) 0d else d.doubleValue, id) }
    for ((q, i) <- qs.zipWithIndex)
      df.where(pmod(col(idCol), lit(stride)) === 0)
        .select(col(idCol).cast("long").as("__nid"),
          array_cosine_distance(col(vecCol), q).as("__d"))
        .orderBy(col("__d").asc_nulls_last, col("__nid").asc)
        .limit(beam)
        .collect().foreach(r => visited(i)(r.getLong(0)) = distAt(r, 1))
    // tabu on scoring: a node's distance is a pure function of (query, id),
    // so skipping already-visited ids is identical to the join shape's
    // union + min-groupBy dedup
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
            .select(col("__nid") +: active.map(i =>
              array_cosine_distance(col("__nv"), qs(i))): _*)
            .collect().foreach { r =>
              val nid = r.getLong(0)
              for ((i, c) <- active.zipWithIndex if reached(i)(nid))
                visited(i)(nid) = distAt(r, c + 1)
            }
      }
    // HNSW convergence (shared [[converged]] rule — identical to the join
    // shape and the oracle's frontier guard): a query stops once every node
    // of its current top-k has been expanded; the rest keep walking
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
    val top = visited.indices.flatMap(i => ranked(i).take(k).zipWithIndex.map {
      case ((id, d), r) => org.apache.spark.sql.Row(queries(i)._1, r + 1L, id, d)
    })
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    df.sparkSession.createDataFrame(top.asJava, StructType(Seq(
      StructField(qidCol, LongType, nullable = false),
      StructField("rank", LongType, nullable = false),
      StructField(idCol, LongType, nullable = false),
      StructField("cos_dist", DoubleType, nullable = true))))
  }

  /** [[probeLoop]]'s round step over a [[fromMaterialized]] frame: scores
    * the out-neighbors of each query's frontier into its `visited` map.
    * Member edges never leave their bucket, so a member node's out-edges
    * all lie in the bucket it was reached through, and a centroid-level
    * node (an id divisible by `stride`) is looked up in its own-id bucket.
    * Each round loads, in ONE job, every bucket of the frontier union not
    * loaded yet — whole `__bucket` partitions by partition pruning, plus
    * those centroids' centroid-level out-edges — with one engine-computed
    * distance column per query of the probe on every loaded row; a round
    * whose frontiers sit in loaded buckets runs no job. Every query vector
    * and the bucket set are array literals, so the probe keeps one compiled
    * stage shape. A centroid whose own bucket holds no member edge from it
    * costs one more, unpruned `src` scan: a duplicate or zero-vector
    * centroid (assigned to the lowest tied centroid, leaving its own bucket
    * empty) or a singleton bucket. Driver state beyond the beams is loaded
    * buckets × bucket rows × degree edges, each two ids and Q distances —
    * independent of the vector dimension.
    */
  private def bucketExpansion(edges: DataFrame, qs: Seq[Column], stride: Int,
      visited: IndexedSeq[scala.collection.mutable.HashMap[Long, java.lang.Double]])
      : IndexedSeq[Seq[Long]] => Unit = {
    import scala.collection.mutable
    // src -> (dst, per-query distances, dst's bucket — NULL on a
    // centroid-level edge)
    val out = mutable.HashMap.empty[Long,
      mutable.ArrayBuffer[(Long, Array[java.lang.Double], java.lang.Long)]]
    val bucketOf = mutable.HashMap.empty[Long, Long] // member nodes, as reached
    val loaded = mutable.HashSet.empty[Long]
    val held = mutable.HashSet.empty[Long] // srcs whose member edges are in `out`
    def fetch(cond: Column): Unit =
      edges.where(cond)
        .select(Seq(col("src"), col("dst"), col(BucketCol)) ++
          qs.map(array_cosine_distance(col(DstVecCol), _)): _*)
        .collect().foreach { r =>
          val src = r.getLong(0)
          val b = if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2))
          if (b != null) held += src
          out.getOrElseUpdate(src, mutable.ArrayBuffer.empty) +=
            ((r.getLong(1), Array.tabulate(qs.size)(i => distAt(r, 3 + i)), b))
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
        if (!visited(i).contains(dst)) visited(i)(dst) = ds(i)
        if (b != null) bucketOf(dst) = b
      }
    }
  }
}
