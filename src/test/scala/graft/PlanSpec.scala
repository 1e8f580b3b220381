package graft

import org.apache.spark.sql.functions._

import graft.functions._
import graft.search.{HashingEmbedder, VectorSearchClient}

/** Physical-plan shape assertions (VERDICT round-1 item 4): the scale
  * guarantees must be visible in the executed plan, not just claimed.
  */
class PlanSpec extends SparkTestBase {

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def qvec: Array[Double] =
    emb.orderBy("vec_id").select("embedding").head().getSeq[Float](0)
      .map(_.toDouble).toArray

  test("top-k by distance plans as TakeOrderedAndProject (no global sort)") {
    val plan = emb
      .select(col("vec_id"),
        array_cosine_distance(col("embedding"), typedLit(qvec.toSeq)).as("d"))
      .orderBy(col("d").asc_nulls_last, col("vec_id").asc)
      .limit(10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("search back-join reads the corpus once through an id filter (no corpus shuffle)") {
    val client = VectorSearchClient.fromEmbedded(
      docs.select("doc_id", "text"),
      emb.withColumnRenamed("vec_id", "doc_id"),
      "doc_id", HashingEmbedder(64))
    // the search is eager: record the plans of the actions it runs
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      client.searchByVector(qvec, 10)
      org.apache.spark.ListenerDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val all = plans.asScala.toSeq
    val corpusReads = all.filter(_.contains("documents.parquet"))
    assert(corpusReads.size == 1, all.mkString("\n----\n"))
    assert(corpusReads.head.contains("doc_id") &&
      corpusReads.head.contains("PushedFilters: [In(doc_id"), corpusReads.head)
    all.foreach { plan =>
      assert(!plan.contains("Exchange"), plan)
      assert(!plan.contains("SortMergeJoin"), plan)
    }
  }

  test("distance expression runs inside WholeStageCodegen over a parquet scan") {
    val df = emb.select(
      array_cosine_distance(col("embedding"), typedLit(qvec.toSeq)).as("d"))
    val plan = df.queryExecution.executedPlan.toString
    // '*(n)' prefix marks codegen stages; the Project carrying the distance
    // must be inside one.
    assert(plan.linesIterator.exists(l =>
      l.contains("Project") && l.trim.startsWith("*")), plan)
  }

  test("parquet scan prunes columns for narrow projections") {
    val df = docs.select("doc_id")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<doc_id:bigint>"), scan)
  }

  test("filter pushdown reaches the parquet scan") {
    val df = docs.where(col("lang") === "en").select("doc_id")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"), plan)
  }

  test("inline language ID plans as a pure projection — no aggregate/join shuffle") {
    val df = docs.select(col("doc_id"),
      graft.ops.TextOps.langGuess(graft.ops.TextOps.tokens(col("text"))).as("g"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Generate"), plan) // no explode anywhere
  }

  test("stratified sampling is a scan-side filter — no shuffle, no join") {
    val df = graft.ops.Sampling.stratified(docs, col("lang"), col("doc_id"),
      buckets = 100, fractions = Map("en" -> 10), defaultKeep = 20)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("incremental dedup joins on the shingle equi-key — never a nested loop") {
    val sh = docs.select(col("doc_id"),
      graft.ops.TextOps.wordNGrams(col("text"), 3).as("sh"))
    val pairs = graft.ops.Dedup.jaccardJoinAgainst(
      sh.where(col("doc_id") % 2 === 1), sh.where(col("doc_id") % 2 === 0),
      "doc_id", "sh", 0.5)
    pairs.collect()
    val plan = pairs.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("ANN centroid assignment is a broadcast join, not O(centroids) literals") {
    // VERDICT r2 item 3: the old build collected centroids to the driver and
    // inlined one struct literal per centroid into an array_min argmin — plan
    // size grew linearly with centroid count. The plan must now carry the
    // centroids as a broadcast relation: constant-size expression tree.
    def planFor(stride: Int): String =
      graft.ops.AnnIndex.build(emb, "vec_id", "embedding", stride)
        .probeTopK(qvec, 5, nprobe = 2)
        .queryExecution.executedPlan.toString
    val p64 = planFor(64)
    assert(p64.contains("BroadcastNestedLoopJoin") || p64.contains("BroadcastExchange"), p64)
    assert(!p64.contains("array_min"), p64)
    // 8x the centroids must not inflate the plan (literal argmin would)
    val p8 = planFor(8)
    assert(math.abs(p8.length - p64.length) < p64.length / 4,
      s"plan size scales with centroids: stride64=${p64.length} stride8=${p8.length}")
  }

  test("PQ fused probe: broadcast codebooks, one aggregate, TakeOrdered cut") {
    val plan = graft.ops.ProductQuantizer.adcRerankTopK(
        emb, "vec_id", "embedding", qvec, k = 5,
        graft.ops.ProductQuantizer.PqSpec(m = 8, dsub = 8, stride = 64),
        overfetch = 50)
      .queryExecution.executedPlan.toString
    // codebooks reach the scan as a broadcast, never a shuffled join side
    assert(plan.contains("BroadcastExchange"), plan)
    // the candidate cut is a bounded TakeOrdered, not a global Sort
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // fused path: exactly one aggregate pair (partial+final) computes
    // argmin+ADC — the separate encode/distance-table stages are gone
    val nAggs = "HashAggregate|ObjectHashAggregate|SortAggregate".r
      .findAllIn(plan).size
    assert(nAggs <= 2, s"expected one fused aggregate (partial+final), plan has $nAggs:\n$plan")
  }

  test("group-average filter shuffles the data ONCE (window partitioning reused by the aggregate)") {
    // orders_above_cust_avg: the groupBy+self-join shape would exchange
    // the orders table twice (and its agg side stops being broadcastable
    // at customer scale); the window shape must show exactly one
    // hash-partitioning exchange, with the final groupBy riding on it.
    val plan = graft.SparkEntry.queries("orders_above_cust_avg")(
        spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val nHash = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(nHash == 1, s"expected exactly 1 data exchange, found $nHash:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"), plan)
  }

  test("batched brute-force top-k: broadcast queries, bounded-heap agg, no cartesian shuffle") {
    // the (query x corpus) distance table must NEVER be shuffled: the
    // query side broadcasts into a nested-loop/cross join and the ONLY
    // hash exchange is the k-bounded per-query heap aggregate
    val queries = emb.where(col("vec_id").isin(1L, 2L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val plan = graft.ops.SimilarityJoin.bruteForceTopKBatch(
        emb, "vec_id", "embedding", queries, "qid", "qvec", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
    assert(plan.contains("ObjectHashAggregate"), plan) // TopKByScore heap
    val nHash = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(nHash <= 2, s"expected <= 2 hash exchanges (partial/final agg), found $nHash:\n$plan")
  }

  test("filtered vector search pushes the label predicate into the parquet scan") {
    val queries = emb.where(col("vec_id") === 1)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val plan = graft.ops.SimilarityJoin.bruteForceTopKBatch(
        emb.where(col("label") === 3), "vec_id", "embedding",
        queries, "qid", "qvec", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(label,3)"), plan) // in PushedFilters
  }

  test("segment dedup: scan-side explode, dup census + reassembly are the only wide ops") {
    val plan = graft.ops.Dedup.segmentDedup(docs, "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    // no pairwise anything: the duplicated-hash side joins back on the
    // segment-hash equi-key (broadcast or hash — never nested loop)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("Generate posexplode"), plan) // segmentation is scan-side
  }

  test("snapshot delta plans one full-outer equi-join on the id") {
    val plan = graft.ops.SnapshotDelta.delta(docs, docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("FullOuter"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("jaccard-family gates compose the hot-shingle guard by default") {
    // The 100 TB posture depends on every jaccard-derived pipeline carrying
    // Dedup.dropHotShingles (one boilerplate shingle makes the banded join
    // bucket²) — assert the guard's hot-list filter is IN the gate plans,
    // not just available as a separate op.
    // The guard composes as a codegen'd array_except against the
    // once-per-corpus hot list literal (an in-plan HOF filter measured
    // 3-10× gate wall). Components/centrality gates checkpoint away their
    // lineage, so assert on gates whose final plan keeps the scan side.
    for (gate <- Seq("minhash_lsh_pairs", "near_dedup_survivors",
        "ngram_jaccard_join", "minhash_calibration")) {
      val plan = graft.SparkEntry.queries(gate)(spark, "/root/testdata/sf0.001")
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("array_except"),
        s"$gate plan lacks the hot-shingle set-subtract:\n$plan")
    }
  }

  test("incremental components: micro result is a LocalRelation, relabel join is the only label-state pass") {
    val sp = spark
    import sp.implicits._
    val labels = graft.ops.Dedup.components(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b"), "doc_id")
      .localCheckpoint()
    // the public entrypoint pins its output (localCheckpoint) and releases
    // its caches, which hides the plan behind a LogicalRDD — assert the
    // shape on the lazy builder it wraps
    val (out, caches) = graft.ops.Dedup.incrementalComponentsPlan(labels,
      "doc_id", Seq((11L, 2L), (20L, 21L)).toDF("a", "b"))
    val plan = out.queryExecution.optimizedPlan.toString
    // the batch-sized micro fixpoint resolved driver-side: its labeling
    // enters the plan as a bounded LocalRelation, so the only remaining
    // joins are the relabel/fresh passes over the label state — a scan of
    // the at-rest labels, never of any edge set
    assert(plan.contains("LocalRelation"), plan) // bounded driver result
    assert(!plan.toLowerCase.contains("cartesian"), plan)
    // correctness of the planted merge rides along
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(11L) == 1L && got(3L) == 1L && got(20L) == 20L, got)
    caches.foreach(_.unpersist())
  }

  test("classifier scoring joins the broadcast weight table — corpus never shuffles on token") {
    val w = graft.ops.HashedClassifier.train(docs, "text",
      col("doc_id") % 2 === 0, 256)
    val plan = graft.ops.HashedClassifier.score(docs, "doc_id", "text", w, 256)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the only hash exchanges aggregate on bucket (weights) and doc id
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("embedComponents: map-side-combined group aggregate, broadcast expansion join") {
    // the r18 contraction's scale claims, visible in the plan: the
    // duplicate-group aggregate must HASH-aggregate with a partial map
    // side (a hot duplicate group then ships one row per map task, not
    // one per copy), and the member-expansion join must broadcast the
    // (contracted, small) label side rather than shuffling the member
    // table against it.
    val plan = graft.ops.Dedup.embedComponents(
        emb, "vec_id", "embedding", 0.55, 64)
      .queryExecution.executedPlan.toString
    // group-by-vector: hash/objecthash aggregate (array keys), never a
    // row-number window (which would shuffle + sort every copy)
    assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate"), plan)
    // expansion: the label side is k-distinct-vector-sized — broadcast
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }
}
