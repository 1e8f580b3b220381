package graft.ops

import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.LongType

/** Size routes: each place where a driver-side copy of an algorithm beats
  * the distributed plan on small inputs. Every route takes the small copy
  * iff the MEASURED size ≤ the bound, measured by a bounded probe
  * ([[atMost]], [[collectAtMost]]) or, on a frame read in full anyway (a
  * pin the route materializes, or one narrow pass), by the one
  * [[collectWithin]] job that also collects it. The named
  * [[Bound]]s are the route registry, which also holds the one chunk
  * bound of a driver loop ([[GraphProbeQueries]]); tests force a bound
  * with [[withBounds]].
  */
private[graft] object SizeRoute {

  /** A registered route bound, in rows (or edges, or estimated bytes) of
    * the measured frame.
    */
  final case class Bound(name: String, default: Int)

  /** Edges up to which a pinned (symmetric) edge set is labeled by a
    * driver union-find instead of the distributed fixpoint
    * ([[Dedup.components]], [[Dedup.labelMicroGraph]]): one collect instead
    * of ~3 driver-blocking jobs per propagation round. The key is a
    * measured count, not a constant tuned to one scale. Driver-heap
    * footprint at 2^20: the collected 2-long Rows plus the boxed-Long
    * union-find map, roughly 100–200 MB transiently — sized for a default
    * 1–2 GB driver (2^22 meant several hundred MB at the boundary).
    */
  val GraphLabelEdges = Bound("graph-label-edges", 1 << 20)

  /** Adjacency rows up to which [[Centrality.pageRankInt]] replays its
    * integer rank loop on the driver over the collected `(src, dst, deg)`
    * table: one bounded collect instead of `iters` chained shuffle rounds.
    * Driver-heap footprint at 2^20: the collected 3-long Rows plus two
    * |V|-sized HashMaps, roughly 150–250 MB transiently.
    */
  val PageRankRows = Bound("pagerank-adjacency-rows", 1 << 20)

  /** Input rows up to which [[Dedup.embedComponents]] takes the
    * representative pairs from the all-pairs [[SimilarityJoin.cosineJoinLsh]]
    * tier instead of the spanning tier: at gate scale the spanning tier's
    * typed per-bucket union-find costs ~2.3× the pure-codegen all-pairs
    * plan, while the near-dup quadratic it bounds is capped here at
    * 4096²/2 ≈ 8.4M verified pairs.
    */
  val EmbedAllPairsRows = Bound("embed-all-pairs-rows", 1 << 12)

  /** Distinct words up to which [[Subword.bpeTrain]] runs its merge loop
    * on the driver over the collected `(word, count)` table: one bounded
    * collect instead of one aggregate job per merge round. The word table
    * is vocabulary-sized at any corpus scale (Heaps' law).
    */
  val BpeWords = Bound("bpe-words", 1 << 20)

  /** Queries per chunk of [[GraphAnn.beamSearchTopKBatch]]: the query
    * table is collected and probed this many queries at a time, each chunk
    * one driver loop. It bounds the loop's driver state, which carries one
    * distance per chunk query on every centroid row (entry) and every
    * loaded edge row (rounds). A bound of 0 probes one query per chunk.
    */
  val GraphProbeQueries = Bound("graph-probe-queries", 64)

  /** Estimated heap bytes of a shingled ingest batch's [[BatchPostings]]
    * index (weighed row by row with [[BatchPostings.weight]]) up to which
    * [[Dedup.batchPairs]] holds the batch on the driver: its pairs then
    * come from the index, within the batch on the driver and against the
    * at-rest shingles in one narrow scan, instead of the shuffled
    * [[Dedup.jaccardJoin]] and [[Dedup.jaccardJoinAgainst]]. The index
    * has one copy on the driver and one in each task of that scan. The
    * bound is the measured crossover (`graft.tools.IngestRouteSweep`,
    * `plans/r23/cluster_epoch_ab.md` §5): one epoch against 2,000 at-rest
    * docs ran faster through the index at every measured weight up to
    * 17 MB, and the shuffled joins caught up at about 21 MB for 24-shingle
    * docs and 68 MB for 960-shingle docs. 16 MiB is about 2,400 rows of
    * 24-shingle docs or 60 of 960-shingle docs.
    */
  val IngestBatchBytes = Bound("ingest-batch-bytes", 1 << 24)

  /** Bytes of an IVF store's centroid table (`AnnIndex.materialize`
    * writes it as text) up to which an open holds the table on the
    * driver: a probe then ranks the centroids with no Spark job, and
    * append and delete carry the table in the plan as two compact
    * literals. Above it, each probe ranks with one distributed
    * top-`nprobe` job over the stored table, and assignment aggregates the
    * table into one broadcast row (two jobs more). The bound is the
    * measured crossover (`graft.tools.IvfRouteSweep`,
    * `plans/r24/ivf_store_ab.md` §6): a fresh open plus probe and a
    * 40-vector append ran faster held at every table size up to 1.7 MB,
    * the routes tied at 4.6 MB (64-dim centroids), and the Spark-read
    * table won at 6.8 MB (768-dim). 4 MiB is about 6,000 64-dim or 500
    * 768-dim float centroids.
    */
  val IvfCentroidBytes = Bound("ivf-centroid-bytes", 1 << 22)

  /** Deleted ids up to which a bucket-table delete
    * ([[IndexManifests.deleteRows]]: the IVF store and the IVF-PQ code
    * table) collects its `(id, bucket)` pairs in the job that pins them;
    * they then become tombstones ([[PendingRows]]), or fold into the
    * touched buckets as one sorted id array in the plan. Above it, the
    * touched buckets come from the pin in a job of their own and the
    * rewrite anti-joins the pin. The driver route ran as fast or faster at
    * every measured size when both rewrote buckets
    * (`graft.tools.IvfRouteSweep deletes`, `plans/r24/ivf_store_ab.md` §7:
    * 100 to 8,000 ids against 64,000 and 96,000 64-dim vectors), so the
    * bound is a memory bound: 65,536 pairs are about 5 MB of collected rows
    * on the driver and a 512 KB id array in each rewrite task.
    */
  val DeleteIds = Bound("delete-ids", 1 << 16)

  /** Pending delta rows plus tombstones up to which a bucket table (the
    * IVF store and the IVF-PQ code table) keeps a batch's writes in its
    * manifest ([[IndexManifests.appendRows]], [[IndexManifests.deleteRows]]):
    * an append is then one delta file and a delete a manifest publish, and
    * every read adds the delta files of its buckets and filters the
    * tombstoned ids. Past it, the pending writes fold into the buckets
    * ([[IndexManifests.fold]]); the number of delta files is capped apart
    * from it, by Spark's parallel-listing threshold. The bound is set from
    * a sweep on 64,000 64-dim vectors in 500 buckets
    * (`graft.tools.IvfRouteSweep pending`, `plans/r26/ivf_delta_ab.md` §2):
    * a fresh open plus probe stayed one job and went 145 → 167 → 208 ms at
    * 278, 1,073 and 3,180 pending rows (6, 22 and 64 delta files of
    * ingest-sized epochs), then 390 ms and two jobs at 6,360 (128 files);
    * a fold took 4.7 s for 1,000 appended rows and 500 tombstones and
    * 6.1 s for 4,000 and 2,000, so the larger bound folds four times the
    * writes for 1.3× the wall. A delete of 1,000 ids is then one tombstone
    * publish.
    */
  val PendingRows = Bound("pending-rows", 4096)

  val Registry: Seq[Bound] =
    Seq(GraphLabelEdges, PageRankRows, EmbedAllPairsRows, BpeWords,
      GraphProbeQueries, IngestBatchBytes, IvfCentroidBytes, DeleteIds, PendingRows)

  private val forced = new DynamicVariable(Map.empty[Bound, Int])

  /** The bound in effect: the constant, unless [[withBounds]] forced it. */
  def apply(b: Bound): Int = forced.value.getOrElse(b, b.default)

  /** Test-only: run `body` with the given bounds in place of the constants
    * (scoped to this thread and the threads it starts).
    */
  private[graft] def withBounds[A](bounds: (Bound, Int)*)(body: => A): A =
    forced.withValue(forced.value ++ bounds)(body)

  /** True iff `df` has at most `n` rows, reading at most n + 1 of them (one
    * short-circuit job). `Int.MaxValue` answers true with no job.
    */
  def atMost(df: DataFrame, n: Int): Boolean = {
    require(n >= 0, s"size bound must be >= 0: $n")
    n == Int.MaxValue || df.limit(n + 1).count() <= n
  }

  /** `df`'s rows iff it has at most `n` of them, reading at most n + 1. */
  def collectAtMost(df: DataFrame, n: Int): Option[Array[Row]] = {
    require(n >= 0, s"size bound must be >= 0: $n")
    val rows = if (n == Int.MaxValue) df.collect() else df.limit(n + 1).collect()
    if (rows.length <= n) Some(rows) else None
  }

  /** `df`'s rows iff their summed `weight` is at most `bound`, in ONE job
    * that computes every partition in full — for a pinned frame, the job
    * that materializes the pin, so the distributed route reads the pin
    * too. A task returns its rows only while their running weight stays
    * within the bound, so the driver receives at most `bound` of weight
    * per partition and keeps at most `bound` in all. A frame already on
    * the driver (a LocalRelation) answers with no job. Rows come in
    * partition order. The job is a plain RDD job (no SQL execution id), as
    * an eager checkpoint's is. Unlike [[collectAtMost]]'s limit probe it
    * cannot stop early on a frame over the bound, so it suits a frame that
    * is read in full anyway: a pin, or a narrow pass that the limit probe
    * would scan in several growing jobs.
    */
  def collectWithin(df: DataFrame, bound: Long, weight: Row => Long): Option[Array[Row]] = {
    require(bound >= 0, s"size bound must be >= 0: $bound")
    def within(rows: Array[Row]) =
      Some(rows).filter(_.iterator.map(weight).sum <= bound)
    if (df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      return within(df.collect())
    val rdd = df.rdd
    val parts = new Array[Array[Row]](rdd.getNumPartitions)
    var total = 0L
    df.sparkSession.sparkContext.runJob(rdd, (it: Iterator[Row]) => {
        val out = Array.newBuilder[Row]
        var w = 0L
        while (w <= bound && it.hasNext) {
          val r = it.next()
          w += weight(r)
          if (w <= bound) out += r
        }
        (w, if (w <= bound) out.result() else Array.empty[Row])
      }, (i: Int, res: (Long, Array[Row])) => {
        total += res._1
        if (total <= bound) parts(i) = res._2
        else parts.indices.foreach(parts(_) = null)
      })
    if (total <= bound) Some(parts.flatten) else None
  }

  /** Byte ceiling for the driver-route collects ([[Dedup.labelMicroGraph]],
    * [[Centrality.pageRankInt]]): the row-count cap alone cannot see row
    * WIDTH, so a pinned edge/adjacency set whose materialized cache
    * already exceeds this is kept on the distributed path regardless of
    * its row count — a mid-size graph just under the row cap must not OOM
    * a 1–2 GB production driver (r19 ADVICE). 256 MB of columnar-cached
    * longs is ~10× the worst case the 2^20-row cap admits (2–3 long
    * columns ≈ 16–24 MB), so this only fires on estimation anomalies or
    * unexpectedly wide rows, never on the measured gate/rung regimes.
    */
  val DriverRouteMaxBytes: Long = 256L << 20

  /** [[org.apache.spark.sql.graftshim.SparkShims.cachedEntry]], or None
    * when the lookup fails (e.g. a stopped session).
    */
  def cachedEntry(df: DataFrame): Option[(AnyRef, Long)] =
    try org.apache.spark.sql.graftshim.SparkShims.cachedEntry(df)
    catch { case _: Throwable => None }

  /** True when `df`'s materialized cache is under [[DriverRouteMaxBytes]].
    * Checkpoint-pinned frames have no cache entry (None) and unmaterialized
    * caches size 0 — both pass, leaving the row cap as the only bound
    * there ([[driverRows]] reads this right after the job that
    * materializes the persist branch, so the loaded size is live exactly
    * where the byte risk is).
    */
  def underDriverByteBound(df: DataFrame): Boolean =
    cachedEntry(df).forall(_._2 <= DriverRouteMaxBytes)

  /** The driver-route gate on an already-PINNED frame, and the collect
    * behind it, in ONE job ([[collectWithin]]): its rows iff every column
    * is long (checked first, so a non-long frame runs no job), it has at
    * most the route's bound of rows, and its cache is under
    * [[DriverRouteMaxBytes]].
    */
  def driverRows(pinned: DataFrame, route: Bound): Option[Array[Row]] =
    if (!pinned.schema.fields.forall(_.dataType == LongType)) None
    else collectWithin(pinned, apply(route), _ => 1L).filter(_ => underDriverByteBound(pinned))
}
