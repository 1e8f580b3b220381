package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.SparkShims
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.LongType

import graft.ops.{AnnIndex, Dedup, NotAmong, ProductQuantizer, SizeRoute}

/** Continuous corpus ingest with near-dup dedup — the streaming twin of the
  * `incremental_dedup` batch tier: documents arrive as a stream, each
  * micro-batch is deduped WITHIN itself and then AGAINST the static corpus,
  * and only survivors reach the sink.
  *
  * Implementation is `foreachBatch` over the proven batch operators rather
  * than a stateful streaming graph: near-dup dedup needs per-pair
  * aggregation and anti-joins whose streaming-native encodings would be
  * both stateful (unbounded pair state) and semantically weaker, while
  * `foreachBatch` gives every micro-batch the full batch API with
  * exactly-once sink semantics (epoch id). This is the documented
  * production pattern for batch-algorithm-on-a-stream, and it keeps
  * stream == batch BY CONSTRUCTION — the same `Dedup` functions run in both.
  *
  * Scale posture (unchanged from the batch tier): the corpus side is
  * prepared ONCE (shingled/banded, e.g. persisted or a bucketed table) and
  * never self-joined; per-epoch work is Σ_shingle |batch postings| ·
  * |corpus postings| — it scales with the BATCH, not the 100 TB corpus.
  */
object CorpusIngest {

  /** One micro-batch: keep-first dedup within the batch, then drop
    * everything near-duplicating the corpus. Pure batch function — the
    * streaming entrypoint below delegates here, and tests/oracles can call
    * it directly. Input frames carry (idCol, shingleCol, ...); survivors
    * keep the batch frame's full schema.
    */
  def processBatch(batch: DataFrame, corpusShingled: DataFrame, idCol: String,
      shingleCol: String, tau: Double): DataFrame = {
    val withinPairs = Dedup.jaccardJoin(
      batch.select(idCol, shingleCol), idCol, shingleCol, tau)
    val withinSurvivors = Dedup.survivors(batch, idCol, withinPairs)
    val crossPairs = Dedup.jaccardJoinAgainst(
      withinSurvivors.select(idCol, shingleCol), corpusShingled,
      idCol, shingleCol, tau)
    Dedup.incrementalSurvivors(withinSurvivors, idCol, crossPairs)
  }

  /** Start the continuous ingest: every micro-batch flows through
    * [[processBatch]] and `sink` receives (survivors, epochId) — write them
    * to the corpus store with epoch-idempotent semantics for exactly-once.
    *
    * `checkpoint` + `trigger` are the production file/Kafka-source shape:
    * a durable checkpoint makes the source's offset/commit logs survive
    * restarts (a re-started query resumes AFTER the last committed batch —
    * already-ingested files are never re-processed, and `sink` sees a
    * monotonically continuing epochId), and `Trigger.AvailableNow` drains
    * what the source currently has and stops — the scheduled-ingest-run
    * shape. Both default off for the in-memory test/gate harness.
    */
  def dedupedIngest(newDocs: DataFrame, corpusShingled: DataFrame,
      idCol: String, shingleCol: String, tau: Double,
      checkpoint: Option[String] = None,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    var w = newDocs.writeStream.outputMode("append")
    checkpoint.foreach(c => w = w.option("checkpointLocation", c))
    trigger.foreach(t => w = w.trigger(t))
    w.foreachBatch { (batch: DataFrame, epochId: Long) =>
        sink(processBatch(batch, corpusShingled, idCol, shingleCol, tau),
          epochId)
      }
      .start()
  }

  /** Continuous QUALITY-GATED ingest — the streaming twin of the
    * `classifier_quality` batch tier: every arriving micro-batch is scored
    * with the (pre-trained, broadcast) hashed-classifier weight table and
    * routed keep/drop at the door, so low-quality text never reaches the
    * corpus store. Stateless across batches by construction (the model is
    * a fixed table; each doc scores independently), so stream == batch is
    * exact: the same [[graft.ops.HashedClassifier.score]] runs in both.
    * `sink` receives (scored batch incl. `score` and `predicted`, epochId);
    * route on `predicted` (or a caller-chosen score threshold) inside the
    * sink to keep both the kept and the quarantined stream auditable.
    * Every batch row reaches the sink: [[graft.ops.HashedClassifier.score]]
    * emits one row per input doc (NULL-text docs score 0 / predicted
    * false), so the scoring join below cannot drop rows — a doc is always
    * either kept or quarantined, never silently absent.
    */
  def scoredIngest(newDocs: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, buckets: Int)
      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    newDocs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        sink(batch.join(
          graft.ops.HashedClassifier.score(batch, idCol, textCol, weights,
            buckets), Seq(idCol)), epochId)
      }
      .start()

  /** Mutable cluster-maintenance state for [[clusteredIngest]]: the
    * at-rest shingled corpus and its component labels. Both frames are
    * MATERIALIZED (localCheckpoint / persist) at every transition — a
    * micro-batch frame is only valid during its own epoch, so anything
    * folded into cross-epoch state must be pinned eagerly.
    */
  final class ClusterState private[streaming] (
      @volatile private[streaming] var ingested: DataFrame,
      @volatile private[streaming] var labels: DataFrame,
      private[streaming] val collapseEvery: Int) {
    /** Epochs folded in since `ingested` was last re-pinned as one frame —
      * see [[clusterBatch]]'s plan-depth collapse. */
    private[streaming] var epochsSinceCollapse: Int = 0
    /** The labeling as of the last completed epoch: (idCol, component). */
    def currentLabels: DataFrame = labels
    /** The accumulated shingled corpus as of the last completed epoch. */
    def currentIngested: DataFrame = ingested
  }

  /** Build the at-rest state once from the already-ingested corpus
    * (shingled form): pair it with itself, label the components, pin both.
    *
    * @param collapseEvery re-pin the lazily-unioned per-epoch ingest state
    *   as ONE frame every this many epochs: each epoch frame is
    *   individually checkpointed so the union never recomputes data, but
    *   the union PLAN grows one node per epoch and analysis cost would
    *   creep unboundedly on a long-lived stream.
    */
  def clusterState(corpusShingled: DataFrame, idCol: String,
      shingleCol: String, tau: Double, collapseEvery: Int = 32): ClusterState = {
    require(collapseEvery >= 1, s"collapseEvery must be positive: $collapseEvery")
    val sh = corpusShingled.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = Dedup.jaccardJoin(sh, idCol, shingleCol, tau)
      .select("a", "b")
    new ClusterState(sh, Dedup.components(pairs, idCol).localCheckpoint(),
      collapseEvery)
  }

  /** One cluster-maintenance epoch (pure batch function — the streaming
    * entrypoint below delegates here): the batch pairs with itself and
    * with everything ingested so far, the pairs merge into the labels via
    * [[graft.ops.Dedup.incrementalComponents]] (batch-sized micro graph,
    * one at-rest relabel pass — the corpus graph is never recomputed),
    * and the batch folds into the at-rest side for later epochs. Returns
    * the merged labeling (also the new `state.currentLabels`).
    *
    * A 40-doc epoch runs at most 6 Spark jobs: the batch checkpoint and
    * collect (one job), the pair pin (one narrow scan of the at-rest
    * shingles), the touched-label read and the label write (two jobs
    * each: a broadcast and the pass; the write needs no broadcast when no
    * old cluster merges). A collapse epoch adds the one job that re-pins
    * the at-rest side.
    */
  def clusterBatch(batch: DataFrame, state: ClusterState, idCol: String,
      shingleCol: String, tau: Double): DataFrame = {
    // the batch's pairs, within it and against everything ingested so far
    // (Dedup.batchPairs): one job checkpoints the batch and, below the
    // size route, collects it, and its postings are scored against the
    // at-rest shingles in one narrow scan; `bsh` is that checkpoint, which
    // the fold-in below keeps for later epochs, when the micro-batch frame
    // is no longer valid
    val (bsh, newPairs) = Dedup.batchPairs(batch, Some(state.ingested), idCol,
      shingleCol, tau)
    // incrementalComponents returns an eagerly pinned (localCheckpoint)
    // frame with its internal caches already released — no second pin here
    val merged = Dedup.incrementalComponents(state.labels, idCol, newPairs)
    state.labels = merged
    // fold the batch in LAZILY: bsh is already checkpointed, so the union
    // re-reads pinned epoch blocks — re-checkpointing the whole union
    // would COPY the entire accumulated corpus every epoch (per-epoch work
    // must scale with the batch, not the corpus). Only the union PLAN
    // grows per epoch; collapse it into one pinned frame every
    // `state.collapseEvery` epochs to bound analysis cost.
    state.ingested = state.ingested.unionAll(bsh)
    state.epochsSinceCollapse += 1
    if (state.epochsSinceCollapse >= state.collapseEvery) {
      state.ingested = state.ingested.localCheckpoint()
      state.epochsSinceCollapse = 0
    }
    merged
  }

  /** Continuous CLUSTER MAINTENANCE — the streaming twin of the
    * `incremental_components` batch tier: every arriving (pre-shingled)
    * micro-batch is folded into the at-rest near-dup clustering at the
    * door. Per-epoch work scales with the batch (micro fixpoint) plus one
    * pass over the label state (the relabel join) — never with the
    * accumulated pair graph. `sink` receives (merged labels, epochId).
    */
  def clusteredIngest(newDocs: DataFrame, state: ClusterState, idCol: String,
      shingleCol: String, tau: Double)
      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    newDocs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        sink(clusterBatch(batch, state, idCol, shingleCol, tau), epochId)
      }
      .start()

  /** One cluster-maintenance DELETE epoch (pure batch function — the
    * streaming entrypoint below delegates here): a takedown batch of doc
    * ids leaves both sides of the state. The labels route through
    * [[graft.ops.Dedup.deleteFromComponents]] — a deleted doc's pairs
    * vanish, which can SPLIT its component or move its canonical label,
    * so the touched components' induced pair set is re-derived from the
    * survivors' stored shingles (the same jaccard rule that built the
    * labeling) and relabeled; untouched components pass through. The
    * at-rest shingle side drops the deleted rows by a filter on the id
    * set [[graft.ops.Dedup.deleteFromComponents]] holds on the driver (up
    * to [[graft.ops.SizeRoute.GraphLabelEdges]] ids, a sorted long array
    * of at most 8 MB in each later scan until the next collapse), or by an
    * anti-join above that bound (lazy, over pinned epoch blocks — the same
    * per-epoch plan-growth budget as [[clusterBatch]]'s fold-in, counted
    * against the same collapse cadence). Per-epoch work scales with the
    * touched clusters plus one pass over the label state — never with the
    * corpus graph. Returns the post-delete labeling (also the new
    * `state.currentLabels`).
    */
  def deleteBatch(delIds: DataFrame, state: ClusterState, idCol: String,
      shingleCol: String, tau: Double): DataFrame = {
    // the takedown set gates BOTH state transitions, and a micro-batch
    // frame is only valid during its own epoch: one within
    // deleteFromComponents' bound is collected here and handed over as a
    // LocalRelation (deleteFromComponents then reads it with no job), a
    // larger one is lazily checkpointed
    val delRows = delIds.select(idCol)
    val held = SizeRoute.collectAtMost(delRows, SizeRoute(SizeRoute.GraphLabelEdges))
    val del = held.fold(delRows.localCheckpoint(eager = false))(rs => delRows
      .sparkSession.createDataFrame(java.util.Arrays.asList(rs: _*), delRows.schema))
    val ingested = state.ingested
    // pairsAmong replays the labeling's pair rule over the survivors'
    // stored shingles (Dedup.batchPairs with no at-rest side)
    val relabeled = Dedup.deleteFromComponents(state.labels, idCol, del,
      affectedIds => Dedup.batchPairs(
        ingested.join(affectedIds, Seq(idCol), "left_semi"),
        None, idCol, shingleCol, tau)._2)
    state.labels = relabeled
    // a held takedown set leaves the at-rest side through a filter on its
    // sorted ids: an anti-join would broadcast it in every later scan of
    // the at-rest side until the next collapse, one job per scan
    val longIds = Seq(delRows, ingested).forall(_.schema(idCol).dataType == LongType)
    state.ingested = held.filter(_ => longIds)
      .fold(ingested.join(del, Seq(idCol), "left_anti")) { rs =>
        val ids = rs.filterNot(_.isNullAt(0)).map(_.getLong(0)).sorted
        ingested.where(col(idCol).isNull ||
          SparkShims.column(NotAmong(SparkShims.expression(col(idCol)), ids)))
      }
    state.epochsSinceCollapse += 1
    if (state.epochsSinceCollapse >= state.collapseEvery) {
      state.ingested = state.ingested.localCheckpoint()
      state.epochsSinceCollapse = 0
    }
    relabeled
  }

  /** Continuous TAKEDOWN maintenance — the delete twin of
    * [[clusteredIngest]]: every arriving micro-batch of doc ids (removal
    * requests / dedup reversals) is deleted from the maintained
    * clustering at the door, splitting components where the deleted docs
    * were bridges. Run takedown epochs and ingest epochs against the same
    * [[ClusterState]] from ONE writer at a time (the single-writer
    * contract every mutable store here carries; foreachBatch already
    * serializes epochs within a query). `sink` receives (post-delete
    * labels, epochId).
    */
  def clusterDeletes(delDocs: DataFrame, state: ClusterState, idCol: String,
      shingleCol: String, tau: Double)
      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    delDocs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        sink(deleteBatch(batch, state, idCol, shingleCol, tau), epochId)
      }
      .start()

  /** Continuous DISTRIBUTION-MATCHED ingest — the streaming twin of the
    * `dsir_select` batch tier: every arriving micro-batch is scored with
    * the (pre-fitted, broadcast) DSIR importance-weight table, so the sink
    * can keep the most target-like docs (a score threshold, or a
    * top-fraction per epoch) at the door. Stateless across batches by the
    * same argument as [[scoredIngest]] (fixed weight table, independent
    * per-doc scores), so stream == batch is exact — the same
    * [[graft.ops.Dsir.scoreDocs]] runs in both — and every batch row
    * reaches the sink (`scoreDocs` is one-row-per-doc; NULL-text docs
    * score 0, never vanish).
    */
  def dsirIngest(newDocs: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, buckets: Int)
      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    newDocs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        sink(batch.join(
          graft.ops.Dsir.scoreDocs(batch, idCol,
            org.apache.spark.sql.functions.col(textCol), weights, buckets),
          Seq(idCol)), epochId)
      }
      .start()

  // ---- streaming ANN index maintenance -----------------------------------

  private val EpochMarker = "_graft_ingest_epoch"

  /** Lease-less epoch-marker read for the replay fast path: an unparseable
    * (torn mid-copy on copy+delete-rename stores) marker degrades to -1 —
    * "nothing absorbed" — which merely routes the epoch to the leased
    * re-check instead of throwing out of the streaming batch. Never used
    * under the lease, where strict parsing is the crash detector.
    */
  private def leaselessLastAbsorbed(
      spark: org.apache.spark.sql.SparkSession, marker: String): Long =
    scala.util.Try(graft.ops.IndexFiles.readStringOpt(spark, marker)
      .map(_.trim.toLong).getOrElse(-1L)).getOrElse(-1L)

  /** Run `mutate` once per (store, epoch): a parquet append or takedown is
    * not idempotent under foreachBatch's at-least-once re-delivery, so each
    * store records the last epoch it absorbed in `markerName` and a
    * replayed epoch is a no-op — the standard epoch-id dedup recipe for
    * exactly-once sinks (single-writer per store, like every
    * materialized-index mutation here). `leaseOp` labels the writer lease.
    */
  private def epochOnce(spark: org.apache.spark.sql.SparkSession,
      path: String, epochId: Long, markerName: String, leaseOp: String)
      (mutate: => Unit): Boolean = {
    val marker = s"$path/$markerName"
    def lastAbsorbed: Long = graft.ops.IndexFiles.readStringOpt(spark, marker)
      .map(_.trim.toLong).getOrElse(-1L)
    // definitely-replayed epochs short-circuit BEFORE the lease: the
    // marker only ever advances, so `epochId <= last` read lease-less can
    // never un-become true — and a restarted-after-crash streaming query
    // (sole writer, leftover lock on disk) can then skip its already-
    // absorbed epochs instead of hard-failing until an operator calls
    // breakWriterLease; it only stops at the first epoch that needs a
    // real mutation, which is exactly where the takeover decision belongs.
    // The lease-less parse tolerates a TORN read (empty/truncated marker):
    // on copy+delete-rename stores writeString's rename copies into the
    // destination non-atomically, so a concurrent writer's in-flight copy
    // can surface as unparseable content here — treat it as -1 and fall
    // through to the lease path, which re-reads under exclusion (where no
    // copy can be in flight). The LEASED parse stays strict: torn content
    // there means a crash left the marker permanently damaged, and that
    // must fail loudly at the takeover point, not replay absorbed epochs.
    if (epochId <= leaselessLastAbsorbed(spark, marker)) return false
    // the read-check-append-mark sequence for a NEW epoch runs under the
    // store's writer lease (reentrant with the fenced mutation inside):
    // fencing only the inner op would let a racing writer slide between
    // the re-check and the append — the marker's replay guarantee holds
    // only if the check and the mutation are one exclusive unit
    graft.ops.IndexFiles.withWriterLease(spark, path, leaseOp) {
      if (epochId <= lastAbsorbed) false
      else {
        mutate
        // temp+rename via the store's Hadoop FileSystem: the marker lives
        // beside the index data (HDFS/S3/local alike) and can never be read
        // torn — a crash mid-write leaves the previous epoch value
        graft.ops.IndexFiles.writeString(spark, marker, epochId.toString)
        true
      }
    }
  }

  /** One vector micro-batch into the materialized ANN stores: append to
    * the IVF index at `annPath` ([[AnnIndex.appendToMaterialized]] — the
    * batch assigns against the centroid table that store holds and lands
    * as one delta file its manifest lists) and, when present, encode against
    * the STORED codebooks into the PQ codes at `pqPath`
    * ([[ProductQuantizer.appendToMaterialized]]). Pure batch function;
    * epoch-guarded per store so a replayed epoch cannot double-append.
    * Returns the stores that actually absorbed this epoch. `base` is
    * unread, since every store describes itself: it stays in the signature
    * only because the `graftbench/` harness compiles against it, and leaves
    * with a change to that harness.
    */
  def appendVectorEpoch(batch: DataFrame, base: DataFrame, idCol: String,
      vecCol: String, stride: Int, annPath: String,
      pqPath: Option[String], epochId: Long): Seq[String] =
    appendEpoch(batch, idCol, vecCol, stride, annPath, pqPath, epochId)

  private def appendEpoch(batch: DataFrame, idCol: String, vecCol: String,
      stride: Int, annPath: String, pqPath: Option[String], epochId: Long): Seq[String] = {
    // materialize the micro-batch once: both stores encode the same rows,
    // and a streaming source frame must not be recomputed per consumer
    val rows = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val spark = batch.sparkSession
    try {
      val annDone = epochOnce(spark, annPath, epochId, EpochMarker,
          "stream-ingest-epoch") {
        AnnIndex.appendToMaterialized(rows, idCol, vecCol, stride, annPath)
      }
      // layout dispatch: a bucket-partitioned (IVF-PQ) code table takes the
      // partition-aware append (assignment replayed against the IVF store's
      // own centroid table, so the two stores stay bucket-consistent); the
      // flat append would write bucket-less rows invisible to
      // manifest-pruned reads (and now refuses to). The key
      // comes from the stored schema (layoutIsIvfPq), not a local-FS
      // directory probe — this loop must run wherever the store lives.
      def appendPq(p: String): Unit =
        if (ProductQuantizer.layoutIsIvfPq(spark, p))
          ProductQuantizer.appendToIvfPq(rows, idCol, vecCol, annPath, stride, p)
        else ProductQuantizer.appendToMaterialized(rows, idCol, vecCol, p)
      val pqDone = pqPath.filter(p =>
        epochOnce(spark, p, epochId, EpochMarker, "stream-ingest-epoch")(appendPq(p)))
      (if (annDone) Seq(annPath) else Nil) ++ pqDone
    } finally rows.unpersist()
  }

  /** Continuous ANN index maintenance — the ingest loop closed over the
    * index stores: every micro-batch of `(idCol, vecCol)` rows appends to
    * the materialized IVF index (and PQ codes, when `pqPath` is set), so
    * probes see new vectors as soon as their epoch commits. Appended
    * vectors never become centroids (the standard IVF contract;
    * re-materialize to re-balance after heavy growth).
    *
    * `compactEvery > 0` folds the maintenance into the loop: after every
    * `compactEvery`-th absorbed epoch, [[AnnIndex.compactBuckets]] folds
    * the delta files and tombstones the epochs left pending into the
    * buckets, then rewrites the buckets fragmented past
    * `maxFilesPerBucket` (a manifest read and a listing when there is
    * nothing to do). Without it the stores fold on their own once
    * [[graft.ops.SizeRoute.PendingRows]] is passed. Running it inside
    * foreachBatch keeps the single-writer contract — compaction and
    * appends never race, with no external scheduler.
    */
  def annIngest(newVectors: DataFrame, idCol: String,
      vecCol: String, stride: Int, annPath: String,
      pqPath: Option[String] = None, compactEvery: Int = 0,
      maxFilesPerBucket: Int = 8)
      (onEpoch: (Long, Seq[String]) => Unit = (_, _) => ()): StreamingQuery =
    newVectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val absorbed = appendEpoch(batch, idCol, vecCol,
          stride, annPath, pqPath, epochId)
        if (compactEvery > 0 && epochId > 0 && epochId % compactEvery == 0) {
          if (absorbed.contains(annPath))
            AnnIndex.compactBuckets(batch.sparkSession, annPath, maxFilesPerBucket)
          // layout-routed: the bucket-partitioned IVF-PQ code table
          // compacts per bucket (dynamic partition overwrite), the flat
          // one by generation swap — compactCodes on a partitioned store
          // would silently no-op and its fragmentation would grow forever
          pqPath.filter(absorbed.contains).foreach(p =>
            ProductQuantizer.compact(batch.sparkSession, p, maxFilesPerBucket))
        }
        onEpoch(epochId, absorbed)
      }
      .start()

  /** Takedown epochs carry their own marker (distinct from the ingest
    * marker): ingest and takedown arrive as SEPARATE streaming queries,
    * each with its own epoch-id sequence starting at 0, so sharing one
    * marker would make the first takedown epoch read as an
    * already-absorbed ingest replay. Run at most ONE mutating query per
    * store at a time (the single-writer contract every materialized-index
    * mutation here carries); sequential ingest-then-takedown writers are
    * the supported shape.
    */
  private val TakedownMarker = "_graft_takedown_epoch"

  /** One takedown micro-batch against the materialized vector stores — the
    * delete twin of [[appendVectorEpoch]]: the batch's rows (ids AND
    * vectors — the assignment is REPLAYED against the centroid table the
    * IVF store holds, never trusted from a caller frame) leave the IVF
    * index at `annPath` ([[AnnIndex.deleteFromMaterialized]] — tombstones
    * in the store's manifest) and, when present, the PQ store at `pqPath`
    * (layout-routed: manifest tombstones for IVF-PQ, the tombstone sidecar
    * for flat). Pure batch function; epoch-guarded per store so a replayed
    * epoch is a no-op. Returns the stores that actually absorbed this
    * epoch. `base` is unread, as in [[appendVectorEpoch]], and stays in
    * the signature only for the `graftbench/` harness.
    */
  def deleteVectorEpoch(batch: DataFrame, base: DataFrame, idCol: String,
      vecCol: String, stride: Int, annPath: String,
      pqPath: Option[String], epochId: Long): Seq[String] =
    deleteEpoch(batch, idCol, vecCol, stride, annPath, pqPath, epochId)

  private def deleteEpoch(batch: DataFrame, idCol: String, vecCol: String,
      stride: Int, annPath: String, pqPath: Option[String], epochId: Long): Seq[String] = {
    val rows = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val spark = batch.sparkSession
    try {
      val annDone = epochOnce(spark, annPath, epochId, TakedownMarker,
          "stream-takedown-epoch") {
        AnnIndex.deleteFromMaterialized(rows, idCol, vecCol, stride, annPath)
      }
      def delPq(p: String): Unit =
        if (ProductQuantizer.layoutIsIvfPq(spark, p))
          ProductQuantizer.deleteFromIvfPq(rows, idCol, vecCol, annPath, stride, p)
        else ProductQuantizer.deleteFromMaterialized(rows, idCol, p)
      val pqDone = pqPath.filter(p =>
        epochOnce(spark, p, epochId, TakedownMarker, "stream-takedown-epoch")(delPq(p)))
      (if (annDone) Seq(annPath) else Nil) ++ pqDone
    } finally rows.unpersist()
  }

  /** Continuous ANN-index TAKEDOWN — the delete twin of [[annIngest]],
    * closing the maintenance symmetry: removal requests (dedup reversals,
    * compliance takedowns) arrive as a stream of `(idCol, vecCol)` rows
    * and leave the materialized IVF index (and PQ store, when `pqPath` is
    * set) at the door, epoch-guarded per store so a replayed epoch cannot
    * double-delete (a flat-PQ replay would otherwise re-append tombstone
    * rows). Deleted ids must not be centroid/codebook-level (the batch
    * delete refuses them — re-materialize for those). `onEpoch` receives
    * (epochId, absorbed stores).
    */
  def annDeletes(delVectors: DataFrame, idCol: String,
      vecCol: String, stride: Int, annPath: String,
      pqPath: Option[String] = None)
      (onEpoch: (Long, Seq[String]) => Unit = (_, _) => ()): StreamingQuery =
    delVectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        onEpoch(epochId, deleteEpoch(batch, idCol, vecCol,
          stride, annPath, pqPath, epochId))
      }
      .start()

  /** Continuous GRAPH-index TAKEDOWN — the delete twin of [[graphIngest]]:
    * every micro-batch of `(idCol, vecCol)` rows leaves the materialized
    * graph under the build's exact rules
    * ([[graft.ops.GraphAnn.deleteFromMaterialized]] — survivors' edges
    * recomputed inside touched buckets only), epoch-guarded so a replayed
    * epoch is a no-op. A NULL-vector row is found in the lowest centroid's
    * bucket, where the build and [[graphIngest]] file it. `onEpoch`
    * receives (epochId, absorbed).
    */
  def graphDeletes(delVectors: DataFrame, idCol: String,
      vecCol: String, stride: Int, degree: Int, path: String,
      superStride: Int = 0)
      (onEpoch: (Long, Boolean) => Unit = (_, _) => ()): StreamingQuery =
    delVectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val rows = batch.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val absorbed = epochOnce(batch.sparkSession, path, epochId,
              TakedownMarker, "stream-takedown-epoch") {
            graft.ops.GraphAnn.deleteFromMaterialized(rows, idCol,
              vecCol, stride, degree, path, superStride)
          }
          onEpoch(epochId, absorbed)
        } finally rows.unpersist()
      }
      .start()

  /** Continuous GRAPH-index maintenance — the [[annIngest]] twin for the
    * navigable-graph tier: every micro-batch splices into the
    * materialized graph under the build's exact rules
    * ([[graft.ops.GraphAnn.appendToMaterialized]] — frozen centroid/super
    * sets, touched buckets only), epoch-guarded per store so a replayed
    * epoch cannot double-append. A NULL-vector row has no nearest
    * centroid and is filed under the lowest one, as the build files it. `compactEvery > 0` folds the
    * small-files maintenance in ([[graft.ops.GraphAnn.compact]] over both
    * partitioned tables — appends grow `assign/` one file per epoch per
    * touched bucket), inside foreachBatch so compaction and appends never
    * race (single-writer). `onEpoch` receives (epochId, absorbed).
    */
  def graphIngest(newVectors: DataFrame, idCol: String,
      vecCol: String, stride: Int, degree: Int, path: String,
      superStride: Int = 0, compactEvery: Int = 0,
      maxFilesPerBucket: Int = 8)
      (onEpoch: (Long, Boolean) => Unit = (_, _) => ()): StreamingQuery =
    newVectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val rows = batch.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val absorbed = epochOnce(batch.sparkSession, path, epochId,
              EpochMarker, "stream-ingest-epoch") {
            graft.ops.GraphAnn.appendToMaterialized(rows, idCol,
              vecCol, stride, degree, path, superStride)
          }
          if (absorbed && compactEvery > 0 && epochId > 0 &&
              epochId % compactEvery == 0)
            graft.ops.GraphAnn.compact(batch.sparkSession, path,
              maxFilesPerBucket)
          onEpoch(epochId, absorbed)
        } finally rows.unpersist()
      }
      .start()
}
