package graft

import graft.ops.{Centrality, SizeRoute}

/** Integer-exact PageRank (ops/Centrality) — fixed-point ranks over the
  * near-dup pair graph and the canonical-representative selection built
  * on it.
  */
class CentralitySpec extends SparkTestBase {
  private val sp = spark
  import sp.implicits._

  /** Driver-side pure replay of pageRankInt for differentials. */
  private def localPr(pairs: Seq[(Long, Long)], iters: Int,
      unit: Long = 1000000L, dn: Long = 85, dd: Long = 100): Map[Long, Long] = {
    val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val base = unit * (dd - dn) / dd
    var pr = deg.keys.map(_ -> unit).toMap
    (1 to iters).foreach { _ =>
      val inflow = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => pr(src) / deg(src) }.sum
      }
      pr = inflow.map { case (id, in) => id -> (base + in * dn / dd) }
    }
    pr
  }

  private val pairs = Seq(
    (1L, 2L), (1L, 3L), (1L, 4L), // star around 1
    (5L, 6L), // isolated pair
    (2L, 3L)) // extra edge in the star family

  test("pageRankInt matches the pure integer replay exactly") {
    val df = pairs.toDF("a", "b")
    val got = Centrality.pageRankInt(df, "a", "b", 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == localPr(pairs, 5))
  }

  test("size route: driver rank loop equals the distributed loop") {
    val rnd = new scala.util.Random(19L)
    val rp = (1 to 200).map(_ =>
      (rnd.nextInt(60).toLong, 60L + rnd.nextInt(60))).distinct
    val df = rp.toDF("a", "b")
    val driver = Centrality.pageRankInt(df, "a", "b", 5) // tiny routes driver
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = SizeRoute.withBounds(SizeRoute.PageRankRows -> 0) {
      Centrality.pageRankInt(df, "a", "b", 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(driver == dist)
    assert(driver == localPr(rp, 5))
  }

  test("the star center outranks its leaves") {
    val df = pairs.toDF("a", "b")
    val got = Centrality.pageRankInt(df, "a", "b", 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) > got(2L) && got(1L) > got(4L))
    // symmetric leaves tie exactly (integer arithmetic, no float noise)
    assert(got(5L) == got(6L))
    assert(got(2L) == got(3L))
  }

  test("iteration count is respected and deterministic across runs") {
    val df = pairs.toDF("a", "b")
    val one = Centrality.pageRankInt(df, "a", "b", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == localPr(pairs, 1))
    val again = Centrality.pageRankInt(df, "a", "b", 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == localPr(pairs, 5))
  }

  test("centralRepresentatives picks the max-pr doc per component") {
    val df = pairs.toDF("a", "b")
    val reps = Centrality.centralRepresentatives(df, "a", "b", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // two components: {1,2,3,4} (min-label 1) and {5,6} (min-label 5)
    assert(reps.length == 2)
    val byComp = reps.map(r => r._1 -> r).toMap
    assert(byComp(1L)._2 == 1L) // star center is the representative
    // 5 and 6 tie on pr -> min doc_id wins
    assert(byComp(5L)._2 == 5L)
    val pr = localPr(pairs, 5)
    assert(byComp(1L)._3 == pr(1L) && byComp(5L)._3 == pr(5L))
  }

  test("survivorsByCentrality keeps singletons plus one representative per cluster") {
    val df = pairs.toDF("a", "b")
    val universe = (1L to 9L).toDF("doc_id") // 7,8,9 appear in no pair
    val got = Centrality.survivorsByCentrality(universe, "doc_id", df, "a", "b", 5)
      .collect().map(_.getLong(0)).sorted
    // singletons 7,8,9 + star center 1 + pair representative 5
    assert(got.toSeq == Seq(1L, 5L, 7L, 8L, 9L))
  }

  test("random graph differential") {
    val rnd = new scala.util.Random(42)
    val es = (0 until 60).map { _ =>
      val a = rnd.nextInt(30).toLong
      val b = rnd.nextInt(30).toLong
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }.distinct
    val got = Centrality.pageRankInt(es.toDF("a", "b"), "a", "b", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == localPr(es, 4))
  }

  test("FixpointPin.retire is a bounded LRU: old pins unpersist, recent ones stay cached, evicted pins still compute") {
    import org.apache.spark.storage.StorageLevel
    val frames = (0 to graft.ops.FixpointPin.MaxRetired).map { i =>
      val df = Seq((i.toLong, i.toLong + 1)).toDF("a", "b")
        .persist(StorageLevel.MEMORY_AND_DISK)
      df.count() // fill the cache so storageLevel reflects a live entry
      df
    }
    frames.foreach(graft.ops.FixpointPin.retire)
    graft.ops.FixpointPin.drainEvictions() // evictions are async (daemon)
    // MaxRetired+1 retirements: the FIRST pin must have been evicted
    // (unpersisted — no CacheManager leak), the LAST must still be cached
    // (a lazy consumer materializing now reads the cache, not a recompute)
    assert(frames.head.storageLevel == StorageLevel.NONE)
    assert(frames.last.storageLevel != StorageLevel.NONE)
    // an evicted pin still evaluates correctly (recompute, never wrong)
    assert(frames.head.count() == 1)
    // drain the registry so this spec leaves no cached frames behind
    (0 until graft.ops.FixpointPin.MaxRetired).foreach { _ =>
      graft.ops.FixpointPin.retire(sp.emptyDataFrame)
    }
    graft.ops.FixpointPin.drainEvictions()
  }

  test("FixpointPin.retire evicts on the byte budget too, always keeping the newest pin warm") {
    import org.apache.spark.storage.StorageLevel
    import org.apache.spark.sql.functions.{col, md5}
    // each pin caches ~640 KB of incompressible md5 strings — far over the
    // 1 KiB budget set here, so every retirement must push out ALL older
    // pins while the newest stays cached (the warm-rerun plan-match reuse
    // the LRU exists for survives for the live workload)
    sp.conf.set(graft.ops.FixpointPin.RetiredBytesConf, "1024")
    try {
      val frames = (0 until 4).map { i =>
        val df = sp.range(20000).toDF("id")
          .withColumn("h", md5(col("id").cast("string")))
          .withColumn("g", org.apache.spark.sql.functions.lit(i))
          .persist(StorageLevel.MEMORY_AND_DISK)
        df.count() // materialize so sizing sees the real cached bytes
        df
      }
      frames.foreach(graft.ops.FixpointPin.retire)
      graft.ops.FixpointPin.drainEvictions()
      // storage stays bounded: every pin but the newest is unpersisted
      assert(frames.init.forall(_.storageLevel == StorageLevel.NONE))
      assert(frames.last.storageLevel != StorageLevel.NONE)
      // an evicted pin still evaluates correctly (recompute, never wrong)
      assert(frames.head.count() == 20000)
    } finally {
      sp.conf.unset(graft.ops.FixpointPin.RetiredBytesConf)
      // drain the registry so this spec leaves no cached frames behind
      (0 to graft.ops.FixpointPin.MaxRetired).foreach { _ =>
        graft.ops.FixpointPin.retire(sp.emptyDataFrame)
      }
      graft.ops.FixpointPin.drainEvictions()
    }
  }

  test("FixpointPin evictor re-sizes pins retired before materialization, so the byte budget bites lazily-retired pins") {
    import org.apache.spark.storage.StorageLevel
    import org.apache.spark.sql.functions.{col, lit, md5}
    // the NORMAL lazy-retire shape (Centrality/NorthStarQueries): retire
    // fires while the consumer is still lazy, so the pin sizes as 0 and
    // the budget cannot see it at retire time — the refresh pass must
    // re-size it once the consumer materializes the cache, or the budget
    // is permanently blind to exactly the caches it exists to bound
    sp.conf.set(graft.ops.FixpointPin.RetiredBytesConf, "1024")
    try {
      val frames = (0 until 3).map { i =>
        sp.range(20000).toDF("id")
          .withColumn("h", md5(col("id").cast("string")))
          .withColumn("g", lit(i))
          .persist(StorageLevel.MEMORY_AND_DISK)
      }
      frames.foreach(graft.ops.FixpointPin.retire) // sized 0: not cached yet
      graft.ops.FixpointPin.drainEvictions()
      // nothing evicted: every slot is 0 bytes and the count bound holds
      assert(frames.forall(_.storageLevel != StorageLevel.NONE))
      frames.foreach(_.count()) // the lazy consumers materialize NOW
      // the next retirement's evictor pass re-sizes the 0-byte slots from
      // the now-loaded buffers and applies the budget: all three ~640 KB
      // pins must go, the newest pin (below) stays
      val tail = sp.range(10).toDF("id")
        .persist(StorageLevel.MEMORY_AND_DISK)
      tail.count()
      graft.ops.FixpointPin.retire(tail)
      graft.ops.FixpointPin.drainEvictions()
      assert(frames.forall(_.storageLevel == StorageLevel.NONE))
      assert(tail.storageLevel != StorageLevel.NONE)
      // an evicted pin still evaluates correctly (recompute, never wrong)
      assert(frames.head.count() == 20000)
    } finally {
      sp.conf.unset(graft.ops.FixpointPin.RetiredBytesConf)
      (0 to graft.ops.FixpointPin.MaxRetired).foreach { _ =>
        graft.ops.FixpointPin.retire(sp.emptyDataFrame)
      }
      graft.ops.FixpointPin.drainEvictions()
    }
  }

  test("FixpointPin drops pins from stopped sessions on the next evictor pass") {
    import org.apache.spark.storage.StorageLevel
    val victim = Seq((1L, 2L)).toDF("a", "b")
      .persist(StorageLevel.MEMORY_AND_DISK)
    victim.count()
    graft.ops.FixpointPin.retire(victim)
    graft.ops.FixpointPin.drainEvictions()
    assert(graft.ops.FixpointPin.retainedPins.exists(_ eq victim))
    // a second genuinely stopped SparkContext can't exist in this JVM —
    // substitute the dead-session predicate to mark the victim's session
    // stopped and assert the refresh pass drops its slot outright (its
    // cache died with the session; retaining it would crowd live pins
    // out of the MaxRetired LRU)
    val saved = graft.ops.FixpointPin.sessionStopped
    graft.ops.FixpointPin.sessionStopped = df => df eq victim
    try {
      graft.ops.FixpointPin.retire(sp.emptyDataFrame)
      graft.ops.FixpointPin.drainEvictions()
      assert(!graft.ops.FixpointPin.retainedPins.exists(_ eq victim))
    } finally {
      graft.ops.FixpointPin.sessionStopped = saved
      victim.unpersist()
      (0 to graft.ops.FixpointPin.MaxRetired).foreach { _ =>
        graft.ops.FixpointPin.retire(sp.emptyDataFrame)
      }
      graft.ops.FixpointPin.drainEvictions()
    }
  }
}
