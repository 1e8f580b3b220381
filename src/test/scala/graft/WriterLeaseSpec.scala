package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.functions._

import graft.ops.{AnnIndex, GraphAnn, IndexFiles, ProductQuantizer}
import graft.ops.ProductQuantizer.PqSpec

/** The single-writer contract every materialized-index mutation documents
  * is MECHANICALLY enforced from r16 (`IndexFiles.withWriterLease`): a
  * second writer — same JVM, another JVM (simulated by a pre-created lock
  * file), or a crashed writer's leftover lock — fails LOUDLY at
  * acquisition instead of silently interleaving dynamic partition
  * overwrites. These specs pin:
  *
  *  1. exclusion (held lease blocks every tier's mutation entry points),
  *  2. reentrancy (compound mutations — PQ append folds the sidecar via
  *     compactCodes, layout-routed compact delegates — hold ONE lease),
  *  3. release on success AND on failure (an in-process error must not
  *     wedge the store),
  *  4. operator takeover (`breakWriterLease`) after a simulated crash,
  *  5. the lock resolves through the store's Hadoop FileSystem
  *     (`file:`-scheme-qualified store roots work).
  */
class WriterLeaseSpec extends SparkTestBase {

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def freshStore(prefix: String): String =
    "file:" + graft.util.TempDirs.create(prefix)

  private val pqSpec = PqSpec(m = 8, dsub = 8, stride = 64)

  test("a pre-existing lock (foreign/crashed writer) blocks every tier's mutations, and breakWriterLease recovers") {
    val s = spark
    val all = emb
    val batch = all.where(pmod(col("vec_id"), lit(4)) === 1)

    // IVF store
    val ivf = freshStore("graft_lease_ivf")
    AnnIndex.materialize(all.where(pmod(col("vec_id"), lit(4)) =!= 1),
      "vec_id", "embedding", 64, ivf)
    IndexFiles.withWriterLease(s, ivf, "spec-probe") {
      // reentrant self-use works while held...
      IndexFiles.withWriterLease(s, ivf, "spec-probe-nested") { () }
    }
    // simulate a foreign holder: write the lock file directly
    IndexFiles.writeString(s, ivf + "/" + IndexFiles.LockName,
      "op=spec-foreign jvm=elsewhere\n")
    val e1 = intercept[IllegalStateException] {
      AnnIndex.appendToMaterialized(batch,
        "vec_id", "embedding", 64, ivf)
    }
    assert(e1.getMessage.contains("writer lease"))
    assert(e1.getMessage.contains("spec-foreign"))
    intercept[IllegalStateException] { AnnIndex.compactBuckets(s, ivf) }
    assert(IndexFiles.writerLeaseHolder(s, ivf).exists(_.contains("spec-foreign")))
    IndexFiles.breakWriterLease(s, ivf)
    // recovered: the mutation now runs, and the lock is gone afterwards
    AnnIndex.appendToMaterialized(batch,
      "vec_id", "embedding", 64, ivf)
    assert(IndexFiles.writerLeaseHolder(s, ivf).isEmpty)

    // flat PQ store (delete + compact under a foreign lock)
    val pq = freshStore("graft_lease_pq")
    ProductQuantizer.materialize(all, "vec_id", "embedding", pqSpec, pq)
    IndexFiles.writeString(s, pq + "/" + IndexFiles.LockName, "op=x\n")
    intercept[IllegalStateException] {
      ProductQuantizer.deleteFromMaterialized(
        all.where(pmod(col("vec_id"), lit(4)) === 3).select("vec_id"),
        "vec_id", pq)
    }
    intercept[IllegalStateException] {
      ProductQuantizer.compactCodes(s, pq, force = true)
    }
    IndexFiles.breakWriterLease(s, pq)

    // graph store
    val g = freshStore("graft_lease_graph")
    GraphAnn.materialize(all.where(pmod(col("vec_id"), lit(4)) =!= 1),
      "vec_id", "embedding", stride = 64, degree = 4, path = g)
    IndexFiles.writeString(s, g + "/" + IndexFiles.LockName, "op=x\n")
    intercept[IllegalStateException] {
      GraphAnn.appendToMaterialized(batch,
        "vec_id", "embedding", 64, 4, g)
    }
    intercept[IllegalStateException] { GraphAnn.compact(s, g) }
    IndexFiles.breakWriterLease(s, g)
  }

  test("a foreign lock blocks the IVF store's append, delete and fold while writes are pending") {
    val s = spark
    val ivf = freshStore("graft_lease_ivf_pending")
    AnnIndex.materialize(emb.where(col("vec_id") < 300), "vec_id", "embedding", 64, ivf)
    val batch = emb.where(col("vec_id") >= 300 && pmod(col("vec_id"), lit(64)) =!= 0)
    AnnIndex.appendToMaterialized(batch, "vec_id", "embedding", 64, ivf)
    val pending = graft.ops.IndexManifests.read(s, ivf)
    assert(pending.exists(_.delta.nonEmpty))
    IndexFiles.writeString(s, ivf + "/" + IndexFiles.LockName, "op=spec-foreign\n")
    val gone = emb.where(pmod(col("vec_id"), lit(4)) === 3)
    for (op <- Seq[() => Any](
        () => AnnIndex.appendToMaterialized(emb.where(col("vec_id") === 1), "vec_id", "embedding", 64, ivf),
        () => AnnIndex.deleteFromMaterialized(gone, "vec_id", "embedding", 64, ivf),
        () => AnnIndex.compactBuckets(s, ivf))) {
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("spec-foreign"), e.getMessage)
    }
    assert(graft.ops.IndexManifests.read(s, ivf) == pending, "a blocked writer changed the manifest")
    IndexFiles.breakWriterLease(s, ivf)
    AnnIndex.deleteFromMaterialized(gone, "vec_id", "embedding", 64, ivf)
    AnnIndex.compactBuckets(s, ivf)
    assert(IndexFiles.writerLeaseHolder(s, ivf).isEmpty)
  }

  test("compound mutations are reentrant: a PQ revive-append (which folds the sidecar via compactCodes) runs under one lease") {
    val s = spark
    val all = emb
    val pq = freshStore("graft_lease_pq_revive")
    ProductQuantizer.materialize(all, "vec_id", "embedding", pqSpec, pq)
    val victims = all.where(pmod(col("vec_id"), lit(4)) === 3)
    ProductQuantizer.deleteFromMaterialized(
      victims.select("vec_id"), "vec_id", pq)
    // the revive path: batch intersects the tombstone sidecar, so the
    // append forces compactCodes first — nested under the append's lease
    ProductQuantizer.appendToMaterialized(victims, "vec_id", "embedding", pq)
    assert(IndexFiles.writerLeaseHolder(s, pq).isEmpty)
    // the store still probes exactly like an unbroken build
    val qv = all.where(col("vec_id") === 1).select("embedding").head()
      .getSeq[Float](0).map(_.toDouble).toArray
    val (_, pre) = ProductQuantizer.fromMaterialized(s, pq, Some(pqSpec))
    val got = ProductQuantizer.adcRerankTopK(all, "vec_id", "embedding", qv,
      k = 10, pqSpec, overfetch = 100, precomputed = Some(pre))
      .collect().map(_.getLong(0)).toSeq
    val want = ProductQuantizer.adcRerankTopK(all, "vec_id", "embedding", qv,
      k = 10, pqSpec, overfetch = 100).collect().map(_.getLong(0)).toSeq
    assert(got == want)
  }

  test("same-JVM cross-thread contention fails loudly; the lease releases on success and on in-body failure") {
    val s = spark
    val store = freshStore("graft_lease_threads")
    IndexFiles.fs(s, store).mkdirs(new org.apache.hadoop.fs.Path(store))

    val acquired = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var holderOk = false
    val holder = new Thread(() => {
      IndexFiles.withWriterLease(s, store, "spec-holder") {
        acquired.countDown()
        assert(release.await(30, TimeUnit.SECONDS))
        holderOk = true
      }
    })
    holder.start()
    assert(acquired.await(30, TimeUnit.SECONDS))
    val e = intercept[IllegalStateException] {
      IndexFiles.withWriterLease(s, store, "spec-intruder") { () }
    }
    assert(e.getMessage.contains("spec-holder") ||
      e.getMessage.contains("writer lease"))
    // the failed acquisition must not have disturbed the holder's on-disk
    // lock (r17: the in-process claim is taken BEFORE any disk write, so
    // a same-JVM loser never creates — and never deletes — the lock file)
    assert(IndexFiles.writerLeaseHolder(s, store).exists(_.contains("spec-holder")))
    release.countDown()
    holder.join(30000)
    assert(holderOk)
    assert(IndexFiles.writerLeaseHolder(s, store).isEmpty)

    // an in-body failure must release the lease (no wedged store)
    intercept[RuntimeException] {
      IndexFiles.withWriterLease(s, store, "spec-fail") {
        throw new RuntimeException("boom")
      }
    }
    assert(IndexFiles.writerLeaseHolder(s, store).isEmpty)
    IndexFiles.withWriterLease(s, store, "spec-after") { () }
  }

  test("release is nonce-scoped: a live holder's release after break + re-acquire leaves the new holder protected") {
    val s = spark
    val store = freshStore("graft_lease_nonce")
    IndexFiles.fs(s, store).mkdirs(new org.apache.hadoop.fs.Path(store))

    val aHolding = new CountDownLatch(1)
    val aRelease = new CountDownLatch(1)
    val a = new Thread(() => {
      IndexFiles.withWriterLease(s, store, "old-holder") {
        aHolding.countDown()
        aRelease.await(60, TimeUnit.SECONDS)
        ()
      }
    })
    a.start()
    assert(aHolding.await(30, TimeUnit.SECONDS))
    // operator ERROR: break a LIVE holder's lease, then a new writer
    // acquires. The misuse itself is documented-against; what must hold is
    // that the old holder's release cannot cascade it into silently
    // unprotecting the NEW writer.
    IndexFiles.breakWriterLease(s, store)
    val cHolding = new CountDownLatch(1)
    val cRelease = new CountDownLatch(1)
    val c = new Thread(() => {
      IndexFiles.withWriterLease(s, store, "new-holder") {
        cHolding.countDown()
        cRelease.await(60, TimeUnit.SECONDS)
        ()
      }
    })
    c.start()
    assert(cHolding.await(30, TimeUnit.SECONDS))
    aRelease.countDown()
    a.join(30000)
    // the new holder's on-disk lock and in-process registration both
    // survive the old holder's finally (nonce mismatch → no delete;
    // remove(key, lease) → no eviction): a third writer still fails
    assert(IndexFiles.writerLeaseHolder(s, store).exists(_.contains("op=new-holder")))
    val e = intercept[IllegalStateException] {
      IndexFiles.withWriterLease(s, store, "intruder") { () }
    }
    assert(e.getMessage.contains("new-holder"))
    cRelease.countDown()
    c.join(30000)
    assert(IndexFiles.writerLeaseHolder(s, store).isEmpty)
  }

  test("object-store semantics (rename = copy+delete): create-exclusive admits exactly one racer, lease + markers still work") {
    val s = spark
    s.sparkContext.hadoopConfiguration.set("fs.graftmock.impl",
      classOf[graft.tools.MockObjectStoreFs].getName)
    val store = "graftmock:" + graft.util.TempDirs.create("graft_lease_mock")
    val f = IndexFiles.fs(s, store)
    assert(f.isInstanceOf[graft.tools.MockObjectStoreFs])

    // marker writes (temp + rename) stay readable through a copy+delete
    // rename; a torn write is impossible because the copy lands fully
    // before the destination name exists
    IndexFiles.writeString(s, store + "/gen.marker", "gen=7")
    assert(IndexFiles.readString(s, store + "/gen.marker") == "gen=7")

    // the one disk primitive the lease rests on: N concurrent
    // create-exclusive calls on one path admit exactly ONE winner even
    // though this FS's rename is non-atomic
    val lock = new org.apache.hadoop.fs.Path(store, "racelock")
    val wins = new java.util.concurrent.atomic.AtomicInteger
    val start = new CountDownLatch(1)
    val racers = (0 until 8).map { _ =>
      new Thread(() => {
        start.await()
        try { f.create(lock, false).close(); wins.incrementAndGet(); () }
        catch { case _: java.io.IOException => () }
      })
    }
    racers.foreach(_.start())
    start.countDown()
    racers.foreach(_.join(30000))
    assert(wins.get == 1)

    // end-to-end on this FS: acquire/release works, a foreign lock blocks
    IndexFiles.withWriterLease(s, store, "mock-op") { () }
    assert(IndexFiles.writerLeaseHolder(s, store).isEmpty)
    IndexFiles.writeString(s, store + "/" + IndexFiles.LockName,
      "op=mock-foreign nonce=not-ours\n")
    val e = intercept[IllegalStateException] {
      IndexFiles.withWriterLease(s, store, "mock-blocked") { () }
    }
    assert(e.getMessage.contains("mock-foreign"))
    IndexFiles.breakWriterLease(s, store)
    IndexFiles.withWriterLease(s, store, "mock-after") { () }
  }

  test("cross-JVM acquisition race (separate held-tables): exactly one racer enters body per round") {
    // two simulated JVMs (the jvmScopeForTest seam scopes the in-process
    // lease table per racer thread, so the in-process claim can never
    // arbitrate between them — exactly the cross-JVM shape) race full
    // withWriterLease acquisition on a MockObjectStoreFs store. The
    // create-exclusive call plus the r18 payload read-back must admit
    // exactly ONE into body per round; the loser gets the loud contended
    // error, never a silent second writer.
    val s = spark
    s.sparkContext.hadoopConfiguration.set("fs.graftmock.impl",
      classOf[graft.tools.MockObjectStoreFs].getName)
    val store = "graftmock:" + graft.util.TempDirs.create("graft_lease_xjvm")
    (1 to 12).foreach { round =>
      val inBody = new java.util.concurrent.atomic.AtomicInteger
      val maxConcurrent = new java.util.concurrent.atomic.AtomicInteger
      val cur = new java.util.concurrent.atomic.AtomicInteger
      val failures = new java.util.concurrent.atomic.AtomicInteger
      val start = new CountDownLatch(1)
      val racers = Seq("jvmA", "jvmB").map { jvm =>
        new Thread(() => {
          IndexFiles.jvmScopeForTest.set(jvm)
          start.await()
          try IndexFiles.withWriterLease(s, store, s"race-$jvm") {
            inBody.incrementAndGet()
            val c = cur.incrementAndGet()
            maxConcurrent.updateAndGet(m => math.max(m, c))
            Thread.sleep(2)
            cur.decrementAndGet()
            ()
          } catch {
            case _: IllegalStateException => failures.incrementAndGet(); ()
          } finally IndexFiles.jvmScopeForTest.remove()
        })
      }
      racers.foreach(_.start())
      start.countDown()
      racers.foreach(_.join(30000))
      // exactly one winner, one loud loser, never two writers at once
      assert(maxConcurrent.get <= 1, s"round $round: two writers in body")
      assert(inBody.get == 1, s"round $round: ${inBody.get} entered body")
      assert(failures.get == 1, s"round $round: ${failures.get} failed")
      // the winner released: the next round must acquire cleanly
      assert(IndexFiles.writerLeaseHolder(s, store).isEmpty,
        s"round $round left a lock behind")
    }
  }
}
