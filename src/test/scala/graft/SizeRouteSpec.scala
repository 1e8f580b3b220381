package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalacheck.{Gen, Prop, Test}

import graft.ops.{AnnIndex, BatchPostings, Centrality, Dedup, GraphAnn, SizeRoute, Subword}
import graft.ops.SizeRoute.Bound

/** One differential over the size-route registry: for every registered
  * route, a generated fixture of measured size n runs at the bounds n−1,
  * n and n+1, and each output must equal the forced-distributed run
  * (bound 0). The route itself must flip between n−1 and n, seen through
  * what the code already exposes: a driver-built output is a
  * LocalRelation, and the driver copy runs a different number of jobs.
  */
class SizeRouteSpec extends SparkTestBase {
  import SizeRouteSpec._

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Driver copies return a `createDataFrame` of driver rows. */
  private def driverBuilt(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case l: LocalRelation => l }.isDefined

  /** Random long-id pairs, parallelized so the input is not itself a
    * LocalRelation.
    */
  private def randomPairs(seed: Long, nodes: Int, count: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(count)((rnd.nextInt(nodes).toLong, nodes + rnd.nextInt(nodes).toLong)).distinct
  }

  private def pairsDf(ps: Seq[(Long, Long)]): DataFrame = {
    val sp = spark
    import sp.implicits._
    sp.sparkContext.parallelize(ps, 2).toDF("a", "b")
  }

  private val fixtures: Map[Bound, Long => Fixture] = Map(
    SizeRoute.GraphLabelEdges -> { seed =>
      val ps = randomPairs(seed, 30, 40)
      val df = pairsDf(ps)
      // the route measures the pinned symmetric, distinct edge set
      val n = ps.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct.size
      Fixture(n, () => {
        val out = Dedup.components(df)
        Run(labels(out), driverBuilt(out))
      })
    },
    SizeRoute.PageRankRows -> { seed =>
      val ps = randomPairs(seed, 30, 50)
      val df = pairsDf(ps)
      // adjacency = both directions of every pair, one degree row each
      Fixture(2 * ps.size, () => {
        val out = Centrality.pageRankInt(df, "a", "b", 4)
        Run(labels(out), driverBuilt(out))
      })
    },
    SizeRoute.EmbedAllPairsRows -> { seed =>
      val sp = spark
      import sp.implicits._
      val rnd = new scala.util.Random(seed)
      val dim = 8
      val base = Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
      val rows = (0 until 30 + rnd.nextInt(20)).map { i =>
        val v =
          if (i % 3 == 0) { val c = base.clone(); c(i % dim) += (i + 1) * 1e-5f; c }
          else Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
        ((i * 7 + 1).toLong, v)
      }
      Fixture(rows.size, () => {
        // a fresh RDD per run: pins a run retires stay cached and a later
        // run on the same plan would reuse them, skipping jobs
        val df = sp.sparkContext.parallelize(rows, 2).toDF("vec_id", "embedding")
        val (out, jobs) = JobCount(sp.sparkContext) {
          labels(Dedup.embedComponents(df, "vec_id", "embedding", 0.25, dim))
        }
        Run(out, jobs)
      })
    },
    SizeRoute.BpeWords -> { seed =>
      val sp = spark
      import sp.implicits._
      val rnd = new scala.util.Random(seed)
      def word = Seq.fill(2 + rnd.nextInt(4))("abcde"(rnd.nextInt(5))).mkString
      val texts = Seq.fill(6)(Seq.fill(5)(word).mkString(" "))
      Fixture(texts.flatMap(_.split(" ")).distinct.size, () => {
        val df = sp.sparkContext.parallelize(texts, 2).toDF("text")
        val (out, jobs) = JobCount(sp.sparkContext)(Subword.bpeTrain(df, "text", 4))
        Run(out, jobs)
      })
    },
    SizeRoute.IngestBatchBytes -> { seed =>
      val sp = spark
      import sp.implicits._
      val rnd = new scala.util.Random(seed)
      val vocab = (0 until 12).map(v => s"s$v")
      def docs(ids: Seq[Long]) = ids.map(id => (id, rnd.shuffle(vocab).take(2 + rnd.nextInt(4))))
      val corpus = sp.sparkContext.parallelize(docs(0L until 15L), 2).toDF("doc_id", "sh")
        .localCheckpoint()
      val batch = docs(100L until 100L + 3 + rnd.nextInt(6))
      // the route measures the batch's index weight; the driver copy runs
      // fewer jobs than the shuffled joins
      Fixture(batch.map(d => BatchPostings.weight(Row(d._1, d._2))).sum.toInt, () => {
        val state = graft.streaming.CorpusIngest.clusterState(corpus, "doc_id", "sh", 0.5)
        val (_, jobs) = JobCount(sp.sparkContext)(graft.streaming.CorpusIngest.clusterBatch(
          sp.sparkContext.parallelize(batch, 2).toDF("doc_id", "sh"), state, "doc_id", "sh", 0.5))
        graft.streaming.CorpusIngest.deleteBatch(Seq(3L, 101L).toDF("doc_id"), state,
          "doc_id", "sh", 0.5)
        Run(labels(state.currentLabels), jobs)
      })
    },
    SizeRoute.GraphProbeQueries -> { seed =>
      val sp = spark
      import sp.implicits._
      val rnd = new scala.util.Random(seed)
      def vec = Seq.fill(8)(rnd.nextDouble() * 2 - 1)
      val corpus = sp.sparkContext.parallelize((0L until 64L).map(_ -> vec), 2)
        .toDF("id", "v")
      val edges = GraphAnn.buildEdges(corpus, "id", "v", 8, 4).localCheckpoint()
      val queries = (0 until 2 + rnd.nextInt(6)).map(i => (100L + i, vec))
      // the chunk count shows in the entry jobs: one per chunk, and a
      // zero-round probe runs no other job
      def batch(rounds: Int): DataFrame = GraphAnn.beamSearchTopKBatch(corpus,
        "id", "v", edges, queries.toDF("qid", "qv"), "qid", "qv", 5, 8, 4, rounds)
      Fixture(queries.size, () => {
        val out = batch(GraphAnn.DefaultRounds).collect().map(_.toSeq).toSet
        val (_, entries) = JobCount(sp.sparkContext)(batch(0))
        Run(out, entries > 1)
      })
    },
    SizeRoute.IvfCentroidBytes -> { seed =>
      val sp = spark
      import sp.implicits._
      val rnd = new scala.util.Random(seed)
      def vec = Seq.fill(4)(rnd.nextFloat() * 2f - 1f)
      val rows = (0L until 40L).map(_ -> vec)
      def frame(ids: Long => Boolean) =
        sp.sparkContext.parallelize(rows.filter(r => ids(r._1)), 2).toDF("id", "v")
      val corpus = frame(_ < 30)
      val queries = Seq.fill(3)(vec.map(_.toDouble).toArray)
      def materialized(): String = {
        val p = graft.util.TempDirs.create("route_ivf")
        AnnIndex.materialize(corpus, "id", "v", 5, p)
        p
      }
      // the route measures the store's centroid table files; the
      // distributed ranking adds a job to each probe
      val table = new java.io.File(materialized(), "_graft_ivf/centroids")
      val n = table.listFiles().filter(f => !f.getName.matches("[._].*")).map(_.length).sum
      Fixture(n.toInt, () => {
        val p = materialized()
        AnnIndex.appendToMaterialized(frame(_ >= 30), "id", "v", 5, p)
        AnnIndex.deleteFromMaterialized(frame(i => i % 5 == 3), "id", "v", 5, p)
        val idx = AnnIndex.fromMaterialized(corpus, "id", "v", 5, p)
        val stored = live(p)
        val probes = queries.map(q =>
          idx.probeTopK(q, 5, 2).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
        val (_, jobs) = JobCount(sp.sparkContext)(idx.probeTopK(queries.head, 5, 2).collect())
        Run((stored, probes), jobs)
      })
    },
    SizeRoute.DeleteIds -> { seed =>
      val sp = spark
      import sp.implicits._
      val rnd = new scala.util.Random(seed)
      def vec = Seq.fill(4)(rnd.nextFloat() * 2f - 1f)
      val corpus = sp.sparkContext.parallelize((0L until 40L).map(_ -> vec), 2).toDF("id", "v")
      val gone = rnd.shuffle((0L until 40L).filter(_ % 5 != 0)).take(2 + rnd.nextInt(8))
      // the route measures the deleted (id, bucket) pairs; the distributed
      // route collects the touched buckets in a job of its own
      Fixture(gone.size, () => {
        val p = graft.util.TempDirs.create("route_delete")
        AnnIndex.materialize(corpus, "id", "v", 5, p)
        val (_, jobs) = JobCount(sp.sparkContext)(AnnIndex.deleteFromMaterialized(
          corpus.where(col("id").isin(gone: _*)), "id", "v", 5, p))
        Run(live(p), jobs)
      })
    },
    SizeRoute.PendingRows -> { seed =>
      val sp = spark
      import sp.implicits._
      val rnd = new scala.util.Random(seed)
      def vec = Seq.fill(4)(rnd.nextFloat() * 2f - 1f)
      val corpus = sp.sparkContext.parallelize((0L until 40L).map(_ -> vec), 2).toDF("id", "v")
      val added = (100L until 100L + 2 + rnd.nextInt(8)).map(_ -> vec)
      val q = vec.map(_.toDouble).toArray
      // the route measures the batch's rows against an empty store; within
      // the bound the batch stays a delta file listed by the manifest
      Fixture(added.size, () => {
        val p = graft.util.TempDirs.create("route_pending")
        AnnIndex.materialize(corpus, "id", "v", 5, p)
        AnnIndex.appendToMaterialized(sp.sparkContext.parallelize(added, 2).toDF("id", "v"),
          "id", "v", 5, p)
        val probe = AnnIndex.fromMaterialized(corpus, "id", "v", 5, p).probeTopK(q, 5, 2)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        Run((live(p), probe), new java.io.File(p, "_graft_delta").isDirectory)
      })
    })

  /** The live `(id, bucket)` rows of the 4-dim IVF store at `p`. */
  private def live(p: String): Set[(Long, Long)] =
    graft.ops.CentroidStore.Store.open(spark, p, "v", Seq("stride" -> 5), "reading").all
      .select(col("id"), col("__centroid").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("collectWithin: a many-partition frame over its bound falls back; at it, every row comes back") {
    val sp = spark
    import sp.implicits._
    val pinned = sp.sparkContext.parallelize(1L to 200L, 16).toDF("x")
      .localCheckpoint(eager = false)
    val weight = (r: Row) => r.getLong(0)
    val total = (1L to 200L).sum
    assert(SizeRoute.collectWithin(pinned, total - 1, weight).isEmpty)
    assert(SizeRoute.collectWithin(pinned, 0, weight).isEmpty)
    assert(SizeRoute.collectWithin(pinned, total, weight).map(_.map(_.getLong(0)).toSeq)
      .contains(1L to 200L))
  }

  test("the fixture map covers every registered route") {
    assert(fixtures.keySet == SizeRoute.Registry.toSet)
  }

  test("every registered route: bound n-1, n, n+1 equal the forced-distributed run") {
    for (route <- SizeRoute.Registry) {
      val prop = Prop.forAllNoShrink(Gen.choose(1L, 1000000L)) { seed =>
        val f = fixtures(route)(seed)
        def at(bound: Int): Run = SizeRoute.withBounds(route -> bound)(f.run())
        val distributed = at(0)
        val below = at(f.n - 1)
        val exact = at(f.n)
        val above = at(f.n + 1)
        val ctx = s"${route.name} seed=$seed n=${f.n} observed " +
          Seq(distributed, below, exact, above).map(_.observed).mkString("/")
        assert(f.n > 1, ctx)
        Seq(below, exact, above).foreach(r => assert(r.out == distributed.out, ctx))
        // the route flips between n-1 and n and nowhere else
        assert(below.observed == distributed.observed, ctx)
        assert(exact.observed == above.observed, ctx)
        assert(below.observed != exact.observed, ctx)
        true
      }
      val result = Test.check(
        Test.Parameters.default.withMinSuccessfulTests(2).withWorkers(1), prop)
      assert(result.passed, s"${route.name}: ${result.status}")
    }
  }
}

object SizeRouteSpec {

  /** A run's comparable output and its route observable. */
  final case class Run(out: Any, observed: Any)

  /** A generated input: its measured size and one route run. */
  final case class Fixture(n: Int, run: () => Run)
}
