package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{array_cosine_distance, array_distance}

/** Product quantization (PQ) — the memory tier of IVF-PQ, the capability
  * family the reference's `voyager` (HNSW) dependency exists for
  * (cobalt-duckdb requirements.txt:31-33, model/search/vector.py:96): ANN
  * under a memory/latency budget too tight for full-precision vectors.
  *
  * A dim-D float vector (4·D bytes) compresses to M one-byte codes: the
  * vector splits into M subvectors of D/M dims, and each subvector is
  * replaced by the id of its nearest entry in that subspace's codebook.
  * Query-time ADC (asymmetric distance computation) scans only the codes:
  * the query is compared to every codebook entry ONCE — an M×K distance
  * table, broadcast — and a vector's approximate distance is the sum of M
  * table lookups. The float corpus is read only to rerank the survivors.
  *
  * At 100 TB that is the whole point: a 64-dim float corpus is 256 B/vec;
  * PQ-8 codes are 8 B/vec — a 32× smaller scan, and the only full-precision
  * reads are `overfetch` rows per query. Every stage here is a DataFrame
  * plan: codebooks broadcast into the encode scan (map-side-combined
  * argmin, one shuffled row per (vector, subspace)), the ADC sum is a
  * map-side-combined integer aggregate (one shuffled row per vector), and
  * the rerank is a broadcast semi-join.
  *
  * Cross-engine exactness: codebooks are deterministic (stride-sampled),
  * assignment ties break on lowest entry id, and the ADC accumulates
  * integer-scaled distances — `floor(d²·10⁶)` is bit-identical in both
  * engines (array_distance agrees to the last ULP; floor of the same double
  * is the same long), and an integer sum is accumulation-order-free. The
  * repo's decimal-partials recipe, integer flavor.
  */
object ProductQuantizer {

  /** PQ geometry: `m` subspaces of `dsub` dims; codebook entry `j` of
    * subspace `s` is the s-th subvector of the corpus row with
    * id = j·stride (deterministic, SQL-replayable; swap in per-subspace
    * k-means entries at scale — all machinery below is codebook-agnostic).
    */
  final case class PqSpec(m: Int, dsub: Int, stride: Int) {
    require(m > 0 && dsub > 0 && stride > 0, s"invalid PQ spec: $this")
  }

  /** The M subvector slices of `vec` as an array column (1-based slice). */
  private def subvecs(vec: Column, spec: PqSpec): Column =
    array((0 until spec.m).map(s =>
      slice(vec, s * spec.dsub + 1, spec.dsub)): _*)

  /** Long-form `(id, subspace, subvector)` — each input row exploded to its
    * M subvectors, locally (posexplode — no shuffle).
    */
  private def explodeSub(df: DataFrame, idCol: String, vecCol: String,
      spec: PqSpec): DataFrame = {
    // Widen a narrower-than-core-count scan before the explode: every
    // consumer fans each row out M-fold and then K-fold through the
    // broadcast codebook join, so a one-file input otherwise runs the
    // whole n·M·K argmin in a SINGLE task (caught on the r18 100×-sf0.1
    // rung: the IVF-PQ encode sat in one codegen task grinding 5B rows —
    // the PQ twin of the AnnIndex.buildWith finding). Real multi-split
    // inputs are already wide: no-op, no gratuitous corpus shuffle.
    val wide = graft.util.Partitions.widenNarrowScan(
      df.select(col(idCol).cast("long").as("__id"),
        col(vecCol).cast("array<double>").as("__vsrc")))
    wide.select(col("__id"), posexplode(subvecs(col("__vsrc"), spec)))
      .withColumnRenamed("pos", "__m").withColumnRenamed("col", "__sv")
  }

  /** Long-form codebooks `(__m, __j, __cbvec)`: broadcast-sized
    * (m·(n/stride) rows of dsub doubles). Entry numbers `__j` are the
    * DENSE RANK of the stride-sampled ids — NOT `__id/stride`, which is
    * only dense when corpus ids are contiguous: on a sparse id space
    * (shard-offset ids, id-shifted corpus copies) raw `__id/stride`
    * exceeds [[MaxEntries]] and the packed argmin would silently wrap
    * `j mod 4096`, colliding distinct entries — the engine and the SQL
    * replay then diverge on which entry a wrapped key means (caught by
    * the 10×-sf0.1 synthetic rung, r16). On contiguous ids dense rank
    * EQUALS `__id/stride`, so shipped artifacts and oracles are
    * unchanged there; the rank window runs over the codebook-sized entry
    * table at build time only.
    */
  def codebooks(df: DataFrame, idCol: String, vecCol: String,
      spec: PqSpec): DataFrame =
    explodeSub(df.where(pmod(col(idCol), lit(spec.stride)) === 0),
        idCol, vecCol, spec)
      .withColumn("__j", dense_rank().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("__id")))
        .cast("long") - 1)
      .select(col("__j"), col("__m"), col("__sv").as("__cbvec"))

  /** Fail fast when the codebook exceeds the packed-argmin capacity —
    * every encode/train would otherwise silently wrap entry numbers.
    * One tiny aggregate over the codebook-sized table; build-time only.
    */
  private def requireCodebookFits(cb: DataFrame, what: String): Unit = {
    val n = cb.agg(countDistinct(col("__j"))).head().getLong(0)
    require(n <= MaxEntries,
      s"$what yields $n codebook entries; PQ expects small codebooks " +
        s"(<= $MaxEntries) — raise the stride or pre-cluster")
  }

  /** Codebooks are contractually SMALL (real PQ uses K = 256 — codes are
    * bytes); 4096 is generous headroom and what lets the argmin pack into
    * one long and the ADC table inline as a literal.
    */
  val MaxEntries = 4096

  /** Distances saturate here before packing: `d·10¹²·4096` overflows a
    * long for d > ~2·10³, which would silently corrupt assignments on an
    * un-normalized corpus. Any normalized-embedding corpus (subvector
    * L2 ≤ 2) sits ~3 orders of magnitude under the bound, so the clamp is
    * inert there — it only turns would-be overflow into a deterministic
    * tie (broken by lowest entry id, like every other tie).
    */
  val MaxPackedDistance = 2e3

  /** Packed assignment key: `floor(min(d, 2·10³)·10¹²)·4096 + j`. A plain
    * `long` min hash-aggregates (map-side partial combine), where a
    * `min(struct(d, j))` falls back to SortAggregate and SORTS the full
    * (vector × entry) fanout — the difference between a hash pass and an
    * n·M·K-row sort at scale.
    * Semantics: argmin over (d quantized to 1e-12, then j) — the 1e-12
    * bucketing is part of the algorithm and replayed identically by the SQL
    * oracle, so cross-engine agreement never depends on float tie-breaks.
    */
  private def packedKey(d: Column, j: Column): Column =
    floor(least(d, lit(MaxPackedDistance)) * lit(1e12)).cast("long") *
      lit(MaxEntries.toLong) + j

  /** PQ codes `(__id, __m, __code)`: per (vector, subspace) the nearest
    * codebook entry by L2 (tie → lowest entry id, via [[packedKey]]). The
    * codebook broadcasts into the scan and the argmin partial-aggregates
    * map-side, so the shuffle carries one row per (vector, subspace) — M
    * rows per vector, never the ksub-way candidate fanout.
    */
  def encode(df: DataFrame, idCol: String, vecCol: String,
      cb: DataFrame, spec: PqSpec): DataFrame =
    explodeSub(df, idCol, vecCol, spec)
      .join(broadcast(cb), Seq("__m"))
      .select(col("__id"), col("__m"),
        packedKey(array_distance(col("__sv"), col("__cbvec")), col("__j"))
          .as("__key"))
      .groupBy(col("__id"), col("__m"))
      .agg(pmod(min(col("__key")), lit(MaxEntries.toLong)).as("__code"))

  /** Per-subspace Lloyd-refined codebooks — the trained tier real IVF-PQ
    * recall comes from. Init is the deterministic stride sample
    * ([[codebooks]]); each of `iters` rounds reassigns every subvector to
    * its nearest entry (the same packed-long argmin [[encode]] uses) and
    * moves each entry to the mean of its members, independently in every
    * subspace. Empty entries keep their previous position, and means round
    * to a 1e-6 grid so cross-engine accumulation-order drift cannot flip a
    * downstream argmin — the `AnnIndex.kmeansCentroids` recipe, subspace
    * flavor, which is what keeps the result SQL-replayable (and therefore
    * under the hash gate) despite being genuinely trained.
    *
    * Scale shape: each round is one broadcast join of the codebook into the
    * subvector scan + two map-side-combined aggregates over n·M rows — the
    * same cost class as a single [[encode]] pass, run `iters` times at
    * build time only (probes never pay it).
    */
  def trainedCodebooks(df: DataFrame, idCol: String, vecCol: String,
      spec: PqSpec, iters: Int = 2): DataFrame = {
    // persist: the exploded subvectors feed every round's assignment
    val sub = explodeSub(df, idCol, vecCol, spec)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cb = codebooks(df, idCol, vecCol, spec)
    requireCodebookFits(cb, s"stride ${spec.stride} over this corpus")
    var prevCb: DataFrame = null
    for (_ <- 1 to iters) {
      val assigned = sub.join(broadcast(cb), Seq("__m"))
        .select(col("__id"), col("__m"), col("__sv"),
          packedKey(array_distance(col("__sv"), col("__cbvec")), col("__j"))
            .as("__key"))
        .groupBy(col("__id"), col("__m"))
        .agg(first(col("__sv")).as("__sv"),
          pmod(min(col("__key")), lit(MaxEntries.toLong)).as("__j"))
      // vector_sum: one shuffle of dsub-length buffers per (subspace, entry)
      val means = assigned
        .groupBy(col("__m"), col("__j"))
        .agg(graft.functions.vector_sum(col("__sv")).as("__sum"),
          count(lit(1)).as("__n"))
        .select(col("__m"), col("__j"),
          transform(col("__sum"), x => round(x / col("__n"), 6)).as("__mvec"))
      // eager materialize (the codebook is M×K rows — the count is one
      // bounded job) so the PREVIOUS round's cache can be released: a
      // long-lived session running many trained builds must not accumulate
      // a cached frame per round until eviction pressure (r8 ADVICE)
      val next = cb.select(col("__m"), col("__j"), col("__cbvec").as("__prev"))
        .join(means, Seq("__m", "__j"), "left")
        .select(col("__j"), col("__m"),
          coalesce(col("__mvec"), col("__prev")).as("__cbvec"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      next.count()
      if (prevCb != null) prevCb.unpersist(blocking = false)
      prevCb = next
      cb = next
    }
    // the subvector cache only feeds training rounds — free it here; the
    // final codebook stays cached for the caller's encode + write reuse
    sub.unpersist(blocking = false)
    cb
  }

  /** ADC top-k candidates + exact full-precision rerank (the SCANN/FAISS
    * two-stage shape, PQ flavor). Stage 1 ranks every vector by the sum of
    * integer-scaled table distances (`floor(d²·10⁶)` per subspace — exact,
    * order-free); stage 2 reranks the `overfetch` survivors on true cosine
    * distance. Returns `(idCol, cos_dist)`, k rows.
    *
    * `df` is the corpus to search — pass an IVF bucket-pruned frame
    * ([[AnnIndex.probedRows]]) for the full IVF-PQ composition: partition
    * pruning cuts the scan to nprobe buckets, PQ cuts the per-row cost
    * inside them, rerank touches `overfetch` float rows total.
    *
    * Preconditions: numeric ids (cast to long), no null vector elements
    * (the corpus contract for every ANN tier here), `qvec.length == m·dsub`.
    */
  def adcRerankTopK(df: DataFrame, idCol: String, vecCol: String,
      qvec: Array[Double], k: Int, spec: PqSpec, overfetch: Int = 100,
      precomputed: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    require(qvec.length == spec.m * spec.dsub,
      s"query dim ${qvec.length} != m*dsub ${spec.m * spec.dsub}")
    require(k > 0 && overfetch >= k, s"need overfetch >= k > 0: $overfetch, $k")
    // M×K distance table inputs: query subvector vs codebook entry,
    // integer-scaled. qsub is a tiny literal (the query itself); the
    // arithmetic is engine-side so a SQL oracle replays it bit-for-bit.
    def withDq(cb: DataFrame): DataFrame = {
      val qsub = (0 until spec.m).map(s =>
        qvec.slice(s * spec.dsub, (s + 1) * spec.dsub).toSeq)
      val d = array_distance(col("__cbvec"),
        element_at(typedLit(qsub), col("__m").cast("int") + 1))
      cb.withColumn("__dq", floor(d * d * lit(1e6)).cast("long"))
    }
    val cands = (precomputed match {
      case Some((cb, codes)) =>
        // at-rest codes: ADC is a broadcast (m, j) -> dq lookup over the
        // compressed table — the corpus is never re-encoded
        val dt = withDq(cb).select(col("__m"), col("__j"), col("__dq"))
        codes
          .join(broadcast(dt),
            codes("__m") === dt("__m") && codes("__code") === dt("__j"))
          .groupBy(col("__id"))
          .agg(sum(col("__dq")).as("__adc"))
      case None =>
        // one-shot fused path: assignment argmin and ADC in ONE
        // HashAggregate. The packed-long min lets the whole thing stay a
        // hash pass (a struct-min falls to SortAggregate and sorts the
        // n·M·K fanout); per-subspace min(when(m)) picks the key map-side,
        // then adc is an M-term sum of literal-table lookups — the dq
        // table is M×K longs collected once (bounded by MaxEntries: PQ
        // codebooks are model-artifact-sized, same class as the query
        // vector itself). One shuffle of one row per vector.
        // dq computed ENGINE-side then collected (never recomputed driver-
        // side Scala — zero float-drift risk vs the oracle); the collected
        // rows also become the LocalTableScan broadcast side, so the main
        // job carries no codebook-derivation subplan
        val cbq = withDq(codebooks(df, idCol, vecCol, spec))
          .select(col("__m"), col("__j"), col("__cbvec"), col("__dq"))
        val cbRows = cbq.collect()
        require(cbRows.nonEmpty,
          s"no codebook entries: no $idCol divisible by stride ${spec.stride}" +
            " — lower the stride or pass trained codebooks via `precomputed`")
        val ksub = cbRows.map(_.getLong(1)).max.toInt + 1
        require(ksub <= MaxEntries,
          s"codebook has $ksub entries; PQ expects small codebooks (<= $MaxEntries)" +
            " — raise stride or pre-cluster")
        val dqTable: Seq[Seq[Long]] = (0 until spec.m).map { s =>
          val row = cbRows.filter(_.getInt(0) == s)
            .map(r => r.getLong(1) -> r.getLong(3)).toMap
          (0 until ksub).map(j => row.getOrElse(j.toLong, Long.MaxValue / 2))
        }
        val cbLocal = df.sparkSession.createDataFrame(
          java.util.Arrays.asList(cbRows: _*), cbq.schema)
        val perSub = (0 until spec.m).map { s =>
          min(when(col("__m") === s,
            packedKey(array_distance(col("__sv"), col("__cbvec")), col("__j"))))
            .as(s"__k$s")
        }
        val adc = (0 until spec.m).map { s =>
          element_at(element_at(typedLit(dqTable), s + 1),
            pmod(col(s"__k$s"), lit(MaxEntries.toLong)).cast("int") + 1)
        }.reduce(_ + _)
        explodeSub(df, idCol, vecCol, spec)
          .join(broadcast(cbLocal.select(col("__m"), col("__j"), col("__cbvec"))),
            Seq("__m"))
          .groupBy(col("__id"))
          .agg(perSub.head, perSub.tail: _*)
          .select(col("__id"), adc.as("__adc"))
    })
      .orderBy(col("__adc").asc, col("__id").asc)
      .limit(overfetch)
      .select(col("__id").as("__cand"))
    df.join(broadcast(cands), col(idCol).cast("long") === col("__cand"), "left_semi")
      .select(col(idCol),
        array_cosine_distance(col(vecCol).cast("array<double>"),
          typedLit(qvec.toSeq)).as("cos_dist"))
      .orderBy(col("cos_dist").asc_nulls_last, col(idCol).asc)
      .limit(k)
  }

  private val SpecMarker = "_graft_pq_spec"

  /** Generation pointer for the FLAT code table: when present, the live
    * codes directory is `codes_g<N>` and plain `codes/` is the
    * legacy/fresh-build layout. [[compactCodes]] commits a rewrite by
    * writing the NEXT generation directory in full and then publishing the
    * pointer — so a crash at ANY point leaves a complete, readable
    * generation: before the publish the old directory is still live (the
    * new one is an invisible orphan the next compaction overwrites), after
    * it the new one is. This replaces the r15 two-directory-rename swap,
    * whose mid-swap crash left NO codes directory at all.
    *
    * The pointer is a SEQUENCE of create-exclusive files
    * `_graft_codes_gen.<N>` — readers take the max N — never a rewritten
    * single file (r17): rewriting one marker under live readers means a
    * delete+rename somewhere, and on rename-refuses-overwrite or
    * copy+delete stores that is a missing-pointer window in which a
    * reader resolves the long-deleted legacy `codes/` and fails (a CRASH
    * in that window stranded the store until manual repair). Publishing
    * gen N is now one atomic `create(_graft_codes_gen.N, overwrite =
    * false)`: the old pointer file stays until AFTER the new one exists,
    * so every read window resolves a committed generation on every store
    * Spark can write. Stale pointer files and generation dirs are garbage-
    * collected one cycle later — [[compactCodes]] retains generation N-1
    * when committing N, so a reader that resolved N-1 just before the
    * flip can still finish its scan (snapshot retention, one cycle deep).
    * Pre-r17 stores with the content-based `_graft_codes_gen` file read
    * compatibly (max over both forms).
    */
  private val CodesGenMarker = "_graft_codes_gen"

  /** The committed codes generation: 0 = no pointer (legacy `codes/`). */
  private def currentCodesGen(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = {
    val sequenced = IndexFiles
      .listFilesWithPrefix(spark, path, CodesGenMarker + ".")
      .flatMap(s =>
        scala.util.Try(s.getPath.getName.drop(CodesGenMarker.length + 1).toLong)
          .toOption)
    val legacy = IndexFiles.readStringOpt(spark, s"$path/$CodesGenMarker")
      .map(_.trim.toLong)
    (sequenced ++ legacy).foldLeft(0L)(math.max)
  }

  /** Publish generation `gen` (see [[CodesGenMarker]]): one atomic
    * create-exclusive, then best-effort GC of older pointer files — the
    * max-N read rule keeps every interleaving correct while they linger.
    */
  private def publishCodesGen(spark: org.apache.spark.sql.SparkSession,
      path: String, gen: Long): Unit = {
    // the epoch's commit point: refuse it if our lease was broken and
    // re-acquired mid-epoch (see IndexFiles.fenceWriterLease)
    IndexFiles.fenceWriterLease(spark, path)
    IndexFiles.createMarker(spark, s"$path/$CodesGenMarker.$gen", gen.toString)
    IndexFiles.listFilesWithPrefix(spark, path, CodesGenMarker)
      .filter { s =>
        val n = s.getPath.getName
        n == CodesGenMarker ||
          scala.util.Try(n.drop(CodesGenMarker.length + 1).toLong)
            .toOption.exists(_ < gen)
      }
      .foreach(s => IndexFiles.deleteRecursive(spark, s.getPath.toString))
  }

  /** The LIVE codes directory — every read, append and compaction resolves
    * through here (the single choke point that makes the generation flip
    * safe). Generation pointers only ever exist on the flat layout; the
    * bucket-partitioned IVF-PQ table compacts in place (dynamic partition
    * overwrite) and always resolves to `codes/`.
    */
  private[graft] def resolveCodesDir(spark: org.apache.spark.sql.SparkSession,
      path: String): String = {
    val gen = currentCodesGen(spark, path)
    if (gen == 0L) s"$path/codes" else s"$path/codes_g$gen"
  }

  /** Materialize the compressed index as parquet: `codes/` (the at-rest
    * table every ADC probe scans — M bytes of information per vector) and
    * `codebooks/` beside it (codes are meaningless without their
    * codebooks), plus a geometry marker so a reopen with different
    * geometry fails fast instead of decoding garbage. The build is the
    * one corpus-sized job; probes after this touch only codes + rerank
    * rows — the float corpus is never re-encoded.
    *
    * `trainedIters > 0` runs that many [[trainedCodebooks]] Lloyd rounds
    * before encoding — the production build (better quantization, same
    * at-rest layout; [[appendToMaterialized]] and probes are
    * codebook-agnostic, so nothing downstream changes).
    */
  def materialize(df: DataFrame, idCol: String, vecCol: String,
      spec: PqSpec, path: String, trainedIters: Int = 0): Unit = {
    val cb =
      if (trainedIters > 0) trainedCodebooks(df, idCol, vecCol, spec, trainedIters)
      else codebooks(df, idCol, vecCol, spec)
    require(!cb.isEmpty,
      s"no codebook entries: no $idCol divisible by stride ${spec.stride}")
    requireCodebookFits(cb, s"stride ${spec.stride} over this corpus")
    cb.write.mode("overwrite").parquet(s"$path/codebooks")
    encode(df, idCol, vecCol, cb, spec)
      .write.mode("overwrite").parquet(s"$path/codes")
    // a re-materialize over an existing store is a full rebuild (single-
    // writer, probes quiesced — the same contract compaction carries):
    // drop any generation pointer, stale generation dirs and pending
    // tombstones so readers resolve to the fresh `codes/`
    resetCodesState(df.sparkSession, path)
    IndexFiles.writeString(df.sparkSession, s"$path/$SpecMarker",
      s"${spec.m} ${spec.dsub} ${spec.stride}")
  }

  /** Drop generation/tombstone state after a full rebuild: the pointer
    * first (readers immediately fall back to the just-written `codes/`),
    * then the now-unreachable generation dirs and the sidecar.
    */
  private def resetCodesState(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    // pointer files first (both the sequenced r17 form and the legacy
    // content-based one), then every generation dir by LISTING — which
    // also catches crash-orphaned uncommitted generations — then the
    // sidecar
    IndexFiles.listFilesWithPrefix(spark, path, CodesGenMarker)
      .foreach(s => IndexFiles.deleteRecursive(spark, s.getPath.toString))
    IndexFiles.listSubdirs(spark, path, "codes_g")
      .foreach(s => IndexFiles.deleteRecursive(spark, s.getPath.toString))
    IndexFiles.deleteRecursive(spark, s"$path/$TombstoneDir")
  }

  /** Flat-layout delete sidecar: deleted ids parquet-appended here instead
    * of rewriting the whole code table per batch (see
    * [[deleteFromMaterialized]]). Reads anti-join it; [[compactCodes]]
    * folds it into the files and clears it.
    */
  private val TombstoneDir = "tombstones"

  /** The live generation dir's record of sidecar files already FOLDED into
    * it: compaction retains those files one cycle (same snapshot-retention
    * rule as the previous generation dir) instead of deleting them inline
    * — an in-flight reader planned its tombstone anti-join against the
    * file listing of ITS generation, and deleting those files under it is
    * a mid-scan FileNotFound. Readers subtract the record, so a folded
    * file lingering is invisible (its ids are already gone from the live
    * codes; re-anti-joining them is an idempotent no-op if the record is
    * ever lost — self-healing, never wrong).
    */
  private def foldedRecordPath(codesDir: String): String =
    s"$codesDir/_graft_folded_ts"

  /** Sidecar parquet files NOT yet folded into the live generation.
    *
    * `codesDir` must be the SAME resolved generation directory the caller
    * reads its code rows from — resolved ONCE per open and threaded
    * through. Re-resolving here would open a race: if compaction
    * publishes generation N between the caller's resolution (N-1) and a
    * second resolution here, the folded record of gen N would be
    * subtracted from a gen N-1 scan, silently resurrecting ids whose
    * sidecar files were folded only into N.
    */
  private def unfoldedTombstoneFiles(
      spark: org.apache.spark.sql.SparkSession, path: String,
      codesDir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    // pre-r16 stores rewrote the sidecar through a two-rename swap; a crash
    // mid-swap left only `_rewriting`/`_retired` dirs, which the old reader
    // silently treated as "no tombstones" — resurrecting every pending
    // delete. The rewrite path no longer exists (revives fold through
    // compactCodes), but an interrupted OLD artifact must fail loudly, not
    // read as empty.
    Seq("_rewriting", "_retired").foreach { sfx =>
      require(!IndexFiles.exists(spark, s"$path/$TombstoneDir$sfx"),
        s"leftover $TombstoneDir$sfx at $path — an interrupted pre-r16 " +
          "sidecar rewrite; recover the last complete tombstone set " +
          "manually before reading (an empty read here would silently " +
          "resurrect pending deletes)")
    }
    if (!IndexFiles.isDirectory(spark, s"$path/$TombstoneDir")) Seq.empty
    else {
      val folded = IndexFiles.readStringOpt(spark,
        foldedRecordPath(codesDir))
        .map(_.linesIterator.map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty)
      IndexFiles.listParquet(spark, s"$path/$TombstoneDir")
        .filterNot(s => folded.contains(s.getPath.getName))
    }
  }

  private def tombstones(spark: org.apache.spark.sql.SparkSession,
      path: String, codesDir: String): Option[DataFrame] = {
    val files = unfoldedTombstoneFiles(spark, path, codesDir)
    if (files.isEmpty) None
    else Some(spark.read.parquet(files.map(_.getPath.toString): _*)
      .select(col("__id")).distinct())
  }

  /** Open a [[materialize]]d index: `(spec, (codebooks, codes))`, shaped
    * for [[adcRerankTopK]]'s `precomputed` parameter. The stored geometry
    * is authoritative; pass `expect` to assert the caller's assumption.
    * Tombstoned rows (flat-layout deletes not yet folded by
    * [[compactCodes]]) are filtered out here — the single choke point
    * every probe/read path goes through, so a tombstone-deleted id is
    * invisible everywhere at the cost of one broadcast anti-join against
    * the (batch-sized) sidecar.
    */
  def fromMaterialized(spark: org.apache.spark.sql.SparkSession, path: String,
      expect: Option[PqSpec] = None): (PqSpec, (DataFrame, DataFrame)) = {
    val parts = IndexFiles.readString(spark, s"$path/$SpecMarker")
      .trim.split(" ")
    val spec = PqSpec(parts(0).toInt, parts(1).toInt, parts(2).toInt)
    expect.foreach(e => require(e == spec,
      s"index at $path was materialized with $spec, opened expecting $e"))
    // resolve the generation ONCE: the code rows and the folded-sidecar
    // record must come from the same generation (see unfoldedTombstoneFiles)
    val codesDir = resolveCodesDir(spark, path)
    val stored = spark.read.parquet(codesDir)
    val codes =
      // the IVF-PQ layout: buckets ∪ pending delta rows − tombstones
      if (stored.columns.contains("__centroid"))
        IndexManifests.readLive(spark, codesDir, "__centroid", "__id", None, None)
      else tombstones(spark, path, codesDir) match {
        case Some(ts) => stored.join(broadcast(ts), Seq("__id"), "left_anti")
        case None => stored
      }
    (spec, (spark.read.parquet(s"$path/codebooks"), codes))
  }

  /** True when the store at `path` is the bucket-partitioned IVF-PQ code
    * layout (vs the flat one) — the dispatch key for the append/compact
    * maintenance twins, derived from the stored schema itself so streaming
    * loops need no filesystem-shape heuristics.
    */
  def layoutIsIvfPq(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean =
    spark.read.parquet(resolveCodesDir(spark, path))
      .columns.contains("__centroid")

  /** Materialize the full IVF-PQ composition: full-corpus codebooks plus
    * codes PARTITIONED BY the IVF bucket (`__centroid`) — the layout where
    * a probe's scan is `nprobe` bucket directories of M-byte codes, with
    * the float corpus touched only for the rerank survivors. `assignment`
    * is the IVF `(idCol, __centroid)` frame — typically the
    * `AnnIndex.materialize` parquet read back — so the code table and the
    * float table prune on the SAME bucket selection.
    */
  def materializeIvfPq(df: DataFrame, idCol: String, vecCol: String,
      assignment: DataFrame, spec: PqSpec, path: String,
      trainedIters: Int = 0): Unit = {
    val cb =
      if (trainedIters > 0) trainedCodebooks(df, idCol, vecCol, spec, trainedIters)
      else codebooks(df, idCol, vecCol, spec)
    require(!cb.isEmpty,
      s"no codebook entries: no $idCol divisible by stride ${spec.stride}")
    requireCodebookFits(cb, s"stride ${spec.stride} over this corpus")
    cb.write.mode("overwrite").parquet(s"$path/codebooks")
    // resetCodesState leaves codes/ and its manifest alone
    IndexManifests.writeBuckets(encode(df, idCol, vecCol, cb, spec)
      .join(assignment.select(col(idCol).cast("long").as("__id"),
        col("__centroid")), Seq("__id")), s"$path/codes", "__centroid")
    resetCodesState(df.sparkSession, path)
    IndexFiles.writeString(df.sparkSession, s"$path/$SpecMarker",
      s"${spec.m} ${spec.dsub} ${spec.stride}")
  }

  /** Probe a [[materializeIvfPq]]'d index: rank centroids (via `index`,
    * which must be the IVF index the assignment came from), partition-prune
    * the at-rest code table to the `nprobe` bucket directories, ADC over
    * those codes alone, then full-precision rerank against the SAME pruned
    * buckets of the float table ([[AnnIndex.probedRows]] — also a partition
    * prune). Nothing corpus-sized runs at probe time: both scans are
    * nprobe-bucket-bounded, the rerank touches `overfetch` float rows, and
    * codebooks/distance-table are broadcast-sized.
    */
  def probeIvfPqTopK(index: AnnIndex, idCol: String, vecCol: String,
      path: String, qvec: Array[Double], k: Int, nprobe: Int = 4,
      overfetch: Int = 100,
      spark: Option[org.apache.spark.sql.SparkSession] = None): DataFrame = {
    val session = spark.getOrElse(org.apache.spark.sql.SparkSession.active)
    val (spec, (cb, codes)) = fromMaterialized(session, path)
    val (rows, cids) = index.probed(qvec, nprobe)
    val pruned = codes.join(org.apache.spark.sql.functions.broadcast(cids),
      col("__centroid") === col("__probe_cid"), "left_semi")
    adcRerankTopK(rows, idCol, vecCol, qvec, k,
      spec, overfetch, precomputed = Some((cb, pruned)))
  }

  /** Append a NEW vector batch to a [[materialize]]d index: the batch
    * encodes against the STORED codebooks (never re-derived — appended
    * vectors must not shift entry meanings) and only its rows append to
    * `codes/`. The ingest path at scale, twin of
    * [[AnnIndex.appendToMaterialized]]: the already-encoded corpus is
    * untouched, probes see old + new immediately. Re-materialize to
    * re-fit codebooks after heavy distribution drift.
    */
  def appendToMaterialized(batch: DataFrame, idCol: String, vecCol: String,
      path: String, expect: Option[PqSpec] = None): Unit =
      IndexFiles.withWriterLease(batch.sparkSession, path, "pq-append") {
    val spark = batch.sparkSession
    val (spec, (cb, codes)) = fromMaterialized(spark, path, expect)
    // this writes FLAT (unpartitioned) code rows: on an IVF-PQ store they
    // would land outside every bucket directory — corrupting the layout
    // and staying invisible to manifest-pruned reads — so refuse, same
    // layout dispatch as the delete
    require(!codes.columns.contains("__centroid"),
      s"index at $path is the bucket-partitioned IVF-PQ layout: use " +
        "appendToIvfPq (partition-aware append) instead of the flat append")
    // A re-inserted id must be visible again AND must not leave two stored
    // code rows: its old rows are tombstoned (not gone), so clearing the
    // tombstone alone would revive them alongside the fresh append — the
    // precomputed ADC path sums __dq per __id, so a duplicated id's
    // distance doubles and it is wrongly demoted out of the candidate set
    // (and a changed vector would mix stale codes with new). When the
    // batch intersects the sidecar, fold the sidecar into the files FIRST
    // (forced compactCodes: old rows physically purged, sidecar cleared —
    // the generation flip makes it crash-safe), THEN append. Crash between
    // the fold and the append leaves the ids fully deleted and the epoch
    // marker unadvanced, so a streaming replay re-runs cleanly.
    val batchIds = batch.select(col(idCol).cast("long").as("__id")).distinct()
    val revives = tombstones(spark, path, resolveCodesDir(spark, path))
      .exists(ts =>
        !ts.join(broadcast(batchIds), Seq("__id"), "left_semi").isEmpty)
    if (revives) compactCodes(spark, path, force = true)
    encode(batch, idCol, vecCol, cb, spec)
      .write.mode("append").parquet(resolveCodesDir(spark, path))
  }

  /** Append a NEW vector batch to a [[materializeIvfPq]]'d (bucket-
    * partitioned) store: the batch encodes against the STORED codebooks
    * and lands in its buckets under the IVF assignment REPLAYED against
    * the companion IVF store at `ivfPath` ([[AnnIndex.storedAssignment]] —
    * the rule `AnnIndex.materialize` files rows by, so the code table and
    * the float store stay bucket-consistent by construction). Only the
    * batch's rows write, through the IVF store's batch-sized path
    * ([[IndexManifests.appendRows]]: one delta file, or the bucket
    * directories past [[SizeRoute.PendingRows]]).
    */
  def appendToIvfPq(batch: DataFrame, idCol: String, vecCol: String,
      ivfPath: String, stride: Int, path: String,
      expect: Option[PqSpec] = None): Unit =
      IndexFiles.withWriterLease(batch.sparkSession, path, "ivfpq-append") {
    val spark = batch.sparkSession
    val (spec, (cb, codes)) = fromMaterialized(spark, path, expect)
    require(codes.columns.contains("__centroid"),
      s"index at $path is the flat layout: use appendToMaterialized")
    // a rebuild over the union corpus would promote these ids into the
    // codebook / centroid sets, changing entry meanings or the bucket
    // geometry — the append==rebuild contract needs both sets frozen
    require(batch.where(pmod(col(idCol), lit(spec.stride)) === 0).isEmpty,
      s"batch contains codebook-entry ids ($idCol divisible by " +
        s"${spec.stride}) — re-materialize instead")
    require(batch.where(pmod(col(idCol), lit(stride)) === 0).isEmpty,
      s"batch contains IVF centroid-level ids ($idCol divisible by " +
        s"$stride) — re-materialize instead")
    IndexManifests.appendRows(batch, idCol, s"$path/codes", "__centroid", "__id", None) { b =>
      encode(b, idCol, vecCol, cb, spec)
        .join(AnnIndex.storedAssignment(b, idCol, vecCol, stride, ivfPath)
          .select(col(idCol).cast("long").as("__id"), col("__centroid")), Seq("__id"))
    }
  }

  /** Batch DELETE from a [[materialize]]d or [[materializeIvfPq]]'d index —
    * the removal half of the maintenance trio (append grows, compact
    * re-files, this removes), twin of `AnnIndex.deleteFromMaterialized`.
    * Codes encode per-row against FROZEN codebooks, so the deleted
    * artifact is trivially row-identical to re-encoding the reduced
    * corpus; deleting codebook-entry rows (ids divisible by the stored
    * stride) is refused — every code references their entries.
    *
    * Layouts: the IVF-PQ code table is partitioned by bucket, so the
    * caller passes the deleted rows' IVF `assignment` (any
    * `(idCol, __centroid)` frame covering the batch — e.g. the companion
    * index read back BEFORE its own delete; prefer [[deleteFromIvfPq]],
    * which replays the assignment rule instead of trusting a frame), and
    * the deleted `(id, bucket)` pairs become tombstones in the code
    * table's manifest, folded into the touched buckets later or past
    * [[SizeRoute.PendingRows]] ([[IndexManifests.deleteRows]]). The
    * assignment must COVER every deleted id — validated, because the
    * documented footgun (the companion index read back AFTER its own
    * delete) no longer contains the ids and would silently turn the
    * delete into a partial no-op. The FLAT layout has no partition
    * structure: deletion appends the ids to a TOMBSTONE sidecar — cost ∝
    * batch, never the corpus — which every read path anti-joins
    * ([[fromMaterialized]]) and [[compactCodes]] folds into the files.
    */
  def deleteFromMaterialized(ids: DataFrame, idCol: String, path: String,
      assignment: Option[DataFrame] = None): Unit =
      IndexFiles.withWriterLease(ids.sparkSession, path, "pq-delete") {
    val spark = ids.sparkSession
    val (spec, (_, codes)) = fromMaterialized(spark, path)
    val delIds = ids.where(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("__id")).distinct()
    val refusal = s"batch contains codebook-entry ids ($idCol divisible by " +
      s"${spec.stride}): deleting them orphans every code that references " +
      "their entries — re-materialize instead"
    if (codes.columns.contains("__centroid")) {
      val asg = assignment.getOrElse(throw new IllegalArgumentException(
        "IVF-PQ layout: pass the deleted rows' IVF assignment " +
          s"(($idCol, __centroid) frame covering the batch), or use " +
          "deleteFromIvfPq to replay the assignment rule"))
      val asgIds = asg.select(col(idCol).cast("long").as("__id"),
        col("__centroid").cast("long"))
      // coverage check: an id missing from the frame would silently keep
      // its code rows (the post-delete-read-back ordering footgun)
      val uncovered = delIds.join(asgIds, Seq("__id"), "left_anti")
        .limit(3).collect().map(_.getLong(0))
      require(uncovered.isEmpty,
        "IVF-PQ delete: the assignment frame does not cover every deleted " +
          s"id (e.g. ${uncovered.mkString(", ")}) — " +
          "pass an assignment taken BEFORE the companion index's own " +
          "delete, or use deleteFromIvfPq")
      IndexManifests.deleteRows(spark, s"$path/codes", "__centroid", "__id",
        asgIds.join(delIds, Seq("__id"), "left_semi"), None, spec.stride, refusal)
    } else {
      val pinned = delIds.localCheckpoint() // batch-sized; feeds a require + the write
      // an empty takedown batch must not leave a zero-row sidecar: any
      // sidecar presence makes every read pay the anti-join and forces the
      // next compactCodes into a full rewrite
      if (pinned.isEmpty) return
      require(pinned.where(pmod(col("__id"), lit(spec.stride)) === 0).isEmpty, refusal)
      // TOMBSTONE delete: append the ids to the sidecar and stop — one
      // batch-sized parquet write, never a corpus-sized codes rewrite
      // (the r14 shape rewrote all M-byte code rows per delete batch).
      // Every read path anti-joins the sidecar (fromMaterialized), and
      // compactCodes folds it into the files under the store's
      // single-writer contract. coalesce(1): the sidecar is batch-sized,
      // one file per delete epoch keeps its own listing trivial.
      pinned.coalesce(1).write.mode("append").parquet(s"$path/$TombstoneDir")
    }
  }

  /** [[deleteFromMaterialized]] for the IVF-PQ layout with the assignment
    * REPLAYED against the companion IVF store at `ivfPath` instead of
    * trusted from a caller frame (`batch` carries the deleted rows'
    * vectors — the caller has them: they are corpus rows). Exactly the
    * stored buckets, since the replay is the rule the build filed them by
    * ([[AnnIndex.storedAssignment]]), so a stale or partial frame can
    * never turn the delete into a silent partial no-op — the same contract
    * as `AnnIndex.deleteFromMaterialized` and
    * `GraphAnn.deleteFromMaterialized`.
    */
  def deleteFromIvfPq(batch: DataFrame, idCol: String, vecCol: String,
      ivfPath: String, stride: Int, path: String): Unit =
    deleteFromMaterialized(batch, idCol, path, assignment = Some(
      AnnIndex.storedAssignment(batch, idCol, vecCol, stride, ivfPath)))

  /** Compact a [[materialize]]d index's flat code table — the maintenance
    * half of [[appendToMaterialized]], which grows it by one+ file per
    * ingest batch forever (the same small-files risk
    * `AnnIndex.compactBuckets` closes for the bucket-partitioned store),
    * and the fold point for the tombstone sidecar (deleted rows are
    * physically purged here). No-op below `maxFiles` with no pending
    * tombstones, unless `force` (the revive path — a batch re-inserting a
    * tombstoned id must purge its old rows before appending new ones).
    *
    * The rewrite is a narrow `coalesce` sized from actual on-disk bytes
    * (no shuffle — code rows carry no ordering contract) written to the
    * NEXT generation directory (`codes_g<N+1>`), committed by atomically
    * flipping the generation pointer, then the old directory and the
    * folded sidecar are dropped. A crash at any point leaves a complete
    * readable generation: before the flip the old directory is live and
    * the new one an invisible orphan (overwritten by the next compaction,
    * which re-derives the same generation number); between the flip and
    * the sidecar drop the stale tombstones filter already-purged ids — a
    * harmless no-op. Run under the store's single-writer contract; a
    * probe whose scan started on the old generation may need a retry if
    * it races the post-flip delete. Listing and the flip resolve through
    * the store's Hadoop FileSystem ([[IndexFiles]]) — this runs wherever
    * the data lives, not only on a local disk. Returns true when a
    * rewrite happened.
    */
  /** Layout-routed compaction — the one maintenance entrypoint streaming
    * loops call without knowing the store's shape: the bucket-partitioned
    * IVF-PQ code table folds its pending appends and deletes
    * ([[IndexManifests.fold]]) and compacts per over-fragmented bucket via
    * the shared [[IndexManifests.compactTable]] (dynamic partition
    * overwrite, in place), the flat table via [[compactCodes]] (generation
    * swap). `maxFiles` is per bucket for the former, table-total for the
    * latter. True when anything was rewritten.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      maxFiles: Int = 16, targetBytes: Long = 128L << 20): Boolean =
    IndexFiles.withWriterLease(spark, path, "pq-compact") {
      if (layoutIsIvfPq(spark, path)) {
        val folded = IndexManifests.fold(spark, s"$path/codes", "__centroid", "__id", None)
        IndexManifests.compactTable(spark, s"$path/codes", "__centroid",
          maxFiles, targetBytes).nonEmpty || folded
      } else compactCodes(spark, path, maxFiles, targetBytes)
    }

  def compactCodes(spark: org.apache.spark.sql.SparkSession, path: String,
      maxFiles: Int = 16, targetBytes: Long = 128L << 20,
      force: Boolean = false): Boolean =
      IndexFiles.withWriterLease(spark, path, "pq-compact-codes") {
    val codesDir = resolveCodesDir(spark, path)
    val parts = IndexFiles.listParquet(spark, codesDir)
    // a pending tombstone sidecar always triggers the rewrite (folding
    // deletes into the files is this method's other job) — but a ZERO-ROW
    // sidecar (pre-r16 artifact; empty batches no longer write one) must
    // not force a full-table rewrite: treat it as absent (it stays until
    // a real compaction folds it — deleting it inline here would pull
    // files out from under an in-flight reader's planned anti-join)
    val tsFiles = unfoldedTombstoneFiles(spark, path, codesDir)
    val ts = tombstones(spark, path, codesDir).filter(t => !t.isEmpty)
    if (!force && parts.length <= maxFiles && ts.isEmpty) return false
    val bytes = parts.map(_.getLen).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val live = ts match {
      case Some(t) => spark.read.parquet(codesDir)
        .join(broadcast(t), Seq("__id"), "left_anti")
      case None => spark.read.parquet(codesDir)
    }
    // the retiring generation's folded-file record, read before anything
    // moves: those sidecar files become GC-able at THIS commit (the only
    // readers that could still plan them sat on the generation before the
    // retiring one, which this commit garbage-collects)
    val retiringRecord = IndexFiles.readStringOpt(spark,
      foldedRecordPath(codesDir))
    val nextGen = currentCodesGen(spark, path) + 1
    val nextDir = s"$path/codes_g$nextGen"
    live.coalesce(nOut).write.mode("overwrite").parquet(nextDir)
    // record which sidecar files this generation folded (retained one
    // cycle; readers of the new generation subtract them) — before the
    // publish, while the dir is still invisible
    if (tsFiles.nonEmpty)
      IndexFiles.writeString(spark, foldedRecordPath(nextDir),
        tsFiles.map(_.getPath.getName).mkString("\n"))
    // the commit point: one atomic create-exclusive pointer publish
    publishCodesGen(spark, path, nextGen)
    // snapshot retention, one cycle deep: keep the PREVIOUS generation so
    // a reader that resolved it just before the publish can still finish
    // its scan; GC everything older (including crash-stranded stragglers —
    // enumerate by listing, not arithmetic). The legacy `codes/` dir is
    // generation 0 under the same rule.
    IndexFiles.listSubdirs(spark, path, "codes_g")
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix("codes_g").toLong).toOption
        .map(g => (g, s.getPath.toString)))
      .filter { case (g, _) => g < nextGen - 1 }
      .foreach { case (_, p) => IndexFiles.deleteRecursive(spark, p) }
    if (nextGen >= 2 && IndexFiles.isDirectory(spark, s"$path/codes"))
      IndexFiles.deleteRecursive(spark, s"$path/codes")
    // sidecar files folded one full cycle ago age out now
    retiringRecord.foreach(_.linesIterator.map(_.trim).filter(_.nonEmpty)
      .foreach(name =>
        IndexFiles.deleteRecursive(spark, s"$path/$TombstoneDir/$name")))
    if (IndexFiles.isDirectory(spark, s"$path/$TombstoneDir") &&
        IndexFiles.listParquet(spark, s"$path/$TombstoneDir").isEmpty)
      IndexFiles.deleteRecursive(spark, s"$path/$TombstoneDir")
    true
  }
}
