package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** WordPiece-family subword tokenization — the text → token-id step of the
  * reference's sentence-transformer embedder (cobalt-duckdb
  * model/search/vector.py:41-78 loads cl-nagoya/ruri-large, whose
  * tokenizer is a BERT WordPiece; the sandbox cannot fetch that vocab, so
  * the vocabulary here is INDUCED from the corpus — deterministically, so
  * a SQL oracle replays both induction and encoding exactly).
  *
  * Semantics follow BERT WordPiece greedy longest-match:
  *  - a word is matched left to right; at each position the LONGEST vocab
  *    piece wins, where word-initial positions match `is_cont = false`
  *    pieces and later positions match `is_cont = true` pieces (the `##`
  *    continuation distinction, carried as a flag column instead of a
  *    string prefix so pieces never collide with text that contains `##`);
  *  - if any position has no match, the WHOLE word becomes one `unkId`
  *    piece (`[UNK]` semantics);
  *  - the empty word encodes to zero pieces.
  *
  * Induction is frequency-based (top-`size` substrings of corpus words by
  * occurrence count) rather than likelihood-based BPE merges: same
  * greedy-decode contract, but expressible as one aggregate — and
  * therefore SQL-replayable, which puts the tokenizer under the hash gate
  * instead of behind a spec.
  *
  * Scale shape: induction counts DISTINCT words first (one
  * map-side-combined aggregate over the token explode), then explodes
  * substrings of the distinct-word table only — positions × pieceLens per
  * distinct word, never per occurrence. The top-`size` cut is
  * orderBy+limit (TakeOrderedAndProject: per-partition heaps). Encoding
  * broadcasts the collected vocab (model-artifact-sized, the PQ-codebook
  * class) into a per-row scan UDF — zero shuffle at any corpus size.
  */
object Subword {

  /** Greedy longest-match WordPiece ids for one word. Pure and shared by
    * the executor UDF and driver-side oracle-literal computation — the two
    * can never drift.
    *
    * @param vocab (piece, isContinuation) -> id
    */
  def greedyPieces(word: String, vocab: Map[(String, Boolean), Long],
      maxPieceLen: Int, unkId: Long): Seq[Long] = {
    if (word == null || word.isEmpty) return Seq.empty
    val out = Seq.newBuilder[Long]
    var p = 0
    while (p < word.length) {
      var l = math.min(maxPieceLen, word.length - p)
      var hit = -1L
      var hitLen = 0
      while (l >= 1 && hit < 0) {
        vocab.get((word.substring(p, p + l), p > 0)) match {
          case Some(id) => hit = id; hitLen = l
          case None => l -= 1
        }
      }
      if (hit < 0) return Seq(unkId) // whole word -> [UNK]
      out += hit
      p += hitLen
    }
    out.result()
  }

  /** Induce `(piece, is_cont, piece_id, cnt)`: the top-`size` substrings
    * (length 1..`maxPieceLen`) of corpus words by total occurrence count,
    * ids dense from 0 in (cnt desc, piece asc, is_cont asc) order. A
    * substring occurrence is counted once per (word occurrence, start
    * position); `is_cont` records whether the start position is
    * word-internal.
    */
  def induce(docs: DataFrame, textCol: String, size: Int,
      maxPieceLen: Int = 4): DataFrame = {
    require(size > 0 && maxPieceLen > 0,
      s"need positive size/maxPieceLen: $size, $maxPieceLen")
    val wc = docs
      .select(explode(TextOps.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("__c"))
    val subs = wc
      .select(col("word"), col("__c"),
        explode(sequence(lit(1), length(col("word")))).as("__s"))
      .select(col("word"), col("__c"), col("__s"),
        explode(sequence(lit(1), lit(maxPieceLen))).as("__l"))
      .where(col("__s") + col("__l") - 1 <= length(col("word")))
      .select(col("word").substr(col("__s"), col("__l")).as("piece"),
        (col("__s") > 1).as("is_cont"), col("__c"))
      .groupBy(col("piece"), col("is_cont"))
      .agg(sum(col("__c")).as("cnt"))
      .orderBy(col("cnt").desc, col("piece").asc, col("is_cont").asc)
      .limit(size)
    // the window runs on <= size rows (already cut) — Vocab.induce's bound
    subs.withColumn("piece_id",
        row_number().over(Window.orderBy(
          col("cnt").desc, col("piece").asc, col("is_cont").asc)) - 1)
      .select(col("piece"), col("is_cont"),
        col("piece_id").cast("long").as("piece_id"), col("cnt"))
  }

  /** Driver-side pure twin of [[induce]] for SMALL fixture corpora (the
    * encoder gate's shared-constant recipe): same counting and ordering
    * semantics over an in-memory sentence list. Intended for
    * model-artifact-sized inputs only — it is not distributed. String
    * ordering is Java compareTo, which agrees with the engines' binary
    * UTF-8 order for BMP text (the fixtures avoid supplementary-plane
    * characters).
    */
  def induceLocal(texts: Seq[String], size: Int, maxPieceLen: Int = 4)
      : Map[(String, Boolean), Long] = {
    require(size > 0 && maxPieceLen > 0,
      s"need positive size/maxPieceLen: $size, $maxPieceLen")
    val wc = scala.collection.mutable.HashMap.empty[String, Long]
    texts.foreach(_.split(" ", -1).foreach { w =>
      wc.update(w, wc.getOrElse(w, 0L) + 1L)
    })
    val cnt = scala.collection.mutable.HashMap.empty[(String, Boolean), Long]
    wc.foreach { case (w, c) =>
      var s = 0
      while (s < w.length) {
        var l = 1
        while (l <= maxPieceLen && s + l <= w.length) {
          val key = (w.substring(s, s + l), s > 0)
          cnt.update(key, cnt.getOrElse(key, 0L) + c)
          l += 1
        }
        s += 1
      }
    }
    cnt.toSeq
      .sortBy { case ((piece, isCont), n) => (-n, piece, isCont) }
      .take(size).zipWithIndex
      .map { case (((piece, isCont), _), i) => (piece, isCont) -> i.toLong }
      .toMap
  }

  /** Collect an [[induce]]d vocabulary to the broadcastable driver-side
    * map [[greedyPieces]] consumes. Bounded by the induction `size` —
    * model-artifact class, never corpus-sized.
    */
  def collectVocab(vocab: DataFrame): Map[(String, Boolean), Long] =
    vocab.select(col("piece"), col("is_cont"), col("piece_id"))
      .collect()
      .map(r => (r.getString(0), r.getBoolean(1)) -> r.getLong(2))
      .toMap

  /** Encode documents against an induced vocabulary: one row per piece,
    * `(idCol, wpos, k, piece_id)` — `wpos` the 0-based word position,
    * `k` the 0-based piece position within the word, `unkId` for
    * unmatched words. Per-row scan work only (broadcast vocab in the UDF
    * closure); no shuffle.
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
      vocab: Map[(String, Boolean), Long], maxPieceLen: Int = 4,
      unkId: Long = -1L): DataFrame = {
    val pieces = udf((word: String) =>
      greedyPieces(word, vocab, maxPieceLen, unkId))
    // per-word greedy matching must not inherit a narrow scan's layout
    graft.util.Partitions.widenNarrowScan(
        docs.select(col(idCol), col(textCol)))
      .select(col(idCol),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("wpos", "word")))
      .select(col(idCol), col("wpos").cast("long").as("wpos"),
        posexplode(pieces(col("word"))).as(Seq("k", "piece_id")))
      .select(col(idCol), col("wpos"), col("k").cast("long").as("k"),
        col("piece_id"))
  }

  // --------------------------------------------------------------------
  // Byte-pair encoding (Sennrich et al. 2016) — the MERGE-learned subword
  // tier. WordPiece above is frequency-induced in one aggregate; BPE is
  // the iterative algorithm GPT-family tokenizers actually train with:
  // start from characters, repeatedly merge the most frequent adjacent
  // piece pair. Both engines share one representation so the SQL oracle
  // replays training and encoding EXACTLY:
  //
  //   word "abc"  ->  rep "|a||b||c|"   (each piece wrapped in `|`)
  //   merge (l,r) ->  replace(rep, "|l||r|", "|lr|")
  //
  // A literal left-to-right non-overlapping string replace on the wrapped
  // form IS the BPE merge pass: adjacent wrapped pieces share no
  // characters, so consecutive matches never overlap and "a a a" merges
  // to [aa, a] in both engines. Spark's `replace`, Java's
  // String.replace and DuckDB's replace() all scan left to right without
  // rescanning replaced output — identical semantics by construction.
  //
  // Scale shape: training runs `rounds` argmax jobs over the DISTINCT
  // word table (vocab-class, never corpus-sized) — each round is one
  // map-side-combined pair-count aggregate + a 1-row driver collect
  // (the learned merge itself, model-artifact-sized). Encoding is a pure
  // chained-`replace` column expression (codegen, zero shuffle, no UDF).
  // --------------------------------------------------------------------

  /** One learned merge: at `round`, `left`+`right` (count `cnt`) fused. */
  final case class BpeMerge(round: Int, left: String, right: String, cnt: Long)

  /** Words the BPE gate trains on: lowercase alnum only, so pieces can
    * never contain the `|` wrapper (and interpolate safely into oracle
    * SQL literals).
    */
  val BpeWordPattern = "^[a-z0-9]+$"

  /** `word -> "|c1||c2|...|cn|"` as a pure column expression. */
  def bpeInitRep(word: Column): Column =
    regexp_replace(word, "(.)", "|$1|")

  /** Adjacent-pair counts over a piece-rep table: split the wrapped rep
    * back to pieces, count (pieces(i), pieces(i+1)) weighted by the word
    * count. One map-side-combined aggregate.
    */
  private def bpePairCounts(words: DataFrame): DataFrame = {
    val arr = split(expr("substring(rep, 2, length(rep) - 2)"), "\\Q||\\E")
    words
      .select(col("c"), arr.as("p"))
      .where(size(col("p")) >= 2)
      .select(col("c"), col("p"),
        explode(sequence(lit(0), size(col("p")) - 2)).as("i"))
      .select(element_at(col("p"), col("i") + 1).as("l"),
        element_at(col("p"), col("i") + 2).as("r"), col("c"))
      .groupBy(col("l"), col("r")).agg(sum(col("c")).as("cnt"))
  }

  /** Apply one merge to a rep column: the literal wrapped-pair replace. */
  def bpeApplyMerge(rep: Column, left: String, right: String): Column =
    call_function("replace", rep,
      lit(s"|$left||$right|"), lit(s"|$left$right|"))

  /** Learn `rounds` merges from the corpus: per round, the (count desc,
    * left asc, right asc)-max adjacent pair over current piece reps.
    * Deterministic; ties pinned. Distinct-word table persisted once; the
    * per-round collect is exactly one row (the merge), never data-sized.
    *
    * SIZE-ROUTED: a distinct-word table of at most [[SizeRoute.BpeWords]]
    * rows (a bounded collect of the persisted table) runs the merge loop
    * on the driver; an over-limit vocabulary falls back to the
    * distributed loop with the cache already warm. The driver twin
    * replicates the engine semantics exactly: code-point wrapping
    * (regexp `(.)` matches a code point), Java literal `replace`
    * (UTF8String.replace — same left-to-right non-overlap), and the
    * tie-break compares strings as unsigned UTF-8 bytes
    * (UTF8String.compareTo). SubwordSpec holds the route differential.
    */
  def bpeTrain(docs: DataFrame, textCol: String, rounds: Int,
      wordPattern: String = BpeWordPattern): Seq[BpeMerge] = {
    require(rounds > 0, s"need positive rounds: $rounds")
    val base = docs
      .select(explode(TextOps.tokens(col(textCol))).as("word"))
      .where(col("word").rlike(wordPattern))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
      .select(col("word"), col("c"), bpeInitRep(col("word")).as("rep"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val probe = SizeRoute.collectAtMost(base.select(col("word"), col("c")),
        SizeRoute(SizeRoute.BpeWords))
      if (probe.isDefined)
        bpeTrainLocal(probe.get.iterator.map(r => (r.getString(0), r.getLong(1))).toSeq, rounds)
      else {
        val out = Seq.newBuilder[BpeMerge]
        var words = base
        var r = 1
        while (r <= rounds) {
          val top = bpePairCounts(words)
            .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
            .limit(1).collect()
          require(top.nonEmpty, s"BPE round $r: no adjacent pairs left")
          val m = BpeMerge(r, top(0).getString(0), top(0).getString(1),
            top(0).getLong(2))
          out += m
          words = words.withColumn("rep",
            bpeApplyMerge(col("rep"), m.left, m.right))
          r += 1
        }
        out.result()
      }
    } finally base.unpersist()
  }

  /** Unsigned-UTF-8-byte comparison — UTF8String.compareTo's order, which
    * is what the distributed loop's `orderBy(asc)` ties break on. Java's
    * String.compareTo (UTF-16 units) diverges for supplementary planes.
    */
  private def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Driver twin of the distributed merge loop over a collected
    * `(word, count)` table — engine-exact (see [[bpeTrain]] scaladoc).
    */
  private def bpeTrainLocal(words: Seq[(String, Long)], rounds: Int)
      : Seq[BpeMerge] = {
    // |c1||c2|...|cn| by CODE POINT — regexp_replace(word, "(.)", "|$1|")
    // matches one code point per group, not one UTF-16 unit
    var reps: Array[(String, Long)] = words.iterator.map { case (w, c) =>
      val sb = new java.lang.StringBuilder(w.length * 3)
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        sb.append('|').appendCodePoint(cp).append('|')
        i += Character.charCount(cp)
      }
      (sb.toString, c)
    }.toArray
    val out = Seq.newBuilder[BpeMerge]
    var r = 1
    while (r <= rounds) {
      val cnt = new java.util.HashMap[(String, String), Long]()
      reps.foreach { case (rep, c) =>
        if (rep.length >= 2) {
          val ps = rep.substring(1, rep.length - 1).split("\\Q||\\E", -1)
          var i = 0
          while (i < ps.length - 1) {
            val k = (ps(i), ps(i + 1))
            cnt.put(k, cnt.getOrDefault(k, 0L) + c)
            i += 1
          }
        }
      }
      require(!cnt.isEmpty, s"BPE round $r: no adjacent pairs left")
      var best: ((String, String), Long) = null
      cnt.forEach { (k, v) =>
        if (best == null || v > best._2 ||
          (v == best._2 && (utf8Less(k._1, best._1._1) ||
            (k._1 == best._1._1 && utf8Less(k._2, best._1._2)))))
          best = (k, v)
      }
      val m = BpeMerge(r, best._1._1, best._1._2, best._2)
      out += m
      val (fromS, toS) = (s"|${m.left}||${m.right}|", s"|${m.left}${m.right}|")
      reps = reps.map { case (rep, n) => (rep.replace(fromS, toS), n) }
      r += 1
    }
    out.result()
  }

  /** Final piece sequence for a word column under a learned merge list:
    * chars wrapped, merges replayed in order, unwrapped to an array.
    * Pure codegen'd expressions — the 100 TB encode path has zero
    * shuffle and no UDF.
    */
  def bpePieces(word: Column, merges: Seq[BpeMerge]): Column = {
    val rep = merges.foldLeft(bpeInitRep(word)) { (acc, m) =>
      bpeApplyMerge(acc, m.left, m.right)
    }
    split(expr_substr(rep), "\\Q||\\E")
  }

  /** `substring(rep, 2, len-2)` on an arbitrary column (helper: `expr`
    * can't reference a derived column by name).
    */
  private def expr_substr(rep: Column): Column =
    rep.substr(lit(2), length(rep) - 2)

  /** Encode documents: one row per (doc word occurrence, piece) —
    * `(idCol, wpos, k, piece)`. Words not matching `wordPattern` are
    * dropped (the gate's declared charset; see [[BpeWordPattern]]).
    */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[BpeMerge], wordPattern: String = BpeWordPattern)
      : DataFrame =
    // per-word merge replay must not inherit a narrow scan's layout
    graft.util.Partitions.widenNarrowScan(
        docs.select(col(idCol), col(textCol)))
      .select(col(idCol),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("wpos", "word")))
      .where(col("word").rlike(wordPattern))
      .select(col(idCol), col("wpos").cast("long").as("wpos"),
        posexplode(bpePieces(col("word"), merges)).as(Seq("k", "piece")))
      .select(col(idCol), col("wpos"), col("k").cast("long").as("k"),
        col("piece"))

  /** Driver-side pure twin of train+encode for spec differentials: same
    * wrapped-string representation, same Java replace semantics.
    */
  def bpeLocal(texts: Seq[String], rounds: Int,
      wordPattern: String = BpeWordPattern)
      : (Seq[BpeMerge], Map[String, Seq[String]]) = {
    val pat = wordPattern.r
    val wc = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    texts.foreach(_.split(" ", -1).foreach { w =>
      if (pat.findFirstIn(w).isDefined) wc.update(w, wc.getOrElse(w, 0L) + 1L)
    })
    var reps: Map[String, Long] =
      wc.map { case (w, c) => w.map(ch => s"|$ch|").mkString -> c }.toMap
    val merges = Seq.newBuilder[BpeMerge]
    (1 to rounds).foreach { r =>
      val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      reps.foreach { case (rep, c) =>
        val ps = rep.substring(1, rep.length - 1).split("\\Q||\\E", -1)
        (0 until ps.length - 1).foreach { i =>
          cnt.update((ps(i), ps(i + 1)),
            cnt.getOrElse((ps(i), ps(i + 1)), 0L) + c)
        }
      }
      require(cnt.nonEmpty, s"BPE round $r: no adjacent pairs left")
      val ((l, rr), c) = cnt.toSeq.sortBy { case ((l, rt), n) => (-n, l, rt) }.head
      merges += BpeMerge(r, l, rr, c)
      reps = reps.map { case (rep, n) =>
        rep.replace(s"|$l||$rr|", s"|$l$rr|") -> n
      }
    }
    val pieces = reps.keys.map { rep =>
      val ps = rep.substring(1, rep.length - 1).split("\\Q||\\E", -1).toSeq
      ps.mkString -> ps
    }.toMap
    (merges.result(), pieces)
  }
}
