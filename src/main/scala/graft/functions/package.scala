package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.SparkShims

/** Column-API + SQL-registry surface for graft's custom expressions.
  *
  * The reference exposes exactly one custom scalar: DuckDB's
  * `array_cosine_distance` (reference: model/search/vector.py:176); we add the
  * DuckDB siblings (similarity / inner product / l2) the north star needs.
  * Registered into the session `FunctionRegistry` so the oracle's literal SQL
  * shape (reference: model/search/vector.py:173-180) parses and runs unchanged.
  */
package object functions {

  private def col(e: Expression): Column = SparkShims.column(e)
  private def ex(c: Column): Expression = SparkShims.expression(c)

  /** 1 - cosine similarity, computed in double; see [[CosineDistance]]. */
  def array_cosine_distance(a: Column, b: Column): Column =
    col(CosineDistance(ex(a), ex(b)))

  def array_cosine_similarity(a: Column, b: Column): Column =
    col(CosineSimilarity(ex(a), ex(b)))

  def array_inner_product(a: Column, b: Column): Column =
    col(DotProduct(ex(a), ex(b)))

  def array_distance(a: Column, b: Column): Column =
    col(L2Distance(ex(a), ex(b)))

  def array_l2_norm(a: Column): Column = col(L2Norm(ex(a)))

  /** Cosine distance over int8 quantization codes; see [[Int8CosineDistance]]. */
  def array_int8_cosine_distance(a: Column, b: Column): Column =
    col(Int8CosineDistance(ex(a), ex(b)))

  /** Symmetric int8 quantization codes; see [[Int8Codes]]. */
  def array_int8_codes(v: Column): Column = col(Int8Codes(ex(v)))

  /** 60-bit md5-based SimHash over a token array; see [[SimHash]]. */
  def simhash(tokens: Column): Column = col(SimHash(ex(tokens)))

  /** Codegen'd word n-grams over a token array (shingles). */
  def word_ngrams(tokens: Column, n: Int): Column = col(WordNGrams(ex(tokens), n))

  /** Codegen'd most-frequent-element count (sorts internally). */
  def max_equal_run(arr: Column): Column = col(MaxEqualRun(ex(arr)))

  /** Codegen'd O(n) sliding-window minimum over a long array (the
    * winnowing selection step); see [[WindowMin]].
    */
  def window_min(arr: Column, w: Int): Column = col(WindowMin(ex(arr), w))

  /** Codegen'd non-overlapping n-token chunks (segment constructor); see
    * [[WordChunks]].
    */
  def word_chunks(tokens: Column, n: Int): Column = col(WordChunks(ex(tokens), n))

  /** Unicode NFC normalization (JDK Normalizer); see [[NfcNormalize]]. */
  def nfc_normalize(text: Column): Column = col(NfcNormalize(ex(text)))

  /** Whole-bucket assignment argmin in one codegen'd pass; see
    * [[CosineArgmin]]. `cids`/`cvecs` must be index-aligned.
    */
  def cosine_argmin(v: Column, cids: Column, cvecs: Column): Column =
    col(CosineArgmin(ex(v), ex(cids), ex(cvecs)))

  /** In-bucket top-`k` nearest candidates of `v` (skipping `selfId`) in one
    * codegen'd pass; see [[CosineTopK]]. `ids`/`vecs` must be index-aligned.
    */
  def cosine_topk(v: Column, selfId: Column, ids: Column, vecs: Column,
      k: Int): Column =
    col(CosineTopK(ex(v), ex(selfId), ex(ids), ex(vecs), k))

  /** `array_cosine_distance(v, q)` for every `q` of `queries`, as one
    * `array<double>`; see [[CosineDistances]].
    */
  def cosine_distances(v: Column, queries: Column): Column =
    col(CosineDistances(ex(v), ex(queries)))

  /** Bounded top-k heap over `struct(score double, id long)`; see
    * [[TopKByScore]]. Map-side combining: each partition ships at most k
    * rows per group to the shuffle.
    */
  def topk_by_score(sv: Column, k: Int): Column =
    col(TopKByScore(ex(sv), k).toAggregateExpression())

  /** Elementwise vector sum aggregate; see [[VectorSum]]. One dim-length
    * buffer per (partition, group) instead of a posexplode row blow-up.
    */
  def vector_sum(v: Column): Column =
    col(VectorSum(ex(v)).toAggregateExpression())

  /** Membership probe against a driver-built Bloom filter (codegen'd; the
    * serialized filter ships with the plan). See [[BloomMightContain]].
    */
  def bloom_might_contain(key: Column,
      filter: org.apache.spark.util.sketch.BloomFilter): Column =
    col(BloomMightContain(ex(key), BloomMightContain.serialize(filter)))

  /** Ruri model-family document prefix (reference: model/search/vector.py:123). */
  def doc_prefix(text: Column): Column = concat(lit("文章: "), text)

  /** Ruri model-family query prefix (reference: model/search/vector.py:164). */
  def query_prefix(text: Column): Column = concat(lit("クエリ: "), text)

  /** Markdown-strip chain; order pinned to the reference
    * (model/data/notion_db.py:161): "\n\n"->"\n", "<br/>"->"\n", "*"->"".
    */
  def markdown_strip(text: Column): Column = {
    val s1 = regexp_replace(text, "\n\n", "\n")
    val s2 = regexp_replace(s1, "<br/>", "\n")
    regexp_replace(s2, "\\*", "")
  }

  /** F7 — newline join of rich-text blocks: empty/NULL blocks contribute a
    * bare newline (reference: model/data/notion_db.py:127-133 joins block
    * texts with "\n", emitting "\n" for blocks with no rich_text).
    */
  def join_blocks(blocks: Column): Column =
    concat_ws("\n", transform(blocks, b =>
      when(b.isNull || b === "", lit("\n")).otherwise(b)))

  private def binaryBuilder(name: String, f: (Expression, Expression) => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = {
    val builder: Seq[Expression] => Expression = {
      case Seq(a, b) => f(a, b)
      case other => throw new IllegalArgumentException(
        s"$name expects 2 arguments, got ${other.size}")
    }
    (FunctionIdentifier(name), new ExpressionInfo("graft.functions", name), builder)
  }

  private def unaryBuilder(name: String, f: Expression => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = {
    val builder: Seq[Expression] => Expression = {
      case Seq(a) => f(a)
      case other => throw new IllegalArgumentException(
        s"$name expects 1 argument, got ${other.size}")
    }
    (FunctionIdentifier(name), new ExpressionInfo("graft.functions", name), builder)
  }

  /** All injectable functions, shared by [[GraftExtensions]] and [[registerAll]]. */
  private[graft] def injectable
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    binaryBuilder("array_cosine_distance", CosineDistance.apply),
    binaryBuilder("array_cosine_similarity", CosineSimilarity.apply),
    binaryBuilder("array_inner_product", DotProduct.apply),
    binaryBuilder("array_distance", L2Distance.apply),
    binaryBuilder("array_int8_cosine_distance", Int8CosineDistance.apply),
    {
      val builder: Seq[Expression] => Expression = {
        case Seq(v, cids, cvecs) => CosineArgmin(v, cids, cvecs)
        case other => throw new IllegalArgumentException(
          s"cosine_argmin expects 3 arguments, got ${other.size}")
      }
      (FunctionIdentifier("cosine_argmin"),
        new ExpressionInfo("graft.functions", "cosine_argmin"), builder)
    },
    {
      val builder: Seq[Expression] => Expression = {
        case Seq(v, self, ids, vecs,
            org.apache.spark.sql.catalyst.expressions.Literal(k: Int, _)) =>
          CosineTopK(v, self, ids, vecs, k)
        case other => throw new IllegalArgumentException(
          s"cosine_topk expects (v, self_id, ids, vecs, int literal k), got ${other.size} args")
      }
      (FunctionIdentifier("cosine_topk"),
        new ExpressionInfo("graft.functions", "cosine_topk"), builder)
    },
    unaryBuilder("array_l2_norm", L2Norm.apply),
    unaryBuilder("array_int8_codes", Int8Codes.apply),
    unaryBuilder("simhash", SimHash.apply),
    unaryBuilder("nfc_normalize", NfcNormalize.apply),
    {
      val builder: Seq[Expression] => Expression = {
        case Seq(sv, org.apache.spark.sql.catalyst.expressions.Literal(k: Int, _)) =>
          TopKByScore(sv, k)
        case other => throw new IllegalArgumentException(
          s"topk_by_score expects (struct<score,id>, int literal k), got ${other.size} args")
      }
      (FunctionIdentifier("topk_by_score"),
        new ExpressionInfo("graft.functions", "topk_by_score"), builder)
    },
    {
      val builder: Seq[Expression] => Expression = {
        case Seq(arr, org.apache.spark.sql.catalyst.expressions.Literal(n: Int, _)) =>
          WordNGrams(arr, n)
        case other => throw new IllegalArgumentException(
          s"word_ngrams expects (array<string>, int literal n), got ${other.size} args")
      }
      (FunctionIdentifier("word_ngrams"),
        new ExpressionInfo("graft.functions", "word_ngrams"), builder)
    },
    {
      val builder: Seq[Expression] => Expression = {
        case Seq(arr, org.apache.spark.sql.catalyst.expressions.Literal(w: Int, _)) =>
          WindowMin(arr, w)
        case other => throw new IllegalArgumentException(
          s"window_min expects (array<long>, int literal w), got ${other.size} args")
      }
      (FunctionIdentifier("window_min"),
        new ExpressionInfo("graft.functions", "window_min"), builder)
    },
    {
      val builder: Seq[Expression] => Expression = {
        case Seq(arr, org.apache.spark.sql.catalyst.expressions.Literal(n: Int, _)) =>
          WordChunks(arr, n)
        case other => throw new IllegalArgumentException(
          s"word_chunks expects (array<string>, int literal n), got ${other.size} args")
      }
      (FunctionIdentifier("word_chunks"),
        new ExpressionInfo("graft.functions", "word_chunks"), builder)
    },
  )

  /** Register graft SQL functions on an existing session (idempotent). */
  def registerAll(spark: SparkSession): Unit = injectable.foreach {
    case (ident, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(ident.funcName, builder, "scala_udf")
  }
}
