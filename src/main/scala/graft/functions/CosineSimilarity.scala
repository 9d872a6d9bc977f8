package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: cosine similarity of two
  * `array<double>` columns, with whole-stage-codegen support.
  *
  * Why not the built-in HOF composition (`aggregate(zip_with(...))`)?
  * Higher-order functions evaluate their lambda interpreted per element
  * and allocate an intermediate array per row; this expression compiles
  * to a tight primitive loop inside WholeStageCodegen — one pass, no
  * allocation — which matters when scoring billions of candidate pairs.
  * Evaluation order (left-to-right accumulation) matches the HOF
  * version, so results are bit-identical and DuckDB-oracle-stable.
  *
  * Null elements inside the arrays are treated as 0 (embeddings are
  * dense); a null array yields null (BinaryExpression null-intolerant
  * default). A zero-norm input also yields null rather than 0/0 = NaN:
  * Spark sorts NaN above every double, so a NaN score would pass
  * `score > threshold` filters and rank first in every top-k window.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // (type inferred: AbstractDataType is private[sql])
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  // null not only on null inputs but also on zero-norm vectors
  override def nullable: Boolean = true

  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
        |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  final double x = $a.getDouble($i);
        |  final double y = $b.getDouble($i);
        |  $dot += x * y; $na += x * x; $nb += y * y;
        |}
        |if ($na == 0.0 || $nb == 0.0) {
        |  ${ev.isNull} = true;
        |} else {
        |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
        |}
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Engine function surface: Column-API access plus SQL registration for
  * the custom expressions. Idempotent. */
object GraftFunctions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
  import org.apache.spark.sql.graftbridge.Bridge

  /** `cosine_sim(a, b)` as a Column over `array<double>` inputs. */
  def cosine_sim(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))

  /** `dot_product(a, b)` as a Column over `array<double>` inputs. */
  def dot_product(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** `minhash_sig(arr, k)` as a Column over `array<string>` input. */
  def minhash_sig(arr: Column, numHashes: Int): Column =
    Bridge.column(MinHashSignature(Bridge.expression(arr), numHashes))

  /** `heavy_hitters(col, k)` aggregate: Misra-Gries candidate frequent
    * items as map<string,bigint> (exact when k >= distinct values). */
  def heavy_hitters(c: Column, k: Int): Column =
    Bridge.column(HeavyHitters(Bridge.expression(c), k).toAggregateExpression())

  /** `topk_freq(key, cnt, k)` aggregate: mergeable top-k entries by
    * (cnt DESC, key ASC) as a sorted array<struct<tok,n>> — exact when
    * each key reaches the aggregate once (post-groupBy shape). */
  def topk_freq(key: Column, cnt: Column, k: Int): Column =
    Bridge.column(
      TopKFreq(Bridge.expression(key), Bridge.expression(cnt), k).toAggregateExpression())

  /** `topk_by_score(id, score, k)` aggregate: mergeable top-k selection
    * by (score DESC, id ASC) as a sorted array<struct<id,score>> —
    * exact for ANY input shape (selection is a monoid). */
  def topk_by_score(id: Column, score: Column, k: Int): Column =
    Bridge.column(
      TopKByScore(Bridge.expression(id), Bridge.expression(score), k).toAggregateExpression())

  /** `word_shingles(text, n)`: distinct word n-grams, one pass. */
  def word_shingles(c: Column, n: Int): Column =
    Bridge.column(WordShingles(Bridge.expression(c), n))

  /** `char_ngrams(text, n)`: ALL char n-grams (duplicates kept), one
    * code-point pass. */
  def char_ngrams(c: Column, n: Int): Column =
    Bridge.column(CharNgrams(Bridge.expression(c), n))

  /** `pq_block_codes(v, blockDim, cids, codebook)`: per-block PQ
    * argmin codes + integer-quantized block distances, one map-side
    * pass (vs09's kernel). `cids` must be ascending and parallel to
    * `codebook`. */
  def pq_block_codes(v: Column, blockDim: Int, cids: Array[Long],
      codebook: Array[Array[Double]]): Column =
    Bridge.column(PqBlockCodes(Bridge.expression(v), blockDim, cids, codebook))

  /** `sorted_intersect_count(a, b)`: |A ∩ B| of two ascending-sorted
    * `array<bigint>` columns (distinct values counted) — the zero-
    * allocation replacement for `size(array_intersect(a, b))` in the
    * dedup verify stages. PRECONDITIONS (apply equally to the SQL temp
    * function registered below): elements must be non-null (a null slot
    * raises an error) and each array ASCENDING-sorted (NOT checked —
    * unsorted input silently undercounts). Build inputs with
    * `sort_array(...)`; see `SortedIntersectCount` Scaladoc. */
  def sorted_intersect_count(a: Column, b: Column): Column =
    Bridge.column(SortedIntersectCount(Bridge.expression(a), Bridge.expression(b)))

  /** `kmv_min_hashes(h, k)` aggregate: the KMV distinct-count synopsis
    * — k smallest DISTINCT hash values as an ascending array<bigint>,
    * mergeable in O(k). Deterministic and (over `md5_low60` hashes)
    * engine-portable; estimator (k-1)·2^60 / h_(k), exact below k. */
  def kmv_min_hashes(h: Column, k: Int): Column =
    Bridge.column(KmvMinHashes(Bridge.expression(h), k).toAggregateExpression())

  /** `bottomk_sample(h, v, k)` aggregate: the values carried by the k
    * lexicographically-smallest (hash, value) pairs, ascending — a
    * deterministic, mergeable O(k) uniform sample (exact below k); the
    * portable quantile-sketch synopsis. */
  def bottomk_sample(h: Column, v: Column, k: Int): Column =
    Bridge.column(
      BottomKSample(Bridge.expression(h), Bridge.expression(v), k).toAggregateExpression())

  /** `md5_low60(s)`: portable 60-bit md5 hash (= first 15 hex chars of
    * md5 as an integer) — reproducible in any engine with `md5`, the
    * hash family behind the oracle-exact dd02/dd03/dd04 pipelines. */
  def md5_low60(c: Column): Column =
    Bridge.column(Md5Low60(Bridge.expression(c)))

  /** `md5_minhash_sig(arr, k)`: MinHash signature over the portable
    * KM double-hashing family (one digest per element;
    * `h_i(s) = (h1 + i·h2) mod P`, min per i — [[PortableMd5]]). */
  def md5_minhash_sig(arr: Column, numHashes: Int): Column =
    Bridge.column(Md5MinHashSig(Bridge.expression(arr), numHashes))

  /** `md5_simhash_sig(tokens)`: portable 60-bit SimHash of a token
    * bag over the `md5_low60` hashes. */
  def md5_simhash_sig(c: Column): Column =
    Bridge.column(Md5SimHashSig(Bridge.expression(c)))

  /** `pair_ids(array<long>)` generator: all i<j pairs as rows (a, b). */
  def pair_ids(c: Column): Column =
    Bridge.column(PairExpandIds(Bridge.expression(c)))

  /** `pair_sized(array<struct<long,long>>)` generator: i<j pairs with
    * set sizes, as rows (a, na, b, nb). */
  def pair_sized(c: Column): Column =
    Bridge.column(PairExpandSized(Bridge.expression(c)))

  /** `term_tf_expand(toks)` generator: per-document (md5_low60 term
    * hash, tf) rows, computed in-row — the zero-shuffle posting
    * kernel (TextIndex.postingsOf). */
  def term_tf_expand(c: Column): Column =
    Bridge.column(TermTfExpand(Bridge.expression(c)))

  /** `payload_windows(payload)`: the distinct 8-byte-every-4-bytes hex
    * window set of a binary payload, first-occurrence order — one byte
    * pass (see [[PayloadWindows]]); the media near-dup tier's
    * comparison universe. */
  def payload_windows(c: Column): Column =
    Bridge.column(PayloadWindows(Bridge.expression(c)))

  /** `sorted_xxhash64(arr)`: ascending per-element xxhash64 of a
    * string array — the hashed-set projection the exact-Jaccard verify
    * stages key on (see [[SortedXxHash64Set]]). */
  def sorted_xxhash64(c: Column): Column =
    Bridge.column(SortedXxHash64Set(Bridge.expression(c)))

  /** Foldable integer argument of a SQL call (Int or Long literal). */
  private def intArg(e: Expression, fn: String): Int = e.eval() match {
    case n: java.lang.Number => n.intValue()
    case other =>
      throw new IllegalArgumentException(s"$fn expects a constant integer, got: $other")
  }

  /** The SQL function surface, one entry per name: (name, usage,
    * builder). Both registration paths — [[register]] per session and
    * [[graft.GraftExtensions]] per cluster — are served from this one
    * table, so they cannot drift apart. */
  private[graft] val sqlFunctions: Seq[(String, String, FunctionBuilder)] = Seq(
    ("cosine_sim", "cosine_sim(a, b) - cosine similarity of two double arrays",
      es => CosineSimilarity(es(0), es(1))),
    ("dot_product", "dot_product(a, b) - dot product of two double arrays",
      es => DotProduct(es(0), es(1))),
    ("char_ngrams", "char_ngrams(text, n) - all char n-grams, one code-point pass",
      es => CharNgrams(es(0), intArg(es(1), "char_ngrams"))),
    ("minhash_sig", "minhash_sig(arr, k) - k-hash MinHash signature",
      es => MinHashSignature(es(0), intArg(es(1), "minhash_sig"))),
    ("word_shingles", "word_shingles(text, n) - distinct word n-grams",
      es => WordShingles(es(0), intArg(es(1), "word_shingles"))),
    ("heavy_hitters", "heavy_hitters(col, k) - Misra-Gries frequent items",
      es => HeavyHitters(es(0), intArg(es(1), "heavy_hitters")).toAggregateExpression()),
    ("topk_freq", "topk_freq(key, cnt, k) - mergeable top-k by (cnt DESC, key)",
      es => TopKFreq(es(0), es(1), intArg(es(2), "topk_freq")).toAggregateExpression()),
    ("topk_by_score",
      "topk_by_score(id, score, k) - mergeable top-k selection by (score DESC, id)",
      es => TopKByScore(es(0), es(1), intArg(es(2), "topk_by_score")).toAggregateExpression()),
    ("sorted_intersect_count",
      "sorted_intersect_count(a, b) - |A∩B| of two ascending array<bigint> (non-null elements)",
      es => SortedIntersectCount(es(0), es(1))),
    ("md5_low60", "md5_low60(s) - portable 60-bit md5 hash (first 15 hex chars)",
      es => Md5Low60(es(0))),
    ("md5_minhash_sig",
      "md5_minhash_sig(arr, k) - MinHash over the portable KM double-hashing md5 family",
      es => Md5MinHashSig(es(0), intArg(es(1), "md5_minhash_sig"))),
    ("md5_simhash_sig", "md5_simhash_sig(tokens) - portable 60-bit SimHash",
      es => Md5SimHashSig(es(0))),
    ("kmv_min_hashes",
      "kmv_min_hashes(h, k) - KMV distinct synopsis: k smallest distinct hashes, ascending",
      es => KmvMinHashes(es(0), intArg(es(1), "kmv_min_hashes")).toAggregateExpression()),
    ("bottomk_sample",
      "bottomk_sample(h, v, k) - values of the k smallest (hash, value) pairs, ascending",
      es => BottomKSample(es(0), es(1), intArg(es(2), "bottomk_sample")).toAggregateExpression()),
    ("pair_ids", "pair_ids(array<long>) - generator: all i<j pairs as (a, b)",
      es => PairExpandIds(es(0))),
    ("pair_sized",
      "pair_sized(array<struct<long,long>>) - generator: i<j pairs as (a, na, b, nb)",
      es => PairExpandSized(es(0))),
    ("payload_windows",
      "payload_windows(payload) - distinct 8-byte-every-4-bytes hex windows of a binary",
      es => PayloadWindows(es(0))),
    ("sorted_xxhash64",
      "sorted_xxhash64(arr) - ascending per-element xxhash64 of a string array",
      es => SortedXxHash64Set(es(0))))

  /** Register [[sqlFunctions]] for SQL / `expr(...)` use.
    * Idempotent: re-registering the same session is a no-op so repeated
    * query invocations don't spam "function replaced" warnings. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(sqlFunctions.head._1))) return
    sqlFunctions.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
