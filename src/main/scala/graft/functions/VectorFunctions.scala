package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Cast, CreateArray, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.ops.WordGrain

/** Native Catalyst expression for cosine similarity over embedding
  * arrays (`ARRAY<FLOAT>` / `ARRAY<DOUBLE>`).
  *
  * WHY a custom Expression: the declarative formulation —
  * `aggregate(zip_with(a, b, (p,q) -> p*q), 0d, (acc,v) -> acc+v)` —
  * is built entirely from higher-order functions, and every Spark HOF
  * is `CodegenFallback`: the lambda is interpreted per element per row,
  * allocating a zipped intermediate array per dot product. On the ANN
  * scan that is three interpreted folds per (query, candidate) pair.
  * This expression fuses the three accumulations (a·b, a·a, b·b) into
  * ONE compiled loop ([[HashOps.cosine]]) — no intermediate arrays, no
  * lambda dispatch — and stays inside whole-stage codegen, which the
  * HOF framing breaks.
  *
  * Numeric parity: each accumulator folds in the same sequential index
  * order as the HOF/DuckDB `list_reduce` twin, and the accumulators are
  * independent, so results are bit-for-bit identical to the
  * three-separate-folds formulation the oracle uses.
  */
case class CosineSim(left: Expression, right: Expression) extends VectorKernel {
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = HashOps.cosine(
    a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], elemIsFloat(left), elemIsFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HashOps.cosine($a, $b, $floatFlags);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** The SQL arguments of one native function call, read through
  * accessors that name the function in every error: a builder takes
  * its literal parameters (k, grain, vocabulary, sketch) as
  * `a.int(1)`, `a.strOr(2, WordGrain.Ws.name)` and so on, and a
  * non-literal there fails analysis as `<name> expects a literal ...`.
  */
final class Args(fn: String, es: Seq[Expression]) {
  def apply(i: Int): Expression = es(i)

  def int(i: Int): Int = es(i) match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal INT argument, got $other")
  }

  def bool(i: Int): Boolean = es(i) match {
    case Literal(v: Boolean, BooleanType) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal BOOLEAN argument, got $other")
  }

  def double(i: Int): Double = es(i) match {
    case Literal(v: Double, DoubleType) => v
    case Literal(v: Int, IntegerType) => v.toDouble
    case Literal(d: Decimal, _) => d.toDouble // SQL '0.1' parses as DECIMAL
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal numeric argument, got $other")
  }

  def str(i: Int): String = es(i) match {
    case Literal(s: UTF8String, StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal STRING argument, got $other")
  }

  /** A trailing optional STRING argument, `default` when omitted. */
  def strOr(i: Int, default: String): String = if (es.length > i) str(i) else default

  def strs(i: Int): Seq[String] = es(i) match {
    case CreateArray(children, _) => children.map {
      case Literal(s: UTF8String, StringType) => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn expects literal STRING array elements, got $other")
    }
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal ARRAY<STRING> argument, got $other")
  }

  def longs(i: Int): Seq[Long] = longArray(es(i))

  private def longArray(e: Expression): Seq[Long] = e match {
    // an EMPTY vocabulary rides in as CAST(array() AS ARRAY<BIGINT>)
    // (bare array() is ARRAY<NULL>); unwrap the cast and recurse
    case c: Cast => longArray(c.child)
    case CreateArray(children, _) => children.map {
      case Literal(v: Long, LongType) => v
      case Literal(v: Int, IntegerType) => v.toLong
      case other => throw new IllegalArgumentException(
        s"$fn expects literal BIGINT array elements, got $other")
    }
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal ARRAY<BIGINT> argument, got $other")
  }

  /** Any FOLDABLE binary expression (typically `unhex('...')`), so
    * sketches can ride in SQL text; evaluated once at analysis time.
    */
  def binary(i: Int): Array[Byte] = {
    val e = es(i)
    if (!e.foldable) throw new IllegalArgumentException(
      s"$fn expects a foldable BINARY argument (e.g. unhex literal), got $e")
    e.eval(null) match {
      case b: Array[Byte] => b
      case other => throw new IllegalArgumentException(
        s"$fn expects a foldable BINARY argument, got value $other")
    }
  }
}

/** One native SQL function, declared once: its name, its expression
  * class, its legal argument counts (every count, for trailing optional
  * arguments) and its builder. Both [[VectorFunctions.ensureRegistered]]
  * and [[GraftExtensions]] register its `info` and its `builder`, which
  * puts the build behind the arity guard, so a SQL call with the wrong argument count fails as a clean
  * analysis-time error naming the expected signature, not as the
  * builder's IndexOutOfBoundsException on `a(i)`.
  */
final class GraftFunction(val name: String, cls: Class[_], val arities: Set[Int],
                          build: Args => Expression) {
  val id: FunctionIdentifier = FunctionIdentifier(name)
  val info = new ExpressionInfo(cls.getName, name, s"$name - native graft expression")
  val builder: FunctionBuilder = es => {
    require(arities.contains(es.length),
      s"$name expects ${arities.toSeq.sorted.mkString(" or ")} argument(s), got ${es.length}")
    build(new Args(name, es))
  }
}

object VectorFunctions {

  private def fn[E <: Expression](name: String, arities: Int*)(build: Args => E)
      (implicit ct: ClassTag[E]): GraftFunction =
    new GraftFunction(name, ct.runtimeClass, arities.toSet, build)

  /** Every native graft function, one entry each. */
  val all: Seq[GraftFunction] = Seq(
    fn("graft_cosine", 2)(a => CosineSim(a(0), a(1))),
    fn("graft_shingle_hashes", 2)(a => ShingleHashes(a(0), a.int(1))),
    fn("graft_gram_hashes", 2)(a => GramHashes(a(0), a.int(1))),
    fn("graft_winnow", 3)(a => WinnowFps(a(0), a.int(1), a.int(2))),
    fn("graft_gram_rhashes", 2)(a => GramRollHashes(a(0), a.int(1))),
    fn("graft_winnow_r", 3)(a => WinnowRollFps(a(0), a.int(1), a.int(2))),
    fn("graft_minhash_sig", 2)(a => MinhashSig(a(0), a.int(1))),
    fn("graft_band_buckets", 3)(a => BandBuckets(a(0), a.int(1), a.int(2))),
    fn("graft_hyperplane_bucket", 2)(a => HyperplaneBucket(a(0), a.int(1))),
    fn("graft_intersect_count", 2)(a => SortedIntersectCount(a(0), a(1))),
    fn("graft_clip_count", 2)(a => ClipCount(a(0), a(1))),
    fn("graft_dist2", 2)(a => SquaredDistance(a(0), a(1))),
    fn("graft_dot", 2)(a => DotProduct(a(0), a(1))),
    fn("graft_pq_adc", 3)(a => PqAdc(a(0), a(1), a.int(2))),
    fn("graft_pq_adc_packed", 3)(a => PqAdcPacked(a(0), a(1), a.int(2))),
    fn("graft_bloom_contains", 2)(a => BloomMightContain(a.binary(0), a(1))),
    fn("graft_bloom_any", 2)(a => BloomAnyContain(a.binary(0), a(1))),
    fn("graft_ngrams", 2)(a => NGrams(a(0), a.int(1))),
    fn("graft_top_ngram_count", 2)(a => TopNgramCount(a(0), a.int(1))),
    fn("graft_pack_i8", 1)(a => PackInt8(a(0))),
    fn("graft_cosine_i8", 2)(a => CosineI8(a(0), a(1))),
    fn("graft_simhash", 2)(a => SimhashWords(a(0), a.int(1))),
    fn("graft_fingerprint", 1)(a => FingerprintWords(a(0))),
    fn("graft_topk", 3)(a => TopKAgg(a(0), a(1), a.int(2))),
    fn("graft_topk_words", 4)(a => TopKWordsAgg(a(0), a(1), a(2), a.int(3))),
    fn("graft_token_count", 1)(a => TokenCount(a(0))),
    fn("graft_bpe_count", 1)(a => BpeCount(a(0))),
    fn("graft_bpe_tokens", 1)(a => BpeTokens(a(0))),
    fn("graft_bpe_token_ends", 1)(a => BpeTokenEnds(a(0))),
    fn("graft_count_le", 2)(a => CountLe(a(0), a(1))),
    fn("graft_disc_returns", 2)(a => DiscReturns(a(0), a(1))),
    fn("graft_gae_adv", 3)(a => GaeAdvantages(a(0), a.int(1), a.int(2))),
    fn("graft_alpha_count", 1)(a => AlphaCount(a(0))),
    fn("graft_classifier_logit", 2)(a => ClassifierLogit(a(0), a.int(1))),
    fn("graft_classifier_logit_t", 1)(a => ClassifierLogitTrained(a(0))),
    fn("graft_stop_count", 2)(a => StopCount(a(0), a.strs(1))),
    fn("graft_term_counts", 2, 3)(a =>
      TermCounts(a(0), a.strs(1), a.strOr(2, WordGrain.Ws.name))),
    fn("graft_routed_tokens", 2)(a => RoutedTokens(a(0), a.bool(1))),
    fn("graft_fmm_tokens", 2, 3)(a =>
      FmmTokens(a(0), a.bool(1), a.strOr(2, WordGrain.CjkDict.name))),
    fn("graft_fmm_token_count", 1, 2)(a =>
      FmmTokenCount(a(0), a.strOr(1, WordGrain.CjkDict.name))),
    fn("graft_sentence_chunks", 3)(a => SentenceChunks(a(0), a.int(1), a.str(2))),
    fn("graft_routed_token_count", 1)(a => RoutedTokenCount(a(0))),
    fn("graft_term_tf", 1, 2)(a => TermTf(a(0), a.strOr(1, WordGrain.Ws.name))),
    fn("graft_gram_tf", 2, 3)(a => GramTf(a(0), a.int(1), a.strOr(2, WordGrain.Ws.name))),
    fn("graft_hash_embed", 2)(a => HashEmbed(a(0), a.int(1))),
    fn("graft_hash_embed_text", 2)(a => HashEmbedText(a(0), a.int(1))),
    fn("graft_normalize", 1)(a => NormalizeText(a(0))),
    fn("graft_lower_collapse", 1)(a => LowerCollapse(a(0))),
    fn("graft_dsir_buckets", 2, 3)(a =>
      DsirBuckets(a(0), a.int(1), a.strOr(2, WordGrain.Ws.name))),
    fn("graft_bucket_score", 2)(a => BucketScore(a(0), a.longs(1))),
    fn("graft_backoff_stats", 7)(a => BackoffStats(a(0),
      a.longs(1), a.longs(2), a.longs(3), a.longs(4), a.longs(5), a.longs(6))),
    fn("graft_binary_sketch", 2)(a => BinarySketch(a(0), a.int(1))),
    fn("graft_word_count", 1, 2)(a => WordCount(a(0), a.strOr(1, WordGrain.Ws.name))),
    fn("graft_url_canon", 1)(a => UrlCanon(a(0))),
    fn("graft_lang_scores", 1)(a => LangScores(a(0))),
    // the trailing grain arg is optional in SQL (defaults to 'ws'),
    // mirroring the case-class default — pre-grain 11-arg SQL keeps
    // analyzing unchanged
    fn("graft_gopher_flags", 11, 12)(a => GopherFlags(a(0), a.int(1), a.int(2),
      a.double(3), a.double(4), a.double(5), a.double(6), a.int(7),
      a.double(8), a.double(9), a.strs(10), a.strOr(11, WordGrain.Ws.name))),
    fn("graft_url_domain", 1)(a => UrlDomain(a(0)))
  )

  /** Pass-through that registers the native functions on the frame's
    * session — ops call this on their input before building expressions
    * (DataFrame transforms analyze eagerly, so registration must precede
    * construction).
    */
  def attach(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    ensureRegistered(df.sparkSession); df
  }

  /** Idempotent session-level registration (the runtime analog of the
    * [[GraftExtensions]] builder-time injection).
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { f =>
      if (!reg.functionExists(f.id)) reg.registerFunction(f.id, f.info, f.builder)
    }
  }
}

/** `SparkSessionExtensions` entry point: enable with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    VectorFunctions.all.foreach(f => ext.injectFunction((f.id, f.info, f.builder)))
    // auto-kernelize the known interpreted-HOF text-scan shapes in
    // USER-authored plans (conservative structural match; see the rule)
    ext.injectOptimizerRule(_ => graft.plans.KernelizeTextOps)
  }
}
