package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
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
  * ONE compiled loop via `doGenCode` — no intermediate arrays, no
  * virtual calls — and stays inside whole-stage codegen, which the
  * HOF framing breaks.
  *
  * Numeric parity: each accumulator folds in the same sequential index
  * order as the HOF/DuckDB `list_reduce` twin, and the accumulators are
  * independent, so results are bit-for-bit identical to the
  * three-separate-folds formulation the oracle uses.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<FLOAT|DOUBLE> inputs, " +
          s"got ${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = math.min(x.numElements(), y.numElements())
    val (lf, rf) = (elemIsFloat(left), elemIsFloat(right))
    var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      ab += xv * yv; aa += xv * xv; bb += yv * yv; i += 1
    }
    // zero-magnitude convention: sim(0⃗, ·) = 0. Without it the engines
    // DIVERGE, not just misbehave — Spark 0/0 is NaN (sorts greatest),
    // DuckDB x/0 is NULL (sorts last) — and a real corpus DOES contain
    // zero embeddings (failed encoder output).
    val den = math.sqrt(aa) * math.sqrt(bb)
    if (den == 0.0) 0.0 else ab / den
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val ab = ctx.freshName("ab")
      val aa = ctx.freshName("aa")
      val bb = ctx.freshName("bb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val den = ctx.freshName("den")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $ab = 0.0; double $aa = 0.0; double $bb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.$lGet($i);
         |  double $yv = (double) $b.$rGet($i);
         |  $ab += $xv * $yv; $aa += $xv * $xv; $bb += $yv * $yv;
         |}
         |double $den = java.lang.Math.sqrt($aa) * java.lang.Math.sqrt($bb);
         |${ev.value} = ($den == 0.0) ? 0.0 : $ab / $den;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {

  val name = "graft_cosine"

  private def intLit(e: Expression, fn: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal INT argument, got $other")
  }

  private def stringArrayLit(e: Expression, fn: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal}
    e match {
      case CreateArray(children, _) => children.map {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) => s.toString
        case other => throw new IllegalArgumentException(
          s"$fn expects literal STRING array elements, got $other")
      }
      case other => throw new IllegalArgumentException(
        s"$fn expects a literal ARRAY<STRING> argument, got $other")
    }
  }

  private def boolLit(e: Expression, fn: String): Boolean = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Boolean, BooleanType) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal BOOLEAN argument, got $other")
  }

  private def stringLit(e: Expression, fn: String): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(
        s: org.apache.spark.unsafe.types.UTF8String, StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal STRING argument, got $other")
  }

  private def doubleLit(e: Expression, fn: String): Double = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Double, DoubleType) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v.toDouble
    case org.apache.spark.sql.catalyst.expressions.Literal(d: org.apache.spark.sql.types.Decimal, _) =>
      d.toDouble // SQL '0.1' parses as DECIMAL
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal numeric argument, got $other")
  }

  private def longArrayLit(e: Expression, fn: String): Seq[Long] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, CreateArray, Literal}
    e match {
      // an EMPTY vocabulary rides in as CAST(array() AS ARRAY<BIGINT>)
      // (bare array() is ARRAY<NULL>); unwrap the cast and recurse
      case c: Cast => longArrayLit(c.child, fn)
      case CreateArray(children, _) => children.map {
        case Literal(v: Long, LongType) => v
        case Literal(v: Int, IntegerType) => v.toLong
        case other => throw new IllegalArgumentException(
          s"$fn expects literal BIGINT array elements, got $other")
      }
      case other => throw new IllegalArgumentException(
        s"$fn expects a literal ARRAY<BIGINT> argument, got $other")
    }
  }

  private def binaryLit(e: Expression, fn: String): Array[Byte] = {
    // accepts any FOLDABLE binary expression (typically `unhex('...')`) so
    // sketches can ride in SQL text; evaluated once at analysis time
    if (!e.foldable) throw new IllegalArgumentException(
      s"$fn expects a foldable BINARY argument (e.g. unhex literal), got $e")
    e.eval(null) match {
      case b: Array[Byte] => b
      case other => throw new IllegalArgumentException(
        s"$fn expects a foldable BINARY argument, got value $other")
    }
  }

  /** name -> (class, builder) for every native graft function. */
  val all: Seq[(String, (Class[_], Seq[Expression] => Expression))] = Seq(
    "graft_cosine" -> (classOf[CosineSim],
      (e: Seq[Expression]) => CosineSim(e(0), e(1))),
    "graft_shingle_hashes" -> (classOf[ShingleHashes],
      (e: Seq[Expression]) => ShingleHashes(e(0), intLit(e(1), "graft_shingle_hashes"))),
    "graft_gram_hashes" -> (classOf[GramHashes],
      (e: Seq[Expression]) => GramHashes(e(0), intLit(e(1), "graft_gram_hashes"))),
    "graft_winnow" -> (classOf[WinnowFps],
      (e: Seq[Expression]) => WinnowFps(e(0), intLit(e(1), "graft_winnow"),
        intLit(e(2), "graft_winnow"))),
    "graft_gram_rhashes" -> (classOf[GramRollHashes],
      (e: Seq[Expression]) => GramRollHashes(e(0), intLit(e(1), "graft_gram_rhashes"))),
    "graft_winnow_r" -> (classOf[WinnowRollFps],
      (e: Seq[Expression]) => WinnowRollFps(e(0), intLit(e(1), "graft_winnow_r"),
        intLit(e(2), "graft_winnow_r"))),
    "graft_minhash_sig" -> (classOf[MinhashSig],
      (e: Seq[Expression]) => MinhashSig(e(0), intLit(e(1), "graft_minhash_sig"))),
    "graft_band_buckets" -> (classOf[BandBuckets],
      (e: Seq[Expression]) => BandBuckets(e(0), intLit(e(1), "graft_band_buckets"),
        intLit(e(2), "graft_band_buckets"))),
    "graft_hyperplane_bucket" -> (classOf[HyperplaneBucket],
      (e: Seq[Expression]) => HyperplaneBucket(e(0), intLit(e(1), "graft_hyperplane_bucket"))),
    "graft_intersect_count" -> (classOf[SortedIntersectCount],
      (e: Seq[Expression]) => SortedIntersectCount(e(0), e(1))),
    "graft_clip_count" -> (classOf[ClipCount],
      (e: Seq[Expression]) => ClipCount(e(0), e(1))),
    "graft_dist2" -> (classOf[SquaredDistance],
      (e: Seq[Expression]) => SquaredDistance(e(0), e(1))),
    "graft_dot" -> (classOf[DotProduct],
      (e: Seq[Expression]) => DotProduct(e(0), e(1))),
    "graft_pq_adc" -> (classOf[PqAdc],
      (e: Seq[Expression]) => PqAdc(e(0), e(1), intLit(e(2), "graft_pq_adc"))),
    "graft_pq_adc_packed" -> (classOf[PqAdcPacked],
      (e: Seq[Expression]) => PqAdcPacked(e(0), e(1), intLit(e(2), "graft_pq_adc_packed"))),
    "graft_bloom_contains" -> (classOf[BloomMightContain],
      (e: Seq[Expression]) => BloomMightContain(binaryLit(e(0), "graft_bloom_contains"), e(1))),
    "graft_bloom_any" -> (classOf[BloomAnyContain],
      (e: Seq[Expression]) => BloomAnyContain(binaryLit(e(0), "graft_bloom_any"), e(1))),
    "graft_ngrams" -> (classOf[NGrams],
      (e: Seq[Expression]) => NGrams(e(0), intLit(e(1), "graft_ngrams"))),
    "graft_top_ngram_count" -> (classOf[TopNgramCount],
      (e: Seq[Expression]) => TopNgramCount(e(0), intLit(e(1), "graft_top_ngram_count"))),
    "graft_pack_i8" -> (classOf[PackInt8],
      (e: Seq[Expression]) => PackInt8(e(0))),
    "graft_cosine_i8" -> (classOf[CosineI8],
      (e: Seq[Expression]) => CosineI8(e(0), e(1))),
    "graft_simhash" -> (classOf[SimhashWords],
      (e: Seq[Expression]) => SimhashWords(e(0), intLit(e(1), "graft_simhash"))),
    "graft_fingerprint" -> (classOf[FingerprintWords],
      (e: Seq[Expression]) => FingerprintWords(e(0))),
    "graft_topk" -> (classOf[TopKAgg],
      (e: Seq[Expression]) => TopKAgg(e(0), e(1), intLit(e(2), "graft_topk"))),
    "graft_topk_words" -> (classOf[TopKWordsAgg],
      (e: Seq[Expression]) => TopKWordsAgg(e(0), e(1), e(2),
        intLit(e(3), "graft_topk_words"))),
    "graft_token_count" -> (classOf[TokenCount],
      (e: Seq[Expression]) => TokenCount(e(0))),
    "graft_bpe_count" -> (classOf[BpeCount],
      (e: Seq[Expression]) => BpeCount(e(0))),
    "graft_bpe_tokens" -> (classOf[BpeTokens],
      (e: Seq[Expression]) => BpeTokens(e(0))),
    "graft_bpe_token_ends" -> (classOf[BpeTokenEnds],
      (e: Seq[Expression]) => BpeTokenEnds(e(0))),
    "graft_count_le" -> (classOf[CountLe],
      (e: Seq[Expression]) => CountLe(e(0), e(1))),
    "graft_disc_returns" -> (classOf[DiscReturns],
      (e: Seq[Expression]) => DiscReturns(e(0), e(1))),
    "graft_gae_adv" -> (classOf[GaeAdvantages],
      (e: Seq[Expression]) => GaeAdvantages(e(0),
        intLit(e(1), "graft_gae_adv"), intLit(e(2), "graft_gae_adv"))),
    "graft_alpha_count" -> (classOf[AlphaCount],
      (e: Seq[Expression]) => AlphaCount(e(0))),
    "graft_classifier_logit" -> (classOf[ClassifierLogit],
      (e: Seq[Expression]) => ClassifierLogit(e(0), intLit(e(1), "graft_classifier_logit"))),
    "graft_classifier_logit_t" -> (classOf[ClassifierLogitTrained],
      (e: Seq[Expression]) => ClassifierLogitTrained(e(0))),
    "graft_stop_count" -> (classOf[StopCount],
      (e: Seq[Expression]) => StopCount(e(0), stringArrayLit(e(1), "graft_stop_count"))),
    "graft_term_counts" -> (classOf[TermCounts],
      (e: Seq[Expression]) => TermCounts(e(0), stringArrayLit(e(1), "graft_term_counts"),
        if (e.length > 2) stringLit(e(2), "graft_term_counts") else WordGrain.Ws.name)),
    "graft_routed_tokens" -> (classOf[RoutedTokens],
      (e: Seq[Expression]) => RoutedTokens(e(0), boolLit(e(1), "graft_routed_tokens"))),
    "graft_fmm_tokens" -> (classOf[FmmTokens],
      (e: Seq[Expression]) => FmmTokens(e(0), boolLit(e(1), "graft_fmm_tokens"),
        if (e.length > 2) stringLit(e(2), "graft_fmm_tokens") else WordGrain.CjkDict.name)),
    "graft_fmm_token_count" -> (classOf[FmmTokenCount],
      (e: Seq[Expression]) => FmmTokenCount(e(0),
        if (e.length > 1) stringLit(e(1), "graft_fmm_token_count") else WordGrain.CjkDict.name)),
    "graft_sentence_chunks" -> (classOf[SentenceChunks],
      (e: Seq[Expression]) => SentenceChunks(e(0),
        intLit(e(1), "graft_sentence_chunks"),
        stringLit(e(2), "graft_sentence_chunks"))),
    "graft_routed_token_count" -> (classOf[RoutedTokenCount],
      (e: Seq[Expression]) => RoutedTokenCount(e(0))),
    "graft_term_tf" -> (classOf[TermTf],
      (e: Seq[Expression]) => TermTf(e(0),
        if (e.length > 1) stringLit(e(1), "graft_term_tf") else WordGrain.Ws.name)),
    "graft_gram_tf" -> (classOf[GramTf],
      (e: Seq[Expression]) => GramTf(e(0), intLit(e(1), "graft_gram_tf"),
        if (e.length > 2) stringLit(e(2), "graft_gram_tf") else WordGrain.Ws.name)),
    "graft_hash_embed" -> (classOf[HashEmbed],
      (e: Seq[Expression]) => HashEmbed(e(0), intLit(e(1), "graft_hash_embed"))),
    "graft_hash_embed_text" -> (classOf[HashEmbedText],
      (e: Seq[Expression]) => HashEmbedText(e(0), intLit(e(1), "graft_hash_embed_text"))),
    "graft_normalize" -> (classOf[NormalizeText],
      (e: Seq[Expression]) => NormalizeText(e(0))),
    "graft_lower_collapse" -> (classOf[LowerCollapse],
      (e: Seq[Expression]) => LowerCollapse(e(0))),
    "graft_dsir_buckets" -> (classOf[DsirBuckets],
      (e: Seq[Expression]) => DsirBuckets(e(0), intLit(e(1), "graft_dsir_buckets"),
        if (e.length > 2) stringLit(e(2), "graft_dsir_buckets") else WordGrain.Ws.name)),
    "graft_bucket_score" -> (classOf[BucketScore],
      (e: Seq[Expression]) => BucketScore(e(0), longArrayLit(e(1), "graft_bucket_score"))),
    "graft_backoff_stats" -> (classOf[BackoffStats],
      (e: Seq[Expression]) => BackoffStats(e(0),
        longArrayLit(e(1), "graft_backoff_stats"), longArrayLit(e(2), "graft_backoff_stats"),
        longArrayLit(e(3), "graft_backoff_stats"), longArrayLit(e(4), "graft_backoff_stats"),
        longArrayLit(e(5), "graft_backoff_stats"), longArrayLit(e(6), "graft_backoff_stats"))),
    "graft_binary_sketch" -> (classOf[BinarySketch],
      (e: Seq[Expression]) => BinarySketch(e(0), intLit(e(1), "graft_binary_sketch"))),
    "graft_word_count" -> (classOf[WordCount],
      (e: Seq[Expression]) => WordCount(e(0),
        if (e.length > 1) stringLit(e(1), "graft_word_count") else WordGrain.Ws.name)),
    "graft_url_canon" -> (classOf[UrlCanon],
      (e: Seq[Expression]) => UrlCanon(e(0))),
    "graft_lang_scores" -> (classOf[LangScores],
      (e: Seq[Expression]) => LangScores(e(0))),
    "graft_gopher_flags" -> (classOf[GopherFlags],
      // the trailing grain arg is optional in SQL (defaults to 'ws'),
      // mirroring the case-class default — pre-grain 11-arg SQL keeps
      // analyzing unchanged
      (e: Seq[Expression]) => GopherFlags(e(0),
        intLit(e(1), "graft_gopher_flags"), intLit(e(2), "graft_gopher_flags"),
        doubleLit(e(3), "graft_gopher_flags"), doubleLit(e(4), "graft_gopher_flags"),
        doubleLit(e(5), "graft_gopher_flags"), doubleLit(e(6), "graft_gopher_flags"),
        intLit(e(7), "graft_gopher_flags"),
        doubleLit(e(8), "graft_gopher_flags"), doubleLit(e(9), "graft_gopher_flags"),
        stringArrayLit(e(10), "graft_gopher_flags"),
        if (e.length > 11) stringLit(e(11), "graft_gopher_flags") else WordGrain.Ws.name)),
    "graft_url_domain" -> (classOf[UrlDomain],
      (e: Seq[Expression]) => UrlDomain(e(0)))
  )

  /** Accepted argument counts per function (a set — functions with
    * trailing optional args list every legal count), consulted by the
    * arity guard wrapped around every builder at registration: a SQL
    * call with the wrong argument count must fail as a clean
    * analysis-time error naming the expected signature, not as the
    * builder's IndexOutOfBoundsException on `e(i)`. Object init
    * requires the key set to match [[all]] exactly, so an entry cannot
    * drift missing.
    */
  private val arity: Map[String, Set[Int]] = Map(
    "graft_cosine" -> Set(2), "graft_shingle_hashes" -> Set(2),
    "graft_gram_hashes" -> Set(2),
    "graft_winnow" -> Set(3), "graft_gram_rhashes" -> Set(2),
    "graft_winnow_r" -> Set(3), "graft_minhash_sig" -> Set(2),
    "graft_band_buckets" -> Set(3),
    "graft_hyperplane_bucket" -> Set(2), "graft_intersect_count" -> Set(2),
    "graft_clip_count" -> Set(2),
    "graft_dist2" -> Set(2), "graft_dot" -> Set(2), "graft_pq_adc" -> Set(3),
    "graft_pq_adc_packed" -> Set(3), "graft_bloom_contains" -> Set(2),
    "graft_bloom_any" -> Set(2), "graft_ngrams" -> Set(2),
    "graft_top_ngram_count" -> Set(2),
    "graft_pack_i8" -> Set(1), "graft_cosine_i8" -> Set(2),
    "graft_simhash" -> Set(2),
    "graft_fingerprint" -> Set(1), "graft_topk" -> Set(3),
    "graft_topk_words" -> Set(4),
    "graft_token_count" -> Set(1),
    "graft_bpe_count" -> Set(1), "graft_bpe_tokens" -> Set(1),
    "graft_bpe_token_ends" -> Set(1), "graft_count_le" -> Set(2),
    "graft_disc_returns" -> Set(2), "graft_gae_adv" -> Set(3),
    "graft_alpha_count" -> Set(1),
    "graft_classifier_logit" -> Set(2), "graft_classifier_logit_t" -> Set(1),
    "graft_stop_count" -> Set(2), "graft_term_counts" -> Set(2, 3),
    "graft_hash_embed" -> Set(2),
    "graft_hash_embed_text" -> Set(2), "graft_normalize" -> Set(1),
    "graft_lower_collapse" -> Set(1),
    "graft_dsir_buckets" -> Set(2, 3), "graft_bucket_score" -> Set(2),
    "graft_backoff_stats" -> Set(7), "graft_binary_sketch" -> Set(2),
    "graft_word_count" -> Set(1, 2), "graft_url_canon" -> Set(1),
    "graft_lang_scores" -> Set(1),
    "graft_routed_tokens" -> Set(2), "graft_routed_token_count" -> Set(1),
    "graft_fmm_tokens" -> Set(2, 3), "graft_fmm_token_count" -> Set(1, 2),
    "graft_sentence_chunks" -> Set(3),
    "graft_term_tf" -> Set(1, 2),
    "graft_gram_tf" -> Set(2, 3),
    "graft_gopher_flags" -> Set(11, 12), "graft_url_domain" -> Set(1))
  require(arity.keySet == all.map(_._1).toSet,
    "arity map must cover exactly the registered function set; missing: " +
      (all.map(_._1).toSet -- arity.keySet).mkString(",") + " extra: " +
      (arity.keySet -- all.map(_._1).toSet).mkString(","))

  private[functions] def guarded(n: String, builder: Seq[Expression] => Expression)
      : Seq[Expression] => Expression = es => {
    require(arity(n).contains(es.length),
      s"$n expects ${arity(n).toSeq.sorted.mkString(" or ")} argument(s), got ${es.length}")
    builder(es)
  }

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
    all.foreach { case (n, (cls, builder)) =>
      val id = FunctionIdentifier(n)
      if (!reg.functionExists(id))
        reg.registerFunction(id, new ExpressionInfo(cls.getName, n, s"$n - native graft expression"), guarded(n, builder))
    }
  }
}

/** `SparkSessionExtensions` entry point: enable with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    VectorFunctions.all.foreach { case (n, (cls, builder)) =>
      ext.injectFunction((FunctionIdentifier(n),
        new ExpressionInfo(cls.getName, n, s"$n - native graft expression"),
        VectorFunctions.guarded(n, builder)))
    }
    // auto-kernelize the known interpreted-HOF text-scan shapes in
    // USER-authored plans (conservative structural match; see the rule)
    ext.injectOptimizerRule(_ => graft.plans.KernelizeTextOps)
  }
}
