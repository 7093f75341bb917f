package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import graft.ops.{DictGrain, ScalarGrain, WordGrain}

/** Native expressions for the portable-hash dedup pipeline.
  *
  * The declarative forms live entirely inside Catalyst higher-order
  * functions (`transform`/`aggregate`/`array_min`), which are
  * CodegenFallback: every shingle hash and every universal-hash minimum
  * is an interpreted expression-tree walk per element per row. These
  * expressions compute the same values (see [[HashOps]] for the
  * bit-for-bit contract with the DuckDB oracle fragments) in compiled
  * one-pass loops, and their `doGenCode` is a single static call — the
  * surrounding projection stays inside whole-stage codegen.
  */
trait HashArrayExpression extends UnaryExpression {
  override def nullable: Boolean = true

  protected def requiredElem: DataType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(e, _) if e == requiredElem => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<${requiredElem.catalogString}>, got ${dt.catalogString}")
  }
}

/** `graft_shingle_hashes(words, k)`: distinct hashed word-k-shingles. */
case class ShingleHashes(child: Expression, k: Int) extends HashArrayExpression {
  override def prettyName: String = "graft_shingle_hashes"
  override protected def requiredElem: DataType = StringType
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(words: Any): Any =
    HashOps.shingleHashes(words.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, w =>
      s"${ev.value} = graft.functions.HashOps.shingleHashes($w, $k);")

  override protected def withNewChildInternal(c: Expression): ShingleHashes =
    copy(child = c)
}

/** `graft_gram_hashes(words, k)`: POSITIONAL hashed word-k-grams (every
  * occurrence, document order — [[ShingleHashes]] is the distinct twin).
  */
case class GramHashes(child: Expression, k: Int) extends HashArrayExpression {
  override def prettyName: String = "graft_gram_hashes"
  override protected def requiredElem: DataType = StringType
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(words: Any): Any =
    HashOps.gramHashes(words.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, w =>
      s"${ev.value} = graft.functions.HashOps.gramHashes($w, $k);")

  override protected def withNewChildInternal(c: Expression): GramHashes =
    copy(child = c)
}

/** `graft_winnow(words, k, w)`: winnowing fingerprint set (sorted
  * distinct per-window gram-hash minima) in one compiled monotone-deque
  * pass; see [[HashOps.winnowFps]].
  */
case class WinnowFps(child: Expression, k: Int, w: Int) extends HashArrayExpression {
  override def prettyName: String = "graft_winnow"
  override protected def requiredElem: DataType = StringType
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(words: Any): Any =
    HashOps.winnowFps(words.asInstanceOf[ArrayData], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, ws =>
      s"${ev.value} = graft.functions.HashOps.winnowFps($ws, $k, $w);")

  override protected def withNewChildInternal(c: Expression): WinnowFps =
    copy(child = c)
}

/** `graft_gram_rhashes(words, k)`: ROLLING positional gram hashes — the
  * md5-free winnow/containment feed (see [[HashOps.gramRollHashes]] and
  * the cross-engine contract at
  * [[graft.ops.PortableHash.duckTokenRoll]]).
  */
case class GramRollHashes(child: Expression, k: Int) extends HashArrayExpression {
  override def prettyName: String = "graft_gram_rhashes"
  override protected def requiredElem: DataType = StringType
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(words: Any): Any =
    HashOps.gramRollHashes(words.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, w =>
      s"${ev.value} = graft.functions.HashOps.gramRollHashes($w, $k);")

  override protected def withNewChildInternal(c: Expression): GramRollHashes =
    copy(child = c)
}

/** `graft_winnow_r(words, k, w)`: winnowing fingerprints over the
  * ROLLING gram hashes ([[GramRollHashes]]) — same monotone-deque
  * selection as [[WinnowFps]], md5-free feed.
  */
case class WinnowRollFps(child: Expression, k: Int, w: Int) extends HashArrayExpression {
  override def prettyName: String = "graft_winnow_r"
  override protected def requiredElem: DataType = StringType
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(words: Any): Any =
    HashOps.winnowRollFps(words.asInstanceOf[ArrayData], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, ws =>
      s"${ev.value} = graft.functions.HashOps.winnowRollFps($ws, $k, $w);")

  override protected def withNewChildInternal(c: Expression): WinnowRollFps =
    copy(child = c)
}

/** `graft_minhash_sig(hs, n)`: n universal-hash minima (MinHash signature). */
case class MinhashSig(child: Expression, numHashes: Int) extends HashArrayExpression {
  override def prettyName: String = "graft_minhash_sig"
  override protected def requiredElem: DataType = LongType
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullSafeEval(hs: Any): Any =
    HashOps.minhashSig(hs.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, h =>
      s"${ev.value} = graft.functions.HashOps.minhashSig($h, $numHashes);")

  override protected def withNewChildInternal(c: Expression): MinhashSig =
    copy(child = c)
}

/** `graft_simhash(words, bits)`: SimHash of the word sequence — one
  * compiled pass accumulating all bit votes (the declarative form
  * re-folds the word-hash array once per bit).
  */
case class SimhashWords(child: Expression, bits: Int) extends HashArrayExpression {
  override def prettyName: String = "graft_simhash"
  override protected def requiredElem: DataType = StringType
  override def dataType: DataType = LongType

  override def nullSafeEval(words: Any): Any =
    HashOps.simhashWords(words.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, w =>
      s"${ev.value} = graft.functions.HashOps.simhashWords($w, $bits);")

  override protected def withNewChildInternal(c: Expression): SimhashWords =
    copy(child = c)
}

/** `graft_fingerprint(words)`: order-sensitive rolling hash of the word
  * sequence.
  */
case class FingerprintWords(child: Expression) extends HashArrayExpression {
  override def prettyName: String = "graft_fingerprint"
  override protected def requiredElem: DataType = StringType
  override def dataType: DataType = LongType

  override def nullSafeEval(words: Any): Any =
    HashOps.fingerprintWords(words.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, w =>
      s"${ev.value} = graft.functions.HashOps.fingerprintWords($w);")

  override protected def withNewChildInternal(c: Expression): FingerprintWords =
    copy(child = c)
}

/** `graft_stop_count(words, array('the', ...))`: occurrences of words in
  * the literal stop list. The list must be foldable at build time; it is
  * compiled into a shared HashSet referenced by generated code.
  */
case class StopCount(child: Expression, stopWords: Seq[String])
    extends HashArrayExpression {
  override def prettyName: String = "graft_stop_count"
  override protected def requiredElem: DataType = StringType
  override def dataType: DataType = IntegerType

  @transient lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopWords.foreach(s.add)
    s
  }

  override def nullSafeEval(words: Any): Any =
    HashOps.countIn(words.asInstanceOf[ArrayData], stopSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // reference THIS expression instance from generated code so the
    // HashSet is built once, not per row
    val ref = ctx.addReferenceObj("stopCountExpr", this, classOf[StopCount].getName)
    nullSafeCodeGen(ctx, ev, w =>
      s"${ev.value} = graft.functions.HashOps.countIn($w, $ref.stopSet());")
  }

  override protected def withNewChildInternal(c: Expression): StopCount =
    copy(child = c)
}

/** Base for native string→int scans (token/alpha counts). */
trait StringCountExpression extends UnaryExpression {
  override def nullable: Boolean = true
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${dt.catalogString}")
  }
}

/** `graft_token_count(text)`: BPE-ish token count (letter runs, digit
  * runs, other non-space code points) — the compiled twin of the
  * regexp_extract_all formulation.
  */
/** `graft_classifier_logit(words, dim)` — the feature-hash linear
  * scoring loop compiled ([[HashOps.classifierLogit]]); null/empty
  * tokens contribute nothing, matching the declarative twin's
  * empty-token filter.
  */
case class ClassifierLogit(child: Expression, dim: Int) extends HashArrayExpression {
  require(dim > 0, s"graft_classifier_logit requires positive dim, got $dim")
  override def prettyName: String = "graft_classifier_logit"
  override protected def requiredElem: DataType = StringType
  override def dataType: DataType = LongType

  override def nullSafeEval(words: Any): Any =
    HashOps.classifierLogit(words.asInstanceOf[ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, w =>
      s"${ev.value} = graft.functions.HashOps.classifierLogit($w, $dim);")

  override protected def withNewChildInternal(c: Expression): ClassifierLogit =
    copy(child = c)
}

/** `graft_classifier_logit_t(words)` — the TRAINED variant of
  * [[ClassifierLogit]]: same compiled integer-logit loop over the
  * committed LR table ([[graft.ops.QualityClassifierWeights]], learned
  * from the planted fixture — see [[graft.ops.QualityClassifier]])
  * instead of the placeholder formula.
  */
case class ClassifierLogitTrained(child: Expression) extends HashArrayExpression {
  override def prettyName: String = "graft_classifier_logit_t"
  override protected def requiredElem: DataType = StringType
  override def dataType: DataType = LongType

  override def nullSafeEval(words: Any): Any =
    HashOps.classifierLogitTrained(words.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, w =>
      s"${ev.value} = graft.functions.HashOps.classifierLogitTrained($w);")

  override protected def withNewChildInternal(c: Expression): ClassifierLogitTrained =
    copy(child = c)
}

/** `graft_bpe_count(text)`: single-epoch BPE token count over the
  * committed merge table ([[HashOps.bpeTokenCount]]) — the compiled twin
  * of the 2-passes-per-merge boundary-replace chain (graft.ops.Bpe),
  * which interprets ~60 string scans per row where this is one unit-list
  * pass per merge.
  */
case class BpeCount(child: Expression) extends StringCountExpression {
  override def prettyName: String = "graft_bpe_count"
  override def dataType: DataType = LongType
  override def nullSafeEval(s: Any): Any =
    HashOps.bpeTokenCount(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.HashOps.bpeTokenCount($s);")
  override protected def withNewChildInternal(c: Expression): BpeCount = copy(child = c)
}

/** `graft_bpe_tokens(text)`: the BPE token SEQUENCE ([[HashOps.bpeTokens]]). */
case class BpeTokens(child: Expression) extends StringCountExpression {
  override def prettyName: String = "graft_bpe_tokens"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(s: Any): Any =
    HashOps.bpeTokens(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.HashOps.bpeTokens($s);")
  override protected def withNewChildInternal(c: Expression): BpeTokens = copy(child = c)
}

/** `graft_bpe_token_ends(text)`: cumulative BPE token END offsets in
  * stripped coordinates ([[HashOps.bpeTokenEnds]]) — ascending
  * ARRAY<BIGINT>, one tokenizer pass. The linear twin of the
  * declarative array-append accumulator (which is quadratic in token
  * count); consumed by the chat token-mask op with `graft_count_le`.
  */
case class BpeTokenEnds(child: Expression) extends StringCountExpression {
  override def prettyName: String = "graft_bpe_token_ends"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(s: Any): Any =
    HashOps.bpeTokenEnds(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.HashOps.bpeTokenEnds($s);")
  override protected def withNewChildInternal(c: Expression): BpeTokenEnds =
    copy(child = c)
}

/** `graft_count_le(arr, x)`: count of elements <= x in an ASCENDING
  * ARRAY<BIGINT> ([[HashOps.countLe]], binary search) — the O(log n)
  * twin of `size(filter(arr, e -> e <= x))`, whose interpreted HOF
  * lambda walks the array per call. The caller owns the sortedness
  * contract (cumulative sums are ascending by construction).
  */
case class CountLe(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def prettyName: String = "graft_count_le"
  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<BIGINT>, BIGINT), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def nullSafeEval(a: Any, x: Any): Any =
    HashOps.countLe(a.asInstanceOf[ArrayData], x.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, x) =>
      s"${ev.value} = graft.functions.HashOps.countLe($a, $x);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CountLe =
    copy(left = newLeft, right = newRight)
}

/** `graft_disc_returns(rewards, gammaMilli)`: discounted return-to-go
  * array over step-ordered integer-milli rewards
  * ([[HashOps.discountedReturns]]) — the backward recurrence
  * `G_i = r_i + trunc(γ·G_{i+1} / 1000)` in one compiled pass
  * (truncating division: both engines truncate signed integers). The
  * declarative `aggregate` twin copies its accumulator array per step
  * (quadratic in episode length — the bpeTokenEnds lesson); this is
  * linear and keeps the projection in whole-stage codegen.
  */
case class DiscReturns(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def prettyName: String = "graft_disc_returns"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<BIGINT>, BIGINT), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def nullSafeEval(a: Any, g: Any): Any =
    HashOps.discountedReturns(a.asInstanceOf[ArrayData], g.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, g) =>
      s"${ev.value} = graft.functions.HashOps.discountedReturns($a, $g);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DiscReturns =
    copy(left = newLeft, right = newRight)
}

/** `graft_gae_adv(steps, gammaMilli, lambdaMilli)`: GAE(λ) advantage
  * array over an episode's step-SORTED `(s, r, v)` struct array
  * ([[HashOps.gaeAdvantages]]) — TD residuals
  * `δ_i = r_i + trunc(γ·V_{i+1} / 1000) − V_i` then the backward
  * recurrence `A_i = δ_i + trunc(γλ·A_{i+1} / 10⁶)` in one compiled
  * pass (truncating division on signed values, both engines'
  * semantics). Takes the struct array straight off the collect: two
  * `transform(xs, ...)` projections would put a HOF under the kernel
  * (silently breaking whole-stage codegen, the repo kernel rule) and
  * double the aggregation buffer. γ/λ are LITERAL milli constants
  * baked into the instance (the [[StopCount]] convention); the
  * recurrence is the definition (each step's rounding feeds the
  * next), so the oracle replays it with a recursive CTE.
  */
case class GaeAdvantages(child: Expression, gammaMilli: Int,
                         lambdaMilli: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(gammaMilli >= 0 && gammaMilli <= 1000,
    s"graft_gae_adv requires gammaMilli in [0, 1000], got $gammaMilli")
  require(lambdaMilli >= 0 && lambdaMilli <= 1000,
    s"graft_gae_adv requires lambdaMilli in [0, 1000], got $lambdaMilli")
  override def prettyName: String = "graft_gae_adv"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _)
        if s.length == 3 && s.forall(_.dataType == LongType) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRUCT<BIGINT, BIGINT, BIGINT>> " +
        s"(sort key, reward milli, value milli), got ${other.catalogString}")
  }
  override def nullSafeEval(xs: Any): Any =
    HashOps.gaeAdvantages(xs.asInstanceOf[ArrayData],
      gammaMilli.toLong, lambdaMilli.toLong)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs =>
      s"${ev.value} = graft.functions.HashOps.gaeAdvantages(" +
        s"$xs, ${gammaMilli}L, ${lambdaMilli}L);")
  override protected def withNewChildInternal(c: Expression): GaeAdvantages =
    copy(child = c)
}

/** `graft_dsir_buckets(text, B)`: fused DSIR feature extraction
  * ([[HashOps.dsirBuckets]]) — word unigram + bigram md5 bucket ids in
  * one byte scan, bit-equal to the declarative
  * `transform(concat(grams...), g -> H(g) % B)` twin (the gram strings
  * are never materialized; the measured gap at 1M docs is the
  * difference between a 9-minute and a seconds-scale scoring pass).
  */
case class DsirBuckets(child: Expression, buckets: Int,
                       grain: String = WordGrain.Ws.name)
    extends StringCountExpression {
  require(buckets > 0, s"graft_dsir_buckets requires positive B, got $buckets")
  private val routed = WordGrain.scalar(grain).routed
  override def prettyName: String = "graft_dsir_buckets"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(s: Any): Any =
    if (routed)
      GopherOps.routedDsirBuckets(
        s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], buckets)
    else
      HashOps.dsirBuckets(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], buckets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (routed)
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.GopherOps.routedDsirBuckets($s, $buckets);")
    else
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.HashOps.dsirBuckets($s, $buckets);")
  override protected def withNewChildInternal(c: Expression): DsirBuckets =
    copy(child = c)
}

/** `graft_bucket_score(ids, weights)`: Σ weights(id) over a bucket-id
  * array against a LITERAL per-bucket weight table
  * ([[HashOps.bucketScore]]) — the row-local DSIR scoring pass; the B
  * longs ride the expression instance, referenced once per codegen (the
  * [[StopCount]] pattern), so the scoring scan needs no join at all.
  */
/** `graft_backoff_stats(words, triH, triC, biH, biC, uniH, uniC)`:
  * stupid-backoff per-level statistics against three broadcast-literal
  * (hash, cnt) vocabulary tables — see [[HashOps.backoffStats]]. The
  * pair arrays are re-sorted by hash at construction so binary search
  * holds regardless of the caller's collection order.
  */
case class BackoffStats(child: Expression,
                        triH: Seq[Long], triC: Seq[Long],
                        biH: Seq[Long], biC: Seq[Long],
                        uniH: Seq[Long], uniC: Seq[Long])
    extends HashArrayExpression {
  override def prettyName: String = "graft_backoff_stats"
  override protected def requiredElem: DataType = StringType
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def sortedH(h: Seq[Long]): Array[Long] =
    h.indices.sortBy(h(_)).map(h(_)).toArray
  private def sortedC(h: Seq[Long], c: Seq[Long]): Array[Long] =
    h.indices.sortBy(h(_)).map(c(_)).toArray

  @transient lazy val triHArr: Array[Long] = sortedH(triH)
  @transient lazy val triCArr: Array[Long] = sortedC(triH, triC)
  @transient lazy val biHArr: Array[Long] = sortedH(biH)
  @transient lazy val biCArr: Array[Long] = sortedC(biH, biC)
  @transient lazy val uniHArr: Array[Long] = sortedH(uniH)
  @transient lazy val uniCArr: Array[Long] = sortedC(uniH, uniC)

  override def nullSafeEval(words: Any): Any =
    HashOps.backoffStats(words.asInstanceOf[ArrayData],
      triHArr, triCArr, biHArr, biCArr, uniHArr, uniCArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("backoffStatsExpr", this, classOf[BackoffStats].getName)
    nullSafeCodeGen(ctx, ev, w =>
      s"""${ev.value} = graft.functions.HashOps.backoffStats($w,
         |  $ref.triHArr(), $ref.triCArr(), $ref.biHArr(), $ref.biCArr(),
         |  $ref.uniHArr(), $ref.uniCArr());""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): BackoffStats =
    copy(child = c)
}

case class BucketScore(child: Expression, weights: Seq[Long])
    extends HashArrayExpression {
  override def prettyName: String = "graft_bucket_score"
  override protected def requiredElem: DataType = LongType
  override def dataType: DataType = LongType

  @transient lazy val weightArr: Array[Long] = weights.toArray

  override def nullSafeEval(ids: Any): Any =
    HashOps.bucketScore(ids.asInstanceOf[ArrayData], weightArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bucketScoreExpr", this, classOf[BucketScore].getName)
    nullSafeCodeGen(ctx, ev, ids =>
      s"${ev.value} = graft.functions.HashOps.bucketScore($ids, $ref.weightArr());")
  }

  override protected def withNewChildInternal(c: Expression): BucketScore =
    copy(child = c)
}

/** `graft_word_count(text[, grain])`: word count on the engine's word
  * grains — `'ws'` (default) is the non-empty space-separated count
  * ([[HashOps.wordCount]]), the compiled twin of
  * `size(filter(split(text, ' '), w -> w <> ''))`; `'cjk-auto'` is the
  * script-dominance-routed count ([[GopherOps.routedWordCount]]), the
  * compiled twin of `size(<routed tokens, empties dropped>)` — a
  * count-only walk that never materializes token strings.
  */
case class WordCount(child: Expression, grain: String = WordGrain.Ws.name)
    extends StringCountExpression {
  private val routed = WordGrain.scalar(grain).routed
  override def prettyName: String = "graft_word_count"
  override def dataType: DataType = LongType
  override def nullSafeEval(s: Any): Any =
    if (routed)
      GopherOps.routedWordCount(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    else
      HashOps.wordCount(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (routed)
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.GopherOps.routedWordCount($s);")
    else
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.HashOps.wordCount($s);")
  override protected def withNewChildInternal(c: Expression): WordCount =
    copy(child = c)
}

case class TokenCount(child: Expression) extends StringCountExpression {
  override def prettyName: String = "graft_token_count"
  override def nullSafeEval(s: Any): Any =
    HashOps.tokenCount(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.HashOps.tokenCount($s);")
  override protected def withNewChildInternal(c: Expression): TokenCount = copy(child = c)
}

/** `graft_hash_embed(words, dim)`: signed feature-hash embedding
  * ([[HashOps.hashEmbed]]) — the compiled twin of the dim-separate-folds
  * declarative form; returns ARRAY<BIGINT> of length `dim`.
  */
case class HashEmbed(child: Expression, dim: Int) extends HashArrayExpression {
  require(dim > 0, s"graft_hash_embed requires positive dim, got $dim")
  override def prettyName: String = "graft_hash_embed"
  override protected def requiredElem: DataType = StringType
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(words: Any): Any =
    HashOps.hashEmbed(words.asInstanceOf[ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, w =>
      s"${ev.value} = graft.functions.HashOps.hashEmbed($w, $dim);")

  override protected def withNewChildInternal(c: Expression): HashEmbed =
    copy(child = c)
}

/** `graft_normalize(text)`: NFC + ASCII-lower + whitespace-collapse
  * canonical normalization ([[HashOps.normalizeText]]).
  */
case class NormalizeText(child: Expression) extends StringCountExpression {
  override def prettyName: String = "graft_normalize"
  override def dataType: DataType = StringType
  override def nullSafeEval(s: Any): Any =
    HashOps.normalizeText(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.HashOps.normalizeText($s);")
  override protected def withNewChildInternal(c: Expression): NormalizeText =
    copy(child = c)
}

/** `graft_lower_collapse(text)`: Spark-semantics lowercase + whitespace
  * collapse + trim as one scan ([[HashOps.lowerCollapse]]) — the
  * compiled form of the user-authored
  * `trim(regexp_replace(lower(t), '[ \t\n\r\f]+', ' '))` chain that
  * [[graft.plans.KernelizeTextOps]] rewrites (`vt` is the `'\s+'`
  * spelling, whose class also collapses U+000B).
  */
case class LowerCollapse(child: Expression, vt: Boolean = false)
    extends StringCountExpression {
  override def prettyName: String = "graft_lower_collapse"
  override def dataType: DataType = StringType
  override def nullSafeEval(s: Any): Any =
    HashOps.lowerCollapse(
      s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], vt)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.HashOps.lowerCollapse($s, $vt);")
  override protected def withNewChildInternal(c: Expression): LowerCollapse =
    copy(child = c)
}

/** `graft_hash_embed_text(text, dim)`: tokenize-and-embed fused
  * ([[HashOps.hashEmbedText]]) — the whole-doc vector-leg projection as
  * one byte scan, bit-equal to
  * `graft_hash_embed(regexp_extract_all(text, …), dim)`.
  */
case class HashEmbedText(child: Expression, dim: Int)
    extends StringCountExpression {
  require(dim > 0, s"graft_hash_embed_text requires positive dim, got $dim")
  override def prettyName: String = "graft_hash_embed_text"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(s: Any): Any =
    HashOps.hashEmbedText(
      s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.HashOps.hashEmbedText($s, $dim);")

  override protected def withNewChildInternal(c: Expression): HashEmbedText =
    copy(child = c)
}

/** `graft_term_counts(text, array('t1', …)[, grain])`: one scan pass
  * over the text, emitting `[doc_len, tf_0, …, tf_q]` as ARRAY<BIGINT>.
  * On the `'ws'` grain (default) it is a byte scan — split on single
  * spaces (empty tokens from runs of spaces skipped) — the compiled
  * twin of `size(filter(split(text,' '), w -> w <> ''))` plus one
  * `size(filter(__t, w -> w = 'tᵢ'))` per term (each an interpreted
  * HOF walk; measured 101s → a few seconds for BM25's doc-stats
  * projection at 1M docs). On `'cjk-auto'` the doc length and term
  * matches count over the routed grain
  * ([[GopherOps.routedTermCounts]]) so single-codepoint query terms
  * match on script-dominated rows. Term matching is exact string
  * equality — SQL `=`.
  */
case class TermCounts(child: Expression, terms: Seq[String],
                      grain: String = WordGrain.Ws.name)
    extends StringCountExpression {
  require(terms.nonEmpty, "graft_term_counts requires at least one term")
  private val wordGrain = WordGrain(grain)
  override def prettyName: String = "graft_term_counts"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient lazy val termBytes: Array[Array[Byte]] =
    terms.map(_.getBytes("UTF-8")).toArray
  @transient lazy val termStrs: Array[String] = terms.toArray

  override def nullSafeEval(s: Any): Any = wordGrain match {
    case d: DictGrain =>
      GopherOps.fmmTermCounts(
        s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], termBytes,
        termStrs, d.lexicon)
    case g: ScalarGrain if g.routed =>
      GopherOps.routedTermCounts(
        s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], termBytes, termStrs)
    case _ =>
      HashOps.termCounts(
        s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], termBytes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // reference THIS instance so the term byte/string arrays build once,
    // not per row
    val ref = ctx.addReferenceObj("termCountsExpr", this, classOf[TermCounts].getName)
    nullSafeCodeGen(ctx, ev, s => wordGrain match {
      case d: DictGrain =>
        s"${ev.value} = graft.functions.GopherOps.fmmTermCounts($s, " +
          s"$ref.termBytes(), $ref.termStrs(), ${d.javaRef});"
      case g: ScalarGrain if g.routed =>
        s"${ev.value} = graft.functions.GopherOps.routedTermCounts($s, " +
          s"$ref.termBytes(), $ref.termStrs());"
      case _ =>
        s"${ev.value} = graft.functions.HashOps.termCounts($s, $ref.termBytes());"
    })
  }

  override protected def withNewChildInternal(c: Expression): TermCounts =
    copy(child = c)
}

/** `graft_alpha_count(text)`: ASCII-letter count — the compiled twin of
  * `length(regexp_replace(text, '[^a-zA-Z]', ''))`, a byte scan with no
  * decode.
  */
case class AlphaCount(child: Expression) extends StringCountExpression {
  override def prettyName: String = "graft_alpha_count"
  override def nullSafeEval(s: Any): Any =
    HashOps.alphaCount(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.HashOps.alphaCount($s);")
  override protected def withNewChildInternal(c: Expression): AlphaCount = copy(child = c)
}

/** `graft_ngrams(words, n)`: all word n-grams in order, space-joined
  * (every occurrence — no dedup; the corpus-count twin of the
  * declarative transform+concat fragment).
  */
case class NGrams(child: Expression, n: Int) extends HashArrayExpression {
  override def prettyName: String = "graft_ngrams"
  override protected def requiredElem: DataType = StringType
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(words: Any): Any =
    HashOps.ngrams(words.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, w =>
      s"${ev.value} = graft.functions.HashOps.ngrams($w, $n);")

  override protected def withNewChildInternal(c: Expression): NGrams =
    copy(child = c)
}

/** `graft_top_ngram_count(words, n)`: max occurrence count of any word
  * n-gram in the row (single-pass frequency map bounded by the row's own
  * n-gram count; see [[HashOps.topNgramCount]]).
  */
case class TopNgramCount(child: Expression, n: Int) extends HashArrayExpression {
  override def prettyName: String = "graft_top_ngram_count"
  override protected def requiredElem: DataType = StringType
  override def dataType: DataType = IntegerType

  override def nullSafeEval(words: Any): Any =
    HashOps.topNgramCount(words.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, w =>
      s"${ev.value} = graft.functions.HashOps.topNgramCount($w, $n);")

  override protected def withNewChildInternal(c: Expression): TopNgramCount =
    copy(child = c)
}

/** `graft_pack_i8(codes)`: pack int8 quantization codes into a signed
  * byte BINARY (see [[HashOps.packI8]]).
  */
case class PackInt8(child: Expression) extends HashArrayExpression {
  override def prettyName: String = "graft_pack_i8"
  override protected def requiredElem: DataType = IntegerType
  override def dataType: DataType = BinaryType

  override def nullSafeEval(codes: Any): Any =
    HashOps.packI8(codes.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashOps.packI8($c);")

  override protected def withNewChildInternal(c: Expression): PackInt8 =
    copy(child = c)
}

/** `graft_cosine_i8(a, b)`: cosine over two packed int8 code binaries
  * (see [[HashOps.cosineI8]]; fold order identical to the unpacked
  * twin, so results are bit-equal to scoring the int arrays).
  */
case class CosineI8(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def prettyName: String = "graft_cosine_i8"
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two BINARY code vectors, got ${l.catalogString} / ${r.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    HashOps.cosineI8(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HashOps.cosineI8($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineI8 =
    copy(left = newLeft, right = newRight)
}

/** `graft_intersect_count(a, b)`: |A ∩ B| of two SORTED distinct BIGINT
  * arrays (two-pointer merge; see [[HashOps.sortedIntersectCount]]).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def prettyName: String = "graft_intersect_count"
  override def nullable: Boolean = true
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two ARRAY<BIGINT>, got ${l.catalogString} / ${r.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    HashOps.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HashOps.sortedIntersectCount($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** `graft_clip_count(a, b)`: clipped multiset intersection
  * `Σ_w min(cnt_a(w), cnt_b(w))` of two STRING arrays (one hash-map
  * pass; see [[HashOps.clipCount]]) — the compiled replacement for the
  * declarative distinct-walk in the overlap/answer-scoring family (the
  * declarative form stays as the spec-pinned parity baseline; the
  * oracle replays the unnest+join dialect).
  */
case class ClipCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def prettyName: String = "graft_clip_count"
  override def nullable: Boolean = true
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two ARRAY<STRING>, got ${l.catalogString} / ${r.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    HashOps.clipCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HashOps.clipCount($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ClipCount =
    copy(left = newLeft, right = newRight)
}

/** `graft_hyperplane_bucket(vec, bits)`: random-hyperplane LSH bucket id —
  * sign pattern of `bits` dot products with the deterministic integer-mod
  * hyperplanes of [[graft.ops.Similarity]] (weight arithmetic and
  * ascending-dimension fold order identical to the SQL fragment twins on
  * both engines).
  */
case class HyperplaneBucket(child: Expression, bits: Int) extends UnaryExpression {
  override def prettyName: String = "graft_hyperplane_bucket"
  override def nullable: Boolean = true
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT|DOUBLE>, got ${dt.catalogString}")
  }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(vec: Any): Any =
    HashOps.hyperplaneBucket(vec.asInstanceOf[ArrayData], bits, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.HashOps.hyperplaneBucket($v, $bits, $isFloat);")

  override protected def withNewChildInternal(c: Expression): HyperplaneBucket =
    copy(child = c)
}

/** `graft_band_buckets(hs, bands, rowsPerBand)`: per-band LSH bucket ids. */
case class BandBuckets(child: Expression, bands: Int, rowsPerBand: Int)
    extends HashArrayExpression {
  override def prettyName: String = "graft_band_buckets"
  override protected def requiredElem: DataType = LongType
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullSafeEval(hs: Any): Any =
    HashOps.bandBuckets(hs.asInstanceOf[ArrayData], bands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, h =>
      s"${ev.value} = graft.functions.HashOps.bandBuckets($h, $bands, $rowsPerBand);")

  override protected def withNewChildInternal(c: Expression): BandBuckets =
    copy(child = c)
}
