package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Optimizer rule: rewrite the two known interpreted-HOF text-scan
  * cliffs to their compiled kernels, so a user who writes the
  * IDIOMATIC declarative form gets kernel speed without knowing the
  * kernels exist:
  *
  *   - `size(filter(split(t, ' '), w -> w <> ''))` → `graft_word_count(t)`
  *     (cast back to INT — the kernel is BIGINT). The declarative form
  *     is CodegenFallback per element per row; at 1M docs the measured
  *     gap is ~32s vs ~0.4s (the DSIR denominator finding).
  *   - `size(regexp_extract_all(t, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0))`
  *     → `graft_token_count(t)` — the BPE-ish token-class count.
  *   - `trim(regexp_replace(lower(t), <ws-class>, ' '))` →
  *     `graft_lower_collapse(t)` — the normalization chain a Spark
  *     user actually authors, fused to one scan. Accepted ws-class
  *     spellings: `[ \t\n\r\f]+` (escaped or literal control chars)
  *     and `\s+` (whose Java class also collapses U+000B — the kernel's
  *     `vt` flag). NOT rewritten to `graft_normalize`: no declarative
  *     NFC exists in Spark SQL, and `lower()` is full-Unicode where
  *     that kernel's oracle-portable fold is ASCII-only — the rewrite
  *     must stay value-invariant against what the user wrote.
  *   - the ROUTED-GRAIN construction
  *     ([[graft.ops.TextAnalysis.routedTokensRegex]]):
  *     `IF(2·ncjk >= length(replace(t,' ','')) AND ncjk > 0,
  *     regexp_extract_all(t, <routed pattern>, 0), <ws split form>)`
  *     with `ncjk = length(t) − length(regexp_replace(t, <cjk class>,
  *     ''))` → `graft_routed_tokens(t, keepEmpties)` — the cjk-auto
  *     word grain as ONE char scan instead of two regex-engine passes
  *     per row. Both ws spellings are matched: plain `split(t, ' ')`
  *     (keepEmpties) and `array_remove(split(t, ' '), '')`. All five
  *     occurrences of `t` must be semantically the same expression,
  *     and the class/pattern literals must be exactly the engine's
  *     (any other ranges = a different grain = untouched). A
  *     follow-up case folds `size(graft_routed_tokens(t, false))` to
  *     `graft_word_count(t, 'cjk-auto')` so count-only consumers skip
  *     the array materialization entirely.
  *
  * Safety: both kernels are spec-pinned bit-equal to exactly these
  * declarative forms (VectorFunctionsSpec / HashOpsPropertySpec), and
  * the match is STRUCTURAL and conservative — literal `' '` separator,
  * limit −1, the `<> ''` predicate on the lambda's own variable, the
  * exact token-class regex, and non-legacy `size` null semantics
  * (`size(NULL)` must be NULL, as the kernels return NULL; under
  * `spark.sql.legacy.sizeOfNull` the declarative form yields −1 and
  * the rule leaves it alone). Anything else — other separators, other
  * predicates, other regexes — is untouched.
  *
  * Install builder-time via
  * `spark.sql.extensions=graft.functions.GraftExtensions` (which also
  * injects the kernels) or at runtime with [[install]] on a live
  * session. The registered queries call the kernels explicitly; this
  * rule is the path by which USER-authored plans reach them.
  */
object KernelizeTextOps extends Rule[LogicalPlan] {

  private val TokenClasses = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"
  // the engine's routed-grain literals (single source of truth:
  // GopherOps.cjkRanges, via TextAnalysis's derived classes)
  private val CjkClass = graft.ops.TextAnalysis.cjkCharClass
  private val CjkPattern = graft.ops.TextAnalysis.cjkTokenPattern

  private def lit(e: Expression, want: String): Boolean = e match {
    case Literal(s: UTF8String, StringType) => s.toString == want
    case _ => false
  }

  private def intLit(e: Expression, want: Int): Boolean = e match {
    case Literal(v: Int, IntegerType) => v == want
    case _ => false
  }

  /** Matches `length(t) - length(regexp_replace(t, <cjk class>, ''))`
    * — the routed construction's unsegmented-codepoint count — and
    * yields `t`.
    */
  private object NCjk {
    def unapply(e: Expression): Option[Expression] = e match {
      case Subtract(Length(t1), Length(RegExpReplace(t2, cls, empty, pos)), _)
          if lit(cls, CjkClass) && lit(empty, "") && intLit(pos, 1) &&
            t1.semanticEquals(t2) => Some(t1)
      case _ => None
    }
  }

  /** `2 · ncjk` in EITHER operand order — the user-provided batch runs
    * after the main optimizer batches, which commute the literal to
    * the right.
    */
  private object TwiceNCjk {
    def unapply(e: Expression): Option[Expression] = e match {
      case Multiply(two, NCjk(t), _) if intLit(two, 2) => Some(t)
      case Multiply(NCjk(t), two, _) if intLit(two, 2) => Some(t)
      case _ => None
    }
  }

  /** `Some(keepEmpties)` when `e` is one of the routed construction's
    * ws-grain spellings over `t`: `split(t, ' ')` → true,
    * `array_remove(split(t, ' '), '')` → false.
    */
  private def wsFormOf(e: Expression, t: Expression): Option[Boolean] = e match {
    case StringSplit(t2, sep, Literal(-1, IntegerType))
        if lit(sep, " ") && t2.semanticEquals(t) => Some(true)
    case ArrayRemove(StringSplit(t2, sep, Literal(-1, IntegerType)), empty)
        if lit(sep, " ") && lit(empty, "") && t2.semanticEquals(t) => Some(false)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case Size(
        ArrayFilter(
          StringSplit(t, sep, Literal(-1, IntegerType)),
          LambdaFunction(
            Not(EqualTo(v: NamedLambdaVariable, empty)),
            Seq(arg: NamedLambdaVariable), _)),
        false)
        if lit(sep, " ") && lit(empty, "") && v.exprId == arg.exprId =>
      Cast(graft.functions.WordCount(t), IntegerType)

    case Size(RegExpExtractAll(t, re, Literal(0, IntegerType)), false)
        if lit(re, TokenClasses) =>
      graft.functions.TokenCount(t)

    case StringTrim(
        RegExpReplace(Lower(t), re, rep, Literal(1, IntegerType)), None)
        if lit(rep, " ") && wsClassOf(re).isDefined =>
      graft.functions.LowerCollapse(t, vt = wsClassOf(re).get)

    case If(
        And(
          GreaterThanOrEqual(TwiceNCjk(ta),
            Length(StringReplace(tb, sp, em))),
          GreaterThan(NCjk(tc), zero)),
        RegExpExtractAll(td, pat, Literal(0, IntegerType)),
        elseB)
        if lit(sp, " ") && lit(em, "") && intLit(zero, 0) &&
          lit(pat, CjkPattern) && ta.semanticEquals(tb) &&
          ta.semanticEquals(tc) && ta.semanticEquals(td) &&
          wsFormOf(elseB, ta).isDefined =>
      graft.functions.RoutedTokens(ta, wsFormOf(elseB, ta).get)

    // count-only consumers of the routed grain skip the array: fires
    // on the optimizer's next fixed-point pass over plans the case
    // above (or an explicit graft_routed_tokens call) produced
    case Size(rt: graft.functions.RoutedTokens, false) if !rt.keepEmpties =>
      Cast(graft.functions.WordCount(rt.child, graft.ops.WordGrain.CjkAuto.name), IntegerType)
  }

  /** `Some(vt)` when the regex literal is an accepted whitespace-run
    * class: the project's documented class (escaped or as literal
    * control characters — SQL literal parsing produces either) → the
    * plain collapse set, `\s+` → the set including U+000B.
    */
  private def wsClassOf(re: Expression): Option[Boolean] = re match {
    case Literal(s: UTF8String, StringType) => s.toString match {
      case "[ \\t\\n\\r\\f]+" | "[ \t\n\r\f]+" => Some(false)
      case "\\s+" => Some(true)
      case _ => None
    }
    case _ => None
  }

  /** Runtime installation (idempotent) — the `experimental` analog of
    * the builder-time `GraftExtensions` injection.
    */
  def install(spark: SparkSession): Unit = {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    if (!spark.experimental.extraOptimizations.contains(KernelizeTextOps))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ KernelizeTextOps
  }
}
