package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import WordGrain.Ws

/** Answer scoring (round 20) — the stage that PRODUCES the `passed` /
  * score columns the sampled-eval estimators consume
  * ([[PassAtK.passAtK]] / [[PassAtK.passAllK]] read a boolean nothing
  * in the engine emitted until now): SQuAD-style normalize →
  * exact-match flag → token-F1, plus the ROUGE/BLEU-ingredient
  * clipped n-gram overlap — all in exact integer milli, the engine
  * convention (the consumer composes geometric means / averages in
  * float land).
  *
  * NORMALIZATION (the public SQuAD evaluation recipe, re-listed):
  * lowercase → delete ASCII punctuation (the `[!-/:-@[-`{-~]` class —
  * exactly codepoints 33-47, 58-64, 91-96, 123-126, so `don't` →
  * `dont` like the reference implementation; non-ASCII punctuation
  * survives, also like the reference) → whitespace chars to spaces →
  * split on spaces, drop empties → drop the article tokens
  * `a/an/the`. Both dialects spell the same three regex passes (Java
  * regex needs `\[` escaped inside the class, RE2 does not — the
  * literals differ, the accepted language does not).
  *
  * TOKEN GRAIN: `ws` applies the split above; `cjk-auto` routes the
  * normalized string through the script-dominance tokenizer
  * (`graft_routed_tokens`, [[TextAnalysis.routedTokensSpark]]) so a
  * Han/Thai answer scores on codepoint-grain tokens instead of one
  * giant "word" (the repo's routed-grain convention; the article
  * filter still applies — a no-op on routed rows).
  *
  * F1 arithmetic (exact, unsigned): with `np`/`ng` the
  * prediction/gold token counts and `m` the CLIPPED multiset
  * intersection `Σ_t min(cnt_pred(t), cnt_gold(t))`:
  * `p = m·1000 div np`, `r = m·1000 div ng`,
  * `f1 = 2·m·1000 div (np + ng)` (the exact rational identity
  * 2pr/(p+r) = 2m/(np+ng), so ONE truncation instead of three).
  * Zero-token guard on BOTH dialects (ANSI throws on x div 0):
  * both sides empty → 1000/1000/1000 (the SQuAD empty-vs-empty
  * convention: EM decides), exactly one side empty → 0/0/0.
  * NULL texts are scored as empty strings (coalesce — a missing
  * prediction IS a wrong prediction, not a droppable row).
  *
  * Plan shape: ZERO-exchange scan — every score is a row-local
  * projection (the chat-family class). The clipped intersection is
  * the bounded O(|distinct(pred)|·(np+ng)) nested-HOF walk, fine at
  * answer length; `maxTokens` drops rows whose EITHER side exceeds it
  * WHOLE (scored as a row with `oversized = 1` and zero credit would
  * lie — the maxJudges convention: dropping is a curation signal),
  * keeping the row-local work bounded at 100 TB. The token arrays are
  * let1-bound (the ProbeRound17 lesson: a lambda referencing an outer
  * computed column re-evaluates it per element otherwise — O(n²)
  * regex passes). HOFs are CodegenFallback; the op is parse-bound
  * like the chat family, and the oracle replays a join formulation
  * (unnest + group + equi-join) that is only used at oracle scale.
  */
object AnswerScore {

  /** ASCII punctuation class, Java-regex spelling (Spark). */
  private val punctSpark = "[!-/:-@\\\\[-`{-~]"
  /** ASCII punctuation class, RE2 spelling (DuckDB). */
  private val punctDuck = "[!-/:-@[-`{-~]"

  private val articles = "('a','an','the')"

  /** Normalized text, Spark dialect: ASCII-lower → punct delete →
    * ws→space. The case fold is the PORTABLE ASCII translate
    * ([[PortableHash.asciiLower]]), NOT full `lower()` — Java's
    * final-sigma SpecialCasing and İ→i+U+0307 mapping genuinely
    * diverge from DuckDB's per-codepoint utf8proc fold (probed round
    * 20; the graft_normalize convention). Non-ASCII case is left
    * unfolded on BOTH engines — `Élysée` vs `élysée` is an EM miss by
    * documented design, not an engine accident.
    */
  private def normSpark(c: String): String =
    s"regexp_replace(regexp_replace(${PortableHash.asciiLower(s"coalesce($c, '')")}, " +
      s"'$punctSpark', ''), '[\\\\t\\\\n\\\\r]', ' ')"

  /** Normalized text, DuckDB dialect (same ASCII fold). */
  private def normDuck(c: String): String =
    s"regexp_replace(regexp_replace(${PortableHash.asciiLower(s"coalesce($c, '')")}, " +
      s"'$punctDuck', '', 'g'), '[\\t\\n\\r]', ' ', 'g')"

  /** The grain's tokens of normalized `c`, Spark. The callers filter
    * empties out, so each grain keeps its cheap form: the plain split on
    * ws, the routed kernel's own empty-dropping walk on cjk-auto.
    */
  private def splitSpark(c: String, grain: ScalarGrain): String =
    grain.sparkTokens(normSpark(c), keepEmpties = !grain.routed)

  /** [[splitSpark]], DuckDB. */
  private def splitDuck(c: String, grain: ScalarGrain): String =
    grain.duckTokens(normDuck(c), keepEmpties = !grain.routed)

  /** SQuAD token array, Spark: grain-routed split, empties and
    * articles dropped.
    */
  private def toksSpark(c: String, grain: ScalarGrain): String =
    s"filter(${splitSpark(c, grain)}, x -> x <> '' AND NOT (x IN $articles))"

  /** SQuAD token array, DuckDB. */
  private def toksDuck(c: String, grain: ScalarGrain): String =
    s"list_filter(${splitDuck(c, grain)}, x -> x <> '' AND NOT (x IN $articles))"

  /** CANONICAL normalized answer string (Spark): the token array
    * re-joined on single spaces — the grouping key majority voting
    * and any answer-keyed dedup share with [[emF1]]'s EM semantics
    * (two answers are the same vote iff they exact-match).
    */
  def canonSpark(c: String, grain: ScalarGrain): String =
    s"array_join(${toksSpark(c, grain)}, ' ')"

  /** [[canonSpark]]'s DuckDB twin — `array_to_string([])` is NULL on
    * DuckDB where Spark joins to `''` (the round-9 BPE-witness
    * class), so the empty case coalesces explicitly.
    */
  def canonDuck(c: String, grain: ScalarGrain): String =
    s"coalesce(array_to_string(${toksDuck(c, grain)}, ' '), '')"

  /** Clipped multiset intersection of two bound token arrays — the
    * declarative HOF walk over the distinct prediction tokens. Kept as
    * the SPEC-PINNED parity baseline of the compiled `graft_clip_count`
    * kernel the operators use since r20 (AnswerScoreSpec pins
    * equality); the HOF form re-scans both arrays per distinct element
    * in interpreted lambda dispatch — the eval_overlap_chargram
    * dominator before the kernel.
    */
  private[graft] def clipSpark(tp: String, tg: String): String =
    s"aggregate(array_distinct($tp), cast(0 AS BIGINT), (acc, w) -> " +
      s"acc + least(size(filter($tp, x -> x = w)), " +
      s"size(filter($tg, x -> x = w))))"

  /** One row per input row: `em_milli` (0/1000 exact match on the
    * normalized token sequences), token counts, clipped match count,
    * precision/recall/F1 in milli, and the `oversized` drop flag
    * (oversized rows keep id + flag and NULL scores, so the drop is
    * auditable instead of silent).
    */
  def emF1(df: DataFrame, id: String, pred: String, gold: String,
           grain: ScalarGrain = Ws, maxTokens: Int = 2000): DataFrame = {
    val body =
      s"named_struct(" +
        s"'np', cast(size(__tp) AS BIGINT), " +
        s"'ng', cast(size(__tg) AS BIGINT), " +
        s"'em', cast(IF(__tp = __tg, 1000, 0) AS BIGINT), " +
        s"'m', graft_clip_count(__tp, __tg))"
    val stats = PortableHash.let1("__tp", toksSpark(pred, grain),
      PortableHash.let1("__tg", toksSpark(gold, grain), body))
    graft.functions.VectorFunctions.attach(df)
      .select(col(id).as("qid"), expr(stats).as("__s"))
      .select(col("qid"),
        expr(s"cast(IF(__s.np > $maxTokens OR __s.ng > $maxTokens, 1, 0) AS BIGINT)")
          .as("oversized"),
        col("__s.np").as("n_pred"), col("__s.ng").as("n_gold"),
        expr(s"IF(__s.np > $maxTokens OR __s.ng > $maxTokens, " +
          "cast(NULL AS BIGINT), __s.em)").as("em_milli"),
        expr(s"IF(__s.np > $maxTokens OR __s.ng > $maxTokens, cast(NULL AS BIGINT), " +
          "__s.m)").as("n_match"),
        expr(s"IF(__s.np > $maxTokens OR __s.ng > $maxTokens, cast(NULL AS BIGINT), " +
          "IF(__s.np = 0 AND __s.ng = 0, 1000, " +
          "IF(__s.np = 0 OR __s.ng = 0, 0, " +
          "cast(__s.m * 1000 div __s.np AS BIGINT))))").as("p_milli"),
        expr(s"IF(__s.np > $maxTokens OR __s.ng > $maxTokens, cast(NULL AS BIGINT), " +
          "IF(__s.np = 0 AND __s.ng = 0, 1000, " +
          "IF(__s.np = 0 OR __s.ng = 0, 0, " +
          "cast(__s.m * 1000 div __s.ng AS BIGINT))))").as("r_milli"),
        expr(s"IF(__s.np > $maxTokens OR __s.ng > $maxTokens, cast(NULL AS BIGINT), " +
          "IF(__s.np = 0 AND __s.ng = 0, 1000, " +
          "IF(__s.np = 0 OR __s.ng = 0, 0, " +
          "cast(2 * __s.m * 1000 div (__s.np + __s.ng) AS BIGINT))))").as("f1_milli"))
  }

  /** DuckDB twin of [[emF1]] — the unnest + per-token count +
    * equi-join formulation (oracle scale only; the Spark side never
    * joins). List equality for EM matches Spark array equality; the
    * LEFT join's NULL clipped count coalesces to 0 (disjoint token
    * sets have no join row).
    */
  def emF1Sql(table: String, id: String, pred: String, gold: String,
              grain: ScalarGrain = Ws, maxTokens: Int = 2000): String =
    s"""WITH base AS (
       |  SELECT $id AS qid, ${toksDuck(pred, grain)} AS tp,
       |    ${toksDuck(gold, grain)} AS tg
       |  FROM $table),
       |pc AS (
       |  SELECT qid, t, count(*) AS c
       |  FROM (SELECT qid, unnest(tp) AS t FROM base) GROUP BY 1, 2),
       |gc AS (
       |  SELECT qid, t, count(*) AS c
       |  FROM (SELECT qid, unnest(tg) AS t FROM base) GROUP BY 1, 2),
       |mm AS (
       |  SELECT pc.qid, sum(least(pc.c, gc.c))::BIGINT AS m
       |  FROM pc JOIN gc ON pc.qid = gc.qid AND pc.t = gc.t
       |  GROUP BY 1)
       |SELECT b.qid,
       |  (CASE WHEN len(b.tp) > $maxTokens OR len(b.tg) > $maxTokens
       |        THEN 1 ELSE 0 END)::BIGINT AS oversized,
       |  len(b.tp)::BIGINT AS n_pred, len(b.tg)::BIGINT AS n_gold,
       |  CASE WHEN len(b.tp) > $maxTokens OR len(b.tg) > $maxTokens
       |       THEN NULL
       |       ELSE (CASE WHEN b.tp = b.tg THEN 1000 ELSE 0 END)::BIGINT
       |  END AS em_milli,
       |  CASE WHEN len(b.tp) > $maxTokens OR len(b.tg) > $maxTokens
       |       THEN NULL ELSE coalesce(mm.m, 0)::BIGINT END AS n_match,
       |  CASE WHEN len(b.tp) > $maxTokens OR len(b.tg) > $maxTokens THEN NULL
       |       WHEN len(b.tp) = 0 AND len(b.tg) = 0 THEN 1000
       |       WHEN len(b.tp) = 0 OR len(b.tg) = 0 THEN 0
       |       ELSE (coalesce(mm.m, 0) * 1000 // len(b.tp))::BIGINT
       |  END AS p_milli,
       |  CASE WHEN len(b.tp) > $maxTokens OR len(b.tg) > $maxTokens THEN NULL
       |       WHEN len(b.tp) = 0 AND len(b.tg) = 0 THEN 1000
       |       WHEN len(b.tp) = 0 OR len(b.tg) = 0 THEN 0
       |       ELSE (coalesce(mm.m, 0) * 1000 // len(b.tg))::BIGINT
       |  END AS r_milli,
       |  CASE WHEN len(b.tp) > $maxTokens OR len(b.tg) > $maxTokens THEN NULL
       |       WHEN len(b.tp) = 0 AND len(b.tg) = 0 THEN 1000
       |       WHEN len(b.tp) = 0 OR len(b.tg) = 0 THEN 0
       |       ELSE (2 * coalesce(mm.m, 0) * 1000 // (len(b.tp) + len(b.tg)))::BIGINT
       |  END AS f1_milli
       |FROM base b LEFT JOIN mm ON b.qid = mm.qid""".stripMargin

  /** MAJORITY-VOTE answer selection (round 20) — maj@k, the
    * self-consistency decoding metric of the public math/reasoning
    * eval recipes (sample k chains, vote on the final answer, score
    * the MODAL answer against gold): per prompt, the modal
    * canonicalized answer, its vote count and share, and whether it
    * matches the canonicalized gold — the third leg of the harness
    * next to greedy EM ([[emF1]]) and pass@k
    * ([[PassAtK.passAtK]]).
    *
    * Votes are [[canonSpark]] canonical strings (same normalization
    * as EM, so "The Paris." and "paris" are ONE vote); a NULL answer
    * canonicalizes to `''` and votes — a missing sample IS a wrong
    * answer, the [[emF1]] stance, and if the empty answer wins the
    * vote the prompt scores against gold like any other (an
    * empty-modal prompt with empty gold is correct — EM semantics).
    * Ties break DETERMINISTICALLY to the lexicographically GREATER
    * answer (pure struct max, the [[Sampling.bonSelect]] convention —
    * probed identical on both engines). `gold` is constant per prompt
    * by contract and collapses with min() (the policy-collapse
    * convention).
    *
    * Plan shape: two keyed partial-agged exchanges — (prompt, answer)
    * counts, then the |prompts|-row struct-max vote; the exchange
    * carries canonical ANSWER strings (answers are short by domain —
    * this is an answer-space op, not a corpus-text op). Distributive
    * at both levels (count-sum + struct-max), the complete-mode
    * streaming family.
    */
  def majorityVote(df: DataFrame, prompt: String, answer: String,
                   gold: String, grain: ScalarGrain = Ws): DataFrame = {
    graft.functions.VectorFunctions.attach(df)
      .select(col(prompt).as("prompt_id"),
        expr(canonSpark(answer, grain)).as("__a"),
        expr(canonSpark(gold, grain)).as("__g"))
      .groupBy(col("prompt_id"), col("__a"))
      .agg(count(lit(1)).as("__c"), min(col("__g")).as("__g"))
      .groupBy(col("prompt_id"))
      .agg(sum(col("__c")).as("n_samples"),
        max(struct(col("__c").as("c"), col("__a").as("a"))).as("__top"),
        min(col("__g")).as("__gold"))
      .select(col("prompt_id"), col("n_samples"),
        col("__top.a").as("top_answer"), col("__top.c").as("top_count"),
        expr("cast(__top.c * 1000 div n_samples AS BIGINT)").as("top_milli"),
        expr("cast(IF(__top.a = __gold, 1000, 0) AS BIGINT)")
          .as("correct_milli"))
  }

  /** DuckDB twin of [[majorityVote]] (struct_pack max — probed
    * lexicographic with the VARCHAR tie field, same tie-break).
    */
  def majorityVoteSql(table: String, prompt: String, answer: String,
                      gold: String, grain: ScalarGrain = Ws): String =
    s"""WITH cnt AS (
       |  SELECT prompt_id, a, count(*) AS c, min(g) AS g
       |  FROM (SELECT $prompt AS prompt_id,
       |          ${canonDuck(answer, grain)} AS a,
       |          ${canonDuck(gold, grain)} AS g
       |        FROM $table)
       |  GROUP BY 1, 2)
       |SELECT prompt_id, sum(c)::BIGINT AS n_samples,
       |  (max(struct_pack(c := c, a := a))).a AS top_answer,
       |  (max(struct_pack(c := c, a := a))).c::BIGINT AS top_count,
       |  ((max(struct_pack(c := c, a := a))).c * 1000 // sum(c))::BIGINT
       |    AS top_milli,
       |  (CASE WHEN (max(struct_pack(c := c, a := a))).a = min(g)
       |        THEN 1000 ELSE 0 END)::BIGINT AS correct_milli
       |FROM cnt GROUP BY prompt_id""".stripMargin

  /** CHARACTER n-gram overlap (round 20) — the chrF ingredients
    * (Popović 2015, the standard MT/generation metric that survives
    * morphology and tokenizer mismatches word overlap chokes on): per
    * (candidate, reference) row and order n (default the chrF
    * convention's 3 and its ceiling 6), clipped char-n-gram match
    * counts and precision/recall in milli. Whitespace is REMOVED
    * before gramming (the chrF convention — spaces carry no content
    * signal); case is preserved (chrF is case-sensitive by default).
    * No F-beta here — the integer convention: the consumer composes
    * chrF's harmonic mean in float land from these exact counts.
    *
    * Same row-local/zero-exchange class and `maxChars` whole-row drop
    * as [[overlapNgram]] (the clipped walk is
    * O(distinct·(|cand|+|ref|)) per order — bounded by the guard;
    * answers and MT segments are short by domain). Sides shorter than
    * n report 0 grams and guarded-0 millis.
    */
  def charGramOverlap(df: DataFrame, id: String, cand: String, ref: String,
                      ns: Seq[Int] = Seq(3, 6),
                      maxChars: Int = 2000): DataFrame = {
    require(ns.nonEmpty && ns.forall(n => n >= 1 && n <= 12),
      s"ns must be in [1, 12], got $ns")
    def stripped(c: String): String =
      s"regexp_replace(coalesce($c, ''), '[ \\\\t\\\\n\\\\r]', '')"
    def grams(s: String, n: Int): String =
      s"IF(length($s) < $n, array(), " +
        s"transform(sequence(1, length($s) - ${n - 1}), " +
        s"i -> substring($s, cast(i AS INT), $n)))"
    val items = ns.map { n =>
      PortableHash.let1("__cg", grams("__c", n),
        PortableHash.let1("__rg", grams("__r", n),
          s"named_struct('n_order', cast($n AS BIGINT), " +
            s"'nc', cast(size(__cg) AS BIGINT), " +
            s"'ng', cast(size(__rg) AS BIGINT), " +
            s"'m', graft_clip_count(__cg, __rg))"))
    }.mkString("array(", ", ", ")")
    val stats = PortableHash.let1("__c", stripped(cand),
      PortableHash.let1("__r", stripped(ref), items))
    // oversized is derived from the head-order gram counts (len =
    // nc + n − 1 once len ≥ n, and len < n can never exceed maxChars)
    // so the stripped strings are never re-evaluated outside __a
    val over = s"(__a[0].nc + ${ns.head - 1} > $maxChars OR " +
      s"__a[0].ng + ${ns.head - 1} > $maxChars)"
    graft.functions.VectorFunctions.attach(df)
      .select(col(id).as("qid"), expr(stats).as("__a"))
      .select(col("qid"),
        expr(s"cast(IF($over, 1, 0) AS BIGINT)").as("oversized"),
        explode(expr(s"IF($over, array(__a[0]), __a)")).as("r"))
      .select(col("qid"), col("oversized"), col("r.n_order").as("n_order"),
        expr("IF(oversized = 1, cast(NULL AS BIGINT), r.nc)").as("n_cand"),
        expr("IF(oversized = 1, cast(NULL AS BIGINT), r.ng)").as("n_ref"),
        expr("IF(oversized = 1, cast(NULL AS BIGINT), r.m)").as("n_clip"),
        expr("IF(oversized = 1, cast(NULL AS BIGINT), " +
          "IF(r.nc = 0, 0, cast(r.m * 1000 div r.nc AS BIGINT)))").as("p_milli"),
        expr("IF(oversized = 1, cast(NULL AS BIGINT), " +
          "IF(r.ng = 0, 0, cast(r.m * 1000 div r.ng AS BIGINT)))").as("r_milli"))
  }

  /** DuckDB twin of [[charGramOverlap]] — the [[overlapNgramSql]]
    * unnest+join shape with substr grams, one branch per order.
    */
  def charGramOverlapSql(table: String, id: String, cand: String,
                         ref: String, ns: Seq[Int] = Seq(3, 6),
                         maxChars: Int = 2000): String = {
    def stripped(c: String): String =
      s"regexp_replace(coalesce($c, ''), '[ \\t\\n\\r]', '', 'g')"
    def grams(s: String, n: Int): String =
      s"CASE WHEN length($s) < $n THEN [] ELSE list_transform(" +
        s"generate_series(1, length($s) - ${n - 1}), " +
        s"i -> substr($s, i, $n)) END"
    val branches = ns.map { n =>
      s"""  SELECT qid, CAST($n AS BIGINT) AS n_order,
         |    len(${grams("c", n)})::BIGINT AS nc,
         |    len(${grams("r", n)})::BIGINT AS ng,
         |    ${grams("c", n)} AS gc, ${grams("r", n)} AS gg
         |  FROM base WHERE NOT oversized""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH base AS (
       |  SELECT $id AS qid, ${stripped(cand)} AS c, ${stripped(ref)} AS r,
       |    (length(${stripped(cand)}) > $maxChars
       |      OR length(${stripped(ref)}) > $maxChars) AS oversized
       |  FROM $table),
       |orders AS (
       |$branches),
       |cc AS (
       |  SELECT qid, n_order, g, count(*) AS c
       |  FROM (SELECT qid, n_order, unnest(gc) AS g FROM orders)
       |  GROUP BY 1, 2, 3),
       |gc2 AS (
       |  SELECT qid, n_order, g, count(*) AS c
       |  FROM (SELECT qid, n_order, unnest(gg) AS g FROM orders)
       |  GROUP BY 1, 2, 3),
       |mm AS (
       |  SELECT cc.qid, cc.n_order, sum(least(cc.c, gc2.c))::BIGINT AS m
       |  FROM cc JOIN gc2 ON cc.qid = gc2.qid AND cc.n_order = gc2.n_order
       |    AND cc.g = gc2.g
       |  GROUP BY 1, 2)
       |SELECT o.qid, 0::BIGINT AS oversized, o.n_order,
       |  o.nc AS n_cand, o.ng AS n_ref,
       |  coalesce(mm.m, 0)::BIGINT AS n_clip,
       |  (CASE WHEN o.nc = 0 THEN 0
       |        ELSE coalesce(mm.m, 0) * 1000 // o.nc END)::BIGINT AS p_milli,
       |  (CASE WHEN o.ng = 0 THEN 0
       |        ELSE coalesce(mm.m, 0) * 1000 // o.ng END)::BIGINT AS r_milli
       |FROM orders o LEFT JOIN mm ON o.qid = mm.qid AND o.n_order = mm.n_order
       |UNION ALL
       |SELECT qid, 1::BIGINT AS oversized, ${ns.head}::BIGINT AS n_order,
       |  NULL::BIGINT AS n_cand, NULL::BIGINT AS n_ref,
       |  NULL::BIGINT AS n_clip, NULL::BIGINT AS p_milli,
       |  NULL::BIGINT AS r_milli
       |FROM base WHERE oversized""".stripMargin
  }

  /** NUMERIC answer scoring (round 20) — the GSM8K-style scorer: the
    * LAST number in the generation is the answer (the public
    * math-eval convention — models reason first and state the result
    * last), canonicalized into exact integer MILLI and compared to
    * the gold text's last number within `tolMilli`. This is the
    * companion to [[emF1]] for numeric tasks, where string EM would
    * fail `2.50` vs `2.5` and `1,234` vs `1234`.
    *
    * Extraction: all matches of `-?[0-9][0-9,]*(\.[0-9]+)?` (both
    * regex dialects accept the same language), commas stripped,
    * tokens with more than 15 integer digits REJECTED (they would
    * overflow 64-bit milli; a 16-digit "answer" in a generation is
    * garbage, not a number — the row reports not-found), last
    * survivor wins. Canonicalization: exact DECIMAL(38,12) parse ·
    * 1000, truncated toward zero through the portable floor/ceil
    * CASE (DuckDB's bare ::BIGINT rounds half-even — the round-18
    * ADVICE class; sub-milli precision truncates identically on both
    * engines, documented). `2.50`, `2.5` and `02.5` all land on 2500
    * exactly.
    *
    * Scoring: both sides found and `|pred − gold| ≤ tolMilli` →
    * 1000; a missing number on EITHER side scores 0 with the found
    * flags reporting which (a generation that never states a number
    * IS wrong; a gold that doesn't parse is a fixture bug made
    * visible, not a silent skip).
    *
    * Zero-exchange row-local scan (the [[emF1]] class) — one regex
    * pass per side, no HOF heavier than the token filter.
    */
  def scoreNumeric(df: DataFrame, id: String, pred: String,
                   gold: String, tolMilli: Long = 0L): DataFrame = {
    def lastNum(c: String): String =
      PortableHash.let1("__m",
        s"filter(regexp_extract_all(coalesce($c, ''), " +
          s"'-?[0-9][0-9,]*(\\\\.[0-9]+)?', 0), " +
          "x -> length(replace(split_part(x, '.', 1), ',', '')) - " +
          "IF(x LIKE '-%', 1, 0) <= 15)",
        "IF(size(__m) = 0, CAST(NULL AS STRING), element_at(__m, -1))")
    def milli(tok: String): String =
      PortableHash.truncToZero(
        s"CAST(replace($tok, ',', '') AS DECIMAL(38,12)) * 1000")
    df.select(col(id).as("qid"),
      expr(lastNum(pred)).as("__p"), expr(lastNum(gold)).as("__g"))
      .select(col("qid"),
        expr(s"cast(IF(__p IS NULL, 0, 1) AS BIGINT)").as("pred_found"),
        expr(s"cast(IF(__g IS NULL, 0, 1) AS BIGINT)").as("gold_found"),
        expr(milli("__p")).as("pred_milli"),
        expr(milli("__g")).as("gold_milli"))
      .withColumn("correct_milli",
        expr(s"cast(IF(pred_milli IS NOT NULL AND gold_milli IS NOT NULL " +
          s"AND abs(pred_milli - gold_milli) <= $tolMilli, 1000, 0) AS BIGINT)"))
  }

  /** DuckDB twin of [[scoreNumeric]]. */
  def scoreNumericSql(table: String, id: String, pred: String,
                      gold: String, tolMilli: Long = 0L): String = {
    def lastNum(c: String): String =
      s"""list_filter(regexp_extract_all(coalesce($c, ''),
         |      '-?[0-9][0-9,]*(\\.[0-9]+)?'),
         |    x -> length(replace(split_part(x, '.', 1), ',', ''))
         |      - (CASE WHEN x LIKE '-%' THEN 1 ELSE 0 END) <= 15)[-1]""".stripMargin
    def milli(tok: String): String =
      graft.ops.PortableHash.truncToZero(
        s"CAST(replace($tok, ',', '') AS DECIMAL(38,12)) * 1000")
    s"""SELECT qid,
       |  (CASE WHEN p IS NULL THEN 0 ELSE 1 END)::BIGINT AS pred_found,
       |  (CASE WHEN g IS NULL THEN 0 ELSE 1 END)::BIGINT AS gold_found,
       |  ${milli("p")} AS pred_milli,
       |  ${milli("g")} AS gold_milli,
       |  (CASE WHEN p IS NOT NULL AND g IS NOT NULL
       |        AND abs(${milli("p")} - ${milli("g")}) <= $tolMilli
       |        THEN 1000 ELSE 0 END)::BIGINT AS correct_milli
       |FROM (
       |  SELECT $id AS qid,
       |    ${lastNum(pred)} AS p,
       |    ${lastNum(gold)} AS g
       |  FROM $table)""".stripMargin
  }

  /** Clipped n-gram overlap (round 20) — the ROUGE-N / BLEU-ingredient
    * report: per (candidate, reference) row and order n ∈ {1, 2},
    * candidate/reference n-gram totals, the CLIPPED match count
    * `Σ_g min(cnt_cand(g), cnt_ref(g))` (a candidate that repeats a
    * reference token is credited once per reference occurrence — the
    * distinction between BLEU's modified precision and naive
    * counting), and precision/recall in milli. No geometric mean —
    * the integer convention: the consumer composes BLEU/ROUGE-F in
    * float land from these exact counts.
    *
    * Tokens are the [[emF1]] normalization WITHOUT article removal
    * (overlap metrics score surface tokens; dropping `the` is an
    * answer-scoring convention, not an overlap one). Bigrams join
    * adjacent tokens with a single space — tokens cannot contain a
    * space by construction, so the join is injective. An empty side
    * at order n reports 0 totals and 0/0 guarded milli (no row drops:
    * a zero-gram candidate is a report, not a malformed row).
    * `maxTokens` drops oversized rows whole with the flag, as
    * [[emF1]]. Zero-exchange row-local scan; oracle replays the
    * unnest+join formulation.
    */
  def overlapNgram(df: DataFrame, id: String, cand: String, ref: String,
                   grain: ScalarGrain = Ws, maxTokens: Int = 2000): DataFrame = {
    def toks(c: String) = s"filter(${splitSpark(c, grain)}, x -> x <> '')"
    def grams2(t: String): String =
      s"IF(size($t) < 2, array(), transform(sequence(1, size($t) - 1), " +
        s"i -> concat(element_at($t, i), ' ', element_at($t, i + 1))))"
    def orderStruct(n: Int, tc: String, tg: String): String =
      s"named_struct('n_order', cast($n AS BIGINT), " +
        s"'nc', cast(size($tc) AS BIGINT), " +
        s"'ng', cast(size($tg) AS BIGINT), " +
        s"'m', graft_clip_count($tc, $tg))"
    val body =
      PortableHash.let1("__c2", grams2("__tc"),
        PortableHash.let1("__g2", grams2("__tg"),
          s"array(${orderStruct(1, "__tc", "__tg")}, " +
            s"${orderStruct(2, "__c2", "__g2")})"))
    val stats = PortableHash.let1("__tc", toks(cand),
      PortableHash.let1("__tg", toks(ref), body))
    graft.functions.VectorFunctions.attach(df)
      .select(col(id).as("qid"), expr(stats).as("__a"))
      .select(col("qid"),
        expr(s"cast(IF(__a[0].nc > $maxTokens OR __a[0].ng > $maxTokens, 1, 0) AS BIGINT)")
          .as("oversized"),
        explode(expr(s"IF(__a[0].nc > $maxTokens OR __a[0].ng > $maxTokens, " +
          s"array(__a[0]), __a)")).as("r"))
      .select(col("qid"), col("oversized"), col("r.n_order").as("n_order"),
        expr("IF(oversized = 1, cast(NULL AS BIGINT), r.nc)").as("n_cand"),
        expr("IF(oversized = 1, cast(NULL AS BIGINT), r.ng)").as("n_ref"),
        expr("IF(oversized = 1, cast(NULL AS BIGINT), r.m)").as("n_clip"),
        expr("IF(oversized = 1, cast(NULL AS BIGINT), " +
          "IF(r.nc = 0, 0, cast(r.m * 1000 div r.nc AS BIGINT)))").as("p_milli"),
        expr("IF(oversized = 1, cast(NULL AS BIGINT), " +
          "IF(r.ng = 0, 0, cast(r.m * 1000 div r.ng AS BIGINT)))").as("r_milli"))
  }

  /** DuckDB twin of [[overlapNgram]] — per-order unnest + clipped
    * join, one UNION ALL branch per order over the shared token CTE.
    * Oversized rows emit the single order-1 flag row, as Spark.
    */
  def overlapNgramSql(table: String, id: String, cand: String, ref: String,
                      grain: ScalarGrain = Ws, maxTokens: Int = 2000): String = {
    def toks(c: String) = s"list_filter(${splitDuck(c, grain)}, x -> x <> '')"
    def grams2(t: String): String =
      s"CASE WHEN len($t) < 2 THEN [] ELSE list_transform(" +
        s"generate_series(1, len($t) - 1), i -> $t[i] || ' ' || $t[i + 1]) END"
    def branch(n: Int, tc: String, tg: String): String =
      s"""  SELECT qid, CAST($n AS BIGINT) AS n_order,
         |    len($tc)::BIGINT AS nc, len($tg)::BIGINT AS ng,
         |    $tc AS gc, $tg AS gg
         |  FROM base WHERE NOT oversized""".stripMargin
    s"""WITH base AS (
       |  SELECT $id AS qid, tc, tg,
       |    (len(tc) > $maxTokens OR len(tg) > $maxTokens) AS oversized
       |  FROM (SELECT $id, ${toks(cand)} AS tc, ${toks(ref)} AS tg
       |        FROM $table)),
       |orders AS (
       |${branch(1, "tc", "tg")}
       |UNION ALL
       |${branch(2, grams2("tc"), grams2("tg"))}),
       |cc AS (
       |  SELECT qid, n_order, g, count(*) AS c
       |  FROM (SELECT qid, n_order, unnest(gc) AS g FROM orders)
       |  GROUP BY 1, 2, 3),
       |gc2 AS (
       |  SELECT qid, n_order, g, count(*) AS c
       |  FROM (SELECT qid, n_order, unnest(gg) AS g FROM orders)
       |  GROUP BY 1, 2, 3),
       |mm AS (
       |  SELECT cc.qid, cc.n_order, sum(least(cc.c, gc2.c))::BIGINT AS m
       |  FROM cc JOIN gc2 ON cc.qid = gc2.qid AND cc.n_order = gc2.n_order
       |    AND cc.g = gc2.g
       |  GROUP BY 1, 2)
       |SELECT o.qid, 0::BIGINT AS oversized, o.n_order,
       |  o.nc AS n_cand, o.ng AS n_ref,
       |  coalesce(mm.m, 0)::BIGINT AS n_clip,
       |  (CASE WHEN o.nc = 0 THEN 0
       |        ELSE coalesce(mm.m, 0) * 1000 // o.nc END)::BIGINT AS p_milli,
       |  (CASE WHEN o.ng = 0 THEN 0
       |        ELSE coalesce(mm.m, 0) * 1000 // o.ng END)::BIGINT AS r_milli
       |FROM orders o LEFT JOIN mm ON o.qid = mm.qid AND o.n_order = mm.n_order
       |UNION ALL
       |SELECT qid, 1::BIGINT AS oversized, 1::BIGINT AS n_order,
       |  NULL::BIGINT AS n_cand, NULL::BIGINT AS n_ref,
       |  NULL::BIGINT AS n_clip, NULL::BIGINT AS p_milli,
       |  NULL::BIGINT AS r_milli
       |FROM base WHERE oversized""".stripMargin
  }
}
