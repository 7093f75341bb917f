package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import WordGrain.Ws

/** Corpus DATACARD — the one-call summary table a curation run
  * publishes with a release (the "data card" every corpus paper
  * ships): volume (docs/tokens/chars), exact-duplication rate,
  * language share, quality-gate pass rate, and mean document length,
  * as (metric, value) rows in exact integer arithmetic (ratios as
  * integer milli; an empty corpus yields defined zeros, not a
  * divide-by-zero). Every number is a composition of already-green
  * operator families — the card's value is that it is ONE call with
  * ONE schema a registry can ingest per corpus version.
  *
  * Scale shape: ONE corpus scan. [[TextAnalysis.gopherRules]]' carry
  * hook keeps text in the gate's own projection, the language scores
  * and the compiled token/length/digest projections stack as adjacent
  * Projects that Catalyst collapses, and everything funnels into a
  * single global agg (plus the digest-distinct expand inside it) and
  * a constant `stack`. No joins — which is also what keeps the
  * doc-count semantics identical to the oracle's plain `count(*)`
  * under duplicate or null ids (a doc-keyed join would fan out or
  * drop them).
  */
object Datacard {

  /** On [[WordGrain.Ws]] (default) the card publishes token totals in
    * the chunkers' BPE-ish compiled token grain (`graft_token_count` —
    * whose single-char catch-all class already tokenizes unsegmented
    * scripts per codepoint) and gates quality on the whitespace word
    * grain. [[WordGrain.CjkAuto]] routes BOTH through the
    * script-dominance-routed word grain: the Gopher gate stops
    * rejecting every unsegmented row (the judge of pass-rate), and the
    * published token totals/means are denominated in routed WORDS —
    * one consistent grain across the whole card.
    */
  def datacard(df: DataFrame, id: String, text: String,
               wordGrain: ScalarGrain = Ws): DataFrame = {
    val tok = TextAnalysis.chunkTokCount(text, wordGrain)
    val flagged = TextAnalysis.gopherRules(df, id, text, carry = Seq(text),
      wordGrain = wordGrain)
    val perRow = flagged
      .select(col("keep").cast("long").as("__keep"),
        expr(tok).cast("long").as("__tok"),
        length(col(text)).cast("long").as("__chars"),
        expr(PortableHash.sparkStringHash(text)).as("__h"),
        (expr(TextAnalysis.langPredExpr(text)) === "en").cast("long").as("__en"))
    perRow
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("__tok")), lit(0L)).as("n_tokens"),
        coalesce(sum(col("__chars")), lit(0L)).as("n_chars"),
        countDistinct(col("__h")).as("n_unique_texts"),
        coalesce(sum(col("__en")), lit(0L)).as("n_en"),
        coalesce(sum(col("__keep")), lit(0L)).as("n_pass"))
      .select(expr(
        """stack(8,
          |  'n_docs', n_docs,
          |  'n_tokens', n_tokens,
          |  'n_chars', n_chars,
          |  'n_unique_texts', n_unique_texts,
          |  'dup_milli', IF(n_docs = 0, 0L, 1000 * (n_docs - n_unique_texts) div n_docs),
          |  'lang_en_milli', IF(n_docs = 0, 0L, 1000 * n_en div n_docs),
          |  'gopher_pass_milli', IF(n_docs = 0, 0L, 1000 * n_pass div n_docs),
          |  'mean_tokens_milli', IF(n_docs = 0, 0L, 1000 * n_tokens div n_docs)
          |) AS (metric, value)""".stripMargin))
  }

  /** [[datacard]] with an APPROXIMATE unique-text count — the 100 TB
    * form. The exact card's `countDistinct(digest)` is its one
    * corpus-sized exchange (every distinct digest crosses the wire in
    * the two-phase expand); here the distinct count rides the same
    * parameterized HLL sketch as [[Stats.hllRegisters]] (m = 2^p
    * registers, standard error 1.04/√m), folded INTO the card's single
    * global aggregation as m per-register `max` aggregates — so the
    * whole card is one scan, one partial-agg exchange of O(m) longs,
    * zero joins, strictly cheaper than the exact card it approximates.
    *
    * Estimator discipline (same as [[Stats.hllAccuracy]]): Σ 2^−rho is
    * held as the exact integer Σ 2^((62−p)−rho); the only floating
    * step is the final α·m²·2^s / sum quotient — exactly-representable
    * operands, bit-identical cross-engine — rounded to an integer
    * BEFORE the BIGINT cast (DuckDB's double→BIGINT cast rounds where
    * Spark's truncates; an integral double casts identically). The RAW
    * estimate is published (no linear-counting log — libm is a
    * cross-engine drift risk); `hll_n_zero_registers` rides along so
    * the small-range regime is visible on the card, and `hll_p`
    * documents the error band (±1.04/√m standard error on
    * `n_unique_texts_est`, hence on `dup_milli_est`). The estimate is
    * clamped to n_docs for the dup rate so the published rate stays a
    * rate.
    */
  def datacardApprox(df: DataFrame, id: String, text: String,
                     p: Int = Stats.HllP): DataFrame = {
    // the folded shape materializes 2^p aggregate columns plus
    // 2^p-term sum/zero expressions: plan/codegen width, not data,
    // bounds p here (p=10 is a 1024-column agg and ±3.2% standard
    // error; [[Stats.hllRegisters]]' grouped-register shape carries
    // the higher precisions without widening the plan)
    require(p <= 10,
      s"datacardApprox folds 2^p agg columns into one projection; p=$p would " +
        s"blow up plan width — use p <= 10 or Stats.hllRegisters for higher precision")
    val (m, w1) = Stats.hllShape(p)
    val s = 62 - p
    val numer = Stats.hllAlphaMilli(p) * m * m
    val pow2s = 1L << s
    val flagged = TextAnalysis.gopherRules(df, id, text, carry = Seq(text))
    val perRow = flagged
      .select(col("keep").cast("long").as("__keep"),
        expr(s"graft_token_count($text)").cast("long").as("__tok"),
        length(col(text)).cast("long").as("__chars"),
        expr(PortableHash.sparkStringHash(text)).as("__h"),
        (expr(TextAnalysis.langPredExpr(text)) === "en").cast("long").as("__en"))
      .select(col("__keep"), col("__tok"), col("__chars"), col("__en"),
        (col("__h") % m).as("__reg"),
        expr(s"IF(__h div $m = 0, $w1, $w1 - length(bin(__h div $m)))")
          .cast("int").as("__rho"))
    val regAggs = (0 until m).map(r =>
      coalesce(max(when(col("__reg") === r, col("__rho"))), lit(0))
        .as(s"__r$r"))
    val sumScaled = (0 until m)
      .map(r => s"shiftleft(CAST(1 AS BIGINT), $s - __r$r)").mkString(" + ")
    val zeros = (0 until m)
      .map(r => s"IF(__r$r = 0, 1L, 0L)").mkString(" + ")
    perRow
      .agg(count(lit(1)).as("n_docs"),
        (Seq(coalesce(sum(col("__tok")), lit(0L)).as("n_tokens"),
          coalesce(sum(col("__chars")), lit(0L)).as("n_chars"),
          coalesce(sum(col("__en")), lit(0L)).as("n_en"),
          coalesce(sum(col("__keep")), lit(0L)).as("n_pass")) ++ regAggs): _*)
      .withColumn("__sum", expr(sumScaled))
      .withColumn("__zeros", expr(zeros))
      .withColumn("__est", expr(
        s"IF(n_docs = 0, 0L, CAST(round(CAST($numer AS DOUBLE) * " +
          s"CAST($pow2s AS DOUBLE) / __sum / 1000.0D) AS BIGINT))"))
      .select(expr(
        s"""stack(10,
           |  'n_docs', n_docs,
           |  'n_tokens', n_tokens,
           |  'n_chars', n_chars,
           |  'n_unique_texts_est', __est,
           |  'dup_milli_est', IF(n_docs = 0, 0L, 1000 * (n_docs - least(__est, n_docs)) div n_docs),
           |  'lang_en_milli', IF(n_docs = 0, 0L, 1000 * n_en div n_docs),
           |  'gopher_pass_milli', IF(n_docs = 0, 0L, 1000 * n_pass div n_docs),
           |  'mean_tokens_milli', IF(n_docs = 0, 0L, 1000 * n_tokens div n_docs),
           |  'hll_p', CAST($p AS BIGINT),
           |  'hll_n_zero_registers', __zeros
           |) AS (metric, value)""".stripMargin))
  }

  /** DuckDB twin of [[datacardApprox]] — replays the identical sketch
    * (same registers via [[Stats.hllRegistersSql]], same fixed-point
    * estimator) at the oracle's natural register grain.
    */
  def datacardApproxSql(table: String, id: String, text: String,
                        p: Int = Stats.HllP): String = {
    require(p <= 10, s"datacardApproxSql mirrors the folded 2^p-column shape; p=$p > 10")
    val (m, _) = Stats.hllShape(p)
    val s = 62 - p
    val numer = Stats.hllAlphaMilli(p) * m * m
    val pow2s = 1L << s
    val tok = s"len(regexp_extract_all($text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))"
    def milli(num: String) =
      s"CASE WHEN n_docs = 0 THEN 0 ELSE ($num) // n_docs END"
    s"""WITH m AS (
       |  SELECT count(*)::BIGINT AS n_docs,
       |    coalesce(CAST(sum($tok) AS BIGINT), 0) AS n_tokens,
       |    coalesce(CAST(sum(length($text)) AS BIGINT), 0) AS n_chars
       |  FROM $table),
       |regs AS (
       |${Stats.hllRegistersSql(table, text, p)}),
       |a AS (
       |  SELECT sum(1::BIGINT << ($s - max_rho))::BIGINT AS sum_scaled,
       |    sum(CASE WHEN max_rho = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zeros
       |  FROM regs),
       |e AS (
       |  SELECT CASE WHEN m.n_docs = 0 THEN 0
       |    ELSE CAST(round(${numer}e0 * ${pow2s}e0 / a.sum_scaled / 1000e0) AS BIGINT)
       |    END AS est, a.n_zeros
       |  FROM m, a),
       |l AS (SELECT count(*)::BIGINT AS n_en FROM (
       |${TextAnalysis.langIdSql(table, id, text)}) WHERE lang_pred = 'en'),
       |g AS (SELECT count(*)::BIGINT AS n_pass FROM (
       |${TextAnalysis.gopherRulesSql(table, id, text)}) WHERE keep = 1)
       |SELECT metric, CAST(value AS BIGINT) AS value FROM (
       |  SELECT 'n_docs' AS metric, n_docs AS value FROM m
       |  UNION ALL SELECT 'n_tokens', n_tokens FROM m
       |  UNION ALL SELECT 'n_chars', n_chars FROM m
       |  UNION ALL SELECT 'n_unique_texts_est', est FROM e
       |  UNION ALL SELECT 'dup_milli_est', ${milli("1000 * (n_docs - least(est, n_docs))")} FROM m, e
       |  UNION ALL SELECT 'lang_en_milli', ${milli("1000 * n_en")} FROM m, l
       |  UNION ALL SELECT 'gopher_pass_milli', ${milli("1000 * n_pass")} FROM m, g
       |  UNION ALL SELECT 'mean_tokens_milli', ${milli("1000 * n_tokens")} FROM m
       |  UNION ALL SELECT 'hll_p', $p
       |  UNION ALL SELECT 'hll_n_zero_registers', n_zeros FROM e)""".stripMargin
  }

  /** DuckDB twin of [[datacard]]. */
  def datacardSql(table: String, id: String, text: String,
                  wordGrain: ScalarGrain = Ws): String = {
    val tok = s"len(${TextAnalysis.chunkTokDuck(text, wordGrain)})"
    def milli(num: String) =
      s"CASE WHEN n_docs = 0 THEN 0 ELSE ($num) // n_docs END"
    s"""WITH m AS (
       |  SELECT count(*)::BIGINT AS n_docs,
       |    coalesce(CAST(sum($tok) AS BIGINT), 0) AS n_tokens,
       |    coalesce(CAST(sum(length($text)) AS BIGINT), 0) AS n_chars,
       |    count(DISTINCT ${PortableHash.duckStringHash(text)})::BIGINT AS n_unique_texts
       |  FROM $table),
       |l AS (SELECT count(*)::BIGINT AS n_en FROM (
       |${TextAnalysis.langIdSql(table, id, text)}) WHERE lang_pred = 'en'),
       |g AS (SELECT count(*)::BIGINT AS n_pass FROM (
       |${TextAnalysis.gopherRulesSql(table, id, text, wordGrain = wordGrain)}) WHERE keep = 1)
       |SELECT metric, CAST(value AS BIGINT) AS value FROM (
       |  SELECT 'n_docs' AS metric, n_docs AS value FROM m
       |  UNION ALL SELECT 'n_tokens', n_tokens FROM m
       |  UNION ALL SELECT 'n_chars', n_chars FROM m
       |  UNION ALL SELECT 'n_unique_texts', n_unique_texts FROM m
       |  UNION ALL SELECT 'dup_milli', ${milli("1000 * (n_docs - n_unique_texts)")} FROM m
       |  UNION ALL SELECT 'lang_en_milli', ${milli("1000 * n_en")} FROM m, l
       |  UNION ALL SELECT 'gopher_pass_milli', ${milli("1000 * n_pass")} FROM m, g
       |  UNION ALL SELECT 'mean_tokens_milli', ${milli("1000 * n_tokens")} FROM m)""".stripMargin
  }
}
