package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Preference-pair (RLHF / DPO) data preparation — the reward-model /
  * direct-preference stage of a training-data pipeline: rows arrive as
  * `(prompt, chosen, rejected)` string triples (the interchange shape
  * of public preference datasets), and the pipeline must validate the
  * pair contract, profile margins, and deduplicate before any of it
  * reaches a trainer.
  *
  * All per-pair passes are row-local projections — zero shuffles
  * beyond the scan (the 100 TB shape by construction); the dedup is
  * ONE partial-aggregated exchange keyed on a fixed-width digest, and
  * the report is ONE stratum-grain partial agg. Identity throughout is
  * NORMALIZED content (`graft_normalize`: NFC, lower-case, whitespace
  * collapse, trim — the [[TextAnalysis.normalize]] kernel), because
  * preference corpora are assembled from multiple annotation UIs whose
  * only differences are case/spacing artifacts.
  *
  * Contract (per pair): prompt, chosen and rejected must all be
  * non-empty after normalization, and chosen must differ from rejected
  * (an identical pair carries zero preference signal and a degenerate
  * DPO loss of log(1/2)). `valid` states the contract; NULL fields are
  * treated as empty (coalesce) rather than letting engine-specific
  * null propagation pick divergent answers.
  */
object Preference {

  /** Spark-side normalized form (compiled kernel; NULL → ''). */
  private def norm(c: String): String = s"graft_normalize(coalesce($c, ''))"

  /** DuckDB twin of [[norm]] — same value as `graft_normalize` on any
    * input whose letters are ASCII (the fixtures'), mirrored from
    * [[TextAnalysis.normalizeSql]].
    */
  private def normDuck(c: String): String =
    s"trim(regexp_replace(translate(nfc_normalize(coalesce($c, '')), " +
      "'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), " +
      "'[ \\t\\n\\r\\f]+', ' ', 'g'), ' ')"

  private def tok(c: String): String =
    s"cast(graft_token_count(coalesce($c, '')) AS BIGINT)"

  private def tokDuck(c: String): String =
    s"len(regexp_extract_all(coalesce($c, ''), '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))::BIGINT"

  /** Per-pair validation + margin profile, row-local. One row per
    * input pair: raw char masses, token counts (the compiled
    * `graft_token_count` kernel), `identical` (normalized
    * chosen = rejected — two empties count as identical, consistent
    * with "no preference signal"), `valid` (the full contract), the
    * token margin `chosen - rejected` (signed), and the char-length
    * ratio in integer MILLI units (exact-arithmetic discipline — no
    * float ratios in hashed outputs; rejected clamps to ≥1 char so
    * the ratio is total).
    */
  def pairStats(df: DataFrame, id: String, prompt: String, chosen: String,
                rejected: String, carry: Seq[String] = Nil): DataFrame =
    graft.functions.VectorFunctions.attach(df)
      .select((col(id) +: carry.map(col)) ++ Seq(
        expr(s"cast(length(coalesce($prompt, '')) AS BIGINT)").as("prompt_chars"),
        expr(s"cast(length(coalesce($chosen, '')) AS BIGINT)").as("chosen_chars"),
        expr(s"cast(length(coalesce($rejected, '')) AS BIGINT)").as("rejected_chars"),
        expr(tok(chosen)).as("chosen_tokens"),
        expr(tok(rejected)).as("rejected_tokens"),
        expr(s"${norm(chosen)} = ${norm(rejected)}").as("identical"),
        expr(s"${norm(prompt)} != '' AND ${norm(chosen)} != '' AND " +
          s"${norm(rejected)} != '' AND ${norm(chosen)} != ${norm(rejected)}")
          .as("valid"),
        expr(s"${tok(chosen)} - ${tok(rejected)}").as("margin_tokens"),
        expr(s"cast(length(coalesce($chosen, '')) * 1000 div " +
          s"greatest(length(coalesce($rejected, '')), 1) AS BIGINT)")
          .as("len_ratio_milli")): _*)

  /** DuckDB twin of [[pairStats]]. */
  def pairStatsSql(table: String, id: String, prompt: String, chosen: String,
                   rejected: String, carry: Seq[String] = Nil): String =
    s"""SELECT ${(id +: carry).mkString(", ")},
       |  len(coalesce($prompt, ''))::BIGINT AS prompt_chars,
       |  len(coalesce($chosen, ''))::BIGINT AS chosen_chars,
       |  len(coalesce($rejected, ''))::BIGINT AS rejected_chars,
       |  ${tokDuck(chosen)} AS chosen_tokens,
       |  ${tokDuck(rejected)} AS rejected_tokens,
       |  ${normDuck(chosen)} = ${normDuck(rejected)} AS identical,
       |  (${normDuck(prompt)} <> '' AND ${normDuck(chosen)} <> ''
       |    AND ${normDuck(rejected)} <> ''
       |    AND ${normDuck(chosen)} <> ${normDuck(rejected)}) AS valid,
       |  (${tokDuck(chosen)} - ${tokDuck(rejected)})::BIGINT AS margin_tokens,
       |  (len(coalesce($chosen, '')) * 1000 //
       |    greatest(len(coalesce($rejected, '')), 1))::BIGINT AS len_ratio_milli
       |FROM $table""".stripMargin

  /** Exact pair dedup on the NORMALIZED triple — [[Dedup.exactDedup]]
    * extended to three fields: group on `md5(norm(prompt) ␟ norm(chosen)
    * ␟ norm(rejected))` (unit-separator joined, so field boundaries
    * can't alias: ('ab','c') never collides with ('a','bc')), keep the
    * min id. One partial-aggregated exchange of fixed-width digest
    * rows; the triple text never crosses the wire.
    */
  def pairDedup(df: DataFrame, id: String,
                prompt: String, chosen: String, rejected: String): DataFrame =
    graft.functions.VectorFunctions.attach(df)
      .groupBy(expr(s"md5(concat(${norm(prompt)}, '\u001f', " +
        s"${norm(chosen)}, '\u001f', ${norm(rejected)}))").as("h"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** DuckDB twin of [[pairDedup]]. */
  def pairDedupSql(table: String, id: String,
                   prompt: String, chosen: String, rejected: String): String =
    s"""SELECT md5(${normDuck(prompt)} || chr(31) || ${normDuck(chosen)}
       |    || chr(31) || ${normDuck(rejected)}) AS h,
       |  min($id) AS keep_id, count(*) AS n_dups
       |FROM $table GROUP BY 1""".stripMargin

  /** Per-stratum preference-corpus report — the report-before-acting
    * companion ([[Sampling.packReport]] convention) over [[pairStats]]:
    * pair counts, the contract-valid fraction in integer MILLI units,
    * identical-pair counts, the signed token-margin mass, and per-side
    * char masses. One keyed partial-agg exchange of stratum-grain rows.
    * The margin stays a SUM (not a milli mean): it is signed, and the
    * repo convention never divides signed values in hashed columns
    * (probed round 18: both engines in fact truncate toward zero, but
    * the sum keeps the rounding question out of the oracle entirely).
    */
  /** Reward-model CALIBRATION report (round 18) — the trust check a
    * preference pipeline runs on a scored pair table before the model's
    * margins gate any data: rows carry the RM's integer-milli scores
    * for the chosen and rejected side, and the report buckets pairs by
    * CONFIDENCE (|margin| in fixed-width milli bins, width
    * `binMilli`, the top bin open) and reports per-bucket accuracy —
    * the fraction where the RM actually prefers the chosen side. A
    * calibrated RM's accuracy rises monotonically with confidence; a
    * flat or inverted profile means the margins are noise and any
    * margin-gated filtering downstream is unfounded.
    *
    * Ties (margin exactly 0) are their own bucket (`bin = -1`): they
    * are evidence of an undecided RM, not half-accuracies — counting
    * them either way would fake the profile (the tie-handling lesson
    * of the judge family).
    *
    * Integer-milli throughout: bin = |margin| div binMilli (capped at
    * `bins - 1`), accuracy = correct·1000 div n — all non-negative.
    * One scan into a |bins|-row partial-agged exchange.
    */
  def rmCalibration(df: DataFrame, scoreChosen: String,
                    scoreRejected: String, binMilli: Int = 500,
                    bins: Int = 8): DataFrame =
    df.select(
      (col(scoreChosen).cast("long") - col(scoreRejected).cast("long"))
        .as("__m"))
      .select(
        expr(s"IF(__m = 0, CAST(-1 AS BIGINT), " +
          s"least(abs(__m) div $binMilli, CAST(${bins - 1} AS BIGINT)))")
          .as("bin"),
        when(col("__m") > 0, 1L).otherwise(0L).as("__ok"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("__ok")).as("__c"))
      .select(col("bin"), col("n_pairs"),
        expr("CAST(__c * 1000 div n_pairs AS BIGINT)").as("accuracy_milli"))

  /** DuckDB twin of [[rmCalibration]]. */
  def rmCalibrationSql(table: String, scoreChosen: String,
                       scoreRejected: String, binMilli: Int = 500,
                       bins: Int = 8): String =
    s"""SELECT bin, count(*) AS n_pairs,
       |  (sum(ok) * 1000 // count(*))::BIGINT AS accuracy_milli
       |FROM (
       |  SELECT CASE WHEN m = 0 THEN -1
       |              ELSE least(abs(m) // $binMilli, ${bins - 1}) END::BIGINT AS bin,
       |    CASE WHEN m > 0 THEN 1 ELSE 0 END AS ok
       |  FROM (SELECT ${graft.ops.PortableHash.truncToZero(s"$scoreChosen")}
       |          - ${graft.ops.PortableHash.truncToZero(s"$scoreRejected")} AS m
       |        FROM $table))
       |GROUP BY bin""".stripMargin

  /** Per-pair DPO IMPLICIT-REWARD margin in milli-nats (round 19) —
    * the quantity the DPO loss actually sigmoids, up to the β scale:
    * `margin = (logπ_c − logπ_ref_c) − (logπ_r − logπ_ref_r)`. With
    * log-probs in integer MILLI-NATS (the [[PolicyOpt.ppoClipStats]]
    * technique) the margin is pure adds/subtracts of BIGINTs — exact
    * on both engines, no division anywhere. β deliberately does NOT
    * multiply in: it is a positive constant that never changes a
    * margin's sign or ordering, and folding it in would force a
    * signed scaled division when the consumer normalizes — the
    * trainer applies β in float land where its loss lives. A positive
    * margin means the policy's implicit reward already prefers the
    * chosen side.
    *
    * Pair grain, zero exchanges — a pure projection over the scored
    * pair table.
    */
  def dpoMargins(df: DataFrame, id: String, lpcNew: String,
                 lpcRef: String, lprNew: String,
                 lprRef: String): DataFrame =
    df.where(col(lpcNew).isNotNull && col(lpcRef).isNotNull &&
        col(lprNew).isNotNull && col(lprRef).isNotNull)
      .select(col(id).as("pair_id"),
      ((col(lpcNew).cast("long") - col(lpcRef).cast("long")) -
        (col(lprNew).cast("long") - col(lprRef).cast("long")))
        .as("margin_milli"))

  /** Margin-BUCKET report over [[dpoMargins]] — the
    * [[rmCalibration]] binning applied to the implicit-reward margin:
    * pairs bucket by |margin| (fixed `binMilli` width, top bin open),
    * exact-zero margins their own `bin = -1` (an undecided policy is
    * evidence, not a half-win — the judge family's tie lesson), and
    * each bucket reports how many pairs the policy already orders
    * correctly (`margin > 0`) in integer milli. A healthy DPO run
    * shows chosen_pref_milli rising with the bucket; a flat profile
    * at 500 means the implicit reward carries no signal. The signed
    * margin MASS stays a sum (never divided, the signed-quantity
    * convention).
    *
    * One scan into a |bins|-row partial-agged exchange — distributive,
    * the complete-mode streaming family (pinned in StreamingOpsSpec).
    */
  def dpoMarginReport(df: DataFrame, id: String, lpcNew: String,
                      lpcRef: String, lprNew: String, lprRef: String,
                      binMilli: Int = 500, bins: Int = 8): DataFrame =
    dpoMargins(df, id, lpcNew, lpcRef, lprNew, lprRef)
      .select(
        expr(s"IF(margin_milli = 0, CAST(-1 AS BIGINT), " +
          s"least(abs(margin_milli) div $binMilli, CAST(${bins - 1} AS BIGINT)))")
          .as("bin"),
        col("margin_milli"),
        when(col("margin_milli") > 0, 1L).otherwise(0L).as("__ok"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("__ok")).as("n_chosen_pref"),
        sum(col("margin_milli")).as("sum_margin_milli"))
      .select(col("bin"), col("n_pairs"), col("n_chosen_pref"),
        expr("CAST(n_chosen_pref * 1000 div n_pairs AS BIGINT)")
          .as("chosen_pref_milli"),
        col("sum_margin_milli"))

  /** DuckDB twin of [[dpoMarginReport]]. */
  def dpoMarginReportSql(table: String, id: String, lpcNew: String,
                         lpcRef: String, lprNew: String, lprRef: String,
                         binMilli: Int = 500, bins: Int = 8): String =
    s"""SELECT bin, count(*) AS n_pairs,
       |  sum(ok)::BIGINT AS n_chosen_pref,
       |  (sum(ok) * 1000 // count(*))::BIGINT AS chosen_pref_milli,
       |  sum(m)::BIGINT AS sum_margin_milli
       |FROM (
       |  SELECT CASE WHEN m = 0 THEN -1
       |              ELSE least(abs(m) // $binMilli, ${bins - 1}) END::BIGINT AS bin,
       |    CASE WHEN m > 0 THEN 1 ELSE 0 END AS ok, m
       |  FROM (SELECT ((${graft.ops.PortableHash.truncToZero(s"$lpcNew")} - ${graft.ops.PortableHash.truncToZero(s"$lpcRef")})
       |          - (${graft.ops.PortableHash.truncToZero(s"$lprNew")} - ${graft.ops.PortableHash.truncToZero(s"$lprRef")})) AS m
       |        FROM $table
       |        WHERE $lpcNew IS NOT NULL AND $lpcRef IS NOT NULL
       |          AND $lprNew IS NOT NULL AND $lprRef IS NOT NULL))
       |GROUP BY bin""".stripMargin

  def report(df: DataFrame, id: String, prompt: String, chosen: String,
             rejected: String, strata: String): DataFrame =
    pairStats(df, id, prompt, chosen, rejected, carry = Seq(strata))
      .groupBy(col(strata))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("valid"), 1L).otherwise(0L)).as("n_valid"),
        expr("cast(sum(IF(valid, 1, 0)) * 1000 div count(*) AS BIGINT)")
          .as("valid_milli"),
        sum(when(col("identical"), 1L).otherwise(0L)).as("n_identical"),
        sum(col("margin_tokens")).as("sum_margin_tokens"),
        sum(col("chosen_chars")).as("chosen_chars"),
        sum(col("rejected_chars")).as("rejected_chars"))

  /** DuckDB twin of [[report]]. */
  def reportSql(table: String, id: String, prompt: String, chosen: String,
                rejected: String, strata: String): String =
    s"""WITH s AS (${pairStatsSql(table, id, prompt, chosen, rejected,
        carry = Seq(strata))})
       |SELECT $strata, count(*) AS n_pairs,
       |  sum(CASE WHEN valid THEN 1 ELSE 0 END)::BIGINT AS n_valid,
       |  (sum(CASE WHEN valid THEN 1 ELSE 0 END) * 1000 // count(*))::BIGINT
       |    AS valid_milli,
       |  sum(CASE WHEN identical THEN 1 ELSE 0 END)::BIGINT AS n_identical,
       |  sum(margin_tokens)::BIGINT AS sum_margin_tokens,
       |  sum(chosen_chars)::BIGINT AS chosen_chars,
       |  sum(rejected_chars)::BIGINT AS rejected_chars
       |FROM s GROUP BY $strata""".stripMargin
}
