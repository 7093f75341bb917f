package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import PortableHash._
import WordGrain.{CjkAuto, Ws}

/** Text analysis for training-data pipelines: language ID (marker-word
  * heuristic), quality scoring, token counting, and rolling-hash document
  * fingerprints. All linear scans — zero shuffle — built from codegen'd
  * string/array functions, each with a DuckDB-dialect oracle twin.
  */
object TextAnalysis {

  /** Marker stopwords per language for the n-gram/stopword heuristic.
    * Deterministic scoring: count marker hits per language, argmax with a
    * fixed language-order tie-break.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo")
  )

  private def markerList(ws: Seq[String], dialect: String): String =
    ws.map(w => s"'$w'").mkString(if (dialect == "spark") "array(" else "[", ", ",
      if (dialect == "spark") ")" else "]")

  /** Per-language marker-hit score columns (named `s_<lang>`) — exposed so
    * multi-metric pipelines can compute them in the same single-scan
    * projection as other per-doc features.
    */
  def langScoreCols(text: String): Seq[Column] = langMarkers.map { case (lang, ws) =>
    expr(s"size(array_intersect(array_distinct(split($text, ' ')), ${markerList(ws, "spark")}))")
      .as(s"s_$lang")
  }

  /** Argmax over the `s_<lang>` score columns with fixed language-order
    * tie-break; 'und' when every score is zero.
    */
  def langBestCol: Column = langMarkers.map(_._1).foldRight(lit("und")) { (lang, acc) =>
    when(col(s"s_$lang") > lit(0) &&
      langMarkers.map(_._1).filter(_ < lang).map(l => col(s"s_$lang") > col(s"s_$l"))
        .foldLeft(lit(true))(_ && _) &&
      langMarkers.map(_._1).filter(_ > lang).map(l => col(s"s_$lang") >= col(s"s_$l"))
        .foldLeft(lit(true))(_ && _), lit(lang)).otherwise(acc)
  }

  /** Language prediction as ONE expression over the compiled
    * `graft_lang_scores` kernel (scores bound once via let1 — the
    * argmax references the array, never re-evaluates the scan), with
    * [[langBestCol]]'s exact tie-break. [[langScoreCols]]+
    * [[langBestCol]] stay as the declarative parity baseline
    * (LangKernelSpec pins equality; the oracle replays the declarative
    * construction).
    */
  def langPredExpr(text: String): String = {
    val langs = langMarkers.map(_._1)
    def sc(name: String) = s"__ls[${langs.indexOf(name)}]"
    val body = langs.foldRight("'und'") { (lang, acc) =>
      val conds = Seq(s"${sc(lang)} > 0") ++
        langs.filter(_ < lang).map(l => s"${sc(lang)} > ${sc(l)}") ++
        langs.filter(_ > lang).map(l => s"${sc(lang)} >= ${sc(l)}")
      s"IF(${conds.mkString(" AND ")}, '$lang', $acc)"
    }
    PortableHash.let1("__ls", s"graft_lang_scores($text)", body)
  }

  /** Language ID: argmax of marker-word hit counts; ties and zero scores
    * fall back to 'und' (undetermined). Compiled path (round 10): one
    * `graft_lang_scores` byte scan instead of five interpreted
    * distinct+intersect walks per row.
    */
  def langId(df: DataFrame, id: String, text: String): DataFrame =
    graft.functions.VectorFunctions.attach(df)
      .select(col(id), expr(langPredExpr(text)).as("lang_pred"))

  def langIdSql(table: String, id: String, text: String): String = {
    val scoreDefs = langMarkers.map { case (lang, ws) =>
      s"len(list_intersect(list_distinct(string_split($text, ' ')), ${markerList(ws, "duck")})) AS s_$lang"
    }.mkString(", ")
    val langs = langMarkers.map(_._1)
    val best = langs.foldRight("'und'") { (lang, acc) =>
      val wins = (langs.filter(_ < lang).map(l => s"s_$lang > s_$l") ++
        langs.filter(_ > lang).map(l => s"s_$lang >= s_$l") :+ s"s_$lang > 0")
        .mkString(" AND ")
      s"CASE WHEN $wins THEN '$lang' ELSE $acc END"
    }
    s"SELECT $id, $best AS lang_pred FROM (SELECT $id, $scoreDefs FROM $table)"
  }

  /** Word count / stopword-ratio / token-count fragments, shared by the
    * single-metric operators and the composed corpus-filter pipeline.
    */
  def nWordsExpr(text: String): String = s"size(split($text, ' '))"
  def stopwordRatioExpr(text: String): String = {
    val stop = markerList(langMarkers.flatMap(_._2).distinct.sorted, "spark")
    s"round(graft_stop_count(split($text, ' '), $stop) / " +
      s"cast(size(split($text, ' ')) AS DOUBLE), 6)"
  }

  /** Declarative HOF twin of the stopword-ratio fragment (parity
    * baseline; the op path uses the compiled `graft_stop_count`).
    */
  def hofStopwordRatioExpr(text: String): String = {
    val stop = markerList(langMarkers.flatMap(_._2).distinct.sorted, "spark")
    s"round(size(filter(split($text, ' '), w -> array_contains($stop, w))) / " +
      s"cast(size(split($text, ' ')) AS DOUBLE), 6)"
  }
  /** DuckDB twin of [[stopwordRatioExpr]] (same marker set and rounding). */
  def duckStopwordRatioExpr(text: String): String = {
    val stop = markerList(langMarkers.flatMap(_._2).distinct.sorted, "duck")
    s"round(len(list_filter(string_split($text, ' '), w -> list_contains($stop, w))) " +
      s"/ (len(string_split($text, ' '))::DOUBLE), 6)"
  }

  def nTokensExpr(text: String): String = s"graft_token_count($text)"

  /** Declarative regex twin of `graft_token_count` (parity baseline). */
  def hofTokensExpr(text: String): String =
    s"size(regexp_extract_all($text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0))"

  /** Quality score: word count, mean word length, stopword ratio,
    * alphabetic-character ratio — the length/punct/stopword heuristics of
    * a pretraining quality filter, rounded for cross-engine stability.
    */
  def qualityScore(df: DataFrame, id: String, text: String): DataFrame = {
    val stop = markerList(langMarkers.flatMap(_._2).distinct.sorted, "spark")
    graft.functions.VectorFunctions.attach(df).select(
      col(id),
      expr(s"size(split($text, ' '))").as("n_words"),
      round(expr(s"length(replace($text, ' ', ''))") /
        expr(s"size(split($text, ' '))"), 6).as("mean_word_len"),
      round(expr(s"graft_stop_count(split($text, ' '), $stop)") /
        expr(s"cast(size(split($text, ' ')) AS DOUBLE)"), 6).as("stopword_ratio"),
      // empty text: ANSI Spark raises DIVIDE_BY_ZERO where DuckDB yields
      // NULL — emit NULL explicitly on both engines
      round(expr(s"IF(length($text) = 0, cast(NULL AS DOUBLE), " +
        s"graft_alpha_count($text) / cast(length($text) AS DOUBLE))"), 6)
        .as("alpha_ratio"))
  }

  def qualityScoreSql(table: String, id: String, text: String): String = {
    val stop = markerList(langMarkers.flatMap(_._2).distinct.sorted, "duck")
    s"""SELECT $id,
       |  len(string_split($text, ' ')) AS n_words,
       |  round(length(replace($text, ' ', '')) * 1.0 / len(string_split($text, ' ')), 6) AS mean_word_len,
       |  round(len(list_filter(string_split($text, ' '), w -> list_contains($stop, w)))
       |        / (len(string_split($text, ' '))::DOUBLE), 6) AS stopword_ratio,
       |  round(CASE WHEN length($text) = 0 THEN NULL
       |        ELSE length(regexp_replace($text, '[^a-zA-Z]', '', 'g')) / (length($text)::DOUBLE) END, 6) AS alpha_ratio
       |FROM $table""".stripMargin
  }

  /** Token count under a BPE-ish regex (letter runs, digit runs, other
    * non-space symbols), plus a 4-char-chunk subword count — the standard
    * "tokens ≈ chars/4" estimator.
    */
  def tokenCount(df: DataFrame, id: String, text: String): DataFrame =
    graft.functions.VectorFunctions.attach(df).select(
      col(id),
      expr(nTokensExpr(text)).as("n_tokens"),
      expr(s"cast(ceil(length(replace($text, ' ', '')) / 4.0) AS BIGINT)").as("n_subwords_est"))

  def tokenCountSql(table: String, id: String, text: String): String =
    s"""SELECT $id,
       |  len(regexp_extract_all($text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_tokens,
       |  ceil(length(replace($text, ' ', '')) / 4.0)::BIGINT AS n_subwords_est
       |FROM $table""".stripMargin

  /** Document fingerprint: order-sensitive rolling hash over word hashes
    * (content-defined identity robust to id churn).
    */
  def fingerprint(df: DataFrame, id: String, text: String): DataFrame =
    graft.functions.VectorFunctions.attach(df)
      .select(col(id), expr(s"graft_fingerprint(split($text, ' '))").as("fingerprint"))

  /** Declarative HOF twin of `graft_fingerprint` (parity baseline). */
  def hofFingerprintExpr(text: String): String =
    sparkFoldHashes(sparkHashArrayOf(s"split($text, ' ')"))

  /** WINNOWING fingerprints (public algorithm: Schleimer, Wilkerson,
    * Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 — the MOSS selector): hash every POSITIONAL word
    * k-gram, slide a window of `w` consecutive gram hashes, select each
    * window's minimum — any shared substring of ≥ w+k-1 words between
    * two documents is GUARANTEED to share at least one selected
    * fingerprint, at ~2/(w+1) the density of the full gram set. The
    * partial-copy detection primitive that whole-doc digests
    * ([[fingerprint]]) and bag-of-shingles MinHash both miss.
    *
    * Divergence from the paper, documented: plain per-window min with a
    * set-dedup, not the rightmost-min tie rule (which only tightens
    * worst-case density; selection guarantees are unchanged). Docs with
    * fewer grams than `w` contribute one window over what they have;
    * gram-less docs (< k words) emit zero fingerprints.
    *
    * Zero-shuffle scan: grams, window minima, dedup, and the checksum
    * all row-local. The fingerprint SET is emitted as (count, fold
    * checksum) — scalar columns; the raw set feeds a (fingerprint →
    * doc) inverted index via posexplode when pair-finding is the goal.
    */
  /** Declarative gram-hash twin (parity baseline for
    * `graft_gram_hashes` — VectorFunctionsSpec pins equality).
    */
  def hofGramHashesExpr(text: String, k: Int): String =
    sparkHashArrayOf(s"graft_ngrams(split($text, ' '), $k)")

  /** Declarative winnow-selection twin over a BOUND gram-hash array
    * variable (parity baseline for `graft_winnow`). `gv` must be a
    * let1/lambda variable, NEVER the raw gram-hash expression:
    * `slice(gv, i, w)` sits inside a per-window lambda, and
    * CollapseProject happily substitutes a referenced projection column
    * into it — re-hashing every gram PER WINDOW, O(n²·md5) per doc
    * (observed as a 1M-doc probe that never finished; the let1 binding
    * fixes the declarative form, and the compiled `graft_winnow` the
    * operators use is immune: one opaque O(n) call).
    */
  def hofWinnowBody(gv: String, w: Int): String =
    s"IF(size($gv) = 0, cast(array() AS ARRAY<BIGINT>), " +
      s"array_sort(array_distinct(transform(" +
      s"sequence(1, greatest(size($gv) - ${w - 1}, 1)), " +
      s"i -> array_min(slice($gv, i, $w))))))"

  /** The raw (gram hashes, fingerprint set) pairs behind [[winnow]] —
    * the inverted-index feed (posexplode `fingerprints` → (fp, doc)
    * postings) and the spec surface for the selection guarantee. Both
    * columns are compiled one-pass kernels (monotone-deque window
    * minima for the fingerprints).
    */
  def winnowSets(df: DataFrame, id: String, text: String,
                 k: Int = 3, w: Int = 4,
                 wordGrain: WordGrain = Ws): DataFrame = {
    // cjk-auto: positional grams over ROUTED tokens — an unsegmented
    // doc is one ws token with no k-grams, so ws winnowing selects
    // nothing on it and partial-copy detection is blind to it. Dict
    // grains (round 15) gram the FMM WORD sequence: a k-gram spans k
    // WORDS of context instead of k characters, so the fingerprint
    // guarantee ("any shared run of ≥ w+k-1 tokens is caught") speaks
    // the unit partial-copy detection on zh actually cares about
    val toks = wordGrain.sparkTokens(text, keepEmpties = true)
    // r14: the ROLLING gram-hash feed (graft_gram_rhashes/_winnow_r) —
    // token hashes are an integer codepoint fold computed once per
    // token, grams a k-term arithmetic fold; no gram-string build, no
    // md5 (the dedup_containment_cjk dominator — ~6× codepoint-gram
    // mass through md5). Fingerprints never leave this op, so the
    // hash needs no cross-table identity (backoff keeps md5-H, which
    // keys its broadcast reference tables).
    graft.functions.VectorFunctions.attach(df)
      .select(col(id),
        expr(s"graft_gram_rhashes($toks, $k)").as("gram_hashes"),
        expr(s"graft_winnow_r($toks, $k, $w)").as("fingerprints"))
  }

  def winnow(df: DataFrame, id: String, text: String,
             k: Int = 3, w: Int = 4): DataFrame =
    graft.functions.VectorFunctions.attach(df)
      .select(col(id),
        expr(s"greatest(size(split($text, ' ')) - ${k - 1}, 0)").as("n_grams"),
        expr(let1("__fp", s"graft_winnow_r(split($text, ' '), $k, $w)",
          s"named_struct('n', size(__fp), 'c', ${sparkFoldHashes("__fp")})"))
          .as("__nf"))
      .select(col(id), col("n_grams"),
        col("__nf.n").as("n_fingerprints"),
        col("__nf.c").as("fp_checksum"))

  /** Partial-copy candidate PAIRS over the winnowing fingerprints: the
    * inverted-index shape — posexplode each doc's fingerprint set into
    * (fp, doc) postings, join postings on fp, count shared fingerprints
    * per pair, keep pairs sharing ≥ `minShared`. Two docs containing any
    * common run of ≥ w+k-1 words are guaranteed candidates (the
    * [[winnow]] selection guarantee); ranking by `n_shared` orders by
    * extent of copying.
    *
    * Scale shape: the join keys on the FINGERPRINT (the exchange carries
    * (fp, doc_id) longs, never text), so cost is Θ(Σ posting-list²) —
    * bounded the same way LSH bucket joins are: winnowing keeps ~2/(w+1)
    * of grams, and a fingerprint shared by half the corpus is a
    * boilerplate artifact to dedup BEFORE pair-finding (the
    * `maxPostings` guard drops such degenerate lists, exactly like the
    * frequent-line threshold in dedup_lines).
    *
    * 1M-doc probe (`tools/ProbeWinnow`, 200×-replicated corpus — every
    * doc in a 200-copy clique): selector 33s; pairs 696s emitting 99.5M
    * pairs — the time is the LEGITIMATE Θ(Σ clique²) output, not waste.
    * Order of operations at scale: exact/MinHash KEEPER dedup first
    * (linear), THEN winnow pairs on the deduped corpus for
    * partial-overlap analytics.
    */
  def winnowPairs(df: DataFrame, id: String, text: String,
                  k: Int = 3, w: Int = 4, minShared: Int = 2,
                  maxPostings: Int = 1000,
                  wordGrain: WordGrain = Ws): DataFrame =
    winnowPairsFull(df, id, text, k, w, minShared, maxPostings, wordGrain)
      .select(col("a_id"), col("b_id"), col("n_shared"), col("containment"))

  /** [[winnowPairs]] with the per-side post-guard fingerprint counts
    * still attached — the feed [[containmentDedup]] needs to pick its
    * victims (the contained side is the one with FEWER fingerprints).
    */
  private def winnowPairsFull(df: DataFrame, id: String, text: String,
                              k: Int, w: Int, minShared: Int,
                              maxPostings: Int,
                              wordGrain: WordGrain): DataFrame = {
    val sets = winnowSets(df, id, text, k, w, wordGrain)
      .select(col(id).as("d"), col("fingerprints"))
    val posts = sets.select(col("d"), explode(col("fingerprints")).as("fp"))
    // n_fp is counted AFTER the maxPostings guard so numerator and
    // denominator share one fingerprint universe: a full copy whose set
    // includes a boilerplate fingerprint the guard drops still reaches
    // containment 1.0 (pre-guard counts would silently deflate it). The
    // second window keys on d — one postings-sized exchange of longs.
    //
    // The guarded postings are LEASED on KERNEL grains (r20
    // optimization): the frame is consumed twice by the self-join
    // below, and without the lease EACH reference recomputes the
    // fingerprint scan and both windows — AQE's broadcast conversion of
    // one join side defeats ReusedExchange (the two sides are different
    // exchange node types, so runtime stage dedup never fires).
    // Measured at sf0.1 (ProbeR20Opt, median of 5 interleaved reps):
    // 6.0s shipped vs 3.3s leased on the cjk-dict leg; forcing a
    // shuffle-hash self-join instead (exchange-reuse shape) only
    // reached 5.0s. The lease also keeps the self-join PARALLEL: a
    // no-lease variant of containmentDedup (with its victim set planned
    // once) starts fewer jobs at 200 docs, but at sf0.1 AQE coalesced
    // the self-join stage to a single task and the _cjk, _cjkdict and
    // _thaidict rows went from ~2.7s to ~5.5s exec wall at equal task
    // CPU. On the WS grain the trade INVERTS (ProbeR20Ws, 6
    // interleaved reps: ~1.7s unleased vs ~2.4s leased — a space-split
    // recompute is cheaper than the cache serialization), so the lease
    // is conditional on the tokenize being a kernel (cjk-auto / dict).
    // Scale shape: the lease follows the [[Dedup.hammingKeepers]]
    // precedent — a NARROW corpus-grain digest frame (three longs per
    // posting, text never cached), maxPostings-guarded, spilling to disk
    // at MEMORY_AND_DISK; its recompute chain is two exchanges + the
    // kernel fingerprint scan, which is exactly the "more expensive than
    // the memory pressure" case, not a cheap columnar re-scan.
    // Cached-bytes bound at the 100 TB reference point: postings ≈
    // one fingerprint per w-word window survivor ≈ n_words/w rows of
    // (d, fp, n_fp) = 3 longs ≈ 24 B; a 100 TB / ~15T-word corpus at
    // w=25 caches ≤ ~15 TB cluster-wide (MEMORY_AND_DISK spill, a few
    // GB per executor on a 1000-node fleet) — heavy but bounded, and
    // strictly smaller than the recompute it replaces; maxPostings
    // bounds any one fingerprint's hot partition, not the total.
    // NOTE for new grains: the ws inversion means a new grain must
    // choose its branch here by probe, not default into the lease (the
    // match is exhaustive, so the compiler asks).
    val boundedRaw = posts.withColumn("cnt",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .where(col("cnt") <= maxPostings).drop("cnt")
      .withColumn("n_fp",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("d"))))
    val bounded = wordGrain match {
      case Ws => boundedRaw
      case CjkAuto | _: DictGrain => Caches.lease(boundedRaw)
    }
    // containment = shared / min(|A|, |B|): 1.0 when one doc's selected
    // fingerprints all appear in the other — the asymmetric-copy signal
    // (a quote inside a long doc) that symmetric Jaccard-style ratios
    // dilute. n_fp rides the postings, so no join back to the sets
    bounded.select(col("d").as("a_id"), col("n_fp").as("n_a"), col("fp"))
      .join(bounded.select(col("d").as("b_id"), col("n_fp").as("n_b"), col("fp")),
        Seq("fp"))
      .where(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared"),
        max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"))
      .where(col("n_shared") >= minShared)
      .select(col("a_id"), col("b_id"), col("n_shared"), col("n_a"), col("n_b"),
        round(col("n_shared").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"), 6).as("containment"))
  }

  /** The ACTING twin of [[winnowPairs]] (the report→action pattern of
    * `pipeline_decontaminate_semantic`): for every pair with containment
    * ≥ `threshold`, KEEP the lowest-id side and DROP the other — the
    * same priority rule every keeper op in this engine uses (MinHash
    * keeper points clusters at their min id, SemDeDup keeps
    * lowest-(sim, id)), which makes the decision independent of which
    * side's fingerprint count a boilerplate guard happened to touch; in
    * production the id stands for any priority column (quality score,
    * crawl recency). Emits the surviving doc ids: docs in no
    * over-threshold pair (including fingerprint-less short docs) all
    * survive. Transitive chains resolve like the LSH keeper: a doc
    * dropped for one pair cannot save its own victims (victims are the
    * union of higher-id sides — conservative, one pass).
    *
    * Scale shape: the victim set is derived from the pair frame (same
    * postings-join cost as the report — run AFTER linear keeper dedup,
    * as documented there) and removed with a left_outer join keyed on
    * the id plus a `victim IS NULL` filter; no new shuffle class beyond
    * the pairs themselves.
    */
  def containmentDedup(df: DataFrame, id: String, text: String,
                       k: Int = 3, w: Int = 4, minShared: Int = 2,
                       maxPostings: Int = 1000,
                       threshold: Double = 0.8,
                       wordGrain: WordGrain = Ws): DataFrame = {
    val victims = winnowPairsFull(df, id, text, k, w, minShared, maxPostings,
        wordGrain)
      .where(col("containment") >= threshold)
      .select(col("b_id").as("victim")) // a_id < b_id: b is the higher id
      .distinct()
    // NOT a left_anti join: Catalyst's PushDownLeftSemiAntiJoin pushes a
    // semi/anti join below a Union into every branch, and the whole
    // victim pipeline (postings self-join, pair aggregate, distinct,
    // broadcast) is copied with it — the registry rows feed a
    // docs ∪ planted union, and at 200 docs AQE reused none of the
    // copies (15 jobs per row instead of 9). The rule has no case for
    // outer joins, so the union stays below this join and the victims
    // are planned once. `victims` is distinct, so no row is duplicated;
    // a null id or a fingerprint-less doc finds no victim and survives,
    // exactly as under left_anti.
    df.select(col(id))
      .join(victims, col(id) === col("victim"), "left_outer")
      .where(col("victim").isNull)
      .select(col(id))
  }

  /** DuckDB twin of [[containmentDedup]]. */
  def containmentDedupSql(table: String, id: String, text: String,
                          k: Int = 3, w: Int = 4, minShared: Int = 2,
                          maxPostings: Int = 1000,
                          threshold: Double = 0.8,
                          wordGrain: WordGrain = Ws): String =
    s"""WITH pairs AS (
       |  SELECT b_id, containment FROM (
       |${winnowPairsFullSql(table, id, text, k, w, minShared, maxPostings, wordGrain)}) t),
       |victims AS (
       |  SELECT DISTINCT b_id AS victim FROM pairs
       |  WHERE containment >= $threshold)
       |SELECT $id FROM $table
       |WHERE $id NOT IN (SELECT victim FROM victims)""".stripMargin

  /** DuckDB twin of [[winnowPairs]]. */
  def winnowPairsSql(table: String, id: String, text: String,
                     k: Int = 3, w: Int = 4, minShared: Int = 2,
                     maxPostings: Int = 1000): String =
    s"""SELECT a_id, b_id, n_shared, containment FROM (
       |${winnowPairsFullSql(table, id, text, k, w, minShared, maxPostings, Ws)}) t""".stripMargin

  /** The [[winnowPairsSql]] chain with n_a/n_b kept (twin of
    * [[winnowPairsFull]]).
    */
  private def winnowPairsFullSql(table: String, id: String, text: String,
                                 k: Int, w: Int, minShared: Int,
                                 maxPostings: Int,
                                 wordGrain: WordGrain): String = {
    // dict grains read the fmm-token-list derived table (the
    // WordGrain.duckSource contract: it exposes only ($id, __toks), and
    // the postings/agg CTEs reference nothing else — the final
    // full-table SELECT in containmentDedupSql stays on the original).
    // This twin reads the dict list bare where the shingle twins
    // parenthesize it; both forms are pinned in the oracle SQL.
    val (tbl, words) = wordGrain match {
      case d: DictGrain => (d.duckSource(table, id, text)._1, "__toks")
      case s: ScalarGrain => s.duckSource(table, id, text)
    }
    s"""WITH fps AS (
       |  SELECT $id AS d,
       |    CASE WHEN len(gh) = 0 THEN []::BIGINT[]
       |         ELSE list_distinct(list_transform(
       |           generate_series(1, greatest(len(gh) - ${w - 1}, 1)),
       |           i -> list_min(gh[i:i+${w - 1}]))) END AS fp_set
       |  FROM (SELECT $id, ${PortableHash.duckGramRollOf("th", k)} AS gh
       |        FROM (SELECT $id, list_transform($words,
       |          __w -> ${PortableHash.duckTokenRoll("__w")}) AS th FROM $tbl))),
       |posts AS (SELECT d, unnest(fp_set) AS fp FROM fps),
       |bounded AS (
       |  SELECT d, fp, count(*) OVER (PARTITION BY d) AS n_fp FROM (
       |    SELECT d, fp, count(*) OVER (PARTITION BY fp) AS cnt FROM posts)
       |  WHERE cnt <= $maxPostings),
       |agg AS (
       |  SELECT a.d AS a_id, b.d AS b_id, count(*) AS n_shared,
       |         max(a.n_fp) AS n_a, max(b.n_fp) AS n_b
       |  FROM bounded a JOIN bounded b ON a.fp = b.fp AND a.d < b.d
       |  GROUP BY 1, 2 HAVING count(*) >= $minShared)
       |SELECT a_id, b_id, n_shared, n_a, n_b,
       |  round(n_shared::DOUBLE / least(n_a, n_b)::DOUBLE, 6) AS containment
       |FROM agg""".stripMargin
  }

  /** DuckDB twin of [[winnow]] — same positional grams, H, window
    * minima, dedup, and fold checksum.
    */
  def winnowSql(table: String, id: String, text: String,
                k: Int = 3, w: Int = 4): String = {
    val words = s"string_split($text, ' ')"
    s"""SELECT $id, len(gh)::INT AS n_grams, len(fp)::INT AS n_fingerprints,
       |       ${duckFoldHashes("fp")} AS fp_checksum
       |FROM (
       |  SELECT $id, gh,
       |    CASE WHEN len(gh) = 0 THEN []::BIGINT[]
       |         ELSE list_sort(list_distinct(list_transform(
       |           generate_series(1, greatest(len(gh) - ${w - 1}, 1)),
       |           i -> list_min(gh[i:i+${w - 1}])))) END AS fp
       |  FROM (SELECT $id, ${PortableHash.duckGramRollOf("th", k)} AS gh
       |        FROM (SELECT $id, list_transform($words,
       |          __w -> ${PortableHash.duckTokenRoll("__w")}) AS th FROM $table)))""".stripMargin
  }

  def fingerprintSql(table: String, id: String, text: String): String = {
    val wordHashes = duckHashArrayOf(s"string_split($text, ' ')")
    s"SELECT $id, ${duckFoldHashes(wordHashes)} AS fingerprint FROM $table"
  }

  /** Per-document repetition signals (Gopher-style quality filters —
    * repetitious documents are low-value pretraining data and the
    * strongest cheap predictor of boilerplate/spam):
    *
    *  - `dup_word_frac`: 1 − distinct words / total words — computed in
    *    the scan projection (array_distinct over the split words; zero
    *    shuffle for this signal).
    *  - `top_bigram_frac`: occurrences of the document's most frequent
    *    word bigram / total bigrams — the distributed formulation:
    *    explode bigrams → count per (doc, bigram) with map-side partial
    *    aggregation → per-doc max/total. Two keyed exchanges, both
    *    carrying one row per DISTINCT (doc, bigram) after partial
    *    combine; never a per-doc in-memory frequency map, so a single
    *    pathological 10 GB document cannot OOM an executor (the HOF
    *    "build a map per row" alternative would).
    *
    * Documents with fewer than 2 words have no bigrams and are excluded
    * (identically on both engines).
    */
  def repetitionSignals(df: DataFrame, id: String, text: String,
                        wordGrain: ScalarGrain = Ws): DataFrame = {
    // the OOM-safe exploded variant takes the grain too — large looped
    // zh spam is exactly the shape this path exists for
    val w = wordGrain.sparkTokens(text, keepEmpties = true)
    val base = graft.functions.VectorFunctions.attach(df)
      .select(col(id), expr(w).as("__w"))
      .where(expr("size(__w) >= 2"))
      .select(col(id),
        round(lit(1.0) - expr("cast(size(array_distinct(__w)) AS DOUBLE)") /
          expr("cast(size(__w) AS DOUBLE)"), 6).as("dup_word_frac"),
        explode(expr("graft_ngrams(__w, 2)")).as("gram"))
    base.groupBy(col(id), col("gram"))
      .agg(count(lit(1)).as("c"), max(col("dup_word_frac")).as("dwf"))
      .groupBy(col(id))
      .agg(max(col("dwf")).as("dup_word_frac"),
        round(expr("cast(max(c) AS DOUBLE)") / expr("cast(sum(c) AS DOUBLE)"), 6)
          .as("top_bigram_frac"))
  }

  /** Row-local twin of [[repetitionSignals]] — same two signals, ZERO
    * shuffle: the top-bigram count comes from the compiled single-pass
    * `graft_top_ngram_count` (frequency map bounded by the row's own
    * bigram count) inside the scan projection, and total bigrams is just
    * `n_words - 1`. This is the 100 TB default: repetition scoring
    * becomes a pure map over the corpus (measured ~6× faster than the
    * exploded form at 1M docs: 4.4s vs 27s, local[32]). Use [[repetitionSignals]] only when
    * single documents can be pathologically large relative to executor
    * memory — its exploded aggregation never holds a per-doc map.
    * Identical output (OpsSpec pins equality; the oracle runs the same
    * SQL for both).
    */
  /** The FULL Gopher repetition suite at document level — the four
    * signals the word-grain pair above doesn't see: duplicate-LINE and
    * duplicate-PARAGRAPH fractions (boilerplate repeats whole lines;
    * scraped templates repeat whole paragraphs) and the top-3/4-gram
    * fractions (longer-range loops the bigram signal underestimates).
    * All row-local: line/paragraph splits + the compiled
    * `graft_top_ngram_count` over the word array — zero shuffle, the
    * same pure-map scale shape as [[repetitionSignalsLocal]].
    * Rows need ≥ 4 words (the 4-gram denominator) and ≥ 1 non-empty
    * line; fractions round(…, 6) for cross-engine bit equality.
    */
  def repetitionSignalsDoc(df: DataFrame, id: String, text: String): DataFrame =
    graft.functions.VectorFunctions.attach(df)
      .select(col(id),
        expr(s"split($text, ' ')").as("__w"),
        expr(s"filter(split($text, '\\n'), x -> x <> '')").as("__l"),
        expr(s"filter(split($text, '\\n\\n'), x -> x <> '')").as("__p"))
      .where(expr("size(__w) >= 4 AND size(__l) >= 1"))
      .select(col(id),
        round(lit(1.0) - expr("cast(size(array_distinct(__l)) AS DOUBLE)") /
          expr("cast(size(__l) AS DOUBLE)"), 6).as("dup_line_frac"),
        round(lit(1.0) - expr("cast(size(array_distinct(__p)) AS DOUBLE)") /
          expr("cast(size(__p) AS DOUBLE)"), 6).as("dup_para_frac"),
        round(expr("cast(graft_top_ngram_count(__w, 3) AS DOUBLE)") /
          expr("cast(size(__w) - 2 AS DOUBLE)"), 6).as("top_trigram_frac"),
        round(expr("cast(graft_top_ngram_count(__w, 4) AS DOUBLE)") /
          expr("cast(size(__w) - 3 AS DOUBLE)"), 6).as("top_quadgram_frac"))

  /** DuckDB twin of [[repetitionSignalsDoc]] (the oracle computes the
    * top-n-gram maxima by explode+agg — free on its side).
    */
  def repetitionSignalsDocSql(table: String, id: String, text: String): String = {
    val w = s"string_split($text, ' ')"
    def topN(n: Int): String = {
      val gram = (0 until n).map(k => s"(ws)[i + $k]").mkString(" || ' ' || ")
      s"""SELECT $id, max(c) AS t$n FROM (
         |  SELECT $id, gram, count(*) AS c FROM (
         |    SELECT $id, $gram AS gram
         |    FROM (SELECT $id, $w AS ws FROM $table),
         |         UNNEST(generate_series(1, len(ws) - ${n - 1})) AS t(i))
         |  GROUP BY $id, gram) GROUP BY $id"""
    }
    s"""WITH base AS (
       |  SELECT $id,
       |    len($w) AS nw,
       |    list_filter(string_split($text, chr(10)), x -> x <> '') AS ls,
       |    list_filter(string_split($text, chr(10) || chr(10)), x -> x <> '') AS ps
       |  FROM $table),
       |t3 AS (${topN(3).stripMargin}),
       |t4 AS (${topN(4).stripMargin})
       |SELECT b.$id,
       |  round(1.0 - len(list_distinct(ls))::DOUBLE / len(ls)::DOUBLE, 6) AS dup_line_frac,
       |  round(1.0 - len(list_distinct(ps))::DOUBLE / len(ps)::DOUBLE, 6) AS dup_para_frac,
       |  round(t3.t3::DOUBLE / (b.nw - 2)::DOUBLE, 6) AS top_trigram_frac,
       |  round(t4.t4::DOUBLE / (b.nw - 3)::DOUBLE, 6) AS top_quadgram_frac
       |FROM base b JOIN t3 ON b.$id = t3.$id JOIN t4 ON b.$id = t4.$id
       |WHERE b.nw >= 4 AND len(ls) >= 1""".stripMargin
  }

  def repetitionSignalsLocal(df: DataFrame, id: String, text: String,
                             wordGrain: ScalarGrain = Ws): DataFrame = {
    // cjk-auto: repetition signals over ROUTED tokens — the ws grain
    // EXCLUDES unsegmented docs entirely (one token fails the >= 2
    // gate), so looped/template zh spam sails through unscored
    val w = wordGrain.sparkTokens(text, keepEmpties = true)
    graft.functions.VectorFunctions.attach(df)
      .select(col(id), expr(w).as("__w"))
      .where(expr("size(__w) >= 2"))
      .select(col(id),
        round(lit(1.0) - expr("cast(size(array_distinct(__w)) AS DOUBLE)") /
          expr("cast(size(__w) AS DOUBLE)"), 6).as("dup_word_frac"),
        round(expr("cast(graft_top_ngram_count(__w, 2) AS DOUBLE)") /
          expr("cast(size(__w) - 1 AS DOUBLE)"), 6).as("top_bigram_frac"))
  }

  /** DuckDB twin of [[repetitionSignals]] (same split/distinct/bigram
    * arithmetic; unnest-based so the grouping mirrors the exploded plan).
    */
  def repetitionSignalsSql(table: String, id: String, text: String,
                           wordGrain: ScalarGrain = Ws): String = {
    val w = wordGrain.duckList(text, keepEmpties = true)
    s"""WITH d AS (
       |  SELECT $id,
       |    round(1.0 - len(list_distinct($w))::DOUBLE / len($w)::DOUBLE, 6) AS dwf,
       |    list_transform(generate_series(1, len($w) - 1),
       |      i -> ($w)[i] || ' ' || ($w)[i + 1]) AS bis
       |  FROM $table WHERE len($w) >= 2),
       |e AS (SELECT $id, dwf, unnest(bis) AS gram FROM d),
       |g AS (SELECT $id, gram, count(*) AS c, max(dwf) AS dwf
       |      FROM e GROUP BY $id, gram)
       |SELECT $id, max(dwf) AS dup_word_frac,
       |  round(max(c)::DOUBLE / sum(c)::DOUBLE, 6) AS top_bigram_frac
       |FROM g GROUP BY $id""".stripMargin
  }

  /** QUALITY ENSEMBLE gate — the vote real curation runs instead of any
    * single filter (each family has a known blind spot: the classifier
    * misses repetition, Gopher's rules miss topic drift, fertility only
    * sees the tokenizer): four independent zero-shuffle signals —
    * trained-classifier sign, the 7-rule Gopher conjunction, top-bigram
    * repetition, BPE fertility band — each as a 0/1 flag, kept at
    * `minVotes`-of-4. The repetition threshold and fertility band are
    * corpus/tokenizer calibrations (the defaults are THIS corpus's p95
    * repetition and the committed merge table's observed fertility on
    * it) — on any other corpus pass recalibrated values, as with
    * [[gopherRules]]' parameters, or the fertility vote silently
    * degrades to a constant. The whole gate is ONE corpus scan: every signal
    * is a compiled projection, chained through [[gopherRules]]' carry
    * hook; the expensive BPE count is projected once and referenced
    * twice (multiply-referenced non-cheap expressions stay materialized
    * — the CollapseProject rule the minhash path documents).
    */
  def qualityEnsemble(df: DataFrame, id: String, text: String,
                      minVotes: Int = 3,
                      maxTopBigramFrac: Double = 0.09,
                      fertilityBand: (Double, Double) = (1.5, 1.56)): DataFrame = {
    val w = s"split($text, ' ')"
    val (fLo, fHi) = fertilityBand
    gopherRules(df, id, text, carry = Seq(text))
      .select(col(id), col("n_words"), col("keep").as("f_gopher"), col(text))
      .withColumn("__bpe", expr(s"graft_bpe_count($text)"))
      .select(col(id), col("n_words"), col("f_gopher"),
        expr(s"CAST(IF(graft_word_count($text) > 0, " +
          s"graft_classifier_logit_t($w) >= 0, false) AS INT)").as("f_cls"),
        expr(s"CAST(IF(size($w) < 2, true, " +
          s"cast(graft_top_ngram_count($w, 2) AS DOUBLE) / " +
          s"cast(size($w) - 1 AS DOUBLE) <= $maxTopBigramFrac) AS INT)").as("f_rep"),
        expr(s"CAST(IF(__bpe > 0, " +
          s"length($text) / cast(__bpe AS DOUBLE) BETWEEN $fLo AND $fHi, " +
          "false) AS INT)").as("f_fert"))
      .withColumn("votes",
        expr("f_gopher + f_cls + f_rep + f_fert").cast("long"))
      .withColumn("keep", expr(s"CAST(votes >= $minVotes AS INT)"))
  }

  /** DuckDB twin of [[qualityEnsemble]] (the oracle joins the signal
    * families freely — the one-scan discipline binds the engine side).
    */
  def qualityEnsembleSql(table: String, id: String, text: String,
                         minVotes: Int = 3,
                         maxTopBigramFrac: Double = 0.09,
                         fertilityBand: (Double, Double) = (1.5, 1.56)): String = {
    val (fLo, fHi) = fertilityBand
    val ws = s"string_split($text, ' ')"
    val tok = s"list_filter($ws, w -> w <> '')"
    val h = graft.ops.PortableHash.duckStringHash("t")
    val arr = QualityClassifier.Weights.mkString("[", ", ", "]")
    val logit =
      s"""list_reduce(list_prepend(0::BIGINT,
         |      list_transform($tok, t -> (($arr)[(($h % ${QualityClassifier.Dim}) + 1)])::BIGINT)),
         |      (acc, v) -> acc + v)""".stripMargin
    val bis = s"list_transform(generate_series(1, len($ws) - 1), i -> ($ws)[i] || ' ' || ($ws)[i + 1])"
    val bpe = graft.ops.Bpe.duckTokenCountExpr(text)
    s"""WITH g AS (
       |${gopherRulesSql(table, id, text)}),
       |o AS (
       |  SELECT $id,
       |    CASE WHEN len($tok) > 0 AND $logit >= 0 THEN 1 ELSE 0 END AS f_cls,
       |    CASE WHEN len($ws) < 2 THEN 1
       |         WHEN list_max(list_transform(list_distinct($bis),
       |                d -> len(list_filter($bis, x -> x = d))))::DOUBLE /
       |              (len($ws) - 1)::DOUBLE <= $maxTopBigramFrac THEN 1 ELSE 0 END AS f_rep,
       |    CASE WHEN $bpe > 0 AND length($text) / ($bpe)::DOUBLE
       |              BETWEEN $fLo AND $fHi THEN 1 ELSE 0 END AS f_fert
       |  FROM $table)
       |SELECT g.$id, g.n_words, g.keep AS f_gopher, o.f_cls, o.f_rep, o.f_fert,
       |  CAST(g.keep + o.f_cls + o.f_rep + o.f_fert AS BIGINT) AS votes,
       |  CASE WHEN g.keep + o.f_cls + o.f_rep + o.f_fert >= $minVotes
       |       THEN 1 ELSE 0 END AS keep
       |FROM g JOIN o ON g.$id = o.$id""".stripMargin
  }

  /** PII / boilerplate scrubbing: redact emails, URLs, and long digit
    * runs (phone/account numbers) with typed placeholder tokens, and
    * count each redaction — the standard pretraining privacy pass.
    * Pure per-row regexp projection: zero shuffle, pushdown-friendly,
    * trivially linear at 100 TB. Patterns are deliberately RE2-safe (no
    * backreferences or lookaround) so Spark's Java regex and DuckDB's
    * RE2 match identically — the oracle hash-checks the full scrubbed
    * text. Order matters and is fixed: URLs first (an email-ish token
    * inside a URL is part of the URL), then emails, then digit runs.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val urlRe = "https?://[^ ]+"
  val longNumRe = "[0-9]{7,}"

  def scrubPii(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id),
      regexp_replace(
        regexp_replace(
          regexp_replace(col(text), urlRe, "<URL>"),
          emailRe, "<EMAIL>"),
        longNumRe, "<NUM>").as("scrubbed"),
      size(expr(s"regexp_extract_all($text, '${urlRe.replace("\\", "\\\\")}', 0)")).as("n_urls"),
      size(expr(s"regexp_extract_all($text, '${emailRe.replace("\\", "\\\\")}', 0)")).as("n_emails"),
      size(expr(s"regexp_extract_all($text, '$longNumRe', 0)")).as("n_longnums"))

  def scrubPiiSql(table: String, id: String, text: String): String =
    s"""SELECT $id,
       |  regexp_replace(regexp_replace(regexp_replace($text,
       |    '$urlRe', '<URL>', 'g'),
       |    '$emailRe', '<EMAIL>', 'g'),
       |    '$longNumRe', '<NUM>', 'g') AS scrubbed,
       |  len(regexp_extract_all($text, '$urlRe')) AS n_urls,
       |  len(regexp_extract_all($text, '$emailRe')) AS n_emails,
       |  len(regexp_extract_all($text, '$longNumRe')) AS n_longnums
       |FROM $table""".stripMargin

  // ================= CJK-robust word grain =============================

  /** Codepoint ranges of the unsegmented scripts — Han (incl. Ext A),
    * Hiragana, Katakana, Thai — as a regex character-class INTERIOR
    * with LITERAL endpoints: the same bytes mean the same class under
    * Java regex and DuckDB's RE2, where the NAMED script classes do
    * not (`\p{IsHan}` vs `\p{Han}`, against different Unicode
    * versions). Whitespace tokenization silently degrades on these
    * scripts (a zh sentence is one "word"); the standard IR fallback
    * is each such codepoint as its own token.
    */
  private[ops] val cjkRangeInterior: String =
    graft.functions.GopherOps.cjkRanges.grouped(2)
      .map { case Array(a, b) => s"${a.toChar}-${b.toChar}" }.mkString

  /** One unsegmented-script codepoint. */
  val cjkCharClass: String = s"[$cjkRangeInterior]"

  /** A "letter" under the routed grain: ASCII alpha OR an unsegmented-
    * script codepoint — the alpha-word rule's class on CJK-routed rows.
    */
  val cjkAlphaClass: String = s"[A-Za-z$cjkRangeInterior]"

  /** Token alternation: one unsegmented-script codepoint, or a run of
    * non-space non-unsegmented characters (space stays the separator —
    * the engine-wide whitespace convention).
    */
  val cjkTokenPattern: String = s"$cjkCharClass|[^ $cjkRangeInterior]+"

  /** Script-dominance predicate: unsegmented-script codepoints are at
    * least half the non-space characters AND present at all (the
    * presence guard keeps empty/whitespace-only docs on the ws grain,
    * where `split` yields the [''] singleton both engines expect).
    */
  private def cjkDominantSpark(text: String): String = {
    val ncjk = s"(length($text) - length(regexp_replace($text, '$cjkCharClass', '')))"
    s"(2 * $ncjk >= length(replace($text, ' ', '')) AND $ncjk > 0)"
  }
  private[ops] def cjkDominantDuck(text: String): String = {
    val ncjk = s"(length($text) - length(regexp_replace($text, '$cjkCharClass', '', 'g')))"
    s"(2 * $ncjk >= length(replace($text, ' ', '')) AND $ncjk > 0)"
  }

  /** Script-dominance-ROUTED token array (the `cjk-auto` word grain):
    * rows dominated by unsegmented scripts tokenize per
    * [[cjkTokenPattern]], everything else keeps the whitespace grain.
    * `keepEmpties` preserves the Gopher gate's split-with-empties ws
    * convention; BM25's grain drops them. Per-row constant-pattern
    * projection — zero shuffle, streaming-safe.
    *
    * COMPILED (round 13): emits the `graft_routed_tokens` kernel
    * ([[graft.functions.GopherOps.routedTokens]]) — one char scan per
    * row instead of the dominance `regexp_replace` + token
    * `regexp_extract_all` regex-engine passes of
    * [[routedTokensRegex]], which stays as the spec-pinned parity
    * baseline (RoutedGrainSpec) and the shape
    * [[graft.plans.KernelizeTextOps]] rewrites in USER-authored plans.
    * Callers must have the graft functions registered
    * (`VectorFunctions.attach`).
    */
  def routedTokensSpark(text: String, keepEmpties: Boolean): String =
    s"graft_routed_tokens($text, $keepEmpties)"

  /** The DECLARATIVE routed construction — built-in regexps only, no
    * graft kernel: the parity baseline [[routedTokensSpark]]'s kernel
    * is pinned bit-equal to, and the idiom the Kernelize rule matches.
    */
  def routedTokensRegex(text: String, keepEmpties: Boolean): String = {
    val ws = if (keepEmpties) s"split($text, ' ')"
             else s"array_remove(split($text, ' '), '')"
    s"IF(${cjkDominantSpark(text)}, " +
      s"regexp_extract_all($text, '$cjkTokenPattern', 0), $ws)"
  }

  /** DuckDB twin of [[routedTokensSpark]]. */
  def routedTokensDuck(text: String, keepEmpties: Boolean): String = {
    val ws = if (keepEmpties) s"string_split($text, ' ')"
             else s"list_filter(string_split($text, ' '), w -> w <> '')"
    s"CASE WHEN ${cjkDominantDuck(text)} " +
      s"THEN regexp_extract_all($text, '$cjkTokenPattern') ELSE $ws END"
  }

  /** Gopher-style document-level quality rules (Rae et al. 2021, §A1.1 —
    * public paper): word-count bounds, mean-word-length bounds, symbol-
    * to-word ratio ('#' and '...'), fraction of words with an alphabetic
    * character, minimum stop-word hits, and bullet-start / ellipsis-end
    * line ratios. Emits one 0/1 flag per rule plus the conjunction
    * (`keep`) so downstream filters can report per-rule rejection rates,
    * not just a pass/fail. Pure per-row projection: zero shuffle,
    * trivially linear at 100 TB. Ratios are identical IEEE double ops on
    * both engines, so threshold comparisons agree bit-for-bit.
    */
  val gopherStops: Seq[String] = Seq("and", "be", "have", "of", "that", "the", "to", "with")

  def gopherRules(df: DataFrame, id: String, text: String,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1, minAlphaWordRatio: Double = 0.8,
                  minStopHits: Int = 2, maxBulletRatio: Double = 0.9,
                  maxEllipsisRatio: Double = 0.3,
                  carry: Seq[String] = Nil,
                  wordGrain: ScalarGrain = Ws): DataFrame = {
    // COMPILED form (round 10; cjk-auto compiled round 12): the whole
    // rule set — script-dominance routing included — is one
    // `graft_gopher_flags` byte scan ([[graft.functions.GopherOps]],
    // GopherKernelSpec fuzz-pins it bit-equal to [[gopherRulesHof]] —
    // the two splits and five interpreted HOF filter(...) walks were
    // the dominant cost of every composition this gate rides in).
    // Same output schema as the HOF form, `carry` hook included.
    val stop = markerList(gopherStops, "spark")
    val flags = expr(s"graft_gopher_flags($text, $minWords, $maxWords, " +
      s"$minMeanLen, $maxMeanLen, $maxSymbolRatio, $minAlphaWordRatio, " +
      s"$minStopHits, $maxBulletRatio, $maxEllipsisRatio, $stop, '${wordGrain.name}')")
    graft.functions.VectorFunctions.attach(df)
      .select((col(id) +: carry.map(col)) :+ flags.as("__g"): _*)
      .select((col(id) +: carry.map(col)) ++ Seq(
        col("__g")(0).as("n_words"), col("__g")(1).as("r_words"),
        col("__g")(2).as("r_mean_len"), col("__g")(3).as("r_symbol"),
        col("__g")(4).as("r_alpha"), col("__g")(5).as("r_stop"),
        col("__g")(6).as("r_bullet"), col("__g")(7).as("r_ellipsis")): _*)
      .withColumn("keep", expr(
        "CAST(r_words + r_mean_len + r_symbol + r_alpha + r_stop + r_bullet + r_ellipsis = 7 AS INT)"))
  }

  /** Declarative HOF twin of [[gopherRules]] — the parity baseline the
    * kernel is fuzz-pinned against (the DuckDB oracle replays this
    * construction in its dialect).
    */
  def gopherRulesHof(df: DataFrame, id: String, text: String,
                     minWords: Int = 50, maxWords: Int = 100000,
                     minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                     maxSymbolRatio: Double = 0.1, minAlphaWordRatio: Double = 0.8,
                     minStopHits: Int = 2, maxBulletRatio: Double = 0.9,
                     maxEllipsisRatio: Double = 0.3,
                     carry: Seq[String] = Nil,
                     wordGrain: ScalarGrain = Ws): DataFrame = {
    // `carry` passes extra input columns through the projection so fused
    // pipelines can keep text/source in the SAME single scan (Catalyst
    // collapses the adjacent Projects) instead of re-scanning to re-join
    val stop = markerList(gopherStops, "spark")
    // cjk-auto: script-dominated rows tokenize per codepoint (the ws
    // grain returns n_words=1 on unsegmented zh/ja/th text — every
    // word-count bound and ratio below silently degrades); keepEmpties
    // preserves the gate's split-with-empties convention on the ws path.
    // On ROUTED rows the English-calibrated mean-word-length and
    // stop-word rules are exempt (codepoint tokens have mean length ~1
    // and the stop list is English — both would reject every routed row
    // by construction) and the alpha-word class widens to the
    // unsegmented scripts so it still rejects symbol/digit soup.
    val routed = wordGrain.routed
    // the HOF form is the DECLARATIVE parity baseline — it must stay
    // kernel-free, so the routed grain rides the regexp construction
    val w = if (routed) routedTokensRegex(text, keepEmpties = true)
            else s"split($text, ' ')"
    val l = s"split($text, chr(10))"
    val dom = cjkDominantSpark(text)
    val meanExpr = s"CAST(length(replace($text, ' ', '')) / CAST(size($w) AS DOUBLE) " +
      s"BETWEEN $minMeanLen AND $maxMeanLen AS INT)"
    def alphaExpr(cls: String) = s"CAST(size(filter($w, x -> x rlike '$cls')) / " +
      s"CAST(size($w) AS DOUBLE) >= $minAlphaWordRatio AS INT)"
    val stopExpr = s"CAST(graft_stop_count($w, $stop) >= $minStopHits AS INT)"
    graft.functions.VectorFunctions.attach(df).select(
      (col(id) +: carry.map(col)) ++ Seq(
      expr(s"size($w)").as("n_words"),
      expr(s"CAST(size($w) BETWEEN $minWords AND $maxWords AS INT)").as("r_words"),
      expr(if (routed) s"IF($dom, 1, $meanExpr)" else meanExpr).as("r_mean_len"),
      expr(s"CAST((length($text) - length(replace($text, '#', '')) + " +
        s"(length($text) - length(replace($text, '...', ''))) / 3) / " +
        s"CAST(size($w) AS DOUBLE) <= $maxSymbolRatio AS INT)").as("r_symbol"),
      expr(if (routed) s"IF($dom, ${alphaExpr(cjkAlphaClass)}, ${alphaExpr("[A-Za-z]")})"
           else alphaExpr("[A-Za-z]")).as("r_alpha"),
      expr(if (routed) s"IF($dom, 1, $stopExpr)" else stopExpr).as("r_stop"),
      expr(s"CAST(size(filter($l, x -> x LIKE '-%' OR x LIKE '*%')) / " +
        s"CAST(size($l) AS DOUBLE) <= $maxBulletRatio AS INT)").as("r_bullet"),
      expr(s"CAST(size(filter($l, x -> x LIKE '%...')) / " +
        s"CAST(size($l) AS DOUBLE) <= $maxEllipsisRatio AS INT)").as("r_ellipsis")): _*)
      .withColumn("keep", expr(
        "CAST(r_words + r_mean_len + r_symbol + r_alpha + r_stop + r_bullet + r_ellipsis = 7 AS INT)"))
  }

  /** Per-source quality REPORT — the Gopher-gate profile a curation run
    * reads next to [[corpusProfile]]'s size census: per source, doc
    * count, gate pass-rate in milli-units, and integer mean words/doc.
    * One scan (the `carry` hook keeps source in [[gopherRules]]'s own
    * projection — no re-join), one keyed partial agg; all outputs exact
    * integers. The report that tells you WHERE the filter's mass loss
    * lands before you commit to it.
    */
  def qualityReport(df: DataFrame, id: String, text: String,
                    source: String, minWords: Int = 50): DataFrame =
    gopherRules(df, id, text, minWords = minWords, carry = Seq(source))
      .groupBy(col(source))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_pass"),
        sum(col("n_words").cast("long")).as("total_words"))
      .withColumn("pass_rate_milli", expr("(1000 * n_pass) div n_docs"))
      .withColumn("mean_words_milli", expr("(1000 * total_words) div n_docs"))

  /** DuckDB twin of [[qualityReport]] (the oracle may re-join freely —
    * scale discipline binds the engine side only).
    */
  def qualityReportSql(table: String, id: String, text: String,
                       source: String, minWords: Int = 50): String =
    s"""WITH g AS (
       |${gopherRulesSql(table, id, text, minWords = minWords)}),
       |j AS (SELECT t.$source, g.keep, g.n_words
       |      FROM $table t JOIN g ON t.$id = g.$id)
       |SELECT $source, count(*)::BIGINT AS n_docs,
       |  sum(keep)::BIGINT AS n_pass,
       |  sum(n_words)::BIGINT AS total_words,
       |  ((1000 * sum(keep)) // count(*))::BIGINT AS pass_rate_milli,
       |  ((1000 * sum(n_words)) // count(*))::BIGINT AS mean_words_milli
       |FROM j GROUP BY 1""".stripMargin

  def gopherRulesSql(table: String, id: String, text: String,
                     minWords: Int = 50, maxWords: Int = 100000,
                     minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                     maxSymbolRatio: Double = 0.1, minAlphaWordRatio: Double = 0.8,
                     minStopHits: Int = 2, maxBulletRatio: Double = 0.9,
                     maxEllipsisRatio: Double = 0.3,
                     wordGrain: ScalarGrain = Ws): String = {
    val stop = markerList(gopherStops, "duck")
    val routed = wordGrain.routed
    val w = wordGrain.duckTokens(text, keepEmpties = true)
    val l = s"string_split($text, chr(10))"
    val dom = cjkDominantDuck(text)
    val meanExpr = s"""(length(replace($text, ' ', '')) / (len($w)::DOUBLE)
       |      BETWEEN $minMeanLen AND $maxMeanLen)::INT""".stripMargin
    def alphaExpr(cls: String) = s"""(len(list_filter($w, x -> regexp_matches(x, '$cls'))) /
       |      (len($w)::DOUBLE) >= $minAlphaWordRatio)::INT""".stripMargin
    val stopExpr = s"(len(list_filter($w, x -> list_contains($stop, x))) >= $minStopHits)::INT"
    val rMean = if (routed) s"CASE WHEN $dom THEN 1 ELSE $meanExpr END" else meanExpr
    val rAlpha = if (routed) s"CASE WHEN $dom THEN ${alphaExpr(cjkAlphaClass)} ELSE ${alphaExpr("[A-Za-z]")} END"
                 else alphaExpr("[A-Za-z]")
    val rStop = if (routed) s"CASE WHEN $dom THEN 1 ELSE $stopExpr END" else stopExpr
    s"""SELECT $id, n_words, r_words, r_mean_len, r_symbol, r_alpha, r_stop,
       |  r_bullet, r_ellipsis,
       |  (r_words + r_mean_len + r_symbol + r_alpha + r_stop + r_bullet + r_ellipsis = 7)::INT AS keep
       |FROM (
       |  SELECT $id,
       |    len($w)::INT AS n_words,
       |    (len($w) BETWEEN $minWords AND $maxWords)::INT AS r_words,
       |    $rMean AS r_mean_len,
       |    ((length($text) - length(replace($text, '#', '')) +
       |      (length($text) - length(replace($text, '...', ''))) / 3) /
       |      (len($w)::DOUBLE) <= $maxSymbolRatio)::INT AS r_symbol,
       |    $rAlpha AS r_alpha,
       |    $rStop AS r_stop,
       |    (len(list_filter($l, x -> x LIKE '-%' OR x LIKE '*%')) /
       |      (len($l)::DOUBLE) <= $maxBulletRatio)::INT AS r_bullet,
       |    (len(list_filter($l, x -> x LIKE '%...')) /
       |      (len($l)::DOUBLE) <= $maxEllipsisRatio)::INT AS r_ellipsis
       |  FROM $table)""".stripMargin
  }

  /** Corpus-wide top-k word n-grams by occurrence count (every occurrence
    * counts — no per-doc distinct). Plan: one scan → explode → hash
    * aggregate (map-side partial combine, so the exchange carries one row
    * per distinct n-gram per map partition) → global top-k via
    * TakeOrderedAndProject (no full sort). Deterministic total order:
    * (count DESC, ngram ASC).
    */
  def topNgrams(df: DataFrame, text: String, n: Int = 2, topK: Int = 10): DataFrame =
    graft.functions.VectorFunctions.attach(df)
      .select(explode(expr(s"graft_ngrams(split($text, ' '), $n)")).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram").asc).limit(topK)

  /** Vocabulary builder — the artifact a tokenizer/LM-filter pipeline
    * ships: the top-`topV` words by occurrence count with each word's
    * CUMULATIVE corpus-coverage share (the curve that decides "how big
    * must the vocab be to cover 95% of tokens"). One scan → keyed
    * partial-agg word counts → 1-row total (broadcast) + top-V via
    * TakeOrdered; the cumulative window runs over the V result rows
    * only (never the vocabulary, never the corpus). Deterministic
    * total order: (cnt DESC, token ASC).
    */
  def vocabulary(df: DataFrame, text: String, topV: Int = 100,
                 wordGrain: WordGrain = Ws): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // cjk-dict (round 14): forward-maximum-match segmentation over
    // the committed ZhLexicon on dominance-routed rows — the word
    // grain a zh vocabulary actually wants (the codepoint grain is an
    // IR fallback; FMM returns 我们/中国 whole). Rides the same
    // graft_term_tf kernel, dict mode.
    // round 13: rides the row-local (token, tf) pair kernel — one
    // exploded row per DISTINCT (doc, token), tf-weighted sums replace
    // the per-token count — and takes the routed grain (a ws "vocab"
    // over an unsegmented corpus is a table of whole documents)
    val counts = graft.functions.VectorFunctions.attach(df)
      .select(explode(expr(s"graft_term_tf($text, '${wordGrain.name}')")).as("p"))
      .select(col("p.w").as("token"), col("p.tf").as("tf"))
      .groupBy(col("token")).agg(sum(col("tf")).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("__total"))
    val top = counts.orderBy(col("cnt").desc, col("token").asc).limit(topV)
    // rank/cumsum window input is <= topV rows by construction
    val w = Window.orderBy(col("cnt").desc, col("token").asc)
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w))
      .withColumn("coverage",
        round(sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double") / col("__total"), 6))
      .select(col("rank"), col("token"), col("cnt"), col("coverage"))
  }

  /** DuckDB twin of [[vocabulary]]. */
  def vocabularySql(table: String, text: String, topV: Int = 100,
                    wordGrain: WordGrain = Ws): String = {
    val prelude = wordGrain match {
      case d: DictGrain => s"WITH RECURSIVE ${d.duckTokenRows(table, text)},"
      case g: ScalarGrain =>
        s"""WITH toks AS (
           |  SELECT unnest(${g.duckTokens(text, keepEmpties = false)}) AS token
           |  FROM $table),""".stripMargin
    }
    s"""$prelude
       |counts AS (SELECT token, count(*)::BIGINT AS cnt FROM toks GROUP BY token),
       |tot AS (SELECT sum(cnt)::BIGINT AS total FROM counts),
       |top AS (SELECT token, cnt FROM counts ORDER BY cnt DESC, token ASC LIMIT $topV)
       |SELECT row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank,
       |  token, cnt,
       |  round(sum(cnt) OVER (ORDER BY cnt DESC, token ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE / tot.total, 6) AS coverage
       |FROM top CROSS JOIN tot""".stripMargin
  }

  /** PMI-lift collocation extraction — the association-ranked word-pair
    * table that feeds LEXICON INDUCTION. [[topNgrams]] ranks bigrams by
    * raw count, which is dominated by pairs of individually-common
    * words ("of the"); lift = p(xy) / (p(x)·p(y)) — exp of pointwise
    * mutual information (Church & Hanks 1990, "Word Association Norms,
    * Mutual Information, and Lexicography") — ranks by how much more
    * often the pair co-occurs than its parts predict. On the
    * `cjk-auto` grain over zh this is unsupervised WORD DISCOVERY:
    * character pairs that glue (人工/智能) score high, incidental
    * adjacencies score ≈1 — the corpus-statistics step that PROPOSES
    * candidates for committed dictionaries like [[graft.ops.ZhLexicon]]
    * (the other half of the dict-grain loop: the lexicon segments the
    * corpus, the corpus nominates the lexicon's next band). On a dict
    * grain it surfaces multiword expressions over segmented words.
    *
    * Plan (100 TB shape): one scan per gram order through the fused
    * `graft_gram_tf` pair kernel (distinct-(doc, gram) grain,
    * tf-weighted sums — no per-occurrence explode), keyed partial-agg
    * counts, the `minCount` hapax floor applied BEFORE the joins
    * prunes the bigram table, then two joins against the unigram
    * counts — vocabulary-sized but unbounded, so never broadcast-
    * HINTED: the planner broadcasts when stats fit (it does at test
    * scale) and degrades to keyed joins past the threshold — one
    * 1-row broadcast total, and global top-k via
    * TakeOrderedAndProject. Lift is a double computed in one fixed
    * operation order both engines replay bit-identically:
    * round(c_xy·T / (c_x·c_y), 6) — products stay in double, so no
    * BIGINT overflow at any corpus size. `minCount` also bounds lift
    * above (≤ T/minCount), keeping the hapax-pair pathology (two words
    * seen once, together → lift = T) out of the ranking. Deterministic
    * total order: (lift DESC, w1 ASC, w2 ASC).
    */
  def collocations(df: DataFrame, text: String, topK: Int = 50,
                   minCount: Int = 5, wordGrain: WordGrain = Ws): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val at = graft.functions.VectorFunctions.attach(df)
    val (uniRows, biRows) = wordGrain match {
      case d: DictGrain =>
        // dict grain: grams over the FMM token array. The bigram
        // transform is a HOF — CodegenFallback on that projection —
        // acceptable here: the FMM ladder dominates the row cost, and
        // the ws/cjk-auto mass path below stays kernel-fused.
        val toks = d.sparkTokens(text, keepEmpties = false)
        val bigrams = PortableHash.let1("__w", toks,
          "IF(size(__w) < 2, cast(array() AS ARRAY<STRING>), " +
            "transform(sequence(1, size(__w) - 1), i -> " +
            "concat(element_at(__w, i), ' ', element_at(__w, i + 1))))")
        (at.select(explode(expr(toks)).as("w"), lit(1L).as("tf")),
         at.select(explode(expr(bigrams)).as("g"), lit(1L).as("tf")))
      case g: ScalarGrain =>
        (at.select(explode(expr(s"graft_gram_tf($text, 1, '${g.name}')")).as("p"))
           .select(col("p.w").as("w"), col("p.tf").as("tf")),
         at.select(explode(expr(s"graft_gram_tf($text, 2, '${g.name}')")).as("p"))
           .select(col("p.w").as("g"), col("p.tf").as("tf")))
    }
    // r20 note: uc feeds three consumers, but all three references are
    // IDENTICAL aggregate subtrees over one Exchange(w) — AQE runtime
    // stage reuse already dedups them (probed: leasing uc measured
    // sentinel-corrected FLAT-to-worse, unlike the containment case
    // where a broadcast conversion on one side defeats reuse). Left
    // unleased on the measurement.
    val uc = uniRows.groupBy(col("w")).agg(sum(col("tf")).as("c"))
    val total = uc.agg(coalesce(sum(col("c")), lit(0L)).as("total_uni"))
    val scored = biRows.groupBy(col("g")).agg(sum(col("tf")).as("c_xy"))
      .where(col("c_xy") >= minCount)
      // lexicon words / routed tokens / ws words never contain ' ', so
      // the gram splits back unambiguously
      .select(expr(s"split(g, ' ')[0]").as("w1"),
        expr(s"split(g, ' ')[1]").as("w2"), col("c_xy"))
      .join(uc.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uc.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c_xy").as("n_pair"),
        round(col("c_xy").cast("double") * col("total_uni") /
          (col("c1").cast("double") * col("c2").cast("double")), 6).as("lift"))
    val top = scored.orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
    // rank window input is <= topK rows by construction
    val w = Window.orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
    top.withColumn("rank", row_number().over(w))
      .select(col("rank"), col("w1"), col("w2"), col("n_pair"), col("lift"))
  }

  /** DuckDB twin of [[collocations]]. `id` keys the dict-grain FMM
    * recursion only (ignored on ws/cjk-auto); dict twins carry the
    * same oracle-grade-only cost caveat as [[DictGrain.duckTokenRows]].
    */
  def collocationsSql(table: String, text: String, topK: Int = 50,
                      minCount: Int = 5, wordGrain: WordGrain = Ws,
                      id: String = "doc_id"): String = {
    val tfSrc = wordGrain match {
      case d: DictGrain =>
        // keepEmpties=TRUE relation filtered to the kernel's
        // keepEmpties=false sequence (empties dropped BEFORE adjacency
        // on both engines, so bigrams skip empty positions identically)
        s"(SELECT list_filter(__toks, x -> x <> '') AS ws FROM " +
          s"(${d.duckTokenLists(table, text, id)}) __f)"
      case g: ScalarGrain => s"(SELECT ${duckWordsX(text, g)} AS ws FROM $table)"
    }
    s"""WITH tf AS (SELECT ws FROM $tfSrc __t),
       |uni AS (SELECT unnest(ws) AS w FROM tf),
       |uc AS (SELECT w, count(*)::BIGINT AS c FROM uni GROUP BY w),
       |tot AS (SELECT count(*)::BIGINT AS total_uni FROM uni),
       |bc AS (
       |  SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2,
       |         count(*)::BIGINT AS c_xy
       |  FROM (SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
       |          i -> ws[i] || ' ' || ws[i + 1])) AS g FROM tf)
       |  GROUP BY g HAVING count(*) >= $minCount),
       |top AS (
       |  SELECT w1, w2, c_xy,
       |    round(c_xy::DOUBLE * total_uni / (u1.c::DOUBLE * u2.c::DOUBLE), 6) AS lift
       |  FROM bc JOIN uc u1 ON bc.w1 = u1.w JOIN uc u2 ON bc.w2 = u2.w
       |  CROSS JOIN tot
       |  ORDER BY lift DESC, w1 ASC, w2 ASC LIMIT $topK)
       |SELECT row_number() OVER (ORDER BY lift DESC, w1 ASC, w2 ASC) AS rank,
       |  w1, w2, c_xy AS n_pair, lift
       |FROM top""".stripMargin
  }

  /** Declarative HOF twin of `graft_ngrams` (parity baseline). */
  def hofNgramsExpr(text: String, n: Int): String = {
    val parts = (0 until n).map(j => s"element_at(__w, i + $j)").mkString(", ' ', ")
    PortableHash.let1("__w", s"split($text, ' ')",
      s"IF(size(__w) < $n, cast(array() AS ARRAY<STRING>), " +
        s"transform(sequence(1, size(__w) - ${n - 1}), i -> concat($parts)))")
  }

  def topNgramsSql(table: String, text: String, n: Int = 2, topK: Int = 10): String = {
    val w = s"string_split($text, ' ')"
    val parts = (0 until n).map(j => s"$w[i + $j]").mkString(" || ' ' || ")
    s"""SELECT ngram, count(*) AS n FROM (
       |  SELECT unnest(list_transform(generate_series(1, len($w) - ${n - 1}), i -> $parts)) AS ngram
       |  FROM $table)
       |GROUP BY ngram ORDER BY n DESC, ngram ASC LIMIT $topK""".stripMargin
  }

  /** Composed pretraining corpus filter: language + quality thresholds +
    * exact-dedup keeper, in the 100 TB-correct shape — ALL per-doc
    * features (digest, language scores, word/token counts) come out of
    * ONE scan projection, the text column is dropped before anything
    * shuffles, and the only exchange is the window over the 128-bit
    * digest carrying (digest, id, small features).
    */
  def corpusFilter(df: DataFrame, id: String, text: String,
                   lang: String = "en", minWords: Int = 5,
                   minStopRatio: Double = 0.02): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val feats = graft.functions.VectorFunctions.attach(df).select(
      col(id), md5(col(text)).as("h"),
      expr(nWordsExpr(text)).as("n_words"),
      expr(stopwordRatioExpr(text)).as("stopword_ratio"),
      expr(nTokensExpr(text)).as("n_tokens"),
      expr(langPredExpr(text)).as("lang_pred"))
    feats
      .withColumn("keep_id", min(col(id)).over(Window.partitionBy(col("h"))))
      .where(col(id) === col("keep_id") && col("lang_pred") === lang &&
        col("n_words") >= minWords && col("stopword_ratio") >= minStopRatio)
      .select(col(id), col("n_words"), col("n_tokens"), col("stopword_ratio"))
  }

  /** Streaming variant of [[corpusFilter]] — the ingest-pipeline shape:
    * one stateless projection computes digest + all features, the
    * language/quality gate runs BEFORE the stateful dedup (state holds
    * only keeper candidates, not the raw stream), and dedup is
    * watermark-bounded `dropDuplicatesWithinWatermark` on the digest
    * (first-seen keeper — the arrival-order analog of the batch
    * min-id-per-digest window).
    */
  def corpusFilterStreaming(df: DataFrame, id: String, text: String,
                            eventTime: String, delay: String,
                            lang: String = "en", minWords: Int = 5,
                            minStopRatio: Double = 0.02): DataFrame =
    graft.functions.VectorFunctions.attach(df).select(
        col(id), col(eventTime), md5(col(text)).as("h"),
        expr(nWordsExpr(text)).as("n_words"),
        expr(stopwordRatioExpr(text)).as("stopword_ratio"),
        expr(nTokensExpr(text)).as("n_tokens"),
        expr(langPredExpr(text)).as("lang_pred"))
      .where(col("lang_pred") === lang && col("n_words") >= minWords &&
        col("stopword_ratio") >= minStopRatio)
      .withWatermark(eventTime, delay)
      .dropDuplicatesWithinWatermark("h")
      .select(col(id), col("n_words"), col("n_tokens"), col("stopword_ratio"))

  def corpusFilterSql(table: String, id: String, text: String,
                      lang: String = "en", minWords: Int = 5,
                      minStopRatio: Double = 0.02): String = {
    val stop = markerList(langMarkers.flatMap(_._2).distinct.sorted, "duck")
    s"""SELECT $id, n_words, n_tokens, stopword_ratio FROM (
       |  SELECT $id, n_words, n_tokens, stopword_ratio, lang_pred,
       |    min($id) OVER (PARTITION BY h) AS keep_id
       |  FROM (
       |    SELECT $id, md5($text) AS h,
       |      len(string_split($text, ' ')) AS n_words,
       |      round(len(list_filter(string_split($text, ' '), w -> list_contains($stop, w)))
       |            / (len(string_split($text, ' '))::DOUBLE), 6) AS stopword_ratio,
       |      len(regexp_extract_all($text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_tokens,
       |      ${langIdScores(text)}
       |    FROM $table))
       |WHERE $id = keep_id AND lang_pred = '$lang'
       |  AND n_words >= $minWords AND stopword_ratio >= $minStopRatio""".stripMargin
  }

  /** Unigram corpus-frequency scoring — the LM-quality-filter shape
    * (CCNet scores docs with a KenLM trained on reference text and drops
    * the high-perplexity tail) built from EXACT integer arithmetic so
    * the cross-engine oracle stays bit-deterministic: no per-token log,
    * whose last-ulp differences between libm implementations would break
    * hash equality. Per doc, against a top-`vocab` unigram table trained
    * on a reference corpus:
    *   - `oov_ratio`   = tokens outside the vocabulary / tokens — the
    *     "not reference-like" signal (integer counts, one division);
    *   - `avg_tok_freq` = (Σ cnt(w)) / (n_tokens · total_ref_tokens) —
    *     the mean reference probability of the doc's tokens (integer
    *     sums, ONE double division at the end).
    * Low avg_tok_freq + high oov_ratio ≈ high surprisal: the same tail
    * the LM filter drops, ranked by rational arithmetic.
    *
    * Scale shape: the vocabulary is top-V by (cnt DESC, token ASC) —
    * a TakeOrdered, not a sort — and broadcasts with the 1-row total;
    * the corpus pays one scan exploding to (doc, token) rows that
    * partial-aggregate straight back to doc grain. The reference side
    * is typically a SAMPLE (the op takes any frame).
    */
  def unigramScore(docs: DataFrame, ref: DataFrame, id: String, text: String,
                   vocab: Int = 1000, wordGrain: WordGrain = Ws): DataFrame = {
    // cjk-auto: the vocabulary and the scored tokens both ride the
    // routed grain, so an unsegmented reference corpus yields a real
    // codepoint unigram table instead of whole-document "tokens".
    // dict grains (round 15): the FMM WORD grain — unigram frequency
    // over characters measures character frequency, not word
    // frequency; this is the CCNet-style LM-filter signal the dict
    // grain exists to sharpen (the graft_term_tf kernel routes it).
    // BOTH grains explode the row-local (w, tf) pair kernel
    // (graft_term_tf, round 13) instead of one row per token: the
    // first exchange carries distinct-(doc, term) tf rows and the
    // corpus-sized token hash-aggregate disappears — value-identical
    // (Σ tf per term ≡ the token count) to the exploded construction
    // the DuckDB oracle replays
    val pairs = s"graft_term_tf($text, '${wordGrain.name}')"
    val refTerms = graft.functions.VectorFunctions.attach(ref)
      .select(explode(expr(pairs)).as("p"))
      .select(col("p.w").as("w"), col("p.tf").as("tf"))
    val top = refTerms.groupBy(col("w")).agg(sum(col("tf")).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc).limit(vocab)
    val total = refTerms.agg(coalesce(sum(col("tf")), lit(0L)).as("total_ref"))
    graft.functions.VectorFunctions.attach(docs)
      .select(col(id), explode(expr(pairs)).as("p"))
      .select(col(id), col("p.w").as("w"), col("p.tf").as("tf"))
      .join(broadcast(top), Seq("w"), "left")
      .groupBy(col(id))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(when(col("cnt").isNull, col("tf")).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("cnt"), lit(0L)) * col("tf")).as("sum_cnt"))
      .crossJoin(broadcast(total))
      .select(col(id), col("n_tokens"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_ratio"),
        round(col("sum_cnt").cast("double") /
          (col("n_tokens").cast("double") * col("total_ref")), 6).as("avg_tok_freq"))
  }

  /** BIGRAM corpus-frequency scoring — one order up from
    * [[unigramScore]] (the CCNet/KenLM quality-filter ladder: real
    * pipelines use 5-gram LMs; bigram coverage is the first rung that
    * sees WORD ORDER, so scrambled or machine-glued text scores low
    * even when its unigrams are all common). Same exact-integer
    * discipline: reference bigram counts are integers, the only
    * division is the final rounded ratio, so the cross-engine hash
    * cannot drift.
    *
    * Per doc: `n_bigrams`, `oov_ratio` (bigrams unseen in the top-V
    * reference table), `avg_bigram_freq` (mean reference frequency).
    * Docs with fewer than 2 non-empty words have no bigrams and are
    * excluded — identically on both engines (the [[repetitionSignals]]
    * convention). Scale shape: reference reduces to a broadcast top-V
    * table + one total; the corpus pays one scan and one keyed
    * partial-agg exchange of per-doc rows.
    */
  def bigramScore(docs: DataFrame, ref: DataFrame, id: String, text: String,
                  vocab: Int = 1000, wordGrain: WordGrain = Ws): DataFrame =
    gramScore(docs, ref, id, text, n = 2, vocab, "n_bigrams",
      "avg_bigram_freq", wordGrain)

  /** Shared n-gram scoring body — since round 13 both sides explode
    * the row-local `graft_gram_tf` pair kernel (fused from raw text:
    * the prior `graft_ngrams(filter(split(…)))` form had a HOF child —
    * CodegenFallback, pushing the projection out of whole-stage
    * codegen — and exploded one row per gram occurrence into a
    * corpus-sized hash aggregate; pairs land at distinct-(doc, gram)
    * grain and the aggregates become tf-weighted sums,
    * value-identical to the exploded construction the oracle replays).
    */
  private def gramScore(docs: DataFrame, ref: DataFrame, id: String,
                        text: String, n: Int, vocab: Int,
                        nCol: String, freqCol: String,
                        wordGrain: WordGrain): DataFrame = {
    // dict grains (round 16): the kernel routes to the FMM WORD walk
    // (graft.functions.GopherOps.fmmGramTfPairs) — word n-grams over
    // characters measure character adjacency; over FMM words they
    // carry the word-order signal these LM-ladder rungs exist for
    val pairs = s"graft_gram_tf($text, $n, '${wordGrain.name}')"
    val refGrams = graft.functions.VectorFunctions.attach(ref)
      .select(explode(expr(pairs)).as("p"))
      .select(col("p.w").as("g"), col("p.tf").as("tf"))
    val top = refGrams.groupBy(col("g")).agg(sum(col("tf")).as("cnt"))
      .orderBy(col("cnt").desc, col("g").asc).limit(vocab)
    val total = refGrams.agg(coalesce(sum(col("tf")), lit(0L)).as("total_ref"))
    graft.functions.VectorFunctions.attach(docs)
      .select(col(id), explode(expr(pairs)).as("p"))
      .select(col(id), col("p.w").as("g"), col("p.tf").as("tf"))
      .join(broadcast(top), Seq("g"), "left")
      .groupBy(col(id))
      .agg(sum(col("tf")).as(nCol),
        sum(when(col("cnt").isNull, col("tf")).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("cnt"), lit(0L)) * col("tf")).as("sum_cnt"))
      .crossJoin(broadcast(total))
      .select(col(id), col(nCol),
        round(col("n_oov").cast("double") / col(nCol), 6).as("oov_ratio"),
        round(col("sum_cnt").cast("double") /
          (col(nCol).cast("double") * col("total_ref")), 6).as(freqCol))
  }

  /** TRIGRAM corpus-frequency scoring — the third rung of the
    * [[unigramScore]]/[[bigramScore]] LM-filter ladder (real pipelines
    * run 5-gram KenLMs; each added order sees longer word-order
    * structure, so locally-plausible-but-globally-glued text scores low
    * even when its bigrams are all common). Identical exact-integer
    * discipline and scale shape: reference reduces to a broadcast
    * top-V table + one total, the corpus pays one scan and one keyed
    * partial-agg exchange. Docs under 3 non-empty words have no
    * trigrams and are excluded identically on both engines.
    */
  def trigramScore(docs: DataFrame, ref: DataFrame, id: String, text: String,
                   vocab: Int = 1000, wordGrain: WordGrain = Ws): DataFrame =
    gramScore(docs, ref, id, text, n = 3, vocab, "n_trigrams",
      "avg_trigram_freq", wordGrain)

  /** DuckDB twin of [[trigramScore]]. */
  def trigramScoreSql(table: String, docsPred: String, refPred: String,
                      id: String, text: String, vocab: Int = 1000,
                      wordGrain: WordGrain = Ws): String =
    gramScoreSql(table, docsPred, refPred, id, text, n = 3, vocab,
      "n_trigrams", "avg_trigram_freq", wordGrain)

  /** DuckDB twin of [[bigramScore]]. */
  def bigramScoreSql(table: String, docsPred: String, refPred: String,
                     id: String, text: String, vocab: Int = 1000,
                     wordGrain: WordGrain = Ws): String =
    gramScoreSql(table, docsPred, refPred, id, text, n = 2, vocab,
      "n_bigrams", "avg_bigram_freq", wordGrain)

  /** Shared n-gram-score twin ([[gramScore]]): empties dropped, grams
    * over adjacent token positions, both preds filtering one scan. Dict
    * grains (round 16) read the id-carrying ordered FMM token-LIST
    * relation ([[DictGrain.duckTokenLists]]) once and both preds filter
    * it on the id — same oracle-grade-only cost caveat as
    * [[DictGrain.duckTokenRows]].
    */
  private def gramScoreSql(table: String, docsPred: String, refPred: String,
                           id: String, text: String, n: Int, vocab: Int,
                           nCol: String, freqCol: String,
                           wordGrain: WordGrain): String = {
    val tail =
      s"""top AS (SELECT g, count(*) AS cnt FROM rg GROUP BY g
         |        ORDER BY cnt DESC, g ASC LIMIT $vocab),
         |total AS (SELECT count(*) AS total_ref FROM rg),""".stripMargin
    val agg =
      s"""agg AS (
         |  SELECT d.$id, count(*) AS $nCol,
         |         sum(CASE WHEN t.cnt IS NULL THEN 1 ELSE 0 END) AS n_oov,
         |         sum(coalesce(t.cnt, 0)) AS sum_cnt
         |  FROM dg d LEFT JOIN top t ON d.g = t.g GROUP BY d.$id)
         |SELECT $id, $nCol,
         |  round(n_oov::DOUBLE / $nCol, 6) AS oov_ratio,
         |  round(sum_cnt::DOUBLE / ($nCol::DOUBLE * total_ref), 6) AS $freqCol
         |FROM agg, total""".stripMargin
    wordGrain match {
      case d: DictGrain =>
        val gramExpr = (0 until n).map(j => s"ws[i + $j]").mkString(" || ' ' || ")
        val grams = s"list_transform(generate_series(1, len(ws) - ${n - 1}), i -> $gramExpr)"
        s"""WITH d0 AS (
           |  SELECT $id, list_filter(__toks, x -> x <> '') AS ws
           |  FROM (${d.duckTokenLists(table, text, id)}) __f),
           |rg AS (SELECT unnest($grams) AS g FROM d0 WHERE $refPred),
           |$tail
           |dg AS (SELECT $id, unnest($grams) AS g FROM d0 WHERE $docsPred),
           |$agg""".stripMargin
      case g: ScalarGrain =>
        val w = duckWordsX(text, g)
        val gramExpr = (0 until n).map(j => if (j == 0) "ws[i]" else s"ws[i + $j]")
          .mkString(" || ' ' || ")
        val grams = s"list_transform(generate_series(1, len(ws) - ${n - 1}), i -> $gramExpr)"
        s"""WITH rg AS (
           |  SELECT unnest($grams) AS g FROM (SELECT $w AS ws FROM $table WHERE $refPred)),
           |$tail
           |dg AS (
           |  SELECT $id, unnest($grams) AS g
           |  FROM (SELECT $id, $w AS ws FROM $table WHERE $docsPred)),
           |$agg""".stripMargin
    }
  }

  /** A scalar grain's tokens with empties dropped, as the collocation
    * and LM-ladder twins spell them: their ws filter names its lambda
    * variable `x` (the registered oracle SQL is pinned byte for byte).
    */
  private def duckWordsX(text: String, g: ScalarGrain): String = g match {
    case Ws => s"list_filter(string_split($text, ' '), x -> x <> '')"
    case CjkAuto => g.duckTokens(text, keepEmpties = false)
  }

  /** STUPID-BACKOFF scoring — the rung that makes the
    * [[unigramScore]]/[[bigramScore]]/[[trigramScore]] ladder a single
    * score the way production LM filters use it (Brants et al. 2007,
    * "Large Language Models in Machine Translation": back off to the
    * next-lower order with a fixed 0.4 penalty instead of a trained
    * discount — the simplification that made web-scale n-gram filtering
    * tractable, and exactly the right shape for an exact-arithmetic
    * cross-engine oracle). Per trigram POSITION i the scorer takes the
    * highest order the reference vocabulary has seen:
    * trigram w[i..i+2] → else 0.4 · bigram w[i..i+1] → else 0.4² ·
    * unigram w[i] → else OOV (contributes 0).
    *
    * Exact-integer discipline (the ladder's invariant): per-level counts
    * and reference-frequency sums aggregate as integers; the ONLY
    * double arithmetic is the final fixed-shape expression
    * `(s3/T3 + 0.4·s2/T2 + 0.16·s1/T1) / n_pos`, identical
    * operation-for-operation on both engines — no per-token log, no
    * order-dependent double summation.
    *
    * Scale shape: the reference collapses to three broadcast top-V
    * tables + one 3-column totals row (totals from word-list LENGTHS —
    * no second explode); the corpus pays one scan exploding to trigram
    * positions that partial-aggregate straight back to doc grain
    * through three broadcast left joins. Docs under 3 words have no
    * positions and drop out identically on both engines.
    */
  def backoffScore(docs: DataFrame, ref: DataFrame, id: String, text: String,
                   vocab: Int = 1000): DataFrame = {
    val (top3, top2, top1, totals) = backoffVocab(ref, text, vocab)
    val pos = graft.functions.VectorFunctions.attach(docs)
      .select(col(id), expr(s"filter(split($text, ' '), w -> w <> '')").as("__ws"))
      .select(col(id), expr("graft_gram_hashes(__ws, 3)").as("a3"),
        expr("graft_gram_hashes(__ws, 2)").as("a2"),
        expr("graft_gram_hashes(__ws, 1)").as("a1"))
      // sequence(0, n) is DESCENDING for n < 0 (not empty) — the IF guard
      // keeps short docs out instead of exploding a reversed range
      .select(col(id), explode(expr(
        "IF(size(a3) > 0, transform(sequence(0, size(a3) - 1), " +
          "i -> struct(a3[i] AS h3, a2[i] AS h2, a1[i] AS h1)), array())")).as("p"))
      .select(col(id), col("p.h3").as("h3"), col("p.h2").as("h2"), col("p.h1").as("h1"))
    pos.join(broadcast(top3), Seq("h3"), "left")
      .join(broadcast(top2), Seq("h2"), "left")
      .join(broadcast(top1), Seq("h1"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_pos"),
        sum(when(col("cnt3").isNotNull, 1L).otherwise(0L)).as("n_tri"),
        sum(when(col("cnt3").isNull && col("cnt2").isNotNull, 1L).otherwise(0L)).as("n_bi"),
        sum(when(col("cnt3").isNull && col("cnt2").isNull && col("cnt1").isNotNull, 1L)
          .otherwise(0L)).as("n_uni"),
        sum(when(col("cnt3").isNull && col("cnt2").isNull && col("cnt1").isNull, 1L)
          .otherwise(0L)).as("n_oov"),
        sum(when(col("cnt3").isNotNull, col("cnt3")).otherwise(0L)).as("s3"),
        sum(when(col("cnt3").isNull && col("cnt2").isNotNull, col("cnt2"))
          .otherwise(0L)).as("s2"),
        sum(when(col("cnt3").isNull && col("cnt2").isNull, coalesce(col("cnt1"), lit(0L)))
          .otherwise(0L)).as("s1"))
      .crossJoin(broadcast(totals))
      .select(col(id), col("n_pos"), col("n_tri"), col("n_bi"), col("n_uni"), col("n_oov"),
        backoffScoreExpr)
  }

  /** The shared reference side of [[backoffScore]]/[[backoffScoreFast]]:
    * top-V (gram HASH, cnt) tables per order — hash-keyed so the
    * exchange and the probe carry longs, never gram strings — plus the
    * 3-column totals row derived from word-list LENGTHS (no second
    * explode). Tie-break (cnt DESC, hash ASC), identical in the SQL twin.
    */
  private def backoffVocab(ref: DataFrame, text: String, vocab: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val ws = s"filter(split($text, ' '), w -> w <> '')"
    val refWs = graft.ops.Caches.lease(
      graft.functions.VectorFunctions.attach(ref).select(expr(ws).as("__ws")))
    def top(k: Int, h: String, cnt: String) =
      refWs.select(explode(expr(s"graft_gram_hashes(__ws, $k)")).as(h))
        .groupBy(col(h)).agg(count(lit(1)).as(cnt))
        .orderBy(col(cnt).desc, col(h).asc).limit(vocab)
    val totals = refWs.agg(
      sum(expr("greatest(size(__ws) - 2, 0)")).as("total3"),
      sum(expr("greatest(size(__ws) - 1, 0)")).as("total2"),
      sum(expr("size(__ws)")).as("total1"))
    (top(3, "h3", "cnt3"), top(2, "h2", "cnt2"), top(1, "h1", "cnt1"), totals)
  }

  /** The one fixed-shape double expression both backoff forms and the
    * SQL twin share — identical operation order keeps it bit-equal.
    */
  private def backoffScoreExpr: Column = {
    // a zero total (ref has no n-grams at that order — e.g. no 3-word
    // docs) contributes 0, not a divide-by-zero (ANSI) / NaN: the guard
    // is mirrored verbatim in the SQL twin, and with nonzero totals the
    // arithmetic is the identical op sequence, so bit-parity holds
    def term(t: String, c: Column): Column =
      when(col(t) === 0L, lit(0.0)).otherwise(c)
    round((term("total3", col("s3").cast("double") / col("total3"))
      + term("total2", lit(0.4) * col("s2").cast("double") / col("total2"))
      + term("total1", lit(0.16) * col("s1").cast("double") / col("total1")))
      / col("n_pos").cast("double"), 6).as("backoff_score")
  }

  /** COMPILED form of [[backoffScore]] — the registered scale path. The
    * three top-V tables collapse to broadcast-literal sorted (hash, cnt)
    * arrays inside one `graft_backoff_stats` kernel call: per doc the
    * stats come back row-locally (binary search per position,
    * lower-order hashes computed only on a miss), so the corpus pays ONE
    * zero-shuffle scan — no position explode, no joins, no doc-grain
    * re-aggregation. Measured at 1M docs / V=5000 within one probe JVM
    * (ProbeRound9d; cold-JVM solo readings swing several-fold): 6.2s vs
    * 37.0s for the declarative hash-join form (and 115s for the
    * original string-keyed joins) — 6×, because the per-position work
    * drops to one binary search and the 60M-row position explode never
    * materializes. Spec-pinned bit-equal to [[backoffScore]]. The three
    * V-row collects are metadata-sized (the DSIR literal-weight-table
    * pattern).
    */
  def backoffScoreFast(docs: DataFrame, ref: DataFrame, id: String, text: String,
                       vocab: Int = 1000): DataFrame = {
    val (top3, top2, top1, totals) = backoffVocab(ref, text, vocab)
    def pairs(df: DataFrame): (Seq[Long], Seq[Long]) = {
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      (rows.map(_._1).toSeq, rows.map(_._2).toSeq)
    }
    val (h3, c3) = pairs(top3)
    val (h2, c2) = pairs(top2)
    val (h1, c1) = pairs(top1)
    // an empty ref sums to NULL; coalesce to 0 then fail fast — a
    // reference with zero words cannot define a backoff LM, and a
    // silent all-NaN score column would just defer the failure
    val trow = totals.collect().head
    val Array(t3, t2, t1) = Array(0, 1, 2).map(i =>
      if (trow.isNullAt(i)) 0L else trow.getLong(i))
    require(t1 > 0,
      "backoffScoreFast: reference corpus has no words — no backoff LM to score against")
    // empty top-V at an order (e.g. no 3-word ref docs) must still emit
    // a well-typed literal: bare array() is ARRAY<NULL> and 'array(L)'
    // doesn't parse at all
    def lit_(a: Seq[Long]) =
      if (a.isEmpty) "CAST(array() AS ARRAY<BIGINT>)"
      else a.mkString("array(", "L, ", "L)")
    graft.functions.VectorFunctions.attach(docs)
      // pre-filter via the compiled word count, NOT the kernel output —
      // a filter on the computed stats would be pushed below the
      // projection with the kernel substituted in, running it twice per
      // row. The kernel takes the RAW split (it compacts empty words
      // itself): a filter(...) HOF here is CodegenFallback and would
      // break the whole-stage span around the kernel
      .where(expr(s"graft_word_count($text) >= 3"))
      .select(col(id), expr(
        s"graft_backoff_stats(split($text, ' '), ${lit_(h3)}, ${lit_(c3)}, " +
          s"${lit_(h2)}, ${lit_(c2)}, ${lit_(h1)}, ${lit_(c1)})").as("st"))
      .select(col(id), col("st")(0).as("n_pos"),
        col("st")(1).as("n_tri"), col("st")(2).as("n_bi"),
        col("st")(3).as("n_uni"), col("st")(4).as("n_oov"),
        col("st")(5).as("s3"), col("st")(6).as("s2"), col("st")(7).as("s1"),
        lit(t3).as("total3"), lit(t2).as("total2"), lit(t1).as("total1"))
      .select(col(id), col("n_pos"), col("n_tri"), col("n_bi"), col("n_uni"),
        col("n_oov"), backoffScoreExpr)
  }

  /** DuckDB twin of [[backoffScore]]/[[backoffScoreFast]] — same three
    * hash-keyed top-V tables (portable gram hash, tie-break cnt DESC,
    * hash ASC), length-derived totals, winning-level CASE sums, and the
    * identical fixed-shape final double expression.
    */
  def backoffScoreSql(table: String, docsPred: String, refPred: String,
                      id: String, text: String, vocab: Int = 1000): String = {
    val w = s"list_filter(string_split($text, ' '), x -> x <> '')"
    def h(g: String) = graft.ops.PortableHash.duckStringHash(g)
    s"""WITH rw AS (SELECT $w AS ws FROM $table WHERE $refPred),
       |r3 AS (SELECT ${h("ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]")} AS h3
       |       FROM rw, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
       |top3 AS (SELECT h3, count(*) AS cnt3 FROM r3 GROUP BY h3
       |         ORDER BY cnt3 DESC, h3 ASC LIMIT $vocab),
       |r2 AS (SELECT ${h("ws[i] || ' ' || ws[i + 1]")} AS h2
       |       FROM rw, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)),
       |top2 AS (SELECT h2, count(*) AS cnt2 FROM r2 GROUP BY h2
       |         ORDER BY cnt2 DESC, h2 ASC LIMIT $vocab),
       |r1 AS (SELECT ${h("g1")} AS h1 FROM (SELECT unnest(ws) AS g1 FROM rw)),
       |top1 AS (SELECT h1, count(*) AS cnt1 FROM r1 GROUP BY h1
       |         ORDER BY cnt1 DESC, h1 ASC LIMIT $vocab),
       |totals AS (SELECT CAST(sum(greatest(len(ws) - 2, 0)) AS BIGINT) AS total3,
       |                  CAST(sum(greatest(len(ws) - 1, 0)) AS BIGINT) AS total2,
       |                  CAST(sum(len(ws)) AS BIGINT) AS total1 FROM rw),
       |dp AS (SELECT $id,
       |              ${h("ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]")} AS h3,
       |              ${h("ws[i] || ' ' || ws[i + 1]")} AS h2, ${h("ws[i]")} AS h1
       |       FROM (SELECT $id, $w AS ws FROM $table WHERE $docsPred),
       |            UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
       |agg AS (
       |  SELECT $id, count(*) AS n_pos,
       |    CAST(sum(CASE WHEN t3.cnt3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_tri,
       |    CAST(sum(CASE WHEN t3.cnt3 IS NULL AND t2.cnt2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bi,
       |    CAST(sum(CASE WHEN t3.cnt3 IS NULL AND t2.cnt2 IS NULL AND t1.cnt1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_uni,
       |    CAST(sum(CASE WHEN t3.cnt3 IS NULL AND t2.cnt2 IS NULL AND t1.cnt1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |    CAST(sum(CASE WHEN t3.cnt3 IS NOT NULL THEN t3.cnt3 ELSE 0 END) AS BIGINT) AS s3,
       |    CAST(sum(CASE WHEN t3.cnt3 IS NULL AND t2.cnt2 IS NOT NULL THEN t2.cnt2 ELSE 0 END) AS BIGINT) AS s2,
       |    CAST(sum(CASE WHEN t3.cnt3 IS NULL AND t2.cnt2 IS NULL THEN coalesce(t1.cnt1, 0) ELSE 0 END) AS BIGINT) AS s1
       |  FROM dp LEFT JOIN top3 t3 ON dp.h3 = t3.h3
       |          LEFT JOIN top2 t2 ON dp.h2 = t2.h2
       |          LEFT JOIN top1 t1 ON dp.h1 = t1.h1
       |  GROUP BY $id)
       |SELECT $id, n_pos, n_tri, n_bi, n_uni, n_oov,
       |  round((CASE WHEN total3 = 0 THEN 0.0 ELSE s3::DOUBLE / total3 END
       |         + CASE WHEN total2 = 0 THEN 0.0 ELSE 0.4 * s2::DOUBLE / total2 END
       |         + CASE WHEN total1 = 0 THEN 0.0 ELSE 0.16 * s1::DOUBLE / total1 END) / n_pos::DOUBLE, 6) AS backoff_score
       |FROM agg, totals""".stripMargin
  }

  /** DuckDB twin of [[unigramScore]] (`docsPred`/`refPred` split one
    * table into the scored and reference sides, the decontamination
    * convention).
    */
  def unigramScoreSql(table: String, docsPred: String, refPred: String,
                      id: String, text: String, vocab: Int = 1000,
                      wordGrain: WordGrain = Ws): String = {
    val (rt, dt) = wordGrain match {
      case d: DictGrain =>
        // id-carrying FMM recursion scanned once; both preds filter the
        // (id, token) relation — same rows the scalar branches feed
        (s"WITH RECURSIVE ${d.duckTokenRows(table, text, Some(id))},\n" +
           s"ti AS (SELECT rid AS $id, token AS w FROM toks),\n" +
           s"rt AS (SELECT w FROM ti WHERE $refPred)",
         s"dt AS (SELECT $id, w FROM ti WHERE $docsPred)")
      case g: ScalarGrain =>
        val tok = g.duckTokens(text, keepEmpties = false)
        (s"WITH rt AS (SELECT unnest($tok) AS w FROM $table WHERE $refPred)",
         s"dt AS (SELECT $id, unnest($tok) AS w FROM $table WHERE $docsPred)")
    }
    s"""$rt,
       |top AS (SELECT w, count(*) AS cnt FROM rt GROUP BY w
       |        ORDER BY cnt DESC, w ASC LIMIT $vocab),
       |total AS (SELECT count(*) AS total_ref FROM rt),
       |$dt,
       |agg AS (
       |  SELECT d.$id, count(*) AS n_tokens,
       |         sum(CASE WHEN t.cnt IS NULL THEN 1 ELSE 0 END) AS n_oov,
       |         sum(coalesce(t.cnt, 0)) AS sum_cnt
       |  FROM dt d LEFT JOIN top t ON d.w = t.w GROUP BY d.$id)
       |SELECT $id, n_tokens,
       |  round(n_oov::DOUBLE / n_tokens, 6) AS oov_ratio,
       |  round(sum_cnt::DOUBLE / (n_tokens::DOUBLE * total_ref), 6) AS avg_tok_freq
       |FROM agg, total""".stripMargin
  }

  /** BM25 keyword retrieval (Robertson/Spärck Jones) — the LEXICAL
    * search leg next to the embedding-ANN family: top-k documents for a
    * fixed bag of query terms, scored by term frequency, document
    * length, and inverse document frequency. What a curation pipeline
    * runs to pull topic slices out of a crawl, and the BM25 half of any
    * hybrid (lexical + vector) retrieval stack.
    *
    * Scoring is the BM25 shape at k1 = 1.2, b = 0.75 with every factor
    * held in INTEGER fixed-point, so the cross-engine hash cannot drift
    * (the [[unigramScore]] discipline — no `ln`, no double sums):
    *
    *  - `idf_milli(t) = (1000·(2(N−df)+1)) div (2·df+1)` — the exact
    *    Robertson idf RATIO `(N−df+0.5)/(df+0.5)` in milli-units,
    *    without the log wrap. Log-free idf is monotone in the classical
    *    form, preserves per-term ordering, and stays exact-integer;
    *    the trade is more top-weight on very rare terms (documented,
    *    deliberate).
    *  - tf normalization: `tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`
    *    cleared of rationals with `A = (1000·Σdl) div N` (avgdl in
    *    milli-units): numerator `22·tf·A`, denominator
    *    `10·tf·A + 3·A + 9000·dl` — integers end to end.
    *  - `score_milli = Σ_t idf_milli(t)·22·tf·A div (…)`, summed as
    *    BIGINTs. (Overflow headroom: terms ≤ ~2^60 at N ≈ 10^6 docs;
    *    beyond that drop the milli scaling or score in doubles with a
    *    tolerance gate — the fixed-point form is the ORACLE-exact gate.)
    *
    * Plan shape: ONE corpus scan projects `(id, dl, tf_0..tf_q)` via the
    * compiled [[graft.functions.TermCounts]] kernel — one byte-scan pass
    * per doc (the declarative split + per-term `size(filter(...))` HOFs
    * interpret: 101s vs seconds at 1M docs), zero explode, zero
    * shuffle. That doc-grain frame (q+2 longs per doc — tiny next to
    * the text) is leased and consumed twice: a one-row metadata agg
    * (N, Σdl, df_t — partial-aggregated to a single row, broadcast
    * back) and the scoring projection. Top-k is `ORDER BY … LIMIT k`
    * → TakeOrdered (per-partition bounded heaps + driver merge of k),
    * never a global sort. Ties break (score DESC, id ASC);
    * zero-score docs (no query term, or terms with df = N) are dropped
    * on both engines.
    */
  def bm25TopK(docs: DataFrame, id: String, text: String,
               terms: Seq[String], k: Int = 20,
               wordGrain: WordGrain = Ws): DataFrame = {
    require(terms.nonEmpty && terms.forall(t => t.nonEmpty && !t.contains("'")),
      "terms must be non-empty and quote-free")
    // cjk-dict (r14): retrieval on the FMM grain — multi-codepoint
    // query terms (人工智能) match as ONE token; same doc-stats kernel,
    // dict mode
    val termArr = terms.map(t => s"'$t'").mkString("array(", ", ", ")")
    // BOTH grains ride the one-scan doc-stats kernel; 'cjk-auto' routes
    // script-dominated rows to the codepoint grain inside the same scan
    // (single-codepoint query terms then match), compiled round 13 —
    // the r12 declarative leg materialized the routed token array and
    // paid an array_remove length-diff per term
    val perDoc = Caches.lease(
      graft.functions.VectorFunctions.attach(docs)
        .select(col(id),
          expr(s"graft_term_counts($text, $termArr, '${wordGrain.name}')").as("__tc"))
        .select(col(id) +: (expr("element_at(__tc, 1)").as("dl") +:
          terms.indices.map(i =>
            expr(s"element_at(__tc, ${i + 2})").as(s"tf$i"))): _*))
    val meta = perDoc.agg(
      count(lit(1)).as("n"),
      (sum(col("dl")).as("sum_dl") +:
        terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))): _*)
    val termScore = terms.indices.map { i =>
      val idf = s"((1000 * (2 * (n - df$i) + 1)) div (2 * df$i + 1))"
      s"IF(tf$i > 0, ($idf * 22 * tf$i * __a) div (10 * tf$i * __a + 3 * __a + 9000 * dl), 0L)"
    }.mkString(" + ")
    perDoc.crossJoin(broadcast(meta))
      .withColumn("__a", expr("(1000 * sum_dl) div n"))
      .withColumn("score_milli", expr(termScore))
      .where(col("score_milli") > 0)
      .select(col(id), col("score_milli"),
        expr(terms.indices.map(i => s"IF(tf$i > 0, 1, 0)").mkString(" + "))
          .cast("int").as("n_matched"))
      .orderBy(col("score_milli").desc, col(id).asc)
      .limit(k)
  }

  /** DuckDB twin of [[bm25TopK]] — identical integer fixed-point
    * arithmetic (`//` ≡ `div`: every operand here is non-negative,
    * and both engines truncate toward zero on signed operands anyway —
    * probed round 18).
    */
  def bm25TopKSql(table: String, id: String, text: String,
                  terms: Seq[String], k: Int = 20,
                  wordGrain: WordGrain = Ws): String = {
    val dfCols = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val termScore = terms.indices.map { i =>
      val idf = s"((1000 * (2 * (n - df$i) + 1)) // (2 * df$i + 1))"
      s"CASE WHEN tf$i > 0 THEN ($idf * 22 * tf$i * a) // (10 * tf$i * a + 3 * a + 9000 * dl) ELSE 0 END"
    }.mkString(" + ")
    val nMatched = terms.indices.map(i => s"CASE WHEN tf$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
    val perDocRel = wordGrain match {
      case d: DictGrain =>
        // id-carrying FMM recursion; the LEFT JOIN back to the table
        // restores token-less docs (empty/blank) as dl = 0 rows, the
        // row-per-doc shape the scalar ws/cjk-auto forms emit
        val tfSums = terms.indices.map(i =>
          s"coalesce(a.tf$i, 0)::BIGINT AS tf$i").mkString(", ")
        val tfAgg = terms.indices.map(i =>
          s"sum(CASE WHEN token = '${terms(i)}' THEN 1 ELSE 0 END) AS tf$i")
          .mkString(", ")
        s"""RECURSIVE ${d.duckTokenRows(table, text, Some(id))},
           |agg AS (
           |  SELECT rid, count(*)::BIGINT AS dl, $tfAgg
           |  FROM toks GROUP BY rid),
           |per_doc AS (
           |  SELECT b.$id, coalesce(a.dl, 0)::BIGINT AS dl, $tfSums
           |  FROM $table b LEFT JOIN agg a ON b.$id = a.rid)""".stripMargin
      case g: ScalarGrain =>
        val wsExpr = g.duckTokens(text, keepEmpties = false)
        val tfCols = terms.indices.map(i =>
          s"len(list_filter(ws, w -> w = '${terms(i)}')) AS tf$i").mkString(", ")
        s"""per_doc AS (
           |  SELECT $id, len(ws)::BIGINT AS dl, $tfCols
           |  FROM (SELECT $id, $wsExpr AS ws
           |        FROM $table))""".stripMargin
    }
    s"""WITH $perDocRel,
       |meta AS (
       |  SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sum_dl, $dfCols
       |  FROM per_doc),
       |scored AS (
       |  SELECT $id, CAST($termScore AS BIGINT) AS score_milli,
       |    CAST($nMatched AS INT) AS n_matched
       |  FROM (SELECT p.*, m.*, (1000 * m.sum_dl) // m.n AS a
       |        FROM per_doc p CROSS JOIN meta m))
       |SELECT $id, score_milli, n_matched FROM scored
       |WHERE score_milli > 0
       |ORDER BY score_milli DESC, $id ASC LIMIT $k""".stripMargin
  }

  /** One-pass corpus profile — the first report anyone runs on a new
    * crawl: per (lang, source) stratum, document count, exact-dup count
    * (distinct content digests), total compiled-kernel tokens, total
    * chars, and integer-exact mean tokens/doc. ONE scan + ONE keyed
    * partial agg (count-distinct adds the standard two-phase expand —
    * still keyed, never global); all outputs exact integers. At 100 TB
    * this is the job that sizes every downstream stage (mixing weights,
    * dedup budget, token budget), so it must be one pass — and it is.
    */
  def corpusProfile(df: DataFrame, lang: String, source: String,
                    text: String, nChars: String): DataFrame =
    graft.functions.VectorFunctions.attach(df)
      .groupBy(col(lang), col(source))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col(text))).as("n_unique_texts"),
        sum(expr(s"cast(graft_token_count($text) AS BIGINT)")).as("total_tokens"),
        sum(col(nChars)).as("total_chars"))
      .withColumn("avg_tokens_milli",
        expr("(1000 * total_tokens) div n_docs"))

  /** DuckDB twin of [[corpusProfile]]. */
  def corpusProfileSql(table: String, lang: String, source: String,
                       text: String, nChars: String): String =
    s"""SELECT $lang, $source,
       |  count(*)::BIGINT AS n_docs,
       |  count(DISTINCT md5($text))::BIGINT AS n_unique_texts,
       |  sum(len(regexp_extract_all($text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')))::BIGINT AS total_tokens,
       |  sum($nChars)::BIGINT AS total_chars,
       |  (1000 * sum(len(regexp_extract_all($text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')))::BIGINT)
       |    // count(*)::BIGINT AS avg_tokens_milli
       |FROM $table
       |GROUP BY 1, 2""".stripMargin

  /** Per-document top-`k` TF-IDF keyword extraction — the tagging /
    * topic-slicing primitive next to [[bm25TopK]]'s retrieval leg: BM25
    * answers "which docs match these terms", this answers "which terms
    * characterize each doc" (what a curation pipeline materializes as a
    * keyword column for faceted slicing and mixture reports).
    *
    * Exact-integer discipline ([[unigramScore]]): no `ln` — the rank
    * order of `tf · log(N/df)` is preserved by the rational surrogate
    * `score_milli = tf · ⌊10⁶·N / df⌋` per doc... except where log's
    * compression would reorder tf-vs-rarity trades; the surrogate IS
    * the contract here (documented, deterministic cross-engine), and it
    * keeps the hash gate exact where a float log would drift.
    * Arithmetic bound: `score_milli = tf · ⌊10⁶·N/df⌋` stays inside
    * BIGINT while `tf · N ≲ 9·10¹²` per (doc, term) — safe to ~10¹⁰
    * docs at realistic tf; past that, drop the milli scale (ANSI mode
    * turns the overflow into an error, never a silent wrap).
    *
    * Scale shape: ONE corpus scan explodes to (doc, term) and
    * partial-aggs to tf rows; the leased tf frame derives document
    * frequency with a second keyed agg (no rescan); N is a broadcast
    * 1-row agg. The term-keyed join and the per-doc top-k window are
    * both KEYED exchanges (term, then doc) — nothing global, nothing
    * driver-side; df is corpus-vocabulary-sized so it is joined, never
    * broadcast.
    */
  def tfidfKeywords(docs: DataFrame, id: String, text: String,
                    k: Int = 3, wordGrain: WordGrain = Ws): DataFrame = {
    // cjk-dict (r14): keywords on the FMM word grain — the form a zh
    // keyword list actually wants (我们/人工智能 whole, not codepoints);
    // same kernel, dict mode
    // cjk-auto: script-dominated rows keyword per CODEPOINT term (the
    // ws grain makes an unsegmented zh doc ONE term with tf=1 — the
    // tf signal vanishes exactly where keywords are wanted).
    // tf rows come from the row-local (w, tf) pair kernel
    // (graft_term_tf, round 13) on BOTH grains — one exploded row per
    // DISTINCT (doc, term) instead of one per token, so the
    // corpus-sized groupBy(id, w) hash-aggregate this stage used to
    // pay (118.7M rows at the 1M probe on the routed grain) shrinks to
    // a distinct-(doc, term)-grain agg (kept — it is what merges
    // DUPLICATE doc ids exactly as the oracle's GROUP BY does, and
    // with mostly size-1 groups the partial agg is near-free);
    // value-identical to the exploded construction the oracle replays
    val terms = Caches.lease(
      graft.functions.VectorFunctions.attach(docs)
        .select(col(id), explode(expr(s"graft_term_tf($text, '${wordGrain.name}')")).as("p"))
        .select(col(id), col("p.w").as("w"), col("p.tf").as("tf"))
        .groupBy(col(id), col("w")).agg(sum(col("tf")).as("tf")))
    val dfreq = terms.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // r20: per-doc top-k rides the bounded-heap graft_topk_words
    // aggregate instead of a row_number window — the window shuffled
    // and SORTED every (doc, term) row to the doc's reducer; the heap
    // partial-aggregates map-side to ≤ k rows per doc per task (the
    // topkByQuery argument at keyword grain). Total order identical:
    // score DESC, w ASC — UTF8 binary on both engines (the window
    // formulation stays pinned as OpsSpec's parity baseline).
    terms.join(dfreq, Seq("w"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score_milli", expr("tf * ((1000000 * n_docs) div df)"))
      .groupBy(col(id))
      .agg(expr(s"graft_topk_words(score_milli, w, tf, $k)").as("top"))
      .select(col(id), posexplode(col("top")))
      .select(col(id), col("col.w").as("keyword"), col("col.tf").as("tf"),
        col("col.score").as("score_milli"), (col("pos") + 1).as("rank"))
  }

  /** The row_number-window formulation of [[tfidfKeywords]]' ranking —
    * the SPEC-PINNED parity baseline of the `graft_topk_words` heap
    * (OpsSpec pins equality; the oracle replays this shape in SQL).
    */
  private[graft] def tfidfKeywordsWindow(docs: DataFrame, id: String,
                                         text: String, k: Int,
                                         wordGrain: WordGrain): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = graft.functions.VectorFunctions.attach(docs)
      .select(col(id), explode(expr(s"graft_term_tf($text, '${wordGrain.name}')")).as("p"))
      .select(col(id), col("p.w").as("w"), col("p.tf").as("tf"))
      .groupBy(col(id), col("w")).agg(sum(col("tf")).as("tf"))
    val dfreq = terms.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val win = Window.partitionBy(col(id))
      .orderBy(col("score_milli").desc, col("w").asc)
    terms.join(dfreq, Seq("w"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score_milli", expr("tf * ((1000000 * n_docs) div df)"))
      .withColumn("rank", row_number().over(win))
      .where(col("rank") <= k)
      .select(col(id), col("w").as("keyword"), col("tf"),
        col("score_milli"), col("rank"))
  }

  /** DuckDB twin of [[tfidfKeywords]] (`cjk-dict`: the id-carrying FMM
    * recursion feeds the terms relation).
    */
  def tfidfKeywordsSql(table: String, id: String, text: String,
                       k: Int = 3, wordGrain: WordGrain = Ws): String = {
    val termsRel = wordGrain match {
      case d: DictGrain =>
        s"""RECURSIVE ${d.duckTokenRows(table, text, Some(id))},
           |terms AS (
           |  SELECT rid AS $id, token AS w, count(*)::BIGINT AS tf
           |  FROM toks GROUP BY 1, 2)""".stripMargin
      case g: ScalarGrain =>
        val tok = g.duckTokens(text, keepEmpties = false)
        s"""terms AS (
           |  SELECT $id, w, count(*)::BIGINT AS tf
           |  FROM (SELECT $id,
           |          unnest($tok) AS w
           |        FROM $table)
           |  GROUP BY 1, 2)""".stripMargin
    }
    s"""WITH $termsRel,
       |dfreq AS (SELECT w, count(*)::BIGINT AS df FROM terms GROUP BY 1),
       |meta AS (SELECT count(*)::BIGINT AS n_docs FROM $table)
       |SELECT $id, w AS keyword, tf, score_milli, rank FROM (
       |  SELECT t.$id, t.w, t.tf,
       |    t.tf * ((1000000 * m.n_docs) // d.df) AS score_milli,
       |    (row_number() OVER (PARTITION BY t.$id
       |       ORDER BY t.tf * ((1000000 * m.n_docs) // d.df) DESC, t.w ASC))::INT AS rank
       |  FROM terms t JOIN dfreq d USING (w) CROSS JOIN meta m)
       |WHERE rank <= $k""".stripMargin
  }

  /** Unicode-script profile — the CHARACTER-CLASS language signal next
    * to the word-marker [[langId]] heuristic (marker words only exist
    * for languages with word lists; script counts need none, and mixed-
    * script docs — code-switched text, spam padding ASCII into CJK
    * pages, mojibake — show up here first). Per doc: counts of Latin,
    * CJK, Cyrillic, Arabic, and digit characters plus total length, and
    * the dominant script by strict-majority comparison in a fixed order
    * (deterministic tie-break: earlier class wins ties). Counts via
    * `regexp_extract_all` over codepoint ranges — one zero-shuffle scan
    * projection; no division, so no empty-doc guard needed.
    */
  def scriptProfile(df: DataFrame, id: String, text: String): DataFrame = {
    def cnt(pat: String) = s"size(regexp_extract_all($text, '$pat', 0))"
    val classes = Seq(
      "n_latin" -> cnt("[A-Za-z]"),
      "n_cjk" -> cnt("[\\\\x{4e00}-\\\\x{9fff}]"),
      "n_cyrillic" -> cnt("[\\\\x{0400}-\\\\x{04ff}]"),
      "n_arabic" -> cnt("[\\\\x{0600}-\\\\x{06ff}]"),
      "n_digit" -> cnt("[0-9]"))
    val names = classes.map(_._1)
    // CASE takes the FIRST matching WHEN, so ties break in declaration
    // order — identically on both engines. All-zero docs (empty text,
    // or entirely in an uncovered script — Greek, Hangul, emoji) get
    // dominant = NULL, never a spurious 'n_latin'
    df.select((col(id) +:
        length(col(text)).cast("long").as("n_chars_total") +:
        classes.map { case (n, e) => expr(e).cast("long").as(n) }): _*)
      .withColumn("dominant", expr(
        s"CASE WHEN greatest(${names.mkString(", ")}) = 0 THEN NULL " +
          names.map(n =>
            s"WHEN $n = greatest(${names.mkString(", ")}) THEN '$n'")
            .mkString(" ") + " END"))
  }

  /** DuckDB twin of [[scriptProfile]]. */
  def scriptProfileSql(table: String, id: String, text: String): String = {
    def cnt(pat: String) = s"len(regexp_extract_all($text, '$pat'))"
    val classes = Seq(
      "n_latin" -> cnt("[A-Za-z]"),
      "n_cjk" -> cnt("[\\x{4e00}-\\x{9fff}]"),
      "n_cyrillic" -> cnt("[\\x{0400}-\\x{04ff}]"),
      "n_arabic" -> cnt("[\\x{0600}-\\x{06ff}]"),
      "n_digit" -> cnt("[0-9]"))
    val names = classes.map(_._1)
    val sel = classes.map { case (n, e) => s"$e::BIGINT AS $n" }.mkString(",\n  ")
    val dom = s"CASE WHEN greatest(${names.mkString(", ")}) = 0 THEN NULL " +
      names.map(n =>
        s"WHEN $n = greatest(${names.mkString(", ")}) THEN '$n'").mkString(" ") +
      " END"
    s"""SELECT $id, n_chars_total, ${names.mkString(", ")}, $dom AS dominant
       |FROM (SELECT $id, length($text)::BIGINT AS n_chars_total,
       |  $sel
       |  FROM $table)""".stripMargin
  }

  /** Full-width sentence-terminator boundary: a RUN of 。！？…
    * (U+3002/U+FF01/U+FF1F/U+2026 — "！！" is one boundary, not two)
    * carrying any closing quotes/brackets 」』”’）
    * (U+300D/U+300F/U+201D/U+2019/U+FF09) with the sentence. Unlike
    * the ASCII class, NO trailing whitespace is required — zh/ja put
    * none between sentences (the round-13 gap: every zh doc was ONE
    * sentence) — and any whitespace that does follow is consumed by
    * the marker insert.
    */
  private val cjkSentBoundary: String =
    graft.functions.GopherOps.cjkSentenceBoundary

  /** Sentence segmentation — boundary-aware chunk units for RAG /
    * curation (fixed token windows cut mid-sentence; retrieval quality
    * wants sentence-aligned chunks): split after terminal punctuation,
    * keeping the punctuation with its sentence. Two boundary classes:
    * ASCII [.!?] followed by whitespace (whitespace spelled [ \t\n\r]
    * explicitly: Java's \s and RE2's \s disagree on \x0B), and the
    * full-width class [[cjkSentBoundary]] which terminates WITHOUT
    * whitespace — so 。！？-punctuated zh/ja text segments even though
    * it carries no inter-sentence spaces (U+2026 … also terminates
    * without whitespace, a deliberate simple-rule artifact on Latin
    * text using mid-sentence ellipses). The rule stays REGEX-SIMPLE
    * (no abbreviation dictionary — that's model territory) and runs as
    * marker-insert + split so both engines apply the identical regex
    * semantics. Zero shuffle: one projection + posexplode.
    */
  def sentences(df: DataFrame, id: String, text: String): DataFrame = {
    val cjkMarked =
      s"regexp_replace($text, '($cjkSentBoundary)[ \\t\\n\\r]*', '$$1\\u0001')"
    val marked = s"regexp_replace($cjkMarked, '([.!?])[ \\t\\n\\r]+', '$$1\\u0001')"
    df.select(col(id), posexplode(expr(
        s"filter(transform(split($marked, '\\u0001'), s -> trim(s)), s -> s <> '')")))
      .select(col(id), col("pos").cast("int").as("sent_idx"),
        col("col").as("sentence"))
  }

  /** DuckDB twin of [[sentences]] (same two boundary classes, same
    * insert order).
    */
  def sentencesSql(table: String, id: String, text: String): String =
    s"""WITH s AS (
       |  SELECT $id, list_filter(list_transform(
       |    string_split(regexp_replace(
       |      regexp_replace($text, '($cjkSentBoundary)[ \\t\\n\\r]*', '\\1' || chr(1), 'g'),
       |      '([.!?])[ \\t\\n\\r]+', '\\1' || chr(1), 'g'), chr(1)),
       |    x -> trim(x)), x -> x <> '') AS sents
       |  FROM $table)
       |SELECT $id, (u.i - 1)::INT AS sent_idx, sents[u.i] AS sentence
       |FROM s, UNNEST(generate_series(1, len(sents))) AS u(i)""".stripMargin

  /** Canonical text normalization — the pass every pipeline runs BEFORE
    * dedup/matching so that case, spacing, and Unicode-encoding variants
    * of the same content collapse to one form: NFC (decomposed é = e +
    * U+0301 composes to the single code point), ASCII A–Z lowered, ASCII
    * whitespace runs collapsed to single spaces, trimmed. One compiled
    * scan ([[graft.functions.NormalizeText]]), zero shuffle. Full
    * Unicode case folding is DELIBERATELY excluded: JVM full mappings
    * and utf8proc simple mappings disagree ('İ', final sigma), so the
    * op restricts to the subset every engine agrees on — documented
    * contract, oracle-exact.
    */
  def normalize(df: DataFrame, id: String, text: String,
                carry: Seq[String] = Nil): DataFrame =
    graft.functions.VectorFunctions.attach(df)
      .select((col(id) +: carry.map(col)) :+
        expr(s"graft_normalize($text)").as("norm_text"): _*)

  /** DuckDB twin of [[normalize]]. */
  def normalizeSql(table: String, id: String, text: String): String =
    s"""SELECT $id, trim(regexp_replace(
       |    translate(nfc_normalize($text),
       |      'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
       |    '[ \\t\\n\\r\\f]+', ' ', 'g'), ' ') AS norm_text
       |FROM $table""".stripMargin

  /** Markup stripping — the crawl→text extraction stage every web
    * corpus passes through before any quality/dedup op sees it
    * (trafilatura's job, reduced to the deterministic core a SQL oracle
    * can replay): drop `<...>` tags, unescape the five predefined HTML
    * entities, collapse whitespace. Entity order is load-bearing and
    * identical on both engines: `&amp;` is unescaped LAST so
    * `&amp;lt;` yields the literal text `&lt;` (one level, the HTML
    * spec's behavior) instead of double-unescaping to `<`. Emits the
    * cleaned text plus tag/entity counts (the markup-density signal —
    * a page that is mostly tags is boilerplate, the Gopher-adjacent
    * gate). One zero-shuffle scan projection of regexp/replace chains.
    */
  def stripMarkup(df: DataFrame, id: String, text: String,
                  carry: Seq[String] = Nil): DataFrame = {
    val tagRe = "<[^>]*>"
    val entRe = "&(amp|lt|gt|quot|#39);"
    df.select((col(id) +: carry.map(col)) ++ Seq(
      expr(s"""trim(regexp_replace(
        replace(replace(replace(replace(replace(
          regexp_replace($text, '$tagRe', ' '),
          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', char(39)),
          '&amp;', '&'),
        ' +', ' '))""").as("clean_text"),
      expr(s"size(regexp_extract_all($text, '$tagRe', 0))").cast("long")
        .as("n_tags"),
      expr(s"size(regexp_extract_all($text, '$entRe', 0))").cast("long")
        .as("n_entities")): _*)
  }

  /** DuckDB twin of [[stripMarkup]] (same entity order: `&amp;` last). */
  def stripMarkupSql(table: String, id: String, text: String): String =
    s"""SELECT $id,
       |  trim(regexp_replace(
       |    replace(replace(replace(replace(replace(
       |      regexp_replace($text, '<[^>]*>', ' ', 'g'),
       |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
       |      '&amp;', '&'),
       |    ' +', ' ', 'g')) AS clean_text,
       |  len(regexp_extract_all($text, '<[^>]*>'))::BIGINT AS n_tags,
       |  len(regexp_extract_all($text, '&(amp|lt|gt|quot|#39);'))::BIGINT AS n_entities
       |FROM $table""".stripMargin

  /** Hybrid retrieval: the BM25 lexical leg fused with a vector leg by
    * reciprocal-rank fusion (Cormack et al. SIGIR'09) — the standard
    * two-tower search stack (what "BM25 + embeddings" means in every
    * modern RAG/curation system) as one registered operator.
    *
    *  - Lexical leg: [[bm25TopK]]'s top `poolK` (compiled doc-stats
    *    kernel, TakeOrdered), ranked (score DESC, id ASC).
    *  - Vector leg: whole-doc signed feature-hash embedding (the
    *    [[hashEmbedChunks]] trick at doc grain, dim buckets) via the
    *    FUSED tokenize-and-embed kernel [[graft.functions.HashEmbedText]]
    *    — the declarative per-bucket folds interpret dim passes per doc
    *    (141.7s at 1M docs), the array-kernel + regexp tokenizer still
    *    pays the regex engine and token materialization (26.3s); the
    *    fused byte scan brings the whole query to 8.5s — scored by
    *    INTEGER dot product against the query string's own embedding —
    *    signed-hash embeds are integer vectors, so the dot is exact and
    *    the ranking cannot drift cross-engine (cosine's float sqrt
    *    could flip near-ties); top `poolK` via TakeOrdered. The query
    *    embedding is a one-row broadcast.
    *  - Fusion: RRF in exact integers — `1000000 div (rrfK + rank)`
    *    summed over the legs where the doc appears (absent leg
    *    contributes 0; ranks coalesce to 0 in the output), final
    *    ordering (fused DESC, id ASC), `LIMIT k`.
    *
    * Plan shape: two corpus scans (one per leg — each is one projection
    * + TakeOrdered; a shared-scan fusion would force the kernel AND the
    * embed fold into one projection, serializing what AQE runs as two
    * independent stages), rank windows only over the poolK-row pools
    * (single-partition but bounded by `poolK`, never corpus-sized), and
    * the legs join on id at poolK cardinality.
    */
  def hybridTopK(docs: DataFrame, id: String, text: String,
                 terms: Seq[String], k: Int = 20, poolK: Int = 50,
                 dim: Int = 16, rrfK: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    graft.functions.VectorFunctions.ensureRegistered(spark)
    def embed(toks: String) = s"graft_hash_embed($toks, $dim)"
    val qText = terms.mkString(" ")
    val lexPool = bm25TopK(docs, id, text, terms, poolK)
      .withColumn("r_lex", row_number().over(
        Window.orderBy(col("score_milli").desc, col(id).asc)))
      .select(col(id), col("r_lex"))
    val qv = spark.range(1).select(expr(embed(
      s"regexp_extract_all('$qText', '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)")).as("qv"))
    val vecPool = graft.functions.VectorFunctions.attach(docs)
      .select(col(id), expr(s"graft_hash_embed_text($text, $dim)").as("dv"))
      .crossJoin(broadcast(qv))
      .select(col(id), expr(
        "aggregate(zip_with(dv, qv, (a, b) -> a * b), cast(0 AS BIGINT), (acc, x) -> acc + x)")
        .as("dot"))
      .orderBy(col("dot").desc, col(id).asc).limit(poolK)
      .withColumn("r_vec", row_number().over(
        Window.orderBy(col("dot").desc, col(id).asc)))
      .select(col(id), col("r_vec"))
    lexPool.join(vecPool, Seq(id), "full_outer")
      .select(col(id),
        coalesce(col("r_lex"), lit(0)).as("r_lex"),
        coalesce(col("r_vec"), lit(0)).as("r_vec"))
      .withColumn("rrf_milli",
        expr(s"IF(r_lex > 0, 1000000 div ($rrfK + r_lex), 0L) + " +
          s"IF(r_vec > 0, 1000000 div ($rrfK + r_vec), 0L)"))
      .orderBy(col("rrf_milli").desc, col(id).asc)
      .limit(k)
  }

  /** DuckDB twin of [[hybridTopK]] — same two pools, same integer RRF. */
  def hybridTopKSql(table: String, id: String, text: String,
                    terms: Seq[String], k: Int = 20, poolK: Int = 50,
                    dim: Int = 16, rrfK: Int = 60): String = {
    val h = PortableHash.duckStringHash("t")
    def embed(toks: String) =
      s"""list_transform(generate_series(0, ${dim - 1}), j ->
         |    list_reduce(list_prepend(0::BIGINT, list_transform($toks, t ->
         |      CASE WHEN ($h % $dim) = j
         |           THEN (CASE WHEN (($h // $dim) % 2) = 0 THEN -1 ELSE 1 END)::BIGINT
         |           ELSE 0::BIGINT END)), (a, b) -> a + b))""".stripMargin
    val qText = terms.mkString(" ")
    s"""WITH lex AS (
       |  SELECT $id, row_number() OVER (ORDER BY score_milli DESC, $id ASC) AS r_lex
       |  FROM (${bm25TopKSql(table, id, text, terms, poolK)})),
       |qv AS (SELECT ${embed(s"regexp_extract_all('$qText', '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')")} AS qv),
       |dots AS (
       |  SELECT $id,
       |    list_reduce(list_prepend(0::BIGINT,
       |      list_transform(generate_series(1, ${dim}), i -> dv[i] * qv[i])),
       |      (a, b) -> a + b) AS dot
       |  FROM (SELECT $id, ${embed(s"regexp_extract_all($text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')")} AS dv
       |        FROM $table), qv),
       |vec AS (
       |  SELECT $id, row_number() OVER (ORDER BY dot DESC, $id ASC) AS r_vec
       |  FROM (SELECT $id, dot FROM dots ORDER BY dot DESC, $id ASC LIMIT $poolK)),
       |fused AS (
       |  SELECT $id,
       |    coalesce(r_lex, 0)::INT AS r_lex, coalesce(r_vec, 0)::INT AS r_vec
       |  FROM lex FULL OUTER JOIN vec USING ($id))
       |SELECT $id, r_lex, r_vec,
       |  (CASE WHEN r_lex > 0 THEN 1000000 // ($rrfK + r_lex) ELSE 0 END +
       |   CASE WHEN r_vec > 0 THEN 1000000 // ($rrfK + r_vec) ELSE 0 END)::BIGINT AS rrf_milli
       |FROM fused
       |ORDER BY rrf_milli DESC, $id ASC LIMIT $k""".stripMargin
  }

  /** Model-based quality filtering — the fastText-classifier stage of a
    * modern pretraining pipeline (FineWeb-Edu, DCLM) as Spark plumbing:
    * feature-hash each token into `dim` buckets, dot with a weight
    * vector, threshold the score. One corpus scan, zero shuffle; the
    * weight table is dim-sized and rides in the expression.
    *
    * The WEIGHTS here are a deterministic integer placeholder
    * (`w(i) = (i·37 + 11) mod 2001 − 1000`) standing in for trained
    * parameters — this container cannot train or ship a real
    * classifier, so like Multimodal's FakeCodec the model is an honest
    * stub and the engine side (hashing, bucketing, linear scoring,
    * thresholding, cross-engine determinism) is real: swapping in
    * trained weights changes one function. Integer weights make the
    * logit an exact integer sum, so the oracle hashes bit-identically;
    * the sigmoid is monotone, so thresholding the raw normalized logit
    * is the same decision rule without per-row `exp` (libm drift).
    */
  def hashClassifierScore(docs: DataFrame, id: String, text: String,
                          dim: Int = 4096): DataFrame = {
    val tok = s"filter(split($text, ' '), w -> w <> '')"
    // the logit loop is the compiled graft_classifier_logit (one
    // md5-per-token pass): a declarative HOF loop pays an interpreted
    // lambda plus a hex-string parse per token (measured 4x at 1M docs);
    // the oracle runs the DuckDB twin below
    graft.functions.VectorFunctions.attach(docs)
      .select(col(id),
        expr(s"size($tok)").as("n_tokens"),
        expr(s"graft_classifier_logit(split($text, ' '), $dim)").as("logit"))
      .where(col("n_tokens") > 0)
      .withColumn("score", round(col("logit").cast("double") /
        (col("n_tokens") * 1000.0), 6))
      .withColumn("keep", (col("score") >= 0.0).cast("int"))
  }

  /** DuckDB twin of [[hashClassifierScore]]. */
  def hashClassifierScoreSql(table: String, id: String, text: String,
                             dim: Int = 4096): String = {
    val tok = s"list_filter(string_split($text, ' '), w -> w <> '')"
    val h = graft.ops.PortableHash.duckStringHash("t")
    val wExpr = s"((($h % $dim) * 37 + 11) % 2001) - 1000"
    s"""SELECT $id, n_tokens, logit,
       |  round(logit::DOUBLE / (n_tokens * 1000.0), 6) AS score,
       |  CASE WHEN round(logit::DOUBLE / (n_tokens * 1000.0), 6) >= 0.0
       |       THEN 1 ELSE 0 END AS keep
       |FROM (
       |  SELECT $id, len($tok) AS n_tokens,
       |    list_reduce(list_prepend(0::BIGINT,
       |      list_transform($tok, t -> ($wExpr)::BIGINT)),
       |      (acc, v) -> acc + v) AS logit
       |  FROM $table) WHERE n_tokens > 0""".stripMargin
  }

  /** [[hashClassifierScore]] with the TRAINED committed weight table
    * ([[QualityClassifier]]): logistic-regression weights learned over
    * the bounded hashed feature space from the planted labeled fixture,
    * quantized to integer milli-units so the logit stays an exact
    * integer sum (same cross-engine contract as the placeholder
    * variant). `score >= 0` is the LR decision boundary. Same plan
    * shape: one corpus scan, zero shuffle, compiled kernel.
    */
  def trainedClassifierScore(docs: DataFrame, id: String, text: String): DataFrame = {
    val tok = s"filter(split($text, ' '), w -> w <> '')"
    graft.functions.VectorFunctions.attach(docs)
      .select(col(id),
        expr(s"size($tok)").as("n_tokens"),
        expr(s"graft_classifier_logit_t(split($text, ' '))").as("logit"))
      .where(col("n_tokens") > 0)
      .withColumn("score", round(col("logit").cast("double") /
        (col("n_tokens") * 1000.0), 6))
      .withColumn("keep", (col("score") >= 0.0).cast("int"))
  }

  /** Declarative Spark twin of the trained compiled logit (parity
    * baseline — the committed table rides as an array literal).
    */
  def trainedClassifierLogitHof(text: String): String = {
    val tok = s"filter(split($text, ' '), w -> w <> '')"
    val h = graft.ops.PortableHash.sparkStringHash("t")
    val arr = QualityClassifier.Weights.mkString("array(", ", ", ")")
    s"aggregate(transform($tok, t -> " +
      s"cast(element_at($arr, cast(($h % ${QualityClassifier.Dim}) AS INT) + 1) AS BIGINT)), " +
      "cast(0 AS BIGINT), (acc, v) -> acc + v)"
  }

  /** DuckDB twin of [[trainedClassifierScore]] (same committed table as
    * a list literal — the oracle replays scoring with the trained
    * weights exactly).
    */
  def trainedClassifierScoreSql(table: String, id: String, text: String): String = {
    val tok = s"list_filter(string_split($text, ' '), w -> w <> '')"
    val h = graft.ops.PortableHash.duckStringHash("t")
    val arr = QualityClassifier.Weights.mkString("[", ", ", "]")
    s"""SELECT $id, n_tokens, logit,
       |  round(logit::DOUBLE / (n_tokens * 1000.0), 6) AS score,
       |  CASE WHEN round(logit::DOUBLE / (n_tokens * 1000.0), 6) >= 0.0
       |       THEN 1 ELSE 0 END AS keep
       |FROM (
       |  SELECT $id, len($tok) AS n_tokens,
       |    list_reduce(list_prepend(0::BIGINT,
       |      list_transform($tok, t -> (($arr)[(($h % ${QualityClassifier.Dim}) + 1)])::BIGINT)),
       |      (acc, v) -> acc + v) AS logit
       |  FROM $table) WHERE n_tokens > 0""".stripMargin
  }

  /** DuckDB fragment: the `s_<lang>` scores folded into `lang_pred` as a
    * single nested-CASE select-list item (the twin of [[langBestCol]]).
    */
  private def langIdScores(text: String): String = {
    val langs = langMarkers.map(_._1)
    val scoreOf = langMarkers.map { case (l, ws) =>
      l -> s"len(list_intersect(list_distinct(string_split($text, ' ')), ${markerList(ws, "duck")}))"
    }.toMap
    val best = langs.foldRight("'und'") { (l, acc) =>
      val wins = (langs.filter(_ < l).map(o => s"${scoreOf(l)} > ${scoreOf(o)}") ++
        langs.filter(_ > l).map(o => s"${scoreOf(l)} >= ${scoreOf(o)}") :+ s"${scoreOf(l)} > 0")
        .mkString(" AND ")
      s"CASE WHEN $wins THEN '$l' ELSE $acc END"
    }
    s"$best AS lang_pred"
  }

  /** Document chunking: split each doc into OVERLAPPING token windows
    * (`size` tokens, step `stride`, overlap = size − stride) — the prep
    * op for embedding pipelines, where model context length bounds the
    * chunk and the overlap preserves cross-boundary recall. Emits
    * (doc_id, chunk_idx, n_tokens, chunk_hash): the hash is the portable
    * hash of the space-joined chunk tokens — ONE native md5 per chunk
    * (codegen-friendly), and the cross-engine witness that both engines
    * cut identical windows. Tokens are the engine's standard BPE-ish
    * alternation; its branches are disjoint character classes, so
    * Java-regex and RE2 tokenize identically.
    *
    * Scale shape: pure per-row projection + explode — zero shuffle, and
    * the chunk fan-out is bounded by ~n_tokens/stride per doc.
    * Empty-token docs produce no chunks (no zero-token chunk rows).
    * Measured: 1M docs → ~2.5M chunks in 9.8s on local[32] (the cost is
    * the token-array materialization + one md5 per chunk; linear, so
    * cluster throughput is executors × per-core constant — and was 2×
    * that before the raw-column empty filter below). Stateless — runs
    * unchanged on a streaming Dataset.
    */
  /** Token expression of a chunk grain: on [[WordGrain.Ws]] (default)
    * the BPE-ish compiled alternation both engines share, not the
    * whitespace split; on [[WordGrain.CjkAuto]] the
    * script-dominance-routed WORD grain (empties dropped) — the chunk
    * denomination an embedding pipeline wants when its encoder counts
    * words, where a "512-token" window on an unsegmented corpus must
    * mean 512 routed tokens, not 512 whitespace mega-tokens. Either
    * grain yields ≥1 token iff any non-space char exists, so the
    * raw-column empty filter below serves both. [[Datacard]] publishes
    * its token totals in the same grain.
    */
  private def chunkTokExpr(text: String, grain: ScalarGrain): String = grain match {
    case Ws => s"regexp_extract_all($text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)"
    case CjkAuto => grain.sparkTokens(text, keepEmpties = false)
  }
  private[ops] def chunkTokDuck(text: String, grain: ScalarGrain): String = grain match {
    case Ws => s"regexp_extract_all($text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')"
    case CjkAuto => grain.duckTokens(text, keepEmpties = false)
  }

  /** `size(chunkTokExpr(text, grain))` as a compiled count-only walk. */
  private[ops] def chunkTokCount(text: String, grain: ScalarGrain): String = grain match {
    case Ws => s"graft_token_count($text)"
    case CjkAuto => s"graft_word_count($text, '${grain.name}')"
  }

  def chunkDocuments(df: DataFrame, id: String, text: String,
                     size: Int = 32, stride: Int = 24,
                     grain: ScalarGrain = Ws): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    // empty-doc filter on the RAW column, not on size(toks): a computed-
    // column filter gets pushed below the projection with the regexp
    // substituted in, tokenizing every doc twice (Explain showed the
    // duplicate). Equivalent: >=1 token iff any non-space char exists
    // (every non-space char matches one alternation branch).
    graft.functions.VectorFunctions.attach(df)
      .where(col(text).isNotNull && trim(col(text)) =!= "")
      .select(col(id).as("doc_id"),
        expr(chunkTokExpr(text, grain)).as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, cast(greatest(ceil((size(toks) - $size) / cast($stride AS DOUBLE)), 0) AS INT)), " +
          s"i -> slice(toks, i * $stride + 1, $size))")))
      .select(col("doc_id"), col("pos").cast("int").as("chunk_idx"),
        expr("cast(size(col) AS BIGINT)").as("n_tokens"),
        expr(PortableHash.sparkStringHash("array_join(col, ' ')")).as("chunk_hash"))
  }

  /** Chunk + HASH-EMBED in one projection: [[chunkDocuments]]'s token
    * windows mapped to a `dim`-dimensional signed feature-hash vector
    * (the hashing trick: token t adds ±1 to bucket `H(t) mod dim`, sign
    * from the next hash bit) — the deterministic, engine-exact stand-in
    * for a neural encoder that makes the chunk→embed→index→probe
    * pipeline testable end to end cross-engine (same role the planted
    * codecs play for multimodal). Swapping in real model vectors changes
    * this one projection. Emits (v_id, vec): v_id = doc_id·100000 +
    * chunk_idx, vec integer-valued doubles (exact on both engines).
    *
    * Scale shape: identical to [[chunkDocuments]] — one corpus scan,
    * per-row projection + bounded explode, zero shuffle.
    */
  def hashEmbedChunks(df: DataFrame, id: String, text: String,
                      size: Int = 32, stride: Int = 24,
                      dim: Int = 16, grain: ScalarGrain = Ws): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size && dim > 0,
      s"need 0 < stride <= size and dim > 0, got size=$size stride=$stride dim=$dim")
    graft.functions.VectorFunctions.ensureRegistered(df.sparkSession)
    df.where(col(text).isNotNull && trim(col(text)) =!= "")
      .select(col(id).as("doc_id"),
        expr(chunkTokExpr(text, grain)).as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, cast(greatest(ceil((size(toks) - $size) / cast($stride AS DOUBLE)), 0) AS INT)), " +
          s"i -> slice(toks, i * $stride + 1, $size))")))
      .select(expr("doc_id * 100000 + pos").as("v_id"),
        // compiled signed-hash fold; the trailing per-element double cast
        // is dim-sized, not token-sized
        expr(s"transform(graft_hash_embed(col, $dim), x -> cast(x AS DOUBLE))")
          .as("vec"))
  }

  /** DuckDB twin of [[hashEmbedChunks]] — a parenthesized derived table
    * emitting (v_id, vec), shaped to slot into the index-twin SQL's
    * `table` parameter.
    */
  def hashEmbedChunksSql(table: String, id: String, text: String,
                         size: Int = 32, stride: Int = 24,
                         dim: Int = 16, grain: ScalarGrain = Ws): String = {
    val h = PortableHash.duckStringHash("t")
    s"""(WITH etoks AS (
       |  SELECT $id AS doc_id,
       |    ${chunkTokDuck(text, grain)} AS toks
       |  FROM $table),
       |ech AS (
       |  SELECT doc_id, i AS chunk_idx,
       |    list_slice(toks, i * $stride + 1, i * $stride + $size) AS ctoks
       |  FROM (SELECT * FROM etoks WHERE len(toks) > 0),
       |    UNNEST(generate_series(0,
       |      greatest(ceil((len(toks) - $size) / ${stride}.0), 0)::BIGINT)) AS t(i))
       |SELECT doc_id * 100000 + chunk_idx AS v_id,
       |  list_transform(generate_series(0, ${dim - 1}), j ->
       |    (list_reduce(list_prepend(0::BIGINT, list_transform(ctoks, t ->
       |      CASE WHEN ($h % $dim) = j
       |           THEN (CASE WHEN (($h // $dim) % 2) = 0 THEN -1 ELSE 1 END)::BIGINT
       |           ELSE 0::BIGINT END)),
       |      (a, b) -> a + b))::DOUBLE) AS vec
       |FROM ech)""".stripMargin
  }

  /** Late-interaction MaxSim retrieval (the ColBERT scoring shape over
    * this engine's deterministic hash embeddings) — the third retrieval
    * paradigm next to [[bm25TopK]] (lexical) and the ANN family
    * (single-vector dense): score(doc) = Σ_term max_chunk
    * dot(term_emb, chunk_emb), so each query term independently finds
    * its best-matching CHUNK and a doc wins by covering all terms
    * somewhere, not by one chunk matching everything — what
    * single-vector retrieval structurally cannot express.
    *
    * Determinism: chunk embeddings are the signed-hash integer vectors
    * of [[hashEmbedChunks]] (double-typed but integer-valued — exact
    * until 2^53, and dots here are bounded by chunk size); query-term
    * embeddings are computed ONCE driver-side from the portable hash
    * (PortableHashSpec pins jvm = spark = duck) and inlined as
    * literals on BOTH engines. Scale shape: one corpus scan to chunk
    * embeddings, a broadcast |terms|-row cross join, two keyed partial
    * aggs (max per (doc, term), sum per doc), TakeOrdered(k) — no
    * global sort, exchanges carry (doc, term, dot) longs.
    */
  /** Driver-side one-hot signed-hash embedding of a single query term —
    * the literal both [[maxSimTopK]] and [[maxSimTopKSql]] inline, so
    * the two engines cannot diverge on it (it replays the same
    * bucket/sign formula as the chunk-side kernels, over the
    * spec-pinned jvm = spark = duck portable hash).
    */
  private def termEmbed(t: String, dim: Int): Seq[Double] = {
    val h = PortableHash.jvmStringHash(t)
    Seq.tabulate(dim)(j =>
      if (h % dim == j) { if ((h / dim) % 2 == 0) -1.0 else 1.0 } else 0.0)
  }

  def maxSimTopK(docs: DataFrame, id: String, text: String,
                 terms: Seq[String], k: Int = 10,
                 size: Int = 32, stride: Int = 24,
                 dim: Int = 16): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val s = docs.sparkSession
    import s.implicits._
    val chunks = hashEmbedChunks(docs, id, text, size, stride, dim)
      .select(expr("v_id div 100000").as("did"), col("vec"))
    val qterms = terms.zipWithIndex
      .map { case (t, i) => (i, termEmbed(t, dim)) }.toDF("q_idx", "qv")
    val dot = "cast(aggregate(zip_with(vec, qv, (a, b) -> a * b), " +
      "cast(0.0 AS DOUBLE), (acc, v) -> acc + v) AS BIGINT)"
    chunks.crossJoin(broadcast(qterms))
      .select(col("did"), col("q_idx"), expr(dot).as("d"))
      .groupBy(col("did"), col("q_idx")).agg(max(col("d")).as("mx"))
      .groupBy(col("did")).agg(sum(col("mx")).as("maxsim"))
      .orderBy(col("maxsim").desc, col("did").asc).limit(k)
      .select(col("did").as(id), col("maxsim"))
  }

  /** DuckDB twin of [[maxSimTopK]] (same driver-side literal term
    * embeddings).
    */
  def maxSimTopKSql(table: String, id: String, text: String,
                    terms: Seq[String], k: Int = 10,
                    size: Int = 32, stride: Int = 24,
                    dim: Int = 16): String = {
    val qt = terms.zipWithIndex.map { case (t, i) =>
      s"SELECT $i AS q_idx, ${termEmbed(t, dim).mkString("[", ", ", "]")}::DOUBLE[] AS qv"
    }.mkString(" UNION ALL ")
    s"""WITH chunks AS (
       |  SELECT v_id // 100000 AS did, vec
       |  FROM ${hashEmbedChunksSql(table, id, text, size, stride, dim)}),
       |qt AS ($qt),
       |dots AS (
       |  SELECT did, q_idx,
       |    (list_reduce(list_prepend(0.0::DOUBLE,
       |       list_transform(generate_series(1, $dim), j -> vec[j] * qv[j])),
       |      (a, b) -> a + b))::BIGINT AS d
       |  FROM chunks, qt),
       |mx AS (SELECT did, q_idx, max(d) AS mx FROM dots GROUP BY 1, 2)
       |SELECT did AS $id, sum(mx)::BIGINT AS maxsim
       |FROM mx GROUP BY 1
       |ORDER BY maxsim DESC, $id ASC LIMIT $k""".stripMargin
  }

  /** DuckDB twin of [[chunkDocuments]]. */
  def chunkDocumentsSql(table: String, id: String, text: String,
                        size: Int = 32, stride: Int = 24,
                        grain: ScalarGrain = Ws): String =
    s"""WITH toks AS (
       |  SELECT $id AS doc_id,
       |    ${chunkTokDuck(text, grain)} AS toks
       |  FROM $table),
       |ch AS (
       |  SELECT doc_id, i AS chunk_idx,
       |    list_slice(toks, i * $stride + 1, i * $stride + $size) AS ctoks
       |  FROM (SELECT * FROM toks WHERE len(toks) > 0),
       |    UNNEST(generate_series(0,
       |      greatest(ceil((len(toks) - $size) / ${stride}.0), 0)::BIGINT)) AS t(i))
       |SELECT doc_id, chunk_idx::INT AS chunk_idx,
       |  len(ctoks)::BIGINT AS n_tokens,
       |  ${PortableHash.duckStringHash("array_to_string(ctoks, ' ')")} AS chunk_hash
       |FROM ch""".stripMargin

  /** SENTENCE-ALIGNED chunking (round 14) — the RAG chunker
    * [[sentences]] exists to feed: sentences are packed into
    * fixed-token-BUDGET bins instead of being cut mid-sentence (the
    * retrieval-quality failure of fixed windows). The bin rule is the
    * deterministic prefix-sum discipline: a sentence with `before`
    * tokens accumulated ahead of it in its document lands in chunk
    * `before div size` — sentences never split (a sentence longer
    * than `size` owns its bins; budgets are thresholds, not hard
    * caps), order is preserved, and the rule is pure integer
    * arithmetic so both engines agree exactly.
    *
    * Grain: [[WordGrain.Ws]] (BPE-ish compiled count) or
    * [[WordGrain.CjkAuto]] (routed word count) — with the r14 full-width sentence boundaries this is
    * the first chunker that does the right thing end-to-end on zh/ja:
    * real sentence units, real token budgets.
    *
    * Scale shape: ZERO shuffle — packing is per-document by
    * definition, so the compiled kernel does split + count + pack in
    * one scan projection and the plan is scan → project → explode
    * (streaming-safe; at 100 TB the window/groupBy construction would
    * shuffle the full text corpus for nothing).
    */
  def chunkBySentences(df: DataFrame, id: String, text: String,
                       size: Int = 64,
                       grain: ScalarGrain = Ws): DataFrame = {
    require(size > 0, s"need size > 0, got $size")
    // COMPILED row-local form (graft_sentence_chunks): the packing is
    // per-document by definition, so the window/groupBy construction —
    // which shuffles the FULL TEXT corpus through its doc-keyed
    // exchange — is pure overhead; the kernel emits finished chunks
    // from the scan projection (ZERO shuffle, streaming-safe).
    // [[chunkBySentencesRelational]] is the spec-pinned parity
    // baseline and the shape the DuckDB oracle replays.
    graft.functions.VectorFunctions.attach(df)
      .select(col(id),
        explode(expr(s"graft_sentence_chunks($text, $size, '${grain.name}')")).as("c"))
      .select(col(id), col("c.chunk_idx").as("chunk_idx"),
        col("c.n_sentences").as("n_sentences"),
        col("c.n_tokens").as("n_tokens"),
        col("c.chunk_text").as("chunk_text"))
  }

  /** The declarative window/groupBy construction of
    * [[chunkBySentences]] — the parity baseline the spec pins the
    * kernel against and the relational shape [[chunkBySentencesSql]]
    * replays. NOTE the one contract difference: this form's
    * groupBy(id, chunk) MERGES rows that collide on id; the kernel
    * (correctly) chunks each row independently — parity holds on
    * unique-id corpora, which is the documented chunker contract.
    */
  private[graft] def chunkBySentencesRelational(
      df: DataFrame, id: String, text: String,
      size: Int = 64, grain: ScalarGrain = Ws): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(size > 0, s"need size > 0, got $size")
    val cnt = chunkTokCount("sentence", grain)
    val w = Window.partitionBy(col(id)).orderBy(col("sent_idx"))
    sentences(graft.functions.VectorFunctions.attach(df), id, text)
      .withColumn("__n", expr(cnt).cast("long"))
      .withColumn("__before", sum(col("__n")).over(w) - col("__n"))
      .withColumn("chunk_idx", expr(s"CAST(__before div $size AS INT)"))
      .groupBy(col(id), col("chunk_idx"))
      .agg(count(lit(1)).cast("long").as("n_sentences"),
        sum(col("__n")).as("n_tokens"),
        expr("array_join(transform(array_sort(" +
          "collect_list(struct(sent_idx, sentence))), x -> x.sentence), ' ')")
          .as("chunk_text"))
  }

  /** DuckDB twin of [[chunkBySentences]]. */
  def chunkBySentencesSql(table: String, id: String, text: String,
                          size: Int = 64,
                          grain: ScalarGrain = Ws): String = {
    val cnt = s"len(${chunkTokDuck("sentence", grain)})"
    s"""WITH s AS (${sentencesSql(table, id, text)}),
       |t AS (SELECT $id, sent_idx, sentence, ($cnt)::BIGINT AS n FROM s),
       |c AS (SELECT *,
       |  (sum(n) OVER (PARTITION BY $id ORDER BY sent_idx) - n) AS before
       |  FROM t)
       |SELECT $id, (before // $size)::INT AS chunk_idx,
       |  count(*)::BIGINT AS n_sentences, sum(n)::BIGINT AS n_tokens,
       |  string_agg(sentence, ' ' ORDER BY sent_idx) AS chunk_text
       |FROM c GROUP BY 1, 2""".stripMargin
  }

  /** Chunk MANIFEST — the metadata-sized audit a chunking run publishes
    * before encoding: chunks, docs, mean chunk fill (integer milli of
    * the window), and the short-fragment count (< size/2 — the tail
    * fragments a mix decides to drop or re-pack; with stride < size a
    * tail always exceeds size − stride, so the counter bites on
    * non-overlapping configs).
    *
    * CLOSED FORM, no explode: per doc with n tokens,
    * k = max(⌈(n−size)/stride⌉, 0) + 1 chunks, of which the first k−1
    * are full (`size` tokens — for i ≤ k−2, i·stride + size < n by k's
    * definition) and the tail holds n − (k−1)·stride (> size − stride,
    * ≤ size). Every statistic is integer arithmetic over (n, k), so
    * the manifest is one compiled token-count scan (`graft_token_count`
    * — the same token classes as [[chunkDocuments]]' regex, kernelized)
    * + a scalar agg — at 1M docs this read 22.4s through
    * [[chunkDocuments]]' slice materialization, 10.4s with the formula
    * over interpreted regexp_extract_all, 3.3s compiled (each a cold
    * solo JVM). The DuckDB
    * twin DELIBERATELY aggregates the exploded chunk grain instead:
    * the driver's hash compare then pins formula ≡ grain (and kernel ≡
    * regex tokenization) on every corpus it runs.
    */
  def chunkManifest(df: DataFrame, id: String, text: String,
                    size: Int = 32, stride: Int = 24,
                    grain: ScalarGrain = Ws): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    // the closed-form arithmetic must ride the SAME grain the chunker
    // cuts: the routed grain's count-only kernel on cjk-auto, the
    // BPE-ish token kernel on ws
    val cnt = chunkTokCount(text, grain)
    graft.functions.VectorFunctions.attach(df)
      .where(col(text).isNotNull && trim(col(text)) =!= "")
      .select(col(id).as("__id"),
        expr(cnt).cast("long").as("n"))
      .select(col("__id"), col("n"), expr(
        s"CAST(greatest(ceil((n - $size) / cast($stride AS DOUBLE)), 0) AS BIGINT) + 1")
        .as("k"))
      // n_docs = DISTINCT ids, matching the oracle's count over the
      // exploded grain — plain count(*) would diverge on duplicate ids
      // coalesce the zero-row sums: on an empty (or all-blank) corpus
      // Spark's sum yields NULL while the oracle's count(*)-over-grain
      // twin yields 0 — same pattern as Datacard.datacard
      .agg(coalesce(sum(col("k")), lit(0L)).as("n_chunks"),
        countDistinct(col("__id")).as("n_docs"),
        sum(expr(s"(k - 1) * $size + (n - (k - 1) * $stride)")).as("__tok"),
        coalesce(sum(expr(s"IF(n - (k - 1) * $stride < ${size / 2}, 1L, 0L)")),
          lit(0L)).as("n_short"))
      .select(col("n_chunks"), col("n_docs"),
        expr(s"CAST(1000 * __tok div (n_chunks * $size) AS BIGINT)").as("fill_milli"),
        col("n_short"))
  }

  /** DuckDB twin of [[chunkManifest]] — over the EXPLODED chunk grain
    * (see the formula-vs-grain pinning note on the Spark side).
    */
  def chunkManifestSql(table: String, id: String, text: String,
                       size: Int = 32, stride: Int = 24,
                       grain: ScalarGrain = Ws): String =
    s"""SELECT count(*)::BIGINT AS n_chunks,
       |  count(DISTINCT doc_id)::BIGINT AS n_docs,
       |  ((1000 * sum(n_tokens)) // (count(*) * $size))::BIGINT AS fill_milli,
       |  coalesce(CAST(sum(CASE WHEN n_tokens < ${size / 2} THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_short
       |FROM (${chunkDocumentsSql(table, id, text, size, stride, grain)})""".stripMargin
}
