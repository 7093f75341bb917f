package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Subword (BPE) tokenization — the denomination a training pipeline
  * actually budgets and packs in (regex word-tokens can be 2-3× off per
  * language, so every token-denominated decision drifts with them).
  *
  * The public byte-pair-encoding construction (Sennrich et al. 2016):
  * start from single characters and merge adjacent unit pairs according
  * to a learned, rank-ordered merge table. This engine ships a small
  * COMMITTED merge table (no external model can be trained or downloaded
  * in this environment — swapping in a learned table changes one
  * constant) and applies it with the apply-merges tokenizer shape, as a
  * pure closed-form expression both engines evaluate identically:
  *
  *  - the text becomes a unit string with U+0001 separators on BOTH
  *    sides of every character (`␁c␁c␁…␁` — one regexp pass, `(?s)` so
  *    newlines are units too);
  *  - each merge `(a, b)` in RANK ORDER rewrites the fully boundary-
  *    delimited pattern `␁a␁b␁ → ␁ab␁` with plain `replace`, TWICE:
  *    a left-to-right pass consumes the trailing `␁` of each match,
  *    which is the leading `␁` of an immediately adjacent occurrence,
  *    so one pass merges alternate occurrences of back-to-back pairs
  *    and the second pass catches the skipped ones (their neighbors are
  *    now merged units, so every remaining occurrence has both
  *    boundaries intact). For `a ≠ b` occurrences cannot overlap, so
  *    the two passes produce EXACTLY the standard left-to-right
  *    non-overlapping merge of one tokenizer epoch;
  *  - tokens are the remaining units minus the space units (space is
  *    the word boundary: merges never form across it because the space
  *    unit sits between the words' units).
  *
  * Table constraints (documented, enforced by require): merge sides are
  * alphanumeric (they ride inside string literals on both engines) and
  * `a != b` — a self-pair's left-to-right pairing over an odd-length run
  * is scan-order-dependent and not reproducible in this closed form; a
  * learned table simply skips self-pairs. DOCUMENTED DIVERGENCE from
  * the fixed-point tokenizer loop: each merge is applied once in rank
  * order, so a pair RE-CREATED by a later merge is not revisited (true
  * BPE iterates to a fixed point). With rank-ordered tables (a
  * compound's parts always rank earlier) the difference is rare on
  * natural text, and the single-epoch form is what keeps tokenization a
  * zero-shuffle whole-stage-codegen projection — linear at 100 TB.
  */
object Bpe {

  /** Unit separator: U+0001 cannot appear in sane corpus text; any
    * occurrence is stripped first so the representation stays
    * well-defined on adversarial input (both engines strip identically).
    */
  val Sep = "\u0001"

  /** The committed merge table, in BPE rank order (a compound's parts
    * always appear before the compound — the invariant a learned table
    * satisfies by construction). English-ish bigrams plus digit pairs so
    * number tokenization is exercised.
    */
  val merges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", // the
    "i" -> "n", "in" -> "g", // ing
    "a" -> "n", "an" -> "d", // and
    "e" -> "r", "o" -> "n", "r" -> "e", "a" -> "t", "e" -> "n",
    "o" -> "r", "e" -> "s", "t" -> "o", "i" -> "s", "o" -> "u",
    "a" -> "r", "e" -> "d", "o" -> "f", "i" -> "t", "a" -> "l",
    "s" -> "t", "l" -> "e",
    "i" -> "o", "io" -> "n", // ion
    "c" -> "h", "q" -> "u",
    "1" -> "0", "1" -> "2")

  require(merges.forall { case (a, b) =>
    a != b && (a + b).forall(_.isLetterOrDigit)
  }, "merge sides must be alphanumeric and distinct (see scaladoc)")

  /** One boundary-delimited merge pass, applied twice (see scaladoc). */
  private def mergePasses(base: String): String =
    merges.foldLeft(base) { case (acc, (a, b)) =>
      val once = s"replace($acc, '$Sep$a$Sep$b$Sep', '$Sep$a$b$Sep')"
      s"replace($once, '$Sep$a$Sep$b$Sep', '$Sep$a$b$Sep')"
    }

  /** Spark expression: ARRAY<STRING> of the BPE tokens of `text` — the
    * compiled kernel ([[graft.functions.HashOps.bpeTokens]]: one
    * unit-list pass per merge). Requires the graft functions to be
    * registered (`VectorFunctions.attach`).
    */
  def sparkTokensExpr(text: String): String = s"graft_bpe_tokens($text)"

  /** Spark expression: BIGINT BPE token count of `text` (compiled). */
  def sparkTokenCountExpr(text: String): String = s"graft_bpe_count($text)"

  /** Declarative boundary-replace twin of [[sparkTokensExpr]] — the
    * parity baseline BpeSpec pins the compiled kernel against (the
    * DuckDB oracle runs this same construction in its dialect). ~60
    * interpreted string scans per row; the kernel replaces it in the
    * hot path.
    */
  def hofTokensExpr(text: String): String = {
    val base =
      s"concat('$Sep', regexp_replace(replace($text, '$Sep', ''), '(?s)(.)', '$$1$Sep'))"
    s"filter(split(${mergePasses(base)}, '$Sep'), u -> u <> '' AND u <> ' ')"
  }

  /** DuckDB twin of [[sparkTokensExpr]]. */
  def duckTokensExpr(text: String): String = {
    val base =
      s"('$Sep' || regexp_replace(replace($text, '$Sep', ''), '(?s)(.)', '\\1$Sep', 'g'))"
    s"list_filter(string_split(${mergePasses(base)}, '$Sep'), u -> u <> '' AND u <> ' ')"
  }

  /** DuckDB twin of [[sparkTokenCountExpr]]. */
  def duckTokenCountExpr(text: String): String =
    s"len(${duckTokensExpr(text)})::BIGINT"

  /** Per-doc BPE tokenization: word count (the old denomination, kept so
    * the divergence is visible in the result itself), BPE token count,
    * and the first `firstK` tokens joined by '|' (the cross-engine
    * witness that both engines produced the SAME token sequence, not
    * just the same count).
    */
  def bpeTokens(df: DataFrame, id: String, text: String,
                firstK: Int = 8): DataFrame =
    graft.functions.VectorFunctions.attach(df).select(col(id),
      expr(s"cast(size(split($text, ' ')) AS BIGINT)").as("n_words"),
      expr(sparkTokensExpr(text)).as("__toks"))
      .select(col(id), col("n_words"),
        expr("cast(size(__toks) AS BIGINT)").as("n_bpe_tokens"),
        expr(s"array_join(slice(__toks, 1, $firstK), '|')").as("first_tokens"))

  /** DuckDB twin of [[bpeTokens]]. */
  def bpeTokensSql(table: String, id: String, text: String,
                   firstK: Int = 8): String =
    s"""SELECT $id, n_words,
       |  len(toks)::BIGINT AS n_bpe_tokens,
       |  coalesce(array_to_string(list_slice(toks, 1, $firstK), '|'), '') AS first_tokens
       |FROM (SELECT $id, len(string_split($text, ' '))::BIGINT AS n_words,
       |      ${duckTokensExpr(text)} AS toks FROM $table)""".stripMargin
  // ^ coalesce: DuckDB array_to_string([]) is NULL where Spark
  //   array_join(array()) is '' — an empty-TEXT doc (zero tokens) must
  //   witness identically on both engines (probe-fixture finding)

  /** Tokenizer FERTILITY report (round 18) — the per-language
    * efficiency audit run before committing to a tokenizer: fertility
    * (BPE tokens per word, milli) and compression (bytes per BPE
    * token, milli) per language stratum. High fertility on a language
    * means its text burns context window — the standard multilingual
    * tokenizer-eval metric (Rust et al. 2021's fertility, re-listed
    * from the public definition). Ratios are corpus-level (sums first,
    * one division per stratum — not a mean of per-doc ratios, which
    * would weight short docs equally with long ones); every term is
    * non-negative so `div` ≡ `//`, zero denominators report 0.
    *
    * Plan shape: one scan, three compiled kernels per row
    * (`graft_word_count`, `graft_bpe_count`, byte length), one
    * |languages|-row partial-agged exchange. Distributive — the
    * complete-mode streaming family.
    */
  def bpeFertility(df: DataFrame, text: String, lang: String): DataFrame =
    graft.functions.VectorFunctions.attach(df)
      .select(col(lang).as("lang"),
        expr(s"graft_word_count($text)").as("__w"),
        expr(s"graft_bpe_count($text)").as("__t"),
        expr(s"octet_length($text)").cast("long").as("__b"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__w")).as("n_words"),
        sum(col("__t")).as("n_bpe_tokens"), sum(col("__b")).as("n_bytes"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_bpe_tokens"), col("n_bytes"),
        expr("IF(n_words = 0, cast(0 AS BIGINT), " +
          "cast(n_bpe_tokens * 1000 div n_words AS BIGINT))")
          .as("fertility_milli"),
        expr("IF(n_bpe_tokens = 0, cast(0 AS BIGINT), " +
          "cast(n_bytes * 1000 div n_bpe_tokens AS BIGINT))")
          .as("bytes_per_token_milli"))

  /** DuckDB twin of [[bpeFertility]] (strlen = UTF-8 byte length,
    * Spark's octet_length).
    */
  def bpeFertilitySql(table: String, text: String, lang: String): String =
    s"""SELECT lang, count(*) AS n_docs,
       |  sum(w)::BIGINT AS n_words,
       |  sum(t)::BIGINT AS n_bpe_tokens,
       |  sum(b)::BIGINT AS n_bytes,
       |  (CASE WHEN sum(w) = 0 THEN 0
       |        ELSE sum(t) * 1000 // sum(w) END)::BIGINT AS fertility_milli,
       |  (CASE WHEN sum(t) = 0 THEN 0
       |        ELSE sum(b) * 1000 // sum(t) END)::BIGINT AS bytes_per_token_milli
       |FROM (
       |  SELECT $lang AS lang,
       |    len(list_filter(string_split($text, ' '), x -> x <> ''))::BIGINT AS w,
       |    ${duckTokenCountExpr(text)} AS t,
       |    strlen($text)::BIGINT AS b
       |  FROM $table)
       |GROUP BY lang""".stripMargin

  /** LEARN a merge table from the corpus — the training half of BPE
    * (Sennrich et al. 2016) that [[bpeTokens]] applies: repeatedly count
    * frequency-weighted adjacent unit pairs over the WORD HISTOGRAM and
    * merge the argmax pair everywhere it occurs.
    *
    * The distributed shape (how SentencePiece/HF trainers are built):
    * the corpus is scanned ONCE into a (word, freq) table — vocabulary
    * is bounded, so everything after that first exchange is metadata-
    * scale regardless of corpus size. Each of the `k` iterations is one
    * small pair-count aggregation over the vocab plus a TakeOrdered-1
    * argmax (count desc, then (a, b) ascending — deterministic
    * cross-engine on the alnum-restricted pairs), and the winning pair
    * merges into the unit strings via the same boundary-delimited
    * double-replace used by the apply side. Eager localCheckpoints
    * truncate the per-iteration lineage exactly like
    * [[Similarity.kmeansCentroids]] (without them iteration i re-derives
    * every earlier iteration's plan per action).
    *
    * Learned pairs observe the same constraints the committed table
    * enforces: `a != b` and alphanumeric-only sides (they must ride
    * inside string literals in the oracle dialect; classic trainers
    * restrict candidate pairs similarly via the pre-tokenizer). If the
    * vocab runs out of eligible pairs before rank k, the table is
    * simply shorter — identically on both engines.
    */
  def learnMerges(df: DataFrame, text: String, k: Int = 8): DataFrame = {
    val attach = graft.functions.VectorFunctions.attach _
    var vocab = attach(df)
      .select(explode(split(expr(s"replace($text, '$Sep', '')"), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("f"))
      .select(
        expr(s"concat('$Sep', regexp_replace(word, '(?s)(.)', '$$1$Sep'))").as("u"),
        col("f"))
      .localCheckpoint(true)
    val spark = df.sparkSession
    var ranks: DataFrame = null
    for (r <- 1 to k) {
      val pair = vocab
        .select(expr(s"filter(split(u, '$Sep'), x -> x <> '')").as("us"), col("f"))
        .select(explode(expr(
          "IF(size(us) < 2, cast(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>), " +
            "transform(sequence(1, size(us) - 1), " +
            "i -> struct(element_at(us, i) AS a, element_at(us, i + 1) AS b)))"))
          .as("p"), col("f"))
        .select(col("p.a").as("a"), col("p.b").as("b"), col("f"))
        .where(col("a") =!= col("b") &&
          expr("concat(a, b) rlike '^[0-9A-Za-z]+$'"))
        .groupBy(col("a"), col("b")).agg(sum(col("f")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("a").asc, col("b").asc)
        .limit(1)
        .localCheckpoint(true)
      val ranked = pair.withColumn("rank", lit(r))
      ranks = if (ranks == null) ranked else ranks.unionByName(ranked)
      if (r < k) vocab = vocab
        .crossJoin(broadcast(pair.select(col("a").as("__a"), col("b").as("__b"))))
        .select(expr(
          s"replace(replace(u, concat('$Sep', __a, '$Sep', __b, '$Sep'), " +
            s"concat('$Sep', __a, __b, '$Sep')), " +
            s"concat('$Sep', __a, '$Sep', __b, '$Sep'), " +
            s"concat('$Sep', __a, __b, '$Sep'))").as("u"), col("f"))
        .localCheckpoint(true)
    }
    ranks.select(col("rank"), col("a"), col("b"), col("pair_count"))
  }

  /** The SCALE path of [[learnMerges]]: one distributed corpus scan
    * builds the (word, freq) histogram — after that first exchange the
    * problem is VOCABULARY-bounded metadata, so the per-merge
    * argmax+replace loop runs driver-side over the collected histogram
    * (the shape every production trainer uses: SentencePiece / HF
    * tokenizers collect the word counts, then train locally). The Spark
    * loop above stays as the cross-engine parity baseline; BpeSpec pins
    * this local learner equal to it at small k, and `tools/ProbeBpe`
    * drives it to real-tokenizer rank counts (≥ 1,000 merges) — the
    * Spark loop at that k would schedule ~2k jobs of millisecond work.
    *
    * The driver loop is the classic incremental trainer: pair counts are
    * maintained under merges (only words CONTAINING the merged pair are
    * touched, via an occurrence index), so iteration cost is
    * O(affected words × word length), not O(vocab) — rank-1000 tables
    * train in seconds on million-doc corpora.
    *
    * `minFreq` prunes the histogram tail before training (standard
    * trainer knob; 1 = exact parity with [[learnMerges]]). Same
    * eligibility and tie-breaks: a != b, ASCII-alnum sides, argmax by
    * (count desc, a asc, b asc) — ASCII ordering ≡ UTF8 binary ordering
    * on the eligible alphabet, so the driver's String compare reproduces
    * the engines' sort exactly.
    */
  def learnMergesLocal(df: DataFrame, text: String, k: Int,
                       minFreq: Long = 1L,
                       maxVocab: Int = 50000000): Seq[(Int, String, String, Long)] = {
    val hist: Array[(String, Long)] = df
      .select(explode(split(expr(s"replace($text, '$Sep', '')"), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("f"))
      .where(col("f") >= minFreq)
      .limit(math.min(maxVocab.toLong + 1, Int.MaxValue).toInt)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // the maxJudges/maxPostings-convention guard on the driver-side
    // histogram: on heavy-tailed web text the DISTINCT-word count is
    // not vocabulary-bounded by construction — minFreq=1 collects the
    // full tail. The limit bounds the collect at maxVocab + 1 words
    // BEFORE any of it reaches the driver, and this require names the
    // knobs (50M words × ~30 B/entry ≈ 1.5 GB of driver state — past
    // that, raise minFreq; a real trainer prunes singletons anyway).
    require(hist.length <= maxVocab,
      s"learnMergesLocal: histogram has more than maxVocab=$maxVocab distinct " +
        s"words — raise minFreq (currently $minFreq) to prune the tail " +
        s"before driver-side training")
    val words: Array[Array[String]] = hist.map(_._1.map(_.toString).toArray)
    val freqs: Array[Long] = hist.map(_._2)
    val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val occur = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.HashSet[Int]]
    def eligible(a: String, b: String): Boolean = a != b &&
      (a + b).forall(ch => (ch >= '0' && ch <= '9') ||
        (ch >= 'A' && ch <= 'Z') || (ch >= 'a' && ch <= 'z'))
    // the argmax ladder: ELIGIBLE positive-count pairs ordered by
    // (count desc, a asc, b asc), maintained INCREMENTALLY under every
    // pair-count mutation — head() replaces the per-round O(#pairs)
    // linear scan that made 32k-merge training quadratic-ish (probe:
    // the scan form spent minutes re-scanning ~1M live pairs per rank;
    // the ladder's per-mutation cost is one remove + one insert, so a
    // rank costs O(affected words × word length × log #pairs))
    val candidates = scala.collection.mutable.TreeSet
      .empty[(Long, String, String)](Ordering.Tuple3(
        Ordering.Long.reverse, Ordering.String, Ordering.String))
    def index(wi: Int, sign: Long): Unit = {
      val us = words(wi); val f = freqs(wi); var i = 0
      while (i < us.length - 1) {
        val p = (us(i), us(i + 1))
        val c0 = pairCounts.getOrElse(p, 0L)
        val c = c0 + sign * f
        if (c == 0L) pairCounts.remove(p) else pairCounts(p) = c
        if (eligible(p._1, p._2)) {
          if (c0 > 0L) candidates.remove((c0, p._1, p._2))
          if (c > 0L) candidates.add((c, p._1, p._2))
        }
        if (sign > 0L) occur.getOrElseUpdate(
          p, scala.collection.mutable.HashSet.empty) += wi
        i += 1
      }
    }
    words.indices.foreach(index(_, 1L))
    // the standard left-to-right non-overlapping merge — exactly what the
    // boundary-delimited double-replace computes for a != b (BpeSpec pins
    // that equivalence on back-to-back runs)
    def mergeUnits(us: Array[String], a: String, b: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]; var i = 0
      while (i < us.length) {
        if (i < us.length - 1 && us(i) == a && us(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += us(i); i += 1 }
      }
      out.toArray
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= k && !done) {
      // ladder head = max count, then (a, b) ascending — the exact
      // selection rule the engines' ORDER BY cnt DESC, a, b LIMIT 1 uses
      if (candidates.isEmpty) done = true
      else {
        val (bestCount, ba, bb) = candidates.head
        val bestPair = (ba, bb)
        out += ((r, bestPair._1, bestPair._2, bestCount))
        val affected = occur.getOrElse(bestPair,
          scala.collection.mutable.HashSet.empty[Int]).toArray
        affected.foreach { wi =>
          val us = words(wi)
          // the occurrence index keeps stale entries (a word may have
          // lost the pair under an earlier merge) — re-check before work
          var has = false; var i = 0
          while (!has && i < us.length - 1) {
            has = us(i) == bestPair._1 && us(i + 1) == bestPair._2; i += 1
          }
          if (has) {
            index(wi, -1L)
            words(wi) = mergeUnits(us, bestPair._1, bestPair._2)
            index(wi, 1L)
          }
        }
        r += 1
      }
    }
    out.toSeq
  }

  /** DuckDB twin of [[learnMerges]] — the same word histogram, argmax
    * tie-breaks, and double-replace merges unrolled to `k` CTE pairs.
    */
  def learnMergesSql(table: String, text: String, k: Int = 8): String = {
    val ctes = new StringBuilder
    ctes.append(
      s"""w AS (
         |  SELECT word, count(*)::BIGINT AS f FROM (
         |    SELECT unnest(string_split(replace($text, '$Sep', ''), ' ')) AS word
         |    FROM $table) WHERE word <> '' GROUP BY word),
         |v0 AS (
         |  SELECT ('$Sep' || regexp_replace(word, '(?s)(.)', '\\1$Sep', 'g')) AS u, f
         |  FROM w)""".stripMargin)
    for (r <- 1 to k) {
      ctes.append(
        s""",
           |p$r AS (
           |  SELECT a, b, cnt FROM (
           |    SELECT us[i] AS a, us[i + 1] AS b, CAST(sum(f) AS BIGINT) AS cnt
           |    FROM (SELECT list_filter(string_split(u, '$Sep'), x -> x <> '') AS us, f
           |          FROM v${r - 1}),
           |         UNNEST(generate_series(1, len(us) - 1)) AS t(i)
           |    GROUP BY 1, 2)
           |  WHERE a <> b AND regexp_matches(a || b, '^[0-9A-Za-z]+$$')
           |  ORDER BY cnt DESC, a ASC, b ASC LIMIT 1)""".stripMargin)
      if (r < k) ctes.append(
        s""",
           |v$r AS (
           |  SELECT replace(replace(v.u,
           |      '$Sep' || p.a || '$Sep' || p.b || '$Sep',
           |      '$Sep' || p.a || p.b || '$Sep'),
           |      '$Sep' || p.a || '$Sep' || p.b || '$Sep',
           |      '$Sep' || p.a || p.b || '$Sep') AS u, v.f
           |  FROM v${r - 1} v, p$r p)""".stripMargin)
    }
    val union = (1 to k)
      .map(r => s"SELECT $r AS rank, a, b, cnt AS pair_count FROM p$r")
      .mkString("\n|UNION ALL\n|")
    s"WITH ${ctes.toString}\n|$union".stripMargin
  }
}
