package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import WordGrain.Ws

/** Benchmark decontamination: drop every corpus document sharing ANY
  * k-word shingle with a benchmark/eval set — the standard guard against
  * test-set leakage into pretraining data.
  *
  * Scale shape (the whole point): the benchmark side is SMALL (eval sets
  * are thousands of documents), so its distinct shingle-hash set is
  * reduced to ONE sorted array row and broadcast; the corpus pays one
  * scan, computing each doc's shingle hashes with the compiled
  * one-pass `graft_shingle_hashes` and probing the broadcast set with
  * the two-pointer `graft_intersect_count` over once-sorted arrays.
  * Zero corpus shuffle, no explode — the corpus never materializes a
  * (doc, shingle) row set. At 100 TB this is a pure map over the corpus
  * (the benchmark reduction is metadata-sized).
  *
  * Contaminated = intersect count > 0; the operator returns the CLEAN
  * document ids with their shingle count (0-shingle docs — shorter than
  * k words — carry no contamination evidence and are kept).
  */
object Decontaminate {

  def cleanDocs(corpus: DataFrame, bench: DataFrame,
                id: String, text: String, k: Int = 3,
                wordGrain: WordGrain = Ws): DataFrame = {
    val attach = graft.functions.VectorFunctions.attach _
    // one row: the benchmark's distinct shingle hashes, sorted for the
    // two-pointer probe. cjk-auto shingles BOTH sides on the routed
    // grain — an unsegmented benchmark (a zh eval set) has no ws
    // 3-shingles at all, so the ws guard vacuously passes every
    // contaminated doc; routed codepoint shingles restore the overlap
    // signal on exactly those rows. Dict grains (round 15) shingle the
    // FMM WORD sequence instead: k codepoints is a far weaker overlap
    // witness than k words (3 Han chars recur incidentally across
    // unrelated docs), so the word grain keeps quoting-a-character-
    // trigram docs that cjk-auto would strike, while verbatim k-word
    // eval leakage still kills
    val benchSet = attach(bench)
      .select(explode(expr(Dedup.nativeShingleHashes(text, k, wordGrain))).as("h"))
      .agg(sort_array(collect_set(col("h"))).as("bench_hs"))
    attach(corpus)
      .select(col(id),
        expr(s"sort_array(${Dedup.nativeShingleHashes(text, k, wordGrain)})").as("doc_hs"))
      .crossJoin(broadcast(benchSet))
      .where(expr("graft_intersect_count(doc_hs, bench_hs) = 0"))
      .select(col(id), size(col("doc_hs")).as("n_shingles"))
  }

  /** Bloom-prefiltered variant of [[cleanDocs]] — IDENTICAL output, built
    * for the regime where the broadcast sorted-array set stops scaling:
    * at ~100M benchmark shingles the exact set is ~800 MB broadcast and
    * a log-sized probe per doc-shingle, while a 1% bloom sketch is ~120 MB
    * and O(1) per probe. Most corpus docs share NO shingle with the
    * benchmark, so the codegen'd short-circuit `graft_bloom_any` clears
    * them in the scan with zero join; only the maybe-contaminated
    * sliver (true hits + fpp false positives) pays the exact two-pointer
    * residual check, which restores exactness (bloom has no false
    * negatives, so a bloom-clean doc is exactly-clean).
    *
    * `expectedShingles` sizes the sketch; a bad estimate moves fpp, never
    * correctness.
    */
  def cleanDocsBloom(corpus: DataFrame, bench: DataFrame,
                     id: String, text: String, k: Int = 3,
                     expectedShingles: Long = 1 << 16,
                     fpp: Double = 0.01,
                     wordGrain: WordGrain = Ws): DataFrame = {
    val attach = graft.functions.VectorFunctions.attach _
    val benchHashes = attach(bench)
      .select(explode(expr(Dedup.nativeShingleHashes(text, k, wordGrain))).as("h"))
      .distinct()
    val sketch = BloomJoin.sketchOf(benchHashes, "h", expectedShingles, fpp)
    // null-text docs drop here, matching cleanDocs (null intersect count
    // fails its filter too)
    val corpusH = attach(corpus)
      .select(col(id),
        expr(s"sort_array(${Dedup.nativeShingleHashes(text, k, wordGrain)})").as("doc_hs"))
      .where(col("doc_hs").isNotNull)
    val probe = expr(BloomJoin.anySql(sketch, "doc_hs"))
    val benchSet = benchHashes.agg(sort_array(collect_set(col("h"))).as("bench_hs"))
    // ONE corpus pass: Or short-circuits in codegen, so bloom-clean rows
    // (the vast majority) never evaluate the two-pointer intersect — a
    // two-branch union formulation instead hashes the corpus twice (the
    // branches race the cache inside a single action)
    corpusH.crossJoin(broadcast(benchSet))
      .where(!probe || expr("graft_intersect_count(doc_hs, bench_hs) = 0"))
      .select(col(id), size(col("doc_hs")).as("n_shingles"))
  }

  /** FRACTIONAL decontamination: drop a doc only when at least
    * `maxContamination` of its (distinct) shingles appear in the
    * benchmark set — the practical knob between "any overlap kills"
    * (this file's default, right for verbatim eval leakage) and keeping
    * docs that merely quote a common phrase. Same scale shape as
    * [[cleanDocs]]: one broadcast benchmark set, one corpus scan, the
    * compiled two-pointer intersect now COUNTED instead of
    * zero-tested. Emits the kept docs with their contamination fraction
    * (rounded to 6, exercised cross-engine); 0-shingle docs carry no
    * evidence and are kept at fraction 0.
    */
  def cleanDocsFractional(corpus: DataFrame, bench: DataFrame,
                          id: String, text: String, k: Int = 3,
                          maxContamination: Double = 0.05,
                          wordGrain: WordGrain = Ws): DataFrame = {
    val attach = graft.functions.VectorFunctions.attach _
    val benchSet = attach(bench)
      .select(explode(expr(Dedup.nativeShingleHashes(text, k, wordGrain))).as("h"))
      .agg(sort_array(collect_set(col("h"))).as("bench_hs"))
    attach(corpus)
      .select(col(id),
        expr(s"sort_array(${Dedup.nativeShingleHashes(text, k, wordGrain)})").as("doc_hs"))
      .crossJoin(broadcast(benchSet))
      .withColumn("n_shingles", size(col("doc_hs")))
      .withColumn("contamination",
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(round(
            expr("graft_intersect_count(doc_hs, bench_hs)").cast("double") /
              col("n_shingles"), 6)))
      .where(col("contamination") < maxContamination)
      .select(col(id), col("n_shingles"), col("contamination"))
  }

  /** Contamination REPORT — the eval-hygiene view the drop operators
    * don't give: for every BENCHMARK item, how many corpus documents
    * share at least one shingle with it (`n_corpus_docs`) and how many
    * of its distinct shingles leak (`n_shingles_hit`), zero-hit items
    * included. This is what decides whether an eval number is
    * trustworthy and which bench items to quarantine.
    *
    * Scale shape: the corpus pays ONE scan, its shingles STREAM through
    * `posexplode`-free Generate straight into the broadcast
    * (shingle → bench item) hash join — an O(1) probe per shingle, so
    * the whole pass is O(total corpus shingles) regardless of benchmark
    * size; clean shingles die map-side and the only exchange is the
    * partial-agg'd distinct count per bench item. A row-local
    * `array_intersect`/two-pointer probe against the full bench array
    * (the [[cleanDocs]] shape) was measured 43× SLOWER here
    * (`tools/ProbeContamination`, 1M docs × 100k-shingle bench: 270s vs
    * 6.3s) — per-row work scales with the BENCH size in that shape,
    * while the report's attribution needs shingle granularity anyway;
    * the drop operators keep the row-local probe because their bench
    * regime is small and they need no attribution.
    */
  def contaminationReport(corpus: DataFrame, bench: DataFrame,
                          id: String, text: String, k: Int = 3,
                          wordGrain: WordGrain = Ws): DataFrame = {
    val attach = graft.functions.VectorFunctions.attach _
    val benchSh = attach(bench)
      .select(col(id).as("bench_id"),
        explode(expr(Dedup.nativeShingleHashes(text, k, wordGrain))).as("h"))
      .distinct()
    val matches = attach(corpus)
      .select(col(id).as("corpus_id"),
        explode(expr(Dedup.nativeShingleHashes(text, k, wordGrain))).as("h"))
      .join(broadcast(benchSh), Seq("h"))
      .groupBy(col("bench_id"))
      .agg(countDistinct(col("corpus_id")).as("n_corpus_docs"),
        countDistinct(col("h")).as("n_shingles_hit"))
    attach(bench)
      .select(col(id).as("bench_id"),
        expr(s"size(${Dedup.nativeShingleHashes(text, k, wordGrain)})").as("n_shingles"))
      .join(matches, Seq("bench_id"), "left_outer")
      .select(col("bench_id"), col("n_shingles"),
        coalesce(col("n_shingles_hit"), lit(0L)).as("n_shingles_hit"),
        coalesce(col("n_corpus_docs"), lit(0L)).as("n_corpus_docs"))
  }

  /** DuckDB twin of [[contaminationReport]]. A dict grain reads the
    * fmm-token-list relation ([[WordGrain.duckSource]]), which exposes
    * ONLY ($id, __toks): benchPred / corpusPred must then reference $id
    * alone (true of every registered twin — they split on doc_id ranges).
    */
  def contaminationReportSql(corpusTable: String, benchPred: String,
                             corpusPred: String, id: String, text: String,
                             k: Int = 3,
                             wordGrain: WordGrain = Ws): String = {
    val (tbl, toks) = wordGrain.duckSource(corpusTable, id, text)
    s"""WITH bsh AS (
       |  SELECT DISTINCT $id AS bench_id, unnest(${Dedup.duckShingleHashes(toks, k)}) AS h
       |  FROM $tbl WHERE $benchPred),
       |csh AS (
       |  SELECT DISTINCT $id AS corpus_id, unnest(${Dedup.duckShingleHashes(toks, k)}) AS h
       |  FROM $tbl WHERE $corpusPred),
       |hits AS (
       |  SELECT b.bench_id, count(DISTINCT c.corpus_id) AS n_corpus_docs,
       |         count(DISTINCT b.h) AS n_shingles_hit
       |  FROM bsh b JOIN csh c ON b.h = c.h
       |  GROUP BY b.bench_id),
       |base AS (
       |  SELECT $id AS bench_id, len(${Dedup.duckShingleHashes(toks, k)}) AS n_shingles
       |  FROM $tbl WHERE $benchPred)
       |SELECT base.bench_id, base.n_shingles::INT AS n_shingles,
       |  coalesce(hits.n_shingles_hit, 0)::BIGINT AS n_shingles_hit,
       |  coalesce(hits.n_corpus_docs, 0)::BIGINT AS n_corpus_docs
       |FROM base LEFT JOIN hits ON base.bench_id = hits.bench_id""".stripMargin
  }

  /** DuckDB twin of [[cleanDocsFractional]] (`list_intersect` over the
    * distinct hash arrays ≡ the two-pointer count; the grain's token
    * source as in [[contaminationReportSql]]).
    */
  def cleanDocsFractionalSql(corpusTable: String, benchPred: String,
                             corpusPred: String, id: String, text: String,
                             k: Int = 3, maxContamination: Double = 0.05,
                             wordGrain: WordGrain = Ws): String = {
    val (tbl, toks) = wordGrain.duckSource(corpusTable, id, text)
    s"""WITH bench_hs AS (
       |  SELECT coalesce(list_sort(list(DISTINCT h)), []::BIGINT[]) AS hs FROM (
       |    SELECT unnest(${Dedup.duckShingleHashes(toks, k)}) AS h
       |    FROM $tbl WHERE $benchPred)),
       |corpus AS (
       |  SELECT $id, ${Dedup.duckShingleHashes(toks, k)} AS doc_hs
       |  FROM $tbl WHERE $corpusPred),
       |scored AS (
       |  SELECT c.$id, len(c.doc_hs) AS n_shingles,
       |    CASE WHEN len(c.doc_hs) = 0 THEN 0.0
       |         ELSE round(len(list_intersect(c.doc_hs, b.hs))::DOUBLE / len(c.doc_hs), 6)
       |    END AS contamination
       |  FROM corpus c, bench_hs b)
       |SELECT $id, n_shingles::INT AS n_shingles, contamination
       |FROM scored WHERE contamination < $maxContamination""".stripMargin
  }

  /** DuckDB twin: same shingle hashing, the one-row benchmark set cross
    * joined in (a scalar subquery breaks once DuckDB inlines the
    * lambda-bearing CTE: "Subqueries are not supported in lambda
    * expressions"), `list_has_any` ≡ intersect-count > 0 (hash equality
    * on both engines). The `coalesce(…, [])` on bench_hs is
    * load-bearing (r14 differential sweep): a benchmark whose docs have
    * ZERO shingles (all-unsegmented, all-short) makes `list()` aggregate
    * zero rows to NULL, and `NOT list_has_any(x, NULL)` is NULL — the
    * twin silently dropped every corpus row where the operator
    * correctly keeps all (empty benchmark ⇒ nothing is contaminated).
    * The grain's token source as in [[contaminationReportSql]].
    */
  def cleanDocsSql(corpusTable: String, benchPred: String, corpusPred: String,
                   id: String, text: String, k: Int = 3,
                   wordGrain: WordGrain = Ws): String = {
    val (tbl, toks) = wordGrain.duckSource(corpusTable, id, text)
    s"""WITH bench_hs AS (
       |  SELECT coalesce(list_sort(list(DISTINCT h)), []::BIGINT[]) AS hs FROM (
       |    SELECT unnest(${Dedup.duckShingleHashes(toks, k)}) AS h
       |    FROM $tbl WHERE $benchPred)),
       |corpus AS (
       |  SELECT $id, ${Dedup.duckShingleHashes(toks, k)} AS doc_hs
       |  FROM $tbl WHERE $corpusPred)
       |SELECT c.$id, len(c.doc_hs) AS n_shingles
       |FROM corpus c, bench_hs b
       |WHERE NOT list_has_any(c.doc_hs, b.hs)""".stripMargin
  }

  /** SEMANTIC contamination report — the embedding-space twin of
    * [[contaminationReport]]: for every benchmark item, how many CORPUS
    * vectors sit within cosine ≥ `threshold` of it (`n_corpus_hits`) and
    * the closest similarity seen (`max_sim`), zero-hit items included.
    * Lexical shingle overlap misses paraphrased eval leakage; this is
    * the check that catches it (same reasoning as SemDeDup vs MinHash).
    *
    * Scale shape: the benchmark side broadcasts (eval sets are small),
    * the corpus pays ONE scan scoring `|bench|` compiled cosines per
    * vector map-side, and the only exchange is the partial-agg'd
    * (bench_id, count, max) reduction — bench-cardinality rows per map
    * task, never the corpus.
    */
  def semanticContaminationReport(corpus: DataFrame, bench: DataFrame,
                                  id: String, vecCol: String,
                                  threshold: Double = 0.95): DataFrame = {
    val attach = graft.functions.VectorFunctions.attach _
    val hits = attach(corpus)
      .select(col(vecCol).as("c_vec"))
      .crossJoin(broadcast(
        bench.select(col(id).as("bench_id"), col(vecCol).as("b_vec"))))
      .withColumn("sim",
        round(expr(Similarity.nativeCosine("c_vec", "b_vec")), 6))
      .groupBy(col("bench_id"))
      .agg(sum(when(col("sim") >= threshold, 1L).otherwise(0L)).as("n_corpus_hits"),
        max(col("sim")).as("max_sim"))
    // left-join the aggregated hits back onto the bench base so the
    // "zero-hit items included" contract survives an EMPTY corpus side
    // (the crossJoin alone yields no rows at all in that case); with a
    // non-empty corpus every bench id appears in `hits` and the join is
    // value-identical to the bare aggregation. The hits side is
    // bench-cardinality — broadcast it so the patch-up join adds no
    // bench-keyed exchange (PlanAuditSpec pins the single exchange)
    bench.select(col(id).as("bench_id"))
      .join(broadcast(hits), Seq("bench_id"), "left_outer")
      .select(col("bench_id"),
        coalesce(col("n_corpus_hits"), lit(0L)).as("n_corpus_hits"),
        col("max_sim"))
  }

  /** SEMANTIC decontamination DROP — keep only corpus vectors whose
    * closest benchmark similarity stays BELOW `threshold` (the acting
    * twin of [[semanticContaminationReport]], as [[cleanDocs]] is to
    * [[contaminationReport]]). Emits survivors with their closest bench
    * similarity so the margin is visible. Same scale shape: broadcast
    * bench, one corpus scan, the exchange carries one partial-agg'd row
    * per corpus vector.
    */
  def cleanVectors(corpus: DataFrame, bench: DataFrame,
                   id: String, vecCol: String,
                   threshold: Double = 0.95): DataFrame = {
    val attach = graft.functions.VectorFunctions.attach _
    // LEFT join on true, not a bare crossJoin: an EMPTY bench side must
    // mean "nothing to decontaminate, keep all" (every corpus row
    // survives with a null margin), not "zero survivors" — a crossJoin
    // against zero bench rows silently drops the whole corpus. With a
    // non-empty bench the plans are identical (broadcast nested loop,
    // one partial-agg'd row per corpus vector on the exchange).
    attach(corpus)
      .select(col(id), col(vecCol).as("c_vec"))
      .join(broadcast(bench.select(col(vecCol).as("b_vec"))), lit(true), "left_outer")
      .withColumn("sim",
        round(expr(Similarity.nativeCosine("c_vec", "b_vec")), 6))
      .groupBy(col(id))
      .agg(max(col("sim")).as("max_bench_sim"))
      .where(col("max_bench_sim").isNull || col("max_bench_sim") < threshold)
  }

  /** DuckDB twin of [[cleanVectors]] (same LEFT-join-on-true empty-bench
    * semantics: no bench rows → every corpus row kept with null margin).
    */
  def cleanVectorsSql(table: String, benchPred: String, corpusPred: String,
                      id: String, vecCol: String,
                      threshold: Double = 0.95): String =
    s"""SELECT c.$id, max(round(${Similarity.duckCosine("c.cv", "b.bv")}, 6)) AS max_bench_sim
       |FROM (SELECT $id, $vecCol AS cv FROM $table WHERE $corpusPred) c
       |LEFT JOIN (SELECT $vecCol AS bv FROM $table WHERE $benchPred) b ON TRUE
       |GROUP BY 1
       |HAVING max(round(${Similarity.duckCosine("c.cv", "b.bv")}, 6)) IS NULL
       |    OR max(round(${Similarity.duckCosine("c.cv", "b.bv")}, 6)) < $threshold""".stripMargin

  /** DuckDB twin of [[semanticContaminationReport]] (same hits-onto-base
    * left join, so zero-hit bench rows survive an empty corpus side).
    */
  def semanticContaminationReportSql(table: String, benchPred: String,
                                     corpusPred: String, id: String,
                                     vecCol: String,
                                     threshold: Double = 0.95): String =
    s"""WITH hits AS (
       |  SELECT b.$id AS bench_id,
       |    CAST(sum(CASE WHEN round(${Similarity.duckCosine("c.cv", "b.bv")}, 6) >= $threshold
       |         THEN 1 ELSE 0 END) AS BIGINT) AS n_corpus_hits,
       |    max(round(${Similarity.duckCosine("c.cv", "b.bv")}, 6)) AS max_sim
       |  FROM (SELECT $id, $vecCol AS bv FROM $table WHERE $benchPred) b,
       |       (SELECT $vecCol AS cv FROM $table WHERE $corpusPred) c
       |  GROUP BY 1)
       |SELECT base.$id AS bench_id,
       |  coalesce(hits.n_corpus_hits, 0)::BIGINT AS n_corpus_hits, hits.max_sim
       |FROM (SELECT $id FROM $table WHERE $benchPred) base
       |LEFT JOIN hits ON base.$id = hits.bench_id""".stripMargin

  /** STREAMING ingest-time decontamination guard — [[cleanDocs]] for the
    * daily-crawl shape: the benchmark set is STATIC (eval sets change
    * rarely), so it is reduced ONCE to its sorted hash array and embedded
    * as a literal; the stream side stays a pure stateless
    * projection+filter (no stream-static join, no state store), which
    * means it composes with any watermark/dedup stage downstream and
    * restarts from a checkpoint with zero recovery cost.
    *
    * The one driver-side collect is the benchmark reduction — metadata-
    * sized by the same argument as [[cleanDocs]]'s broadcast (eval sets
    * are thousands of docs, not corpora). Same keep/drop rule as
    * [[cleanDocs]]: any shared shingle drops the doc; sub-k-word docs
    * carry no evidence and pass.
    */
  def cleanDocsStreaming(corpusStream: DataFrame, bench: DataFrame,
                         id: String, text: String, k: Int = 3,
                         wordGrain: WordGrain = Ws): DataFrame = {
    val attach = graft.functions.VectorFunctions.attach _
    val benchHs: Array[Long] = attach(bench)
      .select(explode(expr(Dedup.nativeShingleHashes(text, k, wordGrain))).as("h"))
      .distinct().orderBy(col("h"))
      .collect().map(_.getLong(0))
    attach(corpusStream)
      .withColumn("doc_hs",
        expr(s"sort_array(${Dedup.nativeShingleHashes(text, k, wordGrain)})"))
      .withColumn("__bench", typedLit(benchHs))
      .where(expr("graft_intersect_count(doc_hs, __bench) = 0"))
      .select(col(id), size(col("doc_hs")).as("n_shingles"))
  }
}
