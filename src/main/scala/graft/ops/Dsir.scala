package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import WordGrain.Ws

/** DSIR-style data selection via hashed n-gram importance weights
  * (Xie et al. 2023, "Data Selection for Language Models via Importance
  * Resampling" — public algorithm): score every raw document by how much
  * more likely its n-grams are under a TARGET distribution (the data you
  * want more of — here a predicate over the corpus itself, e.g. one
  * language or one curated source) than under the RAW distribution, then
  * keep the top-scoring documents.
  *
  * The published weight is Σ_g log p_target(g) − log p_raw(g) over the
  * doc's hashed n-grams. Per-token `log` is exactly the cross-engine
  * hazard this repo's LM scoring rung already avoids
  * ([[TextAnalysis.unigramScore]]: libm last-ulp differences break hash
  * equality), so the committed weight is the EXACT-INTEGER surrogate
  *
  *   w(d) = Σ_g ( cnt_t(b(g)) · T_r  −  cnt_r(b(g)) · T_t )
  *
  * i.e. Σ_g (p_t − p_r) scaled by the integer totals T_t·T_r: same sign
  * per gram as the log-ratio (positive iff the gram is more likely under
  * the target), summed in BIGINT so both engines agree bit-for-bit. The
  * ordering differs from the log form (probability DIFFERENCES weigh
  * common grams more than ratios do) — documented surrogate, same
  * selection intent. Resampling is the deterministic top-N variant
  * (Gumbel noise is inherently engine-random): rank by (w_sum DESC,
  * id ASC).
  *
  * Features are the paper's construction: word unigrams + bigrams hashed
  * into `buckets` buckets ([[PortableHash]] mod B — collisions are part
  * of the model, they just coarsen the distributions identically on both
  * sides).
  *
  * Scale shape (100 TB): pass 1 builds the bucket table — one corpus
  * scan exploding to (bucket, is_target) that partial-aggregates to B
  * rows (B is metadata-sized: the exchange carries ≤ B rows per map
  * partition); pass 2 re-scans the corpus, joins the BROADCAST bucket
  * table, and partial-aggregates back to doc grain — no shuffle ever
  * carries gram rows across the wire beyond the keyed doc-grain partial
  * agg. In production the pass-1 side runs on a SAMPLE (the op takes any
  * frame for `ref`); here both passes read the registered corpus so the
  * oracle can replay them. BIGINT bound: |w_sum| ≤ n_grams(d) · max_cnt
  * · total ≈ 10² · C² for corpus gram count C — overflows past C ≈ 3·10⁸
  * grams on the counting side; at that scale train the bucket table on a
  * fixed-size sample (the intended shape), which restores the bound.
  */
object Dsir {

  /** Word unigrams + bigrams of `text` (non-empty words), one array. */
  private def sparkGramsExpr(text: String, wordGrain: ScalarGrain): String =
    PortableHash.let1("__w", wordGrain.sparkTokens(text, keepEmpties = false),
      "concat(__w, graft_ngrams(__w, 2))")

  private def duckGramsExpr(text: String, wordGrain: ScalarGrain): String = {
    val w = wordGrain.duckList(text, keepEmpties = false)
    s"list_concat($w, list_transform(generate_series(1, len($w) - 1), " +
      s"i -> $w[i] || ' ' || $w[i + 1]))"
  }

  /** Per-document importance weights: (id, n_grams, w_sum). `targetPred`
    * is evaluated per document BEFORE gram explosion (it references doc
    * columns, e.g. `col("lang") === "en"`).
    *
    * Empty-side semantics (deliberate, identical on both engines and in
    * [[weightsFast]]/[[scoreStreaming]]): a `targetPred` matching ZERO
    * documents gives T_t = 0 and cnt_t ≡ 0, so every gram term is
    * cnt_t·T_r − cnt_r·0 = 0 — all weights collapse to 0, selection
    * degrades to (id ASC) order, and the streaming gate (minWeight 0)
    * passes everything. "No target signal" keeps the corpus; it never
    * silently drops it.
    */
  def weights(docs: DataFrame, id: String, text: String,
              targetPred: Column, buckets: Int = 256,
              wordGrain: ScalarGrain = Ws): DataFrame = {
    val fdf = graft.functions.VectorFunctions.attach(docs)
    val grams = fdf
      .select(col(id), targetPred.as("__is_t"),
        explode(expr(sparkGramsExpr(text, wordGrain))).as("g"))
      .withColumn("b", expr(s"${PortableHash.sparkStringHash("g")} % $buckets"))
    // pass 1: B-row bucket table + 1-row totals (both broadcast)
    val bucketTable = grams.groupBy(col("b")).agg(
      sum(when(col("__is_t"), 1L).otherwise(0L)).as("cnt_t"),
      count(lit(1)).as("cnt_r"))
    val totals = bucketTable.agg(sum(col("cnt_t")).as("tot_t"),
      sum(col("cnt_r")).as("tot_r"))
    // pass 2: corpus scan -> broadcast join -> doc-grain partial agg
    grams.select(col(id), col("b"))
      .join(broadcast(bucketTable), Seq("b"))
      .crossJoin(broadcast(totals))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("cnt_t") * col("tot_r") - col("cnt_r") * col("tot_t"))
          .as("w_sum"))
  }

  /** Deterministic top-N selection over [[weights]] (w_sum DESC, id ASC
    * — a TakeOrdered, never a global sort). */
  def select(docs: DataFrame, id: String, text: String, targetPred: Column,
             n: Int, buckets: Int = 256,
             wordGrain: ScalarGrain = Ws): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the unpartitioned rank window runs AFTER limit(n): its input is
    // <= n rows by construction, never the corpus
    weights(docs, id, text, targetPred, buckets, wordGrain)
      .orderBy(col("w_sum").desc, col(id).asc).limit(n)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("w_sum").desc, col(id).asc)))
  }

  /** Pass 1 of [[weightsFast]] and [[scoreStreaming]]: the per-bucket
    * (target, raw) gram counts of `ref`, COLLECTED (B rows, metadata-sized
    * — the [[PqIndex]]/contamination-guard precedent) and folded into the
    * per-bucket weight literal `cnt_t·T_r − cnt_r·T_t` that
    * `graft_bucket_score` scores against. One function, so the streaming
    * gate and the batch weights cannot drift apart.
    */
  private def weightLiteral(ref: DataFrame, text: String, targetPred: Column,
                            buckets: Int, wordGrain: ScalarGrain): String = {
    val counts = graft.functions.VectorFunctions.attach(ref)
      .select(targetPred.as("__is_t"),
        explode(expr(s"graft_dsir_buckets($text, $buckets, '${wordGrain.name}')")).as("b"))
      .groupBy(col("b")).agg(
        sum(when(col("__is_t"), 1L).otherwise(0L)).as("cnt_t"),
        count(lit(1)).as("cnt_r"))
      .collect()
    val cntT = new Array[Long](buckets)
    val cntR = new Array[Long](buckets)
    counts.foreach { r =>
      val b = r.getLong(0).toInt
      cntT(b) = r.getLong(1); cntR(b) = r.getLong(2)
    }
    val totT = cntT.sum
    val totR = cntR.sum
    Array.tabulate(buckets)(b => cntT(b) * totR - cntR(b) * totT)
      .mkString("array(", "L, ", "L)")
  }

  /** The SCALE formulation of [[weights]] — identical values, compiled
    * end to end. Two structural upgrades over the declarative twin
    * (which measured 531s at 1M docs — per-gram md5 through interpreted
    * HOFs plus a 2×10⁸-row explode/join/agg chain):
    *  - gram hashing is the fused [[graft.functions.HashOps.dsirBuckets]]
    *    kernel (one byte scan per doc, no gram strings);
    *  - pass 1 still explodes (bucket) rows for the B-row count table —
    *    but carries ONE long per gram, aggregated map-side; the B-row
    *    result is COLLECTED (metadata-sized, the
    *    [[PqIndex]]/contamination-guard precedent) and folded into a
    *    per-bucket weight literal;
    *  - pass 2 is then a ZERO-SHUFFLE projection: per doc, bucket ids →
    *    `graft_bucket_score` against the literal table. No join, no
    *    explode, no agg.
    * At 100 TB pass 1 runs on a sample (`ref`); pass 2 is a linear scan.
    */
  def weightsFast(docs: DataFrame, id: String, text: String,
                  targetPred: Column, buckets: Int = 256,
                  ref: Option[DataFrame] = None,
                  wordGrain: ScalarGrain = Ws): DataFrame =
    scored(docs, id, text,
      weightLiteral(ref.getOrElse(docs), text, targetPred, buckets, wordGrain), buckets, wordGrain)

  /** Pass 2 of [[weightsFast]] and [[scoreStreaming]]: (id, n_grams,
    * w_sum) per non-empty doc, scored against the weight literal `wLit`.
    */
  private def scored(docs: DataFrame, id: String, text: String, wLit: String,
                     buckets: Int, wordGrain: ScalarGrain): DataFrame =
    // zero grams ⟺ zero words ⟺ trim(text) = '' — filter on the CHEAP
    // equivalent BEFORE projecting (a post-projection filter on a
    // computed column is pushed below the project with the kernel
    // substituted into it), and reference the kernel EXACTLY ONCE:
    // sibling-column references let CollapseProject re-evaluate it per
    // reference (probed: 49s → 16s at 1M docs for this projection, the
    // winnow lesson again). n_grams = 2·words − 1 comes from the
    // compiled word count, NOT `size(filter(split(...)))` — that
    // interpreted split-filter alone measured 32s at 1M docs, costlier
    // than the md5 gram kernel (19s) it rides next to.
    graft.functions.VectorFunctions.attach(docs).where(trim(col(text)) =!= "")
      .select(col(id),
        expr(s"2 * graft_word_count($text, '${wordGrain.name}') - 1").as("n_grams"),
        expr(s"graft_bucket_score(graft_dsir_buckets($text, $buckets, '${wordGrain.name}'), $wLit)")
          .as("w_sum"))

  /** [[select]] over [[weightsFast]] — the registered scale path. */
  def selectFast(docs: DataFrame, id: String, text: String,
                 targetPred: Column, n: Int, buckets: Int = 256,
                 wordGrain: ScalarGrain = Ws): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // rank window input is <= n rows (post-limit), never the corpus
    weightsFast(docs, id, text, targetPred, buckets, wordGrain = wordGrain)
      .orderBy(col("w_sum").desc, col(id).asc).limit(n)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("w_sum").desc, col(id).asc)))
  }

  /** Streaming ingest-time DSIR gate — the natural composition of the
    * fast path with live ingest: the per-bucket weight table is trained
    * ONCE on a static reference corpus (pass 1 of [[weightsFast]]) and
    * embedded as a literal, so scoring the stream is a pure STATELESS
    * projection + filter — no stream-static join, no state store,
    * checkpoint-free recovery (the [[Decontaminate.cleanDocsStreaming]]
    * discipline). Emits arrivals whose importance weight ≥ `minWeight`
    * (0 = "at least as target-like as the raw average", the natural
    * keep line since off-target mass scores negative).
    */
  def scoreStreaming(corpusStream: DataFrame, ref: DataFrame,
                     id: String, text: String, targetPred: Column,
                     minWeight: Long = 0L, buckets: Int = 256,
                     wordGrain: ScalarGrain = Ws): DataFrame = {
    scored(corpusStream, id, text, weightLiteral(ref, text, targetPred, buckets, wordGrain),
      buckets, wordGrain).where(col("w_sum") >= minWeight)
  }

  /** DuckDB twin of [[weights]]. */
  def weightsSql(table: String, id: String, text: String,
                 targetPredSql: String, buckets: Int = 256,
                 wordGrain: ScalarGrain = Ws): String =
    s"""WITH grams AS (
       |  SELECT $id, ($targetPredSql) AS is_t,
       |    (${PortableHash.duckStringHash("g.g")} % $buckets) AS b
       |  FROM $table, UNNEST(${duckGramsExpr(text, wordGrain)}) AS g(g)),
       |bt AS (
       |  SELECT b,
       |    sum(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS cnt_t,
       |    count(*)::BIGINT AS cnt_r
       |  FROM grams GROUP BY b),
       |tot AS (
       |  SELECT sum(cnt_t)::BIGINT AS tot_t, sum(cnt_r)::BIGINT AS tot_r
       |  FROM bt)
       |SELECT $id, count(*)::BIGINT AS n_grams,
       |  sum(bt.cnt_t * tot.tot_r - bt.cnt_r * tot.tot_t)::BIGINT AS w_sum
       |FROM grams JOIN bt USING (b) CROSS JOIN tot
       |GROUP BY $id""".stripMargin

  /** DuckDB twin of [[select]]. */
  def selectSql(table: String, id: String, text: String,
                targetPredSql: String, n: Int, buckets: Int = 256,
                wordGrain: ScalarGrain = Ws): String =
    s"""WITH w AS (
       |${weightsSql(table, id, text, targetPredSql, buckets, wordGrain)})
       |SELECT $id, n_grams, w_sum,
       |  row_number() OVER (ORDER BY w_sum DESC, $id ASC) AS rank
       |FROM w ORDER BY w_sum DESC, $id ASC LIMIT $n""".stripMargin
}
