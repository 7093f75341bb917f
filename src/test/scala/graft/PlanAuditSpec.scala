package graft

import graft.queries.Queries

/** Physical-plan audits: every assertion here is a 100 TB scale property
  * that correctness tests cannot see — filters reaching the parquet scan,
  * column pruning, dimension broadcasts, map-side partial aggregation,
  * top-k without a global sort, and shuffle counts. A regression that
  * flips one of these (e.g. a filter that stops pushing down after a
  * refactor) still returns correct rows at sf0.01 but falls over on a
  * 1000-executor cluster; these tests fail instead.
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Queries.queryMap(name)(spark, sf).queryExecution.executedPlan.toString

  /** Formatted explain — unlike plan-tree toString, scan details
    * (PushedFilters, ReadSchema) are printed in full, not truncated.
    */
  private def formatted(name: String): String =
    Queries.queryMap(name)(spark, sf).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  private def count(haystack: String, needle: String): Int =
    needle.r.findAllMatchIn(haystack).length

  test("dispatch_filter: the dispatch predicate is pushed into the parquet scan") {
    val p = plan("dispatch_filter")
    assert(p.contains("PushedFilters") &&
      p.matches("(?s).*PushedFilters: \\[[^\\]]*EqualTo\\(event_type,purchase\\).*"),
      s"dispatch filter must reach the scan (topic-subscription analog):\n$p")
  }

  test("q6_filter_agg: range predicates are pushed into the parquet scan") {
    val p = formatted("q6_filter_agg")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") && p.contains("LessThan(l_quantity"),
      s"q6 predicates must be PushedFilters:\n$p")
  }

  test("q1_agg: scan is column-pruned to the referenced columns only") {
    val p = plan("q1_agg")
    // lineitem has 16 columns; the query touches 6
    assert(!p.contains("l_comment") && !p.contains("l_partkey"),
      s"q1 scan must not read unreferenced columns:\n$p")
    assert(p.contains("l_quantity") && p.contains("l_returnflag"))
  }

  test("q1_agg: aggregation is partial (map-side combine) before the exchange") {
    val p = plan("q1_agg")
    assert(count(p, "HashAggregate") >= 2,
      s"q1 must partial-aggregate map-side so the shuffle carries group rows, not the table:\n$p")
  }

  test("q5_nation_revenue: dimension joins broadcast (no dim-side shuffle)") {
    val p = plan("q5_nation_revenue")
    assert(p.contains("BroadcastHashJoin"),
      s"nation/region (and the cust⋈dims side) must broadcast:\n$p")
  }

  test("topk_orders: global top-k uses TakeOrderedAndProject, not a full sort") {
    val p = plan("topk_orders")
    assert(p.contains("TakeOrderedAndProject"),
      s"LIMIT after ORDER BY must compile to per-partition top-k + merge:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"a range-partitioned global sort of the corpus must not appear:\n$p")
  }

  test("text_ngram_topk: partial-agg counts + TakeOrderedAndProject") {
    val p = plan("text_ngram_topk")
    assert(count(p, "HashAggregate") >= 2 && p.contains("TakeOrderedAndProject"),
      s"n-gram counting must combine map-side and take top-k without a global sort:\n$p")
  }

  test("dedup_exact: single digest shuffle with map-side partial aggregation") {
    val p = plan("dedup_exact")
    assert(count(p, "HashAggregate") >= 2,
      s"exact dedup must partial-aggregate per digest before its one exchange:\n$p")
    assert(count(p, "Exchange") == 1,
      s"exact dedup needs exactly one shuffle:\n$p")
  }

  test("entity_latest_state: latest-per-key is an aggregation, not a window sort") {
    val p = plan("entity_latest_state")
    assert(!p.contains("Window"),
      s"latest-state must use max_by partial agg (one exchange of key rows), not a sorted window:\n$p")
    assert(count(p, "HashAggregate") + count(p, "ObjectHashAggregate") + count(p, "SortAggregate") >= 2,
      s"latest-state must combine map-side:\n$p")
  }

  test("embed_topk_cosine: query side broadcasts; corpus is never shuffled for the join") {
    val p = plan("embed_topk_cosine")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the small query set must broadcast against one corpus scan:\n$p")
  }

  test("embed_topk_cosine: top-k is a partial-aggregating bounded heap, not a window sort") {
    val p = plan("embed_topk_cosine")
    assert(!p.contains("Window"),
      s"per-query top-k must not shuffle+sort every scored candidate:\n$p")
    assert(count(p, "ObjectHashAggregate") >= 2,
      s"graft_topk must partial-aggregate map-side so the exchange carries k-item heaps:\n$p")
  }

  test("pipeline_corpus_filter: text never crosses a shuffle") {
    val df = Queries.queryMap("pipeline_corpus_filter")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the single exchange partitions by the md5 digest; the text column
    // must be projected away before it
    val exchangeIdx = p.indexOf("Exchange hashpartitioning(h")
    assert(exchangeIdx >= 0, s"the digest-window exchange must exist:\n$p")
    assert(count(p, "Exchange") == 1,
      s"corpus filter needs exactly one shuffle (the digest window):\n$p")
    assert(!p.substring(0, exchangeIdx).contains("text#"),
      s"text must be dropped before the exchange (scan side is below it in the plan string):\n$p")
  }

  test("q4/q22: EXISTS and NOT EXISTS compile to semi/anti joins with keys-only probe sides") {
    val semi = plan("q4_semi_priority")
    assert(semi.contains("LeftSemi"), s"EXISTS must be a left-semi join:\n$semi")
    val anti = plan("q22_anti_customers")
    assert(anti.contains("LeftAnti"), s"NOT EXISTS must be a left-anti join:\n$anti")
    // the probe sides must be pruned to the join key before the join
    assert(!semi.contains("l_quantity") && !anti.contains("o_orderdate"),
      "semi/anti probe sides must scan the join key (+pushed filter) only")
  }

  test("dedup_minhash_keeper: one cached corpus reduction, partial-agg label shuffles, no text past the scan") {
    val p = plan("dedup_minhash_keeper")
    assert(p.contains("InMemoryTableScan"),
      s"band rows must be persisted so the corpus is shingle-hashed once:\n$p")
    assert(count(p, "HashAggregate") >= 4,
      s"both the bucket-min and per-doc-min aggregations must combine map-side:\n$p")
    val firstExchange = p.indexOf("Exchange")
    assert(firstExchange >= 0 && !p.substring(0, firstExchange).contains("text#"),
      s"text must be reduced to hash rows before any shuffle:\n$p")
  }

  test("pipeline_pack (sharded default): one (stratum, shard) window exchange, text dropped before it") {
    val p = plan("pipeline_pack")
    assert(count(p, "Exchange") == 1,
      s"sharded packing needs exactly one shuffle (the window):\n$p")
    val ex = p.indexOf("Exchange hashpartitioning(")
    assert(ex >= 0 && p.substring(ex, p.indexOf(')', ex)).contains("shard"),
      s"the window exchange must partition by (stratum, shard) — the skew-free key:\n$p")
    assert(!p.substring(0, p.indexOf("Exchange")).contains("text#"),
      s"text must be reduced to token counts before the shuffle:\n$p")
  }

  test("join_bloom_semi: sketch probe filters the fact side BELOW its exchange") {
    val p = plan("join_bloom_semi")
    val probe = p.indexOf("graft_bloom_contains")
    assert(probe >= 0, s"the bloom probe must appear in the physical plan:\n$p")
    // children print BELOW parents: the text between the probe filter and
    // the lineitem scan it guards must contain no Exchange — non-members
    // die in the scan stage and never reach a shuffle
    val below = p.substring(probe)
    val scan = below.indexOf("lineitem")
    assert(scan >= 0 && !below.substring(0, scan).contains("Exchange"),
      s"bloom probe must filter the fact side scan-side, below any exchange:\n$p")
  }

  test("pipeline_decontaminate_bloom: codegen'd probe, zero corpus shuffles") {
    val p = plan("pipeline_decontaminate_bloom")
    assert(p.contains("graft_bloom_any"),
      s"the array sketch probe must be compiled into the plan:\n$p")
    // both corpus branches (bloom-clean, residual-check) are pure scans;
    // the only exchanges in the whole plan are the metadata-sized bench
    // set reduction (partial collect_set -> SinglePartition -> broadcast)
    assert(!p.contains("Exchange hashpartitioning"),
      s"the corpus must never shuffle on a key:\n$p")
    assert(count(p, "Exchange") == 2 && p.contains("Exchange SinglePartition")
      && p.contains("BroadcastExchange"),
      s"only the bench-set reduction may exchange:\n$p")
  }

  test("pipeline_decontaminate_cjkdict: FMM word shingles ride the scan, zero corpus shuffles") {
    // the dict grain must not change the op's scale shape: the FMM
    // ladder is a kernel child inside the corpus scan projection, so
    // the only exchanges are still the metadata-sized bench-set
    // reduction and its broadcast — at 100 TB the corpus stays a pure
    // map regardless of grain
    val p = plan("pipeline_decontaminate_cjkdict")
    assert(p.contains("graft_fmm_tokens") && p.contains("graft_shingle_hashes"),
      s"word shingling must be compiled into the scan projection:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"the corpus must never shuffle on a key:\n$p")
    assert(count(p, "Exchange") == 2 && p.contains("Exchange SinglePartition")
      && p.contains("BroadcastExchange"),
      s"only the bench-set reduction may exchange:\n$p")
  }

  test("pipeline_curation_manifest: text streams through a broadcast-join chain, never shuffled") {
    val p = plan("pipeline_curation_manifest")
    // five stage id-sets join the text-carrying corpus scan as broadcasts
    // (at 100 TB the same plan degrades gracefully to an SMJ chain
    // SHARING one doc_id exchange — either way text crosses at most one)
    assert(count(p, "BroadcastHashJoin") >= 4,
      s"stage id-sets must broadcast against the corpus scan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"at audit scale no stage may force a corpus sort:\n$p")
    // the only hashpartitioning exchanges: keeper digest agg + final
    // manifest agg (+ the bench set reduction is SinglePartition)
    assert(count(p, "Exchange hashpartitioning") <= 2,
      s"only the digest and manifest aggregations may shuffle:\n$p")
  }

  test("pipeline_curation_manifest_fused: ONE corpus scan computes every stage") {
    val p = plan("pipeline_curation_manifest_fused")
    // exactly two file scans in the whole plan: the corpus (all five
    // stage predicates fused into its projection) and the bench set.
    // The composed variant reads the corpus five times — scan volume is
    // THE cost at 100 TB, so this shape is the production form
    assert(count(p, "Scan parquet") == 2,
      s"fused DAG must read the corpus once (plus the bench set):\n$p")
    assert(count(p, "Exchange hashpartitioning") == 2,
      s"only the digest window and the manifest agg may shuffle:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"no stage may rejoin the corpus to itself:\n$p")
  }

  test("embed_pq_topk: ADC scoring is a broadcast scan into the bounded heap") {
    val p = plan("embed_pq_topk")
    assert(p.contains("graft_pq_adc"),
      s"the compiled ADC kernel must be in the plan:\n$p")
    assert(!p.contains("Window"),
      s"PQ search must not shuffle+sort scored candidates:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query LUTs must broadcast against the code scan:\n$p")
    assert(count(p, "ObjectHashAggregate") >= 2,
      s"graft_topk must partial-aggregate map-side:\n$p")
  }

  test("embed_ann_topk (multi-probe): broadcast probes, bounded-heap top-k, no window sort") {
    val p = plan("embed_ann_topk")
    assert(!p.contains("Window"),
      s"multi-probe ANN must not shuffle+sort every scored candidate:\n$p")
    assert(count(p, "ObjectHashAggregate") >= 2,
      s"graft_topk must partial-aggregate map-side:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the probe side (queries x nprobe rows) must broadcast against the bucketed corpus:\n$p")
  }

  test("session_agg: one exchange + one sort drive both windows AND the final aggregate") {
    val p = plan("session_agg")
    assert(count(p, "Exchange") == 1,
      s"the lag flag, the running counter, and the (user, session) aggregate must all " +
        s"reuse the single user-key exchange:\n$p")
    assert(count(p, "Sort") == 1,
      s"the second window and the aggregate must reuse the first window's sort order:\n$p")
    assert(count(p, "Window") == 2, s"expected the two gaps-and-islands windows:\n$p")
  }

  test("embed_quant_topk: code-domain search keeps the brute-force scale shape") {
    val p = plan("embed_quant_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"quantized queries must broadcast against one quantized corpus scan:\n$p")
    assert(!p.contains("Window") && count(p, "ObjectHashAggregate") >= 2,
      s"top-k over codes must stay the partial-aggregating bounded heap:\n$p")
  }

  test("text_repetition: two keyed partial-agg exchanges, text dropped before the first") {
    val p = plan("text_repetition")
    assert(count(p, "Exchange") == 2,
      s"(doc, bigram) counting then per-doc max/total — exactly two shuffles:\n$p")
    assert(count(p, "HashAggregate") >= 4,
      s"both aggregations must combine map-side (the exchanges carry distinct " +
        s"(doc, bigram) rows, not every bigram occurrence):\n$p")
    val firstExchange = p.indexOf("Exchange")
    assert(firstExchange >= 0 && !p.substring(0, firstExchange).contains("text#"),
      s"text must be exploded to bigram rows before any shuffle:\n$p")
  }

  test("text_repetition_local: repetition scoring is a pure map — zero shuffles") {
    val p = plan("text_repetition_local")
    assert(count(p, "Exchange") == 0,
      s"the compiled top-ngram count must run inside the scan projection:\n$p")
    assert(p.contains("graft_top_ngram_count"),
      s"the single-pass native counter must be in the plan:\n$p")
  }

  test("text_scrub: redaction is a pure map — zero shuffles") {
    val p = plan("text_scrub")
    assert(count(p, "Exchange") == 0, s"scrubbing must stay in the scan projection:\n$p")
  }

  test("text_gopher_rules: quality flags are a pure map — zero shuffles") {
    val p = plan("text_gopher_rules")
    assert(count(p, "Exchange") == 0, s"gopher rules must stay in the scan projection:\n$p")
  }

  test("dedup_lines: AQE-deferred frequent-set sizing; no eager estimator artifacts") {
    // r16 shape: under AQE (the default) broadcastIfSmall is the
    // IDENTITY — no lease (no InMemoryTableScan), no estimator job,
    // no static broadcast hint; the frequent-set join is left for AQE
    // to size at runtime from exact shuffle stats. The static plan
    // therefore shows the unhinted join under an AdaptiveSparkPlan,
    // one doc-keyed reassembly exchange, and one line-keyed frequency
    // exchange (the agg AQE will measure) — nothing else.
    val p = plan("dedup_lines")
    assert(p.contains("AdaptiveSparkPlan"),
      s"dedup_lines must run under AQE for runtime join sizing:\n$p")
    assert(!p.contains("InMemoryTableScan"),
      s"the AQE path must not lease/cache the frequent set:\n$p")
    assert(count(p, "Exchange hashpartitioning\\(doc_id#") == 1,
      s"exactly one doc-keyed reassembly exchange:\n$p")
    assert(count(p, "Exchange hashpartitioning\\(line#") == 1,
      s"exactly one line-keyed frequency exchange (partial-agg combined):\n$p")
    // end-to-end: after execution AQE converts the tiny frequent-set
    // join to broadcast — the runtime replacement for the r15
    // estimator job (DedupGateSpec pins the AQE-off estimator branch)
    val df = Queries.queryMap("dedup_lines")(spark, sf)
    df.queryExecution.toRdd.count()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("BroadcastHashJoin"),
      s"AQE must broadcast the tiny frequent set at runtime:\n$executed")
  }

  test("chat family: row-local from scan to output — zero exchanges, one json parse") {
    // the SFT ops are pure per-conversation projections: any Exchange
    // here means a refactor introduced a shuffle into what must stay
    // an embarrassingly-parallel scan at 100 TB; and the JSON must be
    // parsed ONCE per row (from_json appears once per plan — a second
    // parse doubles the dominant row cost)
    Seq("chat_turn_stats", "chat_render", "chat_mask_spans",
        "chat_mask_tokens", "chat_quarantine", "chat_turn_stats_tools",
        "chat_truncate")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("Exchange"), s"$q must have no exchange:\n$p")
        assert(count(p, "from_json") == 1,
          s"$q must parse the conversation JSON exactly once:\n$p")
      }
    // the packed-mask composition: exactly TWO parse branches (the
    // render/count scan and the span scan — re-scanning beats shuffling
    // the corpus to share one scan), the packing window, a doc-keyed
    // join, and never a nested-loop join
    val pm = plan("chat_pack_masked")
    assert(count(pm, "from_json") == 2,
      s"chat_pack_masked: one parse per scan branch, two branches:\n$pm")
    assert(!pm.contains("CartesianProduct") &&
      !pm.contains("BroadcastNestedLoopJoin"),
      s"chat_pack_masked must join on doc id, never nested-loop:\n$pm")
    // the token-grain mask must ride the compiled kernels end-to-end:
    // one-pass token ends + binary-search counts (the quadratic
    // accumulator / interpreted HOF filter must not reappear)
    val pt = plan("chat_mask_tokens")
    assert(pt.contains("graft_bpe_token_ends") && pt.contains("graft_count_le"),
      s"chat_mask_tokens must ride the compiled BPE kernels:\n$pt")
    assert(!pt.contains("aggregate(graft_bpe_tokens"),
      s"the quadratic array-append accumulator must not reappear:\n$pt")
  }

  test("asof_enrich: merge formulation — no join operator, one window over one sort") {
    val p = plan("asof_enrich")
    assert(!p.contains("Join"),
      s"ASOF must be the union+merge-window shape, never a range join:\n$p")
    assert(p.contains("Window"), s"the running last() window must exist:\n$p")
    // key-only partitioning = the merge window; the (user_id, ts) one is
    // the right side's tiny pre-dedup aggregate and is allowed
    assert(count(p, "Exchange hashpartitioning\\(user_id#\\d+L?, \\d+\\)") == 1,
      s"exactly one keyed exchange merges both sides:\n$p")
  }

  test("pipeline_decontaminate: benchmark set broadcasts; corpus is never shuffled or exploded") {
    val p = plan("pipeline_decontaminate")
    val bx = p.indexOf("BroadcastExchange")
    assert(bx >= 0, s"the one-row benchmark shingle set must broadcast:\n$p")
    // the corpus branch is printed before the broadcast build side: it
    // must probe the broadcast set per row — scan -> project -> join,
    // never exploding (doc, shingle) rows and never shuffling (the only
    // Generate/Exchange live under the metadata-sized benchmark agg)
    val corpusSide = p.substring(0, bx)
    assert(!corpusSide.contains("Generate"),
      s"the corpus side must not explode (doc, shingle) rows:\n$p")
    assert(!corpusSide.contains("Exchange"),
      s"the corpus side must not shuffle:\n$p")
  }

  test("pipeline_contamination_report: corpus shingles stream into a broadcast hash join") {
    val p = plan("pipeline_contamination_report")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no per-row probe of a full bench array — O(1)-per-shingle hash join only:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the (shingle -> bench_id) attribution table must broadcast:\n$p")
    // corpus + bench build + bench base: three shingle explodes, all
    // streaming Generates — the corpus one feeds the broadcast probe
    // directly, so clean shingles die map-side before any exchange
    assert(count(p, "Generate explode\\(graft_shingle_hashes") == 2,
      s"exactly two streaming shingle explodes (corpus + bench build):\n$p")
    assert(!p.contains("SortMergeJoin") ||
      p.indexOf("SortMergeJoin") < p.indexOf("BroadcastHashJoin"),
      s"the corpus side must never sort-merge against the shingle table:\n$p")
  }

  test("text_winnow_pairs: postings join keys on the fingerprint; text never reaches the exchange") {
    val p = plan("text_winnow_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair-finding must be the keyed postings join, never all-pairs:\n$p")
    assert(count(p, "hashpartitioning\\(fp#\\d+") >= 1,
      s"the postings exchange keys on fp (longs only):\n$p")
    assert(!p.matches("(?s).*Exchange[^\\n]*text#.*"),
      s"no exchange may carry the text column:\n$p")
  }

  test("dedup_containment family: no expensive semi/anti join is cloned into a union's branches") {
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Union}
    // each row anti-joins (docs ∪ planted) with its victim set; a semi or
    // anti join over a Union is pushed into every branch, copying its
    // right side — here the postings self-join and the pair aggregate
    for (name <- Seq("dedup_containment", "dedup_containment_cjk",
                     "dedup_containment_cjkdict", "dedup_containment_thaidict")) {
      val p = Queries.queryMap(name)(spark, sf).queryExecution.optimizedPlan
      val cloned = p.collect { case u: Union => u.collect {
        case j: Join if (j.joinType == LeftAnti || j.joinType == LeftSemi) &&
          j.right.find {
            case _: Aggregate | _: Join => true
            case _ => false
          }.isDefined => j
      } }.flatten
      assert(cloned.isEmpty, s"$name: the victim pipeline must be planned once, not per branch:\n$p")
    }
  }

  test("text_chunk_sentences: ZERO shuffle — chunks come straight off the scan projection") {
    val p = plan("text_chunk_sentences")
    assert(!p.contains("Exchange"),
      s"sentence packing is per-document by definition; the compiled kernel " +
        s"must emit finished chunks from the scan (the window/groupBy form " +
        s"shuffles the full text corpus for nothing):\n$p")
    assert(p.contains("graft_sentence_chunks"), s"kernel must be in the plan:\n$p")
  }

  test("pipeline_contamination_semantic: bench broadcasts; one corpus scan, partial-agg exchange only") {
    val p = plan("pipeline_contamination_semantic")
    assert(p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the eval set must broadcast against the one corpus scan:\n$p")
    assert(count(p, "HashAggregate") >= 2,
      s"the (bench_id, count, max) reduction must partial-aggregate map-side:\n$p")
    assert(count(p, "Exchange hashpartitioning") == 1,
      s"exactly one exchange — bench-cardinality partial rows, never the corpus:\n$p")
  }

  test("embed_dedup_semantic: centroids broadcast; the ε-ball witness join keys on cluster") {
    val p = plan("embed_dedup_semantic")
    assert(!p.contains("CartesianProduct"),
      s"assignment must probe the broadcast centroid set, never a cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"corpus x centroids must be a broadcast nested-loop (map-side argmax feed):\n$p")
    // the pairwise ε-test must stay WITHIN clusters: a keyed join on
    // `cluster`, never an all-pairs corpus join
    assert(count(p, "hashpartitioning\\(cluster#\\d+") >= 1,
      s"the witness join must exchange on cluster (bounded Θ(Σ cluster²) by design):\n$p")
  }

  test("pipeline_temperature: rates broadcast back; the corpus pays one scan + filter") {
    val p = plan("pipeline_temperature")
    assert(p.contains("BroadcastHashJoin"),
      s"the stratum->rate table (stratum-cardinality rows) must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must never shuffle for the rate join:\n$p")
  }

  test("pipeline_select_topk: per-stratum best-k is a bounded heap, not a window sort") {
    val p = plan("pipeline_select_topk")
    assert(!p.contains("Window"),
      s"per-stratum top-k must not shuffle+sort the corpus:\n$p")
    assert(count(p, "ObjectHashAggregate") >= 2,
      s"graft_topk must partial-aggregate map-side (exchange carries k-item heaps):\n$p")
  }

  test("rpc_correlation: correlation join shuffles both sides on the key once") {
    val p = plan("rpc_correlation")
    // events is small here, so Spark may broadcast; accept either a
    // broadcast of one side or a single pair of hash exchanges — what
    // must NOT appear is a nested-loop over unkeyed rows
    assert(p.contains("Join") && !p.contains("CartesianProduct"),
      s"correlation must be a keyed join, never a cartesian product:\n$p")
  }

  test("event_rollup: all grouping levels share one Expand and one exchange") {
    val p = plan("event_rollup")
    assert(p.contains("Expand"),
      s"ROLLUP must plan one Expand, not per-level re-aggregation:\n$p")
    assert(count(p, "Exchange") == 1,
      s"the expanded rows partial-aggregate into ONE keyed exchange:\n$p")
  }

  test("event_pivot: conditional aggregation pivots in one exchange") {
    val p = plan("event_pivot")
    assert(count(p, "Exchange") == 1,
      s"static-value pivot is conditional aggregation — one user-key " +
        s"exchange, not Dataset.pivot's two-phase plan:\n$p")
    assert(count(p, "HashAggregate") >= 2,
      s"the per-user counts must combine map-side:\n$p")
  }

  test("event_percentiles_preagg: the sort runs over pre-aggregated distinct values") {
    val p = plan("event_percentiles_preagg")
    assert(count(p, "Exchange") == 2,
      s"(group, value) pre-agg exchange + group-keyed window exchange:\n$p")
    assert(count(p, "partial_count") >= 1,
      s"the duplicate collapse must combine map-side:\n$p")
    val firstSort = p.indexOf("Sort ")
    val firstAgg = p.indexOf("HashAggregate")
    assert(firstSort >= 0 && firstAgg >= 0 && firstSort < p.lastIndexOf("HashAggregate"),
      s"sorting must happen above the collapsing aggregate, over reduced rows:\n$p")
  }

  test("pipeline_split: split assignment is a pure map — zero shuffles") {
    val p = plan("pipeline_split")
    assert(count(p, "Exchange") == 0,
      s"hash-range membership must not repartition anything:\n$p")
  }

  test("pipeline_shuffle: one shard exchange, per-shard sort, no global window") {
    val p = plan("pipeline_shuffle")
    assert(count(p, "Exchange") == 1,
      s"the shuffle must shard-partition once:\n$p")
    assert(!p.contains("SinglePartition"),
      s"rank must never serialize through a single-partition window:\n$p")
  }

  test("text_chunk: chunking is a pure projection + explode — zero shuffle, no UDF") {
    val p = plan("text_chunk")
    assert(count(p, "Exchange") == 0,
      s"chunking must not repartition anything:\n$p")
    assert(!p.toLowerCase.contains("udf"),
      s"the chunk hash must be native md5, not a UDF:\n$p")
  }

  test("mm_audio_meta / mm_meta_columnar: header parses stay in codegen, zero shuffle") {
    for (name <- Seq("mm_audio_meta", "mm_meta_columnar")) {
      val p = plan(name)
      assert(count(p, "Exchange") == 0, s"$name must be scan-shaped:\n$p")
      assert(!p.toLowerCase.contains("udf"), s"$name must not use a UDF:\n$p")
    }
  }

  test("text_bpe_tokens: tokenization is a zero-shuffle compiled scan projection") {
    val p = plan("text_bpe_tokens")
    assert(count(p, "Exchange") == 0,
      s"BPE tokenization must be a pure scan projection:\n$p")
    assert(p.contains("graft_bpe"),
      s"the hot path must run the compiled kernel, not the replace chain:\n$p")
    assert(!p.toLowerCase.contains("udf"), s"no UDF in the token path:\n$p")
  }

  test("dedup_spans: duplicated-digest set broadcasts back; corpus shuffles only on digest-agg and doc id") {
    // r17 shape: the digest set goes through broadcastIfSmall — under
    // AQE (the default) that's the identity, so the static plan shows
    // the unhinted join under AdaptiveSparkPlan with no estimator
    // artifacts, and AQE converts it to broadcast at runtime from the
    // digest agg's exact shuffle stats (the dedup_lines discipline)
    val p = plan("dedup_spans")
    assert(p.contains("AdaptiveSparkPlan"),
      s"dedup_spans must run under AQE for runtime join sizing:\n$p")
    assert(!p.contains("InMemoryTableScan"),
      s"the AQE path must not lease/cache the digest set:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span coverage must never be a nested-loop join:\n$p")
    // exchanges: gram-digest partial agg (1) + its broadcast feed, the
    // covered-position distinct, the final doc-id agg, and the word/cover
    // join keys — bounded, never data-squared
    assert(count(p, "HashAggregate") >= 2,
      s"the digest count must partial-aggregate map-side:\n$p")
    val df = Queries.queryMap("dedup_spans")(spark, sf)
    df.queryExecution.toRdd.count()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("BroadcastHashJoin"),
      s"AQE must broadcast the tiny duplicated-digest set at runtime:\n$executed")
  }

  test("pipeline_pack_bpe: one (stratum, shard) window exchange, compiled token kernel") {
    val p = plan("pipeline_pack_bpe")
    assert(count(p, "Exchange") == 1,
      s"sharded packing must shuffle exactly once, on (stratum, shard):\n$p")
    assert(p.contains("graft_bpe_count"),
      s"packing must count with the compiled BPE kernel:\n$p")
  }

  test("join_bucketed: bucketed join + key-grained agg run with ZERO exchange") {
    // disable broadcast and AQE so the sort-merge path is forced: the
    // assertion is that bucketing alone satisfies every distribution
    // requirement in the plan (join AND aggregation)
    val pairs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val p = plan("join_bucketed")
      assert(!p.contains("Exchange"),
        s"the write-time bucketing must eliminate every shuffle:\n$p")
      assert(p.contains("SortMergeJoin"),
        s"with broadcast off the join must be the bucket-aligned SMJ:\n$p")
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("pipeline_ingest: the strip->normalize->filter chain is ONE corpus scan + one keyed exchange") {
    val p = formatted("pipeline_ingest")
    assert(count(p, "Location[^\\n]*documents\\.parquet") == 1,
      s"the three stages must fuse onto one scan:\n$p")
    val plan = Queries.queryMap("pipeline_ingest")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(count(plan, "Exchange") == 1,
      s"only the dedup digest window may shuffle:\n$plan")
  }

  test("text_scripts: script counts are one zero-exchange scan projection") {
    val p = plan("text_scripts")
    assert(!p.contains("Exchange"), s"scriptProfile must not shuffle:\n$p")
  }

  test("stats_heavy_hitters: the probe joins broadcast counters; exact side is TakeOrdered, no global sort") {
    val p = plan("stats_heavy_hitters")
    assert(p.contains("TakeOrderedAndProject"),
      s"exact top-k must be TakeOrdered, not a global sort:\n$p")
    assert(count(p, "BroadcastHashJoin") >= 1,
      s"counters and winners must broadcast into the probe:\n$p")
  }

  test("pipeline_embed_index: steady state scans documents ONCE (query chunks); codes are directory-pruned index reads") {
    val p = formatted("pipeline_embed_index")
    // r21: the query-vector derivation (the only corpus scan) runs once
    // in the single probe+LUT collect — the steady-state scoring plan
    // itself reads NO corpus at all: codes scan × a LocalTableScan
    // broadcast of the collected (probe ⋈ LUT) rows
    assert(count(p, "Location[^\\n]*documents\\.parquet") == 0,
      s"the scoring plan must read only the index, never the corpus:\n$p")
    assert(p.contains("LocalTableScan"),
      s"the broadcast side must be the collected probe+LUT rows:\n$p")
    assert(count(p, "Location[^\\n]*graft_embpipe") >= 1,
      s"the candidate side must read the persisted index, not recompute:\n$p")
    // the probed clusters become partition filters on the codes layout
    assert(p.matches("(?s).*PartitionFilters[^\\n]*cluster.*"),
      s"the codes scan must directory-prune on the probed clusters:\n$p")
  }

  test("embed_binary_topk: hamming shortlist is a bounded heap; phase-2 fetch joins broadcast — corpus never shuffles") {
    val p = plan("embed_binary_topk")
    assert(!p.contains("Window"),
      s"both the prefilter shortlist and the final top-k must be bounded heaps, not window sorts:\n$p")
    assert(count(p, "ObjectHashAggregate") >= 4,
      s"both top-k phases must partial-aggregate map-side (2 phases x partial+final):\n$p")
    assert(count(p, "BroadcastHashJoin|BroadcastNestedLoopJoin") >= 2,
      s"query sketches and the candidate shortlist must broadcast — the corpus side joins without an exchange:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-side shuffle join anywhere in the two-phase search:\n$p")
  }

  test("pipeline_dsir: scoring is a JOIN-FREE kernel projection; selection is TakeOrdered") {
    // the fast path folds the collected bucket table into a literal
    // weight array, so the SCORING pass (the plan this query returns —
    // pass 1's count collect runs eagerly before it) must contain no
    // join, no explode, and no exchange other than the TakeOrdered
    val p = plan("pipeline_dsir")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N selection must be TakeOrdered, never a global sort of all weights:\n$p")
    assert(count(p, "Join") == 0,
      s"the literal weight table replaces every join in the scoring pass:\n$p")
    assert(!p.contains("Generate"),
      s"the scoring pass must not explode gram rows — the kernel scores row-locally:\n$p")
  }

  test("embed_bitext_mine: side tables broadcast; every top-k is a bounded heap, no window sort") {
    val p = plan("embed_bitext_mine")
    assert(!p.contains("Window"),
      s"neighborhood top-k and the final argmax must be bounded heaps:\n$p")
    assert(count(p, "BroadcastHashJoin|BroadcastNestedLoopJoin") >= 3,
      s"the source side and both neighborhood-average tables must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing in the mining plan justifies a shuffle join:\n$p")
  }

  test("text_vocab: counts partial-aggregate; top-V is TakeOrdered; cumsum window sees V rows only") {
    val p = plan("text_vocab")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-V selection must be TakeOrdered, not a vocabulary-wide sort:\n$p")
  }

  test("embed_hard_negatives: broadcast queries, label filter in the join, bounded-heap top-k") {
    val p = plan("embed_hard_negatives")
    assert(!p.contains("Window"), s"top-k must be the bounded heap:\n$p")
    assert(count(p, "BroadcastHashJoin|BroadcastNestedLoopJoin") >= 1,
      s"the query side must broadcast against one corpus scan:\n$p")
  }

  test("embed_binary_persisted: prefilter scan reads ONLY (v_id, sk) — the 16-byte column slice") {
    val p = formatted("embed_binary_persisted")
    assert(count(p, "ReadSchema[^\\n]*struct<v_id:bigint,sk:bigint>") >= 1,
      s"the hamming prefilter must column-prune the index to (v_id, sk):\n$p")
  }

  test("pipeline_soft_dedup: weights attach by keyed joins — text is dropped at the scan") {
    val p = formatted("pipeline_soft_dedup")
    // the full-corpus side that carries doc ids into the final join
    // reads (doc_id) only; text feeds the shingle scan, nothing else
    assert(count(p, "ReadSchema[^\\n]*struct<doc_id:bigint>") >= 1,
      s"the reweighting join's corpus side must prune to the id column:\n$p")
  }

  test("q7_volume_shipping: both nation-filtered sides broadcast; one shuffle join (lineitem⋈orders)") {
    val p = plan("q7_volume_shipping")
    assert(count(p, "BroadcastHashJoin") >= 2,
      s"the supplier and customer sides (2/25 of their tables) must broadcast:\n$p")
    assert(count(p, "SortMergeJoin|ShuffledHashJoin") <= 1,
      s"only lineitem⋈orders may shuffle:\n$p")
  }

  test("q15_top_supplier: the scalar max re-joins by broadcast — no single-partition window") {
    val p = plan("q15_top_supplier")
    assert(!p.contains("Window"),
      s"max-revenue selection must not be a window over the aggregate:\n$p")
    assert(count(p, "BroadcastHashJoin|BroadcastNestedLoopJoin") >= 2,
      s"the 1-row max and the supplier dim must both broadcast:\n$p")
  }

  test("q17_small_quantity: part list and per-part averages broadcast against the fact scans") {
    val p = plan("q17_small_quantity")
    assert(count(p, "BroadcastHashJoin") >= 2,
      s"the brand-filtered part list and the avg-qty side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing in q17 justifies shuffling the fact table for a join:\n$p")
  }

  test("q19_bracketed_revenue: the OR-of-ANDs stays a residual filter on a broadcast equi-join") {
    val p = plan("q19_bracketed_revenue")
    assert(p.contains("BroadcastHashJoin"),
      s"partkey must remain the hash key with the brackets as residual predicate:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the disjunction must not degrade the join to a nested loop:\n$p")
  }

  test("text_backoff_score: the literal-vocab kernel leaves a join-free, explode-free, shuffle-free scan") {
    // the three top-V collects run eagerly at build time (metadata-sized,
    // the DSIR literal-table pattern); the plan this query RETURNS is the
    // corpus pass and must be a pure projection
    val p = plan("text_backoff_score")
    assert(count(p, "Join") == 0,
      s"the literal (hash, cnt) arrays replace every vocab join:\n$p")
    assert(!p.contains("Generate"),
      s"the kernel scores positions row-locally — no explode:\n$p")
    assert(!p.contains("Exchange"),
      s"the scoring pass must not shuffle the corpus:\n$p")
  }

  test("pipeline_cluster_budget: budget fill is the keyed prefix sum — no per-cluster window funnel") {
    // the range partitioning itself lives behind the prefix sum's
    // localCheckpoint (lineage is cut by design), so the observable
    // signature is: the pass-2 streamer, and no window or further
    // exchange anywhere after it
    val p = plan("pipeline_cluster_budget")
    assert(!p.contains("Window"),
      s"a PARTITION BY cluster window would funnel each cluster through one reducer:\n$p")
    assert(p.contains("MapPartitions"),
      s"pass 2 must stream partitions against the broadcast offsets:\n$p")
    assert(!p.contains("Exchange"),
      s"the budget filter must add no shuffle beyond the checkpointed range exchange:\n$p")
  }

  test("q8_market_share: part/supplier/customer-region sides all broadcast; one fact shuffle") {
    val p = plan("q8_market_share")
    assert(count(p, "BroadcastHashJoin") >= 3,
      s"filtered part, supplier⋈nation, and the EUROPE customer side must broadcast:\n$p")
    assert(count(p, "SortMergeJoin|ShuffledHashJoin") <= 1,
      s"only lineitem⋈orders may shuffle:\n$p")
  }

  test("q10_returned_customers: top-20 is TakeOrdered over the grouped revenue, nation broadcasts") {
    val p = plan("q10_returned_customers")
    assert(p.contains("TakeOrderedAndProject"),
      s"the limit must compile to per-partition top-k + merge, not a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 25-row nation dim must broadcast:\n$p")
  }

  test("q13_order_counts: both aggregations combine map-side; the priority filter rides the outer join") {
    val p = plan("q13_order_counts")
    assert(count(p, "HashAggregate") >= 4,
      s"per-customer counts and the histogram must each partial-aggregate:\n$p")
    assert(p.contains("LeftOuter") || p.contains("RightOuter"),
      s"zero-order customers must survive via the outer join:\n$p")
  }

  test("q18_large_volume: the HAVING side carries (key, sum) only; customers broadcast") {
    val p = plan("q18_large_volume")
    assert(count(p, "HashAggregate") >= 2,
      s"the per-order quantity sum must combine map-side:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 must not globally sort the join result:\n$p")
  }

  test("pipeline_mix_report: one leased derivation feeds both the offered agg and the selection") {
    val p = plan("pipeline_mix_report")
    assert(p.contains("InMemoryTableScan"),
      s"the scored frame must be leased so offered/taken share one corpus derivation:\n$p")
    assert(!p.contains("Window"),
      s"the report must not reintroduce a per-stratum window:\n$p")
  }

  test("embed_cluster_profile: centroids broadcast; one argmax exchange + one cluster-keyed agg") {
    val p = plan("embed_cluster_profile")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the centroid set must broadcast into the assignment:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing in the profile justifies shuffling the corpus for a join:\n$p")
  }

  test("dedup_incremental_near: prior side reads the persisted band table — no prior-corpus text scan") {
    val p = formatted("dedup_incremental_near")
    assert(p.contains("bands"),
      s"the prior side must come from the first-touch band-table parquet:\n$p")
    // the prior corpus's text is never re-shingled in the query plan:
    // exactly the new-snapshot scans touch the text column
    assert(count(p, "ReadSchema[^\\n]*text") <= 2,
      s"only the new snapshot (union of base + planted) may scan text:\n$p")
  }

  test("pipeline_url_canon: canonicalization is a pure projection — zero shuffles") {
    val p = plan("pipeline_url_canon")
    assert(!p.contains("Exchange"),
      s"URL canonicalization must stay a zero-shuffle scan projection:\n$p")
  }

  test("dedup_url: one keyed partial-agg exchange of (canon_url, id) — text never moves") {
    val p = plan("dedup_url")
    assert(count(p, "HashAggregate") >= 2,
      s"the keeper min must combine map-side:\n$p")
    assert(count(p, "Exchange") == 1,
      s"URL dedup needs exactly one shuffle:\n$p")
    assert(!p.contains("text#"),
      s"the text column must never appear in the URL dedup plan:\n$p")
  }

  test("pipeline_quality_ensemble: all four signal families compute in ONE zero-shuffle corpus scan") {
    val p = formatted("pipeline_quality_ensemble")
    // formatted explain prints each node once in the tree and once in
    // the details — count the numbered detail headers
    assert(count(p, "\\(\\d+\\) Scan parquet") == 1,
      s"the ensemble must not re-scan the corpus per signal family:\n$p")
    assert(!p.contains("Exchange"),
      s"every signal is a projection — nothing may shuffle:\n$p")
    assert(!p.contains("Join"),
      s"the carry hook replaces every signal join:\n$p")
  }

  test("pipeline_crawl_ingest: container-to-manifest is explode + keyed aggs — join-free, window-free") {
    val p = plan("pipeline_crawl_ingest")
    assert(count(p, "Join") == 0,
      s"every stage composes as projection/filter/agg — no join anywhere:\n$p")
    assert(count(p, "Generate") == 1,
      s"exactly one explode (the record split):\n$p")
    assert(!p.contains("Window"),
      s"no stage needs a window:\n$p")
  }

  test("io_warc_parse: record split explodes once; header parsing stays a projection") {
    val p = plan("io_warc_parse")
    assert(count(p, "Generate") == 1,
      s"exactly one explode (the record split) may appear:\n$p")
    assert(count(p, "Join") == 0,
      s"container parsing must not join:\n$p")
  }

  test("text_bpe_fertility: the fertility band is a pure compiled map — zero shuffles") {
    val p = plan("text_bpe_fertility")
    assert(!p.contains("Exchange"),
      s"fertility scoring must stay a zero-shuffle scan projection:\n$p")
  }

  test("pipeline_url_canon: kernel projection, zero shuffle, whole-stage codegen") {
    val p = plan("pipeline_url_canon")
    assert(!p.contains("Exchange"),
      s"canonicalization must stay a zero-shuffle scan projection:\n$p")
    assert(p.contains("graft_url_canon") && p.contains("graft_url_domain"),
      s"the compiled kernels must carry the projection (not the ~90-op declarative chain):\n$p")
    assert(count(p, "\\*\\(\\d+\\)") >= 1 && !p.contains("regexp_replace"),
      s"kernel path must keep whole-stage codegen (starred nodes) with no regex nodes:\n$p")
  }

  test("dedup_url: one keyed (canon_url, id) exchange and nothing else") {
    val p = plan("dedup_url")
    assert(count(p, "Exchange") == 1,
      s"url dedup is exactly one partial-agg exchange of (canon_url -> min id):\n$p")
    assert(p.contains("partial_min") || p.contains("HashAggregate"),
      s"map-side combine before the exchange:\n$p")
  }

  test("text_fix_mojibake: replace chain materializes ONCE, fully codegen'd, zero shuffle") {
    val p = plan("text_fix_mojibake")
    assert(!p.contains("Exchange"), s"repair is a pure projection:\n$p")
    // the chain feeds both fixed_text and the changed comparison; a
    // CollapseProject regression would inline it TWICE (2x row cost).
    // Count a per-chain sentinel (the first artifact pair), not nested
    // "replace(replace(" — one 41-deep chain already repeats that
    val chains = count(p, java.util.regex.Pattern.quote(
      graft.ops.Mojibake.table.head._1 + ", " + graft.ops.Mojibake.table.head._2))
    assert(chains == 1,
      s"the ~37-step chain must appear exactly once (attribute-referenced by `changed`), found $chains:\n$p")
  }

  test("pipeline_datacard: ONE corpus scan, no joins — every metric fused into the gate projection") {
    val p = plan("pipeline_datacard")
    assert(count(p, "Scan parquet") == 1,
      s"the card must not re-scan the corpus per metric family:\n$p")
    assert(count(p, "Join") == 0,
      s"no doc-keyed joins (they fan out on duplicate ids and drop nulls):\n$p")
  }

  test("pipeline_chunk_manifest: closed form — no explode, no slices, compiled token count") {
    val p = plan("pipeline_chunk_manifest")
    assert(!p.contains("Generate"),
      s"the closed form needs no chunk explode:\n$p")
    assert(p.contains("graft_token_count") && !p.contains("regexp_extract_all"),
      s"token counting must ride the compiled kernel:\n$p")
  }

  test("pipeline_chunk_manifest_cjk: closed form rides the count-only routed kernel") {
    val p = plan("pipeline_chunk_manifest_cjk")
    assert(!p.contains("Generate"),
      s"the routed closed form needs no chunk explode either:\n$p")
    assert(p.contains("graft_word_count") && !p.contains("graft_routed_tokens"),
      s"the manifest must count, never materialize, routed tokens:\n$p")
  }

  test("text_tfidf_keywords: pair-kernel grain + heap-bounded per-doc top-k") {
    for (q <- Seq("text_tfidf_keywords", "text_tfidf_keywords_cjk",
                  "text_tfidf_keywords_cjkdict", "text_tfidf_keywords_thaidict")) {
      val p = plan(q)
      // r20/r21: per-doc top-k rides the graft_topk_words bounded-heap
      // aggregate — partial (map-side, ≤ k rows per doc per task) +
      // final merge, so the per-doc exchange carries heaps, never the
      // full (doc, term) stream a row_number window would shuffle AND
      // sort. Two occurrences = partial + final aggregate modes.
      assert(count(p, "graft_topk_words") >= 2,
        s"$q: top-k must ride the partial+final heap aggregate:\n$p")
      // ... and the window formulation must really be gone: no Window
      // node may sort the (doc, term) stream at corpus width
      assert(!p.contains("WindowGroupLimit") && !p.contains("Window "),
        s"$q: the row_number window must not reappear:\n$p")
      // tf rows come from the row-local pair kernel, not a token explode
      assert(p.contains("graft_term_tf") || p.contains("InMemoryTableScan"),
        s"$q: tf must ride the pair kernel:\n$p")
      assert(!p.contains("regexp_extract_all"),
        s"$q: no regex-engine tokenization in the plan:\n$p")
    }
  }

  test("text_bigram_score: fused gram pairs — no HOF child, no per-occurrence grain") {
    val p = plan("text_bigram_score")
    assert(p.contains("graft_gram_tf"),
      s"gram tf must ride the fused pair kernel:\n$p")
    assert(!p.contains("graft_ngrams") && !p.contains("array_filter"),
      s"the HOF-child ngrams construction must be gone:\n$p")
  }

  test("text_collocations: fused pair kernels, top-k via TakeOrderedAndProject, rank window post-limit") {
    for (q <- Seq("text_collocations", "text_collocations_cjk")) {
      val p = plan(q)
      // both gram orders ride the fused kernel — no per-occurrence
      // token explode feeding a corpus-grain aggregate
      assert(p.contains("graft_gram_tf"),
        s"$q: uni+bi counts must ride the pair kernel:\n$p")
      // global top-k must be a bounded heap, not a full sort of the
      // scored bigram table
      assert(p.contains("TakeOrderedAndProject"),
        s"$q: top-k must be TakeOrderedAndProject:\n$p")
      // the rank window runs over the <= topK surviving rows (above
      // the TakeOrdered in the formatted tree), never the corpus: the
      // plan has exactly one Window node and it must sit before (=
      // above) the TakeOrdered line
      assert(count(p, "Window") == 1 &&
        p.indexOf("Window") < p.indexOf("TakeOrderedAndProject"),
        s"$q: rank window must be post-limit only:\n$p")
    }
  }

  test("preference family: stats row-local, dedup one digest-keyed exchange") {
    // pref_pair_stats is a pure per-pair projection — an Exchange means
    // a refactor introduced a shuffle into a 100 TB scan-shaped pass
    val ps = plan("pref_pair_stats")
    assert(!ps.contains("Exchange"),
      s"pref_pair_stats must be row-local:\n$ps")
    assert(ps.contains("graft_normalize") && ps.contains("graft_token_count"),
      s"identity and token counts must ride the compiled kernels:\n$ps")
    // the dedup shuffles exactly once, keyed on the fixed-width md5 —
    // partial aggregation means digest rows cross the wire, never the
    // triple text
    val pd = plan("pref_pair_dedup")
    assert(count(pd, "Exchange") == 1,
      s"pref_pair_dedup: one digest-keyed exchange and nothing else:\n$pd")
    assert(count(pd, "HashAggregate") >= 2,
      s"pref_pair_dedup must partial-aggregate map-side:\n$pd")
    // the report is one stratum-grain partial agg
    val pr = plan("pref_report")
    assert(count(pr, "Exchange") == 1,
      s"pref_report: one stratum exchange:\n$pr")
  }

  test("judge family: pair-grain aggregation, judgments scanned once") {
    // the win-rate matrix is ONE partial-aggregated pair-keyed exchange
    // over the judgment scan — at 100 TB of matches the shuffled rows
    // are (model, model) keys, never match rows
    val wr = plan("judge_winrate")
    assert(count(wr, "Exchange") == 1 && count(wr, "HashAggregate") >= 2,
      s"judge_winrate: one pair-keyed partial-agg exchange:\n$wr")
    // the BT recurrence scans the judgment table ONCE into the pair
    // table (metadata-sized by design), collects it, and runs the MM
    // ladder on the driver (r20) — the published frame must be a pure
    // local relation: any Exchange or Join here means the ladder
    // regressed back into per-iteration Spark stages
    val bt = plan("judge_bt")
    assert(bt.contains("LocalTableScan") && !bt.contains("Exchange") &&
      !bt.contains("Join"),
      s"judge_bt: the MM ladder runs on the collected pair table:\n$bt")
    // agreement must stay the NO-JOIN formulation: two sequential
    // label-grain exchanges + a row-local pair explode — the item
    // self-join it replaced scanned and shuffled the label table twice
    val ag = plan("judge_agreement")
    assert(!ag.contains("Join"),
      s"judge_agreement must not reintroduce the self-join:\n$ag")
    assert(count(ag, "Exchange") <= 3,
      s"judge_agreement: label-grain exchanges only:\n$ag")
  }

  test("traj_returns: one exchange reused by window and agg; compiled kernel in the plan") {
    // the fixture's row_number window shuffles by user; the groupBy
    // rides the SAME partitioning — a second hash exchange would mean
    // the reuse broke. The return pass must be the compiled kernel,
    // not a declarative accumulator.
    val p = plan("traj_returns")
    assert(count(p, "Exchange hashpartitioning") == 1,
      s"traj_returns: the trajectory agg must reuse the window's exchange:\n$p")
    assert(p.contains("graft_disc_returns"),
      s"traj_returns must run the compiled recurrence kernel:\n$p")
  }

  test("traj_advantage: two-branch re-scan, metadata join, no cartesian") {
    val p = plan("traj_advantage")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"traj_advantage: the baseline join must be keyed:\n$p")
    assert(count(p, "graft_disc_returns") >= 1,
      s"traj_advantage must ride the kernel:\n$p")
  }

  test("traj_gae: one trajectory exchange, compiled GAE kernel, no HOF under it") {
    // same shape as traj_returns: the fixture's row_number window
    // shuffles by user and the episode collect rides the SAME
    // partitioning; the backward pass must be the compiled kernel fed
    // the raw sorted struct array (a transform() child would break
    // whole-stage codegen)
    val p = plan("traj_gae")
    assert(count(p, "Exchange hashpartitioning") == 1,
      s"traj_gae: the episode agg must reuse the window's exchange:\n$p")
    assert(p.contains("graft_gae_adv"),
      s"traj_gae must run the compiled GAE kernel:\n$p")
    assert(!p.matches("(?s).*graft_gae_adv\\(transform.*"),
      s"the kernel's child must be the raw collect column, not a HOF:\n$p")
  }

  test("judge_kappa: no self-join; label-grain exchanges then metadata grain") {
    // kappa widens agreement's row-local pair explode to category
    // contribution rows — still no join anywhere in the Spark plan
    // (the twin uses the join formulation at oracle scale only), and
    // the two extra aggregation levels land at (pair x category) /
    // pair grain, metadata-sized
    val p = plan("judge_kappa")
    assert(!p.contains("Join"),
      s"judge_kappa must not reintroduce the self-join:\n$p")
    assert(count(p, "Exchange") <= 4,
      s"judge_kappa: label-grain + metadata-grain exchanges only:\n$p")
  }

  test("judge_bt_convergence: driver MM ladder publishes a local relation") {
    // btScores' r20 audit extended to the convergence report: one
    // judgment scan builds the collected pair table; ladder and the
    // prev-iteration delta run on the driver over |models|-row
    // metadata, so the published frame is a pure local relation
    val p = plan("judge_bt_convergence")
    assert(p.contains("LocalTableScan") && !p.contains("Exchange") &&
      !p.contains("Join"),
      s"judge_bt_convergence: the MM ladder runs on the collected pair table:\n$p")
  }

  test("pref_dpo_margins: one bins-keyed partial-agged exchange") {
    val p = plan("pref_dpo_margins")
    assert(count(p, "Exchange hashpartitioning") == 1 &&
      count(p, "HashAggregate") >= 2,
      s"dpo margin report is one partial-agged bin exchange:\n$p")
  }

  test("eval_pass_all_k: same two-level partial-agg shape as pass@k") {
    // the prompt-keyed exchange carries (prompt, n, c) partial aggs,
    // never sample rows; then the |ks|-row final agg
    val p = plan("eval_pass_all_k")
    assert(count(p, "HashAggregate") >= 4,
      s"pass^k must partial-aggregate both levels:\n$p")
    assert(!p.contains("Join"),
      s"pass^k is agg-only:\n$p")
  }

  test("judge_self_consistency: no join, two partial-agged exchanges") {
    // the OP is a pure two-level agg (the fixture's 3-judge explode
    // and union are fixture-side); labels collapse to (count, min,
    // max) before the first exchange
    val p = plan("judge_self_consistency")
    assert(!p.contains("Join"),
      s"self-consistency must not join:\n$p")
    assert(count(p, "Exchange hashpartitioning") <= 2,
      s"label-grain then judge-grain exchanges only:\n$p")
    // the (item, judge) level plans as SortAggregate (string min/max);
    // partial-ness is what matters, not the agg implementation
    assert(count(p, "HashAggregate") + count(p, "SortAggregate") >= 4,
      s"both agg levels must be partial:\n$p")
  }

  test("judge_fleiss_kappa: co-partitioned item join, no cartesian, label-grain exchanges") {
    // the marginal branch joins (item, category) counts back to item
    // panel sizes — both descend from item-keyed aggs, so the join
    // must be keyed (SMJ/shuffled-hash on the item key), never a
    // nested-loop; everything after is metadata grain
    val p = plan("judge_fleiss_kappa")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fleiss marginal join must be keyed:\n$p")
    // the documented two-branch re-derivation of the label-grain ik
    // lineage doubles its exchange chain in the STATIC plan (runtime
    // exchange reuse collapses the identical subtrees); the pin is
    // the ceiling, not the runtime count
    assert(count(p, "Exchange hashpartitioning") <= 12,
      s"label-grain (2x documented) + metadata-grain exchanges only:\n$p")
  }

  test("grpo_group_stats / ppo_kl_report: one partial-agged keyed exchange each") {
    for (q <- Seq("grpo_group_stats", "ppo_kl_report")) {
      val p = plan(q)
      assert(count(p, "Exchange hashpartitioning") == 1 &&
        count(p, "HashAggregate") >= 2,
        s"$q is one partial-agged keyed exchange:\n$p")
      assert(!p.contains("Join"), s"$q is agg-only:\n$p")
    }
  }

  test("pref_bon_select: one prompt-keyed partial-agg exchange; struct max/min combine map-side") {
    val p = plan("pref_bon_select")
    // struct max/min plans as SortAggregate — partial-ness is what
    // matters (the selfConsistency convention)
    assert(count(p, "Exchange hashpartitioning") == 1 &&
      count(p, "SortAggregate") + count(p, "HashAggregate") >= 2,
      s"bon select is one partial-agged prompt exchange:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"selection is a struct agg, not a window or join:\n$p")
  }

  test("chat_refusal_report: parse-local turn flags, one conversation-keyed exchange") {
    // the turn TEXT never shuffles — the instr flags compute before
    // the conversation agg, and only (id, flag, turn_idx) cross
    val p = plan("chat_refusal_report")
    assert(count(p, "Exchange hashpartitioning") == 1 &&
      count(p, "HashAggregate") >= 2,
      s"refusal report is one partial-agged conversation exchange:\n$p")
  }

  test("judge_position_bias: single model-keyed exchange, partial-aggregated") {
    val p = plan("judge_position_bias")
    assert(count(p, "Exchange hashpartitioning") == 1,
      s"position bias is one partial-agged model-keyed exchange:\n$p")
    assert(count(p, "HashAggregate") >= 2,
      s"the two-sided explode must partial-aggregate map-side:\n$p")
  }

  test("mix_plan: one source-keyed exchange; windows run on metadata-sized rows") {
    // the corpus scan partial-aggregates into |sources| rows before the
    // single hash exchange; the whole-frame total window (SinglePartition)
    // is AFTER that — over |sources| rows, not the corpus
    val p = plan("mix_plan")
    assert(count(p, "Exchange hashpartitioning") == 1,
      s"mix_plan must aggregate sources in one exchange:\n$p")
    assert(count(p, "HashAggregate") >= 2,
      s"token masses must partial-aggregate before the shuffle:\n$p")
  }

  test("bpe_fertility_report: pruned scan, partial agg, one exchange") {
    val p = formatted("bpe_fertility_report")
    assert(!p.contains("doc_id") && !p.contains("n_chars"),
      s"fertility scan must read only (text, lang):\n$p")
    val t = plan("bpe_fertility_report")
    assert(count(t, "Exchange hashpartitioning") == 1 &&
      count(t, "HashAggregate") >= 2,
      s"fertility is one partial-agged language exchange:\n$t")
  }

  test("chat_truncate_bpe: row-local — zero exchanges") {
    val p = plan("chat_truncate_bpe")
    assert(!p.contains("Exchange"),
      s"BPE truncation is a pure map; any exchange is a regression:\n$p")
  }

  test("judge_length_bias / canary_scan / eval_pass_at_k: single-pass scan shapes") {
    // length bias: one bins-keyed exchange, partial-agged; the response
    // text never moves (only precomputed lengths)
    val lb = plan("judge_length_bias")
    assert(count(lb, "Exchange hashpartitioning") == 1 &&
      count(lb, "HashAggregate") >= 2,
      s"length bias is one partial-agged bin exchange:\n$lb")
    // canary: ONE scan, |canaries| conditional sums into a single
    // global aggregate — a per-canary scan (3 scans here) or a corpus
    // explode would both be regressions
    val cs = plan("canary_scan")
    assert(count(cs, "Scan parquet") == 1,
      s"canary_scan must compute every canary in one corpus scan:\n$cs")
    assert(count(cs, "Exchange hashpartitioning") == 0,
      s"canary_scan's only exchange is the single-row global agg:\n$cs")
    // pass@k: the prompt-keyed exchange carries (prompt, n, c) partial
    // aggs, never sample rows; then the |ks|-row final agg
    val pk = plan("eval_pass_at_k")
    assert(count(pk, "HashAggregate") >= 4,
      s"pass@k must partial-aggregate both levels:\n$pk")
  }

  test("eval_score_em_f1 / _cjk / eval_overlap_ngram: zero-exchange row-local scans") {
    // answer scoring is the chat-family class: every score is a
    // projection over one corpus scan — the clipped-intersection walk
    // is row-local, the join formulation lives only in the DuckDB
    // twin at oracle scale
    for (q <- Seq("eval_score_em_f1", "eval_score_em_f1_cjk",
        "eval_overlap_ngram", "eval_score_numeric",
        "eval_overlap_chargram")) {
      val p = plan(q)
      assert(count(p, "Exchange hashpartitioning") == 0,
        s"$q must not shuffle — scores are row-local:\n$p")
      assert(!p.contains("Join"), s"$q must not join:\n$p")
      assert(count(p, "Scan parquet") == 1, s"$q is one corpus scan:\n$p")
    }
  }

  test("eval_score_then_pass: scored scan feeds pass@k without extra scans or joins") {
    val p = plan("eval_score_then_pass")
    assert(count(p, "Scan parquet") == 1,
      s"the composition must not re-scan the corpus:\n$p")
    assert(!p.contains("Join"), s"score->pass@k is agg-only:\n$p")
    assert(count(p, "HashAggregate") >= 4,
      s"both pass@k levels must stay partial-agged:\n$p")
  }

  test("judge_rank_concordance: no self-join; joint cells fold row-locally") {
    // C/D/tie counts come from the collected joint-cell array, never
    // an item-pair or cell self-join on the Spark side
    val p = plan("judge_rank_concordance")
    assert(!p.contains("Join"),
      s"concordance must not join — cells fold row-locally:\n$p")
    assert(count(p, "Exchange hashpartitioning") <= 4,
      s"label-grain + metadata-grain exchanges only:\n$p")
  }

  test("judge_kappa_weighted: no self-join; label-grain then metadata-grain exchanges") {
    // the weighted variant keeps kappa's shape: row-local pair
    // explode with marginal contributions, (pair x category) and pair
    // aggs; De is a row-local fold over the collected <= maxCats
    // array — never a join on the Spark side
    val p = plan("judge_kappa_weighted")
    assert(!p.contains("Join"),
      s"judge_kappa_weighted must not reintroduce the self-join:\n$p")
    assert(count(p, "Exchange hashpartitioning") <= 4,
      s"label-grain + metadata-grain exchanges only:\n$p")
  }

  test("eval_majority_vote: two keyed partial-agged exchanges, no join, struct-max vote") {
    val p = plan("eval_majority_vote")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"the vote is a struct agg, not a window or join:\n$p")
    assert(count(p, "Exchange hashpartitioning") <= 2,
      s"(prompt, answer) counts then the |prompts|-row vote:\n$p")
    // struct max plans as SortAggregate (the bonSelect class);
    // partial-ness at both levels is the pin
    assert(count(p, "HashAggregate") + count(p, "SortAggregate") >= 4,
      s"both vote levels must be partial-agged:\n$p")
  }

  test("embed_centroid_drift: both sides read the leased centroid frame; keyed label join") {
    val p = plan("embed_centroid_drift")
    assert(count(p, "InMemoryTableScan") >= 2,
      s"ref and cur must both read the leased (side x label) centroids:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the full-outer label join must be keyed:\n$p")
  }

  test("stats_dist_drift: one bin exchange; the share window runs on metadata rows") {
    // the corpus pays one scan into a <= (nBins+1)-row partial-agged
    // bin exchange; the totals window is SinglePartition over that
    // metadata frame only (the mix_plan convention)
    val p = plan("stats_dist_drift")
    assert(count(p, "Exchange hashpartitioning") == 1 &&
      count(p, "HashAggregate") >= 2,
      s"drift bins are one partial-agged exchange:\n$p")
    assert(!p.contains("Join"), s"drift is agg+window only:\n$p")
  }

  test("eval_nll_report: one policy-keyed partial-agged exchange") {
    val p = plan("eval_nll_report")
    assert(count(p, "Exchange hashpartitioning") == 1 &&
      count(p, "HashAggregate") >= 2,
      s"nll report is one partial-agged policy exchange:\n$p")
    assert(!p.contains("Join"), s"nll report is agg-only:\n$p")
  }
}
