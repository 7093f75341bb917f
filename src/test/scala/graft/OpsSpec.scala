package graft

import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis, WordGrain}
import org.apache.spark.sql.functions._

/** Edge-case coverage for the training-data operators — the cases the
  * sf testdata can't produce (short docs, empty text, non-ASCII).
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private val longDoc = "a b c d e f g h i j k l m n o p q r s t u v w x y z " +
    "aa bb cc dd ee ff gg hh"
  private lazy val docs = Seq(
    (1L, ""), (2L, "one"), (3L, "two words"),
    (4L, "中文 文本 测试 好 的"),
    (5L, longDoc),
    (6L, longDoc),
    (7L, longDoc.replace(" m ", " M "))  // one word changed mid-doc
  ).toDF("doc_id", "text")

  test("shingles are empty (not crashing) for docs shorter than k words") {
    val n = docs.select(expr(Dedup.sparkShingles("text", 3)).as("g"))
      .select(size($"g")).as[Int].collect()
    assert(n.take(3).toSeq === Seq(0, 0, 0)) // "", "one", "two words"
    assert(n.drop(3).forall(_ > 0))
  }

  test("minhash signatures exclude shingle-less docs and are deterministic") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text")
    val rows = sig.collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq === Seq(4L, 5L, 6L, 7L))
    // identical docs -> identical signatures
    val by = rows.map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(by(5L) === by(6L))
  }

  test("LSH pairs find the exact dup and the near dup, verified by Jaccard") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
    assert(pairs.exists { case (a, b, j) => a == 5L && b == 6L && j == 1.0 })
    assert(pairs.exists { case (a, b, _) => a == 5L && b == 7L })
  }

  test("linear keeper assignment points near-dup clusters at their min id") {
    val keep = Dedup.minhashDedupKeepers(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identical docs 5/6 and the near-dup 7 share buckets -> keeper 5
    assert(keep(5L) == 5L && keep(6L) == 5L && keep(7L) == 5L)
    // the unrelated zh doc keeps itself; shingle-less docs are absent
    assert(keep(4L) == 4L)
    assert(keep.keySet === Set(4L, 5L, 6L, 7L))
  }

  test("iterated components refine keepers monotonically (labels only shrink)") {
    val keep = Dedup.minhashDedupKeepers(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val comp = Dedup.minhashDedupComponents(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.keySet === keep.keySet)
    comp.foreach { case (d, c) => assert(c <= keep(d),
      s"component label for $d must be <= its one-step keeper") }
    assert(comp(5L) == 5L && comp(6L) == 5L && comp(7L) == 5L && comp(4L) == 4L)
  }

  test("dedup census: histogram arithmetic over the planted components") {
    // fixture components: {5,6,7} one 3-clique, 4 a singleton (zh doc);
    // shingle-less docs are outside the census
    val got = Dedup.dedupCensus(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(3L) === ((1L, 3L, 2L)), "one 3-clique = 3 docs, 2 removable")
    assert(got(1L)._1 >= 1L, "singletons present")
    got.foreach { case (size, (clusters, nd, red)) =>
      assert(nd === size * clusters && red === nd - clusters,
        s"mass arithmetic at size $size")
    }
  }

  test("stripMarkup: tags drop, entities single-unescape with &amp; last, density counts") {
    val d = Seq(
      (1L, "<p>Hello <b>world</b></p>"),
      (2L, "a &amp;lt; b &lt; c &amp; d"),   // &amp;lt; must yield literal &lt;
      (3L, "no markup at all")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.stripMarkup(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(1L) === (("Hello world", 4L, 0L)))
    assert(got(2L)._1 === "a &lt; b < c & d",
      "&amp;lt; unescapes ONE level (HTML spec), bare &lt; fully")
    assert(got(2L)._3 === 3L, "&amp; twice + &lt; once")
    assert(got(3L) === (("no markup at all", 0L, 0L)))
  }

  test("interleave: per-source arithmetic positions, no global sort, prefix balanced") {
    val d = (1L to 300L).map(i => (i, s"doc $i", s"s${i % 3}"))
      .toDF("doc_id", "text", "source")
    val out = graft.ops.Sampling.interleave(d, "doc_id", "source")
    val rows = out.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.map(_._3).toSet === (0L until 300L).toSet,
      "equal-sized sources -> gap-free positions")
    // every source occupies exactly the residue class of its index
    rows.groupBy(_._2).values.foreach { g =>
      assert(g.map(_._3 % 3).toSet.size === 1,
        "a source's docs sit in one residue class mod S")
    }
    // any prefix of K full rounds carries K docs of EVERY source
    val first30 = rows.sortBy(_._3).take(30).groupBy(_._2).view.mapValues(_.size)
    assert(first30.values.toSet === Set(10), s"balanced prefix: $first30")
    assert(!out.queryExecution.executedPlan.toString.contains("Sort [pos"),
      "no global sort on pos is ever planned")
  }

  test("scriptProfile: codepoint-class counts and fixed-order dominance ties") {
    val d = Seq(
      (1L, "hello world 42"),
      (2L, "中文内容测试 ok"),
      (3L, "Пример текста"),
      (4L, "مثال نصي"),
      (5L, "aa 11 ЖЖ"), // three-way tie at 2 — declaration order wins
      (6L, "ελληνικά !!")  // uncovered script: all classes zero
    ).toDF("doc_id", "text")
    val got = TextAnalysis.scriptProfile(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getString(7))).toMap
    assert(got(1L) === ((10L, 0L, 0L, 0L, 2L, "n_latin")))
    assert(got(2L) === ((2L, 6L, 0L, 0L, 0L, "n_cjk")))
    assert(got(3L)._3 === 12L); assert(got(3L)._6 === "n_cyrillic")
    assert(got(4L)._4 === 7L); assert(got(4L)._6 === "n_arabic")
    assert(got(5L)._6 === "n_latin", "ties break in declaration order")
    assert(got(6L)._6 === null,
      "all-zero docs (uncovered script) must not claim Latin dominance")
  }

  test("ngram jaccard length prefilter is lossless at the threshold boundary") {
    // k=3 shingles of an n-distinct-word doc: n-2, all distinct, and a
    // prefix doc's shingles are a subset of its extension's. So with
    // t=0.5: x (10 shingles) vs y (20, ⊇ x) sits EXACTLY on both the
    // prefilter boundary (20·t == 10) and the jaccard threshold
    // (J = 10/20 = t) — must be kept; x vs z (22, ⊇ x) is pruned by the
    // prefilter (22·t > 10), which is lossless since J = 10/22 < t.
    val words = (1 to 24).map(i => s"w$i")
    val d = Seq(
      (1L, words.take(12).mkString(" ")),
      (2L, words.take(22).mkString(" ")),
      (3L, words.mkString(" ")),
      (4L, "too short")
    ).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(d, "doc_id", "text", k = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // (2,3): 20/22 both ways through the prefilter, J = 20/22; the
    // short doc pairs with nothing (excluded before the join — no NaN)
    assert(got === Set((1L, 2L, 0.5), (2L, 3L, 0.909091)))
  }

  test("sharded packing = packSequences run independently per shard") {
    import graft.ops.{PortableHash, Sampling}
    val shards = 4
    val corpus = (1L to 40L)
      .map(i => (i, ("tok " * (i % 7 + 1).toInt).trim, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "text", "src")
    val sharded = Sampling.packSequencesSharded(
        corpus, "doc_id", "text", "src", budget = 10, shards = shards)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("src"),
        r.getAs[Number]("shard").longValue, r.getAs[Number]("n_tokens").longValue,
        r.getAs[Number]("seq_id").longValue))
    assert(sharded.length == 40)
    // the shard assignment IS the portable hash — deterministic across
    // engines and runs
    sharded.foreach { case (id, _, sh, _, _) =>
      assert(sh == PortableHash.jvmStringHash(id.toString) % shards,
        s"doc $id shard")
    }
    // each shard is a valid independent packing: plain packSequences on
    // exactly that shard's docs reproduces its seq assignment
    for (s <- 0L until shards.toLong) {
      val ids = sharded.filter(_._3 == s).map(_._1)
      val plain = Sampling.packSequences(
          corpus.where($"doc_id".isin(ids: _*)), "doc_id", "text", "src", budget = 10)
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("src"),
          r.getAs[Number]("n_tokens").longValue, r.getAs[Number]("seq_id").longValue))
        .toSet
      val expect = sharded.filter(_._3 == s)
        .map { case (id, src, _, n, seq) => (id, src, n, seq) }.toSet
      assert(plain === expect, s"shard $s packing must match the unsharded op on its subset")
    }
  }

  test("Caches.scoped isolates a pipeline's leases from the global registry") {
    import graft.ops.Caches
    import org.apache.spark.storage.StorageLevel
    val outer = Seq(1).toDF("a")
    val inner = Seq(2).toDF("b")
    Caches.lease(outer)
    Caches.scoped {
      Caches.lease(inner)
      assert(inner.storageLevel != StorageLevel.NONE)
      // a scope-local releaseAll must not touch the outer lease
      Caches.releaseAll()
      assert(outer.storageLevel != StorageLevel.NONE)
    }
    assert(inner.storageLevel == StorageLevel.NONE)
    assert(outer.storageLevel != StorageLevel.NONE,
      "scope exit must release only its own leases")
    Caches.releaseAll()
    assert(outer.storageLevel == StorageLevel.NONE)
  }

  test("Caches.lease: a leased plan compiles no classes on its second run") {
    import graft.ops.Caches
    import org.apache.spark.metrics.source.CodegenMetrics
    def run(): Unit = Caches.scoped {
      val agg = Caches.lease((1 to 100).map(i => (i % 7, i)).toDF("k", "v")
        .groupBy("k").agg(sum("v").as("s")))
      // toRdd, as Bench and the board run a query: collect() ran warm
      // even through a per-call session clone
      agg.as("a").join(agg.as("b"), "k").queryExecution.toRdd.count()
    }
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run()
    val before = compiles
    run()
    assert(compiles - before == 0,
      "every cache must go through the one reused session, whose stages hit the codegen cache")
  }

  test("Caches.lease: a changed conf gets a fresh cache session") {
    import graft.ops.Caches
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object Plans extends AdaptiveSparkPlanHelper
    def cachedShufflePartitions(): Seq[Int] = Caches.scoped {
      val agg = Caches.lease((1 to 10).map(i => (i % 3, i)).toDF("k", "v").groupBy("k").count())
      val cached = agg.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r.cachedPlan
      }.get
      Plans.collect(cached) { case s: ShuffleExchangeExec => s.outputPartitioning.numPartitions }
    }
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(cachedShufflePartitions() == Seq(n))
    withSQLConf("spark.sql.shuffle.partitions" -> (n + 3).toString) {
      assert(cachedShufflePartitions() == Seq(n + 3))
    }
    assert(cachedShufflePartitions() == Seq(n))
  }

  test("Caches.lease: the cache session has Spark's cache confs off, reused while unchanged") {
    import org.apache.spark.sql.execution.CacheSession
    val autoBucketed = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val finalStage = "spark.sql.adaptive.applyFinalStageShuffleOptimizations"
    val cacheSession = CacheSession.session(spark)
    assert(cacheSession ne spark)
    assert(cacheSession.conf.get(autoBucketed) == "false")
    assert(cacheSession.conf.get(finalStage) == "false")
    assert(spark.conf.get(autoBucketed) == "true", "the parent's confs stay as they were")
    assert(CacheSession.session(spark) eq cacheSession)
    // Spark does not clone a session that has both off: neither does lease
    withSQLConf(autoBucketed -> "false", finalStage -> "false") {
      assert(CacheSession.session(spark) eq spark)
    }
    // with the cached plan's partitioning allowed to change, only
    // the bucketed-scan conf is turned off, as in Spark's clone
    withSQLConf("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true") {
      val s = CacheSession.session(spark)
      assert((s ne spark) && s.conf.get(autoBucketed) == "false")
      assert(s.conf.get(finalStage) == spark.conf.get(finalStage))
    }
    // an optimizer rule added after the clone reaches the next cache session
    graft.plans.KernelizeTextOps.install(spark)
    try assert(CacheSession.session(spark).experimental.extraOptimizations
      .contains(graft.plans.KernelizeTextOps))
    finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == graft.plans.KernelizeTextOps)
  }

  test("simhash of identical docs is identical; of empty doc is stable") {
    val sh = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(5L) === sh(6L))
    assert(sh.contains(1L)) // empty doc does not crash
  }

  test("quality score yields NULL alpha_ratio on empty text, not an error") {
    val q = TextAnalysis.qualityScore(docs, "doc_id", "text")
      .where($"doc_id" === 1L).collect().head
    assert(q.isNullAt(q.fieldIndex("alpha_ratio")))
  }

  test("language ID picks en for English and und for Chinese (no markers hit)") {
    val lang = TextAnalysis.langId(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(lang(5L) === "en")
    assert(lang(4L) === "und")
  }

  test("brute-force top-k ranks by cosine with deterministic tie-break") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(1.0f, 0.05f))
    ).toDF("vec_id", "embedding")
    val topk = Similarity.bruteForceTopK(emb, emb.where($"vec_id" === 1L),
      "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(topk.toSeq.sortBy(_._2).map(_._1) === Seq(4L, 2L)) // closest first
  }

  test("multimodal decode meta parses the real PNG IHDR columnar-ly") {
    val media = Multimodal.attachPngPayload(docs.where($"doc_id" === 5L), "doc_id")
    val m = Multimodal.metaColumnarPng(media).collect().head
    assert(m.getInt(m.fieldIndex("width")) === Multimodal.ImageCodec.plantedWidth(5L))
    assert(m.getInt(m.fieldIndex("height")) === Multimodal.ImageCodec.plantedHeight(5L))
  }

  test("frame sampling explodes stride-th fixed chunks with indices") {
    val media = Multimodal.attachFakePayload(docs.where($"doc_id" === 5L), "doc_id", "text")
    val frames = Multimodal.frameSample(media, frameBytes = 4, stride = 2).collect()
    // 16-byte payload / 4 = 4 chunks, stride 2 -> chunks 0 and 2
    assert(frames.length === 2)
    assert(frames.map(_.getInt(1)).toSeq === Seq(0, 1))
    assert(frames.forall(_.getAs[Array[Byte]](2).length === 4))
  }

  test("token-budget selection: distributed prefix sum equals the window formulation") {
    // 10 docs, scores descending by construction, token counts chosen so
    // the budget cutoff lands MID-partition under nRanges=3
    val rows = (0 until 10).map(i => (i.toLong, 100.0 - i, 10L + i))
    val df = rows.toDF("doc_id", "score", "n_toks")
    val out = graft.ops.Sampling.selectByTokenBudget(df, "doc_id", "score", "n_toks",
      budget = 60, nRanges = 3)
    // expected: window cumsum over score DESC -> docs 0 (10), 1 (21),
    // 2 (33), 3 (46), 4 (60); doc 5 would reach 75 > 60
    val want = Seq((0L, 10L), (1L, 21L), (2L, 33L), (3L, 46L), (4L, 60L))
    val got = out.select($"doc_id", $"cum_tokens").as[(Long, Long)].collect().sorted
    assert(got.toSeq === want)
    // the coalesced single-task read (the Verify write shape) must see
    // the SAME cutoffs: partition offsets ride in the rows, not in
    // TaskContext ids that coalesce rewrites
    val coalesced = out.coalesce(1)
      .select($"doc_id", $"cum_tokens").as[(Long, Long)].collect().sorted
    assert(coalesced.toSeq === want, "coalesce must not restart range offsets")
  }

  test("stratified token budget: each stratum fills its own allocation, keyed prefix sum") {
    // two strata interleaved by id; scores descending within each; ranges
    // forced small so strata SPAN range boundaries (the offset re-basing
    // path) — a: budget 60 cuts mid-stratum; b: default budget keeps all
    val rows = (0 until 10).map { i =>
      (i.toLong, if (i % 2 == 0) "a" else "b", 100.0 - i, 10L + i)
    }
    val df = rows.toDF("doc_id", "source", "score", "n_toks")
    val out = graft.ops.Sampling.selectByTokenBudgetStratified(df, "doc_id",
        "source", "score", "n_toks",
        budgets = Map("a" -> 60L), defaultBudget = 1000L, nRanges = 3)
      .select($"doc_id", $"cum_tokens").as[(Long, Long)].collect().sorted
    // stratum a = docs 0,2,4,6,8 (toks 10,12,14,16,18): cumsum 10,22,36,52,70
    //   -> keeps 0,2,4,6 (52 <= 60), drops 8
    // stratum b = docs 1,3,5,7,9 (toks 11,13,15,17,19): all kept, cums 11,24,39,56,75
    val want = Seq((0L, 10L), (1L, 11L), (2L, 22L), (3L, 24L),
      (4L, 36L), (5L, 39L), (6L, 52L), (7L, 56L), (9L, 75L))
    assert(out.toSeq === want)
  }

  test("bigram score sees word order: scrambled doc scores higher OOV than its in-order twin") {
    val ref = Seq((1L, "the cat sat on the mat"), (2L, "the cat sat on the rug"))
      .toDF("doc_id", "text")
    // identical unigrams, different order — unigram scoring cannot tell
    // these apart; bigram coverage must
    val docs = Seq((10L, "the cat sat on the mat"),
      (11L, "mat the on sat cat the")).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.bigramScore(docs, ref, "doc_id", "text")
      .select($"doc_id", $"oov_ratio").as[(Long, Double)].collect().toMap
    assert(got(10L) == 0.0, s"in-order doc's bigrams are all in the reference: ${got(10L)}")
    assert(got(11L) > got(10L), s"scrambled doc must have higher bigram OOV: ${got(11L)}")
  }

  test("winnowing: shared >= w+k-1 word substring guarantees a shared fingerprint; density drops; short-doc edges") {
    // k=3, w=4: guarantee threshold = w+k-1 = 6 shared words
    val shared = "zebra quilt onyx vapor lunar grove" // 6 words, unique tokens
    val docs = Seq(
      (1L, s"alpha beta gamma delta $shared epsilon eta theta iota"),
      (2L, s"one two three $shared four five six seven eight nine"),
      (3L, "completely different words with no overlap at all here now"),
      (4L, "only two"),                 // < k words: no grams
      (5L, "just four small words")     // 2 grams < w: one window
    ).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.winnowSets(docs, "doc_id", "text")
      .select($"doc_id", $"gram_hashes", $"fingerprints")
      .as[(Long, Seq[Long], Seq[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L)._2.toSet.intersect(got(2L)._2.toSet).nonEmpty,
      "docs sharing a 6-word substring must share at least one fingerprint")
    assert(got(1L)._2.toSet.intersect(got(3L)._2.toSet).isEmpty,
      "disjoint docs must not collide")
    assert(got(1L)._2.size < got(1L)._1.size,
      "selection must be denser than 1:1 over grams")
    assert(got(4L)._1.isEmpty && got(4L)._2.isEmpty, "sub-k doc: no grams, no fingerprints")
    assert(got(5L)._1.size == 2 && got(5L)._2.size == 1 &&
      got(5L)._2.head == got(5L)._1.min,
      "fewer grams than w: one window over all grams, min selected")
  }

  test("document chunking: window boundaries, overlap, tail chunk, empty doc") {
    val docs = Seq(
      // 40 pure-alpha tokens (digits would split under the alternation)
      (1L, (0 until 40).map(i => ('a' + i % 26).toChar.toString * 2).mkString(" ")),
      (2L, "short doc"),                              // 2 tokens -> one chunk
      (3L, "")                                        // no tokens -> no chunks
    ).toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocuments(docs, "doc_id", "text", size = 32, stride = 24)
      .select($"doc_id", $"chunk_idx", $"n_tokens")
      .as[(Long, Int, Long)].collect().sorted
    // doc 1: ceil((40-32)/24) = 1 -> chunks 0 (toks 1..32) and 1 (toks 25..40)
    assert(got.toSeq === Seq((1L, 0, 32L), (1L, 1, 16L), (2L, 0, 2L)))
    // overlap: chunk 1 starts at token 25 <= chunk 0's end (token 32)
  }

  test("PII scrub: typed tokens, URL-before-email ordering, clean text untouched") {
    val rows = Seq(
      (1L, "mail bob.smith+x@corp.io now"),
      (2L, "see https://a.b/c?u=x@y.zz then call 12345678"),
      (3L, "nothing sensitive here"),
      (4L, "short num 123456 stays")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.scrubPii(rows, "doc_id", "text")
      .select($"doc_id", $"scrubbed").as[(Long, String)].collect().toMap
    assert(got(1L) === "mail <EMAIL> now")
    // the email-shaped token inside the URL is consumed BY the URL redaction
    assert(got(2L) === "see <URL> then call <NUM>")
    assert(got(3L) === "nothing sensitive here")
    assert(got(4L) === "short num 123456 stays", "6 digits is under the 7+ threshold")
  }

  test("gopher rules: each rule fires on its own violation, clean doc keeps") {
    val clean = ("word " * 60).trim + " the of"   // 62 words, mean len ~3.95, all rules pass
    val rows = Seq(
      (1L, clean),
      (2L, ("w " * 10).trim + " the of"),          // too few words
      (3L, (1 to 60).map(_ => "123").mkString(" ") + " the of"),  // alpha ratio ~0
      (4L, ("w " * 60).trim),                      // zero stop hits
      (5L, ("w## " * 60).trim + " the of"),        // symbol ratio 2/62 > 0.1? no -> 120/62 > 0.1 yes
      (6L, (1 to 60).map(i => s"- w$i").mkString("\n") + "\nthe of and to")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(rows, "doc_id", "text", minWords = 50)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Int]("keep") === 1)
    assert(got(2L).getAs[Int]("r_words") === 0 && got(2L).getAs[Int]("keep") === 0)
    assert(got(3L).getAs[Int]("r_alpha") === 0)
    assert(got(4L).getAs[Int]("r_stop") === 0)
    assert(got(5L).getAs[Int]("r_symbol") === 0)
    assert(got(6L).getAs[Int]("r_bullet") === 0, "60/61 bullet-started lines breaches 0.9")
  }

  test("line dedup: strikes corpus-frequent lines, keeps order, empty-doc survives") {
    val docs = Seq(
      (1L, "alpha\nSHARED\nbeta"),
      (2L, "SHARED\ngamma"),
      (3L, "SHARED"),           // pure boilerplate -> clean_text = ''
      (4L, "delta\nepsilon")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupLines(docs, "doc_id", "text", maxFreq = 2)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_removed"), r.getAs[Long]("n_lines"))))
      .toMap
    assert(got(1L) === (("alpha\nbeta", 1L, 3L)))
    assert(got(2L) === (("gamma", 1L, 2L)))
    assert(got(3L) === (("", 1L, 1L)), "a doc of pure boilerplate must still emit a row")
    assert(got(4L) === (("delta\nepsilon", 0L, 2L)))
  }

  test("as-of join: inclusive boundary, no-match null, right-tie by max tie-id") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val left = Seq(
      (100L, 1L, ts(5)),   // before any right row -> null
      (101L, 1L, ts(10)),  // exactly at right ts 10 -> inclusive match
      (102L, 1L, ts(30)),  // after both right rows -> latest (ts 20)
      (103L, 2L, ts(30))   // other key: only its own right rows visible
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, ts(10), 7L, 70.0), (1L, ts(10), 8L, 80.0), // tie: event 8 wins
      (1L, ts(20), 9L, 90.0),
      (2L, ts(1), 1L, 10.0)
    ).toDF("user_id", "ts", "event_id", "value")
    val got = graft.ops.AsOf.asOfJoin(left, right, "user_id", "ts",
        "event_id", Seq("value" -> "v"))
      .select($"event_id", $"v").as[(Long, Option[Double])]
      .collect().toMap
    assert(got === Map(100L -> None, 101L -> Some(80.0),
      102L -> Some(90.0), 103L -> Some(10.0)))
  }

  test("decontamination drops shingle-overlap docs, keeps clean and sub-k docs") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma something else entirely"), // shares "alpha beta gamma"
      (2L, "totally different words in this one"),      // clean
      (3L, "two words"),                                 // < k words: no evidence, kept
      (4L, "beta gamma delta trailing overlap here")     // shares "beta gamma delta"
    ).toDF("doc_id", "text")
    val kept = graft.ops.Decontaminate.cleanDocs(corpus, bench, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept === Set(2L, 3L))
  }

  test("temperature sampling: smallest stratum keeps all, larger ones downsample at sqrt") {
    val df = (1 to 400).map(i => (i.toLong, if (i <= 100) "small" else "big"))
      .toDF("doc_id", "src")
    val out = graft.ops.Sampling.temperatureSample(df, "doc_id", "src")
    val rates = out.select($"src", $"rate_bp").distinct().as[(String, Long)]
      .collect().toMap
    assert(rates("small") === 10000L, "n_min stratum keeps everything")
    // sqrt(100/300)*10000 = 5773.5... -> floor 5773
    assert(rates("big") === 5773L)
    val n = out.groupBy($"src").count().as[(String, Long)].collect().toMap
    assert(n("small") === 100L)
    assert(n("big") < 300L && n("big") > 100L,
      s"big stratum must actually downsample, kept ${n("big")}")
  }

  test("repetition signals: row-local form equals the distributed form exactly") {
    // repetition-heavy fixtures: full-dup doc, alternating bigram, unique
    val rep = Seq(
      (10L, "spam spam spam spam"),          // dup 3/4, top bigram 3/3
      (11L, "a b a b a b a"),                // "a b" x3 of 6 bigrams
      (12L, "all words here are distinct"),
      (13L, "x y"), (14L, "solo"), (15L, "")
    ).toDF("doc_id", "text")
    val dist = TextAnalysis.repetitionSignals(rep, "doc_id", "text")
    val local = TextAnalysis.repetitionSignalsLocal(rep, "doc_id", "text")
    assert(local.except(dist).isEmpty && dist.except(local).isEmpty,
      "the zero-shuffle and exploded formulations must agree row-for-row")
    val m = local.collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(m(10L) === ((0.75, 1.0)))
    assert(m(11L) === ((0.714286, 0.5)))
    assert(!m.contains(14L) && !m.contains(15L), "docs with <2 words are excluded")
  }

  test("unigram scoring: oov and frequency math exact; empty docs absent") {
    import spark.implicits._
    val ref = Seq((1L, "the cat sat"), (2L, "the dog sat")).toDF("doc_id", "text")
    // ref unigrams: the=2, sat=2, cat=1, dog=1; total_ref = 6
    val docs = Seq(
      (10L, "the cat"),        // cnts 2+1 -> avg = 3/(2*6) = 0.25, oov 0
      (11L, "the zebra"),      // 2+OOV  -> avg = 2/(2*6) ~ 0.166667, oov 0.5
      (12L, ""),               // no tokens -> absent
      (13L, "zebra quagga kudu") // all OOV -> avg 0, oov 1
    ).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.unigramScore(docs, ref, "doc_id", "text", vocab = 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.keySet == Set(10L, 11L, 13L), "empty doc must be absent")
    assert(got(10L) === ((2L, 0.0, 0.25)))
    assert(got(11L) === ((2L, 0.5, 0.166667)))
    assert(got(13L) === ((3L, 1.0, 0.0)))
  }

  test("semantic decontamination: empty bench keeps ALL corpus rows; empty corpus keeps all bench report rows") {
    import spark.implicits._
    val corpus = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val bench = corpus.where($"vec_id" < 0) // empty bench side
    val kept = graft.ops.Decontaminate.cleanVectors(corpus, bench, "vec_id", "embedding")
      .collect()
    assert(kept.map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L),
      "nothing to decontaminate must mean keep-all, not drop-all")
    assert(kept.forall(_.isNullAt(1)), "no bench -> no margin (null, not a number)")
    // report twin: EMPTY CORPUS side must still emit every bench item at 0 hits
    val report = graft.ops.Decontaminate.semanticContaminationReport(
      corpus.where($"vec_id" < 0), corpus, "vec_id", "embedding").collect()
    assert(report.map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L),
      "zero-hit bench items must be included even with an empty corpus")
    assert(report.forall(r => r.getLong(1) == 0L && r.isNullAt(2)))
    // non-degenerate sides: planted copy dropped, orthogonal survivor keeps its margin
    val kept2 = graft.ops.Decontaminate.cleanVectors(
      corpus, Seq((9L, Seq(1.0, 0.0))).toDF("vec_id", "embedding"),
      "vec_id", "embedding").collect()
    assert(kept2.map(r => (r.getLong(0), r.getDouble(1))).toSeq === Seq((2L, 0.0)))
  }

  test("winnow pairs containment uses the post-maxPostings fingerprint universe (full copy with boilerplate still scores 1.0)") {
    import spark.implicits._
    // 6 distinct docs + 1 exact copy of doc 1, ALL carrying the same
    // 9-word boilerplate tail: boilerplate fingerprints post in all 7
    // docs (> maxPostings = 6) and are dropped by the guard; the copy
    // pair's remaining fingerprints are identical, so containment must
    // read exactly 1.0 — a pre-guard denominator would deflate it
    val boiler = "subscribe to our newsletter for more content every day"
    val base = (1 to 6).map(i =>
      (i.toLong, (1 to 12).map(j => s"w${i}_$j").mkString(" ") + " " + boiler))
    val docs = (base :+ (7L, base.head._2)).toDF("doc_id", "text")
    // precondition: the guard actually drops something (some fingerprint
    // posts in all 7 docs) — otherwise this test wouldn't discriminate
    val postCounts = graft.ops.TextAnalysis.winnowSets(docs, "doc_id", "text")
      .select(explode($"fingerprints").as("fp"))
      .groupBy("fp").count().collect().map(_.getLong(1))
    assert(postCounts.exists(_ > 6), "fixture must produce an over-threshold posting list")
    val pairs = graft.ops.TextAnalysis.winnowPairs(
      docs, "doc_id", "text", maxPostings = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(pairs((1L, 7L)) === 1.0,
      "numerator and denominator must share the post-guard fingerprint universe")
  }

  test("containment dedup drops the higher-id side of over-threshold pairs, keeps the rest") {
    import spark.implicits._
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val other = "one two three four five six seven eight nine ten eleven twelve thirteen"
    val docs = Seq(
      (1L, base),                                   // original: kept (lowest id of its pair)
      (2L, other),                                  // unrelated: kept
      (3L, base + " extra tail words appended here"), // full copy of 1 + tail: dropped
      (4L, "short doc"),                            // fingerprint-less: kept
      (5L, other + " more trailing content here too") // full copy of 2 + tail: dropped
    ).toDF("doc_id", "text")
    val kept = graft.ops.TextAnalysis.containmentDedup(
      docs, "doc_id", "text", threshold = 0.8)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 2L, 4L),
      "planted partial copies must drop; originals, unrelated and short docs survive")
  }

  test("containment dedup over a union keeps the left_anti survivors and plans the victim set once") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Union}
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val other = "one two three four five six seven eight nine ten eleven twelve thirteen"
    val first = Seq[(Option[Long], String)](
      (Some(1L), base),
      (Some(2L), other),
      (Some(3L), base + " extra tail words appended here"), // victim in this branch
      (Some(4L), "short doc"),                              // no fingerprints
      (None, base + " a null id carries a copy"))           // null id
      .toDF("doc_id", "text")
    val second = Seq[(Option[Long], String)](
      (Some(5L), other + " more trailing content here too")) // victim in the other branch
      .toDF("doc_id", "text")
    val input = first.unionByName(second)
    val out = TextAnalysis.containmentDedup(input, "doc_id", "text", threshold = 0.8)
    // the left_anti formulation the operator replaced
    val victims = TextAnalysis.winnowPairs(input, "doc_id", "text")
      .where($"containment" >= 0.8).select($"b_id".as("victim")).distinct()
    val antiKept = input.select($"doc_id")
      .join(victims, $"doc_id" === $"victim", "left_anti")
    def ids(df: DataFrame): Seq[Option[Long]] =
      df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq.sorted
    assert(ids(out) === ids(antiKept))
    assert(ids(out) === Seq(None, Some(1L), Some(2L), Some(4L)),
      "a victim in each branch drops; short docs and null ids survive")
    val plan = out.queryExecution.optimizedPlan
    val pairAggs = plan.collect {
      case a: Aggregate if a.groupingExpressions.map {
        case r: AttributeReference => r.name
        case e => e.sql
      } == Seq("a_id", "b_id") => a
    }
    assert(pairAggs.size === 1, s"the pair aggregate must be planned once:\n$plan")
    val underUnion = plan.collect { case u: Union => u.collect {
      case j: Join if j.joinType == LeftAnti || j.joinType == LeftSemi => j
    } }.flatten
    assert(underUnion.isEmpty, s"no semi/anti join may be pushed into the union's branches:\n$plan")
  }

  test("stupid backoff: each doc lands on the highest reference-seen order; OOV contributes zero") {
    import spark.implicits._
    val ref = Seq((0L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val scored = Seq(
      (10L, "the quick brown"),   // exact ref trigram -> tri level
      (11L, "the quick zebra"),   // ref bigram prefix only -> bi level
      (12L, "the zzz zzz"),       // ref unigram only -> uni level
      (13L, "zzz yyy xxx"),       // fully unseen -> oov, score 0
      (14L, "too short")          // < 3 words -> absent
    ).toDF("doc_id", "text")
    val out = TextAnalysis.backoffScore(scored, ref, "doc_id", "text", vocab = 100)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
    assert(out.keySet === Set(10L, 11L, 12L, 13L))
    assert(out(10L)._1 == 1 && out(10L)._5 > 0, "exact trigram must win at the top level")
    assert(out(11L)._2 == 1 && out(11L)._1 == 0, "bigram prefix must back off one level")
    assert(out(12L)._3 == 1 && out(12L)._2 == 0, "first-word-only must back off to unigram")
    assert(out(13L)._4 == 1 && out(13L)._5 == 0.0, "all-OOV must score exactly zero")
    // backoff penalty orders the levels: tri > bi > uni for one position each
    assert(out(10L)._5 > out(11L)._5 && out(11L)._5 > out(12L)._5,
      "0.4-per-level penalty must rank tri > bi > uni hits")
  }

  test("incremental near-dup: suffix-varied re-crawls drop against the prior band table, clean and short docs keep") {
    import spark.implicits._
    // a 33-shingle base: the 3 shingles the tail adds cannot displace a
    // whole band of signature minima (a 10-word base flips all 4 bands)
    val prior = Seq((100L, longDoc),
      (101L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val newSnap = Seq(
      (1L, longDoc + " trailing crawl noise"),   // near-copy of 100: drops
      (2L, "a wholly different document with its own distinct words here"),
      (3L, "tiny")                               // < k words: no bands, keeps
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalNearDup(newSnap,
        Dedup.bandTable(prior, "doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), r.getBoolean(2))).toMap
    assert(out(1L) === (Some(100L), false), "planted near-copy must match its prior original")
    assert(out(2L)._2 && out(3L)._2, "clean and sub-shingle docs must keep")
  }

  test("sentence dedup: boilerplate struck on both boundary classes; pure-boilerplate doc survives empty") {
    import spark.implicits._
    val boiler = "Subscribe to our newsletter today!"
    val zhBoiler = "请关注我们的公众号。"
    val docs = (1L to 12L).map { i =>
      if (i <= 4) (i, s"unique content number $i here. $boiler")
      else if (i <= 8) (i, s"第${i}篇独特的中文内容。$zhBoiler")
      else if (i == 9L) (i, boiler)                   // pure boilerplate
      else if (i == 10L) (i, "")                      // empty: absent from output
      else (i, s"$boiler $zhBoiler$boiler")           // boilerplate x3
    }.toDF("doc_id", "text")
    val out = graft.ops.Dedup.dedupSentences(docs, "doc_id", "text", maxFreq = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(!out.contains(10L), "sentence-less doc has no rows (documented domain)")
    assert(out(1L) == (("unique content number 1 here.", 1L, 2L)),
      s"ascii boilerplate struck, organic kept: ${out(1L)}")
    assert(out(5L)._1 == "第5篇独特的中文内容。" && out(5L)._2 == 1L,
      s"zh boilerplate struck via full-width boundary: ${out(5L)}")
    assert(out(9L) == (("", 1L, 1L)), "pure-boilerplate doc survives with clean_text = ''")
    assert(out(11L) == (("", 3L, 3L)), s"all three boilerplate sentences struck: ${out(11L)}")
  }

  test("band-table grain contract: ws-built table probed cjk-auto fails fast; unmarked table refused") {
    import spark.implicits._
    val prior = Seq((100L, longDoc)).toDF("doc_id", "text")
    val newSnap = Seq((1L, longDoc + " tail")).toDF("doc_id", "text")
    val wsBands = Dedup.bandTable(prior, "doc_id", "text") // grain = 'ws'
    assert(wsBands.columns.contains("grain") &&
      wsBands.select("grain").distinct().collect().map(_.getString(0)).toSeq == Seq("ws"),
      "bandTable must stamp its grain on the artifact")
    val mismatch = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDup(newSnap, wsBands, "doc_id", "text",
        wordGrain = WordGrain.CjkAuto)
    }
    assert(mismatch.getMessage.contains("'ws'") &&
      mismatch.getMessage.contains("'cjk-auto'"),
      s"mismatch message must name both grains: ${mismatch.getMessage}")
    val unmarked = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDupStreaming(newSnap, wsBands.drop("grain"),
        "doc_id", "text")
    }
    assert(unmarked.getMessage.contains("grain"),
      s"unmarked-table message must name the missing marker: ${unmarked.getMessage}")
    // matching grain still flows end-to-end
    val ok = Dedup.incrementalNearDup(newSnap, wsBands, "doc_id", "text")
      .collect()
    assert(ok.length == 1 && !ok.head.getBoolean(2),
      "matching-grain probe must still find the planted near-copy")
  }

  test("url canonicalization: each rule fires alone; path case preserved; degenerate urls don't crash") {
    import spark.implicits._
    val urls = Seq(
      (1L, "https://WWW.Example.com:443/Path/A/?b=2&a=1#frag"),
      (2L, "http://example.com:80/Path/A?a=1&b=2"),   // same canon as 1
      (3L, "https://example.com/Path/A?a=1&b=2"),     // same canon as 1
      (4L, "https://sub.Example.com/x"),              // subdomain kept in canon, domain = last 2 labels
      (5L, "https://10.0.0.1/x?z=1"),                 // IP host
      (6L, "example.com/no-scheme"),                  // schemeless: host extract empty, no crash
      (7L, "https://example.com"),                    // no path, no query
      (8L, "http://example.com:443/x"),               // MISmatched default port: kept (distinct resource)
      (9L, "https://shop.Example.CO.UK/x"),           // public suffix: registrable = example.co.uk
      (10L, "https://portal.district.k12.ca.us/x"),   // 3-label suffix: longest match wins over ca.us
      (11L, "https://example.com/pa%74h/%7Edoc?q=%2Fv%3a1"), // unreserved decode + hex uppercase; reserved stay
      (12L, "https://example.com/path/~doc?q=%2Fv%3A1")      // canon-equal to 11 post-normalization
    ).toDF("doc_id", "url")
    val out = graft.ops.Url.canonicalize(urls, "doc_id", "url")
      .collect().map(r => r.getLong(0) -> (r.getString(2), r.getString(3))).toMap
    assert(out(1L)._1 === "example.com/Path/A?a=1&b=2", "all rules at once")
    assert(out(2L)._1 === out(1L)._1 && out(3L)._1 === out(1L)._1,
      "port-80/explicit-https variants canonicalize identically")
    assert(out(1L)._1.contains("Path"), "path case must be preserved (paths are case-sensitive)")
    assert(out(4L) === ("sub.example.com/x", "example.com"))
    assert(out(5L)._1 === "10.0.0.1/x?z=1")
    assert(out(7L)._1 === "example.com")
    assert(out(6L)._1 !== null, "schemeless input must not crash")
    assert(out(8L) === ("example.com:443/x", "example.com"),
      "a MISmatched default port (http on 443) names a distinct resource and stays " +
        "in the canon host; the domain census still strips it")
    assert(out(9L) === ("shop.example.co.uk/x", "example.co.uk"),
      "public-suffix host: registrable domain = suffix + one label, not last-two")
    assert(out(10L)._2 === "district.k12.ca.us",
      "longest suffix must win: k12.ca.us (3 labels) over ca.us (2)")
    assert(out(11L)._1 === "example.com/path/~doc?q=%2Fv%3A1",
      "unreserved %74/%7E decode; reserved %2F stays; lowercase hex %3a uppercases")
    assert(out(11L)._1 === out(12L)._1,
      "percent-variants of the same resource must canonicalize identically")
  }

  test("stupid backoff: compiled kernel is bit-equal to the declarative hash-join form") {
    import spark.implicits._
    val ref = Seq((0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown cat naps under the warm sun")).toDF("doc_id", "text")
    val scored = Seq(
      (10L, "the quick brown fox runs"), (11L, "the quick zebra sprints fast"),
      (12L, "quick zzz yyy the brown"), (13L, "zzz yyy xxx www"),
      (14L, "too short"), (15L, "")
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString).toSeq
    val slow = rows(TextAnalysis.backoffScore(scored, ref, "doc_id", "text", vocab = 7))
    val fast = rows(TextAnalysis.backoffScoreFast(scored, ref, "doc_id", "text", vocab = 7))
    assert(fast === slow, "kernel and hash-join forms must agree bit-for-bit " +
      "(including at the top-V tie boundary — vocab=7 truncates mid-tie)")
  }

  test("chunk manifest: counts and fill arithmetic over a known frame") {
    import spark.implicits._
    // pure-letter words so the token classes tokenize 1:1 with words
    val docs = Seq(
      (1L, Seq.fill(8)("aa").mkString(" ")),  // 1 full chunk at size=8
      (2L, Seq.fill(10)("bb").mkString(" "))  // chunks of 8 + a 2-token tail
    ).toDF("doc_id", "text")
    // stride = size (no overlap): tails can be genuinely short — with
    // stride < size a tail always exceeds size − stride, so the
    // short-fragment counter only bites on non-overlapping chunking
    val r = TextAnalysis.chunkManifest(docs, "doc_id", "text", size = 8, stride = 8)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(3)) === ((3L, 2L, 1L)),
      "3 chunks over 2 docs; doc2's 2-token tail is the one short fragment")
    // fill: (8 + 8 + 2) * 1000 div (3 * 8) = 18000 div 24 = 750
    assert(r.getLong(2) === 750L)
  }

  test("passage dedup: shared aligned chunk counts as dup everywhere but its keeper") {
    import spark.implicits._
    val bp = Seq.fill(4)("bp").mkString(" ") // one aligned chunk at size=stride=4
    val docs = Seq(
      (1L, s"$bp aa bb cc dd"),  // keeper of the bp chunk + unique tail chunk
      (2L, s"$bp ee ff gg hh"),  // dup bp chunk + unique tail
      (3L, s"$bp aa bb cc dd"),  // dup bp chunk + tail dup of doc 1's tail
      (4L, "ii jj kk ll")        // no shared content
    ).toDF("doc_id", "text")
    val out = Dedup.passageDedupReport(docs, "doc_id", "text", size = 4, stride = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) === ((2L, 0L, 0L)), "lowest (doc_id, chunk_idx) keeps both chunks")
    assert(out(2L) === ((2L, 1L, 500L)), "shared header is a dup; unique tail keeps")
    assert(out(3L) === ((2L, 2L, 1000L)), "full duplicate doc: every chunk a dup")
    assert(out(4L) === ((1L, 0L, 0L)))
  }

  test("doc-grain repetition: line/paragraph dup fractions and 3/4-gram loops") {
    import spark.implicits._
    val looped = "spin the wheel again and " * 8  // 4-gram loop
    val docs = Seq(
      (1L, "line one\nline two\nline one\n\npara\n\npara"), // dup line + dup para
      (2L, looped.trim),
      (3L, "all words distinct here today ok")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignalsDoc(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // doc 1: lines = [line one, line two, line one, para, para] -> 2 dups of 5
    assert(out(1L)._1 === 0.4)
    assert(out(1L)._2 > 0.0, "repeated paragraph must register")
    // doc 2: 'spin the wheel again and' x8 = 40 words; the loop makes
    // every 5-word-period trigram appear 8 (or 7) times
    assert(out(2L)._3 > 0.15 && out(2L)._4 > 0.15, "loop must light the 3/4-gram signals")
    // doc 3: 6 distinct words -> max n-gram count 1 over 4/3 positions
    assert(out(3L) === ((0.0, 0.0, 0.25, 0.333333)),
      s"distinct doc: got ${out(3L)}")
  }

  test("datacard: metrics over a hand-computable corpus") {
    import spark.implicits._
    val en = "the quick brown fox jumps over the lazy dog and runs on with many more " +
      "plain words that keep this document long enough to pass the gopher gate " +
      "because it needs fifty words in total to clear the minimum threshold set there " +
      "so here are several additional filler words now done"
    val docs = Seq((1L, en), (2L, en), (3L, "corto y no inglés")).toDF("doc_id", "text")
    val m = graft.ops.Datacard.datacard(docs, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("n_docs") === 3L)
    assert(m("n_unique_texts") === 2L, "exact-dup pair collapses to one digest")
    assert(m("dup_milli") === 333L)
    assert(m.keySet === Set("n_docs", "n_tokens", "n_chars", "n_unique_texts",
      "dup_milli", "lang_en_milli", "gopher_pass_milli", "mean_tokens_milli"))
    assert(m("lang_en_milli") === 666L, "2 of 3 docs are English")
    assert(m("mean_tokens_milli") === m("n_tokens") * 1000 / 3)
    // duplicate-id rows count as ROWS (oracle's count(*) semantics — the
    // fused no-join form can't fan out), and an empty corpus yields
    // defined zeros, not a divide-by-zero
    val dup = Seq((7L, en), (7L, "other words here")).toDF("doc_id", "text")
    val md = graft.ops.Datacard.datacard(dup, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(md("n_docs") === 2L && md("n_unique_texts") === 2L)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val me = graft.ops.Datacard.datacard(empty, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(me("n_docs") === 0L && me("dup_milli") === 0L &&
      me("mean_tokens_milli") === 0L, "empty corpus: defined zeros")
  }

  test("mojibake: derived artifacts repair byte-exactly; clean text untouched") {
    import spark.implicits._
    val phrase = "café ’quoted’ «guille» – dash… 90° ¡sí! ñandú"
    val broken = graft.ops.Mojibake.mojibakeOf(phrase)
    assert(broken !== phrase, "fixture corruption must actually corrupt")
    val docs = Seq((1L, broken), (2L, "plain ascii text"), (3L, phrase))
      .toDF("doc_id", "text")
    val out = graft.ops.Mojibake.fix(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(2))).toMap
    assert(out(1L) === ((phrase, true)), "corrupted row repairs to the original bytes")
    assert(out(2L) === (("plain ascii text", false)))
    assert(out(3L) === ((phrase, false)), "already-clean unicode passes through")
  }

  test("quality ensemble: repetition threshold and fertility band are live parameters") {
    import spark.implicits._
    val docs = Seq((1L, ("the common word list keeps growing nicely today " * 8).trim))
      .toDF("doc_id", "text")
    def flags(maxRep: Double, band: (Double, Double)): (Int, Int) = {
      val r = TextAnalysis.qualityEnsemble(docs, "doc_id", "text",
        maxTopBigramFrac = maxRep, fertilityBand = band).collect().head
      (r.getInt(r.fieldIndex("f_rep")), r.getInt(r.fieldIndex("f_fert")))
    }
    // 8x-repeated sentence: top bigram frac ≈ 8/63 ≈ 0.127 — fails the
    // default 0.09, passes a loosened 0.2; an absurd band kills f_fert,
    // an all-encompassing one passes it
    assert(flags(0.09, (0.0, 100.0)) === ((0, 1)))
    assert(flags(0.2, (99.0, 100.0)) === ((1, 0)))
  }

  test("stupid backoff: degenerate references — trigram-free ref runs, wordless ref fails fast") {
    import spark.implicits._
    val docs = Seq((10L, "the quick brown fox runs")).toDF("doc_id", "text")
    // no 3-word ref doc: the trigram top-V is EMPTY and must still form
    // a well-typed literal (bare 'array(L)' used to fail to parse)
    val bigramOnly = Seq((0L, "the quick"), (1L, "brown fox")).toDF("doc_id", "text")
    val out = TextAnalysis.backoffScoreFast(docs, bigramOnly, "doc_id", "text", vocab = 7)
      .collect()
    assert(out.length === 1 && out.head.getLong(1) === 3L,
      "trigram-free reference must still score (3 positions, all trigram misses)")
    // wordless ref: clear require, not an NPE from a NULL totals row
    val empty = Seq((0L, ""), (1L, " ")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.backoffScoreFast(docs, empty, "doc_id", "text", vocab = 7)
    }
    assert(e.getMessage.contains("no words"))
  }

  test("cluster budget: the keyed prefix sum caps each stratum, keeps best-score-first, spares small strata") {
    import spark.implicits._
    // the budget semantics on a hand-made assignment: stratum a has 5
    // members (over budget), b has 2 (under) — the exact frame the
    // k-means stage hands to the prefix sum
    val scored = Seq(
      ("a", 1L, 0.9, 1L), ("a", 2L, 0.8, 1L), ("a", 3L, 0.99, 1L),
      ("a", 4L, 0.7, 1L), ("a", 5L, 0.99, 1L),
      ("b", 10L, 0.5, 1L), ("b", 11L, 0.4, 1L)
    ).toDF("cluster", "v_id", "score", "one")
    val out = graft.ops.Sampling.selectByTokenBudgetStratified(scored,
        "v_id", "cluster", "score", "one", budgets = Map.empty, defaultBudget = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    // a: top-3 by (score desc, id asc) = 3 (0.99), 5 (0.99), 1 (0.9); b kept whole
    assert(out === Seq(("a", 1L), ("a", 3L), ("a", 5L), ("b", 10L), ("b", 11L)))
  }

  test("cluster budget end-to-end: no cluster exceeds its budget, ranks stay within it") {
    import spark.implicits._
    val vecs = (0 until 6).map(i => (i.toLong, Array(1f + i * 0.01f, 0f, 0f, 0f))) ++
      Seq((10L, Array(0f, 1f, 0f, 0f)), (11L, Array(0f, 1.1f, 0f, 0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.clusterBudgetSelect(df, "vec_id", "embedding",
      nClusters = 2, iters = 2, perClusterBudget = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(out.nonEmpty)
    assert(out.groupBy(_._1).values.forall(_.length <= 3),
      s"no cluster may exceed its budget: ${out.toSeq}")
    assert(out.forall(_._3 <= 3), "rank_in_cluster must never exceed the budget")
  }

  test("bonSelect: deterministic tie-breaks, signed margin, NULL scores out of domain") {
    val df = Seq(
      (1L, Some(10L), Some(900L)), (1L, Some(12L), Some(900L)), // best tie -> max id 12
      (1L, Some(13L), Some(-100L)), (1L, Some(11L), Some(-100L)), // worst tie -> min id 11
      (1L, Some(14L), None), // NULL score out of domain
      (1L, None, Some(5000L)), // NULL sample id out of domain (the
      // NULL-sort-field class: Spark orders it first, DuckDB last)
      (2L, Some(20L), Some(-5L))) // singleton selects itself, margin 0
      .toDF("prompt", "sample", "score")
    val m = graft.ops.Sampling.bonSelect(df, "prompt", "sample", "score")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))).toMap
    assert(m(1L) === ((4L, 12L, 900L, 11L, -100L, 1000L)))
    assert(m(2L) === ((1L, 20L, -5L, 20L, -5L, 0L)))
  }

  test("tfidfKeywords: graft_topk_words heap ≡ row_number window (tie-heavy, unicode, k > terms, dup doc ids)") {
    // the r20 heap migration's parity pin: the bounded-heap aggregate
    // must reproduce ORDER BY score DESC, w ASC LIMIT k bit-for-bit.
    // Fixture stresses exactly the orderings that could diverge:
    //  - docs 1/2: every term has IDENTICAL tf and df → equal scores,
    //    rank decided purely by the w ASC tie-break (UTF8 binary);
    //  - multi-byte terms interleaved with ASCII (binary order puts
    //    ASCII before CJK — é (2 bytes) between them);
    //  - doc 3 has fewer distinct terms than k → short result;
    //  - doc 4 appears TWICE (dup doc id) → tf must merge per GROUP BY
    //    before ranking, same as the oracle's grouped twin.
    val docs = Seq(
      (1L, "zebra apple mango 中文 émigré"),
      (2L, "émigré 中文 mango apple zebra"),
      (3L, "solo"),
      (4L, "alpha beta alpha"),
      (4L, "beta beta gamma")).toDF("doc_id", "text")
    for (grain <- Seq(WordGrain.Ws, WordGrain.CjkAuto)) {
      val heap = TextAnalysis.tfidfKeywords(docs, "doc_id", "text",
          k = 4, wordGrain = grain)
        .orderBy($"doc_id", $"rank")
        .collect().map(_.toSeq).toSeq
      val win = TextAnalysis.tfidfKeywordsWindow(docs, "doc_id", "text",
          k = 4, wordGrain = grain)
        .orderBy($"doc_id", $"rank")
        .collect().map(_.toSeq).toSeq
      assert(heap === win, s"heap/window divergence at grain $grain")
      // the tie-heavy docs really exercised the w ASC tie-break: all
      // five terms score equally, so rank order IS binary word order
      val d1 = heap.filter(_.head == 1L).map(_(1).asInstanceOf[String])
      assert(d1 === d1.sorted, s"doc 1 must rank by UTF8-binary w: $d1")
      assert(heap.count(_.head == 3L) === 1, "doc 3 has 1 term < k = 4")
    }
  }
}
