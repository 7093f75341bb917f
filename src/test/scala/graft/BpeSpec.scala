package graft

import graft.ops.Bpe
import org.apache.spark.sql.functions._

/** Pins the BPE tokenizer's semantics: exact single-epoch apply-merges
  * segmentation (boundary-delimited merges — a pair must bind two WHOLE
  * units, never the suffix of an earlier merge), divergence from word
  * counts, and edge cases (empty text, digits, newlines).
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def tokenize(texts: String*): Map[String, Seq[String]] =
    graft.functions.VectorFunctions.attach(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text"))
      .select(col("doc_id"), col("text"), expr(Bpe.sparkTokensExpr("text")).as("toks"))
      .collect()
      .map(r => r.getString(1) -> r.getSeq[String](2))
      .toMap

  test("single-epoch apply-merges segmentation on pinned fixtures") {
    val got = tokenize("the thing", "rest and motion", "question", "100 12", "")
    // the:   t h e -> th e -> the        thing: t h i n g -> th in g -> th ing
    assert(got("the thing") === Seq("the", "th", "ing"))
    // rest: r e s t -> re s t ((r,e)) -> re st ((s,t)); the (e,s) merge
    // must NOT split the earlier "re" unit (boundary-delimited pattern)
    assert(got("rest and motion") === Seq("re", "st", "and", "m", "o", "t", "i", "on"))
    // question: (o,n) -> on, (e,s) -> es, (q,u) -> qu; no io without a
    // bare o left
    assert(got("question") === Seq("qu", "es", "t", "i", "on"))
    // digits: (1,0) pairs left-to-right, (1,2) after
    assert(got("100 12") === Seq("10", "0", "12"))
    assert(got("") === Seq.empty)
  }

  test("back-to-back pair runs merge left-to-right non-overlapping (two-pass exactness)") {
    val got = tokenize("thththth", "ththth", "101010 1010")
    assert(got("thththth") === Seq("th", "th", "th", "th"))
    assert(got("ththth") === Seq("th", "th", "th"))
    assert(got("101010 1010") === Seq("10", "10", "10", "10", "10"))
  }

  test("newlines are symbol tokens; separator chars in input are stripped") {
    val got = tokenize("a\nb", "x\u0001y")
    assert(got("a\nb") === Seq("a", "\n", "b"))
    assert(got("x\u0001y") === Seq("x", "y"))
  }

  test("compiled kernel equals the declarative boundary-replace chain") {
    // deterministic pseudo-random corpus hitting the interesting shapes:
    // merge chains, back-to-back pairs, digits, unicode, newlines,
    // multi-space, empties, U+0001 strip
    val rnd = new scala.util.Random(42)
    val alphabet = "thein gandorse10 2\nqué中 "
    val texts = (0 until 200).map { i =>
      if (i == 0) "" else (0 until rnd.nextInt(80))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    } :+ "x\u0001y the\u0001thing"
    val df = graft.functions.VectorFunctions.attach(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
    val mismatches = df.select(
        expr(Bpe.sparkTokensExpr("text")).as("kernel"),
        expr(Bpe.hofTokensExpr("text")).as("declarative"))
      .where(expr("kernel <> declarative"))
      .count()
    assert(mismatches === 0L)
  }

  test("merge learning: argmax + tie-breaks + iterative merging on a hand-computed fixture") {
    // corpus: "the the cat" ×1 doc + "the" ×1 doc
    //   words: the×3, cat×1
    //   iter1 pairs: (t,h)=3, (h,e)=3, (c,a)=1, (a,t)=1
    //     tie 3: a asc -> (h,e) wins (h < t)
    //   iter2 (after he merged): (t,he)=3, (c,a)=1, (a,t)=1 -> (t,he)
    //   iter3: the×3 is one unit; remaining pairs (c,a)=1, (a,t)=1
    //     tie 1: a asc -> (a,t) wins
    //   iter4: units c,at -> (c,at)=1
    val docs = Seq((1L, "the the cat"), (2L, "the")).toDF("doc_id", "text")
    val got = graft.ops.Bpe.learnMerges(docs, "text", k = 4)
      .select($"rank", $"a", $"b", $"pair_count")
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1, "h", "e", 3L), (2, "t", "he", 3L),
      (3, "a", "t", 1L), (4, "c", "at", 1L)))
  }

  test("local (driver-loop) learner equals the Spark-loop learner, rank for rank") {
    // a corpus rich enough to exercise merged-unit pairs, ties, and
    // repeated words across docs; k deep enough that later ranks depend
    // on earlier merges compounding correctly
    val docs = Seq(
      (1L, "the thing sang a long song"),
      (2L, "the thin man ran and ran"),
      (3L, "singing in the rain again and again"),
      (4L, "10 12 100 1200 the end")).toDF("doc_id", "text")
    val want = graft.ops.Bpe.learnMerges(docs, "text", k = 12)
      .select($"rank", $"a", $"b", $"pair_count")
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    val got = graft.ops.Bpe.learnMergesLocal(docs, "text", k = 12)
    assert(got === want,
      "the collected-histogram driver loop must reproduce the Spark loop exactly")
    // and on the hand-computed fixture from the Spark-loop test
    val tiny = Seq((1L, "the the cat"), (2L, "the")).toDF("doc_id", "text")
    assert(graft.ops.Bpe.learnMergesLocal(tiny, "text", k = 4) ===
      Seq((1, "h", "e", 3L), (2, "t", "he", 3L), (3, "a", "t", 1L), (4, "c", "at", 1L)))
    // early stop matches too
    assert(graft.ops.Bpe.learnMergesLocal(
      Seq((1L, "ab")).toDF("doc_id", "text"), "text", k = 3)
      .map(m => (m._1, m._2, m._3)) === Seq((1, "a", "b")))
    // the maxVocab guard fails LOUD (r21): a histogram bigger than the
    // declared driver budget must name the minFreq knob, not train on
    // a silently-truncated vocabulary or wander into an OOM
    val e = intercept[IllegalArgumentException] {
      graft.ops.Bpe.learnMergesLocal(docs, "text", k = 2, maxVocab = 3)
    }
    assert(e.getMessage.contains("maxVocab") && e.getMessage.contains("minFreq"))
    // ... and minFreq prunes BEFORE the guard counts: the same cap
    // passes when the tail is pruned away (4 docs share only 'the')
    assert(graft.ops.Bpe.learnMergesLocal(docs, "text", k = 2,
      minFreq = 3L, maxVocab = 3).nonEmpty)
  }

  /** Summed `resultSize` of the result tasks (the ones that return rows
    * to the driver) that `body` runs on this thread. A marker job runs
    * after `body`: listener events arrive in order, so once its end is
    * seen every earlier task end has been counted.
    */
  private def resultBytesDuring[A](body: => A): (A, Long) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val group = s"result-bytes-${java.util.UUID.randomUUID}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val markerEnded = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      @volatile private var markerId = -1
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == "marker") markerId = e.jobId
          else e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskType == "ResultTask" && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.resultSize)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerId) markerEnded.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "body")
      val out = body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerEnded.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never ended")
      (out, bytes.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("learnMergesLocal: the maxVocab guard fires before the histogram reaches the driver") {
    // 20k distinct words against maxVocab = 3: the collect must stop at
    // 4 words, so the result tasks return a few KB (task metrics and 4
    // rows), not the whole histogram (~120 KB compressed)
    val docs = spark.range(0, 20000, 1, 2).select(col("id").as("doc_id"),
      concat(lit("distinctword"), col("id").cast("string")).as("text"))
    val (e, bytes) = resultBytesDuring(intercept[IllegalArgumentException] {
      Bpe.learnMergesLocal(docs, "text", k = 2, maxVocab = 3)
    })
    assert(e.getMessage.contains("more than maxVocab=3") && e.getMessage.contains("minFreq"),
      e.getMessage)
    assert(bytes < 16 * 1024, s"result tasks returned $bytes bytes to the driver")
  }

  test("merge learning stops early when no eligible pair remains") {
    // single 2-char word: one merge exhausts every alnum pair
    val docs = Seq((1L, "ab")).toDF("doc_id", "text")
    val got = graft.ops.Bpe.learnMerges(docs, "text", k = 3)
      .select($"rank", $"a", $"b").as[(Int, String, String)].collect().toSeq
    assert(got === Seq((1, "a", "b")))
  }

  test("token-ends kernel: cumulative stripped offsets equal the declarative accumulator; count_le equals the HOF filter") {
    // parity baseline: the quadratic array-append aggregate the kernel
    // replaces (semantics twin — the kernel exists because this form
    // is O(tokens²) per row), plus the space/Sep-stripping convention
    // and an astral (surrogate-pair) codepoint counting as ONE unit
    val texts = Seq("the thing rest", "a  b", "", "   ", "xy z",
      "<|user|>hi there<|assistant|>ok<|end|>", "ab𝄞cd e")
    val df = graft.functions.VectorFunctions.attach(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text"))
    val rows = df.select(col("id"),
      expr("graft_bpe_token_ends(text)").as("ke"),
      expr("aggregate(graft_bpe_tokens(text), " +
        "named_struct('c', cast(0 AS BIGINT), 'a', cast(array() AS ARRAY<BIGINT>)), " +
        "(acc, t) -> named_struct('c', acc.c + length(t), " +
        "'a', concat(acc.a, array(acc.c + length(t)))), acc -> acc.a)").as("de"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2),
        s"token-ends mismatch on ${texts(r.getLong(0).toInt)}")
    }
    // count_le ≡ size(filter(arr, e -> e <= x)) across boundaries:
    // below first, exact hits, between, past last, empty array
    val arrs = Seq(Seq(2L, 5L, 5L, 9L), Seq.empty[Long], Seq(1L))
    val probes = Seq(-1L, 0L, 1L, 2L, 3L, 5L, 8L, 9L, 10L)
    val cdf = graft.functions.VectorFunctions.attach(
      (for { (a, i) <- arrs.zipWithIndex; x <- probes }
        yield (i.toLong, a, x)).toDF("id", "arr", "x"))
    cdf.select(expr("graft_count_le(arr, x)"),
      expr("cast(size(filter(arr, e -> e <= x)) AS BIGINT)"))
      .collect().foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("BPE token counts differ from word counts (not a rename)") {
    val df = Seq((1L, "the thing"), (2L, "rest and motion"))
      .toDF("doc_id", "text")
    val out = Bpe.bpeTokens(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((2L, 3L, "the|th|ing")))
    assert(out(2L) === ((3L, 8L, "re|st|and|m|o|t|i|on")))
    assert(out.values.forall { case (w, b, _) => w != b })
  }

  test("fertility report: corpus-level sums-first ratios per language, zero denominators report 0") {
    // en: 'the thing' = 2 words / 3 BPE tokens / 9 bytes;
    //     'rest and motion' = 3 / 8 / 15 -> fertility (3+8)*1000 div 5
    //     = 2200, bytes/token (9+15)*1000 div 11 = 2181 (the per-doc
    //     mean would read differently — sums-first is the pinned rule)
    // zz: empty text -> zero words AND zero tokens -> both ratios 0
    val df = Seq(
      (1L, "the thing", "en"), (2L, "rest and motion", "en"),
      (3L, "", "zz"))
      .toDF("doc_id", "text", "lang")
    val m = Bpe.bpeFertility(df, "text", "lang")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))).toMap
    assert(m("en") === ((2L, 5L, 11L, 24L, 2200L, 2181L)))
    assert(m("zz") === ((1L, 0L, 0L, 0L, 0L, 0L)))
  }
}
