package graft

import graft.ops.{Chat, Dedup, TextAnalysis, WordGrain}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The training-data ops under Structured Streaming: the stateless ops
  * (text features) run unchanged on a streaming Dataset; dedup gets the
  * watermark-bounded stateful variant. This is the ingest-pipeline shape:
  * readStream → feature/filter transforms → dedup → writeStream.
  */
class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("streaming exact dedup keeps first copy per digest, drops later copies; state bounded by watermark") {
    implicit val sq = spark.sqlContext
    val docs = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = Dedup.exactDedupStreaming(
      docs.toDF().toDF("doc_id", "text", "ts"), "text", "ts", "10 seconds")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      docs.addData((1L, "the quick brown fox", ts("2024-01-01 00:00:00")))
      docs.addData((2L, "an entirely different doc", ts("2024-01-01 00:00:01")))
      q.processAllAvailable()
      // same content arriving later within the watermark window: dropped
      docs.addData((3L, "the quick brown fox", ts("2024-01-01 00:00:02")))
      q.processAllAvailable()
      val kept = spark.table("dedup_stream").select($"doc_id").as[Long].collect().sorted
      assert(kept.toSeq === Seq(1L, 2L), "first copy kept, in-window duplicate dropped")
    } finally q.stop()
  }

  test("watermarked event-time tumbling window closes and drops late data") {
    implicit val sq = spark.sqlContext
    val events = MemoryStream[(String, java.sql.Timestamp)]
    val out = events.toDF().toDF("event_type", "ts")
      .withWatermark("ts", "5 seconds")
      .groupBy(window($"ts", "1 minute"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("w_start"), $"event_type", $"n")
    val q = out.writeStream.format("memory").queryName("win_stream")
      .outputMode("append").start()
    try {
      events.addData(("view", ts("2024-01-01 00:00:10")), ("view", ts("2024-01-01 00:00:20")))
      q.processAllAvailable()
      // advance the watermark well past the first window so it finalizes
      events.addData(("view", ts("2024-01-01 00:05:00")))
      q.processAllAvailable()
      // this event is behind the watermark — it must NOT reopen the window
      events.addData(("view", ts("2024-01-01 00:00:30")))
      q.processAllAvailable()
      events.addData(("view", ts("2024-01-01 00:10:00")))
      q.processAllAvailable()
      val first = spark.table("win_stream")
        .where($"w_start" === ts("2024-01-01 00:00:00"))
        .select($"n").as[Long].collect()
      assert(first.toSeq === Seq(2L), "window emitted once with on-time rows only")
    } finally q.stop()
  }

  test("streaming corpus filter: features -> quality gate -> watermarked dedup") {
    implicit val sq = spark.sqlContext
    val docs = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = TextAnalysis.corpusFilterStreaming(
      docs.toDF().toDF("doc_id", "text", "ts"), "doc_id", "text", "ts", "10 seconds",
      lang = "en", minWords = 5, minStopRatio = 0.02)
    val q = out.writeStream.format("memory").queryName("corpus_stream")
      .outputMode("append").start()
    try {
      docs.addData(
        (1L, "the cat sat on a mat and slept", ts("2024-01-01 00:00:00")), // keeper
        (2L, "der hund ist und das auch hier", ts("2024-01-01 00:00:01")), // wrong lang
        (3L, "tiny doc", ts("2024-01-01 00:00:02")))                       // too short
      q.processAllAvailable()
      // exact duplicate of the keeper within the watermark: dropped
      docs.addData((4L, "the cat sat on a mat and slept", ts("2024-01-01 00:00:03")))
      q.processAllAvailable()
      val kept = spark.table("corpus_stream").select($"doc_id").as[Long].collect().sorted
      assert(kept.toSeq === Seq(1L), "only the first en quality doc survives")
    } finally q.stop()
  }

  test("streaming ingest chain: markup strips, normalization collapses variants before dedup, gate holds") {
    implicit val sq = spark.sqlContext
    val docs = MemoryStream[(Long, String, java.sql.Timestamp)]
    val raw = docs.toDF().toDF("doc_id", "text", "ts")
    // the batch pipeline_ingest chain, unchanged on a stream: every
    // stage before the watermarked dedup is a stateless projection
    val clean = TextAnalysis.stripMarkup(raw, "doc_id", "text", carry = Seq("ts"))
      .select($"doc_id", $"clean_text".as("text"), $"ts")
    val norm = TextAnalysis.normalize(clean, "doc_id", "text", carry = Seq("ts"))
      .select($"doc_id", $"norm_text".as("text"), $"ts")
    val out = TextAnalysis.corpusFilterStreaming(norm, "doc_id", "text",
      "ts", "10 seconds", lang = "en", minWords = 5, minStopRatio = 0.02)
    val q = out.writeStream.format("memory").queryName("ingest_stream")
      .outputMode("append").start()
    try {
      docs.addData(
        (1L, "<p>The cat sat on a mat and slept</p>", ts("2024-01-01 00:00:00")),
        // markup + case VARIANT of doc 1: normalization must collapse
        // it to the same digest, so the dedup drops it in-flight
        (2L, "the CAT <b>sat</b> on a mat and slept", ts("2024-01-01 00:00:01")),
        (3L, "<i>der hund</i> ist und das auch hier", ts("2024-01-01 00:00:02")))
      q.processAllAvailable()
      val kept = spark.table("ingest_stream").select($"doc_id").as[Long].collect().sorted
      assert(kept.toSeq === Seq(1L),
        "markup/case variants collapse; wrong-language doc gated")
    } finally q.stop()
  }

  test("streaming decontamination guard: bench-overlapping docs drop in-flight, clean and sub-k docs pass") {
    implicit val sq = spark.sqlContext
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val docs = MemoryStream[(Long, String)]
    val out = graft.ops.Decontaminate.cleanDocsStreaming(
      docs.toDF().toDF("doc_id", "text"), bench, "doc_id", "text", k = 3)
    val q = out.writeStream.format("memory").queryName("decon_stream")
      .outputMode("append").start()
    try {
      docs.addData(
        (1L, "totally unrelated content about databases and sparks"), // clean
        (2L, "he saw the quick brown fox jumps far away"),            // leaks a bench shingle
        (3L, "tiny doc"))                                             // < k words: no evidence
      q.processAllAvailable()
      val kept = spark.table("decon_stream").select($"doc_id").as[Long].collect().sorted
      assert(kept.toSeq === Seq(1L, 3L), "bench-overlapping doc 2 must drop; sub-k doc 3 passes")
    } finally q.stop()
  }

  test("streaming DSIR gate: off-target arrivals drop in-flight, target-like arrivals pass scored") {
    implicit val sq = spark.sqlContext
    val ref = Seq(
      (0L, "alpha beta alpha beta alpha", "tgt"),
      (1L, "alpha beta gamma alpha beta", "tgt"),
      (2L, "zeta eta theta zeta eta", "raw"),
      (3L, "zeta eta zeta eta theta", "raw")
    ).toDF("doc_id", "text", "grp")
    val docs = MemoryStream[(Long, String)]
    val out = graft.ops.Dsir.scoreStreaming(
      docs.toDF().toDF("doc_id", "text"), ref, "doc_id", "text",
      targetPred = col("grp") === "tgt")
    val q = out.writeStream.format("memory").queryName("dsir_stream")
      .outputMode("append").start()
    try {
      docs.addData(
        (10L, "alpha beta alpha gamma"),   // target-like: passes
        (11L, "zeta eta theta zeta"),      // off-target: negative weight, drops
        (12L, ""))                         // empty: no grams, drops pre-score
      q.processAllAvailable()
      val kept = spark.table("dsir_stream")
        .select($"doc_id", $"w_sum").as[(Long, Long)].collect().toMap
      assert(kept.keySet === Set(10L), "only the target-like arrival passes the gate")
      assert(kept(10L) > 0L)
    } finally q.stop()
  }

  test("streaming incremental near-dup guard: suffix-varied re-crawls drop in-flight against the prior band table") {
    implicit val sq = spark.sqlContext
    val longDoc = "a b c d e f g h i j k l m n o p q r s t u v w x y z " +
      "aa bb cc dd ee ff gg hh"
    val prior = Seq((100L, longDoc),
      (101L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val priorBands = Dedup.bandTable(prior, "doc_id", "text")
    val docs = MemoryStream[(Long, String)]
    val out = Dedup.incrementalNearDupStreaming(
      docs.toDF().toDF("doc_id", "text"), priorBands, "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("incnear_stream")
      .outputMode("append").start()
    try {
      docs.addData(
        (1L, longDoc + " trailing crawl noise"), // near-copy of 100: flagged
        (2L, "a wholly different document with its own distinct words here"),
        (3L, "tiny"))                            // < k words: no bands, keeps
      q.processAllAvailable()
      val flags = spark.table("incnear_stream")
        .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
      assert(flags === Map(1L -> false, 2L -> true, 3L -> true))
      // parity with the batch op on identical data
      val batch = Dedup.incrementalNearDup(
        Seq((1L, longDoc + " trailing crawl noise"),
          (2L, "a wholly different document with its own distinct words here"),
          (3L, "tiny")).toDF("doc_id", "text"),
        priorBands, "doc_id", "text")
        .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
      assert(flags === batch, "stream guard must agree with the batch check")
    } finally q.stop()
  }

  test("streaming WARC ingest: byte-true length-delimited parse runs unchanged on a binary stream") {
    implicit val sq = spark.sqlContext
    // the crawl front door as a stream: containers arrive as BINARY
    // blobs; parseWarcBytes is mapPartitions on the blob column — a
    // stateless projection, so the batch op runs on the stream as-is
    val blobs = MemoryStream[Array[Byte]]
    val out = graft.ops.CorpusIO.parseWarcBytes(
      blobs.toDF().toDF("blob"), "blob")
    val q = out.writeStream.format("memory").queryName("warc_stream")
      .outputMode("append").start()
    try {
      val multi = "héllo 中文 wörld" // multi-byte: bytes > chars
      val rec1 = "WARC/1.0\r\nWARC-Target-URI: https://s/1\r\n" +
        s"Content-Length: ${multi.getBytes("UTF-8").length}\r\n\r\n$multi\r\n\r\n"
      val rec2 = "WARC/1.0\r\nWARC-Target-URI: https://s/2\r\n" +
        "Content-Length: 24\r\n\r\nabout WARC/1.0\r\n markers\r\n\r\n"
      blobs.addData((rec1 + rec2).getBytes("UTF-8"))
      q.processAllAvailable()
      val rows = spark.table("warc_stream")
        .select($"uri", $"content_length", $"n_payload_bytes", $"payload_hash")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(rows.keySet === Set("https://s/1", "https://s/2"),
        "both records must parse in-flight; the embedded marker must not split")
      val nb = multi.getBytes("UTF-8").length.toLong
      assert(rows("https://s/1") ===
        ((nb, nb, graft.ops.PortableHash.jvmStringHash(multi))))
      assert(rows("https://s/2")._3 ===
        graft.ops.PortableHash.jvmStringHash("about WARC/1.0\r\n markers"))
    } finally q.stop()
  }

  test("streaming URL guard: canonicalization + domain blocklist run as stateless stages") {
    implicit val sq = spark.sqlContext
    val docs = MemoryStream[(Long, String)]
    val out = graft.ops.Url.canonicalize(
      graft.ops.Url.domainFilter(
        // the blocklist keys on the REGISTRABLE domain (last two
        // labels): subdomains of a blocked domain drop with it
        docs.toDF().toDF("doc_id", "url"), "url", blocked = Seq("spam.com")),
      "doc_id", "url")
    val q = out.writeStream.format("memory").queryName("url_stream")
      .outputMode("append").start()
    try {
      docs.addData(
        (1L, "https://WWW.Good.com:443/x/?b=2&a=1#f"),
        (2L, "https://sub.spam.com/y"),           // blocked domain (via subdomain): dropped
        (3L, "http://good.com:80/x?a=1&b=2"))     // canon-equal to 1
      q.processAllAvailable()
      val rows = spark.table("url_stream")
        .select($"doc_id", $"canon_url").as[(Long, String)].collect().toMap
      assert(rows.keySet === Set(1L, 3L), "the blocked domain must drop in-flight")
      assert(rows(1L) === rows(3L), "cosmetic variants canonicalize identically on the stream")
    } finally q.stop()
  }

  test("streaming routed grain: cjk-auto tokenizer, term pairs, and chunking run as stateless stages") {
    implicit val sq = spark.sqlContext
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val docs = MemoryStream[(Long, String)]
    val out = graft.ops.TextAnalysis.chunkDocuments(
      docs.toDF().toDF("doc_id", "text"), "doc_id", "text",
      size = 4, stride = 4, grain = WordGrain.CjkAuto)
    val q = out.writeStream.format("memory").queryName("routed_stream")
      .outputMode("append").start()
    try {
      docs.addData(
        (1L, "这是一个没有空格的中文句子"),   // 13 codepoints -> chunks 4,4,4,1
        (2L, "five plain words right here")) // ws words -> chunks 4,1
      q.processAllAvailable()
      val rows = spark.table("routed_stream")
        .select($"doc_id", $"n_tokens").as[(Long, Long)].collect()
      assert(rows.filter(_._1 == 1L).map(_._2).sorted.toSeq == Seq(1L, 4L, 4L, 4L),
        "routed chunk windows must cut per codepoint on the stream")
      assert(rows.filter(_._1 == 2L).map(_._2).sorted.toSeq == Seq(1L, 4L))
      // the pair kernel is a stateless projection too: same micro-batch
      val tf = docs.toDF().toDF("doc_id", "text")
      val q2 = tf.selectExpr("doc_id", "explode(graft_term_tf(text, 'cjk-auto')) AS p")
        .selectExpr("doc_id", "p.w AS w", "p.tf AS tf")
        .writeStream.format("memory").queryName("tf_stream")
        .outputMode("append").start()
      try {
        q2.processAllAvailable()
        val pairs = spark.table("tf_stream")
          .where($"doc_id" === 1L).select($"w", $"tf").as[(String, Long)].collect()
        assert(pairs.nonEmpty && pairs.forall(_._1.length == 1),
          "routed pairs must be codepoint terms on the stream")
      } finally q2.stop()
    } finally q.stop()
  }

  test("streaming routed guards: cjk DSIR gate scores Han arrivals; near-dup guard drops a zh re-crawl") {
    implicit val sq = spark.sqlContext
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val zh = "这是一个没有空格的中文句子在这里继续延长内容"
    // DSIR gate on the routed grain: the ref corpus's Han rows are the
    // target; a Han arrival must pass, an off-target latin one drop
    val ref = Seq((1L, zh), (2L, zh + "的"), (3L, "plain latin filler text here"),
      (4L, "more latin filler words going on")).toDF("doc_id", "text")
    val docs = MemoryStream[(Long, String)]
    val gated = graft.ops.Dsir.scoreStreaming(
      docs.toDF().toDF("doc_id", "text"), ref, "doc_id", "text",
      targetPred = expr("doc_id <= 2"), minWeight = 1L, wordGrain = WordGrain.CjkAuto)
    val q = gated.writeStream.format("memory").queryName("dsir_cjk_stream")
      .outputMode("append").start()
    try {
      docs.addData((10L, zh), (11L, "plain latin filler text here"))
      q.processAllAvailable()
      val kept = spark.table("dsir_cjk_stream").select($"doc_id").as[Long].collect().toSet
      assert(kept == Set(10L), s"only the Han-dense arrival is target-like: $kept")
    } finally q.stop()
    // incremental near-dup guard: prior band table on the routed grain
    // catches a suffix-varied zh re-crawl in-flight
    val prior = graft.ops.Dedup.bandTable(
      Seq((1L, zh)).toDF("doc_id", "text"), "doc_id", "text",
      wordGrain = WordGrain.CjkAuto)
    val crawl = MemoryStream[(Long, String)]
    val guarded = graft.ops.Dedup.incrementalNearDupStreaming(
      crawl.toDF().toDF("doc_id", "text"), prior, "doc_id", "text",
      wordGrain = WordGrain.CjkAuto)
    val q2 = guarded.writeStream.format("memory").queryName("neardup_cjk_stream")
      .outputMode("append").start()
    try {
      crawl.addData((20L, zh + "尾"), (21L, "completely different latin text here"))
      q2.processAllAvailable()
      val rows = spark.table("neardup_cjk_stream")
        .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
      assert(!rows(20L), "the zh near-dup re-crawl must drop in-flight")
      assert(rows(21L), "the unrelated doc passes")
    } finally q2.stop()
  }

  test("streaming backoff-LM gate: literal-vocab kernel scores arrivals in-flight, garbage drops") {
    implicit val sq = spark.sqlContext
    // the DSIR-gate pattern one rung up: the reference vocabulary
    // collapses to broadcast-literal arrays at construction, so the
    // scoring pass is a stateless projection a stream runs unchanged
    val ref = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown cat naps under the warm sun")).toDF("doc_id", "text")
    val docs = MemoryStream[(Long, String)]
    val out = TextAnalysis.backoffScoreFast(
      docs.toDF().toDF("doc_id", "text"), ref, "doc_id", "text", vocab = 100)
      .where($"backoff_score" > 0.0)
    val q = out.writeStream.format("memory").queryName("backoff_stream")
      .outputMode("append").start()
    try {
      docs.addData(
        (10L, "the quick brown fox runs"), // ref-like: trigram hits, passes
        (11L, "zzz yyy xxx www vvv"),      // all-OOV: score 0, drops
        (12L, "too short"))                // < 3 words: dropped pre-kernel
      q.processAllAvailable()
      val kept = spark.table("backoff_stream")
        .select($"doc_id", $"n_tri").as[(Long, Long)].collect().toMap
      assert(kept.keySet === Set(10L), "only the reference-like arrival passes")
      assert(kept(10L) >= 1L, "the pass must come from a trigram-level hit")
    } finally q.stop()
  }

  test("streaming ANN: query-vector stream gets bounded-heap top-k against the static corpus") {
    implicit val sq = spark.sqlContext
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f)), (11L, Array(0.9f, 0.1f)),
      (12L, Array(0.0f, 1.0f)), (13L, Array(0.1f, 0.9f))
    ).toDF("vec_id", "embedding")
    val queries = MemoryStream[(Long, Array[Float])]
    val out = graft.ops.Similarity.streamingTopK(
      corpus, queries.toDF().toDF("q_id", "q_vec"), "vec_id", "embedding", k = 2)
    val q = out.writeStream.format("memory").queryName("ann_stream")
      .outputMode("update").start()
    try {
      queries.addData((1L, Array(1.0f, 0.05f)))
      q.processAllAvailable()
      val top = spark.table("ann_stream").where($"q_id" === 1L)
        .selectExpr("transform(top, t -> t.c_id) AS ids").as[Seq[Long]].collect().last
      assert(top === Seq(10L, 11L), "x-axis query's nearest are the x-axis vectors, best first")
      queries.addData((2L, Array(0.0f, 1.0f)))
      q.processAllAvailable()
      val top2 = spark.table("ann_stream").where($"q_id" === 2L)
        .selectExpr("transform(top, t -> t.c_id) AS ids").as[Seq[Long]].collect().last
      assert(top2 === Seq(12L, 13L))
    } finally q.stop()
  }

  test("streaming multi-probe LSH ANN matches the batch lshTopK on the same data") {
    implicit val sq = spark.sqlContext
    val corpus = Seq(
      (10L, Array(1.0f, 0.05f)), (11L, Array(0.9f, 0.1f)),
      (12L, Array(0.0f, 1.0f)), (13L, Array(0.1f, 0.9f)),
      (14L, Array(-1.0f, -0.1f)), (15L, Array(0.7f, 0.7f))
    ).toDF("vec_id", "embedding")
    val queries = MemoryStream[(Long, Array[Float])]
    val out = graft.ops.Similarity.lshTopKStreaming(
      corpus, queries.toDF().toDF("q_id", "q_vec"), "vec_id", "embedding",
      k = 2, nprobe = 2)
    val q = out.writeStream.format("memory").queryName("lsh_stream")
      .outputMode("update").start()
    try {
      // the query equals corpus vector 10's direction, so its own bucket
      // is guaranteed non-empty; probing adds the nearest flipped bucket
      queries.addData((100L, Array(1.0f, 0.05f)))
      q.processAllAvailable()
      val got = spark.table("lsh_stream").where($"q_id" === 100L)
        .selectExpr("transform(top, t -> t.c_id) AS ids").as[Seq[Long]].collect().last
      val expect = graft.ops.Similarity.lshTopK(
          corpus, Seq((100L, Array(1.0f, 0.05f))).toDF("vec_id", "embedding"),
          "vec_id", "embedding", k = 2, nprobe = 2)
        .orderBy($"rank").select($"c_id").as[Long].collect().toSeq
      assert(got === expect,
        "streaming heap result must equal the batch multi-probe ranking")
      assert(got.head == 10L, "the identical-direction vector ranks first")
    } finally q.stop()
  }

  test("real image decode runs unchanged as a streaming stage (mapPartitions is stateless)") {
    implicit val sq = spark.sqlContext
    import graft.ops.Multimodal
    val ids = MemoryStream[Long]
    val media = ids.toDF().toDF("doc_id").transform(Multimodal.attachPngPayload(_, "doc_id"))
    val out = Multimodal.decodeMeta(media).toDF()
    val q = out.writeStream.format("memory").queryName("mm_stream")
      .outputMode("append").start()
    try {
      ids.addData(3L, 7L)
      q.processAllAvailable()
      val rows = spark.table("mm_stream")
        .select($"media_id", $"width", $"height", $"pixel_sum")
        .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3)))).toMap
      for (id <- Seq(3L, 7L)) {
        val (w, h) = (Multimodal.ImageCodec.plantedWidth(id), Multimodal.ImageCodec.plantedHeight(id))
        val expected = (for { y <- 0 until h; x <- 0 until w; c <- 0 until 3 }
          yield Multimodal.ImageCodec.pixelValue(id, x, y, c).toLong).sum
        assert(rows(id) === ((w, h, expected)), s"id=$id")
      }
    } finally q.stop()
  }

  test("document chunking runs unchanged on a streaming Dataset") {
    implicit val sq = spark.sqlContext
    val docs = MemoryStream[(Long, String)]
    val out = TextAnalysis.chunkDocuments(
      docs.toDF().toDF("doc_id", "text"), "doc_id", "text", size = 4, stride = 3)
    val q = out.writeStream.format("memory").queryName("chunk_stream")
      .outputMode("append").start()
    try {
      docs.addData((1L, "aa bb cc dd ee ff")) // 6 tokens -> chunks 0 (4) and 1 (3)
      q.processAllAvailable()
      val rows = spark.table("chunk_stream")
        .select($"chunk_idx", $"n_tokens").as[(Int, Long)].collect().sorted
      assert(rows.toSeq === Seq((0, 4L), (1, 3L)))
    } finally q.stop()
  }

  test("mojibake repair runs unchanged on a streaming Dataset") {
    implicit val sq = spark.sqlContext
    val docs = MemoryStream[(Long, String)]
    val out = graft.ops.Mojibake.fix(
      docs.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("moji_stream")
      .outputMode("append").start()
    try {
      val phrase = "café – ’ok’"
      docs.addData((1L, graft.ops.Mojibake.mojibakeOf(phrase)), (2L, "clean"))
      q.processAllAvailable()
      val rows = spark.table("moji_stream")
        .select($"doc_id", $"fixed_text", $"changed")
        .as[(Long, String, Boolean)].collect().sortBy(_._1)
      assert(rows.toSeq === Seq((1L, phrase, true), (2L, "clean", false)),
        "the constant replace chain is a stateless projection — repairs in-flight")
    } finally q.stop()
  }

  test("stateless text features (langId) run unchanged on a streaming Dataset") {
    implicit val sq = spark.sqlContext
    val docs = MemoryStream[(Long, String)]
    val out = TextAnalysis.langId(docs.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("lang_stream")
      .outputMode("append").start()
    try {
      docs.addData((1L, "the cat sat on the mat and a dog"), (2L, "der hund ist und das"))
      q.processAllAvailable()
      val langs = spark.table("lang_stream")
        .select($"doc_id", $"lang_pred").as[(Long, String)].collect().toMap
      assert(langs === Map(1L -> "en", 2L -> "de"))
    } finally q.stop()
  }

  test("chat family runs unchanged on a streaming Dataset: stream output ≡ batch output") {
    // the SFT ops are stateless per-conversation projections (parse +
    // row-local accumulators + explode) — streaming-safe by
    // construction; this pins it. chatReport is the one keyed
    // aggregation in the family and needs complete/update mode — out
    // of the stateless claim, deliberately absent here.
    implicit val sq = spark.sqlContext
    def conv(turns: (String, String)*): String =
      turns.map { case (r, c) => s"""{"role":"$r","content":"$c"}""" }
        .mkString("[", ",", "]")
    val fixture = Seq(
      (1L, conv("system" -> "s", "user" -> "hi there", "assistant" -> "hello back")),
      (2L, conv("user" -> "a b c", "assistant" -> "d", "user" -> "e", "assistant" -> "f g")),
      (3L, "not json"), (4L, "[]"))
    val batchDf = fixture.toDF("doc_id", "conv")
    val ops = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "turn_stats" -> (d => Chat.chatTurnStats(d, "doc_id", "conv")),
      "render" -> (d => Chat.chatRender(d, "doc_id", "conv")),
      "mask_spans" -> (d => Chat.chatAssistantSpans(d, "doc_id", "conv")),
      "mask_tokens" -> (d => Chat.chatMaskTokens(d, "doc_id", "conv")),
      "quarantine" -> (d => Chat.chatQuarantine(d, "doc_id", "conv")),
      "truncate" -> (d => Chat.chatTruncate(d, "doc_id", "conv", budget = 10)))
    // the preference stats pass is the same stateless-projection shape:
    // pin stream ≡ batch for it too (dedup/report are keyed aggs — out
    // of the stateless claim, like chatReport)
    val prefFixture = Seq(
      (1L, "p", "good answer", "bad"),
      (2L, "p", "same", "same"),
      (3L, "", "c", null.asInstanceOf[String]))
    val prefBatch = prefFixture.toDF("doc_id", "prompt", "chosen", "rejected")
    val prefOps = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "pref_stats" -> (d =>
        graft.ops.Preference.pairStats(d, "doc_id", "prompt", "chosen", "rejected")))
    prefOps.foreach { case (name, op) =>
      val src = MemoryStream[(Long, String, String, String)]
      val q = op(src.toDF().toDF("doc_id", "prompt", "chosen", "rejected"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        src.addData(prefFixture: _*)
        q.processAllAvailable()
        val streamed = spark.table(name).collect()
          .map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
        val batch = op(prefBatch).collect()
          .map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
        assert(streamed.toSeq === batch.toSeq, s"$name: stream ≠ batch")
        assert(batch.nonEmpty)
      } finally q.stop()
    }
    ops.foreach { case (name, op) =>
      val docs = MemoryStream[(Long, String)]
      val q = op(docs.toDF().toDF("doc_id", "conv"))
        .writeStream.format("memory").queryName(s"chat_$name")
        .outputMode("append").start()
      try {
        docs.addData(fixture: _*)
        q.processAllAvailable()
        val streamed = spark.table(s"chat_$name").collect()
          .map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
        val batch = op(batchDf).collect()
          .map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
        assert(streamed.toSeq === batch.toSeq, s"chat $name: stream ≠ batch")
        assert(batch.nonEmpty, s"chat $name: fixture must carry mass")
      } finally q.stop()
    }
  }

  test("streaming ingest guard: prior-corpus duplicates AND in-flight duplicates both dropped") {
    implicit val sq = spark.sqlContext
    val prior = Seq((100L, "already kept doc"), (101L, "another prior doc"))
      .toDF("doc_id", "text")
    val docs = MemoryStream[(Long, String, java.sql.Timestamp)]
    // tiny sketch at fpp 0.25 so the false-positive residual path is live
    val out = Dedup.incrementalNewStreaming(
      docs.toDF().toDF("doc_id", "text", "ts"), prior,
      "doc_id", "text", "ts", "10 seconds", expectedPrior = 8, fpp = 0.25)
    val q = out.writeStream.format("memory").queryName("ingest_guard")
      .outputMode("append").start()
    try {
      docs.addData(
        (1L, "already kept doc", ts("2024-01-01 00:00:00")),  // in prior -> dropped
        (2L, "a genuinely new doc", ts("2024-01-01 00:00:01")))
      q.processAllAvailable()
      docs.addData(
        (3L, "a genuinely new doc", ts("2024-01-01 00:00:02")), // in-flight dup -> dropped
        (4L, "another prior doc", ts("2024-01-01 00:00:03")),   // in prior -> dropped
        (5L, "fresh as can be", ts("2024-01-01 00:00:04")))
      q.processAllAvailable()
      val kept = spark.table("ingest_guard").select($"doc_id").as[Long].collect().sorted
      assert(kept.toSeq === Seq(2L, 5L),
        "only never-seen content passes the ingest guard")
    } finally q.stop()
  }

  test("winnowing fingerprints run unchanged on a streaming Dataset (stateless scan)") {
    implicit val sq = spark.sqlContext
    val docs = MemoryStream[(Long, String)]
    val out = graft.ops.TextAnalysis.winnow(
      docs.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("winnow_stream")
      .outputMode("append").start()
    try {
      docs.addData(
        (1L, "alpha beta gamma delta epsilon eta theta iota kappa"),
        (2L, "ab"))
      q.processAllAvailable()
      val got = spark.table("winnow_stream")
        .select($"doc_id", $"n_grams", $"n_fingerprints")
        .as[(Long, Int, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      val batch = graft.ops.TextAnalysis.winnow(
        Seq((1L, "alpha beta gamma delta epsilon eta theta iota kappa"),
          (2L, "ab")).toDF("doc_id", "text"), "doc_id", "text")
        .select($"doc_id", $"n_grams", $"n_fingerprints")
        .as[(Long, Int, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got === batch, "streaming output must equal the batch operator")
      assert(got(1L)._1 == 7 && got(2L)._1 == 0)
    } finally q.stop()
  }

  test("sentence-aligned chunking runs unchanged on a streaming Dataset (r14 zero-shuffle kernel)") {
    implicit val sq = spark.sqlContext
    val docs = MemoryStream[(Long, String)]
    val rows = Seq(
      (1L, "one two. three four. five six."),
      (2L, "第一句话。第二句话。第三句话。"))
    val out = graft.ops.TextAnalysis.chunkBySentences(
      docs.toDF().toDF("doc_id", "text"), "doc_id", "text",
      size = 4, grain = WordGrain.CjkAuto)
    val q = out.writeStream.format("memory").queryName("sentchunk_stream")
      .outputMode("append").start()
    try {
      docs.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("sentchunk_stream").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(4)).toMap
      val batch = graft.ops.TextAnalysis.chunkBySentences(
          rows.toDF("doc_id", "text"), "doc_id", "text",
          size = 4, grain = WordGrain.CjkAuto).collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(4)).toMap
      assert(got === batch, "streaming chunks must equal the batch operator")
      assert(got.keys.count(_._1 == 2L) > 1,
        "zh doc must chunk into multiple sentence-aligned bins on the stream")
    } finally q.stop()
  }

  test("classifier and unigram-style scoring run unchanged on a streaming Dataset") {
    implicit val sq = spark.sqlContext
    val docs = MemoryStream[(Long, String)]
    val out = graft.ops.TextAnalysis.hashClassifierScore(
      docs.toDF().toDF("doc_id", "text"), "doc_id", "text", dim = 4096)
    val q = out.writeStream.format("memory").queryName("cls_stream")
      .outputMode("append").start()
    try {
      docs.addData((1L, "the quick brown fox"), (2L, "pack my box with jugs"))
      q.processAllAvailable()
      val rows = spark.table("cls_stream")
        .select($"doc_id", $"keep").as[(Long, Int)].collect().toMap
      assert(rows.keySet == Set(1L, 2L))
      assert(rows.values.forall(k => k == 0 || k == 1))
    } finally q.stop()
  }

  test("stream-stream attribution join: views land in the window after their purchase") {
    implicit val sq = spark.sqlContext
    val purchases = MemoryStream[(Long, java.sql.Timestamp)]
    val views = MemoryStream[(Long, java.sql.Timestamp)]
    val out = graft.ops.IntervalJoin.streamAttribution(
      purchases.toDF().toDF("purchase_id", "p_ts"),
      views.toDF().toDF("view_id", "v_ts"),
      "p_ts", "v_ts", windowMs = 60000L, delay = "10 seconds")
    val q = out.writeStream.format("memory").queryName("attribution")
      .outputMode("append").start()
    try {
      purchases.addData((100L, ts("2024-01-01 00:10:00")))
      views.addData(
        (1L, ts("2024-01-01 00:09:59")), // before the purchase -> no match
        (2L, ts("2024-01-01 00:10:30")), // inside the 60s window
        (3L, ts("2024-01-01 00:11:00")), // boundary-inclusive
        (4L, ts("2024-01-01 00:11:01"))) // past the window -> no match
      q.processAllAvailable()
      // advance both watermarks so the joined rows finalize into append
      purchases.addData((999L, ts("2024-01-01 01:00:00")))
      views.addData((999L, ts("2024-01-01 01:00:00")))
      q.processAllAvailable()
      val got = spark.table("attribution")
        .where($"purchase_id" === 100L)
        .select($"view_id").as[Long].collect().sorted
      assert(got.toSeq === Seq(2L, 3L),
        "only in-window views attribute to the purchase")
    } finally q.stop()
  }

  test("streaming HLL: the register sketch maintains itself as a streaming agg, converging to the batch sketch") {
    // hllRegisters is a pure distributive agg (groupBy(register).max), so
    // Structured Streaming maintains it incrementally in complete mode —
    // the live corpus-profile counter, no custom state store needed. The
    // zero-fill spine is batch-side cosmetics; the streaming query runs
    // the raw agg and the assertion zero-fills.
    implicit val sq = spark.sqlContext
    val values = MemoryStream[String]
    val agg = values.toDF().toDF("v")
      .selectExpr(s"${graft.ops.PortableHash.sparkStringHash("v")} AS h")
      .selectExpr(s"h % ${graft.ops.Stats.HllM} AS register",
        s"cast(IF(h div ${graft.ops.Stats.HllM} = 0, ${graft.ops.Stats.HllW + 1}, " +
          s"${graft.ops.Stats.HllW + 1} - length(bin(h div ${graft.ops.Stats.HllM}))) AS INT) AS rho")
      .groupBy("register").agg(max($"rho").as("max_rho"))
    val q = agg.writeStream.format("memory").queryName("hll_stream")
      .outputMode("complete").start()
    try {
      values.addData((1 to 400).map(i => s"u$i"): _*)
      q.processAllAvailable()
      values.addData((300 to 700).map(i => s"u$i"): _*)
      q.processAllAvailable()
      val streamed = spark.table("hll_stream")
        .as[(Long, Int)].collect().toMap.withDefaultValue(0)
      val batch = graft.ops.Stats.hllRegisters(
        (1 to 700).map(i => s"u$i").toDF("v"), "v")
        .as[(Long, Int)].collect().toMap
      assert((0L until 64L).forall(r => streamed(r) == batch(r)),
        "incrementally-maintained registers = batch sketch of everything seen")
    } finally q.stop()
  }

  test("streaming judge analytics: pair-grain aggs maintain themselves in complete mode") {
    // winRate and positionBias are distributive pair/model-grain
    // aggregations (counts and half-win sums; the milli division is a
    // post-agg projection), so Structured Streaming maintains them
    // incrementally in complete mode — the live arena leaderboard, the
    // sketch-family precedent. btScores stays BATCH-ONLY by design:
    // its fixed-iteration MM re-joins the aggregated pair table
    // iteratively, which complete mode cannot express — run it on the
    // maintained pair table at read time instead.
    implicit val sq = spark.sqlContext
    val matches = MemoryStream[(Long, String, String, String)]
    val src = matches.toDF().toDF("doc_id", "model_a", "model_b", "winner")
    val wr = graft.ops.Judge.winRate(src, "model_a", "model_b", "winner")
      .writeStream.format("memory").queryName("judge_wr_stream")
      .outputMode("complete").start()
    val pb = graft.ops.Judge.positionBias(src, "model_a", "model_b", "winner")
      .writeStream.format("memory").queryName("judge_pb_stream")
      .outputMode("complete").start()
    try {
      val first = Seq(
        (1L, "x", "y", "x"), (2L, "x", "y", "tie"), (3L, "y", "z", "y"))
      val second = Seq(
        (4L, "y", "x", "y"), (5L, "x", "z", "x"),
        (6L, "z", "y", "tie (bothbad)"), (7L, "x", "x", "x"))
      matches.addData(first: _*)
      wr.processAllAvailable(); pb.processAllAvailable()
      matches.addData(second: _*)
      wr.processAllAvailable(); pb.processAllAvailable()
      val all = (first ++ second)
        .toDF("doc_id", "model_a", "model_b", "winner")
      val wrStream = spark.table("judge_wr_stream")
        .as[(String, String, Long, Long)].collect().toSet
      val wrBatch = graft.ops.Judge.winRate(all, "model_a", "model_b", "winner")
        .as[(String, String, Long, Long)].collect().toSet
      assert(wrStream === wrBatch,
        "incrementally-maintained win-rate matrix = batch of everything seen")
      val pbStream = spark.table("judge_pb_stream")
        .as[(String, Long, Long, Long, Long, Long)].collect().toSet
      val pbBatch = graft.ops.Judge.positionBias(all, "model_a", "model_b", "winner")
        .as[(String, Long, Long, Long, Long, Long)].collect().toSet
      assert(pbStream === pbBatch,
        "incrementally-maintained position-bias report = batch of everything seen")
    } finally { wr.stop(); pb.stop() }
  }

  test("streaming trajectory stats: episode agg maintains itself; policy report reads it") {
    // Spark cannot chain two streaming aggregations, so the pinned
    // split is: episodeAgg (one distributive agg) maintains itself in
    // complete mode, and statsOfEpisodes rolls the maintained table up
    // to |policies| rows at read time — the btScores-over-the-
    // maintained-pair-table convention. trajReturns and trajAdvantage
    // stay BATCH-ONLY by design: an episode's return is undefined
    // until the episode closes (documented in ops/Trajectory).
    implicit val sq = spark.sqlContext
    val steps = MemoryStream[(Long, String, Long)]
    val q = graft.ops.Trajectory.episodeAgg(
      steps.toDF().toDF("traj", "policy", "r"), "traj", "policy", "r")
      .writeStream.format("memory").queryName("traj_stream")
      .outputMode("complete").start()
    try {
      val first = Seq((1L, "a", 100L), (1L, "a", -300L), (3L, "b", -10L))
      val second = Seq((2L, "a", 50L), (3L, "b", -10L), (3L, "b", -10L))
      steps.addData(first: _*); q.processAllAvailable()
      steps.addData(second: _*); q.processAllAvailable()
      val streamed = graft.ops.Trajectory.statsOfEpisodes(
        spark.table("traj_stream"))
        .as[(String, Long, Long, Long, Long)].collect().toSet
      val batch = graft.ops.Trajectory.trajStats(
        (first ++ second).toDF("traj", "policy", "r"), "traj", "policy", "r")
        .as[(String, Long, Long, Long, Long)].collect().toSet
      assert(streamed === batch,
        "read-time rollup of the maintained episode table = batch of everything seen")
    } finally q.stop()
  }

  test("streaming RM calibration and fertility report maintain themselves in complete mode") {
    // both are single-level distributive aggs (bucket/language counts
    // and sums; the milli divisions are post-agg projections) — the
    // live RM-trust and tokenizer-efficiency dashboards. passAtK is
    // the chained-agg case: its per-prompt (n, c) level would maintain
    // and the per-k rollup reads it (the trajectory episodeAgg
    // convention); not re-pinned here.
    implicit val sq = spark.sqlContext
    val pairs = MemoryStream[(Long, Long)]
    val rm = graft.ops.Preference.rmCalibration(
      pairs.toDF().toDF("sc", "sr"), "sc", "sr")
      .writeStream.format("memory").queryName("rm_stream")
      .outputMode("complete").start()
    val docs = MemoryStream[(String, String)]
    val fert = graft.ops.Bpe.bpeFertility(
      docs.toDF().toDF("text", "lang"), "text", "lang")
      .writeStream.format("memory").queryName("fert_stream")
      .outputMode("complete").start()
    try {
      val p1 = Seq((1500L, 1000L), (1000L, 1000L), (900L, 2000L))
      val p2 = Seq((5000L, 1000L), (1200L, 1100L))
      pairs.addData(p1: _*); rm.processAllAvailable()
      pairs.addData(p2: _*); rm.processAllAvailable()
      val rmStream = spark.table("rm_stream")
        .as[(Long, Long, Long)].collect().toSet
      val rmBatch = graft.ops.Preference.rmCalibration(
        (p1 ++ p2).toDF("sc", "sr"), "sc", "sr")
        .as[(Long, Long, Long)].collect().toSet
      assert(rmStream === rmBatch)

      val d1 = Seq(("the thing", "en"), ("rest and motion", "en"))
      val d2 = Seq(("more of the thing", "en"), ("", "zz"))
      docs.addData(d1: _*); fert.processAllAvailable()
      docs.addData(d2: _*); fert.processAllAvailable()
      val fStream = spark.table("fert_stream")
        .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
      val fBatch = graft.ops.Bpe.bpeFertility(
        (d1 ++ d2).toDF("text", "lang"), "text", "lang")
        .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
      assert(fStream === fBatch)
    } finally { rm.stop(); fert.stop() }
  }

  test("streaming DPO margin report maintains itself in complete mode") {
    // one distributive bucket agg over a stateless margin projection —
    // the live DPO-health dashboard. The round-19 siblings pin their
    // stances elsewhere: trajGae is batch-only like trajReturns (an
    // advantage is undefined until the episode closes), kappa and
    // btConvergence chain aggregations/iterations complete mode cannot
    // express — run them on the landed table.
    implicit val sq = spark.sqlContext
    val pairs = MemoryStream[(Long, Long, Long, Long, Long)]
    val q = graft.ops.Preference.dpoMarginReport(
      pairs.toDF().toDF("id", "lpcn", "lpcr", "lprn", "lprr"),
      "id", "lpcn", "lpcr", "lprn", "lprr")
      .writeStream.format("memory").queryName("dpo_stream")
      .outputMode("complete").start()
    try {
      val b1 = Seq((1L, -100L, -300L, -900L, -400L), // margin +... signed
        (2L, -500L, -500L, -700L, -700L), // exact zero -> bin -1
        (3L, -2000L, -100L, -100L, -900L)) // strongly negative
      val b2 = Seq((4L, -50L, -4000L, -900L, -800L),
        (5L, -10L, -20L, -30L, -35L))
      pairs.addData(b1: _*); q.processAllAvailable()
      pairs.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("dpo_stream")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val batch = graft.ops.Preference.dpoMarginReport(
        (b1 ++ b2).toDF("id", "lpcn", "lpcr", "lprn", "lprr"),
        "id", "lpcn", "lpcr", "lprn", "lprr")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming NLL report maintains itself in complete mode; emF1 runs stateless") {
    // nllReport is one distributive policy agg (the mean division is
    // a post-agg projection) — the live eval-loss dashboard next to
    // the KL report. The round-20 siblings pin their stances here by
    // omission: majorityVote and kappaWeighted CHAIN aggregations
    // complete mode cannot express (run them on the landed table,
    // the passAtK convention), and emF1/overlapNgram are stateless
    // scans — the chat-family class, checked below.
    implicit val sq = spark.sqlContext
    val lps = MemoryStream[(String, Long)]
    val q = graft.ops.PolicyOpt.nllReport(
      lps.toDF().toDF("policy", "lp"), "policy", "lp")
      .writeStream.format("memory").queryName("nll_stream")
      .outputMode("complete").start()
    try {
      val b1 = Seq(("p", -500L), ("p", -3500L), ("q", 7L))
      val b2 = Seq(("p", 5L), ("p", -1000L), ("q", -10L))
      lps.addData(b1: _*); q.processAllAvailable()
      lps.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("nll_stream")
        .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
      val batch = graft.ops.PolicyOpt.nllReport(
        (b1 ++ b2).toDF("policy", "lp"), "policy", "lp")
        .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()

    val answers = MemoryStream[(Long, String, String)]
    val em = graft.ops.AnswerScore.emF1(
      answers.toDF().toDF("id", "pred", "gold"), "id", "pred", "gold")
      .writeStream.format("memory").queryName("em_stream")
      .outputMode("append").start()
    try {
      val rows = Seq((1L, "The Paris!", "paris"), (2L, "x y", "x z"))
      answers.addData(rows: _*); em.processAllAvailable()
      val streamed = spark.table("em_stream")
        .select("qid", "em_milli", "f1_milli")
        .as[(Long, Long, Long)].collect().toSet
      val batch = graft.ops.AnswerScore.emF1(
        rows.toDF("id", "pred", "gold"), "id", "pred", "gold")
        .select("qid", "em_milli", "f1_milli")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed === batch)
    } finally em.stop()
  }

  test("streaming log-quantile sketch: bucket counters maintain themselves as a streaming agg") {
    // Same property as the HLL test for the quantile rung: the bucket
    // agg is distributive, so complete mode converges to the batch
    // sketch — the always-on per-shard percentile profile.
    implicit val sq = spark.sqlContext
    val values = MemoryStream[Double]
    val agg = values.toDF().toDF("value")
      .selectExpr("cast(cast(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v100")
      .selectExpr(
        "cast(IF(v100 = 0, 0, IF(v100 > 0, length(bin(v100)), -length(bin(-v100)))) AS INT) AS bucket",
        "v100")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum($"v100").as("sum100"))
    val q = agg.writeStream.format("memory").queryName("lq_stream")
      .outputMode("complete").start()
    try {
      values.addData((1 to 500).map(_ * 0.73): _*)
      q.processAllAvailable()
      values.addData((1 to 300).map(_ * 2.11): _*)
      q.processAllAvailable()
      val streamed = spark.table("lq_stream")
        .as[(Int, Long, Long)].collect().toSet
      val batch = graft.ops.Stats.logQuantileSketch(
        ((1 to 500).map(_ * 0.73) ++ (1 to 300).map(_ * 2.11))
          .map(Tuple1(_)).toDF("value"), "value")
        .as[(Int, Long, Long)].collect().toSet
      assert(streamed === batch,
        "incrementally-maintained bucket counters = batch sketch")
    } finally q.stop()
  }
}
