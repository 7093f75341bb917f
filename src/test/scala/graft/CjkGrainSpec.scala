package graft

import graft.ops.{TextAnalysis, WordGrain}
import org.apache.spark.sql.functions._

/** Pins the cjk-auto word grain ([[TextAnalysis.routedTokensSpark]] and
  * its consumers): script-dominance routing, per-codepoint
  * tokenization on unsegmented text, and — the reason the grain exists
  * — that the whitespace form PROVABLY returns n_words = 1 on a zh
  * fixture where the routed form counts real tokens.
  */
class CjkGrainSpec extends SparkSpec {
  import spark.implicits._

  // routedTokensSpark emits the graft_routed_tokens kernel (round 13),
  // so direct expr() uses need the functions registered up front
  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.functions.VectorFunctions.ensureRegistered(spark)
  }

  private val zh = "这是一个没有空格的中文句子"         // 13 Han codepoints, no spaces
  private val en = "plain english words only"

  test("zh fixture: whitespace grain returns n_words = 1, routed grain counts codepoints") {
    val df = Seq((1L, zh)).toDF("doc_id", "text")
    val ws = TextAnalysis.gopherRules(df, "doc_id", "text", minWords = 2)
      .select($"n_words").as[Int].head()
    assert(ws == 1, s"whitespace grain must see ONE word on unsegmented zh, got $ws")
    val routed = TextAnalysis.gopherRules(df, "doc_id", "text", minWords = 2,
        wordGrain = WordGrain.CjkAuto)
      .select($"n_words").as[Int].head()
    assert(routed == zh.length, s"routed grain must count codepoints, got $routed")
    // and the minWords rule now does real work on the zh row
    val keep = TextAnalysis.gopherRules(df, "doc_id", "text", minWords = 2,
        wordGrain = WordGrain.CjkAuto).select($"r_words").as[Int].head()
    assert(keep == 1)
  }

  test("routing: english rows keep the exact whitespace tokenization; latin runs inside zh stay units") {
    val df = Seq((1L, en), (2L, s"${zh}abc$zh")).toDF("doc_id", "text")
    val toks = df.select($"doc_id",
        expr(TextAnalysis.routedTokensSpark("text", keepEmpties = true)).as("t"))
      .as[(Long, Seq[String])].collect().toMap
    assert(toks(1L) == en.split(' ').toSeq, "non-dominated rows must keep the ws grain")
    // 26 Han codepoints + the embedded ascii run as ONE token
    assert(toks(2L).size == 2 * zh.length + 1)
    assert(toks(2L).contains("abc"))
  }

  test("dominance boundary: >= half of non-space chars, and empty/ascii-only rows never route") {
    // exactly half: 2 cjk, 2 ascii, no space -> routes (>= semantics)
    val half = Seq((1L, "中文ab")).toDF("doc_id", "text")
      .select(expr(TextAnalysis.routedTokensSpark("text", keepEmpties = true)).as("t"))
      .as[Seq[String]].head()
    assert(half == Seq("中", "文", "ab"))
    // below half: 1 cjk, 3 ascii -> ws grain (one token, split on space)
    val below = Seq((1L, "中abc")).toDF("doc_id", "text")
      .select(expr(TextAnalysis.routedTokensSpark("text", keepEmpties = true)).as("t"))
      .as[Seq[String]].head()
    assert(below == Seq("中abc"))
    // empty and whitespace-only: presence guard keeps the [''] ws shape
    val degenerate = Seq((1L, ""), (2L, "  ")).toDF("doc_id", "text")
      .select($"doc_id",
        expr(TextAnalysis.routedTokensSpark("text", keepEmpties = true)).as("t"))
      .as[(Long, Seq[String])].collect().toMap
    assert(degenerate(1L) == Seq(""))
    assert(degenerate(2L) == Seq("", "", ""))
  }

  test("tfidf cjk-auto: routed rows get real per-codepoint keywords; ws grain sees one tf=1 term") {
    val docs = Seq((1L, zh + zh), (2L, en), (3L, "词只出现一次")).toDF("doc_id", "text")
    val ws = TextAnalysis.tfidfKeywords(docs, "doc_id", "text", k = 3)
      .where($"doc_id" === 1L).select($"keyword", $"tf").as[(String, Long)].collect()
    assert(ws.toSeq === Seq((zh + zh, 1L)),
      "ws grain must collapse the unsegmented doc to ONE tf=1 term")
    val routed = TextAnalysis.tfidfKeywords(docs, "doc_id", "text", k = 3,
        wordGrain = WordGrain.CjkAuto)
      .where($"doc_id" === 1L).select($"keyword", $"tf").as[(String, Long)].collect()
    assert(routed.nonEmpty && routed.forall { case (kw, tf) =>
      kw.length == 1 && tf >= 2L },
      s"routed keywords must be codepoint terms with real tf, got ${routed.toSeq}")
  }

  test("unigram cjk-auto: codepoint vocabulary scores zh docs; ws grain makes them all OOV") {
    val ref = Seq((1L, zh), (2L, zh + "的"), (3L, "共通的字")).toDF("doc_id", "text")
    val score = Seq((10L, zh)).toDF("doc_id", "text")
    val ws = TextAnalysis.unigramScore(score, ref, "doc_id", "text", vocab = 100)
      .select($"oov_ratio").as[Double].head()
    // ws grain: doc 10's single whole-document token only matches ref
    // doc 1's identical whole-document token — but that IS in-vocab
    val routed = TextAnalysis.unigramScore(score, ref, "doc_id", "text",
        vocab = 100, wordGrain = WordGrain.CjkAuto)
      .select($"n_tokens", $"oov_ratio").as[(Long, Double)].head()
    assert(routed._1 == zh.length.toLong,
      s"routed grain must score per codepoint, got n_tokens=${routed._1}")
    assert(routed._2 == 0.0, "every codepoint of doc 10 appears in the routed vocab")
    assert(ws == 0.0 || ws == 1.0, "ws grain is all-or-nothing on unsegmented docs")
  }

  test("bm25 cjk-auto: single-codepoint Han terms retrieve zh docs; ws grain retrieves nothing") {
    val docs = Seq(
      (1L, zh), (2L, zh + zh), (3L, en), (4L, "词只出现一次")
    ).toDF("doc_id", "text")
    val routed = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      terms = Seq("中", "一"), k = 10, wordGrain = WordGrain.CjkAuto)
      .select($"doc_id").as[Long].collect().toSet
    assert(routed.nonEmpty && routed.subsetOf(Set(1L, 2L, 4L)),
      s"Han terms must hit only the zh docs, got $routed")
    val ws = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      terms = Seq("中", "一"), k = 10)
      .select($"doc_id").as[Long].collect()
    assert(ws.isEmpty, "on the ws grain every zh doc is one token - tf must be 0 corpus-wide")
  }

  test("minhash keeper cjk-auto: routed shingles see unsegmented near-dups the ws grain is blind to") {
    val zhA = "这是一个没有空格的中文句子在这里继续延长内容"
    val zhB = zhA + "尾"                      // near-dup: one extra codepoint
    val docs = Seq((1L, zhA), (2L, zhB), (3L, en + " padded out to length"))
      .toDF("doc_id", "text")
    // ws grain: each zh doc is ONE token -> no 3-shingles -> EXCLUDED
    val ws = graft.ops.Dedup.minhashDedupKeepers(docs, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(!ws.contains(1L) && !ws.contains(2L),
      s"ws keeper must be blind to unsegmented docs, got $ws")
    // routed grain: codepoint 3-shingles -> both enter, near-dups collapse
    val routed = graft.ops.Dedup.minhashDedupKeepers(docs, "doc_id", "text",
        wordGrain = WordGrain.CjkAuto)
      .select($"doc_id", $"keep_id").as[(Long, Long)].collect().toMap
    assert(routed.keySet == Set(1L, 2L, 3L), s"routed keeper must cover all docs: $routed")
    assert(routed(2L) == 1L, s"the zh near-dup must collapse to its keeper: $routed")
    assert(routed(3L) == 3L, "the unrelated english doc keeps itself")
  }

  test("sibling entry points honor the routed grain: bloom/streaming guards, components, soft dedup, DSIR paths") {
    val zhA = "这是一个没有空格的中文句子在这里继续延长内容"
    val zhB = zhA + "尾"
    val en1 = "plain english filler text that keeps going for a while here"
    val docs = Seq((1L, zhA), (2L, zhB), (3L, en1), (4L, "短")).toDF("doc_id", "text")
    val bench = Seq((100L, zhA)).toDF("doc_id", "text")

    // decontamination: bloom variant must equal the exact guard on the
    // routed grain (its documented identical-output contract), and both
    // must DROP the zh-contaminated doc the ws guard is blind to
    val exact = graft.ops.Decontaminate.cleanDocs(docs, bench,
      "doc_id", "text", wordGrain = WordGrain.CjkAuto)
      .select($"doc_id").as[Long].collect().toSet
    val bloom = graft.ops.Decontaminate.cleanDocsBloom(docs, bench,
      "doc_id", "text", wordGrain = WordGrain.CjkAuto)
      .select($"doc_id").as[Long].collect().toSet
    assert(exact == bloom, s"bloom must equal exact on the routed grain: $exact vs $bloom")
    assert(!exact.contains(1L) && !exact.contains(2L),
      s"routed shingles must drop the contaminated zh docs: $exact")
    assert(exact.contains(3L) && exact.contains(4L))
    val ws = graft.ops.Decontaminate.cleanDocs(docs, bench, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(ws.contains(1L), "the ws guard is blind to the unsegmented overlap")

    // components + soft dedup: the zh near-dup pair forms one component
    // with weight 1/2; the english singleton keeps weight 1
    val w = graft.ops.Dedup.softDedupWeights(docs, "doc_id", "text",
        wordGrain = WordGrain.CjkAuto)
      .select($"doc_id", $"weight").as[(Long, Double)].collect().toMap
    assert(w(1L) == 0.5 && w(2L) == 0.5, s"zh near-dups must share mass: $w")
    assert(w(3L) == 1.0 && w(4L) == 1.0)

    // DSIR: the declarative path must agree with the compiled fast path
    // on the routed grain (same surrogate weights, same ordering)
    val target = expr("doc_id <= 2")
    val slow = graft.ops.Dsir.select(docs, "doc_id", "text", target, n = 4,
        wordGrain = WordGrain.CjkAuto)
      .select($"doc_id", $"n_grams", $"w_sum", $"rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    val fast = graft.ops.Dsir.selectFast(docs, "doc_id", "text", target, n = 4,
        wordGrain = WordGrain.CjkAuto)
      .select($"doc_id", $"n_grams", $"w_sum", $"rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(slow == fast, s"declarative and fast DSIR must agree on the routed grain:\n$slow\n$fast")
    assert(fast.exists(_._3 > 0L), "target-like docs must score positive")
  }

  test("grain typos fail fast at every entry point; exploded ≡ local repetition on the routed grain") {
    val docs = Seq((1L, zh + zh), (2L, "looped looped looped words here")).toDF("doc_id", "text")
    // a typo'd grain must throw, never silently run the ws grain it was
    // meant to replace: the ops take a WordGrain, so a typo can only
    // arrive as text, through the one grain parser
    for (bad <- Seq("cjk_auto", "cjk", "bytes")) {
      assert(intercept[IllegalArgumentException] {
        graft.ops.Dedup.minhashSignatures(docs, "doc_id", "text",
          wordGrain = WordGrain(bad)).collect()
      }.getMessage.contains("'cjk-auto'"), s"'$bad' must fail fast")
    }
    // the OOM-safe exploded repetition variant matches its row-local
    // sibling on the routed grain (they share one oracle)
    val local = TextAnalysis.repetitionSignalsLocal(docs, "doc_id", "text",
        wordGrain = WordGrain.CjkAuto)
      .as[(Long, Double, Double)].collect().toSet
    val exploded = TextAnalysis.repetitionSignals(docs, "doc_id", "text",
        wordGrain = WordGrain.CjkAuto)
      .as[(Long, Double, Double)].collect().toSet
    assert(local == exploded, s"exploded and local must agree:\n$local\n$exploded")
    assert(local.exists(_._1 == 1L), "the unsegmented doc must be scored on the routed grain")
  }

  test("chunk cjk-auto: windows are cut in routed tokens; manifest formula matches the exploded grain") {
    // 13 Han codepoints, size=4/stride=4 -> chunks of 4,4,4,1; the
    // latin doc chunks on ws WORDS under the routed grain (the 'token'
    // grain would count the apostrophe-free punctuation separately)
    val docs = Seq((1L, zh), (2L, "five plain words right here")).toDF("doc_id", "text")
    val ch = TextAnalysis.chunkDocuments(docs, "doc_id", "text",
      size = 4, stride = 4, grain = WordGrain.CjkAuto)
      .select($"doc_id", $"chunk_idx", $"n_tokens").as[(Long, Int, Long)].collect()
    val zhChunks = ch.filter(_._1 == 1L).sortBy(_._2).map(_._3).toSeq
    assert(zhChunks == Seq(4L, 4L, 4L, 1L), s"routed windows wrong: $zhChunks")
    val enChunks = ch.filter(_._1 == 2L).sortBy(_._2).map(_._3).toSeq
    assert(enChunks == Seq(4L, 1L), s"ws-routed latin windows wrong: $enChunks")
    // manifest closed form (count-only routed kernel) ≡ exploded grain
    val m = TextAnalysis.chunkManifest(docs, "doc_id", "text",
      size = 4, stride = 4, grain = WordGrain.CjkAuto).head()
    assert(m.getLong(0) == ch.length.toLong, "n_chunks must match the exploded grain")
    assert(m.getLong(1) == 2L)
    assert(m.getLong(3) == ch.count(_._3 < 2).toLong, "n_short must match the exploded grain")
    // hash-embed rides the same routed windows: one vector per chunk
    val emb = TextAnalysis.hashEmbedChunks(docs, "doc_id", "text",
      size = 4, stride = 4, dim = 8, grain = WordGrain.CjkAuto).collect()
    assert(emb.length == ch.length, "hash-embed must cut the same routed windows")
  }

  test("sentences: full-width terminators break WITHOUT whitespace; runs/quotes/ellipsis boundary cases") {
    def sents(text: String): Seq[String] = {
      val out = TextAnalysis.sentences(
          Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text")
        .orderBy($"sent_idx").select($"sentence").as[String].collect().toSeq
      out
    }
    // the round-13 gap: no inter-sentence whitespace, ASCII rule blind
    assert(sents("第一句。第二句！第三句？") ==
      Seq("第一句。", "第二句！", "第三句？"))
    // a terminator RUN is one boundary, not one per char
    assert(sents("真的吗？！当然。") == Seq("真的吗？！", "当然。"))
    // closing quote rides with its sentence
    assert(sents("他说「你好。」然后走了。") ==
      Seq("他说「你好。」", "然后走了。"))
    // ellipsis terminates; trailing text still a sentence
    assert(sents("等等…好吧。") == Seq("等等…", "好吧。"))
    // mixed corpus: ASCII rule still requires whitespace (no mid-word
    // splits on "3.5"), full-width rule fires in the same doc
    assert(sents("Version 3.5 shipped. 很好。真的") ==
      Seq("Version 3.5 shipped.", "很好。", "真的"))
    // whitespace AFTER a full-width terminator is consumed, not leaked
    assert(sents("你好。 world. done") == Seq("你好。", "world.", "done"))
    // ASCII-only text: behavior unchanged from the pre-r14 rule
    assert(sents("One. Two!  Three? Four") ==
      Seq("One.", "Two!", "Three?", "Four"))
  }

  test("chunkBySentences: prefix-sum bins never split a sentence; zh leg gets real units and budgets") {
    // en doc: sentences of 2/2/2 tokens (token grain counts the
    // terminator), size=4 -> before = 0,2,4 -> chunks 0,0,1
    val en = Seq((1L, "one two. three four. five six.")).toDF("doc_id", "text")
    val got = TextAnalysis.chunkBySentences(en, "doc_id", "text", size = 4)
      .orderBy($"chunk_idx")
      .select($"chunk_idx", $"n_sentences", $"n_tokens", $"chunk_text")
      .as[(Int, Long, Long, String)].collect().toSeq
    assert(got.map(_._1) == Seq(0, 1))
    assert(got.map(_._2) == Seq(2L, 1L), s"2+1 sentences per bin: $got")
    assert(got.head._4 == "one two. three four." && got(1)._4 == "five six.")
    // an over-budget sentence owns its bin, never splits
    val big = Seq((1L, "a b c d e f g h. tiny one.")).toDF("doc_id", "text")
    val g2 = TextAnalysis.chunkBySentences(big, "doc_id", "text", size = 4)
      .orderBy($"chunk_idx").select($"chunk_text").as[String].collect().toSeq
    assert(g2 == Seq("a b c d e f g h.", "tiny one."))
    // zh: full-width boundaries + routed budget — 3 sentences of 4
    // routed tokens each (3 han + terminator), size=8 -> chunks 0,0,1;
    // pre-r14 this doc was ONE sentence and ONE chunk
    val zhDoc = Seq((1L, "第一句话。第二句话。第三句话。")).toDF("doc_id", "text")
    val g3 = TextAnalysis.chunkBySentences(zhDoc, "doc_id", "text",
        size = 8, grain = WordGrain.CjkAuto)
      .orderBy($"chunk_idx")
      .select($"chunk_idx", $"n_sentences", $"n_tokens").as[(Int, Long, Long)]
      .collect().toSeq
    assert(g3 == Seq((0, 2L, 10L), (1, 1L, 5L)), s"zh bins wrong: $g3")
    // grain typo fails fast, and the chunkers take only scalar grains
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.chunkBySentences(zhDoc, "doc_id", "text", grain = WordGrain.scalar("cjk"))
    }
    assert(e.getMessage.contains("grain"))
  }

  test("sentence-chunk kernel ≡ relational window construction on fixtures + mixed-script fuzz") {
    val fixtures = Seq(
      1L -> "one two. three four. five six.",
      2L -> "第一句话。第二句话。第三句话。",
      3L -> "a b c d e f g h. tiny one.",
      4L -> "no terminators at all here",
      5L -> "", 6L -> "   ",
      7L -> "Mixed start. 然后中文。tail",
      8L -> "他说「你好。」然后走了。等等…好吧。",
      9L -> "Spaces.   After!  Terminators? yes.")
    val alphabet = "ab cd. 中文。！？…」the of x\n\t"
    val fuzz = (1 to 200).map { i =>
      var x = i.toLong; val sb = new StringBuilder
      for (_ <- 0 until 60) {
        x = x * 6364136223846793005L + 1442695040888963407L
        sb.append(alphabet(((x >>> 33) % alphabet.length).toInt))
      }
      (i + 100L) -> sb.toString
    }
    val docs = (fixtures ++ fuzz).toDF("doc_id", "text")
    for (grain <- Seq(WordGrain.Ws, WordGrain.CjkAuto); size <- Seq(4, 16)) {
      val k = TextAnalysis.chunkBySentences(docs, "doc_id", "text", size, grain)
        .collect().map(r => (r.getLong(0), r.getInt(1)) ->
          (r.getLong(2), r.getLong(3), r.getString(4))).toMap
      val rel = TextAnalysis.chunkBySentencesRelational(
          docs, "doc_id", "text", size, grain)
        .collect().map(r => (r.getLong(0), r.getInt(1)) ->
          (r.getLong(2), r.getLong(3), r.getString(4))).toMap
      assert(k == rel, s"kernel != relational at grain=$grain size=$size")
    }
  }
}
