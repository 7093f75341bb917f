package graft

import graft.ops.{TextAnalysis, WordGrain, ZhLexicon}
import org.apache.spark.sql.functions._

/** Pins the `cjk-dict` FMM word grain: the compiled kernel
  * (`graft_fmm_tokens` / `graft_term_tf(_, 'cjk-dict')`,
  * [[graft.functions.GopherOps.fmmTokens]]) against a straight-line
  * reference walk over the same committed [[ZhLexicon]], the greedy
  * longest-match rule, the codepoint/run fallbacks, and the
  * vocabulary consumer returning planted multi-char words WHOLE. The
  * independent cross-engine twin (recursive CTE + CASE ladder) is
  * exercised by the `text_vocab_cjkdict` oracle query.
  */
class CjkDictSpec extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.functions.VectorFunctions.ensureRegistered(spark)
  }

  private val inBlock: Char => Boolean = { c =>
    graft.functions.GopherOps.cjkRanges.grouped(2).exists {
      case Array(a, b) => c >= a && c <= b
    }
  }


  /** The router's dominance rule, re-stated independently: the
    * reference walk below is the DOMINATED branch only.
    */
  private def dominated(s: String): Boolean = {
    val nb = s.count(inBlock)
    val nonSpace = s.codePointCount(0, s.length) - s.count(_ == ' ')
    nb > 0 && 2 * nb >= nonSpace
  }

  /** Independent FMM reference for DOMINATED rows: linear-scan lookup
    * over the raw word Seq (no shared data structure with the kernel's
    * per-length hash sets).
    */
  private def refFmm(s: String): Seq[String] = {
    val out = scala.collection.mutable.Buffer[String]()
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ') i += 1
      else {
        val m = (2 to ZhLexicon.maxLen)
          .withFilter(l => i + l <= s.length)
          .map(l => s.substring(i, i + l))
          .filter(ZhLexicon.words.contains)
          .sortBy(-_.length).headOption
        m match {
          case Some(w) => out += w; i += w.length
          case None if inBlock(c) => out += c.toString; i += 1
          case None =>
            val st = i
            i += 1
            while (i < s.length && s.charAt(i) != ' ' && !inBlock(s.charAt(i))) i += 1
            out += s.substring(st, i)
        }
      }
    }
    out.toSeq
  }

  private def kernelTokens(text: String): Seq[String] =
    Seq((1L, text)).toDF("doc_id", "text")
      .selectExpr("graft_fmm_tokens(text, false) AS t")
      .as[Seq[String]].head()

  test("lexicon invariants: 2..maxLen codepoints, in-block only, no duplicates") {
    assert(ZhLexicon.words.nonEmpty && ZhLexicon.words.size == ZhLexicon.words.distinct.size)
    assert(ZhLexicon.words.forall(w =>
      w.length >= 2 && w.length <= ZhLexicon.maxLen && w.forall(inBlock)))
    assert(ZhLexicon.byLen(2) != null && ZhLexicon.byLen(3) != null &&
      ZhLexicon.byLen(4) != null)
  }

  test("kernel FMM ≡ reference walk on dominated fixtures; greedy longest wins") {
    val fixtures = Seq(
      "我们的朋友在中国学习中文",            // dict words + single-char connectives
      "人工智能很重要",                      // 4-char word + fallback
      "星期天我们去图书馆",                  // 星期天 (3) must beat 星期 (2)
      "我们abc中国",                         // ascii run inside a routed row
      "我们 中国 学习",                      // spaces are separators
      "カタカナとひらがな",                  // dominated, zero dict hits -> codepoints
      "中文123中文",                         // digit run
      "我们的朋友😀中国")                    // supplementary-plane run member
    fixtures.foreach { s =>
      assert(kernelTokens(s) == refFmm(s), s"FMM mismatch on '$s'")
    }
    assert(kernelTokens("星期天我们去图书馆").contains("星期天"))
    assert(kernelTokens("人工智能很重要") == Seq("人工智能", "很", "重要"))
    assert(kernelTokens("我们的朋友在中国学习中文") ==
      Seq("我们", "的", "朋友", "在", "中国", "学习", "中文"))
  }

  test("non-dominated rows keep the exact whitespace grain, both empties conventions") {
    val s = "plain  english words "
    assert(kernelTokens(s) == Seq("plain", "english", "words"))
    val withEmpties = Seq((1L, s)).toDF("doc_id", "text")
      .selectExpr("graft_fmm_tokens(text, true) AS t").as[Seq[String]].head()
    assert(withEmpties == Seq("plain", "", "english", "words", ""))
  }

  test("graft_term_tf 'cjk-dict' ≡ explode(graft_fmm_tokens) + count") {
    val docs = Seq(
      (1L, "我们喜欢我们的中国朋友"),
      (2L, "english words english"),
      (3L, "星期天星期天图书馆")).toDF("doc_id", "text")
    val viaTf = docs.select($"doc_id",
        explode(expr("graft_term_tf(text, 'cjk-dict')")).as("p"))
      .select($"doc_id", $"p.w", $"p.tf")
      .as[(Long, String, Long)].collect().toSet
    val viaTokens = docs.select($"doc_id",
        explode(expr("graft_fmm_tokens(text, false)")).as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf"))
      .as[(Long, String, Long)].collect().toSet
    assert(viaTf == viaTokens)
    assert(viaTf.contains((1L, "我们", 2L)) && viaTf.contains((3L, "星期天", 2L)))
  }

  test("vocabulary 'cjk-dict': planted multi-char words come back whole; codepoint fallback rides along") {
    val docs = Seq(
      (1L, "我们的朋友在中国学习中文我们喜欢人工智能"),
      (2L, "plain english words only here"),
      (3L, "我们在图书馆练习普通话")).toDF("doc_id", "text")
    val vocab = TextAnalysis.vocabulary(docs, "text", topV = 50,
        wordGrain = WordGrain.CjkDict)
      .select($"token", $"cnt").as[(String, Long)].collect().toMap
    assert(vocab("我们") == 3L, s"我们 must be whole with corpus tf 3: $vocab")
    assert(vocab.contains("人工智能") && vocab.contains("图书馆") &&
      vocab.contains("普通话") && vocab.contains("中国"))
    assert(vocab.contains("的") && vocab.contains("在"),
      "undictionaried han must fall back to codepoint tokens")
    assert(vocab.contains("english"), "ws rows ride along")
    assert(!vocab.keys.exists(t => t.length > 1 && t.forall(inBlock) &&
      !ZhLexicon.words.contains(t)),
      "no multi-codepoint han token may exist outside the lexicon")
  }

  test("tfidfKeywords 'cjk-dict': zh keywords are FMM words, not codepoints") {
    val docs = Seq(
      (1L, "人工智能人工智能人工智能我们喜欢"),
      (2L, "机器学习机器学习我们在学习"),
      (3L, "plain english filler text here"),
      (4L, "more plain english filler words")).toDF("doc_id", "text")
    val kw = TextAnalysis.tfidfKeywords(docs, "doc_id", "text", k = 2,
        wordGrain = WordGrain.CjkDict)
      .select($"doc_id", $"keyword", $"rank").as[(Long, String, Int)]
      .collect().groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    assert(kw(1L).head == "人工智能",
      s"tf=3 four-codepoint word must top doc 1: ${kw(1L)}")
    assert(kw(2L).head == "机器学习", s"doc 2 keywords: ${kw(2L)}")
    // under cjk-auto the same doc keywords to single codepoints
    val auto = TextAnalysis.tfidfKeywords(docs, "doc_id", "text", k = 2,
        wordGrain = WordGrain.CjkAuto)
      .where($"doc_id" === 1L).select($"keyword").as[String].collect().toSeq
    assert(auto.forall(_.length == 1),
      s"codepoint grain keywords must be single codepoints: $auto")
  }

  test("bm25 'cjk-dict': multi-codepoint query terms retrieve; the codepoint grain cannot see them") {
    val docs = Seq(
      (1L, "人工智能改变了我们的世界因为人工智能无处不在"),
      (2L, "我们在图书馆学习但是不用电脑"),
      (3L, "plain english filler document here"),
      (4L, "another plain filler document text")).toDF("doc_id", "text")
    val dict = TextAnalysis.bm25TopK(docs, "doc_id", "text",
        terms = Seq("人工智能"), k = 5, wordGrain = WordGrain.CjkDict)
      .select($"doc_id").as[Long].collect().toSeq
    assert(dict == Seq(1L),
      s"dict grain must retrieve exactly the 人工智能 doc: $dict")
    // the codepoint grain tokenizes per char — a 4-codepoint term never
    // equals any token, tf = 0 corpus-wide, empty result
    val auto = TextAnalysis.bm25TopK(docs, "doc_id", "text",
        terms = Seq("人工智能"), k = 5, wordGrain = WordGrain.CjkAuto).count()
    assert(auto == 0L, "codepoint grain must be blind to multi-codepoint terms")
  }

  test("grain typos fail fast at the vocabulary entry point and the kernel") {
    // the vocabulary entry point takes a WordGrain, so a typo can only
    // arrive as text: through the grain parser, which names the valid
    // grains, or as a kernel literal
    val docs = Seq((1L, "我们")).toDF("doc_id", "text")
    val e1 = intercept[IllegalArgumentException] {
      TextAnalysis.vocabulary(docs, "text", wordGrain = WordGrain("cjkdict"))
    }
    assert(e1.getMessage.contains("cjk-dict"))
    val e2 = intercept[Exception] {
      docs.selectExpr("graft_term_tf(text, 'dict')").collect()
    }
    assert(e2.getMessage.contains("grain"))
  }

  // ================= round 15: the grain reaches scoring + dedup =======

  test("unigramScore 'cjk-dict': char-scrambled pseudo-words are OOV at word grain, invisible at codepoint grain") {
    // ref corpus: the 4-cp lexicon word 人工智能, repeated. Scored:
    // doc 10 = the real word; doc 11 = the SAME FOUR CHARACTERS in a
    // non-word order. Character-frequency scoring (cjk-auto) cannot
    // tell them apart (same char multiset, all in the ref vocab);
    // word-frequency scoring (cjk-dict) marks the scramble 100% OOV —
    // exactly the CCNet-style signal the dict grain exists to sharpen.
    val docs = Seq(
      (1L, "人工智能人工智能人工智能"),
      (2L, "人工智能人工智能"),
      (10L, "人工智能人工智能"),
      (11L, "智人工能智人工能")).toDF("doc_id", "text")
    def score(grain: WordGrain) = TextAnalysis.unigramScore(
        docs.where($"doc_id" >= 10), docs.where($"doc_id" < 10),
        "doc_id", "text", vocab = 100, wordGrain = grain)
      .select($"doc_id", $"oov_ratio").as[(Long, Double)].collect().toMap
    val auto = score(WordGrain.CjkAuto)
    assert(auto(10L) == 0.0 && auto(11L) == 0.0,
      s"codepoint grain sees identical char stats: $auto")
    val dict = score(WordGrain.CjkDict)
    assert(dict(10L) == 0.0 && dict(11L) == 1.0,
      s"word grain must flag the scramble fully OOV: $dict")
  }

  test("minhash keeper 'cjk-dict': word-grain shingles separate what codepoint shingles merge") {
    // A = (人工智能 公共汽车)^10 unsegmented; B = A with the LAST
    // character changed inside the final dictionary word (车 -> 东).
    // At codepoint grain the distinct 3-gram sets differ by ONE window
    // (J = 8/9) and the pair band-collides; at word grain the change
    // breaks the final word into codepoint fallbacks, flooding the
    // tiny distinct word-shingle set with new windows (J ≈ 0.33) and
    // the pair stays apart — the planted divergence pinning that the
    // dedup family really shingles WORDS under the dict grain.
    val period = "人工智能公共汽车"
    val a = period * 10
    val b = period * 9 + "人工智能公共汽东"
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    def keepers(grain: WordGrain) = graft.ops.Dedup.minhashDedupKeepers(
        docs, "doc_id", "text", wordGrain = grain)
      .as[(Long, Long)].collect().toMap
    val auto = keepers(WordGrain.CjkAuto)
    assert(auto(2L) == 1L, s"codepoint grain must merge the pair: $auto")
    val dict = keepers(WordGrain.CjkDict)
    assert(dict(2L) == 2L, s"word grain must keep the pair apart: $dict")
  }

  test("decontamination 'cjk-dict': word-shingle witness keeps char-trigram quoters, kills word-phrase leaks") {
    // bench = 3 words (11 codepoints). Corpus doc 10 embeds the whole
    // 3-WORD phrase (verbatim leak — both grains must strike it);
    // doc 11 quotes ONE word, 图书馆 = 3 chars: a matching codepoint
    // TRIGRAM (cjk-auto strikes) but only a 1-word overlap against a
    // k=3 WORD witness (cjk-dict keeps — its own 3 word-shingles all
    // miss the bench). The dict grain restores ws-grain semantics on
    // zh: k chars is not k words.
    val bench  = Seq((1L, "人工智能公共汽车图书馆")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "的人工智能公共汽车图书馆的"),
      (11L, "图书馆的朋友喜欢历史")).toDF("doc_id", "text")
    def clean(grain: WordGrain): Set[Long] = graft.ops.Decontaminate.cleanDocs(
        corpus, bench, "doc_id", "text", wordGrain = grain)
      .select("doc_id").as[Long].collect().toSet
    assert(clean(WordGrain.CjkAuto) == Set.empty[Long],
      "codepoint grain must strike both docs (shared char trigrams)")
    assert(clean(WordGrain.CjkDict) == Set(11L),
      "word grain must keep the one-word quoter and strike the phrase leak")
  }

  test("randomized probe-path parity: packed/prefix-gated longestMatch ≡ naive walk (500 docs)") {
    // seeds compose word fragments, whole words, soup chars, spaces,
    // ascii runs — every longestMatch branch (prefix miss, packed hit,
    // partial-prefix miss, end-of-string truncation) fires
    val rnd = new scala.util.Random(4215)
    val ws = graft.ops.ZhLexicon.words.toIndexedSeq
    val docs = (1 to 500).map { _ =>
      val sb = new StringBuilder
      (0 until rnd.nextInt(30)).foreach { _ =>
        rnd.nextInt(6) match {
          case 0 => sb ++= ws(rnd.nextInt(ws.size))
          case 1 => val w = ws(rnd.nextInt(ws.size)); sb ++= w.substring(0, 1 + rnd.nextInt(w.length - 1))
          case 2 => sb += (0x4E00 + rnd.nextInt(100)).toChar
          case 3 => sb += ' '
          case 4 => sb ++= "abc"
          case _ => sb ++= ws(rnd.nextInt(ws.size)).reverse
        }
      }
      sb.toString
    }.filter(d => d.nonEmpty && dominated(d))
    docs.foreach { s0 =>
      assert(kernelTokens(s0) == refFmm(s0), s"parity break on '$s0'")
    }
  }

  test("incremental near-dup at 'cjk-dict': word-grain band table round-trips with its marker") {
    // the live-crawl guard composes with the dict grain end-to-end:
    // a prior band table BUILT at cjk-dict carries the marker, a zh
    // re-crawl with crawl noise matches its original, and probing the
    // same table at cjk-auto fails fast instead of silently missing
    // a REPEATED period has few DISTINCT shingles (sets!), so tail
    // noise could displace every band's minima; 80 distinct lexicon
    // words give ~80 distinct word-shingles and the 3 junction
    // shingles the tail adds cannot flip all 4 bands
    val base = graft.ops.ZhLexicon.words.take(80).mkString
    val prior = Seq((100L, base)).toDF("doc_id", "text")
    val bands = graft.ops.Dedup.bandTable(prior, "doc_id", "text",
      wordGrain = WordGrain.CjkDict)
    assert(bands.select("grain").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("cjk-dict"))
    val newSnap = Seq(
      (1L, base + "的尾部噪声"),  // re-crawl + noise: must match 100
      (2L, "完全不同的另一篇文档内容和词汇都不一样")).toDF("doc_id", "text")
    val out = graft.ops.Dedup.incrementalNearDup(newSnap, bands,
        "doc_id", "text", wordGrain = WordGrain.CjkDict)
      .collect().map(r => r.getLong(0) -> ((Option(r.get(1)), r.getBoolean(2)))).toMap
    assert(out(1L) == ((Some(100L), false)), s"re-crawl must match: $out")
    assert(out(2L)._2, s"fresh doc must keep: $out")
    val mismatch = intercept[IllegalArgumentException] {
      graft.ops.Dedup.incrementalNearDup(newSnap, bands, "doc_id", "text",
        wordGrain = WordGrain.CjkAuto)
    }
    assert(mismatch.getMessage.contains("'cjk-dict'"))
  }

  test("shingleFloorPred 'cjk-dict' is count-only and matches the token array") {
    val docs = Seq(
      (1L, "我们的"),                 // 2 FMM tokens (我们, 的) -> below k=3
      (2L, "我们的朋友"),             // 3 tokens -> at the floor
      (3L, "one two"),                // ws fallback: 2 tokens
      (4L, "one two three four")).toDF("doc_id", "text")
    val viaPred = docs.where(org.apache.spark.sql.functions.expr(
        graft.ops.Dedup.shingleFloorPred("text", 3, WordGrain.CjkDict)))
      .select($"doc_id").as[Long].collect().toSet
    val viaArray = docs.where(
        org.apache.spark.sql.functions.expr(
          "size(graft_fmm_tokens(text, true, 'cjk-dict')) >= 3"))
      .select($"doc_id").as[Long].collect().toSet
    assert(viaPred == viaArray && viaPred == Set(2L, 4L))
  }
}
