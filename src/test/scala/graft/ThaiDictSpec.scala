package graft

import graft.ops.{TextAnalysis, ThLexicon, WordGrain}
import org.apache.spark.sql.functions._

/** Pins the `thai-dict` FMM grain (round 15): the lexicon invariants at
  * maxLen 9, the compiled kernel against an independent straight-line
  * reference walk over the raw Thai word Seq, multi-codepoint planted
  * words coming back WHOLE from the vocabulary consumer (Thai words
  * average 3-5 codepoints — combining vowels/tone marks are separate
  * codepoints, so the codepoint fallback is a worse IR here than on
  * Han), and greedy longest-match preferring ประเทศไทย (9) over
  * ประเทศ (6). Cross-engine parity of the recursive CASE-ladder twin
  * is held by the `text_vocab_thaidict` oracle query.
  */
class ThaiDictSpec extends SparkSpec {
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

  /** Independent FMM reference walk (no shared structure with the
    * kernel's per-length hash probes) — the CjkDictSpec pattern.
    */
  private def refFmm(s: String): Seq[String] = {
    val out = scala.collection.mutable.Buffer[String]()
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ') i += 1
      else {
        val m = (2 to ThLexicon.maxLen)
          .withFilter(l => i + l <= s.length)
          .map(l => s.substring(i, i + l))
          .filter(ThLexicon.words.contains)
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
      .selectExpr("graft_fmm_tokens(text, false, 'thai-dict') AS t")
      .as[Seq[String]].head()

  test("lexicon invariants: 2..9 codepoints, Thai block only, no duplicates") {
    assert(ThLexicon.words.nonEmpty &&
      ThLexicon.words.size == ThLexicon.words.distinct.size)
    assert(ThLexicon.words.forall(w =>
      w.length >= 2 && w.length <= ThLexicon.maxLen && w.forall(inBlock)))
    // Thai block specifically (not just any unsegmented range)
    assert(ThLexicon.words.forall(_.forall(c => c >= 0x0E00 && c <= 0x0E7F)))
    // the long rungs the grain exists for are populated
    assert(ThLexicon.byLen(9) != null && ThLexicon.byLen(7) != null)
  }

  test("kernel FMM ≡ reference walk; greedy longest wins at depth 9") {
    val fixtures = Seq(
      "ประเทศไทยมีภาษาไทย",       // 9-cp greedy over its 6-cp prefix
      "เราชอบกินข้าวและว่ายน้ำ",  // common verbs + connective
      "โรงพยาบาลอยู่ที่ไหน",      // 9-cp word + question phrase
      "กขฆฅซฌฯ",                  // consonant soup -> codepoint fallback
      "ไทย abc ไทย",               // ascii run inside a routed row
      "ผมไปโรงเรียนทุกวัน")       // partial coverage (ทุกวัน not in lexicon)
    fixtures.foreach { s =>
      assert(kernelTokens(s) == refFmm(s), s"FMM mismatch on '$s'")
    }
    assert(kernelTokens("ประเทศไทยมีภาษาไทย") ==
      Seq("ประเทศไทย", "มี", "ภาษาไทย"))
    assert(kernelTokens("โรงพยาบาลอยู่ที่ไหน").head == "โรงพยาบาล")
  }

  test("randomized probe-path parity at depth 9: longestMatch ≡ naive walk (500 docs)") {
    val rnd = new scala.util.Random(1509)
    val ws = graft.ops.ThLexicon.words.toIndexedSeq
    val docs = (1 to 500).map { _ =>
      val sb = new StringBuilder
      (0 until rnd.nextInt(25)).foreach { _ =>
        rnd.nextInt(6) match {
          case 0 => sb ++= ws(rnd.nextInt(ws.size))
          case 1 => val w = ws(rnd.nextInt(ws.size)); sb ++= w.substring(0, 1 + rnd.nextInt(w.length - 1))
          case 2 => sb += (0x0E01 + rnd.nextInt(40)).toChar
          case 3 => sb += ' '
          case 4 => sb ++= "xy"
          case _ => sb ++= ws(rnd.nextInt(ws.size)).reverse
        }
      }
      sb.toString
    }.filter(d => d.nonEmpty && dominated(d))
    docs.foreach { s0 =>
      assert(kernelTokens(s0) == refFmm(s0), s"parity break on '$s0'")
    }
  }

  test("vocabulary 'thai-dict': planted words whole, soup falls back to codepoints") {
    val docs = Seq(
      (1L, "ประเทศไทยมีอาหารอร่อยมาก"),
      (2L, "plain english words only"),
      (3L, "เราชอบกินข้าวและว่ายน้ำและอาหาร")).toDF("doc_id", "text")
    val vocab = TextAnalysis.vocabulary(docs, "text", topV = 50,
      wordGrain = WordGrain.ThaiDict).select($"token").as[String].collect().toSet
    assert(vocab.contains("ประเทศไทย") && vocab.contains("ว่ายน้ำ") &&
      vocab.contains("อาหาร") && vocab.contains("และ"))
    // nothing was shredded: no bare combining-vowel "token" from a
    // planted word (ideographic fallback only fires on non-words)
    assert(!vocab.contains("ไทย") || !vocab.contains("ประเทศ"),
      "greedy FMM must not emit both the 9-cp word and its parts for the same text")
  }

  test("minhash keeper 'thai-dict': word-grain shingles separate what codepoint shingles merge") {
    // the zh divergence pin at the SECOND lexicon (CjkDictSpec's
    // planted case, re-instantiated for Thai): A = (ประเทศไทย
    // ว่ายน้ำ)^10 unsegmented; B changes the LAST character inside the
    // final dictionary word. At codepoint grain the distinct 3-gram
    // sets differ by a couple of windows and the pair band-collides;
    // at word grain the broken word floods the tiny distinct
    // word-shingle set with codepoint-fallback windows and the pair
    // stays apart — the shingle surface really sees Thai WORDS.
    val period = "ประเทศไทยว่ายน้ำ"
    val a = period * 10
    val b = period * 9 + "ประเทศไทยว่ายน้ะ"
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    def keepers(grain: WordGrain) = graft.ops.Dedup.minhashDedupKeepers(
        docs, "doc_id", "text", wordGrain = grain)
      .as[(Long, Long)].collect().toMap
    val auto = keepers(WordGrain.CjkAuto)
    assert(auto(2L) == 1L, s"codepoint grain must merge the pair: $auto")
    val dict = keepers(WordGrain.ThaiDict)
    assert(dict(2L) == 2L, s"word grain must keep the pair apart: $dict")
  }

  test("thai-dict registry wiring: unknown grain rejected, both dicts resolve") {
    assert(WordGrain.dict("thai-dict").lexicon eq ThLexicon)
    assert(WordGrain.dict("cjk-dict").lexicon eq graft.ops.ZhLexicon)
    assert(WordGrain.dicts == Seq(WordGrain.CjkDict, WordGrain.ThaiDict))
    intercept[IllegalArgumentException] {
      WordGrain.dict("thai_dict")
    }
    intercept[IllegalArgumentException] {
      Seq((1L, "x")).toDF("doc_id", "text")
        .selectExpr("graft_fmm_tokens(text, false, 'th-dict')").collect()
    }
  }
}
