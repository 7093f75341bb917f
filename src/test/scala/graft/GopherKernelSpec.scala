package graft

import graft.ops.{TextAnalysis, WordGrain}
import org.apache.spark.sql.DataFrame

/** Bit-parity of the compiled `graft_gopher_flags` kernel against the
  * declarative HOF construction ([[TextAnalysis.gopherRulesHof]]) —
  * the DuckDB oracle only ever replays the declarative dialect, so
  * this equivalence carries the kernel's correctness. Fixtures hit
  * every rule's edges: empty/whitespace, split-with-empties, the
  * non-overlapping '...' count, codepoint-vs-UTF-16 length (emoji),
  * bullet/ellipsis LINE prefixes/suffixes, stop-hit boundaries, and
  * the inclusive BETWEEN ends; a deterministic fuzz sweep covers the
  * soup in between.
  */
class GopherKernelSpec extends SparkSpec {
  import spark.implicits._

  private def both(df: DataFrame): Unit = {
    val cols = Seq("doc_id", "n_words", "r_words", "r_mean_len", "r_symbol",
      "r_alpha", "r_stop", "r_bullet", "r_ellipsis", "keep")
    val k = TextAnalysis.gopherRules(df, "doc_id", "text", minWords = 3)
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).sortBy(_.head.toString)
    val h = TextAnalysis.gopherRulesHof(df, "doc_id", "text", minWords = 3)
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).sortBy(_.head.toString)
    assert(k.toSeq === h.toSeq, "kernel and HOF gopher must agree bit-for-bit")
  }

  test("handpicked edges: empties, double spaces, ellipses, bullets, emoji, boundaries") {
    both(Seq(
      (1L, ""),
      (2L, "   "),                                     // 4 empty words, 1 line
      (3L, "the quick  brown fox and the dog of it"),  // double space -> empty word
      (4L, "one... two...three .... ..."),             // overlapping-dot shapes
      (5L, "- bullet line\n* star line\nplain\n- another"),
      (6L, "trails off...\nand again...\nnot here"),
      (7L, "#tag # ## hash#heavy content"),
      (8L, "emoji 😀 between 🎉 words here and the of to"), // supplementary plane
      (9L, Seq.fill(3)("word").mkString(" ")),          // exactly minWords
      (10L, "the and of to be have that with"),         // all stop words
      (11L, "12345 67890 %%% ### !!!"),                 // no alpha words
      (12L, "line1\n\n\nline4"),                        // empty lines
      (13L, "a b c d e f g h i j " * 20),               // long, short words
      (14L, "wordy " + ". " * 30)                       // dot words
    ).toDF("doc_id", "text"))
  }

  test("deterministic fuzz: 300 generated texts over the gopher alphabet") {
    val alphabet = "ab #.-*\nthe of "
    def gen(seed: Long, len: Int): String = {
      var x = seed; val sb = new StringBuilder
      for (_ <- 0 until len) {
        x = x * 6364136223846793005L + 1442695040888963407L
        sb.append(alphabet(((x >>> 33) % alphabet.length).toInt))
      }
      sb.toString
    }
    both((1 to 300).map(i => (i.toLong, gen(i.toLong, 60))).toDF("doc_id", "text"))
  }

  test("cjk-auto: kernel and HOF agree on routed, mixed, and boundary fixtures") {
    val zh = "这是一个没有空格的中文句子"
    val cols = Seq("doc_id", "n_words", "r_words", "r_mean_len", "r_symbol",
      "r_alpha", "r_stop", "r_bullet", "r_ellipsis", "keep")
    val df = Seq(
      (1L, zh),                                        // pure Han, routed
      (2L, s"$zh $zh\n- $zh..."),                      // routed + lines/bullets
      (3L, "the quick brown fox and of to be have"),   // pure en, ws path
      (4L, "中文ab"),                                  // exactly half -> routed
      (5L, "中abc"),                                   // below half -> ws path
      (6L, s"${zh}abc$zh 123 #$zh..."),                // ascii run + digits + symbols
      (7L, "カタカナとひらがな"),                       // kana
      (8L, "ประโยคไทยไม่มีช่องว่าง"),                     // thai
      (9L, ""), (10L, "   "),                          // degenerate, ws shape
      (11L, "１２３４５６７８９０"),                     // fullwidth digits: NOT routed
      (12L, zh + " 😀 " + zh),                         // supplementary plane among Han
      (13L, "ພາສາລາວບໍ່ມີຊ່ອງວ່າງ"),                      // lao (r14 range add)
      (14L, "မြန်မာစာမှာစာလုံးမခွဲပါ"),                      // myanmar
      (15L, "ភាសាខ្មែរមិនមានចន្លោះ")                      // khmer
    ).toDF("doc_id", "text")
    val k = TextAnalysis.gopherRules(df, "doc_id", "text", minWords = 3,
        wordGrain = WordGrain.CjkAuto)
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).sortBy(_.head.toString)
    val h = TextAnalysis.gopherRulesHof(df, "doc_id", "text", minWords = 3,
        wordGrain = WordGrain.CjkAuto)
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).sortBy(_.head.toString)
    assert(k.toSeq === h.toSeq, "routed kernel and HOF gopher must agree bit-for-bit")
    // the exemption does real work: a routed row with enough tokens
    // passes the gate (pre-exemption it always failed mean-len + stop)
    val keep = TextAnalysis.gopherRules(df, "doc_id", "text", minWords = 3,
        wordGrain = WordGrain.CjkAuto).where("doc_id = 1").select("keep").collect().head.getInt(0)
    assert(keep === 1, "a clean routed zh row must pass the re-parameterized gate")
  }

  test("cjk-auto deterministic fuzz: 300 texts over a mixed-script alphabet") {
    val alphabet = "ab #.-*\nthe of 中文かな一二ไทยລາວမြខ្មែ"
    def gen(seed: Long, len: Int): String = {
      var x = seed; val sb = new StringBuilder
      for (_ <- 0 until len) {
        x = x * 6364136223846793005L + 1442695040888963407L
        sb.append(alphabet(((x >>> 33) % alphabet.length).toInt))
      }
      sb.toString
    }
    val df = (1 to 300).map(i => (i.toLong, gen(i.toLong, 60))).toDF("doc_id", "text")
    val cols = Seq("doc_id", "n_words", "r_words", "r_mean_len", "r_symbol",
      "r_alpha", "r_stop", "r_bullet", "r_ellipsis", "keep")
    val k = TextAnalysis.gopherRules(df, "doc_id", "text", minWords = 3,
        wordGrain = WordGrain.CjkAuto)
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).sortBy(_.head.toString)
    val h = TextAnalysis.gopherRulesHof(df, "doc_id", "text", minWords = 3,
        wordGrain = WordGrain.CjkAuto)
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).sortBy(_.head.toString)
    assert(k.toSeq === h.toSeq)
  }

  test("null text: both forms yield null flags") {
    val df = Seq((1L, Option.empty[String])).toDF("doc_id", "text")
    val k = TextAnalysis.gopherRules(df, "doc_id", "text").collect().head
    val h = TextAnalysis.gopherRulesHof(df, "doc_id", "text").collect().head
    assert(k.isNullAt(k.fieldIndex("n_words")) === h.isNullAt(h.fieldIndex("n_words")))
    assert(k.isNullAt(k.fieldIndex("keep")) === h.isNullAt(h.fieldIndex("keep")))
  }
}
