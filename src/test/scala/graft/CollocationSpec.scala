package graft

import graft.ops.{TextAnalysis, WordGrain}

/** Pins [[TextAnalysis.collocations]] — PMI-lift collocation
  * extraction: exact lift arithmetic on a hand-computed corpus, the
  * association-vs-frequency ordering claim (a glued rare pair outranks
  * the most FREQUENT pair built from individually-common words), the
  * `minCount` hapax floor, and the grain ladder (cjk-auto character
  * pairs vs cjk-dict word pairs over the same zh text). The
  * cross-engine twin is exercised by the `text_collocations[_cjk,
  * _cjkdict]` oracle queries.
  */
class CollocationSpec extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.functions.VectorFunctions.ensureRegistered(spark)
  }

  test("exact lift values and deterministic tie order") {
    // tokens: a b a b a c -> T = 6; c(a)=3 c(b)=2 c(c)=1
    // bigrams: (a,b) x2, (a,c) x1
    // lift(a,b) = 2*6/(3*2) = 2.0; lift(a,c) = 1*6/(3*1) = 2.0 (tie)
    val df = Seq("a b", "a b", "a c").toDF("text")
    val out = TextAnalysis.collocations(df, "text", topK = 10, minCount = 1)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4)))
    assert(out.toSeq === Seq((1, "a", "b", 2L, 2.0), (2, "a", "c", 1L, 2.0)))
  }

  test("lift ranks a glued rare pair above the most frequent pair") {
    // "of the" occurs in every doc (highest raw count) but both words
    // are everywhere; "hong kong" occurs in 3 docs, always adjacent,
    // the words nowhere else -> by count "of the" wins, by lift
    // "hong kong" wins
    val common = (1 to 20).map(i => s"of the w$i of the")
    val glued = (1 to 3).map(_ => "hong kong")
    val df = (common ++ glued).toDF("text")
    val out = TextAnalysis.collocations(df, "text", topK = 5, minCount = 2)
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(out.head === ("hong", "kong"))
    // and the raw-count ranking really is inverted (the claim that
    // distinguishes this op from topNgrams)
    val byCount = TextAnalysis.topNgrams(df, "text", n = 2, topK = 1)
      .collect().map(_.getString(0))
    assert(byCount.head === "of the")
  }

  test("minCount floor drops hapax pairs") {
    // (x,y) seen once together: lift = T/1 would top the board; the
    // floor keeps it out
    val df = (Seq("x y") ++ (1 to 5).map(_ => "a b")).toDF("text")
    val out = TextAnalysis.collocations(df, "text", topK = 10, minCount = 2)
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(out.toSeq === Seq(("a", "b")))
  }

  test("cjk-auto emits character pairs, cjk-dict word pairs, over the same zh text") {
    // dominated row; FMM over ZhLexicon segments 人工智能|图书馆
    val df = Seq.fill(3)("人工智能图书馆").toDF("text")
    val auto = TextAnalysis.collocations(df, "text", topK = 10,
      minCount = 1, wordGrain = WordGrain.CjkAuto)
      .collect().map(r => (r.getString(1), r.getString(2)))
    // codepoint grain: adjacent character pairs (6 of them)
    assert(auto.contains(("人", "工")) && auto.contains(("能", "图")))
    val dict = TextAnalysis.collocations(df, "text", topK = 10,
      minCount = 1, wordGrain = WordGrain.CjkDict)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    assert(dict.toSeq === Seq(("人工智能", "图书馆", 3L)))
  }

  test("empty and sub-bigram corpora yield empty boards") {
    assert(TextAnalysis.collocations(Seq.empty[String].toDF("text"),
      "text", topK = 5, minCount = 1).count() === 0L)
    assert(TextAnalysis.collocations(Seq("solo", "", "  ").toDF("text"),
      "text", topK = 5, minCount = 1).count() === 0L)
  }
}
