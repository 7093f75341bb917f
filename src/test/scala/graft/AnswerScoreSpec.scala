package graft

import graft.ops.{AnswerScore, ScalarGrain, WordGrain}

/** Pins the answer-scoring family: SQuAD-style normalization (case,
  * ASCII punctuation, articles, whitespace), exact-match semantics,
  * the CLIPPED token-F1 arithmetic with its zero-token guards, the
  * routed cjk grain, and the clipped n-gram overlap (the
  * repeated-token case that separates clipped from naive counting).
  */
class AnswerScoreSpec extends SparkSpec {
  import spark.implicits._

  private def score(pred: String, gold: String,
                    grain: ScalarGrain = WordGrain.Ws): (Long, Long, Long, Long, Long, Long, Long) = {
    val r = AnswerScore.emF1(Seq((1L, pred, gold)).toDF("id", "p", "g"),
      "id", "p", "g", grain = grain).collect().head
    (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
      r.getLong(7), r.getLong(8)) // np, ng, em, m, p, r, f1
  }

  test("emF1: normalization — case, ASCII punctuation, articles, whitespace") {
    // 'The', '!', case and the tab all normalize away: exact match
    assert(score("The Eiffel\tTower!", "eiffel tower") ===
      ((2L, 2L, 1000L, 2L, 1000L, 1000L, 1000L)))
    // don't -> dont (punctuation DELETED, not spaced — the SQuAD rule)
    assert(score("don't", "dont")._3 === 1000L)
    // articles are dropped as TOKENS, not substrings ('theory' keeps
    // its 'the' prefix)
    assert(score("a theory", "theory")._3 === 1000L)
  }

  test("emF1: partial credit is clipped multiset F1") {
    // pred 'x y z' vs gold 'x y w q': m=2, p=2/3=666, r=2/4=500,
    // f1 = 2*2*1000 div 7 = 571
    assert(score("x y z", "x y w q") ===
      ((3L, 4L, 0L, 2L, 666L, 500L, 571L)))
    // repeated pred token clips at the gold count: 'x x x' vs 'x y':
    // m = min(3,1) = 1, p = 333, r = 500, f1 = 2000 div 5 = 400
    assert(score("x x x", "x y") === ((3L, 2L, 0L, 1L, 333L, 500L, 400L)))
    // disjoint: all zeros
    assert(score("zzz qqq", "x y") === ((2L, 2L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("emF1: zero-token guards — both empty 1000, one empty 0; NULL scores as empty") {
    assert(score("", "") === ((0L, 0L, 1000L, 0L, 1000L, 1000L, 1000L)))
    assert(score("", "x y") === ((0L, 2L, 0L, 0L, 0L, 0L, 0L)))
    assert(score("x", "") === ((1L, 0L, 0L, 0L, 0L, 0L, 0L)))
    // 'the.' normalizes to zero tokens — the all-article answer
    assert(score("the a an", "x")._1 === 0L)
    val r = AnswerScore.emF1(
      Seq((1L, Option.empty[String], Some("x"))).toDF("id", "p", "g"),
      "id", "p", "g").collect().head
    assert(r.getLong(4) === 0L && r.getLong(8) === 0L,
      "a NULL prediction scores as empty (wrong), not as a dropped row")
  }

  test("emF1: maxTokens drops rows whole with the oversized flag, NULL scores") {
    val df = Seq((1L, "a b c d e f", "a b c"), (2L, "x y", "x y"))
      .toDF("id", "p", "g")
    val m = AnswerScore.emF1(df, "id", "p", "g", maxTokens = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getLong(1) === 1L && m(1L).isNullAt(4) && m(1L).isNullAt(8),
      "six pred tokens > maxTokens=3: flagged, scores NULL")
    assert(m(2L).getLong(1) === 0L && m(2L).getLong(8) === 1000L)
  }

  test("emF1: cjk grain routes Han answers to codepoint tokens") {
    // ws grain: each side is ONE giant token -> prefix scores 0
    val ws = score("北京大学", "北京大学图书馆")
    assert(ws._4 === 0L && ws._7 === 0L, "unsegmented Han: no word overlap")
    // routed grain: codepoint tokens -> m=4, p=1000, r=4/7=571,
    // f1 = 2*4*1000 div 11 = 727
    val cjk = score("北京大学", "北京大学图书馆", grain = WordGrain.CjkAuto)
    assert(cjk === ((4L, 7L, 0L, 4L, 1000L, 571L, 727L)))
  }

  test("overlapNgram: clipped vs naive counting, both orders") {
    // cand 'w x w w' vs ref 'w x y': 1-grams cand {w:3, x:1},
    // ref {w:1, x:1} -> clipped m = 1 + 1 = 2 (naive would say 4);
    // p = 2*1000 div 4 = 500, r = 2*1000 div 3 = 666.
    // bigrams cand {w x, x w, w w}, ref {w x, x y} -> m = 1,
    // p = 333, r = 500
    val rows = AnswerScore.overlapNgram(
      Seq((1L, "w x w w", "w x y")).toDF("id", "c", "r"), "id", "c", "r")
      .collect().map(r => r.getLong(2) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .toMap
    assert(rows(1L) === ((4L, 3L, 2L, 500L, 666L)), "clipped unigram count")
    assert(rows(2L) === ((3L, 2L, 1L, 333L, 500L)), "clipped bigram count")
  }

  test("overlapNgram: empty and single-token sides hit the zero-gram guards") {
    val rows = AnswerScore.overlapNgram(
      Seq((1L, "w", "w"), (2L, "", "w x")).toDF("id", "c", "r"),
      "id", "c", "r")
      .collect().map(r => (r.getLong(0), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .toMap
    // single token: order 2 has zero grams on both sides -> all zeros
    assert(rows((1L, 1L)) === ((1L, 1L, 1L, 1000L, 1000L)))
    assert(rows((1L, 2L)) === ((0L, 0L, 0L, 0L, 0L)))
    // empty candidate: 0 totals, guarded millis
    assert(rows((2L, 1L)) === ((0L, 2L, 0L, 0L, 0L)))
    assert(rows((2L, 2L)) === ((0L, 1L, 0L, 0L, 0L)))
  }

  test("scoreNumeric: last number wins; commas, decimals and signs canonicalize to exact milli") {
    def one(pred: String, gold: String): (Long, Long, Any, Any, Long) = {
      val r = graft.ops.AnswerScore.scoreNumeric(
        Seq((1L, pred, gold)).toDF("id", "p", "g"), "id", "p", "g")
        .collect().head
      (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4), r.getLong(5))
    }
    assert(one("I think 5 plus 3... the answer is 8", "8") ===
      ((1L, 1L, 8000L, 8000L, 1000L)), "LAST number is the answer")
    assert(one("total 1,234", "1234") === ((1L, 1L, 1234000L, 1234000L, 1000L)))
    assert(one("exactly 2.50", "2.5") === ((1L, 1L, 2500L, 2500L, 1000L)))
    assert(one("result -7", "-7") === ((1L, 1L, -7000L, -7000L, 1000L)))
    assert(one("got 41", "42") === ((1L, 1L, 41000L, 42000L, 0L)))
    assert(one("no number", "42") === ((0L, 1L, null, 42000L, 0L)))
    // sub-milli truncation is toward zero on both engines
    assert(one("0.3333333", "0.333")._3 === 333L)
    assert(one("-0.3333333", "x -0.333 y")._5 === 1000L,
      "-333.3 truncates to -333 on both sides")
    // a 16+ digit 'number' is rejected, falling back to not-found
    assert(one("id 12345678901234567890 end", "42") ===
      ((0L, 1L, null, 42000L, 0L)))
    // tolerance window
    val tol = graft.ops.AnswerScore.scoreNumeric(
      Seq((1L, "3.1415", "3.14")).toDF("id", "p", "g"),
      "id", "p", "g", tolMilli = 2L).collect().head
    assert(tol.getLong(5) === 1000L, "|3141 - 3140| = 1 <= 2")
  }

  test("majorityVote: normalization merges votes; modal answer scores against gold") {
    // prompt 1: 'Paris!' + 'the paris' merge into one 2-vote answer
    // beating 'london'; prompt 2: wrong modal; prompt 3: the empty
    // answer wins and gold is non-empty -> wrong
    val df = Seq(
      (1L, "Paris!", "paris"), (1L, "the paris", "paris"), (1L, "london", "paris"),
      (2L, "rome", "madrid"), (2L, "rome", "madrid"), (2L, "madrid", "madrid"),
      (3L, null, "x"), (3L, "", "x"), (3L, "x", "x"))
      .toDF("prompt", "answer", "gold")
    val m = graft.ops.AnswerScore.majorityVote(df, "prompt", "answer", "gold")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(m(1L) === ((3L, "paris", 2L, 666L, 1000L)))
    assert(m(2L) === ((3L, "rome", 2L, 666L, 0L)))
    assert(m(3L) === ((3L, "", 2L, 666L, 0L)),
      "NULL and '' canonicalize to the same empty vote, which wins and misses gold")
  }

  test("majorityVote: count ties break to the lexicographically greater answer") {
    val df = Seq(
      (1L, "alpha", "alpha"), (1L, "beta", "alpha"),
      (2L, "beta", "beta"), (2L, "alpha", "beta"))
      .toDF("prompt", "answer", "gold")
    val m = graft.ops.AnswerScore.majorityVote(df, "prompt", "answer", "gold")
      .collect().map(r => r.getLong(0) -> (r.getString(2), r.getLong(5))).toMap
    assert(m(1L) === (("beta", 0L)), "tie -> greater answer, not gold order")
    assert(m(2L) === (("beta", 1000L)))
  }

  test("charGramOverlap: whitespace-stripped char grams, clipped, both orders") {
    // 'ab cd ef' strips to 'abcdef' (6 chars): 3-grams abc bcd cde
    // def (4), 6-grams abcdef (1). cand 'abcdXf' shares abc bcd only
    // -> clip 2 at n=3, 0 at n=6
    val rows = graft.ops.AnswerScore.charGramOverlap(
      Seq((1L, "ab cdXf", "ab cd ef")).toDF("id", "c", "r"), "id", "c", "r")
      .collect().map(r => r.getLong(2) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .toMap
    assert(rows(3L) === ((4L, 4L, 2L, 500L, 500L)))
    assert(rows(6L) === ((1L, 1L, 0L, 0L, 0L)))
    // repeated grams clip: 'aaaa' has 3-grams {aaa, aaa}; vs ref
    // 'aaa' (one aaa) -> clip 1 of 2
    val rep = graft.ops.AnswerScore.charGramOverlap(
      Seq((1L, "aaaa", "aaa")).toDF("id", "c", "r"), "id", "c", "r",
      ns = Seq(3))
      .collect().head
    assert(rep.getLong(3) === 2L && rep.getLong(5) === 1L &&
      rep.getLong(6) === 500L)
    // sides shorter than n: zero grams, guarded millis
    val short = graft.ops.AnswerScore.charGramOverlap(
      Seq((1L, "ab", "abcd")).toDF("id", "c", "r"), "id", "c", "r",
      ns = Seq(3)).collect().head
    assert(short.getLong(3) === 0L && short.getLong(6) === 0L)
  }

  test("overlapNgram: keeps articles and scores surface tokens") {
    // 'the' is NOT dropped here (overlap scores surface tokens) —
    // cand 'the cat' vs ref 'the dog': unigram m = 1
    val r = AnswerScore.overlapNgram(
      Seq((1L, "the cat", "the dog")).toDF("id", "c", "r"), "id", "c", "r")
      .collect().filter(_.getLong(2) == 1L).head
    assert(r.getLong(3) === 2L && r.getLong(5) === 1L)
  }

  test("graft_clip_count kernel ≡ declarative clipped-walk baseline") {
    // the r20 kernel the operators use vs the spec-pinned HOF form,
    // over the divergence-prone classes: repeated tokens on either
    // side, clipping in both directions, disjoint sets, one/both
    // empty, unicode tokens, and a token that repeats past the other
    // side's count
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val rows = Seq(
      ("x y z", "x y w q"), ("x x x", "x y"), ("x y", "x x x"),
      ("zzz qqq", "x y"), ("", "x"), ("x", ""), ("", ""),
      ("日 本 語 日", "日 日 語"), ("a a b b b", "b b a a a"),
      ("p q p q p", "q p q"))
    val df = rows.zipWithIndex
      .map { case ((c, g), i) => (i.toLong, c, g) }.toDF("id", "c", "g")
      .selectExpr("id", "split(c, ' ') AS tc", "split(g, ' ') AS tg")
      .selectExpr("id", "graft_clip_count(tc, tg) AS kernel",
        s"${AnswerScore.clipSpark("tc", "tg")} AS hof")
    df.collect().foreach { r =>
      assert(r.getLong(1) === r.getLong(2),
        s"kernel/HOF clip divergence on row ${r.getLong(0)}")
    }
  }
}
