package graft

import graft.ops.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bit-parity of the round-13 COMPILED routed-grain kernels against
  * the declarative regexp construction the DuckDB oracle replays:
  *
  *   - `graft_routed_tokens(t, keepEmpties)` ≡
  *     [[TextAnalysis.routedTokensRegex]] (dominance `regexp_replace`
  *     + token `regexp_extract_all`) — both empties conventions;
  *   - `graft_word_count(t, 'cjk-auto')` ≡ `size(<routed, no
  *     empties>)` (and `'ws'`/1-arg stays the old count);
  *   - `graft_term_counts(t, terms, 'cjk-auto')` ≡ the declarative
  *     `[size(__ws), size(__ws) − size(array_remove(__ws, tᵢ)) …]`
  *     doc-stats row the r12 BM25 cjk leg computed;
  *   - the 11-arg `graft_gopher_flags` SQL spelling ≡ the 12-arg
  *     `'ws'` one (the optional-grain compat contract).
  *
  * Fixtures hit the routing edges (dominance boundary, empty/space
  * rows, embedded ascii runs, supplementary-plane codepoints inside
  * runs, Thai, space runs) and a deterministic fuzz sweep covers the
  * soup in between.
  */
class RoutedGrainSpec extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.functions.VectorFunctions.ensureRegistered(spark)
  }

  private val zh = "这是一个没有空格的中文句子"
  private val fixtures: Seq[(Long, String)] = Seq(
    1L -> "",
    2L -> "   ",
    3L -> "plain english words only",
    4L -> "double  space and  trailing ",
    5L -> zh,
    6L -> s"${zh}abc$zh",                    // ascii run inside routed text
    7L -> "中文ab",                           // exactly half -> routes
    8L -> "中abc",                            // below half -> ws grain
    9L -> "中 文 a b",                        // routed WITH spaces
    10L -> "ไทยแบ่งคำไม่ได้เลย",               // Thai (unsegmented, non-Han)
    11L -> "中文😀中文",                       // supplementary codepoint in a run
    12L -> "😀 😀 😀",                         // emoji only -> ws grain
    13L -> "的的的 xx 的的的",
    14L -> ("中" * 40 + " latin tail here"),
    15L -> "a b c a b c a b c",   // repeated bigrams AND trigrams
    16L -> "ພາສາລາວບໍ່ມີຊ່ອງວ່າງ",      // Lao (unsegmented, r14 range add)
    17L -> "မြန်မာစာမှာစာလုံးမခွဲပါ",      // Myanmar
    18L -> "ភាសាខ្មែរមិនមានចន្លោះ")      // Khmer

  private def fuzz(n: Int): Seq[(Long, String)] = {
    val alphabet = "中文的一 漢字ไทยab x.#😀 ລາວမြန်ខ្មែរ"
    (1 to n).map { i =>
      var x = i.toLong; val sb = new StringBuilder
      for (_ <- 0 until 50) {
        x = x * 6364136223846793005L + 1442695040888963407L
        sb.append(alphabet(((x >>> 33) % alphabet.length).toInt))
      }
      (i.toLong + 100L) -> sb.toString
    }
  }

  private def df(): DataFrame =
    (fixtures ++ fuzz(300)).toDF("doc_id", "text")

  test("graft_routed_tokens ≡ declarative routed construction, both empties conventions") {
    for (keep <- Seq(true, false)) {
      val rows = df().select($"doc_id",
          expr(TextAnalysis.routedTokensSpark("text", keep)).as("k"),
          expr(TextAnalysis.routedTokensRegex("text", keep)).as("r"))
        .as[(Long, Seq[String], Seq[String])].collect()
      rows.foreach { case (id, k, r) =>
        assert(k == r, s"doc $id keepEmpties=$keep: kernel $k != regex $r")
      }
      assert(rows.length == fixtures.length + 300)
    }
  }

  test("graft_word_count grain: 'cjk-auto' ≡ size of routed no-empty tokens; 'ws'/1-arg unchanged") {
    val rows = df().select($"doc_id",
        expr("graft_word_count(text, 'cjk-auto')").as("k"),
        size(expr(TextAnalysis.routedTokensRegex("text", keepEmpties = false)))
          .cast("long").as("r"),
        expr("graft_word_count(text)").as("ws1"),
        expr("graft_word_count(text, 'ws')").as("ws2"))
      .as[(Long, Long, Long, Long, Long)].collect()
    rows.foreach { case (id, k, r, ws1, ws2) =>
      assert(k == r, s"doc $id: routed word count $k != declarative size $r")
      assert(ws1 == ws2, s"doc $id: 1-arg and explicit-'ws' must agree")
    }
    // the grains genuinely diverge on the routed fixtures
    assert(rows.exists { case (_, k, _, ws, _) => k != ws })
  }

  test("graft_term_counts grain: 'cjk-auto' ≡ declarative dl/tf over routed tokens") {
    val terms = Seq("的", "中", "ab", "x")
    val termArr = terms.map(t => s"'$t'").mkString("array(", ", ", ")")
    val ws = TextAnalysis.routedTokensRegex("text", keepEmpties = false)
    val declared = ($"doc_id" +: (expr(s"CAST(size(__ws) AS BIGINT)").as("dl") +:
      terms.indices.map(i =>
        expr(s"CAST(size(__ws) - size(array_remove(__ws, '${terms(i)}')) AS BIGINT)")
          .as(s"r$i"))))
    val rows = df()
      .select($"doc_id", expr(s"graft_term_counts(text, $termArr, 'cjk-auto')").as("__tc"),
        expr(ws).as("__ws"))
      .select(($"doc_id" +: expr("__tc[0]").as("kdl") +:
        terms.indices.map(i => expr(s"__tc[${i + 1}]").as(s"k$i"))) ++
        (expr("CAST(size(__ws) AS BIGINT)").as("dl") +:
          terms.indices.map(i =>
            expr(s"CAST(size(__ws) - size(array_remove(__ws, '${terms(i)}')) AS BIGINT)")
              .as(s"r$i"))): _*)
      .collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      val k = (0 to terms.length).map(j => r.getLong(1 + j))
      val d = (0 to terms.length).map(j => r.getLong(2 + terms.length + j))
      assert(k == d, s"doc $id: kernel $k != declarative $d")
    }
    // tf must actually fire on routed single-codepoint terms
    assert(rows.exists(_.getLong(2) > 0), "fixture must produce 的 matches")
  }

  test("graft_term_tf: exploded pairs ≡ explode-tokens + groupBy counts, both grains") {
    for (grain <- Seq("ws", "cjk-auto")) {
      val tok =
        if (grain == "cjk-auto") TextAnalysis.routedTokensRegex("text", keepEmpties = false)
        else "filter(split(text, ' '), w -> w <> '')"
      val declared = df().select($"doc_id", explode(expr(tok)).as("w"))
        .groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf"))
        .as[(Long, String, Long)].collect().toSet
      val kernel = df()
        .select($"doc_id", explode(expr(s"graft_term_tf(text, '$grain')")).as("p"))
        .select($"doc_id", $"p.w", $"p.tf")
        .as[(Long, String, Long)].collect().toSet
      assert(kernel == declared, s"grain=$grain: pair kernel must equal exploded counts " +
        s"(missing=${(declared -- kernel).take(5)} extra=${(kernel -- declared).take(5)})")
      assert(kernel.exists(_._3 > 1), s"grain=$grain: fixture must produce real tf > 1")
    }
    // 1-arg SQL defaults to 'ws'
    val one = df().selectExpr("explode(graft_term_tf(text)) AS p")
      .selectExpr("p.w", "p.tf").as[(String, Long)].collect().toSet
    val two = df().selectExpr("explode(graft_term_tf(text, 'ws')) AS p")
      .selectExpr("p.w", "p.tf").as[(String, Long)].collect().toSet
    assert(one == two)
  }

  test("graft_routed_token_count ≡ size of the keepEmpties routed array") {
    val rows = df().select($"doc_id",
        expr("graft_routed_token_count(text)").as("k"),
        size(expr("graft_routed_tokens(text, true)")).cast("long").as("r"))
      .as[(Long, Long, Long)].collect()
    rows.foreach { case (id, k, r) =>
      assert(k == r, s"doc $id: count kernel $k != array size $r")
    }
    // differs from the no-empties word count exactly on space runs
    assert(rows.nonEmpty)
  }

  test("graft_gram_tf cjk-auto: exploded pairs ≡ grams over the routed declarative tokens") {
    for (n <- Seq(2, 3)) {
      val routed = TextAnalysis.routedTokensRegex("text", keepEmpties = false)
      val declared = df().select($"doc_id",
          explode(expr(s"graft_ngrams($routed, $n)")).as("g"))
        .groupBy($"doc_id", $"g").agg(count(lit(1)).as("tf"))
        .as[(Long, String, Long)].collect().toSet
      val kernel = df()
        .select($"doc_id", explode(expr(s"graft_gram_tf(text, $n, 'cjk-auto')")).as("p"))
        .select($"doc_id", $"p.w", $"p.tf")
        .as[(Long, String, Long)].collect().toSet
      assert(kernel == declared, s"n=$n cjk: gram pair kernel must equal routed gram counts " +
        s"(missing=${(declared -- kernel).take(5)} extra=${(kernel -- declared).take(5)})")
    }
  }

  test("graft_gram_tf: exploded pairs ≡ explode-ngrams + groupBy counts (n = 2, 3)") {
    for (n <- Seq(2, 3)) {
      val grams = s"graft_ngrams(filter(split(text, ' '), w -> w <> ''), $n)"
      val declared = df().select($"doc_id", explode(expr(grams)).as("g"))
        .groupBy($"doc_id", $"g").agg(count(lit(1)).as("tf"))
        .as[(Long, String, Long)].collect().toSet
      val kernel = df()
        .select($"doc_id", explode(expr(s"graft_gram_tf(text, $n)")).as("p"))
        .select($"doc_id", $"p.w", $"p.tf")
        .as[(Long, String, Long)].collect().toSet
      assert(kernel == declared, s"n=$n: gram pair kernel must equal exploded counts " +
        s"(missing=${(declared -- kernel).take(5)} extra=${(kernel -- declared).take(5)})")
      assert(kernel.exists(_._3 > 1), s"n=$n: fixture must produce repeated grams")
    }
  }

  test("graft_dsir_buckets cjk-auto ≡ declarative hashed unigram+bigram buckets over routed tokens") {
    val B = 64
    val w = TextAnalysis.routedTokensRegex("text", keepEmpties = false)
    val h = graft.ops.PortableHash.sparkStringHash("g")
    val declared = s"transform(concat(__w, graft_ngrams(__w, 2)), g -> $h % $B)"
    val rows = df().select($"doc_id",
        expr(s"graft_dsir_buckets(text, $B, 'cjk-auto')").as("k"),
        expr(graft.ops.PortableHash.let1("__w", w, declared)).as("r"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    rows.foreach { case (id, k, r) =>
      assert(k == r, s"doc $id: routed dsir buckets $k != declarative $r")
    }
    assert(rows.exists(_._2.nonEmpty))
  }

  test("graft_gopher_flags: 11-arg SQL defaults the grain to 'ws' (12-arg parity)") {
    val stop = TextAnalysis.gopherStops.map(s => s"'$s'").mkString("array(", ", ", ")")
    val args = s"text, 3, 100000, 3.0D, 10.0D, 0.1D, 0.8D, 2, 0.9D, 0.3D, $stop"
    val rows = df().select($"doc_id",
        expr(s"graft_gopher_flags($args)").as("v11"),
        expr(s"graft_gopher_flags($args, 'ws')").as("v12"))
      .as[(Long, Seq[Int], Seq[Int])].collect()
    rows.foreach { case (id, a, b) => assert(a == b, s"doc $id: 11-arg != 12-arg 'ws'") }
  }

  test("null text: every grain kernel yields NULL, matching the declarative forms") {
    val one = Seq((1L, null: String)).toDF("doc_id", "text")
    val r = one.select(
      expr("graft_routed_tokens(text, true)"),
      expr("graft_word_count(text, 'cjk-auto')"),
      expr("graft_term_counts(text, array('的'), 'cjk-auto')"),
      expr(TextAnalysis.routedTokensRegex("text", keepEmpties = true))).head()
    assert((0 to 3).forall(r.isNullAt), s"null text must stay null, got $r")
  }

  test("bad grain literal fails at analysis with a clear message") {
    // every grain-taking kernel, each with the grains it accepts: an
    // unknown literal and the retired 'token' (the chunkers' old ws
    // spelling) and 'toklist' (an old internal pseudo-grain) all fail
    // at analysis, and the message lists the valid grains
    val scalar = "'ws', 'cjk-auto'"
    val dict = "'cjk-dict', 'thai-dict'"
    val all = s"$scalar, $dict"
    val kernels = Seq(
      "graft_word_count(text, %s)" -> scalar,
      "graft_dsir_buckets(text, 16, %s)" -> scalar,
      "graft_gopher_flags(text, 50, 100000, 3.0, 10.0, 0.1, 0.8, 2, 0.9, 0.3, " +
        "array('the'), %s)" -> scalar,
      "graft_sentence_chunks(text, 16, %s)" -> scalar,
      "graft_term_counts(text, array('a'), %s)" -> all,
      "graft_term_tf(text, %s)" -> all,
      "graft_gram_tf(text, 2, %s)" -> all,
      "graft_fmm_tokens(text, true, %s)" -> dict,
      "graft_fmm_token_count(text, %s)" -> dict)
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    for ((call, valid) <- kernels; bad <- Seq("bytes", "token", "toklist")) {
      val e = intercept[Exception] {
        df().selectExpr(call.format(s"'$bad'")).collect()
      }
      assert(messages(e).contains(s"grain '$bad' is not valid here; valid grains: $valid"),
        s"${call.format(s"'$bad'")}: unexpected: ${messages(e)}")
    }
  }

  test("r14 ranges: Lao/Myanmar/Khmer fixtures route to the codepoint grain") {
    // no-space unsegmented docs: ws grain sees ONE mega-token, the
    // routed grain one token per in-block codepoint (== char count,
    // all three blocks are BMP) — the silent degradation the range
    // widening exists to stop
    val rows = df().where($"doc_id".isin(16L, 17L, 18L))
      .select($"doc_id",
        expr("graft_word_count(text, 'cjk-auto')").as("routed"),
        expr("graft_word_count(text, 'ws')").as("ws"),
        length($"text").cast("long").as("nchars"))
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.length == 3)
    rows.foreach { case (id, routed, ws, nchars) =>
      assert(ws == 1L, s"doc $id: no-space doc must be one ws token")
      assert(routed == nchars,
        s"doc $id: routed grain must be per-codepoint ($routed != $nchars)")
    }
  }
}
