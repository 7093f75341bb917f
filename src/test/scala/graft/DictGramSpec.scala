package graft

import org.apache.spark.sql.functions._

/** Pins the dict-grain `graft_gram_tf` kernel (round 16 —
  * [[graft.functions.GopherOps.fmmGramTfPairs]]): exact planted
  * expectations, parity against the declarative composition
  * `n-grams over graft_fmm_tokens` (no shared walk), and the
  * word-order signal the dict bigram/trigram rungs exist for.
  */
class DictGramSpec extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.functions.VectorFunctions.ensureRegistered(spark)
  }

  /** Kernel gram pairs as a sorted (gram, tf) list. */
  private def kernelGrams(text: String, n: Int, grain: String): Seq[(String, Long)] =
    Seq((1L, text)).toDF("doc_id", "text")
      .selectExpr(s"graft_gram_tf(text, $n, '$grain') AS p")
      .selectExpr("explode(p) AS q").selectExpr("q.w", "q.tf")
      .as[(String, Long)].collect().toSeq.sorted

  /** Independent composition: explode HOF n-grams of the FMM token
    * array and count — no shared code with the fused ring walk.
    */
  private def composedGrams(text: String, n: Int, grain: String): Seq[(String, Long)] = {
    val toks = Seq((1L, text)).toDF("doc_id", "text")
      .selectExpr(s"graft_fmm_tokens(text, false, '$grain') AS t")
      .as[Seq[String]].head()
    toks.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSeq
      .groupBy(identity).map { case (g, o) => (g, o.size.toLong) }.toSeq.sorted
  }

  test("planted zh bigrams: FMM words, not character pairs") {
    // tokens: 人工智能 学习 人工智能 学习 -> two distinct word bigrams
    assert(kernelGrams("人工智能学习人工智能学习", 2, "cjk-dict") ===
      Seq(("人工智能 学习", 2L), ("学习 人工智能", 1L)).sorted)
    // under 2 tokens -> no grams (explode-drops the doc)
    assert(kernelGrams("人工智能", 2, "cjk-dict").isEmpty)
    // non-dominated rows ride the ws walk, empties skipped
    assert(kernelGrams("a  b c", 2, "cjk-dict") ===
      Seq(("a b", 1L), ("b c", 1L)).sorted)
  }

  test("planted thai trigrams: word windows across the 9-codepoint greedy match") {
    // ประเทศไทย (9 cp) must come back whole inside the gram window
    val g = kernelGrams("ประเทศไทยมีภาษาไทยและอาหาร", 3, "thai-dict")
    assert(g.exists(_._1 == "ประเทศไทย มี ภาษาไทย"))
  }

  test("kernel ≡ composed n-grams over FMM tokens (randomized, both lexicons)") {
    val rnd = new scala.util.Random(1604)
    def corpus(ws: IndexedSeq[String], soupBase: Int): Seq[String] =
      (1 to 200).map { _ =>
        val sb = new StringBuilder
        (0 until rnd.nextInt(20)).foreach { _ =>
          rnd.nextInt(5) match {
            case 0 => sb ++= ws(rnd.nextInt(ws.size))
            case 1 => val w = ws(rnd.nextInt(ws.size))
                      sb ++= w.substring(0, 1 + rnd.nextInt(w.length - 1))
            case 2 => sb += (soupBase + rnd.nextInt(40)).toChar
            case 3 => sb += ' '
            case _ => sb ++= "en"
          }
        }
        sb.toString
      }.filter(_.nonEmpty)
    corpus(graft.ops.ZhLexicon.words.toIndexedSeq, 0x4E00).foreach { s =>
      (2 to 3).foreach { n =>
        assert(kernelGrams(s, n, "cjk-dict") === composedGrams(s, n, "cjk-dict"),
          s"cjk-dict $n-gram mismatch on '$s'")
      }
    }
    corpus(graft.ops.ThLexicon.words.toIndexedSeq, 0x0E01).foreach { s =>
      (2 to 3).foreach { n =>
        assert(kernelGrams(s, n, "thai-dict") === composedGrams(s, n, "thai-dict"),
          s"thai-dict $n-gram mismatch on '$s'")
      }
    }
  }

  test("dict bigram score sees word order that unigrams cannot") {
    // same word multiset, different order: unigram features identical,
    // bigram oov differs — the rung's reason to exist
    val ref = (1 to 30).map(i => (i.toLong, "人工智能学习工作")).toSeq
    val docs = Seq((100L, "人工智能学习工作"), (101L, "工作学习人工智能"))
    val all = (ref ++ docs).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.bigramScore(
        all.where($"doc_id" >= 100), all.where($"doc_id" < 100),
        "doc_id", "text", vocab = 10, wordGrain = graft.ops.WordGrain.CjkDict)
      .select($"doc_id", $"oov_ratio").as[(Long, Double)].collect().toMap
    assert(out(100L) === 0.0, "in-order doc: every bigram in reference")
    assert(out(101L) === 1.0, "reversed doc: no bigram in reference")
  }

  test("graft_gram_tf rejects an unknown grain") {
    intercept[IllegalArgumentException] {
      Seq((1L, "x")).toDF("doc_id", "text")
        .selectExpr("graft_gram_tf(text, 2, 'zh-dict')").collect()
    }
  }
}
