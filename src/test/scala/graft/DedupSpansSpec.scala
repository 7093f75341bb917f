package graft

import graft.ops.{Dedup, WordGrain}
import org.apache.spark.sql.functions._

/** Pins [[Dedup.dedupSpans]]: corpus-duplicated fixed-length word spans
  * are struck at every covered position (overlap union), unique text
  * survives, and a doc of pure boilerplate survives as empty clean_text.
  */
class DedupSpansSpec extends SparkSpec {
  import spark.implicits._

  test("duplicated spans struck at any alignment; unique words survive") {
    val boiler = "one two three four five six"
    // the boilerplate lands at a DIFFERENT word offset in each doc —
    // stride-1 grams must catch it regardless of alignment
    val docs = (0 until 12).map { i =>
      (i.toLong, s"u$i " * (i % 3 + 1) + boiler + s" tail$i")
    }.toDF("doc_id", "text")
    val out = Dedup.dedupSpans(docs, "doc_id", "text", spanLen = 5, maxFreq = 10)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size === 12)
    (0 until 12).foreach { i =>
      val expected = (s"u$i " * (i % 3 + 1)).trim + s" tail$i"
      assert(out(i.toLong) === expected, s"doc $i")
    }
  }

  test("dict grain: unsegmented zh spans struck at word positions; ws grain is blind") {
    // 12 docs = unique single-char prefix + the same space-free 5-word
    // phrase. On the ws grain each doc is ONE token (no 5-grams exist),
    // so span dedup is silently blind — the round-16 routing fix. On
    // the cjk-dict grain the trailing word 5-gram repeats 12 > 10
    // times and is struck; the leading 5-gram carries the unique
    // prefix char and survives, so clean_text is exactly the prefix.
    val phrase = "人工智能学习工作今天喜欢" // FMM: 5 lexicon words
    val prefixes = "子丑寅卯辰巳午未申酉戌亥"
    val docs = prefixes.zipWithIndex
      .map { case (c, i) => (i.toLong, s"$c$phrase") }.toSeq
      .toDF("doc_id", "text")
    val ws = Dedup.dedupSpans(docs, "doc_id", "text", spanLen = 5, maxFreq = 10)
      .collect()
    assert(ws.length === 12 && ws.forall(_.getLong(2) == 0L),
      "ws grain must see one token per doc and strike nothing")
    val dict = Dedup.dedupSpans(docs, "doc_id", "text",
        spanLen = 5, maxFreq = 10, wordGrain = WordGrain.CjkDict)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(dict.length === 12)
    dict.foreach { case (i, clean, removed, n) =>
      assert(clean === prefixes(i.toInt).toString && removed === 5L && n === 6L,
        s"doc $i: got ($clean, $removed, $n)")
    }
  }

  test("dedupLinesWithinDoc: first occurrence kept in order, later copies struck, row-local") {
    val docs = Seq(
      (1L, "menu\nreal content one\nmore text\nmenu"),      // top+bottom boilerplate
      (2L, "a\nb\na\nb\na"),                                 // heavy repetition
      (3L, "unique\nlines\nonly"),                           // nothing struck
      (4L, "")).toDF("doc_id", "text")                       // single empty line
    val out = Dedup.dedupLinesWithinDoc(docs, "doc_id", "text")
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "within-doc dedup must be row-local")
    val m = out.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(m(1L) === (("menu\nreal content one\nmore text", 1L, 4L)))
    assert(m(2L) === (("a\nb", 3L, 5L)))
    assert(m(3L) === (("unique\nlines\nonly", 0L, 3L)))
    assert(m(4L) === (("", 0L, 1L)))
  }

  test("a doc of pure boilerplate survives with empty clean_text") {
    val boiler = "a b c d e"
    val docs = ((0 until 11).map(i => (i.toLong, s"x$i $boiler")) :+
      (99L, boiler)).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(docs, "doc_id", "text", spanLen = 5, maxFreq = 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val pure = out.find(_._1 == 99L).get
    assert(pure._2 === "" && pure._3 === 5L && pure._4 === 5L)
    // the x$i prefix words survive in every other doc
    assert(out.filter(_._1 != 99L).forall { case (i, clean, rem, n) =>
      clean === s"x$i" && rem === 5L && n === 6L
    })
  }
}
