package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.ops.{DictGrain, ScalarGrain, WordGrain}

/** Compiled Gopher-rule evaluation — one byte scan computing all seven
  * rule flags + the word count that the declarative
  * [[graft.ops.TextAnalysis.gopherRulesHof]] projection spreads over
  * two splits and five interpreted HOF `filter(...)` walks per row.
  *
  * BIT-PARITY CONTRACT (GopherKernelSpec fuzzes it): every quantity
  * reproduces the declarative expression exactly —
  *   - word/line arrays are `split(text,' ')` / `split(text, chr(10))`
  *     WITH empties (Java split(sep, −1) ≡ Spark's regex split on a
  *     1-char literal);
  *   - `length()` counts CODEPOINTS (Spark's numChars), not UTF-16
  *     units — supplementary-plane text diverges otherwise;
  *   - the symbol ratio's `/3` ellipsis term and every ratio follow the
  *     declarative operation ORDER in IEEE doubles (int-valued
  *     intermediates, one division each — bit-stable);
  *   - `…` occurrences count non-overlapping left-to-right, exactly
  *     what `replace(text,'...','')` removes;
  *   - BETWEEN is inclusive on both ends.
  * Output: ARRAY<INT> [n_words, r_words, r_mean_len, r_symbol,
  * r_alpha, r_stop, r_bullet, r_ellipsis].
  *
  * `cjkAuto = true` compiles the script-dominance-routed word grain
  * ([[graft.ops.TextAnalysis.routedTokensSpark]]) into the same byte
  * scan: rows where unsegmented-script codepoints are at least half
  * the non-space characters tokenize per codepoint (Han/kana/Thai
  * char each its own token, runs of other non-space chars one token),
  * and on exactly those rows the English-calibrated mean-word-length
  * and stop-word rules are EXEMPT (flag = 1: mean codepoint length is
  * ~1 and the stop list is English — both would reject every routed
  * row by construction) while the alpha-word rule widens its letter
  * class to include the unsegmented scripts, so it still rejects
  * symbol/digit soup. Bit-parity against the routed declarative
  * construction is pinned by GopherKernelSpec's cjk block.
  */
object GopherOps {
  // NOTE on the deliberately REPEATED routed-scan loops below
  // (routedTokens / routedWordCount / routedTokenCountAll /
  // termTfPairs / gramTfPairs / routedTermCounts): each kernel inlines
  // the same per-token walk rather than sharing a per-token visitor —
  // six distinct callbacks through one walker would make the call site
  // megamorphic (virtual dispatch per token on the hottest loops in
  // the engine; this build does not run the Scala optimizer, so
  // closures do not inline). The single-source-of-truth property is
  // held by SPECS instead of code sharing: RoutedGrainSpec pins every
  // one of these kernels bit-equal to constructions over
  // [[graft.ops.TextAnalysis.routedTokensRegex]]/`graft_routed_tokens`
  // on the shared fixture+fuzz corpus, so a boundary change applied to
  // one copy and not the others fails the suite, not production.

  // SINGLE SOURCE OF TRUTH for the unsegmented-script ranges:
  // TextAnalysis derives its regex char class (cjkRangeInterior, hence
  // the routed token pattern and both dialects' dominance predicates)
  // directly from this array, so kernel and declarative/oracle forms
  // cannot drift
  // Han Ext-A, Han, Hiragana, Katakana, Thai, Lao, Myanmar, Khmer —
  // every block is an unsegmented script (no inter-word whitespace),
  // so the ws grain silently degrades on it and the router must take
  // the codepoint grain. All BMP; the >= 0x0E00 ASCII short-circuits
  // below stay valid (Thai 0x0E00 remains the lowest block).
  val cjkRanges: Array[Int] = Array(
    0x3400, 0x4DBF, 0x4E00, 0x9FFF, 0x3040, 0x309F,
    0x30A0, 0x30FF, 0x0E00, 0x0E7F, 0x0E80, 0x0EFF,
    0x1000, 0x109F, 0x1780, 0x17FF)

  // 64K-entry membership table: one array load per char instead of a
  // 5-range comparison ladder (the scan's hottest instruction; all
  // ranges are BMP, surrogate code units fall outside them so
  // supplementary-plane codepoints correctly never match)
  private val cjkBit: Array[Boolean] = {
    val b = new Array[Boolean](0x10000)
    var k = 0
    while (k < cjkRanges.length) {
      var c = cjkRanges(k)
      while (c <= cjkRanges(k + 1)) { b(c) = true; c += 1 }
      k += 2
    }
    b
  }

  @inline private def isCjk(c: Char): Boolean = cjkBit(c)

  /** Script-dominance predicate of the routed grain — bit-equal to the
    * declarative `2·ncjk >= length(replace(text,' ','')) AND ncjk > 0`
    * (codepoint counts; the ranges are BMP, so per-char hits ARE
    * per-codepoint hits and surrogate units never match).
    */
  private[functions] def isDominated(s: String): Boolean = {
    var ncjk = 0; var spaces = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ') spaces += 1
      // same ASCII short-circuit as flags(): one compare before the
      // membership load, so Latin corpora pay ~nothing
      else if (c >= 0x0E00 && isCjk(c)) ncjk += 1
      i += 1
    }
    if (ncjk == 0) return false
    2 * ncjk >= s.codePointCount(0, s.length) - spaces
  }

  /** COMPILED `cjk-auto` word grain as a token array — bit-equal to the
    * declarative routed construction
    * ([[graft.ops.TextAnalysis.routedTokensRegex]]): rows dominated by
    * unsegmented-script codepoints tokenize per the
    * `cjkChar|[^ cjk]+` alternation (each Han/kana/Thai codepoint its
    * own token, a maximal run of other non-space chars one token —
    * the routed branch never emits empties), everything else keeps the
    * whitespace grain (`split(text,' ')` WITH empties when
    * `keepEmpties`, `array_remove(…, '')` otherwise). One char scan
    * instead of a regex-engine pass per row; RoutedGrainSpec pins the
    * parity. Supplementary-plane codepoints: their surrogate units are
    * non-space non-cjk chars, so they join runs — exactly what the
    * regex's `[^ …]+` (which matches them as whole codepoints) yields.
    */
  def routedTokens(text: UTF8String, keepEmpties: Boolean): ArrayData = {
    val s = text.toString
    if (isDominated(s)) {
      dominatedTokenArray(s)
    } else {
      val parts = s.split(" ", -1)
      if (keepEmpties) {
        val arr = new Array[AnyRef](parts.length)
        var i = 0
        while (i < parts.length) { arr(i) = UTF8String.fromString(parts(i)); i += 1 }
        new GenericArrayData(arr)
      } else {
        val out = new scala.collection.mutable.ArrayBuffer[AnyRef](parts.length)
        var i = 0
        while (i < parts.length) {
          if (parts(i).nonEmpty) out += UTF8String.fromString(parts(i))
          i += 1
        }
        new GenericArrayData(out.toArray)
      }
    }
  }

  /** The dominated branch's token array — factored so callers that
    * have ALREADY run the dominance scan (routedDsirBuckets) skip the
    * re-check [[routedTokens]] would pay.
    */
  private def dominatedTokenArray(s: String): ArrayData = {
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef]()
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ') i += 1
      else if (isCjk(c)) { out += UTF8String.fromString(String.valueOf(c)); i += 1 }
      else {
        val st = i
        i += 1
        while (i < s.length && { val cc = s.charAt(i); cc != ' ' && !isCjk(cc) }) i += 1
        out += UTF8String.fromString(s.substring(st, i))
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** `size(routedTokens(text, keepEmpties = true))` WITHOUT
    * materializing any token — the cheap filter predicate for
    * shingle-floor checks on the routed grain (`graft_routed_token_count`;
    * hs is empty iff this count < k, and the ws-convention split
    * size on non-dominated rows is just spaces + 1).
    */
  def routedTokenCountAll(text: UTF8String): Long = {
    val s = text.toString
    if (isDominated(s)) {
      // inline the dominated count walk (delegating to routedWordCount
      // would re-run the dominance scan — a third full-string pass on
      // the keeper filter's hot path)
      var n = 0L; var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == ' ') i += 1
        else if (isCjk(c)) { n += 1; i += 1 }
        else {
          n += 1; i += 1
          while (i < s.length && { val cc = s.charAt(i); cc != ' ' && !isCjk(cc) }) i += 1
        }
      }
      n
    } else {
      var spaces = 0L
      var i = 0
      while (i < s.length) { if (s.charAt(i) == ' ') spaces += 1; i += 1 }
      spaces + 1L
    }
  }

  /** `size(routedTokens(text, keepEmpties = false))` WITHOUT
    * materializing any token — the count-only walk the chunk manifest
    * and datacard token totals ride (`graft_word_count(t, 'cjk-auto')`).
    */
  def routedWordCount(text: UTF8String): Long = {
    val s = text.toString
    if (!isDominated(s)) return HashOps.wordCount(text)
    var n = 0L; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ') i += 1
      else if (isCjk(c)) { n += 1; i += 1 }
      else {
        n += 1; i += 1
        while (i < s.length && { val cc = s.charAt(i); cc != ' ' && !isCjk(cc) }) i += 1
      }
    }
    n
  }

  /** Full-width sentence-terminator boundary (round 14) — SINGLE
    * SOURCE shared by the declarative marker-insert in
    * [[graft.ops.TextAnalysis.sentences]] (both dialects) and the
    * compiled [[sentenceChunks]] kernel: a run of 。！？…
    * carrying any closing quotes/brackets, breaking WITHOUT trailing
    * whitespace (zh/ja put none between sentences).
    */
  val cjkSentenceBoundary: String = "[。！？…]+[」』”’）]*"

  // the EXACT patterns TextAnalysis.sentences feeds regexp_replace
  // (Spark's regexp_replace is this same java.util.regex engine, so
  // compiling the identical strings here is parity by construction)
  private val cjkSentPattern =
    java.util.regex.Pattern.compile(s"($cjkSentenceBoundary)[ \t\n\r]*")
  private val asciiSentPattern =
    java.util.regex.Pattern.compile("([.!?])[ \t\n\r]+")

  /** COMPILED sentence-aligned chunking — the ROW-LOCAL form of
    * [[graft.ops.TextAnalysis.chunkBySentences]]: sentence split
    * (identical marker-insert regexes), per-sentence token count
    * ([[HashOps.tokenCount]] or the routed [[routedWordCount]]), and
    * prefix-sum packing (`chunk = before div size`, sentences never
    * split) all inside one projection — the window/groupBy form
    * shuffles the FULL TEXT corpus through its doc-keyed exchange,
    * this emits finished chunks from the scan (zero shuffle,
    * streaming-safe). Chunks pack per ROW: two rows sharing a doc id
    * chunk independently (a chunker must not merge distinct documents
    * that collide on id — the relational twin's groupBy would).
    */
  def sentenceChunks(text: UTF8String, size: Int, cjkGrain: Boolean): ArrayData = {
    val marked = asciiSentPattern.matcher(
      cjkSentPattern.matcher(text.toString).replaceAll("$1\u0001"))
      .replaceAll("$1\u0001")
    val parts = marked.split("\u0001", -1)
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef]()
    var before = 0L
    var curIdx = -1
    var nSent = 0L
    var nTok = 0L
    val sb = new java.lang.StringBuilder()
    @inline def flush(): Unit = if (nSent > 0) {
      out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](curIdx, nSent, nTok, UTF8String.fromString(sb.toString)))
    }
    var p = 0
    while (p < parts.length) {
      val raw = parts(p)
      // Spark trim semantics: strip 0x20 only
      var a = 0
      var b = raw.length
      while (a < b && raw.charAt(a) == ' ') a += 1
      while (b > a && raw.charAt(b - 1) == ' ') b -= 1
      if (b > a) {
        val sent = raw.substring(a, b)
        val u = UTF8String.fromString(sent)
        val n = if (cjkGrain) routedWordCount(u) else HashOps.tokenCount(u).toLong
        val idx = (before / size).toInt
        if (idx != curIdx) {
          flush(); curIdx = idx; nSent = 0L; nTok = 0L; sb.setLength(0)
        }
        if (nSent > 0) sb.append(' ')
        sb.append(sent)
        nSent += 1
        nTok += n
        before += n
      }
      p += 1
    }
    flush()
    new GenericArrayData(out.toArray)
  }

  /** Per-row TERM-FREQUENCY pairs — `ARRAY<STRUCT<w, tf>>` of the
    * row's DISTINCT tokens with their counts, on either word grain
    * (`cjkAuto = false` → ws tokens, empties dropped; `true` → the
    * routed grain). The row-local twin of
    * `explode(tokens) → groupBy(id, w) → count`: the explode/hash-agg
    * form feeds the aggregate one row PER TOKEN (118.7M rows at the 1M
    * probe corpus on the routed grain) where this emits one row per
    * DISTINCT (doc, term) straight from the scan — the corpus-sized
    * aggregate disappears and the first exchange already carries tf
    * rows. Pair order is first-occurrence (deterministic; consumers
    * aggregate, so order never reaches a result).
    */
  def termTfPairs(text: UTF8String, cjkAuto: Boolean): ArrayData = {
    val s = text.toString
    val m = new java.util.LinkedHashMap[String, Array[Long]]()
    @inline def bump(w: String): Unit = {
      val c = m.get(w)
      if (c == null) m.put(w, Array(1L)) else c(0) += 1L
    }
    if (cjkAuto && isDominated(s)) {
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == ' ') i += 1
        else if (isCjk(c)) { bump(String.valueOf(c)); i += 1 }
        else {
          val st = i
          i += 1
          while (i < s.length && { val cc = s.charAt(i); cc != ' ' && !isCjk(cc) }) i += 1
          bump(s.substring(st, i))
        }
      }
    } else {
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == ' ') i += 1
        else {
          val st = i
          while (i < s.length && s.charAt(i) != ' ') i += 1
          bump(s.substring(st, i))
        }
      }
    }
    pairsToArray(m)
  }

  /** (word, count) map → ARRAY<STRUCT<w, tf>> in insertion order — the
    * shared per-row epilogue of [[termTfPairs]] and [[gramTfPairs]]
    * (runs once per row over the distinct-term map, so sharing it has
    * no dispatch cost in the per-token hot loops).
    */
  private def pairsToArray(m: java.util.LinkedHashMap[String, Array[Long]]): ArrayData = {
    val out = new Array[AnyRef](m.size)
    var j = 0
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](UTF8String.fromString(e.getKey), e.getValue()(0)))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** COMPILED `cjk-dict` word grain ([[graft.ops.ZhLexicon]] FMM):
    * dominance-routed rows segment by forward maximum match — at each
    * cursor the LONGEST committed lexicon word (4→2 codepoints) wins;
    * no match falls back to the `cjk-auto` codepoint grain for
    * in-block chars and maximal non-space runs otherwise — and
    * non-dominated rows keep the whitespace grain exactly as
    * [[routedTokens]]. One char scan + ≤3 hash probes per routed
    * position; parity with the recursive-CTE oracle is held by
    * CjkDictSpec against a straight-line reference walk.
    */
  def fmmTokens(text: UTF8String, keepEmpties: Boolean,
                lex: graft.ops.FmmLexicon): ArrayData = {
    val s = text.toString
    if (isDominated(s)) {
      val out = new scala.collection.mutable.ArrayBuffer[AnyRef]()
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == ' ') i += 1
        else {
          val w = lex.longestMatch(s, i)
          if (w != null) { out += UTF8String.fromString(w); i += w.length }
          else if (isCjk(c)) { out += UTF8String.fromString(String.valueOf(c)); i += 1 }
          else {
            val st = i
            i += 1
            while (i < s.length && { val cc = s.charAt(i); cc != ' ' && !isCjk(cc) }) i += 1
            out += UTF8String.fromString(s.substring(st, i))
          }
        }
      }
      new GenericArrayData(out.toArray)
    } else {
      val parts = s.split(" ", -1)
      if (keepEmpties) {
        val arr = new Array[AnyRef](parts.length)
        var i = 0
        while (i < parts.length) { arr(i) = UTF8String.fromString(parts(i)); i += 1 }
        new GenericArrayData(arr)
      } else {
        val out = new scala.collection.mutable.ArrayBuffer[AnyRef](parts.length)
        var i = 0
        while (i < parts.length) {
          if (parts(i).nonEmpty) out += UTF8String.fromString(parts(i))
          i += 1
        }
        new GenericArrayData(out.toArray)
      }
    }
  }

  /** [[termTfPairs]] on the `cjk-dict` grain — the row's distinct FMM
    * tokens with counts, fused from the raw text (the vocabulary /
    * tf consumers' shape: one exploded row per DISTINCT (doc, term)).
    */
  def fmmTermTfPairs(text: UTF8String, lex: graft.ops.FmmLexicon): ArrayData = {
    val s = text.toString
    val m = new java.util.LinkedHashMap[String, Array[Long]]()
    @inline def bump(w: String): Unit = {
      val c = m.get(w)
      if (c == null) m.put(w, Array(1L)) else c(0) += 1L
    }
    if (isDominated(s)) {
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == ' ') i += 1
        else {
          val w = lex.longestMatch(s, i)
          if (w != null) { bump(w); i += w.length }
          else if (isCjk(c)) { bump(String.valueOf(c)); i += 1 }
          else {
            val st = i
            i += 1
            while (i < s.length && { val cc = s.charAt(i); cc != ' ' && !isCjk(cc) }) i += 1
            bump(s.substring(st, i))
          }
        }
      }
    } else {
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == ' ') i += 1
        else {
          val st = i
          while (i < s.length && s.charAt(i) != ' ') i += 1
          bump(s.substring(st, i))
        }
      }
    }
    pairsToArray(m)
  }

  /** Per-row word-n-GRAM-frequency pairs — [[termTfPairs]] one order
    * up: distinct space-joined n-grams of the ws token sequence
    * (empties dropped) with occurrence counts, fused from the raw
    * text. The consumers previously computed
    * `graft_ngrams(filter(split(text, ' '), w -> w <> ''), n)` — a
    * HOF child, which is CodegenFallback and pushes the whole
    * projection out of whole-stage codegen — then exploded one row
    * per gram into a corpus-sized hash aggregate. Docs with fewer
    * than n tokens yield an empty array (no gram rows), matching
    * `ngrams`' contract. `cjkAuto = true` grams over the ROUTED token
    * sequence on script-dominated rows (codepoint n-grams — the
    * character-n-gram LM the CJK literature actually uses, since
    * word n-grams don't exist without segmentation).
    */
  def gramTfPairs(text: UTF8String, n: Int, cjkAuto: Boolean): ArrayData = {
    val s = text.toString
    val m = new java.util.LinkedHashMap[String, Array[Long]]()
    val ring = new Array[String](n)
    var filled = 0
    val sb = new java.lang.StringBuilder()
    // shift the ring and bucket the gram once `n` tokens have passed;
    // a bounded arraycopy per token (n is 2 or 3)
    @inline def push(tok: String): Unit = {
      var k = 0
      while (k < n - 1) { ring(k) = ring(k + 1); k += 1 }
      ring(n - 1) = tok
      if (filled < n) filled += 1
      if (filled == n) {
        sb.setLength(0)
        k = 0
        while (k < n) { if (k > 0) sb.append(' '); sb.append(ring(k)); k += 1 }
        val g = sb.toString
        val c = m.get(g)
        if (c == null) m.put(g, Array(1L)) else c(0) += 1L
      }
    }
    var i = 0
    if (cjkAuto && isDominated(s)) {
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == ' ') i += 1
        else if (isCjk(c)) { push(String.valueOf(c)); i += 1 }
        else {
          val st = i
          i += 1
          while (i < s.length && { val cc = s.charAt(i); cc != ' ' && !isCjk(cc) }) i += 1
          push(s.substring(st, i))
        }
      }
    } else {
      while (i < s.length) {
        if (s.charAt(i) == ' ') i += 1
        else {
          val st = i
          while (i < s.length && s.charAt(i) != ' ') i += 1
          push(s.substring(st, i))
        }
      }
    }
    pairsToArray(m)
  }

  /** [[gramTfPairs]] on a committed dictionary grain (round 16): the
    * row's distinct word-n-grams with counts over the FMM token
    * sequence — the [[fmmTermTfPairs]] walk feeding the
    * [[gramTfPairs]] ring. Word n-grams over characters measure
    * character adjacency; over FMM words they measure the word-order
    * signal the LM-filter ladder's bigram/trigram rungs exist for on
    * zh/th. Empties never arise (both branches skip spaces), matching
    * the ws branch's contract.
    */
  def fmmGramTfPairs(text: UTF8String, n: Int,
                     lex: graft.ops.FmmLexicon): ArrayData = {
    val s = text.toString
    val m = new java.util.LinkedHashMap[String, Array[Long]]()
    val ring = new Array[String](n)
    var filled = 0
    val sb = new java.lang.StringBuilder()
    @inline def push(tok: String): Unit = {
      var k = 0
      while (k < n - 1) { ring(k) = ring(k + 1); k += 1 }
      ring(n - 1) = tok
      if (filled < n) filled += 1
      if (filled == n) {
        sb.setLength(0)
        k = 0
        while (k < n) { if (k > 0) sb.append(' '); sb.append(ring(k)); k += 1 }
        val g = sb.toString
        val c = m.get(g)
        if (c == null) m.put(g, Array(1L)) else c(0) += 1L
      }
    }
    var i = 0
    if (isDominated(s)) {
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == ' ') i += 1
        else {
          val w = lex.longestMatch(s, i)
          if (w != null) { push(w); i += w.length }
          else if (isCjk(c)) { push(String.valueOf(c)); i += 1 }
          else {
            val st = i
            i += 1
            while (i < s.length && { val cc = s.charAt(i); cc != ' ' && !isCjk(cc) }) i += 1
            push(s.substring(st, i))
          }
        }
      }
    } else {
      while (i < s.length) {
        if (s.charAt(i) == ' ') i += 1
        else {
          val st = i
          while (i < s.length && s.charAt(i) != ' ') i += 1
          push(s.substring(st, i))
        }
      }
    }
    pairsToArray(m)
  }

  /** [[HashOps.dsirBuckets]] on the routed grain: hashed unigram +
    * bigram bucket ids over the ROUTED token sequence on dominated
    * rows (layout `[unigrams…, bigrams…]`, same hash, same `% B`) —
    * without it an unsegmented doc contributes ONE whole-document
    * unigram and no bigrams, so DSIR's importance distributions carry
    * no signal on exactly the rows a cjk target predicate selects for.
    * Non-dominated rows delegate to the fused ws byte scan.
    */
  def routedDsirBuckets(text: UTF8String, buckets: Int): ArrayData = {
    val s = text.toString
    if (!isDominated(s)) return HashOps.dsirBuckets(text, buckets)
    // this kernel materializes tokens anyway (every one is hashed, the
    // bigram leg re-reads neighbors), so it reuses the shared dominated
    // walk instead of an eighth hand-inlined copy — the megamorphic-
    // dispatch rationale in the NOTE above only covers count-only
    // scans; the post-dominance entry skips a second dominance pass
    val toks = dominatedTokenArray(s)
    val m = toks.numElements()
    if (m == 0) return new GenericArrayData(Array.emptyLongArray)
    val space = UTF8String.fromString(" ")
    val out = new Array[Long](m + math.max(0, m - 1))
    var j = 0
    while (j < m) {
      out(j) = HashOps.hashUtf8(toks.getUTF8String(j)) % buckets
      j += 1
    }
    j = 0
    while (j < m - 1) {
      out(m + j) = HashOps.hashUtf8(UTF8String.concat(
        toks.getUTF8String(j), space, toks.getUTF8String(j + 1))) % buckets
      j += 1
    }
    new GenericArrayData(out)
  }

  /** [[HashOps.termCounts]] on the routed grain — `[doc_len, tf_0, …,
    * tf_q]` with doc_len and term matches counted over routed tokens
    * (token = term by exact codepoint equality, i.e. SQL string `=`);
    * non-dominated rows delegate to the ws byte scan unchanged. The
    * BM25 cjk leg rides this instead of materializing the token array
    * and paying one `array_remove` length-diff per term.
    */
  def routedTermCounts(text: UTF8String, termBytes: Array[Array[Byte]],
                       termStrs: Array[String]): ArrayData = {
    val s = text.toString
    if (!isDominated(s)) return HashOps.termCounts(text, termBytes)
    val out = new Array[Long](termStrs.length + 1)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ') i += 1
      else {
        val st = i
        if (isCjk(c)) i += 1
        else {
          i += 1
          while (i < s.length && { val cc = s.charAt(i); cc != ' ' && !isCjk(cc) }) i += 1
        }
        out(0) += 1
        val len = i - st
        var t = 0
        while (t < termStrs.length) {
          val ts = termStrs(t)
          if (ts.length == len && s.regionMatches(st, ts, 0, len)) out(t + 1) += 1
          t += 1
        }
      }
    }
    new GenericArrayData(out)
  }

  /** [[routedTermCounts]] on the `cjk-dict` grain — doc length and
    * per-term matches over the FMM token walk (BM25's doc-stats
    * projection, dict mode: multi-codepoint query terms like 人工智能
    * match as ONE token where the codepoint grain would shred them).
    */
  def fmmTermCounts(text: UTF8String, termBytes: Array[Array[Byte]],
                    termStrs: Array[String],
                    lex: graft.ops.FmmLexicon): ArrayData = {
    val s = text.toString
    if (!isDominated(s)) return HashOps.termCounts(text, termBytes)
    val out = new Array[Long](termStrs.length + 1)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ') i += 1
      else {
        val st = i
        val w = lex.longestMatch(s, i)
        if (w != null) i += w.length
        else if (isCjk(c)) i += 1
        else {
          i += 1
          while (i < s.length && { val cc = s.charAt(i); cc != ' ' && !isCjk(cc) }) i += 1
        }
        out(0) += 1
        val len = i - st
        var t = 0
        while (t < termStrs.length) {
          val ts = termStrs(t)
          if (ts.length == len && s.regionMatches(st, ts, 0, len)) out(t + 1) += 1
          t += 1
        }
      }
    }
    new GenericArrayData(out)
  }

  /** Count-only FMM walk (round 15) — the dict-grain twin of
    * [[routedTokenCountAll]]: token count WITH empties on the ws
    * fallback branch, so [[graft.ops.Dedup.shingleFloorPred]] can gate
    * sub-k-token docs without materializing a token array. Same walk
    * as [[fmmTokens]] minus the buffer.
    */
  def fmmTokenCountAll(text: UTF8String,
                       lex: graft.ops.FmmLexicon): Long = {
    val s = text.toString
    if (isDominated(s)) {
      var n = 0L
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == ' ') i += 1
        else {
          val w = lex.longestMatch(s, i)
          if (w != null) i += w.length
          else if (isCjk(c)) i += 1
          else {
            i += 1
            while (i < s.length && { val cc = s.charAt(i); cc != ' ' && !isCjk(cc) }) i += 1
          }
          n += 1
        }
      }
      n
    } else {
      // split(" ", -1) semantics: empties count (n spaces -> n+1 tokens)
      var n = 1L
      var i = 0
      while (i < s.length) { if (s.charAt(i) == ' ') n += 1; i += 1 }
      n
    }
  }

  def flags(text: UTF8String,
            minWords: Int, maxWords: Int,
            minMeanLen: Double, maxMeanLen: Double,
            maxSymbolRatio: Double, minAlphaWordRatio: Double,
            minStopHits: Int, maxBulletRatio: Double, maxEllipsisRatio: Double,
            stop: java.util.HashSet[String], cjkAuto: Boolean): ArrayData = {
    val s = text.toString
    val lines = s.split("\n", -1)
    val nL = lines.length

    val lenCp = s.codePointCount(0, s.length)
    var spaces = 0; var hashes = 0; var ncjk = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ') spaces += 1 else if (c == '#') hashes += 1
      // >= lowest range start: ASCII/Latin text short-circuits on one
      // compare instead of paying the membership load per char
      if (cjkAuto && c >= 0x0E00 && isCjk(c)) ncjk += 1
      i += 1
    }
    // dominance: unsegmented codepoints >= half the non-space
    // CODEPOINTS and present at all (ranges are BMP, so the char count
    // is the codepoint count; non-space codepoints = lenCp - spaces)
    val routed = cjkAuto && ncjk > 0 && 2 * ncjk >= lenCp - spaces

    // non-overlapping '...' occurrences = chars replace() removes / 3
    var dots = 0; var from = 0
    while ({ from = s.indexOf("...", from); from >= 0 }) { dots += 1; from += 3 }

    var nW = 0; var alphaWords = 0; var stopHits = 0
    if (routed) {
      // routed grain (`cjkChar|[^ cjk]+`): count tokens and alpha
      // tokens in one walk WITHOUT materializing them — every
      // unsegmented codepoint is its own (letter) token, a run of
      // other non-space chars is one token, alphabetic iff it contains
      // ASCII alpha; the stop rule is exempt on routed rows, so no
      // token strings are ever needed
      var i2 = 0
      while (i2 < s.length) {
        val c = s.charAt(i2)
        if (c == ' ') i2 += 1
        else if (isCjk(c)) { nW += 1; alphaWords += 1; i2 += 1 }
        else {
          var hasAlpha = false
          var cc = c
          while ({
            if ((cc >= 'A' && cc <= 'Z') || (cc >= 'a' && cc <= 'z')) hasAlpha = true
            i2 += 1
            i2 < s.length && { cc = s.charAt(i2); cc != ' ' && !isCjk(cc) }
          }) ()
          nW += 1
          if (hasAlpha) alphaWords += 1
        }
      }
    } else {
      val words = s.split(" ", -1)
      nW = words.length
      i = 0
      while (i < nW) {
        val w = words(i)
        var j = 0; var hasAlpha = false
        while (!hasAlpha && j < w.length) {
          val c = w.charAt(j)
          if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) hasAlpha = true
          j += 1
        }
        if (hasAlpha) alphaWords += 1
        if (stop.contains(w)) stopHits += 1
        i += 1
      }
    }
    val nWd = nW.toDouble
    var bullets = 0; var ellipsisLines = 0
    i = 0
    while (i < nL) {
      val l = lines(i)
      if (l.startsWith("-") || l.startsWith("*")) bullets += 1
      if (l.endsWith("...")) ellipsisLines += 1
      i += 1
    }

    val rWords = if (nW >= minWords && nW <= maxWords) 1 else 0
    val meanLen = (lenCp - spaces).toDouble / nWd
    val rMean = if (routed || (meanLen >= minMeanLen && meanLen <= maxMeanLen)) 1 else 0
    // declarative order: (hashChars + ellipsisChars / 3) / n_words
    val symbolRatio = (hashes.toDouble + (3 * dots).toDouble / 3.0) / nWd
    val rSymbol = if (symbolRatio <= maxSymbolRatio) 1 else 0
    val rAlpha = if (alphaWords.toDouble / nWd >= minAlphaWordRatio) 1 else 0
    val rStop = if (routed || stopHits >= minStopHits) 1 else 0
    val rBullet = if (bullets.toDouble / nL.toDouble <= maxBulletRatio) 1 else 0
    val rEllipsis = if (ellipsisLines.toDouble / nL.toDouble <= maxEllipsisRatio) 1 else 0
    new GenericArrayData(Array(nW, rWords, rMean, rSymbol, rAlpha, rStop,
      rBullet, rEllipsis))
  }
}

/** Compiled language-marker scores — `graft_lang_scores(text)`: for
  * each language in [[graft.ops.TextAnalysis.langMarkers]] (fixed
  * order), the number of DISTINCT words of `split(text, ' ')` that
  * appear in that language's marker list — bit-equal to the
  * declarative `size(array_intersect(array_distinct(split(t, ' ')),
  * markers))` per language, but ONE byte scan with a shared
  * word→(lang, marker) map instead of five interpreted
  * distinct+intersect walks per row (distinctness via per-language
  * marker bitmasks; a marker word hit twice counts once).
  */
object LangOps {
  import graft.ops.TextAnalysis.langMarkers

  val nLangs: Int = langMarkers.size
  // word -> bit positions (langIdx * 32 + markerIdx); marker lists are
  // small (≤ 32 per language by construction below)
  private val hits: java.util.HashMap[String, Array[Int]] = {
    require(langMarkers.forall(_._2.size <= 32), "marker lists must fit a 32-bit mask")
    // each marker gets its own bit, so a DUPLICATED word within one
    // language would count twice where array_intersect counts once —
    // reject it at class load, not at a downstream fuzz failure
    require(langMarkers.forall { case (_, ws) => ws.distinct.size == ws.size },
      "marker lists must be duplicate-free (bitmask counting assumes it)")
    val m = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Int]]()
    langMarkers.zipWithIndex.foreach { case ((_, ws), li) =>
      ws.zipWithIndex.foreach { case (w, mi) =>
        m.computeIfAbsent(w, _ => scala.collection.mutable.ArrayBuffer.empty) += (li * 32 + mi)
      }
    }
    val out = new java.util.HashMap[String, Array[Int]]()
    m.forEach((k, v) => out.put(k, v.toArray))
    out
  }

  def scores(text: UTF8String): ArrayData = {
    val words = text.toString.split(" ", -1)
    val masks = new Array[Int](nLangs)
    var i = 0
    while (i < words.length) {
      val ps = hits.get(words(i))
      if (ps != null) {
        var j = 0
        while (j < ps.length) {
          masks(ps(j) / 32) |= 1 << (ps(j) % 32)
          j += 1
        }
      }
      i += 1
    }
    val out = new Array[Int](nLangs)
    i = 0
    while (i < nLangs) { out(i) = Integer.bitCount(masks(i)); i += 1 }
    new GenericArrayData(out)
  }
}

/** `graft_lang_scores(text)` — see [[LangOps.scores]]. */
case class LangScores(child: Expression) extends UnaryExpression {
  override def prettyName: String = "graft_lang_scores"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${dt.catalogString}")
  }
  override def nullSafeEval(s: Any): Any =
    LangOps.scores(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.LangOps.scores($s);")
  override protected def withNewChildInternal(c: Expression): LangScores =
    copy(child = c)
}

/** `graft_gopher_flags(text, minWords, maxWords, minMeanLen, maxMeanLen,
  * maxSymbolRatio, minAlphaWordRatio, minStopHits, maxBulletRatio,
  * maxEllipsisRatio, stopWords, grain)` — see [[GopherOps.flags]];
  * `grain` names a scalar [[WordGrain]] (`'ws'`, `'cjk-auto'`).
  */
case class GopherFlags(child: Expression,
                       minWords: Int, maxWords: Int,
                       minMeanLen: Double, maxMeanLen: Double,
                       maxSymbolRatio: Double, minAlphaWordRatio: Double,
                       minStopHits: Int, maxBulletRatio: Double,
                       maxEllipsisRatio: Double,
                       stopWords: Seq[String],
                       grain: String = WordGrain.Ws.name) extends UnaryExpression {
  private val cjkAuto: Boolean = WordGrain.scalar(grain).routed
  override def prettyName: String = "graft_gopher_flags"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${dt.catalogString}")
  }

  // same build as StopCount.stopSet — the kernel's stop counting must
  // stay in lockstep with graft_stop_count (the HOF baseline's path);
  // any normalization added there must land here too
  @transient lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopWords.foreach(s.add)
    s
  }

  override def nullSafeEval(s: Any): Any =
    GopherOps.flags(s.asInstanceOf[UTF8String], minWords, maxWords,
      minMeanLen, maxMeanLen, maxSymbolRatio, minAlphaWordRatio,
      minStopHits, maxBulletRatio, maxEllipsisRatio, stopSet, cjkAuto)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gopherFlagsExpr", this, classOf[GopherFlags].getName)
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.GopherOps.flags($s, " +
        s"$minWords, $maxWords, $minMeanLen, $maxMeanLen, $maxSymbolRatio, " +
        s"$minAlphaWordRatio, $minStopHits, $maxBulletRatio, $maxEllipsisRatio, " +
        s"$ref.stopSet(), $cjkAuto);")
  }

  override protected def withNewChildInternal(c: Expression): GopherFlags =
    copy(child = c)
}

/** `graft_term_tf(text[, grain])` — see [[GopherOps.termTfPairs]]:
  * the row's distinct tokens with counts as ARRAY<STRUCT<w, tf>>,
  * the row-local replacement for the corpus-sized
  * explode→groupBy(id, w)→count aggregate in TF-IDF / unigram-style
  * consumers.
  */
case class TermTf(child: Expression, grain: String = WordGrain.Ws.name)
    extends UnaryExpression {
  private val wordGrain = WordGrain(grain)
  override def prettyName: String = "graft_term_tf"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(new StructType()
    .add("w", StringType, nullable = false)
    .add("tf", LongType, nullable = false), containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${dt.catalogString}")
  }
  override def nullSafeEval(s: Any): Any = wordGrain match {
    case d: DictGrain => GopherOps.fmmTermTfPairs(s.asInstanceOf[UTF8String], d.lexicon)
    case g: ScalarGrain => GopherOps.termTfPairs(s.asInstanceOf[UTF8String], g.routed)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => wordGrain match {
      case d: DictGrain =>
        s"${ev.value} = graft.functions.GopherOps.fmmTermTfPairs($s, ${d.javaRef});"
      case g: ScalarGrain =>
        s"${ev.value} = graft.functions.GopherOps.termTfPairs($s, ${g.routed});"
    })
  override protected def withNewChildInternal(c: Expression): TermTf =
    copy(child = c)
}

/** `graft_fmm_tokens(text, keepEmpties[, grain])` — see
  * [[GopherOps.fmmTokens]]: the compiled dictionary word grain as
  * ARRAY<STRING> — forward maximum match over the committed lexicon
  * of the dict grain the literal names ([[graft.ops.DictGrain]];
  * default `'cjk-dict'` = [[graft.ops.ZhLexicon]]) on dominance-routed
  * rows, whitespace grain otherwise.
  */
case class FmmTokens(child: Expression, keepEmpties: Boolean,
                     grain: String = WordGrain.CjkDict.name)
    extends UnaryExpression {
  private val wordGrain = WordGrain.dict(grain)
  override def prettyName: String = "graft_fmm_tokens"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${dt.catalogString}")
  }
  override def nullSafeEval(s: Any): Any =
    GopherOps.fmmTokens(s.asInstanceOf[UTF8String], keepEmpties, wordGrain.lexicon)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.GopherOps.fmmTokens($s, $keepEmpties, " +
        s"${wordGrain.javaRef});")
  override protected def withNewChildInternal(c: Expression): FmmTokens =
    copy(child = c)
}

/** `graft_fmm_token_count(text[, grain])` — see
  * [[GopherOps.fmmTokenCountAll]]: the dict-grain token count WITH
  * ws-branch empties, the floor predicate's count-only kernel (the
  * dict twin of `graft_routed_token_count`).
  */
case class FmmTokenCount(child: Expression, grain: String = WordGrain.CjkDict.name)
    extends UnaryExpression {
  private val wordGrain = WordGrain.dict(grain)
  override def prettyName: String = "graft_fmm_token_count"
  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${dt.catalogString}")
  }
  override def nullSafeEval(s: Any): Any =
    GopherOps.fmmTokenCountAll(s.asInstanceOf[UTF8String], wordGrain.lexicon)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.GopherOps.fmmTokenCountAll($s, ${wordGrain.javaRef});")
  override protected def withNewChildInternal(c: Expression): FmmTokenCount =
    copy(child = c)
}

/** `graft_sentence_chunks(text, size, grain)` — see
  * [[GopherOps.sentenceChunks]]: row-local sentence-aligned chunking
  * as ARRAY<STRUCT<chunk_idx, n_sentences, n_tokens, chunk_text>> —
  * zero shuffle, streaming-safe. `grain` names a scalar
  * [[WordGrain]]: `'ws'` counts the chunkers' BPE-ish
  * tokens, `'cjk-auto'` routed words.
  */
case class SentenceChunks(child: Expression, size: Int, grain: String)
    extends UnaryExpression {
  require(size > 0, s"graft_sentence_chunks requires positive size, got $size")
  private val cjkGrain = WordGrain.scalar(grain).routed
  override def prettyName: String = "graft_sentence_chunks"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(new StructType()
    .add("chunk_idx", IntegerType, nullable = false)
    .add("n_sentences", LongType, nullable = false)
    .add("n_tokens", LongType, nullable = false)
    .add("chunk_text", StringType, nullable = false), containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${dt.catalogString}")
  }
  override def nullSafeEval(s: Any): Any =
    GopherOps.sentenceChunks(s.asInstanceOf[UTF8String], size, cjkGrain)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.GopherOps.sentenceChunks($s, $size, $cjkGrain);")
  override protected def withNewChildInternal(c: Expression): SentenceChunks =
    copy(child = c)
}

/** `graft_gram_tf(text, n[, grain])` — see [[GopherOps.gramTfPairs]]:
  * the row's distinct word-n-grams with counts as ARRAY<STRUCT<w,
  * tf>>, fused from raw text (no HOF child, no per-gram explode
  * grain); `'cjk-auto'` grams over the routed token sequence on
  * script-dominated rows; dict grains ([[graft.ops.DictGrain]],
  * round 16) over the FMM word sequence via [[GopherOps.fmmGramTfPairs]].
  */
case class GramTf(child: Expression, n: Int, grain: String = WordGrain.Ws.name)
    extends UnaryExpression {
  require(n > 0, s"graft_gram_tf requires positive n, got $n")
  private val wordGrain = WordGrain(grain)
  override def prettyName: String = "graft_gram_tf"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(new StructType()
    .add("w", StringType, nullable = false)
    .add("tf", LongType, nullable = false), containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${dt.catalogString}")
  }
  override def nullSafeEval(s: Any): Any = wordGrain match {
    case d: DictGrain => GopherOps.fmmGramTfPairs(s.asInstanceOf[UTF8String], n, d.lexicon)
    case g: ScalarGrain => GopherOps.gramTfPairs(s.asInstanceOf[UTF8String], n, g.routed)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => wordGrain match {
      case d: DictGrain =>
        s"${ev.value} = graft.functions.GopherOps.fmmGramTfPairs($s, $n, ${d.javaRef});"
      case g: ScalarGrain =>
        s"${ev.value} = graft.functions.GopherOps.gramTfPairs($s, $n, ${g.routed});"
    })
  override protected def withNewChildInternal(c: Expression): GramTf =
    copy(child = c)
}

/** `graft_routed_token_count(text)` — see [[GopherOps.routedTokenCountAll]]:
  * `size(graft_routed_tokens(text, true))` as a count-only walk, the
  * cheap shingle-floor predicate on the routed grain (no token array
  * in the filter, mirroring the ws path's `size(split(text, ' '))`).
  */
case class RoutedTokenCount(child: Expression) extends UnaryExpression {
  override def prettyName: String = "graft_routed_token_count"
  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${dt.catalogString}")
  }
  override def nullSafeEval(s: Any): Any =
    GopherOps.routedTokenCountAll(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.GopherOps.routedTokenCountAll($s);")
  override protected def withNewChildInternal(c: Expression): RoutedTokenCount =
    copy(child = c)
}

/** `graft_routed_tokens(text, keepEmpties)` — see [[GopherOps.routedTokens]]:
  * the compiled `cjk-auto` word grain as ARRAY<STRING>, bit-equal to
  * the declarative routed construction
  * ([[graft.ops.TextAnalysis.routedTokensRegex]]) that costs a
  * regex-engine pass per row. The explode-consuming retrieval/keyword
  * legs (tfidf/unigram) ride this; count-only consumers ride
  * `graft_word_count(t, 'cjk-auto')` instead and never materialize
  * the array.
  */
case class RoutedTokens(child: Expression, keepEmpties: Boolean)
    extends UnaryExpression {
  override def prettyName: String = "graft_routed_tokens"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${dt.catalogString}")
  }
  override def nullSafeEval(s: Any): Any =
    GopherOps.routedTokens(s.asInstanceOf[UTF8String], keepEmpties)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.GopherOps.routedTokens($s, $keepEmpties);")
  override protected def withNewChildInternal(c: Expression): RoutedTokens =
    copy(child = c)
}
