package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** JVM implementations of the [[graft.ops.PortableHash]] arithmetic,
  * shared by the interpreted `eval` and generated code of the native
  * hash expressions (generated Java calls these statics directly — the
  * expressions stay inside whole-stage codegen with a one-call body).
  *
  * Every method is bit-for-bit equivalent to its SQL-fragment twin:
  *   H(s)            = int(first 15 hex digits of md5(utf8(s))) % P
  *                   = (first 8 digest bytes as big-endian u64) >>> 4, % P
  *   universal(i, h) = ((37+61i)*h + (101+97i)) % P
  *   fold(hs)        = foldl(hs, 7, (acc,h) -> (acc*31+h) % P)
  * so the DuckDB oracle (same fragments in its dialect) hash-matches.
  */
object HashOps {
  val P: Long = graft.ops.PortableHash.P

  private val md = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** H over the string's UTF-8 bytes (UTF8String stores exactly those). */
  def hashUtf8(s: UTF8String): Long = {
    val d = md.get(); d.reset()
    val b = d.digest(s.getBytes)
    // first 15 hex digits == top 60 bits of the first 8 bytes
    val top = ((b(0) & 0xffL) << 56) | ((b(1) & 0xffL) << 48) |
      ((b(2) & 0xffL) << 40) | ((b(3) & 0xffL) << 32) |
      ((b(4) & 0xffL) << 24) | ((b(5) & 0xffL) << 16) |
      ((b(6) & 0xffL) << 8) | (b(7) & 0xffL)
    (top >>> 4) % P
  }

  /** Signed feature-hash embedding (the hashing trick): token t adds
    * ±1 (sign bit `(H div dim) % 2`) to bucket `H(t) % dim`. One
    * md5-per-token pass — the compiled twin of the per-bucket
    * `aggregate` fold, which interprets dim SEPARATE folds per row
    * (hybrid retrieval at 1M docs: 141.7s declarative → 26.3s with this
    * kernel behind regexp tokenization → 8.5s with the fused
    * [[hashEmbedText]]). Null/empty tokens contribute nothing.
    */
  def hashEmbed(words: ArrayData, dim: Int): ArrayData = {
    val out = new Array[Long](dim)
    val n = words.numElements()
    var i = 0
    while (i < n) {
      val w = words.getUTF8String(i)
      if (w != null && w.numBytes() > 0) {
        val h = hashUtf8(w)
        out((h % dim).toInt) += (if (((h / dim) % 2) == 0L) -1L else 1L)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Canonical text normalization for dedup/matching: Unicode NFC, then
    * one pass lowering ASCII A–Z and collapsing ASCII whitespace runs
    * (space, \t, \n, \r, \f) to single spaces, trimmed. DELIBERATELY
    * ASCII-only case mapping: full Unicode case folding is
    * implementation-variant (JVM full mappings vs utf8proc simple —
    * 'İ'→"i̇" vs 'i', final sigma ς vs σ), so restricting to the subset
    * both engines agree on keeps the op oracle-exact; NFC itself is a
    * standard both implement identically.
    */
  def normalizeText(s: UTF8String): UTF8String = {
    val nfc = java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFC)
    val sb = new java.lang.StringBuilder(nfc.length)
    var pendingSpace = false
    var started = false
    var i = 0
    while (i < nfc.length) {
      val c = nfc.charAt(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f')
        pendingSpace = true
      else {
        if (pendingSpace && started) sb.append(' ')
        pendingSpace = false; started = true
        sb.append(if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** Spark-semantics lowercase + whitespace collapse + trim in ONE
    * scan — the compiled form of the chain a Spark user actually
    * authors, `trim(regexp_replace(lower(t), '[ \t\n\r\f]+', ' '))`
    * (no declarative NFC exists in Spark SQL, and `lower()` is FULL
    * Unicode, so this is deliberately a different op from
    * [[normalizeText]]'s oracle-portable ASCII fold — the rewrite rule
    * must stay value-invariant against what the user wrote).
    * `vt` adds U+000B (vertical tab) to the collapse set — the `'\\s+'` spelling of
    * the same chain (Java `\s` includes vertical tab). Non-class
    * whitespace is emitted verbatim, and only collapse-produced
    * spaces can lead/trail, exactly as the replace-then-trim(0x20)
    * chain behaves.
    */
  def lowerCollapse(s: UTF8String, vt: Boolean): UTF8String = {
    val low = s.toLowerCase.toString // Spark Lower's own mapping
    val sb = new java.lang.StringBuilder(low.length)
    var pendingSpace = false
    var started = false
    var i = 0
    while (i < low.length) {
      val c = low.charAt(i)
      val isWs = c == ' ' || c == '\t' || c == '\n' || c == '\r' ||
        c == '\f' || (vt && c == '\u000B')
      if (isWs) pendingSpace = true
      else {
        if (pendingSpace && started) sb.append(' ')
        pendingSpace = false; started = true
        sb.append(c)
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** md5-based H over a byte range (no UTF8String allocation). */
  private def hashRange(b: Array[Byte], off: Int, len: Int): Long = {
    val d = md.get(); d.reset()
    d.update(b, off, len)
    val g = d.digest()
    val top = ((g(0) & 0xffL) << 56) | ((g(1) & 0xffL) << 48) |
      ((g(2) & 0xffL) << 40) | ((g(3) & 0xffL) << 32) |
      ((g(4) & 0xffL) << 24) | ((g(5) & 0xffL) << 16) |
      ((g(6) & 0xffL) << 8) | (g(7) & 0xffL)
    (top >>> 4) % P
  }

  /** Tokenize-and-embed fused: one byte scan over the raw text applying
    * the BPE-ish token classes (`[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]` —
    * ASCII-letter runs, digit runs, every other non-space CODE POINT one
    * token, the [[tokenCount]] contract) and folding each token's
    * portable hash straight into the signed embedding — no regex engine,
    * no token-array materialization (the regexp_extract_all +
    * [[hashEmbed]] pipeline pays both: whole hybrid query at 1M docs
    * 26.3s → 8.5s, the vector leg's share dropping to ~2.5s).
    */
  def hashEmbedText(text: UTF8String, dim: Int): ArrayData = {
    val b = text.getBytes
    val out = new Array[Long](dim)
    val n = b.length
    @inline def isAlpha(c: Byte) =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
    @inline def isDigit(c: Byte) = c >= '0' && c <= '9'
    @inline def add(off: Int, len: Int): Unit = {
      val h = hashRange(b, off, len)
      out((h % dim).toInt) += (if (((h / dim) % 2) == 0L) -1L else 1L)
    }
    var i = 0
    while (i < n) {
      val c = b(i)
      if (c == ' ') i += 1
      else if (isAlpha(c)) {
        val s = i; while (i < n && isAlpha(b(i))) i += 1; add(s, i - s)
      } else if (isDigit(c)) {
        val s = i; while (i < n && isDigit(b(i))) i += 1; add(s, i - s)
      } else {
        // one code point: UTF-8 sequence length from the lead byte
        val u = c & 0xff
        val len = if (u < 0x80) 1 else if (u < 0xe0) 2 else if (u < 0xf0) 3 else 4
        val e = math.min(i + len, n)
        add(i, e - i); i = e
      }
    }
    new GenericArrayData(out)
  }

  /** Distinct hashed word-k-shingles (first-occurrence order — the
    * array_distinct twin); empty when the doc has fewer than k words.
    */
  def shingleHashes(words: ArrayData, k: Int): ArrayData = {
    val n = words.numElements()
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= n - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(words.getUTF8String(i + j).toString)
        j += 1
      }
      seen.add(hashUtf8(UTF8String.fromString(sb.toString)))
      i += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator(); var x = 0
    while (it.hasNext) { out(x) = it.next(); x += 1 }
    new GenericArrayData(out)
  }

  /** numHashes minima of universal hashes over `hs` — the MinHash
    * signature. Null elements when `hs` is empty (the `array_min` of an
    * empty transform), matching the declarative form.
    */
  def minhashSig(hs: ArrayData, numHashes: Int): ArrayData = {
    val n = hs.numElements()
    if (n == 0) return new GenericArrayData(new Array[Any](numHashes))
    val out = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      val a = 37L + 61L * i; val b = 101L + 97L * i
      var best = Long.MaxValue; var j = 0
      while (j < n) {
        val v = (a * hs.getLong(j) + b) % P
        if (v < best) best = v
        j += 1
      }
      out(i) = best; i += 1
    }
    new GenericArrayData(out)
  }

  /** Occurrences of words present in `stop` — the compiled twin of
    * `size(filter(words, w -> array_contains(stop, w)))` (a per-word
    * interpreted lambda in HOF form). The set is built once per
    * expression instance; lookups are O(1).
    */
  def countIn(words: ArrayData, stop: java.util.HashSet[String]): Int = {
    val n = words.numElements()
    var c = 0; var i = 0
    while (i < n) {
      if (stop.contains(words.getUTF8String(i).toString)) c += 1
      i += 1
    }
    c
  }

  /** BPE-ish token count — the compiled twin of
    * `size(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0))`:
    * maximal ASCII-letter runs, maximal digit runs, and every other
    * non-space code point count one token each. Iterates CODE POINTS
    * (Java regex and DuckDB's RE2 both match per code point, so astral
    * characters count once on every path).
    */
  def tokenCount(text: UTF8String): Int = {
    val s = text.toString
    val len = s.length
    var n = 0; var i = 0
    while (i < len) {
      val cp = s.codePointAt(i)
      if (cp == ' ') i += 1
      else if ((cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z')) {
        n += 1
        while (i < len && { val c = s.charAt(i); (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') }) i += 1
      } else if (cp >= '0' && cp <= '9') {
        n += 1
        while (i < len && { val c = s.charAt(i); c >= '0' && c <= '9' }) i += 1
      } else {
        n += 1
        i += Character.charCount(cp)
      }
    }
    n
  }

  /** Count of ASCII letters — the compiled twin of
    * `length(regexp_replace(text, '[^a-zA-Z]', ''))`. ASCII letters are
    * single UTF-8 bytes, so this is a byte scan with no decode.
    */
  def alphaCount(text: UTF8String): Int = {
    val b = text.getBytes
    var n = 0; var i = 0
    while (i < b.length) {
      val c = b(i)
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) n += 1
      i += 1
    }
    n
  }

  /** One-pass doc stats for BM25: split on single spaces (0x20; empty
    * tokens from space runs skipped — the `filter(split(text,' '),
    * w -> w <> '')` contract), return `[n_words, tf_0, …, tf_q]`. Term
    * match is UTF-8 byte equality, i.e. SQL string `=`.
    */
  def termCounts(text: UTF8String, terms: Array[Array[Byte]]): org.apache.spark.sql.catalyst.util.ArrayData = {
    val b = text.getBytes
    val out = new Array[Long](terms.length + 1)
    val n = b.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || b(i) == ' ') {
        if (i > start) {
          out(0) += 1
          val len = i - start
          var t = 0
          while (t < terms.length) {
            val tb = terms(t)
            if (tb.length == len) {
              var j = 0
              while (j < len && b(start + j) == tb(j)) j += 1
              if (j == len) out(t + 1) += 1
            }
            t += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** SimHash over the word-hash sequence: bit j of the result is set iff
    * the sum over words of (bit j of H(word) ? +1 : -1) is positive.
    * One pass over the words; all `bits` votes accumulate in one array —
    * the declarative form re-folds the hash array once per bit.
    */
  def simhashWords(words: ArrayData, bits: Int): Long = {
    val n = words.numElements()
    val votes = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val h = hashUtf8(words.getUTF8String(i))
      var j = 0
      while (j < bits) {
        // matches the SQL twin `(h div 2^j) % 2` — h < P so div/mod on
        // nonnegative values equal bit extraction
        if (((h >> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L; var j = 0
    while (j < bits) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** Order-sensitive rolling fingerprint over the word-hash sequence:
    * foldl(H(words), 7, (acc,h) -> (acc*31+h) % P).
    */
  def fingerprintWords(words: ArrayData): Long = {
    val n = words.numElements()
    var acc = 7L; var i = 0
    while (i < n) {
      acc = (acc * 31 + hashUtf8(words.getUTF8String(i))) % P
      i += 1
    }
    acc
  }

  /** Max occurrence count of any word n-gram — one pass over the row
    * with a frequency map bounded by THIS document's n-gram count (the
    * row-local twin of the distributed (doc, ngram) count-then-max
    * aggregation; see [[graft.ops.TextAnalysis.repetitionSignalsLocal]]
    * for when each shape is the right one). 0 when fewer than n words.
    */
  def topNgramCount(words: ArrayData, n: Int): Int = {
    val total = words.numElements()
    if (total < n) return 0
    val counts = new java.util.HashMap[String, Int]()
    val sb = new java.lang.StringBuilder()
    var best = 0
    var i = 0
    while (i <= total - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words.getUTF8String(i + j).toString)
        j += 1
      }
      val c = counts.merge(sb.toString, 1, (a, b) => a + b)
      if (c > best) best = c
      i += 1
    }
    best
  }

  /** All word n-grams in order (every occurrence — no dedup), joined by
    * single spaces: the compiled twin of the
    * `transform(sequence(...), i -> concat(...))` fragment.
    */
  def ngrams(words: ArrayData, n: Int): ArrayData = {
    val total = words.numElements()
    if (total < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](total - n + 1)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= total - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words.getUTF8String(i + j).toString)
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** POSITIONAL hashed word-k-grams — every occurrence, document order,
    * no dedup (the winnowing input; [[shingleHashes]] is the distinct
    * twin). Empty when the doc has fewer than k words.
    */
  def gramHashes(words: ArrayData, k: Int): ArrayData = {
    val n = words.numElements()
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](n - k + 1)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= n - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(words.getUTF8String(i + j).toString)
        j += 1
      }
      out(i) = hashUtf8(UTF8String.fromString(sb.toString))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Stupid-backoff level statistics in one compiled pass (the kernel
    * behind `graft_backoff_stats`): per trigram position probe the
    * sorted reference-vocabulary hash arrays highest-order-first —
    * trigram hit, else bigram, else unigram, else OOV — and accumulate
    * `[n_pos, n_tri, n_bi, n_uni, n_oov, s3, s2, s1]` (per-level
    * position counts and winning-level reference-frequency sums).
    * Lower-order hashes are computed ONLY on a miss (the declarative
    * twin pays all three joins per position). Binary search over the
    * broadcast-literal (hash, cnt) pairs; gram hashing identical to
    * [[gramHashes]] so the declarative hash-keyed form is bit-equal.
    * Docs under 3 words return all-zero stats (the caller filters
    * n_pos = 0 to match the explode→groupBy form's absent rows).
    */
  def backoffStats(words: ArrayData,
                   triH: Array[Long], triC: Array[Long],
                   biH: Array[Long], biC: Array[Long],
                   uniH: Array[Long], uniC: Array[Long]): ArrayData = {
    // compact away empty words here instead of a `filter(...)` HOF
    // upstream: higher-order functions are CodegenFallback and would
    // break the whole-stage span around this kernel
    val raw = words.numElements()
    val ws = new Array[UTF8String](raw)
    var n = 0
    var r = 0
    while (r < raw) {
      val w = words.getUTF8String(r)
      if (w != null && w.numBytes() > 0) { ws(n) = w; n += 1 }
      r += 1
    }
    val out = new Array[Long](8)
    if (n >= 3) {
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i <= n - 3) {
        val w0 = ws(i).toString
        val w1 = ws(i + 1).toString
        val w2 = ws(i + 2).toString
        sb.setLength(0); sb.append(w0).append(' ').append(w1).append(' ').append(w2)
        val i3 = java.util.Arrays.binarySearch(triH,
          hashUtf8(UTF8String.fromString(sb.toString)))
        if (i3 >= 0) { out(1) += 1; out(5) += triC(i3) }
        else {
          sb.setLength(0); sb.append(w0).append(' ').append(w1)
          val i2 = java.util.Arrays.binarySearch(biH,
            hashUtf8(UTF8String.fromString(sb.toString)))
          if (i2 >= 0) { out(2) += 1; out(6) += biC(i2) }
          else {
            val i1 = java.util.Arrays.binarySearch(uniH, hashUtf8(ws(i)))
            if (i1 >= 0) { out(3) += 1; out(7) += uniC(i1) }
            else out(4) += 1
          }
        }
        out(0) += 1
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  /** Winnowing fingerprint set in one compiled pass: positional gram
    * hashes ([[gramHashes]] inlined), sliding-window minima over windows
    * of `w` grams via a monotone deque (O(m) amortized — each index
    * enters and leaves the deque once), distinct + ascending sort. Docs
    * with fewer grams than `w` yield the min of what they have; < k
    * words yields empty — all matching the declarative
    * transform/slice/array_min twin value-for-value (per-window MIN
    * VALUES are tie-rule independent).
    */
  def winnowFps(words: ArrayData, k: Int, w: Int): ArrayData =
    slidingMinSet(gramHashes(words, k), w)

  /** Rolling token hash — see [[graft.ops.PortableHash.duckTokenRoll]]
    * for the cross-engine contract: `fold(7, cp -> (h*31 + cp) % P)`
    * over CODEPOINTS (surrogate pairs advance as one), no md5.
    */
  def tokenRollHash(w: UTF8String): Long = {
    val s = w.toString
    var h = 7L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) % graft.ops.PortableHash.P
      i += Character.charCount(cp)
    }
    // final mix — see PortableHash.rollMixA (window-min selection bias)
    (h * graft.ops.PortableHash.rollMixA + graft.ops.PortableHash.rollMixB) %
      graft.ops.PortableHash.P
  }

  /** ROLLING positional gram hashes (round 14): token hashes computed
    * ONCE per token ([[tokenRollHash]] — an integer fold, no md5, no
    * gram-string building), then each gram is the k-term fold
    * `g = fold(7, h -> (g*31 + h) % P)` of its window. Replaces
    * [[gramHashes]]' md5-per-gram in the winnow/containment family
    * (fingerprints never leave the op, so the hash needs no
    * cross-table identity); backoff keeps [[gramHashes]]/H, which key
    * its broadcast reference tables.
    */
  def gramRollHashes(words: ArrayData, k: Int): ArrayData = {
    val n = words.numElements()
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val th = new Array[Long](n)
    var i = 0
    while (i < n) { th(i) = tokenRollHash(words.getUTF8String(i)); i += 1 }
    val out = new Array[Long](n - k + 1)
    i = 0
    while (i <= n - k) {
      var g = 7L
      var j = 0
      while (j < k) { g = (g * 31 + th(i + j)) % graft.ops.PortableHash.P; j += 1 }
      out(i) = g
      i += 1
    }
    new GenericArrayData(out)
  }

  /** [[winnowFps]] over the rolling gram hashes. */
  def winnowRollFps(words: ArrayData, k: Int, w: Int): ArrayData =
    slidingMinSet(gramRollHashes(words, k), w)

  /** Sliding-window minima + distinct + ascending sort — the winnow
    * selection shared by the md5 and rolling gram-hash feeds (monotone
    * deque, O(m) amortized; per-window MIN VALUES are tie-rule
    * independent, so parity with the declarative twin is value-exact).
    */
  private def slidingMinSet(gh: ArrayData, w: Int): ArrayData = {
    val m = gh.numElements()
    if (m == 0) return new GenericArrayData(Array.emptyLongArray)
    val set = new java.util.TreeSet[java.lang.Long]()
    if (m <= w) {
      var mn = gh.getLong(0)
      var i = 1
      while (i < m) { if (gh.getLong(i) < mn) mn = gh.getLong(i); i += 1 }
      set.add(mn)
    } else {
      val deque = new java.util.ArrayDeque[Integer]()
      var i = 0
      while (i < m) {
        while (!deque.isEmpty && gh.getLong(deque.peekLast()) >= gh.getLong(i))
          deque.pollLast()
        deque.addLast(i)
        if (deque.peekFirst() <= i - w) deque.pollFirst()
        if (i >= w - 1) set.add(gh.getLong(deque.peekFirst()))
        i += 1
      }
    }
    val out = new Array[Long](set.size())
    val it = set.iterator(); var x = 0
    while (it.hasNext) { out(x) = it.next(); x += 1 }
    new GenericArrayData(out)
  }

  private def elemAt(v: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)

  /** Cosine of two FLOAT/DOUBLE vectors over their common prefix: the
    * three accumulations (a·b, a·a, b·b) fused into one ascending-index
    * pass, each bit-equal to its separate `list_reduce` fold in the
    * oracle. Zero-magnitude convention: sim(0⃗, ·) = 0. Without it the
    * engines DIVERGE, not just misbehave — Spark 0/0 is NaN (sorts
    * greatest), DuckDB x/0 is NULL (sorts last) — and a real corpus DOES
    * contain zero embeddings (failed encoder output).
    */
  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
    while (i < n) {
      val x = elemAt(a, i, aFloat); val y = elemAt(b, i, bFloat)
      ab += x * y; aa += x * x; bb += y * y; i += 1
    }
    val den = math.sqrt(aa) * math.sqrt(bb)
    if (den == 0.0) 0.0 else ab / den
  }

  /** Squared L2 distance over the common prefix, ascending-index fold. */
  def dist2(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0; var i = 0
    while (i < n) {
      val d = elemAt(a, i, aFloat) - elemAt(b, i, bFloat)
      acc += d * d; i += 1
    }
    acc
  }

  /** Inner product over the common prefix, ascending-index fold. */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0; var i = 0
    while (i < n) { acc += elemAt(a, i, aFloat) * elemAt(b, i, bFloat); i += 1 }
    acc
  }

  /** PQ asymmetric-distance lookup Σ_j flat[j·kSub + codes[j]], folded in
    * subspace order; null and out-of-range codes contribute nothing.
    */
  def pqAdc(codes: ArrayData, flat: ArrayData, kSub: Int): Double = {
    val m = codes.numElements()
    val n = flat.numElements()
    var acc = 0.0; var j = 0
    while (j < m) {
      if (!codes.isNullAt(j)) {
        val idx = j * kSub + codes.getInt(j)
        if (idx >= 0 && idx < n) acc += flat.getDouble(idx)
      }
      j += 1
    }
    acc
  }

  /** [[pqAdc]] over byte-packed codes (one unsigned byte per code). */
  def pqAdcPacked(codes: Array[Byte], flat: ArrayData, kSub: Int): Double = {
    val n = flat.numElements()
    var acc = 0.0; var j = 0
    while (j < codes.length) {
      val idx = j * kSub + (codes(j) & 0xff)
      if (idx < n) acc += flat.getDouble(idx)
      j += 1
    }
    acc
  }

  /** Sign-bit sketch of the first `bits` dims: bit i set iff `vec[i] > 0`. */
  def binarySketch(vec: ArrayData, bits: Int, isFloat: Boolean): Long = {
    val n = math.min(bits, vec.numElements())
    var acc = 0L; var i = 0
    while (i < n) {
      if (elemAt(vec, i, isFloat) > 0.0) acc |= (1L << i)
      i += 1
    }
    acc
  }

  /** True iff any non-null element might be in the bloom sketch
    * (short-circuits on the first hit; a null carries no evidence).
    */
  def bloomAny(bloom: BloomFilter, hashes: ArrayData): Boolean = {
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      if (!hashes.isNullAt(i) && bloom.mightContainLong(hashes.getLong(i))) return true
      i += 1
    }
    false
  }

  /** Pack int8 quantization codes (each in [-127, 127]) into a signed
    * byte array — the at-rest / in-memory form that actually realizes
    * the 4× compression vs float32 (Spark `ARRAY<INT>` holds 4-byte
    * elements; `BINARY` is byte-packed, and parquet stores it as plain
    * BYTE_ARRAY).
    */
  def packI8(codes: ArrayData): Array[Byte] = {
    val n = codes.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = codes.getInt(i).toByte; i += 1 }
    out
  }

  /** Cosine over two PACKED int8 code vectors: the same ascending-index
    * double fold as every other cosine in the engine (bit-equal to the
    * list-of-int folds the oracle runs — small-int products and sums are
    * exact in double), but scanning 1-byte codes straight out of the
    * packed binary. 0 for a zero-norm side, like the float kernel.
    */
  def cosineI8(a: Array[Byte], b: Array[Byte]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    // zero-magnitude convention (see [[cosine]]): sim(0⃗, ·) = 0
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) 0.0 else dot / den
  }

  /** CLIPPED multiset intersection `Σ_w min(cnt_a(w), cnt_b(w))` of two
    * string arrays — the modified-n-gram-precision numerator (BLEU/chrF
    * clipped counts, SQuAD token-F1 matches). One O(|a|+|b|) hash-map
    * pass, replacing the declarative
    * `aggregate(array_distinct(a), ..., least(size(filter(a, ·)),
    * size(filter(b, ·))))` walk that re-scans both arrays per DISTINCT
    * element in interpreted lambda dispatch — O(distinct·(|a|+|b|)),
    * the eval_overlap_chargram dominator at 60-gram rows. NULL elements
    * never match (the HOF's `x = w` NULL semantics: a NULL equality is
    * filtered, contributing zero) — arrays from split/filter carry none.
    */
  def clipCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 || nb == 0) return 0L
    // java.util.HashMap[_, Int]: an absent key's null value unboxes to
    // 0 in Scala, which is exactly the zero-count semantics both loops
    // want
    val counts = new java.util.HashMap[UTF8String, Int](na * 2)
    var i = 0
    while (i < na) {
      if (!a.isNullAt(i)) {
        val w = a.getUTF8String(i)
        counts.put(w, counts.get(w) + 1)
      }
      i += 1
    }
    var m = 0L
    var j = 0
    while (j < nb) {
      if (!b.isNullAt(j)) {
        val w = b.getUTF8String(j)
        val c = counts.get(w)
        if (c > 0) {
          m += 1
          counts.put(w, c - 1)
        }
      }
      j += 1
    }
    m
  }

  /** |A ∩ B| of two SORTED distinct long arrays by two-pointer merge —
    * O(|A|+|B|) with zero per-call allocation, vs the hash-set
    * `array_intersect` builds per pair. Callers sort once per document
    * (`sort_array` in the projection) and intersect per candidate pair.
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val (na, nb) = (a.numElements(), b.numElements())
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Random-hyperplane LSH bucket id over an embedding vector: for each
    * bit j, the sign of the dot product with the deterministic hyperplane
    * w(j, i) = ((j*64 + i - 1) * 2654435761 % 1000003) / 1000003 - 0.5
    * (1-based dim i; ascending-i summation order — the fold order of the
    * SQL twins, so doubles agree bit-for-bit).
    */
  def hyperplaneBucket(vec: ArrayData, bits: Int, elemIsFloat: Boolean): Long = {
    val dims = vec.numElements()
    var bucket = 0L
    var j = 0
    while (j < bits) {
      var dot = 0.0
      var i = 1
      while (i <= dims) {
        val x = elemAt(vec, i - 1, elemIsFloat)
        val w = (((j.toLong * 64 + i - 1) * 2654435761L) % 1000003L).toDouble / 1000003.0 - 0.5
        dot += x * w
        i += 1
      }
      if (dot > 0.0) bucket += (1L << j)
      j += 1
    }
    bucket
  }

  /** Per-band LSH bucket ids: bucket_b = fold of that band's signature
    * values (rowsPerBand universal-hash minima). Null elements when `hs`
    * is empty (null minima poison the fold), matching the declarative
    * form.
    */
  def bandBuckets(hs: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val n = hs.numElements()
    if (n == 0) return new GenericArrayData(new Array[Any](bands))
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = 7L; var r = 0
      while (r < rowsPerBand) {
        val i = b * rowsPerBand + r
        val a1 = 37L + 61L * i; val b1 = 101L + 97L * i
        var best = Long.MaxValue; var j = 0
        while (j < n) {
          val v = (a1 * hs.getLong(j) + b1) % P
          if (v < best) best = v
          j += 1
        }
        acc = (acc * 31 + best) % P
        r += 1
      }
      out(b) = acc; b += 1
    }
    new GenericArrayData(out)
  }

  /** Feature-hashed linear logit (the classifier stage's hot loop):
    * Σ over non-empty tokens of w(H(token) mod dim), with the
    * deterministic placeholder weights w(i) = ((i·37 + 11) mod 2001) −
    * 1000. One compiled md5-per-token pass — the declarative twin pays
    * an interpreted lambda plus a HEX-STRING parse (md5 → substr →
    * conv) per token, measured 4× slower at 1M docs.
    */
  def classifierLogit(words: ArrayData, dim: Int): Long = {
    val n = words.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!words.isNullAt(i)) {
        val t = words.getUTF8String(i)
        if (t.numBytes() > 0) {
          val idx = hashUtf8(t) % dim
          acc += ((idx * 37 + 11) % 2001) - 1000
        }
      }
      i += 1
    }
    acc
  }

  // the committed TRAINED table (graft.ops.QualityClassifierWeights),
  // materialized once; same integer-logit loop as classifierLogit with a
  // table lookup in place of the placeholder formula
  private lazy val trainedWeights: Array[Long] = graft.ops.QualityClassifier.Weights
  private lazy val trainedDim: Int = graft.ops.QualityClassifier.Dim

  def classifierLogitTrained(words: ArrayData): Long = {
    val n = words.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!words.isNullAt(i)) {
        val t = words.getUTF8String(i)
        if (t.numBytes() > 0)
          acc += trainedWeights((hashUtf8(t) % trainedDim).toInt)
      }
      i += 1
    }
    acc
  }

  // the committed merge table, materialized once (see graft.ops.Bpe for
  // the table, its rank-order + a≠b invariants, and the semantics proof)
  private lazy val bpeMerges: Array[(String, String)] = graft.ops.Bpe.merges.toArray

  /** Single-epoch BPE segmentation over code-point units — the compiled
    * twin of [[graft.ops.Bpe.hofTokensExpr]]'s boundary-delimited
    * two-pass replace chain. For `a ≠ b` merges (a table invariant),
    * occurrences of adjacent units (a, b) are pairwise disjoint, so the
    * declarative two-pass replace merges EVERY such occurrence of the
    * merge's input — exactly this one left-to-right compaction pass per
    * merge. Units are code points (matching `(?s)(.)` in both regex
    * dialects); U+0001 input chars are stripped; space units are the
    * word boundary and drop from the token list.
    */
  private def bpeUnits(text: UTF8String): java.util.ArrayList[String] = {
    val s = text.toString
    val units = new java.util.ArrayList[String](s.length)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val cc = Character.charCount(cp)
      if (cp != 1) units.add(s.substring(i, i + cc))
      i += cc
    }
    var m = 0
    while (m < bpeMerges.length) {
      val (a, b) = bpeMerges(m)
      var r = 0
      var w = 0
      while (r < units.size) {
        if (r + 1 < units.size && units.get(r) == a && units.get(r + 1) == b) {
          units.set(w, a + b); r += 2
        } else {
          if (w != r) units.set(w, units.get(r))
          r += 1
        }
        w += 1
      }
      var k = units.size - 1
      while (k >= w) { units.remove(k); k -= 1 }
      m += 1
    }
    units
  }

  /** BPE token count (units minus space units). */
  def bpeTokenCount(text: UTF8String): Long = {
    val units = bpeUnits(text)
    var n = 0L
    var i = 0
    while (i < units.size) { if (units.get(i) != " ") n += 1; i += 1 }
    n
  }

  /** Cumulative END offsets of each BPE token, in STRIPPED coordinates
    * (non-space, non-U+0001 codepoints — the coordinate system where
    * the token sequence concatenates back to the text): ascending
    * ARRAY<BIGINT>, one entry per token. One tokenizer pass — the
    * linear replacement for a declarative `aggregate` whose
    * `concat(acc, array(x))` copies the accumulator array per token
    * (quadratic in token count: invisible at 70-token oracle renders,
    * catastrophic at 6k-token real conversations).
    */
  def bpeTokenEnds(text: UTF8String): ArrayData = {
    val units = bpeUnits(text)
    val out = new java.util.ArrayList[Any](units.size)
    var cum = 0L
    var i = 0
    while (i < units.size) {
      val u = units.get(i)
      if (u != " ") { cum += u.codePointCount(0, u.length); out.add(cum) }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Discounted return-to-go over an episode's step-ordered
    * integer-milli rewards: `G_n = r_n`, `G_i = r_i +
    * trunc(gammaMilli * G_{i+1} / 1000)` — one backward pass,
    * returning the G array in step order. TRUNCATING division (Java
    * `/`), because that is what BOTH engines do on signed integers:
    * Spark `div` truncates toward zero AND DuckDB `//` truncates too
    * (probed: `-7 // 2 = -3`, not the floored -4 — an earlier
    * floorDiv draft of this kernel diverged from the oracle on the
    * adversarial sweep's all-negative episodes, the exact class the
    * oracle fixture's mostly-positive rewards never hit). The
    * sequential recurrence is the DEFINITION (each step's rounding
    * feeds the next), so no closed form exists on either engine; the
    * oracle replays it with a recursive CTE.
    */
  def discountedReturns(rewards: ArrayData, gammaMilli: Long): ArrayData = {
    val n = rewards.numElements()
    val out = new Array[Long](n)
    var g = 0L
    var i = n - 1
    while (i >= 0) {
      g = rewards.getLong(i) + gammaMilli * g / 1000L
      out(i) = g
      i -= 1
    }
    new GenericArrayData(out)
  }

  /** GAE(λ) advantages over an episode's step-ordered integer-milli
    * rewards and value predictions: TD residual
    * `δ_i = r_i + trunc(γ·V_{i+1} / 1000) − V_i` (V_{n+1} = 0), then
    * the backward recurrence `A_n = δ_n`,
    * `A_i = δ_i + trunc(γ·λ·A_{i+1} / 10⁶)` — ONE combined truncating
    * division per step by the milli² product (γMilli·λMilli ≤ 10⁶,
    * so the intermediate stays far from the 64-bit edge for any
    * |A| ≤ 10¹²). TRUNCATING division (Java `/`) throughout because
    * both engines truncate signed integers (the discountedReturns
    * probe: DuckDB `-7 // 2 = -3`) — values and advantages are SIGNED
    * (a critic overestimates as often as it underestimates), so the
    * all-negative class the sweep caught on the returns kernel is
    * live here too. Like the return, each step's rounding feeds the
    * next, so the recurrence is the definition and the oracle replays
    * it with a recursive CTE.
    *
    * Input is the step-SORTED struct array `(s, r, v)` straight off
    * the episode collect — taking the struct array rather than two
    * `transform(...)` projections keeps the kernel's child a raw
    * column (a HOF child silently breaks whole-stage codegen, the
    * repo-wide kernel rule) and the aggregation to ONE collect buffer.
    * Field layout contract: index 1 = reward milli, index 2 = value
    * milli (index 0 is the sort key, unused here).
    */
  def gaeAdvantages(steps: ArrayData, gammaMilli: Long,
                    lambdaMilli: Long): ArrayData = {
    val n = steps.numElements()
    val out = new Array[Long](n)
    val gl = gammaMilli * lambdaMilli
    var a = 0L
    var vNext = 0L
    var i = n - 1
    while (i >= 0) {
      val row = steps.getStruct(i, 3)
      val v = row.getLong(2)
      val delta = row.getLong(1) + gammaMilli * vNext / 1000L - v
      a = delta + gl * a / 1000000L
      out(i) = a
      vNext = v
      i -= 1
    }
    new GenericArrayData(out)
  }

  /** Count of elements <= x in an ASCENDING long array (binary search)
    * — the O(log n) replacement for `size(filter(arr, e -> e <= x))`,
    * whose interpreted HOF lambda walks the whole array per call.
    */
  def countLe(arr: ArrayData, x: Long): Long = {
    var lo = 0
    var hi = arr.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (arr.getLong(mid) <= x) lo = mid + 1 else hi = mid
    }
    lo.toLong
  }

  /** BPE token array (units minus space units), in order. */
  def bpeTokens(text: UTF8String): ArrayData = {
    val units = bpeUnits(text)
    val out = new java.util.ArrayList[Any](units.size)
    var i = 0
    while (i < units.size) {
      val u = units.get(i)
      if (u != " ") out.add(UTF8String.fromString(u))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** DSIR hashed-feature buckets fused: one byte scan finds the
    * space-separated words (empties skipped — the
    * `filter(split(text,' '), w -> w <> '')` contract), then emits
    * H(word) % B for every word followed by H("w_i w_i+1") % B for
    * every adjacent pair — the exact unigram-then-bigram concat order
    * and md5 gram hashes of the declarative twin
    * ([[graft.ops.Dsir]]), with no intermediate gram strings: adjacent
    * words separated by exactly one space hash straight out of the
    * text's own bytes; multi-space gaps fall back to a scratch buffer
    * (the gram string has a SINGLE space by construction).
    */
  def dsirBuckets(text: UTF8String, buckets: Int): ArrayData = {
    val b = text.getBytes
    val n = b.length
    // word spans
    var m = 0
    val offs = new java.util.ArrayList[Int]()
    val lens = new java.util.ArrayList[Int]()
    var i = 0
    while (i < n) {
      if (b(i) == ' ') i += 1
      else {
        val s = i
        while (i < n && b(i) != ' ') i += 1
        offs.add(s); lens.add(i - s); m += 1
      }
    }
    if (m == 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](m + math.max(0, m - 1))
    i = 0
    while (i < m) {
      out(i) = hashRange(b, offs.get(i), lens.get(i)) % buckets
      i += 1
    }
    i = 0
    while (i < m - 1) {
      val o1 = offs.get(i); val l1 = lens.get(i)
      val o2 = offs.get(i + 1); val l2 = lens.get(i + 1)
      val h =
        if (o2 == o1 + l1 + 1) hashRange(b, o1, l1 + 1 + l2)
        else {
          val scratch = new Array[Byte](l1 + 1 + l2)
          System.arraycopy(b, o1, scratch, 0, l1)
          scratch(l1) = ' '
          System.arraycopy(b, o2, scratch, l1 + 1, l2)
          hashRange(scratch, 0, scratch.length)
        }
      out(m + i) = h % buckets
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Count of non-empty space-separated words — one byte scan, the
    * compiled twin of `size(filter(split(text, ' '), w -> w <> ''))`
    * (which interprets a split-allocate + lambda filter per row:
    * measured 32s at 1M docs for JUST that count — costlier than the
    * whole md5 gram kernel it rides next to).
    */
  def wordCount(text: UTF8String): Long = {
    val b = text.getBytes
    val n = b.length
    var m = 0L
    var i = 0
    while (i < n) {
      if (b(i) == ' ') i += 1
      else { m += 1; while (i < n && b(i) != ' ') i += 1 }
    }
    m
  }

  /** Σ weights(bucket) over a bucket-id array — the DSIR scoring loop
    * against a driver-materialized per-bucket weight table (B
    * metadata-sized longs riding the expression as a literal, the
    * contamination-guard pattern). Out-of-range ids contribute 0.
    */
  def bucketScore(ids: ArrayData, weights: Array[Long]): Long = {
    val n = ids.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      val b = ids.getLong(i)
      if (b >= 0 && b < weights.length) acc += weights(b.toInt)
      i += 1
    }
    acc
  }
}
