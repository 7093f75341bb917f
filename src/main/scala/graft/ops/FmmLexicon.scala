package graft.ops

/** Shared machinery of the committed forward-maximum-match (FMM)
  * dictionary word grains (round 15 — extracted from the round-14
  * [[ZhLexicon]] so a second unsegmented script costs one word table,
  * not a second segmenter): a lexicon is a plain word SET with
  * per-length hash probes for the compiled kernel and a bounded CASE
  * ladder for the DuckDB oracle. Greedy longest-match is deterministic
  * — no frequencies are consulted at match time — so both dialects
  * replay the exact segmentation from the same committed constant
  * (the [[PublicSuffixes]] / [[Bpe]] committed-table pattern).
  *
  * INVARIANTS (object-init enforced, per lexicon): every word is
  * 2..[[maxLen]] codepoints, all characters inside
  * [[graft.functions.GopherOps.cjkRanges]] (a lexicon word may never
  * swallow a run-token boundary), no duplicates, no spaces.
  *
  * Concrete lexicons are Scala `object`s so the codegen'd kernels can
  * reference them as static fields ([[DictGrain.javaRef]]) — no
  * per-row registry lookup, and with two instances the
  * `longestMatch` call sites stay at worst bimorphic.
  */
trait FmmLexicon {

  /** Longest lexicon word length, in codepoints. The DuckDB CASE
    * ladder unrolls to exactly this depth (the PSL-resolver trick).
    */
  def maxLen: Int

  /** The committed lexicon, all lengths. */
  def words: Seq[String]

  /** Per-length word sets for the kernel's longest-first probes:
    * `byLen(L)` holds the length-L words (null where the lexicon has
    * none — the probe skips that rung, same as the SQL ladder omitting
    * the `IN` arm). Lazy: trait vals would initialize before the
    * concrete object's `words`.
    */
  lazy val byLen: Array[java.util.HashSet[String]] = {
    val inBlock = graft.functions.GopherOps.cjkRanges.grouped(2).toArray
    def blockOk(w: String): Boolean = w.forall { c =>
      inBlock.exists { case Array(a, b) => c >= a && c <= b }
    }
    val seen = new java.util.HashSet[String]()
    val arr = new Array[java.util.HashSet[String]](maxLen + 1)
    words.foreach { w =>
      require(w.length >= 2 && w.length <= maxLen,
        s"lexicon word '$w' must be 2..$maxLen codepoints")
      require(blockOk(w),
        s"lexicon word '$w' has a character outside the unsegmented-script " +
          "ranges — FMM may only compete with the codepoint branch, never " +
          "swallow a run-token boundary")
      require(seen.add(w), s"duplicate lexicon word '$w'")
      if (arr(w.length) == null) arr(w.length) = new java.util.HashSet[String]()
      arr(w.length).add(w)
    }
    arr
  }

  // ---- zero-allocation probe path (round 15) -----------------------
  // The HashSet<String> walk allocated a substring per rung per
  // position (observed 20s zh / 115s thai per 1M docs at the grown
  // tables). Lexicon chars are BMP (init invariant), so a window of
  // len <= 4 packs into ONE long (16 bits/char, top char >= 0x0E00
  // keeps packs of different lengths disjoint and never 0) — exact
  // membership is a primitive open-addressed probe, no allocation.
  // A 2-char-prefix -> length-bitmask map gates every position first:
  // the common no-word case pays ONE packed probe total, and the
  // len >= 5 rungs (thai) allocate a candidate only when the prefix
  // says a word of that length shares the first two chars.

  @inline private def pack(s: String, i: Int, len: Int): Long = {
    var k = 0L
    var j = 0
    while (j < len) { k = (k << 16) | s.charAt(i + j); j += 1 }
    k
  }

  private lazy val packedShort: FmmLexicon.LongSet = {
    val ws = words.filter(_.length <= 4)
    val set = new FmmLexicon.LongSet(ws.size)
    ws.foreach(w => set.add(pack(w, 0, w.length)))
    set
  }

  private lazy val prefixMask: FmmLexicon.LongIntMap = {
    val m = new java.util.HashMap[java.lang.Long, Integer]()
    words.foreach { w =>
      val k = java.lang.Long.valueOf(pack(w, 0, 2))
      val prev = m.get(k)
      m.put(k, Integer.valueOf((if (prev == null) 0 else prev.intValue()) | (1 << w.length)))
    }
    val out = new FmmLexicon.LongIntMap(m.size)
    m.forEach((k, v) => out.put(k.longValue(), v.intValue()))
    out
  }

  /** Longest lexicon word starting at char offset `i` of `s`, or null.
    * All lexicon words are BMP-only (in-block by the init invariant),
    * so a char window equals a word iff the same codepoint window
    * does — the Java-chars walk and the oracle's codepoint walk match
    * identically (a window containing a surrogate half can never equal
    * a lexicon word). Value-identical to the naive longest-first
    * substring walk (FmmProbeParity in CjkDictSpec/ThaiDictSpec pin
    * it); only the probe mechanics differ.
    */
  def longestMatch(s: String, i: Int): String = {
    if (i + 2 > s.length) return null
    val pm = prefixMask.get(pack(s, i, 2))
    if (pm == 0) return null
    val bl = byLen
    val ps = packedShort
    var len = math.min(maxLen, s.length - i)
    while (len >= 2) {
      if ((pm & (1 << len)) != 0) {
        if (len <= 4) {
          if (ps.contains(pack(s, i, len))) return s.substring(i, i + len)
        } else {
          val set = bl(len)
          if (set != null) {
            val cand = s.substring(i, i + len)
            if (set.contains(cand)) return cand
          }
        }
      }
      len -= 1
    }
    null
  }

  /** The DuckDB FMM step as a bounded CASE ladder (the PSL-resolver
    * trick): one arm per populated word length, longest first; `''`
    * for a space (advance 1, emit nothing); single in-block codepoint
    * else non-space non-block run as the fallbacks. `t`/`pos` are SQL
    * expressions for the text column and the 1-based codepoint cursor.
    */
  def duckFmmCase(t: String, pos: String, blockInterior: String): String = {
    val arms = (2 to maxLen).reverse.filter(byLen(_) != null).map { len =>
      val list = byLen(len).toArray(Array.empty[String]).sorted
        .map(w => s"'$w'").mkString(", ")
      s"WHEN substr($t, $pos, $len) IN ($list) THEN substr($t, $pos, $len)"
    }.mkString("\n       ")
    s"""CASE WHEN substr($t, $pos, 1) = ' ' THEN ''
       $arms
       WHEN regexp_matches(substr($t, $pos, 1), '[$blockInterior]') THEN substr($t, $pos, 1)
       ELSE regexp_extract(substr($t, $pos), '^[^ $blockInterior]+') END"""
  }
}

object FmmLexicon {

  /** Minimal open-addressed primitive long set (linear probing, 0 =
    * empty sentinel — packed lexicon keys are never 0 since the top
    * char is >= 0x0E00). Fixed-size: built once at lexicon init.
    */
  final class LongSet(expected: Int) {
    private val cap = Integer.highestOneBit(math.max(16, expected * 4) - 1) << 1
    private val mask = cap - 1
    private val keys = new Array[Long](cap)
    @inline private def slot(k: Long): Int = {
      // 64->32 finalizer (splitmix-style) — packed chars are highly
      // structured, a raw modulo would cluster
      val h = (k ^ (k >>> 33)) * 0xff51afd7ed558ccdL
      ((h ^ (h >>> 33)).toInt) & mask
    }
    def add(k: Long): Unit = {
      require(k != 0L)
      var i = slot(k)
      while (keys(i) != 0L && keys(i) != k) i = (i + 1) & mask
      keys(i) = k
    }
    @inline def contains(k: Long): Boolean = {
      var i = slot(k)
      var cur = keys(i)
      while (cur != 0L) {
        if (cur == k) return true
        i = (i + 1) & mask
        cur = keys(i)
      }
      false
    }
  }

  /** Open-addressed long -> int map; get returns 0 on miss (a valid
    * mask is never 0 — every stored prefix has at least one length
    * bit set).
    */
  final class LongIntMap(expected: Int) {
    private val cap = Integer.highestOneBit(math.max(16, expected * 4) - 1) << 1
    private val mask = cap - 1
    private val keys = new Array[Long](cap)
    private val vals = new Array[Int](cap)
    def put(k: Long, v: Int): Unit = {
      require(k != 0L && v != 0)
      var i = {
        val h = (k ^ (k >>> 33)) * 0xff51afd7ed558ccdL
        ((h ^ (h >>> 33)).toInt) & mask
      }
      while (keys(i) != 0L && keys(i) != k) i = (i + 1) & mask
      keys(i) = k; vals(i) = v
    }
    @inline def get(k: Long): Int = {
      val h = (k ^ (k >>> 33)) * 0xff51afd7ed558ccdL
      var i = ((h ^ (h >>> 33)).toInt) & mask
      var cur = keys(i)
      while (cur != 0L) {
        if (cur == k) return vals(i)
        i = (i + 1) & mask
        cur = keys(i)
      }
      0
    }
  }
}
