package graft.tools

/** Committed-lexicon hygiene report (round 16) — the authoring loop
  * companion to [[InduceLexiconBand]]: the [[graft.ops.FmmLexicon]]
  * init invariants `require` one violation at a time, which makes
  * growing a band by hundreds of words a slow fail-fix-fail loop.
  * This reports EVERY duplicate / length / block violation across all
  * registered lexicons in one pass, then triggers the real init
  * (byLen + the packed-probe tables) to prove a clean table loads.
  * No Spark session — plain JVM, runs in seconds.
  */
object LexiconCheck {
  def main(args: Array[String]): Unit = {
    val inBlock: Char => Boolean = { c =>
      graft.functions.GopherOps.cjkRanges.grouped(2).exists {
        case Array(a, b) => c >= a && c <= b
      }
    }
    var bad = false
    graft.ops.WordGrain.dicts.foreach { grain =>
      val (g, lex) = (grain.name, grain.lexicon)
      val ws = lex.words
      val dups = ws.groupBy(identity).filter(_._2.size > 1).keys.toSeq.sorted
      val badLen = ws.filter(w => w.length < 2 || w.length > lex.maxLen).distinct
      val outOfBlock = ws.filter(!_.forall(inBlock)).distinct
      val spaces = ws.filter(_.contains(' ')).distinct
      println(s"[lexcheck] $g: total=${ws.size} distinct=${ws.distinct.size} " +
        s"maxLen=${lex.maxLen} byLenCounts=" +
        (2 to lex.maxLen).map(l => s"$l:${ws.count(_.length == l)}").mkString(","))
      // per-lexicon flag (round 17, ADVICE fix): gating the init
      // validation on the CROSS-lexicon flag meant one dirty lexicon
      // silenced every later clean one's "init OK" line
      var lexBad = false
      def report(label: String, xs: Seq[String]): Unit = if (xs.nonEmpty) {
        lexBad = true
        println(s"[lexcheck]   $label (${xs.size}): ${xs.mkString(" ")}")
      }
      report("DUPLICATES", dups)
      report("BAD-LENGTH", badLen)
      report("OUT-OF-BLOCK", outOfBlock)
      report("HAS-SPACE", spaces)
      if (!lexBad) {
        lex.byLen // full init validation incl. packed-probe tables
        println(s"[lexcheck] $g: init OK")
      }
      bad ||= lexBad
    }
    if (bad) { println("[lexcheck] FAIL"); sys.exit(1) }
    println("[lexcheck] all lexicons clean")
  }
}
