package graft.tools

import graft.ops.CorpusIO
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Lexicon-induction probe (round 16) — closes the dict-grain loop:
  * the lexicon segments the corpus, and the corpus NOMINATES the
  * lexicon's next band. Runs [[graft.ops.TextAnalysis.collocations]]
  * (PMI lift, Church & Hanks 1990) over a documents corpus at a word
  * grain, glues each high-lift adjacent pair into a single candidate
  * word, filters the candidates against the committed lexicon's init
  * invariants (2..maxLen codepoints, all chars in the unsegmented-
  * script block, no duplicates, not already committed), and emits a
  * ready-to-commit Scala band plus the probe numbers.
  *
  * On `cjk-auto` this is unsupervised zh WORD DISCOVERY (character
  * pairs that glue — 人工/智能 — score high); on a dict grain it
  * surfaces multiword expressions over already-segmented words.
  *
  * The tool NOMINATES; it does not commit. The committed bands stay
  * knowledge-bounded (the [[graft.ops.ZhLexicon]] discipline): a
  * curator checks the nominated surface forms against the public
  * frequency lists before a band lands, because corpus statistics
  * alone cannot distinguish a word from a high-PMI collocation that
  * crosses a word boundary (the classic failure of raw PMI induction).
  *
  * Usage:
  *   runMain graft.tools.InduceLexiconBand <docsDir> <grain> <target>
  *     [topK] [minCount] [render]
  *   grain  = collocation grain (cjk-auto | cjk-dict | thai-dict)
  *   target = lexicon whose invariants/membership gate the candidates
  *            (cjk-dict | thai-dict)
  *   render = none | zh | th — optional deterministic probe rendering
  *            (translate a-z onto 26 block chars, strip spaces) for
  *            synthetic corpora with no natively unsegmented text
  */
object InduceLexiconBand {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: InduceLexiconBand <docsDir> <grain> <targetGrain> [topK] [minCount] [render]")
    val dir = args(0)
    val grain = graft.ops.WordGrain(args(1))
    val target = graft.ops.WordGrain.dict(args(2)).lexicon
    val topK = if (args.length > 3) args(3).toInt else 500
    val minCount = if (args.length > 4) args(4).toInt else 20
    val render = if (args.length > 5) args(5) else "none"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val han26 = "的一是不了人我在有他这中大来上国个到说们为子和你地出道也时年得就那要下以生会自着去之过家学对可"
      .take(26)
    val th26 = "กขคงจชญดตถทนบปผฝพฟมยรลวสหอ"
    val base = CorpusIO.readParquet(spark, s"$dir/documents.parquet")
    val docs = render match {
      case "zh" => base.withColumn("text", expr(
        s"replace(translate(lower(text), 'abcdefghijklmnopqrstuvwxyz', '$han26'), ' ', '')"))
      case "th" => base.withColumn("text", expr(
        s"replace(translate(lower(text), 'abcdefghijklmnopqrstuvwxyz', '$th26'), ' ', '')"))
      case _ => base
    }

    val t0 = System.nanoTime()
    val board = graft.ops.TextAnalysis.collocations(
      docs, "text", topK = topK, minCount = minCount, wordGrain = grain)
      .collect()
    val secs = (System.nanoTime() - t0) / 1e9

    val inBlock: Char => Boolean = { c =>
      graft.functions.GopherOps.cjkRanges.grouped(2).exists {
        case Array(a, b) => c >= a && c <= b
      }
    }
    val committed = target.words.toSet
    final case class Cand(word: String, lift: Double, nPair: Long,
                          status: String)
    val cands = board.map { r =>
      val w = r.getString(1) + r.getString(2)
      val status =
        if (committed.contains(w)) "already-committed"
        else if (w.length < 2 || w.length > target.maxLen) "bad-length"
        // has-space BEFORE the block check (round 17, ADVICE fix): a
        // space is itself outside cjkRanges, so the out-of-block branch
        // used to shadow this one — the status was unreachable
        else if (w.contains(' ')) "has-space"
        else if (!w.forall(inBlock)) "out-of-block"
        else "NOMINATED"
      Cand(w, r.getDouble(4), r.getLong(3), status)
    }
    val byStatus = cands.groupBy(_.status).view.mapValues(_.length).toMap
    println(s"[induce] corpus=$dir grain=${grain.name} target=${args(2)} " +
      s"topK=$topK minCount=$minCount render=$render colloc_secs=$secs")
    println(s"[induce] board=${board.length} " + byStatus.toSeq.sorted
      .map { case (k, v) => s"$k=$v" }.mkString(" "))
    val nominated = cands.filter(_.status == "NOMINATED")
      .groupBy(_.word).map(_._2.maxBy(_.lift)).toSeq
      .sortBy(c => (-c.lift, c.word))
    println(s"[induce] distinct nominated=${nominated.size}; top 30 by lift:")
    nominated.take(30).foreach(c =>
      println(f"[induce]   ${c.word}%-8s lift=${c.lift}%12.1f n=${c.nPair}"))
    println("[induce] ready-to-review Scala band (curator must confirm " +
      "each surface form is a real word before committing):")
    nominated.map(c => s""""${c.word}"""").grouped(8)
      .foreach(g => println("    " + g.mkString(", ") + ","))
    spark.stop()
  }
}
