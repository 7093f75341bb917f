package graft.ops

/** The word grains — which token sequence a text operator reads — as a
  * closed set checked at compile time. Each case renders its own Spark
  * token array, token count and kernel literal, and its DuckDB twin
  * form, so the ops layer never decides a grain by comparing strings;
  * a new grain is one case here.
  *
  *  - [[WordGrain.Ws]]: the whitespace split (`' '`), the default;
  *  - [[WordGrain.CjkAuto]]: script-dominance routing — rows dominated
  *    by the unsegmented scripts tokenize per codepoint
  *    ([[TextAnalysis.cjkTokenPattern]]), all others by whitespace;
  *  - [[WordGrain.CjkDict]], [[WordGrain.ThaiDict]]: forward maximum
  *    match over a committed [[FmmLexicon]] on dominance-routed rows.
  *
  * A [[ScalarGrain]]'s DuckDB twin is a scalar list expression; a
  * [[DictGrain]]'s is a recursive-CTE relation (FMM's cursor is
  * sequential, no scalar SQL expression can run it). Ops whose twins
  * exist only in scalar form take a `ScalarGrain`.
  *
  * `name` is the SQL literal the compiled kernels take
  * (`graft_term_tf(text, 'cjk-dict')`) and the `grain` marker of
  * persisted band tables; kernels resolve it once, at analysis, through
  * [[WordGrain.apply]] / [[WordGrain.scalar]] / [[WordGrain.dict]].
  */
sealed trait WordGrain extends Product with Serializable {

  def name: String

  /** Spark token array of `text`. `keepEmpties` keeps the empty tokens a
    * run of spaces leaves on the whitespace branch (the `split` contract
    * the shingle, winnow and Gopher paths share); without it they drop.
    */
  def sparkTokens(text: String, keepEmpties: Boolean): String

  /** `size(sparkTokens(text, keepEmpties = true))` as a count-only walk:
    * the cheap shingle-floor predicate never materializes the array.
    */
  def sparkTokenCount(text: String): String

  /** The DuckDB twin's token sequence of `text` (empties kept) as
    * `(relation, list expression)`: scalar grains read `table` itself,
    * dictionary grains a derived table exposing only `($id, __toks)`, so
    * a twin routed through here may reference nothing but the id and
    * the tokens. The list is safe to index (`l[i]`).
    */
  def duckSource(table: String, id: String, text: String): (String, String)
}

/** A grain whose DuckDB twin is a scalar list expression. `routed` is the
  * compiled kernels' script-dominance flag.
  */
sealed abstract class ScalarGrain(val name: String, val routed: Boolean) extends WordGrain {

  /** DuckDB twin of [[sparkTokens]]. */
  def duckTokens(text: String, keepEmpties: Boolean): String

  /** [[duckTokens]] in a form that can be indexed: a CASE expression
    * needs parentheses, since list indexing binds tighter than CASE in
    * the DuckDB grammar.
    */
  def duckList(text: String, keepEmpties: Boolean): String = duckTokens(text, keepEmpties)

  def duckSource(table: String, id: String, text: String): (String, String) =
    (table, duckList(text, keepEmpties = true))
}

/** A forward-maximum-match dictionary grain over [[lexicon]]. */
sealed abstract class DictGrain(val name: String) extends WordGrain {

  def lexicon: FmmLexicon

  def sparkTokens(text: String, keepEmpties: Boolean): String =
    s"graft_fmm_tokens($text, $keepEmpties, '$name')"

  def sparkTokenCount(text: String): String = s"graft_fmm_token_count($text, '$name')"

  def duckSource(table: String, id: String, text: String): (String, String) =
    (s"(${duckTokenLists(table, text, id)})", "(__toks)")

  /** Static Java reference to [[lexicon]] for the codegen'd kernels —
    * resolved at CODEGEN time, so the generated row loop carries a
    * constant field read, not a lookup. Lexicons are Scala `object`s by
    * the [[FmmLexicon]] contract, so the class name is
    * `graft.ops.XxLexicon$` and the static instance its `MODULE$`.
    */
  def javaRef: String = {
    val cls = lexicon.getClass.getName
    require(cls.endsWith("$"),
      s"FMM lexicon for '$name' must be a top-level object (got $cls) — " +
        "codegen references it as a static MODULE$ field")
    s"$cls.MODULE$$"
  }

  /** The DuckDB token RELATION (`toks(rid, token)`, empties dropped) as
    * `WITH RECURSIVE` CTE fragments — the caller opens the `WITH
    * RECURSIVE`. The recursion runs over (row, cursor) with the lexicon
    * unrolled as a bounded CASE ladder ([[FmmLexicon.duckFmmCase]], the
    * PSL-resolver trick); non-dominated rows union in the whitespace
    * tokens. `idExpr` keys the rows: doc-consuming twins pass the id
    * column, corpus-level twins let it default to a synthesized row
    * number.
    *
    * ORACLE-GRADE ONLY: the recursion advances ONE token per iteration,
    * so the cost is (longest routed doc's token count) × (a CASE-ladder
    * scan over every live row). Fine for the length-capped fixtures the
    * oracle runs on; cap routed text length before pointing it at real
    * corpora (the Spark kernel is one linear scan per row).
    */
  def duckTokenRows(table: String, text: String, idExpr: Option[String] = None): String = {
    val rid = idExpr.getOrElse("row_number() OVER ()")
    s"""base AS (
       |  SELECT $rid AS rid, $text AS t,
       |    ${TextAnalysis.cjkDominantDuck(text)} AS routed
       |  FROM $table),
       |$segCte,
       |toks AS (
       |  SELECT rid, token FROM seg WHERE token <> ''
       |  UNION ALL
       |  SELECT rid, unnest(list_filter(string_split(t, ' '), w -> w <> '')) AS token
       |  FROM base WHERE NOT routed)""".stripMargin
  }

  /** The ordered per-doc token LIST relation: a complete `WITH
    * RECURSIVE` SELECT (usable as a derived table) emitting `($id,
    * __toks)`, the tokens in text order with empties kept on the
    * whitespace branch (`graft_fmm_tokens(t, true)`). Same oracle-grade
    * cost caveat as [[duckTokenRows]].
    */
  def duckTokenLists(table: String, text: String, id: String): String =
    s"""WITH RECURSIVE base AS (
       |  SELECT $id AS rid, $text AS t,
       |    ${TextAnalysis.cjkDominantDuck(text)} AS routed
       |  FROM $table),
       |$segCte,
       |tokord AS (
       |  SELECT rid, token, pos AS ord FROM seg WHERE token <> ''
       |  UNION ALL
       |  SELECT rid, unnest(ls) AS token,
       |         unnest(generate_series(1, len(ls))) AS ord
       |  FROM (SELECT rid, string_split(t, ' ') AS ls FROM base WHERE NOT routed))
       |SELECT rid AS $id, list(token ORDER BY ord ASC) AS __toks
       |FROM tokord GROUP BY rid""".stripMargin

  /** The FMM cursor recursion over `base`'s routed rows. */
  private def segCte: String =
    s"""seg AS (
       |  SELECT rid, t, CAST(1 AS BIGINT) AS pos, '' AS token
       |  FROM base WHERE routed
       |  UNION ALL
       |  SELECT rid, t, pos + CASE WHEN tok = '' THEN 1 ELSE len(tok) END, tok
       |  FROM (SELECT rid, t, pos,
       |    ${lexicon.duckFmmCase("t", "pos", TextAnalysis.cjkRangeInterior)} AS tok
       |    FROM seg WHERE pos <= len(t)) x)""".stripMargin
}

object WordGrain {

  case object Ws extends ScalarGrain("ws", routed = false) {
    def sparkTokens(text: String, keepEmpties: Boolean): String =
      if (keepEmpties) s"split($text, ' ')" else s"filter(split($text, ' '), w -> w <> '')"
    def sparkTokenCount(text: String): String = s"size(split($text, ' '))"
    def duckTokens(text: String, keepEmpties: Boolean): String =
      if (keepEmpties) s"string_split($text, ' ')"
      else s"list_filter(string_split($text, ' '), w -> w <> '')"
  }

  case object CjkAuto extends ScalarGrain("cjk-auto", routed = true) {
    def sparkTokens(text: String, keepEmpties: Boolean): String =
      TextAnalysis.routedTokensSpark(text, keepEmpties)
    def sparkTokenCount(text: String): String = s"graft_routed_token_count($text)"
    def duckTokens(text: String, keepEmpties: Boolean): String =
      TextAnalysis.routedTokensDuck(text, keepEmpties)
    override def duckList(text: String, keepEmpties: Boolean): String =
      s"(${duckTokens(text, keepEmpties)})"
  }

  case object CjkDict extends DictGrain("cjk-dict") {
    def lexicon: FmmLexicon = ZhLexicon
  }

  case object ThaiDict extends DictGrain("thai-dict") {
    def lexicon: FmmLexicon = ThLexicon
  }

  val scalars: Seq[ScalarGrain] = Seq(Ws, CjkAuto)
  val dicts: Seq[DictGrain] = Seq(CjkDict, ThaiDict)
  val all: Seq[WordGrain] = scalars ++ dicts

  /** The grain named by a kernel's SQL literal. */
  def apply(name: String): WordGrain = parse(name, all)

  /** A kernel literal that must name a scalar grain. */
  def scalar(name: String): ScalarGrain = parse(name, scalars)

  /** A kernel literal that must name a dictionary grain. */
  def dict(name: String): DictGrain = parse(name, dicts)

  private def parse[G <: WordGrain](name: String, valid: Seq[G]): G =
    valid.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"grain '$name' is not valid here; valid grains: " +
        valid.map(g => s"'${g.name}'").mkString(", ")))

  // init-time guard: every dict grain must yield a codegen reference (an
  // anonymous or inner lexicon fails here, at class load, instead of from
  // the first codegen'd kernel at run time)
  dicts.foreach(_.javaRef)
}
