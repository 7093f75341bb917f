package graft.queries

import graft.entity.EntityStore
import graft.ops.{CorpusIO, Dedup, Multimodal, Pq, Similarity, TextAnalysis, WordGrain}
import graft.rpc.Rpc
import graft.service.{RetryBackoff, RetryPolicy}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One named, oracle-checked capability. `spark` builds the DataFrame
  * over a scale-factor directory; `oracle` is the equivalent DuckDB SQL
  * over the same tables (bare table names — the driver registers them).
  * Column names are aligned on both sides (the driver sorts columns by
  * name before hashing).
  */
final case class QueryDef(name: String,
                          spark: (SparkSession, String) => DataFrame,
                          oracle: Option[String])

/** The full operator inventory as driver-checkable queries — SURVEY.md §2
  * (bus/service semantics expressed batch-style, §7.2) plus the
  * training-data-pipeline extensions (dedup / similarity / text /
  * multimodal, SURVEY.md §7.1.7).
  *
  * Cross-engine determinism rules used throughout:
  *  - double SUM/AVG go through exact DECIMAL(18,2) aggregation, then cast
  *    to DOUBLE (parallel double summation is order-dependent; decimal
  *    aggregation is exact, so engines agree bit-for-bit);
  *  - timestamps are emitted as epoch millis (parquet ns vs µs metadata
  *    would otherwise differ between engines);
  *  - every hash is [[graft.ops.PortableHash]] arithmetic, identical in
  *    both dialects;
  *  - top-k uses a total order (tie-break on a unique key).
  */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // The generator's ts encoding has varied across rounds: INT64
      // TIMESTAMP(NANOS) (which Spark rejects outright without
      // nanosAsLong — PARQUET_TYPE_ILLEGAL) vs plain TIMESTAMP(MICROS)
      // (read as TIMESTAMP_NTZ). Normalize both to a session-TZ
      // TIMESTAMP so every downstream query sees one shape; with the
      // UTC session both rebuilds are value-identical to DuckDB's
      // native read. The footer schema is converted under the session
      // conf at read time, so nanosAsLong is set BEFORE the read. It is
      // left set: restoring it after the read would break the NANOS
      // path, because Spark reads the conf again when the scan is
      // planned (ParquetFileFormat.buildReaderWithPartitionValues calls
      // setupHadoopConf, which reads SQLConf.legacyParquetNanosAsLong).
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = CorpusIO.readParquet(s, s"$dir/events.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // nanos-as-long; generator precision is µs so div 1000 is lossless
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
      }
    } else CorpusIO.readParquet(s, s"$dir/$name.parquet")

  // TPC-H date columns are TIMESTAMP_NTZ in the testdata; unix_millis
  // needs TIMESTAMP — under the UTC session the cast is value-identical
  // to DuckDB's epoch_ms over its naive timestamp.
  private def ntzMillis(c: Column): Column = unix_millis(c.cast("timestamp"))

  // exact double aggregation: cast to decimal, sum, cast back
  private def dsum(c: String): String =
    s"cast(sum(cast($c AS DECIMAL(18,2))) AS DOUBLE)"

  /** First-touch index (and io-row scratch) location: the sanitized dir
    * path (readable) PLUS a digest of the RAW dir string — sanitization
    * alone collides ("/a/b" and "/a_b" both map to "_a_b"), which with
    * the data-fingerprinted signature would degrade to alternating
    * rebuild thrash; the digest makes distinct dirs structurally unable
    * to share a path.
    */
  private def idxPath(kind: String, dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"${System.getProperty("java.io.tmpdir")}/graft_${kind}_" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_") + "_" + digest
  }

  /** Build signature for [[graft.ops.PqIndex.ensure]]: params PLUS the
    * source-data fingerprint (file count/bytes/mtime), so regenerating
    * the dataset in place forces a rebuild instead of serving searches
    * from a stale index built over the old content.
    */
  private def idxSig(s: SparkSession, dir: String, params: String,
                     table: String = "embeddings"): String =
    params + ";" + graft.ops.PqIndex.dataFingerprint(s, s"$dir/$table.parquet")

  /** First-touch persisted k-means centroids — the training half of the
    * cluster-consumer queries (semantic dedup, cluster budget, cluster
    * profile), split out of their timers exactly as the PQ/IVF builds
    * are: centroids are index state, trained once per (corpus
    * expression, params, data fingerprint) and served from parquet;
    * the timed query pays assignment + its own aggregation only.
    * Queries over the same corpus expression and params share one
    * build (`key` names the corpus expression).
    */
  private def kmeansPersisted(s: SparkSession, dir: String, key: String,
                              corpus: => DataFrame, idCol: String,
                              vecCol: String, n: Int, iters: Int): DataFrame = {
    val path = idxPath(s"km_$key", dir)
    graft.ops.PqIndex.ensure(s, path,
      idxSig(s, dir, s"kmeans,$key,n=$n,it=$iters")) {
      Similarity.kmeansCentroids(corpus, idCol, vecCol, n, iters)
        .write.mode("overwrite").parquet(s"$path/cent")
    }
    CorpusIO.readParquet(s, s"$path/cent")
  }

  /** First-touch persisted media payloads: planted PNG/WAV/GIF bytes are
    * rendered ONCE per (dir, codec version) and served from parquet
    * afterwards — so the mm_* codec legs time DECODE over at-rest bytes
    * (what a pipeline pays per run), not the fixture's render+encode
    * (the mm_* analog of the PQ build/search attribution split). The
    * signature carries the source fingerprint + a codec version to
    * rebuild when either changes.
    */
  private def mediaPayloads(s: SparkSession, dir: String, kind: String): DataFrame = {
    val path = idxPath(s"media_$kind", dir)
    // per-kind codec version: bump when a kind's PLANTED FORMULA changes
    // so stale first-touch payloads rebuild (wav_group: clip length grew
    // 50-99 -> 256-504 samples for fingerprint-width reasons)
    val ver = kind match {
      case "wav_group" => "v3"
      case _           => "v1"
    }
    graft.ops.PqIndex.ensure(s, path,
      idxSig(s, dir, s"media,$kind,$ver", table = "documents")) {
      val docs = t(s, dir, "documents")
      val media = kind match {
        case "png" => Multimodal.attachPngPayload(docs, "doc_id")
        case "png_group" => Multimodal.attachGroupedPngPayload(docs, "doc_id")
        case "wav" => Multimodal.attachWavPayload(docs, "doc_id")
        case "wav_group" => Multimodal.attachGroupedWavPayload(docs, "doc_id")
        case "gif" => Multimodal.attachGifPayload(docs, "doc_id")
        case other => throw new IllegalArgumentException(s"unknown media kind $other")
      }
      media.write.mode("overwrite").parquet(s"$path/media")
    }
    CorpusIO.readParquet(s, s"$path/media")
  }

  /** Shared oracle for BOTH curation-manifest variants (identical
    * result sets): the DAG rebuilt from each stage's SQL twin.
    */
  private lazy val curationManifestOracle: String =
    s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id >= 25),
             |cls AS (SELECT doc_id FROM (
             |${TextAnalysis.hashClassifierScoreSql("corpus", "doc_id", "text", dim = 4096)}) WHERE keep = 1),
             |gop AS (SELECT doc_id FROM (
             |${TextAnalysis.gopherRulesSql("corpus", "doc_id", "text", minWords = 50)}) WHERE keep = 1),
             |lng AS (SELECT doc_id FROM (
             |${TextAnalysis.langIdSql("corpus", "doc_id", "text")}) WHERE lang_pred = 'en'),
             |keeper AS (SELECT keep_id AS doc_id FROM (
             |${Dedup.exactDedupSql("corpus", "doc_id", "text")})),
             |cln AS (SELECT doc_id FROM (
             |${graft.ops.Decontaminate.cleanDocsSql("documents",
                 benchPred = "doc_id < 25", corpusPred = "doc_id >= 25", "doc_id", "text", k = 5)})),
             |kept AS (SELECT c.doc_id, c.source, c.text FROM corpus c
             |  JOIN cls USING(doc_id) JOIN gop USING(doc_id) JOIN lng USING(doc_id)
             |  JOIN keeper USING(doc_id) JOIN cln USING(doc_id)),
             |sp AS (${graft.ops.Sampling.splitAssignSql("kept", "doc_id", valPct = 2, testPct = 2)})
             |SELECT split, source, count(*) AS n_docs,
             |  CAST(sum(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))) AS BIGINT) AS n_tokens,
             |  CAST(sum(${graft.ops.PortableHash.duckStringHash("text")}) AS BIGINT) AS text_hash_sum
             |FROM sp GROUP BY split, source""".stripMargin

  /** Bench cost-control group: queries whose per-run price is a
    * DELIBERATE design artifact rather than a steady-state path — the
    * registered index-BUILD rows (`embed_ivfpq_persisted` rebuilds its
    * index every run by design; `embed_ivf_kmeans` trains its centroids
    * in-query as the build leg) and the two quarantined quadratic
    * verifiers (whose linear twins are the registered scale paths).
    * [[graft.Bench]] times these at most TWICE and reports the minimum
    * instead of the median-of-N, so suite growth stays sublinear in
    * query count; the median
    * discipline (and cross-round attribution) is unchanged for every
    * steady-state query. Membership is a registration decision — add a
    * query here ONLY with a comment on which twin carries its
    * steady-state number.
    */
  val priced: Set[String] = Set(
    "embed_ivfpq_persisted",  // build-price row; search legs: embed_ivfpq_topk etc.
    "embed_ivf_kmeans",       // k-means training leg; consumers read persisted centroids
    "embed_pq_codes",         // PQ codebook train+encode leg; search: embed_pq_topk
    "embed_pq_codes_packed",  // ditto, byte-packed; search: embed_pq_topk_packed
    "dedup_ngram_jaccard",    // quadratic all-pairs verifier; linear twin: minhash family
    "embed_bitext_mine")      // brute margin verifier; scale path: embed_bitext_shortlist

  /** Shared URL fixture for the url_* queries: six host classes
    * covering every canonicalization AND public-suffix rule form —
    * (0) www + https default port, (1) http default port, (2)
    * MISMATCHED default port (http://…:443 keeps it — distinct
    * resource), (3) an exact-rule public-suffix host
    * (`shop.Example3.CO.UK` → registrable `example3.co.uk`), (4) a
    * WILDCARD-rule host (`*.ck`: `x.y.somewhere.ck` → registrable
    * `y.somewhere.ck`), (5) an EXCEPTION-rule host (`!www.ck`:
    * `a.www.ck` → registrable `www.ck`); plus a percent-encoded
    * unreserved variant (`pa%74h` ≡ `path`, every 10th row), a DOUBLE
    * lowercase-hex reserved escape on odd rows (`c=%3a%3a` must
    * uppercase BOTH triplets — the case that catches a
    * first-match-only oracle regexp_replace), and the
    * query-order/fragment variants. Canonical identity has period
    * lcm(6, 50, 2) = 150 (host class id%6, path id%50, tail id%2 —
    * all determined by id mod 150), so ids congruent mod 150
    * canonicalize to the SAME URL — 150 distinct canonical URLs, and
    * the dedup and census branches carry mass.
    */
  private val urlFixtureSpark: String =
    "concat(CASE CAST(doc_id % 6 AS INT) WHEN 0 THEN 'https://WWW.Example0.com:443' " +
      "WHEN 1 THEN 'http://example1.com:80' WHEN 2 THEN 'http://example2.com:443' " +
      "WHEN 3 THEN 'https://shop.Example3.CO.UK' " +
      "WHEN 4 THEN 'http://x.y.somewhere.ck' " +
      "ELSE 'https://a.www.ck' END, " +
      "'/pa', IF(doc_id % 10 = 0, '%74', 't'), 'h/', cast(doc_id % 50 AS STRING), " +
      "IF(doc_id % 2 = 0, '/?b=2&a=1#frag', '?a=1&b=2&c=%3a%3a'))"

  private val urlFixtureDuck: String =
    "CASE doc_id % 6 WHEN 0 THEN 'https://WWW.Example0.com:443' " +
      "WHEN 1 THEN 'http://example1.com:80' WHEN 2 THEN 'http://example2.com:443' " +
      "WHEN 3 THEN 'https://shop.Example3.CO.UK' " +
      "WHEN 4 THEN 'http://x.y.somewhere.ck' " +
      "ELSE 'https://a.www.ck' END " +
      "|| '/pa' || CASE WHEN doc_id % 10 = 0 THEN '%74' ELSE 't' END " +
      "|| 'h/' || (doc_id % 50) " +
      "|| CASE WHEN doc_id % 2 = 0 THEN '/?b=2&a=1#frag' ELSE '?a=1&b=2&c=%3a%3a' END"

  private val urlFixtureDuckTable: String =
    s"(SELECT doc_id, $urlFixtureDuck AS url FROM documents)"

  /** One document fixture in both dialects: a Spark SQL expression that
    * rewrites `text` over a documents-shaped frame, and its DuckDB twin.
    * Each rewrite is stated once per dialect, here, and
    * QuerySchemaGuardSpec pins every pair row for row.
    */
  private[graft] class DocFixture(val spark: String, val duck: String) {
    /** `df` with `text` rewritten. Rows that plant extra documents apply
      * the fixture after their union, so the planted copies are
      * rewritten like their originals.
      */
    def apply(df: DataFrame): DataFrame = df.withColumn("text", expr(spark))

    /** The twin relation `(SELECT doc_id, <duck> AS text FROM <rel>)`; a
      * multi-line `rel` goes on its own line, indented one more space.
      */
    def twin(rel: String = "documents"): String =
      if (rel.contains('\n')) s"(SELECT doc_id, $duck AS text FROM\n ${rel.replace("\n", "\n ")})"
      else s"(SELECT doc_id, $duck AS text FROM $rel)"
  }

  private[graft] object DocFixture {
    /** The corpus as it is: the whitespace grain's fixture. */
    val raw: DocFixture = new DocFixture("text", "text") {
      override def apply(df: DataFrame): DataFrame = df
      override def twin(rel: String): String = rel
    }
  }

  private val upperAz = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
  private val lowerAz = "abcdefghijklmnopqrstuvwxyz"

  /** Every 3rd doc re-rendered as UNSEGMENTED text in another script:
    * letters lower-cased and mapped 1:1 onto `alphabet` (translate()
    * maps codepoint for codepoint in both dialects), spaces removed.
    * `cap` first cuts the text to 120 codepoints, `plant` is appended to
    * the re-rendered rows and `tail` to the others.
    */
  private def scriptFixture(alphabet: String, cap: Boolean = false,
                            plant: String = "", tail: String = ""): DocFixture = {
    def mapped(text: String) =
      s"replace(translate(translate($text, '$upperAz', '$lowerAz'), '$lowerAz', '$alphabet'), ' ', '')"
    val (sparkText, duckText) =
      if (cap) ("substring(text, 1, 120)", "substr(text, 1, 120)") else ("text", "text")
    def append(sparkBase: String, duckBase: String, suffix: String) =
      if (suffix.isEmpty) (sparkBase, duckBase)
      else (s"concat($sparkBase, '$suffix')", s"$duckBase || '$suffix'")
    val (sparkThen, duckThen) = append(mapped(sparkText), mapped(duckText), plant)
    val (sparkElse, duckElse) = append("text", "text", tail)
    new DocFixture(s"IF(doc_id % 3 = 0, $sparkThen, $sparkElse)",
      s"CASE WHEN doc_id % 3 = 0 THEN $duckThen ELSE $duckElse END")
  }

  /** zh fixture for the cjk-auto word-grain queries: the script
    * alphabet is the 26 most frequent hanzi, so the whitespace grain
    * provably returns n_words = 1 on the re-rendered rows while the
    * routed grain tokenizes per codepoint.
    */
  private val han26: String = "的一是不了人我在有他这为之大来以个中上们到说国和地也"
  private val zhFixture: DocFixture = scriptFixture(han26)

  /** Planted phrase for the cjk-dict FMM queries: 2/3/4-codepoint
    * lexicon words plus single-char connectives that must fall back to
    * the codepoint grain.
    */
  private val zhDictPlant: String =
    "我们的朋友在中国学习中文他们每天在图书馆用人工智能练习普通话因为我们喜欢中国文化和历史"

  /** The cjk-dict fixture (round 15): length-capped translate rows + the
    * planted lexicon phrase — the cap keeps the oracle's FMM cursor
    * recursion a triviality.
    */
  private val zhDictFixture: DocFixture = scriptFixture(han26, cap = true, plant = zhDictPlant)

  /** th fixture (round 15): letters mapped 1:1 onto 26 Thai consonants
    * (codepoint-fallback fodder; consonant soup matches no lexicon
    * word) — plus a planted space-free phrase of multi-codepoint
    * [[graft.ops.ThLexicon]] words the FMM grain must return whole
    * (ประเทศไทย = 9 codepoints).
    */
  private val th26: String = "กขคงจชญดตถทนบปผฝพฟมยรลวสหอ"
  private val thDictPlant: String =
    "ประเทศไทยมีภาษาไทยและอาหารอร่อยมากเราชอบกินข้าวและว่ายน้ำ"
  private val thDictFixture: DocFixture = scriptFixture(th26, cap = true, plant = thDictPlant)

  /** Sentence-dedup fixture: zh rows end in a repeated full-width
    * boilerplate sentence, the others in a repeated English one.
    */
  private val newsletterFixture: DocFixture = scriptFixture(han26,
    plant = "。请关注我们的公众号。", tail = ". Subscribe to our newsletter today!")

  /** The multi-sentence tail `text_sentences` and `text_chunk_sentences`
    * plant on every doc.
    */
  private val sentenceTailFixture: DocFixture = new DocFixture(
    "concat(text, '. Planted tail!  Second one? Third.')",
    "text || '. Planted tail!  Second one? Third.'")

  /** Full-width sentence fixture shared by `text_sentences_cjk` and
    * `text_chunk_sentences_cjk` (r14; the first query's comment says
    * what each row class exercises). Its twin keeps the layout its two
    * oracles have always had (two spaces before FROM), so their SQL
    * stays byte-stable.
    */
  private val zhSentenceFixture: DocFixture = new DocFixture(
    "IF(doc_id % 3 = 0, " +
      s"concat(replace(translate(translate(text, '$upperAz', '$lowerAz') || '. planted tail! second one? third.', " +
      s"'$lowerAz.!?', '$han26。！？'), ' ', ''), " +
      "'「中文句子。」结尾带省略号…完'), " +
      "text || '. Planted tail!  Second one? Third.')",
    "CASE WHEN doc_id % 3 = 0 " +
      s" THEN replace(translate(translate(text, '$upperAz', '$lowerAz') || '. planted tail! second one? third.', " +
      s"   '$lowerAz.!?', '$han26。！？'), ' ', '') " +
      "   || '「中文句子。」结尾带省略号…完' " +
      " ELSE text || '. Planted tail!  Second one? Third.' END") {
    override def twin(rel: String): String = s"(SELECT doc_id, $duck AS text  FROM $rel)"
  }

  /** Case/spacing/NFC variants of ONE shared sentence on even/odd doc
    * pairs (`dedup_exact_normalized`).
    */
  private val plantedSentenceFixture: DocFixture = new DocFixture(
    "IF(doc_id % 2 = 0, " +
      "concat('Shared  PLANTED\tsentence nr ', cast(doc_id div 2 AS STRING)), " +
      "concat('shared planted sentence nr ', cast(doc_id div 2 AS STRING)))",
    "CASE WHEN doc_id % 2 = 0 " +
      "THEN 'Shared  PLANTED\tsentence nr ' || (doc_id // 2) " +
      "ELSE 'shared planted sentence nr ' || (doc_id // 2) END")

  /** 32-token boilerplate paragraph (one exactly-aligned chunk at
    * size=stride=32) prepended to every doc for the passage-dedup
    * fixture.
    */
  private val bp32: String = (1 to 32).map(i => "boiler").mkString(" ")
  private val boilerplateFixture: DocFixture =
    new DocFixture(s"concat('$bp32 ', text)", s"'$bp32 ' || text")

  /** Mojibake fixture suffix: a phrase run through the ACTUAL
    * corruption the op repairs (UTF-8 bytes read as cp1252), appended
    * to every 3rd doc. Contains no quotes, so it embeds in both
    * dialects' literals verbatim.
    */
  private val mojiSuffix: String =
    " " + graft.ops.Mojibake.mojibakeOf("café ’quoted’ «guille» – dash… 90° ¡sí! ñandú")
  private val mojibakeFixture: DocFixture = new DocFixture(
    s"concat(text, IF(doc_id % 3 = 0, '$mojiSuffix', ''))",
    s"text || CASE WHEN doc_id % 3 = 0 THEN '$mojiSuffix' ELSE '' END")

  /** Markup planted around every doc (`text_strip_markup`): tags, nested
    * entities and attributes.
    */
  private val markupFixture: DocFixture = new DocFixture(
    "concat('<div class=\"hd\"><b>T</b></div> ', text, " +
      "' &amp;lt; kept &quot;q&quot; &#39;a&#39; <br/> tail &gt;')",
    "'<div class=\"hd\"><b>T</b></div> ' || text || " +
      "' &amp;lt; kept &quot;q&quot; &#39;a&#39; <br/> tail &gt;'")

  /** Crawl markup for the composed ingest chain (`pipeline_ingest`). */
  private val crawlPageFixture: DocFixture = new DocFixture(
    "concat('<p>Crawl <b>page</b></p> ', text, ' &amp; tail')",
    "'<p>Crawl <b>page</b></p> ' || text || ' &amp; tail'")

  /** Multilingual tails for the script profile (`text_scripts`). */
  private val scriptTailFixture: DocFixture = new DocFixture(
    "CASE WHEN doc_id % 4 = 1 THEN concat(text, repeat('中', cast(n_chars AS INT))) " +
      "WHEN doc_id % 4 = 2 THEN concat(text, ' Пример Текста для проверки') " +
      "WHEN doc_id % 4 = 3 THEN concat(text, ' مثال نصي 123') " +
      "ELSE text END",
    "CASE WHEN doc_id % 4 = 1 THEN text || repeat('中', n_chars::INT) " +
      "WHEN doc_id % 4 = 2 THEN text || ' Пример Текста для проверки' " +
      "WHEN doc_id % 4 = 3 THEN text || ' مثال نصي 123' " +
      "ELSE text END")

  /** Normalization suffix (`text_normalize`): a DECOMPOSED e+U+0301, an
    * uppercase run, a tab and double spaces.
    */
  private val normalizeTailFixture: DocFixture = new DocFixture(
    "concat(text, ' MIXED  Case\tÉcole  ')",
    "text || ' MIXED  Case\tÉcole  '")

  /** Multi-byte fixture suffix for the byte-true WARC query: one 2-,
    * 3-, and 4-byte UTF-8 character each, so every payload's byte
    * length strictly exceeds its character count and a character-based
    * Content-Length bound would provably mis-capture. No quotes, so it
    * embeds in both dialects' literals verbatim.
    */
  private val multiByteFixture: DocFixture =
    new DocFixture("concat(text, ' é 中 😀')", "text || ' é 中 😀'")

  /** Every document fixture by name; QuerySchemaGuardSpec replays each. */
  private[graft] val docFixtures: Seq[(String, DocFixture)] = Seq(
    "zh" -> zhFixture, "zh-dict" -> zhDictFixture, "th-dict" -> thDictFixture,
    "newsletter" -> newsletterFixture, "sentence-tail" -> sentenceTailFixture,
    "zh-sentence" -> zhSentenceFixture, "planted-sentence" -> plantedSentenceFixture,
    "boilerplate" -> boilerplateFixture, "mojibake" -> mojibakeFixture,
    "markup" -> markupFixture, "crawl-page" -> crawlPageFixture,
    "script-tail" -> scriptTailFixture, "normalize-tail" -> normalizeTailFixture,
    "multi-byte" -> multiByteFixture)

  /** A word grain the text operators route on, with the fixture that
    * gives it rows to route; `suffix` names its member of a grain family.
    */
  private final case class Grain[+G <: WordGrain](suffix: String, wordGrain: G, fixture: DocFixture)
  private val ws = Grain("", WordGrain.Ws, DocFixture.raw)
  private val cjk = Grain("_cjk", WordGrain.CjkAuto, zhFixture)
  private val cjkDict = Grain("_cjkdict", WordGrain.CjkDict, zhDictFixture)
  private val thaiDict = Grain("_thaidict", WordGrain.ThaiDict, thDictFixture)

  private type QueryBody = ((SparkSession, String) => DataFrame, String)

  /** One query per grain from one row body: the ws member is named
    * `base`, the others append their grain's suffix. `row` gets the grain
    * and that grain's own argument, where the members really differ, and
    * returns the Spark side and its oracle.
    */
  private def grainFamily[G <: WordGrain, A](base: String, grains: (Grain[G], A)*)(
      row: (Grain[G], A) => QueryBody): Seq[QueryDef] =
    grains.map { case (g, a) =>
      val (spark, oracle) = row(g, a)
      QueryDef(base + g.suffix, spark, Some(oracle))
    }

  private def grainFamily[G <: WordGrain](base: String, grains: Grain[G]*)(
      row: Grain[G] => QueryBody): Seq[QueryDef] =
    grainFamily(base, grains.map(_ -> (())): _*)((g, _) => row(g))

  /** One rung of the LM-filter ladder on grain `g`: reference side =
    * the first 100 docs, scored side = the rest, top-500 vocabulary.
    */
  private def lmRung(g: Grain[WordGrain],
                     score: (DataFrame, DataFrame, String, String, Int, WordGrain) => DataFrame,
                     scoreSql: (String, String, String, String, String, Int, WordGrain) => String): QueryBody = (
    (s, dir) => {
      val docs = g.fixture(t(s, dir, "documents"))
      score(docs.where(col("doc_id") >= 100), docs.where(col("doc_id") < 100),
        "doc_id", "text", 500, g.wordGrain)
    },
    scoreSql(g.fixture.twin(), "doc_id >= 100", "doc_id < 100", "doc_id", "text", 500, g.wordGrain))

  /** Chat-conversation fixture (round 16): each doc rendered as a
    * JSON `[{role, content}, …]` turn array. Content words come from
    * the lower-cased alphanumeric-normalized text (JSON escaping is
    * then a non-issue on either engine); body turns = 2 + doc_id % 3
    * so odd bodies (invalid alternation) carry mass; every 5th doc
    * has no system turn. DuckDB's `regexp_replace` needs the 'g' flag
    * (first-match-only by default, unlike Spark) and its
    * `array_to_string([])` is NULL where Spark's `array_join` is ''
    * (the r9 divergence) — hence the coalesce.
    */
  /** The word array every chat fixture slices per turn, LET-BOUND once
    * per row (r20 optimization): referenced from inside a `transform`
    * lambda, the regexp_replace+split+filter chain is re-evaluated PER
    * TURN (2-4x per row — the ProbeRound17 lambda-recompute class, see
    * the verify skill's let1 gotcha); hoisting it through
    * [[graft.ops.PortableHash.let1]] evaluates it once per row. Values
    * are unchanged — the DuckDB twins stay on their inline form.
    */
  private def chatWords(body: String): String =
    graft.ops.PortableHash.let1("__cw",
      "filter(split(regexp_replace(lower(text), '[^a-z0-9 ]', ''), ' '), " +
        "x -> x != '')", body)

  private val chatFixtureSpark: String =
    chatWords("concat(IF(doc_id % 5 = 0, '[', " +
      "'[{\"role\":\"system\",\"content\":\"be concise\"},'), " +
      "concat_ws(',', transform(sequence(0, cast(1 + doc_id % 3 AS INT)), i -> " +
      "concat('{\"role\":\"', IF(i % 2 = 0, 'user', 'assistant'), " +
      "'\",\"content\":\"', " +
      "array_join(slice(__cw, cast(i * 6 + 1 AS INT), 6), ' '), '\"}'))), ']')")

  private val chatFixtureDuck: String =
    "'[' || CASE WHEN doc_id % 5 = 0 THEN '' " +
      "ELSE '{\"role\":\"system\",\"content\":\"be concise\"},' END || " +
      "array_to_string(list_transform(generate_series(0, (1 + doc_id % 3)::INT), i -> " +
      "'{\"role\":\"' || CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END || " +
      "'\",\"content\":\"' || " +
      "coalesce(array_to_string((list_filter(string_split(" +
      "regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' '), " +
      "x -> x <> ''))[(i * 6 + 1):(i * 6 + 6)], ' '), '') || '\"}'), ',') || ']'"

  /** Degeneration fixture (round 18): 4 body turns; every 3rd doc's
    * assistant turns are a planted decoding LOOP (`loop loop loop loop
    * loop end` — top-bigram 4/5, dup-word 4/6) while the rest carry
    * the normal 6-word slices — so the repetition signals separate
    * cleanly at assistant-turn grain.
    */
  private val chatDegenFixtureSpark: String =
    chatWords("concat('[', concat_ws(',', transform(sequence(0, 3), i -> " +
      "concat('{\"role\":\"', IF(i % 2 = 0, 'user', 'assistant'), " +
      "'\",\"content\":\"', " +
      "IF(i % 2 = 1 AND doc_id % 3 = 0, 'loop loop loop loop loop end', " +
      "array_join(slice(__cw, cast(i * 6 + 1 AS INT), 6), ' ')), '\"}'))), ']')")

  private val chatDegenFixtureDuck: String =
    "'[' || array_to_string(list_transform(generate_series(0, 3), i -> " +
      "'{\"role\":\"' || CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END || " +
      "'\",\"content\":\"' || " +
      "CASE WHEN i % 2 = 1 AND doc_id % 3 = 0 THEN 'loop loop loop loop loop end' " +
      "ELSE coalesce(array_to_string((list_filter(string_split(" +
      "regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' '), " +
      "x -> x <> ''))[(i * 6 + 1):(i * 6 + 6)], ' '), '') END || '\"}'), ',') || ']'"

  /** Quarantine fixture (round 17): wraps a conversation fixture with
    * planted contract violations by doc_id residue — NULL conv,
    * truncated JSON (unterminated string), the empty array, a renamed
    * content key (every turn loses `content` -> null_field), a
    * top-level JSON OBJECT (valid JSON, wrong type), and an array with
    * NON-OBJECT elements (valid JSON that Spark's from_json nulls
    * whole — the rung the round-17 review found mis-classified on the
    * DuckDB side). The remaining ~5/11 of rows stay well-formed.
    * `base` is referenced several times — fixture-scale cost, oracle
    * rows only.
    */
  private def quarantineWrapSpark(base: String): String =
    s"CASE WHEN doc_id % 11 = 0 THEN NULL " +
      s"WHEN doc_id % 11 = 1 THEN substring($base, 1, length($base) - 2) " +
      s"WHEN doc_id % 11 = 2 THEN '[]' " +
      s"""WHEN doc_id % 11 = 3 THEN replace($base, '"content"', '"contentx"') """ +
      s"""WHEN doc_id % 11 = 4 THEN '{"role":"user","content":"hi"}' """ +
      s"""WHEN doc_id % 11 = 5 THEN '["loose text", 7]' """ +
      s"ELSE $base END"

  private def quarantineWrapDuck(base: String): String =
    s"CASE WHEN doc_id % 11 = 0 THEN NULL " +
      s"WHEN doc_id % 11 = 1 THEN substr($base, 1, len($base) - 2) " +
      s"WHEN doc_id % 11 = 2 THEN '[]' " +
      s"""WHEN doc_id % 11 = 3 THEN replace($base, '"content"', '"contentx"') """ +
      s"""WHEN doc_id % 11 = 4 THEN '{"role":"user","content":"hi"}' """ +
      s"""WHEN doc_id % 11 = 5 THEN '["loose text", 7]' """ +
      s"ELSE $base END"

  /** Tool-turn fixture (round 17): conversations whose BODY role
    * sequences exercise the extended (tool-admitting) grammar branch by
    * branch — [u,a] and [u,a,u,a] (valid under both grammars),
    * [u,a,t,a] (ext-valid only: the canonical assistant->tool->assistant
    * function call), [u,t,a] (tool after user — invalid), [u,a,t]
    * (ends on tool — invalid). System head always present. Content =
    * 6-word slices of the normalized text, as in the base fixture.
    */
  private val toolRoleSeqsSpark: String =
    "element_at(array(" +
      "array('user','assistant'), " +
      "array('user','assistant','tool','assistant'), " +
      "array('user','tool','assistant'), " +
      "array('user','assistant','tool'), " +
      "array('user','assistant','user','assistant')), " +
      "cast(doc_id % 5 + 1 AS INT))"

  private val chatToolFixtureSpark: String =
    chatWords("concat('[{\"role\":\"system\",\"content\":\"be concise\"},', " +
      s"concat_ws(',', transform($toolRoleSeqsSpark, (r, i) -> " +
      "concat('{\"role\":\"', r, '\",\"content\":\"', " +
      "array_join(slice(__cw, cast(i * 6 + 1 AS INT), 6), ' '), '\"}'))), ']')")

  /** DuckDB twin of [[chatToolFixtureSpark]] as a derived TABLE (the
    * role list and word list need let-binding, which SQL spells as a
    * subquery; DuckDB list_transform lambdas carry no index, so the
    * turn index rides generate_series).
    */
  private def chatToolFixtureDuckRel(extraCols: String = ""): String =
    s"""(SELECT doc_id$extraCols,
       |  '[{"role":"system","content":"be concise"},' ||
       |  array_to_string(list_transform(generate_series(1, len(rl)), i ->
       |    '{"role":"' || rl[i] || '","content":"' ||
       |    coalesce(array_to_string(ws[((i - 1) * 6 + 1):((i - 1) * 6 + 6)], ' '), '') ||
       |    '"}'), ',') || ']' AS conv
       |FROM (SELECT doc_id$extraCols,
       |        CASE doc_id % 5
       |          WHEN 0 THEN ['user', 'assistant']
       |          WHEN 1 THEN ['user', 'assistant', 'tool', 'assistant']
       |          WHEN 2 THEN ['user', 'tool', 'assistant']
       |          WHEN 3 THEN ['user', 'assistant', 'tool']
       |          ELSE ['user', 'assistant', 'user', 'assistant'] END AS rl,
       |        list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' '),
       |                    x -> x <> '') AS ws
       |      FROM documents))""".stripMargin

  /** Preference-pair fixture (round 17): each doc yields one
    * (prompt, chosen, rejected) triple from word slices of its
    * normalized text — prompt = words 1-8, chosen = words 9-20,
    * rejected = words 9-14 (a truncated, "worse" answer). Planted
    * contract violations by doc_id % 7: identical pair (0), empty
    * rejected (1), and a case/double-space variant of chosen (2 —
    * identical only AFTER normalization, exercising the kernel path).
    * Docs too short for a slice derive '' identically on both engines.
    */
  private val prefWordsSpark: String =
    "filter(split(regexp_replace(lower(text), '[^a-z0-9 ]', ''), ' '), x -> x != '')"

  private def prefFixtureSpark(s: org.apache.spark.sql.SparkSession,
                               dir: String): org.apache.spark.sql.DataFrame = {
    t(s, dir, "documents")
      .withColumn("__ws", expr(prefWordsSpark))
      .withColumn("prompt", expr("array_join(slice(__ws, 1, 8), ' ')"))
      .withColumn("chosen", expr("array_join(slice(__ws, 9, 12), ' ')"))
      .withColumn("rejected", expr(
        "CASE cast(doc_id % 7 AS INT) " +
          "WHEN 0 THEN chosen " +
          "WHEN 1 THEN '' " +
          "WHEN 2 THEN replace(upper(chosen), ' ', '  ') " +
          "ELSE array_join(slice(__ws, 9, 6), ' ') END"))
  }

  private val prefFixtureDuckRel: String =
    """(SELECT doc_id, source, prompt, chosen,
      |  CASE doc_id % 7
      |    WHEN 0 THEN chosen
      |    WHEN 1 THEN ''
      |    WHEN 2 THEN replace(upper(chosen), ' ', '  ')
      |    ELSE coalesce(array_to_string(ws[9:14], ' '), '') END AS rejected
      |FROM (SELECT doc_id, source,
      |        coalesce(array_to_string(ws[1:8], ' '), '') AS prompt,
      |        coalesce(array_to_string(ws[9:20], ' '), '') AS chosen, ws
      |      FROM (SELECT doc_id, source,
      |              list_filter(string_split(
      |                regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' '),
      |                x -> x <> '') AS ws
      |            FROM documents)))""".stripMargin

  /** Pairwise-judgment fixture (round 17, widened round 18): five
    * models from doc_id residues (the % 7 % 5 second leg skews the
    * pairing so match counts differ per pair), a winner rule biased
    * toward model_a except every 3rd match, self-matches planted
    * (dropped by the op's domain), every 11th match a NULL-winner tie,
    * every 13th a literal `'tie (bothbad)'` arena draw string and
    * every 17th a typo'd name matching neither model — so the oracle
    * hash-checks the full unmatched-winner encoding (the round-17
    * btScoresSql divergence survived precisely because only NULL ties
    * were planted).
    */
  private def judgeFixtureSpark(s: org.apache.spark.sql.SparkSession,
                                dir: String): org.apache.spark.sql.DataFrame =
    t(s, dir, "documents")
      .withColumn("model_a", expr("concat('m', doc_id % 5)"))
      .withColumn("model_b", expr("concat('m', doc_id % 7 % 5)"))
      .withColumn("winner", expr(
        "CASE WHEN doc_id % 11 = 0 THEN NULL " +
          "WHEN doc_id % 13 = 0 THEN 'tie (bothbad)' " +
          "WHEN doc_id % 17 = 0 THEN 'm9x' " +
          "WHEN doc_id % 3 = 0 THEN model_b ELSE model_a END"))

  private val judgeFixtureDuckRel: String =
    """(SELECT doc_id, model_a, model_b,
      |  CASE WHEN doc_id % 11 = 0 THEN NULL
      |       WHEN doc_id % 13 = 0 THEN 'tie (bothbad)'
      |       WHEN doc_id % 17 = 0 THEN 'm9x'
      |       WHEN doc_id % 3 = 0 THEN model_b ELSE model_a END AS winner
      |FROM (SELECT doc_id,
      |        'm' || (doc_id % 5) AS model_a,
      |        'm' || (doc_id % 7 % 5) AS model_b
      |      FROM documents))""".stripMargin

  /** RL trajectory fixture (round 18, value predictions added round
    * 19): episodes from the events table — trajectory = user, step =
    * dense row_number by (ts, event_id), reward = value in milli
    * SHIFTED −1500 so penalty steps carry mass (negative rewards
    * exercise the truncating signed division end-to-end), policy from
    * the user residue, and a SIGNED deterministic critic prediction
    * (`value_milli`, residue-derived, spanning ±2000 so GAE's δ and A
    * change sign within episodes).
    */
  private def trajFixtureSpark(s: org.apache.spark.sql.SparkSession,
                               dir: String): org.apache.spark.sql.DataFrame =
    t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("__s0", expr(
        "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)"))
      // FRACTIONAL DOUBLE step (round-20 ADVICE class): consecutive
      // raw steps tie under the truncated sort key (1/2 and 2/2 both
      // truncate to... 0.5->0, 1.0->1; 1.0 and 1.5 both ->1), so the
      // oracle permanently checks that both engines renumber ties by
      // (trunc(step), reward) identically — step only needs to ORDER
      // the episode, and a fractional step is in-domain
      .withColumn("step", expr("__s0 / 2"))
      .withColumn("reward_milli", expr(
        "cast(cast(value AS DECIMAL(18,2)) * 1000 AS BIGINT) - 1500"))
      .withColumn("policy", expr("concat('p', user_id % 3)"))
      .withColumn("value_milli", expr(
        "cast(((user_id * 7 + __s0 * 13) % 41) * 100 - 2000 AS BIGINT)"))

  private val trajFixtureDuckRel: String =
    """(SELECT user_id, s0 / 2 AS step,
      |  (CAST(value AS DECIMAL(18,2)) * 1000)::BIGINT - 1500 AS reward_milli,
      |  'p' || (user_id % 3) AS policy,
      |  (((user_id * 7 + s0 * 13) % 41) * 100 - 2000)::BIGINT AS value_milli
      |FROM (SELECT user_id, value,
      |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS s0
      |      FROM events))""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // ========= RL trajectory analytics (round 18): rollout data =========

    // discounted return-to-go per (trajectory, step): the compiled
    // backward-recurrence kernel vs the oracle's recursive CTE —
    // integer milli with TRUNCATING division (negative rewards carry
    // fixture mass, so the signed rounding is hash-checked)
    QueryDef("traj_returns",
      (s, dir) => graft.ops.Trajectory.trajReturns(
        trajFixtureSpark(s, dir), "user_id", "step", "reward_milli"),
      Some(graft.ops.Trajectory.trajReturnsSql(
        trajFixtureDuckRel, "user_id", "step", "reward_milli"))),

    // per-policy episode report: trajectory/step counts, mean length
    // milli, total reward kept as a signed SUM (no signed division in
    // hashed columns)
    QueryDef("traj_stats",
      (s, dir) => graft.ops.Trajectory.trajStats(
        trajFixtureSpark(s, dir), "user_id", "policy", "reward_milli"),
      Some(graft.ops.Trajectory.trajStatsSql(
        trajFixtureDuckRel, "user_id", "policy", "reward_milli"))),

    // per-step advantage vs the (policy, step) peer baseline, kept as
    // the exact scaled integer G*n - sum(G) — the policy-gradient
    // centering pass over the same returns lineage
    QueryDef("traj_advantage",
      (s, dir) => graft.ops.Trajectory.trajAdvantage(
        trajFixtureSpark(s, dir), "user_id", "step", "reward_milli",
        "policy"),
      Some(graft.ops.Trajectory.trajAdvantageSql(
        trajFixtureDuckRel, "user_id", "step", "reward_milli", "policy"))),

    // GAE(lambda) advantages (round 19): TD residuals against the
    // fixture's signed critic predictions, then the backward
    // gamma*lambda recurrence — the compiled graft_gae_adv kernel vs
    // the oracle's value-carrying recursive CTE; signed values make
    // delta and A change sign within episodes, so the truncating
    // rounding is hash-checked on both signs
    QueryDef("traj_gae",
      (s, dir) => graft.ops.Trajectory.trajGae(
        trajFixtureSpark(s, dir), "user_id", "step", "reward_milli",
        "value_milli"),
      Some(graft.ops.Trajectory.trajGaeSql(
        trajFixtureDuckRel, "user_id", "step", "reward_milli",
        "value_milli"))),

    // COMPOSED: events -> gap-based sessionization -> discounted
    // returns (round 18): the full rollout-ingest path — raw event
    // streams carry no episode ids, so episodes come from the
    // sessionize gap rule (30-min silence = episode boundary, the
    // session_agg numbering), then the trajectory family consumes the
    // derived (episode, dense step) frame. Proves the families
    // compose without a bespoke bridge.
    QueryDef("traj_from_sessions",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val running = byUser.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
        val stepped = t(s, dir, "events")
          .withColumn("__prev_us", lag(expr("unix_micros(ts)"), 1).over(byUser))
          .withColumn("__new", when(col("__prev_us").isNull ||
            expr("unix_micros(ts)") - col("__prev_us") > 30L * 60 * 1000000,
            1L).otherwise(0L))
          .withColumn("session_no", sum(col("__new")).over(running))
          // string composite key: an arithmetic user*K+session key caps
          // at K sessions per user and silently MERGES episodes past it
          // (round-18 self-review finding)
          .withColumn("traj_id", expr("concat('u', user_id, 's', session_no)"))
          .withColumn("step", expr(
            "row_number() OVER (PARTITION BY user_id, session_no " +
              "ORDER BY ts, event_id)"))
          .withColumn("reward_milli", expr(
            "cast(cast(value AS DECIMAL(18,2)) * 1000 AS BIGINT) - 1500"))
        graft.ops.Trajectory.trajReturns(
          stepped, "traj_id", "step", "reward_milli")
      },
      Some(graft.ops.Trajectory.trajReturnsSql(
        """(WITH flagged AS (
          |  SELECT user_id, ts, event_id, value,
          |    CASE WHEN lag(ts) OVER w IS NULL
          |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
          |         THEN 1 ELSE 0 END AS new_session
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
          |SELECT 'u' || user_id || 's' || session_no AS traj_id,
          |  row_number() OVER (PARTITION BY user_id, session_no
          |    ORDER BY ts, event_id) AS step,
          |  (CAST(value AS DECIMAL(18,2)) * 1000)::BIGINT - 1500 AS reward_milli
          |FROM (
          |  SELECT user_id, ts, event_id, value,
          |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
          |  FROM flagged))""".stripMargin,
        "traj_id", "step", "reward_milli"))),

    // ===== pairwise-judgment analytics (round 17): LLM-judge matches ====

    // win-rate matrix over a planted match fixture: model_a/model_b
    // from doc_id residues (self-matches planted and dropped), a
    // biased winner rule so rates separate, NULL winners as ties
    QueryDef("judge_winrate",
      (s, dir) => graft.ops.Judge.winRate(
        judgeFixtureSpark(s, dir), "model_a", "model_b", "winner"),
      Some(graft.ops.Judge.winRateSql(
        judgeFixtureDuckRel, "model_a", "model_b", "winner"))),

    // Bradley-Terry strengths by fixed-iteration MM in integer milli —
    // exact on both engines (integer sums are order-independent;
    // div ≡ // on non-negatives), the float MM would hash-diverge
    QueryDef("judge_bt",
      (s, dir) => graft.ops.Judge.btScores(
        judgeFixtureSpark(s, dir), "model_a", "model_b", "winner"),
      Some(graft.ops.Judge.btScoresSql(
        judgeFixtureDuckRel, "model_a", "model_b", "winner"))),

    // BT convergence report (round 19): final strengths plus the last
    // iteration's signed/absolute milli movement — settled vs
    // truncated rankings become readable; the oracle replays the CTE
    // ladder one iteration deeper and hash-checks the join
    QueryDef("judge_bt_convergence",
      (s, dir) => graft.ops.Judge.btConvergence(
        judgeFixtureSpark(s, dir), "model_a", "model_b", "winner"),
      Some(graft.ops.Judge.btConvergenceSql(
        judgeFixtureDuckRel, "model_a", "model_b", "winner"))),

    // position-bias report (round 18): per model, win-milli as model_a
    // (shown first) vs as model_b, plus the signed gap — the order-
    // effect audit before trusting win rates; the fixture's winner rule
    // favors model_a except every 3rd match, so the planted bias is
    // strongly positive and the oracle hashes the directed-grain split
    QueryDef("judge_position_bias",
      (s, dir) => graft.ops.Judge.positionBias(
        judgeFixtureSpark(s, dir), "model_a", "model_b", "winner"),
      Some(graft.ops.Judge.positionBiasSql(
        judgeFixtureDuckRel, "model_a", "model_b", "winner"))),

    // length-bias report (round 18): matches bucketed by the absolute
    // response-length gap, the LONGER side's win-milli per bucket —
    // the verbosity audit next to judge_position_bias. The fixture's
    // lengths come from doc stats and its winner rule favors the
    // longer side on 2-of-3 residues, so the planted bias is visible;
    // equal-length matches land in the -1 bucket
    QueryDef("judge_length_bias",
      (s, dir) => graft.ops.Judge.lengthBias(
        judgeFixtureSpark(s, dir)
          .withColumn("len_a", expr("n_chars"))
          .withColumn("len_b", expr("cast(n_chars * (doc_id % 4 + 2) div 3 AS BIGINT)")),
        "model_a", "model_b", "winner", "len_a", "len_b", binWidth = 50),
      // the Spark side reads n_chars straight off judgeFixtureSpark
      // (which deliberately does NOT project its document columns away
      // — length_bias depends on that); the twin mirrors with ONE
      // documents scan rather than re-joining the projected fixture rel
      Some(graft.ops.Judge.lengthBiasSql(
        """(SELECT doc_id, model_a, model_b,
          |  CASE WHEN doc_id % 11 = 0 THEN NULL
          |       WHEN doc_id % 13 = 0 THEN 'tie (bothbad)'
          |       WHEN doc_id % 17 = 0 THEN 'm9x'
          |       WHEN doc_id % 3 = 0 THEN model_b ELSE model_a END AS winner,
          |  n_chars AS len_a,
          |  (n_chars * (doc_id % 4 + 2) // 3)::BIGINT AS len_b
          |FROM (SELECT doc_id, n_chars,
          |        'm' || (doc_id % 5) AS model_a,
          |        'm' || (doc_id % 7 % 5) AS model_b
          |      FROM documents))""".stripMargin,
        "model_a", "model_b", "winner", "len_a", "len_b", binWidth = 50))),

    // inter-judge agreement over a 3-judge labeling fixture (3 verdicts
    // per doc, deterministic partial agreement): raw agree rates in
    // milli at judge-pair grain — the trust check before judgments
    // feed preference data
    QueryDef("judge_agreement",
      (s, dir) => graft.ops.Judge.agreement(
        t(s, dir, "documents")
          .select(col("doc_id"), explode(expr("sequence(0, 2)")).as("j"))
          .select(col("doc_id"), expr("concat('j', j)").as("judge"),
            expr("IF((doc_id + j * (doc_id % 4)) % 3 = 0, 'good', 'bad')")
              .as("verdict")),
        "doc_id", "judge", "verdict"),
      Some(graft.ops.Judge.agreementSql(
        """(SELECT doc_id, 'j' || j AS judge,
          |  CASE WHEN (doc_id + j * (doc_id % 4)) % 3 = 0 THEN 'good'
          |       ELSE 'bad' END AS verdict
          |FROM (SELECT doc_id, unnest(generate_series(0, 2)) AS j
          |      FROM documents))""".stripMargin,
        "doc_id", "judge", "verdict"))),

    // Fleiss' kappa per panel size (round 19): the board-level
    // chance correction over the same 3-judge panel — pooled
    // marginals, per-item agreement numerators, one row for the n=3
    // panel; exact-integer po/pe with the sanctioned signed division
    QueryDef("judge_fleiss_kappa",
      (s, dir) => graft.ops.Judge.fleissKappa(
        t(s, dir, "documents")
          .select(col("doc_id"), explode(expr("sequence(0, 2)")).as("j"))
          .select(col("doc_id"), expr("concat('j', j)").as("judge"),
            expr("IF((doc_id + j * (doc_id % 4)) % 3 = 0, 'good', 'bad')")
              .as("verdict")),
        "doc_id", "judge", "verdict"),
      Some(graft.ops.Judge.fleissKappaSql(
        """(SELECT doc_id, 'j' || j AS judge,
          |  CASE WHEN (doc_id + j * (doc_id % 4)) % 3 = 0 THEN 'good'
          |       ELSE 'bad' END AS verdict
          |FROM (SELECT doc_id, unnest(generate_series(0, 2)) AS j
          |      FROM documents))""".stripMargin,
        "doc_id", "judge", "verdict"))),

    // Cohen's kappa per judge pair (round 19): the chance-corrected
    // read on the same 3-judge panel — po/pe marginal arithmetic in
    // exact integers, the corrected ratio via the probed
    // both-engines-truncate signed division; the fixture's skewed
    // good/bad split (1/3 good) makes pe nontrivial, so the hash
    // checks the marginal products, not just raw agreement
    QueryDef("judge_kappa",
      (s, dir) => graft.ops.Judge.kappa(
        t(s, dir, "documents")
          .select(col("doc_id"), explode(expr("sequence(0, 2)")).as("j"))
          .select(col("doc_id"), expr("concat('j', j)").as("judge"),
            expr("IF((doc_id + j * (doc_id % 4)) % 3 = 0, 'good', 'bad')")
              .as("verdict")),
        "doc_id", "judge", "verdict"),
      Some(graft.ops.Judge.kappaSql(
        """(SELECT doc_id, 'j' || j AS judge,
          |  CASE WHEN (doc_id + j * (doc_id % 4)) % 3 = 0 THEN 'good'
          |       ELSE 'bad' END AS verdict
          |FROM (SELECT doc_id, unnest(generate_series(0, 2)) AS j
          |      FROM documents))""".stripMargin,
        "doc_id", "judge", "verdict"))),

    // weighted kappa (round 20): ordinal 0-4 scores where j0/j1 are a
    // near-miss-heavy pair (off by one on every odd doc) and j2 is
    // scattered — linear/quadratic weights make the j0/j1 row score
    // high while the unweighted judge_kappa formulation would read it
    // low; exact integer Do/De, one non-negative truncating division
    QueryDef("judge_kappa_weighted",
      (s, dir) => graft.ops.Judge.kappaWeighted(
        t(s, dir, "documents")
          .select(col("doc_id"), explode(expr("sequence(0, 2)")).as("j"))
          .select(col("doc_id"), expr("concat('j', j)").as("judge"),
            expr("CASE j WHEN 0 THEN doc_id % 5 " +
              "WHEN 1 THEN IF(doc_id % 2 = 0, doc_id % 5, " +
              "least(doc_id % 5 + 1, 4)) " +
              "ELSE (doc_id * 3 + 1) % 5 END").as("score")),
        "doc_id", "judge", "score"),
      Some(graft.ops.Judge.kappaWeightedSql(
        """(SELECT doc_id, 'j' || j AS judge,
          |  CASE j WHEN 0 THEN doc_id % 5
          |    WHEN 1 THEN (CASE WHEN doc_id % 2 = 0 THEN doc_id % 5
          |                 ELSE least(doc_id % 5 + 1, 4) END)
          |    ELSE (doc_id * 3 + 1) % 5 END AS score
          |FROM (SELECT doc_id, unnest(generate_series(0, 2)) AS j
          |      FROM documents))""".stripMargin,
        "doc_id", "judge", "score"))),

    // rank concordance (round 20): Kendall-tau ingredient counts over
    // the same ordinal panel — the j0/j1 near-miss pair is strongly
    // concordant (ranking survives the +1 calibration offset that
    // hurts kappa), j2 scatters; ties on each axis and both planted
    // by the %5 residue collisions
    QueryDef("judge_rank_concordance",
      (s, dir) => graft.ops.Judge.rankConcordance(
        t(s, dir, "documents")
          .select(col("doc_id"), explode(expr("sequence(0, 2)")).as("j"))
          .select(col("doc_id"), expr("concat('j', j)").as("judge"),
            expr("CASE j WHEN 0 THEN doc_id % 5 " +
              "WHEN 1 THEN IF(doc_id % 2 = 0, doc_id % 5, " +
              "least(doc_id % 5 + 1, 4)) " +
              "ELSE (doc_id * 3 + 1) % 5 END").as("score")),
        "doc_id", "judge", "score"),
      Some(graft.ops.Judge.rankConcordanceSql(
        """(SELECT doc_id, 'j' || j AS judge,
          |  CASE j WHEN 0 THEN doc_id % 5
          |    WHEN 1 THEN (CASE WHEN doc_id % 2 = 0 THEN doc_id % 5
          |                 ELSE least(doc_id % 5 + 1, 4) END)
          |    ELSE (doc_id * 3 + 1) % 5 END AS score
          |FROM (SELECT doc_id, unnest(generate_series(0, 2)) AS j
          |      FROM documents))""".stripMargin,
        "doc_id", "judge", "score"))),

    // ================= relational core (scan/filter/agg/join/window) ====

    QueryDef("q1_agg",
      (s, dir) => t(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          expr(dsum("l_quantity")).as("sum_qty"),
          expr(dsum("l_extendedprice")).as("sum_base_price"),
          expr("cast(sum(cast(l_extendedprice AS DECIMAL(18,2)) * (1 - cast(l_discount AS DECIMAL(18,2)))) AS DOUBLE)")
            .as("sum_disc_price"),
          count(lit(1)).as("n"))
        .withColumn("avg_qty", round(col("sum_qty") / col("n"), 6)),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
             |  count(*) AS n,
             |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
             |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    QueryDef("q3_top_orders",
      (s, dir) => {
        val cust = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
        val ord = t(s, dir, "orders").where(col("o_orderdate") < lit("1998-03-15"))
        val li = t(s, dir, "lineitem").where(col("l_shipdate") > lit("1998-03-15"))
        // customer is the small side -> broadcast; lineitem⋈orders shuffles
        // on the join key once (AQE keeps it a single exchange each side)
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy(col("o_orderkey"), col("o_orderdate"))
          .agg(expr("cast(sum(cast(l_extendedprice AS DECIMAL(18,2)) * (1 - cast(l_discount AS DECIMAL(18,2)))) AS DOUBLE)")
            .as("revenue"))
          .select(col("o_orderkey"), ntzMillis(col("o_orderdate")).as("odate_ms"), col("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey").asc)
          .limit(10)
      },
      Some("""WITH agg AS (
             |  SELECT o_orderkey, epoch_ms(o_orderdate) AS odate_ms,
             |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
             |  FROM customer JOIN orders ON c_custkey = o_custkey
             |    JOIN lineitem ON l_orderkey = o_orderkey
             |  WHERE c_mktsegment = 'BUILDING'
             |    AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
             |  GROUP BY o_orderkey, o_orderdate)
             |SELECT o_orderkey, odate_ms, revenue FROM agg
             |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin)),

    QueryDef("q5_nation_revenue",
      (s, dir) => {
        // dims broadcast (region 5 rows, nation 25): zero-shuffle dim joins;
        // the only exchanges are orders⋈customer and the final group-by
        val nr = broadcast(t(s, dir, "nation")
          .join(t(s, dir, "region").where(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey")))
        val cust = t(s, dir, "customer")
        val ord = t(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01"))
        val li = t(s, dir, "lineitem")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust.join(nr, col("c_nationkey") === col("n_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("n_name"))
          .agg(expr("cast(sum(cast(l_extendedprice AS DECIMAL(18,2)) * (1 - cast(l_discount AS DECIMAL(18,2)))) AS DOUBLE)")
            .as("revenue"), count(lit(1)).as("n_items"))
      },
      Some("""SELECT n_name,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
             |  count(*) AS n_items
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'EUROPE'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
             |GROUP BY n_name""".stripMargin)),

    QueryDef("q6_filter_agg",
      (s, dir) => t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01")
          && col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
        .agg(expr("cast(sum(cast(l_extendedprice AS DECIMAL(18,2)) * cast(l_discount AS DECIMAL(18,2))) AS DOUBLE)")
          .as("revenue"), count(lit(1)).as("n")),
      Some("""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             |  count(*) AS n
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
             |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin)),

    QueryDef("q4_semi_priority",
      (s, dir) => {
        // EXISTS ≡ left-semi join: the probe side is projected to the one
        // join column before the exchange, so the shuffle carries keys
        // only — at scale this beats the equivalent distinct+inner join
        // (no aggregation state), and AQE can still broadcast the side
        // that turns out small
        val ord = t(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
        val li = t(s, dir, "lineitem")
          .where(col("l_returnflag") === "R").select("l_orderkey")
        ord.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
          .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_orders"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n_orders FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
             |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
             |GROUP BY o_orderpriority""".stripMargin)),

    QueryDef("q22_anti_customers",
      (s, dir) => {
        // NOT EXISTS ≡ left-anti join; same keys-only shuffle shape as the
        // semi join above. The right side is restricted to URGENT orders:
        // in this testdata EVERY customer has at least one order, so the
        // unrestricted anti-join is empty on both engines — vacuously
        // green, with the anti path unexercised (r5 finding). Against
        // URGENT orders both branches occur (17 keep / rest drop at
        // sf0.001; 182 at sf0.01).
        val cust = t(s, dir, "customer").where(col("c_acctbal") > 0)
        val ord = t(s, dir, "orders")
          .where(col("o_orderpriority") === "1-URGENT").select("o_custkey")
        cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_cust"),
            expr("cast(sum(cast(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)").as("sum_bal"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n_cust,
             |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
             |FROM customer
             |WHERE c_acctbal > 0
             |  AND NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
             |GROUP BY c_mktsegment""".stripMargin)),

    // ====== TPC-H completion set ========================================
    // The remaining classic TPC-H shapes expressible on this testdata's
    // reduced schemas (no partsupp; lineitem lacks commit/receipt dates,
    // shipmode, container — queries needing those are adapted to an
    // equivalent predicate on the columns that exist, noted per query).
    // Together with q1/q3/q4/q5/q6/q22 above this closes the join/agg
    // shape coverage: bi-directional nation pairs (q7), CASE-share over
    // a multi-way join (q8/q14), outer-join histograms (q13), correlated
    // scalar subqueries (q15/q17), group-HAVING semi (q18), disjunctive
    // bracketed join predicates (q19).

    QueryDef("q7_volume_shipping",
      (s, dir) => {
        // both nation-filtered sides are tiny (≈2/25 of supplier/customer)
        // -> broadcast both; the only shuffle is lineitem⋈orders. The
        // pair filter is applied per side BEFORE the join (2 nations
        // each), with the cross-pair predicate afterwards only excluding
        // the two same-nation combinations.
        // 4-nation trade bloc (a 2-nation pair is vacuous at sf0.001:
        // ~4 suppliers/nation × the date window yields zero rows)
        val pair = Seq("NATION_1", "NATION_2", "NATION_3", "NATION_4")
        val sup = t(s, dir, "supplier")
          .join(t(s, dir, "nation").where(col("n_name").isin(pair: _*)),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("supp_nation"))
        val cust = t(s, dir, "customer")
          .join(t(s, dir, "nation").where(col("n_name").isin(pair: _*)),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name").as("cust_nation"))
        val li = t(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1998-01-01"))
        li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .where(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("long").as("l_year"))
          .agg(expr("cast(sum(cast(l_extendedprice AS DECIMAL(18,2)) * (1 - cast(l_discount AS DECIMAL(18,2)))) AS DOUBLE)")
            .as("revenue"), count(lit(1)).as("n_items"))
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             |  year(l_shipdate) AS l_year,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
             |  count(*) AS n_items
             |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |  JOIN orders ON l_orderkey = o_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
             |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
             |WHERE n1.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
             |  AND n2.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
             |  AND n1.n_name <> n2.n_name
             |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
             |GROUP BY 1, 2, 3""".stripMargin)),

    QueryDef("q8_market_share",
      (s, dir) => {
        // NATION_3's share of PROMO-part volume sold into EUROPE, by
        // order year. part (filtered, ≈330 rows), supplier⋈nation (100),
        // and the EUROPE customer⋈nation⋈region side all broadcast; the
        // share division happens after the exact decimal aggregation, so
        // both engines divide identical doubles.
        val parts = t(s, dir, "part").where(col("p_type") === "PROMO").select("p_partkey")
        val sup = t(s, dir, "supplier")
          .join(t(s, dir, "nation").select(col("n_nationkey"), col("n_name").as("supp_nation")),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "supp_nation")
        val custEurope = t(s, dir, "customer")
          .join(t(s, dir, "nation").select(col("n_nationkey").as("cnk"), col("n_regionkey")),
            col("c_nationkey") === col("cnk"))
          .join(t(s, dir, "region").where(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))
          .select("c_custkey")
        val ord = t(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01"))
        t(s, dir, "lineitem")
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(custEurope), col("o_custkey") === col("c_custkey"))
          .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(
            expr("cast(sum(CASE WHEN supp_nation = 'NATION_3' THEN cast(l_extendedprice AS DECIMAL(18,2)) * (1 - cast(l_discount AS DECIMAL(18,2))) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)")
              .as("nation_volume"),
            expr("cast(sum(cast(l_extendedprice AS DECIMAL(18,2)) * (1 - cast(l_discount AS DECIMAL(18,2)))) AS DOUBLE)")
              .as("total_volume"))
          .withColumn("mkt_share", round(col("nation_volume") / col("total_volume"), 6))
      },
      Some("""WITH vol AS (
             |  SELECT year(o_orderdate) AS o_year,
             |    CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS v,
             |    nation.n_name AS supp_nation
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |    JOIN supplier ON l_suppkey = s_suppkey
             |    JOIN nation ON s_nationkey = n_nationkey
             |    JOIN orders ON l_orderkey = o_orderkey
             |    JOIN customer ON o_custkey = c_custkey
             |    JOIN nation n2 ON c_nationkey = n2.n_nationkey
             |    JOIN region ON n2.n_regionkey = r_regionkey
             |  WHERE p_type = 'PROMO' AND r_name = 'EUROPE'
             |    AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
             |SELECT o_year,
             |  CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN v ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_volume,
             |  CAST(sum(v) AS DOUBLE) AS total_volume,
             |  round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN v ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             |        / CAST(sum(v) AS DOUBLE), 6) AS mkt_share
             |FROM vol GROUP BY o_year""".stripMargin)),

    QueryDef("q9_profit",
      (s, dir) => {
        // classic q9 minus partsupp (no ps_supplycost in this schema):
        // profit reduces to discounted revenue over the name-matched
        // parts, grouped by supplier nation × order year. part filter
        // ('red %') prunes before the broadcast; supplier⋈nation
        // broadcast; lineitem⋈orders is the shuffle.
        val parts = t(s, dir, "part").where(col("p_name").like("red %")).select("p_partkey")
        val sup = t(s, dir, "supplier")
          .join(t(s, dir, "nation").select(col("n_nationkey"), col("n_name").as("nation")),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "nation")
        t(s, dir, "lineitem")
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(expr("cast(sum(cast(l_extendedprice AS DECIMAL(18,2)) * (1 - cast(l_discount AS DECIMAL(18,2)))) AS DOUBLE)")
            .as("profit"), count(lit(1)).as("n_items"))
      },
      Some("""SELECT n_name AS nation, year(o_orderdate) AS o_year,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS profit,
             |  count(*) AS n_items
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |  JOIN supplier ON l_suppkey = s_suppkey
             |  JOIN nation ON s_nationkey = n_nationkey
             |  JOIN orders ON l_orderkey = o_orderkey
             |WHERE p_name LIKE 'red %'
             |GROUP BY 1, 2""".stripMargin)),

    QueryDef("q10_returned_customers",
      (s, dir) => {
        // top-20 customers by revenue lost to returns in a half-year
        // window. orders date-filtered before the join; nation broadcast;
        // total order on (revenue desc, custkey) so the limit is
        // deterministic cross-engine.
        val ord = t(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1996-07-01"))
        val li = t(s, dir, "lineitem").where(col("l_returnflag") === "R")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
          .agg(expr("cast(sum(cast(l_extendedprice AS DECIMAL(18,2)) * (1 - cast(l_discount AS DECIMAL(18,2)))) AS DOUBLE)")
            .as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey").asc)
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, c_acctbal, n_name,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |WHERE l_returnflag = 'R'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
             |GROUP BY 1, 2, 3, 4
             |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin)),

    QueryDef("q13_order_counts",
      (s, dir) => {
        // customer-distribution histogram (classic q13's o_comment NOT
        // LIKE filter adapted to the priority column this schema has):
        // LEFT join so zero-order customers appear as c_count = 0; two
        // aggregations, each one partial-agg exchange.
        val ord = t(s, dir, "orders")
          .where(col("o_orderpriority") =!= "4-NOT SPECIFIED")
          .select("o_orderkey", "o_custkey")
        t(s, dir, "customer")
          .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
      },
      Some("""SELECT c_count, count(*) AS custdist FROM (
             |  SELECT c_custkey, count(o_orderkey) AS c_count
             |  FROM customer LEFT OUTER JOIN orders
             |    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
             |  GROUP BY c_custkey)
             |GROUP BY c_count""".stripMargin)),

    QueryDef("q14_promo_share",
      (s, dir) => {
        // promo revenue share in one month: part side broadcast, CASE
        // aggregation over the single fact scan; division after the
        // exact decimal sums.
        val parts = t(s, dir, "part").select("p_partkey", "p_type")
        t(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit("1996-09-01") && col("l_shipdate") < lit("1996-10-01"))
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .agg(
            expr("cast(sum(CASE WHEN p_type = 'PROMO' THEN cast(l_extendedprice AS DECIMAL(18,2)) * (1 - cast(l_discount AS DECIMAL(18,2))) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)")
              .as("promo_revenue"),
            expr("cast(sum(cast(l_extendedprice AS DECIMAL(18,2)) * (1 - cast(l_discount AS DECIMAL(18,2)))) AS DOUBLE)")
              .as("total_revenue"))
          .withColumn("promo_share",
            round(lit(100.0) * col("promo_revenue") / col("total_revenue"), 6))
      },
      Some("""SELECT
             |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue,
             |  round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             |        / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6) AS promo_share
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin)),

    QueryDef("q15_top_supplier",
      (s, dir) => {
        // classic q15's revenue view + scalar-max subquery. The per-
        // supplier aggregate is 100 rows (metadata-sized), so its max
        // re-joins via broadcast — no single-partition window anywhere.
        // Revenue doubles come off identical decimal sums on both
        // engines, so the equality join on the max is exact.
        val rev = t(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1996-04-01"))
          .groupBy(col("l_suppkey"))
          .agg(expr("cast(sum(cast(l_extendedprice AS DECIMAL(18,2)) * (1 - cast(l_discount AS DECIMAL(18,2)))) AS DOUBLE)")
            .as("total_revenue"))
        val mx = rev.agg(max(col("total_revenue")).as("mx"))
        rev.join(broadcast(mx), col("total_revenue") === col("mx"))
          .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      },
      Some("""WITH rev AS (
             |  SELECT l_suppkey,
             |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
             |  FROM lineitem
             |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
             |  GROUP BY l_suppkey)
             |SELECT s_suppkey, s_name, total_revenue
             |FROM rev JOIN supplier ON l_suppkey = s_suppkey
             |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""".stripMargin)),

    QueryDef("q17_small_quantity",
      (s, dir) => {
        // classic q17's correlated avg-quantity subquery (p_container
        // adapted to p_brand + p_size). The brand-filtered part list and
        // the per-part averages are both tiny -> broadcast twice; the
        // fact table is scanned once for the averages and once for the
        // detail rows (the classic two-scan shape — at 100 TB the
        // per-part avg side is the one you precompute). The avg is an
        // exact decimal-sum / count division so the 0.3× threshold
        // compares identical doubles on both engines.
        val parts = t(s, dir, "part")
          .where(col("p_brand") === "Brand#23" && col("p_size") < 10)
          .select("p_partkey")
        val li = t(s, dir, "lineitem")
        val filtered = li.join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        val avgQty = filtered.groupBy(col("l_partkey").as("ap"))
          .agg((expr("cast(sum(cast(l_quantity AS DECIMAL(18,2))) AS DOUBLE)") / count(lit(1)))
            .as("avg_qty"))
        filtered.join(broadcast(avgQty), col("l_partkey") === col("ap"))
          .where(col("l_quantity") < lit(0.3) * col("avg_qty"))
          .agg(expr("round(cast(sum(cast(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6)")
            .as("avg_yearly"), count(lit(1)).as("n_items"))
      },
      Some("""WITH pp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23' AND p_size < 10),
             |fl AS (SELECT l_partkey, l_quantity, l_extendedprice
             |       FROM lineitem JOIN pp ON l_partkey = p_partkey),
             |aq AS (SELECT l_partkey AS ap,
             |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
             |       FROM fl GROUP BY l_partkey)
             |SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6) AS avg_yearly,
             |  count(*) AS n_items
             |FROM fl JOIN aq ON l_partkey = ap
             |WHERE l_quantity < 0.3 * avg_qty""".stripMargin)),

    QueryDef("q18_large_volume",
      (s, dir) => {
        // group-HAVING semi: order keys whose line quantities sum past
        // the threshold (300 in spec; 150 here — this generator's orders
        // average ~4 lines) re-join orders+customer. The HAVING aggregate
        // carries keys+one sum through its exchange; customers broadcast.
        val big = t(s, dir, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(expr(dsum("l_quantity")).as("sum_qty"))
          .where(col("sum_qty") > 150.0)
        t(s, dir, "orders")
          .join(big, col("o_orderkey") === col("l_orderkey"))
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
            ntzMillis(col("o_orderdate")).as("odate_ms"), col("o_totalprice"), col("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(100)
      },
      Some("""WITH big AS (
             |  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |  FROM lineitem GROUP BY l_orderkey
             |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 150.0)
             |SELECT c_custkey, c_name, o_orderkey, epoch_ms(o_orderdate) AS odate_ms,
             |  o_totalprice, sum_qty
             |FROM orders JOIN big ON o_orderkey = l_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin)),

    QueryDef("q19_bracketed_revenue",
      (s, dir) => {
        // classic q19's disjunction-of-brackets join predicate (container
        // / shipmode adapted to p_size / l_quantity). The part side stays
        // a single broadcast equi-join on partkey; the three OR-brackets
        // evaluate as a residual filter after the hash match — Catalyst
        // cannot turn OR-of-ANDs into the join key, so keeping the
        // equi-key separate from the brackets is what preserves the
        // broadcast-hash plan at scale.
        val parts = t(s, dir, "part").select("p_partkey", "p_brand", "p_size")
        t(s, dir, "lineitem")
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .where(
            (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) && col("l_quantity").between(1, 11)) ||
            (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) && col("l_quantity").between(10, 20)) ||
            (col("p_brand") === "Brand#3") && col("p_size").between(1, 15) && col("l_quantity").between(20, 30))
          .agg(expr("cast(sum(cast(l_extendedprice AS DECIMAL(18,2)) * (1 - cast(l_discount AS DECIMAL(18,2)))) AS DOUBLE)")
            .as("revenue"), count(lit(1)).as("n_items"))
      },
      Some("""SELECT
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
             |  count(*) AS n_items
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
             |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
             |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // bloom-prefiltered joins: EXACT results (the residual equi-join
    // clears false positives), but the fact-side exchange carries only
    // bloom survivors instead of the whole table — the explicit form of
    // Spark's runtime-filter injection, caller-tunable (ops/BloomJoin)
    QueryDef("join_bloom_semi",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val urgent = t(s, dir, "orders")
          .where(col("o_orderpriority") === "1-URGENT")
        graft.ops.BloomJoin.semiJoin(li, urgent, "l_orderkey", "o_orderkey",
            expected = 100000L, fpp = 0.01)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_items"),
            expr("cast(sum(cast(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)").as("revenue"))
      },
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM lineitem
             |WHERE EXISTS (SELECT 1 FROM orders
             |              WHERE o_orderkey = l_orderkey AND o_orderpriority = '1-URGENT')
             |GROUP BY l_returnflag""".stripMargin)),

    QueryDef("join_bloom_anti",
      (s, dir) => {
        // definite non-members exit in the scan with NO join (bloom has
        // no false negatives); only maybe-members take the exact anti join
        val cust = t(s, dir, "customer")
        val urgent = t(s, dir, "orders")
          .where(col("o_orderpriority") === "1-URGENT").select("o_custkey")
        graft.ops.BloomJoin.antiJoin(cust, urgent, "c_custkey", "o_custkey",
            expected = 100000L, fpp = 0.01)
          .select(col("c_custkey"), col("c_mktsegment"))
      },
      Some("""SELECT c_custkey, c_mktsegment FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin)),

    QueryDef("topk_orders",
      (s, dir) => t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          ntzMillis(col("o_orderdate")).as("odate_ms")),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice, epoch_ms(o_orderdate) AS odate_ms
             |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin)),

    QueryDef("window_running",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "orders")
          .withColumn("running_total",
            expr("cast(o_totalprice AS DECIMAL(18,2))"))
          .withColumn("running_total", sum(col("running_total")).over(w).cast("double"))
          .select(col("o_custkey"), col("o_orderkey"), col("running_total"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
             |FROM orders""".stripMargin)),

    // multi-level aggregation: ROLLUP over (event_type, epoch-week) —
    // Spark plans one Expand + one partial-aggregated exchange for all
    // three grouping levels; subtotal rows carry NULL keys on both
    // engines. Week is integer epoch arithmetic (portable, like
    // event_retention)
    QueryDef("event_rollup",
      (s, dir) => t(s, dir, "events")
        .withColumn("week", expr(s"unix_micros(ts) div ${86400L * 1000000L * 7L}"))
        .rollup(col("event_type"), col("week"))
        .agg(count(lit(1)).as("n"),
          expr(dsum("value")).as("sum_value")),
      Some(s"""SELECT event_type, epoch_us(ts) // ${86400L * 1000000L * 7L} AS week,
             |  count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events
             |GROUP BY ROLLUP (event_type, week)""".stripMargin)),

    // pivot: per-user event-type counts as columns. A static value list
    // makes pivot ≡ conditional aggregation, and the conditional form is
    // the scale winner: ONE partial-aggregated exchange of user rows,
    // where Dataset.pivot plans TWO aggregates/exchanges ((user, type)
    // pre-agg, then PivotFirst) — verified via explain; absent
    // combinations are 0, matching the oracle's FILTERed counts
    QueryDef("event_pivot",
      (s, dir) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        t(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(sum(when(col("event_type") === types.head, 1L).otherwise(0L)).as(types.head),
            types.tail.map(v =>
              sum(when(col("event_type") === v, 1L).otherwise(0L)).as(v)): _*)
      },
      Some("""SELECT user_id,
             |  count(*) FILTER (WHERE event_type = 'click') AS click,
             |  count(*) FILTER (WHERE event_type = 'error') AS error,
             |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
             |  count(*) FILTER (WHERE event_type = 'view') AS view
             |FROM events GROUP BY user_id""".stripMargin)),

    // ====== bus/service operator analogs (SURVEY.md §2 -> §7.2) =========

    // T4/S1: type-based dispatch = filter on the dispatch key; at the
    // source this is the topic subscription (predicate pushdown)
    QueryDef("dispatch_filter",
      (s, dir) => t(s, dir, "events")
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value"),
          unix_millis(col("ts")).as("ts_ms")),
      Some("""SELECT event_id, user_id, value, epoch_ms(ts) AS ts_ms
             |FROM events WHERE event_type = 'purchase'""".stripMargin)),

    // T1: the typed handler (T, meta) => U as a projection
    QueryDef("typed_map",
      (s, dir) => t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          (col("value") * 2 + 1).as("score"),
          upper(col("event_type")).as("tag")),
      Some("""SELECT event_id, user_id, value * 2 + 1 AS score,
             |  upper(event_type) AS tag FROM events""".stripMargin)),

    // K4: fire-and-forget sink -> per-topic consumption counts
    QueryDef("sink_count",
      (s, dir) => t(s, dir, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n")),
      Some("SELECT event_type, count(*) AS n FROM events GROUP BY event_type")),

    // P1: partition-key extractor (bus/package.scala:32-46) -> the key's
    // partition distribution (engine-portable modulo, not kafka's hash)
    QueryDef("partition_key",
      (s, dir) => t(s, dir, "events")
        .groupBy((col("user_id") % 4).as("pk"))
        .agg(count(lit(1)).as("n"), expr(dsum("value")).as("sum_value")),
      Some("""SELECT user_id % 4 AS pk, count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY user_id % 4""".stripMargin)),

    // R1/R2/R4: RPC correlation join incl. timeout rows (GatherActor
    // semantics: first reply within the window, else AskTimeoutException)
    QueryDef("rpc_correlation",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val req = ev.where(col("event_type") === "view")
          .select(col("event_id").as("req_id"), col("user_id").as("req_user"), col("ts").as("req_ts"))
        val resp = ev.where(col("event_type") === "purchase")
          .select(col("event_id").as("resp_id"), col("user_id").as("resp_user"), col("ts").as("resp_ts"))
        Rpc.correlate(req, col("req_user"), col("req_ts"),
            resp, col("resp_user"), col("resp_ts"), col("resp_id"),
            expr("INTERVAL 1 HOUR"))
          .groupBy(col("req_id"))
          .agg(count(col("resp_id")).as("n_resp"), min(col("resp_id")).as("first_resp"))
          .withColumn("status",
            when(col("n_resp") === 0, "AskTimeoutException").otherwise("ok"))
      },
      Some("""WITH req AS (SELECT event_id AS req_id, user_id, ts FROM events WHERE event_type = 'view'),
             |resp AS (SELECT event_id AS resp_id, user_id, ts FROM events WHERE event_type = 'purchase')
             |SELECT r.req_id, count(p.resp_id) AS n_resp, min(p.resp_id) AS first_resp,
             |  CASE WHEN count(p.resp_id) = 0 THEN 'AskTimeoutException' ELSE 'ok' END AS status
             |FROM req r LEFT JOIN resp p
             |  ON r.user_id = p.user_id AND p.ts >= r.ts AND p.ts <= r.ts + INTERVAL 1 HOUR
             |GROUP BY r.req_id""".stripMargin)),

    // E1: entity keyed state, batch analog: latest state per key (max_by —
    // one partial-agg shuffle, no sort: scale-correct vs window+row_number)
    QueryDef("entity_latest_state",
      (s, dir) => EntityStore.latestState(t(s, dir, "events"),
          "user_id", col("ts"), col("event_id"),
          col("value") -> "last_value", col("event_type") -> "last_type",
          unix_millis(col("ts")) -> "last_ts_ms"),
      Some("""SELECT user_id, last_value, last_type, last_ts_ms FROM (
             |  SELECT user_id, value AS last_value, event_type AS last_type,
             |    epoch_ms(ts) AS last_ts_ms,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events) WHERE rn = 1""".stripMargin)),

    // F1: retry policy schedule — the reference's exact backoff arithmetic
    // (KafkaBus.scala:223-228; "Exponential" is attempt²·delay)
    QueryDef("retry_backoff_schedule",
      (s, dir) => {
        val attempts = t(s, dir, "events").where(col("event_type") === "error")
          .select(col("event_id"), (col("event_id") % 5 + 1).cast("int").as("attempt"))
        attempts.select(col("event_id"), col("attempt"),
          RetryPolicy.delayMillisColumn(col("attempt"), 100L, RetryBackoff.NoBackoff).as("delay_none_ms"),
          RetryPolicy.delayMillisColumn(col("attempt"), 100L, RetryBackoff.Linear).as("delay_linear_ms"),
          RetryPolicy.delayMillisColumn(col("attempt"), 100L, RetryBackoff.Exponential).as("delay_exp_ms"))
      },
      Some("""SELECT event_id, CAST(event_id % 5 + 1 AS INT) AS attempt,
             |  100::BIGINT AS delay_none_ms,
             |  (event_id % 5 + 1) * 100 AS delay_linear_ms,
             |  (event_id % 5 + 1) * (event_id % 5 + 1) * 100 AS delay_exp_ms
             |FROM events WHERE event_type = 'error'""".stripMargin)),

    // D1: service-descriptor aggregation: per "service" (event type) the
    // method/type stats the descriptor carries
    QueryDef("descriptor_agg",
      (s, dir) => t(s, dir, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          expr(dsum("value")).as("sum_value"),
          unix_millis(min(col("ts"))).as("first_ms"),
          unix_millis(max(col("ts"))).as("last_ms")),
      Some("""SELECT event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             |  epoch_ms(min(ts)) AS first_ms, epoch_ms(max(ts)) AS last_ms
             |FROM events GROUP BY event_type""".stripMargin)),

    // O1: trace fan-out — In/Out/Exception trace side-channel as UNION ALL
    QueryDef("trace_fanout",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val in = ev.select(col("event_id"), lit("InEventTrace").as("trace_type"), col("event_type"))
        val out = ev.where(col("event_type") =!= "error")
          .select(col("event_id"), lit("OutEventTrace").as("trace_type"), col("event_type"))
        val exc = ev.where(col("event_type") === "error")
          .select(col("event_id"), lit("ExceptionTrace").as("trace_type"), col("event_type"))
        in.unionAll(out).unionAll(exc)
      },
      Some("""SELECT event_id, 'InEventTrace' AS trace_type, event_type FROM events
             |UNION ALL
             |SELECT event_id, 'OutEventTrace' AS trace_type, event_type FROM events WHERE event_type <> 'error'
             |UNION ALL
             |SELECT event_id, 'ExceptionTrace' AS trace_type, event_type FROM events WHERE event_type = 'error'""".stripMargin)),

    // payload JSON prop extraction (events.props is a JSON string column)
    QueryDef("json_props",
      (s, dir) => t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k_val"))
        .where(col("k_val") > 50),
      Some("""SELECT event_id, CAST(props->>'$.k' AS INT) AS k_val
             |FROM events WHERE CAST(props->>'$.k' AS INT) > 50""".stripMargin)),

    // ================= dedup (training-data pipeline) ====================

    QueryDef("dedup_exact",
      (s, dir) => Dedup.exactDedup(t(s, dir, "documents"), "doc_id", "text"),
      Some(Dedup.exactDedupSql("documents", "doc_id", "text"))),

    // normalize -> exact dedup: the acting composition text_normalize
    // exists for. The fixture plants case/spacing/NFC variants of ONE
    // shared sentence on even/odd doc pairs: raw exact dedup cannot
    // merge them (different bytes), normalized dedup collapses each
    // pair -- n_dups = 2 exactly for the planted groups
    QueryDef("dedup_exact_normalized",
      (s, dir) => Dedup.exactDedup(
        TextAnalysis.normalize(
          plantedSentenceFixture(t(s, dir, "documents")), "doc_id", "text"),
        "doc_id", "norm_text"),
      Some(Dedup.exactDedupSql(
        s"""(${TextAnalysis.normalizeSql(plantedSentenceFixture.twin(), "doc_id", "text")})""",
        "doc_id", "norm_text"))),

    QueryDef("dedup_minhash_sig",
      (s, dir) => Dedup.minhashSignatures(t(s, dir, "documents"), "doc_id", "text"),
      Some(Dedup.minhashSignaturesSql("documents", "doc_id", "text"))),

    QueryDef("dedup_minhash_pairs",
      (s, dir) => Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text"),
      Some(Dedup.minhashLshPairsSql("documents", "doc_id", "text"))),

  ) ++ grainFamily("dedup_minhash_keeper",
    ws,
    // the keeper pass on the routed grain over the zh fixture: an
    // unsegmented doc is ONE ws token and has no 3-shingles, so the ws
    // keeper silently EXCLUDES every routed row (near-dup zh crawls
    // sail through); routed shingles are codepoint 3-grams — the zh
    // rows re-enter the pass and their translated near-dup structure
    // (the fixture maps text deterministically, so base-corpus
    // near-dups stay near-dups) collapses to keepers like any other
    cjk,
    // the keeper on the cjk-dict FMM WORD grain (round 15): shingles
    // ride word tokens, so a zh near-dup pair differing by one char
    // INSIDE a dictionary word shingles at word windows, not codepoint
    // windows — the grain the shingle dedup family was missing. Oracle:
    // the scalar twin cannot run a segmentation cursor, so the derived
    // table precomputes per-doc FMM token LISTS (DictGrain.duckTokenLists via
    // WordGrain.duckSource) and shingling consumes the lists directly
    cjkDict,
    // the keeper on the thai-dict grain (round 16): previously spec-
    // pinned only (ThaiDictSpec) — this registers the driver-checked
    // oracle row, closing the r15 asymmetry where one dict grain had
    // a keeper oracle and the other didn't. Same duckSource-routed
    // recursive token-list twin as the cjkdict keeper
    thaiDict) { g => (
      (s, dir) => Dedup.minhashDedupKeepers(g.fixture(t(s, dir, "documents")),
        "doc_id", "text", wordGrain = g.wordGrain),
      Dedup.minhashDedupKeepersSql(g.fixture.twin(), "doc_id", "text", wordGrain = g.wordGrain))
  } ++ Seq(

    QueryDef("dedup_minhash_components",
      (s, dir) => Dedup.minhashDedupComponents(t(s, dir, "documents"), "doc_id", "text"),
      Some(Dedup.minhashDedupComponentsSql("documents", "doc_id", "text"))),

    // duplication census: the pre-dedup REPORT (how much of the crawl
    // is duplicated, at what clique sizes, how many docs a keeper pass
    // would drop) -- component labeling is the cost, the census is two
    // keyed aggs over component-count-sized frames
    QueryDef("dedup_census",
      (s, dir) => Dedup.dedupCensus(t(s, dir, "documents"), "doc_id", "text"),
      Some(Dedup.dedupCensusSql("documents", "doc_id", "text"))),

    // planted-copy recall gate for the near-dup keeper -- the dedup
    // analog of the ANN recall gates: 50 suffix-marked copies planted
    // at offset ids, keeper runs over the union, one row reports
    // recall (copies collapsed back) next to the organic base-merge
    // baseline; exact integers, recall in milli-units
    QueryDef("dedup_minhash_recall",
      (s, dir) => graft.ops.Eval.dedupRecall(
        t(s, dir, "documents"), "doc_id", "text", nPlant = 50),
      Some(graft.ops.Eval.dedupRecallSql(
        "documents", "doc_id", "text", nPlant = 50))),

    QueryDef("dedup_simhash",
      (s, dir) => Dedup.simhash(t(s, dir, "documents"), "doc_id", "text"),
      Some(Dedup.simhashSql("documents", "doc_id", "text"))),

  ) ++ grainFamily("dedup_simhash_keeper",
    // SimHash near-dup KEEPER -- the acting twin of dedup_simhash and
    // the text-side sibling of mm_dedup_phash, both running on the
    // shared rep-collapse + distinct-hash-banding engine
    // (Dedup.hammingKeepers): exact-equal sketches collapse linearly,
    // 3x10-bit bands propose representative pairs, bit_count verifies
    // hamming <= 2, lowest id survives
    ws,
    // the simhash keeper on the routed grain over the zh fixture: on
    // the ws grain an unsegmented doc's simhash is the hash of its ONE
    // whole-document token — a single-codepoint edit flips ~half the
    // bits, so the hamming keeper can never see zh near-dups; routed
    // votes come from codepoint tokens and near-dups land within the
    // hamming radius like any other corpus
    cjk) { g => (
      (s, dir) => Dedup.simhashKeepers(g.fixture(t(s, dir, "documents")),
        "doc_id", "text", wordGrain = g.wordGrain),
      Dedup.simhashKeepersSql(g.fixture.twin(), "doc_id", "text", wordGrain = g.wordGrain))
  } ++ Seq(

    // exact all-pairs verifier on a deterministic 1-in-3 sample (the LSH
    // path covers the full corpus; all-pairs is O(n²) by construction).
    // 1-in-3 — not the earlier 1-in-10 — because a pair survives an id
    // sample at rate r with probability r²: at r=0.1 every planted
    // near-dup pair was dropped and the query verified nothing (0 rows on
    // both engines); at r=1/3 several survive, so the prefilter and
    // jaccard arithmetic are exercised against nonzero oracle output
    QueryDef("dedup_ngram_jaccard",
      (s, dir) => Dedup.ngramJaccardPairs(
        t(s, dir, "documents").where(col("doc_id") % 3 === 0), "doc_id", "text",
        k = 3, threshold = 0.2),
      Some(Dedup.ngramJaccardPairsSql(
        "(SELECT * FROM documents WHERE doc_id % 3 = 0)", "doc_id", "text",
        k = 3, threshold = 0.2))),

    // ================= similarity search =================================

    QueryDef("embed_topk_cosine",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
      },
      Some(Similarity.bruteForceTopKSql("embeddings", "vec_id", "embedding",
        k = 5, queryPred = "vec_id < 10"))),

    QueryDef("embed_lsh_buckets",
      (s, dir) => Similarity.lshBuckets(t(s, dir, "embeddings"), "vec_id", "embedding"),
      Some(Similarity.lshBucketsSql("embeddings", "vec_id", "embedding"))),

    // the testdata has no natural near-dups (max pairwise cosine ≈ 0.51),
    // so the unmodified table is vacuously green at 0 rows — the r5
    // finding. The fixture plants dups deterministically on BOTH engines
    // (the text_scrub playbook): exact copies of vec_id 0-2 (sim = 1.0,
    // guaranteed same LSH bucket) exercise pair emission; dim-0-scaled
    // copies of vec_id 3-4 (double multiply, round to float — bit-equal
    // cross-engine) exercise the high-but-below-1 scoring path
    QueryDef("embed_near_dup",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val exact = emb.where(col("vec_id") < 3)
          .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
        val near = emb.where(col("vec_id") >= 3 && col("vec_id") < 5)
          .select((col("vec_id") + 2000).as("vec_id"),
            expr("transform(embedding, (x, i) -> " +
              "IF(i = 0, cast(cast(x AS DOUBLE) * 1.25D AS FLOAT), x))")
              .as("embedding"))
        Similarity.embeddingNearDupPairs(
          emb.unionByName(exact).unionByName(near),
          "vec_id", "embedding", threshold = 0.95)
      },
      Some(Similarity.embeddingNearDupPairsSql(
        """(SELECT vec_id, embedding FROM embeddings
          | UNION ALL
          | SELECT vec_id + 1000, embedding FROM embeddings WHERE vec_id < 3
          | UNION ALL
          | SELECT vec_id + 2000,
          |   list_transform(generate_series(1, len(embedding)),
          |     i -> CASE WHEN i = 1 THEN CAST(embedding[1]::DOUBLE * 1.25 AS REAL)
          |          ELSE embedding[i] END)
          | FROM embeddings WHERE vec_id >= 3 AND vec_id < 5)""".stripMargin,
        "vec_id", "embedding", threshold = 0.95))),

    QueryDef("embed_dedup_keeper",
      (s, dir) => Similarity.embeddingDedupKeepers(
        t(s, dir, "embeddings"), "vec_id", "embedding"),
      Some(Similarity.embeddingDedupKeepersSql("embeddings", "vec_id", "embedding"))),

    // SEMANTIC dedup (SemDeDup shape): k-means cluster -> within-cluster
    // cosine ε-ball -> keep the member least similar to its centroid.
    // Planted exact copies (+1000) and a dim-0 perturbation (+2000) give
    // the ε-balls; the rest of the corpus must come back keep=true
    QueryDef("embed_dedup_semantic",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val exact = emb.where(col("vec_id") < 3)
          .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
        val near = emb.where(col("vec_id") >= 3 && col("vec_id") < 5)
          .select((col("vec_id") + 2000).as("vec_id"),
            expr("transform(embedding, (x, i) -> " +
              "IF(i = 0, cast(cast(x AS DOUBLE) * 1.25D AS FLOAT), x))")
              .as("embedding"))
        val union = emb.unionByName(exact).unionByName(near)
        Similarity.semanticDedupKeepers(
          union, "vec_id", "embedding", nClusters = 8, iters = 2, eps = 0.95,
          centroids = Some(kmeansPersisted(s, dir, "semdedup_union",
            union, "vec_id", "embedding", n = 8, iters = 2)))
      },
      Some(Similarity.semanticDedupKeepersSql(
        """(SELECT vec_id, embedding FROM embeddings
          | UNION ALL
          | SELECT vec_id + 1000, embedding FROM embeddings WHERE vec_id < 3
          | UNION ALL
          | SELECT vec_id + 2000,
          |   list_transform(generate_series(1, len(embedding)),
          |     i -> CASE WHEN i = 1 THEN CAST(embedding[1]::DOUBLE * 1.25 AS REAL)
          |          ELSE embedding[i] END)
          | FROM embeddings WHERE vec_id >= 3 AND vec_id < 5)""".stripMargin,
        "vec_id", "embedding", nClusters = 8, iters = 2, eps = 0.95))),

    // ================= text analysis =====================================

    QueryDef("text_langid",
      (s, dir) => TextAnalysis.langId(t(s, dir, "documents"), "doc_id", "text"),
      Some(TextAnalysis.langIdSql("documents", "doc_id", "text"))),

    QueryDef("text_quality",
      (s, dir) => TextAnalysis.qualityScore(t(s, dir, "documents"), "doc_id", "text"),
      Some(TextAnalysis.qualityScoreSql("documents", "doc_id", "text"))),

    QueryDef("text_tokens",
      (s, dir) => TextAnalysis.tokenCount(t(s, dir, "documents"), "doc_id", "text"),
      Some(TextAnalysis.tokenCountSql("documents", "doc_id", "text"))),

    QueryDef("text_fingerprint",
      (s, dir) => TextAnalysis.fingerprint(t(s, dir, "documents"), "doc_id", "text"),
      Some(TextAnalysis.fingerprintSql("documents", "doc_id", "text"))),

    // winnowing fingerprints (MOSS selector): per-window min over
    // positional gram hashes — the partial-copy detection primitive;
    // zero-shuffle scan, set emitted as (count, fold checksum)
    QueryDef("text_winnow",
      (s, dir) => TextAnalysis.winnow(t(s, dir, "documents"), "doc_id", "text"),
      Some(TextAnalysis.winnowSql("documents", "doc_id", "text"))),

    // partial-copy pair-finding over the winnow fingerprints (inverted
    // index: postings join on fp, never on text). Planted partial copies
    // (+100000: original text with an appended tail) make the guarantee
    // observable: every planted pair must surface
    QueryDef("text_winnow_pairs",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val planted = docs.where(col("doc_id") < 3)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat(col("text"), lit(" extra tail words appended here")).as("text"))
        TextAnalysis.winnowPairs(docs.unionByName(planted), "doc_id", "text")
      },
      Some(TextAnalysis.winnowPairsSql(
        """(SELECT doc_id, text FROM documents
          | UNION ALL
          | SELECT doc_id + 100000, text || ' extra tail words appended here'
          | FROM documents WHERE doc_id < 3)""".stripMargin,
        "doc_id", "text"))),

  ) ++ grainFamily("dedup_containment",
    // the ACTING twin of text_winnow_pairs (report -> action, the same
    // pattern as pipeline_decontaminate_semantic): the planted partial
    // copies sit at containment 1.0 against their originals and carry
    // the higher id, so the lowest-id keeper drops exactly them; every
    // unpaired fixture doc survives
    ws -> ((3, 4, 100000)),
    // containment dedup on the routed grain over the zh fixture, with
    // an UNSEGMENTED planted copy (translated text + translated tail,
    // spaces removed): ws winnowing sees one giant token and no
    // k-grams on those rows — the planted zh containment pair is
    // invisible; routed positional grams are codepoint k-grams, so the
    // contained copy is caught and dropped like any latin pair.
    // k=5/w=8, not the latin default k=3/w=4: single CODEPOINTS carry
    // far less context than ws words — 5-codepoint grams with a wider
    // selection window are the standard character-fingerprint shape
    // (and cheaper: 4.5s vs 5.8s at sf0.1 with k=3/w=4). r14: the gram
    // feed is the ROLLING hash (graft_gram_rhashes — integer codepoint
    // folds, no gram-string build, no md5), removing the md5-over-6×-
    // gram-mass constant the r13 verdict flagged; the residual cost is
    // the honest postings join over the Han third's gram volume.
    // Offset 99999 (a multiple of 3) keeps each planted copy in its
    // original's translate class, so zh originals get zh copies
    cjk -> ((5, 8, 99999)),
    // containment dedup on the cjk-dict WORD grain (round 15): winnow
    // k-grams span k FMM words instead of k codepoints, so the
    // fingerprint guarantee ("shared run of >= w+k-1 tokens is caught")
    // is stated in words — the unit zh partial-copy detection cares
    // about — and the gram mass drops from the codepoint count to the
    // word count. Same planted tail-copy construction as the cjk
    // variant; smaller k/w since word streams are shorter than
    // codepoint streams (multi-char words collapse to one token)
    cjkDict -> ((3, 4, 99999)),
    // the shingle surface on the SECOND lexicon (round 15): containment
    // dedup with winnow grams spanning FMM Thai words — duckSource
    // rewrites the twin through the maxLen-9 token-list relation, so
    // the same registry entry that gave Thai retrieval gives it
    // near-dup semantics at word grain (no zh-only code path anywhere)
    thaiDict -> ((3, 4, 99999))) { case (g, (k, w, offset)) => (
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val planted = docs.where(col("doc_id") < 3)
          .select((col("doc_id") + offset).as("doc_id"),
            concat(col("text"), lit(" extra tail words appended here")).as("text"))
        TextAnalysis.containmentDedup(g.fixture(docs.unionByName(planted)),
          "doc_id", "text", k = k, w = w, threshold = 0.8, wordGrain = g.wordGrain)
      },
      TextAnalysis.containmentDedupSql(
        g.fixture.twin(s"""(SELECT doc_id, text FROM documents
          | UNION ALL
          | SELECT doc_id + $offset, text || ' extra tail words appended here'
          | FROM documents WHERE doc_id < 3)""".stripMargin),
        "doc_id", "text", k = k, w = w, threshold = 0.8, wordGrain = g.wordGrain))
  } ++ Seq(

    QueryDef("pipeline_sample",
      (s, dir) => graft.ops.Sampling.stratifiedSample(
        t(s, dir, "documents"), "doc_id", "source",
        Map("src0" -> 0.8, "src1" -> 0.25), default = 0.5)
        .select("doc_id", "source"),
      Some(s"""SELECT doc_id, source FROM (${graft.ops.Sampling.stratifiedSampleSql(
          "documents", "doc_id", "source",
          Map("src0" -> 0.8, "src1" -> 0.25), default = 0.5)})""")),

    // DEFAULT packing is the (stratum, shard) form — the skew-free scale
    // path: the window key carries shards× the cardinality, so one
    // stratum's corpus never funnels through a single reducer. (r5
    // perf-weak item: the skew-prone form was the registered default.)
    QueryDef("pipeline_pack",
      (s, dir) => graft.ops.Sampling.packSequencesSharded(
        t(s, dir, "documents"), "doc_id", "text", "source",
        budget = 2048, shards = 8),
      Some(graft.ops.Sampling.packSequencesShardedSql(
        "documents", "doc_id", "text", "source", budget = 2048, shards = 8))),

    // packing-efficiency report: per source, sequences produced,
    // integer-milli mean fill vs budget, underfull tails (padding
    // loss) and boundary-overflow counts — the table that says whether
    // the budget fits the doc-length distribution or chunking should
    // run first. budget/shards sized so full, underfull, AND overflow
    // branches all occur on this corpus (2048/8 left every per-shard
    // supply under one sequence — all-tail, nothing measured)
    QueryDef("pipeline_pack_report",
      (s, dir) => graft.ops.Sampling.packReport(
        t(s, dir, "documents"), "doc_id", "text", "source",
        budget = 512, shards = 2),
      Some(graft.ops.Sampling.packReportSql(
        "documents", "doc_id", "text", "source", budget = 512, shards = 2))),

    // DEMOTED fallback (was `pipeline_pack`): one window per stratum gives
    // globally contiguous seq_ids within a stratum, at the price of one
    // reducer per stratum — only for jobs that NEED stratum-contiguous
    // sequence numbering and have many strata or small corpora
    // sequence packing DENOMINATED IN BPE TOKENS — the packing a
    // training run actually fills context windows with (word-token
    // budgets over/under-fill by the word/BPE ratio). Same skew-free
    // (stratum, shard) window; only the per-doc token expression changes
    QueryDef("pipeline_pack_bpe",
      (s, dir) => graft.ops.Sampling.packSequencesSharded(
        t(s, dir, "documents"), "doc_id", "text", "source", budget = 2048,
        shards = 8, tokensExpr = graft.ops.Bpe.sparkTokenCountExpr),
      Some(graft.ops.Sampling.packSequencesShardedSql(
        "documents", "doc_id", "text", "source", budget = 2048, shards = 8,
        tokensExpr = graft.ops.Bpe.duckTokenCountExpr))),

    QueryDef("pipeline_pack_stratum",
      (s, dir) => graft.ops.Sampling.packSequences(
        t(s, dir, "documents"), "doc_id", "text", "source", budget = 2048),
      Some(graft.ops.Sampling.packSequencesSql(
        "documents", "doc_id", "text", "source", budget = 2048))),

    // token-budget curation: best-scored docs until the running token
    // total hits the budget — computed as a two-pass distributed prefix
    // sum (range partition + per-partition totals + broadcast offsets),
    // NOT the SinglePartition window the oracle formulation uses; the
    // compare proves the distributed cutoff lands exactly where the
    // window puts it
    QueryDef("pipeline_token_budget",
      (s, dir) => graft.ops.Sampling.selectByTokenBudget(
        graft.functions.VectorFunctions.attach(t(s, dir, "documents"))
          .select(col("doc_id"),
            expr(TextAnalysis.stopwordRatioExpr("text")).as("score"),
            expr("graft_token_count(text)").as("n_toks")),
        "doc_id", "score", "n_toks", budget = 12000),
      Some(graft.ops.Sampling.selectByTokenBudgetSql("documents", "doc_id",
        TextAnalysis.duckStopwordRatioExpr("text"),
        "len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))",
        budget = 12000))),

    // the same token-budget curation DENOMINATED IN BPE TOKENS — what a
    // training run actually bills. Same two-pass distributed prefix sum;
    // only the tokens column changes (larger budget: BPE counts run
    // ~3× the regex word-token counts on this corpus)
    QueryDef("pipeline_token_budget_bpe",
      (s, dir) => graft.ops.Sampling.selectByTokenBudget(
        graft.functions.VectorFunctions.attach(t(s, dir, "documents"))
          .select(col("doc_id"),
            expr(TextAnalysis.stopwordRatioExpr("text")).as("score"),
            expr(graft.ops.Bpe.sparkTokenCountExpr("text")).as("n_toks")),
        "doc_id", "score", "n_toks", budget = 40000),
      Some(graft.ops.Sampling.selectByTokenBudgetSql("documents", "doc_id",
        TextAnalysis.duckStopwordRatioExpr("text"),
        graft.ops.Bpe.duckTokenCountExpr("text"),
        budget = 40000))),

    // the data-MIXING form: per-source token allocations (src0 starved,
    // src1 unconstrained, everything else on the default) filled
    // best-score-first within each stratum — keyed two-pass prefix sum,
    // no SinglePartition window, no per-stratum reducer funnel
    QueryDef("pipeline_token_budget_mix",
      (s, dir) => graft.ops.Sampling.selectByTokenBudgetStratified(
        graft.functions.VectorFunctions.attach(t(s, dir, "documents"))
          .select(col("doc_id"), col("source"),
            expr(TextAnalysis.stopwordRatioExpr("text")).as("score"),
            expr("graft_token_count(text)").as("n_toks")),
        "doc_id", "source", "score", "n_toks",
        budgets = Map("src0" -> 400L, "src1" -> 1000000L),
        defaultBudget = 800L),
      Some(graft.ops.Sampling.selectByTokenBudgetStratifiedSql("documents",
        "doc_id", "source", TextAnalysis.duckStopwordRatioExpr("text"),
        "len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))",
        budgets = Map("src0" -> 400L, "src1" -> 1000000L),
        defaultBudget = 800L))),

    // the EMBEDDING-SPACE form of data mixing: k-means clusters as
    // strata, each capped at a per-cluster retention budget filled
    // most-central-first (DCLM/SemDeDup-style cluster-then-cap — one
    // dominant mode cannot crowd the mix). Pure composition: the
    // kmeans assignment feeds the same keyed two-pass prefix sum as
    // pipeline_token_budget_mix, so a hot cluster spreads over ranges
    // instead of funneling through one reducer
    QueryDef("pipeline_cluster_budget",
      (s, dir) => Similarity.clusterBudgetSelect(t(s, dir, "embeddings"),
        "vec_id", "embedding", nClusters = 8, iters = 2, perClusterBudget = 4,
        centroids = Some(kmeansPersisted(s, dir, "emb",
          t(s, dir, "embeddings"), "vec_id", "embedding", n = 8, iters = 2))),
      Some(Similarity.clusterBudgetSelectSql("embeddings",
        "vec_id", "embedding", nClusters = 8, iters = 2, perClusterBudget = 4))),

    // the mix budget's REPORT twin: per stratum, offered vs taken vs
    // requested with integer-milli fill — which strata are
    // supply-limited (fill < 1000: ran out of docs) vs budget-limited.
    // The decision table a run publishes before re-balancing the mix
    QueryDef("pipeline_mix_report",
      (s, dir) => graft.ops.Sampling.budgetFillReport(
        graft.functions.VectorFunctions.attach(t(s, dir, "documents"))
          .select(col("doc_id"), col("source"),
            expr(TextAnalysis.stopwordRatioExpr("text")).as("score"),
            expr("graft_token_count(text)").as("n_toks")),
        "doc_id", "source", "score", "n_toks",
        budgets = Map("src0" -> 400L, "src1" -> 1000000L),
        defaultBudget = 800L),
      Some(graft.ops.Sampling.budgetFillReportSql("documents",
        "doc_id", "source", TextAnalysis.duckStopwordRatioExpr("text"),
        "len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))",
        budgets = Map("src0" -> 400L, "src1" -> 1000000L),
        defaultBudget = 800L))),

    // per-cluster embedding-space corpus profile: member count + mean
    // and min similarity-to-centroid per k-means cluster — the report
    // read before trusting SemDeDup / cluster budgets / IVF routing on
    // a new corpus or encoder (incoherent and template-mode clusters
    // both show up here first)
    QueryDef("embed_cluster_profile",
      (s, dir) => Similarity.clusterProfile(t(s, dir, "embeddings"),
        "vec_id", "embedding", nClusters = 8, iters = 2,
        centroids = Some(kmeansPersisted(s, dir, "emb",
          t(s, dir, "embeddings"), "vec_id", "embedding", n = 8, iters = 2))),
      Some(Similarity.clusterProfileSql("embeddings",
        "vec_id", "embedding", nClusters = 8, iters = 2))),

  ) ++ grainFamily("text_chunk",
    // document chunking for embedding pipelines: overlapping token
    // windows (32 tokens, stride 24), chunk content witnessed by one
    // portable hash of the joined tokens per chunk — pure projection +
    // explode, zero shuffle. On the ws grain the chunkers cut BPE-ish
    // tokens, not whitespace words
    ws,
    // chunking on the routed cjk-auto word grain over the zh fixture:
    // an embedding pipeline whose encoder counts words needs a
    // "32-token" window to mean 32 ROUTED tokens on unsegmented rows
    // (per codepoint), not one whitespace mega-token per doc; the
    // chunk_hash witnesses that both engines cut identical routed
    // windows
    cjk) { g => (
      (s, dir) => TextAnalysis.chunkDocuments(g.fixture(t(s, dir, "documents")),
        "doc_id", "text", grain = g.wordGrain),
      TextAnalysis.chunkDocumentsSql(g.fixture.twin(), "doc_id", "text", grain = g.wordGrain))
  } ++ Seq(

    // subword (BPE) tokenization over the committed merge table — the
    // denomination a training run actually consumes. first_tokens
    // witnesses the token SEQUENCE cross-engine, and n_words rides along
    // so the count divergence from word-tokens is visible in the result
    QueryDef("text_bpe_tokens",
      (s, dir) => graft.ops.Bpe.bpeTokens(
        t(s, dir, "documents"), "doc_id", "text"),
      Some(graft.ops.Bpe.bpeTokensSql("documents", "doc_id", "text"))),

    // tokenizer-fertility filter: chars per BPE token under the
    // committed merge table. Production curation uses fertility as a
    // cheap garbage detector — text whose byte/token ratio falls far
    // from the corpus norm is boilerplate, code, or the wrong language
    // for the tokenizer (it compresses reference-like text best). One
    // compiled zero-shuffle scan; the keep band brackets the corpus
    // median so both branches carry mass; n_bpe = 0 (empty text) keeps
    // fertility NULL and keep = false identically on both engines
    QueryDef("text_bpe_fertility",
      (s, dir) => graft.functions.VectorFunctions.attach(t(s, dir, "documents"))
        .select(col("doc_id"),
          length(col("text")).cast("long").as("len_chars"),
          expr(graft.ops.Bpe.sparkTokenCountExpr("text")).as("n_bpe"))
        .withColumn("fertility",
          when(col("n_bpe") > 0,
            round(col("len_chars").cast("double") / col("n_bpe"), 6)))
        .withColumn("keep",
          col("n_bpe") > 0 && col("fertility").between(1.5, 1.56)),
      Some(s"""SELECT doc_id, len_chars, n_bpe,
             |  CASE WHEN n_bpe > 0 THEN round(len_chars::DOUBLE / n_bpe, 6) END AS fertility,
             |  (n_bpe > 0 AND CASE WHEN n_bpe > 0 THEN round(len_chars::DOUBLE / n_bpe, 6) END
             |     BETWEEN 1.5 AND 1.56) AS keep
             |FROM (SELECT doc_id, len(text)::BIGINT AS len_chars,
             |             ${graft.ops.Bpe.duckTokenCountExpr("text")} AS n_bpe
             |      FROM documents) s""".stripMargin)),

    // conversation language-consistency audit (round 18): per-turn
    // langid argmax rolled up to conversation grain — code-switched
    // conversations (every 4th doc: en user turn + es assistant turn)
    // flag inconsistent; every 5th doc's marker-free assistant turn
    // lands 'und' and stays NEUTRAL (dilutes dominance, never counts
    // as a language)
    QueryDef("chat_lang_consistency",
      (s, dir) => graft.ops.Chat.chatLangConsistency(
        t(s, dir, "documents").withColumn("conv", expr(
          "concat('[', " +
            "'{\"role\":\"user\",\"content\":\"the cat of and to\"},', " +
            "'{\"role\":\"assistant\",\"content\":\"', " +
            "CASE WHEN doc_id % 4 = 0 THEN 'el la que y perro' " +
            "WHEN doc_id % 5 = 0 THEN 'zzz qqq www' " +
            "ELSE 'the dog and of to' END, '\"}', ']')")),
        "doc_id", "conv"),
      Some(graft.ops.Chat.chatLangConsistencySql(
        "(SELECT doc_id, '[' || " +
          "'{\"role\":\"user\",\"content\":\"the cat of and to\"},' || " +
          "'{\"role\":\"assistant\",\"content\":\"' || " +
          "CASE WHEN doc_id % 4 = 0 THEN 'el la que y perro' " +
          "WHEN doc_id % 5 = 0 THEN 'zzz qqq www' " +
          "ELSE 'the dog and of to' END || '\"}' || ']' AS conv " +
          "FROM documents)",
        "doc_id", "conv"))),

    // canary-string memorization audit (round 18): exact substring
    // scan for planted markers — one canary in exactly one doc (the
    // healthy control), one leaked into every 7th doc (duplication),
    // one in zero docs (eaten by dedup — the rung that must report 0,
    // not vanish). One corpus scan, |canaries| conditional sums
    QueryDef("canary_scan",
      (s, dir) => graft.ops.Canary.canaryScan(
        t(s, dir, "documents").withColumn("text2", expr(
          // coalesce: Spark concat NULL-propagates where DuckDB concat
          // NULL-ignores — a NULL text row would diverge the twins
          "concat(coalesce(text, ''), IF(doc_id = 42, ' CANARY-a7f3-unique', ''), " +
            "IF(doc_id % 7 = 0, ' CANARY-99b1-leaked', ''))")),
        "text2", Seq("CANARY-a7f3-unique", "CANARY-99b1-leaked",
          "CANARY-0000-eaten")),
      Some(graft.ops.Canary.canaryScanSql(
        // single line: a leading || would be eaten by the outer
        // builder's stripMargin (nested-margin trap)
        "(SELECT concat(coalesce(text, ''), " +
          "CASE WHEN doc_id = 42 THEN ' CANARY-a7f3-unique' ELSE '' END, " +
          "CASE WHEN doc_id % 7 = 0 THEN ' CANARY-99b1-leaked' ELSE '' END" +
          ") AS text2 FROM documents)",
        "text2", Seq("CANARY-a7f3-unique", "CANARY-99b1-leaked",
          "CANARY-0000-eaten")))),

    // conversation PII scrub (round 18): the pretraining privacy pass
    // applied INSIDE turns — emails/URLs/long digit runs redacted with
    // typed placeholders at (conversation, turn) grain (turn rows
    // reassemble losslessly; re-serializing JSON would hash-compare
    // engine escaping). Every 4th doc's user turn plants an email +
    // URL + account number; assistant turns stay clean — so redaction
    // counts separate by role
    QueryDef("chat_scrub",
      (s, dir) => graft.ops.TextAnalysis.scrubPii(
        graft.ops.Chat.allTurns(
          t(s, dir, "documents").withColumn("conv", expr(chatWords(
            "concat('[', concat_ws(',', transform(sequence(0, 1), i -> " +
              "concat('{\"role\":\"', IF(i = 0, 'user', 'assistant'), " +
              "'\",\"content\":\"', " +
              "IF(i = 0 AND doc_id % 4 = 0, " +
              "concat('reach me at user', doc_id, '@example.com or ', " +
              "'https://ex.com/d/', doc_id, ' account 1234567890', doc_id), " +
              "array_join(slice(__cw, " +
              "cast(i * 6 + 1 AS INT), 6), ' ')), '\"}'))), ']')"))),
          "doc_id", "conv")
          .withColumn("turn_key", expr("doc_id * 100 + turn_idx")),
        "turn_key", "content"),
      Some(graft.ops.TextAnalysis.scrubPiiSql(
        s"""(SELECT doc_id * 100 + turn_idx AS turn_key, content
           | FROM (${graft.ops.Chat.allTurnsSql(
             """(SELECT doc_id, '[' || array_to_string(list_transform(generate_series(0, 1), i ->
               |  '{"role":"' || CASE WHEN i = 0 THEN 'user' ELSE 'assistant' END ||
               |  '","content":"' ||
               |  CASE WHEN i = 0 AND doc_id % 4 = 0
               |       THEN 'reach me at user' || doc_id || '@example.com or ' ||
               |            'https://ex.com/d/' || doc_id || ' account 1234567890' || doc_id
               |       ELSE coalesce(array_to_string((list_filter(string_split(
               |         regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' '),
               |         x -> x <> ''))[(i * 6 + 1):(i * 6 + 6)], ' '), '') END ||
               |  '"}'), ',') || ']' AS conv FROM documents)""".stripMargin,
             "doc_id", "conv")}))""".stripMargin,
        "turn_key", "content"))),

    // model-output DEGENERATION detection (round 18): repetition
    // signals at ASSISTANT-TURN grain — the decoding-loop audit a
    // document-grain quality gate never sees (the loop lives inside
    // one turn of an otherwise-normal conversation). Composition:
    // assistant turns explode row-locally, then the existing
    // repetition machinery scores each turn; every 3rd doc plants a
    // looped turn (top-bigram 0.8) against normal 6-word slices
    QueryDef("chat_degeneration",
      (s, dir) => graft.ops.TextAnalysis.repetitionSignalsLocal(
        graft.ops.Chat.assistantTurns(
          t(s, dir, "documents").withColumn("conv", expr(chatDegenFixtureSpark)),
          "doc_id", "conv")
          .withColumn("turn_key", expr("doc_id * 100 + turn_idx")),
        "turn_key", "content"),
      Some(graft.ops.TextAnalysis.repetitionSignalsSql(
        s"""(SELECT doc_id * 100 + turn_idx AS turn_key, content
           | FROM (${graft.ops.Chat.assistantTurnsSql(
                s"(SELECT doc_id, $chatDegenFixtureDuck AS conv FROM documents)",
                "doc_id", "conv")}))""".stripMargin,
        "turn_key", "content"))),

    // reward-model calibration (round 18): pairs bucketed by
    // |margin| confidence (500-milli bins, ties their own bucket),
    // per-bucket accuracy in milli — the margin-trust audit before any
    // margin-gated filtering. The fixture's margin rule spans ties,
    // wrong-preference negatives, and three confidence bins
    QueryDef("pref_rm_calibration",
      (s, dir) => graft.ops.Preference.rmCalibration(
        t(s, dir, "events")
          .withColumn("score_chosen", expr(
            "cast(cast(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .withColumn("score_rejected", expr(
            "score_chosen - (event_id % 9 - 2) * 300")),
        "score_chosen", "score_rejected"),
      Some(graft.ops.Preference.rmCalibrationSql(
        """(SELECT score_chosen,
          |  score_chosen - (event_id % 9 - 2) * 300 AS score_rejected
          |FROM (SELECT event_id,
          |        (CAST(value AS DECIMAL(18,2)) * 100)::BIGINT AS score_chosen
          |      FROM events))""".stripMargin,
        "score_chosen", "score_rejected"))),

    // DPO implicit-reward margin report (round 19): per-pair
    // (lpc_new - lpc_ref) - (lpr_new - lpr_ref) in milli-nats (pure
    // BIGINT adds, beta left to the trainer's float land), bucketed by
    // |margin| with ties their own bin — the fixture's four
    // residue-derived log-prob columns span both margin signs and
    // plant an exact-zero class every 23rd pair for the -1 bin
    QueryDef("pref_dpo_margins",
      (s, dir) => graft.ops.Preference.dpoMarginReport(
        t(s, dir, "events")
          .withColumn("lpc_new", expr("cast(-(event_id % 89) * 17 AS BIGINT)"))
          .withColumn("lpc_ref", expr("cast(-(event_id % 97) * 13 AS BIGINT)"))
          .withColumn("lpr_new", expr(
            "IF(event_id % 23 = 0, lpc_new, cast(-(event_id % 83) * 19 AS BIGINT))"))
          .withColumn("lpr_ref", expr(
            "IF(event_id % 23 = 0, lpc_ref, cast(-(event_id % 79) * 11 AS BIGINT))")),
        "event_id", "lpc_new", "lpc_ref", "lpr_new", "lpr_ref"),
      Some(graft.ops.Preference.dpoMarginReportSql(
        """(SELECT event_id,
          |  lpc_new, lpc_ref,
          |  CASE WHEN event_id % 23 = 0 THEN lpc_new
          |       ELSE -(event_id % 83) * 19 END AS lpr_new,
          |  CASE WHEN event_id % 23 = 0 THEN lpc_ref
          |       ELSE -(event_id % 79) * 11 END AS lpr_ref
          |FROM (SELECT event_id,
          |        -(event_id % 89) * 17 AS lpc_new,
          |        -(event_id % 97) * 13 AS lpc_ref
          |      FROM events))""".stripMargin,
        "event_id", "lpc_new", "lpc_ref", "lpr_new", "lpr_ref"))),

    // GRPO group-relative advantage (round 18): each prompt's sampled
    // completions baselined against their OWN group mean, kept as the
    // exact scaled integer r*n - sum (no value network, no signed
    // division) — the fixture reuses the pass@k sampling shape with a
    // signed milli reward
    QueryDef("grpo_advantage",
      (s, dir) => graft.ops.PolicyOpt.grpoAdvantage(
        t(s, dir, "events")
          .withColumn("prompt_id", expr("event_id % 97"))
          .withColumn("sample_id", expr("event_id"))
          .withColumn("reward_milli", expr(
            "cast(cast(value AS DECIMAL(18,2)) * 1000 AS BIGINT) - 1500")),
        "prompt_id", "sample_id", "reward_milli"),
      Some(graft.ops.PolicyOpt.grpoAdvantageSql(
        """(SELECT event_id % 97 AS prompt_id, event_id AS sample_id,
          |  (CAST(value AS DECIMAL(18,2)) * 1000)::BIGINT - 1500 AS reward_milli
          |FROM events)""".stripMargin,
        "prompt_id", "sample_id", "reward_milli"))),

    // best-of-n selection (round 19): per prompt, the max- and
    // min-scored samples by lexicographic struct max/min (ties break
    // deterministically toward greater/lower sample id) plus the
    // signed margin — the rejection-sampling / DPO-pair-mining prep.
    // The score rule has only 13 distinct values per prompt, so ties
    // are dense and the tie-break is hash-checked
    QueryDef("pref_bon_select",
      (s, dir) => graft.ops.Sampling.bonSelect(
        t(s, dir, "events")
          .withColumn("prompt_id", expr("event_id % 97"))
          .withColumn("score_milli", expr(
            "cast((event_id % 13) * 100 AS BIGINT) - 600")),
        "prompt_id", "event_id", "score_milli"),
      Some(graft.ops.Sampling.bonSelectSql(
        """(SELECT event_id % 97 AS prompt_id, event_id,
          |  (event_id % 13) * 100 - 600 AS score_milli
          |FROM events)""".stripMargin,
        "prompt_id", "event_id", "score_milli"))),

    // refusal-rate report (round 19): per conversation, assistant
    // turns opening with a committed refusal stem — the over-refusal
    // audit; the fixture plants "I cannot ..." on every 5th doc's
    // first assistant turn and "I am sorry, but ..." on every 7th
    // doc's second, so rates and first-refusal indexes vary
    QueryDef("chat_refusal_report",
      (s, dir) => graft.ops.Chat.refusalReport(
        t(s, dir, "documents").withColumn("conv", expr(chatWords(
          "concat('[', concat_ws(',', transform(sequence(0, 3), i -> " +
            "concat('{\"role\":\"', IF(i % 2 = 0, 'user', 'assistant'), " +
            "'\",\"content\":\"', " +
            "CASE WHEN i = 1 AND doc_id % 5 = 0 THEN 'I cannot help with that request.' " +
            "WHEN i = 3 AND doc_id % 7 = 0 THEN 'I am sorry, but no.' " +
            "ELSE array_join(slice(__cw, " +
            "cast(i * 6 + 1 AS INT), 6), ' ') END, '\"}'))), ']')"))),
        "doc_id", "conv"),
      Some(graft.ops.Chat.refusalReportSql(
        """(SELECT doc_id,
          |  '[' || array_to_string(list_transform(generate_series(0, 3), i ->
          |    '{"role":"' || CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END ||
          |    '","content":"' ||
          |    CASE WHEN i = 1 AND doc_id % 5 = 0 THEN 'I cannot help with that request.'
          |    WHEN i = 3 AND doc_id % 7 = 0 THEN 'I am sorry, but no.'
          |    ELSE coalesce(array_to_string((list_filter(string_split(
          |      regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' '),
          |      x -> x <> ''))[(i * 6 + 1):(i * 6 + 6)], ' '), '') END || '"}'), ',') || ']' AS conv
          |FROM documents)""".stripMargin,
        "doc_id", "conv"))),

    // GRPO group statistics (round 19): the prompt-grain n/sum/sumsq
    // frame whose exact scaled variance n*Σr² − (Σr)² the trainer's
    // std-normalization consumes — same fixture as grpo_advantage so
    // the shared denominator convention is hash-checked side by side
    QueryDef("grpo_group_stats",
      (s, dir) => graft.ops.PolicyOpt.grpoGroupStats(
        t(s, dir, "events")
          .withColumn("prompt_id", expr("event_id % 97"))
          .withColumn("reward_milli", expr(
            "cast(cast(value AS DECIMAL(18,2)) * 1000 AS BIGINT) - 1500")),
        "prompt_id", "reward_milli"),
      Some(graft.ops.PolicyOpt.grpoGroupStatsSql(
        """(SELECT event_id % 97 AS prompt_id,
          |  (CAST(value AS DECIMAL(18,2)) * 1000)::BIGINT - 1500 AS reward_milli
          |FROM events)""".stripMargin,
        "prompt_id", "reward_milli"))),

    // KL-drift report (round 19): k1-estimator mass as a signed sum of
    // milli-nat deltas plus 100/500-milli tail counts per policy — the
    // PPO early-stop signal next to the clip fraction; same log-prob
    // fixture as ppo_clip_report
    QueryDef("ppo_kl_report",
      (s, dir) => graft.ops.PolicyOpt.klReport(
        t(s, dir, "events")
          .withColumn("policy", expr("concat('p', user_id % 3)"))
          .withColumn("lp_new", expr("cast(-(event_id % 700) AS BIGINT)"))
          .withColumn("lp_old", expr("cast(-(event_id * 3 % 700) AS BIGINT)")),
        "policy", "lp_new", "lp_old"),
      Some(graft.ops.PolicyOpt.klReportSql(
        """(SELECT 'p' || (user_id % 3) AS policy,
          |  -(event_id % 700) AS lp_new,
          |  -(event_id * 3 % 700) AS lp_old
          |FROM events)""".stripMargin,
        "policy", "lp_new", "lp_old"))),

    // PPO clip-fraction report (round 18): with log-probs in integer
    // milli-nats the ratio-clip test is an integer comparison on
    // deltas vs the ln(1±eps) bounds — per policy, the
    // drifted-too-far signal; the fixture's delta rule spans both clip
    // sides and the in-band mass
    QueryDef("ppo_clip_report",
      (s, dir) => graft.ops.PolicyOpt.ppoClipStats(
        t(s, dir, "events")
          .withColumn("policy", expr("concat('p', user_id % 3)"))
          .withColumn("lp_new", expr("cast(-(event_id % 700) AS BIGINT)"))
          .withColumn("lp_old", expr("cast(-(event_id * 3 % 700) AS BIGINT)")),
        "policy", "lp_new", "lp_old"),
      Some(graft.ops.PolicyOpt.ppoClipStatsSql(
        """(SELECT 'p' || (user_id % 3) AS policy,
          |  -(event_id % 700) AS lp_new,
          |  -(event_id * 3 % 700) AS lp_old
          |FROM events)""".stripMargin,
        "policy", "lp_new", "lp_old"))),

    // pass@k (round 18): the unbiased sampled-eval estimator
    // (1 - C(n-c,k)/C(n,k), stepwise-truncating fixed point, unrolled
    // identically into both dialects) over an events-derived fixture —
    // 10-11 samples per prompt with a deterministic pass rule, so
    // k=11 exercises the exclusion rung (the 10-sample prompts drop
    // from that k's mean; at sf0.001 exactly 30 of 97 prompts qualify)
    // and n-c < k hits the exact-1000 branch
    QueryDef("eval_pass_at_k",
      (s, dir) => graft.ops.PassAtK.passAtK(
        t(s, dir, "events")
          .withColumn("prompt_id", expr("event_id % 97"))
          .withColumn("passed", expr("(event_id % 5) < 2")),
        "prompt_id", "passed", ks = Seq(1, 2, 5, 11)),
      Some(graft.ops.PassAtK.passAtKSql(
        "(SELECT event_id % 97 AS prompt_id, (event_id % 5) < 2 AS passed FROM events)",
        "prompt_id", "passed", ks = Seq(1, 2, 5, 11)))),

    // pass^k (round 19): the reliability complement of pass@k — the
    // probability ALL k samples pass, C(c,k)/C(n,k) as the same
    // unrolled truncating chain; same fixture so k=5 exercises the
    // c<k exact-zero branch and k=11 the exclusion rung
    QueryDef("eval_pass_all_k",
      (s, dir) => graft.ops.PassAtK.passAllK(
        t(s, dir, "events")
          .withColumn("prompt_id", expr("event_id % 97"))
          .withColumn("passed", expr("(event_id % 5) < 2")),
        "prompt_id", "passed", ks = Seq(1, 2, 5, 11)),
      Some(graft.ops.PassAtK.passAllKSql(
        "(SELECT event_id % 97 AS prompt_id, (event_id % 5) < 2 AS passed FROM events)",
        "prompt_id", "passed", ks = Seq(1, 2, 5, 11)))),

    // answer scoring (round 20): SQuAD-style normalize -> exact match
    // -> clipped token-F1 in integer milli — the stage that PRODUCES
    // the passed column pass@k/pass^k consume. Planted classes per
    // doc_id % 6: 'The '+gold+'.' (normalization makes EM pass), a
    // 3-of-4-token truncation (EM 0, F1 857-ish partial credit),
    // gold+extra tokens, disjoint, empty-pred (one-side-zero guard),
    // exact; every 17th doc is the both-empty class (EM/F1 1000)
    QueryDef("eval_score_em_f1",
      (s, dir) => graft.ops.AnswerScore.emF1(
        t(s, dir, "documents")
          .withColumn("__w", expr(
            "filter(split(regexp_replace(lower(text), '[^a-z0-9 ]', ''), ' '), " +
              "x -> x != '')"))
          .withColumn("gold", expr(
            "IF(doc_id % 17 = 0, '', array_join(slice(__w, 1, 4), ' '))"))
          .withColumn("pred", expr(
            "IF(doc_id % 17 = 0, '', CASE cast(doc_id % 6 AS INT) " +
              "WHEN 0 THEN concat('The ', array_join(slice(__w, 1, 4), ' '), '.') " +
              "WHEN 1 THEN array_join(slice(__w, 1, 3), ' ') " +
              "WHEN 2 THEN concat(array_join(slice(__w, 1, 4), ' '), ' unrelated extra') " +
              "WHEN 3 THEN 'zzz qqq' " +
              "WHEN 4 THEN '' " +
              "ELSE array_join(slice(__w, 1, 4), ' ') END)")),
        "doc_id", "pred", "gold"),
      Some(graft.ops.AnswerScore.emF1Sql(
        """(SELECT doc_id,
          |  CASE WHEN doc_id % 17 = 0 THEN ''
          |    ELSE (CASE (doc_id % 6)
          |      WHEN 0 THEN 'The ' || coalesce(array_to_string(w[1:4], ' '), '') || '.'
          |      WHEN 1 THEN coalesce(array_to_string(w[1:3], ' '), '')
          |      WHEN 2 THEN coalesce(array_to_string(w[1:4], ' '), '') || ' unrelated extra'
          |      WHEN 3 THEN 'zzz qqq'
          |      WHEN 4 THEN ''
          |      ELSE coalesce(array_to_string(w[1:4], ' '), '') END) END AS pred,
          |  CASE WHEN doc_id % 17 = 0 THEN ''
          |    ELSE coalesce(array_to_string(w[1:4], ' '), '') END AS gold
          |FROM (SELECT doc_id, list_filter(string_split(
          |    regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' '),
          |    x -> x <> '') AS w
          |  FROM documents))""".stripMargin,
        "doc_id", "pred", "gold"))),

    // answer scoring on the routed grain (round 20): gold/pred are
    // character prefixes of the RAW text, so Han-dominant rows score
    // on codepoint-grain routed tokens (a giant unsegmented "word"
    // would zero the F1) while Latin rows keep the word grain; class
    // 1's mid-word cut gives partial credit, class 2 appends extra
    // tokens, class 3 exercises the one-side-empty guard
    QueryDef("eval_score_em_f1_cjk",
      (s, dir) => graft.ops.AnswerScore.emF1(
        t(s, dir, "documents")
          .withColumn("gold", expr("substring(text, 1, 20)"))
          .withColumn("pred", expr(
            "CASE cast(doc_id % 4 AS INT) " +
              "WHEN 0 THEN substring(text, 1, 20) " +
              "WHEN 1 THEN substring(text, 1, 12) " +
              "WHEN 2 THEN concat(substring(text, 1, 20), ' extra') " +
              "ELSE '' END")),
        "doc_id", "pred", "gold", grain = WordGrain.CjkAuto),
      Some(graft.ops.AnswerScore.emF1Sql(
        """(SELECT doc_id,
          |  CASE (doc_id % 4)
          |    WHEN 0 THEN substr(text, 1, 20)
          |    WHEN 1 THEN substr(text, 1, 12)
          |    WHEN 2 THEN substr(text, 1, 20) || ' extra'
          |    ELSE '' END AS pred,
          |  substr(text, 1, 20) AS gold
          |FROM documents)""".stripMargin,
        "doc_id", "pred", "gold", grain = WordGrain.CjkAuto))),

    // scored-frame -> pass@k composition (round 20): the EM flag from
    // eval_score_em_f1 IS the passed column the estimator consumes —
    // the full harness chain (normalize -> score -> pass@k) as one
    // oracle-checked row set; oversized/NULL scores read as not-passed
    QueryDef("eval_score_then_pass",
      (s, dir) => graft.ops.PassAtK.passAtK(
        graft.ops.AnswerScore.emF1(
          t(s, dir, "documents")
            .withColumn("__w", expr(
              "filter(split(regexp_replace(lower(text), '[^a-z0-9 ]', ''), ' '), " +
                "x -> x != '')"))
            .withColumn("gold", expr("array_join(slice(__w, 1, 4), ' ')"))
            .withColumn("pred", expr(
              "CASE cast(doc_id % 3 AS INT) " +
                "WHEN 0 THEN concat('the ', array_join(slice(__w, 1, 4), ' ')) " +
                "WHEN 1 THEN array_join(slice(__w, 1, 3), ' ') " +
                "ELSE 'zzz' END")),
          "doc_id", "pred", "gold")
          .withColumn("prompt_id", expr("qid % 97"))
          .withColumn("passed", expr("coalesce(em_milli = 1000, false)")),
        "prompt_id", "passed", ks = Seq(1, 3)),
      Some(graft.ops.PassAtK.passAtKSql(
        s"""(SELECT qid % 97 AS prompt_id,
           |  coalesce(em_milli = 1000, false) AS passed
           |FROM (${graft.ops.AnswerScore.emF1Sql(
          """(SELECT doc_id,
            |  CASE (doc_id % 3)
            |    WHEN 0 THEN 'the ' || coalesce(array_to_string(w[1:4], ' '), '')
            |    WHEN 1 THEN coalesce(array_to_string(w[1:3], ' '), '')
            |    ELSE 'zzz' END AS pred,
            |  coalesce(array_to_string(w[1:4], ' '), '') AS gold
            |FROM (SELECT doc_id, list_filter(string_split(
            |    regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' '),
            |    x -> x <> '') AS w
            |  FROM documents))""".stripMargin,
          "doc_id", "pred", "gold")}) t)""".stripMargin,
        "prompt_id", "passed", ks = Seq(1, 3)))),

    // numeric answer scoring (round 20): last-number extraction +
    // exact-milli comparison — classes per doc_id % 7: plain match,
    // comma format (1,234 vs 1234), decimal canonicalization (N.50 vs
    // N.5), negative, off-by-one (wrong), numberless generation
    // (pred_found 0), and multi-number reasoning where the LAST
    // number is the answer
    QueryDef("eval_score_numeric",
      (s, dir) => graft.ops.AnswerScore.scoreNumeric(
        t(s, dir, "documents")
          .withColumn("__n", expr("cast(doc_id % 50 AS STRING)"))
          .withColumn("pred", expr(
            "CASE cast(doc_id % 7 AS INT) " +
              "WHEN 0 THEN concat('the answer is ', __n) " +
              "WHEN 1 THEN 'total of 1,234 items' " +
              "WHEN 2 THEN concat('exactly ', __n, '.50') " +
              "WHEN 3 THEN concat('result -', __n) " +
              "WHEN 4 THEN concat('got ', cast(doc_id % 50 + 1 AS STRING)) " +
              "WHEN 5 THEN 'no number stated' " +
              "ELSE concat('first 10 then ', __n) END"))
          .withColumn("gold", expr(
            "CASE cast(doc_id % 7 AS INT) " +
              "WHEN 1 THEN '1234' " +
              "WHEN 2 THEN concat(__n, '.5') " +
              "WHEN 3 THEN concat('-', __n) " +
              "ELSE __n END")),
        "doc_id", "pred", "gold"),
      Some(graft.ops.AnswerScore.scoreNumericSql(
        """(SELECT doc_id,
          |  CASE (doc_id % 7)
          |    WHEN 0 THEN concat('the answer is ', (doc_id % 50)::VARCHAR)
          |    WHEN 1 THEN 'total of 1,234 items'
          |    WHEN 2 THEN concat('exactly ', (doc_id % 50)::VARCHAR, '.50')
          |    WHEN 3 THEN concat('result -', (doc_id % 50)::VARCHAR)
          |    WHEN 4 THEN concat('got ', (doc_id % 50 + 1)::VARCHAR)
          |    WHEN 5 THEN 'no number stated'
          |    ELSE concat('first 10 then ', (doc_id % 50)::VARCHAR) END AS pred,
          |  CASE (doc_id % 7)
          |    WHEN 1 THEN '1234'
          |    WHEN 2 THEN concat((doc_id % 50)::VARCHAR, '.5')
          |    WHEN 3 THEN concat('-', (doc_id % 50)::VARCHAR)
          |    ELSE (doc_id % 50)::VARCHAR END AS gold
          |FROM documents)""".stripMargin,
        "doc_id", "pred", "gold"))),

    // majority vote / maj@k (round 20): per prompt, the modal
    // CANONICALIZED answer vs gold — classes 0/1 are the same vote
    // after normalization ('ans N' vs 'The ans N.'), classes 2/3 a
    // wrong vote, class 4 an empty answer; uneven samples-per-prompt
    // make 2-2 ties that exercise the lexicographic struct tie-break
    // cross-engine
    QueryDef("eval_majority_vote",
      (s, dir) => graft.ops.AnswerScore.majorityVote(
        t(s, dir, "documents")
          .withColumn("prompt", expr("doc_id % 97"))
          .withColumn("gold", expr("concat('ans ', cast(prompt AS STRING))"))
          .withColumn("answer", expr(
            "CASE cast(doc_id % 5 AS INT) " +
              "WHEN 0 THEN concat('ans ', cast(prompt AS STRING)) " +
              "WHEN 1 THEN concat('The ans ', cast(prompt AS STRING), '.') " +
              "WHEN 2 THEN 'nope' " +
              "WHEN 3 THEN 'nope' " +
              "ELSE '' END")),
        "prompt", "answer", "gold"),
      Some(graft.ops.AnswerScore.majorityVoteSql(
        """(SELECT doc_id % 97 AS prompt,
          |  concat('ans ', doc_id % 97) AS gold,
          |  CASE (doc_id % 5)
          |    WHEN 0 THEN concat('ans ', doc_id % 97)
          |    WHEN 1 THEN concat('The ans ', doc_id % 97, '.')
          |    WHEN 2 THEN 'nope'
          |    WHEN 3 THEN 'nope'
          |    ELSE '' END AS answer
          |FROM documents)""".stripMargin,
        "prompt", "answer", "gold"))),

    // clipped n-gram overlap (round 20): ROUGE-N / BLEU modified
    // precision ingredients per (candidate, reference) and order 1/2 —
    // the candidate REPEATS its first word twice more, so the clipped
    // count credits it once per reference occurrence (the fixture that
    // distinguishes clipped from naive counting); empty-text rows
    // exercise the zero-gram guards on both orders
    QueryDef("eval_overlap_ngram",
      (s, dir) => graft.ops.AnswerScore.overlapNgram(
        t(s, dir, "documents")
          .withColumn("__w", expr(
            "filter(split(regexp_replace(lower(text), '[^a-z0-9 ]', ''), ' '), " +
              "x -> x != '')"))
          .withColumn("cand", expr(
            "IF(size(__w) = 0, '', concat(array_join(slice(__w, 1, 3), ' '), " +
              "' ', element_at(__w, 1), ' ', element_at(__w, 1)))"))
          .withColumn("ref", expr("array_join(slice(__w, 1, 5), ' ')")),
        "doc_id", "cand", "ref"),
      Some(graft.ops.AnswerScore.overlapNgramSql(
        """(SELECT doc_id,
          |  CASE WHEN len(w) = 0 THEN ''
          |    ELSE concat(coalesce(array_to_string(w[1:3], ' '), ''),
          |      ' ', w[1], ' ', w[1]) END AS cand,
          |  coalesce(array_to_string(w[1:5], ' '), '') AS ref
          |FROM (SELECT doc_id, list_filter(string_split(
          |    regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' '),
          |    x -> x <> '') AS w
          |  FROM documents))""".stripMargin,
        "doc_id", "cand", "ref"))),

    // character n-gram overlap / chrF ingredients (round 20): clipped
    // char-3/6-gram counts over whitespace-stripped text — classes
    // per doc_id % 4: exact prefix (precision 1000), one-char
    // substitution (locally broken grams), half-swap (scrambled order
    // with identical char mass — NOT reverse(): Spark reverses code
    // points where DuckDB reverses grapheme clusters, a real engine
    // divergence the sweep's Burmese combining-mark row caught),
    // empty candidate (zero-gram guard); zh rows exercise
    // character-based gramming
    QueryDef("eval_overlap_chargram",
      (s, dir) => graft.ops.AnswerScore.charGramOverlap(
        t(s, dir, "documents")
          .withColumn("ref", expr("substring(text, 1, 80)"))
          .withColumn("cand", expr(
            "CASE cast(doc_id % 4 AS INT) " +
              "WHEN 0 THEN substring(text, 1, 60) " +
              "WHEN 1 THEN concat(substring(text, 1, 30), 'Q', " +
              "substring(text, 32, 29)) " +
              "WHEN 2 THEN concat(substring(text, 31, 30), " +
              "substring(text, 1, 30)) " +
              "ELSE '' END")),
        "doc_id", "cand", "ref"),
      Some(graft.ops.AnswerScore.charGramOverlapSql(
        """(SELECT doc_id, substr(text, 1, 80) AS ref,
          |  CASE (doc_id % 4)
          |    WHEN 0 THEN substr(text, 1, 60)
          |    WHEN 1 THEN concat(substr(text, 1, 30), 'Q', substr(text, 32, 29))
          |    WHEN 2 THEN concat(substr(text, 31, 30), substr(text, 1, 30))
          |    ELSE '' END AS cand
          |FROM documents)""".stripMargin,
        "doc_id", "cand", "ref"))),

    // per-token NLL report (round 20): the eval-loss twin of the KL
    // drift report — per policy, in-domain token count, signed-free
    // NLL sum, mean via unsigned truncating division, 1000/3000
    // milli-nat tail counts, and the malformed count (NULL or
    // positive log-probs are logged out, not silently averaged)
    QueryDef("eval_nll_report",
      (s, dir) => graft.ops.PolicyOpt.nllReport(
        t(s, dir, "events")
          .withColumn("policy", expr("concat('p', user_id % 3)"))
          .withColumn("lp", expr(
            "CASE WHEN event_id % 37 = 0 THEN cast(NULL AS BIGINT) " +
              "WHEN event_id % 31 = 0 THEN cast(5 AS BIGINT) " +
              "ELSE cast(-(event_id % 4000) AS BIGINT) END")),
        "policy", "lp"),
      Some(graft.ops.PolicyOpt.nllReportSql(
        """(SELECT 'p' || (user_id % 3) AS policy,
          |  CASE WHEN event_id % 37 = 0 THEN NULL
          |       WHEN event_id % 31 = 0 THEN 5
          |       ELSE -(event_id % 4000) END AS lp
          |FROM events)""".stripMargin,
        "policy", "lp"))),

    // intra-judge consistency (round 19): per judge, re-labeled item
    // count and flip rate — the fixture plants a second j0 label on
    // every 4th doc that flips on every 8th, so j0 reads ~500 milli
    // and j1/j2 have no row (never re-labeled)
    QueryDef("judge_self_consistency",
      (s, dir) => {
        val base = t(s, dir, "documents")
          .select(col("doc_id"), explode(expr("sequence(0, 2)")).as("j"))
          .select(col("doc_id"), expr("concat('j', j)").as("judge"),
            expr("IF((doc_id + j) % 3 = 0, 'good', 'bad')").as("verdict"))
        val relabel = t(s, dir, "documents")
          .where(expr("doc_id % 4 = 0"))
          .select(col("doc_id"), lit("j0").as("judge"),
            expr("CASE WHEN doc_id % 8 = 0 THEN 'flip' " +
              "WHEN doc_id % 3 = 0 THEN 'good' ELSE 'bad' END").as("verdict"))
        graft.ops.Judge.selfConsistency(base.union(relabel),
          "doc_id", "judge", "verdict")
      },
      Some(graft.ops.Judge.selfConsistencySql(
        """(SELECT doc_id, 'j' || j AS judge,
          |  CASE WHEN (doc_id + j) % 3 = 0 THEN 'good' ELSE 'bad' END AS verdict
          |FROM (SELECT doc_id, unnest(generate_series(0, 2)) AS j
          |      FROM documents)
          |UNION ALL
          |SELECT doc_id, 'j0' AS judge,
          |  CASE WHEN doc_id % 8 = 0 THEN 'flip'
          |       WHEN doc_id % 3 = 0 THEN 'good' ELSE 'bad' END AS verdict
          |FROM documents WHERE doc_id % 4 = 0)""".stripMargin,
        "doc_id", "judge", "verdict"))),

    // data-MIXTURE plan (round 18): per-source sampling factors in
    // epochs-milli from target weights + token masses, epoch-capped,
    // with the achieved mixture reported after caps bind. Targets hit
    // all three branches on the ~5%-per-source corpus: src0 at 300
    // wants ~6 epochs -> the 4000-milli cap BINDS; src1 at 150 lands
    // free (~3 epochs); src2-src9 at 50 downsample; src10+ absent ->
    // weight 0, report row kept
    QueryDef("mix_plan",
      (s, dir) => graft.ops.Mixture.mixPlan(
        t(s, dir, "documents"), "text", "source",
        ("src0" -> 300) +: ("src1" -> 150) +:
          (2 to 9).map(i => s"src$i" -> 50)),
      Some(graft.ops.Mixture.mixPlanSql(
        "documents", "text", "source",
        ("src0" -> 300) +: ("src1" -> 150) +:
          (2 to 9).map(i => s"src$i" -> 50)))),

    // per-LANGUAGE tokenizer fertility report (round 18): corpus-level
    // BPE-tokens-per-word and bytes-per-token in milli per lang stratum
    // — the multilingual tokenizer-efficiency audit (sums first, one
    // division per stratum; the per-doc text_bpe_fertility filter above
    // is the row-grain complement)
    QueryDef("bpe_fertility_report",
      (s, dir) => graft.ops.Bpe.bpeFertility(
        t(s, dir, "documents"), "text", "lang"),
      Some(graft.ops.Bpe.bpeFertilitySql("documents", "text", "lang"))),

    // the TRAINING half of BPE: learn the top-8 merges from the corpus's
    // word histogram (one corpus scan; every iteration after it is
    // metadata-scale over the bounded vocab). Argmax tie-breaks pinned
    // (count desc, pair asc) so both engines learn the identical table
    // r20: the registered row now runs the documented SCALE path —
    // learnMergesLocal (one distributed histogram exchange, then the
    // vocabulary-bounded driver trainer; the SentencePiece/HF shape).
    // BpeSpec pins it equal to the Spark iteration loop, which stays
    // as the parity baseline; the Spark loop's 8 iterations were ~17
    // eager checkpoint/argmax jobs of millisecond work (pure stage
    // latency at any scale — the judge_bt class).
    QueryDef("text_bpe_learn",
      (s, dir) => {
        val rows = graft.ops.Bpe.learnMergesLocal(
          t(s, dir, "documents"), "text", k = 8)
        val spark = s
        import spark.implicits._
        rows.toDF("rank", "a", "b", "pair_count")
      },
      Some(graft.ops.Bpe.learnMergesSql("documents", "text"))),

  ) ++ grainFamily("pipeline_datacard",
    // the corpus DATACARD: volume, exact-dup rate, language share,
    // quality pass rate, mean length as one (metric, value) table in
    // integer milli — the release summary a registry ingests per
    // corpus version; every number a composition of green families
    ws,
    // the datacard on the routed word grain over the zh fixture: the
    // quality gate stops auto-rejecting unsegmented rows and the
    // published token totals/means are denominated in routed words —
    // one consistent grain across the card (the ws card's BPE-ish
    // token classes already count CJK per codepoint; this card's
    // contract is word-grain consistency between gate and totals)
    cjk) { g => (
      (s, dir) => graft.ops.Datacard.datacard(g.fixture(t(s, dir, "documents")),
        "doc_id", "text", wordGrain = g.wordGrain),
      graft.ops.Datacard.datacardSql(g.fixture.twin(), "doc_id", "text", wordGrain = g.wordGrain))
  } ++ Seq(

    // the datacard's 100 TB form: the exact card's one corpus-sized
    // exchange (countDistinct of the digest) swapped for the
    // parameterized HLL sketch folded into the card's single global
    // agg as per-register maxes — one scan, O(m) exchange, zero joins;
    // hll_p and the zero-register count ride on the card so the error
    // band (±1.04/√m) is part of the published artifact
    QueryDef("pipeline_datacard_approx",
      (s, dir) => graft.ops.Datacard.datacardApprox(
        t(s, dir, "documents"), "doc_id", "text"),
      Some(graft.ops.Datacard.datacardApproxSql("documents", "doc_id", "text"))),

    // the blocklist filter ACTING standalone (it also runs inside
    // pipeline_crawl_ingest): registrable-domain keyed, so blocking
    // example3.co.uk drops the shop.* subdomain class with it, and
    // blocking www.ck (an EXCEPTION-rule registrable under *.ck) drops
    // the a.www.ck class — public-suffix resolution, including the
    // PSL's exception form, doing real filtering work on the board
    QueryDef("pipeline_domain_filter",
      (s, dir) => graft.ops.Url.domainFilter(
          t(s, dir, "documents").withColumn("url", expr(urlFixtureSpark)),
          "url", blocked = Seq("example1.com", "example3.co.uk", "www.ck"))
        .select(col("doc_id"), expr("graft_url_domain(url)").as("domain"))
        .groupBy(col("domain")).agg(count(lit(1)).as("n_docs")),
      Some(s"""SELECT ${graft.ops.Url.duckDomainExpr("url")} AS domain,
              |  count(*) AS n_docs
              |FROM $urlFixtureDuckTable
              |WHERE ${graft.ops.Url.domainFilterPredSql("url",
                  Seq("example1.com", "example3.co.uk", "www.ck"))}
              |GROUP BY 1""".stripMargin)),

    // passage-grain dedup: a fixture boilerplate PARAGRAPH prepended to
    // every doc (32 tokens = exactly one aligned chunk at stride 32)
    // makes each doc's chunk 0 identical corpus-wide — the shared-header
    // redundancy document-level exact dedup cannot see; the report
    // counts it per doc with the lowest-(doc_id, chunk_idx) keeper rule
    QueryDef("dedup_passages",
      (s, dir) => Dedup.passageDedupReport(
        boilerplateFixture(t(s, dir, "documents")),
        "doc_id", "text", size = 32, stride = 32),
      Some(Dedup.passageDedupReportSql(boilerplateFixture.twin(),
        "doc_id", "text", size = 32, stride = 32))),

  ) ++ grainFamily("pipeline_chunk_manifest",
    // the chunk run's metadata-sized audit over text_chunk's grain:
    // chunks, docs, mean fill (integer milli of the window), and the
    // short-fragment count — read before encoding to decide whether
    // tails get dropped or re-packed. Non-overlapping config (stride =
    // size) so the short counter actually bites: with stride < size a
    // tail always exceeds size - stride
    ws,
    // the manifest on the routed grain: the Spark side is the
    // CLOSED-FORM arithmetic over the count-only routed kernel
    // (graft_word_count 'cjk-auto' — no explode, no array), the oracle
    // aggregates the EXPLODED routed chunk grain — the hash compare
    // pins formula ≡ grain on the routed tokenization exactly as the
    // ws manifest pins it on the token grain
    cjk) { g => (
      (s, dir) => TextAnalysis.chunkManifest(g.fixture(t(s, dir, "documents")),
        "doc_id", "text", size = 32, stride = 32, grain = g.wordGrain),
      TextAnalysis.chunkManifestSql(g.fixture.twin(),
        "doc_id", "text", size = 32, stride = 32, grain = g.wordGrain))
  } ++ Seq(

    // mojibake repair: the committed-derivation artifact table applied
    // as a constant replace chain; the fixture corrupts every 3rd doc
    // by APPENDING a suffix run through the actual corruption (UTF-8
    // read as cp1252 — Mojibake.mojibakeOf), so the oracle compare
    // witnesses byte-exact repair plus untouched clean rows
    QueryDef("text_fix_mojibake",
      (s, dir) => graft.ops.Mojibake.fix(
        mojibakeFixture(t(s, dir, "documents")), "doc_id", "text"),
      Some(graft.ops.Mojibake.fixSql(mojibakeFixture.twin(), "doc_id", "text"))),

    // ================= multimodal plumbing ===============================
    //
    // COST RULE for the mm_* family (the 100 TB contract): decode only
    // what the columnar pass cannot answer. `mm_meta_columnar` /
    // `mm_audio_meta` read 8-16 HEADER bytes per blob inside codegen
    // (244k imgs/s and 312k clips/s measured) and answer dims, channels,
    // and sample rate; full codec decode (`mm_decode_meta`, 13k imgs/s —
    // ~19× slower) is for PIXEL/SAMPLE-dependent outputs only (checksums,
    // features, resize, resample). A caller who runs full decode for
    // metadata a header parse answers is paying 19× for nothing.

    // REAL image decode: payloads are actual PNG bytes (rendered
    // executor-side from the planted-pixel formula), decoded with the
    // JDK's javax.imageio; the oracle replays the pixel formula in SQL,
    // so a decoder that misreads dims or pixel values fails the hash.
    // Pixel-dependent outputs only — dims alone come 19× cheaper from
    // mm_meta_columnar (see the family cost rule above)
    QueryDef("mm_decode_meta",
      (s, dir) => Multimodal.decodeMeta(
        mediaPayloads(s, dir, "png")).toDF(),
      Some(Multimodal.decodeMetaSql("documents", "doc_id"))),

    // columnar IHDR parse of the same real PNG bytes: width/height from
    // the spec-pinned big-endian uint32s at offsets 16/20, entirely in
    // codegen (substring+hex+conv) — the 8-bytes-per-blob metadata pass
    QueryDef("mm_meta_columnar",
      (s, dir) => Multimodal.metaColumnarPng(
        mediaPayloads(s, dir, "png")),
      Some(Multimodal.metaColumnarSql("documents", "doc_id"))),

    // real resample: decode -> nearest-neighbor half -> re-encode ->
    // re-decode -> integer checksum (witnesses resample + a second full
    // PNG round-trip)
    QueryDef("mm_resize",
      (s, dir) => Multimodal.resizeDecoded(
        mediaPayloads(s, dir, "png")).toDF(),
      Some(Multimodal.resizeSql("documents", "doc_id"))),

    // the batched-UDF analog path: mapPartitions feature extraction (one
    // decoder init per partition) -> binned channel sums over the REAL
    // decoded pixels, projected to scalar columns. Single-decode path;
    // the typed-record chain (toMediaRecords -> featureExtract, which
    // decodes once more for the record's metadata) stays spec-covered
    QueryDef("mm_features",
      (s, dir) => {
        val media = mediaPayloads(s, dir, "png")
        Multimodal.featureExtractFromPayload(media).toDF()
          .select(col("media_id") +:
            (0 until 8).map(j => element_at(col("bins"), j + 1).as(s"f$j")): _*)
      },
      Some(Multimodal.featuresSql("documents", "doc_id"))),

    // perceptual image hashing over REAL decoded pixels: the fixture
    // plants near-dup GROUPS (4 ids share a base image at stepped
    // brightness, channels clamped at 255 — the re-encoded-copy shape),
    // the engine dHashes the decoded luminance grid, and the oracle
    // replays the 72 grid positions from the planted formula — a decoder
    // that misreads any sampled pixel flips a comparison bit and fails
    // the hash
    QueryDef("mm_phash",
      (s, dir) => Multimodal.perceptualHash(
        mediaPayloads(s, dir, "png_group")).toDF(),
      Some(Multimodal.perceptualHashSql("documents", "doc_id"))),

    // the acting twin: 16-bit-band LSH over the dHashes proposes
    // candidates, bit_count(xor) verifies hamming <= 8, and the keeper
    // rule (drop any image with a qualifying lower-id neighbor) picks
    // survivors — image near-dup dedup end to end, exchanges carry only
    // (id, hash64) rows
    QueryDef("mm_dedup_phash",
      (s, dir) => Multimodal.dedupPhashKeepers(
        Multimodal.perceptualHash(mediaPayloads(s, dir, "png_group")).toDF()),
      Some(Multimodal.dedupPhashKeepersSql("documents", "doc_id"))),

    // acoustic fingerprinting over REAL decoded WAV samples: the
    // fixture plants near-dup GROUPS (4 ids share a base waveform at
    // stepped attenuation — the re-encoded-at-lower-volume copy shape),
    // the engine sketches the SIGN of the frame-energy envelope's
    // change (gain-invariant), and the oracle replays the attenuated
    // sample formula — a decoder that misreads any sample perturbs a
    // frame energy and risks flipping a comparison bit
    QueryDef("mm_audio_fp",
      (s, dir) => Multimodal.audioFingerprint(
        mediaPayloads(s, dir, "wav_group")).toDF(),
      Some(Multimodal.audioFingerprintSql("documents", "doc_id"))),

    // the acting twin: near-dup audio dedup through the shared hamming
    // keeper engine with n_frames as the GROUP key (different-length
    // fingerprints live in disjoint bit spaces — structurally excluded,
    // not probabilistically unlikely); one survivor per planted group
    QueryDef("mm_dedup_audio",
      (s, dir) => Multimodal.dedupAudioKeepers(
        Multimodal.audioFingerprint(mediaPayloads(s, dir, "wav_group")).toDF()),
      Some(Multimodal.dedupAudioKeepersSql("documents", "doc_id"))),

    // REAL audio decode: payloads are actual WAV bytes (planted 16-bit
    // PCM rendered through javax.sound's encoder), decoded with the
    // JDK's parser; the oracle replays the sample formula — exact
    // integer sample checksum + energy (the loudness/VAD gate inputs)
    QueryDef("mm_audio_decode",
      (s, dir) => Multimodal.decodeAudio(
        mediaPayloads(s, dir, "wav")).toDF(),
      Some(Multimodal.decodeAudioSql("documents", "doc_id"))),

    // real audio resample: decode -> decimate by 2 -> re-encode at half
    // rate -> re-decode -> integer checksum (the audio twin of
    // mm_resize's double round-trip)
    QueryDef("mm_audio_downsample",
      (s, dir) => Multimodal.downsampleAudio(
        mediaPayloads(s, dir, "wav")).toDF(),
      Some(Multimodal.downsampleAudioSql("documents", "doc_id"))),

    // columnar RIFF header parse of the same real WAV bytes: channels +
    // sample rate from the little-endian header fields, entirely in
    // codegen — the audio metadata pass (no decoder touched)
    QueryDef("mm_audio_meta",
      (s, dir) => Multimodal.audioMetaColumnar(
        mediaPayloads(s, dir, "wav")),
      Some(Multimodal.audioMetaSql("documents", "doc_id"))),

    // ANN: LSH-bucketed top-k with MULTI-PROBE search (nprobe=2: the
    // query's own bucket plus the bucket across its lowest-|margin|
    // hyperplane) — exact within the probed buckets, which is also what
    // the oracle computes; recovers the single-probe recall cliff at
    // hyperplane boundaries
    QueryDef("embed_ann_topk",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.lshTopK(emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nprobe = 2)
      },
      Some(Similarity.lshTopKSql("embeddings", "vec_id", "embedding",
        k = 5, queryPred = "vec_id < 10", nprobe = 2))),

    // ANN: inverted-file top-k with FIRST-N STUB centroids and nprobe=1 —
    // DELIBERATELY DEMOTED to "baseline" (was `embed_ivf_topk`): this is
    // the simplest IVF shape, kept ONLY as the recall floor the learned
    // index is measured against (see `embed_ivf_recall`). It has a known
    // recall cliff at cluster boundaries; a user reaching for IVF by name
    // should land on `embed_ivf_kmeans` (learned centroids, nprobe=2)
    QueryDef("embed_ivf_baseline",
      (s, dir) => Similarity.ivfTopK(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 5, nCentroids = 8,
        queryPred = col("v_id") < 10),
      Some(Similarity.ivfTopKSql("embeddings", "vec_id", "embedding",
        k = 5, nCentroids = 8, queryPred = "v_id < 10"))),

    // ANN: IVF with LEARNED (k-means) centroids and multi-probe search —
    // each query searches its nprobe nearest clusters, recovering the
    // boundary-vector recall single-probe IVF loses; centroids are a
    // deterministic fixed-iteration Lloyd's so the oracle reproduces them
    QueryDef("embed_ivf_kmeans",
      (s, dir) => Similarity.ivfTopKKmeans(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 5, nCentroids = 8, iters = 2, nprobe = 2,
        queryPred = col("v_id") < 10),
      Some(Similarity.ivfTopKKmeansSql("embeddings", "vec_id", "embedding",
        k = 5, nCentroids = 8, iters = 2, nprobe = 2, queryPred = "v_id < 10"))),

    // the IVF-flat family's AT-REST search leg (the analog of
    // embed_ivfpq_topk for the exact-vector tier): first-touch-persisted
    // coarse centroids + cluster-partitioned FULL vectors, multi-probe
    // search directory-pruned to the probed clusters, exact cosine
    // within candidates — spec-pinned ≡ the in-memory k-means IVF, which
    // is what the oracle recomputes. Prices what production pays per
    // query once the assignment is laid down at ingest
    QueryDef("embed_ivf_persisted",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val path = idxPath("ivfflat", dir)
        graft.ops.PqIndex.ensure(s, path, idxSig(s, dir, "ivfflat,nCentroids=8,iters=2")) {
          graft.ops.PqIndex.writeIvfFlat(emb, "vec_id", "embedding", path,
            nCentroids = 8, iters = 2)
        }
        graft.ops.PqIndex.searchIvfFlatTopK(s, path,
          emb.where(col("vec_id") < 10).select("vec_id", "embedding"),
          k = 5, nprobe = 2)
      },
      Some(Similarity.ivfTopKKmeansSql("embeddings", "vec_id", "embedding",
        k = 5, nCentroids = 8, iters = 2, nprobe = 2, queryPred = "v_id < 10"))),

    // ANN, third index family: product quantization. Vectors become m
    // subspace-centroid codes (L2 k-means per subspace); search is the
    // compiled ADC lookup over per-query dot tables — zero per-pair float
    // arithmetic, zero corpus shuffle (ops/Pq.scala). Codes dumped as CSV
    // (schema guard: no raw arrays reach the driver comparator)
    QueryDef("embed_pq_codes",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cent = Pq.pqCentroids(emb, "vec_id", "embedding",
          dim = 64, m = 4, kSub = 8, iters = 2)
        Pq.pqEncode(emb, "vec_id", "embedding", cent, m = 4, w = 16)
          .select(col("v_id"),
            expr("array_join(transform(codes, x -> cast(x AS STRING)), ',')").as("codes_csv"),
            round(col("xn2"), 6).as("xn2"))
      },
      Some(Pq.pqCodesSql("embeddings", "vec_id", "embedding",
        dim = 64, m = 4, kSub = 8, iters = 2))),

    // SEARCH leg over a first-touch-persisted flat PQ index: codebook
    // training runs once per (data, params) at first touch (ensure()),
    // so bench reps 2+ time what production pays per query — broadcast
    // LUTs x one code scan. The training itself is priced by the
    // embed_pq_codes* build queries above. Results are identical to
    // training inline (deterministic codebooks), which is what the
    // oracle recomputes.
    QueryDef("embed_pq_topk",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val path = idxPath("pqflat", dir)
        graft.ops.PqIndex.ensure(s, path, idxSig(s, dir, "dim=64,m=4,kSub=8,iters=2")) {
          graft.ops.PqIndex.writeFlat(emb, "vec_id", "embedding", path,
            dim = 64, m = 4, kSub = 8, iters = 2)
        }
        graft.ops.PqIndex.searchFlatTopK(s, path,
          emb.where(col("vec_id") < 10).select("vec_id", "embedding"),
          k = 5, dim = 64, m = 4, kSub = 8)
      },
      Some(Pq.pqTopKSql("embeddings", "vec_id", "embedding", k = 5,
        dim = 64, m = 4, kSub = 8, iters = 2, queryPred = "v_id < 10"))),

    // the byte-packed code word: m bytes + a norm per vector is the
    // LITERAL at-rest payload (hex-gated like embed_quantize_packed)
    QueryDef("embed_pq_codes_packed",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cent = Pq.pqCentroids(emb, "vec_id", "embedding",
          dim = 64, m = 4, kSub = 8, iters = 2)
        Pq.pqEncodePacked(emb, "vec_id", "embedding", cent, m = 4, w = 16)
          .select(col("v_id"), hex(col("qcodes")).as("codes_hex"),
            round(col("xn2"), 6).as("xn2"))
      },
      Some(Pq.pqCodesPackedHexSql("embeddings", "vec_id", "embedding",
        dim = 64, m = 4, kSub = 8, iters = 2))),

    // ADC over the packed domain of the SAME persisted flat index:
    // bit-equal to embed_pq_topk (same fold order), scanning 1-byte
    // codes straight from the binary at-rest word
    QueryDef("embed_pq_topk_packed",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val path = idxPath("pqflat", dir)
        graft.ops.PqIndex.ensure(s, path, idxSig(s, dir, "dim=64,m=4,kSub=8,iters=2")) {
          graft.ops.PqIndex.writeFlat(emb, "vec_id", "embedding", path,
            dim = 64, m = 4, kSub = 8, iters = 2)
        }
        graft.ops.PqIndex.searchFlatTopK(s, path,
          emb.where(col("vec_id") < 10).select("vec_id", "embedding"),
          k = 5, dim = 64, m = 4, kSub = 8, packed = true)
      },
      Some(Pq.pqTopKSql("embeddings", "vec_id", "embedding", k = 5,
        dim = 64, m = 4, kSub = 8, iters = 2, queryPred = "v_id < 10"))),

    // the production pairing: coarse k-means routing x PQ/ADC scoring —
    // candidates per query ~ nprobe/nCoarse of the corpus, each scored
    // with m array reads (non-residual IVFADC; see Pq.ivfPqTopK). SEARCH
    // leg over the first-touch-persisted index; the build cost is priced
    // by embed_ivfpq_persisted below, which rebuilds every run
    QueryDef("embed_ivfpq_topk",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val path = idxPath("pqivf", dir)
        graft.ops.PqIndex.ensure(s, path, idxSig(s, dir, "dim=64,m=4,kSub=8,iters=2,nCoarse=8,coarseIters=2")) {
          graft.ops.PqIndex.write(emb, "vec_id", "embedding", path,
            dim = 64, m = 4, kSub = 8, iters = 2, nCoarse = 8, coarseIters = 2)
        }
        graft.ops.PqIndex.searchTopK(s, path,
          emb.where(col("vec_id") < 10).select("vec_id", "embedding"),
          k = 5, dim = 64, m = 4, kSub = 8, nprobe = 2)
      },
      Some(Pq.ivfPqTopKSql("embeddings", "vec_id", "embedding", k = 5,
        dim = 64, m = 4, kSub = 8, iters = 2,
        nCoarse = 8, coarseIters = 2, nprobe = 2, queryPred = "v_id < 10"))),

    // REAL multi-frame sampling: payloads are actual animated GIFs
    // (planted gray pixels per frame), every frame decoded with the JDK
    // GIF reader, every 2nd kept — the oracle replays the per-frame
    // pixel formula, so a decoder that misreads frame count, dims, or
    // pixels fails the hash
    QueryDef("mm_frame_sample",
      (s, dir) => Multimodal.frameSampleDecoded(
        mediaPayloads(s, dir, "gif"),
        stride = 2).toDF(),
      Some(Multimodal.frameSampleDecodedSql("documents", "doc_id", stride = 2))),

    // codec-free byte-level frame sampling: every stride-th fixed-size
    // chunk of the container bytes becomes a frame row (hex-emitted for
    // the portable compare) — the shape for seekable containers the JDK
    // cannot decode, where sampling must prune at the byte level
    QueryDef("mm_frame_sample_bytes",
      (s, dir) => Multimodal.frameSample(
        Multimodal.attachFakePayload(t(s, dir, "documents"), "doc_id", "text"),
        frameBytes = 4, stride = 2)
        .select(col("media_id"), col("frame_idx"),
          lower(hex(col("frame_payload"))).as("frame_hex")),
      Some(Multimodal.frameSampleSql("documents", "doc_id", "text",
        frameBytes = 4, stride = 2))),

    // corpus-wide top-k word bigrams (explode -> partial-agg count ->
    // TakeOrderedAndProject; the standard n-gram frequency analysis)
    QueryDef("text_ngram_topk",
      (s, dir) => TextAnalysis.topNgrams(t(s, dir, "documents"), "text", n = 2, topK = 10),
      Some(TextAnalysis.topNgramsSql("documents", "text", n = 2, topK = 10))),

  ) ++ grainFamily("text_collocations",
    // PMI-lift collocations (round 15): association-ranked word pairs —
    // raw-count top bigrams are "of the"; lift = p(xy)/(p(x)p(y))
    // surfaces pairs that co-occur MORE than their parts predict.
    // minCount floor before the joins, unhinted unigram joins (planner
    // broadcasts while stats fit, keyed past the threshold), top-k via
    // TakeOrderedAndProject
    ws,
    // collocations on the cjk-auto grain over the zh fixture:
    // character-pair lift IS unsupervised zh word discovery — glued
    // pairs (translated word interiors) outscore incidental
    // adjacencies — i.e. the corpus-statistics step that NOMINATES
    // candidates for the committed ZhLexicon bands the dict grain
    // segments with (the other half of the dict-grain loop)
    cjk,
    // collocations on the cjk-dict grain: over FMM-segmented WORDS the
    // same statistic surfaces multiword expressions (adjacent lexicon
    // words that travel together — the planted phrase's word pairs)
    // instead of character glue; bigram construction rides the FMM
    // token array, the oracle the recursive token-list relation
    cjkDict,
    // collocations on the thai-dict grain: multiword expressions over
    // FMM Thai words — the fourth operator family the second lexicon
    // reaches off one registry entry (retrieval, scoring, shingle
    // dedup, now association mining); the twin rides the same maxLen-9
    // recursive token-list relation
    thaiDict) { g => (
      (s, dir) => TextAnalysis.collocations(g.fixture(t(s, dir, "documents")),
        "text", topK = 50, minCount = 5, wordGrain = g.wordGrain),
      TextAnalysis.collocationsSql(g.fixture.twin(),
        "text", topK = 50, minCount = 5, wordGrain = g.wordGrain))
  } ++ Seq(

    // composed pretraining corpus filter: dedup keeper ∧ language ∧
    // quality thresholds — one scan, text dropped before the only shuffle
    QueryDef("pipeline_corpus_filter",
      (s, dir) => TextAnalysis.corpusFilter(t(s, dir, "documents"), "doc_id", "text"),
      Some(TextAnalysis.corpusFilterSql("documents", "doc_id", "text"))),

    // contamination REPORT — per bench item: corpus docs sharing any
    // shingle + distinct shingles leaked, zero-hit items included. The
    // corpus streams its shingles through the broadcast (shingle ->
    // bench item) hash join — O(1) per shingle regardless of bench size
    // (tools/ProbeContamination: 43x over a row-local intersect probe)
    QueryDef("pipeline_contamination_report",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.ops.Decontaminate.contaminationReport(
          docs.where(col("doc_id") >= 25), docs.where(col("doc_id") < 25),
          "doc_id", "text", k = 5)
      },
      Some(graft.ops.Decontaminate.contaminationReportSql("documents",
        benchPred = "doc_id < 25", corpusPred = "doc_id >= 25",
        "doc_id", "text", k = 5))),

    // SEMANTIC contamination report — embedding-space eval-leak census:
    // per bench item, corpus vectors within cosine >= 0.95 + closest
    // sim, zero-hit rows included (catches paraphrased leakage lexical
    // shingles miss). Planted corpus copies of bench vecs 0-1 make the
    // hit counts non-vacuous
    QueryDef("pipeline_contamination_semantic",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val bench = emb.where(col("vec_id") < 5)
        val corpus = emb.where(col("vec_id") >= 5)
          .unionByName(emb.where(col("vec_id") < 2)
            .select((col("vec_id") + 3000).as("vec_id"), col("embedding")))
        graft.ops.Decontaminate.semanticContaminationReport(
          corpus, bench, "vec_id", "embedding")
      },
      Some(graft.ops.Decontaminate.semanticContaminationReportSql(
        """(SELECT vec_id, embedding FROM embeddings
          | UNION ALL
          | SELECT vec_id + 3000, embedding FROM embeddings WHERE vec_id < 2)""".stripMargin,
        benchPred = "vec_id < 5", corpusPred = "vec_id >= 5",
        "vec_id", "embedding"))),

    // the acting twin: DROP corpus vectors within cosine >= 0.95 of any
    // bench item (planted copies of bench vecs 0-1 must vanish;
    // survivors carry their closest-bench margin)
    QueryDef("pipeline_decontaminate_semantic",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val bench = emb.where(col("vec_id") < 5)
        val corpus = emb.where(col("vec_id") >= 5)
          .unionByName(emb.where(col("vec_id") < 2)
            .select((col("vec_id") + 3000).as("vec_id"), col("embedding")))
        graft.ops.Decontaminate.cleanVectors(corpus, bench, "vec_id", "embedding")
      },
      Some(graft.ops.Decontaminate.cleanVectorsSql(
        """(SELECT vec_id, embedding FROM embeddings
          | UNION ALL
          | SELECT vec_id + 3000, embedding FROM embeddings WHERE vec_id < 2)""".stripMargin,
        benchPred = "vec_id < 5", corpusPred = "vec_id >= 5",
        "vec_id", "embedding"))),

    // skew-mitigated join: salted execution (hot keys split over `salt`
    // reducers) must produce EXACTLY the plain-join result — the oracle
    // runs the unsalted join
    QueryDef("skew_salted_join",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val dim = ev.groupBy(col("user_id"))
          .agg(min(col("event_id")).as("first_event"))
        graft.ops.Skew.saltedJoin(
            ev.select(col("event_id"), col("user_id"), col("value")),
            dim, "user_id", salt = 8)
          .groupBy(col("user_id"), col("first_event"))
          .agg(count(lit(1)).as("n"), expr(dsum("value")).as("sum_value"))
      },
      Some("""WITH dim AS (SELECT user_id, min(event_id) AS first_event FROM events GROUP BY user_id)
             |SELECT e.user_id, first_event, count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events e JOIN dim USING (user_id)
             |GROUP BY e.user_id, first_event""".stripMargin)),

    // gap-based sessionization (30-min inactivity): the keyed-state
    // operator over per-entity event lanes — gaps-and-islands windows,
    // ONE exchange + ONE sort on the user key (both window frames share
    // them); the session_window streaming twin is SessionizeSpec-pinned
    QueryDef("session_agg",
      (s, dir) => graft.ops.Sessionize.sessions(t(s, dir, "events"),
        "user_id", "ts", "event_id", "value", gapMinutes = 30),
      Some(graft.ops.Sessionize.sessionsSql("events",
        "user_id", "ts", "event_id", "value", gapMinutes = 30))),

    // int8 scalar quantization: per-vector symmetric scale + code array —
    // the 4x-compression step of a quantized ANN index. The registered
    // query serializes the code array to a CSV string: the driver's
    // comparator sorts raw columns (a top-level ARRAY breaks it — r5's
    // red-row lesson); the array-returning op stays for composition
    QueryDef("embed_quantize",
      (s, dir) => Similarity.quantizeInt8(t(s, dir, "embeddings"),
          "vec_id", "embedding")
        .select(col("vec_id"), col("scale"),
          expr("array_join(cast(qvec AS ARRAY<STRING>), ',')").as("qvec_csv")),
      Some(s"""WITH z AS (${Similarity.quantizeInt8Sql("embeddings", "vec_id", "embedding")})
             |SELECT vec_id, scale, array_to_string(qvec, ',') AS qvec_csv
             |FROM z""".stripMargin)),

    // ANN over the quantized code domain: cosine is scale-invariant, so
    // search runs directly on int8 codes (no dequantization) with the
    // same broadcast x scan x bounded-heap plan as embed_topk_cosine
    QueryDef("embed_quant_topk",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.quantizedTopK(emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
      },
      Some(Similarity.quantizedTopKSql("embeddings", "vec_id", "embedding",
        k = 5, queryPred = "vec_id < 10"))),

    // PII scrubbing: emails / URLs / long digit runs -> typed tokens,
    // with per-kind counts; RE2-safe patterns so both engines' regex
    // agree on the full scrubbed text. The testdata has no PII, so the
    // fixture deterministically augments each doc with synthetic
    // contact/url/number content (identically on both engines) — the
    // redaction path is actually exercised, not vacuously green
    QueryDef("text_scrub",
      (s, dir) => TextAnalysis.scrubPii(
        t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"), lit(" reach me at user"), col("doc_id"),
            lit("@example.com or https://ex.com/d/"), col("doc_id"),
            lit(" id 1234567890")).as("text2")),
        "doc_id", "text2"),
      Some(TextAnalysis.scrubPiiSql(
        "(SELECT doc_id, text || ' reach me at user' || doc_id || " +
          "'@example.com or https://ex.com/d/' || doc_id || " +
          "' id 1234567890' AS text2 FROM documents)",
        "doc_id", "text2"))),

    // ============ SFT / chat-data preparation (round 16) ============
    // The conversation fixture renders each doc as a JSON turn array
    // (the public SFT interchange shape): content = 6-word slices of
    // the lower-cased alphanumeric-normalized text (so JSON escaping
    // is a non-issue on either engine), body turns = 2 + doc_id % 3
    // (doc_id % 3 == 1 gives an ODD body -> the invalid-alternation
    // branch carries mass), and every 5th doc drops the system turn.
    QueryDef("chat_turn_stats",
      (s, dir) => graft.ops.Chat.chatTurnStats(
        t(s, dir, "documents").withColumn("conv", expr(chatFixtureSpark)),
        "doc_id", "conv"),
      Some(graft.ops.Chat.chatTurnStatsSql(
        s"(SELECT doc_id, $chatFixtureDuck AS conv FROM documents)",
        "doc_id", "conv"))),

    // assistant loss-mask spans: per assistant turn, the 0-based
    // end-exclusive char span its content occupies in the rendered
    // training string — what a chat fine-tune masks loss to
    QueryDef("chat_mask_spans",
      (s, dir) => graft.ops.Chat.chatAssistantSpans(
        t(s, dir, "documents").withColumn("conv", expr(chatFixtureSpark)),
        "doc_id", "conv"),
      Some(graft.ops.Chat.chatAssistantSpansSql(
        s"(SELECT doc_id, $chatFixtureDuck AS conv FROM documents)",
        "doc_id", "conv"))),

    // template render: conversation -> the single training string a
    // packing stage / tokenizer consumes, with char + token counts
    QueryDef("chat_render",
      (s, dir) => graft.ops.Chat.chatRender(
        t(s, dir, "documents").withColumn("conv", expr(chatFixtureSpark)),
        "doc_id", "conv"),
      Some(graft.ops.Chat.chatRenderSql(
        s"(SELECT doc_id, $chatFixtureDuck AS conv FROM documents)",
        "doc_id", "conv"))),

    // per-source SFT corpus report: conversation counts, the
    // valid-alternation fraction and mean turns (integer milli), and
    // per-role character masses — the report a curation run reads
    // BEFORE packing (the pack_report convention)
    QueryDef("chat_report",
      (s, dir) => graft.ops.Chat.chatReport(
        t(s, dir, "documents").withColumn("conv", expr(chatFixtureSpark)),
        "doc_id", "conv", "source"),
      Some(graft.ops.Chat.chatReportSql(
        s"(SELECT doc_id, source, $chatFixtureDuck AS conv FROM documents)",
        "doc_id", "conv", "source"))),

    // COMPOSED: rendered conversations feeding the existing sharded
    // packing stage — the proof the chat family plugs into the
    // training-sequence pipeline unchanged (render -> source join ->
    // greedy 128-token sequence assignment per (source, shard));
    // budget/shards sized so multi-sequence fill, underfull tails,
    // and boundary overflow all carry mass on ~70-token rendered
    // convs at the 500-doc gate scale (512/8 left every group under
    // one sequence — the all-tail trap the pack_report doc warns of)
    QueryDef("chat_pack",
      (s, dir) => {
        val docs = t(s, dir, "documents").withColumn("conv", expr(chatFixtureSpark))
        val rendered = graft.ops.Chat.chatRender(docs, "doc_id", "conv")
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        graft.ops.Sampling.packSequencesSharded(rendered, "doc_id",
          "rendered", "source", budget = 128, shards = 2)
      },
      Some(graft.ops.Sampling.packSequencesShardedSql(
        s"""(SELECT r.doc_id, r.rendered, s.source
           | FROM (${graft.ops.Chat.chatRenderSql(
                s"(SELECT doc_id, $chatFixtureDuck AS conv FROM documents)",
                "doc_id", "conv")}) r
           | JOIN (SELECT doc_id, source FROM documents) s USING (doc_id))""".stripMargin,
        "doc_id", "rendered", "source", budget = 128, shards = 2))),

    // TOKEN-grain loss-mask spans (round 17): per assistant turn, the
    // 0-based end-exclusive span of BPE TOKEN indices over the rendered
    // training string — the trainer-consumable form of chat_mask_spans
    // (char offsets mask characters; a trainer masks token positions)
    QueryDef("chat_mask_tokens",
      (s, dir) => graft.ops.Chat.chatMaskTokens(
        t(s, dir, "documents").withColumn("conv", expr(chatFixtureSpark)),
        "doc_id", "conv"),
      Some(graft.ops.Chat.chatMaskTokensSql(
        s"(SELECT doc_id, $chatFixtureDuck AS conv FROM documents)",
        "doc_id", "conv"))),

    // packed-sequence LOSS MASKS (round 17): the complete trainer-batch
    // composition — render -> BPE pack -> per-assistant-turn token
    // spans shifted to positions within each packed training sequence
    // (same 128/2 packing geometry as chat_pack, BPE denomination)
    QueryDef("chat_pack_masked",
      (s, dir) => graft.ops.Chat.chatPackMasked(
        t(s, dir, "documents").withColumn("conv", expr(chatFixtureSpark)),
        "doc_id", "conv", "source", budget = 128, shards = 2),
      Some(graft.ops.Chat.chatPackMaskedSql(
        s"(SELECT doc_id, source, $chatFixtureDuck AS conv FROM documents)",
        "doc_id", "conv", "source", budget = 128, shards = 2))),

    // conversation QUARANTINE (round 17): the chat domain contract
    // enforced as a split — every row classified into its first failing
    // rung (null_conv / malformed / empty / null_field / ok) over a
    // fixture with planted violations of each kind
    QueryDef("chat_quarantine",
      (s, dir) => graft.ops.Chat.chatQuarantine(
        t(s, dir, "documents").withColumn("conv",
          expr(quarantineWrapSpark(chatFixtureSpark))),
        "doc_id", "conv"),
      Some(graft.ops.Chat.chatQuarantineSql(
        s"(SELECT doc_id, ${quarantineWrapDuck(chatFixtureDuck)} AS conv FROM documents)",
        "doc_id", "conv"))),

    // the EXTENDED (tool-admitting) alternation grammar over a fixture
    // whose role sequences hit every branch: valid_ext admits
    // assistant->tool->assistant function-call turns; the strict
    // contract stays as `valid` (its tool-free fragment)
    QueryDef("chat_turn_stats_tools",
      (s, dir) => graft.ops.Chat.chatTurnStats(
        t(s, dir, "documents").withColumn("conv", expr(chatToolFixtureSpark)),
        "doc_id", "conv"),
      Some(graft.ops.Chat.chatTurnStatsSql(
        chatToolFixtureDuckRel(), "doc_id", "conv"))),

    // token-budget TRUNCATION (round 17): keep the system head + the
    // longest body-turn suffix fitting the budget. Fixture turns cost
    // ~11 tokens (5 template + ~6 content words); budget=22 keeps ~2
    // body turns — 3-4-turn bodies actually truncate, 2-turn bodies
    // pass untouched, so both outcomes carry fixture mass
    QueryDef("chat_truncate",
      (s, dir) => graft.ops.Chat.chatTruncate(
        t(s, dir, "documents").withColumn("conv", expr(chatFixtureSpark)),
        "doc_id", "conv", budget = 22),
      Some(graft.ops.Chat.chatTruncateSql(
        s"(SELECT doc_id, $chatFixtureDuck AS conv FROM documents)",
        "doc_id", "conv", budget = 22))),

    // BPE-denominated truncation (round 18): the same keep-suffix op
    // budgeted in graft_bpe_count units — the lens chat_pack_masked
    // packs in, so render -> truncate -> pack -> mask agree on what a
    // "token" is (per-turn BPE costs are additive across the render:
    // merges never cross the non-alphanumeric turn junctions). Fixture
    // turns cost ~30-40 BPE tokens; budget=80 keeps ~2 body turns, so
    // truncated and untouched bodies both carry mass
    QueryDef("chat_truncate_bpe",
      (s, dir) => graft.ops.Chat.chatTruncate(
        t(s, dir, "documents").withColumn("conv", expr(chatFixtureSpark)),
        "doc_id", "conv", budget = 80,
        cost = graft.ops.Bpe.sparkTokenCountExpr),
      Some(graft.ops.Chat.chatTruncateSql(
        s"(SELECT doc_id, $chatFixtureDuck AS conv FROM documents)",
        "doc_id", "conv", budget = 80,
        cost = graft.ops.Bpe.duckTokenCountExpr))),

    // chat near-dedup — the composition that makes conversation-level
    // dedup a one-liner: render to the training string, then the LINEAR
    // minhash keeper pass over the rendered text (same machinery as
    // dedup_minhash_keeper; near-dup docs in the corpus render to
    // near-dup conversations, which collapse to shared keepers)
    QueryDef("chat_dedup",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .withColumn("conv", expr(chatFixtureSpark))
        Dedup.minhashDedupKeepers(
          graft.ops.Chat.chatRender(docs, "doc_id", "conv")
            .select("doc_id", "rendered"),
          "doc_id", "rendered")
      },
      Some(Dedup.minhashDedupKeepersSql(
        s"""(SELECT doc_id, rendered FROM (${graft.ops.Chat.chatRenderSql(
             s"(SELECT doc_id, $chatFixtureDuck AS conv FROM documents)",
             "doc_id", "conv")}))""",
        "doc_id", "rendered"))),

    // chat decontamination — render, then the n-gram overlap guard
    // against an eval set (same machinery and doc_id split as
    // pipeline_decontaminate; the render preserves word content, so
    // bench-overlapping conversations are struck before training)
    QueryDef("chat_decontaminate",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .withColumn("conv", expr(chatFixtureSpark))
        val rendered = graft.ops.Chat.chatRender(docs, "doc_id", "conv")
          .select("doc_id", "rendered")
        graft.ops.Decontaminate.cleanDocs(
          rendered.where(col("doc_id") >= 25),
          rendered.where(col("doc_id") < 25),
          "doc_id", "rendered")
      },
      Some(graft.ops.Decontaminate.cleanDocsSql(
        s"""(SELECT doc_id, rendered FROM (${graft.ops.Chat.chatRenderSql(
             s"(SELECT doc_id, $chatFixtureDuck AS conv FROM documents)",
             "doc_id", "conv")}))""",
        benchPred = "doc_id < 25", corpusPred = "doc_id >= 25",
        "doc_id", "rendered"))),

    // ========== preference-pair (RLHF / DPO) preparation (round 17) ====

    // per-pair contract validation + margin profile over the planted
    // fixture: identical pairs (raw and normalized-only), empty
    // rejected, and honest truncated-rejected pairs all carry mass
    QueryDef("pref_pair_stats",
      (s, dir) => graft.ops.Preference.pairStats(
        prefFixtureSpark(s, dir), "doc_id", "prompt", "chosen", "rejected"),
      Some(graft.ops.Preference.pairStatsSql(
        prefFixtureDuckRel, "doc_id", "prompt", "chosen", "rejected"))),

    // exact pair dedup on the normalized triple: the synthetic fixture
    // keys content on doc_id % 97 with case/double-space variants on
    // odd docs, so each group's ~n/97 members collapse to one keeper
    // only through the normalization kernel
    QueryDef("pref_pair_dedup",
      (s, dir) => graft.ops.Preference.pairDedup(
        t(s, dir, "documents")
          .withColumn("prompt", expr("concat('prompt nr ', doc_id % 97)"))
          .withColumn("chosen", expr(
            "IF(doc_id % 2 = 0, concat('good answer nr ', doc_id % 97), " +
              "concat('Good  Answer nr ', doc_id % 97))"))
          .withColumn("rejected", expr(
            "IF(doc_id % 13 = 0, NULL, concat('bad answer nr ', doc_id % 97 % 5))")),
        "doc_id", "prompt", "chosen", "rejected"),
      Some(graft.ops.Preference.pairDedupSql(
        """(SELECT doc_id, 'prompt nr ' || (doc_id % 97) AS prompt,
          |  CASE WHEN doc_id % 2 = 0 THEN 'good answer nr ' || (doc_id % 97)
          |       ELSE 'Good  Answer nr ' || (doc_id % 97) END AS chosen,
          |  CASE WHEN doc_id % 13 = 0 THEN NULL
          |       ELSE 'bad answer nr ' || (doc_id % 97 % 5) END AS rejected
          |FROM documents)""".stripMargin,
        "doc_id", "prompt", "chosen", "rejected"))),

    // preference decontamination — drop pairs whose prompt+chosen text
    // shares any k-shingle with an eval set (the DPO-pipeline analog of
    // pipeline_decontaminate: eval prompts leaking into preference data
    // inflate reward-model scores exactly like SFT leakage); same
    // machinery, same doc_id split convention
    QueryDef("pref_decontaminate",
      (s, dir) => {
        val pairs = prefFixtureSpark(s, dir)
          .withColumn("pc", expr("concat(prompt, ' ', chosen)"))
          .select("doc_id", "pc")
        graft.ops.Decontaminate.cleanDocs(
          pairs.where(col("doc_id") >= 25), pairs.where(col("doc_id") < 25),
          "doc_id", "pc")
      },
      Some(graft.ops.Decontaminate.cleanDocsSql(
        s"(SELECT doc_id, prompt || ' ' || chosen AS pc FROM $prefFixtureDuckRel)",
        benchPred = "doc_id < 25", corpusPred = "doc_id >= 25",
        "doc_id", "pc"))),

    // incremental pair ingest — each new annotation batch anti-joined
    // against the accumulated pair corpus through the bloom-sketched
    // digest set (dedup_incremental's machinery on the triple grain):
    // re-submitted pairs (shifted ids, same content) drop, genuinely
    // new pairs flow. Near-dup DOCS share their leading word slices, so
    // their pairs are exact triple dups — also correctly dropped
    QueryDef("pref_incremental",
      (s, dir) => {
        val pairs = prefFixtureSpark(s, dir)
          .withColumn("triple", expr(
            "concat(prompt, '\u001f', chosen, '\u001f', rejected)"))
          .select("doc_id", "triple")
        val prior = pairs.where(col("doc_id") < 400)
        val resub = pairs.where(col("doc_id") < 20)
          .select((col("doc_id") + 100000).as("doc_id"), col("triple"))
        val fresh = pairs.where(col("doc_id") >= 400)
        Dedup.incrementalNew(resub.unionAll(fresh), prior, "doc_id", "triple",
          expectedPrior = 10000L)
      },
      Some {
        val p = s"(SELECT doc_id, prompt || chr(31) || chosen || chr(31) || rejected AS triple FROM $prefFixtureDuckRel)"
        Dedup.incrementalNewSql(
          s"(SELECT doc_id + 100000 AS doc_id, triple FROM $p WHERE doc_id < 20 " +
            s"UNION ALL SELECT doc_id, triple FROM $p WHERE doc_id >= 400)",
          s"(SELECT doc_id, triple FROM $p WHERE doc_id < 400)",
          "doc_id", "triple")
      }),

    // NEAR-dup pair dedup — the linear minhash keeper over the chosen
    // response (near-identical chosen answers under different prompts
    // still collapse reward-model signal; the exact triple dedup can't
    // see them). Composition over the same fixture
    QueryDef("pref_dedup_near",
      (s, dir) => Dedup.minhashDedupKeepers(
        prefFixtureSpark(s, dir).select("doc_id", "chosen"),
        "doc_id", "chosen"),
      Some(Dedup.minhashDedupKeepersSql(
        s"(SELECT doc_id, chosen FROM $prefFixtureDuckRel)",
        "doc_id", "chosen"))),

    // per-source preference-corpus report: valid fraction in milli,
    // identical counts, signed margin mass — the report-before-acting
    // stage over the same planted fixture
    QueryDef("pref_report",
      (s, dir) => graft.ops.Preference.report(
        prefFixtureSpark(s, dir), "doc_id", "prompt", "chosen", "rejected",
        "source"),
      Some(graft.ops.Preference.reportSql(
        prefFixtureDuckRel, "doc_id", "prompt", "chosen", "rejected",
        "source"))),

  ) ++ grainFamily("text_gopher_rules",
    // Gopher-style quality ruleset: per-rule 0/1 flags + conjunction.
    // minWords=50 sits at the corpus median (word counts run 10-99) so
    // both keep outcomes occur; the stop-hit rule also splits the corpus
    ws,
    // the Gopher gate on the cjk-auto word grain over the zh fixture:
    // script-dominated rows (every 3rd doc, unsegmented Han) tokenize
    // per codepoint — the whitespace grain returns n_words = 1 on them
    // and every bound silently degrades; the routed grain restores a
    // real word count, so the minWords rule does actual work on zh rows
    cjk) { g => (
      (s, dir) => TextAnalysis.gopherRules(g.fixture(t(s, dir, "documents")),
        "doc_id", "text", minWords = 50, wordGrain = g.wordGrain),
      TextAnalysis.gopherRulesSql(g.fixture.twin(),
        "doc_id", "text", minWords = 50, wordGrain = g.wordGrain))
  } ++ Seq(

    // THE END-TO-END CURATION DAG as one declarative plan: classifier
    // keep ∧ Gopher rules ∧ language ∧ exact-dedup keeper ∧ not
    // benchmark-contaminated → train/val/test assignment → per-(split,
    // source) manifest with exact token counts. Every stage reduces the
    // corpus to a compact doc_id set before joining — text crosses no
    // shuffle; Catalyst plans the five stage scans + id-set joins as one
    // job. The oracle rebuilds the same DAG from each stage's SQL twin
    QueryDef("pipeline_curation_manifest",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpus = docs.where(col("doc_id") >= 25)
        val bench = docs.where(col("doc_id") < 25)
        val cls = TextAnalysis.hashClassifierScore(corpus, "doc_id", "text", dim = 4096)
          .where(col("keep") === 1).select("doc_id")
        val gop = TextAnalysis.gopherRules(corpus, "doc_id", "text", minWords = 50)
          .where(col("keep") === 1).select("doc_id")
        val lng = TextAnalysis.langId(corpus, "doc_id", "text")
          .where(col("lang_pred") === "en").select("doc_id")
        val keeper = Dedup.exactDedup(corpus, "doc_id", "text")
          .select(col("keep_id").as("doc_id"))
        // k=5 shingles: the curation gate wants RARE true contamination
        // (k=3 over this synthetic text marks ~85% contaminated — that
        // stress shape belongs to the dedicated decontamination queries)
        val clean = graft.ops.Decontaminate.cleanDocs(corpus, bench, "doc_id", "text", k = 5)
          .select("doc_id")
        val kept = corpus.select(col("doc_id"), col("source"), col("text"))
          .join(cls, Seq("doc_id")).join(gop, Seq("doc_id"))
          .join(lng, Seq("doc_id")).join(keeper, Seq("doc_id"))
          .join(clean, Seq("doc_id"))
        graft.functions.VectorFunctions.attach(
          graft.ops.Sampling.splitAssign(kept, "doc_id", valPct = 2, testPct = 2))
          .groupBy(col("split"), col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(expr("graft_token_count(text)")).as("n_tokens"),
            sum(expr(graft.ops.PortableHash.sparkStringHash("text"))).as("text_hash_sum"))
      },
      Some(curationManifestOracle)),

    // the FUSED curation DAG: same result set as
    // pipeline_curation_manifest (same oracle), but every stage predicate
    // is computed in ONE projection over ONE corpus scan — classifier
    // logit, Gopher flags, language argmax, content digest, shingle set,
    // and token count all come out of the same pass; the dedup keeper is
    // a min-id window over the digest (no join), decontamination is an
    // inline probe of the broadcast bench set. Text is read once and
    // never leaves the scan stage; the only exchanges are the digest
    // window and the 9-group manifest agg. The composed variant reads
    // text five times — at 100 TB the scan volume IS the cost, so this
    // is the production form and the composed one is the modular
    // reference.
    // CROSSOVER (re-measured round 8, 2×3-rep medians at the 1M probe):
    // composed 11.4-12.0s vs fused 14.5-16.3s — the in-box crossover the
    // round-6 probe found (~1M docs) is GONE: after the per-stage kernel
    // optimizations of rounds 6-7, the composed DAG's five cheap scans
    // now win at every scale this 128 GB box can hold, because the whole
    // corpus sits in page cache and re-reading text is nearly free. The
    // fused form's advantage is SCAN-VOLUME-bound: it reads text once
    // where the composed form reads it five times, which decides the
    // matchup exactly when scans hit storage — the 100 TB regime this
    // box cannot reproduce. Production guidance stands: fused for
    // cold-storage-scale corpora, composed when the working set fits in
    // memory (or when stage modularity is worth 5× scan volume)
    QueryDef("pipeline_curation_manifest_fused",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpus = docs.where(col("doc_id") >= 25)
        val bench = docs.where(col("doc_id") < 25)
        val benchSet = graft.functions.VectorFunctions.attach(bench)
          .select(explode(expr(Dedup.nativeShingleHashes("text", 5))).as("h"))
          .agg(sort_array(collect_set(col("h"))).as("bench_hs"))
        val tok = "filter(split(text, ' '), w -> w <> '')"
        // ONE lineage: gopher flags (text/source carried through), then
        // language scores, then the remaining per-doc features — all
        // adjacent Projects, collapsed by Catalyst into a single scan
        val gop = TextAnalysis.gopherRules(corpus, "doc_id", "text",
          minWords = 50, carry = Seq("source", "text"))
        val lng = gop.withColumn("lang_pred",
          expr(TextAnalysis.langPredExpr("text")))
        val features = lng.select(
          col("doc_id"), col("source"),
          (col("keep") === 1).as("k_gop"),
          (col("lang_pred") === "en").as("k_lng"),
          expr(s"size($tok) > 0 AND " +
            s"round(cast(graft_classifier_logit(split(text, ' '), 4096) AS DOUBLE) / " +
            s"(size($tok) * 1000.0), 6) >= 0.0").as("k_cls"),
          expr("graft_token_count(text)").as("n_tokens"),
          expr(graft.ops.PortableHash.sparkStringHash("text")).as("text_hash"),
          md5(col("text")).as("digest"),
          expr(s"sort_array(${Dedup.nativeShingleHashes("text", 5)})").as("doc_hs"))
        import org.apache.spark.sql.expressions.Window
        val kept = features
          .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy(col("digest"))))
          .crossJoin(broadcast(benchSet))
          .where(col("k_cls") && col("k_gop") && col("k_lng") &&
            col("doc_id") === col("keep_id") &&
            expr("graft_intersect_count(doc_hs, bench_hs) = 0"))
        graft.ops.Sampling.splitAssign(kept, "doc_id", valPct = 2, testPct = 2)
          .groupBy(col("split"), col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
            sum(col("text_hash")).as("text_hash_sum"))
      },
      // IDENTICAL semantics to pipeline_curation_manifest — the composed
      // variant's oracle is this one's oracle too (full hash check)
      Some(curationManifestOracle)),

    // model-based quality filtering (the fastText stage) with TRAINED
    // weights: in-engine logistic regression over the bounded hashed
    // feature space, learned from the planted labeled fixture and
    // committed as an integer milli-unit table (QualityClassifier) the
    // oracle replays — the r8 "trained weights are a drop-in" caveat
    // closed by actually dropping them in
    QueryDef("text_quality_classifier",
      (s, dir) => TextAnalysis.trainedClassifierScore(
        t(s, dir, "documents"), "doc_id", "text"),
      Some(TextAnalysis.trainedClassifierScoreSql(
        "documents", "doc_id", "text"))),

    // the placeholder-formula variant stays registered: it is the
    // structural twin the fused/composed curation DAG embeds (k_cls) and
    // keeps the arbitrary-dim plumbing (4096 buckets vs the trained
    // table's 256) under the oracle
    QueryDef("text_quality_classifier_hash",
      (s, dir) => TextAnalysis.hashClassifierScore(
        t(s, dir, "documents"), "doc_id", "text", dim = 4096),
      Some(TextAnalysis.hashClassifierScoreSql(
        "documents", "doc_id", "text", dim = 4096))),

  ) ++ grainFamily("text_unigram_score",
    // unigram corpus-frequency scoring — the LM-quality-filter shape in
    // exact integer arithmetic (no per-token log: libm last-ulp drift
    // would break cross-engine hash equality). Reference side = the
    // first 100 docs, scored side = the rest
    ws,
    // unigram LM-filter scoring on the cjk-auto grain: vocabulary AND
    // scored tokens both ride the routed grain, so the unsegmented
    // reference rows contribute a real codepoint unigram table instead
    // of whole-document "tokens" with count 1
    cjk,
    // the unigram LM-filter rung on the cjk-dict WORD grain (round
    // 15): unigram frequency over characters measures CHARACTER
    // frequency; over FMM words it measures the word frequency the
    // CCNet-style quality filter actually wants on zh. Reference
    // vocabulary and scored tokens both ride graft_term_tf's dict
    // mode; the oracle scans the id-carrying FMM recursion once and
    // filters it into the ref/scored halves
    cjkDict,
    // the unigram LM-filter rung on the thai-dict grain (round 15):
    // unigram frequency over Thai CODEPOINTS measures consonant/vowel
    // frequency (combining marks rank as "tokens"); over FMM words it
    // measures word frequency — the quality signal the grain exists
    // for, on the script where the codepoint IR is worst
    thaiDict)(lmRung(_, TextAnalysis.unigramScore, TextAnalysis.unigramScoreSql)) ++
  grainFamily("text_bigram_score",
    // one order up the LM-filter ladder: bigram coverage sees WORD ORDER
    // (scrambled text scores low even when its unigrams are common) —
    // same ref/scored split, same exact-integer arithmetic
    ws,
    // the second LM-ladder rung on the routed grain: bigrams of
    // CODEPOINT tokens on script-dominated rows — the character-n-gram
    // LM the CJK literature uses (word n-grams don't exist without
    // segmentation); on the ws grain every unsegmented doc is one
    // token and has NO bigrams at all, so the rung is silently blind
    // to exactly the rows it should be scoring
    cjk,
    // the bigram rung on the cjk-dict WORD grain (round 16): codepoint
    // bigrams measure character adjacency; FMM-word bigrams carry the
    // word-order signal the rung exists for on zh (人工智能 is ONE
    // bigram of two lexicon words, not three character pairs). The
    // kernel routes graft_gram_tf to the FMM walk; the oracle grams
    // adjacent positions of the recursive token-LIST relation
    cjkDict)(lmRung(_, TextAnalysis.bigramScore, TextAnalysis.bigramScoreSql)) ++
  grainFamily("text_trigram_score",
    // the third LM-ladder rung: trigram coverage sees two-step word
    // order (locally-plausible glued text scores low even when its
    // bigrams are common); same exact-integer discipline and
    // broadcast-top-V scale shape as the unigram/bigram rungs
    ws,
    // the trigram rung on the thai-dict grain (round 16): Thai
    // codepoint trigrams are sub-syllable fragments (combining marks
    // count as "tokens"); FMM-word trigrams see real three-word order
    // — the rung's signal on the script whose codepoint IR is worst.
    // Completes the dict-grain scoring ladder (unigram r15, bigram/
    // trigram r16) on the second lexicon off one registry entry
    thaiDict)(lmRung(_, TextAnalysis.trigramScore, TextAnalysis.trigramScoreSql)) ++ Seq(

    // the ladder's TOP: stupid backoff (Brants et al. 2007) folds all
    // three rungs into one score — per trigram position take the
    // highest reference-seen order, backing off tri → bi → uni with a
    // fixed 0.4 penalty per step. Per-level hit counts make the backoff
    // distribution itself visible; same ref/scored split, exact-integer
    // aggregation, one fixed-shape double expression at the end
    QueryDef("text_backoff_score",
      (s, dir) => {
        // planted all-OOV doc: the corpus vocabulary fits inside top-500,
        // so without it the final backoff level (contribute 0) never
        // fires on either engine
        val docs = t(s, dir, "documents")
        val planted = s.range(1).select(lit(999999L).as("doc_id"),
          lit("zzqx zzqy zzqz zzqw").as("text"))
        TextAnalysis.backoffScoreFast(
          docs.where(col("doc_id") >= 100).select("doc_id", "text")
            .unionByName(planted),
          docs.where(col("doc_id") < 100),
          "doc_id", "text", vocab = 500)
      },
      Some(TextAnalysis.backoffScoreSql(
        "(SELECT doc_id, text FROM documents UNION ALL SELECT 999999, 'zzqx zzqy zzqz zzqw')",
        docsPred = "doc_id >= 100", refPred = "doc_id < 100",
        "doc_id", "text", vocab = 500))),

  ) ++ grainFamily("text_bm25_topk",
    // BM25 keyword retrieval — the LEXICAL search leg next to the
    // embedding-ANN family, in integer fixed-point (log-free Robertson
    // idf; no libm, no double sums — the unigram-score discipline).
    // 'dup' is the corpus's one genuinely rare term (df ≈ 5% of docs),
    // so the idf weighting is exercised against the ~77%-df common
    // words: a short doc dense in 'dup' must outrank a long doc padded
    // with 'spark'/'vector'
    ws -> Seq("dup", "vector", "spark"),
    // BM25 retrieval on the cjk-auto grain over the zh fixture:
    // single-codepoint Han query terms (的=translated 'a', 中='r') only
    // match at all because the routed grain tokenizes unsegmented rows
    // per codepoint — on the whitespace grain every zh doc is one giant
    // token, tf = 0 corpus-wide, and the result set is empty
    cjk -> Seq("的", "中", "是"),
    // BM25 on the cjk-dict FMM grain (r14, third consumer): MULTI-
    // codepoint query terms (我们/人工智能/图书馆) match as single
    // tokens — on the codepoint grain tf(人工智能) = 0 corpus-wide
    // (no single codepoint equals a 4-codepoint string), so dict
    // segmentation is what makes zh retrieval by real words possible.
    // Oracle: per_doc comes from the id-carrying FMM recursion,
    // LEFT-JOINed back to the table so token-less docs keep dl=0 rows
    cjkDict -> Seq("我们", "人工智能", "图书馆"),
    // BM25 retrieval on the thai-dict grain (round 15): the query
    // terms are multi-codepoint LEXICON WORDS (ประเทศไทย = 9
    // codepoints) that the planted phrase carries — on the codepoint
    // grain tf(ประเทศไทย) = 0 corpus-wide, so like zh, dictionary
    // segmentation is what makes Thai retrieval by real words
    // possible; completes the same vocab/TF-IDF/BM25 consumer trio
    // the cjk-dict grain proved, off one registry entry
    thaiDict -> Seq("ประเทศไทย", "ภาษาไทย", "อาหาร")) { (g, terms) => (
      (s, dir) => TextAnalysis.bm25TopK(g.fixture(t(s, dir, "documents")),
        "doc_id", "text", terms = terms, k = 25, wordGrain = g.wordGrain),
      TextAnalysis.bm25TopKSql(g.fixture.twin(),
        "doc_id", "text", terms = terms, k = 25, wordGrain = g.wordGrain))
  } ++ grainFamily("text_tfidf_keywords",
    // Per-doc top-3 TF-IDF keywords: the tagging primitive next to
    // BM25's retrieval leg (which docs match -> which terms
    // characterize). Exact-integer surrogate score tf * (1e6*N div df)
    // -- no libm log in the hash gate; one scan to leased tf rows, df
    // by second keyed agg, term-keyed join + per-doc window (all keyed
    // exchanges, df joined never broadcast)
    ws,
    // TF-IDF keywording on the cjk-auto grain over the zh fixture:
    // on the ws grain an unsegmented zh doc is ONE term with tf=1 —
    // the tf signal vanishes exactly where keywords are wanted; the
    // routed grain restores per-codepoint terms on routed rows while
    // the untranslated 2/3 of the corpus keeps its ws keywords
    cjk,
    // keywords on the cjk-dict FMM grain (r14): a zh keyword list
    // should say 我们/人工智能, not single codepoints — the second
    // consumer proving cjk-dict is a grain, not a one-query trick. The
    // oracle's terms relation comes from the id-carrying FMM recursion
    // (DictGrain.duckTokenRows Some(id)); the length-capped translate fixture
    // keeps the cursor recursion an oracle-side triviality
    cjkDict,
    // thai-dict on the per-doc TF-IDF consumer (round 15): the grain
    // registry's generality proof on the DEEPEST committed ladder —
    // the id-carrying recursive twin runs the maxLen-9 FMM cursor
    // (8 probe rungs/position vs zh's 3) and keywords come back as
    // multi-codepoint Thai WORDS; the codepoint grain would emit
    // letter soup (Thai combining vowels rank as "keywords")
    thaiDict) { g => (
      (s, dir) => TextAnalysis.tfidfKeywords(g.fixture(t(s, dir, "documents")),
        "doc_id", "text", k = 3, wordGrain = g.wordGrain),
      TextAnalysis.tfidfKeywordsSql(g.fixture.twin(), "doc_id", "text", k = 3, wordGrain = g.wordGrain))
  } ++ Seq(

    // One-pass corpus profile per (lang, source): doc counts, exact-dup
    // counts (distinct digests), compiled-kernel token totals, chars,
    // integer mean tokens -- the report that sizes every downstream
    // stage of a new crawl; one scan, one keyed partial agg
    QueryDef("pipeline_corpus_profile",
      (s, dir) => TextAnalysis.corpusProfile(t(s, dir, "documents"),
        "lang", "source", "text", "n_chars"),
      Some(TextAnalysis.corpusProfileSql("documents",
        "lang", "source", "text", "n_chars"))),

    // markup stripping: the crawl->text extraction stage (drop tags,
    // unescape the five predefined entities with &amp; LAST so
    // &amp;lt; single-unescapes per the HTML spec, collapse spaces) +
    // tag/entity density counts; the corpus is markup-free so the
    // fixture plants tags, nested entities, and attributes
    QueryDef("text_strip_markup",
      (s, dir) => TextAnalysis.stripMarkup(
        markupFixture(t(s, dir, "documents")), "doc_id", "text"),
      Some(TextAnalysis.stripMarkupSql(markupFixture.twin(), "doc_id", "text"))),

    // per-source Gopher-gate profile: pass rate + mean words per
    // source in one scan (gopherRules' carry hook keeps source in the
    // same projection) + one keyed agg -- the report that shows WHERE
    // a filter's mass loss lands before committing to it
    QueryDef("pipeline_quality_report",
      (s, dir) => TextAnalysis.qualityReport(t(s, dir, "documents"),
        "doc_id", "text", "source"),
      Some(TextAnalysis.qualityReportSql("documents",
        "doc_id", "text", "source"))),

    // the quality-vote gate: four independent signal families
    // (classifier sign, Gopher conjunction, repetition, BPE fertility)
    // as 0/1 flags, kept at 3-of-4 — each family's blind spot is
    // covered by the others; plan-wise ONE compiled corpus scan
    QueryDef("pipeline_quality_ensemble",
      (s, dir) => TextAnalysis.qualityEnsemble(
        t(s, dir, "documents"), "doc_id", "text"),
      Some(TextAnalysis.qualityEnsembleSql("documents", "doc_id", "text"))),

    // inter-class centroid separation: pairwise cosine over the
    // label-centroid frame (labels x dim metadata; broadcast pair
    // join) -- the embedding-quality eval run before trusting
    // embedding-based dedup/filtering on a new encoder
    QueryDef("embed_centroid_separation",
      (s, dir) => graft.ops.Eval.centroidSeparation(
        t(s, dir, "embeddings"), "label", "embedding"),
      Some(graft.ops.Eval.centroidSeparationSql("embeddings",
        "label", "embedding"))),

    // centroid drift (round 20): ref/cur split by vec_id parity with
    // a planted +0.5 first-dimension shift on the current side (real
    // drift, cos < 1) and label 2 REMOVED from the current side (the
    // vanished class: counts visible, cosine NULL)
    QueryDef("embed_centroid_drift",
      (s, dir) => graft.ops.Eval.centroidDrift(
        t(s, dir, "embeddings")
          .withColumn("side", expr("IF(vec_id % 2 = 0, 'ref', 'cur')"))
          .where(expr("NOT (vec_id % 2 = 1 AND label = 2)"))
          .withColumn("vec", expr(
            "transform(embedding, (x, i) -> cast(x AS DOUBLE) + " +
              "IF(i = 0 AND vec_id % 2 = 1, cast(0.5 AS DOUBLE), " +
              "cast(0 AS DOUBLE)))")),
        "side", "ref", "label", "vec"),
      Some(graft.ops.Eval.centroidDriftSql(
        """(SELECT CASE WHEN vec_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS side,
          |  label,
          |  list_transform(generate_series(1, len(embedding)),
          |    i -> embedding[i]::DOUBLE + (CASE WHEN i = 1 AND vec_id % 2 = 1
          |         THEN 0.5 ELSE 0 END)) AS vec
          |FROM embeddings
          |WHERE NOT (vec_id % 2 = 1 AND label = 2))""".stripMargin,
        "side", "ref", "label", "vec"))),

    // the INGEST chain composed end to end: crawl markup -> stripped
    // text -> canonical normalization -> language/quality/dedup gate,
    // as ONE declarative plan (every stage is a projection until the
    // filter's digest window -- one corpus scan + one keyed exchange;
    // PlanAuditSpec pins the single scan). The fixture plants markup
    // the way text_strip_markup does; the oracle replays the identical
    // three-stage chain as nested derived tables
    QueryDef("pipeline_ingest",
      (s, dir) => {
        val docs = crawlPageFixture(t(s, dir, "documents"))
        val clean = TextAnalysis.stripMarkup(docs, "doc_id", "text")
          .select(col("doc_id"), col("clean_text").as("text"))
        val norm = TextAnalysis.normalize(clean, "doc_id", "text")
          .select(col("doc_id"), col("norm_text").as("text"))
        TextAnalysis.corpusFilter(norm, "doc_id", "text")
      },
      Some(TextAnalysis.corpusFilterSql(
        "(SELECT doc_id, norm_text AS text FROM (" +
          TextAnalysis.normalizeSql(
            "(SELECT doc_id, clean_text AS text FROM (" +
              TextAnalysis.stripMarkupSql(crawlPageFixture.twin(), "doc_id", "text") + "))",
            "doc_id", "text") + "))",
        "doc_id", "text"))),

    // deterministic round-robin source interleave: the training-order
    // op -- rank within source by portable hash, global position by
    // pure arithmetic rank*S + source_index (NO global sort); the
    // within-source rank is two-pass sharded (local (source, shard)
    // ranks + broadcast prefix offsets) so few-source corpora never
    // funnel a whole source through one reducer
    QueryDef("pipeline_interleave",
      (s, dir) => graft.ops.Sampling.interleave(
        t(s, dir, "documents"), "doc_id", "source"),
      Some(graft.ops.Sampling.interleaveSql("documents", "doc_id", "source"))),

    // Unicode-script profile: the character-class language signal next
    // to the marker-word langid (mixed-script and code-switched docs
    // show here first). The ASCII corpus gets planted multilingual
    // tails: a CJK run sized past the doc's own latin mass (dominance
    // must flip), a Cyrillic tail, an Arabic+digit tail; dominance
    // tie-breaks in fixed declaration order via CASE on both engines
    QueryDef("text_scripts",
      (s, dir) => TextAnalysis.scriptProfile(
        scriptTailFixture(t(s, dir, "documents")), "doc_id", "text"),
      Some(TextAnalysis.scriptProfileSql(scriptTailFixture.twin(), "doc_id", "text"))),

    // Sentence segmentation: boundary-aware chunk units (terminal
    // punctuation + whitespace, punctuation kept with its sentence) --
    // the corpus text is punctuation-free word soup, so the fixture
    // plants a multi-sentence tail exercising ., !, ?, and runs of
    // spaces; zero shuffle, one projection + posexplode
    QueryDef("text_sentences",
      (s, dir) => TextAnalysis.sentences(
        sentenceTailFixture(t(s, dir, "documents")), "doc_id", "text"),
      Some(TextAnalysis.sentencesSql(sentenceTailFixture.twin(), "doc_id", "text"))),

    // CJK sentence segmentation (r14): full-width terminators 。！？…
    // break WITHOUT trailing whitespace (zh/ja put none), closing
    // quotes ride with their sentence, terminator runs are one
    // boundary. Fixture: every third doc han-translates INCLUDING its
    // punctuation (.!? → 。！？) with all spaces stripped — under the
    // ASCII-only rule those rows were ONE sentence — plus a literal
    // quoted-boundary + ellipsis tail; the other rows keep the ASCII
    // tail so both classes run in one corpus
    QueryDef("text_sentences_cjk",
      (s, dir) => TextAnalysis.sentences(
        zhSentenceFixture(t(s, dir, "documents")), "doc_id", "text"),
      Some(TextAnalysis.sentencesSql(zhSentenceFixture.twin(), "doc_id", "text"))),

  ) ++ grainFamily("text_chunk_sentences",
    // sentence-ALIGNED chunking (r14): sentences pack into fixed
    // token-budget bins (chunk = before div size, the prefix-sum
    // discipline) instead of fixed windows cutting mid-sentence — the
    // RAG chunk shape. One doc-keyed window + keyed agg; text never
    // crosses a non-doc-keyed exchange. Both members plant their own
    // sentence tails in place of the grain fixtures
    ws.copy(fixture = sentenceTailFixture) -> 24,
    // the zh leg: r14's full-width sentence boundaries + the routed
    // token budget together — the first chunker that is end-to-end
    // right on unsegmented text (real sentence units, real budgets);
    // under the ASCII-only boundary every zh doc was ONE sentence and
    // sentence-chunking degenerated to one chunk per doc
    cjk.copy(fixture = zhSentenceFixture) -> 16) { (g, size) => (
      (s, dir) => TextAnalysis.chunkBySentences(g.fixture(t(s, dir, "documents")),
        "doc_id", "text", size = size, grain = g.wordGrain),
      TextAnalysis.chunkBySentencesSql(g.fixture.twin(), "doc_id", "text", size = size,
        grain = g.wordGrain))
  } ++ Seq(

    // Canonical normalization (NFC + ascii-lower + whitespace collapse):
    // the planted suffix carries a DECOMPOSED e+U+0301 (must compose),
    // an uppercase run, a tab, and double spaces — any engine that
    // skips a stage diverges from the oracle. ASCII-only case mapping
    // by documented contract (full folding is implementation-variant)
    QueryDef("text_normalize",
      (s, dir) => TextAnalysis.normalize(
        normalizeTailFixture(t(s, dir, "documents")), "doc_id", "text"),
      Some(TextAnalysis.normalizeSql(normalizeTailFixture.twin(), "doc_id", "text"))),

    // late-interaction MaxSim retrieval (ColBERT scoring shape): each
    // query term independently finds its best CHUNK, docs win by
    // covering all terms somewhere -- the third retrieval paradigm
    // next to BM25 (lexical) and ANN (single-vector dense); integer
    // dots, driver-side literal term embeddings (portable-hash parity
    // spec-pinned), two keyed partial aggs + TakeOrdered
    QueryDef("pipeline_maxsim_search",
      (s, dir) => TextAnalysis.maxSimTopK(t(s, dir, "documents"),
        "doc_id", "text", terms = Seq("vector", "spark", "dedup"), k = 10),
      Some(TextAnalysis.maxSimTopKSql("documents", "doc_id", "text",
        terms = Seq("vector", "spark", "dedup"), k = 10))),

    // Hybrid retrieval: BM25 lexical pool + signed-hash-embedding dot
    // pool fused by integer reciprocal-rank fusion — the two-tower
    // search stack as one operator. Docs strong in either leg surface;
    // a doc ranked by both legs outranks single-leg docs at equal depth
    QueryDef("pipeline_hybrid_search",
      (s, dir) => TextAnalysis.hybridTopK(t(s, dir, "documents"),
        "doc_id", "text", terms = Seq("dup", "vector", "spark"), k = 25),
      Some(TextAnalysis.hybridTopKSql("documents",
        "doc_id", "text", terms = Seq("dup", "vector", "spark"), k = 25))),

    // Duplicated-line removal: the fixture appends one boilerplate line
    // to EVERY doc (corpus frequency = N docs, far over maxFreq=10) and
    // one per-doc unique footer, so both the strike and keep paths are
    // exercised and reassembly order is checked by the oracle hash
    QueryDef("dedup_lines",
      (s, dir) => Dedup.dedupLines(
        t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"), lit("\nsubscribe to our newsletter\nfooter "),
            col("doc_id")).as("text2")),
        "doc_id", "text2", maxFreq = 10),
      Some(Dedup.dedupLinesSql(
        "(SELECT doc_id, text || chr(10) || 'subscribe to our newsletter' || " +
          "chr(10) || 'footer ' || doc_id AS text2 FROM documents)",
        "doc_id", "text2", maxFreq = 10))),

    // duplicated-SENTENCE removal (r14): dedup_lines at the sentence
    // grain, exercising BOTH boundary classes in one corpus — the
    // translated third carries a planted zh boilerplate sentence
    // (。-terminated, no whitespace anywhere), the rest an ASCII
    // newsletter call; each repeats corpus-wide >> maxFreq and must be
    // struck from every doc while the organic sentences survive
    // WITHIN-doc duplicate-line removal: the row-local CCNet pre-step
    // (zero exchanges) — the fixture repeats each doc's first line at
    // its end, so every doc exercises the strike path while interior
    // unique lines survive in order
    QueryDef("dedup_lines_doc",
      (s, dir) => Dedup.dedupLinesWithinDoc(
        t(s, dir, "documents").select(col("doc_id"),
          concat_ws("\n", split(col("text"), " "),
            expr("split(text, ' ')[0]")).as("text2")),
        "doc_id", "text2"),
      Some(Dedup.dedupLinesWithinDocSql(
        "(SELECT doc_id, array_to_string(string_split(text, ' ') || " +
          "[string_split(text, ' ')[1]], chr(10)) AS text2 FROM documents)",
        "doc_id", "text2"))),

    QueryDef("dedup_sentences",
      (s, dir) => Dedup.dedupSentences(
        newsletterFixture(t(s, dir, "documents")), "doc_id", "text", maxFreq = 10),
      Some(Dedup.dedupSentencesSql(newsletterFixture.twin(), "doc_id", "text", maxFreq = 10))),

    // exact substring-SPAN dedup (the ExactSubstr batch shape): stride-1
    // word 5-grams duplicated corpus-wide are struck at every covered
    // position. The fixture appends a 9-word boilerplate run (5 fully-
    // interior duplicated grams whose union covers all 9 words) plus a per-doc
    // unique footer word — straddling grams carry the unique id, so the
    // footer survives and both strike/keep paths are exercised at every
    // alignment (no span-boundary assumption, unlike line dedup)
    QueryDef("dedup_spans",
      (s, dir) => Dedup.dedupSpans(
        t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            lit(" subscribe to our newsletter for more content every day "),
            col("doc_id")).as("text2")),
        "doc_id", "text2", spanLen = 5, maxFreq = 10),
      Some(Dedup.dedupSpansSql(
        "(SELECT doc_id, text || ' subscribe to our newsletter for more " +
          "content every day ' || doc_id AS text2 FROM documents)",
        "doc_id", "text2", spanLen = 5, maxFreq = 10))),

    // span dedup on the cjk-dict WORD grain (round 16 — dedupSpans was
    // hard-wired split-on-space, so zh spans shingled at whatever
    // whitespace existed, i.e. barely): the fixture's planted lexicon
    // phrase repeats in every 3rd doc, so its interior word 5-grams
    // are duplicated corpus-wide and struck at word positions; the
    // doc-specific translated prefix survives. clean_text is the
    // space-rejoined surviving token sequence (normalized form)
    QueryDef("dedup_spans_cjkdict",
      (s, dir) => Dedup.dedupSpans(zhDictFixture(t(s, dir, "documents")),
        "doc_id", "text", spanLen = 5, maxFreq = 10, wordGrain = WordGrain.CjkDict),
      Some(Dedup.dedupSpansSql(zhDictFixture.twin(),
        "doc_id", "text", spanLen = 5, maxFreq = 10, wordGrain = WordGrain.CjkDict))),

    // incremental snapshot dedup: the new crawl keeps only documents whose
    // content digest is absent from the accumulated prior corpus. The
    // fixture PLANTS 20 re-crawled copies (id-shifted, text identical) on
    // both engines so the drop branch is non-vacuous — no natural exact
    // dup straddles the id split in this testdata
    QueryDef("dedup_incremental",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val prior = docs.where(col("doc_id") < 400).select("doc_id", "text")
        val recrawl = docs.where(col("doc_id") < 20)
          .select((col("doc_id") + 100000).as("doc_id"), col("text"))
        val fresh = docs.where(col("doc_id") >= 400).select("doc_id", "text")
        Dedup.incrementalNew(recrawl.unionAll(fresh), prior, "doc_id", "text",
          expectedPrior = 10000L)
      },
      Some(Dedup.incrementalNewSql(
        "(SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 20 " +
          "UNION ALL SELECT doc_id, text FROM documents WHERE doc_id >= 400)",
        "(SELECT doc_id, text FROM documents WHERE doc_id < 400)",
        "doc_id", "text"))),

    // the NEAR-dup form of the daily-crawl check: the prior corpus's LSH
    // band-bucket table persists first-touch (the index state an
    // accumulating pipeline keeps — 3 longs per band per doc, no text)
    // and each new-crawl doc joins against it instead of re-banding the
    // union. Planted suffix-varied re-crawls (+300000) exercise the drop
    // branch — exact-digest incremental dedup cannot see them
    QueryDef("dedup_incremental_near",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val prior = docs.where(col("doc_id") >= 50).select("doc_id", "text")
        val path = idxPath("bandtab", dir)
        graft.ops.PqIndex.ensure(s, path,
          idxSig(s, dir, "bandtab,b=4,r=4,k=3,g=ws,prior>=50", table = "documents")) {
          Dedup.bandTable(prior, "doc_id", "text").write
            .mode("overwrite").parquet(s"$path/bands")
        }
        val priorBands = CorpusIO.readParquet(s, s"$path/bands")
        val recrawl = docs.where(col("doc_id") >= 50 && col("doc_id") < 53)
          .select((col("doc_id") + 300000).as("doc_id"),
            concat(col("text"), lit(" appended crawl tail")).as("text"))
        val newSnap = docs.where(col("doc_id") < 50).select("doc_id", "text")
          .unionByName(recrawl)
        Dedup.incrementalNearDup(newSnap, priorBands, "doc_id", "text")
      },
      Some(Dedup.incrementalNearDupSql(
        "(SELECT doc_id, text FROM documents " +
          "UNION ALL SELECT doc_id + 300000, text || ' appended crawl tail' " +
          "FROM documents WHERE doc_id >= 50 AND doc_id < 53)",
        newPred = "doc_id < 50 OR doc_id >= 300000",
        priorPred = "doc_id >= 50 AND doc_id < 300000",
        "doc_id", "text"))),

    // AS-OF join (point-in-time state lookup): each view event gets the
    // latest prior-or-equal purchase per user. Spark lacks native ASOF;
    // the op is the merge formulation — union + ONE keyed exchange + ONE
    // sort + running last(), zero range-join blowup. The oracle is
    // DuckDB's native ASOF LEFT JOIN over the same pre-deduped right side
    QueryDef("asof_enrich",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val views = ev.where(col("event_type") === "view")
          .select(col("event_id"), col("user_id"), col("ts"))
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        graft.ops.AsOf.asOfJoin(views, purchases, "user_id", "ts",
            "event_id", Seq("value" -> "last_purchase"))
          .select(col("event_id"), col("user_id"),
            unix_millis(col("ts")).as("ts_ms"), col("last_purchase"),
            unix_millis(col("asof_ts")).as("asof_ms"))
      },
      Some("""WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
             |r AS (SELECT user_id, ts, arg_max(value, event_id) AS last_purchase
             |      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
             |SELECT l.event_id, l.user_id, epoch_ms(l.ts) AS ts_ms,
             |  r.last_purchase, epoch_ms(r.ts) AS asof_ms
             |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin)),

    // attribution-window join WITHOUT an equi key: views landing inside
    // the 5-minute window after ANY purchase. The theta form is
    // Θ(|views|·|purchases|) (Spark plans a nested loop); the op buckets
    // both sides by a time grain and joins on the bucket (IntervalJoin)
    QueryDef("join_interval_attribution",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val views = ev.where(col("event_type") === "view")
          .select(col("event_id").as("view_id"), unix_millis(col("ts")).as("ms"))
        val windows = ev.where(col("event_type") === "purchase")
          .select(col("event_id").as("iv_id"), unix_millis(col("ts")).as("s_ms"),
            (unix_millis(col("ts")) + 300000L).as("e_ms"))
        graft.ops.IntervalJoin.pointInInterval(views, windows,
            "ms", "s_ms", "e_ms", grainMs = 300000L)
          .groupBy(col("iv_id"))
          .agg(count(lit(1)).as("n_views"), min(col("ms")).as("first_ms"))
      },
      Some("""WITH w AS (SELECT event_id AS iv_id, epoch_ms(ts) AS s_ms,
             |             epoch_ms(ts) + 300000 AS e_ms
             |           FROM events WHERE event_type = 'purchase'),
             |v AS (SELECT event_id AS view_id, epoch_ms(ts) AS ms
             |      FROM events WHERE event_type = 'view')
             |SELECT w.iv_id, count(*) AS n_views,
             |  CAST(min(v.ms) AS BIGINT) AS first_ms
             |FROM w JOIN v ON v.ms >= w.s_ms AND v.ms <= w.e_ms
             |GROUP BY w.iv_id""".stripMargin)),

  ) ++ grainFamily("pipeline_decontaminate",
    // benchmark decontamination: corpus docs sharing any 3-shingle with
    // the (small, broadcast) benchmark set are dropped — one corpus scan,
    // compiled shingle hashes + two-pointer probe of one broadcast array,
    // zero corpus shuffle and no (doc, shingle) explode
    ws,
    // the guard on the routed grain over the zh fixture: an
    // unsegmented BENCHMARK (a zh eval set) has no ws 3-shingles at
    // all, so the ws guard vacuously passes every contaminated doc;
    // routed codepoint shingles restore the overlap signal — the
    // fixture's translate is deterministic, so zh bench items overlap
    // zh corpus docs exactly where their english sources did
    cjk,
    // the guard on the cjk-dict FMM WORD grain (round 15): cjk-auto's
    // k=3 CODEPOINT shingles are a weak overlap witness on zh — three
    // consecutive Han chars recur incidentally across unrelated docs,
    // so the codepoint guard over-strikes; word shingles make the
    // witness k WORDS (the ws-grain semantics zh was denied), keeping
    // incidental char-trigram quoters while verbatim k-word eval
    // leakage (the planted lexicon phrase shared by bench and corpus
    // %3 rows) still kills. Oracle: predicates reference doc_id only,
    // so the fmm-token-list derived table (WordGrain.duckSource) carries
    // them unchanged
    cjkDict,
    // decontamination on the thai-dict grain (round 16 — the last
    // dict-grain consumer family that had only the zh leg): witness
    // shingles are FMM Thai WORDS, so the planted lexicon phrase
    // shared by bench and corpus rows kills as verbatim k-word
    // leakage while incidental codepoint-trigram recurrence survives.
    // Same duckSource-routed oracle as the cjkdict leg
    thaiDict) { g => (
      (s, dir) => {
        val docs = g.fixture(t(s, dir, "documents"))
        graft.ops.Decontaminate.cleanDocs(
          docs.where(col("doc_id") >= 25), docs.where(col("doc_id") < 25),
          "doc_id", "text", wordGrain = g.wordGrain)
      },
      graft.ops.Decontaminate.cleanDocsSql(g.fixture.twin(),
        benchPred = "doc_id < 25", corpusPred = "doc_id >= 25",
        "doc_id", "text", wordGrain = g.wordGrain))
  } ++ Seq(

    // bloom-prefiltered decontamination: identical output to
    // pipeline_decontaminate (same oracle), but the corpus-side check is a
    // codegen'd short-circuit sketch probe — the scale path once the
    // benchmark shingle set outgrows the broadcast sorted array
    QueryDef("pipeline_decontaminate_bloom",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.ops.Decontaminate.cleanDocsBloom(
          docs.where(col("doc_id") >= 25), docs.where(col("doc_id") < 25),
          "doc_id", "text")
      },
      Some(graft.ops.Decontaminate.cleanDocsSql("documents",
        benchPred = "doc_id < 25", corpusPred = "doc_id >= 25",
        "doc_id", "text"))),

    // the FRACTIONAL contamination knob: drop only when >= 5% of a doc's
    // distinct shingles hit the benchmark set (any-overlap kills verbatim
    // leakage; the fraction spares docs quoting one common phrase). At
    // k=3 the corpus median fraction is ~0.05, so both branches carry
    // real mass
    QueryDef("pipeline_decontaminate_frac",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.ops.Decontaminate.cleanDocsFractional(
          docs.where(col("doc_id") >= 25), docs.where(col("doc_id") < 25),
          "doc_id", "text", k = 3, maxContamination = 0.05)
      },
      Some(graft.ops.Decontaminate.cleanDocsFractionalSql("documents",
        benchPred = "doc_id < 25", corpusPred = "doc_id >= 25",
        "doc_id", "text", k = 3, maxContamination = 0.05))),

    // temperature (alpha=0.5) source rebalancing: keep-rate
    // sqrt(n_min/n_s) per source via portable-hash membership — sqrt and
    // floor are exact on both engines, so the sample is bit-deterministic.
    // The testdata's sources are uniform (rate would be 1.0 everywhere =
    // a vacuous filter), so the fixture derives a deterministically
    // SKEWED grouping (5:3:2) to make the oracle exercise real rates
    // percentile-BAND filter: keep docs inside the per-language
    // [p10, p90] length band — adaptive winsorized selection; exact
    // preagg percentiles, band table broadcasts, filter is shuffle-free
    QueryDef("pipeline_quality_band",
      (s, dir) => graft.ops.Sampling.qualityBand(t(s, dir, "documents"),
        "doc_id", "lang", "n_chars"),
      Some(graft.ops.Sampling.qualityBandSql("documents",
        "doc_id", "lang", "n_chars", tieCol = "doc_id"))),

  ) ++ grainFamily("pipeline_dsir",
    // DSIR-style data selection (hashed unigram+bigram importance
    // weights, exact-integer surrogate of the log-ratio — see
    // ops/Dsir.scala): target = English docs, keep the 50 raw docs most
    // target-like. Two corpus scans: B-row bucket table (broadcast),
    // then doc-grain scoring; selection is a TakeOrdered
    ws -> "lang = 'en'",
    // DSIR on the routed grain over the zh fixture, targeting the
    // UNSEGMENTED rows: on the ws grain each zh doc contributes one
    // whole-document unigram and no bigrams — the target/raw
    // distributions carry ~no reusable signal on exactly the rows the
    // predicate selects for; routed grams are codepoint unigrams +
    // bigrams, so target-like (Han-dense) docs genuinely outscore
    cjk -> "doc_id % 3 = 0") { (g, target) => (
      (s, dir) => graft.ops.Dsir.selectFast(g.fixture(t(s, dir, "documents")),
        "doc_id", "text", expr(target), n = 50, wordGrain = g.wordGrain),
      graft.ops.Dsir.selectSql(g.fixture.twin(), "doc_id", "text", target, n = 50,
        wordGrain = g.wordGrain))
  } ++ Seq(

    // SOFT dedup: down-weight near-dup clusters to unit total mass
    // instead of dropping members (duplicate-aware reweighting) —
    // weight = 1/|component| over the minhash near-dup components,
    // singletons (and un-shingleable short docs) keep weight 1
    QueryDef("pipeline_soft_dedup",
      (s, dir) => graft.ops.Dedup.softDedupWeights(
        t(s, dir, "documents"), "doc_id", "text"),
      Some(graft.ops.Dedup.softDedupWeightsSql("documents", "doc_id", "text"))),

    QueryDef("pipeline_temperature",
      (s, dir) => graft.ops.Sampling.temperatureSample(
        t(s, dir, "documents").withColumn("src_grp",
          expr("CASE WHEN doc_id % 10 < 5 THEN 'heavy' " +
            "WHEN doc_id % 10 < 8 THEN 'mid' ELSE 'light' END")),
        "doc_id", "src_grp"),
      Some(graft.ops.Sampling.temperatureSampleSql(
        "(SELECT *, CASE WHEN doc_id % 10 < 5 THEN 'heavy' " +
          "WHEN doc_id % 10 < 8 THEN 'mid' ELSE 'light' END AS src_grp " +
          "FROM documents)",
        "doc_id", "src_grp"))),

    // per-source best-k selection by quality score: bounded-heap
    // graft_topk per stratum (exchange carries strata x k x partitions
    // rows; the oracle's window formulation sorts the corpus)
    QueryDef("pipeline_select_topk",
      (s, dir) => graft.ops.Sampling.selectTopKPerStratum(
        graft.functions.VectorFunctions.attach(t(s, dir, "documents"))
          .select(col("doc_id"), col("source"),
            expr(TextAnalysis.stopwordRatioExpr("text")).as("score")),
        "doc_id", "source", "score", k = 10),
      Some(s"""WITH s AS (SELECT doc_id, source,
             |  ${TextAnalysis.duckStopwordRatioExpr("text")} AS score FROM documents)
             |SELECT source, doc_id, score, rank FROM (
             |  SELECT source, doc_id, score,
             |    row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS rank
             |  FROM s)
             |WHERE rank <= 10""".stripMargin)),

    // the packed-binary quantized corpus: codes as signed-byte BINARY
    // (the layout that realizes the 4x compression at rest) — the oracle
    // checks the exact two's-complement byte layout via hex
    QueryDef("embed_quantize_packed",
      (s, dir) => Similarity.quantizePacked(t(s, dir, "embeddings"),
          "vec_id", "embedding")
        .select(col("vec_id"), col("scale"),
          hex(col("qcodes")).as("codes_hex")),
      Some(Similarity.quantizePackedHexSql("embeddings", "vec_id", "embedding"))),

    // ANN over the PACKED code domain: compiled graft_cosine_i8 scans
    // 1-byte codes straight from the binary; bit-equal to the int-list
    // form the oracle runs
    QueryDef("embed_quant_topk_packed",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.quantizedTopKPacked(emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
      },
      Some(Similarity.quantizedTopKSql("embeddings", "vec_id", "embedding",
        k = 5, queryPred = "vec_id < 10"))),

    // binary (1-bit-per-dim) quantized ANN: hamming prefilter over
    // BIGINT sign sketches shortlists `rerank` candidates per query,
    // exact compiled-cosine rerank decides top-k — the 32x at-rest
    // compression rung below int8, two corpus scans (sketch + fetch),
    // shortlist-only float access
    QueryDef("embed_binary_topk",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.binaryTopK(emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, rerank = 20)
      },
      Some(Similarity.binaryTopKSql("embeddings", "vec_id", "embedding",
        k = 5, queryPred = "vec_id < 10", rerank = 20))),

    // COMPOSED curation: per-language length-band filter (adaptive
    // winsorized gate) feeding DSIR target-likeness selection — the
    // two-stage "drop the tails, then keep the most target-like N"
    // pipeline as one registered query. The DSIR bucket table trains on
    // the band SURVIVORS (the distribution that actually ships); both
    // stages keep their own scale shapes (broadcast bands + broadcast
    // literal weight table, selection via TakeOrdered)
    QueryDef("pipeline_curated_select",
      (s, dir) => graft.ops.Dsir.selectFast(
        graft.ops.Sampling.qualityBandAll(t(s, dir, "documents"),
          "lang", "n_chars"),
        "doc_id", "text", col("lang") === "en", n = 30),
      Some(graft.ops.Dsir.selectSql(
        graft.ops.Sampling.qualityBandAllSql("documents",
          "lang", "n_chars", tieCol = "doc_id"),
        "doc_id", "text", "lang = 'en'", n = 30))),

    // margin-based bitext mining (LASER parallel-corpus construction):
    // per source-partition doc, the argmax-margin target-partition doc
    // where margin = sim / mean of both sides' avg-top-k neighborhoods
    // — integer-micros arithmetic, broadcast side tables, bounded heaps
    QueryDef("embed_bitext_mine",
      (s, dir) => Similarity.bitextMine(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label", srcLabel = 0, tgtLabel = 1),
      Some(Similarity.bitextMineSql("embeddings", "vec_id", "embedding",
        "label", srcLabel = 0, tgtLabel = 1))),

    // the SCALE form of bitext mining: candidates from the binary
    // hamming prefilter (per src doc, `rerank` nearest tgt sketches)
    // instead of the cross product — exact-cosine work drops to
    // |src|*rerank; margin tail identical
    QueryDef("embed_bitext_shortlist",
      (s, dir) => Similarity.bitextMineShortlist(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label", srcLabel = 0, tgtLabel = 1,
        rerank = 15),
      Some(Similarity.bitextMineShortlistSql("embeddings", "vec_id",
        "embedding", "label", srcLabel = 0, tgtLabel = 1, rerank = 15))),

    // hard-negative mining for contrastive training: per query vector,
    // top-k most-similar corpus vectors with a DIFFERENT label
    // (similar-but-wrong — the negatives that teach); label inequality
    // rides the broadcast join condition, bounded-heap top-k
    QueryDef("embed_hard_negatives",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.hardNegatives(emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", "label", k = 5)
      },
      Some(Similarity.hardNegativesSql("embeddings", "vec_id", "embedding",
        "label", k = 5, queryPred = "vec_id < 10"))),

  ) ++ grainFamily("text_vocab",
    // vocabulary builder: top-V words with cumulative coverage share
    // (the "how big a vocab covers 95% of tokens" curve) — one scan,
    // keyed partial-agg counts, TakeOrdered top-V, cumsum over V rows
    ws,
    // the vocabulary on the routed grain over the zh fixture: a ws
    // "vocabulary" of an unsegmented corpus is a table of whole
    // DOCUMENTS (each zh doc one token, cnt 1) — useless as a vocab
    // and it crowds the top-V; routed tokens give codepoint entries
    // with real counts alongside the latin words
    cjk,
    // the cjk-dict FMM grain (r14): dictionary segmentation over the
    // committed ZhLexicon — planted multi-char zh words (我们/中国/
    // 图书馆/人工智能…) come back WHOLE in the vocabulary where the
    // codepoint grain shredded them to characters; undictionaried han
    // falls back to codepoints and non-routed rows keep ws. The oracle
    // replays FMM with a recursive CTE + bounded CASE ladder (the
    // routed text is length-capped so the cursor recursion stays an
    // oracle-side triviality)
    cjkDict,
    // vocabulary on the thai-dict FMM grain (round 15): Thai is the
    // unsegmented script where the codepoint fallback is WORST as an
    // IR (combining vowels/tone marks are separate codepoints — words
    // average 3-5), so the planted multi-codepoint ThLexicon words
    // must come back WHOLE (ประเทศไทย as one 9-codepoint token); the
    // consonant-soup translate rows exercise the codepoint fallback
    thaiDict) { g => (
      (s, dir) => TextAnalysis.vocabulary(g.fixture(t(s, dir, "documents")),
        "text", topV = 100, wordGrain = g.wordGrain),
      TextAnalysis.vocabularySql(g.fixture.twin(), "text", topV = 100, wordGrain = g.wordGrain))
  } ++ Seq(

    // the PERSISTED binary index: (v_id, sk, vec) parquet written first
    // touch — the columnar layout IS the index (prefilter reads only
    // the 16-byte (v_id, sk) columns; rerank re-reads the same frame
    // pruned to the shortlist's vectors). Steady-state search, zero
    // sketch computation in the query path; results pinned equal to
    // the in-memory operator
    QueryDef("embed_binary_persisted",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val path = idxPath("binsk", dir)
        graft.ops.PqIndex.ensure(s, path, idxSig(s, dir, "binsk,bits=63")) {
          graft.ops.PqIndex.writeBinary(emb, "vec_id", "embedding", path)
        }
        graft.ops.PqIndex.searchBinaryTopK(s, path,
          emb.where(col("vec_id") < 10).select("vec_id", "embedding"),
          k = 5, rerank = 20)
      },
      Some(Similarity.binaryTopKSql("embeddings", "vec_id", "embedding",
        k = 5, queryPred = "vec_id < 10", rerank = 20))),

    // the recall gate for the binary family (gate symmetry: every index
    // family ships with its driver-checked quality metric) — recall@5
    // of the 1-bit prefilter at rerank=20 vs exact brute force
    QueryDef("embed_binary_recall",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        graft.ops.Eval.binaryRecallAtK(emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, rerank = 20)
      },
      Some(graft.ops.Eval.binaryRecallAtKSql("embeddings", "vec_id", "embedding",
        k = 5, queryPred = "vec_id < 10", rerank = 20))),

    // Matryoshka-style PREFIX-DIM retrieval (MRL: nested representations
    // usable at truncated dimensionality): exact top-k over the first 16
    // of 64 dims — cosine renormalizes over the prefix, so this is the
    // 4x-cheaper scan a tiered retrieval system runs first
    QueryDef("embed_matryoshka_topk",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("slice(embedding, 1, 16)").as("embedding"))
        Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
      },
      Some(Similarity.bruteForceTopKSql(
        "(SELECT vec_id, embedding[1:16] AS embedding FROM embeddings)",
        "vec_id", "embedding", k = 5, queryPred = "vec_id < 10"))),

    // how much ranking survives the 16-dim truncation: recall@5 of the
    // prefix-dim top-k against the full-dim exact top-k (the tiering
    // decision number — prefix recall vs 4x scan cost)
    QueryDef("embed_matryoshka_recall",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val trunc = emb.select(col("vec_id"),
          expr("slice(embedding, 1, 16)").as("embedding"))
        graft.ops.Eval.recallOf(
          Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10),
            "vec_id", "embedding", k = 5),
          Similarity.bruteForceTopK(trunc, trunc.where(col("vec_id") < 10),
            "vec_id", "embedding", k = 5), k = 5)
      },
      Some(s"""WITH exact AS (
              |  SELECT q_id, c_id FROM (
              |${Similarity.bruteForceTopKSql("embeddings", "vec_id", "embedding", k = 5, queryPred = "vec_id < 10")}) t),
              |approx AS (
              |  SELECT q_id, c_id FROM (
              |${Similarity.bruteForceTopKSql("(SELECT vec_id, embedding[1:16] AS embedding FROM embeddings)", "vec_id", "embedding", k = 5, queryPred = "vec_id < 10")}) t)
              |SELECT e.q_id,
              |  CAST(sum(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
              |  round(sum(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / 5, 6) AS recall
              |FROM exact e LEFT JOIN approx a ON e.q_id = a.q_id AND e.c_id = a.c_id
              |GROUP BY e.q_id""".stripMargin)),

    // Gopher-style repetition quality signals: dup-word fraction from the
    // scan projection; top-bigram fraction via explode -> partial-agg
    // (never a per-doc in-memory frequency map)
    QueryDef("text_repetition",
      (s, dir) => TextAnalysis.repetitionSignals(
        t(s, dir, "documents"), "doc_id", "text"),
      Some(TextAnalysis.repetitionSignalsSql("documents", "doc_id", "text"))),

    // the zero-shuffle scale path for the same signals: compiled
    // single-pass top-ngram count in the scan projection (per-row-bounded
    // memory); same oracle — the two formulations must agree exactly
    QueryDef("text_repetition_local",
      (s, dir) => TextAnalysis.repetitionSignalsLocal(
        t(s, dir, "documents"), "doc_id", "text"),
      Some(TextAnalysis.repetitionSignalsSql("documents", "doc_id", "text"))),

    // repetition scoring on the routed grain over the zh fixture: the
    // ws grain EXCLUDES unsegmented docs entirely (one giant token
    // fails the >= 2-word gate), so looped/template zh spam is never
    // scored; routed tokens restore dup-word and top-bigram fractions
    // on those rows — the zh fixture's translated repetition structure
    // mirrors its english source's
    QueryDef("text_repetition_cjk",
      (s, dir) => TextAnalysis.repetitionSignalsLocal(zhFixture(t(s, dir, "documents")),
        "doc_id", "text", wordGrain = WordGrain.CjkAuto),
      Some(TextAnalysis.repetitionSignalsSql(zhFixture.twin(),
        "doc_id", "text", wordGrain = WordGrain.CjkAuto))),

    // the FULL Gopher repetition suite at document grain: duplicate
    // line/paragraph fractions + top-3/4-gram fractions — the longer-
    // range template/loop signals the word-grain pair can't see; pure
    // row-local map, compiled n-gram maxima (its OWN oracle,
    // repetitionSignalsDocSql — unlike the pair above, which share one)
    QueryDef("text_repetition_doc",
      (s, dir) => TextAnalysis.repetitionSignalsDoc(
        t(s, dir, "documents"), "doc_id", "text"),
      Some(TextAnalysis.repetitionSignalsDocSql("documents", "doc_id", "text"))),

    // funnel progression (signup -> view -> click -> purchase): chained
    // whole-partition window minimums — ONE exchange and ONE key-sort on
    // the user key, the groupBy reuses the window's partitioning
    QueryDef("event_funnel",
      (s, dir) => graft.ops.Events.funnel(t(s, dir, "events"),
        "user_id", "ts", "event_type",
        Seq("signup", "view", "click", "purchase")),
      Some(graft.ops.Events.funnelSql("events",
        "user_id", "ts", "event_type",
        Seq("signup", "view", "click", "purchase")))),

    // cohort retention on integer epoch-weeks: distinct (user, week)
    // drops the event mass first; count(*) IS the distinct-user count
    QueryDef("event_retention",
      (s, dir) => graft.ops.Events.retention(t(s, dir, "events"),
        "user_id", "ts"),
      Some(graft.ops.Events.retentionSql("events", "user_id", "ts"))),

    // recall@k of the multi-probe LSH index vs exact brute force on the
    // same query set — the ANN quality gate, computed engine-side over
    // <= queries x k rows after the two bounded-heap top-k ops
    QueryDef("embed_ann_recall",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        graft.ops.Eval.annRecallAtK(emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nprobe = 2)
      },
      Some(graft.ops.Eval.annRecallAtKSql("embeddings", "vec_id", "embedding",
        k = 5, queryPred = "vec_id < 10", nprobe = 2))),

    // the same recall gate for the learned-centroid index family: IVF
    // (k-means, multi-probe) vs exact brute force — both registered ANN
    // shapes now have a driver-checked quality metric. The approximate
    // side searches the FIRST-TOUCH PERSISTED IVF-flat index (build runs
    // once per (data, params); searchIvfFlatTopK ≡ ivfTopKKmeans is
    // spec-pinned), so the timed gate pays search + the by-definition
    // exact side — never a k-means rebuild. The oracle recomputes the
    // in-memory formulation, which the persisted search must equal
    QueryDef("embed_ivf_recall",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val path = idxPath("ivfflat", dir)
        graft.ops.PqIndex.ensure(s, path, idxSig(s, dir, "ivfflat,nCentroids=8,iters=2")) {
          graft.ops.PqIndex.writeIvfFlat(emb, "vec_id", "embedding", path,
            nCentroids = 8, iters = 2)
        }
        val queries = emb.where(col("vec_id") < 10).select("vec_id", "embedding")
        graft.ops.Eval.recallOf(
          Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5),
          graft.ops.PqIndex.searchIvfFlatTopK(s, path, queries, k = 5, nprobe = 2),
          k = 5)
      },
      Some(graft.ops.Eval.ivfRecallAtKSql("embeddings", "vec_id", "embedding",
        k = 5, queryPredId = "vec_id < 10", queryPredVid = "v_id < 10",
        nCentroids = 8, iters = 2, nprobe = 2))),

    // ...and the PQ family's gate: what the (m, kSub) budget keeps. The
    // production tuning loop raises m/kSub until this clears the bar.
    // Approximate side = the SAME first-touch-persisted flat index
    // embed_pq_topk searches (shared path + signature): the gate times
    // ADC search + the by-definition exact side, never codebook training
    QueryDef("embed_pq_recall",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val path = idxPath("pqflat", dir)
        graft.ops.PqIndex.ensure(s, path, idxSig(s, dir, "dim=64,m=4,kSub=8,iters=2")) {
          graft.ops.PqIndex.writeFlat(emb, "vec_id", "embedding", path,
            dim = 64, m = 4, kSub = 8, iters = 2)
        }
        val queries = emb.where(col("vec_id") < 10).select("vec_id", "embedding")
        graft.ops.Eval.recallOf(
          Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5),
          graft.ops.PqIndex.searchFlatTopK(s, path, queries,
            k = 5, dim = 64, m = 4, kSub = 8),
          k = 5)
      },
      Some(graft.ops.Eval.pqRecallAtKSql("embeddings", "vec_id", "embedding",
        k = 5, queryPredId = "vec_id < 10", queryPredVid = "v_id < 10",
        dim = 64, m = 4, kSub = 8, iters = 2))),

    // index persistence round-trip AND the family's BUILD-labeled bench
    // leg: build + write runs unconditionally every rep (codes
    // PARTITIONED BY coarse cluster), then search from the FILES — the
    // probe list becomes a directory-pruning predicate, so a search
    // reads only its clusters' bytes. The _topk queries above time the
    // search half alone over their first-touch-persisted indexes; this
    // row prices the build. Same oracle as the in-memory operator
    QueryDef("embed_ivfpq_persisted",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val path = idxPath("pqidx", dir)
        graft.ops.PqIndex.write(emb, "vec_id", "embedding", path,
          dim = 64, m = 4, kSub = 8, iters = 2, nCoarse = 8, coarseIters = 2)
        graft.ops.PqIndex.searchTopK(s, path,
          emb.where(col("vec_id") < 10).select("vec_id", "embedding"),
          k = 5, dim = 64, m = 4, kSub = 8, nprobe = 2)
      },
      Some(Pq.ivfPqTopKSql("embeddings", "vec_id", "embedding", k = 5,
        dim = 64, m = 4, kSub = 8, iters = 2,
        nCoarse = 8, coarseIters = 2, nprobe = 2, queryPred = "v_id < 10"))),

    // the combined gate: routing loss x code loss priced as one number.
    // Approximate side = the SAME first-touch-persisted index
    // embed_ivfpq_topk searches (shared path + signature), so the gate
    // times search + exact brute force, never the build
    QueryDef("embed_ivfpq_recall",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val path = idxPath("pqivf", dir)
        graft.ops.PqIndex.ensure(s, path, idxSig(s, dir, "dim=64,m=4,kSub=8,iters=2,nCoarse=8,coarseIters=2")) {
          graft.ops.PqIndex.write(emb, "vec_id", "embedding", path,
            dim = 64, m = 4, kSub = 8, iters = 2, nCoarse = 8, coarseIters = 2)
        }
        val queries = emb.where(col("vec_id") < 10).select("vec_id", "embedding")
        graft.ops.Eval.recallOf(
          Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5),
          graft.ops.PqIndex.searchTopK(s, path, queries,
            k = 5, dim = 64, m = 4, kSub = 8, nprobe = 2),
          k = 5)
      },
      Some(graft.ops.Eval.ivfPqRecallAtKSql("embeddings", "vec_id", "embedding",
        k = 5, queryPredId = "vec_id < 10", queryPredVid = "v_id < 10",
        dim = 64, m = 4, kSub = 8, iters = 2,
        nCoarse = 8, coarseIters = 2, nprobe = 2))),

    // the RESIDUAL IVFADC gate at the same code budget: codes quantize
    // x − coarse_centroid, so the codebooks only cover within-cluster
    // variation. On CLUSTERED data this meets or beats
    // embed_ivfpq_recall at identical (m, kSub, nprobe) — PqSpec pins
    // that ordering on a planted 4-cluster fixture; here, over the
    // synthetic (structureless) embeddings at the deliberately tiny test
    // budget, both gates sit at the noise floor and the row's job is
    // cross-engine value parity, not the ordering
    // Approximate side = the SAME first-touch-persisted residual index
    // embed_ivfpq_residual_persisted searches (shared path + signature):
    // this gate's r8 driver reading (22.06s vs the builder's 6.82s on
    // one commit) was pure build-attribution noise from rebuilding the
    // index inside the timer — searching the at-rest index removes the
    // rebuild from the measurement entirely
    QueryDef("embed_ivfpq_residual_recall",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val path = idxPath("pqivfres", dir)
        graft.ops.PqIndex.ensure(s, path, idxSig(s, dir, "residual,dim=64,m=4,kSub=8,iters=2,nCoarse=8,coarseIters=2")) {
          graft.ops.PqIndex.writeResidual(emb, "vec_id", "embedding", path,
            dim = 64, m = 4, kSub = 8, iters = 2, nCoarse = 8, coarseIters = 2)
        }
        val queries = emb.where(col("vec_id") < 10).select("vec_id", "embedding")
        graft.ops.Eval.recallOf(
          Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5),
          graft.ops.PqIndex.searchResidualTopK(s, path, queries,
            k = 5, dim = 64, m = 4, kSub = 8, nprobe = 2),
          k = 5)
      },
      Some(graft.ops.Eval.ivfPqResidualRecallAtKSql("embeddings", "vec_id", "embedding",
        k = 5, queryPredId = "vec_id < 10", queryPredVid = "v_id < 10",
        dim = 64, m = 4, kSub = 8, iters = 2,
        nCoarse = 8, coarseIters = 2, nprobe = 2))),

    // the residual production pairing AT REST: first-touch-persisted
    // residual IVFADC index (coarse + residual codebooks + cluster-
    // partitioned codes), searched with directory pruning — the
    // steady-state leg of the residual family, same oracle as the
    // in-memory operator
    QueryDef("embed_ivfpq_residual_persisted",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val path = idxPath("pqivfres", dir)
        graft.ops.PqIndex.ensure(s, path, idxSig(s, dir, "residual,dim=64,m=4,kSub=8,iters=2,nCoarse=8,coarseIters=2")) {
          graft.ops.PqIndex.writeResidual(emb, "vec_id", "embedding", path,
            dim = 64, m = 4, kSub = 8, iters = 2, nCoarse = 8, coarseIters = 2)
        }
        graft.ops.PqIndex.searchResidualTopK(s, path,
          emb.where(col("vec_id") < 10).select("vec_id", "embedding"),
          k = 5, dim = 64, m = 4, kSub = 8, nprobe = 2)
      },
      Some(Pq.ivfPqResidualTopKSql("embeddings", "vec_id", "embedding", k = 5,
        dim = 64, m = 4, kSub = 8, iters = 2,
        nCoarse = 8, coarseIters = 2, nprobe = 2, queryPred = "v_id < 10"))),

    // INCREMENTAL index maintenance — the daily-crawl shape: the index
    // is built on the first half of the corpus (coarse + codebooks
    // trained there), the second half is APPENDED with those parameters
    // frozen (no retrain, cluster-partitioned append), and the search
    // must equal the from-scratch encode of the union — which is what
    // the oracle computes (train on half-1, encode all, search).
    // PqIndexSpec pins append-vs-rebuild equality at the codes level
    QueryDef("embed_ivfpq_incremental",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val path = idxPath("pqinc", dir)
        graft.ops.PqIndex.ensure(s, path,
          idxSig(s, dir, "residual-incr,dim=64,m=4,kSub=8,iters=2,nCoarse=8,coarseIters=2,split=250")) {
          graft.ops.PqIndex.writeResidual(emb.where(col("vec_id") < 250),
            "vec_id", "embedding", path,
            dim = 64, m = 4, kSub = 8, iters = 2, nCoarse = 8, coarseIters = 2)
          graft.ops.PqIndex.appendResidual(s, path,
            emb.where(col("vec_id") >= 250), "vec_id", "embedding")
        }
        graft.ops.PqIndex.searchResidualTopK(s, path,
          emb.where(col("vec_id") < 10).select("vec_id", "embedding"),
          k = 5, dim = 64, m = 4, kSub = 8, nprobe = 2)
      },
      Some(Pq.ivfPqResidualIncrementalSql("embeddings", "vec_id", "embedding",
        k = 5, dim = 64, m = 4, kSub = 8, iters = 2,
        nCoarse = 8, coarseIters = 2, nprobe = 2,
        trainPred = "vec_id < 250", queryPred = "v_id < 10"))),

    // THE END-TO-END EMBEDDING PIPELINE as one registered query — what a
    // RAG/curation user actually runs: chunk -> hash-embed (one corpus
    // scan, zero shuffle; PlanAuditSpec pins the single documents scan)
    // -> encode into the first-touch-persisted RESIDUAL index -> ANN
    // probe with directory pruning. The oracle replays the identical
    // chain: the chunk+embed derived table slots into the residual
    // index twin's table parameter
    QueryDef("pipeline_embed_index",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val chunks = TextAnalysis.hashEmbedChunks(docs, "doc_id", "text",
          size = 32, stride = 24, dim = 16)
        val path = idxPath("embpipe", dir)
        graft.ops.PqIndex.ensure(s, path,
          idxSig(s, dir, "embpipe,dim=16,m=4,kSub=8,iters=2,nCoarse=8,coarseIters=2,size=32,stride=24",
            table = "documents")) {
          graft.ops.PqIndex.writeResidual(chunks, "v_id", "vec", path,
            dim = 16, m = 4, kSub = 8, iters = 2, nCoarse = 8, coarseIters = 2)
        }
        // query side: filter on doc_id BEFORE chunking (pushes to the
        // parquet scan — v_id < 200000 ⟺ doc_id < 2 since chunk_idx
        // stays far below 100000) and LEASE the tiny frame: the search
        // references the query vectors several times (probes, norms,
        // LUTs), and an uncached computed-column frame would re-derive
        // the chunk+embed subtree per reference
        val queries = TextAnalysis.hashEmbedChunks(
            docs.where(col("doc_id") < 2), "doc_id", "text",
            size = 32, stride = 24, dim = 16)
          .transform(graft.ops.Caches.lease(_))
        graft.ops.PqIndex.searchResidualTopK(s, path, queries, k = 5,
          dim = 16, m = 4, kSub = 8, nprobe = 2)
      },
      Some(Pq.ivfPqResidualTopKSql(
        TextAnalysis.hashEmbedChunksSql("documents", "doc_id", "text",
          size = 32, stride = 24, dim = 16),
        "v_id", "vec", k = 5, dim = 16, m = 4, kSub = 8, iters = 2,
        nCoarse = 8, coarseIters = 2, nprobe = 2, queryPred = "v_id < 200000"))),

    // per-label centroid + class size: decimal-exact per-dimension means,
    // exchange carries labels x dims cells — never the vectors. Registered
    // with the centroid serialized to fixed-scale decimal CSV (no raw
    // array column reaches the driver comparator; DECIMAL(18,6) gives an
    // engine-independent string for the already-rounded doubles)
    QueryDef("embed_label_centroids",
      (s, dir) => graft.ops.Eval.labelCentroids(t(s, dir, "embeddings"),
          "label", "embedding")
        .select(col("label"), col("n_vectors"),
          expr("array_join(transform(centroid, " +
            "x -> cast(cast(x AS DECIMAL(18,6)) AS STRING)), ',')")
            .as("centroid_csv")),
      Some(s"""WITH z AS (${graft.ops.Eval.labelCentroidsSql("embeddings", "label", "embedding")})
             |SELECT label, n_vectors,
             |  array_to_string(list_transform(centroid,
             |    x -> CAST(CAST(x AS DECIMAL(18,6)) AS VARCHAR)), ',') AS centroid_csv
             |FROM z""".stripMargin)),

    // exact PERCENTILE_DISC per event type: rank selection (no sketch,
    // no interpolation) — one keyed exchange + one sort shared by both
    // windows and the final partial-agg groupBy
    QueryDef("event_percentiles",
      (s, dir) => graft.ops.Stats.percentilesDisc(t(s, dir, "events"),
        "event_type", "value", "event_id", Seq(0.5, 0.9, 0.99)),
      Some(graft.ops.Stats.percentilesDiscSql("events",
        "event_type", "value", "event_id", Seq(0.5, 0.9, 0.99)))),

    // the scale formulation of the same percentiles: sort DISTINCT
    // (group, value) counts, not rows — same oracle, the two forms must
    // agree exactly (PERCENTILE_DISC via cumulative-count rank)
    QueryDef("event_percentiles_preagg",
      (s, dir) => graft.ops.Stats.percentilesDiscPreagg(t(s, dir, "events"),
        "event_type", "value", Seq(0.5, 0.9, 0.99)),
      Some(graft.ops.Stats.percentilesDiscSql("events",
        "event_type", "value", "event_id", Seq(0.5, 0.9, 0.99)))),

    // fixed-width value histogram with edge-clamped bins: one scan, the
    // exchange carries <= nBins rows per map task
    QueryDef("event_histogram",
      (s, dir) => graft.ops.Stats.histogram(t(s, dir, "events"),
        "value", lo = 0.0, hi = 500.0, nBins = 20),
      Some(graft.ops.Stats.histogramSql("events",
        "value", lo = 0.0, hi = 500.0, nBins = 20))),

    // distribution drift (round 20): the reference/current binned
    // comparison — the current side carries a planted +20 shift so
    // shares genuinely move, every 23rd value is NULL (the -1 bin),
    // and the total-variation distance is the consumer's
    // sum(abs_delta) div 2 over these exact integers
    QueryDef("stats_dist_drift",
      (s, dir) => graft.ops.Stats.distDrift(
        t(s, dir, "events")
          .withColumn("side", expr("IF(user_id % 2 = 0, 'ref', 'cur')"))
          .withColumn("v", expr(
            "IF(event_id % 23 = 0, cast(NULL AS DOUBLE), " +
              "value + IF(user_id % 2 = 0, cast(0 AS DOUBLE), cast(20 AS DOUBLE)))")),
        "side", "v", refValue = "ref", lo = 0.0, hi = 100.0, nBins = 10),
      Some(graft.ops.Stats.distDriftSql(
        """(SELECT CASE WHEN user_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS side,
          |  CASE WHEN event_id % 23 = 0 THEN NULL
          |       ELSE value + (CASE WHEN user_id % 2 = 0 THEN 0 ELSE 20 END)
          |  END AS v
          |FROM events)""".stripMargin,
        "side", "v", refValue = "ref", lo = 0.0, hi = 100.0, nBins = 10))),

    // 3-sigma anomalies per event type from decimal-exact moments: one
    // moments pass (one row per group) broadcast back onto the scan
    QueryDef("event_zscore",
      (s, dir) => graft.ops.Stats.zscoreOutliers(t(s, dir, "events"),
          "event_type", "value", threshold = 3.0)
        .select(col("event_id"), col("event_type"), col("value"), col("z")),
      Some(s"""WITH m AS (
             |${graft.ops.Stats.zscoreMomentsCte("events", "event_type", "value")})
             |SELECT event_id, event_type, value,
             |  round((value - mean) / sd, 6) AS z
             |FROM events JOIN m USING (event_type)
             |WHERE abs(round((value - mean) / sd, 6)) >= 3.0""".stripMargin)),

    // HyperLogLog register sketch over event ids — the sketch-MERGEABLE
    // distinct-count family (the whole sketch is groupBy(register).max,
    // a distributive partial agg: every partition collapses to <= 64
    // rows before the exchange, and two sketches union by element-wise
    // max). The REGISTERS are deterministic integers (portable md5 hash,
    // bin()-exact bit lengths) — the approximation lives only in the
    // estimator, which the spec exercises; the oracle pins the sketch
    QueryDef("stats_hll_sketch",
      (s, dir) => graft.ops.Stats.hllRegisters(t(s, dir, "events"),
        "cast(event_id AS STRING)"),
      Some(graft.ops.Stats.hllRegistersSql("events", "event_id::VARCHAR"))),

    // per-key HLL: distinct users per event_type as ONE keyed partial
    // agg (exchange carries <= keys x 64 rows); per-key sketches merge
    // across days by element-wise max exactly like the global sketch
    QueryDef("stats_hll_by_key",
      (s, dir) => graft.ops.Stats.hllRegistersByKey(t(s, dir, "events"),
        "event_type", "cast(user_id AS STRING)"),
      Some(graft.ops.Stats.hllRegistersByKeySql("events",
        "event_type", "user_id::VARCHAR"))),

    // count-min sketch: the mergeable FREQUENCY sketch next to HLL's
    // distinct-count one — 4x256 exact-integer counters over the
    // portable hash (deterministic cross-engine), one
    // groupBy(row,col).count partial agg, sketches merge by element-wise
    // sum; point estimates and heavy-hitter candidates are spec-side
    // arithmetic over the 1024 collected counters
    QueryDef("stats_cms_sketch",
      (s, dir) => graft.ops.Stats.cmsCounters(t(s, dir, "events"),
        "event_type"),
      Some(graft.ops.Stats.cmsCountersSql("events", "event_type"))),

    // serve the sketch: score a small batch (user_id < 50 slice played
    // as "today's arrivals") against the CORPUS count-min counters with
    // no corpus rescan -- probe keys derive per value, counters
    // broadcast, min-over-rows estimate >= true corpus frequency
    QueryDef("stats_cms_probe",
      (s, dir) => {
        val events = t(s, dir, "events")
        graft.ops.Stats.cmsProbe(
          graft.ops.Stats.cmsCounters(events, "event_type"),
          events.where(col("user_id") < 50), "event_type")
      },
      Some(graft.ops.Stats.cmsProbeSql("events",
        "(SELECT * FROM events WHERE user_id < 50)", "event_type"))),

    // the HLL accuracy gate: exact count(distinct) next to the raw
    // sketch estimate, one row PER PRECISION (p=6 and p=10 — the error
    // band gated at two register counts; dyadic sum held as exact
    // integer sum(2^((62-p)-rho)) -- no float sum ordering; single
    // correctly-rounded IEEE quotient at the end). Cardinality fixture
    // user_id x event_type clears the linear-counting regime at the
    // driver's sf0.01 gate for p=6
    QueryDef("stats_hll_accuracy",
      (s, dir) => {
        val v = "concat(cast(user_id AS STRING), '-', event_type)"
        graft.ops.Stats.hllAccuracy(t(s, dir, "events"), v, p = 6)
          .unionAll(graft.ops.Stats.hllAccuracy(t(s, dir, "events"), v, p = 10))
      },
      Some {
        val v = "(user_id::VARCHAR || '-' || event_type)"
        s"""(${graft.ops.Stats.hllAccuracySql("events", v, p = 6)})
           |UNION ALL
           |(${graft.ops.Stats.hllAccuracySql("events", v, p = 10)})""".stripMargin
      }),

    // heavy hitters with the sketch's accuracy in-row: exact top-10 by
    // count (TakeOrdered) + CMS estimate + overcount — the frequency
    // sketch's recall-gate analog. The testdata's own columns are
    // near-uniform (event_type has ~5 values; user_id is flat), so the
    // fixture derives a SKEWED key the way pipeline_temperature does:
    // floor(sqrt(user_id % 10000)) puts ~2v+1 source ids under key v,
    // giving real heavy tails for the top-k to find (sqrt is an IEEE
    // basic op — correctly rounded in both engines, so the derived key
    // is bit-deterministic)
    QueryDef("stats_heavy_hitters",
      (s, dir) => graft.ops.Stats.heavyHitters(
        t(s, dir, "events").withColumn("hh",
          expr("concat('k', cast(cast(floor(sqrt(cast(user_id % 10000 AS DOUBLE))) AS BIGINT) AS STRING))")),
        "hh", k = 10),
      Some(graft.ops.Stats.heavyHittersSql(
        "(SELECT *, 'k' || (floor(sqrt((user_id % 10000)::DOUBLE))::BIGINT)::VARCHAR AS hh FROM events)",
        "hh", k = 10))),

    // log-bucketed quantile sketch: the mergeable QUANTILE rung (HLL =
    // distinct, CMS = frequency) — power-of-two magnitude buckets over
    // DECIMAL-exact fixed-point, one partial agg, merge = per-bucket
    // sum, any quantile within the 2x bucket band; the always-on
    // per-shard percentile profile exact percentilesDisc can't keep at
    // stream rate
    QueryDef("stats_quantile_sketch",
      (s, dir) => graft.ops.Stats.logQuantileSketch(t(s, dir, "events"),
        "value"),
      Some(graft.ops.Stats.logQuantileSketchSql("events", "value"))),

    // the quantile sketch's accuracy gate: exact rank-selected
    // percentiles (preagg formulation, fixed-point) next to the
    // sketch's log-bucket estimates in one row -- the 2x band
    // auditable on the board; completes the sketch family's gate
    // symmetry (HLL -> stats_hll_accuracy, CMS -> stats_heavy_hitters)
    QueryDef("stats_quantile_accuracy",
      (s, dir) => graft.ops.Stats.quantileAccuracy(t(s, dir, "events"),
        "value"),
      Some(graft.ops.Stats.quantileAccuracySql("events", "value"))),

    // JSONL round-trip: documents -> one-object-per-line files -> read
    // back with an EXPLICIT schema (no inference pass) -> per-source
    // ================= URL curation ======================================
    // The crawl has no URL column, so the shared fixture
    // (`urlFixtureSpark`/`urlFixtureDuck`, defined above `all`)
    // synthesizes one per doc exercising every canonicalization rule:
    // upper-case host, `www.`, scheme-matching default ports (plus a
    // MISMATCHED http://…:443 class that keeps its port), a public-
    // suffix host (co.uk), percent-encoded unreserved variants,
    // trailing slash, fragment, and query-order variants.

    QueryDef("pipeline_url_canon",
      (s, dir) => graft.ops.Url.canonicalize(
        t(s, dir, "documents").withColumn("url", expr(urlFixtureSpark)),
        "doc_id", "url"),
      Some(graft.ops.Url.canonicalizeSql(urlFixtureDuckTable, "doc_id", "url"))),

    // URL-level dedup: cosmetic re-fetch variants collapse to one
    // keeper per canonical URL — an 8-byte-key groupBy that runs before
    // (and spares) every text-hash dedup pass
    QueryDef("dedup_url",
      (s, dir) => graft.ops.Url.urlDedupKeepers(
        t(s, dir, "documents").withColumn("url", expr(urlFixtureSpark)),
        "doc_id", "url"),
      Some(graft.ops.Url.urlDedupKeepersSql(urlFixtureDuckTable, "doc_id", "url"))),

    // per-domain census: docs, distinct canonical URLs, integer-milli
    // dup rate — the mirror/template-domain detector a crawl publishes
    // before any text op runs
    QueryDef("pipeline_domain_report",
      (s, dir) => graft.ops.Url.domainReport(
        t(s, dir, "documents").withColumn("url", expr(urlFixtureSpark)),
        "doc_id", "url"),
      Some(graft.ops.Url.domainReportSql(urlFixtureDuckTable, "doc_id", "url"))),

    // the crawl FRONT DOOR composed end to end: WARC containers →
    // record parse → URL canonicalization → domain blocklist → one
    // representative per canonical URL → Gopher gate → per-domain
    // manifest (docs, words, payload hash sum). The oracle takes the
    // INDEPENDENT path — no container render/parse, straight from the
    // url-bearing rows — so a parse bug that loses or mangles any
    // payload character diverges the hash compare
    QueryDef("pipeline_crawl_ingest",
      (s, dir) => {
        val docsU = t(s, dir, "documents").withColumn("url", expr(urlFixtureSpark))
        val blobs = graft.ops.CorpusIO.warcBlobs(docsU, "doc_id", "text",
          uriCol = Some("url"))
        val recs = graft.ops.CorpusIO.parseWarcDocs(blobs, "blob")
        val canon = graft.functions.VectorFunctions.attach(recs)
          .select(col("uri"), col("payload"),
            expr("graft_url_canon(uri)").as("canon_url"))
        val filtered = graft.ops.Url.domainFilter(canon, "uri",
          blocked = Seq("example2.com"))
          .withColumn("domain", expr("graft_url_domain(uri)"))
        // representative = lexicographic MIN payload: re-crawl variants
        // of one canonical URL can share the identical RAW uri (ids
        // congruent mod 100 here — the shared fixture's canonical
        // period), so a min-by-uri pick would tie nondeterministically
        // — the payload itself is the total order
        val reps = filtered.groupBy(col("canon_url"))
          .agg(min(col("payload")).as("payload"),
            min(col("domain")).as("domain"))
        TextAnalysis.gopherRules(reps, "canon_url", "payload",
            carry = Seq("domain", "payload"))
          .where(col("keep") === 1)
          .groupBy(col("domain"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_words").cast("long")).as("total_words"),
            sum(expr(graft.ops.PortableHash.sparkStringHash("payload")))
              .as("payload_hash_sum"))
      },
      Some {
        s"""WITH u AS (SELECT doc_id, text, $urlFixtureDuck AS url FROM documents),
           |c AS (SELECT doc_id, text, url,
           |  ${graft.ops.Url.duckCanonExpr("url")} AS canon_url,
           |  ${graft.ops.Url.duckDomainExpr("url")} AS domain FROM u),
           |f AS (SELECT * FROM c
           |      WHERE ${graft.ops.Url.domainFilterPredSql("url", Seq("example2.com"))}),
           |r AS (SELECT canon_url, min(text) AS payload,
           |             min(domain) AS domain
           |      FROM f GROUP BY 1),
           |g AS (${TextAnalysis.gopherRulesSql("r", "canon_url", "payload")}),
           |j AS (SELECT g.canon_url, g.keep, g.n_words, r.domain, r.payload
           |      FROM g JOIN r ON g.canon_url = r.canon_url)
           |SELECT domain, count(*) AS n_docs,
           |  CAST(sum(n_words) AS BIGINT) AS total_words,
           |  CAST(sum(${graft.ops.PortableHash.duckStringHash("payload")}) AS BIGINT) AS payload_hash_sum
           |FROM j WHERE keep = 1 GROUP BY domain""".stripMargin
      }),

    // WARC container round-trip: documents render as ISO-28500 response
    // records concatenated into per-group container blobs (the format a
    // crawl pipeline actually ingests), then parse back to record grain
    // — header extraction + Content-Length-bounded payload, witnessed by
    // length + portable hash. One scan, one bounded explode; everything
    // after the record split is a zero-shuffle projection
    QueryDef("io_warc_parse",
      (s, dir) => graft.ops.CorpusIO.parseWarc(
        graft.ops.CorpusIO.warcBlobs(t(s, dir, "documents"),
          "doc_id", "text"), "blob"),
      Some(graft.ops.CorpusIO.warcRoundTripSql("documents", "doc_id", "text"))),

    // BYTE-TRUE WARC round-trip (ISO 28500: Content-Length declares
    // BYTES): payloads get a planted multi-byte-UTF-8 suffix so byte
    // length strictly exceeds character count on every record — the
    // char-based reader above would provably mis-capture here. The
    // oracle takes the independent no-container path: declared length,
    // captured length, and content hash computed straight from the
    // documents (strlen = DuckDB byte length), so any off-by-one in
    // the byte scan diverges the compare
    QueryDef("io_warc_parse_bytes",
      (s, dir) => graft.ops.CorpusIO.parseWarcBytes(
        graft.ops.CorpusIO.warcBlobsBytes(
          multiByteFixture(t(s, dir, "documents")), "doc_id", "text"), "blob"),
      Some(graft.ops.CorpusIO.warcBytesRoundTripSql(multiByteFixture.twin(), "doc_id", "text"))),

    // content checksum. The oracle checksums the ORIGINAL table, so any
    // character lost in serialization fails the hash-sum compare
    QueryDef("io_roundtrip_jsonl",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val out = idxPath("io_jsonl", dir)
        graft.ops.CorpusIO.writeJsonl(docs, out)
        graft.ops.CorpusIO.checksum(
          graft.ops.CorpusIO.readJsonl(s, out, docs.schema),
          "source", "doc_id", "text")
      },
      Some(graft.ops.CorpusIO.checksumSql("documents", "source", "doc_id", "text"))),

    // CSV round-trip for the flat event table (header + explicit read
    // schema; doubles survive because Spark writes the shortest
    // round-trippable decimal repr); checksummed against the original
    QueryDef("io_roundtrip_csv",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        val out = idxPath("io_csv", dir)
        graft.ops.CorpusIO.writeCsv(ev, out)
        graft.ops.CorpusIO.readCsv(s, out, ev.schema)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            expr(dsum("value")).as("sum_value"),
            sum(col("user_id")).as("user_sum"))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             |  CAST(sum(user_id) AS BIGINT) AS user_sum
             |FROM events GROUP BY event_type""".stripMargin)),

    // sharded corpus write: partitioned parquet with bounded per-file
    // rows (the at-rest curated-corpus layout); the manifest re-reads
    // the partitioned tree and must checksum-match the original table
    QueryDef("io_sharded_manifest",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val out = idxPath("io_shard", dir)
        // file bound sized for real shards (CorpusIOSpec pins the bound
        // mechanism itself): 100-row files at a 1M-doc probe meant 10k
        // files and 18s of committer overhead vs ~2s at 100k rows/file —
        // the small-files explosion the operator doc warns about
        graft.ops.CorpusIO.writeSharded(docs, out, "lang", maxRecordsPerFile = 100000)
        graft.ops.CorpusIO.checksum(CorpusIO.readParquet(s, out), "lang", "doc_id", "text")
      },
      Some(graft.ops.CorpusIO.checksumSql("documents", "lang", "doc_id", "text"))),

    // ORC round-trip: the second native columnar format, same content-
    // checksum gate as the JSONL/parquet paths
    QueryDef("io_roundtrip_orc",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val out = idxPath("io_orc", dir)
        graft.ops.CorpusIO.writeOrc(docs, out)
        graft.ops.CorpusIO.checksum(graft.ops.CorpusIO.readOrc(s, out),
          "source", "doc_id", "text")
      },
      Some(graft.ops.CorpusIO.checksumSql("documents", "source", "doc_id", "text"))),

    // compaction rewrite-exactness under the driver's hard signal: the
    // query fragments the corpus into 32 small files, compacts them into
    // ~targetBytes range-clustered files, re-reads, and emits the
    // per-source content checksum; the oracle checksums the ORIGINAL
    // table, so a row lost or a character corrupted by the rewrite fails
    // the hash (LayoutSpec separately pins file-count reduction and
    // disjoint per-file id ranges)
    QueryDef("io_compact",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val frag = idxPath("io_frag", dir)
        val out = idxPath("io_compact", dir)
        docs.repartition(32).write.mode("overwrite").parquet(frag)
        graft.ops.CorpusIO.compact(s, frag, out,
          targetBytes = 4 * 1024 * 1024, sortCol = Some("doc_id"))
        graft.ops.CorpusIO.checksum(CorpusIO.readParquet(s, out), "source", "doc_id", "text")
      },
      Some(graft.ops.CorpusIO.checksumSql("documents", "source", "doc_id", "text"))),

    // schema evolution across corpus snapshots: v1 files lack a column
    // a later crawl added; the merged-schema read must surface v1 rows
    // with NULLs and lose nothing — the lake-layout drift every
    // long-lived corpus hits. The oracle replays the two-snapshot union
    // over the original table; content checksummed per source
    QueryDef("io_schema_evolution",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val out = idxPath("io_evo", dir)
        docs.select(col("doc_id"), col("text"), col("source"))
          .write.mode("overwrite").parquet(s"$out/v1")
        docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
            col("source"), col("lang"))
          .write.mode("overwrite").parquet(s"$out/v2")
        s.read.option("mergeSchema", "true").parquet(s"$out/v1", s"$out/v2")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            count(col("lang")).as("n_with_lang"),
            sum(col("doc_id")).as("id_sum"),
            sum(expr(graft.ops.PortableHash.sparkStringHash("text")))
              .as("text_hash_sum"))
      },
      Some(s"""SELECT source, count(*) AS n_docs,
             |  count(lang)::BIGINT AS n_with_lang,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
             |  CAST(sum(${graft.ops.PortableHash.duckStringHash("text")}) AS BIGINT) AS text_hash_sum
             |FROM (
             |  SELECT doc_id, text, source, NULL AS lang FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000, text, source, lang FROM documents)
             |GROUP BY source""".stripMargin)),

    // multi-dimensional clustering rewrite (OPTIMIZE ZORDER shape):
    // events laid out along the Morton curve of (user_id, event_id) so
    // range predicates on EITHER column touch few files — the oracle
    // checksums the ORIGINAL table (a row lost or reordered into
    // corruption by the rewrite fails the hash); LayoutSpec pins the
    // both-dimension pruning the curve exists for
    QueryDef("io_zorder",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val out = idxPath("io_zorder", dir)
        graft.ops.CorpusIO.zorderWrite(s, ev, out, "user_id", "event_id", nFiles = 16)
        graft.ops.CorpusIO.checksum(CorpusIO.readParquet(s, out),
          "event_type", "event_id", "props")
      },
      Some(graft.ops.CorpusIO.checksumSql("events", "event_type", "event_id", "props"))),

    // the bucketed at-rest layout under the hard signal: both sides
    // written bucketBy(custkey), then the recurring join + key-grained
    // aggregation — the shuffle is paid once at write time, so the
    // join/agg itself runs with ZERO exchange (PlanAuditSpec pins the
    // exchange-free plan with broadcast disabled; here the oracle pins
    // the answer)
    QueryDef("join_bucketed",
      (s, dir) => {
        val suffix = math.abs(dir.hashCode).toString
        val ordT = s"graft_bkt_orders_$suffix"
        val custT = s"graft_bkt_cust_$suffix"
        graft.ops.CorpusIO.writeBucketed(
          t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice")),
          ordT, "o_custkey", nBuckets = 8)
        graft.ops.CorpusIO.writeBucketed(
          t(s, dir, "customer").select(col("c_custkey").as("o_custkey"),
            col("c_mktsegment")),
          custT, "o_custkey", nBuckets = 8)
        s.table(ordT).join(s.table(custT), "o_custkey")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"),
            expr(dsum("o_totalprice")).as("revenue"),
            max(col("c_mktsegment")).as("segment"))
      },
      Some("""SELECT o_custkey, count(*) AS n_orders,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             |  max(c_mktsegment) AS segment
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY o_custkey""".stripMargin)),

    // deterministic train/val/test assignment: hash-range membership on
    // the doc's own id — zero shuffle, and docs never migrate between
    // splits as the corpus grows (the leakage guarantee)
    QueryDef("pipeline_split",
      (s, dir) => graft.ops.Sampling.splitAssign(
          t(s, dir, "documents"), "doc_id", valPct = 2, testPct = 2)
        .select(col("doc_id"), col("source"), col("split")),
      Some(s"""SELECT doc_id, source, split FROM (
             |${graft.ops.Sampling.splitAssignSql("documents", "doc_id", valPct = 2, testPct = 2)}) t""".stripMargin)),

    // leakage-safe split: the assignment hashes the near-dup COMPONENT
    // id (minhash label propagation), so a near-dup pair can never land
    // in different splits -- the eval-leakage guard; ungrouped docs
    // coalesce to their own id and get exactly pipeline_split's
    // assignment
    QueryDef("pipeline_split_grouped",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.ops.Sampling.splitAssignGrouped(docs, "doc_id",
            Dedup.minhashDedupComponents(docs, "doc_id", "text"),
            "doc_id", "component_id", valPct = 2, testPct = 2)
          .select(col("doc_id"), col("split"))
      },
      Some(s"""SELECT doc_id, split FROM (
             |${graft.ops.Sampling.splitAssignGroupedSql("documents", "doc_id",
               Dedup.minhashDedupComponentsSql("documents", "doc_id", "text"),
               valPct = 2, testPct = 2)}) t""".stripMargin)),

    // deterministic sharded corpus shuffle: shard = H(id) mod N, rank =
    // per-shard (H2, id) order — epoch order is reproducible and the
    // sort parallelizes per shard (no single-partition global window)
    QueryDef("pipeline_shuffle",
      (s, dir) => graft.ops.Sampling.shardedShuffle(
          t(s, dir, "documents"), "doc_id", nShards = 8)
        .select(col("doc_id"), col("shard"), col("rank")),
      Some(s"""SELECT doc_id, shard, rank FROM (
             |${graft.ops.Sampling.shardedShuffleSql("documents", "doc_id", nShards = 8)}) t""".stripMargin))
  )

  lazy val queryMap: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.spark).toMap

  lazy val oracleMap: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
