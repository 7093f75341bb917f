package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.types.StructType

/** Corpus interchange I/O: JSONL and CSV round-trips and the sharded
  * partitioned writer — the formats a training-data pipeline actually
  * ingests and emits (JSONL is the lingua franca of LLM corpora; the
  * at-rest output is partitioned parquet with bounded file sizes so a
  * downstream loader can schedule per-file).
  *
  * Every round-trip is verified by CONTENT CHECKSUM, not row count: the
  * per-group sum of the engine-portable text hash ([[PortableHash]])
  * recomputed after read-back must equal the oracle's sum over the
  * original table — a single corrupted character anywhere in the corpus
  * changes the sum.
  *
  * Scale notes baked into the API:
  *  - readers take an explicit schema — schema inference is a full
  *    extra pass over 100 TB of text (and JSONL inference can widen
  *    types row-dependently); the pipeline always knows its schema;
  *  - the sharded writer bounds `maxRecordsPerFile` so no reducer can
  *    emit a monolithic file (loaders parallelize per-file), and
  *    partitions by a low-cardinality column only (partitioning by a
  *    high-cardinality key would create a small-files explosion);
  *  - writes go through the normal committer — task retries cannot
  *    double-count (Spark's job commit protocol), which is the
  *    at-least-once sink contract the bus side documents.
  */
object CorpusIO {

  /** One JSON object per line (Spark's native `json` format IS JSONL).
    * Unicode, quotes, and embedded newlines in values are JSON-escaped,
    * so arbitrary document text survives byte-exactly.
    */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** JSONL source with an EXPLICIT schema (no inference pass). */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** CSV sink/source pair — for flat tables without embedded newlines
    * (events, metrics); document text belongs in JSONL/parquet.
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** ORC sink/source — the second columnar at-rest format Spark ships
    * natively (predicate pushdown and column pruning work the same as
    * parquet; the scan side is exercised by the checksum query's
    * two-column projection).
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Parquet source with the schema read from the footer on the driver.
    * A bare `spark.read.parquet` runs a one-task schema-inference job
    * while the DataFrame is being built; this read starts none. The
    * schema equals Spark's inference (mergeSchema off, partition
    * columns included), and the files are listed per call, so data
    * regenerated in place is seen. Session confs the conversion honours
    * (e.g. `nanosAsLong`) must be set before the call.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(FooterSchema.infer(spark, path)).parquet(path)

  /** Partitioned parquet writer with bounded file sizes: the at-rest
    * layout of a curated corpus (`path/partitionCol=v/part-*.parquet`,
    * each file ≤ `maxRecordsPerFile` rows).
    */
  def writeSharded(df: DataFrame, path: String, partitionCol: String,
                   maxRecordsPerFile: Int): Unit =
    df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
      .partitionBy(partitionCol)
      .parquet(path)

  /** Bucketed at-rest layout: co-locate a join/aggregation key at WRITE
    * time. Every later equi-join or groupBy on `key` between tables
    * bucketed the same way runs with ZERO exchange — the single biggest
    * recurring-cost lever for a 100 TB fact table that is joined daily:
    * the shuffle is paid once at ingest, not per query. `sortBy` makes
    * each bucket file key-sorted so sort-merge joins can also skip their
    * sort when files-per-bucket is 1.
    *
    * (`bucketBy` requires a catalog table — buckets are metadata — hence
    * `saveAsTable`, not `parquet(path)`; LayoutSpec proves the
    * exchange-free join and aggregation on the written layout.)
    */
  def writeBucketed(df: DataFrame, tableName: String, key: String,
                    nBuckets: Int): Unit = {
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(tableName)) {
      // a managed-table location orphaned by a previous session (dir on
      // disk, no catalog entry) fails CREATE with LOCATION_ALREADY_EXISTS
      // — remove it so the write is idempotent across sessions
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(tableName)))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) {
        // scope the delete to directories that LOOK like an orphaned
        // prior table write (parquet parts or a _SUCCESS marker): a
        // warehouse dir owned by another application's metastore must
        // fail loudly instead of being silently destroyed
        val names = fs.listStatus(loc).map(_.getPath.getName)
        val looksLikeTableWrite = names.isEmpty ||
          names.exists(n => n == "_SUCCESS" || n.endsWith(".parquet"))
        require(looksLikeTableWrite,
          s"refusing to clear '$loc' for table '$tableName': the directory " +
            "exists but does not look like an orphaned parquet table " +
            s"(contents: ${names.take(5).mkString(", ")})")
        fs.delete(loc, true)
      }
    }
    df.write.mode("overwrite")
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(tableName)
  }

  /** Small-file compaction: rewrite a directory of many small parquet
    * files into ~`targetBytes` files — the operational cure for the
    * small-files cliff the sharded writer's measurements document (18s
    * to re-list 10k files at 1M rows). Sizing reads the FILESYSTEM
    * listing (compressed bytes), so the output count tracks actual data
    * size, not row counts. With `sortCol` set the rewrite uses
    * `repartitionByRange`, which also tightens per-file min/max column
    * stats — later range predicates skip whole files (zone-map pruning),
    * so compaction doubles as a clustering pass.
    *
    * Returns (filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetBytes: Long, sortCol: Option[String] = None): (Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val path = new org.apache.hadoop.fs.Path(inPath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // overwrite-writing the directory being lazily read would delete the
    // input before the rewrite reads it — refuse same or nested output
    val inQ = fs.makeQualified(path).toUri.getPath.stripSuffix("/")
    val outQ = fs.makeQualified(new org.apache.hadoop.fs.Path(outPath))
      .toUri.getPath.stripSuffix("/")
    require(outQ != inQ && !outQ.startsWith(inQ + "/"),
      s"compact output '$outPath' must not be the input '$inPath' or inside it")
    val files = fs.listFiles(path, true)
    var nBefore = 0
    var totalBytes = 0L
    while (files.hasNext) {
      val f = files.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        nBefore += 1; totalBytes += f.getLen
      }
    }
    val nAfter = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val df = readParquet(spark, inPath)
    val out = sortCol.fold(df.repartition(nAfter))(c =>
      df.repartitionByRange(nAfter, col(c)))
    out.write.mode("overwrite").parquet(outPath)
    (nBefore, nAfter)
  }

  /** Z-order (Morton) curve value over two integer expressions: each
    * input is scaled into a 16-bit bucket over its [min, max] range and
    * the bucket bits are interleaved (x even bits, y odd), so points
    * close in BOTH dimensions land close on the 1-D curve. Pure integer
    * arithmetic built from shift/mask terms on disjoint bits — codegen
    * keeps it in the scan projection.
    */
  def zorderValue(xCol: String, yCol: String,
                  xMin: Long, xMax: Long, yMin: Long, yMax: Long): Column = {
    def bucket(c: String, lo: Long, hi: Long): String =
      s"((cast($c AS BIGINT) - ${lo}L) * 65535L div ${math.max(1L, hi - lo)}L)"
    val (bx, by) = (bucket(xCol, xMin, xMax), bucket(yCol, yMin, yMax))
    val terms = (0 until 16).flatMap { i =>
      Seq(s"shiftleft(shiftright($bx, $i) & 1, ${2 * i})",
        s"shiftleft(shiftright($by, $i) & 1, ${2 * i + 1})")
    }
    expr(terms.mkString("(", " + ", ")"))   // disjoint bits: + = |
  }

  /** Multi-dimensional clustering rewrite (Delta/Iceberg `OPTIMIZE
    * ZORDER BY` shape): lay the table out along the Morton curve of TWO
    * columns so range predicates on EITHER dimension touch a small
    * fraction of files — single-column range layout ([[compact]] with
    * `sortCol`) prunes only its own column; z-order buys both at a
    * modest cost to each. The mechanism is per-file min/max zone maps:
    * curve-adjacent rows share files, so each file covers a small tile
    * of (x, y) space and a predicate on either coordinate eliminates
    * every file whose tile misses it (LayoutSpec pins both-dimension
    * pruning; at 100 TB this is the difference between scanning ~√F of
    * F files and scanning all of them for the off-sort dimension).
    *
    * The min/max scan is one 1-row agg collect (metadata-sized, the
    * documented exception); the rewrite is one `repartitionByRange` on
    * the z value + in-partition sort — the same shuffle budget as a
    * single-column clustering pass.
    */
  def zorderWrite(spark: SparkSession, df: DataFrame, outPath: String,
                  xCol: String, yCol: String, nFiles: Int): Unit = {
    val r = df.agg(
      min(expr(xCol).cast("long")), max(expr(xCol).cast("long")),
      min(expr(yCol).cast("long")), max(expr(yCol).cast("long"))).head()
    require(!r.isNullAt(0) && !r.isNullAt(2),
      s"zorderWrite: empty input (or all-null $xCol/$yCol) — nothing to cluster")
    val z = zorderValue(xCol, yCol, r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3))
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(outPath)
  }

  /** Content checksum at the `groupCol` grain: doc count, exact char
    * count, id sum, and the sum of the portable text hash. Equal
    * checksums before/after a round-trip prove byte-exact content
    * (hash sums stay far below 2^63: ≤ P·rows ≈ 10^9 · rows).
    */
  def checksum(df: DataFrame, groupCol: String, idCol: String,
               textCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col(textCol))).as("n_chars"),
        sum(col(idCol)).as("id_sum"),
        sum(expr(PortableHash.sparkStringHash(textCol))).as("text_hash_sum"))

  /** DuckDB twin of [[checksum]] — over the ORIGINAL table: the oracle
    * never sees the round-tripped files, so a lossy write shows up as a
    * checksum mismatch.
    */
  def checksumSql(table: String, groupCol: String, idCol: String,
                  textCol: String): String =
    s"""SELECT $groupCol, count(*) AS n_docs,
       |  CAST(sum(length($textCol)) AS BIGINT) AS n_chars,
       |  CAST(sum($idCol) AS BIGINT) AS id_sum,
       |  CAST(sum(${PortableHash.duckStringHash(textCol)}) AS BIGINT) AS text_hash_sum
       |FROM $table GROUP BY $groupCol""".stripMargin

  // ================= WARC container parsing ============================

  /** Render documents as WARC/1.0 response records concatenated into
    * per-group container blobs — the FIXTURE half of [[parseWarc]]
    * (the testdata has no crawl containers; the planted blobs follow
    * ISO 28500's record grammar: version line, named headers, blank
    * line, payload, double CRLF record terminator). Records concatenate
    * in doc-id order inside each container, deterministically on both
    * engines. Fixture simplification, consistent on both ends: the
    * planted Content-Length counts CHARACTERS (real WARC counts bytes;
    * a byte-true variant would render payloads as BINARY — the parse
    * grammar is unchanged).
    */
  def warcBlobs(df: DataFrame, id: String, text: String,
                docsPerBlob: Int = 10,
                uriCol: Option[String] = None): DataFrame = {
    val uri = uriCol.map(col).getOrElse(
      concat(lit("https://example.com/doc/"), col(id).cast("long")))
    df.select((col(id) cast "long").as("__id"), col(text).as("__t"),
        uri.as("__u"))
      .select(expr(s"__id div $docsPerBlob").as("blob_id"),
        struct(col("__id"), concat(
          lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
          col("__u"),
          lit("\r\nWARC-Date: 2024-01-01T00:00:00Z\r\nContent-Length: "),
          length(col("__t")),
          lit("\r\n\r\n"), col("__t"), lit("\r\n\r\n")).as("rec")).as("s"))
      .groupBy(col("blob_id"))
      .agg(array_sort(collect_list(col("s"))).as("recs"))
      .select(col("blob_id"),
        expr("array_join(transform(recs, x -> x.rec), '')").as("blob"))
  }

  /** [[parseWarc]]'s record-to-DOCUMENT form: (uri, payload) rows for
    * pipelines that continue past parsing (the hash-witness form above
    * is the round-trip verifier). Same grammar, same single explode.
    *
    * CHARACTERS-vs-BYTES caveat (same as [[parseWarc]]): Content-Length
    * is interpreted as a CHARACTER count, matching what [[warcBlobs]]
    * plants. Real WARC (ISO 28500) declares BYTE lengths — pointing this
    * at genuine crawl containers with multi-byte UTF-8 payloads would
    * truncate or over-read. For real WARC, parse on BINARY columns with
    * a byte-true reader before this op.
    */
  def parseWarcDocs(blobs: DataFrame, blobCol: String): DataFrame =
    blobs
      .select(explode(expr(s"filter(split($blobCol, 'WARC/1\\\\.0\\r\\n'), r -> r <> '')")).as("rec"))
      .select(
        regexp_extract(col("rec"), "WARC-Target-URI: (\\S+)", 1).as("uri"),
        regexp_extract(col("rec"), "Content-Length: (\\d+)", 1).cast("long").as("content_length"),
        expr("substring(rec, instr(rec, '\\r\\n\\r\\n') + 4)").as("__p"))
      .select(col("uri"),
        expr("substring(__p, 1, cast(content_length AS INT))").as("payload"))

  /** Parse WARC container blobs back to record grain: split on the
    * version line, extract Target-URI / Date / Content-Length headers,
    * take the payload after the first blank line, and witness it by
    * length + portable hash. One scan, one explode — the crawl-ingest
    * shape (a 100 TB pipeline reads containers, not documents; records
    * per blob bounds the explode fan-out, and everything after the
    * split is a zero-shuffle projection).
    *
    * CHARACTERS-vs-BYTES caveat: the payload is bounded by a
    * character-based substring against Content-Length, matching the
    * CHARACTER count [[warcBlobs]] plants. Real WARC (ISO 28500)
    * declares BYTE lengths — on genuine crawl containers with
    * multi-byte UTF-8 payloads this would truncate or over-read. For
    * real WARC, parse on BINARY columns with a byte-true reader first.
    */
  def parseWarc(blobs: DataFrame, blobCol: String): DataFrame =
    blobs
      .select(explode(expr(s"filter(split($blobCol, 'WARC/1\\\\.0\\r\\n'), r -> r <> '')")).as("rec"))
      .select(
        regexp_extract(col("rec"), "WARC-Target-URI: (\\S+)", 1).as("uri"),
        regexp_extract(col("rec"), "WARC-Date: (\\S+)", 1).as("warc_date"),
        regexp_extract(col("rec"), "Content-Length: (\\d+)", 1).cast("long").as("content_length"),
        expr("substring(rec, instr(rec, '\\r\\n\\r\\n') + 4)").as("__p"))
      .select(col("uri"), col("warc_date"), col("content_length"),
        // payload is bounded by the declared Content-Length (the record
        // terminator CRLFs trail it)
        expr("substring(__p, 1, cast(content_length AS INT))").as("payload"))
      .select(col("uri"), col("warc_date"), col("content_length"),
        length(col("payload")).cast("long").as("n_payload_chars"),
        expr(PortableHash.sparkStringHash("payload")).as("payload_hash"))

  // ---------------- byte-true WARC (ISO 28500) ----------------------

  /** Parsed record row of [[parseWarcBytes]]: `content_length` is the
    * DECLARED byte count, `n_payload_bytes` the byte count actually
    * captured — equal iff the parse is byte-true end to end.
    */
  final case class WarcByteRecord(uri: String, warc_date: String,
                                  content_length: Long, n_payload_bytes: Long,
                                  payload_hash: Long)

  /** Byte-true container render — [[warcBlobs]] with ISO 28500's actual
    * Content-Length semantics: the header declares the payload's size
    * in BYTES (`octet_length`), and the blob is a BINARY column (UTF-8
    * encoding of the rendered container — encoding distributes over
    * concatenation, so encoding once at the end equals concatenating
    * per-record encodings). On pure-ASCII text this renders the same
    * container as [[warcBlobs]]; on multi-byte UTF-8 the declared
    * length differs from the character count — the divergence
    * [[parseWarcBytes]] exists to honor.
    */
  def warcBlobsBytes(df: DataFrame, id: String, text: String,
                     docsPerBlob: Int = 10,
                     uriCol: Option[String] = None): DataFrame = {
    val uri = uriCol.map(col).getOrElse(
      concat(lit("https://example.com/doc/"), col(id).cast("long")))
    df.select((col(id) cast "long").as("__id"), col(text).as("__t"),
        uri.as("__u"))
      .select(expr(s"__id div $docsPerBlob").as("blob_id"),
        struct(col("__id"), concat(
          lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
          col("__u"),
          lit("\r\nWARC-Date: 2024-01-01T00:00:00Z\r\nContent-Length: "),
          expr("octet_length(__t)"),
          lit("\r\n\r\n"), col("__t"), lit("\r\n\r\n")).as("rec")).as("s"))
      .groupBy(col("blob_id"))
      .agg(array_sort(collect_list(col("s"))).as("recs"))
      .select(col("blob_id"),
        expr("encode(array_join(transform(recs, x -> x.rec), ''), 'UTF-8')")
          .as("blob"))
  }

  private val WarcMarker: Array[Byte] = "WARC/1.0\r\n".getBytes("US-ASCII")

  /** Byte-level scan of one container, LENGTH-DELIMITED per ISO 28500:
    * records are walked sequentially — header to the first CRLFCRLF
    * (ASCII by the spec; decoded latin-1 so a malformed byte cannot
    * throw), payload is exactly the declared Content-Length BYTES,
    * then the two-CRLF record terminator, then the next record's
    * version line. A payload that itself contains the `WARC/1.0\r\n`
    * marker bytes (a page about WARC, a warc-in-warc) therefore stays
    * ONE record — the pre-r12 marker-scan segmentation split it.
    * Only a record whose declared length does not land on a record
    * boundary (truncated container, corrupt header) falls back to
    * scanning for the next marker. Header regexes are line-anchored
    * (`^…` MULTILINE) so e.g. an `X-Crawler-Content-Length` line can
    * never shadow the real header. Payload bytes decode as UTF-8 for
    * the portable content hash (the corpus payloads are text; a truly
    * opaque payload would hash raw bytes instead — the capture logic
    * is identical).
    */
  private[ops] def parseOneBlobBytes(blob: Array[Byte]): Iterator[WarcByteRecord] = {
    def isMarkerAt(i: Int): Boolean = {
      if (i < 0 || i + WarcMarker.length > blob.length) return false
      var j = 0
      while (j < WarcMarker.length) {
        if (blob(i + j) != WarcMarker(j)) return false
        j += 1
      }
      true
    }
    // a RECORD-START candidate is line-anchored: the version line of a
    // real record always begins a line (container start, or after the
    // record terminator's '\n'), while marker BYTES inside a header
    // value (a 'WARC-Profile: …/WARC/1.0' line) or mid-payload start
    // mid-line — anchoring keeps resync and over-run clamps from
    // biting on those
    @inline def isRecordStartAt(i: Int): Boolean =
      (i == 0 || blob(i - 1) == '\n') && isMarkerAt(i)
    def nextMarker(from: Int): Int = {
      var i = math.max(from, 0)
      while (i <= blob.length - WarcMarker.length) {
        if (isRecordStartAt(i)) return i
        i += 1
      }
      -1
    }
    import java.util.regex.Pattern
    val uriP = Pattern.compile("^WARC-Target-URI: (\\S+)", Pattern.MULTILINE)
    val dateP = Pattern.compile("^WARC-Date: (\\S+)", Pattern.MULTILINE)
    val lenP = Pattern.compile("^Content-Length: (\\d+)", Pattern.MULTILINE)
    val out = scala.collection.mutable.ArrayBuffer.empty[WarcByteRecord]
    var st = nextMarker(0)
    while (st >= 0) {
      val hdrStart = st + WarcMarker.length
      // header runs to the first CRLFCRLF — ONE fused scan that also
      // watches for a line-anchored record start: hitting one first
      // means THIS record's header never terminates (truncated/
      // malformed), so the record is dropped and parsing resyncs at
      // that next record instead of consuming its bytes as a merged
      // garbage header. (A well-formed header cannot contain a
      // line-anchored marker — every header line starts with a field
      // name — so the resync branch is unreachable on good records,
      // and no separate bound pre-scan over the payload is paid.)
      var he = hdrStart
      var found = -1
      var resync = -1
      while (found < 0 && resync < 0 && he + 3 < blob.length) {
        if (blob(he) == '\r' && blob(he + 1) == '\n' &&
          blob(he + 2) == '\r' && blob(he + 3) == '\n') found = he
        else if (he > hdrStart && isRecordStartAt(he)) resync = he
        else he += 1
      }
      if (found < 0) st = resync // drop the malformed record; -1 ends the walk
      else {
        val header = new String(blob, hdrStart, found - hdrStart, "ISO-8859-1")
        val um = uriP.matcher(header)
        val dm = dateP.matcher(header)
        val lm = lenP.matcher(header)
        val uri = if (um.find()) um.group(1) else ""
        val date = if (dm.find()) dm.group(1) else ""
        val declared = if (lm.find()) lm.group(1).toLong else 0L
        val pStart = found + 4
        if (pStart + declared <= blob.length) {
          // length-delimited capture: exactly the declared bytes
          val pEnd = (pStart + declared).toInt
          val payload = new String(blob, pStart, pEnd - pStart, "UTF-8")
          out += WarcByteRecord(uri, date, declared,
            (pEnd - pStart).toLong, PortableHash.jvmStringHash(payload))
          val nxt = pEnd + 4 // skip the two-CRLF record terminator
          st = if (nxt > blob.length - WarcMarker.length) -1 // container end
               else if (isMarkerAt(nxt)) nxt
               else nextMarker(pEnd) // malformed framing: marker-scan fallback
        } else {
          // declared length over-runs the container (truncated/corrupt):
          // clamp to the next marker occurrence — the pre-framing bound
          val end = { val m = nextMarker(pStart); if (m < 0) blob.length else m }
          val pEnd = math.min(pStart + declared, end.toLong).toInt
          val payload = new String(blob, pStart, pEnd - pStart, "UTF-8")
          out += WarcByteRecord(uri, date, declared,
            (pEnd - pStart).toLong, PortableHash.jvmStringHash(payload))
          st = nextMarker(pEnd)
        }
      }
    }
    out.iterator
  }

  /** Parse byte-true WARC containers at record grain, honoring
    * Content-Length in BYTES (ISO 28500) — the reader you would point
    * at genuine crawl segments, where [[parseWarc]]'s character-based
    * bound would truncate or over-read every multi-byte-UTF-8 payload.
    * Iterator-streaming `mapPartitions` on the BINARY column (no
    * Catalyst expression can byte-address a blob); everything else in
    * the ingest chain is unchanged. One scan, fan-out bounded by
    * records per blob, zero shuffle.
    */
  def parseWarcBytes(blobs: DataFrame, blobCol: String): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col(blobCol)).as[Array[Byte]]
      .mapPartitions(_.flatMap(parseOneBlobBytes))
      .toDF()
  }

  /** DuckDB twin of [[warcBlobsBytes]] ∘ [[parseWarcBytes]] — the
    * INDEPENDENT path: no container render/parse, the expected record
    * table computed straight from the documents (strlen = DuckDB's
    * byte length of the UTF-8 encoding). `n_payload_bytes` equals the
    * declared length only if the reader captured exactly the declared
    * bytes, and `payload_hash` only if those bytes decode back to the
    * original text — so a single off-by-one anywhere in the byte scan
    * diverges the compare.
    */
  def warcBytesRoundTripSql(table: String, id: String, text: String): String =
    s"""SELECT 'https://example.com/doc/' || $id AS uri,
       |  '2024-01-01T00:00:00Z' AS warc_date,
       |  strlen($text)::BIGINT AS content_length,
       |  strlen($text)::BIGINT AS n_payload_bytes,
       |  ${PortableHash.duckStringHash(text)} AS payload_hash
       |FROM $table""".stripMargin

  /** DuckDB twin of [[warcBlobs]] ∘ [[parseWarc]]: render the same
    * containers, split and parse them back with the same grammar.
    */
  def warcRoundTripSql(table: String, id: String, text: String,
                       docsPerBlob: Int = 10): String =
    s"""WITH blobs AS (
       |  SELECT $id // $docsPerBlob AS blob_id,
       |    string_agg('WARC/1.0' || chr(13) || chr(10) ||
       |      'WARC-Type: response' || chr(13) || chr(10) ||
       |      'WARC-Target-URI: https://example.com/doc/' || $id || chr(13) || chr(10) ||
       |      'WARC-Date: 2024-01-01T00:00:00Z' || chr(13) || chr(10) ||
       |      'Content-Length: ' || length($text) || chr(13) || chr(10) ||
       |      chr(13) || chr(10) || $text || chr(13) || chr(10) || chr(13) || chr(10),
       |      '' ORDER BY $id) AS blob
       |  FROM $table GROUP BY 1),
       |recs AS (
       |  SELECT unnest(list_filter(
       |    string_split(blob, 'WARC/1.0' || chr(13) || chr(10)),
       |    r -> r <> '')) AS rec
       |  FROM blobs),
       |parsed AS (
       |  SELECT regexp_extract(rec, 'WARC-Target-URI: (\\S+)', 1) AS uri,
       |    regexp_extract(rec, 'WARC-Date: (\\S+)', 1) AS warc_date,
       |    regexp_extract(rec, 'Content-Length: (\\d+)', 1)::BIGINT AS content_length,
       |    substring(rec, instr(rec, chr(13) || chr(10) || chr(13) || chr(10)) + 4) AS p
       |  FROM recs)
       |SELECT uri, warc_date, content_length,
       |  CAST(length(substring(p, 1, content_length::INT)) AS BIGINT) AS n_payload_chars,
       |  ${PortableHash.duckStringHash("substring(p, 1, content_length::INT)")} AS payload_hash
       |FROM parsed""".stripMargin
}
