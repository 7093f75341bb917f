package graft

import graft.ops.CorpusIO
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, TimestampNTZType}

/** Pins [[graft.ops.CorpusIO]] contracts the checksum oracle can't see:
  * the per-file row bound of the sharded writer (loaders schedule
  * per-file — one monolithic shard defeats the layout) and JSONL
  * byte-exactness on text the sf corpus doesn't contain (embedded
  * newlines, quotes, backslashes, non-BMP unicode), and the footer
  * schema of [[graft.ops.CorpusIO.readParquet]]: equal to Spark's own
  * inference, and read without starting a Spark job.
  */
class CorpusIOSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) =
    s"${System.getProperty("java.io.tmpdir")}/graft_iospec_$name"

  test("writeSharded: every output file holds at most maxRecordsPerFile rows") {
    val docs = (1L to 57L).map(i => (i, if (i % 2 == 0) "en" else "fr", s"d$i"))
      .toDF("doc_id", "lang", "text")
    val out = tmp("bound")
    CorpusIO.writeSharded(docs, out, "lang", maxRecordsPerFile = 10)
    val perFile = spark.read.parquet(out)
      .groupBy(input_file_name()).count().as[(String, Long)].collect()
    assert(perFile.nonEmpty && perFile.forall(_._2 <= 10L),
      s"file row bound violated: ${perFile.toSeq}")
    // partition values survive the directory encoding
    assert(spark.read.parquet(out).groupBy($"lang").count()
      .as[(String, Long)].collect().toMap === Map("en" -> 28L, "fr" -> 29L))
  }

  test("JSONL round-trip is byte-exact on newlines, quotes, and non-BMP text") {
    val nasty = Seq(
      (1L, "line one\nline two\r\nwindows"),
      (2L, "quote \" backslash \\ tab\t"),
      (3L, "中文 и кириллица and 😀 emoji"),
      (4L, "")
    ).toDF("doc_id", "text")
    val out = tmp("jsonl")
    CorpusIO.writeJsonl(nasty, out)
    val back = CorpusIO.readJsonl(spark, out, nasty.schema)
    val orig = nasty.as[(Long, String)].collect().toMap
    val got = back.as[(Long, String)].collect().toMap
    assert(got === orig, "every character must survive the round-trip")
  }

  test("checksum: one changed character anywhere changes text_hash_sum") {
    val a = Seq((1L, "g", "hello world"), (2L, "g", "second doc")).toDF("doc_id", "src", "text")
    val b = Seq((1L, "g", "hello w0rld"), (2L, "g", "second doc")).toDF("doc_id", "src", "text")
    val ca = CorpusIO.checksum(a, "src", "doc_id", "text")
      .select($"text_hash_sum").as[Long].head()
    val cb = CorpusIO.checksum(b, "src", "doc_id", "text")
      .select($"text_hash_sum").as[Long].head()
    assert(ca != cb)
  }

  test("byte-true WARC: multi-byte payloads survive; char-based bound provably mis-captures") {
    // every payload mixes 1/2/3/4-byte UTF-8, so declared BYTE length
    // strictly exceeds character count on every record
    val docs = Seq(
      (1L, "héllo wörld"),
      (2L, "中文 payload 中文"),
      (3L, "emoji 😀😀 tail"),
      (4L, "plain then é"),
      (5L, "緊 mixed ascii 終")).toDF("doc_id", "text")
    val blobs = CorpusIO.warcBlobsBytes(docs, "doc_id", "text", docsPerBlob = 2)
    val parsed = CorpusIO.parseWarcBytes(blobs, "blob")
      .orderBy($"uri").collect()
    assert(parsed.length == 5)
    val byText = docs.collect().map(r =>
      s"https://example.com/doc/${r.getLong(0)}" -> r.getString(1)).toMap
    parsed.foreach { r =>
      val text = byText(r.getString(0))
      val bytes = text.getBytes("UTF-8").length.toLong
      assert(r.getLong(2) == bytes, s"declared=${r.getLong(2)} want=$bytes")
      assert(r.getLong(3) == bytes, "captured bytes != declared")
      assert(r.getLong(4) == graft.ops.PortableHash.jvmStringHash(text),
        s"payload content hash diverged for ${r.getString(0)}")
      assert(bytes > text.length, "fixture must be multi-byte to prove anything")
    }
    // the CHARACTER-based reader on the same BYTE-declared container:
    // its substring(payload, 1, content_length) bound over-reads past
    // the payload into the record terminator on every multi-byte row —
    // the documented reason parseWarcBytes exists
    val charParsed = CorpusIO.parseWarc(
        blobs.select($"blob_id", decode($"blob", "UTF-8").as("blob")), "blob")
      .orderBy($"uri").collect()
    val overRead = charParsed.filter { r =>
      val text = byText(r.getString(0))
      r.getLong(3) != text.length.toLong ||
        r.getLong(4) != graft.ops.PortableHash.jvmStringHash(text)
    }
    assert(overRead.length == charParsed.length,
      s"char-based parse should mis-capture EVERY multi-byte record, got ${overRead.length}/${charParsed.length}")
  }

  test("length-delimited framing: a payload embedding the literal WARC marker stays ONE record") {
    // a page ABOUT warc files / a warc-in-warc: the payload contains
    // the exact version-line bytes twice; marker-scan segmentation
    // provably split this at the first false marker — length-delimited
    // framing walks straight over it
    val tricky = "see WARC/1.0\r\n as the version line and a nested\r\n" +
      "WARC/1.0\r\nWARC-Target-URI: https://inner/x\r\nContent-Length: 3\r\n\r\nabc\r\n\r\n tail"
    val docs = Seq((1L, tricky), (2L, "a plain record after it"))
      .toDF("doc_id", "text")
    val blobs = CorpusIO.warcBlobsBytes(docs, "doc_id", "text", docsPerBlob = 2)
    val parsed = CorpusIO.parseWarcBytes(blobs, "blob").orderBy($"uri").collect()
    assert(parsed.length == 2,
      s"embedded marker bytes must not split the record, got ${parsed.length} records")
    val byText = docs.collect().map(r =>
      s"https://example.com/doc/${r.getLong(0)}" -> r.getString(1)).toMap
    parsed.foreach { r =>
      val text = byText(r.getString(0))
      assert(r.getLong(3) == text.getBytes("UTF-8").length.toLong)
      assert(r.getLong(4) == graft.ops.PortableHash.jvmStringHash(text),
        s"payload must survive byte-exact for ${r.getString(0)}")
    }
  }

  test("anchored headers: X-Crawler-Content-Length cannot shadow the real Content-Length") {
    val rec = "WARC/1.0\r\n" +
      "X-Crawler-Content-Length: 999\r\n" + // precedes the real header
      "WARC-Target-URI: https://x/1\r\n" +
      "WARC-Date: 2024-01-01T00:00:00Z\r\n" +
      "Content-Length: 5\r\n\r\n" +
      "hello\r\n\r\n"
    val df = Seq(Tuple1(rec.getBytes("UTF-8"))).toDF("blob")
    val r = CorpusIO.parseWarcBytes(df, "blob").collect().head
    assert(r.getString(0) == "https://x/1")
    assert(r.getLong(2) == 5L, s"declared must come from the anchored header, got ${r.getLong(2)}")
    assert(r.getLong(3) == 5L)
    assert(r.getLong(4) == graft.ops.PortableHash.jvmStringHash("hello"))
  }

  test("truncated header: CRLFCRLF-less record is dropped, the following record is recovered") {
    // record B's header never terminates (no CRLFCRLF before record C's
    // marker). The un-bounded scan would find C's CRLFCRLF and consume
    // a merged garbage header — the bounded scan drops B and resyncs to
    // C. A records cleanly before, C cleanly after.
    val rec = "WARC/1.0\r\nWARC-Target-URI: https://x/a\r\nContent-Length: 2\r\n\r\nok\r\n\r\n" +
      "WARC/1.0\r\nWARC-Target-URI: https://x/broken\r\nContent-Length: 3\r\n" + // no blank line
      "WARC/1.0\r\nWARC-Target-URI: https://x/c\r\nContent-Length: 5\r\n\r\nhello\r\n\r\n"
    val df = Seq(Tuple1(rec.getBytes("UTF-8"))).toDF("blob")
    val rows = CorpusIO.parseWarcBytes(df, "blob").orderBy($"uri").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("https://x/a", "https://x/c"),
      s"malformed-header record must drop, neighbors must survive: ${rows.map(_.getString(0)).toSeq}")
    val c = rows.find(_.getString(0) == "https://x/c").get
    assert(c.getLong(3) == 5L)
    assert(c.getLong(4) == graft.ops.PortableHash.jvmStringHash("hello"),
      "the recovered record must capture its exact payload")
  }

  test("header value ending in the marker bytes: record parses intact (resync is line-anchored)") {
    // a 'WARC-Profile' style header line whose VALUE ends with
    // 'WARC/1.0' puts the marker byte sequence INSIDE a well-formed
    // header, mid-line; a naive bounded scan would stop there, drop
    // the record, and resync into garbage — line-anchoring keeps the
    // header scan walking to its real CRLFCRLF terminator
    val rec = "WARC/1.0\r\n" +
      "WARC-Profile: http://example.org/profiles/WARC/1.0\r\n" +
      "WARC-Target-URI: https://x/profiled\r\n" +
      "Content-Length: 5\r\n\r\n" +
      "hello\r\n\r\n" +
      "WARC/1.0\r\nWARC-Target-URI: https://x/after\r\nContent-Length: 2\r\n\r\nok\r\n\r\n"
    val df = Seq(Tuple1(rec.getBytes("UTF-8"))).toDF("blob")
    val rows = CorpusIO.parseWarcBytes(df, "blob").orderBy($"uri").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("https://x/after", "https://x/profiled"),
      s"both records must parse: ${rows.map(_.getString(0)).toSeq}")
    val p = rows.find(_.getString(0) == "https://x/profiled").get
    assert(p.getLong(3) == 5L && p.getLong(4) == graft.ops.PortableHash.jvmStringHash("hello"),
      "the marker-in-header record must capture its exact payload")
  }

  test("malformed declared length: over-run clamps to container end, framing falls back to marker scan") {
    val rec = "WARC/1.0\r\nWARC-Target-URI: https://x/trunc\r\nContent-Length: 9999\r\n\r\nshort" +
      "\r\n\r\nWARC/1.0\r\nWARC-Target-URI: https://x/next\r\nContent-Length: 4\r\n\r\nnext\r\n\r\n"
    val df = Seq(Tuple1(rec.getBytes("UTF-8"))).toDF("blob")
    val rows = CorpusIO.parseWarcBytes(df, "blob").orderBy($"uri").collect()
    // over-running record clamps at the NEXT marker (not container end,
    // which would swallow the second record), and the walk recovers
    assert(rows.length == 2, s"marker-scan fallback must recover the next record, got ${rows.length}")
    val trunc = rows.find(_.getString(0) == "https://x/trunc").get
    assert(trunc.getLong(2) == 9999L)
    assert(trunc.getLong(3) < 9999L, "captured bytes must clamp below the declared over-run")
    val next = rows.find(_.getString(0) == "https://x/next").get
    assert(next.getLong(3) == 4L)
    assert(next.getLong(4) == graft.ops.PortableHash.jvmStringHash("next"))
  }

  // ---------------- readParquet: the footer schema --------------------

  private val testdata = "/root/testdata"
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def rmrf(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Both the footer schema alone and the read built on it equal
    * Spark's inference (the read would add partition columns itself).
    */
  private def assertInferred(path: String): Unit = {
    val inferred = spark.read.parquet(path).schema
    assert(FooterSchema.infer(spark, path) === inferred,
      s"footer schema differs from Spark's inference on $path")
    assert(CorpusIO.readParquet(spark, path).schema === inferred, path)
  }

  test("readParquet: the footer schema equals Spark's inference on every sf table") {
    val tables = for {
      sf <- Seq("sf0.001", "sf0.01", "sf0.1")
      f <- Option(new java.io.File(s"$testdata/$sf").listFiles).toSeq.flatten
      if f.getName.endsWith(".parquet")
    } yield f.getPath
    assert(tables.size == 30, s"expected the 10 tables of 3 scale factors, found $tables")
    // the default, and the nanosAsLong the events reader sets
    for (nanos <- Seq("false", "true"))
      withConf(NanosAsLong, nanos)(tables.foreach(assertInferred))
  }

  test("readParquet: a partitioned dir keeps its partition column, its type and its pruning") {
    val out = tmp("footer_part")
    Seq((1L, java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5), 7),
      (2L, java.time.LocalDateTime.of(2024, 6, 7, 8, 9, 10), 8))
      .toDF("id", "ts", "cluster")
      .write.mode("overwrite").partitionBy("cluster").parquet(out)
    assertInferred(out)
    val df = CorpusIO.readParquet(spark, out)
    assert(df.schema("ts").dataType === TimestampNTZType)
    assert(df.schema("cluster").dataType === IntegerType)
    val probe = df.where($"cluster" === 7)
    val scan = probe.queryExecution.sparkPlan.collectFirst { case s: FileSourceScanExec => s }
    assert(scan.exists(_.partitionFilters.nonEmpty), "cluster must stay a directory-pruning column")
    assert(probe.select($"id").as[Long].collect().toSeq === Seq(1L))
  }

  test("readParquet: INT64 TIMESTAMP(NANOS), NTZ and unannotated binary follow the session conf") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // the other encoding of the events table; Spark itself cannot write NANOS
    val dir = tmp("footer_nanos")
    rmrf(dir)
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,true));
        |  optional int64 local_ts (TIMESTAMP(MICROS,false));
        |  optional binary event_type (STRING);
        |  optional binary raw;
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"))
      .withConf(spark.sparkContext.hadoopConfiguration).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456000L)
      .append("local_ts", 1700000000123456L).append("event_type", "click")
      .append("raw", "bytes"))
    finally w.close()
    withConf(NanosAsLong, "true") {
      assertInferred(dir)
      val s = CorpusIO.readParquet(spark, dir).schema
      assert(s("ts").dataType === LongType)
      assert(s("local_ts").dataType === TimestampNTZType)
      assert(s("event_type").dataType === StringType)
      withConf("spark.sql.parquet.binaryAsString", "true") {
        assertInferred(dir)
        assert(CorpusIO.readParquet(spark, dir).schema("raw").dataType === StringType)
      }
      assert(CorpusIO.readParquet(spark, dir).select($"ts").as[Long].head() === 1700000000123456000L)
    }
  }

  test("readParquet: a missing path or an empty dir fails at construct as Spark's read does") {
    val missing = tmp("footer_missing")
    rmrf(missing)
    val e = intercept[AnalysisException](CorpusIO.readParquet(spark, missing))
    assert(e.getMessage.contains("graft_iospec_footer_missing"), e.getMessage)
    val empty = tmp("footer_empty")
    rmrf(empty)
    new java.io.File(empty).mkdirs()
    val ours = intercept[AnalysisException](CorpusIO.readParquet(spark, empty))
    val spark0 = intercept[AnalysisException](spark.read.parquet(empty))
    assert(ours.getCondition === spark0.getCondition, ours.getMessage)
  }

  /** Spark jobs that `body` starts on this thread. A marker job runs
    * after `body`: listener events arrive in order, so once its end is
    * seen every earlier job start has been counted.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID}"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val markerEnded = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      @volatile private var markerId = -1
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == "marker") markerId = e.jobId
          else started.incrementAndGet()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerId) markerEnded.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "construct")
      body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerEnded.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never ended")
      started.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("building a board row starts no Spark job once its first-touch builds exist") {
    val sf = s"$testdata/sf0.001"
    val rows = Seq("dedup_containment_cjkdict", "dedup_containment_thaidict",
      "mm_decode_meta", "mm_phash", "mm_features", "dedup_simhash_keeper",
      "rpc_correlation", "entity_latest_state")
    rows.foreach(q => SparkEntry.queries(q)(spark, sf))   // first-touch builds
    val started = rows.map(q => q -> jobsDuring(SparkEntry.queries(q)(spark, sf)))
    assert(started.forall(_._2 == 0), s"jobs started while building: $started")
  }
}
