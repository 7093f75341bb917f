package graft

import graft.functions.VectorFunctions
import graft.ops.Similarity
import org.apache.spark.sql.functions._

/** Parity and behavior of the native fused-codegen cosine expression
  * against the declarative HOF formulation it replaces on the hot path.
  */
class VectorFunctionsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("native cosine is bit-identical to the HOF fold on real embeddings") {
    VectorFunctions.ensureRegistered(spark)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val pairs = e.select(col("vec_id").as("a_id"), col("embedding").as("a"))
      .crossJoin(e.select(col("vec_id").as("b_id"), col("embedding").as("b")))
      .where(col("a_id") < col("b_id")).limit(500)
    val diff = pairs
      .withColumn("native", expr(Similarity.nativeCosine("a", "b")))
      .withColumn("hof", expr(Similarity.sparkCosine("a", "b")))
      // bit-for-bit: compare raw doubles, no tolerance
      .where(col("native") =!= col("hof"))
      .count()
    assert(diff == 0, "native and HOF cosine must agree exactly")
  }

  test("native cosine handles double arrays, nulls, and self-similarity") {
    VectorFunctions.ensureRegistered(spark)
    val df = spark.sql(
      """SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS selfsim,
        |       graft_cosine(array(1.0d, 0.0d), array(0.0d, 1.0d)) AS ortho,
        |       graft_cosine(cast(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS nullsim
        |""".stripMargin).collect()(0)
    assert(df.getDouble(0) == 1.0)
    assert(df.getDouble(1) == 0.0)
    assert(df.isNullAt(2))
  }

  test("native shingle hashes are bit-identical to the declarative HOF form") {
    VectorFunctions.ensureRegistered(spark)
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val diff = d
      .withColumn("native", expr(ops.Dedup.nativeShingleHashes("text")))
      .withColumn("hof", expr(ops.Dedup.sparkShingleHashes("text")))
      .where(col("native") =!= col("hof")).count()
    assert(diff == 0, "native and HOF shingle hashes must agree exactly (incl. order)")
    // short-doc guard: below-k word counts yield an EMPTY array, not a crash
    val short = spark.sql(
      "SELECT graft_shingle_hashes(array('a', 'b'), 3) AS hs").collect()(0)
    assert(short.getSeq[Long](0).isEmpty)
  }

  test("native gram hashes and winnow fingerprints match the declarative HOF forms") {
    VectorFunctions.ensureRegistered(spark)
    import graft.ops.PortableHash.let1
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val hofFp = let1("__gh", graft.ops.TextAnalysis.hofGramHashesExpr("text", 3),
      graft.ops.TextAnalysis.hofWinnowBody("__gh", 4))
    val diff = d
      .withColumn("ng", expr("graft_gram_hashes(split(text, ' '), 3)"))
      .withColumn("hg", expr(graft.ops.TextAnalysis.hofGramHashesExpr("text", 3)))
      .withColumn("nf", expr("graft_winnow(split(text, ' '), 3, 4)"))
      .withColumn("hf", expr(hofFp))
      .where(col("ng") =!= col("hg") || col("nf") =!= col("hf")).count()
    assert(diff == 0, "compiled gram hashes / winnow must equal the HOF twins exactly")
    // edges: below-k words -> empty; grams in (0, w] -> single whole-window min
    val r = spark.sql(
      "SELECT graft_winnow(array('a', 'b'), 3, 4) AS e, " +
        "graft_winnow(array('a', 'b', 'c', 'd'), 3, 4) AS s, " +
        "graft_gram_hashes(array('a', 'b', 'c', 'd'), 3) AS g").collect()(0)
    assert(r.getSeq[Long](0).isEmpty)
    assert(r.getSeq[Long](1) == Seq(r.getSeq[Long](2).min))
  }

  test("rolling gram hashes / winnow_r match the JVM recurrence reference (r14, md5-free winnow feed)") {
    VectorFunctions.ensureRegistered(spark)
    import graft.ops.PortableHash.{P, jvmTokenRoll}
    def refGrams(ws: Seq[String], k: Int): Seq[Long] = {
      if (ws.length < k) Seq.empty
      else {
        val th = ws.map(jvmTokenRoll)
        (0 to ws.length - k).map(i =>
          (0 until k).foldLeft(7L)((g, j) => (g * 31 + th(i + j)) % P))
      }
    }
    // fixtures cover ascii, han codepoint tokens, empties (ws keeps
    // them), astral plane, combining marks
    val rows = Seq(
      Seq("the", "quick", "brown", "fox", "jumps"),
      Seq("中", "文", "的", "中", "文"),
      Seq("a", "", "b", "c"),
      Seq("😀", "é", "x", "y", "z"))
    rows.foreach { ws =>
      val arr = ws.map(s => s"'${s.replace("'", "''")}'").mkString("array(", ", ", ")")
      val got = spark.sql(
        s"SELECT graft_gram_rhashes($arr, 3) AS g, graft_winnow_r($arr, 3, 2) AS f")
        .collect()(0)
      val ref = refGrams(ws, 3)
      assert(got.getSeq[Long](0) == ref, s"gram roll mismatch on $ws")
      val refFp =
        if (ref.isEmpty) Seq.empty
        else if (ref.length <= 2) Seq(ref.min)
        else (0 to ref.length - 2).map(i => ref.slice(i, i + 2).min).distinct.sorted
      assert(got.getSeq[Long](1) == refFp, s"winnow_r mismatch on $ws")
    }
    // the selection guarantee survives the hash swap: winnowSets on a
    // planted shared run still shares a fingerprint
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "prefix words alpha beta gamma delta epsilon zeta eta theta suffix")
    ).toDF("doc_id", "text")
    val sets = graft.ops.TextAnalysis.winnowSets(docs, "doc_id", "text")
      .select(col("doc_id"), col("fingerprints"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sets(1L).toSet.intersect(sets(2L).toSet).nonEmpty,
      "shared >= w+k-1 run must still guarantee a shared fingerprint")
  }

  test("native minhash signature and band buckets match the HOF fold") {
    VectorFunctions.ensureRegistered(spark)
    import graft.ops.PortableHash._
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), expr(ops.Dedup.nativeShingleHashes("text")).as("hs"))
      .where(size(col("hs")) > 0)
    val sigHof = (0 until 16).map { i =>
      s"array_min(transform(hs, h -> ${universal(i, "h")}))"
    }.mkString("array(", ", ", ")")
    val bandsHof = (0 until 4).map { b =>
      val sig = (4 * b until 4 * b + 4).map { i =>
        s"array_min(transform(hs, h -> ${universal(i, "h")}))"
      }.mkString("array(", ", ", ")")
      sparkFoldHashes(sig)
    }.mkString("array(", ", ", ")")
    val diff = d
      .withColumn("nsig", expr("graft_minhash_sig(hs, 16)"))
      .withColumn("hsig", expr(sigHof))
      .withColumn("nband", expr("graft_band_buckets(hs, 4, 4)"))
      .withColumn("hband", expr(bandsHof))
      .where(col("nsig") =!= col("hsig") || col("nband") =!= col("hband"))
      .count()
    assert(diff == 0, "native minhash sig / band buckets must agree exactly")
  }

  test("two-pointer intersect count equals array_intersect size on sorted arrays") {
    VectorFunctions.ensureRegistered(spark)
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), expr(ops.Dedup.nativeShingleHashes("text")).as("g"))
      .where(size(col("g")) > 0)
    val a = d.select(col("doc_id").as("a_id"), expr("sort_array(g)").as("ga"))
    val b = d.select(col("doc_id").as("b_id"), expr("sort_array(g)").as("gb"))
    val diff = a.crossJoin(b).where(col("a_id") < col("b_id")).limit(2000)
      .where(expr("graft_intersect_count(ga, gb)") =!=
        expr("size(array_intersect(ga, gb))")).count()
    assert(diff == 0, "merge-based and hash-based intersect counts must agree")
  }

  test("native n-grams are identical to the declarative HOF form") {
    VectorFunctions.ensureRegistered(spark)
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val diff = d
      .withColumn("native", expr("graft_ngrams(split(text, ' '), 2)"))
      .withColumn("hof", expr(ops.TextAnalysis.hofNgramsExpr("text", 2)))
      .where(col("native") =!= col("hof")).count()
    assert(diff == 0, "native and HOF n-grams must agree exactly (order and occurrences)")
  }

  test("native hyperplane bucket matches the HOF form on float embeddings") {
    VectorFunctions.ensureRegistered(spark)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val diff = e
      .withColumn("native", expr("graft_hyperplane_bucket(embedding, 8)"))
      .withColumn("hof", expr(ops.Similarity.hofBucketExpr("embedding", 8)))
      .where(col("native") =!= col("hof")).count()
    assert(diff == 0, "native and HOF hyperplane buckets must agree exactly")
  }

  test("native stop count and token count match the declarative forms") {
    VectorFunctions.ensureRegistered(spark)
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val diff = d
      .withColumn("nstop", expr(ops.TextAnalysis.stopwordRatioExpr("text")))
      .withColumn("hstop", expr(ops.TextAnalysis.hofStopwordRatioExpr("text")))
      .withColumn("ntok", expr(ops.TextAnalysis.nTokensExpr("text")))
      .withColumn("htok", expr(ops.TextAnalysis.hofTokensExpr("text")))
      .where(col("nstop") =!= col("hstop") || col("ntok") =!= col("htok"))
      .count()
    assert(diff == 0, "native stopword ratio / token count must match the HOF/regex forms")
  }

  test("native term counts match the declarative split+filter HOF form") {
    VectorFunctions.ensureRegistered(spark)
    import spark.implicits._
    // corpus rows plus adversarial shapes: empty, all-spaces, space runs,
    // term at both ends, unicode neighbors, term as substring (no match)
    val edge = Seq("", "   ", "dup", " dup  dup ", "dup x dup", "xdup dupx",
      "héllo dup wörld", "dup dup dup dup").toDF("text")
    val d = spark.read.parquet(s"$sf/documents.parquet").select($"text")
      .union(edge)
    val hof = "filter(split(text, ' '), w -> w <> '')"
    val diff = d
      .withColumn("k", expr("graft_term_counts(text, array('dup', 'vector'))"))
      .withColumn("h", expr(
        s"element_at(transform(array($hof), __t -> array(cast(size(__t) AS BIGINT), " +
          "cast(size(filter(__t, w -> w = 'dup')) AS BIGINT), " +
          "cast(size(filter(__t, w -> w = 'vector')) AS BIGINT))), 1)"))
      .where($"k" =!= $"h").count()
    assert(diff == 0, "graft_term_counts must match the split+filter HOFs")
  }

  test("native hash embed matches the declarative per-bucket folds") {
    VectorFunctions.ensureRegistered(spark)
    import spark.implicits._
    val h = ops.PortableHash.sparkStringHash("t")
    val dim = 16
    val d = spark.read.parquet(s"$sf/documents.parquet").select($"text")
      .union(Seq("", "one", "héllo wörld unicode").toDF("text"))
      .withColumn("toks",
        expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)"))
    val diff = d
      .withColumn("k", expr(s"graft_hash_embed(toks, $dim)"))
      .withColumn("h", expr(
        s"transform(sequence(0, ${dim - 1}), j -> " +
          s"aggregate(toks, cast(0 AS BIGINT), (acc, t) -> acc + " +
          s"IF(($h % $dim) = j, IF((($h div $dim) % 2) = 0, -1L, 1L), 0L)))"))
      .where($"k" =!= $"h").count()
    assert(diff == 0, "graft_hash_embed must match the declarative folds")
  }

  test("fused hash-embed-text matches regexp tokenization + array embed") {
    VectorFunctions.ensureRegistered(spark)
    import spark.implicits._
    val edge = Seq("", " ", "abc", "abc123", "a1b2c3", "héllo, wörld!",
      "日本語 text", "tabs\tand\nnewlines", "!!!", "a  b   c").toDF("text")
    val d = spark.read.parquet(s"$sf/documents.parquet").select($"text")
      .union(edge)
    val diff = d
      .withColumn("f", expr("graft_hash_embed_text(text, 16)"))
      .withColumn("r", expr(
        "graft_hash_embed(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0), 16)"))
      .where($"f" =!= $"r").count()
    assert(diff == 0, "fused kernel must match the regexp + array-kernel chain")
  }

  test("native simhash and fingerprint match the declarative HOF folds") {
    VectorFunctions.ensureRegistered(spark)
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val diff = d
      .withColumn("nsim", expr("graft_simhash(split(text, ' '), 30)"))
      .withColumn("hsim", expr(ops.Dedup.hofSimhashExpr("text", 30)))
      .withColumn("nfp", expr("graft_fingerprint(split(text, ' '))"))
      .withColumn("hfp", expr(ops.TextAnalysis.hofFingerprintExpr("text")))
      .where(col("nsim") =!= col("hsim") || col("nfp") =!= col("hfp"))
      .count()
    assert(diff == 0, "native simhash/fingerprint must agree with HOF folds exactly")
  }

  test("GraftExtensions injects every native function at session build time") {
    import org.apache.spark.sql.SparkSession
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // shares the JVM's SparkContext; extensions apply to the NEW session
      val s2 = SparkSession.builder().master("local[2]")
        .withExtensions(new graft.functions.GraftExtensions).getOrCreate()
      val row = s2.sql(
        """SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c,
          |       graft_fingerprint(array('a', 'b')) AS f,
          |       size(graft_shingle_hashes(array('a', 'b', 'c', 'd'), 3)) AS n
          |""".stripMargin).collect()(0)
      assert(row.getDouble(0) == 1.0)
      // fold: ((7*31 + H(a)) % P * 31 + H(b)) % P
      import graft.ops.PortableHash.jvmStringHash
      assert(row.getLong(1) ==
        (((7L * 31 + jvmStringHash("a")) % graft.functions.HashOps.P) * 31 +
          jvmStringHash("b")) % graft.functions.HashOps.P)
      assert(row.getInt(2) == 2)
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("native cosine participates in whole-stage codegen (HOF form cannot)") {
    VectorFunctions.ensureRegistered(spark)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = e.select(expr(Similarity.nativeCosine("embedding", "embedding")).as("s"))
      .queryExecution.executedPlan.toString
    // `*(n)` marks operators fused into WholeStageCodegen stage n
    assert(p.matches("(?s).*\\*\\(\\d+\\) Project \\[graft_cosine.*"),
      s"graft_cosine projection must stay inside whole-stage codegen:\n$p")
  }

  test("vector and bloom kernels: interpreted eval equals generated code, edge rows included") {
    import spark.implicits._
    VectorFunctions.ensureRegistered(spark)
    // parquet-backed, so no rule folds the projection into a local
    // relation (which would evaluate it interpreted on both runs)
    val path = java.nio.file.Files.createTempDirectory("graft_kernel_parity").toString
    spark.sql(
      """SELECT 0 AS id, array(1.5f, -2.0f, 0.25f, 3.0f) AS ff,
        |  array(0.5d, 1.0d, -1.0d, 2.0d) AS dd, array(1, 0) AS codes,
        |  array(10d, 20d, 30d, 40d) AS flat, unhex('0100') AS packed, array(5L, 6L) AS hs
        |UNION ALL SELECT 1, array(1.0f, CAST(NULL AS FLOAT), 2.0f),
        |  array(CAST(NULL AS DOUBLE), 1d, 2d), array(1, NULL),
        |  array(10d, 20d, 30d, 40d), unhex('00'), array(CAST(NULL AS BIGINT), 5L)
        |UNION ALL SELECT 2, CAST(array() AS ARRAY<FLOAT>), CAST(array() AS ARRAY<DOUBLE>),
        |  CAST(array() AS ARRAY<INT>), CAST(array() AS ARRAY<DOUBLE>), unhex(''),
        |  CAST(array() AS ARRAY<BIGINT>)
        |UNION ALL SELECT 3, array(0f, 0f, 0f, 0f), array(0d, 0d, 0d, 0d), array(0, 1),
        |  array(10d, 20d, 30d, 40d), unhex('0001'), array(6L)
        |UNION ALL SELECT 4, array(-1f), array(2d, 2d), array(7, 1), array(10d, 20d, 30d, 40d),
        |  unhex('FF01'), array(7L, 8L)
        |UNION ALL SELECT 5, NULL, NULL, NULL, NULL, NULL, NULL
        |""".stripMargin).write.mode("overwrite").parquet(path)
    val rows = spark.read.parquet(path)
    val sketch = graft.ops.BloomJoin.sketchOf(Seq(5L).toDF("v"), "v", expected = 10)
    val kernels = Seq(
      "graft_cosine(ff, dd)", "graft_cosine(dd, reverse(dd))", "graft_cosine(ff, reverse(ff))",
      "graft_dist2(ff, dd)", "graft_dist2(dd, reverse(ff))",
      "graft_dot(ff, dd)", "graft_dot(reverse(dd), ff)",
      "graft_pq_adc(codes, flat, 2)", "graft_pq_adc_packed(packed, flat, 2)",
      "graft_binary_sketch(ff, 10)", "graft_binary_sketch(dd, 2)",
      graft.ops.BloomJoin.anySql(sketch, "hs"))
    def run(k: String): (Seq[(Int, Any)], Boolean) = {
      val sel = rows.selectExpr("id", k)
      val wholeStage = sel.queryExecution.executedPlan
        .find(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]).isDefined
      (sel.collect().map(r => r.getInt(0) -> r.get(1)).toSeq.sortBy(_._1), wholeStage)
    }
    val generated = kernels.map { k =>
      // wholeStage off alone still compiles the projection; NO_CODEGEN
      // makes it call each kernel's nullSafeEval
      val (interp, interpWs) = withSQLConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run(k))
      val (gen, genWs) = run(k)
      assert(!interpWs && genWs, s"$k: the two runs must take different eval paths")
      assert(interp == gen, s"$k: interpreted $interp != generated $gen")
      k -> gen.toMap
    }.toMap
    assert(generated.values.forall(_(5) == null), "a NULL input yields NULL")
    assert(Seq(0, 1, 2).forall(k => generated(kernels(k))(3) == 0.0), "sim(0, .) = 0")
    assert(generated("graft_pq_adc(codes, flat, 2)") ==
      Map(0 -> 50.0, 1 -> 20.0, 2 -> 0.0, 3 -> 50.0, 4 -> 40.0, 5 -> null),
      "null and out-of-range codes contribute nothing")
    assert(generated("graft_pq_adc_packed(packed, flat, 2)") ==
      Map(0 -> 50.0, 1 -> 10.0, 2 -> 0.0, 3 -> 50.0, 4 -> 40.0, 5 -> null))
    assert(generated("graft_binary_sketch(ff, 10)")(0) == 13L, "bits beyond the length are 0")
    assert(generated(kernels.last) ==
      Map(0 -> true, 1 -> true, 2 -> false, 3 -> false, 4 -> false, 5 -> null))
  }

  test("arity guard: one argument past the largest arity fails analysis, for every function") {
    VectorFunctions.ensureRegistered(spark)
    VectorFunctions.all.foreach { f =>
      val n = f.arities.max + 1
      val e = intercept[Exception](
        spark.sql(s"SELECT ${f.name}(${Seq.fill(n)("NULL").mkString(", ")})"))
      assert(s"${f.name} expects [0-9]+( or [0-9]+)* argument\\(s\\), got $n".r
        .findFirstIn(e.getMessage).isDefined, s"${f.name}: ${e.getMessage}")
    }
    val e = intercept[Exception](
      spark.sql("SELECT graft_term_counts(NULL, NULL, NULL, NULL)"))
    assert(e.getMessage.contains("graft_term_counts expects 2 or 3 argument(s), got 4"),
      e.getMessage)
  }

  test("a column where an INT literal is required fails analysis naming the function") {
    import spark.implicits._
    VectorFunctions.ensureRegistered(spark)
    val df = Seq((Seq("a", "b", "c"), 2)).toDF("x", "k")
    val e = intercept[Exception](df.selectExpr("graft_winnow(x, k, 5)"))
    assert(e.getMessage.contains("graft_winnow expects a literal INT argument"), e.getMessage)
  }
}
