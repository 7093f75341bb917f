package graft

import graft.queries.Queries
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** Output-shape guard over EVERY registered query: no top-level ARRAY or
  * MAP column may reach the driver's comparator.
  *
  * Why this exists: the driver sorts result columns raw (pandas
  * `sort_values`), and a top-level array column is unhashable there —
  * round 5 shipped two locally-green queries (`embed_quantize`,
  * `embed_label_centroids`) that the driver marked red for exactly this.
  * The local gate (`tools/compare_oracle.py`) stringifies before sorting,
  * so this spec — which checks the ANALYZED schema, no execution beyond
  * what query construction itself does — is the only reliable guard
  * against the local/driver divergence. No whitelist: collection-valued
  * results must be serialized (hex / CSV / JSON) in the registration.
  *
  * The registry itself is guarded here too: unique names, registered
  * priced names, and every document fixture's two dialects in agreement.
  */
class QuerySchemaGuardSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** `queryMap`/`oracleMap` are built with `.toMap`, so a duplicate name
    * (say, a grain family emitting a row registered by hand too) would
    * silently replace a row; and a `priced` name that is no query would
    * silently un-price a build leg.
    */
  test("registered query names are unique and every priced name is registered") {
    val dups = Queries.all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    val names = Queries.all.map(_.name).toSet
    val unpriced = Queries.priced.filterNot(names)
    assert(unpriced.isEmpty, s"priced names that are no query: ${unpriced.toSeq.sorted.mkString(", ")}")
  }

  /** Every document fixture's two dialects, replayed side by side: the
    * Spark expression applied to the documents, and the DuckDB twin
    * relation run through `spark.sql` over a `documents` view of the same
    * table (the JudgeSpec replay: `//` becomes `div`). The rewritten
    * `(doc_id, text)` rows must be identical, so a fixture edited in one
    * dialect only fails here before any oracle compare runs.
    */
  test("every DocFixture's Spark expression and DuckDB twin rewrite the documents identically") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.select("doc_id", "text").collect().toSeq
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.createOrReplaceTempView("documents")
    val diverged = Queries.docFixtures.flatMap { case (name, fx) =>
      val viaSpark = rows(fx(docs))
      val viaTwin = rows(spark.sql(
        s"SELECT doc_id, text FROM ${fx.twin().replace(" // ", " div ")} AS twin"))
      assert(viaSpark.nonEmpty, s"$name: empty fixture output")
      val bad = viaSpark.zipAll(viaTwin, null, null).filter { case (a, b) => a != b }
      bad.headOption.map { case (a, b) => s"$name: spark $a vs twin $b (${bad.size} rows differ)" }
    }
    assert(diverged.isEmpty, diverged.mkString("\n"))
    val raw = Queries.DocFixture.raw
    assert((raw(docs) eq docs) && raw.twin("documents") === "documents",
      "the ws grain's raw fixture leaves the frame and the relation untouched")
  }

  test("a fixture's twin puts a multi-line relation on its own line, indented one space") {
    val fx = new Queries.DocFixture("text", "upper(text)")
    assert(fx.twin() === "(SELECT doc_id, upper(text) AS text FROM documents)")
    assert(fx.twin("(SELECT * FROM a\n UNION ALL\n SELECT * FROM b)") ===
      "(SELECT doc_id, upper(text) AS text FROM\n (SELECT * FROM a\n  UNION ALL\n  SELECT * FROM b))")
  }

  test("no registered query emits a top-level ArrayType or MapType column") {
    val offenders = Queries.all.flatMap { q =>
      val schema: StructType = q.spark(spark, sf).schema
      val bad = schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] => s"${f.name}: ${f.dataType.simpleString}"
        case f if f.dataType.isInstanceOf[MapType]   => s"${f.name}: ${f.dataType.simpleString}"
      }
      if (bad.isEmpty) Nil else Seq(s"${q.name} -> ${bad.mkString(", ")}")
    }
    assert(offenders.isEmpty,
      "registered queries must serialize collection columns (driver comparator " +
        s"cannot sort raw arrays):\n  ${offenders.mkString("\n  ")}")
  }

  /** Result-TYPE lock (round-9 ask #2). A query can return byte-identical
    * VALUES with a drifted column type — round 9's sole red was
    * `pipeline_cluster_budget` emitting `cluster` as string (a helper's
    * internal `cast("string")` leaking into the result) where the oracle
    * emits BIGINT. Rows/names checks and every op spec were green; only
    * the driver's hash caught it. This test pins every registered query's
    * ANALYZED schema (names + Catalyst types, in order) to the committed
    * manifest, so `cast`-style drift fails `sbt test` locally first.
    *
    * On an INTENTIONAL schema change (new query / deliberate retype with
    * the paired oracle updated): `sbt "runMain graft.tools.GenSchemaManifest"`
    * and review the manifest diff like source.
    */
  test("every registered query's result schema matches the committed type manifest") {
    val path = java.nio.file.Paths.get(graft.tools.GenSchemaManifest.ManifestPath)
    assert(java.nio.file.Files.exists(path),
      s"missing $path — generate with: sbt \"runMain graft.tools.GenSchemaManifest\"")
    val expected: Map[String, String] =
      scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(path)).asScala
        .filter(_.nonEmpty)
        .map { l => val Array(n, s) = l.split("\t", 2); n -> s }.toMap
    val actual: Map[String, String] = Queries.all.map { q =>
      val line = graft.tools.GenSchemaManifest.line(q.name, q.spark(spark, sf).schema)
      val Array(n, s) = line.split("\t", 2); n -> s
    }.toMap
    val missing = expected.keySet -- actual.keySet
    val unpinned = actual.keySet -- expected.keySet
    val drifted = actual.collect {
      case (n, s) if expected.contains(n) && expected(n) != s =>
        s"$n\n    expected ${expected(n)}\n    actual   $s"
    }
    assert(missing.isEmpty && unpinned.isEmpty && drifted.isEmpty,
      s"""schema manifest divergence (regenerate ONLY if the change is intentional
         |and the oracle SQL agrees):
         |  removed queries still pinned: ${missing.mkString(", ")}
         |  new queries not yet pinned:   ${unpinned.mkString(", ")}
         |  type drift:\n  ${drifted.mkString("\n  ")}""".stripMargin)
  }
}
