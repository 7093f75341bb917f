package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

import graft.functions.VectorFunctions
import graft.ops.BloomJoin

/** Bloom-prefiltered semi/anti joins: exactness vs the plain joins
  * (false positives cleared by the residual check, no false negatives),
  * null-key parity, and both probe expressions down the eval AND codegen
  * paths.
  */
class BloomJoinSpec extends SparkSpec {
  import spark.implicits._

  private def big = (1L to 1000L).map(i => (i, s"row$i")).toDF("k", "payload")
  // membership set: multiples of 7
  private def small = (1L to 1000L).filter(_ % 7 == 0).map(i => (i, "x")).toDF("sk", "junk")

  test("semiJoin equals plain left_semi (false positives cleared)") {
    // tiny sketch (64 expected, 25% fpp) FORCES false positives over
    // 1000 probes, so the residual join's cleanup is actually exercised
    val got = BloomJoin.semiJoin(big, small, "k", "sk", expected = 64, fpp = 0.25)
      .select("k").as[Long].collect().sorted
    val want = big.join(small, $"k" === $"sk", "left_semi")
      .select("k").as[Long].collect().sorted
    assert(got.sameElements(want))
    assert(want.length == 142)
  }

  test("antiJoin equals plain left_anti, null keys kept on both") {
    val withNull = big.unionAll(Seq((null.asInstanceOf[java.lang.Long], "nullrow"))
      .toDF("k", "payload"))
    val got = BloomJoin.antiJoin(withNull, small, "k", "sk", expected = 64, fpp = 0.25)
      .select("payload").as[String].collect().sorted
    val want = withNull.join(small, $"k" === $"sk", "left_anti")
      .select("payload").as[String].collect().sorted
    assert(got.sameElements(want))
    assert(got.contains("nullrow"), "anti join keeps null-key rows")
    assert(got.length == 1000 - 142 + 1)
  }

  test("graft_bloom_contains: no false negatives on long and string keys") {
    val longSketch = BloomJoin.sketchOf(small, "sk", expected = 1000)
    val members = VectorFunctions.attach(big)
      .where(expr(BloomJoin.containsSql(longSketch, "k")))
      .select("k").as[Long].collect().toSet
    assert((1L to 1000L).filter(_ % 7 == 0).forall(members.contains),
      "every true member must pass the probe")

    val strs = Seq("alpha", "beta", "gamma").toDF("s")
    val strSketch = BloomJoin.sketchOf(strs, "s", expected = 100)
    val probe = Seq("alpha", "beta", "gamma", "delta", "epsilon").toDF("s")
    val kept = VectorFunctions.attach(probe)
      .where(expr(BloomJoin.containsSql(strSketch, "s")))
      .select("s").as[String].collect().toSet
    assert(Set("alpha", "beta", "gamma").subsetOf(kept))
  }

  test("graft_bloom_any: short-circuit over arrays, null element skipped, null array -> null") {
    val sketch = BloomJoin.sketchOf(Seq(100L, 200L).toDF("v"), "v", expected = 10, fpp = 0.001)
    val df = VectorFunctions.attach(Seq(
      (1L, Seq[java.lang.Long](1L, 2L, 100L)),   // hit
      (2L, Seq[java.lang.Long](1L, 2L, 3L)),     // miss
      (3L, Seq[java.lang.Long](null, 200L)),     // null element skipped, then hit
      (4L, Seq.empty[java.lang.Long])            // empty -> false
    ).toDF("id", "hs"))
    val got = df.select($"id", expr(BloomJoin.anySql(sketch, "hs")).as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> true, 4L -> false))

    val nullArr = VectorFunctions.attach(
      spark.sql("SELECT CAST(NULL AS ARRAY<BIGINT>) AS hs"))
    assert(nullArr.select(expr(BloomJoin.anySql(sketch, "hs"))).head.isNullAt(0),
      "null array yields null, matching exists() semantics")
  }

  test("probe expressions survive both codegen and interpreted eval") {
    val sketch = BloomJoin.sketchOf(Seq(5L).toDF("v"), "v", expected = 10)
    // through parquet: a local Seq relation would have the projection
    // folded into it and evaluated interpreted on both runs
    val path = java.nio.file.Files.createTempDirectory("graft_bloom_probe_spec").toString
    Seq((5L, Seq(5L)), (6L, Seq(6L))).toDF("k", "hs")
      .coalesce(1).write.mode("overwrite").parquet(path)
    val df = VectorFunctions.attach(spark.read.parquet(path))
    // a def: each run plans afresh, so the interpreted run is not handed
    // the first run's whole-stage plan
    def sel = df.select(
      expr(BloomJoin.containsSql(sketch, "k")).as("c"),
      expr(BloomJoin.anySql(sketch, "hs")).as("a"))
    val codegen = sel.collect()
    val interpreted = withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") { sel.collect() }
    assert(codegen.toSeq == interpreted.toSeq)
    assert(codegen.map(r => (r.getBoolean(0), r.getBoolean(1))).toSeq ==
      Seq((true, true), (false, false)))
  }

  test("decontaminate bloom variant equals the exact broadcast-set variant") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "the quick brown fox runs through the field"),
      (4L, "completely unrelated text about spark engines"),
      (5L, "sphinx of black quartz judge my vow")
    ).toDF("doc_id", "text")
    val bench = docs.where($"doc_id" === 1L)
    val corpus = docs.where($"doc_id" > 1L)
    val exact = graft.ops.Decontaminate.cleanDocs(corpus, bench, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    val bloomed = graft.ops.Decontaminate.cleanDocsBloom(corpus, bench, "doc_id", "text",
        expectedShingles = 32, fpp = 0.3) // high fpp: exercise the residual path
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    assert(bloomed.sameElements(exact))
    assert(exact.nonEmpty && exact.length < 4,
      s"fixture must exercise both keep and drop branches, got ${exact.toSeq}")
  }

  test("incremental snapshot dedup drops re-crawls, keeps fresh docs") {
    val prior = Seq((1L, "alpha doc"), (2L, "beta doc"), (3L, "gamma doc"))
      .toDF("doc_id", "text")
    val newSnap = Seq(
      (10L, "alpha doc"),   // re-crawl of 1 -> dropped
      (11L, "delta doc"),   // fresh -> kept
      (12L, "beta doc"),    // re-crawl of 2 -> dropped
      (13L, "epsilon doc")  // fresh -> kept
    ).toDF("doc_id", "text")
    val kept = graft.ops.Dedup.incrementalNew(newSnap, prior, "doc_id", "text",
        expectedPrior = 16, fpp = 0.25)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(11L, 13L)))
  }

  test("zero-row build side: empty filter, not a crash (r15 sweep find)") {
    // Spark's stat.bloomFilter NPEs on an empty frame (uninitialized
    // merge buffer); sketchOf maps it to an explicit empty filter —
    // every probe false — so the join wrappers and the decontamination
    // guard keep their exact semantics on an empty small side
    val none = small.where(lit(false))
    assert(BloomJoin.semiJoin(big, none, "k", "sk", 16).count() == 0L)
    assert(BloomJoin.antiJoin(big, none, "k", "sk", 16).count() == 1000L)
    // cleanDocsBloom with a ZERO-SHINGLE benchmark (all docs shorter
    // than k) ≡ cleanDocs: everything kept — the bloom variant crashed
    // here before the fix while the exact variant was correct
    val corpus = Seq((1L, "alpha beta gamma delta"), (2L, "x y z w")).toDF("doc_id", "text")
    val bench  = Seq((90L, "one two")).toDF("doc_id", "text") // < k=3 words: no shingles
    val viaBloom = graft.ops.Decontaminate.cleanDocsBloom(corpus, bench, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val viaExact = graft.ops.Decontaminate.cleanDocs(corpus, bench, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(viaBloom == viaExact && viaBloom.size == 2)
  }

}
