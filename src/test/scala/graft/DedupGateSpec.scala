package graft

import graft.ops.{Dedup, WordGrain}
import org.apache.spark.sql.functions._

/** Round-15 guards on the dedup operators' runtime gates:
  *
  *  - the size-gated broadcast of the dedupLines/dedupSentences
  *    frequent set ([[Dedup.broadcastIfSmall]]): the `total / maxFreq`
  *    cardinality bound is not a broadcast GUARANTEE, so the hint must
  *    degrade to a shuffled join past `autoBroadcastJoinThreshold` —
  *    both branches exercised, the broadcast branch plan-pinned, and
  *    the RESULTS identical either way;
  *  - the strict band-table grain check
  *    ([[Dedup.incrementalNearDup]] `strictGrain`): a prior table
  *    formed by unioning band tables built under different grains
  *    passes the default one-row peek (documented hole) but must fail
  *    fast under the opt-in full-scan assert.
  */
class DedupGateSpec extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.functions.VectorFunctions.ensureRegistered(spark)
  }

  private val docs = Seq(
    (1L, "Common boilerplate sentence here! Unique alpha content one. Common boilerplate sentence here!"),
    (2L, "Common boilerplate sentence here! Unique beta content two."),
    (3L, "Common boilerplate sentence here! Unique gamma content three."),
    (4L, "Only unique delta content four.")).toDF("doc_id", "text")

  private def collectClean(df: org.apache.spark.sql.DataFrame): Map[Long, (String, Long)] =
    df.select($"doc_id", $"clean_text", $"n_removed")
      .as[(Long, String, Long)].collect()
      .map { case (id, t, n) => id -> (t, n) }.toMap

  /** Run `body` with AQE forced off — the branch where the eager
    * estimator is the only sizing information static planning has.
    */
  private def withAqeOff[A](body: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  test("AQE on: no estimator job, no lease — the unhinted join broadcasts at runtime") {
    // the round-16 gate: under AQE the helper must return its input
    // UNTOUCHED (same reference — constructing the frame pays no eager
    // aggregate and leases nothing), because AQE sizes the join from
    // exact shuffle stats at runtime
    val frequent = docs.select($"text".as("fsent"))
    assert(Dedup.broadcastIfSmall(frequent, octet_length($"fsent")) eq frequent,
      "AQE path must be the identity — no job, no hint, no lease")
    assert(frequent.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "AQE path must not persist the frequent set")
    // end to end: results correct, and the executed adaptive plan shows
    // the runtime broadcast conversion at test scale
    val out = Dedup.dedupSentences(docs, "doc_id", "text", maxFreq = 3)
    val m = collectClean(out)
    assert(m(1L) == (("Unique alpha content one.", 2L)))
    assert(m(4L) == (("Only unique delta content four.", 0L)))
    val finalPlan = out.queryExecution.executedPlan.toString
    assert(finalPlan.contains("AdaptiveSparkPlan") &&
      finalPlan.contains("BroadcastHashJoin"),
      s"AQE must convert the tiny frequent-set join to broadcast:\n$finalPlan")
  }

  test("AQE off: dedupSentences broadcasts the frequent set when it fits the threshold") {
    withAqeOff {
      val out = Dedup.dedupSentences(docs, "doc_id", "text", maxFreq = 3)
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"small frequent set must take the broadcast branch:\n$plan")
      val m = collectClean(out)
      assert(m(1L) == (("Unique alpha content one.", 2L)))
      assert(m(4L) == (("Only unique delta content four.", 0L)))
    }
  }

  test("AQE off: dedupSentences degrades to a shuffled join past the threshold, same results") {
    withAqeOff {
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(key)
      try {
        spark.conf.set(key, "-1")
        val out = Dedup.dedupSentences(docs, "doc_id", "text", maxFreq = 3)
        val plan = out.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastHashJoin"),
          s"threshold -1 must suppress the broadcast hint:\n$plan")
        assert(collectClean(out) == {
          spark.conf.set(key, prev)
          val ref = collectClean(
            Dedup.dedupSentences(docs, "doc_id", "text", maxFreq = 3))
          spark.conf.set(key, "-1")
          ref
        }, "the join strategy must not change the result")
      } finally spark.conf.set(key, prev)
    }
  }

  test("AQE off: dedupLines takes the same gate (string payload)") {
    val lineDocs = Seq(
      (1L, "boiler\nalpha\nboiler"),
      (2L, "boiler\nbeta"),
      (3L, "boiler\ngamma")).toDF("doc_id", "text")
    withAqeOff {
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(key)
      val hinted = Dedup.dedupLines(lineDocs, "doc_id", "text", maxFreq = 2)
      assert(hinted.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
      try {
        spark.conf.set(key, "0")
        val gated = Dedup.dedupLines(lineDocs, "doc_id", "text", maxFreq = 2)
        assert(!gated.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
        assert(collectClean(gated).apply(1L) == (("alpha", 2L)))
      } finally spark.conf.set(key, prev)
    }
  }

  test("strictGrain rejects a prior band table unioned across grains; the default peek documents the hole") {
    val zh = Seq((1L, "我们的朋友在中国学习中文我们的朋友在中国学习中文"),
      (2L, "plain english words repeated plain english words repeated"))
      .toDF("doc_id", "text")
    val wsBands = Dedup.bandTable(zh, "doc_id", "text", wordGrain = WordGrain.Ws)
    val autoBands = Dedup.bandTable(zh, "doc_id", "text", wordGrain = WordGrain.CjkAuto)
    val mixed = wsBands.unionByName(autoBands)
    val probe = Seq((10L, "plain english words repeated fresh")).toDF("doc_id", "text")
    // default: one-row peek sees 'ws' first and passes (the documented
    // constant-grain assumption)
    Dedup.incrementalNearDup(probe, mixed, "doc_id", "text",
      wordGrain = WordGrain.Ws).collect()
    // opt-in strict: the full-scan min/max assert catches the union
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDup(probe, mixed, "doc_id", "text",
        wordGrain = WordGrain.Ws, strictGrain = true)
    }
    assert(e.getMessage.contains("mixes grains"))
    // strict on a clean table passes
    Dedup.incrementalNearDup(probe, wsBands, "doc_id", "text",
      wordGrain = WordGrain.Ws, strictGrain = true).collect()
  }
}
