package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.ops.{Pq, Similarity}

/** Product quantization: the lossless-regime exactness invariant, code
  * well-formedness, determinism, and the compiled ADC kernel itself.
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  // 8 fixed 8-dim vectors, pairwise distinct in every 4-dim subspace
  private def corpus = (0 until 8).map { i =>
    (i.toLong, Array.tabulate(8)(d => (math.sin(i * 8 + d + 1) * 10).toFloat))
  }.toDF("vec_id", "embedding")

  test("lossless regime: kSub = corpus size makes ADC equal exact cosine") {
    // every subvector is its own centroid (init = all ids, singleton
    // clusters are Lloyd's fixed point) -> reconstruction is exact except
    // for the round(...,6) the centroid emission applies, so ADC sim must
    // match exact cosine to ~1e-5
    val pq = Pq.pqTopK(corpus, "vec_id", "embedding", k = 3,
        dim = 8, m = 2, kSub = 8, iters = 1, queryPred = col("v_id") < 4)
      .select($"q_id", $"c_id", $"sim".as("pq_sim"))
    val exact = Similarity.bruteForceTopK(corpus,
        corpus.where($"vec_id" < 4), "vec_id", "embedding", k = 3)
      .select($"q_id", $"c_id", $"sim".as("ex_sim"))
    val joined = pq.join(exact, Seq("q_id", "c_id"), "full")
      .collect()
    assert(joined.length == 12, s"rank sets must coincide, got ${joined.length}")
    joined.foreach { r =>
      assert(!r.isNullAt(2) && !r.isNullAt(3), s"one side missed pair $r")
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-5,
        s"ADC must reproduce exact cosine in the lossless regime: $r")
    }
  }

  test("residual IVF-PQ recall >= non-residual at equal code budget (planted clusters)") {
    // 4 well-separated clusters (centers 10·e_{2t}) + unit-scale within-
    // cluster noise: non-residual codebooks must spend their kSub=4
    // centroids covering the CENTERS, residual codebooks only cover the
    // noise — the construction's textbook win. nprobe = nCoarse isolates
    // code loss from routing loss.
    val planted = (0 until 64).map { i =>
      val axis = 2 * (i % 4)
      (i.toLong, Array.tabulate(8)(d =>
        ((if (d == axis) 10.0 else 0.0) + math.sin(i * 17 + d * 3)).toFloat))
    }.toDF("vec_id", "embedding")
    def mean(df: org.apache.spark.sql.DataFrame): Double = {
      val r = df.agg(avg($"recall")).collect().head.getDouble(0)
      graft.ops.Caches.releaseAll()
      r
    }
    val res = mean(graft.ops.Eval.ivfPqResidualRecallAtK(planted,
      "vec_id", "embedding", k = 3, dim = 8, m = 4, kSub = 4, iters = 2,
      nCoarse = 4, coarseIters = 2, nprobe = 4, queryPred = col("v_id") < 8))
    val nonres = mean(graft.ops.Eval.ivfPqRecallAtK(planted,
      "vec_id", "embedding", k = 3, dim = 8, m = 4, kSub = 4, iters = 2,
      nCoarse = 4, coarseIters = 2, nprobe = 4, queryPred = col("v_id") < 8))
    assert(res >= nonres,
      s"residual encoding must not lose recall at equal budget: residual=$res non-residual=$nonres")
    assert(res > 0.5, s"residual recall vacuously low: $res (fixture broken?)")
  }

  test("codes are m ints in [0, kSub); encode is deterministic") {
    val cent = Pq.pqCentroids(corpus, "vec_id", "embedding",
      dim = 8, m = 2, kSub = 4, iters = 2)
    val enc = Pq.pqEncode(corpus, "vec_id", "embedding", cent, m = 2, w = 4)
    val rows = enc.select($"v_id", $"codes").as[(Long, Seq[Int])].collect()
    assert(rows.length == 8)
    rows.foreach { case (_, codes) =>
      assert(codes.length == 2)
      assert(codes.forall(c => c >= 0 && c < 4), s"code out of range: $codes")
    }
    val again = Pq.pqEncode(corpus, "vec_id", "embedding", cent, m = 2, w = 4)
      .select($"v_id", $"codes").as[(Long, Seq[Int])].collect()
    assert(rows.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("graft_pq_adc: codegen/interpreted parity and known lookup sum") {
    // through parquet: a local Seq relation would have the projection
    // folded into it and evaluated interpreted on both runs
    val path = java.nio.file.Files.createTempDirectory("graft_pq_adc_spec").toString
    Seq(
      (Seq(1, 0), Seq(10.0, 20.0, 30.0, 40.0)), // 1*2+1=idx1 -> 20 ; 1*2+0=idx2 -> 30
      (Seq(0, 1), Seq(10.0, 20.0, 30.0, 40.0))  // idx0 -> 10 ; idx3 -> 40
    ).toDF("codes", "flat").coalesce(1).write.mode("overwrite").parquet(path)
    val df = VectorFunctions.attach(spark.read.parquet(path))
    // a def: a second action on one Dataset reuses its generated plan
    def sel = df.select(expr("graft_pq_adc(codes, flat, 2)").as("s"))
    assert(sel.as[Double].collect().toSeq == Seq(50.0, 50.0))
    // wholeStage off alone still compiles the projection; NO_CODEGEN
    // makes it call nullSafeEval
    val interp = withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") { sel.as[Double].collect().toSeq }
    assert(interp == Seq(50.0, 50.0))
  }

  test("IVF-PQ collapses to exact when every cluster is probed and codes are lossless") {
    // nprobe = nCoarse removes the routing loss; kSub = corpus size
    // removes the code loss -> the combined index must return exactly
    // the brute-force result (same pinning as the IVF recall gate)
    val pq = Pq.ivfPqTopK(corpus, "vec_id", "embedding", k = 3,
        dim = 8, m = 2, kSub = 8, iters = 1,
        nCoarse = 2, coarseIters = 2, nprobe = 2, queryPred = col("v_id") < 4)
      .select($"q_id", $"c_id", $"sim".as("pq_sim"))
    val exact = Similarity.bruteForceTopK(corpus,
        corpus.where($"vec_id" < 4), "vec_id", "embedding", k = 3)
      .select($"q_id", $"c_id", $"sim".as("ex_sim"))
    val joined = pq.join(exact, Seq("q_id", "c_id"), "full").collect()
    assert(joined.length == 12, s"rank sets must coincide, got ${joined.length}")
    joined.foreach { r =>
      assert(!r.isNullAt(2) && !r.isNullAt(3), s"one side missed pair $r")
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-5, s"sim drift: $r")
    }
  }

  test("IVF-PQ with single-probe routing returns a subset ranking per query") {
    val res = Pq.ivfPqTopK(corpus, "vec_id", "embedding", k = 3,
        dim = 8, m = 2, kSub = 4, iters = 2,
        nCoarse = 4, coarseIters = 1, nprobe = 1, queryPred = col("v_id") < 4)
      .collect()
    assert(res.nonEmpty)
    val byQ = res.groupBy(_.getLong(0))
    byQ.foreach { case (_, rows) =>
      val ranks = rows.map(_.getInt(3)).sorted
      assert(ranks.zipWithIndex.forall { case (r, i) => r == i + 1 },
        s"ranks must be dense from 1: ${ranks.toSeq}")
    }
  }

  test("packed ADC is bit-equal to the unpacked kernel") {
    val unpacked = Pq.pqTopK(corpus, "vec_id", "embedding", k = 3,
        dim = 8, m = 2, kSub = 4, iters = 2, queryPred = col("v_id") < 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val packed = Pq.pqTopKPacked(corpus, "vec_id", "embedding", k = 3,
        dim = 8, m = 2, kSub = 4, iters = 2, queryPred = col("v_id") < 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(packed.sorted.sameElements(unpacked.sorted))
  }

  test("pq recall gate is non-vacuous and bounded") {
    val big = (0 until 64).map { i =>
      (i.toLong, Array.tabulate(8)(d => (math.cos(i * 3 + d) * 5).toFloat))
    }.toDF("vec_id", "embedding")
    val rec = graft.ops.Eval.pqRecallAtK(big, "vec_id", "embedding", k = 3,
        dim = 8, m = 2, kSub = 8, iters = 2, queryPred = col("v_id") < 5)
      .select($"q_id", $"recall").as[(Long, Double)].collect().toMap
    assert(rec.size == 5)
    assert(rec.values.forall(r => r >= 0.0 && r <= 1.0))
    assert(rec.values.sum > 0.0, "PQ at these parameters must recover some true neighbors")
  }
}
