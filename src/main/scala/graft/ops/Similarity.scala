package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Dot products / norms are sequential left folds in double precision —
  * order-stable, so the DuckDB oracle (the same fold via `list_reduce`)
  * matches bit-for-bit. The hot path runs on the native compiled
  * expressions in [[graft.functions]] (`graft_cosine`,
  * `graft_hyperplane_bucket`, `graft_topk`); the declarative HOF twins
  * remain as parity baselines.
  *
  * Scale (100 TB of vectors):
  *  - [[bruteForceTopK]] broadcasts the (small) query set and makes ONE
  *    scan over the corpus; the per-query top-k is a two-stage
  *    aggregation (partial top-k per map partition, merged at reduce), so
  *    the shuffle carries ≤ (#queries × k × #partitions) rows — never the
  *    corpus. No window sort over the full corpus.
  *  - [[lshBuckets]] is the scale path for high query counts: deterministic
  *    random-hyperplane signs bucket the corpus in one linear pass;
  *    candidate search then joins only within buckets (IVF-style).
  */
object Similarity {

  /** Per-query top-k via the bounded-heap aggregate
    * ([[graft.functions.TopKAgg]]): map-side partial aggregation reduces
    * each scan task's candidates to a k-item heap, so the one exchange
    * carries ≤ #queries × k × #map-partitions rows — the window
    * formulation (`row_number() OVER (PARTITION BY q_id ...)`) instead
    * shuffles and sorts EVERY scored candidate. Total order matches the
    * window twin: sim DESC, c_id ASC.
    */
  private[ops] def topkByQuery(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("q_id"))
      .agg(expr(s"graft_topk(sim, c_id, $k)").as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.c_id").as("c_id"), col("col.sim").as("sim"),
        (col("pos") + 1).as("rank"))

  /** Native fused-codegen cosine ([[graft.functions.CosineSim]]) — the
    * hot-path form used by every ANN operator below. Bit-identical to
    * [[sparkCosine]] (same sequential fold order, independent
    * accumulators) but compiled: the HOF form is CodegenFallback and
    * interprets three lambda folds per pair.
    */
  def nativeCosine(a: String, b: String): String = s"graft_cosine($a, $b)"

  private def withCosine(df: DataFrame): DataFrame =
    graft.functions.VectorFunctions.attach(df)

  /** Spark-dialect cosine between two double-array SQL fragments (the
    * declarative HOF twin of [[nativeCosine]] — kept as the parity
    * baseline; see VectorFunctionsSpec).
    */
  def sparkCosine(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"aggregate(zip_with($x, $y, (p, q) -> cast(p AS DOUBLE) * cast(q AS DOUBLE)), " +
        s"cast(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    // zero-magnitude convention (see HashOps.cosine): sim(0⃗, ·) = 0. Without
    // it the ENGINES diverge, not just misbehave — Spark 0/0 is NaN
    // (sorts greatest), DuckDB x/0 is NULL (sorts last under DESC) —
    // and real corpora contain zero embeddings (failed encoder output).
    s"(IF(sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}) = 0.0D, 0.0D, " +
      s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))))"
  }

  /** DuckDB-dialect twin: identical fold order, double arithmetic, and
    * zero-magnitude convention (a cross-engine NECESSITY, not style:
    * DuckDB x/0 is NULL where Spark 0/0 is NaN).
    */
  def duckCosine(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len($x)), " +
        s"i -> ($x)[i]::DOUBLE * ($y)[i]::DOUBLE)), (acc, v) -> acc + v)"
    s"(CASE WHEN sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}) = 0.0 THEN 0.0 " +
      s"ELSE ${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})) END)"
  }

  /** Exact top-k cosine neighbors for each query vector.
    *
    * `queries` (small: broadcast) × `corpus` (huge: one scan). The top-k
    * is computed with a partial-aggregating `max_by`-style reduction:
    * sort_array over per-partition collected candidates would regress to
    * a full sort, so instead each map task keeps candidates and the
    * reduce side slices the k best — expressed as
    * `slice(array_sort(collect_list(...)), 1, k)`. collect_list here is
    * bounded per query by the corpus partition count × k after the
    * pre-filter below; for very large corpora swap in the
    * `localTopK` mapPartitions variant.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec")))
    val c = Par.floor(withCosine(corpus), col(idCol))
      .select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
    val scored = q.join(c, col("q_id") =!= col("c_id"))
      .withColumn("sim", round(expr(nativeCosine("q_vec", "c_vec")), 6))
    topkByQuery(scored, k)
  }

  def bruteForceTopKSql(table: String, idCol: String, vecCol: String,
                        k: Int, queryPred: String): String =
    s"""WITH q AS (SELECT $idCol AS q_id, $vecCol AS q_vec FROM $table WHERE $queryPred),
       |c AS (SELECT $idCol AS c_id, $vecCol AS c_vec FROM $table),
       |scored AS (
       |  SELECT q_id, c_id, round(${duckCosine("q_vec", "c_vec")}, 6) AS sim
       |  FROM q JOIN c ON q_id <> c_id),
       |ranked AS (
       |  SELECT q_id, c_id, sim,
       |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, c_id, sim, rank FROM ranked WHERE rank <= $k""".stripMargin

  /** Deterministic pseudo-random hyperplane weight for (bit, dim):
    * integer-mod arithmetic in [-0.5, 0.5], identical in both engines.
    */
  private def weight(bitDimExpr: String): String =
    s"(cast(($bitDimExpr * 2654435761) % 1000003 AS DOUBLE) / 1000003.0 - 0.5)"

  /** Random-hyperplane LSH bucket id (`bits`-bit signature) per vector —
    * the IVF/LSH scale path: one linear pass, bucket = sign pattern of
    * `bits` dot products with deterministic hyperplanes.
    */
  def lshBuckets(df: DataFrame, idCol: String, vecCol: String,
                 bits: Int = 8): DataFrame =
    withCosine(df).select(col(idCol),
      expr(s"graft_hyperplane_bucket($vecCol, $bits)").as("bucket"))

  /** Declarative HOF twin of the native hyperplane bucket — the parity
    * baseline (VectorFunctionsSpec); the operator path uses the compiled
    * [[graft.functions.HyperplaneBucket]].
    */
  def hofBucketExpr(vecCol: String, bits: Int = 8): String = {
    val dims = s"size($vecCol)"
    val dot = s"aggregate(transform(sequence(1, $dims), " +
      s"i -> cast(element_at($vecCol, i) AS DOUBLE) * ${weight("(j * 64 + i - 1)")}), " +
      s"cast(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    s"aggregate(transform(sequence(0, ${bits - 1}), " +
      s"j -> IF($dot > 0.0, shiftleft(cast(1 AS BIGINT), j), cast(0 AS BIGINT))), " +
      s"cast(0 AS BIGINT), (a, b) -> a + b)"
  }

  def lshBucketsSql(table: String, idCol: String, vecCol: String,
                    bits: Int = 8): String = {
    val dot = s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len($vecCol)), " +
      s"i -> ($vecCol)[i]::DOUBLE * ${weight("(j * 64 + i - 1)")})), (acc, v) -> acc + v)"
    s"""SELECT $idCol, list_reduce(list_prepend(0::BIGINT,
       |  list_transform(generate_series(0, ${bits - 1}),
       |    j -> CASE WHEN $dot > 0.0 THEN (1::BIGINT << j) ELSE 0::BIGINT END)),
       |  (a, b) -> a + b) AS bucket
       |FROM $table""".stripMargin
  }

  /** Query-side probe expansion for [[lshTopK]]: each query row becomes
    * `nprobe` (q_id, q_vec, bucket) rows — its own hyperplane bucket plus
    * the buckets across its `nprobe - 1` lowest-|margin| hyperplanes
    * (flip the sign bit whose dot product is nearest zero: that is the
    * Voronoi edge a true neighbor most plausibly sits across). Ties on
    * |margin| break to the lower bit index so both engines expand the
    * same probe set. Query counts are small (the broadcast side), so the
    * margin dots run as declarative HOFs — interpreted, but over
    * #queries rows, not the corpus.
    */
  private def queryProbes(queries: DataFrame, idCol: String, vecCol: String,
                          bits: Int, nprobe: Int): DataFrame = {
    val dot = s"aggregate(transform(sequence(1, size(q_vec)), " +
      s"i -> cast(element_at(q_vec, i) AS DOUBLE) * ${weight("(j * 64 + i - 1)")}), " +
      s"cast(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    val base = s"aggregate(sequence(0, ${bits - 1}), cast(0 AS BIGINT), " +
      "(a, j) -> a + IF(element_at(dots, j + 1) > 0.0, " +
      "shiftleft(cast(1 AS BIGINT), j), cast(0 AS BIGINT)))"
    val probes =
      s"concat(array(base), transform(slice(array_sort(" +
        s"transform(sequence(0, ${bits - 1}), " +
        s"j -> named_struct('m', abs(element_at(dots, j + 1)), 'j', j))), " +
        s"1, ${nprobe - 1}), s -> base ^ shiftleft(cast(1 AS BIGINT), s.j)))"
    queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("dots", expr(s"transform(sequence(0, ${bits - 1}), j -> $dot)"))
      .withColumn("base", expr(base))
      .select(col("q_id"), col("q_vec"), explode(expr(probes)).as("bucket"))
  }

  /** Approximate nearest neighbors: LSH-bucketed top-k (the IVF-style
    * scale path promised by [[lshBuckets]]). Queries are bucketed with
    * the same hyperplanes and joined to the corpus WITHIN their probed
    * buckets only, then ranked by exact cosine. One corpus pass to
    * bucket, one bucket-local join — candidate count per query ≈
    * nprobe × corpus / 2^bits, never the corpus.
    *
    * `nprobe` > 1 multi-probes the buckets across the query's
    * lowest-|margin| hyperplanes ([[queryProbes]]), recovering the
    * boundary recall a single sign pattern loses (a true neighbor one
    * hyperplane away lands in a bucket at Hamming distance 1 — exactly
    * the buckets probed). Probed buckets are distinct, so no candidate
    * dedup is needed. [[bruteForceTopK]] is the exact baseline.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int, bits: Int = 8,
              nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1 && nprobe <= bits, s"nprobe must be in [1, $bits]")
    val corp = Par.floor(withCosine(corpus), col(idCol))
    val cb = lshBuckets(corp, idCol, vecCol, bits)
      .join(corp.select(col(idCol).as("_ci"), col(vecCol).as("c_vec")),
        col(idCol) === col("_ci"))
      .select(col(idCol).as("c_id"), col("c_vec"), col("bucket"))
    val qb = broadcast(queryProbes(withCosine(queries), idCol, vecCol, bits, nprobe))
    topkByQuery(qb.join(cb, Seq("bucket")).where(col("q_id") =!= col("c_id"))
      .withColumn("sim", round(expr(nativeCosine("q_vec", "c_vec")), 6)), k)
  }

  def lshTopKSql(table: String, idCol: String, vecCol: String,
                 k: Int, queryPred: String, bits: Int = 8,
                 nprobe: Int = 1): String = {
    val dot = s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len($vecCol)), " +
      s"i -> ($vecCol)[i]::DOUBLE * ${weight("(j * 64 + i - 1)")})), (acc, v) -> acc + v)"
    val qdot = s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(q_vec)), " +
      s"i -> (q_vec)[i]::DOUBLE * ${weight("(j * 64 + i - 1)")})), (acc, v) -> acc + v)"
    val bucket = s"list_reduce(list_prepend(0::BIGINT, " +
      s"list_transform(generate_series(0, ${bits - 1}), " +
      s"j -> CASE WHEN $dot > 0.0 THEN (1::BIGINT << j) ELSE 0::BIGINT END)), (a, b) -> a + b)"
    s"""WITH b AS (SELECT $idCol, $vecCol AS vec, $bucket AS bucket FROM $table),
       |q AS (SELECT $idCol AS q_id, vec AS q_vec, bucket AS base FROM b WHERE $queryPred),
       |qd AS (
       |  SELECT q_id, j, abs($qdot) AS m
       |  FROM q, UNNEST(generate_series(0, ${bits - 1})) AS t(j)),
       |rb AS (
       |  SELECT q_id, j, row_number() OVER (
       |    PARTITION BY q_id ORDER BY m ASC, j ASC) AS rn
       |  FROM qd),
       |probes AS (
       |  SELECT q_id, base AS bucket FROM q
       |  UNION ALL
       |  SELECT rb.q_id, xor(q.base, 1::BIGINT << rb.j) AS bucket
       |  FROM rb JOIN q USING (q_id) WHERE rb.rn <= ${nprobe - 1}),
       |scored AS (
       |  SELECT q.q_id, c.$idCol AS c_id, round(${duckCosine("q.q_vec", "c.vec")}, 6) AS sim
       |  FROM probes p JOIN q ON p.q_id = q.q_id
       |  JOIN b c ON c.bucket = p.bucket AND q.q_id <> c.$idCol),
       |ranked AS (
       |  SELECT q_id, c_id, sim,
       |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, c_id, sim, rank FROM ranked WHERE rank <= $k""".stripMargin
  }

  /** Assign every corpus vector to its nearest centroid (cosine, ties →
    * lower cent_id). Broadcast nested-loop against the (tiny) centroid
    * set; the argmax is `max_by` with map-side partial aggregation, so
    * the one exchange carries a single (v_id, vec, cluster) row per
    * corpus vector — never the corpus × centroids product.
    */
  private[graft] def assignClusters(base: DataFrame, cent: DataFrame): DataFrame =
    base.crossJoin(broadcast(cent))
      .withColumn("csim", round(expr(nativeCosine("vec", "c_vec")), 6))
      .groupBy(col("v_id"))
      .agg(max_by(struct(col("vec"), col("cent_id")),
        struct(col("csim"), -col("cent_id"))).as("m"))
      .select(col("v_id"), col("m.vec").as("vec"), col("m.cent_id").as("cluster"))

  /** Deterministic fixed-iteration Lloyd's k-means over an embedding
    * column — the learned-centroid index build for [[ivfTopKKmeans]].
    *
    * Determinism (so the DuckDB oracle reproduces it bit-for-bit):
    *  - init = the first `nCentroids` vectors by id (no RNG);
    *  - assignment ties break to the lower centroid id;
    *  - the mean is computed with EXACT decimal sums
    *    (`DECIMAL(28,12)`) — double summation is order-dependent, so a
    *    shuffled groupBy sum would diverge between engines; decimal
    *    addition is associative, making the mean independent of row
    *    order — then rounded to 6 digits like every sim in this file.
    *
    * Scale shape, per iteration: one broadcast crossJoin (map-side) +
    * one keyed partial-agg exchange of (v_id) rows for the assignment,
    * then a posexplode → (cluster, pos) partial-agg whose exchange
    * carries ≤ nCentroids × dim rows per map task. Linear in the corpus;
    * at 100 TB you would train centroids on a sample — the operator
    * takes any corpus DataFrame, so pass `.sample(...)` for that.
    */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      nCentroids: Int = 8, iters: Int = 2): DataFrame = {
    val base = Par.floor(withCosine(corpus), col(idCol))
      .select(col(idCol).as("v_id"), col(vecCol).as("vec"))
    // init = the nCentroids rows with the smallest PORTABLE-HASH of their
    // id: a deterministic pseudo-random sample, reproduced exactly by the
    // DuckDB twin. The previous `v_id < nCentroids` init was id-order
    // sensitive — an adversarial corpus whose first k ids are near-
    // identical vectors collapsed every centroid onto one point, a silent
    // recall cliff in everything downstream (IVF, IVF-PQ, the persisted
    // index). Hash-seeding decorrelates init from id assignment at zero
    // extra passes (TakeOrdered: per-partition heads + one merge).
    var cent = base
      .withColumn("hk",
        expr(graft.ops.PortableHash.sparkStringHash("cast(v_id AS STRING)")))
      .orderBy(col("hk"), col("v_id")).limit(nCentroids)
      .select(col("v_id").as("cent_id"),
        expr("transform(vec, x -> cast(x AS DOUBLE))").as("c_vec"))
    for (_ <- 1 to iters) {
      cent = assignClusters(base, cent)
        .select(col("cluster").as("cent_id"), posexplode(col("vec")))
        .groupBy(col("cent_id"), col("pos"))
        .agg((sum(col("col").cast("double").cast("decimal(28,12)")).cast("double") /
          count(lit(1))).as("v"))
        .groupBy(col("cent_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("s"))
        .select(col("cent_id"), expr("transform(s, x -> round(x.v, 6))").as("c_vec"))
        // eager checkpoint truncates the lineage: without it iteration i's
        // plan re-derives every earlier iteration's crossJoin per action
        // (multiplicative plan growth in iters). nCentroids rows — the
        // materialization is a few KB, cleaned by the ContextCleaner.
        .localCheckpoint(true)
    }
    cent
  }

  /** DuckDB twin of [[kmeansCentroids]]: identical init, tie-breaks, and
    * exact-decimal means, unrolled to `iters` CTE pairs. Emits a CTE body
    * ending in centroid relation `cent$iters(cent_id, c_vec)` plus the
    * assignment relation `a(v_id, vec, cluster)` under final centroids.
    */
  private[ops] def kmeansCtes(table: String, idCol: String, vecCol: String,
                         nCentroids: Int, iters: Int): String = {
    val ctes = new StringBuilder
    ctes.append(
      s"""base AS (SELECT $idCol AS v_id, $vecCol AS vec FROM $table),
         |cent0 AS (SELECT v_id AS cent_id, list_transform(vec, x -> x::DOUBLE) AS c_vec
         |          FROM base
         |          ORDER BY ${graft.ops.PortableHash.duckStringHash("v_id::VARCHAR")} ASC, v_id ASC
         |          LIMIT $nCentroids)""".stripMargin)
    for (i <- 1 to iters) {
      ctes.append(
        s""",
           |assign$i AS (
           |  SELECT v_id, vec, cluster FROM (
           |    SELECT b.v_id, b.vec, c.cent_id AS cluster, row_number() OVER (
           |      PARTITION BY b.v_id
           |      ORDER BY round(${duckCosine("b.vec", "c.c_vec")}, 6) DESC, c.cent_id ASC) AS rn
           |    FROM base b CROSS JOIN cent${i - 1} c) WHERE rn = 1),
           |cent$i AS (
           |  SELECT cent_id, list(round(v, 6) ORDER BY pos) AS c_vec FROM (
           |    SELECT cluster AS cent_id, pos,
           |           CAST(sum(CAST(vec[pos]::DOUBLE AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS v
           |    FROM assign$i, UNNEST(generate_series(1, len(vec))) AS t(pos)
           |    GROUP BY cluster, pos) GROUP BY cent_id)""".stripMargin)
    }
    ctes.append(
      s""",
         |a AS (
         |  SELECT v_id, vec, cluster FROM (
         |    SELECT b.v_id, b.vec, c.cent_id AS cluster, row_number() OVER (
         |      PARTITION BY b.v_id
         |      ORDER BY round(${duckCosine("b.vec", "c.c_vec")}, 6) DESC, c.cent_id ASC) AS rn
         |    FROM base b CROSS JOIN cent$iters c) WHERE rn = 1)""".stripMargin)
    ctes.toString
  }

  /** IVF ANN with LEARNED centroids and multi-probe search: k-means
    * centroids ([[kmeansCentroids]]), corpus assigned once, each query
    * searches its `nprobe` nearest clusters. nprobe > 1 recovers the
    * boundary-vector recall that single-probe IVF loses (a true neighbor
    * just across a Voronoi edge): candidates per query ≈
    * nprobe × corpus / nCentroids, still never the corpus.
    *
    * Plan shape: centroids broadcast; assignment partial-aggregates
    * (one exchange of one row per vector); probe selection is the same
    * bounded-heap `graft_topk` aggregate used for result ranking;
    * cluster-local join carries only same-cluster candidates.
    */
  def ivfTopKKmeans(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
                    nCentroids: Int = 8, iters: Int = 2, nprobe: Int = 2,
                    queryPred: Column = lit(false)): DataFrame = {
    val base = Par.floor(withCosine(corpus), col(idCol))
      .select(col(idCol).as("v_id"), col(vecCol).as("vec"))
    val cent = broadcast(kmeansCentroids(corpus, idCol, vecCol, nCentroids, iters))
    val assigned = assignClusters(base, cent)
      .transform(Caches.lease(_))
    val queries = assigned.where(queryPred)
      .select(col("v_id").as("q_id"), col("vec").as("q_vec"))
    val probes = queries.crossJoin(cent)
      .withColumn("csim", round(expr(nativeCosine("q_vec", "c_vec")), 6))
      .groupBy(col("q_id"))
      .agg(expr(s"graft_topk(csim, cent_id, $nprobe)").as("top"))
      .select(col("q_id"), explode(col("top.c_id")).as("cluster"))
    val q = broadcast(probes.join(queries, Seq("q_id")))
    topkByQuery(
      q.join(assigned.select(col("v_id").as("c_id"), col("vec").as("c_vec"), col("cluster")),
          Seq("cluster"))
        .where(col("q_id") =!= col("c_id"))
        .withColumn("sim", round(expr(nativeCosine("q_vec", "c_vec")), 6)), k)
  }

  def ivfTopKKmeansSql(table: String, idCol: String, vecCol: String, k: Int,
                       nCentroids: Int = 8, iters: Int = 2, nprobe: Int = 2,
                       queryPred: String = "false"): String =
    s"""WITH ${kmeansCtes(table, idCol, vecCol, nCentroids, iters)},
       |q AS (SELECT v_id AS q_id, vec AS q_vec FROM a WHERE $queryPred),
       |probes AS (
       |  SELECT q_id, cluster FROM (
       |    SELECT q.q_id, c.cent_id AS cluster, row_number() OVER (
       |      PARTITION BY q.q_id
       |      ORDER BY round(${duckCosine("q.q_vec", "c.c_vec")}, 6) DESC, c.cent_id ASC) AS prn
       |    FROM q CROSS JOIN cent$iters c) WHERE prn <= $nprobe),
       |scored AS (
       |  SELECT q.q_id, c.v_id AS c_id, round(${duckCosine("q.q_vec", "c.vec")}, 6) AS sim
       |  FROM probes p JOIN q ON p.q_id = q.q_id
       |  JOIN a c ON p.cluster = c.cluster AND q.q_id <> c.v_id),
       |ranked AS (
       |  SELECT q_id, c_id, sim,
       |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, c_id, sim, rank FROM ranked WHERE rank <= $k""".stripMargin

  /** IVF-style ANN: inverted-file top-k with learned-centroid partitioning
    * (nprobe = 1). The centroid set stands in for a k-means result — here
    * the first `nCentroids` corpus vectors, deterministic so the DuckDB
    * oracle can reproduce it; swapping in real k-means centroids changes
    * nothing downstream (see [[ivfTopKKmeans]] for the learned-centroid,
    * multi-probe variant).
    *
    * Plan shape (the 100 TB shape):
    *   1. assignment: corpus × broadcast(centroids) — a broadcast
    *      nested-loop that stays map-side; the argmax is `max_by` with
    *      map-side partial aggregation, so the one exchange carries a
    *      single (id, vec, cluster) row per corpus vector, never the
    *      corpus × centroids cross product.
    *   2. search: queries (broadcast, with their cluster) join the
    *      assigned corpus WITHIN their cluster only — candidate count per
    *      query ≈ corpus / nCentroids.
    */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
              nCentroids: Int = 8, queryPred: Column): DataFrame = {
    val cent = broadcast(corpus.where(col(idCol) < nCentroids)
      .select(col(idCol).as("cent_id"), col(vecCol).as("c_vec")))
    val assigned = Par.floor(withCosine(corpus), col(idCol))
      .select(col(idCol).as("v_id"), col(vecCol).as("vec"))
      .crossJoin(cent)
      .withColumn("csim", round(expr(nativeCosine("vec", "c_vec")), 6))
      .groupBy(col("v_id"))
      .agg(max_by(struct(col("vec"), col("cent_id")),
        struct(col("csim"), -col("cent_id"))).as("m"))
      .select(col("v_id"), col("m.vec").as("vec"), col("m.cent_id").as("cluster"))
      .transform(Caches.lease(_))
    val q = broadcast(assigned.where(queryPred)
      .select(col("v_id").as("q_id"), col("vec").as("q_vec"), col("cluster")))
    topkByQuery(
      q.join(assigned.select(col("v_id").as("c_id"), col("vec").as("c_vec"), col("cluster")),
          Seq("cluster"))
        .where(col("q_id") =!= col("c_id"))
        .withColumn("sim", round(expr(nativeCosine("q_vec", "c_vec")), 6)), k)
  }

  def ivfTopKSql(table: String, idCol: String, vecCol: String, k: Int,
                 nCentroids: Int = 8, queryPred: String): String =
    s"""WITH cent AS (SELECT $idCol AS cent_id, $vecCol AS c_vec FROM $table WHERE $idCol < $nCentroids),
       |assigned AS (
       |  SELECT $idCol AS v_id, $vecCol AS vec, cent_id, row_number() OVER (
       |    PARTITION BY $idCol ORDER BY round(${duckCosine(vecCol, "c_vec")}, 6) DESC, cent_id ASC) AS crn
       |  FROM $table CROSS JOIN cent),
       |a AS (SELECT v_id, vec, cent_id AS cluster FROM assigned WHERE crn = 1),
       |q AS (SELECT v_id AS q_id, vec AS q_vec, cluster FROM a WHERE $queryPred),
       |scored AS (
       |  SELECT q_id, c.v_id AS c_id, round(${duckCosine("q_vec", "c.vec")}, 6) AS sim
       |  FROM q JOIN a c ON q.cluster = c.cluster AND q_id <> c.v_id),
       |ranked AS (
       |  SELECT q_id, c_id, sim,
       |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, c_id, sim, rank FROM ranked WHERE rank <= $k""".stripMargin

  /** Streaming ANN: top-k cosine neighbors for a STREAM of query
    * vectors against a static corpus — the vector-search-service shape.
    * Stream-static inner join (the static side is planned per
    * micro-batch, so corpus broadcast/scan reuse is Catalyst's choice) →
    * native cosine → bounded-heap top-k aggregate in update mode (the
    * per-query result row refines as batches arrive; with one batch per
    * query it is exact immediately). State is one k-item heap per query
    * — bounded by the query stream, not the corpus.
    */
  def streamingTopK(corpus: DataFrame, queryStream: DataFrame,
                    idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = withCosine(corpus).select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
    queryStream
      .join(c, col("q_id") =!= col("c_id"))
      .withColumn("sim", round(expr(nativeCosine("q_vec", "c_vec")), 6))
      .groupBy(col("q_id"))
      .agg(expr(s"graft_topk(sim, c_id, $k)").as("top"))
  }

  /** Streaming multi-probe LSH ANN: a STREAM of query vectors against a
    * static bucketed corpus — [[streamingTopK]]'s scale path. The probe
    * expansion ([[queryProbes]]) is a narrow streaming-safe projection,
    * the bucket join is stream-static (candidates per query ≈ nprobe ×
    * corpus / 2^bits, never the corpus scan the brute-force variant
    * pays per batch), and the bounded per-query heap refines in update
    * mode. State = one k-item heap per query.
    */
  def lshTopKStreaming(corpus: DataFrame, queryStream: DataFrame,
                       idCol: String, vecCol: String, k: Int,
                       bits: Int = 8, nprobe: Int = 2): DataFrame = {
    require(nprobe >= 1 && nprobe <= bits, s"nprobe must be in [1, $bits]")
    val corp = withCosine(corpus)
    val cb = lshBuckets(corp, idCol, vecCol, bits)
      .join(corp.select(col(idCol).as("_ci"), col(vecCol).as("c_vec")),
        col(idCol) === col("_ci"))
      .select(col(idCol).as("c_id"), col("c_vec"), col("bucket"))
    queryProbes(queryStream, "q_id", "q_vec", bits, nprobe)
      .join(cb, Seq("bucket"))
      .where(col("q_id") =!= col("c_id"))
      .withColumn("sim", round(expr(nativeCosine("q_vec", "c_vec")), 6))
      .groupBy(col("q_id"))
      .agg(expr(s"graft_topk(sim, c_id, $k)").as("top"))
  }

  /** LINEAR embedding near-dup keeper — the mass-dedup scale path for
    * vectors (the twin of [[graft.ops.Dedup.minhashDedupKeepers]]): each
    * vector's keeper is the min id sharing its hyperplane-LSH bucket.
    * One linear pass + one keyed partial-aggregated shuffle of
    * (bucket, id) rows; never materializes the Θ(Σ cluster²) pair list.
    */
  def embeddingDedupKeepers(df: DataFrame, idCol: String, vecCol: String,
                            bits: Int = 8): DataFrame = {
    // hash on the raw scan — no Par.floor here: a pre-hash repartition
    // would shuffle full VECTOR rows (the r6 0.37s->0.52s bench
    // regression), while the hash itself is cheap enough per row that
    // scan-split parallelism suffices at every scale. The (id, bucket)
    // projection feeds two branches (bucket minima + join back) — lease
    // it so the corpus is scanned and hashed ONCE (cached rows are two
    // longs per vector, tiny relative to the embeddings)
    val b = Caches.lease(lshBuckets(df, idCol, vecCol, bits))
    val bucketMin = b.groupBy(col("bucket")).agg(min(col(idCol)).as("keep_id"))
    // ≤ 2^bits rows — broadcast, so the only exchange in the plan is the
    // partial-aggregated (bucket, min_id) reduction
    b.join(broadcast(bucketMin), Seq("bucket")).select(col(idCol), col("keep_id"))
  }

  def embeddingDedupKeepersSql(table: String, idCol: String, vecCol: String,
                               bits: Int = 8): String = {
    val dot = s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len($vecCol)), " +
      s"i -> ($vecCol)[i]::DOUBLE * ${weight("(j * 64 + i - 1)")})), (acc, v) -> acc + v)"
    s"""WITH b AS (
       |  SELECT $idCol, list_reduce(list_prepend(0::BIGINT,
       |    list_transform(generate_series(0, ${bits - 1}),
       |      j -> CASE WHEN $dot > 0.0 THEN (1::BIGINT << j) ELSE 0::BIGINT END)),
       |    (a, b) -> a + b) AS bucket
       |  FROM $table),
       |m AS (SELECT bucket, min($idCol) AS keep_id FROM b GROUP BY bucket)
       |SELECT b.$idCol, m.keep_id FROM b JOIN m ON b.bucket = m.bucket""".stripMargin
  }

  /** Embedding-cosine near-duplicate pairs: LSH-bucketed candidate join,
    * then exact cosine ≥ `threshold`. At scale only same-bucket pairs are
    * scored.
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double = 0.99, bits: Int = 8): DataFrame = {
    val dff = Par.floor(withCosine(df), col(idCol))
    val withB = lshBuckets(dff, idCol, vecCol, bits)
      .join(dff.select(col(idCol).as("_i"), col(vecCol).as("vec")),
        col(idCol) === col("_i")).drop("_i")
    val a = withB.select(col(idCol).as("a_id"), col("vec").as("a_vec"), col("bucket"))
    val b = withB.select(col(idCol).as("b_id"), col("vec").as("b_vec"), col("bucket"))
    a.join(b, Seq("bucket")).where(col("a_id") < col("b_id"))
      .withColumn("sim", round(expr(nativeCosine("a_vec", "b_vec")), 6))
      .where(col("sim") >= threshold)
      .select("a_id", "b_id", "sim")
  }

  def embeddingNearDupPairsSql(table: String, idCol: String, vecCol: String,
                               threshold: Double = 0.99, bits: Int = 8): String = {
    val dot = s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len($vecCol)), " +
      s"i -> ($vecCol)[i]::DOUBLE * ${weight("(j * 64 + i - 1)")})), (acc, v) -> acc + v)"
    s"""WITH b AS (
       |  SELECT $idCol, $vecCol AS vec, list_reduce(list_prepend(0::BIGINT,
       |    list_transform(generate_series(0, ${bits - 1}),
       |      j -> CASE WHEN $dot > 0.0 THEN (1::BIGINT << j) ELSE 0::BIGINT END)),
       |    (a, b) -> a + b) AS bucket
       |  FROM $table)
       |SELECT a.$idCol AS a_id, b.$idCol AS b_id,
       |       round(${duckCosine("a.vec", "b.vec")}, 6) AS sim
       |FROM b a JOIN b b ON a.bucket = b.bucket AND a.$idCol < b.$idCol
       |WHERE round(${duckCosine("a.vec", "b.vec")}, 6) >= $threshold""".stripMargin
  }

  /** SEMANTIC dedup keepers — the SemDeDup shape (public: Abbas et al.
    * 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication"): k-means over the embedding space
    * ([[kmeansCentroids]] — deterministic hash-seeded init, so the DuckDB
    * oracle replays it bit-for-bit), then within each cluster every
    * cosine-ε-ball keeps ONE representative — the member LEAST similar to
    * its own centroid (the paper's keeper choice: retain the edge of the
    * ball, drop the redundant interior), ties to the lower id. Catches
    * paraphrase-level redundancy that lexical MinHash and raw-vector LSH
    * ([[embeddingDedupKeepers]], which needs near-identical vectors to
    * share a bucket) both miss.
    *
    * A vector v is dropped iff a same-cluster witness u exists with
    * cos(u, v) ≥ eps and (u.csim, u.id) <ₗₑₓ (v.csim, v.id) — the same
    * pairwise-witness rule as the near-dup family, no transitive closure.
    *
    * Scale shape: centroids broadcast (assignment stays map-side; the one
    * corpus-wide exchange is the per-vector argmax partial agg), the
    * witness join keys on `cluster`, and the ε-test runs WITHIN clusters
    * only — Θ(Σ cluster²), which is the published algorithm's own cost
    * model: k grows with the corpus (the paper runs k ≈ 0.1%·N) so
    * cluster size stays bounded. Never an all-pairs join; at 100 TB you
    * train centroids on a sample (pass a sampled `corpus` to
    * [[kmeansCentroids]] — same contract as IVF).
    */
  def semanticDedupKeepers(corpus: DataFrame, idCol: String, vecCol: String,
                           nClusters: Int = 8, iters: Int = 2,
                           eps: Double = 0.95,
                           centroids: Option[DataFrame] = None): DataFrame = {
    val base = Par.floor(withCosine(corpus), col(idCol))
      .select(col(idCol).as("v_id"), col(vecCol).as("vec"))
    val cent = broadcast(centroids.getOrElse(
      kmeansCentroids(corpus, idCol, vecCol, nClusters, iters)))
    // csim (sim to OWN centroid) decides the keeper; recompute it against
    // the broadcast centroid set — assignment's argmax already paid it,
    // but re-deriving map-side beats carrying it through the partial agg
    val assigned = Caches.lease(
      assignClusters(base, cent)
        .join(cent.select(col("cent_id"), col("c_vec")), col("cluster") === col("cent_id"))
        .withColumn("csim", round(expr(nativeCosine("vec", "c_vec")), 6))
        .select(col("v_id"), col("vec"), col("cluster"), col("csim")))
    val witnesses = assigned.select(col("v_id").as("u_id"),
      col("vec").as("u_vec"), col("cluster"), col("csim").as("u_csim"))
    val dropped = assigned.join(witnesses, Seq("cluster"))
      .where(col("u_id") =!= col("v_id"))
      .where(col("u_csim") < col("csim") ||
        (col("u_csim") === col("csim") && col("u_id") < col("v_id")))
      .where(round(expr(nativeCosine("vec", "u_vec")), 6) >= eps)
      .select(col("v_id")).distinct()
      .withColumn("is_dup", lit(true))
    assigned.join(dropped, Seq("v_id"), "left_outer")
      .select(col("v_id").as(idCol), col("cluster"), col("csim"),
        col("is_dup").isNull.as("keep"))
  }

  /** DuckDB twin of [[semanticDedupKeepers]] — replays the same k-means
    * CTEs, centroid-sim keeper priority, and ε-ball witness rule.
    */
  def semanticDedupKeepersSql(table: String, idCol: String, vecCol: String,
                              nClusters: Int = 8, iters: Int = 2,
                              eps: Double = 0.95): String =
    s"""WITH ${kmeansCtes(table, idCol, vecCol, nClusters, iters)},
       |cs AS (
       |  SELECT a.v_id, a.vec, a.cluster,
       |         round(${duckCosine("a.vec", "c.c_vec")}, 6) AS csim
       |  FROM a JOIN cent$iters c ON a.cluster = c.cent_id),
       |d AS (
       |  SELECT DISTINCT v.v_id
       |  FROM cs v JOIN cs u ON v.cluster = u.cluster AND u.v_id <> v.v_id
       |  WHERE (u.csim < v.csim OR (u.csim = v.csim AND u.v_id < v.v_id))
       |    AND round(${duckCosine("v.vec", "u.vec")}, 6) >= $eps)
       |SELECT cs.v_id AS $idCol, cs.cluster, cs.csim,
       |       d.v_id IS NULL AS keep
       |FROM cs LEFT JOIN d ON cs.v_id = d.v_id""".stripMargin

  /** CLUSTER-BALANCED selection — the diversity-preserving downsampling
    * rung of the curation ladder (DCLM/SemDeDup-style cluster-then-cap:
    * partition the corpus in embedding space and give every cluster its
    * own retention budget, so one dominant mode — boilerplate, one
    * crawl's template — cannot crowd the mix the way a single global
    * top-k lets it). Members fill their cluster's budget most-central
    * first (csim to own centroid DESC, id ASC tie-break): the budget
    * keeps each mode's most representative members.
    *
    * Composition of two existing green paths, no new mechanism:
    * [[kmeansCentroids]] assignment (broadcast centroids, one argmax
    * partial-agg exchange) feeds
    * [[Sampling.selectByTokenBudgetStratified]] with stratum = cluster
    * and 1 "token" per vector — i.e. the keyed two-pass prefix sum, so
    * a hot cluster spreads over ranges instead of funneling through one
    * reducer (the exact skew the PARTITION BY cluster window would
    * reintroduce at 100 TB).
    */
  def clusterBudgetSelect(corpus: DataFrame, idCol: String, vecCol: String,
                          nClusters: Int = 8, iters: Int = 2,
                          perClusterBudget: Long = 4,
                          centroids: Option[DataFrame] = None): DataFrame = {
    val base = Par.floor(withCosine(corpus), col(idCol))
      .select(col(idCol).as("v_id"), col(vecCol).as("vec"))
    val cent = broadcast(centroids.getOrElse(
      kmeansCentroids(corpus, idCol, vecCol, nClusters, iters)))
    val scored = assignClusters(base, cent)
      .join(cent.select(col("cent_id"), col("c_vec")), col("cluster") === col("cent_id"))
      .withColumn("score", round(expr(nativeCosine("vec", "c_vec")), 6))
      .select(col("cluster"), col("v_id"), col("score"), lit(1L).as("one"))
    Sampling.selectByTokenBudgetStratified(scored, "v_id", "cluster", "score",
        "one", budgets = Map.empty, defaultBudget = perClusterBudget)
      .withColumnRenamed("n_tokens", "n_taken")
      .withColumnRenamed("cum_tokens", "rank_in_cluster")
      // the stratified helper strata-keys as string internally; restore
      // the assignment's LONG cluster id so the result schema matches
      // the oracle's BIGINT (values were already identical)
      .withColumn("cluster", col("cluster").cast("long"))
  }

  /** PER-CLUSTER corpus profile — the embedding-space analog of the
    * per-(lang, source) corpus profile: for each k-means cluster, member
    * count, mean and minimum similarity-to-centroid. The report a run
    * reads BEFORE trusting cluster-based ops (SemDeDup, cluster budgets,
    * IVF routing) on a new corpus/encoder: a cluster with low mean csim
    * is incoherent (k too small or the encoder is weak there), a
    * dominant-count cluster is the template mode the budget should cap.
    *
    * Mean through exact decimal sums (double summation is
    * order-dependent; csim is already round-6 so the decimal cast is
    * exact), one argmax-assignment exchange + one cluster-keyed
    * partial agg — metadata-sized output.
    */
  def clusterProfile(corpus: DataFrame, idCol: String, vecCol: String,
                     nClusters: Int = 8, iters: Int = 2,
                     centroids: Option[DataFrame] = None): DataFrame = {
    val base = Par.floor(withCosine(corpus), col(idCol))
      .select(col(idCol).as("v_id"), col(vecCol).as("vec"))
    val cent = broadcast(centroids.getOrElse(
      kmeansCentroids(corpus, idCol, vecCol, nClusters, iters)))
    assignClusters(base, cent)
      .join(cent.select(col("cent_id"), col("c_vec")), col("cluster") === col("cent_id"))
      .withColumn("csim", round(expr(nativeCosine("vec", "c_vec")), 6))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("csim").cast("decimal(28,12)")).cast("double") /
          count(lit(1)), 6).as("mean_csim"),
        min(col("csim")).as("min_csim"))
  }

  /** DuckDB twin of [[clusterProfile]]. */
  def clusterProfileSql(table: String, idCol: String, vecCol: String,
                        nClusters: Int = 8, iters: Int = 2): String =
    s"""WITH ${kmeansCtes(table, idCol, vecCol, nClusters, iters)},
       |cs AS (
       |  SELECT a.cluster, round(${duckCosine("a.vec", "c.c_vec")}, 6) AS csim
       |  FROM a JOIN cent$iters c ON a.cluster = c.cent_id)
       |SELECT cluster, count(*)::BIGINT AS n_vecs,
       |  round(CAST(sum(CAST(csim AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS mean_csim,
       |  min(csim) AS min_csim
       |FROM cs GROUP BY cluster""".stripMargin

  /** DuckDB twin of [[clusterBudgetSelect]] — same k-means CTEs, the
    * budget replayed as the keyed window the prefix sum must match.
    */
  def clusterBudgetSelectSql(table: String, idCol: String, vecCol: String,
                             nClusters: Int = 8, iters: Int = 2,
                             perClusterBudget: Long = 4): String =
    s"""SELECT cluster, v_id, score, n_taken, rank_in_cluster FROM (
       |  SELECT cluster, v_id, score, 1::BIGINT AS n_taken,
       |    CAST(row_number() OVER (PARTITION BY cluster
       |                            ORDER BY score DESC, v_id ASC) AS BIGINT)
       |      AS rank_in_cluster
       |  FROM (
       |    WITH ${kmeansCtes(table, idCol, vecCol, nClusters, iters)}
       |    SELECT a.cluster, a.v_id,
       |           round(${duckCosine("a.vec", "c.c_vec")}, 6) AS score
       |    FROM a JOIN cent$iters c ON a.cluster = c.cent_id) s) t
       |WHERE rank_in_cluster <= $perClusterBudget""".stripMargin

  // ================= int8 scalar quantization ============================

  /** Symmetric per-vector int8 scalar quantization: scale = max|x| / 127
    * (1.0 for the all-zero vector so the codes stay defined), code_i =
    * floor(x_i / scale + 0.5) ∈ [-127, 127]. The compression step of a
    * quantized ANN index: at 100 TB the corpus is stored and scanned as
    * 1-byte codes (4× less I/O and cache traffic than float32), and
    * because COSINE is scale-invariant the per-vector scale cancels —
    * searching directly on the codes needs no dequantization at all
    * ([[quantizedTopK]]).
    *
    * `floor(x + 0.5)` instead of `round(x)` deliberately: both engines
    * compute the same IEEE double for `x_i / scale + 0.5`, and `floor` is
    * exact on doubles, so codes are bit-identical cross-engine with no
    * dependence on either engine's round-half tie rule. Codes divide by
    * the EXACT scale (the same max|x|/127 double on both engines); the
    * emitted `scale` column alone is rounded to 9 digits, purely for
    * portable stringification.
    *
    * Honest caveat: Spark's `ARRAY<INT>` column is not 1-byte-packed in
    * memory; the operator pins the quantization arithmetic and the
    * code-domain search contract. The storage win is realized by writing
    * the codes as a packed BINARY column at rest (parquet BYTE_ARRAY),
    * which is a straight `transform`+`concat` away from this output.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val maxAbs = s"aggregate($vecCol, cast(0.0 AS DOUBLE), " +
      s"(acc, v) -> greatest(acc, abs(cast(v AS DOUBLE))))"
    val scale = s"IF(__m = 0.0D, 1.0D, __m / 127.0D)"
    // The max-abs fold is BOUND AS A LAMBDA VARIABLE (let1) around the
    // code transform, not referenced as a sibling column: CollapseProject
    // happily substitutes a column-level scale INTO the per-element
    // lambda, re-running the O(d) fold for every element — O(d²) per row,
    // measured 36x slower than the float scan at 500k×128d. A lambda
    // binding is evaluated once per row no matter how projections merge.
    val codes = PortableHash.let1("__m", maxAbs,
      s"transform($vecCol, x -> cast(floor(cast(x AS DOUBLE) / $scale + 0.5D) AS INT))")
    df.select(col(idCol),
      round(expr(PortableHash.let1("__m", maxAbs, scale)), 9).as("scale"),
      expr(codes).as("qvec"))
  }

  /** DuckDB twin of [[quantizeInt8]] (same fold, same floor+0.5). */
  def quantizeInt8Sql(table: String, idCol: String, vecCol: String): String = {
    val maxAbs = s"list_reduce(list_prepend(0.0::DOUBLE, " +
      s"list_transform($vecCol, v -> abs(v::DOUBLE))), (acc, v) -> greatest(acc, v))"
    s"""WITH m AS (
       |  SELECT $idCol, $vecCol AS vec,
       |    CASE WHEN $maxAbs = 0.0 THEN 1.0 ELSE $maxAbs / 127.0 END AS s
       |  FROM $table)
       |SELECT $idCol, round(s, 9) AS scale,
       |  list_transform(vec, x -> CAST(floor(x::DOUBLE / s + 0.5) AS INT)) AS qvec
       |FROM m""".stripMargin
  }

  /** Exact-over-codes ANN: brute-force top-k cosine computed ON the int8
    * codes (scale cancels in cosine, so no dequantization). Same plan
    * shape as [[bruteForceTopK]] — broadcast quantized queries × one
    * corpus scan × bounded-heap top-k — but the scanned vector payload is
    * the 1-byte-per-dim code domain. Codes ≤ 127 are exactly
    * float-representable, so the native compiled cosine kernel runs
    * unchanged on the cast codes, bit-equal to the oracle's int folds.
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int): DataFrame = {
    val qz = quantizeInt8(queries, idCol, vecCol)
      .select(col(idCol).as("q_id"), expr("cast(qvec AS ARRAY<FLOAT>)").as("q_vec"))
    val cz = quantizeInt8(Par.floor(withCosine(corpus), col(idCol)), idCol, vecCol)
      .select(col(idCol).as("c_id"), expr("cast(qvec AS ARRAY<FLOAT>)").as("c_vec"))
    val scored = broadcast(qz).join(cz, col("q_id") =!= col("c_id"))
      .withColumn("sim", round(expr(nativeCosine("q_vec", "c_vec")), 6))
    topkByQuery(scored, k)
  }

  def quantizedTopKSql(table: String, idCol: String, vecCol: String,
                       k: Int, queryPred: String): String =
    s"""WITH z AS (${quantizeInt8Sql(table, idCol, vecCol)}),
       |q AS (SELECT $idCol AS q_id, qvec AS q_vec FROM z WHERE $queryPred),
       |c AS (SELECT $idCol AS c_id, qvec AS c_vec FROM z),
       |scored AS (
       |  SELECT q_id, c_id, round(${duckCosine("q_vec", "c_vec")}, 6) AS sim
       |  FROM q JOIN c ON q_id <> c_id),
       |ranked AS (
       |  SELECT q_id, c_id, sim,
       |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, c_id, sim, rank FROM ranked WHERE rank <= $k""".stripMargin

  /** [[quantizeInt8]] with the codes PACKED into a signed-byte BINARY
    * column (`graft_pack_i8`) — the form that actually realizes the 4×
    * compression: Spark `ARRAY<INT>` holds 4-byte elements, `BINARY` is
    * byte-packed, and parquet writes it as plain BYTE_ARRAY. This is
    * the at-rest layout of a 100 TB quantized corpus.
    */
  def quantizePacked(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    quantizeInt8(graft.functions.VectorFunctions.attach(df), idCol, vecCol)
      .select(col(idCol), col("scale"), expr("graft_pack_i8(qvec)").as("qcodes"))

  /** DuckDB twin of [[quantizePacked]] for the byte-layout check: emits
    * the packed codes as uppercase hex (two's-complement bytes), the
    * exact string Spark's `hex(BINARY)` produces.
    */
  def quantizePackedHexSql(table: String, idCol: String, vecCol: String): String =
    s"""WITH z AS (${quantizeInt8Sql(table, idCol, vecCol)})
       |SELECT $idCol, scale,
       |  list_reduce(list_prepend('', list_transform(qvec,
       |    c -> upper(lpad(to_hex((c + 256) % 256), 2, '0')))),
       |    (a, b) -> a || b) AS codes_hex
       |FROM z""".stripMargin

  /** [[quantizedTopK]] over PACKED codes: the compiled `graft_cosine_i8`
    * kernel scans 1-byte codes straight out of the binary — identical
    * fold order to the unpacked/int-list twins, so results are bit-equal
    * (the oracle runs the int-list form). Same broadcast × scan ×
    * bounded-heap plan; the scanned vector payload is now genuinely
    * 1 byte per dimension end to end.
    */
  def quantizedTopKPacked(corpus: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String, k: Int): DataFrame = {
    val qz = quantizePacked(queries, idCol, vecCol)
      .select(col(idCol).as("q_id"), col("qcodes").as("q_codes"))
    val cz = quantizePacked(Par.floor(withCosine(corpus), col(idCol)), idCol, vecCol)
      .select(col(idCol).as("c_id"), col("qcodes").as("c_codes"))
    val scored = broadcast(qz).join(cz, col("q_id") =!= col("c_id"))
      .withColumn("sim", round(expr("graft_cosine_i8(q_codes, c_codes)"), 6))
    topkByQuery(scored, k)
  }

  // --------------------------------------------------------------------
  // Binary (sign-bit) quantization — the 32× at-rest compression rung
  // below int8: one BIT per dimension. The standard two-phase serving
  // shape (binary hashing / "binary quantization" in vector-DB
  // literature): a hamming-distance prefilter over the 1-bit sketches
  // shortlists `rerank` candidates per query, then an exact float
  // rerank on only the shortlist decides the final top-k. At 100 TB the
  // sketch column for a billion 64-dim vectors is 8 GB — the whole
  // prefilter side fits the page cache of a single executor wave, and
  // the expensive float vectors are touched for |Q|·rerank rows only.
  // --------------------------------------------------------------------

  /** Sign-bit sketch of the first `bits` dimensions of `vecCol`, packed
    * into ONE BIGINT: bit i set iff `vec[i+1] > 0`. Capped at 63 bits —
    * the engine-portable hamming convention used by every ≤64-bit
    * sketch in this repo ([[Dedup.hammingKeepers]]): bit 63 is the
    * BIGINT sign bit and `1::BIGINT << 63` is implementation-defined
    * across engines, so dimensions past `bits` simply don't vote in the
    * prefilter (the exact rerank still sees the FULL vector, so the
    * cap costs candidate quality only, never correctness of the
    * reranked scores). Requires `size(vec) >= bits`.
    *
    * This declarative form is the PARITY BASELINE the spec pins the
    * compiled `graft_binary_sketch` kernel against (and documents the
    * construction the DuckDB twin mirrors); the hot path runs the
    * kernel — the interpreted fold costs more than the compiled-cosine
    * scan it exists to undercut.
    */
  def binarySketchExpr(vecCol: String, bits: Int = 63): String = {
    require(bits >= 1 && bits <= 63, s"bits must be in [1, 63], got $bits")
    s"aggregate(sequence(0, ${bits - 1}), cast(0 AS BIGINT), " +
      s"(acc, i) -> acc + IF(cast(element_at($vecCol, i + 1) AS DOUBLE) > 0.0D, " +
      s"shiftleft(cast(1 AS BIGINT), i), cast(0 AS BIGINT)))"
  }

  /** DuckDB twin of [[binarySketchExpr]] (same bit weights, same
    * strictly-positive vote, summed — bits are distinct so sum = OR).
    */
  def binarySketchSqlExpr(vecCol: String, bits: Int = 63): String = {
    require(bits >= 1 && bits <= 63, s"bits must be in [1, 63], got $bits")
    s"list_reduce(list_prepend(0::BIGINT, " +
      s"list_transform(generate_series(0, ${bits - 1}), i -> " +
      s"CASE WHEN $vecCol[i + 1] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)), " +
      s"(a, b) -> a + b)"
  }

  /** Two-phase binary-quantized ANN: hamming prefilter on the 1-bit
    * sketches → exact cosine rerank of the shortlist.
    *
    * Plan shape (the serving architecture, spelled in Spark):
    *  - scan 1 sketches the corpus to (id, BIGINT) and joins the
    *    broadcast query sketches; per query the bounded-heap aggregate
    *    ([[graft.functions.TopKAgg]], sim = −hamming so the heap's
    *    sim DESC is hamming ASC, ties on c_id ASC) keeps the `rerank`
    *    shortlist — the exchange carries ≤ |Q|·rerank·partitions rows,
    *    never the corpus;
    *  - scan 2 fetches ONLY the shortlist's float vectors via a
    *    broadcast hash join on the |Q|·rerank candidate list (no
    *    shuffle), and the exact compiled-cosine rerank + final top-k
    *    heap run over that shortlist.
    * Both phases are deterministic under ties, so the DuckDB twin's
    * window formulation selects the identical shortlist.
    */
  def binaryTopK(corpus: DataFrame, queries: DataFrame,
                 idCol: String, vecCol: String, k: Int,
                 rerank: Int = 20, bits: Int = 63): DataFrame = {
    // compiled sketch kernel: the declarative [[binarySketchExpr]] fold
    // is 63 interpreted lambda steps per row — measured COSTLIER than
    // the full compiled-cosine scan it exists to undercut (5.2s vs 4.76s
    // at 500k×64d); the kernel makes phase 1 a plain codegen projection
    val qsk = broadcast(graft.functions.VectorFunctions.attach(queries)
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        expr(s"graft_binary_sketch($vecCol, $bits)").as("q_sk")))
    val csk = Par.floor(withCosine(corpus), col(idCol))
      .select(col(idCol).as("c_id"),
        expr(s"graft_binary_sketch($vecCol, $bits)").as("c_sk"))
    val shortlist = qsk.select(col("q_id"), col("q_sk"))
      .join(csk, col("q_id") =!= col("c_id"))
      .withColumn("sim", -expr("cast(bit_count(q_sk ^ c_sk) AS DOUBLE)"))
    val cand = topkByQuery(shortlist, rerank).select(col("q_id"), col("c_id"))
    val fetched = withCosine(corpus)
      .select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
      .join(broadcast(cand), Seq("c_id"))
    val scored = fetched.join(qsk.select(col("q_id"), col("q_vec")), Seq("q_id"))
      .withColumn("sim", round(expr(nativeCosine("q_vec", "c_vec")), 6))
    topkByQuery(scored, k)
  }

  /** HARD-NEGATIVE mining — the contrastive-training data op: for every
    * query vector, the top-k most similar corpus vectors with a
    * DIFFERENT label (similar-but-wrong = the negatives that actually
    * teach; random negatives are trivially separable). Same plan shape
    * as [[bruteForceTopK]] — broadcast queries (with labels) × one
    * corpus scan × bounded-heap top-k — the label inequality rides the
    * join condition, so excluded same-label pairs never reach scoring.
    * At 100 TB the query side is the batch being mined (always the
    * small side); an ANN shortlist (e.g. [[binaryTopK]]'s phase 1) can
    * replace the exact scan when the corpus side outgrows it.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, labelCol: String,
                    k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      col(vecCol).as("q_vec"), col(labelCol).as("q_label")))
    val c = Par.floor(withCosine(corpus), col(idCol))
      .select(col(idCol).as("c_id"), col(vecCol).as("c_vec"),
        col(labelCol).as("c_label"))
    val scored = q.join(c,
        col("q_id") =!= col("c_id") && col("q_label") =!= col("c_label"))
      .withColumn("sim", round(expr(nativeCosine("q_vec", "c_vec")), 6))
    topkByQuery(scored, k)
  }

  /** DuckDB twin of [[hardNegatives]]. */
  def hardNegativesSql(table: String, idCol: String, vecCol: String,
                       labelCol: String, k: Int, queryPred: String): String =
    s"""WITH q AS (SELECT $idCol AS q_id, $vecCol AS q_vec, $labelCol AS q_label
       |           FROM $table WHERE $queryPred),
       |c AS (SELECT $idCol AS c_id, $vecCol AS c_vec, $labelCol AS c_label
       |      FROM $table),
       |scored AS (
       |  SELECT q_id, c_id, round(${duckCosine("q_vec", "c_vec")}, 6) AS sim
       |  FROM q JOIN c ON q_id <> c_id AND q_label <> c_label),
       |ranked AS (
       |  SELECT q_id, c_id, sim,
       |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, c_id, sim, rank FROM ranked WHERE rank <= $k""".stripMargin

  /** Margin-based bitext mining (Artetxe & Schwenk 2019 — the LASER
    * parallel-corpus construction, public): candidate pair (x, y) from
    * two language partitions scores
    *   margin(x,y) = sim(x,y) / ((avgNN_k(x) + avgNN_k(y)) / 2)
    * — raw cosine is miscalibrated across hubness regions, the ratio to
    * each side's average-top-k neighborhood normalizes it; the mined
    * pair per source doc is the argmax-margin target above `minMargin`.
    *
    * Exact-arithmetic discipline: sims are the house rounded-6 cosines,
    * SCALED TO INTEGER MICROS before any summation (sum order across
    * engines would drift double addition), so
    *   margin = sim_µ · 2k / (ΣtopX_µ + ΣtopY_µ)
    * is one double division over exact integers. Zero neighborhoods
    * (all-zero vectors under the engine-wide convention) get margin 0.
    *
    * Plan shape: broadcast source side × one target scan, the scored
    * frame leased (referenced by both neighborhood averages and the
    * margin base); per-side top-k through the bounded heap, averages
    * join back BROADCAST (side-cardinality), final argmax is the same
    * heap at k=1. This is the brute form — at corpus scale each side's
    * candidate set comes from an ANN shortlist ([[binaryTopK]] phase 1
    * or the IVF probes) and the margin arithmetic is unchanged.
    */
  def bitextMine(emb: DataFrame, idCol: String, vecCol: String,
                 labelCol: String, srcLabel: Int, tgtLabel: Int,
                 kNN: Int = 4, minMargin: Double = 1.0): DataFrame = {
    val fdf = withCosine(emb)
    val src = broadcast(fdf.where(col(labelCol) === srcLabel)
      .select(col(idCol).as("x_id"), col(vecCol).as("x_vec")))
    val tgt = Par.floor(fdf.where(col(labelCol) === tgtLabel), col(idCol))
      .select(col(idCol).as("y_id"), col(vecCol).as("y_vec"))
    val scored = src.crossJoin(tgt)
      .select(col("x_id"), col("y_id"),
        expr(s"cast(round(${nativeCosine("x_vec", "y_vec")} * 1000000, 0) AS BIGINT)")
          .as("sim_u"))
      .transform(Caches.lease(_))
    marginMine(scored, kNN, minMargin)
  }

  /** Shared margin tail over a (x_id, y_id, sim_u) candidate frame —
    * identical for the brute cross product and the ANN-shortlisted
    * candidate set (the margin definition doesn't care where the
    * candidates came from).
    */
  private def marginMine(scored: DataFrame, kNN: Int,
                         minMargin: Double): DataFrame = {
    def topSum(key: String, other: String) = scored
      .select(col(key), col("sim_u").cast("double").as("sim"), col(other))
      .groupBy(col(key))
      .agg(expr(s"graft_topk(sim, $other, $kNN)").as("top"))
      .select(col(key),
        expr("aggregate(top.sim, cast(0 AS BIGINT), (a, s) -> a + cast(s AS BIGINT))")
          .as(s"sum_$key"))
    val withM = scored
      .join(broadcast(topSum("x_id", "y_id")), Seq("x_id"))
      .join(broadcast(topSum("y_id", "x_id")), Seq("y_id"))
      .withColumn("margin", round(
        when(col("sum_x_id") + col("sum_y_id") === 0L, 0.0)
          .otherwise(col("sim_u").cast("double") * (2 * kNN) /
            (col("sum_x_id") + col("sum_y_id")).cast("double")), 6))
    withM.groupBy(col("x_id"))
      .agg(expr("graft_topk(margin, y_id, 1)").as("top"))
      .select(col("x_id").as("src_id"),
        expr("top.c_id[0]").as("tgt_id"),
        expr("top.sim[0]").as("margin"))
      .where(col("margin") >= minMargin)
  }

  /** The SCALE form of [[bitextMine]]: candidate pairs come from the
    * binary sign-sketch hamming prefilter (per source doc, the
    * `rerank` nearest target sketches — [[binaryTopK]] phase 1)
    * instead of the full cross product, so the exact-cosine work drops
    * from Θ(|src|·|tgt|) to Θ(|src|·rerank). Neighborhood averages are
    * computed over the SAME candidate set (each side's top-kNN among
    * the pairs it appears in — the standard shortlist approximation:
    * both directions of the kNN graph restricted to mined candidates).
    * With `rerank ≥ |tgt|` the candidate set is the full cross product
    * and the result equals [[bitextMine]] exactly (spec-pinned).
    */
  def bitextMineShortlist(emb: DataFrame, idCol: String, vecCol: String,
                          labelCol: String, srcLabel: Int, tgtLabel: Int,
                          kNN: Int = 4, minMargin: Double = 1.0,
                          rerank: Int = 50, bits: Int = 63): DataFrame = {
    val fdf = withCosine(emb)
    val src = broadcast(fdf.where(col(labelCol) === srcLabel)
      .select(col(idCol).as("x_id"), col(vecCol).as("x_vec"),
        expr(s"graft_binary_sketch($vecCol, $bits)").as("x_sk")))
    val tgt = Par.floor(fdf.where(col(labelCol) === tgtLabel), col(idCol))
      .select(col(idCol).as("y_id"), col(vecCol).as("y_vec"),
        expr(s"graft_binary_sketch($vecCol, $bits)").as("y_sk"))
    val shortlist = src.select(col("x_id").as("q_id"), col("x_sk"))
      .crossJoin(tgt.select(col("y_id").as("c_id"), col("y_sk")))
      .withColumn("sim", -expr("cast(bit_count(x_sk ^ y_sk) AS DOUBLE)"))
    val cand = topkByQuery(shortlist, rerank)
      .select(col("q_id").as("x_id"), col("c_id").as("y_id"))
    val scored = tgt.select(col("y_id"), col("y_vec"))
      .join(broadcast(cand), Seq("y_id"))
      .join(src.select(col("x_id"), col("x_vec")), Seq("x_id"))
      .select(col("x_id"), col("y_id"),
        expr(s"cast(round(${nativeCosine("x_vec", "y_vec")} * 1000000, 0) AS BIGINT)")
          .as("sim_u"))
      .transform(Caches.lease(_))
    marginMine(scored, kNN, minMargin)
  }

  /** DuckDB twin of [[bitextMine]] — identical integer-micros
    * arithmetic, window formulations of the heaps.
    */
  def bitextMineSql(table: String, idCol: String, vecCol: String,
                    labelCol: String, srcLabel: Int, tgtLabel: Int,
                    kNN: Int = 4, minMargin: Double = 1.0): String =
    s"""WITH src AS (SELECT $idCol AS x_id, $vecCol AS x_vec FROM $table WHERE $labelCol = $srcLabel),
       |tgt AS (SELECT $idCol AS y_id, $vecCol AS y_vec FROM $table WHERE $labelCol = $tgtLabel),
       |scored AS (
       |  SELECT x_id, y_id,
       |    CAST(round(${duckCosine("x_vec", "y_vec")} * 1000000, 0) AS BIGINT) AS sim_u
       |  FROM src CROSS JOIN tgt),
       |${bitextMarginTailSql(kNN, minMargin)}""".stripMargin

  /** Shared SQL margin tail over a `scored(x_id, y_id, sim_u)` CTE. */
  private def bitextMarginTailSql(kNN: Int, minMargin: Double): String =
    s"""ax AS (
       |  SELECT x_id, sum(sim_u)::BIGINT AS sum_x FROM (
       |    SELECT x_id, sim_u,
       |      row_number() OVER (PARTITION BY x_id ORDER BY sim_u DESC, y_id ASC) AS rn
       |    FROM scored) t WHERE rn <= $kNN GROUP BY x_id),
       |ay AS (
       |  SELECT y_id, sum(sim_u)::BIGINT AS sum_y FROM (
       |    SELECT y_id, sim_u,
       |      row_number() OVER (PARTITION BY y_id ORDER BY sim_u DESC, x_id ASC) AS rn
       |    FROM scored) t WHERE rn <= $kNN GROUP BY y_id),
       |m AS (
       |  SELECT s.x_id, s.y_id,
       |    round(CASE WHEN ax.sum_x + ay.sum_y = 0 THEN 0.0
       |      ELSE s.sim_u::DOUBLE * ${2 * kNN} / (ax.sum_x + ay.sum_y)::DOUBLE END, 6) AS margin
       |  FROM scored s JOIN ax ON s.x_id = ax.x_id JOIN ay ON s.y_id = ay.y_id),
       |best AS (
       |  SELECT x_id, y_id, margin,
       |    row_number() OVER (PARTITION BY x_id ORDER BY margin DESC, y_id ASC) AS rn
       |  FROM m)
       |SELECT x_id AS src_id, y_id AS tgt_id, margin
       |FROM best WHERE rn = 1 AND margin >= $minMargin""".stripMargin

  /** DuckDB twin of [[bitextMineShortlist]] — identical hamming
    * shortlist order (hamming ASC, y_id ASC) and the shared margin
    * tail over the candidate pairs.
    */
  def bitextMineShortlistSql(table: String, idCol: String, vecCol: String,
                             labelCol: String, srcLabel: Int, tgtLabel: Int,
                             kNN: Int = 4, minMargin: Double = 1.0,
                             rerank: Int = 50, bits: Int = 63): String =
    s"""WITH src AS (
       |  SELECT $idCol AS x_id, $vecCol AS x_vec,
       |    ${binarySketchSqlExpr(vecCol, bits)} AS x_sk
       |  FROM $table WHERE $labelCol = $srcLabel),
       |tgt AS (
       |  SELECT $idCol AS y_id, $vecCol AS y_vec,
       |    ${binarySketchSqlExpr(vecCol, bits)} AS y_sk
       |  FROM $table WHERE $labelCol = $tgtLabel),
       |short AS (
       |  SELECT x_id, y_id FROM (
       |    SELECT s.x_id, t.y_id,
       |      row_number() OVER (PARTITION BY s.x_id
       |        ORDER BY bit_count(xor(s.x_sk, t.y_sk)) ASC, t.y_id ASC) AS rn
       |    FROM src s CROSS JOIN tgt t) z
       |  WHERE rn <= $rerank),
       |scored AS (
       |  SELECT sh.x_id, sh.y_id,
       |    CAST(round(${duckCosine("s.x_vec", "t.y_vec")} * 1000000, 0) AS BIGINT) AS sim_u
       |  FROM short sh JOIN src s ON sh.x_id = s.x_id
       |    JOIN tgt t ON sh.y_id = t.y_id),
       |${bitextMarginTailSql(kNN, minMargin)}""".stripMargin

  /** DuckDB twin of [[binaryTopK]] — identical shortlist (hamming ASC,
    * c_id ASC) and identical rerank order (sim DESC, c_id ASC).
    */
  def binaryTopKSql(table: String, idCol: String, vecCol: String, k: Int,
                    queryPred: String, rerank: Int = 20,
                    bits: Int = 63): String =
    s"""WITH sk AS (
       |  SELECT $idCol, $vecCol AS vec,
       |    ${binarySketchSqlExpr(vecCol, bits)} AS sk
       |  FROM $table),
       |q AS (SELECT $idCol AS q_id, vec AS q_vec, sk AS q_sk FROM sk WHERE $queryPred),
       |shortlist AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q.q_id, c.$idCol AS c_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY bit_count(xor(q.q_sk, c.sk)) ASC, c.$idCol ASC) AS rn
       |    FROM q JOIN sk c ON q.q_id <> c.$idCol) t
       |  WHERE rn <= $rerank),
       |scored AS (
       |  SELECT s.q_id, s.c_id,
       |    round(${duckCosine("q.q_vec", "c.vec")}, 6) AS sim
       |  FROM shortlist s JOIN q ON s.q_id = q.q_id
       |    JOIN sk c ON s.c_id = c.$idCol),
       |ranked AS (
       |  SELECT q_id, c_id, sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
       |  FROM scored)
       |SELECT q_id, c_id, sim, rank FROM ranked WHERE rank <= $k""".stripMargin
}
