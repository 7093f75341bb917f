package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED IVF-PQ index — the deployment shape the bench numbers ask
  * for: the build (coarse k-means + codebooks + encode, ~20s at 500k
  * vectors) runs ONCE at ingest; every search afterwards touches only
  * the index files, and only the PROBED clusters' files at that.
  *
  * Layout (all parquet under `path/`):
  *  - `coarse/`    — nCoarse coarse centroids (cent_id, c_vec)
  *  - `codebooks/` — m × kSub subspace centroids (sub, cent_id, c_vec)
  *  - `codes/`     — one row per vector (v_id, codes, xn2), PARTITIONED
  *    BY `cluster`: a probe restricted to its clusters becomes a
  *    directory-pruned scan (the LayoutSpec partition-pruning lever
  *    applied to ANN) — a search with nprobe=2 over nCoarse=64 clusters
  *    reads ~3% of the index bytes, before any row is deserialized.
  *
  * [[searchTopK]] collects the probed cluster ids to the driver to form
  * the pruning predicate — that list is ≤ |queries| × nprobe ints
  * (index METADATA, like a sketch; the codes themselves never leave
  * executors). Results are identical to [[Pq.ivfPqTopK]] on the same
  * parameters: same probes, same LUTs, same ADC arithmetic.
  */
object PqIndex {

  /** Bump when any index-build algorithm changes (k-means init, encode
    * arithmetic, layout): [[ensure]] embeds it in the build signature, so
    * a stale on-disk index from an older code version rebuilds instead of
    * silently serving wrong results.
    */
  // v2: hash-seeded coarse k-means init; v3: same for PQ codebooks;
  // v4: residual codes carry the byte-packed qcodes word;
  // v5: zero-magnitude convention (sim(0⃗,·) = 0) in every cosine/ADC —
  //     indexes built under the unguarded arithmetic must rebuild
  val AlgoVersion = 5

  /** Build-once gate: run `build` unless `path` already holds an index
    * whose recorded signature matches. This is the steady-state split the
    * bench needs — the BUILD runs once at ingest (first touch), every
    * later call is a pure index SEARCH. Signature mismatch (params or
    * [[AlgoVersion]] changed) forces a rebuild.
    */
  def ensure(spark: SparkSession, path: String, signature: String)(build: => Unit): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(path, "_GRAFT_READY")
    val upToDate = fs.exists(marker) && {
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString == s"$AlgoVersion:$signature"
      finally in.close()
    }
    if (!upToDate) {
      build
      // write-then-RENAME so the marker appears atomically: a crash (or a
      // concurrent reader) can never observe a marker claiming readiness
      // over a half-written marker file. Concurrent BUILDS remain
      // single-writer by assumption (two interleaved builds could still
      // cross-write index files; callers that share a path across
      // sessions must serialize builds externally).
      val tmp = new org.apache.hadoop.fs.Path(path, "_GRAFT_READY.tmp")
      val out = fs.create(tmp, true)
      try out.write(s"$AlgoVersion:$signature".getBytes("UTF-8")) finally out.close()
      if (fs.exists(marker)) fs.delete(marker, false)
      fs.rename(tmp, marker)
    }
  }

  /** Identity of the DATA an index was built from: a digest folding
    * every file's (path, length, mtime) — NOT count/bytes/mtime
    * aggregates, which an in-place regeneration can leave unchanged
    * (equal-and-opposite size shifts, same file count, writes inside one
    * mtime granule). [[ensure]] callers embed this in the signature so
    * regenerating a dataset in place (same dir, different content)
    * forces a rebuild instead of silently serving results from the stale
    * index. Entries are sorted by path so listing order can't move the
    * digest. Residual caveat: content rewritten with identical per-file
    * length AND mtime is indistinguishable without reading bytes —
    * filesystem-metadata fingerprints can't see through that.
    */
  def dataFingerprint(spark: SparkSession, dataPath: String): String = {
    val p = new org.apache.hadoop.fs.Path(dataPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else {
      val it = fs.listFiles(p, true)
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val f = it.next()
        entries += s"${f.getPath.toUri.getPath}:${f.getLen}:${f.getModificationTime}"
      }
      val md = java.security.MessageDigest.getInstance("SHA-256")
      entries.sorted.foreach(e => md.update(e.getBytes("UTF-8")))
      s"n=${entries.size},sha=" + md.digest().take(8).map("%02x".format(_)).mkString
    }
  }

  /** Build and persist a FLAT (non-IVF) PQ index: codebooks + one code
    * row per vector carrying both the int-array code word and its
    * byte-packed form (`qcodes` is the literal at-rest payload: m bytes
    * + a norm; the array twin keeps the plain ADC kernel addressable).
    */
  def writeFlat(corpus: DataFrame, idCol: String, vecCol: String, path: String,
                dim: Int, m: Int = 4, kSub: Int = 8, iters: Int = 2): Unit = {
    val w = dim / m
    val cent = Pq.pqCentroids(corpus, idCol, vecCol, dim, m, kSub, iters)
    cent.write.mode("overwrite").parquet(s"$path/codebooks")
    Pq.pqEncode(corpus, idCol, vecCol, cent, m, w)
      .select(col("v_id"), col("codes"),
        expr("graft_pack_i8(codes)").as("qcodes"), col("xn2"))
      .write.mode("overwrite").parquet(s"$path/codes")
  }

  /** ADC top-k over the persisted FLAT index: broadcast query LUTs ×
    * one scan of the code frame — no training, no vector math per pair.
    * `packed` scans the binary word via `graft_pq_adc_packed` (bit-equal
    * fold order to the array kernel).
    */
  def searchFlatTopK(spark: SparkSession, path: String, queries: DataFrame,
                     k: Int, dim: Int, m: Int = 4, kSub: Int = 8,
                     packed: Boolean = false): DataFrame = {
    // register the graft expressions BEFORE any eagerly-analyzed
    // transformation touches them (Dataset ops resolve at construction;
    // without this the first index call in a fresh session fails analysis)
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val w = dim / m
    val cent = CorpusIO.readParquet(spark, s"$path/codebooks")
    val q = graft.functions.VectorFunctions.attach(queries)
      .select(col(queries.columns.head).as("v_id"),
        col(queries.columns(1)).as("vec"))
    val qrows = broadcast(Pq.queryLutsFor(q, cent, m, kSub, w))
    val adc =
      if (packed) expr(s"graft_pq_adc_packed(qcodes, flat, $kSub)")
      else expr(s"graft_pq_adc(codes, flat, $kSub)")
    val scored = CorpusIO.readParquet(spark, s"$path/codes").crossJoin(qrows)
      .where(col("q_id") =!= col("v_id"))
      .withColumn("sim", Pq.normSim(adc))
      .select(col("q_id"), col("v_id").as("c_id"), col("sim"))
    Similarity.topkByQuery(scored, k)
  }

  /** Build and persist the RESIDUAL IVF-PQ index (the standard IVFADC
    * at rest): coarse centroids, residual-trained codebooks, and
    * cluster-PARTITIONED code rows (v_id, codes, xn2) where xn2 is the
    * exact reconstruction norm |c + r̂|². Same directory-pruned search
    * properties as [[write]]; the residual codes recover more precision
    * per byte on clustered data. Measured at 500k vectors, local[32]
    * (tools/ProbePqIndex): build 21.7s once, search 0.89s — the same
    * ~25× build/search split as the non-residual index (38.6s / 0.98s).
    */
  def writeResidual(corpus: DataFrame, idCol: String, vecCol: String, path: String,
                    dim: Int, m: Int = 4, kSub: Int = 8, iters: Int = 2,
                    nCoarse: Int = 8, coarseIters: Int = 2): Unit = {
    val w = dim / m
    val coarse = Similarity.kmeansCentroids(corpus, idCol, vecCol, nCoarse, coarseIters)
    coarse.write.mode("overwrite").parquet(s"$path/coarse")
    val b = graft.functions.VectorFunctions.attach(corpus)
      .select(col(idCol).as("v_id"), col(vecCol).as("vec"))
    // assigned feeds only residualFrame since residualEncode reads
    // cluster off `resid` itself (r21) — a single-consumer lease would
    // be pure cache-serialization overhead, so only `resid` leases
    val assigned = Similarity.assignClusters(b, broadcast(coarse))
    val ccn = Pq.coarseWithNorms(broadcast(coarse))
    val resid = Pq.residualFrame(assigned, ccn).transform(Caches.lease(_))
    val cent = Pq.pqCentroids(resid, "v_id", "rvec", dim, m, kSub, iters)
    cent.write.mode("overwrite").parquet(s"$path/codebooks")
    Pq.residualEncode(resid, ccn, cent, m, w)
      .select(col("v_id"), col("codes"),
        expr("graft_pack_i8(codes)").as("qcodes"), col("xn2"), col("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$path/codes")
  }

  /** ADC top-k over the persisted RESIDUAL index: probed clusters'
    * partitions only; the per-(query, cluster) dot(q, c) scalar comes
    * off the broadcast coarse table; the flat LUT is over residual
    * codebooks. Results are identical to [[Pq.ivfPqResidualTopK]] on
    * the same parameters.
    */
  def searchResidualTopK(spark: SparkSession, path: String, queries: DataFrame,
                         k: Int, dim: Int, m: Int = 4, kSub: Int = 8,
                         nprobe: Int = 2, packed: Boolean = false): DataFrame = {
    // register the graft expressions BEFORE any eagerly-analyzed
    // transformation touches them (Dataset ops resolve at construction;
    // without this the first index call in a fresh session fails analysis)
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val w = dim / m
    val coarse = broadcast(CorpusIO.readParquet(spark, s"$path/coarse"))
    val ccn = Pq.coarseWithNorms(coarse)
    val cent = CorpusIO.readParquet(spark, s"$path/codebooks")
    val q = graft.functions.VectorFunctions.attach(queries)
      .select(col(queries.columns.head).as("v_id"),
        col(queries.columns(1)).as("vec"))
    val probed = Pq.residualProbes(q, coarse, ccn, nprobe)
    // ONE metadata-sized collect of the broadcast-bound (probe ⋈ LUT)
    // rows (r21, see searchTopK): literal cluster ids for directory
    // pruning + a LocalTableScan broadcast side from a single action
    val qrowsPlan = probed.join(Pq.queryLutsFor(q, cent, m, kSub, w), Seq("q_id"))
    val qrowsLocal = qrowsPlan.collect()
    val ci = qrowsPlan.schema.fieldIndex("cluster")
    val probedClusters = qrowsLocal.map(_.getLong(ci)).distinct.toSeq
    val codes = CorpusIO.readParquet(spark, s"$path/codes")
      .where(col("cluster").isin(probedClusters: _*))
    val qrows = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(qrowsLocal: _*), qrowsPlan.schema))
    Similarity.topkByQuery(Pq.residualScore(codes, qrows, kSub, packed), k)
  }

  /** Incremental maintenance of the RESIDUAL index — the daily-crawl
    * shape: encode `newVectors` with the index's FROZEN coarse centroids
    * and codebooks (read from the index itself; NO retrain) and append
    * them into the cluster-partitioned codes layout. Search is unchanged
    * and sees old + new rows; append-vs-rebuild equality is pinned by
    * PqIndexSpec (appending equals the one-shot encode of the union
    * under the same frozen parameters, because encode is a pure function
    * of (vector, centroids, codebooks)).
    *
    * Scale shape: the new crawl pays one assignment pass against the
    * broadcast centroids + one encode — never touches existing code
    * rows; `partitionBy(cluster)` append drops new files into existing
    * cluster directories, so directory pruning keeps working. Codebook
    * drift under a shifting distribution is the documented operational
    * caveat (standard IVFADC practice: monitor recall, retrain + rebuild
    * when it decays — [[AlgoVersion]]/signature forces that rebuild).
    */
  def appendResidual(spark: SparkSession, path: String, newVectors: DataFrame,
                     idCol: String, vecCol: String): Unit = {
    // register the graft expressions BEFORE any eagerly-analyzed
    // transformation touches them (Dataset ops resolve at construction;
    // without this the first index call in a fresh session fails analysis)
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val coarse = broadcast(CorpusIO.readParquet(spark, s"$path/coarse"))
    val cent = CorpusIO.readParquet(spark, s"$path/codebooks")
    // m and w come off the persisted codebooks — metadata-sized read
    val mw = cent.selectExpr("cast(max(sub) AS INT)", "cast(max(size(c_vec)) AS INT)").first()
    val m = mw.getInt(0) + 1
    val w = mw.getInt(1)
    val b = graft.functions.VectorFunctions.attach(newVectors)
      .select(col(idCol).as("v_id"), col(vecCol).as("vec"))
    // with frozen codebooks nothing here is consumed twice (no retrain
    // reads resid; residualEncode reads cluster off resid itself, r21)
    // — the append is one straight-line encode, zero leases
    val assigned = Similarity.assignClusters(b, coarse)
    val ccn = Pq.coarseWithNorms(coarse)
    val resid = Pq.residualFrame(assigned, ccn)
    Pq.residualEncode(resid, ccn, cent, m, w)
      .select(col("v_id"), col("codes"),
        expr("graft_pack_i8(codes)").as("qcodes"), col("xn2"), col("cluster"))
      .write.mode("append").partitionBy("cluster").parquet(s"$path/codes")
  }

  /** Build and persist the IVF-FLAT index (learned-centroid routing over
    * FULL vectors — no PQ loss): coarse k-means centroids plus the
    * assigned corpus partitioned by cluster. The exact-vector tier of
    * the index family: same directory-pruned search as the PQ layouts,
    * scoring true cosines within the probed clusters.
    */
  def writeIvfFlat(corpus: DataFrame, idCol: String, vecCol: String, path: String,
                   nCentroids: Int = 8, iters: Int = 2): Unit = {
    val coarse = Similarity.kmeansCentroids(corpus, idCol, vecCol, nCentroids, iters)
    coarse.write.mode("overwrite").parquet(s"$path/coarse")
    val base = graft.functions.VectorFunctions.attach(corpus)
      .select(col(idCol).as("v_id"), col(vecCol).as("vec"))
    Similarity.assignClusters(base, broadcast(coarse))
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$path/vectors")
  }

  /** Multi-probe search over the persisted IVF-FLAT index: probe
    * selection against the broadcast coarse table, directory-pruned scan
    * of the probed clusters' vectors, exact cosine within candidates.
    * Results are identical to [[Similarity.ivfTopKKmeans]] on the same
    * parameters (same centroids by build determinism, same probes, same
    * rounding, same bounded-heap top-k) — IvfFlatIndexSpec pins it.
    */
  def searchIvfFlatTopK(spark: SparkSession, path: String, queries: DataFrame,
                        k: Int, nprobe: Int = 2): DataFrame = {
    // register the graft expressions BEFORE any eagerly-analyzed
    // transformation touches them (Dataset ops resolve at construction;
    // without this the first index call in a fresh session fails analysis)
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val coarse = broadcast(CorpusIO.readParquet(spark, s"$path/coarse"))
    val q = graft.functions.VectorFunctions.attach(queries)
      .select(col(queries.columns.head).as("q_id"),
        col(queries.columns(1)).as("q_vec"))
    val probes = q.crossJoin(coarse)
      .withColumn("csim", round(expr(Similarity.nativeCosine("q_vec", "c_vec")), 6))
      .groupBy(col("q_id"))
      .agg(expr(s"graft_topk(csim, cent_id, $nprobe)").as("top"))
      .select(col("q_id"), explode(col("top.c_id")).as("cluster"))
    // ONE metadata-sized collect of the broadcast-bound (probe ⋈ query)
    // rows (r21, see searchTopK): literal cluster ids for directory
    // pruning + a LocalTableScan broadcast side from a single action
    val qrowsPlan = probes.join(q, Seq("q_id"))
    val qrowsLocal = qrowsPlan.collect()
    val ci = qrowsPlan.schema.fieldIndex("cluster")
    val probedClusters = qrowsLocal.map(_.getLong(ci)).distinct.toSeq
    val vecs = CorpusIO.readParquet(spark, s"$path/vectors")
      .where(col("cluster").isin(probedClusters: _*))
    val qrows = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(qrowsLocal: _*), qrowsPlan.schema))
    Similarity.topkByQuery(
      qrows.join(vecs.select(col("v_id").as("c_id"), col("vec").as("c_vec"),
          col("cluster")), Seq("cluster"))
        .where(col("q_id") =!= col("c_id"))
        .withColumn("sim", round(expr(Similarity.nativeCosine("q_vec", "c_vec")), 6)), k)
  }

  /** Incremental maintenance of the IVF-FLAT index — the daily-crawl
    * shape for the exact-vector tier (the [[appendResidual]] analog):
    * assign `newVectors` to the index's FROZEN coarse centroids (read
    * from the index; no retrain) and append them into the
    * cluster-partitioned vectors layout. Search is unchanged and sees
    * old + new rows; append-vs-rebuild equality holds because
    * assignment is a pure function of (vector, centroids) —
    * IvfFlat parity is pinned at the search level by PqIndexSpec. Same
    * codebook-drift caveat as the residual index: monitor recall,
    * rebuild via signature change when the distribution moves.
    */
  def appendIvfFlat(spark: SparkSession, path: String, newVectors: DataFrame,
                    idCol: String, vecCol: String): Unit = {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val coarse = broadcast(CorpusIO.readParquet(spark, s"$path/coarse"))
    val base = graft.functions.VectorFunctions.attach(newVectors)
      .select(col(idCol).as("v_id"), col(vecCol).as("vec"))
    Similarity.assignClusters(base, coarse)
      .write.mode("append").partitionBy("cluster").parquet(s"$path/vectors")
  }

  /** Build and persist the index. `dim` must divide into `m` subspaces.
    *
    * The assignment frame is LEASED (as in [[writeResidual]]): codebook
    * training, encode, and the cluster join all read it from cache —
    * without the lease each consumer re-derived the corpus scan AND the
    * nCoarse-way assignment crossJoin per action (measured 243s vs the
    * residual build's 49.8s at 500k vectors / nCoarse=64 before this;
    * the residual layout never regressed because it leased from day one).
    */
  def write(corpus: DataFrame, idCol: String, vecCol: String, path: String,
            dim: Int, m: Int = 4, kSub: Int = 8, iters: Int = 2,
            nCoarse: Int = 8, coarseIters: Int = 2): Unit = {
    val w = dim / m
    val coarse = Similarity.kmeansCentroids(corpus, idCol, vecCol, nCoarse, coarseIters)
    coarse.write.mode("overwrite").parquet(s"$path/coarse")
    val b = graft.functions.VectorFunctions.attach(corpus)
      .select(col(idCol).as("v_id"), col(vecCol).as("vec"))
    val assigned = Similarity.assignClusters(b, broadcast(coarse))
      .transform(Caches.lease(_))
    // same (v_id, vec) rows as the corpus — training over the leased
    // frame is value-identical (deterministic hash-seeded init) and
    // saves the re-scan
    val cent = Pq.pqCentroids(assigned, "v_id", "vec", dim, m, kSub, iters)
    cent.write.mode("overwrite").parquet(s"$path/codebooks")
    // cluster rides the encode's group keys (r21) — the old
    // `pqEncode ⋈ assigned(v_id → cluster)` re-shuffled and sorted the
    // corpus-grain code rows purely to re-attach a column the input
    // already carried; PqIndexSpec pins the two forms equal
    Pq.pqEncodeAssigned(assigned, cent, m, w)
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$path/codes")
  }

  /** ADC top-k over the persisted index for a (q_id, vec) query frame.
    * Only the probed clusters' partitions are scanned.
    */
  def searchTopK(spark: SparkSession, path: String, queries: DataFrame,
                 k: Int, dim: Int, m: Int = 4, kSub: Int = 8,
                 nprobe: Int = 2): DataFrame = {
    // register the graft expressions BEFORE any eagerly-analyzed
    // transformation touches them (Dataset ops resolve at construction;
    // without this the first index call in a fresh session fails analysis)
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val w = dim / m
    val coarse = broadcast(CorpusIO.readParquet(spark, s"$path/coarse"))
    val cent = CorpusIO.readParquet(spark, s"$path/codebooks")
    val q = graft.functions.VectorFunctions.attach(queries)
      .select(col(queries.columns.head).as("v_id"),
        col(queries.columns(1)).as("vec"))
    val probes = q.crossJoin(coarse)
      .withColumn("csim", round(expr(Similarity.nativeCosine("vec", "c_vec")), 6))
      .groupBy(col("v_id"))
      .agg(expr(s"graft_topk(csim, cent_id, $nprobe)").as("top"))
      .select(col("v_id").as("q_id"), explode(col("top.c_id")).as("cluster"))
    // ONE metadata-sized collect (r21, guide §1/§2): the broadcast-bound
    // (probe ⋈ LUT) rows — ≤ |queries| × nprobe rows of (ids + m·kSub
    // doubles), exactly what the broadcast already pulled to the driver
    // — yield BOTH the literal cluster ids for partition pruning and a
    // LocalTableScan broadcast side. The old shape ran the probe
    // crossJoin+agg subtree TWICE (once for the distinct-cluster
    // collect, once inside the broadcast build).
    val qrowsPlan = probes.join(Pq.queryLutsFor(q, cent, m, kSub, w), Seq("q_id"))
    val qrowsLocal = qrowsPlan.collect()
    val ci = qrowsPlan.schema.fieldIndex("cluster")
    val probedClusters = qrowsLocal.map(_.getLong(ci)).distinct.toSeq
    val codes = CorpusIO.readParquet(spark, s"$path/codes")
      .where(col("cluster").isin(probedClusters: _*))
    val qrows = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(qrowsLocal: _*), qrowsPlan.schema))
    val scored = codes.join(qrows, Seq("cluster"))
      .where(col("q_id") =!= col("v_id"))
      .withColumn("sim", Pq.normSim(expr(s"graft_pq_adc(codes, flat, $kSub)")))
      .select(col("q_id"), col("v_id").as("c_id"), col("sim"))
    Similarity.topkByQuery(scored, k)
  }

  /** At-rest BINARY sign-sketch index: one parquet frame
    * (v_id, sk BIGINT, vec). The columnar layout IS the index — the
    * hamming prefilter reads only (v_id, sk), 16 bytes per vector
    * (parquet column pruning; a billion 64-dim vectors' prefilter side
    * is 16 GB where the float vectors are 256 GB), and the rerank
    * fetch re-reads the SAME frame pruned to (v_id, vec) for the
    * |Q|·rerank shortlist only.
    */
  def writeBinary(corpus: DataFrame, idCol: String, vecCol: String,
                  path: String, bits: Int = 63): Unit =
    graft.functions.VectorFunctions.attach(corpus)
      .select(col(idCol).as("v_id"), col(vecCol).as("vec"),
        expr(s"graft_binary_sketch($vecCol, $bits)").as("sk"))
      .write.mode("overwrite").parquet(s"$path/sketches")

  /** Two-phase search over the persisted binary index — identical
    * results to [[Similarity.binaryTopK]] on the same parameters (same
    * sketches by build determinism, same shortlist order, same rounded
    * rerank; spec-pinned), but steady-state: no sketch computation in
    * the query path at all.
    */
  def searchBinaryTopK(spark: SparkSession, path: String, queries: DataFrame,
                       k: Int, rerank: Int = 20, bits: Int = 63): DataFrame = {
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val qsk = broadcast(graft.functions.VectorFunctions.attach(queries)
      .select(col(queries.columns.head).as("q_id"),
        col(queries.columns(1)).as("q_vec"),
        expr(s"graft_binary_sketch(${queries.columns(1)}, $bits)").as("q_sk")))
    val idx = CorpusIO.readParquet(spark, s"$path/sketches")
    val shortlist = qsk.select(col("q_id"), col("q_sk"))
      .join(idx.select(col("v_id"), col("sk")), col("q_id") =!= col("v_id"))
      .withColumn("sim", -expr("cast(bit_count(q_sk ^ sk) AS DOUBLE)"))
      .select(col("q_id"), col("v_id").as("c_id"), col("sim"))
    val cand = Similarity.topkByQuery(shortlist, rerank)
      .select(col("q_id"), col("c_id"))
    val fetched = idx.select(col("v_id").as("c_id"), col("vec").as("c_vec"))
      .join(broadcast(cand), Seq("c_id"))
    val scored = fetched.join(qsk.select(col("q_id"), col("q_vec")), Seq("q_id"))
      .withColumn("sim",
        round(expr(Similarity.nativeCosine("q_vec", "c_vec")), 6))
    Similarity.topkByQuery(scored.select(col("q_id"), col("c_id"), col("sim")), k)
  }
}
