package graft.tools
import graft.ops.CorpusIO
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
object ProbeBpe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/probe_1m")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val docs = CorpusIO.readParquet(spark, s"$dir/documents.parquet")
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[probe] $label%-28s ${(System.nanoTime()-t0)/1e9}%8.2f s  (rows=$n)")
    }
    // warm
    docs.select(expr("graft_bpe_count(text)")).queryExecution.toRdd.count()
    time("bpe_count scan")(docs.select(col("doc_id"), col("source"),
      expr("graft_bpe_count(text)").as("n")).queryExecution.toRdd.count())
    time("word_count scan")(docs.select(col("doc_id"), col("source"),
      expr("graft_token_count(text)").as("n")).queryExecution.toRdd.count())
    time("pack word")(graft.ops.Sampling.packSequencesSharded(
      docs, "doc_id", "text", "source", budget = 2048, shards = 8)
      .queryExecution.toRdd.count())
    time("pack bpe")(graft.ops.Sampling.packSequencesSharded(
      docs, "doc_id", "text", "source", budget = 2048, shards = 8,
      tokensExpr = graft.ops.Bpe.sparkTokenCountExpr)
      .queryExecution.toRdd.count())
    // the SCALE half of the learner (VERDICT r8 #3 / r9 #3): collected-
    // histogram driver loop to real-tokenizer rank counts — the Spark
    // parity loop at this k would schedule ~2k jobs of millisecond work.
    // Every k after the first runs against the SAME JVM (cold-vs-warm
    // discipline); the synthetic crawl corpus exhausts at ~289 merges
    // (template vocabulary), so pass a rich-vocab corpus dir as arg 2
    // (see SURVEY's scale-validation recipe for /tmp/probe_bpe: 1M docs
    // x 40 words over a log-uniform ~40k-word vocabulary) to drive the
    // 32k-merge production-vocab shape.
    // arg 2 is a corpus DIR iff it is not purely numeric (a digit
    // ANYWHERE in a path — /tmp/probe_1m — must not disqualify it)
    val learnDocs = args.lift(1).filter(a => !a.forall(_.isDigit))
      .map(d => CorpusIO.readParquet(spark, s"$d/documents.parquet")).getOrElse(docs)
    val ks = {
      val given = args.drop(1).filter(a => a.nonEmpty && a.forall(_.isDigit)).map(_.toInt)
      if (given.nonEmpty) given.toSeq else Seq(1000)
    }
    for (k <- ks) time(s"learnMergesLocal k=$k") {
      val merges = graft.ops.Bpe.learnMergesLocal(learnDocs, "text", k = k)
      println(s"[probe]   learned ${merges.size} merges; " +
        s"first 5: ${merges.take(5).mkString(", ")}; last: ${merges.lastOption.getOrElse("-")}")
      merges.size.toLong
    }
    spark.stop()
  }
}
