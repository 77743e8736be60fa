package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** q154 serve ATTRIBUTION probe (round 19, VERDICT r18 #6): q154 is the
  * slowest batch query after PageRank and the r18 LUT fix helped q191
  * far more. This splits one run of q154's timed story
  * (`SparkEntry.timed`) into its phases so the residual localizes:
  *
  *   encode  — corpus route+quantize scan (ivfPqEncode), noop-sunk;
  *   adc     — probes join + pq_adc_query scoring + bounded top-k
  *             (refine=0 serve), noop-sunk;
  *   full    — the timed story's serve (ADC shortlist + exact refine).
  *
  * Median of 5 per phase, warm pass first; the model is fit once,
  * outside the timed phases, as the bench keeps fitting out of its timed
  * runs (the story serves under a cached index's model). Findings go to
  * OPTIMIZATION_r19.md. */
object AnnServePhases {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = graft.operators.Similarity.kMeansFit(
      emb, "embedding", k = 16, iters = 3, init = "parallel")
    val pq = graft.operators.Similarity.pqTrain(
      emb, "embedding", m = 16, nCodes = 256, iters = 3)
    val qs = emb.filter(col("vec_id") % 100 === 0)

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timed(tag: String)(f: => Unit): Double = {
      spark.sparkContext.setJobDescription(s"annphase:$tag")
      val t0 = System.nanoTime(); f
      spark.sparkContext.setJobDescription(null)
      (System.nanoTime() - t0) / 1e9
    }
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)

    def encodeOnly(): Unit = noop(graft.operators.Similarity.ivfPqTopK(
      emb, qs.limit(0), "vec_id", "vec_id", "embedding", k = 5,
      centroids = cents, pq = pq, nProbe = 12, refine = 0))
    // scored stream BEFORE the bounded top-k: encode + probe join +
    // pq_adc_query kernel, no aggregation — isolates the typed
    // aggregator's share of the adc phase
    val centSeq = cents.orderBy(col("cid").asc).collect()
      .map(_.getSeq[Double](1).toSeq).toSeq
    def scoredOnly(): Unit = {
      import graft.plans.PqExpressions
      val assigned = graft.operators.Similarity.ivfPqEncode(
        emb.repartition(spark.sparkContext.defaultParallelism),
        "vec_id", "embedding", centSeq, pq)
      val probes = qs
        .select(col("vec_id").as("query_id"),
          graft.operators.Similarity.unitize(col("embedding")).as("__nq"))
        .select(col("query_id"),
          explode(PqExpressions.topCosArgMaxToSet(col("__nq"), centSeq, 12)).as("cell"),
          col("__nq"))
      noop(assigned.join(probes, Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("score", PqExpressions.pqAdcQuery(col("__codes"), col("__nq"), pq))
        .select(col("query_id"), col("vec_id"), col("score")))
    }
    def adcOnly(): Unit = noop(graft.operators.Similarity.ivfPqTopK(
      emb, qs, "vec_id", "vec_id", "embedding", k = 5,
      centroids = cents, pq = pq, nProbe = 12, refine = 0))
    def full(): Unit = noop(graft.operators.Similarity.ivfPqTopK(
      emb, qs, "vec_id", "vec_id", "embedding", k = 5,
      centroids = cents, pq = pq, nProbe = 12, refine = 4))

    encodeOnly(); scoredOnly(); adcOnly(); full() // warm (JIT + codegen + page cache)
    val e = (1 to 5).map(_ => timed("encode")(encodeOnly()))
    val sc = (1 to 5).map(_ => timed("scored")(scoredOnly()))
    val a = (1 to 5).map(_ => timed("adc")(adcOnly()))
    val f = (1 to 5).map(_ => timed("full")(full()))
    println(f"""{"probe":"q154_phases","encode_sec":${med(e)}%.3f,"scored_sec":${med(sc)}%.3f,"adc_sec":${med(a)}%.3f,"full_sec":${med(f)}%.3f,"encode_raw":"${e.map(t => f"$t%.2f").mkString(",")}","scored_raw":"${sc.map(t => f"$t%.2f").mkString(",")}","adc_raw":"${a.map(t => f"$t%.2f").mkString(",")}","full_raw":"${f.map(t => f"$t%.2f").mkString(",")}"}""")
    spark.stop()
    sys.exit(0)
  }
}
