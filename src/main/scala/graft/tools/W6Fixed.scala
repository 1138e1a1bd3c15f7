package graft.tools

import org.apache.spark.sql.functions._

/** Fixed-benchmark scale point for w6_curation_gate_twin (SCALE.md
  * "Round 13"): the gated query derives its benchmark from the corpus
  * itself (`doc_id % 19 == 3`), so under the amplification protocol
  * BOTH factors of its docs × bench-grams cost grow — the measured
  * 1.54 exponent of round 12 conflates the two. In production the
  * benchmark suite is FIXED-SIZE (eval suites don't grow with the
  * crawl); this tool reruns the exact same composition with the
  * benchmark pinned to an unamplified dir while the feed comes from
  * the amplified one, isolating the corpus term. Same session shape
  * and median-of-reps discipline as [[graft.Bench]].
  *
  * Usage: runMain graft.tools.W6Fixed <docsSfDir> <benchSfDir>
  */
object W6Fixed {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: W6Fixed <docsSfDir> <benchSfDir>")
    val Array(docsDir, benchDir) = args
    val spark = graft.GraftSession.local("w6fixed", benchSplits = true)
    graft.GraftSession.warmUp(spark, docsDir)

    def run(): Double = {
      val docs = spark.read.parquet(s"$docsDir/documents.parquet")
        .withColumn("ts", timestamp_micros(col("doc_id") * 1000000L))
      // the PINNED benchmark: always the unamplified dir's %19==3 slice
      val bench = spark.read.parquet(s"$benchDir/documents.parquet")
        .where(col("doc_id") % 19 === 3)
      val store = docs.where(col("doc_id") % 23 === 5).select("doc_id", "text")
      val t0 = System.nanoTime()
      graft.streaming.StreamingIngest.streamingCurationGate(
        docs.where(col("doc_id") % 19 =!= 3), store,
        graft.llm.Decontam.collectBenchGrams(bench, "text", 5),
        stopwords = Seq("the", "a"))
        .select("doc_id", "source")
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    val reps = graft.GraftSession.reps(5)
    val ts = (0 until reps).map(_ => run())
    val med = graft.GraftSession.median(ts)
    println(s"""{"metric":"w6_fixed_bench","value":$med,"unit":"sec","reps":$reps,"min":${ts.min},"max":${ts.max},"docs":"$docsDir","bench":"$benchDir"}""")
    spark.stop()
  }
}
