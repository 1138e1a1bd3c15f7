package graft.tools

import org.apache.spark.sql.functions._

/** Fixed-benchmark scale point for decontam_semantic (SCALE.md
  * "Round 14"): `Decontam.semanticDecontam` is a corpus ×
  * broadcast(bench) crossJoin — the w6 cost shape — so it is linear
  * in the corpus ONLY while the bench side stays fixed. The gated
  * query derives its bench slice from the same embeddings table
  * (`vec_id < 10`), which under identical-copy amplification would
  * grow both factors, exactly the conflation W6Fixed untangled for
  * the curation gate. This tool reruns the gated composition with the
  * bench PINNED to an unamplified dir while the corpus amplifies,
  * isolating the corpus term. Same session shape and median-of-reps
  * discipline as [[graft.Bench]].
  *
  * Usage: runMain graft.tools.SemFixed <corpusSfDir> <benchSfDir>
  */
object SemFixed {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: SemFixed <corpusSfDir> <benchSfDir>")
    val Array(corpusDir, benchDir) = args
    val spark = graft.GraftSession.local("semfixed", benchSplits = true)
    graft.GraftSession.warmUp(spark, corpusDir)

    def run(): Double = {
      // corpus = the amplified dir's non-bench slice (the gated
      // query's filter); bench = ALWAYS the unamplified dir's 10
      // probe vectors — eval suites don't grow with the crawl
      val corpus = spark.read.parquet(s"$corpusDir/embeddings.parquet")
        .where(col("vec_id") >= 10)
      val bench = spark.read.parquet(s"$benchDir/embeddings.parquet")
        .where(col("vec_id") < 10)
      val t0 = System.nanoTime()
      graft.llm.Decontam.semanticDecontam(
        corpus, bench, "vec_id", "embedding", threshold = 0.35)
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    val reps = graft.GraftSession.reps(5)
    val ts = (0 until reps).map(_ => run())
    val med = graft.GraftSession.median(ts)
    println(s"""{"metric":"sem_fixed_bench","value":$med,"unit":"sec","reps":$reps,"min":${ts.min},"max":${ts.max},"corpus":"$corpusDir","bench":"$benchDir"}""")
    spark.stop()
  }
}
