package graft.tools

import org.apache.spark.sql.functions._

import graft.llm.{Ivf, Similarity}

/** Measured recall@k AND scan fraction (candidates examined / corpus
  * — the real cost knob) of the approximate similarity paths against
  * the brute-force kNN baseline — the numbers SCALE.md quotes. Run:
  * `runMain graft.tools.RecallBench [sfDir] [nProbes] [k]`.
  */
object RecallBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nProbeRows = if (args.length > 1) args(1).toInt else 50
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.local("recallbench", benchSplits = false)

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    val probes = emb.where(col("vec_id") < nProbeRows)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("probe_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val brute = pairs(Similarity.knnJoin(emb, probes, "vec_id", "embedding", k))
    def recall(approx: Set[(Long, Long)]): Double =
      (approx intersect brute).size.toDouble / brute.size

    val ann1 = pairs(Similarity.annTopK(emb, probes, "vec_id", "embedding", k,
      nPlanes = 8, multiProbe = false))
    val annM = pairs(Similarity.annTopK(emb, probes, "vec_id", "embedding", k,
      nPlanes = 8, multiProbe = true))
    val model = Ivf.train(emb, "embedding", k = 16)
    // IVF scan fraction: corpus rows in the probe's nProbe cells
    val cellSizes = Ivf.assign(emb, "vec_id", "embedding", model)
      .groupBy("centroid_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    def ivfScan(np: Int): Double = {
      val pc = probes.select(Ivf.probeCentroids(col("embedding"), model, np)).collect()
      pc.map(_.getSeq[Int](0).map(cellSizes.getOrElse(_, 0L)).sum).sum.toDouble / (pc.length * n)
    }
    val ivfs = Seq(1, 2, 4, 6).map(np =>
      (np, recall(pairs(Ivf.ivfTopK(emb, probes, "vec_id", "embedding", model, k, np))), ivfScan(np)))

    println(f"recall@$k over $nProbeRows probes, $n vectors ($dir):")
    println(f"  sign-LSH nPlanes=8 single-probe: ${recall(ann1)}%.3f")
    println(f"  sign-LSH nPlanes=8 multi-probe:  ${recall(annM)}%.3f")
    ivfs.foreach { case (np, r, s) =>
      println(f"  IVF nlist=16 nProbe=$np%d:            $r%.3f  (scan ${s * 100}%.1f%%)") }
    spark.stop()
  }
}
