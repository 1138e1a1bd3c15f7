package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming IVF-ingest scale measurement — the [[MmStreamScale]]
  * discipline applied to
  * [[graft.streaming.StreamingIngest.ivfIngestStream]]: seed the cell
  * layout with the gate split's store side (vec_id % 3 != 0), drive
  * the arriving third (vec_id % 3 == 0, split into `nBatches` CSV
  * drops carrying the vector as a `;`-joined string) through the
  * streaming loop, then REPLAY the identical batch sequence through
  * the batch face ([[graft.llm.Ivf.assign]] + the same
  * (centroid_id, ingest_batch) dynamic partition overwrite) and pin
  *
  *  - stream layout == replay layout on
  *    (vec_id, centroid_id, ingest_batch) — both exceptAll directions
  *    empty;
  *  - probe parity: [[graft.llm.Ivf.cellLayoutTopK]] over the
  *    stream-maintained layout == [[graft.llm.Ivf.ivfTopK]] over
  *    every vector that ever arrived.
  *
  * The per-batch cost is the steady-state number: one assign pass
  * (k·d model broadcast, batch-bounded) plus one partitioned write —
  * the layout is never READ in the loop, so the cost must be flat in
  * store size by construction; this tool measures that it is.
  *
  * Mode `quant` runs the same protocol on the QUANTIZED tier
  * ([[graft.streaming.StreamingIngest.ivfQuantIngestStream]] vs the
  * batch quantize+assign replay, probes via
  * [[graft.llm.Ivf.quantCellLayoutTopK]] vs ivfQuantTopK), with the
  * layout parity extended to the stored (scale, codes) pair — the
  * stream must persist byte-identical codes to the batch face.
  *
  * usage: runMain graft.tools.IvfStreamScale <sfDir> <nBatches> [float|quant]
  * env: SPARK_GRAFT_BENCH_REPS (default 3), SPARK_GRAFT_CPUS (default 4)
  */
object IvfStreamScale {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: IvfStreamScale <sfDir> <nBatches> [float|quant]")
    val sfDir = args(0)
    val nBatches = args(1).toInt
    val mode = if (args.length == 3) args(2) else "float"
    require(nBatches >= 1, s"bad nBatches=$nBatches")
    require(mode == "float" || mode == "quant", s"bad mode=$mode")

    val spark = graft.GraftSession.local("ivfstream", benchSplits = true)
    graft.GraftSession.warmUp(spark, sfDir)

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val model = graft.llm.Ivf.train(emb, "embedding", k = 16)
    // seed vectors cast to array<double> so the layout's vector
    // column has ONE type across seed and stream-appended partitions
    // (the stream parses `;`-joined text to double[])
    val storeSrc = emb.where(col("vec_id") % 3 =!= 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    // arriving third, as the CSV text the stream actually parses —
    // the replay face reads the SAME staged files, so parity is over
    // identical inputs
    val batchAll = emb.where(col("vec_id") % 3 === 0)
      .select(col("vec_id"), array_join(col("embedding"), ";").as("emb"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id LONG, emb STRING")

    import java.nio.file.{Files, Paths, StandardCopyOption}
    def tmp(prefix: String): String = graft.SparkEntry.cleanedTempDir(prefix)
    def moveCsvs(from: String, to: String): Unit = {
      val s = Files.list(Paths.get(from))
      try s.forEach { p =>
        if (p.getFileName.toString.endsWith(".csv"))
          Files.move(p, Paths.get(to, p.getFileName.toString),
            StandardCopyOption.ATOMIC_MOVE)
      } finally s.close()
    }
    def stageBatches(stage: String): Unit =
      (0 until nBatches).foreach { b =>
        batchAll.where((col("vec_id") / 3) % nBatches === b)
          .coalesce(1).write.option("header", "true").csv(s"$stage/b$b")
      }
    def parse(df: DataFrame): DataFrame = df.withColumn("embedding",
      expr("transform(split(emb, ';'), x -> cast(x AS double))"))
      .select("vec_id", "embedding")

    val quant = mode == "quant"
    def seed(layout: String): Unit =
      if (quant) graft.streaming.StreamingIngest.seedIvfQuantLayout(
        storeSrc, "vec_id", "embedding", model, layout)
      else graft.streaming.StreamingIngest.seedIvfLayout(
        storeSrc, "vec_id", "embedding", model, layout)

    def runOnce(): (Double, Double, Double, Double, Long, Boolean) = {
      // ---- streaming face ----
      val stage = tmp("graft_ivfstream_stage_")
      stageBatches(stage)
      val watch = tmp("graft_ivfstream_watch_")
      val layout = tmp("graft_ivfstream_layout_")
      val ckpt = tmp("graft_ivfstream_ckpt_")
      val tSeed = System.nanoTime()
      seed(layout)
      val seedSec = (System.nanoTime() - tSeed) / 1e9
      val t0 = System.nanoTime()
      (0 until nBatches).foreach { b =>
        val tb = System.nanoTime()
        moveCsvs(s"$stage/b$b", watch)
        val q = (if (quant)
          graft.streaming.StreamingIngest.ivfQuantIngestStream(
            spark, watch, schema, layout, ckpt, "vec_id", "emb", "embedding", model)
        else
          graft.streaming.StreamingIngest.ivfIngestStream(
            spark, watch, schema, layout, ckpt, "vec_id", "emb", "embedding", model))
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        System.err.println(s"[ivfstream] batch $b: ${(System.nanoTime() - tb) / 1e9}s")
      }
      val streamSec = (System.nanoTime() - t0) / 1e9

      // ---- batch-replay face: the foreachBatch body, re-played ----
      val stage2 = tmp("graft_ivfstream_stage2_")
      stageBatches(stage2)
      val layout2 = tmp("graft_ivfstream_layout2_")
      seed(layout2)
      val t1 = System.nanoTime()
      (0 until nBatches).foreach { b =>
        val batch = parse(spark.read.schema(schema).option("header", "true")
          .csv(s"$stage2/b$b"))
        (if (quant)
          graft.llm.Ivf.quantAssignedForStream(batch, "vec_id", "embedding", model)
        else
          graft.llm.Ivf.assign(batch, "vec_id", "embedding", model))
          .withColumn("ingest_batch", lit(b.toLong))
          .write.partitionBy("centroid_id", "ingest_batch").mode("overwrite")
          .option("partitionOverwriteMode", "dynamic").parquet(layout2)
      }
      val replaySec = (System.nanoTime() - t1) / 1e9

      // ---- parity ----
      // quant mode additionally pins the stored (scale, codes) pair —
      // the stream must persist byte-identical codes to the batch face
      def rows(dir: String) = {
        val base = spark.read.parquet(dir)
        val keyCols = Seq(col("vec_id"), col("centroid_id").cast("int"),
          col("ingest_batch"))
        if (quant) base.select(keyCols :+ col("scale") :+ col("codes"): _*)
        else base.select(keyCols: _*)
      }
      val a = rows(layout)
      val b = rows(layout2)
      val probes = emb.where(col("vec_id") < 5)
      val everything = storeSrc.unionByName(parse(
        spark.read.schema(schema).option("header", "true").csv(s"$stage2/b*")))
      val tP = System.nanoTime()
      val viaLayout = (if (quant)
        graft.llm.Ivf.quantCellLayoutTopK(spark, layout, probes,
          "vec_id", "embedding", model, k = 5, nProbe = 4)
      else
        graft.llm.Ivf.cellLayoutTopK(spark, layout, probes,
          "vec_id", "embedding", model, k = 5, nProbe = 4))
        .select("probe_id", "neighbor_id", "rank")
      val probeSec = { viaLayout.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - tP) / 1e9 }
      val viaMemory = (if (quant)
        graft.llm.Ivf.ivfQuantTopK(everything, probes,
          "vec_id", "embedding", model, k = 5, nProbe = 4)
      else
        graft.llm.Ivf.ivfTopK(everything, probes,
          "vec_id", "embedding", model, k = 5, nProbe = 4))
        .select("probe_id", "neighbor_id", "rank")
      val parity = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty &&
        viaLayout.exceptAll(viaMemory).isEmpty &&
        viaMemory.exceptAll(viaLayout).isEmpty
      (streamSec, replaySec, seedSec, probeSec, a.count(), parity)
    }

    val reps = graft.GraftSession.reps(3)
    val runs = (0 until reps).map(_ => runOnce())
    import graft.GraftSession.{median => med}
    val parity = runs.forall(_._6)
    println(s"""{"metric":"ivf_stream_scale","streamSec":${med(runs.map(_._1))},""" +
      s""""replaySec":${med(runs.map(_._2))},"seedSec":${med(runs.map(_._3))},""" +
      s""""probeSec":${med(runs.map(_._4))},""" +
      s""""streamMin":${runs.map(_._1).min},"replayMin":${runs.map(_._2).min},""" +
      s""""reps":$reps,"nBatches":$nBatches,"nLayout":${runs.head._5},""" +
      s""""mode":"$mode","parity":$parity,"sf":"$sfDir"}""")
    require(parity, "stream vs batch-replay parity FAILED")
    spark.stop()
  }
}
