package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming KN-model-maintenance scale measurement — the
  * [[IvfStreamScale]] discipline applied to
  * [[graft.streaming.StreamingIngest.knModelStream]]: seed the model
  * store with the gate's seed slice (doc_id % 8 == 0), drive the
  * remaining reference slice (doc_id % 4 == 0 && % 8 != 0, split into
  * `nBatches` CSV drops) through the streaming loop, then REPLAY the
  * identical sequence through the batch face
  * ([[graft.llm.LangModel.ingestKnModel]]) and pin
  *
  *  - merged stream store == merged replay store on (bg, cb) — both
  *    exceptAll directions empty;
  *  - model parity: the merged store == a from-scratch
  *    [[graft.llm.LangModel.refBigramCounts]] over every slice ever
  *    offered (count additivity, exact).
  *
  * The per-batch cost is the steady-state number: one explode + one
  * vocab-bounded aggregation + one delta-partition write — the store
  * is never read in the loop, so cost must be flat in store size.
  *
  * Mode `kn3` runs the same protocol at the production n-gram order
  * ([[graft.streaming.StreamingIngest.kn3ModelStream]] vs
  * [[graft.llm.LangModel.ingestKn3Model]]) — the two-order delta
  * store's stream==replay==from-scratch parity, both orders' tables.
  *
  * usage: runMain graft.tools.KnStreamScale <sfDir> <nBatches> [kn2|kn3]
  * env: SPARK_GRAFT_BENCH_REPS (default 3), SPARK_GRAFT_CPUS (default 4)
  */
object KnStreamScale {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: KnStreamScale <sfDir> <nBatches> [kn2|kn3]")
    val sfDir = args(0)
    val nBatches = args(1).toInt
    val mode = if (args.length == 3) args(2) else "kn2"
    require(nBatches >= 1, s"bad nBatches=$nBatches")
    require(mode == "kn2" || mode == "kn3", s"bad mode=$mode")
    val kn3 = mode == "kn3"

    val spark = graft.GraftSession.local("knstream", benchSplits = true)
    graft.GraftSession.warmUp(spark, sfDir)

    import graft.llm.LangModel
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val seedSrc = docs.where(col("doc_id") % 8 === 0)
    // CSV-safe text: the corpus words are letters/digits/space only
    // in this testdata, but quote defensively anyway via the writer
    val batchAll = docs.where(col("doc_id") % 4 === 0 && col("doc_id") % 8 =!= 0)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING")

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
        batchAll.where(expr(s"(doc_id div 8) % $nBatches") === b)
          .coalesce(1).write.option("header", "true").csv(s"$stage/b$b")
      }

    def runOnce(): (Double, Double, Double, Long, Boolean) = {
      // ---- streaming face ----
      val stage = tmp("graft_knstream_stage_")
      stageBatches(stage)
      val watch = tmp("graft_knstream_watch_")
      val modelDir = tmp("graft_knstream_model_")
      val ckpt = tmp("graft_knstream_ckpt_")
      val tSeed = System.nanoTime()
      if (kn3) LangModel.seedKn3Model(seedSrc, "text", modelDir)
      else LangModel.seedKnModel(seedSrc, "text", modelDir)
      val seedSec = (System.nanoTime() - tSeed) / 1e9
      val t0 = System.nanoTime()
      (0 until nBatches).foreach { b =>
        val tb = System.nanoTime()
        moveCsvs(s"$stage/b$b", watch)
        val q = (if (kn3) graft.streaming.StreamingIngest.kn3ModelStream(
            spark, watch, schema, modelDir, ckpt, "text")
          else graft.streaming.StreamingIngest.knModelStream(
            spark, watch, schema, modelDir, ckpt, "text"))
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        System.err.println(s"[knstream] batch $b: ${(System.nanoTime() - tb) / 1e9}s")
      }
      val streamSec = (System.nanoTime() - t0) / 1e9

      // ---- batch-replay face ----
      val stage2 = tmp("graft_knstream_stage2_")
      stageBatches(stage2)
      val modelDir2 = tmp("graft_knstream_model2_")
      if (kn3) LangModel.seedKn3Model(seedSrc, "text", modelDir2)
      else LangModel.seedKnModel(seedSrc, "text", modelDir2)
      val t1 = System.nanoTime()
      (0 until nBatches).foreach { b =>
        val batch = spark.read.schema(schema).option("header", "true")
          .csv(s"$stage2/b$b")
        if (kn3) LangModel.ingestKn3Model(batch, "text", modelDir2, b.toLong)
        else LangModel.ingestKnModel(batch, "text", modelDir2, b.toLong)
      }
      val replaySec = (System.nanoTime() - t1) / 1e9

      // ---- parity ----
      // the CSV round trip is the arriving text for BOTH faces; the
      // from-scratch model is over seed + staged CSVs re-read
      val staged = spark.read.schema(schema).option("header", "true")
        .csv(s"$stage2/b*")
      val everything = seedSrc.unionByName(staged)
      def eq(x: DataFrame, y: DataFrame): Boolean =
        x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
      val (parity, nTypes) =
        if (kn3) {
          val (triA, bgA) = LangModel.loadKn3Counts(spark, modelDir)
          val (triB, bgB) = LangModel.loadKn3Counts(spark, modelDir2)
          val triR = LangModel.refTrigramCounts(everything, "text")
          val bgR = LangModel.refBigramCounts(everything, "text")
          (eq(triA, triB) && eq(bgA, bgB) && eq(triA, triR) && eq(bgA, bgR),
            triA.count() + bgA.count())
        } else {
          val a = LangModel.loadKnCounts(spark, modelDir)
          val b = LangModel.loadKnCounts(spark, modelDir2)
          val rebuilt = LangModel.refBigramCounts(everything, "text")
          (eq(a, b) && eq(a, rebuilt), a.count())
        }
      (streamSec, replaySec, seedSec, nTypes, parity)
    }

    val reps = graft.GraftSession.reps(3)
    val runs = (0 until reps).map(_ => runOnce())
    import graft.GraftSession.{median => med}
    val parity = runs.forall(_._5)
    println(s"""{"metric":"kn_stream_scale","streamSec":${med(runs.map(_._1))},""" +
      s""""replaySec":${med(runs.map(_._2))},"seedSec":${med(runs.map(_._3))},""" +
      s""""streamMin":${runs.map(_._1).min},"replayMin":${runs.map(_._2).min},""" +
      s""""reps":$reps,"nBatches":$nBatches,"nModelTypes":${runs.head._4},""" +
      s""""mode":"$mode","parity":$parity,"sf":"$sfDir"}""")
    require(parity, "stream vs batch-replay parity FAILED")
    spark.stop()
  }
}
