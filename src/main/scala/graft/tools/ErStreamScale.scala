package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming-ER scale measurement (round 16, VERDICT item 4): drives
  * [[graft.streaming.StreamingIngest.erResolveStream]] over a REAL
  * file-batch sequence — the synthetic re-crawl batch of a dir's
  * customer table (the gate's corruption rule, ids shifted past the
  * dir's max so the novel-cluster id space stays disjoint at ANY
  * amplification) split into `nBatches` CSV drops, each processed as
  * its own micro-batch against the evolving master — and times the
  * loop end-to-end. Then REPLAYS the identical batch sequence through
  * the batch faces ([[graft.ops.EntityRes.incrementalResolveAndMerges]]
  * plus the same novel-accretion and partition-overwrite writes the
  * stream's foreachBatch performs) and pins stream assignments ==
  * batch-replay assignments ROW-FOR-ROW (both directions of
  * exceptAll empty). The stream-vs-replay delta is therefore pure
  * streaming machinery (query start, offset log, file listing), not
  * plan differences — the number SCALE.md's streaming row needs.
  *
  * Batch CSVs are staged once (untimed) and MOVED into the watch dir
  * inside the timed loop, so both faces pay the same CSV parse.
  *
  * usage: runMain graft.tools.ErStreamScale <sfDir> <maxBlock> <nBatches> [banded]
  * env: SPARK_GRAFT_BENCH_REPS (default 3), SPARK_GRAFT_CPUS (default 4)
  */
object ErStreamScale {
  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ErStreamScale <sfDir> <maxBlock> <nBatches> [banded|adaptive]")
    val sfDir = args(0)
    val maxBlock = args(1).toLong
    val nBatches = args(2).toInt
    val banded = args.length == 4 && (args(3) == "banded" || args(3) == "adaptive")
    val adaptive = args.length == 4 && args(3) == "adaptive"
    require(nBatches >= 1, s"bad nBatches=$nBatches")

    val spark = graft.GraftSession.local("erstream", benchSplits = true)
    graft.GraftSession.warmUp(spark, sfDir)

    val masterSrc = spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    // disjoint novel-id space at any amplification (the fixed gate
    // offset of 100000 collides past 16x): one 1-row aggregate
    val offset = masterSrc.agg(max("c_custkey")).head.getLong(0) + 1L
    val batchAll = masterSrc.where(col("c_custkey") % 3 === 0)
      .withColumn("c_name",
        when(col("c_custkey") % 2 === 0, col("c_name"))
          .otherwise(concat(substring(col("c_name"), 1, 16), lit("XX"))))
      .withColumn("c_custkey", col("c_custkey") + offset)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "c_custkey LONG, c_name STRING, c_nationkey INT, c_mktsegment STRING")
    val bandsOpt =
      if (banded) Some(graft.DedupQueries.quadBands) else None
    val blockCols = Seq("c_nationkey", "c_mktsegment")

    import java.nio.file.{Files, Path, Paths, StandardCopyOption}
    def tmp(prefix: String): String = graft.SparkEntry.cleanedTempDir(prefix)
    def moveCsvs(from: String, to: String): Unit = {
      // Files.list holds an open directory handle until closed — a
      // bare forEach leaks one per staged batch per rep
      val s = Files.list(Paths.get(from))
      try s.forEach { p =>
        if (p.getFileName.toString.endsWith(".csv"))
          Files.move(p, Paths.get(to, p.getFileName.toString),
            StandardCopyOption.ATOMIC_MOVE)
      } finally s.close()
    }

    def overwritePartition(df: DataFrame, dir: String, batchId: Long): Unit =
      df.withColumn("ingest_batch", lit(batchId))
        .write.partitionBy("ingest_batch").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic").parquet(dir)

    def runOnce(): (Double, Double, Long, Boolean) = {
      // stage the batch CSVs once, untimed: batch b = id % nBatches
      val stage = tmp("graft_erstream_stage_")
      (0 until nBatches).foreach { b =>
        batchAll.where(col("c_custkey") % nBatches === b)
          .coalesce(1).write.option("header", "true")
          .csv(s"$stage/b$b")
      }
      def stagedFiles(b: Int): String = s"$stage/b$b"

      // ---- streaming face ----
      val watch = tmp("graft_erstream_watch_")
      val masterDir = tmp("graft_erstream_master_")
      val outDir = tmp("graft_erstream_out_")
      val mergesDir = tmp("graft_erstream_merges_")
      val ckpt = tmp("graft_erstream_ckpt_")
      graft.streaming.StreamingIngest.seedErMaster(
        masterSrc.withColumn("cluster", col("c_custkey")), masterDir)
      val t0 = System.nanoTime()
      (0 until nBatches).foreach { b =>
        moveCsvs(stagedFiles(b), watch)
        val q = graft.streaming.StreamingIngest.erResolveStream(
          spark, watch, schema, masterDir, outDir, mergesDir, ckpt,
          "c_custkey", "c_name", blockCols, maxDist = 2, maxBlock,
          clusterCol = "cluster", bands = bandsOpt, adaptive = adaptive)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val streamSec = (System.nanoTime() - t0) / 1e9

      // ---- batch-replay face: the foreachBatch body, re-played ----
      val stage2 = tmp("graft_erstream_stage2_")
      (0 until nBatches).foreach { b =>
        batchAll.where(col("c_custkey") % nBatches === b)
          .coalesce(1).write.option("header", "true")
          .csv(s"$stage2/b$b")
      }
      val masterDir2 = tmp("graft_erstream_master2_")
      val outDir2 = tmp("graft_erstream_out2_")
      val mergesDir2 = tmp("graft_erstream_merges2_")
      graft.streaming.StreamingIngest.seedErMaster(
        masterSrc.withColumn("cluster", col("c_custkey")), masterDir2)
      val t1 = System.nanoTime()
      (0 until nBatches).foreach { b =>
        val batch = spark.read.schema(schema).option("header", "true")
          .csv(s"$stage2/b$b")
        val master = spark.read.parquet(masterDir2)
          .where(col("ingest_batch") < lit(b.toLong))
        val (resolved, merges) = graft.ops.EntityRes.incrementalResolveAndMerges(
          "c_custkey", "c_name", blockCols, maxDist = 2, maxBlock,
          clusterCol = "cluster", bands = bandsOpt, adaptive = adaptive)(batch, master)
        overwritePartition(resolved, outDir2, b.toLong)
        val novelIds = resolved.where(col("n_matches") === 0L)
          .select(col("batch_id").as("c_custkey"))
        val novel = batch.join(novelIds, Seq("c_custkey"), "left_semi")
          .withColumn("cluster", col("c_custkey"))
        overwritePartition(novel, masterDir2, b.toLong)
        overwritePartition(merges, mergesDir2, b.toLong)
      }
      val replaySec = (System.nanoTime() - t1) / 1e9

      // ---- parity: stream assignments == replay assignments ----
      // best_dist included: both faces emit it through
      // incrementalResolveAndMerges, so a plan divergence there must
      // fail parity too, not slip past a truncated column list
      val cols = Seq("batch_id", "cluster_id", "n_matches", "best_dist", "ingest_batch")
      val a = spark.read.parquet(outDir).selectExpr(cols: _*)
      val b = spark.read.parquet(outDir2).selectExpr(cols: _*)
      val parity = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty &&
        spark.read.parquet(masterDir).count() == spark.read.parquet(masterDir2).count()
      (streamSec, replaySec, a.count(), parity)
    }

    val reps = graft.GraftSession.reps(3)
    val runs = (0 until reps).map(_ => runOnce())
    import graft.GraftSession.{median => med}
    val sm = med(runs.map(_._1))
    val rm = med(runs.map(_._2))
    val parity = runs.forall(_._4)
    println(s"""{"metric":"er_stream_scale","streamSec":$sm,"replaySec":$rm,""" +
      s""""streamMin":${runs.map(_._1).min},"replayMin":${runs.map(_._2).min},""" +
      s""""reps":$reps,"nBatches":$nBatches,"maxBlock":$maxBlock,"banded":$banded,"adaptive":$adaptive,""" +
      s""""nAssign":${runs.head._3},"parity":$parity,"sf":"$sfDir"}""")
    require(parity, "stream vs batch-replay parity FAILED")
    spark.stop()
  }
}
