package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming binary-ingest scale measurement (round 17, VERDICT item
  * 2) — the [[ErStreamScale]] discipline applied to
  * [[graft.streaming.StreamingIngest.binaryNearDupIngestStream]]:
  * seed the store (and its chunk index) with the gate split's store
  * side (doc_id % 5 != 0), drive the batch side (doc_id % 5 == 0,
  * split into `nBatches` CSV drops) through the streaming loop, then
  * REPLAY the identical batch sequence through the batch faces
  * ([[graft.llm.Multimodal.binaryIncrementalNearDupIndexed]] +
  * [[graft.llm.Multimodal.ingestBinaryChunkIndex]] with the same
  * partition-overwrite writes) and pin
  *
  *  - stream survivors == replay survivors per batch (both
  *    directions of exceptAll empty over (doc_id, ingest_batch)),
  *  - the stream-maintained chunk index == a batch-built
  *    [[graft.llm.Multimodal.binaryChunkIndex]] over the final store
  *    contents (bit-identical buckets).
  *
  * The stream-vs-replay delta is then pure streaming machinery, and
  * the per-batch ingest cost is the steady-state number SCALE.md's
  * round-17 row needs: store BYTES are never re-chunked in either
  * face — the index is.
  *
  * usage: runMain graft.tools.MmStreamScale <sfDir> <nBatches>
  * env: SPARK_GRAFT_BENCH_REPS (default 3), SPARK_GRAFT_CPUS (default 4)
  */
object MmStreamScale {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: MmStreamScale <sfDir> <nBatches>")
    val sfDir = args(0)
    val nBatches = args(1).toInt
    require(nBatches >= 1, s"bad nBatches=$nBatches")

    val spark = graft.GraftSession.local("mmstream", benchSplits = true)
    graft.GraftSession.warmUp(spark, sfDir)

    val (theta, divisor, window, cap) = (0.3, 16, 8, 64L)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val storeSrc = docs.where(col("doc_id") % 5 =!= 0)
    // batch b = the gate's batch side, round-robin over nBatches
    val batchAll = docs.where(col("doc_id") % 5 === 0)
    def bin(d: DataFrame) = graft.llm.Multimodal.withBinaryContent("text")(d)
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
    def overwritePartition(df: DataFrame, dir: String, batchId: Long): Unit =
      df.withColumn("ingest_batch", lit(batchId))
        .write.partitionBy("ingest_batch").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic").parquet(dir)
    def stageBatches(stage: String): Unit =
      (0 until nBatches).foreach { b =>
        batchAll.where((col("doc_id") / 5) % nBatches === b)
          .coalesce(1).write.option("header", "true").csv(s"$stage/b$b")
      }

    def runOnce(): (Double, Double, Double, Long, Boolean) = {
      // ---- streaming face ----
      val stage = tmp("graft_mmstream_stage_")
      stageBatches(stage)
      val watch = tmp("graft_mmstream_watch_")
      val storeDir = tmp("graft_mmstream_store_")
      val indexDir = tmp("graft_mmstream_index_")
      val ckpt = tmp("graft_mmstream_ckpt_")
      // seed cost measured separately: the one-time full-store
      // chunking the steady state never re-pays
      val tSeed = System.nanoTime()
      graft.streaming.StreamingIngest.seedBinaryStore(
        bin(storeSrc), "content", "doc_id", storeDir, indexDir, divisor, window)
      val seedSec = (System.nanoTime() - tSeed) / 1e9
      val t0 = System.nanoTime()
      (0 until nBatches).foreach { b =>
        val tb = System.nanoTime()
        moveCsvs(s"$stage/b$b", watch)
        val q = graft.streaming.StreamingIngest.binaryNearDupIngestStream(
          spark, watch, schema, storeDir, indexDir, ckpt,
          "doc_id", "text", theta, divisor, window, cap)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        System.err.println(s"[mmstream] batch $b: ${(System.nanoTime() - tb) / 1e9}s")
      }
      val streamSec = (System.nanoTime() - t0) / 1e9

      // ---- batch-replay face: the foreachBatch body, re-played ----
      val stage2 = tmp("graft_mmstream_stage2_")
      stageBatches(stage2)
      val storeDir2 = tmp("graft_mmstream_store2_")
      val indexDir2 = tmp("graft_mmstream_index2_")
      graft.streaming.StreamingIngest.seedBinaryStore(
        bin(storeSrc), "content", "doc_id", storeDir2, indexDir2, divisor, window)
      val t1 = System.nanoTime()
      (0 until nBatches).foreach { b =>
        val batch = bin(spark.read.schema(schema).option("header", "true")
          .csv(s"$stage2/b$b"))
        val index = spark.read.parquet(indexDir2)
          .where(col("ingest_batch") < lit(b.toLong))
          .select(col("doc_id"), col("chunk_md5"), col("n_bytes"))
        val survivors = graft.llm.Multimodal.binaryIncrementalNearDupIndexed(
          "content", "doc_id", theta, divisor, window, cap)(batch, index)
          .localCheckpoint(true)
        overwritePartition(survivors, storeDir2, b.toLong)
        overwritePartition(graft.llm.Multimodal.ingestBinaryChunkIndex(
          "content", "doc_id", divisor, window)(survivors, index), indexDir2, b.toLong)
      }
      val replaySec = (System.nanoTime() - t1) / 1e9

      // ---- parity ----
      val a = spark.read.parquet(storeDir).select("doc_id", "ingest_batch")
      val b = spark.read.parquet(storeDir2).select("doc_id", "ingest_batch")
      val maintained = spark.read.parquet(indexDir)
        .select("doc_id", "chunk_md5", "n_bytes")
      val rebuilt = graft.llm.Multimodal.binaryChunkIndex(
        "content", "doc_id", divisor, window)(
        bin(spark.read.parquet(storeDir).select("doc_id", "text")))
      val parity = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty &&
        maintained.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(maintained).isEmpty
      (streamSec, replaySec, seedSec, a.count(), parity)
    }

    val reps = graft.GraftSession.reps(3)
    val runs = (0 until reps).map(_ => runOnce())
    import graft.GraftSession.{median => med}
    val parity = runs.forall(_._5)
    println(s"""{"metric":"mm_stream_scale","streamSec":${med(runs.map(_._1))},""" +
      s""""replaySec":${med(runs.map(_._2))},"seedSec":${med(runs.map(_._3))},""" +
      s""""streamMin":${runs.map(_._1).min},"replayMin":${runs.map(_._2).min},""" +
      s""""reps":$reps,"nBatches":$nBatches,"nStore":${runs.head._4},""" +
      s""""parity":$parity,"sf":"$sfDir"}""")
    require(parity, "stream vs batch-replay parity FAILED")
    spark.stop()
  }
}
