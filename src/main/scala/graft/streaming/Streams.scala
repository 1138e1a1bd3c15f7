package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.DataStreamWriter

/** The micro-batch contract every `foreachBatch` stream twin shares —
  * the reference Lambda's at-least-once, per-file event loop
  * (Data_Ingestion_Python.py:196-275) made replay-safe in one place.
  *
  * A twin is a named step `(batch, batchId) => Unit` that is a plain
  * batch function: [[lift]] runs it once per non-empty micro-batch of
  * a checkpointed stream, and a batch caller (a replay, a tool, a
  * spec) runs the same step over the same drops with ids 0, 1, ….
  *
  * Idempotence rule for the batch-partitioned stores the steps write:
  *  - every row carries the [[BatchCol]] partition column;
  *  - the seed is batch [[Seed]] (`-1`), written as a whole-directory
  *    overwrite, so re-seeding resets the store;
  *  - batch `n` is a dynamic overwrite of its own partitions only, so
  *    a replay of `n` rewrites them instead of duplicating rows;
  *  - a step that reads its own store reads it [[asOf]] `n` — the
  *    partitions below `n` — so a replay never sees its crashed
  *    attempt's partial output.
  *
  * Batch ids are meaningful within one checkpoint lifecycle: a fresh
  * checkpoint renumbers from 0, so reuse the checkpoint or reseed.
  */
object Streams {

  /** The batch partition column of every stream-maintained store. */
  val BatchCol = "ingest_batch"

  /** The batch id of a store's pre-stream seed. */
  val Seed = -1L

  /** Run `step` on every non-empty micro-batch of `frame`, checkpointed
    * at `checkpointDir`. An empty micro-batch (a header-only drop)
    * writes nothing: no new partition, no state rewrite.
    */
  def lift(frame: DataFrame, checkpointDir: String)(
      step: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    frame.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) step(batch, batchId)
      }

  /** Write `df` as batch `batchId` of the store at `dir`, partitioned
    * by `leading` then [[BatchCol]]. The id picks the mode: [[Seed]]
    * overwrites the whole directory, any other id overwrites only its
    * own partitions.
    */
  def writeBatch(df: DataFrame, dir: String, batchId: Long, leading: Seq[String] = Nil): Unit = {
    val w = df.withColumn(BatchCol, lit(batchId))
      .write.partitionBy(leading :+ BatchCol: _*).mode("overwrite")
    if (batchId == Seed) w.parquet(dir)
    else w.option("partitionOverwriteMode", "dynamic").parquet(dir)
  }

  /** The store at `dir` as of before batch `batchId`: its seed and
    * every earlier batch, never `batchId`'s own partitions. */
  def asOf(spark: SparkSession, dir: String, batchId: Long): DataFrame =
    spark.read.parquet(dir).where(col(BatchCol) < lit(batchId))
}
