package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** JSON Lines source/sink — the de-facto interchange format for LLM
  * training corpora (one JSON object per line; The Pile, C4, RedPajama
  * all ship this way). The reference engine has no JSON source (its
  * config.json is config-plane only); this is part of the mandated
  * training-data surface, the ingest boundary in front of
  * [[Ingestion]]'s nest-and-store flow.
  *
  * Scale notes:
  *   - JSONL is line-delimited, so uncompressed (or zstd/bzip2
  *     splittable-compressed) files split across tasks like CSV; a
  *     gzip .jsonl.gz is ONE task per file — shard source files if
  *     gzipped.
  *   - [[read]] takes an explicit schema: schema inference is a whole
  *     extra pass over the data (at 100 TB, a second 100 TB scan) and
  *     can type the same column differently between runs.
  *   - JSON scans have no column pruning or predicate pushdown —
  *     every byte is parsed. The pattern is jsonl → parquet once at
  *     ingest, queries on the parquet (exactly what the nested store
  *     does); keeping queries on jsonl is the anti-pattern.
  */
object Jsonl {

  /** Read JSON Lines with an explicit schema. Default mode FAILFAST
    * surfaces corrupt lines as errors; pass PERMISSIVE + a
    * `_corrupt_record` column in the schema to quarantine instead.
    */
  def read(
      spark: SparkSession,
      path: String,
      schema: StructType,
      mode: String = "FAILFAST"): DataFrame =
    spark.read.schema(schema).option("mode", mode).json(path)

  /** Write as JSON Lines, one object per line. Nulls are emitted as
    * explicit `"col": null` entries (ignoreNullFields=false) so the
    * roundtrip preserves null columns instead of dropping the field —
    * a schema-carrying read would otherwise be fine, but downstream
    * non-Spark consumers see a stable shape.
    */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("ignoreNullFields", "false").json(path)
}
