package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Native

/** Bloom-pruned equi-join: prune the PROBE side's rows before its
  * shuffle using a Bloom filter built from the build side's keys.
  *
  * The shape at 100 TB: a selective join (large fact table × filtered
  * key set too big to broadcast as a hash relation) normally shuffles
  * the ENTIRE fact table, then discards most of it at the join. Here
  * the build side's keys fold into a fixed-size Bloom filter (one
  * partial-agg pass, register-merge to the driver — the same movement
  * pattern as the HLL sketches in [[graft.llm.Sketch]]), and the probe
  * side filters on `graft_bloom_contains` INSIDE its scan stage, so
  * only possibly-matching rows reach the exchange. No false negatives
  * means the subsequent real join returns exactly the plain join's
  * rows; false positives (rate `fpp`) only cost shuffle bytes.
  *
  * This is the explicit, composable form of Spark's internal runtime
  * bloom pushdown (`spark.sql.optimizer.runtime.bloomFilter.*`), for
  * the cases the optimizer can't inject it: a build side reused across
  * queries, a pre-computed filter shipped between jobs, or a
  * multi-stage pipeline where the key set is known long before the
  * join. The reference engine joins eagerly in pandas
  * (Configurable_ETL_Python.py:307-335) where "prune before shuffle"
  * has no meaning; this operator exists purely for the distributed
  * plan.
  */
object BloomJoin {

  /** Serialized Bloom filter over `df`'s non-null `key` values — one
    * aggregation job; ~1.2 MB per million keys at fpp=0.01.
    */
  def buildKeyBloom(
      df: DataFrame,
      key: String,
      expectedItems: Long,
      fpp: Double = 0.01): Array[Byte] = {
    df.agg(Native.bloom(col(key), expectedItems, fpp).as("bf"))
      .head().getAs[Array[Byte]]("bf")
  }

  /** `probe ⋈ build` on `key` ("inner" or "left_semi"), with the probe
    * side Bloom-pruned before its exchange. Exactly equal to the plain
    * join (pinned by spec). `expectedItems` sizes the filter; when
    * absent the build side's keys are counted first (one extra
    * key-column scan — at scale, pass the known cardinality).
    *
    * Join types are restricted to the two where dropping non-matching
    * probe rows is semantics-preserving; an outer/left join must keep
    * them, so pruning the preserved side would be wrong.
    */
  def bloomPrunedJoin(
      probe: DataFrame,
      build: DataFrame,
      key: String,
      joinType: String = "inner",
      expectedItems: Option[Long] = None,
      fpp: Double = 0.01): DataFrame = {
    val jt = joinType.toLowerCase.replace("_", "")
    require(jt == "inner" || jt == "leftsemi",
      s"bloomPrunedJoin preserves semantics only for inner/left_semi joins, got $joinType")
    val items = expectedItems.getOrElse(build.select(col(key)).na.drop().count())
    val bytes = buildKeyBloom(build, key, items, fpp)
    val pruned = probe.where(Native.bloomContains(col(key), bytes))
    pruned.join(build, Seq(key), joinType)
  }
}
