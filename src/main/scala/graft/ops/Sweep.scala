package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Global running sums without a single-partition window, and the
  * sweep-line concurrency curve built on them.
  *
  * A naive global cumulative sum (`Window.orderBy(ts)` with no
  * partition) funnels the whole dataset through ONE task — the
  * canonical Spark scale-killer. The two-phase shape here is the
  * distributed prefix-sum: (1) running sums WITHIN coarse buckets
  * (ordinary partitioned window — parallel), (2) per-bucket totals
  * cumulated over the bucket-count-sized table (single-partition
  * window over a TINY frame — the [[graft.llm.Drift]] config-plane
  * allowance), broadcast back as additive offsets. Bucket count sets
  * parallelism; rows shuffle once, on the bucket.
  *
  * Reference scope note: the reference engine (994-line pandas ETL)
  * has no windowed-analytics surface; this extends the mandated
  * training-data-pipeline family (SURVEY.md §6) — the load-profile
  * view (`how many sessions/jobs/streams are open at once`) a
  * 100 TB ingest operator reads before capacity planning.
  */
object Sweep {

  /** Running sum of `valueCol` over the GLOBAL ordering
    * (`orderCols`, lexicographic), distributed via `bucketCol`.
    * CONTRACT: `bucketCol` must be a monotone coarsening of the
    * `orderCols` ordering (e.g. the date of a leading timestamp) —
    * rows of a later bucket must never order before rows of an
    * earlier one; buckets are sequenced by their MIN order key.
    * Output: input rows + `outCol`.
    */
  def globalRunningSum(
      valueCol: String,
      bucketCol: String,
      orderCols: Seq[String],
      outCol: String = "running")(df: DataFrame): DataFrame = {
    require(orderCols.nonEmpty, "globalRunningSum needs an ordering")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(bucketCol)).orderBy(orderCols.map(col): _*)
      .rowsBetween(Long.MinValue, 0)
    val within = df.withColumn("__within", sum(col(valueCol)).over(w))
    // sequence buckets by the FULL lexicographic min, not only the
    // head order column: two buckets tied on the head (a boundary
    // inside one head value) would otherwise get an arbitrary
    // relative order in the offsets window — wrong running sums,
    // varying run to run
    val totals = df.groupBy(col(bucketCol))
      .agg(sum(col(valueCol)).as("__tot"),
        min(struct(orderCols.map(col): _*)).as("__seq"))
    val wAll = org.apache.spark.sql.expressions.Window
      .orderBy(col("__seq")).rowsBetween(Long.MinValue, -1)
    val offsets = totals
      .withColumn("__off", coalesce(sum(col("__tot")).over(wAll), lit(0L)))
      .select(col(bucketCol), col("__off"))
    within.join(broadcast(offsets), Seq(bucketCol))
      .withColumn(outCol, col("__within") + col("__off"))
      .drop("__within", "__off")
  }

  /** Sweep-line concurrency curve over closed intervals
    * (`startCol` ≤ `endCol`): one +1 delta per interval start, one
    * −1 per end, running-summed in the global order
    * (ts, delta DESC, tieCols) — starts sort before ends at the same
    * instant, so intervals touching end-to-start count as
    * momentarily concurrent and the curve never dips negative.
    * Output: (ts, delta, tieCols…, concurrent) — one row per
    * boundary; `concurrent` is the number of open intervals just
    * after that boundary. Distributed by the date of the boundary
    * via [[globalRunningSum]] (boundaries are points, so intervals
    * may span buckets freely).
    *
    * The delta frame is `localCheckpoint`ed before the running sum:
    * it is read twice downstream (within-bucket window + bucket
    * totals) and derives from the caller's interval pipeline (often
    * a sessionization window over the raw event log) — without the
    * materialization that upstream would replay once per reference
    * (the [[graft.ops.Graph.pageRankFp]] edge discipline).
    */
  def concurrency(
      startCol: String,
      endCol: String,
      tieCols: Seq[String])(intervals: DataFrame): DataFrame = {
    val keep = tieCols.map(col)
    // NULL bounds: an interval with a NULL end is OPEN — it
    // contributes its +1 and never closes (a NULL-ts −1 delta would
    // land in a NULL date bucket that sorts FIRST and shift the whole
    // curve down by one). A NULL start cannot be placed on the line
    // at all and contributes nothing.
    //
    // Both boundaries EXPLODE out of one scan: the pre-r19 form (the
    // parity reference OpsSpec pins this one against) unioned two
    // selects over `intervals`, so the caller's interval pipeline —
    // typically a sessionization window over the raw event log — ran
    // TWICE inside the checkpoint job. Same delta multiset: the +1
    // rows are exactly the non-null-start rows, and the −1 rows with
    // a NULL ts are exactly the open intervals the union's second
    // branch filtered out (the +1 ts is never null here).
    val deltas = intervals
      .where(col(startCol).isNotNull)
      .select((explode(array(
          struct(col(startCol).as("ts"), lit(1).as("delta")),
          struct(col(endCol).as("ts"), lit(-1).as("delta")))).as("__b") +: keep): _*)
      .select((col("__b.ts").as("ts") +: col("__b.delta").as("delta") +: keep): _*)
      .where(col("ts").isNotNull)
      .withColumn("__d", to_date(col("ts")))
      .withColumn("__nd", -col("delta"))
      .localCheckpoint(true)
    globalRunningSum("delta", "__d", Seq("ts", "__nd") ++ tieCols, "concurrent")(deltas)
      .drop("__d", "__nd")
  }
}
