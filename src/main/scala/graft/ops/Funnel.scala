package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ordered funnel and cohort-retention analytics over an event table
  * — the two standard product-analytics queries a warehouse engine is
  * asked for daily, expressed so each stage is one partial-aggregated
  * pass.
  *
  * Funnel semantics (strict ordering): a user reaches stage i when
  * they have an event of stage i's type STRICTLY LATER than their
  * first qualifying time for stage i−1 (first-touch attribution; the
  * conventional funnel definition). Each stage is `filter → per-user
  * min → join back` — the join key and both aggregates are
  * (user, timestamp) pairs, so at 100 TB each stage shuffles one row
  * per surviving user, never events. The per-user frontier is
  * persisted between stages: stage k would otherwise lazily re-run
  * stages 1..k−1's scans.
  *
  * Cohort retention: users bucketed by first-seen date; for every
  * (cohort_date, offset_days) the count of cohort members active that
  * day. The (user, day) activity grid is deduplicated BEFORE any
  * join, so the heavy aggregation's key is (user, date) — bounded by
  * users×days, not events.
  *
  * Reference scope note: the reference engine (994-line pandas ETL)
  * has no event-analytics surface; this extends the events-table
  * family (sessionization w3, windowed counts w1) that SURVEY.md §6
  * mandates alongside the config engine.
  */
object Funnel {

  /** Per-stage user frontiers — (stage name, frame of (user, __t) =
    * first qualifying time). Each frontier is persisted: the callers
    * below consume every frontier at least twice, and stage k's
    * lineage contains stages 1..k−1.
    */
  private def frontiers(
      userCol: String,
      orderCol: String,
      typeCol: String,
      stages: Seq[String])(df: DataFrame): Seq[(String, DataFrame)] = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    var reached = df.where(col(typeCol) === stages.head)
      .groupBy(col(userCol)).agg(min(col(orderCol)).as("__t"))
      .persist(MEMORY_AND_DISK)
    stages.zipWithIndex.map { case (stage, i) =>
      if (i > 0) {
        reached = df.where(col(typeCol) === stage)
          .join(reached.select(col(userCol), col("__t").as("__prev")), userCol)
          .where(col(orderCol) > col("__prev"))
          .groupBy(col(userCol)).agg(min(col(orderCol)).as("__t"))
          .persist(MEMORY_AND_DISK)
      }
      (stage, reached)
    }
  }

  /** Per-stage reach counts for an ordered funnel. `orderCol` may be
    * any totally-ordered column (timestamp, monotonic long). Output:
    * one row per stage — (stage, stage_idx, n_users).
    *
    * The result is EAGER (a stages-count-sized local frame): the
    * per-stage frontiers must be persisted while the chain builds, and
    * materializing the k counts here lets every cached frontier be
    * unpersisted before returning instead of pinning users-sized
    * frames for the session (the [[graft.llm.Dedup.nearDupClusters]]
    * leak contract, solved by eagerness because the output is tiny).
    */
  def funnelStages(
      userCol: String,
      orderCol: String,
      typeCol: String,
      stages: Seq[String])(df: DataFrame): DataFrame = {
    val fs = frontiers(userCol, orderCol, typeCol, stages)(df)
    try {
      val rows = fs.zipWithIndex.map { case ((stage, f), i) => (stage, i + 1, f.count()) }
      import df.sparkSession.implicits._
      rows.toDF("stage", "stage_idx", "n_users")
    } finally fs.foreach(_._2.unpersist())
  }

  /** Conversion-time statistics per funnel transition: for every user
    * reaching stage i, the gap between their stage-(i−1) and stage-i
    * first-touch times. Gaps are exact differences of `orderCol`
    * values (ns longs for the nano-timestamp path); the median is the
    * exact percentile — integer inputs make its (a+b)/2 interpolation
    * engine-portable, the [[graft.llm.Sketch.quantileAudit]] rule.
    * Each transition joins two USERS-sized persisted frontiers.
    */
  def funnelConversion(
      userCol: String,
      orderCol: String,
      typeCol: String,
      stages: Seq[String])(df: DataFrame): DataFrame = {
    require(stages.size >= 2, "conversion stats need at least two stages")
    val fs = frontiers(userCol, orderCol, typeCol, stages)(df)
    try {
      // eager like funnelStages: one tiny stats row per transition,
      // collected so the persisted frontiers can be released here
      val rows = fs.sliding(2).toSeq.zipWithIndex.map {
        case (Seq((from, fFrom), (to, fTo)), i) =>
          val r = fTo.select(col(userCol), col("__t").as("__to"))
            .join(fFrom.select(col(userCol), col("__t").as("__from")), userCol)
            .select((col("__to") - col("__from")).as("__gap"))
            .agg(
              count(lit(1)).as("n_converted"),
              min("__gap").as("min_gap"),
              expr("percentile(__gap, 0.5)").as("median_gap"),
              max("__gap").as("max_gap"))
            .collect().head
          (from, to, i + 2, r.getLong(0),
            if (r.isNullAt(1)) None else Some(r.getLong(1)),
            if (r.isNullAt(2)) None else Some(r.getDouble(2)),
            if (r.isNullAt(3)) None else Some(r.getLong(3)))
      }
      import df.sparkSession.implicits._
      rows.toDF("from_stage", "to_stage", "to_stage_idx",
        "n_converted", "min_gap", "median_gap", "max_gap")
    } finally fs.foreach(_._2.unpersist())
  }

  /** Retention grid: (cohort_date, offset_days, n_users). `day` is a
    * DATE-typed expression over the event row (e.g. `to_date(ts)`).
    */
  def cohortRetention(userCol: String, day: Column)(df: DataFrame): DataFrame = {
    val activity = df.select(col(userCol), day.as("__d")).distinct()
    val cohorts = activity.groupBy(col(userCol)).agg(min("__d").as("cohort_date"))
    activity.join(cohorts, userCol)
      .groupBy(col("cohort_date"),
        datediff(col("__d"), col("cohort_date")).as("offset_days"))
      // activity is (user, day)-distinct, so each user counts once
      // per cell — count(1) IS the distinct-user count, without a
      // count(DISTINCT) expand
      .agg(count(lit(1)).as("n_users"))
  }

  /** RFM (recency / frequency / monetary) user features with quantile
    * bins — the classic segmentation a warehouse computes over an
    * event stream. Per user: days since last event (vs the corpus's
    * max timestamp, so the result is reproducible), event count, and
    * total value in CENTS (`floor(v·100 + ½)` per event, summed as
    * longs — an exact integer sum where a double sum would be
    * partitioning-order dependent). Each metric is binned 1..nBins
    * with BIN 1 = BEST (most recent / most frequent / highest spend),
    * `rfm_code = r·100 + f·10 + m` at the default 5 bins.
    *
    * Scale shape: one partial-aggregated pass over events (shuffle
    * key = user), then everything else is users-sized: the reference
    * timestamp and the 3×4 quantile boundaries are 1-row aggregates
    * broadcast back (the SUMEQ attach shape), and binning is four
    * comparisons per metric — no global ntile window, whose
    * unpartitioned sort is the thing that does NOT survive a 100×
    * user count. Boundaries use exact `percentile` over the per-USER
    * frame (not events); at extreme user counts swap in
    * [[graft.llm.Sketch]]'s GK path — the binning code is unchanged.
    *
    * The per-user aggregate appears in four lineage branches (result,
    * reference date, and both under the boundary aggregate), so the
    * pruned events scan repeats rather than pinning a users-sized
    * cache for the session — the [[graft.llm.Dsir]] re-scan trade;
    * callers at extreme scale can persist the per-user frame
    * themselves and pass it through a 1-event-per-user view.
    */
  def rfm(
      userCol: String,
      tsCol: String,
      valueCol: String,
      nBins: Int = 5)(df: DataFrame): DataFrame = {
    require(nBins >= 2 && nBins <= 10, s"rfm: nBins must be in [2, 10], got $nBins")
    val perUser = df.groupBy(col(userCol)).agg(
      max(col(tsCol)).as("__last"),
      count(lit(1)).as("frequency"),
      sum(floor(col(valueCol) * 100 + lit(0.5)).cast("long")).as("monetary_cents"))
    val ref = perUser.agg(max("__last").as("__ref"))
    val r = perUser.crossJoin(broadcast(ref))
      .withColumn("recency_days", datediff(to_date(col("__ref")), to_date(col("__last"))))
      .drop("__last", "__ref")
    val ps = (1 until nBins).map(i => i.toDouble / nBins)
    def q(c: String) = s"percentile($c, array(${ps.mkString("D, ")}D))"
    val bounds = r.agg(
      expr(q("recency_days")).as("__rb"),
      expr(q("frequency")).as("__fb"),
      expr(q("monetary_cents")).as("__mb"))
    // bin 1 = best: recency counts boundaries BELOW the value
    // (smaller = better), frequency/monetary count boundaries ABOVE
    def binAsc(m: Column, b: String): Column =
      (1 until nBins).map(i => (m > element_at(col(b), i)).cast("int"))
        .foldLeft(lit(1))(_ + _)
    def binDesc(m: Column, b: String): Column =
      (1 until nBins).map(i => (m < element_at(col(b), i)).cast("int"))
        .foldLeft(lit(1))(_ + _)
    r.crossJoin(broadcast(bounds))
      .withColumn("r_bin", binAsc(col("recency_days"), "__rb"))
      .withColumn("f_bin", binDesc(col("frequency"), "__fb"))
      .withColumn("m_bin", binDesc(col("monetary_cents"), "__mb"))
      .withColumn("rfm_code", col("r_bin") * 100 + col("f_bin") * 10 + col("m_bin"))
      .drop("__rb", "__fb", "__mb")
  }

  /** Journey path analysis: the frequency table of each user's first
    * `maxLen` event types in order — the exploratory complement of
    * [[funnelStages]] (a funnel scores a KNOWN sequence; paths
    * DISCOVER which sequences happen). Output: (path — event types
    * joined by `>`, n_users), restricted to paths reaching
    * `minSupport` users.
    *
    * Determinism: the per-user ordering is (orderCol, tieCol) with a
    * unique tie column, so the collected prefix — and therefore the
    * path string — is total-order-defined; counts are exact longs.
    *
    * Scale shape: the row_number window and the per-user collect
    * declare the same (user) distribution, so both run off ONE
    * shuffle; collected lists are bounded at `maxLen` structs —
    * never a whole history. The final rollup shuffles one
    * ≤`maxLen`-type string per user; `maxLen` and `minSupport` are
    * the caps that keep path cardinality bounded at corpus scale
    * (documented, caller-visible — not silent).
    */
  def topPaths(
      userCol: String,
      orderCol: String,
      tieCol: String,
      typeCol: String,
      maxLen: Int = 3,
      minSupport: Long = 2L)(df: DataFrame): DataFrame = {
    require(maxLen >= 1, s"maxLen $maxLen must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(orderCol), col(tieCol))
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") <= maxLen)
      .groupBy(col(userCol))
      // sort_array == array_sort on the null-free collect_list (they
      // differ only in null placement; struct order is field order,
      // __rn first, distinct per user) and .getField extracts the
      // type column positionally without the per-element transform
      // LAMBDA — parity pinned in OpsSpec against the transform form
      .agg(array_join(
        sort_array(collect_list(struct(col("__rn"), col(typeCol).as("t"))))
          .getField("t"),
        ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))
      .where(col("n_users") >= minSupport)
  }
}
