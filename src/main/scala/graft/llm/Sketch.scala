package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Native

/** Approx/sketch audit family for corpus-scale statistics.
  *
  * At 100 TB the standard corpus-audit questions — "how many distinct
  * tokens / users / documents?" and "what does the length distribution
  * look like?" — cannot be answered exactly: exact NDV is a full
  * shuffle of every distinct value and exact percentiles need a global
  * sort. The sketch versions are one-pass, mergeable, constant-memory
  * per group:
  *
  *   - NDV → HyperLogLog++ (`approx_count_distinct`): each task keeps
  *     a fixed ~(1.04/rsd)² register array; partial sketches merge
  *     associatively, so the plan is a partial-agg → single small
  *     exchange of registers, never of values.
  *   - percentiles → Greenwald–Khanna (`approx_percentile`): bounded
  *     summary per task with a rank-error guarantee of 1/accuracy,
  *     merged the same way.
  *
  * Oracle-gating a randomized-looking sketch deterministically: the
  * audit variants below compute the EXACT statistic alongside the
  * sketch and emit a boolean `*_ok` = "sketch inside its published
  * error envelope". HLL++ hashes with a fixed seed, so its value is
  * deterministic given the data; GK's VALUE can vary with
  * partitioning/merge order, but its rank-error bound (≤ 1/accuracy)
  * cannot — the gated boolean is stable because the gate's rankSlack
  * dwarfs that bound, not because the sketch value is order-invariant. The DuckDB oracle replays the exact statistic and pins
  * the boolean to TRUE — the driver's hash gate then fails iff the
  * sketch leaves its envelope. The exact twin exists only to power the
  * gate; the scale path is the `approx*` functions, which never touch
  * the exact aggregate.
  *
  * Reference scope note: the reference engine (994-line pandas ETL)
  * has no sketch family; this is part of the mandated
  * large-training-corpus surface (SURVEY.md §6), mirroring what
  * `text_vocabulary` / `text_corpus_stats` compute exactly.
  */
object Sketch {

  /** Scale path: HLL++ NDV per group. One pass, no expand, register
    * arrays (not values) cross the exchange.
    */
  def approxNdv(groupCols: Seq[String], valueCol: String, rsd: Double = 0.02)(
      df: DataFrame): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(approx_count_distinct(col(valueCol), rsd).as("approx_ndv"))

  /** Gate twin of [[approxNdv]]: exact NDV + `ndv_ok` =
    * |approx − exact| / exact ≤ sigmas·rsd. HLL++'s relative standard
    * deviation is `rsd`; three sigmas bounds the miss probability well
    * under the gate's tolerance while still failing a broken sketch
    * (a 2× miss is 50σ out).
    */
  def ndvAudit(
      groupCols: Seq[String],
      valueCol: String,
      rsd: Double = 0.02,
      sigmas: Double = 3.0)(df: DataFrame): DataFrame = {
    val v = col(valueCol)
    df.groupBy(groupCols.map(col): _*)
      .agg(
        count_distinct(v).as("exact_ndv"),
        approx_count_distinct(v, rsd).as("approx_ndv"))
      .withColumn(
        "ndv_ok",
        // all-NULL group: both NDVs are 0 and the relative-error form
        // would divide by zero — agree-on-zero IS inside the envelope
        when(col("exact_ndv") === 0, col("approx_ndv") === 0)
          .otherwise(
            abs(col("approx_ndv") - col("exact_ndv")).cast("double") /
              col("exact_ndv") <= lit(sigmas * rsd)))
      .drop("approx_ndv")
  }

  /** One-row whole-corpus NDV audit over several columns at once —
    * the "how big is this corpus really" headline (distinct docs,
    * vocabulary size, languages). `exprs` maps output-column stem →
    * input column.
    */
  def corpusNdvAudit(
      stems: Seq[(String, Column)],
      rsd: Double = 0.02,
      sigmas: Double = 3.0)(df: DataFrame): DataFrame = {
    require(stems.nonEmpty, "corpusNdvAudit needs at least one stem")
    val aggs: Seq[Column] = stems.flatMap { case (stem, c) =>
      Seq(
        count_distinct(c).as(s"exact_$stem"),
        approx_count_distinct(c, rsd).as(s"approx_$stem"))
    }
    val audited = df.agg(aggs.head, aggs.tail: _*)
    stems
      .foldLeft(audited) { case (d, (stem, _)) =>
        d.withColumn(
          s"${stem}_ok",
          when(col(s"exact_$stem") === 0, col(s"approx_$stem") === 0)
            .otherwise(
              abs(col(s"approx_$stem") - col(s"exact_$stem")).cast("double") /
                col(s"exact_$stem") <= lit(sigmas * rsd)))
      }
      .drop(stems.map(s => s"approx_${s._1}"): _*)
  }

  /** Heavy-hitters audit via CountMin: the top-N most frequent values
    * exactly (deterministic tie-break on the value), each checked
    * against the CountMin estimate's published envelope —
    * `cms_ok` = exact ≤ estimate ≤ exact + ⌈eps·total⌉. CountMin
    * never underestimates, and overestimates by more than eps·total
    * with probability ≤ 1−confidence per probe; merge is counter
    * ADDITION, so unlike GK the sketch value is exactly
    * partitioning-invariant and the gate deterministic given the
    * seed.
    *
    * The exact top-N twin (full groupBy + TakeOrderedAndProject)
    * exists to power the sf0.01 gate, like [[ndvAudit]]'s exact NDV;
    * the scale path is the one-pass `count_min_sketch` aggregate plus
    * [[graft.functions.CmsEstimate]] probes of a known candidate set
    * (prior vocabulary, sampled candidates) — frequency estimation
    * without ever shuffling the values.
    */
  def heavyHittersAudit(
      valueCol: String,
      topN: Int = 20,
      eps: Double = 0.001,
      confidence: Double = 0.9999,
      seed: Int = 42)(df: DataFrame): DataFrame = {
    val v = col(valueCol)
    val nonNull = df.where(v.isNotNull)
    val exactTop = nonNull.groupBy(v.as("value")).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("value").asc).limit(topN)
    val sketch = nonNull.agg(
      expr(s"count_min_sketch(`$valueCol`, CAST($eps AS DOUBLE), CAST($confidence AS DOUBLE), $seed)")
        .as("__cms"),
      count(v).as("__total"))
    exactTop.crossJoin(broadcast(sketch))
      .withColumn("__est", Native.cmsEstimate(col("__cms"), col("value")))
      .withColumn("cms_ok",
        col("__est") >= col("exact_n") &&
          col("__est") <= col("exact_n") + ceil(lit(eps) * col("__total")).cast("long"))
      .select("value", "exact_n", "cms_ok")
  }

  /** Gate twin for GK percentiles: per group emits the exact p50
    * (integer-valued columns only — (a+b)/2 interpolation is
    * engine-portable there) plus `p50_ok` / `p90_ok` = the sketch
    * value sits between the EXACT percentiles at p ∓ rankSlack. GK
    * guarantees rank error ≤ 1/accuracy, so any rankSlack ≫ 1/accuracy
    * must hold; a sketch that drifts past it is broken, not noisy.
    */
  def quantileAudit(
      groupCols: Seq[String],
      valueCol: String,
      accuracy: Int = 10000,
      rankSlack: Double = 0.02)(df: DataFrame): DataFrame = {
    require(rankSlack > 1.0 / accuracy,
      s"rankSlack $rankSlack inside GK error 1/$accuracy — gate would be vacuous")
    val v = s"`$valueCol`" // backticked: names needing quoting must work
    def pct(p: Double) = expr(s"percentile($v, $p)")
    df.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        pct(0.5).as("p50_exact"),
        expr(s"approx_percentile($v, 0.5, $accuracy)").as("ap50"),
        expr(s"approx_percentile($v, 0.9, $accuracy)").as("ap90"),
        pct(0.5 - rankSlack).as("lo50"),
        pct(0.5 + rankSlack).as("hi50"),
        pct(0.9 - rankSlack).as("lo90"),
        pct(math.min(1.0, 0.9 + rankSlack)).as("hi90"))
      .withColumn("p50_ok", col("ap50") >= col("lo50") && col("ap50") <= col("hi50"))
      .withColumn("p90_ok", col("ap90") >= col("lo90") && col("ap90") <= col("hi90"))
      .drop("ap50", "ap90", "lo50", "hi50", "lo90", "hi90")
  }

  /** Union NDV via MERGEABLE sketches (DataSketches HLL,
    * `hll_sketch_agg` / `hll_union_agg`): each snapshot reduces to
    * one serialized sketch, and the union estimate comes from
    * MERGING the two sketches — neither snapshot is rescanned. This
    * is the property [[approxNdv]]'s HLL++ registers cannot expose
    * through the SQL surface (no union function), and the whole
    * point of sketching at 100 TB: per-day/per-shard sketches
    * persisted once answer any cross-snapshot distinct-count later,
    * in sketch-sized work.
    *
    * Gate twin ([[ndvAudit]] discipline): the exact union NDV plus
    * `union_ndv_ok` = relative error within sigmas × the published
    * HLL standard error `1.04/√2^lgK` (≈1.6% at the default
    * lgK = 12). The two 1-row frames meet via
    * `crossJoin(broadcast(…))` — the SUMEQ bounded-build shape,
    * allowlisted in ContractSpec.
    */
  def unionNdvAudit(
      valueCol: String,
      lgK: Int = 12,
      sigmas: Double = 3.0)(a: DataFrame, b: DataFrame): DataFrame = {
    require(lgK >= 4 && lgK <= 21, s"lgK $lgK outside DataSketches' [4,21]")
    def sk(df: DataFrame) =
      df.agg(expr(s"hll_sketch_agg(`$valueCol`, $lgK)").as("sk"))
    val merged = sk(a).unionByName(sk(b))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_union_ndv"))
    val exact = a.select(col(valueCol).as("__v"))
      .unionByName(b.select(col(valueCol).as("__v")))
      .agg(count_distinct(col("__v")).as("exact_union_ndv"))
    val rse = 1.04 / math.sqrt((1L << lgK).toDouble)
    exact.crossJoin(broadcast(merged))
      .withColumn("union_ndv_ok",
        when(col("exact_union_ndv") === 0, col("approx_union_ndv") === 0)
          .otherwise(
            abs(col("approx_union_ndv") - col("exact_union_ndv")).cast("double") /
              col("exact_union_ndv") <= lit(sigmas * rse)))
      .drop("approx_union_ndv")
  }

  /** Intersection NDV by inclusion–exclusion over the SAME mergeable
    * sketches as [[unionNdvAudit]]: `|A∩B| ≈ est(A) + est(B) −
    * est(A∪B)` — the snapshot-overlap question ("how much of batch B
    * is already in the store?") answered from three sketch
    * estimates, with neither side rescanned. This is the standard
    * HLL intersection (plain HLL cannot intersect directly; the
    * difference of unions is the textbook route), and the reason the
    * error bound below is ABSOLUTE, not relative: each estimate
    * carries its own ±rse·NDV band, so the intersection's band is
    * rse·(|A|+|B|+|A∪B|) by the triangle inequality — a SMALL
    * intersection of two large sets is genuinely hard for sketches,
    * and the gate encodes that honestly instead of pretending a
    * relative bound.
    *
    * Gate twin: exact |A∩B| (gate-only, sf0.01) plus
    * `inter_ndv_ok` = |approx − exact| within sigmas × that absolute
    * band. 1-row frames meet via `crossJoin(broadcast(…))` — the
    * SUMEQ bounded-build shape.
    */
  def intersectionNdvAudit(
      valueCol: String,
      lgK: Int = 12,
      sigmas: Double = 3.0)(a: DataFrame, b: DataFrame): DataFrame = {
    require(lgK >= 4 && lgK <= 21, s"lgK $lgK outside DataSketches' [4,21]")
    def sk(df: DataFrame) =
      df.agg(expr(s"hll_sketch_agg(`$valueCol`, $lgK)").as("sk"))
    // each input is aggregated ONCE: the union estimate comes from the
    // two already-built 1-row sketches via the hll_union SCALAR (the
    // old form rebuilt sk(a)/sk(b) in a second subtree, re-scanning
    // both inputs for hll_union_agg)
    val ests = sk(a).select(col("sk").as("__ska"))
      .crossJoin(broadcast(sk(b).select(col("sk").as("__skb"))))
      .select(
        expr("hll_sketch_estimate(__ska)").as("ea"),
        expr("hll_sketch_estimate(__skb)").as("eb"),
        expr("hll_sketch_estimate(hll_union(__ska, __skb))").as("eu"))
      .select((col("ea") + col("eb") - col("eu")).as("approx_inter_ndv"))
    val av = a.select(col(valueCol).as("__v")).distinct()
    val bv = b.select(col(valueCol).as("__v")).distinct()
    val exact = av.join(bv, Seq("__v"), "left_semi")
      .agg(count(lit(1)).as("exact_inter_ndv"))
      .crossJoin(broadcast(av.agg(count(lit(1)).as("na"))))
      .crossJoin(broadcast(bv.agg(count(lit(1)).as("nb"))))
    val rse = 1.04 / math.sqrt((1L << lgK).toDouble)
    exact.crossJoin(broadcast(ests))
      .withColumn("inter_ndv_ok",
        abs(col("approx_inter_ndv") - col("exact_inter_ndv")).cast("double") <=
          lit(sigmas * rse) *
            (col("na") + col("nb") + (col("na") + col("nb") - col("exact_inter_ndv"))))
      .select(col("exact_inter_ndv"), col("inter_ndv_ok"))
  }
}
