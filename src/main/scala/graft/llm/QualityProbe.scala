package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Native

/** Model-based quality filtering — the linear-probe form of the
  * classifier filters modern curation pipelines train over weak
  * labels (fastText in CCNet/DCLM, linear heads in FineWeb-Edu; all
  * public). A full logistic fastText is an iterative optimizer; the
  * probe keeps the exactly-gateable core: closed-form RIDGE
  * REGRESSION on integer document features against a weak binary
  * label, solved by Cramer's rule on the driver from one aggregated
  * normal-equations row, then scored corpus-wide as one codegen'd
  * linear form. What matters at 100 TB survives: training cost is ONE
  * scan + a 9-integer aggregate (no gradient epochs over the corpus),
  * scoring is embarrassingly parallel, and nothing driver-side grows
  * with the data.
  *
  * Exactness discipline:
  *  - features are INTEGER counts (tokens, marker-token hits), so the
  *    normal-equation sums are exact longs, identical in any engine
  *    and under any partitioning — no float accumulation anywhere in
  *    training;
  *  - the 3×3 Cramer determinants are BigInt on the driver (products
  *    of three ~1e10 sums overflow a long; the DuckDB replay uses
  *    HUGEINT the same way) — document counts past ~1e12 need the
  *    decimal(38) upgrade, noted, not needed at gate scale;
  *  - each weight is ONE double division of two exact integers
  *    (`det_i.toDouble / det.toDouble` — both engines round the same
  *    integers to the same doubles, then divide identically), and the
  *    per-doc score is the fixed op order `(w0 + w1·x1) + w2·x2`,
  *    quantized once to micro-units for the gate.
  */
object QualityProbe {

  /** Integer feature columns: token count and marker-token count —
    * both exact, engine-portable counts over the whitespace stream.
    */
  def tokenCount(textCol: String): Column =
    size(split(coalesce(col(textCol), lit("")), " ")).cast("long")
  def markerCount(textCol: String, marker: String): Column =
    // ONE native byte scan ([[graft.functions.MarkerCount]]) in place
    // of the interpreted per-token filter lambda (the parity
    // reference in LlmSpec and ArrayFnsSpec) — the r19 §4
    // treatment: the probe gate evaluates this feature over the whole
    // corpus (train aggregate + every scored row, twice in the gated
    // pipelines), and the lambda form also dropped the projection out
    // of whole-stage codegen. Bit-identical (LlmSpec parity pin + the
    // probe consumers' oracles).
    Native.markerCount(coalesce(col(textCol), lit("")), Seq(marker))

  /** The fitted probe: exact normal-equation sums, BigInt Cramer
    * determinants, and the derived double weights.
    */
  final case class Probe(
      n: Long,
      det: BigInt, det0: BigInt, det1: BigInt, det2: BigInt) {
    def w0: Double = det0.toDouble / det.toDouble
    def w1: Double = det1.toDouble / det.toDouble
    def w2: Double = det2.toDouble / det.toDouble
  }

  /** Fit ridge weights for `label ~ 1 + x1 + x2` with integer penalty
    * `lambda` on every diagonal term (intercept included — one rule,
    * stated, replayable). The only corpus pass is the SUMEQ-class
    * 1-row aggregate; Cramer runs on the driver over exact BigInts.
    */
  def trainRidge(
      df: DataFrame,
      x1: Column,
      x2: Column,
      label: Column,
      lambda: Long = 1L): Probe = {
    // the BigInt-exactness contract assumes a positive-definite A:
    // lambda <= 0 admits det = 0 and silently Infinity/NaN weights
    // from det_i.toDouble / det.toDouble
    require(lambda >= 1L, s"trainRidge needs a positive integer lambda, got $lambda")
    val y = label.cast("long")
    val row = df.agg(
      count(lit(1)).as("n"),
      sum(x1).as("s1"), sum(x2).as("s2"),
      sum(x1 * x1).as("s11"), sum(x1 * x2).as("s12"), sum(x2 * x2).as("s22"),
      sum(y).as("b0"), sum(x1 * y).as("b1"), sum(x2 * y).as("b2")
    ).collect()(0)
    // an empty frame would otherwise surface as an opaque NPE below
    // (sum aggregates return null and getLong throws)
    require(row.getLong(0) > 0L,
      "trainRidge: empty training frame — no documents to fit the probe on")
    val n = row.getLong(0)
    def g(i: Int): BigInt = BigInt(row.getLong(i))
    val (s1, s2, s11, s12, s22) = (g(1), g(2), g(3), g(4), g(5))
    val (b0, b1, b2) = (g(6), g(7), g(8))
    val l = BigInt(lambda)
    // A = [[n+l, s1, s2], [s1, s11+l, s12], [s2, s12, s22+l]]
    val (a00, a01, a02) = (BigInt(n) + l, s1, s2)
    val (a11, a12, a22) = (s11 + l, s12, s22 + l)
    def det3(m00: BigInt, m01: BigInt, m02: BigInt,
             m10: BigInt, m11: BigInt, m12: BigInt,
             m20: BigInt, m21: BigInt, m22: BigInt): BigInt =
      m00 * (m11 * m22 - m12 * m21) -
        m01 * (m10 * m22 - m12 * m20) +
        m02 * (m10 * m21 - m11 * m20)
    Probe(n,
      det = det3(a00, a01, a02, a01, a11, a12, a02, a12, a22),
      det0 = det3(b0, a01, a02, b1, a11, a12, b2, a12, a22),
      det1 = det3(a00, b0, a02, a01, b1, a12, a02, b2, a22),
      det2 = det3(a00, a01, b0, a01, a11, b1, a02, a12, b2))
  }

  /** Score every document under the fitted probe: the fixed-order
    * linear form quantized to micro-units, plus the >= 0.5 decision.
    * Weights ride the plan as double literals — scoring is pure
    * per-row codegen, zero exchanges.
    */
  def score(p: Probe, x1: Column, x2: Column): Column =
    lit(p.w0) + lit(p.w1) * x1.cast("double") + lit(p.w2) * x2.cast("double")

  def withScores(
      df: DataFrame,
      idCol: String,
      x1: Column,
      x2: Column,
      p: Probe,
      fpScale: Double = 1e6): DataFrame =
    df.select(col(idCol),
      floor(score(p, x1, x2) * lit(fpScale) + lit(0.5)).cast("long").as("score_fp"),
      (score(p, x1, x2) >= lit(0.5)).cast("int").as("pred"))

  /** Drift-triggered refit check — the probe's LIFECYCLE face: train
    * a FRESH probe on the current reference window, compare it
    * against the DEPLOYED probe (trained on the snapshot it shipped
    * with), and emit the one-row report a curation pipeline gates a
    * filter swap on:
    *
    *  - `n_agree` / `agree_frac` — how often the two probes issue the
    *    same ≥ 0.5 decision over the FRESH window (the population the
    *    deployed probe is actually filtering today);
    *  - `dw{0,1,2}_fp` — the weight drift, each delta one IEEE
    *    subtraction of two exactly-derived doubles, quantized once;
    *  - `refit` — 1 when agreement fell below `agreeThreshold`.
    *
    * Cost: two [[trainRidge]] scans (each the 9-integer SUMEQ
    * aggregate) plus ONE agreement aggregate over the fresh window —
    * both probes' weights ride that plan as literals, so the
    * comparison is per-row codegen, zero extra exchanges. Everything
    * in the report is either an exact integer or one fixed-order
    * float op on exact integers — replayable in SQL (the
    * quality_probe_refit gate) and spec-pinned stable on identical
    * snapshots (agreement 1, deltas 0, refit 0).
    */
  def refitReport(
      deployed: DataFrame,
      fresh: DataFrame,
      x1: Column,
      x2: Column,
      label: Column,
      agreeThreshold: Double = 0.98,
      lambda: Long = 1L,
      fpScale: Double = 1e9): DataFrame = {
    val pD = trainRidge(deployed, x1, x2, label, lambda)
    val pF = trainRidge(fresh, x1, x2, label, lambda)
    val agreeRow = fresh.agg(
      count(lit(1)).as("n"),
      sum(when((score(pD, x1, x2) >= lit(0.5)) === (score(pF, x1, x2) >= lit(0.5)),
        1L).otherwise(0L)).as("agree")).collect()(0)
    val (nFresh, nAgree) = (agreeRow.getLong(0), agreeRow.getLong(1))
    def fp(d: Double): Long = math.floor(d * fpScale + 0.5).toLong
    val agreeFrac = nAgree.toDouble / nFresh
    val spark = fresh.sparkSession
    import spark.implicits._
    Seq((pD.n, nFresh, nAgree, agreeFrac,
      fp(pF.w0 - pD.w0), fp(pF.w1 - pD.w1), fp(pF.w2 - pD.w2),
      if (agreeFrac < agreeThreshold) 1 else 0))
      .toDF("n_deployed", "n_fresh", "n_agree", "agree_frac",
        "dw0_fp", "dw1_fp", "dw2_fp", "refit")
  }
}
