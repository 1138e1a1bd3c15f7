package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Native

/** Int8 embedding quantization with a reconstruction-error audit.
  *
  * At 100 TB an embedding store is dominated by the float32 vectors
  * themselves; symmetric per-vector max-abs int8 quantization shrinks
  * it 4× (one byte per dimension plus one double scale per vector)
  * while keeping cosine rankings close enough for candidate
  * generation — the standard first stage of every large ANN serving
  * stack. Everything here is a pure per-row map: zero shuffles, zero
  * UDFs, all `transform`/`aggregate` higher-order functions inside
  * whole-stage codegen, so quantizing the full store is one scan.
  *
  * Scheme (symmetric max-abs): `scale = max_i |v_i|`,
  * `q_i = floor(v_i / scale * 127 + 0.5)` ∈ [-127, 127], dequant
  * `v̂_i = q_i * scale / 127`. `floor(x + 0.5)` — round-half-up — is
  * spelled out instead of `round()` so the oracle replay is
  * bit-identical (engines disagree on round-half-to-even vs
  * away-from-zero; floor is unambiguous IEEE in both). The worst-case
  * reconstruction error is half a quantization step, `scale / 254`,
  * and the audit gates every element against that closed-form bound —
  * a broken quantizer (wrong scale, clamping, off-by-one) fails the
  * gate deterministically rather than degrading recall silently.
  *
  * Reference scope note: the reference engine (994-line pandas ETL)
  * has no vector surface; this extends the mandated similarity-search
  * family (SURVEY.md §6) with its storage-efficiency path, alongside
  * [[Similarity]] (exact/LSH) and [[Ivf]] (clustered ANN).
  */
object Quantize {

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Per-vector max-abs scale (order-independent exact max). */
  def maxAbsScale(vec: Column): Column =
    array_max(transform(vec, v => abs(v)))

  /** Quantized array<int> in [-127, 127]; all-zero vectors (scale 0)
    * quantize to all zeros rather than dividing by zero.
    */
  def int8Codes(vec: Column, scale: Column): Column =
    transform(vec, v =>
      when(scale === 0d, lit(0))
        .otherwise(floor(v / scale * 127d + 0.5d))
        .cast("int"))

  /** Audit view: per-vector scalars only (exact ints + per-row
    * doubles, both engine-portable) — dims, scale, the quantized
    * code-sum/min/max as integrity checksums, and `recon_ok` = every
    * element's dequantization error is within the closed-form
    * half-step bound `scale/254` (+1 ulp slack for the division).
    */
  def int8Audit(idCol: String, vecCol: String)(df: DataFrame): DataFrame =
    df.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .withColumn("scale", maxAbsScale(col("__v")))
      .withColumn("__q", int8Codes(col("__v"), col("scale")))
      .select(
        col(idCol),
        size(col("__v")).as("n_dims"),
        col("scale"),
        aggregate(col("__q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        array_min(col("__q")).as("q_min"),
        array_max(col("__q")).as("q_max"),
        forall(
          zip_with(col("__v"), col("__q"), (v, qi) =>
            abs(qi * col("scale") / 127d - v) <= col("scale") / 254d + lit(1e-9)),
          x => x).as("recon_ok"))

  /** Storage path: id, scale, codes — what actually lands on disk at
    * scale (int8-width codes + one double; parquet dictionary/RLE
    * does the rest). Kept as array<int> in the frame; the 4× win is
    * the byte width in parquet, asserted in LlmSpec.
    */
  def int8Store(idCol: String, vecCol: String)(df: DataFrame): DataFrame =
    // ONE fused native pass ([[graft.functions.Int8Quant]]) for
    // scale + codes in place of the two composed transform lambdas
    // (kept above as [[maxAbsScale]]/[[int8Codes]] — the parity
    // references, and what [[int8Audit]] keeps using so the AUDIT
    // formulation stays independent of the quantizer it checks).
    // Interpreted per element, the composed pair was the per-row
    // cost of every quantized-store scan (r19 §4; parity-pinned in
    // LlmSpec, the quant consumers' oracles hash-gate the codes).
    df.select(col(idCol), Native.int8Quant(asDouble(col(vecCol))).as("__qz"))
      .select(col(idCol), col("__qz.scale").as("scale"), col("__qz.codes").as("codes"))

  /** Recall audit: per probe, |top-k by quantized cosine ∩ top-k by
    * exact cosine| / k. In the quantized cosine the two max-abs
    * scales cancel, so the ranking needs ONLY the integer codes:
    * `qdot / (‖qa‖·‖qb‖)` where every dot is an exact integer sum and
    * the two sqrt/divide ops are per-pair IEEE doubles — rank order is
    * engine-portable; ties break on neighbor id. This is the number a
    * 100 TB deployment watches when deciding k-for-rerank: candidates
    * come from int8 codes alone, the float rerank only touches k rows.
    * (All-zero vectors have no direction — their cosine is NaN, which
    * Spark orders GREATER than any double, so the ranking explicitly
    * demotes NaN below every real cosine [nanvl → −2]; degenerate
    * vectors can then never displace genuine neighbors from either
    * list. Probes whose two top-k lists are fully disjoint still get
    * a row — recall 0.0, zero-filled from the probe set — because an
    * audit that silently omits its WORST probes overstates the
    * average it exists to report.)
    */
  def int8RecallAtK(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      maxBroadcastBytes: Long = 256L << 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    val qCorpus = int8Store(idCol, vecCol)(corpus)
      .select(col(idCol).as("neighbor_id"), col("codes").as("__cq"))
    val qProbes = int8Store(idCol, vecCol)(probes)
      .select(col(idCol).as("probe_id"), col("codes").as("__pq"))
    val fCorpus = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("__cv"))
    val fProbes = probes.select(col(idCol).as("probe_id"), asDouble(col(vecCol)).as("__pv"))

    def topk(scored: DataFrame, scoreCol: String): DataFrame = {
      // nanvl: NaN sorts GREATER than any double in Spark, so a raw
      // desc ordering would put every zero-vector (0/0 cosine) at the
      // TOP of both lists, inflating measured recall — demote them
      // below the cosine floor instead
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(nanvl(col(scoreCol), lit(-2.0)).desc, col("neighbor_id").asc)
      scored.withColumn("__rn", row_number().over(w)).where(col("__rn") <= k)
        .select("probe_id", "neighbor_id")
    }

    val exact = topk(
      fCorpus.crossJoin(Similarity.maybeBroadcast(fProbes, maxBroadcastBytes))
        .withColumn("__sim", Native.cosine(col("__cv"), col("__pv"))),
      "__sim")
    // ONE codegen'd loop ([[graft.functions.IntDot]]) per dot in
    // place of the composed zip_with + aggregate form (ArrayFnsSpec's
    // parity reference): the quantized ranking evaluates three dots per
    // CANDIDATE PAIR inside the cross/cell join — the hottest
    // expression site of the quant family — and the composed
    // zip_with+aggregate pair ran interpreted per element there
    // (r19 §4; LlmSpec parity pin, the quant consumers' oracles
    // hash-gate the rankings).
    def idot(a: Column, b: Column): Column = Native.dotInt(a, b)
    // zero-norm guard: an all-zero code vector would divide by 0.0 —
    // an ANSI DIVIDE_BY_ZERO task failure, not the IEEE NaN the
    // native exact-side expression produces. Emit null instead
    // (sorts last under the desc ranking, like nanvl'd NaN).
    val normProd =
      sqrt(idot(col("__cq"), col("__cq")).cast("double")) *
        sqrt(idot(col("__pq"), col("__pq")).cast("double"))
    val quant = topk(
      qCorpus.crossJoin(Similarity.maybeBroadcast(qProbes, maxBroadcastBytes))
        .withColumn("__qsim",
          when(normProd > 0d, idot(col("__cq"), col("__pq")).cast("double") / normProd)),
      "__qsim")

    // both top-k frames descend from the same corpus lineage; renaming
    // the quant side's join keys before the semi-join removes any
    // same-attribute ambiguity in the equi-condition
    val quantR = quant.select(col("probe_id").as("__qp"), col("neighbor_id").as("__qn"))
    val hits = exact.join(quantR,
        col("probe_id") === col("__qp") && col("neighbor_id") === col("__qn"), "left_semi")
      .groupBy("probe_id")
      .agg((count(lit(1)).cast("double") / k).as("recall_at_k"))
    // zero-fill from the probe set: a probe whose exact and quantized
    // top-k share NOTHING has no semi-join rows at all, and omitting
    // it would silently drop the worst probes from the audit
    fProbes.select("probe_id").distinct()
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"), coalesce(col("recall_at_k"), lit(0.0)).as("recall_at_k"))
  }
}
