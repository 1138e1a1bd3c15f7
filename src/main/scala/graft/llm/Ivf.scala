package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Native

/** IVF (inverted-file) approximate nearest neighbour: a k-means
  * coarse quantizer assigns every vector to its nearest centroid;
  * a probe only scans the `nProbe` closest centroid lists instead of
  * the corpus. The other classic ANN scale path next to sign-LSH
  * ([[Similarity.annTopK]]):
  *  - training runs once on a sample (seeded → deterministic);
  *  - assignment is a broadcast of k centroid vectors, no shuffle;
  *  - the search join is centroid_id = centroid_id — bucketed, never
  *    cartesian — and in a real deployment the corpus is written
  *    bucketed/partitioned by centroid_id so a probe prunes partitions.
  */
object Ivf {

  final case class IvfModel(centroids: Array[Array[Double]]) {
    def k: Int = centroids.length
  }

  /** Train the coarse quantizer on a BOUNDED, DETERMINISTIC sample.
    *
    * This is the FAISS recipe, not a distributed k-means: a coarse
    * quantizer needs balanced-ish cells, and ~256 training vectors
    * per centroid saturate its quality, so the cluster's job is one
    * `TakeOrderedAndProject` (lowest xxhash64 of the vector — stable
    * under any partitioning / file layout / corpus order) that ships
    * `min(N, maxTrain)` vectors to the driver; k-means++ seeded
    * Lloyd's runs locally in microseconds. At 100 TB the sample is
    * the SAME size — training cost is O(maxTrain·dim·k·iters),
    * independent of corpus scale — while assignment stays fully
    * distributed (broadcast centroid literals, [[assign]]).
    *
    * The driver-side collect is deliberate and bounded (maxTrain·dim
    * doubles ≈ 2 MB at defaults) — the legitimate exception to the
    * no-collect rule, same as collecting a broadcast dimension.
    * Previously MLlib KMeans: ~2-5 s of per-iteration job scheduling
    * for a 2000-row input; local Lloyd's is ~1000× cheaper at equal
    * recall (tools/RecallBench, SCALE.md).
    */
  def train(
      df: DataFrame,
      vecCol: String,
      k: Int,
      seed: Long = 42L,
      maxTrain: Int = 4096,
      maxIter: Int = 25,
      nInit: Int = 8,
      spherical: Boolean = true): IvfModel = {
    val sample: Array[Array[Double]] = df
      .select(col(vecCol).cast("array<double>").as("__v"))
      .where(col("__v").isNotNull && size(col("__v")) > 0)
      .withColumn("__h", xxhash64(col("__v")))
      .orderBy(col("__h"))           // TakeOrderedAndProject, not a sort
      .limit(maxTrain)
      .collect()
      .map(_.getSeq[Double](0).toArray)
    // a single NaN/Inf vector poisons k-means++ (d2.sum goes NaN, the
    // D²-weighted scan never fires, every seed collapses to xs(0) in
    // ALL nInit restarts) — drop non-finite vectors before training,
    // mirroring NearestCentroids' NaN-safe assignment
    val finite = sample.filter(_.forall(java.lang.Double.isFinite))
    require(finite.nonEmpty, s"Ivf.train: no finite non-empty vectors in $vecCol")
    // guard ragged dimensionality (a truncated upstream write): train
    // on the sample's dominant length rather than crashing in sqDist,
    // mirroring NearestCentroids' min-length defensive assignment
    val dim = finite.groupBy(_.length).maxBy { case (_, vs) => vs.length }._1
    val clean = finite.filter(_.length == dim)
    // restarts are ~free at this size; best-of-nInit by within-cluster
    // sum of squares recovers the init quality MLlib got from kmeans||
    val runs = (0 until nInit).map(r =>
      lloyd(clean, math.min(k, clean.length), seed + r, maxIter, spherical))
    IvfModel(runs.minBy(cs => inertia(clean, cs)))
  }

  private def inertia(xs: Array[Array[Double]], cents: Array[Array[Double]]): Double = {
    var s = 0.0; var i = 0
    while (i < xs.length) {
      var best = Double.MaxValue; var c = 0
      while (c < cents.length) { val d = sqDist(xs(i), cents(c)); if (d < best) best = d; c += 1 }
      s += best; i += 1
    }
    s
  }

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Seeded k-means++ init + Lloyd's iterations, all driver-local and
    * deterministic (ties break to the lowest centroid index; an
    * emptied cell re-seeds from the point farthest from its centroid).
    *
    * `spherical` renormalizes centroids to unit length after every
    * update — spherical k-means, the right quantizer when vectors are
    * unit-norm and search ranks by cosine/inner-product: argmin
    * ||x−c||² over UNIT c equals argmax cos(x,c), so cell boundaries
    * align with the similarity the probe actually uses.
    */
  private def lloyd(
      xs: Array[Array[Double]], k: Int, seed: Long, maxIter: Int,
      spherical: Boolean): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val dim = xs.head.length
    // k-means++: first centroid uniform, next ~ D²-weighted
    val cents = Array.ofDim[Array[Double]](k)
    cents(0) = xs(rnd.nextInt(xs.length)).clone()
    val d2 = xs.map(sqDist(_, cents(0)))
    for (c <- 1 until k) {
      val total = d2.sum
      val target = rnd.nextDouble() * total
      var acc = 0.0; var pick = 0
      var i = 0
      while (i < xs.length && { acc += d2(i); acc < target }) { pick = i + 1; i += 1 }
      cents(c) = xs(math.min(pick, xs.length - 1)).clone()
      var j = 0
      while (j < xs.length) { d2(j) = math.min(d2(j), sqDist(xs(j), cents(c))); j += 1 }
    }
    val assignment = Array.fill(xs.length)(-1)
    var iter = 0; var moved = true
    while (iter < maxIter && moved) {
      moved = false
      // assign
      var i = 0
      while (i < xs.length) {
        var best = 0; var bestD = sqDist(xs(i), cents(0))
        var c = 1
        while (c < k) {
          val d = sqDist(xs(i), cents(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        if (assignment(i) != best) { assignment(i) = best; moved = true }
        i += 1
      }
      // update
      val sums = Array.fill(k, dim)(0.0)
      val counts = Array.fill(k)(0)
      i = 0
      while (i < xs.length) {
        val c = assignment(i); counts(c) += 1
        var j = 0
        while (j < dim) { sums(c)(j) += xs(i)(j); j += 1 }
        i += 1
      }
      // reseed bookkeeping: two cells emptied in the SAME iteration
      // must pick DISTINCT farthest points, else they stay duplicates
      // and diversify only ~1 cell per iteration
      val reseeded = scala.collection.mutable.Set.empty[Int]
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var j = 0
          while (j < dim) { cents(c)(j) = sums(c)(j) / counts(c); j += 1 }
          if (spherical) {
            var n = 0.0; j = 0
            while (j < dim) { n += cents(c)(j) * cents(c)(j); j += 1 }
            val inv = if (n > 0) 1.0 / math.sqrt(n) else 0.0
            j = 0
            while (j < dim) { cents(c)(j) *= inv; j += 1 }
          }
        } else {
          // re-seed an empty cell from the farthest point not already
          // used to reseed another cell this iteration
          var far = -1; var farD = -1.0
          var p = 0
          while (p < xs.length) {
            if (!reseeded.contains(p)) {
              val d = sqDist(xs(p), cents(assignment(p)))
              if (d > farD) { farD = d; far = p }
            }
            p += 1
          }
          if (far >= 0) { cents(c) = xs(far).clone(); reseeded += far }
          moved = true
        }
        c += 1
      }
      iter += 1
    }
    cents
  }

  /** Nearest-centroid ids for each row's vector: an array of the
    * `nProbe` closest centroid indices (position 0 = nearest; ties
    * break to the lower id). One native expression
    * (functions/IvfFns.scala) over a broadcast-sized centroid
    * literal — the composed per-centroid aggregate(zip_with) form it
    * replaced was interpreted per centroid and dominated cold-run
    * planning.
    */
  private def nearestCentroids(vec: org.apache.spark.sql.Column, model: IvfModel, nProbe: Int) =
    Native.ivfCells(vec, model.centroids.map(_.toSeq).toSeq, nProbe)

  /** The `nProbe` nearest centroid ids for a probe vector (position
    * 0 = nearest) — the cell list a search would scan.
    */
  def probeCentroids(vec: org.apache.spark.sql.Column, model: IvfModel, nProbe: Int): org.apache.spark.sql.Column =
    nearestCentroids(vec.cast("array<double>"), model, nProbe)

  /** Assign every corpus vector to its single nearest centroid. */
  def assign(df: DataFrame, idCol: String, vecCol: String, model: IvfModel): DataFrame =
    df.select(col(idCol), col(vecCol),
      element_at(nearestCentroids(col(vecCol).cast("array<double>"), model, 1), 1)
        .as("centroid_id"))

  /** ANN top-k: probes fan out to their `nProbe` nearest centroid
    * lists, candidates meet on centroid_id, exact cosine ranks within.
    */
  def ivfTopK(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      model: IvfModel,
      k: Int,
      nProbe: Int = 2): DataFrame =
    ivfTopKAssigned(assign(corpus, idCol, vecCol, model),
      probes, idCol, vecCol, model, k, nProbe)

  /** [[ivfTopK]] over a corpus that ALREADY carries its cell id (a
    * [[writeCellLayout]] read-back, or a fresh [[assign]]) — the
    * shared ranking half, so stored assignments are never recomputed.
    */
  private def ivfTopKAssigned(
      assigned: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      model: IvfModel,
      k: Int,
      nProbe: Int): DataFrame = {
    val c = assigned
      .select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("__cv"), col("centroid_id"))
    val p = probes.select(col(idCol).as("probe_id"),
      col(vecCol).cast("array<double>").as("__pv"),
      explode(nearestCentroids(col(vecCol).cast("array<double>"), model, nProbe))
        .as("centroid_id"))
    // fused native cosine (one codegen'd loop, bit-identical to the
    // composed zip_with form — asserted by ArrayFnsSpec): this is the
    // inner loop of every in-cell pairing (ANN search, label
    // consistency), where the composed form's three array
    // materializations per pair dominate
    val scored = c.join(p, Seq("centroid_id"))
      .withColumn("sim", Native.cosine(col("__cv"), col("__pv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("sim"), col("__rn").as("rank"))
  }

  /** Write the corpus PARTITIONED BY its IVF cell — the deployed
    * index layout the module scaladoc promises: one directory per
    * centroid_id, so a probe's candidate read is directory pruning,
    * not a scan-and-filter. At 100 TB a probe touches
    * nProbe/k of the store's files; footer stats never even open the
    * rest. Pair with [[saveModel]]: the layout is only valid under
    * the EXACT model that produced it, which the artifact preserves
    * bit-for-bit.
    */
  def writeCellLayout(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      model: IvfModel,
      path: String): Unit =
    assign(df, idCol, vecCol, model)
      .write.mode("overwrite").partitionBy("centroid_id").parquet(path)

  /** Incremental index maintenance: assign an ARRIVING batch under
    * the same (artifact-pinned) model and append it into the cell
    * layout — dynamic partition append, so only the batch's own cells
    * gain files and existing directories are untouched. This is the
    * steady-state write path of a deployed IVF store (the batch face
    * of a `foreachBatch` streaming sink); [[cellLayoutTopK]] sees the
    * new vectors on its next read with no rebuild. Re-cluster (retrain
    * + rewrite) only when [[refine]]'s inertia says the model has
    * drifted — the layout itself never needs day-to-day rewrites.
    */
  def appendToCellLayout(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      model: IvfModel,
      path: String): Unit =
    assign(batch, idCol, vecCol, model)
      .write.mode("append").partitionBy("centroid_id").parquet(path)

  /** ANN top-k against a [[writeCellLayout]] store: the probe set's
    * nProbe cells are computed model-side (probes are the small
    * side), the store read carries `centroid_id IN (cells)` — a
    * PARTITION filter, visible in the scan's PartitionFilters and
    * measured in IvfSkewSpec — and only the surviving sliver joins
    * and ranks, via the same [[ivfTopK]] machinery. The store's
    * PERSISTED centroid_id (the partition column the layout already
    * paid for at write time) is reused as-is — the read path never
    * re-runs nearest-centroid assignment over the candidates. Results
    * are identical to [[ivfTopK]] over the full corpus (candidates
    * outside probe cells never rank; spec-pinned).
    *
    * The probe-cell collect is bounded by the probe batch
    * (probes × nProbe ints) — the broadcast-dimension exception, same
    * as [[train]]'s sample.
    */
  def cellLayoutTopK(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      model: IvfModel,
      k: Int,
      nProbe: Int = 2): DataFrame = {
    val cells = probes
      .select(explode(probeCentroids(col(vecCol), model, nProbe)).as("c"))
      .distinct().collect().map(_.getInt(0))
    val store = spark.read.parquet(path)
      .where(col("centroid_id").isin(cells.map(x => x: Any): _*))
      .select(col(idCol), col(vecCol), col("centroid_id").cast("int").as("centroid_id"))
    ivfTopKAssigned(store, probes, idCol, vecCol, model, k, nProbe)
  }

  /** Row-level erase from a persisted cell layout — float
    * ([[writeCellLayout]] / the streaming [[graft.streaming
    * .StreamingIngest.ivfIngestStream]] layout) or quantized
    * ([[writeQuantCellLayout]]): deletes the erased vectors from
    * exactly the cell partitions holding them, so a subsequent probe
    * can never rank — resurrect — deleted content. Pass the layout's
    * actual partitioning: `Seq("centroid_id")` for batch-written
    * layouts, `Seq("centroid_id", "ingest_batch")` for streaming ones
    * (run quiesced — the [[graft.io.LayoutErase]] contract). Cost is
    * a discovery scan plus a rewrite of ONLY the touched cells'
    * partitions; gated (s18_ivf_erase / s18_ivf_quant_erase) on
    * post-erase probe == probe over a rebuild from survivors.
    */
  def eraseFromCellLayout(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      idCol: String,
      ids: DataFrame,
      partCols: Seq[String] = Seq("centroid_id")): graft.io.LayoutErase.LayoutEraseStats =
    graft.io.LayoutErase.eraseByIds(spark, path, partCols, idCol, ids)

  /** IVF over the QUANTIZED store — the composition a 100 TB ANN
    * deployment actually runs: cells bound the candidate set
    * (directory pruning), int8 codes bound the bytes per candidate
    * (4× less IO and memory than float32), and the ranking is the
    * scale-cancelling quantized cosine [[Quantize.int8RecallAtK]]
    * documents: `qdot / (‖qc‖·‖qp‖)` — every dot an EXACT integer
    * sum, the sqrt/divide correctly-rounded IEEE, ties broken on
    * neighbor id, zero-vector cosines nulled and demoted below the
    * cosine floor. sim_quant_recall is the companion audit that
    * prices this ranking's recall for the k-for-rerank decision; this
    * operator is the search it prices. Candidates outside the probe
    * cells never rank — same contract as [[ivfTopK]].
    */
  def ivfQuantTopK(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      model: IvfModel,
      k: Int,
      nProbe: Int = 2,
      maxBroadcastBytes: Long = 256L << 20): DataFrame = {
    val qCorpus = assign(corpus, idCol, vecCol, model)
      .select(col(idCol).as("neighbor_id"), col("centroid_id").cast("int").as("centroid_id"),
        quantCodes(col(vecCol).cast("array<double>")).as("__cq"))
    quantRank(qCorpus, probes, idCol, vecCol, model, k, nProbe, maxBroadcastBytes)
  }

  private def quantCodes(v: org.apache.spark.sql.Column) =
    // fused native quantizer — see [[Quantize.int8Store]]
    Native.int8Quant(v).getField("codes")

  /** The shared quantized-ranking half: probe-cell fan-out joins a
    * (neighbor_id, centroid_id, __cq codes) candidate frame and ranks
    * by the scale-cancelling quantized cosine — fed either from a
    * fresh assign+quantize pass ([[ivfQuantTopK]]) or from the
    * PERSISTED quantized layout ([[quantCellLayoutTopK]]), which is
    * why stored codes are never recomputed on the read path.
    */
  private def quantRank(
      qCorpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      model: IvfModel,
      k: Int,
      nProbe: Int,
      maxBroadcastBytes: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qProbes = probes
      .select(col(idCol).as("probe_id"), col(vecCol).cast("array<double>").as("__pv"))
      .withColumn("centroid_id", explode(probeCentroids(col("__pv"), model, nProbe)))
      .select(col("probe_id"), col("centroid_id").cast("int").as("centroid_id"),
        quantCodes(col("__pv")).as("__pq"))
    // native integer-code dot ([[graft.functions.IntDot]]) — three
    // dots per candidate pair inside the cell join ran interpreted in
    // the composed zip_with + aggregate form (ArrayFnsSpec's parity
    // reference; r19 §4)
    def idot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      Native.dotInt(a, b)
    val normProd =
      sqrt(idot(col("__cq"), col("__cq")).cast("double")) *
        sqrt(idot(col("__pq"), col("__pq")).cast("double"))
    val scored = qCorpus
      .join(Similarity.maybeBroadcast(qProbes, maxBroadcastBytes), Seq("centroid_id"))
      .withColumn("qsim",
        when(normProd > 0d, idot(col("__cq"), col("__pq")).cast("double") / normProd))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(coalesce(col("qsim"), lit(-2.0)).desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select("probe_id", "neighbor_id", "qsim", "rank")
  }

  /** The full production ANN query: quantized candidate generation +
    * float rerank — cells bound the candidate set, int8 codes pick
    * the top `k·rerankFactor` cheaply, and ONLY those rows touch
    * float vectors for the exact-cosine rerank. This is the
    * k-for-rerank deployment [[Quantize.int8RecallAtK]] prices: the
    * audit tells you how big `rerankFactor` must be for the quantized
    * stage to retain the true top-k; this operator then pays float
    * reads for candidates only — at 100 TB the float corpus stays in
    * cold storage and the rerank join is candidate-sized (probes ×
    * k·rerankFactor rows, broadcast).
    */
  def ivfQuantRerankTopK(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      model: IvfModel,
      k: Int,
      nProbe: Int = 2,
      rerankFactor: Int = 3,
      maxBroadcastBytes: Long = 256L << 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rerankFactor >= 1, s"rerankFactor must be >= 1, got $rerankFactor")
    val cands = ivfQuantTopK(corpus, probes, idCol, vecCol, model,
      k * rerankFactor, nProbe, maxBroadcastBytes)
      .select("probe_id", "neighbor_id")
    val fCorpus = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("__cv"))
    val fProbes = probes.select(col(idCol).as("probe_id"),
      col(vecCol).cast("array<double>").as("__pv"))
    val scored = fCorpus
      .join(broadcast(cands), Seq("neighbor_id"))
      .join(Similarity.maybeBroadcast(fProbes, maxBroadcastBytes), Seq("probe_id"))
      .withColumn("sim", Native.cosine(col("__cv"), col("__pv")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select("probe_id", "neighbor_id", "sim", "rank")
  }

  /** The quantized store on disk: one directory per cell, rows are
    * (id, scale, codes) — [[Quantize.int8Store]]'s 4×-smaller layout
    * behind [[writeCellLayout]]'s directory pruning. This is what a
    * 100 TB ANN deployment actually persists: float vectors stay in
    * cold storage for the optional rerank; the search tier reads
    * int8 codes from pruned cell directories only.
    */
  /** The quantize+assign projection shared by the rebuild and append
    * faces — ONE definition of the stored row shape, so the append
    * path can never drift from what the rebuild persists.
    */
  private def quantAssigned(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      model: IvfModel): DataFrame = {
    val vd = col(vecCol).cast("array<double>")
    // fused native quantizer — see [[Quantize.int8Store]]
    val qz = Native.int8Quant(vd)
    df.select(col(idCol),
      qz.getField("scale").as("scale"),
      qz.getField("codes").as("codes"),
      element_at(nearestCentroids(vd, model, 1), 1).as("centroid_id"))
  }

  /** The shared row shape, package-visible for the streaming
    * maintainer ([[graft.streaming.StreamingIngest
    * .ivfQuantIngestStream]]) — the stream writes EXACTLY what the
    * batch faces write.
    */
  private[graft] def quantAssignedForStream(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      model: IvfModel): DataFrame = quantAssigned(df, idCol, vecCol, model)

  def writeQuantCellLayout(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      model: IvfModel,
      path: String): Unit =
    quantAssigned(df, idCol, vecCol, model)
      .write.mode("overwrite").partitionBy("centroid_id").parquet(path)

  /** Steady-state maintenance of the QUANTIZED store — the
    * [[appendToCellLayout]] twin the search tier was missing: an
    * arriving batch is quantized and assigned under the pinned model
    * and appended into the cell layout (dynamic partition append —
    * only the batch's own cells gain files; the store is NEVER
    * re-quantized, stored codes are immutable). With this,
    * s18 + rerank absorbs new vectors without the full
    * re-quantization pass verdict r17 flagged; gated
    * (s18_ivf_quant_append) on append-path == rebuild-path via the
    * shared quantized replay oracle.
    */
  def appendToQuantCellLayout(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      model: IvfModel,
      path: String): Unit =
    quantAssigned(batch, idCol, vecCol, model)
      .write.mode("append").partitionBy("centroid_id").parquet(path)

  /** ANN top-k against the persisted quantized layout: probe cells
    * prune at the directory level (PartitionFilters), candidate rows
    * carry only (id, codes) — the stored codes rank AS-IS, never
    * re-quantized and never re-assigned. Results are identical to
    * [[ivfQuantTopK]] over the full corpus (gate-pinned via the
    * shared oracle).
    */
  def quantCellLayoutTopK(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      model: IvfModel,
      k: Int,
      nProbe: Int = 2,
      maxBroadcastBytes: Long = 256L << 20): DataFrame = {
    val cells = probes
      .select(explode(probeCentroids(col(vecCol).cast("array<double>"), model, nProbe)).as("c"))
      .distinct().collect().map(_.getInt(0))
    val qCorpus = spark.read.parquet(path)
      .where(col("centroid_id").isin(cells.map(x => x: Any): _*))
      .select(col(idCol).as("neighbor_id"),
        col("centroid_id").cast("int").as("centroid_id"), col("codes").as("__cq"))
    quantRank(qCorpus, probes, idCol, vecCol, model, k, nProbe, maxBroadcastBytes)
  }

  // ===== distributed Lloyd refinement =====

  /** The distributed half of one Lloyd iteration: per-(cell, dim)
    * assignment sums over the FULL corpus, with each component
    * quantized to `round(x * quantScale)` BEFORE summation. Quantized
    * sums are exact integers, so the result is independent of
    * partition count and combine order — what makes this shape both
    * exactly gateable against a single-threaded oracle and
    * bit-reproducible across cluster layouts. The aggregate tree is
    * the scale story: posexplode fans each vector into d rows of
    * (int, int, long) and the partial aggregation collapses them to
    * k·d rows per partition before the exchange — shuffle volume is
    * k·d·partitions regardless of corpus size, the same contraction
    * MLlib's trainKMeans gets from per-partition accumulators.
    */
  def refineCellSums(
      df: DataFrame,
      vecCol: String,
      model: IvfModel,
      quantScale: Long = 10000L): DataFrame =
    df.select(col(vecCol).cast("array<double>").as("__v"))
      .where(col("__v").isNotNull && size(col("__v")) > 0)
      .withColumn("centroid_id",
        element_at(nearestCentroids(col("__v"), model, 1), 1))
      .select(col("centroid_id"), posexplode(col("__v")).as(Seq("dim", "x")))
      .groupBy(col("centroid_id"), col("dim"))
      .agg(
        sum(round(col("x") * quantScale).cast("long")).as("sum_q"),
        count(lit(1)).as("n_assigned"))

  /** `iters` full-corpus Lloyd iterations refining a (typically
    * sample-trained) model: assign every vector to its nearest
    * centroid, recompute each centroid as its cell's mean, optionally
    * re-normalize to unit length (spherical — keep this matching the
    * flag the model was trained with). Cells that attract no vectors
    * keep their previous centroid.
    *
    * This is THE scale path [[train]]'s bounded driver-side sample
    * leaves open: at 100 TB the sample fixes k and the rough layout,
    * and one refine pass (a scan + the k·d-row aggregate of
    * [[refineCellSums]]'s shape, in full double precision here)
    * re-centers the cells on the true data distribution. The collect
    * is k·d doubles — model-sized, not data-sized.
    */
  def refine(
      df: DataFrame,
      vecCol: String,
      model: IvfModel,
      iters: Int = 1,
      spherical: Boolean = true): IvfModel = {
    var m = model
    for (_ <- 0 until iters) {
      val rows = df.select(col(vecCol).cast("array<double>").as("__v"))
        .where(col("__v").isNotNull && size(col("__v")) > 0)
        .withColumn("centroid_id",
          element_at(nearestCentroids(col("__v"), m, 1), 1))
        .select(col("centroid_id"), posexplode(col("__v")).as(Seq("dim", "x")))
        .groupBy(col("centroid_id"), col("dim"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
      val sums = Array.fill(m.k)(Array.ofDim[Double](m.centroids.head.length))
      // counts are per (centroid, dim), not per centroid: with
      // ragged-length vectors in one cell the per-dim n differs, and
      // a single per-cell count would divide every dim by whichever
      // (c, d) group collect() happened to return last — silently
      // wrong, shuffle-order-dependent means
      val counts = Array.fill(m.k)(Array.ofDim[Long](m.centroids.head.length))
      rows.foreach { r =>
        val c = r.getInt(0); val d = r.getInt(1)
        if (c >= 0 && c < m.k && d < sums(c).length) {
          sums(c)(d) = r.getDouble(2)
          counts(c)(d) = r.getLong(3)
        }
      }
      val next = m.centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c).forall(_ == 0L)) old.clone()
        else {
          val mean = Array.tabulate(old.length) { d =>
            if (counts(c)(d) > 0L) sums(c)(d) / counts(c)(d) else 0.0
          }
          if (spherical) {
            val n = math.sqrt(mean.map(x => x * x).sum)
            if (n > 0) mean.map(_ / n) else mean
          } else mean
        }
      }
      m = IvfModel(next)
    }
    m
  }

  /** Persist the trained quantizer as a tiny parquet artifact — one
    * row per (centroid_id, dim, value). Train-once / assign-forever is
    * the production IVF lifecycle: the index that bucketed 100 TB of
    * vectors must be the EXACT model every later batch, probe, and
    * refinement round loads, or cell ids silently disagree across
    * runs. Doubles round-trip parquet bit-exactly, so
    * `loadModel(saveModel(m)) == m` (spec-pinned) and every dynamic
    * oracle built from the trained centroids stays valid for the
    * loaded ones. k·d rows ≈ KBs — a model artifact, not data.
    */
  def saveModel(model: IvfModel, path: String)(spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    // k and dims ride on every row: a torn artifact that loses ALL of
    // a trailing centroid's (or dim's) rows would otherwise still
    // satisfy a max-id-derived completeness check — the declared
    // shape makes loadModel's census independent of which rows survive
    val k = model.centroids.length
    val dims = model.centroids.headOption.map(_.length).getOrElse(0)
    model.centroids.zipWithIndex.flatMap { case (c, i) =>
      c.zipWithIndex.map { case (v, d) => (i, d, v, k, dims) }
    }.toSeq.toDF("centroid_id", "dim", "value", "k", "dims")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveModel]] artifact; centroid and dimension order are
    * restored from the explicit (centroid_id, dim) keys, never from
    * row order. The collect is model-sized (k·d doubles). A sparse or
    * torn artifact (missing or duplicated cells from a partial write)
    * fails LOUDLY here — silently zero-filling a missing cell would
    * build a plausible-looking model whose cell assignments disagree
    * with every artifact written before the corruption.
    */
  def loadModel(spark: org.apache.spark.sql.SparkSession, path: String): IvfModel = {
    val df = spark.read.parquet(path)
    require(Seq("k", "dims").forall(df.columns.contains),
      s"IVF model artifact at $path predates the declared-shape format " +
        "(no k/dims columns) — regenerate it with saveModel; loading by " +
        "max-surviving-id cannot distinguish a torn artifact from a smaller model")
    val rows = df.select("centroid_id", "dim", "value", "k", "dims").collect()
    require(rows.nonEmpty, s"empty IVF model artifact at $path")
    // the DECLARED shape, not max-of-surviving-ids: losing every row
    // of the last centroid must read as torn, not as a smaller model
    val k = rows.head.getInt(3)
    val dims = rows.head.getInt(4)
    require(k > 0 && dims > 0, s"corrupt IVF model artifact at $path (k=$k dims=$dims)")
    require(rows.length == k.toLong * dims,
      s"torn IVF model artifact at $path: ${rows.length} cells for the declared $k x $dims model " +
        s"(expected ${k.toLong * dims}) — refusing to zero-fill missing centroid entries")
    val cents = Array.fill(k)(Array.ofDim[Double](dims))
    val seen = new java.util.HashSet[Long](rows.length * 2)
    rows.foreach { r =>
      val c = r.getInt(0); val d = r.getInt(1)
      require(r.getInt(3) == k && r.getInt(4) == dims,
        s"inconsistent declared shape in IVF model artifact at $path")
      require(c >= 0 && c < k && d >= 0 && d < dims,
        s"cell (centroid_id=$c, dim=$d) outside the declared $k x $dims model at $path")
      require(seen.add(c.toLong * dims + d),
        s"duplicate cell (centroid_id=$c, dim=$d) in IVF model artifact at $path")
      cents(c)(d) = r.getDouble(2)
    }
    IvfModel(cents)
  }
}
