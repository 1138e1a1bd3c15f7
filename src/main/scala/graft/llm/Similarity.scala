package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Native

/** Similarity search over an embedding column (array<float>).
  *
  * Two paths, as a production pipeline needs both:
  *  - brute-force cosine top-k — the exact baseline. Spark compiles
  *    orderBy(desc).limit(k) to TakeOrderedAndProject (per-partition
  *    heap + driver merge of k rows), so even the "brute" path never
  *    materializes a global sort at 100 TB;
  *  - LSH-bucketed ANN — random-hyperplane signatures, candidates met
  *    via bucket join only. Deterministic planes (seeded), no
  *    cartesian product in the plan.
  *
  * All arithmetic in double via zip_with/aggregate — codegen'd, no
  * UDFs.
  */
object Similarity {

  /** Elementwise dot product of two array<double> columns. Sequential
    * left-to-right fold → deterministic result.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Composed cosine. The operators below rank with the fused native
    * `Native.cosine` (one codegen'd loop, no intermediate arrays),
    * bit-identical to this form.
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Exact top-k by cosine against ONE probe vector, identified by id
    * — the probe row is fetched via broadcast self-join, not collect,
    * so the plan stays fully distributed.
    */
  def cosineTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      probeId: Long,
      k: Int): DataFrame = {
    val probe = df.where(col(idCol) === probeId)
      .select(asDouble(col(vecCol)).as("__probe"))
    df.crossJoin(broadcast(probe))
      .withColumn("sim", Native.cosine(asDouble(col(vecCol)), col("__probe")))
      .select(col(idCol), col("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** "Probes are small" is enforced, not assumed: broadcast the probe
    * side only while the optimizer's size estimate stays under the
    * cap. Plan-stats only — no eager job, no double execution of the
    * probe lineage. Past the cap the frame returns unhinted, and the
    * planner/AQE pick the strategy from real stats instead of OOMing
    * the driver on a forced broadcast. (Stats over-estimate filtered
    * reads, so the fallback errs toward NOT broadcasting — safe.)
    */
  private[llm] def maybeBroadcast(df: DataFrame, maxBytes: Long): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= maxBytes) broadcast(df) else df

  /** Exact k-NN join: top-k neighbours for every probe row (small
    * probe set broadcast against the corpus; per-probe ranking via
    * window). Brute baseline for the ANN path. Probe sets estimated
    * above `maxBroadcastBytes` are joined unhinted (see
    * [[maybeBroadcast]]) — but at that size prefer [[annTopK]] /
    * [[graft.llm.Ivf]].
    */
  def knnJoin(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      maxBroadcastBytes: Long = 256L << 20): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), asDouble(col(vecCol)).as("__pv"))
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("__cv"))
      .crossJoin(maybeBroadcast(p, maxBroadcastBytes))
      .withColumn("sim", Native.cosine(col("__cv"), col("__pv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("sim"), col("__rn").as("rank"))
  }

  /** Contrastive-pair mining for embedding-model training: for each
    * anchor, the `posK` nearest non-self vectors as positives and the
    * rank band [`negLo`, `negHi`] as HARD negatives — close enough to
    * be informative, far enough to be wrong, the standard
    * hard-negative recipe (dense-retrieval training à la DPR/ANCE
    * mines negatives from top retrieval ranks past the positives).
    * Rank-band selection (not a similarity threshold) keeps the
    * output deterministic and non-degenerate whatever the corpus's
    * similarity distribution.
    *
    * Output: (anchor_id, pair_id, role 'pos'|'neg', sim, rank) —
    * ready to group into per-anchor training tuples.
    *
    * Scale shape = [[knnJoin]]'s: anchors are the small mined-batch
    * side (broadcast), the corpus streams through once, and the
    * per-anchor rank-and-filter keeps ≤ negHi rows per anchor into
    * downstream stages. For corpus-scale anchor sets, run the same
    * band selection per-IVF-cell ([[graft.llm.Ivf]]) instead of
    * broadcast-vs-all.
    */
  def contrastivePairs(
      corpus: DataFrame,
      anchors: DataFrame,
      idCol: String,
      vecCol: String,
      posK: Int = 1,
      negLo: Int = 20,
      negHi: Int = 24,
      maxBroadcastBytes: Long = 256L << 20): DataFrame = {
    require(posK < negLo && negLo <= negHi, s"bad rank bands ($posK, $negLo, $negHi)")
    val a = anchors.select(col(idCol).as("anchor_id"), asDouble(col(vecCol)).as("__av"))
    val scored = corpus
      .select(col(idCol).as("pair_id"), asDouble(col(vecCol)).as("__cv"))
      .crossJoin(maybeBroadcast(a, maxBroadcastBytes))
      .where(col("pair_id") =!= col("anchor_id"))
      .withColumn("sim", Native.cosine(col("__cv"), col("__av")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_id")).orderBy(col("sim").desc, col("pair_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= posK || col("__rn").between(negLo, negHi))
      .select(
        col("anchor_id"), col("pair_id"),
        when(col("__rn") <= posK, "pos").otherwise("neg").as("role"),
        col("sim"), col("__rn").as("rank"))
  }

  /** Deterministic random hyperplanes: `nPlanes` sign vectors of
    * dimension `dim`, seeded — reproducible across runs/clusters.
    */
  def hyperplanes(dim: Int, nPlanes: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** Sign-LSH bucket id: bit p = (v · plane_p) > 0, packed to a long.
    * Nearby vectors (cosine) collide with high probability.
    */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column = {
    val dim = planes.head.length
    // the per-plane dot runs nPlanes× per corpus AND probe row — the
    // signature builder's hot loop. [[graft.functions.DotProduct]] is
    // bit-identical to the composed form (identical ascending-index
    // double accumulation, ArrayFnsSpec pin) and codegen'd; the
    // composed zip_with+aggregate pair evaluated interpreted per
    // element here (r19 §4).
    val bits: Seq[Column] = planes.zipWithIndex.map { case (plane, p) =>
      val planeCol = array(plane.map(lit): _*)
      when(Native.dot(vec, planeCol) > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    // loud guard: a vector shorter/longer than the planes nulls every
    // hyperplane dot (zip_with pads with null), every when() falls to
    // otherwise(0) — ALL rows silently collapse into bucket 0 and the
    // "bucketed join, no cartesian" contract degrades to N² in one
    // bucket. Fail on the first row instead. A NULL vector is not a
    // wrong-width vector: it buckets to null (equi-joins drop it, so
    // the row can never be a candidate — the same survivor outcome the
    // pre-guard code reached via a null cosine), rather than killing
    // the whole job over one degraded row.
    when(vec.isNull, lit(null).cast("long"))
      .when(size(vec) === dim, bits.reduce(_ bitwiseOR _))
      .otherwise(raise_error(concat(
        lit("lshBucket: vector length "), size(vec).cast("string"),
        lit(s" != hyperplane dim $dim — pass dim=<your embedding width> " +
          "or every row would silently land in bucket 0"))))
  }

  /** The probe-side bucket list: the vector's own bucket plus, when
    * `multiProbe` is on, every Hamming-1 neighbour bucket (flip each
    * plane bit). A near-neighbour separated by exactly one hyperplane
    * — the dominant miss mode — is then still found, at the cost of
    * (nPlanes+1)× probe-side rows (probes are the small side).
    */
  private def probeBuckets(bucket: Column, nPlanes: Int, multiProbe: Boolean): Column =
    if (!multiProbe) array(bucket)
    else array(bucket +: (0 until nPlanes).map(i => bucket.bitwiseXOR(lit(1L << i))): _*)

  /** ANN top-k: probes and corpus are bucketed by sign-LSH; candidates
    * meet via an equi-join on the bucket id, then exact cosine ranks
    * within candidates. Trades recall for never scanning the full
    * corpus per probe — the scale path. Lower `nPlanes` → bigger
    * buckets → higher recall and cost; `multiProbe` probes all
    * Hamming-1 buckets too (standard multi-probe LSH).
    */
  def annTopK(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nPlanes: Int = 8,
      dim: Int = 64,
      seed: Long = 42L,
      multiProbe: Boolean = true): DataFrame = {
    val planes = hyperplanes(dim, nPlanes, seed)
    val c = corpus.select(
      col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("__cv"),
      lshBucket(asDouble(col(vecCol)), planes).as("__bucket"))
    val p = probes.select(
      col(idCol).as("probe_id"), asDouble(col(vecCol)).as("__pv"),
      explode(probeBuckets(lshBucket(asDouble(col(vecCol)), planes), nPlanes, multiProbe))
        .as("__bucket"))
    val scored = c.join(p, Seq("__bucket"))
      // a pair can meet in several probed buckets — dedupe candidates
      // before ranking
      .dropDuplicates("probe_id", "neighbor_id")
      .withColumn("sim", Native.cosine(col("__cv"), col("__pv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("sim"), col("__rn").as("rank"))
  }

  /** Embedding-cosine near-duplicate pairs: bucket join + threshold —
    * the embedding-space analogue of Dedup.nearDupPairs.
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      nPlanes: Int = 8,
      dim: Int = 64,
      seed: Long = 42L,
      multiProbe: Boolean = true): DataFrame = {
    val planes = hyperplanes(dim, nPlanes, seed)
    val b = df.select(
      col(idCol), asDouble(col(vecCol)).as("__v"),
      lshBucket(asDouble(col(vecCol)), planes).as("__bucket"))
    // multi-probe one side only: a pair split by exactly one
    // hyperplane still meets, without squaring the fan-out
    val l = b.select(col(idCol), col("__v"),
      explode(probeBuckets(col("__bucket"), nPlanes, multiProbe)).as("__bucket"))
      .toDF("id_a", "va", "__bucket")
    val r = b.toDF("id_b", "vb", "__bucket")
    l.join(r, Seq("__bucket"))
      .where(col("id_a") < col("id_b"))
      .withColumn("sim", Native.cosine(col("va"), col("vb")))
      .where(col("sim") >= threshold)
      .select("id_a", "id_b", "sim").distinct()
  }

  /** SemDeDup (Abbas et al. 2023, public): semantic deduplication
    * scoped to k-means cells. Every vector is assigned to its nearest
    * [[Ivf]] centroid; within each cell, a row is dropped iff a
    * LOWER-id row in the SAME cell has cosine ≥ `threshold` to it
    * (the keep-lowest rule [[Dedup.nearDedup]] uses). Output: the
    * surviving rows as (idCol, centroid_id).
    *
    * This is the published recipe's shape and ITS scale contract:
    * pairs are only ever formed inside a cell (an equi-join on
    * centroid_id — never an all-pairs product), so cost is
    * Σ|cell|² instead of N², and the k-means training behind the
    * cells is the bounded-sample [[Ivf.train]] path. The difference
    * vs [[embeddingNearDupPairs]] is the candidate generator:
    * LSH buckets recall pairs that agree on random hyperplanes;
    * SemDeDup's cells follow the corpus's own density, the reason the
    * paper prefers it for pruning semantically redundant web data.
    * Like the paper, near-duplicates straddling a cell boundary are
    * (deliberately) not candidates.
    *
    * Skew hardening: Σ|cell|² is quadratic in the LARGEST cell, and a
    * web corpus's densest topic can be a double-digit share of it.
    * `subBucketPlanes > 0` additionally requires pairs to share a
    * sign-LSH bucket INSIDE the cell, splitting a hot cell's pair
    * count by ~2^planes. Recall guard: with `multiProbe` (default)
    * one side also probes every Hamming-1 bucket, so a near-dup pair
    * split by exactly one hyperplane — the dominant miss mode at
    * high cosine — still meets ([[embeddingNearDupPairs]]'
    * discipline); the residual ≥2-plane misses are the documented
    * trade for the quadratic cap.
    */
  def semDedupKeep(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      model: Ivf.IvfModel,
      threshold: Double,
      subBucketPlanes: Int = 0,
      seed: Long = 42L,
      multiProbe: Boolean = true): DataFrame = {
    // materialize the nearest-centroid assignment ONCE (localCheckpoint,
    // the incrementalNearDedup discipline — blocks release on GC): the
    // join reads it from both sides and the final anti-join a third
    // time; each lazy reference would re-run the k-centroids-by-dim
    // dot-product scan, the expensive stage of the whole operator
    val assigned = Ivf.assign(df, idCol, vecCol, model)
      .select(col(idCol), col("centroid_id"), asDouble(col(vecCol)).as("__v"))
      .localCheckpoint()
    val (l, r, joinKeys) =
      if (subBucketPlanes <= 0) (
        assigned.select(col("centroid_id"), col(idCol).as("__id_a"),
          col("__v").as("__va")),
        assigned.select(col("centroid_id"), col(idCol).as("__id_b"),
          col("__v").as("__vb")),
        Seq("centroid_id"))
      else {
        // plane dim comes from the model — a mismatched explicit dim
        // would null out every hyperplane dot (zip_with pads with
        // null) and silently collapse all rows into bucket 0,
        // disabling the quadratic cap this option exists for
        val planes = hyperplanes(model.centroids.head.length, subBucketPlanes, seed)
        val b = lshBucket(col("__v"), planes)
        (assigned.select(col("centroid_id"), col(idCol).as("__id_a"),
          col("__v").as("__va"),
          explode(probeBuckets(b, subBucketPlanes, multiProbe)).as("__bucket")),
          assigned.select(col("centroid_id"), col(idCol).as("__id_b"),
            col("__v").as("__vb"), b.as("__bucket")),
          Seq("centroid_id", "__bucket"))
      }
    val drops = l.join(r, joinKeys)
      .where(col("__id_a") < col("__id_b"))
      .where(Native.cosine(col("__va"), col("__vb")) >= threshold)
      .select(col("__id_b").as(idCol)).distinct()
    assigned.select(col(idCol), col("centroid_id"))
      .join(drops, Seq(idCol), "left_anti")
  }

  /** Per-cell label purity — the clustering-quality dashboard row:
    * for every IVF cell, its size, majority label (ties to the
    * lowest), and purity = majority share. Low-purity cells are where
    * [[labelConsistencyAudit]]'s review queue concentrates and where
    * a quantizer retrain ([[graft.llm.Ivf.refine]]) pays. One
    * assignment pass + a (cell, label)-keyed aggregation — counts
    * only, engine-exact.
    */
  def cellPurity(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      model: graft.llm.Ivf.IvfModel): DataFrame = {
    val counts = graft.llm.Ivf.assign(df, idCol, vecCol, model)
      .join(df.select(col(idCol), col(labelCol)), Seq(idCol))
      .groupBy(col("centroid_id"), col(labelCol).as("__l"))
      .agg(count(lit(1)).as("__n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("centroid_id")).orderBy(col("__n").desc, col("__l").asc)
    counts
      .withColumn("__rn", row_number().over(w))
      .withColumn("n_vectors", sum(col("__n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("centroid_id"))))
      .where(col("__rn") === 1)
      .select(
        col("centroid_id"),
        col("n_vectors"),
        col("__l").as("majority_label"),
        col("__n").as("n_majority"),
        (col("__n").cast("double") / col("n_vectors")).as("purity"))
  }

  /** k-NN label-consistency audit — embedding-space mislabel
    * detection (the confident-learning signal at corpus scale): each
    * vector's label is compared against the majority label of its k
    * nearest SAME-CELL neighbors; `consistent = false` rows are the
    * review queue. Neighborhoods come from the IVF cell equi-join
    * (cost Σ|cell|², the SemDeDup budget — never the N² of a
    * corpus-wide kNN), which is the honest 100 TB shape: a mislabeled
    * point's nearest neighbors are inside its cell by construction.
    * Vote ties break to the LOWEST label id; vectors alone in their
    * cell report a null `knn_label`, 0 votes, consistent = false (no
    * evidence ≠ confirmation).
    */
  def labelConsistencyAudit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      model: graft.llm.Ivf.IvfModel,
      k: Int = 5): DataFrame = {
    // rank within (cell-mates minus self); taking ivfTopK's top-(k+1)
    // first bounds the re-ranked set, and dropping self then
    // re-ranking equals ranking with self excluded outright (self
    // occupies at most one of the k+1 slots)
    val knn = graft.llm.Ivf.ivfTopK(df, df, idCol, vecCol, model, k = k + 1, nProbe = 1)
      .where(col("neighbor_id") =!= col("probe_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("sim").desc, col("neighbor_id").asc)
    val topk = knn.withColumn("__rn", row_number().over(w)).where(col("__rn") <= k)
    val votes = topk
      .join(df.select(col(idCol).as("neighbor_id"), col(labelCol).as("__nl")), Seq("neighbor_id"))
      .groupBy(col("probe_id"), col("__nl"))
      .agg(count(lit(1)).as("__n"))
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("__n").desc, col("__nl").asc)
    val majority = votes.withColumn("__rv", row_number().over(wv)).where(col("__rv") === 1)
      .select(col("probe_id").as(idCol), col("__nl").as("knn_label"), col("__n").as("n_votes"))
    df.select(col(idCol), col(labelCol))
      .join(majority, Seq(idCol), "left")
      .select(
        col(idCol), col(labelCol),
        col("knn_label"),
        coalesce(col("n_votes"), lit(0L)).as("n_votes"),
        coalesce(col(labelCol) === col("knn_label"), lit(false)).as("consistent"))
  }
}
