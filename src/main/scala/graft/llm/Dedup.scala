package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Native

/** Deduplication operators for training-data pipelines: exact,
  * MinHash-LSH near-dup, SimHash, and n-gram Jaccard verification.
  *
  * Scale design (the point at 100 TB):
  *  - exact dedup shuffles 32-char digests, never full documents;
  *  - near-dup candidate generation is a BUCKETED self-join on
  *    (band, band_hash) — never an all-pairs cross product; the plan
  *    must not contain a CartesianProduct for any input size;
  *  - all hashing is deterministic (xxhash64/md5), so results are
  *    reproducible across runs and cluster layouts.
  */
object Dedup {

  // ===== exact =====

  /** Keep the first row (lowest `idCol`) of each exact-duplicate text
    * group. Partitions by md5(text) so the shuffle key is 32 chars
    * regardless of document size (md5 collisions are ~2^-64 — noted,
    * accepted).
    */
  def exactDedup(textCol: String, idCol: String)(df: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Per-content-digest stats: group size + surviving (min) id. */
  def exactDedupStats(textCol: String, idCol: String)(df: DataFrame): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_md5"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))

  /** Incremental dedup — the steady-state ingest shape: keep only the
    * rows of `batch` whose content does not already exist in `store`
    * (the accumulated corpus). A LEFT ANTI join on the md5 digest, so
    * the shuffle carries 32-char keys from the batch and the store's
    * DISTINCT digests (the store side reduces to its digest set via
    * partial aggregation before the join — document bodies never
    * move). Re-running the same batch is idempotent: everything is
    * already in the store, nothing survives.
    *
    * At 100 TB the store side is the big one; a production deployment
    * persists the digest set once (a 16-byte-per-doc table, bucketed
    * by digest via [[graft.io.Bucketing]]) instead of re-digesting
    * the corpus per batch — this operator is the join itself, and
    * accepts either the raw store or its pre-computed digest column.
    */
  def incrementalDedup(
      textCol: String,
      batch: DataFrame,
      store: DataFrame): DataFrame = {
    val storeDigests = store.select(md5(col(textCol)).as("__digest")).distinct()
    // null-SAFE digest match: md5(NULL) is NULL on both sides, and a
    // null-unsafe anti-join would re-ingest NULL-text rows on every
    // replay — breaking the idempotency contract exactDedup honors
    // (it groups NULL digests together)
    batch.join(storeDigests, md5(batch(textCol)) <=> storeDigests("__digest"), "left_anti")
  }

  // ===== shingles + MinHash-LSH =====

  /** Word k-shingles as an array<string> column.
    *
    * Built with zip_with over (k-1) shifted slices rather than a
    * transform-with-index: a lambda body that references the token
    * array re-evaluates split() once per ELEMENT (measured 5s for
    * 260k shingles at sf0.1), while zip_with's array arguments are
    * evaluated once per ROW. Shifted copies run past the end, so the
    * zip pads with null and concat null-propagates — the trailing
    * nulls are filtered off.
    */
  def shingles(textCol: String, k: Int = 3): Column = shinglesOf(col(textCol), k)

  /** [[shingles]] over an arbitrary text EXPRESSION — for call sites
    * that must pre-process the text (e.g. `coalesce(text, '')` so a
    * NULL text yields one empty gram instead of a NULL array that
    * explodes to nothing and null-poisons `arrays_overlap`).
    */
  def shinglesOf(text: Column, k: Int = 3): Column =
    // ONE native pass ([[graft.functions.WordShingles]]) in place of
    // the k−1 interpreted zip_with frames below — shingle windows are
    // byte spans of the original text (split on one char + rejoin
    // with it is the identity), so emission is pure slicing. Output
    // is bit-identical (LlmSpec parity pin; every shingle consumer's
    // oracle hash-gates it).
    Native.shingles(text, k)

  /** MinHash signature as a single expression: `numPerm` permutations
    * approximated by seeding xxhash64 with the permutation index
    * (standard one-hash-family construction). Returns array<bigint>.
    *
    * NOTE: fine for single-column use, but do NOT feed this into an
    * explode — the optimizer inlines it into the Generate and
    * re-evaluates the whole signature per generated row. The pipeline
    * path is [[minhashSignatures]].
    */
  def minhashSignature(sh: Column, numPerm: Int = 64): Column =
    transform(
      sequence(lit(0), lit(numPerm - 1)),
      p => array_min(transform(sh, s => xxhash64(p, s))))

  /** MinHash signatures via shingle-explode + partial aggregation —
    * the scale path: one hash pass over (doc, shingle) rows, the
    * numPerm mins combine map-side before the per-doc shuffle, and
    * the Aggregate is an optimizer barrier so downstream band
    * explosion cannot re-inline the signature computation (which cost
    * a measured 30× slowdown in the expression-only form).
    *
    * Persists nothing (the allPairsJaccard rule: a lazily returned
    * frame could never unpersist its cache). Consumers in one plan —
    * the candidate self-join's probe and build sides — share the
    * aggregate's shuffle through exchange reuse, so the shingle+hash
    * pass runs once.
    */
  def minhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numPerm: Int = 64,
      shingleK: Int = 3): DataFrame = {
    val sh = df.select(col(idCol),
      explode(array_distinct(shingles(textCol, shingleK))).as("__sh"))
    // graft_minhash (functions/MinHashAgg.scala): one xxhash64 per
    // shingle + numPerm linear permutations in a single compact
    // aggregate buffer — vs numPerm separate min() aggs each
    // re-hashing the string
    sh.groupBy(col(idCol))
      .agg(Native.minhash(col("__sh"), numPerm).as("__sig"))
  }

  /** Band hashes of a signature as an array<bigint> column: the
    * signature splits into `bands` bands of numPerm/bands rows, each
    * hashed with xxhash64 over its slice. Shared by the batch LSH
    * index ([[lshBands]]) and the streaming band join
    * ([[graft.streaming.StreamingIngest.streamingNearDupPairs]]) so
    * both paths bucket identically.
    */
  private[graft] def bandHashes(sig: Column, numPerm: Int, bands: Int): Column = {
    require(numPerm % bands == 0, s"bands ($bands) must divide numPerm ($numPerm)")
    val rows = numPerm / bands
    // ONE native loop ([[graft.functions.BandHashes]]) in place of the
    // interpreted per-band transform lambda (the parity reference in
    // LlmSpec and ArrayFnsSpec) — the last interpreted HOF in the
    // minhash chain after r18 went native on shingles and signatures
    // (r19 §4; LlmSpec parity pin, every banded consumer's candidate
    // set is oracle-gated downstream).
    Native.bandHashes(sig, bands, rows)
  }

  /** (doc, band, band_hash) exploded rows: the LSH index. Signature is
    * split into `bands` bands of numPerm/bands rows; a band's hash is
    * xxhash64 over its slice. Two docs sharing ANY band hash become a
    * candidate pair.
    */
  def lshBands(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numPerm: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3): DataFrame = {
    minhashSignatures(df, idCol, textCol, numPerm, shingleK)
      .select(col(idCol), posexplode(bandHashes(col("__sig"), numPerm, bands))
        .as(Seq("band", "band_hash")))
  }

  /** Candidate near-dup pairs via the banded self-join — the scale
    * path: shuffle on (band, band_hash), join within buckets only.
    * Result: (id_a, id_b) with id_a < id_b, distinct.
    */
  def minhashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numPerm: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3): DataFrame = {
    val b = lshBands(df, idCol, textCol, numPerm, bands, shingleK)
    val l = b.toDF("id_a", "band", "band_hash")
    val r = b.toDF("id_b", "band", "band_hash")
    // Unhinted: AQE picks broadcast at small scale and sort-merge at
    // corpus scale from real size stats. Both sides read the one
    // signature aggregate's shuffle (ReusedExchange), so the
    // shingle+hash pass runs once; forcing a shuffle join for
    // exchange reuse of the band rows as well measured slower.
    l.join(r, Seq("band", "band_hash"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact n-gram Jaccard for given pairs — the verification stage
    * after LSH candidate generation (never run all-pairs). `pairs`
    * must have columns (id_a, id_b).
    */
  def ngramJaccard(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3): DataFrame = {
    // shingle only the docs that appear in a candidate pair — after
    // LSH that's a small fraction of the corpus, so the two
    // verification joins don't re-shingle everything (the corpus-wide
    // pass happened once, inside the signatures).
    val candIds = pairs.select(col("id_a").as(idCol))
      .union(pairs.select(col("id_b").as(idCol))).distinct()
    val sh = docs.join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol), array_distinct(shingles(textCol, shingleK)).as("sh"))
    pairs
      .join(sh.toDF("id_a", "sh_a"), "id_a")
      .join(sh.toDF("id_b", "sh_b"), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .select("id_a", "id_b", "jaccard")
  }

  /** EXACT all-pairs shingle Jaccard above `minJaccard`, via the
    * inverted index: a pair can only have |A∩B| ≥ 1 if it shares a
    * shingle, so the self-join on the (doc, shingle) posting list
    * enumerates exactly the pairs with non-empty intersection and
    * counts |A∩B| in the same pass; |A∪B| = |A|+|B|−|A∩B| from the
    * per-doc distinct-shingle counts.
    *
    * This is the AUDIT path, not the dedup path: cost is
    * Σ_s df(s)² over shingle document-frequencies — exact and
    * shuffle-bounded (never a cartesian over docs), but a corpus
    * with hot shingles (boilerplate headers) makes those posting
    * lists quadratic. Use it to validate LSH banding assumptions on
    * a sample; at 100 TB the recall path is [[nearDupPairs]].
    *
    * `maxDocFreq` is the boilerplate guard (same cap as
    * [[kgramDupPairs]]): shingles appearing in more than `cap` docs
    * are dropped from the posting list BEFORE the self-join, bounding
    * every df(s) term at cap². With a cap, jaccard is computed over
    * the kept-shingle universe (both |A∩B| and |A∪B| exclude dropped
    * shingles — the boilerplate-filtered similarity, which is usually
    * the better audit signal anyway); when no shingle exceeds the
    * cap, the output is identical to the uncapped run (spec-pinned).
    */
  def allPairsJaccard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double,
      shingleK: Int = 3,
      maxDocFreq: Option[Int] = None): DataFrame = {
    // ONE explode, materialized per invocation (localCheckpoint — the
    // mm_neardup_pairs digest-table discipline): the lazy formulation
    // this replaced inlined the shingle explode into EVERY consumer —
    // 8 Generate nodes in the capped plan (cap agg + semi-join + the
    // two self-join sides + both size joins each re-derived it) plus
    // a broadcast of the corpus-shingle-sized posting list for the
    // self-join, which is exactly the relation that must NEVER be
    // broadcast at 100 TB. Now: the df cap is a window count over the
    // __sh shuffle (bit-identical keep set — count per shingle,
    // filter <= cap), the uncapped face repartitions on __sh, and the
    // checkpoint retains that partitioning, so the self-join runs
    // exchange-free on co-partitioned inputs and the explode runs
    // once instead of eight times. Measured at sf0.1:
    // dedup_jaccard_audit_capped 4.4 -> see OPTIMIZATION_r18.md.
    // Per-invocation materialization only — recomputed from the
    // parquet inputs every call, freed with the RDD; never a
    // cross-run cache.
    val sh0 = df.select(col(idCol),
      explode(array_distinct(shingles(textCol, shingleK))).as("__sh"))
    val sh = (maxDocFreq match {
      case Some(cap) =>
        sh0.withColumn("__df", count(lit(1)).over(Window.partitionBy("__sh")))
          .where(col("__df") <= cap).select(col(idCol), col("__sh"))
      case None => sh0.repartition(col("__sh"))
    }).localCheckpoint()
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    val inter = sh.toDF("id_a", "__sh").join(sh.toDF("id_b", "__sh"), "__sh")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("__i"))
    inter
      .join(sizes.toDF("id_a", "__na"), "id_a")
      .join(sizes.toDF("id_b", "__nb"), "id_b")
      .withColumn("jaccard",
        col("__i").cast("double") / (col("__na") + col("__nb") - col("__i")))
      .where(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Near-dup THRESHOLD sensitivity curve — the tuning diagnostic a
    * pipeline runs (on a sample) before fixing the dedup threshold:
    * pairs from [[allPairsJaccard]] rolled into 0.1-wide jaccard
    * bands, each band with its pair count and the cumulative count of
    * pairs at-or-above it (`n_pairs_ge` — exactly "how many pairs
    * would a threshold of band_lo remove"). A curve that cliffs
    * between 0.7 and 0.8 says those thresholds behave very
    * differently on THIS corpus; a flat stretch says the choice is
    * insensitive there.
    *
    * Banding is `floor(10·j)/10` — one IEEE multiply + floor, so the
    * same double lands in the same band on any engine. The cumulative
    * window runs over ≤ 11 band rows (bounded single-partition state,
    * the SUMEQ class). Candidate generation inherits
    * [[allPairsJaccard]]'s shared-shingle budget — sample-sized
    * audits, [[nearDupPairs]] for the 100 TB recall path — including
    * its `maxDocFreq` boilerplate cap: with a cap the curve is the
    * boilerplate-filtered sensitivity curve (every df(s)² term
    * bounded at cap², flattening the Σdf² growth — measured in
    * SCALE.md), identical to the uncapped curve when no shingle
    * exceeds the cap (spec- and oracle-pinned).
    */
  def jaccardThresholdCurve(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double = 0.1,
      shingleK: Int = 3,
      maxDocFreq: Option[Int] = None): DataFrame = {
    val banded = allPairsJaccard(df, idCol, textCol, minJaccard, shingleK, maxDocFreq)
      .withColumn("band_lo", floor(col("jaccard") * 10) / 10)
      .groupBy("band_lo").agg(count(lit(1)).as("n_pairs"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("band_lo").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    banded.withColumn("n_pairs_ge", sum("n_pairs").over(w))
  }

  /** Full near-dup pipeline: LSH candidates → exact Jaccard filter.
    * Returns confirmed pairs (id_a < id_b, jaccard >= threshold).
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numPerm: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3): DataFrame = {
    // candidate pairs are consumed three times downstream (two semi-
    // join id unions + the verification join); all three read the
    // candidates' distinct exchange (ReusedExchange), so the LSH DAG
    // runs once without a persist the lazy result could never release
    val cands = minhashCandidates(df, idCol, textCol, numPerm, bands, shingleK)
    ngramJaccard(cands, df, idCol, textCol, shingleK)
      .where(col("jaccard") >= threshold)
  }

  /** Drop near-duplicates: remove every doc that appears as the
    * HIGHER id of a confirmed pair (keep-lowest policy; transitive
    * chains collapse to their minimum over repeated application —
    * single pass documented as the standard practical choice; use
    * [[nearDupClusters]] + keep-min-per-cluster when one pass must
    * collapse whole chains).
    */
  def nearDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numPerm: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3): DataFrame = {
    val drop = nearDupPairs(df, idCol, textCol, threshold, numPerm, bands, shingleK)
      .select(col("id_b").as(idCol)).distinct()
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Steady-state NEAR-dup ingest — the LSH twin of
    * [[incrementalDedup]] (which is exact-only): drop every batch
    * document with a confirmed near-duplicate in the accumulated
    * store, then near-dedup the survivors among themselves
    * (keep-lowest within the batch). Candidates come from
    * [[MinhashDecontam.minhashContamination]]'s cross-table banded
    * join — the store side streams through as band signatures, its
    * bodies shingle only for the collided sliver; the batch is the
    * small side by nature. Within-batch pairs are computed among
    * STORE-SURVIVORS only (a batch doc whose near-dup was already
    * dropped against the store does not shadow its own batch
    * near-dups) — the deterministic order an incremental pipeline
    * actually applies. Idempotent: re-offering an ingested batch
    * drops everything against the store.
    */
  def incrementalNearDedup(
      batch: DataFrame,
      store: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      numPerm: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3): DataFrame = {
    val hits = MinhashDecontam.minhashContamination(
      batch, store, idCol, textCol, threshold, numPerm, bands, shingleK)
    // materialize the store-survivors ONCE (localCheckpoint, the
    // nearDupClusters discipline — blocks release on GC): the
    // within-batch near-dedup references this frame three times
    // (signature pass, verification semi-join, final anti-join), and
    // each lazy reference would otherwise replan and re-execute the
    // whole cross-table contamination pipeline (~200 tree exchanges
    // in the un-checkpointed plan). A batch is bounded by nature —
    // this is the steady-state ingest shape, not a corpus persist.
    val survivors = batch.join(
      hits.select(col("train_id").as(idCol)).distinct(), Seq(idCol), "left_anti")
      .localCheckpoint()
    // SAME similarity measure as the cross-store pass: the tuned
    // numPerm/bands/shingleK must reach the within-batch stage too, or
    // the two stages silently apply different notions of "near"
    nearDedup(survivors, idCol, textCol, threshold, numPerm, bands, shingleK)
  }

  /** Connected components over a near-dup pair frame: every document
    * appearing in any pair is labeled with the MINIMUM doc id
    * reachable through the pair graph, so a transitive chain a~b~c
    * collapses to one cluster in a single call — closing the
    * keep-lowest policy's repeated-application trade-off. Keeping the
    * min id per cluster then dedups whole chains in one pass.
    *
    * Iterative min-label propagation WITH pointer jumping: each round
    * (1) sends every vertex's current label across the (symmetrized)
    * edge set and keeps the per-vertex min, then (2) relabels through
    * the label's own label (`label(v) ← label(label(v))`, valid
    * because labels are vertex ids and only decrease, so every label
    * has a row and `label(label(v)) ≤ label(v)`). The jump halves the
    * remaining chain length, so rounds needed = O(log diameter), not
    * diameter — the difference between 5 rounds and 20 on the
    * chain-shaped components entity-resolution blocks produce.
    * Labels decrease monotonically, so changed == 0 is a true
    * fixpoint; `maxIter` bounds pathology and the method THROWS
    * rather than silently returning a half-merged clustering.
    *
    * Each round's result is `localCheckpoint`ed, not merely cached:
    * the round's logical plan references the previous labels TWICE
    * (propagate + jump), so without lineage truncation the plan tree
    * doubles per round — exponential planning time and driver heap
    * by round ~20 (measured: the sf0.01 entity-resolution graph,
    * 1.7k edges, OOMed an 8 GB driver purely on plan growth).
    * Checkpointing pins each round to a constant-size LogicalRDD —
    * the standard iterative-Spark discipline (GraphX/GraphFrames
    * checkpoint on the same schedule for the same reason). Each
    * round is one shuffle on the id (bounded-width keys, never
    * bodies); convergence detection rides ALONG in the checkpointed
    * frame (the previous label is carried as a column through the
    * propagate aggregation, so "anything changed?" is a limit-1 scan
    * of already-materialized rows) instead of a separate
    * join-and-count job — on small-diameter graphs the fixpoint's
    * wall-clock is dominated by per-round JOB overhead, not data.
    * Together with single-pass edge construction (below) this took
    * er_groups from 10.2s to 5.1s median at sf0.1 (BENCHDIFF.md r11).
    *
    * The returned frame is materialized (localCheckpoint storage);
    * its blocks release when the frame is garbage-collected —
    * `.unpersist()` remains a harmless no-op for callers keeping the
    * old contract. On non-convergence intermediates are released
    * before the throw.
    *
    * Small-graph fast path: when the DISTINCT edge count is at most
    * `maxDriverEdges` (and ids are integral), the component labeling
    * runs as a driver-side union-find over the collected edge list —
    * the same explicit-cap-with-uniform-fallback design as
    * EntityRes's maxBlock. Near-dup graphs are small by construction
    * (near-dups are a thin slice of a deduplicated-upstream corpus;
    * 2M edges ≈ 32 MB on the driver), and the multi-job fixpoint's
    * per-round overhead dominates its wall-clock on exactly those
    * graphs (measured: er_groups 4.9s → 2.0s median at sf0.1). The
    * result is IDENTICAL — union-find roots are kept at the
    * component minimum, which is the fixpoint the label propagation
    * converges to. Past the cap (or for non-integral ids) the
    * distributed fixpoint runs unchanged; pass `maxDriverEdges = 0`
    * to force it.
    */
  def nearDupClusters(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 25,
      maxDriverEdges: Long = 2000000L): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val idType = pairs.schema(idA).dataType
    val integral = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType ||
      idType == org.apache.spark.sql.types.ShortType
    // one distinct pass over the (expensive) pair plan; both the
    // count gate and whichever labeling path runs read THIS frame,
    // so pair generation (blocked self-join + edit distance
    // upstream) executes once
    val undirected = pairs
      .select(col(idA).as("__a"), col(idB).as("__b"))
      .distinct().persist(MEMORY_AND_DISK)
    // one action decides the path AND fetches the edges: collect up
    // to cap+1 rows — a separate count() was a second full job over
    // the persisted frame on every clustering call (r19, guide §2.2:
    // per-job fixed cost is the term that grows under scale-out).
    // Over the cap, the partial collect is wasted but cap-bounded and
    // the distributed fixpoint below proceeds from the same persisted
    // frame.
    val lim = math.min(maxDriverEdges, (Int.MaxValue - 1).toLong).toInt
    val collected: Array[(Long, Long)] =
      if (integral) undirected
        .select(col("__a").cast("long"), col("__b").cast("long"))
        .limit(lim + 1).collect().map(r => (r.getLong(0), r.getLong(1)))
      else Array.empty
    if (integral && collected.nonEmpty && collected.length <= lim) {
      val spark = pairs.sparkSession
      import spark.implicits._
      undirected.unpersist()
      // union-find, roots pinned to the component minimum: union
      // attaches the LARGER root under the smaller, so after path
      // compression every root IS its component's min id — the exact
      // fixpoint of min-label propagation
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        if (!parent.containsKey(x0)) parent.put(x0, x0)
        var x = x0
        while (parent.get(x) != x) x = parent.get(x)
        var y = x0 // path compression
        while (parent.get(y) != y) { val p = parent.get(y); parent.put(y, x); y = p }
        x
      }
      collected.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val verts = parent.keySet().toArray(Array.empty[java.lang.Long])
      val out = verts.toSeq.map(v => (v.longValue, find(v.longValue)))
      return spark.createDataset(out).toDF("doc_id", "cluster_id")
        .select(col("doc_id").cast(idType).as("doc_id"),
          col("cluster_id").cast(idType).as("cluster_id"))
    }
    // both edge orientations from ONE pass over the persisted
    // undirected frame (explode of a 2-element array); a<b pairs are
    // unique, so the oriented rows need no second distinct
    val edges = undirected
      .select(explode(array(
        struct(col("__a").as("__src"), col("__b").as("__dst")),
        struct(col("__b").as("__src"), col("__a").as("__dst")))).as("__e"))
      .select(col("__e.__src").as("__src"), col("__e.__dst").as("__dst"))
      .persist(MEMORY_AND_DISK)
    var labels = edges.select(col("__src").as("doc_id"))
      .distinct().withColumn("cluster_id", col("doc_id"))
      .localCheckpoint(true)
    var it = 0
    var done = false
    while (!done && it < maxIter) {
      // own rows carry their current label as __old; edge-propagated
      // rows carry null. After the min-aggregation every doc_id keeps
      // exactly its previous label in __old (max ignores nulls, and a
      // doc_id always has its own row), so the change test needs no
      // join back against the previous round.
      val own = labels.select(col("doc_id"), col("cluster_id"),
        col("cluster_id").as("__old"))
      val viaEdges = edges
        .join(labels.select(col("doc_id").as("__src"), col("cluster_id")), "__src")
        .select(col("__dst").as("doc_id"), col("cluster_id"),
          lit(null).cast(labels.schema("cluster_id").dataType).as("__old"))
      val prop = own.unionByName(viaEdges)
        .groupBy("doc_id").agg(
          min("cluster_id").as("cluster_id"), max("__old").as("__old"))
      // pointer jump: follow the label one hop (inner join is safe —
      // a label is itself a vertex id, so it always has a labels row)
      val next = prop
        .join(prop.select(col("doc_id").as("__p"), col("cluster_id").as("__pc")),
          col("cluster_id") === col("__p"))
        .select(col("doc_id"), least(col("cluster_id"), col("__pc")).as("cluster_id"),
          col("__old"))
        .localCheckpoint(true)
      // limit-1 scan of the rows the checkpoint just materialized —
      // no shuffle, no second full job
      done = next.where(col("cluster_id") =!= col("__old")).isEmpty
      labels = next.select("doc_id", "cluster_id")
      it += 1
    }
    edges.unpersist()
    undirected.unpersist()
    require(done, s"nearDupClusters did not converge in $maxIter rounds — " +
      "component diameter exceeds the bound; raise maxIter or use star contraction")
    labels
  }

  /** Component-size distribution of the near-dup graph — the
    * dedup-graph health panel: one row per cluster size with the
    * number of components of that size, INCLUDING size-1 singletons
    * (documents in no confirmed pair). The number to alarm on is a
    * growing maximum — a giant component means boilerplate or a
    * template is chaining unrelated documents together, and keep-one-
    * per-cluster dedup is about to delete a corpus slice. Counts
    * only; the cluster labeling reuses [[nearDupClusters]]'s capped
    * fast path.
    */
  def clusterSizeHistogram(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5): DataFrame = {
    val clusters = nearDupClusters(nearDupPairs(df, idCol, textCol, threshold))
    val paired = clusters.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
    val nPaired = clusters.select(count(lit(1)).as("__n"))
    val nTotal = df.select(count(lit(1)).as("__t"))
    val singletons = nTotal.crossJoin(nPaired)
      .select(lit(1L).as("cluster_size"), (col("__t") - col("__n")).as("n_clusters"))
      .where(col("n_clusters") > 0)
    paired.unionByName(singletons)
      .groupBy("cluster_size").agg(sum("n_clusters").as("n_clusters"))
  }

  /** Triangle census of the near-dup pair graph, one row:
    * (n_vertices, n_edges, n_triangles). Triangles are counted on the
    * a<b oriented edge list — each triangle appears exactly once as
    * (a<b<c) — via two equi-joins, never an open enumeration; the
    * pair graph is bounded by the LSH budget, so the join cost is
    * edges×avg-degree, the standard distributed triangle shape. A
    * triangle-dense graph corroborates real duplicate clusters;
    * near-zero triangles with many edges means chains — template
    * text stitching unrelated docs, the failure mode
    * [[clusterSizeHistogram]] alarms on from the component side.
    */
  def graphTriangleCensus(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    // the edge distinct feeds five consumers; they share its exchange
    // (ReusedExchange) instead of a persist the lazy result could
    // never release
    val e = pairs.select(col(idA).as("a"), col(idB).as("b")).distinct()
    val verts = e.select(col("a").as("v")).unionByName(e.select(col("b").as("v")))
      .agg(countDistinct(col("v")).as("n_vertices"))
    val nEdges = e.select(count(lit(1)).as("n_edges"))
    val tri = e.toDF("a", "b")
      .join(e.toDF("b", "c"), "b")
      .join(e.toDF("a", "c"), Seq("a", "c"), "left_semi")
      .select(count(lit(1)).as("n_triangles"))
    verts.crossJoin(nEdges).crossJoin(tri)
  }

  /** Near-dedup keeping each cluster's BEST document by a quality
    * score instead of its lowest id — the production policy (near-dup
    * groups usually contain one clean original and N degraded
    * variants; keep-lowest-id keeps whichever was ingested first).
    * Clusters come from [[nearDupClusters]] (so transitive chains
    * collapse in one pass); the representative is the cluster's
    * (score DESC, id ASC) head, deterministic under score ties.
    * Documents in no confirmed pair survive untouched.
    *
    * Scale shape: everything downstream of the LSH pipeline operates
    * on the PAIRED documents only (near-dups are a small fraction of
    * a deduplicated-upstream corpus); the per-cluster pick is one
    * window over cluster ids — bounded-width keys, never bodies.
    */
  def nearDedupKeepBest(
      df: DataFrame,
      idCol: String,
      textCol: String,
      scoreCol: String,
      threshold: Double = 0.8): DataFrame = {
    val pairs = nearDupPairs(df, idCol, textCol, threshold)
    val clusters = nearDupClusters(pairs)
      .withColumnRenamed("doc_id", idCol)
    val w = Window.partitionBy("cluster_id")
      .orderBy(col(scoreCol).desc, col(idCol))
    val drop = clusters
      .join(df.select(col(idCol), col(scoreCol)), Seq(idCol))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") > 1)
      .select(col(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  // ===== exact substring spans (character k-grams) =====

  /** Character k-gram positions: one row per (id, 1-based pos,
    * 64-bit gram hash) for every length-k substring of `textCol`.
    * The exact-substring analogue of [[shingles]] — the primitive
    * behind "this 50-token span is duplicated verbatim elsewhere in
    * the corpus" dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", arXiv:2107.06499 — their
    * suffix-array ExactSubstr; re-expressed here as a distributed
    * group-by over gram keys).
    *
    * Scale shape: enumerating grams amplifies the corpus ~k× before
    * hashing, but only the 8-byte xxhash64 of each gram ever reaches
    * the shuffle — never the substring bytes (collision odds 2^-64,
    * same accepted trade as [[exactDedup]]'s md5 keys). Docs shorter
    * than k contribute zero rows.
    */
  def kgramPositions(idCol: String, textCol: String, k: Int)(df: DataFrame): DataFrame = {
    require(k >= 2, s"k-gram length must be >= 2, got $k")
    // one O(n) rolling pass per document (graft_gram_hashes) instead
    // of the O(n·k) transform(sequence, i -> xxhash64(substr)) form —
    // hash values are Spark-internal (oracles compare gram strings),
    // only cross-doc equality matters; empty array for docs shorter
    // than k, so the explode emits nothing (the old guard's contract).
    df.select(col(idCol),
        posexplode(Native.gramHashes(col(textCol), k)).as(Seq("pos", "gram_hash")))
      .withColumn("pos", col("pos") + 1)
  }

  /** Grams that appear in at least `minDocs` DISTINCT documents — the
    * "duplicated span" vocabulary. One partial-aggregated group-by on
    * the 8-byte gram key.
    */
  private def duplicatedGrams(pos: DataFrame, idCol: String, minDocs: Int): DataFrame =
    if (minDocs <= 2) {
      // "≥ 2 distinct docs" ⟺ min(id) ≠ max(id): min/max partially
      // aggregate map-side to ONE row per (gram, input partition),
      // where count_distinct must ship every distinct (gram, id) pair
      // through the exchange — for the k=30 ExactSubstr family that
      // is nearly the whole position table (positions ≈ corpus chars;
      // guide §2.3, aggregate before you shuffle). minDocs ≤ 1 keeps
      // every gram under both forms (every gram has ≥ 1 doc), so the
      // cheap branch covers it too. Identical vocabulary set —
      // span/coverage oracles re-gated hash-exact.
      pos.groupBy("gram_hash")
        .agg(min(col(idCol)).as("__lo"), max(col(idCol)).as("__hi"))
        .where(if (minDocs == 2) col("__lo") =!= col("__hi") else lit(true))
        .select("gram_hash")
    } else
      pos.groupBy("gram_hash")
        .agg(count_distinct(col(idCol)).as("__nd"))
        .where(col("__nd") >= minDocs)
        .select("gram_hash")

  /** Per-document duplicated-span coverage: of the document's k-gram
    * positions, how many carry a gram that also occurs in another
    * document. `dup_frac` ≈ the fraction of the document that is
    * verbatim-duplicated corpus text — Lee et al.'s removal criterion
    * at span granularity (they cut the spans; the audit here scores
    * them, and a pipeline filters on `dup_frac` or feeds the flagged
    * positions to a span cutter).
    *
    * Plan: positions → dup-gram vocabulary (group-by) → one equi-join
    * back on the hash → per-doc count. Every stage keys on the 8-byte
    * hash; nothing all-pairs anywhere.
    */
  def kgramDupCoverage(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 30): DataFrame = {
    val pos = kgramPositions(idCol, textCol, k)(df)
    val dup = duplicatedGrams(pos, idCol, minDocs = 2).withColumn("__dup", lit(1))
    pos.join(dup, Seq("gram_hash"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        count(col("__dup")).as("dup_grams"))
      .withColumn("dup_frac", col("dup_grams").cast("double") / col("n_grams"))
  }

  /** Merged per-document removal spans over the duplicated k-gram
    * positions — the CUTTING stage of exact-substring dedup (Lee et
    * al. 2022's ExactSubstr removes the flagged spans;
    * [[kgramDupCoverage]] only scores them). A flagged position p
    * covers characters [p, p+k-1]; overlapping-or-adjacent covered
    * intervals merge into one span (classic gaps-and-islands: a new
    * island starts where a position exceeds the running max end + 1).
    * Output: one row per (id, span_id, span_start, span_end,
    * span_len), 1-based inclusive character offsets — the instruction
    * list a span cutter (or [[spanCleanStats]]) consumes.
    *
    * Scale shape: positions → gram-frequency group-by → semi-join back
    * (all keyed on the 8-byte gram hash, same budget as
    * [[kgramDupCoverage]]), then ONE window per document over only the
    * FLAGGED positions (duplicated text, typically a small fraction of
    * the corpus) — never over the full position list.
    */
  def kgramDupSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 30,
      minDocs: Int = 2): DataFrame = {
    val pos = kgramPositions(idCol, textCol, k)(df)
    val dup = duplicatedGrams(pos, idCol, minDocs)
    val flagged = pos.join(dup, Seq("gram_hash"), "left_semi")
      .select(col(idCol), col("pos"))
    val w = Window.partitionBy(idCol).orderBy("pos")
    val prevEnd = max(col("pos") + lit(k - 1))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged
      .withColumn("__new", when(prevEnd.isNull || col("pos") > prevEnd + 1, 1L)
        .otherwise(0L))
      .withColumn("span_id",
        sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("span_id"))
      .agg(
        min("pos").as("span_start"),
        (max(col("pos")) + lit(k - 1)).as("span_end"))
      .withColumn("span_len", col("span_end") - col("span_start") + 1)
  }

  /** Apply [[kgramDupSpans]]'s cut list: reconstruct each document
    * with its duplicated spans REMOVED — the final ExactSubstr verb
    * (Lee et al. cut the spans from the training copy; the original
    * store is untouched). The spans are merged and sorted, so removal
    * is one left-to-right fold: keep `(last_end, span_start)` gaps,
    * then the tail. The fold is a `functions.aggregate` higher-order
    * expression over the doc's own (few, merged) spans — per-row
    * compute, no UDF; a document with no flagged span passes through
    * unchanged, one fully covered becomes the empty string.
    *
    * Scale shape: the spans side aggregates to (doc, sorted span
    * array) — flagged docs only, array length = merged span count —
    * and joins back on the id; text moves exactly once (through the
    * join), never as a shuffle key.
    */
  def cutSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 30,
      minDocs: Int = 2): DataFrame = {
    val spans = kgramDupSpans(df, idCol, textCol, k, minDocs)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(
        col("span_start"), col("span_end")))).as("__spans"))
    val text = col(textCol)
    val folded = aggregate(
      col("__spans"),
      struct(lit(0).as("last"), lit("").as("acc")),
      (st, sp) => struct(
        sp.getField("span_end").as("last"),
        concat(st.getField("acc"),
          text.substr(st.getField("last") + 1,
            sp.getField("span_start") - st.getField("last") - 1)).as("acc")),
      st => concat(st.getField("acc"),
        text.substr(st.getField("last") + 1,
          length(text) - st.getField("last"))))
    df.join(spans, Seq(idCol), "left")
      .withColumn("clean_text", when(col("__spans").isNull, text).otherwise(folded))
      .drop("__spans")
  }

  /** Per-document summary of [[kgramDupSpans]]: how much of each
    * document the cutter would remove. Documents with no flagged span
    * report zero (left join back to the corpus), so the frame is a
    * complete per-document audit — `clean_frac` is the surviving
    * fraction after span removal.
    */
  def spanCleanStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 30,
      minDocs: Int = 2): DataFrame = {
    val spans = kgramDupSpans(df, idCol, textCol, k, minDocs)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_spans"),
        sum("span_len").as("chars_flagged"))
    df.select(col(idCol), length(col(textCol)).cast("long").as("n_chars"))
      .join(spans, Seq(idCol), "left")
      .na.fill(0L, Seq("n_spans", "chars_flagged"))
      // NULL (not NaN) for an empty document: Spark's double division
      // by zero gives NaN where DuckDB gives NULL, so an un-guarded
      // denominator breaks the oracle gate the first time the corpus
      // holds a zero-length text. NULL is also the honest answer —
      // a surviving FRACTION of nothing is undefined.
      .withColumn("clean_frac",
        when(col("n_chars") === 0L, lit(null).cast("double"))
          .otherwise((col("n_chars") - col("chars_flagged")).cast("double") / col("n_chars")))
  }

  /** Distinct document pairs sharing at least one verbatim k-gram,
    * with the count of shared distinct grams — the candidate-pair
    * view of exact-substring duplication (compare [[allPairsJaccard]]
    * for the shingle-set version). Self-equi-join on the gram hash;
    * a gram shared by m docs contributes m·(m−1)/2 pairs, so
    * production corpora cap gram doc-frequency first (boilerplate
    * grams pair everything with everything) — `maxDocFreq` drops
    * grams above the cap BEFORE pairing.
    */
  def kgramDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 30,
      maxDocFreq: Option[Int] = None): DataFrame = {
    // ONE explode + ONE exchange for the whole posting-list build
    // (the allPairsJaccard r18 discipline): repartition on gram_hash
    // BEFORE the distinct — HashPartitioning(gram_hash) satisfies the
    // (gram, id) dedup's clustered distribution AND the df-cap window
    // AND the self-join, so dedup, cap and join all run on that one
    // shuffle; the per-invocation localCheckpoint stops every
    // consumer from re-deriving the positions (the lazy form inlined
    // explode + distinct into the cap agg, the semi-join and both
    // self-join sides). The cap keep set is bit-identical: a count
    // per gram over DISTINCT (gram, id) rows, filter <= cap.
    val grams = kgramPositions(idCol, textCol, k)(df)
      .select(col(idCol).as("id"), col("gram_hash"))
      .repartition(col("gram_hash"))
      .distinct()
    val kept = (maxDocFreq match {
      case Some(cap) =>
        grams.withColumn("__df", count(lit(1)).over(Window.partitionBy("gram_hash")))
          .where(col("__df") <= cap).select("id", "gram_hash")
      case None => grams
    }).localCheckpoint()
    kept.as("a").join(kept.as("b"),
        col("a.gram_hash") === col("b.gram_hash") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Cross-source contamination matrix: roll [[kgramDupPairs]] up to
    * UNORDERED source pairs — which corpus slices share verbatim text,
    * and how much. The provenance view of exact-substring dedup: a
    * hot (web, books) cell says one slice was scraped into the other,
    * a hot diagonal says a source self-duplicates. Same gram-keyed
    * join budget as the pair view; the rollup adds one
    * sources²-bounded aggregation.
    */
  def crossSourceOverlap(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      k: Int = 30,
      maxDocFreq: Option[Int] = None): DataFrame = {
    val pairs = kgramDupPairs(df, idCol, textCol, k, maxDocFreq)
      .join(df.select(col(idCol).as("id_a"), col(sourceCol).as("__sa")), Seq("id_a"))
      .join(df.select(col(idCol).as("id_b"), col(sourceCol).as("__sb")), Seq("id_b"))
    pairs
      .groupBy(
        least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .agg(
        count(lit(1)).as("n_doc_pairs"),
        sum("n_shared_grams").as("n_shared_grams"))
  }

  // ===== SimHash =====

  /** 60-bit token hash from the md5 hex prefix (15 hex chars). Slower
    * than xxhash64 but portable: any engine that parses hex replicates
    * it bit-for-bit, which is what lets the correctness gate hold an
    * exact DuckDB oracle over a SimHash query. Bits 60–63 are always
    * zero, so SimHash fingerprints built on it leave those fingerprint
    * bits clear — harmless for hamming comparison.
    */
  def md5Hash60(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** SimHash fingerprints via token-explode + partial aggregation —
    * the scale path (same reasoning as [[minhashSignatures]]): one
    * hash per token, one `graft_simhash` TypedImperativeAggregate
    * (functions/SimHashAgg.scala — a single 64-counter buffer that
    * combines map-side, vs the 64 separate sum-agg columns it
    * replaced), Aggregate barrier against re-inlining. `tokenHash`
    * defaults to xxhash64 (fastest); pass [[md5Hash60]] for
    * engine-portable fingerprints. Persists nothing: like
    * [[minhashSignatures]], the pair self-join's two sides share the
    * aggregate's shuffle through exchange reuse.
    */
  def simhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tokenHash: Column => Column = xxhash64(_)): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), " ")).as("__t"))
      .groupBy(col(idCol))
      .agg(Native.simhash(tokenHash(col("__t"))).as("fp"))

  /** SimHash near-dup pairs: block on 16-bit fingerprint chunks
    * (pigeonhole: hamming<=3 pairs share at least one of 4 chunks),
    * then filter by exact hamming distance. Bucketed join — no
    * cartesian product.
    *
    * Recall is complete (blocked result == all-pairs result) only for
    * `maxHamming <= 3`: four diffs can touch all four chunks. Larger
    * radii trade recall for the same bucketed cost.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val fp = simhashSignatures(df, idCol, textCol, tokenHash)
    // the 4 chunk keys unroll to a plain array — the transform over
    // sequence(0, 3) it replaces ran through an interpreted Catalyst
    // lambda frame per row on BOTH sides of the chunk self-join
    // (identical expression tree with the lambda variable a literal;
    // LlmSpec pins the chunk keys' recall property either way — r19 §4)
    val chunkKeys = (0 until 4).map(i =>
      expr(s"shiftright(fp, ${i * 16}) & 65535"))
    val chunked = fp.select(col(idCol), col("fp"),
      posexplode(array(chunkKeys: _*)).as(Seq("chunk_id", "chunk")))
    val l = chunked.toDF("id_a", "fp_a", "chunk_id", "chunk")
    val r = chunked.toDF("id_b", "fp_b", "chunk_id", "chunk")
    l.join(r, Seq("chunk_id", "chunk"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "fp_a", "fp_b").distinct()
      .withColumn("hamming", expr("bit_count(fp_a ^ fp_b)"))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  // ===== content-defined chunking (CDC) =====

  /** Word-level content-defined chunking: a chunk boundary falls
    * AFTER every word whose [[md5Hash60]] is divisible by `divisor`,
    * so boundaries depend only on local content — an insertion early
    * in a document shifts at most one chunk, and identical passages
    * chunk identically wherever they appear. That re-alignment is the
    * whole point versus fixed-size chunks (storage-dedup literature:
    * Muthitacharoen's LBFS rolling-hash CDC, here at word rather than
    * byte granularity); versus k-grams ([[kgramDupCoverage]]) the
    * chunks are NON-overlapping, so the exploded volume is ~1× corpus
    * size instead of k×.
    *
    * Output: one row per chunk — (idCol, chunk_md5, n_words). The
    * chunk TEXT is dropped before any shuffle; downstream aggregations
    * key on the 32-char digest. Expected chunk length is `divisor`
    * words. Empty documents produce no rows (callers that must keep
    * them re-join on the source table, as [[cdcDupCoverage]] does).
    *
    * All chunking work is per-row higher-order functions over one
    * pruned scan — no shuffle, no UDF; the boundary hash is the
    * engine-portable md5 prefix so a DuckDB oracle replays it
    * bit-for-bit.
    */
  def cdcChunks(
      df: DataFrame,
      idCol: String,
      textCol: String,
      divisor: Int = 8): DataFrame = {
    // ONE native loop per row ([[graft.functions.CdcWordChunks]]) in
    // place of the higher-order-function formulation (LlmSpec's
    // parity reference) — that paid an interpreted md5Hash60 lambda
    // per WORD plus array_join slices.
    // Bit-identical output: LlmSpec parity pin + the CDC consumers'
    // DuckDB oracles.
    df.select(col(idCol),
        explode_outer(Native.cdcWords(col(textCol), divisor)).as("__chunk"))
      .filter(col("__chunk").isNotNull)
      .select(col(idCol),
        col("__chunk.chunk_md5").as("chunk_md5"),
        col("__chunk.n_words").as("n_words"))
  }

  /** Corpus-level duplicated-chunk inventory: every CDC chunk that
    * occurs more than once (within or across documents), with its
    * document spread, occurrence count, and length. The shuffle
    * carries (digest, small ints) only.
    */
  def cdcChunkStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      divisor: Int = 8): DataFrame =
    cdcChunks(df, idCol, textCol, divisor)
      .groupBy("chunk_md5")
      .agg(
        countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        max(col("n_words")).as("n_words"))
      .filter(col("n_occurrences") >= 2)

  /** Per-document duplicate coverage at chunk granularity: the
    * fraction of a document's words living in chunks that also appear
    * in ANOTHER document (cross-doc: n_docs >= 2, so within-doc
    * repetition alone does not count). The cheaper cousin of
    * [[kgramDupCoverage]] — non-overlapping chunks keep the exploded
    * row count at ~corpus size — at the price of CDC's boundary-
    * alignment granularity (a shared passage shorter than one chunk
    * is invisible). Emits one row per SOURCE document, zero-filled,
    * so empty documents cannot diverge from an oracle that scans the
    * base table.
    */
  def cdcDupCoverage(
      df: DataFrame,
      idCol: String,
      textCol: String,
      divisor: Int = 8): DataFrame = {
    // ONE consumer of the chunk table, so the corpus-wide chunking
    // runs once with nothing persisted: "≥ 2 distinct docs" ⟺
    // min(id) ≠ max(id) over the chunk's digest window, computed on
    // the one digest shuffle, then the per-doc rollup. (A dup-set
    // aggregate joined back gets no exchange reuse even over a shared
    // repartition: column pruning and the join's inferred null filter
    // make its exchange differ from the join side's.)
    val byChunk = Window.partitionBy("chunk_md5")
    val per = cdcChunks(df, idCol, textCol, divisor)
      .withColumn("__dup", min(col(idCol)).over(byChunk) =!= max(col(idCol)).over(byChunk))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("__n_chunks"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("__dup_chunks"),
        sum(col("n_words")).as("__n_words"),
        sum(when(col("__dup"), col("n_words")).otherwise(0L)).as("__dup_words"))
    df.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("__n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("__dup_chunks"), lit(0L)).as("dup_chunks"),
        coalesce(col("__n_words"), lit(0L)).as("n_words"),
        coalesce(col("__dup_words"), lit(0L)).as("dup_words"),
        coalesce(col("__dup_words") / col("__n_words"), lit(0.0)).as("dup_word_frac"))
  }

  /** Corpus novelty curve: bucket documents by ingestion order
    * (idCol / bucketSize) and report, per bucket, how many documents
    * are the FIRST occurrence of their exact content — the
    * dedup-rate-over-time monitoring view every growing corpus needs
    * (a collapsing novel_frac means the crawl is re-reading itself).
    * Two digest-keyed aggregations plus a bucket-keyed join; document
    * bodies never shuffle.
    */
  def noveltyCurve(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bucketSize: Int = 50): DataFrame = {
    val firsts = df
      .groupBy(md5(col(textCol)).as("__digest"))
      .agg(min(col(idCol)).as("__first_id"))
      .groupBy(floor(col("__first_id") / bucketSize).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_novel"))
    val totals = df
      .groupBy(floor(col(idCol) / bucketSize).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"))
    totals.join(firsts, Seq("bucket"), "left")
      .select(
        col("bucket"),
        col("n_docs"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)) / col("n_docs")).as("novel_frac"))
  }
}
