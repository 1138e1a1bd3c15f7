package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{ParquetResolver, StudyRunner, Interpreter, PipelineContext}
import graft.io.{ConfigReader, Export, NestedStore, Standardized}
import graft.llm.{Dedup, Multimodal, Similarity, Sketch, TextAnalysis}
import graft.model._
import graft.ops.Ops

/** Query registry — document deduplication: exact, MinHash-LSH, SimHash, k-gram/CDC spans, clustering, entity resolution, curation funnels.
  *
  * Split out of SparkEntry (round 13) purely for maintainability: the
  * public driver contract is still `SparkEntry.queries` /
  * `SparkEntry.oracleSql`, which concatenate the per-family maps.
  * Helpers shared across families live in [[QueryHelpers]].
  */
private[graft] object DedupQueries {
  import QueryHelpers._

  // round-15 recommended ER band set (measured dominant — SCALE.md):
  // the coarse {d4d5} name segment plus the three PassJoin suffix
  // segments of c_name[15..18]; "2:" mirrors segmentBands' length
  // tag. Shared with tools.ErScale so the gate and the scale
  // measurements can never band differently.
  private[graft] def quadBands =
    concat(
      array(concat(lit("2:"), substring(col("c_name"), 13, 2))),
      graft.ops.EntityRes.segmentBands(substring(col("c_name"), 15, 4), 3))

  // the incremental-ER gate's synthetic re-crawl batch: every 3rd
  // customer, name corruption decided on the ORIGINAL key (the oracle
  // mirrors this order), ids then shifted past the master's range.
  // Shared with tools.ErScale (`inc` mode) so the gate and the scale
  // measurement run the identical batch shape.
  // shared CTE prefix for the banded-incremental oracles: the gate
  // batch, per-side block sizes, hot = over cap 12 on EITHER side
  // (bn/mn riding along), each side's hot rows QUAD-banded, and
  // per-side bucket sizes. `samplePred` appends the deterministic
  // md5 hot-block sample (the hashBucket replay) to the hot CTE —
  // empty for the full-audit oracles. Already margin-stripped —
  // interpolates into s"WITH ${incBandedCtes()}, ..." before the
  // caller's stripMargin (stripMargin leaves pipe-less lines alone).
  private def incBandedCtes(samplePred: String = ""): String =
    s"""batch AS (
      |  SELECT c_custkey + 100000 AS id,
      |         CASE WHEN c_custkey % 2 = 0 THEN c_name
      |              ELSE concat(substr(c_name, 1, 16), 'XX') END AS name,
      |         c_nationkey, c_mktsegment
      |  FROM customer WHERE c_custkey % 3 = 0),
      |bz AS (SELECT c_nationkey, c_mktsegment, count(*) AS n FROM batch GROUP BY 1, 2),
      |mz AS (SELECT c_nationkey, c_mktsegment, count(*) AS n FROM customer GROUP BY 1, 2),
      |hot AS (SELECT c_nationkey, c_mktsegment,
      |               coalesce(bz.n, 0) AS bn, coalesce(mz.n, 0) AS mn
      |        FROM bz FULL JOIN mz USING (c_nationkey, c_mktsegment)
      |        WHERE (coalesce(bz.n, 0) > 12 OR coalesce(mz.n, 0) > 12)$samplePred),
      |hb AS (SELECT b.*, h.bn, h.mn, substr(b.name, 15, 4) AS s4 FROM batch b
      |       JOIN hot h ON b.c_nationkey = h.c_nationkey AND b.c_mktsegment = h.c_mktsegment),
      |hm AS (SELECT c.*, h.bn, h.mn, substr(c.c_name, 15, 4) AS s4 FROM customer c
      |       JOIN hot h ON c.c_nationkey = h.c_nationkey AND c.c_mktsegment = h.c_mktsegment),
      |bandb AS (SELECT h.*, b.band,
      |            CASE WHEN b.band = 0
      |              THEN concat('2:', substr(h.name, 13, 2))
      |              ELSE concat(CAST(length(h.s4) AS VARCHAR), ':',
      |                substr(h.s4,
      |                  CAST(floor((b.band - 1) * length(h.s4) / 3) AS INT) + 1,
      |                  CAST(floor(b.band * length(h.s4) / 3) AS INT)
      |                    - CAST(floor((b.band - 1) * length(h.s4) / 3) AS INT)))
      |            END AS bkey
      |          FROM hb h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b),
      |bandm AS (SELECT h.*, b.band,
      |            CASE WHEN b.band = 0
      |              THEN concat('2:', substr(h.c_name, 13, 2))
      |              ELSE concat(CAST(length(h.s4) AS VARCHAR), ':',
      |                substr(h.s4,
      |                  CAST(floor((b.band - 1) * length(h.s4) / 3) AS INT) + 1,
      |                  CAST(floor(b.band * length(h.s4) / 3) AS INT)
      |                    - CAST(floor((b.band - 1) * length(h.s4) / 3) AS INT)))
      |            END AS bkey
      |          FROM hm h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b),
      |sb AS (SELECT c_nationkey, c_mktsegment, band, bkey, count(*) AS m
      |       FROM bandb GROUP BY 1, 2, 3, 4),
      |sm AS (SELECT c_nationkey, c_mktsegment, band, bkey, count(*) AS m
      |       FROM bandm GROUP BY 1, 2, 3, 4)""".stripMargin

  // shared CTE prefix for the band-ladder oracles (er_band_evidence /
  // er_recommend_bands): the wide positional spec as VALUES rows,
  // hot blocks at cap 12, per-band keys (full-length tag — the
  // bandsFromSpec construction), per-bucket sizes, and the per-band
  // row/bucket refusal rollups. Already stripped — interpolates into
  // s"WITH $bandEvidenceCtes" with no stripMargin after it.
  private val bandEvidenceCtes: String =
    """spec AS (SELECT * FROM (VALUES (0, 13, 2), (1, 15, 2), (2, 17, 2))
      |           AS v(band, seg_start, seg_len)),
      |sz AS (SELECT c_nationkey, c_mktsegment, count(*) AS n FROM customer GROUP BY 1, 2),
      |hot AS (SELECT c.* FROM customer c
      |        JOIN sz ON c.c_nationkey = sz.c_nationkey AND c.c_mktsegment = sz.c_mktsegment
      |        WHERE sz.n > 12),
      |bands AS (SELECT h.c_nationkey, h.c_mktsegment, s.band,
      |                 concat(CAST(length(h.c_name) AS VARCHAR), ':',
      |                        substr(h.c_name, s.seg_start, s.seg_len)) AS bkey
      |          FROM hot h CROSS JOIN spec s),
      |bsz AS (SELECT c_nationkey, c_mktsegment, band, bkey, count(*) AS m
      |        FROM bands GROUP BY 1, 2, 3, 4),
      |rows_ AS (SELECT b.band, count(*) AS n_rows,
      |                 CAST(sum(CASE WHEN z.m > 12 THEN 1 ELSE 0 END) AS BIGINT) AS n_refused_rows
      |          FROM bands b JOIN bsz z
      |            ON b.c_nationkey = z.c_nationkey AND b.c_mktsegment = z.c_mktsegment
      |           AND b.band = z.band AND b.bkey = z.bkey
      |          GROUP BY 1),
      |bk AS (SELECT band, count(*) AS n_buckets,
      |              CAST(sum(CASE WHEN m > 12 THEN 1 ELSE 0 END) AS BIGINT) AS n_refused_buckets
      |       FROM bsz GROUP BY 1)""".stripMargin

  // the recall-classification tail shared by the full and sampled
  // er_incremental_recall oracles (the sampled twin differs only in
  // incBandedCtes' hot-block sample predicate). Pre-stripped like
  // incBandedCtes; starts with its own newline so it splices after
  // the CTE list's trailing comma.
  private val incRecallBody: String =
    """
      |p AS (SELECT b.c_nationkey, b.c_mktsegment, b.bn AS batch_n, b.mn AS master_n,
      |             b.id AS batch_id, m.c_custkey AS master_id
      |      FROM hb b JOIN hm m
      |        ON b.c_nationkey = m.c_nationkey AND b.c_mktsegment = m.c_mktsegment
      |      WHERE levenshtein(b.name, m.c_name) <= 2),
      |coll AS (SELECT a.c_nationkey, a.c_mktsegment,
      |                a.id AS batch_id, m.c_custkey AS master_id,
      |                max(CASE WHEN sb.m <= 12 AND sm.m <= 12 THEN 1 ELSE 0 END) AS any_kept
      |         FROM bandb a JOIN bandm m
      |           ON a.c_nationkey = m.c_nationkey AND a.c_mktsegment = m.c_mktsegment
      |          AND a.band = m.band AND a.bkey = m.bkey
      |         JOIN sb ON a.c_nationkey = sb.c_nationkey AND a.c_mktsegment = sb.c_mktsegment
      |               AND a.band = sb.band AND a.bkey = sb.bkey
      |         JOIN sm ON m.c_nationkey = sm.c_nationkey AND m.c_mktsegment = sm.c_mktsegment
      |               AND m.band = sm.band AND m.bkey = sm.bkey
      |         GROUP BY 1, 2, 3, 4),
      |cls AS (SELECT p.c_nationkey, p.c_mktsegment, p.batch_n, p.master_n,
      |               CASE WHEN c.any_kept = 1 THEN 'kept'
      |                    WHEN c.any_kept = 0 THEN 'refused'
      |                    ELSE 'cross' END AS cls
      |        FROM p LEFT JOIN coll c
      |          ON p.c_nationkey = c.c_nationkey AND p.c_mktsegment = c.c_mktsegment
      |         AND p.batch_id = c.batch_id AND p.master_id = c.master_id)
      |SELECT c_nationkey, c_mktsegment, batch_n, master_n,
      |       count(*) AS n_pairs_uncapped,
      |       CAST(sum(CASE WHEN cls = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       CAST(sum(CASE WHEN cls = 'cross' THEN 1 ELSE 0 END) AS BIGINT) AS n_lost_cross,
      |       CAST(sum(CASE WHEN cls = 'refused' THEN 1 ELSE 0 END) AS BIGINT) AS n_lost_refused,
      |       CAST(sum(CASE WHEN cls = 'kept' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS recall
      |FROM cls GROUP BY 1, 2, 3, 4""".stripMargin

  private[graft] def incrementalBatch(master: DataFrame): DataFrame =
    master.where(col("c_custkey") % 3 === 0)
      .withColumn("c_name",
        when(col("c_custkey") % 2 === 0, col("c_name"))
          .otherwise(concat(substring(col("c_name"), 1, 16), lit("XX"))))
      .withColumn("c_custkey", col("c_custkey") + 100000L)

  val queries: Map[String, (SparkSession, String) => DataFrame] = reg(

    // ===== LLM pipeline: dedup =====
    "dedup_exact" -> ((s, d) => Dedup.exactDedup("text", "doc_id")(doubledDocs(s, d))),
    "dedup_exact_stats" -> ((s, d) => Dedup.exactDedupStats("text", "doc_id")(doubledDocs(s, d))),
    // steady-state ingest: a new batch (half re-crawled content, half
    // fresh) anti-joins the store's digest set — only novel content
    // survives
    "dedup_incremental" -> ((s, d) => {
      val store = t(s, d, "documents")
      val batch = store.withColumn("doc_id", col("doc_id") + 10000L)
        .withColumn("text",
          when(col("doc_id") % 2 === 1, concat(col("text"), lit(" fresh")))
            .otherwise(col("text")))
      Dedup.incrementalDedup("text", batch, store).select("doc_id", "text")
    }),
    // Banding (numPerm=64, bands=16, r=4) is tuned to the DATA, not
    // the threshold: the corpus's true near-dup pairs sit at jaccard
    // >= 0.9 (sf0.01) / >= 0.8 (sf0.1), nothing in [0.3, 0.8)
    // (measured with Dedup.allPairsJaccard), where the r=4 S-curve gives
    // per-pair miss probability <= (1-0.8^4)^16 ≈ 2e-4, expected
    // misses ≈ 1.5e-3 across the 7 sf0.1 pairs in [0.8, 0.9) — safe
    // against the exact all-pairs oracle. That assumption is PINNED
    // by LlmSpec ("corpus assumption: no jaccard pairs in the LSH
    // miss zone"), so regenerated testdata fails loudly. r=2
    // (bands=32) would put the 50%-candidate point at j≈0.15 and
    // flood the verify stage with low-jaccard candidates (measured
    // 10× slower) for recall this corpus doesn't need.
    "dedup_minhash_pairs" -> ((s, d) =>
      Dedup.nearDupPairs(t(s, d, "documents"), "doc_id", "text",
        threshold = 0.5, numPerm = 64, bands = 16)),
    // the exact audit path that VALIDATES the banding assumption:
    // inverted-index all-pairs jaccard (shared-shingle enumeration,
    // never a doc-level cartesian)
    "dedup_jaccard_audit" -> ((s, d) =>
      Dedup.allPairsJaccard(t(s, d, "documents"), "doc_id", "text", minJaccard = 0.3)),
    // CAPPED twin (cap 16 > gate-corpus max df 7): gates against the
    // SAME oracle SQL, the third hash-proven capped==uncapped pin
    // alongside the threshold curve and the cluster split — all three
    // allPairsJaccard-powered headline audits now carry the measured
    // boilerplate guard (SCALE.md)
    "dedup_jaccard_audit_capped" -> ((s, d) =>
      Dedup.allPairsJaccard(t(s, d, "documents"), "doc_id", "text", minJaccard = 0.3,
        maxDocFreq = Some(16))),
    // eval-carve-out contamination: near-dup pairs straddling the
    // train/val/test hash splits (each side's split is a pure function
    // of its id — no join back to the corpus, no extra shuffle)
    "split_leakage_audit" -> ((s, d) =>
      graft.llm.Sampling.splitLeakageAudit(t(s, d, "documents"), "doc_id", "text",
        minJaccard = 0.3)),
    // connected components over the exact near-dup pair graph: one
    // call collapses transitive chains; oracle replays the same pairs
    // through a recursive CTE reachability walk
    "dedup_clusters" -> ((s, d) =>
      Dedup.nearDupClusters(
        Dedup.allPairsJaccard(t(s, d, "documents"), "doc_id", "text", minJaccard = 0.3))),
    "dedup_near_keep" -> ((s, d) =>
      Dedup.nearDedup(t(s, d, "documents"), "doc_id", "text", threshold = 0.5)),
    // dedup-graph health: component-size histogram incl. singletons
    // (a growing max size = boilerplate chaining unrelated docs)
    "dedup_cluster_sizes" -> ((s, d) =>
      Dedup.clusterSizeHistogram(t(s, d, "documents"), "doc_id", "text", threshold = 0.5)),
    // triangle census of the pair graph (a<b<c oriented two-join —
    // triangle-dense = real dup clusters, chain-shaped = templates)
    "dedup_graph_triangles" -> ((s, d) =>
      Dedup.graphTriangleCensus(
        Dedup.allPairsJaccard(t(s, d, "documents"), "doc_id", "text", minJaccard = 0.3))),
    // steady-state NEAR-dup ingest (LSH twin of dedup_incremental):
    // batch = every 5th doc, store = the rest; drop batch docs with a
    // store near-dup, then keep-lowest among the batch survivors
    "dedup_incremental_near" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.incrementalNearDedup(
        docs.where(col("doc_id") % 5 === 0),
        docs.where(col("doc_id") % 5 =!= 0),
        "doc_id", "text", threshold = 0.5)
    }),
    // maxHamming=3 keeps the 16-bit-chunk blocking recall-COMPLETE
    // (pigeonhole), so the blocked result equals the all-pairs oracle;
    // md5Hash60 is the engine-portable token hash the oracle can
    // replicate (production default stays xxhash64).
    "dedup_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text", maxHamming = 3,
        tokenHash = Dedup.md5Hash60)),
    // exact-substring (Lee et al. ExactSubstr) audit: per-doc fraction
    // of 30-char spans duplicated verbatim in another document — the
    // shuffle carries 8-byte gram hashes, the oracle the raw substrings
    "dedup_kgram_coverage" -> ((s, d) =>
      Dedup.kgramDupCoverage(t(s, d, "documents"), "doc_id", "text", k = 30)),
    "dedup_kgram_pairs" -> ((s, d) =>
      Dedup.kgramDupPairs(t(s, d, "documents"), "doc_id", "text", k = 30)),
    // content-defined chunking (LBFS-style, word granularity):
    // boundary-aligned NON-overlapping chunks, so the exploded volume
    // is ~1x corpus (vs k-grams' kx); shuffle carries chunk digests
    "dedup_cdc_chunks" -> ((s, d) =>
      Dedup.cdcChunkStats(t(s, d, "documents"), "doc_id", "text", divisor = 8)),
    "dedup_cdc_coverage" -> ((s, d) =>
      Dedup.cdcDupCoverage(t(s, d, "documents"), "doc_id", "text", divisor = 8)),
    // dedup-rate-over-ingestion monitoring: per doc_id bucket, the
    // fraction of documents whose exact content is seen first there
    "dedup_novelty_curve" -> ((s, d) =>
      Dedup.noveltyCurve(t(s, d, "documents"), "doc_id", "text", bucketSize = 50)),

    // ===== entity resolution (blocking + edit distance) =====
    // candidate pairs never cross blocks (equi-join on the blocking
    // key, the LSH-band discipline); Levenshtein is engine-exact ints
    "er_pairs" -> ((s, d) =>
      graft.ops.EntityRes.candidatePairs(
        "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"), maxDist = 2)(
        t(s, d, "customer"))),
    // the hot-block remedy exercised END TO END: maxBlock=12 splits
    // the gate corpus's 125 blocks into 74 small (paired as usual)
    // and 51 hot, which re-block on the last two c_name characters
    // (TPC-H names share their long prefix — the SUFFIX is the
    // discriminative key) and pair within the refined blocks
    "er_pairs_subblocked" -> ((s, d) =>
      graft.ops.EntityRes.candidatePairs(
        "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"), maxDist = 2,
        maxBlock = 12, subBlock = Some(substring(col("c_name"), -2, 2)))(
        t(s, d, "customer"))),
    // the loud-cap reporting face one level down, oracle-gated: the
    // refined groups the subBlock remedy still refuses (over-cap, or
    // NULL sub-key — none here, names are non-null; OpsSpec pins that
    // arm). maxBlock=3 with a last-1-char sub-key leaves 41 refused
    // sub-groups at sf0.01 — a non-degenerate report, unlike the
    // er_pairs_subblocked parameters where every refined block lands
    // under the bound
    "er_refused_subblocks" -> ((s, d) =>
      graft.ops.EntityRes.refusedSubBlocks(
        Seq("c_nationkey", "c_mktsegment"), maxBlock = 3,
        subBlock = substring(col("c_name"), -1, 1))(
        t(s, d, "customer"))),
    // the remedy's recall trade, quantified per hot block: where do a
    // hot block's uncapped match pairs land under sub-blocking —
    // kept / lost-to-cross-sub-key / lost-to-still-refused — plus the
    // recall fraction a user weighs when choosing the sub-key. An
    // AUDIT (it pays the hot blocks' uncapped pair bill on purpose);
    // same maxBlock=12 / last-2-chars sub-key as er_pairs_subblocked,
    // so the two queries describe the same remedy run
    "er_subblock_recall" -> ((s, d) =>
      graft.ops.EntityRes.subBlockRecall(
        "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"), maxDist = 2,
        maxBlock = 12, subBlock = substring(col("c_name"), -2, 2))(
        t(s, d, "customer"))),
    // the recall audit's SCALE face: deterministic md5 hash-sample
    // over hot blocks (40% here) — per-block rows stay exact, the
    // corpus-total recall estimate carries only between-block
    // sampling variance; OpsSpec pins sampled ⊂ full and the
    // estimate tolerance, SCALE.md the bounded growth curve
    "er_subblock_recall_sampled" -> ((s, d) =>
      graft.ops.EntityRes.subBlockRecall(
        "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"), maxDist = 2,
        maxBlock = 12, subBlock = substring(col("c_name"), -2, 2), samplePct = 40)(
        t(s, d, "customer"))),
    // the OR-AMPLIFIED remedy (round 15, replacing the single lexical
    // sub-key's measured ~0.30 recall): hot blocks re-block on the
    // measured-dominant QUAD band set (SCALE.md round 15) — the three
    // PassJoin suffix segments {d6},{d7},{d8d9} of c_name[15..18]
    // (pigeonhole: ≤2 substitutions ANYWHERE leave ≥1 of them intact,
    // and their buckets stay ~block/10 at every measured scale) plus
    // the coarse {d4d5} segment (recovers shift pairs while its
    // bucket fits the cap) — and a pair is a candidate if it collides
    // in ANY within-cap bucket. Measured hot-block pair recall at
    // maxBlock=1000: 0.996 at 8×, 0.967 at 16× (vs 0.30/0.32
    // lexical). At the gate's cap 12 the coarse bucket and the fat
    // {d6} buckets refuse — the loud-cap contract exercised on the
    // banded path, enumerated by class in er_banded_recall
    "er_pairs_banded" -> ((s, d) =>
      graft.ops.EntityRes.candidatePairsBanded(
        "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"), maxDist = 2,
        maxBlock = 12, bands = quadBands)(t(s, d, "customer"))),
    // the banded remedy's recall accounting: kept (≥1 within-cap
    // collision) / refused (collides only over-cap) / cross (no band
    // collides — shift pairs whose segments all moved). Same params
    // as er_pairs_banded so the two queries describe one remedy run
    "er_banded_recall" -> ((s, d) =>
      graft.ops.EntityRes.bandedSubBlockRecall(
        "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"), maxDist = 2,
        maxBlock = 12, bands = quadBands)(t(s, d, "customer"))),
    // the similarity-aware band family (the Dedup LSH discipline on a
    // short string field): 4 MinHash bands (r=1) over char 3-grams of
    // the full name, md5-based so the oracle replays bit-for-bit.
    // Kept alongside the positional bands because the recall/cost
    // trade DIFFERS by field shape — measured in SCALE.md round 15
    "er_pairs_minhash_sub" -> ((s, d) =>
      graft.ops.EntityRes.candidatePairsBanded(
        "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"), maxDist = 2,
        maxBlock = 12,
        bands = graft.ops.EntityRes.minhashBands(col("c_name"), shingleK = 3, numBands = 4))(
        t(s, d, "customer"))),
    // incremental (CDC-face) ER: a synthetic re-crawl batch — every
    // 3rd customer, ids shifted past the master, odd originals with
    // their last two name chars corrupted to "XX" (dist 2, still a
    // match) — pairs ONLY against the master (never batch x batch);
    // cap 20 on EITHER side refuses the fattest blocks, whose batch
    // rows then surface as novel in er_incremental_assign
    "er_incremental_pairs" -> ((s, d) =>
      graft.ops.EntityRes.incrementalPairs(
        "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"), maxDist = 2,
        maxBlock = 20)(incrementalBatch(t(s, d, "customer")), t(s, d, "customer"))),
    // the assignment face: smallest matched master cluster (master =
    // every row its own entity here), match count, best distance;
    // NULL cluster = novel (no match, or cap-refused block)
    "er_incremental_assign" -> ((s, d) =>
      graft.ops.EntityRes.incrementalAssign(
        "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"), maxDist = 2,
        maxBlock = 20, clusterCol = "c_custkey")(
        incrementalBatch(t(s, d, "customer")), t(s, d, "customer"))),
    // the CDC face's cluster-state update: a batch row matching
    // masters in TWO clusters is evidence they are one entity — this
    // face returns the (old_cluster -> new_cluster) remap the caller
    // applies to the master store, with transitive merges landing in
    // one component (label prop over the batch-touched cluster graph,
    // never master-sized). Master = every row its own cluster here,
    // so merges are master keys unified by shared batch matches
    "er_incremental_merges" -> ((s, d) =>
      graft.ops.EntityRes.incrementalMerges(
        "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"), maxDist = 2,
        maxBlock = 20, clusterCol = "c_custkey")(
        incrementalBatch(t(s, d, "customer")), t(s, d, "customer"))),
    // assignment under POST-merge ids: matched batch rows land on the
    // merged component's min cluster; novels become their own new
    // cluster (cluster_id = batch_id), still loud via n_matches = 0
    "er_incremental_resolve" -> ((s, d) =>
      graft.ops.EntityRes.incrementalResolve(
        "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"), maxDist = 2,
        maxBlock = 20, clusterCol = "c_custkey")(
        incrementalBatch(t(s, d, "customer")), t(s, d, "customer"))),
    // the CDC face's loud-cap report (oversizedBlocks' sibling): the
    // blocks incrementalPairs refuses — over cap 12 on EITHER side,
    // plus null-keyed blocks per side — with both sides' sizes so the
    // skew source (re-crawl shape vs master accumulation) is visible.
    // 51 rows at the gate corpus; the banded queries below are the
    // remedy for exactly these blocks
    "er_incremental_refused" -> ((s, d) =>
      graft.ops.EntityRes.refusedIncrementalBlocks(
        Seq("c_nationkey", "c_mktsegment"), maxBlock = 12)(
        incrementalBatch(t(s, d, "customer")), t(s, d, "customer"))),
    // the CDC face's hot-block remedy (round 15): at cap 12 the plain
    // incremental path refuses 51 of the gate corpus's 125 blocks
    // (every batch row of them a FALSE NOVEL); the QUAD bands rescue
    // the lost matches through the fine segments — the coarse {d4d5}
    // bucket and the fat {d6} buckets refuse per side, the loud-cap
    // contract unchanged — while batch rows still pair ONLY against
    // master (the banded join's sides are the two distinct tables)
    "er_incremental_banded" -> ((s, d) =>
      graft.ops.EntityRes.incrementalPairsBanded(
        "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"), maxDist = 2,
        maxBlock = 12, bands = quadBands)(
        incrementalBatch(t(s, d, "customer")), t(s, d, "customer"))),
    // the CDC remedy's recall accounting (two-sided
    // bandedSubBlockRecall): per hot block — over cap on EITHER side,
    // both sides' sizes riding along so the skew source is visible —
    // classify every uncapped batch x master match pair as kept
    // (collides in a bucket within cap on BOTH sides) / refused
    // (collides only where some side is over cap) / cross (no band
    // collision). Same cap/bands as er_incremental_banded
    "er_incremental_recall" -> ((s, d) =>
      graft.ops.EntityRes.incrementalBandedRecall(
        "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"), maxDist = 2,
        maxBlock = 12, bands = quadBands)(
        incrementalBatch(t(s, d, "customer")), t(s, d, "customer"))),
    // the CDC recall audit's SCALE face (mirrors
    // er_subblock_recall_sampled): deterministic md5 hash-sample over
    // hot BLOCK KEYS at 40% — per-block rows stay exact (bucket keys
    // include the block columns), the corpus-total estimate carries
    // only between-block sampling variance; OpsSpec pins sampled ⊂
    // full and the estimate tolerance, SCALE.md the measured deltas
    "er_incremental_recall_sampled" -> ((s, d) =>
      graft.ops.EntityRes.incrementalBandedRecall(
        "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"), maxDist = 2,
        maxBlock = 12, bands = quadBands, samplePct = 40)(
        incrementalBatch(t(s, d, "customer")), t(s, d, "customer"))),
    // the assignment face over the banded pair source: batch rows of
    // cap-refused blocks resolve through surviving band buckets
    // instead of all surfacing as false novels (at cap 12 the PLAIN
    // path would novel every batch row of the 51 hot blocks)
    "er_incremental_assign_banded" -> ((s, d) =>
      graft.ops.EntityRes.incrementalAssign(
        "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"), maxDist = 2,
        maxBlock = 12, clusterCol = "c_custkey", bands = Some(quadBands))(
        incrementalBatch(t(s, d, "customer")), t(s, d, "customer"))),
    // transitive match groups over the same pair graph (label
    // propagation); oracle replays a recursive reachability walk
    "er_groups" -> ((s, d) =>
      graft.ops.EntityRes.matchGroups(
        "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"), maxDist = 2)(
        t(s, d, "customer"))),
    // the banded remedy's END-TO-END face: transitive match groups
    // whose hot-block edges come from the QUAD-banded candidate set
    // (same cap/bands as er_pairs_banded); oracle composes the banded
    // pair replay with the recursive reachability walk
    "er_groups_banded" -> ((s, d) =>
      graft.ops.EntityRes.matchGroupsBanded(
        "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"), maxDist = 2,
        maxBlock = 12, bands = quadBands)(t(s, d, "customer"))),
    // the merge-log compactor gate (round 16 — the one operator the
    // r15 tree left ungated): a CHAINED multi-batch log over master =
    // every customer its own cluster — batch A logs k -> k-3 for every
    // 10th key, batch B logs k-3 -> k-9 for every 20th — so depth-2
    // chains ({k, k-3, k-9} -> k-9), single links ({k, k-3} -> k-3),
    // and untouched-cluster passthrough rows are all exercised in one
    // output; the oracle replays the closure with the er_groups
    // recursive reachability walk over both edge orientations
    "er_merge_log_compact" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val k = col("c_custkey")
      val log = cust.where(k % 10 === 0 && k >= 10)
        .select(k.as("old_cluster"), (k - 3).as("new_cluster"))
        .unionByName(cust.where(k % 20 === 0 && k >= 20)
          .select((k - 3).as("old_cluster"), (k - 9).as("new_cluster")))
      graft.ops.EntityRes.applyMergeLog("cluster", log)(
        cust.select(col("c_custkey"), col("c_name"), col("c_custkey").as("cluster")))
    }),
    // the refinement ladder's EVIDENCE face (round 16): per band of
    // the wide positional set {d4d5},{d6d7},{d8d9} over hot blocks at
    // cap 12, how many exploded rows land in buckets the never-waived
    // cap refuses. On TPC-H names the coarse {d4d5} band is 100%
    // refused (every row shares the high-order digits — the exact 16x
    // decay SCALE.md r15 measured) while the suffix bands survive —
    // the known-hot-band fixture the recommendation gate consumes
    "er_band_evidence" -> ((s, d) =>
      graft.ops.EntityRes.bandEvidence(
        "c_name", Seq("c_nationkey", "c_mktsegment"), maxBlock = 12,
        spec = graft.ops.EntityRes.splitSegments(13, 6, 3))(t(s, d, "customer"))),
    // the DETERMINISTIC refinement step over the same evidence: drop
    // bands with refusal fraction > 0.5, re-split the surviving hull
    // into maxDist+1 = 3 pigeonhole segments. On this corpus: {d4d5}
    // drops, hull = chars 15..18, output = {d6},{d7},{d8d9} — the
    // EXACT refinement round 15 derived by hand (recall 0.960
    // scale-invariant, SCALE.md), now executable and gated
    "er_recommend_bands" -> ((s, d) =>
      graft.ops.EntityRes.recommendSegBands(
        "c_name", Seq("c_nationkey", "c_mktsegment"), maxBlock = 12,
        spec = graft.ops.EntityRes.splitSegments(13, 6, 3),
        maxDist = 2, tau = 0.5)(t(s, d, "customer"))),
    // dedup-threshold tuning: pair counts per 0.1 jaccard band with
    // the at-or-above cumulative — "what would threshold t remove".
    // Plain corpus: its bimodal curve (a fat low-band + the 0.9
    // near-dup spike, nothing between) is exactly the shape the
    // diagnostic exists to reveal — any threshold in the gap removes
    // the same pairs. (The doubled frame was tried and reverted: 4×
    // the shared-shingle join for one more band, 6.7 s vs 1.7 s.)
    "dedup_threshold_curve" -> ((s, d) =>
      Dedup.jaccardThresholdCurve(t(s, d, "documents"), "doc_id", "text",
        minJaccard = 0.05)),
    // the CAPPED twin: maxDocFreq=16 bounds every shingle's posting
    // list (Σdf² → Σmin(df,16)², the flattened scale curve in
    // SCALE.md). The gate corpus's hottest shingle has df=7, so the
    // cap provably drops nothing at sf0.01 — the oracle is the SAME
    // SQL as dedup_threshold_curve, making capped==uncapped a
    // hash-checked identity, not an assertion
    "dedup_threshold_curve_capped" -> ((s, d) =>
      Dedup.jaccardThresholdCurve(t(s, d, "documents"), "doc_id", "text",
        minJaccard = 0.05, maxDocFreq = Some(16))),
    // release dashboard: per-source totals -> rule-pass -> exact-dedup
    // keep, with stage retention fractions. Doubled corpus so the
    // dedup stage has real work (every text twice)
    "curation_funnel" -> ((s, d) =>
      graft.llm.Selection.curationFunnel(doubledDocs(s, d),
        "doc_id", "text", "source", stopwords = Seq("the", "a"))),
    // provenance view of exact-substring dedup: which source pairs
    // share verbatim 30-grams, rolled up from the doc-pair view
    "overlap_source_matrix" -> ((s, d) =>
      graft.llm.Dedup.crossSourceOverlap(
        t(s, d, "documents"), "doc_id", "text", "source", k = 30)),
    // exact-substring span cutting: merged removal spans over
    // corpus-duplicated 30-char grams (Lee et al. ExactSubstr's cut
    // list; dedup_kgram_coverage is the score-only audit)
    "span_repeat_spans" -> ((s, d) =>
      graft.llm.Dedup.kgramDupSpans(t(s, d, "documents"), "doc_id", "text", k = 30)),
    "span_clean_stats" -> ((s, d) =>
      graft.llm.Dedup.spanCleanStats(t(s, d, "documents"), "doc_id", "text", k = 30)),
    // the cut itself: training copy with duplicated spans removed
    "span_cut_text" -> ((s, d) =>
      graft.llm.Dedup.cutSpans(t(s, d, "documents"), "doc_id", "text", k = 30)
        .select("doc_id", "clean_text")),
    // near-dedup keeping each cluster's best-quality doc (ttr score)
    // instead of its lowest id — the production keep policy
    "dedup_near_keep_best" -> ((s, d) => {
      val toks = split(col("text"), " ")
      graft.llm.Dedup.nearDedupKeepBest(
        t(s, d, "documents").select(col("doc_id"), col("text"),
          (size(array_distinct(toks)).cast("double") / size(toks)).as("ttr")),
        "doc_id", "text", "ttr", threshold = 0.5)
        .select("doc_id", "ttr")
    }),
  )

  /** Shared by dedup_jaccard_audit and its capped twin — the cap (16)
    * exceeds the gate corpus's hottest shingle df (7), so both gate
    * against the SAME uncapped replay (the thresholdCurveSql pattern).
    */
  private val jaccardAuditSql =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |sh AS (SELECT doc_id,
      |         CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
      |              ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
      |                     i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) END AS s
      |       FROM toks)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) >= 0.3""".stripMargin

  val oracleSql: Map[String, String] = reg(
    "dedup_exact" ->
      s"""SELECT doc_id, text, lang, source, n_chars
         |FROM (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM $doubledDocsSql)
         |WHERE rn = 1""".stripMargin,
    "dedup_exact_stats" ->
      s"SELECT md5(text) AS content_md5, count(*) AS n_copies, min(doc_id) AS keep_id FROM $doubledDocsSql GROUP BY 1",
    "dedup_incremental" ->
      """WITH batch AS (
        |  SELECT doc_id + 10000 AS doc_id,
        |    CASE WHEN (doc_id + 10000) % 2 = 1 THEN text || ' fresh' ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id, text FROM batch
        |WHERE md5(text) NOT IN (SELECT md5(text) FROM documents)""".stripMargin,
    "dedup_minhash_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (SELECT doc_id,
        |         CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |              ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
        |                     i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) END AS s
        |       FROM toks)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) >= 0.5""".stripMargin,
    "dedup_jaccard_audit" -> jaccardAuditSql,
    // IDENTICAL oracle by design — the capped==uncapped hash pin
    "dedup_jaccard_audit_capped" -> jaccardAuditSql,
    // cluster-size histogram replay: CC walk at the 0.5 near-dup
    // threshold, plus the singleton row from the corpus complement
    "dedup_cluster_sizes" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (SELECT doc_id,
        |         CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |              ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
        |                     i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) END AS s
        |       FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
        |edges AS (SELECT id_a AS s, id_b AS t FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |walk(v, r) AS (
        |  SELECT s, s FROM (SELECT DISTINCT s FROM edges) t0
        |  UNION
        |  SELECT e.t, w.r FROM walk w JOIN edges e ON e.s = w.v),
        |cc AS (SELECT v AS doc_id, min(r) AS cluster_id FROM walk GROUP BY 1),
        |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY 1),
        |hist AS (SELECT cluster_size, count(*) AS n_clusters FROM sizes GROUP BY 1),
        |single AS (SELECT CAST(1 AS BIGINT) AS cluster_size,
        |                  (SELECT count(*) FROM documents) - (SELECT count(*) FROM cc) AS n_clusters)
        |SELECT cluster_size, CAST(SUM(n_clusters) AS BIGINT) AS n_clusters
        |FROM (SELECT * FROM hist UNION ALL SELECT * FROM single WHERE n_clusters > 0)
        |GROUP BY 1""".stripMargin,
    // triangle census replay: the same a<b<c oriented two-join over
    // the 0.3 jaccard pair list
    "dedup_graph_triangles" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (SELECT doc_id,
        |         CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |              ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
        |                     i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) END AS s
        |       FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) >= 0.3),
        |v AS (SELECT count(DISTINCT x) AS n_vertices FROM
        |        (SELECT id_a AS x FROM pairs UNION ALL SELECT id_b FROM pairs)),
        |ne AS (SELECT count(*) AS n_edges FROM pairs),
        |tri AS (SELECT count(*) AS n_triangles FROM pairs e1
        |        JOIN pairs e2 ON e1.id_b = e2.id_a
        |        JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b)
        |SELECT v.n_vertices, ne.n_edges, tri.n_triangles FROM v, ne, tri""".stripMargin,
    // incremental near-dedup replay: exact shingle jaccard (the
    // corpus-assumption spec pins LSH == exact at gate scales), batch
    // vs store first, then keep-lowest among the store-survivors
    "dedup_incremental_near" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (SELECT doc_id,
        |         CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |              ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
        |                     i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) END AS s
        |       FROM toks),
        |storedrop AS (
        |  SELECT DISTINCT a.doc_id
        |  FROM sh a JOIN sh b ON a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
        |surv AS (
        |  SELECT doc_id FROM documents
        |  WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT doc_id FROM storedrop)),
        |batchdrop AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE a.doc_id IN (SELECT doc_id FROM surv)
        |    AND b.doc_id IN (SELECT doc_id FROM surv)
        |    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) >= 0.5)
        |SELECT * FROM documents
        |WHERE doc_id IN (SELECT doc_id FROM surv)
        |  AND doc_id NOT IN (SELECT doc_id FROM batchdrop)""".stripMargin,
    // leakage replay: the jaccard-audit pair CTE, each side's split
    // recomputed from its id by the sample_hash_split bucket rule
    "split_leakage_audit" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (SELECT doc_id,
        |         CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |              ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
        |                     i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) END AS s
        |       FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) >= 0.3),
        |lab AS (
        |  SELECT id_a, id_b, jaccard,
        |    CASE WHEN CAST(concat('0x', substr(md5(CAST(id_a AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 5 THEN 'val'
        |         WHEN CAST(concat('0x', substr(md5(CAST(id_a AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 10 THEN 'test'
        |         ELSE 'train' END AS split_a,
        |    CASE WHEN CAST(concat('0x', substr(md5(CAST(id_b AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 5 THEN 'val'
        |         WHEN CAST(concat('0x', substr(md5(CAST(id_b AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 10 THEN 'test'
        |         ELSE 'train' END AS split_b
        |  FROM pairs)
        |SELECT * FROM lab WHERE split_a <> split_b""".stripMargin,
    "er_pairs" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |       a.c_name AS name_a, b.c_name AS name_b,
        |       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        | AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2""".stripMargin,
    // replay both paths: small blocks pair on the block key, hot ones
    // on block + last-2-chars sub-key, same maxBlock bound on both
    "er_pairs_subblocked" ->
      """WITH sz AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
        |            FROM customer GROUP BY 1, 2),
        |small AS (SELECT c.* FROM customer c
        |          JOIN sz ON c.c_nationkey = sz.c_nationkey AND c.c_mktsegment = sz.c_mktsegment
        |          WHERE sz.n <= 12),
        |hot AS (SELECT c.*, substr(c.c_name, length(c.c_name) - 1, 2) AS sb
        |        FROM customer c
        |        JOIN sz ON c.c_nationkey = sz.c_nationkey AND c.c_mktsegment = sz.c_mktsegment
        |        WHERE sz.n > 12),
        |hsz AS (SELECT c_nationkey, c_mktsegment, sb, count(*) AS m FROM hot GROUP BY 1, 2, 3),
        |hkept AS (SELECT h.* FROM hot h
        |          JOIN hsz ON h.c_nationkey = hsz.c_nationkey AND h.c_mktsegment = hsz.c_mktsegment
        |                  AND h.sb = hsz.sb
        |          WHERE hsz.m <= 12)
        |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |       a.c_name AS name_a, b.c_name AS name_b,
        |       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
        |FROM small a JOIN small b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        | AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2
        |UNION ALL
        |SELECT a.c_custkey, b.c_custkey, a.c_name, b.c_name,
        |       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER)
        |FROM hkept a JOIN hkept b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        | AND a.sb = b.sb AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2""".stripMargin,
    // replay: sub-group sizes within hot blocks, kept only over the cap
    "er_refused_subblocks" ->
      """WITH sz AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
        |            FROM customer GROUP BY 1, 2),
        |hot AS (SELECT c.*, substr(c.c_name, length(c.c_name), 1) AS sb
        |        FROM customer c
        |        JOIN sz ON c.c_nationkey = sz.c_nationkey AND c.c_mktsegment = sz.c_mktsegment
        |        WHERE sz.n > 3)
        |SELECT c_nationkey, c_mktsegment, sb AS sub_key, count(*) AS block_n
        |FROM hot GROUP BY 1, 2, 3 HAVING count(*) > 3 OR sb IS NULL""".stripMargin,
    // replay the classification: hot blocks (n > 12), sub-key = last
    // 2 name chars, kept iff same sub-key AND refined size <= 12
    "er_subblock_recall" ->
      """WITH sz AS (SELECT c_nationkey, c_mktsegment, count(*) AS block_n
        |            FROM customer GROUP BY 1, 2),
        |hot AS (SELECT c.*, sz.block_n,
        |               substr(c.c_name, length(c.c_name) - 1, 2) AS sb
        |        FROM customer c
        |        JOIN sz ON c.c_nationkey = sz.c_nationkey AND c.c_mktsegment = sz.c_mktsegment
        |        WHERE sz.block_n > 12),
        |hsz AS (SELECT c_nationkey, c_mktsegment, sb, count(*) AS m FROM hot GROUP BY 1, 2, 3),
        |h2 AS (SELECT hot.*, hsz.m FROM hot
        |       JOIN hsz ON hot.c_nationkey = hsz.c_nationkey
        |               AND hot.c_mktsegment = hsz.c_mktsegment AND hot.sb = hsz.sb),
        |p AS (SELECT a.c_nationkey, a.c_mktsegment, a.block_n,
        |             CASE WHEN a.sb = b.sb AND a.m <= 12 THEN 'kept'
        |                  WHEN a.sb = b.sb THEN 'refused'
        |                  ELSE 'cross' END AS cls
        |      FROM h2 a JOIN h2 b
        |        ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        |       AND a.c_custkey < b.c_custkey
        |      WHERE levenshtein(a.c_name, b.c_name) <= 2)
        |SELECT c_nationkey, c_mktsegment, block_n,
        |       count(*) AS n_pairs_uncapped,
        |       CAST(sum(CASE WHEN cls = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(sum(CASE WHEN cls = 'cross' THEN 1 ELSE 0 END) AS BIGINT) AS n_lost_cross,
        |       CAST(sum(CASE WHEN cls = 'refused' THEN 1 ELSE 0 END) AS BIGINT) AS n_lost_refused,
        |       CAST(sum(CASE WHEN cls = 'kept' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS recall
        |FROM p GROUP BY 1, 2, 3""".stripMargin,
    // the full-audit SQL with the deterministic 40%-of-hot-blocks md5
    // filter — the same hashBucket construction every sampler replays
    "er_subblock_recall_sampled" ->
      """WITH sz AS (SELECT c_nationkey, c_mktsegment, count(*) AS block_n
        |            FROM customer GROUP BY 1, 2),
        |hot AS (SELECT c.*, sz.block_n,
        |               substr(c.c_name, length(c.c_name) - 1, 2) AS sb
        |        FROM customer c
        |        JOIN sz ON c.c_nationkey = sz.c_nationkey AND c.c_mktsegment = sz.c_mktsegment
        |        WHERE sz.block_n > 12
        |          AND CAST(concat('0x', substr(md5(concat_ws('|',
        |                CAST(sz.c_nationkey AS VARCHAR),
        |                CAST(sz.c_mktsegment AS VARCHAR))), 1, 15)) AS BIGINT) % 100 < 40),
        |hsz AS (SELECT c_nationkey, c_mktsegment, sb, count(*) AS m FROM hot GROUP BY 1, 2, 3),
        |h2 AS (SELECT hot.*, hsz.m FROM hot
        |       JOIN hsz ON hot.c_nationkey = hsz.c_nationkey
        |               AND hot.c_mktsegment = hsz.c_mktsegment AND hot.sb = hsz.sb),
        |p AS (SELECT a.c_nationkey, a.c_mktsegment, a.block_n,
        |             CASE WHEN a.sb = b.sb AND a.m <= 12 THEN 'kept'
        |                  WHEN a.sb = b.sb THEN 'refused'
        |                  ELSE 'cross' END AS cls
        |      FROM h2 a JOIN h2 b
        |        ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        |       AND a.c_custkey < b.c_custkey
        |      WHERE levenshtein(a.c_name, b.c_name) <= 2)
        |SELECT c_nationkey, c_mktsegment, block_n,
        |       count(*) AS n_pairs_uncapped,
        |       CAST(sum(CASE WHEN cls = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(sum(CASE WHEN cls = 'cross' THEN 1 ELSE 0 END) AS BIGINT) AS n_lost_cross,
        |       CAST(sum(CASE WHEN cls = 'refused' THEN 1 ELSE 0 END) AS BIGINT) AS n_lost_refused,
        |       CAST(sum(CASE WHEN cls = 'kept' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS recall
        |FROM p GROUP BY 1, 2, 3""".stripMargin,
    // replay both paths: small blocks pair on the block key; hot rows
    // land in one bucket per QUAD band (band 0 = the coarse {d4d5}
    // segment; bands 1-3 = positional suffix segments, length-tagged,
    // floor(i*len/3) boundaries — the exact Spark arithmetic) and
    // pair within within-cap buckets, DISTINCT over multi-band dups
    "er_pairs_banded" ->
      """WITH sz AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
        |            FROM customer GROUP BY 1, 2),
        |small AS (SELECT c.* FROM customer c
        |          JOIN sz ON c.c_nationkey = sz.c_nationkey AND c.c_mktsegment = sz.c_mktsegment
        |          WHERE sz.n <= 12),
        |hot AS (SELECT c.*, substr(c.c_name, 15, 4) AS s4 FROM customer c
        |        JOIN sz ON c.c_nationkey = sz.c_nationkey AND c.c_mktsegment = sz.c_mktsegment
        |        WHERE sz.n > 12),
        |bands AS (SELECT h.*, b.band,
        |            CASE WHEN b.band = 0
        |              THEN concat('2:', substr(h.c_name, 13, 2))
        |              ELSE concat(CAST(length(h.s4) AS VARCHAR), ':',
        |                substr(h.s4,
        |                  CAST(floor((b.band - 1) * length(h.s4) / 3) AS INT) + 1,
        |                  CAST(floor(b.band * length(h.s4) / 3) AS INT)
        |                    - CAST(floor((b.band - 1) * length(h.s4) / 3) AS INT)))
        |            END AS bkey
        |          FROM hot h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b),
        |bsz AS (SELECT c_nationkey, c_mktsegment, band, bkey, count(*) AS m
        |        FROM bands GROUP BY 1, 2, 3, 4),
        |bkept AS (SELECT bands.* FROM bands
        |          JOIN bsz ON bands.c_nationkey = bsz.c_nationkey
        |                  AND bands.c_mktsegment = bsz.c_mktsegment
        |                  AND bands.band = bsz.band AND bands.bkey = bsz.bkey
        |          WHERE bsz.m <= 12)
        |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |       a.c_name AS name_a, b.c_name AS name_b,
        |       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
        |FROM small a JOIN small b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        | AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2
        |UNION ALL
        |SELECT DISTINCT a.c_custkey, b.c_custkey, a.c_name, b.c_name,
        |       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER)
        |FROM bkept a JOIN bkept b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        | AND a.band = b.band AND a.bkey = b.bkey AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2""".stripMargin,
    // replay the OR-amplified classification: a hot-block match pair
    // is kept iff ANY band collision sits in a within-cap bucket,
    // refused iff it collides only over-cap, cross iff no collision
    "er_banded_recall" ->
      """WITH sz AS (SELECT c_nationkey, c_mktsegment, count(*) AS block_n
        |            FROM customer GROUP BY 1, 2),
        |hot AS (SELECT c.*, sz.block_n, substr(c.c_name, 15, 4) AS s4 FROM customer c
        |        JOIN sz ON c.c_nationkey = sz.c_nationkey AND c.c_mktsegment = sz.c_mktsegment
        |        WHERE sz.block_n > 12),
        |bands AS (SELECT h.c_nationkey, h.c_mktsegment, h.c_custkey, b.band,
        |            CASE WHEN b.band = 0
        |              THEN concat('2:', substr(h.c_name, 13, 2))
        |              ELSE concat(CAST(length(h.s4) AS VARCHAR), ':',
        |                substr(h.s4,
        |                  CAST(floor((b.band - 1) * length(h.s4) / 3) AS INT) + 1,
        |                  CAST(floor(b.band * length(h.s4) / 3) AS INT)
        |                    - CAST(floor((b.band - 1) * length(h.s4) / 3) AS INT)))
        |            END AS bkey
        |          FROM hot h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b),
        |bsz AS (SELECT c_nationkey, c_mktsegment, band, bkey, count(*) AS m
        |        FROM bands GROUP BY 1, 2, 3, 4),
        |bm AS (SELECT bands.*, bsz.m FROM bands
        |       JOIN bsz ON bands.c_nationkey = bsz.c_nationkey
        |               AND bands.c_mktsegment = bsz.c_mktsegment
        |               AND bands.band = bsz.band AND bands.bkey = bsz.bkey),
        |coll AS (SELECT a.c_nationkey, a.c_mktsegment,
        |                a.c_custkey AS id_a, b.c_custkey AS id_b,
        |                max(CASE WHEN a.m <= 12 THEN 1 ELSE 0 END) AS any_kept
        |         FROM bm a JOIN bm b
        |           ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        |          AND a.band = b.band AND a.bkey = b.bkey AND a.c_custkey < b.c_custkey
        |         GROUP BY 1, 2, 3, 4),
        |p AS (SELECT a.c_nationkey, a.c_mktsegment, a.block_n,
        |             a.c_custkey AS id_a, b.c_custkey AS id_b
        |      FROM hot a JOIN hot b
        |        ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        |       AND a.c_custkey < b.c_custkey
        |      WHERE levenshtein(a.c_name, b.c_name) <= 2),
        |cls AS (SELECT p.c_nationkey, p.c_mktsegment, p.block_n,
        |               CASE WHEN c.any_kept = 1 THEN 'kept'
        |                    WHEN c.any_kept = 0 THEN 'refused'
        |                    ELSE 'cross' END AS cls
        |        FROM p LEFT JOIN coll c
        |          ON p.c_nationkey = c.c_nationkey AND p.c_mktsegment = c.c_mktsegment
        |         AND p.id_a = c.id_a AND p.id_b = c.id_b)
        |SELECT c_nationkey, c_mktsegment, block_n,
        |       count(*) AS n_pairs_uncapped,
        |       CAST(sum(CASE WHEN cls = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(sum(CASE WHEN cls = 'cross' THEN 1 ELSE 0 END) AS BIGINT) AS n_lost_cross,
        |       CAST(sum(CASE WHEN cls = 'refused' THEN 1 ELSE 0 END) AS BIGINT) AS n_lost_refused,
        |       CAST(sum(CASE WHEN cls = 'kept' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS recall
        |FROM cls GROUP BY 1, 2, 3""".stripMargin,
    // replay the md5 MinHash bands bit-for-bit: band b's key is the
    // min over char 3-grams of the 60-bit md5 prefix of "b:shingle"
    "er_pairs_minhash_sub" ->
      """WITH sz AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
        |            FROM customer GROUP BY 1, 2),
        |small AS (SELECT c.* FROM customer c
        |          JOIN sz ON c.c_nationkey = sz.c_nationkey AND c.c_mktsegment = sz.c_mktsegment
        |          WHERE sz.n <= 12),
        |hot AS (SELECT c.* FROM customer c
        |        JOIN sz ON c.c_nationkey = sz.c_nationkey AND c.c_mktsegment = sz.c_mktsegment
        |        WHERE sz.n > 12),
        |bands AS (SELECT h.*, b.band,
        |            CAST(list_min(list_transform(
        |              generate_series(1, greatest(length(h.c_name) - 2, 1)),
        |              i -> CAST(concat('0x', substr(md5(concat(CAST(b.band AS VARCHAR), ':',
        |                     substr(h.c_name, i, 3))), 1, 15)) AS BIGINT))) AS VARCHAR) AS bkey
        |          FROM hot h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b),
        |bsz AS (SELECT c_nationkey, c_mktsegment, band, bkey, count(*) AS m
        |        FROM bands GROUP BY 1, 2, 3, 4),
        |bkept AS (SELECT bands.* FROM bands
        |          JOIN bsz ON bands.c_nationkey = bsz.c_nationkey
        |                  AND bands.c_mktsegment = bsz.c_mktsegment
        |                  AND bands.band = bsz.band AND bands.bkey = bsz.bkey
        |          WHERE bsz.m <= 12)
        |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |       a.c_name AS name_a, b.c_name AS name_b,
        |       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
        |FROM small a JOIN small b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        | AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2
        |UNION ALL
        |SELECT DISTINCT a.c_custkey, b.c_custkey, a.c_name, b.c_name,
        |       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER)
        |FROM bkept a JOIN bkept b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        | AND a.band = b.band AND a.bkey = b.bkey AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2""".stripMargin,
    // batch construction mirrored (corruption CASE on the ORIGINAL
    // key, then the id shift), both sides' block caps, batch x master
    // equi-join only
    "er_incremental_pairs" ->
      """WITH batch AS (
        |  SELECT c_custkey + 100000 AS id,
        |         CASE WHEN c_custkey % 2 = 0 THEN c_name
        |              ELSE concat(substr(c_name, 1, 16), 'XX') END AS name,
        |         c_nationkey, c_mktsegment
        |  FROM customer WHERE c_custkey % 3 = 0),
        |bsz AS (SELECT c_nationkey, c_mktsegment, count(*) AS n FROM batch GROUP BY 1, 2),
        |msz AS (SELECT c_nationkey, c_mktsegment, count(*) AS n FROM customer GROUP BY 1, 2),
        |bok AS (SELECT b.* FROM batch b
        |        JOIN bsz ON b.c_nationkey = bsz.c_nationkey AND b.c_mktsegment = bsz.c_mktsegment
        |        WHERE bsz.n <= 20),
        |mok AS (SELECT c.* FROM customer c
        |        JOIN msz ON c.c_nationkey = msz.c_nationkey AND c.c_mktsegment = msz.c_mktsegment
        |        WHERE msz.n <= 20)
        |SELECT b.id AS batch_id, m.c_custkey AS master_id,
        |       b.name AS name_batch, m.c_name AS name_master,
        |       CAST(levenshtein(b.name, m.c_name) AS INTEGER) AS dist
        |FROM bok b JOIN mok m
        |  ON b.c_nationkey = m.c_nationkey AND b.c_mktsegment = m.c_mktsegment
        |WHERE levenshtein(b.name, m.c_name) <= 2""".stripMargin,
    // pairs replay -> smallest matched master id per batch row; the
    // left join keeps novel rows with NULL cluster and 0 matches
    "er_incremental_assign" ->
      """WITH batch AS (
        |  SELECT c_custkey + 100000 AS id,
        |         CASE WHEN c_custkey % 2 = 0 THEN c_name
        |              ELSE concat(substr(c_name, 1, 16), 'XX') END AS name,
        |         c_nationkey, c_mktsegment
        |  FROM customer WHERE c_custkey % 3 = 0),
        |bsz AS (SELECT c_nationkey, c_mktsegment, count(*) AS n FROM batch GROUP BY 1, 2),
        |msz AS (SELECT c_nationkey, c_mktsegment, count(*) AS n FROM customer GROUP BY 1, 2),
        |bok AS (SELECT b.* FROM batch b
        |        JOIN bsz ON b.c_nationkey = bsz.c_nationkey AND b.c_mktsegment = bsz.c_mktsegment
        |        WHERE bsz.n <= 20),
        |mok AS (SELECT c.* FROM customer c
        |        JOIN msz ON c.c_nationkey = msz.c_nationkey AND c.c_mktsegment = msz.c_mktsegment
        |        WHERE msz.n <= 20),
        |p AS (SELECT b.id AS batch_id, m.c_custkey AS master_id,
        |             CAST(levenshtein(b.name, m.c_name) AS INTEGER) AS dist
        |      FROM bok b JOIN mok m
        |        ON b.c_nationkey = m.c_nationkey AND b.c_mktsegment = m.c_mktsegment
        |      WHERE levenshtein(b.name, m.c_name) <= 2),
        |agg AS (SELECT batch_id, CAST(min(master_id) AS BIGINT) AS cluster_id,
        |               count(*) AS n_matches, min(dist) AS best_dist
        |        FROM p GROUP BY 1)
        |SELECT b.id AS batch_id, agg.cluster_id,
        |       CAST(COALESCE(agg.n_matches, 0) AS BIGINT) AS n_matches, agg.best_dist
        |FROM batch b LEFT JOIN agg ON b.id = agg.batch_id""".stripMargin,
    // pairs replay (er_incremental_pairs' CTEs) -> cluster-graph
    // edges (each matched master vs its batch row's min match) ->
    // recursive component walk (er_groups' pattern) -> remap rows
    // where the component min differs from the cluster itself
    "er_incremental_merges" ->
      """WITH RECURSIVE batch AS (
        |  SELECT c_custkey + 100000 AS id,
        |         CASE WHEN c_custkey % 2 = 0 THEN c_name
        |              ELSE concat(substr(c_name, 1, 16), 'XX') END AS name,
        |         c_nationkey, c_mktsegment
        |  FROM customer WHERE c_custkey % 3 = 0),
        |bsz AS (SELECT c_nationkey, c_mktsegment, count(*) AS n FROM batch GROUP BY 1, 2),
        |msz AS (SELECT c_nationkey, c_mktsegment, count(*) AS n FROM customer GROUP BY 1, 2),
        |bok AS (SELECT b.* FROM batch b
        |        JOIN bsz ON b.c_nationkey = bsz.c_nationkey AND b.c_mktsegment = bsz.c_mktsegment
        |        WHERE bsz.n <= 20),
        |mok AS (SELECT c.* FROM customer c
        |        JOIN msz ON c.c_nationkey = msz.c_nationkey AND c.c_mktsegment = msz.c_mktsegment
        |        WHERE msz.n <= 20),
        |p AS (SELECT b.id AS batch_id, m.c_custkey AS master_id
        |      FROM bok b JOIN mok m
        |        ON b.c_nationkey = m.c_nationkey AND b.c_mktsegment = m.c_mktsegment
        |      WHERE levenshtein(b.name, m.c_name) <= 2),
        |minc AS (SELECT batch_id, min(master_id) AS c0 FROM p GROUP BY 1),
        |ce AS (SELECT DISTINCT p.master_id AS id_a, minc.c0 AS id_b
        |       FROM p JOIN minc ON p.batch_id = minc.batch_id
        |       WHERE p.master_id != minc.c0),
        |edges AS (SELECT id_a AS s, id_b AS t FROM ce UNION SELECT id_b, id_a FROM ce),
        |walk(v, r) AS (
        |  SELECT s, s FROM (SELECT DISTINCT s FROM edges) t0
        |  UNION
        |  SELECT e.t, w.r FROM walk w JOIN edges e ON e.s = w.v)
        |SELECT v AS old_cluster, min(r) AS new_cluster
        |FROM walk GROUP BY 1 HAVING v != min(r)""".stripMargin,
    // merges replay composed back onto the assignment: min matched
    // cluster -> its component min; novels fall through to batch_id
    "er_incremental_resolve" ->
      """WITH RECURSIVE batch AS (
        |  SELECT c_custkey + 100000 AS id,
        |         CASE WHEN c_custkey % 2 = 0 THEN c_name
        |              ELSE concat(substr(c_name, 1, 16), 'XX') END AS name,
        |         c_nationkey, c_mktsegment
        |  FROM customer WHERE c_custkey % 3 = 0),
        |bsz AS (SELECT c_nationkey, c_mktsegment, count(*) AS n FROM batch GROUP BY 1, 2),
        |msz AS (SELECT c_nationkey, c_mktsegment, count(*) AS n FROM customer GROUP BY 1, 2),
        |bok AS (SELECT b.* FROM batch b
        |        JOIN bsz ON b.c_nationkey = bsz.c_nationkey AND b.c_mktsegment = bsz.c_mktsegment
        |        WHERE bsz.n <= 20),
        |mok AS (SELECT c.* FROM customer c
        |        JOIN msz ON c.c_nationkey = msz.c_nationkey AND c.c_mktsegment = msz.c_mktsegment
        |        WHERE msz.n <= 20),
        |p AS (SELECT b.id AS batch_id, m.c_custkey AS master_id,
        |             CAST(levenshtein(b.name, m.c_name) AS INTEGER) AS dist
        |      FROM bok b JOIN mok m
        |        ON b.c_nationkey = m.c_nationkey AND b.c_mktsegment = m.c_mktsegment
        |      WHERE levenshtein(b.name, m.c_name) <= 2),
        |agg AS (SELECT batch_id, min(master_id) AS c0, count(*) AS n,
        |               min(dist) AS bd FROM p GROUP BY 1),
        |ce AS (SELECT DISTINCT p.master_id AS id_a, agg.c0 AS id_b
        |       FROM p JOIN agg ON p.batch_id = agg.batch_id
        |       WHERE p.master_id != agg.c0),
        |edges AS (SELECT id_a AS s, id_b AS t FROM ce UNION SELECT id_b, id_a FROM ce),
        |walk(v, r) AS (
        |  SELECT s, s FROM (SELECT DISTINCT s FROM edges) t0
        |  UNION
        |  SELECT e.t, w.r FROM walk w JOIN edges e ON e.s = w.v),
        |comp AS (SELECT v, min(r) AS newc FROM walk GROUP BY 1)
        |SELECT b.id AS batch_id,
        |       CAST(coalesce(comp.newc, agg.c0, b.id) AS BIGINT) AS cluster_id,
        |       CAST(coalesce(agg.n, 0) AS BIGINT) AS n_matches,
        |       agg.bd AS best_dist
        |FROM batch b LEFT JOIN agg ON b.id = agg.batch_id
        |             LEFT JOIN comp ON agg.c0 = comp.v""".stripMargin,
    // per-side size replay of the refusal set (the hot CTE's
    // predicate, plus the per-side null-key arms — vacuous on TPC-H's
    // non-null keys, replayed so a schema change red-gates honestly)
    "er_incremental_refused" ->
      """WITH batch AS (
        |  SELECT c_custkey + 100000 AS id,
        |         CASE WHEN c_custkey % 2 = 0 THEN c_name
        |              ELSE concat(substr(c_name, 1, 16), 'XX') END AS name,
        |         c_nationkey, c_mktsegment
        |  FROM customer WHERE c_custkey % 3 = 0),
        |bz AS (SELECT c_nationkey, c_mktsegment, count(*) AS n FROM batch GROUP BY 1, 2),
        |mz AS (SELECT c_nationkey, c_mktsegment, count(*) AS n FROM customer GROUP BY 1, 2)
        |SELECT c_nationkey, c_mktsegment,
        |       coalesce(bz.n, 0) AS batch_n, coalesce(mz.n, 0) AS master_n
        |FROM bz FULL JOIN mz USING (c_nationkey, c_mktsegment)
        |WHERE coalesce(bz.n, 0) > 12 OR coalesce(mz.n, 0) > 12
        |   OR c_nationkey IS NULL OR c_mktsegment IS NULL""".stripMargin,
    // two-sided banded replay: hot = over cap 12 on EITHER side; each
    // side bands its hot rows and keeps a row in a bucket iff its OWN
    // side's bucket is within cap; a pair needs a shared surviving
    // bucket in some band
    "er_incremental_banded" ->
      s"""WITH ${incBandedCtes()},
        |okb AS (SELECT b.* FROM batch b LEFT JOIN hot h
        |        ON b.c_nationkey = h.c_nationkey AND b.c_mktsegment = h.c_mktsegment
        |        WHERE h.c_nationkey IS NULL),
        |okm AS (SELECT c.* FROM customer c LEFT JOIN hot h
        |        ON c.c_nationkey = h.c_nationkey AND c.c_mktsegment = h.c_mktsegment
        |        WHERE h.c_nationkey IS NULL),
        |keptb AS (SELECT bandb.* FROM bandb
        |          JOIN sb ON bandb.c_nationkey = sb.c_nationkey
        |                 AND bandb.c_mktsegment = sb.c_mktsegment
        |                 AND bandb.band = sb.band AND bandb.bkey = sb.bkey
        |          WHERE sb.m <= 12),
        |keptm AS (SELECT bandm.* FROM bandm
        |          JOIN sm ON bandm.c_nationkey = sm.c_nationkey
        |                 AND bandm.c_mktsegment = sm.c_mktsegment
        |                 AND bandm.band = sm.band AND bandm.bkey = sm.bkey
        |          WHERE sm.m <= 12)
        |SELECT b.id AS batch_id, m.c_custkey AS master_id,
        |       b.name AS name_batch, m.c_name AS name_master,
        |       CAST(levenshtein(b.name, m.c_name) AS INTEGER) AS dist
        |FROM okb b JOIN okm m
        |  ON b.c_nationkey = m.c_nationkey AND b.c_mktsegment = m.c_mktsegment
        |WHERE levenshtein(b.name, m.c_name) <= 2
        |UNION ALL
        |SELECT DISTINCT b.id, m.c_custkey, b.name, m.c_name,
        |       CAST(levenshtein(b.name, m.c_name) AS INTEGER)
        |FROM keptb b JOIN keptm m
        |  ON b.c_nationkey = m.c_nationkey AND b.c_mktsegment = m.c_mktsegment
        | AND b.band = m.band AND b.bkey = m.bkey
        |WHERE levenshtein(b.name, m.c_name) <= 2""".stripMargin,
    // classification replay: kept iff ANY shared bucket is within cap
    // on BOTH sides, refused iff it collides only where some side is
    // over cap, cross iff no band collides
    "er_incremental_recall" ->
      s"""WITH ${incBandedCtes()},$incRecallBody""".stripMargin,
    // the same classification over the deterministic 40% md5
    // hot-block sample (the engine's hashBucket construction replayed
    // on the '|'-joined block key)
    "er_incremental_recall_sampled" ->
      s"""WITH ${incBandedCtes("""
        |          AND CAST(concat('0x', substr(md5(concat_ws('|',
        |                CAST(c_nationkey AS VARCHAR),
        |                CAST(c_mktsegment AS VARCHAR))), 1, 15)) AS BIGINT) % 100 < 40""")},$incRecallBody""".stripMargin,
    // banded pairs replay -> smallest matched master per batch row;
    // the left join keeps (true) novels with NULL cluster, 0 matches
    "er_incremental_assign_banded" ->
      s"""WITH ${incBandedCtes()},
        |okb AS (SELECT b.* FROM batch b LEFT JOIN hot h
        |        ON b.c_nationkey = h.c_nationkey AND b.c_mktsegment = h.c_mktsegment
        |        WHERE h.c_nationkey IS NULL),
        |okm AS (SELECT c.* FROM customer c LEFT JOIN hot h
        |        ON c.c_nationkey = h.c_nationkey AND c.c_mktsegment = h.c_mktsegment
        |        WHERE h.c_nationkey IS NULL),
        |keptb AS (SELECT bandb.* FROM bandb
        |          JOIN sb ON bandb.c_nationkey = sb.c_nationkey
        |                 AND bandb.c_mktsegment = sb.c_mktsegment
        |                 AND bandb.band = sb.band AND bandb.bkey = sb.bkey
        |          WHERE sb.m <= 12),
        |keptm AS (SELECT bandm.* FROM bandm
        |          JOIN sm ON bandm.c_nationkey = sm.c_nationkey
        |                 AND bandm.c_mktsegment = sm.c_mktsegment
        |                 AND bandm.band = sm.band AND bandm.bkey = sm.bkey
        |          WHERE sm.m <= 12),
        |p AS (SELECT b.id AS batch_id, m.c_custkey AS master_id,
        |             CAST(levenshtein(b.name, m.c_name) AS INTEGER) AS dist
        |      FROM okb b JOIN okm m
        |        ON b.c_nationkey = m.c_nationkey AND b.c_mktsegment = m.c_mktsegment
        |      WHERE levenshtein(b.name, m.c_name) <= 2
        |      UNION ALL
        |      SELECT DISTINCT b.id, m.c_custkey,
        |             CAST(levenshtein(b.name, m.c_name) AS INTEGER)
        |      FROM keptb b JOIN keptm m
        |        ON b.c_nationkey = m.c_nationkey AND b.c_mktsegment = m.c_mktsegment
        |       AND b.band = m.band AND b.bkey = m.bkey
        |      WHERE levenshtein(b.name, m.c_name) <= 2),
        |agg AS (SELECT batch_id, CAST(min(master_id) AS BIGINT) AS cluster_id,
        |               count(*) AS n_matches, min(dist) AS best_dist
        |        FROM p GROUP BY 1)
        |SELECT b.id AS batch_id, agg.cluster_id,
        |       CAST(COALESCE(agg.n_matches, 0) AS BIGINT) AS n_matches, agg.best_dist
        |FROM batch b LEFT JOIN agg ON b.id = agg.batch_id""".stripMargin,
    // banded pair replay (er_pairs_banded's CTEs) + the er_groups walk
    "er_groups_banded" ->
      """WITH RECURSIVE sz AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
        |            FROM customer GROUP BY 1, 2),
        |small AS (SELECT c.* FROM customer c
        |          JOIN sz ON c.c_nationkey = sz.c_nationkey AND c.c_mktsegment = sz.c_mktsegment
        |          WHERE sz.n <= 12),
        |hot AS (SELECT c.*, substr(c.c_name, 15, 4) AS s4 FROM customer c
        |        JOIN sz ON c.c_nationkey = sz.c_nationkey AND c.c_mktsegment = sz.c_mktsegment
        |        WHERE sz.n > 12),
        |bands AS (SELECT h.*, b.band,
        |            CASE WHEN b.band = 0
        |              THEN concat('2:', substr(h.c_name, 13, 2))
        |              ELSE concat(CAST(length(h.s4) AS VARCHAR), ':',
        |                substr(h.s4,
        |                  CAST(floor((b.band - 1) * length(h.s4) / 3) AS INT) + 1,
        |                  CAST(floor(b.band * length(h.s4) / 3) AS INT)
        |                    - CAST(floor((b.band - 1) * length(h.s4) / 3) AS INT)))
        |            END AS bkey
        |          FROM hot h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b),
        |bsz AS (SELECT c_nationkey, c_mktsegment, band, bkey, count(*) AS m
        |        FROM bands GROUP BY 1, 2, 3, 4),
        |bkept AS (SELECT bands.* FROM bands
        |          JOIN bsz ON bands.c_nationkey = bsz.c_nationkey
        |                  AND bands.c_mktsegment = bsz.c_mktsegment
        |                  AND bands.band = bsz.band AND bands.bkey = bsz.bkey
        |          WHERE bsz.m <= 12),
        |pairs AS (
        |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
        |  FROM small a JOIN small b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        |   AND a.c_custkey < b.c_custkey
        |  WHERE levenshtein(a.c_name, b.c_name) <= 2
        |  UNION
        |  SELECT a.c_custkey, b.c_custkey
        |  FROM bkept a JOIN bkept b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        |   AND a.band = b.band AND a.bkey = b.bkey AND a.c_custkey < b.c_custkey
        |  WHERE levenshtein(a.c_name, b.c_name) <= 2),
        |edges AS (SELECT id_a AS s, id_b AS t FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |walk(v, r) AS (
        |  SELECT s, s FROM (SELECT DISTINCT s FROM edges) t0
        |  UNION
        |  SELECT e.t, w.r FROM walk w JOIN edges e ON e.s = w.v)
        |SELECT v AS doc_id, min(r) AS cluster_id FROM walk GROUP BY 1""".stripMargin,
    // chained-log closure replay: both log batches as edges, the
    // er_groups reachability walk, then master LEFT JOIN component
    // min (rows whose cluster is in no component pass through)
    "er_merge_log_compact" ->
      """WITH RECURSIVE mlog AS (
        |  SELECT c_custkey AS o, c_custkey - 3 AS n FROM customer
        |  WHERE c_custkey % 10 = 0 AND c_custkey >= 10
        |  UNION ALL
        |  SELECT c_custkey - 3, c_custkey - 9 FROM customer
        |  WHERE c_custkey % 20 = 0 AND c_custkey >= 20),
        |edges AS (SELECT o AS s, n AS t FROM mlog UNION SELECT n, o FROM mlog),
        |walk(v, r) AS (
        |  SELECT s, s FROM (SELECT DISTINCT s FROM edges) t0
        |  UNION
        |  SELECT e.t, w.r FROM walk w JOIN edges e ON e.s = w.v),
        |comp AS (SELECT v, min(r) AS newc FROM walk GROUP BY 1)
        |SELECT c.c_custkey, c.c_name,
        |       CAST(coalesce(comp.newc, c.c_custkey) AS BIGINT) AS cluster
        |FROM customer c LEFT JOIN comp ON c.c_custkey = comp.v""".stripMargin,
    // per-band refusal evidence replay: hot blocks banded on the wide
    // positional set (VALUES spec), per-bucket sizes, rows and
    // buckets rolled up per band with the over-cap flag
    "er_band_evidence" ->
      (s"WITH $bandEvidenceCtes\n" +
      """SELECT s.band, s.seg_start, s.seg_len,
        |       CAST(coalesce(r.n_rows, 0) AS BIGINT) AS n_rows,
        |       CAST(coalesce(r.n_refused_rows, 0) AS BIGINT) AS n_refused_rows,
        |       CAST(coalesce(bk.n_buckets, 0) AS BIGINT) AS n_buckets,
        |       CAST(coalesce(bk.n_refused_buckets, 0) AS BIGINT) AS n_refused_buckets,
        |       coalesce(CAST(r.n_refused_rows AS DOUBLE) / r.n_rows, 0.0) AS refused_frac
        |FROM spec s LEFT JOIN rows_ r ON s.band = r.band
        |            LEFT JOIN bk ON s.band = bk.band""".stripMargin),
    // the refinement replay: evidence -> survivors (refused_frac <=
    // 0.5) -> contiguous hull -> floor re-split into 3 pigeonhole
    // segments; the terminal arm re-emits the original spec when no
    // band survives (vacuous on this corpus, replayed so the loud
    // contract is oracle-checked too)
    "er_recommend_bands" ->
      (s"WITH $bandEvidenceCtes,\n" +
      """ev AS (SELECT s.band, s.seg_start, s.seg_len,
        |              coalesce(CAST(r.n_refused_rows AS DOUBLE) / r.n_rows, 0.0) AS refused_frac
        |       FROM spec s LEFT JOIN rows_ r ON s.band = r.band),
        |surv AS (SELECT * FROM ev WHERE refused_frac <= 0.5),
        |hull AS (SELECT min(seg_start) AS h0, max(seg_start + seg_len) AS h1,
        |                count(*) AS ns FROM surv),
        |idx AS (SELECT unnest([0, 1, 2]) AS band)
        |SELECT i.band,
        |       CAST(h.h0 + floor(i.band * (h.h1 - h.h0) / 3) AS INTEGER) AS seg_start,
        |       CAST(floor((i.band + 1) * (h.h1 - h.h0) / 3)
        |            - floor(i.band * (h.h1 - h.h0) / 3) AS INTEGER) AS seg_len,
        |       CASE WHEN h.h1 - h.h0 >= 3 THEN 'refined' ELSE 'degraded' END AS action
        |FROM hull h CROSS JOIN idx i
        |WHERE h.ns > 0 AND floor((i.band + 1) * (h.h1 - h.h0) / 3)
        |                   - floor(i.band * (h.h1 - h.h0) / 3) > 0
        |UNION ALL
        |SELECT e.band, e.seg_start, e.seg_len, 'terminal' AS action
        |FROM ev e CROSS JOIN hull h WHERE h.ns = 0""".stripMargin),
    "er_groups" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        |   AND a.c_custkey < b.c_custkey
        |  WHERE levenshtein(a.c_name, b.c_name) <= 2),
        |edges AS (SELECT id_a AS s, id_b AS t FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |walk(v, r) AS (
        |  SELECT s, s FROM (SELECT DISTINCT s FROM edges) t0
        |  UNION
        |  SELECT e.t, w.r FROM walk w JOIN edges e ON e.s = w.v)
        |SELECT v AS doc_id, min(r) AS cluster_id FROM walk GROUP BY 1""".stripMargin,
    "dedup_clusters" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (SELECT doc_id,
        |         CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |              ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
        |                     i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) END AS s
        |       FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) >= 0.3),
        |edges AS (SELECT id_a AS s, id_b AS t FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |walk(v, r) AS (
        |  SELECT s, s FROM (SELECT DISTINCT s FROM edges) t0
        |  UNION
        |  SELECT e.t, w.r FROM walk w JOIN edges e ON e.s = w.v)
        |SELECT v AS doc_id, min(r) AS cluster_id FROM walk GROUP BY 1""".stripMargin,
    "dedup_kgram_coverage" ->
      """WITH pos AS (
        |  SELECT doc_id, g.i AS pos, substr(text, g.i, 30) AS gram
        |  FROM documents,
        |       LATERAL (SELECT unnest(generate_series(1, len(text) - 29)) AS i) g),
        |dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(DISTINCT doc_id) >= 2)
        |SELECT p.doc_id, count(*) AS n_grams,
        |       count(CASE WHEN d.gram IS NOT NULL THEN 1 END) AS dup_grams,
        |       count(CASE WHEN d.gram IS NOT NULL THEN 1 END) / CAST(count(*) AS DOUBLE) AS dup_frac
        |FROM pos p LEFT JOIN dup d USING (gram)
        |GROUP BY 1""".stripMargin,
    "dedup_kgram_pairs" ->
      """WITH g AS (
        |  SELECT DISTINCT doc_id, substr(text, i.i, 30) AS gram
        |  FROM documents,
        |       LATERAL (SELECT unnest(generate_series(1, len(text) - 29)) AS i) i)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared_grams
        |FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |GROUP BY 1, 2""".stripMargin,
    // CDC chunk replay: same boundary rule (md5-prefix hash of the
    // word, % 8), boundary word ends its chunk; the window-sum of
    // boundary flags over STRICTLY preceding words is the chunk index
    "dedup_cdc_chunks" ->
      (cdcChunksCte +
        """SELECT md5(chunk) AS chunk_md5,
          |       count(DISTINCT doc_id) AS n_docs,
          |       count(*) AS n_occurrences,
          |       max(n_words) AS n_words
          |FROM chunks GROUP BY 1 HAVING count(*) >= 2""".stripMargin),
    "dedup_cdc_coverage" ->
      (cdcChunksCte +
        """, ch AS (SELECT doc_id, md5(chunk) AS h, n_words FROM chunks),
          |dup AS (SELECT h FROM ch GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
          |per AS (
          |  SELECT ch.doc_id,
          |         CAST(count(*) AS BIGINT) AS n_chunks,
          |         CAST(count(CASE WHEN d.h IS NOT NULL THEN 1 END) AS BIGINT) AS dup_chunks,
          |         CAST(sum(ch.n_words) AS BIGINT) AS n_words,
          |         CAST(COALESCE(sum(CASE WHEN d.h IS NOT NULL THEN ch.n_words END), 0) AS BIGINT) AS dup_words
          |  FROM ch LEFT JOIN dup d ON ch.h = d.h GROUP BY 1)
          |SELECT doc.doc_id,
          |       COALESCE(p.n_chunks, 0) AS n_chunks,
          |       COALESCE(p.dup_chunks, 0) AS dup_chunks,
          |       COALESCE(p.n_words, 0) AS n_words,
          |       COALESCE(p.dup_words, 0) AS dup_words,
          |       COALESCE(CAST(p.dup_words AS DOUBLE) / p.n_words, 0.0) AS dup_word_frac
          |FROM documents doc LEFT JOIN per p ON doc.doc_id = p.doc_id""".stripMargin),
    "dedup_novelty_curve" ->
      """WITH firsts AS (
        |  SELECT md5(text) AS d, min(doc_id) AS first_id FROM documents GROUP BY 1),
        |nov AS (SELECT first_id // 50 AS bucket, count(*) AS n_novel FROM firsts GROUP BY 1),
        |tot AS (SELECT doc_id // 50 AS bucket, count(*) AS n_docs FROM documents GROUP BY 1)
        |SELECT t.bucket, t.n_docs, COALESCE(n.n_novel, 0) AS n_novel,
        |       COALESCE(n.n_novel, 0) / CAST(t.n_docs AS DOUBLE) AS novel_frac
        |FROM tot t LEFT JOIN nov n ON t.bucket = n.bucket""".stripMargin,
    "dedup_near_keep" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (SELECT doc_id,
        |         CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |              ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
        |                     i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) END AS s
        |       FROM toks),
        |drops AS (SELECT DISTINCT b.doc_id AS id_b
        |          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |          WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) >= 0.5)
        |SELECT * FROM documents WHERE doc_id NOT IN (SELECT id_b FROM drops)""".stripMargin,
    // same shingle/jaccard CTE as dedup_jaccard_audit; banding is one
    // IEEE multiply + floor so the same double lands in the same band
    "dedup_threshold_curve" -> thresholdCurveSql,
    // IDENTICAL oracle by design: the sf0.01 corpus's hottest shingle
    // df is 7, below the query's cap of 16, so the capped curve must
    // hash-match the uncapped one — the gate IS the capped==uncapped
    // pin the cap's no-op contract claims
    "dedup_threshold_curve_capped" -> thresholdCurveSql,
    // the gopher verdict CTE (stop list ['the','a']) -> md5 keep-first
    // -> per-source stage counts
    "curation_funnel" ->
      s"""WITH base AS (
        |  SELECT doc_id, source, text, string_split(text, ' ') AS w, string_split(text, chr(10)) AS l
        |  FROM $doubledDocsSql),
        |m AS (
        |  SELECT doc_id, source, text,
        |    CAST(len(w) AS INTEGER) AS n_words,
        |    CAST(list_aggregate(list_transform(w, t -> length(t)), 'sum') AS DOUBLE) / len(w) AS mean_word_len,
        |    CAST(len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) / len(w) AS frac_alpha_words,
        |    (CAST(length(text) - length(regexp_replace(text, '#', '', 'g')) AS DOUBLE)
        |      + (length(text) - length(regexp_replace(text, '\\.\\.\\.', '', 'g'))) / 3) / len(w) AS symbol_ratio,
        |    CAST(len(list_filter(l, x -> substr(x, 1, 1) IN ('-', '*', '•'))) AS DOUBLE) / len(l) AS frac_bullet_lines,
        |    CAST(len(list_filter(l, x -> ends_with(x, '...') OR ends_with(x, '…'))) AS DOUBLE) / len(l) AS frac_ellipsis_lines,
        |    CAST(len(list_filter(list_distinct(list_transform(w, t -> lower(t))),
        |      t -> list_contains(['the','a'], t))) AS INTEGER) AS n_stop
        |  FROM base),
        |v AS (SELECT doc_id, source, text,
        |        (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
        |         AND symbol_ratio <= 0.1 AND frac_bullet_lines <= 0.9 AND frac_ellipsis_lines <= 0.3
        |         AND frac_alpha_words > 0.8 AND n_stop >= 2) AS p
        |      FROM m),
        |keep AS (SELECT min(doc_id) AS kid FROM v WHERE p GROUP BY md5(text)),
        |k AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept_unique
        |      FROM v WHERE p AND doc_id IN (SELECT kid FROM keep) GROUP BY 1),
        |agg AS (SELECT source, count(*) AS n_docs,
        |          CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_rules
        |        FROM v GROUP BY 1)
        |SELECT agg.source, agg.n_docs, agg.n_pass_rules,
        |  COALESCE(k.n_kept_unique, 0) AS n_kept_unique,
        |  CAST(agg.n_pass_rules AS DOUBLE) / agg.n_docs AS pass_frac,
        |  CAST(COALESCE(k.n_kept_unique, 0) AS DOUBLE) / agg.n_docs AS keep_frac
        |FROM agg LEFT JOIN k USING (source)""".stripMargin,
    // merged duplicated-span cut list: same positions vocabulary as
    // dedup_kgram_coverage, islands by running-max-end
    "span_repeat_spans" ->
      """WITH pos AS (
        |  SELECT doc_id, CAST(g.i AS INTEGER) AS pos, substr(text, g.i, 30) AS gram
        |  FROM documents,
        |       LATERAL (SELECT unnest(generate_series(1, len(text) - 29)) AS i) g),
        |dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |f AS (SELECT doc_id, pos FROM pos WHERE gram IN (SELECT gram FROM dup)),
        |m AS (SELECT doc_id, pos,
        |        max(pos + 29) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |      FROM f),
        |i AS (SELECT doc_id, pos,
        |        CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END AS is_new
        |      FROM m),
        |s AS (SELECT doc_id, pos,
        |        SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS UNBOUNDED PRECEDING) AS span_id
        |      FROM i)
        |SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
        |  min(pos) AS span_start, max(pos) + 29 AS span_end,
        |  max(pos) + 29 - min(pos) + 1 AS span_len
        |FROM s GROUP BY 1, 2""".stripMargin,
    "overlap_source_matrix" ->
      """WITH g AS (
        |  SELECT DISTINCT doc_id, substr(text, i.i, 30) AS gram
        |  FROM documents,
        |       LATERAL (SELECT unnest(generate_series(1, len(text) - 29)) AS i) i),
        |dp AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT least(da.source, db.source) AS source_a,
        |       greatest(da.source, db.source) AS source_b,
        |       CAST(count(*) AS BIGINT) AS n_doc_pairs,
        |       CAST(sum(dp.n_shared) AS BIGINT) AS n_shared_grams
        |FROM dp
        |JOIN documents da ON da.doc_id = dp.id_a
        |JOIN documents db ON db.doc_id = dp.id_b
        |GROUP BY 1, 2""".stripMargin,
    // the cut replayed character-wise: every position not covered by
    // a merged span survives, in order (string_agg skips the NULLed
    // covered chars); fully-covered docs coalesce to ''
    "span_cut_text" ->
      """WITH pos AS (
        |  SELECT doc_id, CAST(g.i AS INTEGER) AS pos, substr(text, g.i, 30) AS gram
        |  FROM documents,
        |       LATERAL (SELECT unnest(generate_series(1, len(text) - 29)) AS i) g),
        |dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |f AS (SELECT doc_id, pos FROM pos WHERE gram IN (SELECT gram FROM dup)),
        |m AS (SELECT doc_id, pos,
        |        max(pos + 29) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |      FROM f),
        |i AS (SELECT doc_id, pos,
        |        CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END AS is_new
        |      FROM m),
        |sp AS (SELECT doc_id, span_id, min(pos) AS s, max(pos) + 29 AS e
        |       FROM (SELECT doc_id, pos,
        |               SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS UNBOUNDED PRECEDING) AS span_id
        |             FROM i)
        |       GROUP BY 1, 2),
        |ch AS (SELECT d.doc_id, CAST(g.i AS INTEGER) AS i, substr(d.text, g.i, 1) AS c
        |       FROM documents d,
        |            LATERAL (SELECT unnest(generate_series(1, len(d.text))) AS i) g),
        |cov AS (SELECT ch.doc_id, ch.i, ch.c,
        |          EXISTS (SELECT 1 FROM sp WHERE sp.doc_id = ch.doc_id
        |                  AND ch.i BETWEEN sp.s AND sp.e) AS cut
        |        FROM ch)
        |, agg AS (SELECT doc_id,
        |  COALESCE(string_agg(CASE WHEN cut THEN NULL ELSE c END, '' ORDER BY i), '') AS clean_text
        |FROM cov GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(a.clean_text, d.text) AS clean_text
        |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin,
    "span_clean_stats" ->
      """WITH pos AS (
        |  SELECT doc_id, CAST(g.i AS INTEGER) AS pos, substr(text, g.i, 30) AS gram
        |  FROM documents,
        |       LATERAL (SELECT unnest(generate_series(1, len(text) - 29)) AS i) g),
        |dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |f AS (SELECT doc_id, pos FROM pos WHERE gram IN (SELECT gram FROM dup)),
        |m AS (SELECT doc_id, pos,
        |        max(pos + 29) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |      FROM f),
        |i AS (SELECT doc_id, pos,
        |        CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END AS is_new
        |      FROM m),
        |sp AS (SELECT doc_id, span_id, max(pos) + 29 - min(pos) + 1 AS span_len
        |       FROM (SELECT doc_id, pos,
        |               SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS UNBOUNDED PRECEDING) AS span_id
        |             FROM i)
        |       GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |          CAST(SUM(span_len) AS BIGINT) AS chars_flagged
        |        FROM sp GROUP BY 1)
        |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
        |  COALESCE(a.n_spans, 0) AS n_spans,
        |  COALESCE(a.chars_flagged, 0) AS chars_flagged,
        |  CAST(CAST(length(d.text) AS BIGINT) - COALESCE(a.chars_flagged, 0) AS DOUBLE)
        |    / CAST(NULLIF(length(d.text), 0) AS BIGINT) AS clean_frac
        |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin,
    // keep-best-quality near-dedup: connected components at 0.5
    // jaccard, representative = (ttr DESC, doc_id) head per cluster
    "dedup_near_keep_best" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (SELECT doc_id,
        |         CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |              ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
        |                     i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) END AS s
        |       FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
        |edges AS (SELECT id_a AS s, id_b AS t FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |walk(v, r) AS (
        |  SELECT s, s FROM (SELECT DISTINCT s FROM edges) t0
        |  UNION
        |  SELECT e.t, w.r FROM walk w JOIN edges e ON e.s = w.v),
        |cl AS (SELECT v AS doc_id, min(r) AS cluster_id FROM walk GROUP BY 1),
        |q AS (SELECT doc_id, CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS ttr FROM toks),
        |ranked AS (SELECT c.doc_id,
        |             row_number() OVER (PARTITION BY c.cluster_id
        |               ORDER BY q.ttr DESC, c.doc_id) AS rn
        |           FROM cl c JOIN q USING (doc_id))
        |SELECT q.doc_id, q.ttr FROM q
        |WHERE q.doc_id NOT IN (SELECT doc_id FROM ranked WHERE rn > 1)""".stripMargin,
    "dedup_simhash_pairs" -> simhashPairsOracle,
  )
}
