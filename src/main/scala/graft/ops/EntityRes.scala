package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Native

/** Entity resolution over record tables: blocking + pairwise
  * edit-distance matching, the classic dirty-master-data operator
  * (find the customer rows that are the same real-world customer
  * under typos). The record-table sibling of [[graft.llm.Dedup]]'s
  * document near-dup family — same candidates-never-cartesian
  * contract, but keyed on structured blocking columns instead of
  * MinHash bands, and scored by Levenshtein distance (codegen'd
  * `levenshtein`) instead of Jaccard.
  *
  * Reference scope note: the reference engine (994-line pandas ETL)
  * has no matching surface; this extends the mandated
  * training-data-pipeline family (SURVEY.md §6) — the entity-level
  * dedup a pipeline needs when its metadata tables (authors, sites,
  * sources) arrive hand-typed.
  *
  * Scale shape: candidate generation is an equi-self-join on the
  * blocking key — within-block all-pairs, the LSH-band discipline
  * ([[graft.llm.Dedup.minhashCandidates]]): per-block cost is
  * size², so blocks must be bounded. [[candidatePairs]] enforces
  * that bound EXPLICITLY: blocks larger than `maxBlock` are excluded
  * from pairing and surfaced by [[oversizedBlocks]] — a loud cap,
  * never a silent one (a hot block at 100 TB is a key-design bug the
  * operator must report, not absorb). The remedy is implemented too:
  * `subBlock` re-blocks hot blocks on a caller-supplied finer key
  * (the [[graft.llm.Similarity]] SemDeDup hot-cell fix, here as
  * standard ER sub-blocking) with the same bound enforced on the
  * refined blocks.
  * Rows with a NULL in any blocking column never pair (SQL equi-join
  * semantics — standard blocking behavior, documented not silent).
  * Transitive match groups come from
  * [[graft.llm.Dedup.nearDupClusters]] over the pair graph.
  */
object EntityRes {

  private def blockSizes(blockCols: Seq[String])(df: DataFrame): DataFrame =
    df.groupBy(blockCols.map(col): _*).agg(count(lit(1)).as("block_n"))

  /** Deterministic block-level hash sample for the recall audits:
    * keep a block iff the md5 bucket of its '|'-joined key falls
    * under `samplePct` ([[graft.llm.Sampling.hashBucket]] — the
    * engine-portable construction, replayed verbatim in the DuckDB
    * oracle). 100 = keep everything (no filter node at all).
    */
  private def hotBlockSample(
      blockCols: Seq[String], samplePct: Int)(sizes: DataFrame): DataFrame = {
    require(samplePct >= 1 && samplePct <= 100,
      s"samplePct must be 1..100, got $samplePct")
    if (samplePct == 100) sizes
    else sizes.where(graft.llm.Sampling.hashBucket(
      concat_ws("|", blockCols.map(c => col(c).cast("string")): _*)) < samplePct)
  }

  /** Blocks [[candidatePairs]] refuses to pair — oversized ones PLUS
    * any block with a NULL key (the null-unsafe blocked self-join can
    * never pair null-keyed rows, at ANY size, so reporting only
    * size-violations would let a small NULL block read as "candidate
    * set complete" while its rows were silently never considered).
    * Empty means the candidate set is complete for the blocking
    * scheme.
    */
  def oversizedBlocks(
      blockCols: Seq[String],
      maxBlock: Long)(df: DataFrame): DataFrame =
    blockSizes(blockCols)(df).where(col("block_n") > maxBlock ||
      blockCols.map(c => col(c).isNull).reduce(_ || _))

  /** The loud-cap contract one level down: with `subBlock` engaged,
    * [[candidatePairs]] re-blocks hot blocks on the finer key — and a
    * refined group can STILL fall out of the candidate set, either
    * because it is itself over `maxBlock` (the bound is never waived)
    * or because its sub-key evaluated to NULL (an equi-semi-join can
    * never match a NULL group, mirroring the blocking-column NULL
    * contract). [[oversizedBlocks]] cannot see either: it enumerates
    * top-level blocks only. This face enumerates the refused refined
    * groups — (block key, sub_key, block_n) — so the remedy's own
    * drops are a report, not a silent recall loss. Empty means every
    * hot-block row landed in a paired sub-block.
    *
    * Scale shape: the same two aggregations [[candidatePairs]]'
    * subBlock path already runs (top-level sizes, refined sizes over
    * hot rows only) — no new join pattern, nothing all-pairs.
    */
  def refusedSubBlocks(
      blockCols: Seq[String],
      maxBlock: Long,
      subBlock: Column)(df: DataFrame): DataFrame = {
    val sizes = blockSizes(blockCols)(df)
    val hot = df
      .join(sizes.where(col("block_n") > maxBlock), blockCols, "left_semi")
      .withColumn("sub_key", subBlock)
    hot.groupBy((blockCols :+ "sub_key").map(col): _*)
      .agg(count(lit(1)).as("block_n"))
      .where(col("block_n") > maxBlock || col("sub_key").isNull)
  }

  /** Shared within-block pairing: equi-self-join on `keyCols`, paired
    * once, kept when the banded Levenshtein lands within `maxDist`
    * (threshold form — O(len·maxDist) per pair, -1 beyond the band).
    */
  private def pairWithin(
      bounded: DataFrame,
      keyCols: Seq[String],
      idCol: String,
      nameCol: String,
      maxDist: Int): DataFrame = {
    // The pair stage's parallelism is the PROBE side's partitioning —
    // for a small/well-compressed input that is one or two scan
    // splits, so the Levenshtein over every co-blocked pair (the
    // query's dominant CPU term) ran as a single straggler task
    // (guide §2.6; measured 1.9 s of 3.0 s on er_groups at sf0.1).
    // Scale-adaptive: spreadForCpu is an exact no-op once the input's
    // size estimate says a plain scan already reaches full
    // parallelism — at cluster scale nothing is re-shuffled.
    val spread = graft.llm.Par.spreadForCpu(bounded, idCol)
    val a = spread.select(keyCols.map(col) :+
      col(idCol).as("id_a") :+ col(nameCol).as("name_a"): _*)
    val b = spread.select(keyCols.map(col) :+
      col(idCol).as("id_b") :+ col(nameCol).as("name_b"): _*)
    a.join(b, keyCols)
      .where(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), maxDist))
      .where(col("dist") >= 0)
      .select("id_a", "id_b", "name_a", "name_b", "dist")
  }

  /** PassJoin-style positional segment bands (Li, Deng, Wang, Feng,
    * PVLDB 5(3), 2011 — "Pass-Join: a partition-based method for
    * similarity joins"): the
    * string splits into `numBands` contiguous segments; by pigeonhole,
    * two EQUAL-LENGTH strings within `numBands - 1` substitutions
    * agree on at least one full segment — so banding hot blocks on
    * (segment index, segment text) recovers every such pair, where a
    * single lexical sub-key (prefix/suffix) keeps only the pairs whose
    * edits avoid it (the measured ~0.30 recall of the last-2-chars
    * key, SCALE.md round 14). Each band key carries the string LENGTH
    * (PassJoin's length grouping): different-length strings have
    * shifted segment boundaries and must never collide — the
    * documented recall trade is insert/delete pairs, whose lengths
    * differ. Segment boundaries are `floor(i·len/numBands)`, identical
    * integer arithmetic in the DuckDB replay. NULL input → every band
    * key NULL (banded callers drop NULL keys, the blocking-NULL
    * contract — the row never pairs). Strings shorter than `numBands`
    * produce empty segments whose keys collide vacuously within the
    * length group — a candidate-cost matter only (the distance filter
    * still decides), and one the per-bucket cap bounds like any other
    * hot key.
    */
  def segmentBands(c: Column, numBands: Int): Column = {
    require(numBands >= 2, s"segmentBands needs >= 2 bands, got $numBands")
    // `numBands` is a plan-time constant, so the band loop unrolls to a
    // plain `array(f(0), …, f(n-1))` — the IDENTICAL expression tree
    // with the lambda variable replaced by a literal (OpsSpec pins
    // equality against the lambda form). The `transform` over
    // `sequence(0, n-1)` it replaces evaluated through an interpreted
    // Catalyst lambda frame per row inside the band posexplode of
    // every er_*banded query — the unrolled form stays inside
    // whole-stage codegen (r19 §4).
    val len = length(c)
    val bands = (0 until numBands).map { i =>
      val start = floor(lit(i) * len / numBands).cast("int") + 1
      val end = floor(lit(i + 1) * len / numBands).cast("int") + 1
      concat(len.cast("string"), lit(":"), c.substr(start, end - start))
    }
    array(bands: _*)
  }

  /** MinHash band keys over character `shingleK`-grams — the
    * similarity-aware sub-key family ([[graft.llm.Dedup]]'s LSH-band
    * discipline applied to short strings): band `b`'s key is the MIN
    * over shingles of the engine-portable 60-bit md5 hash of
    * `"b:shingle"` ([[graft.llm.Sampling.hashKey]] — NOT xxhash64,
    * so the DuckDB oracle replays it bit-for-bit). One hash row per
    * band (r = 1): two strings collide in band `b` with probability
    * equal to their shingle Jaccard, so `numBands` independent bands
    * catch a similarity-`j` pair with 1 - (1-j)^numBands. The trade
    * vs [[segmentBands]] is documented and MEASURED (SCALE.md round
    * 15): short strings with a long shared prefix (TPC-H-style names)
    * give high Jaccard to NON-matching pairs too, so r = 1 buckets
    * run coarse and the cap refuses them; positional segments
    * discriminate better there. Strings shorter than `shingleK` hash
    * as one whole-string shingle.
    */
  def minhashBands(c: Column, shingleK: Int = 3, numBands: Int = 4): Column = {
    require(shingleK >= 1 && numBands >= 1,
      s"bad shingleK=$shingleK / numBands=$numBands")
    // ONE native loop per row ([[graft.functions.MinHashBands]]) in
    // place of the higher-order-function formulation (OpsSpec's
    // parity reference) — that paid an interpreted Catalyst lambda
    // (substr + concat + md5 + conv(16,10) string round-trip) per
    // band PER SHINGLE, the
    // measured dominant term of er_pairs_minhash_sub. Output is
    // bit-identical — OpsSpec pins native == HOF, and the query's
    // DuckDB oracle hash-gates it.
    Native.minhashBands(c, shingleK, numBands)
  }

  /** Candidate match pairs: records sharing the blocking key, paired
    * once (`id_a < id_b`), kept when
    * `levenshtein(name_a, name_b) <= maxDist`. Output: id_a, id_b,
    * name_a, name_b, dist — integer distance only (engine-exact);
    * normalize to a similarity downstream if needed.
    *
    * Plan: one aggregation for block sizes, a semi-join-style filter
    * onto bounded blocks, then the blocked equi-self-join; the
    * Levenshtein runs only inside co-blocked pairs. Never a
    * cartesian (ContractSpec-gated like every registered query).
    *
    * `subBlock` is the hot-block REMEDY the loud cap's scaladoc
    * prescribes, implemented: blocks larger than `maxBlock` are —
    * instead of being refused outright — re-blocked on
    * `blockCols :+ subBlock` (a caller-supplied finer key: a name
    * prefix/suffix, a zip code, a birth year) and paired within the
    * refined blocks, with the SAME `maxBlock` bound enforced on the
    * refined blocks (a sub-block still over the cap is still refused
    * — the bound is never silently waived). The documented trade is
    * standard blocking recall: pairs inside a hot block whose members
    * disagree on the sub-key are not candidates, and — mirroring the
    * blocking-column NULL contract above — a hot-block row whose
    * sub-key expression evaluates to NULL never pairs at all (the
    * equi-semi-join on `__sb` cannot match a NULL group). Both drops
    * are enumerable, not silent: [[refusedSubBlocks]] reports the
    * still-over-cap and NULL-sub-key groups, and
    * [[subBlockRecall]] / the gated `er_subblock_recall` query put a
    * per-block number on the recall trade. Small blocks are
    * untouched, so enabling `subBlock` only ever ADDS pairs relative
    * to the refusal behavior, and per-block cost stays ≤ maxBlock².
    */
  def candidatePairs(
      idCol: String,
      nameCol: String,
      blockCols: Seq[String],
      maxDist: Int,
      maxBlock: Long = 10000L,
      subBlock: Option[Column] = None)(df: DataFrame): DataFrame = {
    require(blockCols.nonEmpty, "candidatePairs needs at least one blocking column")
    require(maxDist >= 0 && maxBlock >= 2, s"bad maxDist=$maxDist / maxBlock=$maxBlock")

    val sizes = blockSizes(blockCols)(df)
    val small = df
      .join(sizes.where(col("block_n") <= maxBlock), blockCols, "left_semi")
      .select((blockCols :+ idCol :+ nameCol).map(col): _*)
    val smallPairs = pairWithin(small, blockCols, idCol, nameCol, maxDist)
    subBlock match {
      case None => smallPairs
      case Some(sb) =>
        require(!df.columns.contains("__sb"),
          "candidatePairs' subBlock path uses internal column __sb — rename it first")
        val subCols = blockCols :+ "__sb"
        val hot = df
          .join(sizes.where(col("block_n") > maxBlock), blockCols, "left_semi")
          .withColumn("__sb", sb)
          .select((subCols :+ idCol :+ nameCol).map(col): _*)
        val subSizes = hot.groupBy(subCols.map(col): _*).agg(count(lit(1)).as("block_n"))
        val hotKept = hot.join(
          subSizes.where(col("block_n") <= maxBlock), subCols, "left_semi")
          // re-select: the using-column semi join moves join cols first
          .select((subCols :+ idCol :+ nameCol).map(col): _*)
        smallPairs.unionByName(pairWithin(hotKept, subCols, idCol, nameCol, maxDist))
    }
  }

  /** [[candidatePairs]]' hot-block remedy, OR-amplified: instead of
    * ONE refined partition (a row lives in exactly one sub-block, so
    * every pair straddling the sub-key is lost — the measured ~0.30
    * recall of the last-2-chars key), each hot-block row lands in one
    * bucket PER BAND of the caller-supplied `bands` array expression
    * ([[segmentBands]] for bounded edit distance, [[minhashBands]]
    * for shingle similarity), and a pair is a candidate if it
    * collides in ANY within-bound bucket. Duplicates from multi-band
    * collisions collapse with one distinct over the (deterministic)
    * pair rows. Small blocks pair exactly as in [[candidatePairs]];
    * hot-block rules carry over band-wise:
    *
    *   - the `maxBlock` bound is never waived: a (band, key) bucket
    *     over the cap is refused — but ONLY that band; the pair can
    *     still surface through a finer band ([[bandedSubBlockRecall]]
    *     counts pairs ALL of whose collisions were refused);
    *   - a NULL band key never pairs (the blocking-NULL contract);
    *     a NULL `bands` array contributes no buckets at all.
    *
    * Scale shape: hot rows explode ×numBands (bands are few and the
    * per-band key is short — bytes, not bodies, cross the shuffle);
    * per-bucket cost stays ≤ maxBlock²; the pair-level distinct
    * shuffles only surviving pairs. Never a cartesian. Plan note
    * (reviewed on the AQE-final plan, round 15): the duplicated
    * block-sizes aggregate collapses to one ReusedExchange at
    * runtime; the self-join sides re-scan the input's 4-column
    * projection (the standard self-join shape) — a caller whose
    * record table is expensive to produce (a view, not a parquet
    * scan) should `.persist()` the projected input first.
    */
  def candidatePairsBanded(
      idCol: String,
      nameCol: String,
      blockCols: Seq[String],
      maxDist: Int,
      maxBlock: Long,
      bands: Column)(df: DataFrame): DataFrame = {
    require(blockCols.nonEmpty, "candidatePairsBanded needs at least one blocking column")
    require(maxDist >= 0 && maxBlock >= 2, s"bad maxDist=$maxDist / maxBlock=$maxBlock")
    Seq("__band", "__bkey").foreach(c => require(!df.columns.contains(c),
      s"candidatePairsBanded uses internal column $c — rename it first"))
    val sizes = blockSizes(blockCols)(df)
    val small = df
      .join(sizes.where(col("block_n") <= maxBlock), blockCols, "left_semi")
      .select((blockCols :+ idCol :+ nameCol).map(col): _*)
    val smallPairs = pairWithin(small, blockCols, idCol, nameCol, maxDist)
    val bandCols = blockCols :+ "__band" :+ "__bkey"
    val banded = df
      .join(sizes.where(col("block_n") > maxBlock), blockCols, "left_semi")
      .select(blockCols.map(col) :+ col(idCol) :+ col(nameCol) :+
        posexplode(bands).as(Seq("__band", "__bkey")): _*)
      .where(col("__bkey").isNotNull)
    val bucketSizes = banded.groupBy(bandCols.map(col): _*)
      .agg(count(lit(1)).as("block_n"))
    val kept = banded.join(
      bucketSizes.where(col("block_n") <= maxBlock), bandCols, "left_semi")
      // re-select: the using-column semi join moves join cols first
      .select((bandCols :+ idCol :+ nameCol).map(col): _*)
    smallPairs.unionByName(
      pairWithin(kept, bandCols, idCol, nameCol, maxDist).distinct())
  }

  /** [[subBlockRecall]] for the banded remedy: for every hot block
    * with at least one uncapped within-block match pair, classify
    * where its pairs land under [[candidatePairsBanded]] —
    *
    *   - `n_kept`: the pair collides in ≥ 1 band whose bucket is
    *     within `maxBlock` (the remedy finds it);
    *   - `n_lost_refused`: it collides somewhere, but EVERY colliding
    *     bucket is over the cap (the never-waived bound ate all of
    *     its routes);
    *   - `n_lost_cross`: no band collides at all (including NULL band
    *     keys — the blocking-NULL contract).
    *
    * Same exhaustive accounting and `recall` column as
    * [[subBlockRecall]]; same audit-cost caveat (it pays the hot
    * blocks' uncapped Σblock² bill ON PURPOSE — sample it with
    * `samplePct` at scale, see [[subBlockRecall]]'s sampled face).
    * One extra cost term the lexical audit doesn't have: the
    * collision verdict self-joins the banded rows per bucket
    * INCLUDING over-cap buckets (a refusal is a collision that
    * existed), so a band whose dominant bucket spans most of a block
    * adds ~bucket² slim rows — measured +18% vs the lexical audit at
    * 16× for the positional bands, +30% for the coarse-bucketed
    * MinHash bands (SCALE.md round 15).
    */
  def bandedSubBlockRecall(
      idCol: String,
      nameCol: String,
      blockCols: Seq[String],
      maxDist: Int,
      maxBlock: Long,
      bands: Column,
      samplePct: Int = 100)(df: DataFrame): DataFrame = {
    require(blockCols.nonEmpty, "bandedSubBlockRecall needs at least one blocking column")
    val sizes = hotBlockSample(blockCols, samplePct)(blockSizes(blockCols)(df))
    // inner join (not semi) so block_n rides along with every hot row
    // hot-frame barrier (r19, guide §3.3/§5): this frame — corpus scan
    // ⋈ over-cap block sizes — is consumed ~6× downstream (the banded
    // posexplode chain: banded → bucketSizes → bandedM → both collision
    // sides; plus both uncapped-pair sides), and lazily each consumer
    // re-ran the scan + blockSizes aggregation + join. Materialized
    // rows are hot-block rows only (id + name + block keys — digest
    // width, never an embedding). Measured with ErScale quadrecall:
    // 16× full audit 97.7 → 79.5 s median (3 reps), 32× at the 25%
    // sampled scale face min 69.2 → 58.4 s (2 reps), sf0.1 gated row
    // 2.65 → 2.50 s — same pair counts everywhere. The LEXICAL audit
    // (subBlockRecall) measured 6% WORSE with the same barrier (fewer,
    // cheaper re-derivations) and deliberately stays lazy. Same
    // executor-loss trade as every localCheckpoint here (SCALE.md).
    // NOTE (r19 session 4): a spreadForCpu BEFORE this checkpoint was
    // tried (widen the materialized layout into the ~6 consumers) and
    // REVERTED on measurement: wall was flat-to-worse (bench median
    // 3.0 → 3.9 s isolated, cold rep 8.5 s) while TOTAL task time
    // inflated ~8× (round-19 job profile: 13 → 99 s) — the audit's consumers are
    // broadcast builds over this frame, and 32-way inputs multiply
    // their per-task fixed cost without shortening the critical path.
    // The lexical audit (subBlockRecall) has the opposite profile —
    // one levenshtein pair join dominates — and keeps its spread.
    val hot = df.join(sizes.where(col("block_n") > maxBlock), blockCols)
      .localCheckpoint()
    val bandCols = blockCols :+ "__band" :+ "__bkey"
    val banded = hot
      .select(blockCols.map(col) :+ col(idCol) :+
        posexplode(bands).as(Seq("__band", "__bkey")): _*)
      .where(col("__bkey").isNotNull)
    val bucketSizes = banded.groupBy(bandCols.map(col): _*)
      .agg(count(lit(1)).as("__m"))
    val bandedM = banded.join(bucketSizes, bandCols)
    def bside(tag: String) = bandedM.select(
      blockCols.map(col) :+ col("__band") :+ col("__bkey") :+
        col(idCol).as(s"id_$tag") :+ col("__m"): _*)
    // per-pair collision verdict: does ANY colliding bucket fit the cap
    val collisions = bside("a").join(
      bside("b").withColumnRenamed("__m", "__mb"), bandCols)
      .where(col("id_a") < col("id_b"))
      .groupBy((blockCols :+ "id_a" :+ "id_b").map(col): _*)
      .agg(max(when(col("__m") <= maxBlock, 1).otherwise(0)).as("__any_kept"))
    def side(tag: String) = hot.select(
      blockCols.map(col) :+ col("block_n") :+
        col(idCol).as(s"id_$tag") :+ col(nameCol).as(s"name_$tag"): _*)
    val pairs = side("a").join(side("b"), blockCols :+ "block_n")
      .where(col("id_a") < col("id_b"))
      .where(levenshtein(col("name_a"), col("name_b"), maxDist) >= 0)
    pairs.join(collisions, blockCols :+ "id_a" :+ "id_b", "left")
      .withColumn("__cls",
        when(col("__any_kept") === 1, lit("kept"))
          .when(col("__any_kept") === 0, lit("refused"))
          .otherwise(lit("cross")))
      .groupBy((blockCols :+ "block_n").map(col): _*)
      .agg(
        count(lit(1)).as("n_pairs_uncapped"),
        sum(when(col("__cls") === "kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__cls") === "cross", 1L).otherwise(0L)).as("n_lost_cross"),
        sum(when(col("__cls") === "refused", 1L).otherwise(0L)).as("n_lost_refused"))
      .withColumn("recall",
        col("n_kept").cast("double") / col("n_pairs_uncapped"))
  }

  /** The subBlock recall trade, quantified per hot block: for every
    * top-level block over `maxBlock` that contains at least one
    * within-block match pair (`dist <= maxDist`), count where its
    * uncapped match pairs land under the sub-blocking remedy —
    *
    *   - `n_kept`: both members share a non-NULL sub-key and the
    *     refined block is within the bound (pairs the remedy keeps);
    *   - `n_lost_refused`: same sub-key, but the refined block is
    *     STILL over `maxBlock` (the never-waived bound — these groups
    *     are exactly [[refusedSubBlocks]]' over-cap rows);
    *   - `n_lost_cross`: members disagree on the sub-key, or either
    *     side's sub-key is NULL (the documented blocking-recall trade
    *     plus the NULL-sub-key drop).
    *
    * `n_pairs_uncapped = n_kept + n_lost_cross + n_lost_refused` by
    * construction (the classification is exhaustive), and `recall =
    * n_kept / n_pairs_uncapped` is the number a user weighs when
    * choosing the sub-key expression.
    *
    * Scale shape: this is an AUDIT — it enumerates the hot blocks'
    * uncapped within-block pairs, the exact Σblock² cost the cap
    * exists to refuse, through the same never-cartesian blocked
    * equi-self-join. `samplePct < 100` is the scale face: a
    * DETERMINISTIC md5 hash-sample over HOT BLOCKS (the
    * [[graft.llm.Sampling.hashBucket]] construction on the
    * '|'-joined block key) audits only the sampled blocks, cutting
    * the Σblock² bill to ~samplePct% while the per-block accounting
    * stays EXACT for every audited block — the estimate error is
    * pure between-block sampling variance on the corpus-total
    * recall, and re-runs audit the identical block set (no RNG).
    * Confidence note: the returned PER-BLOCK rows are exact, so any
    * standard ratio-estimator interval applies directly — e.g.
    * bootstrap the returned block rows, or jackknife-leave-one-block
    * - out on Σn_kept / Σn_pairs_uncapped; measured on this repo's
    * amplified dirs a 25% sample reproduced the full-audit recall
    * within ±0.002 (SCALE.md round 15). Default 100 = the full
    * audit; the production path stays [[candidatePairs]] with the
    * cap engaged either way.
    */
  def subBlockRecall(
      idCol: String,
      nameCol: String,
      blockCols: Seq[String],
      maxDist: Int,
      maxBlock: Long,
      subBlock: Column,
      samplePct: Int = 100)(df: DataFrame): DataFrame = {
    require(blockCols.nonEmpty, "subBlockRecall needs at least one blocking column")
    val sizes = hotBlockSample(blockCols, samplePct)(blockSizes(blockCols)(df))
    // inner join (not semi) so block_n rides along with every hot row
    val hot = df
      .join(sizes.where(col("block_n") > maxBlock), blockCols)
      .withColumn("__sb", subBlock)
    val subCols = blockCols :+ "__sb"
    val subSizes = hot.groupBy(subCols.map(col): _*).agg(count(lit(1)).as("__sub_n"))
    // NULL sub-keys drop out of this equi-join; re-attach them with a
    // sentinel size so the pair classification below sees every row
    // (they can only ever classify as n_lost_cross)
    val withSub = graft.llm.Par.spreadForCpu(
      hot.join(subSizes, subCols, "left")
        .withColumn("__sub_n", coalesce(col("__sub_n"), lit(Long.MaxValue))), idCol)
    def side(tag: String) = withSub.select(
      blockCols.map(col) :+ col("block_n") :+
        col(idCol).as(s"id_$tag") :+ col(nameCol).as(s"name_$tag") :+
        col("__sb").as(s"sb_$tag") :+ col("__sub_n").as(s"sub_n_$tag"): _*)
    val pairs = side("a").join(side("b"), blockCols :+ "block_n")
      .where(col("id_a") < col("id_b"))
      .where(levenshtein(col("name_a"), col("name_b"), maxDist) >= 0)
    val sameSub = col("sb_a").isNotNull && col("sb_b").isNotNull &&
      col("sb_a") === col("sb_b")
    pairs
      .withColumn("__cls",
        when(sameSub && col("sub_n_a") <= maxBlock, lit("kept"))
          .when(sameSub, lit("refused"))
          .otherwise(lit("cross")))
      .groupBy((blockCols :+ "block_n").map(col): _*)
      .agg(
        count(lit(1)).as("n_pairs_uncapped"),
        sum(when(col("__cls") === "kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__cls") === "cross", 1L).otherwise(0L)).as("n_lost_cross"),
        sum(when(col("__cls") === "refused", 1L).otherwise(0L)).as("n_lost_refused"))
      .withColumn("recall",
        col("n_kept").cast("double") / col("n_pairs_uncapped"))
  }

  /** Transitive match groups: connected components over
    * [[candidatePairs]]' pair graph (label propagation,
    * [[graft.llm.Dedup.nearDupClusters]]). Output: (doc_id,
    * cluster_id = min member id) for every record in at least one
    * pair. The returned frame is materialized by nearDupClusters
    * (localCheckpoint or driver-local storage, reclaimed on garbage
    * collection — `.unpersist()` is a harmless no-op).
    */
  def matchGroups(
      idCol: String,
      nameCol: String,
      blockCols: Seq[String],
      maxDist: Int,
      maxBlock: Long = 10000L,
      subBlock: Option[Column] = None)(df: DataFrame): DataFrame =
    graft.llm.Dedup.nearDupClusters(
      candidatePairs(idCol, nameCol, blockCols, maxDist, maxBlock, subBlock)(df))

  /** Incremental (CDC-face) entity resolution: candidate matches of a
    * NEW batch against a resolved MASTER — the ER sibling of
    * [[graft.llm.Dedup.incrementalDedup]]. Only batch×master pairs
    * form (never batch×batch or master×master — steady-state ingest
    * must not re-pay the master's pairing bill), through the same
    * blocked equi-join discipline: a block pairs only when BOTH
    * sides' block sizes are within `maxBlock`, bounding per-block
    * cost at maxBlock² with no `id <` trick needed (the sides are
    * distinct tables). Refused and NULL-keyed blocks are enumerable
    * per side via [[oversizedBlocks]] — same loud-cap contract.
    * Output: (batch_id, master_id, name_batch, name_master, dist).
    */
  def incrementalPairs(
      idCol: String,
      nameCol: String,
      blockCols: Seq[String],
      maxDist: Int,
      maxBlock: Long = 10000L)(batch: DataFrame, master: DataFrame): DataFrame = {
    require(blockCols.nonEmpty, "incrementalPairs needs at least one blocking column")
    require(maxDist >= 0 && maxBlock >= 1, s"bad maxDist=$maxDist / maxBlock=$maxBlock")
    def bounded(df: DataFrame) = df
      .join(blockSizes(blockCols)(df).where(col("block_n") <= maxBlock),
        blockCols, "left_semi")
    val b = bounded(batch).select(blockCols.map(col) :+
      col(idCol).as("batch_id") :+ col(nameCol).as("name_batch"): _*)
    val m = bounded(master).select(blockCols.map(col) :+
      col(idCol).as("master_id") :+ col(nameCol).as("name_master"): _*)
    b.join(m, blockCols)
      .withColumn("dist", levenshtein(col("name_batch"), col("name_master"), maxDist))
      .where(col("dist") >= 0)
      .select("batch_id", "master_id", "name_batch", "name_master", "dist")
  }

  /** Block keys [[incrementalPairs]] refuses — over `maxBlock` on
    * EITHER side (a pair needs both rows kept, so per-side filtering
    * refuses the block as soon as one side is hot). One row per
    * refused block with both sides' sizes (0 = absent from that
    * side), so a user can see which side's skew ate the block.
    * Null-keyed blocks are NOT listed here — they can never pair at
    * any size (equi-join semantics) and are enumerable per side via
    * [[oversizedBlocks]], same as the self-join face.
    */
  private def incrementalHotBlocks(
      blockCols: Seq[String],
      maxBlock: Long)(batch: DataFrame, master: DataFrame): DataFrame = {
    val bsz = blockSizes(blockCols)(batch).withColumnRenamed("block_n", "batch_n")
    val msz = blockSizes(blockCols)(master).withColumnRenamed("block_n", "master_n")
    bsz.join(msz, blockCols, "full")
      .withColumn("batch_n", coalesce(col("batch_n"), lit(0L)))
      .withColumn("master_n", coalesce(col("master_n"), lit(0L)))
      .where(col("batch_n") > maxBlock || col("master_n") > maxBlock)
      .where(blockCols.map(c => col(c).isNotNull).reduce(_ && _))
  }

  /** [[oversizedBlocks]] for the CDC face: the blocks
    * [[incrementalPairs]] refuses — over `maxBlock` on EITHER side (a
    * pair needs both rows kept, so one hot side refuses the block) —
    * PLUS any block with a NULL key on either side (never pairable at
    * any size, same contract as the self-join report). One row per
    * refused block with both sides' sizes (0 = absent from that
    * side), so the SKEW SOURCE is visible per block: a user reads
    * whether the batch's re-crawl shape or the master's accumulation
    * ate it, which decides between re-keying and the banded remedy.
    * Empty means the candidate set is complete for the blocking
    * scheme. Scale shape: two block-sized aggregations full-joined —
    * nothing row-level crosses the shuffle beyond the group-bys the
    * pairing paths already run.
    */
  def refusedIncrementalBlocks(
      blockCols: Seq[String],
      maxBlock: Long)(batch: DataFrame, master: DataFrame): DataFrame = {
    val bsz = blockSizes(blockCols)(batch).withColumnRenamed("block_n", "batch_n")
    val msz = blockSizes(blockCols)(master).withColumnRenamed("block_n", "master_n")
    bsz.join(msz, blockCols, "full")
      .withColumn("batch_n", coalesce(col("batch_n"), lit(0L)))
      .withColumn("master_n", coalesce(col("master_n"), lit(0L)))
      .where(col("batch_n") > maxBlock || col("master_n") > maxBlock ||
        blockCols.map(c => col(c).isNull).reduce(_ || _))
  }

  /** [[incrementalPairs]] with the OR-amplified banded remedy for hot
    * blocks — the CDC face of [[candidatePairsBanded]]. The plain
    * incremental path refuses a block as soon as EITHER side is over
    * `maxBlock`, and every batch row of a refused block then surfaces
    * as a FALSE NOVEL in [[incrementalAssign]] (a loud drop, but
    * still a drop — the steady-state analog of the self-join face's
    * measured ~0.30 lexical-sub-key recall). Here those blocks'
    * rows re-bucket per band of `bands` on BOTH sides, each side
    * keeps a row in a (band, key) bucket iff its OWN side's bucket is
    * within `maxBlock`, and a batch×master pair is a candidate if it
    * collides in ANY surviving bucket (duplicates collapse with one
    * distinct). Blocks within the bound on both sides pair exactly as
    * in [[incrementalPairs]] — enabling `bands` only ever ADDS pairs.
    *
    * Carried-over contracts: the bound is never waived (an over-cap
    * bucket is refused on that side — but only that band; the pair
    * can still surface through a finer band, and
    * [[incrementalBandedRecall]] counts the pairs ALL of whose
    * collisions were refused); a NULL band key never pairs; batch
    * rows still pair ONLY against master (never batch×batch — hot
    * batch rows sharing a bucket meet no batch counterpart because
    * the banded join's sides are the two distinct tables).
    *
    * Scale shape: hot rows explode ×numBands per side with short band
    * keys (bytes, not bodies, cross the shuffle); per-bucket cost is
    * ≤ maxBlock² because both sides' bucket sizes are capped; the
    * final distinct shuffles only surviving pairs. Never a cartesian.
    *
    * `adaptive` prices the IDLE cap (verdict-r15 item 7): the
    * declarative plan pays the two-sided block-size full join and the
    * banded arm's aggregations even when NO block is hot (+~20% at 1×
    * for an empty hot set, SCALE.md). With `adaptive = true` the hot
    * set — block-count-sized, never row-sized — materializes eagerly
    * (localCheckpoint) and is checked: empty → ONE plain blocked join
    * (the anti-join filters nothing and the banded arm is provably
    * empty, so the output is identical by construction); non-empty →
    * the usual two-arm plan, now reusing the materialized hot set
    * across its four consumers instead of recomputing the full join
    * per arm. Identical output either way — the flag moves cost, not
    * semantics (spec-pinned on both regimes).
    */
  def incrementalPairsBanded(
      idCol: String,
      nameCol: String,
      blockCols: Seq[String],
      maxDist: Int,
      maxBlock: Long,
      bands: Column,
      adaptive: Boolean = false)(batch: DataFrame, master: DataFrame): DataFrame = {
    require(blockCols.nonEmpty, "incrementalPairsBanded needs at least one blocking column")
    require(maxDist >= 0 && maxBlock >= 1, s"bad maxDist=$maxDist / maxBlock=$maxBlock")
    Seq("__band", "__bkey").foreach(c =>
      require(!batch.columns.contains(c) && !master.columns.contains(c),
        s"incrementalPairsBanded uses internal column $c — rename it first"))
    val hotKeys0 = incrementalHotBlocks(blockCols, maxBlock)(batch, master)
      .select(blockCols.map(col): _*)
    // the count doubles as the emptiness check AND the broadcast
    // decision: a checkpointed frame loses its aggregate's size stats
    // (LogicalRDD defaults to unknown), so without the explicit hint
    // the four hot-set consumers fall back to shuffled joins —
    // measured +36% at 16× before the hint. Hot keys are
    // block-count-sized (≤ rows/maxBlock by definition), so the hint
    // is safe far past this bound; above it, let AQE decide.
    val hotMat = if (adaptive) Some(hotKeys0.localCheckpoint(true)) else None
    val hotCount = hotMat.map(_.count()).getOrElse(-1L)
    val hotKeys = hotMat match {
      case None => hotKeys0
      case Some(hk) => if (hotCount <= 1000000L) broadcast(hk) else hk
    }
    def side(df: DataFrame, idAs: String, nameAs: String) =
      df.select(blockCols.map(col) :+ col(idCol).as(idAs) :+ col(nameCol).as(nameAs): _*)
    if (adaptive && hotCount == 0L) {
      // cap idle: every block is within the bound on both sides, so
      // the direct arm's anti-join keeps everything and the banded
      // arm has no rows — one plain blocked join is the same answer
      side(batch, "batch_id", "name_batch")
        .join(side(master, "master_id", "name_master"), blockCols)
        .withColumn("dist", levenshtein(col("name_batch"), col("name_master"), maxDist))
        .where(col("dist") >= 0)
        .select("batch_id", "master_id", "name_batch", "name_master", "dist")
    } else {
      def okSide(df: DataFrame, idAs: String, nameAs: String) =
        side(df.join(hotKeys, blockCols, "left_anti"), idAs, nameAs)
      val direct = okSide(batch, "batch_id", "name_batch")
        .join(okSide(master, "master_id", "name_master"), blockCols)
        .withColumn("dist", levenshtein(col("name_batch"), col("name_master"), maxDist))
        .where(col("dist") >= 0)
        .select("batch_id", "master_id", "name_batch", "name_master", "dist")
      val bandCols = blockCols :+ "__band" :+ "__bkey"
      def bandedSide(df: DataFrame, idAs: String, nameAs: String) = {
        val b = df.join(hotKeys, blockCols, "left_semi")
          .select(blockCols.map(col) :+ col(idCol).as(idAs) :+ col(nameCol).as(nameAs) :+
            posexplode(bands).as(Seq("__band", "__bkey")): _*)
          .where(col("__bkey").isNotNull)
        val sz = b.groupBy(bandCols.map(col): _*).agg(count(lit(1)).as("block_n"))
        b.join(sz.where(col("block_n") <= maxBlock), bandCols, "left_semi")
          // re-select: the using-column semi join moves join cols first
          .select((bandCols :+ idAs :+ nameAs).map(col): _*)
      }
      val banded = bandedSide(batch, "batch_id", "name_batch")
        .join(bandedSide(master, "master_id", "name_master"), bandCols)
        .withColumn("dist", levenshtein(col("name_batch"), col("name_master"), maxDist))
        .where(col("dist") >= 0)
        .select("batch_id", "master_id", "name_batch", "name_master", "dist")
        .distinct()
      direct.unionByName(banded)
    }
  }

  /** [[bandedSubBlockRecall]] for the CDC face: for every hot block
    * (over `maxBlock` on either side) classify where its UNCAPPED
    * batch×master match pairs land under [[incrementalPairsBanded]] —
    * `n_kept` (≥ 1 collision in a bucket within the cap on BOTH
    * sides), `n_lost_refused` (collides, but every colliding bucket
    * is over-cap on at least one side), `n_lost_cross` (no band
    * collides, including NULL band keys). Output rides both sides'
    * block sizes (`batch_n`, `master_n` — 0 = absent) so the skew
    * source is visible per block; `recall = n_kept /
    * n_pairs_uncapped` as in [[subBlockRecall]], and the
    * classification is exhaustive by construction.
    *
    * Audit cost: the hot blocks' uncapped Σ(batch_n·master_n) bill ON
    * PURPOSE — `samplePct` is the scale face (deterministic md5
    * hash-sample over hot BLOCK KEYS; per-block rows stay exact, the
    * corpus-total estimate carries only between-block sampling
    * variance, exactly [[subBlockRecall]]'s construction — per-block
    * band-bucket sizes include blockCols in their key, so sampling
    * whole blocks never distorts them).
    */
  def incrementalBandedRecall(
      idCol: String,
      nameCol: String,
      blockCols: Seq[String],
      maxDist: Int,
      maxBlock: Long,
      bands: Column,
      samplePct: Int = 100)(batch: DataFrame, master: DataFrame): DataFrame = {
    require(blockCols.nonEmpty, "incrementalBandedRecall needs at least one blocking column")
    val hotKeys = hotBlockSample(blockCols, samplePct)(
      incrementalHotBlocks(blockCols, maxBlock)(batch, master))
    // NOTE (r19): a hotKeys localCheckpoint was tried here — the frame
    // re-derives ~4x (both sides' joins + the two semi-joins) — and
    // measured NEUTRAL-to-worse at 16x (ErScale increcall median
    // 111.1 -> 119.5 s): the re-derivation is two map-side-partial
    // aggregations over digest columns, cheap next to the pair bill.
    // Left lazy on purpose, like subBlockRecall's hot frame.
    val keyOnly = hotKeys.select(blockCols.map(col): _*)
    val sizeCols = Seq("batch_n", "master_n")
    def side(df: DataFrame, tag: String, nameTag: String) = df
      .join(hotKeys, blockCols)
      .select((blockCols ++ sizeCols).map(col) :+
        col(idCol).as(s"${tag}_id") :+ col(nameCol).as(s"name_$nameTag"): _*)
    val pairs = side(batch, "batch", "batch")
      .join(side(master, "master", "master"), blockCols ++ sizeCols)
      .where(levenshtein(col("name_batch"), col("name_master"), maxDist) >= 0)
    val bandCols = blockCols :+ "__band" :+ "__bkey"
    def bandedSide(df: DataFrame, tag: String) = {
      val b = df.join(keyOnly, blockCols, "left_semi")
        .select(blockCols.map(col) :+ col(idCol).as(s"${tag}_id") :+
          posexplode(bands).as(Seq("__band", "__bkey")): _*)
        .where(col("__bkey").isNotNull)
      val sz = b.groupBy(bandCols.map(col): _*).agg(count(lit(1)).as(s"__m_$tag"))
      b.join(sz, bandCols)
    }
    val collisions = bandedSide(batch, "batch").join(bandedSide(master, "master"), bandCols)
      .groupBy((blockCols :+ "batch_id" :+ "master_id").map(col): _*)
      .agg(max(when(col("__m_batch") <= maxBlock && col("__m_master") <= maxBlock, 1)
        .otherwise(0)).as("__any_kept"))
    pairs.join(collisions, blockCols :+ "batch_id" :+ "master_id", "left")
      .withColumn("__cls",
        when(col("__any_kept") === 1, lit("kept"))
          .when(col("__any_kept") === 0, lit("refused"))
          .otherwise(lit("cross")))
      .groupBy((blockCols ++ sizeCols).map(col): _*)
      .agg(
        count(lit(1)).as("n_pairs_uncapped"),
        sum(when(col("__cls") === "kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__cls") === "cross", 1L).otherwise(0L)).as("n_lost_cross"),
        sum(when(col("__cls") === "refused", 1L).otherwise(0L)).as("n_lost_refused"))
      .withColumn("recall",
        col("n_kept").cast("double") / col("n_pairs_uncapped"))
  }

  /** [[incrementalPairs]] resolved into per-batch-row assignments:
    * each batch row gets the SMALLEST matched master cluster id (a
    * deterministic, order-free tie rule — distance-weighted policies
    * compose downstream from the pairs face), its match count, and
    * its best distance; rows with no candidate (novel entities, or
    * rows whose block the cap refused on either side) surface with a
    * NULL `cluster_id` and `n_matches = 0` — the caller's new-cluster
    * signal, never a silent drop. `master` must carry `clusterCol`
    * (a resolved [[matchGroups]] output joined back, or the id
    * itself for a master where every row is its own entity).
    *
    * `bands` engages [[incrementalPairsBanded]] as the pair source —
    * the hot-block remedy applied to assignment, so batch rows of
    * cap-refused blocks resolve through surviving band buckets
    * instead of ALL surfacing as false novels (measured at the gate:
    * 51/125 blocks refused at cap 12 with every batch row of them
    * novel on the plain path; see er_incremental_assign_banded).
    *
    * Scale shape: the pairs join plus one pairs-sized aggregation and
    * a batch-sized left join — nothing master²-sized anywhere.
    */
  def incrementalAssign(
      idCol: String,
      nameCol: String,
      blockCols: Seq[String],
      maxDist: Int,
      maxBlock: Long,
      clusterCol: String,
      bands: Option[Column] = None,
      adaptive: Boolean = false)(batch: DataFrame, master: DataFrame): DataFrame = {
    val pairs = bands match {
      case None => incrementalPairs(idCol, nameCol, blockCols, maxDist, maxBlock)(batch, master)
      case Some(b) =>
        incrementalPairsBanded(idCol, nameCol, blockCols, maxDist, maxBlock, b,
          adaptive)(batch, master)
    }
    val withCluster = pairs.join(
      master.select(col(idCol).as("master_id"), col(clusterCol).as("__cluster")),
      Seq("master_id"))
    val agg = withCluster.groupBy("batch_id").agg(
      min("__cluster").as("cluster_id"),
      count(lit(1)).as("n_matches"),
      min("dist").as("best_dist"))
    batch.select(col(idCol).as("batch_id"))
      .join(agg, Seq("batch_id"), "left")
      .withColumn("n_matches", coalesce(col("n_matches"), lit(0L)))
  }

  /** The CDC face's cluster-state update: the master-cluster MERGES a
    * batch implies. [[incrementalAssign]] resolves each batch row to
    * its smallest matched cluster — but a batch row matching masters
    * in TWO different clusters is evidence those clusters are the
    * same real-world entity (the textbook incremental-ER merge step),
    * and an assignment alone silently leaves them split. This face
    * returns the remap table: one row per master cluster whose id
    * changes, `(old_cluster, new_cluster)` where `new_cluster` is the
    * smallest cluster id in the merged component — the instruction a
    * caller applies to the master store (and to any downstream keyed
    * state) alongside appending the batch.
    *
    * Components come from label propagation
    * ([[graft.llm.Dedup.nearDupClusters]]) over the CLUSTER graph —
    * one edge per (matched cluster, batch row's min matched cluster)
    * — so transitive merges across several batch rows land in one
    * component (row X merges {A,B}, row Y merges {B,C} → {A,B,C} all
    * remap to min). Same pair source rules as [[incrementalAssign]]:
    * `bands` engages the banded hot-block remedy, otherwise the plain
    * capped path.
    *
    * Scale shape: the pairs join, one pairs-sized aggregation, a
    * distinct over cluster edges (≤ pairs rows, usually far fewer),
    * and label prop over a graph whose nodes are the clusters the
    * batch actually touched — batch-bounded, never master-sized. The
    * returned frame is MATERIALIZED (nearDupClusters returns
    * localCheckpoint or driver-local storage, reclaimed by the
    * ContextCleaner when the frame is garbage-collected) — no
    * caller-side `.unpersist()` contract exists. Callers running the
    * assignment too should use [[incrementalResolveAndMerges]], which
    * derives both faces from ONE persisted pair plan instead of
    * re-paying the blocked join per face.
    */
  def incrementalMerges(
      idCol: String,
      nameCol: String,
      blockCols: Seq[String],
      maxDist: Int,
      maxBlock: Long,
      clusterCol: String,
      bands: Option[Column] = None,
      adaptive: Boolean = false)(batch: DataFrame, master: DataFrame): DataFrame = {
    val pairs = bands match {
      case None => incrementalPairs(idCol, nameCol, blockCols, maxDist, maxBlock)(batch, master)
      case Some(b) =>
        incrementalPairsBanded(idCol, nameCol, blockCols, maxDist, maxBlock, b,
          adaptive)(batch, master)
    }
    val pc = pairs.join(
      master.select(col(idCol).as("master_id"), col(clusterCol).as("__cluster")),
      Seq("master_id"))
      .select("batch_id", "__cluster")
    val minC = pc.groupBy("batch_id").agg(min("__cluster").as("__c_min"))
    val edges = pc.join(minC, Seq("batch_id"))
      .where(col("__cluster") =!= col("__c_min"))
      .select(col("__cluster").as("id_a"), col("__c_min").as("id_b"))
      .distinct()
    graft.llm.Dedup.nearDupClusters(edges)
      .select(col("doc_id").as("old_cluster"), col("cluster_id").as("new_cluster"))
      .where(col("old_cluster") =!= col("new_cluster"))
  }

  /** [[incrementalAssign]] composed with [[incrementalMerges]], BOTH
    * faces derived from ONE persisted pair plan: returns
    * `(resolved, merges)` where `resolved` is each batch row's final
    * cluster under the POST-MERGE ids — the state a caller actually
    * appends — and `merges` is the `(old_cluster, new_cluster)` remap
    * log the same candidate evidence implies (identical rows to
    * [[incrementalMerges]] on the same inputs). Matched rows get the
    * merged component's smallest cluster id; novel rows (no candidate
    * — including rows of cap-refused blocks on the un-banded path)
    * get THEMSELVES as a new cluster id (`cluster_id = batch_id`,
    * requiring the usual disjoint-id-space contract between batch and
    * master), so the output is total: every batch row leaves with a
    * concrete cluster, `n_matches = 0` still marks the novels loudly,
    * and `best_dist` rides along for parity with
    * [[incrementalAssign]] (NULL for novels).
    *
    * Cost shape: the candidate pairs are computed ONCE and persisted
    * across the derivations (the merge closure's label prop runs
    * eagerly — a separate action that could never share exchanges
    * with the assignment's plan; measured before this sharing, the
    * naive two-pass composition paid ~3× the assign-only bill at 16×,
    * SCALE.md round 15 — and the same double bill is exactly what a
    * caller invoking resolve + merges separately per micro-batch
    * would pay, hence the tuple face for
    * [[graft.streaming.StreamingIngest.erResolveStream]]). Both
    * returned frames are delta-bounded — the assignment aggregate is
    * batch-sized (the CDC delta, bounded by the face's own contract)
    * and the merge remap is merges-logged-sized — so they
    * localCheckpoint and the pairs cache releases before returning;
    * nothing master-sized materializes, and neither frame carries a
    * caller-side `.unpersist()` contract (localCheckpoint blocks are
    * reclaimed by the ContextCleaner on garbage collection).
    */
  def incrementalResolveAndMerges(
      idCol: String,
      nameCol: String,
      blockCols: Seq[String],
      maxDist: Int,
      maxBlock: Long,
      clusterCol: String,
      bands: Option[Column] = None,
      adaptive: Boolean = false)(
      batch: DataFrame, master: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val pairs = (bands match {
      case None => incrementalPairs(idCol, nameCol, blockCols, maxDist, maxBlock)(batch, master)
      case Some(b) =>
        incrementalPairsBanded(idCol, nameCol, blockCols, maxDist, maxBlock, b,
          adaptive)(batch, master)
    }).persist(MEMORY_AND_DISK)
    try {
      val withCluster = pairs.join(
        master.select(col(idCol).as("master_id"), col(clusterCol).as("__cluster")),
        Seq("master_id"))
      val agg = withCluster.groupBy("batch_id").agg(
        min("__cluster").as("cluster_id"),
        count(lit(1)).as("n_matches"),
        min("dist").as("best_dist"))
        .localCheckpoint(true)
      val minC = withCluster.groupBy("batch_id").agg(min("__cluster").as("__c_min"))
      val edges = withCluster.select("batch_id", "__cluster").join(minC, Seq("batch_id"))
        .where(col("__cluster") =!= col("__c_min"))
        .select(col("__cluster").as("id_a"), col("__c_min").as("id_b"))
        .distinct()
      val merges = graft.llm.Dedup.nearDupClusters(edges)
        .select(col("doc_id").as("old_cluster"), col("cluster_id").as("new_cluster"))
        .where(col("old_cluster") =!= col("new_cluster"))
        .localCheckpoint(true)
      val resolved = batch.select(col(idCol).as("batch_id"))
        .join(agg, Seq("batch_id"), "left")
        .join(
          broadcast(merges.select(
            col("old_cluster").as("cluster_id"), col("new_cluster"))),
          Seq("cluster_id"), "left")
        .select(
          col("batch_id"),
          coalesce(col("new_cluster"), col("cluster_id"), col("batch_id")).as("cluster_id"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          col("best_dist"))
      (resolved, merges)
    } finally pairs.unpersist()
  }

  /** The resolve face alone — [[incrementalResolveAndMerges]]\' first
    * component, for callers maintaining no merge log (the merge remap
    * is still computed internally: resolve NEEDS the closure to land
    * matched rows on post-merge ids, so the standalone face costs the
    * same). Output: (batch_id, cluster_id, n_matches, best_dist).
    */
  def incrementalResolve(
      idCol: String,
      nameCol: String,
      blockCols: Seq[String],
      maxDist: Int,
      maxBlock: Long,
      clusterCol: String,
      bands: Option[Column] = None,
      adaptive: Boolean = false)(batch: DataFrame, master: DataFrame): DataFrame =
    incrementalResolveAndMerges(
      idCol, nameCol, blockCols, maxDist, maxBlock, clusterCol, bands,
      adaptive)(batch, master)._1

  /** The offline compactor for [[incrementalMerges]]' remap log —
    * the step the streaming loop's scaladoc
    * ([[graft.streaming.StreamingIngest.erResolveStream]]) defers to
    * the caller's cadence. Accumulated log batches CHAIN: batch 1
    * logs 50→30, a later batch logs 30→10, so row clusters stored as
    * 50 must land on 10. The closure is connected components over the
    * log's (old, new) edges with min labels — exactly
    * [[graft.llm.Dedup.nearDupClusters]] again — so chains of any
    * depth collapse in one pass, with no driver-side loop over log
    * batches. Returns `master` with `clusterCol` rewritten to each
    * row's EFFECTIVE cluster (rows whose cluster never appears in the
    * log pass through untouched); after writing the result back, the
    * caller truncates the log.
    *
    * Scale shape: the log is clusters-touched-sized (bounded by total
    * logged merges, never master-sized); only the closure table —
    * the same size class as the log the caller already stores — is
    * materialized (eager localCheckpoint; the blocks are reclaimed by
    * the ContextCleaner when the frame is garbage-collected, so no
    * caller-side release contract exists); the master itself flows
    * through one lazy broadcast left join, nothing master-sized is
    * ever collected or checkpointed.
    */
  def applyMergeLog(
      clusterCol: String,
      mergeLog: DataFrame)(master: DataFrame): DataFrame = {
    val closure = graft.llm.Dedup.nearDupClusters(
      mergeLog.select(col("old_cluster").as("id_a"), col("new_cluster").as("id_b")))
    // no checkpoint (r19): nearDupClusters already returns a
    // MATERIALIZED frame (driver union-find → LocalRelation; the
    // distributed fixpoint → its own localCheckpoint), and the single
    // broadcast below evaluates it exactly once — the extra eager
    // checkpoint was one more 32-task job per call for nothing
    val remap = closure
      .select(col("doc_id").as("__old"), col("cluster_id").as("__new"))
      .where(col("__old") =!= col("__new"))
    master.join(broadcast(remap), master(clusterCol) === remap("__old"), "left")
      .withColumn(clusterCol, coalesce(col("__new"), col(clusterCol)))
      .drop("__old", "__new")
  }

  /** [[matchGroups]] over the OR-amplified banded remedy — the
    * end-to-end face of [[candidatePairsBanded]]: transitive match
    * groups whose hot-block edges come from the banded candidate set
    * (measured recall 0.97-1.00 vs ~0.30 for a single lexical
    * sub-key, SCALE.md round 15). Same storage contract as
    * [[matchGroups]] (materialized; no caller-side release needed).
    */
  def matchGroupsBanded(
      idCol: String,
      nameCol: String,
      blockCols: Seq[String],
      maxDist: Int,
      maxBlock: Long,
      bands: Column)(df: DataFrame): DataFrame =
    graft.llm.Dedup.nearDupClusters(
      candidatePairsBanded(idCol, nameCol, blockCols, maxDist, maxBlock, bands)(df))

  // ===== the executable band-refinement ladder (round 16) =====

  /** One contiguous positional segment of the banded string —
    * 1-based substring (start, len), the data form of a
    * [[segmentBands]]-style band. Carrying band sets as DATA (a spec,
    * not a pre-built Column) is what makes the refinement ladder
    * EXECUTABLE: the refusal audit emits evidence, [[recommendSegBands]]
    * turns evidence into a refined spec, and [[bandsFromSpec]] turns
    * the spec back into the band expression — no hand edit in the
    * loop (the {d4d5},{d6d7},{d8d9} → {d6},{d7},{d8d9} refinement
    * SCALE.md round 15 derived by hand from the same evidence).
    */
  final case class SegSpec(start: Int, len: Int) {
    require(start >= 1 && len >= 1, s"bad segment ($start, $len)")
  }

  /** [[segmentBands]]' pigeonhole boundaries for `numBands` segments
    * over the absolute character range [start, start + len): the
    * spec form of `segmentBands(substr(c, start, len), numBands)`.
    */
  def splitSegments(start: Int, len: Int, numBands: Int): Seq[SegSpec] = {
    require(numBands >= 1 && len >= 1, s"bad split len=$len numBands=$numBands")
    (0 until numBands).map { i =>
      val s = math.floor(i.toLong * len / numBands).toInt
      val e = math.floor((i + 1).toLong * len / numBands).toInt
      SegSpec(start + s, e - s)
    }.filter(_.len > 0)
  }

  /** Band-key array for a segment spec: band i's key is the spec's
    * i-th segment text, tagged with the FULL string length (the
    * pigeonhole length-grouping of [[segmentBands]] — different-
    * length strings have shifted positions and must never collide;
    * the documented recall trade is insert/delete pairs). NULL input
    * → every key NULL (the blocking-NULL contract: the row never
    * pairs through any band).
    */
  def bandsFromSpec(c: Column, spec: Seq[SegSpec]): Column = {
    require(spec.nonEmpty, "bandsFromSpec needs at least one segment")
    array(spec.map(s =>
      concat(length(c).cast("string"), lit(":"),
        c.substr(lit(s.start), lit(s.len)))): _*)
  }

  /** The refusal audit's PER-BAND face — the evidence
    * [[recommendSegBands]] consumes: for each band of `spec`, over
    * the hot blocks (> `maxBlock`), how many exploded rows landed in
    * buckets the never-waived cap refuses. A band whose rows mostly
    * land in over-cap buckets contributes almost no surviving routes
    * (its keys are too coarse for this field's value distribution —
    * the 16× coarse-{d4d5} decay, SCALE.md round 15); one whose rows
    * survive carries the recall. Output, one row per band:
    * (band, seg_start, seg_len, n_rows, n_refused_rows, n_buckets,
    * n_refused_buckets, refused_frac).
    *
    * Scale shape: the same block-sizes aggregate the pairing paths
    * run, one ×numBands explode of HOT rows only (short keys), and
    * band-sized aggregations — no pair join anywhere, so the evidence
    * is CHEAPER than the banded production path it tunes, and
    * unlike the recall audits it pays no Σblock² bill at all.
    */
  def bandEvidence(
      nameCol: String,
      blockCols: Seq[String],
      maxBlock: Long,
      spec: Seq[SegSpec])(df: DataFrame): DataFrame = {
    require(blockCols.nonEmpty, "bandEvidence needs at least one blocking column")
    val spark = df.sparkSession
    import spark.implicits._
    val sizes = blockSizes(blockCols)(df)
    val bandCols = blockCols :+ "__band" :+ "__bkey"
    val banded = df
      .join(sizes.where(col("block_n") > maxBlock), blockCols, "left_semi")
      .select(blockCols.map(col) :+
        posexplode(bandsFromSpec(col(nameCol), spec)).as(Seq("__band", "__bkey")): _*)
      .where(col("__bkey").isNotNull)
    val bucketSizes = banded.groupBy(bandCols.map(col): _*)
      .agg(count(lit(1)).as("__m"))
    val rowsPerBand = banded.join(bucketSizes, bandCols)
      .groupBy(col("__band").as("band"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("__m") > maxBlock, 1L).otherwise(0L)).as("n_refused_rows"))
    val bucketsPerBand = bucketSizes
      .groupBy(col("__band").as("band"))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(when(col("__m") > maxBlock, 1L).otherwise(0L)).as("n_refused_buckets"))
    val specDf = spec.zipWithIndex
      .map { case (s, i) => (i, s.start, s.len) }
      .toDF("band", "seg_start", "seg_len")
    specDf.join(rowsPerBand, Seq("band"), "left")
      .join(bucketsPerBand, Seq("band"), "left")
      .select(
        col("band"), col("seg_start"), col("seg_len"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("n_refused_rows"), lit(0L)).as("n_refused_rows"),
        coalesce(col("n_buckets"), lit(0L)).as("n_buckets"),
        coalesce(col("n_refused_buckets"), lit(0L)).as("n_refused_buckets"),
        coalesce(col("n_refused_rows") / col("n_rows"), lit(0.0)).as("refused_frac"))
  }

  /** The deterministic refinement step — evidence in, refined band
    * spec out, no hand in the loop: drop every band of `spec` whose
    * hot-row refusal fraction exceeds `tau` (its keys are too coarse
    * for this field — keeping it buys refusals, not routes), then
    * RE-SPLIT the contiguous hull of the surviving bands' character
    * range into `maxDist + 1` segments (the [[segmentBands]] floor
    * boundaries), restoring the pigeonhole guarantee — ≤ maxDist
    * substitutions anywhere leave ≥ 1 refined band intact, and the
    * refined keys live where the evidence says the values are
    * discriminating. This is EXACTLY the round-15 hand refinement:
    * {d4d5},{d6d7},{d8d9} evidence (coarse {d4d5} 100% refused) →
    * hull of the survivors = the 4 suffix chars → {d6},{d7},{d8d9},
    * whose recall measured 0.960 scale-invariantly (SCALE.md r15).
    *
    * Loud terminal face: when EVERY band is over `tau` — no
    * surviving region to re-split — the ladder is exhausted for this
    * segment family and the ORIGINAL spec is re-emitted with
    * `action = 'terminal'` (the honest answer is re-key or raise the
    * cap, never a silently-invented band set); otherwise rows carry
    * `action = 'refined'`. A dropped band INSIDE the hull re-enters
    * through the re-split (the hull is contiguous by construction) —
    * if its chars still refuse, the next audit round says so and the
    * ladder recurses (evidence → recommend → re-audit, each step
    * gated and deterministic).
    *
    * Degraded face: the pigeonhole guarantee (≤ maxDist substitutions
    * leave ≥ 1 band intact) needs maxDist + 1 NON-EMPTY segments, and
    * a hull shorter than maxDist + 1 chars cannot yield them — the
    * seg_len > 0 filter would silently emit fewer. Those rows carry
    * `action = 'degraded'` instead of 'refined': the spec is still
    * the best available banding of the surviving region, but maxDist
    * substitutions landing inside the short hull can break every
    * band, and an automated loop must not treat it as a restored
    * guarantee ([[collectRecommendedSpec]] surfaces the action;
    * [[refineBandsLoop]] stops on it).
    *
    * Scale shape: [[bandEvidence]]'s aggregations plus spec-sized
    * (≤ numBands rows) arithmetic — nothing row-scale is added.
    */
  def recommendSegBands(
      nameCol: String,
      blockCols: Seq[String],
      maxBlock: Long,
      spec: Seq[SegSpec],
      maxDist: Int,
      tau: Double = 0.5)(df: DataFrame): DataFrame = {
    require(tau > 0.0 && tau < 1.0, s"tau must be in (0, 1), got $tau")
    require(maxDist >= 1, s"recommendSegBands needs maxDist >= 1, got $maxDist")
    val spark = df.sparkSession
    import spark.implicits._
    val ev = bandEvidence(nameCol, blockCols, maxBlock, spec)(df)
    val surv = ev.where(col("refused_frac") <= tau)
    val hull = surv.agg(
      min("seg_start").as("__h0"),
      max(col("seg_start") + col("seg_len")).as("__h1"),
      count(lit(1)).as("__ns"))
    val numOut = maxDist + 1
    val idx = (0 until numOut).toDF("band")
    val refined = hull.where(col("__ns") > 0).crossJoin(idx)
      .select(
        col("band"),
        (col("__h0") + floor(col("band") * (col("__h1") - col("__h0")) / numOut))
          .cast("int").as("seg_start"),
        (floor((col("band") + 1) * (col("__h1") - col("__h0")) / numOut) -
          floor(col("band") * (col("__h1") - col("__h0")) / numOut))
          .cast("int").as("seg_len"),
        // every floor-split segment is non-empty iff the hull is at
        // least numOut chars wide — below that the pigeonhole
        // guarantee is NOT restored and the spec says so loudly
        when(col("__h1") - col("__h0") >= numOut, lit("refined"))
          .otherwise(lit("degraded")).as("action"))
      .where(col("seg_len") > 0)
    val terminal = ev.crossJoin(hull.where(col("__ns") === 0))
      .select(col("band"), col("seg_start"), col("seg_len"),
        lit("terminal").as("action"))
    refined.unionByName(terminal)
  }

  /** Driver-side materialization of a [[recommendSegBands]] result —
    * the step that closes the executable loop (spec → evidence →
    * recommendation → NEW spec → [[bandsFromSpec]]). The collect is
    * spec-sized by [[recommendSegBands]]' contract (≤ max(numBands,
    * maxDist + 1) rows — a config plane, the ConfigReader collect
    * discipline), never data-sized. Returns the refined spec and the
    * recommendation's ACTION: 'refined' (pigeonhole guarantee
    * restored), 'degraded' (hull too short for maxDist + 1 segments —
    * best-effort bands, weakened guarantee), or 'terminal' (every
    * band refused; re-key or raise the cap rather than loop).
    */
  def collectRecommendedSpec(recommendation: DataFrame): (Seq[SegSpec], String) = {
    val rows = recommendation
      .select("band", "seg_start", "seg_len", "action")
      .collect().sortBy(_.getInt(0))
    require(rows.nonEmpty, "empty band recommendation")
    val action =
      if (rows.exists(_.getString(3) == "terminal")) "terminal"
      else if (rows.exists(_.getString(3) == "degraded")) "degraded"
      else "refined"
    (rows.map(r => SegSpec(r.getInt(1), r.getInt(2))).toSeq, action)
  }

  /** One step of the executed ladder: the spec in force after `iter`
    * refinements, the action that produced it, and its measured
    * hot-row refusal totals (refused / total exploded rows over
    * [[bandEvidence]] — the quantity the loop drives down).
    */
  final case class LadderStep(
      iter: Int,
      spec: Seq[SegSpec],
      action: String,
      refusedRows: Long,
      totalRows: Long) {
    def refusedFrac: Double = if (totalRows == 0L) 0.0 else refusedRows.toDouble / totalRows
  }

  /** The band-refinement ladder RUN TO CONVERGENCE — the iterated
    * form of evidence → [[recommendSegBands]] → re-band that rounds
    * 15–16 executed one step at a time by hand/gate. Starting from
    * `initSpec`, each iteration recommends a refined spec and
    * re-measures its refusal fraction; the loop stops when
    *
    *  - nothing is refused (the banding routes every hot row),
    *  - the recommendation is not 'refined' ('terminal' = ladder
    *    exhausted, 'degraded' = guarantee no longer restorable —
    *    both are the caller's re-key signal, never silently looped
    *    past),
    *  - the spec reaches a FIXPOINT (recommendation == current), or
    *  - the refusal fraction stops improving (a re-split that buys
    *    nothing will keep buying nothing — the evidence is
    *    deterministic, so looping again would oscillate between the
    *    same specs), or
    *  - `maxIters` fires (the hard termination bound).
    *
    * Returns the full trajectory (step 0 = `initSpec` with its
    * measured refusals), so callers log WHY the loop stopped, not
    * just where. Cost per iteration: two [[bandEvidence]] passes
    * (aggregation-only — no pair join) plus spec-sized collects;
    * nothing data-sized lands on the driver.
    */
  def refineBandsLoop(
      nameCol: String,
      blockCols: Seq[String],
      maxBlock: Long,
      initSpec: Seq[SegSpec],
      maxDist: Int,
      tau: Double = 0.5,
      maxIters: Int = 8)(df: DataFrame): Seq[LadderStep] = {
    require(maxIters >= 1, s"bad maxIters=$maxIters")
    def measure(spec: Seq[SegSpec]): (Long, Long) = {
      val r = bandEvidence(nameCol, blockCols, maxBlock, spec)(df)
        .agg(sum("n_refused_rows").as("r"), sum("n_rows").as("n")).head
      (if (r.isNullAt(0)) 0L else r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val steps = scala.collection.mutable.ArrayBuffer.empty[LadderStep]
    var current = initSpec
    var (ref, tot) = measure(initSpec)
    steps += LadderStep(0, initSpec, "initial", ref, tot)
    var done = ref == 0L
    var iter = 1
    while (!done && iter <= maxIters) {
      val (next, action) = collectRecommendedSpec(
        recommendSegBands(nameCol, blockCols, maxBlock, current, maxDist, tau)(df))
      val (refN, totN) = measure(next)
      steps += LadderStep(iter, next, action, refN, totN)
      val prevFrac = if (tot == 0L) 0.0 else ref.toDouble / tot
      val nextFrac = if (totN == 0L) 0.0 else refN.toDouble / totN
      done = action != "refined" || refN == 0L || next == current || nextFrac >= prevFrac
      // adopt the new spec only when it actually improved under a
      // 'refined' action: a regressed or degraded/terminal rung is
      // RECORDED (the trajectory logs why the loop stopped) but never
      // becomes the spec in force — steps.last.spec could otherwise
      // be strictly worse than the penultimate rung, and an automated
      // caller adopting it would ship the regression
      if (action == "refined" && nextFrac < prevFrac) {
        current = next; ref = refN; tot = totN
      }
      iter += 1
    }
    steps.toSeq
  }

  /** The trajectory's BEST rung — lowest refusal fraction, earliest
    * iteration on ties. Automated callers adopt `bestStep(...).spec`,
    * never `steps.last.spec` (the last step may be the regressed or
    * degraded rung that STOPPED the loop, kept in the trajectory so
    * the stop reason stays visible).
    */
  def bestStep(steps: Seq[LadderStep]): LadderStep = {
    require(steps.nonEmpty, "bestStep of an empty trajectory")
    steps.minBy(s => (s.refusedFrac, s.iter))
  }
}
