package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{ParquetResolver, StudyRunner, Interpreter, PipelineContext}
import graft.io.{ConfigReader, Export, NestedStore, Standardized}
import graft.llm.{Dedup, Multimodal, Similarity, Sketch, TextAnalysis}
import graft.model._
import graft.ops.Ops

/** Query registry — corpus management: deterministic splits/sampling, decontamination, packing, mixtures, curation recipe pipelines.
  *
  * Split out of SparkEntry (round 13) purely for maintainability: the
  * public driver contract is still `SparkEntry.queries` /
  * `SparkEntry.oracleSql`, which concatenate the per-family maps.
  * Helpers shared across families live in [[QueryHelpers]].
  */
private[graft] object CorpusQueries {
  import QueryHelpers._

  val queries: Map[String, (SparkSession, String) => DataFrame] = reg(
    // the remedy for split leakage: hash-split on the near-dup
    // CLUSTER representative, so whole groups land in one split;
    // unpaired docs keep their withHashSplit assignment
    "sample_cluster_split" -> ((s, d) =>
      graft.llm.Sampling.clusterAwareSplit(t(s, d, "documents"), "doc_id", "text",
        minJaccard = 0.3)),
    // CAPPED twin (the dedup_threshold_curve_capped discipline): the
    // gate corpus's hottest shingle df is 7 < 16, so the capped split
    // gates against the SAME oracle SQL — every driver round
    // hash-proves the cap's no-op contract on this second audit
    // entry point; SCALE.md carries the amplified measurement
    "sample_cluster_split_capped" -> ((s, d) =>
      graft.llm.Sampling.clusterAwareSplit(t(s, d, "documents"), "doc_id", "text",
        minJaccard = 0.3, maxDocFreq = Some(16))),
    // config-driven curation: the reference's table-of-operations
    // identity applied to the training-data stack — this recipe is
    // DATA (four stage rows), interpreted into one declarative plan
    "pipeline_curation_config" -> ((s, d) =>
      graft.llm.CurationPipeline.run(doubledDocs(s, d),
        graft.llm.CurationPipeline.readRecipe(s,
          Fixtures.path("curation_demo/recipe.csv")))
        .select("doc_id", "source", "split")),
    // round-12 vocabulary: PII REDACT -> SEMANTIC DECONTAM (bench =
    // vectors of docs < 10, excluded from the corpus) -> NEAR DEDUP
    // KEEP-BEST on an upstream-produced ttr score — the full
    // published curation stack expressible as recipe rows
    "pipeline_curation_v2" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val toks = split(col("text"), " ")
      val corpus = t(s, d, "documents")
        .join(emb.select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
        .where(col("doc_id") >= 10)
        .withColumn("ttr", size(array_distinct(toks)).cast("double") / size(toks))
      val bench = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("doc_id"), col("embedding"))
      graft.llm.CurationPipeline.run(corpus,
        graft.llm.CurationPipeline.readRecipe(s,
          Fixtures.path("curation_demo/recipe_v2.csv")),
        bench = Some(bench))
        .select("doc_id", "source", "ttr")
    }),
    // temperature sampling plan: tau=2 (invTau=0.5) upsampling weights
    "mixture_temperature" -> ((s, d) =>
      graft.llm.Packing.temperatureMixtureWeights("source",
        "n_tokens", invTau = 0.5)(
        t(s, d, "documents").withColumn("n_tokens",
          size(split(col("text"), " ")).cast("long")))),
    // benchmark decontamination: docs with doc_id % 19 == 3 stand in
    // for the eval suite; every other doc is scanned for 5-gram
    // overlap with that set (broadcast semi-join — the bench side is
    // tiny by construction)
    "decontam_overlap" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.llm.Decontam.contaminationReport(
        docs.filter(col("doc_id") % 19 =!= 3),
        docs.filter(col("doc_id") % 19 === 3),
        "doc_id", "text", n = 5)
    }),
    // paraphrase-level decontam: docs 0-24 stand in for the eval
    // suite; banded MinHash across the two tables, exact-jaccard
    // verify. Oracle is all-pairs exact jaccard — sound under the
    // corpus-assumption spec (no pairs in the banding miss zone)
    "decontam_minhash" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.llm.MinhashDecontam.minhashContamination(
        docs.filter(col("doc_id") >= 25), docs.filter(col("doc_id") < 25),
        "doc_id", "text", threshold = 0.5)
    }),
    // semantic decontam: vectors 0-9 stand in for the embedded eval
    // suite; every corpus vector reports its nearest bench vector.
    // Threshold 0.35, not 0.9: the synthetic embeddings are
    // near-orthogonal (the sim_embedding_neardup rationale), so a
    // high gate would be vacuously all-false.
    "decontam_semantic" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      graft.llm.Decontam.semanticDecontam(
        emb.filter(col("vec_id") >= 10), emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", threshold = 0.35)
    }),

    // ===== corpus management: deterministic splits + summary stats =====
    "sample_hash_split" -> ((s, d) =>
      graft.llm.Sampling.withHashSplit("doc_id")(t(s, d, "documents"))
        .select("doc_id", "split")),
    "sample_hash_10pct" -> ((s, d) =>
      graft.llm.Sampling.hashSample("doc_id", 10)(t(s, d, "documents"))),
    // corpus balancing: keep 10% of overrepresented en, 30% elsewhere
    "sample_stratified" -> ((s, d) =>
      graft.llm.Sampling.stratifiedHashSample("doc_id", "lang",
        Seq("en" -> 10), defaultPct = 30)(t(s, d, "documents"))
        .select("doc_id", "lang")),
    // diversity-preserving subsample: <= 3 rows per IVF cell in the
    // stable md5 order (membership a pure function of the data)
    "sample_cluster_balanced" -> ((s, d) =>
      graft.llm.Sampling.clusterBalancedSample(t(s, d, "embeddings"),
        "vec_id", "embedding", ivfModel(s, d), perCell = 3)),
    // temperature-based domain balancing (alpha=0.5: the exponent is
    // a correctly-rounded sqrt, so the rate table is engine-exact)
    "sample_domain_mixture" -> ((s, d) =>
      graft.llm.Sampling.domainMixture("source")(t(s, d, "documents"))),
    "sample_domain_balanced" -> ((s, d) =>
      graft.llm.Sampling.temperatureBalancedSample("doc_id", "source")(t(s, d, "documents"))
        .select("doc_id", "source")),
    // UniMax water-filling: budget 213001 chars at <=2 epochs per
    // language — at sf0.01 three languages cap out (de/fr/es) and two
    // share a fractional uniform level (zh/en), exercising BOTH
    // allocation branches plus the non-integer water level
    "sample_unimax" -> ((s, d) =>
      graft.llm.Sampling.unimaxAllocation("lang", "n_chars",
        budget = 213001.0, maxEpochs = 2.0)(t(s, d, "documents"))),
    // the allocation made ACTIONABLE (round 15): same budget piped
    // back onto the corpus as per-doc copy counts (floor(epochs) +
    // a stable hash-fractional resample) with a deterministic
    // per-copy order key — the UniMax → packing bridge; capped
    // languages emit 2 copies per doc, leveled ones a hash subset
    "sample_unimax_schedule" -> ((s, d) =>
      graft.llm.Sampling.unimaxSchedule("doc_id", "lang", "n_chars",
        budget = 213001.0, maxEpochs = 2.0)(t(s, d, "documents"))),
    // one-row release datasheet: volume, diversity, dup fraction,
    // token-length shape — all counts/integer sums, engine-exact
    "corpus_datasheet" -> ((s, d) =>
      TextAnalysis.corpusDatasheet(t(s, d, "documents"), "text", "lang", "source")),

    // ===== sequence packing (llm/Packing.scala) =====
    // concat-and-chunk layout: sharded token stream, 2048-token
    // chunks; integer-only arithmetic so the DuckDB replay is
    // bit-exact (see Packing scaladoc for the 100 TB sharding story)
    "pack_sequences" -> ((s, d) =>
      graft.llm.Packing.packSequences("doc_id", "n_tokens", budget = 2048, shards = 16)(
        t(s, d, "documents")
          .select(col("doc_id"), size(split(col("text"), " ")).cast("int").as("n_tokens")))),
    // the full budget -> training-layout composition (round 15): the
    // UniMax schedule's copies (unit key "doc_id:copy", the same
    // string the order key hashes) join their token counts and flow
    // through the concat-and-chunk layout — a language allocated 1.4
    // epochs literally occupies 1.4x its tokens in the packed stream
    "pack_unimax_budget" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val sched = graft.llm.Sampling.unimaxSchedule("doc_id", "lang", "n_chars",
        budget = 213001.0, maxEpochs = 2.0)(docs)
      val units = sched.join(
          docs.select(col("doc_id"), size(split(col("text"), " ")).cast("int").as("n_tokens")),
          Seq("doc_id"))
        .select(concat(col("doc_id").cast("string"), lit(":"), col("copy").cast("string"))
          .as("copy_key"), col("lang"), col("n_tokens"))
      graft.llm.Packing.packSequences("copy_key", "n_tokens", budget = 2048, shards = 16)(units)
    }),
    // per-chunk loader manifest: docs/tokens starting in each chunk
    "pack_manifest" -> ((s, d) =>
      graft.llm.Packing.packManifest("doc_id", "n_tokens", budget = 2048, shards = 16)(
        t(s, d, "documents")
          .select(col("doc_id"), size(split(col("text"), " ")).cast("int").as("n_tokens")))),
    // length-band histogram for batch-shape planning (exact CASE
    // boundaries, no floating log2)
    "pack_length_hist" -> ((s, d) =>
      graft.llm.Packing.lengthHistogram("n_tokens")(
        t(s, d, "documents")
          .select(size(split(col("text"), " ")).cast("int").as("n_tokens")))),
    // stride-scheduled source interleave via two-phase ranking (no
    // per-source global sort); power-of-two rates → vt is an exact
    // binary scaling of the integer rank
    "pack_mixture_schedule" -> ((s, d) =>
      graft.llm.Packing.mixtureSchedule("doc_id", "source",
        Seq("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
        defaultRate = 0.125, shards = 16)(
        t(s, d, "documents").select("doc_id", "source"))
        .select("doc_id", "source", "shard", "rank_in_source", "vt")),
    // deterministic per-epoch reshuffle schedule (two-phase ranked,
    // range-sharded on the order key — exact global hash order)
    "epoch_shuffle" -> ((s, d) =>
      graft.llm.Packing.epochShuffle("doc_id", epochs = 2, shards = 16)(
        t(s, d, "documents").select("doc_id"))),
    // quality-ranked token-budget selection: keep each source's best
    // 500 tokens by type-token ratio (bin-wholesale + exact boundary
    // == the oracle's per-document prefix rule)
    "select_token_budget" -> ((s, d) => {
      val toks = split(col("text"), " ")
      graft.llm.Selection.tokenBudgetSelect(
        "doc_id", "ttr", "n_tokens", "source", budget = 500L)(
        t(s, d, "documents").select(col("doc_id"), col("source"),
          (size(array_distinct(toks)).cast("double") / size(toks)).as("ttr"),
          size(toks).cast("int").as("n_tokens")))
    }),
    // curriculum schedule: quality-annealed deterministic priority
    // (best-first percentile blended 50/50 with the stable hash)
    "curriculum_priority" -> ((s, d) => {
      val toks = split(col("text"), " ")
      graft.llm.Selection.curriculumPriority("doc_id", "ttr", "source", mix = 0.5)(
        t(s, d, "documents").select(col("doc_id"), col("source"),
          (size(array_distinct(toks)).cast("double") / size(toks)).as("ttr")))
    }),
    // weighted top-k via priority sampling (w/u, one IEEE division —
    // engine-exact, unlike exponential-keys' libm pow/ln)
    "sample_priority_topk" -> ((s, d) =>
      graft.llm.Sampling.prioritySample("doc_id", "n_tokens", 50)(
        t(s, d, "documents")
          .select(col("doc_id"), size(split(col("text"), " ")).cast("int").as("n_tokens")))),
    // DSIR importance weights: per-doc log-likelihood ratio of
    // target-vs-raw hashed-bigram models, fixed-point per bucket so
    // the per-doc sum is an exact integer (llm/Dsir.scala)
    "dsir_weights" -> ((s, d) =>
      graft.llm.Dsir.importanceWeights("doc_id", "text", col("lang") === "en")(
        t(s, d, "documents"))),

    // the typical pretraining funnel composed end-to-end: cheap
    // quality gates first, then dedup, then labeling — one lazy plan
    "pipeline_preprocess" -> ((s, d) => {
      val scored = TextAnalysis.withQualityScores("text")(doubledDocs(s, d))
      val gated = scored.filter(col("n_tokens") >= 30 && col("ttr") >= 0.4)
      val deduped = Dedup.exactDedup("text", "doc_id")(gated)
      TextAnalysis.withLangId("text", Seq(
        "en" -> Seq("the", "a"),
        "db" -> Seq("table", "query", "row")))(deduped)
        .select("doc_id", "n_tokens", "ttr", "lang_pred")
    }),
    // the end-to-end training-data prep path a corpus takes before
    // training: quality gate -> exact dedup -> LSH near-dedup ->
    // leak-proof deterministic split. Every stage is the scale path
    // (md5-keyed dedup, banded near-dup, zero-shuffle split); the
    // oracle replays the whole chain with exact all-pairs jaccard.
    "pipeline_train_prep" -> ((s, d) => {
      val scored = TextAnalysis.withQualityScores("text")(doubledDocs(s, d))
      val gated = scored.filter(col("n_tokens") >= 20 && col("ttr") >= 0.3)
      // stage barrier (r18): nearDedup consumes its input ~4× (the
      // signature pass, both ngramJaccard shingle joins, the final
      // anti-join) — without the checkpoint each of those re-ran the
      // whole Gopher battery + exact-dedup window upstream. A
      // production pipeline writes its gate output between stages;
      // this is that write, per invocation, never a cross-run cache.
      val exact = Dedup.exactDedup("text", "doc_id")(gated).localCheckpoint()
      val near = Dedup.nearDedup(exact, "doc_id", "text", threshold = 0.5)
      graft.llm.Sampling.withHashSplit("doc_id")(near)
        .select("doc_id", "n_tokens", "ttr", "split")
    }),
    // the flagship REFRESHED on the distilled stack (round 18): the
    // chain a 100 TB run actually affords — the trained ridge PROBE
    // as the quality gate (2 integer features + a codegen'd linear
    // form, replacing the full Gopher battery), a KN fluency CUT
    // (CCNet tail tertile dropped via the layout-invariant two-phase
    // rank), then the same exact-dedup -> LSH near-dedup -> leakproof
    // split as v1. The oracle replays EVERY stage: the HUGEINT Cramer
    // refit, the gate, the KN model + ntile, both dedups, the split
    "pipeline_train_prep_v2" -> ((s, d) => {
      import graft.llm.{LangModel, QualityProbe}
      val base = t(s, d, "documents")
      val x1 = QualityProbe.tokenCount("text")
      val x2 = QualityProbe.markerCount("text", "the")
      // probe trained ONCE on the reference snapshot (teacher = the
      // Gopher verdict), then applied to the doubled corpus
      val withG = TextAnalysis.withGopherSignals("text", Seq("the", "a"))(base)
      val p = QualityProbe.trainRidge(withG, x1, x2, col("passes_gopher"))
      // stage barriers (r18): the probe-gated corpus feeds the KN
      // scorer AND the keep join AND (through keep) the dedup chain,
      // and nearDedup consumes its input ~4× — lazily each use re-ran
      // the probe gate (and upstream of it the whole plan); the v2
      // plan carried 23 Generates / 16 SortMergeJoins of duplicated
      // subtrees. Each checkpoint is the between-stage write a
      // production pipeline does anyway, per invocation, never a
      // cross-run cache.
      val gated = doubledDocs(s, d)
        .withColumn("score_fp",
          floor(QualityProbe.score(p, x1, x2) * lit(1e6) + lit(0.5)).cast("long"))
        .where(QualityProbe.score(p, x1, x2) >= lit(0.5))
        .localCheckpoint()
      val buckets = LangModel.withKnBuckets(gated,
        base.where(col("doc_id") % 4 === 0), "doc_id", "text")
      val keep = gated.join(
        buckets.where(col("bucket") <= 2).select("doc_id", "bucket"), Seq("doc_id"))
      val exact = Dedup.exactDedup("text", "doc_id")(keep).localCheckpoint()
      val near = Dedup.nearDedup(exact, "doc_id", "text", threshold = 0.5)
      graft.llm.Sampling.withHashSplit("doc_id")(near)
        .select("doc_id", "score_fp", "bucket", "split")
    }),
    // steady-state ingest: diff the arriving snapshot against the
    // store, content-dedup ONLY the added docs against the store's
    // digest set, quality-gate the survivors. The %50==1 rows are
    // planted content-dups (store rows re-id'd), so the dedup stage
    // provably drops — nothing here reprocesses the store
    "pipeline_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val store = docs.where(col("doc_id") % 5 =!= 0)
      val incoming = docs.where(col("doc_id") % 5 === 0)
        .unionByName(docs.where(col("doc_id") % 50 === 1)
          .withColumn("doc_id", col("doc_id") + 2000000L))
      val diff = graft.llm.Drift.snapshotDiff(store, store.unionByName(incoming),
        "doc_id", Seq("text", "lang", "source", "n_chars"))
      val addedDocs = incoming.join(
        diff.where(col("status") === "added").select("doc_id"), Seq("doc_id"), "left_semi")
      val novel = Dedup.incrementalDedup("text", addedDocs, store)
      TextAnalysis.withQualityScores("text")(novel)
        .where(col("n_tokens") >= 30)
        .select("doc_id", "n_tokens", "ttr")
    }),
  )

  /** Shared by sample_cluster_split and its capped twin — the cap (16)
    * exceeds the gate corpus's hottest shingle df (7), so both gate
    * against the SAME uncapped replay (the thresholdCurveSql pattern).
    */
  private val clusterSplitSql =
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
      |  SELECT e.t, w.r FROM walk w JOIN edges e ON e.s = w.v),
      |cc AS (SELECT v AS doc_id, min(r) AS cluster_id FROM walk GROUP BY 1),
      |keyed AS (SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS split_key
      |          FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id)
      |SELECT doc_id, split_key,
      |  CASE WHEN CAST(concat('0x', substr(md5(CAST(split_key AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 5 THEN 'val'
      |       WHEN CAST(concat('0x', substr(md5(CAST(split_key AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 10 THEN 'test'
      |       ELSE 'train' END AS split
      |FROM keyed""".stripMargin

  val oracleSql: Map[String, String] = reg(
    // cluster-aware split replay: the dedup_clusters recursive
    // reachability walk for the representative, then the
    // sample_hash_split bucket rule on COALESCE(cluster, own id)
    "sample_cluster_split" -> clusterSplitSql,
    // IDENTICAL oracle by design — the capped==uncapped hash pin
    "sample_cluster_split_capped" -> clusterSplitSql,
    // stage-by-stage replay: gopher verdict (stop list the,a) ->
    // blocklist NOT-overlap -> keep-first per md5 -> hash-bucket split
    "pipeline_curation_config" ->
      s"""WITH base AS (
        |  SELECT doc_id, source, text, string_split(text, ' ') AS w, string_split(text, chr(10)) AS l
        |  FROM $doubledDocsSql),
        |m AS (
        |  SELECT doc_id, source, text, w,
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
        |q AS (SELECT doc_id, source, text, w FROM m
        |      WHERE n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
        |        AND symbol_ratio <= 0.1 AND frac_bullet_lines <= 0.9 AND frac_ellipsis_lines <= 0.3
        |        AND frac_alpha_words > 0.8 AND n_stop >= 2),
        |bl AS (SELECT doc_id, source, text FROM q
        |       WHERE NOT len(list_filter(list_transform(w, t -> lower(t)),
        |         t -> list_contains(['slow'], t))) > 0),
        |dd AS (SELECT doc_id, source FROM (
        |    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM bl)
        |  WHERE rn = 1)
        |SELECT doc_id, source,
        |  CASE WHEN b < 5 THEN 'val' WHEN b < 10 THEN 'test' ELSE 'train' END AS split
        |FROM (SELECT doc_id, source,
        |        CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
        |      FROM dd)""".stripMargin,
    // v2 recipe replay: PII redact (identity on this corpus, but the
    // regexes run on both engines) -> semantic filter (exact cosine
    // vs the 10 bench vectors, survivors have max_sim < 0.35) ->
    // keep-best near-dedup (recursive-CTE components, ttr-desc rank)
    "pipeline_curation_v2" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT d.doc_id, d.source, d.text AS t0, e.embedding::DOUBLE[] AS cv,
        |    CAST(len(list_distinct(string_split(d.text, ' '))) AS DOUBLE)
        |      / len(string_split(d.text, ' ')) AS ttr
        |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        |  WHERE d.doc_id >= 10),
        |red AS (
        |  SELECT doc_id, source, cv, ttr,
        |    regexp_replace(
        |      regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |      'https?://[A-Za-z0-9./_%?&=-]+', '<URL>', 'g') AS text
        |  FROM corpus),
        |b AS (SELECT embedding::DOUBLE[] AS bv FROM embeddings WHERE vec_id < 10),
        |sim AS (SELECT r.doc_id,
        |          max(list_inner_product(r.cv, b.bv) /
        |            (sqrt(list_inner_product(r.cv, r.cv)) * sqrt(list_inner_product(b.bv, b.bv)))) AS max_sim
        |        FROM red r, b GROUP BY 1),
        |dec AS (SELECT r.doc_id, r.source, r.ttr, r.text FROM red r JOIN sim USING (doc_id)
        |        WHERE max_sim < 0.35),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM dec),
        |sh AS (SELECT doc_id,
        |         CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |              ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
        |                     i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) END AS s
        |       FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b2.doc_id AS id_b
        |  FROM sh a JOIN sh b2 ON a.doc_id < b2.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b2.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b2.s))) >= 0.5),
        |edges AS (SELECT id_a AS s, id_b AS t FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |walk(v, r) AS (
        |  SELECT s, s FROM (SELECT DISTINCT s FROM edges) t0
        |  UNION
        |  SELECT e.t, w.r FROM walk w JOIN edges e ON e.s = w.v),
        |cl AS (SELECT v AS doc_id, min(r) AS cluster_id FROM walk GROUP BY 1),
        |ranked AS (SELECT c.doc_id,
        |             row_number() OVER (PARTITION BY c.cluster_id
        |               ORDER BY d.ttr DESC, c.doc_id) AS rn
        |           FROM cl c JOIN dec d USING (doc_id))
        |SELECT d.doc_id, d.source, d.ttr FROM dec d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM ranked WHERE rn > 1)""".stripMargin,
    // the weight total is an ORDERED full-frame window sum (by
    // source), so both engines add in the same sequence — a plain
    // aggregate's combine order would be partition-dependent
    "mixture_temperature" ->
      """WITH c AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY 1),
        |w AS (SELECT source, n_tokens, sqrt(CAST(n_tokens AS DOUBLE)) AS weight FROM c)
        |SELECT source, n_tokens, weight,
        |  weight / sum(weight) OVER (ORDER BY source
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS prob,
        |  (weight / sum(weight) OVER (ORDER BY source
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |  / (CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER (ORDER BY source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS DOUBLE)) AS upsample_factor
        |FROM w""".stripMargin,
    // 5-gram overlap replay: same shingle rule, bench = doc_id%19==3
    "decontam_overlap" ->
      """WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT doc_id, array_to_string(w[i:i+4], ' ') AS gram
        |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i
        |        FROM toks WHERE len(w) >= 5)
        |  UNION ALL
        |  SELECT doc_id, text AS gram FROM toks WHERE len(w) < 5),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 19 = 3),
        |tg AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 19 <> 3)
        |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_grams,
        |  CAST(sum(CASE WHEN gram IN (SELECT gram FROM bench) THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |  sum(CASE WHEN gram IN (SELECT gram FROM bench) THEN 1 ELSE 0 END) > 0 AS contaminated
        |FROM tg GROUP BY 1""".stripMargin,
    // cross-table exact jaccard (3-word shingles, short-doc rule):
    // all-pairs train x bench is oracle-side only — the query's
    // banded recall equals the exact >= 0.5 set by the
    // corpus-assumption spec
    "decontam_minhash" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |         CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |              ELSE list_distinct(list_transform(generate_series(1, len(w) - 2),
        |                     i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) END AS s
        |       FROM toks),
        |pairs AS (SELECT t.doc_id AS train_id, b.doc_id AS bench_id,
        |            CAST(len(list_intersect(t.s, b.s)) AS DOUBLE)
        |              / len(list_distinct(list_concat(t.s, b.s))) AS jaccard
        |          FROM sh t JOIN sh b ON t.doc_id >= 25 AND b.doc_id < 25)
        |SELECT train_id, bench_id, jaccard FROM pairs WHERE jaccard >= 0.5""".stripMargin,
    // argmax replay: row_number(sim DESC, bench_id ASC) = Spark's
    // max(struct(sim, -bench_id)) — highest sim, lowest id on ties
    "decontam_semantic" ->
      """WITH b AS (SELECT vec_id AS bench_id, embedding::DOUBLE[] AS bv
        |           FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT e.vec_id, b.bench_id,
        |        list_inner_product(e.embedding::DOUBLE[], b.bv) /
        |          (sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |           * sqrt(list_inner_product(b.bv, b.bv))) AS sim
        |      FROM embeddings e, b WHERE e.vec_id >= 10)
        |SELECT vec_id, bench_id AS nearest_bench_id, sim AS max_sim,
        |       sim >= 0.35 AS contaminated
        |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, bench_id) AS rn
        |      FROM s)
        |WHERE rn = 1""".stripMargin,
    "sample_hash_split" ->
      """SELECT doc_id,
        |  CASE WHEN b < 5 THEN 'val' WHEN b < 10 THEN 'test' ELSE 'train' END AS split
        |FROM (SELECT doc_id,
        |        CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
        |      FROM documents)""".stripMargin,
    "sample_hash_10pct" ->
      """SELECT * FROM documents
        |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 10""".stripMargin,
    "sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100
        |      < CASE WHEN lang = 'en' THEN 10 ELSE 30 END""".stripMargin,
    // closed-form water-filling replay: ascending (cap, lang) prefix
    // sums, level_i = (B - prefix)/remaining, L = max feasible level
    "sample_unimax" ->
      """WITH sz AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS n_weight
        |            FROM documents GROUP BY 1),
        |c AS (SELECT lang, n_weight, n_weight * 2.0 AS cap FROM sz),
        |r AS (SELECT lang, n_weight, cap,
        |        COALESCE(SUM(cap) OVER (ORDER BY cap, lang
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS prefix,
        |        COUNT(*) OVER () - ROW_NUMBER() OVER (ORDER BY cap, lang) + 1 AS rem
        |      FROM c),
        |l AS (SELECT *, (213001.0 - prefix) / rem AS lv FROM r),
        |g AS (SELECT *, MAX(CASE WHEN lv <= cap THEN lv END) OVER () AS wl FROM l)
        |SELECT lang, n_weight, cap,
        |  CASE WHEN wl IS NULL THEN cap ELSE LEAST(cap, wl) END AS allocation,
        |  (CASE WHEN wl IS NULL THEN cap ELSE LEAST(cap, wl) END) / n_weight AS epochs
        |FROM g""".stripMargin,
    // allocation replay (same CTEs) -> per-doc copy count via the
    // 60-bit md5 fraction under frac(epochs) -> one row per copy with
    // the deterministic "id:copy" order key
    "sample_unimax_schedule" ->
      """WITH sz AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS n_weight
        |            FROM documents GROUP BY 1),
        |c AS (SELECT lang, n_weight, n_weight * 2.0 AS cap FROM sz),
        |r AS (SELECT lang, n_weight, cap,
        |        COALESCE(SUM(cap) OVER (ORDER BY cap, lang
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS prefix,
        |        COUNT(*) OVER () - ROW_NUMBER() OVER (ORDER BY cap, lang) + 1 AS rem
        |      FROM c),
        |l AS (SELECT *, (213001.0 - prefix) / rem AS lv FROM r),
        |g AS (SELECT *, MAX(CASE WHEN lv <= cap THEN lv END) OVER () AS wl FROM l),
        |a AS (SELECT lang,
        |        (CASE WHEN wl IS NULL THEN cap ELSE LEAST(cap, wl) END) / n_weight AS epochs
        |      FROM g),
        |k AS (SELECT d.doc_id, d.lang,
        |        CAST(floor(a.epochs) AS BIGINT) +
        |        CASE WHEN CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |                  / 1152921504606846976.0 < a.epochs - floor(a.epochs)
        |             THEN 1 ELSE 0 END AS n_copies
        |      FROM documents d JOIN a USING (lang)),
        |e AS (SELECT doc_id, lang, unnest(generate_series(1, n_copies)) AS copy
        |      FROM k WHERE n_copies > 0)
        |SELECT doc_id, lang, copy,
        |       CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':',
        |         CAST(copy AS VARCHAR))), 1, 15)) AS BIGINT) AS order_key
        |FROM e""".stripMargin,
    "sample_domain_mixture" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |m AS (SELECT min(n_docs) AS n_min FROM c)
        |SELECT source, n_docs, sqrt(CAST(n_min AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS sample_rate
        |FROM c, m""".stripMargin,
    "sample_domain_balanced" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |m AS (SELECT min(n_docs) AS n_min FROM c),
        |r AS (SELECT source, sqrt(CAST(n_min AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS rate FROM c, m)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN r USING (source)
        |WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      / 1152921504606846976.0 < r.rate OR r.rate >= 1.0""".stripMargin,
    "corpus_datasheet" ->
      """SELECT count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  count(DISTINCT lang) AS n_langs,
        |  count(DISTINCT source) AS n_sources,
        |  count(DISTINCT md5(text)) AS n_unique_texts,
        |  avg(CAST(len(string_split(text, ' ')) AS BIGINT)) AS mean_tokens,
        |  quantile_cont(CAST(len(string_split(text, ' ')) AS BIGINT), 0.5) AS median_tokens,
        |  CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens,
        |  CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE) / count(*) AS dup_frac
        |FROM documents""".stripMargin,
    // sequence packing: same sharded window cumsum, integer `//`
    "pack_sequences" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 16 AS shard
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, n_tokens, shard,
        |    COALESCE(SUM(CAST(n_tokens AS BIGINT)) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
        |  FROM toks)
        |SELECT doc_id, n_tokens, shard,
        |  CAST(tokens_before // 2048 AS BIGINT) AS pack_id,
        |  CAST(tokens_before - (tokens_before // 2048) * 2048 AS BIGINT) AS pack_offset,
        |  (tokens_before - (tokens_before // 2048) * 2048 + n_tokens > 2048) AS spans_boundary
        |FROM cum""".stripMargin,
    // schedule replay (sample_unimax_schedule's CTEs) -> token join
    // -> the pack_sequences window cumsum over "doc_id:copy" units
    "pack_unimax_budget" ->
      """WITH sz AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS n_weight
        |            FROM documents GROUP BY 1),
        |c AS (SELECT lang, n_weight, n_weight * 2.0 AS cap FROM sz),
        |r AS (SELECT lang, n_weight, cap,
        |        COALESCE(SUM(cap) OVER (ORDER BY cap, lang
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS prefix,
        |        COUNT(*) OVER () - ROW_NUMBER() OVER (ORDER BY cap, lang) + 1 AS rem
        |      FROM c),
        |l AS (SELECT *, (213001.0 - prefix) / rem AS lv FROM r),
        |g AS (SELECT *, MAX(CASE WHEN lv <= cap THEN lv END) OVER () AS wl FROM l),
        |a AS (SELECT lang,
        |        (CASE WHEN wl IS NULL THEN cap ELSE LEAST(cap, wl) END) / n_weight AS epochs
        |      FROM g),
        |k AS (SELECT d.doc_id, d.lang,
        |        CAST(floor(a.epochs) AS BIGINT) +
        |        CASE WHEN CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |                  / 1152921504606846976.0 < a.epochs - floor(a.epochs)
        |             THEN 1 ELSE 0 END AS n_copies
        |      FROM documents d JOIN a USING (lang)),
        |e AS (SELECT doc_id, lang, unnest(generate_series(1, n_copies)) AS copy
        |      FROM k WHERE n_copies > 0),
        |tok AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
        |        FROM documents),
        |u AS (SELECT concat(CAST(e.doc_id AS VARCHAR), ':', CAST(e.copy AS VARCHAR)) AS copy_key,
        |             e.lang, tok.n_tokens,
        |             CAST(concat('0x', substr(md5(concat(CAST(e.doc_id AS VARCHAR), ':',
        |               CAST(e.copy AS VARCHAR))), 1, 15)) AS BIGINT) % 16 AS shard
        |      FROM e JOIN tok ON e.doc_id = tok.doc_id),
        |cum AS (SELECT copy_key, lang, n_tokens, shard,
        |          COALESCE(SUM(CAST(n_tokens AS BIGINT)) OVER (PARTITION BY shard ORDER BY copy_key
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
        |        FROM u)
        |SELECT copy_key, lang, n_tokens, shard,
        |  CAST(tokens_before // 2048 AS BIGINT) AS pack_id,
        |  CAST(tokens_before - (tokens_before // 2048) * 2048 AS BIGINT) AS pack_offset,
        |  (tokens_before - (tokens_before // 2048) * 2048 + n_tokens > 2048) AS spans_boundary
        |FROM cum""".stripMargin,
    "pack_manifest" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 16 AS shard
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, n_tokens, shard,
        |    COALESCE(SUM(CAST(n_tokens AS BIGINT)) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
        |  FROM toks)
        |SELECT shard, CAST(tokens_before // 2048 AS BIGINT) AS pack_id,
        |  count(*) AS n_docs,
        |  CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN tokens_before - (tokens_before // 2048) * 2048 + n_tokens > 2048
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning
        |FROM cum GROUP BY 1, 2""".stripMargin,
    "pack_length_hist" ->
      """SELECT CASE WHEN n_tokens <= 64 THEN 64 WHEN n_tokens <= 128 THEN 128
        |    WHEN n_tokens <= 256 THEN 256 WHEN n_tokens <= 512 THEN 512
        |    WHEN n_tokens <= 1024 THEN 1024 WHEN n_tokens <= 2048 THEN 2048
        |    WHEN n_tokens <= 4096 THEN 4096 ELSE -1 END AS bucket_hi,
        |  count(*) AS n_docs, CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS sum_tokens
        |FROM (SELECT CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens FROM documents)
        |GROUP BY 1""".stripMargin,
    "pack_mixture_schedule" ->
      """WITH s AS (
        |  SELECT doc_id, source,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 16 AS shard
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, shard,
        |    row_number() OVER (PARTITION BY source ORDER BY shard, doc_id) AS rank_in_source
        |  FROM s)
        |SELECT doc_id, source, shard, rank_in_source,
        |  CAST(rank_in_source AS DOUBLE) /
        |    (CASE source WHEN 'src0' THEN CAST(1.0 AS DOUBLE)
        |                 WHEN 'src1' THEN CAST(0.5 AS DOUBLE)
        |                 WHEN 'src2' THEN CAST(0.25 AS DOUBLE)
        |                 ELSE CAST(0.125 AS DOUBLE) END) AS vt
        |FROM r""".stripMargin,
    // per-epoch reshuffle: the oracle is the naive per-epoch global
    // row_number the two-phase Spark plan provably equals
    "epoch_shuffle" ->
      """WITH k AS (
        |  SELECT doc_id, e.epoch,
        |    CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':',
        |      CAST(e.epoch AS VARCHAR))), 1, 15)) AS BIGINT) AS order_key
        |  FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS epoch) e)
        |SELECT CAST(epoch AS INTEGER) AS epoch, doc_id, order_key,
        |  CAST(row_number() OVER (PARTITION BY epoch ORDER BY order_key, doc_id) AS BIGINT) AS "rank"
        |FROM k""".stripMargin,
    // token-budget selection: the oracle is the per-document prefix
    // rule (score DESC, id) the bin-wholesale Spark plan equals
    "select_token_budget" ->
      """WITH q AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS ttr,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, ttr, n_tokens,
        |    SUM(CAST(n_tokens AS BIGINT)) OVER (PARTITION BY source
        |      ORDER BY ttr DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM q)
        |SELECT doc_id, source, ttr, n_tokens FROM c WHERE cum <= 500""".stripMargin,
    // curriculum blend: (1-pct)*0.5 + hash_frac*0.5, both factors
    // exact — binary-exact mix keeps the arithmetic engine-portable
    "curriculum_priority" ->
      """WITH q AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS ttr
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, ttr,
        |    percent_rank() OVER (PARTITION BY source ORDER BY ttr) AS score_pct
        |  FROM q)
        |SELECT doc_id, source, ttr, score_pct,
        |  (1.0 - score_pct) * 0.5 +
        |  (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |     / 1152921504606846976.0) * 0.5 AS priority
        |FROM c""".stripMargin,
    "sample_priority_topk" ->
      """SELECT doc_id, n_tokens, CAST(n_tokens AS DOUBLE) / u AS priority
        |FROM (SELECT doc_id,
        |        CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |        greatest(
        |          CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |            / 1152921504606846976.0,
        |          1.0 / 1152921504606846976.0) AS u
        |      FROM documents)
        |ORDER BY priority DESC, doc_id LIMIT 50""".stripMargin,
    // same bigram rule as text_repetition, same md5 bucketing as the
    // hash splits, fixed-point ln-ratio quantized once per bucket
    "dsir_weights" ->
      """WITH toks AS (SELECT doc_id, lang, text, string_split(text, ' ') AS w FROM documents),
        |g0 AS (
        |  SELECT doc_id, lang, array_to_string(w[i:i+1], ' ') AS gram
        |  FROM (SELECT doc_id, lang, w, unnest(generate_series(1, len(w) - 1)) AS i
        |        FROM toks WHERE len(w) >= 2)
        |  UNION ALL
        |  SELECT doc_id, lang, text AS gram FROM toks WHERE len(w) < 2),
        |g AS (SELECT doc_id,
        |        CASE WHEN lang = 'en' THEN 1 END AS is_tgt,
        |        CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) % 1024 AS bucket
        |      FROM g0),
        |cnt AS (SELECT bucket, count(*) AS c_raw, count(is_tgt) AS c_tgt
        |        FROM g GROUP BY 1),
        |model AS (SELECT bucket,
        |            CAST(floor((ln(CAST(c_tgt + 1 AS DOUBLE) / (sum(c_tgt) OVER () + 1024))
        |                      - ln(CAST(c_raw + 1 AS DOUBLE) / (sum(c_raw) OVER () + 1024)))
        |                       * 1000000.0 + 0.5) AS BIGINT) AS ratio_fp
        |          FROM cnt)
        |SELECT g.doc_id, count(*) AS n_grams, CAST(sum(m.ratio_fp) AS BIGINT) AS score_fp
        |FROM g JOIN model m USING (bucket)
        |GROUP BY 1""".stripMargin,
    "pipeline_preprocess" ->
      s"""WITH q AS (
         |  SELECT doc_id, text,
         |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
         |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) AS ttr
         |  FROM $doubledDocsSql),
         |f AS (SELECT * FROM q WHERE n_tokens >= 30 AND ttr >= 0.4),
         |d AS (SELECT * FROM (
         |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM f) WHERE rn = 1),
         |scored AS (SELECT doc_id, n_tokens, ttr,
         |    CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['the', 'a'], t))) AS INTEGER) AS s_en,
         |    CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['table', 'query', 'row'], t))) AS INTEGER) AS s_db
         |  FROM d)
         |SELECT doc_id, n_tokens, ttr,
         |  CASE WHEN s_en >= s_db THEN 'en' ELSE 'db' END AS lang_pred
         |FROM scored""".stripMargin,
    "pipeline_train_prep" ->
      s"""WITH q AS (
         |  SELECT doc_id, text,
         |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
         |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) AS ttr
         |  FROM $doubledDocsSql),
         |f AS (SELECT * FROM q WHERE n_tokens >= 20 AND ttr >= 0.3),
         |d AS (SELECT * FROM (
         |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM f) WHERE rn = 1),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM d),
         |sh AS (SELECT doc_id,
         |         CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
         |              ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
         |                     i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) END AS s
         |       FROM toks),
         |drops AS (SELECT DISTINCT b.doc_id AS id_b
         |          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |          WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) >= 0.5)
         |SELECT doc_id, n_tokens, ttr,
         |  CASE WHEN bkt < 5 THEN 'val' WHEN bkt < 10 THEN 'test' ELSE 'train' END AS split
         |FROM (SELECT doc_id, n_tokens, ttr,
         |        CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bkt
         |      FROM d WHERE doc_id NOT IN (SELECT id_b FROM drops))""".stripMargin,
    // the distilled-stack flagship, every stage replayed: probe refit
    // (HUGEINT Cramer over the reference snapshot, TextQueries'
    // shared CTEs), the >= 0.5 gate over the doubled corpus, the KN
    // model + tail-tertile cut (ntile over the same total order the
    // query's two-phase rank produces), exact dedup, all-pairs
    // jaccard near-dedup, and the md5 split
    "pipeline_train_prep_v2" ->
      (TextQueries.probeFeatSql +
        TextQueries.probeFitCtes("", "").stripSuffix("\n") + ",\n" +
        TextQueries.knModelSql.stripPrefix("WITH ") +
        s"""corpus AS (SELECT doc_id, text FROM documents
           |           UNION ALL
           |           SELECT doc_id + 10000 AS doc_id, text FROM documents),
           |feat AS (SELECT doc_id, text,
           |    CAST(len(string_split(COALESCE(text, ''), ' ')) AS BIGINT) AS cx1,
           |    CAST(len(list_filter(string_split(COALESCE(text, ''), ' '), t -> t = 'the')) AS BIGINT) AS cx2
           |  FROM corpus),
           |gated AS (SELECT doc_id, text,
           |    CAST(floor((w.w0 + w.w1 * CAST(cx1 AS DOUBLE) + w.w2 * CAST(cx2 AS DOUBLE))
           |         * 1000000.0 + 0.5) AS BIGINT) AS score_fp
           |  FROM feat CROSS JOIN w
           |  WHERE w.w0 + w.w1 * CAST(cx1 AS DOUBLE) + w.w2 * CAST(cx2 AS DOUBLE) >= 0.5),
           |gtoks AS (SELECT doc_id, string_split(text, ' ') AS gw FROM gated),
           |gbg AS (SELECT doc_id,
           |    CASE WHEN len(gw) < 2 THEN [array_to_string(gw, ' ')]
           |         ELSE list_transform(generate_series(1, len(gw) - 1),
           |                i -> concat_ws(' ', gw[i], gw[i+1])) END AS gs
           |  FROM gtoks),
           |docg AS (SELECT doc_id, bg2 AS bg, sp[1] AS w1, sp[len(sp)] AS w2
           |  FROM (SELECT doc_id, g AS bg2, string_split(g, ' ') AS sp
           |        FROM (SELECT doc_id, unnest(gs) AS g FROM gbg))),
           |sc AS (SELECT doc_id,
           |         CAST(floor(ln(
           |           CASE WHEN COALESCE(c1, 0) > 0 THEN
           |             (greatest(CAST(COALESCE(cb, 0) AS DOUBLE) - CAST(0.75 AS DOUBLE),
           |                       CAST(0.0 AS DOUBLE))
           |              + CAST(0.75 AS DOUBLE) * CAST(COALESCE(n1l, 0) AS DOUBLE)
           |                * (CAST(COALESCE(n1r, 0) + 1 AS DOUBLE) / CAST(tt + v2 + 1 AS DOUBLE)))
           |             / CAST(c1 AS DOUBLE)
           |           ELSE CAST(COALESCE(n1r, 0) + 1 AS DOUBLE) / CAST(tt + v2 + 1 AS DOUBLE)
           |           END) * 1000000.0 + 0.5) AS BIGINT) AS lp
           |       FROM docg LEFT JOIN refbg USING (bg) LEFT JOIN hist USING (w1)
           |            LEFT JOIN cont USING (w2) CROSS JOIN tv),
           |kn AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS nb,
           |           CAST(sum(lp) AS BIGINT) AS lps
           |       FROM sc GROUP BY 1),
           |rk AS (SELECT doc_id, CAST(ntile(3) OVER (
           |         ORDER BY CAST(lps AS DOUBLE) / CAST(nb AS DOUBLE) DESC, doc_id) AS INTEGER) AS bucket
           |       FROM kn),
           |keep AS (SELECT g.doc_id, g.text, g.score_fp, rk.bucket
           |         FROM gated g JOIN rk USING (doc_id) WHERE rk.bucket <= 2),
           |dd AS (SELECT * FROM (
           |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
           |  FROM keep) WHERE rn = 1),
           |ktoks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM dd),
           |ksh AS (SELECT doc_id,
           |         CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
           |              ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
           |                     i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) END AS s
           |       FROM ktoks),
           |drops AS (SELECT DISTINCT b.doc_id AS id_b
           |          FROM ksh a JOIN ksh b ON a.doc_id < b.doc_id
           |          WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) >= 0.5)
           |SELECT doc_id, score_fp, bucket,
           |  CASE WHEN bkt < 5 THEN 'val' WHEN bkt < 10 THEN 'test' ELSE 'train' END AS split
           |FROM (SELECT doc_id, score_fp, bucket,
           |        CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bkt
           |      FROM dd WHERE doc_id NOT IN (SELECT id_b FROM drops))""".stripMargin),
    // incoming ids are all absent from the store by construction, so
    // the diff stage's "added" set equals the incoming set and the
    // oracle replays dedup + quality directly (the diff labelling
    // itself is gated by drift_snapshot)
    "pipeline_incremental" ->
      """WITH store AS (SELECT * FROM documents WHERE doc_id % 5 != 0),
        |incoming AS (
        |  SELECT * FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 50 = 1),
        |novel AS (SELECT * FROM incoming
        |          WHERE md5(text) NOT IN (SELECT md5(text) FROM store))
        |SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) AS ttr
        |FROM novel WHERE len(string_split(text, ' ')) >= 30""".stripMargin,
  )
}
