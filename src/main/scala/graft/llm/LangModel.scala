package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.Streams

/** Bigram language-model fluency scoring — the CCNet-style perplexity
  * quality filter (Wenzek et al. 2020, public): score every document
  * by its mean log-probability under an n-gram model trained on a
  * trusted reference corpus (Wikipedia-class), and drop or bucket the
  * worst tail. The fluency complement of [[Dsir]]: DSIR asks "is this
  * doc shaped like the target domain", this asks "is this doc fluent
  * text at all" — gibberish, boilerplate soup, and OCR noise score
  * low under both smooth and domain-matched references.
  *
  * Model: add-1-smoothed bigram conditionals over the reference,
  * `P(w2 | w1) = (c(w1 w2) + 1) / (c(w1) + V)` with `V` the reference
  * unigram vocabulary size; a document scores
  * `Σ_bigrams ln P / n_bigrams` (bigrams via [[Dedup.shingles]] k=2,
  * so sub-2-token docs contribute their whole text as one "bigram" —
  * every doc gets a row). Unseen histories fall back to `1/(0+V)` —
  * the add-1 floor — so the score is total.
  *
  * Scale shape, the [[Dsir]] contract:
  *  - the model is TWO aggregations over the reference (bigram
  *    counts, unigram counts), each bounded by the reference's
  *    observed-gram vocabulary, not the corpus — a curated reference
  *    is Wikipedia-sized, so its gram tables broadcast or at worst
  *    shuffle as (gram, count) pairs;
  *  - scoring is one explode pass over the corpus: (doc, bigram)
  *    rows join the model tables and partially aggregate back to one
  *    row per doc — only gram strings and longs ever shuffle;
  *  - V is a 1-row aggregate broadcast (the SUMEQ shape).
  *
  * Engine-portable determinism: each bigram's log-conditional is
  * quantized to fixed point ONCE (`floor(ln(·)·fpScale + ½)` as
  * long — micro-nats at the default scale), so the per-doc score is
  * an INTEGER sum, partitioning-invariant and bit-replayable by the
  * DuckDB oracle; the only cross-engine float op is one `ln` per
  * distinct (history, word) pair.
  */
object LangModel {

  /** Per-document fluency: `n_bigrams` and the fixed-point sum of
    * add-1 bigram log-conditionals under `ref`'s model
    * (`logprob_sum_fp`, micro-nats; closer to 0 = more fluent).
    * Callers derive mean log-prob as `logprob_sum_fp / (fpScale ·
    * n_bigrams)` and perplexity as `exp(−mean)`.
    */
  def withLmScore(
      df: DataFrame,
      ref: DataFrame,
      idCol: String,
      textCol: String,
      fpScale: Double = 1e6): DataFrame = {
    val refBigrams = ref.select(explode(Dedup.shingles(textCol, 2)).as("__bg"))
      .groupBy("__bg").agg(count(lit(1)).as("__cb"))
    val refUnigrams = ref.select(explode(TextAnalysis.tokens(col(textCol))).as("__w1"))
      .groupBy("__w1").agg(count(lit(1)).as("__cu"))
    val vocab = refUnigrams.agg(count(lit(1)).as("__v"))

    // NULL text → '' → the short-doc rule's single empty gram, so
    // every doc gets a row (explode(NULL) would silently omit it,
    // breaking the documented totality)
    val docBigrams = df.select(col(idCol), explode(
        Dedup.shinglesOf(coalesce(col(textCol).cast("string"), lit("")), 2)).as("__bg"))
      .withColumn("__w1", substring_index(col("__bg"), " ", 1))
    // model tables are reference-vocab-bounded — broadcast, so the
    // corpus-side explode is one narrow pass (guide §3.1; same
    // contract as withKnScoreFromCounts)
    val scored = docBigrams
      .join(broadcast(refBigrams), Seq("__bg"), "left")
      .join(broadcast(refUnigrams), Seq("__w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("__lp_fp",
        floor(log((coalesce(col("__cb"), lit(0L)) + lit(1L)).cast("double") /
          (coalesce(col("__cu"), lit(0L)) + col("__v"))) * lit(fpScale) + lit(0.5))
          .cast("long"))
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        sum("__lp_fp").as("logprob_sum_fp"))
  }

  /** Interpolated Kneser–Ney bigram fluency — the production form of
    * the CCNet filter (Wenzek et al. 2020 score with KenLM, whose
    * default estimator is interpolated modified KN; this is the
    * single-discount textbook variant, Kneser & Ney 1995 / Chen &
    * Goodman 1999, all public). Add-1's flaw is that it gives every
    * unseen bigram the same mass regardless of how promiscuous the
    * continuation word is; KN replaces that with the CONTINUATION
    * distribution — "how many distinct histories does w2 follow" —
    * which is what separates fluent-but-rare text from gram soup.
    *
    * Model, all terms from `ref`'s bigram table (absolute discount
    * `D = 0.75`):
    *  - `cb(w1 w2)` bigram count; `c1(w1) = Σ_w2 cb` the history
    *    total; `n1l(w1) = |{w2 : cb > 0}|` the history's continuation
    *    fan-out; `n1r(w2) = |{w1 : cb > 0}|` the word's history
    *    fan-in; `T = |{(w1,w2) : cb > 0}|` bigram types;
    *    `V2 = |{w2}|` distinct continuation words.
    *  - `Pcont(w2) = (n1r(w2) + 1) / (T + V2 + 1)` — the continuation
    *    unigram with one add-1 UNK slot, so unseen words keep a
    *    positive floor and the distribution still sums to 1 over
    *    seen ∪ {UNK}.
    *  - seen history (`c1 > 0`):
    *    `P = (max(cb − D, 0) + D · n1l(w1) · Pcont(w2)) / c1`
    *    (the discounted mass `D · n1l / c1` is exactly what the
    *    interpolation redistributes — P sums to 1 over seen w2 plus
    *    the continuation tail);
    *  - unseen history: `P = Pcont(w2)` — full backoff.
    *
    * Same totality rule as [[withLmScore]] (sub-2-token docs score
    * their whole text as one degenerate gram, NULL text scores as
    * ''), same fixed-point discipline (each gram's `ln P` quantized
    * once to micro-nats; per-doc score is an integer sum, so the
    * result is partitioning-invariant and replayable by the DuckDB
    * oracle — integer model counts are identical in both engines and
    * every double op between them is IEEE-deterministic; `ln` is the
    * one libm call, identical in practice and tolerated at the 1e-6
    * quantization like every fixed-point gate in the repo).
    *
    * Scale shape — the [[withLmScore]] contract plus one more
    * vocab-bounded table: FOUR aggregations over the reference
    * (bigram counts, then history/continuation rollups of that table
    * and a 1-row type count), each bounded by the reference's
    * observed-gram vocabulary; scoring is one explode pass over the
    * corpus joining three (gram, long) tables and two broadcast
    * scalars, partially aggregated back to one row per doc.
    */
  /** The reference's bigram count table — (`__bg`, `__cb`) — the ONE
    * model artifact every other KN term derives from. Additive, so
    * it is also the unit of incremental maintenance: counts from two
    * disjoint reference slices merged by `groupBy(bg).sum(cb)` equal
    * counts built from their union — what [[seedKnModel]] /
    * [[ingestKnModel]] / [[loadKnCounts]] exploit.
    */
  def refBigramCounts(ref: DataFrame, textCol: String): DataFrame =
    ref.select(explode(Dedup.shingles(textCol, 2)).as("__bg"))
      .groupBy("__bg").agg(count(lit(1)).as("__cb"))

  def withKnScore(
      df: DataFrame,
      ref: DataFrame,
      idCol: String,
      textCol: String,
      discount: Double = 0.75,
      fpScale: Double = 1e6): DataFrame =
    withKnScoreFromCounts(df, refBigramCounts(ref, textCol), idCol, textCol,
      discount, fpScale)

  /** The derived bigram model tables — history rollup (`__w1` → c1,
    * n1l), continuation rollup (`__w2` → n1r), and the (T, V2) 1-row
    * scalar pair — all vocab-bounded aggregates OF the count table,
    * shared by the bigram scorer and the trigram scorer's backoff
    * level.
    */
  private def knTables(refBigrams: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val hist = refBigrams
      .groupBy(substring_index(col("__bg"), " ", 1).as("__w1"))
      .agg(sum("__cb").as("__c1"), count(lit(1)).as("__n1l"))
    val cont = refBigrams
      .groupBy(element_at(split(col("__bg"), " "), -1).as("__w2"))
      .agg(count(lit(1)).as("__n1r"))
    // T (bigram types) and V2 (distinct continuations) — two 1-row
    // aggregates crossed in as broadcast scalars, the SUMEQ shape
    val types = refBigrams.agg(count(lit(1)).as("__t"))
      .crossJoin(broadcast(cont.agg(count(lit(1)).as("__v2"))))
    (hist, cont, types)
  }

  /** [[withKnScore]] over an already-built (or incrementally
    * maintained) bigram count table — the shared scoring half, so a
    * persisted model store is never re-derived from reference TEXT.
    */
  def withKnScoreFromCounts(
      df: DataFrame,
      refBigrams: DataFrame,
      idCol: String,
      textCol: String,
      discount: Double = 0.75,
      fpScale: Double = 1e6,
      broadcastModel: Boolean = true): DataFrame = {
    require(discount > 0 && discount < 1, s"discount in (0,1), got $discount")
    val (hist, cont, types) = knTables(refBigrams)
    // model tables are reference-VOCAB-bounded (constant under corpus
    // amplification — the SCALE.md pin), i.e. a shippable LM artifact:
    // broadcast them so the corpus-side explode is literally one pass
    // — no shuffle of doc bigrams for each model join (guide §3.1; the
    // r18 plan paid 3 SortMergeJoins = 3 exchanges of the exploded
    // corpus). `broadcastModel = false` is the escape hatch for a
    // reference whose vocab outgrows executor memory.
    def m(t: DataFrame) = if (broadcastModel) broadcast(t) else t

    val docBigrams = df.select(col(idCol), explode(
        Dedup.shinglesOf(coalesce(col(textCol).cast("string"), lit("")), 2)).as("__bg"))
      .withColumn("__w1", substring_index(col("__bg"), " ", 1))
      .withColumn("__w2", element_at(split(col("__bg"), " "), -1))
    val d = lit(discount)
    val pcont = (coalesce(col("__n1r"), lit(0L)) + lit(1L)).cast("double") /
      (col("__t") + col("__v2") + lit(1L)).cast("double")
    val pSeen = (greatest(coalesce(col("__cb"), lit(0L)).cast("double") - d, lit(0.0)) +
      d * coalesce(col("__n1l"), lit(0L)).cast("double") * pcont) /
      col("__c1").cast("double")
    val scored = docBigrams
      .join(m(refBigrams), Seq("__bg"), "left")
      .join(m(hist), Seq("__w1"), "left")
      .join(m(cont), Seq("__w2"), "left")
      .crossJoin(broadcast(types))
      .withColumn("__lp_fp",
        floor(log(when(coalesce(col("__c1"), lit(0L)) > 0, pSeen).otherwise(pcont))
          * lit(fpScale) + lit(0.5)).cast("long"))
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        sum("__lp_fp").as("logprob_sum_fp"))
  }

  /** Trigram interpolated KN — the production n-gram order: the
    * trigram level discounts into the FULL bigram-KN distribution
    * ([[withKnScoreFromCounts]]'s formula on (w2, w3)), which itself
    * discounts into the continuation unigram:
    *
    *   `P3(w3 | w1 w2) = (max(c3 − D, 0) + D · N1+(w1w2,·) · P2(w3|w2)) / c(w1 w2)`
    *   for a seen bigram history; `P3 = P2(w3 | w2)` otherwise.
    *
    * This is single-discount interpolated KN with RAW-count lower
    * orders (KenLM's modified-KN additionally swaps lower orders to
    * continuation counts; that refinement changes constants, not
    * shape, and is documented as the delta). Gram decomposition is
    * positional and total: `w3` = last token, `w2` = second-to-last
    * ('' when the degenerate short-doc gram has one token), `h2` =
    * everything before the last token ('' likewise) — identical rules
    * on the reference and document sides, so degenerate grams price
    * consistently in both engines.
    *
    * Scale shape: everything [[withKnScore]] promises plus ONE more
    * vocab-bounded pair (trigram counts and their history rollup) —
    * observed-trigram-type-bounded, constant under corpus
    * amplification like the bigram tables (SCALE.md pin); scoring is
    * one k=3 explode pass joining five model tables and one broadcast
    * scalar pair.
    */
  /** The reference's trigram count table — (`__g3`, `__c3`) — the
    * higher-order twin of [[refBigramCounts]], additive in exactly
    * the same way, so the kn3 delta store maintains BOTH orders with
    * one discipline.
    */
  def refTrigramCounts(ref: DataFrame, textCol: String): DataFrame =
    ref.select(explode(Dedup.shingles(textCol, 3)).as("__g3"))
      .groupBy("__g3").agg(count(lit(1)).as("__c3"))

  def withKn3Score(
      df: DataFrame,
      ref: DataFrame,
      idCol: String,
      textCol: String,
      discount: Double = 0.75,
      fpScale: Double = 1e6): DataFrame =
    withKn3ScoreFromCounts(df, refTrigramCounts(ref, textCol),
      refBigramCounts(ref, textCol), idCol, textCol, discount, fpScale)

  /** [[withKn3Score]] over already-built (or incrementally
    * maintained) count tables — the shared scoring half, so the
    * persisted two-order model store ([[loadKn3Counts]]) is never
    * re-derived from reference TEXT.
    */
  def withKn3ScoreFromCounts(
      df: DataFrame,
      refTrigrams: DataFrame,
      refBigrams: DataFrame,
      idCol: String,
      textCol: String,
      discount: Double = 0.75,
      fpScale: Double = 1e6,
      broadcastModel: Boolean = true): DataFrame = {
    require(discount > 0 && discount < 1, s"discount in (0,1), got $discount")
    val (hist, cont, types) = knTables(refBigrams)
    // same broadcast-the-model contract as [[withKnScoreFromCounts]]:
    // all five model tables are reference-vocab-bounded
    def m(t: DataFrame) = if (broadcastModel) broadcast(t) else t
    def w3of(sp: Column) = element_at(sp, -1)
    def w2of(sp: Column) = when(size(sp) >= 2, element_at(sp, -2)).otherwise(lit(""))
    def h2of(sp: Column) =
      when(size(sp) >= 2, array_join(slice(sp, lit(1), size(sp) - 1), " ")).otherwise(lit(""))
    val tri = refTrigrams
    val hist3 = tri
      .groupBy(h2of(split(col("__g3"), " ")).as("__h2"))
      .agg(sum("__c3").as("__c2h"), count(lit(1)).as("__n1l3"))

    val sp = split(col("__g3"), " ")
    val docTri = df.select(col(idCol), explode(
        Dedup.shinglesOf(coalesce(col(textCol).cast("string"), lit("")), 3)).as("__g3"))
      .withColumn("__w3", w3of(sp))
      .withColumn("__w2", w2of(sp))
      .withColumn("__h2", h2of(sp))
      // the backoff level's bigram key — matches refBigrams' "w2 w3"
      .withColumn("__bg", concat(col("__w2"), lit(" "), col("__w3")))
    val d = lit(discount)
    val pcont = (coalesce(col("__n1r"), lit(0L)) + lit(1L)).cast("double") /
      (col("__t") + col("__v2") + lit(1L)).cast("double")
    val p2seen = (greatest(coalesce(col("__cb"), lit(0L)).cast("double") - d, lit(0.0)) +
      d * coalesce(col("__n1l"), lit(0L)).cast("double") * pcont) /
      col("__c1").cast("double")
    val p2 = when(coalesce(col("__c1"), lit(0L)) > 0, p2seen).otherwise(pcont)
    val p3seen = (greatest(coalesce(col("__c3"), lit(0L)).cast("double") - d, lit(0.0)) +
      d * coalesce(col("__n1l3"), lit(0L)).cast("double") * p2) /
      col("__c2h").cast("double")
    val p3 = when(coalesce(col("__c2h"), lit(0L)) > 0, p3seen).otherwise(p2)
    val scored = docTri
      .join(m(tri), Seq("__g3"), "left")
      .join(m(hist3), Seq("__h2"), "left")
      .join(m(refBigrams), Seq("__bg"), "left")
      .join(m(hist.withColumnRenamed("__w1", "__w2")), Seq("__w2"), "left")
      .join(m(cont.withColumnRenamed("__w2", "__w3")), Seq("__w3"), "left")
      .crossJoin(broadcast(types))
      .withColumn("__lp_fp",
        floor(log(p3) * lit(fpScale) + lit(0.5)).cast("long"))
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_trigrams"),
        sum("__lp_fp").as("logprob_sum_fp"))
  }

  /** Seed the persisted KN model store: the initial reference's
    * bigram counts written as the `ingest_batch = -1` partition — the
    * [[graft.streaming.StreamingIngest.seedBinaryStore]] shape. The
    * store holds COUNT DELTAS per batch; [[loadKnCounts]] merges them
    * at read (one vocab-bounded aggregation), so ingest never reads
    * the store and replays can overwrite their own partition.
    */
  def seedKnModel(ref: DataFrame, textCol: String, modelDir: String): Unit =
    Streams.writeBatch(refBigramCounts(ref, textCol), modelDir, Streams.Seed)

  /** Incremental model maintenance: the ARRIVING reference slice's
    * bigram counts appended as their own `ingest_batch` partition —
    * a dynamic partition overwrite, so an at-least-once replay
    * rewrites the same partition byte-identically (the
    * [[graft.streaming.StreamingIngest.erResolveStream]] idempotence
    * rule). Cost is batch-bounded: one explode + one vocab-bounded
    * aggregation; reference TEXT already absorbed into the store is
    * never re-tokenized.
    */
  def ingestKnModel(
      batch: DataFrame,
      textCol: String,
      modelDir: String,
      batchId: Long): Unit =
    Streams.writeBatch(refBigramCounts(batch, textCol), modelDir, batchId)

  /** Deletion propagation for the KN model store: counts are
    * ADDITIVE, so erasing a reference slice is an EXACT negative
    * delta — the slice's bigram counts negated and written as their
    * own `ingest_batch` partition (dynamic partition overwrite, same
    * idempotence as [[ingestKnModel]]; pick a batch id unused by
    * ingests). After the merge, counts(seed) − counts(erased) equals
    * a from-scratch [[refBigramCounts]] over the SURVIVING corpus —
    * bigrams living only in the erased slice net to zero and are
    * dropped by [[loadKnCounts]]' positive filter, so they leave the
    * model's type/continuation censuses exactly as a rebuild would
    * (gated: text_kn_erase shares text_kn_score's oracle verbatim).
    * The erased slice's TEXT is re-tokenized once here — batch-sized,
    * never the store.
    */
  def eraseKnModel(
      erased: DataFrame,
      textCol: String,
      modelDir: String,
      batchId: Long): Unit =
    Streams.writeBatch(refBigramCounts(erased, textCol).withColumn("__cb", -col("__cb")),
      modelDir, batchId)

  /** Merge the per-batch count deltas into the live model table.
    * Counts are ADDITIVE, so `groupBy(bg).sum(cb)` over the deltas
    * equals a from-scratch [[refBigramCounts]] over the union of
    * every slice ever offered — the exactness the incremental gate
    * pins. Vocab-bounded rows in, vocab-bounded rows out. Grams whose
    * merged count is zero or below (fully erased via [[eraseKnModel]])
    * are DROPPED, not kept as 0-count rows: the derived tables count
    * ROWS (history fan-out n1l, continuation fan-in n1r, type count
    * T), so a surviving zero row would silently shift every
    * continuation probability away from the rebuild-from-survivors
    * model.
    */
  def loadKnCounts(
      spark: org.apache.spark.sql.SparkSession,
      modelDir: String): DataFrame =
    spark.read.parquet(modelDir)
      .groupBy("__bg").agg(sum("__cb").as("__cb"))
      .where(col("__cb") > 0L)

  /** Offline compaction of the delta store: every per-batch count
    * partition merged into a single `ingest_batch = -1` seed
    * partition in a NEW directory (a running job must not overwrite
    * its own input; callers swap the path, the
    * [[graft.ops.EntityRes.applyMergeLog]] discipline). Scores read
    * through [[loadKnCounts]] are identical before and after —
    * additivity again — so compaction is pure read-amplification
    * maintenance: it caps the per-read merge at one partition's rows
    * after long ingest histories.
    */
  def compactKnModel(
      spark: org.apache.spark.sql.SparkSession,
      modelDir: String,
      outDir: String): Unit =
    Streams.writeBatch(loadKnCounts(spark, modelDir), outDir, Streams.Seed)

  // ===== trigram (two-order) model store =====

  /** Both orders' count deltas for one reference slice, as ONE frame:
    * (`__g` gram, `__c` count, `__k` order ∈ {2, 3}). Keeping the
    * orders in one partitioned table gives the trigram model the
    * bigram store's whole lifecycle — seed / ingest / erase /
    * compact — with a single discipline, and a batch's delta is still
    * one explode pass per order, vocab-bounded.
    */
  private def kn3Deltas(slice: DataFrame, textCol: String): DataFrame =
    refBigramCounts(slice, textCol)
      .select(col("__bg").as("__g"), col("__cb").as("__c"), lit(2).as("__k"))
      .unionByName(refTrigramCounts(slice, textCol)
        .select(col("__g3").as("__g"), col("__c3").as("__c"), lit(3).as("__k")))

  /** Seed the persisted TWO-ORDER KN model store (trigram + its
    * bigram backoff level) — the [[seedKnModel]] shape with an order
    * column; deltas per batch, merged at read ([[loadKn3Counts]]).
    */
  def seedKn3Model(ref: DataFrame, textCol: String, modelDir: String): Unit =
    Streams.writeBatch(kn3Deltas(ref, textCol), modelDir, Streams.Seed)

  /** Incremental two-order maintenance — the [[ingestKnModel]]
    * idempotence contract (dynamic partition overwrite keyed on the
    * batch id); both orders' counts are additive, so the merged store
    * equals a from-scratch build over everything ever offered
    * (gated: text_kn3_incremental shares text_kn3_score's oracle
    * verbatim).
    */
  def ingestKn3Model(
      batch: DataFrame,
      textCol: String,
      modelDir: String,
      batchId: Long): Unit =
    Streams.writeBatch(kn3Deltas(batch, textCol), modelDir, batchId)

  /** Deletion propagation for the two-order store — the
    * [[eraseKnModel]] argument verbatim: negate the erased slice's
    * deltas; fully-erased grams net to zero and vanish through
    * [[loadKn3Counts]]' positive filter, exactly as a rebuild over
    * survivors would drop them.
    */
  def eraseKn3Model(
      erased: DataFrame,
      textCol: String,
      modelDir: String,
      batchId: Long): Unit =
    Streams.writeBatch(kn3Deltas(erased, textCol).withColumn("__c", -col("__c")),
      modelDir, batchId)

  /** Merge the two-order delta store into the live (trigram, bigram)
    * count tables [[withKn3ScoreFromCounts]] consumes. One
    * vocab-bounded aggregation; zero-or-below merged counts dropped
    * (the [[loadKnCounts]] census argument, per order).
    */
  def loadKn3Counts(
      spark: org.apache.spark.sql.SparkSession,
      modelDir: String): (DataFrame, DataFrame) = {
    val merged = mergeKn3(spark, modelDir)
    (merged.where(col("__k") === 3).select(col("__g").as("__g3"), col("__c").as("__c3")),
      merged.where(col("__k") === 2).select(col("__g").as("__bg"), col("__c").as("__cb")))
  }

  /** The two-order delta store merged per (order, gram), positive
    * counts only — what [[loadKn3Counts]] splits and
    * [[compactKn3Model]] persists. */
  private def mergeKn3(spark: org.apache.spark.sql.SparkSession, modelDir: String): DataFrame =
    spark.read.parquet(modelDir)
      .groupBy("__k", "__g").agg(sum("__c").as("__c"))
      .where(col("__c") > 0L)

  /** Offline compaction of the two-order delta store — the
    * [[compactKnModel]] contract: every partition merged into a
    * single seed partition in a NEW directory, scores invariant by
    * additivity (spec-pinned).
    */
  def compactKn3Model(
      spark: org.apache.spark.sql.SparkSession,
      modelDir: String,
      outDir: String): Unit =
    Streams.writeBatch(mergeKn3(spark, modelDir).select(col("__g"), col("__c"), col("__k")),
      outDir, Streams.Seed)

  /** CCNet's head/middle/tail split (Wenzek et al. 2020 §4.4): rank
    * every document by mean KN log-probability (fluent first) and cut
    * the corpus into `nBuckets` ntile bands — head feeds training
    * as-is, middle is the retraining pool, tail is dropped. Returns
    * one row per bucket: `bucket` (1 = head), `n_docs`,
    * `sum_logprob_fp`, `sum_bigrams` — all integers, so the gate is
    * exact.
    *
    * Scale shape: the ranking is NOT a one-partition global window
    * (the classic ntile scale-killer). Phase 1 range-partitions on
    * the sort key and ranks WITHIN each range partition; phase 2
    * turns the partitions-sized count table into exclusive offsets
    * (tiny window) and broadcast-joins them back, so
    * `rank = offset + local_rank` equals the global
    * `row_number() OVER (ORDER BY mean DESC, id)` with full
    * parallelism — the [[Packing.mixtureSchedule]] two-phase
    * discipline, carried to a value order. The ntile boundary is then
    * closed-form integer arithmetic on (rank, n): partition-boundary
    * placement never shifts a rank, so the result is layout-invariant.
    *
    * The mean is one IEEE division of two gate-identical integers —
    * deterministic to compare, never re-accumulated — and `idCol`
    * breaks ties totally.
    */
  def knBuckets(
      df: DataFrame,
      ref: DataFrame,
      idCol: String,
      textCol: String,
      nBuckets: Int = 3,
      rangeShards: Int = 0): DataFrame =
    withKnBuckets(df, ref, idCol, textCol, nBuckets, rangeShards)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("logprob_sum_fp").as("sum_logprob_fp"),
        sum(col("n_bigrams").cast("long")).as("sum_bigrams"))

  /** The PER-DOCUMENT face of [[knBuckets]]: every doc's
    * (n_bigrams, logprob_sum_fp, bucket) under the same layout-
    * invariant two-phase global rank — what a pipeline composes on
    * (keep head+middle, drop the tail bucket) where the rollup above
    * is the report face. Same scale shape: no one-partition window
    * anywhere.
    */
  def withKnBuckets(
      df: DataFrame,
      ref: DataFrame,
      idCol: String,
      textCol: String,
      nBuckets: Int = 3,
      rangeShards: Int = 0): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    // the scored frame feeds BOTH the rank branch and the offsets
    // branch — materialize it once (doc-count-sized digest rows,
    // never text; eager localCheckpoint so the explode + 3 model
    // joins don't replay; the downstream offsets join is already an
    // explicit broadcast, so the checkpoint's lost size stats can't
    // demote it)
    val scored = withKnScore(df, ref, idCol, textCol)
      .withColumn("__mean",
        col("logprob_sum_fp").cast("double") / col("n_bigrams").cast("double"))
      .localCheckpoint(true)
    // rangeShards = 0 (the r19 default) leaves the shard count to the
    // session: the range exchange is created without a pinned N, so
    // AQE sizes it to the data — a handful of partitions at test
    // scale instead of a hard-coded 32 (whose width every downstream
    // stage inherited), the full configured parallelism on a real
    // corpus. The rank is layout-invariant under ANY shard count (see
    // scaladoc), so the bucket assignment — and the oracle hash — is
    // unchanged by construction.
    val ranged = (if (rangeShards > 0)
        scored.repartitionByRange(rangeShards, col("__mean").desc, col(idCol).asc)
      else scored.repartitionByRange(col("__mean").desc, col(idCol).asc))
      .withColumn("__pid", spark_partition_id())
    val localW = Window.partitionBy("__pid")
      .orderBy(col("__mean").desc, col(idCol).asc)
    val ranked = ranged.withColumn("__lr", row_number().over(localW).cast("long"))
    // partitions-sized offsets + a 1-row total — both broadcast
    val offW = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy("__pid").count()
      .withColumn("__off", coalesce(sum("count").over(offW), lit(0L)))
      .withColumn("__n", sum("count").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .drop("count")
    // ntile(b) closed form over (rank r, total n): the first n%b
    // buckets hold floor(n/b)+1 rows each; ceil(a/b) for positive
    // longs is (a + b - 1) div b — everything stays integral
    ranked.join(broadcast(offsets), Seq("__pid"))
      .withColumn("__r", col("__off") + col("__lr"))
      .withColumn("__q", expr(s"CAST(__n AS BIGINT) div ${nBuckets}L"))
      .withColumn("__rem", expr(s"CAST(__n AS BIGINT) % ${nBuckets}L"))
      .withColumn("__cut", col("__rem") * (col("__q") + lit(1L)))
      .withColumn("bucket",
        when(col("__r") <= col("__cut"),
          expr("(__r + __q) div (__q + 1)"))
          .otherwise(col("__rem") + expr("(__r - __cut + __q - 1) div __q"))
          .cast("int"))
      .select(col(idCol), col("n_bigrams"), col("logprob_sum_fp"), col("bucket"))
  }
}
