package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Native

/** Benchmark decontamination: flag training documents that share word
  * n-grams with an evaluation/benchmark set — the standard published
  * leakage control for pretraining corpora (GPT-3-style 13-gram
  * overlap scans; n is a parameter here because the gated corpus is
  * synthetic word streams). The reference engine (a pandas config
  * ETL) has no such surface; this belongs to the mandated
  * training-data-pipeline family (SURVEY.md §6) alongside dedup.
  *
  * Scale shape: the benchmark side is tiny by construction (eval
  * suites are thousands of documents against a 100 TB corpus), so its
  * distinct-gram set is broadcast and the overlap test is a
  * broadcast LEFT SEMI join — the corpus side streams through in one
  * pass with NO shuffle of grams; the only exchange is the per-doc
  * hit-count aggregation on the id. Grams are built with
  * [[Dedup.shingles]]'s zip_with-over-shifted-slices form (evaluated
  * once per row, never per element). If a benchmark set ever outgrows
  * broadcast, drop the hint and the same plan becomes a shuffled
  * semi-join on the gram — semantics unchanged.
  */
object Decontam {

  /** The distinct word-n-gram set of the benchmark frame. */
  def benchGrams(bench: DataFrame, textCol: String, n: Int): DataFrame =
    bench.select(explode(Dedup.shingles(textCol, n)).as("gram")).distinct()

  /** Per-training-document contamination report: `n_grams` = the
    * doc's distinct n-gram count, `n_hits` = how many of those appear
    * anywhere in the benchmark set, `contaminated` = n_hits > 0.
    * Documents shorter than n words contribute their whole text as a
    * single gram (the [[Dedup.shingles]] short-doc rule); a NULL text
    * coalesces to the empty string first (one empty gram), so EVERY
    * train doc appears in the report — explode of a NULL shingle
    * array would silently omit it, voiding the audit's coverage
    * claim. One aggregation covers the whole train side. ONE corpus
    * scan: the exploded grams meet the broadcast bench set in a
    * marker left join, and a single per-doc aggregation produces both
    * counts — no second pass, no corpus-side outer join.
    */
  def contaminationReport(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5): DataFrame = {
    val bg = benchGrams(bench, textCol, n).withColumn("__hit", lit(1))
    train
      .select(col(idCol), explode(array_distinct(
        Dedup.shinglesOf(coalesce(col(textCol).cast("string"), lit("")), n))).as("gram"))
      .join(broadcast(bg), Seq("gram"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_grams"),
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Per-document novelty against a CORPUS-SCALE reference store:
    * `novelty = (n_grams − n_seen) / n_grams`, the fraction of the
    * doc's distinct word n-grams never observed in the store — the
    * curation complement of [[contaminationReport]] (there the
    * reference is eval-suite-sized and broadcast; here it is the
    * accumulated corpus, so the overlap test is a SHUFFLED join on
    * 8-byte xxhash64 gram keys — gram strings never leave their
    * scan). Pipelines rank an incoming batch by novelty to
    * prioritize genuinely new content over near-boilerplate.
    *
    * The store side reduces to DISTINCT gram hashes via partial
    * aggregation; at steady state persist that hash set once
    * (bucketed by hash, [[graft.io.Bucketing]]) instead of
    * re-shingling the corpus per batch — the
    * [[Dedup.incrementalDedup]] digest-table discipline. Hash
    * collisions undercount novelty by ~n_grams·2⁻⁶⁴ — negligible,
    * and the oracle (which joins raw grams) pins zero collisions on
    * the gate corpus.
    */
  def noveltyReport(
      docs: DataFrame,
      store: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3): DataFrame = {
    val sg = store
      .select(explode(array_distinct(Dedup.shingles(textCol, n))).as("__gram"))
      .select(xxhash64(col("__gram")).as("__gh")).distinct()
      .withColumn("__hit", lit(1))
    docs
      // NULL text → '' → one empty gram: every doc gets a novelty row
      // (the contaminationReport totality rule)
      .select(col(idCol), explode(array_distinct(
        Dedup.shinglesOf(coalesce(col(textCol).cast("string"), lit("")), n))).as("__gram"))
      .select(col(idCol), xxhash64(col("__gram")).as("__gh"))
      .join(sg, Seq("__gh"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_grams"),
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_seen"))
      .withColumn("novelty",
        (col("n_grams") - col("n_seen")).cast("double") / col("n_grams"))
  }

  /** The benchmark gram set collected to the driver — bounded by the
    * benchmark's size (eval suites are thousands of documents, never
    * corpus-scale), the same driver-local-bounded-state class as the
    * IVF training sample. Feed to [[contaminated]] /
    * [[streamingDecontamFilter]].
    */
  def collectBenchGrams(bench: DataFrame, textCol: String, n: Int = 5): Seq[String] =
    benchGrams(bench, textCol, n).collect().map(_.getString(0)).toSeq

  /** Pure row predicate: does this text share any word n-gram with
    * the (driver-collected) benchmark set? `arrays_overlap` against
    * the embedded literal — no join, no shuffle, no state, so it
    * composes into any plan, including append-mode streams. TOTAL:
    * a NULL text shingles over '' (one empty gram, overlapping
    * nothing), so the predicate is true/false, never NULL — a NULL
    * here would make `where(!contaminated)` silently DELETE the row
    * under three-valued logic instead of keeping it.
    */
  def contaminated(benchGramSet: Seq[String], textCol: String, n: Int = 5): Column =
    arrays_overlap(
      Dedup.shinglesOf(coalesce(col(textCol).cast("string"), lit("")), n),
      typedLit(benchGramSet))

  /** Streaming face of decontamination: drop stream rows that leak
    * benchmark n-grams. Stateless (a row predicate over the embedded
    * gram set), so it needs no watermark and cannot accumulate state —
    * the right shape for an ingest feed that must never admit eval
    * data. Spec-pinned streaming == batch on identical input
    * (LlmSpec/StreamingSpec pattern).
    */
  def streamingDecontamFilter(
      docs: DataFrame,
      benchGramSet: Seq[String],
      textCol: String,
      n: Int = 5): DataFrame =
    docs.where(!contaminated(benchGramSet, textCol, n))

  /** Semantic (embedding-space) decontamination — the third leg of
    * the published decontamination stack after exact n-gram overlap
    * ([[contaminationReport]]) and MinHash paraphrase detection
    * ([[MinhashDecontam]]): a benchmark item fully REWORDED into the
    * crawl shares no shingles at all but stays cosine-close in
    * embedding space (the SemDeDup/"semantic contamination"
    * observation). For every corpus vector: its nearest benchmark
    * vector, that max cosine, and `contaminated` = max ≥ `threshold`.
    *
    * Scale shape: the bench side is eval-suite-sized → broadcast
    * cross join; the argmax is `min(struct(−sim, bench_id))` — a
    * plain aggregate with map-side partial combine, NOT a window, so
    * with the broadcast in place the only exchange is the final
    * per-corpus-id agg on ids. Negating the SIM (always a double)
    * instead of the id makes the tie-break deterministic (highest
    * sim, then LOWEST bench id) for ids of ANY orderable type —
    * negating the id would silently break string ids, and `max_by`
    * would be nondeterministic on ties. Cosines come from the fused
    * native expression (bit-identical to the composed zip_with form,
    * ArrayFnsSpec).
    *
    * NULL robustness: a null/ragged embedding on EITHER side yields a
    * NULL cosine, and Spark's struct ordering sorts a NULL field
    * FIRST ascending — an unguarded `min(struct(−sim, …))` would let
    * one null pair win the argmax and null out `max_sim`, so a doc
    * whose real nearest bench vector exceeds the threshold would slip
    * through `where(contaminated)` under three-valued logic. The
    * struct input is therefore null-guarded (`when(sim.isNotNull, …)`
    * — min/max skip NULL inputs), and `contaminated` is made TOTAL:
    * a doc with no comparable bench vector at all (its own vector is
    * null/ragged against every bench vector) reports
    * `nearest_bench_id`/`max_sim` NULL and `contaminated` FALSE, so
    * both the flag face (`where(contaminated)`) and the keep face
    * (`where(!contaminated)`) behave deterministically.
    */
  def semanticDecontam(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val b = bench.select(
      col(idCol).as("__bench_id"),
      col(vecCol).cast("array<double>").as("__bv"))
    corpus
      .select(col(idCol), col(vecCol).cast("array<double>").as("__cv"))
      .crossJoin(broadcast(b))
      .withColumn("__sim", Native.cosine(col("__cv"), col("__bv")))
      .groupBy(col(idCol))
      .agg(min(when(col("__sim").isNotNull,
        struct((-col("__sim")).as("ns"), col("__bench_id").as("nb")))).as("__m"))
      .select(
        col(idCol),
        col("__m.nb").as("nearest_bench_id"),
        (-col("__m.ns")).as("max_sim"),
        coalesce(-col("__m.ns") >= threshold, lit(false)).as("contaminated"))
  }
}

/** Near-duplicate contamination: the paraphrase-level complement of
  * [[Decontam]]'s exact n-gram overlap. A benchmark item lightly
  * rewritten into the crawl (changed numbers, reordered clauses)
  * shares few exact 5-grams but keeps high shingle Jaccard — the
  * published decontamination recipes pair the n-gram scan with
  * exactly this MinHash pass for that reason.
  *
  * Scale shape — the [[Dedup]] LSH machinery pointed across two
  * tables instead of at a self-join: both sides signature via the
  * native `graft_minhash` aggregate (one shingle+hash pass each),
  * candidates meet on the (band, band_hash) equi-join — the bench
  * side is eval-suite-sized, so AQE broadcasts it and the corpus
  * streams through — and exact Jaccard verification shingles ONLY
  * collided docs (semi-join-scoped, as in [[Dedup.nearDupPairs]]).
  * Never an all-pairs product; the oracle's all-pairs
  * form is gate-side only, sound under the corpus-assumption spec
  * (LlmSpec pins no pairs in the banding miss zone).
  */
object MinhashDecontam {

  /** Contaminated (train, bench) pairs with exact shingle Jaccard ≥
    * `threshold`. Train and bench may share an id space — ids are
    * kept in separate columns throughout. Output: one row per
    * contaminated pair — (train_id, bench_id, jaccard).
    */
  def minhashContamination(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      numPerm: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3): DataFrame = {
    val tb = Dedup.lshBands(train, idCol, textCol, numPerm, bands, shingleK)
      .toDF("train_id", "band", "band_hash")
    val bb = Dedup.lshBands(bench, idCol, textCol, numPerm, bands, shingleK)
      .toDF("bench_id", "band", "band_hash")
    // candidate pairs are consumed three times downstream (the verify
    // join + both semi-join keep-sets); all three read the distinct's
    // exchange (ReusedExchange), so the banded join runs once without
    // a persist the lazy result could never release
    val cands = tb.join(bb, Seq("band", "band_hash"))
      .select("train_id", "bench_id").distinct()
    // exact verify on candidates only: shingle sets materialize for
    // the collided sliver of each side, never the whole corpus
    def sets(df: DataFrame, as: String, keep: DataFrame, keepCol: String) = df
      // qualify the left side: an idCol literally named like keepCol
      // would otherwise be an ambiguous reference
      .join(keep, df(idCol) === keep(keepCol), "left_semi")
      .select(col(idCol).as(as),
        array_distinct(Dedup.shingles(textCol, shingleK)).as(s"__s_$as"))
    val ts = sets(train, "train_id", cands.select("train_id"), "train_id")
    val bs = sets(bench, "bench_id", cands.select("bench_id"), "bench_id")
    cands.join(ts, "train_id").join(bs, "bench_id")
      .withColumn("jaccard",
        size(array_intersect(col("__s_train_id"), col("__s_bench_id"))).cast("double") /
          size(array_union(col("__s_train_id"), col("__s_bench_id"))))
      .where(col("jaccard") >= threshold)
      .select("train_id", "bench_id", "jaccard")
  }
}
