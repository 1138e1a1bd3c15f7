package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Native

/** Text-analysis operators for large-scale training-data pipelines:
  * token stats, quality scoring, language-ID heuristic, and document
  * fingerprinting. All pure Catalyst expressions (no UDFs) — each op
  * is embarrassingly parallel per row, stays inside whole-stage
  * codegen, and induces zero shuffles, so it scales linearly with
  * input splits at 100 TB.
  */
object TextAnalysis {

  /** Whitespace tokens. Single-space split (matching the corpus
    * layout) keeps the expression portable to SQL oracles; use
    * [[tokensRegex]] for free-form text.
    */
  def tokens(c: Column): Column = split(c, " ")

  /** BPE-ish tokenization shim: splits on word/punctuation boundaries
    * the way byte-pair pretokenizers do (letters+digits runs vs
    * single punctuation marks).
    */
  def tokensRegex(c: Column): Column =
    // array_remove(split, '') is exactly the lambda filter below
    // (split never yields NULL elements, so dropping every ''
    // element == keeping every length>0 element) and both built-ins
    // are codegen'd — the lambda form evaluated interpreted per
    // token (r19 §4; parity-pinned in LlmSpec, consumer
    // text_tokens_bpe oracle-gated)
    array_remove(split(c, """[^\p{L}\p{N}]+"""), "")

  /** Canonical text cleanup — the stage every web-scale pipeline
    * (C4, CCNet, RefinedWeb) runs BEFORE hashing, dedup, or quality
    * scoring, because un-normalized variants of the same content
    * defeat exact-hash dedup: NFC normalization (native
    * [[graft.functions.NfcNormalize]], codegen'd, quick-check fast
    * path), whitespace controls (tab/CR/LF) to spaces, remaining
    * control/format characters (zero-width, BOM, C0/C1) stripped,
    * space runs collapsed, ends trimmed. Every step is a row-local
    * codegen'd expression — zero shuffles, linear at 100 TB — and
    * every regex class is spelled explicitly so DuckDB's RE2
    * reproduces it character-for-character.
    *
    * Output: input columns + `clean_text`, `n_chars_clean`, and
    * `changed` (true when cleanup altered the text — the corpus-health
    * metric a pipeline tracks release over release).
    */
  def normalizeText(textCol: String)(df: DataFrame): DataFrame = {
    val cleaned = trim(regexp_replace(
      regexp_replace(
        regexp_replace(Native.nfc(col(textCol)), "[\\t\\r\\n]+", " "),
        "[\\p{Cc}\\p{Cf}]", ""),
      " +", " "))
    df.withColumn("clean_text", cleaned)
      .withColumn("n_chars_clean", length(col("clean_text")))
      .withColumn("changed", col("clean_text") =!= col(textCol))
  }

  /** True token counts under a trained BPE tokenizer — the number
    * token budgets, packing manifests, and mixture weights actually
    * consume (whitespace counts run 2-5× off the production
    * tokenizer's). Each whitespace word is encoded by the native
    * greedy merge loop ([[graft.functions.BpeEncode]]; the ranked
    * merge table ships as a plan literal, IVF-centroid style) and the
    * per-word token counts fold into `n_tokens_bpe`; `fertility` =
    * BPE tokens per whitespace token, the standard tokenizer-fit
    * metric (rising fertility on a new corpus slice means the
    * tokenizer fragments it — retrain or re-weigh). Row-local, zero
    * shuffles; the DuckDB oracle replays the merge loop as a
    * recursive CTE over separator-joined parts.
    */
  def withBpeTokenCount(textCol: String, merges: Seq[(String, String)])(
      df: DataFrame): DataFrame =
    // ONE whole-document native pass ([[graft.functions
    // .BpeTokenCount]]) in place of the per-word transform lambda +
    // aggregate fold (LlmSpec's parity reference): the per-word
    // encode was already native, but every word still paid an
    // interpreted HOF frame and the row an interpreted fold. Bit-identical (shared encode loop +
    // LlmSpec parity pin + the fertility oracles).
    df.withColumn("n_tokens_ws", size(tokens(col(textCol))))
      .withColumn("n_tokens_bpe", Native.bpeCount(col(textCol), merges))
      .withColumn("fertility",
        col("n_tokens_bpe").cast("double") / col("n_tokens_ws"))

  /** token_count + char_count + distinct-token count. */
  def withTokenStats(textCol: String)(df: DataFrame): DataFrame = {
    val toks = tokens(col(textCol))
    df.withColumn("n_tokens", size(toks))
      .withColumn("n_chars_calc", length(col(textCol)))
      .withColumn("n_distinct_tokens", size(array_distinct(toks)))
  }

  /** Quality signals: type-token ratio, mean token length, stopword
    * ratio, punctuation ratio — the standard cheap filters a
    * pretraining pipeline runs before anything expensive. The
    * punctuation class is an explicit ASCII literal (not \p{Punct})
    * so any engine's regex dialect reproduces it exactly.
    */
  def withQualityScores(
      textCol: String,
      stopwords: Seq[String] = Seq("the", "a"))(df: DataFrame): DataFrame = {
    // ONE native pass ([[graft.functions.QualityScores]]) in place of
    // the column formulation (LlmSpec's parity reference): that form
    // paid an array_distinct + a filter lambda per token plus a
    // full-text regexp_replace per row. Bit-identical output — LlmSpec parity pin + the gated
    // consumers' oracles.
    val out = df.withColumn("__q", Native.quality(col(textCol), stopwords))
    Seq("n_tokens", "ttr", "mean_token_len", "stopword_ratio", "punct_ratio")
      .foldLeft(out)((d, c) => d.withColumn(c, col(s"__q.$c")))
      .drop("__q")
  }

  /** Language-ID heuristic: marker-token frequency profiles, label =
    * argmax score with first-listed-language tie-break. The real-world
    * version uses char-n-gram profiles per language; the mechanism
    * (per-profile score columns + deterministic argmax, zero shuffles)
    * is identical.
    */
  def withLangId(
      textCol: String,
      profiles: Seq[(String, Seq[String])],
      outCol: String = "lang_pred")(df: DataFrame): DataFrame = {
    require(profiles.nonEmpty, "need at least one language profile")
    // ONE native byte scan per profile ([[graft.functions
    // .MarkerCount]]) in place of the per-token interpreted filter
    // lambda (LlmSpec's parity reference): the lambda form walked
    // the token array per profile through an
    // interpreted HOF frame AND dropped the whole projection out of
    // whole-stage codegen (r19 §4 treatment; LlmSpec parity pin, the
    // text_langid / pipeline_preprocess oracles hash-gate it). A NULL
    // text scores NULL per profile and labels NULL — exactly the
    // size(filter(NULL)) propagation of the reference.
    val scores: Seq[(String, Column)] = profiles.map { case (lang, markers) =>
      lang -> Native.markerCount(col(textCol), markers).cast("int")
    }
    val withScores = scores.foldLeft(df) {
      case (d, (lang, s)) => d.withColumn(s"score_$lang", s)
    }
    val maxScore = greatest(scores.map { case (l, _) => col(s"score_$l") }: _*)
    // first profile reaching the max wins — deterministic tie-break
    val label = scores.foldRight(lit(null).cast("string")) { case ((lang, _), acc) =>
      when(col(s"score_$lang") === maxScore, lit(lang)).otherwise(acc)
    }
    withScores.withColumn(outCol, label)
  }

  /** PII / contamination signals: counts of email-like and URL-like
    * spans per document — the cheap pre-filter before an expensive
    * redaction or exclusion pass. Patterns use explicit character
    * classes only (no \S, \w, or lookarounds) so Java-regex and
    * RE2-based engines count identical spans.
    */
  def withPiiSignals(textCol: String)(df: DataFrame): DataFrame =
    df.withColumn("n_emails",
        regexp_count(col(textCol), lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+")))
      .withColumn("n_urls",
        regexp_count(col(textCol), lit("https?://[A-Za-z0-9./_%?&=-]+")))

  /** PII redaction — the transform [[withPiiSignals]] pre-filters
    * for: email-like and URL-like spans replaced with fixed
    * placeholder tags. Pure per-row regexp_replace (global, both
    * engines' default here), zero shuffles; the same explicit
    * character classes as the scan so Java-regex and RE2 engines
    * rewrite identical spans. Emails are rewritten FIRST — a URL
    * pattern can swallow user@host inside a longer span, so the
    * order is part of the contract.
    */
  def redactPii(textCol: String, outCol: String = "text_redacted")(df: DataFrame): DataFrame =
    df.withColumn(outCol,
      regexp_replace(
        regexp_replace(col(textCol),
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
        "https?://[A-Za-z0-9./_%?&=-]+", "<URL>"))

  /** Per-doc out-of-vocabulary rate against the corpus top-N
    * vocabulary — the tokenizer-QA number (how much of each document
    * a vocab of size N cannot express). The vocabulary is a
    * TakeOrderedAndProject over the token counts (deterministic
    * count-desc/token-asc boundary) broadcast back onto the token
    * stream; shuffle keys are tokens and doc ids, never text.
    */
  def oovRate(idCol: String, textCol: String, topN: Int)(df: DataFrame): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("token").asc).limit(topN)
      .select(col("token"), lit(1).as("__in_vocab"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        count(when(col("__in_vocab").isNull, 1)).as("n_oov"))
      .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tokens"))
  }

  /** Corpus vocabulary: token → document frequency and total count —
    * the input a tokenizer-training step consumes. Explode + count is
    * one linear pass with map-side partial aggregation; the shuffle
    * key is the token, never the document.
    */
  def vocabulary(textCol: String, docIdCol: String)(df: DataFrame): DataFrame =
    df.select(col(docIdCol), explode(tokens(col(textCol))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col(docIdCol)).as("n_docs"))

  /** Top-k most characteristic terms per document, tf-idf ORDERED
    * with integer sort keys: rank by term frequency descending
    * (the tf component), then document frequency ascending (idf is
    * monotone-decreasing in df), then token for determinism. Using
    * the integer keys instead of the fp score tf·log(N/df) keeps the
    * ranking engine-exact (no libm in the compare path); the fp score
    * is a one-line swap if a caller wants the number itself.
    *
    * Scale shape: two partial-aggregated explodes (shuffle keys:
    * (doc, token) and token — never the text), one join AQE sizes
    * (the token dim is vocabulary-sized), and a WindowGroupLimit
    * top-k that prunes per-partition before the exchange.
    */
  def topTermsPerDoc(docIdCol: String, textCol: String, k: Int)(df: DataFrame): DataFrame = {
    val toks = df.select(col(docIdCol), explode(tokens(col(textCol))).as("token"))
    val tf = toks.groupBy(col(docIdCol), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = toks.groupBy("token").agg(countDistinct(col(docIdCol)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(docIdCol)).orderBy(col("tf").desc, col("df").asc, col("token").asc)
    tf.join(dfreq, "token")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(docIdCol), col("token"), col("tf"), col("df"), col("rank"))
  }

  /** Canonical text normalization: lowercase, strip non-alphanumerics,
    * collapse whitespace.
    */
  def normalized(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  /** Content fingerprint: md5 of the normalized text — byte-identical
    * duplicates under formatting noise hash together.
    */
  def withFingerprint(textCol: String, outCol: String = "fingerprint")(df: DataFrame): DataFrame =
    df.withColumn(outCol, md5(normalized(col(textCol))))

  /** Bag-of-words fingerprint: md5 over the sorted distinct token
    * set — order-insensitive near-dup key (catches shuffled copies).
    */
  def withBagFingerprint(textCol: String, outCol: String = "bag_fingerprint")(df: DataFrame): DataFrame =
    // sort_array, not array_sort: identical ascending binary-string
    // order on a null-free array (split never yields null elements;
    // they differ only in null placement), but array_sort carries an
    // interpreted comparator LAMBDA per element pair while sort_array
    // is a plain expression — parity pinned in LlmSpec against the
    // array_sort form
    df.withColumn(outCol,
      md5(concat_ws(" ", sort_array(array_distinct(tokens(col(textCol)))))))

  /** Gopher-style repetition signals per document: `top_gram_frac` =
    * the most frequent word-n-gram's share of all gram positions,
    * `dup_gram_frac` = the share of gram positions whose gram occurs
    * more than once. The published repetition filters for pretraining
    * corpora (boilerplate / template / spam detection) that length and
    * stopword ratios cannot see. Two partial-aggregating shuffles —
    * (id, gram) then (id) — both on bounded-width keys; documents
    * shorter than n words score their whole text as one gram (the
    * [[Dedup.shingles]] short-doc rule), so every document gets a row.
    */
  def repetitionStats(idCol: String, textCol: String, n: Int = 2)(df: DataFrame): DataFrame = {
    val grams = df.select(col(idCol), explode(Dedup.shingles(textCol, n)).as("gram"))
    grams.groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol)).agg(
        sum("__c").as("n_grams"),
        (max("__c").cast("double") / sum("__c")).as("top_gram_frac"),
        (sum(when(col("__c") > 1, col("__c")).otherwise(0L)).cast("double") / sum("__c"))
          .as("dup_gram_frac"))
  }

  /** One BPE-training merge step at corpus scale: the top-k most
    * frequent ADJACENT token pairs, ties broken on the pair string —
    * exactly the argmax a byte-pair/word-pair tokenizer trainer takes
    * each iteration, re-expressed as explode → partial-aggregated
    * count → TakeOrderedAndProject. The shuffle key is the pair
    * (bounded width), never the document; the top-k is a per-partition
    * heap + k-row driver merge, so the full pair distribution is never
    * collected. A trainer loops this: merge the winner into the token
    * stream, re-count — each iteration stays one linear pass.
    *
    * Documents with fewer than two tokens contribute no pairs.
    */
  def bpePairCounts(textCol: String, k: Int)(df: DataFrame): DataFrame = {
    // materialize the token array behind a Project boundary FIRST:
    // referencing tokens(text) directly inside the lambda would
    // re-split the text once per element (O(n²) per doc — the lambda
    // re-eval trap, measured 15× slower at sf0.1)
    val tk = col("__tk")
    // adjacent pairs as a zip of the two shifted slices (lambda-free,
    // same rewrite as [[collocationTopK]] — r19 §4); the pair string
    // renders AFTER the explode, one codegen'd concat_ws per pair row
    val pairs = when(size(tk) >= 2,
      arrays_zip(slice(tk, lit(1), size(tk) - 1).as("a"),
        slice(tk, lit(2), size(tk) - 1).as("b")))
      .otherwise(array().cast("array<struct<a:string,b:string>>"))
    df.select(tokens(col(textCol)).as("__tk"))
      .select(explode(pairs).as("p"))
      .select(concat_ws(" ", col("p.a"), col("p.b")).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("n_pairs").desc, col("pair").asc)
      .limit(k)
  }

  /** One trained merge: its rank (training order), the two symbols
    * merged, and the weighted pair frequency that won the argmax.
    */
  final case class BpeMerge(rank: Int, lhs: String, rhs: String, freq: Long)

  /** The FULL BPE-trainer loop — [[bpePairCounts]]' one-step argmax
    * iterated to a merge table the encoder ([[withBpeTokenCount]] /
    * `graft_bpe_encode`) consumes directly. Classic Sennrich-style
    * training re-expressed for scale:
    *
    *  - the corpus is passed ONCE: words reduce to a distinct-word
    *    frequency table (vocab-sized, eager localCheckpoint), and
    *    every iteration's pair statistics derive from it — pair count
    *    = Σ over distinct words of (adjacent-occurrence count ×
    *    word frequency), exactly the textbook get_stats;
    *  - each iteration re-encodes the VOCAB (never the corpus) under
    *    the merges so far with the same native greedy-rank loop the
    *    production encoder runs — so trained merges and their
    *    downstream application can never disagree on merge semantics
    *    — then takes the weighted argmax (partial-agg count +
    *    TakeOrderedAndProject LIMIT 1: no new shuffle shape, nothing
    *    distribution-sized on the driver);
    *  - ties break deterministically (freq desc, then lexicographic
    *    pair), and training stops early when the best pair's
    *    frequency falls below `minFreq` (merging hapax pairs is how
    *    toy trainers overfit).
    *
    * Iteration 0 splits words to UTF-16 characters (split on the
    * empty pattern — identical to the encoder's code-point split for
    * BMP text; a surrogate-pair corpus would need the encoder-side
    * split here too). Returns ≤ `nMerges` merges in training order.
    * Driver-side state is the merge table itself — spec-sized, the
    * config-plane collect discipline.
    */
  def trainBpeMerges(
      textCol: String,
      nMerges: Int,
      minFreq: Long = 2L)(df: DataFrame): Seq[BpeMerge] = {
    require(nMerges >= 1 && minFreq >= 1, s"bad nMerges=$nMerges / minFreq=$minFreq")
    val wordCounts = df
      .select(explode(tokens(col(textCol))).as("__w"))
      .where(length(col("__w")) >= 2) // <2 symbols can never carry a pair
      .groupBy("__w").agg(count(lit(1)).as("__n"))
      .localCheckpoint(true)
    val out = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var done = false
    while (!done && out.length < nMerges) {
      val parts =
        if (out.isEmpty) split(col("__w"), "")
        else Native.bpeEncode(col("__w"), out.map(m => (m.lhs, m.rhs)).toSeq)
      val top = wordCounts.select(col("__n"), parts.as("__p"))
        .select(col("__n"),
          explode(when(size(col("__p")) >= 2,
            transform(sequence(lit(1), size(col("__p")) - 1),
              i => struct(element_at(col("__p"), i).as("l"),
                element_at(col("__p"), i + 1).as("r"))))
            .otherwise(array().cast("array<struct<l:string,r:string>>"))).as("__pair"))
        .groupBy(col("__pair.l").as("lhs"), col("__pair.r").as("rhs"))
        .agg(sum(col("__n")).as("freq"))
        .orderBy(col("freq").desc, col("lhs").asc, col("rhs").asc)
        .limit(1)
        .collect()
      if (top.isEmpty || top(0).getAs[Long]("freq") < minFreq) done = true
      else out += BpeMerge(out.length, top(0).getString(0), top(0).getString(1),
        top(0).getAs[Long]("freq"))
    }
    out.toSeq
  }

  /** Top-k collocations by LIFT — adjacent token pairs that co-occur
    * far above chance (`n_pair·N / (n_w1·n_w2)`, the exp of PMI).
    * Collocation tables drive tokenizer-vocabulary and phrase-mining
    * decisions the same way [[bpePairCounts]] drives merges; lift
    * ranks the SURPRISE of a pair where raw pair counts rank its
    * frequency. `minPair` prunes hapax pairs (lift is unstable at
    * count 1 — the classic PMI low-frequency artifact).
    *
    * Engine-exact by construction: all four factors are exact longs
    * and `lift` is ONE IEEE division — no logs (the fixed-point-log
    * discipline of [[LangModel]] isn't needed when ranking, because
    * log is monotone: lift order == PMI order). Ties break on the
    * pair text.
    *
    * Scale shape: two linear explode passes (pairs, unigrams) with
    * map-side partial counts; the unigram table joins back keyed on
    * the word; the corpus total is a 1-row broadcast (SUMEQ shape);
    * top-k is TakeOrderedAndProject — the pair distribution never
    * globally sorts.
    */
  def collocationTopK(
      textCol: String,
      k: Int = 20,
      minPair: Long = 2)(df: DataFrame): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val tk = col("__tk")
    // adjacent pairs as a zip of the two shifted slices — lambda-free
    // (the transform-over-sequence form it replaces, LlmSpec's parity
    // reference, entered an interpreted Catalyst frame per
    // row; arrays_zip + slice stay inside whole-stage codegen, r19
    // §4). liftTopK's size>=2 guard bounds the slice lengths >= 1.
    liftTopK(df, textCol, k, minPair,
      arrays_zip(slice(tk, lit(1), size(tk) - 1).as("w1"),
        slice(tk, lit(2), size(tk) - 1).as("w2")))
  }

  /** The shared count → join → lift → top-k pipeline under
    * [[collocationTopK]] and [[skipgramLiftTopK]] — ONE definition so
    * the pruning, tie-break, and lift arithmetic cannot diverge
    * between the two enumerations. `pairsArr` is the pair-array
    * expression over the tokenized `__tk` column.
    */
  private def liftTopK(
      df: DataFrame,
      textCol: String,
      k: Int,
      minPair: Long,
      pairsArr: Column): DataFrame = {
    val tk = col("__tk")
    // Project boundary first — the bpePairCounts lambda re-eval trap
    val toks = df.select(tokens(col(textCol)).as("__tk"))
    val pairs = when(size(tk) >= 2, pairsArr)
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val pairCounts = toks.select(explode(pairs).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") >= minPair)
    val uni = toks.select(explode(tk).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_w"))
    val total = toks.agg(sum(size(tk)).as("n_tokens"))
    pairCounts
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_w1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_w2")), Seq("w2"))
      .crossJoin(broadcast(total))
      .withColumn("lift",
        (col("n_pair") * col("n_tokens")).cast("double") /
          (col("n_w1") * col("n_w2")).cast("double"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(k)
      .select("w1", "w2", "n_pair", "n_w1", "n_w2", "n_tokens", "lift")
  }

  /** Windowed skip-gram co-occurrence lift — [[collocationTopK]]
    * generalized from adjacent pairs to all ordered pairs within
    * token distance ≤ `window`: the co-occurrence statistic behind
    * word2vec-era embedding training and phrase mining, where related
    * words rarely sit strictly adjacent. Same exact-factor lift
    * (`n_pair·N / (n_w1·n_w2)`, one IEEE division, log-free PMI
    * ranking) and the same scale shape — pair enumeration is a
    * row-local nested transform (≤ window× the adjacent-pair volume,
    * a constant), partial-agg count on bounded-width pair keys,
    * unigram join-back, 1-row total broadcast, TakeOrderedAndProject
    * top-k. The pair distribution never globally sorts.
    */
  def skipgramLiftTopK(
      textCol: String,
      window: Int = 3,
      k: Int = 20,
      minPair: Long = 2)(df: DataFrame): DataFrame = {
    require(k > 0 && window >= 1, s"bad (k=$k, window=$window)")
    val tk = col("__tk")
    // all ordered pairs within token distance <= window, enumerated
    // per DISTANCE instead of per position: for each d in 1..window
    // (a plan-time constant) the d-apart pairs are one zip of two
    // shifted slices — the same pair MULTISET as the nested
    // per-position transform (LlmSpec's parity reference; it pins
    // multiset equality), and the downstream count groupBy is
    // enumeration-order-blind. The nested
    // lambda form entered an interpreted frame per position per row;
    // the unrolled zips stay inside whole-stage codegen (r19 §4).
    val byDistance = (1 to window).map { d =>
      when(size(tk) > d,
        arrays_zip(slice(tk, lit(1), size(tk) - d).as("w1"),
          slice(tk, lit(1 + d), size(tk) - d).as("w2")))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    }
    liftTopK(df, textCol, k, minPair, concat(byDistance: _*))
  }

  /** Overlapping fixed-width character chunks — retrieval-index prep
    * (every RAG corpus build slices documents into windows with
    * overlap so answers spanning a boundary survive). Pure per-row
    * explode: zero shuffles, chunk boundaries deterministic in
    * `(chunkChars, strideChars)`, the trailing partial window kept iff
    * it starts inside the text. At 100 TB chunking is a map-only
    * stage ahead of the embedding step; nothing here breaks that.
    */
  def chunkText(
      idCol: String,
      textCol: String,
      chunkChars: Int,
      strideChars: Int)(df: DataFrame): DataFrame = {
    require(strideChars > 0 && strideChars <= chunkChars,
      s"stride $strideChars must be in (0, chunkChars=$chunkChars]")
    df.select(col(idCol), col(textCol).as("__t"),
        sequence(lit(0), greatest(length(col(textCol)) - 1, lit(0)), lit(strideChars))
          .as("__starts"))
      .select(col(idCol), col("__t"), posexplode(col("__starts")).as(Seq("chunk_idx", "__off")))
      .withColumn("chunk", expr(s"substring(__t, __off + 1, $chunkChars)"))
      .select(col(idCol), col("chunk_idx"), col("chunk"),
        length(col("chunk")).as("n_chunk_chars"))
  }

  /** One-row corpus datasheet — the "datasheets for datasets" summary
    * a release ships with: volume (docs, tokens, chars), diversity
    * (languages, sources, distinct contents + exact-dup fraction),
    * and the token-length shape (mean / exact median / max). All
    * counts and integer sums, so every value is engine-exact; the
    * only divisions happen once on the aggregated row.
    *
    * Scale notes: the three DISTINCT aggregates in one pass plan an
    * Expand (×4 rows through the partial agg) — fine for a
    * run-per-release report; swap in [[Sketch.approxNdv]] for the
    * distinct columns when it must run per-batch. The exact median
    * buffers the token-count column per group ([[Sketch]]'s GK bound
    * is the streaming alternative) — same trade `text_corpus_stats`
    * already documents.
    */
  def corpusDatasheet(
      df: DataFrame,
      textCol: String,
      langCol: String,
      sourceCol: String): DataFrame = {
    val nTok = size(split(col(textCol), " ")).cast("long")
    df.select(
      nTok.as("__t"),
      length(col(textCol)).cast("long").as("__c"),
      md5(col(textCol)).as("__digest"),
      col(langCol).as("__lang"),
      col(sourceCol).as("__source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__t")).as("n_tokens"),
        sum(col("__c")).as("n_chars"),
        countDistinct(col("__lang")).as("n_langs"),
        countDistinct(col("__source")).as("n_sources"),
        countDistinct(col("__digest")).as("n_unique_texts"),
        avg(col("__t")).as("mean_tokens"),
        expr("percentile(__t, 0.5)").as("median_tokens"),
        max(col("__t")).as("max_tokens"))
      .withColumn("dup_frac",
        (col("n_docs") - col("n_unique_texts")).cast("double") / col("n_docs"))
  }

  /** Gopher's stopword list (Rae et al. 2021, appendix A1.1) — a doc
    * must contain at least two of these to pass the battery.
    */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The published Gopher quality-rule battery (Rae et al. 2021,
    * "Scaling Language Models", table A1) as one row-local pass:
    * word-count bounds, mean-word-length bounds, symbol-to-word ratio
    * (`#` and `...`), bullet-line / ellipsis-line fractions, fraction
    * of words containing an alphabetic character, and the ≥2-stopword
    * requirement — plus the combined `passes_gopher` verdict. This is
    * the standard first-cut heuristic filter every web-scale corpus
    * (Gopher, RefinedWeb, FineWeb, Dolma) runs BEFORE model-based
    * scoring, complementing [[withQualityScores]] (generic ratios)
    * with the exact published thresholds.
    *
    * Every signal is integer counting followed by ONE IEEE division,
    * so a SQL oracle reproduces it bit-for-bit. Zero shuffles —
    * embarrassingly parallel per row, linear at 100 TB.
    */
  private[graft] val gopherSignalCols = Seq("n_words", "mean_word_len", "frac_alpha_words",
    "symbol_ratio", "frac_bullet_lines", "frac_ellipsis_lines", "n_stopwords_present")

  /** All input columns + the seven Gopher signals + `passes_gopher`.
    * The shared core behind [[gopherRules]] (the report) and
    * [[gopherFilter]] (the gate) — token/line arrays are materialized
    * once behind a Project boundary (the [[bpePairCounts]] lambda
    * re-eval rule), every signal reads them.
    */
  def withGopherSignals(
      textCol: String,
      stopwords: Seq[String] = gopherStopwords)(df: DataFrame): DataFrame = {
    // withColumn REPLACES same-named input columns; a silent clobber
    // here would make gopherFilter (which restores the input schema by
    // name) return recomputed values in place of the caller's data
    val reserved = Seq("__g", "__w", "__lines", "passes_gopher") ++ gopherSignalCols
    val clash = df.columns.toSeq.intersect(reserved)
    require(clash.isEmpty,
      s"withGopherSignals would clobber input column(s): ${clash.mkString(", ")}")
    // ONE native pass ([[graft.functions.GopherSignals]]) in place of
    // the column formulation (LlmSpec's parity reference) — that
    // form paid interpreted lambda frames per WORD (length fold,
    // rlike per word, distinct+lower+isin) plus two full-text regexp_replace calls per row. Output
    // is bit-identical: LlmSpec pins native == HOF on the edge
    // fixtures, and every gated consumer hash-gates it.
    val out = df.withColumn("__g", Native.gopher(col(textCol), stopwords))
    (gopherSignalCols :+ "passes_gopher")
      .foldLeft(out)((d, c) => d.withColumn(c, col(s"__g.$c")))
      .drop("__g")
  }

  def gopherRules(
      idCol: String,
      textCol: String,
      stopwords: Seq[String] = gopherStopwords)(df: DataFrame): DataFrame =
    withGopherSignals(textCol, stopwords)(df)
      .select((col(idCol) +: gopherSignalCols.map(col)) :+ col("passes_gopher"): _*)

  /** The battery as a FILTER: rows that pass, original schema
    * unchanged. Stateless and row-local, so it composes into any
    * plan — including append-mode streams
    * ([[graft.streaming.StreamingIngest.streamingCurationGate]]).
    */
  def gopherFilter(
      textCol: String,
      stopwords: Seq[String] = gopherStopwords)(df: DataFrame): DataFrame = {
    val out = df.columns
    withGopherSignals(textCol, stopwords)(df)
      .where(col("passes_gopher"))
      .select(out.head, out.tail: _*)
  }

  /** Safety blocklist scan — the lexicon-based filter pass every
    * production corpus runs alongside PII detection ([[withPiiSignals]]):
    * per document, total blocklisted-token occurrences, distinct
    * blocklisted terms present, their fraction of the doc, and the
    * flag. Word-boundary exact matching on lowercased whitespace
    * tokens (substring matching is the classic blocklist
    * false-positive trap — this op deliberately does not do it).
    * Row-local, zero shuffles; the lexicon is a plan literal (real
    * lists are thousands of terms — still literal-sized).
    */
  def blocklistScan(
      idCol: String,
      textCol: String,
      blocklist: Seq[String])(df: DataFrame): DataFrame = {
    require(blocklist.nonEmpty, "empty blocklist")
    val terms = blocklist.map(_.toLowerCase)
    // ONE native byte scan ([[graft.functions.BlocklistStats]]) for
    // all three counts, in place of the column formulation
    // (LlmSpec's parity reference) — that form paid two interpreted
    // per-token filter lambdas plus an
    // array_distinct allocation per row, and dropped the projection
    // out of whole-stage codegen. Bit-identical: LlmSpec pins
    // native == HOF on the edge fixtures, and the consumers'
    // oracles hash-gate it.
    df.select(col(idCol), Native.blocklist(col(textCol), terms).as("__b"))
      .select(
        col(idCol),
        col("__b.n_hits").as("n_blocklist_hits"),
        col("__b.n_terms").as("n_blocklist_terms"),
        col("__b.n_words").as("__nw"))
      .withColumn("frac_blocklist",
        col("n_blocklist_hits").cast("double") / col("__nw").cast("double"))
      .withColumn("flagged", col("n_blocklist_hits") > 0)
      .drop("__nw")
  }

  /** Per-document unigram (Shannon) entropy in nats — the diversity
    * signal that separates keyword-stuffed / template / spam text
    * (low entropy: few tokens dominate) from natural prose, used by
    * curation stacks alongside TTR and the repetition fractions
    * ([[repetitionStats]] sees POSITIONAL repeats; entropy sees
    * DISTRIBUTIONAL skew even when repeats never touch).
    *
    * Engine-portable determinism (the [[LangModel]] discipline):
    * `H = ln(n) − (Σ c·ln c)/n` decomposes into per-token terms
    * quantized ONCE to fixed-point longs (`floor(c·ln(c)·fpScale +
    * ½)`), so the cross-partition sum is exact integer arithmetic —
    * partitioning-invariant, and a SQL oracle replays it bit-for-bit.
    * The final assembly is three IEEE ops on the two integers.
    *
    * Scale shape: explode → (id, token) partial count → per-doc agg —
    * the [[repetitionStats]] budget exactly; shuffle keys are
    * (id, token) then id, never documents.
    */
  def unigramEntropy(idCol: String, textCol: String, fpScale: Double = 1e6)(
      df: DataFrame): DataFrame = {
    val c = col("__c").cast("double")
    df.select(col(idCol), explode(tokens(col(textCol))).as("__tk"))
      .groupBy(col(idCol), col("__tk")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(
        sum("__c").cast("long").as("n_tokens"),
        count(lit(1)).cast("int").as("n_distinct"),
        sum(floor(c * log(c) * lit(fpScale) + lit(0.5)).cast("long")).as("sum_clnc_fp"))
      .withColumn("entropy_nats",
        (floor(log(col("n_tokens").cast("double")) * lit(fpScale) + lit(0.5)).cast("long")
          - col("sum_clnc_fp").cast("double") / col("n_tokens")) / lit(fpScale))
  }

  /** Strided token windows — the standard "tokenize → fixed-length
    * training samples with overlap" prep for context-window training
    * and RAG chunk indexing: window `win` tokens, stride `stride`
    * (< win ⇒ overlapping context, the usual LM eval setup). Window
    * starts at 0, stride, 2·stride, … while the start is inside the
    * doc, so every token lands in ≥1 window and the tail window may
    * be short. Complements [[Multimodal]]'s char chunks (`mm_chunks`)
    * — budgets are token-denominated, not char-denominated.
    *
    * One generate → slice per row (the token array is materialized
    * behind a Project boundary first — the [[bpePairCounts]] lambda
    * re-eval rule). Zero shuffles; output size is n_tokens/stride
    * rows per doc, linear at 100 TB.
    */
  def tokenWindows(idCol: String, textCol: String, win: Int, stride: Int)(
      df: DataFrame): DataFrame = {
    require(win > 0 && stride > 0 && stride <= win, s"bad window ($win, $stride)")
    val tk = col("__tk")
    val nStarts = floor((size(tk) - 1).cast("double") / stride).cast("int") + 1
    // posexplode the START INDICES and slice AFTER the generate —
    // posexplode(transform(seq, f)) ≡ posexplode(seq) then f(col)
    // row-by-row (pos == col on a 0-based step-1 sequence), but the
    // transform form paid an interpreted lambda frame per window and
    // materialized every window array inside the generate; the slice
    // now runs codegen'd per output row (parity pinned in LlmSpec
    // against the transform form)
    df.select(col(idCol), tokens(col(textCol)).as("__tk"))
      .select(col(idCol), tk, posexplode(sequence(lit(0), nStarts - 1)))
      .select(col(idCol), col("pos").cast("int").as("win_idx"),
        slice(tk, col("col") * stride + 1, lit(win)).as("__win"))
      .select(
        col(idCol),
        col("win_idx"),
        concat_ws(" ", col("__win")).as("win_text"),
        size(col("__win")).cast("int").as("n_win_tokens"))
  }
}
