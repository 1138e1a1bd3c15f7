package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The interpreted formulations that native expressions and rewrites
  * in `src/main` replaced: lambda (higher-order-function) columns,
  * the Spark-CSV config readers and a two-scan union. Each one is the
  * executable PARITY REFERENCE its spec pins the live form against,
  * and nothing outside the specs calls it. One section per source
  * module; the bodies are the replaced forms as they shipped.
  */
object ParityRefs {

  // ===== graft.io.ConfigReader =====

  import graft.model.DecisionTable

  /** The pre-r19 Spark-reader formulation of [[ConfigReader.readSheet]] — the
    * executable PARITY REFERENCE for the driver-side parse.
    */
  def readSheetSpark(spark: SparkSession, path: String): Seq[Map[String, String]] = {
    val df = spark.read.option("header", "true").csv(path)
    val cols = df.columns
    df.collect().toSeq.map { (r: Row) =>
      cols.zipWithIndex.collect {
        case (c, i) if !r.isNullAt(i) => c -> r.getString(i)
      }.toMap
    }
  }

  /** The pre-r19 Spark-reader formulation of [[ConfigReader.readDecisionTable]] —
    * the executable PARITY REFERENCE for the driver-side parse.
    */
  def readDecisionTableSpark(
      spark: SparkSession, path: String, name: String): DecisionTable = {
    val df = spark.read.option("header", "true").csv(path)
    val lookupCol = df.columns.head
    val mapping = df.collect().toSeq.map { r =>
      (Option(r.getAs[String](lookupCol)).getOrElse(""),
       Option(r.getAs[String]("output")).getOrElse(""))
    }
    DecisionTable(name, mapping)
  }

  // ===== graft.llm.CurationPipeline =====

  import graft.llm.CurationPipeline.{Stage, stagesFromRows}
  import graft.llm.TextAnalysis

  /** The Spark-reader formulation of [[CurationPipeline.readRecipe]] — the executable
    * PARITY REFERENCE for the driver-side parse, pinned stage-for-stage
    * over the fixture recipes in ConfigDifferentialSpec. No live path
    * calls it: recipe directories and globs go through the driver
    * listing too.
    */
  def readRecipeSpark(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Stage] = {
    val df = spark.read.option("header", "true").csv(path)
    // Spark preserves CSV row order only incidentally for a single
    // small file, so a read spanning more than one partition needs
    // an explicit `seq` column
    require(df.columns.contains("seq") || df.rdd.getNumPartitions <= 1,
      s"recipe $path spans multiple partitions; add a 'seq' column to pin stage order")
    val cols = df.columns
    val maps = df.collect().toSeq.map { r =>
      cols.zipWithIndex.collect {
        case (c, i) if !r.isNullAt(i) => c -> r.getString(i)
      }.toMap
    }
    stagesFromRows(path, cols.toSet, maps)
  }

  /** The pre-r19 BLOCKLIST FILTER hit predicate — the executable
    * PARITY REFERENCE for the native predicate of that stage in
    * [[CurationPipeline.applyStage]] (`n_hits === 0` keeps
    * exactly the rows where this is false; LlmSpec pins it).
    */
  def blocklistHitHof(textCol: String, terms: Seq[String]): Column =
    arrays_overlap(
      transform(
        TextAnalysis.tokens(coalesce(col(textCol).cast("string"), lit(""))),
        t => lower(t)),
      typedLit(terms.map(_.toLowerCase)))

  // ===== graft.llm.Dedup =====

  import graft.llm.Dedup.md5Hash60

  /** The pre-r18 column formulation of [[Dedup.shinglesOf]] — kept as the
    * executable PARITY REFERENCE for the native expression that
    * replaced it.
    */
  def shinglesOfHof(text: Column, k: Int = 3): Column = {
    val toks = split(text, " ")
    val joined = (1 until k).foldLeft(toks: Column) { (acc, off) =>
      zip_with(acc, slice(toks, lit(off + 1), size(toks)), (a, b) => concat(a, lit(" "), b))
    }
    when(size(toks) < k, array(concat_ws(" ", toks)))
      .otherwise(filter(joined, x => x.isNotNull))
  }

  /** The pre-r19 column formulation of [[Dedup.bandHashes]] — the
    * executable PARITY REFERENCE for the native expression.
    */
  def bandHashesHof(sig: Column, numPerm: Int, bands: Int): Column = {
    require(numPerm % bands == 0, s"bands ($bands) must divide numPerm ($numPerm)")
    val rows = numPerm / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(concat_ws("_", slice(sig, b * rows + 1, lit(rows)))))
  }

  /** The pre-r18 column formulation of [[Dedup.cdcChunks]] — the executable
    * PARITY REFERENCE for the native expression that replaced it.
    */
  def cdcChunksHof(
      df: DataFrame,
      idCol: String,
      textCol: String,
      divisor: Int = 8): DataFrame = {
    val words = filter(split(col(textCol), " "), w => length(w) > 0)
    df.select(col(idCol), words.as("__w"))
      .withColumn("__n", size(col("__w")))
      // 1-based word positions that END a chunk (boundary word
      // included). The when-guard keeps sequence() off the n=0 case
      // instead of a pre-Filter: a Filter on a derived column gets
      // predicate-pushed below the Projects with its alias chain
      // SUBSTITUTED — the whole HOF pipeline re-evaluated as a scan
      // filter (the bpePairCounts lambda-re-eval trap, Filter form).
      .withColumn("__bpos",
        when(col("__n") > 0,
          filter(sequence(lit(1), col("__n")),
            i => md5Hash60(element_at(col("__w"), i)) % divisor === 0))
          .otherwise(array().cast("array<int>")))
      .withColumn("__starts",
        concat(array(lit(1)), transform(col("__bpos"), i => i + 1)))
      .withColumn("__ends", concat(col("__bpos"), array(col("__n"))))
      // the trailing (n+1, n) pair when the last word is itself a
      // boundary yields null and is filtered — no empty chunks
      .withColumn("__chunks",
        filter(
          zip_with(col("__starts"), col("__ends"), (s, e) =>
            when(s <= e, array_join(slice(col("__w"), s, e - s + 1), " "))),
          c => c.isNotNull))
      // explode_outer, NOT explode: InferFiltersFromGenerate would put
      // `size(__chunks) > 0 AND isnotnull(__chunks)` above the child
      // and predicate pushdown would re-inline the full chunk
      // construction into a per-row scan Filter (2x the HOF work).
      // The outer variant infers nothing; the cheap null filter on the
      // GENERATED column cannot sink below the Generate and also
      // drops empty documents (their empty chunk array yields one
      // null row).
      .select(col(idCol), explode_outer(col("__chunks")).as("__chunk"))
      .filter(col("__chunk").isNotNull)
      .select(
        col(idCol),
        md5(col("__chunk")).as("chunk_md5"),
        size(split(col("__chunk"), " ")).cast("long").as("n_words"))
  }

  // ===== graft.llm.Multimodal =====

  /** The pre-r18 column formulation of [[Multimodal.binaryCdcChunks]] — kept as
    * the executable PARITY REFERENCE for the native expression that
    * replaced it (LlmSpec pins equality on real corpus bytes), and as
    * the readable statement of the gate-face semantics the DuckDB
    * oracle replays. Never on a production path: ~2 µs/byte of
    * interpreted lambda overhead vs the native loop's md5-bound rate.
    */
  def binaryCdcChunksHof(
      binCol: String,
      idCol: String,
      divisor: Int = 32,
      window: Int = 8)(df: DataFrame): DataFrame = {
    require(divisor >= 2 && window >= 1, s"bad divisor=$divisor / window=$window")
    import graft.llm.Dedup.md5Hash60
    // upper() on both engines' hex: Spark and DuckDB both emit
    // uppercase today, but the md5 inputs must agree FOREVER, so the
    // case is pinned rather than assumed
    df.select(col(idCol), upper(hex(col(binCol))).as("__hx"),
        octet_length(col(binCol)).as("__n"))
      // boundary AFTER byte i (1-based), decided by the window of
      // bytes i-window+1 .. i; rows shorter than the window carry no
      // boundary and fall through as one whole-content chunk. The
      // when-guard keeps sequence() off the n < window case (a
      // descending sequence) instead of a pre-Filter — the
      // cdcChunks predicate-pushdown trap, Filter form.
      .withColumn("__bpos",
        when(col("__n") >= window,
          filter(sequence(lit(window), col("__n")), i =>
            md5Hash60(col("__hx").substr(
              (i - window) * 2 + 1, lit(2 * window))) % divisor === 0))
          .otherwise(array().cast("array<int>")))
      .withColumn("__starts",
        concat(array(lit(1)), transform(col("__bpos"), i => i + 1)))
      .withColumn("__ends", concat(col("__bpos"), array(col("__n"))))
      // trailing (n+1, n) pair when the last byte is itself a boundary
      // yields null and is filtered — no empty chunks; chunks stay in
      // HEX (2 chars per byte) so the digest below hashes a plain
      // string both engines agree on
      .withColumn("__chunks",
        filter(
          zip_with(col("__starts"), col("__ends"), (s, e) =>
            when(s <= e, col("__hx").substr((s - 1) * 2 + 1, (e - s + 1) * 2))),
          c => c.isNotNull))
      // explode_outer, NOT explode: same InferFiltersFromGenerate
      // re-inlining trap as cdcChunks — the outer variant infers
      // nothing, and the null filter on the GENERATED column also
      // drops empty/NULL binaries (their empty chunk array yields one
      // null row)
      .select(col(idCol), explode_outer(col("__chunks")).as("__chunk"))
      .filter(col("__chunk").isNotNull)
      .select(
        col(idCol),
        md5(col("__chunk")).as("chunk_md5"),
        (length(col("__chunk")) / 2).cast("long").as("n_bytes"))
  }

  // ===== graft.llm.QualityProbe =====

  /** The pre-r19 column formulation of [[QualityProbe.markerCount]] — the
    * executable PARITY REFERENCE for the native expression.
    */
  def markerCountHof(textCol: String, marker: String): Column =
    size(filter(split(coalesce(col(textCol), lit("")), " "),
      t => t === marker)).cast("long")

  // ===== graft.llm.Quantize =====

  /** The pre-r19 composed formulation of the integer-code dot — the
    * executable PARITY REFERENCE for [[graft.functions.IntDot]]
    * (exact semantics including the null-poisoning of a length
    * mismatch via zip_with padding).
    */
  def idotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x * y).cast("long")), lit(0L), (acc, x) => acc + x)

  // ===== graft.llm.TextAnalysis =====

  import graft.functions.Native
  import graft.llm.TextAnalysis.{gopherSignalCols, gopherStopwords, tokens}

  /** The pre-r19 lambda formulation of [[TextAnalysis.tokensRegex]] — the
    * executable PARITY REFERENCE for the built-in rewrite.
    */
  def tokensRegexHof(c: Column): Column =
    filter(split(c, """[^\p{L}\p{N}]+"""), t => length(t) > 0)

  /** The pre-r19 per-word lambda formulation of [[TextAnalysis.withBpeTokenCount]]
    * — the executable PARITY REFERENCE for the native count.
    */
  def withBpeTokenCountHof(textCol: String, merges: Seq[(String, String)])(
      df: DataFrame): DataFrame = {
    val perWord = transform(tokens(col(textCol)), w => size(Native.bpeEncode(w, merges)))
    df.withColumn("n_tokens_ws", size(tokens(col(textCol))))
      .withColumn("n_tokens_bpe",
        aggregate(perWord, lit(0), (acc, x) => acc + x))
      .withColumn("fertility",
        col("n_tokens_bpe").cast("double") / col("n_tokens_ws"))
  }

  /** The pre-r18 column formulation of [[TextAnalysis.withQualityScores]] — the
    * executable PARITY REFERENCE for the native expression.
    */
  def withQualityScoresHof(
      textCol: String,
      stopwords: Seq[String] = Seq("the", "a"))(df: DataFrame): DataFrame = {
    val toks = tokens(col(textCol))
    val n = size(toks).cast("double")
    val stops = array(stopwords.map(lit): _*)
    val nChars = length(col(textCol)).cast("double")
    df.withColumn("n_tokens", size(toks))
      .withColumn("ttr", size(array_distinct(toks)).cast("double") / n)
      .withColumn("mean_token_len", (nChars - n + lit(1.0)) / n)
      .withColumn("stopword_ratio",
        size(filter(toks, t => array_contains(stops, t))).cast("double") / n)
      .withColumn("punct_ratio",
        (nChars - length(regexp_replace(col(textCol), "[.,;:!?]", "")).cast("double")) / nChars)
  }

  /** The pre-r19 lambda formulation of [[TextAnalysis.withLangId]] — the
    * executable PARITY REFERENCE for the native expression.
    */
  def withLangIdHof(
      textCol: String,
      profiles: Seq[(String, Seq[String])],
      outCol: String = "lang_pred")(df: DataFrame): DataFrame = {
    require(profiles.nonEmpty, "need at least one language profile")
    val toks = tokens(col(textCol))
    val scores: Seq[(String, Column)] = profiles.map { case (lang, markers) =>
      val m = array(markers.map(lit): _*)
      lang -> size(filter(toks, t => array_contains(m, t)))
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

  /** The pre-r19 array_sort formulation of [[TextAnalysis.withBagFingerprint]] —
    * the executable PARITY REFERENCE for the sort_array swap.
    */
  def withBagFingerprintHof(
      textCol: String, outCol: String = "bag_fingerprint")(df: DataFrame): DataFrame =
    df.withColumn(outCol,
      md5(concat_ws(" ", array_sort(array_distinct(tokens(col(textCol)))))))

  /** The pre-r19 lambda formulation of [[TextAnalysis.collocationTopK]]'s pair
    * array — the executable PARITY REFERENCE for the zip-of-slices
    * form (LlmSpec pins equality).
    */
  def adjacentPairsHof(tk: Column): Column =
    transform(sequence(lit(1), size(tk) - 1),
      i => struct(element_at(tk, i).as("w1"), element_at(tk, i + 1).as("w2")))

  /** The pre-r19 nested-lambda formulation of [[TextAnalysis.skipgramLiftTopK]]'s
    * pair array — the executable PARITY REFERENCE for the unrolled
    * zip-of-slices form (LlmSpec pins pair-multiset equality).
    */
  def skipgramPairsHof(tk: Column, window: Int): Column =
    flatten(transform(sequence(lit(1), size(tk) - 1), i =>
      transform(sequence(lit(1), least(lit(window), size(tk) - i)),
        d => struct(element_at(tk, i).as("w1"), element_at(tk, i + d).as("w2")))))

  /** The pre-r18 column formulation of [[TextAnalysis.withGopherSignals]] — the
    * executable PARITY REFERENCE for the native expression that
    * replaced it, and the readable statement of each signal's
    * definition.
    */
  def withGopherSignalsHof(
      textCol: String,
      stopwords: Seq[String] = gopherStopwords)(df: DataFrame): DataFrame = {
    val reserved = Seq("__w", "__lines", "passes_gopher") ++ gopherSignalCols
    val clash = df.columns.toSeq.intersect(reserved)
    require(clash.isEmpty,
      s"withGopherSignals would clobber input column(s): ${clash.mkString(", ")}")
    val w = col("__w")
    val ls = col("__lines")
    val nWords = size(w)
    val nWordsD = nWords.cast("double")
    val nLinesD = size(ls).cast("double")
    val sumWordLen = aggregate(transform(w, t => length(t)), lit(0), (a, x) => a + x)
    val nAlphaWords = size(filter(w, t => t.rlike("[A-Za-z]")))
    val nStop = size(filter(
      array_distinct(transform(w, t => lower(t))),
      t => t.isin(stopwords.map(x => x: Any): _*)))
    // '#' count = chars removed by replace; '...' count = removed/3
    val nHash = length(col(textCol)) - length(regexp_replace(col(textCol), "#", ""))
    val nEllipsis =
      (length(col(textCol)) - length(regexp_replace(col(textCol), "\\.\\.\\.", ""))) / lit(3)
    val nBullet = size(filter(ls, l => substring(l, 1, 1).isin("-", "*", "•")))
    val nEllLine = size(filter(ls, l => l.endsWith("...") || l.endsWith("…")))
    df.withColumn("__w", tokens(col(textCol)))
      .withColumn("__lines", split(col(textCol), "\n"))
      .withColumn("n_words", nWords.cast("int"))
      .withColumn("mean_word_len", sumWordLen.cast("double") / nWordsD)
      .withColumn("frac_alpha_words", nAlphaWords.cast("double") / nWordsD)
      .withColumn("symbol_ratio", (nHash + nEllipsis).cast("double") / nWordsD)
      .withColumn("frac_bullet_lines", nBullet.cast("double") / nLinesD)
      .withColumn("frac_ellipsis_lines", nEllLine.cast("double") / nLinesD)
      .withColumn("n_stopwords_present", nStop.cast("int"))
      .withColumn("passes_gopher",
        col("n_words").between(50, 100000) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_ratio") <= 0.1 &&
          col("frac_bullet_lines") <= 0.9 &&
          col("frac_ellipsis_lines") <= 0.3 &&
          col("frac_alpha_words") > 0.8 &&
          col("n_stopwords_present") >= 2)
      .drop("__w", "__lines")
  }

  /** The pre-r19 column formulation of [[TextAnalysis.blocklistScan]] — the
    * executable PARITY REFERENCE for the native expression, and the
    * readable statement of each count's definition.
    */
  def blocklistScanHof(
      idCol: String,
      textCol: String,
      blocklist: Seq[String])(df: DataFrame): DataFrame = {
    require(blocklist.nonEmpty, "empty blocklist")
    val terms = blocklist.map(_.toLowerCase)
    val wl = col("__wl")
    val isBlocked: Column => Column = t => t.isin(terms.map(x => x: Any): _*)
    // lowercase ONCE behind the Project boundary (lambda expressions
    // are excluded from subexpression elimination — the bpePairCounts
    // re-eval trap), then count hits once and derive the fraction
    df.select(col(idCol),
        transform(tokens(col(textCol)), t => lower(t)).as("__wl"))
      .select(
        col(idCol),
        size(filter(wl, isBlocked)).cast("int").as("n_blocklist_hits"),
        size(filter(array_distinct(wl), isBlocked)).cast("int")
          .as("n_blocklist_terms"),
        size(wl).as("__nw"))
      .withColumn("frac_blocklist",
        col("n_blocklist_hits").cast("double") / col("__nw").cast("double"))
      .withColumn("flagged", col("n_blocklist_hits") > 0)
      .drop("__nw")
  }

  /** The pre-r19 transform-lambda formulation of [[TextAnalysis.tokenWindows]] —
    * the executable PARITY REFERENCE for the slice-after-generate
    * rewrite.
    */
  def tokenWindowsHof(idCol: String, textCol: String, win: Int, stride: Int)(
      df: DataFrame): DataFrame = {
    require(win > 0 && stride > 0 && stride <= win, s"bad window ($win, $stride)")
    val tk = col("__tk")
    val nStarts = floor((size(tk) - 1).cast("double") / stride).cast("int") + 1
    df.select(col(idCol), tokens(col(textCol)).as("__tk"))
      .select(col(idCol), tk,
        posexplode(transform(sequence(lit(0), nStarts - 1),
          i => slice(tk, i * stride + 1, lit(win)))))
      .select(
        col(idCol),
        col("pos").cast("int").as("win_idx"),
        concat_ws(" ", col("col")).as("win_text"),
        size(col("col")).cast("int").as("n_win_tokens"))
  }

  // ===== graft.ops.DataQuality =====

  import graft.ops.DataQuality.{Rule, requireRules, violation}

  /** The pre-r19 filter-lambda formulation of [[DataQuality.rowFlags]] — the
    * executable PARITY REFERENCE for the concat rewrite.
    */
  def rowFlagsHof(
      df: DataFrame, rules: Seq[Rule], keyCols: Seq[String]): DataFrame = {
    requireRules(rules)
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    val flags = array(rules.map(r => when(violation(r), lit(r.name))): _*)
    df.select(keyCols.map(col) :+
      explode(filter(flags, f => f.isNotNull)).as("rule_name"): _*)
  }

  // ===== graft.ops.EntityRes =====

  /** The pre-r19 higher-order-function formulation of
    * [[EntityRes.segmentBands]] — the executable PARITY REFERENCE for the
    * unrolled form (OpsSpec pins equality).
    */
  def segmentBandsHof(c: Column, numBands: Int): Column = {
    require(numBands >= 2, s"segmentBands needs >= 2 bands, got $numBands")
    val len = length(c)
    transform(sequence(lit(0), lit(numBands - 1)), i => {
      val start = floor(i * len / numBands).cast("int") + 1
      val end = floor((i + 1) * len / numBands).cast("int") + 1
      concat(len.cast("string"), lit(":"), c.substr(start, end - start))
    })
  }

  /** The pre-r18 column formulation of [[EntityRes.minhashBands]] — kept as the
    * executable PARITY REFERENCE for the native expression that
    * replaced it (OpsSpec pins equality), and as the readable
    * statement of the band semantics the DuckDB oracle replays.
    */
  def minhashBandsHof(c: Column, shingleK: Int = 3, numBands: Int = 4): Column = {
    require(shingleK >= 1 && numBands >= 1,
      s"bad shingleK=$shingleK / numBands=$numBands")
    val shingles = transform(
      sequence(lit(1), greatest(length(c) - (shingleK - 1), lit(1))),
      i => c.substr(i, lit(shingleK)))
    transform(sequence(lit(0), lit(numBands - 1)), b =>
      array_min(transform(shingles, sh =>
        graft.llm.Sampling.hashKey(concat(b.cast("string"), lit(":"), sh))))
        .cast("string"))
  }

  // ===== graft.ops.Funnel =====

  /** The pre-r19 array_sort + transform formulation of [[Funnel.topPaths]]'
    * path assembly — the executable PARITY REFERENCE for the
    * sort_array + getField swap (input: the collected
    * array<struct<__rn,t>> column).
    */
  def pathHof(collected: Column): Column =
    array_join(transform(array_sort(collected), x => x("t")), ">")

  // ===== graft.ops.Sweep =====

  import graft.ops.Sweep.globalRunningSum

  /** The pre-r19 two-scan union formulation of [[Sweep.concurrency]] — the
    * executable PARITY REFERENCE for the explode rewrite.
    */
  def concurrencyUnionHof(
      startCol: String,
      endCol: String,
      tieCols: Seq[String])(intervals: DataFrame): DataFrame = {
    val keep = tieCols.map(col)
    val deltas = intervals
      .where(col(startCol).isNotNull)
      .select((col(startCol).as("ts") +: lit(1).as("delta") +: keep): _*)
      .unionByName(intervals
        .where(col(startCol).isNotNull && col(endCol).isNotNull)
        .select((col(endCol).as("ts") +: lit(-1).as("delta") +: keep): _*))
      .withColumn("__d", to_date(col("ts")))
      .withColumn("__nd", -col("delta"))
      .localCheckpoint(true)
    globalRunningSum("delta", "__d", Seq("ts", "__nd") ++ tieCols, "concurrent")(deltas)
      .drop("__d", "__nd")
  }
}
