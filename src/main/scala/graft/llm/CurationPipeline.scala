package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Native

/** Config-driven corpus curation — the reference engine's identity
  * (a pipeline is a TABLE of operation rows, not code; cf.
  * `/root/reference/Configurable_ETL_Python.py:456-522`'s
  * DF_OPERATIONS dispatch, re-expressed for the reference ops in
  * [[graft.engine.Interpreter]]) applied to the training-data stack:
  * a curation recipe is a sequence of (op, params) rows a data
  * steward edits without touching Scala, interpreted into ONE
  * declarative plan. Stages compose lazily — Catalyst sees the whole
  * folded pipeline, so filters still collapse into scans and nothing
  * materializes between stages.
  *
  * Every stage delegates to the already-gated operator (gopherFilter,
  * blocklistScan's predicate, exactDedup, nearDedup, Decontam,
  * hash split/sample), so a config pipeline inherits each stage's
  * oracle story; the composed form is itself gated
  * (`pipeline_curation_config`).
  */
object CurationPipeline {

  /** One curation stage: an op name (the dispatch key, case-blind)
    * plus its string params — the shape a config CSV row lands in.
    */
  final case class Stage(op: String, params: Map[String, String] = Map.empty)

  /** Load a recipe from a CSV config: header `op,params`, one stage
    * per row in order, params as `key=value` pairs separated by `;`
    * (values may contain commas — stop lists, blocklists). The
    * file-config face of [[run]], read like every other config sheet:
    * [[graft.io.ConfigReader.listFiles]] lists what `path` names (a
    * file, a directory or a glob) and each file is parsed on the
    * driver by [[graft.io.ConfigReader]] — zero Spark jobs. Every file
    * must carry the same header. Stage ORDER is load-bearing (a
    * reordered safety stage is a silent semantics change), so when
    * more than one file contributes rows an explicit `seq` column must
    * make the order data; within one file, file order holds, and `seq`
    * is honored whenever present. The rule counts files, so it holds
    * under every session layout. Malformed params fail loudly with the
    * offending row.
    */
  def readRecipe(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Stage] = {
    import graft.io.ConfigReader
    val files = ConfigReader.listFiles(spark, path)
    require(files.nonEmpty, s"recipe $path: no file found")
    val sheets = files.map(f => ConfigReader.readHeadedSheet(spark, f.toString))
    val header = sheets.head._1
    files.zip(sheets).foreach { case (f, (h, _)) =>
      require(h == header, s"recipe $path: $f has header ${h.mkString(",")}, " +
        s"but ${files.head} has ${header.mkString(",")}")
    }
    val contributing = sheets.count(_._2.nonEmpty)
    require(header.contains("seq") || contributing <= 1,
      s"recipe $path: $contributing files contribute stages; add a 'seq' column to pin stage order")
    stagesFromRows(path, header.toSet, sheets.flatMap(_._2))
  }

  private[graft] def stagesFromRows(
      path: String,
      cols: Set[String],
      maps: Seq[Map[String, String]]): Seq[Stage] = {
    require(cols.contains("op"), s"recipe $path needs an 'op' column")
    val hasParams = cols.contains("params")
    val hasSeq = cols.contains("seq")
    val rows = maps.map { m =>
      val op = m.get("op").map(_.trim).getOrElse("")
      require(op.nonEmpty, s"recipe $path has a row with an empty op")
      val raw =
        if (hasParams) m.get("params").map(_.trim).getOrElse("")
        else ""
      val params = raw.split(";").map(_.trim).filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => k.trim -> v.trim
          case _ => throw new IllegalArgumentException(
            s"recipe $path: malformed param '$kv' in stage '$op' (want key=value)")
        }
      }.toMap
      val seq =
        if (hasSeq) {
          val s = m.get("seq").map(_.trim).getOrElse("")
          // Try(toLong) folds overflow (>19-digit values) into the
          // same contextual error as other malformed recipe rows
          val parsed =
            if (s.nonEmpty && s.forall(_.isDigit)) scala.util.Try(s.toLong).toOption
            else None
          require(parsed.isDefined,
            s"recipe $path: stage '$op' needs a numeric seq (a non-negative 64-bit integer), got '$s'")
          parsed.get
        } else 0L
      (seq, Stage(op, params))
    }
    if (hasSeq) {
      val seqs = rows.map(_._1)
      require(seqs.distinct.length == seqs.length,
        s"recipe $path has duplicate seq values: ${seqs.mkString(",")}")
      rows.sortBy(_._1).map(_._2)
    } else rows.map(_._2)
  }

  /** Interpret a stage list over the corpus. `bench` supplies the
    * eval-suite frame for DECONTAM stages (config refers to data the
    * caller resolves — the [[graft.engine.PipelineContext]] pattern).
    */
  def run(
      docs: DataFrame,
      stages: Seq[Stage],
      idCol: String = "doc_id",
      textCol: String = "text",
      bench: Option[DataFrame] = None): DataFrame =
    stages.foldLeft(docs)((df, st) => applyStage(df, st, idCol, textCol, bench))

  /** Stages that are pure row-local transforms/predicates — no joins,
    * windows, or aggregations — and therefore compose into an
    * append-mode stream with no watermark and no state.
    */
  val streamSafeOps: Set[String] = Set(
    "QUALITY FILTER", "BLOCKLIST FILTER", "DECONTAM",
    "HASH SPLIT", "HASH SAMPLE", "PII REDACT")

  /** Streaming face of the recipe pipeline: compose the stage list
    * over an unbounded frame. Only the stateless vocabulary is legal —
    * a recipe carrying a stateful stage (NEAR DEDUP, EXACT DEDUP,
    * TOKEN BUDGET, SEMANTIC DECONTAM) fails LOUDLY here rather than
    * at an opaque streaming-planner error three stages deep; those
    * stages belong to the batch pipeline or to the dedicated
    * stateful gate ([[graft.streaming.StreamingIngest]]'s
    * streamingCurationGate, which carries watermarked signature
    * state). Spec-pinned streaming == batch on identical input.
    */
  def runStreaming(
      stream: DataFrame,
      stages: Seq[Stage],
      idCol: String = "doc_id",
      textCol: String = "text",
      bench: Option[DataFrame] = None): DataFrame = {
    require(stream.isStreaming,
      "runStreaming needs a streaming frame; use run for batch input")
    val stateful = stages.map(_.op.trim.toUpperCase).filterNot(streamSafeOps)
    require(stateful.isEmpty,
      s"streaming curation recipe contains stateful stage(s) ${stateful.mkString(", ")} — " +
        "near-dedup/dedup/budget/semantic stages need the batch pipeline or " +
        "StreamingIngest.streamingCurationGate (watermarked state)")
    run(stream, stages, idCol, textCol, bench)
  }

  /** [[run]] with per-stage row counts observed for free: an
    * `observe` node lands after every stage, so the ONE action that
    * consumes the result also reports the funnel (rows entering,
    * rows after each stage) — no second scan per stage, which at
    * 100 TB is the difference between metrics and a doubled bill.
    * Returns the pipeline plus the named [[org.apache.spark.sql.Observation]]s;
    * read them (`obs.get("n_rows")`) after the caller's action
    * completes. The production face of [[Selection.curationFunnel]]
    * (which is a standalone report query).
    */
  def runObserved(
      docs: DataFrame,
      stages: Seq[Stage],
      idCol: String = "doc_id",
      textCol: String = "text",
      bench: Option[DataFrame] = None)
      : (DataFrame, Seq[(String, org.apache.spark.sql.Observation)]) = {
    val in = new org.apache.spark.sql.Observation()
    val observedIn = docs.observe(in, count(lit(1)).as("n_rows"))
    val (out, obs) = stages.zipWithIndex
      .foldLeft((observedIn, Seq("input" -> in))) {
        case ((df, acc), (st, i)) =>
          val o = new org.apache.spark.sql.Observation()
          val staged = applyStage(df, st, idCol, textCol, bench)
            .observe(o, count(lit(1)).as("n_rows"))
          (staged, acc :+ (s"${i + 1}:${st.op.trim.toUpperCase}" -> o))
      }
    (out, obs)
  }

  private def p(st: Stage, key: String, default: => String): String =
    st.params.getOrElse(key, default)

  private def list(st: Stage, key: String, default: => Seq[String]): Seq[String] =
    st.params.get(key).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(default)

  def applyStage(
      df: DataFrame,
      st: Stage,
      idCol: String,
      textCol: String,
      bench: Option[DataFrame]): DataFrame = st.op.trim.toUpperCase match {
    case "QUALITY FILTER" =>
      TextAnalysis.gopherFilter(textCol,
        list(st, "stopwords", TextAnalysis.gopherStopwords))(df)
    case "BLOCKLIST FILTER" =>
      // the blocklistScan predicate inlined as a row filter: original
      // schema unchanged, word-boundary exact matches only.
      // total predicate: NULL text → '' → no token matches → KEPT (on
      // raw text the old `!arrays_overlap(NULL, …)` was NULL and
      // where() would silently delete every NULL-text doc as if it
      // matched a term). n_hits == 0 ⟺ !arrays_overlap on the
      // coalesced text (terms non-empty, no null elements on either
      // side) — the native battery ([[graft.functions
      // .BlocklistStats]]) replaces the interpreted per-token lower()
      // transform lambda, which LlmSpec keeps as the parity reference.
      val terms = list(st, "terms", Seq.empty)
      require(terms.nonEmpty, "BLOCKLIST FILTER needs terms=a,b,...")
      df.where(Native.blocklist(coalesce(col(textCol).cast("string"), lit("")),
        terms.map(_.toLowerCase)).getField("n_hits") === 0)
    case "EXACT DEDUP" =>
      Dedup.exactDedup(textCol, idCol)(df)
    case "NEAR DEDUP" =>
      Dedup.nearDedup(df, idCol, textCol,
        threshold = p(st, "threshold", "0.8").toDouble)
    case "DECONTAM" =>
      val b = bench.getOrElse(
        throw new IllegalArgumentException("DECONTAM stage needs a bench frame"))
      val n = p(st, "n", "5").toInt
      Decontam.streamingDecontamFilter(df,
        Decontam.collectBenchGrams(b, textCol, n), textCol, n)
    case "HASH SPLIT" =>
      Sampling.withHashSplit(idCol,
        valPct = p(st, "val_pct", "5").toInt,
        testPct = p(st, "test_pct", "5").toInt)(df)
    case "HASH SAMPLE" =>
      Sampling.hashSample(idCol, p(st, "pct", "10").toInt)(df)
    case "PII REDACT" =>
      // in place by default, so every downstream stage (dedup
      // shingles, decontam grams) operates on the redacted text —
      // the order a published curation pipeline applies them
      TextAnalysis.redactPii(textCol, p(st, "out_col", textCol))(df)
    case "SEMANTIC DECONTAM" =>
      // embedding-space leakage filter: drop docs whose vector is
      // cosine-close to any bench vector (the SemDeDup leg; report
      // form is Decontam.semanticDecontam, this is its filter face).
      // bench must carry (idCol, vec_col) — caller-resolved, like
      // DECONTAM's gram frame
      val b = bench.getOrElse(
        throw new IllegalArgumentException("SEMANTIC DECONTAM stage needs a bench frame"))
      val vecCol = p(st, "vec_col", "embedding")
      val thr = p(st, "threshold", "0.9").toDouble
      val hot = Decontam.semanticDecontam(df, b, idCol, vecCol, thr)
        .where(col("contaminated")).select(col(idCol))
      df.join(hot, Seq(idCol), "left_anti")
    case "SPAN CUT" =>
      // ExactSubstr cutting (Lee et al. 2022) as a recipe stage: the
      // duplicated-span cut list applied IN PLACE, so downstream
      // stages (dedup shingles, decontam grams, token budgets) see
      // the training copy, not the raw store
      Dedup.cutSpans(df, idCol, textCol,
        k = p(st, "k", "30").toInt,
        minDocs = p(st, "min_docs", "2").toInt)
        .withColumn(textCol, col("clean_text"))
        .drop("clean_text")
    case "NEAR DEDUP KEEP-BEST" =>
      // near-dedup that keeps each cluster's highest-scoring doc
      // instead of the lowest id; the score column is
      // upstream-produced (same discipline as TOKEN BUDGET's params)
      Dedup.nearDedupKeepBest(df, idCol, textCol,
        scoreCol = p(st, "score_col",
          throw new IllegalArgumentException("NEAR DEDUP KEEP-BEST needs score_col=<col>")),
        threshold = p(st, "threshold", "0.8").toDouble)
    case "TOKEN BUDGET" =>
      // the quality-prefix selector as a recipe stage; column names
      // are params because score/token columns are upstream-produced
      Selection.tokenBudgetSelect(
        idCol,
        p(st, "score_col", "score"),
        p(st, "tokens_col", "n_tokens"),
        p(st, "group_col", "source"),
        budget = p(st, "budget",
          throw new IllegalArgumentException("TOKEN BUDGET needs budget=<long>")).toLong)(df)
    case other =>
      // unknown ops fail LOUDLY at plan time — a typo in a curation
      // recipe must never silently no-op a safety stage
      throw new IllegalArgumentException(s"unknown curation stage: '$other'")
  }
}
