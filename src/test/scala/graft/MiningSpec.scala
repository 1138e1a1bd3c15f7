package graft

import org.apache.spark.sql.functions._

import graft.llm.{Decontam, Similarity, TextAnalysis}

/** Data-curation mining ops added in round 11 session 3: the Gopher
  * rule battery, strided token windows, semantic decontamination, and
  * contrastive-pair mining.
  */
class MiningSpec extends SparkSpec {
  import spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  // ===== gopherRules =====

  test("gopherRules: word/line signals, symbol counting, verdict thresholds") {
    val docs = Seq(
      (1L, "aaa bbb ccc ddd"), // 4 words: fails the 50-word floor
      (2L, "the a " + Seq.fill(58)("word").mkString(" ")), // 60 words, 2 stopwords
      (3L, "- one\n- two\nthree...") // bullet/ellipsis lines, one '...'
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules("doc_id", "text", stopwords = Seq("the", "a"))(docs)
      .orderBy("doc_id").collect()

    val d1 = out(0)
    assert(d1.getAs[Int]("n_words") == 4)
    assert(d1.getAs[Double]("mean_word_len") == 3.0)
    assert(d1.getAs[Double]("frac_alpha_words") == 1.0)
    assert(d1.getAs[Int]("n_stopwords_present") == 0)
    assert(!d1.getAs[Boolean]("passes_gopher")) // too short AND no stopwords

    val d2 = out(1)
    assert(d2.getAs[Int]("n_words") == 60)
    assert(d2.getAs[Double]("mean_word_len") == (3 + 1 + 58 * 4).toDouble / 60)
    assert(d2.getAs[Int]("n_stopwords_present") == 2)
    assert(d2.getAs[Double]("symbol_ratio") == 0.0)
    assert(d2.getAs[Boolean]("passes_gopher"))

    // doc 3 splits on ' ' into 3 words; on '\n' into 3 lines
    val d3 = out(2)
    assert(d3.getAs[Int]("n_words") == 3)
    assert(d3.getAs[Double]("frac_bullet_lines") == 2.0 / 3)
    assert(d3.getAs[Double]("frac_ellipsis_lines") == 1.0 / 3)
    assert(d3.getAs[Double]("symbol_ratio") == 1.0 / 3) // one '...' over 3 words
  }

  test("gopherRules: row-local - no shuffle in the plan") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val plan = planOf(TextAnalysis.gopherRules("doc_id", "text")(docs))
    assert(!plan.contains("Exchange"), s"gopherRules must not shuffle:\n$plan")
  }

  // ===== tokenWindows =====

  test("tokenWindows: half-overlap strides, short tail, every token covered") {
    val words = (1 to 40).map(i => s"w$i")
    val docs = Seq((1L, words.mkString(" ")), (2L, "x y z")).toDF("doc_id", "text")
    val out = TextAnalysis.tokenWindows("doc_id", "text", win = 32, stride = 16)(docs)
      .orderBy("doc_id", "win_idx").collect()

    // 40 tokens -> starts 0,16,32 -> lengths 32, 24, 8
    val d1 = out.filter(_.getLong(0) == 1L)
    assert(d1.map(_.getAs[Int]("win_idx")).toSeq == Seq(0, 1, 2))
    assert(d1.map(_.getAs[Int]("n_win_tokens")).toSeq == Seq(32, 24, 8))
    assert(d1(0).getAs[String]("win_text") == words.take(32).mkString(" "))
    assert(d1(1).getAs[String]("win_text") == words.slice(16, 40).mkString(" "))
    assert(d1(2).getAs[String]("win_text") == words.slice(32, 40).mkString(" "))

    // 3 tokens -> one short window
    val d2 = out.filter(_.getLong(0) == 2L)
    assert(d2.length == 1 && d2(0).getAs[String]("win_text") == "x y z"
      && d2(0).getAs[Int]("n_win_tokens") == 3)

    val plan = planOf(
      TextAnalysis.tokenWindows("doc_id", "text", win = 32, stride = 16)(docs))
    assert(!plan.contains("Exchange"), s"tokenWindows must not shuffle:\n$plan")
  }

  // ===== CurationPipeline =====

  test("curation pipeline: config stages compose; unknown ops fail loudly") {
    import graft.llm.CurationPipeline
    import graft.llm.CurationPipeline.Stage
    val passText = "the a " + Seq.fill(58)("word").mkString(" ")
    val docs = Seq(
      (1L, passText),                 // survives everything
      (2L, passText),                 // exact dup of 1 -> dropped
      (3L, "too short"),              // quality drop
      (4L, "the a bad " + Seq.fill(57)("word").mkString(" ")) // blocklist drop
    ).toDF("doc_id", "text")
    val out = CurationPipeline.run(docs, Seq(
      Stage("QUALITY FILTER", Map("stopwords" -> "the,a")),
      Stage("BLOCKLIST FILTER", Map("terms" -> "bad")),
      Stage("EXACT DEDUP"),
      Stage("HASH SPLIT")))
    val rows = out.collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L))
    assert(Set("train", "val", "test").contains(rows.head.getAs[String]("split")))

    val bad = intercept[IllegalArgumentException] {
      CurationPipeline.run(docs, Seq(Stage("QUALTIY FILTER"))) // the typo must not no-op
    }
    assert(bad.getMessage.contains("unknown curation stage"))
  }

  test("curation pipeline observed: per-stage funnel counts ride the single action") {
    import graft.llm.CurationPipeline
    import graft.llm.CurationPipeline.Stage
    val passText = "the a " + Seq.fill(58)("word").mkString(" ")
    val docs = Seq(
      (1L, passText), (2L, passText), (3L, "junk"),
      (4L, "the a bad " + Seq.fill(57)("word").mkString(" "))
    ).toDF("doc_id", "text")
    val (out, obs) = CurationPipeline.runObserved(docs, Seq(
      Stage("QUALITY FILTER", Map("stopwords" -> "the,a")),
      Stage("BLOCKLIST FILTER", Map("terms" -> "bad")),
      Stage("EXACT DEDUP")))
    assert(out.count() == 1) // the one action that also fills every observation
    val counts = obs.map { case (name, o) => name -> o.get("n_rows") }
    assert(counts.toSeq == Seq(
      "input" -> 4L,
      "1:QUALITY FILTER" -> 3L,
      "2:BLOCKLIST FILTER" -> 2L,
      "3:EXACT DEDUP" -> 1L))
  }

  test("curation recipe CSV loads to the same stages the inline config declares") {
    import graft.llm.CurationPipeline
    val stages = CurationPipeline.readRecipe(spark, "fixtures/curation_demo/recipe.csv")
    assert(stages == Seq(
      CurationPipeline.Stage("QUALITY FILTER", Map("stopwords" -> "the,a")),
      CurationPipeline.Stage("BLOCKLIST FILTER", Map("terms" -> "slow")),
      CurationPipeline.Stage("EXACT DEDUP"),
      CurationPipeline.Stage("HASH SPLIT", Map("val_pct" -> "5", "test_pct" -> "5"))))
  }

  test("curation pipeline TOKEN BUDGET stage keeps each group's quality prefix") {
    import graft.llm.CurationPipeline
    import graft.llm.CurationPipeline.Stage
    val docs = Seq(
      (1L, "s1", 0.9, 40L), (2L, "s1", 0.5, 40L), (3L, "s1", 0.1, 40L),
      (4L, "s2", 0.8, 60L)
    ).toDF("doc_id", "source", "score", "n_tokens")
    val out = CurationPipeline.run(docs, Seq(
      Stage("TOKEN BUDGET", Map("budget" -> "80"))), textCol = "score")
      .collect().map(_.getAs[Long]("doc_id")).sorted
    assert(out.toSeq == Seq(1L, 2L, 4L)) // s1 keeps its best 80 tokens; s2 fits whole
    val e = intercept[IllegalArgumentException] {
      CurationPipeline.run(docs, Seq(Stage("TOKEN BUDGET")), textCol = "score")
    }
    assert(e.getMessage.contains("budget"))
  }

  test("curation recipe seq column pins stage order as data, rejects duplicates") {
    import graft.llm.CurationPipeline
    val dir = SparkEntry.cleanedTempDir("recipe_spec_")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/r.csv"),
      "op,params,seq\nEXACT DEDUP,,2\nQUALITY FILTER,,1\n".getBytes)
    val stages = CurationPipeline.readRecipe(spark, s"$dir/r.csv")
    assert(stages.map(_.op) == Seq("QUALITY FILTER", "EXACT DEDUP")) // seq order, not file order
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/dup.csv"),
      "op,params,seq\nEXACT DEDUP,,1\nQUALITY FILTER,,1\n".getBytes)
    val e = intercept[IllegalArgumentException] {
      CurationPipeline.readRecipe(spark, s"$dir/dup.csv")
    }
    assert(e.getMessage.contains("duplicate seq"))
  }

  test("recipe directory: seq orders stages across files under every layout") {
    import graft.llm.CurationPipeline
    val dir = SparkEntry.cleanedTempDir("recipe_dir_")
    def write(rel: String, body: String): Unit = {
      val p = java.nio.file.Paths.get(s"$dir/$rel")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, body.getBytes)
    }
    // the stage order must not follow how Spark would pack the files
    // into partitions: minPartitionNum=1 packs both into one
    def withMinPartitions[T](n: Int)(body: => T): T = {
      val key = "spark.sql.files.minPartitionNum"
      val old = spark.conf.getOption(key)
      spark.conf.set(key, n.toString)
      try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    write("noseq/a.csv", "op,params\nQUALITY FILTER,\n")
    write("noseq/b.csv", "op,params\nEXACT DEDUP,\nHASH SPLIT,val_pct=5\n")
    withMinPartitions(1) {
      val e = intercept[IllegalArgumentException] {
        CurationPipeline.readRecipe(spark, s"$dir/noseq")
      }
      assert(e.getMessage.contains(s"$dir/noseq") && e.getMessage.contains("seq"), e.getMessage)
    }
    write("seq/a.csv", "op,params,seq\nQUALITY FILTER,,1\nHASH SPLIT,val_pct=5,4\n")
    write("seq/b.csv", "op,params,seq\nEXACT DEDUP,,2\nBLOCKLIST FILTER,terms=slow,3\n")
    write("seq/_SUCCESS", "")
    for (n <- Seq(1, 4)) withMinPartitions(n) {
      assert(CurationPipeline.readRecipe(spark, s"$dir/seq").map(_.op) ==
        Seq("QUALITY FILTER", "EXACT DEDUP", "BLOCKLIST FILTER", "HASH SPLIT"), s"minPartitionNum=$n")
    }
    // a glob lists the same files
    assert(CurationPipeline.readRecipe(spark, s"$dir/seq/*.csv") ==
      CurationPipeline.readRecipe(spark, s"$dir/seq"))
    // a file whose header differs from the others fails, naming it
    write("mixed/a.csv", "op,params,seq\nQUALITY FILTER,,1\n")
    write("mixed/b.csv", "op,seq\nEXACT DEDUP,2\n")
    val e = intercept[IllegalArgumentException] {
      CurationPipeline.readRecipe(spark, s"$dir/mixed")
    }
    assert(e.getMessage.contains("b.csv") && e.getMessage.contains("header"), e.getMessage)
  }

  test("SPAN CUT stage removes duplicated spans in place; composes with EXACT DEDUP") {
    import graft.llm.CurationPipeline
    import graft.llm.CurationPipeline.Stage
    // prefixes share NO suffix, so the common substring (and thus the
    // cut span) is exactly `shared` — the span merger would otherwise
    // correctly extend into any common boundary characters
    val shared = "this forty-plus character run is shared verbatim between documents"
    val docs = Seq(
      (1L, s"alpha-one:$shared"),
      (2L, s"beta+two_$shared"),
      (3L, "a third document with no duplicated content at all")
    ).toDF("doc_id", "text")
    val cut = CurationPipeline.run(docs, Seq(Stage("SPAN CUT", Map("k" -> "30"))))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(!cut(1L).contains(shared) && !cut(2L).contains(shared))
    assert(cut(1L) == "alpha-one:" && cut(2L) == "beta+two_")
    assert(cut(3L) == "a third document with no duplicated content at all") // untouched
    // schema unchanged: text replaced in place, no helper columns
    assert(CurationPipeline.run(docs, Seq(Stage("SPAN CUT")))
      .columns.toSeq == Seq("doc_id", "text"))
  }

  test("curation recipe seq overflow fails with the contextual error, not NumberFormatException") {
    import graft.llm.CurationPipeline
    val dir = SparkEntry.cleanedTempDir("recipe_ovf_")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/ovf.csv"),
      "op,params,seq\nEXACT DEDUP,,99999999999999999999\n".getBytes) // 20 digits > Long.MaxValue
    val e = intercept[IllegalArgumentException] {
      CurationPipeline.readRecipe(spark, s"$dir/ovf.csv")
    }
    assert(e.getMessage.contains("EXACT DEDUP") && e.getMessage.contains("seq"))
  }

  test("v2 stages: PII REDACT in place, SEMANTIC DECONTAM filters, NEAR DEDUP KEEP-BEST keeps top score") {
    import graft.llm.CurationPipeline
    import graft.llm.CurationPipeline.Stage
    // recipe_v2.csv loads to exactly the staged vocabulary
    val stages = CurationPipeline.readRecipe(spark, "fixtures/curation_demo/recipe_v2.csv")
    assert(stages == Seq(
      Stage("PII REDACT"),
      Stage("SEMANTIC DECONTAM", Map("threshold" -> "0.35", "vec_col" -> "embedding")),
      Stage("NEAR DEDUP KEEP-BEST", Map("score_col" -> "ttr", "threshold" -> "0.5"))))
    // doc 1 ~ bench vector (dropped); docs 2/3 near-dup pair where 3
    // has the higher score (2 dropped); doc 4 unrelated (kept)
    val shared = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, s"mail a@b.com $shared", Array(1.0, 0.0), 0.1),
      (2L, shared, Array(0.0, 1.0), 0.2),
      (3L, shared, Array(0.0, 1.0), 0.9),
      (4L, "completely different words in this document body here", Array(0.0, 1.0), 0.5)
    ).toDF("doc_id", "text", "embedding", "ttr")
    val bench = Seq((100L, Array(1.0, 0.0))).toDF("doc_id", "embedding")
    val out = CurationPipeline.run(docs, stages, bench = Some(bench))
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(3L, 4L))
    // missing score_col fails loudly
    val e = intercept[IllegalArgumentException] {
      CurationPipeline.run(docs, Seq(Stage("NEAR DEDUP KEEP-BEST")), bench = Some(bench)).schema
    }
    assert(e.getMessage.contains("score_col"))
  }

  // ===== blocklistScan =====

  test("blocklistScan: word-boundary exact matches only, counts and fraction") {
    val docs = Seq(
      (1L, "bad word here bad"),   // 2 hits, 1 distinct term
      (2L, "badge words slower"),  // substrings must NOT match
      (3L, "Bad BAD other")        // case-insensitive
    ).toDF("doc_id", "text")
    val out = TextAnalysis.blocklistScan("doc_id", "text", Seq("bad", "slow"))(docs)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Int]("n_blocklist_hits"), r.getAs[Int]("n_blocklist_terms"),
        r.getAs[Boolean]("flagged")))
    assert(out.toSeq == Seq((2, 1, true), (0, 0, false), (2, 1, true)))
    val plan = TextAnalysis.blocklistScan("doc_id", "text", Seq("bad"))(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"blocklistScan must not shuffle:\n$plan")
  }

  // ===== unigramEntropy =====

  test("unigramEntropy: zero for constant docs, ln(n) for uniform, monotone in skew") {
    val docs = Seq(
      (1L, "a a a a"),       // degenerate distribution -> H ~ 0
      (2L, "a b c d"),       // uniform over 4 -> H ~ ln 4
      (3L, "a a a b")        // skewed -> strictly between
    ).toDF("doc_id", "text")
    val out = TextAnalysis.unigramEntropy("doc_id", "text")(docs)
      .orderBy("doc_id").collect()
    val h = out.map(_.getAs[Double]("entropy_nats"))
    assert(math.abs(h(0)) < 1e-5)
    assert(math.abs(h(1) - math.log(4)) < 1e-5)
    assert(h(0) < h(2) - 1e-6 && h(2) < h(1) - 1e-6)
    assert(out(1).getAs[Long]("n_tokens") == 4 && out(1).getAs[Int]("n_distinct") == 4)
    // fixed-point longs: the shuffled sum is integer arithmetic
    assert(out(0).getAs[Long]("sum_clnc_fp") ==
      math.floor(4.0 * math.log(4.0) * 1e6 + 0.5).toLong)
  }

  // ===== vocabOverlapMatrix =====

  test("vocabOverlapMatrix: shared counts, jaccard, zero-overlap pairs kept") {
    val docs = Seq(
      (1L, "g1", "a b"), (2L, "g1", "b"),
      (3L, "g2", "b c"),
      (4L, "g3", "x")
    ).toDF("doc_id", "source", "text")
    val out = graft.llm.Drift.vocabOverlapMatrix(docs, "source", "text")
      .orderBy("source_a", "source_b").collect()
    assert(out.length == 3) // all 3 unordered pairs, including zero-overlap ones
    val rows = out.map(r => (r.getString(0), r.getString(1),
      r.getAs[Long]("n_shared"), r.getAs[Double]("jaccard"))).toSeq
    assert(rows == Seq(
      ("g1", "g2", 1L, 1.0 / 3), // {a,b} vs {b,c}: share {b}
      ("g1", "g3", 0L, 0.0),
      ("g2", "g3", 0L, 0.0)))
  }

  // ===== jaccardThresholdCurve =====

  test("jaccardThresholdCurve: banded pair counts with at-or-above cumulative") {
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e"),  // exact dup of 1 -> jaccard 1.0
      (3L, "a b c d x")   // 3-shingles share 2 of 4 with 1/2 -> jaccard 0.5
    ).toDF("doc_id", "text")
    val out = graft.llm.Dedup.jaccardThresholdCurve(docs, "doc_id", "text", minJaccard = 0.1)
      .orderBy(col("band_lo").desc).collect()
      .map(r => (r.getAs[Double]("band_lo"), r.getAs[Long]("n_pairs"), r.getAs[Long]("n_pairs_ge")))
    assert(out.toSeq == Seq((1.0, 1L, 1L), (0.5, 2L, 3L)))
  }

  // ===== curationFunnel =====

  test("curationFunnel: per-source totals -> rule pass -> exact-dedup keep") {
    val passText = "the a " + Seq.fill(58)("word").mkString(" ") // passes the battery
    val docs = Seq(
      (1L, "srcA", passText),
      (2L, "srcA", passText),   // exact dup: dedup stage drops it
      (3L, "srcA", "too short"),
      (4L, "srcB", "the a " + Seq.fill(58)("other").mkString(" "))
    ).toDF("doc_id", "source", "text")
    val out = graft.llm.Selection.curationFunnel(docs, "doc_id", "text", "source",
      stopwords = Seq("the", "a")).orderBy("source").collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_docs"), r.getAs[Long]("n_pass_rules"),
        r.getAs[Long]("n_kept_unique"), r.getAs[Double]("pass_frac")))
    assert(out.toSeq == Seq(
      ("srcA", 3L, 2L, 1L, 2.0 / 3),
      ("srcB", 1L, 1L, 1L, 1.0)))
  }

  // ===== skipgramLiftTopK =====

  test("skipgramLiftTopK: all ordered pairs within the window, exact lift factors") {
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val out = TextAnalysis.skipgramLiftTopK("text", window = 3, k = 100, minPair = 1)(docs)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getAs[Long]("n_pair"), r.getAs[Double]("lift")))).toMap
    // window 3 over 4 tokens: all 6 forward pairs, each once
    assert(out.keySet == Set(("a","b"), ("a","c"), ("a","d"), ("b","c"), ("b","d"), ("c","d")))
    // every count 1, every unigram count 1, N=4 -> lift = 4.0 exactly
    assert(out.values.forall { case (n, l) => n == 1L && l == 4.0 })

    // window 1 degenerates to adjacent pairs = collocationTopK's set
    val adj = TextAnalysis.skipgramLiftTopK("text", window = 1, k = 100, minPair = 1)(docs)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(adj == Set(("a","b"), ("b","c"), ("c","d")))
  }

  // ===== semanticDecontam =====

  private def vecs(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("semanticDecontam: nearest bench vector, deterministic tie-break, threshold flag") {
    val bench = vecs(0L -> Seq(1f, 0f), 1L -> Seq(1f, 0f)) // identical pair: tie
    val corpus = vecs(
      10L -> Seq(1f, 0f),     // sim 1.0 with BOTH bench vecs -> lowest id 0 wins
      11L -> Seq(0f, 1f),     // orthogonal -> sim 0.0
      12L -> Seq(0.6f, 0.8f)) // sim 0.6 -> contaminated at 0.5
    val out = Decontam.semanticDecontam(corpus, bench, "vec_id", "embedding", 0.5)
      .orderBy("vec_id").collect()
    assert(out.map(r => (r.getLong(0), r.getAs[Long]("nearest_bench_id"),
      r.getAs[Boolean]("contaminated"))).toSeq ==
      Seq((10L, 0L, true), (11L, 0L, false), (12L, 0L, true)))
    // 0.6f/0.8f are not exactly representable in float32
    assert(math.abs(out(2).getAs[Double]("max_sim") - 0.6) < 1e-6)
  }

  test("semanticDecontam: STRING ids keep the lowest-id tie-break (sim is negated, not the id)") {
    // negating the id would cast a string id to double → NULL under
    // the old form; min(struct(-sim, id)) orders ids natively
    val bench = Seq(("b-2", Seq(1f, 0f)), ("b-1", Seq(1f, 0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(("c-9", Seq(1f, 0f))).toDF("vec_id", "embedding")
    val out = Decontam.semanticDecontam(corpus, bench, "vec_id", "embedding", 0.5).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("nearest_bench_id") == "b-1", out.head.toString)
    assert(out.head.getAs[Boolean]("contaminated"))
  }

  test("semanticDecontam: a NULL embedding on the bench side cannot null out max_sim") {
    // Spark struct ordering sorts a NULL field FIRST ascending, so an
    // unguarded min(struct(-sim, id)) would let the null-cosine pair
    // win and the contaminated doc slip through where(contaminated)
    val bench = Seq(
      (0L, Option(Seq(1f, 0f))),
      (1L, Option.empty[Seq[Float]]) // ragged/null bench vector -> NULL cosine
    ).toDF("vec_id", "embedding")
    val corpus = vecs(10L -> Seq(1f, 0f)) // sim 1.0 with bench 0 -> MUST flag
    val out = Decontam.semanticDecontam(corpus, bench, "vec_id", "embedding", 0.5).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("nearest_bench_id") == 0L, out.head.toString)
    assert(math.abs(out.head.getAs[Double]("max_sim") - 1.0) < 1e-6)
    assert(out.head.getAs[Boolean]("contaminated"))
  }

  test("semanticDecontam: all-null sims report contaminated=FALSE, never NULL (total flag)") {
    val bench = vecs(0L -> Seq(1f, 0f))
    val corpus = Seq(
      (10L, Option(Seq(1f, 0f))),
      (11L, Option.empty[Seq[Float]]) // null corpus vector: no comparable bench vec
    ).toDF("vec_id", "embedding")
    val out = Decontam.semanticDecontam(corpus, bench, "vec_id", "embedding", 0.5)
    val rows = out.orderBy("vec_id").collect()
    assert(rows.length == 2)
    // doc 11: no cosine at all -> NULL sim/nearest, FALSE (not NULL) flag
    assert(rows(1).isNullAt(rows(1).fieldIndex("max_sim")))
    assert(!rows(1).isNullAt(rows(1).fieldIndex("contaminated")), "flag must be total")
    assert(!rows(1).getAs[Boolean]("contaminated"))
    // both filter faces behave: flag face sees only doc 10, keep face only doc 11
    assert(out.where(col("contaminated")).collect().map(_.getLong(0)).toSeq == Seq(10L))
    assert(out.where(!col("contaminated")).collect().map(_.getLong(0)).toSeq == Seq(11L))
  }

  test("BLOCKLIST FILTER keeps NULL-text docs (total predicate, no three-valued drop)") {
    import graft.llm.CurationPipeline
    import graft.llm.CurationPipeline.Stage
    val docs = Seq(
      (1L, Option("clean words only here")),
      (2L, Option("contains badword sadly")),
      (3L, Option.empty[String]) // no text → cannot match a term → KEPT
    ).toDF("doc_id", "text")
    val out = CurationPipeline.run(docs,
        Seq(Stage("BLOCKLIST FILTER", Map("terms" -> "badword"))))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 3L), s"got $out")
  }

  test("semanticDecontam: bench side broadcast, argmax is an aggregate not a window") {
    val bench = vecs(0L -> Seq(1f, 0f))
    val corpus = vecs((10L to 20L).map(i => i -> Seq(i.toFloat, 1f)): _*)
    val plan = planOf(Decontam.semanticDecontam(corpus, bench, "vec_id", "embedding", 0.5))
    assert(plan.contains("BroadcastExchange"), s"bench must broadcast:\n$plan")
    assert(!plan.contains("Window"), s"argmax must be an aggregate, not a window:\n$plan")
  }

  // ===== contrastivePairs =====

  test("contrastivePairs: positives at top ranks, hard negatives in the band, self excluded") {
    // cosine to anchor [1,0] strictly decreases with id
    val corpus = vecs(
      0L -> Seq(1f, 0f), // the anchor itself: must not pair with itself
      1L -> Seq(1f, 0.01f),
      2L -> Seq(1f, 0.1f),
      3L -> Seq(1f, 0.3f),
      4L -> Seq(1f, 0.6f),
      5L -> Seq(0f, 1f),
      6L -> Seq(-1f, 0.5f))
    val anchors = corpus.where(col("vec_id") === 0L)
    val out = Similarity.contrastivePairs(corpus, anchors, "vec_id", "embedding",
      posK = 1, negLo = 3, negHi = 4).orderBy("rank").collect()
    assert(out.map(r => (r.getAs[Long]("pair_id"), r.getAs[String]("role"),
      r.getAs[Int]("rank"))).toSeq ==
      Seq((1L, "pos", 1), (3L, "neg", 3), (4L, "neg", 4)))
    // sims are genuine cosines: rank 1 closest
    val sims = out.map(_.getAs[Double]("sim"))
    assert(sims.sameElements(sims.sorted.reverse))
  }
}
