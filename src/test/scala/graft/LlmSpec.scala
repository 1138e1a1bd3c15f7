package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Multimodal, QualityProbe, Similarity, Sketch, TextAnalysis}

class LlmSpec extends SparkSpec {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  // ===== dedup =====

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again today"), // near-dup of 1
    (3L, "completely different content about spark query engines and shuffles"),
    (4L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
    (5L, "short text")
  ).toDF("doc_id", "text")

  test("normalizeText: NFC composition, control strip, whitespace collapse - codegen'd, session untouched") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val decomposed = "cafe\u0301 time"  // e + U+0301 combining acute
    val composed = "caf\u00e9 time"     // precomposed \u00e9
    assert(decomposed != composed)      // genuinely different code points going in
    val cases = Seq(
      (1L, decomposed),
      (2L, "  a\t\tb\r\nc  "),          // whitespace controls -> spaces, collapsed, trimmed
      (3L, "zero\u200bwidth\ufeffgone"), // Cf characters (ZWSP, BOM) stripped
      (4L, "already clean ascii"),
      (5L, "")
    ).toDF("doc_id", "text")
    // run the operator ON a fresh session so the no-leak assertion
    // below actually covers the registry the operator touched
    val fresh = spark.newSession()
    val freshCases = fresh.createDataFrame(cases.collect().toSeq.asJava, cases.schema)
    val out = graft.llm.TextAnalysis.normalizeText("text")(freshCases)
      .orderBy("doc_id")
      .select("clean_text", "changed")
      .collect()
    assert(out(0).getString(0) == composed && out(0).getBoolean(1))
    assert(out(1).getString(0) == "a b c" && out(1).getBoolean(1))
    assert(out(2).getString(0) == "zerowidthgone" && out(2).getBoolean(1))
    assert(out(3).getString(0) == "already clean ascii" && !out(3).getBoolean(1))
    assert(out(4).getString(0) == "" && !out(4).getBoolean(1))
    // library operator leaves no graft_nfc behind on an untouched session
    assert(!fresh.sessionState.functionRegistry
      .functionExists(FunctionIdentifier("graft_nfc")))
    // the whole pipeline stays row-local: no shuffle anywhere
    val plan = planOf(graft.llm.TextAnalysis.normalizeText("text")(cases))
    assert(!plan.contains("Exchange"), s"normalizeText must not shuffle:\n$plan")
  }

  test("BPE encode: ranked greedy merges, L2R non-overlap on repeats, fertility") {
    val merges = Seq("t" -> "a", "l" -> "e", "ta" -> "b", "tab" -> "le", "a" -> "a")
    val rankMap = new java.util.HashMap[(String, String), Int]()
    merges.zipWithIndex.foreach { case (p, i) => rankMap.put(p, i) }
    def enc(w: String) = graft.functions.BpeEncode.encode(w, rankMap).toSeq
    assert(enc("table") == Seq("table"))       // full merge chain
    assert(enc("tables") == Seq("table", "s")) // partial: trailing residue
    assert(enc("aaa") == Seq("aa", "a"))       // L2R non-overlap on repeats
    assert(enc("aaaaaa") == Seq("aa", "aa", "aa")) // 6-run self-pair: the case
    // string-replace oracle tricks mis-merge (boundary consumption) —
    // pinned here AND replayed by the list-state recursive-CTE oracle
    assert(enc("xyz") == Seq("x", "y", "z"))   // no merge applies
    assert(enc("") == Seq.empty)
    // operator: counts + fertility, zero shuffles, session untouched
    val df = Seq((1L, "table tables xyz"), (2L, "")).toDF("doc_id", "text")
    val out = graft.llm.TextAnalysis.withBpeTokenCount("text", merges)(df)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Int]("n_tokens_ws") == 3)
    assert(out(0).getAs[Int]("n_tokens_bpe") == 1 + 2 + 3)
    assert(out(0).getAs[Double]("fertility") == 2.0)
    assert(out(1).getAs[Int]("n_tokens_bpe") == 0)
    val plan = planOf(graft.llm.TextAnalysis.withBpeTokenCount("text", merges)(df))
    assert(!plan.contains("Exchange"), s"BPE encode must not shuffle:\n$plan")
  }

  test("exactDedup keeps lowest id per identical text") {
    val r = Dedup.exactDedup("text", "doc_id")(docs).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(r.toSeq == Seq(1L, 2L, 3L, 5L))
  }

  test("incrementalDedup keeps only novel content and is idempotent") {
    val store = docs
    val batch = Seq(
      (11L, "the quick brown fox jumps over the lazy dog again and again"), // already in store
      (12L, "genuinely new content never seen before"),
      (13L, "short text") // already in store
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup("text", batch, store)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(12L))
    // idempotent: re-running the batch against store ∪ batch keeps nothing
    val again = Dedup.incrementalDedup("text", batch, store.unionByName(batch))
    assert(again.count() == 0L)
    // NULL-text rows dedup too (null-SAFE digest match): a replayed
    // NULL-text row must not re-ingest forever
    val nullBatch = Seq((14L, Option.empty[String]), (15L, Option("fresh stuff")))
      .toDF("doc_id", "text")
    val nullStore = Seq((9L, Option.empty[String])).toDF("doc_id", "text")
    val keptNull = Dedup.incrementalDedup("text", nullBatch, nullStore)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(keptNull == Seq(15L), s"NULL-text replay must dedup against the store: $keptNull")
  }

  test("incrementalNearDedup: store near-dups drop, batch survivors keep-lowest, idempotent") {
    val store = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different content about spark query engines and shuffles")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"), // near-dup of store 1
      (11L, "fresh novel writing with no resemblance to anything stored before"),
      (12L, "fresh novel writing with no resemblance to anything stored before now"), // near-dup of 11
      (13L, "entirely standalone text sharing nothing with any other document")
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalNearDedup(batch, store, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // 10 dropped against the store; 11 beats 12 within the batch
    assert(kept == Seq(11L, 13L), kept)
    // idempotent: re-offering the batch against store + ingested
    // survivors drops everything
    val again = Dedup.incrementalNearDedup(
      batch, store.unionByName(batch), "doc_id", "text", threshold = 0.5)
    assert(again.count() == 0L)
  }

  test("incrementalDedup anti-joins digests — store bodies never cross the join") {
    val plan = planOf(Dedup.incrementalDedup("text", docs, docs))
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the store side reduces to DISTINCT digests (a HashAggregate on
    // md5) before the join — the anti-join build side carries 32-char
    // keys, not documents
    assert("HashAggregate\\(keys=\\[__digest".r.findFirstIn(plan).isDefined, plan)
  }

  test("minhash near-dup finds the planted pair, not the unrelated docs") {
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.5, numPerm = 64, bands = 32)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((1L, 4L))) // 1-4 exact → jaccard 1
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("near-dup candidate generation plans a bucketed join, never a cartesian product") {
    val plan = planOf(Dedup.nearDupPairs(docs, "doc_id", "text", 0.5))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("ngram jaccard: identical docs = 1.0, disjoint docs = 0") {
    val pairs = Seq((1L, 4L), (1L, 3L)).toDF("id_a", "id_b")
    val r = Dedup.ngramJaccard(pairs, docs, "doc_id", "text")
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2))).toMap
    assert(r((1L, 4L)) == 1.0)
    assert(r((1L, 3L)) == 0.0)
  }

  test("allPairsJaccard (inverted index) matches brute-force pairwise jaccard exactly") {
    val got = Dedup.allPairsJaccard(docs, "doc_id", "text", 0.01)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // brute force over the 5-doc fixture
    val sh = docs.select(col("doc_id"), array_distinct(Dedup.shingles("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val want = (for {
      a <- sh.keys; b <- sh.keys if a < b
      j = (sh(a) intersect sh(b)).size.toDouble / (sh(a) union sh(b)).size if j >= 0.01
    } yield (a, b) -> j).toMap
    assert(got == want, s"got $got want $want")
    assert(got((1L, 4L)) == 1.0) // exact dups
  }

  test("allPairsJaccard maxDocFreq: no-op when no shingle exceeds the cap, drops hot shingles otherwise") {
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val uncapped = collect(Dedup.allPairsJaccard(docs, "doc_id", "text", 0.01))
    // cap >= corpus size: no shingle can exceed it -> identical output
    val slack = collect(Dedup.allPairsJaccard(docs, "doc_id", "text", 0.01,
      maxDocFreq = Some(docs.count().toInt)))
    assert(slack == uncapped)
    // cap = 1: every shared shingle has df >= 2 and is dropped, so no
    // pair can survive (a pair needs at least one shared kept shingle)
    val capped = Dedup.allPairsJaccard(docs, "doc_id", "text", 0.01, maxDocFreq = Some(1))
    assert(capped.count() == 0)
  }

  test("jaccardThresholdCurve maxDocFreq: identical curve under a slack cap, engaged cap flattens it") {
    def curve(cap: Option[Int]) =
      Dedup.jaccardThresholdCurve(docs, "doc_id", "text", minJaccard = 0.01,
          maxDocFreq = cap)
        .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).toSet
    val uncapped = curve(None)
    assert(uncapped.nonEmpty)
    // slack cap (>= corpus size): the curve is bit-identical — the
    // no-op contract the dedup_threshold_curve_capped ORACLE also
    // hash-pins at sf0.01 (cap 16 > max df 7 there)
    assert(curve(Some(docs.count().toInt)) == uncapped)
    // engaged cap: dropping all df>=2 shingles kills every pair — the
    // curve collapses rather than silently equaling the uncapped one
    assert(curve(Some(1)).isEmpty)
  }

  /** The dedup_minhash_pairs / dedup_near_keep oracles are exact
    * all-pairs jaccard, while the queries recall candidates through
    * (numPerm=64, bands=16, r=4) banding — so the gate is only sound
    * if the corpus has no pairs the banding plausibly misses. This
    * pins that MEASURED assumption: regenerated testdata that grows
    * pairs in the miss zone fails HERE with the real cause, not as an
    * opaque oracle hash-mismatch. (Distribution measured by
    * Dedup.allPairsJaccard: sf0.01 has nothing in [0.1, 0.9); sf0.1 has 7
    * pairs in [0.8, 0.9), expected misses ≈ 1.5e-3.)
    */
  test("corpus assumption: no jaccard pairs in the LSH miss zone at either gate scale") {
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val corpus = spark.read.parquet(s"$dir/documents.parquet")
      val js = Dedup.allPairsJaccard(corpus, "doc_id", "text", 0.3)
        .collect().map(_.getDouble(2))
      val gapViolations = js.filter(j => j < 0.8)
      assert(gapViolations.isEmpty,
        s"$dir: pairs in [0.3, 0.8) where r=4/b=16 banding miss prob is 0.35..2e-4 — " +
          s"re-tune bands or threshold: ${gapViolations.mkString(",")}")
      // pairs >= threshold(0.5) must be recalled; bound the expected miss count
      val expectedMisses = js.filter(_ >= 0.5)
        .map(j => math.pow(1 - math.pow(j, 4), 16)).sum
      assert(expectedMisses < 0.01,
        s"$dir: expected LSH misses $expectedMisses — oracle-vs-banding gate no longer safe")
    }
  }

  test("kgramPositions: 1-based spans, short docs contribute zero rows") {
    val df = Seq((1L, "abcdef"), (2L, "abc")).toDF("doc_id", "text")
    val pos = Dedup.kgramPositions("doc_id", "text", k = 4)(df).collect()
    // "abcdef" has 3 4-grams at positions 1..3; "abc" (len < k) none
    assert(pos.map(_.getLong(0)).toSet == Set(1L))
    assert(pos.map(_.getInt(1)).sorted.toSeq == Seq(1, 2, 3))
  }

  test("kgram coverage and pairs find the planted verbatim span") {
    val df = Seq(
      (1L, "abcdefghij"),             // the whole doc is the shared span
      (2L, "xx abcdefghij yy"),       // span embedded at offset 3
      (3L, "zzzzzzzzzzzzzzzz")        // unrelated
    ).toDF("doc_id", "text")
    val cov = Dedup.kgramDupCoverage(df, "doc_id", "text", k = 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(cov(1L) == ((1L, 1L, 1.0)))
    assert(cov(2L)._1 == 7L && cov(2L)._2 == 1L)
    assert(cov(3L)._2 == 0L && cov(3L)._3 == 0.0)

    val pairs = Dedup.kgramDupPairs(df, "doc_id", "text", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1L)))
    // a doc-frequency cap of 1 removes the shared gram before pairing
    assert(Dedup.kgramDupPairs(df, "doc_id", "text", k = 10, maxDocFreq = Some(1)).count() == 0L)
  }

  test("kgram pair generation plans an equi-join on the gram hash, never a cartesian") {
    val df = Seq((1L, "abcdefghij"), (2L, "abcdefghij")).toDF("doc_id", "text")
    val plan = planOf(Dedup.kgramDupPairs(df, "doc_id", "text", k = 10))
    assert(!plan.contains("CartesianProduct"), plan)
  }

  // ===== duplicated-span cutting =====

  // 40-char shared substrings with disjoint alphabets; padding chars
  // appear in neither, so the only cross-doc 30-grams are inside the
  // planted occurrences
  private val sharedA = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMN"
  private val sharedB = "OPQRSTUVWXYZ0123456789!@#$%^&*()-=_+[]{}"
  private val spanDocs = Seq(
    (1L, ",,,,,,,,,," + sharedA + ";;;;;;;;;;"),
    (2L, "::::::::::" + sharedA + "||||||||||"),
    (3L, sharedB + ".........." + sharedB),
    (4L, "''''''''''" + sharedB + "~~~~~~~~~~"),
    (5L, "tiny"),
    (6L, sharedA + sharedB)
  ).toDF("doc_id", "text")

  test("kgramDupSpans merges flagged positions into exact removal spans") {
    val spans = Dedup.kgramDupSpans(spanDocs, "doc_id", "text", k = 30)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("span_start"),
        r.getAs[Int]("span_end"), r.getAs[Int]("span_len")))
      .toSet
    assert(spans == Set(
      (1L, 11, 50, 40), (2L, 11, 50, 40),         // one planted span each
      (3L, 1, 40, 40), (3L, 51, 90, 40),          // 10-char gap → two islands
      (4L, 11, 50, 40),
      (6L, 1, 80, 80)))                           // adjacent regions merge
  }

  test("spanCleanStats zero-fills clean docs and accounts flagged chars exactly") {
    val stats = Dedup.spanCleanStats(spanDocs, "doc_id", "text", k = 30)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("chars_flagged"),
          r.getAs[Double]("clean_frac"))))
      .toMap
    assert(stats(5L) == ((0L, 0L, 1.0)))          // <k chars: no grams, fully clean
    assert(stats(3L) == ((2L, 80L, 10.0 / 90.0)))
    assert(stats(6L) == ((1L, 80L, 0.0)))
    assert(stats(1L)._2 == 40L)
    assert(stats.size == 6)                        // every doc reported
  }

  test("cutSpans removes exactly the merged spans; clean docs pass through") {
    val cut = Dedup.cutSpans(spanDocs, "doc_id", "text", k = 30)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text")).toMap
    assert(cut(1L) == ",,,,,,,,,," + ";;;;;;;;;;")   // planted middle excised
    assert(cut(2L) == "::::::::::" + "||||||||||")
    assert(cut(3L) == "..........")                  // both occurrences cut
    assert(cut(4L) == "''''''''''" + "~~~~~~~~~~")
    assert(cut(5L) == "tiny")                        // untouched, via the left join
    assert(cut(6L) == "")                            // fully covered → empty
    // invariant: clean length == n_chars - chars_flagged for every doc
    val stats = Dedup.spanCleanStats(spanDocs, "doc_id", "text", k = 30)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_chars"), r.getAs[Long]("chars_flagged")))).toMap
    cut.foreach { case (id, txt) =>
      assert(txt.length == stats(id)._1 - stats(id)._2, s"doc $id")
    }
  }

  test("kgramDupSpans windows only the flagged positions behind a semi-join") {
    val plan = planOf(Dedup.kgramDupSpans(spanDocs, "doc_id", "text", k = 30))
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  // ===== content-defined chunking =====

  test("cdcChunks: chunks partition the words in order; boundaries are content-defined") {
    val r = Dedup.cdcChunks(docs, "doc_id", "text", divisor = 4)
    // every word of every doc lands in exactly one chunk, in order:
    // per-doc word totals reconstruct the original word counts
    val perDoc = r.groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.sum("n_words").as("w"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    docs.collect().foreach { row =>
      val id = row.getLong(0)
      val n = row.getString(1).split(" ").count(_.nonEmpty)
      assert(perDoc(id) == n.toLong, s"doc $id")
    }
    // content-defined: exact-dup docs 1 and 4 chunk identically
    val byDoc = r.collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.map(x => (x.getAs[String]("chunk_md5"), x.getAs[Long]("n_words"))).sorted.toSeq)
      .toMap
    assert(byDoc(1L) == byDoc(4L))
    // a shared PASSAGE chunks identically wherever it sits: doc 2 is
    // doc 1 plus a trailing word, so every chunk of doc 1 except
    // possibly the last also appears in doc 2's chunk set
    assert(byDoc(1L).dropRight(1).toSet.subsetOf(byDoc(2L).toSet))
  }

  test("cdcChunks drops chunk text before the shuffle; stats never plan a cartesian") {
    val plan = planOf(Dedup.cdcChunkStats(docs, "doc_id", "text"))
    assert(!plan.contains("CartesianProduct"), plan)
    // the exchange that feeds the digest aggregation carries chunk_md5,
    // not the chunk string itself
    assert(plan.contains("chunk_md5"), plan)
    assert(!"Exchange hashpartitioning\\(__chunk".r.findFirstIn(plan).isDefined, plan)
  }

  test("cdcDupCoverage: exact dups fully covered, unique docs zero, all docs reported") {
    val cov = Dedup.cdcDupCoverage(docs, "doc_id", "text", divisor = 4)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dup_word_frac")).toMap
    assert(cov.size == 5)                 // every source doc, via the left join
    assert(cov(1L) == 1.0, cov)           // doc 4 repeats every chunk of doc 1
    assert(cov(4L) == 1.0, cov)
    assert(cov(3L) == 0.0, cov)           // unrelated content: nothing shared
    assert(cov(5L) == 0.0, cov)
    assert(cov(2L) > 0.0, cov)            // shares doc 1's prefix chunks
  }

  test("noveltyCurve: duplicate content counts as novel only in its first bucket") {
    val d = Seq(
      (0L, "alpha"), (1L, "beta"),          // bucket 0: both novel
      (2L, "alpha"), (3L, "gamma"),         // bucket 1: alpha repeats
      (4L, "beta"), (5L, "beta")            // bucket 2: nothing novel
    ).toDF("doc_id", "text")
    val r = Dedup.noveltyCurve(d, "doc_id", "text", bucketSize = 2)
      .collect()
      .map(x => x.getAs[Long]("bucket") ->
        ((x.getAs[Long]("n_docs"), x.getAs[Long]("n_novel"), x.getAs[Double]("novel_frac"))))
      .toMap
    assert(r(0L) == ((2L, 2L, 1.0)))
    assert(r(1L) == ((2L, 1L, 0.5)))
    assert(r(2L) == ((2L, 0L, 0.0)))
  }

  test("collocationTopK ranks the surprising pair above the merely frequent one") {
    // "rare gem" always co-occurs (lift high); "the cat"/"the dog"
    // frequent but 'the' pairs with everything (lift low)
    val colloc = Seq(
      (1L, "the cat saw the dog and the cat ran"),
      (2L, "rare gem the cat the dog"),
      (3L, "rare gem and the dog the cat"),
      (4L, "rare gem")
    ).toDF("doc_id", "text")
    val top = TextAnalysis.collocationTopK("text", k = 5, minPair = 2)(colloc)
      .collect().map(r => ((r.getAs[String]("w1"), r.getAs[String]("w2")),
        r.getAs[Long]("n_pair"), r.getAs[Double]("lift")))
    assert(top.head._1 == (("rare", "gem")))
    assert(top.head._2 == 3L)
    // exact factors: lift("rare gem") = 3*N/(3*3) = N/3; N = 9+6+7+2
    assert(top.head._3 == 24.0 / 3)
    // every 'the *' pair ranks below the planted collocation
    assert(top.tail.forall(_._3 < top.head._3))
  }

  test("pair builders: zip-of-slices == lambda references (adjacent exact, skipgram multiset)") {
    // token arrays spanning the edges: normal, repeats, exactly 2,
    // 1 token, empty-string token runs
    val df = Seq(
      "a b c d e", "x x x", "p q", "solo", "a  b", ""
    ).toDF("text").select(TextAnalysis.tokens(col("text")).as("__tk"))
    val tk = col("__tk")
    // adjacent pairs: exact positional equality under the size guard
    val adj = df.where(size(tk) >= 2).select(
      arrays_zip(slice(tk, lit(1), size(tk) - 1).as("w1"),
        slice(tk, lit(2), size(tk) - 1).as("w2")).as("z"),
      ParityRefs.adjacentPairsHof(tk).as("h")).collect()
    adj.foreach { r =>
      assert(r.getSeq[org.apache.spark.sql.Row](0) == r.getSeq[org.apache.spark.sql.Row](1))
    }
    // skipgram pairs: same MULTISET per row (enumeration order differs
    // by construction — per-distance vs per-position)
    (1 to 4).foreach { w =>
      val byDistance = (1 to w).map { d =>
        when(size(tk) > d,
          arrays_zip(slice(tk, lit(1), size(tk) - d).as("w1"),
            slice(tk, lit(1 + d), size(tk) - d).as("w2")))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      }
      val sg = df.where(size(tk) >= 2).select(
        concat(byDistance: _*).as("z"),
        ParityRefs.skipgramPairsHof(tk, w).as("h")).collect()
      sg.foreach { r =>
        val zs = r.getSeq[org.apache.spark.sql.Row](0).groupBy(identity).view.mapValues(_.size).toMap
        val hs = r.getSeq[org.apache.spark.sql.Row](1).groupBy(identity).view.mapValues(_.size).toMap
        assert(zs == hs, s"window $w: $zs != $hs")
      }
    }
  }

  test("crossSourceOverlap rolls doc pairs up to unordered source cells") {
    val shared = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijkl" // 38 chars > k=30
    val srcDocs = Seq(
      (1L, "s1", shared + ",,,,,,,,"),
      (2L, "s2", shared + ";;;;;;;;"),
      (3L, "s2", shared + "::::::::"),
      (4L, "s3", "completely unrelated text with no dup")
    ).toDF("doc_id", "source", "text")
    val m = Dedup.crossSourceOverlap(srcDocs, "doc_id", "text", "source", k = 30)
      .collect()
      .map(r => ((r.getAs[String]("source_a"), r.getAs[String]("source_b")),
        r.getAs[Long]("n_doc_pairs"))).toMap
    // pairs: (1,2) s1-s2, (1,3) s1-s2, (2,3) s2-s2 (diagonal)
    assert(m == Map(("s1", "s2") -> 2L, ("s2", "s2") -> 1L))
  }

  test("nearDedupKeepBest keeps the cluster's best-scored doc, ties to lowest id") {
    val scored = docs.withColumn("score",
      expr("case doc_id when 1 then 0.2 when 2 then 0.9 when 4 then 0.5 else 0.1 end"))
    val best = Dedup.nearDedupKeepBest(scored, "doc_id", "text", "score", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // cluster {1,2,4}: doc 2 has the top score; 3 and 5 are singletons
    assert(best == Set(2L, 3L, 5L))
    // keep-lowest policy would keep 1 — the policies genuinely differ
    val lowest = Dedup.nearDedup(docs, "doc_id", "text", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lowest == Set(1L, 3L, 5L))
    // score ties break to the lowest id
    val tied = Dedup.nearDedupKeepBest(
      docs.withColumn("score", lit(0.5)), "doc_id", "text", "score", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tied == Set(1L, 3L, 5L))
  }

  test("simhash: exact dups distance 0; near-dups close; unrelated far") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 12)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((1L, 4L)) == 0)
    assert(pairs.get((1L, 2L)).forall(_ <= 12))
    assert(!pairs.contains((1L, 3L)))
  }

  // ===== similarity =====

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f)),
    (4L, Array(0.8f, 0.2f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("cosineTopK: self first (sim=1), then by true cosine order") {
    val r = Similarity.cosineTopK(vecs, "vec_id", "embedding", probeId = 0L, k = 3)
      .collect().map(x => (x.getLong(0), x.getDouble(1)))
    assert(r.head._1 == 0L && math.abs(r.head._2 - 1.0) < 1e-12)
    assert(r.map(_._1).toSeq == Seq(0L, 1L, 4L)) // 0.9/norm > 0.8/norm order
  }

  test("knnJoin ranks per probe and respects k") {
    val r = Similarity.knnJoin(vecs, vecs.where(col("vec_id") < 2), "vec_id", "embedding", k = 2)
    val byProbe = r.collect().groupBy(_.getLong(0))
    assert(byProbe.keySet == Set(0L, 1L))
    assert(byProbe.values.forall(_.length == 2))
    // each probe's rank-1 neighbour is itself
    assert(byProbe.forall { case (p, rows) => rows.minBy(_.getInt(3)).getLong(1) == p })
  }

  test("knnJoin drops the broadcast hint when the probe set exceeds the cap") {
    val hinted = Similarity.knnJoin(vecs, vecs.where(col("vec_id") < 2),
      "vec_id", "embedding", k = 2)
    assert(planOf(hinted).contains("BroadcastExchange"), planOf(hinted))
    // 1-byte cap: the probe set's stats estimate must exceed it, so
    // the join falls back unhinted and a genuinely large probe set
    // can't OOM the driver. (AQE may still choose broadcast from real
    // size stats; the guard removes only the unconditional hint, so
    // assert on the logical plan's hints, not the physical strategy.)
    val unhinted = Similarity.knnJoin(vecs, vecs.where(col("vec_id") < 2),
      "vec_id", "embedding", k = 2, maxBroadcastBytes = 1)
    assert(!unhinted.queryExecution.optimizedPlan.toString.contains("broadcast"),
      unhinted.queryExecution.optimizedPlan.toString)
    // results identical either way
    val a = hinted.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val b = unhinted.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(a == b)
  }

  test("ANN bucketing fails loudly on a dim mismatch instead of collapsing into bucket 0") {
    // zip_with pads the shorter side with nulls → every hyperplane dot
    // nulls → every row lands in bucket 0 → the bucketed join is a
    // silent N²; the guard must raise on the first row instead
    val wide = Seq((1L, Array.fill(8)(0.5f)), (2L, Array.fill(8)(0.4f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.annTopK(wide, wide, "vec_id", "embedding", k = 1, nPlanes = 4, dim = 4)
        .collect()
    }
    def causes(t: Throwable): Seq[Throwable] = if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => Option(c.getMessage).exists(_.contains("hyperplane dim"))),
      s"expected the dim-mismatch guard, got $e")
  }

  test("ANN recall: identical probe set finds itself; plan is an equi-join") {
    val ann = Similarity.annTopK(vecs, vecs.where(col("vec_id") === 0L),
      "vec_id", "embedding", k = 2, nPlanes = 4, dim = 4)
    val rows = ann.collect()
    assert(rows.nonEmpty && rows.head.getLong(1) == 0L) // self found in own bucket
    val plan = planOf(ann)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("multi-probe ANN improves recall over single-probe on clustered vectors") {
    // LSH's contract is high-similarity neighbours; build 10 tight
    // clusters (cosine ≥ ~0.95 within) of 16-dim vectors, seeded.
    val rnd = new scala.util.Random(7)
    val dim = 16
    val clustered = (0 until 10).flatMap { c =>
      val center = Array.fill(dim)(rnd.nextGaussian())
      (0 until 8).map { i =>
        val v = center.map(x => (x + 0.08 * rnd.nextGaussian()).toFloat)
        ((c * 8 + i).toLong, v)
      }
    }.toDF("vec_id", "embedding")
    val probes = clustered.where(col("vec_id") % 8 === 0) // one per cluster
    def recall(multiProbe: Boolean): Double = {
      val ann = Similarity.annTopK(clustered, probes, "vec_id", "embedding", k = 5,
        nPlanes = 8, dim = dim, multiProbe = multiProbe)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = Similarity.knnJoin(clustered, probes, "vec_id", "embedding", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (ann intersect brute).size.toDouble / brute.size
    }
    val single = recall(multiProbe = false)
    val multi = recall(multiProbe = true)
    assert(multi >= single, s"multi $multi < single $single")
    assert(multi >= 0.7, s"multi-probe recall $multi")
  }

  test("embeddingNearDupPairs finds close vectors in shared buckets") {
    val pairs = Similarity.embeddingNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.95, nPlanes = 4, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 4L))) // genuinely close ones
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // opposite vector never pairs
  }

  // ===== text =====

  test("hash split is deterministic and sample membership survives corpus growth") {
    import graft.llm.Sampling
    val d1 = (0L until 200L).toDF("id")
    val d2 = (0L until 400L).toDF("id") // the corpus grew
    val s1 = Sampling.hashSample("id", 10)(d1).collect().map(_.getLong(0)).toSet
    val s2 = Sampling.hashSample("id", 10)(d2).collect().map(_.getLong(0)).toSet
    assert(s1.subsetOf(s2), "previously sampled ids must never drop out")
    assert(s1.nonEmpty && s1.size < 60, s"10% of 200 ids, got ${s1.size}")
    val splits = Sampling.withHashSplit("id", valPct = 20, testPct = 20)(d1)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val again = Sampling.withHashSplit("id", valPct = 20, testPct = 20)(d1)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(splits == again, "assignment must be run-stable")
    assert(splits.values.toSet == Set("train", "val", "test"))
  }

  test("IVF assignment survives NaN vectors (degraded input assigns deterministically, no crash)") {
    import graft.llm.Ivf
    val m = Ivf.IvfModel(Array(Array(0.0, 0.0), Array(1.0, 1.0)))
    val df = Seq(
      (1L, Seq(0.1, 0.1)),
      (2L, Seq(Double.NaN, 0.5))).toDF("vec_id", "embedding")
    val got = Ivf.assign(df, "vec_id", "embedding", m)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got(1L) == 0)
    assert(got(2L) == 0, "all-NaN distances fall back to the lowest id (array_sort NaN-last order)")
  }

  test("cellPurity: sizes, tie-to-lowest majority, exact purity ratios") {
    import graft.llm.{Ivf, Similarity}
    val m = Ivf.IvfModel(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val df = Seq(
      (1L, Seq(1.0, 0.1), 7), (2L, Seq(1.0, 0.2), 7), (3L, Seq(1.0, 0.15), 8),
      (10L, Seq(0.1, 1.0), 5), (11L, Seq(0.2, 1.0), 9)   // 1-1 tie -> lowest label
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.cellPurity(df, "vec_id", "embedding", "label", m)
      .collect()
      .map(x => x.getInt(0) -> ((x.getLong(1), x.getInt(2), x.getLong(3), x.getDouble(4))))
      .toMap
    assert(r(0) == ((3L, 7, 2L, 2.0 / 3.0)))
    assert(r(1) == ((2L, 5, 1L, 0.5)))
  }

  test("labelConsistencyAudit flags the planted mislabel and clears the rest") {
    import graft.llm.{Ivf, Similarity}
    // two tight clusters around (1,0) and (0,1); labels follow the
    // cluster except vec 3, which sits in cluster A labeled as B
    val m = Ivf.IvfModel(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val df = Seq(
      (1L, Seq(1.0, 0.1), 7), (2L, Seq(1.0, 0.2), 7), (3L, Seq(1.0, 0.15), 8),
      (4L, Seq(0.9, 0.05), 7),
      (10L, Seq(0.1, 1.0), 8), (11L, Seq(0.2, 1.0), 8), (12L, Seq(0.15, 0.9), 8)
    ).toDF("vec_id", "embedding", "label")
    val audit = Similarity.labelConsistencyAudit(df, "vec_id", "embedding", "label", m, k = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getBoolean(4)))).toMap
    assert(audit(3L) == ((8, 7, false)), audit)   // mislabel: neighbors vote 7
    assert(audit(1L)._3 && audit(2L)._3 && audit(4L)._3, audit)
    assert(audit(10L)._3 && audit(11L)._3 && audit(12L)._3, audit)
  }

  test("refine: one full-corpus Lloyd pass lands each centroid on its cell's exact mean") {
    import graft.llm.Ivf
    // two tight clusters; initial centroids deliberately off-center
    // but on the correct side of the decision boundary
    val m0 = Ivf.IvfModel(Array(Array(0.0, 0.0), Array(10.0, 10.0)))
    val df = Seq(
      (1L, Seq(1.0, 2.0)), (2L, Seq(3.0, 2.0)),      // cell 0: mean (2, 2)
      (3L, Seq(9.0, 11.0)), (4L, Seq(11.0, 11.0))    // cell 1: mean (10, 11)
    ).toDF("vec_id", "embedding")
    val m1 = Ivf.refine(df, "embedding", m0, iters = 1, spherical = false)
    assert(m1.centroids(0).toSeq == Seq(2.0, 2.0), m1.centroids(0).toSeq)
    assert(m1.centroids(1).toSeq == Seq(10.0, 11.0), m1.centroids(1).toSeq)
    // spherical: same means, unit-normalized
    val m1s = Ivf.refine(df, "embedding", m0, iters = 1, spherical = true)
    val n0 = math.sqrt(m1s.centroids(0).map(x => x * x).sum)
    assert(math.abs(n0 - 1.0) < 1e-12)
    assert(math.abs(m1s.centroids(0)(0) - 2.0 / math.sqrt(8.0)) < 1e-12)
  }

  test("refine: an emptied cell keeps its previous centroid") {
    import graft.llm.Ivf
    // nothing is nearer to (100, 100) than to (0, 0)
    val m0 = Ivf.IvfModel(Array(Array(0.0, 0.0), Array(100.0, 100.0)))
    val df = Seq((1L, Seq(1.0, 1.0)), (2L, Seq(2.0, 2.0))).toDF("vec_id", "embedding")
    val m1 = Ivf.refine(df, "embedding", m0, iters = 1, spherical = false)
    assert(m1.centroids(1).toSeq == Seq(100.0, 100.0))
    assert(m1.centroids(0).toSeq == Seq(1.5, 1.5))
  }

  test("refine: ragged-length vectors in one cell get per-dim means, not a shared count") {
    import graft.llm.Ivf
    val m0 = Ivf.IvfModel(Array(Array(0.0, 0.0), Array(10.0, 10.0)))
    // cell 0 mixes a length-2 and a length-1 vector (the truncated
    // upstream write train() defends against): dim 0 has n=2, dim 1
    // has n=1 — a per-CELL count would divide both dims by whichever
    // (centroid, dim) group the collect happened to return last,
    // giving [3,2] or [6,4] depending on shuffle order
    val df = Seq(
      (1L, Seq(2.0, 4.0)), (2L, Seq(4.0)),           // cell 0
      (3L, Seq(10.0, 10.0))                          // cell 1
    ).toDF("vec_id", "embedding")
    val m1 = Ivf.refine(df, "embedding", m0, iters = 1, spherical = false)
    assert(m1.centroids(0).toSeq == Seq(3.0, 4.0), m1.centroids(0).toSeq)
    assert(m1.centroids(1).toSeq == Seq(10.0, 10.0))
  }

  test("refineCellSums: quantized sums match a local replay; partial agg precedes the exchange") {
    import graft.llm.Ivf
    val m = Ivf.IvfModel(Array(Array(0.0, 0.0), Array(1.0, 1.0)))
    val data = Seq(
      (1L, Seq(0.11119, 0.2)),   // cell 0
      (2L, Seq(0.1, -0.25)),     // cell 0
      (3L, Seq(0.9, 1.1)))       // cell 1
    val df = data.toDF("vec_id", "embedding")
    val got = Ivf.refineCellSums(df, "embedding", m)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    // local replay of quantize-then-sum (round half away from zero)
    def q(x: Double) = math.round(x * 10000)
    assert(got((0, 0)) == ((q(0.11119) + q(0.1), 2L)))
    assert(got((0, 1)) == ((q(0.2) + q(-0.25), 2L)))
    assert(got((1, 0)) == ((q(0.9), 1L)))
    assert(got((1, 1)) == ((q(1.1), 1L)))
    // scale shape: ONE exchange, keyed by (cell, dim), with a partial
    // aggregate below it — shuffle volume is k·d rows per partition
    val plan = planOf(Ivf.refineCellSums(df, "embedding", m))
    assert("partial_sum".r.findAllIn(plan).nonEmpty, plan)
    assert("Exchange hashpartitioning\\(centroid_id".r.findFirstIn(plan).isDefined, plan)
  }

  test("clusterSizeHistogram counts components including singletons") {
    // docs fixture: {1,2,4} cluster (2 near-dups 1, 4 exact-dups 1),
    // 3 and 5 singletons
    val hist = Dedup.clusterSizeHistogram(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist == Map(1L -> 2L, 3L -> 1L), hist)
  }

  test("graphTriangleCensus: oriented two-join counts each triangle once") {
    // K3 on {1,2,3} + pendant edge (3,4): 1 triangle, 4 edges, 4 verts
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val r = Dedup.graphTriangleCensus(pairs).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 4L, 1L)))
    // K4: C(4,3) = 4 triangles, each counted exactly once
    val k4 = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)).toDF("id_a", "id_b")
    val r4 = Dedup.graphTriangleCensus(k4).collect().head
    assert((r4.getLong(0), r4.getLong(1), r4.getLong(2)) == ((4L, 6L, 4L)))
  }

  test("nearDupClusters: driver union-find fast path equals the distributed fixpoint") {
    // chain 1~2~3~4 plus an isolated pair 10~11 — transitive collapse
    // and multiple components
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val fast = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.nearDupClusters(pairs, maxDriverEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == dist)
    assert(fast == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("splitLeakageAudit flags exactly the cross-split near-dup pairs") {
    import graft.llm.Sampling
    // copies of one text: every pair is a near-dup (jaccard 1.0).
    // Ids chosen so the md5 bucketing genuinely straddles splits:
    // 18/73 hash to test, 62/65 to val, 1/2/3 to train
    val d = Seq(1L, 2L, 3L, 18L, 62L, 65L, 73L)
      .map(i => (i, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val audit = Sampling.splitLeakageAudit(d, "doc_id", "text", minJaccard = 0.5)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[String]("split_a"), r.getAs[String]("split_b")))
    // replay: split per id from the library's own assignment
    val split = Sampling.withHashSplit("doc_id")(d)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val ids = Seq(1L, 2L, 3L, 18L, 62L, 65L, 73L)
    val expected = for {
      a <- ids; b <- ids
      if a < b && split(a) != split(b)
    } yield (a, b, split(a), split(b))
    assert(audit.toSet == expected.toSet)
    assert(audit.nonEmpty, "fixture must actually straddle splits")
    assert(audit.forall { case (_, _, sa, sb) => sa != sb })
  }

  test("clusterAwareSplit: near-dup groups land in one split; unpaired docs keep their hash split") {
    import graft.llm.Sampling
    // the leakage fixture: identical texts whose ids straddle splits,
    // plus two unpaired docs
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (18L, "alpha beta gamma delta epsilon zeta"),
      (62L, "alpha beta gamma delta epsilon zeta"),
      (7L, "solitary writing sharing nothing with any other document here"),
      (73L, "another standalone text with a fully distinct vocabulary set")
    ).toDF("doc_id", "text")
    val r = Sampling.clusterAwareSplit(d, "doc_id", "text", minJaccard = 0.5)
      .collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getString(2)))).toMap
    // the whole near-dup group keys on its minimum id -> one split
    assert(Seq(1L, 18L, 62L).map(r(_)._1).toSet == Set(1L))
    assert(Seq(1L, 18L, 62L).map(r(_)._2).toSet.size == 1)
    // unpaired docs key on themselves, matching withHashSplit
    val plain = Sampling.withHashSplit("doc_id")(d)
      .collect().map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(r(7L) == ((7L, plain(7L))))
    // the shared split rule carries withHashSplit's validation too: a
    // val+test carve-out over 100% used to pass silently and leave
    // NO train split at all
    intercept[IllegalArgumentException] {
      Sampling.clusterAwareSplit(d, "doc_id", "text", valPct = 60, testPct = 60)
    }
    intercept[IllegalArgumentException] {
      Sampling.splitLeakageAudit(d, "doc_id", "text", valPct = 60, testPct = 60)
    }
    assert(r(73L) == ((73L, plain(73L))))
    // maxDocFreq passes through: a slack cap is a no-op on both audit
    // entry points (the measured-flat guard from the threshold curve,
    // available wherever allPairsJaccard powers an audit)
    val rCapped = Sampling.clusterAwareSplit(d, "doc_id", "text", minJaccard = 0.5,
        maxDocFreq = Some(d.count().toInt))
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getString(2)))).toMap
    assert(rCapped == r)
    // cap=1 drops every shared shingle: no pairs, so every doc keys on
    // itself — identical to the plain hash split
    val rTight = Sampling.clusterAwareSplit(d, "doc_id", "text", minJaccard = 0.5,
        maxDocFreq = Some(1))
      .collect().map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(rTight == plain)
    // and the audit finds nothing to flag on the remedied assignment:
    // every near-dup pair is same-split by construction
    val pairSplits = for (a <- Seq(1L, 18L, 62L); b <- Seq(1L, 18L, 62L) if a < b)
      yield (r(a)._2, r(b)._2)
    assert(pairSplits.forall { case (sa, sb) => sa == sb })
  }

  test("stratified sampling: per-stratum rates, cross-stratum-stable membership") {
    import graft.llm.Sampling
    val d = (0L until 400L).map(i => (i, if (i % 2 == 0) "en" else "fr")).toDF("id", "lang")
    val s = Sampling.stratifiedHashSample("id", "lang", Seq("en" -> 10), defaultPct = 50)(d)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (en, fr) = (s.count(_._2 == "en"), s.count(_._2 == "fr"))
    assert(en > 0 && fr > 0 && en < fr, s"en=$en should be well under fr=$fr")
    // a kept row of an UNCHANGED stratum survives a rate change elsewhere
    val s2 = Sampling.stratifiedHashSample("id", "lang", Seq("en" -> 40), defaultPct = 50)(d)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(s.filter(_._2 == "fr").toSet.subsetOf(s2), "fr membership must not shift when en's rate changes")
    assert(s.filter(_._2 == "en").toSet.subsetOf(s2), "raising en's rate only adds ids")
  }

  test("topTermsPerDoc ranks by tf desc then rarity (df asc) then token") {
    val df = Seq(
      (1L, "apple apple banana cherry"),
      (2L, "banana banana cherry cherry date")).toDF("doc_id", "text")
    val r = TextAnalysis.topTermsPerDoc("doc_id", "text", 2)(df)
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getInt(4)))
      .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._4).map(t => (t._2, t._3)).toSeq }
    // doc1: apple tf=2 first; banana/cherry tie at tf=1 -> banana df=2 vs cherry df=2 -> token order
    assert(r(1L) == Seq(("apple", 2L), ("banana", 1L)))
    // doc2: banana/cherry tie at tf=2 -> equal df -> token order; date never reaches top-2
    assert(r(2L) == Seq(("banana", 2L), ("cherry", 2L)))
  }

  test("corpusDatasheet: one engine-exact release summary row") {
    val d = Seq(
      (1L, "one two three", "en", "web"),
      (2L, "one two three", "en", "books"),   // exact dup of 1
      (3L, "a b c d e", "de", "web")
    ).toDF("doc_id", "text", "lang", "source")
    val r = TextAnalysis.corpusDatasheet(d, "text", "lang", "source").collect().head
    assert(r.getAs[Long]("n_docs") == 3L)
    assert(r.getAs[Long]("n_tokens") == 11L)          // 3 + 3 + 5
    assert(r.getAs[Long]("n_langs") == 2L)
    assert(r.getAs[Long]("n_sources") == 2L)
    assert(r.getAs[Long]("n_unique_texts") == 2L)
    assert(r.getAs[Double]("dup_frac") == 1.0 / 3.0)
    assert(r.getAs[Double]("median_tokens") == 3.0)
    assert(r.getAs[Long]("max_tokens") == 5L)
  }

  test("quality scores on a known sentence") {
    val df = Seq((1L, "the cat, the cat sat!")).toDF("doc_id", "text")
    val r = TextAnalysis.withQualityScores("text")(df).collect().head
    assert(r.getAs[Int]("n_tokens") == 5)
    assert(math.abs(r.getAs[Double]("ttr") - 4.0 / 5) < 1e-12) // cat, != cat
    assert(math.abs(r.getAs[Double]("stopword_ratio") - 2.0 / 5) < 1e-12)
    assert(math.abs(r.getAs[Double]("mean_token_len") - (21.0 - 5 + 1) / 5) < 1e-12)
    assert(math.abs(r.getAs[Double]("punct_ratio") - 2.0 / 21) < 1e-12) // ',' and '!'
  }

  test("PII signals count email and URL spans") {
    val df = Seq((1L, "mail a.b@x.io or c@y.org, see https://x.io/a?b=1 and http://y.org/p"),
      (2L, "nothing here")).toDF("doc_id", "text")
    val r = TextAnalysis.withPiiSignals("text")(df).orderBy("doc_id").collect()
    assert(r(0).getAs[Int]("n_emails") == 2 && r(0).getAs[Int]("n_urls") == 2)
    assert(r(1).getAs[Int]("n_emails") == 0 && r(1).getAs[Int]("n_urls") == 0)
  }

  test("langId: argmax with first-profile tie-break") {
    val df = Seq((1L, "the the spark"), (2L, "spark vector"), (3L, "x")).toDF("doc_id", "text")
    val r = TextAnalysis.withLangId("text", Seq(
      "en" -> Seq("the"), "sys" -> Seq("spark", "vector")))(df)
      .select("doc_id", "lang_pred").collect().map(x => (x.getLong(0), x.getString(1))).toMap
    assert(r(1L) == "en") // 2 vs 1
    assert(r(2L) == "sys") // 0 vs 2
    assert(r(3L) == "en") // 0-0 tie → first profile
  }

  test("fingerprint is invariant to case/punctuation/whitespace noise") {
    val df = Seq((1L, "Hello,  World!"), (2L, "hello world")).toDF("doc_id", "text")
    val r = TextAnalysis.withFingerprint("text")(df).select("fingerprint")
      .collect().map(_.getString(0))
    assert(r(0) == r(1))
  }

  test("bag fingerprint is invariant to word order") {
    val df = Seq((1L, "b a c"), (2L, "c b a b")).toDF("doc_id", "text")
    val r = TextAnalysis.withBagFingerprint("text")(df).select("bag_fingerprint")
      .collect().map(_.getString(0))
    assert(r(0) == r(1))
  }

  test("tokensRegex splits on punctuation like a BPE pretokenizer") {
    val df = Seq("don't stop, won't!").toDF("t")
    val r = df.select(TextAnalysis.tokensRegex(col("t"))).collect().head.getSeq[String](0)
    assert(r == Seq("don", "t", "stop", "won", "t"))
  }

  test("temperature mixture keeps all of the smallest domain, flattens the rest") {
    import graft.llm.Sampling
    val df = (1 to 400).map(i =>
      (i.toLong, if (i <= 4) "rare" else if (i <= 104) "mid" else "big"))
      .toDF("doc_id", "source")
    val rates = Sampling.domainMixture("source")(df)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rates("rare") == (4L, 1.0))                      // n_min keeps everything
    assert(rates("mid") == (100L, math.sqrt(4.0 / 100)))    // 0.2
    assert(rates("big") == (296L, math.sqrt(4.0 / 296)))
    // alpha=1 keeps the natural distribution (all rates 1)
    val natural = Sampling.domainMixture("source", alpha = 1.0)(df)
      .collect().map(_.getDouble(2))
    assert(natural.forall(_ == 1.0))
    // the balanced sample keeps rare intact and membership is a pure
    // key predicate (stable under reordering)
    val kept = Sampling.temperatureBalancedSample("doc_id", "source")(df)
    assert(kept.where(col("source") === "rare").count() == 4)
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val keptShuffled = Sampling.temperatureBalancedSample("doc_id", "source")(
      df.orderBy(rand(7))).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(keptIds == keptShuffled)
  }

  test("unimax allocation: water-filling hand case, budget conservation, and the iterative model") {
    import graft.llm.Sampling
    // hand case: weights 10/20/100, cap 2 epochs -> caps 20/40/200,
    // budget 150: a=20 (capped: 150/3=50>20), b=40 (capped:
    // 130/2=65>40), c=90 (uniform level, under its 200 cap)
    val df = ((1 to 10).map(i => (i.toLong, "a", 1L)) ++
      (1 to 20).map(i => (i + 100L, "b", 1L)) ++
      (1 to 100).map(i => (i + 200L, "c", 1L))).toDF("id", "lang", "w")
    val got = Sampling.unimaxAllocation("lang", "w", budget = 150.0, maxEpochs = 2.0)(df)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got("a") == (10.0, 20.0, 20.0, 2.0))
    assert(got("b") == (20.0, 40.0, 40.0, 2.0))
    assert(got("c") == (100.0, 200.0, 90.0, 0.9))
    // budget exceeding every cap: all languages cap out, loudly short
    val over = Sampling.unimaxAllocation("lang", "w", budget = 1e6, maxEpochs = 2.0)(df)
      .collect().map(r => r.getDouble(3)).sum
    assert(over == 260.0)

    // degenerate-weight contract: a language with an all-NULL weight
    // sum and one with weight 0 get cap/allocation/epochs exactly 0.0
    // (no NaN from 0/0, no NULL cap in the sort key), consume no
    // budget, and the water level re-levels over the real languages
    val degen = (Seq(("z_nullw", null.asInstanceOf[java.lang.Long]),
      ("z_zerow", java.lang.Long.valueOf(0L))) ++
      (1 to 10).map(_ => ("a", java.lang.Long.valueOf(1L))) ++
      (1 to 100).map(_ => ("c", java.lang.Long.valueOf(1L))))
      .toDF("lang", "w")
    val dres = Sampling.unimaxAllocation("lang", "w", budget = 60.0, maxEpochs = 2.0)(degen)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(dres("z_nullw") == (0.0, 0.0, 0.0, 0.0))
    assert(dres("z_zerow") == (0.0, 0.0, 0.0, 0.0))
    assert(dres("a") == (10.0, 20.0, 20.0, 2.0)) // capped
    assert(dres("c") == (100.0, 200.0, 40.0, 0.4)) // leveled over the rest
    assert(!dres.values.exists(t => t._4.isNaN))

    // property: the closed form equals the paper's ITERATIVE
    // water-filling on random language-size sets (the independent
    // model), and allocations sum to the budget whenever it fits
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def iterative(sizes: Map[String, Long], budget: Double, cap: Double): Map[String, Double] = {
      var remaining = budget
      var todo = sizes.toSeq.map { case (l, n) => (l, n * cap) }.sortBy(t => (t._2, t._1))
      val out = scala.collection.mutable.Map.empty[String, Double]
      while (todo.nonEmpty) {
        val level = remaining / todo.size
        val (l, c) = todo.head
        if (level <= c) { todo.foreach { case (l2, c2) => out(l2) = math.min(c2, level) }; todo = Nil }
        else { out(l) = c; remaining -= c; todo = todo.tail }
      }
      out.toMap
    }
    val gen = for {
      n <- Gen.chooseNum(1, 6)
      ws <- Gen.listOfN(n, Gen.chooseNum(1L, 50L))
      b <- Gen.chooseNum(1, 400)
    } yield (ws, b)
    val prop = Prop.forAllNoShrink(gen) { case (ws, b) =>
      val langs = ws.zipWithIndex.map { case (w, i) => (s"l$i", w) }
      val rows = langs.flatMap { case (l, w) => Seq((l, w)) }
      val res = Sampling.unimaxAllocation("lang", "w", b.toDouble, maxEpochs = 2.0)(
        rows.toDF("lang", "w"))
        .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
      val want = iterative(langs.toMap.view.mapValues(identity).toMap, b.toDouble, 2.0)
      val totalCaps = ws.map(_ * 2.0).sum
      val sumOk =
        if (b.toDouble >= totalCaps) res.values.sum == totalCaps
        else math.abs(res.values.sum - b.toDouble) < 1e-9
      // exact equality: the iterative model divides in the SAME
      // sequence (sorted order, one division per level trial)
      val eqOk = res == want
      if (!(sumOk && eqOk)) println(s"ws=$ws b=$b res=$res want=$want")
      sumOk && eqOk
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(120), prop)
    assert(r.passed, r.status.toString)
  }

  test("unimaxSchedule: capped languages emit exact copies, fractional ones a stable hash subset summing near the allocation") {
    import graft.llm.Sampling
    val df = ((1 to 10).map(i => (i.toLong, "a", 1L)) ++
      (1 to 20).map(i => (i + 100L, "b", 1L)) ++
      (1 to 100).map(i => (i + 200L, "c", 1L))).toDF("id", "lang", "w")
    // allocation at budget 150 / cap 2: a=2.0 epochs, b=2.0, c=0.9
    val sched = Sampling.unimaxSchedule("id", "lang", "w", budget = 150.0, maxEpochs = 2.0)(df)
    val rows = sched.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // integer-epoch languages: EVERY doc exactly floor(epochs) copies
    assert(rows.count(_._2 == "a") == 20 && rows.count(_._2 == "b") == 40)
    (rows.filter(_._2 == "a") ++ rows.filter(_._2 == "b"))
      .groupBy(t => (t._1, t._2)).foreach { case (_, cs) =>
        assert(cs.map(_._3).sorted.toSeq == Seq(1L, 2L))
      }
    // fractional language: copy in {0,1}, realized volume within pure
    // hash-sampling variance of the 90-doc allocation (0.9 * 100)
    val cCopies = rows.filter(_._2 == "c")
    assert(cCopies.forall(_._3 == 1L))
    assert(math.abs(cCopies.length - 90) <= 15, s"got ${cCopies.length}")
    // order keys are unique per (id, copy) and a pure function of them
    assert(rows.map(t => (t._1, t._3)).distinct.length == rows.length)
    val reshuffled = Sampling.unimaxSchedule("id", "lang", "w", 150.0, 2.0)(df.orderBy(rand(7)))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).sorted
    assert(reshuffled.toSeq == rows.sorted.toSeq) // membership + keys input-order-invariant
  }

  test("near-dup clustering collapses transitive chains in one call") {
    // chain 1~2, 2~3, 3~4 plus a separate pair 10~11: one call must
    // label {1,2,3,4} -> 1 and {10,11} -> 10 (keep-lowest nearDedup
    // needs repeated passes for the same chain — the documented gap
    // this closes)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val clusters = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // non-convergence must throw, not return a partial merge (force
    // the distributed fixpoint — the union-find path never iterates)
    val longChain = (1L until 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    assertThrows[IllegalArgumentException](
      Dedup.nearDupClusters(longChain, maxIter = 2, maxDriverEdges = 0L))
  }

  test("decontamination flags exactly the docs sharing benchmark n-grams") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val train = Seq(
      // contains the bench 5-gram "beta gamma delta epsilon zeta"
      (1L, "intro words beta gamma delta epsilon zeta outro"),
      (2L, "totally unrelated words that never overlap anything"),
      (3L, "alpha beta gamma x delta epsilon zeta"), // 4-gram overlap only, no 5-gram
      (4L, "tiny doc")                               // short-doc rule: whole text = 1 gram
    ).toDF("doc_id", "text")
    val rep = graft.llm.Decontam.contaminationReport(train, bench, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(rep(1L) == (4, 1, true))  // 4 grams, one in the bench set
    assert(rep(2L)._3 == false && rep(2L)._2 == 0)
    assert(rep(3L)._3 == false)
    assert(rep(4L) == (1, 0, false))
  }

  test("decontam reports, filter and LM score are TOTAL over NULL-text docs") {
    import graft.llm.{Decontam, LangModel}
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val train = Seq(
      (1L, Option("alpha beta gamma delta epsilon leaked")),
      (2L, Option.empty[String]) // NULL text must never silently vanish
    ).toDF("doc_id", "text")
    val rep = Decontam.contaminationReport(train, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(3))).toMap
    assert(rep.keySet == Set(1L, 2L), "report must cover every train doc")
    assert(rep(2L) == ((1, false)), "NULL text → one empty gram, uncontaminated")
    // the streaming predicate: NULL text is kept, not null-deleted
    val grams = Decontam.collectBenchGrams(bench, "text")
    val kept = Decontam.streamingDecontamFilter(train, grams, "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L), s"doc 1 leaks (dropped), doc 2 must survive: $kept")
    // novelty: NULL doc gets a row (fully novel unless '' is stored)
    val nov = Decontam.noveltyReport(train, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(nov.keySet == Set(1L, 2L) && nov(2L) == 1.0)
    // LM fluency: NULL doc scores via the single empty gram
    val lm = LangModel.withLmScore(train, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(lm.keySet == Set(1L, 2L) && lm(2L) == 1)
  }

  test("minhash decontam finds the paraphrase-level leak the exact n-gram scan misses") {
    import graft.llm.MinhashDecontam
    // 20 tokens; the train near-dup changes ONLY token 10 ("kappa" →
    // "kilo"). Shingle jaccard = 15/21 ≈ 0.71 (3 of 18 shingles
    // touch position 10), but EVERY 12-gram window of a 20-token doc
    // covers position 10 — so the exact 12-gram scan shares nothing.
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val train = Seq(
      (1L, benchText.replace("kappa", "kilo")),
      (2L, "completely different text about distributed query planning today"),
      // id 100 in TRAIN is unrelated text — train/bench id spaces
      // must stay separate in the output
      (100L, "unrelated content that reuses the benchmark id only")
    ).toDF("doc_id", "text")
    val hits = MinhashDecontam.minhashContamination(train, bench, "doc_id", "text",
      threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hits.map(h => (h._1, h._2)).toSeq == Seq((1L, 100L)), hits.mkString(","))
    assert(hits.head._3 > 0.7 && hits.head._3 < 0.72)
    // the exact scan misses the paraphrase minhash caught
    val exact = graft.llm.Decontam.contaminationReport(train, bench, "doc_id", "text", n = 12)
      .where(col("contaminated")).collect()
    assert(exact.isEmpty, exact.mkString(","))
  }

  test("novelty report: closed-form gram fractions against the store") {
    val store = Seq((10L, "a b c d e")).toDF("doc_id", "text") // grams: abc, bcd, cde
    val docs = Seq(
      (1L, "a b c d e"),      // all 3 grams seen -> 0.0
      (2L, "x y z w"),        // 2 grams, none seen -> 1.0
      (3L, "a b c q r s")     // 1 of 4 grams seen -> 0.75
    ).toDF("doc_id", "text")
    val r = graft.llm.Decontam.noveltyReport(docs, store, "doc_id", "text", n = 3)
      .collect().map(x => x.getLong(0) -> (x.getInt(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r(1L) == ((3, 3L, 0.0)))
    assert(r(2L) == ((2, 0L, 1.0)))
    assert(r(3L) == ((4, 1L, 0.75)))
  }

  test("minhash decontam plans banded equi-joins — no cartesian, no all-pairs") {
    import graft.llm.MinhashDecontam
    val a = Seq((1L, "one two three four five"), (2L, "six seven eight nine ten")).toDF("doc_id", "text")
    val plan = planOf(MinhashDecontam.minhashContamination(a, a, "doc_id", "text"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("bigram LM score: closed-form fixed-point logs; fluent text outranks gibberish") {
    import graft.llm.LangModel
    val ref = Seq((0L, "a b a b")).toDF("doc_id", "text")
    // model: c("a b")=2, c("b a")=1; c(a)=c(b)=2; V=2
    val docs = Seq(
      (1L, "a b"),  // seen bigram: ln((2+1)/(2+2)) = ln(0.75)
      (2L, "c d"),  // unseen history: ln(1/(0+2))
      (3L, "a")     // short-doc rule: whole text, unseen "bigram", seen history
    ).toDF("doc_id", "text")
    val out = LangModel.withLmScore(docs, ref, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    def fp(x: Double): Long = math.floor(math.log(x) * 1e6 + 0.5).toLong
    assert(out(1L) == ((1, fp(3.0 / 4))))
    assert(out(2L) == ((1, fp(1.0 / 2))))
    assert(out(3L) == ((1, fp(1.0 / 4))))
    // fluency ordering: reference-like text scores closer to zero
    assert(out(1L)._2 > out(2L)._2)
  }

  test("KN score: closed-form discount/continuation arithmetic, all four seen/unseen cells") {
    import graft.llm.LangModel
    val ref = Seq((0L, "a b a b")).toDF("doc_id", "text")
    // model: cb("a b")=2, cb("b a")=1; hist a:(c1=2,n1l=1), b:(1,1);
    // cont a:n1r=1, b:n1r=1; T=2, V2=2; Pcont(seen)=2/5, Pcont(unseen)=1/5
    val docs = Seq(
      (1L, "a b"),   // seen bigram:        (max(2-.75,0) + .75*1*(2/5)) / 2 = 0.775
      (2L, "c d"),   // unseen history:     Pcont(d) = 1/5
      (3L, "a"),     // degenerate gram, seen history, unseen bigram:
                     //                     (.75*1*(2/5)) / 2 = 0.15
      (4L, "b c")    // seen history, unseen continuation:
                     //                     (.75*1*(1/5)) / 1 = 0.15
    ).toDF("doc_id", "text")
    val out = LangModel.withKnScore(docs, ref, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    def fp(x: Double): Long = math.floor(math.log(x) * 1e6 + 0.5).toLong
    assert(out(1L) == ((1, fp(0.775))))
    assert(out(2L) == ((1, fp(0.2))))
    assert(out(3L) == ((1, fp(0.15))))
    assert(out(4L) == ((1, fp(0.15))))
    // the KN point vs add-1: the seen bigram prices ABOVE its add-1
    // value (0.775 > 0.75) because the discount recycles mass through
    // the continuation term instead of a flat +V denominator
    assert(out(1L)._2 > fp(3.0 / 4))
  }

  test("trigram KN: closed-form two-level interpolation, every seen/unseen cell") {
    import graft.llm.LangModel
    val ref = Seq((0L, "a b a b")).toDF("doc_id", "text")
    // trigram model: c3("a b a")=1, c3("b a b")=1; hist3 "a b":(1,1),
    // "b a":(1,1); bigram model as in the KN spec above
    val docs = Seq(
      (1L, "a b a"),  // seen trigram, seen history:
                      //   P2(a|b) = (max(1-.75,0)+.75*1*.4)/1 = 0.55
                      //   P3 = (max(1-.75,0)+.75*1*0.55)/1 = 0.6625
      (2L, "c d e"),  // unseen trigram history -> P2(e|d), d unseen -> Pcont = 0.2
      (3L, "a b"),    // degenerate gram, h2="a" unseen -> P2(b|a) = 0.775
      (4L, "b")       // degenerate, w2='' -> P2(b|'') -> Pcont(b) = 0.4
    ).toDF("doc_id", "text")
    val out = LangModel.withKn3Score(docs, ref, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    def fp(x: Double): Long = math.floor(math.log(x) * 1e6 + 0.5).toLong
    assert(out(1L) == ((1, fp(0.6625))))
    assert(out(2L) == ((1, fp(0.2))))
    assert(out(3L) == ((1, fp(0.775))))
    assert(out(4L) == ((1, fp(0.4))))
  }

  test("knBuckets: two-phase range rank matches a driver-side ntile replay, boundary included") {
    import graft.llm.LangModel
    val ref = Seq((0L, "a b a b")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b"), (2L, "c d"), (3L, "a"), (4L, "b c"),
      (5L, "a b a b") // 3 grams, mixed: mean between docs 1 and 2
    ).toDF("doc_id", "text")
    // independent replay: sort the scored docs on (mean desc, id) in
    // the driver and apply ntile-of-3 arithmetic by hand
    val scored = LangModel.withKnScore(docs, ref, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val ordered = scored.sortBy { case (id, nb, lp) => (-(lp.toDouble / nb), id) }
    val n = ordered.length
    val (q, rem) = (n / 3, n % 3)
    val expected = ordered.zipWithIndex.map { case ((id, nb, lp), i) =>
      val r = i + 1L
      val cut = rem * (q + 1)
      val b = if (r <= cut) (r + q) / (q + 1) else rem + (r - cut + q - 1) / q
      (b.toInt, id, nb, lp)
    }.groupBy(_._1).map { case (b, rows) =>
      b -> ((rows.length.toLong, rows.map(_._4).sum, rows.map(_._3.toLong).sum))
    }
    // 5 docs / 3 buckets: sizes 2,2,1 — the uneven-remainder boundary
    assert(expected.view.mapValues(_._1).toMap == Map(1 -> 2L, 2 -> 2L, 3 -> 1L))
    val got = LangModel.knBuckets(docs, ref, "doc_id", "text")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected, s"got $got expected $expected")
  }

  test("ivfQuantTopK: candidates come from probe cells only; quantized cosine ranks by hand-checkable integers") {
    import graft.llm.Ivf
    val corpus = Seq(
      (1L, Array(0.0, 1.0)), (2L, Array(0.1, 0.9)),
      (3L, Array(1.0, 0.0)), (4L, Array(0.9, 0.1))).toDF("vec_id", "embedding")
    val model = Ivf.train(corpus, "embedding", k = 2)
    val probe = Seq((100L, Array(0.0, 0.95))).toDF("vec_id", "embedding")
    val out = Ivf.ivfQuantTopK(corpus, probe, "vec_id", "embedding", model,
      k = 3, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    // nProbe=1 near (0, 0.95): only the {1, 2} cell ever ranks —
    // vectors 3, 4 are pruned, so k=3 returns exactly 2 rows.
    // Quantized: v1 -> (0,127), v2 -> (floor(0.1/0.9*127+.5)=14, 127),
    // probe -> (0,127); cos(q1,qp)=1 > cos(q2,qp)=127/sqrt(14^2+127^2)
    assert(out.toSeq == Seq((100L, 1L, 1), (100L, 2L, 2)), out.mkString(","))
  }

  test("ivfQuantRerankTopK: with candidates covering the cell, rerank == exact float IVF top-k") {
    import graft.llm.Ivf
    val corpus = Seq(
      (1L, Array(0.0, 1.0)), (2L, Array(0.1, 0.9)),
      (3L, Array(1.0, 0.0)), (4L, Array(0.9, 0.1))).toDF("vec_id", "embedding")
    val model = Ivf.train(corpus, "embedding", k = 2)
    val probe = Seq((100L, Array(0.0, 0.95))).toDF("vec_id", "embedding")
    // k*rerankFactor = 4 >= any cell's population, so the quantized
    // stage cannot drop a true candidate and the float rerank must
    // reproduce the exact float IVF answer rank-for-rank
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "neighbor_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val rr = key(Ivf.ivfQuantRerankTopK(corpus, probe, "vec_id", "embedding",
      model, k = 2, nProbe = 1, rerankFactor = 2))
    val exact = key(Ivf.ivfTopK(corpus, probe, "vec_id", "embedding",
      model, k = 2, nProbe = 1))
    assert(rr == exact, s"rerank $rr vs exact $exact")
  }

  test("quality probe: Cramer determinants satisfy A·w = b exactly; separable labels recovered") {
    import graft.llm.QualityProbe
    // y follows x1 (token count) with x2 (marker count) as noise —
    // linearly separable, so the probe must reproduce every label
    val docs = Seq(
      (1L, "a b c d e f g h", 1),    // 8 tokens -> long -> y=1
      (2L, "a b", 0), (3L, "c the", 0), (4L, "the the d", 0),
      (5L, "p q r s t u v w x", 1), (6L, "the b c d e f g h i j", 1)
    ).toDF("doc_id", "text", "y")
    val x1 = QualityProbe.tokenCount("text")
    val x2 = QualityProbe.markerCount("text", "the")
    val p = QualityProbe.trainRidge(docs, x1, x2, col("y") === 1)

    // exact Cramer identity over the fixture's hand-computed sums:
    // A · (det0, det1, det2) == det · b in BigInt, no rounding anywhere
    val rows = docs.select(x1.as("x1"), x2.as("x2"), col("y").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = BigInt(rows.length)
    def S(f: ((Long, Long, Long)) => Long): BigInt = BigInt(rows.map(f).sum)
    val (s1, s2) = (S(_._1), S(_._2))
    val (s11, s12, s22) = (S(r => r._1 * r._1), S(r => r._1 * r._2), S(r => r._2 * r._2))
    val (b0, b1, b2) = (S(_._3), S(r => r._1 * r._3), S(r => r._2 * r._3))
    val (a00, a01, a02, a11, a12, a22) = (n + 1, s1, s2, s11 + 1, s12, s22 + 1)
    assert(a00 * p.det0 + a01 * p.det1 + a02 * p.det2 == p.det * b0)
    assert(a01 * p.det0 + a11 * p.det1 + a12 * p.det2 == p.det * b1)
    assert(a02 * p.det0 + a12 * p.det1 + a22 * p.det2 == p.det * b2)

    // end-to-end: the fitted probe reproduces the separable labels
    val preds = QualityProbe.withScores(docs, "doc_id", x1, x2, p)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(preds == Map(1L -> 1, 2L -> 0, 3L -> 0, 4L -> 0, 5L -> 1, 6L -> 1),
      s"got $preds")

    // refit report on IDENTICAL snapshots: same sums -> same BigInt
    // determinants -> identical weights, so agreement is exactly 1,
    // every drift delta quantizes to 0, and the verdict is no-refit —
    // a refit trigger that fires on no drift would thrash the
    // deployed filter
    val stable = QualityProbe.refitReport(docs, docs, x1, x2, col("y") === 1)
      .collect()(0)
    assert(stable.getLong(1) == stable.getLong(2), s"agreement not total: $stable")
    assert(stable.getDouble(3) == 1.0 && stable.getInt(7) == 0, s"got $stable")
    assert(stable.getLong(4) == 0L && stable.getLong(5) == 0L && stable.getLong(6) == 0L,
      s"nonzero drift on identical snapshots: $stable")

    // and a REAL drift (labels inverted in the fresh window) trips it
    val drifted = QualityProbe.refitReport(docs,
      docs.withColumn("y", lit(1) - col("y")), x1, x2, col("y") === 1)
      .collect()(0)
    assert(drifted.getInt(7) == 1, s"inverted-label drift not flagged: $drifted")
  }

  test("pipeline_incremental drops every planted content-dup and keeps only incoming ids") {
    val out = SparkEntry.queries("pipeline_incremental")(spark, "/root/testdata/sf0.001")
      .collect().map(_.getLong(0))
    assert(out.nonEmpty)
    // the re-id'd (+2000000) rows duplicate store CONTENT — the
    // incremental dedup stage must drop all of them
    assert(!out.exists(_ >= 2000000L), out.filter(_ >= 2000000L).mkString(","))
    // survivors are incoming-batch ids only (doc_id % 5 == 0)
    assert(out.forall(_ % 5 == 0))
  }

  test("repetition stats separate templated from varied documents") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam"),          // one 2-gram repeated 5x
      (2L, "one two three four five six")             // all 2-grams unique
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats("doc_id", "text")(df)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L) == (5L, 1.0, 1.0))   // 5 positions, all the same gram
    assert(out(2L) == (5L, 0.2, 0.0))   // 5 distinct grams, no repeats
  }

  // ===== multimodal =====

  test("binary chunking reassembles to the original content") {
    val df = Seq((1L, "a" * 250), (2L, "xy")).toDF("doc_id", "text")
    val chunked = Multimodal.chunkBinary("content", 100)(
      Multimodal.withBinaryContent("text")(df))
    val counts = chunked.groupBy("doc_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(counts == Map(1L -> 3L, 2L -> 1L))
    val rebuilt = chunked.orderBy("doc_id", "chunk_idx")
      .groupBy("doc_id").agg(concat_ws("", collect_list(decode(col("chunk"), "UTF-8"))).as("re"))
      .join(df, "doc_id")
      .where(col("re") =!= col("text")).count()
    assert(rebuilt == 0)
  }

  test("binary CDC chunks: boundaries are content-defined (shift-invariant) and cover every byte") {
    // deterministic pseudo-random printable payload: 1-byte UTF-8 per
    // char, so encode() gives byte-per-char and overlaps are exact
    def payload(seed: Int, n: Int): String =
      Seq.tabulate(n)(i => (33 + (i * 31 + seed * 17 + (i * i) % 89) % 94).toChar).mkString
    val s = payload(1, 400)
    val df = Seq(
      (1L, s),                       // base
      (2L, payload(9, 37) + s),      // the SAME bytes behind an inserted prefix
      (3L, payload(5, 400)),         // unrelated
      (4L, ""),                      // empty: no rows
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val chunks = Multimodal.binaryCdcChunks("content", "doc_id", divisor = 16, window = 8)(
      Multimodal.withBinaryContent("text")(df))
    val byDoc = chunks.collect().groupBy(_.getLong(0))
    // coverage: chunk byte counts sum to the content length, per doc
    assert(byDoc(1L).map(_.getLong(2)).sum == 400L)
    assert(byDoc(2L).map(_.getLong(2)).sum == 437L)
    // empty and NULL binaries produce no rows
    assert(!byDoc.contains(4L) && !byDoc.contains(5L))
    // shift-invariance (the CDC property vs fixed-size chunking):
    // doc 2 re-aligns after the first boundary past the insertion, so
    // all but the first chunk of doc 1 reappear in doc 2's digest set
    val d1 = byDoc(1L).map(_.getString(1)).toSet
    val d2 = byDoc(2L).map(_.getString(1)).toSet
    assert((d1 -- d2).size <= 1, s"lost ${(d1 -- d2).size} of ${d1.size} chunks")
    assert(d1.size >= 10, s"only ${d1.size} chunks — divisor too coarse for the fixture")
    // and the unrelated doc shares (essentially) nothing
    val d3 = byDoc(3L).map(_.getString(1)).toSet
    assert((d1 & d3).isEmpty)
  }

  test("cdcChunks: native expression == higher-order-function reference, bit-exact") {
    def payload(seed: Int, n: Int): String =
      Seq.tabulate(n)(i => s"w${(i * 31 + seed * 17 + (i * i) % 89) % 57}").mkString(" ")
    val df = Seq(
      payload(1, 200), payload(2, 500),
      "one", "a  b \n c",    // space runs collapse in chunk text
      "", null
    ).zipWithIndex.map(_.swap).toDF("doc_id", "text")
    for (divisor <- Seq(4, 8)) {
      def rows(out: org.apache.spark.sql.DataFrame) =
        out.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
          .sortBy(t => (t._1, t._2, t._3)).toSeq
      val nat = rows(Dedup.cdcChunks(df, "doc_id", "text", divisor))
      val hof = rows(ParityRefs.cdcChunksHof(df, "doc_id", "text", divisor))
      assert(nat == hof, s"divisor=$divisor: native != HOF reference")
      assert(nat.nonEmpty)
    }
  }

  test("withQualityScores: native expression == column-formulation reference, bit-exact") {
    val df = Seq(
      "the quick the quick brown, fox; jumps! over? the lazy: dog.",
      // no empty text here: under ANSI the HOF reference THROWS on it
      // (punct_ratio divides by nChars = 0) — i.e. a corpus with an
      // empty doc could never have gated green, so the native NaN on
      // that input diverges only where the old form had no answer
      "a  b", "the", "x", "夏目 漱石 夏目",
      null
    ).zipWithIndex.map(_.swap).toDF("id", "text")
    val cols = Seq("n_tokens", "ttr", "mean_token_len", "stopword_ratio", "punct_ratio")
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.select("id", cols: _*).collect()
        .map(r => r.getInt(0) -> r.toSeq.map {
          case d: Double if d.isNaN => "NaN" // NaN != NaN under ==
          case v => v
        }).toMap
    val nat = rows(TextAnalysis.withQualityScores("text")(df))
    val hof = rows(ParityRefs.withQualityScoresHof("text")(df))
    assert(nat.keySet == hof.keySet)
    nat.foreach { case (id, v) => assert(v == hof(id), s"id=$id: $v != ${hof(id)}") }
  }

  test("markerCount / withLangId / tokensRegex: native forms == lambda references, bit-exact") {
    val df = Seq(
      "the quick the fox the", "a  b", " the", "the ", "the",
      "table query row row", "spark vector stream spark",
      "thethe the-x x", "夏目 the 漱石", "", "  ", null
    ).zipWithIndex.map(_.swap).toDF("id", "text")
    // markerCount: single-marker native scan vs the filter lambda
    val mc = df.select(col("id"),
      QualityProbe.markerCount("text", "the").as("n"),
      ParityRefs.markerCountHof("text", "the").as("h"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    mc.foreach { case (id, n, h) => assert(n == h, s"id=$id: native $n != HOF $h") }
    // and a marker that can hit the empty tokens of a space run
    val mcEmpty = df.where(col("text").isNotNull).select(col("id"),
      graft.functions.Native.markerCount(col("text"), Seq("")).as("n"),
      size(filter(split(col("text"), " "), t => t === "")).cast("long").as("h"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    mcEmpty.foreach { case (id, n, h) => assert(n == h, s"id=$id (empty marker): $n != $h") }
    // withLangId: per-profile scores AND the argmax label
    val profiles = Seq(
      "en" -> Seq("the", "a"),
      "db" -> Seq("table", "query", "row"),
      "sys" -> Seq("spark", "vector", "stream"))
    val cols = Seq("score_en", "score_db", "score_sys", "lang_pred")
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.select("id", cols: _*).collect().map(r => r.getInt(0) -> r.toSeq).toMap
    val nat = rows(TextAnalysis.withLangId("text", profiles)(df))
    val hof = rows(ParityRefs.withLangIdHof("text", profiles)(df))
    assert(nat.keySet == hof.keySet)
    nat.foreach { case (id, v) => assert(v == hof(id), s"id=$id: $v != ${hof(id)}") }
    // bandHashes: native loop vs the per-band transform lambda, on
    // real minhash signatures and on a short/degenerate array
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text")
    // (128, 32) slices past the 64-long signature's end — pins the
    // short-slice edge (empty band -> hash of '')
    for ((np, nb) <- Seq((64, 16), (64, 8), (8, 4), (128, 32))) {
      val cmp = sigs.select(col("doc_id"),
        Dedup.bandHashes(col("__sig"), np, nb).as("n"),
        ParityRefs.bandHashesHof(col("__sig"), np, nb).as("h"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2)))
      cmp.foreach { case (id, n, h) =>
        assert(n == h, s"doc=$id numPerm=$np bands=$nb: native $n != HOF $h") }
    }
    // tokensRegex: array_remove rewrite vs the filter lambda
    val tr = Seq("Doc, text #42 (sample)!", "--", "a-b_c d", "", "一 two3", null)
      .zipWithIndex.map(_.swap).toDF("id", "text")
      .select(col("id"),
        TextAnalysis.tokensRegex(col("text")).as("n"),
        ParityRefs.tokensRegexHof(col("text")).as("h"))
      .collect().map(r => (r.getInt(0), r.getSeq[String](1), r.getSeq[String](2)))
    tr.foreach { case (id, n, h) => assert(n == h, s"id=$id: $n != $h") }
  }

  test("blocklistScan / BLOCKLIST FILTER / bag fingerprint: native forms == references, bit-exact") {
    // texts exercising: case-folded hits, repeats (hits > terms),
    // duplicate blocklist entries, multi-byte uppercase (the
    // UTF8String.toLowerCase slow path), tokens at string ends,
    // space runs (empty tokens), empty text, null text
    val df = Seq(
      "SLOW road slow Slow", "the quick fox", "slow", " slow", "slow ",
      "a  slow  b", "ÉCLAIR junk éclair", "İSTANBUL", "junkx xjunk junk,",
      "", "  ", null
    ).zipWithIndex.map(_.swap).toDF("doc_id", "text")
    val terms = Seq("slow", "SLOW", "junk", "éclair") // dup after lowering
    val cols = Seq("n_blocklist_hits", "n_blocklist_terms", "frac_blocklist", "flagged")
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.select("doc_id", cols: _*).collect()
        .map(r => r.getInt(0) -> r.toSeq.map {
          case d: Double if d.isNaN => "NaN"
          case v => v
        }).toMap
    val nat = rows(TextAnalysis.blocklistScan("doc_id", "text", terms)(df))
    val hof = rows(ParityRefs.blocklistScanHof("doc_id", "text", terms)(df))
    assert(nat.keySet == hof.keySet)
    nat.foreach { case (id, v) => assert(v == hof(id), s"id=$id: $v != ${hof(id)}") }
    // spot-pin the definitions, not just parity: "SLOW road slow Slow"
    // = 3 hits of 1 distinct term; dup terms collapse
    assert(nat(0) == Seq(0, 3, 1, 0.75, true), s"got ${nat(0)}")
    assert(nat(7) == Seq(7, 0, 0, 0.0, false), s"İSTANBUL is no term: ${nat(7)}")

    // the curation-stage filter: native n_hits === 0 keeps exactly the
    // rows the HOF !arrays_overlap predicate kept — including NULL
    // text (coalesced → kept, never silently dropped)
    import graft.llm.CurationPipeline
    val kept = CurationPipeline.applyStage(df,
        CurationPipeline.Stage("BLOCKLIST FILTER", Map("terms" -> "slow,junk")),
        "doc_id", "text", None)
      .collect().map(_.getInt(0)).toSet
    val keptHof = df.where(!ParityRefs.blocklistHitHof("text", Seq("slow", "junk")))
      .collect().map(_.getInt(0)).toSet
    assert(kept == keptHof, s"native kept $kept != HOF kept $keptHof")
    assert(kept.contains(11), "NULL-text row must be kept by the total predicate")

    // bag fingerprint: sort_array swap == array_sort reference on
    // unicode / empty-token / duplicate-token bags
    val bf = TextAnalysis.withBagFingerprint("text")(
        ParityRefs.withBagFingerprintHof("text", "ref")(df))
      .select("doc_id", "bag_fingerprint", "ref")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    bf.foreach { case (id, n, h) => assert(n == h, s"id=$id: $n != $h") }
  }

  test("bpe token count / token windows: native + lambda-free forms == references, bit-exact") {
    val df = Seq(
      "table row table query", "t a", "aaa", "query stream vector table",
      "a  b", " x", "x ", "一 table 二", "", "  ", null
    ).zipWithIndex.map(_.swap).toDF("doc_id", "text")
    // bpe count: whole-document native scan vs per-word lambda +
    // aggregate fold, under the standard fixture merges (incl. the
    // repeat-merge left-to-right edge "aaa") and a trained-style
    // single-char table
    for (merges <- Seq(QueryHelpers.bpeMerges, Seq("a" -> "a"))) {
      def rows(out: org.apache.spark.sql.DataFrame) =
        out.select("doc_id", "n_tokens_ws", "n_tokens_bpe", "fertility")
          .collect().map(r => r.getInt(0) -> r.toSeq.map {
            case d: Double if d.isNaN => "NaN"
            case v => v
          }).toMap
      val nat = rows(TextAnalysis.withBpeTokenCount("text", merges)(df))
      val hof = rows(ParityRefs.withBpeTokenCountHof("text", merges)(df))
      assert(nat.keySet == hof.keySet)
      nat.foreach { case (id, v) =>
        assert(v == hof(id), s"id=$id merges=$merges: $v != ${hof(id)}") }
    }
    // token windows: slice-after-generate vs transform-lambda, across
    // overlapping and non-overlapping strides and the short-tail edge
    for ((win, stride) <- Seq((3, 2), (2, 2), (4, 1), (1, 1))) {
      def rows(out: org.apache.spark.sql.DataFrame) =
        out.collect().map(r =>
          (r.getInt(0), r.getInt(1), r.getString(2), r.getInt(3))).sorted.toSeq
      val nat = rows(TextAnalysis.tokenWindows("doc_id", "text", win, stride)(df))
      val hof = rows(ParityRefs.tokenWindowsHof("doc_id", "text", win, stride)(df))
      assert(nat == hof, s"($win,$stride): $nat != $hof")
    }
  }

  test("withGopherSignals: native expression == column-formulation reference, bit-exact") {
    val passing = (1 to 60).map(i => s"word${i % 9} the be to").mkString(" ")
    val df = Seq(
      passing,                                   // passes every rule
      "short doc",                               // n_words fail
      "- bullet\n* another\n• third\nplain",     // bullet lines
      "ends...\nalso…\nnot",                     // ellipsis lines
      "x ## y ... z ...... w",                   // symbols: hashes + ellipses
      "THE The tHe the",                         // distinct-lower stopword collapse
      "夏目 漱石 こころ",                          // no-alpha words, multi-byte
      "a  b \n\n c",                             // empty words/lines
      "", null
    ).zipWithIndex.map(_.swap).toDF("id", "text")
    val cols = Seq("n_words", "mean_word_len", "frac_alpha_words", "symbol_ratio",
      "frac_bullet_lines", "frac_ellipsis_lines", "n_stopwords_present", "passes_gopher")
    val nat = TextAnalysis.withGopherSignals("text")(df)
      .select("id", cols: _*).collect().map(r => r.getInt(0) -> r.toSeq).toMap
    val hof = ParityRefs.withGopherSignalsHof("text")(df)
      .select("id", cols: _*).collect().map(r => r.getInt(0) -> r.toSeq).toMap
    assert(nat.keySet == hof.keySet)
    nat.foreach { case (id, v) =>
      assert(v == hof(id), s"id=$id: native $v != HOF ${hof(id)}")
    }
    // and with a CUSTOM stopword list (the probe-teacher call shape)
    val nat2 = TextAnalysis.withGopherSignals("text", Seq("the", "a"))(df)
      .select("id", cols: _*).collect().map(r => r.getInt(0) -> r.toSeq).toMap
    val hof2 = ParityRefs.withGopherSignalsHof("text", Seq("the", "a"))(df)
      .select("id", cols: _*).collect().map(r => r.getInt(0) -> r.toSeq).toMap
    nat2.foreach { case (id, v) =>
      assert(v == hof2(id), s"id=$id custom stopwords: native $v != HOF ${hof2(id)}")
    }
  }

  test("shinglesOf: native expression == higher-order-function reference, bit-exact") {
    // edges: double/leading/trailing spaces (empty words are words),
    // fewer words than k, exactly k, empty text, NULL, multi-byte
    // chars (byte-level space scan must not split inside a sequence)
    val df = Seq(
      "the quick brown fox jumps",
      "a  b c",          // empty middle word
      " lead", "trail ", // empty edge words
      "one two", "x", "",
      "夏目 漱石 こころ 先生",
      null
    ).zipWithIndex.map(_.swap).toDF("id", "text")
    for (k <- Seq(1, 2, 3, 5)) {
      val rows = df.select(col("id"),
          graft.llm.Dedup.shinglesOf(col("text"), k).as("nat"),
          ParityRefs.shinglesOfHof(col("text"), k).as("hof"))
        .collect()
      rows.foreach { r =>
        assert(r.isNullAt(1) == r.isNullAt(2), s"id=${r.getInt(0)} k=$k null mismatch")
        if (!r.isNullAt(1))
          assert(r.getSeq[String](1) == r.getSeq[String](2),
            s"id=${r.getInt(0)} k=$k: native ${r.getSeq[String](1)} != HOF ${r.getSeq[String](2)}")
      }
    }
  }

  test("binaryCdcChunks: native expression == higher-order-function reference, bit-exact") {
    // arbitrary bytes spanning the full 0-255 range (not just UTF-8
    // text), plus the window edges: shorter-than-window, exactly
    // window, empty, NULL. The native graft_cdc_md5 loop replaced the
    // per-byte interpreted HOF formulation in r18 — this pin is the
    // proof the swap changed cost only, never a boundary or a digest.
    def bytes(seed: Int, n: Int): Array[Byte] =
      Array.tabulate(n)(i => ((i * 31 + seed * 17 + (i * i) % 89) % 256).toByte)
    val df = Seq(
      (1L, bytes(1, 400)),
      (2L, bytes(2, 1200)),
      (3L, bytes(3, 7)),
      (4L, bytes(4, 8)),
      (5L, Array.empty[Byte]),
      (6L, null.asInstanceOf[Array[Byte]])
    ).toDF("doc_id", "content")
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2, t._3)).toSeq
    for ((div, win) <- Seq((16, 8), (4, 3), (32, 8))) {
      val native = rows(Multimodal.binaryCdcChunks("content", "doc_id", div, win)(df))
      val hof = rows(ParityRefs.binaryCdcChunksHof("content", "doc_id", div, win)(df))
      assert(native == hof, s"divisor=$div window=$win: native != HOF reference")
      assert(native.nonEmpty)
    }
  }

  test("binaryNearDupPairs: inverted index pairs byte-overlapped rows; the df cap drops boilerplate") {
    def payload(seed: Int, n: Int): String =
      Seq.tabulate(n)(i => (33 + (i * 29 + seed * 13 + (i * i) % 83) % 94).toChar).mkString
    val boiler = payload(7, 120)                 // shared codec-preamble stand-in
    val a = payload(1, 400)
    val df = Seq(
      (1L, boiler + a),
      (2L, boiler + payload(2, 40) + a),         // near-dup of 1 (patched header)
      (3L, boiler + payload(3, 400)),            // shares ONLY the boilerplate with 1/2
      (4L, boiler + payload(4, 400))
    ).toDF("doc_id", "text")
    def pairs(cap: Long) = Multimodal.binaryNearDupPairs(
      "content", "doc_id", minJaccard = 0.3, divisor = 16, window = 8,
      maxDocFreq = cap)(Multimodal.withBinaryContent("text")(df))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // uncapped: (1,2) is the only pair over theta — boilerplate alone
    // (120 of ~520 bytes) stays under jaccard 0.3
    assert(pairs(1000L) == Set((1L, 2L)), s"got ${pairs(1000L)}")
    // cap 3: the boilerplate chunks (df = 4 > 3) leave the posting
    // list; the true near-dup pair survives on its content overlap
    assert(pairs(3L) == Set((1L, 2L)), s"got ${pairs(3L)}")
    // coverage face: every row shares the boilerplate -> nonzero
    // coverage everywhere; identical fraction semantics pin zero-fill
    val cov = Multimodal.binaryDupCoverage("content", "doc_id", divisor = 16, window = 8)(
      Multimodal.withBinaryContent("text")(
        df.unionByName(Seq((9L, "")).toDF("doc_id", "text"))))
      .collect().map(r => r.getLong(0) -> r.getDouble(5)).toMap
    assert(cov(9L) == 0.0)                       // empty row zero-filled
    Seq(1L, 2L, 3L, 4L).foreach(id => assert(cov(id) > 0.0, s"doc $id: ${cov(id)}"))
    assert(cov(1L) > cov(3L), s"near-dup ${cov(1L)} should out-cover boiler-only ${cov(3L)}")
  }

  test("binary near-dup faces: keep-lowest, transitive clusters, incremental ingest") {
    def payload(seed: Int, n: Int): String =
      Seq.tabulate(n)(i => (33 + (i * 37 + seed * 11 + (i * i) % 71) % 94).toChar).mkString
    val (p1, p2, p3, p4) = (payload(1, 300), payload(2, 300), payload(3, 300), payload(4, 300))
    // a chain: 1~2 share p2, 2~3 share p3, 1 and 3 share nothing
    val df = Seq(
      (1L, p1 + p2), (2L, p2 + p3), (3L, p3 + p4), (4L, payload(9, 600))
    ).toDF("doc_id", "text")
    def bin(d: org.apache.spark.sql.DataFrame) = Multimodal.withBinaryContent("text")(d)
    val theta = 0.25

    // keep-lowest: pairs (1,2) and (2,3) drop ids 2 and 3
    val kept = Multimodal.binaryNearDedup("content", "doc_id", theta,
      divisor = 16, window = 8)(bin(df)).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L), s"got $kept")

    // transitive clusters: the chain collapses to one component, min 1
    val clusters = Multimodal.binaryNearDupClusters("content", "doc_id", theta,
      divisor = 16, window = 8)(bin(df))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"got $clusters")

    // incremental: 11 dups the store; 12/13 dup each other (keep 12);
    // 14 is novel
    val store = Seq((1L, p1 + p2)).toDF("doc_id", "text")
    val batch = Seq(
      (11L, p1 + p2), (12L, p3 + p4), (13L, p3 + p4 + payload(5, 40)),
      (14L, payload(6, 600))
    ).toDF("doc_id", "text")
    val ingested = Multimodal.binaryIncrementalNearDup("content", "doc_id", theta,
      divisor = 16, window = 8)(bin(batch), bin(store)).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ingested == Set(12L, 14L), s"got $ingested")

    // idempotence: re-offering the ingested rows against a store that
    // now contains them drops everything
    val store2 = store.unionByName(
      batch.where(col("doc_id").isin(12L, 14L)))
    val again = Multimodal.binaryIncrementalNearDup("content", "doc_id", theta,
      divisor = 16, window = 8)(
      bin(batch.where(col("doc_id").isin(12L, 14L))
        .withColumn("doc_id", col("doc_id") + 100L)), bin(store2))
    assert(again.count() == 0L, again.collect().mkString(","))
  }

  test("binary chunk index: indexed ingest == re-chunk ingest, delta-append idempotent") {
    def payload(seed: Int, n: Int): String =
      Seq.tabulate(n)(i => (33 + (i * 41 + seed * 13 + (i * i) % 67) % 94).toChar).mkString
    val (p1, p2, p3, p4) = (payload(1, 300), payload(2, 300), payload(3, 300), payload(4, 300))
    val store = Seq((1L, p1 + p2)).toDF("doc_id", "text")
    val batch = Seq(
      (11L, p1 + p2),                              // store near-dup -> drops
      (12L, p3 + p4), (13L, p3 + p4 + payload(5, 40)), // mutual near-dups -> keep 12
      (14L, payload(6, 600))                       // novel
    ).toDF("doc_id", "text")
    def bin(d: org.apache.spark.sql.DataFrame) = Multimodal.withBinaryContent("text")(d)
    val theta = 0.25

    // the index IS the store's distinct (id, digest) table: ingesting
    // through it must equal re-chunking the store, row for row
    val index = Multimodal.binaryChunkIndex("content", "doc_id",
      divisor = 16, window = 8)(bin(store))
    val viaIndex = Multimodal.binaryIncrementalNearDupIndexed("content", "doc_id", theta,
      divisor = 16, window = 8)(bin(batch), index)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaRechunk = Multimodal.binaryIncrementalNearDup("content", "doc_id", theta,
      divisor = 16, window = 8)(bin(batch), bin(store))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaIndex == viaRechunk && viaIndex == Set(12L, 14L), s"$viaIndex vs $viaRechunk")

    // maintenance delta: chunk rows for NEW ids only; appending it
    // yields binaryChunkIndex(store ∪ batch); re-offering the same
    // batch against the grown index yields an EMPTY delta (idempotent)
    val delta = Multimodal.ingestBinaryChunkIndex("content", "doc_id",
      divisor = 16, window = 8)(bin(batch), index)
    val grown = index.unionByName(delta)
    val rebuilt = Multimodal.binaryChunkIndex("content", "doc_id",
      divisor = 16, window = 8)(bin(store.unionByName(batch)))
    assert(grown.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(grown).isEmpty,
      "appended index != rebuilt index")
    val again = Multimodal.ingestBinaryChunkIndex("content", "doc_id",
      divisor = 16, window = 8)(bin(batch), grown)
    assert(again.isEmpty, again.collect().mkString(","))
  }

  test("BPE trainer: matches an independent in-memory trainer; trained table compresses") {
    import graft.llm.TextAnalysis
    // repeated morphology so merges are meaningful: 'th', 'the', 'at'
    // families dominate; the duplicate rows weight the pair counts
    val texts = Seq(
      "the cat sat on the mat", "the cat ate the rat",
      "that hat is the fat cat hat", "the cat sat on the mat",
      "rats chase the fat cat")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val k = 6
    val merges = TextAnalysis.trainBpeMerges("text", nMerges = k)(docs)

    // independent trainer: word-count table, per-iteration pair count
    // (every adjacent occurrence, weighted), argmax with the same
    // (freq desc, pair asc) tie-break, INCREMENTAL leftmost-greedy
    // apply — also pinning the classic equivalence between
    // incremental application and the encoder's full rank loop
    def refTrain(k: Int, minFreq: Long): Seq[(Int, String, String, Long)] = {
      val wc = texts.flatMap(_.split(" ")).filter(_.length >= 2)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      var seqs: Map[String, Array[String]] =
        wc.keysIterator.map(w => w -> w.toCharArray.map(_.toString)).toMap
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      var stop = false
      while (!stop && out.length < k) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        seqs.foreach { case (w, p) =>
          (0 until p.length - 1).foreach { j =>
            counts((p(j), p(j + 1))) = counts.getOrElse((p(j), p(j + 1)), 0L) + wc(w)
          }
        }
        if (counts.isEmpty) stop = true
        else {
          val (pair, freq) = counts.toSeq
            .sortBy { case ((a, b), f) => (-f, a, b) }.head
          if (freq < minFreq) stop = true
          else {
            out += ((out.length, pair._1, pair._2, freq))
            seqs = seqs.map { case (w, p) =>
              val b = Array.newBuilder[String]
              var j = 0
              while (j < p.length) {
                if (j < p.length - 1 && p(j) == pair._1 && p(j + 1) == pair._2) {
                  b += p(j) + p(j + 1); j += 2
                } else { b += p(j); j += 1 }
              }
              w -> b.result()
            }
          }
        }
      }
      out.toSeq
    }
    val ref = refTrain(k, 2L)
    assert(merges.map(m => (m.rank, m.lhs, m.rhs, m.freq)) == ref,
      s"trainer ${merges.mkString(";")} vs ref ${ref.mkString(";")}")
    assert(merges.nonEmpty && merges.head.freq >= merges.last.freq)

    // the trained table must COMPRESS: encoding under it yields fewer
    // tokens than the untrained (char-level) count on every doc
    val trained = TextAnalysis.withBpeTokenCount("text",
      merges.map(m => (m.lhs, m.rhs)))(docs)
      .select("doc_id", "n_tokens_bpe")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val chars = texts.zipWithIndex
      .map { case (t, i) => i.toLong -> t.split(" ").map(_.length).sum }.toMap
    chars.foreach { case (id, n) =>
      assert(trained(id) < n, s"doc $id: trained ${trained(id)} !< char count $n")
    }
  }

  test("gear CDC: shift invariance, exhaustive chunks, independent replay, sane lengths") {
    import graft.llm.Multimodal
    val rnd = new scala.util.Random(4242)
    def randBytes(n: Int): Array[Byte] = { val b = new Array[Byte](n); rnd.nextBytes(b); b }
    val content = randBytes(4096)
    val prefix = randBytes(137)
    val (divisor, window) = (64, 8)
    def chunksOf(rows: Seq[(Long, Array[Byte])]): Map[Long, Seq[(String, Long)]] =
      Multimodal.binaryCdcChunksGear("content", "doc_id", divisor, window)(
        rows.toDF("doc_id", "content"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .groupBy(_._1).map { case (k, v) => k -> v.map(t => (t._2, t._3)).toSeq }

    val got = chunksOf(Seq(
      (1L, content), (2L, prefix ++ content), (3L, Array.empty[Byte])))

    // exhaustive: chunk lengths reassemble the content exactly
    assert(got(1L).map(_._2).sum == content.length.toLong)
    assert(got(2L).map(_._2).sum == (prefix.length + content.length).toLong)
    assert(!got.contains(3L), "empty binary must produce no chunk rows")
    // sane lengths: expected chunk = 64 bytes (maskBits 6) on random
    // bytes — count within a loose 2x band either way
    assert(got(1L).length >= 32 && got(1L).length <= 128, s"${got(1L).length} chunks")

    // SHIFT INVARIANCE — the property that makes CDC a dedup
    // substrate: prepending 137 bytes must leave all but the first
    // few chunks identical (boundaries resynchronize once the 64-byte
    // gear window clears the splice)
    val a = got(1L).map(_._1)
    val b = got(2L).map(_._1)
    val common = a.reverse.zip(b.reverse).takeWhile { case (x, y) => x == y }.length
    assert(common >= a.length - 3,
      s"only $common of ${a.length} chunks survived a prefix shift")
    assert(common < b.length, "prefix region cannot be chunk-identical")

    // independent in-spec replay of the whole construction (splitmix64
    // table, FastCDC mask, warm-up floor, raw-byte md5) — the
    // generative pin standing in for the SQL oracle this hash has none
    def replay(bytes: Array[Byte]): Seq[(String, Long)] = {
      def splitmix64(x0: Long): Long = {
        var x = x0 + 0x9E3779B97F4A7C15L
        x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
        x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
        x ^ (x >>> 31)
      }
      val gear = Array.tabulate(256)(i => splitmix64(i.toLong))
      val maskBits = 64 - java.lang.Long.numberOfLeadingZeros(divisor.toLong - 1)
      val mask = ((1L << maskBits) - 1) << 16
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      var h = 0L; var start = 0
      def emit(until: Int): Unit = {
        val md = java.security.MessageDigest.getInstance("MD5")
        md.update(bytes, start, until - start)
        out += ((md.digest().map("%02x".format(_)).mkString, (until - start).toLong))
        start = until
      }
      bytes.indices.foreach { i =>
        h = (h << 1) + gear(bytes(i) & 0xFF)
        if (i + 1 >= window && (h & mask) == 0L) emit(i + 1)
      }
      if (start < bytes.length) emit(bytes.length)
      out.toSeq
    }
    assert(got(1L) == replay(content), "native gear != independent replay")
    assert(got(2L) == replay(prefix ++ content))
  }

  test("gear pipeline end-to-end: planted near-dups surface through a gear-built index") {
    import graft.llm.Multimodal
    val rnd = new scala.util.Random(777)
    def randBytes(n: Int): Array[Byte] = { val b = new Array[Byte](n); rnd.nextBytes(b); b }
    val shared = randBytes(3000)
    val hdrA = randBytes(64); val hdrB = randBytes(200)
    val other = randBytes(3000)
    // 1 and 2 are the same payload under different headers (the
    // re-encoded-container case); 3 is unrelated
    val df = Seq(
      (1L, hdrA ++ shared), (2L, hdrB ++ shared), (3L, hdrA ++ other)
    ).toDF("doc_id", "content")
    // production shape: gear-chunk the corpus into the index once,
    // then run the boundary-agnostic pair engine over the index
    val gearIndex = Multimodal.binaryCdcChunksGear("content", "doc_id",
      divisor = 64, window = 8)(df)
      .groupBy(col("doc_id"), col("chunk_md5"))
      .agg(max(col("n_bytes")).as("n_bytes"))
    val pairs = Multimodal.binaryNearDupPairsIndexed("doc_id",
      minJaccard = 0.3)(gearIndex)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(pairs.map(t => (t._1, t._2)).toSet == Set((1L, 2L)),
      s"got ${pairs.mkString(",")}")
    // shift invariance does the work: the differing headers cost at
    // most the chunks they land in, so jaccard stays high
    assert(pairs.head._3 > 0.7, s"jaccard ${pairs.head._3}")
    // and the md5-face index through the same engine agrees on WHICH
    // pair (boundaries differ, the verdict must not)
    val md5Index = Multimodal.binaryChunkIndex("content", "doc_id",
      divisor = 64, window = 8)(df)
    val pairsMd5 = Multimodal.binaryNearDupPairsIndexed("doc_id",
      minJaccard = 0.3)(md5Index)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsMd5 == Set((1L, 2L)), s"got $pairsMd5")
  }

  private def unhexBytes(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  test("image header parse: real PNG / JPEG / GIF byte layouts") {
    // PNG, 320x240: signature + IHDR exactly as the spec lays it out
    val png = unhexBytes(
      "89504E470D0A1A0A" + "0000000D49484452" + "00000140" + "000000F0" +
        "0806000000" + "00000000")
    // progressive JPEG (SOF2) with an EXIF APP1 and a DQT segment
    // BEFORE the frame header — the walk must skip both. 256 tall,
    // 512 wide (SOF stores height first).
    val jpeg = unhexBytes(
      "FFD8" +
        "FFE1000C457869660000AABBCCDD" + // APP1 len 12: "Exif\0\0" + 4 junk
        "FFDB0005AABBCC" +               // DQT len 5
        "FFC2000B" + "08" + "0100" + "0200" + "01" + "012200" + // SOF2 len 11
        "FFD9")
    val gif = unhexBytes("474946383961" + "0A00" + "1400" + "F70000")
    val junk = "definitely not an image".getBytes("UTF-8")
    val truncated = unhexBytes("FFD8FFE1") // dies mid-segment
    val sosFirst = unhexBytes("FFD8FFDA0002")
    // stream ends inside FF fill bytes: the marker walk must return
    // null, not read past the buffer (round-5 advisor finding)
    val trailingFF = unhexBytes("FFD8FFFF")
    val df = Seq(
      (1L, png), (2L, jpeg), (3L, gif), (4L, junk), (5L, truncated), (6L, sosFirst),
      (7L, trailingFF)
    ).toDF("id", "content")
    val out = Multimodal.withImageMeta("content")(df)
      .select(col("id"), col("media_meta.format"), col("media_meta.width"),
        col("media_meta.height"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else (r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) == ("png", 320, 240))
    assert(out(2L) == ("jpeg", 512, 256))
    assert(out(3L) == ("gif", 10, 20))
    assert(out(4L) == null)
    assert(out(5L) == null)
    assert(out(6L) == null)
    assert(out(7L) == null)
  }

  test("synthesized media fixture round-trips through the real parser") {
    // odd JPEG ids (1, 2101) take the baseline APP0+COM+SOF0 shape;
    // even ones (4, 1006) the APP1/EXIF + progressive SOF2 shape —
    // both at variable offsets (pad = id%37+1)
    val df = Seq((0L, "t0"), (1L, "t1"), (2L, "t2"), (4L, "t3"), (300L, "t4"),
        (1006L, "t5"), (2101L, "t6"))
      .toDF("doc_id", "text")
      .withColumn("content", Multimodal.synthMediaContent(col("doc_id"), col("text")))
    val out = Multimodal.withImageMeta("content")(df)
      .select(col("doc_id"), col("media_meta.format"), col("media_meta.width"),
        col("media_meta.height"), octet_length(col("content")).as("n"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else (r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(0L) == ("png", 16, 16))
    assert(out(1L) == ("jpeg", 17, 17))
    assert(out(2L) == null) // raw text branch
    assert(out(4L) == ("jpeg", 20, 20)) // EXIF/SOF2 branch
    assert(out(300L) == ("png", 316, 316))
    assert(out(1006L) == ("jpeg", 1006 % 1913 + 16, 1006 % 1061 + 16))
    assert(out(2101L) == ("jpeg", 188 + 16, 2101 % 1061 + 16))
    // byte lengths match the oracle's closed form: baseline 46+id%37,
    // EXIF 34+id%37
    val lens = Multimodal.withImageMeta("content")(df)
      .select(col("doc_id"), octet_length(col("content")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(lens(1L) == 46 + 1 % 37)
    assert(lens(4L) == 34 + 4 % 37)
    assert(lens(2101L) == 46 + 2101 % 37)
    assert(lens(1006L) == 34 + 1006 % 37)
  }

  test("WAV header parse: chunk walk, odd-size pads, malformed streams") {
    // canonical PCM WAV: fmt then data; 2ch, 44100 Hz, 16-bit, 2 frames
    val fmtData = "666D7420" + "10000000" + "0100" + "0200" + "44AC0000" +
      "10B10200" + "0400" + "1000" +
      "64617461" + "08000000" + "00" * 8
    val wav = unhexBytes("52494646" + "24000000" + "57415645" + fmtData)
    // LIST chunk of ODD size 3 (pad byte follows) before fmt
    val wavList = unhexBytes("52494646" + "2C000000" + "57415645" +
      "4C495354" + "03000000" + "202020" + "00" + fmtData)
    val notRiff = "not audio content".getBytes("UTF-8")
    val riffNotWave = unhexBytes("52494646" + "24000000" + "57415648")
    val truncated = unhexBytes("52494646" + "24000000" + "57415645" + "666D7420" + "10000000" + "0100")
    val df = Seq((1L, wav), (2L, wavList), (3L, notRiff), (4L, riffNotWave), (5L, truncated))
      .toDF("id", "content")
    val out = Multimodal.withAudioMeta("content")(df)
      .select(col("id"), col("audio_meta.format"), col("audio_meta.channels"),
        col("audio_meta.sample_rate"), col("audio_meta.bits_per_sample"),
        col("audio_meta.n_frames"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null
         else (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(5)))).toMap
    assert(out(1L) == ("wav", 2, 44100, 16, 2L))
    assert(out(2L) == ("wav", 2, 44100, 16, 2L)) // LIST skipped, pad honored
    assert(out(3L) == null && out(4L) == null && out(5L) == null)
  }

  test("synthesized WAV fixture round-trips through the real parser") {
    val df = Seq((0L, "t0"), (1L, "t1"), (2L, "t2"), (4L, "t3"), (12L, "t4"), (499L, "t5"))
      .toDF("doc_id", "text")
      .withColumn("content", Multimodal.synthAudioContent(col("doc_id"), col("text")))
    val out = Multimodal.withAudioMeta("content")(df)
      .select(col("doc_id"), col("audio_meta.channels"), col("audio_meta.sample_rate"),
        col("audio_meta.bits_per_sample"), col("audio_meta.n_frames"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else (r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4)))).toMap
    assert(out(0L) == (2, 8000, 8, 1L))     // LIST present (0 % 4 == 0)
    assert(out(2L) == (1, 12000, 8, 3L))
    assert(out(4L) == (1, 16000, 16, 5L))   // LIST with odd size 5 + pad
    assert(out(12L) == (2, 12000, 16, 13L)) // LIST with even size 4
    assert(out(1L) == null && out(499L) == null) // text branch
  }

  test("synthesized MP4 fixture round-trips through the real box walk (v0 and v1 mvhd)") {
    val df = Seq((0L, "t0"), (2L, "t1"), (4L, "t2"), (6L, "t3"), (88L, "t4"), (1L, "t5"), (977L, "t6"))
      .toDF("doc_id", "text")
      .withColumn("content", Multimodal.synthVideoContent(col("doc_id"), col("text")))
    val out = Multimodal.withVideoMeta("content")(df)
      .select(col("doc_id"), col("video_meta.format"), col("video_meta.brand"),
        col("video_meta.timescale"), col("video_meta.duration"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null
         else (r.getString(1), r.getString(2), r.getInt(3), r.getLong(4)))).toMap
    def expected(id: Long) = ("mp4", "isom", (id % 977 + 1000).toInt, (id % 89 + 1) * (id % 977 + 1000))
    assert(out(0L) == expected(0L))   // mvhd v0
    assert(out(2L) == expected(2L))   // mvhd v1 (64-bit duration)
    assert(out(4L) == expected(4L))
    assert(out(6L) == expected(6L))
    assert(out(88L) == expected(88L)) // max whole-second duration branch
    assert(out(1L) == null && out(977L) == null) // text branch
  }

  test("mp4 probe rejects corrupt and foreign bytes loudly (null, not wrong)") {
    val cases = Seq(
      ("truncated_ftyp", "0000001466747970"),              // size says 20, only 8 present
      ("size_lt_8", "00000004667479706973"),               // box size 4 < header
      ("wav_bytes", "524946460800000057415645"),           // RIFF, not BMFF
      ("no_moov", "000000106674797069736F6D00000200"),     // ftyp only, no mvhd
      // valid ftyp, then a moov whose only child is an 8-byte 'mvhd'
      // ending AT the buffer edge — the version byte sits one past the
      // end, which must read as null, never AIOOBE
      ("mvhd_8_bytes_at_eof",
        "000000106674797069736F6D00000200" + "000000106D6F6F76" + "000000086D766864")
    ).toDF("name", "hx")
    val out = cases.select(col("name"),
        graft.functions.Native.videoMeta(unhex(col("hx"))).as("m"))
      .collect().map(r => r.getString(0) -> r.isNullAt(1)).toMap
    assert(out.values.forall(identity), s"expected all null, got $out")
  }

  test("image probe nulls degenerate zero dimensions in every format, like the PNG branch") {
    val cases = Seq(
      ("gif_zero_width", "474946383961" + "0000" + "0100"), // GIF89a, w=0 h=1
      ("jpeg_zero_height", "FFD8" + "FFC0" + "000B" + "08" + "0000" + "0010") // SOF h=0 (DNL case)
    ).toDF("name", "hx")
    val out = cases.select(col("name"),
        graft.functions.Native.imageMeta(unhex(col("hx"))).as("m"))
      .collect().map(r => r.getString(0) -> r.isNullAt(1)).toMap
    assert(out.values.forall(identity), s"expected all null, got $out")
  }

  test("binaryFile source feeds the multimodal pipeline (real media ingest path)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_media")
    val payload = Array.tabulate[Byte](300)(i => (i % 251).toByte)
    java.nio.file.Files.write(dir.resolve("img_001.bin"), payload)
    val media = spark.read.format("binaryFile").load(dir.toString)
      .select(col("path"), col("content"))
    val meta = Multimodal.withBinaryMeta("content")(media).collect().head
    assert(meta.getAs[Int]("n_bytes") == 300)
    assert(meta.getAs[String]("content_sha256").length == 64)
    val chunks = Multimodal.chunkBinary("content", 128)(media)
    assert(chunks.count() == 3) // 128 + 128 + 44
    val rebuilt = chunks.orderBy("chunk_idx")
      .agg(sum(octet_length(col("chunk")))).collect().head.getLong(0)
    assert(rebuilt == 300)
  }

  test("byte stats compute exact histogram statistics and entropy") {
    val df = Seq((1L, "aabb"), (2L, "aaaa"), (3L, "")).toDF("id", "text")
    val out = Multimodal.withByteStats("content")(
      Multimodal.withBinaryContent("text")(df))
      .select(col("id"), col("byte_stats.*")).collect()
      .map(r => r.getLong(0) -> r).toMap
    val ab = out(1L)
    assert(ab.getAs[Int]("n_bytes") == 4)
    assert(ab.getAs[Int]("n_distinct") == 2)
    assert(ab.getAs[Long]("byte_sum") == 97L * 2 + 98L * 2)
    assert(ab.getAs[Int]("n_printable") == 4)
    assert(math.abs(ab.getAs[Double]("entropy") - 1.0) < 1e-12) // two equiprobable symbols
    assert(out(2L).getAs[Double]("entropy") == 0.0) // one symbol
    assert(out(3L).getAs[Int]("n_bytes") == 0 && out(3L).getAs[Double]("entropy") == 0.0)
  }

  test("byte histogram is a normalized per-row feature vector") {
    val df = Seq((1L, "aabb")).toDF("id", "text") // bytes 97,97,98,98 → bin 6
    val h = Multimodal.withByteHist("content", bins = 16)(
      Multimodal.withBinaryContent("text")(df))
      .select("byte_hist").collect().head.getSeq[Double](0)
    assert(h.length == 16)
    assert(h(6) == 1.0 && h.sum == 1.0)
  }

  // ===== approx/sketch audit family =====

  test("HLL NDV stays inside 3·rsd of exact at 50k distinct, and is genuinely approximate") {
    // 50k distinct values in 2 groups — far past HLL++'s exact sparse
    // regime, so this pins the ERROR BOUND, not an exact-mode freebie
    val df = spark.range(50000).selectExpr("id % 2 AS grp", "id AS v")
    for (rsd <- Seq(0.05, 0.02)) {
      val rows = Sketch.ndvAudit(Seq("grp"), "v", rsd = rsd)(df).collect()
      assert(rows.length == 2)
      rows.foreach { r =>
        assert(r.getAs[Long]("exact_ndv") == 25000L)
        assert(r.getAs[Boolean]("ndv_ok"), s"rsd=$rsd: sketch left its 3sigma envelope")
      }
    }
    // non-vacuity: at rsd=0.05 the sketch is NOT exact at this
    // cardinality — the ok-boolean gate is a real tolerance, not ==
    val approx = spark.range(50000)
      .agg(approx_count_distinct(col("id"), 0.05)).collect().head.getLong(0)
    assert(approx != 50000L, "expected HLL to be approximate at 50k distinct")
    assert(math.abs(approx - 50000L) / 50000.0 <= 0.15)
  }

  test("GK approx_percentile honors its rank-error guarantee at accuracy=100") {
    // skewed (quadratic) distribution so value-space error would be
    // large if rank error were violated
    val n = 20000
    val df = spark.range(n).selectExpr("CAST(id AS INT) AS grp0", "id * id AS v")
      .selectExpr("0 AS grp", "v")
    val audited = Sketch.quantileAudit(Seq("grp"), "v", accuracy = 100, rankSlack = 0.02)(df)
      .collect().head
    assert(audited.getAs[Long]("n") == n)
    assert(audited.getAs[Boolean]("p50_ok"))
    assert(audited.getAs[Boolean]("p90_ok"))
    // direct rank check: the returned p50's true rank is within
    // 1/accuracy (+1 discretization) of the target rank
    val ap50 = df.selectExpr("approx_percentile(v, 0.5, 100)").collect().head.getLong(0)
    val rank = df.where(col("v") <= ap50).count()
    assert(math.abs(rank.toDouble / n - 0.5) <= 1.0 / 100 + 1.0 / n,
      s"approx p50=$ap50 rank=$rank violates GK bound")
  }

  test("quantileAudit refuses a vacuous gate (rankSlack inside GK error)") {
    val df = spark.range(10).selectExpr("0 AS grp", "id AS v")
    intercept[IllegalArgumentException] {
      Sketch.quantileAudit(Seq("grp"), "v", accuracy = 100, rankSlack = 0.005)(df)
    }
  }

  test("corpusNdvAudit emits one row with per-stem exact values and ok-flags") {
    val df = Seq((1L, "en", "a"), (2L, "en", "b"), (3L, "db", "a"))
      .toDF("doc_id", "lang", "token")
    val r = Sketch.corpusNdvAudit(Seq(
      "docs" -> col("doc_id"), "vocab" -> col("token"), "langs" -> col("lang")))(df)
      .collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("exact_docs") == 3L && row.getAs[Boolean]("docs_ok"))
    assert(row.getAs[Long]("exact_vocab") == 2L && row.getAs[Boolean]("vocab_ok"))
    assert(row.getAs[Long]("exact_langs") == 2L && row.getAs[Boolean]("langs_ok"))
  }

  test("approxNdv scale path plans a single exchange of sketches, no expand") {
    // the exact twin needs an Expand for count(DISTINCT); the scale
    // path must not — registers merge associatively instead
    val df = spark.range(1000).selectExpr("id % 3 AS grp", "id AS v")
    val plan = planOf(Sketch.approxNdv(Seq("grp"), "v")(df))
    assert(!plan.contains("Expand"), plan)
    val exactPlan = planOf(df.groupBy("grp").agg(countDistinct(col("v"))))
    assert(exactPlan.contains("HashAggregate"), exactPlan)
  }

  test("unionNdvAudit: merged sketches exact at sparse cardinality, inside envelope at scale") {
    // sparse-mode HLL is exact at low cardinality — overlap of 10
    // between sides must estimate the union (40 distinct) exactly
    val a = (1 to 30).map(i => s"v$i").toDF("x")
    val b = (21 to 50).map(i => s"v$i").toDF("x")
    val small = Sketch.unionNdvAudit("x")(a, b).collect().head
    assert(small.getAs[Long]("exact_union_ndv") == 50L)
    assert(small.getAs[Boolean]("union_ndv_ok"))

    // dense mode: 30k distinct across a 10k-value overlap, 3σ envelope
    val bigA = spark.range(20000).selectExpr("concat('k', id) AS x")
    val bigB = spark.range(10000, 30000).selectExpr("concat('k', id) AS x")
    val big = Sketch.unionNdvAudit("x")(bigA, bigB).collect().head
    assert(big.getAs[Long]("exact_union_ndv") == 30000L)
    assert(big.getAs[Boolean]("union_ndv_ok"))
  }

  test("intersectionNdvAudit: inclusion-exclusion exact at sparse cardinality, inside absolute band at scale") {
    val a = (1 to 30).map(i => s"v$i").toDF("x")
    val b = (21 to 50).map(i => s"v$i").toDF("x")
    val small = Sketch.intersectionNdvAudit("x")(a, b).collect().head
    assert(small.getAs[Long]("exact_inter_ndv") == 10L)
    assert(small.getAs[Boolean]("inter_ndv_ok"))

    val bigA = spark.range(20000).selectExpr("concat('k', id) AS x")
    val bigB = spark.range(10000, 30000).selectExpr("concat('k', id) AS x")
    val big = Sketch.intersectionNdvAudit("x")(bigA, bigB).collect().head
    assert(big.getAs[Long]("exact_inter_ndv") == 10000L)
    assert(big.getAs[Boolean]("inter_ndv_ok"))

    // disjoint sides: exact 0; the absolute band must still hold
    val da = (1 to 500).map(i => s"a$i").toDF("x")
    val db = (1 to 500).map(i => s"b$i").toDF("x")
    val dis = Sketch.intersectionNdvAudit("x")(da, db).collect().head
    assert(dis.getAs[Long]("exact_inter_ndv") == 0L)
    assert(dis.getAs[Boolean]("inter_ndv_ok"))
  }

  test("heavyHittersAudit: exact top-N with deterministic ties, CMS inside envelope, nulls skipped") {
    val words = Seq.fill(50)("alpha") ++ Seq.fill(30)("beta") ++
      Seq.fill(30)("bravo") ++ Seq.fill(5)("gamma") ++ (1 to 40).map(i => s"rare$i")
    val df = (words.map(Option(_)) ++ Seq.fill(10)(Option.empty[String])).toDF("w")
    val had = spark.catalog.functionExists("graft_cms_estimate")
    val rows = Sketch.heavyHittersAudit("w", topN = 3)(df).collect()
    // beta/bravo tie at 30 breaks on value asc — beta in, bravo out at N=3
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("alpha", 50L), ("beta", 30L), ("bravo", 30L)).take(3))
    assert(rows.forall(_.getAs[Boolean]("cms_ok")))
    // the audit must not mutate the caller's session (scoped, not
    // bare register)
    assert(spark.catalog.functionExists("graft_cms_estimate") == had)
  }

  // ===== BPE pair counts + chunking =====

  test("bpePairCounts: the merge-step argmax with deterministic ties; <2-token docs contribute nothing") {
    val df = Seq(
      "a b a b c", // pairs: "a b"×2, "b a", "b c"
      "a b",       // "a b"
      "solo"       // no pairs
    ).toDF("text")
    val top = TextAnalysis.bpePairCounts("text", k = 2)(df).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // "b a" and "b c" tie at 1 → "b a" wins on pair asc
    assert(top == Seq(("a b", 3L), ("b a", 1L)))
  }

  test("bpePairCounts compiles to TakeOrderedAndProject — no global sort of the pair distribution") {
    // range-based input: a local Seq would constant-fold the whole
    // explode away and leave nothing to assert on
    val df = spark.range(3).selectExpr("concat('a b c ', id) AS text")
    val plan = planOf(TextAnalysis.bpePairCounts("text", k = 5)(df))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Sort ["), plan)
    // the token split must be materialized ONCE per row — a split
    // inlined into the pair lambda re-evaluates per element (O(n²)
    // per doc, measured ~4× slower at sf0.1)
    assert("split\\(".r.findAllIn(plan).size == 1, plan)
  }

  test("chunkText: overlap windows cover the text, trailing partial kept, zero shuffles") {
    val df = Seq((1L, "abcdefghij")).toDF("doc_id", "text") // 10 chars
    val chunks = TextAnalysis.chunkText("doc_id", "text", chunkChars = 4, strideChars = 3)(df)
      .orderBy("chunk_idx").collect()
      .map(r => (r.getInt(1), r.getString(2), r.getInt(3))).toSeq
    assert(chunks == Seq(
      (0, "abcd", 4), (1, "defg", 4), (2, "ghij", 4), (3, "j", 1)))
    val plan = planOf(TextAnalysis.chunkText("doc_id", "text", 4, 3)(df))
    assert(!plan.contains("Exchange"), plan)
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkText("doc_id", "text", 4, 5)(df) // stride > chunk would skip chars
    }
  }

  // ===== corpus drift (llm/Drift.scala) =====

  test("drift: identical snapshots score exactly zero; a full shift scores large and covers one-sided values") {
    import graft.llm.Drift
    val a = Seq("en", "en", "de", "fr").toDF("lang")
    val same = Drift.categoryDrift(col("lang"))(a, a).collect()
    // p_new == p_old per value → every contribution is floor(0 + .5) = 0
    assert(same.forall(_.getAs[Long]("psi_fp") == 0L))
    assert(same.head.getAs[Long]("psi_total_fp") == 0L)

    val b = Seq("zh", "zh", "zh", "zh").toDF("lang")
    val shifted = Drift.categoryDrift(col("lang"))(a, b)
      .collect().map(r => r.getString(0) -> r).toMap
    // full join keeps values present in only one snapshot, zero-filled
    assert(shifted.keySet == Set("en", "de", "fr", "zh"))
    assert(shifted("zh").getAs[Long]("n_old") == 0L && shifted("zh").getAs[Long]("n_new") == 4L)
    // a complete distribution swap is far past the 0.25 'shifted' bar
    assert(shifted("zh").getAs[Long]("psi_total_fp") > 250000L,
      s"total ${shifted("zh").getAs[Long]("psi_total_fp")}")
  }

  test("drift: a NULL dimension value is ONE value (null-safe join), not two one-sided rows") {
    import graft.llm.Drift
    val a = Seq(Some("en"), Some("en"), None, None).toDF("lang")
    val same = Drift.categoryDrift(col("lang"))(a, a).collect()
    // a null-unsafe join would emit (null, 2, 0) AND (null, 0, 2),
    // each paying a presence-only penalty on a perfectly stable corpus
    assert(same.length == 2, same.mkString("; "))
    val nullRow = same.find(_.isNullAt(0)).get
    assert(nullRow.getAs[Long]("n_old") == 2L && nullRow.getAs[Long]("n_new") == 2L)
    assert(same.forall(_.getAs[Long]("psi_fp") == 0L))
    assert(same.head.getAs[Long]("psi_total_fp") == 0L)
  }

  test("drift plan: shuffles carry the dimension value only; no cartesian") {
    val a = spark.range(100).selectExpr("CAST(id % 3 AS STRING) AS lang")
    val plan = planOf(graft.llm.Drift.categoryDrift(col("lang"))(a, a))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the count exchanges key on the dimension expression (pre-alias
    // column name at partial-agg time, `value` after)
    val keys = "Exchange hashpartitioning\\(([^,]+)".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    // coalesce(value, <type-default>) is the shape Spark gives a
    // null-safe (<=>) join key — still the dimension value only
    assert(keys.forall(k => k.startsWith("value") || k.startsWith("lang") ||
        k.startsWith("coalesce(value") || k.startsWith("coalesce(lang")),
      s"unexpected shuffle keys $keys")
  }

  test("snapshotDiff labels added/removed/modified/unchanged; separator defeats concat collisions") {
    import graft.llm.Drift
    val nul = null.asInstanceOf[String]
    val old = Seq((1L, "a", "y"), (2L, "b", "y"), (3L, "c", "y"), (5L, "x", "y"),
      (6L, nul, "en"), (7L, nul, nul))
      .toDF("doc_id", "text", "extra")
    val neu = Seq((1L, "a", "y"), (2L, "B", "y"), (4L, "d", "y"), (5L, "xy", ""),
      (6L, "en", nul), (7L, nul, nul))
      .toDF("doc_id", "text", "extra")
    val r = Drift.snapshotDiff(old, neu, "doc_id", Seq("text", "extra"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r == Map(1L -> "unchanged", 2L -> "modified", 3L -> "removed",
      4L -> "added", 5L -> "modified", 6L -> "modified", 7L -> "unchanged"))
    // 5 is the concat-collision case: ("x","y") vs ("xy","") concat
    // equal without the control-char separator — must read modified.
    // 6 is the NULL-skip collision: concat_ws drops NULLs, so
    // (NULL,"en") vs ("en",NULL) would digest equal without the
    // presence tags; 7 pins that all-NULL rows still compare equal
  }

  // ===== PII redaction + OOV rate =====

  test("redactPii replaces email and URL spans with placeholder tags") {
    val df = Seq(
      (1L, "visit https://site.com/page?x=1 and mail bob@corp.com now"),
      (2L, "no pii here at all")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.redactPii("text")(df)
      .collect().map(x => x.getLong(0) -> x.getAs[String]("text_redacted")).toMap
    assert(r(1L) == "visit <URL> and mail <EMAIL> now", r(1L))
    assert(r(2L) == "no pii here at all")
    val plan = planOf(TextAnalysis.redactPii("text")(df))
    assert(!plan.contains("Exchange"), plan)
  }

  test("oovRate: tokens outside the top-N vocabulary counted per doc") {
    // "a" appears 4×, everything else less — topN=1 vocab = {a}
    val df = Seq(
      (1L, "a a b"),   // 1/3 oov
      (2L, "a a c d")  // 2/4 oov
    ).toDF("doc_id", "text")
    val r = TextAnalysis.oovRate("doc_id", "text", topN = 1)(df)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r(1L) == ((3L, 1L, 1.0 / 3)))
    assert(r(2L) == ((4L, 2L, 0.5)))
  }

  // ===== DSIR importance weights (llm/Dsir.scala) =====

  test("dsir: target-gram-matching docs outscore off-target docs; short-doc rule applies") {
    import graft.llm.Dsir
    val df = Seq(
      (1L, "the quick brown fox", "en"),   // target
      (2L, "the quick brown dog", "en"),   // target
      (3L, "the quick brown cat", "other"), // raw doc sharing target grams
      (4L, "совершенно другой текст тут", "other"), // raw doc, disjoint grams
      (5L, "solo", "other")                // < 2 tokens → whole text one gram
    ).toDF("doc_id", "text", "lang")
    val r = Dsir.importanceWeights("doc_id", "text", col("lang") === "en")(df)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r.keySet == Set(1L, 2L, 3L, 4L, 5L), "every doc must get a score")
    assert(r(5L)._1 == 1L, "short doc contributes its whole text as one gram")
    assert(r(1L)._1 == 3L, "4 tokens → 3 bigrams")
    // docs built from target-corpus grams must outscore the disjoint doc
    assert(r(3L)._2 > r(4L)._2,
      s"shared-gram doc must outscore disjoint doc: ${r(3L)._2} <= ${r(4L)._2}")
    assert(r(1L)._2 > r(4L)._2)
  }

  test("dsir: a NULL text scores as one empty gram instead of vanishing from explode(NULL)") {
    import graft.llm.Dsir
    val df = Seq(
      (1L, Option("quick brown fox here"), "en"),
      (2L, Option.empty[String], "other")
    ).toDF("doc_id", "text", "lang")
    val r = Dsir.importanceWeights("doc_id", "text", col("lang") === "en")(df)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.keySet == Set(1L, 2L), "one row per input doc includes NULL-text docs")
    assert(r(2L) == 1L, "NULL coalesces to '' → the short-doc rule's single gram")
  }

  test("dsir score is an exact integer sum: invariant under repartitioning") {
    import graft.llm.Dsir
    val df = spark.range(200).selectExpr("id AS doc_id",
      "concat('w', id % 7, ' w', id % 11, ' w', id % 13, ' tail') AS text",
      "CASE WHEN id % 3 = 0 THEN 'en' ELSE 'other' END AS lang")
    def scores(parts: Int): Map[Long, Long] =
      Dsir.importanceWeights("doc_id", "text", col("lang") === "en")(df.repartition(parts))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(scores(1) == scores(13), "fixed-point integer sums must not depend on partitioning")
  }

  test("dsir plan: model table broadcast back, no cartesian, text never a shuffle key") {
    val df = spark.range(10).selectExpr("id AS doc_id", "concat('a b c ', id) AS text",
      "'en' AS lang")
    val plan = planOf(graft.llm.Dsir.importanceWeights("doc_id", "text",
      col("lang") === "en")(df))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    // every hash exchange carries bucket/doc ids, never the gram text
    val exchanges = "Exchange hashpartitioning\\(([^,]+)".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(k => k.startsWith("bucket") || k.startsWith("doc_id")),
      s"unexpected shuffle keys $exchanges in\n$plan")
  }

  // ===== int8 quantization (llm/Quantize.scala) =====

  test("int8Audit: closed-form codes, half-step reconstruction bound, zero-vector safe") {
    import graft.llm.Quantize
    val df = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)), // scale 1.0 → codes 127,-63,32,0
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),   // all-zero: scale 0, codes 0
      (3L, Array(-2.0f, 2.0f, 1.0f, -1.0f))  // scale 2.0, symmetric
    ).toDF("vec_id", "embedding")
    val r = Quantize.int8Audit("vec_id", "embedding")(df)
      .collect().map(x => x.getLong(0) -> x).toMap
    // floor(-0.5*127 + 0.5) = floor(-63) = -63; floor(0.25*127+0.5)=32
    assert(r(1L).getAs[Long]("q_sum") == (127L - 63L + 32L + 0L))
    assert(r(1L).getAs[Int]("q_min") == -63 && r(1L).getAs[Int]("q_max") == 127)
    assert(r(2L).getAs[Double]("scale") == 0.0 && r(2L).getAs[Long]("q_sum") == 0L)
    assert(r.values.forall(_.getAs[Boolean]("recon_ok")),
      "every element must sit inside the scale/254 half-step bound")
  }

  test("int8Audit is a pure map: no exchange in the plan") {
    val df = Seq((1L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val plan = planOf(graft.llm.Quantize.int8Audit("vec_id", "embedding")(df))
    assert(!plan.contains("Exchange"), plan)
  }

  test("int8Store shrinks the on-disk embedding store (the 4× claim, parquet-measured)") {
    import graft.llm.Quantize
    val n = 2000
    // pseudo-random but deterministic floats — realistic entropy so
    // parquet can't dictionary-compress either representation away
    val df = spark.range(n).selectExpr("id AS vec_id",
      "transform(sequence(1, 64), i -> CAST(sin(id * 64 + i) AS FLOAT)) AS embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_quant").toString
    df.write.mode("overwrite").parquet(s"$dir/full")
    Quantize.int8Store("vec_id", "embedding")(df)
      .write.mode("overwrite").parquet(s"$dir/int8")
    def bytes(p: String): Long = {
      val d = new java.io.File(p)
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    }
    val (full, int8) = (bytes(s"$dir/full"), bytes(s"$dir/int8"))
    assert(int8 * 2 < full, s"int8 store $int8 B should be well under half of float store $full B")
  }

  test("int8RecallAtK: self is always recalled and recall stays high on separated clusters") {
    import graft.llm.Quantize
    // two tight clusters far apart: quantization cannot confuse them
    val base = Seq.tabulate(20)(i => (i.toLong,
      Array.tabulate(16)(d => (if (i % 2 == 0) 1.0f else -1.0f) * (1.0f + 0.001f * (i * 16 + d)))))
    val df = base.toDF("vec_id", "embedding")
    val rec = Quantize.int8RecallAtK(df, df.where($"vec_id" < 4), "vec_id", "embedding", k = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rec.keySet == Set(0L, 1L, 2L, 3L))
    assert(rec.values.forall(_ >= 0.8), s"quantized candidates lost the cluster: $rec")
  }

  test("int8RecallAtK: zero vectors rank last, and zero-overlap probes report 0.0 not nothing") {
    import graft.llm.Quantize
    // 3 real vectors + 3 all-zero: NaN cosines must NOT occupy the
    // top-k (Spark sorts NaN greater than any double)
    val withZeros = (Seq.tabulate(3)(i =>
        (i.toLong, Array.tabulate(8)(d => 1.0f + 0.01f * (i * 8 + d)))) ++
      Seq.tabulate(3)(i => (10L + i, Array.fill(8)(0.0f))))
      .toDF("vec_id", "embedding")
    val rec = Quantize.int8RecallAtK(withZeros, withZeros.where($"vec_id" === 0L),
        "vec_id", "embedding", k = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // top-3 of probe 0 = the three REAL vectors on both sides → recall 1
    assert(rec == Map(0L -> 1.0), s"zero vectors displaced real neighbors: $rec")
    // a probe present in `probes` but with no top-k agreement still
    // gets a row: every probe id appears in the audit output
    val allProbes = Quantize.int8RecallAtK(withZeros, withZeros, "vec_id", "embedding", k = 2)
      .select("probe_id").collect().map(_.getLong(0)).toSet
    assert(allProbes == Set(0L, 1L, 2L, 10L, 11L, 12L),
      s"audit must emit one row per probe, got $allProbes")
  }

  test("CMS probe never underestimates and is partitioning-invariant") {
    val df = spark.range(2000).selectExpr("CAST(id % 100 AS STRING) AS w")
    def estimates(parts: Int): Map[String, Long] = {
      val sk = df.repartition(parts)
        .agg(expr("count_min_sketch(w, CAST(0.01 AS DOUBLE), CAST(0.999 AS DOUBLE), 42)").as("cms"))
      df.distinct().crossJoin(broadcast(sk))
        .select(col("w"), graft.functions.Native.cmsEstimate(col("cms"), col("w")).as("est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val e1 = estimates(1)
    assert(e1.values.forall(_ >= 20L), "CMS underestimated a true count of 20")
    // counter addition commutes: any partitioning gives the same sketch
    assert(estimates(7) == e1)
  }
}
