package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.io.NestedStore
import graft.streaming.StreamingIngest

/** All queries run with Trigger.AvailableNow + bounded
  * awaitTermination and are stopped in finally — stateful streaming
  * queries with default triggers busy-loop no-data micro-batches
  * (watermark/timeout advancement), which hangs processAllAvailable-
  * style tests.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def runToCompletion(q: StreamingQuery, ms: Long = 120000): Unit =
    try {
      assert(q.awaitTermination(ms), s"streaming query did not finish within ${ms}ms")
    } finally if (q.isActive) q.stop()

  test("file-stream ingestion nests micro-batches into the keyed store") {
    val watch = Files.createTempDirectory("graft_watch").toString
    val store = Files.createTempDirectory("graft_sstore").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    Files.writeString(java.nio.file.Paths.get(watch, "viewA_1.csv"),
      "study_code,view,name,score\ns1,v1,alice,9\ns1,v1,bob,8\ns1,v2,carol,7\n")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "study_code STRING, view STRING, name STRING, score STRING")
    runToCompletion(
      StreamingIngest.upsertStream(spark, watch, schema, "study_code", "view", store, ckpt)
        .trigger(Trigger.AvailableNow()).start())
    val back = NestedStore.flatten(spark.read.parquet(store))
    assert(back.count() == 3)
    assert(back.where(col("view") === "v1").count() == 2)
    assert(back.columns.contains("view_id")) // ingestion metadata survived
  }

  test("streaming DQ gate == batch rowFlags over the same drops; violators only") {
    import graft.ops.DataQuality
    val watch = Files.createTempDirectory("graft_dqwatch").toString
    val out = Files.createTempDirectory("graft_dqout").toString
    val ckpt = Files.createTempDirectory("graft_dqckpt").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id INT, qty DOUBLE, status STRING")
    val rules = Seq(
      DataQuality.BoundsRule("qty_range", "qty", 0.0, 20.0),
      DataQuality.InSetRule("status_ok", "status", Seq("OK")))
    Files.writeString(java.nio.file.Paths.get(watch, "d1.csv"),
      "id,qty,status\n1,5,OK\n2,50,OK\n3,,BAD\n")
    Files.writeString(java.nio.file.Paths.get(watch, "d2.csv"),
      "id,qty,status\n4,-1,OK\n5,10,OK\n")
    runToCompletion(
      StreamingIngest.dqViolationsStream(spark, watch, schema, rules, Seq("id"), out, ckpt)
        .trigger(Trigger.AvailableNow()).start())
    val streamed = spark.read.parquet(out)
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[String]("rule_name"))).toSet
    val batch = DataQuality.rowFlags(
      spark.read.schema(schema).option("header", "true").csv(watch), rules, Seq("id"))
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[String]("rule_name"))).toSet
    assert(streamed == batch)
    assert(streamed == Set((2, "qty_range"), (3, "status_ok"), (4, "qty_range")))
  }

  test("streaming IVM state == direct recompute across micro-batches; replay is id-gated") {
    import graft.ops.Ivm
    val watch = Files.createTempDirectory("graft_ivmwatch").toString
    val state = Files.createTempDirectory("graft_ivmstate").toString + "/state"
    val ckpt = Files.createTempDirectory("graft_ivmckpt").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL("k STRING, v BIGINT")
    def canon(df: org.apache.spark.sql.DataFrame) =
      Ivm.finalized(df).collect()
        .map(r => (r.getAs[String]("k"), r.getAs[Long]("n_rows"), r.getAs[Long]("n_vals"),
          Option(r.get(r.fieldIndex("sum_val"))))).toSet
    Files.writeString(java.nio.file.Paths.get(watch, "b1.csv"), "k,v\na,10\na,20\nb,5\n")
    runToCompletion(
      StreamingIngest.ivmStateStream(spark, watch, schema, Seq("k"), "v", state, ckpt)
        .trigger(Trigger.AvailableNow()).start())
    Files.writeString(java.nio.file.Paths.get(watch, "b2.csv"), "k,v\na,\nb,7\nc,42\n")
    runToCompletion(
      StreamingIngest.ivmStateStream(spark, watch, schema, Seq("k"), "v", state, ckpt)
        .trigger(Trigger.AvailableNow()).start())
    val direct = Ivm.state(Seq("k"), "v")(
      spark.read.schema(schema).option("header", "true").csv(watch))
    assert(canon(spark.read.parquet(state)) == canon(direct))
    // Lifecycle protection: a FRESH checkpoint renumbers batches from
    // 0 and re-reads the whole watch dir, so its batch ids are not
    // comparable to the marker's — skipping against the old marker
    // would lose genuinely new files, merging would double-count the
    // re-read ones. The only safe behavior is a loud failure naming
    // both query ids, with state left untouched.
    val ckpt2 = Files.createTempDirectory("graft_ivmckpt2").toString
    val ex = intercept[Exception] {
      runToCompletion(
        StreamingIngest.ivmStateStream(spark, watch, schema, Seq("k"), "v", state, ckpt2)
          .trigger(Trigger.AvailableNow()).start())
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c =>
      Option(c.getMessage).exists(_.contains("checkpoint lifecycles"))),
      s"expected the cross-lifecycle guard, got: $ex")
    assert(canon(spark.read.parquet(state)) == canon(direct))
  }

  test("IVM crash-window recovery: state staged out but not swapped in is restored, not deleted") {
    import graft.ops.Ivm
    val watch = Files.createTempDirectory("graft_ivmcrashw").toString
    val state = Files.createTempDirectory("graft_ivmcrashs").toString + "/state"
    val ckpt = Files.createTempDirectory("graft_ivmcrashc").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL("k STRING, v BIGINT")
    Files.writeString(java.nio.file.Paths.get(watch, "b1.csv"), "k,v\na,10\nb,5\n")
    runToCompletion(
      StreamingIngest.ivmStateStream(spark, watch, schema, Seq("k"), "v", state, ckpt)
        .trigger(Trigger.AvailableNow()).start())
    // simulate a crash BETWEEN the stage-out and swap-in renames: the
    // only copy of the rollup history sits at __prev, stateDir gone
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(state),
      new org.apache.hadoop.fs.Path(state + "__prev")))
    // next batch must RESTORE the staged-out history before merging —
    // the old behavior deleted __prev and committed delta-only state
    Files.writeString(java.nio.file.Paths.get(watch, "b2.csv"), "k,v\nb,7\nc,42\n")
    runToCompletion(
      StreamingIngest.ivmStateStream(spark, watch, schema, Seq("k"), "v", state, ckpt)
        .trigger(Trigger.AvailableNow()).start())
    val got = Ivm.finalized(spark.read.parquet(state)).collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("n_rows"))).toSet
    assert(got == Set(("a", 1L), ("b", 2L), ("c", 1L)),
      s"batch 1's history must survive the crash window: $got")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(state + "__prev")))
  }

  test("streaming upsert sink == batch write+upsert; replay-idempotent per key") {
    val watch = Files.createTempDirectory("graft_uwatch").toString
    val store = Files.createTempDirectory("graft_ustore").toString
    val ckpt = Files.createTempDirectory("graft_uckpt").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "study_code STRING, view STRING, name STRING, score STRING")
    // drop 1: two views; drop 2 (separate micro-batch via
    // maxFilesPerTrigger ordering not guaranteed — use two runs)
    Files.writeString(java.nio.file.Paths.get(watch, "dropA.csv"),
      "study_code,view,name,score\ns1,v1,alice,9\ns1,v1,bob,8\ns1,v2,carol,7\n")
    runToCompletion(
      StreamingIngest.upsertStream(spark, watch, schema, "study_code", "view", store, ckpt)
        .trigger(Trigger.AvailableNow()).start())
    // second drop REVISES v1 (fewer rows) and leaves v2 alone; a new
    // AvailableNow run picks up only the new file from the checkpoint
    Files.writeString(java.nio.file.Paths.get(watch, "dropB.csv"),
      "study_code,view,name,score\ns1,v1,dave,5\n")
    runToCompletion(
      StreamingIngest.upsertStream(spark, watch, schema, "study_code", "view", store, ckpt)
        .trigger(Trigger.AvailableNow()).start())

    val streamed = NestedStore.flatten(spark.read.parquet(store))
      .select("study_code", "view", "name", "score")
      .orderBy("view", "name").collect().toSeq
    // v1 replaced wholesale (put_item semantics), v2 untouched
    assert(streamed.map(r => (r.getString(1), r.getString(2))) ==
      Seq(("v1", "dave"), ("v2", "carol")))

    // batch twin: write(A-transformed) then upsert(B-transformed)
    // through the same ingestion transforms produces the same store
    val batchStore = Files.createTempDirectory("graft_ustore_b").toString
    def ingest(path: String) = graft.io.Ingestion.withFileMetadata(
      graft.io.Ingestion.nullFill(
        spark.read.schema(schema).option("header", "true").csv(path)))
    NestedStore.write(NestedStore.nest(ingest(s"$watch/dropA.csv"), "study_code", "view"), batchStore)
    NestedStore.upsert(NestedStore.nest(ingest(s"$watch/dropB.csv"), "study_code", "view"), batchStore)
    val batch = NestedStore.flatten(spark.read.parquet(batchStore))
      .select("study_code", "view", "name", "score")
      .orderBy("view", "name").collect().toSeq
    assert(streamed == batch, "streaming upsert must equal batch write+upsert")
  }

  test("watermarked windowed aggregation over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 10:55:00"), "click", 3.0),
      (Timestamp.valueOf("2024-01-01 11:05:00"), "click", 2.0))
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val agg = StreamingIngest.windowedCounts(
      events, "ts", "event_type", "value", "1 hour", "2 hours")
    runToCompletion(
      agg.writeStream.format("memory").queryName("win_counts")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start())
    val rows = spark.table("win_counts").orderBy("window_start").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("n_events") == 2 && rows(0).getAs[Double]("max_value") == 3.0)
    assert(rows(1).getAs[Long]("n_events") == 1)
    // the batch twin threads the SAME column/window parameters — a
    // twin hardcoded to "value" would silently diverge from a
    // streaming plane driven with custom column names
    val batchCustom = StreamingIngest.windowedCountsBatch(
      Seq((Timestamp.valueOf("2024-01-01 10:05:00"), "click", 7.0),
        (Timestamp.valueOf("2024-01-01 10:45:00"), "click", 4.0))
        .toDF("t", "kind", "amount"),
      "t", "kind", "amount", "1 hour").collect()
    assert(batchCustom.length == 1)
    assert(batchCustom(0).getAs[Long]("n_events") == 2 &&
      batchCustom(0).getAs[Double]("max_value") == 7.0)
  }

  test("stateless streaming decontamination == batch filter; agrees with the report") {
    import graft.llm.Decontam
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val grams = Decontam.collectBenchGrams(bench, "text", n = 5)
    val rows = Seq(
      (1L, "intro words beta gamma delta epsilon zeta outro"), // leaks a bench 5-gram
      (2L, "totally unrelated words that never overlap anything"),
      (3L, "alpha beta gamma x delta epsilon zeta"))           // 4-gram overlap only
    val batchKept = Decontam.streamingDecontamFilter(rows.toDF("doc_id", "text"), grams, "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(batchKept == Seq(2L, 3L))
    // identical predicate over a real stream (append mode, no state)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData(rows: _*)
    runToCompletion(
      Decontam.streamingDecontamFilter(mem.toDF().toDF("doc_id", "text"), grams, "text")
        .writeStream.format("memory").queryName("sdecontam")
        .outputMode("append").trigger(Trigger.AvailableNow()).start())
    val streamKept = spark.table("sdecontam").collect().map(_.getLong(0)).sorted.toSeq
    assert(streamKept == batchKept)
    // and the predicate agrees with the contaminationReport gate query
    val report = Decontam.contaminationReport(rows.toDF("doc_id", "text"), bench, "doc_id", "text")
      .where(col("contaminated")).select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(report == Seq(1L))
  }

  test("stateless transforms (redact → chunk; int8 audit) run unchanged on streams == batch") {
    import graft.llm.{Quantize, TextAnalysis}
    val docs = Seq(
      (1L, "mail bob@corp.com then read https://x.com/page about twenty more words of filler text"),
      (2L, "plain text with nothing to redact but long enough to chunk into several windows here"))
    def redactChunk(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.chunkText("doc_id", "text_redacted", chunkChars = 30, strideChars = 20)(
        TextAnalysis.redactPii("text")(df).select("doc_id", "text_redacted"))
    val batch = redactChunk(docs.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs: _*)
    runToCompletion(
      redactChunk(mem.toDF().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName("schunks")
        .outputMode("append").trigger(Trigger.AvailableNow()).start())
    val streamed = spark.table("schunks")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
    assert(streamed == batch, "per-row transforms must be stream/batch identical")

    // quantization audit is likewise a pure map — streams as-is
    val vecs = Seq((1L, Array(1.0f, -0.5f)), (2L, Array(0.25f, 0.75f)))
    val vb = Quantize.int8Audit("vec_id", "embedding")(vecs.toDF("vec_id", "embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
    val vmem = MemoryStream[(Long, Array[Float])]
    vmem.addData(vecs: _*)
    runToCompletion(
      Quantize.int8Audit("vec_id", "embedding")(vmem.toDF().toDF("vec_id", "embedding"))
        .writeStream.format("memory").queryName("squant")
        .outputMode("append").trigger(Trigger.AvailableNow()).start())
    val vs = spark.table("squant").collect().map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
    assert(vs == vb)
  }

  test("recipe runStreaming: stateless recipe == batch; stateful/batch misuse rejected loudly") {
    import graft.llm.CurationPipeline
    import graft.llm.CurationPipeline.Stage
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val stages = Seq(
      Stage("PII REDACT"),
      Stage("BLOCKLIST FILTER", Map("terms" -> "junkword")),
      Stage("DECONTAM", Map("n" -> "5")),
      Stage("HASH SPLIT", Map("val_pct" -> "5", "test_pct" -> "5")))
    val rows = Seq(
      (1L, "intro alpha beta gamma delta epsilon zeta outro"),       // bench 5-gram leak
      (2L, "contains junkword so the blocklist stage drops it"),     // blocklist hit
      (3L, "mail bob@corp.com then more words that survive intact"), // redacted, kept
      (4L, "plain words with nothing to drop or redact anywhere"))   // kept
    val batchDf = rows.toDF("doc_id", "text")
    val batch = CurationPipeline.run(batchDf, stages, bench = Some(bench))
      .select("doc_id", "text", "split")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(batch.map(_._1) == Seq(3L, 4L))
    assert(batch.head._2.contains("<EMAIL>")) // PII REDACT ran in place

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData(rows: _*)
    runToCompletion(
      CurationPipeline.runStreaming(mem.toDF().toDF("doc_id", "text"), stages, bench = Some(bench))
        .select("doc_id", "text", "split")
        .writeStream.format("memory").queryName("srecipe")
        .outputMode("append").trigger(Trigger.AvailableNow()).start())
    val streamed = spark.table("srecipe")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(streamed == batch, "stateless recipe must be stream/batch identical")

    // stateful stages fail loudly BEFORE any streaming plan is built
    val stateful = intercept[IllegalArgumentException] {
      CurationPipeline.runStreaming(mem.toDF().toDF("doc_id", "text"),
        stages :+ Stage("NEAR DEDUP"), bench = Some(bench))
    }
    assert(stateful.getMessage.contains("NEAR DEDUP"))
    // and a batch frame is routed to run(), not silently accepted
    val notStream = intercept[IllegalArgumentException] {
      CurationPipeline.runStreaming(batchDf, stages, bench = Some(bench))
    }
    assert(notStream.getMessage.contains("streaming frame"))
  }

  test("windowed streaming approx-NDV == batch twin on identical input") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Long)]
    val rows = Seq(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 7L),
      (Timestamp.valueOf("2024-01-01 10:15:00"), "click", 7L),  // dup user in window
      (Timestamp.valueOf("2024-01-01 10:25:00"), "click", 9L),
      (Timestamp.valueOf("2024-01-01 11:05:00"), "click", 7L),  // next window
      (Timestamp.valueOf("2024-01-01 10:30:00"), "view", 7L))
    mem.addData(rows: _*)
    val streamed = StreamingIngest.windowedNdv(mem.toDF().toDF("ts", "event_type", "user_id"))
    runToCompletion(
      streamed.writeStream.format("memory").queryName("win_ndv")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start())
    val got = spark.table("win_ndv")
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSeq
    // batch twin: same aggregation minus the watermark
    val batch = StreamingIngest.windowedNdv(rows.toDF("ts", "event_type", "user_id"))
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == batch, "streaming and batch sketches must agree on identical input")
    // at this cardinality the sketch is exact: {7,9} -> 2, {7} -> 1
    assert(got.map(_._3) == Seq(2L, 1L, 1L))
  }

  test("streaming dedup drops duplicate keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), "docA"),
      (Timestamp.valueOf("2024-01-01 10:01:00"), "docA"), // dup within watermark
      (Timestamp.valueOf("2024-01-01 10:02:00"), "docB"))
    val docs = mem.toDF().toDF("ts", "content_md5")
    val deduped = StreamingIngest.streamingDedup(docs, Seq("content_md5"), "ts", "1 hour")
    runToCompletion(
      deduped.writeStream.format("memory").queryName("sdedup")
        .outputMode("append").trigger(Trigger.AvailableNow()).start())
    val keys = spark.table("sdedup").collect().map(_.getString(1)).sorted
    assert(keys.toSeq == Seq("docA", "docB"))
  }

  test("stream-stream attribution join matches clicks inside the purchase window only") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    clicks.addData(
      (100L, 1L, Timestamp.valueOf("2024-01-01 10:30:00")), // inside the window
      (101L, 1L, Timestamp.valueOf("2024-01-01 08:00:00")), // too early
      (102L, 2L, Timestamp.valueOf("2024-01-01 10:30:00"))) // wrong user
    purchases.addData((200L, 1L, Timestamp.valueOf("2024-01-01 11:00:00")))
    val joined = StreamingIngest.streamingAttribution(
      clicks.toDF().toDF("click_id", "user_id", "ts"),
      purchases.toDF().toDF("purchase_id", "user_id", "ts"))
    runToCompletion(
      joined.writeStream.format("memory").queryName("attrib")
        .outputMode("append").trigger(Trigger.AvailableNow()).start())
    val rows = spark.table("attrib").collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(rows.toSeq == Seq((100L, 200L)), rows.mkString("|"))
  }

  test("streaming fingerprint dedup collapses formatting-noise copies in-flight") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), "The cat sat."),
      (Timestamp.valueOf("2024-01-01 10:01:00"), "the  cat sat"), // same fingerprint
      (Timestamp.valueOf("2024-01-01 10:02:00"), "a different doc"))
    val docs = mem.toDF().toDF("ts", "text")
    val deduped = StreamingIngest.streamingFingerprintDedup(docs, "text", "ts", "1 hour")
    runToCompletion(
      deduped.writeStream.format("memory").queryName("fpdedup")
        .outputMode("append").trigger(Trigger.AvailableNow()).start())
    val texts = spark.table("fpdedup").collect().map(_.getString(1)).sorted
    assert(texts.length == 2, texts.mkString("|"))
    assert(texts.contains("a different doc"))
    // the survivor of the noisy pair is ONE of the two variants
    assert(texts.exists(t => t == "The cat sat." || t == "the  cat sat"))
  }

  test("streaming incremental ingest anti-joins the static store; matches the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val store = Seq((10L, "already stored content"), (11L, "another stored doc"))
      .toDF("doc_id", "text")
    val arriving = Seq(
      (1L, "already stored content"),  // content-dup of store doc 10 -> dropped
      (2L, "genuinely new content"),
      (3L, "another stored doc"))      // dup of 11 -> dropped
    val mem = MemoryStream[(Long, String)]
    mem.addData(arriving: _*)
    val streamed = StreamingIngest.streamingIncrementalIngest(
      mem.toDF().toDF("doc_id", "text"), store, "text")
    assert(streamed.isStreaming)
    runToCompletion(
      streamed.writeStream.format("memory").queryName("incr_ingest")
        .outputMode("append").trigger(Trigger.AvailableNow()).start())
    val kept = spark.table("incr_ingest").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(2L), kept.mkString("|"))
    // streaming == batch on identical input
    val batchKept = StreamingIngest.streamingIncrementalIngest(
      arriving.toDF("doc_id", "text"), store, "text")
      .collect().map(_.getLong(0)).sorted
    assert(batchKept.sameElements(kept))
  }

  test("streaming LSH near-dup pairs: matches the batch twin; horizon excludes distant arrivals") {
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val rows = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), base),
      (2L, Timestamp.valueOf("2024-01-01 10:05:00"), base + " extra"),   // near-dup of 1, in horizon
      (3L, Timestamp.valueOf("2024-01-01 10:10:00"), "completely unrelated text about spark streaming joins and state"),
      (4L, Timestamp.valueOf("2024-01-01 23:00:00"), base))              // exact dup of 1, OUTSIDE horizon
    val mem = MemoryStream[(Long, Timestamp, String)]
    mem.addData(rows: _*)
    val streamed = StreamingIngest.streamingNearDupPairs(
      mem.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text", "ts",
      horizon = "30 minutes", watermark = "1 hour", threshold = 0.5)
    runToCompletion(
      streamed.writeStream.format("memory").queryName("neardup_stream")
        .outputMode("append").trigger(Trigger.AvailableNow()).start())
    val got = spark.table("neardup_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // pair (1,2) is in-horizon and near-dup; (1,4)/(2,4) are near-dups
    // but 13h apart -> excluded by the horizon bound
    assert(got == Set((1L, 2L)), s"got $got")

    // batch twin on the identical rows agrees pair-for-pair
    val batch = StreamingIngest.streamingNearDupPairs(
      rows.toDF("doc_id", "ts", "text"), "doc_id", "text", "ts",
      horizon = "30 minutes", watermark = "1 hour", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch == got, s"batch $batch vs stream $got")

    // and with the horizon widened past the gap, the late exact dup
    // surfaces in the batch twin too
    val wide = StreamingIngest.streamingNearDupPairs(
      rows.toDF("doc_id", "ts", "text"), "doc_id", "text", "ts",
      horizon = "24 hours", watermark = "48 hours", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide.contains((1L, 4L)) && wide.contains((1L, 2L)), s"wide $wide")
  }

  test("mapGroupsWithState sessionization accumulates per-user counts") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    mem.addData(1L, 1L, 2L)
    mem.addData(1L)
    val events = mem.toDF().toDF("user_id")
    val sessions = StreamingIngest.sessionize(events, gapMs = None)
    runToCompletion(
      sessions.toDF().writeStream.format("memory").queryName("sessions")
        .outputMode("update").trigger(Trigger.AvailableNow()).start())
    val byUser = spark.table("sessions").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    // state accumulates across batches within the run: user 1 peaks at 3
    assert(byUser(1L).map(_._2).max == 3L)
    assert(byUser(2L).map(_._2).max == 1L)
  }

  test("streaming curation gate: quality + decontam + in-stream dedup + store anti-join in one pipeline") {
    implicit val sqlCtx = spark.sqlContext
    def passDoc(word: String) = "the and " + Seq.fill(58)(word).mkString(" ")
    val leakDoc = "the and benchmark leak gram five six " + Seq.fill(53)("word").mkString(" ")
    val storedText = passDoc("store")
    val store = Seq((10L, storedText)).toDF("doc_id", "text")

    val mem = MemoryStream[(Timestamp, Long, String)]
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "junk"),            // fails quality
      (Timestamp.valueOf("2024-01-01 10:01:00"), 2L, passDoc("alpha")),  // survives
      (Timestamp.valueOf("2024-01-01 10:02:00"), 3L, passDoc("alpha")),  // in-stream dup of 2
      (Timestamp.valueOf("2024-01-01 10:03:00"), 4L, leakDoc),           // decontam drop
      (Timestamp.valueOf("2024-01-01 10:04:00"), 5L, storedText),        // store anti-join drop
      (Timestamp.valueOf("2024-01-01 10:05:00"), 6L, passDoc("fresh")))  // survives
    val docs = mem.toDF().toDF("ts", "doc_id", "text")
    val gated = StreamingIngest.streamingCurationGate(
      docs, store, benchGramSet = Seq("benchmark leak gram five six"))
    runToCompletion(
      gated.writeStream.format("memory").queryName("curation")
        .outputMode("append").trigger(Trigger.AvailableNow()).start())
    val survivors = spark.table("curation").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    // one representative of the {2,3} dup pair, plus the fresh doc
    assert(survivors.map(_._2).toSet == Set(passDoc("alpha"), passDoc("fresh")),
      survivors.map(_._1).mkString("|"))
    assert(survivors.length == 2)

    // batch twin: the same composition on a static frame agrees
    val batch = StreamingIngest.streamingCurationGate(
      docs.sparkSession.createDataFrame(
        Seq((Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "junk"),
          (Timestamp.valueOf("2024-01-01 10:01:00"), 2L, passDoc("alpha")),
          (Timestamp.valueOf("2024-01-01 10:02:00"), 3L, passDoc("alpha")),
          (Timestamp.valueOf("2024-01-01 10:03:00"), 4L, leakDoc),
          (Timestamp.valueOf("2024-01-01 10:04:00"), 5L, storedText),
          (Timestamp.valueOf("2024-01-01 10:05:00"), 6L, passDoc("fresh")))
      ).toDF("ts", "doc_id", "text"),
      store, benchGramSet = Seq("benchmark leak gram five six"))
      .collect().map(_.getAs[String]("text")).toSet
    assert(batch == Set(passDoc("alpha"), passDoc("fresh")))
  }

  test("streaming ER: novels accrete into the master, merges log, replay is partition-idempotent") {
    import java.nio.file.{Files => JFiles, Paths}
    val watch = JFiles.createTempDirectory("graft_erwatch").toString
    val masterDir = JFiles.createTempDirectory("graft_ermaster").toString
    val out = JFiles.createTempDirectory("graft_erout").toString
    val mergesDir = JFiles.createTempDirectory("graft_ermerges").toString
    val ckpt = JFiles.createTempDirectory("graft_erckpt").toString
    // seeded master: two NY clusters one batch row will prove equal,
    // plus an unrelated CA entity
    StreamingIngest.seedErMaster(Seq(
      (1L, "alpha x", "NY", 10L), (2L, "alpha y", "NY", 20L),
      (3L, "gamma g", "CA", 3L)).toDF("id", "name", "state", "cluster"), masterDir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id LONG, name STRING, state STRING")
    def drive(): Unit = runToCompletion(
      StreamingIngest.erResolveStream(spark, watch, schema, masterDir, out, mergesDir,
        ckpt, "id", "name", Seq("state"), maxDist = 2, maxBlock = 10L,
        clusterCol = "cluster")
        .trigger(Trigger.AvailableNow()).start())

    // before any batch: CONSTRUCTING the stream seeds the merge log
    // with an empty TYPED partition (cluster type read off the seeded
    // master), so the documented compaction read works on a stream
    // that never logs a merge — no batch id is consumed by the check
    StreamingIngest.erResolveStream(spark, watch, schema, masterDir, out, mergesDir,
      ckpt, "id", "name", Seq("state"), maxDist = 2, maxBlock = 10L,
      clusterCol = "cluster")
    val seeded = spark.read.parquet(mergesDir)
    assert(seeded.count() == 0L)
    assert(seeded.schema("old_cluster").dataType ==
      org.apache.spark.sql.types.LongType, seeded.schema.treeString)

    // batch 0: 101 matches BOTH NY masters (merge evidence 20 -> 10);
    // 102 is novel (no TX block in the master)
    JFiles.writeString(Paths.get(watch, "b1.csv"),
      "id,name,state\n101,alpha z,NY\n102,zeta zz,TX\n")
    drive()
    def assignments() = spark.read.parquet(out)
      .collect().map(r => r.getAs[Long]("batch_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Long]("n_matches"),
          r.getAs[Long]("ingest_batch"))).toMap
    assert(assignments() == Map(
      101L -> (10L, 2L, 0L), 102L -> (102L, 0L, 0L)), s"got ${assignments()}")
    // the novel accreted into the master as its own entity
    val accreted = spark.read.parquet(masterDir).where(col("ingest_batch") === 0L)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("cluster")))
    assert(accreted.toSeq == Seq((102L, 102L)), accreted.mkString(","))
    // the merge evidence logged, not applied in place
    val merges = spark.read.parquet(mergesDir)
      .collect().map(r => (r.getAs[Long]("old_cluster"), r.getAs[Long]("new_cluster"))).toSet
    assert(merges == Set((20L, 10L)), merges.mkString(","))

    // batch 1: 103 matches the PAST BATCH'S NOVEL — the accreted
    // master row resolves it (the evolving-master contract)
    JFiles.writeString(Paths.get(watch, "b2.csv"),
      "id,name,state\n103,zeta za,TX\n")
    drive()
    assert(assignments()(103L) == (102L, 1L, 1L), s"got ${assignments()}")

    // kill-and-replay: drop the newest commit marker so the restarted
    // query re-runs batch 1 under the SAME id — the dynamic partition
    // overwrite must rewrite, not duplicate, and the replayed resolve
    // must see the master AS OF before batch 1 (n_matches stays 1)
    val before = assignments()
    val masterBefore = spark.read.parquet(masterDir).count()
    val commits = new org.apache.hadoop.fs.Path(ckpt, "commits")
    val cfs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val markers = cfs.listStatus(commits).map(_.getPath).filter(_.getName.forall(_.isDigit))
    cfs.delete(markers.maxBy(_.getName.toLong), false)
    drive()
    assert(assignments() == before, s"replay changed assignments: ${assignments()} vs $before")
    assert(spark.read.parquet(masterDir).count() == masterBefore)

    // offline compaction: applying the merge log rewrites the master's
    // stored clusters to their effective values (20 -> 10 here), after
    // which the caller truncates the log — the loop's promised closing
    // step
    val compacted = graft.ops.EntityRes.applyMergeLog(
      "cluster", spark.read.parquet(mergesDir))(spark.read.parquet(masterDir))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    assert(compacted == Map(1L -> 10L, 2L -> 10L, 3L -> 3L, 102L -> 102L),
      s"got $compacted")

    // STREAM == BATCH-REPLAY parity (the `StreamScale er` tool's pin at
    // fixture scale): replaying the identical two-batch sequence
    // through the batch faces — incrementalResolveAndMerges plus the
    // same novel accretion — reproduces the stream's assignments
    // row-for-row, so the scale delta between the faces is streaming
    // machinery, never plan semantics
    val seed = Seq(
      (1L, "alpha x", "NY", 10L), (2L, "alpha y", "NY", 20L),
      (3L, "gamma g", "CA", 3L)).toDF("id", "name", "state", "cluster")
    val batches = Seq(
      Seq((101L, "alpha z", "NY"), (102L, "zeta zz", "TX")),
      Seq((103L, "zeta za", "TX")))
    var replayMaster = seed
    val replayAssign = scala.collection.mutable.Map[Long, (Long, Long, Long)]()
    batches.zipWithIndex.foreach { case (rows, b) =>
      val batch = rows.toDF("id", "name", "state")
      val (resolved, _) = graft.ops.EntityRes.incrementalResolveAndMerges(
        "id", "name", Seq("state"), maxDist = 2, maxBlock = 10L,
        clusterCol = "cluster")(batch, replayMaster)
      resolved.collect().foreach(r => replayAssign(r.getLong(0)) =
        (r.getLong(1), r.getLong(2), b.toLong))
      val novelIds = resolved.where(col("n_matches") === 0L)
        .select(col("batch_id").as("id"))
      replayMaster = replayMaster.unionByName(
        batch.join(novelIds, Seq("id"), "left_semi")
          .withColumn("cluster", col("id"))
          .select("id", "name", "state", "cluster"))
    }
    assert(replayAssign.toMap == before, s"replay ${replayAssign.toMap} vs stream $before")
  }

  test("merge-log lifecycle: compact-after-each-batch == raw log chased at the end") {
    // the production reason the compactor exists: a caller may apply
    // the merge log on ANY cadence, and the loop's subsequent
    // assignments must not depend on when. Two runs of the same
    // 2-batch sequence — one leaving the master un-compacted (raw
    // log accumulates), one applying applyMergeLog after every batch
    // — must agree once the raw run's outputs are chased through its
    // final log closure (the SCD effective-cluster contract).
    import graft.ops.EntityRes
    val master0 = Seq(
      (1L, "aaaaaaaa", "NY", 10L), (2L, "aaaaaabb", "NY", 20L),
      (3L, "aaaabbbb", "NY", 30L)).toDF("id", "name", "state", "cluster")
    val batches = Seq(
      // matches 1 and 2 -> merge 20->10
      Seq((101L, "aaaaaaab", "NY")),
      // matches 2 and 3 -> raw run logs 30->20 (stored clusters),
      // compacted run logs 30->10 — the CHAINED case; plus a novel
      Seq((102L, "aaaaabbb", "NY"), (199L, "zzzzzzzz", "NY")))
    def runLoop(compactEachBatch: Boolean): (Map[Long, Long], Map[Long, Long]) = {
      var master = master0
      var rawLog = Seq.empty[(Long, Long)].toDF("old_cluster", "new_cluster")
      val assign = scala.collection.mutable.Map[Long, Long]()
      batches.foreach { rows =>
        val batch = rows.toDF("id", "name", "state")
        val (resolved, merges) = EntityRes.incrementalResolveAndMerges(
          "id", "name", Seq("state"), maxDist = 2, maxBlock = 100L,
          clusterCol = "cluster")(batch, master)
        resolved.collect().foreach(r => assign(r.getLong(0)) = r.getLong(1))
        val novelIds = resolved.where(col("n_matches") === 0L)
          .select(col("batch_id").as("id"))
        master = master.unionByName(
          batch.join(novelIds, Seq("id"), "left_semi")
            .withColumn("cluster", col("id"))
            .select("id", "name", "state", "cluster"))
        if (compactEachBatch)
          master = EntityRes.applyMergeLog("cluster", merges)(master)
            .localCheckpoint(true)
        else rawLog = rawLog.unionByName(merges).localCheckpoint(true)
      }
      val effectiveMaster =
        (if (compactEachBatch) master
         else EntityRes.applyMergeLog("cluster", rawLog)(master))
          .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
      val effectiveAssign =
        if (compactEachBatch) assign.toMap
        else EntityRes.applyMergeLog("cluster",
          rawLog)(assign.toSeq.toDF("id", "cluster"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (effectiveMaster, effectiveAssign)
    }
    val (rawMaster, rawAssign) = runLoop(compactEachBatch = false)
    val (cmpMaster, cmpAssign) = runLoop(compactEachBatch = true)
    assert(rawMaster == cmpMaster, s"raw $rawMaster vs compacted $cmpMaster")
    assert(rawAssign == cmpAssign, s"raw $rawAssign vs compacted $cmpAssign")
    // and the fixture actually exercised the chain: the raw run's
    // batch-2 assignment landed on a PRE-merge cluster id (20), which
    // only the log closure resolves to 10
    assert(cmpAssign(102L) == 10L && cmpAssign(199L) == 199L, s"got $cmpAssign")
    assert(rawMaster(3L) == 10L, s"chained 30->20->10 not collapsed: $rawMaster")
  }

  test("streaming binary ingest: near-dups drop via the index, survivors accrete, index == batch buckets") {
    import java.nio.file.{Files => JFiles, Paths}
    import graft.llm.Multimodal
    val watch = JFiles.createTempDirectory("graft_mmwatch").toString
    val storeDir = JFiles.createTempDirectory("graft_mmstore").toString
    val indexDir = JFiles.createTempDirectory("graft_mmindex").toString
    val ckpt = JFiles.createTempDirectory("graft_mmckpt").toString
    // CSV-safe payloads (letters only — the stream harness rides a
    // header'd CSV drop, so no commas/quotes/newlines). Seeded Random,
    // NOT an arithmetic progression: affine-quadratic generators share
    // long cross-seed runs (the quadratic term cancels at index shifts
    // equal to its modulus), which CDC chunking then finds
    def payload(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      Seq.fill(n)((97 + r.nextInt(26)).toChar).mkString
    }
    val (pA, pB, pC, pD) = (payload(1, 300), payload(2, 300), payload(3, 300), payload(4, 300))
    val theta = 0.25
    def bin(d: org.apache.spark.sql.DataFrame) = Multimodal.withBinaryContent("text")(d)

    val seed = Seq((1L, pA + pB)).toDF("doc_id", "text")
    StreamingIngest.seedBinaryStore(bin(seed), "content", "doc_id",
      storeDir, indexDir, divisor = 16, window = 8)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING")
    def drive(): Unit = runToCompletion(
      StreamingIngest.binaryNearDupIngestStream(spark, watch, schema,
        storeDir, indexDir, ckpt, "doc_id", "text", minJaccard = theta,
        divisor = 16, window = 8, maxDocFreq = 64L)
        .trigger(Trigger.AvailableNow()).start())

    // batch 0: 11 dups the seed store; 12 is novel; 13 near-dups 12
    // within the batch (keep-lowest keeps 12)
    JFiles.writeString(Paths.get(watch, "b1.csv"),
      s"doc_id,text\n11,$pA$pB\n12,$pC$pD\n13,$pC$pD${payload(5, 40)}\n")
    drive()
    def storeIds() = spark.read.parquet(storeDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(storeIds() == Set(1L, 12L), s"got ${storeIds()}")

    // batch 1: 21 near-dups the PAST BATCH'S accreted novel 12 — the
    // evolving index must catch it (the erResolveStream contract);
    // 22 is novel and survives
    JFiles.writeString(Paths.get(watch, "b2.csv"),
      s"doc_id,text\n21,$pC$pD${payload(6, 30)}\n22,${payload(7, 600)}\n")
    drive()
    assert(storeIds() == Set(1L, 12L, 22L), s"got ${storeIds()}")

    // the maintained index is BIT-IDENTICAL to the batch path's chunk
    // index over the final store contents — streaming buckets are the
    // batch buckets, no drift
    val maintained = spark.read.parquet(indexDir)
      .select("doc_id", "chunk_md5", "n_bytes")
    val rebuilt = Multimodal.binaryChunkIndex("content", "doc_id",
      divisor = 16, window = 8)(
      bin(spark.read.parquet(storeDir).select("doc_id", "text")))
    assert(maintained.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(maintained).isEmpty,
      "maintained chunk index != batch-built index over the final store")

    // STREAM == BATCH-REPLAY parity: the identical two-batch sequence
    // through the batch faces (indexed ingest + index delta append)
    // lands the same store ids batch-for-batch
    var replayIndex = Multimodal.binaryChunkIndex("content", "doc_id",
      divisor = 16, window = 8)(bin(seed))
    var replayIds = Set(1L)
    val batchesRows = Seq(
      Seq((11L, pA + pB), (12L, pC + pD), (13L, pC + pD + payload(5, 40))),
      Seq((21L, pC + pD + payload(6, 30)), (22L, payload(7, 600))))
    batchesRows.foreach { rows =>
      val batch = bin(rows.toDF("doc_id", "text"))
      val survivors = Multimodal.binaryIncrementalNearDupIndexed(
        "content", "doc_id", theta, divisor = 16, window = 8, maxDocFreq = 64L)(
        batch, replayIndex).localCheckpoint(true)
      replayIds ++= survivors.select("doc_id").collect().map(_.getLong(0))
      replayIndex = replayIndex.unionByName(
        Multimodal.ingestBinaryChunkIndex("content", "doc_id",
          divisor = 16, window = 8)(survivors, replayIndex))
        .localCheckpoint(true)
    }
    assert(replayIds == storeIds(), s"replay $replayIds vs stream ${storeIds()}")
  }

  test("streaming binary ingest under GEAR: parity with batch replay, tag guard trips on mismatch") {
    import java.nio.file.{Files => JFiles, Paths}
    import graft.llm.Multimodal
    val watch = JFiles.createTempDirectory("graft_mmgwatch").toString
    val storeDir = JFiles.createTempDirectory("graft_mmgstore").toString
    val indexDir = JFiles.createTempDirectory("graft_mmgindex").toString
    val ckpt = JFiles.createTempDirectory("graft_mmgckpt").toString
    def payload(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed + 100)
      Seq.fill(n)((97 + r.nextInt(26)).toChar).mkString
    }
    val (pA, pB, pC, pD) = (payload(1, 300), payload(2, 300), payload(3, 300), payload(4, 300))
    val theta = 0.25
    val gear = Multimodal.GearChunker(divisor = 16, window = 8)
    def bin(d: org.apache.spark.sql.DataFrame) = Multimodal.withBinaryContent("text")(d)

    val seed = Seq((1L, pA + pB)).toDF("doc_id", "text")
    StreamingIngest.seedBinaryStore(bin(seed), "content", "doc_id",
      storeDir, indexDir, gear)
    // the tag guard: a gear-seeded index must refuse an md5 ingest
    // loudly at STREAM SETUP, before any batch can silently miss
    // every cross-face near-dup
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING")
    val mismatch = intercept[IllegalArgumentException] {
      StreamingIngest.binaryNearDupIngestStream(spark, watch, schema,
        storeDir, indexDir, ckpt, "doc_id", "text", minJaccard = theta,
        Multimodal.Md5Chunker(16, 8), maxDocFreq = 64L)
    }
    assert(mismatch.getMessage.contains("gear-16-8"), mismatch.getMessage)
    // and an UNTAGGED index (a bare parquet dir) is refused too
    val bareIdx = JFiles.createTempDirectory("graft_mmgbare").toString
    Multimodal.binaryChunkIndex("content", "doc_id", gear)(bin(seed))
      .withColumn("ingest_batch", org.apache.spark.sql.functions.lit(-1L))
      .write.partitionBy("ingest_batch").mode("overwrite").parquet(bareIdx)
    intercept[IllegalStateException] {
      StreamingIngest.binaryNearDupIngestStream(spark, watch, schema,
        storeDir, bareIdx, ckpt, "doc_id", "text", minJaccard = theta,
        gear, maxDocFreq = 64L)
    }

    def drive(): Unit = runToCompletion(
      StreamingIngest.binaryNearDupIngestStream(spark, watch, schema,
        storeDir, indexDir, ckpt, "doc_id", "text", minJaccard = theta,
        gear, maxDocFreq = 64L)
        .trigger(Trigger.AvailableNow()).start())
    JFiles.writeString(Paths.get(watch, "b1.csv"),
      s"doc_id,text\n11,$pA$pB\n12,$pC$pD\n13,$pC$pD${payload(5, 40)}\n")
    drive()
    JFiles.writeString(Paths.get(watch, "b2.csv"),
      s"doc_id,text\n21,$pC$pD${payload(6, 30)}\n22,${payload(7, 600)}\n")
    drive()
    def storeIds() = spark.read.parquet(storeDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(storeIds() == Set(1L, 12L, 22L), s"got ${storeIds()}")

    // maintained gear index == batch-built gear index over the final
    // store — bit-identical buckets, exactly the md5 twin's pin
    val maintained = spark.read.parquet(indexDir)
      .select("doc_id", "chunk_md5", "n_bytes")
    val rebuilt = Multimodal.binaryChunkIndex("content", "doc_id", gear)(
      bin(spark.read.parquet(storeDir).select("doc_id", "text")))
    assert(maintained.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(maintained).isEmpty,
      "maintained gear chunk index != batch-built gear index over the final store")

    // STREAM == BATCH-REPLAY parity under gear, batch for batch
    var replayIndex = Multimodal.binaryChunkIndex("content", "doc_id", gear)(bin(seed))
    var replayIds = Set(1L)
    Seq(
      Seq((11L, pA + pB), (12L, pC + pD), (13L, pC + pD + payload(5, 40))),
      Seq((21L, pC + pD + payload(6, 30)), (22L, payload(7, 600)))
    ).foreach { rows =>
      val batch = bin(rows.toDF("doc_id", "text"))
      val survivors = Multimodal.binaryIncrementalNearDupIndexed(
        "content", "doc_id", theta, gear, maxDocFreq = 64L)(
        batch, replayIndex).localCheckpoint(true)
      replayIds ++= survivors.select("doc_id").collect().map(_.getLong(0))
      replayIndex = replayIndex.unionByName(
        Multimodal.ingestBinaryChunkIndex("content", "doc_id", gear)(
          survivors, replayIndex))
        .localCheckpoint(true)
    }
    assert(replayIds == storeIds(), s"replay $replayIds vs stream ${storeIds()}")
  }

  test("mid-stream erase: erased content stops matching, index stays consistent with the store") {
    import java.nio.file.{Files => JFiles, Paths}
    import graft.llm.Multimodal
    val watch = JFiles.createTempDirectory("graft_mmewatch").toString
    val storeDir = JFiles.createTempDirectory("graft_mmestore").toString
    val indexDir = JFiles.createTempDirectory("graft_mmeindex").toString
    val ckpt = JFiles.createTempDirectory("graft_mmeckpt").toString
    def payload(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed + 500)
      Seq.fill(n)((97 + r.nextInt(26)).toChar).mkString
    }
    val (pA, pB) = (payload(1, 300), payload(2, 300))
    val gear = Multimodal.GearChunker(divisor = 16, window = 8)
    def bin(d: org.apache.spark.sql.DataFrame) = Multimodal.withBinaryContent("text")(d)
    StreamingIngest.seedBinaryStore(bin(Seq((1L, payload(9, 600))).toDF("doc_id", "text")),
      "content", "doc_id", storeDir, indexDir, gear)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("doc_id LONG, text STRING")
    def drive(): Unit = runToCompletion(
      StreamingIngest.binaryNearDupIngestStream(spark, watch, schema,
        storeDir, indexDir, ckpt, "doc_id", "text", minJaccard = 0.25,
        gear, maxDocFreq = 64L)
        .trigger(Trigger.AvailableNow()).start())
    // batch 0 accretes novel doc 12
    JFiles.writeString(Paths.get(watch, "b1.csv"), s"doc_id,text\n12,$pA$pB\n")
    drive()
    def storeIds() = spark.read.parquet(storeDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(storeIds() == Set(1L, 12L))
    // QUIESCED erase of doc 12 from store + index (the erase contract:
    // never racing an in-flight replay)
    Multimodal.eraseBinaryStore(spark, storeDir, indexDir, "doc_id",
      Seq(12L).toDF("doc_id"))
    assert(storeIds() == Set(1L))
    // batch 1 re-offers 12's CONTENT under a new id: with 12 erased it
    // must SURVIVE — a leftover index row would resurrect the deleted
    // doc as a phantom match partner and silently drop the newcomer
    JFiles.writeString(Paths.get(watch, "b2.csv"), s"doc_id,text\n31,$pA$pB\n")
    drive()
    assert(storeIds() == Set(1L, 31L), s"got ${storeIds()}")
    // and the maintained index still equals the batch rebuild over the
    // post-erase store — subsequent ingests stayed consistent
    val maintained = spark.read.parquet(indexDir)
      .select("doc_id", "chunk_md5", "n_bytes")
    val rebuilt = Multimodal.binaryChunkIndex("content", "doc_id", gear)(
      bin(spark.read.parquet(storeDir).select("doc_id", "text")))
    assert(maintained.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(maintained).isEmpty,
      "post-erase maintained index != batch-built index over the surviving store")
  }

  test("streaming KN model: merged count deltas == from-scratch model; scores identical") {
    import java.nio.file.{Files => JFiles, Paths}
    import graft.llm.LangModel
    val watch = JFiles.createTempDirectory("graft_knwatch").toString
    val modelDir = JFiles.createTempDirectory("graft_knmodel").toString
    val ckpt = JFiles.createTempDirectory("graft_knckpt").toString
    val seed = Seq((0L, "a b a b")).toDF("doc_id", "text")
    LangModel.seedKnModel(seed, "text", modelDir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING")
    def drive(): Unit = runToCompletion(
      StreamingIngest.knModelStream(spark, watch, schema, modelDir, ckpt, "text")
        .trigger(Trigger.AvailableNow()).start())
    // batch 0 overlaps the seed's grams (counts must ADD, not dedup);
    // batch 1 brings novel grams
    JFiles.writeString(Paths.get(watch, "b1.csv"),
      "doc_id,text\n4,a b c\n8,b a\n")
    drive()
    JFiles.writeString(Paths.get(watch, "b2.csv"), "doc_id,text\n12,x y\n")
    drive()

    val all = seed.unionByName(Seq(
      (4L, "a b c"), (8L, "b a"), (12L, "x y")).toDF("doc_id", "text"))
    val maintained = LangModel.loadKnCounts(spark, modelDir)
    val rebuilt = LangModel.refBigramCounts(all, "text")
    assert(maintained.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(maintained).isEmpty,
      "maintained KN counts != from-scratch counts")
    // and the scores read from the maintained store are bit-identical
    val probeDocs = Seq((100L, "a b"), (101L, "c x"), (102L, "y")).toDF("doc_id", "text")
    val viaStore = LangModel.withKnScoreFromCounts(probeDocs, maintained,
      "doc_id", "text").collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val fromScratch = LangModel.withKnScore(probeDocs, all, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaStore == fromScratch, s"store $viaStore vs scratch $fromScratch")

    // offline compaction: the delta partitions merged into one seed
    // partition in a fresh dir — scores must not move (additivity)
    val compactDir = JFiles.createTempDirectory("graft_kncompact").toString
    LangModel.compactKnModel(spark, modelDir, compactDir)
    val viaCompact = LangModel.withKnScoreFromCounts(probeDocs,
      LangModel.loadKnCounts(spark, compactDir), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaCompact == fromScratch, s"compact $viaCompact vs scratch $fromScratch")
    // and the compacted store is a single -1 partition
    // the partition column reads back type-inferred (int for small
    // values) — cast before collecting
    val batches = spark.read.parquet(compactDir)
      .select(col("ingest_batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(batches == Set(-1L), s"got partitions $batches")
  }

  test("streaming KN3 model: two-order deltas == from-scratch; compaction and erase invariant") {
    import java.nio.file.{Files => JFiles, Paths}
    import graft.llm.LangModel
    val watch = JFiles.createTempDirectory("graft_kn3watch").toString
    val modelDir = JFiles.createTempDirectory("graft_kn3model").toString
    val ckpt = JFiles.createTempDirectory("graft_kn3ckpt").toString
    val seed = Seq((0L, "a b c a b")).toDF("doc_id", "text")
    LangModel.seedKn3Model(seed, "text", modelDir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING")
    def drive(): Unit = runToCompletion(
      StreamingIngest.kn3ModelStream(spark, watch, schema, modelDir, ckpt, "text")
        .trigger(Trigger.AvailableNow()).start())
    JFiles.writeString(Paths.get(watch, "b1.csv"),
      "doc_id,text\n4,a b c d\n8,b c a\n")
    drive()
    JFiles.writeString(Paths.get(watch, "b2.csv"), "doc_id,text\n12,x y z\n")
    drive()

    val all = seed.unionByName(Seq(
      (4L, "a b c d"), (8L, "b c a"), (12L, "x y z")).toDF("doc_id", "text"))
    val probeDocs = Seq((100L, "a b c"), (101L, "c d x"), (102L, "y")).toDF("doc_id", "text")
    def score(tri: org.apache.spark.sql.DataFrame, bg: org.apache.spark.sql.DataFrame) =
      LangModel.withKn3ScoreFromCounts(probeDocs, tri, bg, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val (triM, bgM) = LangModel.loadKn3Counts(spark, modelDir)
    val viaStore = score(triM, bgM)
    val fromScratch = LangModel.withKn3Score(probeDocs, all, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaStore == fromScratch, s"store $viaStore vs scratch $fromScratch")

    // compaction: scores invariant, store collapses to one partition
    val compactDir = JFiles.createTempDirectory("graft_kn3compact").toString
    LangModel.compactKn3Model(spark, modelDir, compactDir)
    val (triC, bgC) = LangModel.loadKn3Counts(spark, compactDir)
    assert(score(triC, bgC) == fromScratch, "compaction moved kn3 scores")
    val batches = spark.read.parquet(compactDir)
      .select(col("ingest_batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(batches == Set(-1L), s"got partitions $batches")

    // erase: negating doc 12's deltas leaves exactly the model a
    // rebuild over the survivors would produce (both orders' censuses)
    LangModel.eraseKn3Model(Seq((12L, "x y z")).toDF("doc_id", "text"),
      "text", modelDir, batchId = 99L)
    val (triE, bgE) = LangModel.loadKn3Counts(spark, modelDir)
    val survivors = seed.unionByName(Seq(
      (4L, "a b c d"), (8L, "b c a")).toDF("doc_id", "text"))
    val fromSurvivors = LangModel.withKn3Score(probeDocs, survivors, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(score(triE, bgE) == fromSurvivors, "post-erase kn3 model != rebuild over survivors")
  }

  test("streaming IVF ingest: maintained layout == batch rebuild; probe answers identical") {
    import java.nio.file.{Files => JFiles, Paths}
    import graft.llm.Ivf
    val watch = JFiles.createTempDirectory("graft_ivfwatch").toString
    val layout = JFiles.createTempDirectory("graft_ivflayout").toString
    val ckpt = JFiles.createTempDirectory("graft_ivfckpt").toString
    // two clean 2-d clusters; the model is trained ONCE and pinned —
    // the stream only ever assigns under it
    val corpus = Seq(
      (1L, Array(0.0, 1.0)), (2L, Array(0.1, 0.9)),
      (3L, Array(1.0, 0.0)), (4L, Array(0.9, 0.1))).toDF("vec_id", "embedding")
    val model = Ivf.train(corpus, "embedding", k = 2)
    StreamingIngest.seedIvfLayout(corpus, "vec_id", "embedding", model, layout)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id LONG, emb STRING")
    def drive(): Unit = runToCompletion(
      StreamingIngest.ivfIngestStream(spark, watch, schema, layout, ckpt,
        "vec_id", "emb", "embedding", model)
        .trigger(Trigger.AvailableNow()).start())
    JFiles.writeString(Paths.get(watch, "b1.csv"),
      "vec_id,emb\n11,0.05;0.95\n12,0.95;0.05\n")
    drive()
    JFiles.writeString(Paths.get(watch, "b2.csv"), "vec_id,emb\n21,0.2;0.8\n")
    drive()

    // maintained layout rows == a batch assign over everything that
    // ever arrived — cells identical, nothing lost or duplicated
    val arrived = Seq(
      (11L, Array(0.05, 0.95)), (12L, Array(0.95, 0.05)), (21L, Array(0.2, 0.8)))
    val all = corpus.unionByName(arrived.toDF("vec_id", "embedding"))
    val rebuilt = Ivf.assign(all, "vec_id", "embedding", model)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val maintained = spark.read.parquet(layout)
      .select(col("vec_id"), col("centroid_id").cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(maintained == rebuilt, s"stream layout $maintained vs batch $rebuilt")

    // probe parity: the pruned read over the maintained layout answers
    // exactly what the in-memory IVF answers over the same vectors
    val probes = Seq((100L, Array(0.0, 0.95)), (101L, Array(0.9, 0.0)))
      .toDF("vec_id", "embedding")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "neighbor_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaLayout = key(Ivf.cellLayoutTopK(spark, layout, probes,
      "vec_id", "embedding", model, k = 3, nProbe = 1))
    val viaMemory = key(Ivf.ivfTopK(all, probes, "vec_id", "embedding", model,
      k = 3, nProbe = 1))
    assert(viaLayout == viaMemory, s"layout $viaLayout vs memory $viaMemory")
  }

  test("streaming QUANT IVF ingest: maintained codes == batch quantize; probe answers identical") {
    import java.nio.file.{Files => JFiles, Paths}
    import graft.llm.Ivf
    val watch = JFiles.createTempDirectory("graft_ivfqwatch").toString
    val layout = JFiles.createTempDirectory("graft_ivfqlayout").toString
    val ckpt = JFiles.createTempDirectory("graft_ivfqckpt").toString
    val corpus = Seq(
      (1L, Array(0.0, 1.0)), (2L, Array(0.1, 0.9)),
      (3L, Array(1.0, 0.0)), (4L, Array(0.9, 0.1))).toDF("vec_id", "embedding")
    val model = Ivf.train(corpus, "embedding", k = 2)
    StreamingIngest.seedIvfQuantLayout(corpus, "vec_id", "embedding", model, layout)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id LONG, emb STRING")
    def drive(): Unit = runToCompletion(
      StreamingIngest.ivfQuantIngestStream(spark, watch, schema, layout, ckpt,
        "vec_id", "emb", "embedding", model)
        .trigger(Trigger.AvailableNow()).start())
    JFiles.writeString(Paths.get(watch, "b1.csv"),
      "vec_id,emb\n11,0.05;0.95\n12,0.95;0.05\n")
    drive()
    JFiles.writeString(Paths.get(watch, "b2.csv"), "vec_id,emb\n21,0.2;0.8\n")
    drive()

    val arrived = Seq(
      (11L, Array(0.05, 0.95)), (12L, Array(0.95, 0.05)), (21L, Array(0.2, 0.8)))
    val all = corpus.unionByName(arrived.toDF("vec_id", "embedding"))
    // probe parity on the quantized tier: the pruned code read over
    // the maintained layout answers exactly what the in-memory
    // quantized search answers — stored codes rank AS-IS
    val probes = Seq((100L, Array(0.0, 0.95)), (101L, Array(0.9, 0.0)))
      .toDF("vec_id", "embedding")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "neighbor_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaLayout = key(Ivf.quantCellLayoutTopK(spark, layout, probes,
      "vec_id", "embedding", model, k = 3, nProbe = 1))
    val viaMemory = key(Ivf.ivfQuantTopK(all, probes, "vec_id", "embedding", model,
      k = 3, nProbe = 1))
    assert(viaLayout == viaMemory, s"layout $viaLayout vs memory $viaMemory")
    // and an at-least-once REPLAY shape: re-writing batch 1's rows
    // into its own partition is idempotent (dynamic overwrite), so
    // layout rows stay one-per-vector
    val n = spark.read.parquet(layout).count()
    assert(n == 7L, s"expected 7 layout rows, got $n")
  }
}
