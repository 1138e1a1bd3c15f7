package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row

import graft.io.{Ingestion, NestedStore}

/** Structured Streaming surface. The reference's only "stream" is an
  * event-at-a-time Lambda (Data_Ingestion_Python.py:196-275 —
  * at-least-once, per-file micro-batch); readStream file-source +
  * foreachBatch reproduces exactly that contract with checkpointed
  * exactly-once batches. Watermarked windows and mapGroupsWithState
  * are the beyond-reference operators a training-data feed needs.
  */
object StreamingIngest {

  /** The shared CSV drop-watch source behind every ingest variant —
    * the tuning (header, maxFilesPerTrigger) lives in one place so it
    * cannot silently diverge between them.
    */
  private def csvSource(spark: SparkSession, watchDir: String, schema: StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("header", "true")
      .option("maxFilesPerTrigger", 16)
      .csv(watchDir)

  /** Streaming equivalent of the ingestion Lambda: watch a directory
    * for CSV drops, apply the same nullFill+metadata transforms, nest
    * per micro-batch, append to the keyed store.
    */
  def ingestStream(
      spark: SparkSession,
      watchDir: String,
      schema: StructType,
      k1: String,
      k2: String,
      storeDir: String,
      checkpointDir: String): DataStreamWriter[Row] = {
    val raw = csvSource(spark, watchDir, schema)
    val cleaned = Ingestion.withFileMetadata(Ingestion.nullFill(raw))
    cleaned.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          NestedStore.nest(batch, k1, k2)
            .write.mode("append").partitionBy(k1, k2).parquet(storeDir)
      }
  }

  /** [[ingestStream]] with the reference Lambda's true sink
    * semantics: each micro-batch UPSERTS its keys (per-key `put_item`,
    * Data_Ingestion_Python.py:132-139 — the new document replaces the
    * old one for that (study_code, view)) instead of appending. Wired
    * through [[NestedStore.upsert]]'s dynamic partition overwrite in
    * foreachBatch, so a re-dropped file refreshes its own keys'
    * partitions and never rewrites — or duplicates into — the rest of
    * the store. foreachBatch is at-least-once on retry, and that is
    * exactly why upsert is the right sink: replaying a batch rewrites
    * the same partitions to the same content (idempotent), where the
    * append sink would double the rows. Streaming == batch parity is
    * spec-pinned (StreamingSpec): the streamed store equals
    * write(A) + upsert(B) applied in batch.
    */
  def upsertStream(
      spark: SparkSession,
      watchDir: String,
      schema: StructType,
      k1: String,
      k2: String,
      storeDir: String,
      checkpointDir: String): DataStreamWriter[Row] = {
    val raw = csvSource(spark, watchDir, schema)
    val cleaned = Ingestion.withFileMetadata(Ingestion.nullFill(raw))
    cleaned.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          NestedStore.upsert(NestedStore.nest(batch, k1, k2), storeDir, k1, k2)
      }
  }

  /** Streaming data-quality gate: evaluate a declarative rule set
    * ([[graft.ops.DataQuality]]) over a CSV drop stream and append
    * the violating (key, rule) rows to a quarantine-audit sink.
    * [[graft.ops.DataQuality.rowFlags]] is a pure row map (zero
    * shuffles), so it lifts onto the unbounded frame unchanged — no
    * foreachBatch, no state, exactly-once via the checkpointed file
    * sink; streaming == batch parity is spec-pinned (StreamingSpec).
    * The operational shape: violations land in the audit store as
    * data arrives, instead of a nightly full-scan audit discovering
    * them a day late.
    */
  def dqViolationsStream(
      spark: SparkSession,
      watchDir: String,
      schema: StructType,
      rules: Seq[graft.ops.DataQuality.Rule],
      keyCols: Seq[String],
      outDir: String,
      checkpointDir: String): DataStreamWriter[Row] = {
    val raw = csvSource(spark, watchDir, schema)
    graft.ops.DataQuality.rowFlags(raw, rules, keyCols)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .option("path", outDir)
      .outputMode(OutputMode.Append())
      .format("parquet")
  }

  /** Streaming incremental-view maintenance: fold each micro-batch
    * into a persistent [[graft.ops.Ivm]] state store — the standing
    * rollup refreshes as data arrives, reading state + delta, never
    * history. The merge is NOT naturally idempotent (re-merging a
    * replayed batch double-counts, unlike [[upsertStream]]'s
    * overwrite), and foreachBatch is at-least-once on retry — so the
    * commit is batch-id-gated: the staged state directory carries a
    * `_ivm_batch` marker written BEFORE the atomic swap-in (underscore
    * files are invisible to the parquet reader), and a batch whose id
    * is already recorded is skipped. Marker and data commit in one
    * rename — a crash between them is impossible, which upgrades
    * at-least-once delivery to exactly-once state. Same stage-and-swap
    * discipline as [[NestedStore.compact]], including stage-out
    * rollback.
    *
    * Batch ids are only meaningful within ONE checkpoint lifecycle: a
    * fresh checkpointDir renumbers batches from 0 and re-reads every
    * file in watchDir, so comparing new ids against an old marker
    * would silently skip genuinely new data (and merging would
    * double-count the re-read files). The marker therefore also
    * records the streaming query id from `checkpointDir/metadata` —
    * stable across restarts of the same checkpoint, fresh when the
    * checkpoint is recreated — and a mismatch fails loudly instead of
    * guessing: resume with the original checkpoint, or start a fresh
    * stateDir with the new one.
    */
  def ivmStateStream(
      spark: SparkSession,
      watchDir: String,
      schema: StructType,
      keys: Seq[String],
      valueCol: String,
      stateDir: String,
      checkpointDir: String): DataStreamWriter[Row] = {
    val raw = csvSource(spark, watchDir, schema)
    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val state = new org.apache.hadoop.fs.Path(stateDir)
          val fs = state.getFileSystem(s.sparkContext.hadoopConfiguration)
          val marker = new org.apache.hadoop.fs.Path(stateDir, "_ivm_batch")
          // The checkpoint's query id is the lifecycle identity batch
          // ids are scoped to (written by Spark before the first batch;
          // recreated checkpoint -> new id).
          val metaPath = new org.apache.hadoop.fs.Path(checkpointDir, "metadata")
          // the checkpoint may live on a different filesystem than the
          // state dir (e.g. local ckpt + object-store state) — resolve
          // its OWN fs or Hadoop throws "Wrong FS"
          val ckptFs = metaPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          val queryId: String =
            if (ckptFs.exists(metaPath)) {
              val in = ckptFs.open(metaPath)
              val txt = try new String(
                in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
              finally in.close()
              "\"id\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(txt)
                .map(_.group(1)).getOrElse("unknown")
            } else "unknown"
          val committed = fs.exists(marker) && {
            val in = fs.open(marker)
            val lines = try new String(
              in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
              .trim.split("\n").toSeq
            finally in.close()
            val markerQid = lines.drop(1).headOption.map(_.trim)
            if (markerQid.exists(q => q != "unknown" && queryId != "unknown" && q != queryId))
              throw new IllegalStateException(
                s"ivmStateStream: state at $stateDir was committed under streaming query " +
                  s"${markerQid.get} but this run's checkpoint $checkpointDir is query " +
                  s"$queryId — batch ids are not comparable across checkpoint lifecycles " +
                  "(a fresh checkpoint renumbers from 0 and re-reads the whole watch dir, " +
                  "so merging would double-count and skipping would lose data). Resume " +
                  "with the original checkpoint, or point this run at a fresh stateDir.")
            lines.head.trim.toLong >= batchId
          }
          if (!committed) {
            val tmp = new org.apache.hadoop.fs.Path(stateDir + "__staging")
            val old = new org.apache.hadoop.fs.Path(stateDir + "__prev")
            // crash-window recovery FIRST — before the exists(state)
            // probe below and before any delete: an attempt that died
            // between the stage-out and swap-in renames left the ONLY
            // copy of the rollup history at __prev with stateDir
            // missing. Deleting __prev (or building `merged` off the
            // missing state dir) would make the replayed batch commit
            // delta-only state — silent loss of every prior batch.
            // Restore it; the replay then re-merges onto the restored
            // history (its marker holds the prior batch id, so
            // `committed` above was correctly false).
            if (fs.exists(old) && !fs.exists(state))
              require(fs.rename(old, state),
                s"ivmStateStream: could not restore staged-out state from $old")
            val delta = graft.ops.Ivm.state(keys, valueCol)(batch)
            val merged =
              if (fs.exists(state))
                graft.ops.Ivm.merge(keys)(s.read.parquet(stateDir), delta)
              else delta
            fs.delete(tmp, true); fs.delete(old, true)
            merged.write.mode("overwrite").parquet(tmp.toString)
            val out = fs.create(new org.apache.hadoop.fs.Path(tmp, "_ivm_batch"), true)
            try out.write(s"$batchId\n$queryId"
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            finally out.close()
            val hadState = fs.exists(state)
            if (hadState)
              require(fs.rename(state, old), s"ivmStateStream: could not stage out $stateDir")
            if (!fs.rename(tmp, state)) {
              val restored = !hadState || fs.rename(old, state)
              throw new IllegalStateException(
                s"ivmStateStream: could not swap in $tmp" +
                  (if (restored) s" (previous state restored at $stateDir)"
                   else s" (STATE MISSING at $stateDir — manual repair from $old)"))
            }
            fs.delete(old, true)
            ()
          }
        }
      }
  }

  /** Watermarked tumbling-window aggregation over an event stream —
    * late data beyond the watermark is dropped, state is bounded.
    */
  def windowedCounts(
      events: DataFrame,
      tsCol: String = "ts",
      keyCol: String = "event_type",
      valueCol: String = "value",
      windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n_events"), max(col(valueCol)).as("max_value"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("n_events"), col("max_value"))

  /** Watermarked windowed approx-NDV — the streaming face of the
    * sketch family ([[graft.llm.Sketch.approxNdv]]): HLL++ registers
    * merge associatively, so the same fixed ~(1.04/rsd)² words that
    * bound the batch exchange bound the per-window state-store entry —
    * constant state per (window, key) at ANY input rate, where an
    * exact streaming NDV would buffer every distinct value. Late data
    * beyond the watermark is dropped; the batch twin (same plan minus
    * the watermark) is spec-pinned equal on identical input.
    */
  def windowedNdv(
      events: DataFrame,
      tsCol: String = "ts",
      keyCol: String = "event_type",
      valueCol: String = "user_id",
      windowLen: String = "1 hour",
      watermark: String = "2 hours",
      rsd: Double = 0.02): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(approx_count_distinct(col(valueCol), rsd).as("approx_ndv"))
      .select(col("window.start").as("window_start"), col(keyCol), col("approx_ndv"))

  /** Per-user session state via mapGroupsWithState: counts events and
    * (when `gapMs` is set) closes the session after that much
    * processing-time inactivity — the custom-state pattern
    * (KeyValueGroupedDataset) for anything windows can't express.
    * `gapMs = None` runs with NoTimeout: pure accumulation, and the
    * query can terminate under Trigger.AvailableNow (pending
    * processing-time timers otherwise keep it alive forever).
    */
  final case class SessionUpdate(userId: Long, nEvents: Long, closed: Boolean)

  def sessionize(
      events: DataFrame,
      gapMs: Option[Long] = Some(30 * 60 * 1000L)): org.apache.spark.sql.Dataset[SessionUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    val timeout = if (gapMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
                  else GroupStateTimeout.NoTimeout
    events.select(col("user_id").cast("long")).as[Long]
      .groupByKey(identity)
      .mapGroupsWithState[Long, SessionUpdate](timeout) {
        (user: Long, rows: Iterator[Long], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            val n = state.getOption.getOrElse(0L)
            state.remove()
            SessionUpdate(user, n, closed = true)
          } else {
            val n = state.getOption.getOrElse(0L) + rows.size
            state.update(n)
            gapMs.foreach(state.setTimeoutDuration)
            SessionUpdate(user, n, closed = false)
          }
      }
  }

  /** Gap-based sessionization as a BATCH query — the classic
    * lag/cumsum formulation and the batch twin of [[sessionize]]:
    * a session breaks where the gap to the previous event exceeds
    * `gapMinutes`. One shuffle on the user key; the running window
    * and the session aggregation reuse the same partitioning. All
    * arithmetic is integer micros, so results are engine-exact.
    */
  def sessionizeBatch(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      idCol: String = "event_id",
      gapMinutes: Int = 30): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val gapMicros = gapMinutes * 60L * 1000000L
    val prev = lag(col(tsCol), 1).over(w)
    val tagged = events.withColumn("__new",
      when(prev.isNull || unix_micros(col(tsCol)) - unix_micros(prev) > gapMicros, 1)
        .otherwise(0))
    tagged
      .withColumn("session_seq",
        sum(col("__new")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col(userCol), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"), max(col(tsCol)).as("session_end"))
  }

  /** Streaming exact dedup: drop duplicate document ids/digests
    * within the watermark horizon — the streaming face of
    * Dedup.exactDedup for a continuously-ingesting corpus. State is
    * bounded by the watermark (an unbounded dropDuplicates would
    * grow state forever at 100 TB/day feeds).
    */
  def streamingDedup(
      docs: DataFrame,
      keyCols: Seq[String],
      tsCol: String = "ts",
      watermark: String = "1 hour"): DataFrame =
    docs.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Streaming NEAR-dup dedup: [[streamingDedup]] keyed on the
    * normalized-content fingerprint instead of raw ids — copies that
    * differ only by case/punctuation/whitespace noise and arrive
    * within the watermark horizon collapse to their first occurrence.
    * The streaming face of TextAnalysis.withFingerprint + exact
    * dedup; MinHash-LSH near-dup stays a batch compaction pass
    * (banded self-joins need the full corpus in view).
    */
  def streamingFingerprintDedup(
      docs: DataFrame,
      textCol: String,
      tsCol: String = "ts",
      watermark: String = "1 hour"): DataFrame = {
    val clash = docs.columns.toSet.intersect(Set("__fp", "__fp_rn"))
    require(clash.isEmpty,
      s"streamingFingerprintDedup uses internal columns ${clash.mkString(", ")} " +
        "already present in the input — rename them first (the pipeline would " +
        "silently clobber and then DROP the caller's column)")
    val fp = graft.llm.TextAnalysis.withFingerprint(textCol, "__fp")(docs)
    // batch twin: dropDuplicatesWithinWatermark is streaming-only, so
    // a static frame keeps the EARLIEST row per fingerprint (window
    // keep-first on the event time, text as tie-break) — deterministic,
    // unlike dropDuplicates' arbitrary survivor, and the batch analogue
    // of streaming's keep-first-arrival semantics. This is what makes
    // the composed gate's batch twin ORACLE-gateable (w6), not just
    // spec-pinned.
    val deduped =
      if (fp.isStreaming)
        fp.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark("__fp")
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__fp")).orderBy(col(tsCol).asc, col(textCol).asc)
        fp.withColumn("__fp_rn", row_number().over(w))
          .where(col("__fp_rn") === 1).drop("__fp_rn")
      }
    deduped.drop("__fp")
  }

  /** Streaming incremental ingest against an accumulated STORE: drop
    * arriving rows whose content digest already exists in the static
    * store — [[graft.llm.Dedup.incrementalDedup]]'s steady-state
    * shape as a stream-static LEFT ANTI join (stream side left,
    * static digest set right), which Structured Streaming runs
    * STATELESSLY: the static side is planned per micro-batch, no
    * watermark, no state store, append-mode safe. Compose with
    * [[streamingFingerprintDedup]] for within-stream dups — this
    * guards against the already-stored corpus, that against the
    * stream's own redeliveries.
    *
    * At 100 TB the static side should be the store's pre-computed
    * digest TABLE (16 bytes/doc, bucketed by digest —
    * [[graft.io.Bucketing]]); re-digesting raw bodies per micro-batch
    * is the same cost trap the batch scaladoc documents.
    */
  def streamingIncrementalIngest(
      docs: DataFrame,
      store: DataFrame,
      textCol: String): DataFrame =
    graft.llm.Dedup.incrementalDedup(textCol, docs, store)

  /** Streaming MinHash-LSH near-dup PAIRS: a watermarked stream-stream
    * self-join on (band, band_hash) surfaces near-duplicate documents
    * that arrive within `horizon` of each other — the streaming face
    * of Dedup.nearDupPairs. (A full-corpus banded compaction still
    * needs the batch pass; this catches the dominant streaming case —
    * re-crawls and mirrors land close together in time.)
    *
    * Per-row mechanics, all stateless so the stream stays append-mode:
    *  - the signature uses the EXPRESSION form (Dedup.minhashSignature)
    *    — per-row, no aggregation barrier needed since nothing here
    *    re-inlines it into a Generate;
    *  - band hashes come from Dedup.bandHashes, so streaming buckets
    *    are bit-identical to the batch LSH index;
    *  - similarity is ESTIMATED from the signatures (fraction of
    *    agreeing minhash positions — the standard unbiased Jaccard
    *    estimator) rather than re-shingling both sides: the join state
    *    then carries numPerm longs per doc, never the document body.
    *
    * State is bounded twice: the join condition's symmetric `horizon`
    * bound lets each side drop buffered rows once the other's
    * watermark passes, and the final duplicate-pair collapse (a pair
    * can collide in several bands) is dropDuplicatesWithinWatermark.
    * On a BATCH frame the same plan runs with plain dropDuplicates —
    * the spec pins streaming == batch on identical input.
    */
  def streamingNearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String = "ts",
      horizon: String = "30 minutes",
      watermark: String = "1 hour",
      threshold: Double = 0.5,
      numPerm: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3): DataFrame = {
    val sig = graft.llm.Dedup.minhashSignature(
      array_distinct(graft.llm.Dedup.shingles(textCol, shingleK)), numPerm)
    val banded = docs
      .select(col(idCol), col(tsCol), sig.as("__sig"))
      .select(col(idCol), col(tsCol), col("__sig"),
        posexplode(graft.llm.Dedup.bandHashes(col("__sig"), numPerm, bands))
          .as(Seq("band", "band_hash")))
    def side(tag: String) = {
      val renamed = banded.select(
        col(idCol).as(s"id_$tag"), col(tsCol).as(s"ts_$tag"),
        col("__sig").as(s"sig_$tag"),
        col("band").as(s"band_$tag"), col("band_hash").as(s"bh_$tag"))
      if (renamed.isStreaming) renamed.withWatermark(s"ts_$tag", watermark) else renamed
    }
    // id_a < id_b rides OUTSIDE the join condition: Spark's streaming
    // state-watermark extraction walks every </<= predicate in the
    // condition looking for time bounds and cannot evaluate a plain
    // id inequality there (INTERNAL_ERROR in StreamingJoinHelper);
    // as a post-join filter it's the same result with no state impact.
    val joined = side("a").join(side("b"),
      expr(s"""band_a = band_b AND bh_a = bh_b
              |AND ts_b BETWEEN ts_a - INTERVAL $horizon AND ts_a + INTERVAL $horizon""".stripMargin))
      .where(col("id_a") < col("id_b"))
    val est = joined
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (s, x) => s + x)
          .cast("double") / numPerm)
      .where(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"), col("ts_a").as("ts"))
    // no second withWatermark: ts is ts_a renamed, and its watermark
    // PROPAGATES through the join — redefining one after a stateful
    // operator is disallowed (chained-stateful-operator rule)
    if (est.isStreaming) est.dropDuplicatesWithinWatermark("id_a", "id_b")
    else est.dropDuplicates("id_a", "id_b")
  }

  /** Stream-stream event-time join: clicks attributed to purchases
    * within the preceding `window` — the streaming face of
    * [[graft.ops.RangeJoin]]'s attribution query. Both sides carry
    * watermarks and the join condition carries the time bound, so
    * each side's buffered state is dropped once the other side's
    * watermark passes the bound — bounded state at any input rate,
    * the canonical Structured Streaming interval-join pattern.
    */
  def streamingAttribution(
      clicks: DataFrame,
      purchases: DataFrame,
      window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark).alias("c")
    val p = purchases.withWatermark("ts", watermark).alias("p")
    c.join(p,
      expr(s"c.user_id = p.user_id AND c.ts BETWEEN p.ts - INTERVAL $window AND p.ts"))
      .select(col("c.click_id"), col("c.user_id"), col("c.ts").as("click_ts"),
        col("p.purchase_id"), col("p.ts").as("purchase_ts"))
  }

  /** The same windowed aggregation as a BATCH query (identical plan
    * semantics minus the watermark) — lets the driver's DuckDB oracle
    * pin the window arithmetic that the streaming path shares.
    */
  def windowedCountsBatch(
      events: DataFrame,
      tsCol: String = "ts",
      keyCol: String = "event_type",
      valueCol: String = "value",
      windowLen: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n_events"), max(col(valueCol)).as("max_value"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("n_events"), col("max_value"))

  /** Seed the [[erResolveStream]] master store: the resolved master
    * written under lifecycle partition `ingest_batch = -1` (the
    * pre-stream state — streaming micro-batches accrete novels into
    * their own `ingest_batch = <id>` partitions beside it). `master`
    * must already carry the cluster column.
    */
  def seedErMaster(master: DataFrame, masterDir: String): Unit =
    master.withColumn("ingest_batch", lit(-1L))
      .write.partitionBy("ingest_batch").mode("overwrite").parquet(masterDir)

  /** Streaming entity resolution against an EVOLVING master — the
    * steady-state CDC loop of [[graft.ops.EntityRes]] run as a
    * drop-watch stream. Each micro-batch of arriving records:
    *
    *   1. resolves against the CURRENT master
    *      ([[graft.ops.EntityRes.incrementalResolveAndMerges]] —
    *      matched rows land on the post-merge cluster min, novels
    *      become their own new cluster, `n_matches = 0` marks them
    *      loudly);
    *   2. appends the assignments to `outDir`;
    *   3. accretes the NOVEL rows into `masterDir` as new entities
    *      (cluster = own id) — so a later batch matching a past
    *      batch's novel resolves to it (spec-pinned);
    *   4. appends the micro-batch's master-cluster MERGE evidence to
    *      `mergesDir` as a remap LOG — the merges come from the SAME
    *      persisted candidate-pair plan as the assignments (the tuple
    *      face), so the blocked join + Levenshtein (and the banded
    *      explodes) run once per micro-batch, not twice. `mergesDir`
    *      is seeded with an empty typed partition on first start, so
    *      the compaction read works before any merge is logged.
    *
    * The merge log is deliberately a log, not an in-place master
    * rewrite: applying remaps means rewriting arbitrary master
    * partitions per micro-batch — the full-store write a streaming
    * loop must not pay. The documented contract is the SCD-style one:
    * a master row's EFFECTIVE cluster is its stored cluster chased
    * through the remap log's closure, and the caller compacts
    * (applies the log and truncates it) on their own offline cadence.
    * Until compaction, later batches may match a master row under its
    * pre-merge cluster id — the assignment is still correct after
    * log-chasing, never silently wrong.
    *
    * Idempotence: every sink write (assignments, novels, merges) is a
    * dynamic partition OVERWRITE keyed on `ingest_batch = batchId`,
    * so foreachBatch's at-least-once replay of a batch rewrites its
    * own partitions byte-identically instead of duplicating — within
    * one checkpoint lifecycle (batch ids renumber under a fresh
    * checkpoint; same caveat as [[ivmStateStream]], here made safe by
    * partition overwrite rather than marker-gating ONLY if the
    * re-grouped drops land in the same partitions — reuse the
    * checkpoint, or reseed the sinks with it).
    *
    * Scale shape per micro-batch: the batch-vs-master blocked join
    * (never batch×batch / master×master), pairs-sized aggregations,
    * and a batch-sized novel write; the master is read fresh each
    * batch so accreted novels are visible to the next one. `bands`
    * engages the banded hot-block remedy exactly as in batch.
    */
  def erResolveStream(
      spark: SparkSession,
      watchDir: String,
      schema: StructType,
      masterDir: String,
      outDir: String,
      mergesDir: String,
      checkpointDir: String,
      idCol: String,
      nameCol: String,
      blockCols: Seq[String],
      maxDist: Int,
      maxBlock: Long,
      clusterCol: String,
      bands: Option[org.apache.spark.sql.Column] = None,
      adaptive: Boolean = false): DataStreamWriter[Row] = {
    val raw = csvSource(spark, watchDir, schema)
    // seed the merge log with an empty TYPED partition (the
    // seedErMaster discipline): a stream whose batches never log a
    // merge would otherwise leave mergesDir footer-less (dynamic
    // partition overwrite of an empty frame writes no files) and the
    // documented compaction read — spark.read.parquet(mergesDir) —
    // would fail schema inference until the first real merge. The
    // cluster type comes from the (already-seeded) master store;
    // idempotent on restart: an existing seed partition is left alone
    locally {
      import org.apache.hadoop.fs.Path
      val seedPath = new Path(mergesDir, "ingest_batch=-1")
      val fs = seedPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(seedPath)) {
        val clusterType = spark.read.parquet(masterDir).schema(clusterCol).dataType
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("old_cluster", clusterType),
          org.apache.spark.sql.types.StructField("new_cluster", clusterType)))
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
          .write.mode("overwrite").parquet(seedPath.toString)
      }
    }
    def overwritePartition(df: DataFrame, dir: String, batchId: Long): Unit =
      df.withColumn("ingest_batch", lit(batchId))
        .write.partitionBy("ingest_batch").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic").parquet(dir)
    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          // the master AS OF before this batch (partition-pruned):
          // an at-least-once REPLAY must not see the crashed
          // attempt's own novel partition, or former novels would
          // match their own copies (n_matches 1, loudness lost) and
          // the rewrite would not be byte-identical
          val master = s.read.parquet(masterDir)
            .where(col("ingest_batch") < lit(batchId))
          // ONE persisted pair plan yields both faces — resolving and
          // merge-logging separately would re-pay the blocked join +
          // Levenshtein (and the banded explodes) per micro-batch,
          // the exact ~3× double bill the batch face's sharing
          // removed (SCALE.md round 15)
          // adaptive: the steady-state loop is where the idle-cap
          // price recurs — most micro-batches have NO hot block, and
          // the eager block-count-sized hot set skips the banded arm
          // exactly on those batches (SCALE.md round 17)
          val (resolved, merges) = graft.ops.EntityRes.incrementalResolveAndMerges(
            idCol, nameCol, blockCols, maxDist, maxBlock, clusterCol, bands,
            adaptive)(batch, master)
          overwritePartition(resolved, outDir, batchId)
          val novelIds = resolved.where(col("n_matches") === 0L)
            .select(col("batch_id").as(idCol))
          val novel = batch.join(novelIds, Seq(idCol), "left_semi")
            .withColumn(clusterCol, col(idCol))
          overwritePartition(novel, masterDir, batchId)
          overwritePartition(merges, mergesDir, batchId)
          ()
        }
      }
  }

  /** Seed the binary store AND its chunk index before the streaming
    * loop starts — the [[seedErMaster]] discipline for
    * [[binaryNearDupIngestStream]]: both tables get an
    * `ingest_batch = -1` partition so the loop's as-of reads
    * (`ingest_batch < batchId`) see the pre-stream corpus from batch
    * 0 on, and the index read never hits a footer-less directory.
    * `store` must carry the BINARY column `binCol`; the index is
    * derived from it here once ([[graft.llm.Multimodal
    * .binaryChunkIndex]]) — the only full-store chunking pass the
    * steady state ever pays.
    */
  def seedBinaryStore(
      store: DataFrame,
      binCol: String,
      idCol: String,
      storeDir: String,
      indexDir: String,
      divisor: Int = 32,
      window: Int = 8): Unit =
    seedBinaryStore(store, binCol, idCol, storeDir, indexDir,
      graft.llm.Multimodal.Md5Chunker(divisor, window))

  /** [[seedBinaryStore]] under an explicit chunker — the production
    * entry seeds with [[graft.llm.Multimodal.GearChunker]]. The
    * chunker identity is persisted beside the index
    * ([[graft.llm.Multimodal.writeChunkerTag]]) and demanded back by
    * the streaming loop, so a gear-built index can never silently
    * meet md5-chunked batches (or vice versa).
    */
  def seedBinaryStore(
      store: DataFrame,
      binCol: String,
      idCol: String,
      storeDir: String,
      indexDir: String,
      chunker: graft.llm.Multimodal.Chunker): Unit = {
    store.withColumn("ingest_batch", lit(-1L))
      .write.partitionBy("ingest_batch").mode("overwrite").parquet(storeDir)
    graft.llm.Multimodal.binaryChunkIndex(binCol, idCol, chunker)(store)
      .withColumn("ingest_batch", lit(-1L))
      .write.partitionBy("ingest_batch").mode("overwrite").parquet(indexDir)
    graft.llm.Multimodal.writeChunkerTag(store.sparkSession, indexDir, chunker)
  }

  /** Streaming binary near-dup ingest against an EVOLVING store — the
    * multimodal twin of [[erResolveStream]], closing the streaming
    * family: each micro-batch of arriving rows
    *
    *   1. drops every binary with a CDC-chunk near-duplicate already
    *      in the store, reading the store side from its PERSISTED
    *      chunk index ([[graft.llm.Multimodal
    *      .binaryIncrementalNearDupIndexed]]) — store BYTES are never
    *      re-chunked in the loop, the exact amortization the batch
    *      face documents;
    *   2. near-dedups the survivors among themselves (keep-lowest,
    *      same divisor/window/threshold/cap — one notion of "near");
    *   3. appends the survivors to `storeDir`;
    *   4. appends the survivors' chunk-index DELTA to `indexDir`
    *      ([[graft.llm.Multimodal.ingestBinaryChunkIndex]]) — so the
    *      NEXT batch's candidates include this batch's accretions,
    *      and the index stays definitionally equal to
    *      `binaryChunkIndex(store)` (bit-identical buckets to the
    *      batch path; parity is spec-pinned).
    *
    * The arriving CSV rows carry TEXT (`textCol`) which is encoded to
    * the binary column inside the loop — the same harness the gate
    * queries use, because a CSV drop cannot carry raw bytes;
    * production swaps the source for a binary-bearing parquet /
    * binaryFile stream and skips the encode, nothing downstream
    * changes. Idempotence is [[erResolveStream]]'s: every write is a
    * dynamic partition OVERWRITE keyed on `ingest_batch = batchId`,
    * and both as-of reads exclude the crashed attempt's own partition
    * (`< batchId`), so an at-least-once replay rewrites its own
    * partitions byte-identically.
    *
    * Scale shape per micro-batch: the batch's own chunking (twice —
    * once inside the ingest, once for the delta; both batch-bounded),
    * index-sized aggregations, and the cap-bounded posting join —
    * nothing store-CONTENT-sized moves, ever.
    */
  def binaryNearDupIngestStream(
      spark: SparkSession,
      watchDir: String,
      schema: StructType,
      storeDir: String,
      indexDir: String,
      checkpointDir: String,
      idCol: String,
      textCol: String,
      minJaccard: Double,
      divisor: Int = 32,
      window: Int = 8,
      maxDocFreq: Long = 1000L): DataStreamWriter[Row] =
    binaryNearDupIngestStream(spark, watchDir, schema, storeDir, indexDir,
      checkpointDir, idCol, textCol, minJaccard,
      graft.llm.Multimodal.Md5Chunker(divisor, window), maxDocFreq)

  /** [[binaryNearDupIngestStream]] under an explicit chunker — the
    * PRODUCTION loop runs [[graft.llm.Multimodal.GearChunker]] (the
    * native per-byte rate instead of the md5 gate face's). The
    * index's persisted `_chunker_spec` marker is demanded to match at
    * stream setup ([[graft.llm.Multimodal.requireChunkerTag]]) — the
    * one moment the mismatch is cheap to catch; every batch then
    * chunks with the same face that built and maintains the index.
    * Everything else — idempotent partition overwrites, as-of reads,
    * parity with the batch path — is face-independent (parity under
    * Gear is spec-pinned in StreamingSpec exactly like the md5 pin).
    */
  def binaryNearDupIngestStream(
      spark: SparkSession,
      watchDir: String,
      schema: StructType,
      storeDir: String,
      indexDir: String,
      checkpointDir: String,
      idCol: String,
      textCol: String,
      minJaccard: Double,
      chunker: graft.llm.Multimodal.Chunker,
      maxDocFreq: Long): DataStreamWriter[Row] = {
    graft.llm.Multimodal.requireChunkerTag(spark, indexDir, chunker)
    val raw = csvSource(spark, watchDir, schema)
    def overwritePartition(df: DataFrame, dir: String, batchId: Long): Unit =
      df.withColumn("ingest_batch", lit(batchId))
        .write.partitionBy("ingest_batch").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic").parquet(dir)
    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        if (!batch0.isEmpty) {
          val s = batch0.sparkSession
          val batch = graft.llm.Multimodal.withBinaryContent(textCol)(batch0)
          val index = s.read.parquet(indexDir)
            .where(col("ingest_batch") < lit(batchId))
            .select(col(idCol), col("chunk_md5"), col("n_bytes"))
          // survivors feed TWO sinks (store append + index delta) —
          // batch-bounded, so the incrementalNearDedup checkpoint
          // discipline applies rather than replaying the ingest plan
          val survivors = graft.llm.Multimodal.binaryIncrementalNearDupIndexed(
            "content", idCol, minJaccard, chunker, maxDocFreq)(batch, index)
            .localCheckpoint(true)
          overwritePartition(survivors, storeDir, batchId)
          val delta = graft.llm.Multimodal.ingestBinaryChunkIndex(
            "content", idCol, chunker)(survivors, index)
          overwritePartition(delta, indexDir, batchId)
          ()
        }
      }
  }

  /** Streaming IVF index maintenance — the ANN family's steady-state
    * twin, completing the pattern every other family already has
    * ([[binaryNearDupIngestStream]], [[erResolveStream]]): arriving
    * vectors are assigned under the PINNED model ([[graft.llm.Ivf
    * .saveModel]] discipline — training never happens in the loop)
    * and appended into the partitioned cell layout, so
    * [[graft.llm.Ivf.cellLayoutTopK]] sees them on its next probe
    * with no rebuild and no loss of directory pruning.
    *
    * The arriving CSV rows carry the vector as a `;`-joined string
    * (`vecTextCol`) — a CSV drop cannot carry arrays; production
    * swaps the source for parquet/Kafka and skips the parse, nothing
    * downstream changes. Parse is `transform(split(·))` — per-row,
    * codegen, no UDF.
    *
    * Idempotence is [[erResolveStream]]'s: the layout gains
    * `ingest_batch` as a SECOND partition level under `centroid_id`
    * and every write is a dynamic partition overwrite keyed on
    * `ingest_batch = batchId`, so an at-least-once replay rewrites
    * its own partitions byte-identically while probe reads still
    * prune on the leading `centroid_id` directory. Per micro-batch,
    * work is batch-bounded: one assign pass (k·d broadcast model) and
    * one partitioned write — the store is never read in the loop.
    */
  def ivfIngestStream(
      spark: SparkSession,
      watchDir: String,
      schema: StructType,
      layoutDir: String,
      checkpointDir: String,
      idCol: String,
      vecTextCol: String,
      vecCol: String,
      model: graft.llm.Ivf.IvfModel): DataStreamWriter[Row] = {
    val raw = csvSource(spark, watchDir, schema)
    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        if (!batch0.isEmpty) {
          val parsed = batch0.withColumn(vecCol,
            expr(s"transform(split($vecTextCol, ';'), x -> cast(x AS double))"))
            .select(col(idCol), col(vecCol))
          graft.llm.Ivf.assign(parsed, idCol, vecCol, model)
            .withColumn("ingest_batch", lit(batchId))
            .write.partitionBy("centroid_id", "ingest_batch").mode("overwrite")
            .option("partitionOverwriteMode", "dynamic").parquet(layoutDir)
          ()
        }
      }
  }

  /** Seed the streaming IVF layout: the pre-existing corpus written
    * once as `ingest_batch = -1` partitions under each cell — the
    * [[seedBinaryStore]] shape, so stream appends and the seed are
    * indistinguishable to a probe read.
    */
  def seedIvfLayout(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      model: graft.llm.Ivf.IvfModel,
      layoutDir: String): Unit =
    graft.llm.Ivf.assign(corpus, idCol, vecCol, model)
      .withColumn("ingest_batch", lit(-1L))
      .write.partitionBy("centroid_id", "ingest_batch")
      .mode("overwrite").parquet(layoutDir)

  /** Streaming maintenance of the QUANTIZED IVF layout — the
    * [[ivfIngestStream]] twin for the store the search tier actually
    * serves from ((id, scale, codes) behind cell-directory pruning):
    * arriving vectors are quantized + assigned under the PINNED model
    * and appended as their own `ingest_batch` partitions under each
    * touched cell. Same CSV harness, same idempotence (dynamic
    * partition overwrite keyed on `ingest_batch = batchId`), same
    * batch-bounded cost — the store is never read and never
    * re-quantized in the loop. Parity with the batch append face is
    * spec-pinned (StreamingSpec): streamed layout answers ==
    * rebuild-layout answers, probe for probe.
    */
  def ivfQuantIngestStream(
      spark: SparkSession,
      watchDir: String,
      schema: StructType,
      layoutDir: String,
      checkpointDir: String,
      idCol: String,
      vecTextCol: String,
      vecCol: String,
      model: graft.llm.Ivf.IvfModel): DataStreamWriter[Row] = {
    val raw = csvSource(spark, watchDir, schema)
    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        if (!batch0.isEmpty) {
          val parsed = batch0.withColumn(vecCol,
            expr(s"transform(split($vecTextCol, ';'), x -> cast(x AS double))"))
            .select(col(idCol), col(vecCol))
          graft.llm.Ivf.quantAssignedForStream(parsed, idCol, vecCol, model)
            .withColumn("ingest_batch", lit(batchId))
            .write.partitionBy("centroid_id", "ingest_batch").mode("overwrite")
            .option("partitionOverwriteMode", "dynamic").parquet(layoutDir)
          ()
        }
      }
  }

  /** Seed the streaming quantized layout — the [[seedIvfLayout]]
    * shape for the (id, scale, codes) store.
    */
  def seedIvfQuantLayout(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      model: graft.llm.Ivf.IvfModel,
      layoutDir: String): Unit =
    graft.llm.Ivf.quantAssignedForStream(corpus, idCol, vecCol, model)
      .withColumn("ingest_batch", lit(-1L))
      .write.partitionBy("centroid_id", "ingest_batch")
      .mode("overwrite").parquet(layoutDir)

  /** Streaming KN model maintenance — the LM family's steady-state
    * twin: each micro-batch of arriving TRUSTED-reference documents
    * lands its bigram count delta as its own `ingest_batch` partition
    * ([[graft.llm.LangModel.ingestKnModel]]), so the live model
    * ([[graft.llm.LangModel.loadKnCounts]] — one vocab-bounded merge
    * at read) stays definitionally equal to a from-scratch
    * [[graft.llm.LangModel.refBigramCounts]] over everything ever
    * offered; counts are additive, so parity is exact, not
    * approximate (spec-pinned, scores included). Idempotence is
    * [[erResolveStream]]'s: the delta write is a dynamic partition
    * overwrite keyed on `ingest_batch = batchId`. Per micro-batch
    * cost is batch-bounded (one explode + one vocab-bounded
    * aggregation); the store and its text are never read in the loop.
    */
  def knModelStream(
      spark: SparkSession,
      watchDir: String,
      schema: StructType,
      modelDir: String,
      checkpointDir: String,
      textCol: String): DataStreamWriter[Row] = {
    val raw = csvSource(spark, watchDir, schema)
    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.llm.LangModel.ingestKnModel(batch, textCol, modelDir, batchId)
      }
  }

  /** [[knModelStream]] at the production n-gram order: each
    * micro-batch lands its TWO-ORDER count delta (trigram + bigram
    * backoff, [[graft.llm.LangModel.ingestKn3Model]]) as its own
    * `ingest_batch` partition — same additivity, same idempotence,
    * same batch-bounded cost; the merged store stays definitionally
    * equal to a from-scratch build over everything ever offered
    * (spec-pinned, kn3 scores included).
    */
  def kn3ModelStream(
      spark: SparkSession,
      watchDir: String,
      schema: StructType,
      modelDir: String,
      checkpointDir: String,
      textCol: String): DataStreamWriter[Row] = {
    val raw = csvSource(spark, watchDir, schema)
    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.llm.LangModel.ingestKn3Model(batch, textCol, modelDir, batchId)
      }
  }

  /** The whole ingest-curation stack as ONE streaming pipeline — the
    * canonical "crawl feed → training store" gate:
    *
    *  1. quality rules ([[graft.llm.TextAnalysis.gopherFilter]]) —
    *     stateless row predicate, drops junk before anything pays for
    *     it;
    *  2. benchmark decontamination
    *     ([[graft.llm.Decontam.streamingDecontamFilter]]) — stateless
    *     n-gram predicate over the embedded eval-gram set, so eval
    *     data can never enter the store;
    *  3. within-stream near-dup collapse
    *     ([[streamingFingerprintDedup]]) — watermark-bounded state on
    *     normalized-content fingerprints, catches the stream's own
    *     redeliveries and trivial variants;
    *  4. store-level incremental dedup
    *     ([[streamingIncrementalIngest]]) — stream-static LEFT ANTI
    *     against the accumulated corpus's digest set, stateless per
    *     micro-batch.
    *
    * Ordering is cost-ordered: both stateless predicates run before
    * the stateful dedup so rejected rows never enter the state store,
    * and the store anti-join sees only survivors. Append-mode safe
    * end to end (the only state is the watermarked fingerprint
    * dedup). On a BATCH frame the same composition runs with plain
    * dropDuplicates inside streamingFingerprintDedup's operator —
    * StreamingSpec pins streaming == batch on identical input.
    */
  def streamingCurationGate(
      docs: DataFrame,
      store: DataFrame,
      benchGramSet: Seq[String],
      textCol: String = "text",
      tsCol: String = "ts",
      stopwords: Seq[String] = graft.llm.TextAnalysis.gopherStopwords,
      watermark: String = "1 hour",
      decontamN: Int = 5): DataFrame = {
    val quality = graft.llm.TextAnalysis.gopherFilter(textCol, stopwords)(docs)
    val clean = graft.llm.Decontam
      .streamingDecontamFilter(quality, benchGramSet, textCol, decontamN)
    val deduped = streamingFingerprintDedup(clean, textCol, tsCol, watermark)
    streamingIncrementalIngest(deduped, store, textCol)
  }
}
