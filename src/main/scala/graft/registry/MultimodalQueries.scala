package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{ParquetResolver, StudyRunner, Interpreter, PipelineContext}
import graft.io.{ConfigReader, Export, NestedStore, Standardized}
import graft.llm.{Dedup, Multimodal, Similarity, Sketch, TextAnalysis}
import graft.model._
import graft.ops.Ops
import graft.streaming.Streams

/** Query registry — multimodal binary columns: header decodes (PNG/JPEG/WAV/MP4), byte stats, chunking, feature stubs.
  *
  * Split out of SparkEntry (round 13) purely for maintainability: the
  * public driver contract is still `SparkEntry.queries` /
  * `SparkEntry.oracleSql`, which concatenate the per-family maps.
  * Helpers shared across families live in [[QueryHelpers]].
  */
private[graft] object MultimodalQueries {
  import QueryHelpers._

  val queries: Map[String, (SparkSession, String) => DataFrame] = reg(

    // ===== LLM pipeline: multimodal =====
    "mm_binary_meta" -> ((s, d) =>
      Multimodal.withBinaryMeta("content")(
        Multimodal.withBinaryContent("text")(t(s, d, "documents")))
        .select("doc_id", "n_bytes", "content_sha256")),
    "mm_chunks" -> ((s, d) =>
      Multimodal.chunkBinary("content", 100)(
        Multimodal.withBinaryContent("text")(t(s, d, "documents")))
        .select(col("doc_id"), col("chunk_idx"), decode(col("chunk"), "UTF-8").as("chunk_str"))),
    // REAL header decode over synthesized-but-valid PNG/JPEG byte
    // streams (and raw text as the unrecognized branch): the parser is
    // the general segment walker, the fixture varies the SOF offset
    // per row, the oracle states the dimensions closed-form
    "mm_decode" -> ((s, d) => {
      val withImg = t(s, d, "documents")
        .withColumn("content", Multimodal.synthMediaContent(col("doc_id"), col("text")))
      Multimodal.withImageMeta("content")(withImg)
        .select(col("doc_id"), col("media_meta.format").as("format"),
          col("media_meta.width").as("width"), col("media_meta.height").as("height"),
          octet_length(col("content")).as("n_bytes"))
    }),
    // REAL WAV header decode over the synthesized RIFF stream — the
    // audio twin of mm_decode; LIST chunks at variable offsets and
    // odd-size alignment pads are part of the fixture
    "mm_audio_meta" -> ((s, d) => {
      val withWav = t(s, d, "documents")
        .withColumn("content", Multimodal.synthAudioContent(col("doc_id"), col("text")))
      Multimodal.withAudioMeta("content")(withWav)
        .select(col("doc_id"), col("audio_meta.format").as("format"),
          col("audio_meta.channels").as("channels"),
          col("audio_meta.sample_rate").as("sample_rate"),
          col("audio_meta.bits_per_sample").as("bits_per_sample"),
          col("audio_meta.n_frames").as("n_frames"))
    }),
    // REAL MP4 box-walk over the synthesized ISO-BMFF stream — the
    // video leg of the image/audio/video trio; variable-size free
    // boxes at BOTH nesting levels and mvhd v0/v1 are in the fixture
    "mm_video_meta" -> ((s, d) => {
      val withMp4 = t(s, d, "documents")
        .withColumn("content", Multimodal.synthVideoContent(col("doc_id"), col("text")))
      Multimodal.withVideoMeta("content")(withMp4)
        .select(col("doc_id"), col("video_meta.format").as("format"),
          col("video_meta.brand").as("brand"),
          col("video_meta.timescale").as("timescale"),
          col("video_meta.duration").as("duration"))
    }),
    // REAL per-chunk byte features: the batched feature-extract pass
    // (histogram stats + Shannon entropy) over 100-byte chunks.
    // Entropy is rounded to 4dp on both sides — the two engines sum
    // the same c*ln(c) terms in different orders (~1e-13 apart), and
    // at 4dp the odds of that perturbation straddling a rounding
    // boundary are negligible (6dp left a ~1e-7 per-chunk flake).
    "mm_features" -> ((s, d) =>
      Multimodal.withByteStats("chunk")(
        Multimodal.chunkBinary("content", 100)(
          Multimodal.withBinaryContent("text")(t(s, d, "documents"))))
        .select(col("doc_id"), col("chunk_idx"),
          col("byte_stats.n_bytes").as("n_bytes"),
          col("byte_stats.n_distinct").as("n_distinct"),
          col("byte_stats.byte_sum").as("byte_sum"),
          col("byte_stats.n_printable").as("n_printable"),
          round(col("byte_stats.entropy"), 4).as("entropy"))),
    // whole-doc normalized 16-bin byte histogram, posexploded to
    // scalar rows (same array-compare rationale as vec_slice_ops)
    "mm_byte_hist" -> ((s, d) =>
      Multimodal.withByteHist("content", bins = 16)(
        Multimodal.withBinaryContent("text")(t(s, d, "documents")))
        .select(col("doc_id"), posexplode(col("byte_hist")).as(Seq("bin_idx", "p")))),
    // CONTENT-level fingerprints (round 16): byte-granularity CDC
    // chunk inventory — every chunk digest occurring twice or more,
    // with row spread and occurrence count (the dedup_cdc_chunks
    // shape over BYTES instead of words); boundaries are the md5
    // window hash over the hex transcription, replayed per byte in
    // the oracle
    "mm_cdc_chunks" -> ((s, d) =>
      Multimodal.binaryCdcChunks("content", "doc_id", divisor = 16, window = 8)(
        Multimodal.withBinaryContent("text")(t(s, d, "documents")))
        .groupBy("chunk_md5")
        .agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occurrences"),
          max(col("n_bytes")).as("n_bytes"))
        .filter(col("n_occurrences") >= 2)),
    // content-level binary near-dup: pairs whose CDC chunk-digest
    // sets overlap (chunk Jaccard >= 0.3) via the inverted index on
    // chunk_md5 — never all-pairs — with the df cap (64) dropping
    // boilerplate chunks from the posting list before the self-join
    // (the text family's maxDocFreq contract, replayed exactly)
    "mm_neardup_pairs" -> ((s, d) =>
      Multimodal.binaryNearDupPairs("content", "doc_id", minJaccard = 0.3,
        divisor = 16, window = 8, maxDocFreq = 64L)(
        Multimodal.withBinaryContent("text")(t(s, d, "documents")))),
    // the whole-store AUDIT face (round 17): the same pairs computed
    // entirely from the persisted chunk index — store bytes never
    // read; shares mm_neardup_pairs' oracle so index-path ==
    // chunk-path is hash-checked
    "mm_neardup_pairs_indexed" -> ((s, d) => {
      val docs = Multimodal.withBinaryContent("text")(t(s, d, "documents"))
      val idxPath = scratch(s"mm_pairs_index_${Integer.toHexString(d.hashCode)}")
      Multimodal.binaryChunkIndex("content", "doc_id", divisor = 16, window = 8)(docs)
        .write.mode("overwrite").parquet(idxPath)
      Multimodal.binaryNearDupPairsIndexed("doc_id", minJaccard = 0.3,
        maxDocFreq = 64L)(s.read.parquet(idxPath))
    }),
    // the per-row coverage face: fraction of each binary's bytes in
    // chunks shared with ANOTHER row, zero-filled per source row
    "mm_neardup_coverage" -> ((s, d) =>
      Multimodal.binaryDupCoverage("content", "doc_id", divisor = 16, window = 8)(
        Multimodal.withBinaryContent("text")(t(s, d, "documents")))),
    // keep-lowest representative per binary near-dup relation (the
    // dedup_near_keep face over bytes); the binary content column is
    // dropped from the OUTPUT only (pandas can't sort bytes)
    "mm_neardup_keep" -> ((s, d) =>
      Multimodal.binaryNearDedup("content", "doc_id", minJaccard = 0.3,
        divisor = 16, window = 8, maxDocFreq = 64L)(
        Multimodal.withBinaryContent("text")(t(s, d, "documents")))
        .drop("content")),
    // transitive binary near-dup groups (label prop over the chunk
    // pair graph); oracle = pairs replay + recursive reachability walk
    "mm_neardup_clusters" -> ((s, d) =>
      Multimodal.binaryNearDupClusters("content", "doc_id", minJaccard = 0.3,
        divisor = 16, window = 8, maxDocFreq = 64L)(
        Multimodal.withBinaryContent("text")(t(s, d, "documents")))),
    // steady-state binary ingest (the dedup_incremental_near twin):
    // batch = every 5th row, store = the rest; drop batch binaries
    // with a store chunk-near-dup (cap on the STORE side's chunk df),
    // then keep-lowest among the batch survivors
    "mm_neardup_incremental" -> ((s, d) => {
      val docs = Multimodal.withBinaryContent("text")(t(s, d, "documents"))
      Multimodal.binaryIncrementalNearDup("content", "doc_id", minJaccard = 0.3,
        divisor = 16, window = 8, maxDocFreq = 64L)(
        docs.where(col("doc_id") % 5 === 0),
        docs.where(col("doc_id") % 5 =!= 0))
        .drop("content")
    }),
    // the PRODUCTION boundary detector (native Gear rolling hash,
    // round 17): gated on its oracle-expressible invariant — chunks
    // PARTITION each binary exactly (per-doc byte sums reassemble the
    // content; empty docs produce no rows). Boundary placement has no
    // practical SQL replay (the 64-term shifted gear chain) and is
    // pinned generatively instead: LlmSpec replays the whole
    // construction independently and pins shift invariance
    "mm_gear_reassembly" -> ((s, d) =>
      Multimodal.binaryCdcChunksGear("content", "doc_id", divisor = 16, window = 8)(
        Multimodal.withBinaryContent("text")(t(s, d, "documents")))
        .groupBy("doc_id")
        .agg(sum(col("n_bytes")).as("n_bytes"), count(lit(1)).cast("long").as("n_chunks"))
        .select(col("doc_id"), col("n_bytes"),
          // n_chunks itself is boundary-dependent (not replayable);
          // its oracle-checkable face is the partition bound 1 <=
          // n_chunks <= n_bytes, emitted as a flag so a degenerate
          // chunker (zero or per-byte-spray) fails the hash gate
          (col("n_chunks") >= 1L && col("n_chunks") <= col("n_bytes")).as("chunks_bounded"))),
    // the same steady-state ingest through the PERSISTED chunk index
    // (round 17): the index is built from the store once, written
    // beside it, read back, and the incremental face never touches
    // store bytes — the oracle is byte-identical to
    // mm_neardup_incremental's replay, so index-path == rechunk-path
    // is hash-checked, not asserted
    "mm_neardup_incr_indexed" -> ((s, d) => {
      val docs = Multimodal.withBinaryContent("text")(t(s, d, "documents"))
      val idxPath = scratch(s"mm_chunk_index_${Integer.toHexString(d.hashCode)}")
      Multimodal.binaryChunkIndex("content", "doc_id", divisor = 16, window = 8)(
        docs.where(col("doc_id") % 5 =!= 0))
        .write.mode("overwrite").parquet(idxPath)
      Multimodal.binaryIncrementalNearDupIndexed("content", "doc_id", minJaccard = 0.3,
        divisor = 16, window = 8, maxDocFreq = 64L)(
        docs.where(col("doc_id") % 5 === 0),
        s.read.parquet(idxPath))
        .drop("content")
    }),
    // deletion propagation for the chunk index (round 18): seed the
    // store + index pair, ERASE a slice of docs from both (partition
    // rewrites + emptied-partition deletes), output the POST-ERASE
    // index — the oracle rebuilds the index from the SURVIVING corpus
    // closed-form, so a resurrected chunk row (or an over-deleted
    // one) is a hash mismatch
    "mm_erase_index" -> ((s, d) => {
      val docs = Multimodal.withBinaryContent("text")(t(s, d, "documents"))
      val storeDir = scratch(s"mm_erase_store_${Integer.toHexString(d.hashCode)}")
      val indexDir = scratch(s"mm_erase_index_${Integer.toHexString(d.hashCode)}")
      graft.streaming.StreamingIngest.seedBinaryStore(
        docs.where(col("doc_id") % 5 =!= 0), "content", "doc_id",
        storeDir, indexDir, Multimodal.Md5Chunker(16, 8))
      // accrete a second partition the batch way so the erase crosses
      // partition boundaries (seed = -1, batch = 0)
      val idx0 = s.read.parquet(indexDir).select("doc_id", "chunk_md5", "n_bytes")
      Streams.writeBatch(Multimodal.ingestBinaryChunkIndex("content", "doc_id",
        Multimodal.Md5Chunker(16, 8))(docs.where(col("doc_id") % 5 === 0), idx0), indexDir, 0L)
      Streams.writeBatch(docs.where(col("doc_id") % 5 === 0), storeDir, 0L)
      Multimodal.eraseBinaryStore(s, storeDir, indexDir, "doc_id",
        docs.where(col("doc_id") % 7 === 0).select("doc_id"))
      s.read.parquet(indexDir).select("doc_id", "chunk_md5", "n_bytes")
    }),
    // the PRODUCTION ingest under the GEAR chunker (round 18): the
    // whole indexed steady-state path — gear index build, gear batch
    // chunking, cross-table drop, within-batch keep-lowest — gated
    // EXACTLY despite gear boundaries having no SQL replay, because
    // the fixture's near-dup structure is BOUNDARY-INDEPENDENT by
    // construction: content is md5-expanded bytes of a canonical id
    // (cid), so two rows are either byte-IDENTICAL (same cid — same
    // chunks under ANY content-defined chunker, jaccard 1) or share
    // no byte runs at all (distinct md5 streams — jaccard 0). The
    // planting: batch rows ≡0 (mod 10) copy store row id+1 (dropped
    // against the store), batch rows ≡15 (mod 20) copy batch row
    // id-10 (keep-lowest within batch); everything else is unique.
    // The oracle replays the PLANTING closed-form — no chunk
    // arithmetic, no table-size assumptions
    "mm_neardup_incr_gear" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val cid = when(col("doc_id") % 10 === 0, col("doc_id") + 1)
        .when(col("doc_id") % 20 === 15, col("doc_id") - 10)
        .otherwise(col("doc_id"))
      // 16 chained md5 blocks = 256 pseudo-random bytes per row —
      // ~16 expected chunks at divisor 16, so the jaccard stages see
      // real chunk sets, not single-chunk degenerates
      val content = unhex(concat((0 until 16).map(k =>
        md5(concat(lit("g18:"), cid.cast("string"), lit(s":$k")))): _*))
      val withC = docs.withColumn("content", content)
      val gear = Multimodal.GearChunker(divisor = 16, window = 8)
      val idxPath = scratch(s"mm_gear_index_${Integer.toHexString(d.hashCode)}")
      Multimodal.binaryChunkIndex("content", "doc_id", gear)(
        withC.where(col("doc_id") % 5 =!= 0))
        .write.mode("overwrite").parquet(idxPath)
      Multimodal.binaryIncrementalNearDupIndexed("content", "doc_id", minJaccard = 0.3,
        gear, maxDocFreq = 64L)(
        withC.where(col("doc_id") % 5 === 0),
        s.read.parquet(idxPath))
        .drop("content")
    }),
  )

  val oracleSql: Map[String, String] = {
    val dup = oracleSqlHead.keySet.intersect(oracleSqlRest.keySet)
    require(dup.isEmpty, s"duplicate oracle name(s) across the file's halves: $dup")
    oracleSqlHead ++ oracleSqlRest
  }

  // the map is split around the shared-oracle defs purely for source
  // layout; the require above keeps ++ loud on an accidental overlap
  private lazy val oracleSqlHead: Map[String, String] = reg(
    "mm_binary_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes, sha256(text) AS content_sha256
        |FROM documents""".stripMargin,
    "mm_chunks" ->
      """SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx, substr(text, CAST(i * 100 + 1 AS INTEGER), 100) AS chunk_str
        |FROM (SELECT doc_id, text,
        |        unnest(generate_series(0, CAST(ceil(length(text) / 100.0) AS BIGINT) - 1)) AS i
        |      FROM documents)""".stripMargin,
    // closed-form statement of what a correct header parser must
    // return for the synthMediaContent fixture (PNG = 33 bytes fixed;
    // baseline JPEG = 45 + COM pad; EXIF/SOF2 JPEG = 33 + APP1 pad;
    // text rows decode to null)
    "mm_decode" ->
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' END AS format,
        |  CASE WHEN doc_id % 3 IN (0, 1) THEN CAST(doc_id % 1913 + 16 AS INTEGER) END AS width,
        |  CASE WHEN doc_id % 3 IN (0, 1) THEN CAST(doc_id % 1061 + 16 AS INTEGER) END AS height,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 33
        |       WHEN 1 THEN (CASE WHEN doc_id % 2 = 0 THEN 34 ELSE 46 END) + doc_id % 37
        |       ELSE octet_length(encode(text)) END AS INTEGER) AS n_bytes
        |FROM documents""".stripMargin,
    "mm_audio_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'wav' END AS format,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INTEGER) END AS channels,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST(8000 + (doc_id % 5) * 2000 AS INTEGER) END AS sample_rate,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST(CASE WHEN doc_id % 7 < 4 THEN 8 ELSE 16 END AS INTEGER) END AS bits_per_sample,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id % 500 + 1 AS BIGINT) END AS n_frames
        |FROM documents""".stripMargin,
    // closed-form mvhd replay: timescale/duration derive from the id
    // exactly as synthVideoContent builds them; text rows are null
    "mm_video_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'mp4' END AS format,
        |  CASE WHEN doc_id % 2 = 0 THEN 'isom' END AS brand,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id % 977 + 1000 AS INTEGER) END AS timescale,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST((doc_id % 89 + 1) * (doc_id % 977 + 1000) AS BIGINT) END AS duration
        |FROM documents""".stripMargin,
    // independent byte-level recompute: hex the UTF-8 bytes, unnest to
    // byte values, aggregate the same histogram statistics. Chunking
    // happens on the HEX STRING (200 hex chars = 100 bytes) so the
    // oracle splits the encoded BYTES exactly like the Spark side —
    // substr(text, …) would split by CHARACTER and diverge on any
    // non-ASCII document.
    "mm_features" ->
      """WITH chunks AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
        |         substr(hx, CAST(i * 200 + 1 AS INTEGER), 200) AS hx
        |  FROM (SELECT doc_id, hex(encode(text)) AS hx,
        |          unnest(generate_series(0, CAST(ceil(octet_length(encode(text)) / 100.0) AS BIGINT) - 1)) AS i
        |        FROM documents)),
        |bytes AS (
        |  SELECT doc_id, chunk_idx,
        |         CAST(concat('0x', substr(hx, CAST(j * 2 + 1 AS INTEGER), 2)) AS INTEGER) AS v
        |  FROM (SELECT doc_id, chunk_idx, hx,
        |          unnest(generate_series(0, CAST(length(hx) / 2 AS BIGINT) - 1)) AS j
        |        FROM chunks)),
        |cnt AS (SELECT doc_id, chunk_idx, v, count(*) AS c FROM bytes GROUP BY 1, 2, 3)
        |SELECT doc_id, chunk_idx,
        |  CAST(sum(c) AS INTEGER) AS n_bytes,
        |  CAST(count(*) AS INTEGER) AS n_distinct,
        |  CAST(sum(v * c) AS BIGINT) AS byte_sum,
        |  CAST(sum(CASE WHEN v BETWEEN 32 AND 126 THEN c ELSE 0 END) AS INTEGER) AS n_printable,
        |  round((ln(sum(c)) - sum(c * ln(c)) / sum(c)) / ln(2), 4) AS entropy
        |FROM cnt GROUP BY 1, 2""".stripMargin,
    "mm_byte_hist" ->
      """WITH bytes AS (
        |  SELECT doc_id,
        |         CAST(concat('0x', substr(hx, CAST(j * 2 + 1 AS INTEGER), 2)) AS INTEGER) // 16 AS bin
        |  FROM (SELECT doc_id, hex(encode(text)) AS hx,
        |          unnest(generate_series(0, octet_length(encode(text)) - 1)) AS j
        |        FROM documents)),
        |cnt AS (SELECT doc_id, bin, count(*) AS c FROM bytes GROUP BY 1, 2),
        |n AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
        |SELECT n.doc_id, CAST(g.i AS INTEGER) AS bin_idx,
        |  COALESCE(cnt.c, 0) / CAST(n.n AS DOUBLE) AS p
        |FROM n CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) g
        |LEFT JOIN cnt ON cnt.doc_id = n.doc_id AND cnt.bin = g.i""".stripMargin,
    // byte-level CDC inventory replay (binCdcCtes: per-byte boundary
    // hash over the hex window, window-sum chunk ids, chunk digests)
    "mm_cdc_chunks" ->
      (binCdcCtes +
        """SELECT chunk_md5,
          |       count(DISTINCT doc_id) AS n_docs,
          |       count(*) AS n_occurrences,
          |       max(n_bytes) AS n_bytes
          |FROM chunks GROUP BY 1 HAVING count(*) >= 2""".stripMargin),
    // inverted-index pair replay with the df cap (chunks in > 64 rows
    // dropped BEFORE the self-join; jaccard over the kept universe)
    "mm_neardup_pairs" -> mmPairsOracle,
    // the index IS the store's distinct (id, digest) table — one
    // oracle text, two gated paths (the mm_neardup_incr_indexed move)
    "mm_neardup_pairs_indexed" -> mmPairsOracle,
  )

  /** Shared replay of the chunk-Jaccard pair face: gates BOTH
    * mm_neardup_pairs (chunk path) and mm_neardup_pairs_indexed
    * (persisted-index path).
    */
  private def mmPairsOracle: String =
      (binCdcCtes +
        """, cd AS (SELECT DISTINCT doc_id, chunk_md5 FROM chunks),
          |kept AS (SELECT chunk_md5 FROM cd GROUP BY 1 HAVING count(*) <= 64),
          |cdk AS (SELECT cd.* FROM cd JOIN kept USING (chunk_md5)),
          |szs AS (SELECT doc_id, count(*) AS n FROM cdk GROUP BY 1),
          |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
          |      FROM cdk a JOIN cdk b
          |        ON a.chunk_md5 = b.chunk_md5 AND a.doc_id < b.doc_id
          |      GROUP BY 1, 2)
          |SELECT i.id_a, i.id_b, CAST(i.n_shared AS BIGINT) AS n_shared,
          |       CAST(i.n_shared AS DOUBLE) / (sa.n + sb.n - i.n_shared) AS jaccard
          |FROM i JOIN szs sa ON i.id_a = sa.doc_id
          |       JOIN szs sb ON i.id_b = sb.doc_id
          |WHERE CAST(i.n_shared AS DOUBLE) / (sa.n + sb.n - i.n_shared) >= 0.3""".stripMargin)

  private lazy val oracleSqlRest: Map[String, String] = reg(
    // per-row byte coverage replay (cross-row dup chunks only),
    // zero-filled off the base table like dedup_cdc_coverage
    "mm_neardup_coverage" ->
      (binCdcCtes +
        """, ch AS (SELECT doc_id, chunk_md5 AS h, n_bytes FROM chunks),
          |dup AS (SELECT h FROM ch GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
          |per AS (
          |  SELECT ch.doc_id,
          |         CAST(count(*) AS BIGINT) AS n_chunks,
          |         CAST(count(CASE WHEN d.h IS NOT NULL THEN 1 END) AS BIGINT) AS dup_chunks,
          |         CAST(sum(ch.n_bytes) AS BIGINT) AS n_bytes,
          |         CAST(COALESCE(sum(CASE WHEN d.h IS NOT NULL THEN ch.n_bytes END), 0) AS BIGINT) AS dup_bytes
          |  FROM ch LEFT JOIN dup d ON ch.h = d.h GROUP BY 1)
          |SELECT doc.doc_id,
          |       COALESCE(p.n_chunks, 0) AS n_chunks,
          |       COALESCE(p.dup_chunks, 0) AS dup_chunks,
          |       COALESCE(p.n_bytes, 0) AS n_bytes,
          |       COALESCE(p.dup_bytes, 0) AS dup_bytes,
          |       COALESCE(CAST(p.dup_bytes AS DOUBLE) / p.n_bytes, 0.0) AS dup_byte_frac
          |FROM documents doc LEFT JOIN per p ON doc.doc_id = p.doc_id""".stripMargin),
    // pairs replay -> drop every id_b of an over-threshold pair
    "mm_neardup_keep" ->
      (binCdcCtes +
        """, cd AS (SELECT DISTINCT doc_id, chunk_md5 FROM chunks),
          |kept AS (SELECT chunk_md5 FROM cd GROUP BY 1 HAVING count(*) <= 64),
          |cdk AS (SELECT cd.* FROM cd JOIN kept USING (chunk_md5)),
          |szs AS (SELECT doc_id, count(*) AS n FROM cdk GROUP BY 1),
          |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
          |      FROM cdk a JOIN cdk b
          |        ON a.chunk_md5 = b.chunk_md5 AND a.doc_id < b.doc_id
          |      GROUP BY 1, 2),
          |drops AS (SELECT DISTINCT i.id_b FROM i
          |          JOIN szs sa ON i.id_a = sa.doc_id
          |          JOIN szs sb ON i.id_b = sb.doc_id
          |          WHERE CAST(i.n_shared AS DOUBLE) / (sa.n + sb.n - i.n_shared) >= 0.3)
          |SELECT doc_id, text, lang, source, n_chars FROM documents
          |WHERE doc_id NOT IN (SELECT id_b FROM drops)""".stripMargin),
    // pairs replay -> recursive reachability walk, component min label
    "mm_neardup_clusters" ->
      (binCdcCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """, cd AS (SELECT DISTINCT doc_id, chunk_md5 FROM chunks),
          |kept AS (SELECT chunk_md5 FROM cd GROUP BY 1 HAVING count(*) <= 64),
          |cdk AS (SELECT cd.* FROM cd JOIN kept USING (chunk_md5)),
          |szs AS (SELECT doc_id, count(*) AS n FROM cdk GROUP BY 1),
          |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
          |      FROM cdk a JOIN cdk b
          |        ON a.chunk_md5 = b.chunk_md5 AND a.doc_id < b.doc_id
          |      GROUP BY 1, 2),
          |pairs AS (SELECT i.id_a, i.id_b FROM i
          |          JOIN szs sa ON i.id_a = sa.doc_id
          |          JOIN szs sb ON i.id_b = sb.doc_id
          |          WHERE CAST(i.n_shared AS DOUBLE) / (sa.n + sb.n - i.n_shared) >= 0.3),
          |edges AS (SELECT id_a AS s, id_b AS t FROM pairs UNION SELECT id_b, id_a FROM pairs),
          |walk(v, r) AS (
          |  SELECT s, s FROM (SELECT DISTINCT s FROM edges) t0
          |  UNION
          |  SELECT e.t, w.r FROM walk w JOIN edges e ON e.s = w.v)
          |SELECT v AS doc_id, min(r) AS cluster_id FROM walk GROUP BY 1""".stripMargin),
    // cross-table stage (store-side df cap, jaccard over the kept
    // universe) -> store-survivors -> within-batch keep-lowest with
    // the df cap recomputed over SURVIVORS (the fresh-call semantics)
    "mm_neardup_incremental" -> mmIncrementalOracle,
    // the indexed face answers EXACTLY what the re-chunking face
    // answers (the index is definitionally the store's distinct
    // (id, digest) table) — one oracle text, two gated paths
    "mm_neardup_incr_indexed" -> mmIncrementalOracle,
    // gear-face invariant replay: whatever the boundaries, the chunks
    // must partition each non-empty binary exactly
    "mm_gear_reassembly" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       TRUE AS chunks_bounded
        |FROM documents WHERE octet_length(encode(text)) > 0""".stripMargin,
    // post-erase index == index over the surviving corpus: the
    // binCdcCtes chunk replay with the erased slice filtered out,
    // collapsed to the index's one-row-per-(id, digest) shape
    "mm_erase_index" ->
      (binCdcCtes +
        """SELECT doc_id, chunk_md5, CAST(max(n_bytes) AS BIGINT) AS n_bytes
          |FROM chunks WHERE doc_id % 7 <> 0
          |GROUP BY 1, 2""".stripMargin),
    // planting replay for the gear production path: cid equality IS
    // content equality (jaccard 1 under any chunker), cid inequality
    // is chunk-disjoint content (distinct md5 byte streams) — so the
    // survivor set is pure closed-form arithmetic on ids
    "mm_neardup_incr_gear" ->
      """WITH cidm AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN doc_id + 1
        |         WHEN doc_id % 20 = 15 THEN doc_id - 10
        |         ELSE doc_id END AS cid
        |  FROM documents),
        |batch AS (SELECT * FROM cidm WHERE doc_id % 5 = 0),
        |store AS (SELECT * FROM cidm WHERE doc_id % 5 <> 0),
        |sdrop AS (SELECT b.doc_id FROM batch b JOIN store s ON b.cid = s.cid),
        |surv AS (SELECT * FROM batch
        |         WHERE doc_id NOT IN (SELECT doc_id FROM sdrop)),
        |bdrop AS (SELECT b.doc_id FROM surv b
        |          JOIN surv a ON a.cid = b.cid AND a.doc_id < b.doc_id)
        |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
        |FROM documents d JOIN surv ON d.doc_id = surv.doc_id
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM bdrop)""".stripMargin,
  )

  /** Shared replay of the steady-state ingest (batch = every 5th row,
    * store = the rest): gates BOTH mm_neardup_incremental (re-chunk
    * face) and mm_neardup_incr_indexed (persisted-index face) — the
    * two paths' equality is a hash-checked identity, not a spec
    * assertion.
    */
  private def mmIncrementalOracle: String =
      (binCdcCtes +
        """, cdall AS (SELECT DISTINCT doc_id, chunk_md5 FROM chunks),
          |hot AS (SELECT chunk_md5 FROM cdall WHERE doc_id % 5 <> 0
          |        GROUP BY 1 HAVING count(*) > 64),
          |cb AS (SELECT * FROM cdall WHERE doc_id % 5 = 0
          |       AND chunk_md5 NOT IN (SELECT chunk_md5 FROM hot)),
          |cs AS (SELECT * FROM cdall WHERE doc_id % 5 <> 0
          |       AND chunk_md5 NOT IN (SELECT chunk_md5 FROM hot)),
          |nb AS (SELECT doc_id, count(*) AS n FROM cb GROUP BY 1),
          |ns AS (SELECT doc_id, count(*) AS n FROM cs GROUP BY 1),
          |ix AS (SELECT cb.doc_id AS bid, cs.doc_id AS sid, count(*) AS i
          |       FROM cb JOIN cs ON cb.chunk_md5 = cs.chunk_md5 GROUP BY 1, 2),
          |storedrop AS (SELECT DISTINCT ix.bid FROM ix
          |              JOIN nb ON ix.bid = nb.doc_id
          |              JOIN ns ON ix.sid = ns.doc_id
          |              WHERE CAST(ix.i AS DOUBLE) / (nb.n + ns.n - ix.i) >= 0.3),
          |surv AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0
          |         AND doc_id NOT IN (SELECT bid FROM storedrop)),
          |cv AS (SELECT cd.* FROM cdall cd JOIN surv ON cd.doc_id = surv.doc_id),
          |hot2 AS (SELECT chunk_md5 FROM cv GROUP BY 1 HAVING count(*) > 64),
          |cvk AS (SELECT * FROM cv
          |        WHERE chunk_md5 NOT IN (SELECT chunk_md5 FROM hot2)),
          |nv AS (SELECT doc_id, count(*) AS n FROM cvk GROUP BY 1),
          |iv AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
          |       FROM cvk a JOIN cvk b
          |         ON a.chunk_md5 = b.chunk_md5 AND a.doc_id < b.doc_id
          |       GROUP BY 1, 2),
          |batchdrop AS (SELECT DISTINCT iv.id_b FROM iv
          |              JOIN nv na ON iv.id_a = na.doc_id
          |              JOIN nv nb2 ON iv.id_b = nb2.doc_id
          |              WHERE CAST(iv.i AS DOUBLE) / (na.n + nb2.n - iv.i) >= 0.3)
          |SELECT doc_id, text, lang, source, n_chars FROM documents
          |WHERE doc_id IN (SELECT doc_id FROM surv)
          |  AND doc_id NOT IN (SELECT id_b FROM batchdrop)""".stripMargin)

  /** Shared DuckDB CTE replaying [[graft.llm.Multimodal
    * .binaryCdcChunks]] over `encode(text)` at divisor 16 / window 8:
    * hex transcription (upper() pinned on both engines), one row per
    * byte, boundary flag = md5-prefix hash of the 8-byte trailing hex
    * window % 16, chunk index = window-sum of boundary flags over
    * STRICTLY preceding bytes (boundary byte ends its chunk — the
    * cdcChunksCte discipline at byte granularity), chunk digest = md5
    * of the re-joined hex text.
    */
  private def binCdcCtes: String =
    """WITH b AS (
      |  SELECT doc_id, upper(hex(encode(text))) AS hx,
      |         octet_length(encode(text)) AS n
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, g.j AS j, substr(hx, (g.j - 1) * 2 + 1, 2) AS byt,
      |         CASE WHEN g.j >= 8 AND CAST(concat('0x', substr(md5(
      |                substr(hx, (g.j - 8) * 2 + 1, 16)), 1, 15)) AS BIGINT) % 16 = 0
      |              THEN 1 ELSE 0 END AS bnd
      |  FROM b, LATERAL (SELECT unnest(generate_series(1, n)) AS j) g),
      |cid AS (
      |  SELECT doc_id, j, byt,
      |         COALESCE(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY j
      |                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cidx
      |  FROM w),
      |chunks AS (
      |  SELECT doc_id, cidx, md5(string_agg(byt, '' ORDER BY j)) AS chunk_md5,
      |         CAST(count(*) AS BIGINT) AS n_bytes
      |  FROM cid GROUP BY doc_id, cidx)
      |""".stripMargin
}
