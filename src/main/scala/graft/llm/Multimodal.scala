package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Native
import graft.streaming.Streams

/** Multimodal column handling: image/audio/video as opaque `binary`
  * columns plus typed metadata. Metadata decode (PNG/JPEG/GIF header
  * parse) and feature extraction (byte histogram / entropy) are REAL
  * native expressions over the bytes — no codec library needed for
  * either, since dimensions live in image headers by spec and byte
  * statistics are codec-free. Only a pixel-level decode (which needs
  * PIL/ffmpeg, absent in this container) remains out of scope; it
  * would slot in as a mapInArrow stage downstream of these probes.
  * The scale rules hold throughout: content bytes never become a
  * shuffle key, metadata is extracted once into narrow columns.
  */
object Multimodal {

  /** Build a binary content column from text (test harness for the
    * plumbing; production ingests real bytes from `binaryFile` /
    * parquet sources).
    */
  def withBinaryContent(srcCol: String, outCol: String = "content")(df: DataFrame): DataFrame =
    df.withColumn(outCol, encode(col(srcCol), "UTF-8"))

  /** Cheap, codec-free metadata: byte length + content digest. The
    * digest doubles as the exact-dedup key for media (32/64-char
    * shuffle key instead of megabytes of content).
    */
  def withBinaryMeta(binCol: String)(df: DataFrame): DataFrame =
    df.withColumn("n_bytes", octet_length(col(binCol)))
      .withColumn("content_sha256", sha2(col(binCol), 256))

  /** One byte of `c` as two hex chars — shared by the audio/video
    * fixture builders so an encoding fix cannot apply to one oracle's
    * fixture and miss the other. Assumes non-negative input (ids). */
  private def byteHex(c: Column): Column = lpad(hex(c.bitwiseAND(lit(255L))), 2, "0")

  /** REAL image metadata: parse PNG IHDR / JPEG SOF / GIF screen
    * descriptor headers from the binary column with the native
    * `graft_image_meta` expression (functions/BinaryFns.scala) —
    * struct(format, width, height), null for unrecognized bytes.
    * Dimensions live in the header by spec, so no codec library is
    * needed; a PIXEL decode (PIL/ffmpeg over mapInArrow) would slot in
    * downstream of this probe, not replace it.
    */
  def withImageMeta(binCol: String, outCol: String = "media_meta")(df: DataFrame): DataFrame =
    df.withColumn(outCol, Native.imageMeta(col(binCol)))

  /** REAL audio metadata: parse the RIFF/WAVE header with the native
    * `graft_audio_meta` expression (functions/BinaryFns.scala) —
    * struct(format, channels, sample_rate, bits_per_sample,
    * n_frames), null for non-WAV bytes. Header-only like
    * [[withImageMeta]]: frame count comes from the data chunk's SIZE
    * field, no sample decode.
    */
  def withAudioMeta(binCol: String, outCol: String = "audio_meta")(df: DataFrame): DataFrame =
    df.withColumn(outCol, Native.audioMeta(col(binCol)))

  /** REAL video metadata: walk the ISO-BMFF box structure with the
    * native `graft_video_meta` expression (functions/BinaryFns.scala)
    * — struct(format, brand, timescale, duration), null for non-MP4
    * bytes. Header-only like its image/audio siblings: the `mdat`
    * payload is never read, so probing a 10 GB video costs the same
    * as a 10 KB one; frame decode (ffmpeg over mapInArrow) slots in
    * downstream of this probe, not in place of it.
    */
  def withVideoMeta(binCol: String, outCol: String = "video_meta")(df: DataFrame): DataFrame =
    df.withColumn(outCol, Native.videoMeta(col(binCol)))

  /** Deterministic MP4 FIXTURE for the correctness gate, completing
    * the image/audio/video trio: real ISO-BMFF byte streams — ftyp,
    * a variable-size `free` box (so moov sits at a VARIABLE offset),
    * and a moov whose mvhd is preceded by another variable `free`
    * child (so the child walk can't assume mvhd-first). Even ids
    * alternate mvhd version 0 (32-bit duration) and version 1
    * (64-bit), exercising both header layouts. Construction is
    * mirrored closed-form in the DuckDB oracle (SparkEntry):
    *
    *  - id % 2 == 0 → MP4: brand "isom", timescale = id%977 + 1000,
    *    duration = (id%89 + 1)·timescale (whole seconds by build);
    *    outer free pad = id%23+1, moov-child free pad = id%13+1;
    *    mvhd v0 when id % 4 == 0, v1 when id % 4 == 2
    *  - id % 2 == 1 → the raw UTF-8 text (not video)
    */
  def synthVideoContent(idCol: Column, textCol: Column): Column = {
    def be32(c: Column) =
      concat(byteHex(shiftright(c, 24)), byteHex(shiftright(c, 16)), byteHex(shiftright(c, 8)), byteHex(c))
    def be64(c: Column) = concat(be32(shiftright(c, 32)), be32(c))
    val ts = idCol % 977 + 1000L
    val durSec = idCol % 89 + 1L
    val dur = durSec * ts
    val pad1 = idCol % 23 + 1L
    val pad2 = idCol % 13 + 1L
    val v0 = idCol % 4 === 0
    val ftyp = concat(lit("00000014"), lit("66747970"),   // size 20, "ftyp"
      lit("69736F6D"), lit("00000200"), lit("6D703431")) // "isom", minor, "mp41"
    val freeOuter = concat(be32(pad1 + 8L), lit("66726565"),
      call_function("repeat", lit("00"), pad1.cast("int")))
    val freeInner = concat(be32(pad2 + 8L), lit("66726565"),
      call_function("repeat", lit("00"), pad2.cast("int")))
    // mvhd v0: 108 bytes (32-bit times); v1: 120 bytes (64-bit
    // creation/modification/duration). The post-duration region —
    // rate(4) volume(2) reserved(10) matrix(36) pre_defined(24)
    // next_track(4) = 80 bytes — is rate/volume defaults then zeros;
    // the probe only validates sizes there, per spec these fields
    // don't affect timescale/duration.
    val tail = concat(lit("00010000"), lit("0100"),
      call_function("repeat", lit("00"), lit(70)),
      lit("00000002"))                                   // next_track_ID
    val mvhd = when(v0,
      concat(lit("0000006C"), lit("6D766864"), lit("00000000"),
        lit("00000000"), lit("00000000"), be32(ts), be32(dur), tail))
      .otherwise(
        concat(lit("00000078"), lit("6D766864"), lit("01000000"),
          be64(lit(0L)), be64(lit(0L)), be32(ts), be64(dur), tail))
    val mvhdBytes = when(v0, 108L).otherwise(120L)
    val moov = concat(be32(lit(8L) + (pad2 + 8L) + mvhdBytes), lit("6D6F6F76"),
      freeInner, mvhd)
    when(idCol % 2 === 0, unhex(concat(ftyp, freeOuter, moov)))
      .otherwise(encode(textCol, "UTF-8"))
  }

  /** Deterministic WAV FIXTURE for the correctness gate, mirroring
    * [[synthMediaContent]]: real RIFF/WAVE byte streams with fmt/data
    * parameters derived from the id column, non-audio fallthrough on
    * odd ids. Every 4th id carries a LIST chunk of variable ODD-able
    * size before `fmt ` so [[withAudioMeta]]'s chunk walk is exercised
    * at variable offsets including the word-alignment pad byte.
    * Construction is mirrored closed-form in the DuckDB oracle
    * (SparkEntry):
    *
    *  - id % 2 == 0 → WAV: channels = (id%3==0 ? 2 : 1),
    *    rate = 8000 + (id%5)·2000, bits = (id%7<4 ? 8 : 16),
    *    frames = id%500 + 1; LIST(id%9+1 bytes) when id % 4 == 0
    *  - id % 2 == 1 → the raw UTF-8 text (not audio)
    */
  def synthAudioContent(idCol: Column, textCol: Column): Column = {
    def le16(c: Column) = concat(byteHex(c), byteHex(shiftright(c, 8)))
    def le32(c: Column) =
      concat(byteHex(c), byteHex(shiftright(c, 8)), byteHex(shiftright(c, 16)), byteHex(shiftright(c, 24)))
    val ch = when(idCol % 3 === 0, 2L).otherwise(1L)
    val rate = lit(8000L) + (idCol % 5) * 2000L
    val bytesPer = when(idCol % 7 < 4, 1L).otherwise(2L)
    val bits = bytesPer * 8L
    val frames = idCol % 500 + 1L
    val blockAlign = ch * bytesPer
    val dataSize = frames * blockAlign
    val byteRate = rate * blockAlign
    val listPad = idCol % 9 + 1L
    val listChunk = when(idCol % 4 === 0, concat(
      lit("4C495354"), le32(listPad),                  // "LIST" + size
      call_function("repeat", lit("20"), listPad.cast("int")),
      when(listPad % 2 === 1, lit("00")).otherwise(lit("")))) // word-align pad
      .otherwise(lit(""))
    val listBytes = when(idCol % 4 === 0, lit(8L) + listPad + listPad % 2).otherwise(0L)
    val riffSize = lit(4L) + listBytes + lit(24L) + lit(8L) + dataSize
    val wavHex = concat(
      lit("52494646"), le32(riffSize), lit("57415645"), // "RIFF" size "WAVE"
      listChunk,
      lit("666D7420"), lit("10000000"), lit("0100"),    // "fmt " len 16, PCM
      le16(ch), le32(rate), le32(byteRate), le16(blockAlign), le16(bits),
      lit("64617461"), le32(dataSize),                  // "data" + size
      call_function("repeat", lit("00"), dataSize.cast("int")))
    when(idCol % 2 === 0, unhex(wavHex)).otherwise(encode(textCol, "UTF-8"))
  }

  /** Split binary content into fixed-size chunks — the layout step
    * before any batched decode/feature-extract pass, and the unit of
    * parallelism for oversized media rows. Emits (chunk_idx, chunk).
    */
  def chunkBinary(binCol: String, chunkSize: Int)(df: DataFrame): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    // same guard discipline as streamingFingerprintDedup's internal
    // columns: silently overwriting a caller's same-named column (e.g.
    // re-chunking previously chunked output) loses data
    val clash = df.columns.toSet.intersect(Set("chunk_idx", "chunk", "__idx"))
    require(clash.isEmpty,
      s"chunkBinary: input already has column(s) ${clash.mkString(", ")} — rename them first")
    val nChunks = ceil(octet_length(col(binCol)).cast("double") / chunkSize).cast("int")
    df.withColumn("__idx", explode(sequence(lit(0), greatest(nChunks, lit(1)) - 1)))
      .withColumn("chunk_idx", col("__idx"))
      // Column API, not a SQL string: an interpolated $binCol breaks
      // (or misresolves) for names that need backticks
      .withColumn("chunk",
        col(binCol).substr(col("__idx") * chunkSize + lit(1), lit(chunkSize)))
      .drop("__idx")
  }

  /** Frame-sample stub: pick every `stride`-th chunk — the shape of
    * video frame sampling (decode replaced by the chunk bytes).
    */
  def sampleChunks(stride: Int)(chunked: DataFrame): DataFrame =
    chunked.where(col("chunk_idx") % stride === 0)

  /** Content-defined chunking over BINARY content — the byte-level
    * sibling of [[graft.llm.Dedup.cdcChunks]] (word-level CDC over
    * text), and the fingerprint substrate for CONTENT-level media
    * near-dup ([[binaryNearDupPairs]]): a chunk boundary falls AFTER
    * every byte whose trailing `window`-byte context hashes to
    * 0 mod `divisor`, so boundaries depend only on local bytes —
    * a prepended header or an insertion early in the stream shifts at
    * most the chunk it lands in, and identical byte runs chunk
    * identically wherever they appear (the Muthitacharoen LBFS
    * rolling-CDC property; the storage-dedup discipline applied to a
    * training corpus's media columns). Expected chunk length is
    * `divisor` bytes.
    *
    * Output: one row per chunk — (idCol, chunk_md5, n_bytes). Chunk
    * BYTES are dropped before any shuffle; downstream keys on the
    * 32-char digest (the [[withBinaryMeta]] rule: digests, never
    * megabytes, cross the exchange). Rows with empty or NULL binary
    * produce no rows (callers needing them re-join the source, as
    * [[binaryDupCoverage]] does).
    *
    * All chunking is per-row higher-order functions over the hex
    * transcription of one pruned scan — no shuffle, no UDF. The
    * boundary hash is the engine-portable md5 prefix over the hex
    * window ([[graft.llm.Dedup.md5Hash60]]) so the DuckDB oracle
    * replays it bit-for-bit; a Gear/rolling-hash native expression is
    * the drop-in upgrade if the per-byte md5 ever shows up in a
    * profile (same output contract, cheaper window hash — the probe
    * cost is ~n md5 calls over 2·window-char strings per n-byte row,
    * CPU-bounded and embarrassingly parallel, never a shuffle term).
    */
  def binaryCdcChunks(
      binCol: String,
      idCol: String,
      divisor: Int = 32,
      window: Int = 8)(df: DataFrame): DataFrame = {
    require(divisor >= 2 && window >= 1, s"bad divisor=$divisor / window=$window")
    // ONE native loop per row ([[graft.functions.CdcMd5Chunks]]) in
    // place of the higher-order-function formulation below — that
    // paid an interpreted Catalyst lambda (substr + md5 + conv string
    // round-trip) per BYTE and was the measured dominant CPU term of
    // the whole mm family (bench_full_r17's four slowest rows).
    // Output is bit-identical — LlmSpec pins native == HOF on real
    // corpus bytes, and every mm oracle hash-gates it — so the HOF
    // face survives only as the parity reference
    // [[binaryCdcChunksHof]].
    df.select(col(idCol),
        explode_outer(Native.cdcMd5(col(binCol), divisor, window)).as("__chunk"))
      .filter(col("__chunk").isNotNull)
      .select(col(idCol),
        col("__chunk.chunk_md5").as("chunk_md5"),
        col("__chunk.n_bytes").as("n_bytes"))
  }

  /** The pre-r18 column formulation of [[binaryCdcChunks]] — kept as
    * the executable PARITY REFERENCE for the native expression that
    * replaced it (LlmSpec pins equality on real corpus bytes), and as
    * the readable statement of the gate-face semantics the DuckDB
    * oracle replays. Never on a production path: ~2 µs/byte of
    * interpreted lambda overhead vs the native loop's md5-bound rate.
    */
  private[graft] def binaryCdcChunksHof(
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

  /** [[binaryCdcChunks]] on the PRODUCTION boundary detector — the
    * native Gear rolling hash ([[graft.functions.CdcGearChunks]]):
    * same output contract, one row per chunk (idCol, chunk_md5,
    * n_bytes), but the per-byte cost is a shift+add+table-lookup
    * instead of an md5 over the trailing hex window — the measured
    * dominant term of the whole mm family at gate divisors. The md5
    * face stays the GATE (its boundary hash replays in DuckDB
    * bit-for-bit); this face is the one a 100 TB deployment runs, at
    * production divisors (KBs per chunk). Boundaries differ between
    * the faces by construction (different hash), so an index is built
    * and queried by ONE face — every downstream operator
    * ([[binaryNearDupPairs]], the incremental faces, the chunk index)
    * is boundary-agnostic: it consumes (id, digest, n_bytes) rows.
    *
    * Expected chunk length is `divisor` rounded up to a power of two
    * (the FastCDC mask construction — see the expression's scaladoc);
    * `window` is the same warm-up floor as the md5 face's. Shift
    * invariance (a prepended header shifts at most the chunk it lands
    * in) is spec-pinned ([[graft.LlmSpec]]), not oracle-gated: the
    * Gear chain's 64-term shifted sum has no practical SQL replay,
    * which is exactly why the md5 face exists.
    */
  def binaryCdcChunksGear(
      binCol: String,
      idCol: String,
      divisor: Int = 4096,
      window: Int = 8)(df: DataFrame): DataFrame = {
    require(divisor >= 2 && window >= 1, s"bad divisor=$divisor / window=$window")
    df.select(col(idCol),
        explode_outer(Native.cdcGear(col(binCol), divisor, window)).as("__chunk"))
      .filter(col("__chunk").isNotNull)
      .select(col(idCol),
        col("__chunk.chunk_md5").as("chunk_md5"),
        col("__chunk.n_bytes").as("n_bytes"))
  }

  /** The chunk-boundary detector as a VALUE, so every consumer of
    * chunk rows — the persisted index, the incremental ingest faces,
    * the streaming loop — is parameterized by ONE chunker instead of
    * hard-wiring the gate face into the production path (the
    * verdict-r17 finding: the native Gear expression existed but
    * nothing consumed it, so steady-state ingest chunked every batch
    * at md5 rates). Both faces share the output contract — one row
    * per chunk (idCol, chunk_md5, n_bytes) — and everything
    * downstream is boundary-agnostic, but an index built by one face
    * must only ever meet batches chunked by the SAME face: boundaries
    * differ between faces by construction, so mixing them silently
    * loses every cross-face near-dup. [[Chunker.tag]] is the identity
    * persisted beside an index ([[writeChunkerTag]]) and demanded
    * back at ingest ([[requireChunkerTag]]).
    *
    *  - [[Md5Chunker]] — the GATE face: boundary hash replays
    *    bit-for-bit in DuckDB, so correctness gates are exact.
    *  - [[GearChunker]] — the PRODUCTION face: native shift+add+
    *    lookup per byte (~5× cheaper than the md5 window probe, the
    *    family's measured dominant CPU term), the default of every
    *    chunker-parameterized entry point.
    */
  sealed trait Chunker {
    def tag: String
    def chunk(binCol: String, idCol: String)(df: DataFrame): DataFrame
  }
  /** Gate face: engine-portable md5 window hash ([[binaryCdcChunks]]). */
  final case class Md5Chunker(divisor: Int = 32, window: Int = 8) extends Chunker {
    val tag = s"md5-$divisor-$window"
    def chunk(binCol: String, idCol: String)(df: DataFrame): DataFrame =
      binaryCdcChunks(binCol, idCol, divisor, window)(df)
  }
  /** Production face: native Gear rolling hash ([[binaryCdcChunksGear]]). */
  final case class GearChunker(divisor: Int = 4096, window: Int = 8) extends Chunker {
    val tag = s"gear-$divisor-$window"
    def chunk(binCol: String, idCol: String)(df: DataFrame): DataFrame =
      binaryCdcChunksGear(binCol, idCol, divisor, window)(df)
  }
  object Chunker {
    /** Inverse of [[Chunker.tag]] — loads the identity persisted
      * beside an index back into the value that built it.
      */
    def fromTag(tag: String): Chunker = tag.split("-") match {
      case Array("md5", d, w) => Md5Chunker(d.toInt, w.toInt)
      case Array("gear", d, w) => GearChunker(d.toInt, w.toInt)
      case _ => throw new IllegalArgumentException(
        s"unrecognized chunker tag '$tag' (want md5-<divisor>-<window> or gear-<divisor>-<window>)")
    }
  }

  private def chunkerTagPath(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_chunker_spec")

  /** Persist the chunker identity beside a chunk index (underscore
    * file — invisible to the parquet reader, the ivmStateStream
    * marker discipline). Written by [[graft.streaming.StreamingIngest
    * .seedBinaryStore]]; ingest paths [[requireChunkerTag]] it back
    * so an index can never silently meet a batch chunked by the other
    * face.
    */
  def writeChunkerTag(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      chunker: Chunker): Unit = {
    val p = chunkerTagPath(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(chunker.tag.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def readChunkerTag(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Option[String] = {
    val p = chunkerTagPath(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim)
      finally in.close()
    }
  }

  /** Demand that a persisted index was built by exactly `chunker` —
    * a mismatch (or an untagged directory) fails LOUDLY: chunk
    * boundaries differ between faces by construction, so feeding a
    * gear-chunked batch to an md5-built index would drop ZERO
    * near-dups and read as a clean ingest.
    */
  def requireChunkerTag(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      chunker: Chunker): Unit = readChunkerTag(spark, indexDir) match {
    case Some(t) =>
      require(t == chunker.tag,
        s"chunk index at $indexDir was built by chunker '$t' but this ingest " +
          s"chunks with '${chunker.tag}' — boundaries are incompatible across " +
          "faces; re-seed the index under the new chunker or keep the old one")
    case None =>
      throw new IllegalStateException(
        s"chunk index at $indexDir carries no _chunker_spec marker — " +
          "seed it with seedBinaryStore (which writes the marker) or write " +
          "one with writeChunkerTag before ingesting against it")
  }

  /** Content-level binary near-dup pairs — the multimodal analog of
    * the text family's [[graft.llm.Dedup.allPairsJaccard]]: two
    * binaries are near-dups when their CDC chunk-digest SETS overlap
    * (chunk Jaccard ≥ `minJaccard`), which catches re-encoded
    * containers, prepended/patched headers, and truncated copies that
    * exact-digest dedup ([[withBinaryMeta]]'s sha256) misses. Pairs
    * come from the inverted index on chunk_md5 — a pair is enumerated
    * iff it shares a chunk — never an all-pairs scan over rows.
    *
    * `maxDocFreq` is the df-cap (the text family's boilerplate guard,
    * same contract as allPairsJaccard's): chunk digests appearing in
    * more than `maxDocFreq` binaries — shared codec preambles, zero
    * runs, boilerplate headers — are dropped from the posting list
    * BEFORE the self-join, bounding every posting-list term at cap²;
    * jaccard is then computed over the kept-chunk universe on BOTH
    * sides of the ratio (the boilerplate-filtered similarity), and
    * when no digest exceeds the cap the output is identical to the
    * uncapped run. Cost is Σ_c min(df(c), cap)² over chunk
    * document-frequencies — the exact bill [[graft.llm.Dedup]]'s
    * capped audit twin measured sublinear (exponent ~0.5) through
    * 32×, here over ~n_bytes/divisor chunks per row instead of k-gram
    * counts.
    *
    * The distinct (id, digest) table is materialized ONCE (eager
    * localCheckpoint — blocks reclaimed by the ContextCleaner on
    * garbage collection, so nothing leaks for the session lifetime
    * the way an unreleasable persist would). This deliberately
    * DIVERGES from allPairsJaccard's recompute-the-shingles trade:
    * there the linear explode is noise next to the quadratic join;
    * here the per-byte window hash IS the dominant term (measured
    * 2.3× the whole-query cost when re-run per consumer at sf0.1),
    * and the digest rows are ~50 bytes/chunk ≈ 3 bytes per content
    * byte at divisor 16 — at production divisors (KBs per chunk, the
    * storage-dedup norm for real media) a negligible fraction.
    * Output: (id_a, id_b, n_shared, jaccard), id_a < id_b.
    */
  def binaryNearDupPairs(
      binCol: String,
      idCol: String,
      minJaccard: Double,
      divisor: Int = 32,
      window: Int = 8,
      maxDocFreq: Long = 1000L)(df: DataFrame): DataFrame =
    nearDupPairsFromDigests(idCol, minJaccard, maxDocFreq)(
      binaryCdcChunks(binCol, idCol, divisor, window)(df)
        .select(col(idCol), col("chunk_md5")).distinct()
        .localCheckpoint(true))

  /** [[binaryNearDupPairs]] over a PERSISTED chunk index — the
    * whole-store audit face: near-dup pairs across the accumulated
    * corpus computed entirely from the (id, chunk_md5) table, store
    * BYTES never read (the periodic compaction/audit pass a 100 TB
    * media store runs against its index, not its content). Gated
    * (mm_neardup_pairs_indexed) on the SAME oracle as
    * mm_neardup_pairs — index-path == chunk-path is a hash-checked
    * identity. Boundary-agnostic: an index built by EITHER chunker
    * face (md5 gate face or the Gear production face) feeds it
    * unchanged, and the planted-near-dup property is spec-pinned on
    * the gear path too.
    */
  def binaryNearDupPairsIndexed(
      idCol: String,
      minJaccard: Double,
      maxDocFreq: Long = 1000L)(storeIndex: DataFrame): DataFrame =
    nearDupPairsFromDigests(idCol, minJaccard, maxDocFreq)(
      // defensive distinct: the index is one row per (id, digest) by
      // construction, but a duplicated row would silently inflate
      // both the intersection and the size terms — correctness over
      // one digest-sized exchange
      storeIndex.select(col(idCol), col("chunk_md5")).distinct())

  /** Shared pair engine of the two faces above: inverted index on
    * chunk_md5 with the df-cap, over a DISTINCT (id, digest) frame.
    */
  private def nearDupPairsFromDigests(
      idCol: String,
      minJaccard: Double,
      maxDocFreq: Long)(cd0: DataFrame): DataFrame = {
    require(maxDocFreq >= 2, s"bad maxDocFreq=$maxDocFreq")
    val kept = cd0.groupBy("chunk_md5").agg(count(lit(1)).as("__df"))
      .where(col("__df") <= maxDocFreq).select("chunk_md5")
    // the using-column semi join moves chunk_md5 first; restore the
    // (id, digest) order the positional toDF renames below expect
    val cd = cd0.join(kept, Seq("chunk_md5"), "left_semi")
      .select(col(idCol), col("chunk_md5"))
    val sizes = cd.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    val inter = cd.toDF("id_a", "__c").join(cd.toDF("id_b", "__c"), "__c")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
    inter
      .join(sizes.toDF("id_a", "__na"), "id_a")
      .join(sizes.toDF("id_b", "__nb"), "id_b")
      .withColumn("jaccard",
        col("n_shared").cast("double") /
          (col("__na") + col("__nb") - col("n_shared")))
      .where(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "n_shared", "jaccard")
  }

  /** Content-level binary near-dedup — keep one representative per
    * near-dup relation: drop every row appearing as the HIGHER id of
    * a [[binaryNearDupPairs]] pair (keep-lowest, the
    * [[graft.llm.Dedup.nearDedup]] rule applied to bytes). Same
    * never-all-pairs inverted-index path and df-cap contract as the
    * pairs face.
    */
  def binaryNearDedup(
      binCol: String,
      idCol: String,
      minJaccard: Double,
      divisor: Int = 32,
      window: Int = 8,
      maxDocFreq: Long = 1000L)(df: DataFrame): DataFrame =
    binaryNearDedup(binCol, idCol, minJaccard, Md5Chunker(divisor, window), maxDocFreq)(df)

  /** [[binaryNearDedup]] under an explicit [[Chunker]] — the
    * production-default entry ([[GearChunker]] boundaries at the
    * caller's divisor), shared by the chunker-parameterized
    * incremental faces' within-batch stage.
    */
  def binaryNearDedup(
      binCol: String,
      idCol: String,
      minJaccard: Double,
      chunker: Chunker,
      maxDocFreq: Long)(df: DataFrame): DataFrame = {
    val drop = nearDupPairsFromDigests(idCol, minJaccard, maxDocFreq)(
      chunker.chunk(binCol, idCol)(df)
        .select(col(idCol), col("chunk_md5")).distinct()
        .localCheckpoint(true))
      .select(col("id_b").as(idCol)).distinct()
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Transitive binary near-dup groups: connected components over the
    * [[binaryNearDupPairs]] graph (label propagation,
    * [[graft.llm.Dedup.nearDupClusters]]) — (doc_id, cluster_id = min
    * member id) for every row in at least one pair. The returned
    * frame is materialized by nearDupClusters (no caller-side release
    * contract).
    */
  def binaryNearDupClusters(
      binCol: String,
      idCol: String,
      minJaccard: Double,
      divisor: Int = 32,
      window: Int = 8,
      maxDocFreq: Long = 1000L)(df: DataFrame): DataFrame =
    graft.llm.Dedup.nearDupClusters(
      binaryNearDupPairs(binCol, idCol, minJaccard, divisor, window, maxDocFreq)(df))

  /** Steady-state binary near-dup ingest — the multimodal twin of
    * [[graft.llm.Dedup.incrementalNearDedup]]: drop every batch
    * binary with a confirmed CDC-chunk near-duplicate in the
    * accumulated store, then near-dedup the survivors among
    * themselves (keep-lowest within the batch, SAME divisor / window
    * / threshold / cap — the two stages must apply one notion of
    * "near"). Idempotent: re-offering an ingested batch drops
    * everything against the store.
    *
    * Scale shape: candidates come from the cross-table inverted index
    * on chunk digests — a (batch row, store row) pair is scored iff
    * it shares a kept chunk, never batch×store. The df-cap is
    * computed on the STORE side (the accumulated side is where
    * boilerplate lives; a store chunk over `maxDocFreq` leaves the
    * universe on BOTH sides, so the jaccard stays well-defined over
    * kept chunks). Both digest tables materialize ONCE (eager
    * localCheckpoint — digest rows, never content bytes), so the
    * per-byte window hash runs exactly one pass per side no matter
    * how many consumers the candidate pipeline fans into (the df
    * aggregate, the posting join, and the size aggregates all read
    * the checkpointed rows). Re-chunking the store per ingest is
    * still a store-sized pass — the steady-state deployment persists
    * the chunk index beside the store ([[binaryChunkIndex]] /
    * [[ingestBinaryChunkIndex]]) and ingests through
    * [[binaryIncrementalNearDupIndexed]], which never touches store
    * bytes at all.
    */
  def binaryIncrementalNearDup(
      binCol: String,
      idCol: String,
      minJaccard: Double,
      divisor: Int = 32,
      window: Int = 8,
      maxDocFreq: Long = 1000L)(batch: DataFrame, store: DataFrame): DataFrame =
    binaryIncrementalNearDup(binCol, idCol, minJaccard,
      Md5Chunker(divisor, window), maxDocFreq)(batch, store)

  /** [[binaryIncrementalNearDup]] under an explicit [[Chunker]]. */
  def binaryIncrementalNearDup(
      binCol: String,
      idCol: String,
      minJaccard: Double,
      chunker: Chunker,
      maxDocFreq: Long)(batch: DataFrame, store: DataFrame): DataFrame = {
    val cs = chunker.chunk(binCol, idCol)(store)
      .select(col(idCol), col("chunk_md5")).distinct()
      .localCheckpoint(true)
    incrementalNearDupCore(binCol, idCol, minJaccard, chunker, maxDocFreq)(batch, cs)
  }

  /** The persisted chunk index for a binary store — one row per
    * DISTINCT (id, chunk digest) with the chunk's byte length: the
    * pre-computed-index move the exact-dedup family makes with its
    * digest store ([[graft.llm.Dedup.incrementalDedup]]'s scaladoc),
    * applied to CDC chunks. Written once beside the store and
    * maintained at ingest ([[ingestBinaryChunkIndex]]), it removes
    * the per-ingest store re-chunking pass entirely — at 100 TB the
    * store-side per-byte window hash dominates every batch, and the
    * index is digest-sized (~50 bytes per chunk; at production
    * divisors — KBs per chunk — a negligible fraction of content).
    */
  def binaryChunkIndex(
      binCol: String,
      idCol: String,
      divisor: Int = 32,
      window: Int = 8)(df: DataFrame): DataFrame =
    binaryChunkIndex(binCol, idCol, Md5Chunker(divisor, window))(df)

  /** [[binaryChunkIndex]] under an explicit [[Chunker]] — the
    * production entry point ([[GearChunker]] default of the streaming
    * loop); persist the identity beside the written table with
    * [[writeChunkerTag]].
    */
  def binaryChunkIndex(
      binCol: String,
      idCol: String,
      chunker: Chunker)(df: DataFrame): DataFrame =
    // r19: spread a small input before the per-byte chunk pass — the
    // index BUILD is the one whole-store chunking job in the family
    // and a single-row-group scan ran it on one task (measured 1.5×
    // at sf0.1, more under contention; Par.spreadForCpu is a no-op on
    // at-scale inputs). The spread key is hashed, so the groupBy
    // below still inserts its own AQE-sized exchange and the written
    // index keeps data-proportional file counts. The per-batch ingest
    // chunk calls are NOT spread: their inputs are batch-sized and
    // the exchange measured as pure overhead there.
    chunker.chunk(binCol, idCol)(Par.spreadForCpu(df, idCol))
      // one row per (id, digest): a digest determines its chunk bytes
      // (and so n_bytes) — max() is just the aggregate form of "the"
      .groupBy(col(idCol), col("chunk_md5"))
      .agg(max(col("n_bytes")).as("n_bytes"))

  /** The index-maintenance DELTA for an ingested batch: chunk-index
    * rows for exactly the batch ids NOT already present in `index`.
    * The caller appends the result to the index table — re-offering
    * an already-ingested batch yields an EMPTY delta, so the append
    * is idempotent (the partition-overwrite discipline of
    * [[graft.streaming.StreamingIngest.erResolveStream]] composes on
    * top for at-least-once replays). Only the delta's rows are ever
    * chunked — the index itself is read, never rebuilt.
    */
  def ingestBinaryChunkIndex(
      binCol: String,
      idCol: String,
      divisor: Int = 32,
      window: Int = 8)(batch: DataFrame, index: DataFrame): DataFrame =
    ingestBinaryChunkIndex(binCol, idCol, Md5Chunker(divisor, window))(batch, index)

  /** [[ingestBinaryChunkIndex]] under an explicit [[Chunker]] — MUST
    * be the chunker that built `index` (path-based callers
    * [[requireChunkerTag]] before invoking this).
    */
  def ingestBinaryChunkIndex(
      binCol: String,
      idCol: String,
      chunker: Chunker)(batch: DataFrame, index: DataFrame): DataFrame = {
    val knownIds = index.select(col(idCol)).distinct()
    binaryChunkIndex(binCol, idCol, chunker)(
      batch.join(knownIds, Seq(idCol), "left_anti"))
  }

  /** [[binaryIncrementalNearDup]] reading the store side from its
    * persisted chunk index instead of re-chunking store bytes — the
    * steady-state production path. `storeIndex` is a
    * [[binaryChunkIndex]] table (one row per (id, chunk_md5); extra
    * columns like n_bytes are ignored); store CONTENT is never
    * touched, so the per-ingest bill is the batch's own chunking plus
    * index-sized aggregations and the cap-bounded posting join —
    * identical output to the re-chunking face by construction (gated:
    * mm_neardup_incr_indexed shares mm_neardup_incremental's oracle).
    */
  def binaryIncrementalNearDupIndexed(
      binCol: String,
      idCol: String,
      minJaccard: Double,
      divisor: Int = 32,
      window: Int = 8,
      maxDocFreq: Long = 1000L)(batch: DataFrame, storeIndex: DataFrame): DataFrame =
    binaryIncrementalNearDupIndexed(binCol, idCol, minJaccard,
      Md5Chunker(divisor, window), maxDocFreq)(batch, storeIndex)

  /** [[binaryIncrementalNearDupIndexed]] under an explicit
    * [[Chunker]] — the PRODUCTION ingest (the streaming loop calls
    * this with [[GearChunker]] by default). `chunker` MUST be the
    * face that built `storeIndex`; path-based callers
    * [[requireChunkerTag]] first.
    */
  def binaryIncrementalNearDupIndexed(
      binCol: String,
      idCol: String,
      minJaccard: Double,
      chunker: Chunker,
      maxDocFreq: Long)(batch: DataFrame, storeIndex: DataFrame): DataFrame =
    incrementalNearDupCore(binCol, idCol, minJaccard, chunker, maxDocFreq)(
      batch, storeIndex.select(col(idCol), col("chunk_md5")))

  /** Shared cross-table stage of the two incremental faces: `cs` is
    * the store's distinct (id, chunk_md5) table — checkpointed chunk
    * output (re-chunk face) or the persisted index (indexed face).
    */
  private def incrementalNearDupCore(
      binCol: String,
      idCol: String,
      minJaccard: Double,
      chunker: Chunker,
      maxDocFreq: Long)(batch: DataFrame, cs: DataFrame): DataFrame = {
    require(maxDocFreq >= 2, s"bad maxDocFreq=$maxDocFreq")
    val cb = chunker.chunk(binCol, idCol)(batch)
      .select(col(idCol), col("chunk_md5")).distinct()
      .localCheckpoint(true)
    val hot = cs.groupBy("chunk_md5").agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxDocFreq).select("chunk_md5")
    def kept(cd: DataFrame) = cd.join(hot, Seq("chunk_md5"), "left_anti")
      .select(col(idCol), col("chunk_md5"))
    val cbK = kept(cb)
    val csK = kept(cs)
    val nb = cbK.groupBy(col(idCol)).agg(count(lit(1)).as("__nb"))
    val ns = csK.groupBy(col(idCol)).agg(count(lit(1)).as("__ns"))
    val inter = cbK.toDF("__bid", "__c").join(csK.toDF("__sid", "__c"), "__c")
      .groupBy("__bid", "__sid").agg(count(lit(1)).as("__i"))
    val storeDrop = inter
      .join(nb.toDF("__bid", "__nb"), "__bid")
      .join(ns.toDF("__sid", "__ns"), "__sid")
      .where(col("__i").cast("double") / (col("__nb") + col("__ns") - col("__i"))
        >= minJaccard)
      .select(col("__bid").as(idCol)).distinct()
    // batch-bounded by nature — the incrementalNearDedup checkpoint
    // discipline: the within-batch stage references this frame
    // several times, each lazy reference would replan the whole
    // cross-table pipeline. (r19 note: two restructures were tried
    // and reverted — reusing `cb` for the within-batch stage with the
    // whole ingest as ONE fused query, and the same with digest-thin
    // storeDrop/survChunks checkpoints; both measured 0.6-0.8× of
    // this shape at sf0.1 because AQE re-plans the bigger DAG at
    // every stage boundary, costing more wall than the saved re-chunk
    // pass and jobs. Evidence in OPTIMIZATION_r19.md.)
    val survivors = batch.join(storeDrop, Seq(idCol), "left_anti")
      .localCheckpoint(true)
    binaryNearDedup(binCol, idCol, minJaccard, chunker, maxDocFreq)(survivors)
  }

  /** Deletion propagation for the streaming binary store — erase the
    * given ids from BOTH the content store and its persisted chunk
    * index ([[graft.streaming.StreamingIngest.seedBinaryStore]]'s
    * pair), touching only the `ingest_batch` partitions that hold
    * them ([[graft.io.LayoutErase]] mechanics — dynamic-overwrite
    * rewrites, filesystem deletes for fully-matched partitions, both
    * loud on failure). Without the index half, near-dup ingest would
    * keep dropping new copies of content the store no longer holds —
    * erased documents RESURRECTING as phantom match partners, the
    * exact failure a right-to-be-forgotten erase exists to prevent.
    * Run quiesced against the ingest loop; gated (mm_erase_index) on
    * post-erase index == index rebuilt from the surviving corpus.
    */
  def eraseBinaryStore(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String,
      indexDir: String,
      idCol: String,
      ids: DataFrame): (graft.io.LayoutErase.LayoutEraseStats, graft.io.LayoutErase.LayoutEraseStats) =
    (graft.io.LayoutErase.eraseByIds(spark, storeDir, Seq(Streams.BatchCol), idCol, ids),
      graft.io.LayoutErase.eraseByIds(spark, indexDir, Seq(Streams.BatchCol), idCol, ids))

  /** Per-binary duplicate coverage at CDC-chunk granularity — the
    * byte-level twin of [[graft.llm.Dedup.cdcDupCoverage]]: the
    * fraction of a binary's bytes living in chunks that also appear
    * in ANOTHER binary (cross-row: n_docs ≥ 2, within-row repetition
    * alone does not count). One row per SOURCE row, zero-filled, so
    * empty binaries cannot diverge from an oracle scanning the base
    * table. Same persist trade as cdcDupCoverage: the chunk table
    * (digest + small ints, ~50 bytes/chunk, spill-capable) feeds both
    * the dup-set aggregation and the per-row rollup.
    */
  def binaryDupCoverage(
      binCol: String,
      idCol: String,
      divisor: Int = 32,
      window: Int = 8)(df: DataFrame): DataFrame = {
    val chunks = binaryCdcChunks(binCol, idCol, divisor, window)(df)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // "≥ 2 distinct docs" ⟺ min(id) ≠ max(id) — the duplicatedGrams
    // r18 rewrite: min/max partially aggregate map-side where
    // count_distinct ships every distinct (chunk, id) pair
    val dup = chunks.groupBy("chunk_md5")
      .agg(min(col(idCol)).as("__lo"), max(col(idCol)).as("__hi"))
      .filter(col("__lo") =!= col("__hi"))
      .select(col("chunk_md5"), lit(1).as("__dup"))
    val per = chunks.join(dup, Seq("chunk_md5"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("__n_chunks"),
        sum(when(col("__dup").isNotNull, 1L).otherwise(0L)).as("__dup_chunks"),
        sum(col("n_bytes")).as("__n_bytes"),
        sum(when(col("__dup").isNotNull, col("n_bytes")).otherwise(0L)).as("__dup_bytes"))
    df.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("__n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("__dup_chunks"), lit(0L)).as("dup_chunks"),
        coalesce(col("__n_bytes"), lit(0L)).as("n_bytes"),
        coalesce(col("__dup_bytes"), lit(0L)).as("dup_bytes"),
        coalesce(col("__dup_bytes") / col("__n_bytes"), lit(0.0)).as("dup_byte_frac"))
  }

  /** REAL byte-level features: one-pass histogram statistics
    * (`graft_byte_stats`) — n_bytes, n_distinct, byte_sum,
    * n_printable, Shannon entropy in bits. The standard codec-free
    * content filters for a training corpus: entropy separates
    * text/garbage/compressed, printable ratio flags binary spill,
    * byte spread flags truncation. Applied per CHUNK this is the
    * batched feature-extract pass of the pipeline.
    */
  def withByteStats(binCol: String, outCol: String = "byte_stats")(df: DataFrame): DataFrame =
    df.withColumn(outCol, Native.byteStats(col(binCol)))

  /** Normalized `bins`-bin byte histogram (`graft_byte_hist`) — a
    * per-row array<double> feature vector with exact cross-engine
    * semantics, the codec-free stand-in slot where a learned embedding
    * would plug in for [[Similarity]] ops downstream.
    */
  def withByteHist(binCol: String, bins: Int = 16, outCol: String = "byte_hist")(df: DataFrame): DataFrame =
    df.withColumn(outCol, Native.byteHist(col(binCol), bins))

  /** Deterministic image-byte FIXTURE for the correctness gate: real
    * PNG / JPEG byte streams (valid signature, IHDR / segment
    * structure) with dimensions derived from an id column, plus a
    * non-image fallthrough. JPEG rows alternate between two shapes so
    * [[withImageMeta]]'s segment walk is exercised at VARIABLE offsets
    * and on both frame kinds — a parser that assumes a fixed SOF
    * position, JFIF-only leading segments, or baseline-only frames
    * fails the gate. Construction is mirrored closed-form in the
    * DuckDB oracle (SparkEntry).
    *
    *  - id % 3 == 0 → PNG, width = id%1913+16, height = id%1061+16
    *  - id % 3 == 1, id odd  → baseline JPEG: APP0 JFIF + COM of
    *    id%37+1 pad bytes + SOF0
    *  - id % 3 == 1, id even → EXIF JPEG: APP1 "Exif\0\0" with an
    *    id%37+1-byte TIFF-body pad + progressive SOF2
    *  - id % 3 == 2 → the raw UTF-8 text (no image header)
    */
  def synthMediaContent(idCol: Column, textCol: Column): Column = {
    val w = (idCol % 1913 + 16).cast("int")
    val h = (idCol % 1061 + 16).cast("int")
    val pad = (idCol % 37 + 1).cast("int")
    def hex4(c: Column) = lpad(hex(c), 4, "0")
    def hex8(c: Column) = lpad(hex(c), 8, "0")
    val pngHex = concat(
      lit("89504E470D0A1A0A"),          // signature
      lit("0000000D49484452"),          // IHDR length 13 + type
      hex8(w), hex8(h),
      lit("0806000000"),                // bit depth 8, RGBA, std methods
      lit("DEADBEEF"))                  // CRC (not validated by header probe)
    val jpegHex = concat(
      lit("FFD8"),                                  // SOI
      lit("FFE000104A46494600010100000100010000"),  // APP0 JFIF, len 16
      lit("FFFE"), hex4(pad + 2),                   // COM, variable length
      call_function("repeat", lit("41"), pad),      // pad bytes 'A'
      lit("FFC0001108"), hex4(h), hex4(w),          // SOF0 len 17, precision 8
      lit("03012200021101031101"),                  // 3 components
      lit("FFD9"))                                  // EOI
    val jpegExifHex = concat(
      lit("FFD8"),                                  // SOI
      lit("FFE1"), hex4(pad + 8),                   // APP1, len = 2+6+pad
      lit("457869660000"),                          // "Exif\0\0"
      call_function("repeat", lit("00"), pad),      // TIFF-body pad
      lit("FFC2001108"), hex4(h), hex4(w),          // SOF2 (progressive), len 17
      lit("03012200021101031101"),                  // 3 components
      lit("FFD9"))                                  // EOI
    when(idCol % 3 === 0, unhex(pngHex))
      .when(idCol % 3 === 1 && idCol % 2 === 1, unhex(jpegHex))
      .when(idCol % 3 === 1, unhex(jpegExifHex))
      .otherwise(encode(textCol, "UTF-8"))
  }
}
