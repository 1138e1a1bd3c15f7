package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/** Native SAS7BDAT source — the reference ingests `.sas7bdat` through
  * `pd.read_sas` (Data_Ingestion_Python.py:28-30); Spark has no
  * built-in reader, so this parses the format directly from the
  * community-documented layout (the reverse-engineered spec that
  * pandas/io/sas, parso, and readstat all implement: 32-byte magic,
  * 32/64-bit + endianness flags, header-declared page size, meta
  * pages carrying row-size/column-size/text/name/attribute
  * subheaders, then fixed-width rows on data and mix pages).
  *
  * Same two-plane split as the rest of graft.io: the DRIVER reads
  * only the header and leading meta pages (bounded — metadata, not
  * data), resolves the schema, then EXECUTORS parse disjoint page
  * ranges in parallel, each seeking straight to its first page —
  * pages are fixed-size and self-describing, so a 100 GB .sas7bdat
  * splits across a cluster exactly like a parquet row-group range,
  * with no driver materialization anywhere. The one read path is the
  * DataSource V2 scan ([[SasDataSource]],
  * `spark.read.format("sas7bdat")`): page ranges are its input
  * partitions, pruned columns reach the page parser, and each
  * partition reports its file to `input_file_name()`.
  *
  * Type mapping mirrors `pd.read_sas`: SAS numerics (3-8 byte
  * truncated IEEE doubles, most-significant bytes kept) widen to
  * DoubleType with SAS missing (NaN) as Spark null; character
  * columns decode with the header's encoding and trailing-pad strip.
  *
  * Compressed files are supported in both published schemes — RLE
  * (SASYZCRL, `COMPRESS=CHAR`) and RDC (SASYZCR2,
  * `COMPRESS=BINARY`): rows live as per-row subheaders on meta
  * pages, each decompressed with the publicly documented command
  * sets (the same tables pandas' rle/rdc_decompress, parso, and
  * readstat implement). Pages stay self-describing, so the executor
  * page-range split is unchanged — a compressed 100 GB file still
  * fans out like parquet row groups.
  */
object Sas {

  private val Magic: Array[Byte] = Array(
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0xc2, 0xea, 0x81, 0x60,
    0xb3, 0x14, 0x11, 0xcf, 0xbd, 0x92, 0x08, 0x00,
    0x09, 0xc7, 0x31, 0x8c, 0x18, 0x1f, 0x10, 0x11).map(_.toByte)

  final case class SasColumn(name: String, offset: Long, length: Int, isNumeric: Boolean)

  /** File compression, from the leading column-text subheader. */
  val CompressNone = 0
  val CompressRle = 1 // SASYZCRL (COMPRESS=CHAR)
  val CompressRdc = 2 // SASYZCR2 (COMPRESS=BINARY)

  /** Everything an executor needs to parse any page independently. */
  final case class SasMeta(
      u64: Boolean,
      littleEndian: Boolean,
      encoding: String,
      headerLength: Int,
      pageLength: Int,
      pageCount: Long,
      rowLength: Long,
      rowCount: Long,
      mixPageRowCount: Long,
      columns: Seq[SasColumn],
      compression: Int = CompressNone,
      /** CRC32 of the bytes [[readMeta]] actually read (header + every
        * page up to and including the first data/mix page). Folded into
        * the census cache key so an in-place rewrite that preserves
        * (mtime, length) — second-granularity filesystems, object-store
        * copies — still invalidates whenever the metadata prefix
        * changed. A shortened-in-place file ALWAYS changes this prefix
        * (row_count lives in the rowsize subheader on a meta page), so
        * the stale-row hazard the census exists for is covered even
        * under mtime-granularity collisions.
        */
      metaFingerprint: Long = 0L) extends Serializable {
    def bitOffset: Int = if (u64) 32 else 16
    def shPtrLen: Int = if (u64) 24 else 12
    def intLen: Int = if (u64) 8 else 4
    def schema: StructType = StructType(columns.map(c =>
      StructField(c.name, if (c.isNumeric) DoubleType else StringType, nullable = true)))
  }

  private final class ByteReader(buf: Array[Byte], le: Boolean) {
    def u8(off: Int): Int = buf(off) & 0xff
    def u16(off: Int): Int =
      if (le) u8(off) | (u8(off + 1) << 8) else (u8(off) << 8) | u8(off + 1)
    def u32(off: Int): Long = {
      val b = if (le) (0 to 3).map(i => u8(off + i).toLong)
              else (0 to 3).map(i => u8(off + 3 - i).toLong)
      b(0) | (b(1) << 8) | (b(2) << 16) | (b(3) << 24)
    }
    def u64v(off: Int): Long =
      if (le) u32(off) | (u32(off + 4) << 32)
      else (u32(off) << 32) | u32(off + 4)
    def uint(off: Int, len: Int): Long = len match {
      case 1 => u8(off).toLong
      case 2 => u16(off).toLong
      case 4 => u32(off)
      case 8 => u64v(off)
    }
    def bytes(off: Int, len: Int): Array[Byte] = java.util.Arrays.copyOfRange(buf, off, off + len)
  }

  private val PageTypeMask = 0xF00
  private val PageTypeMask2 = 0xF000 | PageTypeMask
  private def isMeta(t: Int) = t == 0x0000 || t == 0x4000
  private def isData(t: Int) = t == 0x0100
  private def isMix(t: Int) = t == 0x0200

  /** Parse header + leading meta pages (stops at the first data/mix
    * page, like pd.read_sas) — driver-side, bounded by metadata size.
    */
  def readMeta(spark: SparkSession, path: String): SasMeta = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fileLen = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    try {
      val head = new Array[Byte](288)
      in.readFully(0, head)
      val crc = new java.util.zip.CRC32
      crc.update(head)
      require(head.take(32).sameElements(Magic),
        s"not a sas7bdat file (magic mismatch): $path")
      val u64 = (head(32) & 0xff) == 0x33
      val align1 = if ((head(35) & 0xff) == 0x33) 4 else 0
      val le = (head(37) & 0xff) == 0x01
      val hr = new ByteReader(head, le)
      val encoding = (head(70) & 0xff) match {
        case 20 | 0 => "UTF-8"
        case 29 => "ISO-8859-1"
        case 62 => "windows-1252"
        case other => sys.error(s"unsupported sas7bdat encoding code $other in $path")
      }
      val headerLength = hr.u32(196 + align1).toInt
      val pageLength = hr.u32(200 + align1).toInt
      require(headerLength >= 288 && pageLength > 0,
        s"implausible sas7bdat header (headerLength=$headerLength pageLength=$pageLength)")
      val pageCount = (fileLen - headerLength) / pageLength
      val intLen = if (u64) 8 else 4
      val bitOffset = if (u64) 32 else 16
      val shPtrLen = if (u64) 24 else 12

      var rowLength = 0L
      var rowCount = 0L
      var mixRows = 0L
      var colCount = 0
      var fileCompression = CompressNone
      val textBlobs = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      val names = scala.collection.mutable.ArrayBuffer.empty[String]
      val offsets = scala.collection.mutable.ArrayBuffer.empty[Long]
      val lengths = scala.collection.mutable.ArrayBuffer.empty[Int]
      val types = scala.collection.mutable.ArrayBuffer.empty[Boolean]

      val page = new Array[Byte](pageLength)
      var pi = 0L
      var done = false
      while (pi < pageCount && !done) {
        in.readFully(headerLength + pi * pageLength, page)
        crc.update(page)
        val pr = new ByteReader(page, le)
        val ptype = (pr.u16(bitOffset) & PageTypeMask2)
        var dataSeen = false
        if (isMeta(ptype) || isMix(ptype) || ptype == 0x0400) {
          val shCount = pr.u16(bitOffset + 4)
          var i = 0
          while (i < shCount) {
            val base = bitOffset + 8 + i * shPtrLen
            val shOff = pr.uint(base, intLen).toInt
            val shLen = pr.uint(base + intLen, intLen).toInt
            val compression = pr.u8(base + 2 * intLen)
            val shType = pr.u8(base + 2 * intLen + 1)
            if (shLen > 0 && compression != 1) { // 1 = truncated
              val sig = pr.bytes(shOff, intLen)
              if (isDataSubheader(sig, compression, shType)) {
                // a compressed file's rows start here — metadata is
                // complete; stop like pd.read_sas's _process_page_meta
                dataSeen = true
              } else signatureKind(sig) match {
                case "rowsize" =>
                  rowLength = pr.uint(shOff + 5 * intLen, intLen)
                  rowCount = pr.uint(shOff + 6 * intLen, intLen)
                  mixRows = pr.uint(shOff + 15 * intLen, intLen)
                case "colsize" =>
                  colCount = pr.uint(shOff + intLen, intLen).toInt
                case "text" =>
                  val sz = pr.u16(shOff + intLen)
                  val blob = pr.bytes(shOff + intLen, sz)
                  if (textBlobs.isEmpty) {
                    val s = new String(blob, java.nio.charset.StandardCharsets.ISO_8859_1)
                    if (s.contains("SASYZCRL")) fileCompression = CompressRle
                    else if (s.contains("SASYZCR2")) fileCompression = CompressRdc
                  }
                  textBlobs += blob
                case "colname" =>
                  val n = (shLen - 2 * intLen - 12) / 8
                  var j = 0
                  while (j < n) {
                    val pBase = shOff + intLen + 8 * (j + 1)
                    val idx = pr.u16(pBase)
                    val off = pr.u16(pBase + 2)
                    val len = pr.u16(pBase + 4)
                    names += new String(textBlobs(idx), off, len, encoding).trim
                    j += 1
                  }
                case "colattrs" =>
                  val n = (shLen - 2 * intLen - 12) / (intLen + 8)
                  var j = 0
                  while (j < n) {
                    offsets += pr.uint(shOff + intLen + 8 + j * (intLen + 8), intLen)
                    lengths += pr.u32(shOff + 2 * intLen + 8 + j * (intLen + 8)).toInt
                    types += pr.u8(shOff + 2 * intLen + 14 + j * (intLen + 8)) == 1
                    j += 1
                  }
                case _ => () // counts / format / list / unknown: not needed for data
              }
            }
            i += 1
          }
        }
        if (isData(ptype) || isMix(ptype) || dataSeen) done = true else pi += 1
      }
      require(rowLength > 0 && names.size == colCount && offsets.size == colCount,
        s"sas7bdat metadata incomplete in $path " +
          s"(cols=$colCount names=${names.size} attrs=${offsets.size} rowLength=$rowLength)")
      val cols = (0 until colCount).map(i => SasColumn(names(i), offsets(i), lengths(i), types(i)))
      SasMeta(u64, le, encoding, headerLength, pageLength, pageCount,
        rowLength, rowCount, mixRows, cols, fileCompression, crc.getValue)
    } finally in.close()
  }

  private def signatureKind(sig: Array[Byte]): String = {
    val hex = sig.map(b => f"${b & 0xff}%02x").mkString
    hex match {
      case h if h.startsWith("f7f7f7f7") || h.endsWith("f7f7f7f7") || h == "f7f7f7f7fffffbfe" => "rowsize"
      case h if h.startsWith("f6f6f6f6") || h.endsWith("f6f6f6f6") || h == "f6f6f6f6fffffbfe" => "colsize"
      case h if h.startsWith("fdffffff") || h.endsWith("fffffffd") => "text"
      case h if h == "ffffffff" || h == "ffffffffffffffff" => "colname"
      case h if h.startsWith("fcffffff") || h.endsWith("fffffffc") => "colattrs"
      case _ => "other"
    }
  }

  /** The full published metadata-signature table (the map every public
    * reader carries: row size, column size, subheader counts, column
    * text/name/attributes/format/list, in 32- and 64-bit LE/BE forms).
    * Anything NOT here, carried by a pointer with type=1 and
    * compression 0 or 4, is a data row in a compressed file.
    */
  private val MetaSignatures: Set[String] = Set(
    "f7f7f7f7", "00000000f7f7f7f7", "f7f7f7f700000000", "f7f7f7f7fffffbfe", // rowsize
    "f6f6f6f6", "00000000f6f6f6f6", "f6f6f6f600000000", "f6f6f6f6fffffbfe", // colsize
    "00fcffff", "fffffc00", "00fcffffffffffff", "fffffffffffffc00",         // counts
    "fdffffff", "fffffffd", "fdffffffffffffff", "fffffffffffffffd",         // text
    "ffffffff", "ffffffffffffffff",                                         // colname
    "fcffffff", "fffffffc", "fcffffffffffffff", "fffffffffffffffc",         // colattrs
    "fefbffff", "fffffbfe", "fefbffffffffffff", "fffffffffffffbfe",         // format
    "feffffff", "fffffffe", "feffffffffffffff", "fffffffffffffffe")         // collist

  /** Row-data pointer test for compressed files: unknown signature +
    * pointer type 1 + pointer compression 0 (stored raw) or 4 (RLE/RDC
    * payload) — the same rule pd.read_sas's _get_subheader_index
    * applies.
    */
  private def isDataSubheader(sig: Array[Byte], compression: Int, shType: Int): Boolean =
    shType == 1 && (compression == 0 || compression == 4) &&
      !MetaSignatures.contains(sig.map(b => f"${b & 0xff}%02x").mkString)

  /** Decompress one SASYZCRL (RLE / COMPRESS=CHAR) row. Command set is
    * the publicly documented one (control high nibble, low nibble
    * `efb`): 0x0 copy efb*256+next+64 literal; 0x4 repeat the byte
    * after the length efb*16+next+18 times; 0x6/0x7 insert
    * efb*256+next+17 blanks/zeros; 0x8/0x9/0xA/0xB copy
    * efb+1/+17/+33/+49 literal; 0xC repeat next byte efb+3 times;
    * 0xD/0xE/0xF insert efb+2 '@'/blank/zero bytes.
    */
  private[io] def rleDecompress(src: Array[Byte], srcOff: Int, srcLen: Int, outLen: Int): Array[Byte] = {
    val out = new Array[Byte](outLen)
    var ip = srcOff
    val end = srcOff + srcLen
    var op = 0
    // every operand read and every write is bounds-checked against the
    // SUBHEADER's extent, not the page's: a truncated stream must fail
    // loudly here, never bleed into adjacent rows on the same page or
    // throw a raw ArrayIndexOutOfBoundsException
    def corrupt(what: String): Nothing =
      throw new java.io.IOException(
        s"corrupt SASYZCRL stream: $what at offset ${ip - srcOff} of $srcLen")
    def operand(): Int = {
      if (ip >= end) corrupt("truncated command operand")
      val v = src(ip) & 0xff; ip += 1; v
    }
    def fill(b: Byte, n: Int): Unit = {
      if (op + n > outLen) corrupt(s"run of $n overflows the $outLen-byte row at $op")
      java.util.Arrays.fill(out, op, op + n, b); op += n
    }
    def copy(n: Int): Unit = {
      if (ip + n > end) corrupt(s"literal of $n overruns the compressed stream")
      if (op + n > outLen) corrupt(s"literal of $n overflows the $outLen-byte row at $op")
      System.arraycopy(src, ip, out, op, n); ip += n; op += n
    }
    while (ip < end && op < outLen) {
      val ctrl = src(ip) & 0xf0
      val efb = src(ip) & 0x0f
      ip += 1
      ctrl match {
        case 0x00 => copy(efb * 256 + operand() + 64)
        case 0x40 =>
          val n = efb * 16 + operand() + 18
          fill(operand().toByte, n)
        case 0x60 => fill(0x20, efb * 256 + operand() + 17)
        case 0x70 => fill(0x00, efb * 256 + operand() + 17)
        case 0x80 => copy(efb + 1)
        case 0x90 => copy(efb + 17)
        case 0xa0 => copy(efb + 33)
        case 0xb0 => copy(efb + 49)
        case 0xc0 => fill(operand().toByte, efb + 3)
        case 0xd0 => fill(0x40, efb + 2)
        case 0xe0 => fill(0x20, efb + 2)
        case 0xf0 => fill(0x00, efb + 2)
        case other =>
          throw new java.io.IOException(
            f"corrupt SASYZCRL stream: unknown control byte 0x$other%02x at offset ${ip - 1 - srcOff}")
      }
    }
    require(op == outLen,
      s"SASYZCRL row decompressed to $op bytes, expected $outLen — corrupt or truncated row")
    out
  }

  /** Decompress one SASYZCR2 (RDC / COMPRESS=BINARY) row. Public
    * command layout (pandas rdc_decompress / parso / readstat): a
    * 16-bit big-endian control word precedes each group of 16 items;
    * a 0 control bit passes one literal byte through, a 1 bit reads a
    * command byte `(cmd << 4) | cnt`: cmd 0 = repeat next byte cnt+3
    * times; cmd 1 = repeat next-next byte cnt + (next << 4) + 19
    * times; cmd 2 = copy (next2 + 16) bytes from output offset
    * cnt + 3 + (next << 4) back; cmd 3-15 = copy `cmd` bytes from
    * offset cnt + 3 + (next << 4) back (self-overlap legal — the
    * copy must run byte-at-a-time).
    */
  private[io] def rdcDecompress(src: Array[Byte], srcOff: Int, srcLen: Int, outLen: Int): Array[Byte] = {
    val out = new Array[Byte](outLen)
    var ip = srcOff
    val end = srcOff + srcLen
    var op = 0
    var ctrlBits = 0
    var ctrlMask = 0
    // bounds discipline mirrors rleDecompress: every operand read and
    // every write checked against the subheader's extent — truncated
    // streams fail loudly instead of consuming the next row's bytes
    def corrupt(what: String): Nothing =
      throw new java.io.IOException(
        s"corrupt SASYZCR2 stream: $what at offset ${ip - srcOff} of $srcLen")
    def operand(): Int = {
      if (ip >= end) corrupt("truncated command operand")
      val v = src(ip) & 0xff; ip += 1; v
    }
    def fill(b: Byte, n: Int): Unit = {
      if (op + n > outLen) corrupt(s"run of $n overflows the $outLen-byte row at $op")
      java.util.Arrays.fill(out, op, op + n, b); op += n
    }
    def backCopy(ofs: Int, n: Int): Unit = {
      if (ofs < 1 || ofs > op) // a corrupt offset must not read before the row start
        corrupt(s"back-reference offset $ofs at output position $op")
      if (op + n > outLen) corrupt(s"back-reference of $n overflows the $outLen-byte row at $op")
      var k = 0
      while (k < n) { out(op + k) = out(op - ofs + k); k += 1 } // overlap-safe
      op += n
    }
    while (ip < end && op < outLen) {
      ctrlMask >>= 1
      if (ctrlMask == 0) {
        if (ip + 1 >= end) corrupt("truncated control word")
        ctrlBits = ((src(ip) & 0xff) << 8) | (src(ip + 1) & 0xff); ip += 2
        ctrlMask = 0x8000
      }
      if ((ctrlBits & ctrlMask) == 0) {
        if (ip >= end) corrupt("truncated literal")
        out(op) = src(ip); op += 1; ip += 1 // loop guard holds op < outLen here
      } else {
        val cb = operand() // one read: high nibble = command, low = count
        val cmd = (cb >> 4) & 0x0f
        val cnt = cb & 0x0f
        cmd match {
          case 0 => // short RLE
            fill(operand().toByte, cnt + 3)
          case 1 => // long RLE
            val n = cnt + (operand() << 4) + 19
            fill(operand().toByte, n)
          case 2 => // long back-reference
            val ofs = cnt + 3 + (operand() << 4)
            val n = operand() + 16
            backCopy(ofs, n)
          case c => // 3-15: short back-reference of c bytes
            val ofs = cnt + 3 + (operand() << 4)
            backCopy(ofs, c)
        }
      }
    }
    require(op == outLen,
      s"SASYZCR2 row decompressed to $op bytes, expected $outLen — corrupt or truncated row")
    out
  }

  /** Locate the fixed-width row IMAGES of ONE page as `(buffer,
    * base)` pairs — `buffer` is the page itself for inline rows
    * (data/mix pages) or a freshly decompressed row image (per-row
    * subheaders on compressed files' meta pages, decompressed when
    * shorter than the row length, stored raw otherwise —
    * pd.read_sas's rule). The DSv2 scan ([[SasDataSource]]) decodes
    * its pruned columns out of these images.
    */
  private[io] def pageRowImages(page: Array[Byte], meta: SasMeta): Iterator[(Array[Byte], Int)] = {
    val pr = new ByteReader(page, meta.littleEndian)
    val ptype = pr.u16(meta.bitOffset) & PageTypeMask2
    if (isCompressedRowPage(ptype, meta)) {
      // compressed file: rows are per-row subheaders on meta pages,
      // RLE-decompressed when shorter than the row length, stored raw
      // otherwise (pd.read_sas's rule)
      dataSubheaderPtrs(page, meta).map { case (shOff, shLen) =>
        if (shLen < meta.rowLength) {
          val raw =
            if (meta.compression == CompressRdc)
              rdcDecompress(page, shOff, shLen, meta.rowLength.toInt)
            else rleDecompress(page, shOff, shLen, meta.rowLength.toInt)
          (raw, 0)
        } else (page, shOff)
      }
    } else {
      val (start, n) = inlineRowSpan(pr, ptype, meta)
      (0L until n).iterator.map(r => (page, (start + r * meta.rowLength).toInt))
    }
  }

  private def isCompressedRowPage(ptype: Int, meta: SasMeta): Boolean =
    meta.compression != CompressNone && (isMeta(ptype) || ptype == 0x0400)

  /** (offset, length) of each row-bearing data subheader of one
    * compressed-file meta/comp page — the ONE pointer walk under both
    * the row materializer ([[pageRowImages]]) and the decode-free
    * census ([[pageRowCount]]); sharing it makes count/emit
    * divergence structurally impossible.
    */
  private def dataSubheaderPtrs(page: Array[Byte], meta: SasMeta): Iterator[(Int, Int)] = {
    val pr = new ByteReader(page, meta.littleEndian)
    val shCount = pr.u16(meta.bitOffset + 4)
    (0 until shCount).iterator.flatMap { i =>
      val base = meta.bitOffset + 8 + i * meta.shPtrLen
      val shOff = pr.uint(base, meta.intLen).toInt
      val shLen = pr.uint(base + meta.intLen, meta.intLen).toInt
      val comp = pr.u8(base + 2 * meta.intLen)
      val shType = pr.u8(base + 2 * meta.intLen + 1)
      if (shLen > 0 && comp != 1 &&
          isDataSubheader(pr.bytes(shOff, meta.intLen), comp, shType))
        Iterator.single((shOff, shLen))
      else Iterator.empty
    }
  }

  /** (start, count) of the inline fixed-width rows of one
    * uncompressed data/mix page. Reads ONLY the page header (first
    * `bitOffset + 8` bytes), so the census can pass a header-only
    * prefix buffer; the mix-page capacity uses `meta.pageLength` (the
    * buffer handed to [[pageRowImages]] is always exactly one page).
    */
  private def inlineRowSpan(pr: ByteReader, ptype: Int, meta: SasMeta): (Int, Long) =
    if (isData(ptype)) {
      (meta.bitOffset + 8, pr.u16(meta.bitOffset + 2).toLong)
    } else if (isMix(ptype)) {
      val shCount = pr.u16(meta.bitOffset + 4)
      val raw = meta.bitOffset + 8 + shCount * meta.shPtrLen
      val aligned = ((raw + 7) / 8) * 8
      val capacity = (meta.pageLength - aligned) / meta.rowLength
      // pd.read_sas clamps the mix page to min(row_count,
      // mix_page_row_count); a mix page is always the FIRST
      // row-bearing page, so the file-level rowCount applies to it
      // directly — without the clamp a row_size subheader declaring
      // more mix rows than the table holds would emit garbage rows
      // parsed from page padding
      (aligned, Seq(meta.mixPageRowCount, meta.rowCount, capacity).min)
    } else (0, 0L)

  /** Width-w SAS numeric at `off` (most-significant bytes kept): the
    * one numeric decode, a static method for the per-cell hot path.
    */
  private def sasDoubleAt(buf: Array[Byte], le: Boolean, off: Int, w: Int): Double = {
    var bits = 0L
    if (le) {
      var i = 0
      while (i < w) { bits |= (buf(off + i) & 0xffL) << ((8 - w + i) * 8); i += 1 }
    } else {
      var i = 0
      while (i < w) { bits = (bits << 8) | (buf(off + i) & 0xffL); i += 1 }
      bits = bits << ((8 - w) * 8)
    }
    java.lang.Double.longBitsToDouble(bits)
  }

  /** Decode ONE column of a fixed-width row image; null for SAS
    * missing numerics, trailing space/NUL pad stripped from strings.
    * The DSv2 scan calls it once per selected column per row.
    */
  private[io] def decodeCol(
      buf: Array[Byte], base: Int, c: SasColumn, meta: SasMeta,
      charset: java.nio.charset.Charset): Any = {
    val off = base + c.offset.toInt
    if (c.isNumeric) {
      // static decode — this is the scan's innermost per-row/per-column
      // loop, so no per-cell reader allocation
      val d = sasDoubleAt(buf, meta.littleEndian, off, c.length)
      if (java.lang.Double.isNaN(d)) null else d // SAS missing -> Spark null
    } else {
      val s = new String(buf, off, c.length, charset)
      var end = s.length
      while (end > 0 && (s(end - 1) == ' ' || s(end - 1) == '\u0000')) end -= 1
      s.substring(0, end)
    }
  }

  /** Count the data rows of ONE page without decompressing or
    * decoding them. Agrees with [[pageRowImages]] row-for-row BY
    * CONSTRUCTION: both walk the same [[dataSubheaderPtrs]] /
    * [[inlineRowSpan]]. For uncompressed files `page` may be a
    * header-only prefix (`bitOffset + 8` bytes) — the inline span
    * never reads past the header.
    */
  private[io] def pageRowCount(page: Array[Byte], meta: SasMeta): Int = {
    val pr = new ByteReader(page, meta.littleEndian)
    val ptype = pr.u16(meta.bitOffset) & PageTypeMask2
    if (isCompressedRowPage(ptype, meta)) dataSubheaderPtrs(page, meta).size
    else inlineRowSpan(pr, ptype, meta)._2.toInt
  }

  /** Driver-side census cache. The override map is a pure function of
    * the file's bytes, so it is keyed on (path, mtime, length,
    * metaFingerprint) — an in-place rewrite bumps mtime or length and
    * invalidates, and a rewrite landing WITHIN the filesystem's mtime
    * granularity (second-level on object stores) at the same length is
    * caught by the fingerprint: [[readMeta]] CRCs every byte it reads
    * (header + meta-page prefix), and the stale-row hazard the census
    * exists for requires a changed rowsize subheader, which lives in
    * that prefix. Residual blind spot — a same-length rewrite altering
    * ONLY bytes past the first data/mix page within mtime
    * granularity — cannot change the DECLARED row_count (it lives in
    * the CRC'd prefix) but CAN still add or drop physical rows on
    * trailing pages, leaving a stale cached census; accepted as
    * strictly narrower than the pre-fingerprint (path,mtime,length)
    * blind spot, which also missed rowsize/row_count rewrites. A static
    * file pays the census job ONCE per driver, not once per
    * `format("sas7bdat")` load (for compressed files the uncached
    * census re-reads the whole file — 2× I/O per read on the
    * overwhelmingly common well-formed case).
    * Access-ordered and bounded so a long-lived driver scanning many
    * files cannot grow it without bound; entries are
    * page-index→take-limit maps, empty for well-formed files, so
    * memory per entry is ~0.
    */
  private val censusCache =
    new java.util.LinkedHashMap[(String, Long, Long, Long), Map[Long, Int]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long, Long), Map[Long, Int]]): Boolean =
        size > 256
    }

  /** pd.read_sas reads EXACTLY `row_count` rows in page order; a file
    * shortened in place can carry stale rows past that on its
    * trailing pages — stale row subheaders on compressed files, data
    * pages whose u16 block counts sum past `row_count` on
    * uncompressed ones — which a naive pass would emit as extra
    * garbage rows. This runs one decode-free census (pointer arrays
    * only — rows are never decompressed) and returns per-page take
    * limits for the affected pages; EMPTY for well-formed files. The
    * census is the price of parity, and it is cheap: uncompressed
    * files read only each page's `bitOffset + 8`-byte HEADER (the
    * inline row count lives there — ~0.1% of the file's bytes);
    * compressed files read whole pages (the pointer walk chases
    * signature bytes anywhere in the page) but never decode a row —
    * and either way it runs once per (path, mtime, length) per
    * driver, via [[censusCache]].
    */
  private[io] def rowCountOverrides(
      spark: SparkSession, path: String, meta: SasMeta): Map[Long, Int] = {
    val st = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(new Path(path))
    val key = (path, st.getModificationTime, st.getLen, meta.metaFingerprint)
    censusCache.synchronized(Option(censusCache.get(key))) match {
      case Some(hit) => hit
      case None =>
        val computed = censusUncached(spark, path, meta)
        censusCache.synchronized(censusCache.put(key, computed))
        computed
    }
  }

  /** Distinct census executions (cache misses) — lets specs pin the
    * once-per-file discipline without scraping the scheduler.
    */
  private[graft] val censusRuns = new java.util.concurrent.atomic.AtomicLong

  private def censusUncached(
      spark: SparkSession, path: String, meta: SasMeta): Map[Long, Int] = {
    censusRuns.incrementAndGet()
    val confBc = spark.sparkContext.broadcast(HadoopConfSer.entries(spark))
    val readLen =
      if (meta.compression == CompressNone) meta.bitOffset + 8 else meta.pageLength
    val parallelism = math.max(1L,
      math.min(meta.pageCount, spark.sparkContext.defaultParallelism.toLong)).toInt
    val census = spark.sparkContext
      .range(0L, meta.pageCount, numSlices = parallelism)
      .mapPartitions { pages =>
        val conf = HadoopConfSer.rebuild(confBc.value)
        val p = new Path(path)
        val fs = p.getFileSystem(conf)
        val in = fs.open(p)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
        val buf = new Array[Byte](readLen)
        pages.map { pi =>
          in.readFully(meta.headerLength + pi * meta.pageLength, buf, 0, readLen)
          (pi, pageRowCount(buf, meta))
        }
      }.collect().sortBy(_._1)
    confBc.destroy() // census is one job; don't accumulate a broadcast per scan
    var cum = 0L
    val m = Map.newBuilder[Long, Int]
    census.foreach { case (pi, n) =>
      val take = math.max(0L, math.min(n.toLong, meta.rowCount - cum))
      if (take < n) m += pi -> take.toInt
      cum += n
    }
    m.result()
  }
}
