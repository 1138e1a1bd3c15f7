package graft

import java.nio.file.{Files, Path}

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.io.Sas

/** Generative differential for the binary SAS7BDAT reader — the
  * sibling of [[ConfigDifferentialSpec]] for the data plane's riskiest
  * parser. Before this suite `io.Sas` was validated against FIXED
  * pd.read_sas-cross-checked fixtures (tools/make_sas_fixture.py);
  * here random tables are rendered to real sas7bdat bytes by the
  * test's own INDEPENDENT writer (implementing the same
  * community-documented layout the reader does: 32-byte magic,
  * 32/64-bit and endianness flags, header-declared page size, meta
  * pages carrying rowsize/colsize/text/colname/colattrs subheaders,
  * fixed-width rows on data and mix pages, per-row RLE/RDC subheaders
  * on compressed files) and read back through the DSv2 `sas7bdat`
  * scan — full and column-pruned — against the in-memory model.
  *
  * Randomized per case: word size (32/64-bit), endianness, header
  * alignment flag, encoding (UTF-8 / ISO-8859-1 / windows-1252),
  * page size, column count/widths (numerics 3-8 bytes with
  * truncation-exact values; strings with trailing-pad), missing
  * numerics (NaN → null), meta-vs-mix first-page layout, subheader
  * splitting (column names across two colname/colattrs subheaders
  * and two text blobs), noise pointers (zero-length and
  * compression=1 truncated, which the reader must skip), compression
  * (none / SASYZCRL literal+run streams / SASYZCR2 control-word
  * streams, incompressible rows stored raw), and the stale-row
  * hazards the census exists for (row_count below the physical rows
  * on trailing pages; a mix page declaring mix rows beyond
  * row_count).
  */
class SasDifferentialSpec extends SparkSpec {

  // ===== model =====

  private case class MCol(name: String, numeric: Boolean, width: Int)

  /** cells: numeric -> Option[Double] (None = SAS missing), string ->
    * String. `declared` is the rowsize subheader's row_count; rows
    * beyond it are the stale tail the reader must NOT emit.
    */
  private case class MFile(
      u64: Boolean, le: Boolean, align1: Boolean, encCode: Int,
      pageLength: Int, cols: Vector[MCol], rows: Vector[Vector[Any]],
      declared: Int, mixFirst: Boolean, inflateMixRows: Boolean,
      compression: Int, splitSubheaders: Boolean) {
    def intLen: Int = if (u64) 8 else 4
    def shPtrLen: Int = if (u64) 24 else 12
    def bitOffset: Int = if (u64) 32 else 16
    def charset: java.nio.charset.Charset = java.nio.charset.Charset.forName(
      encCode match { case 29 => "ISO-8859-1"; case 62 => "windows-1252"; case _ => "UTF-8" })
    /** id col at offset 0 (8-byte numeric), rest packed in order. */
    def layout: (Vector[Int], Int) = {
      var off = 0
      val offs = cols.map { c => val o = off; off += c.width; o }
      (offs, off)
    }
  }

  private val identGen: Gen[String] = for {
    h <- Gen.alphaChar
    t <- Gen.choose(1, 7).flatMap(Gen.listOfN(_, Gen.alphaNumChar))
  } yield (h :: t).mkString

  /** Truncation-exact numeric: storing the top `w` bytes of the IEEE
    * image must be lossless, so the magnitude stays within the
    * mantissa bits that survive (8w-12, one less for the .5 form).
    */
  private def numGen(w: Int): Gen[Option[Double]] = {
    val bound = 1L << math.min(40, 8 * w - 13)
    Gen.frequency(
      6 -> Gen.choose(-bound, bound).map(n => Some(n.toDouble)),
      2 -> (if (w >= 4) Gen.choose(-bound / 2, bound / 2).map(n => Some(n + 0.5))
            else Gen.choose(-bound, bound).map(n => Some(n.toDouble))),
      1 -> Gen.const(None))
  }

  private def strGen(cap: Int, utf8: Boolean): Gen[String] = {
    val ch = Gen.frequency(
      8 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(" _-.:#@!?+*/=<>&é".toSeq),
      (if (utf8) 1 else 0) -> Gen.const('漢'))
    for {
      n <- Gen.choose(0, cap)
      cs <- Gen.listOfN(n, ch)
      // the reader strips trailing pad; a value ending in ' ' cannot
      // round-trip by design (documented pd.read_sas parity)
      t = cs.mkString.reverse.dropWhile(_ == ' ').reverse
      if t.getBytes(if (utf8) "UTF-8" else "ISO-8859-1").length <= cap
    } yield t
  }

  private val fileGen: Gen[(MFile, Long)] = for {
    u64 <- Gen.oneOf(true, false)
    le <- Gen.oneOf(true, false)
    align1 <- Gen.oneOf(true, false)
    encCode <- Gen.oneOf(20, 29, 62)
    pageLength <- Gen.oneOf(1024, 2048, 4096)
    nCols <- Gen.choose(0, 5)
    names <- Gen.listOfN((nCols + 1) * 3, identGen)
      .map(_.distinct.take(nCols + 1).toVector)
      .suchThat(_.size == nCols + 1)
    colSpecs <- Gen.sequence[Vector[(Boolean, Int)], (Boolean, Int)](
      Vector.fill(nCols)(for {
        numeric <- Gen.oneOf(true, false)
        w <- if (numeric) Gen.choose(3, 8) else Gen.choose(1, 12)
      } yield (numeric, w)))
    cols = MCol(names.head, numeric = true, 8) +:
      names.tail.zip(colSpecs).map { case (n, (num, w)) => MCol(n, num, w) }
    nRows <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 45))
    rows <- Gen.sequence[Vector[Vector[Any]], Vector[Any]](
      Vector.tabulate(nRows)(i =>
        Gen.sequence[Vector[Any], Any](cols.zipWithIndex.map { case (c, ci) =>
          if (ci == 0) Gen.const[Any](Some(i.toDouble))
          else if (c.numeric) numGen(c.width).map(x => x: Any)
          else strGen(c.width, encCode == 20).map(x => x: Any)
        })))
    compression <- Gen.frequency(2 -> Gen.const(0), 1 -> Gen.const(1), 1 -> Gen.const(2))
    mixFirst <- if (compression == 0) Gen.oneOf(true, false) else Gen.const(false)
    stale <- Gen.frequency(4 -> Gen.const(0), 1 -> Gen.choose(1, math.max(1, nRows / 3)))
    inflate <- Gen.frequency(3 -> Gen.const(false), 1 -> Gen.const(true))
    split <- Gen.oneOf(true, false)
    seed <- Gen.choose(Long.MinValue, Long.MaxValue)
  } yield (MFile(u64, le, align1, encCode, pageLength, cols, rows,
    declared = math.max(0, nRows - math.min(stale, nRows)),
    mixFirst = mixFirst, inflateMixRows = mixFirst && inflate,
    compression = compression, splitSubheaders = split), seed)

  // ===== the independent writer =====

  private final class W(val a: Array[Byte], le: Boolean) {
    def u8(off: Int, v: Int): Unit = a(off) = v.toByte
    def u16(off: Int, v: Int): Unit =
      if (le) { a(off) = v.toByte; a(off + 1) = (v >> 8).toByte }
      else { a(off) = (v >> 8).toByte; a(off + 1) = v.toByte }
    def u32(off: Int, v: Long): Unit =
      if (le) (0 until 4).foreach(i => a(off + i) = (v >> (8 * i)).toByte)
      else (0 until 4).foreach(i => a(off + i) = (v >> (8 * (3 - i))).toByte)
    def uint(off: Int, v: Long, intLen: Int): Unit =
      if (le) (0 until intLen).foreach(i => a(off + i) = (v >> (8 * i)).toByte)
      else (0 until intLen).foreach(i => a(off + i) = (v >> (8 * (intLen - 1 - i))).toByte)
    def bytes(off: Int, bs: Array[Byte]): Unit = System.arraycopy(bs, 0, a, off, bs.length)
  }

  private val Magic: Array[Byte] = Array(
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0xc2, 0xea, 0x81, 0x60,
    0xb3, 0x14, 0x11, 0xcf, 0xbd, 0x92, 0x08, 0x00,
    0x09, 0xc7, 0x31, 0x8c, 0x18, 0x1f, 0x10, 0x11).map(_.toByte)

  /** SAS numeric image: top `w` bytes of the IEEE double; asserts the
    * truncation is lossless for non-missing values.
    */
  private def numBytes(v: Option[Double], w: Int, le: Boolean): Array[Byte] = {
    val bits = java.lang.Double.doubleToRawLongBits(v.getOrElse(Double.NaN))
    if (v.isDefined && w < 8)
      require((bits & ((1L << (8 * (8 - w))) - 1)) == 0,
        s"generator produced a non-$w-byte-exact double: $v")
    val out = new Array[Byte](w)
    if (le) (0 until w).foreach(i => out(i) = (bits >> (8 * (8 - w + i))).toByte)
    else (0 until w).foreach(i => out(i) = (bits >> (8 * (7 - i))).toByte)
    out
  }

  private def rowImage(f: MFile, row: Vector[Any]): Array[Byte] = {
    val (offs, rowLen) = f.layout
    val img = new Array[Byte](rowLen)
    f.cols.indices.foreach { i =>
      val c = f.cols(i)
      if (c.numeric)
        System.arraycopy(numBytes(row(i).asInstanceOf[Option[Double]], c.width, f.le),
          0, img, offs(i), c.width)
      else {
        val bs = row(i).asInstanceOf[String].getBytes(f.charset)
        System.arraycopy(bs, 0, img, offs(i), bs.length)
        java.util.Arrays.fill(img, offs(i) + bs.length, offs(i) + c.width, ' '.toByte)
      }
    }
    img
  }

  /** SASYZCRL encoder: byte runs >= 3 as 0xC0 chunks, literals via the
    * 0x80/0x90/0xA0/0xB0 forms; first byte always a 1-byte literal so
    * the stream can never collide with a metadata signature.
    */
  private def rleEncode(row: Array[Byte]): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    out += 0x80.toByte; out += row(0)
    var i = 1
    while (i < row.length) {
      var run = 1
      while (i + run < row.length && row(i + run) == row(i) && run < 18) run += 1
      if (run >= 3) {
        out += (0xC0 | (run - 3)).toByte; out += row(i); i += run
      } else {
        var j = i
        var lit = 0
        var stop = false
        while (j < row.length && lit < 64 && !stop) {
          var r = 1
          while (j + r < row.length && row(j + r) == row(j) && r < 4) r += 1
          if (r >= 3) stop = true
          else { j += 1; lit += 1 }
        }
        val cmd =
          if (lit <= 16) 0x80 | (lit - 1)
          else if (lit <= 32) 0x90 | (lit - 17)
          else if (lit <= 48) 0xA0 | (lit - 33)
          else 0xB0 | (lit - 49)
        out += cmd.toByte
        out ++= row.slice(i, i + lit)
        i += lit
      }
    }
    out.toArray
  }

  /** SASYZCR2 encoder: literal items plus short/long RLE commands,
    * 16-item big-endian control words; first item forced literal so
    * the leading control byte stays below 0x80 (signature-safe).
    */
  private def rdcEncode(row: Array[Byte]): Array[Byte] = {
    val items = scala.collection.mutable.ArrayBuffer.empty[Either[Byte, Array[Byte]]]
    items += Left(row(0))
    var i = 1
    while (i < row.length) {
      var run = 1
      while (i + run < row.length && row(i + run) == row(i)) run += 1
      if (run >= 3) {
        val m = math.min(run, 4098) // cmd1 ceiling: 15 + 255*16 + 19
        if (m <= 18) items += Right(Array(((0 << 4) | (m - 3)).toByte, row(i)))
        else items += Right(Array(((1 << 4) | ((m - 19) & 0xF)).toByte,
          ((m - 19) >> 4).toByte, row(i)))
        i += m
      } else { items += Left(row(i)); i += 1 }
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    items.grouped(16).foreach { grp =>
      var ctrl = 0
      grp.zipWithIndex.foreach { case (it, k) => if (it.isRight) ctrl |= 0x8000 >> k }
      out += (ctrl >> 8).toByte; out += ctrl.toByte
      grp.foreach {
        case Left(b) => out += b
        case Right(bs) => out ++= bs
      }
    }
    out.toArray
  }

  private type Sub = (Int, (W, Int) => Unit, Int, Int) // len, writer, ptrComp, ptrType

  /** Render the whole file: header, then a meta (or mix) first page
    * plus data pages (uncompressed), or meta pages carrying metadata
    * subheaders followed by per-row data subheaders (compressed).
    */
  private def writeSas(path: Path, f: MFile, rnd: scala.util.Random): Unit = {
    val intLen = f.intLen
    val (offs, rowLength) = f.layout
    val headerLength = if (rnd.nextBoolean()) 1024 else 4096
    val a1 = if (f.align1) 4 else 0

    /** Subheader signatures, in the 32-bit LE-canonical byte order the
      * published table lists (signatureKind matches them raw in both
      * endiannesses; all forms below are in the reader's
      * MetaSignatures set).
      */
    def sig(kind: String): Array[Byte] = {
      def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
      kind match {
        case "rowsize" =>
          if (f.u64) b(0xf7, 0xf7, 0xf7, 0xf7, 0, 0, 0, 0) else b(0xf7, 0xf7, 0xf7, 0xf7)
        case "colsize" =>
          if (f.u64) b(0xf6, 0xf6, 0xf6, 0xf6, 0, 0, 0, 0) else b(0xf6, 0xf6, 0xf6, 0xf6)
        case "text" =>
          if (f.u64) b(0xfd, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff)
          else b(0xfd, 0xff, 0xff, 0xff)
        case "colname" => Array.fill(intLen)(0xff.toByte)
        case "colattrs" =>
          if (f.u64) b(0xfc, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff)
          else b(0xfc, 0xff, 0xff, 0xff)
      }
    }

    // text blobs: [u16 size][marker?][name bytes...]; colname entries
    // reference offsets relative to the blob start (size field incl.)
    val nameBytes = f.cols.map(_.name.getBytes(f.charset))
    val marker = f.compression match {
      case 1 => "SASYZCRL".getBytes("ISO-8859-1")
      case 2 => "SASYZCR2".getBytes("ISO-8859-1")
      case _ => Array.empty[Byte]
    }
    val twoBlobs = f.splitSubheaders && f.cols.size >= 2
    val blobSplit = if (twoBlobs) f.cols.size / 2 else f.cols.size
    def buildBlob(names: Seq[Array[Byte]], withMarker: Boolean): (Array[Byte], Seq[Int]) = {
      val pre = 2 + (if (withMarker) marker.length else 0)
      val starts = names.scanLeft(pre)(_ + _.length)
      val size = starts.last
      val blob = new Array[Byte](size)
      if (f.le) { blob(0) = (size & 0xff).toByte; blob(1) = ((size >> 8) & 0xff).toByte }
      else { blob(0) = ((size >> 8) & 0xff).toByte; blob(1) = (size & 0xff).toByte }
      if (withMarker) System.arraycopy(marker, 0, blob, 2, marker.length)
      names.zip(starts).foreach { case (nb, o) => System.arraycopy(nb, 0, blob, o, nb.length) }
      (blob, starts.init.toSeq)
    }
    val (blob0, offs0) = buildBlob(nameBytes.take(blobSplit), withMarker = true)
    val (blob1, offs1) =
      if (twoBlobs) buildBlob(nameBytes.drop(blobSplit), withMarker = false)
      else (Array.empty[Byte], Seq.empty[Int])

    val images = f.rows.map(rowImage(f, _))

    // ---- metadata subheaders (mixRows value patched in below) ----
    var mixRowsValue = 0L
    def rowsizeSub: Sub = (20 * intLen, (w, o) => {
      w.bytes(o, sig("rowsize"))
      w.uint(o + 5 * intLen, rowLength.toLong, intLen)
      w.uint(o + 6 * intLen, f.declared.toLong, intLen)
      w.uint(o + 15 * intLen, mixRowsValue, intLen)
    }, 0, 0)
    def colsizeSub: Sub = (4 * intLen, (w, o) => {
      w.bytes(o, sig("colsize"))
      w.uint(o + intLen, f.cols.size.toLong, intLen)
    }, 0, 0)
    def textSub(blob: Array[Byte]): Sub = (intLen + blob.length, (w, o) => {
      w.bytes(o, sig("text"))
      w.bytes(o + intLen, blob)
    }, 0, 0)
    def colnameSub(fromCol: Int, untilCol: Int): Sub = {
      val n = untilCol - fromCol
      (2 * intLen + 12 + 8 * n, (w, o) => {
        w.bytes(o, sig("colname"))
        (0 until n).foreach { j =>
          val ci = fromCol + j
          val (blobIdx, off) =
            if (ci < blobSplit) (0, offs0(ci)) else (1, offs1(ci - blobSplit))
          val e = o + intLen + 8 * (j + 1)
          w.u16(e, blobIdx); w.u16(e + 2, off); w.u16(e + 4, nameBytes(ci).length)
        }
      }, 0, 0)
    }
    def colattrsSub(fromCol: Int, untilCol: Int): Sub = {
      val n = untilCol - fromCol
      (2 * intLen + 12 + n * (intLen + 8), (w, o) => {
        w.bytes(o, sig("colattrs"))
        (0 until n).foreach { j =>
          val ci = fromCol + j
          val e = o + intLen + 8 + j * (intLen + 8)
          w.uint(e, offs(ci).toLong, intLen)
          w.u32(e + intLen, f.cols(ci).width.toLong)
          w.u8(e + intLen + 6, if (f.cols(ci).numeric) 1 else 2)
        }
      }, 0, 0)
    }
    val splitCols = f.splitSubheaders && f.cols.size >= 2
    val colSplit = f.cols.size / 2
    val metaSubs: Vector[Sub] =
      Vector(rowsizeSub, colsizeSub, textSub(blob0)) ++
        (if (twoBlobs) Vector(textSub(blob1)) else Vector.empty) ++
        (if (splitCols)
          Vector(colnameSub(0, colSplit), colnameSub(colSplit, f.cols.size),
            colattrsSub(0, colSplit), colattrsSub(colSplit, f.cols.size))
        else Vector(colnameSub(0, f.cols.size), colattrsSub(0, f.cols.size)))
    val metaBytes = metaSubs.map(_._1).sum

    // ---- page assembly ----
    val pages = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]

    /** A page with subheader pointers; mix pages additionally carry
      * `inlineRows` at the reader's aligned row-start offset, with
      * subheader payloads placed after the row block. `noise` adds
      * zero-length / compression=1 pointers the reader must skip —
      * disabled on mix pages, where extra pointers would shift the
      * aligned row start away from where the rows were placed.
      */
    def subheaderPage(ptype: Int, subs: Seq[Sub],
        inlineRows: Seq[Array[Byte]], noise: Boolean): Array[Byte] = {
      val page = new Array[Byte](f.pageLength)
      val w = new W(page, f.le)
      val nNoise = if (noise && rnd.nextInt(3) == 0) 1 + rnd.nextInt(2) else 0
      // subheader ORDER is semantic (the reader accumulates names /
      // attrs / text blobs and emits compressed rows in pointer
      // order, like every real writer lays them out) — keep it, and
      // only interleave the noise pointers at random positions
      val allPtrs = scala.collection.mutable.ArrayBuffer[Either[Boolean, Sub]](
        subs.map(s => Right(s): Either[Boolean, Sub]): _*)
      (0 until nNoise).foreach(_ =>
        allPtrs.insert(rnd.nextInt(allPtrs.size + 1), Left(rnd.nextBoolean())))
      w.u16(f.bitOffset, ptype)
      w.u16(f.bitOffset + 4, allPtrs.size)
      val aligned = ((f.bitOffset + 8 + allPtrs.size * f.shPtrLen + 7) / 8) * 8
      inlineRows.zipWithIndex.foreach { case (img, r) =>
        System.arraycopy(img, 0, page, aligned + r * rowLength, rowLength)
      }
      var shOff = aligned + inlineRows.size * rowLength
      allPtrs.zipWithIndex.foreach { case (p, i) =>
        val base = f.bitOffset + 8 + i * f.shPtrLen
        p match {
          case Left(truncated) =>
            if (truncated) { // compression=1: skipped regardless of length
              w.uint(base, shOff.toLong, intLen)
              w.uint(base + intLen, 4L, intLen)
              w.u8(base + 2 * intLen, 1); w.u8(base + 2 * intLen + 1, 1)
            } else { // zero length: skipped
              w.uint(base, 0L, intLen); w.uint(base + intLen, 0L, intLen)
            }
          case Right((len, writer, comp, typ)) =>
            require(shOff + len <= f.pageLength,
              s"writer page overflow: $shOff + $len > ${f.pageLength}")
            w.uint(base, shOff.toLong, intLen)
            w.uint(base + intLen, len.toLong, intLen)
            w.u8(base + 2 * intLen, comp); w.u8(base + 2 * intLen + 1, typ)
            writer(w, shOff)
            shOff += len
        }
      }
      page
    }

    def dataPage(rows: Seq[Array[Byte]]): Array[Byte] = {
      val page = new Array[Byte](f.pageLength)
      val w = new W(page, f.le)
      w.u16(f.bitOffset, 0x0100)
      w.u16(f.bitOffset + 2, rows.size)
      rows.zipWithIndex.foreach { case (img, r) =>
        System.arraycopy(img, 0, page, f.bitOffset + 8 + r * rowLength, rowLength)
      }
      page
    }

    if (f.compression == 0) {
      val dataCapacity = (f.pageLength - f.bitOffset - 8) / math.max(1, rowLength)
      if (f.mixFirst) {
        // exact pointer count (no noise on mix pages), so the reader's
        // aligned row start equals the writer's; rows leave room for
        // the subheader payloads placed after them
        val aligned = ((f.bitOffset + 8 + metaSubs.size * f.shPtrLen + 7) / 8) * 8
        val nMix = math.max(0, math.min(images.size,
          (f.pageLength - aligned - metaBytes) / math.max(1, rowLength)))
        // the reader emits min(mixRows, rowCount, capacity) from this
        // page. The inflated variant (mix_row_count past row_count —
        // the clamp the reader's scaladoc cites) is only written when
        // every row fits on the mix page: min(inflated, declared, cap)
        // is then <= declared <= placed, so the reader can never walk
        // into the subheader payload bytes after the row block.
        mixRowsValue =
          if (f.inflateMixRows && images.size <= nMix) (f.rows.size + 7).toLong
          else nMix.toLong
        pages += subheaderPage(0x0200, metaSubs, images.take(nMix), noise = false)
        images.drop(nMix).grouped(math.max(1, dataCapacity))
          .foreach(g => pages += dataPage(g))
      } else {
        // splitSubheaders additionally splits the metadata across TWO
        // meta pages (readMeta keeps walking until the first data/mix
        // page); any cut preserves the global processing order, so
        // text blobs still precede the colname subheaders that index
        // into them
        if (f.splitSubheaders && metaSubs.size >= 4) {
          val cut = 1 + rnd.nextInt(metaSubs.size - 1)
          pages += subheaderPage(if (rnd.nextBoolean()) 0x0000 else 0x4000,
            metaSubs.take(cut), Nil, noise = true)
          pages += subheaderPage(if (rnd.nextBoolean()) 0x0000 else 0x4000,
            metaSubs.drop(cut), Nil, noise = true)
        } else {
          pages += subheaderPage(if (rnd.nextBoolean()) 0x0000 else 0x4000,
            metaSubs, Nil, noise = true)
        }
        images.grouped(math.max(1, dataCapacity)).foreach(g => pages += dataPage(g))
      }
    } else {
      // compressed: per-row payloads (encoded when shorter, raw
      // otherwise) as data subheaders on meta-type pages
      val encoded = images.map { img =>
        val enc = if (f.compression == 1) rleEncode(img) else rdcEncode(img)
        if (enc.length < rowLength) enc else img
      }
      def rowPtr(payload: Array[Byte]): Sub =
        (payload.length, (w, o) => w.bytes(o, payload), if (rnd.nextBoolean()) 0 else 4, 1)
      var idx = 0
      var first = true
      while (first || idx < encoded.size) {
        val subs = scala.collection.mutable.ArrayBuffer.empty[Sub]
        var used = 0
        if (first) { subs ++= metaSubs; used += metaBytes }
        def fits(extra: Int): Boolean = {
          // +2 pointer headroom for the noise subheaderPage may add
          val aligned = ((f.bitOffset + 8 + (subs.size + 3) * f.shPtrLen + 7) / 8) * 8
          aligned + used + extra <= f.pageLength
        }
        while (idx < encoded.size && fits(encoded(idx).length)) {
          subs += rowPtr(encoded(idx)); used += encoded(idx).length; idx += 1
        }
        pages += subheaderPage(if (rnd.nextBoolean()) 0x4000 else 0x0400,
          subs.toSeq, Nil, noise = true)
        first = false
      }
    }

    // ---- header ----
    val header = new Array[Byte](headerLength)
    val hw = new W(header, f.le)
    hw.bytes(0, Magic)
    header(32) = if (f.u64) 0x33.toByte else 0x22.toByte
    header(35) = if (f.align1) 0x33.toByte else 0x22.toByte
    header(37) = if (f.le) 0x01.toByte else 0x00.toByte
    header(70) = f.encCode.toByte
    hw.u32(196 + a1, headerLength.toLong)
    hw.u32(200 + a1, f.pageLength.toLong)

    val out = Files.newOutputStream(path)
    try { out.write(header); pages.foreach(out.write) } finally out.close()
  }

  // ===== the property =====

  private val cases: Int = sys.env.getOrElse("GRAFT_SAS_DIFF_CASES", "60").toInt

  test("sas7bdat differential: random files round-trip through the DSv2 scan") {
    val prop = Prop.forAll(fileGen) { case (f, seed) =>
      val dir = Files.createTempDirectory("graft_sasdiff_")
      val file = dir.resolve("t.sas7bdat")
      try {
        writeSas(file, f, new scala.util.Random(seed))
        val meta = Sas.readMeta(spark, file.toString)
        val schemaOk = meta.schema.fields.map(x => (x.name, x.dataType.typeName)).toVector ==
          f.cols.map(c => (c.name, if (c.numeric) "double" else "string"))
        val dsv2 = spark.read.format("sas7bdat").load(file.toString)
        val got = dsv2.collect()
          .map(_.toSeq.toVector).sortBy(r => r(0).asInstanceOf[Double])
        // the reader's contract: exactly the first `declared` rows in
        // page order, regardless of stale tails / inflated mix counts
        val want = f.rows.take(f.declared).map(_.map {
          case Some(d: Double) => d
          case None => null
          case s => s
        })
        val readOk = got.toVector == want
        // the same scan with column pruning
        val dsv2Ok = dsv2.count() == want.size && {
          val ids = dsv2.select(f.cols.head.name).collect()
            .map(_.getDouble(0)).sorted.toVector
          ids == want.map(_(0).asInstanceOf[Double])
        }
        val ok = schemaOk && readOk && dsv2Ok
        if (!ok) {
          println(s"seed=$seed file=$f")
          println(s"schemaOk=$schemaOk readOk=$readOk dsv2Ok=$dsv2Ok")
          println(s"want(${want.size})=${want.take(5)}")
          println(s"got (${got.length})=${got.take(5).toVector}")
        }
        ok
      } finally {
        Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
      }
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases), prop)
    assert(r.passed, r.status.toString)
  }
}
