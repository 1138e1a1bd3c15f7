package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_gram_hashes(text, k)` — the 64-bit hash of EVERY k-length
  * character window of `text`, as one `array<bigint>`, in ONE O(n)
  * rolling pass: TWO Rabin–Karp polynomials with independent bases
  * (wrapping long arithmetic, `h_{j+1} = (h_j − c_j·B^{k−1})·B +
  * c_{j+k}` each), combined per position through a murmur-style
  * avalanche finalizer.
  *
  * This is the hot inner loop of the exact-substring family
  * ([[graft.llm.Dedup.kgramPositions]] feeds coverage / pairs / spans
  * / cutting): the composable form `transform(sequence, i →
  * xxhash64(substr(text, i, k)))` re-reads every character k times —
  * O(n·k) with a fresh substring copy per position, ~30× the work at
  * the default k=30. The hash VALUE is internal to the Spark side
  * (the DuckDB oracles compare gram STRINGS), so the hashing scheme
  * changes no oracle; cross-doc gram equality is what matters, and
  * that is position-independent by construction.
  *
  * Collisions, honestly: a SINGLE fixed-base polynomial mod 2^64 has
  * structured collisions on low-entropy/periodic text (window
  * differences that are multiples of base-power gaps cancel), so its
  * real-world odds are worse than the uniform n²/2^65 birthday bound.
  * Here a false gram match needs the combined avalanche outputs of
  * BOTH independent-base states to agree — the linear structure a
  * periodic input induces in one polynomial does not survive the
  * second base plus the bit-mixing, restoring ≈ birthday-bound odds
  * for natural text. Still not adversarial-proof (mod-2^64 rolling
  * hashes never are — anti-hash constructions defeat any base set);
  * the md5/xxhash keys elsewhere make the same trade.
  *
  * Windows are CODE-POINT aligned (matching `substr`'s code-point
  * counting, so positions line up with the oracles' `substr(text, i,
  * k)` even off-ASCII). Null text → null; fewer than k code points →
  * empty array (the caller's explode then emits nothing — same
  * contract as the guarded sequence form).
  */
case class GramHashes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string column, got ${left.dataType.simpleString}")
    else if (right.dataType != IntegerType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a literal int gram length, got ${right.sql}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_gram_hashes"

  override def nullSafeEval(s: Any, kAny: Any): Any = {
    val k = kAny.asInstanceOf[Int]
    val cps = s.asInstanceOf[UTF8String].toString.codePoints().toArray
    new GenericArrayData(GramHashes.roll(cps, k))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val cps = ctx.freshName("cps")
      val out = ctx.freshName("out")
      s"""
         |int[] $cps = $a.toString().codePoints().toArray();
         |long[] $out = graft.functions.GramHashes.roll($cps, $b);
         |${ev.value} = ${classOf[UnsafeArrayData].getName}.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GramHashes =
    copy(left = newLeft, right = newRight)
}

object GramHashes {
  // Two odd bases (units mod 2^64, so the rolling subtraction is
  // exact); independence of the bases is what breaks cross-window
  // linear cancellation patterns.
  private final val B1 = 1000003L
  private final val B2 = 100000007L

  /** MurmurHash3's 64-bit finalizer — a bijection (adds no collisions
    * of its own) that avalanches every input bit across the output.
    */
  private def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  private def combine(h1: Long, h2: Long): Long =
    fmix64(h1) ^ java.lang.Long.rotateLeft(fmix64(h2), 32)

  /** Shared by interpreted eval and generated code. */
  def roll(cps: Array[Int], k: Int): Array[Long] = {
    require(k >= 1, s"gram length must be >= 1, got $k")
    val n = cps.length - (k - 1)
    if (n <= 0) return Array.emptyLongArray
    var bk1 = 1L
    var bk2 = 1L
    var i = 0
    while (i < k - 1) { bk1 *= B1; bk2 *= B2; i += 1 }
    val out = new Array[Long](n)
    var h1 = 0L
    var h2 = 0L
    i = 0
    while (i < k) { h1 = h1 * B1 + cps(i); h2 = h2 * B2 + cps(i); i += 1 }
    out(0) = combine(h1, h2)
    var j = 1
    while (j < n) {
      h1 = (h1 - cps(j - 1) * bk1) * B1 + cps(j + k - 1)
      h2 = (h2 - cps(j - 1) * bk2) * B2 + cps(j + k - 1)
      out(j) = combine(h1, h2)
      j += 1
    }
    out
  }
}

/** `graft_minhash_bands(text, shingleK, numBands)` → array<string>:
  * the similarity-aware ER band keys
  * ([[graft.ops.EntityRes.minhashBands]]) as ONE native loop —
  * bit-identical output to the higher-order-function formulation it
  * replaces, which paid an interpreted Catalyst lambda (substr +
  * concat + md5 + conv(16,10) string round-trip) per band PER SHINGLE
  * per row: ~(len−k+1)·numBands interpreted md5 chains per record,
  * the measured dominant term of the gated er_pairs_minhash_sub.
  * Semantics are pinned by that query's DuckDB oracle, so every step
  * replicates the column formulation exactly:
  *
  *  - shingles: `substr(text, i, k)` for i in 1..max(len−k+1, 1) —
  *    code-point counting, clamped at the end, so a sub-k-length (or
  *    empty) text yields ONE whole-text shingle;
  *  - per band b in 0..numBands−1: the minimum over shingles of the
  *    60-bit md5 prefix of `"<b>:<shingle>"` (
  *    [[graft.llm.Sampling.hashKey]] — first 15 lowercase hex chars
  *    parsed base-16, here read straight from the digest's leading
  *    7.5 bytes), emitted as its decimal string;
  *  - NULL text → an array of numBands NULL elements (the HOF form's
  *    null propagation: the inner transform is null, array_min(null)
  *    is null, the outer transform still produces one element per
  *    band).
  */
case class MinHashBands(child: Expression, shingleK: Expression, numBands: Expression)
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(child, shingleK, numBands)
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_minhash_bands"

  @transient private lazy val k: Int = shingleK.eval(null).asInstanceOf[Int]
  @transient private lazy val nb: Int = numBands.eval(null).asInstanceOf[Int]

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val raw = child.eval(input)
    if (raw == null)
      return new GenericArrayData(Array.fill[Any](nb)(null))
    val s = raw.asInstanceOf[UTF8String]
    val len = s.numChars()
    val nSh = math.max(len - (k - 1), 1)
    // shingle bytes once per shingle; every band re-hashes them with
    // its own one-byte-or-more decimal prefix + ':'
    val shingleBytes = new Array[Array[Byte]](nSh)
    var i = 0
    while (i < nSh) {
      // substringSQL is 1-based and end-clamped — identical to the
      // Column.substr the HOF form called
      shingleBytes(i) = s.substringSQL(i + 1, k).getBytes
      i += 1
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val dig = new Array[Byte](16)
    val out = new Array[Any](nb)
    var b = 0
    while (b < nb) {
      val prefix = (b.toString + ":").getBytes("US-ASCII")
      var min = Long.MaxValue
      var j = 0
      while (j < nSh) {
        md.reset()
        md.update(prefix)
        md.update(shingleBytes(j))
        md.digest(dig, 0, 16)
        // hashKey: first 15 hex chars base-16 = leading 60 bits of
        // the digest (7 full bytes + the high nibble of byte 7)
        var h = 0L
        var t = 0
        while (t < 7) { h = (h << 8) | (dig(t) & 0xFFL); t += 1 }
        h = (h << 4) | ((dig(7) & 0xF0L) >>> 4)
        if (h < min) min = h
        j += 1
      }
      out(b) = UTF8String.fromString(min.toString)
      b += 1
    }
    new GenericArrayData(out)
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_minhash_bands needs a string column, got ${child.dataType.simpleString}")
    else if (!(shingleK.foldable && shingleK.dataType == IntegerType &&
        numBands.foldable && numBands.dataType == IntegerType))
      TypeCheckResult.TypeCheckFailure("shingleK and numBands must be integer literals")
    else {
      val kk = shingleK.eval(null).asInstanceOf[Int]
      val n = numBands.eval(null).asInstanceOf[Int]
      if (kk < 1 || n < 1)
        TypeCheckResult.TypeCheckFailure(s"bad shingleK=$kk / numBands=$n")
      else TypeCheckResult.TypeCheckSuccess
    }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinHashBands =
    copy(child = newChildren(0), shingleK = newChildren(1), numBands = newChildren(2))
}

/** `graft_shingles(text, k)` → array<string>: the word-shingle builder
  * ([[graft.llm.Dedup.shinglesOf]]) as ONE native pass — bit-identical
  * output to the higher-order-function formulation it replaces (a
  * fold of k−1 `zip_with` frames over `split(text, ' ')` plus a null
  * filter), which walked interpreted lambda frames per WORD on every
  * shingle consumer: minhash signatures, the jaccard audits, the
  * decontam gram scans, the n-gram LM scorers.
  *
  * Semantics replicated exactly (pinned by an LlmSpec parity test and
  * every consumer's DuckDB oracle):
  *  - words = `split(text, " ")` with trailing empties kept — so a
  *    shingle window joined with single spaces is EXACTLY the
  *    original byte span between its first word's start and its last
  *    word's end (splitting on one char and rejoining with it is the
  *    identity), and emission is pure byte slicing;
  *  - fewer than k words (including the empty text's single empty
  *    word) → ONE whole-text shingle; otherwise n−k+1 windows;
  *  - NULL text → NULL array.
  */
case class WordShingles(child: Expression, shingleK: Expression)
    extends BinaryExpression with CodegenFallback {

  override def left: Expression = child
  override def right: Expression = shingleK
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  @transient private lazy val k: Int = shingleK.eval(null).asInstanceOf[Int]

  override def nullSafeEval(t: Any, kAny: Any): Any = {
    val s = t.asInstanceOf[UTF8String]
    val b = s.getBytes
    val len = b.length
    // word j starts after the (j-1)-th space; 0x20 never occurs
    // inside a multi-byte UTF-8 sequence, so byte scanning is exact
    var spaces = 0
    var i = 0
    while (i < len) { if (b(i) == 0x20) spaces += 1; i += 1 }
    val n = spaces + 1
    if (n < k) return new GenericArrayData(Array[Any](s))
    val starts = new Array[Int](n)
    starts(0) = 0
    var w = 1
    i = 0
    while (i < len) {
      if (b(i) == 0x20) { starts(w) = i + 1; w += 1 }
      i += 1
    }
    val out = new Array[Any](n - k + 1)
    var j = 0
    while (j <= n - k) {
      val from = starts(j)
      val until = if (j + k == n) len else starts(j + k) - 1
      val sh = new Array[Byte](until - from)
      System.arraycopy(b, from, sh, 0, until - from)
      out(j) = UTF8String.fromBytes(sh)
      j += 1
    }
    new GenericArrayData(out)
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_shingles needs a string column, got ${child.dataType.simpleString}")
    else if (!(shingleK.foldable && shingleK.dataType == IntegerType))
      TypeCheckResult.TypeCheckFailure("shingle length must be an integer literal")
    else if (shingleK.eval(null).asInstanceOf[Int] < 1)
      TypeCheckResult.TypeCheckFailure(
        s"shingle length must be >= 1, got ${shingleK.eval(null)}")
    else TypeCheckResult.TypeCheckSuccess

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordShingles =
    copy(child = newLeft, shingleK = newRight)
}

/** `graft_gopher(text, stopwords)` → struct of the seven Gopher
  * signals + `passes_gopher` ([[graft.llm.TextAnalysis
  * .withGopherSignals]]) in ONE native pass — bit-identical to the
  * column formulation it replaces, which paid interpreted lambda
  * frames per WORD (an `aggregate(transform(length))` fold, an
  * `rlike` regex per word, a distinct+lower+isin chain) plus two
  * full-text regexp_replace calls per row, on every quality gate in
  * the repo (the battery itself, the probe teacher pass, the curation
  * and streaming gates).
  *
  * Exact replication notes (pinned by an LlmSpec parity test and the
  * gated queries' oracles):
  *  - words = `split(text, " ")` / lines = `split(text, "\n")`, both
  *    keeping empties — 0x20/0x0A never occur inside a multi-byte
  *    UTF-8 sequence, so byte scans are exact;
  *  - word length is CODE POINTS (`length()`), alpha = contains an
  *    ASCII letter (`rlike("[A-Za-z]")`), stopword presence counts
  *    DISTINCT lowered words that are stopwords ≡ stopwords with ≥ 1
  *    lowering word;
  *  - ellipsis count = non-overlapping leftmost "..." matches (the
  *    regexp_replace-and-measure construction); bullet/ellipsis line
  *    tests are first-code-point / suffix byte comparisons;
  *  - every ratio is the same int→double cast and IEEE divide;
  *  - NULL text → NULL struct (the column form's null propagation
  *    through size(split(NULL))).
  */
case class GopherSignals(child: Expression, stops: Expression)
    extends BinaryExpression with CodegenFallback {

  override def left: Expression = child
  override def right: Expression = stops
  override def dataType: DataType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("mean_word_len", DoubleType, nullable = false),
    StructField("frac_alpha_words", DoubleType, nullable = false),
    StructField("symbol_ratio", DoubleType, nullable = false),
    StructField("frac_bullet_lines", DoubleType, nullable = false),
    StructField("frac_ellipsis_lines", DoubleType, nullable = false),
    StructField("n_stopwords_present", IntegerType, nullable = false),
    StructField("passes_gopher", BooleanType, nullable = false)))
  override def prettyName: String = "graft_gopher"

  @transient private lazy val stopwords: Array[UTF8String] = {
    val arr = stops.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    Array.tabulate(arr.numElements())(i => arr.getUTF8String(i))
  }

  override def nullSafeEval(t: Any, swAny: Any): Any = {
    val s = t.asInstanceOf[UTF8String]
    val b = s.getBytes
    val len = b.length
    val sw = stopwords
    val seen = new Array[Boolean](sw.length)
    var nWords = 0
    var sumWordLen = 0 // Int on purpose: the column form folded with an int accumulator
    var nAlpha = 0
    var nHash = 0
    // one pass over words (split on 0x20, empties kept)
    var wStart = 0
    var i = 0
    while (i <= len) {
      if (i == len || b(i) == 0x20) {
        nWords += 1
        val word = UTF8String.fromBytes(b, wStart, i - wStart)
        sumWordLen += word.numChars()
        var hasAlpha = false
        var j = wStart
        while (j < i && !hasAlpha) {
          val c = b(j)
          if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) hasAlpha = true
          j += 1
        }
        if (hasAlpha) nAlpha += 1
        if (sw.length > 0) {
          val lowered = word.toLowerCase
          var k = 0
          while (k < sw.length) {
            if (!seen(k) && sw(k) != null && sw(k).equals(lowered)) seen(k) = true
            k += 1
          }
        }
        wStart = i + 1
      }
      i += 1
    }
    // '#' chars and non-overlapping leftmost "..." matches
    i = 0
    var nEllipsis = 0
    while (i < len) {
      if (b(i) == '#') nHash += 1
      if (b(i) == '.' && i + 2 < len && b(i + 1) == '.' && b(i + 2) == '.') {
        // skipping the matched dots cannot skip a '#': all three
        // bytes are '.' by the match condition
        nEllipsis += 1
        i += 3
      } else i += 1
    }
    // lines (split on 0x0A, empties kept): bullet first-char, ellipsis suffix
    var nLines = 0
    var nBullet = 0
    var nEllLine = 0
    var lStart = 0
    i = 0
    while (i <= len) {
      if (i == len || b(i) == 0x0A) {
        nLines += 1
        val llen = i - lStart
        if (llen >= 1) {
          val c0 = b(lStart)
          if (c0 == '-' || c0 == '*') nBullet += 1
          else if (llen >= 3 && (c0 & 0xFF) == 0xE2 &&
              (b(lStart + 1) & 0xFF) == 0x80 && (b(lStart + 2) & 0xFF) == 0xA2)
            nBullet += 1 // '•' U+2022
          if (llen >= 3 && b(i - 1) == '.' && b(i - 2) == '.' && b(i - 3) == '.')
            nEllLine += 1
          else if (llen >= 3 && (b(i - 3) & 0xFF) == 0xE2 &&
              (b(i - 2) & 0xFF) == 0x80 && (b(i - 1) & 0xFF) == 0xA6)
            nEllLine += 1 // '…' U+2026
        }
        lStart = i + 1
      }
      i += 1
    }
    var nStop = 0
    var k = 0
    while (k < seen.length) { if (seen(k)) nStop += 1; k += 1 }
    val nWordsD = nWords.toDouble
    val meanWordLen = sumWordLen.toDouble / nWordsD
    val fracAlpha = nAlpha.toDouble / nWordsD
    val symbolRatio = (nHash + nEllipsis).toDouble / nWordsD
    val fracBullet = nBullet.toDouble / nLines.toDouble
    val fracEll = nEllLine.toDouble / nLines.toDouble
    val passes = nWords >= 50 && nWords <= 100000 &&
      meanWordLen >= 3.0 && meanWordLen <= 10.0 &&
      symbolRatio <= 0.1 && fracBullet <= 0.9 && fracEll <= 0.3 &&
      fracAlpha > 0.8 && nStop >= 2
    new GenericInternalRow(Array[Any](
      nWords, meanWordLen, fracAlpha, symbolRatio, fracBullet, fracEll, nStop, passes))
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_gopher needs a string column, got ${child.dataType.simpleString}")
    else if (!(stops.foldable && (stops.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })))
      TypeCheckResult.TypeCheckFailure("stopwords must be an array<string> literal")
    else TypeCheckResult.TypeCheckSuccess

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GopherSignals =
    copy(child = newLeft, stops = newRight)
}

/** `graft_quality(text, stopwords)` → struct(n_tokens, ttr,
  * mean_token_len, stopword_ratio, punct_ratio): the round-5 quality
  * battery ([[graft.llm.TextAnalysis.withQualityScores]]) in ONE
  * native pass — bit-identical to the column formulation (LlmSpec's
  * parity reference), which paid an array_distinct + a filter lambda
  * per token plus a full-text regexp_replace per row. Semantics:
  * tokens = `split(text, " ")` with empties kept; ttr over DISTINCT
  * raw tokens (case-sensitive, empties count); stopword matches are
  * case-sensitive equality; punct chars are the literal class
  * [.,;:!?]; every ratio is the same int→double cast and IEEE divide
  * (including the empty text's 0.0/0.0 = NaN punct_ratio); NULL text
  * → NULL struct.
  */
case class QualityScores(child: Expression, stops: Expression)
    extends BinaryExpression with CodegenFallback {

  override def left: Expression = child
  override def right: Expression = stops
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("ttr", DoubleType, nullable = false),
    StructField("mean_token_len", DoubleType, nullable = false),
    StructField("stopword_ratio", DoubleType, nullable = false),
    StructField("punct_ratio", DoubleType, nullable = false)))
  override def prettyName: String = "graft_quality"

  @transient private lazy val stopwords: Array[UTF8String] = {
    val arr = stops.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    Array.tabulate(arr.numElements())(i => arr.getUTF8String(i))
  }

  override def nullSafeEval(t: Any, swAny: Any): Any = {
    val s = t.asInstanceOf[UTF8String]
    val b = s.getBytes
    val len = b.length
    val sw = stopwords
    val distinct = new java.util.HashSet[UTF8String]()
    var nTokens = 0
    var nStopTokens = 0
    var wStart = 0
    var i = 0
    while (i <= len) {
      if (i == len || b(i) == 0x20) {
        nTokens += 1
        val tok = UTF8String.fromBytes(b, wStart, i - wStart)
        distinct.add(tok)
        var k = 0
        var isStop = false
        while (k < sw.length && !isStop) {
          if (sw(k) != null && sw(k).equals(tok)) isStop = true
          k += 1
        }
        if (isStop) nStopTokens += 1
        wStart = i + 1
      }
      i += 1
    }
    var nPunct = 0
    i = 0
    while (i < len) {
      val c = b(i)
      if (c == '.' || c == ',' || c == ';' || c == ':' || c == '!' || c == '?') nPunct += 1
      i += 1
    }
    val nChars = s.numChars().toDouble
    val nD = nTokens.toDouble
    new GenericInternalRow(Array[Any](
      nTokens,
      distinct.size.toDouble / nD,
      (nChars - nD + 1.0) / nD,
      nStopTokens.toDouble / nD,
      nPunct.toDouble / nChars))
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_quality needs a string column, got ${child.dataType.simpleString}")
    else if (!(stops.foldable && (stops.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })))
      TypeCheckResult.TypeCheckFailure("stopwords must be an array<string> literal")
    else TypeCheckResult.TypeCheckSuccess

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QualityScores =
    copy(child = newLeft, stops = newRight)
}

/** `graft_cdc_words(text, divisor)` → array<struct<chunk_md5 string,
  * n_words long>>: word-level content-defined chunking
  * ([[graft.llm.Dedup.cdcChunks]]) as ONE native loop — bit-identical
  * to the higher-order-function formulation it replaces (an
  * interpreted md5Hash60 lambda per WORD, then array_join slices).
  * Semantics: words are the NON-EMPTY tokens of `split(text, " ")`;
  * a boundary falls AFTER every word whose 60-bit md5 prefix
  * ([[graft.llm.Sampling.hashKey]] construction) is ≡ 0 mod divisor;
  * a chunk is its words joined with single spaces (runs of spaces
  * collapse — the filtered-token contract), digested with md5 and
  * emitted as 32 lowercase hex chars with its word count. No words →
  * empty array; NULL text → NULL (the caller's explode_outer + null
  * filter drops both).
  */
case class CdcWordChunks(child: Expression, divisor: Expression)
    extends BinaryExpression with CodegenFallback {

  override def left: Expression = child
  override def right: Expression = divisor
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("chunk_md5", StringType, nullable = false),
    StructField("n_words", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_cdc_words"

  @transient private lazy val div: Long = divisor.eval(null).asInstanceOf[Int].toLong

  override def nullSafeEval(t: Any, dAny: Any): Any = {
    val s = t.asInstanceOf[UTF8String]
    val b = s.getBytes
    val len = b.length
    val md = java.security.MessageDigest.getInstance("MD5")
    val dig = new Array[Byte](16)
    val HEX = "0123456789abcdef".getBytes("US-ASCII")
    // non-empty word byte ranges
    val wordFrom = new java.util.ArrayList[Integer]()
    val wordUntil = new java.util.ArrayList[Integer]()
    var wStart = 0
    var i = 0
    while (i <= len) {
      if (i == len || b(i) == 0x20) {
        if (i > wStart) { wordFrom.add(wStart); wordUntil.add(i) }
        wStart = i + 1
      }
      i += 1
    }
    val n = wordFrom.size()
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    // emit words [s, e) joined with single spaces, md5'd
    def emit(s0: Int, e0: Int): Unit = {
      md.reset()
      var j = s0
      while (j < e0) {
        md.update(b, wordFrom.get(j), wordUntil.get(j) - wordFrom.get(j))
        if (j + 1 < e0) md.update(' '.toByte)
        j += 1
      }
      md.digest(dig, 0, 16)
      val hexOut = new Array[Byte](32)
      var k = 0
      while (k < 16) {
        val v = dig(k) & 0xFF
        hexOut(2 * k) = HEX(v >>> 4)
        hexOut(2 * k + 1) = HEX(v & 0xF)
        k += 1
      }
      out += new GenericInternalRow(Array[Any](
        UTF8String.fromBytes(hexOut), (e0 - s0).toLong))
    }
    var start = 0
    i = 0
    while (i < n) {
      // boundary test: 60-bit md5 prefix of the word, mod divisor
      md.reset()
      md.update(b, wordFrom.get(i), wordUntil.get(i) - wordFrom.get(i))
      md.digest(dig, 0, 16)
      var h = 0L
      var k = 0
      while (k < 7) { h = (h << 8) | (dig(k) & 0xFFL); k += 1 }
      h = (h << 4) | ((dig(7) & 0xF0L) >>> 4)
      if (h % div == 0L) {
        emit(start, i + 1)
        start = i + 1
      }
      i += 1
    }
    if (start < n) emit(start, n)
    new GenericArrayData(out.toArray)
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_cdc_words needs a string column, got ${child.dataType.simpleString}")
    else if (!(divisor.foldable && divisor.dataType == IntegerType))
      TypeCheckResult.TypeCheckFailure("divisor must be an integer literal")
    else if (divisor.eval(null).asInstanceOf[Int] < 2)
      TypeCheckResult.TypeCheckFailure(s"bad divisor=${divisor.eval(null)}")
    else TypeCheckResult.TypeCheckSuccess

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CdcWordChunks =
    copy(child = newLeft, divisor = newRight)
}

/** `graft_marker_count(text, markers)` → bigint: how many
  * `split(text, ' ')` tokens (empties kept — consecutive spaces and
  * string ends produce empty tokens, the split contract) are equal to
  * ANY of the literal `markers`, in ONE byte scan with zero per-token
  * allocation. Replaces the interpreted per-token lambda
  * `size(filter(split(text, ' '), t => array_contains(markers, t)))`
  * — the r18 native-battery recipe ([[QualityScores]]) applied to the
  * marker-count shape shared by [[graft.llm.QualityProbe.markerCount]]
  * (one marker) and [[graft.llm.TextAnalysis.withLangId]] (one call
  * per language profile). Bit-identical by construction: token
  * equality is exact byte equality on the UTF-8 span, and a NULL text
  * returns NULL like the lambda form (parity-pinned in LlmSpec; every
  * consumer is oracle-gated). NULL marker elements never match —
  * `array_contains` can only return true on an actual equality.
  */
case class MarkerCount(child: Expression, markers: Expression)
    extends BinaryExpression with CodegenFallback {

  override def left: Expression = child
  override def right: Expression = markers
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_marker_count"

  @transient private lazy val markerBytes: Array[Array[Byte]] = {
    val arr = markers.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    Array.tabulate(arr.numElements())(i =>
      if (arr.isNullAt(i)) null else arr.getUTF8String(i).getBytes)
  }

  override def nullSafeEval(t: Any, mAny: Any): Any = {
    val b = t.asInstanceOf[UTF8String].getBytes
    val len = b.length
    val ms = markerBytes
    var count = 0L
    var wStart = 0
    var i = 0
    while (i <= len) {
      if (i == len || b(i) == 0x20) {
        val tlen = i - wStart
        var k = 0
        var matched = false
        while (k < ms.length && !matched) {
          val m = ms(k)
          if (m != null && m.length == tlen) {
            var j = 0
            while (j < tlen && m(j) == b(wStart + j)) j += 1
            matched = j == tlen
          }
          k += 1
        }
        if (matched) count += 1
        wStart = i + 1
      }
      i += 1
    }
    count
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_marker_count needs a string column, got ${child.dataType.simpleString}")
    else if (!(markers.foldable && (markers.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })))
      TypeCheckResult.TypeCheckFailure("markers must be an array<string> literal")
    else TypeCheckResult.TypeCheckSuccess

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MarkerCount =
    copy(child = newLeft, markers = newRight)
}

/** `graft_blocklist(text, terms)` → struct<n_hits:int, n_terms:int,
  * n_words:int>: the blocklist-scan battery
  * ([[graft.llm.TextAnalysis.blocklistScan]]) in ONE byte scan —
  * `n_hits` = how many `split(text, ' ')` tokens (empties kept, the
  * split contract) LOWERCASE to any of the literal `terms`, `n_terms`
  * = how many DISTINCT lowered token values do (≡ distinct term
  * values hit, since matching is byte equality), `n_words` = token
  * count. Replaces the interpreted per-token chain
  * `filter(transform(split), lower) / filter(array_distinct(...))`
  * — two lambda frames per row plus an array_distinct allocation,
  * on a full-corpus row-local safety pass (the [[MarkerCount]] /
  * [[GopherSignals]] r18/r19 recipe).
  *
  * Bit-identical by construction: tokens lower through
  * `UTF8String.toLowerCase` — exactly the `lower()` expression — and
  * compare by exact bytes; terms arrive PRE-lowercased by the caller
  * (the column form's `blocklist.map(_.toLowerCase)`), deduplicated
  * here so `n_terms` counts distinct VALUES even on a repetitious
  * lexicon; NULL terms are dropped (an IN over a null element can
  * only turn a non-match into NULL, which `filter` drops like
  * false); NULL text → NULL struct (the column form's null
  * propagation through size(filter(transform(split(NULL))))).
  * Parity-pinned in LlmSpec; every consumer is oracle-gated.
  */
case class BlocklistStats(child: Expression, terms: Expression)
    extends BinaryExpression with CodegenFallback {

  override def left: Expression = child
  override def right: Expression = terms
  override def dataType: DataType = StructType(Seq(
    StructField("n_hits", IntegerType, nullable = false),
    StructField("n_terms", IntegerType, nullable = false),
    StructField("n_words", IntegerType, nullable = false)))
  override def prettyName: String = "graft_blocklist"

  @transient private lazy val termSet: Array[UTF8String] = {
    val arr = terms.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val buf = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        if (!buf.exists(_.equals(t))) buf += t
      }
      i += 1
    }
    buf.toArray
  }

  override def nullSafeEval(t: Any, termsAny: Any): Any = {
    val b = t.asInstanceOf[UTF8String].getBytes
    val len = b.length
    val ts = termSet
    val seen = new Array[Boolean](ts.length)
    var nWords = 0
    var nHits = 0
    var wStart = 0
    var i = 0
    while (i <= len) {
      if (i == len || b(i) == 0x20) {
        nWords += 1
        val lowered = UTF8String.fromBytes(b, wStart, i - wStart).toLowerCase
        var matched = false
        var k = 0
        while (k < ts.length && !matched) {
          if (ts(k).equals(lowered)) { matched = true; seen(k) = true }
          k += 1
        }
        if (matched) nHits += 1
        wStart = i + 1
      }
      i += 1
    }
    var nTerms = 0
    var k = 0
    while (k < seen.length) { if (seen(k)) nTerms += 1; k += 1 }
    new GenericInternalRow(Array[Any](nHits, nTerms, nWords))
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_blocklist needs a string column, got ${child.dataType.simpleString}")
    else if (!(terms.foldable && (terms.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })))
      TypeCheckResult.TypeCheckFailure("terms must be an array<string> literal")
    else TypeCheckResult.TypeCheckSuccess

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BlocklistStats =
    copy(child = newLeft, terms = newRight)
}

/** `graft_band_hashes(sig, bands, rows)` → array<bigint>: the LSH
  * band hashes of a MinHash signature — band `b` is
  * `xxhash64(concat_ws('_', cast(slice(sig, b·rows + 1, rows) as
  * array<string>)), 42)` — in ONE native loop instead of the
  * interpreted per-band `transform` lambda it replaces (the parity
  * reference in LlmSpec and ArrayFnsSpec): that
  * form re-entered an interpreted HOF frame per band and rendered
  * every slice through a generic array cast. Bit-identical by
  * construction: each signature value is rendered with
  * `Long.toString` (exactly the long→string cast), joined with `_`
  * skipping nulls (the concat_ws contract), and hashed with Spark's
  * own [[org.apache.spark.sql.catalyst.expressions.XxHash64Function]]
  * at the xxhash64 default seed 42 (LlmSpec parity pin; every minhash
  * consumer's oracle hash-gates the candidate sets downstream). A
  * short signature slices short, exactly like `slice` past the end;
  * NULL signature → NULL.
  */
case class BandHashes(sig: Expression, bands: Expression, rows: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with CodegenFallback {

  override def first: Expression = sig
  override def second: Expression = bands
  override def third: Expression = rows
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_band_hashes"

  override def nullSafeEval(sigAny: Any, bandsAny: Any, rowsAny: Any): Any = {
    val arr = sigAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val nBands = bandsAny.asInstanceOf[Int]
    val nRows = rowsAny.asInstanceOf[Int]
    val n = arr.numElements()
    val out = new Array[Long](nBands)
    val sb = new java.lang.StringBuilder(nRows * 21)
    var b = 0
    while (b < nBands) {
      sb.setLength(0)
      var i = b * nRows
      val end = math.min(i + nRows, n)
      var firstVal = true
      while (i < end) {
        if (!arr.isNullAt(i)) {
          if (!firstVal) sb.append('_')
          sb.append(arr.getLong(i))
          firstVal = false
        }
        i += 1
      }
      out(b) = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        UTF8String.fromString(sb.toString), StringType, 42L)
      b += 1
    }
    new GenericArrayData(out)
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (!sig.dataType.isInstanceOf[ArrayType] ||
      sig.dataType.asInstanceOf[ArrayType].elementType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_band_hashes needs an array<bigint> signature, got ${sig.dataType.simpleString}")
    else if (!(bands.foldable && bands.dataType == IntegerType) ||
      !(rows.foldable && rows.dataType == IntegerType))
      TypeCheckResult.TypeCheckFailure("bands and rows must be integer literals")
    else if (bands.eval(null).asInstanceOf[Int] <= 0 ||
      rows.eval(null).asInstanceOf[Int] <= 0)
      TypeCheckResult.TypeCheckFailure(
        s"bands (${bands.eval(null)}) and rows (${rows.eval(null)}) must be positive")
    else TypeCheckResult.TypeCheckSuccess

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): BandHashes =
    copy(sig = newFirst, bands = newSecond, rows = newThird)
}
