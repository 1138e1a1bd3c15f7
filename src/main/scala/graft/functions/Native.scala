package graft.functions

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.functions.{array, lit, typedLit}

/** graft's native Catalyst expressions as Columns: one typed factory
  * per expression, built directly over the expression object, so a
  * Column needs no session, no function registration and resolves in
  * whichever session later analyzes it. Constant arguments are typed
  * Scala values and enter the plan as the same literals a SQL call
  * would pass. SQL callers reach `graft_dot`/`graft_cosine` through
  * [[graft.plans.GraftExtensions]].
  */
object Native {
  private def e(c: Column) = GraftColumn.expr(c)

  // ----- vectors (ArrayFns.scala, IvfFns.scala) -----

  /** Σ a[i]·b[i] over two array<double> columns ([[DotProduct]]). */
  def dot(a: Column, b: Column): Column = GraftColumn(DotProduct(e(a), e(b)))

  /** Cosine similarity of two array<double> columns ([[CosineSim]]). */
  def cosine(a: Column, b: Column): Column = GraftColumn(CosineSim(e(a), e(b)))

  /** Σ a[i]·b[i] as long over two array<int> code columns ([[IntDot]]). */
  def dotInt(a: Column, b: Column): Column = GraftColumn(IntDot(e(a), e(b)))

  /** struct(scale, codes) of the max-abs int8 quantizer ([[Int8Quant]]). */
  def int8Quant(v: Column): Column = GraftColumn(Int8Quant(e(v)))

  /** The `nProbe` nearest centroid ids of an array<double> vector
    * ([[NearestCentroids]]); the centroids ship as a plan literal.
    */
  def ivfCells(vec: Column, centroids: Seq[Seq[Double]], nProbe: Int): Column =
    GraftColumn(NearestCentroids(e(vec), e(typedLit(centroids)), e(lit(nProbe))))

  // ----- sketches (MinHashAgg, SimHashAgg, BloomFns, CmsFns) -----

  /** Aggregate: MinHash signature of a string column ([[MinHashSigAgg]]). */
  def minhash(c: Column, numPerm: Int): Column = GraftColumn(MinHashSigAgg(e(c), numPerm))

  /** Aggregate: 64-bit SimHash of token hashes ([[SimHashAgg]]). */
  def simhash(tokenHash: Column): Column = GraftColumn(SimHashAgg(e(tokenHash)))

  /** Aggregate: serialized Bloom filter over a key ([[BloomBuildAgg]]). */
  def bloom(key: Column, expectedItems: Long, fpp: Double): Column =
    GraftColumn(BloomBuildAgg(e(key), expectedItems, fpp))

  /** True iff `key` might be in the serialized filter ([[BloomMightContain]]). */
  def bloomContains(key: Column, bloomBytes: Array[Byte]): Column =
    GraftColumn(BloomMightContain(e(key), bloomBytes))

  /** Count-min estimate of `value` in a serialized sketch ([[CmsEstimate]]). */
  def cmsEstimate(sketch: Column, value: Column): Column =
    GraftColumn(CmsEstimate(e(sketch), e(value)))

  // ----- text (TextFns, NormalizeFns, BpeFns) -----

  /** Word k-shingles ([[WordShingles]]). */
  def shingles(text: Column, k: Int): Column = GraftColumn(WordShingles(e(text), e(lit(k))))

  /** Per-band hashes of a MinHash signature ([[BandHashes]]). */
  def bandHashes(sig: Column, bands: Int, rows: Int): Column =
    GraftColumn(BandHashes(e(sig), e(lit(bands)), e(lit(rows))))

  /** Character-shingle MinHash band keys ([[MinHashBands]]). */
  def minhashBands(c: Column, shingleK: Int, numBands: Int): Column =
    GraftColumn(MinHashBands(e(c), e(lit(shingleK)), e(lit(numBands))))

  /** Rolling hashes of every code-point k-gram ([[GramHashes]]). */
  def gramHashes(text: Column, k: Int): Column = GraftColumn(GramHashes(e(text), e(lit(k))))

  /** NFC-normalized text ([[NfcNormalize]]). */
  def nfc(text: Column): Column = GraftColumn(NfcNormalize(e(text)))

  /** Gopher quality signals struct ([[GopherSignals]]). */
  def gopher(text: Column, stopwords: Seq[String]): Column =
    GraftColumn(GopherSignals(e(text), e(typedLit(stopwords))))

  /** Cheap quality-score struct ([[QualityScores]]). */
  def quality(text: Column, stopwords: Seq[String]): Column =
    GraftColumn(QualityScores(e(text), e(typedLit(stopwords))))

  /** Count of whitespace tokens equal to any marker ([[MarkerCount]]). */
  def markerCount(text: Column, markers: Seq[String]): Column =
    GraftColumn(MarkerCount(e(text), e(array(markers.map(lit): _*))))

  /** Blocklist hit/term/word counts struct ([[BlocklistStats]]). */
  def blocklist(text: Column, terms: Seq[String]): Column =
    GraftColumn(BlocklistStats(e(text), e(typedLit(terms))))

  /** Content-defined word chunks ([[CdcWordChunks]]). */
  def cdcWords(text: Column, divisor: Int): Column =
    GraftColumn(CdcWordChunks(e(text), e(lit(divisor))))

  /** BPE tokens of one word under a ranked merge table ([[BpeEncode]]). */
  def bpeEncode(word: Column, merges: Seq[(String, String)]): Column =
    GraftColumn(BpeEncode(e(word), mergeTable(merges)))

  /** BPE token count of a whole document ([[BpeTokenCount]]). */
  def bpeCount(text: Column, merges: Seq[(String, String)]): Column =
    GraftColumn(BpeTokenCount(e(text), mergeTable(merges)))

  /** The ranked merge table as an array<array<string>> plan literal. */
  private def mergeTable(merges: Seq[(String, String)]) =
    e(typedLit(merges.map { case (l, r) => Seq(l, r) }))

  // ----- binary (BinaryFns.scala) -----

  def imageMeta(bin: Column): Column = GraftColumn(ImageMeta(e(bin)))
  def audioMeta(bin: Column): Column = GraftColumn(AudioMeta(e(bin)))
  def videoMeta(bin: Column): Column = GraftColumn(VideoMeta(e(bin)))
  def byteStats(bin: Column): Column = GraftColumn(ByteStats(e(bin)))
  def byteHist(bin: Column, bins: Int): Column = GraftColumn(ByteHist(e(bin), e(lit(bins))))

  /** Gear-hash content-defined byte chunks ([[CdcGearChunks]]). */
  def cdcGear(bin: Column, divisor: Int, window: Int): Column =
    GraftColumn(CdcGearChunks(e(bin), e(lit(divisor)), e(lit(window))))

  /** md5-window content-defined byte chunks ([[CdcMd5Chunks]]). */
  def cdcMd5(bin: Column, divisor: Int, window: Int): Column =
    GraftColumn(CdcMd5Chunks(e(bin), e(lit(divisor)), e(lit(window))))
}
