package graft.io

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.InputFileBlock
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The sas7bdat read path — `spark.read.format("sas7bdat").load(path)`,
  * the one way graft reads a SAS file ([[Ingestion.readFile]] and the
  * registry both go through it). Required columns are pushed into the
  * page parser (`SupportsPushDownRequiredColumns` — a 2-column
  * projection of a 300-column clinical export decodes 2 column slices
  * per row, and `.explain` shows the pruned ReadSchema on the scan
  * node), and page ranges surface as real `InputPartition`s, so
  * Spark's scheduler owns locality and task sizing, exactly as it does
  * for parquet row groups. [[Sas.readMeta]] parses the metadata once on
  * the driver; each partition seeks straight to its page range and
  * reports its file to `input_file_name()`, as Spark's own file scans
  * do.
  */
class SasDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "sas7bdat"

  private def path(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "sas7bdat source needs a path: .load(\"/file.sas7bdat\")")
    p
  }

  // Spark calls inferSchema then getTable on the same provider
  // instance for one load — cache the metadata parse so the header +
  // leading meta pages read once per query, not twice (each parse is
  // a seek sequence; on a remote store that is a real round trip)
  @volatile private var cachedMeta: (String, Sas.SasMeta) = _

  private def metaFor(p: String): Sas.SasMeta = {
    val c = cachedMeta
    if (c != null && c._1 == p) c._2
    else {
      val m = Sas.readMeta(SparkSession.active, p)
      cachedMeta = (p, m)
      m
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    metaFor(path(options)).schema

  // accept a user-supplied .schema(...) — getTable VALIDATES it
  // against the file's metadata schema (exact names+types) instead of
  // Spark's blanket "does not support user-specified schema" error, so
  // a caller pinning an expected layout gets either the read or a
  // loud, specific mismatch
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val p = properties.asScala.getOrElse("path",
      throw new IllegalArgumentException("sas7bdat source needs a path"))
    val meta = metaFor(p)
    // Spark hands back inferSchema's result when the user supplied no
    // schema; a user-pinned `.schema(...)` arrives here instead. The
    // file's layout is fixed by its metadata pages, so a divergent pin
    // cannot be honored — fail loudly rather than silently serving the
    // file schema under a different declaration (name/type mismatches
    // would otherwise surface only as downstream analysis errors or,
    // worse, as silently mis-typed reads). Nullability/metadata are
    // not load-bearing for the fixed-width decode, so only names +
    // types (case-sensitive, in order) must agree.
    val declared = schema.fields.map(f => (f.name, f.dataType)).toSeq
    val actual = meta.schema.fields.map(f => (f.name, f.dataType)).toSeq
    if (declared != actual)
      throw new IllegalArgumentException(
        s"sas7bdat $p: user-supplied schema does not match the file's " +
          s"metadata schema and cannot be honored.\n  declared: ${schema.simpleString}\n" +
          s"  file:     ${meta.schema.simpleString}")
    new SasTable(p, meta)
  }
}

private[io] class SasTable(path: String, meta: Sas.SasMeta) extends Table with SupportsRead {
  override def name(): String = s"sas7bdat:$path"
  override def schema(): StructType = meta.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  // the Table instance lives in the logical plan, so every action on
  // the same DataFrame re-plans through it: run the census ONCE here,
  // not once per planInputPartitions (per action) — the census is a
  // real distributed job over the file's page headers
  private[io] lazy val rowOverrides: Map[Long, Int] =
    Sas.rowCountOverrides(SparkSession.active, path, meta)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SasScanBuilder(path, meta, this)
}

private[io] class SasScanBuilder(path: String, meta: Sas.SasMeta, table: SasTable)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = meta.schema
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new SasScan(path, meta, required, table)
}

private[io] class SasScan(
    path: String, meta: Sas.SasMeta, required: StructType, table: SasTable)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def description(): String =
    s"sas7bdat $path (${meta.pageCount} pages, cols=${required.fieldNames.mkString(",")})"
  override def toBatch: Batch = this

  /** Contiguous page ranges — one partition per ~`pagesPerSplit`
    * pages so a huge file fans out while a small one stays cheap.
    * [[Sas.rowCountOverrides]]' decode-free census (cached on the
    * table — once per DataFrame, not per action) truncates trailing
    * stale rows at row_count, exactly like pd.read_sas; each
    * partition carries only its own slice of the (normally empty)
    * override map.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val overrides = table.rowOverrides
    val targetSplits = math.max(1, spark.sparkContext.defaultParallelism)
    val pagesPerSplit = math.max(1L, (meta.pageCount + targetSplits - 1) / targetSplits)
    (0L until meta.pageCount by pagesPerSplit)
      .map { s =>
        val e = math.min(s + pagesPerSplit, meta.pageCount)
        SasInputPartition(s, e, overrides.filter(kv => kv._1 >= s && kv._1 < e))
      }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    SasReaderFactory(path, meta, required.fieldNames,
      HadoopConfSer.entries(spark))
  }
}

private[io] case class SasInputPartition(
    startPage: Long, endPage: Long, takeOverrides: Map[Long, Int]) extends InputPartition

private[io] case class SasReaderFactory(
    path: String,
    meta: Sas.SasMeta,
    requiredCols: Array[String],
    confEntries: Array[(String, String)]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SasInputPartition]
    new SasPartitionReader(path, meta, requiredCols, confEntries,
      p.startPage, p.endPage, p.takeOverrides)
  }
}

/** Reads one page range; decodes ONLY the pruned columns of each row
  * image (compressed rows still decompress whole — the format stores
  * them row-wise — but per-column string/double materialization is
  * skipped for unselected columns, the dominant cost on wide tables).
  * Like Spark's `FilePartitionReader`, it records its file and byte
  * range for `input_file_name()` while it is open.
  */
private[io] class SasPartitionReader(
    path: String,
    meta: Sas.SasMeta,
    requiredCols: Array[String],
    confEntries: Array[(String, String)],
    startPage: Long,
    endPage: Long,
    takeOverrides: Map[Long, Int]) extends PartitionReader[InternalRow] {

  private val byName = meta.columns.map(c => c.name -> c).toMap
  private val cols = requiredCols.map(n => byName.getOrElse(n,
    throw new IllegalArgumentException(s"sas7bdat $path has no column '$n'")))
  private val charset = java.nio.charset.Charset.forName(meta.encoding)

  private val file = new org.apache.hadoop.fs.Path(path)
  private val fs = file.getFileSystem(HadoopConfSer.rebuild(confEntries))
  private val in = fs.open(file)
  InputFileBlock.set(fs.makeQualified(file).toUri.toString,
    meta.headerLength + startPage * meta.pageLength, (endPage - startPage) * meta.pageLength)
  private val pageBuf = new Array[Byte](meta.pageLength)
  private var page = startPage
  private var rows: Iterator[(Array[Byte], Int)] = Iterator.empty
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (!rows.hasNext && page < endPage) {
      in.readFully(meta.headerLength + page * meta.pageLength, pageBuf)
      val it = Sas.pageRowImages(pageBuf, meta)
      rows = takeOverrides.get(page).map(it.take).getOrElse(it)
      page += 1
    }
    if (!rows.hasNext) return false
    val (buf, base) = rows.next()
    val vals = new Array[Any](cols.length)
    var i = 0
    while (i < cols.length) {
      vals(i) = Sas.decodeCol(buf, base, cols(i), meta, charset) match {
        case s: String => UTF8String.fromString(s)
        case other => other // java.lang.Double or null
      }
      i += 1
    }
    current = new GenericInternalRow(vals)
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = {
    InputFileBlock.unset()
    in.close()
  }
}
