package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hadoop `Configuration` is not `Serializable` (and Spark's
  * serializable wrapper is private[spark]), so native readers/writers
  * that need the conf on executors ship its entries and rebuild per
  * partition. Shared by the sas7bdat scan and [[Avro]].
  */
private[io] object HadoopConfSer {
  def entries(spark: SparkSession): Array[(String, String)] = {
    val it = spark.sparkContext.hadoopConfiguration.iterator()
    val b = Array.newBuilder[(String, String)]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
    b.result()
  }

  def rebuild(entries: Array[(String, String)]): org.apache.hadoop.conf.Configuration = {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    entries.foreach { case (k, v) => conf.set(k, v) }
    conf
  }
}

/** The ingestion path (Data_Ingestion_Python.py): file source → null
  * fill → filename metadata → nest → keyed store. The reference is a
  * one-file-per-invocation Lambda; here each step is a declarative
  * transform so one job ingests any number of files in parallel, and
  * [[graft.streaming.StreamingIngest]] wraps the same transforms as a
  * Structured Streaming flow.
  */
object Ingestion {

  /** S5 file-format source (handling_different_file_formats,
    * Data_Ingestion_Python.py:22-34): CSV with header — ALL-STRING by
    * deliberate choice, NOT inferred: the reference immediately
    * fillna('Null')s the frame (object dtype), every downstream store
    * write stringifies, and inference would make a NaN-free numeric
    * column sort numerically where the pinned pipeline sorts its
    * stringified form — the gate's oracles replay the all-string
    * shape. SAS7BDAT goes through the native `sas7bdat` DataSource V2
    * scan ([[SasDataSource]]; the reference uses pd.read_sas); anything
    * else fails loudly like the reference.
    */
  def readFile(spark: SparkSession, path: String): DataFrame =
    path.toLowerCase match {
      case p if p.endsWith(".csv") =>
        spark.read.option("header", "true").option("inferSchema", "false").csv(path)
      case p if p.endsWith(".parquet") => spark.read.parquet(path)
      case p if p.endsWith(".sas7bdat") => spark.read.format("sas7bdat").load(path)
      case other =>
        throw new IllegalArgumentException(s"We cannot handle this file format! ($other)")
    }

  /** C10 null-fill: the reference's fillna('Null') at ingestion
    * (Data_Ingestion_Python.py:232) — string columns only, matching
    * pandas' object-dtype frames.
    */
  def nullFill(df: DataFrame, value: String = "Null"): DataFrame =
    df.na.fill(value)

  /** C9 filename/header metadata (Data_Ingestion_Python.py:44-99):
    * view id from the file's base name, source timestamp parsed from
    * the name when present, load timestamp at ingestion time. Driven
    * by input_file_name() so it stays correct when one job reads many
    * files. Every source [[readFile]] returns is a file scan that
    * reports its file (the `sas7bdat` scan included), so no row reads
    * an empty name.
    */
  def withFileMetadata(df: DataFrame): DataFrame = {
    val fname = regexp_extract(input_file_name(), "([^/]+)$", 1)
    df.withColumn("source_file", fname)
      .withColumn("view_id", regexp_extract(fname, "^([^._]+)", 1))
      .withColumn("source_timestamp", regexp_extract(fname, "_(\\d{8,14})\\.", 1))
      .withColumn("load_timestamp", date_format(current_timestamp(), "yyyyMMddHHmm"))
  }

  /** Full batch ingestion: file → fillna → metadata → nest on the two
    * key columns → keyed store UPSERT (the put_item loop replaced by
    * one dynamic-partition-overwrite write). Upsert, not
    * [[NestedStore.write]]: the reference Lambda put_items ONE file's
    * documents and leaves every other view untouched — a static
    * overwrite here would truncate the whole store on each ingested
    * file.
    */
  def ingestFile(
      spark: SparkSession,
      path: String,
      k1: String,
      k2: String,
      storeDir: String): Unit = {
    val df = withFileMetadata(nullFill(readFile(spark, path)))
    NestedStore.upsert(NestedStore.nest(df, k1, k2), storeDir, k1, k2)
  }

  /** The ingestion routing table (config.json:4-42 in the reference):
    * which view a dropped file belongs to — substring match of the
    * view-name list against the file key — and that view's two nest
    * key columns.
    */
  final case class RoutingConfig(
      targetColumns: Seq[String],
      viewNames: Seq[String],
      keyColumns: Map[String, Seq[String]])

  object Routing {
    import com.fasterxml.jackson.databind.ObjectMapper // ships with Spark

    def load(path: String): RoutingConfig = {
      val root = new ObjectMapper().readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
      def strings(n: com.fasterxml.jackson.databind.JsonNode): Seq[String] = {
        val it = n.elements()
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) buf += it.next().asText()
        buf.toSeq
      }
      val src = root.get("source_files")
      val names = src.fieldNames()
      val kcs = scala.collection.mutable.Map.empty[String, Seq[String]]
      while (names.hasNext) {
        val n = names.next()
        kcs += n -> strings(src.get(n).get("key columns"))
      }
      RoutingConfig(
        strings(root.get("Target_table_columns")),
        strings(root.get("view_names_list")),
        kcs.toMap)
    }

    /** Route a file key to (view, key columns). Substring scan over
      * the view-name list like the reference's Lambda
      * (Data_Ingestion_Python.py:215-229), including its special
      * cases; the reference's `AE → 'Clinical_view'` lookup is a
      * latent KeyError (the table only has 'Clinical_View') — we
      * route to the evidently-intended entry (SURVEY §4.1 spirit).
      */
    def route(fileKey: String, cfg: RoutingConfig): (String, Seq[String]) = {
      val matches = cfg.viewNames.filter(v => fileKey.toUpperCase.contains(v.toUpperCase))
      val proc0 = matches.mkString(" ")
      val proc =
        if (proc0 == "AE") "Clinical_View"
        else if (proc0.contains("SAS")) "SAS"
        else if (proc0.contains("CLINICALVIEWS")) "Clinical_View"
        else proc0
      val kcs = cfg.keyColumns.getOrElse(proc,
        throw new NoSuchElementException(s"no routing entry for '$proc' (file '$fileKey')"))
      (proc, kcs)
    }
  }

  /** Route + ingest in one call — the whole Lambda body
    * (Data_Ingestion_Python.py:196-275) as a batch job.
    */
  def ingestRouted(
      spark: SparkSession,
      filePath: String,
      configPath: String,
      storeDir: String): String = {
    val cfg = Routing.load(configPath)
    val fileName = filePath.split("/").last
    val (view, kcs) = Routing.route(fileName, cfg)
    require(kcs.length >= 2, s"routing for '$view' needs two key columns, got $kcs")
    ingestFile(spark, filePath, kcs(0), kcs(1), storeDir)
    view
  }
}
