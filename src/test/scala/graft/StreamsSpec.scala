package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.io.NestedStore
import graft.llm.{Ivf, LangModel, Multimodal}
import graft.streaming.{StreamingIngest => SI}

/** The [[graft.streaming.Streams]] micro-batch contract, pinned over
  * every lifted stream twin: a killed batch replays to the same rows,
  * the stream equals its own step run in batch, and an empty drop
  * writes nothing.
  */
class StreamsSpec extends SparkSpec {
  import StreamsSpec._
  import spark.implicits._

  private def runToCompletion(q: StreamingQuery, ms: Long = 120000): Unit =
    try {
      assert(q.awaitTermination(ms), s"streaming query did not finish within ${ms}ms")
    } finally if (q.isActive) q.stop()

  /** Every row of every sink as sorted JSON — binary columns come out
    * base64, so byte-identical rows compare equal. */
  private def json(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.sorted.map(col).toIndexedSeq: _*))).as[String].collect().toSeq.sorted

  private def sinkRows(d: Dirs): Seq[String] =
    d.toSeq.sortBy(_._1).flatMap { case (k, dir) =>
      if (Files.exists(Paths.get(dir))) json(spark.read.parquet(dir)).map(r => s"$k $r") else Nil
    }

  /** (path, size, mtime) of every file under `root`. */
  private def listing(root: String): Map[String, (Long, Long)] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map((p: Path) =>
      p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
    finally s.close()
  }

  private def payload(seed: Int, n: Int): String = {
    val r = new scala.util.Random(seed + 900)
    Seq.fill(n)((97 + r.nextInt(26)).toChar).mkString
  }
  private def bin(d: DataFrame) = Multimodal.withBinaryContent("text")(d)

  private lazy val ivfCorpus = Seq(
    (1L, Array(0.0, 1.0)), (2L, Array(0.1, 0.9)),
    (3L, Array(1.0, 0.0)), (4L, Array(0.9, 0.1))).toDF("vec_id", "embedding")
  private lazy val ivfModel = Ivf.train(ivfCorpus, "embedding", k = 2)
  private val vecDrops = Seq(
    "vec_id,emb\n11,0.05;0.95\n12,0.95;0.05\n",
    "vec_id,emb\n21,0.2;0.8\n",
    "vec_id,emb\n31,0.7;0.3\n")

  private def twins: Seq[Twin] = {
    val (pA, pB, pC, pD) = (payload(1, 300), payload(2, 300), payload(3, 300), payload(4, 300))
    val mmChunker = Multimodal.Md5Chunker(16, 8)
    val studySchema = StructType.fromDDL("study_code STRING, view STRING, name STRING, score STRING")
    val kvSchema = StructType.fromDDL("k STRING, v BIGINT")
    val erSchema = StructType.fromDDL("id LONG, name STRING, state STRING")
    val docSchema = StructType.fromDDL("doc_id LONG, text STRING")
    val vecSchema = StructType.fromDDL("vec_id LONG, emb STRING")
    Seq(
      Twin("upsertStream", studySchema,
        Seq("study_code,view,name,score\ns1,v1,alice,9\ns1,v1,bob,8\ns1,v2,carol,7\n",
          "study_code,view,name,score\ns1,v1,dave,5\n",
          "study_code,view,name,score\ns1,v3,erin,4\n"),
        Seq("store"), _ => (),
        (d, w, c) => SI.upsertStream(spark, w, studySchema, "study_code", "view", d("store"), c),
        d => SI.upsertStep("study_code", "view", d("store")),
        // load_timestamp is the wall-clock minute of the write, by design
        rows = Some(d =>
          json(NestedStore.flatten(spark.read.parquet(d("store"))).drop("load_timestamp")))),
      Twin("ivmStateStream", kvSchema,
        Seq("k,v\na,10\na,20\nb,5\n", "k,v\na,\nb,7\nc,42\n", "k,v\nc,1\n"),
        Seq("state"), _ => (),
        (d, w, c) => SI.ivmStateStream(spark, w, kvSchema, Seq("k"), "v", d("state"), c),
        // a batch caller's checkpoint has no metadata: query id unknown
        d => SI.ivmStateStep(Seq("k"), "v", d("state"), d("state") + "__no_ckpt")),
      Twin("erResolveStream", erSchema,
        Seq("id,name,state\n101,alpha z,NY\n102,zeta zz,TX\n",
          "id,name,state\n103,zeta za,TX\n",
          "id,name,state\n104,gamma h,CA\n"),
        Seq("master", "out", "merges"),
        d => SI.seedErMaster(Seq(
          (1L, "alpha x", "NY", 10L), (2L, "alpha y", "NY", 20L),
          (3L, "gamma g", "CA", 3L)).toDF("id", "name", "state", "cluster"), d("master")),
        (d, w, c) => SI.erResolveStream(spark, w, erSchema,
          d("master"), d("out"), d("merges"), c, "id", "name", Seq("state"),
          maxDist = 2, maxBlock = 10L, clusterCol = "cluster"),
        d => SI.erResolveStep(d("master"), d("out"), d("merges"), "id", "name", Seq("state"),
          maxDist = 2, maxBlock = 10L, "cluster", None, adaptive = false)),
      Twin("binaryNearDupIngestStream", docSchema,
        Seq(s"doc_id,text\n11,$pA$pB\n12,$pC$pD\n13,$pC$pD${payload(5, 40)}\n",
          s"doc_id,text\n21,$pC$pD${payload(6, 30)}\n22,${payload(7, 600)}\n",
          s"doc_id,text\n31,${payload(8, 300)}\n"),
        Seq("store", "index"),
        d => SI.seedBinaryStore(bin(Seq((1L, pA + pB)).toDF("doc_id", "text")), "content",
          "doc_id", d("store"), d("index"), mmChunker),
        (d, w, c) => SI.binaryNearDupIngestStream(spark, w, docSchema,
          d("store"), d("index"), c, "doc_id", "text", 0.25, mmChunker, 64L),
        d => SI.binaryNearDupIngestStep(d("store"), d("index"), "doc_id", "text", 0.25,
          mmChunker, 64L)),
      Twin("ivfIngestStream", vecSchema, vecDrops, Seq("layout"),
        d => SI.seedIvfLayout(ivfCorpus, "vec_id", "embedding", ivfModel, d("layout")),
        (d, w, c) => SI.ivfIngestStream(spark, w, vecSchema,
          d("layout"), c, "vec_id", "emb", "embedding", ivfModel),
        d => SI.ivfIngestStep(d("layout"), "vec_id", "emb", "embedding", ivfModel)),
      Twin("ivfQuantIngestStream", vecSchema, vecDrops, Seq("layout"),
        d => SI.seedIvfQuantLayout(ivfCorpus, "vec_id", "embedding", ivfModel, d("layout")),
        (d, w, c) => SI.ivfQuantIngestStream(spark, w, vecSchema,
          d("layout"), c, "vec_id", "emb", "embedding", ivfModel),
        d => SI.ivfQuantIngestStep(d("layout"), "vec_id", "emb", "embedding", ivfModel)),
      Twin("knModelStream", docSchema,
        Seq("doc_id,text\n4,a b c\n8,b a\n", "doc_id,text\n12,x y\n", "doc_id,text\n16,c a\n"),
        Seq("model"),
        d => LangModel.seedKnModel(Seq((0L, "a b a b")).toDF("doc_id", "text"), "text", d("model")),
        (d, w, c) => SI.knModelStream(spark, w, docSchema,
          d("model"), c, "text"),
        d => LangModel.ingestKnModel(_, "text", d("model"), _)),
      Twin("kn3ModelStream", docSchema,
        Seq("doc_id,text\n4,a b c d\n8,b c a\n", "doc_id,text\n12,x y z\n",
          "doc_id,text\n16,c d a\n"),
        Seq("model"),
        d => LangModel.seedKn3Model(Seq((0L, "a b c a b")).toDF("doc_id", "text"), "text",
          d("model")),
        (d, w, c) => SI.kn3ModelStream(spark, w, docSchema,
          d("model"), c, "text"),
        d => LangModel.ingestKn3Model(_, "text", d("model"), _)))
  }

  test("every lifted twin: a killed batch replays to the same rows, the stream equals " +
    "its step run in batch, and a header-only drop writes nothing") {
    val seen = twins.map { t =>
      val watch = Files.createTempDirectory(s"graft_streams_watch_${t.name}").toString
      val ckpt = Files.createTempDirectory(s"graft_streams_ckpt_${t.name}").toString
      val base = Files.createTempDirectory(s"graft_streams_sink_${t.name}").toString
      val replayBase = Files.createTempDirectory(s"graft_streams_replay_${t.name}").toString
      // sinks are fresh paths: the IVM state and the stores must not pre-exist
      val sinks = t.sinks.map(s => s -> s"$base/$s").toMap
      val replaySinks = t.sinks.map(s => s -> s"$replayBase/$s").toMap
      val rowsOf = t.rows.getOrElse(sinkRows _)
      def drive(): Unit =
        runToCompletion(t.stream(sinks, watch, ckpt).trigger(Trigger.AvailableNow()).start())
      def offer(file: String, body: String): Unit =
        Files.writeString(Paths.get(watch, file), body)

      t.seed(sinks)
      offer("d0.csv", t.drops(0)); drive()
      offer("d1.csv", t.drops(1)); drive()
      val streamed = rowsOf(sinks)
      assert(streamed.nonEmpty, t.name)

      // kill-and-replay: drop the newest commit marker so the restarted
      // query re-runs batch 1 under the same id
      val commits = new org.apache.hadoop.fs.Path(ckpt, "commits")
      val cfs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val markers = cfs.listStatus(commits).map(_.getPath).filter(_.getName.forall(_.isDigit))
      assert(markers.map(_.getName.toLong).max == 1L, s"${t.name}: ${markers.mkString(",")}")
      assert(cfs.delete(markers.maxBy(_.getName.toLong), false))
      drive()
      assert(rowsOf(sinks) == streamed, s"${t.name}: the replay of batch 1 changed the sinks")

      // the stream == its own step in batch over the same drops, ids 0, 1
      t.seed(replaySinks)
      val step = t.step(replaySinks)
      Seq("d0.csv", "d1.csv").zipWithIndex.foreach { case (f, id) =>
        step(spark.read.schema(t.schema).option("header", "true").csv(s"$watch/$f"), id.toLong)
      }
      assert(rowsOf(replaySinks) == streamed, s"${t.name}: stream != step in batch")

      // a header-only drop is an empty micro-batch: no new partition,
      // no rewrite of any file; the next data drop still lands
      val before = listing(base)
      offer("e.csv", t.drops(0).takeWhile(_ != '\n') + "\n"); drive()
      assert(listing(base) == before, s"${t.name}: an empty micro-batch rewrote the sinks")
      offer("d2.csv", t.drops(2)); drive()
      assert(listing(base) != before && rowsOf(sinks) != streamed,
        s"${t.name}: the drop after the empty one did not land")
      t.name
    }
    assert(seen.size == 8)
  }

  test("src/main calls foreachBatch only in Streams and sets partitionOverwriteMode only " +
    "in Streams, NestedStore and LayoutErase") {
    val main = Paths.get("src/main/scala").toAbsolutePath
    val files = {
      val s = Files.walk(main)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    assert(files.size > 50, s"source scan found only ${files.size} files under $main")
    def sites(token: String): Set[String] =
      files.filter(f => Files.readString(f).contains(token))
        .map(p => main.relativize(p).toString).toSet
    assert(sites(".foreachBatch") == Set("graft/streaming/Streams.scala"))
    assert(sites("partitionOverwriteMode") == Set(
      "graft/streaming/Streams.scala", "graft/io/NestedStore.scala", "graft/io/LayoutErase.scala"))
  }
}

object StreamsSpec {
  type Dirs = Map[String, String]

  /** One stream twin: its CSV schema, three data drops (header line
    * included), its sink names, how to seed them, the stream and its
    * step over the same sinks, and its sinks' canonical rows. */
  final case class Twin(
      name: String,
      schema: StructType,
      drops: Seq[String],
      sinks: Seq[String],
      seed: Dirs => Unit,
      stream: (Dirs, String, String) => DataStreamWriter[Row],
      step: Dirs => (DataFrame, Long) => Unit,
      rows: Option[Dirs => Seq[String]] = None)
}
