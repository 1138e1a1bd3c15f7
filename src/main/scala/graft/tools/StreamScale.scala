package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

import graft.llm.{Ivf, LangModel, Multimodal}
import graft.streaming.{StreamingIngest => SI}

/** Stream-twin scale measurement for one family of
  * [[graft.streaming.StreamingIngest]]: stage a family's arriving rows
  * as `nBatches` CSV drops, drive them through the family's stream
  * twin (one `Trigger.AvailableNow` run per drop, against the evolving
  * store), then REPLAY the identical drops through the twin's own
  * step with batch ids 0, 1, … and pin stream == replay, plus the
  * family's own model check. The replay calls the same step the
  * stream lifts ([[graft.streaming.Streams.lift]]), so the
  * stream-vs-replay delta is pure streaming machinery (query start,
  * offset log, file listing), never plan differences.
  *
  * Drop CSVs are staged once per face (untimed) and MOVED into the
  * watch dir inside the timed loop, so both faces pay the same CSV
  * parse.
  *
  * Families:
  *  - `er` — [[SI.erResolveStream]] over the synthetic re-crawl
  *    batch of the dir's customer table (the gate's corruption rule,
  *    ids shifted past the dir's max so the novel-cluster id space
  *    stays disjoint at any amplification). Parity: assignments
  *    row-for-row (best_dist included) and the master row count.
  *    Mode `banded` engages the quad bands, `adaptive` the eager
  *    hot-block set.
  *  - `mm` — [[SI.binaryNearDupIngestStream]]: the store seeded with
  *    the gate split's store side (doc_id % 5 != 0), the batch side
  *    arriving. Parity: survivors per batch on (doc_id, ingest_batch)
  *    and the stream-maintained chunk index == a from-scratch
  *    [[Multimodal.binaryChunkIndex]] over the final store.
  *  - `ivf` — [[SI.ivfIngestStream]] (`float`) or
  *    [[SI.ivfQuantIngestStream]] (`quant`): the layout seeded with
  *    vec_id % 3 != 0, the rest arriving as `;`-joined text. Parity:
  *    layout rows on (vec_id, centroid_id, ingest_batch), plus the
  *    stored (scale, codes) in quant mode, and the probe check — the
  *    pruned layout probe == the in-memory IVF over every vector that
  *    ever arrived.
  *  - `kn` — [[SI.knModelStream]] (`kn2`) or [[SI.kn3ModelStream]]
  *    (`kn3`): the model seeded with doc_id % 8 == 0, the rest of the
  *    reference slice arriving. Parity: merged stream store == merged
  *    replay store == a from-scratch count over seed + drops (both
  *    orders' tables for kn3).
  *
  * Prints one JSON line (`metric` = `<family>_stream_scale`) of
  * medians over the reps; `seedSec` times the one-time seed (all but
  * `er`), `probeSec` the layout probe (`ivf`).
  *
  * usage: runMain graft.tools.StreamScale er <sfDir> <maxBlock> <nBatches> [banded|adaptive]
  *        runMain graft.tools.StreamScale mm <sfDir> <nBatches>
  *        runMain graft.tools.StreamScale ivf <sfDir> <nBatches> [float|quant]
  *        runMain graft.tools.StreamScale kn <sfDir> <nBatches> [kn2|kn3]
  * env: SPARK_GRAFT_BENCH_REPS (default 3), SPARK_GRAFT_CPUS (default 4)
  */
object StreamScale {

  private type Dirs = Map[String, String]

  private final case class Check(parity: Boolean, n: Long, probeSec: Option[Double] = None)

  /** One family's protocol. Each face gets fresh dirs for `sinks`. */
  private abstract class Family(val name: String, val nBatches: Int) {
    val schema: StructType
    val sinks: Seq[String]
    /** JSON fields after `nBatches`, before the count. */
    val params: Seq[(String, String)] = Nil
    val countKey: String
    val mode: Option[String] = None
    val seedTimed: Boolean = true
    /** The rows of CSV drop `b`. */
    def drop(b: Int): DataFrame
    def seed(d: Dirs): Unit
    def stream(d: Dirs, watch: String, ckpt: String): DataStreamWriter[Row]
    def step(d: Dirs): (DataFrame, Long) => Unit
    /** `staged` reads every drop of the replay face. */
    def check(streamed: Dirs, replayed: Dirs, staged: DataFrame): Check
  }

  private def same(x: DataFrame, y: DataFrame): Boolean =
    x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty

  private def er(spark: SparkSession, sfDir: String, args: Seq[String]): Family = {
    require(args.length == 2 || args.length == 3,
      "usage: StreamScale er <sfDir> <maxBlock> <nBatches> [banded|adaptive]")
    val maxBlock = args(0).toLong
    val banded = args.length == 3 && (args(2) == "banded" || args(2) == "adaptive")
    val adaptive = args.length == 3 && args(2) == "adaptive"
    val masterSrc = spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    // disjoint novel-id space at any amplification (the fixed gate
    // offset of 100000 collides past 16x): one 1-row aggregate
    val offset = masterSrc.agg(max("c_custkey")).head().getLong(0) + 1L
    val batchAll = masterSrc.where(col("c_custkey") % 3 === 0)
      .withColumn("c_name",
        when(col("c_custkey") % 2 === 0, col("c_name"))
          .otherwise(concat(substring(col("c_name"), 1, 16), lit("XX"))))
      .withColumn("c_custkey", col("c_custkey") + offset)
    val bands = if (banded) Some(graft.DedupQueries.quadBands) else None
    val blockCols = Seq("c_nationkey", "c_mktsegment")
    new Family("er", args(1).toInt) {
      val schema = StructType.fromDDL(
        "c_custkey LONG, c_name STRING, c_nationkey INT, c_mktsegment STRING")
      val sinks = Seq("master", "out", "merges")
      override val params = Seq("maxBlock" -> maxBlock.toString,
        "banded" -> banded.toString, "adaptive" -> adaptive.toString)
      val countKey = "nAssign"
      override val seedTimed = false
      def drop(b: Int) = batchAll.where(col("c_custkey") % nBatches === b)
      def seed(d: Dirs) = SI.seedErMaster(masterSrc.withColumn("cluster", col("c_custkey")), d("master"))
      def stream(d: Dirs, watch: String, ckpt: String) = SI.erResolveStream(
        spark, watch, schema, d("master"), d("out"), d("merges"), ckpt,
        "c_custkey", "c_name", blockCols, maxDist = 2, maxBlock,
        clusterCol = "cluster", bands = bands, adaptive = adaptive)
      def step(d: Dirs): (DataFrame, Long) => Unit = SI.erResolveStep(d("master"), d("out"), d("merges"),
        "c_custkey", "c_name", blockCols, maxDist = 2, maxBlock, "cluster", bands, adaptive)
      def check(a: Dirs, b: Dirs, staged: DataFrame) = {
        val cols = Seq("batch_id", "cluster_id", "n_matches", "best_dist", "ingest_batch")
        val outA = spark.read.parquet(a("out")).selectExpr(cols: _*)
        Check(same(outA, spark.read.parquet(b("out")).selectExpr(cols: _*)) &&
          spark.read.parquet(a("master")).count() == spark.read.parquet(b("master")).count(),
          outA.count())
      }
    }
  }

  private def mm(spark: SparkSession, sfDir: String, args: Seq[String]): Family = {
    require(args.length == 1, "usage: StreamScale mm <sfDir> <nBatches>")
    val (theta, divisor, window, cap) = (0.3, 16, 8, 64L)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val storeSrc = docs.where(col("doc_id") % 5 =!= 0)
    // the gate's batch side, round-robin over the drops
    val batchAll = docs.where(col("doc_id") % 5 === 0)
    def bin(d: DataFrame) = Multimodal.withBinaryContent("text")(d)
    new Family("mm", args(0).toInt) {
      val schema = StructType.fromDDL("doc_id LONG, text STRING")
      val sinks = Seq("store", "index")
      val countKey = "nStore"
      def drop(b: Int) = batchAll.where((col("doc_id") / 5) % nBatches === b)
      def seed(d: Dirs) =
        SI.seedBinaryStore(bin(storeSrc), "content", "doc_id", d("store"), d("index"), divisor, window)
      def stream(d: Dirs, watch: String, ckpt: String) = SI.binaryNearDupIngestStream(
        spark, watch, schema, d("store"), d("index"), ckpt,
        "doc_id", "text", theta, divisor, window, cap)
      def step(d: Dirs): (DataFrame, Long) => Unit = SI.binaryNearDupIngestStep(d("store"), d("index"),
        "doc_id", "text", theta, Multimodal.Md5Chunker(divisor, window), cap)
      def check(a: Dirs, b: Dirs, staged: DataFrame) = {
        val storeA = spark.read.parquet(a("store")).select("doc_id", "ingest_batch")
        val maintained = spark.read.parquet(a("index")).select("doc_id", "chunk_md5", "n_bytes")
        val rebuilt = Multimodal.binaryChunkIndex("content", "doc_id", divisor, window)(
          bin(spark.read.parquet(a("store")).select("doc_id", "text")))
        Check(same(storeA, spark.read.parquet(b("store")).select("doc_id", "ingest_batch")) &&
          same(maintained, rebuilt), storeA.count())
      }
    }
  }

  private def ivf(spark: SparkSession, sfDir: String, args: Seq[String]): Family = {
    require(args.length == 1 || args.length == 2,
      "usage: StreamScale ivf <sfDir> <nBatches> [float|quant]")
    val modeArg = if (args.length == 2) args(1) else "float"
    require(modeArg == "float" || modeArg == "quant", s"bad mode=$modeArg")
    val quant = modeArg == "quant"
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
    val model = Ivf.train(emb, "embedding", k = 16)
    // seed vectors cast to array<double> so the layout's vector column
    // has ONE type across seed and stream-written partitions (the
    // stream parses `;`-joined text to double[])
    val storeSrc = emb.where(col("vec_id") % 3 =!= 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    // the arriving third, as the CSV text the stream parses
    val batchAll = emb.where(col("vec_id") % 3 === 0)
      .select(col("vec_id"), array_join(col("embedding"), ";").as("emb"))
    new Family("ivf", args(0).toInt) {
      val schema = StructType.fromDDL("vec_id LONG, emb STRING")
      val sinks = Seq("layout")
      val countKey = "nLayout"
      override val mode = Some(modeArg)
      def drop(b: Int) = batchAll.where((col("vec_id") / 3) % nBatches === b)
      def seed(d: Dirs) =
        if (quant) SI.seedIvfQuantLayout(storeSrc, "vec_id", "embedding", model, d("layout"))
        else SI.seedIvfLayout(storeSrc, "vec_id", "embedding", model, d("layout"))
      def stream(d: Dirs, watch: String, ckpt: String) =
        if (quant) SI.ivfQuantIngestStream(spark, watch, schema, d("layout"), ckpt,
          "vec_id", "emb", "embedding", model)
        else SI.ivfIngestStream(spark, watch, schema, d("layout"), ckpt,
          "vec_id", "emb", "embedding", model)
      def step(d: Dirs): (DataFrame, Long) => Unit =
        if (quant) SI.ivfQuantIngestStep(d("layout"), "vec_id", "emb", "embedding", model)
        else SI.ivfIngestStep(d("layout"), "vec_id", "emb", "embedding", model)
      def check(a: Dirs, b: Dirs, staged: DataFrame) = {
        // quant mode also pins the stored (scale, codes) pair — the
        // stream must persist byte-identical codes to the batch face
        def rows(dir: String) = {
          val keyCols = Seq(col("vec_id"), col("centroid_id").cast("int"), col("ingest_batch"))
          spark.read.parquet(dir).select(
            (if (quant) keyCols :+ col("scale") :+ col("codes") else keyCols): _*)
        }
        val probes = emb.where(col("vec_id") < 5)
        val everything = storeSrc.unionByName(staged
          .withColumn("embedding", expr("transform(split(emb, ';'), x -> cast(x AS double))"))
          .select("vec_id", "embedding"))
        val tP = System.nanoTime()
        val viaLayout = (if (quant)
          Ivf.quantCellLayoutTopK(spark, a("layout"), probes, "vec_id", "embedding", model,
            k = 5, nProbe = 4)
        else
          Ivf.cellLayoutTopK(spark, a("layout"), probes, "vec_id", "embedding", model,
            k = 5, nProbe = 4))
          .select("probe_id", "neighbor_id", "rank")
        viaLayout.write.mode("overwrite").format("noop").save()
        val probeSec = (System.nanoTime() - tP) / 1e9
        val viaMemory = (if (quant)
          Ivf.ivfQuantTopK(everything, probes, "vec_id", "embedding", model, k = 5, nProbe = 4)
        else
          Ivf.ivfTopK(everything, probes, "vec_id", "embedding", model, k = 5, nProbe = 4))
          .select("probe_id", "neighbor_id", "rank")
        val layoutA = rows(a("layout"))
        Check(same(layoutA, rows(b("layout"))) && same(viaLayout, viaMemory),
          layoutA.count(), Some(probeSec))
      }
    }
  }

  private def kn(spark: SparkSession, sfDir: String, args: Seq[String]): Family = {
    require(args.length == 1 || args.length == 2,
      "usage: StreamScale kn <sfDir> <nBatches> [kn2|kn3]")
    val modeArg = if (args.length == 2) args(1) else "kn2"
    require(modeArg == "kn2" || modeArg == "kn3", s"bad mode=$modeArg")
    val kn3 = modeArg == "kn3"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val seedSrc = docs.where(col("doc_id") % 8 === 0)
    val batchAll = docs.where(col("doc_id") % 4 === 0 && col("doc_id") % 8 =!= 0)
    new Family("kn", args(0).toInt) {
      val schema = StructType.fromDDL("doc_id LONG, text STRING")
      val sinks = Seq("model")
      val countKey = "nModelTypes"
      override val mode = Some(modeArg)
      def drop(b: Int) = batchAll.where(expr(s"(doc_id div 8) % $nBatches") === b)
      def seed(d: Dirs) =
        if (kn3) LangModel.seedKn3Model(seedSrc, "text", d("model"))
        else LangModel.seedKnModel(seedSrc, "text", d("model"))
      def stream(d: Dirs, watch: String, ckpt: String) =
        if (kn3) SI.kn3ModelStream(spark, watch, schema, d("model"), ckpt, "text")
        else SI.knModelStream(spark, watch, schema, d("model"), ckpt, "text")
      def step(d: Dirs): (DataFrame, Long) => Unit =
        if (kn3) LangModel.ingestKn3Model(_, "text", d("model"), _)
        else LangModel.ingestKnModel(_, "text", d("model"), _)
      def check(a: Dirs, b: Dirs, staged: DataFrame) = {
        // the CSV round trip is the arriving text for both faces; the
        // from-scratch model is over seed + the staged drops
        val everything = seedSrc.unionByName(staged)
        if (kn3) {
          val (triA, bgA) = LangModel.loadKn3Counts(spark, a("model"))
          val (triB, bgB) = LangModel.loadKn3Counts(spark, b("model"))
          Check(same(triA, triB) && same(bgA, bgB) &&
            same(triA, LangModel.refTrigramCounts(everything, "text")) &&
            same(bgA, LangModel.refBigramCounts(everything, "text")),
            triA.count() + bgA.count())
        } else {
          val countsA = LangModel.loadKnCounts(spark, a("model"))
          Check(same(countsA, LangModel.loadKnCounts(spark, b("model"))) &&
            same(countsA, LangModel.refBigramCounts(everything, "text")), countsA.count())
        }
      }
    }
  }

  private final case class Run(streamSec: Double, replaySec: Double, seedSec: Double, check: Check)

  private def runOnce(spark: SparkSession, f: Family): Run = {
    def tmp(what: String): String = graft.SparkEntry.cleanedTempDir(s"graft_${f.name}stream_${what}_")
    def stage(what: String): String = {
      val dir = tmp(what)
      (0 until f.nBatches).foreach { b =>
        f.drop(b).coalesce(1).write.option("header", "true").csv(s"$dir/b$b")
      }
      dir
    }
    def moveCsvs(from: String, to: String): Unit = {
      // Files.list holds an open directory handle until closed — a
      // bare forEach leaks one per staged batch per rep
      val s = Files.list(Paths.get(from))
      try s.forEach { p =>
        if (p.getFileName.toString.endsWith(".csv"))
          Files.move(p, Paths.get(to, p.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
      } finally s.close()
    }
    def read(paths: String*): DataFrame =
      spark.read.schema(f.schema).option("header", "true").csv(paths: _*)

    // ---- streaming face ----
    val stage1 = stage("stage")
    val watch = tmp("watch")
    val ckpt = tmp("ckpt")
    val streamed = f.sinks.map(s => s -> tmp(s)).toMap
    val tSeed = System.nanoTime()
    f.seed(streamed)
    val seedSec = (System.nanoTime() - tSeed) / 1e9
    val t0 = System.nanoTime()
    (0 until f.nBatches).foreach { b =>
      val tb = System.nanoTime()
      moveCsvs(s"$stage1/b$b", watch)
      val q = f.stream(streamed, watch, ckpt).trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally if (q.isActive) q.stop()
      System.err.println(s"[${f.name}stream] batch $b: ${(System.nanoTime() - tb) / 1e9}s")
    }
    val streamSec = (System.nanoTime() - t0) / 1e9

    // ---- batch-replay face: the stream's own step, ids 0, 1, … ----
    val stage2 = stage("stage2")
    val replayed = f.sinks.map(s => s -> tmp(s"${s}2")).toMap
    f.seed(replayed)
    val step = f.step(replayed)
    val t1 = System.nanoTime()
    (0 until f.nBatches).foreach(b => step(read(s"$stage2/b$b"), b.toLong))
    val replaySec = (System.nanoTime() - t1) / 1e9

    Run(streamSec, replaySec, seedSec,
      f.check(streamed, replayed, read((0 until f.nBatches).map(b => s"$stage2/b$b"): _*)))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: StreamScale <er|mm|ivf|kn> <sfDir> …")
    val (name, sfDir) = (args(0), args(1))
    val build = name match {
      case "er" => er _
      case "mm" => mm _
      case "ivf" => ivf _
      case "kn" => kn _
      case other => throw new IllegalArgumentException(s"unknown family $other: er|mm|ivf|kn")
    }
    val spark = graft.GraftSession.local(s"${name}stream", benchSplits = true)
    try {
      graft.GraftSession.warmUp(spark, sfDir)
      val f = build(spark, sfDir, args.drop(2).toSeq)
      require(f.nBatches >= 1, s"bad nBatches=${f.nBatches}")
      val reps = graft.GraftSession.reps(3)
      val runs = (0 until reps).map(_ => runOnce(spark, f))
      import graft.GraftSession.{median => med}
      val parity = runs.forall(_.check.parity)
      val phases =
        (if (f.seedTimed) Seq("seedSec" -> med(runs.map(_.seedSec))) else Nil) ++
          runs.head.check.probeSec.map(_ => "probeSec" -> med(runs.flatMap(_.check.probeSec)))
      val fields =
        Seq("metric" -> s""""${name}_stream_scale"""",
          "streamSec" -> med(runs.map(_.streamSec)).toString,
          "replaySec" -> med(runs.map(_.replaySec)).toString) ++
          phases.map { case (k, v) => k -> v.toString } ++
          Seq("streamMin" -> runs.map(_.streamSec).min.toString,
            "replayMin" -> runs.map(_.replaySec).min.toString,
            "reps" -> reps.toString, "nBatches" -> f.nBatches.toString) ++
          f.params ++
          Seq(f.countKey -> runs.head.check.n.toString) ++
          f.mode.map(m => "mode" -> s""""$m"""") ++
          Seq("parity" -> parity.toString, "sf" -> s""""$sfDir"""")
      println(fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
      require(parity, "stream vs batch-replay parity FAILED")
    } finally spark.stop()
  }
}
