package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.io.{ConfigReader, Export, NestedStore, Standardized}

class IoSpec extends SparkSpec {
  import spark.implicits._

  test("nest → flatten round-trips the row set") {
    val df = Seq(
      ("s1", "v1", "alice", 1.5), ("s1", "v1", "bob", 2.5), ("s1", "v2", "carol", 3.5)
    ).toDF("study_code", "view", "name", "score")
    val back = NestedStore.flatten(NestedStore.nest(df, "study_code", "view"))
    assert(back.columns.sorted.toSeq == df.columns.sorted.toSeq)
    assert(back.orderBy("name").collect().toSeq == df.orderBy("name").collect().toSeq)
  }

  test("nested store write is partitioned by the two keys (partition pruning)") {
    val df = Seq(("s1", "v1", "a"), ("s2", "v1", "b")).toDF("study_code", "view", "x")
    val dir = Files.createTempDirectory("graft_store").toString
    NestedStore.write(NestedStore.nest(df, "study_code", "view"), dir)
    assert(new java.io.File(s"$dir/study_code=s1/view=v1").exists())
    val pruned = spark.read.parquet(dir).where(col("study_code") === "s1")
    // partition filter must reach the scan, not a post-scan Filter
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("study_code"), scan)
  }

  test("keyed upsert replaces only the touched partitions; other files untouched") {
    val dir = Files.createTempDirectory("graft_upsert").toString
    val batchA = Seq(
      ("s1", "v1", "a", 1.0), ("s1", "v2", "b", 2.0),
      ("s2", "v1", "c", 3.0), ("s2", "v2", "d", 4.0)
    ).toDF("study_code", "view", "name", "score")
    NestedStore.write(NestedStore.nest(batchA, "study_code", "view"), dir)

    // per-file (path, size, mtime) digest of every partition directory
    def listing(sub: String): Seq[(String, Long, Long)] =
      new java.io.File(s"$dir/$sub").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified())).toSeq.sorted
    val s2v1Before = listing("study_code=s2/view=v1")
    val s2v2Before = listing("study_code=s2/view=v2")
    val s1v1Before = listing("study_code=s1/view=v1")

    // upsert touches only study s1: v1 revised, v2 dropped from the
    // batch (and must therefore survive unchanged — per-key, not
    // per-study, replacement)
    val batchB = Seq(("s1", "v1", "a", 10.0), ("s1", "v1", "e", 11.0))
      .toDF("study_code", "view", "name", "score")
    NestedStore.upsert(NestedStore.nest(batchB, "study_code", "view"), dir)

    assert(listing("study_code=s2/view=v1") == s2v1Before, "untouched partition rewritten")
    assert(listing("study_code=s2/view=v2") == s2v2Before, "untouched partition rewritten")
    assert(listing("study_code=s1/view=v2").nonEmpty, "sibling view of touched study must survive")
    assert(listing("study_code=s1/view=v1") != s1v1Before, "touched partition must be replaced")

    val back = NestedStore.flatten(spark.read.parquet(dir))
      .orderBy("study_code", "view", "name")
      .select("study_code", "view", "name", "score")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3))).toSeq
    assert(back == Seq(
      ("s1", "v1", "a", 10.0), ("s1", "v1", "e", 11.0), ("s1", "v2", "b", 2.0),
      ("s2", "v1", "c", 3.0), ("s2", "v2", "d", 4.0)))
  }

  test("layout erase: id rows deleted, emptied partitions dropped, untouched files byte-preserved") {
    import graft.io.LayoutErase
    val dir = Files.createTempDirectory("graft_layout_erase").toString
    // a two-level layout (the streaming IVF shape): cell 1 loses one
    // of two rows (rewrite), cell 2 empties entirely (fs delete),
    // cell 3 is untouched (files must be byte-identical after)
    Seq(
      (10L, 1, -1L, "a"), (11L, 1, -1L, "b"),
      (20L, 2, 0L, "c"),
      (30L, 3, 0L, "d")
    ).toDF("vec_id", "centroid_id", "ingest_batch", "payload")
      .write.mode("overwrite").partitionBy("centroid_id", "ingest_batch").parquet(dir)
    def listing(sub: String): Seq[(String, Long, Long)] = {
      val d = new java.io.File(s"$dir/$sub")
      if (!d.exists()) Seq.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified())).toSeq.sorted
    }
    val c3Before = listing("centroid_id=3/ingest_batch=0")
    assert(c3Before.nonEmpty)

    val stats = LayoutErase.eraseByIds(spark, dir,
      Seq("centroid_id", "ingest_batch"), "vec_id",
      Seq(10L, 20L, 999L).toDF("vec_id"))
    assert(stats == LayoutErase.LayoutEraseStats(partitionsRewritten = 1, partitionsDeleted = 1),
      s"got $stats")
    assert(listing("centroid_id=2/ingest_batch=0").isEmpty,
      "fully-matched partition must be deleted")
    assert(listing("centroid_id=3/ingest_batch=0") == c3Before,
      "untouched partition rewritten")
    val back = spark.read.parquet(dir).select("vec_id", "payload")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(back == Set((11L, "b"), (30L, "d")), s"got $back")

    // idempotence: erasing ids that no longer exist is a clean no-op
    val again = LayoutErase.eraseByIds(spark, dir,
      Seq("centroid_id", "ingest_batch"), "vec_id", Seq(10L, 20L).toDF("vec_id"))
    assert(again == LayoutErase.LayoutEraseStats(0, 0), s"got $again")
  }

  test("erase deletes matching rows, drops emptied partitions, preserves untouched files") {
    val dir = Files.createTempDirectory("graft_erase").toString
    val data = Seq(
      ("s1", "v1", "alice", 1.0), ("s1", "v1", "bob", 2.0),
      ("s1", "v2", "alice", 3.0),                          // alice-only: partition empties
      ("s2", "v1", "carol", 4.0)                           // untouched
    ).toDF("study_code", "view", "name", "score")
    NestedStore.write(NestedStore.nest(data, "study_code", "view"), dir)
    def listing(sub: String): Seq[(String, Long, Long)] = {
      val d = new java.io.File(s"$dir/$sub")
      if (!d.exists()) Seq.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified())).toSeq.sorted
    }
    val s2v1Before = listing("study_code=s2/view=v1")

    val stats = NestedStore.erase(spark, dir, col("name") === "alice")
    assert(stats == NestedStore.EraseStats(partitionsRewritten = 1, partitionsDropped = 1))
    assert(listing("study_code=s1/view=v2").isEmpty, "fully-erased partition must be deleted")
    assert(listing("study_code=s2/view=v1") == s2v1Before, "untouched partition rewritten")
    val back = NestedStore.flatten(spark.read.parquet(dir))
      .select("study_code", "view", "name", "score").orderBy("name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3))).toSeq
    assert(back == Seq(("s1", "v1", "bob", 2.0), ("s2", "v1", "carol", 4.0)))

    // null-valued predicates KEEP rows (three-valued logic must not
    // silently widen an erasure), and a no-match erase is a no-op
    val none = NestedStore.erase(spark, dir, col("score") > lit(100.0))
    assert(none == NestedStore.EraseStats(0, 0))
    val nullPred = NestedStore.erase(spark, dir, lit(null).cast("boolean"))
    assert(nullPred == NestedStore.EraseStats(0, 0))
    assert(NestedStore.flatten(spark.read.parquet(dir)).count() == 2)
  }

  test("erase fails loudly on a type-mismatched predicate instead of skipping the view") {
    val dir = Files.createTempDirectory("graft_erase_typed").toString
    // v1: amt is array<string> — array_contains resolves; v2: amt is a
    // plain string — the SAME predicate is a DATATYPE_MISMATCH, which
    // must NOT read as "view lacks the field": a silent skip would
    // retain rows a compliance erase then reports as handled
    NestedStore.write(NestedStore.nest(
      Seq(("s1", "v1", Seq("x", "y")), ("s1", "v1", Seq("z")))
        .toDF("study_code", "view", "amt"), "study_code", "view"), dir)
    NestedStore.upsert(NestedStore.nest(
      Seq(("s1", "v2", "x")).toDF("study_code", "view", "amt"),
      "study_code", "view"), dir)
    // 'zz' matches nothing in v1, so v1's pass is a no-op whichever
    // view iterates first; v2 must still throw, never skip
    intercept[org.apache.spark.sql.AnalysisException] {
      NestedStore.erase(spark, dir, array_contains(col("amt"), "zz"))
    }
    def viewCount(v: String): Long = NestedStore.flatten(
      spark.read.option("basePath", dir).parquet(s"$dir/study_code=s1/view=$v")).count()
    assert(viewCount("v1") == 2 && viewCount("v2") == 1,
      "a refused erase must not have deleted anything")
    // a predicate naming a column NO view has still fails the
    // resolved-nowhere guard, and one a single view lacks still skips
    val e = intercept[Exception](NestedStore.erase(spark, dir, col("nope") === "x"))
    assert(e.getMessage.toLowerCase.contains("resolve") ||
      e.getMessage.toLowerCase.contains("nope"), e.getMessage)
  }

  test("erase refuses null-keyed partitions instead of silently retaining matches") {
    val dir = Files.createTempDirectory("graft_erase_nullkey").toString
    val data = Seq((null.asInstanceOf[String], "v1", "alice", 1.0), ("s1", "v1", "bob", 2.0))
      .toDF("study_code", "view", "name", "score")
    NestedStore.write(NestedStore.nest(data, "study_code", "view"), dir)
    val e = intercept[IllegalArgumentException] {
      NestedStore.erase(spark, dir, col("name") === "alice")
    }
    assert(e.getMessage.contains("NULL"), e.getMessage)
    // matches confined to well-keyed partitions still erase fine
    val ok = NestedStore.erase(spark, dir, col("name") === "bob")
    assert(ok == NestedStore.EraseStats(partitionsRewritten = 0, partitionsDropped = 1))
  }

  test("erase and compact are schema-safe across heterogeneous views") {
    // the store contract: payload schemas differ BETWEEN views. A
    // whole-store read samples one footer and mis-decodes the rest —
    // both verbs must process per view instead
    val dir = Files.createTempDirectory("graft_hetero").toString
    val a = Seq(("s1", "vA", "alice", 1.0), ("s1", "vA", "bob", 2.0))
      .toDF("study_code", "view", "name", "score")
    val b = Seq(("s1", "vB", 7L), ("s2", "vB", 9L))
      .toDF("study_code", "view", "code") // DIFFERENT payload schema
    NestedStore.write(NestedStore.nest(a, "study_code", "view"), dir)
    NestedStore.upsert(NestedStore.nest(b, "study_code", "view"), dir)
    def readB: Seq[Long] = NestedStore.flatten(spark.read.option("basePath", dir)
        .parquet(s"$dir/study_code=s1/view=vB", s"$dir/study_code=s2/view=vB"))
      .select("code").collect().map(_.getLong(0)).sorted.toSeq
    // erase by a field only view A has: A loses alice, B is untouched
    val stats = NestedStore.erase(spark, dir, col("name") === "alice")
    assert(stats == NestedStore.EraseStats(partitionsRewritten = 1, partitionsDropped = 0))
    val backA = NestedStore.flatten(spark.read.option("basePath", dir)
        .parquet(s"$dir/study_code=s1/view=vA"))
      .select("name", "score").collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(backA == Seq(("bob", 2.0)))
    assert(readB == Seq(7L, 9L), "view B payload must survive byte-correct")
    // a predicate resolving in NO view is a loud error, not a no-op
    val e = intercept[IllegalArgumentException] {
      NestedStore.erase(spark, dir, col("no_such_field") === 1)
    }
    assert(e.getMessage.contains("NO view"), e.getMessage)
    // compact preserves both views' schemas and rows
    NestedStore.compact(spark, dir)
    assert(readB == Seq(7L, 9L))
    assert(NestedStore.flatten(spark.read.option("basePath", dir)
        .parquet(s"$dir/study_code=s1/view=vA"))
      .select("name").collect().map(_.getString(0)).toSeq == Seq("bob"))
  }

  test("ingesting a second file upserts — the first file's view survives") {
    import graft.io.Ingestion
    val dir = Files.createTempDirectory("graft_ingest2").toString
    val store = s"$dir/store"
    Files.writeString(java.nio.file.Paths.get(dir, "drop_ENROL_1.csv"),
      "project,Folder,SiteGroup\np1,f1,US\n")
    Files.writeString(java.nio.file.Paths.get(dir, "drop_DS_1.csv"),
      "project,Folder,Status\np1,f9,DONE\n")
    Ingestion.ingestRouted(spark, s"$dir/drop_ENROL_1.csv",
      Fixtures.path("ingest_config.json"), store)
    Ingestion.ingestRouted(spark, s"$dir/drop_DS_1.csv",
      Fixtures.path("ingest_config.json"), store)
    // the reference Lambda put_items one file and leaves other views
    // alone; a static overwrite would have truncated the ENROL data
    val enrol = NestedStore.flatten(
      spark.read.parquet(s"$store/project=p1/Folder=f1"))
    assert(enrol.count() == 1, "first ingested view must survive the second ingest")
    assert(NestedStore.flatten(spark.read.parquet(s"$store/project=p1/Folder=f9")).count() == 1)
  }

  test("readStudy over a file: URI equals the plain-path read") {
    val plain = ConfigReader.readStudy(spark, "fixtures/clinical_study")
    val uri = java.nio.file.Paths.get("fixtures/clinical_study").toAbsolutePath
      .toUri.toString.stripSuffix("/")
    assert(uri.startsWith("file:"), uri)
    assert(ConfigReader.readStudy(spark, uri) == plain)
    // the tables/ listing is part of what is compared
    assert(plain.analytes.map(_.decisionTables.size).sum == 4)
  }

  test("sas7bdat scan reports its file to input_file_name(); ingest stores view 'graft'") {
    import graft.io.Ingestion
    val f = "fixtures/sas/graft_fixture.sas7bdat"
    val names = spark.read.format("sas7bdat").load(f)
      .select(input_file_name()).distinct().collect().map(_.getString(0)).toSeq
    assert(names.length == 1 && names.head.startsWith("file:") &&
      names.head.endsWith("/graft_fixture.sas7bdat"), names)
    // so the file metadata needs no fallback: every row names the file
    val md = Ingestion.withFileMetadata(Ingestion.readFile(spark, f))
      .select("source_file", "view_id").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(md == Seq(("graft_fixture.sas7bdat", "graft")))
    val store = Files.createTempDirectory("graft_ingest_sas").toString + "/store"
    Ingestion.ingestFile(spark, f, "view_id", "source_file", store)
    val back = NestedStore.flatten(spark.read.parquet(store))
    assert(back.count() == 100)
    assert(back.select("view_id", "source_file").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("graft", "graft_fixture.sas7bdat")))
  }

  test("ORC roundtrip is lossless and the scan takes pushed filters + pruned columns") {
    val dir = Files.createTempDirectory("graft_orc").toString
    val src = Seq((1L, "alpha", 3.5), (2L, "beta", -1.0), (3L, "gamma", 0.0))
      .toDF("id", "name", "score")
    Export.writeOrc(src, dir)
    val back = Export.readOrc(spark, dir, src.schema)
    // names + types, not nullability: file sources are nullable-on-read
    assert(back.schema.map(f => (f.name, f.dataType)) == src.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy("id").collect().toSeq == src.orderBy("id").collect().toSeq)
    // predicate pushdown + column pruning must reach the ORC scan —
    // the reason this sink earns its place in the 100 TB surface
    val scan = back.where(col("id") === 2L).select("name")
      .queryExecution.executedPlan.treeString
    assert(scan.contains("PushedFilters: [IsNotNull(id), EqualTo(id,2)]"), scan)
    assert(scan.contains("ReadSchema: struct<id:bigint,name:string>"), scan)
  }

  test("compaction collapses micro-batch appends to one file per partition, rows intact") {
    val dir = Files.createTempDirectory("graft_compact").toString
    // simulate 4 micro-batch appends -> 4 files per touched partition
    (0 until 4).foreach { b =>
      Seq(("s1", "v1", s"a$b"), ("s1", "v2", s"b$b"), ("s2", "v1", s"c$b"))
        .toDF("study_code", "view", "x")
        .repartition(1)
        .write.mode("append").partitionBy("study_code", "view").parquet(dir)
    }
    val wanted = spark.read.parquet(dir).orderBy("x").collect().toSeq
    val stats = NestedStore.compact(spark, dir, Seq("study_code", "view"))
    assert(stats.filesBefore == 12, s"expected 4 appends x 3 partitions, got $stats")
    assert(stats.filesAfter == 3, s"expected one file per partition, got $stats")
    assert(new java.io.File(s"$dir/study_code=s1/view=v2").exists(), "partition layout preserved")
    assert(spark.read.parquet(dir).orderBy("x").collect().toSeq == wanted, "rows must be identical")
    // pruning still works on the compacted store
    val scan = spark.read.parquet(dir).where(col("study_code") === "s1")
      .queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("study_code"), scan)
  }

  test("compact recovers a crash between the stage-out and swap-in renames") {
    val dir = Files.createTempDirectory("graft_compact_crash").toString + "/store"
    Seq(("s1", "v1", 1L), ("s1", "v1", 2L)).toDF("study_code", "view", "x")
      .write.partitionBy("study_code", "view").parquet(dir)
    val wanted = spark.read.parquet(dir).orderBy("x").collect().toSeq
    // simulate death AFTER rename(path -> __precompact) but BEFORE
    // rename(tmp -> path): the only copy of the data sits at
    // __precompact, the store path is gone, and a stale tmp remains
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "__precompact")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir + "__compacting"))
    // a re-run must restore the staged-out store FIRST (deleting
    // __precompact before restoring would destroy the sole copy), then
    // complete a normal compaction
    val stats = NestedStore.compact(spark, dir)
    assert(spark.read.parquet(dir).orderBy("x").collect().toSeq == wanted,
      "rows must survive crash-window recovery")
    assert(stats.filesAfter >= 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "__precompact")))
  }

  test("time-range layout: window scans skip files via footer stats") {
    import java.sql.Timestamp
    val dir = Files.createTempDirectory("graft_events").toString
    val events = (0 until 10000).map { i =>
      (i.toLong, Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 10:00:${i % 60}%02d"), i * 1.0)
    }.toDF("event_id", "ts", "value")
    graft.io.EventStore.writeTimeLayout(events, dir, "ts", buckets = 8)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet")) == 8)

    val window = graft.io.EventStore.readWindow(spark, dir, "ts",
      "2024-01-02 00:00:00", "2024-01-03 00:00:00")
    val expected = events.where(col("ts") >= "2024-01-02" && col("ts") < "2024-01-03")
    assert(window.count() == expected.count())
    // the ts predicate must reach the parquet scan as PushedFilters
    val plan = window.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(ts"), plan)
    // and the footer stats must actually skip: the scan node emits far
    // fewer rows than the table holds (whole files/row groups pruned)
    window.collect()
    val scanned = window.queryExecution.executedPlan.collectLeaves()
      .map(_.metrics("numOutputRows").value).sum
    assert(scanned < 3000, s"range layout should prune most of the 10000 rows, scanned $scanned")
  }

  test("zkey interleaves bits at closed-form positions") {
    val r = spark.range(1)
      .select(
        graft.io.ZOrder.zkey(Seq(lit(1L), lit(0L))).as("a"),
        graft.io.ZOrder.zkey(Seq(lit(0L), lit(1L))).as("b"),
        graft.io.ZOrder.zkey(Seq(lit(3L), lit(5L))).as("c"))
      .collect().head
    assert(r.getLong(0) == 1L)  // x bit0 → global bit 0
    assert(r.getLong(1) == 2L)  // y bit0 → global bit 1
    // x=3 (bits 0,1 → global 0,2 = 5) ; y=5 (bits 0,2 → global 1,5 = 34)
    assert(r.getLong(2) == 39L)
  }

  test("z-order layout: selective filters on EITHER dimension skip files") {
    val dir = Files.createTempDirectory("graft_zorder").toString
    // 100×100 grid: both dimensions uniform, so a single-column sort
    // could serve only one of the two filters below
    val df = spark.range(100L * 100L)
      .selectExpr("id % 100 AS x", "id div 100 AS y", "id AS payload")
    graft.io.ZOrder.writeZOrderLayout(df, dir, Seq("x", "y"), buckets = 16)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet")) == 16)

    def scannedAt(dir: String)(filter: org.apache.spark.sql.Column): (Long, Long) = {
      val q = spark.read.parquet(dir).where(filter)
      val rows = q.collect().length.toLong
      val scanned = q.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics("numOutputRows").value).sum
      (rows, scanned)
    }
    val (xRows, xScanned) = scannedAt(dir)(col("x") >= 10 && col("x") < 20)
    val (yRows, yScanned) = scannedAt(dir)(col("y") >= 10 && col("y") < 20)
    assert(xRows == 1000 && yRows == 1000, "layout must not change results")
    // 16 z-range files tile the grid into rectangles: a 10-wide stripe
    // in EITHER dimension intersects only a strip of them. The bound
    // is ~2× loose vs the ideal 2500 because equal-count range splits
    // don't align exactly to power-of-two z boxes.
    assert(xScanned <= 5500, s"x-stripe scanned $xScanned of 10000 rows — no pruning on x")
    assert(yScanned <= 5500, s"y-stripe scanned $yScanned of 10000 rows — no pruning on y")

    // the baseline that motivates z-order: a single-column sort serves
    // its own column and NOTHING else — the y-stripe reads every file
    val linDir = Files.createTempDirectory("graft_linear").toString
    df.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
      .write.mode("overwrite").parquet(linDir)
    val (_, yLinScanned) = scannedAt(linDir)(col("y") >= 10 && col("y") < 20)
    assert(yLinScanned >= 9000, s"x-sorted layout unexpectedly pruned y: $yLinScanned")
  }

  test("standardized sink: hierarchy, Retention map, 'Null' fill, all-string") {
    val df = Seq(("US", "s01", "alice", Some("2021-01-01")), ("DE", "s02", "bob", None))
      .toDF("country", "site", "subject", "ltfu_date")
    val std = Standardized.toStandardized(df, "STUDY1")
    val flat = Standardized.flattenStandardized(std).orderBy("subject").collect()
    val alice = flat(0)
    assert(alice.getString(0) == "STUDY1")
    assert(alice.getString(1) == "US#s01#alice")
    assert(alice.getAs[String]("ltfu_date") == "2021-01-01")
    assert(alice.getAs[String]("subject_death") == "Null") // absent retention field
    val bob = flat(1)
    assert(bob.getAs[String]("ltfu_date") == "Null") // real null → 'Null' string
  }

  test("standardized sink renders booleans 'True'/'False' like pandas astype(string)") {
    val df = Seq(
      ("US", "s01", "a", java.lang.Boolean.TRUE),
      ("US", "s01", "b", java.lang.Boolean.FALSE),
      ("US", "s01", "c", null.asInstanceOf[java.lang.Boolean])
    ).toDF("country", "site", "subject", "flag")
    val std = Standardized.toStandardized(df, "S", retention = Seq("flag"))
    val flat = Standardized.flattenStandardized(std, retention = Seq("flag"))
      .orderBy("subject").collect()
    assert(flat.map(_.getAs[String]("flag")).toSeq == Seq("True", "False", "Null"))
  }

  test("export flatten applies case-collision renames") {
    val df = Seq(("s1", "v1", "X123", "W2")).toDF("study_code", "view", "SUBJECT", "Visit")
    val out = Export.exportFlatten(NestedStore.nest(df, "study_code", "view"))
    assert(out.columns.contains("Subject_SAS") && out.columns.contains("Visit_ecoA"))
    assert(!out.columns.contains("SUBJECT") && !out.columns.contains("Visit"))
  }

  test("parquet append sink merges evolving schemas") {
    val dir = Files.createTempDirectory("graft_append").toString
    Export.writeParquetAppend(Seq((1, "a")).toDF("id", "s"), dir)
    Export.writeParquetAppend(Seq((2, 9.9)).toDF("id", "d"), dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("d", "id", "s"))
    assert(merged.count() == 2)
  }

  test("s9_parquet_append reads back in write order on every run") {
    // the two appended part files have random names, and the merged
    // schema followed whichever one the listing yielded first; each
    // run deletes the store and writes fresh part files
    val dir = Files.createTempDirectory("graft_s9").toString
    Seq((0L, "AFRICA", "x"), (1L, "AMERICA", "y")).toDF("r_regionkey", "r_name", "r_comment")
      .write.parquet(s"$dir/region.parquet")
    Seq((0L, "ALGERIA", 0L), (1L, "ARGENTINA", 1L), (2L, "BRAZIL", 1L))
      .toDF("n_nationkey", "n_name", "n_regionkey").write.parquet(s"$dir/nation.parquet")
    (1 to 8).foreach { run =>
      val out = SparkEntry.queries("s9_parquet_append")(spark, dir)
      assert(out.columns.toSeq == Seq("r_regionkey", "r_name", "n_nationkey", "n_name"),
        s"run $run: ${out.columns.mkString(", ")}")
      assert(out.count() == 2 + 3)
    }
  }

  test("CSV sink round-trips through the CSV source") {
    val dir = Files.createTempDirectory("graft_csv").toString + "/out"
    Export.writeCsv(Seq(("a", 1), ("b", 2)).toDF("k", "v"), dir)
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.count() == 2)
    assert(back.columns.toSeq == Seq("k", "v"))
  }

  test("Avro roundtrip is lossless on nulls, every supported type, and hostile strings") {
    val dir = Files.createTempDirectory("graft_avro").toString + "/out"
    val df = Seq(
      (1L, Some(1.5), Some(true), Some("plain"), Some(Array[Byte](1, 2, 3))),
      (2L, None, None, Some("quo\"te,\ncomma\tandé"), None),
      (3L, Some(-0.0), Some(false), None, Some(Array.empty[Byte]))
    ).toDF("id", "d", "b", "s", "bin")
    graft.io.Avro.write(df, dir)
    val back = graft.io.Avro.read(spark, dir)
    assert(back.schema.map(f => f.name -> f.dataType.simpleString).toMap ==
      Map("id" -> "bigint", "d" -> "double", "b" -> "boolean",
        "s" -> "string", "bin" -> "binary"))
    val rows = back.orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2) && rows(1).isNullAt(4))
    assert(rows(1).getString(3) == "quo\"te,\ncomma\tandé")
    assert(rows(0).getAs[Array[Byte]]("bin").toSeq == Seq[Byte](1, 2, 3))
    assert(rows(2).getAs[Array[Byte]]("bin").isEmpty && rows(2).isNullAt(3))
    // int columns widen to long through the declared union mapping
    val widened = graft.io.Avro.read(spark, {
      val d2 = Files.createTempDirectory("graft_avro_i").toString + "/out"
      graft.io.Avro.write(Seq((1, 2.0f)).toDF("i", "f"), d2); d2
    })
    assert(widened.schema.map(_.dataType).toSet ==
      Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.DoubleType))
    // distributed write: one container file per partition
    val d3 = Files.createTempDirectory("graft_avro_p").toString + "/out"
    graft.io.Avro.write(spark.range(100).repartition(4).toDF("id"), d3)
    assert(new java.io.File(d3).listFiles().count(_.getName.endsWith(".avro")) == 4)
    assert(graft.io.Avro.read(spark, d3).count() == 100L)
    // unsupported nested types fail loudly, not stringified
    assertThrows[IllegalArgumentException](
      graft.io.Avro.write(Seq((1L, Seq(1, 2))).toDF("id", "arr"), dir))
  }

  test("Avro write round-trips a zero-partition frame and commits only final part files") {
    // emptyRDD has ZERO partitions — zero write tasks run, so the
    // driver must emit a schema-bearing container for read() to accept
    val dir = Files.createTempDirectory("graft_avro_e").toString + "/out"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType)))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    assert(empty.rdd.getNumPartitions == 0)
    graft.io.Avro.write(empty, dir)
    val back = graft.io.Avro.read(spark, dir)
    assert(back.count() == 0L)
    assert(back.columns.toSeq == Seq("id", "s"))
    // task-commit protocol: a finished write leaves only part-*.avro,
    // never an attempt temp
    val d2 = Files.createTempDirectory("graft_avro_c").toString + "/out"
    graft.io.Avro.write(spark.range(10).repartition(3).toDF("id"), d2)
    val names = new java.io.File(d2).listFiles().map(_.getName).toSeq
    // Hadoop's local ChecksumFileSystem adds .crc sidecars; what must
    // NOT survive a finished write is an attempt temp
    assert(names.count(_.matches("part-\\d{5}\\.avro")) == 3, names)
    assert(!names.exists(_.endsWith(".tmp")), names)
    // a task that dies mid-write deletes its attempt temp instead of
    // leaving a torn final part file or a stream lease behind
    val d4 = Files.createTempDirectory("graft_avro_f").toString + "/out"
    val poison = spark.range(10).repartition(2).toDF("id")
      .map { r => if (r.getLong(0) == 7L) sys.error("boom mid-write"); r.getLong(0) }
      .toDF("id")
    assertThrows[org.apache.spark.SparkException](graft.io.Avro.write(poison, d4))
    val after = Option(new java.io.File(d4).listFiles()).map(_.map(_.getName).toSeq).getOrElse(Nil)
    assert(!after.exists(_.endsWith(".tmp")), after)
    // any part file that DID commit (the healthy partition) is a
    // complete, readable container — torn bytes never reach a final name
    if (after.exists(_.endsWith(".avro")))
      graft.io.Avro.read(spark, d4).count() // must not throw
  }

  test("JSONL roundtrip is lossless on hostile strings, nulls, and types") {
    val dir = Files.createTempDirectory("graft_jsonl").toString + "/out"
    val df = Seq[(java.lang.Long, String, java.lang.Double)](
      (1L, "plain", 1.5),
      (2L, "line\nbreak \"quoted\" back\\slash\ttab", 2.5),
      (3L, "unicode: café 日本語 😀", null),
      (4L, null, 4.5)
    ).toDF("id", "text", "score")
    graft.io.Jsonl.write(df, dir)
    val back = graft.io.Jsonl.read(spark, dir, df.schema)
    assert(back.schema == df.schema)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    // null fields are kept in the emitted lines, not dropped
    val lines = spark.read.text(dir).collect().map(_.getString(0))
    assert(lines.exists(l => l.contains("\"score\":null")))
  }

  test("JSONL FAILFAST surfaces corrupt lines as errors") {
    val dir = Files.createTempDirectory("graft_jsonl_bad").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/bad.jsonl"), "{\"id\": 1}\nnot json at all\n")
    val schema = org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType)))
    intercept[org.apache.spark.SparkException] {
      graft.io.Jsonl.read(spark, s"$dir/bad.jsonl", schema).collect()
    }
  }

  test("ingestion routing: substring match + reference special cases + end-to-end ingest") {
    import graft.io.Ingestion
    val cfg = Ingestion.Routing.load(Fixtures.path("ingest_config.json"))
    assert(cfg.targetColumns == Seq("study_code", "view", "data"))
    assert(Ingestion.Routing.route("study1_ENROL_20240101.csv", cfg) ==
      ("ENROL", Seq("project", "Folder")))
    // AE routes to Clinical_View (the reference's intent; its literal
    // 'Clinical_view' lookup is a latent KeyError)
    assert(Ingestion.Routing.route("dump_AE_file.csv", cfg)._1 == "Clinical_View")
    assert(Ingestion.Routing.route("export_SAS_batch.csv", cfg)._1 == "SAS")
    assertThrows[NoSuchElementException](Ingestion.Routing.route("unknown.csv", cfg))

    val dir = Files.createTempDirectory("graft_ingest").toString
    val store = s"$dir/store"
    Files.writeString(java.nio.file.Paths.get(dir, "drop_ENROL_1.csv"),
      "project,Folder,SiteGroup\np1,f1,US\np1,f1,DE\np1,f2,FR\n")
    val view = Ingestion.ingestRouted(spark, s"$dir/drop_ENROL_1.csv",
      Fixtures.path("ingest_config.json"), store)
    assert(view == "ENROL")
    val back = graft.io.NestedStore.flatten(
      spark.read.parquet(s"$store/project=p1/Folder=f1"))
    assert(back.count() == 2)
    assert(back.columns.contains("view_id"))
  }

  test("versioned store: publish, time travel, marker isolation from orphans, vacuum") {
    import graft.io.Versioned
    val dir = Files.createTempDirectory("graft_versioned").toString + "/tbl"
    val a = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val b = Seq((1L, "a2"), (3L, "c")).toDF("id", "v")
    assert(Versioned.latestVersion(spark, dir).isEmpty)
    assert(Versioned.writeVersion(a, dir) == 1L)
    assert(Versioned.writeVersion(b, dir) == 2L)
    assert(Versioned.latestVersion(spark, dir).contains(2L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(Versioned.readLatest(spark, dir)) == rows(b))
    assert(rows(Versioned.readVersion(spark, dir, 1L)) == rows(a)) // time travel
    // crashed-write debris: an orphan v=5 the marker never saw —
    // readers unaffected, next write skips past it
    Files.createDirectories(java.nio.file.Paths.get(dir, "v=5"))
    assert(rows(Versioned.readLatest(spark, dir)) == rows(b))
    assert(Versioned.writeVersion(a, dir) == 6L)
    assert(Versioned.versions(spark, dir) == Seq(1L, 2L, 5L, 6L))
    assert(Versioned.published(spark, dir) == Seq(1L, 2L, 6L)) // orphan never published
    // vacuum keeps the latest 2 published versions; older history AND
    // the orphan are swept, manifest rewritten to the survivors
    assert(Versioned.vacuum(spark, dir, keepLast = 2) == Seq(1L, 5L))
    assert(Versioned.versions(spark, dir) == Seq(2L, 6L))
    assert(Versioned.published(spark, dir) == Seq(2L, 6L))
    assert(rows(Versioned.readLatest(spark, dir)) == rows(a))
    assert(rows(Versioned.readVersion(spark, dir, 2L)) == rows(b))
  }

  test("config reader parses sheets, decision tables, and the study") {
    val study = ConfigReader.readStudy(spark, Fixtures.path("study_demo"))
    assert(study.studyCode == "S001")
    assert(study.stitchKey == "c_custkey")
    assert(study.analytes.map(_.name) == Seq("cust_base", "cust_orders"))
    val base = study.analytes.head
    assert(base.getData.head.columns == Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
    assert(base.decisionTables.contains("SEGMENT_TBL"))
    assert(base.decisionTables("SEGMENT_TBL").mapping.contains("BUILDING" -> "B"))
    assert(base.operations.map(_.opType) ==
      Seq("RENAME COLUMN", "LEFT JOIN", "ADD COLUMN", "DECISION COLUMN", "SELECT COLUMNS"))
  }
}
