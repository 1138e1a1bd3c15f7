package graft

import graft.io.{Ingestion, Sas}

/** The fixture under test was synthesized by tools/make_sas_fixture.py
  * and is only committed after `pd.read_sas` — an independent parser
  * of the same public format — validates every value, so agreement
  * here is real-format compatibility, not self-consistency.
  */
class SasSpec extends SparkSpec {

  private val fixture = "fixtures/sas/graft_fixture.sas7bdat"

  /** The one SAS read path: the DSv2 `sas7bdat` scan. */
  private def sas(f: String) = spark.read.format("sas7bdat").load(f)

  /** The closed-form `(id, val, name)` of fixture row `i`. */
  private def assertBaseRow(r: org.apache.spark.sql.Row, i: Int, ctx: String = ""): Unit =
    assert(r.getDouble(0) == i.toDouble && r.getDouble(1) == i * 0.25 &&
      r.getString(2) == f"row_$i%03d", s"$ctx row $i: $r")

  test("metadata: 64-bit LE header, 3 columns, 100 rows, multi-page") {
    val m = Sas.readMeta(spark, fixture)
    assert(m.u64 && m.littleEndian)
    assert(m.rowCount == 100 && m.rowLength == 24)
    assert(m.pageCount == 3) // 1 meta + 2 data: the page loop is exercised
    assert(m.columns.map(c => (c.name, c.isNumeric)) ==
      Seq(("id", true), ("val", true), ("name", false)))
  }

  test("full read matches the closed-form contents pd.read_sas validated") {
    val df = sas(fixture)
    assert(df.schema.fieldNames.toSeq == Seq("id", "val", "name"))
    val rows = df.collect().sortBy(_.getDouble(0))
    assert(rows.length == 100)
    for ((r, i0) <- rows.zipWithIndex) {
      val i = i0 + 1
      assert(r.getDouble(0) == i.toDouble)
      assert(r.getDouble(1) == i * 0.25)
      assert(r.getString(2) == f"row_$i%03d") // trailing pad stripped
    }
  }

  test("readFile dispatches .sas7bdat to the native reader") {
    assert(Ingestion.readFile(spark, fixture).count() == 100)
  }

  private val rleFixture = "fixtures/sas/graft_fixture_rle.sas7bdat"

  test("RLE metadata: compression detected, 4 columns, rows in meta pages") {
    val m = Sas.readMeta(spark, rleFixture)
    assert(m.compression == Sas.CompressRle)
    assert(m.rowCount == 100 && m.rowLength == 64)
    assert(m.pageCount == 2) // both meta pages carry row subheaders
    assert(m.columns.map(c => (c.name, c.isNumeric)) ==
      Seq(("id", true), ("val", true), ("name", false), ("tag", false)))
  }

  test("RLE read matches the closed-form contents pd.read_sas validated") {
    val df = sas(rleFixture)
    assert(df.schema.fieldNames.toSeq == Seq("id", "val", "name", "tag"))
    val rows = df.collect().sortBy(_.getDouble(0))
    assert(rows.length == 100)
    for ((r, i0) <- rows.zipWithIndex) {
      val i = i0 + 1
      assert(r.getDouble(0) == i.toDouble)
      assert(r.getDouble(1) == i * 0.25)
      assert(r.getString(2) == f"row_$i%03d")
      assert(r.getString(3) == s"tag_$i") // includes the raw (uncompressed) row 60
    }
  }

  private val rdcFixture = "fixtures/sas/graft_fixture_rdc.sas7bdat"

  test("RDC read matches the closed-form contents pd.read_sas validated (incl. back-references)") {
    val m = Sas.readMeta(spark, rdcFixture)
    assert(m.compression == Sas.CompressRdc)
    assert(m.rowCount == 100 && m.rowLength == 88)
    val df = sas(rdcFixture)
    assert(df.schema.fieldNames.toSeq == Seq("id", "val", "name", "pat", "tag"))
    val rows = df.collect().sortBy(_.getDouble(0))
    assert(rows.length == 100)
    for ((r, i0) <- rows.zipWithIndex) {
      val i = i0 + 1
      assert(r.getDouble(0) == i.toDouble)
      assert(r.getDouble(1) == i * 0.25)
      assert(r.getString(2) == f"row_$i%03d")
      assert(r.getString(3) == s"${i % 7}ab" * 8) // back-reference-encoded motif
      assert(r.getString(4) == s"tag_$i")
    }
  }

  test("format matrix: 32-bit LE and 64-bit BE variants parse to the same contents") {
    for ((f, u64, le) <- Seq(
        ("fixtures/sas/graft_fixture_32le.sas7bdat", false, true),
        ("fixtures/sas/graft_fixture_64be.sas7bdat", true, false))) {
      val m = Sas.readMeta(spark, f)
      assert(m.u64 == u64 && m.littleEndian == le, f)
      assert(m.rowCount == 100 && m.rowLength == 24, f)
      val rows = sas(f).collect().sortBy(_.getDouble(0))
      assert(rows.length == 100, f)
      for ((r, i0) <- rows.zipWithIndex) assertBaseRow(r, i0 + 1, f)
    }
  }

  test("DSv2 source: format(\"sas7bdat\") reads all variants; column pruning reaches the page parser") {
    for (f <- Seq(fixture, rleFixture, rdcFixture)) {
      val df = spark.read.format("sas7bdat").load(f)
      assert(df.count() == 100, f)
      // pruned projection: only the selected columns are decoded —
      // the scan's description carries the pushed column set
      val pruned = df.select("id")
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("cols=id") && !plan.contains("cols=id,"),
        s"$f: pruned scan should decode only 'id':\n$plan")
      assert(pruned.collect().map(_.getDouble(0)).sorted.sameElements((1 to 100).map(_.toDouble)), f)
    }
    // a pruned read decodes the right slices: (id, tag) is closed-form
    assert(sas(rleFixture).select("id", "tag").collect()
      .map(r => (r.getDouble(0), r.getString(1))).sortBy(_._1).toSeq ==
      (1 to 100).map(i => (i.toDouble, s"tag_$i")))
  }

  test("mix page: inline rows after the metadata subheaders parse with the alignment clamp") {
    val f = "fixtures/sas/graft_fixture_mix.sas7bdat"
    val m = Sas.readMeta(spark, f)
    assert(m.mixPageRowCount == 40 && m.rowCount == 100)
    val rows = sas(f).collect().sortBy(_.getDouble(0))
    assert(rows.length == 100)
    for ((r, i0) <- rows.zipWithIndex) assertBaseRow(r, i0 + 1)
  }

  test("windows-1252 encoding: non-ASCII characters decode per the header's charset") {
    val f = "fixtures/sas/graft_fixture_w1252.sas7bdat"
    assert(Sas.readMeta(spark, f).encoding == "windows-1252")
    val rows = sas(f).collect().sortBy(_.getDouble(0))
    assert(rows.length == 100)
    for ((r, i0) <- rows.zipWithIndex) {
      val i = i0 + 1
      assert(r.getString(2) == f"é$i%02dü°", s"row $i got '${r.getString(2)}'")
    }
  }

  test("stale trailing row subheaders truncate at row_count, like pd.read_sas") {
    // fixture carries 105 row subheaders but declares row_count=100;
    // pd.read_sas returns exactly the first 100 (validated at
    // generation) — the census must truncate the scan there
    val rows = sas("fixtures/sas/graft_fixture_rle_stale.sas7bdat").collect().sortBy(_.getDouble(0))
    assert(rows.length == 100)
    for ((r, i0) <- rows.zipWithIndex) assertBaseRow(r, i0 + 1)
  }

  test("stale trailing INLINE rows on an uncompressed file truncate at row_count too") {
    // the uncompressed twin of the census: the last data page's u16
    // block count covers 10 stale rows (ids 9001..9010) past the
    // declared row_count=100; pd.read_sas returns exactly the first
    // 100 (validated at generation)
    val rows = sas("fixtures/sas/graft_fixture_plain_stale.sas7bdat").collect().sortBy(_.getDouble(0))
    assert(rows.length == 100)
    for ((r, i0) <- rows.zipWithIndex) assertBaseRow(r, i0 + 1)
  }

  test("census runs once per file: repeated reads and DSv2 re-loads hit the driver cache") {
    // compressed file: an uncached census re-reads the WHOLE file per
    // read (2x I/O) — the cache must make it once per (path, mtime,
    // length), across separate loads (each load builds a new table)
    sas(rleFixture).count() // warm (may or may not be the first census)
    val before = Sas.censusRuns.get()
    sas(rleFixture).count()
    sas(rleFixture).count()
    sas(rleFixture).select("id").count()
    assert(Sas.censusRuns.get() == before,
      s"census re-ran ${Sas.censusRuns.get() - before} times on a cached file")
    // the cache keys on the file identity, so the stale fixture (a
    // different path) still pays — and still truncates — its own census
    val staleBefore = Sas.censusRuns.get()
    assert(sas("fixtures/sas/graft_fixture_rle_stale.sas7bdat").count() == 100)
    assert(Sas.censusRuns.get() <= staleBefore + 1)
  }

  test("census cache: a same-(mtime,length) in-place rewrite still invalidates via the metadata fingerprint") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    // the ADVICE r13 hazard: second-granularity filesystems can land a
    // rewrite on the same (mtime, length) — the CRC of the bytes
    // readMeta actually reads must then be what invalidates
    val fp1 = Sas.readMeta(spark, rleFixture).metaFingerprint
    assert(fp1 != 0L && fp1 == Sas.readMeta(spark, rleFixture).metaFingerprint,
      "fingerprint must be deterministic and non-trivial")
    assert(fp1 != Sas.readMeta(spark, fixture).metaFingerprint,
      "different files must fingerprint differently")

    val tmp = Files.createTempFile("graft_sas_fp_", ".sas7bdat")
    try {
      val pinned = FileTime.fromMillis(1700000000000L)
      Files.copy(Paths.get(rleFixture), tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(tmp, pinned)
      sas(tmp.toString).count()
      val n1 = Sas.censusRuns.get()
      sas(tmp.toString).count() // cached: same path/mtime/len/fingerprint
      assert(Sas.censusRuns.get() == n1)
      // rewrite IN PLACE: flip a byte in the header's dataset-name
      // region (offset 100 — read by readMeta's 288-byte header read,
      // ignored by every parsed field), restore the pinned mtime; the
      // length is unchanged, so only the fingerprint can notice
      val bytes = Files.readAllBytes(Paths.get(rleFixture))
      bytes(100) = (bytes(100) ^ 0x5A).toByte
      Files.write(tmp, bytes)
      Files.setLastModifiedTime(tmp, pinned)
      assert(Files.size(tmp) == Files.size(Paths.get(rleFixture)))
      sas(tmp.toString).count()
      assert(Sas.censusRuns.get() == n1 + 1,
        "same-(path,mtime,length) rewrite must re-run the census via the fingerprint")
    } finally Files.deleteIfExists(tmp)
  }

  test("DSv2: a user-pinned schema is validated — match reads, mismatch fails loudly") {
    import org.apache.spark.sql.types._
    val fileSchema = Sas.readMeta(spark, fixture).schema
    // exact pin: honored
    assert(spark.read.format("sas7bdat").schema(fileSchema).load(fixture).count() == 100)
    // divergent pin (wrong type for id): loud failure, not a silent
    // read under the file's real schema
    val bad = StructType(fileSchema.fields.map {
      case f if f.name == "id" => f.copy(dataType = StringType)
      case f => f
    })
    val ex = intercept[IllegalArgumentException] {
      spark.read.format("sas7bdat").schema(bad).load(fixture).count()
    }
    assert(ex.getMessage.contains("does not match"), ex.getMessage)
  }

  test("non-SAS bytes fail loudly on the magic check") {
    val ex = intercept[IllegalArgumentException] {
      Sas.readMeta(spark, "/root/testdata/sf0.001/region.parquet")
    }
    assert(ex.getMessage.contains("magic"))
  }
}
