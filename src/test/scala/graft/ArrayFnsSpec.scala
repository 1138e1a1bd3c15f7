package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Native
import graft.llm.Similarity

class ArrayFnsSpec extends SparkSpec {
  import spark.implicits._

  test("graft_gram_hashes: rolling == direct per-window hash; shared substrings collide exactly") {
    def hashes(s: String, k: Int): Seq[Long] =
      Seq(Tuple1(s)).toDF("t")
        .select(Native.gramHashes(col("t"), k).as("h"))
        .collect().head.getSeq[Long](0)
    // The rolling update must reproduce the non-rolling path: roll()
    // computes its FIRST window by direct accumulation, so hashing
    // each k-window in isolation is an independent reference for
    // every rolled position (no pinned literals — the scheme, not the
    // constants, is the contract).
    def direct(s: String, k: Int): Seq[Long] = {
      val cps = s.codePoints().toArray
      cps.sliding(k).filter(_.length == k).toSeq
        .map(w => graft.functions.GramHashes.roll(w, k).head)
    }
    for ((s, k) <- Seq(("abcdef", 3), ("aaaaaaaaaa", 4), ("déjàvu déjà", 3)))
      assert(hashes(s, k) == direct(s, k), s"rolling != direct for ($s, $k)")
    assert(hashes("ab", 3).isEmpty)         // shorter than k → empty, not error
    // the property the dedup family rests on: equal substrings hash
    // equal at ANY position (position-independent by construction)
    val h1 = hashes("xxHELLOWORLDyy", 5)
    val h2 = hashes("qqqHELLOWORLDzz", 5)
    assert((2 until 8).map(h1) == (3 until 9).map(h2))
    // distinct windows of periodic text must NOT collide (the
    // structured-collision class a single fixed-base polynomial is
    // weak to): all distinct 6-grams of a period-3 string hash apart
    val periodic = "abcabcabcabcabcabc"
    val hp = hashes(periodic, 6)
    val windows = periodic.sliding(6).toSeq
    assert(windows.zip(hp).toMap.values.toSet.size == windows.distinct.size)
    // code-point alignment (substr semantics), not byte alignment
    assert(hashes("déjàvu", 3).length == 4)
  }

  test("gram-hash registration is scoped: kgramPositions leaves no temp functions behind") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val fresh = spark.newSession()
    val reg = fresh.sessionState.functionRegistry
    assert(!reg.functionExists(FunctionIdentifier("graft_gram_hashes")))
    import fresh.implicits._
    val df = Seq((1L, "hello world hello"), (2L, "hello world again")).toDF("id", "text")
    val pos = graft.llm.Dedup.kgramPositions("id", "text", 5)(df)
    assert(!reg.functionExists(FunctionIdentifier("graft_gram_hashes")),
      "library operator must not install temp functions in the caller's session")
    assert(pos.count() > 0) // the resolved plan still executes after the drop
    // the Column-returning APIs, built and run with the fresh session
    // active, leave its registry without a single graft_* function
    SparkSession.setActiveSession(fresh)
    try {
      val (in, cases) = nativeCases(fresh)
      in.select(cases.flatMap { case (_, nat, ref) => Seq(nat, ref) }: _*).collect()
    } finally SparkSession.setActiveSession(spark)
    val graftFns = reg.listFunction().map(_.funcName).filter(_.startsWith("graft_"))
    assert(graftFns.isEmpty, s"graft functions registered: $graftFns")
  }

  /** One input row in session `s`, and every Column-returning native
    * API over it next to its parity reference.
    */
  private def nativeCases(s: SparkSession)
      : (DataFrame, Seq[(String, Column, Column)]) = {
    import graft.llm.{Dedup, Ivf, QualityProbe}
    val v = Seq(0.5, -1.0, 2.0)
    val in = s.createDataFrame(Seq(("the cat the hat sat on the mat",
      (1 to 8).map(_ * 7919L), v, Seq(1.5, 0.25, -3.0)))).toDF("t", "sig", "v", "w")
    val planes = Similarity.hyperplanes(3, 6)
    val bucketRef = planes.zipWithIndex.map { case (pl, p) =>
      if (v.zip(pl).map { case (x, y) => x * y }.sum > 0) 1L << p else 0L
    }.reduce(_ | _)
    val model = Ivf.IvfModel(Array(Array(0.0, 0.0, 0.0), Array(1.0, -1.0, 2.0),
      Array(-5.0, 5.0, 0.0), Array(0.5, -0.5, 1.5)))
    val cellsRef = model.centroids.indices.sortBy { c =>
      (v.zip(model.centroids(c)).map { case (x, y) => (x - y) * (x - y) }.sum, c)
    }.take(2)
    (in, Seq(
      ("shinglesOf", Dedup.shinglesOf(col("t"), 3), ParityRefs.shinglesOfHof(col("t"), 3)),
      ("bandHashes", Dedup.bandHashes(col("sig"), 8, 4), ParityRefs.bandHashesHof(col("sig"), 8, 4)),
      ("markerCount", QualityProbe.markerCount("t", "the"), ParityRefs.markerCountHof("t", "the")),
      ("lshBucket", Similarity.lshBucket(col("v"), planes), lit(bucketRef)),
      ("probeCentroids", Ivf.probeCentroids(col("v"), model, 2), typedLit(cellsRef)),
      ("dot", Native.dot(col("v"), col("w")), Similarity.dot(col("v"), col("w"))),
      ("cosine", Native.cosine(col("v"), col("w")), Similarity.cosine(col("v"), col("w")))))
  }

  test("native Columns resolve over a DataFrame of a session that is not the active one") {
    val other = spark.newSession()
    SparkSession.setActiveSession(spark)
    val (in, cases) = nativeCases(other)
    cases.foreach { case (name, nat, ref) =>
      val r = in.select(nat, ref).collect()(0)
      assert(r.get(0) == r.get(1), s"$name: native ${r.get(0)} != reference ${r.get(1)}")
    }
  }

  test("native Columns built with no session at all plan the native expressions") {
    import org.apache.spark.sql.catalyst.expressions.LambdaFunction
    import graft.functions.{BandHashes, MarkerCount, WordShingles}
    val active = SparkSession.getActiveSession
    val default = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val sh = graft.llm.Dedup.shinglesOf(col("t"), 3)
      val bands = graft.llm.Dedup.bandHashes(col("sig"), 8, 4)
      val marks = graft.llm.QualityProbe.markerCount("t", "the")
      val (in, _) = nativeCases(spark)
      val plan = in.select(sh, bands, marks).queryExecution.analyzed
      def has(p: org.apache.spark.sql.catalyst.expressions.Expression => Boolean) =
        plan.expressions.exists(_.find(p).isDefined)
      assert(has(_.isInstanceOf[WordShingles]), plan.toString)
      assert(has(_.isInstanceOf[BandHashes]), plan.toString)
      assert(has(_.isInstanceOf[MarkerCount]), plan.toString)
      assert(!has(_.isInstanceOf[LambdaFunction]), plan.toString)
    } finally {
      active.foreach(SparkSession.setActiveSession)
      default.foreach(SparkSession.setDefaultSession)
    }
  }

  test("native dot/cosine match the composed zip_with form bit-exactly") {
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.1, -0.2, 0.3), Array(-0.4, 0.5, 0.6))
    ).toDF("a", "b")
    val r = df.select(
      Native.dot(col("a"), col("b")).as("dn"),
      Similarity.dot(col("a"), col("b")).as("dc"),
      Native.cosine(col("a"), col("b")).as("cn"),
      Similarity.cosine(col("a"), col("b")).as("cc")).collect()
    r.foreach { row =>
      assert(row.getDouble(0) == row.getDouble(1)) // exact, not approx
      assert(row.getDouble(2) == row.getDouble(3))
    }
  }

  test("null array → null result; null elements contribute zero") {
    val df = Seq(
      (Some(Seq(Some(1.0), None, Some(3.0))), Some(Seq(Some(2.0), Some(9.0), Some(1.0)))),
      (None, Some(Seq(Some(1.0))))
    ).toDF("a", "b")
    val r = df.select(Native.dot(col("a"), col("b"))).collect()
    assert(r(0).getDouble(0) == 1.0 * 2.0 + 3.0 * 1.0)
    assert(r(1).isNullAt(0))
  }

  test("mismatched lengths are null — matching the composed form's padding-null poisoning") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(10.0))).toDF("a", "b")
    val r = df.select(
      Native.dot(col("a"), col("b")).as("dn"),
      Similarity.dot(col("a"), col("b")).as("dc"),
      Native.cosine(col("a"), col("b")).as("cn")).collect()(0)
    assert(r.isNullAt(0), "native dot should be null on length mismatch")
    assert(r.isNullAt(1), "composed dot is null on length mismatch (zip_with pads nulls)")
    assert(r.isNullAt(2), "native cosine should be null on length mismatch")
  }

  test("graft_dot_int matches the composed int-code form exactly, incl. null edges") {
    // realistic int8 code range plus extremes; equal lengths
    val df = Seq(
      (Array(1, -2, 127), Array(-127, 5, 6)),
      (Array(0, 0, 0), Array(127, -127, 127)),
      (Array(-127, -127, -127), Array(-127, -127, -127))
    ).toDF("a", "b")
    val r = df.select(
      Native.dotInt(col("a"), col("b")).as("n"),
      ParityRefs.idotHof(col("a"), col("b")).as("h")).collect()
    r.foreach(row => assert(row.getLong(0) == row.getLong(1)))
    // length mismatch → null on BOTH forms (zip_with pads nulls)
    val mm = Seq((Array(1, 2, 3), Array(10))).toDF("a", "b")
      .select(Native.dotInt(col("a"), col("b")).as("n"),
        ParityRefs.idotHof(col("a"), col("b")).as("h")).collect()(0)
    assert(mm.isNullAt(0) && mm.isNullAt(1))
    // null element → null on BOTH forms (product null poisons the fold)
    val ne = Seq((Some(Seq(Some(1), None)), Some(Seq(Some(2), Some(3))))).toDF("a", "b")
      .select(Native.dotInt(col("a"), col("b")).as("n"),
        ParityRefs.idotHof(col("a"), col("b")).as("h")).collect()(0)
    assert(ne.isNullAt(0) && ne.isNullAt(1))
    // null array → null
    val na = Seq((Option.empty[Seq[Int]], Some(Seq(1)))).toDF("a", "b")
      .select(Native.dotInt(col("a"), col("b"))).collect()(0)
    assert(na.isNullAt(0))
  }

  test("graft_int8_quant matches the composed maxAbsScale+int8Codes pair exactly") {
    val df = Seq(
      Some(Seq(0.5, -1.0, 0.25, 1.0)),     // clean symmetric case
      Some(Seq(-3.5, 2.25, 0.0)),          // negative max-abs
      Some(Seq(0.0, 0.0)),                 // zero vector -> scale 0, codes 0
      Some(Seq(-0.0)),                     // negative zero scale edge
      Some(Seq(42.0)),                     // single element -> code 127
      Some(Seq.empty[Double]),             // empty -> null scale, empty codes
      None                                  // null vector -> null struct fields
    ).toDF("v")
    val qz = Native.int8Quant(col("v"))
    val r = df.select(
      qz.getField("scale").as("ns"), qz.getField("codes").as("nc"),
      graft.llm.Quantize.maxAbsScale(col("v")).as("hs"),
      graft.llm.Quantize.int8Codes(col("v"),
        graft.llm.Quantize.maxAbsScale(col("v"))).as("hc")).collect()
    r.foreach { row =>
      assert((row.isNullAt(0) && row.isNullAt(2)) ||
        row.getDouble(0) == row.getDouble(2), s"scale: $row")
      assert((row.isNullAt(1) && row.isNullAt(3)) ||
        row.getSeq[Int](1) == row.getSeq[Int](3), s"codes: $row")
    }
  }

  test("interpreted eval path (outside codegen) agrees") {
    import graft.functions.DotProduct
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val lit1 = Literal.create(ArrayData.toArrayData(Array(1.0, 2.0)), ArrayType(DoubleType))
    val lit2 = Literal.create(ArrayData.toArrayData(Array(3.0, 4.0)), ArrayType(DoubleType))
    assert(DotProduct(lit1, lit2).eval(null) == 11.0)
  }

  test("wrong input types fail analysis with a clear message") {
    val df = Seq(("x", "y")).toDF("a", "b")
    val e = intercept[Exception](df.select(Native.dot(col("a"), col("b"))).schema)
    assert(e.getMessage.toLowerCase.contains("graft_dot") ||
      e.getMessage.toLowerCase.contains("array"), e.getMessage)
  }
}
