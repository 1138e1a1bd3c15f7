package graft

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.llm.Dedup
import graft.ops.Ops

/** Generative properties for the pure translation/derivation logic. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def checkProp(p: Prop, minTests: Int = 100): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(minTests), p)
    assert(r.passed, r.status.toString)
  }

  test("property: translated strftime patterns format/parse dates consistently with java.time") {
    val fmts = Gen.oneOf("%Y-%m-%d", "%d-%m-%Y %H:%M", "%Y/%m/%d %H:%M:%S", "%d.%m.%y")
    val dates = for {
      y <- Gen.chooseNum(1990, 2035); m <- Gen.chooseNum(1, 12); d <- Gen.chooseNum(1, 28)
      h <- Gen.chooseNum(0, 23); mi <- Gen.chooseNum(0, 59)
    } yield LocalDateTime.of(y, m, d, h, mi, 7)
    checkProp(Prop.forAll(fmts, dates) { (fmt, dt) =>
      val java = DateTimeFormatter.ofPattern(Ops.strftimeToJava(fmt))
      val s = dt.format(java)
      // format ∘ parse ∘ format is stable: the translated pattern
      // parses its own output back to the same rendering
      java.format(java.parse(s)) == s
    })
  }

  test("property: shingle count is max(1, n_tokens - k + 1)") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "x1", "y2")
    val texts = Gen.chooseNum(1, 30).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    checkProp(Prop.forAllNoShrink(Gen.listOfN(20, texts), Gen.chooseNum(2, 5)) { (ts, k) =>
      val df = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val counts = df.select(col("text"), size(Dedup.shingles("text", k)).as("n"))
        .collect().map(r => (r.getString(0), r.getInt(1)))
      counts.forall { case (t, n) =>
        val tokens = t.split(" ").length
        n == math.max(1, tokens - k + 1)
      }
    })
  }

  test("property: native dot product equals the composed form on random arrays (incl. unequal lengths)") {
    val arr = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1e6, 1e6).map(x => math.rint(x) / 64.0)))
    checkProp(Prop.forAllNoShrink(Gen.listOfN(8, Gen.zip(arr, arr))) { pairs =>
      val df = pairs.map { case (a, b) => (a.toArray, b.toArray) }.toDF("a", "b")
      val rows = df.select(
        graft.functions.Native.dot(col("a"), col("b")).as("n"),
        graft.llm.Similarity.dot(col("a"), col("b")).as("c")).collect()
      rows.forall { r =>
        (r.isNullAt(0) && r.isNullAt(1)) ||
          (!r.isNullAt(0) && !r.isNullAt(1) && r.getDouble(0) == r.getDouble(1))
      }
    })
  }

  test("property: asofJoinBackward matches a plain-Scala nearest-preceding reference on random data") {
    val rows = Gen.chooseNum(0, 25)
    val key = Gen.chooseNum(1L, 4L)
    val time = Gen.chooseNum(0L, 50L)
    val leftGen = rows.flatMap(n => Gen.listOfN(n, Gen.zip(key, time)))
    // right times de-duplicated per key (ties among right rows are
    // declared ambiguous in the operator contract)
    val rightGen = rows.flatMap(n => Gen.listOfN(n, Gen.zip(key, time)))
      .map(_.distinct.groupBy(identity).keys.toList)
    checkProp(Prop.forAllNoShrink(leftGen, rightGen) { (ls, rs) =>
      val left = ls.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("lid", "k", "t")
      val right = rs.zipWithIndex.map { case ((k, t), i) => (i.toLong + 1000, k, t) }
        .toDF("rid", "k", "rt")
      val got = graft.ops.AsOf
        .asofJoinBackward(left, right, Seq("k"), "t", "rt", Seq("rid"))
        .collect().map(r => (r.getLong(0), Option(r.getAs[java.lang.Long]("asof_rid")).map(_.toLong)))
        .toMap
      val expected = ls.zipWithIndex.map { case ((k, t), i) =>
        val candidates = rs.zipWithIndex.filter { case ((rk, rt), _) => rk == k && rt <= t }
        // latest preceding; right times are unique per key so argmax is total
        i.toLong -> candidates.sortBy(_._1._2).lastOption.map(_._2.toLong + 1000)
      }.toMap
      got == expected
    })
  }

  test("property: bucketedRangeJoin equals the theta join for random points/intervals/bucket widths") {
    val key = Gen.chooseNum(1L, 3L)
    val time = Gen.chooseNum(0L, 120L)
    val pointsGen = Gen.chooseNum(0, 20).flatMap(n => Gen.listOfN(n, Gen.zip(key, time)))
    val intervalsGen = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.zip(key, time, Gen.chooseNum(0L, 40L))))
    val bucketGen = Gen.oneOf(1L, 7L, 60L, 1000L)
    checkProp(Prop.forAllNoShrink(pointsGen, intervalsGen, bucketGen) { (ps, is, bucketSec) =>
      def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
      val points = ps.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, ts(t)) }
        .toDF("pid", "k", "t")
      val intervals = is.zipWithIndex.map { case ((k, s, len), i) =>
        (i.toLong + 500, k, ts(s), ts(s + len)) }.toDF("iid", "k", "s", "e")
      val got = graft.ops.RangeJoin
        .bucketedRangeJoin(points, intervals, Seq("k"), "t", "s", "e", bucketSec * 1000000L)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val expected = (for {
        ((pk, pt), pi) <- ps.zipWithIndex
        ((ik, s, len), ii) <- is.zipWithIndex
        if pk == ik && pt >= s && pt <= s + len
      } yield (pi.toLong, ii.toLong + 500)).sorted
      got == expected
    })
  }

  test("property: overlapJoin equals the theta overlap join for random interval sets") {
    val time = Gen.chooseNum(0L, 120L)
    val span = Gen.chooseNum(0L, 40L)
    val sideGen = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, Gen.zip(time, span)))
    val bucketGen = Gen.oneOf(1L, 7L, 60L, 1000L)
    checkProp(Prop.forAllNoShrink(sideGen, sideGen, bucketGen) { (ls, rs, bucketSec) =>
      def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
      val a = ls.zipWithIndex.map { case ((s, len), i) => (i.toLong, ts(s), ts(s + len)) }
        .toDF("aid", "sa", "ea")
      val b = rs.zipWithIndex.map { case ((s, len), i) => (i.toLong + 500, ts(s), ts(s + len)) }
        .toDF("bid", "sb", "eb")
      val got = graft.ops.RangeJoin.overlapJoin(a, b, Seq.empty,
        "sa", "ea", "sb", "eb", Seq("aid"), Seq("bid"), bucketSec * 1000000L)
        .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val expected = (for {
        ((s1, l1), i1) <- ls.zipWithIndex
        ((s2, l2), i2) <- rs.zipWithIndex
        if s1 <= s2 + l2 && s2 <= s1 + l1
      } yield (i1.toLong, i2.toLong + 500)).sorted
      got == expected
    })
  }

  test("property: nearDupClusters matches a plain-Scala union-find on random pair graphs") {
    val node = Gen.chooseNum(0L, 25L)
    val pairsGen = Gen.chooseNum(1, 30).flatMap(n => Gen.listOfN(n, Gen.zip(node, node)))
    val p = Prop.forAllNoShrink(pairsGen) { ps0 =>
      val ps = ps0.filter { case (a, b) => a != b }
      ps.isEmpty || {
        val got = Dedup.nearDupClusters(ps.toDF("id_a", "id_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // reference: driver union-find with min-id labels
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        ps.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = parent.keys.map(v => v -> find(v)).toMap
        got == expected
      }
    }
    // fewer cases: each check runs a full distributed fixpoint
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), p)
    assert(r.passed, r.status.toString)
  }

  test("property: pageRankFp equals the plain-Scala integer recurrence on random graphs") {
    val node = Gen.chooseNum(0L, 12L)
    val edgesGen = Gen.chooseNum(1, 20).flatMap(n =>
      Gen.listOfN(n, Gen.zip(node, node, Gen.chooseNum(1L, 5L))))
    val p = Prop.forAllNoShrink(edgesGen, Gen.chooseNum(1, 4)) { (es0, iters) =>
      val es = es0.groupBy(e => (e._1, e._2)).map { case ((s, d), g) =>
        (s, d, g.map(_._3).sum) }.toSeq
      val got = graft.ops.Graph.pageRankFp(es.toDF("src", "dst", "weight"), iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference: the same exact long recurrence, driver-side
      val scale = 1000000000L
      val verts = es.flatMap(e => Seq(e._1, e._2)).distinct
      val outW = es.groupBy(_._1).map { case (s, g) => s -> g.map(_._3).sum }
      val base = (scale * 3L) / 20L
      var ranks = verts.map(_ -> scale).toMap
      (1 to iters).foreach { _ =>
        val in = es.groupBy(_._2).map { case (d, g) =>
          d -> g.map(e => (ranks(e._1) * 17L * e._3) / (20L * outW(e._1))).sum }
        ranks = verts.map(v => v -> (base + in.getOrElse(v, 0L))).toMap
      }
      got == ranks
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), p)
    assert(r.passed, r.status.toString)
  }

  test("property: hashPairs recovers col#fn lists through parseLenient under either separator") {
    import graft.parse.KvList
    val ident = Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val fn = Gen.oneOf("min", "max", "sum", "count", "mean", "first", "last")
    val pairsGen = Gen.chooseNum(1, 5).flatMap(n => Gen.listOfN(n, Gen.zip(ident, fn)))
    val sepGen = Gen.oneOf(',', '|')
    // the pair list and the condition may each use either separator —
    // all four combinations must survive the parseLenient fold
    checkProp(Prop.forAllNoShrink(pairsGen, sepGen, sepGen) { (ps, condSep, listSep) =>
      val joined = ps.map { case (c, f) => s"$c#$f" }.mkString(s" $listSep ")
      val cond = s"group_by_cols=g $condSep summary_col_ops=$joined"
      val m = KvList.parseLenient(cond, condSep)
      m("group_by_cols") == "g" && KvList.hashPairs(m("summary_col_ops")) == ps
    })
  }

  test("property: Avro write-read round-trips random rows, nulls and partition counts") {
    val cell = Gen.option(Gen.chooseNum(-1000000, 1000000).map(_.toDouble))
    val strs = Gen.option(Gen.chooseNum(0, 8).flatMap(n =>
      Gen.listOfN(n, Gen.choose(32, 0x2ff).map(_.toChar)).map(_.mkString)))
    val bool = Gen.option(Gen.oneOf(true, false))
    val rowsGen = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, Gen.zip(cell, strs, bool)))
    checkProp(Prop.forAllNoShrink(rowsGen, Gen.oneOf(1, 2, 5)) { (rows, parts) =>
      val dir = java.nio.file.Files.createTempDirectory("graft_avro_prop").toString + "/out"
      val typed = rows.zipWithIndex.map { case ((d, s, b), i) => (i.toLong, d, s, b) }
      val df =
        if (typed.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            typed.toDF("id", "d", "s", "b").schema) // schema from the empty typed frame
        else typed.toDF("id", "d", "s", "b").repartition(parts)
      graft.io.Avro.write(df, dir)
      val back = graft.io.Avro.read(spark, dir).collect().map { r =>
        (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getDouble(1)),
          if (r.isNullAt(2)) None else Some(r.getString(2)),
          if (r.isNullAt(3)) None else Some(r.getBoolean(3)))
      }.sortBy(_._1).toList
      back == typed.sortBy(_._1)
    }, minTests = 12)
  }

  test("property: Ivf.refine equals a plain-Scala per-dim mean replay on random ragged vectors") {
    import graft.llm.Ivf
    // integer-valued doubles: sums are combine-order-exact, so the
    // distributed aggregate and the local replay agree bit-for-bit
    val vec = Gen.chooseNum(1, 5).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-8, 8).map(_.toDouble)))
    val vecsGen = Gen.chooseNum(1, 20).flatMap(n => Gen.listOfN(n, vec))
    val cents = Array(Array(-4.0, -4.0, -4.0), Array(4.0, 4.0, 4.0))
    def assignLocal(v: Seq[Double]): Int =
      cents.zipWithIndex.map { case (c, i) =>
        (v.zip(c).map(t => (t._1 - t._2) * (t._1 - t._2)).sum, i)
      }.minBy(identity)._2 // strict-min tie-break to the lowest id, like NearestCentroids
    checkProp(Prop.forAllNoShrink(vecsGen) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
        .toDF("id", "embedding")
      val m1 = Ivf.refine(df, "embedding",
        Ivf.IvfModel(cents.map(_.clone)), iters = 1, spherical = false)
      val want = cents.indices.map { c =>
        val mine = vs.filter(v => assignLocal(v) == c)
        if (mine.isEmpty) cents(c).toSeq
        else (0 until 3).map { d =>
          val xs = mine.filter(_.length > d).map(_(d))
          if (xs.isEmpty) 0.0 else xs.sum / xs.length
        }
      }
      m1.centroids.map(_.toSeq).toSeq == want
    }, minTests = 25)
  }

  test("property: KvList parse/parseLenient agree when no value contains the separator") {
    val key = Gen.identifier.suchThat(_.nonEmpty)
    val value = Gen.alphaNumStr.suchThat(_.nonEmpty)
    checkProp(Prop.forAll(Gen.nonEmptyListOf(Gen.zip(key, value))) { pairs =>
      val s = pairs.map { case (k, v) => s"$k=$v" }.mkString(", ")
      graft.parse.KvList.parse(s, ',') == graft.parse.KvList.parseLenient(s)
    })
  }

  test("property: snapshotDiff(a, a) is all-unchanged; swapping snapshots swaps added/removed") {
    val cell = Gen.option(Gen.oneOf("x", "y", "", "a b"))
    val rowGen = Gen.zip(Gen.chooseNum(0L, 30L), cell, cell)
    val frameGen = Gen.listOfN(12, rowGen).map(_.distinctBy(_._1))
    checkProp(Prop.forAllNoShrink(frameGen, frameGen) { (as, bs) =>
      def df(rows: List[(Long, Option[String], Option[String])]) =
        rows.map { case (i, t, e) => (i, t.orNull, e.orNull) }.toDF("id", "t", "e")
      val aa = graft.llm.Drift.snapshotDiff(df(as), df(as), "id", Seq("t", "e"))
        .collect().map(_.getString(1))
      val ab = graft.llm.Drift.snapshotDiff(df(as), df(bs), "id", Seq("t", "e"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val ba = graft.llm.Drift.snapshotDiff(df(bs), df(as), "id", Seq("t", "e"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      aa.forall(_ == "unchanged") &&
        ab.keySet == ba.keySet &&
        ab.forall { case (id, st) =>
          ba(id) == (st match {
            case "added" => "removed"; case "removed" => "added"; case s => s
          })
        }
    })
  }

  test("property: rfm bins stay in [1, nBins] and rfm_code decomposes to the bins") {
    val rowGen = Gen.zip(Gen.chooseNum(1L, 8L), Gen.chooseNum(0, 27),
      Gen.chooseNum(0.0, 99.0).map(v => math.round(v * 100) / 100.0))
    checkProp(Prop.forAllNoShrink(
      Gen.nonEmptyListOf(rowGen), Gen.chooseNum(2, 5)) { (rows, nBins) =>
      val ev = rows.map { case (u, dayOff, v) =>
        (u, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(dayOff)), v)
      }.toDF("user_id", "d", "value")
      val out = graft.ops.Funnel.rfm("user_id", "d", "value", nBins)(ev).collect()
      out.forall { r =>
        val (rb, fb, mb, code) = (r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7))
        Seq(rb, fb, mb).forall(b => b >= 1 && b <= nBins) &&
          code == rb * 100 + fb * 10 + mb
      }
    })
  }

  test("property: scd2History equals a plain-Scala run-length encoding on random snapshot streams") {
    val obsGen = Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.chooseNum(1, 3), Gen.chooseNum(1, 20),
        Gen.option(Gen.oneOf("A", "B")))))
      // operator contract: unique (key, t)
      .map(_.groupBy(o => (o._1, o._2)).map(_._2.head).toList)
    checkProp(Prop.forAllNoShrink(obsGen) { obs =>
      val df = obs.map { case (k, t, v) => (k, t, v.orNull) }.toDF("k", "t", "v")
      val got = graft.ops.Scd.scd2History(Seq("k"), "t", Seq("v"))(df)
        .collect().map(r => (r.getInt(0), Option(r.getString(1)), r.getInt(2),
          if (r.isNullAt(3)) None else Some(r.getInt(3)))).toSet
      val expected = obs.groupBy(_._1).flatMap { case (k, rows) =>
        val sorted = rows.sortBy(_._2)
        // run-length collapse on Option values (null-safe equality)
        val opens = sorted.zipWithIndex.collect {
          case ((_, t, v), i) if i == 0 || sorted(i - 1)._3 != v => (t, v)
        }
        opens.zipWithIndex.map { case ((from, v), i) =>
          (k, v, from, opens.lift(i + 1).map(_._1))
        }
      }.toSet
      got == expected
    })
  }

  test("property: union-find fast path equals the distributed fixpoint on random graphs") {
    // random edge lists over a small vertex universe: every component
    // shape (chains, stars, cycles, isolates) shows up across cases
    val edgeGen = for {
      n <- Gen.chooseNum(1, 14)
      edges <- Gen.listOfN(n,
        Gen.zip(Gen.chooseNum(0L, 19L), Gen.chooseNum(0L, 19L)))
    } yield edges.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.distinct
    checkProp(Prop.forAllNoShrink(edgeGen) { edges =>
      edges.isEmpty || {
        val pairs = edges.toDF("id_a", "id_b")
        val fast = Dedup.nearDupClusters(pairs)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val dist = Dedup.nearDupClusters(pairs, maxDriverEdges = 0L)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        fast == dist
      }
    }, minTests = 20)
  }

  test("property: CDC chunks partition every document's words exactly, at any divisor") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "x1", "y2", "zz")
    val texts = Gen.chooseNum(1, 25).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    checkProp(Prop.forAllNoShrink(Gen.listOfN(12, texts), Gen.chooseNum(2, 9)) { (ts, div) =>
      val df = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val perDoc = Dedup.cdcChunks(df, "doc_id", "text", divisor = div)
        .groupBy("doc_id").agg(sum("n_words").as("w"), count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      ts.zipWithIndex.forall { case (t, i) =>
        val n = t.split(" ").count(_.nonEmpty)
        perDoc(i.toLong)._1 == n.toLong && perDoc(i.toLong)._2 >= 1L
      }
    }, minTests = 20)
  }

  test("property: token windows tile every document — first window at 0, stride spacing, every token covered") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "x1", "y2")
    val texts = Gen.chooseNum(1, 60).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val geom = for {
      win <- Gen.chooseNum(2, 12)
      stride <- Gen.chooseNum(1, win)
    } yield (win, stride)
    checkProp(Prop.forAllNoShrink(Gen.listOfN(10, texts), geom) { case (ts, (win, stride)) =>
      val df = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val wins = graft.llm.TextAnalysis.tokenWindows("doc_id", "text", win, stride)(df)
        .collect().map(r => (r.getLong(0), r.getAs[Int]("win_idx"),
          r.getAs[String]("win_text"), r.getAs[Int]("n_win_tokens")))
      ts.zipWithIndex.forall { case (t, i) =>
        val toks = t.split(" ")
        val mine = wins.filter(_._1 == i.toLong).sortBy(_._2)
        val nStarts = (toks.length - 1) / stride + 1
        mine.map(_._2).sameElements(0 until nStarts) &&            // dense idx from 0
        mine.forall { case (_, idx, text, n) =>
          val expect = toks.slice(idx * stride, idx * stride + win)
          text == expect.mkString(" ") && n == expect.length       // exact slices
        } &&
        mine.map(_._4).sum >= toks.length                          // every token covered
      }
    }, minTests = 20)
  }

  test("property: curation funnel stages only shrink and fractions stay in [0,1]") {
    val word = Gen.oneOf("the", "a", "alpha", "beta", "gamma")
    val texts = Gen.chooseNum(1, 80).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val srcs = Gen.oneOf("s1", "s2", "s3")
    checkProp(Prop.forAllNoShrink(Gen.listOfN(15, Gen.zip(srcs, texts))) { rows =>
      val df = rows.zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) }
        .toDF("doc_id", "source", "text")
      val out = graft.llm.Selection.curationFunnel(df, "doc_id", "text", "source",
        stopwords = Seq("the", "a")).collect()
      out.forall { r =>
        val (n, p, k) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_pass_rules"),
          r.getAs[Long]("n_kept_unique"))
        val (pf, kf) = (r.getAs[Double]("pass_frac"), r.getAs[Double]("keep_frac"))
        k <= p && p <= n && pf >= 0 && pf <= 1 && kf >= 0 && kf <= pf
      } && out.map(_.getAs[Long]("n_docs")).sum == rows.length
    }, minTests = 15)
  }

  test("property: jaccard threshold curve cumulative is monotone and tops out at the total") {
    val word = Gen.oneOf("a", "b", "c", "d")
    val texts = Gen.chooseNum(3, 12).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    checkProp(Prop.forAllNoShrink(Gen.listOfN(8, texts)) { ts =>
      val df = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val bands = graft.llm.Dedup.jaccardThresholdCurve(df, "doc_id", "text", minJaccard = 0.1)
        .orderBy(col("band_lo").desc).collect()
        .map(r => (r.getAs[Double]("band_lo"), r.getAs[Long]("n_pairs"), r.getAs[Long]("n_pairs_ge")))
      val cumOk = bands.foldLeft((0L, true)) { case ((acc, ok), (_, n, ge)) =>
        (acc + n, ok && ge == acc + n)
      }._2
      cumOk && bands.map(_._1).forall(b => b >= 0.0 && b <= 1.0)
    }, minTests = 15)
  }

  test("property: unigram entropy is bounded by [~0, ln n_tokens] and maximal iff all-distinct") {
    val word = Gen.oneOf("a", "b", "c", "d", "e")
    val texts = Gen.chooseNum(1, 40).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    checkProp(Prop.forAllNoShrink(Gen.listOfN(15, texts)) { ts =>
      val df = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val rows = graft.llm.TextAnalysis.unigramEntropy("doc_id", "text")(df)
        .collect().map(r => (r.getLong(0), r.getAs[Long]("n_tokens"),
          r.getAs[Int]("n_distinct"), r.getAs[Double]("entropy_nats")))
      rows.forall { case (_, n, d, h) =>
        val slack = 1e-5 // fixed-point quantization wobble
        h >= -slack && h <= math.log(n.toDouble) + slack &&
        (d.toLong != n || math.abs(h - math.log(n.toDouble)) < slack) &&
        (d != 1 || math.abs(h) < slack)
      }
    }, minTests = 20)
  }
}
