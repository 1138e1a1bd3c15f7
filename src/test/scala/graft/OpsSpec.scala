package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.model.SortKey
import graft.ops.Ops

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("strftimeToJava: directives, %% escape, literal quoting") {
    assert(Ops.strftimeToJava("%Y-%m-%d") == "yyyy-MM-dd")
    assert(Ops.strftimeToJava("%d-%m-%Y %H:%M") == "dd-MM-yyyy HH:mm")
    assert(Ops.strftimeToJava("%%m") == "'%m'") // escaped percent + literal m, quoted
    assert(Ops.strftimeToJava("%Y at %H") == "yyyy' at 'HH")
    // a bare quote in letter-free literal text must escape too — an
    // unescaped one would START a quoted section and swallow %m.
    // Quote-bearing literals use the fully-quoted encoding since
    // round 14: bare `''` pairs are only unambiguous in isolation
    // (literal `''` would emit `''''` = open+escaped+close = ONE
    // quote — found by the generative property below)
    assert(Ops.strftimeToJava("%d'%m") == "dd''''MM")
    assert(Ops.strftimeToJava("%d''%m") == "dd''''''MM") // two literal quotes
    // the found case: the whole quote-bearing literal run `''%-`
    // lands in one quoted section with its quotes doubled
    assert(Ops.strftimeToJava("%y''%%-") == "yy'''''%-'")
    assertThrows[IllegalArgumentException](Ops.strftimeToJava("%Q"))
    // separator-less same-letter adjacency merges fields in Java
    // ('yyyyyy' = ONE 6-digit year, not '21'+'2021') — caught by the
    // generative property below, now a loud error
    assertThrows[IllegalArgumentException](Ops.strftimeToJava("%y%Y"))
    assertThrows[IllegalArgumentException](Ops.strftimeToJava("%d%d"))
    assert(Ops.strftimeToJava("%y-%Y") == "yy-yyyy") // separated: fine
  }

  test("property: strftimeToJava renders every directive/literal mix like Python strftime") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // FORMAT the translated pattern through java.time and compare with
    // a direct strftime model — generative coverage of the whole
    // translation table plus the quoting/escaping of arbitrary literal
    // runs (the fixed cases above pin only a handful of shapes)
    def py(dir: Char, dt: java.time.LocalDateTime): String = dir match {
      case 'Y' => f"${dt.getYear}%04d"
      case 'y' => f"${dt.getYear % 100}%02d"
      case 'm' => f"${dt.getMonthValue}%02d"
      case 'd' => f"${dt.getDayOfMonth}%02d"
      case 'H' => f"${dt.getHour}%02d"
      case 'I' => f"${(dt.getHour % 12) match { case 0 => 12; case h => h }}%02d"
      case 'M' => f"${dt.getMinute}%02d"
      case 'S' => f"${dt.getSecond}%02d"
      case 'f' => f"${dt.getNano / 1000}%06d"
      case 'p' => if (dt.getHour < 12) "AM" else "PM"
      case 'j' => f"${dt.getDayOfYear}%03d"
    }
    val dirs = "YymdHIMSfpj"
    val tokGen = Gen.frequency(
      3 -> Gen.oneOf(dirs.map(c => s"%$c")),
      1 -> Gen.const("%%"),
      // literal runs: letters (must be quoted), a bare quote (must be
      // escaped), digits/punct (pass through unquoted)
      2 -> Gen.oneOf("-", "/", " ", ":", "T", "at ", "'", "x", "7", "."))
    val fmtGen = Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, tokGen)).map(_.mkString)
    val dts = Seq(
      java.time.LocalDateTime.of(2021, 3, 7, 4, 5, 6, 123456000),
      java.time.LocalDateTime.of(2021, 12, 31, 23, 59, 59, 1000),
      java.time.LocalDateTime.of(2020, 1, 1, 0, 0, 0, 0),
      java.time.LocalDateTime.of(2024, 2, 29, 12, 0, 1, 999999000))
    val prop = Prop.forAllNoShrink(fmtGen) { fmt =>
      val translated =
        try Right(Ops.strftimeToJava(fmt))
        catch { case e: IllegalArgumentException => Left(e.getMessage) }
      translated match {
        // separator-less same-letter adjacency has no faithful Java
        // translation — the loud reject IS the correct behavior (the
        // first run of this property caught '%y%Y' -> 'yyyyyy'
        // silently formatting '002021')
        case Left(msg) => msg.contains("adjacent")
        case Right(jp) =>
      val jf = java.time.format.DateTimeFormatter
        .ofPattern(jp, java.util.Locale.US)
      dts.forall { dt =>
        val want = {
          val sb = new StringBuilder; var i = 0
          while (i < fmt.length) {
            if (fmt(i) == '%') { sb.append(if (fmt(i + 1) == '%') "%" else py(fmt(i + 1), dt)); i += 2 }
            else { sb.append(fmt(i)); i += 1 }
          }
          sb.toString
        }
        val got = jf.format(dt)
        if (got != want) println(s"fmt='$fmt' java='$jp' got='$got' want='$want'")
        got == want
      }
      }
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(r.passed, r.status.toString)
  }

  test("groupbySummarise last/first skip nulls like pandas GroupBy.last") {
    val df = Seq(
      ("g1", 1, Some(5.0)), ("g1", 2, None), // last non-null is 5.0 at k=1
      ("g2", 1, None), ("g2", 2, Some(7.0)), ("g2", 3, None),
      ("g3", 1, Option.empty[Double]) // all-null group → null
    ).toDF("g", "k", "v")
    val last = Ops.groupbySummarise(Seq("g"), Seq(("v", "last")), Seq(SortKey("k")))(df)
      .orderBy("g").collect().map(r => (r.getString(0), Option(r.get(1))))
    assert(last.toSeq == Seq(("g1", Some(5.0)), ("g2", Some(7.0)), ("g3", None)))
    val first = Ops.groupbySummarise(Seq("g"), Seq(("v", "first")), Seq(SortKey("k")))(df)
      .orderBy("g").collect().map(r => (r.getString(0), Option(r.get(1))))
    assert(first.toSeq == Seq(("g1", Some(5.0)), ("g2", Some(7.0)), ("g3", None)))
  }

  test("groupbySummarise and groupbySlice drop null group keys like pandas groupby(dropna=True)") {
    val df = Seq(
      (Some("g1"), 1, 5.0), (Some("g1"), 2, 3.0),
      (None, 3, 9.0) // null key: pandas excludes, never a null group
    ).toDF("g", "k", "v")
    val agg = Ops.groupbySummarise(Seq("g"), Seq(("v", "sum")), Nil)(df)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(agg.toSeq == Seq(("g1", 8.0)), agg.toSeq)
    val sliced = Ops.groupbySlice(Seq("g"), 1, Seq(SortKey("k")))(df)
      .collect().map(_.getString(0))
    assert(sliced.toSeq == Seq("g1"), sliced.toSeq)
  }

  test("groupbySummarise sum of an all-null group is 0 (pandas min_count=0), and a superseded first needs no sort") {
    val df = Seq(
      ("g1", Some(2.0)), ("g1", Some(3.0)),
      ("g2", Option.empty[Double]) // all-null: pandas sums to 0.0
    ).toDF("g", "v")
    val got = Ops.groupbySummarise(Seq("g"), Seq(("v", "sum")), Nil)(df)
      .orderBy("g").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.toSeq == Seq(("g1", 5.0), ("g2", 0.0)), got.toSeq)
    // the reference's dict semantics keep only {v: sum} for
    // 'v#first, v#sum' — no order requirement may leak from the
    // discarded first (pandas runs this config unsorted)
    val dict = Ops.groupbySummarise(Seq("g"), Seq(("v", "first"), ("v", "sum")), Nil)(df)
      .orderBy("g").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(dict.toSeq == Seq(("g1", 5.0), ("g2", 0.0)), dict.toSeq)
  }

  test("NaN group keys are dropped like null ones (pandas treats NaN as missing)") {
    val df = Seq(
      (Some(1.0), 5.0), (Some(1.0), 3.0),
      (Some(Double.NaN), 9.0), (None, 7.0)
    ).toDF("g", "v")
    val agg = Ops.groupbySummarise(Seq("g"), Seq(("v", "sum")), Nil)(df)
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(agg.toSeq == Seq((1.0, 8.0)), agg.toSeq)
    val sliced = Ops.groupbySlice(Seq("g"), 1, Seq(SortKey("v")))(df)
      .collect().map(_.getDouble(0))
    assert(sliced.toSeq == Seq(1.0), sliced.toSeq)
  }

  test("aggregateColumn accepts a single source column like pandas min(axis=1)") {
    // Spark's least/greatest demand two args; a one-column config is
    // valid in the reference and must not throw WRONG_NUM_ARGS
    val df = Seq((Some(2.0)), (None: Option[Double])).toDF("a")
    val got = Ops.aggregateColumn("m", Seq("a"), "min")(df)
      .collect().map(r => Option(r.get(1)))
    assert(got.toSeq == Seq(Some(2.0), None), got.toSeq)
    val e = intercept[IllegalArgumentException](
      Ops.aggregateColumn("m", Nil, "min")(df))
    assert(e.getMessage.contains("at least one"), e.getMessage)
  }

  test("removeColumns raises on a missing column like pandas df.drop") {
    val df = Seq((1, 2)).toDF("a", "b")
    val e = intercept[IllegalArgumentException](Ops.removeColumns(Seq("a", "nope"))(df))
    assert(e.getMessage.contains("nope"), e.getMessage)
    assert(Ops.removeColumns(Seq("a"))(df).columns.toSeq == Seq("b"))
  }

  test("groupbySummarise refuses an input that already carries __gs_rn") {
    // the descending first/last path materializes an internal rank
    // under this name; silently replacing a caller's column would make
    // any agg on it aggregate the rank instead of the data
    val df = Seq(("a", 9, 5)).toDF("g", "__gs_rn", "v")
    val e = intercept[IllegalArgumentException](
      Ops.groupbySummarise(Seq("g"), Seq(("v", "last")),
        Seq(SortKey("v", desc = true)))(df))
    assert(e.getMessage.contains("__gs_rn"), e.getMessage)
  }

  test("groupbySummarise multi-key first/last: null sort keys rank LAST, like sort_values") {
    // pandas sort_values(na_position='last') puts a null key after
    // every non-null one; a raw struct field would sort it FIRST
    val df = Seq(
      ("g", Option(1), Option(9), "early"),
      ("g", Option(2), Option(1), "late"),
      ("g", Option.empty[Int], Option(0), "nullkey") // sorts last on k1
    ).toDF("g", "k1", "k2", "v")
    val order = Seq(SortKey("k1"), SortKey("k2"))
    val first = Ops.groupbySummarise(Seq("g"), Seq(("v", "first")), order)(df)
    assert(first.collect().head.getString(1) == "early")
    val last = Ops.groupbySummarise(Seq("g"), Seq(("v", "last")), order)(df)
    assert(last.collect().head.getString(1) == "nullkey")
  }

  test("groupbySummarise repeated column keeps first position, last fn (reference dict)") {
    // the reference's res_dct[c] = fn silently overwrites — c#min,c#max
    // must yield ONE column 'c' holding the max, never two ambiguous
    // 'c' columns
    val df = Seq(("g", 1), ("g", 5)).toDF("g", "c")
    val r = Ops.groupbySummarise(Seq("g"), Seq(("c", "min"), ("c", "max")), Nil)(df)
    assert(r.columns.toSeq == Seq("g", "c"))
    assert(r.collect().head.getInt(1) == 5)
  }

  test("groupbySummarise last after DESC sort takes min sort key") {
    val df = Seq(("g", 1, "a"), ("g", 2, "b")).toDF("g", "k", "v")
    val r = Ops.groupbySummarise(Seq("g"), Seq(("v", "last")), Seq(SortKey("k", desc = true)))(df)
    assert(r.collect().head.getString(1) == "a")
  }

  test("sortDataset puts nulls last in both directions (pandas)") {
    val df = Seq(Some(2), None, Some(1)).toDF("x")
    assert(Ops.sortDataset(Seq("x"), desc = false)(df).collect().map(r => Option(r.get(0))).toSeq ==
      Seq(Some(1), Some(2), None))
    assert(Ops.sortDataset(Seq("x"), desc = true)(df).collect().map(r => Option(r.get(0))).toSeq ==
      Seq(Some(2), Some(1), None))
  }

  test("uniqueColumns keeps first row in established order") {
    val df = Seq(("a", 2, "second"), ("a", 1, "first"), ("b", 3, "only")).toDF("k", "ord", "v")
    val r = Ops.uniqueColumns(Seq("k"), Seq(SortKey("ord")))(df)
      .orderBy("k").collect().map(_.getString(2))
    assert(r.toSeq == Seq("first", "only"))
  }

  test("aggregateColumn least/greatest skip nulls like pandas axis=1 min/max") {
    val df = Seq((Some(1.0), None: Option[Double]), (None, Some(2.0)), (None, None))
      .toDF("a", "b")
    val r = Ops.aggregateColumn("m", Seq("a", "b"), "min")(df)
      .collect().map(x => Option(x.get(2)))
    assert(r.toSeq == Seq(Some(1.0), Some(2.0), None))
  }

  test("attachSumEq compares native-dtype sums; empty frame sums as 0") {
    val df = Seq((2.5, 2), (0.4, 1)).toDF("a", "b")
    // sum(a)=2.9, sum(b)=3 → unequal (no long truncation)
    assert(!Ops.attachSumEq("eq", "a", "b")(df).collect().head.getBoolean(2))
    val eq = Seq((1.5, 1.0), (0.5, 1.0)).toDF("a", "b")
    assert(Ops.attachSumEq("eq", "a", "b")(eq).collect().head.getBoolean(2))
    // booleans count as 1/0
    val bools = Seq((true, 1), (false, 1)).toDF("a", "b")
    assert(!Ops.attachSumEq("eq", "a", "b")(bools).collect().head.getBoolean(2))
    val empty = spark.createDataFrame(
      sc.emptyRDD[Row],
      Seq((1.0, 2.0)).toDF("a", "b").schema)
    assert(Ops.attachSumEq("eq", "a", "b")(empty).count() == 0) // no rows to attach to
  }

  test("attachNullFill = np.where(isnull, value, other_col)") {
    val df = Seq((Some("x"), "o1"), (None, "o2")).toDF("src", "other")
    val r = Ops.attachNullFill("out", "src", "FILLED", "other")(df)
      .collect().map(_.getString(2))
    assert(r.toSeq == Seq("o1", "FILLED"))
  }

  test("decision when-chain: later mapping rows overwrite earlier (reference iterrows)") {
    val df = Seq("k1", "k2", "zz").toDF("c")
    val r = Ops.decisionColumnWhenChain("out", "c", Seq("k1" -> "v1", "k1" -> "v1b", "k2" -> "v2"))(df)
      .collect().map(x => Option(x.getString(1)))
    assert(r.toSeq == Seq(Some("v1b"), Some("v2"), None))
  }

  test("namedJoin renames overlapping non-key columns _x/_y") {
    val l = Seq((1, "lv")).toDF("k", "v")
    val r = Seq((1, "rv")).toDF("k", "v")
    val j = Ops.namedJoin(l, r, Seq("k"), "left")
    assert(j.columns.toSeq == Seq("k", "v_x", "v_y"))
    assert(j.collect().head.toSeq == Seq(1, "lv", "rv"))
  }

  test("bindRows unions by name with missing columns as null") {
    val a = Seq((1, "x")).toDF("i", "s")
    val b = Seq(2.5).toDF("d")
    val r = Ops.bindRows(Seq(a, b))
    assert(r.columns.toSeq == Seq("i", "s", "d"))
    assert(r.count() == 2)
  }

  test("selectColumnsTolerant skips the whole projection on any missing column") {
    val df = Seq((1, "a")).toDF("x", "y")
    assert(Ops.selectColumnsTolerant(Seq("x", "nope"), distinct = false)(df).columns.toSeq ==
      Seq("x", "y"))
    assert(Ops.selectColumnsTolerant(Seq("x"), distinct = false)(df).columns.toSeq == Seq("x"))
  }

  test("formatColumn datetime parses with translated strftime pattern") {
    val df = Seq("31-01-2021").toDF("d")
    val r = Ops.formatColumn("d", "datetime#%d-%m-%Y")(df).collect().head.getTimestamp(0)
    assert(r.toString.startsWith("2021-01-31"))
  }

  test("formatColumn datetime: quote-bearing literals survive Spark's own pattern compiler") {
    // the round-14 consecutive-quote fix emits fully-quoted literal
    // sections ('''' for one literal quote); the engine path hands the
    // translated pattern to try_to_timestamp, whose pattern dialect
    // must accept the encoding too — pin it end-to-end, single and
    // consecutive quotes both
    val one = Seq("31'01'2021").toDF("d")
    val r1 = Ops.formatColumn("d", "datetime#%d'%m'%Y")(one).collect().head.getTimestamp(0)
    assert(r1 != null && r1.toString.startsWith("2021-01-31"), s"got $r1")
    val two = Seq("31''01''2021").toDF("d")
    val r2 = Ops.formatColumn("d", "datetime#%d''%m''%Y")(two).collect().head.getTimestamp(0)
    assert(r2 != null && r2.toString.startsWith("2021-01-31"), s"got $r2")
  }

  test("asofJoinBackward: nearest preceding row per key, ties at equal time match, no-match is null") {
    import graft.ops.AsOf
    val left = Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (2L, 5L, "p3"), (3L, 9L, "p4"))
      .toDF("k", "t", "lv")
    val right = Seq((1L, 8L, "r-early"), (1L, 20L, "r-tie"), (2L, 9L, "r-late"))
      .toDF("k", "rt", "rv")
    val joined = AsOf.asofJoinBackward(left, right, Seq("k"), "t", "rt", Seq("rt", "rv"))
      .collect().map(r => (r.getLong(0), r.getString(2), Option(r.getAs[String]("asof_rv"))))
      .toSet
    assert(joined == Set(
      (1L, "p1", Some("r-early")), // 8 <= 10, latest preceding
      (1L, "p2", Some("r-tie")),   // exactly-simultaneous right row matches
      (2L, "p3", None),            // right row is LATER (9 > 5) → null
      (3L, "p4", None)))           // key has no right rows at all
  }

  test("asofJoinBackward: null right timestamps never match; null payload fields stay null (atomic row)") {
    import graft.ops.AsOf
    val left = Seq((1L, 10L, "p1"), (1L, 30L, "p2"), (2L, 10L, "p3"))
      .toDF("k", "t", "lv")
    // k=1: a null-rt row must NOT fill every left row (SQL ASOF never
    // matches null timestamps); the rt=20 match has a NULL rv that
    // must stay null — per-column filling would backfill it with
    // "stale" from rt=5.
    val right = Seq(
      (1L, Option(5L), Option("stale")),
      (1L, Option(20L), Option.empty[String]),
      (1L, Option.empty[Long], Option("from-null-ts")),
      (2L, Option.empty[Long], Option("also-null-ts")))
      .toDF("k", "rt", "rv")
    val got = AsOf.asofJoinBackward(left, right, Seq("k"), "t", "rt", Seq("rt", "rv"))
      .collect()
      .map(r => (r.getLong(0), r.getString(2),
        Option(r.getAs[java.lang.Long]("asof_rt")).map(_.toLong),
        Option(r.getAs[String]("asof_rv"))))
      .toSet
    assert(got == Set(
      (1L, "p1", Some(5L), Some("stale")),  // only rt=5 precedes t=10
      (1L, "p2", Some(20L), None),          // matched row's null rv stays null
      (2L, "p3", None, None)))              // the key's only right row has null rt
  }

  test("rollup emits subtotals with grouping_id; pivot/unpivot round-trip") {
    val df = Seq(("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 4.0))
      .toDF("k1", "k2", "v")
    val r = Ops.groupbyRollup(Seq("k1", "k2"), Seq(("v", "sum", "s")))(df)
      .collect().map(x => (Option(x.getString(0)), Option(x.getString(1)), x.getInt(2), x.getDouble(3))).toSet
    assert(r == Set(
      (Some("a"), Some("x"), 0, 1.0), (Some("a"), Some("y"), 0, 2.0), (Some("b"), Some("x"), 0, 4.0),
      (Some("a"), None, 1, 3.0), (Some("b"), None, 1, 4.0),   // k2 rolled up
      (None, None, 3, 7.0)))                                  // grand total
    val cube = Ops.groupbyRollup(Seq("k1", "k2"), Seq(("v", "sum", "s")), cube = true)(df)
      .collect().map(x => (Option(x.getString(0)), Option(x.getString(1)), x.getInt(2), x.getDouble(3))).toSet
    assert(cube.contains((None, Some("x"), 2, 5.0)), s"cube adds the k1-rolled-up sets: $cube")

    val piv = Ops.pivotAgg(Seq("k1"), "k2", "v", Seq("x", "y"))(df)
    val pm = piv.collect().map(x => x.getString(0) ->
      (Option(x.get(1)).map(_.asInstanceOf[Double]), Option(x.get(2)).map(_.asInstanceOf[Double]))).toMap
    assert(pm == Map("a" -> (Some(1.0), Some(2.0)), "b" -> (Some(4.0), None)))
    val melted = Ops.unpivot(Seq("k1"), Seq("x", "y"), "k2", "v")(piv)
      .collect().map(x => (x.getString(0), x.getString(1), Option(x.get(2)).map(_.asInstanceOf[Double]))).toSet
    // unpivot keeps null cells, so sparse pivots round-trip losslessly
    assert(melted == Set(
      ("a", "x", Some(1.0)), ("a", "y", Some(2.0)),
      ("b", "x", Some(4.0)), ("b", "y", None)))
  }

  test("asofJoinForward: earliest right at-or-after; null right timestamps never match") {
    import graft.ops.AsOf
    val left = Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (1L, 30L, "p4"), (2L, 10L, "p3"))
      .toDF("k", "t", "lv")
    val right = Seq(
      (1L, Option(10L), Option("at")),      // exactly simultaneous -> matches t=10
      (1L, Option(25L), Option.empty[String]), // nearest-after for t=20; its null rv must stay null
      (1L, Option.empty[Long], Option("null-ts")),
      (2L, Option(5L), Option("too-early")))
      .toDF("k", "rt", "rv")
    val got = AsOf.asofJoinForward(left, right, Seq("k"), "t", "rt", Seq("rt", "rv"))
      .collect()
      .map(r => (r.getString(2),
        Option(r.getAs[java.lang.Long]("asof_rt")).map(_.toLong),
        Option(r.getAs[String]("asof_rv"))))
      .toSet
    assert(got == Set(
      ("p1", Some(10L), Some("at")),   // rt=10 >= t=10 (simultaneous visible)
      ("p2", Some(25L), None),         // matched row's null rv stays null (atomic struct)
      ("p4", None, None),              // only null-ts remains after t=30 -> no match
      ("p3", None, None)))             // rt=5 precedes t=10 -> no forward match
  }

  test("asofJoinForward: a left row with a null time gets a null payload, not the earliest right") {
    import graft.ops.AsOf
    val left = Seq((1L, Option(10L), "ok"), (1L, Option.empty[Long], "null-time"))
      .toDF("k", "t", "lv")
    val right = Seq((1L, 20L, "r1")).toDF("k", "rt", "rv")
    val got = AsOf.asofJoinForward(left, right, Seq("k"), "t", "rt", Seq("rv"))
      .collect().map(r => (r.getString(2), Option(r.getAs[String]("asof_rv")))).toSet
    // nulls sort FIRST ascending, so without the explicit null-time
    // guard the following frame would hand "null-time" r1's payload
    assert(got == Set(("ok", Some("r1")), ("null-time", None)))
  }

  test("asofJoinBackward: null keys never equal each other (left keeps row with null payload)") {
    import graft.ops.AsOf
    val left = Seq((Option(1L), 10L, "a"), (Option.empty[Long], 10L, "b")).toDF("k", "t", "lv")
    val right = Seq((Option(1L), 5L, "r1"), (Option.empty[Long], 5L, "r-nullkey")).toDF("k", "rt", "rv")
    val got = AsOf.asofJoinBackward(left, right, Seq("k"), "t", "rt", Seq("rv"))
      .collect().map(r => (r.getString(2), Option(r.getAs[String]("asof_rv")))).toSet
    assert(got == Set(("a", Some("r1")), ("b", None)))
  }

  test("bucketedRangeJoin: containment matches plain theta-join exactly, each pair once") {
    import graft.ops.RangeJoin
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val points = Seq((1L, 100L, ts(5)), (1L, 101L, ts(30)), (2L, 102L, ts(5)))
      .toDF("k", "pid", "t")
    // interval spans several buckets; an exactly-on-boundary point matches
    val intervals = Seq((1L, 200L, ts(0), ts(30)), (1L, 201L, ts(29), ts(45)), (2L, 202L, ts(6), ts(7)))
      .toDF("k", "iid", "s", "e")
    val got = RangeJoin.bucketedRangeJoin(points, intervals, Seq("k"), "t", "s", "e",
        bucketMicros = 60L * 1000 * 1000) // 1-minute buckets, intervals cover many
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = points.as("p").join(intervals.as("i"),
        col("p.k") === col("i.k") && col("p.t") >= col("i.s") && col("p.t") <= col("i.e"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == want, s"got $got want $want")
    assert(got == Seq((100L, 200L), (101L, 200L), (101L, 201L))) // 102 outside its interval
    assert(got.distinct == got, "each matching pair must appear exactly once")
  }

  test("range joins drop inverted intervals instead of exploding a descending bucket fan-out") {
    import graft.ops.RangeJoin
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val points = Seq((1L, 100L, ts(5))).toDF("k", "pid", "t")
    // one good interval + one INVERTED (end < start): sequence() would
    // auto-step -1 across the whole span for the bad row
    val intervals = Seq((1L, 200L, ts(0), ts(10)), (1L, 201L, ts(45), ts(1)))
      .toDF("k", "iid", "s", "e")
    val got = RangeJoin.bucketedRangeJoin(points, intervals, Seq("k"), "t", "s", "e",
        bucketMicros = 60L * 1000 * 1000)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((100L, 200L)))
    // shared non-key columns fail loudly instead of emitting ambiguous dups
    intercept[IllegalArgumentException] {
      RangeJoin.bucketedRangeJoin(
        points.withColumn("v", lit(1)), intervals.withColumn("v", lit(2)),
        Seq("k"), "t", "s", "e", 60L * 1000 * 1000)
    }
  }

  test("transitionEdges drops null items; pageRank contributions survive hub-scale products") {
    import graft.ops.Graph
    val ev = Seq(
      (1L, 10L, 1L, Option("a")), (1L, 20L, 2L, Option.empty[String]), // a -> NULL: dropped
      (1L, 30L, 3L, Option("b"))                                       // NULL -> b: dropped
    ).toDF("user_id", "ts", "event_id", "item")
    val e = Graph.transitionEdges("user_id", "ts", "event_id", "item")(ev).collect()
    assert(e.isEmpty, s"null-item steps must not become edges: ${e.mkString(",")}")
    // hub-scale weights: rank_fp * dampNum * w would overflow Int64
    // (1e9 * 17 * 1e9 > 2^63) without the decimal intermediate
    val heavy = Seq((1L, 2L, 1000000000L), (2L, 1L, 1000000000L))
      .toDF("src", "dst", "weight")
    val r = Graph.pageRankFp(heavy, iters = 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // symmetric 2-cycle: every iteration keeps both at scale (w cancels)
    assert(r == Map(1L -> 1000000000L, 2L -> 1000000000L), r.toString)
  }

  test("single-key first/last: null sort key ranks LAST, like sort_values (same as multi-key)") {
    import graft.model.SortKey
    // pandas: sort_values('ord') puts the NaN-key row last, and
    // agg('last') then returns its (non-null) value — the single-key
    // branch must agree with the multi-key isNull-flag encoding, not
    // silently exclude null-key rows
    val df = Seq(
      ("g", Option.empty[Int], "from-null-key"),
      ("g", Some(1), "first-val"),
      ("g", Some(2), "last-val")
    ).toDF("k", "ord", "v")
    val first = Ops.groupbySummarise(Seq("k"), Seq(("v", "first")), Seq(SortKey("ord")))(df)
      .collect().head.getString(1)
    val last = Ops.groupbySummarise(Seq("k"), Seq(("v", "last")), Seq(SortKey("ord")))(df)
      .collect().head.getString(1)
    assert(first == "first-val")
    assert(last == "from-null-key", s"null-key row sorts last, got '$last'")
  }

  test("desc/mixed-key first/last: window encoding, nulls last in both directions") {
    import graft.model.SortKey
    // previously an IllegalStateException; now ranked by a row_number
    // window over the exact sort. Desc single key with a null: pandas
    // sort_values(ascending=False) ALSO puts NaN last, so 'last' picks
    // the null-key row.
    val df = Seq(
      ("g", Option.empty[Int], "from-null-key"),
      ("g", Some(1), "low"),
      ("g", Some(2), "high")
    ).toDF("k", "ord", "v")
    val lastDesc = Ops.groupbySummarise(
      Seq("k"), Seq(("v", "last")), Seq(SortKey("ord", desc = true)))(df)
      .collect().head.getString(1)
    assert(lastDesc == "from-null-key", s"desc sort puts nulls last too, got '$lastDesc'")
    val firstDesc = Ops.groupbySummarise(
      Seq("k"), Seq(("v", "first")), Seq(SortKey("ord", desc = true)))(df)
      .collect().head.getString(1)
    assert(firstDesc == "high")
    // mixed multi-key: desc k1 then asc k2
    val mixed = Seq(
      ("g", 1, 9, "a"), ("g", 2, 1, "b"), ("g", 2, 5, "c")
    ).toDF("k", "k1", "k2", "v")
    val order = Seq(SortKey("k1", desc = true), SortKey("k2"))
    val first = Ops.groupbySummarise(Seq("k"), Seq(("v", "first")), order)(mixed)
      .collect().head.getString(1)
    assert(first == "b") // k1=2 first (desc), then k2=1
    val last = Ops.groupbySummarise(Seq("k"), Seq(("v", "last")), order)(mixed)
      .collect().head.getString(1)
    assert(last == "a")
  }

  test("renameColumns: simultaneous like pandas dict rename — swap works, collision fails loudly") {
    val df = Seq((1, 2, 3)).toDF("a", "b", "c")
    val swapped = Ops.renameColumns(Seq("a" -> "b", "b" -> "a"))(df)
    assert(swapped.columns.toSeq == Seq("b", "a", "c"))
    assert(swapped.select("b").collect().head.getInt(0) == 1) // old 'a' data under 'b'
    // missing old names ignored (pandas default)
    assert(Ops.renameColumns(Seq("zz" -> "yy"))(df).columns.toSeq == Seq("a", "b", "c"))
    // rename onto an existing surviving name would duplicate — loud
    assertThrows[IllegalArgumentException](Ops.renameColumns(Seq("a" -> "b"))(df).columns)
    // repeated old name: last mapping wins (dict construction)
    assert(Ops.renameColumns(Seq("a" -> "x", "a" -> "y"))(df).columns.toSeq ==
      Seq("y", "b", "c"))
  }

  test("order-consuming ops tolerate map-typed columns (tiebreak hash excludes them)") {
    import graft.model.SortKey
    val df = Seq((1, 2, Map("a" -> "b")), (1, 1, Map("c" -> "d")))
      .toDF("k", "ord", "m")
    val kept = Ops.uniqueColumns(Seq("k"), Seq(SortKey("ord")))(df).collect()
    assert(kept.length == 1 && kept.head.getInt(1) == 1)
    val sliced = Ops.groupbySlice(Seq("k"), 1, Seq(SortKey("ord")))(df).collect()
    assert(sliced.length == 1 && sliced.head.getInt(1) == 1)
  }

  test("funnel: strict first-touch chaining — out-of-order stages don't count") {
    import graft.ops.Funnel
    val ev = Seq(
      // u1: view → click → purchase, in order: reaches all three
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "purchase"),
      // u2: purchase BEFORE first click: reaches click, not purchase
      (2L, 10L, "view"), (2L, 20L, "purchase"), (2L, 30L, "click"),
      // u3: click with no view at all: reaches nothing
      (3L, 10L, "click"), (3L, 20L, "purchase")
    ).toDF("user_id", "ts", "event_type")
    val r = Funnel.funnelStages("user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))(ev)
      .collect().map(x => (x.getString(0), x.getInt(1), x.getLong(2))).toSeq
    assert(r == Seq(("view", 1, 2L), ("click", 2, 2L), ("purchase", 3, 1L)))
  }

  test("cohort retention counts each user once per (cohort, offset) cell") {
    import graft.ops.Funnel
    val ev = Seq(
      (1L, "2024-01-01"), (1L, "2024-01-01"), (1L, "2024-01-03"), // dup same-day activity
      (2L, "2024-01-01"),
      (3L, "2024-01-02"), (3L, "2024-01-03")
    ).toDF("user_id", "d").withColumn("d", to_date(col("d")))
    val r = graft.ops.Funnel.cohortRetention("user_id", col("d"))(ev)
      .collect().map(x => (x.getDate(0).toString, x.getInt(1), x.getLong(2))).toSet
    assert(r == Set(
      ("2024-01-01", 0, 2L), // u1 + u2 on their cohort day (dup row counted once)
      ("2024-01-01", 2, 1L), // u1 back on day 3
      ("2024-01-02", 0, 1L), // u3 cohort
      ("2024-01-02", 1, 1L))) // u3 back next day
  }

  test("funnelConversion: exact gaps per transition, integer-portable median") {
    import graft.ops.Funnel
    val ev = Seq(
      (1L, 0L, "view"), (1L, 10L, "click"), (1L, 110L, "purchase"),
      (2L, 0L, "view"), (2L, 20L, "click"),                       // no purchase
      (3L, 0L, "view"), (3L, 30L, "click"), (3L, 40L, "purchase")
    ).toDF("user_id", "ts", "event_type")
    val r = Funnel.funnelConversion("user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))(ev)
      .collect().map(x => x.getString(1) ->
        (x.getLong(3), x.getLong(4), x.getDouble(5), x.getLong(6))).toMap
    // view→click gaps: 10, 20, 30 → median 20
    assert(r("click") == ((3L, 10L, 20.0, 30L)))
    // click→purchase gaps: 100 (u1), 10 (u3) → median (10+100)/2 = 55
    assert(r("purchase") == ((2L, 10L, 55.0, 100L)))
  }

  test("rfm: exact cents, bin-1-is-best orientation, closed-form bins at nBins=2") {
    import graft.ops.Funnel
    val ev = Seq(
      // u1: recent, frequent, mid spend
      (1L, "2024-01-07", 2.5), (1L, "2024-01-08", 2.5), (1L, "2024-01-09", 2.5), (1L, "2024-01-10", 2.5),
      // u2: 2 days stale, infrequent, big spend
      (2L, "2024-01-07", 20.0), (2L, "2024-01-08", 20.0),
      // u3: 9 days stale, most frequent, small spend
      (3L, "2024-01-01", 0.5), (3L, "2024-01-01", 0.5), (3L, "2024-01-01", 0.5),
      (3L, "2024-01-01", 0.5), (3L, "2024-01-01", 0.5), (3L, "2024-01-01", 0.5),
      // u4: recent, one event, tiny spend
      (4L, "2024-01-10", 1.0)
    ).toDF("user_id", "d", "value").withColumn("d", to_date(col("d")))
    val r = Funnel.rfm("user_id", "d", "value", nBins = 2)(ev)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getInt(3), x.getInt(4), x.getInt(5), x.getInt(6), x.getInt(7)))
      .toMap
    // medians: recency [0,0,2,9]→1, freq [1,2,4,6]→3, cents [100,300,1000,4000]→650
    assert(r(1L) == ((4L, 1000L, 0, 1, 1, 1, 111)))
    assert(r(2L) == ((2L, 4000L, 2, 2, 2, 1, 221)))
    assert(r(3L) == ((6L, 300L, 9, 2, 1, 2, 212)))
    assert(r(4L) == ((1L, 100L, 0, 1, 2, 2, 122)))
  }

  test("madFlags: exact median/MAD, degenerate MAD=0, and flag threshold") {
    import graft.ops.Outliers
    // key a: values 1..9 + spike 1000 → med 5.5, devs {4.5,3.5,2.5,1.5,0.5,0.5,1.5,2.5,3.5,994.5} → MAD 2.5
    //   flag: dev*2 > 2.5*7 = 17.5 → only the 1000 spike (dev 994.5)
    // key b: 7 equal values + one off → MAD 0 → flags exactly the off row
    val df = ((1L to 9L) :+ 1000L).map(("a", _)) ++
      (Seq.fill(7)(5L) :+ 50L).map(("b", _))
    val r = Outliers.madFlags("k", "v")(df.toDF("k", "v"))
    val a = r.where($"k" === "a").collect()
    assert(a.forall(x => x.getDouble(2) == 5.5 && x.getDouble(3) == 2.5))
    assert(a.filter(_.getBoolean(4)).map(_.getLong(1)).toSeq == Seq(1000L))
    val b = r.where($"k" === "b").collect()
    assert(b.forall(x => x.getDouble(2) == 5.0 && x.getDouble(3) == 0.0))
    assert(b.filter(_.getBoolean(4)).map(_.getLong(1)).toSeq == Seq(50L))
  }

  test("madFlagsSketch agrees with exact flags away from the cutoff") {
    import graft.ops.Outliers
    // exp-ish skew: most mass near 0, a sparse far tail — every point
    // is far from the 3.5·MAD cutoff relative to GK's 1e-4 rank error
    val df = spark.range(2000)
      .selectExpr("'g' AS k", "cast(pow(id % 40, 2) + (id % 7) * 10000 * cast(id % 97 = 0 as int) as long) AS v")
    val exact = Outliers.madFlags("k", "v")(df)
      .select("v", "is_outlier").distinct().collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val approx = Outliers.madFlagsSketch("k", "v")(df)
      .select("v", "is_outlier").distinct().collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(exact.keySet == approx.keySet)
    val disagree = exact.count { case (v, f) => approx(v) != f }
    assert(disagree == 0, s"$disagree values flagged differently")
  }

  test("entity resolution: blocked pairs, oversized-block refusal, null keys never pair") {
    import graft.ops.EntityRes
    val recs = Seq(
      (1L, "smith john", "NY"), (2L, "smith jon", "NY"), (3L, "smyth john", "NY"),
      (4L, "doe jane", "CA"), (5L, "doe janet", "CA"),
      (6L, "smith john", "TX"),              // same name, other block -> no pair
      (7L, "null-block", null.asInstanceOf[String]),
      (8L, "null-block", null.asInstanceOf[String])
    ).toDF("id", "name", "state")
    val pairs = EntityRes.candidatePairs("id", "name", Seq("state"), maxDist = 2)(recs)
      .select("id_a", "id_b", "dist").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // NY: (1,2) dist 1, (1,3) dist 1, (2,3) dist 2; CA: (4,5) dist 1; NULL block: nothing
    assert(pairs.toSet == Set((1L, 2L, 1), (1L, 3L, 1), (2L, 3L, 2), (4L, 5L, 1)))

    // cap blocks at 2 records: NY (3 recs) is refused and reported
    val capped = EntityRes.candidatePairs("id", "name", Seq("state"), maxDist = 2, maxBlock = 2)(recs)
    assert(capped.select("id_a").collect().map(_.getLong(0)).toSet == Set(4L))
    // the NULL block is reported as refused at ANY size: the blocked
    // self-join can never pair null keys, so omitting it would let
    // "empty = candidate set complete" lie about rows 7/8
    val over = EntityRes.oversizedBlocks(Seq("state"), maxBlock = 2)(recs).collect()
    assert(over.map(r => (Option(r.getString(0)), r.getLong(1))).toSet ==
      Set((Some("NY"), 3L), (None, 2L)))

    // transitive grouping: NY chain {1,2,3} labels to min id 1
    val groups = EntityRes.matchGroups("id", "name", Seq("state"), maxDist = 2)(recs)
    val byDoc = groups.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    groups.unpersist()
    assert(byDoc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))

    val plan = EntityRes.candidatePairs("id", "name", Seq("state"), maxDist = 2)(recs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("entity resolution: subBlock refines hot blocks instead of refusing them") {
    import graft.ops.EntityRes
    val recs = Seq(
      (1L, "smith john", "NY"), (2L, "smith jon", "NY"), (3L, "smyth john", "NY"),
      (4L, "doe jane", "CA"), (5L, "doe janet", "CA")
    ).toDF("id", "name", "state")
    // maxBlock=2 refuses NY (3 recs) outright today; with a first-3-
    // chars sub-key NY splits into {smi: 2 recs, smy: 1} — both within
    // the bound, so the smi pair (1,2) is RECOVERED. (1,3)/(2,3) cross
    // sub-keys: the documented blocking-recall trade, not candidates.
    val pairs = EntityRes.candidatePairs("id", "name", Seq("state"), maxDist = 2,
      maxBlock = 2, subBlock = Some(substring(col("name"), 1, 3)))(recs)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (4L, 5L)), s"got $pairs")
    // small blocks are untouched: enabling subBlock only ADDS pairs
    val refusedOnly = EntityRes.candidatePairs("id", "name", Seq("state"), maxDist = 2,
      maxBlock = 2)(recs)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(refusedOnly.subsetOf(pairs))
    // a sub-block still over the bound is still refused (never waived):
    // sub-key constant over the hot block -> refined blocks = block
    val stillHot = EntityRes.candidatePairs("id", "name", Seq("state"), maxDist = 2,
      maxBlock = 2, subBlock = Some(lit("k")))(recs)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stillHot == refusedOnly, s"got $stillHot")
    // matchGroups composes: the recovered NY pair groups 1-2
    val groups = EntityRes.matchGroups("id", "name", Seq("state"), maxDist = 2,
      maxBlock = 2, subBlock = Some(substring(col("name"), 1, 3)))(recs)
    val byDoc = groups.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    groups.unpersist()
    assert(byDoc == Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("entity resolution: the loud cap fires under identical-copy amplification") {
    import graft.ops.EntityRes
    // the Amplify protocol in miniature: union id-remapped copies, so
    // every block's size multiplies by the copy count (the skew-growth
    // worst case the maxBlock cap exists for)
    val base = (
      (1L to 4L).map(i => (i, s"alpha $i", "AA")) ++
      (1L to 6L).map(i => (i + 100L, s"beta $i", "BB")) ++
      (1L to 8L).map(i => (i + 200L, s"gamma $i", "CC"))
    ).toDF("id", "name", "state")
    val copies = 4
    val amplified = (0 until copies)
      .map(c => base.withColumn("id", col("id") + lit(c * 1000L)))
      .reduce(_ unionAll _)
    // amplified block sizes: AA=16, BB=24, CC=32. Cap 20: AA survives,
    // BB and CC cross the cap and MUST be loudly reported + excluded
    val over = EntityRes.oversizedBlocks(Seq("state"), maxBlock = 20)(amplified)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(over == Set(("BB", 24L), ("CC", 32L)), s"got $over")
    val capped = EntityRes.candidatePairs("id", "name", Seq("state"),
      maxDist = 2, maxBlock = 20)(amplified)
    // capped pairs live ONLY in surviving blocks — the worst block's
    // size^2 cost is held at maxBlock^2 no matter how skew grows
    val states = capped.join(amplified.select(col("id").as("id_a"), col("state")), "id_a")
      .select("state").distinct().collect().map(_.getString(0)).toSet
    assert(states == Set("AA"), s"pairs leaked from refused blocks: $states")
    // and within a surviving block the pair set is the uncapped one:
    // 16 'alpha N' copies, every cross pair within levenshtein 2
    // (digits differ by at most 1 char) -> C(16,2) = 120
    assert(capped.count() == 120)
  }

  test("entity resolution: refused sub-blocks are enumerated and exactly explain the missing pairs") {
    import graft.ops.EntityRes
    // every hot-block outcome in one fixture (cap 4):
    //   S  small (3 rows)                      -> paired as usual
    //   H1 hot (8): sub x*3 kept, sub y*5 STILL over cap -> refused
    //   H2 hot (6): sub x*4 kept, sub NULL*2   -> dropped, reported
    // names are all pairwise levenshtein<=1 within a block, so every
    // within-block pair is a match pair and the arithmetic is exact
    val rows =
      (1L to 3L).map(i => (i, s"a$i", "S", "x")) ++
      (11L to 13L).map(i => (i, s"a${i - 10}", "H1", "x")) ++
      (14L to 18L).map(i => (i, s"a${i - 10}", "H1", "y")) ++
      (21L to 24L).map(i => (i, s"a${i - 20}", "H2", "x")) ++
      (25L to 26L).map(i => (i, s"a${i - 20}", "H2", null.asInstanceOf[String]))
    val recs = rows.toDF("id", "name", "state", "sk")
    val cap = 4L

    // the reporting face: H1's y-group is still over the bound, H2's
    // NULL group can never equi-join — both enumerated, nothing else
    val refused = EntityRes.refusedSubBlocks(Seq("state"), cap, col("sk"))(recs)
      .collect().map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2))).toSet
    assert(refused == Set(("H1", Some("y"), 5L), ("H2", None, 2L)), s"got $refused")

    // the accounting: recall rows carry kept/cross/refused per block
    val recall = EntityRes.subBlockRecall("id", "name", Seq("state"),
      maxDist = 2, maxBlock = cap, subBlock = col("sk"))(recs)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))
      .toMap
    // H1: C(8,2)=28 pairs; kept C(3,2)=3; cross 3*5=15; refused C(5,2)=10
    assert(recall("H1") == (8L, 28L, 3L, 15L, 10L, 3.0 / 28))
    // H2: C(6,2)=15; kept C(4,2)=6; cross 2*4 + C(2,2)=9 (NULL sub-key
    // pairs are cross by definition); refused 0
    assert(recall("H2") == (6L, 15L, 6L, 9L, 0L, 6.0 / 15))
    recall.values.foreach { case (_, un, k, c, rf, _) => assert(un == k + c + rf) }

    // the missing-pair identity, each side computed independently:
    // uncapped - subblocked == sum(lost), subblocked - refusal-only ==
    // sum(kept) — the enumerated drops EXACTLY explain the delta
    val uncapped = EntityRes.candidatePairs("id", "name", Seq("state"),
      maxDist = 2, maxBlock = 10000L)(recs).count()
    val refusalOnly = EntityRes.candidatePairs("id", "name", Seq("state"),
      maxDist = 2, maxBlock = cap)(recs).count()
    val subBlocked = EntityRes.candidatePairs("id", "name", Seq("state"),
      maxDist = 2, maxBlock = cap, subBlock = Some(col("sk")))(recs).count()
    assert(uncapped == 46L && refusalOnly == 3L && subBlocked == 12L)
    val lost = recall.values.map { case (_, _, _, c, rf, _) => c + rf }.sum
    val kept = recall.values.map { case (_, _, k, _, _, _) => k }.sum
    assert(uncapped - subBlocked == lost)
    assert(subBlocked - refusalOnly == kept)

    // and n_lost_refused re-derived from the reporting face alone:
    // pairs inside the enumerated over-cap sub-groups (y*5 -> C(5,2))
    val refusedPairs = recall.values.map { case (_, _, _, _, rf, _) => rf }.sum
    assert(refusedPairs == 10L)
  }

  test("entity resolution: OR-amplified banded sub-blocking — kept/refused/cross accounting and multi-band dedup") {
    import graft.ops.EntityRes
    // one hot block (cap 4) exercising every banded outcome, with
    // caller-supplied band columns so bucket membership is explicit:
    //   1,2  collide in TWO within-cap buckets (p and q) -> ONE pair
    //   3..7 collide only in over-cap buckets (r*5, v*5) -> refused
    //   8    NULL in both bands -> never collides -> its pairs cross
    //   1x3..7 etc. share no bucket -> cross
    // names pairwise levenshtein 1, so every within-block pair matches
    val rows =
      Seq((1L, "a1", "p", "q"), (2L, "a2", "p", "q"),
        (3L, "a3", "r", "v"), (4L, "a4", "r", "v"), (5L, "a5", "r", "v"),
        (6L, "a6", "r", "v"), (7L, "a7", "r", "v"),
        (8L, "a8", null.asInstanceOf[String], null.asInstanceOf[String]))
        .map { case (i, n, b0, b1) => (i, n, "H", b0, b1) } ++
      Seq((21L, "s1", "S", "x", "x"), (22L, "s2", "S", "x", "x")) // small block
    val recs = rows.toDF("id", "name", "state", "b0", "b1")
    val bands = array(col("b0"), col("b1"))
    val cap = 4L

    val pairs = EntityRes.candidatePairsBanded("id", "name", Seq("state"),
      maxDist = 2, maxBlock = cap, bands = bands)(recs)
    val got = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // the dual collision of (1,2) must collapse to ONE row (distinct)
    assert(got.length == got.toSet.size, s"duplicate pairs: ${got.toSeq}")
    assert(got.toSet == Set((1L, 2L), (21L, 22L)), s"got ${got.toSeq}")

    val recall = EntityRes.bandedSubBlockRecall("id", "name", Seq("state"),
      maxDist = 2, maxBlock = cap, bands = bands)(recs)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))
      .toMap
    // H: C(8,2)=28 pairs; kept (1,2); refused C(5,2)=10 (rows 3..7,
    // every collision over cap); cross 2*5 + 7 (row 8's pairs) = 17
    assert(recall == Map("H" -> (8L, 28L, 1L, 17L, 10L, 1.0 / 28)), s"got $recall")
    recall.values.foreach { case (_, un, k, c, rf, _) => assert(un == k + c + rf) }
    // never a cartesian on the banded path either
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)

    // matchGroupsBanded composes: the banded pair graph groups
    // {1,2} -> 1 and {21,22} -> 21; the refused/cross rows stay out
    val groups = EntityRes.matchGroupsBanded("id", "name", Seq("state"),
      maxDist = 2, maxBlock = cap, bands = bands)(recs)
    val byDoc = groups.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    groups.unpersist()
    assert(byDoc == Map(1L -> 1L, 2L -> 1L, 21L -> 21L, 22L -> 21L), s"got $byDoc")
  }

  test("incremental ER: batch pairs only against master, novel rows surface with NULL cluster") {
    import graft.ops.EntityRes
    val master = Seq(
      (1L, "smith john", "NY", 10L), (2L, "smith jon", "NY", 10L), // resolved cluster 10
      (3L, "doe jane", "CA", 3L),
      (4L, "hot a", "TX", 4L), (5L, "hot b", "TX", 5L), (6L, "hot c", "TX", 6L)
    ).toDF("id", "name", "state", "cluster")
    val batch = Seq(
      (101L, "smith john", "NY"),  // exact match -> cluster 10 (min of {1,2}'s cluster)
      (102L, "smith johm", "NY"),  // dist 1 to both -> cluster 10, n_matches 2
      (103L, "completely new", "NV"), // no master block at all -> novel
      (104L, "doe jane", "WA"),    // block absent from master -> novel
      (105L, "hot a", "TX"),       // master TX block (3 rows) over cap 2 -> novel
      (106L, "batch twin", "CA"), (107L, "batch twin", "CA") // batch x batch NEVER pairs
    ).toDF("id", "name", "state")
    val cap = 2L

    val pairs = EntityRes.incrementalPairs("id", "name", Seq("state"),
      maxDist = 2, maxBlock = cap)(batch, master)
      .select("batch_id", "master_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // only batch x master, only blocks within cap ON BOTH SIDES:
    // NY pairs (2 rows each side); CA joins but no name within dist
    // (106/107 never pair with EACH OTHER — no batch x batch); TX
    // refused on the master side (3 rows > cap)
    assert(pairs == Set((101L, 1L), (101L, 2L), (102L, 1L), (102L, 2L)), s"got $pairs")

    val assign = EntityRes.incrementalAssign("id", "name", Seq("state"),
      maxDist = 2, maxBlock = cap, clusterCol = "cluster")(batch, master)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2))).toMap
    assert(assign(101L) == (Some(10L), 2L))
    assert(assign(102L) == (Some(10L), 2L))
    // every non-matching row is a loud novel, never a dropped one
    Seq(103L, 104L, 105L, 106L, 107L).foreach { id =>
      assert(assign(id) == (None, 0L), s"row $id: ${assign(id)}")
    }
    assert(assign.keySet == Set(101L, 102L, 103L, 104L, 105L, 106L, 107L))
  }

  test("incremental ER cluster maintenance: batch evidence merges master clusters, transitively") {
    import graft.ops.EntityRes
    val master = Seq(
      (1L, "alpha x", "NY", 10L), (2L, "alpha y", "NY", 20L),   // distinct clusters
      (3L, "aaaa aa", "CA", 30L), (4L, "aaaa cc", "CA", 40L),
      (5L, "cccc cc", "CA", 50L)
    ).toDF("id", "name", "state", "cluster")
    val batch = Seq(
      (101L, "alpha z", "NY"), // matches 1 AND 2 -> clusters 10, 20 merge
      (102L, "aaaa ac", "CA"), // matches 3, 4 -> 30, 40 merge
      (103L, "aacc cc", "CA"), // matches 4, 5 -> 40, 50 merge; with 102: {30,40,50}
      (104L, "zzzz zz", "NV")  // novel: no master block at all
    ).toDF("id", "name", "state")

    val merges = EntityRes.incrementalMerges("id", "name", Seq("state"),
      maxDist = 2, maxBlock = 10L, clusterCol = "cluster")(batch, master)
    val remap = merges.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // transitive: 102 merges {30,40}, 103 merges {40,50} -> one
    // component {30,40,50} with min 30; unchanged clusters stay out
    assert(remap == Map(20L -> 10L, 40L -> 30L, 50L -> 30L), s"got $remap")

    val resolvedDf = EntityRes.incrementalResolve("id", "name", Seq("state"),
      maxDist = 2, maxBlock = 10L, clusterCol = "cluster")(batch, master)
    // best_dist rides along for parity with incrementalAssign: the
    // null-able 4th column, NULL exactly for the novel row
    assert(resolvedDf.columns.toSeq ==
      Seq("batch_id", "cluster_id", "n_matches", "best_dist"))
    val resolved = resolvedDf
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getInt(3)))).toMap
    // matched rows land on the POST-merge component min; the novel row
    // becomes its own new cluster, loudly marked by n_matches = 0
    assert(resolved == Map(
      101L -> (10L, 2L, Some(1)), 102L -> (30L, 2L, Some(1)),
      103L -> (30L, 2L, Some(2)), 104L -> (104L, 0L, None)), s"got $resolved")

    // the tuple face derives BOTH results from one persisted pair
    // plan; its merges component must be row-identical to the
    // standalone incrementalMerges face
    val (resolved2, merges2) = EntityRes.incrementalResolveAndMerges(
      "id", "name", Seq("state"),
      maxDist = 2, maxBlock = 10L, clusterCol = "cluster")(batch, master)
    assert(merges2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == remap)
    assert(resolved2.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
      if (r.isNullAt(3)) None else Some(r.getInt(3)))).toMap == resolved)
  }

  test("refusedIncrementalBlocks: either-side cap breach and null keys, per-side sizes") {
    import graft.ops.EntityRes
    val master = Seq(
      (1L, "a", "NY"), (2L, "b", "NY"), (3L, "c", "NY"), // 3 > cap on master side
      (4L, "d", null.asInstanceOf[String])               // null key: never pairable
    ).toDF("id", "name", "state")
    val batch = Seq(
      (101L, "x", "NY"), (102L, "y", "TX"),              // TX absent from master: fine
      (103L, "z", null.asInstanceOf[String])
    ).toDF("id", "name", "state")
    val got = EntityRes.refusedIncrementalBlocks(Seq("state"), maxBlock = 2L)(batch, master)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    // NY refused by the master side (batch side rides along as 1);
    // null-keyed blocks report PER SIDE (equi-join semantics — the
    // full join cannot unify null keys), TX is within bound on both
    assert(got == Set(
      (Some("NY"), 1L, 3L), (None, 1L, 0L), (None, 0L, 1L)), s"got $got")
  }

  test("applyMergeLog: remap chains across log batches collapse in one pass") {
    import graft.ops.EntityRes
    // batch 1 logged 50->30, a later batch logged 30->10 (plus an
    // unrelated 7->5): a master row stored under 50 must land on 10
    val log = Seq((50L, 30L), (30L, 10L), (7L, 5L)).toDF("old_cluster", "new_cluster")
    val master = Seq(
      (1L, 50L), (2L, 30L), (3L, 10L), (4L, 99L), (5L, 7L)
    ).toDF("id", "cluster")
    val out = EntityRes.applyMergeLog("cluster", log)(master)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 10L, 2L -> 10L, 3L -> 10L, 4L -> 99L, 5L -> 5L), s"got $out")
  }

  test("band ladder: evidence counts per-band refusals; recommendation re-splits the surviving hull") {
    import graft.ops.EntityRes
    import graft.ops.EntityRes.SegSpec
    // one hot CA block (8 > cap 3): the coarse chars-1-2 band is a
    // single "XX" bucket (refused), the two suffix bands are 1-2 row
    // buckets (survive); rows 1/2 are a dist-1 match pair reachable
    // only through the suffix "aa" bucket
    val df = Seq(
      (1L, "XXaaqq", "CA"), (2L, "XXaaqr", "CA"), (3L, "XXbbss", "CA"),
      (4L, "XXccdd", "CA"), (5L, "XXeeff", "CA"), (6L, "XXgghh", "CA"),
      (7L, "XXiijj", "CA"), (8L, "XXkkll", "CA")
    ).toDF("id", "name", "state")
    val spec = Seq(SegSpec(1, 2), SegSpec(3, 2), SegSpec(5, 2))
    val ev = EntityRes.bandEvidence("name", Seq("state"), maxBlock = 3, spec)(df)
      .collect().map(r => r.getInt(0) ->
        (r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getDouble(7))).toMap
    assert(ev(0) == (1, 2, 8L, 8L, 1.0), s"got $ev")   // coarse: all rows refused
    assert(ev(1) == (3, 2, 8L, 0L, 0.0), s"got $ev")
    assert(ev(2) == (5, 2, 8L, 0L, 0.0), s"got $ev")

    // drop the coarse band, re-split the surviving hull [3, 7) into
    // maxDist + 1 = 2 pigeonhole segments — deterministically
    val rec = EntityRes.recommendSegBands("name", Seq("state"), maxBlock = 3,
      spec, maxDist = 1)(df)
    val (refined, action) = EntityRes.collectRecommendedSpec(rec)
    assert(action == "refined", action)
    assert(refined == Seq(SegSpec(3, 2), SegSpec(5, 2)), s"got $refined")

    // the loop CLOSES: the refined spec's bands rescue the hot-block
    // pair the plain capped path refuses
    val plain = EntityRes.candidatePairs("id", "name", Seq("state"),
      maxDist = 1, maxBlock = 3)(df).count()
    assert(plain == 0L)
    val banded = EntityRes.candidatePairsBanded("id", "name", Seq("state"),
      maxDist = 1, maxBlock = 3,
      bands = EntityRes.bandsFromSpec(col("name"), refined))(df)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == Set((1L, 2L)), s"got $banded")

    // terminal face: every band's bucket over the cap -> the ladder
    // is exhausted; the ORIGINAL spec re-emits, loudly marked
    val same = Seq.tabulate(8)(i => (i.toLong, "XXXXXX", "CA")).toDF("id", "name", "state")
    val (spec2, act2) = EntityRes.collectRecommendedSpec(
      EntityRes.recommendSegBands("name", Seq("state"), maxBlock = 3,
        spec, maxDist = 1)(same))
    assert(act2 == "terminal", act2)
    assert(spec2 == spec, s"got $spec2")

    // splitSegments mirrors segmentBands' floor boundaries
    assert(EntityRes.splitSegments(15, 4, 3) ==
      Seq(SegSpec(15, 1), SegSpec(16, 1), SegSpec(17, 2)))
  }

  test("band ladder: degraded action on a short hull, loop terminates without oscillation") {
    import graft.ops.EntityRes
    import graft.ops.EntityRes.SegSpec
    // one surviving single-char band -> hull width 1 < maxDist+1 = 2:
    // the re-split CANNOT restore the pigeonhole guarantee and must
    // say so (ADVICE r16: silently marking it 'refined' feeds the
    // automated loop a weakened spec). Band 0 (chars 1-4) is shared
    // by all rows -> its one bucket is over cap 3 -> 100% refused;
    // band 1 (char 5) splits the rows -> survives.
    val short = Seq(
      (1L, "XXXXa", "CA"), (2L, "XXXXb", "CA"), (3L, "XXXXc", "CA"),
      (4L, "XXXXd", "CA"), (5L, "XXXXe", "CA"), (6L, "XXXXf", "CA")
    ).toDF("id", "name", "state")
    val shortSpec = Seq(SegSpec(1, 4), SegSpec(5, 1))
    val (deg, act) = EntityRes.collectRecommendedSpec(
      EntityRes.recommendSegBands("name", Seq("state"), maxBlock = 3,
        shortSpec, maxDist = 1)(short))
    assert(act == "degraded", s"got $act")
    assert(deg == Seq(SegSpec(5, 1)), s"got $deg") // best-effort: the hull, once

    // the executed loop on the gate-shaped fixture: refines once
    // ({aa}-style coarse band dropped), then stops at the fixpoint —
    // no oscillation, trajectory monotone in refused fraction
    val df = Seq(
      (1L, "XXaaqq", "CA"), (2L, "XXaaqr", "CA"), (3L, "XXbbss", "CA"),
      (4L, "XXccdd", "CA"), (5L, "XXeeff", "CA"), (6L, "XXgghh", "CA"),
      (7L, "XXiijj", "CA"), (8L, "XXkkll", "CA")
    ).toDF("id", "name", "state")
    val spec = Seq(SegSpec(1, 2), SegSpec(3, 2), SegSpec(5, 2))
    val steps = EntityRes.refineBandsLoop("name", Seq("state"), maxBlock = 3,
      spec, maxDist = 1, maxIters = 5)(df)
    assert(steps.length <= 4, s"loop ran ${steps.length - 1} iterations: $steps")
    assert(steps.head.action == "initial" && steps.head.refusedRows > 0L)
    assert(steps.last.refusedFrac <= steps.head.refusedFrac)
    // terminates at a fixpoint or a non-refined action, never the
    // iteration cap
    assert(steps.length - 1 < 5, "loop hit maxIters — oscillation")
    assert(steps.tail.sliding(2).forall {
      case Seq(a, b) => b.refusedFrac <= a.refusedFrac || b.action != "refined"
      case _ => true
    }, s"refusal fraction rose mid-loop: $steps")

    // an all-identical corpus: terminal on iteration 1, loop stops
    val same = Seq.tabulate(8)(i => (i.toLong, "XXXXXX", "CA")).toDF("id", "name", "state")
    val stepsT = EntityRes.refineBandsLoop("name", Seq("state"), maxBlock = 3,
      spec, maxDist = 1, maxIters = 5)(same)
    assert(stepsT.length == 2 && stepsT.last.action == "terminal", s"got $stepsT")
  }

  test("banded incremental ER: hot blocks rescue through band buckets, all three audit arms") {
    import graft.ops.EntityRes
    val master = Seq(
      (1L, "smith john", "NY", 10L), (2L, "smith jon", "NY", 10L), // ok block
      (4L, "hot a", "TX", 4L), (5L, "hot b", "TX", 5L), (6L, "hot c", "TX", 6L), // hot
      (7L, "zzz q1", "WA", 7L), (8L, "zzz q2", "WA", 8L), (9L, "zzz q3", "WA", 9L) // hot
    ).toDF("id", "name", "state", "cluster")
    val batch = Seq(
      (101L, "smith john", "NY"), // ok block -> direct pair, as before
      (105L, "hot a", "TX"),      // rescued: last-char band "a" collides within cap
      (110L, "hoz b", "TX"),      // kept vs 5 (band "b"), cross vs 4 and 6
      (108L, "zzz q4", "WA")      // collides ONLY in the over-cap prefix bucket -> refused
    ).toDF("id", "name", "state")
    val cap = 2L
    // band 0: 3-char name prefix (master TX/WA buckets have 3 rows — over cap,
    // refused on the master side); band 1: last char (singleton buckets — kept)
    val bands = array(
      concat(lit("p:"), substring(col("name"), 1, 3)),
      concat(lit("s:"), substring(col("name"), -1, 1)))

    val pairs = EntityRes.incrementalPairsBanded("id", "name", Seq("state"),
      maxDist = 2, maxBlock = cap, bands = bands)(batch, master)
      .select("batch_id", "master_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // direct NY pairs + the two band-rescued TX pairs; WA stays refused
    assert(pairs == Set((101L, 1L), (101L, 2L), (105L, 4L), (110L, 5L)), s"got $pairs")
    // adding bands never removes the plain path's pairs
    val plain = EntityRes.incrementalPairs("id", "name", Seq("state"),
      maxDist = 2, maxBlock = cap)(batch, master)
      .select("batch_id", "master_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain.subsetOf(pairs), s"plain $plain not within banded $pairs")

    // the recall audit: TX 6 uncapped pairs = 2 kept + 2 cross + 2 refused;
    // WA 3 uncapped pairs all refused (every collision over-cap on the master side)
    val recall = EntityRes.incrementalBandedRecall("id", "name", Seq("state"),
      maxDist = 2, maxBlock = cap, bands = bands)(batch, master)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    assert(recall == Map(
      "TX" -> (2L, 3L, 6L, 2L, 2L, 2L),
      "WA" -> (1L, 3L, 3L, 0L, 0L, 3L)), s"got $recall")

    // the assignment face with bands: 105 resolves (was a false novel at cap 2),
    // 110 takes the min matched cluster, 108 stays a loud novel
    val assign = EntityRes.incrementalAssign("id", "name", Seq("state"),
      maxDist = 2, maxBlock = cap, clusterCol = "cluster", bands = Some(bands))(
      batch, master)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2))).toMap
    assert(assign(101L) == (Some(10L), 2L))
    assert(assign(105L) == (Some(4L), 1L))
    assert(assign(110L) == (Some(5L), 1L))
    assert(assign(108L) == (None, 0L))

    // adaptive idle-cap pricing moves COST, never semantics: with hot
    // blocks present it must equal the declarative banded plan ...
    val adaptivePairs = EntityRes.incrementalPairsBanded("id", "name", Seq("state"),
      maxDist = 2, maxBlock = cap, bands = bands, adaptive = true)(batch, master)
      .select("batch_id", "master_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(adaptivePairs == pairs, s"adaptive $adaptivePairs != banded $pairs")
    // ... and with the cap idle (no hot block at cap 100) BOTH faces
    // must equal the plain path they collapse to
    val idlePlain = EntityRes.incrementalPairs("id", "name", Seq("state"),
      maxDist = 2, maxBlock = 100L)(batch, master)
      .select("batch_id", "master_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq(false, true).foreach { ad =>
      val got = EntityRes.incrementalPairsBanded("id", "name", Seq("state"),
        maxDist = 2, maxBlock = 100L, bands = bands, adaptive = ad)(batch, master)
        .select("batch_id", "master_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == idlePlain, s"adaptive=$ad idle-cap $got != plain $idlePlain")
    }
    // the resolve face threads the flag: identical assignments
    val adaptiveAssign = EntityRes.incrementalAssign("id", "name", Seq("state"),
      maxDist = 2, maxBlock = cap, clusterCol = "cluster", bands = Some(bands),
      adaptive = true)(batch, master)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2))).toMap
    assert(adaptiveAssign == assign, s"got $adaptiveAssign")
  }

  test("banded incremental ER: generative accounting identity across three paths") {
    import graft.ops.EntityRes
    // same discipline as the self-join identity test: the audit must be
    // exhaustive, the banded pair count must equal plain-path pairs plus
    // exactly the audit's kept pairs, and banded pairs must be a subset
    // of the uncapped batch x master pair set
    val rnd = new scala.util.Random(16)
    for (c <- 1 to 8) {
      val nBlocks = 1 + rnd.nextInt(4)
      def mkRows(n: Int, idBase: Long) = (1 to n).map { i =>
        val name = "n" + (1 to 3).map(_ => ('0' + rnd.nextInt(4)).toChar).mkString
        def bv(k: Int): String = if (rnd.nextInt(100) < 15) null else "v" + rnd.nextInt(k)
        (idBase + i, name, "B" + rnd.nextInt(nBlocks), bv(2), bv(4))
      }
      val master = mkRows(8 + rnd.nextInt(40), 0L).toDF("id", "name", "state", "b0", "b1")
      val batch = mkRows(4 + rnd.nextInt(20), 1000L).toDF("id", "name", "state", "b0", "b1")
      val bands = array(col("b0"), col("b1"))
      val cap = 4L
      val banded = EntityRes.incrementalPairsBanded(
        "id", "name", Seq("state"), maxDist = 2, maxBlock = cap, bands = bands)(batch, master)
      val audit = EntityRes.incrementalBandedRecall(
        "id", "name", Seq("state"), maxDist = 2, maxBlock = cap, bands = bands)(batch, master)
        .collect()
      val plain = EntityRes.incrementalPairs(
        "id", "name", Seq("state"), maxDist = 2, maxBlock = cap)(batch, master)
      val uncapped = EntityRes.incrementalPairs(
        "id", "name", Seq("state"), maxDist = 2, maxBlock = 100000L)(batch, master)
      audit.foreach { r =>
        assert(r.getLong(3) == r.getLong(4) + r.getLong(5) + r.getLong(6),
          s"case $c: non-exhaustive classification in ${r.mkString(",")}")
      }
      val kept = audit.map(_.getLong(4)).sum
      assert(banded.count() == plain.count() + kept,
        s"case $c: banded pair count != plain pairs + audit kept")
      assert(banded.select("batch_id", "master_id")
        .exceptAll(uncapped.select("batch_id", "master_id")).count() == 0L,
        s"case $c: banded produced a pair the uncapped path doesn't have")
      // never a cartesian on the incremental banded path
      val plan = banded.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    }
  }

  test("banded sub-blocking: generative accounting identity across three independent paths") {
    import graft.ops.EntityRes
    // seeded random fixtures: the recall audit's per-block accounting
    // must be exhaustive (uncapped == kept + cross + refused), the
    // production path's pair count must equal small-block pairs plus
    // exactly the audit's kept pairs, and banded pairs must be a
    // subset of the uncapped pair set — three paths, each computed by
    // different code (pairWithin vs the banded explode vs the audit's
    // classification join), reconciled per case
    val rnd = new scala.util.Random(15)
    for (c <- 1 to 8) {
      val nBlocks = 1 + rnd.nextInt(4)
      val n = 8 + rnd.nextInt(40)
      val rows = (1 to n).map { i =>
        val name = "n" + (1 to 3).map(_ => ('0' + rnd.nextInt(4)).toChar).mkString
        def bv(k: Int): String = if (rnd.nextInt(100) < 15) null else "v" + rnd.nextInt(k)
        (i.toLong, name, "B" + rnd.nextInt(nBlocks), bv(2), bv(4))
      }
      val recs = rows.toDF("id", "name", "state", "b0", "b1")
      val bands = array(col("b0"), col("b1"))
      val cap = 4L
      val banded = EntityRes.candidatePairsBanded(
        "id", "name", Seq("state"), maxDist = 2, maxBlock = cap, bands = bands)(recs)
      val audit = EntityRes.bandedSubBlockRecall(
        "id", "name", Seq("state"), maxDist = 2, maxBlock = cap, bands = bands)(recs)
        .collect()
      val uncapped = EntityRes.candidatePairs(
        "id", "name", Seq("state"), maxDist = 2, maxBlock = 100000L)(recs)
      audit.foreach { r =>
        assert(r.getLong(2) == r.getLong(3) + r.getLong(4) + r.getLong(5),
          s"case $c: non-exhaustive classification in ${r.mkString(",")}")
      }
      val hotUncapped = audit.map(_.getLong(2)).sum
      val kept = audit.map(_.getLong(3)).sum
      assert(banded.count() == uncapped.count() - hotUncapped + kept,
        s"case $c: banded pair count != small pairs + audit kept")
      assert(banded.select("id_a", "id_b")
        .exceptAll(uncapped.select("id_a", "id_b")).count() == 0L,
        s"case $c: banded produced a pair the uncapped path doesn't have")
    }
  }

  test("segmentBands: pigeonhole recovery for bounded substitutions, length tagging") {
    import graft.ops.EntityRes
    // hand case: boundaries are floor(i*len/3)
    val r = spark.range(1).select(
      EntityRes.segmentBands(lit("abcdef"), 3).as("b6"),
      EntityRes.segmentBands(lit("abcdefg"), 3).as("b7"),
      EntityRes.segmentBands(lit(null).cast("string"), 3).as("bn")).collect()(0)
    assert(r.getSeq[String](0) == Seq("6:ab", "6:cd", "6:ef"))
    // len 7: floors at 0,2,4,7 -> segments ab, cd, efg — length-tagged
    // so same-content prefixes of different lengths never collide
    assert(r.getSeq[String](1) == Seq("7:ab", "7:cd", "7:efg"))
    // NULL input: every band KEY is NULL (dropped by the banded
    // callers' blocking-NULL contract — the row never pairs)
    assert(r.getSeq[String](2) == Seq(null, null, null))

    // PROPERTY (the PassJoin guarantee the banded remedy rests on):
    // two equal-length strings differing in <= 2 substitutions agree
    // on >= 1 of 3 segment bands — checked for every length 3..30 and
    // every substitution-position pair, exhaustively, in one job
    val cases = for {
      len <- 3 to 30
      i <- 0 until len
      j <- i until len
    } yield {
      val s = (0 until len).map(p => ('a' + (p % 26)).toChar).mkString
      val t = s.updated(i, 'Z').updated(j, if (i == j) 'Z' else 'Y')
      (s, t)
    }
    val df = cases.toDF("s", "t")
      .select(EntityRes.segmentBands(col("s"), 3).as("bs"),
        EntityRes.segmentBands(col("t"), 3).as("bt"))
      .select(exists(zip_with(col("bs"), col("bt"), (a, b) => a === b),
        identity[org.apache.spark.sql.Column]).as("hit"))
    val misses = df.where(!col("hit")).count()
    assert(misses == 0L, s"$misses substitution pairs missed by all 3 bands")
  }

  test("segmentBands: unrolled form == higher-order-function reference, bit-exact") {
    import graft.ops.EntityRes
    // the r19 unroll replaces the lambda variable with a literal —
    // every band key must match the HOF form exactly, across normal /
    // shorter-than-bands / empty / NULL inputs and band counts 2..5
    val df = Seq("abcdef", "abcdefg", "ab", "", "Customer#000000042")
      .toDF("s")
      .union(Seq.empty[String].toDF("s"))
      .union(spark.range(1).select(lit(null).cast("string").as("s")))
    (2 to 5).foreach { n =>
      val r = df.select(
        EntityRes.segmentBands(col("s"), n).as("u"),
        ParityRefs.segmentBandsHof(col("s"), n).as("h")).collect()
      r.foreach { row =>
        assert(row.getSeq[String](0) == row.getSeq[String](1),
          s"n=$n: ${row.getSeq[String](0)} != ${row.getSeq[String](1)}")
      }
    }
  }

  test("minhashBands: native expression == higher-order-function reference, bit-exact") {
    import graft.ops.EntityRes
    // names spanning the edges: normal, shorter-than-k, empty, NULL,
    // multi-byte chars (substr counts code points, not bytes)
    val df = Seq("smith john", "zz", "", "müller-lüdenscheidt", "夏目漱石", null)
      .zipWithIndex.map(_.swap).toDF("id", "name")
    for ((k, nb) <- Seq((3, 4), (2, 6), (5, 1))) {
      val rows = df.select(col("id"),
          EntityRes.minhashBands(col("name"), k, nb).as("nat"),
          ParityRefs.minhashBandsHof(col("name"), k, nb).as("hof"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"id=${r.getInt(0)} k=$k nb=$nb: native ${r.getSeq[String](1)} != HOF ${r.getSeq[String](2)}")
      }
    }
  }

  test("minhashBands: deterministic, identity-collides, short-string path") {
    import graft.ops.EntityRes
    val r = spark.range(1).select(
      EntityRes.minhashBands(lit("smith john"), 3, 4).as("a"),
      EntityRes.minhashBands(lit("smith john"), 3, 4).as("b"),
      EntityRes.minhashBands(lit("smith jon"), 3, 4).as("c"),
      EntityRes.minhashBands(lit("zz"), 3, 4).as("short"),
      EntityRes.minhashBands(lit("completely different"), 3, 4).as("far")).collect()(0)
    val (a, b, c) = (r.getSeq[String](0), r.getSeq[String](1), r.getSeq[String](2))
    assert(a == b) // pure function of the input
    assert(a.length == 4 && a.forall(_ != null))
    // near-identical names (high shingle jaccard) collide in >= 1 band
    assert(a.zip(c).exists { case (x, y) => x == y }, s"$a vs $c")
    // strings shorter than k hash as one whole-string shingle, no crash
    assert(r.getSeq[String](3).length == 4)
    // a distant string shares no band with a near-exact cluster's keys
    assert(!a.zip(r.getSeq[String](4)).exists { case (x, y) => x == y })
  }

  test("subBlockRecall sampled face: deterministic block subset, exact per-block rows, estimate near full on the gate corpus") {
    import graft.ops.EntityRes
    val cust = spark.read.parquet("/root/testdata/sf0.01/customer.parquet")
    val args = ("c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"))
    def audit(pct: Int) = EntityRes.subBlockRecall(args._1, args._2, args._3,
      maxDist = 2, maxBlock = 12, subBlock = substring(col("c_name"), -2, 2),
      samplePct = pct)(cust)
    val full = audit(100).collect()
      .map(r => (r.get(0), r.getString(1)) -> r.toSeq).toMap
    val sampled = audit(40).collect()
      .map(r => (r.get(0), r.getString(1)) -> r.toSeq).toMap
    // sampled hot blocks are a strict, DETERMINISTIC subset…
    assert(sampled.nonEmpty && sampled.size < full.size)
    assert(sampled.keySet.subsetOf(full.keySet))
    // …whose per-block accounting is EXACT (identical rows)
    sampled.foreach { case (k, v) => assert(v == full(k), s"block $k diverged") }
    // re-run: identical block set (hash, not RNG)
    assert(audit(40).collect().map(r => (r.get(0), r.getString(1))).toSet
      == sampled.keySet)
    // and the corpus-total estimate lands near the full audit (the
    // between-block variance the scaladoc promises — measured 0.046
    // vs 0.054 on this corpus; bound it loosely so testdata regen
    // doesn't flake)
    def recallOf(m: Map[(Any, String), Seq[Any]]) = {
      val u = m.values.map(_(3).asInstanceOf[Long]).sum
      val k = m.values.map(_(4).asInstanceOf[Long]).sum
      k.toDouble / u
    }
    assert(math.abs(recallOf(sampled) - recallOf(full)) <= 0.1,
      s"sampled ${recallOf(sampled)} vs full ${recallOf(full)}")
  }

  test("incrementalBandedRecall sampled face: deterministic block subset, exact rows, estimate near full") {
    import graft.ops.EntityRes
    val cust = spark.read.parquet("/root/testdata/sf0.01/customer.parquet")
    val batch = graft.DedupQueries.incrementalBatch(cust)
    def audit(pct: Int) = EntityRes.incrementalBandedRecall(
      "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"),
      maxDist = 2, maxBlock = 12, bands = graft.DedupQueries.quadBands,
      samplePct = pct)(batch, cust)
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.get(0), r.getString(1)) -> r.toSeq).toMap
    val full = keyed(audit(100).collect())
    val sampled = keyed(audit(40).collect())
    // deterministic strict subset with EXACT per-block rows (bucket
    // keys include the block columns, so sampling whole blocks never
    // distorts per-side bucket sizes)
    assert(sampled.nonEmpty && sampled.size < full.size)
    assert(sampled.keySet.subsetOf(full.keySet))
    sampled.foreach { case (k, v) => assert(v == full(k), s"block $k diverged") }
    assert(keyed(audit(40).collect()).keySet == sampled.keySet) // hash, not RNG
    def recallOf(m: Map[(Any, String), Seq[Any]]) = {
      val u = m.values.map(_(4).asInstanceOf[Long]).sum
      val k = m.values.map(_(5).asInstanceOf[Long]).sum
      k.toDouble / u
    }
    assert(math.abs(recallOf(sampled) - recallOf(full)) <= 0.1,
      s"sampled ${recallOf(sampled)} vs full ${recallOf(full)}")
  }

  test("pageRankFp: exact fixed-point ranks on a hand-computed graph") {
    import graft.ops.Graph
    val edges = Seq((1L, 2L, 1L), (2L, 1L, 1L), (3L, 2L, 1L)).toDF("src", "dst", "weight")
    // scale 1e9, damping 17/20 → base 150M; two exact long iterations:
    // r1 = (1e9, 1.85e9, 150M); r2 = (1.7225e9, 1.1275e9, 150M)
    val r = Graph.pageRankFp(edges, iters = 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 1722500000L, 2L -> 1127500000L, 3L -> 150000000L))
  }

  test("transitionEdges: per-user consecutive steps, deterministic tie-break") {
    import graft.ops.Graph
    val ev = Seq(
      (1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"), (1L, 20L, 3L, "c"), // tie on ts -> event_id order
      (2L, 5L, 4L, "a"), (2L, 6L, 5L, "b")
    ).toDF("user_id", "ts", "event_id", "item")
    val e = Graph.transitionEdges("user_id", "ts", "event_id", "item")(ev)
      .collect().map(x => (x.getString(0), x.getString(1), x.getLong(2))).toSet
    assert(e == Set(("a", "b", 2L), ("b", "c", 1L)))
  }

  test("sweep-line concurrency: cross-bucket offsets, touching intervals overlap") {
    import graft.ops.Sweep
    // three intervals spanning two dates; B touches C end-to-start
    val iv = Seq(
      (1L, "2024-01-01 10:00:00", "2024-01-01 11:00:00"), // A
      (2L, "2024-01-01 10:30:00", "2024-01-02 09:00:00"), // B crosses midnight
      (3L, "2024-01-02 09:00:00", "2024-01-02 10:00:00")  // C starts as B ends
    ).toDF("id", "st", "en")
      .select($"id", to_timestamp($"st").as("st"), to_timestamp($"en").as("en"))
    val curve = Sweep.concurrency("st", "en", Seq("id"))(iv)
      .orderBy($"ts", $"delta".desc) // starts before ends at equal ts — the sweep order
      .collect().map(r => (r.getTimestamp(0).toString, r.getInt(1), r.getLong(3)))
    assert(curve.toSeq == Seq(
      ("2024-01-01 10:00:00.0", 1, 1L),   // A opens
      ("2024-01-01 10:30:00.0", 1, 2L),   // B opens
      ("2024-01-01 11:00:00.0", -1, 1L),  // A closes
      ("2024-01-02 09:00:00.0", 1, 2L),   // C opens BEFORE B's close at same ts
      ("2024-01-02 09:00:00.0", -1, 1L),  // B closes
      ("2024-01-02 10:00:00.0", -1, 0L))) // C closes -> all quiet
  }

  test("concurrency: NULL end = open interval (stays open); NULL start contributes nothing") {
    import graft.ops.Sweep
    val iv = Seq(
      (1L, Option("2024-01-01 10:00:00"), Option("2024-01-01 11:00:00")),
      (2L, Option("2024-01-01 10:30:00"), Option.empty[String]), // open: never closes
      (3L, Option.empty[String], Option("2024-01-01 12:00:00"))  // unplaceable
    ).toDF("id", "st", "en")
      .select($"id", to_timestamp($"st").as("st"), to_timestamp($"en").as("en"))
    val curve = Sweep.concurrency("st", "en", Seq("id"))(iv)
      .orderBy($"ts", $"delta".desc)
      .collect().map(r => (r.getInt(1), r.getLong(3)))
    // A opens, B opens (open-ended), A closes — curve ends at 1, no
    // stray NULL-bucket -1 shifting everything down
    assert(curve.toSeq == Seq((1, 1L), (1, 2L), (-1, 1L)), curve.mkString(","))
  }

  test("concurrency: explode rewrite == two-scan union reference, row-for-row") {
    import graft.ops.Sweep
    // intervals exercising: overlaps, touching boundaries, equal
    // (ts, delta) ties across ids, NULL end (open), NULL start
    // (unplaceable), and a cross-midnight bucket boundary
    val iv = Seq(
      (1L, Option("2024-01-01 10:00:00"), Option("2024-01-01 11:00:00")),
      (2L, Option("2024-01-01 10:00:00"), Option("2024-01-01 11:00:00")),
      (3L, Option("2024-01-01 11:00:00"), Option("2024-01-02 09:00:00")),
      (4L, Option("2024-01-01 23:59:00"), Option.empty[String]),
      (5L, Option.empty[String], Option("2024-01-02 12:00:00")),
      (6L, Option("2024-01-02 09:00:00"), Option("2024-01-02 09:00:00"))
    ).toDF("id", "st", "en")
      .select($"id", to_timestamp($"st").as("st"), to_timestamp($"en").as("en"))
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r =>
        (Option(r.getTimestamp(0)).map(_.toString), r.getInt(1), r.getLong(2), r.getLong(3)))
        .sortBy(x => (x._1, x._2, x._3, x._4)).toSeq
    val nat = rows(Sweep.concurrency("st", "en", Seq("id"))(iv))
    val hof = rows(ParityRefs.concurrencyUnionHof("st", "en", Seq("id"))(iv))
    assert(nat == hof, s"explode $nat != union $hof")
  }

  test("globalRunningSum sequences head-tied buckets by the FULL order key") {
    import graft.ops.Sweep
    // two buckets share head value 10; the second order col breaks the
    // tie — min-of-head-only would order them arbitrarily
    val df = Seq(
      (10, 2, "b2", 100L), (11, 1, "b2", 7L),
      (10, 1, "b1", 1L)
    ).toDF("day", "seq", "bucket", "v")
    val got = Sweep.globalRunningSum("v", "bucket", Seq("day", "seq"))(df)
      .select("day", "seq", "running").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got == Map((10, 1) -> 1L, (10, 2) -> 101L, (11, 1) -> 108L), got.toString)
  }

  test("globalRunningSum equals a driver-side prefix sum on shuffled input") {
    import graft.ops.Sweep
    val rows = (1L to 500L).map(i => (i, (i % 7) - 3, i % 10)) // ordered key, mixed-sign values
    val df = spark.createDataFrame(scala.util.Random.shuffle(rows))
      .toDF("k", "v", "bucket10")
      .withColumn("bucket", expr("k div 50")) // monotone coarsening of k
    val got = Sweep.globalRunningSum("v", "bucket", Seq("k"))(df)
      .select("k", "running").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var acc = 0L
    rows.foreach { case (k, v, _) => acc += v; assert(got(k) == acc, s"at k=$k") }
  }

  test("numericProfile: exact stats with nulls; HLL path inside its error envelope") {
    import graft.ops.Profile
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 10L), (2L, 10L), (2L, null), (null, 30L), (3L, 30L)
    ).toDF("a", "b")
    val got = Profile.numericProfile(Seq("a", "b"))(df)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got("a") == ((4L, 1L, 3L, 1L, 3L, 8L)))
    assert(got("b") == ((4L, 1L, 2L, 10L, 30L, 80L)))

    // HLL path: relative NDV error within the default-rsd envelope (5% + slack)
    val big = spark.range(10000).selectExpr("id % 2500 AS a", "id AS b")
    val exact = Profile.numericProfile(Seq("a", "b"))(big)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val hll = Profile.numericProfile(Seq("a", "b"), exact = false)(big)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    Seq("a", "b").foreach { c =>
      val err = math.abs(hll(c) - exact(c)).toDouble / exact(c)
      assert(err <= 0.15, s"$c: hll ${hll(c)} vs exact ${exact(c)} (err $err)")
    }
    // scale path never plans an Expand (the Sketch no-Expand contract)
    val plan = Profile.numericProfile(Seq("a", "b"), exact = false)(big)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), plan)
  }

  test("overlapJoin: exactly-once across shared buckets, inclusive touch, no cartesian") {
    import graft.ops.RangeJoin
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val a = Seq(
      (1L, ts("2024-01-01 00:30:00"), ts("2024-01-01 05:30:00")), // spans 6 hour-buckets
      (2L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"))
    ).toDF("aid", "sa", "ea")
    val b = Seq(
      (10L, ts("2024-01-01 01:00:00"), ts("2024-01-01 04:00:00")), // overlaps a1 in 4 buckets
      (11L, ts("2024-01-01 11:00:00"), ts("2024-01-01 12:00:00")), // touches a2 end-to-start
      (12L, ts("2024-01-01 06:00:00"), ts("2024-01-01 07:00:00"))  // disjoint
    ).toDF("bid", "sb", "eb")
    val got = RangeJoin.overlapJoin(a, b, Seq.empty, "sa", "ea", "sb", "eb",
      Seq("aid"), Seq("bid"), bucketMicros = 3600000000L)
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
    // multi-bucket overlap appears EXACTLY once; inclusive touch matches
    assert(got.sorted.toSeq == Seq((1L, 10L), (2L, 11L)))

    val plan = RangeJoin.overlapJoin(a, b, Seq.empty, "sa", "ea", "sb", "eb",
      Seq("aid"), Seq("bid"), bucketMicros = 3600000000L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("groupedLinearTrend: exact rational slope, degenerate single-x key") {
    import graft.ops.Trend
    // key a: day cells (0,10),(1,30),(2,50) -> slope 20 = num/den = 120/6
    // key b: one distinct day -> slope_den 0 (trend undefined, reported)
    val df = Seq(
      ("a", 0, 4L), ("a", 0, 6L), ("a", 1, 30L), ("a", 2, 50L),
      ("b", 5, 7L), ("b", 5, 8L)
    ).toDF("k", "x", "y")
    val r = Trend.groupedLinearTrend("k", "x", "y")(df)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    assert(r("a") == ((3L, 90L, 120L, 6L))) // slope exactly 20
    assert(r("b") == ((1L, 15L, 0L, 0L)))
  }

  test("funnel/cohort plans: joins keyed on user only, no cartesian") {
    import graft.ops.Funnel
    val ev = spark.range(100).selectExpr("id % 10 AS user_id", "id AS ts",
      "date_add(DATE'2024-01-01', CAST(id % 5 AS INT)) AS d",
      "CASE WHEN id % 3 = 0 THEN 'view' WHEN id % 3 = 1 THEN 'click' ELSE 'purchase' END AS event_type")
    Seq(
      Funnel.funnelStages("user_id", "ts", "event_type", Seq("view", "click"))(ev),
      Funnel.cohortRetention("user_id", col("d"))(ev)
    ).foreach { q =>
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    }
  }

  test("scd2History: run collapse, null-safe change, all-null first version, valid_to chain") {
    import graft.ops.Scd
    val df = Seq[(String, Int, Option[String])](
      // key a: A A B B A -> versions A@1, B@3, A@5
      ("a", 1, Some("A")), ("a", 2, Some("A")), ("a", 3, Some("B")),
      ("a", 4, Some("B")), ("a", 5, Some("A")),
      // key b: null null X -> the all-NULL FIRST version must open
      ("b", 1, None), ("b", 2, None), ("b", 3, Some("X"))
    ).toDF("k", "t", "v")
    val r = Scd.scd2History(Seq("k"), "t", Seq("v"))(df)
      .collect().map(x => (x.getString(0), Option(x.getString(1)),
        x.getInt(2), if (x.isNullAt(3)) -1 else x.getInt(3))).toSet
    assert(r == Set(
      ("a", Some("A"), 1, 3), ("a", Some("B"), 3, 5), ("a", Some("A"), 5, -1),
      ("b", None, 1, 3), ("b", Some("X"), 3, -1)))
  }

  test("scd2 asOfSnapshot: one covering version per key; boundaries half-open") {
    import graft.ops.Scd
    val hist = Scd.scd2History(Seq("k"), "t", Seq("v"))(Seq(
      ("a", 1, "A"), ("a", 3, "B"), ("b", 2, "Y")).toDF("k", "t", "v"))
    def at(t: Int) = Scd.asOfSnapshot(lit(t))(hist)
      .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    assert(at(1) == Map("a" -> "A"))
    assert(at(2) == Map("a" -> "A", "b" -> "Y"))
    assert(at(3) == Map("a" -> "B", "b" -> "Y")) // [from, to): 3 is B's
    assert(at(9) == Map("a" -> "B", "b" -> "Y"))
  }

  test("forwardFill: carries last non-null per key, leading nulls stay, one shared shuffle") {
    import graft.ops.Scd
    val df = Seq[(String, Int, Option[String], Option[Int])](
      ("a", 1, None, Some(10)),  // leading null v must stay null
      ("a", 2, Some("X"), None), // w fills from 10
      ("a", 3, None, None),      // both fill: X / 10
      ("a", 4, Some("Y"), Some(20)),
      ("b", 1, None, None)       // no observation ever -> stays null
    ).toDF("k", "t", "v", "w")
    val r = Scd.forwardFill(Seq("k"), Seq("t"), Seq("v", "w"))(df)
    val got = r.collect().map(x => (x.getString(0), x.getInt(1),
      Option(x.getString(2)),
      if (x.isNullAt(3)) None else Some(x.getInt(3)))).toSet
    assert(got == Set(
      ("a", 1, None, Some(10)), ("a", 2, Some("X"), Some(10)),
      ("a", 3, Some("X"), Some(10)), ("a", 4, Some("Y"), Some(20)),
      ("b", 1, None, None)))
    // both attribute fills declare the same window: CollapseWindow
    // merges them into ONE Window node -> one shuffle + one sort
    val windows = r.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.length == 1, r.queryExecution.optimizedPlan.toString)
    assert(windows.head.windowExpressions.length == 2)
  }

  test("groupMode: mode per key, smallest-value tie-break, nulls never the mode") {
    import graft.ops.Profile
    val df = Seq(
      ("g1", Some("b")), ("g1", Some("b")), ("g1", Some("a")),
      // g2: a and b tied 2-2 -> smallest value a wins
      ("g2", Some("b")), ("g2", Some("b")), ("g2", Some("a")), ("g2", Some("a")),
      // g3: null is the most frequent raw value but must not win
      ("g3", None), ("g3", None), ("g3", Some("z"))
    ).toDF("k", "v")
    val r = Profile.groupMode("k", "v")(df)
      .collect().map(x => x.getString(0) -> ((x.getString(1), x.getLong(2)))).toMap
    assert(r == Map("g1" -> (("b", 2L)), "g2" -> (("a", 2L)), "g3" -> (("z", 1L))))
  }

  test("groupedCorrelation: exact factors on hand-computed data; constant column reports var 0") {
    import graft.ops.Trend
    // key a: y = 2x exactly -> cov_num² == var_x·var_y (|corr| = 1, positive)
    // key b: y constant -> var_y = 0 (undefined, reported not divided)
    val df = Seq(
      ("a", 1L, 2L), ("a", 2L, 4L), ("a", 3L, 6L),
      ("b", 1L, 5L), ("b", 2L, 5L), ("b", 9L, 5L)
    ).toDF("k", "x", "y")
    val r = Trend.groupedCorrelation("k", "x", "y")(df)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    val (n, cov, vx, vy) = r("a")
    assert(n == 3L && cov > 0 && cov * cov == vx * vy)
    // var_x = 3·(1+4+81) − 12² = 114; constant y zeroes cov and var_y
    assert(r("b") == ((3L, 0L, 114L, 0L)))
  }

  test("topPaths: ordered prefix truncation, tie-break, minSupport filter") {
    import graft.ops.Funnel
    val ev = Seq(
      // u1 and u2 share path a>b>c (u1 has a 4th event that must truncate)
      (1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"), (1L, 30L, 3L, "c"), (1L, 40L, 4L, "d"),
      (2L, 10L, 5L, "a"), (2L, 20L, 6L, "b"), (2L, 30L, 7L, "c"),
      // u3: tie on ts resolved by event_id -> x>y, below minSupport
      (3L, 10L, 9L, "y"), (3L, 10L, 8L, "x")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val r = Funnel.topPaths("user_id", "ts", "event_id", "event_type")(ev)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map("a>b>c" -> 2L))
    val all = Funnel.topPaths("user_id", "ts", "event_id", "event_type",
      maxLen = 2, minSupport = 1L)(ev)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(all == Map("a>b" -> 2L, "x>y" -> 1L))
  }

  test("topPaths: sort_array+getField assembly == array_sort+transform reference") {
    import graft.ops.Funnel
    // the r19 lambda-free path assembly against the pre-r19 HOF form
    // ([[ParityRefs.pathHof]]), on paths with ties, truncation, and a
    // single-event user — identical (path, n_users) sets
    val ev = Seq(
      (1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"), (1L, 30L, 3L, "c"), (1L, 40L, 4L, "d"),
      (2L, 10L, 5L, "a"), (2L, 20L, 6L, "b"), (2L, 30L, 7L, "c"),
      (3L, 10L, 9L, "y"), (3L, 10L, 8L, "x"),
      (4L, 5L, 1L, "solo")
    ).toDF("user_id", "ts", "event_id", "event_type")
    def viaHof(maxLen: Int): Map[String, Long] = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev.withColumn("__rn", row_number().over(w)).where(col("__rn") <= maxLen)
        .groupBy(col("user_id"))
        .agg(ParityRefs.pathHof(
          collect_list(struct(col("__rn"), col("event_type").as("t")))).as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    }
    for (ml <- Seq(1, 2, 3)) {
      val nat = Funnel.topPaths("user_id", "ts", "event_id", "event_type",
        maxLen = ml, minSupport = 1L)(ev)
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      assert(nat == viaHof(ml), s"maxLen=$ml: $nat != ${viaHof(ml)}")
    }
  }

  test("equiWidthHistogram: floor binning puts negatives in the bin below zero") {
    import graft.ops.Profile
    val df = Seq(("k", -1L), ("k", 0L), ("k", 499L), ("k", 500L), ("k", -500L))
      .toDF("g", "v")
    val r = Profile.equiWidthHistogram("g", "v", 500L)(df)
      .collect().map(x => x.getLong(1) -> x.getLong(2)).toMap
    // -1 floors to bin_lo -500 (truncating division would put it in bin 0)
    assert(r == Map(-500L -> 2L, 0L -> 2L, 500L -> 1L))
  }

  test("winsorize clips to exact per-key percentile bounds; nulls and keys survive") {
    import graft.ops.Profile
    // key k: values 0,10,20,30,40 → p25=10, p75=30; key m: single value
    val df = Seq(
      ("k", Some(0L)), ("k", Some(10L)), ("k", Some(20L)), ("k", Some(30L)),
      ("k", Some(40L)), ("k", None), ("m", Some(7L))
    ).toDF("g", "v")
    val r = Profile.winsorize("g", "v")(df)
      .collect().map(x => (x.getAs[String]("g"), Option(x.getAs[Any]("v")),
        Option(x.getAs[Any]("v_w")))).toSet
    assert(r == Set(
      ("k", Some(0L), Some(10.0)), ("k", Some(10L), Some(10.0)),
      ("k", Some(20L), Some(20.0)), ("k", Some(30L), Some(30.0)),
      ("k", Some(40L), Some(30.0)), ("k", None, None),
      ("m", Some(7L), Some(7.0))))
    // interpolated bounds: 1,2,3,4 → p25 = 1.75 exactly (binary fraction)
    val interp = Profile.winsorize("g", "v")(
      Seq(("k", 1L), ("k", 2L), ("k", 3L), ("k", 4L)).toDF("g", "v"))
      .where(col("v") === 1L).collect().head.getAs[Double]("v_w")
    assert(interp == 1.75)
    intercept[IllegalArgumentException](Profile.winsorize("g", "v", 0.8, 0.2)(df))
  }

  test("dayIslands: contiguous runs split on gaps; duplicate observations collapse") {
    import graft.ops.Profile
    val df = Seq(
      ("s1", "2024-01-01"), ("s1", "2024-01-01"), ("s1", "2024-01-02"),
      ("s1", "2024-01-03"), ("s1", "2024-01-07"),
      ("s2", "2024-02-10")
    ).toDF("k", "d")
    val r = Profile.dayIslands("k", col("d"))(df)
      .collect().map(x => (x.getString(0), x.getDate(1).toString,
        x.getDate(2).toString, x.getLong(3))).toSet
    assert(r == Set(
      ("s1", "2024-01-01", "2024-01-03", 3L),
      ("s1", "2024-01-07", "2024-01-07", 1L),
      ("s2", "2024-02-10", "2024-02-10", 1L)))
  }
}
