package graft

import org.apache.spark.sql.functions._

import graft.ops.DataQuality
import graft.ops.DataQuality._

/** Rule-engine semantics (null handling per kind), config parsing,
  * and the one-scan / zero-shuffle plan shapes the 100 TB story
  * rests on.
  */
class DataQualitySpec extends SparkSpec {
  import spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private val rows = Seq(
    // (id, qty, status, code)
    (1L, Some(5.0), "OK", "A-1"),
    (2L, Some(50.0), "OK", "B-2"),     // qty out of bounds
    (3L, None, "BAD", "C-3"),          // null qty, status not in set
    (4L, Some(10.0), "OK", "nope"),    // pattern violation
    (5L, Some(-1.0), null, "D-4")      // qty out of bounds, null status
  ).toDF("id", "qty", "status", "code")

  private val rules = Seq(
    NotNullRule("qty_present", "qty"),
    BoundsRule("qty_range", "qty", 0.0, 20.0),
    InSetRule("status_ok", "status", Seq("OK", "WARN")),
    PatternRule("code_shape", "code", "^[A-Z]-[0-9]$"))

  test("summary counts violations per rule with kind-specific null semantics") {
    val s = DataQuality.summary(rows, rules)
      .collect()
      .map(r => r.getAs[String]("rule_name") ->
        ((r.getAs[Long]("n_violations"), r.getAs[Long]("n_rows"), r.getAs[Boolean]("pass"))))
      .toMap
    assert(s("qty_present") == ((1L, 5L, false)))  // only the null counts here
    assert(s("qty_range") == ((2L, 5L, false)))    // nulls skipped, 50 and -1 fail
    assert(s("status_ok") == ((1L, 5L, false)))    // null status skipped, BAD fails
    assert(s("code_shape") == ((1L, 5L, false)))
    assert(s.size == 4)
  }

  test("summary is a single scan: one aggregate pass, no join, regardless of rule count") {
    val plan = planOf(DataQuality.summary(rows, rules))
    assert(!plan.contains("Join"), plan)
    // exactly one partial/final aggregate pair over the input — rules
    // are aggregate expressions, not repeated scans
    assert(plan.split("LocalTableScan").length == 2, plan)
  }

  test("rowFlags emits violators only, one row per failed rule, zero shuffles") {
    val f = DataQuality.rowFlags(rows, rules, Seq("id"))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("rule_name"))).toSet
    assert(f == Set(
      (2L, "qty_range"), (3L, "qty_present"), (3L, "status_ok"),
      (4L, "code_shape"), (5L, "qty_range")))
    val plan = planOf(DataQuality.rowFlags(rows, rules, Seq("id")))
    assert(!plan.contains("Exchange"), plan)
  }

  test("rowFlags: concat rewrite == filter-lambda reference, row-for-row") {
    // the r19 lambda-free rewrite (concat of conditional singleton
    // arrays) against the pre-r19 when()-array + isNotNull filter —
    // same (key, rule_name) multiset on a fixture that exercises
    // null columns, multi-violation rows, and clean rows
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("rule_name")))
        .sortBy(identity).toSeq
    val nat = rowsOf(DataQuality.rowFlags(rows, rules, Seq("id")))
    val hof = rowsOf(ParityRefs.rowFlagsHof(rows, rules, Seq("id")))
    assert(nat == hof, s"native $nat != HOF $hof")
    // still interpreted-lambda-free AND shuffle-free
    val plan = planOf(DataQuality.rowFlags(rows, rules, Seq("id")))
    assert(!plan.contains("lambdafunction"), plan)
  }

  test("cleanRows ∪ rowFlags-keys partitions the input exactly; zero shuffles") {
    val clean = DataQuality.cleanRows(rows, rules)
      .collect().map(_.getAs[Long]("id")).toSet
    val flagged = DataQuality.rowFlags(rows, rules, Seq("id"))
      .collect().map(_.getAs[Long]("id")).toSet
    assert(clean == Set(1L))
    assert((clean ++ flagged) == (1L to 5L).toSet)
    assert(clean.intersect(flagged).isEmpty)
    val plan = planOf(DataQuality.cleanRows(rows, rules))
    assert(!plan.contains("Exchange"), plan)
  }

  test("refCoverage counts orphans via a keyed anti-join") {
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(1L, 1L, 2L, 9L, 9L).toDF("fk")
    val r = DataQuality.refCoverage(child, "fk", parent, "pk").collect().head
    assert(r.getAs[Long]("n_rows") == 5L)
    assert(r.getAs[Long]("n_orphans") == 2L)
    assert(!r.getAs[Boolean]("pass"))
    val plan = planOf(DataQuality.refCoverage(child, "fk", parent, "pk"))
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("rulesFromConfig round-trips the worksheet shape and fails loudly on bad rows") {
    val cfg = Seq(
      ("r1", "NOT_NULL", "qty", null, null),
      ("r2", "BOUNDS", "qty", "0", "20"),
      ("r3", "IN_SET", "status", "OK|WARN", null),
      ("r4", "PATTERN", "code", "^[A-Z]$", null)
    ).toDF("rule_name", "rule_type", "column", "param1", "param2")
    val parsed = DataQuality.rulesFromConfig(cfg)
    assert(parsed == Seq(
      NotNullRule("r1", "qty"), BoundsRule("r2", "qty", 0.0, 20.0),
      InSetRule("r3", "status", Seq("OK", "WARN")), PatternRule("r4", "code", "^[A-Z]$")))
    val bad = Seq(("rx", "NO_SUCH", "qty", null, null))
      .toDF("rule_name", "rule_type", "column", "param1", "param2")
    val e = intercept[RuntimeException](DataQuality.rulesFromConfig(bad))
    assert(e.getMessage.contains("unknown rule_type"))
    val missing = Seq(("ry", "BOUNDS", "qty", "0", null))
      .toDF("rule_name", "rule_type", "column", "param1", "param2")
    val e2 = intercept[RuntimeException](DataQuality.rulesFromConfig(missing))
    assert(e2.getMessage.contains("param2 required"))
  }

  test("checkSchema diffs the contract: ok / type_mismatch / missing / extra") {
    val statuses = DataQuality.checkSchema(rows, Seq(
      "id" -> "bigint", "qty" -> "int", "absent" -> "string"))
    assert(statuses == Seq(
      ColumnStatus("id", "ok", "bigint", "bigint"),
      ColumnStatus("qty", "type_mismatch", "int", "double"),
      ColumnStatus("absent", "missing", "string", ""),
      ColumnStatus("status", "extra", "", "string"),
      ColumnStatus("code", "extra", "", "string")))
  }

  test("duplicate rule names and empty rule sets are rejected") {
    intercept[IllegalArgumentException](DataQuality.summary(rows, Seq.empty))
    intercept[IllegalArgumentException](DataQuality.summary(rows,
      Seq(NotNullRule("x", "qty"), NotNullRule("x", "status"))))
  }
}
