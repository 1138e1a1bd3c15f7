package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Config-driven data-quality rule engine — the validation stage the
  * reference pipeline implies but never materializes (its config
  * sheets drive transforms, `Configurable_ETL_Python.py:200-320`;
  * nothing audits the data those transforms consume). Rules are
  * declarative rows (the same worksheet idiom as DF_OPERATIONS), and
  * evaluation is engine-shaped, not rule-shaped:
  *
  *  - [[summary]] evaluates EVERY rule in ONE scan: each rule becomes
  *    a `sum(violation::long)` aggregate over the same pass, so N
  *    rules cost one partial-aggregated job, not N table scans — at
  *    100 TB that is the difference between a nightly audit and an
  *    impossible one. The single 1-row result explodes back into one
  *    row per rule.
  *  - [[rowFlags]] is a pure row map (array of per-rule flags,
  *    explode non-nulls): zero shuffles, violators only.
  *  - [[refCoverage]] is the referential-integrity audit as one
  *    keyed anti-join (never a cartesian), reduced to a 1-row count.
  *
  * Null semantics are explicit and spec-pinned: NOT_NULL counts
  * nulls; every other rule kind skips nulls (a null quantity is a
  * missing-value defect, not a bounds defect — double-counting one
  * cell under two rules makes totals unauditable).
  */
object DataQuality {

  sealed trait Rule { def name: String }
  final case class NotNullRule(name: String, column: String) extends Rule
  final case class BoundsRule(name: String, column: String, lo: Double, hi: Double) extends Rule
  final case class InSetRule(name: String, column: String, allowed: Seq[String]) extends Rule
  final case class PatternRule(name: String, column: String, regex: String) extends Rule

  /** The rule's VIOLATION predicate (true = row fails the rule). */
  private[graft] def violation(r: Rule): Column = r match {
    case NotNullRule(_, c) => col(c).isNull
    case BoundsRule(_, c, lo, hi) =>
      col(c).isNotNull && (col(c) < lo || col(c) > hi)
    case InSetRule(_, c, allowed) =>
      col(c).isNotNull && !col(c).isin(allowed: _*)
    case PatternRule(_, c, re) =>
      col(c).isNotNull && !col(c).rlike(re)
  }

  private[graft] def requireRules(rules: Seq[Rule]): Unit = {
    require(rules.nonEmpty, "at least one rule required")
    val dup = rules.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    require(dup.isEmpty, s"duplicate rule names: ${dup.mkString(", ")}")
  }

  /** Parse rules from a config frame with columns
    * (rule_name, rule_type, column, param1, param2) — the worksheet
    * shape (ConfigReader's documented config-plane collect allowance:
    * rule tables are worksheet-sized). Types: NOT_NULL,
    * BOUNDS(param1=lo, param2=hi), IN_SET(param1=pipe-separated),
    * PATTERN(param1=regex). Unknown types and missing params fail
    * loudly — a silently-dropped rule is a silently-green audit.
    */
  def rulesFromConfig(config: DataFrame): Seq[Rule] = {
    val rows = config.select("rule_name", "rule_type", "column", "param1", "param2")
      .collect()
    require(rows.nonEmpty, "empty rule config")
    rows.toSeq.map { r =>
      val name = r.getString(0)
      val column = r.getString(2)
      def p1 = Option(r.getString(3)).getOrElse(
        sys.error(s"rule $name: param1 required for ${r.getString(1)}"))
      def p2 = Option(r.getString(4)).getOrElse(
        sys.error(s"rule $name: param2 required for ${r.getString(1)}"))
      r.getString(1) match {
        case "NOT_NULL" => NotNullRule(name, column)
        case "BOUNDS"   => BoundsRule(name, column, p1.toDouble, p2.toDouble)
        case "IN_SET"   => InSetRule(name, column, p1.split('|').toSeq)
        case "PATTERN"  => PatternRule(name, column, p1)
        case other      => sys.error(s"rule $name: unknown rule_type '$other'")
      }
    }
  }

  /** One row per rule: (rule_name, n_violations, n_rows, pass).
    * Single scan regardless of rule count (see object doc).
    */
  def summary(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    requireRules(rules)
    val aggs = count(lit(1)).as("__n") +:
      rules.zipWithIndex.map { case (r, i) =>
        sum(violation(r).cast("long")).as(s"__v$i")
      }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = rules.zipWithIndex.map { case (r, i) =>
      struct(lit(r.name).as("rule_name"), col(s"__v$i").as("n_violations"))
    }
    one.select(explode(array(stacked: _*)).as("__r"), col("__n"))
      .select(
        col("__r.rule_name").as("rule_name"),
        col("__r.n_violations").as("n_violations"),
        col("__n").as("n_rows"))
      .withColumn("pass", col("n_violations") === 0L)
  }

  /** Violating rows only: (keyCols*, rule_name), one row per
    * (row, failed rule). Pure map + generate — zero shuffles.
    */
  def rowFlags(df: DataFrame, rules: Seq[Rule], keyCols: Seq[String]): DataFrame = {
    requireRules(rules)
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    // each violated rule contributes its name, in rule order; a
    // passing (or null-verdict) rule contributes an empty array —
    // the same element sequence the old when()-array + interpreted
    // isNotNull filter LAMBDA produced, fully codegen'd (parity
    // pinned in DataQualitySpec against the filter-lambda form)
    val flags = concat(rules.map(r =>
      when(violation(r), array(lit(r.name)))
        .otherwise(typedLit(Seq.empty[String]))): _*)
    df.select(keyCols.map(col) :+
      explode(flags).as("rule_name"): _*)
  }

  /** The pass-through complement of [[rowFlags]]: rows violating NO
    * rule — the clean feed a downstream pipeline consumes while the
    * flagged rows sit in quarantine. One fused row predicate (the OR
    * of all violations, negated): zero shuffles, one scan, and
    * `cleanRows ∪ rowFlags-keys` partitions the input exactly.
    */
  def cleanRows(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    requireRules(rules)
    df.where(!rules.map(violation).reduce(_ || _))
  }

  final case class ColumnStatus(
      column: String, status: String, expected: String, actual: String)

  /** Schema-contract audit: diff the frame's actual schema against a
    * declared (column, simpleString type) contract — the check that
    * catches a widened int, a silently-dropped column, or an
    * unannounced extra BEFORE a downstream pipeline mis-reads data.
    * Pure metadata (no job runs); statuses: ok / type_mismatch /
    * missing (declared, absent) / extra (present, undeclared).
    * Contract order is preserved, extras follow in frame order.
    */
  def checkSchema(df: DataFrame, expected: Seq[(String, String)]): Seq[ColumnStatus] = {
    require(expected.nonEmpty, "empty schema contract")
    val actual = df.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val declared = expected.map(_._1).toSet
    val checked = expected.map { case (name, tpe) =>
      actual.get(name) match {
        case None => ColumnStatus(name, "missing", tpe, "")
        case Some(a) if a == tpe => ColumnStatus(name, "ok", tpe, a)
        case Some(a) => ColumnStatus(name, "type_mismatch", tpe, a)
      }
    }
    val extras = df.schema.collect {
      case f if !declared.contains(f.name) =>
        ColumnStatus(f.name, "extra", "", f.dataType.simpleString)
    }
    checked ++ extras
  }

  /** Referential-coverage audit as one row:
    * (n_rows, n_orphans, pass) — child rows whose key has no match in
    * the parent. One keyed left-anti join against the parent's
    * distinct keys (bounded-width join keys, never bodies).
    */
  def refCoverage(
      child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame = {
    val orphans = child.select(col(childKey).as("__k"))
      .join(parent.select(col(parentKey).as("__k")).distinct(), Seq("__k"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    val total = child.agg(count(lit(1)).as("n_rows"))
    // both sides are 1-row aggregates; broadcast keeps the nested-loop
    // join's build side bounded by construction (ContractSpec pattern)
    total.crossJoin(broadcast(orphans))
      .withColumn("pass", col("n_orphans") === 0L)
  }
}
