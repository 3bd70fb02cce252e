package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Schema-driven data-quality gate replacing the reference's pre-flight
  * validation layer (`/root/reference/dataflow.py:62-134`, SURVEY.md §2.7).
  *
  * Differences by design:
  *   - rules are data (a table of name→predicate→severity), not hardcoded
  *     field lists — the reference's `id/name/value` vs COVID-schema drift
  *     (`dataflow.py:302` vs `:247`) cannot happen;
  *   - checks run distributed over the FULL dataset in ONE aggregation pass,
  *     not a 5-record driver-side sample (`dataflow.py:259-262`);
  *   - the whole gate is a single scan: violation counts are conditional
  *     sums, so adding rules adds no passes.
  */
object Validation {

  sealed trait Severity
  case object Warn extends Severity
  case object Fail extends Severity

  /** A named violation predicate: true ⇒ the row violates the rule. */
  final case class Rule(name: String, violation: Column, severity: Severity)

  final case class RuleResult(name: String, severity: Severity, violations: Long)

  /** One validation run over one input (mirrors the per-file summary dict at
    * `dataflow.py:76-84`).
    */
  final case class Report(totalRecords: Long, results: Seq[RuleResult]) {
    def violations(name: String): Long = results.find(_.name == name).map(_.violations).getOrElse(0L)
    def failed: Boolean =
      totalRecords == 0 || // has ≥1 data row, dataflow.py:253-257, fail-all :126-127
        results.exists(r => r.severity == Fail && r.violations > 0)
    def warnings: Seq[RuleResult] =
      results.filter(r => r.severity == Warn && r.violations > 0)
  }

  /** Common rule builders matching the reference's checks. */
  def requiredNonEmpty(c: String, severity: Severity = Fail): Rule =
    Rule(s"required_$c", col(c).isNull || trim(col(c).cast("string")) === "", severity)

  /** Multi-format timestamp check (`dataflow.py:361-384`): any of the 5
    * accepted formats parses.
    */
  def timestampAnyFormat(c: String, severity: Severity = Warn): Rule = {
    val formats = Seq(
      "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss",
      "yyyy-MM-dd HH:mm:ss.SSSSSS", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
      "yyyy-MM-dd")
    val anyParses = formats
      .map(f => try_to_timestamp(col(c), lit(f)).isNotNull)
      .reduce(_ || _)
    Rule(s"timestamp_$c", col(c).isNotNull && !anyParses, severity)
  }

  /** Expected columns present (`dataflow.py:243-250`) — structural check,
    * evaluated on the schema without touching data.
    */
  def missingColumns(df: DataFrame, expected: Seq[String]): Seq[String] =
    expected.filterNot(df.columns.toSet)

  /** Per-file record counts (SURVEY.md §2.3 A4): one distributed pass,
    * grouped by source file, with the basename derived in-plan
    * (`element_at(split(input_file_name(),'/'),-1)` — §2.6).
    */
  def perFileCounts(df: DataFrame): DataFrame =
    df.groupBy(element_at(split(input_file_name(), "/"), -1).as("file_name"))
      .agg(count(lit(1)).as("record_count"))

  /** The aggregates of one validation pass: the row total, then one
    * violation count per rule. [[run]] aggregates them; a pass that also
    * writes can observe them instead (`CovidTransform.checked`).
    */
  private[etl] def ruleCounts(rules: Seq[Rule]): Seq[Column] =
    count(lit(1)).as("__total") +:
      rules.zipWithIndex.map { case (r, i) => count_if(r.violation).as(s"__r$i") }

  /** The [[Report]] of [[ruleCounts]]' values, by aggregate name. */
  private[etl] def report(rules: Seq[Rule], values: Map[String, Any]): Report =
    Report(values("__total").asInstanceOf[Long], rules.zipWithIndex.map { case (r, i) =>
      RuleResult(r.name, r.severity, values(s"__r$i").asInstanceOf[Long])
    })

  /** Run every rule in one aggregation pass. */
  def run(df: DataFrame, rules: Seq[Rule]): Report = {
    val aggs = ruleCounts(rules)
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    report(rules, row.getValuesMap[Any](row.schema.fieldNames.toSeq))
  }
}
