package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.etl.Validation.{Report, Rule, Warn}

/** The reference's per-row clean+type transform
  * (`dataflow_transform.py:32-73`) and its CSV validation gate
  * (`dataflow.py:344-359`), re-expressed as one declarative plan that
  * parses each field once.
  *
  * Python reject semantics preserved exactly:
  *   - missing/empty (falsy) required field → reject (`:39-41`);
  *   - `int(float(x))` — truncation toward zero, reject on parse failure
  *     (`:44-48`);
  *   - strict `YYYY-MM-DD`: length 10, two dashes, real calendar date
  *     (`:50-61`);
  *   - `str(x).strip()` on entity (`:65`);
  *   - append `processed_timestamp` = now-UTC (`:68`) — per-QUERY in Spark
  *     vs per-row in Python, a documented improvement (SURVEY.md §7.3).
  *
  * Where Beam runs a Python function per record, this compiles to
  * whole-stage-codegen'd projections over a columnar scan: the same WHAT at
  * 100 TB without a Python boundary. The plan is
  * parse → observe → filter → project: one projection parses every field,
  * `Dataset.observe` counts the rows, the rule violations and the clean
  * rows on it, and the reject filter reads the parsed columns. The observe
  * also keeps Catalyst from pushing the filter below the parse, which would
  * evaluate every parse a second time.
  */
object CovidTransform {

  /** The reference's CSV rule set (`dataflow.py:344-359`), warn-level for
    * CSV (`:344-347`). The entity, deaths, numeric and date rules read the
    * trimmed and parsed columns of [[checked]]'s projection, so validating
    * trims and parses nothing again; the rules apply to that projection
    * only.
    */
  val covidCsvRules: Seq[Rule] = Seq(
    Rule("required_entity", col("__entity").isNull, Warn),
    Validation.requiredNonEmpty("Day", Warn),
    Rule("required_total_confirmed_deaths",
      col("__trimmed_deaths").isNull || col("__trimmed_deaths") === "", Warn),
    Rule("numeric_total_confirmed_deaths", // dataflow.py:349-353
      col("total_confirmed_deaths").isNotNull && col("__double").isNull, Warn),
    Rule("date_Day", col("Day").isNotNull && col("__day").isNull, Warn)) // :355-359

  /** Clean rows of one input, with the gate's counts observed on the pass
    * that produces them.
    */
  final case class Checked(df: DataFrame, observation: Observation) {
    /** Valid after an action has run on `df`. */
    def report: Report = Validation.report(covidCsvRules, observation.get)
    def recordCount: Long = observation.get("records").asInstanceOf[Long]
  }

  /** [[clean]] of `raw`, observing the total, every [[covidCsvRules]]
    * violation count and the clean-row count on the same pass.
    */
  def checked(raw: DataFrame): Checked = {
    val ok = col("__entity").isNotNull && col("__day").isNotNull && col("__deaths").isNotNull
    val counts = count_if(ok).as("records") +: Validation.ruleCounts(covidCsvRules)
    val observation = new Observation()
    val df = parsed(raw)
      .observe(observation, counts.head, counts.tail: _*)
      .filter(ok)
      .select(col("__entity").as("entity"), col("__day").as("Day"),
        col("__deaths").as("total_confirmed_deaths"),
        current_timestamp().as("processed_timestamp"))
    Checked(df, observation)
  }

  /** Clean rows that survive every check, in the strict typed schema. */
  def clean(raw: DataFrame): DataFrame = checked(raw).df

  /** Rows the reference would drop, with a reason column (extension: the
    * reference silently discards; at scale you want a quarantine channel).
    */
  def rejects(raw: DataFrame): DataFrame =
    parsed(raw)
      .filter(col("__entity").isNull || col("__day").isNull || col("__deaths").isNull)
      .select(col("entity"), col("Day"), col("total_confirmed_deaths"),
        when(emptyish(col("entity")) || emptyish(col("Day")) ||
             emptyish(col("total_confirmed_deaths")), "missing_required_field")
          .when(col("__deaths").isNull, "invalid_numeric")
          .otherwise("invalid_date").as("reject_reason"))

  private def emptyish(c: Column): Column = c.isNull || trim(c) === ""

  /** The raw strings beside their parses; null ⇒ that field failed its
    * parse/check. `entity` and `total_confirmed_deaths` are trimmed once,
    * in the lowest projection, and `__double` is its own projection above
    * it, because the rules and the parses above both read them: Catalyst
    * does not inline a projected value that the projection above reads
    * twice. Both casts are
    * try_cast: the outer one turns NaN/Infinity doubles into rejects
    * (Python's int(float("NaN")) raises ⇒ row dropped), where an ANSI cast
    * would throw CAST_OVERFLOW at runtime; double→long truncates toward
    * zero == Python int(float(x)).
    */
  private def parsed(raw: DataFrame): DataFrame =
    raw.select(col("entity"), col("Day"), col("total_confirmed_deaths"),
        trim(col("entity")).as("__trimmed_entity"),
        trim(col("total_confirmed_deaths")).as("__trimmed_deaths"))
      .select(col("entity"), col("Day"), col("total_confirmed_deaths"),
        col("__trimmed_deaths"),
        expr("try_cast(__trimmed_deaths AS DOUBLE)").as("__double"),
        when(col("__trimmed_entity") =!= "", col("__trimmed_entity")).as("__entity"))
      .select(col("entity"), col("Day"), col("total_confirmed_deaths"),
        col("__trimmed_deaths"), col("__double"), col("__entity"),
        when(col("Day").rlike("^\\d{4}-\\d{2}-\\d{2}$"), expr("try_to_date(Day, 'yyyy-MM-dd')"))
          .as("__day"),
        expr("try_cast(__double AS BIGINT)").as("__deaths"))
}
