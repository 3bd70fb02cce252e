package graft.etl

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.Sources

/** The reference's two orchestrated pipelines, restated as driver-side stage
  * functions (SURVEY.md §3.2/§3.3): what was 6 Airflow tasks across 3
  * services becomes one driver program; only transform/validate/write touch
  * executors. Each pipeline reads its CSV in one pass: Path A validates,
  * cleans and writes in one job, Path B loads without an inference pass.
  */
object Jobs {

  final case class RunSummary(
      runId: String,
      inputPath: String,
      validation: Validation.Report,
      recordCount: Long,
      status: String)

  /** A gate turned the run down: file checks, validation, a malformed row
    * in the ELT load or the post-load check. The same input fails the same
    * way again, so [[graft.JobRunner.withRetries]] does not retry it.
    */
  final class GateFailure(msg: String) extends IllegalStateException(msg)

  /** Path A — the validated Beam-path pipeline
    * (the reference's `dataflow.py:486` chain + `dataflow_transform.py`),
    * as write-audit-publish in one job: the clean rows are written to a
    * staging directory while the validation report and the record count
    * are observed on the same pass; the gate then decides from the report
    * whether the staging becomes the main table (truncate) or is dropped.
    * A run the gate turns down leaves the table and the audit table as they
    * were. On success an audit row is appended.
    */
  def covidPipeline(spark: SparkSession, inputCsv: String, outputTable: String,
                    auditTable: String, runId: String = "local-run"): RunSummary = {
    // Stage 0: file-level pre-flight (exists/empty/utf8; size/age warns) —
    // metadata-only, replaces the reference's whole-file download checks
    val fileGate = FileChecks.check(spark, inputCsv)
    if (fileGate.failed)
      throw new GateFailure(
        s"file checks failed for $inputCsv: " +
          fileGate.files.filter(f => !f.exists || f.empty || !f.utf8Ok)
            .map(_.path).mkString(","))

    // Stage 1-3: parse, validate (replaces dataflow.py:62-134), clean, and
    // write; publish only if the data-quality gate passes
    val checked = CovidTransform.checked(Sources.csv(spark, inputCsv, Schemas.covidRaw))
    Sinks.overwriteTable(checked.df, outputTable) {
      val report = checked.report
      if (report.failed)
        throw new GateFailure(
          s"validation failed for $inputCsv: total=${report.totalRecords} " +
            report.results.filter(_.violations > 0).map(r => s"${r.name}=${r.violations}").mkString(","))
    }
    val n = checked.recordCount

    // Stage 4: audit append (dataflow_transform.py:192-214)
    Sinks.appendTable(Audit.auditRow(spark, inputCsv, n), auditTable)
    RunSummary(runId, inputCsv, checked.report, n, "completed")
  }

  /** Path B — the ELT/SQL pipeline (`/root/reference/airflow.py:37-123`, in
    * its INTENDED task order, SURVEY.md §0): DDL staging+final → bulk load
    * of the header's string columns, typed by the staging schema's casts,
    * + truncate → INSERT INTO final SELECT … WHERE total_confirmed_deaths > 0
    * (`airflow.py:108-116`), executed by Spark SQL's own
    * parse→analyze→optimize→execute lifecycle → post-load check. A
    * malformed row fails the load as a [[GateFailure]]. Returns the final
    * table's row count.
    */
  def eltPipeline(spark: SparkSession, inputCsv: String, db: String): Long = {
    Sinks.ensureDatabase(spark, db)
    Sinks.ensureTable(spark, s"$db.stg_covid_data", Schemas.covidStaging)
    Sinks.ensureTable(spark, s"$db.final_covid_data", Schemas.covidStaging)

    // bulk load, autodetect=True + truncate (airflow.py:87-101)
    // try_cast: autodetect keeps unparseable cells as NULL rather than
    // failing the load (ANSI cast would throw on e.g. a bad date string)
    val loaded = Sources.csvAutodetect(spark, inputCsv)
      .withColumn("Day", expr("try_cast(Day AS TIMESTAMP_NTZ)"))
      .withColumn("total_confirmed_deaths", expr("try_cast(total_confirmed_deaths AS DOUBLE)"))
      .select("entity", "Day", "total_confirmed_deaths")
    try loaded.write.mode("overwrite").insertInto(s"$db.stg_covid_data")
    catch {
      case e: Exception if malformedRecord(e) =>
        throw new GateFailure(s"ELT load of $inputCsv failed on a malformed row: ${e.getMessage}")
    }

    // the one piece of real SQL in the reference (airflow.py:108-116)
    spark.sql(
      s"""INSERT INTO $db.final_covid_data
         |SELECT entity, Day, total_confirmed_deaths
         |FROM $db.stg_covid_data
         |WHERE total_confirmed_deaths > 0""".stripMargin)

    // post-load assertion — the imported-but-unused BigQueryCheckOperator
    // intent (airflow.py:7; SURVEY.md §2.8)
    val n = spark.table(s"$db.final_covid_data").count()
    if (n == 0) throw new GateFailure("post-load check failed: final table is empty")
    n
  }

  /** A FAILFAST CSV read raises a MALFORMED_* error somewhere in the cause
    * chain of the failed job.
    */
  private def malformedRecord(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case t: SparkThrowable => Option(t.getCondition).exists(_.startsWith("MALFORMED_"))
      case _ => false
    }
}
