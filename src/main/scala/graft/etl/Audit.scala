package graft.etl

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The audit trail (SURVEY.md §2.5 K2/K6): one row per completed run.
  *
  * The reference traverses its processed stream twice — once for
  * `Count.Globally` (`/root/reference/dataflow_transform.py:192-195`) and
  * once for the main sink — plus a per-bundle side counter DoFn (`:75-89`).
  * Here the record count is observed on the write pass itself
  * (`CovidTransform.checked`): one scan, no second traversal, no cache.
  */
object Audit {

  /** The 6-field audit row (`dataflow_transform.py:91-106`). Table name is
    * derived from the dataset properly, not via the reference's literal
    * string replace quirk (`:204`, SURVEY.md §7.3).
    */
  def auditRow(spark: SparkSession, inputPath: String, recordCount: Long,
               status: String = "completed"): DataFrame = {
    val fileName = inputPath.split("/").last // os.path.basename, :93
    spark.createDataFrame(
      java.util.List.of(Row(fileName, recordCount, inputPath, status)),
      org.apache.spark.sql.types.StructType(Schemas.audit.filter(f =>
        f.name != "ingestion_time" && f.name != "processed_timestamp")))
      .withColumn("ingestion_time", current_timestamp())
      .withColumn("processed_timestamp", current_timestamp())
      .select(Schemas.audit.fieldNames.map(col).toIndexedSeq: _*)
  }
}
