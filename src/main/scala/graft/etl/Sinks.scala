package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table sinks + DDL (SURVEY.md §2.5 K1-K5).
  *
  * The reference's `WRITE_TRUNCATE`/`WRITE_APPEND` + `CREATE_IF_NEEDED`
  * (`/root/reference/dataflow_transform.py:180-189`, `:204-214`) map to
  * SaveMode.Overwrite/Append against catalog tables backed by parquet.
  *
  * Scale: writes go through the distributed commit protocol; pass
  * `partitionBy` (e.g. the date column) so downstream reads get partition
  * pruning — configuration, not new operators (SURVEY.md §4.3).
  */
object Sinks {

  /** The session catalog is in-memory: a table written by a PREVIOUS JVM
    * leaves its warehouse location on disk but no catalog entry, and a
    * naive saveAsTable or CREATE TABLE then fails with
    * LOCATION_ALREADY_EXISTS. Returns that orphan location, if any; the
    * callers resolve it per their save mode: re-register it as a table
    * (append and create keep history) or remove it (truncate).
    */
  private def orphanLocation(spark: SparkSession, table: String): Option[(Path, FileSystem)] =
    if (spark.catalog.tableExists(table)) None
    else {
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
      val path = new Path(spark.sessionState.catalog.defaultTablePath(ident))
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(path)) Some((path, fs)) else None
    }

  /** K1 — truncate-and-load with create-if-needed (`WRITE_TRUNCATE`:
    * a stale location from an earlier run is removed, as truncate implies).
    */
  def overwriteTable(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Unit = {
    orphanLocation(df.sparkSession, table).foreach { case (p, fs) => fs.delete(p, true) }
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).saveAsTable(table)
  }

  /** K2/K3 — append (audit rows; INSERT INTO final). A location from an
    * earlier run is re-registered first so history accumulates across runs.
    */
  def appendTable(df: DataFrame, table: String): Unit = {
    orphanLocation(df.sparkSession, table).foreach { case (path, _) =>
      df.sparkSession.sql(s"CREATE TABLE $table USING parquet LOCATION '$path'")
    }
    df.write.mode(SaveMode.Append).saveAsTable(table)
  }

  /** K5 — `CREATE DATABASE IF NOT EXISTS` (`dataflow.py:452-460`). */
  def ensureDatabase(spark: SparkSession, db: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")

  /** K4 — idempotent typed empty-table creation (`airflow.py:57-84`,
    * `exists_ok=True`). An orphan location from an earlier run becomes the
    * declared table's LOCATION, keeping its rows as [[appendTable]] does.
    */
  def ensureTable(spark: SparkSession, table: String, schema: StructType): Unit = {
    val location = orphanLocation(spark, table).fold("") { case (p, _) => s"LOCATION '$p'" }
    spark.sql(s"CREATE TABLE IF NOT EXISTS $table (${schema.toDDL}) USING parquet $location")
  }

  /** The declared-but-uninstantiated `BigQueryCheckOperator`
    * (`airflow.py:7`; SURVEY.md §2.8): a post-load SQL assertion — the first
    * cell of the first row must be truthy.
    */
  def check(spark: SparkSession, sql: String): Boolean = {
    val rows = spark.sql(sql).limit(1).collect()
    rows.nonEmpty && (rows.head.get(0) match {
      case null => false
      case b: Boolean => b
      case n: Number => n.longValue() != 0L
      case s: String => s.nonEmpty
      case _ => true
    })
  }
}
