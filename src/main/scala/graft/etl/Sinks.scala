package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.types.StructType

/** Table sinks + DDL (SURVEY.md §2.5 K1-K5).
  *
  * The reference's `WRITE_TRUNCATE`/`WRITE_APPEND` + `CREATE_IF_NEEDED`
  * (`/root/reference/dataflow_transform.py:180-189`, `:204-214`) map to
  * managed parquet tables: truncate is a staged write published by rename
  * ([[overwriteTable]]), append is SaveMode.Append. Writes go through the
  * distributed commit protocol.
  */
object Sinks {

  /** The session catalog is in-memory: a table written by a PREVIOUS JVM
    * leaves its warehouse location on disk but no catalog entry, and a
    * naive saveAsTable or CREATE TABLE then fails with
    * LOCATION_ALREADY_EXISTS. Returns that orphan location, if any; the
    * callers re-register it as a table, so append and create keep its
    * history ([[overwriteTable]] removes it instead).
    */
  private def orphanLocation(spark: SparkSession, table: String): Option[(Path, FileSystem)] =
    if (spark.catalog.tableExists(table)) None
    else {
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
      val path = new Path(spark.sessionState.catalog.defaultTablePath(ident))
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(path)) Some((path, fs)) else None
    }

  /** K1 — truncate-and-load with create-if-needed, as write-audit-publish.
    * `df` is written to `_graft_stage_<name>` beside the table's managed
    * location; then `audit` runs, on the values the write observed. If it
    * throws, the staging directory is removed and the table is left as it
    * was. Otherwise the old table is dropped, the staging directory is
    * renamed to the location (a stale location from an earlier JVM is
    * removed first, as truncate implies) and registered as the managed
    * table, so `DROP TABLE` removes its files. The table is absent only
    * between the drop and the register, never during the write.
    */
  def overwriteTable(df: DataFrame, table: String)(audit: => Unit): Unit = {
    val spark = df.sparkSession
    val catalog = spark.sessionState.catalog
    val ident = catalog.qualifyIdentifier(spark.sessionState.sqlParser.parseTableIdentifier(table))
    val location = new Path(catalog.defaultTablePath(ident))
    val fs = location.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new Path(location.getParent, s"_graft_stage_${location.getName}")
    try {
      df.write.mode(SaveMode.Overwrite).parquet(stage.toString)
      audit
      spark.sql(s"DROP TABLE IF EXISTS $table")
      fs.delete(location, true)
      require(fs.rename(stage, location), s"overwriteTable: rename failed: $stage -> $location")
      catalog.createTable(CatalogTable(ident, CatalogTableType.MANAGED,
          CatalogStorageFormat.empty.copy(locationUri = Some(location.toUri)),
          StructType(df.schema.map(_.copy(nullable = true))), provider = Some("parquet")),
        ignoreIfExists = false, validateLocation = false)
    } finally fs.delete(stage, true)
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
}
