package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AdvancedQueries, PipelineQueries, QuerySpec, RelationalQueries, TrainingQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Full declared inventory: one QuerySpec per implemented operator. */
  def specs: Seq[QuerySpec] =
    RelationalQueries.all ++ TrainingQueries.all ++ AdvancedQueries.all ++
      PipelineQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q04_revenue_by_nation")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.builder).toMap

  /** The lanes a SPARK_GRAFT_ONLY value names (comma-separated), or None
    * for all lanes when it is unset or blank. A name that is not in
    * [[queries]] raises, so a typo cannot pass as an empty clean run.
    */
  def onlyLanes(value: Option[String]): Option[Set[String]] = {
    val only = value.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach { o =>
      val unknown = o -- queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    only
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    specs.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
