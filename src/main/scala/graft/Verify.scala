package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = JobRunner.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter (driver sets no env → full run): run only the
    // named queries, e.g. SPARK_GRAFT_ONLY=q86_zscore_outliers,q69_merge_upsert
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty) // blank env var means "all", not "none"
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // A query that raises must be LOUD, not silently absent from the round's
    // correctness artifact (r10 shipped 13 missing entries as a clean run):
    // dump the errors next to the oracle SQL so the compare side can surface
    // them, print a tally, and exit nonzero so the driver records the run as
    // failed instead of partially-green.
    val errJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    val nRun = SparkEntry.queries.count { case (n, _) => only.forall(_.contains(n)) }
    System.err.println(
      s"[verify] ${nRun - failed.size}/$nRun queries dumped, ${failed.size} failed" +
        (if (failed.nonEmpty) s": ${failed.keys.mkString(", ")}" else ""))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
