package graft.tools

/** Judge-artifact dumper: writes `.explain("formatted")` output for the
  * named lanes (or all) to `outDir/<name>.txt` — the plan evidence the
  * optimization rounds commit under `plans/r<N>/`. Measurement tooling
  * only, not part of the shipped library.
  *
  *   runMain graft.tools.ExplainDump <sfDir> <outDir> [q1,q2,...]
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(outDir)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet)
      else None
    val spark = graft.JobRunner.session("graft-explain-dump")
    var nFail = 0
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    for (name <- names) {
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(outDir.resolve(s"$name.txt"), txt)
      } catch {
        case e: Exception =>
          nFail += 1
          System.err.println(s"[explain-dump] $name failed: ${e.getMessage}")
      }
    }
    println(s"[explain-dump] ${names.size - nFail}/${names.size} plans dumped to $outDir")
    spark.stop()
  }
}
