package graft

/** Plan-hash stability audit: writes every lane's NORMALIZED analyzed-plan
  * string — the exact input of [[Bench.normalizedPlanHash]] — to
  * `outDir/<name>.txt`. Run it twice (two JVMs) and diff the directories:
  * any differing file names a run-varying plan element the normalizer
  * misses (per-JVM lambda ids, random scratch paths, unstable orderings),
  * i.e. a lane whose fast-tier confirm and host-vs-code adjudication are
  * silently degraded. The final plan is only ANALYZED, never executed —
  * but lanes whose BUILDER runs driver loops (the iterative graph family)
  * do pay their loop once, so a full audit costs a few minutes, not a
  * sweep.
  *
  *   runMain graft.PlanAudit <sfDir> <outDir>
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(outDir)
    val spark = JobRunner.session("graft-plan-audit")
    // TWICE mode: build every lane a first time (advancing all global
    // counters — lambda variable names, cte/subquery ids, view tags),
    // then dump the SECOND build. Diffing a TWICE run against a plain
    // run catches any construction-order-dependent plan element the
    // normalizer misses — exactly the shift a multi-rep sweep produces.
    val twice = sys.env.get("SPARK_GRAFT_AUDIT_TWICE").exists(_.nonEmpty)
    var nFail = 0
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      try {
        if (twice) SparkEntry.queries(name)(spark, sfDir)
        val df = SparkEntry.queries(name)(spark, sfDir)
        val norm = Bench.normalizePlan(
          df.queryExecution.analyzed.toString, sfDir)
        java.nio.file.Files.writeString(outDir.resolve(s"$name.txt"), norm)
      } catch {
        case e: Exception =>
          nFail += 1
          System.err.println(s"[plan-audit] $name failed: ${e.getMessage}")
      }
    }
    println(s"[plan-audit] ${SparkEntry.queries.size - nFail}/" +
      s"${SparkEntry.queries.size} plans dumped to $outDir")
    spark.stop()
  }
}
