package perfbench

/** Checks of the trace attribution on known stacks; exits 1 on a mismatch.
  *   java -cp <classpath> perfbench.SelfTest
  */
object SelfTest {

  private def frames(s: String*): Seq[(String, String)] = s.map { f =>
    val dot = f.lastIndexOf('.')
    (f.substring(0, dot), f.substring(dot + 1))
  }

  private val below = Seq("perfbench.Harness$BatchEtl.$anonfun$run$2",
    "graft.JobRunner$.withRetries", "perfbench.Harness$.main")

  val cases: Seq[(String, Seq[(String, String)], String)] = Seq(
    ("validation scan", frames(Seq("java.lang.Object.wait",
      "org.apache.spark.scheduler.DAGScheduler.runJob",
      "org.apache.spark.sql.classic.Dataset.collect",
      "graft.etl.Validation$.$anonfun$run$1", "graft.etl.Validation$.run",
      "graft.etl.Jobs$.covidPipeline") ++ below: _*), "validation"),
    ("file checks", frames(Seq("java.io.FileInputStream.read",
      "graft.etl.FileChecks$.utf8Head", "graft.etl.FileChecks$.check",
      "graft.etl.Jobs$.covidPipeline") ++ below: _*), "filechecks"),
    ("truncate-write via orphan check", frames(Seq(
      "org.apache.spark.sql.internal.CatalogImpl.tableExists",
      "graft.etl.Sinks$.adoptOrphanLocation", "graft.etl.Sinks$.overwriteTable",
      "graft.etl.Jobs$.covidPipeline") ++ below: _*), "clean_write"),
    ("observed count", frames(Seq("graft.etl.Audit$Counted.recordCount",
      "graft.etl.Jobs$.covidPipeline") ++ below: _*), "clean_write"),
    ("audit append", frames(Seq(
      "org.apache.spark.sql.classic.DataFrameWriter.saveAsTable",
      "graft.etl.Sinks$.appendTable", "graft.etl.Jobs$.covidPipeline") ++ below: _*),
      "audit"),
    ("error message in a lambda", frames(Seq("scala.collection.immutable.List.map",
      "graft.etl.Validation$Report.failed",
      "graft.etl.Jobs$.$anonfun$covidPipeline$1", "graft.etl.Jobs$.covidPipeline") ++
      below: _*), "validation"),
    ("elt ddl", frames(Seq("org.apache.spark.sql.classic.SparkSession.sql",
      "graft.etl.Sinks$.ensureTable", "graft.etl.Jobs$.eltPipeline") ++ below: _*),
      "elt.ddl"),
    ("elt schema inference", frames(Seq(
      "org.apache.spark.sql.classic.DataFrameReader.csv",
      "graft.sources.Sources$.csvAutodetect", "graft.etl.Jobs$.eltPipeline") ++
      below: _*), "elt.load"),
    ("elt load write", frames(Seq(
      "org.apache.spark.sql.classic.DataFrameWriter.insertInto",
      "graft.etl.Jobs$.eltPipeline") ++ below: _*), "elt.load"),
    ("elt insert", frames(Seq("org.apache.spark.sql.classic.SparkSession.sql",
      "graft.etl.Jobs$.eltPipeline") ++ below: _*), "elt.insert"),
    ("elt post-load check", frames(Seq("org.apache.spark.sql.classic.Dataset.limit",
      "graft.etl.Sinks$.check", "graft.etl.Jobs$.eltPipeline") ++ below: _*),
      "elt.check"),
    ("elt final count", frames(Seq("org.apache.spark.sql.classic.Dataset.count",
      "graft.etl.Jobs$.eltPipeline") ++ below: _*), "elt.check"),
    ("sensor", frames(Seq("graft.etl.FileChecks$.sense",
      "graft.JobRunner$.senseInput") ++ below: _*), "sense"),
    ("no program frame", frames("java.lang.Thread.sleep",
      "perfbench.Harness$.main"), Attribution.Outside),
    ("job call site", Attribution.parseCallSite(
      """org.apache.spark.sql.classic.DataFrameWriter.saveAsTable(DataFrameWriter.scala:432)
        |graft.etl.Sinks$.overwriteTable(Sinks.scala:46)
        |graft.etl.Jobs$.covidPipeline(Jobs.scala:48)
        |perfbench.Harness$BatchEtl.$anonfun$run$3(Harness.scala:108)""".stripMargin),
      "clean_write"),
    ("stream batch call site", Attribution.parseCallSite(
      """org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1)
        |graft.etl.Sinks$.writeParquet(Sinks.scala:60)
        |graft.streaming.StreamingIngest$.$anonfun$runAvailableNow$1(StreamingIngest.scala:39)
        |org.apache.spark.sql.execution.streaming.MicroBatchExecution.runBatch(MicroBatchExecution.scala:1)""".stripMargin),
      "stream"),
    ("Spark-thread call site", Attribution.parseCallSite(
      """org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2(SQLExecution.scala:329)
        |java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)""".stripMargin),
      Attribution.Outside))

  def main(args: Array[String]): Unit = {
    val bad = cases.flatMap { case (name, stack, want) =>
      val got = Attribution.layer(stack)
      if (got == want) None else Some(s"$name: got $got, expected $want")
    } ++ Seq(
      (Seq((0L, 10L), (5L, 20L), (30L, 40L)), 30L),
      (Seq((10L, 10L), (0L, 5L), (1L, 2L)), 5L),
      (Seq.empty[(Long, Long)], 0L)).flatMap { case (iv, want) =>
      val got = Tracer.unionMs(iv)
      if (got == want) None else Some(s"unionMs($iv): got $got, expected $want")
    }
    bad.foreach(println)
    println(s"${cases.size + 3 - bad.size}/${cases.size + 3} attribution checks pass")
    if (bad.nonEmpty) sys.exit(1)
  }
}
