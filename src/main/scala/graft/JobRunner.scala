package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** CLI job runner — the Spark-native restatement of the reference's
  * orchestration plane (SURVEY.md §2.8, §3.2): per-run job naming
  * (`/root/reference/dataflow.py:471`), retry wrapper
  * (`dataflow.py:45-46`), stages as function calls.
  *
  * Usage:
  *   graft.JobRunner covid <input.csv> <outputTable> <auditTable>
  *   graft.JobRunner elt <input.csv> <database>
  *   graft.JobRunner stream <inputDir> <outputPath> <checkpointDir>
  */
object JobRunner {

  /** The program's one SparkSession builder: every main starts here, with
    * the native functions registered. A main that needs another log level
    * or SQL conf sets it on the returned session.
    */
  def session(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.ArrayMath.register(s)
    s
  }

  /** Timeout-bounded wait for the job's input before any stage runs — the
    * reference DAG's first task is a file-existence sensor
    * (`airflow.py:48-55`, poke 60 s / timeout 300 s) and every downstream
    * stage depends on it. Poke/timeout configurable via
    * SPARK_GRAFT_POKE_MS / SPARK_GRAFT_SENSE_TIMEOUT_MS; an existing input
    * satisfies the first poke immediately, so local runs never sleep.
    */
  def senseInput(spark: SparkSession, glob: String): Int = {
    val pokeMs = sys.env.getOrElse("SPARK_GRAFT_POKE_MS", "60000").toLong
    val timeoutMs = sys.env.getOrElse("SPARK_GRAFT_SENSE_TIMEOUT_MS", "300000").toLong
    etl.FileChecks.sense(spark, glob, pokeMs, timeoutMs)
  }

  /** Retry wrapper (reference: 2 retries / 5 min; delay configurable so
    * tests and local runs don't sleep). Only transient failures are
    * retried: a [[etl.Jobs.GateFailure]], an interrupt or a fatal error
    * propagates from the attempt that raised it.
    */
  def withRetries[T](retries: Int = 2, delayMs: Long = 0L)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: etl.Jobs.GateFailure => throw e
        case NonFatal(e) if attempt < retries =>
          attempt += 1
          System.err.println(s"[graft] attempt $attempt failed: ${e.getMessage}; retrying")
          if (delayMs > 0) Thread.sleep(delayMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def main(args: Array[String]): Unit = {
    val runId = s"graft-${java.util.UUID.randomUUID().toString.take(8)}"
    args.toList match {
      case "covid" :: input :: outTable :: auditTable :: Nil =>
        val spark = session(runId)
        senseInput(spark, input)
        val summary = withRetries() {
          etl.Jobs.covidPipeline(spark, input, outTable, auditTable, runId)
        }
        println(s"""{"job":"covid","runId":"${summary.runId}","records":${summary.recordCount},""" +
          s""""validated":${summary.validation.totalRecords},"status":"${summary.status}"}""")
        spark.stop()
      case "elt" :: input :: db :: Nil =>
        val spark = session(runId)
        senseInput(spark, input)
        val n = withRetries() { etl.Jobs.eltPipeline(spark, input, db) }
        println(s"""{"job":"elt","runId":"$runId","finalRows":$n}""")
        spark.stop()
      case "stream" :: inDir :: outPath :: ckpt :: Nil =>
        val spark = session(runId)
        val n = streaming.StreamingIngest.runAvailableNow(spark, inDir, outPath, ckpt)
        println(s"""{"job":"stream","runId":"$runId","rowsWritten":$n}""")
        spark.stop()
      case other =>
        System.err.println(s"unknown job spec: ${other.mkString(" ")}\n" +
          "usage: covid <csv> <table> <auditTable> | elt <csv> <db> | stream <in> <out> <ckpt>")
        sys.exit(2)
    }
  }
}
