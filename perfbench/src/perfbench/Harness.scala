package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.JobRunner
import graft.etl.Jobs
import graft.streaming.StreamingIngest

/** One benchmark process. Builds the session through `JobRunner.session`,
  * then drives one workload closed-loop from this (the driver) thread:
  * a first op in the fresh process, untimed warm-up ops, then warm ops
  * until the time is up.
  * Every op's output is checked against the generator's expectations.
  *
  * Usage (run.py passes these):
  *   --mode batch_etl|arrivals --work DIR --plan FILE --out FILE
  *   [--warmup N] --seconds S [--trace 0|1]
  *   --mode setup --out FILE    (set up the session, write the times, exit)
  */
object Harness {

  /** One generated input file with the counts the program must produce. */
  final case class Input(path: String, rows: Long, bytes: Long,
                         violations: Map[String, Long], records: Long,
                         deathsSum: Long, eltFinal: Long)

  val Rules = Seq("required_entity", "required_Day",
    "required_total_confirmed_deaths", "numeric_total_confirmed_deaths", "date_Day")

  /** Tab-separated plan written by gen.py's caller: header line, one input a line. */
  def readPlan(file: String): IndexedSeq[Input] = {
    val lines = Files.readAllLines(Paths.get(file)).asScala.toIndexedSeq
    val head = lines.head.split('\t').zipWithIndex.toMap
    lines.tail.filter(_.nonEmpty).map { l =>
      val f = l.split('\t')
      def n(k: String) = f(head(k)).toLong
      Input(f(head("path")), n("rows"), n("bytes"), Rules.map(r => r -> n(r)).toMap,
        n("records"), n("deaths_sum"), n("elt_final"))
    }
  }

  /** A workload: `land` places op i's inputs, `run` is the timed op,
    * `check` compares its outcome with the expectations, `settle` counts
    * the data files the op wrote and removes what only that op needed,
    * `finish` checks what the ops accumulated. Only `run` is timed.
    */
  trait Workload {
    type Out
    def rowsPerOp: Long
    def land(i: Int): Long // CSV bytes landed
    def run(i: Int): Out
    def check(i: Int, outcome: Out): Seq[String]
    def settle(i: Int): Long
    def finish(): Seq[String]
    def runStats(): Seq[(String, Double)] = Nil
  }

  private def expectEq(what: String, got: Any, exp: Any): Seq[String] =
    if (got == exp) Nil else Seq(s"$what: got $got, expected $exp")

  /** Data files under `dir` (no `_SUCCESS`, no checksums). */
  def dataFiles(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.count { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
      }.toLong
      finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally s.close()
    }

  /** The paper's daily job: covid Path A then ELT Path B on one fresh CSV. */
  final class BatchEtl(spark: SparkSession, pool: IndexedSeq[Input], work: Path,
                       tr: Tracer) extends Workload {
    private val warehouse = Paths.get(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    private val covidTable = "bench_covid"
    private val auditTable = "bench_audit"
    private val audited = ArrayBuffer.empty[Input]
    private def input(i: Int) = pool(i % pool.size)
    private def landed(i: Int) = work.resolve(s"land/op-$i/covid_daily_$i.csv")
    private def db(i: Int) = s"bench_elt_$i"
    def rowsPerOp: Long = pool.map(_.rows).sum / pool.size

    def land(i: Int): Long = {
      Files.createDirectories(landed(i).getParent)
      Files.copy(Paths.get(input(i).path), landed(i), StandardCopyOption.REPLACE_EXISTING)
      input(i).bytes
    }

    type Out = (Jobs.RunSummary, Long)

    def run(i: Int): Out = {
      val path = landed(i).toString
      tr.span("JobRunner.senseInput") { JobRunner.senseInput(spark, path) }
      val summary = tr.retried {
        tr.span("etl.Jobs.covidPipeline") {
          Jobs.covidPipeline(spark, path, covidTable, auditTable, s"perfbench-op-$i")
        }
      }
      audited += input(i)
      val finalRows = tr.retried {
        tr.span("etl.Jobs.eltPipeline") { Jobs.eltPipeline(spark, path, db(i)) }
      }
      (summary, finalRows)
    }

    def check(i: Int, outcome: Out): Seq[String] = {
      val (s, finalRows) = outcome
      val in = input(i)
      val written = spark.table(covidTable)
        .agg(count(lit(1)), sum(col("total_confirmed_deaths"))).head()
      expectEq("validated rows", s.validation.totalRecords, in.rows) ++
        Rules.flatMap(r => expectEq(r, s.validation.violations(r), in.violations(r))) ++
        expectEq("status", s.status, "completed") ++
        expectEq("records", s.recordCount, in.records) ++
        expectEq("table rows", written.getLong(0), in.records) ++
        expectEq("table deaths", written.getLong(1), in.deathsSum) ++
        expectEq("elt finalRows", finalRows, in.eltFinal)
    }

    private var auditFiles = 0L

    def settle(i: Int): Long = {
      val audit = dataFiles(warehouse.resolve(auditTable))
      val n = dataFiles(warehouse.resolve(covidTable)) + audit - auditFiles +
        dataFiles(warehouse.resolve(s"${db(i)}.db"))
      auditFiles = audit
      spark.sql(s"DROP DATABASE IF EXISTS ${db(i)} CASCADE")
      deleteTree(landed(i).getParent)
      n
    }

    def finish(): Seq[String] = {
      val a = spark.table(auditTable).agg(count(lit(1)), sum(col("record_count"))).head()
      expectEq("audit rows", a.getLong(0), audited.size.toLong) ++
        expectEq("audit records", a.getLong(1), audited.map(_.records).sum)
    }
  }

  /** Sensor-poll-append: two new files a round into one watched directory,
    * drained by `runAvailableNow` against one checkpoint and one output.
    */
  final class Arrivals(spark: SparkSession, pool: IndexedSeq[Input], work: Path,
                       tr: Tracer) extends Workload {
    private val inDir = work.resolve("arrivals/in")
    private val stage = work.resolve("arrivals/stage")
    private val outDir = work.resolve("arrivals/out")
    private val ckpt = work.resolve("arrivals/checkpoint")
    private val drained = ArrayBuffer.empty[Input]
    private var outFiles = 0L
    Files.createDirectories(inDir)
    Files.createDirectories(stage)
    private def inputs(i: Int) = Seq(pool((2 * i) % pool.size), pool((2 * i + 1) % pool.size))
    def rowsPerOp: Long = 2 * pool.map(_.rows).sum / pool.size

    def land(i: Int): Long =
      inputs(i).zipWithIndex.map { case (in, k) =>
        val tmp = stage.resolve(s"arrival_${i}_$k.csv")
        Files.copy(Paths.get(in.path), tmp, StandardCopyOption.REPLACE_EXISTING)
        // atomic rename: the source never lists a half-written file
        Files.move(tmp, inDir.resolve(tmp.getFileName), StandardCopyOption.ATOMIC_MOVE)
        in.bytes
      }.sum

    type Out = Long

    def run(i: Int): Long = tr.retried {
      tr.span("streaming.StreamingIngest.runAvailableNow") {
        StreamingIngest.runAvailableNow(spark, inDir.toString, outDir.toString, ckpt.toString)
      }
    }

    def check(i: Int, outcome: Long): Seq[String] = {
      drained ++= inputs(i)
      expectEq("rows written", outcome, inputs(i).map(_.records).sum)
    }

    def settle(i: Int): Long = {
      val now = dataFiles(outDir)
      val n = now - outFiles
      outFiles = now
      n
    }

    def finish(): Seq[String] = {
      val o = spark.read.parquet(outDir.toString)
        .agg(count(lit(1)), sum(col("total_confirmed_deaths"))).head()
      expectEq("output rows", o.getLong(0), drained.map(_.records).sum) ++
        expectEq("output deaths", o.getLong(1), drained.map(_.deathsSum).sum)
    }

    override def runStats(): Seq[(String, Double)] = Seq(
      "stream.checkpoint_files" -> dataFiles(ckpt).toDouble,
      "stream.output_files" -> dataFiles(outDir).toDouble)
  }

  /** Sum of the heap memory pools' peak usage in MB: the heap the program
    * filled, whatever the collector committed around it. */
  def peakHeapMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024.0 * 1024.0)

  /** VmHWM of this process in MB (Linux). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val mode = opt("mode")
    val out = Json.obj()
    out("jvm_boot_s") = (mainMs - jvmStartMs) / 1e3

    val t0 = System.nanoTime()
    val spark = JobRunner.session(s"perfbench-$mode")
    out("session_build_s") = (System.nanoTime() - t0) / 1e9
    out("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
    if (mode == "setup") {
      Files.writeString(Paths.get(opt("out")), Json.render(out))
      Runtime.getRuntime.halt(0)
    }

    val work = Paths.get(opt("work"))
    val pool = readPlan(opt("plan"))
    val traced = opt.getOrElse("trace", "0") == "1"
    val tr = new Tracer(spark, Thread.currentThread())
    val w: Workload = mode match {
      case "batch_etl" => new BatchEtl(spark, pool, work, tr)
      case "arrivals" => new Arrivals(spark, pool, work, tr)
    }
    val errors = ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    def op(i: Int): Double = {
      val bytes = w.land(i)
      tr.opStart(i)
      val t = System.nanoTime()
      val outcome = try Right(w.run(i)) catch { case e: Throwable => Left(e) }
      val wall = (System.nanoTime() - t) / 1e9
      tr.opEnd()
      val errs = (try outcome.fold(e => Seq(s"exception: $e"), o => w.check(i, o))
        catch { case e: Throwable => Seq(s"check: $e") }) ++
        (if (wall > OpTimeoutS) Seq(f"timeout: $wall%.1f s > $OpTimeoutS s") else Nil)
      tr.opFiles(i, bytes, w.settle(i))
      attempted += 1
      if (errs.nonEmpty) {
        failed += 1
        errors ++= errs.map(e => s"op $i: $e")
      }
      wall
    }
    def loop(from: Int, seconds: Double): ArrayBuffer[Double] = {
      val walls = ArrayBuffer.empty[Double]
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      while (System.nanoTime() < deadline) walls += op(from + walls.size)
      walls
    }

    out("first_op_s") = op(0)
    // untimed warm-up ops: JIT keeps speeding the ops up for a while
    val warm = 1 + opt.getOrElse("warmup", "0").toInt
    (1 until warm).foreach(op)
    if (!traced) out("ops") = loop(warm, opt("seconds").toDouble)
    else {
      // traced run: an untraced half, then a traced half, so the
      // overhead of tracing is measured within one process
      val half = opt("seconds").toDouble / 2
      val plain = loop(warm, half)
      out("ops") = plain
      tr.enable()
      out("traced_ops") = loop(warm + plain.size, half)
    }
    // end-of-run checks of what the ops accumulated
    val endChecks = try w.finish() catch { case e: Throwable => Seq(s"end-of-run check: $e") }
    if (endChecks.nonEmpty) failed = math.min(attempted, failed + 1)
    errors ++= endChecks
    out("rows_per_op") = w.rowsPerOp
    out("attempted") = attempted
    out("failed") = failed
    out("errors") = errors.take(20).toSeq
    out("peak_rss_mb") = peakRssMb()
    out("peak_heap_mb") = peakHeapMb()
    if (traced) {
      val stats = w.runStats()
      spark.stop() // drains the listener bus before the trace is read
      tr.report(out, stats, work.resolve("trace.json"))
    }
    Files.writeString(Paths.get(opt("out")), Json.render(out))
    // everything is measured and written: skip the session's shutdown
    Runtime.getRuntime.halt(0)
  }

  /** An op slower than this counts as failed. */
  val OpTimeoutS = 60.0
}
