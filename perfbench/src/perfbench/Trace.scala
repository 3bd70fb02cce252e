package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.JobRunner

/** Names a stack's layer after the program's modules.
  *
  * A stack is a list of (class, method) frames, innermost first, as
  * `Thread.getStackTrace` and a Spark job's call site list them. The
  * outermost frame of a public entry point the benchmark calls
  * identifies the call; the first frame above it that belongs to another
  * module is what the call was doing, and that callee names the layer.
  * Matching modules, not lines, keeps the mapping valid when a pipeline's
  * body is reordered.
  */
object Attribution {

  val Entries: Seq[(String, String)] = Seq(
    "graft.etl.Jobs$" -> "covidPipeline",
    "graft.etl.Jobs$" -> "eltPipeline",
    "graft.streaming.StreamingIngest$" -> "runAvailableNow",
    "graft.JobRunner$" -> "senseInput")

  /** Layer of a stack with no public entry point on it. */
  val Outside = "harness"

  /** `graft.etl.Audit$Counted` → `graft.etl.Audit`. */
  def module(cls: String): String = cls.takeWhile(_ != '$')

  private def isEntry(f: (String, String)): Boolean = Entries.exists {
    case (c, m) => f._1 == c && (f._2 == m || f._2.startsWith(s"$$anonfun$$$m$$"))
  }

  /** Frames of a Spark call-site long form ("cls.method(File.scala:12)" a line). */
  def parseCallSite(longForm: String): Seq[(String, String)] =
    longForm.linesIterator.map(_.trim.takeWhile(_ != '(')).filter(_.contains('.')).map { s =>
      val dot = s.lastIndexOf('.')
      (s.substring(0, dot), s.substring(dot + 1))
    }.toSeq

  def layer(frames: Seq[(String, String)]): String = {
    val e = frames.lastIndexWhere(isEntry)
    if (e < 0) return Outside
    val (entryCls, entryMethod) = frames(e)
    val call = if (entryMethod.startsWith("$anonfun$")) entryMethod.split('$')(2) else entryMethod
    val callee = frames.take(e).reverseIterator.find(f => module(f._1) != module(entryCls))
    val (cls, method) = callee.getOrElse(("", ""))
    val mod = module(cls)
    call match {
      case "senseInput" => "sense"
      case "runAvailableNow" => "stream"
      case "covidPipeline" => mod match {
        case "graft.etl.FileChecks" => "filechecks"
        case "graft.etl.Validation" | "graft.sources.Sources" => "validation"
        case "graft.etl.CovidTransform" => "clean_write"
        case "graft.etl.Audit" | "graft.etl.Sinks" =>
          if (method == "auditRow" || method == "appendTable") "audit" else "clean_write"
        case _ => "covid.other"
      }
      case "eltPipeline" => mod match {
        case "graft.etl.Sinks" =>
          if (method == "check") "elt.check" else "elt.ddl"
        case "graft.sources.Sources" => "elt.load"
        case m if m.startsWith("org.apache.spark.") =>
          if (method == "sql") "elt.insert"
          else if (method == "count" || method == "table") "elt.check"
          else "elt.load"
        case _ => "elt.other"
      }
    }
  }
}

/** Tracing from outside the program: spans around each public call, a
  * `SparkListener`, a `QueryExecutionListener` and a streaming listener on
  * the session, and a sampler of the driver thread's stack. Everything is
  * kept in memory and read after the session stops. Until `enable()` it
  * records nothing.
  */
final class Tracer(spark: SparkSession, driver: Thread) {
  import Tracer._

  private val sc = spark.sparkContext
  @volatile private var on = false
  @volatile private var op = -1
  private var opStartNs = 0L
  private var opStartMs = 0L

  // ---- spans (driver thread only)
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val ops = mutable.LinkedHashMap.empty[Int, OpRec]
  private var retriedCalls = 0L
  private var attempts = 0L

  def span[T](name: String)(body: => T): T =
    if (!on || op < 0) body
    else {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), op, System.nanoTime())
      spans += s
      open = s :: open
      sc.setLocalProperty(CallKey, name)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(CallKey, open.headOption.map(_.name).orNull)
      }
    }

  /** `JobRunner.withRetries` with its body invocations counted. */
  def retried[T](body: => T): T = {
    if (on) retriedCalls += 1
    span("JobRunner.withRetries") {
      JobRunner.withRetries() { if (on) attempts += 1; body }
    }
  }

  def opStart(i: Int): Unit = if (on) {
    sc.setLocalProperty(OpKey, i.toString)
    opStartMs = System.currentTimeMillis()
    opStartNs = System.nanoTime()
    op = i
    spans += Span(spans.size, "op", -1, i, opStartNs)
    open = List(spans.last)
  }

  def opEnd(): Unit = if (on && op >= 0) {
    val endNs = System.nanoTime()
    open.last.endNs = endNs
    open = Nil
    ops(op) = OpRec(op, opStartMs, System.currentTimeMillis(), (endNs - opStartNs) / 1e9)
    op = -1
    sc.setLocalProperty(OpKey, null)
    sc.setLocalProperty(CallKey, null)
  }

  def opFiles(i: Int, csvBytes: Long, filesWritten: Long): Unit =
    ops.get(i).foreach { r => r.csvBytes = csvBytes; r.files = filesWritten }

  // ---- Spark events (listener bus thread)
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Long]()

  private object jobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
      val layer = Attribution.layer(Attribution.parseCallSite(site))
      val r = JobRec(e.jobId, prop(OpKey).map(_.toInt).getOrElse(-1), prop(CallKey).getOrElse(""),
        layer, site.linesIterator.take(3).mkString(" < "), e.time)
      jobs.put(e.jobId, r)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, r))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (r <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) {
        r.tasks += 1
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.bytesRead += m.inputMetrics.bytesRead
        r.bytesWritten += m.outputMetrics.bytesWritten
      }
  }

  private object planListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val spent = PlanPhases.flatMap(ph.get).map(p => p.endTimeMs - p.startTimeMs).sum
      if (ph.nonEmpty) plans.add((ph.values.map(_.startTimeMs).min, spent / 1e3))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0)
        progress.add(java.time.Instant.parse(e.progress.timestamp).toEpochMilli)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  // ---- driver-thread stack sampler: wall time per layer per op, and
  // the layer changes in time order (ms, op, layer)
  private val sampled = new ConcurrentHashMap[(Int, String), java.lang.Double]()
  private val timeline = ArrayBuffer.empty[(Long, Int, String)]
  @volatile private var sampling = true
  private val sampler = new Thread(() => {
    var last = System.nanoTime()
    var where = (-1, "")
    while (sampling) {
      Thread.sleep(SampleMs)
      val now = System.nanoTime()
      val i = op
      if (i >= 0) {
        val frames = driver.getStackTrace.toSeq.map(f => (f.getClassName, f.getMethodName))
        val l = Attribution.layer(frames)
        sampled.merge((i, l), (now - last) / 1e9, (a, b) => a + b)
        if (where != ((i, l))) {
          where = (i, l)
          timeline += ((System.currentTimeMillis(), i, l))
        }
      }
      last = now
    }
  }, "perfbench-sampler")

  /** Layer of a job whose call site holds no program frame (Spark runs
    * query stages from its own threads): the driver thread's layer when
    * the job started.
    */
  private def resolve(j: JobRec): Unit =
    if (j.layer == Attribution.Outside && j.op >= 0)
      j.layer = timeline.reverseIterator.find(t => t._2 == j.op && t._1 <= j.startMs)
        .map(_._3).getOrElse(Attribution.Outside)
  sampler.setDaemon(true)

  def enable(): Unit = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    sampler.start()
    on = true
  }

  /** Per-op metrics and run metrics into `out`; spans and layer self
    * times into `dump`. Call after the session stopped.
    */
  def report(out: Json.Obj, runStats: Seq[(String, Double)], dump: Path): Unit = {
    sampling = false
    sampler.join()
    val allJobs = jobs.values.asScala.toSeq
    allJobs.foreach(resolve)
    val perOp = ops.values.toSeq.map { r =>
      val js = allJobs.filter(_.op == r.op)
      def self(layer: String) = Option(sampled.get((r.op, layer))).map(_.doubleValue).getOrElse(0.0)
      def jobSum(p: JobRec => Boolean)(f: JobRec => Double) = js.filter(p).map(f).sum
      def all(f: JobRec => Double) = jobSum(_ => true)(f)
      def inLayer(l: String)(j: JobRec) = j.layer == l
      val jobWall = unionMs(js.map(j =>
        (j.startMs max r.startMs, (if (j.endMs < 0) r.endMs else j.endMs) min r.endMs))) / 1e3
      val csv = r.csvBytes.toDouble max 1.0
      val stream = spans.exists(s => s.op == r.op && s.name.startsWith("streaming."))
      val loadS = self("elt.load")
      Json.obj(
        "wall_s" -> r.wall,
        "filechecks.s" -> self("filechecks"),
        "validation.s" -> self("validation"),
        "validation.cpu_s" -> jobSum(inLayer("validation"))(_.cpuNs / 1e9),
        "clean_write.s" -> self("clean_write"),
        "clean_write.cpu_s" -> jobSum(inLayer("clean_write"))(_.cpuNs / 1e9),
        "clean_write.gc_s" -> jobSum(inLayer("clean_write"))(_.gcMs / 1e3),
        "covid.scan_passes" -> jobSum(_.call == "etl.Jobs.covidPipeline")(_.bytesRead.toDouble) / csv,
        "elt.scan_passes" -> jobSum(inLayer("elt.load"))(_.bytesRead.toDouble) / csv,
        "audit.s" -> self("audit"),
        "elt.load_s" -> loadS,
        "elt.load_parallelism" ->
          (if (loadS > 0) jobSum(inLayer("elt.load"))(_.runMs / 1e3) / loadS else 0.0),
        "elt.insert_s" -> self("elt.insert"),
        "elt.check_s" -> self("elt.check"),
        "sinks.bytes_per_input_byte" -> all(_.bytesWritten.toDouble) / csv,
        "sinks.files_written" -> r.files,
        "stream.batches_per_op" -> progress.asScala.count(t => t >= r.startMs && t <= r.endMs),
        "stream.job_s" -> (if (stream) jobWall else 0.0),
        "stream.driver_s" -> (if (stream) r.wall - jobWall else 0.0),
        "spark.jobs" -> js.size,
        "spark.stages" -> js.map(_.stages).sum,
        "spark.tasks" -> js.map(_.tasks).sum,
        "spark.planning_s" ->
          plans.asScala.filter(p => p._1 >= r.startMs && p._1 <= r.endMs).map(_._2).sum,
        "spark.driver_gap_s" -> (r.wall - jobWall),
        "spark.executor_run_s" -> all(_.runMs / 1e3),
        "spark.executor_cpu_s" -> all(_.cpuNs / 1e9),
        "spark.gc_s" -> all(_.gcMs / 1e3),
        "spark.shuffle_write_bytes" -> all(_.shuffleWrite.toDouble),
        "spark.spill_bytes" -> all(_.spill.toDouble))
    }
    out("trace_ops") = perOp
    out("trace_run") = Json.obj(
      "jobrunner.attempts_per_op" -> (if (retriedCalls > 0) attempts.toDouble / retriedCalls else 0.0),
      "stream.checkpoint_files" -> 0.0, "stream.output_files" -> 0.0) ++= runStats

    val t0 = spans.head.startNs
    val d = Json.obj(
      "spans" -> spans.map(s => Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9)),
      "layers" -> sampled.asScala.toSeq.sortBy(_._1).map { case ((i, l), v) =>
        Json.obj("op" -> i, "layer" -> l, "s" -> v.doubleValue) },
      "jobs" -> allJobs.sortBy(_.id).map(j => Json.obj("id" -> j.id, "op" -> j.op,
        "call" -> j.call, "layer" -> j.layer, "site" -> j.site, "stages" -> j.stages,
        "tasks" -> j.tasks, "run_s" -> j.runMs / 1e3, "cpu_s" -> j.cpuNs / 1e9,
        "read_bytes" -> j.bytesRead, "written_bytes" -> j.bytesWritten)))
    Files.writeString(dump, Json.render(d))
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val CallKey = "perfbench.call"
  val SampleMs = 2L
  val PlanPhases = Seq("analysis", "optimization", "planning")

  final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long) {
    var endNs = 0L
  }
  final case class OpRec(op: Int, startMs: Long, endMs: Long, wall: Double) {
    var csvBytes = 0L
    var files = 0L
  }
  final case class JobRec(id: Int, op: Int, call: String, var layer: String, site: String,
                          startMs: Long) {
    @volatile var endMs = -1L
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var bytesRead = 0L
    var bytesWritten = 0L
  }

  /** Total length of the union of [start, end] intervals (ms). */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = curE max e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
