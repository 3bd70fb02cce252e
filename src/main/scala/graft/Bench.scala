package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every declared lane on SPARK_GRAFT_SF_DIR, prints
  * one compact JSON line and writes the full record to
  * `bench/last_run_c<cpus>_<sf>.json`. With SPARK_GRAFT_ONLY it is the
  * lane probe: the named lanes only, written to `bench/last_subset.json`.
  *
  * Rep policy: after one untimed warm-up lane, every lane runs 3 cold
  * reps and reports their minimum. A rep builds the lane and writes it to
  * the `noop` sink, which materializes every row, under a wall-clock
  * circuit breaker; the cache is cleared after each rep. A lane whose
  * minimum [[regressed]] against the prior sweep at the same (cpus, sf)
  * runs up to 3 more reps before `vs_prev` may name it (the auto re-pin,
  * listed in `repinned`): a host-contention window passes, a real
  * regression survives. Per rep the record holds the wall, the JVM GC
  * millis and the rep's [[RepRecord]].
  */
object Bench {

  private val Reps = 3
  private val RepinReps = 3

  private def fmt(d: Double): String = BigDecimal(d)
    .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString

  /** Regression thresholds shared by `vsPrevJson` (naming) and the auto
    * re-pin predicate (adjudication) — one source of truth so a tuned
    * threshold can never name a regression that was never re-pinned.
    */
  private[graft] val RegressionRatio = 1.5
  private[graft] val RegressionAbsSec = 0.3
  private[graft] def regressed(cur: Double, prev: Double): Boolean =
    prev > 0 && cur >= 0 && cur / prev > RegressionRatio &&
      cur - prev > RegressionAbsSec

  /** Timed-out rep sentinel — distinct from the −1.0 raised-on-every-rep
    * failure marker so the artifact names the two differently: one lane
    * that cannot finish a rep must cost one row, not the sweep.
    */
  private[graft] val TimedOutSentinel = -2.0

  /** The Spark work of one rep: jobs, completed stages, tasks and their
    * summed executor run time.
    */
  private[graft] final case class RepRecord(jobs: Int, stages: Int,
                                            tasks: Int, taskRunMs: Long)

  /** Counts a [[RepRecord]] per job group. Stage and task events carry no
    * job group, so a stage counts toward the group of the job that
    * submitted it.
    */
  private[graft] final class RepListener extends SparkListener {
    private final class Counts {
      val started, ended, stages, tasks = new AtomicInteger
      val taskRunMs = new AtomicLong
    }
    private val groups = new ConcurrentHashMap[String, Counts]
    private val jobs = new ConcurrentHashMap[Int, Counts]
    private val stages = new ConcurrentHashMap[Int, Counts]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach { g =>
          val c = groups.computeIfAbsent(g, _ => new Counts)
          jobs.put(e.jobId, c)
          e.stageIds.foreach(stages.put(_, c))
          c.started.incrementAndGet()
        }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { c =>
        c.ended.incrementAndGet()
        synchronized(notifyAll())
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stages.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stages.get(e.stageId)).foreach { c =>
        c.tasks.incrementAndGet()
        if (e.taskMetrics != null) c.taskRunMs.addAndGet(e.taskMetrics.executorRunTime)
      }

    /** Removes and returns `group`'s record; call it once the group's jobs
      * have returned. The listener bus is asynchronous, so this first runs
      * a zero-partition fence job: the scheduler posts its start and end
      * at once, after every event of the finished jobs, and the record is
      * read when the fence's job-end count equals its job-start count.
      * Runs the fence under this thread's job group, then clears it; a
      * fence that does not settle in 30 s leaves the record as counted.
      */
    def take(sc: SparkContext, group: String): RepRecord = {
      val fence = s"$group-fence"
      sc.setJobGroup(fence, fence)
      try sc.emptyRDD[Int].count() finally sc.clearJobGroup()
      def settled = Option(groups.get(fence)).exists(c => c.ended.get == c.started.get)
      val deadline = System.nanoTime() + 30000L * 1000000L
      synchronized {
        while (!settled && System.nanoTime() < deadline)
          wait(math.max(1L, (deadline - System.nanoTime()) / 1000000L))
      }
      groups.remove(fence)
      val c = Option(groups.remove(group)).getOrElse(new Counts)
      stages.values.removeIf(_ eq c)
      RepRecord(c.started.get, c.stages.get, c.tasks.get, c.taskRunMs.get)
    }
  }

  private val repSeq = new AtomicLong

  /** One rep under a wall-clock circuit breaker: the lane body (plan
    * construction AND the noop write — iterative lanes launch jobs from
    * both) runs on a daemon thread inside a job group of its own with
    * `interruptOnCancel`; past `timeoutMs` the group's running and
    * future jobs are cancelled (kills executor-side hangs), then the
    * thread interrupted (driver-side hangs), and the rep records
    * [[TimedOutSentinel]] while the sweep continues on the still-healthy
    * SparkContext. Returns (wall seconds or a negative sentinel, the
    * rep's record from `listener`).
    */
  private[graft] def boundedRep(spark: SparkSession, name: String,
      timeoutMs: Long, listener: RepListener)(
      build: () => DataFrame): (Double, RepRecord) = {
    val group = s"graft-bench-rep-$name-${repSeq.incrementAndGet()}"
    val timedOut = new AtomicBoolean(false)
    // stays the sentinel unless the body lands a value — an abandoned
    // (unkillable driver-side) thread still yields a parseable artifact
    @volatile var elapsed: Double = TimedOutSentinel
    val t0 = System.nanoTime()
    val body = new Thread(() => {
      val v =
        try {
          // job-group properties are thread-local: set INSIDE the body
          // thread so the cancel targets exactly this rep's jobs
          spark.sparkContext.setJobGroup(group, s"bench rep: $name",
            interruptOnCancel = true)
          build().write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            if (timedOut.get) TimedOutSentinel
            else {
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              -1.0
            }
        } finally spark.sparkContext.clearJobGroup()
      elapsed = v
    }, s"bench-rep-$name")
    body.setDaemon(true)
    body.start()
    body.join(timeoutMs)
    if (body.isAlive) {
      timedOut.set(true)
      System.err.println(
        s"[bench] $name rep exceeded ${timeoutMs / 1000}s — cancelling " +
          "its job group and continuing the sweep")
      // the group is this rep's alone, so its future jobs go too: a job
      // the body submits after the cancel must not outlive the rep
      scala.util.Try(spark.sparkContext.cancelJobGroupAndFutureJobs(group))
      body.join(30000)
      if (body.isAlive) { // driver-side hang: interrupt, then abandon
        body.interrupt()
        body.join(30000)
      }
    }
    (elapsed, listener.take(spark.sparkContext, group))
  }

  /** Prior-file name keyed by configuration: the auto re-pin and
    * `vs_prev` never compare across (cpus, sf).
    */
  private[graft] def pinFileName(cpus: String, sfDir: String): String = {
    val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
      .replaceAll("[^A-Za-z0-9._-]", "_")
    s"last_run_c${cpus}_$sfName.json"
  }

  /** The previous full sweep's per-query seconds, or None when the file
    * is absent/unreadable/old-format — a degraded prior must yield
    * `"vs_prev":null`, never a failed bench.
    */
  private[graft] def parsePrevQueries(
      path: java.nio.file.Path): Option[Map[String, Double]] =
    if (!java.nio.file.Files.exists(path)) None
    else scala.util.Try {
      import org.json4s._
      val j = org.json4s.jackson.JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(path),
        java.nio.charset.StandardCharsets.UTF_8))
      (j \ "queries") match {
        case JObject(fs) => fs.collect {
          case (k, JDouble(v)) => k -> v
          case (k, JDecimal(v)) => k -> v.toDouble
          case (k, JInt(v)) => k -> v.toDouble
        }.toMap
        case _ => Map.empty[String, Double]
      }
    }.toOption.filter(_.nonEmpty)

  /** Round-over-round comparison JSON: totals over the queries COMMON to
    * both sweeps (new queries must not read as a slowdown), plus named
    * regressions when both >1.5x and >0.3s absolute (sub-second jitter is
    * not a regression). Failed queries (<0 sentinels) excluded both sides.
    */
  private[graft] def vsPrevJson(curMap: Map[String, Double],
                                pm: Map[String, Double]): String = {
    val common = curMap.filter(_._2 >= 0).keySet
      .intersect(pm.filter(_._2 >= 0).keySet).toSeq.sorted
    val curC = common.map(curMap).sum
    val prevC = common.map(pm).sum
    // host-factor estimate: MEDIAN per-lane cur/prev ratio over the
    // common lanes. The median is robust to the handful of genuinely
    // changed lanes, so a sweep on a 1.3x-loaded host reads ~1.3 here
    // while its named regressions read much higher — the artifact
    // carries its own host-vs-code adjudication signal.
    val ratios = common.collect {
      case n if pm(n) > 0 => curMap(n) / pm(n)
    }.sorted
    val hf = if (ratios.isEmpty) -1.0 else ratios(ratios.size / 2)
    val regs = common.map(n => (n, curMap(n), pm(n)))
      .filter { case (_, c, p) => regressed(c, p) }
      .sortBy { case (_, c, p) => -(c / p) }.take(5)
      .map { case (n, c, p) =>
        "\"" + n + "\":{\"prev\":" + fmt(p) + ",\"cur\":" + fmt(c) + "}"
      }.mkString("{", ",", "}")
    s"""{"n_common":${common.size},"prev_total_common":${fmt(prevC)},""" +
      s""""cur_total_common":${fmt(curC)},"ratio":${fmt(
        if (prevC > 0) curC / prevC else -1.0)},"host_factor_median":${fmt(
        hf)},"regressions":$regs}"""
  }

  private final case class Rep(sec: Double, gcMs: Long, work: RepRecord)
  private final case class Lane(name: String, sec: Double, reps: Seq[Rep],
                                repins: Int)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val only = SparkEntry.onlyLanes(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = JobRunner.session("graft-bench")
    val listener = new RepListener
    spark.sparkContext.addSparkListener(listener)
    val lanes = SparkEntry.queries

    import scala.jdk.CollectionConverters._
    def gcMillis(): Long =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

    // per-rep circuit breaker: 120 s by default, over 10x the slowest
    // healthy lane
    val repTimeoutMs = sys.env.get("SPARK_GRAFT_REP_TIMEOUT_SEC")
      .map(_.trim.toLong * 1000L).getOrElse(120000L)

    def runNoop(name: String): Rep = {
      val gc0 = gcMillis()
      val (sec, work) = boundedRep(spark, name, repTimeoutMs, listener)(
        () => lanes(name)(spark, sfDir))
      val gcDelta = gcMillis() - gc0
      // untimed, and what makes every rep cold: a lane that persist()s an
      // intermediate frame would otherwise serve its later reps from cache
      spark.catalog.clearCache()
      Rep(sec, gcDelta, work)
    }

    val names = lanes.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
    runNoop(names.head) // warm-up, untimed

    // read before this sweep overwrites it; a subset run has no prior and
    // writes a side file instead
    val prevPath = java.nio.file.Paths.get("bench", pinFileName(cpus, sfDir))
    val prevMap: Option[Map[String, Double]] =
      if (only.nonEmpty) None else parsePrevQueries(prevPath)
    val outPath =
      if (only.isEmpty) prevPath else prevPath.resolveSibling("last_subset.json")

    val results = names.map { n =>
      val runs = scala.collection.mutable.ArrayBuffer.empty[Rep]
      // a timed-out rep already cost `repTimeoutMs`: the lane runs no more
      def timedOut: Boolean = runs.exists(_.sec == TimedOutSentinel)
      def curMin: Double = {
        val ok = runs.map(_.sec).filter(_ >= 0)
        if (ok.nonEmpty) ok.min
        else if (timedOut) TimedOutSentinel
        else -1.0
      }
      while (runs.size < Reps && !timedOut) runs += runNoop(n)
      val prev = prevMap.flatMap(_.get(n)).filter(_ >= 0)
      var extra = 0
      while (extra < RepinReps && !timedOut && prev.exists(regressed(curMin, _))) {
        runs += runNoop(n); extra += 1
      }
      Lane(n, curMin, runs.toSeq, extra)
    }

    def quoted(s: String) = "\"" + s + "\""
    def byLane(value: Lane => String): String =
      results.map(l => quoted(l.name) + ":" + value(l)).mkString("{", ",", "}")
    def perRep(value: Rep => Any): String =
      byLane(_.reps.map(value).mkString("[", ",", "]"))
    def nameList(ns: Seq[String]) = ns.map(quoted).mkString("[", ",", "]")
    val okVals = results.map(_.sec).filter(_ >= 0)
    val total = okVals.sum
    // −1.0 (raised on every rep) and −2.0 (timed out) are named apart and
    // never summed: a partial run must not pass as a faster clean one
    val failedNames = results.collect {
      case l if l.sec < 0 && l.sec != TimedOutSentinel => l.name }
    val timedOutNames = results.filter(_.sec == TimedOutSentinel).map(_.name)
    val repinned = results.filter(_.repins > 0)
      .map(l => quoted(l.name) + ":" + l.repins).mkString("{", ",", "}")
    val curMap = results.collect { case l if l.sec >= 0 => l.name -> l.sec }.toMap
    val vsPrev = prevMap.map(pm => vsPrevJson(curMap, pm)).getOrElse("null")
    val head = s""""metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","cpus":$cpus,"n_queries":${results.size},"n_failed":${failedNames.size},"failed":${nameList(failedNames)},"n_timed_out":${timedOutNames.size},"timed_out":${nameList(timedOutNames)},"repinned":$repinned"""

    val fullLine =
      s"""{$head,"vs_prev":$vsPrev,"queries":${byLane(l => fmt(l.sec))},"reps_sec":${perRep(r => fmt(r.sec))},"gc_ms_per_rep":${perRep(_.gcMs)},"jobs_per_rep":${perRep(_.work.jobs)},"stages_per_rep":${perRep(_.work.stages)},"tasks_per_rep":${perRep(_.work.tasks)},"task_run_ms_per_rep":${perRep(_.work.taskRunMs)}}"""
    // stdout gets a compact line of at most 1800 chars: a reader that
    // keeps only the last ~2000 stdout chars would get the full line
    // truncated and unparseable. It carries the total, the failures, the
    // slowest 10 lanes and the lanes that moved most against the prior.
    val slowest = results.filter(_.sec >= 0).sortBy(-_.sec).take(10)
      .map(l => quoted(l.name) + ":" + fmt(l.sec)).mkString("{", ",", "}")
    def compactLine(deltas: String) =
      s"""{$head,"avg_sec":${fmt(
        if (okVals.nonEmpty) total / okVals.size else -1.0)},"slowest":$slowest,"deltas_vs_prev":$deltas,"vs_prev":$vsPrev,"queries_full":"$outPath"}"""
    val changed = prevMap.map { pm =>
      curMap.keySet.intersect(pm.keySet).toSeq
        .map(n => (n, curMap(n), pm(n)))
        .filter { case (_, c, p) =>
          p > 0 && math.abs(c - p) > 0.15 && (c > p * 1.3 || c < p / 1.3) }
        .sortBy { case (_, c, p) => -math.abs(c - p) }
    }.getOrElse(Seq.empty)
    def deltasJson(k: Int): String = changed.take(k).map { case (n, c, p) =>
      "\"" + n + "\":{\"prev\":" + fmt(p) + ",\"cur\":" + fmt(c) + "}"
    }.mkString("{", ",", "}")
    val compact = (math.min(changed.size, 12) to 0 by -1).iterator
      .map(k => compactLine(deltasJson(k)))
      .find(_.length <= 1800)
      .getOrElse(compactLine("{}"))
    println(compact)
    java.nio.file.Files.createDirectories(outPath.getParent)
    java.nio.file.Files.write(outPath,
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
