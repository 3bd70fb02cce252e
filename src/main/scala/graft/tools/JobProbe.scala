package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Measurement main: run named lanes with a listener that counts jobs,
  * stages and tasks and sums their wall/CPU components — the
  * "where do the seconds of a tiny-data iterative lane go" probe
  * (driver round-trips vs stage scheduling vs executor compute).
  * Measurement tooling, not a product operator.
  *
  * Usage: JobProbe <sfDir> <q1,q2,...> [reps=2]
  * Prints per rep: wall, jobs, stages, tasks, sum of per-stage wall,
  * sum of executor task run time.
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: JobProbe <sfDir> <q1,q2,...> [reps]")
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = graft.JobRunner.session("graft-jobprobe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      sys.env.getOrElse("PROBE_CACHED_AQE", "false"))

    object L extends SparkListener {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val stages = new java.util.concurrent.atomic.AtomicInteger
      val tasks = new java.util.concurrent.atomic.AtomicInteger
      val stageWallMs = new java.util.concurrent.atomic.AtomicLong
      val taskRunMs = new java.util.concurrent.atomic.AtomicLong
      val perStage =
        new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long)]
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        for {
          s <- e.stageInfo.submissionTime
          c <- e.stageInfo.completionTime
        } {
          stageWallMs.addAndGet(c - s)
          perStage.add((e.stageInfo.name.takeWhile(_ != '\n').take(60),
            e.stageInfo.numTasks, c - s))
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskMetrics != null)
          taskRunMs.addAndGet(e.taskMetrics.executorRunTime)
      }
      def reset(): Unit = {
        jobs.set(0); stages.set(0); tasks.set(0)
        stageWallMs.set(0); taskRunMs.set(0); perStage.clear()
      }
      def report(): Unit = {
        import scala.jdk.CollectionConverters._
        val byName = perStage.asScala.toSeq
          .groupBy(_._1).view.mapValues(v =>
            (v.size, v.map(_._2).sum, v.map(_._3).sum)).toSeq
          .sortBy(-_._2._3)
        byName.take(12).foreach { case (n, (cnt, t, ms)) =>
          println(f"    stage '$n' x$cnt tasks=$t wall=${ms / 1000.0}%.2fs")
        }
      }
    }
    spark.sparkContext.addSparkListener(L)

    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      (1 to reps).foreach { r =>
        spark.catalog.clearCache()
        L.reset()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val wall = (System.nanoTime() - t0) / 1e9
        // listener events drain asynchronously; settle before reading
        Thread.sleep(300)
        println(f"$n rep$r wall=$wall%.2fs jobs=${L.jobs.get}" +
          f" stages=${L.stages.get} tasks=${L.tasks.get}" +
          f" stageWall=${L.stageWallMs.get / 1000.0}%.2fs" +
          f" taskRun=${L.taskRunMs.get / 1000.0}%.2fs")
        if (r == reps) L.report()
      }
    }
    spark.stop()
  }
}
