package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Rounds, WebGraph}

/** [[graft.ops.Rounds]]: `release` must free a `localCheckpoint`ed frame,
  * which `Dataset.unpersist` alone leaves cached, and the iterative
  * operators must release their per-round planes through it.
  */
class RoundsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("Rounds.release frees a localCheckpointed frame's cached partitions") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = spark.range(0, 1000, 1, 2).toDF("x").localCheckpoint()
    val ids = sc.getPersistentRDDs.keySet -- before
    def cachedPartitions: Int = sc.getRDDStorageInfo
      .filter(i => ids(i.id)).map(_.numCachedPartitions).sum
    assert(cachedPartitions == 2)
    df.unpersist()
    assert(cachedPartitions == 2, "Dataset.unpersist freed a checkpoint")
    Rounds.release(df)
    assert(cachedPartitions == 0)
  }

  test("Rounds.release of a checkpoint logs no lineage warning") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.spark.sql.execution.LogicalRDD
    val df = spark.range(0, 10, 1, 2).toDF("x").localCheckpoint()
    val id = df.queryExecution.logical match { case r: LogicalRDD => r.rdd.id }
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("rounds-spec-release", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        logged.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(capture, null, null)
    ctx.updateLoggers()
    try Rounds.release(df)
    finally {
      root.removeAppender(capture.getName)
      ctx.updateLoggers()
      capture.stop()
    }
    val warned = logged.asScala.filter(_.contains(s"RDD $id was locally checkpointed"))
    assert(warned.isEmpty, warned.mkString("\n"))
  }

  test("Rounds.checkpoint reads the probes off the checkpoint job") {
    import org.apache.spark.sql.functions._
    val (chk, m) = Rounds.checkpoint(spark.range(0, 10, 1, 2).toDF("x"),
      count(lit(1)).as("n"), max(col("x")).as("mx"))
    assert((m.getLong(0), m.getLong(1)) == (10L, 9L))
    assert(chk.count() == 10L)
  }

  test("stronglyConnectedComponents releases each pivot round's planes") {
    import spark.implicits._
    val sc = spark.sparkContext
    // four disjoint 3-cycles: trim settles nothing, and one pivot per
    // round settles one cycle, so the run takes four pivot rounds
    val edges = (0 until 4).flatMap { c =>
      Seq((s"c$c-0", s"c$c-1"), (s"c$c-1", s"c$c-2"), (s"c$c-2", s"c$c-0"))
    }.toDF("src", "dst")
    // the persisted RDDs this run's own stages touched: other suites in
    // this JVM may persist RDDs concurrently, and the run's job group
    // reaches its pooled threads through Par.grouped
    val group = "rounds-spec-scc"
    val touched = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      private def prop(p: java.util.Properties, k: String) =
        Option(p).map(_.getProperty(k)).orNull
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (prop(e.properties, "spark.jobGroup.id") == group)
          e.stageInfo.rddInfos.filter(_.storageLevel.isValid)
            .foreach(i => touched.add(i.id))
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (prop(e.properties, "spark.job.description") == group)
          marker.countDown()
    }
    // hold every persisted RDD while the run is live: the persisted map
    // holds RDDs weakly, so garbage collection would otherwise drop
    // unreleased ones at random and the count below would not depend on
    // the releases alone
    val held = new java.util.concurrent.ConcurrentHashMap[Int, AnyRef]()
    @volatile var running = true
    val poller = new Thread(() => while (running) {
      sc.getPersistentRDDs.foreach { case (id, rdd) => held.put(id, rdd) }
      Thread.sleep(5)
    })
    poller.start()
    sc.addSparkListener(listener)
    val (got, left) = try {
      sc.setJobGroup(group, "scc")
      val out = WebGraph.stronglyConnectedComponents(edges, "src", "dst",
          pivotsPerRound = 1, maxDepth = 8, maxRounds = 8)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      // listener events arrive in order: once this job is seen, every
      // stage of the run has been
      sc.setJobDescription(group)
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      val persisted = sc.getPersistentRDDs.keySet // while still held
      (out, touched.asScala.count(persisted))
    } finally {
      running = false
      poller.join()
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(got == (0 until 4).flatMap(c =>
      (0 until 3).map(i => s"c$c-$i" -> s"c$c-0")).toMap)
    // of the 53 persisted RDDs the run touches, 52 stayed before each
    // round released its accelerated plane, pivots and restricted edges
    assert(left <= 41, s"$left of ${touched.size} RDDs left persisted")
  }
}
