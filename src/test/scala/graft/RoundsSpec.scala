package graft

import scala.jdk.CollectionConverters._

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

  /** (test name, a run of an iterative operator, the most persisted RDDs
    * the run may leave behind): a run that releases its earlier rounds
    * leaves only the frames its result reads. Every input here runs its
    * operator for several rounds.
    */
  private def releaseCases: Seq[(String, () => Unit, Int)] = {
    import spark.implicits._
    // a 3-cycle with a tail into a second node pair
    def small = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
      ("d", "e"), ("e", "d")).toDF("src", "dst")
    Seq(
      // four disjoint 3-cycles: trim settles nothing, and one pivot per
      // round settles one cycle, so the run takes four pivot rounds. Of
      // the 53 persisted RDDs it touches, 52 stayed before each round
      // released its accelerated plane, pivots and restricted edges.
      ("stronglyConnectedComponents releases each pivot round's planes", () => {
        val edges = (0 until 4).flatMap { c =>
          Seq((s"c$c-0", s"c$c-1"), (s"c$c-1", s"c$c-2"), (s"c$c-2", s"c$c-0"))
        }.toDF("src", "dst")
        val got = WebGraph.stronglyConnectedComponents(edges, "src", "dst",
            pivotsPerRound = 1, maxDepth = 8, maxRounds = 8)
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        assert(got == (0 until 4).flatMap(c =>
          (0 until 3).map(i => s"c$c-$i" -> s"c$c-0")).toMap)
      }, 41),
      // the rank loop keeps only its last round
      ("pageRank releases each round but the last", () => {
        WebGraph.pageRank(small, "src", "dst", iterations = 5).collect()
      }, 1),
      ("katzCentrality releases each round and its node frame", () => {
        WebGraph.katzCentrality(small, "src", "dst").collect()
      }, 1),
      ("labelPropagation releases each round but the last", () => {
        WebGraph.labelPropagation(small, "src", "dst", iterations = 3)
          .collect()
      }, 1),
      // a triangle with a pendant edge: round 1 peels the pendant, round 2
      // finds the fixpoint; the result reads its survivors and supports
      ("kTruss releases the rounds before the last", () => {
        val got = WebGraph.kTruss(
            Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")).toDF("s", "d"),
            "s", "d", k = 3)
          .collect().map(r => (r.getString(0), r.getString(1))).toSet
        assert(got == Set(("a", "b"), ("b", "c"), ("a", "c")))
      }, 2))
  }

  releaseCases.foreach { case (name, run, maxLeft) =>
    test(name) {
      val r = GroupRun(spark, s"rounds-spec-${name.takeWhile(_ != ' ')}")(run())
      assert(r.left <= maxLeft, s"${r.left} of ${r.touched} RDDs left persisted")
    }
  }
}
