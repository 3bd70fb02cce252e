package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Preference, Rounds, WebGraph}

/** [[graft.ops.Rounds]]: `release` must free a `localCheckpoint`ed frame,
  * which `Dataset.unpersist` alone leaves cached, and the iterative
  * operators must release their per-round planes through it and read
  * their stop signals off their round checkpoints.
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
      }, 2),
      // a→b (10), a→b (3), b→c (10), a→c (100): three relaxation rounds
      ("weightedShortestPaths releases each round but the last", () => {
        WebGraph.weightedShortestPaths(relaxation, "s", "d", "w", "a")
          .collect()
      }, 1),
      // a 64-node chain takes several large-star / small-star rounds
      ("Dedup.connectedComponents releases each round but the last", () => {
        Dedup.connectedComponents(
          (0L until 63L).map(i => (i, i + 1)).toDF("a", "b"), "a", "b")
          .collect()
      }, 1),
      ("Preference.bradleyTerry releases each round and its edge plane", () => {
        Preference.bradleyTerry(Seq(("a", "b"), ("a", "b"), ("b", "c"),
          ("b", "c"), ("a", "c"), ("c", "a")).toDF("w", "l"), "w", "l",
          iterations = 5).collect()
      }, 2))
  }

  releaseCases.foreach { case (name, run, maxLeft) =>
    test(name) {
      val r = GroupRun(spark, s"rounds-spec-${name.takeWhile(_ != ' ')}")(run())
      assert(r.left <= maxLeft, s"${r.left} of ${r.touched} RDDs left persisted")
    }
  }

  private def relaxation = {
    import spark.implicits._
    Seq(("a", "b", 10L), ("a", "b", 3L), ("b", "c", 10L), ("a", "c", 100L),
      ("x", "y", 1L)).toDF("s", "d", "w")
  }

  /** (operator, a run of known round count, the jobs the run starts): a
    * loop that reads its stop signal off its round checkpoint starts no
    * probe job of its own. A count covers the run's result collect and
    * the shuffle-stage jobs adaptive execution submits.
    */
  private def jobCases: Seq[(String, () => Unit, Int)] = {
    import spark.implicits._
    Seq(
      // the tail d-e-f peels in two rounds, then the 2-core is stable
      ("kCore", () => {
        val got = WebGraph.kCore(Seq(("a", "b"), ("a", "c"), ("a", "d"),
          ("b", "c"), ("b", "d"), ("c", "d"), ("d", "e"), ("e", "f"))
          .toDF("s", "d"), "s", "d", k = 2).collect().map(_.getString(0))
        assert(got.toSet == Set("a", "b", "c", "d"))
      }, 23),
      ("kTruss", () => {
        val got = WebGraph.kTruss(Seq(("a", "b"), ("b", "c"), ("c", "a"),
          ("c", "d")).toDF("s", "d"), "s", "d", k = 3).collect()
        assert(got.length == 3)
      }, 11),
      // a 4-hop path: four growing hops, then an empty frontier
      ("shortestHops", () => {
        val got = WebGraph.shortestHops(Seq(("a", "b"), ("b", "c"),
          ("c", "d"), ("d", "e")).toDF("s", "d"), "s", "d", "a").collect()
        assert(got.length == 5)
      }, 28),
      ("weightedShortestPaths", () => {
        val got = WebGraph.weightedShortestPaths(relaxation, "s", "d", "w",
          "a").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(got == Map("a" -> 0L, "b" -> 3L, "c" -> 13L))
      }, 16),
      // the diamond a→{b,c}→d: levels 0..2 from a, then an empty hop
      ("betweennessCentrality", () => {
        val got = WebGraph.betweennessCentrality(Seq(("a", "b"), ("a", "c"),
          ("b", "d"), ("c", "d")).toDF("s", "d"), "s", "d", nSources = 4)
          .collect()
        assert(got.length == 4)
      }, 35),
      ("Dedup.connectedComponents", () => {
        val got = Dedup.connectedComponents(
          Seq((1L, 2L), (2L, 3L)).toDF("a", "b"), "a", "b").collect()
        assert(got.map(_.getLong(1)).toSet == Set(1L))
      }, 20),
      // A ⊂ B ⊂ C at 0.85, A ⊄ C: two peel rounds keep A and C
      ("Dedup.dropContainedFixpoint", () => {
        val a = (1 to 12).map(i => s"a$i").mkString(" ")
        val b = a + " " + (1 to 90).map(i => s"b$i").mkString(" ")
        val c = (1 to 90).map(i => s"b$i").mkString(" ") + " " +
          (1 to 312).map(i => s"c$i").mkString(" ")
        val got = Dedup.dropContainedFixpoint(
            Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text"),
            "doc_id", "text", minContainment = 0.85)
          .collect().map(_.getLong(0))
        assert(got.toSet == Set(1L, 3L))
      }, 18))
  }

  jobCases.foreach { case (name, run, jobs) =>
    test(s"$name reads its stop signal off its round checkpoints") {
      val r = GroupRun(spark, s"rounds-spec-jobs-$name")(run())
      assert(r.jobs == jobs, s"${r.jobs} jobs, expected $jobs")
    }
  }

  test("the round loops take an empty edge frame") {
    import spark.implicits._
    val empty = Seq.empty[(String, String)].toDF("s", "d")
    def noRows(df: org.apache.spark.sql.DataFrame, cols: String*): Unit = {
      assert(df.columns.toSeq == cols)
      assert(df.collect().isEmpty)
    }
    noRows(WebGraph.kCore(empty, "s", "d", k = 2), "node", "core_degree")
    noRows(WebGraph.kTruss(empty, "s", "d", k = 3),
      "node_a", "node_b", "support")
    noRows(WebGraph.betweennessCentrality(empty, "s", "d", nSources = 4),
      "node", "bc_scaled", "betweenness")
    noRows(Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("a", "b"),
      "a", "b"), "id", "component", "cluster_size")
    noRows(Dedup.dropContainedFixpoint(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text"),
      "doc_id", "text")
    noRows(WebGraph.hyperballSizes(empty, "s", "d"), "node", "t", "ball_est")
    def sourceOnly(df: org.apache.spark.sql.DataFrame, cols: String*): Unit = {
      assert(df.columns.toSeq == cols)
      assert(df.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq ==
        Seq("a" -> 0L))
    }
    sourceOnly(WebGraph.shortestHops(empty, "s", "d", "a"), "node", "hop")
    sourceOnly(WebGraph.weightedShortestPaths(
      Seq.empty[(String, String, Long)].toDF("s", "d", "w"), "s", "d", "w",
      "a"), "node", "dist")
  }
}
