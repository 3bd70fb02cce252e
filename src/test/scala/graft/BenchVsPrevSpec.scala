package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness: the round-over-round guard
  * ([[Bench.parsePrevQueries]] / [[Bench.vsPrevJson]]) must cover only
  * common queries, name real regressions, exclude failed sentinels, and
  * degrade to None on a missing or old-format prior instead of failing the
  * sweep; a rep ([[Bench.boundedRep]]) is bounded in time and records its
  * Spark work exactly.
  */
class BenchVsPrevSpec extends AnyFunSuite {

  test("parsePrevQueries reads the per-query map and degrades gracefully") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bench-prev")
    val f = dir.resolve("last_run.json")
    java.nio.file.Files.writeString(f,
      """{"metric":"total","value":3.5,"queries":{"q1":1.25,"q2":2.25,"q3":-1.0}}""")
    assert(Bench.parsePrevQueries(f) ==
      Some(Map("q1" -> 1.25, "q2" -> 2.25, "q3" -> -1.0)))
    // missing file, malformed JSON, old format without "queries": all None
    assert(Bench.parsePrevQueries(dir.resolve("absent.json")).isEmpty)
    java.nio.file.Files.writeString(f, "{not json")
    assert(Bench.parsePrevQueries(f).isEmpty)
    java.nio.file.Files.writeString(f, """{"metric":"total","value":3.5}""")
    assert(Bench.parsePrevQueries(f).isEmpty)
  }

  test("pin file is keyed by (cpus, sf) so configurations never cross") {
    assert(Bench.pinFileName("32", "/root/testdata/sf0.1") ==
      "last_run_c32_sf0.1.json")
    assert(Bench.pinFileName("8", "/root/testdata/sf0.1") ==
      "last_run_c8_sf0.1.json")
    assert(Bench.pinFileName("32", "/root/testdata/sf0.01") !=
      Bench.pinFileName("32", "/root/testdata/sf0.1"))
  }

  test("vsPrevJson compares common queries only and names real regressions") {
    import org.json4s._
    val cur = Map(
      "q1" -> 1.0,   // unchanged
      "q2" -> 2.0,   // regression: 4x and +1.5s
      "q3" -> 0.05,  // 5x but sub-0.3s absolute: jitter, not named
      "q5" -> 9.0,   // new this round: excluded from totals
      "q6" -> -1.0)  // failed this round: excluded
    val prev = Map(
      "q1" -> 1.0,
      "q2" -> 0.5,
      "q3" -> 0.01,
      "q4" -> 7.0,   // removed this round: excluded
      "q6" -> 1.0)
    val j = org.json4s.jackson.JsonMethods.parse(Bench.vsPrevJson(cur, prev))
    assert((j \ "n_common") == JInt(3))
    assert((j \ "prev_total_common") == JDouble(1.51))
    assert((j \ "cur_total_common") == JDouble(3.05))
    val regs = (j \ "regressions").asInstanceOf[JObject].obj.map(_._1)
    assert(regs == List("q2"), s"expected only q2 named, got $regs")
    assert((j \ "regressions" \ "q2" \ "prev") == JDouble(0.5))
    assert((j \ "regressions" \ "q2" \ "cur") == JDouble(2.0))
    // host-factor median over common ratios {1.0, 4.0, 5.0} -> 4.0: the
    // median rides above the unchanged lane but is NOT the max — with a
    // majority of unchanged lanes (the real sweep shape) it reads the
    // host window while true regressions sit far above it
    assert((j \ "host_factor_median") == JDouble(4.0))
  }

  test("host_factor_median reads the host window on a mostly-unchanged " +
    "sweep and stays -1 with no usable prior") {
    import org.json4s._
    // 4 of 5 lanes uniformly 1.3x (host), one lane 6x (code): median 1.3
    val prev = Map("a" -> 1.0, "b" -> 2.0, "c" -> 0.5, "d" -> 4.0,
      "e" -> 1.0)
    val cur = prev.map { case (k, v) => k -> v * 1.3 } + ("e" -> 6.0)
    val j = org.json4s.jackson.JsonMethods.parse(Bench.vsPrevJson(cur, prev))
    assert((j \ "host_factor_median") == JDouble(1.3))
    val j0 = org.json4s.jackson.JsonMethods.parse(
      Bench.vsPrevJson(Map("a" -> 1.0), Map("b" -> 1.0)))
    assert((j0 \ "host_factor_median") == JDouble(-1.0))
  }

  test("vsPrevJson with zero overlap reports ratio -1 instead of dividing") {
    val j = org.json4s.jackson.JsonMethods.parse(
      Bench.vsPrevJson(Map("a" -> 1.0), Map("b" -> 1.0)))
    import org.json4s._
    assert((j \ "n_common") == JInt(0))
    assert((j \ "ratio") == JDouble(-1.0))
  }

  test("boundedRep circuit breaker: a planted slow lane times out and the " +
    "sweep survives on the same SparkContext") {
    val spark = SparkTestSession.spark
    import org.apache.spark.sql.functions._
    val listener = new Bench.RepListener
    spark.sparkContext.addSparkListener(listener)
    try {
      // a deliberately pathological lane: an unpruned cartesian whose full
      // materialization is minutes of work
      val t0 = System.nanoTime()
      val (slow, _) = Bench.boundedRep(spark, "planted_slow",
        timeoutMs = 2000, listener)(() =>
        spark.range(2000000).select(col("id").as("a"))
          .crossJoin(spark.range(2000000).select(col("id").as("b")))
          .select((col("a") * 31 + col("b")).as("v")))
      val wall = (System.nanoTime() - t0) / 1e9
      assert(slow == Bench.TimedOutSentinel,
        s"expected the -2.0 timed-out sentinel, got $slow")
      // the breaker must fire near the deadline, not after the lane
      // finishes; its worst bounded path is join(2s) + cancel + join(30s) +
      // interrupt + join(30s) ≈ 62s, so the bound sits above that (the
      // record's zero-partition fence adds milliseconds)
      assert(wall < 70, s"circuit breaker took ${wall}s to fire")
      // the context survived: a healthy rep on the SAME session still lands
      val (ok, _) = Bench.boundedRep(spark, "healthy",
        timeoutMs = 120000, listener)(() => spark.range(1000).select(col("id")))
      assert(ok >= 0, s"post-timeout rep failed: $ok")
      // a raising lane still reads as -1.0, distinct from the timeout
      val (bad, _) = Bench.boundedRep(spark, "raising",
        timeoutMs = 120000, listener)(() => sys.error("boom"))
      assert(bad == -1.0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("boundedRep records each rep's jobs, stages and tasks exactly, " +
    "a job launched through Par.grouped included") {
    import scala.concurrent.{Await, ExecutionContext}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val spark = SparkTestSession.spark
    val sc = spark.sparkContext
    val listener = new Bench.RepListener
    sc.addSparkListener(listener)
    def lane = spark.range(0, 30, 1, 3).toDF("x") // noop write: 3 tasks
    try {
      val (sec, rec) = Bench.boundedRep(spark, "planted", 120000L, listener) {
        () =>
          sc.parallelize(1 to 10, 2).count()
          Await.result(graft.ops.Par.grouped(
            sc.parallelize(1 to 4, 4).count()), 60.seconds)
          lane
      }
      assert(sec >= 0)
      assert(rec.copy(taskRunMs = 0L) == Bench.RepRecord(3, 3, 9, 0L))
      assert(rec.taskRunMs >= 0L)
      // the next rep's record starts from zero
      val (_, next) = Bench.boundedRep(spark, "planted", 120000L, listener)(
        () => lane)
      assert(next.copy(taskRunMs = 0L) == Bench.RepRecord(1, 1, 3, 0L))
    } finally sc.removeSparkListener(listener)
  }
}
