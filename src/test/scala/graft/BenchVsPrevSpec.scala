package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness's round-over-round guard ([[Bench.parsePrevQueries]] /
  * [[Bench.vsPrevJson]]): the comparison must cover only common queries,
  * name real regressions, exclude failed sentinels, and degrade to None on
  * a missing or old-format prior instead of failing the sweep.
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

  test("nextPin carries the previous pin only while the plan hash matches") {
    assert(Bench.nextPin(2.0, Some(1.5), samePlan = true) == 1.5)
    assert(Bench.nextPin(1.0, Some(1.5), samePlan = true) == 1.0)
    assert(Bench.nextPin(2.0, Some(1.5), samePlan = false) == 2.0)
    assert(Bench.nextPin(2.0, None, samePlan = true) == 2.0)
    // a run with no successful rep carries a matching pin, never a stale one
    assert(Bench.nextPin(-1.0, Some(1.5), samePlan = true) == 1.5)
    assert(Bench.nextPin(-1.0, Some(1.5), samePlan = false) == -1.0)
  }

  test("pin file is keyed by (cpus, sf) so configurations never cross") {
    assert(Bench.pinFileName("32", "/root/testdata/sf0.1") ==
      "last_run_c32_sf0.1.json")
    assert(Bench.pinFileName("8", "/root/testdata/sf0.1") ==
      "last_run_c8_sf0.1.json")
    assert(Bench.pinFileName("32", "/root/testdata/sf0.01") !=
      Bench.pinFileName("32", "/root/testdata/sf0.1"))
  }

  test("parsePrevPins prefers the pins map, falls back to queries, and " +
    "degrades to empty") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bench-pins")
    val f = dir.resolve("last_run_c32_sf0.1.json")
    java.nio.file.Files.writeString(f,
      """{"queries":{"q1":1.5,"q2":2.5},"pins":{"q1":1.0,"q2":2.0}}""")
    assert(Bench.parsePrevPins(f) == Map("q1" -> 1.0, "q2" -> 2.0))
    java.nio.file.Files.writeString(f, """{"queries":{"q1":1.5}}""")
    assert(Bench.parsePrevPins(f) == Map("q1" -> 1.5))
    assert(Bench.parsePrevPins(dir.resolve("absent.json")).isEmpty)
    java.nio.file.Files.writeString(f, "{not json")
    assert(Bench.parsePrevPins(f).isEmpty)
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

  test("normalizedPlanHash strips run-varying noise: expression ids, " +
    "object addresses, and JVM lambda class counters (the q119 " +
    "mapPartitions instability)") {
    def h(s: String) = Bench.normalizedPlanHash(s, "/data/sf0.1")
    // same plan shape, different run: expr ids, addresses, lambda ids
    val a = "MapPartitions graft.ops.Multimodal$$Lambda$3862/0x00007f0a2c3d4e40@4b67cf4d, obj#412: x#413 /data/sf0.1"
    val b = "MapPartitions graft.ops.Multimodal$$Lambda$17/0x00000008012c5440@deadbeef, obj#9: x#10 /data/sf0.1"
    assert(h(a) == h(b), "lambda counter/address must normalize away")
    // JDK-8 style without the /0x segment normalizes to the same hash
    val c = "MapPartitions graft.ops.Multimodal$$Lambda$99@cafebabe, obj#1: x#2 /data/sf0.1"
    assert(h(a) == h(c))
    // but a genuinely different operator still hashes differently
    val d = "MapPartitions graft.ops.Other$$Lambda$99@cafebabe, obj#1: x#2 /data/sf0.1"
    assert(h(a) != h(d))
    // HOF lambda variable names carry a global counter (x_119) that the
    // exprId strip misses; generated 12-hex suffixes (temp-view tags,
    // scratch dirs) are per-call ids — both normalize away
    val e1 = "transform(v#3, lambdafunction(lambda x_119#, lambda x_119#)) View graft_docs_21c1d5ec2644 /data/sf0.1"
    val e2 = "transform(v#9, lambdafunction(lambda x_507#, lambda x_507#)) View graft_docs_6e6daded6add /data/sf0.1"
    assert(h(e1) == h(e2), "lambda var counter and view tag must normalize")
    // two-arg lambda vars (y_N) and recursive-CTE plan ids are global
    // counters too
    val f1 = "aggregate(a#1, 0, lambdafunction((lambda x_3#L + lambda y_21#), lambda x_3#L, lambda y_21#)) CTERelationDef 0, false UnionLoop 0 /data/sf0.1"
    val f2 = "aggregate(a#7, 0, lambdafunction((lambda x_88#L + lambda y_46#), lambda x_88#L, lambda y_46#)) CTERelationDef 4, false UnionLoop 2 /data/sf0.1"
    assert(h(f1) == h(f2), "y-var counter and CTE ids must normalize")
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
    // a deliberately pathological lane: an unpruned cartesian whose full
    // materialization is minutes of work — the r18 q293 failure mode
    val t0 = System.nanoTime()
    val (slow, slowHash) = Bench.boundedRep(spark, "planted_slow", "/none",
      timeoutMs = 2000)(() =>
      spark.range(2000000).select(col("id").as("a"))
        .crossJoin(spark.range(2000000).select(col("id").as("b")))
        .select((col("a") * 31 + col("b")).as("v")))
    val wall = (System.nanoTime() - t0) / 1e9
    assert(slow == Bench.TimedOutSentinel,
      s"expected the -2.0 timed-out sentinel, got $slow")
    assert(slowHash.isEmpty, "a timed-out rep must not record a plan hash")
    // the breaker must fire near the deadline, not after the lane finishes;
    // its worst bounded path is join(2s) + cancel + join(30s) + interrupt +
    // join(30s) ≈ 62s, so the bound sits above that, not at a round 60
    assert(wall < 70, s"circuit breaker took ${wall}s to fire")
    // the context survived: a healthy rep on the SAME session still lands
    val (ok, okHash) = Bench.boundedRep(spark, "healthy", "/none",
      timeoutMs = 120000)(() => spark.range(1000).select(col("id")))
    assert(ok >= 0, s"post-timeout rep failed: $ok")
    assert(okHash.nonEmpty)
    // a raising lane still reads as -1.0, distinct from the timeout
    val (bad, _) = Bench.boundedRep(spark, "raising", "/none",
      timeoutMs = 120000)(() => sys.error("boom"))
    assert(bad == -1.0)
  }
}
