package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.FileChecks

class FileChecksSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("exists/empty/size/age/utf8 checks over a glob") {
    val dir = Files.createTempDirectory("graft-filechecks")
    Files.writeString(dir.resolve("good.csv"), "a,b\n1,2\n")
    Files.write(dir.resolve("empty.csv"), Array.empty[Byte])
    Files.write(dir.resolve("binary.csv"), Array[Byte](0xC3.toByte, 0x28, 0x41, 0x42))
    val s = FileChecks.check(spark, s"$dir/*.csv")
    assert(s.files.size == 3)
    val byName = s.files.map(f => f.path.split('/').last -> f).toMap
    assert(byName("good.csv").utf8Ok && !byName("good.csv").empty)
    assert(byName("empty.csv").empty)
    assert(!byName("binary.csv").utf8Ok) // 0xC3 0x28 is invalid UTF-8
    assert(s.failed)
  }

  test("missing glob reports not-exists and fails") {
    val s = FileChecks.check(spark, "/tmp/definitely-not-here-*.csv")
    assert(!s.files.head.exists && s.failed)
  }

  test("stale and large warnings honor thresholds") {
    val dir = Files.createTempDirectory("graft-filechecks2")
    val f = dir.resolve("old.csv")
    Files.writeString(f, "x\n1\n")
    val now = System.currentTimeMillis()
    Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(now - 10L * 24 * 3600 * 1000))
    val s = FileChecks.check(spark, s"$dir/*.csv", maxSizeBytes = 1L, maxAgeDays = 7, nowMs = now)
    assert(s.files.head.largeWarn && s.files.head.staleWarn)
    assert(!s.failed) // warnings do not fail the gate
  }

  test("archive moves processed files to the processed dir") {
    val dir = Files.createTempDirectory("graft-archive")
    Files.writeString(dir.resolve("a.csv"), "x\n1\n")
    Files.writeString(dir.resolve("b.csv"), "x\n2\n")
    val moved = FileChecks.archive(spark, s"$dir/*.csv", s"$dir/processed")
    assert(moved.size == 2)
    assert(!Files.exists(dir.resolve("a.csv")))
    assert(Files.exists(Paths.get(s"$dir/processed/a.csv")))
  }

  test("sense succeeds immediately when the input already exists") {
    val dir = Files.createTempDirectory("graft-sense1")
    Files.writeString(dir.resolve("in.csv"), "x\n1\n")
    var slept = 0
    val pokes = FileChecks.sense(spark, s"$dir/*.csv",
      pokeIntervalMs = 60000L, timeoutMs = 300000L,
      sleep = _ => slept += 1)
    assert(pokes == 1 && slept == 0) // first poke hits, no sleeping
  }

  test("sense keeps poking until the file appears") {
    val dir = Files.createTempDirectory("graft-sense2")
    var now = 0L
    var slept = 0
    val pokes = FileChecks.sense(spark, s"$dir/*.csv",
      pokeIntervalMs = 60000L, timeoutMs = 300000L,
      clock = () => now,
      sleep = ms => {
        now += ms; slept += 1
        if (slept == 2) Files.writeString(dir.resolve("late.csv"), "x\n1\n")
      })
    assert(pokes == 3 && slept == 2) // two misses, file lands, third poke hits
  }

  test("sense times out when the file never appears (Airflow timeout=300s parity)") {
    val dir = Files.createTempDirectory("graft-sense3")
    var now = 0L
    val e = intercept[FileChecks.SensorTimeoutException] {
      FileChecks.sense(spark, s"$dir/*.csv",
        pokeIntervalMs = 60000L, timeoutMs = 300000L,
        clock = () => now,
        sleep = ms => now += ms)
    }
    // poke at t=0..240s all miss; at t=300s the timeout gate fires: 6 pokes
    assert(e.getMessage.contains("6 pokes"))
  }
}
