package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingAggregates

/** Streaming aggregations driven synchronously from the events fixture:
  * a memory-sink streaming query over the same parquet must agree with the
  * identical batch computation (same-code-both-modes is the design claim).
  */
class StreamingAggSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  // events parquet raw `ts` unit varies across fixture generations (INT64
  // NANOS read as bigint vs native TIMESTAMP micros) — take the stream-source
  // schema from a batch read so the spec tracks Tables.events' detection.
  // The NTZ flag is scoped to this read, as in Tables.events: the
  // SparkSession is shared by every suite in the test JVM.
  private lazy val rawTsType: DataType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ntzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val prevNtz = spark.conf.get(ntzKey)
    spark.conf.set(ntzKey, "false")
    try spark.read.parquet(s"$sf/events.parquet").schema("ts").dataType
    finally spark.conf.set(ntzKey, prevNtz)
  }
  private lazy val rawSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", rawTsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  // the streaming file source wants a DIRECTORY; stage the fixture into one
  private lazy val streamDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("events.parquet"))
    dir.toString
  }

  private def streamEvents: DataFrame = {
    val raw = spark.readStream.schema(rawSchema).parquet(streamDir)
    rawTsType match {
      case LongType => // NANOS-as-long fixture
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ => // native TIMESTAMP(MICROS) fixture
        raw.withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
  }

  private def runToMemory(df: DataFrame, name: String, mode: String): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("watermarked hourly window agg: streaming == batch") {
    val streaming = runToMemory(
      StreamingAggregates.hourlyTypeAgg(streamEvents), "hourly_stream", "append")
    val batch = StreamingAggregates.hourlyTypeAgg(Tables.events(spark, sf))
    // append mode emits only windows closed by the watermark; every emitted
    // row must match the batch result exactly
    val b = batch.collect().map(_.toSeq).toSet
    val s = streaming.collect().map(_.toSeq).toSet
    assert(s.nonEmpty)
    assert(s.subsetOf(b))
    // all-but-the-last-hour windows must have been emitted
    assert(s.size >= b.size - 10)
  }

  test("session windows emit per-user sessions") {
    val streaming = runToMemory(
      StreamingAggregates.userSessions(streamEvents), "sessions_stream", "append")
    assert(streaming.count() > 0)
    // session invariant: end > start, n_events >= 1
    assert(streaming.filter(col("sess_end") <= col("sess_start")).isEmpty)
    assert(streaming.filter(col("n_events") < 1).isEmpty)
  }

  test("batch sessionize == session_window grouping (same 30 min gap)") {
    // the session_window lane groups events whose successive gap is
    // STRICTLY under the 30 min gap; EventOps.sessionize cuts at >= gap.
    // Same fixture, both paths batch: (user, sess_start=min ts,
    // n_events) must agree session for session.
    val ev = Tables.events(spark, sf)
    val viaWindow = StreamingAggregates.userSessions(ev)
      .select(col("user_id"), unix_micros(col("sess_start")).as("start_us"),
        col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaGap = graft.ops.EventOps.sessionStats(
        ev.select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), col("value")),
        "user_id", "us", "event_id", "value", gapUs = 30L * 60 * 1000000)
      .select(col("user_id"), col("start_us"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaGap.nonEmpty)
    assert(viaGap == viaWindow,
      s"gap-based sessions must equal session_window sessions: " +
        s"only-gap=${(viaGap -- viaWindow).take(3)} " +
        s"only-window=${(viaWindow -- viaGap).take(3)}")
  }

  test("streaming DAU: stateful dedup+count == batch rollingDistinctUsers(L=1)") {
    val streaming = runToMemory(
      StreamingAggregates.dailyActiveUsers(streamEvents), "dau_stream", "update")
    // update mode re-emits a day whenever its count grows; the latest
    // (= max, counts are monotone) value per day is the final count
    val latest = streaming.groupBy("day").agg(max("dau").as("dau"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val batch = graft.ops.EventOps.rollingDistinctUsers(
        Tables.events(spark, sf), "user_id", "ts", 1, "dau")
      .filter(col("dau") > 0) // streaming emits no row for gap days
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(latest.nonEmpty)
    assert(latest == batch, s"streaming $latest vs batch $batch")
    // the identical code path over the batch frame agrees too
    val sameCode = StreamingAggregates.dailyActiveUsers(Tables.events(spark, sf))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(sameCode == batch)
  }

  test("streaming cadence: latest emission per user == batch cadenceProfile, bit-exact") {
    val streaming = runToMemory(
      StreamingAggregates.streamingCadence(spark, streamEvents),
      "cadence_stream", "update")
    // latest state = max n_gaps per user (monotone across micro-batches)
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n_gaps").desc)
    val latest = streaming.withColumn("rn", row_number().over(byUser))
      .filter(col("rn") === 1).drop("rn")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2),
          if (r.isNullAt(3)) null else r.getDouble(3)))).toMap
    val ev = Tables.events(spark, sf).select(col("user_id"),
      unix_micros(col("ts")).as("us"), col("event_id"))
    val batch = graft.ops.EventOps.cadenceProfile(ev, "user_id", "us",
        "event_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2),
          if (r.isNullAt(3)) null else r.getDouble(3)))).toMap
    assert(latest.nonEmpty && latest.keySet == batch.keySet)
    latest.foreach { case (u, s) =>
      assert(s == batch(u), s"user $u: streaming $s vs batch ${batch(u)}")
    }
  }

  test("stream-stream interval join: streaming == batch, both sides stateful") {
    val ev = streamEvents
    val streaming = runToMemory(
      StreamingAggregates.intervalJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase")),
      "interval_join_stream", "append")
    val batchEv = Tables.events(spark, sf)
    val batch = StreamingAggregates.intervalJoin(
      batchEv.filter(col("event_type") === "click"),
      batchEv.filter(col("event_type") === "purchase"))
    val b = batch.collect().map(_.toSeq).toSet
    val s = streaming.collect().map(_.toSeq).toSet
    assert(s.nonEmpty)
    // every streamed pair is a true batch pair; watermark may hold back
    // only pairs near the stream's end
    assert(s.subsetOf(b))
    assert(s.size >= (b.size * 0.8).toInt)
  }

  test("aggStateSink: waves fold into state equal to one direct build") {
    import spark.implicits._
    import graft.ops.AggState
    import graft.streaming.StreamingIngest
    val in = java.nio.file.Files.createTempDirectory("graft-mv-in")
    val state = java.nio.file.Files.createTempDirectory("graft-mv-state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-mv-ckpt").toString
    def wave(rows: Seq[(String, Double)]): Long = {
      rows.toDF("k", "v").coalesce(1).write.mode("append").parquet(in.toString)
      StreamingIngest.aggStateSink(spark,
        spark.readStream.schema("k STRING, v DOUBLE").parquet(in.toString),
        Seq("k"), "v", state, ckpt)
    }
    val w1 = Seq(("a", 1.0), ("a", 2.0), ("b", 10.0))
    val w2 = Seq(("a", 3.0), ("c", 7.0), ("b", -4.0))
    assert(wave(w1) == 1L)
    assert(wave(w2) == 1L)
    def canon(df: DataFrame) =
      df.orderBy(df.columns.map(col): _*).collect().map(_.toString).toSeq
    val direct = AggState.build((w1 ++ w2).toDF("k", "v"), Seq("k"), "v")
    assert(canon(StreamingIngest.readAggState(spark, state)) == canon(direct))
    // serving: finalize over the stored state is the exact metrics table
    val fin = AggState.finalizeState(
      StreamingIngest.readAggState(spark, state), Seq("k"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(fin.toSeq == Seq(("a", 3L, 2.0), ("b", 2L, 3.0), ("c", 1L, 7.0)))
  }

  test("streaming HDR sketch maintenance: aggStateSink over hdrBucketize == direct build; quantiles serve off stored state") {
    import spark.implicits._
    import graft.ops.Sketches
    import graft.streaming.StreamingIngest
    val m = 16
    val in = java.nio.file.Files.createTempDirectory("graft-hdr-in")
    val state = java.nio.file.Files.createTempDirectory("graft-hdr-st").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-hdr-ck").toString
    def wave(rows: Seq[(String, Long)]): Long = {
      rows.toDF("g", "v").coalesce(1).write.mode("append").parquet(in.toString)
      StreamingIngest.aggStateSink(spark,
        Sketches.hdrBucketize(
          spark.readStream.schema("g STRING, v BIGINT").parquet(in.toString),
          Seq("g"), "v", m),
        Seq("g", "bucket"), "bucket", state, ckpt)
    }
    val w1 = (1L to 600L).map(i => ("g", i * i % 5000L + 1L))
    val w2 = (601L to 1200L).map(i => ("g", i * i % 5000L + 1L))
    assert(wave(w1) == 1L)
    assert(wave(w2) == 1L)
    // the stored state's n per (g, bucket) IS the sketch — register-
    // for-register equal to a direct build over the full history
    val served = StreamingIngest.readAggState(spark, state)
      .select(col("g"), col("bucket"), col("n").as("cnt"))
    val direct = Sketches.hdrSketch((w1 ++ w2).toDF("g", "v"),
      Seq("g"), "v", m)
    val sSet = served.collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val dSet = direct.collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(sSet == dSet, s"stored state $sSet != direct sketch $dSet")
    // quantile reads serve straight off the stored state
    val qs = Sketches.hdrQuantile(served, Seq("g"), m, 9L, 10L).head()
    val qd = Sketches.hdrQuantile(direct, Seq("g"), m, 9L, 10L).head()
    assert(qs.getLong(1) == qd.getLong(1) && qs.getLong(2) == qd.getLong(2),
      s"served p90 ${qs} != direct ${qd}")
    // the drift gates too: KS and PSI against a shifted cohort read
    // IDENTICALLY off the streaming-maintained state and the direct
    // build — the yesterday-sketch vs today-sketch serving shape
    val servedG = served.select(col("bucket"), col("cnt"))
    val directG = direct.select(col("bucket"), col("cnt"))
    val shifted = Sketches.hdrSketch(
      (w1 ++ w2).map { case (g, v) => (g, v * 3L) }.toDF("g", "v"),
      Seq.empty, "v", m).localCheckpoint()
    val ksS = Sketches.hdrKsGate(servedG, shifted).head()
    val ksD = Sketches.hdrKsGate(directG, shifted).head()
    assert(ksS.getDouble(3) == ksD.getDouble(3) &&
      ksS.getBoolean(5) == ksD.getBoolean(5),
      s"KS off stored state $ksS != direct $ksD")
    val psiS = Sketches.hdrPsiGate(servedG, shifted).head()
    val psiD = Sketches.hdrPsiGate(directG, shifted).head()
    assert(psiS.getDouble(3) == psiD.getDouble(3) &&
      psiS.getDouble(4) == psiD.getDouble(4),
      s"PSI off stored state $psiS != direct $psiD")
  }

  test("streaming top-k heavy-hitters: topkStateSink over waves == batch " +
    "topkMerge of the same per-wave leaves, register-for-register") {
    import spark.implicits._
    import graft.ops.Sketches
    import graft.streaming.StreamingIngest
    val k = 4
    val in = java.nio.file.Files.createTempDirectory("graft-tk-in")
    val state = java.nio.file.Files.createTempDirectory("graft-tk-st").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-tk-ck").toString
    def wave(rows: Seq[(String, String)]): Long = {
      rows.toDF("g", "w").coalesce(1).write.mode("append").parquet(in.toString)
      StreamingIngest.topkStateSink(spark,
        spark.readStream.schema("g STRING, w STRING").parquet(in.toString),
        Seq("g"), "w", k, state, ckpt)
    }
    def mk(seed: Int, hot: String): Seq[(String, String)] =
      (1 to 400).map { i =>
        val z = (seed * 31 + i * i) % 100
        ("g", if (z < 45) hot else s"w${(seed * 100 + i) % 60}")
      }
    val w1 = mk(1, "alpha"); val w2 = mk(2, "beta")
    assert(wave(w1) == 1L)
    assert(wave(w2) == 1L)
    val served = Sketches.topkFromRegisters(
      StreamingIngest.readAggState(spark, state)
        .withColumnRenamed("v", "sum_v"), Seq("g"))
    val batch = Sketches.topkMerge(Seq("g"),
      Sketches.topkSketch(w1.toDF("g", "w"), Seq("g"), "w", k),
      Sketches.topkSketch(w2.toDF("g", "w"), Seq("g"), "w", k))
    def st(d: org.apache.spark.sql.DataFrame) =
      d.select("g", "item", "cnt", "tseen").collect().map(r =>
        (r.getString(0), Option(r.getString(1)), r.getLong(2), r.getLong(3)))
        .toSet
    assert(st(served) == st(batch),
      s"streaming state ${st(served)} != batch merge ${st(batch)}")
    // heavy-hitter read serves straight off the stored state
    val hs = Sketches.topkHeavyHitters(served, Seq("g"), 2)
      .collect().map(r => (r.getInt(1), r.getString(2))).toSet
    val hb = Sketches.topkHeavyHitters(batch, Seq("g"), 2)
      .collect().map(r => (r.getInt(1), r.getString(2))).toSet
    assert(hs == hb && hs.map(_._2).intersect(Set("alpha", "beta")).size == 2,
      s"served $hs batch $hb")
  }

  test("windowed serving off streamed per-day topk leaves: " +
    "topkStateSink keyed by day + topkWindowRead == batch leafCols " +
    "build on the window's rows") {
    import spark.implicits._
    import graft.ops.Sketches
    import graft.streaming.StreamingIngest
    val k = 3
    val in = java.nio.file.Files.createTempDirectory("graft-tkw-in")
    val state = java.nio.file.Files.createTempDirectory("graft-tkw-st").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-tkw-ck").toString
    def wave(rows: Seq[(Long, String)]): Long = {
      rows.toDF("day", "w").coalesce(1).write.mode("append")
        .parquet(in.toString)
      StreamingIngest.topkStateSink(spark,
        spark.readStream.schema("day LONG, w STRING").parquet(in.toString),
        Seq("day"), "w", k, state, ckpt)
    }
    def mk(day: Long, seed: Int): Seq[(Long, String)] =
      (1 to 120).map(i => (day, s"w${(seed * 13 + i * i) % 9}"))
    // two waves can land on the SAME day — leaves must still fold per day
    val all = Seq(mk(1L, 1), mk(2L, 2), mk(2L, 3), mk(3L, 4), mk(4L, 5))
    all.foreach(rows => assert(wave(rows) == 1L))
    val perDay = Sketches.topkFromRegisters(
      StreamingIngest.readAggState(spark, state)
        .withColumnRenamed("v", "sum_v"), Seq("day"))
    // window = days (2, 4] off the stored frontier (day 4)
    val served = Sketches.topkWindowRead(perDay, Seq.empty, "day", 2, 0)
    val winRows = all.flatten.filter(r => r._1 > 2L && r._1 <= 4L)
    val direct = Sketches.topkSketch(winRows.toDF("day", "w"),
      Seq.empty, "w", k, leafCols = Seq("day"))
    def st(d: org.apache.spark.sql.DataFrame) =
      d.select("item", "cnt", "tseen").collect().map(r =>
        (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    assert(st(served) == st(direct),
      s"windowed stream state ${st(served)} != batch ${st(direct)}")
  }

  test("aggStateSink: replays skip, torn versions are invisible") {
    import spark.implicits._
    import graft.streaming.StreamingIngest
    val in = java.nio.file.Files.createTempDirectory("graft-mv2-in")
    val state = java.nio.file.Files.createTempDirectory("graft-mv2-state")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-mv2-ckpt").toString
    Seq(("a", 1.0)).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(in.toString)
    def run(): Long = StreamingIngest.aggStateSink(spark,
      spark.readStream.schema("k STRING, v DOUBLE").parquet(in.toString),
      Seq("k"), "v", state.toString, ckpt)
    assert(run() == 1L)
    val before = StreamingIngest.readAggState(spark, state.toString)
      .collect().map(_.toString).sorted.toSeq
    // no new input: AvailableNow finds nothing or replays — state unchanged
    assert(run() == 0L)
    // a torn (uncommitted) version directory must be ignored by readers
    val torn = state.resolve("v999")
    java.nio.file.Files.createDirectories(torn)
    java.nio.file.Files.writeString(torn.resolve("garbage.txt"), "not parquet")
    val after = StreamingIngest.readAggState(spark, state.toString)
      .collect().map(_.toString).sorted.toSeq
    assert(after == before)
  }

  test("flatMapGroupsWithState running totals match batch totals") {
    val streaming = runToMemory(
      StreamingAggregates.runningUserTotals(spark, streamEvents).toDF(),
      "running_stream", "update")
    // last update per user == batch per-user totals
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val lastPerUser = streaming
      .withColumn("__max_n", max(col("n_events")).over(w))
      .filter(col("n_events") === col("__max_n"))
      .select(col("user_id"), col("n_events"))
      .distinct()
    val batch = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
    val diff = lastPerUser.join(batch, Seq("user_id"))
      .filter(lastPerUser("n_events") =!= batch("n_events"))
    assert(diff.isEmpty)
    assert(lastPerUser.count() == batch.count())
  }

  test("streamingFunnel: latest per-user state == batch funnel (q156 config)") {
    val steps = Seq("signup", "view", "purchase")
    val windowUs = 259200000000L
    val streaming = runToMemory(
      StreamingAggregates.streamingFunnel(spark, streamEvents, steps, windowUs),
      "funnel_stream", "update")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val last = streaming
      .withColumn("__m", max(col("n_seen")).over(w))
      .filter(col("n_seen") === col("__m"))
      .select("user_id", "t1", "t2", "t3").distinct()
      .filter(col("t1").isNotNull)
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val batch = graft.ops.EventOps.funnel(ev, "user_id", "event_type", "us",
      steps, windowUs)
    assert(last.exceptAll(batch).isEmpty && batch.exceptAll(last).isEmpty,
      "streaming funnel's final state must equal the batch funnel")
    assert(last.count() == batch.count() && batch.count() > 0)
  }

  test("streamingRollingDistinctDeltas: folded+cumsum == batch DAU/WAU/MAU (q192 config)") {
    val ev = Tables.events(spark, sf)
    val batch = graft.ops.EventOps.rollingDistinctUsersMulti(ev, "user_id",
        "ts", Seq(1 -> "dau", 7 -> "wau", 28 -> "mau"))
      .select(datediff(col("day"), lit("1970-01-01")).cast("long")
        .as("day_num"), col("dau"), col("wau"), col("mau"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(batch.nonEmpty)
    for (((w, pick), i) <- Seq(
        (1, (t: (Long, Long, Long)) => t._1),
        (7, (t: (Long, Long, Long)) => t._2),
        (28, (t: (Long, Long, Long)) => t._3)).zipWithIndex) {
      val streaming = runToMemory(
        StreamingAggregates.streamingRollingDistinctDeltas(
          spark, streamEvents, w), s"rolling_stream_$i", "update")
      val deltas = streaming.groupBy("day_num")
        .agg(sum("delta").as("d")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // one calendar cumsum over the batch day spine = the rolling count
      var cum = 0L
      val spine = batch.keys.toSeq.sorted
      val missing = (deltas.keys.filter(_ < spine.head)).toSeq
      assert(missing.isEmpty, s"delta before first activity day: $missing")
      for (d <- spine.head to spine.last) {
        cum += deltas.getOrElse(d, 0L)
        assert(cum == pick(batch(d)),
          s"W=$w day $d: streaming $cum != batch ${pick(batch(d))}")
      }
    }
  }

  test("streamingRollingDistinctDeltas: a merging late day retracts the old segment end") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val day = 86400000000L
    def e(uid: Long, dayN: Long): (Long, java.sql.Timestamp) =
      (uid, new java.sql.Timestamp(dayN * day / 1000L))
    val ms = MemoryStream[(Long, java.sql.Timestamp)]
    val src = ms.toDF().toDF("user_id", "ts")
    val out = StreamingAggregates.streamingRollingDistinctDeltas(spark, src, 7)
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("rolling_late").start()
    ms.addData(e(9L, 1)) // segment [1,1]: +1@1, -1@8
    q.processAllAvailable()
    ms.addData(e(9L, 3)) // merges to [1,3]: the -1 moves 8 -> 10
    q.processAllAvailable()
    ms.addData(e(9L, 20)) // disjoint new segment [20,20]
    q.processAllAvailable()
    q.stop()
    val folded = spark.table("rolling_late").groupBy("day_num")
      .agg(sum("delta").as("d")).filter(col("d") =!= 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(folded == Map(1L -> 1L, 10L -> -1L, 20L -> 1L, 27L -> -1L),
      s"folded deltas: $folded")
  }

  test("streamingHllRegisters: complete-mode registers == batch sketch at every wave") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, String)]
    val src = ms.toDF().toDF("g", "v")
    val out = StreamingAggregates.streamingHllRegisters(src, Seq("g"), "v")
    val q = out.writeStream.outputMode("complete").format("memory")
      .queryName("hll_stream").start()
    val wave1 = (1 to 500).map(i => ("a", s"u$i"))
    val wave2 = (300 to 900).map(i => ("a", s"u$i")) ++
      (1 to 50).map(i => ("b", s"x$i"))
    def batchOf(rows: Seq[(String, String)]) =
      graft.ops.Sketches.hllSketch(rows.toDF("g", "v"), Seq("g"), "v")
    def regs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
    ms.addData(wave1: _*)
    q.processAllAvailable()
    assert(regs(spark.table("hll_stream")) == regs(batchOf(wave1)),
      "after wave 1 the live registers must equal the batch sketch")
    ms.addData(wave2: _*)
    q.processAllAvailable()
    q.stop()
    assert(regs(spark.table("hll_stream")) == regs(batchOf(wave1 ++ wave2)),
      "replayed/overlapping values must fold idempotently (MAX)")
    // estimates read straight off the live registers
    val est = graft.ops.Sketches.hllEstimate(
        spark.table("hll_stream"), Seq("g")).orderBy("g").collect()
    assert(math.abs(est(0).getDouble(2) / 900.0 - 1.0) < 0.15)
    assert(math.abs(est(1).getDouble(2) - 50.0) < 6.0)
  }

  test("streamingRetentionDeltas: folded deltas == batch retention triangle") {
    val periodUs = 604800000000L // 7 days, the q157 config
    val streaming = runToMemory(
      StreamingAggregates.streamingRetentionDeltas(spark, streamEvents, periodUs),
      "retention_stream", "update")
    val folded = streaming.groupBy("cohort_period", "period_offset")
      .agg(sum("delta").as("n_users"))
      .filter(col("n_users") =!= 0)
    val batch = graft.ops.EventOps.retentionCohorts(
      Tables.events(spark, sf)
        .select(col("user_id"), unix_micros(col("ts")).as("us")),
      "user_id", "us", periodUs)
    assert(folded.exceptAll(batch).isEmpty && batch.exceptAll(folded).isEmpty,
      "folded delta stream must equal the batch retention triangle")
    assert(batch.count() > 0)
  }

  test("streamingRetentionDeltas: a late earlier first event retracts the old cohort") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val day = 86400000000L
    def e(uid: Long, dayN: Long): (Long, java.sql.Timestamp) =
      (uid, new java.sql.Timestamp(dayN * day / 1000L))
    val ms = MemoryStream[(Long, java.sql.Timestamp)]
    val src = ms.toDF().toDF("user_id", "ts")
    val out = StreamingAggregates.streamingRetentionDeltas(spark, src, 7 * day)
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("retention_late").start()
    ms.addData(e(9L, 8), e(9L, 15)) // first=day8: cohort 1, offsets 0 and 1
    q.processAllAvailable()
    ms.addData(e(9L, 1)) // LATE earlier first event: cohort moves to 0
    q.processAllAvailable()
    q.stop()
    val folded = spark.table("retention_late")
      .groupBy("cohort_period", "period_offset")
      .agg(sum("delta").as("n")).filter(col("n") =!= 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // batch truth over all three events: first=day1, offsets 0,1,2
    assert(folded == Set((0L, 0L, 1L), (0L, 1L, 1L), (0L, 2L, 1L)),
      s"old cohort-1 cells must be retracted, got $folded")
  }

  test("streamingFunnel: a late-arriving earlier signup re-derives the chain across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def e(uid: Long, t: String, sec: Long): (Long, String, java.sql.Timestamp) =
      (uid, t, new java.sql.Timestamp(sec * 1000L))
    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val src = ms.toDF().toDF("user_id", "event_type", "ts")
    val out = StreamingAggregates.streamingFunnel(spark, src,
      Seq("signup", "view", "purchase"), windowUs = 3600L * 1000000L)
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("funnel_late").start()
    // batch 1: signup@10, a view@5 that precedes it (must not count),
    // purchase@25 (cannot fill: no view yet)
    ms.addData(e(7L, "signup", 10), e(7L, "view", 5), e(7L, "purchase", 25))
    q.processAllAvailable()
    val mid = spark.table("funnel_late").orderBy(col("n_seen").desc).head()
    assert(mid.getLong(2) == 10L * 1000000L && mid.isNullAt(3) && mid.isNullAt(4),
      s"after batch 1: t1=10s, view/purchase unfilled, got $mid")
    // batch 2: an EARLIER signup@2 arrives late — t1 drops to 2, the
    // buffered view@5 now qualifies, and purchase@25 completes the chain
    ms.addData(e(7L, "signup", 2), e(7L, "view", 6))
    q.processAllAvailable()
    q.stop()
    val fin = spark.table("funnel_late").orderBy(col("n_seen").desc).head()
    assert(fin.getLong(2) == 2L * 1000000L && fin.getLong(3) == 5L * 1000000L &&
      fin.getLong(4) == 25L * 1000000L,
      s"late earlier signup must re-derive t1..t3 from the buffer, got $fin")
    // and the final state equals the batch funnel over the SAME six events
    val all = Seq(e(7L, "signup", 10), e(7L, "view", 5), e(7L, "purchase", 25),
      e(7L, "signup", 2), e(7L, "view", 6))
      .toDF("user_id", "event_type", "ts")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val b = graft.ops.EventOps.funnel(all, "user_id", "event_type", "us",
      Seq("signup", "view", "purchase"), 3600L * 1000000L).head()
    assert(b.getLong(1) == fin.getLong(2) && b.getLong(2) == fin.getLong(3) &&
      b.getLong(3) == fin.getLong(4))
  }
}
