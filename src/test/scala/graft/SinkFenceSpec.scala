package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingIngest

/** The micro-batch commit fence every marker-fenced sink in
  * [[StreamingIngest]] runs under: a batch that the checkpoint replays
  * after the sink committed it applies nothing, and the served target
  * stays as it was.
  *
  * Each case runs one wave on a few rows, then deletes the checkpoint's
  * last `commits/<id>` (and its `.crc`), so Structured Streaming re-runs
  * that batch id with the same offsets, and reruns the sink.
  */
class SinkFenceSpec extends AnyFunSuite {
  import SinkFenceSpec.Sink
  private lazy val spark = SparkTestSession.spark

  private def docs = spark.createDataFrame(Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),
    (3L, "a b c d e f g h i j"),
    (4L, "x y z q x y z"))).toDF("doc_id", "text")

  private val sinks: Seq[(String, Sink)] = Seq(
    "dedupAppendSink" -> Sink(
      () => spark.createDataFrame(Seq((1L, 0L, "a"), (2L, 0L, "b"), (1L, 1L, "c")))
        .toDF("k", "version", "payload"),
      (s, t, c) => StreamingIngest.dedupAppendSink(spark, s, "k", "version", t, c,
        nBuckets = 4),
      t => spark.read.parquet(t)),
    "nearDupAppendSink" -> Sink(() => docs,
      (s, t, c) => StreamingIngest.nearDupAppendSink(spark, s, "doc_id", "text",
        t, c, nBuckets = 8),
      t => StreamingIngest.readNearDupTarget(spark, t)),
    "signatureAppendSink" -> Sink(
      () => spark.createDataFrame(Seq((1L, 0x0F0F0F0FL), (2L, 0x0F0F0F0EL),
        (3L, 0x7F00FF00FF00L))).toDF("media_id", "sig"),
      (s, t, c) => StreamingIngest.signatureAppendSink(spark, s, "media_id", "sig",
        t, c, nBuckets = 8, cellBuckets = 16),
      t => StreamingIngest.readSignatureTarget(spark, t)),
    "upsertSink" -> Sink(
      () => spark.createDataFrame(Seq((1L, "a", 10L), (2L, "b", 10L), (1L, "c", 20L)))
        .toDF("k", "payload", "seq"),
      (s, t, c) => StreamingIngest.upsertSink(spark, s, "k", "seq", t, c,
        nBuckets = 8),
      t => StreamingIngest.readUpsertTarget(spark, t)),
    "aggStateSink" -> Sink(
      () => spark.createDataFrame(Seq(("a", 1.0), ("a", 2.0), ("b", 10.0)))
        .toDF("k", "v"),
      (s, t, c) => StreamingIngest.aggStateSink(spark, s, Seq("k"), "v", t, c),
      t => StreamingIngest.readAggState(spark, t)),
    "annIndexSink" -> Sink(
      () => Tables.embeddings(spark, "/root/testdata/sf0.001")
        .filter(col("vec_id") >= 40L && col("vec_id") < 50L),
      (s, t, c) => StreamingIngest.annIndexSink(spark, s, "vec_id", "embedding", t, c),
      t => spark.read.parquet(t + "/lists"),
      prepare = t => graft.ops.Ivf.saveIndex(graft.ops.Ivf.buildIndex(
        Tables.embeddings(spark, "/root/testdata/sf0.001").filter(col("vec_id") < 40L),
        "vec_id", "embedding", nCentroids = 2), t)),
    "topkStateSink" -> Sink(
      () => spark.createDataFrame(Seq(("g", "x"), ("g", "x"), ("g", "y"), ("h", "z")))
        .toDF("g", "w"),
      (s, t, c) => StreamingIngest.topkStateSink(spark, s, Seq("g"), "w", 2, t, c),
      t => StreamingIngest.readAggState(spark, t)),
    "dupSpanAppendSink" -> Sink(() => docs,
      (s, t, c) => StreamingIngest.dupSpanAppendSink(spark, s, "doc_id", "text",
        t, c, k = 3, nBuckets = 8),
      t => StreamingIngest.readDupSpanTarget(spark, t)),
    "sessionSink" -> Sink(
      () => spark.createDataFrame(Seq((1L, 0L, 1L, 1.0), (1L, 500L, 2L, 2.0),
        (1L, 5000L, 3L, 3.0), (2L, 100L, 4L, 4.0)))
        .toDF("user_id", "us", "event_id", "value"),
      (s, t, c) => StreamingIngest.sessionSink(spark, s, "user_id", "us",
        "event_id", "value", 1000L, t, c, nBuckets = 4),
      t => StreamingIngest.readSessionTarget(spark, t)))

  /** Deletes the checkpoint's last commit, so the next run replays that
    * batch id; returns the id.
    */
  private def dropLastCommit(ckpt: String): Long = {
    val commits = Paths.get(ckpt, "commits")
    val last = commits.toFile.list().flatMap(_.toLongOption).max
    Files.delete(commits.resolve(last.toString))
    Files.deleteIfExists(commits.resolve(s".$last.crc"))
    last
  }

  /** Served rows as sorted JSON lines: comparable whatever the columns hold. */
  private def snapshot(df: DataFrame): Seq[String] =
    df.toJSON.collect().sorted.toSeq

  sinks.foreach { case (name, sink) =>
    test(s"$name: a replayed committed batch applies nothing") {
      val in = Files.createTempDirectory(s"graft-fence-$name-in").toString
      val target = Files.createTempDirectory(s"graft-fence-$name-t").toString
      val ckpt = Files.createTempDirectory(s"graft-fence-$name-c").toString
      sink.prepare(target)
      sink.rows().coalesce(1).write.mode("append").parquet(in)
      val schema = spark.read.parquet(in).schema
      def drain(): Long = sink.run(spark.readStream.schema(schema).parquet(in),
        target, ckpt)
      assert(drain() > 0L)
      val before = snapshot(sink.served(target))
      val replayed = dropLastCommit(ckpt)
      assert(drain() == 0L, s"replayed batch $replayed applied again")
      // the batch id did run again: the checkpoint committed it anew
      assert(Files.exists(Paths.get(ckpt, "commits", replayed.toString)))
      assert(snapshot(sink.served(target)) == before)
    }
  }
}

object SinkFenceSpec {

  /** A sink under test: the rows of its one wave, the sink call
    * (stream, target, checkpoint) → applied, its served frame, and what
    * the target needs before the first wave.
    */
  private final case class Sink(rows: () => DataFrame,
                                run: (DataFrame, String, String) => Long,
                                served: String => DataFrame,
                                prepare: String => Unit = _ => ())
}
