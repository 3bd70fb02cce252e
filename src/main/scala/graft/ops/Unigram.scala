package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ArrayMath

/** Unigram-LM (SentencePiece-style) subword tokenizer: distributed
  * vocabulary TRAINING and corpus-scale ENCODING (Kudo, ACL'18 "Subword
  * regularization" §3 — the OTHER tokenizer family real LLM pipelines
  * train besides [[Bpe]]; T5/ALBERT/XLNet-lineage). Words are whitespace
  * pre-tokenized exactly as in [[Bpe]]; the model is a piece →
  * log-probability table and encoding is the Viterbi segmentation
  * maximizing the summed piece log-probability.
  *
  * Trainer shape (the hard-EM / Viterbi-EM variant — the E-step takes
  * the single best segmentation instead of lattice-expected counts,
  * which keeps every statistic an exact integer and the whole run
  * DuckDB-replayable; Kudo's §3.2 full-EM differs only in using
  * forward-backward expectations):
  *
  *   1. SEED: all word substrings up to `maxPieceLen` chars, counted
  *      with word multiplicity; the candidate vocabulary is every
  *      single character plus the top `(vocabSize − |charset|) ·
  *      seedFactor` multi-char substrings by (count desc, piece asc).
  *   2. EM round × `emRounds`: score pieces by ln(count / total) (each
  *      ln over an exact integer ratio, routed through DECIMAL(18,12) —
  *      the q109 discipline, so scores replay bit-for-bit); Viterbi-
  *      segment every word TYPE under those scores (ties break by the
  *      lexicographically smallest piece path — fully deterministic);
  *      re-count pieces from the segmentations (word-count weighted);
  *      drop unused multi-char pieces and prune the rest to the target
  *      by (count desc, piece asc). Single-char pieces are never
  *      dropped and floor at count 1 (the byte-fallback convention —
  *      every word stays encodable).
  *
  * Scale shape (the [[Bpe]] contract): ONE corpus-scale pass total (the
  * word-type histogram); seeding, scoring, Viterbi and pruning all run
  * on the word-TYPE plane (|types| · maxWordLen · maxPieceLen candidate
  * rows, independent of corpus size). The Viterbi E-step is ONE
  * projection + one aggregation per EM round: each word type is
  * segmented by the same codegen kernel [[encode]] ships
  * ([[graft.functions.UnigramEncode]] — per-position DP, ties to the
  * lexicographically smallest piece path, spec-asserted equal to the
  * former DataFrame DP), the round's model riding the plan as one
  * bounded reference object. Words longer than `maxWordLen` are
  * excluded from TRAINING statistics (the SentencePiece max-length
  * convention; [[encode]] still handles any length). Driver traffic:
  * one bounded scalar (charset size) plus one model-bounded collect
  * per EM round and the final ≤ vocabSize-row model collect.
  *
  * Encoding is a pure projection: one codegen-span call per row into
  * [[graft.functions.UnigramEncode]], the vocabulary riding the plan as
  * a single reference object, scores as exact 10^12-scaled longs —
  * encode(word) equals the trainer's own final segmentation of that
  * word (spec-asserted).
  */
object Unigram {

  /** One vocabulary piece: the subword, its (floored) Viterbi count at
    * the last EM round, and its log-probability as the exact
    * DECIMAL(18,12) the trainer computed.
    */
  case class Piece(piece: String, cnt: Long, score: java.math.BigDecimal) {
    /** The score as an exact 10^12-scaled long (the
      * [[graft.functions.UnigramEncode]] wire format).
      */
    def scoreScaled: Long =
      score.movePointRight(12).longValueExact()
  }

  /** Learn a `vocabSize`-piece unigram LM from the corpus. See the
    * object doc for the algorithm; every step is deterministic under
    * any partitioning (spec-asserted).
    */
  def train(df: DataFrame, textCol: String, vocabSize: Int,
            maxPieceLen: Int = 4, seedFactor: Int = 4, emRounds: Int = 2,
            maxWordLen: Int = 24): Seq[Piece] = {
    require(vocabSize >= 2, s"vocabSize must be >= 2, got $vocabSize")
    require(maxPieceLen >= 2 && maxPieceLen <= 16,
      s"maxPieceLen must be in [2,16], got $maxPieceLen")
    require(seedFactor >= 1, s"seedFactor must be >= 1, got $seedFactor")
    require(emRounds >= 1 && emRounds <= 10,
      s"emRounds must be in [1,10], got $emRounds")
    require(maxWordLen >= maxPieceLen && maxWordLen <= 64,
      s"maxWordLen must be in [maxPieceLen,64], got $maxWordLen")
    // the single corpus-scale pass: word-type histogram
    val wordCounts = df
      .select(explode(TextOps.tokens(TextOps.normalized(col(textCol))))
        .as("w"))
      .filter(length(col("w")) > 0 && length(col("w")) <= maxWordLen)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    // all substrings up to maxPieceLen, with (word, start, end) kept so
    // the same generator feeds both seeding and the Viterbi candidates
    def substrs = wordCounts
      .select(col("w"), col("cnt"),
        explode(expr("sequence(1, length(w))")).as("st"))
      .select(col("w"), col("cnt"), col("st"),
        explode(expr(
          s"sequence(1, least($maxPieceLen, length(w) - st + 1))"))
          .as("ln"))
      .select(col("w"), col("cnt"), col("st"),
        (col("st") + col("ln") - 1).as("en"),
        expr("substring(w, st, ln)").as("piece"))
    // charset size rides the seed checkpoint job — no separate count job
    val (seedCounts, seedProbe) = Rounds.checkpoint(
      substrs.groupBy("piece").agg(sum(col("cnt")).cast("bigint").as("pcnt")),
      count(when(length(col("piece")) === 1, 1)).cast("bigint").as("__n1"))
    val nSingles = seedProbe.getLong(0)
    require(vocabSize > nSingles,
      s"vocabSize=$vocabSize must exceed the $nSingles-char charset " +
        "(single-char pieces are never dropped)")
    val targetMulti = (vocabSize - nSingles).toInt
    var vocab = seedCounts.filter(length(col("piece")) === 1)
      .unionByName(seedCounts.filter(length(col("piece")) > 1)
        .orderBy(col("pcnt").desc, col("piece")) // TakeOrdered
        .limit(targetMulti * seedFactor))
      .localCheckpoint()
    // ln(count/total) as exact DECIMAL(18,12) per piece
    def scored(v: DataFrame): DataFrame = {
      val wAll = Window.partitionBy(ArrayMath.boundedKey(v))
      v.withColumn("__tot", sum(col("pcnt")).over(wAll))
        .withColumn("score",
          log(col("pcnt").cast("double") / col("__tot").cast("double"))
            .cast("decimal(18,12)"))
        .select(col("piece"), col("pcnt"), col("score"))
    }
    var round = 0
    var model: DataFrame = scored(vocab).localCheckpoint()
    while (round < emRounds) {
      round += 1
      // Viterbi over word types via the SAME codegen kernel encode()
      // ships ([[graft.functions.UnigramEncode]] — byte-for-byte the
      // (score DESC, path ASC) per-position rule of the former DataFrame
      // DP, spec-asserted equal): the model is bounded (charset +
      // targetMulti·seedFactor rows), so it rides the plan as one
      // reference object instead of paying maxWordLen join+window+
      // checkpoint driver round-trips per EM round. Every training char
      // is a vocabulary single (never dropped), so the kernel's unknown-
      // char floor can never fire here. Wire order is the final model
      // collect's (pcnt DESC, piece) — deterministic, and immaterial to
      // the kernel (distinct pieces, order-independent score map).
      val wire = model.orderBy(col("pcnt").desc, col("piece")).collect()
        .map(r => r.getString(0) + " " +
          r.getDecimal(2).movePointRight(12).longValueExact())
      // hard-EM count: pieces of each word's best segmentation, word-
      // count weighted; singles floor at 1, unused multis drop, the
      // rest prune to the target
      val viterbiCounts = wordCounts
        .select(col("cnt"), explode(ArrayMath.unigramEncode(
          array(col("w")), wire)).as("piece"))
        .groupBy("piece").agg(sum(col("cnt")).cast("bigint").as("__vc"))
      val counted = model.select(col("piece"))
        .join(viterbiCounts, Seq("piece"), "left")
        .select(col("piece"),
          when(length(col("piece")) === 1,
            greatest(coalesce(col("__vc"), lit(0L)), lit(1L)))
            .otherwise(coalesce(col("__vc"), lit(0L))).as("pcnt"))
        .filter(col("pcnt") > 0L)
      vocab = counted.filter(length(col("piece")) === 1)
        .unionByName(counted.filter(length(col("piece")) > 1)
          .orderBy(col("pcnt").desc, col("piece"))
          .limit(targetMulti))
        .localCheckpoint()
      model = scored(vocab).localCheckpoint()
    }
    model.orderBy(col("pcnt").desc, col("piece")) // bounded: the model
      .collect()
      .map(r => Piece(r.getString(0), r.getLong(1),
        r.getDecimal(2))).toSeq
  }

  /** Trained model as a DataFrame (piece, cnt, score) — the persistable
    * artifact form of [[train]].
    */
  def modelDf(df: DataFrame, model: Seq[Piece]): DataFrame = {
    import df.sparkSession.implicits._
    model.map(p => (p.piece, p.cnt, p.score))
      .toDF("piece", "cnt", "score")
      .select(col("piece"), col("cnt"),
        col("score").cast("decimal(18,12)").as("score"))
  }

  /** Persist a trained model as a parquet artifact (train once, ship
    * everywhere — the [[Bpe.saveMerges]] convention).
    */
  def saveModel(spark: org.apache.spark.sql.SparkSession,
                model: Seq[Piece], path: String): Unit = {
    import spark.implicits._
    model.map(p => (p.piece, p.cnt, p.score))
      .toDF("piece", "cnt", "score")
      .select(col("piece"), col("cnt"),
        col("score").cast("decimal(18,12)").as("score"))
      .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(path)
  }

  /** Load a [[saveModel]] artifact. The collect is bounded by
    * `vocabSize` rows (a tokenizer model, not data).
    */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
                path: String): Seq[Piece] =
    spark.read.parquet(path)
      .orderBy(col("cnt").desc, col("piece")).collect().toSeq
      .map(r => Piece(r.getAs[String]("piece"), r.getAs[Long]("cnt"),
        r.getAs[java.math.BigDecimal]("score")))

  /** Encode: appends `outCol` = array<string> of unigram pieces for the
    * whole document (words whitespace-split and normalized exactly as
    * in [[train]], each Viterbi-segmented under the model's scores).
    * Pure projection, zero shuffles, vocabulary as one plan reference
    * object.
    */
  def encode(df: DataFrame, textCol: String, model: Seq[Piece],
             outCol: String = "unigram_tokens"): DataFrame =
    df.withColumn(outCol, ArrayMath.unigramEncode(
      TextOps.tokens(TextOps.normalized(col(textCol))),
      model.map(p => p.piece + " " + p.scoreScaled).toArray))
}
