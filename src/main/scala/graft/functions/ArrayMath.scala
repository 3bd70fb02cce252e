package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native array math for the similarity operators.
  *
  * The built-in spelling — `aggregate(zip_with(a, b, _*_), 0d, _+_)` — is a
  * higher-order function: Catalyst evaluates the lambda per element with
  * boxed values and breaks whole-stage codegen around it. On the near-dup
  * verify path that cost is paid once per CANDIDATE PAIR, which is the hot
  * loop of the whole operator. `DotProduct` is the same left-to-right
  * accumulation (bit-identical results, so oracle parity is unaffected) as
  * a tight unboxed codegen'd loop.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_product"
}

/** dot(int8 codes, double vector) — the quantized-probe scoring loop of
  * [[graft.ops.Ivf.searchIndexQuantized]]. The built-in spelling must
  * first `transform(codes, cast to double)`, a higher-order function that
  * allocates a converted array per ROW and breaks the codegen span right
  * in the per-candidate hot loop; this is the same single pass with the
  * widening done per ELEMENT in the multiply. Same left-to-right
  * accumulation as [[DotProduct]], so scores are bit-identical to the
  * HOF spelling.
  */
case class Int8DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.ByteType, _),
            ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<tinyint>, array<double>), got " +
          s"${l.catalogString} and ${r.catalogString}")
    }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getByte(i).toDouble * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((double) $a.getByte($i)) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "int8_dot_product"
}

/** Position-wise equality count over two array<bigint> columns — the
  * MinHash similarity estimate (#equal minhashes / k) evaluated once per
  * candidate pair, i.e. the hot loop of LSH near-dup detection. Same
  * codegen rationale as [[DotProduct]].
  */
case class ArrayEqualCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var c = 0L
    var i = 0
    while (i < n) { if (x.getLong(i) == y.getLong(i)) c += 1; i += 1 }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $c = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "array_equal_count"
}

/** |A ∩ B| for two SORTED array<bigint> columns by linear merge — the exact
  * n-gram Jaccard verify loop. The built-in spelling
  * `size(array_intersect(a, b))` allocates an OpenHashSet AND a result
  * array per row just to take its length; at ~1M candidate pairs per
  * verify stage that allocation is the hot loop. The merge is O(|A|+|B|)
  * with zero allocation and stays inside whole-stage codegen.
  *
  * Caller contract: both arrays ascending-sorted, duplicate-free (the
  * verify path builds them with array_distinct + sort_array). Unsorted
  * input gives an undercount — enforced by construction, asserted in tests.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0; int $j = 0;
         |long $c = 0L;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_intersect_count"
}

object ArrayMath {

  val fnName = "graft_dot_product"
  val eqCountName = "graft_array_eq_count"
  val sortedIntersectName = "graft_sorted_intersect_count"

  val shingleName = "graft_shingle_hashes"
  val minhashName = "graft_minhash_signature"
  val simhashName = "graft_simhash64"
  val textStatsName = "graft_text_stats"
  val nearestCentroidName = "graft_nearest_centroid"
  val topCentroidsName = "graft_top_centroids"
  val imageMetaName = "graft_image_meta"
  val pngPixelStatsName = "graft_png_pixel_stats"
  val pngGradientName = "graft_png_gradient_bytes"
  val pngResizeName = "graft_png_resize"
  val jpegPixelStatsName = "graft_jpeg_pixel_stats"
  val jpegGradientName = "graft_jpeg_gradient_bytes"
  val audioPcmName = "graft_audio_pcm_stats"
  val wavToneName = "graft_wav_tone_bytes"
  val gifMetaName = "graft_gif_meta"
  val gifAnimName = "graft_gif_anim_bytes"
  val apngMetaName = "graft_apng_meta"
  val apngAnimName = "graft_apng_anim_bytes"
  val mp4MetaName = "graft_mp4_meta"
  val mp4BytesName = "graft_mp4_bytes"
  val dhashName = "graft_image_dhash64"
  val ahashName = "graft_image_ahash64"
  val lcsLenName = "graft_lcs_len"
  val warcParseName = "graft_warc_parse"
  val warcRecordName = "graft_warc_record_bytes"
  val audioFpName = "graft_audio_fingerprint64"
  val rgbStatsName = "graft_rgb_channel_stats"
  val audioMetaName = "graft_audio_meta"
  val int8DotName = "graft_int8_dot"
  val int8StatsName = "graft_int8_stats"
  val pqEncodeName = "graft_pq_encode"
  val pqLutName = "graft_pq_lut"
  val nfcName = "graft_nfc"
  val pqAdcName = "graft_pq_adc_score"
  val bloomName = "graft_bloom_might_contain"
  val matVecName = "graft_mat_vec_affine"
  val bpeMergeName = "graft_bpe_merge_pair"
  val bpeEncodeName = "graft_bpe_encode"
  val unigramEncodeName = "graft_unigram_encode"
  val jaroWinklerName = "graft_jaro_winkler"
  val boundedKeyName = "graft_bounded_key"
  val chrfStatsName = "graft_chrf_gram_stats"
  val bleuStatsName = "graft_bleu_gram_stats"
  val winnowName = "graft_winnow_fingerprints"

  /** Extract a foldable array<double> argument into a plain JVM array at
    * function-resolution time (the vector sibling of [[matrixLit]]).
    */
  private def vectorLit(e: Expression, what: String): Array[Double] =
    e.dataType match {
      case ArrayType(DoubleType, _) if e.foldable =>
        e.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
          .asInstanceOf[ArrayData].toDoubleArray()
      case _ => throw new IllegalArgumentException(
        s"$what must be a foldable array<double> literal, got $e")
    }

  /** Extract a foldable array<string> argument into a plain JVM array at
    * function-resolution time.
    */
  private def stringArrayLit(e: Expression, what: String): Array[String] =
    e.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) if e.foldable =>
        e.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
          .asInstanceOf[ArrayData].toObjectArray(org.apache.spark.sql.types.StringType)
          .map(s => if (s == null) null else s.toString)
      case _ => throw new IllegalArgumentException(
        s"$what must be a foldable array<string> literal, got $e")
    }

  private def binaryLit(e: Expression, what: String): Array[Byte] = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Array[Byte], _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be a binary literal, got $other")
  }

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** Extract a foldable array<array<array<double>>> argument (PQ
    * codebooks) into a plain JVM cube at FUNCTION-RESOLUTION time.
    */
  private def cubeLit(e: Expression, what: String): Array[Array[Array[Double]]] =
    e.dataType match {
      case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) if e.foldable =>
        e.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
          .asInstanceOf[ArrayData]
          .toObjectArray(ArrayType(ArrayType(DoubleType)))
          .map(_.asInstanceOf[ArrayData]
            .toObjectArray(ArrayType(DoubleType))
            .map(_.asInstanceOf[ArrayData].toDoubleArray()))
      case _ => throw new IllegalArgumentException(
        s"$what must be a foldable array<array<array<double>>> literal, got $e")
    }

  /** Extract a foldable array<array<double>> argument (the centroid matrix)
    * into a plain JVM matrix at FUNCTION-RESOLUTION time: the plan then
    * carries one reference object instead of k×dim literal doubles.
    */
  private def matrixLit(e: Expression, what: String): Array[Array[Double]] =
    e.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) if e.foldable =>
        e.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
          .asInstanceOf[ArrayData]
          .toObjectArray(ArrayType(DoubleType))
          .map(_.asInstanceOf[ArrayData].toDoubleArray())
      case _ => throw new IllegalArgumentException(
        s"$what must be a foldable array<array<double>> literal, got $e")
    }

  /** One native function: its SQL name, the `DESCRIBE FUNCTION` usage line
    * and the builder from call arguments to the expression.
    */
  final case class NativeFn(name: String, usage: String,
                            builder: Seq[Expression] => Expression) {
    def info: ExpressionInfo =
      new ExpressionInfo(classOf[ArrayMath.type].getName, null, name, usage,
        "", "", "", "", "", "", "scala_udf")
  }

  /** The one table of graft's native functions. [[register]] binds it into
    * a running session and [[graft.GraftExtensions]] injects it into a
    * session under construction, so the Scala API and plain SQL see the
    * same functions.
    */
  val nativeFns: Seq[NativeFn] = Seq(
    NativeFn(fnName, "_FUNC_(a, b) - codegen'd dot product of two array<double>",
      e => DotProduct(e(0), e(1))),
    NativeFn(eqCountName,
      "_FUNC_(a, b) - position-wise equality count of two array<bigint>",
      e => ArrayEqualCount(e(0), e(1))),
    NativeFn(sortedIntersectName,
      "_FUNC_(a, b) - |A ∩ B| of two sorted duplicate-free array<bigint>",
      e => SortedIntersectCount(e(0), e(1))),
    NativeFn(shingleName, "_FUNC_(tokens, n) - 64-bit hashes of token n-grams",
      e => ShingleHashes(e(0), intLit(e(1), "shingle size"))),
    NativeFn(minhashName, "_FUNC_(hashes, k) - k-minima MinHash signature",
      e => MinHashSignature(e(0), intLit(e(1), "numHashes"))),
    NativeFn(simhashName, "_FUNC_(hashes) - 64-bit SimHash",
      e => SimHash64(e(0))),
    NativeFn(textStatsName, "_FUNC_(text) - one-pass text statistics struct",
      e => TextStats(e(0))),
    NativeFn(nearestCentroidName,
      "_FUNC_(vec, matrix) - argmax centroid row id by dot product",
      e => NearestCentroidId(e(0), matrixLit(e(1), "centroid matrix"))),
    NativeFn(topCentroidsName,
      "_FUNC_(vec, matrix, nProbe) - nProbe best centroid row ids, best first",
      e => TopCentroidIds(e(0), matrixLit(e(1), "centroid matrix"),
        intLit(e(2), "nProbe"))),
    NativeFn(imageMetaName,
      "_FUNC_(bytes) - PNG/JPEG header metadata struct, NULL if unparseable",
      e => ImageMeta(e(0))),
    NativeFn(pngPixelStatsName,
      "_FUNC_(bytes) - decoded-PNG pixel statistics struct, NULL outside scope",
      e => PngPixelStats(e(0))),
    NativeFn(pngGradientName,
      "_FUNC_(w, h, r0, g0, b0) - fixture-side real PNG encoder",
      e => PngGradientBytes(e)),
    NativeFn(pngResizeName,
      "_FUNC_(bytes, out_w, out_h) - decoded-PNG nearest-neighbor resize struct",
      e => PngResizePixels(e(0), e(1), e(2))),
    NativeFn(rgbStatsName,
      "_FUNC_(pixels, channels) - per-channel integer sums over a packed buffer",
      e => RgbChannelStats(e(0), e(1))),
    NativeFn(jpegPixelStatsName,
      "_FUNC_(bytes) - decoded-JPEG pixel statistics struct, NULL outside scope",
      e => JpegPixelStats(e(0))),
    NativeFn(jpegGradientName,
      "_FUNC_(w, h, r0, g0, b0) - fixture-side real JPEG encoder",
      e => JpegGradientBytes(e)),
    NativeFn(audioPcmName,
      "_FUNC_(bytes) - decoded-PCM amplitude statistics struct, NULL outside scope",
      e => AudioPcmStats(e(0))),
    NativeFn(wavToneName,
      "_FUNC_(channels, rate, bits, frames) - fixture-side tone-filled WAV encoder",
      e => WavToneBytes(e)),
    NativeFn(audioMetaName,
      "_FUNC_(bytes) - WAV header metadata struct, NULL if unparseable",
      e => AudioMeta(e(0))),
    NativeFn(gifMetaName,
      "_FUNC_(bytes) - GIF frame-walk struct(width,height,n_frames,frames), NULL if malformed",
      e => GifMeta(e(0))),
    NativeFn(gifAnimName,
      "_FUNC_(w, h, nFrames, seed) - fixture-side multi-frame GIF89a encoder",
      e => GifAnimBytes(e)),
    NativeFn(apngMetaName,
      "_FUNC_(bytes) - APNG frame-control struct(width,height,n_frames,n_plays,frames), NULL if malformed",
      e => ApngMeta(e(0))),
    NativeFn(apngAnimName,
      "_FUNC_(w, h, nFrames, seed) - fixture-side APNG encoder",
      e => ApngAnimBytes(e)),
    NativeFn(mp4MetaName,
      "_FUNC_(bytes) - ISO-BMFF box-walk struct(major_brand,timescale,duration,n_tracks,tracks), NULL if malformed",
      e => Mp4Meta(e(0))),
    NativeFn(mp4BytesName,
      "_FUNC_(w, h, nSamples, seed) - fixture-side single-track MP4 encoder",
      e => Mp4Bytes(e)),
    NativeFn(dhashName,
      "_FUNC_(bytes) - 64-bit difference hash of decoded pixels, NULL outside scope",
      e => DHash64(e(0))),
    NativeFn(ahashName,
      "_FUNC_(bytes) - 64-bit average hash of decoded pixels, NULL outside scope",
      e => AHash64(e(0))),
    NativeFn(lcsLenName,
      "_FUNC_(a, b) - longest-common-subsequence length of two array<string>",
      e => LcsLen(e(0), e(1))),
    NativeFn(warcParseName,
      "_FUNC_(bytes) - WARC 1.x record walk to array<struct>, NULL if malformed",
      e => WarcParse(e(0))),
    NativeFn(warcRecordName,
      "_FUNC_(uri, date, payload) - one byte-exact WET conversion record",
      e => WarcRecordBytes(e(0), e(1), e(2))),
    NativeFn(audioFpName,
      "_FUNC_(bytes) - 64-bit energy-difference fingerprint of decoded PCM, NULL outside scope",
      e => AudioFingerprint64(e(0))),
    NativeFn(int8DotName,
      "_FUNC_(codes, vec) - dot(array<tinyint>, array<double>)",
      e => Int8DotProduct(e(0), e(1))),
    NativeFn(int8StatsName,
      "_FUNC_(vec) - one-pass int8 quantization struct(scale, code_sum, max_abs_err, codes)",
      e => Int8Stats(e(0))),
    NativeFn(nfcName, "_FUNC_(text) - Unicode NFC canonical normalization",
      e => NfcNormalize(e(0))),
    NativeFn(pqEncodeName,
      "_FUNC_(vec, codebooks) - m-byte product-quantization code",
      e => PqEncode(e(0), cubeLit(e(1), "PQ codebooks"))),
    NativeFn(pqLutName, "_FUNC_(query, codebooks) - flattened ADC lookup table",
      e => PqLut(e(0), cubeLit(e(1), "PQ codebooks"))),
    NativeFn(pqAdcName,
      "_FUNC_(code, lut, kPerSub) - ADC score sum over subspaces",
      e => PqAdcScore(e(0), e(1), intLit(e(2), "kPerSub"))),
    NativeFn(bloomName,
      "_FUNC_(hash, bits) - Bloom-filter membership probe of a bigint hash",
      e => BloomMightContain(e(0), binaryLit(e(1), "bloom bits"))),
    NativeFn(matVecName,
      "_FUNC_(vec, matrix, offset) - affine map matrix*vec - offset",
      e => MatVecAffine(e(0), matrixLit(e(1), "projection matrix"),
        vectorLit(e(2), "projection offset"))),
    NativeFn(bpeMergeName,
      "_FUNC_(syms, l, r) - fuse adjacent (l, r) symbol pairs left to right",
      e => BpeMergePair(e(0), e(1), e(2))),
    NativeFn(bpeEncodeName,
      "_FUNC_(words, merges) - greedy BPE encode against 'l r' merge list",
      e => BpeEncode(e(0), stringArrayLit(e(1), "merge list"))),
    NativeFn(unigramEncodeName,
      "_FUNC_(words, vocab) - Viterbi unigram-LM encode against 'piece score' vocabulary",
      e => UnigramEncode(e(0), stringArrayLit(e(1), "unigram vocabulary"))),
    NativeFn(jaroWinklerName,
      "_FUNC_(a, b) - Jaro-Winkler similarity in [0,1], 0.7 boost threshold",
      e => JaroWinklerSim(e(0), e(1))),
    NativeFn(boundedKeyName,
      "_FUNC_() - non-foldable constant partition key for bounded window frames",
      _ => BoundedKey()),
    NativeFn(chrfStatsName,
      "_FUNC_(cand, ref, maxN) - per-order chrF gram counts array<struct(m, tc, tr)>",
      e => ChrfGramStats(e(0), e(1), intLit(e(2), "maxN"))),
    NativeFn(bleuStatsName,
      "_FUNC_(cand, ref) - per-order BLEU-4 clipped-match counts array<struct(m, t)>",
      e => BleuGramStats(e(0), e(1))),
    NativeFn(winnowName,
      "_FUNC_(text, k, w) - winnowing fingerprints of a document",
      e => WinnowFingerprints(e(0), intLit(e(1), "k"), intLit(e(2), "w"))))

  /** Idempotent per-session registration of [[nativeFns]] (Spark 4's
    * Column API has no public Expression wrapper, so the expressions are
    * exposed through the function registry + `call_function`). Every entry
    * point (Tables, Sql, JobRunner) calls it defensively. The skip is PER
    * NAME, not all-or-nothing, so a long-lived session built before a
    * function was added still picks up the new binding (and no
    * SimpleFunctionRegistry "replaced" WARN fires for the ones already
    * bound).
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    nativeFns.foreach { f =>
      val id = FunctionIdentifier(f.name)
      if (!reg.functionExists(id)) reg.registerFunction(id, f.info, f.builder)
    }
  }

  /** Non-foldable constant partition key for DOCUMENTED-BOUNDED window
    * frames (see [[BoundedKey]]): silences the WindowExec
    * "No Partition Defined" warning only where the frame is bounded by
    * construction, so a genuine unpartitioned-window scale smell still
    * stands out. Registers on the frame's own session so any caller-built
    * session works.
    */
  def boundedKey(df: org.apache.spark.sql.DataFrame): Column = {
    register(df.sparkSession)
    call_function(boundedKeyName)
  }

  /** Codegen'd dot product over two array<double> columns. Caller must have
    * run [[register]] on the session (all graft entry points do).
    */
  def dot(a: Column, b: Column): Column = call_function(fnName, a, b)

  /** Codegen'd position-wise equality count over two array<bigint> columns. */
  def arrayEqCount(a: Column, b: Column): Column = call_function(eqCountName, a, b)

  /** Codegen'd |A ∩ B| over two SORTED duplicate-free array<bigint> columns. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    call_function(sortedIntersectName, a, b)

  /** array<string> tokens → array<bigint> n-gram hashes (no shingle strings
    * are ever materialized).
    */
  def shingleHashes(tokens: Column, n: Int): Column =
    call_function(shingleName, tokens, org.apache.spark.sql.functions.lit(n))

  /** array<bigint> shingle hashes → MinHash signature of length k. */
  def minhashSignature(hashes: Column, k: Int): Column =
    call_function(minhashName, hashes, org.apache.spark.sql.functions.lit(k))

  /** array<bigint> token hashes → 64-bit SimHash. */
  def simhash64(hashes: Column): Column = call_function(simhashName, hashes)

  /** string → struct of one-pass text statistics (see [[TextStats]]). */
  def textStats(text: Column): Column = call_function(textStatsName, text)

  /** Codegen'd Unicode NFC normalization (canonical composition). */
  def nfcNormalize(text: Column): Column = call_function(nfcName, text)

  /** argmax centroid id for a vector against a literal centroid matrix
    * (see [[NearestCentroidId]]). `centroidMatrix` must be a
    * `typedLit(Seq[Seq[Double]])`-style foldable literal.
    */
  def nearestCentroidId(vec: Column, centroidMatrix: Column): Column =
    call_function(nearestCentroidName, vec, centroidMatrix)

  /** The nProbe best centroid ids for a vector, best first (see
    * [[TopCentroidIds]]).
    */
  def topCentroidIds(vec: Column, centroidMatrix: Column, nProbe: Int): Column =
    call_function(topCentroidsName, vec, centroidMatrix,
      org.apache.spark.sql.functions.lit(nProbe))

  /** binary → struct<format,width,height,channels,bit_depth> parsed from
    * real PNG/JPEG container headers; NULL for unparseable payloads (see
    * [[ImageMeta]]).
    */
  def imageMeta(bytes: Column): Column = call_function(imageMetaName, bytes)

  /** binary → struct<width,height,channels,mean_r,mean_g,mean_b> from a
    * GENUINELY DECODED PNG — zlib inflate + scanline defilter + channel
    * statistics; NULL outside the documented scope (see [[PngPixelStats]]).
    */
  def pngPixelStats(bytes: Column): Column =
    call_function(pngPixelStatsName, bytes)

  /** Fixture-side real PNG encoder (see [[PngGradientBytes]]). */
  def pngGradientBytes(w: Column, h: Column, r0: Column, g0: Column,
                       b0: Column): Column =
    call_function(pngGradientName, w, h, r0, g0, b0)

  /** Genuine PNG decode + nearest-neighbor resample to (outW, outH) —
    * struct<width,height,channels,pixels> (see [[PngResizePixels]]).
    */
  def pngResize(bytes: Column, outW: Column, outH: Column): Column =
    call_function(pngResizeName, bytes, outW, outH)

  /** Exact per-channel integer sums over a packed interleaved 8-bit
    * pixel buffer (see [[RgbChannelStats]]).
    */
  def rgbChannelStats(pixels: Column, channels: Column): Column =
    call_function(rgbStatsName, pixels, channels)

  /** Genuine JPEG pixel decode via the JDK codec (see [[JpegPixelStats]]). */
  def jpegPixelStats(bytes: Column): Column =
    call_function(jpegPixelStatsName, bytes)

  /** Fixture-side real JPEG gradient encoder (see [[JpegGradientBytes]]). */
  def jpegGradientBytes(w: Column, h: Column, r0: Column, g0: Column,
                        b0: Column): Column =
    call_function(jpegGradientName, w, h, r0, g0, b0)

  /** Genuine PCM sample decode over WAV bytes (see [[AudioPcmStats]]). */
  def audioPcmStats(bytes: Column): Column =
    call_function(audioPcmName, bytes)

  /** Fixture-side real tone-filled WAV encoder (see [[WavToneBytes]]). */
  def wavToneBytes(channels: Column, rate: Column, bits: Column,
                   frames: Column): Column =
    call_function(wavToneName, channels, rate, bits, frames)

  /** binary → struct<format,channels,sample_rate,bits_per_sample,n_frames>
    * parsed from a real WAV/RIFF container; NULL on unparseable payloads
    * (see [[AudioMeta]]).
    */
  def audioMeta(bytes: Column): Column = call_function(audioMetaName, bytes)

  /** binary → struct<width,height,n_frames,frames> from a strict GIF
    * block walk; NULL on any grammar violation (see [[GifMeta]]).
    */
  def gifMeta(bytes: Column): Column = call_function(gifMetaName, bytes)

  /** Fixture-side real multi-frame GIF89a encoder (see [[GifAnimBytes]]). */
  def gifAnimBytes(w: Column, h: Column, nFrames: Column,
                   seed: Column): Column =
    call_function(gifAnimName, w, h, nFrames, seed)

  /** binary → struct<width,height,n_frames,n_plays,frames> from a strict
    * CRC-verified APNG chunk walk; NULL on any violation (see
    * [[ApngMeta]]).
    */
  def apngMeta(bytes: Column): Column = call_function(apngMetaName, bytes)

  /** Fixture-side APNG encoder with real CRC-chunk structure (see
    * [[ApngAnimBytes]]).
    */
  def apngAnimBytes(w: Column, h: Column, nFrames: Column,
                    seed: Column): Column =
    call_function(apngAnimName, w, h, nFrames, seed)

  /** binary → struct<major_brand,timescale,duration,n_tracks,tracks>
    * from a strict ISO-BMFF box walk; NULL on any violation (see
    * [[Mp4Meta]]).
    */
  def mp4Meta(bytes: Column): Column = call_function(mp4MetaName, bytes)

  /** Fixture-side real single-track MP4 encoder (see [[Mp4Bytes]]). */
  def mp4Bytes(w: Column, h: Column, nSamples: Column,
               seed: Column): Column =
    call_function(mp4BytesName, w, h, nSamples, seed)

  /** binary → bigint 64-bit image difference hash over genuinely decoded
    * pixels (see [[DHash64]]); NULL when no real decoder claims the
    * payload.
    */
  def imageDHash64(bytes: Column): Column = call_function(dhashName, bytes)

  /** binary → bigint 64-bit image average hash over genuinely decoded
    * pixels (see [[AHash64]]); NULL when no real decoder claims the
    * payload.
    */
  def imageAHash64(bytes: Column): Column = call_function(ahashName, bytes)

  /** (array<string>, array<string>) → int longest-common-subsequence
    * length (see [[LcsLen]]); NULL when either array is NULL.
    */
  def lcsLen(a: Column, b: Column): Column = call_function(lcsLenName, a, b)

  /** Per-order chrF gram counts (m, tc, tr) for orders 1..maxN — one
    * codegen kernel call per row, zero shuffles ([[ChrfGramStats]]).
    */
  def chrfGramStats(cand: Column, ref: Column, maxN: Int): Column =
    call_function(chrfStatsName, cand, ref,
      org.apache.spark.sql.functions.lit(maxN))

  /** Per-order BLEU-4 clipped-match counts (m, t) for orders 1..4 — one
    * codegen kernel call per row, zero shuffles ([[BleuGramStats]]).
    */
  def bleuGramStats(cand: Column, ref: Column): Column =
    call_function(bleuStatsName, cand, ref)

  /** Winnowing fingerprint selection for a whole document — one codegen
    * kernel call per row, zero shuffles ([[WinnowFingerprints]]).
    */
  def winnowFingerprints(text: Column, k: Int, w: Int): Column =
    call_function(winnowName, text,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(w))

  /** binary → array<struct<warc_type,record_id,target_uri,warc_date,
    * content_length,payload>> from a strict WARC 1.x record walk; NULL
    * on any violation (see [[WarcParse]]).
    */
  def warcParse(bytes: Column): Column = call_function(warcParseName, bytes)

  /** (uri, date, payload) → one byte-exact WET conversion record (see
    * [[WarcRecordBytes]]).
    */
  def warcRecordBytes(uri: Column, date: Column, payload: Column): Column =
    call_function(warcRecordName, uri, date, payload)

  /** binary → bigint 64-bit audio energy-difference fingerprint over
    * genuinely decoded PCM samples (see [[AudioFingerprint64]]); NULL
    * outside the decode scope.
    */
  def audioFingerprint64(bytes: Column): Column =
    call_function(audioFpName, bytes)

  /** Codegen'd dot(array<tinyint> codes, array<double>) — the quantized
    * probe scoring loop (see [[Int8DotProduct]]).
    */
  def int8Dot(codes: Column, vec: Column): Column =
    call_function(int8DotName, codes, vec)

  /** array<double> → m-byte PQ code against plan-reference codebooks
    * (see [[PqEncode]]). `codebooks` must be a foldable
    * `typedLit(Seq[Seq[Seq[Double]]])`-style literal.
    */
  def pqEncode(vec: Column, codebooks: Column): Column =
    call_function(pqEncodeName, vec, codebooks)

  /** unit query vector → flattened ADC lookup table (see [[PqLut]]). */
  def pqLut(query: Column, codebooks: Column): Column =
    call_function(pqLutName, query, codebooks)

  /** (code, lut) → Σ_s lut[s·K + code[s]] — the codegen'd ADC scoring
    * loop (see [[PqAdcScore]]).
    */
  def pqAdcScore(code: Column, lut: Column, kPerSub: Int): Column =
    call_function(pqAdcName, code, lut,
      org.apache.spark.sql.functions.lit(kPerSub))

  /** Codegen'd affine projection y = M·x − b of an array<double> vector
    * against plan-reference matrix/offset literals (see [[MatVecAffine]]).
    * Both non-vector args must be foldable (`typedLit`) literals.
    */
  def matVecAffine(vec: Column, matrix: Column, offset: Column): Column =
    call_function(matVecName, vec, matrix, offset)

  /** One BPE training-round rewrite: fuse adjacent (l, r) occurrences in
    * a symbol array (see [[BpeMergePair]]; vocab-plane, eval-mode).
    */
  def bpeMergePair(syms: Column, l: Column, r: Column): Column =
    call_function(bpeMergeName, syms, l, r)

  /** Jaro-Winkler similarity in [0,1] (codegen kernel, 0.7 boost
    * threshold — the DuckDB-compatible flavor; q188 cross-validates).
    */
  def jaroWinkler(a: Column, b: Column): Column =
    call_function(jaroWinklerName, a, b)

  /** Greedy BPE encode of a word array against a learned merge list
    * (each entry "left right"); ranks ride as one reference object (see
    * [[BpeEncode]]).
    */
  def bpeEncode(words: Column, merges: Array[String]): Column =
    call_function(bpeEncodeName, words,
      org.apache.spark.sql.functions.typedLit(merges.toSeq))

  /** Viterbi unigram-LM encode of a word array against a trained
    * vocabulary (each entry "piece scaledScore"); scores ride as one
    * reference object (see [[UnigramEncode]]).
    */
  def unigramEncode(words: Column, vocab: Array[String]): Column =
    call_function(unigramEncodeName, words,
      org.apache.spark.sql.functions.typedLit(vocab.toSeq))

  /** Codegen'd Bloom membership probe of a bigint hash column against
    * serialized filter bits (see [[BloomMightContain]]). `bits` is
    * extracted into ONE plan reference object at resolution time.
    */
  def bloomMightContain(hash: Column, bits: Array[Byte]): Column =
    call_function(bloomName, hash, org.apache.spark.sql.functions.lit(bits))
}
