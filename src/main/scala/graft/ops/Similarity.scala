package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search over an `array<float>` column.
  *
  * Baseline: brute-force cosine top-k — a single scan with a per-row dot
  * product, then TakeOrderedAndProject (per-partition top-k + driver merge;
  * no global sort).
  *
  * Scale path: random-hyperplane LSH (sign of projections, fixed seed):
  * bucket join on the bit signature replaces the cross product; multiple
  * tables (OR-amplification) recover recall. An IVF variant is the same
  * plan shape with learned centroids instead of random planes.
  *
  * Plan-shape rules that hold from 2k vectors to 100 TB:
  *   - candidate pairs travel as SKINNY (id, id) rows — vector payloads are
  *     joined back only after pair dedup (AQE broadcasts the vector table
  *     when it is small; shuffle-joins it when it is not);
  *   - vectors are L2-normalized once, so every pairwise cosine is a single
  *     dot product instead of dot + two norms.
  */
object Similarity {

  /** Element ops run in DOUBLE: accumulation order is left-to-right in both
    * Spark and the DuckDB oracle, so results are bit-reproducible.
    */
  def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Codegen'd native dot product (graft.functions.DotProduct) — identical
    * left-to-right accumulation to the HOF spelling
    * `aggregate(zip_with(a,b,_*_),0d,_+_)`, but a tight unboxed loop.
    * Sessions entering through Tables/JobRunner/tests are pre-registered.
    */
  def dot(a: Column, b: Column): Column = graft.functions.ArrayMath.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val ad = asDouble(a); val bd = asDouble(b)
    dot(ad, bd) / (norm(ad) * norm(bd))
  }

  /** id + L2-normalized double vector (`__vn`), computed once per row. */
  private def unitVectors(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), asDouble(col(vecCol)).as("__vd"))
      .withColumn("__norm", norm(col("__vd")))
      .select(col(idCol), transform(col("__vd"), x => x / col("__norm")).as("__vn"))

  /** Brute-force cosine top-k of `corpus` vs one query vector (given as a
    * 1-row DataFrame `(query_vec)` — broadcast, so the corpus never moves).
    */
  def bruteTopK(corpus: DataFrame, idCol: String, vecCol: String,
                query: DataFrame, k: Int): DataFrame =
    corpus.crossJoin(broadcast(query))
      .select(col(idCol), cosine(col(vecCol), col("query_vec")).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)

  /** Embedding dimensionality read from the first row — one tiny job, never
    * a full scan. Callers pass an explicit dim to skip it.
    */
  private[ops] def inferDim(df: DataFrame, vecCol: String): Int = {
    val rows = df.select(size(col(vecCol))).limit(1).collect()
    // empty corpus → every downstream plan is empty; any positive dim works
    if (rows.isEmpty || rows(0).isNullAt(0) || rows(0).getInt(0) < 1) 1
    else rows(0).getInt(0)
  }

  /** EXACT cosine near-duplicate pairs: every (id_a < id_b) with
    * cosine >= minCosine. The all-pairs join is inherently O(n²) — this is
    * the oracle-grade flavor (and the correctness reference the LSH variant
    * is measured against); at corpus scale use [[cosineNearDupPairs]],
    * whose precision (exactly 1.0) and recall (θ-dependent) are measured
    * against this op's results in OpsSpec.
    *
    * Arithmetic spelling: cosine = dot(a,b) / (norm(a) * norm(b)) with
    * left-to-right double accumulation — empirically matched to DuckDB
    * v1.x's list_cosine_similarity at fixture scale (q28/q31 hash-matching
    * oracles). Not a proof: DuckDB's internal evaluation order (e.g. sqrt
    * of the norm product vs product of sqrts) is not controlled here, so a
    * pair within ~1 ulp of the threshold or a .5 rounding boundary could
    * diverge under a DuckDB float-evaluation change. Norms are computed
    * once per row, not once per pair.
    */
  def cosineNearDupPairsExact(df: DataFrame, idCol: String, vecCol: String,
                              minCosine: Double): DataFrame = {
    val vd = df.select(col(idCol), asDouble(col(vecCol)).as("__vd"))
      .withColumn("__n", norm(col("__vd")))
    val a = vd.select(col(idCol).as("id_a"), col("__vd").as("__va"), col("__n").as("__na"))
    val b = vd.select(col(idCol).as("id_b"), col("__vd").as("__vb"), col("__n").as("__nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** EXACT hard-negative mining for contrastive training (the
    * oracle-grade flavor): for every anchor vector, the `k` most
    * cosine-similar vectors with a DIFFERENT label — the "confusable but
    * wrong" examples an embedding model learns the most from. Null-label
    * rows are excluded from both sides (no defined negativity). All-pairs
    * O(n²) like [[cosineNearDupPairsExact]] and the correctness
    * reference [[hardNegatives]]'s recall is measured against; same
    * DuckDB-matched arithmetic spelling (q28/q31/q105 precedent).
    *
    * @return (anchor_id, rank 1..k, neg_id, cosine) — rank by cosine
    *         desc, neg id ascending on ties.
    */
  def hardNegativesExact(df: DataFrame, idCol: String, vecCol: String,
                         labelCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val vd = df.filter(col(labelCol).isNotNull)
      .select(col(idCol), col(labelCol), asDouble(col(vecCol)).as("__vd"))
      .withColumn("__n", norm(col("__vd")))
    val a = vd.select(col(idCol).as("anchor_id"), col(labelCol).as("__la"),
      col("__vd").as("__va"), col("__n").as("__na"))
    val b = vd.select(col(idCol).as("neg_id"), col(labelCol).as("__lb"),
      col("__vd").as("__vb"), col("__n").as("__nb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_id")).orderBy(col("__cos").desc, col("neg_id"))
    a.join(b, col("anchor_id") =!= col("neg_id") && col("__la") =!= col("__lb"))
      .withColumn("__cos", dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("rank"), col("neg_id"),
        round(col("__cos"), 6).as("cosine"))
  }

  /** LSH-accelerated hard-negative mining — the corpus-scale path: bucket
    * collisions propose candidates (skinny id pairs, never all-pairs),
    * different-label pairs re-score exactly, a window keeps the top k per
    * anchor. Candidates missed by bucketing are missed negatives (recall
    * measured against [[hardNegativesExact]] in IvfSpec); pair with
    * [[lshPolicy]] for parameters. Note negatives CLOSER than any
    * same-label collision are exactly the pairs LSH finds best — hard
    * negatives live at high cosine, the regime bucket collision
    * probability is designed around.
    */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, k: Int, nBits: Int = 10,
                    nTables: Int = 4, seed: Long = 42L, dim: Int = 0,
                    multiProbe: Boolean = false): DataFrame = {
    require(k >= 1, "k must be positive")
    val labeled = df.filter(col(labelCol).isNotNull)
    val d = if (dim > 0) dim else inferDim(labeled, vecCol)
    val unit = unitVectors(labeled, idCol, vecCol)
    val labels = labeled.select(col(idCol), col(labelCol))
    val bk0 = buckets(unit, idCol, d, nBits, nTables, seed)
    val probes = if (multiProbe) withOneBitProbes(bk0, nBits) else bk0
    val anchors = probes.select(col("__table"), col("__bucket"),
      col(idCol).as("anchor_id"))
    val cands = bk0.select(col("__table"), col("__bucket"),
      col(idCol).as("neg_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_id")).orderBy(col("__cos").desc, col("neg_id"))
    anchors.join(cands, Seq("__table", "__bucket"))
      .filter(col("anchor_id") =!= col("neg_id"))
      .select(col("anchor_id"), col("neg_id"))
      .dropDuplicates("anchor_id", "neg_id")
      .join(labels.select(col(idCol).as("anchor_id"), col(labelCol).as("__la")),
        "anchor_id")
      .join(labels.select(col(idCol).as("neg_id"), col(labelCol).as("__lb")),
        "neg_id")
      .filter(col("__la") =!= col("__lb"))
      .join(unit.select(col(idCol).as("anchor_id"), col("__vn").as("__va")),
        "anchor_id")
      .join(unit.select(col(idCol).as("neg_id"), col("__vn").as("__vb")),
        "neg_id")
      .withColumn("__cos", dot(col("__va"), col("__vb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("rank"), col("neg_id"),
        round(col("__cos"), 6).as("cosine"))
  }

  /** Corpus-size-derived LSH parameters (nBits, nTables) — replaces
    * fixture-tuned constants so a 100× scale-up keeps BOTH the recall
    * target and bounded bucket sizes.
    *
    * Derivation:
    *   - nBits = ⌈log2(N / targetBucket)⌉ keeps the expected bucket
    *     occupancy ≈ targetBucket, so per-bucket candidate verification
    *     stays O(targetBucket²) per bucket no matter how large N grows;
    *   - a random hyperplane separates two vectors at angle θ with
    *     probability θ/π (Charikar '02), so both land in the same bucket
    *     of one table with p(θ)^nBits, p(θ) = 1 − θ/π, θ = acos(designCosine);
    *   - OR-amplification over t tables finds a qualifying pair with
    *     1 − (1 − p^nBits)^t ≥ targetRecall  ⟺
    *     t ≥ ln(1 − targetRecall) / ln(1 − p^nBits).
    *
    * Per-query candidate coverage is ≤ nTables·targetBucket/N — it SHRINKS
    * as the corpus grows. At fixture scale (N ≈ 500) the coverage fraction
    * approaches 1 and LSH degenerates to near-brute-force; that is the
    * regime where brute force is the right plan anyway, so fixture timings
    * of the LSH queries must not be read as representative LSH speedup.
    *
    * `multiProbe = true` models 1-bit-flip probing (Lv et al., VLDB '07):
    * one table also finds a pair if EXACTLY ONE of its nBits planes
    * disagrees, so the per-table hit probability rises from p^b to
    * p^b + b·p^(b-1)·(1-p) and far fewer tables reach the same recall —
    * the standard production fix when the plain-OR table count hits the
    * cap (each probed table costs b+1 bucket lookups instead of 1, but
    * signature computation and index size shrink by the table ratio).
    */
  def lshPolicy(corpusSize: Long, designCosine: Double,
                targetRecall: Double = 0.95, targetBucket: Long = 64L,
                maxTables: Int = 64, multiProbe: Boolean = false): (Int, Int) = {
    require(designCosine > -1.0 && designCosine < 1.0, "designCosine must be in (-1, 1)")
    require(targetRecall > 0.0 && targetRecall < 1.0, "targetRecall must be in (0, 1)")
    val n = math.max(1L, corpusSize).toDouble
    val nBits = math.max(1, math.ceil(math.log(n / targetBucket) / math.log(2.0)).toInt)
    val p = 1.0 - math.acos(designCosine) / math.Pi
    val pExact = math.pow(p, nBits)
    val pTable =
      if (multiProbe) pExact + nBits * math.pow(p, nBits - 1) * (1.0 - p)
      else pExact
    val nTables =
      if (pTable >= 1.0) 1
      else math.min(maxTables, math.max(1,
        math.ceil(math.log(1.0 - targetRecall) / math.log(1.0 - pTable)).toInt))
    (nBits, nTables)
  }

  /** Deterministic random hyperplanes (Gaussian, fixed seed). */
  def hyperplanes(dim: Int, nBits: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Pack the sign bits of `nBits` projections into one long bucket id. */
  def lshSignature(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(vec, typedLit(p.toSeq)) > 0.0, expr(s"shiftleft(1L, $i)"))
        .otherwise(0L)
    }.reduce(_.bitwiseOR(_))

  /** All `nTables` (table, bucket) signatures from ONE scan: an explode over
    * per-table signatures, so the input is read once regardless of table
    * count. Emits only (id, __table, __bucket) — deliberately skinny.
    */
  private def buckets(unit: DataFrame, idCol: String, dim: Int, nBits: Int,
                      nTables: Int, seed: Long): DataFrame =
    unit.select(col(idCol),
      explode(array((0 until nTables).map { t =>
        struct(lit(t).as("__table"),
          lshSignature(col("__vn"), hyperplanes(dim, nBits, seed + t)).as("__bucket"))
      }: _*)).as("__tb"))
      .select(col(idCol), col("__tb.__table").as("__table"), col("__tb.__bucket").as("__bucket"))

  /** Multi-probe expansion (Lv et al., VLDB '07, specialized to 1-bit
    * flips): each (table, bucket) row additionally probes the nBits
    * neighboring buckets that differ in exactly one hyperplane sign.
    * Applied to ONE side of a bucket join only — a pair whose signatures
    * differ in exactly bit j still collides because the probing side
    * visits the other side's bucket. Output stays skinny; duplicates from
    * overlapping probes are removed by the callers' pair dedup.
    */
  private def withOneBitProbes(banded: DataFrame, nBits: Int): DataFrame =
    banded.select(col(banded.columns.head), col("__table"),
      explode(array(col("__bucket") +:
        (0 until nBits).map(j => col("__bucket").bitwiseXOR(lit(1L << j))): _*))
        .as("__bucket"))

  /** LSH-bucketed ANN: top-k per query, searching only hash-colliding
    * buckets across `nTables` independent tables. Shuffles on (table,
    * bucket) — never the cross product. `multiProbe` additionally probes
    * the nBits 1-bit-flip neighbor buckets from the QUERY side (queries
    * are few; the corpus index stays one entry per table) — pair
    * [[lshPolicy]]'s multiProbe mode for the matching table count.
    */
  def annTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, queryIdCol: String, queryVecCol: String,
              k: Int, nBits: Int = 12, nTables: Int = 4, seed: Long = 42L,
              dim: Int = 0, multiProbe: Boolean = false): DataFrame = {
    // dim <= 0 → infer from the corpus (one first-row job)
    val d = if (dim > 0) dim else inferDim(corpus, vecCol)
    val corpusUnit = unitVectors(corpus, idCol, vecCol)
    val queryUnit = unitVectors(queries, queryIdCol, queryVecCol)
    val qBuckets0 = buckets(queryUnit, queryIdCol, d, nBits, nTables, seed)
    val qBuckets = if (multiProbe) withOneBitProbes(qBuckets0, nBits) else qBuckets0
    val candidates = buckets(corpusUnit, idCol, d, nBits, nTables, seed)
      .join(broadcast(qBuckets),
        Seq("__table", "__bucket"))
      .filter(col(idCol) =!= col(queryIdCol))
      .select(col(queryIdCol), col(idCol))
      .dropDuplicates(queryIdCol, idCol) // same pair can collide in several tables
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryIdCol)).orderBy(col("cosine").desc, col(idCol))
    candidates
      .join(corpusUnit.withColumnRenamed("__vn", "__vn_c"), idCol)
      .join(broadcast(queryUnit.withColumnRenamed("__vn", "__vn_q")), queryIdCol)
      .withColumn("cosine", dot(col("__vn_c"), col("__vn_q")))
      .select(col(queryIdCol), col(idCol), col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Embedding-cosine near-duplicate pairs (the embedding flavor of dedup):
    * candidates from LSH bucket collisions, verified with exact cosine.
    * `multiProbe` probes 1-bit-flip neighbor buckets from one join side
    * (symmetric pairs need the expansion only once) — pair with
    * [[lshPolicy]]'s multiProbe mode.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         minCosine: Double = 0.95, nBits: Int = 10,
                         nTables: Int = 4, seed: Long = 42L,
                         dim: Int = 0, multiProbe: Boolean = false): DataFrame = {
    val d = if (dim > 0) dim else inferDim(df, vecCol)
    val unit = unitVectors(df, idCol, vecCol)
    val banded = buckets(unit, idCol, d, nBits, nTables, seed)
    val bandedA = banded.select(col(idCol).as("id_a"), col("__table"), col("__bucket"))
    val probeA = if (multiProbe) withOneBitProbes(bandedA, nBits) else bandedA
    val candidates = probeA
      .join(banded.select(col("__table"), col("__bucket"), col(idCol).as("id_b")),
        Seq("__table", "__bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    candidates
      .join(unit.select(col(idCol).as("id_a"), col("__vn").as("__vn_a")), "id_a")
      .join(unit.select(col(idCol).as("id_b"), col("__vn").as("__vn_b")), "id_b")
      .withColumn("cosine", dot(col("__vn_a"), col("__vn_b")))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al., 2023,
    * arXiv:2303.09540): partition the embedding space with spherical
    * k-means ([[Ivf.buildIndex]]), then compare exactly — pairwise unit-dot
    * — WITHIN each cluster only. The candidate count drops from C(N,2) to
    * Σ C(|cluster|,2) ≈ N²/k; with [[Ivf.ivfPolicy]]'s √N sizing that is
    * ~N^1.5 — the standard way semantic dedup reaches billion-vector scale.
    *
    * The honest trade (inherent to SemDeDup, not this implementation):
    * near-duplicate pairs that k-means splits across clusters are MISSED —
    * recall < 1 against [[cosineNearDupPairsExact]], certified with a
    * measured floor in `IvfSpec`. Every pair REPORTED is exact (the
    * within-cluster cosine is not approximated), so precision is 1 by
    * construction.
    *
    * Scale shape: one k-means build (driver sees k×dim only), one
    * cluster-keyed self-join of (id, unit-vector) rows, codegen'd dot per
    * within-cluster pair. No all-pairs stage anywhere.
    */
  def semanticNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                           nClusters: Int = 0, minCosine: Double = 0.95,
                           iters: Int = 3, seed: Long = 42L): DataFrame = {
    // nClusters <= 0 → derive from corpus size via the √N rule
    // ([[Ivf.ivfPolicy]]): k ≈ √N keeps expected within-cluster candidate
    // work at N²/k ≈ N^1.5 as the corpus grows — the same policy the ANN
    // queries use, so semantic dedup needs no hand tuning either.
    val k = if (nClusters > 0) nClusters
      else Ivf.ivfPolicy(df.count())._1
    val idx = Ivf.buildIndex(df, idCol, vecCol, k, iters, seed)
    val lists = idx.assigned.select(col("__cid"), col(idCol), col("__vn"))
    lists.select(col("__cid"), col(idCol).as("id_a"), col("__vn").as("__vn_a"))
      .join(lists.select(col("__cid"), col(idCol).as("id_b"), col("__vn").as("__vn_b")),
        "__cid")
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", dot(col("__vn_a"), col("__vn_b")))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  /** Greedy SemDeDup survivor set: drop the larger id of every semantic
    * near-dup pair (one anti-join; every drop is justified by an exact
    * pair). The embedding-space analogue of [[Dedup.dropNearDuplicates]].
    */
  def dropSemanticDuplicates(df: DataFrame, idCol: String, vecCol: String,
                             nClusters: Int = 0, minCosine: Double = 0.95,
                             iters: Int = 3, seed: Long = 42L): DataFrame = {
    val drops = semanticNearDupPairs(df, idCol, vecCol, nClusters, minCosine,
      iters, seed)
      .select(col("id_b").as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** SemDeDup drop set with the PAPER's keep-rule (Abbas et al. 2023
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", §2): cluster the embeddings (spherical k-means via
    * [[Ivf.buildIndex]]), find within-cluster pairs with cosine ≥
    * `minCosine`, and in each pair drop the item with the HIGHER cosine
    * to its cluster centroid — keeping the low-centroid-similarity
    * exemplar retains the cluster's diverse outskirts, which the paper
    * measures as the better-training-data choice versus
    * [[dropSemanticDuplicates]]' id-based rule. Ties (exact clones)
    * drop the larger id.
    *
    * Scale shape — the SemDeDup argument itself: candidate work is
    * Σ_c |c|² over clusters instead of N², with k from the √N policy
    * when unset; pairs shuffle on cluster id only, centroid cosines are
    * one native dot against the plan-carried k×dim matrix. Exact clones
    * always co-cluster (assignment is a pure function of the vector),
    * so identical-duplicate recall is 1.0 by construction.
    *
    * → one row per dropping pair: (id_drop, id_keep, cosine rounded 6,
    *   cc_drop, cc_keep — the centroid cosines that decided). An item
    *   can appear as id_drop under several keepers; anti-join on the
    *   distinct id_drop set ([[semDeDup]]).
    */
  def semDeDupDrops(df: DataFrame, idCol: String, vecCol: String,
                    nClusters: Int = 0, minCosine: Double = 0.95,
                    iters: Int = 3, seed: Long = 42L): DataFrame = {
    val k = if (nClusters > 0) nClusters else Ivf.ivfPolicy(df.count())._1
    val idx = Ivf.buildIndex(df, idCol, vecCol, k, iters, seed)
    val cm = typedLit(idx.centroids.sortBy(_._1).map(_._2.toSeq).toSeq)
    val lists = idx.assigned
      .select(col("__cid"), col(idCol), col("__vn"),
        dot(col("__vn"), element_at(cm, col("__cid") + 1)).as("__cc"))
    val pairs = lists
      .select(col("__cid"), col(idCol).as("__ia"), col("__vn").as("__va"),
        col("__cc").as("__ca"))
      .join(lists.select(col("__cid"), col(idCol).as("__ib"),
        col("__vn").as("__vb"), col("__cc").as("__cb")), "__cid")
      .filter(col("__ia") < col("__ib"))
      .withColumn("__cos", dot(col("__va"), col("__vb")))
      .filter(col("__cos") >= minCosine)
    val dropA = col("__ca") > col("__cb") ||
      (col("__ca") === col("__cb") && col("__ia") > col("__ib"))
    pairs.select(
      when(dropA, col("__ia")).otherwise(col("__ib")).as("id_drop"),
      when(dropA, col("__ib")).otherwise(col("__ia")).as("id_keep"),
      round(col("__cos"), 6).as("cosine"),
      when(dropA, col("__ca")).otherwise(col("__cb")).as("cc_drop"),
      when(dropA, col("__cb")).otherwise(col("__ca")).as("cc_keep"))
  }

  /** Survivors under [[semDeDupDrops]]: one anti-join on the distinct
    * drop set — the SemDeDup-curated corpus.
    */
  def semDeDup(df: DataFrame, idCol: String, vecCol: String,
               nClusters: Int = 0, minCosine: Double = 0.95,
               iters: Int = 3, seed: Long = 42L): DataFrame = {
    val drops = semDeDupDrops(df, idCol, vecCol, nClusters, minCosine,
      iters, seed)
      .select(col("id_drop").as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** Embedding-space decontamination — the paraphrase-robust counterpart
    * of n-gram decontamination ([[Curation.contaminatedDocs]], q66): a
    * corpus row is CONTAMINATED when its max cosine against the
    * eval/benchmark set clears `minCosine`. Near-duplicate embeddings
    * survive paraphrase, reformatting, and light translation edits that
    * defeat token-overlap checks — this is the second gate a serious
    * pretraining pipeline runs over held-out benchmarks.
    *
    * Output: one row per corpus row — (idCol, max_eval_cosine rounded to
    * 6, contaminated) with the verdict computed on the ROUNDED value, so
    * an engine that replays the rounded cosine replays the boundary too.
    * Rounding is safe for the max: round is monotone, so
    * round(max cos) == max(round cos). Degenerate corpus rows (NULL or
    * zero-norm vectors) are reported, not dropped: cosine NULL,
    * contaminated false — route them to a quality gate, not this one.
    *
    * Scale shape: the eval set ships to every task ONCE as a plan
    * reference matrix (the IVF centroid-matrix mechanism — plan size O(1)
    * in |eval|); the nearest eval item per corpus row is one native
    * argmax loop and the reported cosine is ONE broadcast join on that
    * argmax id. The corpus never shuffles; cost is |corpus|·|eval|·dim
    * multiplies. Bound: |eval|·dim doubles per task (~80 MB at 1e5×100)
    * — benchmark suites are thousands of rows, far under it; beyond the
    * bound, run [[cosineNearDupPairs]] cross-set (LSH buckets) instead.
    */
  /** Hard cap on |eval| x dim doubles collected to the driver (~80 MB):
    * the documented contract of [[semanticContamination]], enforced so an
    * oversized eval set fails loudly instead of OOMing the driver.
    */
  val MaxEvalMatrixDoubles: Long = 10L * 1000 * 1000

  def semanticContamination(corpus: DataFrame, idCol: String, vecCol: String,
                            eval: DataFrame, evalVecCol: String,
                            minCosine: Double,
                            maxEvalDoubles: Long = MaxEvalMatrixDoubles): DataFrame = {
    // enforce the plan-reference-matrix bound BEFORE collecting: one cheap
    // count + one-row dim probe on the (small-by-contract) eval frame
    val evalN = eval.count()
    require(evalN > 0, "eval set must not be empty")
    val dim = inferDim(eval, evalVecCol)
    require(evalN * dim <= maxEvalDoubles,
      s"eval set too large for the broadcast-matrix path ($evalN rows x $dim dims " +
        s"> $maxEvalDoubles doubles); run cosineNearDupPairs cross-set " +
        "(LSH-bucketed) decontamination instead")
    val evalVecs = eval.select(asDouble(col(evalVecCol))).collect()
      .map(_.getSeq[Double](0).toArray) // |eval| rows — driver-bounded above
    // unit rows for the argmax (dot == cosine on the unit sphere; ties →
    // smaller index, deterministic); the REPORTED cosine is recomputed in
    // the q28/q31 oracle-matched dot/(na*nb) spelling
    val evalUnit = evalVecs.map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    val evalDf = evalVecs.zipWithIndex.toSeq
      .map { case (v, i) => (i, v.toSeq) }.toDF("__eid", "__ev")
    val matrix = typedLit(evalUnit.map(_.toSeq).toSeq)
    // one row per corpus row, degenerate vectors included: NULL and
    // zero-norm vectors get a NULL __eid (the `when` guard also keeps the
    // ANSI-mode divide-by-zero error out of the normalize), the LEFT join
    // keeps the row, cosine stays NULL, and `contaminated` is coalesced
    // to an explicit false rather than the row vanishing from the report
    corpus.select(col(idCol), asDouble(col(vecCol)).as("__vd"))
      .withColumn("__norm", norm(col("__vd")))
      .withColumn("__eid", when(col("__norm") > 0,
        graft.functions.ArrayMath.nearestCentroidId(
          transform(col("__vd"), x => x / col("__norm")), matrix)))
      .join(broadcast(evalDf), Seq("__eid"), "left")
      .select(col(idCol),
        when(col("__norm") > 0 && dot(col("__ev"), col("__ev")) > 0,
          round(dot(col("__vd"), col("__ev")) /
            (col("__norm") * sqrt(dot(col("__ev"), col("__ev")))), 6))
          .as("max_eval_cosine"))
      .withColumn("contaminated",
        coalesce(col("max_eval_cosine") >= minCosine, lit(false)))
  }

  /** Survivors after [[semanticContamination]]: the corpus minus flagged
    * rows, original schema kept. The flagged side is a skinny id column
    * (usually tiny, corpus-sized in the worst case) — no broadcast hint,
    * AQE picks from the runtime size.
    */
  def semanticDecontaminate(corpus: DataFrame, idCol: String, vecCol: String,
                            eval: DataFrame, evalVecCol: String,
                            minCosine: Double): DataFrame =
    corpus.join(
      semanticContamination(corpus, idCol, vecCol, eval, evalVecCol, minCosine)
        .filter(col("contaminated")).select(col(idCol)),
      Seq(idCol), "left_anti")

  /** Greedy k-center (farthest-point) diversity selection — the classic
    * 2-approximation coreset constructor (Gonzalez, TCS 1985; the
    * embedding-space "pick maximally diverse examples" selector in
    * data-curation pipelines): seed with the lowest id, then k-1 times
    * pick the point whose most-similar already-selected center is LEAST
    * similar (max-min distance = min-max cosine).
    *
    * Determinism spellings (full SQL replay, q90/q105 precedent): every
    * pairwise cosine routes through ROUND(·, 6) before the running
    * `cmax = max over centers` fold, and each round's argmin orders by
    * (cmax ASC, id ASC) — so the whole greedy trajectory is an exact
    * cross-engine replay, not a float race. Cosines use the
    * dot/(norm·norm) spelling DuckDB's list_cosine_similarity matches at
    * 6 dp.
    *
    * Scale shape: k-1 rounds, each ONE scan of the running frame — a
    * broadcast center vector, a `greatest` fold into the persisted
    * running `cmax` column, a `__sel` flag fold excluding already-picked
    * points (O(1) plan growth per round — not a growing NOT-IN literal),
    * and a `limit(1)` TakeOrdered (per-partition argmin + driver merge,
    * never a global sort). Driver traffic per round: one (id, cmax,
    * vector) row, ≤ d doubles. Lineage is localCheckpoint-truncated
    * every 16 rounds so the fold chain stays bounded at any k.
    *
    * SCALE CONTRACT: k sequential scans are inherent to Gonzalez greedy
    * — at corpus scale run this on a PRE-SAMPLED frame (pass
    * `sampleFraction`, or sample upstream as [[semanticContamination]]
    * caps its eval matrix); the 2-approximation degrades gracefully
    * under uniform sampling. Selection flags compare ids NULL-SAFELY, so
    * an (at most one) null-id row is selectable exactly once instead of
    * being silently unselectable.
    *
    * @param sampleFraction optional pre-sampling fraction (deterministic
    *        seed) applied before selection — the corpus-scale path;
    *        `None` (default) selects over the full frame, exact
    * @return (round 1..k, id, nearest_cos) — nearest_cos is the selected
    *         point's rounded cosine to its nearest earlier center (null
    *         for the seed); fewer than k rows when the corpus is smaller.
    */
  def kCenterSelect(df: DataFrame, idCol: String, vecCol: String,
                    k: Int, sampleFraction: Option[Double] = None,
                    sampleSeed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    require(k >= 1, "k must be at least 1")
    val spark = df.sparkSession
    val idType = df.schema(idCol).dataType
    val outSchema = StructType(Seq(
      StructField("round", IntegerType, nullable = false),
      StructField(idCol, idType),
      StructField("nearest_cos", DoubleType)))
    def result(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), outSchema)

    // zero-norm vectors have no defined cosine to anything: dividing by
    // their norm yields NULL cmax, Spark's NULLS-FIRST ascending argmin
    // would pick them every round and the null would NPE the collect —
    // exclude them from selection up front (the q90 norm>0 convention)
    val base = sampleFraction.fold(df)(f =>
      df.sample(withReplacement = false, f, sampleSeed))
    val vd = base.select(col(idCol), asDouble(col(vecCol)).as("__vd"))
      .withColumn("__n", norm(col("__vd")))
      .filter(col("__n") > 0)
    val seed = vd.orderBy(col(idCol)).limit(1).collect()
    if (seed.isEmpty) return result(Seq.empty)
    val seedId = seed(0).get(0)
    def cosTo(centerVec: Seq[Double], centerNorm: Double): Column =
      round(dot(col("__vd"), typedLit(centerVec))
        / (col("__n") * lit(centerNorm)), 6)

    val picked = scala.collection.mutable.ArrayBuffer[Row](
      Row(1, seedId, null))
    var cur = vd.withColumn("cmax", cosTo(
        seed(0).getSeq[Double](1), seed(0).getDouble(2)))
      .withColumn("__sel", col(idCol) <=> lit(seedId))
      .persist()
    var prev: Option[DataFrame] = None
    var sinceCp = 0
    var exhausted = false
    var i = 2
    while (i <= k && !exhausted) {
      val nxt = cur.filter(!col("__sel"))
        .orderBy(col("cmax").asc, col(idCol).asc).limit(1).collect()
      prev.foreach(Rounds.release) // successor materialized by the action above
      prev = Some(cur)
      if (nxt.isEmpty) exhausted = true
      else {
        val r = nxt(0)
        picked += Row(i, r.get(0), r.getDouble(3))
        if (i < k) {
          val stepped = cur
            .withColumn("cmax", greatest(col("cmax"),
              cosTo(r.getSeq[Double](1), r.getDouble(2))))
            .withColumn("__sel", col("__sel") || (col(idCol) <=> lit(r.get(0))))
          sinceCp += 1
          cur = if (sinceCp >= 16) {
            // truncate the 16-deep greatest/|| fold chain: without this
            // the analyzed plan grows O(k) and planning time O(k²)
            sinceCp = 0
            val cp = stepped.localCheckpoint(true)
            prev.foreach(Rounds.release)
            prev = None
            cp
          } else stepped.persist()
        }
        i += 1
      }
    }
    val out = result(picked.toSeq)
    prev.foreach(Rounds.release)
    if (!prev.contains(cur)) Rounds.release(cur)
    out
  }

  /** Sign bits of a float vector packed 64-per-word into array<bigint>
    * — BINARY (1-bit) quantization, the cheapest candidate filter in
    * the quantization ladder (float → int8 → PQ → binary): d/64 longs
    * per vector instead of d floats (32× smaller than float32), and
    * Hamming distance is xor + bit_count over the words. Deterministic
    * layout: bit (i mod 64) of word ⌊i/64⌋ is 1 iff x_i ≥ 0 (−0.0 and
    * +0.0 both read non-negative on every engine). Built-in HOFs only —
    * the projection stays inside codegen.
    */
  def signBits(vec: Column): Column = {
    // guard: a NULL or zero-length vector would make the last-word
    // index -1, sequence(0,-1) descend, and element_at(vec, 0) raise
    // Spark's unrelated "array indices start at 1" — fail loudly with
    // the real cause instead
    val checked = when(coalesce(
      assert_true(vec.isNotNull && size(vec) >= 1,
        lit("signBits: embedding vector must be non-empty")),
      lit(true)), vec)
    // last word index = ⌊(d−1)/64⌋ — Column `/` is double division, so
    // route through floor (exact for any real dimension count)
    val words = floor((size(checked).cast("double") - 1) / 64.0).cast("int")
    transform(sequence(lit(0), words), w =>
      aggregate(
        sequence(w * 64, least(w * 64 + 63, size(checked) - 1)),
        lit(0L),
        (acc, i) => acc + when(element_at(checked, i + 1) >= 0,
          call_function("shiftleft", lit(1L), (i - w * 64).cast("int")))
          .otherwise(0L)))
  }

  /** Hamming distance between two [[signBits]] words arrays: Σ over
    * words of bit_count(xor) — exact integer, codegen built-ins.
    */
  def hammingDistance(a: Column, b: Column): Column = {
    // guard: zip_with pads the shorter array with NULLs, bit_count(xor)
    // of a NULL word is NULL, and sum-style folds would skip it — a
    // dimension mismatch would silently score the common prefix and
    // corrupt the shortlist. Raise instead.
    val aC = when(coalesce(
      assert_true(size(a) === size(b),
        concat_ws("", lit("hammingDistance: word arrays differ in "),
          lit("length: "), size(a).cast("string"), lit(" vs "),
          size(b).cast("string"))),
      lit(true)), a)
    aggregate(zip_with(aC, b,
        (x, y) => call_function("bit_count", x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)
  }

  /** Binary-quantized top-k search with exact re-rank — the FAISS
    * binary-prefilter shape on the [[hammingSearch]] ladder's cheapest
    * rung: every (query, corpus) pair is scored by HAMMING distance on
    * the packed sign bits (d/64-long words, xor+popcount — no float
    * math on the scan), the best `k·rerankFactor` per query by
    * (hamming, id) re-score EXACTLY by cosine, and the final top k
    * rank by (cosine desc, id). Sign agreement is a monotone proxy for
    * angle (the SimHash bound: P[bit match] = 1 − θ/π), so the
    * shortlist misses only vectors whose angle beats their sign
    * pattern — recall is measured against brute force in the spec, and
    * rerankFactor buys it back.
    *
    * Scale shape: queries BROADCAST with precomputed words (the probe
    * frame is queries-sized); the corpus scan carries only (id, words)
    * — the skinny (qid, id, hamming) plane shuffles once for the
    * per-query window; vectors re-join by id ONLY for the shortlist
    * (≤ queries·k·rerankFactor rows). Never an all-pairs float plane.
    *
    * WORKLOAD FIT (the FAISS binary-flat shape): this is the ladder's
    * SERVING rung — a bounded query batch probing a huge corpus. The
    * shortlist window still shuffles the full |queries|×|corpus|
    * skinny plane, so for BATCH-×-BATCH workloads (both sides corpus-
    * scale — dedup sweeps, all-pairs linkage) use the bucketed IVF
    * lanes ([[graft.ops.Ivf]]), which read only the probed lists and
    * never materialize a per-pair plane.
    *
    * → (qIdCol, rank, idCol, hamming, cosine) — top k per query.
    */
  def hammingSearch(corpus: DataFrame, idCol: String, vecCol: String,
                    queries: DataFrame, qIdCol: String, qVecCol: String,
                    k: Int, rerankFactor: Int = 4): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(rerankFactor >= 1, s"rerankFactor must be >= 1, got $rerankFactor")
    val c = corpus.select(col(idCol), signBits(col(vecCol)).as("__cw"))
    val q = broadcast(queries
      .select(col(qIdCol), signBits(col(qVecCol)).as("__qw")))
    val wShort = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qIdCol)).orderBy(col("hamming"), col(idCol))
    val short = c.crossJoin(q) // queries-sized broadcast, never shuffled
      .withColumn("hamming", hammingDistance(col("__cw"), col("__qw")))
      .select(col(qIdCol), col(idCol), col("hamming"))
      .withColumn("__hr", row_number().over(wShort))
      .filter(col("__hr") <= k * rerankFactor)
    val cv = corpus.select(col(idCol), asDouble(col(vecCol)).as("__cv"))
      .withColumn("__cn", norm(col("__cv")))
    val qv = broadcast(queries
      .select(col(qIdCol), asDouble(col(qVecCol)).as("__qv"))
      .withColumn("__qn", norm(col("__qv"))))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qIdCol)).orderBy(col("__cos").desc, col(idCol))
    short.join(cv, idCol).join(qv, qIdCol)
      .withColumn("__cos",
        dot(col("__cv"), col("__qv")) / (col("__cn") * col("__qn")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col(qIdCol), col("rank"), col(idCol), col("hamming"),
        round(col("__cos"), 6).as("cosine"))
  }
}
