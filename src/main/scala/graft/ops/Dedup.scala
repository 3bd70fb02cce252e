package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed as a
  * shuffle-conscious distributed plan:
  *
  *   - exact: hash-groupBy on a normalized fingerprint (one shuffle on the
  *     fingerprint — the minimum possible);
  *   - MinHash + LSH banding: shingle → k minhashes → b bands → bucket join.
  *     Candidate generation shuffles on (band, bandHash), NEVER all-pairs;
  *   - SimHash: 64-bit sign-sketch per document, near-dups = small Hamming
  *     distance, candidates via 16-bit chunk banding (Charikar'02 /
  *     Manku et al. WWW'07 pattern);
  *   - n-gram Jaccard: EXACT similarity join with lossless pruning; a
  *     max-df probe auto-routes skewed corpora (one ubiquitous shingle
  *     would make the inverted-index plan quadratic on a hot key) to a
  *     df-ordered AllPairs/PPJoin prefix-filter plan that is skew-proof.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per normalized-text group.
    * Equivalent to dropDuplicates but with a deterministic survivor.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = TextOps.fingerprintMd5(col(textCol))
    df.withColumn("__fp", fp)
      .groupBy(col("__fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .drop("__fp")
  }

  /** MinHash signature: k-minima over n-gram hashes, computed by the native
    * kernels (graft.functions.{ShingleHashes, MinHashSignature}) in ONE
    * projection per document — no shingle strings, no explode, no groupBy,
    * NO SHUFFLE. At corpus scale signature computation is embarrassingly
    * parallel; only candidate banding shuffles. Documents with no shingles
    * (fewer than n tokens) are excluded, matching set semantics.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 32, shingleSize: Int = 3): DataFrame = {
    import graft.functions.ArrayMath
    df.select(col(idCol),
        ArrayMath.shingleHashes(
          TextOps.tokens(TextOps.normalized(col(textCol))), shingleSize).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .select(col(idCol), ArrayMath.minhashSignature(col("__sh"), numHashes).as("signature"))
  }

  /** The LSH band cells of a minhash signature: array of (band, bucket)
    * structs. ONE shared spelling — the batch pair-generator and the
    * streaming near-dup sink's persisted band plane must stay
    * bit-identical, or cross-batch probes silently stop matching stored
    * rows (near-dup detection would degrade to exact-only with no test
    * failing at small scale).
    */
  def bandCells(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(lit(b),
          slice(signature, b * rowsPerBand + 1, rowsPerBand)).as("bucket"))
    }: _*)

  /** LSH banding: b bands of r rows each (k = b*r); a pair collides if any
    * band hashes equal. Returns candidate pairs (idA < idB) with the
    * estimated Jaccard = fraction of equal minhashes.
    */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          numHashes: Int = 32, shingleSize: Int = 3,
                          bands: Int = 8, minJaccard: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val sigs = minhashSignatures(df, idCol, textCol, numHashes, shingleSize)

    // skinny banding: only (id, band, bucket) shuffles for candidate
    // generation; the 32-long signatures are joined back after pair dedup
    // (AQE broadcasts the signature table when small)
    val banded = sigs.select(col(idCol),
      explode(bandCells(col("signature"), bands, rows)).as("__b"))
      .select(col(idCol), col("__b.band"), col("__b.bucket"))

    val candidates = banded.select(col("band"), col("bucket"), col(idCol).as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col(idCol).as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b") // a pair may collide in several bands

    // codegen'd equality count (graft.functions.ArrayEqualCount) — this
    // runs once per candidate pair, the hot loop of the operator
    val est = graft.functions.ArrayMath.arrayEqCount(col("sig_a"), col("sig_b"))
      .cast("double") / numHashes
    candidates
      .join(sigs.select(col(idCol).as("id_a"), col("signature").as("sig_a")), "id_a")
      .join(sigs.select(col(idCol).as("id_b"), col("signature").as("sig_b")), "id_b")
      .withColumn("est_jaccard", est)
      .filter(col("est_jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
  }

  /** End-to-end near-dedup: drop every document that has a near-duplicate
    * with a smaller id (the standard greedy survivor rule — for a chain
    * A~B~C with A<B<C, A survives). One anti-join against the candidate
    * pairs; composes exact + MinHash stages.
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                         numHashes: Int = 32, shingleSize: Int = 3,
                         bands: Int = 16, minJaccard: Double = 0.8): DataFrame = {
    val pairs = minhashNearDupPairs(df, idCol, textCol, numHashes, shingleSize,
      bands, minJaccard)
    df.join(pairs.select(col("id_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Incremental dedup: filter an INCOMING batch against an EXISTING
    * corpus — the shape every continuously-ingesting pipeline runs (the
    * full corpus is already deduped; only new↔old comparisons are needed,
    * never old↔old). Two stages, both exact:
    *
    *   1. exact: anti-join on the normalized-text fingerprint;
    *   2. near: cross-set n-gram Jaccard — inverted-index join of incoming
    *      shingles against corpus shingles ONLY (no incoming↔incoming,
    *      no corpus↔corpus pairs), same lossless length filter as
    *      [[ngramJaccardPairs]].
    *
    * Cost scales with |incoming| · avg-df, not with the corpus size —
    * the property that makes nightly increments on a 100 TB corpus
    * feasible. Within-batch duplicates are NOT handled here (run the
    * standard ops on the batch first); this operator's contract is purely
    * new-vs-old.
    */
  def dedupAgainstCorpus(incoming: DataFrame, corpus: DataFrame,
                         idCol: String, textCol: String,
                         shingleSize: Int = 3,
                         minJaccard: Double = 0.5): DataFrame = {
    import graft.functions.ArrayMath
    require(minJaccard > 0.0, "minJaccard must be > 0")
    // stage 1: exact fingerprint anti-join (corpus side reduces to distinct
    // fingerprints; AQE broadcasts when small)
    val corpusFp = corpus.select(TextOps.fingerprintMd5(col(textCol)).as("__fp")).distinct()
    val exactSurvivors = incoming
      .withColumn("__fp", TextOps.fingerprintMd5(col(textCol)))
      .join(corpusFp, Seq("__fp"), "left_anti")
      .drop("__fp")

    // stage 2: cross-set jaccard — skinny (id, size, shingleHash) rows
    def shingled(d: DataFrame) = d
      .select(col(idCol).as("id"),
        array_distinct(ArrayMath.shingleHashes(
          TextOps.tokens(TextOps.normalized(col(textCol))), shingleSize)).as("__shs"))
      .filter(size(col("__shs")) > 0)
      .select(col("id"), size(col("__shs")).as("__sz"), explode(col("__shs")).as("sh"))
    val inc = shingled(exactSurvivors)
    val corp = shingled(corpus)
    val alpha = (m: Column) => greatest(lit(1L), ceil(lit(minJaccard) * m) - 1L)
    val nearDropIds = inc.select(col("sh"), col("id").as("id_i"), col("__sz").as("__sz_i"))
      .join(corp.select(col("sh"), col("id").as("id_c"), col("__sz").as("__sz_c")), "sh")
      .filter(col("__sz_c") >= alpha(col("__sz_i")) && col("__sz_i") >= alpha(col("__sz_c")))
      .groupBy(col("id_i"), col("id_c"), col("__sz_i"), col("__sz_c"))
      .agg(count(lit(1)).as("__common"))
      .filter(col("__common").cast("double") /
        (col("__sz_i") + col("__sz_c") - col("__common")).cast("double") >= minJaccard)
      .select(col("id_i").as(idCol)).distinct()
    exactSurvivors.join(nearDropIds, Seq(idCol), "left_anti")
  }

  /** Connected components over near-duplicate pairs — the transitive
    * closure that cluster-level dedup needs (greedy survivor rules keep one
    * doc per LOCAL minimum; components keep exactly one per cluster).
    *
    * Alternating large-star / small-star algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14): converges in
    * O(log² n) rounds regardless of component diameter — the property that
    * matters at 100 TB, where naive label propagation needs
    * O(diameter) rounds and duplicate chains (A~B~C~…) make the diameter
    * unbounded. Each round is two groupBy-min shuffles over skinny
    * (long, long) edges; lineage is truncated every round with
    * localCheckpoint so the plan stays flat.
    *
    *   - large-star: every node > u links to min(N(u) ∪ {u})
    *   - small-star: every node ≤ u links to min(N(u) ∪ {u})
    *
    * Both preserve connectivity; at the fixpoint the edge set is a star
    * per component, every member pointing at the component minimum.
    *
    * @param pairs DataFrame of undirected edges (two long id columns)
    * @return (id, component, cluster_size) — one row per NODE OF A PAIR;
    *         singleton documents never enter `pairs` and need no row
    * @throws IllegalStateException if not converged in maxIter rounds
    *         (the O(log² n) bound makes 30 rounds ≈ 2^5 nodes-squared safe)
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 30): DataFrame = {
    def canon(e: DataFrame): DataFrame =
      e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v")).distinct()

    // Large-star output is NOT deduped here: small-star always runs next
    // and its canon() distinct subsumes it — one fewer shuffle per round.
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      nbrs.join(mins, "u").filter(col("v") > col("u"))
        .select(greatest(col("v"), col("m")).as("u"),
          least(col("v"), col("m")).as("v"))
        .filter(col("u") =!= col("v"))
    }

    def smallStar(e: DataFrame): DataFrame = {
      val directed = canon(e) // (u, v) with u > v
      val mins = directed.groupBy("u").agg(min(col("v")).as("m"))
      val joined = directed.join(mins, "u")
      canon(joined.select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v"))))
    }

    var (edges, n) = Rounds.counted(canon(pairs.select(
      col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))))
    // Guard on the CANONICALIZED edges, not the raw pairs: an input of
    // only self-loops (a==b) canonicalizes to nothing, and the convergence
    // probe's bit_xor over zero rows is NULL (getLong would NPE).
    if (n == 0L) return edges.select(col("u").as("id"),
      col("v").as("component"), lit(0L).as("cluster_size"))
    var prev = (-1L, -1L)
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // the convergence signature (row count, bit_xor of edge hashes)
      // rides the round's checkpoint job
      val (next, m) = Rounds.checkpoint(smallStar(largeStar(edges)),
        Rounds.rows, expr("bit_xor(xxhash64(u, v))").as("__x"))
      Rounds.release(edges)
      edges = next
      val sig = (m.getLong(0), m.getLong(1))
      done = sig == prev
      prev = sig
      iter += 1
    }
    if (!done) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds")

    // fixpoint edges are stars (member, componentMin); centers label themselves
    val labels = edges.select(col("u").as("id"), col("v").as("component"))
      .union(edges.select(col("v").as("id"), col("v").as("component")).distinct())
    val sizes = labels.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "component").select(col("id"), col("component"), col("cluster_size"))
  }

  /** Cluster-aware near-dedup: exactly ONE survivor (the minimum id) per
    * connected component of the near-duplicate graph. Strictly stronger
    * than [[dropNearDuplicates]]'s greedy rule, which keeps every LOCAL
    * minimum — e.g. for edges {(1,5), (3,5)} greedy keeps 1 AND 3 (3 is
    * never the larger id of a pair), components keep only 1.
    */
  def dropNearDuplicateClusters(df: DataFrame, idCol: String, textCol: String,
                                numHashes: Int = 32, shingleSize: Int = 3,
                                bands: Int = 16, minJaccard: Double = 0.8): DataFrame = {
    val pairs = minhashNearDupPairs(df, idCol, textCol, numHashes, shingleSize,
      bands, minJaccard)
    val drop = connectedComponents(pairs, "id_a", "id_b")
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** 64-bit SimHash over whitespace tokens: per-bit signed counts of token
    * hashes, sign → bit (graft.functions.SimHash64 kernel). One projection
    * per document — no explode, no shuffle.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.ArrayMath
    df.select(col(idCol),
      ArrayMath.simhash64(
        ArrayMath.shingleHashes(
          TextOps.tokens(TextOps.normalized(col(textCol))), 1)).as("simhash"))
  }

  /** SimHash near-dups: Hamming distance ≤ maxDistance, candidates from
    * 16-bit chunk banding (any equal chunk → candidate; complete for
    * maxDistance ≤ 3 by pigeonhole over 4 chunks).
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxDistance: Int = 3): DataFrame =
    hamming64Pairs(simhash(df, idCol, textCol), idCol, "simhash", maxDistance)

  /** Generic 64-bit-signature Hamming near-dup join — the banding plan
    * [[simhashNearDupPairs]] and the image-dHash lane
    * ([[Multimodal.imageNearDupPairs]]) share: candidates from 16-bit
    * chunk banding (any equal chunk → candidate; COMPLETE for
    * maxDistance ≤ 3 by pigeonhole over 4 chunks), verified with one
    * codegen'd `bit_count(xor)`. Shuffles only (id, sig, chunk, bucket)
    * rows — never payloads — so the plan holds at corpus scale; rows
    * with a NULL signature never band (no decoder claimed the payload).
    */
  /** ONE spelling of the 16-bit chunk cells every 64-bit-signature
    * consumer shares — [[hamming64Pairs]]' banding, [[hamming64Degrees]],
    * and the streaming cells plane
    * ([[graft.streaming.StreamingIngest.signatureAppendSink]]): a probe
    * and a stored plane built from different spellings could silently
    * drift apart and lose near-dup recall with no error, so there is
    * exactly one (the [[bandCells]] convention). Explodes to
    * struct<chunk, bucket> rows, 4 per signature.
    */
  private[graft] def chunk16Cells(sigCol: String): Column =
    explode(array((0 until 4).map { c =>
      struct(lit(c).as("chunk"),
        expr(s"(`$sigCol` >> ${c * 16}) & 65535").as("bucket"))
    }: _*))

  def hamming64Pairs(sigs: DataFrame, idCol: String, sigCol: String,
                     maxDistance: Int = 3): DataFrame = {
    require(maxDistance <= 3,
      s"16-bit chunk banding is complete only for distance <= 3, got $maxDistance")
    val chunked = sigs.filter(col(sigCol).isNotNull)
      .select(col(idCol), col(sigCol), chunk16Cells(sigCol).as("__c"))
      .select(col(idCol), col(sigCol), col("__c.chunk"), col("__c.bucket"))
    val a = chunked.select(col(idCol).as("id_a"), col(sigCol).as("sh_a"),
      col("chunk"), col("bucket"))
    val b = chunked.select(col(idCol).as("id_b"), col(sigCol).as("sh_b"),
      col("chunk"), col("bucket"))
    a.join(b, Seq("chunk", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", expr("bit_count(sh_a ^ sh_b)"))
      .filter(col("hamming") <= maxDistance)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Per-item near-dup DEGREE (how many OTHER items sit within
    * `maxDistance`) without materializing the pair relation — the
    * skew-proof spelling for corpora where signatures repeat: identical
    * signatures form cliques whose pairs are quadratic, so
    * [[hamming64Pairs]] run directly over items melts on a hot 16-bit
    * band bucket. Instead: collapse to DISTINCT signatures with
    * multiplicities (one aggregation), band-join only the distinct
    * signatures (candidate cost now depends on signature diversity, not
    * corpus size), and expand degrees in closed form —
    * degree(x) = (mult(sig(x)) − 1) + Σ_{sig' ≠ sig(x), d(sig,sig')≤D}
    * mult(sig'). Exact, same answer as counting pairs; rows with a NULL
    * signature get no row (no decoder claimed them).
    *
    * → (idCol, n_near_dups) for items with degree ≥ 1.
    */
  def hamming64Degrees(sigs: DataFrame, idCol: String, sigCol: String,
                       maxDistance: Int = 3): DataFrame = {
    val items = sigs.filter(col(sigCol).isNotNull)
      .select(col(idCol), col(sigCol))
    val mult = items.groupBy(sigCol).agg(count(lit(1)).as("__mult"))
    val sigPairs = hamming64Pairs(
      mult.select(col(sigCol).as("__sid"), col(sigCol).as("__sig")),
      "__sid", "__sig", maxDistance)
    // neighbor mass per distinct signature: Σ mult of near signatures,
    // both directions of the (sig_a < sig_b) pair relation
    val neighborMass = sigPairs.alias("p")
      .join(mult.select(col(sigCol).as("id_b"), col("__mult")), Seq("id_b"))
      .select(col("id_a").as("__sig0"), col("__mult"))
      .union(sigPairs.alias("p2")
        .join(mult.select(col(sigCol).as("id_a"), col("__mult")), Seq("id_a"))
        .select(col("id_b").as("__sig0"), col("__mult")))
      .groupBy("__sig0").agg(sum(col("__mult")).as("__near_mass"))
    items.join(mult, Seq(sigCol))
      .join(neighborMass, col(sigCol) === col("__sig0"), "left")
      .select(col(idCol),
        (col("__mult") - 1 + coalesce(col("__near_mass"), lit(0L)))
          .as("n_near_dups"))
      .filter(col("n_near_dups") >= 1)
  }

  /** EXACT n-gram Jaccard similarity join: returns every pair with
    * Jaccard(shingles(a), shingles(b)) >= minJaccard — no approximation.
    * (Round 1 shipped a lossy document-frequency cap here; both plans below
    * replace it with LOSSLESS pruning. Correctness is asserted against
    * brute-force all-pairs in OpsSpec for both, and the q27 DuckDB oracle
    * checks the full output at sf0.01.)
    *
    * Two exact plans, chosen by `skewGuard` — `None` (the default)
    * auto-selects with a cheap max-df probe: one map-side-combined
    * aggregation pass finds the highest shingle document frequency; if it
    * exceeds `skewMaxDf` the corpus can form a quadratic hot key in the
    * inverted-index plan, so the skew-proof prefix plan is used instead.
    * Both plans are exact, so auto-selection affects cost only, never
    * results.
    *
    * PLAIN (skewGuard = Some(false)) — inverted-index pair counting: explode
    * distinct shingle hashes, self-join on the shingle, count rows per
    * (id_a, id_b) — that count IS |A∩B|, so no second verification pass
    * and nothing but skinny (long, long) rows ever shuffles. A length
    * filter (J >= t ⟹ t·|A| <= |B| and t·|B| <= |A|) prunes size-
    * mismatched pairs at the join. Cost is Σ_shingle C(df,2) join rows —
    * optimal when document frequencies are bounded (natural-text 3-gram
    * corpora), quadratic in df if some shingle is ubiquitous.
    *
    * SKEW GUARD (skewGuard = Some(true)) — AllPairs/PPJoin prefix filtering
    * (Bayardo et al. WWW'07, Xiao et al. WWW'08): order every document's
    * shingles by GLOBAL document frequency ascending (ties by hash); if
    * J(A,B) >= t then |A∩B| >= ⌈t·|A|⌉, and the globally smallest common
    * shingle must sit within the first |A| - ⌈t·|A|⌉ + 1 shingles of A
    * (all other common shingles order after it) — symmetrically for B —
    * so indexing ONLY each document's prefix finds every qualifying pair
    * (provably lossless). df-ascending order makes this skew-PROOF: a
    * ubiquitous shingle orders last and enters a document's prefix only
    * if all the document's other shingles are even more frequent, so the
    * C(df,2) hot key cannot form. Candidates are then verified with one
    * hash-set intersection per pair against the full shingle sets. Costs
    * one extra global df pass + per-pair array verification — use it when
    * the corpus may contain boilerplate/ubiquitous shingles (the 100 TB
    * web-crawl case); for still-larger corpora, prefilter with
    * [[minhashNearDupPairs]] (approximate, recall < 1).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, minJaccard: Double = 0.3,
                        skewGuard: Option[Boolean] = None,
                        skewMaxDf: Long = 1024L): DataFrame = {
    import graft.functions.ArrayMath
    require(minJaccard > 0.0, "minJaccard must be > 0 (length/prefix filters degenerate at 0)")
    // shingle IDENTITY is its 64-bit hash (collisions negligible): joins
    // shuffle longs, not strings; per-doc set semantics via array_distinct.
    // Sorted so the guarded plan's verify can merge-count intersections
    // (SortedIntersectCount) instead of hashing per candidate pair.
    val hashed = df.select(col(idCol).as("id"),
      sort_array(array_distinct(ArrayMath.shingleHashes(
        TextOps.tokens(TextOps.normalized(col(textCol))), shingleSize))).as("__shs"))
      .filter(size(col("__shs")) > 0)

    // Auto-route: the inverted-index plan emits C(df,2) join rows for a
    // shingle seen in df documents — skewMaxDf=1024 caps the worst single
    // shingle at ~0.5M rows. The probe is one partial-agg pass (shuffles
    // only per-partition maxima), far cheaper than either plan's join.
    val useGuard = skewGuard.getOrElse {
      val r = hashed.select(explode(col("__shs")).as("sh"))
        .groupBy(col("sh")).agg(count(lit(1)).as("__df"))
        .agg(max(col("__df"))).head()
      !r.isNullAt(0) && r.getLong(0) > skewMaxDf
    }

    // ⌈t·m⌉ computed float-safely DOWNWARD: fp error in t*m can push ceil
    // one integer too HIGH (e.g. 0.2*15 = 3.0000000000000004 → 4), which
    // would over-prune and lose pairs; -1 keeps α <= true ⌈t·m⌉, so both
    // filters only ever get LOOSER (lossless, a few extra candidates)
    def alphaSafe(m: Column): Column =
      greatest(lit(1L), ceil(lit(minJaccard) * m) - 1L)

    def jaccardOut(pairs: DataFrame): DataFrame = pairs
      .withColumn("jaccard", col("__common").cast("double") /
        (col("__sz_a") + col("__sz_b") - col("__common")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))

    if (!useGuard) {
      val full = hashed.select(col("id"), size(col("__shs")).as("__sz"),
        explode(col("__shs")).as("sh"))
      val counted = full.select(col("sh"), col("id").as("id_a"), col("__sz").as("__sz_a"))
        .join(full.select(col("sh"), col("id").as("id_b"), col("__sz").as("__sz_b")), "sh")
        .filter(col("id_a") < col("id_b"))
        .filter(col("__sz_b") >= alphaSafe(col("__sz_a")) &&
          col("__sz_a") >= alphaSafe(col("__sz_b")))
        .groupBy(col("id_a"), col("id_b"), col("__sz_a"), col("__sz_b"))
        .agg(count(lit(1)).as("__common"))
      jaccardOut(counted)
    } else {
      val full = hashed.select(col("id"), explode(col("__shs")).as("sh"))
      val dfreq = full.groupBy("sh").agg(count(lit(1)).as("__df"))
      // per-doc prefix = the (sz - α + 1) globally rarest shingles; built
      // with one groupBy + per-row sort of (df, sh) structs — no window
      val prefix = full.join(dfreq, "sh")
        .groupBy("id")
        .agg(sort_array(collect_list(struct(col("__df"), col("sh")))).as("__ord"))
        .withColumn("__sz", size(col("__ord")))
        .select(col("id"), col("__sz"),
          explode(expr("transform(slice(__ord, 1, cast(__sz - greatest(1L, " +
            s"ceil($minJaccard * __sz) - 1L) + 1L as int)), x -> x.sh)")).as("sh"))
      val candidates = prefix.select(col("sh"), col("id").as("id_a"), col("__sz").as("__sz_a"))
        .join(prefix.select(col("sh"), col("id").as("id_b"), col("__sz").as("__sz_b")), "sh")
        .filter(col("id_a") < col("id_b"))
        .filter(col("__sz_b") >= alphaSafe(col("__sz_a")) &&
          col("__sz_a") >= alphaSafe(col("__sz_b")))
        .select(col("id_a"), col("id_b"), col("__sz_a"), col("__sz_b"))
        .dropDuplicates("id_a", "id_b")
      // exact verification: one zero-allocation merge-count per candidate
      // pair (arrays are sorted+distinct by construction above)
      val verified = candidates
        .join(hashed.select(col("id").as("id_a"), col("__shs").as("__shs_a")), "id_a")
        .join(hashed.select(col("id").as("id_b"), col("__shs").as("__shs_b")), "id_b")
        .withColumn("__common",
          ArrayMath.sortedIntersectCount(col("__shs_a"), col("__shs_b")))
        .select(col("id_a"), col("id_b"), col("__sz_a"), col("__sz_b"), col("__common"))
      jaccardOut(verified)
    }
  }
  /** Asymmetric n-gram CONTAINMENT pairs (Broder, SEQUENCES'97: the
    * "containment of documents" companion to resemblance/Jaccard):
    * `containment(A in B) = |A ∩ B| / |A|` over distinct shingle sets.
    * Catches what symmetric Jaccard structurally misses — a short
    * document quoted whole inside a much longer one has containment ≈ 1
    * while its Jaccard ≈ |A|/|B| ≈ 0, so a Jaccard-thresholded dedup
    * keeps the duplicate. Output is DIRECTIONAL: (contained_id,
    * container_id) with both orientations evaluated independently.
    *
    * Two EXACT plans, chosen by `skewGuard` exactly like
    * [[ngramJaccardPairs]] — `None` (the default) runs the same cheap
    * max-df probe and routes to the guarded plan when any shingle's
    * document frequency exceeds `skewMaxDf`. Both plans are exact, so
    * the route affects cost only, never results.
    *
    * PLAIN — inverted-index join on shingle hashes; candidate volume is
    * Σ_sh C(df_sh, 2)·2, quadratic on a hot key (the unguarded
    * [[ngramJaccardPairs]] caveat). Optimal for bounded-df corpora.
    *
    * GUARDED — ASYMMETRIC prefix filter. MinHash banding is the wrong
    * prefilter here (deliberately: LSH collides on JACCARD, and the
    * high-containment pairs this operator exists for have Jaccard ≈
    * |A|/|B| ≈ 0 — banding would structurally miss them). Instead,
    * adapt AllPairs/PPJoin (Bayardo WWW'07) to the asymmetric
    * threshold: containment(A in B) ≥ t ⟹ |A∩B| ≥ ⌈t·|A|⌉, so the
    * contained side's df-ASCENDING prefix of |A| - ⌈t·|A|⌉ + 1
    * shingles must hit A∩B at least once (pigeonhole) — but because
    * containment bounds no fraction OF B, the container side indexes
    * its FULL shingle list (the only sound B-side filter is
    * |B| ≥ ⌈t·|A|⌉, from |A∩B| ≤ |B|; it is applied). Candidates are
    * A-prefix × B-full joins, then ONE merge-count verification per
    * candidate against the sorted shingle sets. Skew-proof: a
    * boilerplate shingle has maximal df, orders LAST in every
    * document's prefix order, and enters a prefix only when virtually
    * all of the document is boilerplate — so the C(df,2) hot key
    * cannot form; worst-case candidate volume is Σ_A prefix(A)·df,
    * LINEAR in the hot shingle's df, not quadratic.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int = 3,
                       minContainment: Double = 0.5,
                       skewGuard: Option[Boolean] = None,
                       skewMaxDf: Long = 1024L): DataFrame =
    containmentPairsSized(df, idCol, textCol, shingleSize, minContainment,
      skewGuard, skewMaxDf)
      .select(col("contained_id"), col("container_id"), col("containment"))

  /** (id, sorted distinct shingle hashes) — the shared input frame of
    * both containment plans (sorted so the guarded plan's verify can
    * merge-count intersections).
    */
  private[graft] def containmentShingles(df: DataFrame, idCol: String,
                                         textCol: String,
                                         shingleSize: Int): DataFrame = {
    import graft.functions.ArrayMath
    df.select(col(idCol).as("id"),
      sort_array(array_distinct(ArrayMath.shingleHashes(
        TextOps.tokens(TextOps.normalized(col(textCol))), shingleSize))).as("__shs"))
      .filter(size(col("__shs")) > 0)
  }

  /** ⌈t·m⌉ computed float-safely DOWNWARD (see [[ngramJaccardPairs]]):
    * fp error in t*m can push ceil one integer too HIGH, which would
    * over-prune; -1 only ever LOOSENS the filters (lossless).
    */
  private def alphaSafeAt(t: Double)(m: Column): Column =
    greatest(lit(1L), ceil(lit(t) * m) - 1L)

  /** The guarded plan's candidate pairs BEFORE verification —
    * (contained_id, container_id, __sz_a, __sz_b), deduped. Exposed
    * `private[graft]` so the skew test can assert the hot-shingle
    * candidate bound directly.
    */
  private[graft] def containmentCandidatesGuarded(hashed: DataFrame,
                                                  minContainment: Double): DataFrame = {
    val alphaSafe = alphaSafeAt(minContainment) _
    val full = hashed.select(col("id"), explode(col("__shs")).as("sh"))
    val dfreq = full.groupBy("sh").agg(count(lit(1)).as("__df"))
    // contained-side prefix = the (sz - α + 1) globally rarest shingles;
    // one groupBy + per-row sort of (df, sh) structs — no window
    val prefix = full.join(dfreq, "sh")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("__df"), col("sh")))).as("__ord"))
      .withColumn("__sz", size(col("__ord")))
      .select(col("id"), col("__sz"),
        explode(expr("transform(slice(__ord, 1, cast(__sz - greatest(1L, " +
          s"ceil($minContainment * __sz) - 1L) + 1L as int)), x -> x.sh)")).as("sh"))
    // container side indexes its FULL list — the asymmetry; only sound
    // B-side filter is |B| ≥ α(|A|) (|A∩B| ≤ |B|)
    val fullSized = hashed.select(col("id"), size(col("__shs")).as("__sz"),
      explode(col("__shs")).as("sh"))
    prefix.select(col("sh"), col("id").as("contained_id"), col("__sz").as("__sz_a"))
      .join(fullSized.select(col("sh"), col("id").as("container_id"),
        col("__sz").as("__sz_b")), "sh")
      .filter(col("contained_id") =!= col("container_id"))
      .filter(col("__sz_b") >= alphaSafe(col("__sz_a")))
      .select(col("contained_id"), col("container_id"), col("__sz_a"), col("__sz_b"))
      .dropDuplicates("contained_id", "container_id")
  }

  /** [[containmentPairs]] plus both documents' distinct-shingle counts —
    * the extra columns the [[dropContained]] survivor rule needs.
    */
  private[graft] def containmentPairsSized(df: DataFrame, idCol: String,
                                           textCol: String, shingleSize: Int,
                                           minContainment: Double,
                                           skewGuard: Option[Boolean] = None,
                                           skewMaxDf: Long = 1024L): DataFrame = {
    import graft.functions.ArrayMath
    require(minContainment > 0.0 && minContainment <= 1.0,
      "minContainment must be in (0, 1]")
    val hashed = containmentShingles(df, idCol, textCol, shingleSize)

    // same auto-route probe as ngramJaccardPairs: one partial-agg pass
    // (shuffles only per-partition maxima), far cheaper than either join
    val useGuard = skewGuard.getOrElse {
      val r = hashed.select(explode(col("__shs")).as("sh"))
        .groupBy(col("sh")).agg(count(lit(1)).as("__df"))
        .agg(max(col("__df"))).head()
      !r.isNullAt(0) && r.getLong(0) > skewMaxDf
    }
    val alphaSafe = alphaSafeAt(minContainment) _

    def out(counted: DataFrame): DataFrame = counted
      .withColumn("containment",
        col("__common").cast("double") / col("__sz_a").cast("double"))
      .filter(col("containment") >= minContainment)
      .select(col("contained_id"), col("container_id"),
        round(col("containment"), 4).as("containment"),
        col("__sz_a"), col("__sz_b"))

    if (!useGuard) {
      val full = hashed.select(col("id"), size(col("__shs")).as("__sz"),
        explode(col("__shs")).as("sh"))
      out(full.select(col("sh"), col("id").as("contained_id"), col("__sz").as("__sz_a"))
        .join(full.select(col("sh"), col("id").as("container_id"),
          col("__sz").as("__sz_b")), "sh")
        .filter(col("contained_id") =!= col("container_id"))
        // lossless one-directional size filter (NOT the symmetric Jaccard
        // prefilter — containment imposes no lower bound on |B| beyond α)
        .filter(col("__sz_b") >= alphaSafe(col("__sz_a")))
        .groupBy(col("contained_id"), col("container_id"),
          col("__sz_a"), col("__sz_b"))
        .agg(count(lit(1)).as("__common")))
    } else {
      // exact verification: one zero-allocation merge-count per candidate
      // (arrays sorted+distinct by construction)
      out(containmentCandidatesGuarded(hashed, minContainment)
        .join(hashed.select(col("id").as("contained_id"), col("__shs").as("__shs_a")),
          "contained_id")
        .join(hashed.select(col("id").as("container_id"), col("__shs").as("__shs_b")),
          "container_id")
        .withColumn("__common",
          ArrayMath.sortedIntersectCount(col("__shs_a"), col("__shs_b")))
        .select(col("contained_id"), col("container_id"),
          col("__sz_a"), col("__sz_b"), col("__common")))
    }
  }

  /** Drop every document contained (≥ `minContainment`) in a LARGER
    * container: the container must have strictly more distinct shingles,
    * or equally many and a smaller id — so mutual/exact containment
    * keeps exactly one copy (the min-id survivor, [[exact]]'s rule)
    * instead of deleting both directions of the pair. One anti-join;
    * original schema kept.
    *
    * GREEDY, like [[dropNearDuplicates]]: the cited container may itself
    * be dropped by a still-larger container. At `minContainment = 1.0`
    * containment is transitive, so a surviving superset always exists;
    * below 1.0 a containment CHAIN can drop a document whose content no
    * survivor fully contains at threshold — the standard greedy dedup
    * trade. [[dropContainedFixpoint]] is the exact flavor that only
    * drops documents contained in a FINAL survivor.
    *
    * Routed through the [[containmentPairs]] skew auto-router: at corpus
    * scale a boilerplate shingle silently turns the plain inverted-index
    * plan quadratic; the default max-df probe detects that and switches
    * to the skew-proof prefix-filter plan (both exact — identical drops).
    */
  def dropContained(df: DataFrame, idCol: String, textCol: String,
                    shingleSize: Int = 3,
                    minContainment: Double = 0.9,
                    skewGuard: Option[Boolean] = None,
                    skewMaxDf: Long = 1024L): DataFrame = {
    val drops = containmentDropEdges(df, idCol, textCol, shingleSize,
        minContainment, skewGuard, skewMaxDf)
      .select(col("contained_id").as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** The directed drop-justification edges shared by both drop flavors:
    * (contained_id, container_id) where the container ranks strictly
    * higher (more distinct shingles, or equally many and a smaller id) —
    * a strict total-order comparison, so the edge set is a DAG.
    */
  private def containmentDropEdges(df: DataFrame, idCol: String,
                                   textCol: String, shingleSize: Int,
                                   minContainment: Double,
                                   skewGuard: Option[Boolean],
                                   skewMaxDf: Long): DataFrame =
    containmentPairsSized(df, idCol, textCol, shingleSize, minContainment,
        skewGuard, skewMaxDf)
      .filter(col("__sz_b") > col("__sz_a") ||
        (col("__sz_b") === col("__sz_a") &&
          col("container_id") < col("contained_id")))
      .select(col("contained_id"), col("container_id"))

  /** EXACT-fixpoint [[dropContained]]: a document is dropped iff it is
    * contained (≥ `minContainment`) in a higher-ranked document that
    * itself SURVIVES. Greedy drops every contained document even when
    * its only container is itself dropped by a still-larger one — a
    * below-1.0 containment chain A⊂B, B⊂C with A⊄C then loses A's
    * content from the corpus entirely; here A is kept because no FINAL
    * survivor contains it. Equivalent to the sequential rule "process
    * docs in rank order (shingle count desc, id asc); keep unless
    * contained in an already-kept doc" — the deterministic minimum
    * greedy-sequential survivor set.
    *
    * Cost: the containment pairs are computed ONCE (the expensive join,
    * skew-routed exactly like [[dropContained]]); the fixpoint then
    * iterates on the skinny edge frame only, peeling per round
    *   - SURVIVORS: undecided docs with no remaining out-edge (every
    *     potential container already dropped, or none existed), then
    *   - DROPPED: docs with an edge to a new survivor,
    * with localCheckpoint-truncated lineage per round (the
    * [[connectedComponents]] pattern). Rank-strict edges form a DAG, so
    * the highest-ranked undecided doc resolves every round — rounds ≤
    * longest containment chain, far below `maxIter` in practice.
    *
    * @throws IllegalStateException if not converged in maxIter rounds
    */
  def dropContainedFixpoint(df: DataFrame, idCol: String, textCol: String,
                            shingleSize: Int = 3,
                            minContainment: Double = 0.9,
                            skewGuard: Option[Boolean] = None,
                            skewMaxDf: Long = 1024L,
                            maxIter: Int = 50): DataFrame = {
    var (edges, n) = Rounds.counted(containmentDropEdges(df, idCol, textCol,
      shingleSize, minContainment, skewGuard, skewMaxDf))
    var droppedAcc: Option[DataFrame] = None
    var iter = 0
    while (n > 0L) {
      if (iter >= maxIter) throw new IllegalStateException(
        s"dropContainedFixpoint did not converge in $maxIter rounds")
      // undecided universe = docs still carrying edges; a doc whose
      // out-edges are all gone is a survivor THIS round
      val undecided = edges.select(col("contained_id").as("id"))
        .union(edges.select(col("container_id").as("id"))).distinct()
      val survivors = undecided.join(edges.select(col("contained_id").as("id")),
        Seq("id"), "left_anti")
      val dropped = edges.join(survivors.select(col("id").as("container_id")),
          Seq("container_id"), "left_semi")
        .select(col("contained_id").as("id")).distinct()
        .localCheckpoint(true)
      // plain union: the accumulator is only read once after the loop,
      // and its leaves are the per-round checkpointed `dropped` frames —
      // a flat union of ≤ maxIter LogicalRDDs needs no materialization
      // job of its own (one driver round-trip per round removed)
      droppedAcc = Some(droppedAcc.fold(dropped)(_.union(dropped)))
      // decided docs (this round's survivors AND dropped) leave the edge
      // set: dropped containers can justify nothing, dropped containeds
      // are settled, survivor containeds (none, by construction) too
      val decided = survivors.union(dropped).distinct()
      val (next, m) = Rounds.counted(edges
        .join(decided.select(col("id").as("contained_id")),
          Seq("contained_id"), "left_anti")
        .join(decided.select(col("id").as("container_id")),
          Seq("container_id"), "left_anti"))
      Rounds.release(edges)
      edges = next
      n = m
      iter += 1
    }
    Rounds.release(edges)
    droppedAcc match {
      case None => df
      case Some(d) => df.join(d.select(col("id").as(idCol)), Seq(idCol), "left_anti")
    }
  }



  /** Cross-document duplicated-SPAN statistics — passage-level dedup, the
    * granularity below document near-dup (Lee et al. ACL'22,
    * "Deduplicating Training Data Makes Language Models Better"): a
    * boilerplate header or a copied passage inflates training data even
    * when the surrounding documents are unique. Every n-token window is
    * fingerprinted; a window is DUPLICATED if its fingerprint occurs in
    * at least `minDocs` distinct documents (within-doc repetition is
    * excluded by design — that signal is [[TextOps.dupTokenFraction]]).
    * Returns one row per input doc: (idCol, n_windows, n_dup_windows,
    * dup_fraction).
    *
    * Scale shape: the exploded (fingerprint, doc) stream is two skinny
    * columns; doc frequency is a distinct + count on the fingerprint key
    * (map-side combined), and the duplicated set joins back fingerprint-
    * keyed — never all-pairs, no driver traffic. Windows are built from
    * ONE materialized token array per row with an O(n) slice per
    * position (NOT re-tokenizing inside the lambda — the q75 trap).
    *
    * `fingerprint` defaults to xxhash64 (8-byte shuffle keys — the scale
    * path); pass e.g. md5 for cross-engine-replayable fingerprints (the
    * q87 oracle does).
    */
  def crossDocSpans(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 8, minDocs: Int = 2,
                    fingerprint: Column => Column = (c: Column) => xxhash64(c)): DataFrame = {
    require(n >= 1, "span length must be >= 1")
    require(minDocs >= 2, "cross-doc duplication needs minDocs >= 2")
    val (docs, spans) = spanFrames(df, idCol, textCol, n, fingerprint)
    val dupFps = spans.dropDuplicates(idCol, "__fp")
      .groupBy(col("__fp")).agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col("__fp"))
    spanReport(docs, spans, dupFps, idCol)
  }

  /** (docs, spans) frames shared by the span-dedup flavors: docs =
    * (idCol, n_windows, __toks); spans = (idCol, __fp) with one row per
    * window POSITION (within-doc repeats kept — distinct-doc counting
    * happens at the df stage).
    */
  private def spanFrames(df: DataFrame, idCol: String, textCol: String,
                         n: Int, fingerprint: Column => Column): (DataFrame, DataFrame) = {
    val toks = split(trim(lower(col(textCol))), "\\s+")
    val docs = df.select(col(idCol),
      greatest(size(toks) - (n - 1), lit(0)).cast("long").as("n_windows"),
      toks.as("__toks"))
    // sequence(1, 0) would generate DESCENDING [1, 0] — guard empty docs
    val spans = docs
      .filter(col("n_windows") >= 1)
      .select(col(idCol), explode(transform(
        sequence(lit(1), col("n_windows").cast("int")),
        i => fingerprint(concat_ws(" ", slice(col("__toks"), i, lit(n)))))).as("__fp"))
    (docs, spans)
  }

  private def spanReport(docs: DataFrame, spans: DataFrame,
                         dupFps: DataFrame, idCol: String): DataFrame = {
    val dupCounts = spans.join(dupFps, Seq("__fp"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_dup_windows"))
    docs.select(col(idCol), col("n_windows"))
      .join(dupCounts, Seq(idCol), "left")
      .select(col(idCol), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
      .withColumn("dup_fraction",
        when(col("n_windows") >= 1,
          round(col("n_dup_windows").cast("double") / col("n_windows"), 6))
          .otherwise(lit(0.0)))
  }

  /** Span-fingerprint index over a corpus: one (fingerprint, n_docs) row
    * per distinct window fingerprint, n_docs = DISTINCT documents
    * containing it. The skinny persisted artifact that makes the nightly
    * span-dedup check incremental — build it once (or maintain it by
    * appending each ingested wave's spanIndex; the consumer re-aggregates
    * per fingerprint, so multi-row fingerprints are fine as long as each
    * DOCUMENT appears in exactly one appended wave), and
    * [[crossDocSpansAgainstCorpus]] charges each new batch only its own
    * size, the q70 shape at passage level. Two long-ish columns; parquet
    * it wherever the corpus lives.
    */
  def spanIndex(corpus: DataFrame, idCol: String, textCol: String,
                n: Int = 8,
                fingerprint: Column => Column = (c: Column) => xxhash64(c)): DataFrame = {
    require(n >= 1, "span length must be >= 1")
    val (_, spans) = spanFrames(corpus, idCol, textCol, n, fingerprint)
    spans.dropDuplicates(idCol, "__fp")
      .groupBy(col("__fp")).agg(count(lit(1)).as("n_docs"))
  }

  /** Incremental [[crossDocSpans]]: per-BATCH-doc duplicated-window stats
    * where a window is duplicated when its fingerprint occurs in at least
    * `minDocs` distinct documents across batch ∪ indexed corpus (batch
    * distinct-doc counts and the index's `n_docs` add — distinct-doc sets
    * partition cleanly, so this EQUALS running [[crossDocSpans]] over the
    * union and keeping the batch rows; asserted as a property in
    * OpsSpec). Cost ∝ batch: the corpus contributes only through the
    * prebuilt `index` ([[spanIndex]] output), joined fingerprint-keyed.
    */
  def crossDocSpansAgainstCorpus(batch: DataFrame, idCol: String, textCol: String,
                                 index: DataFrame, n: Int = 8, minDocs: Int = 2,
                                 fingerprint: Column => Column = (c: Column) => xxhash64(c)): DataFrame = {
    require(n >= 1, "span length must be >= 1")
    require(minDocs >= 2, "cross-doc duplication needs minDocs >= 2")
    val (docs, spans) = spanFrames(batch, idCol, textCol, n, fingerprint)
    // re-aggregate the index first: an append-maintained index can hold
    // several rows per fingerprint (one per appended wave), and the
    // threshold must see their SUM, not any single fragment row
    val corpusDf = index.groupBy(col("__fp")).agg(sum(col("n_docs")).as("__cdocs"))
    val dupFps = spans.dropDuplicates(idCol, "__fp")
      .groupBy(col("__fp")).agg(count(lit(1)).as("__bdocs"))
      .join(corpusDf, Seq("__fp"), "left")
      .filter(col("__bdocs") + coalesce(col("__cdocs"), lit(0L)) >= minDocs)
      .select(col("__fp"))
    spanReport(docs, spans, dupFps, idCol)
  }
}
