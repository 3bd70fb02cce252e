package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Preference-pair (DPO/RLHF) data hygiene: the checks a reward-model /
  * preference-optimization pipeline runs before training — degenerate
  * pairs, duplicated prompts, and the length-bias audit (reward models
  * notoriously learn "longer is better" when the chosen side skews
  * long; Singhal et al. 2023). Completes the post-training plane next
  * to [[Chat]].
  *
  * All projections + one window on the prompt fingerprint + one
  * aggregation — nothing leaves the engine, everything SQL-replayable.
  */
object Preference {

  /** Per-pair hygiene verdicts:
    *   - `prompt_fp`: md5 of the whitespace/case-normalized prompt
    *     (the [[TextOps.fingerprintMd5]] spelling) — the dedup/leakage
    *     join key;
    *   - `degenerate`: chosen and rejected normalize to the SAME text —
    *     zero preference signal (NULL-safe: a NULL side is not equal);
    *   - `empty_side`: either side normalizes to empty or is NULL;
    *   - `no_prompt`: the prompt normalizes to empty or is NULL (all
    *     such pairs share md5("") — without the flag they would be
    *     "deduped" to one promptless survivor);
    *   - `prompt_dups`: pairs sharing this prompt fingerprint (window
    *     count — >1 means the prompt repeats across pairs);
    *   - `keep`: the pair is clean (neither flag fires) and is the
    *     min-id representative among this fingerprint's CLEAN pairs —
    *     a degenerate min-id pair must not drag its whole prompt group
    *     down with it.
    *
    * Returns the SKINNY verdict frame (idCol, prompt_fp, degenerate,
    * empty_side, no_prompt, prompt_dups, keep): only these columns
    * enter the fingerprint window's shuffle — pair text never travels;
    * join verdicts back on the id to recover it.
    */
  def pairHygiene(pairs: DataFrame, idCol: String, promptCol: String,
                  chosenCol: String, rejectedCol: String): DataFrame = {
    val nc = TextOps.normalized(col(chosenCol))
    val nr = TextOps.normalized(col(rejectedCol))
    val fp = TextOps.fingerprintMd5(col(promptCol))
    val wFp = Window.partitionBy(col("prompt_fp"))
    val np = TextOps.normalized(col(promptCol))
    // flags are per-row projections computed BEFORE the fingerprint
    // window, and only the skinny (id, fp, flags) frame enters its
    // shuffle — pair text never travels (the q125 contract); callers
    // needing the text join back on the id
    val flagged = pairs.select(
      col(idCol),
      fp.as("prompt_fp"),
      (nc.isNotNull && nr.isNotNull && nc === nr).as("degenerate"),
      (col(chosenCol).isNull || col(rejectedCol).isNull ||
        nc === "" || nr === "").as("empty_side"),
      // a promptless pair is its own defect — and WITHOUT this flag
      // every empty-prompt pair in the corpus would share md5("") and
      // be "deduped" down to one survivor that then trains promptless
      (np.isNull || np === "").as("no_prompt"))
    flagged
      .withColumn("prompt_dups", count(lit(1)).over(wFp))
      .withColumn("__clean",
        !col("degenerate") && !col("empty_side") && !col("no_prompt"))
      .withColumn("__minClean",
        min(when(col("__clean"), col(idCol))).over(wFp))
      .withColumn("keep",
        col("__clean") && col(idCol) === col("__minClean"))
      .drop("__clean", "__minClean")
  }

  /** Corpus-level length-bias audit: exact token totals per side, the
    * count of pairs whose chosen side is strictly longer, and the mean
    * lengths (6-dp rounded — replayable). A `frac_chosen_longer` far
    * from 0.5 is the classic length-hacking signature.
    */
  def lengthBias(pairs: DataFrame, chosenCol: String,
                 rejectedCol: String): DataFrame = {
    val tc = TextOps.tokenCount(col(chosenCol))
    val tr = TextOps.tokenCount(col(rejectedCol))
    // totals, means and the longer-fraction run over COMPARED pairs
    // only (both sides non-NULL): mixing NULL-sided pairs into n_pairs
    // while their tokens skip the sums would deflate the means and cap
    // frac_chosen_longer — masking exactly the bias this audit detects
    val cmp = col("__tc").isNotNull && col("__tr").isNotNull
    pairs
      .select(tc.as("__tc"), tr.as("__tr"))
      .agg(
        count(lit(1)).as("n_pairs"),
        count(when(cmp, lit(1))).as("n_compared"),
        coalesce(sum(when(cmp, col("__tc"))), lit(0L)).as("chosen_tokens"),
        coalesce(sum(when(cmp, col("__tr"))), lit(0L)).as("rejected_tokens"),
        coalesce(sum(when(cmp && col("__tc") > col("__tr"), 1L)
          .otherwise(when(cmp, 0L))), lit(0L)).as("n_chosen_longer"))
      .select(col("n_pairs"), col("n_compared"), col("chosen_tokens"),
        col("rejected_tokens"), col("n_chosen_longer"),
        round(col("chosen_tokens").cast("double") / col("n_compared"), 6)
          .as("mean_chosen_tokens"),
        round(col("rejected_tokens").cast("double") / col("n_compared"), 6)
          .as("mean_rejected_tokens"),
        round(col("n_chosen_longer").cast("double") / col("n_compared"), 6)
          .as("frac_chosen_longer"))
  }

  /** Bradley–Terry preference-strength fitting (Bradley & Terry 1952)
    * via Hunter's MM algorithm (Ann. Statist. 2004) — the model behind
    * arena-style rankings: from pairwise outcomes, latent strengths
    * π with P(i beats j) = π_i/(π_i+π_j). The reward-model data
    * readout: are the preference pairs consistent, and how far apart
    * are the items they compare?
    *
    *   π_i ← W_i / Σ_{j≠i} n_ij/(π_i+π_j),   then max-normalize.
    *
    * Determinism (the [[graft.ops.WebGraph.hits]] discipline): a fixed
    * number of MM rounds in SCALE-scaled integer arithmetic — each
    * term n_ij·SCALE² div (π_i+π_j), each update W_i·SCALE² div T_i,
    * the normalization π·SCALE div max(π) — products through
    * DECIMAL(38,0)/HUGEINT, every denominator floored at 1, so every
    * round replays bit-exactly as an unrolled CTE. An item with zero
    * wins lands at exactly 0; the strongest item at exactly SCALE.
    *
    * MM needs the comparison graph connected to identify strengths —
    * with disconnected components each component is ranked internally
    * and max-normalization anchors the global top only; fixed-k replay
    * is exact either way.
    *
    * Scale shape: one aggregation to the (i, j) comparison plane;
    * rounds run entirely on that plane + the item plane (two skinny
    * joins, one aggregation; the 1-row normalization max rides the
    * round's checkpoint job as an observed metric), each round
    * localCheckpoint-ed (O(1) plan depth). No driver collects.
    *
    * → (item, n_wins, n_comparisons, strength_scaled, strength) ordered
    *   by nothing — callers sort; strength = strength_scaled/SCALE.
    */
  def bradleyTerry(outcomes: DataFrame, winnerCol: String,
                   loserCol: String, iterations: Int = 10,
                   scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1,50], got $iterations")
    val o = outcomes
      .select(col(winnerCol).cast("string").as("__w"),
        col(loserCol).cast("string").as("__l"))
      .filter(col("__w").isNotNull && col("__l").isNotNull &&
        col("__w") =!= col("__l")) // self-comparisons carry no signal
    // symmetric comparison plane: n_ab = total games between a and b
    val edges = o.select(col("__w").as("__a"), col("__l").as("__b"))
      .unionByName(o.select(col("__l").as("__a"), col("__w").as("__b")))
      .groupBy("__a", "__b").agg(count(lit(1)).as("__n"))
      .localCheckpoint() // loop-invariant plane
    val wins = o.groupBy(col("__w").as("__a"))
      .agg(count(lit(1)).as("__wins"))
    val items = edges.groupBy("__a")
      .agg(sum(col("__n")).as("__games"))
      .join(wins, Seq("__a"), "left")
      .withColumn("__wins", coalesce(col("__wins"), lit(0L)))
      .localCheckpoint()
    // Auxiliary precision: T terms carry 10^6 sub-unit precision and
    // denominators floor at 10^4 scaled units (strength 10^-8 of the
    // top — only already-vanished items are affected), which keeps
    // every integer QUOTIENT below 2^63: Spark's `div` yields BIGINT,
    // so a quotient past long range would overflow here while DuckDB's
    // HUGEINT replay sailed on — the floor makes both engines exact.
    val aux = 1000000L
    val denFloor = 10000L
    var p = items.select(col("__a"), lit(scale).as("__p"))
      .localCheckpoint()
    var held = p // the checkpoint `p` reads
    for (_ <- 1 to iterations) {
      val pa = p.select(col("__a"), col("__p").as("__pa"))
      val pb = p.select(col("__a").as("__b"), col("__p").as("__pb"))
      val t = edges.join(pa, Seq("__a")).join(pb, Seq("__b"))
        .withColumn("__term", expr(
          s"(CAST(__n AS DECIMAL(38,0)) * $scale * $aux) div " +
            s"greatest(__pa + __pb, CAST($denFloor AS BIGINT))"))
        .groupBy("__a")
        .agg(sum(col("__term").cast("decimal(38,0)")).as("__t"))
      val upd = items.join(t, Seq("__a"))
        .withColumn("__pn", expr(
          s"(CAST(__wins AS DECIMAL(38,0)) * $scale * $aux) div " +
            s"greatest(__t, CAST(1 AS DECIMAL(38,0)))"))
      // the 1-row normalization max rides the checkpoint job and
      // divides as a literal, so `upd`'s joins and aggregation run once
      // per round; greatest(mx, 1) folds on the driver (and covers the
      // empty-frame null max)
      val (chk, mxRow) = Rounds.checkpoint(
        upd.select(col("__a"), col("__pn")), max(col("__pn")).as("__mx"))
      val mx = if (mxRow.isNullAt(0)) 1L else math.max(mxRow.getLong(0), 1L)
      Rounds.release(held)
      held = chk
      p = chk.select(col("__a"), expr(
        s"(CAST(__pn AS DECIMAL(38,0)) * $scale) div ${mx}L").as("__p"))
    }
    Rounds.release(edges) // `items` and the last round are checkpointed
    items.join(p, Seq("__a"))
      .select(col("__a").as("item"), col("__wins").as("n_wins"),
        col("__games").as("n_comparisons"),
        col("__p").as("strength_scaled"),
        (col("__p").cast("double") / lit(scale.toDouble)).as("strength"))
  }
}
