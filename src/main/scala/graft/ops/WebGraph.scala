package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Host-graph analytics over a web corpus: the link-based quality plane
  * (Page et al. 1999; Common Crawl publishes exactly this host-level
  * ranking for crawl prioritization). Composes with [[Html.linkGraph]]:
  * crawl → extract links → host edges → PageRank → per-host quality
  * prior joined back onto documents.
  *
  * Not in the reference surface (`/root/reference/` stops at typed
  * rows) — engine-extension surface for the training-data pipeline.
  */
object WebGraph {

  /** Fixed-iteration PageRank over a (src, dst) edge list, in EXACT
    * scaled-integer arithmetic so results are bit-reproducible across
    * engines and cluster sizes (the q129 RRF recipe: BIGINT `div`, no
    * float anywhere):
    *
    *   rank_0(v)   = SCALE div N
    *   rank_t+1(v) = ((100-d)·rank_0) div 100
    *               + (d · Σ_{u→v} (rank_t(u) div outdeg(u))) div 100
    *
    * Truncating integer division loses ≤1 unit per term — at
    * SCALE=10^12 that is 10^-12 of the mass, far below any ranking
    * decision — and buys exact determinism: a float PageRank differs
    * in the last ulp per partition-order, an integer one never.
    *
    * Scale shape: `edges` is distinct-ed and joined to its out-degree
    * ONCE, persisted, and reused every iteration (the invariant side of
    * the loop — at 100 TB this is the big frame, and re-deriving it per
    * iteration would re-shuffle the corpus k times); the rounds are
    * [[rankRounds]]. Dangling nodes (no out-edges) contribute nothing,
    * matching the "remove dangling mass" PageRank variant —
    * deterministic and oracle-replayable; the redistribution variant
    * needs a global scalar per iteration.
    *
    * Driver traffic: a single `count()` of the node frame (one long) —
    * N is needed as an exact integer in the rank formula.
    *
    * @return (node, rank) — rank in SCALE-scaled integer units.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 8, dampingPct: Int = 85,
               scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1,50], got $iterations")
    uniformPageRank(edges, srcCol, dstCol, iterations, dampingPct, scale,
      tolerance = -1L)._1
  }

  /** [[pageRank]] that stops as soon as the largest per-node rank
    * movement `max |rank_t+1 − rank_t|` drops to `tolerance`
    * scaled-integer units or below, with `maxIter` as the backstop. The
    * movement is an observed metric of each round's checkpoint job
    * ([[rankRounds]]), so at web scale the early exit saves whole
    * edge-join iterations at no probe job. An intermediate iterate of
    * the converged run is bit-identical to the fixed-k run at the same k
    * (same update rule, same integer arithmetic), so the fixed-k flavor
    * stays the oracle-replay surface.
    *
    * @return (ranks, iterationsRun)
    */
  def pageRankConverged(edges: DataFrame, srcCol: String, dstCol: String,
                        maxIter: Int = 50, tolerance: Long = 1000L,
                        dampingPct: Int = 85,
                        scale: Long = 1000000000000L): (DataFrame, Int) = {
    require(maxIter >= 1 && maxIter <= 50,
      s"maxIter must be in [1,50], got $maxIter")
    require(tolerance >= 0, s"tolerance must be >= 0, got $tolerance")
    uniformPageRank(edges, srcCol, dstCol, maxIter, dampingPct, scale,
      tolerance)
  }

  /** [[pageRank]]'s start and update rule on [[rankRounds]]. */
  private def uniformPageRank(edges: DataFrame, srcCol: String,
                              dstCol: String, maxIter: Int, dampingPct: Int,
                              scale: Long, tolerance: Long): (DataFrame, Int) = {
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0,100], got $dampingPct")
    val (nodes, eo) = outDegreePlane(edges, srcCol, dstCol)
    val n = nodes.count() // bounded driver traffic: one scalar
    require(n > 0, "pageRank: empty graph")
    val r0 = scale / n
    val base = (100L - dampingPct) * r0 / 100L
    val out = rankRounds(eo, nodes.select(col("node"), lit(r0).as("rank")),
      expr("rank div outdeg"),
      lit(base) + expr(s"($dampingPct * inflow) div 100"), maxIter, tolerance)
    nodes.unpersist()
    eo.unpersist()
    out
  }

  /** `edges`' (srcCol, dstCol) as a string pair plane named (`s`, `d`),
    * rows with a null end dropped — how the unweighted operators read
    * their edge list.
    */
  private def edgePlane(edges: DataFrame, srcCol: String, dstCol: String,
                        s: String = "src", d: String = "dst"): DataFrame =
    edges.select(col(srcCol).cast("string").as(s),
        col(dstCol).cast("string").as(d))
      .filter(col(s).isNotNull && col(d).isNotNull)

  /** The distinct edges of [[pageRank]] and [[personalizedPageRank]] →
    * (nodes (node), edges with their src out-degree (src, dst, outdeg)),
    * both persisted; the caller unpersists.
    */
  private def outDegreePlane(edges: DataFrame, srcCol: String,
                             dstCol: String): (DataFrame, DataFrame) = {
    val e = edgePlane(edges, srcCol, dstCol).distinct()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    (nodes, e.join(outdeg, "src").persist())
  }

  /** The rank-propagation rounds of the PageRank family ([[pageRank]],
    * [[katzCentrality]], [[weightedPageRank]], [[personalizedPageRank]]).
    * Round t+1 joins the loop-invariant edge frame `eo` (src, dst, …) to
    * round t's ranks on src and sums `contrib` (over `eo`'s columns and
    * `rank`) per dst into `inflow`; round t's own rows join that sum as
    * zero contributions, so every node keeps its row, its previous rank
    * and the columns `ranks0` carries beside (node, rank). `rank` becomes
    * `update`, an expression over `inflow` and those columns. Per round:
    * one join keyed on src and one aggregation keyed on node, over skinny
    * node-keyed frames, in the caller's exact integer arithmetic. (A left
    * join of round t to the sums would shuffle round t's checkpoint once
    * more: its partitioning is unknown to the planner.)
    *
    * With the previous rank on the same row, the largest movement
    * `max |rank − prev|` is an observed metric of the round's
    * [[Rounds.checkpoint]] job: the rounds stop once it is ≤ `tolerance`
    * (`tolerance < 0` runs all `maxIter`) without a probe job. Each
    * round is released once the next is materialized.
    *
    * @return ((node, rank) of the last round, rounds run)
    */
  private def rankRounds(eo: DataFrame, ranks0: DataFrame, contrib: Column,
                         update: Column, maxIter: Int,
                         tolerance: Long): (DataFrame, Int) = {
    val carried = ranks0.columns.toSeq.filterNot(Set("node", "rank"))
    val kept = carried :+ "__prev"
    var ranks = ranks0
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val inflow = eo
        .join(ranks.select(col("node").as("src"), col("rank")), "src")
        .select(col("dst").as("node"), contrib.as("inflow"))
      val own = ranks.select((col("node") +: carried.map(col)) :+
        col("rank").as("__prev") :+ lit(0L).as("inflow"): _*)
      val (next, moved) = Rounds.checkpoint(
        inflow.unionByName(own, allowMissingColumns = true)
          .groupBy("node")
          .agg(sum("inflow").as("inflow"), kept.map(c => max(c).as(c)): _*)
          .select((col("node") +: kept.map(col)) :+ update.as("rank"): _*),
        max(abs(col("rank") - col("__prev"))))
      Rounds.release(ranks)
      ranks = next
      iter += 1
      done = tolerance >= 0L && moved.getLong(0) <= tolerance
    }
    (ranks.select(col("node"), col("rank")), iter)
  }

  /** Truncated Katz centrality (Katz, Psychometrika 1953) — the
    * walk-counting prestige score next to [[pageRank]]: each node's
    * score sums α^ℓ-attenuated walk counts into it,
    *
    *   katz_0(v)   = SCALE
    *   katz_t+1(v) = SCALE + (αNum · Σ_{u→v} katz_t(u)) div αDen
    *
    * truncated at `iterations` terms, in EXACT scaled-integer
    * arithmetic (the [[pageRank]] determinism discipline — BIGINT
    * `div`, no float anywhere). Unlike PageRank there is NO out-degree
    * normalization: a node pointed to by many well-connected nodes
    * scores high even if those nodes also point elsewhere — the
    * hub-prestige semantics crawl planners use beside rank.
    *
    * OVERFLOW CONTRACT (loud, never silent): truncated Katz grows like
    * (α·indegree)^t, so the op measures max in-degree up front and
    * requires αNum·maxInDeg ≤ 7·αDen; with iterations ≤ 8, αDen ≤ 100
    * and scale ≤ 1e9 every partial value then fits BIGINT with
    * headroom (max score ≤ scale·(7⁹−1)/6 < 7e15, scaled inflow
    * < 5e18). A graph/α pair outside the bound raises with the bound
    * named — pick a smaller α for hub-heavy graphs.
    *
    * Edges are distinct-ed and persisted once; the rounds are
    * [[rankRounds]]; one scalar (max in-degree) goes to the driver up
    * front.
    *
    * → (node, katz) in SCALE-scaled integer units.
    */
  def katzCentrality(edges: DataFrame, srcCol: String, dstCol: String,
                     alphaNum: Int = 1, alphaDen: Int = 4,
                     iterations: Int = 8,
                     scale: Long = 1000000000L): DataFrame = {
    require(alphaNum >= 1 && alphaNum < alphaDen && alphaDen <= 100,
      s"alpha must be in (0,1) with alphaDen <= 100, got $alphaNum/$alphaDen")
    require(iterations >= 1 && iterations <= 8,
      s"iterations must be in [1,8], got $iterations")
    require(scale >= 1L && scale <= 1000000000L,
      s"scale must be in [1,1e9], got $scale")
    val e = edgePlane(edges, srcCol, dstCol).distinct().persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    val maxInDeg = e.groupBy("dst").agg(count(lit(1)).as("d"))
      .agg(max(col("d"))).head().getLong(0) // one scalar to the driver
    require(alphaNum.toLong * maxInDeg <= 7L * alphaDen,
      s"katzCentrality overflow bound: alphaNum*maxInDeg = " +
        s"${alphaNum.toLong * maxInDeg} exceeds 7*alphaDen = " +
        s"${7L * alphaDen} — truncated Katz grows like " +
        s"(alpha*indegree)^t; choose a smaller alpha for this graph")
    val (ranks, _) = rankRounds(e,
      nodes.select(col("node"), lit(scale).as("rank")), col("rank"),
      lit(scale) + expr(s"($alphaNum * inflow) div $alphaDen"), iterations,
      tolerance = -1L)
    e.unpersist()
    Rounds.release(nodes)
    ranks.withColumnRenamed("rank", "katz")
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) over a (src, dst)
    * edge list, in EXACT max-normalized scaled-integer arithmetic (the
    * [[pageRank]] determinism discipline):
    *
    *   hub_0(u)  = SCALE
    *   auth_t(v) = normalize( Σ_{u→v} hub_{t−1}(u) )
    *   hub_t(u)  = normalize( Σ_{u→v} auth_t(v) )
    *
    * where normalize(x) = (x · SCALE) div max(x) — the top node is
    * exactly SCALE each half-step, rankings are scale-invariant, and
    * the DECIMAL(38,0) product makes the normalization overflow-safe at
    * any in-degree (a BIGINT product would overflow past ~10^9·SCALE
    * summed mass; DuckDB replays the same step through HUGEINT).
    *
    * Same scale shape as [[pageRank]]: edges distinct-ed once and
    * persisted, per-iteration work = two skinny joins + two
    * aggregations, the two one-row normalization maxes riding the
    * half-step checkpoint jobs as observed metrics; hub/auth frames
    * localCheckpoint so the plan stays O(1) deep.
    *
    * @return (node, hub, auth) in SCALE-scaled integer units
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int = 4,
           scale: Long = 1000000000L): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1,50], got $iterations")
    require(scale > 0, s"scale must be > 0, got $scale")
    val e = edgePlane(edges, srcCol, dstCol).distinct().persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().persist()
    require(!e.isEmpty, "hits: empty graph")

    // normalize a raw (node, v) frame: (v * SCALE) div max(v), decimal
    // product so the multiply cannot overflow. The max rides the
    // checkpoint job and divides as a literal, so `raw`'s plan runs
    // once per half-step.
    def normalized(raw: DataFrame, vCol: String, outCol: String): DataFrame = {
      val (chk, mxRow) = Rounds.checkpoint(raw,
        max(col(vCol)).cast("bigint").as("__mx"))
      val mx = mxRow.getLong(0)
      chk.select(col("node"),
        expr(s"CAST(CAST($vCol AS DECIMAL(38,0)) * ${scale}L " +
          s"AS DECIMAL(38,0)) div ${mx}L").as(outCol))
    }

    var hub = nodes.select(col("node"), lit(scale).as("hub"))
    var auth = nodes.select(col("node"), lit(0L).as("auth"))
    for (_ <- 1 to iterations) {
      val rawA = nodes.join(
          e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(col("dst").as("node")).agg(sum("hub").as("__ra")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("__ra"), lit(0L)).as("__ra"))
      auth = normalized(rawA, "__ra", "auth")
      val rawH = nodes.join(
          e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(col("src").as("node")).agg(sum("auth").as("__rh")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("__rh"), lit(0L)).as("__rh"))
      hub = normalized(rawH, "__rh", "hub")
    }
    val out = hub.join(auth, "node")
    nodes.unpersist()
    e.unpersist()
    out
  }

  /** Weighted PageRank — [[pageRank]] with per-edge weights (the
    * natural fit for [[graft.ops.Html.linkGraph]]'s (src, dst, n_links)
    * edges: a host linking another 500 times endorses it more than
    * once): contribution of u to v is rank(u)·w(u→v) div Σ_out w(u),
    * in the same exact integer arithmetic — the product carried in
    * DECIMAL(38,0) (HUGEINT in the oracle) so weight × SCALE cannot
    * overflow. Duplicate (src, dst) rows collapse additively. With all
    * weights equal the result is bit-identical to [[pageRank]]
    * (spec-pinned). The rounds are [[rankRounds]].
    */
  def weightedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, iterations: Int = 8,
                       dampingPct: Int = 85,
                       scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1,50], got $iterations")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0,100], got $dampingPct")
    val e = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"),
        col(weightCol).cast("long").as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("w") > 0)
      .groupBy("src", "dst").agg(sum("w").as("w"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().persist()
    val outw = e.groupBy("src").agg(sum("w").as("outw"))
    val eo = e.join(outw, "src").persist()

    val n = nodes.count()
    require(n > 0, "weightedPageRank: empty graph")
    val r0 = scale / n
    val base = (100L - dampingPct) * r0 / 100L
    val (ranks, _) = rankRounds(eo,
      nodes.select(col("node"), lit(r0).as("rank")),
      expr("CAST(CAST(rank AS DECIMAL(38,0)) * w AS DECIMAL(38,0)) div outw"),
      lit(base) + expr(s"($dampingPct * inflow) div 100"), iterations,
      tolerance = -1L)
    nodes.unpersist()
    eo.unpersist()
    ranks
  }

  /** Per-node triangle counts and local clustering coefficients over
    * the UNDIRECTED projection of a (src, dst) edge list — the
    * community-structure diagnostics of the host graph (spam farms
    * cluster; organic link neighborhoods don't).
    *
    * Algorithm: degree-ordered edge orientation ("compact-forward",
    * Latapy TCS 2008; cf. Suri & Vassilvitskii WWW'11 for the MapReduce
    * argument): every undirected edge points from the endpoint with the
    * smaller (degree, node) to the larger, making the orientation
    * acyclic with out-degrees bounded by graph arboricity — the wedge
    * join (out-neighbors paired per source) cannot melt on a celebrity
    * node the way a naive neighbor self-join does, which is the
    * difference between O(m^1.5) and O(m·d_max) shuffle at 100 TB.
    * Each triangle is found exactly once (its unique vertex with
    * out-edges to both others) and credited to all three corners.
    *
    * → (node, degree, triangles, clustering) — clustering =
    *   2T / (d·(d−1)) as a double, 0 when degree < 2.
    */
  def triangleStats(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = {
    val und = edgePlane(edges, srcCol, dstCol, "u", "v")
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    // orient each edge from the smaller (degree, node) endpoint
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("db")), "b")
    val oriented = withDeg.select(
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("lo"), col("b").as("hi")))
        .otherwise(struct(col("b").as("lo"), col("a").as("hi")))
        .as("e"))
      .select(col("e.lo").as("lo"), col("e.hi").as("hi"))
    // wedges from each source's out-neighbor pairs; close with the
    // canonical undirected edge
    val wedges = oriented.alias("x")
      .join(oriented.alias("y"), col("x.lo") === col("y.lo") &&
        col("x.hi") < col("y.hi"))
      .select(col("x.lo").as("w0"), col("x.hi").as("w1"),
        col("y.hi").as("w2"))
    val tri = wedges.join(und,
      least(col("w1"), col("w2")) === col("a") &&
        greatest(col("w1"), col("w2")) === col("b"))
      .select(col("w0"), col("w1"), col("w2"))
    val perNode = tri
      .select(explode(array(col("w0"), col("w1"), col("w2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    val out = deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering",
        when(col("degree") >= 2,
          lit(2.0) * col("triangles").cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"))
          .otherwise(lit(0.0)))
    out
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * PRE 2007) over an edge list, made fully deterministic: every node
    * starts labeled with itself; each iteration every node adopts the
    * label that is most frequent among its (undirected, de-duplicated)
    * neighbors, ties broken by the LEXICOGRAPHICALLY SMALLEST label —
    * the (−count, label) struct-min, so the result is independent of
    * partition layout and replayable in SQL. Updates are synchronous
    * (all nodes read iteration t−1's labels), which with a fixed
    * iteration count gives a bit-reproducible community assignment;
    * the classic async variant is order-dependent by construction and
    * cannot be oracle-checked.
    *
    * Scale shape — the [[pageRank]] discipline: the neighbor list
    * (both directions of each distinct non-loop edge) is built ONCE and
    * persisted — at 100 TB this is the big frame, invariant across the
    * loop. Each iteration is one hash join of neighbors against the
    * skinny label frame (one row per NODE — hosts, not documents) plus
    * two aggregations (vote counts keyed by (node, label), then the
    * per-node struct-min — both map-side-combinable), and the label
    * frame is localCheckpoint-ed so the plan stays one iteration deep
    * instead of k joins deep. Nodes whose only edges are self-loops
    * have no neighbors and keep their own label (left join + coalesce).
    * Zero driver traffic inside the loop.
    *
    * @return (node, community) — community = the label after
    *         `iterations` synchronous rounds.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iterations: Int = 3): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1,50], got $iterations")
    val e = edgePlane(edges, srcCol, dstCol)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist()
    val noLoop = e.filter(col("src") =!= col("dst"))
    // loop-invariant neighbor SET (multi-edges vote once)
    val nbr = noLoop.select(col("src").as("node"), col("dst").as("nb"))
      .union(noLoop.select(col("dst").as("node"), col("src").as("nb")))
      .distinct()
      .persist()
    var labels = nodes.select(col("node"), col("node").as("lbl"))
    var iter = 0
    while (iter < iterations) {
      val winner = nbr
        .join(labels.select(col("node").as("nb"), col("lbl")), "nb")
        .groupBy(col("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(min(struct((-col("c")).as("negc"), col("lbl").as("l")))
          .as("top"))
        .select(col("node"), col("top.l").as("__new"))
      val next = labels.join(winner, Seq("node"), "left")
        .select(col("node"), coalesce(col("__new"), col("lbl")).as("lbl"))
        .localCheckpoint() // cut lineage: plan depth stays O(1), not O(k)
      Rounds.release(labels)
      labels = next
      iter += 1
    }
    nodes.unpersist()
    nbr.unpersist()
    labels.select(col("node"), col("lbl").as("community"))
  }

  /** Single-source shortest hop distances (level-synchronous BFS — the
    * Pregel/GraphX traversal primitive, here as pure DataFrame joins):
    * frontier_k = out-neighbors of frontier_{k−1} not yet visited;
    * every reached node reports the hop of its FIRST discovery, which
    * for unweighted edges is the shortest-path length. Directed —
    * follows edge direction.
    *
    * Scale shape: the edge frame is the loop-invariant big side,
    * persisted once; each round is one join of edges against the
    * current frontier (shrinking, usually ≪ nodes) plus one anti-join
    * against the visited set, both hash-partitioned on node; visited is
    * localCheckpoint-ed so the plan stays one round deep. Terminates
    * early when the frontier empties: the frontier's row count rides
    * its checkpoint job, so no round runs a probe job of its own.
    *
    * → (node, hop) for nodes reachable within `maxHops`; unreached
    *   nodes are absent.
    */
  def shortestHops(edges: DataFrame, srcCol: String, dstCol: String,
                   source: String, maxHops: Int = 10): DataFrame = {
    require(maxHops >= 1 && maxHops <= 64,
      s"maxHops must be in [1,64], got $maxHops")
    val e = edgePlane(edges, srcCol, dstCol)
      .distinct()
      .persist()
    val spark = edges.sparkSession
    import spark.implicits._
    var visited = Seq((source, 0L)).toDF("node", "hop").localCheckpoint()
    var frontier = visited.select(col("node"))
    var hop = 0L
    var done = false
    while (!done && hop < maxHops) {
      hop += 1L
      val (next, m) = Rounds.counted(
        e.join(frontier.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node")).distinct()
          .join(visited.select(col("node")), Seq("node"), "left_anti"))
      Rounds.release(frontier)
      frontier = next
      if (m == 0L) done = true
      else {
        val grown = visited
          .unionByName(next.select(col("node"), lit(hop).as("hop")))
          .localCheckpoint()
        Rounds.release(visited)
        visited = grown
      }
    }
    Rounds.release(frontier)
    e.unpersist()
    visited
  }

  /** Single-source WEIGHTED shortest paths by synchronous Bellman–Ford
    * relaxation (the Pregel SSSP kernel — Dijkstra's priority queue
    * does not distribute; k rounds of edge relaxation do): dist_{k}(v)
    * = min(dist_{k−1}(v), min over u→v of dist_{k−1}(u) + w(u,v)),
    * with INTEGER weights so every distance is exact and the unrolled
    * SQL replay is bit-equal. Requires non-negative weights.
    *
    * Scale shape: edges persisted once; each round is one join of
    * edges against the reached frontier plus one full-outer merge on
    * the skinny distance frame, localCheckpoint-ed to keep the plan
    * O(1) deep. Early exit when a round improves nothing: the count of
    * improved nodes rides the round's checkpoint job. `maxRounds`
    * backstops — rounds beyond convergence are no-ops, so an
    * early-exited run equals the fully unrolled replay.
    *
    * → (node, dist) for reachable nodes, exact integer distances.
    */
  def weightedShortestPaths(edges: DataFrame, srcCol: String,
                            dstCol: String, weightCol: String,
                            source: String,
                            maxRounds: Int = 10): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 64,
      s"maxRounds must be in [1,64], got $maxRounds")
    val e = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"),
        col(weightCol).cast("long").as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("w").isNotNull && col("w") >= 0)
      .groupBy("src", "dst").agg(min(col("w")).as("w")) // parallel edges
      .persist()
    val spark = edges.sparkSession
    import spark.implicits._
    // (node, dist) plus, after round 1, the round's __improved flag
    var dist = Seq((source, 0L)).toDF("node", "dist").localCheckpoint()
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      round += 1
      val cand = e.join(dist.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(min(col("dist") + col("w")).as("__nd"))
      val (merged, improved) = Rounds.checkpoint(
        dist.join(cand, Seq("node"), "full_outer")
          .select(col("node"),
            least(coalesce(col("dist"), col("__nd")),
              coalesce(col("__nd"), col("dist"))).as("dist"),
            (col("dist").isNull || (col("__nd").isNotNull &&
              col("__nd") < col("dist"))).as("__improved")),
        count_if(col("__improved")).as("__m"))
      Rounds.release(dist)
      dist = merged
      done = improved.getLong(0) == 0L
    }
    e.unpersist()
    dist.select(col("node"), col("dist"))
  }

  /** Whole-graph structural diagnostics (Newman, PRL 2002/2003 — the
    * network-science summary row): edge/node/self-loop counts,
    * RECIPROCITY (fraction of non-loop directed edges whose reverse
    * also exists — link farms reciprocate, organic webs rarely do) and
    * DEGREE ASSORTATIVITY (Pearson correlation of src out-degree vs
    * dst in-degree across edges — do hubs link hubs?).
    *
    * Exactness: reciprocity is a self-join count ratio (one IEEE
    * division); assortativity's five moments are exact
    * integer/DECIMAL(38,0) sums over the edge plane exiting the
    * VARCHAR bridge into the fixed Pearson sequence.
    *
    * Scale shape: edges distinct-ed once and reused (loops, reverse
    * join, degree joins all hang off it); degrees are skinny
    * node-keyed frames. Output is one row.
    *
    * → (n_nodes, n_edges, n_self_loops, reciprocity, assortativity)
    */
  def graphStats(edges: DataFrame, srcCol: String,
                 dstCol: String): DataFrame = {
    val e = edgePlane(edges, srcCol, dstCol)
      .distinct()
      .localCheckpoint() // reused five ways below
    val nNodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .agg(count(lit(1)).as("n_nodes"))
    val loops = e.agg(
      count(lit(1)).as("n_edges_all"),
      coalesce(sum(when(col("src") === col("dst"), 1L)), lit(0L))
        .as("n_self_loops"))
    val e2 = e.filter(col("src") =!= col("dst"))
    val recip = e2.join(
        e2.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"))
      .agg(count(lit(1)).as("__nrec"))
    val outdeg = e2.groupBy("src").agg(count(lit(1)).as("__od"))
    val indeg = e2.groupBy("dst").agg(count(lit(1)).as("__id"))
    val moments = e2.join(outdeg, "src").join(indeg, "dst")
      .agg(count(lit(1)).as("__n"),
        sum(col("__od")).as("__sx"), sum(col("__id")).as("__sy"),
        sum(col("__od").cast("decimal(38,0)") * col("__id")).as("__sxy"),
        sum(col("__od").cast("decimal(38,0)") * col("__od")).as("__sxx"),
        sum(col("__id").cast("decimal(38,0)") * col("__id")).as("__syy"))
    def d(name: String) = col(name).cast("string").cast("double")
    val nD = col("__n").cast("double")
    val cov = nD * d("__sxy") -
      col("__sx").cast("double") * col("__sy").cast("double")
    val vx = nD * d("__sxx") -
      col("__sx").cast("double") * col("__sx").cast("double")
    val vy = nD * d("__syy") -
      col("__sy").cast("double") * col("__sy").cast("double")
    nNodes.crossJoin(loops).crossJoin(recip).crossJoin(moments)
      .select(col("n_nodes"),
        (col("n_edges_all") - col("n_self_loops")).as("n_edges"),
        col("n_self_loops"),
        when(col("n_edges_all") - col("n_self_loops") > 0,
          col("__nrec").cast("double") /
            (col("n_edges_all") - col("n_self_loops")).cast("double"))
          .as("reciprocity"),
        when(vx > 0 && vy > 0, cov / (sqrt(vx) * sqrt(vy)))
          .as("assortativity"))
  }

  /** Per-host document-quality prior: PageRank of the host graph joined
    * back onto a document frame by host. Documents from unknown hosts
    * (not in the graph) get rank NULL — callers decide the default.
    */
  def hostQualityPrior(docs: DataFrame, hostCol: String,
                       hostRanks: DataFrame): DataFrame =
    docs.join(
      hostRanks.withColumnRenamed("node", hostCol)
        .withColumnRenamed("rank", "host_rank"),
      Seq(hostCol), "left")

  /** k-core of the UNDIRECTED simple graph induced by (src, dst): the
    * maximal subgraph in which every node has degree ≥ k (Seidman 1983
    * — the standard "dense backbone" extractor; for a host graph it
    * separates well-linked hub hosts from the long periphery). Computed
    * by the classic peel: repeatedly delete nodes whose degree within
    * the SURVIVING subgraph is < k, until a fixpoint. The peel order
    * doesn't matter (the k-core is unique), so the synchronous
    * delete-all-underdegree-nodes round used here reaches the same set
    * as any sequential peel.
    *
    * Scale shape: the undirected neighbor-set frame is built once and
    * persisted (the loop-invariant big side — 2·|E| rows); each round
    * is one semi-join of neighbors against the shrinking survivor set,
    * one degree aggregation, and one filter, with the survivor frame
    * (nodes only — the skinny side) localCheckpoint-ed so the plan
    * stays O(1) deep across rounds. The survivor count that detects
    * the fixpoint rides each survivor checkpoint job; rounds at the
    * fixpoint are no-ops, so an early-exit run equals any longer
    * replay — which is what lets a fixed-depth unrolled SQL oracle
    * certify the fixpoint.
    *
    * → (node, core_degree): members of the k-core with their degree
    *   inside the core (≥ k by construction).
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, maxRounds: Int = 200): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val e = edgePlane(edges, srcCol, dstCol)
      .filter(col("src") =!= col("dst"))
    // undirected simple view: each unordered pair once per direction
    val nbr = e.select(col("src").as("node"), col("dst").as("nb"))
      .union(e.select(col("dst").as("node"), col("src").as("nb")))
      .distinct()
      .persist()
    // (node, deg): each node's degree within the `alive` node set
    def degreeIn(alive: DataFrame): DataFrame = nbr
      .join(alive, "node")
      .join(alive.withColumnRenamed("node", "nb"), "nb")
      .groupBy("node").agg(count(lit(1)).as("deg"))
    var (alive, n) = Rounds.counted(nbr.select(col("node")).distinct())
    var round = 0
    var done = n == 0L
    while (!done && round < maxRounds) {
      val (next, m) = Rounds.counted(
        degreeIn(alive).filter(col("deg") >= k).select(col("node")))
      done = m == n // no node fell below k this round → fixpoint
      Rounds.release(alive)
      alive = next
      n = m
      round += 1
    }
    // materialize the core-degree frame BEFORE releasing the persisted
    // neighbor frame — unpersisting first would make the returned (lazy)
    // DataFrame recompute the 2|E| neighbor build from scratch on its
    // first action (the labelPropagation eager-checkpoint discipline)
    val core = degreeIn(alive).withColumnRenamed("deg", "core_degree")
      .localCheckpoint(true)
    nbr.unpersist()
    Rounds.release(alive)
    core
  }

  /** k-truss decomposition (Cohen 2008 "Trusses: cohesive subgraphs
    * for social network analysis") — the triangle-grade sibling of
    * [[kCore]]: iteratively delete every undirected edge supported by
    * fewer than k−2 triangles until a fixpoint; what survives is the
    * k-truss, the standard "strong community scaffold" cut a crawl
    * curator takes above the k-core (every truss edge sits in ≥ k−2
    * triangles INSIDE the truss, so it prunes barely-attached hubs the
    * core keeps).
    *
    * Exact by construction: supports are integer triangle counts per
    * round; deletions cascade deterministically, so a DuckDB oracle
    * replaying R ≥ #rounds peels lands on the identical fixpoint (extra
    * replay rounds are no-ops).
    *
    * Scale shape: per round ONE triangle join — canonical (a<b) edges
    * joined twice against the undirected adjacency, keyed (a,·) then
    * (b,c): the standard support computation, map-side combined to the
    * edge plane. Each round is one checkpoint of the supports whose
    * job also counts the edges that keep ≥ k−2 triangles; the next
    * round reads that checkpoint through a lazy survivor filter, and
    * the loud `maxRounds` guard raises instead of looping. Peel rounds
    * on real graphs are few (each round must delete ≥ 1 edge to
    * continue).
    *
    * → surviving canonical edges (node_a < node_b, support) with their
    *   within-truss triangle support.
    */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String,
             k: Int, maxRounds: Int = 64): DataFrame = {
    require(k >= 3, s"k must be >= 3 (k-2 triangles per edge), got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val e0 = edgePlane(edges, srcCol, dstCol, "__s", "__d")
      .filter(col("__s") =!= col("__d"))
      .select(least(col("__s"), col("__d")).as("a"),
        greatest(col("__s"), col("__d")).as("b"))
      .distinct()
    def support(canon: DataFrame): DataFrame = {
      val und = canon.select(col("a").as("u"), col("b").as("v"))
        .unionByName(canon.select(col("b").as("u"), col("a").as("v")))
      canon
        .join(und.select(col("u").as("a"), col("v").as("c")), Seq("a"))
        .join(und.select(col("u").as("b"), col("v").as("c")),
          Seq("b", "c"), "left_semi")
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("__sup"))
    }
    val survives = col("__sup") >= lit((k - 2).toLong)
    // round 0 takes every edge as a survivor
    var (sup, n) = Rounds.counted(e0.withColumn("__sup", lit((k - 2).toLong)))
    var round = 0
    var done = n == 0L
    while (!done) {
      require(round < maxRounds,
        s"kTruss did not converge within maxRounds=$maxRounds")
      val (s, m) = Rounds.checkpoint(
        support(sup.filter(survives).select(col("a"), col("b"))),
        count_if(survives).as("__m"))
      Rounds.release(sup)
      sup = s
      done = m.getLong(0) == n || m.getLong(0) == 0L
      n = m.getLong(0)
      round += 1
    }
    // at the fixpoint the last computed supports describe the survivors
    sup.filter(survives)
      .select(col("a").as("node_a"), col("b").as("node_b"),
        col("__sup").cast("long").as("support"))
  }

  /** Personalized PageRank (Haveliwala 2002; the "random walk with
    * restart" relevance score): identical update rule to [[pageRank]]
    * except the teleport mass lands ONLY on the seed set S instead of
    * uniformly — rank(v) becomes the stationary visit rate of a walk
    * that restarts at S, i.e. proximity to the seeds rather than
    * global importance. Same EXACT scaled-integer arithmetic:
    *
    *   rank_0(v)   = SCALE div |S|          if v ∈ S else 0
    *   rank_t+1(v) = [v ∈ S] · ((100−d)·(SCALE div |S|)) div 100
    *               + (d · Σ_{u→v} (rank_t(u) div outdeg(u))) div 100
    *
    * Dangling mass is dropped (the [[pageRank]] convention) — ranks
    * are proximity SCORES, not a probability simplex, and the replay
    * is bit-exact for it.
    *
    * Edge⋈outdeg is persisted once, as in [[pageRank]]; the rounds are
    * [[rankRounds]], the seed flag carried on the rank frame. Seeds
    * arrive as a DataFrame (not a driver-side list) so a seed set of any
    * size — "all hosts the curator whitelisted" — stays distributed; it
    * is deduplicated and counted once (one scalar to the driver).
    *
    * → (node, rank) in SCALE-scaled integer units; nodes unreachable
    *   from the seeds score 0.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
                           dstCol: String, seeds: DataFrame,
                           seedCol: String, iterations: Int = 8,
                           dampingPct: Int = 85,
                           scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1,50], got $iterations")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0,100], got $dampingPct")
    val (nodes, eo) = outDegreePlane(edges, srcCol, dstCol)
    // seed flag joined onto the node frame once — seeds outside the
    // graph are ignored (they have no edges to walk)
    val seedNodes = seeds
      .select(col(seedCol).cast("string").as("node"))
      .filter(col("node").isNotNull)
      .distinct()
    val flagged = nodes
      .join(seedNodes.withColumn("__seed", lit(true)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__seed"), lit(false)).as("__seed"))
      .persist()
    val nSeeds = flagged.filter(col("__seed")).count()
    require(nSeeds > 0, "personalizedPageRank: no seed is in the graph")
    val r0 = scale / nSeeds
    val base = (100L - dampingPct) * r0 / 100L

    // the seed flag rides every round's rank frame
    val (ranks, _) = rankRounds(eo, flagged.select(col("node"),
        when(col("__seed"), lit(r0)).otherwise(lit(0L)).as("rank"),
        col("__seed")),
      expr("rank div outdeg"),
      when(col("__seed"), lit(base)).otherwise(lit(0L)) +
        expr(s"($dampingPct * inflow) div 100"), iterations, tolerance = -1L)
    nodes.unpersist()
    eo.unpersist()
    flagged.unpersist()
    ranks
  }

  /** Undirected simple view of an edge list (each unordered pair once per
    * direction, self-loops dropped) — the shared preprocessing of the
    * community operators.
    */
  private def undirectedNbr(edges: DataFrame, srcCol: String,
                            dstCol: String): DataFrame = {
    val e = edgePlane(edges, srcCol, dstCol)
      .filter(col("src") =!= col("dst"))
    e.select(col("src").as("node"), col("dst").as("nb"))
      .union(e.select(col("dst").as("node"), col("src").as("nb")))
      .distinct()
  }

  /** Louvain-style modularity communities — SYNCHRONIZED local moving
    * (phase 1 of Blondel et al. 2008 "Fast unfolding of communities in
    * large networks", parallelized with the 2-coloring anti-swap gate of
    * distributed Louvain implementations, e.g. Ghosh et al. IPDPS'18):
    * every node starts in its own community; each round, every node
    * evaluates every NEIGHBOR community and WANTS the best strictly
    * positive modularity gain — but only an INDEPENDENT SET of the
    * wanting nodes actually moves: a node moves iff no neighbor that
    * also wants to move has a smaller (md5-hash, id) key (the
    * Jones–Plassmann independent-set scheduling rule, with the
    * deterministic seedless h48 recipe as the "random" priority). No
    * two adjacent nodes ever move in the same round, so the symmetric
    * two-node swap that makes fully-synchronous local moving oscillate
    * is impossible by construction, and each round at least the
    * globally minimal wanting node moves — guaranteed progress.
    *
    * The gain comparison is EXACT integer arithmetic: dropping the
    * terms common to all candidates, v prefers the community c
    * maximizing
    *
    *   score(v→c) = 2m·k_{v,c} − deg_v·tot_c^{−v}
    *
    * (k_{v,c} = v's edges into c, tot_c^{−v} = Σ degree of c's members
    * excluding v, m = undirected edge count) and moves iff the best
    * neighbor community's score strictly exceeds the same formula for
    * its CURRENT community — ties break on the smallest community id,
    * so every round is a pure function of the previous labeling.
    * Products ride DECIMAL(38,0) (long·long would wrap silently), so
    * the replay is exact at any graph size.
    *
    * Scale shape: the undirected neighbor frame and the degree frame
    * are loop-invariant and persisted once; each round is one
    * neighbor⋈labels aggregation to the (node, candidate-community)
    * plane, one |communities|-sized tot aggregation, and one labels
    * update, all keyed joins — the labels frame localCheckpoints so the
    * plan stays O(1) deep across rounds (the [[labelPropagation]]
    * discipline). No driver traffic at all: rounds are fixed, not
    * converged (a fixpoint round is a no-op, so extra rounds only cost
    * time — which is what lets a fixed-depth unrolled SQL oracle replay
    * the result).
    *
    * Phase 2 of Louvain (community coarsening) is intentionally not
    * implemented: on the web-host graphs this engine targets, one
    * local-moving phase recovers the planted structure, and coarsening
    * would make the oracle non-replayable at fixed depth.
    *
    * → (node, community)
    */
  def louvainCommunities(edges: DataFrame, srcCol: String, dstCol: String,
                         rounds: Int = 4,
                         weightCol: Option[String] = None): DataFrame = {
    require(rounds >= 1 && rounds <= 20,
      s"rounds must be in [1,20], got $rounds")
    // weighted flavor: k_v, k_{v,c}, tot and 2m become weighted sums.
    // Weights must be POSITIVE INTEGERS (the hdrSketchWeighted contract
    // — exact DECIMAL gain arithmetic survives, fractional weights raise
    // in-plan, never truncate); parallel (src,dst) rows ADD their
    // weights. The default path is the simple graph (distinct pairs,
    // weight 1).
    val nbr = (weightCol match {
      case None => undirectedNbr(edges, srcCol, dstCol)
        .withColumn("w", lit(1L))
      case Some(wc) =>
        val e = edges
          .select(col(srcCol).cast("string").as("src"),
            col(dstCol).cast("string").as("dst"), col(wc).as("__w0"))
          .filter(col("src").isNotNull && col("dst").isNotNull &&
            col("src") =!= col("dst"))
          .filter(coalesce(
            assert_true(col("__w0").isNotNull &&
                col("__w0").cast("long") >= 1L &&
                col("__w0") === col("__w0").cast("long"),
              concat_ws("", lit("louvainCommunities: edge weight must"),
                lit(" be a positive integer, got "), col("__w0"))),
            lit(true)))
          .withColumn("__w0", col("__w0").cast("long"))
        e.select(col("src").as("node"), col("dst").as("nb"), col("__w0"))
          .union(e.select(col("dst").as("node"), col("src").as("nb"),
            col("__w0")))
          .groupBy("node", "nb")
          .agg(sum(col("__w0")).as("w"))
    }).persist()
    val deg = nbr.groupBy("node")
      .agg(coalesce(sum(col("w")).cast("bigint"), lit(0L)).as("deg"))
      .persist()
    val labels = localMoving(nbr, deg, rounds)
    nbr.unpersist()
    deg.unpersist()
    labels.select(col("node"), col("comm").as("community"))
  }

  /** Synchronized local moving, the round shared by [[louvainCommunities]]
    * and [[louvainCoarsen]]: `rounds` rounds over a weighted symmetric
    * adjacency `nbr` (node, nb, w — w a non-null positive long) with
    * node degrees `deg` (node, deg), every node starting in its own
    * community. Both inputs are loop-invariant; the caller persists and
    * releases them.
    *
    * → (node, comm, deg), eagerly checkpointed
    */
  private def localMoving(nbr: DataFrame, deg: DataFrame,
                          rounds: Int): DataFrame = {
    val m2Frame = deg.agg(sum(col("deg")).cast("decimal(38,0)").as("__m2"))
    val dec = "decimal(19,0)"
    // the node degree rides INSIDE the labels frame: it is loop-invariant
    // per node, and carrying it spares every round the labels⋈deg join
    // (two exchange instances — `ld` fed two lazy subtrees) for the cost
    // of one long column in the skinny checkpointed frame
    var labels = deg.select(col("node"), col("node").as("comm"), col("deg"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val tot = labels.groupBy(col("comm")).agg(sum(col("deg")).as("tot"))
      val kv = nbr
        .join(labels.select(col("node").as("nb"), col("comm").as("cand")),
          "nb")
        .groupBy(col("node"), col("cand"))
        .agg(sum(col("w")).as("k"))
      val self = labels
        .join(tot.withColumnRenamed("comm", "__c"),
          col("__c") === col("comm"))
        .select(col("node"), col("comm"), col("deg"),
          (col("tot") - col("deg")).as("__totx_cur"))
      val scored = kv
        .join(self, "node")
        .crossJoin(broadcast(m2Frame)) // one row: the global 2m scalar
        .join(tot.withColumnRenamed("comm", "cand"), "cand")
        .withColumn("__totx",
          col("tot") - when(col("cand") === col("comm"), col("deg"))
            .otherwise(lit(0L)))
        .withColumn("__score",
          col("__m2") * col("k").cast(dec) -
            col("deg").cast(dec) * col("__totx").cast(dec))
      // ONE aggregation yields both the winner (struct-min over
      // (−score, cand) = max score with the min-cand tiebreak) AND the
      // stay score: the cand==comm row of `scored` IS the stay value
      // when the node has a same-community neighbor (there __totx =
      // tot − deg = __totx_cur), and the k_c=0 fallback −deg·__totx_cur
      // needs only per-node constants already on the plane
      val want = scored
        .groupBy(col("node"))
        .agg(min(struct((col("__score") * -1).as("__ns"), col("cand")))
          .as("__w"),
          max(when(col("cand") === col("comm"), col("__score")))
            .as("__s0"),
          max(col("deg")).as("__deg"),         // constant per node
          max(col("__totx_cur")).as("__tcur")) // constant per node
        .withColumn("__stay", coalesce(col("__s0"),
          lit(0).cast("decimal(38,0)") -
            col("__deg").cast(dec) * col("__tcur").cast(dec)))
        .filter((col("__w.__ns") * -1) > col("__stay"))
        .select(col("node"), col("__w.cand").as("__to"),
          conv(substring(md5(col("node")), 1, 12), 16, 10).cast("long")
            .as("__h"))
        .persist() // feeds the two blocking-join sides + moves
      // independent-set scheduling: a wanting node is BLOCKED when any
      // wanting neighbor carries a smaller (hash, id) priority — movers
      // are the hash-local-minima, never two adjacent
      val blocked = nbr
        .join(want.select(col("node"), col("__h")), "node")
        .join(want.select(col("node").as("nb"), col("__h").as("__hn")),
          "nb")
        .filter(col("__hn") < col("__h") ||
          (col("__hn") === col("__h") && col("nb") < col("node")))
        .select(col("node")).distinct()
      val moves = want.join(blocked, Seq("node"), "left_anti")
        .select(col("node"), col("__to"))
      val next = labels.join(moves, Seq("node"), "left")
        .select(col("node"), coalesce(col("__to"), col("comm")).as("comm"),
          col("deg"))
        .localCheckpoint(true) // plan depth stays O(1) across rounds
      want.unpersist() // the eager checkpoint above consumed it
      Rounds.release(labels)
      labels = next
    }
    labels
  }

  /** Louvain PHASE 2 (Blondel et al. 2008 §2): collapse each community
    * of a phase-1 partition into a super-node of the weighted coarse
    * graph (inter-community edge multiplicities become weights; the
    * intra-community mass rides each super-node's degree, K_c = Σ
    * deg(u) over members, so coarse modularity == fine modularity by
    * construction) and re-run synchronized local moving there. The
    * result REFINES the input partition — every input community lands
    * wholly inside one output community — and its modularity is
    * non-decreasing: a coarse move is applied only on strictly
    * positive exact-integer gain, and the no-move fixpoint returns
    * the input partition unchanged (asserted in HtmlSpec).
    *
    * OPT-IN and deliberately NOT the oracle lane: coarsening depth is
    * data-dependent, so a fixed-depth SQL oracle cannot replay it —
    * [[louvainCommunities]] (q234) stays the replayable flavor, this
    * is the "real 100 TB host graph" flavor layered on top.
    * Determinism still holds: exact DECIMAL(38,0) gains, md5-priority
    * independent-set scheduling, fixed rounds; the rounds are
    * [[localMoving]]'s, run on the coarse graph.
    *
    * Scale shape: the coarse plane is |communities| nodes — orders of
    * magnitude below the corpus; every join is keyed, the loop
    * localCheckpoints the skinny labels frame (O(1) plan depth), and
    * the fine→coarse projection is one aggregation over the edge
    * list.
    *
    * → (node, community): the refined partition on ORIGINAL node ids.
    */
  def louvainCoarsen(edges: DataFrame, srcCol: String, dstCol: String,
                     labels: DataFrame, nodeCol: String = "node",
                     commCol: String = "community",
                     rounds: Int = 4): DataFrame = {
    require(rounds >= 1 && rounds <= 20,
      s"rounds must be in [1,20], got $rounds")
    val nbr = undirectedNbr(edges, srcCol, dstCol)
    val lab = labels.select(col(nodeCol).cast("string").as("node"),
      col(commCol).cast("string").as("comm0"))
    // coarse weighted adjacency (off-diagonal only — the diagonal mass
    // is inside K_c and never contributes to a neighbor-community k)
    val cNbr = nbr
      .join(lab, "node")
      .join(lab.select(col("node").as("nb"), col("comm0").as("__cn")),
        "nb")
      .filter(col("comm0") =!= col("__cn"))
      .groupBy(col("comm0").as("node"), col("__cn").as("nb"))
      .agg(count(lit(1)).as("w"))
      .persist()
    // K_c = Σ deg(u) over members == the coarse row sum incl. diagonal
    val deg = nbr.groupBy("node").agg(count(lit(1)).as("__d"))
      .join(lab, "node")
      .groupBy(col("comm0").as("node"))
      .agg(sum(col("__d")).as("deg"))
      .persist()
    val cl = localMoving(cNbr, deg, rounds)
    cNbr.unpersist()
    deg.unpersist()
    lab.join(cl.select(col("node").as("comm0"), col("comm")), "comm0")
      .select(col("node"), col("comm").as("community"))
  }

  /** EXACT modularity of a given partition (Newman & Girvan 2004),
    * Q = Σ_c [ in_c/(2m) − (tot_c/(2m))² ] with in_c twice the
    * intra-community edge count and tot_c the community degree sum —
    * computed as ONE integer numerator Σ_c (2m·in_c − tot_c²) in
    * DECIMAL(38,0) divided once by (2m)², so the score replays
    * bit-for-bit in any engine. Communities with no internal edges
    * still contribute their −tot² term (a labels-side aggregation, not
    * an edge-side one).
    *
    * `labels`: (nodeCol, commCol) — one row per node (e.g. the
    * [[louvainCommunities]] or [[labelPropagation]] output).
    *
    * → one row (n_nodes, n_edges, q_modularity)
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 labels: DataFrame, nodeCol: String,
                 commCol: String): DataFrame = {
    val nbr = undirectedNbr(edges, srcCol, dstCol)
    val lab = labels.select(col(nodeCol).cast("string").as("__n"),
      col(commCol).cast("string").as("__c"))
    val deg = nbr.groupBy("node").agg(count(lit(1)).as("deg"))
    val tot = lab.join(deg, col("__n") === col("node"))
      .groupBy(col("__c")).agg(sum(col("deg")).as("tot"),
        count(lit(1)).as("__members"))
    val inC = nbr
      .join(lab.select(col("__n").as("node"), col("__c").as("__c1")), "node")
      .join(lab.select(col("__n").as("nb"), col("__c").as("__c2")), "nb")
      .filter(col("__c1") === col("__c2"))
      .groupBy(col("__c1").as("__c")).agg(count(lit(1)).as("in_c"))
    val dec = "decimal(19,0)"
    val m2 = deg.agg(sum(col("deg")).cast("decimal(38,0)").as("__m2"),
      count(lit(1)).as("__n_nodes"))
    tot.join(inC, Seq("__c"), "left")
      .crossJoin(broadcast(m2)) // one row: the global 2m scalar
      .select(
        (col("__m2") * coalesce(col("in_c"), lit(0L)).cast(dec) -
          col("tot").cast(dec) * col("tot").cast(dec)).as("__term"),
        col("__m2"), col("__n_nodes"))
      .groupBy(col("__m2"), col("__n_nodes"))
      .agg(sum(col("__term")).as("__qnum"))
      .select(col("__n_nodes").as("n_nodes"),
        (col("__m2").cast("string").cast("double") / 2.0).as("n_edges"),
        (col("__qnum").cast("string").cast("double") /
          (col("__m2").cast("string").cast("double") *
            col("__m2").cast("string").cast("double"))).as("q_modularity"))
  }

  /** Link prediction scores (Liben-Nowell & Kleinberg, CIKM'03; the
    * Adamic–Adar measure from Adamic & Adar, Social Networks 2003) for
    * every NON-edge pair with at least one common neighbor in the
    * undirected graph — the "which hosts should be linked" /
    * "candidate-duplicate entity" plane:
    *
    *   common_neighbors = |Γ(u) ∩ Γ(w)|                 (exact integer)
    *   jaccard          = cn / |Γ(u) ∪ Γ(w)|            (one division)
    *   adamic_adar      = Σ_z 1/ln(deg z)      (rare shared neighbors
    *   resource_alloc   = Σ_z 1/deg z           weigh more than hubs)
    *
    * Determinism: each z-term is an engine-identical IEEE double cast
    * to DECIMAL(28,12) before the order-independent sum (the
    * averagePrecision recipe; shared neighbors have deg ≥ 2 so
    * ln(deg) ≥ ln 2 — no division hazard), then one bridge back to
    * double. Output is the global top-`topK` by (adamic_adar desc,
    * pair) — an exact TakeOrdered, no full-result sort.
    *
    * Scale shape: candidates come from the neighbor self-join on the
    * shared-neighbor key (Σ_z deg_z² pair terms — the documented cost
    * of the measure; hub-heavy graphs should pre-cap degrees), then
    * one (u,w) aggregation, one anti-join against the existing edge
    * set, two broadcast-sized degree joins.
    *
    * → (node_a, node_b, common_neighbors, jaccard, adamic_adar,
    *   resource_allocation), node_a < node_b
    */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
                     topK: Int = 100): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val nbr = undirectedNbr(edges, srcCol, dstCol)
      .localCheckpoint() // feeds candidates, degrees, and the anti-join
    val deg = nbr.groupBy("node").agg(count(lit(1)).as("deg"))
    val d28 = "decimal(28,12)"
    // per shared neighbor z: one candidate term for each pair (u, w)
    val cand = nbr.select(col("nb").as("__z"), col("node").as("node_a"))
      .join(nbr.select(col("nb").as("__z"), col("node").as("node_b")),
        "__z")
      .filter(col("node_a") < col("node_b"))
      .join(deg.select(col("node").as("__z"), col("deg").as("__dz")),
        "__z")
      .groupBy("node_a", "node_b")
      .agg(count(lit(1)).as("common_neighbors"),
        sum((lit(1.0) / log(col("__dz").cast("double"))).cast(d28))
          .as("__aa"),
        sum((lit(1.0) / col("__dz").cast("double")).cast(d28)).as("__ra"))
    val nonEdges = cand.join(
      nbr.select(least(col("node"), col("nb")).as("node_a"),
        greatest(col("node"), col("nb")).as("node_b")),
      Seq("node_a", "node_b"), "left_anti")
    nonEdges
      .join(deg.select(col("node").as("node_a"), col("deg").as("__da")),
        "node_a")
      .join(deg.select(col("node").as("node_b"), col("deg").as("__db")),
        "node_b")
      .select(col("node_a"), col("node_b"), col("common_neighbors"),
        (col("common_neighbors").cast("double") /
          (col("__da") + col("__db") - col("common_neighbors"))
            .cast("double")).as("jaccard"),
        col("__aa").cast("string").cast("double").as("adamic_adar"),
        col("__ra").cast("string").cast("double").as("resource_allocation"),
        col("__aa").as("__ord"))
      .orderBy(col("__ord").desc, col("node_a"), col("node_b"))
      .limit(topK)
      .drop("__ord")
  }

  /** Sampled betweenness centrality — Brandes' algorithm (Brandes, "A
    * faster algorithm for betweenness centrality", J. Math. Sociology
    * 2001) restricted to a FIXED DETERMINISTIC source set: the first
    * `nSources` nodes in md5(node) order (the house unseeded-sample
    * convention — any engine replays the same sample). Directed
    * betweenness over unweighted shortest paths; self-loops never lie
    * on a shortest path and are dropped.
    *
    * Per source s, the forward pass is a multi-source BFS computing
    * dist and the shortest-path COUNT σ (exact integers); the backward
    * pass accumulates Brandes' dependency level by level,
    *
    *   δ(v) = Σ over DAG edges v→w of  σ(v)·(SCALE + δ(w)) div σ(w)
    *
    * in SCALE=10^12 integers with products through DECIMAL(38,0) (the
    * [[graft.ops.EventOps.markovAttribution]] discipline), so every
    * level replays bit-exactly as an unrolled CTE. bc(v) = Σ_s δ_s(v),
    * v ∉ sources' own row (endpoints excluded, Brandes' convention).
    *
    * Scale shape: edges normalized and persisted once; BFS state is the
    * skinny (source, node, dist, sigma) frame — ≤ nSources·|V| rows
    * total, frontier-joined against edges one hop at a time with
    * per-round localCheckpoint (O(1) plan depth); the backward pass
    * walks the SAME materialized state level by level — ≤ maxDepth
    * keyed joins, no driver traffic (the forward frontier's emptiness
    * rides each hop's checkpoint job). Source selection is a
    * distributed top-k (TakeOrdered), never a global sort.
    *
    * Scale contract: σ is a path COUNT — on graphs whose shortest-path
    * DAGs are wide, σ·SCALE must fit DECIMAL(38,0) (σ < 10^25; any
    * overflow surfaces as a null-product failure, not a wrong answer).
    * Cost is O(nSources · E) per depth level — size nSources to the
    * analysis budget, not the graph.
    *
    * → (node, bc_scaled, betweenness) — bc_scaled the exact integer,
    *   betweenness = bc_scaled / SCALE, one IEEE division at the edge.
    */
  def betweennessCentrality(edges: DataFrame, srcCol: String,
                            dstCol: String, nSources: Int,
                            maxDepth: Int = 16,
                            scale: Long = 1000000000000L): DataFrame = {
    require(nSources >= 1 && nSources <= 4096,
      s"nSources must be in [1,4096], got $nSources")
    require(maxDepth >= 1 && maxDepth <= 64,
      s"maxDepth must be in [1,64], got $maxDepth")
    val (e, nodes, visited, depth) =
      sampledBfs(edges, srcCol, dstCol, nSources, maxDepth)
    // backward: δ per (s, node), level by level from the deepest
    var delta = visited
      .select(col("s"), col("node"), col("sigma"), lit(0L).as("delta"))
      .filter(col("dist") === depth) // deepest level: no successors
      .localCheckpoint()
    var acc = delta.select(col("s"), col("node"), col("delta"))
    for (lvl <- (depth - 1) to 0 by -1) {
      val cur = visited.filter(col("dist") === lvl)
      val nextLvl = delta.select(col("s").as("__s"),
        col("node").as("__w"), col("sigma").as("__sw"),
        col("delta").as("__dw"))
      delta = cur
        .join(e, col("node") === col("esrc"), "left")
        .join(nextLvl,
          col("s") === col("__s") && col("edst") === col("__w"), "left")
        .groupBy(col("s"), col("node"))
        .agg(max(col("sigma")).as("sigma"),
          coalesce(sum(expr(
            s"CAST((CAST(sigma AS DECIMAL(38,0)) * (${scale}L + __dw))" +
              " div __sw AS BIGINT)")), lit(0L)).as("delta"))
        // EAGER on purpose: a lazy checkpoint would defer the sweep past
        // e.unpersist() and recompute the edge distinct once per level.
        .localCheckpoint() // O(1)-deep plan across levels
      acc = acc.unionByName(delta.select(col("s"), col("node"),
        col("delta")))
    }
    val bc = acc.filter(col("node") =!= col("s"))
      .groupBy("node")
      .agg(sum(col("delta")).as("bc_scaled"))
    e.unpersist()
    nodes.join(bc, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("bc_scaled"), lit(0L)).as("bc_scaled"))
      .withColumn("betweenness",
        col("bc_scaled").cast("double") / scale.toDouble)
  }

  /** Normalized simple directed edge view, node frame, md5-order source
    * sample, and exact multi-source BFS state — the shared kernel of
    * [[betweennessCentrality]] and [[harmonicCloseness]]. Edges are
    * string-cast, self-loop-free and distinct; sources are the first
    * `nSources` nodes in md5(node) order (distributed top-k); the BFS
    * carries the shortest-path count σ as exact integers, one
    * frontier-against-edges join per hop with per-round localCheckpoint
    * (O(1) plan depth); the frontier's row count rides that checkpoint
    * job, so no hop runs a probe job of its own.
    *
    * Returns (edges — PERSISTED, caller unpersists; nodes;
    * visited = (s, node, dist, sigma); depth — the first empty level
    * when early-exited, else maxDepth).
    */
  private def sampledBfs(edges: DataFrame, srcCol: String, dstCol: String,
                         nSources: Int, maxDepth: Int)
      : (DataFrame, DataFrame, DataFrame, Int) = {
    val e = edgePlane(edges, srcCol, dstCol, "esrc", "edst")
      .filter(col("esrc") =!= col("edst"))
      .distinct()
      .persist()
    val nodes = e.select(col("esrc").as("node"))
      .unionByName(e.select(col("edst").as("node"))).distinct()
      .localCheckpoint() // feeds source top-k AND the final outer join
    val sources = nodes
      .orderBy(md5(col("node").cast("binary")), col("node"))
      .limit(nSources) // TakeOrdered — never a global sort
    // forward: (s, node, dist, sigma); sigma = #shortest s→node paths.
    // `visited` is rewritten into one compact frame per hop: a union of
    // per-level leaves makes every downstream scan pay the D-leaf
    // partition fan-out, which the backward sweep reads most.
    var visited = sources
      .select(col("node").as("s"), col("node"), lit(0).as("dist"),
        lit(1L).as("sigma"))
      .localCheckpoint()
    var frontier = visited
    var d = 0
    var done = false
    while (!done && d < maxDepth) {
      d += 1
      val (next, m) = Rounds.counted(
        frontier.join(e, col("node") === col("esrc"))
          .groupBy(col("s"), col("edst").as("node"))
          .agg(sum(col("sigma")).as("sigma"))
          .join(visited.select(col("s"), col("node")), Seq("s", "node"),
            "left_anti")
          .select(col("s"), col("node"), lit(d).as("dist"), col("sigma")))
      if (m == 0L) done = true
      else {
        // LAZY checkpoint: the union's standalone materialization job
        // folds into the next hop's anti-join (its first full-scan
        // consumer — lineage is still cut, blocks still pin), removing
        // one driver round-trip per hop. The loop always exits with
        // `visited` materialized: the hop that reads the empty frontier
        // scanned it.
        visited = visited.unionByName(next).localCheckpoint(false)
        frontier = next
      }
    }
    (e, nodes, visited, d)
  }

  /** Sampled HARMONIC closeness centrality (Marchiori & Latora 2000;
    * Boldi & Vigna's recommended closeness variant — reciprocal
    * distances sum, so disconnection contributes 0 instead of breaking
    * the mean): over the same fixed md5-order source sample as
    * [[betweennessCentrality]],
    *
    *   h(v) = Σ over sampled sources s ≠ v reaching v of
    *          SCALE div dist(s, v)
    *
    * — INBOUND harmonic centrality (how quickly the sample reaches v
    * along edge direction), in exact floor-division integers so the
    * whole estimator replays as the unrolled BFS CTEs. One BFS (shared
    * kernel, σ unused), one aggregation over the skinny (s, node, dist)
    * state, one outer join to report unreached nodes as 0.
    *
    * → (node, h_scaled, harmonic = h_scaled / SCALE)
    */
  def harmonicCloseness(edges: DataFrame, srcCol: String, dstCol: String,
                        nSources: Int, maxDepth: Int = 16,
                        scale: Long = 1000000000000L): DataFrame = {
    require(nSources >= 1 && nSources <= 4096,
      s"nSources must be in [1,4096], got $nSources")
    require(maxDepth >= 1 && maxDepth <= 64,
      s"maxDepth must be in [1,64], got $maxDepth")
    val (e, nodes, visited, _) =
      sampledBfs(edges, srcCol, dstCol, nSources, maxDepth)
    val h = visited.filter(col("dist") > 0)
      .select(col("node"), expr(s"${scale}L div dist").as("__t"))
      .groupBy("node").agg(sum(col("__t")).as("h_scaled"))
    e.unpersist()
    nodes.join(h, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("h_scaled"), lit(0L)).as("h_scaled"))
      .withColumn("harmonic",
        col("h_scaled").cast("double") / scale.toDouble)
  }

  /** EXACT (sampled-source) neighborhood function — the ground-truth
    * sibling of [[neighborhoodFunction]]: N(t) = number of
    * (source, node) pairs with dist ≤ t, over the first `nSources`
    * nodes in md5(node) order (the [[betweennessCentrality]] sampling
    * convention; exact when nSources ≥ |V|). One [[sampledBfs]] plus
    * one aggregation + running-sum window over the ≤ maxDepth-row
    * distribution. This is the moderate-scale tool — the per-source
    * reach state is O(sample·|V|) rows; at web scale run the sketch
    * sibling instead. Raises if the BFS is still expanding at
    * `maxDepth` (truncation would understate the tail).
    *
    * → (t, n_pairs) for each observed hop 0..D, n_pairs cumulative.
    */
  def distanceDistribution(edges: DataFrame, srcCol: String,
                           dstCol: String, nSources: Int = 4096,
                           maxDepth: Int = 32): DataFrame = {
    require(nSources >= 1 && nSources <= 4096,
      s"nSources must be in [1,4096], got $nSources")
    require(maxDepth >= 1 && maxDepth <= 64,
      s"maxDepth must be in [1,64], got $maxDepth")
    val (e, _, visited, d) =
      sampledBfs(edges, srcCol, dstCol, nSources, maxDepth)
    e.unpersist()
    require(d < maxDepth,
      s"distanceDistribution: BFS reached maxDepth=$maxDepth — raise " +
        "maxDepth (truncation would understate the tail)")
    val byT = visited.groupBy(col("dist").as("t"))
      .agg(count(lit(1)).as("__c"))
    val bk = graft.functions.ArrayMath.boundedKey(byT)
    val wRun = org.apache.spark.sql.expressions.Window.partitionBy(bk)
      .orderBy(col("t"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    byT.withColumn("n_pairs", sum(col("__c")).over(wRun))
      .select(col("t"), col("n_pairs"))
  }

  /** EXACT (sampled-source) per-node distance moments — the per-node
    * sibling of [[distanceDistribution]] and the ground truth for the
    * HyperBall closeness reads: for every node, how many of the
    * sampled sources reach it (INBOUND, self included at distance 0)
    * and their total distance. One [[sampledBfs]] + one aggregation of
    * the (source, node, dist) plane by node; exact when nSources ≥
    * |V|; the same moderate-scale caveat and loud maxDepth guard as
    * [[distanceDistribution]].
    *
    * → (node, n_reached, total_dist)
    */
  def distanceMoments(edges: DataFrame, srcCol: String, dstCol: String,
                      nSources: Int = 4096,
                      maxDepth: Int = 32): DataFrame = {
    require(nSources >= 1 && nSources <= 4096,
      s"nSources must be in [1,4096], got $nSources")
    require(maxDepth >= 1 && maxDepth <= 64,
      s"maxDepth must be in [1,64], got $maxDepth")
    val (e, _, visited, d) =
      sampledBfs(edges, srcCol, dstCol, nSources, maxDepth)
    e.unpersist()
    require(d < maxDepth,
      s"distanceMoments: BFS reached maxDepth=$maxDepth — raise " +
        "maxDepth (truncation would understate the moments)")
    visited.groupBy("node")
      .agg(count(lit(1)).as("n_reached"),
        sum(col("dist")).cast("bigint").as("total_dist"))
  }

  /** HyperBall CLOSENESS family (Boldi & Vigna ICDMW'13; Lin,
    * "Foundations of Social Research" 1976): per node, off the INBOUND
    * register shells of [[hyperballSizes]],
    *
    *   R(v) = |B_T(v)|        (estimated reachable-source count)
    *   S(v) = Σ_t t·shell_t   (estimated total distance)
    *   Lin(v) = (R−1)² / S    (0 when S = 0)
    *
    * — Lin's index is the closeness variant that does not reward tiny
    * reachable sets (plain 1/S does), the web-scale companion of
    * [[hyperballHarmonic]]. Same determinism contract: clamped IEEE
    * shells over the replayable estimates, DECIMAL(27,12) sums,
    * string-bridged doubles, one fixed IEEE sequence for the index.
    * Exact sibling: [[distanceMoments]] (q283 certifies in-band).
    *
    * → (node, reach_est, total_dist_est, lin_est)
    */
  def hyperballCloseness(edges: DataFrame, srcCol: String,
                         dstCol: String, maxT: Int = 64,
                         p: Int = 9): DataFrame = {
    val sizes = hyperballSizes(edges, srcCol, dstCol, maxT, p,
      reverse = true)
    val wNode = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node"))
    val wOrd = wNode.orderBy(col("t"))
    sizes
      .withColumn("__prev", lag(col("ball_est"), 1).over(wOrd))
      .withColumn("__reach", expr("max_by(ball_est, t)").over(wNode))
      .filter(col("t") >= 1)
      .select(col("node"), col("__reach"),
        (greatest(col("ball_est") - col("__prev"), lit(0.0)) *
          col("t").cast("double")).cast("decimal(27,12)").as("__s"))
      .groupBy("node")
      .agg(max(col("__reach")).as("reach_est"),
        sum(col("__s")).as("__ss"))
      .select(col("node"), col("reach_est"),
        col("__ss").cast("string").cast("double").as("total_dist_est"))
      .withColumn("lin_est",
        when(col("total_dist_est") > 0.0,
          (col("reach_est") - 1.0) * (col("reach_est") - 1.0) /
            col("total_dist_est"))
          .otherwise(lit(0.0)))
  }

  /** HyperBall neighborhood function (Boldi & Vigna, "In-Core
    * Computation of Geometric Centralities with HyperBall", ICDMW'13;
    * the HyperANF successor — the standard web-graph distance summary
    * "how many (source, reachable-node) pairs lie within t hops?"):
    * maintain one [[graft.ops.Sketches.hllSketch]] register plane per
    * node, seeded with the node's own id, and per round fold each
    * node's plane with its OUT-neighbors' planes by register-wise MAX
    * (max-merge of HLL sketches = the sketch of the union, so after t
    * rounds node v's counter is EXACTLY the sketch of its radius-t
    * out-ball B_t(v) — by induction over B_t(v) = {v} ∪ ⋃_{v→w}
    * B_{t−1}(w)). N(t) = Σ_v estimate(B_t(v)).
    *
    * Stopping rule (the paper's): iterate until NO register changes.
    * The register dynamics c_t = f(c_{t−1}) are monotone, so an
    * unchanged round is a true fixpoint — registers can never change
    * again even where exact balls still grow (the sketch of the growth
    * collides into existing registers for good). Change detection is
    * exact and FREE: rows are only added and rho_max only grows, so
    * (Σ rho_max, row count) moves iff any register moved — read as
    * observed metrics off the round's own checkpoint job, no probe
    * job. Raises LOUDLY if still changing at `maxT` (silent truncation
    * would understate the diameter).
    *
    * Determinism: the register plane is the md5-based [[Sketches]]
    * contract, per-node estimates are the q239-replayable arithmetic,
    * and N(t) sums them as DECIMAL(27,12) (order-independent) bridged
    * to double via the string route — the whole table replays
    * bit-for-bit from an exact closure in DuckDB.
    *
    * Scale shape: the plane is ≤ |V|·2^p rows but SPARSE — a node's
    * rows ∝ its ball cardinality until ~2^p saturation, so the cheap
    * fringe stays cheap; per round one edge-keyed join + one
    * (node, bucket) aggregation with map-side combine, localCheckpoint
    * per round (O(1) plan depth); the corpus is never re-read. This is
    * the state HyperANF runs at web scale — registers, never reach
    * sets.
    *
    * → (t, nf_est), one row per round 0..T where T is the register
    *   fixpoint; nf_est is non-decreasing in t (up to the documented
    *   linear-counting branch boundary of [[Sketches.hllEstimate]]).
    */
  def neighborhoodFunction(edges: DataFrame, srcCol: String,
                           dstCol: String, maxT: Int = 64,
                           p: Int = 9): DataFrame = {
    // per-node register aggregation, then a global fold of the
    // q239-certified estimate (DECIMAL(27,12), order-independent)
    val nf = registerRounds(edges, srcCol, dstCol, maxT, p, reverse = false,
        "neighborhoodFunction") { (_, c) =>
      c.withColumn("__t", graft.ops.Sketches.hllShiftT(p))
        .groupBy("node")
        .agg(count(lit(1)).as("__hit"), sum(col("__t")).as("__s"))
        .groupBy()
        .agg(sum(graft.ops.Sketches
            .hllEstimateExpr(col("__hit"), col("__s"), p)
            .cast("decimal(27,12)")).as("__nf"))
        .head().getDecimal(0)
    }
    // decimal-to-double via the string route, on the driver — the same
    // bridge the in-plan cast performs (plain-notation toString at
    // scale 12, then the IEEE parse)
    val spark = edges.sparkSession
    import spark.implicits._
    nf.zipWithIndex.map { case (v, t) => (t, v.toString.toDouble) }
      .toDF("t", "nf_est")
  }

  /** Per-node HyperBall ball-size table — the register plane behind
    * [[neighborhoodFunction]] served per node: (node, t, ball_est)
    * with ball_est the HLL estimate of |B_t(node)| at every round up
    * to the register fixpoint. `reverse = true` grows balls along
    * REVERSED edges (B_t(v) = nodes that REACH v within t) — the
    * orientation centrality reads want. Same iteration, same loud
    * `maxT` guard, same determinism contract as the aggregate read;
    * the per-round projection adds one |V|-row checkpoint per round.
    *
    * → (node, t, ball_est), rounds 0..T (register fixpoint)
    */
  def hyperballSizes(edges: DataFrame, srcCol: String, dstCol: String,
                     maxT: Int = 64, p: Int = 9,
                     reverse: Boolean = false): DataFrame =
    registerRounds(edges, srcCol, dstCol, maxT, p, reverse,
        "hyperballSizes") { (t, c) =>
      c.withColumn("__t", graft.ops.Sketches.hllShiftT(p))
        .groupBy("node")
        .agg(count(lit(1)).as("__hit"), sum(col("__t")).as("__s"))
        .select(col("node"), lit(t).as("t"),
          graft.ops.Sketches.hllEstimateExpr(col("__hit"), col("__s"), p)
            .as("ball_est"))
        .localCheckpoint()
    }.reduce(_ unionByName _)
      .select(col("node"), col("t"), col("ball_est"))

  /** The HyperBall register iteration behind [[neighborhoodFunction]]
    * and [[hyperballSizes]]: seed each node's HLL plane
    * (node, bucket, rho_max) with its own id, then fold in the
    * out-neighbors' planes (in-neighbors' with `reverse`) by
    * register-wise MAX until no register changes. `read(t, plane)`
    * serves round t; it runs for every round before the fixpoint round
    * (whose plane equals its predecessor's). Raises, naming `what`, if
    * registers still change after `maxT` rounds.
    *
    * → the reads of rounds 0..T−1 in round order, T the fixpoint round
    */
  private def registerRounds[T](edges: DataFrame, srcCol: String,
                                dstCol: String, maxT: Int, p: Int,
                                reverse: Boolean, what: String)
                               (read: (Int, DataFrame) => T): Seq[T] = {
    require(maxT >= 1 && maxT <= 256, s"maxT must be in [1,256], got $maxT")
    val e0 = edgePlane(edges, srcCol, dstCol, "esrc", "edst")
      .filter(col("esrc") =!= col("edst")) // v ∈ B_t(v) already
      .distinct()
    val e = (if (reverse) e0.select(col("edst").as("esrc"),
        col("esrc").as("edst"))
      else e0).persist()
    val nodes = e.select(col("esrc").as("node"))
      .unionByName(e.select(col("edst").as("node"))).distinct()
    // the exact change detector (Σ rho_max, register rows) rides each
    // round's checkpoint job — rows are only added and rho_max only
    // grows, so the pair moves iff any register moved, and reading it
    // costs no job (level-synchronous rounds are driver-latency bound:
    // job COUNT is the wall time); an empty plane reads (0, 0)
    def checkpointed(plane: DataFrame): (DataFrame, (Long, Long)) = {
      val (chk, m) = Rounds.checkpoint(plane,
        coalesce(sum(col("rho_max")).cast("bigint"), lit(0L)).as("__rho"),
        Rounds.rows)
      (chk, (m.getLong(0), m.getLong(1)))
    }
    var (c, prev) = checkpointed(
      graft.ops.Sketches.hllSketch(nodes, Seq("node"), "node", p))
    // round t's read rides CONCURRENTLY with round t+1's grow job
    // (Par.grouped — the SCC fwd/bwd overlap discipline), hiding one of
    // the two job round-trips per round. Both jobs only READ the
    // checkpointed plane, so the read is the sequential read's value.
    import scala.concurrent.Await
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val reads = scala.collection.mutable.ArrayBuffer.empty[T]
    val cInit = c // snapshot: Par.grouped bodies are BY-NAME, `c` is a var
    var readFut = Par.grouped(read(0, cInit))
    var t = 0
    var done = false
    while (!done) {
      t += 1
      val (grown, cur) = checkpointed(
        e.join(c.withColumnRenamed("node", "__dn"),
          col("edst") === col("__dn"))
        .select(col("esrc").as("node"), col("bucket"), col("rho_max"))
        .unionByName(c)
        .groupBy("node", "bucket").agg(max(col("rho_max")).as("rho_max")))
      reads += Await.result(readFut, Duration.Inf)
      Rounds.release(c) // its read was harvested above
      c = grown
      if (cur == prev) done = true // true fixpoint — monotone dynamics
      else {
        require(t <= maxT,
          s"$what: registers still changing at maxT=$maxT — " +
            "raise maxT (truncating understates distances)")
        // snapshot the loop counter: a direct `read(t, …)` would read
        // `t` on the pooled thread and race the increment above
        val tRead = t
        readFut = Par.grouped(read(tRead, grown))
        prev = cur
      }
    }
    Rounds.release(c)
    e.unpersist()
    reads.toSeq
  }

  /** HyperBall HARMONIC centrality (Boldi & Vigna ICDMW'13 — the
    * paper's headline application: "In-Core Computation of Geometric
    * Centralities with HyperBall"): for every node, Σ_{u≠v reaching v}
    * 1/d(u, v), estimated from the INBOUND per-node ball sizes as
    *
    *   H(v) = Σ_{t≥1} (|B_t(v)| − |B_{t−1}(v)|) / t
    *
    * — the shell at distance t weighs 1/t, with shell sizes read off
    * the [[hyperballSizes]] register estimates instead of exact reach
    * sets (the web-scale trade: O(|V|·2^p) register state vs O(|V|²)
    * closure). Each shell term is one IEEE subtraction and division
    * over the table's deterministic estimates, summed as
    * DECIMAL(27,12) (order-independent) and bridged via the string
    * route — the read replays bit-for-bit. Negative shell estimates
    * (the linear-counting branch boundary can tick a ball estimate
    * DOWN a hair) clamp to 0 — a shell cannot have negative mass.
    *
    * Exact sibling: [[harmonicCloseness]] (sampled-source BFS). The
    * q281 oracle certifies this estimate in-band against it.
    *
    * → (node, harmonic_est)
    */
  def hyperballHarmonic(edges: DataFrame, srcCol: String, dstCol: String,
                        maxT: Int = 64, p: Int = 9): DataFrame = {
    val sizes = hyperballSizes(edges, srcCol, dstCol, maxT, p,
      reverse = true)
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node")).orderBy(col("t"))
    sizes
      .withColumn("__prev", lag(col("ball_est"), 1).over(wOrd))
      .filter(col("t") >= 1)
      .select(col("node"),
        (greatest(col("ball_est") - col("__prev"), lit(0.0)) /
          col("t").cast("double")).cast("decimal(27,12)").as("__h"))
      .groupBy("node")
      .agg(sum(col("__h")).as("__hs"))
      .select(col("node"),
        col("__hs").cast("string").cast("double").as("harmonic_est"))
  }

  /** Effective diameter at fraction `q` off a [[neighborhoodFunction]]
    * table (Boldi–Vigna's serving read; q=0.9 is the standard "90%
    * effective diameter"): the interpolated hop count at which the
    * neighborhood function first reaches q·N(T),
    *
    *   eff = (t−1) + (q·N(T) − N(t−1)) / (N(t) − N(t−1))
    *
    * at the smallest qualifying t (0 if N(0) already qualifies; falls
    * back to exactly t if the interpolation step is degenerate at a
    * linear-counting branch boundary). One window pass over the ≤
    * maxT-row table; every operand is the table's own string-bridged
    * doubles, so the row replays bit-for-bit.
    *
    * → one row (effective_diameter, t_hit, nf_final)
    */
  def effectiveDiameter(nf: DataFrame, q: Double = 0.9): DataFrame = {
    require(q > 0.0 && q < 1.0, s"q must be in (0,1), got $q")
    val bk = graft.functions.ArrayMath.boundedKey(nf)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(bk)
    val wOrd = org.apache.spark.sql.expressions.Window.partitionBy(bk)
      .orderBy(col("t"))
    nf
      .withColumn("__nfF", expr("max_by(nf_est, t)").over(wAll))
      .withColumn("__thr", lit(q) * col("__nfF"))
      .withColumn("__prev", lag(col("nf_est"), 1).over(wOrd))
      .filter(col("nf_est") >= col("__thr"))
      .withColumn("__rn", row_number().over(wOrd))
      .filter(col("__rn") === 1)
      .select(
        when(col("__prev").isNull, col("t").cast("double"))
          .when(col("nf_est") - col("__prev") <= lit(0.0),
            col("t").cast("double"))
          .otherwise((col("t") - 1).cast("double") +
            (col("__thr") - col("__prev")) /
              (col("nf_est") - col("__prev")))
          .as("effective_diameter"),
        col("t").as("t_hit"), col("__nfF").as("nf_final"))
  }

  /** Strongly connected components of a DIRECTED graph — the Broder et
    * al. (WWW'00) bowtie decomposition's core primitive, via iterated
    * multi-pivot FORWARD×BACKWARD reachability (Fleischer, Hendrickson
    * & Pınar IPDPS'00 "divide-and-conquer SCC"): per round, take the
    * first `pivotsPerRound` RESIDUAL nodes in md5(node) order (the
    * [[betweennessCentrality]] sampling convention — deterministic,
    * never a hot-key bias), run reachability BFS from all pivots
    * simultaneously along edges and against them, and settle
    * SCC(p) = F(p) ∩ B(p) for every pivot p. Nodes settle with
    * component label = the MINIMUM member node id (pivot-independent —
    * two pivots in one SCC compute the same set, so the label is a
    * pure function of the graph). The next round runs on the residual
    * subgraph; removing settled SCCs cannot break a remaining SCC
    * (every intermediate node of a path between two members of an SCC
    * is itself in that SCC), so membership is preserved.
    *
    * TRIM (Slota, Rajamanickam & Madduri IPDPS'14 "BFS and
    * coloring-based parallel SCC"; McLendon, Hendrickson, Plimpton &
    * Rauchwerger JPDC'05): before each pivot round, repeatedly
    * bulk-settle every residual node whose RESIDUAL in-degree or
    * out-degree is zero — such a node is on no residual cycle, so its
    * SCC is the singleton {itself} (settled-SCC removal preserves
    * remaining SCCs, see below, so the label is final). Each trim wave
    * is one anti-join pair on the skinny node plane + one edge
    * restriction; waves iterate to a fixpoint. On a web-shaped graph —
    * where most non-core nodes are singleton-SCC tendrils/IN/OUT
    * (Broder WWW'00) — trim settles that majority in O(effective
    * depth) cheap waves instead of O(|V|/pivotsPerRound) BFS rounds,
    * which is the difference between completing and raising
    * `maxRounds` on a real crawl graph.
    *
    * Progress bound: every trim wave settles ≥ 1 node or exits; the
    * round's pivots are distinct residual nodes and every pivot
    * settles (p ∈ F∩B), so each pivot round removes ≥
    * `pivotsPerRound` nodes (or finishes). After trim the residual is
    * edge-covered in both directions, so `maxRounds` only bounds
    * rounds over genuinely cyclic structure. `maxDepth` and
    * `maxRounds` are LOUD guards (they raise, never silently
    * truncate — a missed deep member would mislabel a component).
    *
    * Scale shape: per hop one frontier-against-edges join on the skinny
    * (s, node) plane with per-hop localCheckpoint (O(1) plan depth,
    * the [[sampledBfs]] discipline); per round one semi-join pair
    * restricts the persisted edge frame to the residual; per trim wave
    * one anti-join pair + one (small-side, broadcastable) edge
    * restriction; settled components accumulate as checkpointed skinny
    * (node, component) rows. Only emptiness probes reach the driver.
    *
    * → (node, component) — one row per node appearing in any
    *   NON-self-loop edge (self-loops never change SCCs and are
    *   dropped up front, so a node whose only edges are self-loops
    *   gets no row); component = min node id of the node's SCC.
    */
  def stronglyConnectedComponents(edges: DataFrame, srcCol: String,
                                  dstCol: String, pivotsPerRound: Int = 64,
                                  maxDepth: Int = 32,
                                  maxRounds: Int = 64): DataFrame = {
    require(pivotsPerRound >= 1 && pivotsPerRound <= 4096,
      s"pivotsPerRound must be in [1,4096], got $pivotsPerRound")
    require(maxDepth >= 1 && maxDepth <= 256,
      s"maxDepth must be in [1,256], got $maxDepth")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val e0 = edgePlane(edges, srcCol, dstCol, "esrc", "edst")
      .filter(col("esrc") =!= col("edst")) // self-loops never change SCCs
      .distinct()
      .persist()
    // the residual emptiness signal rides every residual checkpoint job
    // as its row count — no probe job per trim wave or pivot round
    val (allNodes, n0) = Rounds.counted(e0.select(col("esrc").as("node"))
      .unionByName(e0.select(col("edst").as("node"))).distinct())
    var residual = allNodes
    var residualCount = n0
    var eR = e0
    var comps: Option[DataFrame] = None
    var round = 0
    // Trim to fixpoint: settle every residual node with residual
    // in-degree or out-degree 0 as the singleton SCC {itself}. Each
    // wave peels one acyclic layer; on web-shaped graphs the fixpoint
    // lands in O(effective depth) waves and settles the singleton
    // majority without a single BFS. Always terminates: every
    // non-final wave removes >= 1 node.
    def trim(): Unit = {
      val waves = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      var trimming = true
      while (trimming) {
        // the zero-degree wave stays LAZY: it materializes inside the
        // residual update's checkpoint job (its first consumer), and
        // wave-emptiness is read off that same job's residual count —
        // the wave is empty iff the residual row count did not move
        // (zeroDeg ⊆ residual, residual' = residual ∖ zeroDeg). One
        // driver round-trip per wave.
        val zeroDeg = residual
          .join(eR.select(col("esrc").as("node")), Seq("node"), "left_anti")
          .unionByName(residual
            .join(eR.select(col("edst").as("node")), Seq("node"),
              "left_anti"))
          .distinct()
          .localCheckpoint(false)
        val (resNext, after) = Rounds.counted(
          residual.join(zeroDeg, Seq("node"), "left_anti"))
        if (after == residualCount) trimming = false
        else {
          waves += zeroDeg
          residual = resNext
          residualCount = after
          val eNext = eR // anti vs the (small) wave, not semi vs residual
            .join(zeroDeg.select(col("node").as("esrc")), Seq("esrc"),
              "left_anti")
            .join(zeroDeg.select(col("node").as("edst")), Seq("edst"),
              "left_anti")
            .select(col("esrc"), col("edst"))
            .localCheckpoint()
          if (eR ne e0) Rounds.release(eR)
          eR = eNext
        }
      }
      if (waves.nonEmpty) {
        // every wave is already materialized (inside its residual job),
        // so the accumulator union is a LAZY chain over cached leaves
        val settled = waves.reduce(_ unionByName _)
          .select(col("node"), col("node").as("component"))
        comps = Some(comps.fold(settled)(_ unionByName settled)
          .localCheckpoint(false))
      }
    }
    var done = residualCount == 0L
    if (!done) { trim(); done = residualCount == 0L }
    while (!done) {
      round += 1
      require(round <= maxRounds,
        s"stronglyConnectedComponents: residual nodes remain after " +
          s"$maxRounds rounds — raise maxRounds or pivotsPerRound")
      val pivots = residual
        .orderBy(md5(col("node").cast("binary")), col("node"))
        .limit(pivotsPerRound) // TakeOrdered — never a global sort
        .localCheckpoint()
      // the two reach passes are independent job DAGs — submit them
      // concurrently (level-synchronous BFS wall time is driver
      // round-trips × depth; overlapping F and B halves it, on a
      // cluster as on local). Both run over the shortcut-accelerated
      // plane — identical reach sets in about half the hops; trim and
      // the edge restrictions keep using the TRUE edges (degrees and
      // adjacency must not see shortcuts).
      import scala.concurrent.Await
      import scala.concurrent.ExecutionContext.Implicits.global
      val eAcc = accelerated(eR)
      val seeds = pivots.select(col("node").as("s"), col("node"))
      val fF = Par.grouped(reach(eAcc, seeds, maxDepth, "components"))
      val fB = Par.grouped(reach(
        eAcc.select(col("edst").as("esrc"), col("esrc").as("edst")),
        seeds, maxDepth, "components"))
      val fwd = Await.result(fF, scala.concurrent.duration.Duration.Inf)
      val bwd = Await.result(fB, scala.concurrent.duration.Duration.Inf)
      // F(p) ∩ B(p) = SCC(p); label = min member (pivot-independent)
      val wPivot = org.apache.spark.sql.expressions.Window
        .partitionBy(col("s"))
      // LAZY: settled materializes inside the residual update's job (its
      // first consumer, below); the comps accumulator is a union chain of
      // checkpointed leaves that materializes only when the caller
      // consumes the result — neither costs a round-trip of its own
      // (rounds are bounded by maxRounds, so the deferred chain stays
      // shallow)
      val settled = fwd.join(bwd, Seq("s", "node"))
        .withColumn("component", min(col("node")).over(wPivot))
        .select(col("node"), col("component"))
        .distinct() // pivots sharing an SCC emit identical rows
        .localCheckpoint(false)
      comps = Some(comps.fold(settled)(_ unionByName settled)
        .localCheckpoint(false))
      val (resNext, n) = Rounds.counted(residual.join(
        settled.select(col("node")), Seq("node"), "left_anti"))
      residual = resNext
      residualCount = n
      done = residualCount == 0L
      // settled has materialized inside the residual job, so nothing
      // lazy reads this round's accelerated plane or pivots any more
      Rounds.release(eAcc)
      Rounds.release(pivots)
      // when the pivots finished the graph, the restricted edge frame
      // and the trim probe are both dead work — skip them
      if (!done) {
        val eNext = eR
          .join(residual.select(col("node").as("esrc")), Seq("esrc"),
            "left_semi")
          .join(residual.select(col("node").as("edst")), Seq("edst"),
            "left_semi")
          .select(col("esrc"), col("edst"))
          .localCheckpoint()
        if (eR ne e0) Rounds.release(eR)
        eR = eNext
        // the settled SCCs' removal exposes a fresh acyclic fringe
        trim(); done = residualCount == 0L
      }
    }
    if (eR ne e0) Rounds.release(eR)
    e0.unpersist()
    comps.getOrElse(allNodes.select(col("node"),
      col("node").as("component")))
  }

  /** Bowtie decomposition of a directed graph (Broder, Kumar, Maghoul,
    * Raghavan, Rajagopalan, Stata, Tomkins & Wiener, WWW'00 "Graph
    * structure in the web"): classify every node relative to the
    * LARGEST strongly connected component —
    *
    *   core          the giant SCC itself (ties on size break to the
    *                 smallest component label — deterministic)
    *   in            reaches the core, not in it
    *   out           reachable from the core, not in it
    *   tubes         on a core-FREE path from IN to OUT
    *   tendrils      hang off IN or lead into OUT core-free, not both
    *   disconnected  none of the above
    *
    * Built on [[stronglyConnectedComponents]] + three set-reachability
    * passes: F(core)/B(core) over the full graph (submitted as
    * concurrent job DAGs), then forward-from-IN / backward-from-OUT
    * over the CORE-EXCLUDED subgraph (the "without passage through the
    * SCC" clause of the paper's tendril definition). Every pass is the
    * [[reach]] level-synchronous BFS shape with per-hop
    * localCheckpoint and the loud maxDepth guard; everything else is
    * skinny set algebra (semi/anti joins on the node plane).
    *
    * → (node, component, region) — one row per node appearing in any
    *   non-self-loop edge (the [[stronglyConnectedComponents]] node
    *   universe).
    */
  def bowtieDecomposition(edges: DataFrame, srcCol: String, dstCol: String,
                          pivotsPerRound: Int = 64, maxDepth: Int = 32,
                          maxRounds: Int = 64): DataFrame = {
    import scala.concurrent.Await
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val e0 = edgePlane(edges, srcCol, dstCol, "esrc", "edst")
      .filter(col("esrc") =!= col("edst"))
      .distinct()
      .persist()
    val nodes = e0.select(col("esrc").as("node"))
      .unionByName(e0.select(col("edst").as("node"))).distinct()
      .localCheckpoint()
    val comps = stronglyConnectedComponents(edges, srcCol, dstCol,
      pivotsPerRound, maxDepth, maxRounds).localCheckpoint(true)
    val giant = comps.groupBy("component").agg(count(lit(1)).as("__sz"))
      .orderBy(col("__sz").desc, col("component")) // TakeOrdered, 1 row
      .limit(1)
      .select(col("component").as("__giant"))
    val core = comps.join(broadcast(giant),
        col("component") === col("__giant"))
      .select(col("node")).localCheckpoint(true)
    // shortcut-accelerated planes for the four reach passes (identical
    // reach sets, about half the hops — see [[accelerated]]); the
    // region set algebra keeps using the true edges
    def setReach(e: DataFrame, sources: DataFrame): DataFrame =
      reach(e, sources.select(col("node")).distinct(), maxDepth, "regions")
    val eAcc0 = accelerated(e0)
    val rev = eAcc0.select(col("edst").as("esrc"), col("esrc").as("edst"))
    val fF = Par.grouped(setReach(eAcc0, core))
    val fB = Par.grouped(setReach(rev, core))
    val fwd = Await.result(fF, Duration.Inf)
    val bwd = Await.result(fB, Duration.Inf)
    val outR = fwd.join(core, Seq("node"), "left_anti").localCheckpoint(true)
    val inR = bwd.join(core, Seq("node"), "left_anti").localCheckpoint(true)
    val settled = core.unionByName(inR).unionByName(outR)
    val rem = nodes.join(settled, Seq("node"), "left_anti")
      .localCheckpoint(true)
    // the core-excluded subgraph: "without passage through the SCC"
    val eNC = e0
      .join(core.select(col("node").as("esrc")), Seq("esrc"), "left_anti")
      .join(core.select(col("node").as("edst")), Seq("edst"), "left_anti")
      .select(col("esrc"), col("edst")).localCheckpoint(true)
    val eAccNC = accelerated(eNC)
    val revNC = eAccNC.select(col("edst").as("esrc"), col("esrc").as("edst"))
    val fFrom = Par.grouped(setReach(eAccNC, inR))
    val fTo = Par.grouped(setReach(revNC, outR))
    val fromIn = Await.result(fFrom, Duration.Inf)
      .join(rem, Seq("node"), "left_semi").localCheckpoint(true)
    val toOut = Await.result(fTo, Duration.Inf)
      .join(rem, Seq("node"), "left_semi").localCheckpoint(true)
    val tubes = fromIn.join(toOut, Seq("node"), "left_semi")
    val tendrils = fromIn.unionByName(toOut).distinct()
      .join(tubes, Seq("node"), "left_anti")
    val disconnected = rem
      .join(fromIn.unionByName(toOut).distinct(), Seq("node"), "left_anti")
    val regions = core.withColumn("region", lit("core"))
      .unionByName(inR.withColumn("region", lit("in")))
      .unionByName(outR.withColumn("region", lit("out")))
      .unionByName(tubes.withColumn("region", lit("tubes")))
      .unionByName(tendrils.withColumn("region", lit("tendrils")))
      .unionByName(disconnected.withColumn("region", lit("disconnected")))
    val out = comps.join(regions, "node")
      .select(col("node"), col("component"), col("region"))
    e0.unpersist()
    out
  }

  /** Condensation of a directed graph by an SCC labeling (the quotient
    * DAG — Cormen et al. §22.5; for web graphs, the component-level
    * view the bowtie report summarizes): one row per ordered pair of
    * DISTINCT components with the number of distinct underlying simple
    * edges between them. Feed [[stronglyConnectedComponents]]' output;
    * the result is acyclic by the definition of SCCs. Self-loops are
    * dropped with the same rule as the SCC pass (they connect no two
    * components). Two keyed joins of the skinny (node, component)
    * plane onto the distinct edge list + one aggregation — no
    * iteration, no windows.
    *
    * With `weightCol` (crawl planners want EDGE MASS between
    * components, not just distinct-edge counts): weights must be
    * POSITIVE INTEGERS (the [[louvainCommunities]] contract — raise,
    * never truncate), parallel (src, dst) rows ADD their weights
    * before the quotient aggregation, and the output gains a `weight`
    * column = the summed mass between the two components. The default
    * path is bit-identical to the historic unweighted output (q267's
    * oracle hash unchanged).
    *
    * → (src_component, dst_component, n_edges[, weight])
    */
  def sccCondense(edges: DataFrame, srcCol: String, dstCol: String,
                  comps: DataFrame, nodeCol: String = "node",
                  compCol: String = "component",
                  weightCol: Option[String] = None): DataFrame = {
    val e0 = weightCol match {
      case None => edgePlane(edges, srcCol, dstCol, "esrc", "edst")
        .filter(col("esrc") =!= col("edst"))
        .distinct()
      case Some(wc) => edges
        .select(col(srcCol).cast("string").as("esrc"),
          col(dstCol).cast("string").as("edst"), col(wc).as("__w0"))
        .filter(col("esrc").isNotNull && col("edst").isNotNull &&
          col("esrc") =!= col("edst"))
        .filter(coalesce(
          assert_true(col("__w0").isNotNull &&
              col("__w0").cast("long") >= 1L &&
              col("__w0") === col("__w0").cast("long"),
            concat_ws("", lit("sccCondense: edge weight must be a"),
              lit(" positive integer, got "), col("__w0"))),
          lit(true)))
        .groupBy("esrc", "edst") // parallel rows ADD their weights
        .agg(coalesce(sum(col("__w0").cast("long")).cast("bigint"),
          lit(0L)).as("__w"))
    }
    val lab = comps.select(col(nodeCol).cast("string").as("__n"),
      col(compCol).cast("string").as("__c"))
    val joined = e0
      .join(lab.select(col("__n").as("esrc"),
        col("__c").as("src_component")), "esrc")
      .join(lab.select(col("__n").as("edst"),
        col("__c").as("dst_component")), "edst")
      .filter(col("src_component") =!= col("dst_component"))
      .groupBy("src_component", "dst_component")
    weightCol match {
      case None => joined.agg(count(lit(1)).as("n_edges"))
      case Some(_) => joined.agg(count(lit(1)).as("n_edges"),
        coalesce(sum(col("__w")).cast("bigint"), lit(0L)).as("weight"))
    }
  }

  /** Power-law degree-exponent MLE (Clauset, Shalizi & Newman, SIAM
    * Review 2009 §3.5 — the estimator behind every "is this web graph
    * scale-free?" report): over the undirected degree distribution's
    * tail d ≥ dMin,
    *
    *   α̂ = 1 + n / Σ_i ln( d_i / (dMin − ½) ),   σ = (α̂ − 1)/√n
    *
    * (the discrete-data half-offset form, eq. 3.7). Determinism: each
    * ln input is the exact integer ratio 2·d_i / (2·dMin − 1), the
    * terms route through DECIMAL(18,12) and sum as decimals (the q109
    * ln discipline), and the two divisions bridge via the string
    * route — the whole row replays bit-for-bit in DuckDB. One degree
    * aggregation + one bounded fold; raises if the tail is empty.
    *
    * → one row (n_tail, d_min, alpha, sigma)
    */
  def powerLawAlpha(edges: DataFrame, srcCol: String, dstCol: String,
                    dMin: Long = 2L): DataFrame = {
    require(dMin >= 1, s"dMin must be >= 1, got $dMin")
    val deg = undirectedNbr(edges, srcCol, dstCol)
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= dMin)
    deg
      .select((log((col("deg") * 2L).cast("double") /
          lit((2L * dMin - 1L).toDouble)))
        .cast("decimal(18,12)").as("__t"))
      .groupBy()
      .agg(count(lit(1)).as("n_tail"), sum(col("__t")).as("__s"))
      .filter(coalesce(
        assert_true(col("n_tail") > 0,
          lit(s"powerLawAlpha: no node has degree >= $dMin")),
        lit(true)))
      .select(col("n_tail"), lit(dMin).as("d_min"),
        (lit(1.0) + col("n_tail").cast("double") /
          col("__s").cast("string").cast("double")).as("alpha"))
      .withColumn("sigma",
        (col("alpha") - lit(1.0)) / sqrt(col("n_tail").cast("double")))
  }

  /** Degree assortativity of the undirected graph (Newman, PRL 2002
    * "Assortative mixing in networks" — do hubs link to hubs?): the
    * Pearson correlation of endpoint degrees over the distinct
    * undirected edge set, computed as ONE exact integer ratio. With
    * S1 = Σ_e j·k, S2 = Σ_e (j+k), S3 = Σ_e (j²+k²) over the M edges
    * (j, k = endpoint degrees),
    *
    *   r = (4·M·S1 − S2²) / (2·M·S3 − S2²)
    *
    * — both sides exact DECIMAL(38,0) (the Louvain gain discipline),
    * one VARCHAR-bridged division at the edge, so the row replays
    * bit-for-bit. Cost: one degree aggregation + one keyed join of the
    * skinny degree frame onto the edge plane. A regular graph has zero
    * denominator — reported as NULL (no degree variance, correlation
    * undefined), never a division blow-up.
    *
    * → one row (n_edges, assortativity)
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame = {
    val nbr = undirectedNbr(edges, srcCol, dstCol)
    val deg = nbr.groupBy("node").agg(count(lit(1)).as("deg"))
    // each undirected edge ONCE: the canonical (node < nb) half
    val e1 = nbr.filter(col("node") < col("nb"))
      .join(deg.select(col("node"), col("deg").as("__j")), "node")
      .join(deg.select(col("node").as("nb"), col("deg").as("__k")), "nb")
    val dec = "decimal(38,0)"
    e1.select(
        col("__j").cast(dec).as("__j"), col("__k").cast(dec).as("__k"))
      .groupBy()
      .agg(count(lit(1)).as("n_edges"),
        sum(col("__j") * col("__k")).as("__s1"),
        sum(col("__j") + col("__k")).as("__s2"),
        sum(col("__j") * col("__j") + col("__k") * col("__k")).as("__s3"))
      .withColumn("__num", col("n_edges").cast(dec) * 4 * col("__s1") -
        col("__s2") * col("__s2"))
      .withColumn("__den", col("n_edges").cast(dec) * 2 * col("__s3") -
        col("__s2") * col("__s2"))
      .select(col("n_edges"),
        when(col("__den") =!= 0,
          col("__num").cast("string").cast("double") /
            col("__den").cast("string").cast("double"))
          .as("assortativity"))
  }

  /** Edge reciprocity of the directed graph (Garlaschelli & Loffredo,
    * PRL 2004; the classic crawl-graph diagnostic — what fraction of
    * links are returned?): over the distinct simple directed edge set,
    * the share with the reverse edge also present. One self-join of
    * the skinny edge plane; exact integers, one bridged division.
    *
    * → one row (n_edges, n_reciprocal, reciprocity)
    */
  def reciprocity(edges: DataFrame, srcCol: String,
                  dstCol: String): DataFrame = {
    val e0 = edgePlane(edges, srcCol, dstCol, "esrc", "edst")
      .filter(col("esrc") =!= col("edst"))
      .distinct()
    val rev = e0.select(col("edst").as("esrc"), col("esrc").as("edst"))
    e0.join(rev, Seq("esrc", "edst"), "left_semi")
      .agg(count(lit(1)).as("n_reciprocal"))
      .crossJoin(broadcast(e0.agg(count(lit(1)).as("n_edges"))))
      .select(col("n_edges"), col("n_reciprocal"),
        when(col("n_edges") > 0,
          col("n_reciprocal").cast("double") /
            col("n_edges").cast("double"))
          .otherwise(lit(0.0)).as("reciprocity"))
  }

  /** Deterministic uniform random-walk corpus (Perozzi et al., KDD 2014
    * "DeepWalk"; the p=q=1 case of Grover & Leskovec's node2vec) — the
    * walk-sentence generator feeding skip-gram graph-embedding
    * training. `walksPerNode` walks start at every node with at least
    * one out-edge; at step t walk w at node v moves to the out-neighbor
    * of rank
    *
    *   h48(md5(walk_id ∥ '|' ∥ t)) mod outdeg(v)
    *
    * where neighbors rank by dst order — REPRODUCIBLE across engines,
    * runs, partitionings and cluster sizes (the [[graft.ops.Curation.hashBucket]]
    * rationale: no rand(), so re-running the pipeline regenerates the
    * identical corpus), and the oracle replays every hop. A walk
    * reaching a sink (no out-edges) simply ends early.
    *
    * Scale shape: the ranked-neighbor table (edge plane + one window)
    * is built ONCE and reused; each of the `walkLen` rounds is one
    * hash-partitioned join of the (|V|·walksPerNode)-row frontier with
    * it — level-synchronous like the BFS kernels, per-round
    * localCheckpoint so the plan stays one-hop deep. Skew rides the
    * join key = current node: walks concentrate on hub nodes the way
    * PageRank mass does, the standard AQE skew-join case.
    *
    * → (walk_id, step, node): step 0 is the start node.
    */
  def randomWalks(edges: DataFrame, srcCol: String, dstCol: String,
                  walksPerNode: Int = 1, walkLen: Int = 8): DataFrame = {
    require(walksPerNode >= 1 && walksPerNode <= 64,
      s"walksPerNode in [1,64], got $walksPerNode")
    require(walkLen >= 1 && walkLen <= 64, s"walkLen in [1,64], got $walkLen")
    val e = edgePlane(edges, srcCol, dstCol, "__s", "__d")
      .filter(col("__s") =!= col("__d"))
      .distinct()
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__s")).orderBy(col("__d"))
    val wDeg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__s"))
    val nbr = e.withColumn("__r", row_number().over(wRank).cast("long"))
      .withColumn("__deg", count(lit(1)).over(wDeg).cast("long"))
      .localCheckpoint() // reused every round
    val spine = edges.sparkSession.range(walksPerNode)
      .select(col("id").as("__w"))
    val starts = e.select(col("__s").as("__v")).distinct()
      .crossJoin(broadcast(spine))
      .select(concat(col("__v"), lit("#"), col("__w")).as("walk_id"),
        col("__v"))
    var frontier = starts.select(col("walk_id"), col("__v").as("__cur"))
      .localCheckpoint()
    var acc = frontier
      .select(col("walk_id"), lit(0L).as("step"), col("__cur").as("node"))
    for (t <- 1 to walkLen) {
      // 48-bit md5 prefix (the Sketches h48 recipe) mod out-degree
      val pick = conv(substring(md5(concat(col("walk_id"), lit(s"|$t"))),
        1, 12), 16, 10).cast("long") % col("__deg")
      frontier = frontier
        .join(nbr, frontier("__cur") === nbr("__s"))
        .filter(col("__r") === pick + lit(1L))
        .select(col("walk_id"), col("__d").as("__cur"))
        .localCheckpoint()
      acc = acc.unionByName(frontier.select(col("walk_id"),
        lit(t.toLong).as("step"), col("__cur").as("node")))
    }
    acc
  }

  /** Bounded-degree 2-hop shortcut edges: for every middle node, join
    * at most `k` in-edges with at most `k` out-edges (hash-ranked with
    * the deterministic seedless md5 recipe, so the selection is a pure
    * function of the edge set). Every shortcut is inside the transitive
    * closure, so a level-synchronous reach over e ∪ shortcuts computes
    * EXACTLY the reach sets of e — in roughly half the rounds wherever
    * the shortcut budget covers the middle nodes (always at the
    * planted-graph degrees; at web scale the k² cap keeps the
    * augmentation ≤ k²·|V| rows, immune to hub in×out blow-up, and a
    * partially-covered hub still only costs rounds, never correctness).
    * Rounds are the wall-clock of the reach family — each hop is a
    * fixed ladder of stage round-trips — so halving rounds halves the
    * lane (guide §1.2: fix the distributed algorithm first).
    */
  private def shortcutEdges(e: DataFrame, k: Int): DataFrame = {
    val h = md5(concat(col("esrc"), lit("\u0000"), col("edst")))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy("edst").orderBy(h, col("esrc"))
    val wOut = org.apache.spark.sql.expressions.Window
      .partitionBy("esrc").orderBy(h, col("edst"))
    val ins = e.withColumn("__r", row_number().over(wIn))
      .filter(col("__r") <= k)
      .select(col("edst").as("__mid"), col("esrc"))
    val outs = e.withColumn("__r", row_number().over(wOut))
      .filter(col("__r") <= k)
      .select(col("esrc").as("__mid"), col("edst"))
    ins.join(outs, "__mid")
      .select(col("esrc"), col("edst"))
      .filter(col("esrc") =!= col("edst"))
  }

  /** A reach-equivalent accelerated edge plane: the edges plus their
    * bounded 2-hop shortcuts, materialized once (the plane feeds
    * concurrent forward/backward passes). Duplicate edges are fine —
    * every hop distincts its frontier.
    */
  private def accelerated(e: DataFrame, k: Int = 4): DataFrame =
    e.unionByName(shortcutEdges(e, k)).localCheckpoint()

  /** Level-synchronous reachability over a normalized (esrc, edst) edge
    * frame. `seeds` holds a "node" column and, for a multi-source reach,
    * a leading source column "s": the result is then (s, node) for
    * every node reachable from s, (s, s) included; without "s" it is
    * every node reachable from any seed, seeds included. Each hop is
    * one eager checkpoint whose row count is the emptiness probe; the
    * visited union stays lazy and materializes inside the next hop's
    * anti-join. Empty seeds give an empty result; a frontier still
    * expanding past `maxDepth` raises (silent truncation would
    * mislabel `what`).
    */
  private def reach(e: DataFrame, seeds: DataFrame, maxDepth: Int,
                    what: String): DataFrame = {
    val keys = seeds.columns.toSeq
    var (visited, n) = Rounds.counted(seeds)
    var frontier = visited
    var d = 0
    var done = n == 0L
    while (!done) {
      d += 1
      val (next, m) = Rounds.counted(
        frontier.join(e, col("node") === col("esrc"))
          .select(keys.map(k =>
            if (k == "node") col("edst").as("node") else col(k)): _*)
          .distinct()
          .join(visited, keys, "left_anti"))
      if (m == 0L) done = true
      else {
        require(d <= maxDepth,
          s"reach: frontier still expanding at depth $maxDepth — " +
            s"raise maxDepth (silent truncation would mislabel $what)")
        visited = visited.unionByName(next).localCheckpoint(false)
        frontier = next
      }
    }
    visited
  }
}
