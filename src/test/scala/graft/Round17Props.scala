package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

import org.apache.spark.sql.functions._

/** Property tests for the round-17 ops: the distributed multi-pivot
  * FW×BW SCC must EQUAL a driver-side transitive-closure reference
  * (Floyd–Warshall mutual reachability, min-member labels) on arbitrary
  * small directed graphs, across pivot batch sizes that force both the
  * single-round and the iterated-residual paths; the top-k summary's
  * merge must be invariant to ARBITRARY leaf partitionings of the bag
  * (any split of the same rows into leaves yields states whose
  * heavy-hitter bounds contain the exact counts).
  */
object Round17Props extends Properties("Round17Ops") {
  private lazy val spark = SparkTestSession.spark

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private val graphGen: Gen[(Int, List[(Int, Int)])] = for {
    n <- Gen.choose(3, 10)
    m <- Gen.choose(2, 30)
    es <- Gen.listOfN(m,
      Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
  } yield (n, es)

  /** Driver-side reference: Floyd–Warshall reachability, component =
    * min node id among mutually-reachable nodes (self included).
    */
  private def refScc(edges: Seq[(String, String)]): Map[String, String] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.size
    val reach = Array.fill(n, n)(false)
    edges.foreach { case (a, b) =>
      if (a != b) reach(idx(a))(idx(b)) = true }
    for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
      if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
    nodes.map { v =>
      val i = idx(v)
      val members = nodes.filter { u =>
        val j = idx(u)
        u == v || (reach(i)(j) && reach(j)(i))
      }
      v -> members.min
    }.toMap
  }

  private def sccMatchesReference(edges: Seq[(String, String)],
                                  pivots: Int): Prop = {
    import spark.implicits._
    val simple = edges.filter { case (a, b) => a != b }.distinct
    val got = graft.ops.WebGraph.stronglyConnectedComponents(
        edges.toDF("src", "dst"), "src", "dst",
        pivotsPerRound = pivots, maxDepth = 32, maxRounds = 64)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val want = refScc(simple)
    (got == want) :| s"pivots=$pivots got=$got want=$want edges=$simple"
  }

  /** Star-with-cycle hub graph: hub h has in- and out-degree 7, above
    * the reach passes' shortcut budget (k = 4 in × 4 out per middle
    * node). A cycle h → c0 → c1 → c2 → h is the giant SCC; six spokes
    * m_i → h and six h → l_i; a core-free second hub t (m_i → t → l_i,
    * a tube); a tendril m0 → d; a disconnected edge x → y.
    */
  private val hubEdges: Seq[(String, String)] =
    Seq(("h", "c0"), ("c0", "c1"), ("c1", "c2"), ("c2", "h")) ++
      (0 until 6).flatMap(i => Seq((s"m$i", "h"), ("h", s"l$i"),
        (s"m$i", "t"), ("t", s"l$i"))) ++
      Seq(("m0", "d"), ("x", "y"))

  // deterministic: run once per property check, not once per sample
  private lazy val hubSccMatches: Prop =
    Prop.all(Seq(1, 64).map(sccMatchesReference(hubEdges, _)): _*)

  property("stronglyConnectedComponents == Floyd-Warshall reference " +
    "across pivot batch sizes") = Prop.forAll(graphGen,
      Gen.oneOf(1, 2, 64)) { case ((n, es), pivots) =>
    val edges = es.map { case (a, b) => (s"n$a", s"n$b") }
    edges.exists { case (a, b) => a != b } ==>
      sccMatchesReference(edges, pivots)
  } && Prop.secure(hubSccMatches)

  property("SCC hand-computed bowtie: triangle -> 2-cycle -> singleton " +
    "tail; deep-graph maxDepth guard raises") = Prop.secure {
    import spark.implicits._
    // a->b->c->a (SCC {a,b,c}), c->d, d<->e (SCC {d,e}), e->f, f->g
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
      ("d", "e"), ("e", "d"), ("e", "f"), ("f", "g"))
    val got = graft.ops.WebGraph.stronglyConnectedComponents(
        edges.toDF("src", "dst"), "src", "dst",
        pivotsPerRound = 2, maxDepth = 16, maxRounds = 16)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val want = Map("a" -> "a", "b" -> "a", "c" -> "a",
      "d" -> "d", "e" -> "d", "f" -> "f", "g" -> "g")
    // a deep CYCLE: trim settles nothing (every node is on the cycle),
    // so the pivot BFS must expand past maxDepth and raise (a chain
    // would now be fully settled by trim waves before any BFS)
    val guard = scala.util.Try {
      graft.ops.WebGraph.stronglyConnectedComponents(
        ((0 until 6).map(i => (s"c$i", s"c${i + 1}")) :+ ("c6", "c0"))
          .toDF("src", "dst"),
        "src", "dst", pivotsPerRound = 64, maxDepth = 2).collect()
    }
    (got == want) :| s"got $got" &&
      (guard.isFailure &&
        guard.failed.get.getMessage.contains("maxDepth")) :| "guard"
  }

  property("bowtieDecomposition: hand-computed classic bowtie — core/in/" +
    "out/tubes/tendrils/disconnected all exercised") = Prop.secure {
    import spark.implicits._
    // core: c0->c1->c2->c0; in-chain: i0->i1->c0; out-chain: c1->o1->o2;
    // tendril t1 hangs off i1; tube u1: i0->u1->o2 (core-free IN->OUT);
    // disconnected pair x1<->x2
    val edges = Seq(("c0", "c1"), ("c1", "c2"), ("c2", "c0"),
      ("i0", "i1"), ("i1", "c0"), ("c1", "o1"), ("o1", "o2"),
      ("i1", "t1"), ("i0", "u1"), ("u1", "o2"),
      ("x1", "x2"), ("x2", "x1"))
    val got = graft.ops.WebGraph.bowtieDecomposition(
        edges.toDF("src", "dst"), "src", "dst",
        pivotsPerRound = 3, maxDepth = 16, maxRounds = 16)
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2)))
      .toMap
    val want = Map(
      "c0" -> "core", "c1" -> "core", "c2" -> "core",
      "i0" -> "in", "i1" -> "in", "o1" -> "out", "o2" -> "out",
      "t1" -> "tendrils", "u1" -> "tubes",
      "x1" -> "disconnected", "x2" -> "disconnected")
    val regionsOk = got.view.mapValues(_._2).toMap == want
    // component labels: giant SCC labeled by its min member, the
    // disconnected 2-cycle by its own min member, singletons by self
    val compOk = got("c1")._1 == "c0" && got("x2")._1 == "x1" &&
      got("t1")._1 == "t1"
    // the hub graph: both reach phases run through hubs above the
    // shortcut budget (h for the core passes, t for the core-free ones)
    val hub = graft.ops.WebGraph.bowtieDecomposition(
        hubEdges.toDF("src", "dst"), "src", "dst",
        pivotsPerRound = 1, maxDepth = 16, maxRounds = 16)
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2)))
      .toMap
    val core = Seq("h", "c0", "c1", "c2")
    val hubWant = (core.map(_ -> ("c0", "core")) ++
      (0 until 6).flatMap(i => Seq(s"m$i" -> (s"m$i", "in"),
        s"l$i" -> (s"l$i", "out"))) ++
      Seq("t" -> ("t", "tubes"), "d" -> ("d", "tendrils"),
        "x" -> ("x", "disconnected"), "y" -> ("y", "disconnected"))).toMap
    (regionsOk :| s"regions: ${got.view.mapValues(_._2).toMap}") &&
      (compOk :| s"components: ${got.view.mapValues(_._1).toMap}") &&
      ((hub == hubWant) :| s"hub graph: $hub")
  }

  property("sccCondense: quotient DAG of the hand bowtie; powerLawAlpha " +
    "matches the closed form on a path graph") = Prop.secure {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
      ("d", "e"), ("e", "d"), ("e", "f"), ("f", "g"))
    val df = edges.toDF("src", "dst")
    val comps = graft.ops.WebGraph.stronglyConnectedComponents(
      df, "src", "dst", pivotsPerRound = 64, maxDepth = 16)
    val cond = graft.ops.WebGraph.sccCondense(df, "src", "dst", comps)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    val condOk = cond == Set(("a", "d", 1L), ("d", "f", 1L),
      ("f", "g", 1L))
    // path a-b-c-d-e: degrees 1,2,2,2,1; tail d>=2 has n=3 with
    // alpha = 1 + 3 / (3 ln(4/3)) = 1 + 1/ln(4/3)
    val path = Seq(("p1", "p2"), ("p2", "p3"), ("p3", "p4"), ("p4", "p5"))
    val row = graft.ops.WebGraph.powerLawAlpha(
      path.toDF("src", "dst"), "src", "dst", dMin = 2L).head()
    val want = 1.0 + 1.0 / math.log(4.0 / 3.0)
    val alphaOk = row.getLong(0) == 3L &&
      math.abs(row.getDouble(2) - want) < 1e-9 &&
      math.abs(row.getDouble(3) - (row.getDouble(2) - 1.0) /
        math.sqrt(3.0)) < 1e-12
    (condOk :| s"condensed: $cond") && (alphaOk :| s"alpha row: $row")
  }

  property("degreeAssortativity: star K1,3 reads exactly -1; regular " +
    "ring reads NULL; reciprocity hand graph reads 2/3") = Prop.secure {
    import spark.implicits._
    val star = Seq(("c", "x1"), ("c", "x2"), ("c", "x3")).toDF("s", "d")
    val rs = graft.ops.WebGraph.degreeAssortativity(star, "s", "d").head()
    val starOk = rs.getLong(0) == 3L && rs.getDouble(1) == -1.0
    // 4-ring is 2-regular: zero degree variance -> NULL, not a blow-up
    val ring = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
      .toDF("s", "d")
    val rr = graft.ops.WebGraph.degreeAssortativity(ring, "s", "d").head()
    val ringOk = rr.getLong(0) == 4L && rr.isNullAt(1)
    // a<->b reciprocal, a->c not: 2 of 3 directed edges returned
    val dir = Seq(("a", "b"), ("b", "a"), ("a", "c")).toDF("s", "d")
    val rc = graft.ops.WebGraph.reciprocity(dir, "s", "d").head()
    val recOk = rc.getLong(0) == 3L && rc.getLong(1) == 2L &&
      rc.getDouble(2) == 2.0 / 3.0
    (starOk :| s"star: $rs") && (ringOk :| s"ring: $rr") &&
      (recOk :| s"reciprocity: $rc")
  }

  private val bagGen: Gen[(List[String], List[Int])] = for {
    m <- Gen.choose(5, 60)
    items <- Gen.listOfN(m, Gen.oneOf("a", "b", "c", "d", "e", "f", "g"))
    splits <- Gen.listOfN(m, Gen.choose(0, 3)) // leaf id per row
  } yield (items, splits)

  property("topkSketch bounds contain exact counts under ARBITRARY " +
    "leaf partitionings; merge == leaf-split build") =
    Prop.forAll(bagGen, Gen.choose(1, 4)) { case ((items, splits), k) =>
      import spark.implicits._
      val df = items.zip(splits).map { case (i, l) => (s"l$l", i) }
        .toDF("leaf", "item0")
      val viaSplit = graft.ops.Sketches.topkSketch(
        df, Seq.empty, "item0", k, leafCols = Seq("leaf"))
      val leaves = splits.distinct.map { l =>
        graft.ops.Sketches.topkSketch(
          df.filter(col("leaf") === s"l$l"), Seq.empty, "item0", k)
      }
      val viaMerge = graft.ops.Sketches.topkMerge(Seq.empty, leaves: _*)
      def st(d: org.apache.spark.sql.DataFrame) =
        d.select("item", "cnt", "tseen").collect()
          .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2)))
          .toSet
      val eq = st(viaSplit) == st(viaMerge)
      val exact = items.groupBy(identity).map { case (i, rs) =>
        i -> rs.size.toLong }
      val hh = graft.ops.Sketches.topkHeavyHitters(viaMerge, Seq.empty, k)
        .collect()
      val inBounds = hh.forall { r =>
        val c = exact(r.getString(1))
        r.getLong(2) <= c && c <= r.getLong(3)
      }
      val stateItems = viaMerge.filter(col("item").isNotNull)
        .collect().map(_.getString(0)).toSet
      val absentBound = hh.headOption.map(_.getLong(5)).getOrElse(0L)
      val absentOk = exact.forall { case (i, c) =>
        stateItems.contains(i) || c <= absentBound }
      (eq :| "merge != leaf-split build") &&
        (inBounds :| s"bounds violated: ${hh.mkString(",")} vs $exact") &&
        (absentOk :| "absent bound violated")
    }
}
