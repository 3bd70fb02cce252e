package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Html, WebGraph}

class HtmlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def extract(html: String): String = {
    import spark.implicits._
    Seq(html).toDF("h").select(Html.htmlToText(col("h"))).head.getString(0)
  }

  test("htmlToText: block tags become newlines, inline tags become spaces") {
    val got = extract(
      "<html><body><h1>Title</h1><p>one <b>two</b> three</p>" +
        "<div>four<br>five</div></body></html>")
    assert(got == "Title\none two three\nfour\nfive")
  }

  test("htmlToText: script/style/noscript content is dropped, even with markup bait inside") {
    val got = extract(
      "<body><script>var s=\"</p><p>leak\"; if(1<2){}</script>" +
        "<style>p{x:1<2}</style><noscript>js off</noscript><p>kept</p></body>")
    assert(got == "kept")
  }

  test("htmlToText: head (title included) is metadata, not body text") {
    val got = extract(
      "<html><head><title>T</title><meta charset=\"utf-8\"></head>" +
        "<body><p>body</p></body></html>")
    assert(got == "body")
  }

  test("htmlToText: comments vanish, including ones containing tags") {
    assert(extract("<p>a</p><!-- <p>gone</p> --><p>b</p>") == "a\nb")
  }

  test("htmlToText: entities decode AFTER tag stripping — encoded markup stays literal text") {
    val got = extract("<p>&lt;script&gt;alert(1)&lt;/script&gt; &amp; &quot;x&quot;&nbsp;&#39;y&#39;</p>")
    assert(got == "<script>alert(1)</script> & \"x\" 'y'")
  }

  test("htmlToText: double-decode bait &amp;lt; yields &lt;, not <") {
    assert(extract("<p>&amp;lt;</p>") == "&lt;")
  }

  test("htmlToText: whitespace collapses — runs to one space, blank lines to one newline, edges trimmed") {
    val got = extract("<p>  a   b\t c </p><p></p><p> d </p>")
    assert(got == "a b c\nd")
  }

  test("extractTitle: decoded and collapsed; NULL when absent") {
    import spark.implicits._
    val df = Seq(
      "<head><title> Hello &amp;  World </title></head>",
      "<head></head>").toDF("h")
    val got = df.select(Html.extractTitle(col("h"))).collect()
    assert(got(0).getString(0) == "Hello & World")
    assert(got(1).isNullAt(0))
  }

  test("extractLinks: double- and single-quoted hrefs, any attribute order") {
    import spark.implicits._
    val html = "<a class=\"x\" href=\"https://a.com/1\">A</a>" +
      "<a href='https://b.com/2' rel='nofollow'>B</a>" +
      "<a name=\"no-href\">C</a>"
    val got = Seq(html).toDF("h")
      .select(Html.extractLinks(col("h"))).head.getSeq[String](0)
    assert(got == Seq("https://a.com/1", "https://b.com/2"))
  }

  test("extractLinks/anchors: data-href is NOT a link; hrefs come back entity-decoded") {
    import spark.implicits._
    val html = "<a data-href=\"https://tracker.example/x\">t</a>" +
      "<a href=\"https://h.com/p?a=1&amp;b=2\">real</a>"
    val links = Seq(html).toDF("h")
      .select(Html.extractLinks(col("h"))).head.getSeq[String](0)
    assert(links == Seq("https://h.com/p?a=1&b=2"),
      "attribute names merely ending in 'href' must not produce phantom links; &amp; decodes")
    val a = Seq(html).toDF("h").select(Html.anchors(col("h")))
      .head.getSeq[org.apache.spark.sql.Row](0)
    assert(a(0).isNullAt(0) && a(1).getString(0) == "https://h.com/p?a=1&b=2")
  }

  test("linkGraph: relative/mailto hrefs have no host and are dropped; counts aggregate") {
    import spark.implicits._
    val html = "<a href=\"https://X.com/1\">u</a><a href=\"/rel\">r</a>" +
      "<a href=\"mailto:a@b.c\">m</a><a href=\"https://x.com/2\">l</a>"
    val got = Html.linkGraph(
      Seq(("h0", html)).toDF("src_host", "html"), "src_host", "html")
      .collect()
    // hostOf lowercases, so X.com and x.com aggregate to one edge of 2
    assert(got.length == 1)
    assert(got.head.getString(0) == "h0" && got.head.getString(1) == "x.com"
      && got.head.getLong(2) == 2L)
  }

  test("WARC → htmlToText end-to-end: crawl records carry HTML payloads into the text plane") {
    import graft.functions.WarcKernel
    val page = "<html><head><title>T</title></head><body><p>hello crawl</p></body></html>"
    val file = WarcKernel.encodeRecord("http://ex.org/p", "2024-01-01T00:00:00Z", page)
    import spark.implicits._
    val df = Seq((1, file)).toDF("fid", "bytes")
    val got = graft.sources.Sources.warcRecords(df, "bytes", Seq("fid"))
      .select(col("target_uri"),
        Html.htmlToText(col("payload").cast("string")).as("text"))
      .head()
    assert(got.getString(0) == "http://ex.org/p" && got.getString(1) == "hello crawl")
  }

  test("anchors: href and text stay PAIRED across hrefless anchors; nested tags and entities handled") {
    import spark.implicits._
    val html = "<a name=\"x\">no href</a>" +
      "<a href=\"https://a.com/1\"><b>bold</b> &amp; text</a>" +
      "<a href='https://b.com/2'> spaced </a>"
    val got = Seq(html).toDF("h").select(graft.ops.Html.anchors(col("h")))
      .head.getSeq[org.apache.spark.sql.Row](0)
    assert(got.size == 3)
    assert(got(0).isNullAt(0) && got(0).getString(1) == "no href")
    assert(got(1).getString(0) == "https://a.com/1" &&
      got(1).getString(1) == "bold & text")
    assert(got(2).getString(0) == "https://b.com/2" &&
      got(2).getString(1) == "spaced")
  }

  test("anchorTextStats: aggregates by target host, distinct-sorted texts, drops hostless/empty") {
    import spark.implicits._
    val pages = Seq(
      "<a href=\"https://t.com/1\">beta</a><a href=\"https://t.com/2\">alpha</a>",
      "<a href=\"https://t.com/3\">beta</a><a href=\"/rel\">rel</a>" +
        "<a href=\"https://u.com/\"><img src=\"i\"/></a>").toDF("html")
    val got = graft.ops.Html.anchorTextStats(pages, "html")
      .orderBy("dst_host").collect()
    // u.com's anchor text is empty after tag-strip → dropped entirely
    assert(got.length == 1)
    assert(got(0).getString(0) == "t.com" && got(0).getLong(1) == 3L &&
      got(0).getString(2) == "alpha|beta")
  }

  test("streaming crawl → corpus: WARC stream through htmlToText, unchanged plan") {
    import graft.functions.WarcKernel
    import org.apache.spark.sql.functions.{col => c}
    val dir = java.nio.file.Files.createTempDirectory("graft-html-stream")
    try {
      val page = (n: Int) =>
        s"<html><head><title>T$n</title></head><body><p>page $n</p></body></html>"
      java.nio.file.Files.write(dir.resolve("a.warc"),
        WarcKernel.encodeRecord("http://s/1", "2024-01-01T00:00:00Z", page(1)) ++
          WarcKernel.encodeRecord("http://s/2", "2024-01-01T00:00:00Z", page(2)))
      // the extraction chain is stateless regexp projections, so the
      // batch-certified plan runs under Structured Streaming unchanged —
      // the continuous-crawl ingest shape
      val stream = spark.readStream
        .format("binaryFile")
        .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
        .load(dir.toString)
        .select(c("path"), c("content"))
      val q = graft.sources.Sources.warcRecords(stream, "content")
        .select(c("target_uri"),
          graft.ops.Html.extractTitle(c("payload").cast("string")).as("title"),
          graft.ops.Html.htmlToText(c("payload").cast("string")).as("text"))
        .writeStream.outputMode("append").format("memory")
        .queryName("html_stream")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      val got = spark.table("html_stream").orderBy("target_uri").collect()
      assert(got.map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .toSeq == Seq(("http://s/1", "T1", "page 1"),
          ("http://s/2", "T2", "page 2")))
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
    }
  }

  // ---- WebGraph.pageRank ------------------------------------------------

  /** Reference integer PageRank on a tiny adjacency map — the same
    * recurrence as the operator, driver-side, for an exact compare.
    */
  private def refRanks(edges: Seq[(String, String)], iters: Int): Map[String, Long] = {
    val e = edges.distinct
    val nodes = e.flatMap(t => Seq(t._1, t._2)).distinct.sorted
    val out = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val scale = 1000000000000L
    val r0 = scale / nodes.size
    val base = 15L * r0 / 100L
    var r = nodes.map(_ -> r0).toMap
    for (_ <- 1 to iters) {
      val inflow = e.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(t => r(t._1) / out(t._1)).sum
      }
      r = nodes.map(n => n -> (base + 85L * inflow.getOrElse(n, 0L) / 100L)).toMap
    }
    r
  }

  test("pageRank matches the exact integer recurrence on a hand graph (dangling node included)") {
    import spark.implicits._
    // d is dangling (no out-edges); c is a sink every node points to
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("b", "d"))
    val got = WebGraph.pageRank(edges.toDF("s", "d"), "s", "d", iterations = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == refRanks(edges, 5))
    // the heavily-linked sink outranks the dangling leaf
    assert(got("c") > got("d"))
  }

  test("weightedPageRank at damping 100 is the Markov power iteration") {
    import spark.implicits._
    // P = [[0,1],[1/2,1/2]]: stationary (1/3, 2/3)
    val trans = Seq(("A", "B", 2L), ("B", "A", 1L), ("B", "B", 1L))
      .toDF("f", "t", "n")
    val got = WebGraph.weightedPageRank(trans, "f", "t", "n",
        iterations = 20, dampingPct = 100)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ratio = got("B").toDouble / got("A").toDouble
    assert(math.abs(ratio - 2.0) < 0.01,
      s"stationary ratio must approach 2: $ratio ($got)")
  }

  test("weightedShortestPaths: relaxation beats the hop-shortest route") {
    import spark.implicits._
    // a->b (10), b->c (10) vs direct a->c (100): the 2-hop path wins;
    // parallel a->b edge of weight 3 collapses to the min
    val edges = Seq(("a", "b", 10L), ("a", "b", 3L), ("b", "c", 10L),
      ("a", "c", 100L), ("x", "y", 1L)).toDF("s", "d", "w")
    val got = WebGraph.weightedShortestPaths(edges, "s", "d", "w",
        source = "a", maxRounds = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 0L, "b" -> 3L, "c" -> 13L),
      s"weighted relaxation wrong: $got")
  }

  test("graphStats: reciprocity and assortativity hand values; loop bookkeeping") {
    import spark.implicits._
    // a<->b reciprocal, a->c one-way, c->c self-loop
    val g1 = WebGraph.graphStats(
      Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "c")).toDF("s", "d"),
      "s", "d").head()
    assert(g1.getLong(0) == 3L && g1.getLong(1) == 3L && g1.getLong(2) == 1L)
    assert(math.abs(g1.getDouble(3) - 2.0 / 3) < 1e-12,
      s"2 of 3 non-loop edges reciprocate: ${g1.getDouble(3)}")
    assert(g1.isNullAt(4), "constant in-degree => undefined assortativity")
    // star + chain: assortativity = -1/sqrt(3) (hand moments)
    val g2 = WebGraph.graphStats(
      Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c")).toDF("s", "d"),
      "s", "d").head()
    assert(g2.getDouble(3) == 0.0)
    assert(math.abs(g2.getDouble(4) + 1.0 / math.sqrt(3.0)) < 1e-12,
      s"assortativity ${g2.getDouble(4)}")
  }

  test("shortestHops: BFS levels on a hand graph, unreachable absent, early exit") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("a", "d"), ("b", "c"), ("c", "a"),
      ("e", "f")) // e/f unreachable from a
    val got = WebGraph.shortestHops(edges.toDF("s", "d"), "s", "d",
        source = "a", maxHops = 50)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 0L, "b" -> 1L, "d" -> 1L, "c" -> 2L),
      s"BFS levels wrong: $got")
    // maxHops truncates the traversal
    val short = WebGraph.shortestHops(edges.toDF("s", "d"), "s", "d",
        source = "a", maxHops = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(short == Map("a" -> 0L, "b" -> 1L, "d" -> 1L))
  }

  test("labelPropagation: two cliques with a bridge settle into two communities") {
    import spark.implicits._
    // clique {a,b,c} — bridge c-x — clique {x,y,z}; plus a self-loop-only
    // node s that must keep its own label (no neighbors)
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"),
      ("x", "y"), ("x", "z"), ("y", "z"), ("c", "x"), ("s", "s"))
    val got = WebGraph.labelPropagation(edges.toDF("s", "d"), "s", "d",
        iterations = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.keySet == Set("a", "b", "c", "x", "y", "z", "s"))
    assert(got("a") == got("b") && got("b") == got("c"),
      s"left clique must agree: $got")
    assert(got("x") == got("y") && got("y") == got("z"),
      s"right clique must agree: $got")
    assert(got("a") != got("x"), s"bridge must not merge the cliques: $got")
    assert(got("s") == "s", "self-loop-only node keeps its own label")
    // synchronous + struct-min tiebreak => bit-deterministic across runs
    val again = WebGraph.labelPropagation(edges.toDF("s", "d"), "s", "d",
        iterations = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(again == got)
  }

  test("pageRank: duplicate edge rows collapse (distinct), empty graph rejects") {
    import spark.implicits._
    val dup = Seq(("a", "b"), ("a", "b"), ("b", "a")).toDF("s", "d")
    val got = WebGraph.pageRank(dup, "s", "d", iterations = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == refRanks(Seq(("a", "b"), ("b", "a")), 3))
    intercept[IllegalArgumentException] {
      WebGraph.pageRank(Seq.empty[(String, String)].toDF("s", "d"), "s", "d")
    }
  }

  test("pageRankConverged exits early on a star graph, identical to fixed-k at the same k") {
    import spark.implicits._
    // star: hub fans out to 5 dangling leaves. The hub gets no inflow, so
    // from round 2 on every rank is stationary — the probe must fire long
    // before the maxIter backstop.
    val edges = (1 to 5).map(i => ("hub", s"leaf$i"))
    val (ranksDf, iters) = WebGraph.pageRankConverged(
      edges.toDF("s", "d"), "s", "d", maxIter = 50, tolerance = 0L)
    assert(iters < 10, s"star graph must converge early, ran $iters rounds")
    val got = ranksDf.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fixed = WebGraph.pageRank(edges.toDF("s", "d"), "s", "d",
        iterations = iters)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == fixed,
      "converged run must be bit-identical to the fixed-k run at the same k")
    assert(got == refRanks(edges, iters))
  }

  test("pageRankConverged starts exactly the jobs of fixed-k at the same k") {
    import spark.implicits._
    // the star graph above: the largest rank movement rides each round's
    // checkpoint job, so the convergence test costs no job of its own
    val edges = (1 to 5).map(i => ("hub", s"leaf$i")).toDF("s", "d")
    val converged = GroupRun(spark, "html-spec-converged") {
      val (ranks, iters) = WebGraph.pageRankConverged(edges, "s", "d",
        maxIter = 50, tolerance = 0L)
      ranks.collect()
      iters
    }
    val fixed = GroupRun(spark, "html-spec-fixed-k") {
      WebGraph.pageRank(edges, "s", "d", iterations = converged.value)
        .collect()
    }
    assert(converged.jobs == fixed.jobs,
      s"${converged.value} rounds: converged ${converged.jobs} jobs, " +
        s"fixed-k ${fixed.jobs}")
  }

  test("kCore: tail peels off, clique survives; k above max degree empties; loops/dups ignored") {
    import spark.implicits._
    // clique {a,b,c,d} with a 2-hop tail d-e-f; duplicate and reversed
    // edges plus a self-loop must not inflate any degree
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("a", "d"),
      ("b", "c"), ("b", "d"), ("c", "d"), ("d", "e"), ("e", "f"),
      ("a", "b"), ("f", "f")).toDF("s", "d")
    val got = WebGraph.kCore(edges, "s", "d", k = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L),
      s"3-core must be the clique with in-core degree 3: $got")
    // f peels first (deg 1), THEN e (its degree drops to 1): the peel
    // must cascade, not stop after one round
    val got2 = WebGraph.kCore(edges, "s", "d", k = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got2.keySet == Set("a", "b", "c", "d"),
      s"2-core cascade must drop both e and f: $got2")
    assert(WebGraph.kCore(edges, "s", "d", k = 4).isEmpty,
      "k above the max in-core degree must empty the core")
  }

  test("modularity: hand values on two bridged triangles; singletons negative") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("d", "e"),
      ("d", "f"), ("e", "f"), ("c", "d")).toDF("s", "d")
    // two-triangle partition: Q = 2*(6/14 - (7/14)^2) = 5/14
    val lab2 = Seq(("a", "t1"), ("b", "t1"), ("c", "t1"),
      ("d", "t2"), ("e", "t2"), ("f", "t2")).toDF("n", "c")
    val q2 = WebGraph.modularity(edges, "s", "d", lab2, "n", "c").head()
    assert(q2.getLong(0) == 6L && q2.getDouble(1) == 7.0)
    assert(q2.getDouble(2) == 5.0 / 14.0, s"Q=${q2.getDouble(2)}")
    // all singletons: Q = -sum(deg^2)/(2m)^2 = -34/196
    val lab1 = Seq("a", "b", "c", "d", "e", "f").toDF("n")
      .withColumn("c", col("n"))
    val q1 = WebGraph.modularity(edges, "s", "d", lab1, "n", "c").head()
    assert(q1.getDouble(2) == -34.0 / 196.0, s"Q=${q1.getDouble(2)}")
  }

  test("louvainCommunities: recovers bridged triangles and cliques at the exact optimum; layout/dup invariant") {
    import spark.implicits._
    // two triangles joined by one bridge; dup + reversed edges and a
    // self-loop must not perturb any degree
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("d", "e"),
      ("d", "f"), ("e", "f"), ("c", "d"), ("b", "a"), ("a", "b"),
      ("f", "f")).toDF("s", "d")
    val lab = WebGraph.louvainCommunities(edges, "s", "d", rounds = 6)
    val m = lab.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Set("a", "b", "c").map(m).size == 1 &&
      Set("d", "e", "f").map(m).size == 1 && m("a") != m("d"),
      s"must recover the two triangles: $m")
    val q = WebGraph.modularity(edges, "s", "d", lab, "node", "community")
      .head().getDouble(2)
    assert(q == 5.0 / 14.0, s"optimal two-triangle Q, got $q")
    // the synchronous rule is a pure function of the labeling: identical
    // result on any partition layout
    val m2 = WebGraph.louvainCommunities(edges.repartition(13), "s", "d",
      rounds = 6).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m2 == m, "layout must not change the communities")
    // two K4s with one bridge: each clique one community
    val k4a = for { s <- Seq("p", "q", "r", "s"); t <- Seq("p", "q", "r", "s")
      if s < t } yield (s, t)
    val k4b = for { s <- Seq("w", "x", "y", "z"); t <- Seq("w", "x", "y", "z")
      if s < t } yield (s, t)
    val lab4 = WebGraph.louvainCommunities(
      (k4a ++ k4b :+ ("s" -> "w")).toDF("s", "d"), "s", "d", rounds = 6)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Set("p", "q", "r", "s").map(lab4).size == 1 &&
      Set("w", "x", "y", "z").map(lab4).size == 1 &&
      lab4("p") != lab4("w"), s"K4 pair: $lab4")
  }

  test("louvainCommunities weighted: heavy pairs beat the uniform ring; " +
    "parallel weights ADD; w=1 == default path; fractional raises") {
    import spark.implicits._
    // ring of 6 with alternating heavy (9) and light (1) edges: the
    // weighted optimum pairs each heavy couple; uniform weights see
    // only a plain 6-ring
    val ring = Seq(("n0", "n1", 9L), ("n1", "n2", 1L), ("n2", "n3", 9L),
      ("n3", "n4", 1L), ("n4", "n5", 9L), ("n5", "n0", 1L))
      .toDF("s", "d", "w")
    val lab = WebGraph.louvainCommunities(ring, "s", "d", rounds = 6,
        weightCol = Some("w"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(lab("n0") == lab("n1") && lab("n2") == lab("n3") &&
      lab("n4") == lab("n5") &&
      Set(lab("n0"), lab("n2"), lab("n4")).size == 3,
      s"weighted ring must pair the heavy couples: $lab")
    // parallel edges add their weights: 4+5 on each heavy pair == 9
    val split = ring.filter(col("w") === 1L)
      .unionByName(Seq(("n0", "n1", 4L), ("n1", "n0", 5L),
        ("n2", "n3", 4L), ("n3", "n2", 5L), ("n4", "n5", 4L),
        ("n5", "n4", 5L)).toDF("s", "d", "w"))
    val lab2 = WebGraph.louvainCommunities(split, "s", "d", rounds = 6,
        weightCol = Some("w"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(lab2 == lab, s"parallel weights must add: $lab2 vs $lab")
    // weight-1 flavor == the default simple-graph path, value for value
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("d", "e"),
      ("d", "f"), ("e", "f"), ("c", "d")).toDF("s", "d")
    val mDef = WebGraph.louvainCommunities(edges, "s", "d", rounds = 6)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val mW1 = WebGraph.louvainCommunities(edges.withColumn("w", lit(1L)),
        "s", "d", rounds = 6, weightCol = Some("w"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(mW1 == mDef, s"w=1 must equal the default path: $mW1 vs $mDef")
    // fractional weight raises instead of truncating
    val e = intercept[Exception] {
      WebGraph.louvainCommunities(
        Seq(("a", "b", 2.5)).toDF("s", "d", "w"), "s", "d", rounds = 1,
        weightCol = Some("w")).collect()
    }
    assert(e.getMessage != null)
  }

  test("louvainCoarsen: ring-of-cliques resolution limit — phase 2 raises modularity; refinement + fixpoint hold") {
    import spark.implicits._
    // ring of 10 triangles (Fortunato & Barthélemy 2007's resolution-
    // limit fixture): phase 1 finds each triangle (Q = 0.65); merging
    // adjacent triangles in pairs is strictly better (Q = 0.675), but
    // only the coarse graph can see it
    val ring = (0 until 10).flatMap { i =>
      val (a, b, c) = (s"a$i", s"b$i", s"c$i")
      Seq((a, b), (a, c), (b, c), (c, s"a${(i + 1) % 10}"))
    }.toDF("s", "d")
    val p1 = WebGraph.louvainCommunities(ring, "s", "d", rounds = 6)
      .persist()
    val q1 = WebGraph.modularity(ring, "s", "d", p1, "node", "community")
      .head().getDouble(2)
    assert(q1 == 0.65, s"phase-1 one-community-per-triangle Q, got $q1")
    val p2 = WebGraph.louvainCoarsen(ring, "s", "d", p1, rounds = 6)
      .persist()
    val q2 = WebGraph.modularity(ring, "s", "d", p2, "node", "community")
      .head().getDouble(2)
    assert(q2 > q1, s"coarsening must raise modularity: $q1 -> $q2")
    // refinement: every phase-1 community maps wholly into ONE phase-2
    // community
    val split = p1.withColumnRenamed("community", "c1")
      .join(p2.withColumnRenamed("community", "c2"), "node")
      .groupBy("c1").agg(countDistinct("c2").as("k"))
      .filter(col("k") > 1).count()
    assert(split == 0L, "phase 2 must refine, never split, phase 1")
    // fixpoint: an already-optimal partition passes through unchanged
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("d", "e"),
      ("d", "f"), ("e", "f"), ("c", "d")).toDF("s", "d")
    val opt = WebGraph.louvainCommunities(edges, "s", "d", rounds = 6)
    val again = WebGraph.louvainCoarsen(edges, "s", "d", opt, rounds = 6)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val before = opt.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // same partition (community ids may be renamed to coarse ids)
    assert(before.groupBy(_._2).values.map(_.map(_._1).toSet).toSet ==
      again.groupBy(_._2).values.map(_.map(_._1).toSet).toSet,
      "no-gain fixpoint must return the partition unchanged")
    p1.unpersist(); p2.unpersist()
  }

  /** Driver-side seeded-PageRank recurrence mirror for exact compare. */
  private def refPpr(edges: Seq[(String, String)], seeds: Set[String],
                     iters: Int): Map[String, Long] = {
    val e = edges.distinct
    val nodes = e.flatMap(t => Seq(t._1, t._2)).distinct.sorted
    val out = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val scale = 1000000000000L
    val inGraph = seeds.intersect(nodes.toSet)
    val r0 = scale / inGraph.size
    val base = 15L * r0 / 100L
    var r = nodes.map(n => n -> (if (inGraph(n)) r0 else 0L)).toMap
    for (_ <- 1 to iters) {
      val inflow = e.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(t => r(t._1) / out(t._1)).sum
      }
      r = nodes.map(n => n -> ((if (inGraph(n)) base else 0L) +
        85L * inflow.getOrElse(n, 0L) / 100L)).toMap
    }
    r
  }

  test("personalizedPageRank: mass stays near the seed; exact recurrence; off-graph seeds rejected") {
    import spark.implicits._
    // two symmetric 2-cycles joined by s->m: with seed {s}, the far
    // cycle {x,y} is unreachable and must score exactly 0
    val edges = Seq(("s", "m"), ("m", "s"), ("x", "y"), ("y", "x"))
    val got = WebGraph.personalizedPageRank(edges.toDF("s", "d"), "s", "d",
        Seq("s").toDF("h"), "h", iterations = 6)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == refPpr(edges, Set("s"), 6), s"recurrence mismatch: $got")
    assert(got("x") == 0L && got("y") == 0L,
      s"nodes unreachable from the seed must score 0: $got")
    assert(got("s") > got("m"), "the seed itself must outrank its neighbor")
    // a seed absent from the graph is ignored; an all-absent set rejects
    val withGhost = WebGraph.personalizedPageRank(edges.toDF("s", "d"),
        "s", "d", Seq("s", "ghost").toDF("h"), "h", iterations = 6)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(withGhost == got, "off-graph seed must not change the walk")
    intercept[IllegalArgumentException] {
      WebGraph.personalizedPageRank(edges.toDF("s", "d"), "s", "d",
        Seq("ghost").toDF("h"), "h")
    }
  }

  test("hits: star separates hubs from authorities; popular target boosts its linkers") {
    import spark.implicits._
    // star: hub fans out to 3 leaves — hub is a pure hub, leaves pure
    // authorities, both normalized to exactly SCALE
    val star = Seq(("hub", "l1"), ("hub", "l2"), ("hub", "l3")).toDF("s", "d")
    val got = WebGraph.hits(star, "s", "d", iterations = 3)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("hub") == (1000000000L, 0L))
    assert(Seq("l1", "l2", "l3").forall(got(_) == (0L, 1000000000L)))
    // u links to the 2-in-degree authority AND a private page; v links
    // only to the private page — u must out-hub v
    val g = Seq(("u", "pop"), ("w", "pop"), ("u", "priv"), ("v", "solo"))
      .toDF("s", "d")
    val h = WebGraph.hits(g, "s", "d", iterations = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(h("u") > h("v"), s"linker of the shared authority must out-hub: $h")
    assert(h("u") == 1000000000L, "top hub normalizes to exactly SCALE")
  }

  test("triangleStats: K4 fully clustered, star/path triangle-free, direction collapsed") {
    import spark.implicits._
    // K4: every node degree 3, in 3 triangles, clustering 1.0
    val k4 = (for { a <- 'a' to 'd'; b <- 'a' to 'd' if a < b }
      yield (a.toString, b.toString)).toDF("s", "d")
    val got = WebGraph.triangleStats(k4, "s", "d").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.forall(t => t._2 == 3L && t._3 == 3L && t._4 == 1.0),
      s"K4: ${got.toSeq}")
    // star has wedges but no closures; reverse duplicate edges collapse
    val star = Seq(("c", "l1"), ("c", "l2"), ("l1", "c"), ("c", "l3"))
      .toDF("s", "d")
    val st = WebGraph.triangleStats(star, "s", "d").collect()
    assert(st.forall(_.getLong(2) == 0L))
    assert(st.find(_.getString(0) == "c").get.getLong(1) == 3L,
      "reverse edge must not double-count the degree")
    // one closed + one open wedge: the triangle corners count it once
    val mixed = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"))
      .toDF("s", "d")
    val mx = WebGraph.triangleStats(mixed, "s", "d").collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(mx("a") == (1L, 1.0) && mx("b") == (1L, 1.0))
    assert(mx("c")._1 == 1L && math.abs(mx("c")._2 - 1.0 / 3.0) < 1e-12)
    assert(mx("d") == (0L, 0.0))
  }

  test("weightedPageRank: uniform weights == pageRank bit-for-bit; weight skew reorders") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("b", "d"))
    val flat = edges.map { case (s, d) => (s, d, 7L) }.toDF("s", "d", "w")
    val wr = WebGraph.weightedPageRank(flat, "s", "d", "w", iterations = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ur = WebGraph.pageRank(edges.toDF("s", "d"), "s", "d", iterations = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wr == ur, "uniform weights must reproduce unweighted PageRank exactly")
    // b splits 1:99 between c and d — d must now beat the 50:50 split
    val skew = Seq(("a", "b", 1L), ("a", "c", 1L), ("b", "c", 1L),
      ("c", "a", 1L), ("b", "d", 99L)).toDF("s", "d", "w")
    val sk = WebGraph.weightedPageRank(skew, "s", "d", "w", iterations = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sk("d") > ur("d"), s"99x weight must raise d: ${sk("d")} vs ${ur("d")}")
  }

  test("hostQualityPrior: left join keeps unknown-host docs with NULL rank") {
    import spark.implicits._
    val ranks = Seq(("a.com", 10L), ("b.com", 20L)).toDF("node", "rank")
    val docs = Seq((1L, "a.com"), (2L, "nowhere.org")).toDF("doc_id", "host")
    val got = WebGraph.hostQualityPrior(docs, "host", ranks)
      .orderBy("doc_id").collect()
    assert(got(0).getLong(2) == 10L && got(1).isNullAt(2))
  }

  // ---- ORC round-trip ---------------------------------------------------

  test("ORC write/read round-trips values and schema; .orc extension dispatches") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-orc-spec").toFile
    try {
      val src = Seq((1L, "a", 1.5, java.sql.Date.valueOf("2024-02-29")),
        (2L, null, -0.25, null))
        .toDF("id", "s", "v", "d")
      graft.sources.Sources.writeOrc(src.coalesce(1), dir.getAbsolutePath)
      val back = graft.sources.Sources.orc(spark, dir.getAbsolutePath)
      // file sources read back nullable — compare names and types
      assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        src.schema.fields.map(f => (f.name, f.dataType)).toSeq)
      assert(back.orderBy("id").collect().toSeq ==
        src.orderBy("id").collect().toSeq)
      // extension dispatch routes a .orc file path to the ORC reader
      val orcFile = dir.listFiles().filter(_.getName.endsWith(".orc")).head
      val viaResolve = graft.sources.Sources
        .resolve(spark, orcFile.getAbsolutePath, null)
      assert(viaResolve.count() == 2)
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("linkPrediction: hand square graph, edge anti-join, top-k tiebreak") {
    import spark.implicits._
    // square a-b-c-d-a: the only non-edge pairs sharing neighbors are
    // (a,c) via {b,d} and (b,d) via {a,c}; all degrees 2
    val sq = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
    val got = WebGraph.linkPrediction(sq.toDF("s", "d"), "s", "d")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(got.keySet == Set(("a", "c"), ("b", "d")))
    val (cn, jac, aa, ra) = got(("a", "c"))
    assert(cn == 2L && jac == 1.0)
    assert(math.abs(aa - 2.0 / math.log(2.0)) < 1e-9)
    assert(math.abs(ra - 1.0) < 1e-9)
    // adding the a-c diagonal removes (a,c) (it's now an edge) and
    // re-weighs (b,d): shared neighbors a, c now have degree 3
    val withDiag = sq :+ (("a", "c"))
    val got2 = WebGraph.linkPrediction(withDiag.toDF("s", "d"), "s", "d")
      .collect()
    assert(got2.length == 1 &&
      got2(0).getString(0) == "b" && got2(0).getString(1) == "d")
    assert(math.abs(got2(0).getDouble(4) - 2.0 / math.log(3.0)) < 1e-9)
    assert(math.abs(got2(0).getDouble(5) - 2.0 / 3.0) < 1e-9)
    // topK=1: equal adamic_adar → (node_a, node_b) tiebreak picks (a,c);
    // duplicate / reversed edge rows collapse first
    val noisy = (sq ++ sq.map(_.swap)).toDF("s", "d")
    val top = WebGraph.linkPrediction(noisy, "s", "d", topK = 1).collect()
    assert(top.length == 1 &&
      top(0).getString(0) == "a" && top(0).getString(1) == "c")
  }

  test("betweennessCentrality: hand values on a path and a diamond; " +
    "self-loops/dups ignored; all-sources == full Brandes") {
    import spark.implicits._
    val S = 1000000000000L
    // directed path a->b->c->d (+ dup edge and a self-loop): directed
    // betweenness b: pairs (a,c),(a,d); c: (a,d),(b,d) -> both 2
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("b", "c"),
      ("c", "c")).toDF("s", "d")
    val got = WebGraph.betweennessCentrality(path, "s", "d",
        nSources = 10, maxDepth = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 0L, "b" -> 2 * S, "c" -> 2 * S, "d" -> 0L),
      s"path betweenness: $got")
    // diamond a->{b,c}->d: two shortest a->d paths, sigma split —
    // b and c each carry exactly SCALE div 2
    val diamond = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"))
      .toDF("s", "d")
    val got2 = WebGraph.betweennessCentrality(diamond, "s", "d",
        nSources = 10, maxDepth = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got2 == Map("a" -> 0L, "b" -> S / 2, "c" -> S / 2, "d" -> 0L),
      s"diamond betweenness: $got2")
    // sub-sampled sources: a deterministic md5-order subset — every
    // node still reported, contributions only from sampled sources
    val one = WebGraph.betweennessCentrality(path, "s", "d",
        nSources = 1, maxDepth = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(one.keySet == Set("a", "b", "c", "d"), s"all nodes: $one")
    assert(one.values.forall(v => v >= 0 && v <= 2 * S), s"bounds: $one")
  }

  test("harmonicCloseness: hand reciprocal sums on a path; unreached nodes report 0") {
    import spark.implicits._
    val S = 1000000000000L
    // directed path a->b->c->d, all 4 nodes sampled: inbound harmonic
    // d = S + S//2 + S//3, c = S + S//2, b = S, a = 0 (nothing reaches a)
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("s", "d")
    val got = WebGraph.harmonicCloseness(path, "s", "d",
        nSources = 10, maxDepth = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 0L, "b" -> S, "c" -> (S + S / 2),
      "d" -> (S + S / 2 + S / 3)), s"harmonic: $got")
  }

  test("katzCentrality: hand-computed attenuated walk counts; loud overflow bound") {
    import spark.implicits._
    // a→c, b→c, c→d with α=1/2, scale=100:
    //   iter1: c = 100 + (100+100)/2 = 200, d = 100 + 100/2 = 150
    //   iter2: c = 200 (inflow unchanged), d = 100 + 200/2 = 200
    val edges = Seq(("a", "c"), ("b", "c"), ("c", "d")).toDF("s", "d")
    val got = WebGraph.katzCentrality(edges, "s", "d", alphaNum = 1,
        alphaDen = 2, iterations = 2, scale = 100L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 100L, "b" -> 100L, "c" -> 200L, "d" -> 200L),
      s"katz: $got")
    // α·maxInDeg over the bound raises with the bound named
    val star = (1 to 15).map(i => (s"s$i", "hub")).toDF("s", "d")
    val e = intercept[IllegalArgumentException] {
      WebGraph.katzCentrality(star, "s", "d", alphaNum = 1, alphaDen = 2)
    }
    assert(e.getMessage.contains("overflow bound"))
    // the same graph passes with a smaller α, hub strictly on top
    val ok = WebGraph.katzCentrality(star, "s", "d", alphaNum = 1,
        alphaDen = 25, iterations = 4, scale = 1000L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ok("hub") == 1000L + 15L * 1000L / 25L &&
      ok.filterNot(_._1 == "hub").values.forall(_ == 1000L))
  }

  test("kTruss: clique survives with exact supports, weak scaffolding cascades away") {
    import spark.implicits._
    // K5 on v0..v4 + a pendant path v4-x1-x2 + a lone triangle t1t2t3
    val k5 = for (i <- 0 until 5; j <- i + 1 until 5)
      yield (s"v$i", s"v$j")
    val extras = Seq(("v4", "x1"), ("x1", "x2"),
      ("t1", "t2"), ("t2", "t3"), ("t3", "t1"))
    val edges = (k5 ++ extras).toDF("s", "d")
    // k=4: only the K5 survives, every edge in 3 triangles
    val t4 = WebGraph.kTruss(edges, "s", "d", k = 4).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(t4.length == 10 && t4.forall(_._3 == 3L), s"k4: ${t4.toSeq}")
    assert(t4.map(t => (t._1, t._2)).toSet == k5.toSet)
    // k=3: the lone triangle also survives (support 1); the path never
    assert(WebGraph.kTruss(edges, "s", "d", k = 3).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet ==
      (k5 ++ Seq(("t1", "t2"), ("t2", "t3"), ("t1", "t3"))).toSet)
    // cascade: ring+chord unravels COMPLETELY at k=4 (chords die round
    // 1 with support 1, ring edges then lose both common neighbors)
    val ring = (0 until 10).flatMap(n => Seq(
      (s"r$n", s"r${(n + 1) % 10}"), (s"r$n", s"r${(n + 2) % 10}")))
    assert(WebGraph.kTruss(ring.toDF("s", "d"), "s", "d", k = 4).isEmpty)
    assert(scala.util.Try(WebGraph.kTruss(edges, "s", "d", k = 2)).isFailure)
    assert(scala.util.Try(WebGraph.kTruss(ring.toDF("s", "d"), "s", "d",
      k = 4, maxRounds = 1)).isFailure, "loud non-convergence guard")
  }

  test("randomWalks: deterministic, edge-respecting, sink-terminating walks") {
    import spark.implicits._
    // a,b,c form a cycle with a chord; z is a sink reachable from c
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
      ("c", "z")).toDF("s", "d")
    val out = WebGraph.randomWalks(edges, "s", "d",
      walksPerNode = 2, walkLen = 6)
    val rows = out.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    // walks start at every node WITH out-edges (a, b, c — not z), twice
    val step0 = rows.filter(_._2 == 0L)
    assert(step0.length == 6 &&
      step0.map(_._3).toSet == Set("a", "b", "c"))
    assert(rows.map(_._1).distinct.length == 6)
    // every hop follows a real edge
    val byWalk = rows.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val edgeSet = Set("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c",
      "c" -> "z")
    byWalk.values.foreach { steps =>
      steps.sliding(2).foreach {
        case Array(u, v) =>
          assert(v._2 == u._2 + 1 && edgeSet(u._3 -> v._3),
            s"invalid hop $u -> $v")
        case _ => ()
      }
      // a walk only stops early at the sink
      val last = steps.last
      assert(last._2 == 6L || last._3 == "z", s"early stop not at sink: $last")
    }
    // deterministic: a second run (different partitioning) is identical
    val again = WebGraph.randomWalks(edges.repartition(7), "s", "d",
      walksPerNode = 2, walkLen = 6)
    assert(out.except(again).isEmpty && again.except(out).isEmpty)
    // both walks from the same start can diverge (hash keyed by walk id)
    assert(scala.util.Try(WebGraph.randomWalks(edges, "s", "d",
      walksPerNode = 0)).isFailure)
  }
}
