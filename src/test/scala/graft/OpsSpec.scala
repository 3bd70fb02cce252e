package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Curation, Dedup, Multimodal, Similarity, TextOps}

class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  import org.apache.spark.sql.Row

  test("tokenCount and shingles handle empty and short text") {
    import spark.implicits._
    val df = Seq("", " ", "a", "one two three four").toDF("text")
    val counts = df.select(TextOps.tokenCount(col("text"))).collect().map(_.getLong(0))
    assert(counts.toSeq == Seq(0L, 0L, 1L, 4L))
    val sh = df.select(TextOps.tokenShingles(col("text"), 3)).collect().map(_.getSeq[String](0))
    assert(sh(0).isEmpty && sh(1).isEmpty && sh(2).isEmpty)
    assert(sh(3) == Seq("one two three", "two three four"))
    val ch = df.select(TextOps.charShingles(col("text"), 2)).collect().map(_.getSeq[String](0))
    assert(ch(2).isEmpty) // "a" shorter than shingle
    assert(ch(3).head == "on")
  }

  test("langId detects markers and CJK, deterministic tie-break") {
    import spark.implicits._
    val df = Seq(
      "the cat sat on the mat and it is warm",
      "der hund ist nicht zu hause und das ist gut",
      "el perro es un animal que vive en la casa y es feliz",
      "le chat est une belle bete et il est la",
      "你好世界",
      "zzz qqq www").toDF("text")
    val got = df.select(TextOps.langId(col("text"))).collect().map(_.getString(0))
    assert(got.toSeq == Seq("en", "de", "es", "fr", "zh", "unknown"))
  }

  test("exact dedup groups identical normalized texts") {
    import spark.implicits._
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other")).toDF("id", "text")
    val out = Dedup.exact(df, "id", "text").orderBy("id").collect()
    assert(out.length == 2)
    assert(out(0).getLong(0) == 1L && out(0).getLong(1) == 2L) // survivor id 1, 2 copies
  }

  test("minhash finds a planted near-duplicate pair") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val df = Seq(
      (1L, base),
      (2L, base + " phi"), // near-identical
      (3L, "completely different words entirely unrelated content here now " +
        "red green blue yellow purple orange cyan magenta black white")).toDF("id", "text")
    val pairs = Dedup.minhashNearDupPairs(df, "id", "text",
      numHashes = 32, shingleSize = 3, bands = 16, minJaccard = 0.3).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("dropNearDuplicates keeps smallest-id survivor per cluster") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val df = Seq(
      (1L, base), (2L, base), (3L, base + " phi"),
      (4L, "entirely different content with many other words here now " +
        "red green blue yellow purple orange cyan magenta black white")).toDF("id", "text")
    val kept = Dedup.dropNearDuplicates(df, "id", "text", minJaccard = 0.5)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 4L))
  }

  test("dedupAgainstCorpus: exact and near cross-set drops, batch-only cost") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    val corpus = Seq(
      (1L, base),
      (2L, "an entirely different story about databases and distributed query engines")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base),                       // exact dup of corpus doc 1 → dropped
      (11L, base + " tonight my friend"),// near dup (J vs doc1 ≥ 0.5) → dropped
      (12L, "fresh unseen content with no overlap whatsoever in any shingle today"),
      (13L, base)                        // exact dup → dropped (within-batch dup of 10 irrelevant)
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupAgainstCorpus(incoming, corpus, "doc_id", "text",
      shingleSize = 3, minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(12L))
    // empty incoming and empty corpus behave
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.dedupAgainstCorpus(none, corpus, "doc_id", "text").isEmpty)
    assert(Dedup.dedupAgainstCorpus(incoming, none, "doc_id", "text").count() == 4L)
  }

  test("upsert: updates win, inserts add, untouched rows survive") {
    import spark.implicits._
    import graft.ops.ScaleOps
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "s", "v")
    val updates = Seq((2L, "b2", 99.0), (4L, "d", 40.0)).toDF("k", "s", "v")
    val merged = ScaleOps.upsert(base, updates, Seq("k"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(merged.toSeq == Seq((1L, "a", 10.0), (2L, "b2", 99.0),
      (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("upsertScd2: matched current closes, update inserts, history untouched") {
    import spark.implicits._
    import graft.ops.ScaleOps
    // key 1: history v0 (closed) + current v5; key 2: current v0; updates
    // touch key 1 (v9) and a brand-new key 3 (v9)
    val base = Seq(
      (1L, "a0", 0L, Some(5L), false), // history — must pass through as-is
      (1L, "a1", 5L, None, true),
      (2L, "b0", 0L, None, true)
    ).toDF("k", "s", "valid_from", "valid_to", "is_current")
    val updates = Seq((1L, "a2", 9L), (3L, "c0", 9L)).toDF("k", "s", "version")
    val got = ScaleOps.upsertScd2(base, updates, Seq("k"), "version")
      .orderBy("k", "valid_from")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
    assert(got.toSeq == Seq(
      (1L, "a0", 0L, 5L, false),  // history byte-identical
      (1L, "a1", 5L, 9L, false),  // current closed at the new version
      (1L, "a2", 9L, -1L, true),  // new current
      (2L, "b0", 0L, -1L, true),  // untouched current
      (3L, "c0", 9L, -1L, true))) // brand-new key
    // effective-date chain sanity: exactly one current row per key, and
    // each key's (valid_from, valid_to) intervals tile without overlap
    val byKey = got.groupBy(_._1)
    byKey.values.foreach { rows =>
      assert(rows.count(_._5) == 1)
      val sorted = rows.sortBy(_._3)
      sorted.sliding(2).foreach {
        case Array(prev, next) => assert(prev._4 == next._3, s"gap/overlap: $prev -> $next")
        case _ => ()
      }
    }
  }

  test("upsertScd2: stale version and duplicate/null keys fail loudly") {
    import spark.implicits._
    import graft.ops.ScaleOps
    val base = Seq((1L, "a1", 5L, None: Option[Long], true))
      .toDF("k", "s", "valid_from", "valid_to", "is_current")
    // version 5 does not advance past the current row's valid_from 5
    val stale = ScaleOps.upsertScd2(base,
      Seq((1L, "a2", 5L)).toDF("k", "s", "version"), Seq("k"), "version")
    assertThrows[Exception](stale.collect())
    // duplicate update keys without an orderCol
    val dup = ScaleOps.upsertScd2(base,
      Seq((1L, "x", 9L), (1L, "y", 8L)).toDF("k", "s", "version"),
      Seq("k"), "version")
    assertThrows[Exception](dup.collect())
    // with orderCol, the largest version wins and merges cleanly
    val won = ScaleOps.upsertScd2(base,
      Seq((1L, "x", 9L), (1L, "y", 8L)).toDF("k", "s", "version"),
      Seq("k"), "version", orderCol = Some("version"))
      .orderBy("valid_from").collect().map(r => (r.getString(1), r.getBoolean(4)))
    assert(won.toSeq == Seq(("a1", false), ("x", true)))
    // null key rejected
    val nullKey = ScaleOps.upsertScd2(base,
      Seq((null.asInstanceOf[java.lang.Long], "z", 9L))
        .toDF("k", "s", "version"), Seq("k"), "version")
    assertThrows[Exception](nullKey.collect())
  }

  test("upsert: duplicate update keys — orderCol picks last-wins, no orderCol fails") {
    import spark.implicits._
    import graft.ops.ScaleOps
    val base = Seq((1L, "a", 10.0)).toDF("k", "s", "v")
    // two updates for k=1 at versions 10.0 < 11.0: v=11.0 must win, and
    // exactly ONE row for the key must come out (MERGE, not append-both)
    val dup = Seq((1L, "v10", 10.0), (1L, "v11", 11.0)).toDF("k", "s", "v")
    val merged = ScaleOps.upsert(base, dup, Seq("k"), orderCol = Some("v"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(merged.toSeq == Seq((1L, "v11", 11.0)))
    // without an orderCol there is no well-defined winner: the batch fails
    // instead of silently appending two rows for one key
    val ex = intercept[Exception] {
      ScaleOps.upsert(base, dup, Seq("k")).collect()
    }
    assert(ex.getMessage != null || ex.getCause != null) // job fails, not silent
  }

  test("upsert: NULL update key is rejected (would re-insert every run)") {
    import spark.implicits._
    import graft.ops.ScaleOps
    val base = Seq((1L, "a")).toDF("k", "s")
    val nullKey = Seq[(java.lang.Long, String)]((null, "oops"), (2L, "b"))
      .toDF("k", "s")
    intercept[Exception] {
      ScaleOps.upsert(base, nullKey, Seq("k")).collect()
    }
  }

  test("connected components: transitive closure, multi-cluster, convergence") {
    import spark.implicits._
    // chain 1~2~3 (transitivity), local-minimum cluster {(10,50),(30,50)}
    // (greedy keeps 10 AND 30; components keep only 10), isolated pair (7,8)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 50L), (30L, 50L), (7L, 8L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(cc.toSeq == Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (7L, 7L, 2L), (8L, 7L, 2L),
      (10L, 10L, 3L), (30L, 10L, 3L), (50L, 10L, 3L)))

    // a long chain converges (log² n rounds, not diameter): 0~1~2~…~63
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chainCc = Dedup.connectedComponents(chain, "id_a", "id_b").collect()
    assert(chainCc.length == 64 && chainCc.forall(_.getLong(1) == 0L))

    // ALL-self-loop input: canonicalization (a<b) drops every edge, which
    // must behave like empty input — not NPE on a null reduce (regression
    // for the canonicalized-empty guard)
    val selfLoops = Seq((5L, 5L), (9L, 9L)).toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(selfLoops, "id_a", "id_b").isEmpty)

    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), "id_a", "id_b").isEmpty)
  }

  test("cluster dedup keeps exactly one survivor per component") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    // three mutual near-dups (ids 5, 9, 2 — survivor must be 2) + distinct doc
    val docs = Seq(
      (5L, base), (9L, base + " again"), (2L, base + " now"),
      (11L, "completely different text about spark query engines and parquet files")
    ).toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicateClusters(docs, "doc_id", "text", minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(2L, 11L))
  }

  test("simhash: identical docs equal, near docs close, distinct docs far") {
    import spark.implicits._
    val df = Seq(
      (1L, "spark is a distributed engine for large scale data processing"),
      (2L, "spark is a distributed engine for large scale data processing"),
      (3L, "spark is a distributed engine for very large scale data processing"),
      (4L, "cats purr and dogs bark while birds sing in the morning sun")).toDF("id", "text")
    val m = Dedup.simhash(df, "id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))
    assert(java.lang.Long.bitCount(m(1L) ^ m(3L)) <= 16)
    assert(java.lang.Long.bitCount(m(1L) ^ m(4L)) > 16)
  }

  test("simhash banding is COMPLETE for d<=3 vs brute-force Hamming (q26 cert)") {
    import spark.implicits._
    // pigeonhole: 4 chunks of 16 bits, <=3 differing bits -> at least one
    // chunk equal, so banding must find EVERY such pair. Verified against
    // all-pairs brute force on the fixture corpus (500 docs, 125k pairs).
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val sigs = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    val banded = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxDistance = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute,
      s"banding must be exactly the brute-force set; missing=${brute -- banded} extra=${banded -- brute}")
  }

  test("ngram jaccard exact pairs") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g x"),
      (3L, "p q r s t u v w")).toDF("id", "text")
    val pairs = Dedup.ngramJaccardPairs(df, "id", "text", shingleSize = 2,
      minJaccard = 0.3).collect()
    // shingles(1) = {ab,bc,cd,de,ef,fg,gh}, shingles(2) = {...gx}: 6 common of 8
    assert(pairs.length == 1)
    assert(pairs.head.getDouble(2) == 0.75)
  }

  test("ngram jaccard prefix filter is LOSSLESS vs brute-force all-pairs") {
    // the q27 guarantee: the AllPairs/PPJoin prefix+length pruning must
    // return EXACTLY the all-pairs result (recall 1.0, precision 1.0)
    import graft.functions.ArrayMath
    val docs = Tables.documents(spark, sf)
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleSize = 3, minJaccard = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val gotGuarded = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleSize = 3, minJaccard = 0.2, skewGuard = Some(true))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val hashed = docs.select(col("doc_id").as("id"),
      array_distinct(ArrayMath.shingleHashes(
        TextOps.tokens(TextOps.normalized(col("text"))), 3)).as("shs"))
      .filter(size(col("shs")) > 0)
    val brute = hashed.select(col("id").as("id_a"), col("shs").as("sa"))
      .join(hashed.select(col("id").as("id_b"), col("shs").as("sb")),
        col("id_a") < col("id_b"))
      .withColumn("c", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("j", col("c").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("c")).cast("double"))
      .filter(col("j") >= 0.2)
      .select(col("id_a"), col("id_b"), round(col("j"), 4).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(brute.nonEmpty) // fixture plants near-duplicates
    assert(got == brute)
    assert(gotGuarded == brute) // df-ordered prefix path is equally lossless
  }

  test("ngram jaccard auto-routes skewed corpora to the prefix-filter plan") {
    import spark.implicits._
    // every doc shares the ubiquitous bigram "the end" -> max df = #docs
    val skewed = (1L to 20L).map(i =>
      (i, s"unique$i words$i here$i now$i the end")).toDF("id", "text")
    val benign = (1L to 20L).map(i =>
      (i, s"unique$i words$i here$i now$i only$i ever$i")).toDF("id", "text")
    def usesPrefixPlan(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.toString.contains("sorted_intersect_count")
    val s = Dedup.ngramJaccardPairs(skewed, "id", "text", shingleSize = 2,
      minJaccard = 0.3, skewMaxDf = 10L)
    val b = Dedup.ngramJaccardPairs(benign, "id", "text", shingleSize = 2,
      minJaccard = 0.3, skewMaxDf = 10L)
    assert(usesPrefixPlan(s), "ubiquitous shingle (df=20 > 10) must route to the skew guard")
    assert(!usesPrefixPlan(b), "bounded-df corpus must keep the inverted-index plan")
    // auto-selection is a cost decision only: results match the forced plans
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs(s) == pairs(Dedup.ngramJaccardPairs(skewed, "id", "text",
      shingleSize = 2, minJaccard = 0.3, skewGuard = Some(false))))
    assert(pairs(b) == pairs(Dedup.ngramJaccardPairs(benign, "id", "text",
      shingleSize = 2, minJaccard = 0.3, skewGuard = Some(true))))
  }

  test("q25 MinHash certified against exact q27 jaccard: precision + recall floors") {
    // the q56-vs-q31 style certification, for the MinHash sketch: at sf0.01
    // and the q25 parameterization (32 hashes, 16 bands of 2, t=0.3),
    // the banding's emitted pairs must agree with EXACT n-gram Jaccard.
    val docs01 = Tables.documents(spark, "/root/testdata/sf0.01")
    // exact truth down to j>=0.1 gives a lookup for emitted pairs' true j
    val truth = Dedup.ngramJaccardPairs(docs01, "doc_id", "text",
      shingleSize = 3, minJaccard = 0.1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exactAtT = truth.filter(_._2 >= 0.3).keySet
    val est = Dedup.minhashNearDupPairs(docs01, "doc_id", "text",
      numHashes = 32, shingleSize = 3, bands = 16, minJaccard = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(exactAtT.nonEmpty && est.nonEmpty)
    // recall floor: banding hit prob at j=0.3 is 1-(1-0.3^2)^16 ~ 0.78 and
    // -> 1 as j -> 1; the VERDICT floor of 0.3 asserts the sketch works
    val recall = est.keySet.intersect(exactAtT).size.toDouble / exactAtT.size
    assert(recall >= 0.3, s"MinHash recall $recall vs exact below floor")
    // precision floor: an emitted pair estimates j>=0.3 from 32 hashes
    // (se ~ 0.08), so its TRUE jaccard should be >= 0.15 almost always
    val precise = est.keys.count(p => truth.getOrElse(p, 0.0) >= 0.15)
    val precision = precise.toDouble / est.size
    assert(precision >= 0.7, s"MinHash precision $precision below floor")
    // estimator agreement on the true-positive pairs: unbiased, se ~ 0.08
    val common = est.keySet.intersect(truth.keySet)
    if (common.nonEmpty) {
      val mae = common.toSeq.map(p => math.abs(est(p) - truth(p))).sum / common.size
      assert(mae <= 0.12, s"mean |est-exact| $mae exceeds estimator noise budget")
    }
    info(f"minhash-vs-exact: recall=$recall%.3f precision=$precision%.3f over ${exactAtT.size} true / ${est.size} emitted")
  }

  test("cosine LSH near-dup: precision 1.0, recall floor vs exact (q31 vs q56)") {
    val emb = Tables.embeddings(spark, sf)
    val exact = Similarity.cosineNearDupPairsExact(emb, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
      minCosine = 0.4, nBits = 4, nTables = 8, seed = 42L)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // every emitted pair is exact-verified → precision is exactly 1.0
    assert(lsh.subsetOf(exact))
    // threshold 0.4 is the LSH stress case (θ≈66°): per-pair hit probability
    // is 1-(1-p^nBits)^nTables with p = 1-θ/π ≈ 0.63 → ≈0.75 expected. The
    // floor asserts the banding isn't broken; recall ≈ 1 for true near-dup
    // thresholds (≥0.95, θ≤18°) — see the planted-duplicate test below.
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.65, s"LSH recall $recall below theoretical floor")
  }

  test("hard negatives: LSH flavor recall floor vs exact; null labels excluded") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val exact = Similarity.hardNegativesExact(emb, "vec_id", "embedding",
      "label", k = 3)
      .select("anchor_id", "neg_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val lsh = Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
      k = 3, nBits = 4, nTables = 8, seed = 42L)
      .select("anchor_id", "neg_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // hard negatives live at HIGH cosine — the regime bucket collisions
    // are designed for, so recall beats the 0.4-threshold stress floor
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.55, s"hard-negative recall $recall below floor")
    // a null-label row appears as neither anchor nor negative
    val withNull = emb.limit(40)
      .withColumn("label", when(col("vec_id") === 1L, lit(null)).otherwise(col("label")))
    val got = Similarity.hardNegativesExact(withNull, "vec_id", "embedding",
      "label", k = 5).collect()
    assert(!got.exists(r => r.getLong(0) == 1L || r.getLong(2) == 1L))
    // ranks are 1..k dense per anchor
    val byAnchor = got.groupBy(_.getLong(0))
    byAnchor.values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length).toSeq)
    }
  }

  test("similarity ops infer non-64 embedding dim from the data") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = (0L until 50L).map(i => (i, Seq.fill(16)(rnd.nextFloat() - 0.5f)))
    // plant an exact duplicate of vec 0 as id 50 → must surface as a pair
    val df = (base :+ (50L, base.head._2)).toDF("vec_id", "embedding")
    val dup = Similarity.cosineNearDupPairs(df, "vec_id", "embedding",
      minCosine = 0.999, nBits = 4, nTables = 6, seed = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dup.contains((0L, 50L)))
    val qs = df.filter(col("vec_id") === 50L)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val ann = Similarity.annTopK(df, "vec_id", "embedding", qs,
      "query_id", "query_vec", k = 3, nBits = 4, nTables = 6, seed = 1L)
      .orderBy("rank").collect()
    assert(ann.nonEmpty && ann.head.getLong(1) == 0L) // nearest = the duplicate
    assert(math.abs(ann.head.getDouble(2) - 1.0) < 1e-9)
  }

  test("cosine: orthogonal 0, identical 1") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
      (Seq(1.0f, 0.0f), Seq(2.0f, 0.0f))).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(math.abs(got(0)) < 1e-12 && math.abs(got(1) - 1.0) < 1e-12)
  }

  test("brute topk self-similarity sanity on fixtures") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 1L)
      .select(Similarity.asDouble(col("embedding")).as("query_vec"))
    val top = Similarity.bruteTopK(emb, "vec_id", "embedding", q, 5).collect()
    assert(top.head.getLong(0) == 1L) // the query itself ranks first
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
    assert(top.map(_.getDouble(1)).sliding(2).forall(p => p(0) >= p(1))) // sorted desc
  }

  test("ann lsh recall vs brute force on fixtures") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val ann = Similarity.annTopK(emb, "vec_id", "embedding", queries,
      "query_id", "query_vec", k = 10, nBits = 4, nTables = 8).collect()
    assert(ann.nonEmpty)
    // every returned neighbor must not be the query itself and ranks ordered
    assert(ann.forall(_.getLong(1) != 0L))
    assert(ann.map(_.getInt(3)).toSeq == (1 to ann.length))
  }

  test("dedup/similarity ops survive empty and degenerate inputs") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("id", "text")
    assert(Dedup.exact(empty, "id", "text").count() == 0)
    assert(Dedup.minhashNearDupPairs(empty, "id", "text").count() == 0)
    assert(Dedup.simhash(empty, "id", "text").count() == 0)
    assert(Dedup.ngramJaccardPairs(empty, "id", "text").count() == 0)
    // shorter than the shingle size -> no signature row, no pairs
    val short = Seq((1L, "one two"), (2L, "one two")).toDF("id", "text")
    assert(Dedup.minhashSignatures(short, "id", "text", 16, 3).count() == 0)
    assert(Dedup.minhashNearDupPairs(short, "id", "text", 16, 3, 8, 0.1).count() == 0)
    // null text is a reject, not a crash
    val withNull = Seq((1L, null), (2L, "a real document right here")).toDF("id", "text")
    assert(TextOps.tokens(col("text")) != null)
    assert(withNull.select(TextOps.tokenCount(col("text"))).collect()
      .map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).toSet == Set(-1L, 5L))
    val m = graft.ops.Multimodal.extractFeatures(spark,
      graft.ops.Multimodal.packDocuments(
        withNull.withColumnRenamed("id", "doc_id")))
    assert(m.count() == 2) // null payload -> empty features, no NPE
  }

  test("multimodal: features preserve partition batching and schema") {
    val media = Multimodal.packDocuments(Tables.documents(spark, sf))
    val feats = Multimodal.extractFeatures(spark, media)
    val row = feats.head()
    assert(row.features.length == 8)
    assert(feats.count() == 500)
    // PNG payloads take the REAL decode path: lanes are (w, h, c, means,
    // luminance, n_px) from genuine pixels, not the stub fold
    import spark.implicits._
    val png = graft.functions.PngEncodeKernel.encode(6, 4, 10, 20, 30)
    val pngMedia = Seq((7L, png)).toDF("media_id", "bytes")
      .select(col("media_id"), col("bytes"),
        struct(lit("image/png").as("format"), lit(6).as("width"),
          lit(4).as("height"), lit(png.length.toLong).as("nBytes")).as("meta"))
    val f = Multimodal.extractFeatures(spark, pngMedia).head().features
    val expMean = (for (x <- 0 until 6; y <- 0 until 4) yield (10 + x + y) % 256)
      .sum.toDouble / 24
    assert(f(0) == 6f && f(1) == 4f && f(2) == 3f && f(7) == 24f)
    assert(math.abs(f(3) - expMean) < 1e-4, s"mean_r lane ${f(3)} != $expMean")
    val frames = Multimodal.sampleFrames(media, 64, 4)
    // frame arithmetic: every frame is exactly 64 bytes
    assert(frames.agg(min(col("frame_size")), max(col("frame_size")))
      .head().toSeq == Seq(64L, 64L))
  }

  test("multimodal: magic-sniff dispatch routes each format to its real decoder") {
    import spark.implicits._
    val png = graft.functions.PngEncodeKernel.encode(6, 4, 10, 20, 30)
    val jpg = graft.functions.JpegPixelKernel.encodeGradient(16, 12, 40, 50, 60)
    val wav = graft.functions.WavPcmKernel.encodeTone(2, 8000, 16, 10)
    val junk = Array[Byte]('J', 'U', 'N', 'K', 99)
    val corrupt = png.clone(); corrupt(30) = (corrupt(30) ^ 0xff).toByte // break IHDR CRC
    val gif = graft.functions.GifKernel.encodeAnim(30, 25, 2, 3)
    val gifCorrupt = gif.dropRight(1) // GIF magic intact, trailer gone
    val apng = graft.functions.ApngKernel.encodeAnim(30, 25, 2, 3)
    val media = Seq((1L, png), (2L, jpg), (3L, wav), (4L, junk), (5L, corrupt),
      (6L, gif), (7L, gifCorrupt), (8L, apng))
      .toDF("media_id", "bytes")
      .select(col("media_id"), col("bytes"),
        struct(lit("application/octet-stream").as("format"), lit(0).as("width"),
          lit(0).as("height"),
          length(col("bytes")).cast("long").as("nBytes")).as("meta"))
    val got = Multimodal.extractFeatures(spark, media).collect()
      .map(m => m.media_id -> m).toMap
    // dispatch: sniffed content decides the lane, metadata label does not
    assert(got(1L).decoded == "png" && got(2L).decoded == "jpeg" &&
      got(3L).decoded == "wav")
    // junk AND corrupt-PNG both fall to the labeled stub lane
    assert(got(4L).decoded == "stub" && got(5L).decoded == "stub")
    // GIF routes through the container walk; corrupt-within-claim stubs
    assert(got(6L).decoded == "gif" && got(7L).decoded == "stub")
    val fg = got(6L).features
    // [screen_w, screen_h, n_frames, total_delay, max_fw, max_fh,
    //  sum_area, first_delay] from encodeAnim(30, 25, 2, seed=3) arithmetic
    val gfw = Seq(0, 1).map(i => (3 + 7 * i) % 16 + 1)
    val gfh = Seq(0, 1).map(i => (3 + 11 * i) % 16 + 1)
    assert(fg(0) == 30f && fg(1) == 25f && fg(2) == 2f)
    assert(fg(3) == Seq(0, 1).map(i => (3 + 13 * i) % 500).sum.toFloat)
    assert(fg(4) == gfw.max.toFloat && fg(5) == gfh.max.toFloat)
    assert(fg(6) == gfw.zip(gfh).map { case (a, b) => a * b }.sum.toFloat)
    assert(fg(7) == 3f)
    // an animated PNG member takes the apng frame-catalog lane, not the
    // still-image pixel decoder (same magic family, content decides)
    assert(got(8L).decoded == "apng")
    val fa = got(8L).features
    assert(fa(0) == 30f && fa(1) == 25f && fa(2) == 2f && fa(3) == (3 % 4).toFloat)
    assert(fa(4) == Seq(0, 1).map(i => (3 + 13 * i) % 500).sum.toFloat)
    assert(fa(5) == 30f && fa(6) == 25f) // frame 0 is the full canvas
    assert(fa(7) == (30L * 25 + ((3 + 7) % 16 + 1) * ((3 + 11) % 16 + 1)).toFloat)
    // JPEG lanes come from the genuinely decoded raster (lossy band)
    val fj = got(2L).features
    assert(fj(0) == 16f && fj(1) == 12f && fj(7) == 192f)
    assert(math.abs(fj(3) - (40 + 7.5 + 5.5)) <= 4.0, s"jpeg mean_r lane ${fj(3)}")
    // WAV lanes are exact integer-derived sample stats + header fields
    val fw = got(3L).features
    val amps = (0 until 20).map(i => ((i * 1031 + 7) % 65536) - 32768)
    assert(fw(0) == 20f && fw(6) == 8000f && fw(7) == 2f)
    assert(fw(3) == amps.min.toFloat && fw(4) == amps.max.toFloat)
    assert(math.abs(fw(1) - amps.sum.toDouble / 20) <= 1e-3)
  }

  test("quality classifier: NB separates the reference slice, GD refines deterministically") {
    import graft.ops.Classifier
    val docs = Tables.documents(spark, sf)
    val isPos = col("source").isin("src0", "src1")
    val scored = Classifier.nbScores(docs, "doc_id", "text", isPos)
    val joined = scored
      .join(docs.select(col("doc_id"), isPos.as("__y")), "doc_id")
    // train-set separation: the reference slice scores higher on average
    val means = joined.filter(col("n_features") > 0)
      .groupBy(col("__y")).agg(avg(col("score"))).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(means(true) > means(false),
      s"NB scores do not separate the reference slice: $means")
    // keep is exactly the sign of the score; featureless docs never kept
    joined.collect().foreach { r =>
      val keep = r.getBoolean(3)
      if (r.getLong(1) == 0L) assert(!keep && r.isNullAt(2))
      else assert(keep == (r.getDouble(2) > 0.0))
    }
    // GD refinement: mean log-loss is monotone non-increasing from zero
    // init, and training is bit-deterministic under partition layout
    val (w, losses, _) = Classifier.trainLogistic(docs, "doc_id", "text", isPos,
      nBuckets = 2000, iters = 4, lr = 5.0)
    assert(losses.zip(losses.tail).forall { case (a, b) => b <= a + 1e-12 },
      s"loss not monotone: $losses")
    assert(w.length == 2001)
    val (w2, losses2, _) = Classifier.trainLogistic(docs.repartition(13), "doc_id",
      "text", isPos, nBuckets = 2000, iters = 4, lr = 5.0)
    assert(losses == losses2, "loss trace depends on partition layout")
    assert(w.toSeq == w2.toSeq, "weights depend on partition layout")
  }

  test("trainLogistic at feature scale: NB init reaches separation in <=3 iters, driver traffic bounded") {
    import spark.implicits._
    import graft.ops.Classifier
    val docs = Tables.documents(spark, sf)
    val isPos = col("source").isin("src0", "src1")
    val nBuckets = 4096
    // NBSVM init: closed-form NB weights, one counting pass
    val init = Classifier.nbWeights(docs, "doc_id", "text", isPos, nBuckets)
    assert(init.length == nBuckets + 1)
    val (w, losses, gradRows) = Classifier.trainLogistic(docs, "doc_id", "text",
      isPos, nBuckets = nBuckets, iters = 3, lr = 0.5, init = init)
    // (a) loss monotone non-increasing from the NB start
    assert(losses.zip(losses.tail).forall { case (a, b) => b <= a + 1e-12 },
      s"loss not monotone from NB init: $losses")
    // (b) <= 3 iterations to a fixed separation margin: scored on the
    // per-occurrence (NB-score-scale) dot — the scale nbScores gates
    // on — the refined weights keep the reference slice >= 2.0 log-odds
    // above the rest on average
    val feats = graft.ops.Curation.hashedNgrams(
        docs.withColumn("__y", isPos), Seq(col("doc_id"), col("__y")),
        "text", nBuckets, scaleHash = false)
      .groupBy(col("doc_id"), col("__y"), col("__b"))
      .agg(count(lit(1)).cast("double").as("__c"))
    val wDf = w.take(nBuckets).zipWithIndex.toSeq
      .map { case (v, b) => (b.toLong, v) }.toDF("__b", "__w")
    val margin = feats
      .join(broadcast(wDf), Seq("__b"))
      .groupBy(col("doc_id"), col("__y"))
      .agg(sum(col("__c") * col("__w")).as("__dot"))
      .groupBy(col("__y")).agg(avg(col("__dot"))).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(margin(true) - margin(false) >= 2.0,
      s"NB-init model must separate by >= 2.0 log-odds in 3 iters: $margin")
    // (c) per-iteration driver traffic: the observable gradient-row
    // trace stays <= nBuckets (plus the bias and loss scalars)
    assert(gradRows.length == 3)
    assert(gradRows.forall(_ <= nBuckets),
      s"gradient collect exceeded the nBuckets bound: $gradRows")
    // lockstep: occurrence-sum scoring with the nbWeights VECTOR must
    // reproduce nbScores (same classCounts plane — this pins the
    // "same closed-form weights" contract against future drift; DECIMAL
    // routing vs double summation allows ulp-level divergence only)
    val wInitDf = init.take(nBuckets).zipWithIndex.toSeq
      .map { case (v, b) => (b.toLong, v) }.toDF("__b", "__w")
    val vecScores = feats // (doc_id, __y, __b, __c) occurrence counts
      .join(broadcast(wInitDf), Seq("__b"))
      .groupBy(col("doc_id"))
      .agg((sum(col("__c") * col("__w")) + lit(init(nBuckets))).as("vec_score"))
    val drift = graft.ops.Classifier
      .nbScores(docs, "doc_id", "text", isPos, nBuckets)
      .join(vecScores, Seq("doc_id"))
      .filter(abs(col("score") - col("vec_score")) > 1e-4)
      .count()
    assert(drift == 0L, s"$drift docs scored differently via the weight vector")
  }

  test("GIF frame walk: hand-built minimal GIF parses; malformed payloads all NULL") {
    import graft.functions.GifKernel
    // the classic 43-byte 1x1 GIF89a (header, 2-entry GCT, graphic
    // control, one 1x1 frame) — a REAL-WORLD layout, not our encoder's
    def hex(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val oneByOne = hex("474946383961" + "0100" + "0100" + "80" + "00" + "00" +
      "000000" + "ffffff" +
      "21f9" + "04" + "01" + "0000" + "00" + "00" +
      "2c" + "0000" + "0000" + "0100" + "0100" + "00" +
      "02" + "02" + "4401" + "00" + "3b")
    assert(oneByOne.length == 43)
    val parsed = GifKernel.frames(oneByOne)
    assert(parsed != null, "real-world minimal GIF must parse")
    assert(parsed.getInt(0) == 1 && parsed.getInt(1) == 1 && parsed.getInt(2) == 1)
    val f0 = parsed.getArray(3).getStruct(0, 5)
    assert(f0.getInt(0) == 0 && f0.getInt(1) == 0 &&
      f0.getInt(2) == 1 && f0.getInt(3) == 1 && f0.getInt(4) == 0)
    // encoder → walker round trip with known arithmetic
    val anim = GifKernel.encodeAnim(30, 25, 3, 5)
    val p2 = GifKernel.frames(anim)
    assert(p2.getInt(0) == 30 && p2.getInt(1) == 25 && p2.getInt(2) == 3)
    val f1 = p2.getArray(3).getStruct(1, 5) // i = 1
    assert(f1.getInt(0) == (5 + 3) % 8 && f1.getInt(1) == (5 + 5) % 8 &&
      f1.getInt(2) == (5 + 7) % 16 + 1 && f1.getInt(3) == (5 + 11) % 16 + 1 &&
      f1.getInt(4) == (5 + 13) % 500)
    // strictness: every violation NULLs, never a guess
    assert(GifKernel.frames(null) == null)
    assert(GifKernel.frames(anim.take(20)) == null, "truncated mid-stream")
    assert(GifKernel.frames(anim.dropRight(1)) == null, "missing trailer")
    assert(GifKernel.frames(anim :+ 0x00.toByte) == null, "trailing junk")
    val badMagic = anim.clone(); badMagic(4) = '8'.toByte
    assert(GifKernel.frames(badMagic) == null, "GIF88a is not a version")
    val badGce = anim.clone(); badGce(15) = 5.toByte // GCE size must be 4
    assert(GifKernel.frames(badGce) == null, "wrong control-block size")
    val badIntro = anim.clone(); badIntro(13) = 0x7f.toByte
    assert(GifKernel.frames(badIntro) == null, "unknown block introducer")
    // grammar: at most one graphic-control block per rendering block —
    // splice a duplicate GCE (bytes 13..20) before the first descriptor
    val dupGce = anim.take(21) ++ anim.slice(13, 21) ++ anim.drop(21)
    assert(GifKernel.frames(dupGce) == null, "consecutive GCE blocks")
    // extensions are an 89a addition: the same stream as 87a is corrupt
    val as87a = anim.clone(); as87a(4) = '7'.toByte
    assert(GifKernel.frames(as87a) == null, "GCE inside GIF87a")
    // the walker honors sub-block lengths (a length pointing past the
    // buffer is a truncation, not an over-read)
    val shortData = GifKernel.encodeAnim(30, 25, 1, 5)
    val cut = shortData.take(shortData.length - 2) // drop chain term + trailer
    assert(GifKernel.frames(cut) == null)
  }

  test("APNG frame-control walk: round trip exact; malformed chunk streams all NULL") {
    import graft.functions.{ApngKernel, PngEncodeKernel}
    val apng = ApngKernel.encodeAnim(30, 25, 3, 5)
    val p = ApngKernel.frames(apng)
    assert(p != null)
    assert(p.getInt(0) == 30 && p.getInt(1) == 25 &&
      p.getInt(2) == 3 && p.getInt(3) == 5 % 4)
    // frame 0: spec-mandated full canvas at origin, blend SOURCE
    val f0 = p.getArray(4).getStruct(0, 8)
    assert(f0.getInt(0) == 30 && f0.getInt(1) == 25 && f0.getInt(2) == 0 &&
      f0.getInt(3) == 0 && f0.getInt(7) == 0)
    assert(f0.getInt(4) == 5 % 500 && f0.getInt(5) == 5 % 1000 &&
      f0.getInt(6) == 5 % 3)
    // frame 2 from the planted arithmetic
    val f2 = p.getArray(4).getStruct(2, 8)
    assert(f2.getInt(0) == (5 + 14) % 16 + 1 && f2.getInt(1) == (5 + 22) % 16 + 1)
    assert(f2.getInt(2) == (5 + 6) % 8 && f2.getInt(3) == (5 + 10) % 8)
    assert(f2.getInt(4) == (5 + 26) % 500 && f2.getInt(5) == (5 + 10) % 1000)
    assert(f2.getInt(6) == (5 + 2) % 3 && f2.getInt(7) == 0)
    // a plain still PNG is NOT an APNG (no acTL) — walker and sniffing
    // both reject it, so the dispatch still routes stills to pixel decode
    assert(ApngKernel.frames(PngEncodeKernel.encode(6, 4, 10, 20, 30)) == null)
    // strictness: every violation NULLs
    assert(ApngKernel.frames(null) == null)
    assert(ApngKernel.frames(apng.dropRight(1)) == null, "truncated IEND")
    assert(ApngKernel.frames(apng :+ 0x00.toByte) == null, "trailing junk")
    val badCrc = apng.clone()
    badCrc(badCrc.length - 5) = (badCrc(badCrc.length - 5) ^ 0xff).toByte
    assert(ApngKernel.frames(badCrc) == null, "flipped IEND CRC")
    // corrupt a byte INSIDE acTL's data (n_plays low byte) — CRC catches
    val actlData = 8 + (12 + 13) + 8 // sig + IHDR chunk + len/type of acTL
    val badActl = apng.clone()
    badActl(actlData + 7) = (badActl(actlData + 7) ^ 0x01).toByte
    assert(ApngKernel.frames(badActl) == null, "acTL payload vs CRC")
    // n_frames mismatch: re-encode with 2 frames, splice its acTL count
    // to 3 WITH a recomputed CRC — structural mismatch, not a CRC error
    val two = ApngKernel.encodeAnim(30, 25, 2, 5)
    val spliced = two.clone()
    spliced(actlData + 3) = 3.toByte // num_frames 2 -> 3 (big-endian low byte)
    val crc = new java.util.zip.CRC32()
    crc.update(spliced, actlData - 4, 12) // type + 8 data bytes
    val cv = crc.getValue
    var j = 0
    while (j < 4) {
      spliced(actlData + 8 + j) = ((cv >> (24 - 8 * j)) & 0xff).toByte; j += 1
    }
    assert(ApngKernel.frames(spliced) == null, "acTL count != fcTL count")
  }

  test("url curation: canonicalization, PSL domains, dedup, caps") {
    import spark.implicits._
    import graft.ops.UrlOps
    val urls = Seq(
      (1L, "HTTPS://WWW.Example.COM:443/Path/Item?id=5&utm_source=x&ref=K#frag"),
      (2L, "https://www.example.com/Path/Item?id=5&ref=K"), // same canonical as 1
      (3L, "http://news.example.co.uk:80/"),
      (4L, "https://spam.badsite.com/x?gclid=1&utm_campaign=2"),
      (5L, "https://example.org/?utm_a=1"),
      (6L, "not a url at all")
    ).toDF("id", "url")
    val got = urls.select(col("id"),
      UrlOps.canonicalizeUrl(col("url")).as("c"),
      UrlOps.hostOf(col("url")).as("h"),
      UrlOps.registrableDomain(col("url")).as("d")).orderBy("id").collect()
    // scheme+host lowered, port/fragment/tracking stripped, query case kept
    assert(got(0).getString(1) == "https://www.example.com/Path/Item?id=5&ref=K",
      got(0).getString(1))
    assert(got(1).getString(1) == got(0).getString(1))
    assert(got(2).getString(1) == "http://news.example.co.uk", got(2).getString(1))
    assert(got(2).getString(3) == "example.co.uk") // two-level public suffix
    assert(got(3).getString(1) == "https://spam.badsite.com/x", got(3).getString(1))
    assert(got(4).getString(1) == "https://example.org", got(4).getString(1))
    assert(got(0).getString(2) == "www.example.com" &&
      got(0).getString(3) == "example.com")
    assert(got(5).getString(2) == "") // non-URL: empty host, never a crash
    val dd = UrlOps.dedupByCanonicalUrl(urls, "id", "url")
      .select("id").as[Long].collect().toSet
    assert(dd.contains(1L) && !dd.contains(2L)) // min-id survivor
    val kept = UrlOps.dropBlockedDomains(urls, "url", Seq("BadSite.com"))
      .select("id").as[Long].collect().toSet
    assert(!kept.contains(4L) && kept.contains(1L)) // case-insensitive blocklist
    val keptT = UrlOps.dropBlockedDomains(urls, "url",
      Seq("BadSite.com").toDF("domain"), "domain")
      .select("id").as[Long].collect().toSet
    assert(keptT == kept) // table-sourced blocklist = literal blocklist
    val capped = UrlOps.capPerHost(urls, "id", "url", 1)
      .select("id").as[Long].collect().toSet
    assert((capped & Set(1L, 2L)).size == 1 && capped.contains(3L))
  }

  test("PSL registrable domains: tiers, wildcard, exception, fallback") {
    import spark.implicits._
    import graft.ops.UrlOps
    val cases = Seq(
      // (host, expected registrable domain) — PSL algorithm fixtures
      ("news.a.ne.jp", "a.ne.jp"),          // multi-level ICANN suffix
      ("a.ne.jp", "a.ne.jp"),               // exactly suffix + 1 label
      ("ne.jp", ""),                        // host IS a public suffix
      ("x.github.io", "x.github.io"),       // PRIVATE-section suffix
      ("deep.sub.x.github.io", "x.github.io"),
      ("github.io", ""),                    // private suffix itself
      ("b.blogspot.co.uk", "b.blogspot.co.uk"), // 3-label private rule
      ("example.co.uk", "example.co.uk"),
      ("www.example.com", "example.com"),   // plain TLD
      ("shop.foo.ck", "shop.foo.ck"),       // wildcard *.ck
      ("a.shop.foo.ck", "shop.foo.ck"),
      ("foo.ck", ""),                       // wildcard suffix itself
      ("www.ck", "www.ck"),                 // exception !www.ck
      ("sub.www.ck", "www.ck"),
      ("bucket.s3.amazonaws.com", "bucket.s3.amazonaws.com"),
      ("vm.us-east.compute.amazonaws.com",  // depth-4 wildcard rule
        "vm.us-east.compute.amazonaws.com"),
      ("host.unknowntld.zz", "unknowntld.zz") // default rule: last 2 labels
    )
    val got = cases.map(_._1).toDF("h")
      .select(col("h"),
        UrlOps.registrableDomain(concat(lit("https://"), col("h"))).as("d"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (h, want) =>
      assert(got(h) == want, s"host $h: got ${got(h)}, want $want")
    }
    // uppercase tracking params are stripped (inline (?i))
    val c = Seq("https://a.example.com/p?UTM_Source=X&id=1&Gclid=Z")
      .toDF("url").select(UrlOps.canonicalizeUrl(col("url"))).head.getString(0)
    assert(c == "https://a.example.com/p?id=1", c)
  }

  test("ccnet pipeline: terciles partition the en slice, kept = head+middle") {
    val out = SparkEntry.queries("q120_ccnet_pipeline")(spark, sf).collect()
    val en = out.filter(r => r.getString(1) == "en" && r.getLong(2) > 0)
    assert(en.length >= 3, "fixture corpus must have an en slice")
    val buckets = en.groupBy(_.getLong(4)).view.mapValues(_.length).toMap
    assert(buckets.keySet == Set(1L, 2L, 3L))
    assert(buckets.values.max - buckets.values.min <= 1, s"ntile imbalance: $buckets")
    out.foreach { r =>
      val b = if (r.isNullAt(4)) 3L else r.getLong(4)
      assert(r.getBoolean(5) == (b <= 2L), s"kept disagrees with bucket: $r")
      // non-target-language and degenerate docs never reach the buckets
      if (r.getString(1) != "en" || r.getLong(2) == 0L)
        assert(r.isNullAt(4) && !r.getBoolean(5), s"non-en doc bucketed: $r")
    }
    // bucket order follows perplexity: every head doc <= every tail doc
    val headMax = en.filter(_.getLong(4) == 1L).map(_.getDouble(3)).max
    val tailMin = en.filter(_.getLong(4) == 3L).map(_.getDouble(3)).min
    assert(headMax <= tailMin, s"head $headMax above tail $tailMin")
  }

  test("semanticContamination == brute-force max cosine; planted paraphrase flagged") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val eval = emb.filter(col("vec_id") < 20L)
    // planted "paraphrase": eval vec 3 lightly perturbed (cosine ~0.999) —
    // the regime token-overlap decontamination misses
    val rnd = new scala.util.Random(3L)
    val src = eval.filter(col("vec_id") === 3L).head().getSeq[Float](1)
    val planted = Seq((8888L, src.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f)))
      .toDF("vec_id", "embedding")
    val corpus = emb.filter(col("vec_id") >= 20L).unionByName(planted)

    val got = Similarity.semanticContamination(corpus, "vec_id", "embedding",
      eval, "embedding", minCosine = 0.4)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(got.size == corpus.count())
    assert(got(8888L)._2 && got(8888L)._1 > 0.99, s"planted paraphrase not flagged: ${got(8888L)}")

    // brute force with the same dot/(na*nb) spelling, rounded HALF_UP at 6
    val evalV = eval.collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val corpV = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    corpV.foreach { case (id, v) =>
      val mx = evalV.map(e => BigDecimal(cos(v, e))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).max
      assert(math.abs(got(id)._1 - mx) < 1e-9, s"doc $id: ${got(id)._1} vs brute $mx")
      assert(got(id)._2 == (mx >= 0.4), s"doc $id flag mismatch at $mx")
    }

    // survivors = corpus minus flagged, schema preserved
    val flagged = got.filter(_._2._2).keySet
    val surv = Similarity.semanticDecontaminate(corpus, "vec_id", "embedding",
      eval, "embedding", minCosine = 0.4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(surv == corpV.map(_._1).toSet -- flagged)

    // degenerate rows are REPORTED (contaminated=false), never dropped
    val weird = corpus.unionByName(Seq(
      (7777L, null.asInstanceOf[Seq[Float]]),
      (7778L, Seq.fill(64)(0.0f))).toDF("vec_id", "embedding"))
    val rep = Similarity.semanticContamination(weird, "vec_id", "embedding",
      eval, "embedding", minCosine = 0.4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(rep.size == got.size + 2, "degenerate rows missing from the report")
    assert(!rep(7777L) && !rep(7778L))
  }

  test("semanticContamination refuses an eval set over the matrix bound, loudly") {
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val eval = emb.filter(col("vec_id") < 20L) // 20 x 64 = 1280 doubles
    val ex = intercept[IllegalArgumentException] {
      Similarity.semanticContamination(emb, "vec_id", "embedding",
        eval, "embedding", minCosine = 0.4, maxEvalDoubles = 1000L)
    }
    // the failure must name the scale-path fallback, not just reject
    assert(ex.getMessage.contains("cosineNearDupPairs"), ex.getMessage)
    // and the default cap admits a normal benchmark-suite-sized eval set
    assert(Similarity.semanticContamination(emb, "vec_id", "embedding",
      eval, "embedding", minCosine = 0.4).count() == emb.count())
  }

  test("imageMeta parses a real PNG file's bytes (golden fixture)") {
    import spark.implicits._
    // canonical 1x1 RGBA PNG (the smallest real PNG in the wild) — real
    // encoder output, not bytes assembled by our own helpers
    val png = java.util.Base64.getDecoder.decode(
      "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mP8" +
      "z8BQDwAEhQGAhKmMIQAAAABJRU5ErkJggg==")
    val got = Seq(Tuple1(png)).toDF("b")
      .select(graft.ops.Multimodal.imageMeta(col("b")).as("m"))
      .select("m.format", "m.width", "m.height", "m.channels", "m.bit_depth")
      .head()
    assert(got.toSeq == Seq("png", 1, 1, 4, 8))
  }

  test("imageMeta walks JPEG marker segments to SOF0; corrupt inputs are null") {
    import spark.implicits._
    def jpeg(segments: Array[Byte]*): Array[Byte] =
      (Array[Byte](0xff.toByte, 0xd8.toByte) ++ segments.flatten) :+
        0xff.toByte :+ 0xd9.toByte
    // APP0 (JFIF) + a quant-table segment the walker must skip, then SOF0
    val app0 = Array[Byte](0xff.toByte, 0xe0.toByte, 0, 16,
      'J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0)
    val dqt = Array[Byte](0xff.toByte, 0xdb.toByte, 0, 5, 0, 1, 2)
    def sof0(w: Int, h: Int, nComp: Byte) = Array[Byte](
      0xff.toByte, 0xff.toByte, // fill bytes are legal before a marker
      0xff.toByte, 0xc0.toByte, 0, (8 + 3 * nComp).toByte, 8,
      (h >> 8).toByte, h.toByte, (w >> 8).toByte, w.toByte, nComp) ++
      Array.tabulate(3 * nComp)(i => if (i % 3 == 0) (i / 3 + 1).toByte else 0x11.toByte)
    val cases = Seq(
      jpeg(app0, dqt, sof0(640, 480, 3)),      // full walk
      jpeg(sof0(70000 & 0xffff, 2, 1)),        // 16-bit wraparound stays in range
      jpeg(app0),                              // EOI before any SOF -> null
      jpeg(app0, dqt).dropRight(2),            // truncated mid-stream -> null
      Array[Byte](0xff.toByte, 0xd8.toByte),   // bare SOI -> null
      "not an image at all".getBytes("UTF-8"), // wrong magic -> null
      Array.empty[Byte])
    val got = cases.zipWithIndex.map { case (b, i) => (i, b) }.toDF("i", "b")
      .select(col("i"), graft.ops.Multimodal.imageMeta(col("b")).as("m"))
      .orderBy("i").collect()
    assert(got(0).getStruct(1).toSeq == Seq("jpeg", 640, 480, 3, 8))
    assert(got(1).getStruct(1).toSeq == Seq("jpeg", 70000 & 0xffff, 2, 1, 8))
    (2 until cases.length).foreach(i => assert(got(i).isNullAt(1), s"case $i"))
  }

  test("audioMeta parses a real WAV; walks extra chunks; corrupt inputs are null") {
    import spark.implicits._
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    def chunk(id: String, payload: Array[Byte]) =
      id.getBytes("US-ASCII") ++ le32(payload.length) ++ payload ++
        (if (payload.length % 2 == 1) Array[Byte](0) else Array.empty[Byte])
    def fmt(code: Int, ch: Int, rate: Int, bits: Int) =
      chunk("fmt ", le16(code) ++ le16(ch) ++ le32(rate) ++
        le32(rate * ch * bits / 8) ++ le16(ch * bits / 8) ++ le16(bits))
    def wav(chunks: Array[Byte]*) = {
      val body = "WAVE".getBytes("US-ASCII") ++ chunks.flatten
      "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
    }
    val golden = wav(fmt(1, 1, 8000, 16), chunk("data", new Array[Byte](8)))
    val listFirst = wav(chunk("LIST", "INF".getBytes("US-ASCII")), // odd, padded
      fmt(1, 2, 44100, 24), chunk("data", new Array[Byte](44100 * 6 % 1024)))
    val cases = Seq(
      golden,                                   // 4 frames of 16-bit mono
      listFirst,                                // chunk walk + odd padding
      wav(fmt(2, 1, 8000, 16), chunk("data", new Array[Byte](8))), // ADPCM -> null
      wav(fmt(1, 1, 8000, 12), chunk("data", new Array[Byte](8))), // bits%8 -> null
      wav(fmt(1, 1, 8000, 16)),                 // no data chunk -> null
      golden.dropRight(2),                      // truncated data -> null
      "RIFFnotawave".getBytes("US-ASCII"),      // wrong magic -> null
      Array.empty[Byte],
      // unsigned rate above Int.MaxValue would wrap negative in the Int
      // struct field -> must be rejected, not reported wrapped
      wav(fmt(1, 1, 0x80000001, 16), chunk("data", new Array[Byte](8))))
    val got = cases.zipWithIndex.map { case (b, i) => (i, b) }.toDF("i", "b")
      .select(col("i"), graft.ops.Multimodal.audioMeta(col("b")).as("m"))
      .orderBy("i").collect()
    assert(got(0).getStruct(1).toSeq == Seq("wav", 1, 8000, 16, 4L))
    val frames1 = (44100 * 6 % 1024) / (2 * 24 / 8)
    assert(got(1).getStruct(1).toSeq == Seq("wav", 2, 44100, 24, frames1.toLong))
    (2 until cases.length).foreach(i => assert(got(i).isNullAt(1), s"case $i"))
  }

  test("statsWithFmt == stats + header fields, from one chunk walk") {
    import graft.functions.{WavHeaderKernel, WavPcmKernel}
    for ((ch, rate, bits, frames) <- Seq((1, 8000, 8, 5), (2, 44100, 16, 32),
      (4, 16000, 16, 0))) {
      val b = WavPcmKernel.encodeTone(ch, rate, bits, frames)
      val s5 = WavPcmKernel.stats(b)
      val s7 = WavPcmKernel.statsWithFmt(b)
      assert((0 until 5).forall(i => s5.get(i, null) == s7.get(i, null)),
        s"amplitude fields diverge at ($ch,$rate,$bits,$frames)")
      val hdr = WavHeaderKernel.parse(b)
      assert(s7.getLong(5) == hdr.getInt(2).toLong, "sample_rate")
      assert(s7.getInt(6) == hdr.getInt(1), "channels")
    }
    // out-of-scope payloads reject identically on both entry points
    val adpcm = WavPcmKernel.encodeTone(1, 8000, 16, 4).clone()
    adpcm(20) = 2 // format code 2 (ADPCM) — sample decode out of scope
    assert(WavPcmKernel.stats(adpcm) == null &&
      WavPcmKernel.statsWithFmt(adpcm) == null)
  }

  test("wavBytes encode helper round-trips through audioMeta") {
    import spark.implicits._
    val params = Seq((1, 8000, 16, 0), (2, 44100, 16, 100),
      (1, 16000, 8, 4096), (6, 48000, 32, 7))
      .toDF("ch", "rate", "bits", "frames")
    val got = params.select(col("ch"), col("rate"), col("bits"), col("frames"),
      graft.ops.Multimodal.audioMeta(graft.ops.Multimodal.wavBytes(
        col("ch"), col("rate"), col("bits"), col("frames"))).as("m"))
      .collect()
    got.foreach { r =>
      assert(r.getStruct(4).toSeq == Seq("wav", r.getInt(0), r.getInt(1),
        r.getInt(2), r.getInt(3).toLong), r.toString)
    }
    // a sample rate whose byteRate would overflow the 4-byte LE field must
    // fail the range assert, not emit a silently-truncated header
    val bad = Seq((64, 17000000, 32, 1)).toDF("ch", "rate", "bits", "frames")
    val ex = intercept[Exception] { // SparkRuntimeException from assert_true
      bad.select(graft.ops.Multimodal.wavBytes(
        col("ch"), col("rate"), col("bits"), col("frames"))).collect()
    }
    assert(ex.getMessage.contains("wav sample rate"), ex.getMessage)
  }

  test("image header encode helpers round-trip through the parser") {
    import spark.implicits._
    val dims = Seq((1, 1, 1), (1000, 800, 3), (65535, 2, 4), (640, 480, 2))
      .toDF("w", "h", "ch")
    val png = dims.select(col("w"), col("h"), col("ch"),
      graft.ops.Multimodal.imageMeta(
        graft.ops.Multimodal.pngHeaderBytes(col("w"), col("h"), col("ch"))).as("m"))
      .collect()
    png.foreach { r =>
      assert(r.getStruct(3).toSeq ==
        Seq("png", r.getInt(0), r.getInt(1), r.getInt(2), 8), r.toString) }
    val jd = Seq((1, 1, 1), (1000, 800, 3), (65535, 9999, 1)).toDF("w", "h", "ch")
    val jpg = jd.select(col("w"), col("h"), col("ch"),
      graft.ops.Multimodal.imageMeta(
        graft.ops.Multimodal.jpegHeaderBytes(col("w"), col("h"), col("ch"))).as("m"))
      .collect()
    jpg.foreach { r =>
      assert(r.getStruct(3).toSeq ==
        Seq("jpeg", r.getInt(0), r.getInt(1), r.getInt(2), 8), r.toString) }
  }

  test("redactPii replaces all three kinds everywhere, chain order safe") {
    import spark.implicits._
    val df = Seq(
      "write a.b+x@mail-host.co.uk or b@c.io today",    // 2 emails
      "server 10.0.255.7 then 192.168.1.1 up",          // 2 IPs
      "call 555-123-4567 or +1 555.987.6543 now",       // 2 phones ((?:\+|\b) anchors at 555)
      "mixed u@v.org at 8.8.8.8 ring 555-000-1111",     // one of each
      "none here just text 12345 and 1.5 ratios").toDF("text")
    val got = df.select(TextOps.redactPii(col("text"))).collect().map(_.getString(0))
    assert(got(0) == "write <EMAIL> or <EMAIL> today")
    assert(got(1) == "server <IP> then <IP> up")
    assert(got(2) == "call <PHONE> or +1 <PHONE> now")
    assert(got(3) == "mixed <EMAIL> at <IP> ring <PHONE>")
    assert(got(4) == "none here just text 12345 and 1.5 ratios")
    // IPs are NOT half-eaten by the dot-separated phone pattern
    assert(!got(1).contains("<PHONE>"))
    // the (?:\+|\b) leading anchor must NOT fire mid-digit-run: a 3-3-4
    // tail inside a longer number is not a phone
    val tail = Seq("ref 1234-567-8901 code").toDF("text")
      .select(TextOps.redactPii(col("text"))).head().getString(0)
    assert(tail == "ref 1234-567-8901 code", s"digit-run tail was redacted: $tail")
    val counts = df.select(TextOps.piiCounts(col("text")) match {
      case (e, i, p) => struct(e.as("e"), i.as("i"), p.as("p"))
    }).collect().map(r => (r.getStruct(0).getLong(0),
      r.getStruct(0).getLong(1), r.getStruct(0).getLong(2)))
    assert(counts.toSeq == Seq((2L, 0L, 0L), (0L, 2L, 0L), (0L, 0L, 2L),
      (1L, 1L, 1L), (0L, 0L, 0L)))
  }

  test("range join == naive BETWEEN join on seeded random data, any bin width") {
    import spark.implicits._
    import graft.ops.RangeJoin
    val rnd = new scala.util.Random(23L)
    val points = (1L to 300L).map(i => (i, rnd.nextInt(10000).toLong)).toDF("pid", "t")
    val ranges = (1L to 80L).map { i =>
      val s = rnd.nextInt(10000).toLong
      (i, s, s + rnd.nextInt(800).toLong) // includes empty ranges (len 0)
    }.toDF("rid", "s", "e")
    val naive = points.join(ranges, col("t") >= col("s") && col("t") < col("e"))
      .select("pid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (w <- Seq(1L, 7L, 64L, 1000L, 100000L)) {
      val binned = RangeJoin.pointsInRanges(points, "t", ranges, "s", "e", w)
        .select("pid", "rid").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(binned.toSet == naive && binned.length == naive.size,
        s"bin width $w: mismatch or duplicate matches")
    }
  }

  test("interval overlap join == naive overlap join, exactly once, any bin width") {
    import spark.implicits._
    import graft.ops.RangeJoin
    val rnd = new scala.util.Random(29L)
    def mk(n: Int, pre: String) = ((1L to n.toLong).map { i =>
      val s = rnd.nextInt(10000).toLong
      (i, s, s + rnd.nextInt(900).toLong)
    } ++ Seq( // PLANTED empty intervals, incl. one strictly inside big
      (n + 1L, 5000L, 5000L), (n + 2L, 9999L, 9000L)))
      .toDF(s"${pre}id", s"${pre}s", s"${pre}e")
    val a = mk(120, "a")
    val b = mk(90, "b")
    // reference predicate: NONEMPTY intersection — the bare overlap
    // inequality would claim an empty interval inside a nonempty one
    // "overlaps", which intervalOverlaps (correctly) rejects
    val naive = a.join(b, col("as") < col("be") && col("bs") < col("ae") &&
        col("ae") > col("as") && col("be") > col("bs"))
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive.nonEmpty)
    assert(!naive.exists { case (x, y) => x > 120L || y > 90L },
      "empty intervals must not match")
    for (w <- Seq(1L, 13L, 256L, 5000L, 100000L)) {
      val got = RangeJoin.intervalOverlaps(a, "as", "ae", b, "bs", "be", w)
        .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSet == naive && got.length == naive.size,
        s"bin width $w: mismatch or duplicated pairs " +
          s"(got ${got.length}, want ${naive.size})")
    }
    // half-open semantics: touching intervals do NOT overlap; nested do
    val x = Seq((1L, 100L, 200L)).toDF("aid", "as", "ae")
    val y = Seq((10L, 200L, 300L), (11L, 120L, 130L), (12L, 0L, 100L))
      .toDF("bid", "bs", "be")
    val pairs = RangeJoin.intervalOverlaps(x, "as", "ae", y, "bs", "be", 50L)
      .select("bid").collect().map(_.getLong(0)).toSet
    assert(pairs == Set(11L), s"half-open overlap semantics violated: $pairs")
  }

  test("range join: exact bounds at bin edges, multi-bin ranges, empties") {
    import spark.implicits._
    import graft.ops.RangeJoin
    val points = Seq((1L, 0L), (2L, 99L), (3L, 100L), (4L, 250L), (5L, 999L))
      .toDF("pid", "t")
    val ranges = Seq(
      (10L, 0L, 100L),    // [0,100): catches t=0, 99 — NOT 100 (half-open)
      (11L, 100L, 101L),  // single-point range catches exactly t=100
      (12L, 50L, 950L),   // spans many bins; catches 99, 100, 250
      (13L, 500L, 500L),  // empty range -> no matches
      (14L, 990L, 2000L)) // catches 999
      .toDF("rid", "s", "e")
    // binWidth much smaller than some ranges AND larger than others
    val got = RangeJoin.pointsInRanges(points, "t", ranges, "s", "e", 64L)
      .select("rid", "pid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((10L, 1L), (10L, 2L), (11L, 3L),
      (12L, 2L), (12L, 3L), (12L, 4L), (14L, 5L)))
    // each match appears exactly once (point in exactly one bin)
    val n = RangeJoin.pointsInRanges(points, "t", ranges, "s", "e", 64L).count()
    assert(n == 7L)
  }

  test("repetition metrics: hand-computed fractions, empty-safe") {
    import spark.implicits._
    val df = Seq(
      "a a b",          // dup fraction 1 - 2/3
      "a b a b a",      // bigrams: ab ba ab ba → top 2/4
      "x x x x",        // bigrams all "x x" → top 1.0
      "all tokens differ fully",
      "").toDF("text")
    val dup = df.select(TextOps.dupTokenFraction(col("text"))).collect().map(_.getDouble(0))
    assert(math.abs(dup(0) - (1.0 - 2.0 / 3)) < 1e-15)
    assert(dup(3) == 0.0 && dup(4) == 0.0)
    val top = df.select(TextOps.topNgramFraction(col("text"), 2)).collect().map(_.getDouble(0))
    assert(top(1) == 0.5 && top(2) == 1.0 && top(4) == 0.0)
  }

  test("crossDocSpans: shared passages counted, within-doc repeats excluded") {
    import spark.implicits._
    val passage = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens
    val docs = Seq(
      (1L, s"intro one two three $passage tail1 tail2"), // 14 toks, 7 windows
      (2L, s"$passage different middle parts here now"), // 14 toks, 7 windows
      (3L, ("unique content " * 8).trim),                // 16 toks, within-doc repeats ONLY
      (4L, "short doc")                                  // < 8 toks, no windows
    ).toDF("doc_id", "text")
    val out = Dedup.crossDocSpans(docs, "doc_id", "text", n = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // docs 1 and 2 share exactly ONE 8-token window (the passage itself;
    // every other window straddles differing context)
    assert(out(1L) == ((7L, 1L, math.rint(1.0 / 7 * 1e6) / 1e6)))
    assert(out(2L)._2 == 1L)
    // doc 3's windows repeat only WITHIN the doc → not cross-doc duplicated
    assert(out(3L) == ((9L, 0L, 0.0)))
    // doc 4 has no windows at all
    assert(out(4L) == ((0L, 0L, 0.0)))

    // md5 and xxhash64 fingerprints agree on the counts (the oracle-parity
    // flavor is the same computation with replayable keys)
    val outMd5 = Dedup.crossDocSpans(docs, "doc_id", "text", n = 8,
      fingerprint = org.apache.spark.sql.functions.md5 _)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(outMd5 == out.map { case (k, v) => k -> v._2 })
  }

  test("crossDocSpans property: equals brute-force recount on random corpora") {
    import spark.implicits._
    // random small-vocab corpora (so spans genuinely collide across docs),
    // recounted doc-by-doc in plain Scala over the window STRINGS — also
    // certifies the xxhash64 fingerprints stand in for the strings at this
    // scale. Same tokenization on both sides: lower, trim, split(\s+).
    for ((seed, n, minDocs) <- Seq((1L, 3, 2), (2L, 2, 2), (3L, 8, 2), (4L, 3, 3))) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen",
        "ibis", "jay", "kiwi", "lynx")
      val docs = (0L until 60L).map { i =>
        val len = rnd.nextInt(31) // 0..30 tokens; len 0 -> empty text
        (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      // brute force: window occurrence lists + cross-doc document frequency
      val windows: Map[Long, Seq[String]] = docs.map { case (id, text) =>
        val toks = text.trim.toLowerCase.split("\\s+").toSeq
        id -> (if (toks.length >= n) toks.sliding(n).map(_.mkString(" ")).toSeq
               else Seq.empty)
      }.toMap
      val docFreq = windows.toSeq
        .flatMap { case (id, ws) => ws.distinct.map(w => (w, id)) }
        .groupBy(_._1).map { case (w, xs) => w -> xs.size }
      val expected = docs.map { case (id, _) =>
        val ws = windows(id)
        val dup = ws.count(w => docFreq(w) >= minDocs)
        (id, ws.length.toLong, dup.toLong,
          if (ws.nonEmpty) math.rint(dup.toDouble / ws.length * 1e6) / 1e6 else 0.0)
      }.toSet

      val got = Dedup.crossDocSpans(docs.toDF("doc_id", "text"), "doc_id", "text",
        n = n, minDocs = minDocs)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == expected,
        s"(seed=$seed n=$n minDocs=$minDocs) mismatch: " +
          s"only-spark=${got -- expected} only-brute=${expected -- got}")
    }
  }

  test("incremental span dedup == full crossDocSpans on the union (batch rows)") {
    import spark.implicits._
    // the additivity claim in crossDocSpansAgainstCorpus's scaladoc,
    // asserted on random corpora: batch-vs-index equals union-recompute
    for (seed <- Seq(5L, 6L)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen")
      val all = (0L until 50L).map { i =>
        (i, Seq.fill(rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val batch = all.filter(col("doc_id") % 5 === 0)
      val corpus = all.filter(col("doc_id") % 5 =!= 0)
      val n = 3
      val inc = Dedup.crossDocSpansAgainstCorpus(batch, "doc_id", "text",
        Dedup.spanIndex(corpus, "doc_id", "text", n), n = n, minDocs = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val full = Dedup.crossDocSpans(all, "doc_id", "text", n = n, minDocs = 2)
        .filter(col("doc_id") % 5 === 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(inc == full, s"seed=$seed: only-inc=${inc -- full} only-full=${full -- inc}")
    }
    // a batch doc sharing a passage ONLY with the corpus is still flagged
    val passage = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq((1L, s"corpus head $passage corpus tail")).toDF("doc_id", "text")
    val batch = Seq((10L, s"fresh start $passage fresh end"),
      (11L, "nothing shared here at all with anyone ever")).toDF("doc_id", "text")
    val got = Dedup.crossDocSpansAgainstCorpus(batch, "doc_id", "text",
      Dedup.spanIndex(corpus, "doc_id", "text", 8), n = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(10L) == 1L && got(11L) == 0L)
  }

  test("lmQualityScore: hand-computed add-1 bigram log-likelihoods") {
    import spark.implicits._
    // corpus bigrams: (a,b)x3 (b,a)x1 (b,c)x1; C(a)=3 C(b)=2; V={a,b,c}=3
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "x"))
      .toDF("doc_id", "text")
    val out = TextOps.lmQualityScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def r(x: Double, s: Int) =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pAB = r(math.log((3.0 + 1) / (3 + 3)) / math.log(2), 12) // P(b|a)=4/6
    val pBX = r(math.log((1.0 + 1) / (2 + 3)) / math.log(2), 12) // P(a|b)=P(c|b)=2/5
    assert(out(1L) == ((3L, r((2 * pAB + pBX) / 3, 6))))
    assert(out(2L) == ((2L, r((pAB + pBX) / 2, 6))))
    assert(!out.contains(3L), "single-token docs have no bigrams")
    // fluent repetition of corpus-frequent transitions outscores garble
    assert(out(1L)._2 > out(2L)._2 - 1.0) // sanity: both in the same decade
  }

  test("bigramLmNll: hand-computed cross-corpus nll; planted gibberish ranks worst") {
    import spark.implicits._
    // train bigrams: (a,b)x3 (b,a)x1 (b,c)x1; c1(a)=3 c1(b)=2; V={a,b,c}=3
    val train = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val score = Seq((10L, "a b"), (11L, "a q"), (12L, "z q"), (13L, "solo"))
      .toDF("doc_id", "text")
    val out = TextOps.bigramLmNll(score, "doc_id", "text", train, "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))).toMap
    def r6(x: Double) =
      BigDecimal(BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
        .toDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(10L) == ((1L, r6(math.log((3.0 + 3) / (3 + 1)))))) // seen: (c1+V)/(c12+1)
    assert(out(11L) == ((1L, r6(math.log((3.0 + 3) / (0 + 1)))))) // unseen bigram, seen context
    assert(out(12L) == ((1L, r6(math.log((0.0 + 3) / (0 + 1)))))) // unseen context: ln(V)
    assert(out(13L)._1 == 0L && out(13L)._2.isNaN) // <2 tokens: reported, unscored
    // CCNet ordering: in-domain < partially-seen <, uh, full gibberish
    assert(out(10L)._2 < out(11L)._2)

    // planted gibberish against the real fixture corpus ranks in the worst
    // decile — the filtering property the perplexity gate exists for
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val gib = Seq((999001L, "zq vwx kjf qqq plm zzv xkcd wqzt frpl mnbv"))
      .toDF("doc_id", "text").select(col("doc_id"), col("text"))
    val scored = TextOps.bigramLmNll(
      docs.select("doc_id", "text").unionByName(gib), "doc_id", "text",
      docs, "text")
      .filter(col("n_bigrams") > 0).collect()
      .map(r => r.getLong(0) -> r.getDouble(2))
    val gibScore = scored.find(_._1 == 999001L).get._2
    val worse = scored.count(_._2 >= gibScore)
    assert(worse <= math.max(1, scored.length / 10),
      s"gibberish nll $gibScore not in worst decile ($worse of ${scored.length} score >= it)")
  }

  test("knBigramNll: hand-computed Kneser-Ney probabilities, OOV backoff") {
    import spark.implicits._
    // train "a b a b a c": bg ab:2 ba:2 ac:1; c1(a)=3 c1(b)=2;
    // N1(a·)=2 N1(b·)=1; N1(·a)=1 N1(·b)=1 N1(·c)=1; Ncc=3 V=3 → nsm=7
    val train = Seq((1L, "a b a b a c")).toDF("doc_id", "text")
    val score = Seq((20L, "a b c"), (21L, "z a"), (22L, "q q"),
      (23L, "solo")).toDF("doc_id", "text")
    val out = TextOps.knBigramNll(score, "doc_id", "text", train, "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))).toMap
    def r12(x: Double) =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // (a,b): num = max(4·2−3,0)·7 + 3·2·2 = 47, den = 4·3·7 = 84
    //        (P = 1.25/3 + 0.75·(2/3)·(2/7) = 47/84)
    // (b,c): num = 0 + 3·1·2 = 6, den = 4·2·7 = 56 (pure backoff mass)
    val t1 = r12(math.log(84.0) - math.log(47.0))
    val t2 = r12(math.log(56.0) - math.log(6.0))
    assert(out(20L) == ((2L, r6((t1 + t2) / 2))))
    // unseen context z → Pcont(a) = (1+1)/7
    assert(out(21L) == ((1L, r6(r12(math.log(7.0) - math.log(2.0))))))
    // fully OOV bigram → Pcont(q) = 1/7 (the add-one OOV bucket)
    assert(out(22L) == ((1L, r6(r12(math.log(7.0) - math.log(1.0))))))
    assert(out(23L)._1 == 0L && out(23L)._2.isNaN)
    // ordering: the seen-bigram term beats the unseen-context backoff,
    // which beats full OOV (Pcont: 47/84 > 2/7 > 1/7)
    assert(t1 < out(21L)._2 && out(21L)._2 < out(22L)._2)
    // discount guard
    assert(scala.util.Try(TextOps.knBigramNll(score, "doc_id", "text",
      train, "text", discountNum = 4, discountDen = 4)).isFailure)
  }

  test("charEntropy: closed-form values, degenerate and empty docs") {
    import spark.implicits._
    val rows = Seq((1L, "aaaa"), (2L, "aabb"), (3L, ""),
      (4L, null.asInstanceOf[String]), (5L, "abcd")).toDF("id", "text")
    val out = TextOps.charEntropy(rows, "id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L).getLong(1) == 4L && out(1L).getLong(2) == 1L &&
      out(1L).getDouble(3) == 0.0)
    assert(out(2L).getDouble(3) == r6(math.log(2))) // ln4 − (2·2ln2)/4
    assert(out(3L).getLong(1) == 0L && out(3L).isNullAt(3))
    assert(out(4L).getLong(1) == 0L && out(4L).isNullAt(3))
    assert(out(5L).getDouble(3) == r6(math.log(4))) // uniform over 4
  }

  test("winnowing: every window covered, rightmost-min selection, shared-substring guarantee") {
    import spark.implicits._
    val d1 = "the quick brown fox jumps over the lazy dog again and again"
    val d2 = "a completely different text that jumps over the lazy dog too"
    val rows = Seq((1L, d1), (2L, d2), (3L, "short")).toDF("id", "text")
    val k = 8; val w = 4
    val fps = TextOps.winnowingFingerprints(rows, "id", "text", k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // brute-force reference with the same md5-h48 hash
    def h48(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(12)
      java.lang.Long.parseLong(hex, 16)
    }
    def winnow(text: String): Set[(Long, Long)] = {
      val t = text.toLowerCase.replaceAll("\\s+", " ").trim
      val hs = (1 to t.length - k + 1)
        .map(p => p.toLong -> h48(t.substring(p - 1, p - 1 + k)))
      (1 to hs.length - w + 1).map { i =>
        hs.slice(i - 1, i - 1 + w)
          .reduceLeft((a, b) => if (b._2 < a._2 ||
            (b._2 == a._2 && b._1 > a._1)) b else a)
      }.toSet
    }
    assert(fps.filter(_._1 == 1L).map(t => (t._2, t._3)).toSet == winnow(d1))
    assert(fps.filter(_._1 == 2L).map(t => (t._2, t._3)).toSet == winnow(d2))
    // coverage guarantee: every full window holds a selected position
    val sel1 = fps.filter(_._1 == 1L).map(_._2).toSet
    val n1 = d1.trim.replaceAll("\\s+", " ").length - k + 1
    (1 to n1 - w + 1).foreach(i =>
      assert((i until i + w).exists(p => sel1(p.toLong)), s"window $i"))
    // both docs share 'jumps over the lazy dog' (≥ w+k−1 chars) →
    // they must share a fingerprint hash
    val h1 = fps.filter(_._1 == 1L).map(_._3).toSet
    val h2 = fps.filter(_._1 == 2L).map(_._3).toSet
    assert(h1.intersect(h2).nonEmpty)
    // a doc shorter than k+w−1 emits nothing
    assert(!fps.exists(_._1 == 3L))
  }

  test("winnowing: rows are distinct within a document, and a duplicated " +
    "id emits its rows once per input row") {
    import spark.implicits._
    // repeated text makes neighbouring windows select the same position
    val d = "abcabcabcabc the same words the same words again and again"
    def fps(rows: Seq[(Long, String)]) = TextOps
      .winnowingFingerprints(rows.toDF("id", "text"), "id", "text", 8, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val once = fps(Seq((1L, d)))
    assert(once.nonEmpty && once.distinct.size == once.size)
    // the unique-id precondition: no dedupe across rows of the same id
    val twice = fps(Seq((1L, d), (1L, d)))
    assert(twice.size == 2 * once.size)
    assert(twice.distinct.sorted == once.sorted)
  }

  test("scriptProfile: exact per-script counts, dominant script, empty/NULL text") {
    import spark.implicits._
    val rows = Seq(
      (1L, "hello мир 北京 123!"),
      (2L, "مرحبا"),
      (3L, ""),
      (4L, null.asInstanceOf[String]),
      (5L, "ab аб")) // latin 2 vs cyrillic 2 → tie → 'latin' > 'cyrillic'
      .toDF("id", "text")
    val out = TextOps.scriptProfile(rows, "id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    // "hello мир 北京 123!": latin 5, cyrillic 3, han 2, digits 3,
    // spaces 3, other 1 ('!'), total 17
    assert(r1.getLong(1) == 17L && r1.getLong(2) == 5L &&
      r1.getLong(3) == 3L && r1.getLong(4) == 2L && r1.getLong(5) == 0L &&
      r1.getLong(6) == 3L && r1.getLong(7) == 3L && r1.getLong(8) == 1L)
    assert(r1.getString(9) == "latin")
    assert(out(2L).getString(9) == "arabic" && out(2L).getLong(5) == 5L)
    assert(out(3L).getString(9) == "none" && out(3L).getLong(1) == 0L)
    assert(out(4L).getString(9) == "none")
    assert(out(5L).getString(9) == "latin") // tie → lexicographically larger
  }

  test("conformalThresholds: exact order-statistic rank, honest infinite threshold") {
    import spark.implicits._
    import graft.ops.Classifier
    val cal = (1 to 10).map(i => ("g", i.toDouble)).toDF("grp", "s")
    def th(aN: Int, aD: Int) =
      Classifier.conformalThresholds(cal, "grp", "s", aN, aD).head()
    // n=10, α=0.1: k = ⌈11·0.9⌉ = 10 → qhat = 10th smallest = 10.0
    val t1 = th(1, 10)
    assert(t1.getLong(1) == 10L && t1.getLong(2) == 10L &&
      t1.getDouble(3) == 10.0 && t1.getBoolean(4) &&
      t1.getDouble(5) == 10.0 / 11)
    // α=0.2: k = ⌈11·0.8⌉ = 9 → qhat = 9.0
    assert(th(2, 10).getLong(2) == 9L && th(2, 10).getDouble(3) == 9.0)
    // α=0.05: k = ⌈11·0.95⌉ = 11 > n → NULL threshold, finite = false
    val t3 = th(1, 20)
    assert(t3.getLong(2) == 11L && t3.isNullAt(3) && !t3.getBoolean(4))
    // coverage: threshold 9.0 covers 9 of 20 test scores; an infinite
    // threshold covers all of them
    val test20 = (1 to 20).map(i => ("g", i.toDouble)).toDF("grp", "s")
    val cov = Classifier.conformalCoverage(test20, "grp", "s",
      Classifier.conformalThresholds(cal, "grp", "s", 2, 10)).head()
    assert(cov.getLong(1) == 20L && cov.getLong(2) == 9L &&
      cov.getDouble(3) == 0.45)
    val covInf = Classifier.conformalCoverage(test20, "grp", "s",
      Classifier.conformalThresholds(cal, "grp", "s", 1, 20)).head()
    assert(covInf.getLong(2) == 20L && covInf.getDouble(3) == 1.0)
    assert(scala.util.Try(
      Classifier.conformalThresholds(cal, "grp", "s", 0, 10)).isFailure)
    // the guarantee itself: on exchangeable data coverage ≥ 1−α — exact
    // here because test ⊇ cal ranks: 10 of 11 ≥ 0.9 at the same scale
    assert(th(1, 10).getDouble(5) >= 0.9)
  }

  test("bleuScore: hand-computed precisions, BP, strict-zero and null paths") {
    import spark.implicits._
    val pairs = Seq(
      (1L, "the cat is on the mat here", "the cat is on the mat"),
      (2L, "the cat is on the mat", "the cat is on the mat"),
      (3L, "the cat the cat on the mat", "the cat is on the mat"),
      (4L, "the cat", "the cat is on the mat"),
      (5L, null.asInstanceOf[String], "the cat"),
      (6L, "", "the cat"))
      .toDF("doc_id", "cand", "ref")
    val out = TextOps.bleuScore(pairs, "doc_id", "cand", "ref").collect()
      .map(r => r.getLong(0) -> r).toMap
    def d(r: org.apache.spark.sql.Row, i: Int) =
      if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
    // doc 1: p = 6/7, 5/6, 4/5, 3/4 → BLEU = (3/7)^(1/4), BP = 1 (c > r)
    val r1 = out(1L)
    assert(r1.getLong(1) == 7L && r1.getLong(2) == 6L)
    assert(d(r1, 3) == 6.0 / 7 && d(r1, 4) == 5.0 / 6 &&
      d(r1, 5) == 4.0 / 5 && d(r1, 6) == 3.0 / 4)
    assert(d(r1, 7) == 1.0)
    assert(math.abs(d(r1, 8) - math.pow(3.0 / 7, 0.25)) < 1e-9)
    // doc 2: identical pair → all precisions 1, BLEU exactly 1
    val r2 = out(2L)
    assert((3 to 6).forall(d(r2, _) == 1.0) && d(r2, 7) == 1.0 &&
      d(r2, 8) == 1.0)
    // doc 3: clipping (p1 = 5/7: 'the'×3 clips at 2) and a zero 4-gram
    // precision → strict BLEU 0
    val r3 = out(3L)
    assert(d(r3, 3) == 5.0 / 7 && d(r3, 4) == 3.0 / 6 && d(r3, 5) == 1.0 / 5)
    assert(d(r3, 6) == 0.0 && d(r3, 8) == 0.0)
    // doc 4: 2-token candidate → p3/p4 undefined (NULL), BLEU 0,
    // BP = e^{1-6/2} rounded at 12 dp
    val r4 = out(4L)
    assert(d(r4, 5).isNaN && d(r4, 6).isNaN && d(r4, 8) == 0.0)
    val bp4 = BigDecimal(math.exp(1.0 - 6.0 / 2))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(d(r4, 7) == bp4)
    // doc 5: null candidate → NULL bleu; doc 6: empty candidate → 0
    assert(d(out(5L), 8).isNaN)
    assert(out(6L).getLong(1) == 0L && d(out(6L), 8) == 0.0)
  }

  test("gopherRules: each rule trips on its planted violation, clean prose keeps") {
    import spark.implicits._
    val clean = "the quick brown fox jumps over that lazy dog and it runs " +
      "with great speed toward the distant hills of the old country"  // 23 words
    val docs: Seq[(Long, String)] = Seq(
      1L -> clean,
      2L -> "short words only here",                      // < 10 words
      3L -> (clean + " ##### ### ## # # # #"),            // symbol ratio > 0.1
      4L -> (("- b\n" * 10) + "the end of that it"),       // 10/11 bullet lines
      5L -> ("the end of that it and..." + "\nmore..." + "\nagain..." +
        "\nlast line is fine"),                           // 3/4 ellipsis lines
      6L -> "the of 1 2 3 4 5 6 7 8 9 10 11 12 13 14 15 16 17 and it that", // <80% alpha
      7L -> "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk",  // no stopwords
      8L -> null.asInstanceOf[String])                    // null text = empty
    val out = graft.ops.TextOps.gopherRules(
      docs.toDF("doc_id", "text"), "doc_id", "text", minWords = 10L)
      .collect().map(r => r.getLong(0) -> r).toMap
    def ok(id: Long, field: String): Boolean =
      out(id).getBoolean(out(id).fieldIndex(field))
    assert(ok(1L, "keep"), s"clean prose must pass all rules: ${out(1L)}")
    assert(!ok(2L, "word_count_ok") && !ok(2L, "keep"))
    assert(!ok(3L, "symbol_ok") && ok(1L, "symbol_ok"))
    assert(!ok(4L, "bullet_ok") && ok(1L, "bullet_ok"))
    assert(!ok(5L, "ellipsis_ok") && ok(1L, "ellipsis_ok"))
    assert(!ok(6L, "alpha_ok") && ok(1L, "alpha_ok"))
    assert(!ok(7L, "stopword_ok") && ok(1L, "stopword_ok"))
    assert(out(8L).getLong(1) == 0L && !ok(8L, "keep")) // null -> empty, dropped
  }

  test("temperature sampling: alpha=1 is the natural mix; alpha<1 flattens the head") {
    import spark.implicits._
    // skewed corpus: head domain 80 rows, tails 10 each
    val rows = (0 until 80).map(i => (i.toLong, "head")) ++
      (0 until 10).map(i => (100L + i, "tailA")) ++
      (0 until 10).map(i => (200L + i, "tailB"))
    val df = rows.toDF("doc_id", "domain")
    // alpha = 1: w_d = n_d / n_tot, so every domain's gate is exactly the
    // budget fraction — the natural mixture
    val w1 = Curation.temperatureWeights(df, "domain", alpha = 1.0,
      budgetFrac = 0.5).collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(w1.values.toSet == Set(5000L), s"alpha=1 must gate uniformly: $w1")
    // alpha = 0.5 flattens: the head's keep-RATE drops below the tails'
    val w5 = Curation.temperatureWeights(df, "domain", alpha = 0.5,
      budgetFrac = 0.5).collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(w5("head") < w5("tailA") && w5("tailA") == w5("tailB"), s"$w5")
    // weights still sum to 1 and the sample is the hash-gated subset
    val kept = Curation.temperatureSample(df, "doc_id", "domain",
      alpha = 0.5, budgetFrac = 0.5)
    val gate = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = rows.filter { case (id, d) =>
      spark.range(1).select(Curation.hashBucket(lit(id), 10000)).head.getLong(0) < w5(d)
    }.map(_._1).toSet
    assert(gate == expected)
  }

  test("dsir: target-like docs outrank off-distribution; deterministic; blank unscored") {
    import spark.implicits._
    // raw corpus: half "medical" phrasing, half "legalese"; target corpus
    // is medical-only — DSIR must lift the medical half
    val med = Seq("patient trial dose outcome", "clinical patient cohort dose",
      "trial dose outcome response", "patient cohort dose outcome")
    val law = Seq("party of the first part", "herein the party agrees",
      "the first part thereof", "agreement between party counsel")
    val raw = (med ++ law).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val target = Seq((100L, "patient trial dose outcome response"),
      (101L, "clinical patient cohort dose")).toDF("doc_id", "text")
    val w = Curation.dsirWeights(raw, "doc_id", "text", target, "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val medIds = med.indices.map(_.toLong)
    val lawIds = law.indices.map(i => (i + med.length).toLong)
    assert(medIds.map(w).min > lawIds.map(w).max,
      s"every medical doc must outweigh every legal doc: $w")
    // top-half selection is exactly the medical half
    val sel = Curation.dsirSample(raw, "doc_id", "text", target, "text",
      k = med.length).select("doc_id").as[Long].collect().toSet
    assert(sel == medIds.toSet)
    // layout invariance: weights are a pure function of the data
    val w2 = Curation.dsirWeights(raw.repartition(7), "doc_id", "text",
      target.repartition(3), "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w == w2)
    // blank docs: reported, unscored — and never selected
    val wBlank = Curation.dsirWeights(
      raw.unionByName(Seq((999L, "   ")).toDF("doc_id", "text")),
      "doc_id", "text", target, "text")
      .filter(col("doc_id") === 999L).collect()
    assert(wBlank.length == 1 && wBlank(0).getLong(1) == 0L && wBlank(0).isNullAt(2))
    // the xxhash64 SCALE flavor (cheap codegen mix instead of md5 digest)
    // makes the same selection on this separable corpus, deterministically
    val selScale = Curation.dsirSample(raw, "doc_id", "text", target, "text",
      k = med.length, scaleHash = true).select("doc_id").as[Long].collect().toSet
    assert(selScale == medIds.toSet,
      s"scale-hash flavor must select the medical half: $selScale")
    val wS1 = Curation.dsirWeights(raw, "doc_id", "text", target, "text",
      scaleHash = true).collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val wS2 = Curation.dsirWeights(raw.repartition(5), "doc_id", "text",
      target, "text", scaleHash = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(wS1 == wS2)
  }

  test("dsir scale-hash flavor agrees with the oracle flavor on the fixture corpus") {
    val docs = Tables.documents(spark, sf)
    val target = docs.filter(col("source").isin("src0", "src1"))
    def top(scale: Boolean): Set[Long] =
      Curation.dsirSample(docs, "doc_id", "text", target, "text", k = 50,
        scaleHash = scale).select("doc_id").collect().map(_.getLong(0)).toSet
    val (md5Sel, xxSel) = (top(false), top(true))
    // bucketing noise moves boundary docs; the selected set must still be
    // substantially the same distribution pick
    val overlap = (md5Sel & xxSel).size.toDouble / 50.0
    assert(overlap >= 0.7, s"hash flavors diverged: overlap $overlap")
  }
  test("nfcNormalize folds decomposed sequences; ASCII and nulls pass through") {
    import spark.implicits._
    val composed = "caf\u00e9"        // U+00E9
    val decomposed = "cafe\u0301"     // e + combining acute
    val df = Seq(Some(composed), Some(decomposed), Some("plain"), None)
      .toDF("s")
      .select(graft.functions.ArrayMath.nfcNormalize(col("s")).as("n"))
    val got = df.collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    assert(got(0) == composed)
    assert(got(1) == composed, "decomposed must fold to the composed form")
    assert(got(2) == "plain")
    assert(got(3) == null)
    // post-NFC fingerprints of canonically-equal texts agree (the dedup
    // property the kernel exists for)
    val fps = Seq(composed, decomposed).toDF("s")
      .select(md5(graft.functions.ArrayMath.nfcNormalize(col("s")))).distinct()
    assert(fps.count() == 1)
  }

  test("containmentPairs catches a quoted doc that Jaccard structurally misses") {
    import spark.implicits._
    val small = "alpha beta gamma delta epsilon zeta eta theta"
    val big = ("completely unrelated opening with many extra tokens here " +
      "that dilute the union badly and then the quote follows " + small +
      " and a long unrelated tail keeps diluting the union even more " +
      "with yet more filler tokens until jaccard is tiny")
    val df = Seq((1L, small), (2L, big), (3L, "an unrelated third document"))
      .toDF("doc_id", "text")
    val cont = graft.ops.Dedup.containmentPairs(df, "doc_id", "text",
      shingleSize = 3, minContainment = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the small doc is fully contained (every 3-shingle of it appears in big)
    assert(cont.exists { case (a, b, c) => a == 1L && b == 2L && c == 1.0 },
      s"expected (1 contained-in 2, 1.0), got ${cont.toSeq}")
    // the reverse direction is NOT contained
    assert(!cont.exists { case (a, b, _) => a == 2L && b == 1L })
    // symmetric Jaccard on the same pair stays far below any dedup bar
    val jac = graft.ops.Dedup.ngramJaccardPairs(df, "doc_id", "text",
      shingleSize = 3, minJaccard = 0.5)
    assert(jac.isEmpty, "Jaccard at 0.5 must miss the quoted-containment pair")
  }

  test("dropContained keeps one survivor under mutual containment, drops quoted docs") {
    import spark.implicits._
    val small = "alpha beta gamma delta epsilon zeta eta theta"
    val big = ("opening filler tokens before the quotation starts now " + small +
      " and trailing filler continues for a while after the quote ends")
    val df = Seq(
      (1L, small), (2L, big),
      (5L, "twin document with identical text body"),
      (6L, "twin document with identical text body"),
      (7L, "an unrelated survivor document entirely")).toDF("doc_id", "text")
    val kept = graft.ops.Dedup.dropContained(df, "doc_id", "text",
      shingleSize = 3, minContainment = 0.9)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // 1 is quoted inside 2 -> dropped; twins 5/6 are mutually contained ->
    // exactly the min-id survives; 7 untouched
    assert(kept == Seq(2L, 5L, 7L), s"got $kept")
  }

  test("containment guarded prefix plan is LOSSLESS vs the plain plan") {
    // the ngramJaccardPairs guarantee, asymmetric flavor: the contained-
    // side prefix + B-side size filter must return EXACTLY the
    // inverted-index result on the documents fixture (which plants
    // near-duplicates and quoted spans)
    val docs = Tables.documents(spark, sf)
    def pairs(g: Option[Boolean]) =
      graft.ops.Dedup.containmentPairs(docs, "doc_id", "text",
        shingleSize = 3, minContainment = 0.3, skewGuard = g)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = pairs(Some(false))
    assert(plain.nonEmpty)
    assert(pairs(Some(true)) == plain)
  }

  test("containment auto-routes a boilerplate corpus and bounds its candidates") {
    import spark.implicits._
    // every doc = unique body + the SAME boilerplate sentence: the shared
    // shingles have df = #docs, the plain plan's inverted-index join
    // would emit C(200,2)*2 rows on each hot shingle
    val n = 200
    val boiler = "subscribe to our newsletter for updates today"
    val docs = (1 to n).map(i =>
      (i.toLong, s"story$i begins$i uniquely$i with$i content$i about$i topic$i " +
        s"then$i more$i detail$i follows$i here$i " + boiler))
      .toDF("doc_id", "text")
    def usesPrefixPlan(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.toString.contains("sorted_intersect_count")
    val auto = graft.ops.Dedup.containmentPairs(docs, "doc_id", "text",
      shingleSize = 3, minContainment = 0.8, skewMaxDf = 50L)
    assert(usesPrefixPlan(auto), "df=200 boilerplate must route to the prefix plan")
    // no doc is contained in another (unique bodies dominate every set)
    assert(auto.isEmpty)
    assert(graft.ops.Dedup.containmentPairs(docs, "doc_id", "text",
      shingleSize = 3, minContainment = 0.8, skewGuard = Some(false)).isEmpty)
    // the skew-proofness claim, asserted directly: the hot shingles order
    // LAST per doc and never enter a prefix, so the candidate frame is
    // EMPTY — vs the plain plan's ~C(200,2)*2*|boiler shingles| hot rows
    val hashed = graft.ops.Dedup.containmentShingles(docs, "doc_id", "text", 3)
    val nCands = graft.ops.Dedup
      .containmentCandidatesGuarded(hashed, 0.8).count()
    assert(nCands == 0, s"boilerplate corpus must generate no candidates, got $nCands")
  }

  test("dropContainedFixpoint restores chain victims greedy loses") {
    import spark.implicits._
    // A ⊂ B (containment 1.0), B mostly ⊂ C (0.88), A ⊄ C (0.0): at
    // t=0.85 greedy drops BOTH A and B — A's content vanishes though no
    // survivor contains it; the fixpoint keeps A because its only
    // container B is itself dropped by C
    val aToks = (1 to 12).map(i => s"a$i").mkString(" ")
    val bToks = aToks + " " + (1 to 90).map(i => s"b$i").mkString(" ")
    val cToks = (1 to 90).map(i => s"b$i").mkString(" ") + " " +
      (1 to 312).map(i => s"c$i").mkString(" ")
    val df = Seq((1L, aToks), (2L, bToks), (3L, cToks)).toDF("doc_id", "text")
    val cont = graft.ops.Dedup.containmentPairs(df, "doc_id", "text",
      shingleSize = 3, minContainment = 0.85)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cont == Set((1L, 2L), (2L, 3L)), s"chain premise broken: $cont")
    val greedy = graft.ops.Dedup.dropContained(df, "doc_id", "text",
      shingleSize = 3, minContainment = 0.85)
      .select("doc_id").as[Long].collect().toSet
    val fix = graft.ops.Dedup.dropContainedFixpoint(df, "doc_id", "text",
      shingleSize = 3, minContainment = 0.85)
      .select("doc_id").as[Long].collect().toSet
    assert(greedy == Set(3L), s"greedy: $greedy")
    assert(fix == Set(1L, 3L), s"fixpoint: $fix")
  }

  test("dropContainedFixpoint property: matches the sequential rank rule") {
    // reference semantics: process docs by rank (shingle count desc, id
    // asc); keep unless contained >= t in an ALREADY-KEPT doc. Checked on
    // the documents fixture at a low threshold so real chains form.
    val docs = Tables.documents(spark, sf)
    val t = 0.3
    val sized = graft.ops.Dedup.containmentPairsSized(
      docs, "doc_id", "text", 3, t)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number](3).longValue, r.getAs[Number](4).longValue)).toSeq
    val szOf = (sized.map(p => (p._1, p._3)) ++ sized.map(p => (p._2, p._4))).toMap
    // containers per contained doc, restricted to strictly higher rank
    val containers = sized
      .filter { case (a, b, sa, sb) => sb > sa || (sb == sa && b < a) }
      .groupBy(_._1).map { case (a, ps) => (a, ps.map(_._2).toSet) }
    val ranked = szOf.toSeq.sortBy { case (id, sz) => (-sz, id) }
    val kept = scala.collection.mutable.Set[Long]()
    ranked.foreach { case (id, _) =>
      if (!containers.getOrElse(id, Set.empty).exists(kept)) kept += id
    }
    val allIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = allIds -- (szOf.keySet -- kept)
    val got = graft.ops.Dedup.dropContainedFixpoint(docs, "doc_id", "text",
      shingleSize = 3, minContainment = t)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected,
      s"fixpoint mismatch: extra=${got -- expected} missing=${expected -- got}")
    // the defining property, asserted directly: no survivor is contained
    // (>= t, higher rank) in another survivor; every dropped doc IS
    // contained in a survivor
    sized.filter { case (a, b, sa, sb) => sb > sa || (sb == sa && b < a) }
      .foreach { case (a, b, _, _) =>
        if (got(b)) assert(!got(a), s"survivor $a contained in survivor $b")
      }
    (szOf.keySet -- got).foreach { a =>
      assert(containers.getOrElse(a, Set.empty).exists(got),
        s"dropped $a has no surviving container")
    }
  }

  // test-local ISO-BMFF box assembler for hand-built corruption /
  // version-variant streams the fixture encoder can't produce
  private def mp4box(typ: String)(body: java.io.ByteArrayOutputStream => Unit): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    body(o)
    val p = o.toByteArray
    val out = new java.io.ByteArrayOutputStream(p.length + 8)
    def b32(v: Long): Unit = {
      out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
      out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
    }
    b32(p.length + 8L); typ.foreach(c => out.write(c.toInt)); out.write(p)
    out.toByteArray
  }
  private def be32(o: java.io.ByteArrayOutputStream, v: Long): Unit = {
    o.write(((v >> 24) & 0xff).toInt); o.write(((v >> 16) & 0xff).toInt)
    o.write(((v >> 8) & 0xff).toInt); o.write((v & 0xff).toInt)
  }
  private def cc4(o: java.io.ByteArrayOutputStream, s: String): Unit =
    s.foreach(c => o.write(c.toInt))
  private def find4cc(b: Array[Byte], typ: String): Int = {
    val t = typ.getBytes("US-ASCII")
    (0 to b.length - 4).find(i => b(i) == t(0) && b(i + 1) == t(1) &&
      b(i + 2) == t(2) && b(i + 3) == t(3)).get
  }

  test("MP4 box walk: round trip exact, run-length expansion, skips, largesize") {
    import graft.functions.Mp4Kernel
    val mp4 = Mp4Kernel.encodeMp4(320, 180, 3, 5)
    val p = Mp4Kernel.meta(mp4)
    assert(p != null, "fixture MP4 must parse")
    assert(p.getUTF8String(0).toString == "isom")
    assert(p.getInt(1) == 1200, "timescale 600*(5%4+1)") // seed=5
    // deltas (5+7i)%100+1 = 6,13,20 → movie/media duration 39
    assert(p.getLong(2) == 39L && p.getInt(3) == 1)
    val t0 = p.getArray(4).getStruct(0, 9)
    assert(t0.getInt(0) == 1 && t0.getUTF8String(1).toString == "vide" &&
      t0.getUTF8String(2).toString == "avc1")
    assert(t0.getInt(3) == 320 && t0.getInt(4) == 180)
    assert(t0.getInt(5) == 1200 && t0.getLong(6) == 39L && t0.getInt(7) == 3)
    val samples = t0.getArray(8)
    val wantSizes = Array(105, 116, 127) // (5+11i)%900+100
    val wantDeltas = Array(6, 13, 20)
    (0 until 3).foreach { i =>
      val sm = samples.getStruct(i, 2)
      assert(sm.getInt(0) == wantSizes(i) && sm.getInt(1) == wantDeltas(i))
    }
    // run-length stts: 3×10 then 1×5 coalesces to TWO runs the walker
    // must expand back out to four per-sample deltas
    val rl = Mp4Kernel.encode(64, 64, 600,
      Array(10, 10, 10, 5), Array(1, 2, 3, 4))
    val sttsAt = find4cc(rl, "stts")
    assert(((rl(sttsAt + 8) & 0xff) << 24 | (rl(sttsAt + 9) & 0xff) << 16 |
      (rl(sttsAt + 10) & 0xff) << 8 | (rl(sttsAt + 11) & 0xff)) == 2,
      "encoder coalesced to 2 runs")
    val prl = Mp4Kernel.meta(rl)
    assert(prl != null)
    val trl = prl.getArray(4).getStruct(0, 9)
    assert(trl.getInt(7) == 4 && prl.getLong(2) == 35L)
    assert((0 until 4).map(trl.getArray(8).getStruct(_, 2).getInt(1)) ==
      Seq(10, 10, 10, 5))
    // spec-sanctioned skips: an unknown box between mdat and moov, a
    // largesize (size==1) form, and a size==0 to-end-of-file tail box
    val ftypLen = 24
    val free = mp4box("free")(o => o.write(new Array[Byte](8)))
    assert(Mp4Kernel.meta(
      mp4.take(ftypLen) ++ free ++ mp4.drop(ftypLen)) != null,
      "unknown top-level box skips")
    val largeFree = {
      val o = new java.io.ByteArrayOutputStream()
      be32(o, 1); cc4(o, "free"); be32(o, 0); be32(o, 16)
      o.toByteArray
    }
    assert(Mp4Kernel.meta(
      mp4.take(ftypLen) ++ largeFree ++ mp4.drop(ftypLen)) != null,
      "largesize box honored")
    val zeroTail = {
      val o = new java.io.ByteArrayOutputStream()
      be32(o, 0); cc4(o, "free")
      o.toByteArray
    }
    assert(Mp4Kernel.meta(mp4 ++ zeroTail) != null,
      "size==0 last top-level box extends to EOF")
  }

  test("MP4 box walk: version-1 full boxes and every corruption NULL") {
    import graft.functions.Mp4Kernel
    val mp4 = Mp4Kernel.encodeMp4(320, 180, 3, 5)
    // strictness
    assert(Mp4Kernel.meta(null) == null)
    assert(Mp4Kernel.meta(Array.empty[Byte]) == null)
    assert(Mp4Kernel.meta(mp4.dropRight(1)) == null, "truncated moov child")
    assert(Mp4Kernel.meta(mp4 :+ 0x00.toByte) == null, "trailing junk")
    val badMagic = mp4.clone(); badMagic(4) = 'x'.toByte
    assert(Mp4Kernel.meta(badMagic) == null, "no ftyp magic")
    val moovAt = find4cc(mp4, "moov") - 4
    assert(Mp4Kernel.meta(mp4.take(moovAt)) == null, "missing moov")
    // stsz internal inconsistency: bump its sample_count field
    val stszAt = find4cc(mp4, "stsz")
    val badStsz = mp4.clone()
    badStsz(stszAt + 15) = (badStsz(stszAt + 15) + 1).toByte
    assert(Mp4Kernel.meta(badStsz) == null, "stsz count vs payload size")
    // stts/stsz disagreement: retime the first run to cover one fewer
    // sample (valid boxes, totals disagree)
    val sttsAt = find4cc(mp4, "stts")
    val badTotals = mp4.clone()
    assert(badTotals(sttsAt + 15) == 1) // first run count low byte
    badTotals(sttsAt + 15) = 0 // now claims 0 samples in run 0
    assert(Mp4Kernel.meta(badTotals) == null, "stts total != stsz count")
    // sample-count bomb: hand-built uniform stsz + one huge stts run
    // must reject BEFORE sizing any array
    val bomb = {
      val stsd = mp4box("stsd") { o =>
        be32(o, 0); be32(o, 1)
        be32(o, 86); cc4(o, "avc1"); o.write(new Array[Byte](78))
      }
      val stts = mp4box("stts") { o =>
        be32(o, 0); be32(o, 1); be32(o, 1000000); be32(o, 1)
      }
      val stsz = mp4box("stsz") { o =>
        be32(o, 0); be32(o, 100); be32(o, 1000000)
      }
      val stbl = mp4box("stbl") { o => o.write(stsd); o.write(stts); o.write(stsz) }
      val minf = mp4box("minf")(o => o.write(stbl))
      val hdlr = mp4box("hdlr") { o =>
        be32(o, 0); be32(o, 0); cc4(o, "vide"); o.write(new Array[Byte](12)); o.write(0)
      }
      val mdhd = mp4box("mdhd") { o =>
        be32(o, 0); be32(o, 0); be32(o, 0); be32(o, 600); be32(o, 1000000)
        o.write(0x55); o.write(0xc4); o.write(0); o.write(0)
      }
      val mdia = mp4box("mdia") { o => o.write(mdhd); o.write(hdlr); o.write(minf) }
      val tkhd = mp4box("tkhd") { o =>
        be32(o, 7); be32(o, 0); be32(o, 0); be32(o, 1); be32(o, 0); be32(o, 1000000)
        o.write(new Array[Byte](16))
        Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000).foreach(v => be32(o, v))
        be32(o, 64L << 16); be32(o, 64L << 16)
      }
      val trak = mp4box("trak") { o => o.write(tkhd); o.write(mdia) }
      val mvhd = mp4box("mvhd") { o =>
        be32(o, 0); be32(o, 0); be32(o, 0); be32(o, 600); be32(o, 1000000)
        be32(o, 0x10000); o.write(1); o.write(0); o.write(0); o.write(0)
        o.write(new Array[Byte](8))
        Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000).foreach(v => be32(o, v))
        o.write(new Array[Byte](24)); be32(o, 2)
      }
      val moov = mp4box("moov") { o => o.write(mvhd); o.write(trak) }
      val ftyp = mp4box("ftyp") { o => cc4(o, "isom"); be32(o, 0x200) }
      ftyp ++ moov
    }
    assert(Mp4Kernel.meta(bomb) == null, "1M-sample claim rejects (cap 65536)")
    // version-1 layouts (64-bit times): hand-build v1 mvhd/tkhd/mdhd
    val v1 = {
      val stsd = mp4box("stsd") { o =>
        be32(o, 0); be32(o, 1)
        be32(o, 86); cc4(o, "hvc1"); o.write(new Array[Byte](78))
      }
      val stts = mp4box("stts") { o =>
        be32(o, 0); be32(o, 1); be32(o, 2); be32(o, 25)
      }
      val stsz = mp4box("stsz") { o =>
        be32(o, 0); be32(o, 0); be32(o, 2); be32(o, 11); be32(o, 13)
      }
      val stbl = mp4box("stbl") { o => o.write(stsd); o.write(stts); o.write(stsz) }
      val minf = mp4box("minf")(o => o.write(stbl))
      val hdlr = mp4box("hdlr") { o =>
        be32(o, 0); be32(o, 0); cc4(o, "vide"); o.write(new Array[Byte](12)); o.write(0)
      }
      val mdhd = mp4box("mdhd") { o =>
        be32(o, 0x01000000L) // version 1
        be32(o, 0); be32(o, 0); be32(o, 0); be32(o, 0) // 64-bit times
        be32(o, 90000) // timescale
        be32(o, 0); be32(o, 50) // 64-bit duration
        o.write(0x55); o.write(0xc4); o.write(0); o.write(0)
      }
      val mdia = mp4box("mdia") { o => o.write(mdhd); o.write(hdlr); o.write(minf) }
      val tkhd = mp4box("tkhd") { o =>
        be32(o, 0x01000007L) // version 1, flags 7
        be32(o, 0); be32(o, 0); be32(o, 0); be32(o, 0) // 64-bit times
        be32(o, 9) // track_id
        be32(o, 0) // reserved
        be32(o, 0); be32(o, 50) // 64-bit duration
        o.write(new Array[Byte](16))
        Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000).foreach(v => be32(o, v))
        be32(o, 1920L << 16); be32(o, 1080L << 16)
      }
      val trak = mp4box("trak") { o => o.write(tkhd); o.write(mdia) }
      val mvhd = mp4box("mvhd") { o =>
        be32(o, 0x01000000L) // version 1
        be32(o, 0); be32(o, 0); be32(o, 0); be32(o, 0)
        be32(o, 90000)
        be32(o, 0); be32(o, 50)
        be32(o, 0x10000); o.write(1); o.write(0); o.write(0); o.write(0)
        o.write(new Array[Byte](8))
        Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000).foreach(v => be32(o, v))
        o.write(new Array[Byte](24)); be32(o, 2)
      }
      val moov = mp4box("moov") { o => o.write(mvhd); o.write(trak) }
      val ftyp = mp4box("ftyp") { o => cc4(o, "mp42"); be32(o, 0) }
      ftyp ++ moov
    }
    val pv1 = Mp4Kernel.meta(v1)
    assert(pv1 != null, "version-1 full boxes must parse")
    assert(pv1.getUTF8String(0).toString == "mp42" && pv1.getInt(1) == 90000 &&
      pv1.getLong(2) == 50L)
    val tv1 = pv1.getArray(4).getStruct(0, 9)
    assert(tv1.getInt(0) == 9 && tv1.getUTF8String(2).toString == "hvc1" &&
      tv1.getInt(3) == 1920 && tv1.getInt(4) == 1080 &&
      tv1.getInt(5) == 90000 && tv1.getLong(6) == 50L && tv1.getInt(7) == 2)
    // bad version rejects
    val badVer = v1.clone()
    val mvhdAt = find4cc(v1, "mvhd")
    badVer(mvhdAt + 4) = 2.toByte
    assert(Mp4Kernel.meta(badVer) == null, "mvhd version 2 rejects")
  }

  test("mp4Samples catalog: arithmetic exact; corrupt payload contributes no rows; dispatch routes mp4") {
    import spark.implicits._
    val good = (1L to 6L).map(i => (i, i.toInt)).toDF("media_id", "k")
      .select(col("media_id"),
        Multimodal.mp4Bytes(lit(100), lit(80), (col("k") % 5 + 1).cast("int"),
          (col("k") % 17).cast("int")).as("bytes"))
    val corrupt = Seq((99L, Array[Byte](1, 2, 3))).toDF("media_id", "bytes")
    val rows = Multimodal.mp4Samples(good.union(corrupt))
      .orderBy("media_id", "sample_idx").collect()
    assert(rows.map(_.getLong(0)).distinct.toSeq == (1L to 6L),
      "corrupt payload contributes no rows")
    rows.foreach { r =>
      val id = r.getLong(0); val seed = (id % 17).toInt
      val i = r.getInt(13)
      assert(r.getString(7) == "avc1" &&
        r.getInt(14) == (seed + 11 * i) % 900 + 100 &&
        r.getInt(15) == (seed + 7 * i) % 100 + 1)
    }
    // unified feature dispatch claims the payload as mp4 (sniffed, not
    // labeled), and a ftyp-magic-but-corrupt payload falls to the stub
    val mp4 = graft.functions.Mp4Kernel.encodeMp4(320, 180, 3, 5)
    val media = Seq((1L, mp4), (2L, mp4.dropRight(1)))
      .toDF("media_id", "bytes")
      .select(col("media_id"), col("bytes"),
        struct(lit("application/octet-stream").as("format"),
          lit(0).as("width"), lit(0).as("height"),
          length(col("bytes")).cast("long").as("nBytes")).as("meta"))
    val got = Multimodal.extractFeatures(spark, media).collect()
      .map(m => m.media_id -> m).toMap
    assert(got(1L).decoded == "mp4" && got(2L).decoded == "stub")
    // feature lanes: duration_sec = 39/1200, geometry, totals
    val f = got(1L).features
    assert(math.abs(f(0) - 39f / 1200f) < 1e-6 && f(1) == 1f &&
      f(2) == 320f && f(3) == 180f && f(4) == 3f &&
      f(5) == (105 + 116 + 127).toFloat && f(7) == 127f)
  }

  test("image dHash: PNG bit-exact vs closed form, JPEG vs ImageIO reference, junk NULL") {
    import graft.functions.{DHashKernel, JpegPixelKernel, PngEncodeKernel}
    // PNG lane: planted gradient pixel (x,y) = ((c0+x+y)%256, …) — replay
    // the documented integer pipeline independently here
    val (w, h, r0, g0, b0) = (23, 17, 130, 40, 200)
    def refHash(luma: (Int, Int) => Int): Long = {
      val grid = Array.tabulate(8, 9) { (y, x) =>
        luma((x.toLong * w / 9).toInt, (y.toLong * h / 8).toInt)
      }
      var bits = 0L
      for (y <- 0 until 8; x <- 0 until 8)
        if (grid(y)(x + 1) > grid(y)(x)) bits |= 1L << (y * 8 + x)
      bits
    }
    val pngRef = refHash { (sx, sy) =>
      (299 * ((r0 + sx + sy) % 256) + 587 * ((g0 + sx + sy) % 256) +
        114 * ((b0 + sx + sy) % 256)) / 1000
    }
    val png = PngEncodeKernel.encode(w, h, r0, g0, b0)
    assert(DHashKernel.dhash64(png) == pngRef, "PNG dHash must replay closed form")
    // JPEG lane: DCT-lossy pixels, so the reference is the JDK's own
    // independently decoded raster, not the planted arithmetic
    val jpg = JpegPixelKernel.encodeGradient(32, 24, 60, 120, 180)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpg))
    val jw = img.getWidth; val jh = img.getHeight
    val jpegRef = {
      val grid = Array.tabulate(8, 9) { (y, x) =>
        val rgb = img.getRGB((x.toLong * jw / 9).toInt, (y.toLong * jh / 8).toInt)
        (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
          114 * (rgb & 0xff)) / 1000
      }
      var bits = 0L
      for (y <- 0 until 8; x <- 0 until 8)
        if (grid(y)(x + 1) > grid(y)(x)) bits |= 1L << (y * 8 + x)
      bits
    }
    assert(DHashKernel.dhash64(jpg) == jpegRef, "JPEG dHash vs ImageIO raster")
    // robustness property dHash exists for: the SAME image re-encoded
    // lossily (PNG gradient → JPEG) stays within a small Hamming ball
    val pngAsJpeg = {
      val bi = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        bi.setRGB(x, y, (((r0 + x + y) % 256) << 16) |
          (((g0 + x + y) % 256) << 8) | ((b0 + x + y) % 256))
      val o = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(bi, "jpg", o)
      o.toByteArray
    }
    val d = java.lang.Long.bitCount(
      DHashKernel.dhash64(pngAsJpeg) ^ pngRef)
    assert(d <= 6, s"re-encoded image drifted $d bits (expected near-dup)")
    // no real decoder claims it → NULL, never a guess
    assert(DHashKernel.dhash64(null) == null)
    assert(DHashKernel.dhash64(Array[Byte](1, 2, 3, 4)) == null)
    assert(DHashKernel.dhash64(png.dropRight(3)) == null, "corrupt PNG")
  }

  test("hamming64Pairs banding == brute force; NULL signatures never band") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = rnd.nextLong()
    def flip(v: Long, n: Int): Long = {
      var out = v
      rnd.shuffle((0 until 64).toList).take(n).foreach(b => out ^= 1L << b)
      out
    }
    val sigs = Seq[(Long, java.lang.Long)](
      (1L, base), (2L, flip(base, 1)), (3L, flip(base, 3)),
      (4L, flip(base, 20)), (5L, rnd.nextLong()), (6L, base),
      (7L, null)).toDF("id", "sig")
    val got = graft.ops.Dedup.hamming64Pairs(sigs, "id", "sig", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force over the same MATERIALIZED signatures (no recompute —
    // the rng state moved on)
    val m = sigs.filter(col("sig").isNotNull).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, sa) <- m; (b, sb) <- m if a < b
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 3
    } yield (a, b, d)).toSet
    assert(got == brute, s"banding must be complete at d<=3: $got vs $brute")
    assert(!got.exists(t => t._1 == 7L || t._2 == 7L))
    // distance > 3 banding is incomplete by construction — the require
    // names the contract instead of silently losing recall
    intercept[IllegalArgumentException] {
      graft.ops.Dedup.hamming64Pairs(sigs, "id", "sig", 10)
    }
  }

  test("WARC walk: framing exact incl. header-shaped payloads; corruptions NULL; file source reads") {
    import graft.functions.WarcKernel
    // payload contains text that LOOKS like a record start — only
    // Content-Length framing parses this correctly
    val trap = "before\r\n\r\nWARC/1.0\r\nWARC-Type: fake\r\n\r\nafter"
    val multi = "héllo wörld" // multi-byte: Content-Length counts BYTES
    val file = WarcKernel.encodeRecord("http://a/1", "2024-01-01T00:00:00Z", trap) ++
      WarcKernel.encodeRecord("http://a/2", "2024-01-02T00:00:00Z", multi) ++
      WarcKernel.encodeRecord("http://a/3", "2024-01-03T00:00:00Z", "")
    val recs = WarcKernel.parse(file)
    assert(recs != null && recs.numElements() == 3)
    val r0 = recs.getStruct(0, 6)
    assert(r0.getUTF8String(0).toString == "conversion" &&
      r0.getUTF8String(1).toString == "urn:graft:http://a/1" &&
      r0.getUTF8String(2).toString == "http://a/1" &&
      r0.getUTF8String(3).toString == "2024-01-01T00:00:00Z" &&
      r0.getLong(4) == trap.getBytes("UTF-8").length &&
      new String(r0.getBinary(5), "UTF-8") == trap,
      "header-shaped payload must not derail the walk")
    val r1 = recs.getStruct(1, 6)
    assert(r1.getLong(4) == multi.getBytes("UTF-8").length &&
      r1.getLong(4) > multi.length && // bytes, not chars
      new String(r1.getBinary(5), "UTF-8") == multi)
    assert(recs.getStruct(2, 6).getLong(4) == 0L, "empty payload allowed")
    // payload is BINARY: a response-style record carrying invalid-UTF-8
    // bytes (e.g. gzip) must round-trip byte-exact, not be mangled
    // through a string type
    val gzLike = Array[Byte](0x1f, 0x8b.toByte, 0x08, 0x00, 0xff.toByte,
      0xfe.toByte, 0x80.toByte, 0x00)
    val binRec = {
      val header = ("WARC/1.0\r\nWARC-Type: response\r\n" +
        s"Content-Length: ${gzLike.length}\r\n\r\n").getBytes("US-ASCII")
      header ++ gzLike ++ "\r\n\r\n".getBytes("US-ASCII")
    }
    val binParsed = WarcKernel.parse(binRec)
    assert(binParsed != null &&
      java.util.Arrays.equals(binParsed.getStruct(0, 6).getBinary(5), gzLike),
      "binary payload must survive byte-exact")
    // encoder header-injection guard
    intercept[IllegalArgumentException] {
      WarcKernel.encodeRecord("http://x\r\nWARC-Type: evil", "2024", "p")
    }
    // Unicode digits in Content-Length are corrupt, not a number
    val uniLen = ("WARC/1.0\r\nWARC-Type: conversion\r\n" +
      "Content-Length: ١٢\r\n\r\nhello cruel\r\n\r\n").getBytes("UTF-8")
    assert(WarcKernel.parse(uniLen) == null, "non-ASCII digits reject")
    // strictness
    assert(WarcKernel.parse(null) == null)
    assert(WarcKernel.parse(file.dropRight(1)) == null, "lost final CRLF")
    assert(WarcKernel.parse(file ++ Array[Byte]('x')) == null, "trailing junk")
    assert(WarcKernel.parse("WARC/2.0\r\n\r\n\r\n\r\n".getBytes) == null,
      "unknown version")
    val noColon = "WARC/1.0\r\nWARC-Type conversion\r\nContent-Length: 0\r\n\r\n\r\n\r\n"
    assert(WarcKernel.parse(noColon.getBytes) == null, "colon-less header")
    val noLen = "WARC/1.0\r\nWARC-Type: conversion\r\n\r\n\r\n\r\n"
    assert(WarcKernel.parse(noLen.getBytes) == null, "missing Content-Length")
    val badLen = "WARC/1.0\r\nWARC-Type: conversion\r\nContent-Length: 99\r\n\r\nhi\r\n\r\n"
    assert(WarcKernel.parse(badLen.getBytes) == null, "payload shorter than claimed")
    // production file source: write a real .wet file, read via binaryFile
    val dir = java.nio.file.Files.createTempDirectory("graft-warc").toFile
    try {
      java.nio.file.Files.write(
        new java.io.File(dir, "crawl-00000.wet").toPath, file)
      val got = graft.sources.Sources
        .warcFiles(spark, dir.getAbsolutePath + "/*.wet")
        .orderBy("record_idx").collect()
      assert(got.length == 3 &&
        got.map(_.getAs[String]("target_uri")).toSeq ==
          Seq("http://a/1", "http://a/2", "http://a/3") &&
        got.forall(_.getAs[String]("path").endsWith("crawl-00000.wet")))
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
    // a corrupt file contributes no rows through the explode wrapper
    import spark.implicits._
    val mixed = Seq((1, file), (2, file.dropRight(2))).toDF("fid", "bytes")
    val rows = graft.sources.Sources.warcRecords(mixed, "bytes", Seq("fid"))
      .select("fid").distinct().as[Int].collect().toSet
    assert(rows == Set(1), "malformed file contributes no rows")
  }

  test("WARC streaming ingest: binaryFile stream → record explode, exactly the on-disk records") {
    import graft.functions.WarcKernel
    val dir = java.nio.file.Files.createTempDirectory("graft-warc-stream")
    try {
      java.nio.file.Files.write(dir.resolve("a.wet"),
        WarcKernel.encodeRecord("http://s/1", "2024-01-01T00:00:00Z", "one") ++
          WarcKernel.encodeRecord("http://s/2", "2024-01-01T00:00:00Z", "two"))
      java.nio.file.Files.write(dir.resolve("b.wet"),
        WarcKernel.encodeRecord("http://s/3", "2024-01-01T00:00:00Z", "three"))
      // the parse expression is stateless, so the SAME warcRecords plan
      // runs under Structured Streaming without modification — the
      // micro-batch ingest shape a continuously-crawling corpus uses
      val stream = spark.readStream
        .format("binaryFile")
        .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
        .load(dir.toString)
        .select(org.apache.spark.sql.functions.col("path"),
          org.apache.spark.sql.functions.col("content"))
      val q = graft.sources.Sources.warcRecords(stream, "content", Seq("path"))
        .writeStream.outputMode("append").format("memory")
        .queryName("warc_stream")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      val got = spark.table("warc_stream")
        .orderBy("target_uri").collect()
      assert(got.map(_.getAs[String]("target_uri")).toSeq ==
        Seq("http://s/1", "http://s/2", "http://s/3"))
      assert(got.map(r => new String(r.getAs[Array[Byte]]("payload"), "UTF-8"))
        .toSeq == Seq("one", "two", "three"))
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
    }
  }

  test("mp4FrameSample: exact tick-in-span selection, sample 0 always kept") {
    import spark.implicits._
    // deltas [5,5,10,3,30] → pts [0,5,10,20,23]; interval 10 selects a
    // span iff a multiple of 10 lands in [pts, pts+delta): idx 0 (tick
    // 0), idx 2 (tick 10), idx 3 (tick 20), idx 4 (ticks 30/40/50) —
    // idx 1's span [5,10) contains no tick
    val mp4 = graft.functions.Mp4Kernel.encode(64, 64, 600,
      Array(5, 5, 10, 3, 30), Array(1, 2, 3, 4, 5))
    val media = Seq((1L, mp4)).toDF("media_id", "bytes")
    val got = graft.ops.Multimodal.mp4FrameSample(
        graft.ops.Multimodal.mp4Samples(media), intervalTicks = 10L)
      .select("sample_idx", "pts").orderBy("sample_idx")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got == Seq((0, 0L), (2, 10L), (3, 20L), (4, 23L)), got.toString)
  }

  test("corpusDiff: churn-only rows, null-safe text compare") {
    import spark.implicits._
    val prev = Seq[(Long, String)]((1L, "same"), (2L, "old"), (3L, "gone"),
      (4L, null), (5L, null)).toDF("doc_id", "text")
    val cur = Seq[(Long, String)]((1L, "same"), (2L, "new"), (6L, "fresh"),
      (4L, null), (5L, "now text")).toDF("doc_id", "text")
    val got = graft.ops.Curation.corpusDiff(prev, cur, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "changed", 3L -> "removed", 6L -> "added",
      5L -> "changed"),
      s"unchanged (incl. null==null at id 4) must produce no row: $got")
  }

  test("audio fingerprint: bit-exact vs closed form, container-churn invariant, NULLs") {
    import graft.functions.WavPcmKernel
    val wav = WavPcmKernel.encodeTone(2, 8000, 16, 100) // n = 200 samples
    val n = 200
    val ref = {
      val e = new Array[Long](64)
      for (i <- 0 until n)
        e((i.toLong * 64 / n).toInt) += math.abs(((i * 1031 + 7) % 65536) - 32768)
      var bits = 0L
      for (k <- 1 until 64) if (e(k) > e(k - 1)) bits |= 1L << k
      bits
    }
    assert(WavPcmKernel.fingerprint64(wav) == ref)
    assert((ref & 1L) == 0L, "bit 0 is always clear")
    // container churn (an extra LIST chunk) must not move the signature
    val extra = {
      val chunk = "LIST".getBytes("US-ASCII") ++
        Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes("US-ASCII")
      val out = wav ++ chunk
      // patch RIFF size (+12)
      val riffSz = java.nio.ByteBuffer.wrap(out, 4, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val old = riffSz.getInt
      java.nio.ByteBuffer.wrap(out, 4, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(old + 12)
      out
    }
    assert(WavPcmKernel.fingerprint64(extra) == ref,
      "trailing metadata chunk must not change the fingerprint")
    // NULLs: undecodable, zero samples
    assert(WavPcmKernel.fingerprint64(null) == null)
    assert(WavPcmKernel.fingerprint64(Array[Byte](1, 2, 3)) == null)
    assert(WavPcmKernel.fingerprint64(
      WavPcmKernel.encodeTone(1, 8000, 16, 0)) == null,
      "zero-sample stream has no signature")
  }

  test("hamming64Degrees clique-collapse == brute-force pair degrees") {
    import spark.implicits._
    val base = 0x0123456789abcdefL
    // repeated signatures (cliques), near signatures, a loner, a null
    val sigs = Seq[(Long, java.lang.Long)](
      (1L, base), (2L, base), (3L, base), // clique of 3
      (4L, base ^ 1L), (5L, base ^ 3L), // d=1 and d=2 from base
      (6L, ~base), (7L, null)).toDF("id", "sig")
    val got = graft.ops.Dedup.hamming64Degrees(sigs, "id", "sig", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m = Seq((1L, base), (2L, base), (3L, base),
      (4L, base ^ 1L), (5L, base ^ 3L), (6L, ~base))
    val brute = m.map { case (a, sa) =>
      a -> m.count { case (b, sb) =>
        b != a && java.lang.Long.bitCount(sa ^ sb) <= 2
      }.toLong
    }.filter(_._2 >= 1).toMap
    assert(got == brute, s"$got vs $brute")
    assert(!got.contains(7L), "null signature gets no degree row")
    assert(!got.contains(6L), "loner has no row (degree 0)")
  }

  test("removeBoilerplateLines: drops only high-df lines, keeps order/blanks/nulls") {
    import spark.implicits._
    // footer appears in 4 docs (> maxDf 2) → boilerplate; "rare" in 2 →
    // survives; blank lines always survive (even though every doc has
    // one); doc 5 is ONLY boilerplate; doc 6 has null text
    val docs = Seq[(Long, String)](
      (1L, "alpha\nFOOTER\n\nbody one"),
      (2L, "beta\n  FOOTER  \n\nbody two"), // trims to the same key
      (3L, "gamma\nFOOTER\nrare line"),
      (4L, "delta\nFOOTER\nrare line"),
      (5L, "FOOTER")).toDF("doc_id", "text")
      .union(Seq((6L, null: String)).toDF("doc_id", "text"))
    val got = graft.ops.TextOps
      .removeBoilerplateLines(docs, "doc_id", "text", maxDf = 2L)
      .orderBy("doc_id").collect()
    val byId = got.map(r => r.getLong(0) ->
      (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(byId(1L) == (("alpha\n\nbody one", 4L, 1L)))
    // the UNtrimmed original line is dropped when its trimmed key is
    // boilerplate, and surviving lines keep their original spelling
    assert(byId(2L) == (("beta\n\nbody two", 4L, 1L)))
    assert(byId(3L) == (("gamma\nrare line", 3L, 1L)), "df=2 line survives")
    assert(byId(4L) == (("delta\nrare line", 3L, 1L)))
    assert(byId(5L) == (("", 1L, 1L)), "all-boilerplate doc → empty text")
    assert(byId(6L) == ((null, 0L, 0L)), "null text passes through")
  }

  test("rocAuc: perfect, inverted, all-tied, and the half-credit tie case") {
    import spark.implicits._
    def auc(rows: (Double, Long)*) = graft.ops.Classifier.rocAuc(
      rows.toSeq.toDF("s", "y"), "s", "y").head().getDouble(2)
    assert(auc((0.8, 1L), (0.9, 1L), (0.1, 0L), (0.2, 0L)) == 1.0)
    assert(auc((0.8, 0L), (0.9, 0L), (0.1, 1L), (0.2, 1L)) == 0.0)
    assert(auc((0.5, 1L), (0.5, 1L), (0.5, 0L), (0.5, 0L)) == 0.5,
      "all-tied scores must midrank to exactly 0.5")
    assert(auc((0.9, 1L), (0.5, 1L), (0.5, 0L), (0.1, 0L)) == 0.875,
      "a tied pos/neg pair earns exactly half credit")
    // single-class input: AUC undefined
    assert(graft.ops.Classifier.rocAuc(
      Seq((0.4, 1L), (0.6, 1L)).toDF("s", "y"), "s", "y").head().isNullAt(2))
  }

  test("averagePrecision: perfect ranking, tie blocks, no-positive NULL") {
    import spark.implicits._
    def ap(rows: (Double, Long)*) = graft.ops.Classifier.averagePrecision(
      rows.toSeq.toDF("s", "y"), "s", "y").head()
    assert(ap((0.8, 1L), (0.9, 1L), (0.1, 0L), (0.2, 0L)).getDouble(2) == 1.0)
    // blocks desc: P(0.9)=1 term 1; tie block at 0.5: P=2/3 term 2/3
    val tied = ap((0.9, 1L), (0.5, 1L), (0.5, 0L), (0.1, 0L))
    assert(math.abs(tied.getDouble(2) - 5.0 / 6) < 1e-12,
      s"tie block must contribute atomically: ${tied.getDouble(2)}")
    assert(ap((0.9, 0L), (0.1, 0L)).isNullAt(2))
  }

  test("classificationReport: hand confusion; hallucinated and missed classes kept") {
    import spark.implicits._
    val rows = Seq.fill(3)(("a", "a")) ++ Seq(("a", "b")) ++
      Seq.fill(2)(("b", "b")) ++ Seq(("c", "b")) ++ Seq(("a", "d"))
    val got = graft.ops.Classifier.classificationReport(
        rows.toDF("pred", "label"), "pred", "label")
      .orderBy("category").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("a", "b", "c", "d"),
      "union of predicted and actual classes")
    val a = got("a")
    assert(a.getLong(1) == 5L && a.getLong(2) == 3L && a.getLong(3) == 3L)
    assert(a.getDouble(4) == 0.6 && a.getDouble(5) == 1.0 &&
      a.getDouble(6) == 0.75)
    assert(got("b").getDouble(4) == 1.0 && got("b").getDouble(5) == 0.5)
    assert(got("c").getDouble(4) == 0.0 && got("c").isNullAt(5),
      "hallucinated class: precision 0, recall undefined")
    assert(got("d").isNullAt(4) && got("d").getDouble(5) == 0.0,
      "never-predicted class: precision undefined, recall 0")
    assert(got.values.forall(_.getDouble(7) == 5.0 / 8))
  }

  test("isotonicCalibration: PAV pooling matches hand fit; full cascade; out-of-range excluded") {
    import spark.implicits._
    // 4 bins (width .25) with rates (0.2, 0.6, 0.4, 0.8): PAV pools the
    // middle violation → (0.2, 0.5, 0.5, 0.8)
    def mk(binMid: Double, n: Int, pos: Int) =
      (0 until n).map(i => (binMid, if (i < pos) 1L else 0L))
    val df = (mk(0.1, 5, 1) ++ mk(0.3, 5, 3) ++ mk(0.6, 5, 2) ++
      mk(0.9, 5, 4)).toDF("s", "y")
    val got = graft.ops.Classifier.isotonicCalibration(df, "s", "y", 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got == Map(0L -> ((5L, 1L, 0.2)), 1L -> ((5L, 3L, 0.5)),
      2L -> ((5L, 2L, 0.5)), 3L -> ((5L, 4L, 0.8))))
    // fully decreasing input pools to one global block
    val dec = (mk(0.1, 10, 9) ++ mk(0.5, 10, 5) ++ mk(0.9, 10, 1))
      .toDF("s", "y")
    val g2 = graft.ops.Classifier.isotonicCalibration(dec, "s", "y", 4)
      .collect()
    assert(g2.forall(_.getDouble(3) == 0.5))
    // out-of-range scores excluded; monotone output certified
    val noisy = df.union(Seq((-0.5, 1L), (1.5, 1L)).toDF("s", "y"))
    val g3 = graft.ops.Classifier.isotonicCalibration(noisy, "s", "y", 4)
      .orderBy("bin").collect()
    assert(g3.map(_.getLong(1)).sum == 20L)
    assert(g3.map(_.getDouble(3)).sliding(2).forall(p =>
      p.length < 2 || p(0) <= p(1)))
    intercept[IllegalArgumentException] {
      graft.ops.Classifier.isotonicCalibration(df, "s", "y", 1)
    }
  }

  test("calibrationReport: hand-computed bins, ECE, and the score=1.0 clip") {
    import spark.implicits._
    val df = Seq((0.05, 0L), (0.15, 0L), (0.15, 1L), (0.95, 1L), (1.0, 1L))
      .toDF("score", "label")
    val rows = graft.ops.Classifier.calibrationReport(df, "score", "label")
      .orderBy("bin").collect()
    val byBin = rows.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5)))).toMap
    assert(byBin.keySet == Set(0L, 1L, 9L), "empty bins are absent")
    assert(byBin(0L) == ((1L, 0L, 0.05, 0.0, 0.05)))
    assert(byBin(1L) == ((2L, 1L, 0.15, 0.5, 0.35)))
    assert(byBin(9L) == ((2L, 2L, 0.975, 1.0, 0.025)),
      "score=1.0 must clip into the top bin")
    // ECE = (|0-0.05| + |1-0.30| + |2-1.95|)/5 = 0.16, same on every row
    rows.foreach(r => assert(r.getDouble(6) == 0.16, s"ece ${r.getDouble(6)}"))
    // NULL score rows are excluded, not binned
    val withNull = df.union(Seq((Option.empty[Double], Option(1L)))
      .toDF("score", "label"))
    assert(graft.ops.Classifier.calibrationReport(withNull, "score", "label")
      .agg(sum("n")).head().getLong(0) == 5L)
    // out-of-range scores are excluded (the [0,1] precondition enforced),
    // never binned into a negative or clamped bin
    val withOut = df.union(Seq((-0.2, 0L), (1.5, 1L)).toDF("score", "label"))
    val cleaned = graft.ops.Classifier.calibrationReport(withOut, "score",
      "label")
    assert(cleaned.agg(sum("n")).head().getLong(0) == 5L)
    assert(cleaned.agg(min("bin")).head().getLong(0) >= 0L)
    cleaned.orderBy("bin").collect().foreach(r =>
      assert(r.getDouble(6) == 0.16, "ECE unchanged by excluded rows"))
  }
}
