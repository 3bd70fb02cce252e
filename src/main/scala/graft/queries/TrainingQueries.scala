package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.ops.{Curation, Dedup, Html, Multimodal, Robots, Similarity, TextOps, WebGraph}

/** Training-data pipeline operator inventory (the north-star extensions
  * beyond the reference surface, BASELINE.json): deduplication, similarity
  * search, text analysis, multimodal columns — each over the `documents` /
  * `embeddings` fixture tables, each with a DuckDB oracle where the
  * computation is SQL-expressible (hash-based sketches use xxhash64, which
  * DuckDB lacks → driver records the weaker rows-only check for those).
  */
object TrainingQueries {

  private val stops = TextOps.stopwordList.map(s => s"'$s'").mkString(", ")

  /** Per-JVM scratch root for queries exercising persisted-index
    * lifecycles (q89/q111): one parent directory, deleted recursively on
    * JVM exit — repeated bench/correctness sweeps no longer accumulate
    * full index copies in /tmp.
    */
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      try {
        val walk = Files.walk(root)
        try walk.sorted(Comparator.reverseOrder[Path]())
          .forEach(p => { Files.deleteIfExists(p); () })
        finally walk.close()
      } catch { case _: Exception => () } // best-effort on exit
    }))
    root
  }

  /** A fresh directory under [[scratchRoot]]. */
  private def scratchDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix).toString

  /** Banded-oracle harness for seeded ANN queries (the q47 pattern, ANN
    * edition): the oracle-visible output is the EXACT brute-force
    * top-`exactK` per query — q28's DuckDB-matched cosine spelling,
    * self-matches excluded, (cosine desc, vec_id) tiebreak — plus one
    * global verdict column asserting the seeded ANN result's recall@k
    * against the exact top-k clears `recallFloor`. DuckDB independently
    * replays the exact rows and asserts TRUE, so the cross-engine check
    * covers both the exact reference AND (via the verdict) the sketch.
    * The exact side is |queries|·N dot products — bounded verification
    * work over a small fixed query set, not the ANN serving path.
    *
    * `ann` must expose (query_id, vec_id); `queries` (query_id, query_vec).
    */
  private def annWithExactVerdict(emb: org.apache.spark.sql.DataFrame,
                                  queries: org.apache.spark.sql.DataFrame,
                                  ann: org.apache.spark.sql.DataFrame,
                                  k: Int, exactK: Int, recallFloor: Double,
                                  verdictCol: String): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__cos").desc, col("vec_id"))
    val exact = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("__cos", Similarity.cosine(col("embedding"), col("query_vec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= math.max(k, exactK))
      .select(col("query_id"), col("rank"), col("vec_id"), col("__cos"))
    val exactTopK = exact.filter(col("rank") <= k)
    val hits = ann.select(col("query_id"), col("vec_id"))
      .join(exactTopK.select(col("query_id"), col("vec_id")),
        Seq("query_id", "vec_id"), "left_semi")
      .agg(count(lit(1)).as("__hits"))
    val total = exactTopK.agg(count(lit(1)).as("__total"))
    val verdict = hits.crossJoin(total)
      .select((col("__hits") >= col("__total") * lit(recallFloor)).as(verdictCol))
    exact.filter(col("rank") <= exactK)
      .crossJoin(broadcast(verdict)) // 1-row verdict frame
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("__cos"), 6).as("cosine"), col(verdictCol))
      // local sort only: a global orderBy's range-sample re-ran the
      // post-exchange rank/verdict subtree (the harness compare is
      // row-order-agnostic)
      .sortWithinPartitions("query_id", "rank")
  }

  /** DuckDB side of [[annWithExactVerdict]]: exact top-`exactK` per query
    * (rank on the UNROUNDED cosine, ties toward the smaller vec_id — the
    * same ordering Spark uses) + the verdict as a TRUE literal.
    */
  private def annOracleSql(exactK: Int, verdictCol: String,
                           corpusWhere: String = ""): String =
    s"""SELECT query_id, rank, vec_id, cosine, TRUE AS $verdictCol FROM (
       |  SELECT q.vec_id AS query_id, e.vec_id,
       |    ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cosine,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
       |               e.vec_id) AS rank
       |  FROM embeddings e, embeddings q
       |  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id$corpusWhere
       |) WHERE rank <= $exactK ORDER BY query_id, rank""".stripMargin

  // normalized text, DuckDB spelling (regexp_replace needs the 'g' flag)
  private val normSql = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
  private val toksSql = s"string_split_regex(trim(text), '\\s+')"

  /** DuckDB spelling of the md5→48-bit hash (the Sketches h48 recipe):
    * explicit hex-digit arithmetic over a column named `m` holding the
    * md5 hex string (DuckDB has no conv()); constants are the exact
    * powers of 16. Shared by every oracle that replays the hash
    * (q175 KMV, q193 CMS, q206 weighted sample, q220 NDCG).
    */
  private val h48Sql: String = (1 to 12).map { p =>
    val pw = java.math.BigInteger.valueOf(16L).pow(12 - p)
    s"(STRPOS('0123456789abcdef', m[$p]) - 1) * $pw"
  }.mkString(" + ")

  /** [[h48Sql]] over an arbitrary md5-hex expression instead of a staged
    * column `m` — for contexts that cannot interpose a subquery stage
    * (the q289 recursive walk CTE). The md5 is re-evaluated per hex
    * digit; fine on skinny planes, stage it through `m` elsewhere.
    */
  private def h48InlineSql(md5Expr: String): String = (1 to 12).map { p =>
    val pw = java.math.BigInteger.valueOf(16L).pow(12 - p)
    s"(STRPOS('0123456789abcdef', ($md5Expr)[$p]) - 1) * $pw"
  }.mkString(" + ")

  /** One Dawid–Skene hard-EM round as DuckDB CTEs (the q288 oracle —
    * [[graft.ops.Profile.dawidSkene]] verbatim): confusion counts off the
    * `prev` assignment, add-one-smoothed ln-of-exact-integer scores
    * through DECIMAL(18,12), argmax with ties toward the smaller class.
    * Expects `ann(i, j, l)`, `cls(k)`, `g(kn, n)` CTEs in scope.
    */
  private def dsRoundSql(prev: String, idx: Int): String =
    s"""conf_$idx AS (
       |  SELECT a.j, m.k, a.l, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM ann a JOIN $prev m ON m.i = a.i GROUP BY 1, 2, 3),
       |njk_$idx AS (
       |  SELECT j, k, CAST(SUM(c) AS BIGINT) AS njk
       |  FROM conf_$idx GROUP BY 1, 2),
       |pr_$idx AS (
       |  SELECT k, CAST(COUNT(*) AS BIGINT) AS nk FROM $prev GROUP BY 1),
       |sc_$idx AS (
       |  SELECT a.i, c.k,
       |    SUM(CAST(ln(CAST(COALESCE(cf.c, 0) + 1 AS DOUBLE))
       |      - ln(CAST(COALESCE(nj.njk, 0) + g.kn AS DOUBLE))
       |      AS DECIMAL(18,12))) AS s
       |  FROM ann a CROSS JOIN cls c
       |  LEFT JOIN conf_$idx cf ON cf.j = a.j AND cf.k = c.k
       |    AND cf.l = a.l
       |  LEFT JOIN njk_$idx nj ON nj.j = a.j AND nj.k = c.k
       |  CROSS JOIN g GROUP BY 1, 2),
       |as_$idx AS (SELECT i, k FROM (
       |  SELECT s.i, s.k, ROW_NUMBER() OVER (PARTITION BY s.i ORDER BY
       |      s.s + CAST(ln(CAST(COALESCE(p.nk, 0) + 1 AS DOUBLE))
       |        - ln(CAST(g.n + g.kn AS DOUBLE)) AS DECIMAL(18,12)) DESC,
       |      s.k) AS rn
       |  FROM sc_$idx s LEFT JOIN pr_$idx p ON p.k = s.k CROSS JOIN g)
       |  WHERE rn = 1)""".stripMargin

  /** One WordPiece training round as DuckDB CTEs (the q295/q296
    * oracles — [[graft.ops.Wordpiece.train]] verbatim): current symbol
    * and pair counts off the `prev` delimited-vocab CTE, the
    * 10^18-scaled floored likelihood argmax with (pc desc, l, r) ties,
    * then the greedy left-to-right fuse via trailing-delimiter
    * replace() (non-overlapping left-to-right replacement IS the
    * bpeMergePair rewrite on the chr(1)-delimited `sym␁sym␁…␁`
    * spelling — a control character, so a corpus token containing a
    * literal '|' can never split a symbol; see the bleuScore
    * separator convention).
    */
  private def wpRoundSql(prev: String, idx: Int): String =
    s"""sym_$idx AS MATERIALIZED (
       |  SELECT s, CAST(SUM(cnt) AS BIGINT) AS sc FROM (
       |    SELECT unnest(list_filter(string_split(v, chr(1)),
       |      x -> x <> '')) AS s, cnt
       |    FROM $prev) GROUP BY s),
       |pr_$idx AS MATERIALIZED (
       |  SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS pc FROM (
       |    SELECT cnt, unnest(toks[1:len(toks)-1]) AS l,
       |      unnest(toks[2:len(toks)]) AS r
       |    FROM (SELECT cnt, list_filter(string_split(v, chr(1)),
       |            x -> x <> '') AS toks FROM $prev)
       |    WHERE len(toks) >= 2)
       |  GROUP BY l, r),
       |mg_$idx AS MATERIALIZED (
       |  SELECT l, r, pc,
       |    CAST((pc::HUGEINT * 1000000000000000000)
       |      // (sl.sc::HUGEINT * sr.sc::HUGEINT) AS BIGINT) AS score
       |  FROM pr_$idx JOIN sym_$idx sl ON sl.s = pr_$idx.l
       |  JOIN sym_$idx sr ON sr.s = pr_$idx.r
       |  ORDER BY score DESC, pc DESC, l, r LIMIT 1),
       |v_$idx AS MATERIALIZED (
       |  SELECT replace(p.v, m.l || chr(1) || m.r || chr(1),
       |      m.l || m.r || chr(1))
       |    AS v, p.cnt
       |  FROM $prev p CROSS JOIN mg_$idx m)""".stripMargin

  /** Shared head for the WordPiece oracles: word histogram over the
    * corpus and the char-delimited initial vocab plane.
    */
  private val wpHeadSql: String =
    s"""wc AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(string_split($normSql, ' ')) AS w
       |    FROM documents) t
       |  WHERE w <> '' GROUP BY w),
       |v_0 AS MATERIALIZED (
       |  SELECT regexp_replace(w, '(.)', '\\1' || chr(1), 'g') AS v, cnt
       |  FROM wc)""".stripMargin

  /** One MMR pick round as DuckDB CTEs (the q300 oracle —
    * [[graft.ops.Retrieval.mmrSelect]] verbatim, λ = 1/2): remaining
    * candidates, max cosine to the selected set, the 6-dp-rounded
    * score argmax with id ties. Expects `cand(q, id, rel, v)` and
    * `sel_${idx-1}` in scope.
    */
  private def mmrRoundSql(idx: Int): String = {
    val prev = s"sel_${idx - 1}"
    s"""rem_$idx AS MATERIALIZED (
       |  SELECT c.q, c.id, c.rel, c.v FROM cand c
       |  WHERE NOT EXISTS (SELECT 1 FROM $prev s
       |    WHERE s.q = c.q AND s.id = c.id)),
       |mx_$idx AS MATERIALIZED (
       |  SELECT r.q, r.id,
       |    MAX(list_cosine_similarity(r.v, s.v)) AS mxc
       |  FROM rem_$idx r JOIN $prev s ON s.q = r.q GROUP BY 1, 2),
       |pk_$idx AS MATERIALIZED (
       |  SELECT q, id, v, score FROM (
       |    SELECT r.q, r.id, r.v,
       |      ROUND(0.5 * r.rel - 0.5 * COALESCE(m.mxc, 0.0), 6) AS score,
       |      ROW_NUMBER() OVER (PARTITION BY r.q ORDER BY
       |        ROUND(0.5 * r.rel - 0.5 * COALESCE(m.mxc, 0.0), 6) DESC,
       |        r.id) AS rn
       |    FROM rem_$idx r LEFT JOIN mx_$idx m
       |      ON m.q = r.q AND m.id = r.id) t
       |  WHERE rn = 1),
       |sel_$idx AS MATERIALIZED (
       |  SELECT q, id, v FROM $prev
       |  UNION ALL SELECT q, id, v FROM pk_$idx)""".stripMargin
  }

  /** One k-truss peel round as DuckDB CTEs (the q290 oracle —
    * [[graft.ops.WebGraph.kTruss]] verbatim): per-edge triangle support
    * over the surviving canonical edge set `prev`, then the < kMin
    * deletion. Replaying more rounds than the fixpoint needs is a no-op
    * by construction.
    */
  private def ktRoundSql(prev: String, idx: Int, kMin: Int): String =
    s"""sup_$idx AS MATERIALIZED (
       |  SELECT e.a, e.b, CAST(COUNT(*) AS BIGINT) AS sup
       |  FROM $prev e
       |  JOIN (SELECT a AS u, b AS v FROM $prev
       |        UNION ALL SELECT b, a FROM $prev) u1 ON u1.u = e.a
       |  JOIN (SELECT a AS u, b AS v FROM $prev
       |        UNION ALL SELECT b, a FROM $prev) u2
       |    ON u2.u = e.b AND u2.v = u1.v
       |  GROUP BY 1, 2),
       |e_$idx AS MATERIALIZED (
       |  SELECT a, b FROM sup_$idx WHERE sup >= $kMin)""".stripMargin

  /** DuckDB replay of the q279 unigram-LM trainer (Kudo ACL'18 hard-EM,
    * the [[graft.ops.Unigram]] algorithm verbatim): planted 6-word
    * corpus, substring seed (all singles + top-10 multis), then per EM
    * round one recursive-CTE Viterbi (enumerate segmentations, best by
    * score DESC / path ASC — equal to the trainer's DP, see q279),
    * word-weighted piece counts with the single-char floor, prune to 5
    * multis, exact DECIMAL(18,12) ln re-score. Shared by q279 (model
    * table) and q280 (encode under the final scores).
    */
  private val unigramTrainCtes: String = {
    def emRound(r: Int, prev: String) =
      s"""vm_$r AS (
         |  SELECT s.w, s.st, s.en, s.piece, v.score
         |  FROM sub s JOIN $prev v ON v.piece = s.piece),
         |seg_$r(w, pos, score, path) AS (
         |  SELECT w, 0, CAST(0 AS DECIMAL(18,12)), '' FROM words
         |  UNION ALL
         |  SELECT g.w, v.en, CAST(g.score + v.score AS DECIMAL(18,12)),
         |    CASE WHEN g.path = '' THEN v.piece
         |         ELSE g.path || ' ' || v.piece END
         |  FROM seg_$r g JOIN vm_$r v ON v.w = g.w AND v.st = g.pos + 1),
         |best_$r AS (
         |  SELECT w, path FROM (
         |    SELECT g.w, g.path, ROW_NUMBER() OVER (PARTITION BY g.w
         |        ORDER BY g.score DESC, g.path) AS rn
         |    FROM seg_$r g WHERE g.pos = len(g.w)) x
         |  WHERE rn = 1),
         |vc_$r AS (
         |  SELECT piece, CAST(SUM(cnt) AS BIGINT) AS vc
         |  FROM (SELECT ww.cnt, unnest(string_split(b.path, ' ')) AS piece
         |        FROM best_$r b JOIN words ww ON ww.w = b.w) t
         |  GROUP BY piece),
         |cn_$r AS (
         |  SELECT v.piece,
         |    CASE WHEN len(v.piece) = 1
         |      THEN greatest(COALESCE(c.vc, 0), 1)
         |      ELSE COALESCE(c.vc, 0) END AS pcnt
         |  FROM $prev v LEFT JOIN vc_$r c ON c.piece = v.piece),
         |kp_$r AS (
         |  SELECT piece, pcnt FROM (
         |    SELECT piece, pcnt,
         |      ROW_NUMBER() OVER (PARTITION BY (len(piece) > 1)
         |        ORDER BY pcnt DESC, piece) AS rk
         |    FROM cn_$r WHERE pcnt > 0) x
         |  WHERE len(piece) = 1 OR rk <= 5),
         |sc_$r AS (
         |  SELECT piece, pcnt,
         |    CAST(ln(CAST(pcnt AS DOUBLE)
         |      / CAST(SUM(pcnt) OVER () AS DOUBLE)) AS DECIMAL(18,12))
         |      AS score
         |  FROM kp_$r)""".stripMargin
    s"""base AS (
       |  SELECT ['banana','bandana','ananas','nana','band','dana']
       |    [CAST(doc_id % 6 AS INT) + 1] AS w
       |  FROM documents),
       |words AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
       |          FROM base GROUP BY w),
       |st0 AS (SELECT w, cnt,
       |          unnest(generate_series(1, len(w))) AS st
       |        FROM words),
       |sub0 AS (SELECT w, cnt, st,
       |           unnest(generate_series(1, least(3, len(w) - st + 1)))
       |             AS ln
       |         FROM st0),
       |sub AS (SELECT w, st, st + ln - 1 AS en,
       |          substring(w, st, ln) AS piece, cnt
       |        FROM sub0),
       |seedc AS (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS pcnt
       |          FROM sub GROUP BY piece),
       |kp_0 AS (
       |  SELECT piece, pcnt FROM (
       |    SELECT piece, pcnt,
       |      ROW_NUMBER() OVER (PARTITION BY (len(piece) > 1)
       |        ORDER BY pcnt DESC, piece) AS rk
       |    FROM seedc) x
       |  WHERE len(piece) = 1 OR rk <= 10),
       |sc_0 AS (
       |  SELECT piece, pcnt,
       |    CAST(ln(CAST(pcnt AS DOUBLE)
       |      / CAST(SUM(pcnt) OVER () AS DOUBLE)) AS DECIMAL(18,12))
       |      AS score
       |  FROM kp_0),
       |${emRound(1, "sc_0")},
       |${emRound(2, "sc_1")}""".stripMargin
  }

  /** q121/q124 planted-URL fixture (Spark spelling) — synthesized per
    * doc with uppercase hosts, default ports, tracking params (one
    * uppercase), fragments, shared paths, a spam domain, and
    * PSL-exercising hosts (multi-level ICANN, PRIVATE-section,
    * wildcard-rule and exception-rule). Branch order is significant and
    * mirrored in [[urlFixtureCte]].
    */
  private def urlFixture =
    concat(lit("https://"),
      when(col("doc_id") % 17 === 0, lit("Spam.BadSite.com"))
        .when(col("doc_id") % 19 === 0, lit("WWW.CK"))
        .when(col("doc_id") % 13 === 0, lit("News.A.ne.JP"))
        .when(col("doc_id") % 11 === 0,
          concat(col("source"), lit(".GitHub.IO")))
        .when(col("doc_id") % 7 === 0, lit("Shop.Foo.CK"))
        .otherwise(concat(lit("WWW."), col("source"), lit(".Example.com"))),
      when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
      lit("/Article/"), (col("doc_id") % 50).cast("string"),
      lit("?id="), (col("doc_id") % 50).cast("string"),
      lit("&utm_source=feed"),
      when(col("doc_id") % 6 === 0, lit("&UTM_Medium=Mail")).otherwise(lit("")),
      when(col("doc_id") % 2 === 1, lit("&ref=abc")).otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit("&gclid=XYZ")).otherwise(lit("")),
      when(col("doc_id") % 4 === 0, lit("#Section2")).otherwise(lit("")))

  /** The same fixture as a DuckDB CTE body (embedded pre-stripMargin). */
  private val urlFixtureCte: String =
    """u AS (
      |  SELECT doc_id,
      |    'https://' ||
      |    CASE WHEN doc_id % 17 = 0 THEN 'Spam.BadSite.com'
      |         WHEN doc_id % 19 = 0 THEN 'WWW.CK'
      |         WHEN doc_id % 13 = 0 THEN 'News.A.ne.JP'
      |         WHEN doc_id % 11 = 0 THEN source || '.GitHub.IO'
      |         WHEN doc_id % 7 = 0 THEN 'Shop.Foo.CK'
      |         ELSE 'WWW.' || source || '.Example.com' END ||
      |    CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END ||
      |    '/Article/' || CAST(doc_id % 50 AS VARCHAR) ||
      |    '?id=' || CAST(doc_id % 50 AS VARCHAR) ||
      |    '&utm_source=feed' ||
      |    CASE WHEN doc_id % 6 = 0 THEN '&UTM_Medium=Mail' ELSE '' END ||
      |    CASE WHEN doc_id % 2 = 1 THEN '&ref=abc' ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN '&gclid=XYZ' ELSE '' END ||
      |    CASE WHEN doc_id % 4 = 0 THEN '#Section2' ELSE '' END AS url
      |  FROM documents
      |)"""

  /** q120/q125 language-ID projection (q24's marker formula): best
    * marker-count language over en/de/es/fr, CJK script override, else
    * unknown. Pure per-row work — the text column never leaves the
    * projection.
    */
  private def ccnetLangDf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val st = graft.functions.ArrayMath.textStats(col("text"))
    val scored = Seq("en" -> "s_en", "de" -> "s_de", "es" -> "s_es", "fr" -> "s_fr")
      .map { case (l2, f) =>
        struct(col(s"__st.$f").as("score"), lit(l2).as("lang"))
      }
    val best = greatest(scored: _*)
    docs.select(col("doc_id"), col("text"), st.as("__st"))
      .select(col("doc_id"),
        when(col("text").rlike("[\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}]"), "zh")
          .otherwise(when(best.getField("score") > 0, best.getField("lang"))
            .otherwise("unknown")).as("lang"))
  }

  /** q121/q125 URL-plane verdict over the [[urlFixture]] projection:
    * canonicalize → blocklist by registrable domain → canonical-URL
    * dedup (min-id survivor) → per-host cap in md5 order. Staged ranks —
    * each stage's window runs over the PREVIOUS stage's survivors only
    * (a rank over the full frame would count dropped rows and shift
    * every boundary). Only (doc_id, url-derived) columns ever shuffle.
    */
  private def urlPlaneDf(docs: org.apache.spark.sql.DataFrame,
                         cap: Int): org.apache.spark.sql.DataFrame = {
    import graft.ops.UrlOps
    val enriched = docs
      .select(col("doc_id"), urlFixture.as("__url"))
      .select(col("doc_id"),
        UrlOps.canonicalizeUrl(col("__url")).as("url_canon"),
        UrlOps.hostOf(col("__url")).as("host"),
        UrlOps.registrableDomain(col("__url")).as("domain"))
      .withColumn("blocked", col("domain") === "badsite.com")
    val s1 = enriched.filter(!col("blocked"))
      .withColumn("url_rank", row_number().over(
        Window.partitionBy(col("url_canon")).orderBy(col("doc_id"))))
    val s2 = s1.filter(col("url_rank") === 1)
      .withColumn("host_rank", row_number().over(
        Window.partitionBy(col("host"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
    enriched
      .join(s1.select(col("doc_id"), col("url_rank")), Seq("doc_id"), "left")
      .join(s2.select(col("doc_id"), col("host_rank")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("url_canon"), col("host"), col("domain"),
        col("blocked"),
        col("url_rank").cast("long").as("url_rank"),
        col("host_rank").cast("long").as("host_rank"),
        (coalesce(col("host_rank"), lit(cap + 1L)) <= cap).as("kept"))
  }

  /** DuckDB langid CTEs (lsc, p) — the oracle side of [[ccnetLangDf]],
    * spliced into q120/q125 (embedded pre-stripMargin).
    */
  private val langIdCte: String =
    """lsc AS (
      |  SELECT doc_id, text,
      |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |      x -> x IN ('the','and','of','to','is','in','that','it'))) AS s_en,
      |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |      x -> x IN ('der','die','das','und','ist','nicht','ein','zu'))) AS s_de,
      |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |      x -> x IN ('el','la','los','de','que','y','es','un'))) AS s_es,
      |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |      x -> x IN ('le','la','les','et','est','un','une','que'))) AS s_fr
      |  FROM documents
      |), p AS (
      |  SELECT doc_id, CASE
      |    WHEN regexp_matches(text, '[\p{Han}\p{Hiragana}\p{Katakana}]') THEN 'zh'
      |    WHEN s_fr > 0 AND s_fr >= s_es AND s_fr >= s_de AND s_fr >= s_en THEN 'fr'
      |    WHEN s_es > 0 AND s_es >= s_fr AND s_es >= s_de AND s_es >= s_en THEN 'es'
      |    WHEN s_en > 0 AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
      |    WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es AND s_de >= s_en THEN 'de'
      |    ELSE 'unknown' END AS lang
      |  FROM lsc
      |)"""

  /** DuckDB bigram-LM CTEs (t … nll) — the oracle side of
    * [[TextOps.bigramLmNll]] trained on the full corpus, ending in a
    * per-document (doc_id, n_bigrams, avg_nll) frame. Spliced into
    * q120/q125 (embedded pre-stripMargin).
    */
  private lazy val lmNllCte: String =
    s"""t AS (
       |  SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents
       |), bgd AS (
       |  SELECT doc_id,
       |    unnest([toks[i] FOR i IN range(1, len(toks))]) AS w1,
       |    unnest([toks[i+1] FOR i IN range(1, len(toks))]) AS w2
       |  FROM t WHERE len(toks) >= 2
       |), bg AS (
       |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
       |  FROM bgd GROUP BY 1, 2
       |), lc AS (
       |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bg GROUP BY 1
       |), v AS (
       |  SELECT COUNT(DISTINCT w) AS v FROM (
       |    SELECT unnest(string_split($normSql, ' ')) AS w FROM documents)
       |), scq AS (
       |  SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    SUM(CAST(ln(CAST(lc.c1 + v.v AS DOUBLE) / (bg.c12 + 1))
       |        AS DECIMAL(18,12))) AS s
       |  FROM bgd d
       |  JOIN bg ON bg.w1 = d.w1 AND bg.w2 = d.w2
       |  JOIN lc ON lc.w1 = d.w1
       |  CROSS JOIN v
       |  GROUP BY d.doc_id
       |), nll AS (
       |  SELECT doc.doc_id, COALESCE(scq.n_bigrams, 0) AS n_bigrams,
       |    ROUND(CAST(CAST(scq.s AS VARCHAR) AS DOUBLE)
       |      / CAST(scq.n_bigrams AS DOUBLE), 6) AS avg_nll
       |  FROM documents doc LEFT JOIN scq ON scq.doc_id = doc.doc_id
       |)"""

  /** DuckDB URL-plane CTEs (steps … s2r) — the oracle side of
    * [[urlPlaneDf]] up to the staged ranks; expects the [[urlFixtureCte]]
    * `u` frame upstream. Built with the SAME [[graft.ops.Psl]] regex
    * strings the Spark side compiles. Spliced into q121/q125 (embedded
    * pre-stripMargin).
    */
  private lazy val urlPlaneCte: String =
    """steps AS (
      |  SELECT doc_id, url,
      |    regexp_replace(url, '#.*$', '', 'g') AS s1
      |  FROM u
      |), st2 AS (
      |  SELECT doc_id, url,
      |    lower(regexp_extract(s1, '^([^/]*//[^/?#]*)', 1)) ||
      |      regexp_replace(s1, '^[^/]*//[^/?#]*', '', 'g') AS s2
      |  FROM steps
      |), st4 AS (
      |  SELECT doc_id, url,
      |    regexp_replace(regexp_replace(regexp_replace(
      |      regexp_replace(s2, '(?i)([?&])(utm_[a-z]+|fbclid|gclid)=[^&#]*',
      |                     '\1', 'g'),
      |      '\?&+', '?', 'g'), '&&+', '&', 'g'), '[?&]+$', '', 'g') AS s4
      |  FROM st2
      |), c AS (
      |  SELECT doc_id,
      |    regexp_replace(
      |      regexp_replace(s4, '(://[^/:?#]+):(80|443)([/?#]|$)',
      |                     '\1\3', 'g'),
      |      '^([a-z]+://[^/?#]+)/$', '\1', 'g') AS url_canon,
      |    lower(regexp_extract(url,
      |      '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)', 1)) AS host
      |  FROM st4
      |), e AS (
      |  SELECT doc_id, url_canon, host,
      |    """ + graft.ops.Psl.duckDomainCase("host") + """ AS domain
      |  FROM c
      |), eb AS (
      |  SELECT *, domain = 'badsite.com' AS blocked FROM e
      |), s1r AS (
      |  SELECT doc_id, ROW_NUMBER() OVER (
      |    PARTITION BY url_canon ORDER BY doc_id) AS url_rank
      |  FROM eb WHERE NOT blocked
      |), s2r AS (
      |  SELECT eb.doc_id, ROW_NUMBER() OVER (
      |    PARTITION BY eb.host
      |    ORDER BY md5(CAST(eb.doc_id AS VARCHAR)), eb.doc_id) AS host_rank
      |  FROM eb JOIN s1r ON s1r.doc_id = eb.doc_id
      |  WHERE s1r.url_rank = 1
      |)"""

  /** DuckDB NB-classifier CTEs (cn … csc) — the oracle side of
    * [[graft.ops.Classifier.nbScores]] (training replayed as counting);
    * names c-prefixed so they compose with the langid/LM CTEs in q125.
    * Spliced into q122/q125 (embedded pre-stripMargin).
    */
  private val nbCte: String =
    """cn AS (
      |  SELECT doc_id, source IN ('src0', 'src1') AS y,
      |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
      |  FROM documents
      |), ct AS (
      |  SELECT doc_id, y, string_split(nt, ' ') AS toks
      |  FROM cn WHERE LENGTH(nt) > 0
      |), cfeats AS (
      |  SELECT doc_id, y, unnest(list_concat(toks,
      |    [toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))])) AS g
      |  FROM ct
      |), cfb AS (
      |  SELECT doc_id, y,
      |    CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT) % 10000 AS b
      |  FROM cfeats
      |), ccnt AS (
      |  SELECT b, SUM(CASE WHEN y THEN 1 ELSE 0 END) AS pc,
      |         SUM(CASE WHEN y THEN 0 ELSE 1 END) AS nc
      |  FROM cfb GROUP BY 1
      |), ctot AS (
      |  SELECT (SELECT SUM(pc) FROM ccnt) AS ptot,
      |    (SELECT SUM(nc) FROM ccnt) AS ntot,
      |    (SELECT COUNT(*) FROM documents
      |       WHERE source IN ('src0', 'src1')) AS npos,
      |    (SELECT COUNT(*) FROM documents
      |       WHERE source NOT IN ('src0', 'src1')) AS nneg
      |), csc AS (
      |  SELECT cfb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_features,
      |    SUM(CAST(ln(ccnt.pc + 1.0) - ln(ctot.ptot + 10000.0)
      |           - ln(ccnt.nc + 1.0) + ln(ctot.ntot + 10000.0)
      |        AS DECIMAL(18,12))) AS s,
      |    MAX(ln(CAST(ctot.npos AS DOUBLE) / ctot.nneg)) AS prior
      |  FROM cfb JOIN ccnt ON ccnt.b = cfb.b CROSS JOIN ctot
      |  GROUP BY 1
      |)"""

  /** q159-q161 planted chat JSON (Spark spelling): REAL messages-format
    * JSON built from text substrings (fixture text is [a-z ]-only, so no
    * JSON escaping is in play — documented constraint of the plant, not
    * of the parser). Three shapes by doc_id%3: system+user+assistant /
    * four-turn multi-round / bare pair. Mirrored row-wise in
    * [[chatTurnsCte]].
    */
  private def chatFixture = {
    def t(a: Int, b: Int) = expr(s"substring(text, $a, $b)")
    def msg(role: String, content: org.apache.spark.sql.Column) =
      concat(lit("{\"role\":\"" + role + "\",\"content\":\""), content,
        lit("\"}"))
    when(col("doc_id") % 3 === 0, concat(lit("["),
        msg("system", lit("you are a helpful assistant")), lit(","),
        msg("user", t(1, 40)), lit(","),
        msg("assistant", t(41, 40)), lit("]")))
      .when(col("doc_id") % 3 === 1, concat(lit("["),
        msg("user", t(1, 30)), lit(","), msg("assistant", t(31, 30)),
        lit(","),
        msg("user", t(61, 30)), lit(","), msg("assistant", t(91, 30)),
        lit("]")))
      .otherwise(concat(lit("["),
        msg("user", t(1, 50)), lit(","), msg("assistant", t(51, 50)),
        lit("]")))
  }

  /** The planted chat turns as a DuckDB CTE (`t`), replayed directly
    * from arithmetic — no JSON functions in the oracle, so the Spark
    * side's REAL from_json parse is what the hash certifies.
    */
  private val chatTurnsCte: String =
    """t AS (
      |  SELECT doc_id, 0 AS turn_idx, 'system' AS role,
      |         'you are a helpful assistant' AS content
      |  FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL SELECT doc_id, 1, 'user', substr(text, 1, 40)
      |  FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL SELECT doc_id, 2, 'assistant', substr(text, 41, 40)
      |  FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL SELECT doc_id, 0, 'user', substr(text, 1, 30)
      |  FROM documents WHERE doc_id % 3 = 1
      |  UNION ALL SELECT doc_id, 1, 'assistant', substr(text, 31, 30)
      |  FROM documents WHERE doc_id % 3 = 1
      |  UNION ALL SELECT doc_id, 2, 'user', substr(text, 61, 30)
      |  FROM documents WHERE doc_id % 3 = 1
      |  UNION ALL SELECT doc_id, 3, 'assistant', substr(text, 91, 30)
      |  FROM documents WHERE doc_id % 3 = 1
      |  UNION ALL SELECT doc_id, 0, 'user', substr(text, 1, 50)
      |  FROM documents WHERE doc_id % 3 = 2
      |  UNION ALL SELECT doc_id, 1, 'assistant', substr(text, 51, 50)
      |  FROM documents WHERE doc_id % 3 = 2
      |)"""

  /** q162/q163 planted preference pairs (Spark spelling): prompt from
    * the text head (a literal SHARED prompt on id%10=7 — plus any
    * natural head collisions, which both engines group identically
    * since the fingerprint is COMPUTED, not assumed unique), chosen
    * from the middle, rejected cycling degenerate-copy / empty /
    * genuine by id%5. Mirrored in [[prefPairsCte]].
    */
  private def prefFixture: Seq[org.apache.spark.sql.Column] = Seq(
    when(col("doc_id") % 10 === 7, lit("please summarize the table"))
      .otherwise(expr("substring(text, 1, 40)")).as("prompt"),
    expr("substring(text, 41, 60)").as("chosen"),
    when(col("doc_id") % 5 === 0, expr("substring(text, 41, 60)"))
      .when(col("doc_id") % 5 === 1, lit(""))
      .otherwise(expr("substring(text, 101, 60)")).as("rejected"))

  private val prefPairsCte: String =
    """p AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 10 = 7 THEN 'please summarize the table'
      |         ELSE substr(text, 1, 40) END AS prompt,
      |    substr(text, 41, 60) AS chosen,
      |    CASE WHEN doc_id % 5 = 0 THEN substr(text, 41, 60)
      |         WHEN doc_id % 5 = 1 THEN ''
      |         ELSE substr(text, 101, 60) END AS rejected
      |  FROM documents
      |)"""

  /** q164/q165 planted markdown (Spark spelling): header, emphasis,
    * bullets, blockquote, inline code, a link AND an image (pairing +
    * `!`-prefix order bait), a fenced code block whose content must
    * survive unfenced, and the doc text split across intro/tail.
    * No stray `*`/`_` hazards — underscores are deliberately planted
    * INSIDE identifiers to pin the no-underscore-stripping rule.
    */
  private def mdFixture = concat(
    lit("# Title "), (col("doc_id") % 50).cast("string"),
    lit("\nintro "), expr("substring(text, 1, 40)"),
    lit(" with **bold** and *em*\n- item one\n- item "),
    (col("doc_id") % 9).cast("string"),
    lit("\n> quote "), (col("doc_id") % 7).cast("string"),
    lit("\n`x_"), (col("doc_id") % 5).cast("string"),
    lit("` and [link "), (col("doc_id") % 3).cast("string"),
    lit("](https://h"), ((col("doc_id") * 7 + 13) % 97).cast("string"),
    lit(".example.org/p/"), col("doc_id").cast("string"),
    lit(") ![alt "), (col("doc_id") % 4).cast("string"),
    lit("](img.png)\n```py\nlet v_"), (col("doc_id") % 3).cast("string"),
    lit(" = 1\n```\ntail: "), expr("substring(text, 41)"))

  /** q166 planted source-file fixture: license header cycling SPDX
    * (two comment styles) / MIT phrase / Apache phrase / GPL phrase /
    * MPL phrase / none, over a fixed 4-line body with two comment
    * lines. Mirrored in the oracle's CASE arithmetic.
    */
  private def codeFixture = concat(
    when(col("doc_id") % 7 === 0, lit("// SPDX-License-Identifier: MIT\n"))
      .when(col("doc_id") % 7 === 1,
        lit("# SPDX-License-Identifier: Apache-2.0\n"))
      .when(col("doc_id") % 7 === 2,
        lit("/* Permission is hereby granted, free of charge, to any person */\n"))
      .when(col("doc_id") % 7 === 3,
        lit("// Licensed under the Apache License, Version 2.0\n"))
      .when(col("doc_id") % 7 === 4,
        lit("// free software under the GNU General Public License\n"))
      .when(col("doc_id") % 7 === 5,
        lit("/* subject to the terms of the Mozilla Public License */\n"))
      .otherwise(lit("")),
    lit("# cfg "), (col("doc_id") % 9).cast("string"),
    lit("\nlet value_"), (col("doc_id") % 5).cast("string"),
    lit(" = "), (col("doc_id") % 100).cast("string"),
    lit("\n-- note "), (col("doc_id") % 3).cast("string"),
    lit("\nprint(value)"))

  /** q143-q145 planted-HTML fixture (Spark spelling): every doc becomes
    * a single-line HTML page built from doc_id/text/source arithmetic —
    * head with an entity-bearing title, a style block with a raw `<`, a
    * script whose STRING CONTENT contains `</p>` (removal order bait: a
    * block-tag pass running before script removal would leak a line), a
    * comment, planted entities (`&amp; &lt; &gt; &quot; &#39; &nbsp;`),
    * a double-quoted and (on id%3!=0) a single-quoted anchor with
    * arithmetic-derived hosts h{(id*7+13)%97} / h{(id*31+29)%97}, and a
    * conditional list. NO raw newlines: every newline in the extracted
    * text is produced by the block-tag stage, so the oracle can replay
    * the expected text from the planted pieces plus [[Html.collapseWs]]'
    * exact collapse chain.
    */
  private def htmlLink0 = concat(lit("https://h"),
    ((col("doc_id") * 7 + 13) % 97).cast("string"), lit(".example.org/p/"),
    col("doc_id").cast("string"))
  private def htmlLink1 = concat(lit("https://h"),
    ((col("doc_id") * 31 + 29) % 97).cast("string"), lit(".example.org/q/"),
    col("doc_id").cast("string"))
  private def htmlFixture = concat(
    lit("<html><head><title>Doc "), col("doc_id").cast("string"),
    lit(" &amp; co</title><style>p{color:#000;x:1<2}</style>" +
      "<script type=\"text/javascript\">var s=\"</p>\"; if(1<2){s=\"&amp;\"}" +
      "</script></head><body><!-- src: "), col("source"),
    lit(" --><h1>Heading "), (col("doc_id") % 50).cast("string"),
    lit("</h1><p class=\"lead\">"), expr("substring(text, 1, 60)"),
    lit(" &amp; tail &lt;raw&gt;</p><div id=\"d"), col("doc_id").cast("string"),
    lit("\">"), expr("substring(text, 61)"),
    lit(" with <a href=\""), htmlLink0, lit("\">link zero</a>"),
    when(col("doc_id") % 3 =!= 0,
      concat(lit("<a href='"), htmlLink1, lit("'>link one</a>")))
      .otherwise(lit("")),
    lit("</div>"),
    when(col("doc_id") % 4 === 0,
      concat(lit("<ul><li>alpha</li><li>beta "),
        (col("doc_id") % 9).cast("string"), lit("</li></ul>")))
      .otherwise(lit("")),
    lit("<p>&quot;q&quot; &#39;a&#39;&nbsp;end "),
    (col("doc_id") % 7).cast("string"), lit("</p></body></html>"))

  /** The q143-q145 planted link-edge list as a DuckDB CTE (`l`):
    * replays [[htmlLink0]]/[[htmlLink1]] host arithmetic directly —
    * any drift in the extraction regexes or host parsing mismatches.
    */
  private val linkEdgesCte: String =
    """l AS (
      |  SELECT 'h' || CAST(doc_id % 97 AS VARCHAR) || '.example.org'
      |           AS src_host,
      |         'h' || CAST((doc_id*7 + 13) % 97 AS VARCHAR) || '.example.org'
      |           AS dst_host
      |  FROM documents
      |  UNION ALL
      |  SELECT 'h' || CAST(doc_id % 97 AS VARCHAR) || '.example.org',
      |         'h' || CAST((doc_id*31 + 29) % 97 AS VARCHAR) || '.example.org'
      |  FROM documents WHERE doc_id % 3 != 0
      |)"""

  /** q145 oracle: unrolled scaled-integer PageRank (WebGraph.pageRank's
    * exact arithmetic — BIGINT `//`, 0.85 damping as ×85//100) as `iters`
    * chained CTEs over the planted edge list. Every operation is integer,
    * so the replay is bit-exact, not tolerance-matched.
    */
  private def pagerankCtes(iters: Int): String =
    pagerankCtesOver(linkEdgesCte, "src_host", "dst_host", iters)

  /** [[pagerankCtes]] generalized over any raw edge CTE `l(src, dst)` —
    * the q201 word graph reuses the identical unrolled integer replay.
    */
  private def pagerankCtesOver(edgeCte: String, srcCol: String,
                               dstCol: String, iters: Int): String = {
    val head = "WITH " + edgeCte.stripMargin +
      s""",
        |e AS MATERIALIZED (
        |  SELECT DISTINCT $srcCol AS src, $dstCol AS dst FROM l),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
        |eo AS (SELECT e.src, e.dst, od.outdeg FROM e JOIN od USING (src)),
        |pr AS (SELECT 1000000000000 // COUNT(*) AS r0 FROM nodes),
        |r0 AS (SELECT node, (SELECT r0 FROM pr) AS rank FROM nodes)"""
        .stripMargin
    val iterCtes = (1 to iters).map { k =>
      s""",
         |r$k AS (
         |  SELECT n.node,
         |    (15 * (SELECT r0 FROM pr)) // 100
         |      + (85 * COALESCE(s.inflow, 0)) // 100 AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT eo.dst AS node, SUM(p.rank // eo.outdeg) AS inflow
         |    FROM eo JOIN r${k - 1} p ON p.node = eo.src
         |    GROUP BY eo.dst) s ON s.node = n.node)""".stripMargin
    }.mkString
    head + iterCtes
  }

  private def pagerankOracle(iters: Int): String =
    pagerankCtes(iters) +
      s"\nSELECT node, CAST(rank AS BIGINT) AS rank FROM r$iters" +
      "\nORDER BY rank DESC, node"

  /** q229 oracle: unrolled k-core peel over the q145 link graph's
    * UNDIRECTED simple view. Each stage keeps exactly the nodes whose
    * degree among current survivors is ≥ k — the synchronous peel the
    * Spark side runs to fixpoint. `rounds` stages unrolled; the k-core
    * is a fixpoint, so any stage count ≥ rounds-to-convergence replays
    * it exactly (each non-final round removes ≥1 of the ≤97 hosts,
    * so 96 rounds always suffice on this fixture).
    */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    val head = "WITH " + linkEdgesCte.stripMargin +
      """,
        |nb AS MATERIALIZED (
        |  SELECT DISTINCT node, nbr FROM (
        |    SELECT src_host AS node, dst_host AS nbr FROM l
        |    WHERE src_host <> dst_host
        |    UNION ALL
        |    SELECT dst_host, src_host FROM l
        |    WHERE src_host <> dst_host)),
        |a0 AS (SELECT DISTINCT node FROM nb)""".stripMargin
    val iterCtes = (1 to rounds).map { r =>
      s""",
         |a$r AS MATERIALIZED (
         |  SELECT nb.node FROM nb
         |  JOIN a${r - 1} s ON s.node = nb.node
         |  JOIN a${r - 1} t ON t.node = nb.nbr
         |  GROUP BY nb.node HAVING COUNT(*) >= $k)""".stripMargin
    }.mkString
    head + iterCtes +
      s"""
         |SELECT nb.node, CAST(COUNT(*) AS BIGINT) AS core_degree
         |FROM nb
         |JOIN a$rounds s ON s.node = nb.node
         |JOIN a$rounds t ON t.node = nb.nbr
         |GROUP BY nb.node
         |ORDER BY core_degree DESC, nb.node""".stripMargin
  }

  /** q230 oracle: unrolled scaled-integer PERSONALIZED PageRank over
    * the q145 link graph — [[pagerankCtesOver]]'s replay with the
    * teleport term paid only to the seed hosts (hosts of documents
    * with doc_id % 31 = 0), r0 = SCALE // |seeds|.
    */
  private def pprOracle(iters: Int): String = {
    val head = "WITH " + linkEdgesCte.stripMargin +
      s""",
         |e AS MATERIALIZED (
         |  SELECT DISTINCT src_host AS src, dst_host AS dst FROM l),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
         |eo AS (SELECT e.src, e.dst, od.outdeg FROM e JOIN od USING (src)),
         |sd AS MATERIALIZED (
         |  SELECT DISTINCT 'h' || CAST(doc_id % 97 AS VARCHAR)
         |    || '.example.org' AS node
         |  FROM documents WHERE doc_id % 31 = 0),
         |pr AS (SELECT 1000000000000 // COUNT(*) AS r0 FROM sd),
         |r0 AS (
         |  SELECT n.node,
         |    CASE WHEN sd.node IS NULL THEN 0
         |         ELSE (SELECT r0 FROM pr) END AS rank
         |  FROM nodes n LEFT JOIN sd ON sd.node = n.node)""".stripMargin
    val iterCtes = (1 to iters).map { k =>
      s""",
         |r$k AS (
         |  SELECT n.node,
         |    CASE WHEN sd.node IS NULL THEN 0
         |         ELSE (15 * (SELECT r0 FROM pr)) // 100 END
         |      + (85 * COALESCE(s.inflow, 0)) // 100 AS rank
         |  FROM nodes n
         |  LEFT JOIN sd ON sd.node = n.node
         |  LEFT JOIN (
         |    SELECT eo.dst AS node, SUM(p.rank // eo.outdeg) AS inflow
         |    FROM eo JOIN r${k - 1} p ON p.node = eo.src
         |    GROUP BY eo.dst) s ON s.node = n.node)""".stripMargin
    }.mkString
    head + iterCtes +
      s"\nSELECT node, CAST(rank AS BIGINT) AS rank FROM r$iters" +
      "\nORDER BY rank DESC, node"
  }

  /** q256 oracle: unrolled sampled-Brandes betweenness over the q145
    * link graph — the Spark side's exact replay: md5-order first
    * `nSources` sources, `depth` BFS levels of (s, node, dist, sigma)
    * (levels past the true eccentricity are empty on both sides, so any
    * depth ≥ diameter replays exactly), then the backward dependency
    * accumulation level by level in SCALE=10^12 integers with products
    * through HUGEINT (the Spark side's DECIMAL(38,0)).
    */
  /** Shared unrolled multi-source-BFS CTE chain over the q145 link
    * graph — WebGraph.sampledBfs' exact replay (md5-order first
    * `nSources` sources; per level: expand, anti-join visited, union) —
    * the q256 (Brandes) and q257 (harmonic closeness) oracles both
    * read the final `vis<depth>` state.
    */
  private def bfsCtes(nSources: Int, depth: Int): String = {
    val head = "WITH " + linkEdgesCte.stripMargin +
      s""",
         |e AS MATERIALIZED (
         |  SELECT DISTINCT src_host AS src, dst_host AS dst FROM l
         |  WHERE src_host <> dst_host),
         |nodes AS MATERIALIZED (
         |  SELECT src AS node FROM e UNION SELECT dst FROM e),
         |srcs AS MATERIALIZED (
         |  SELECT node FROM nodes ORDER BY md5(node), node LIMIT $nSources),
         |f0 AS MATERIALIZED (
         |  SELECT node AS s, node, 0 AS dist, CAST(1 AS BIGINT) AS sigma
         |  FROM srcs),
         |vis0 AS MATERIALIZED (SELECT * FROM f0)""".stripMargin
    val fwd = (1 to depth).map { d =>
      s""",
         |f$d AS MATERIALIZED (
         |  SELECT q.s, q.node, $d AS dist, q.sigma FROM (
         |    SELECT f.s, e.dst AS node, SUM(f.sigma) AS sigma
         |    FROM f${d - 1} f JOIN e ON e.src = f.node
         |    GROUP BY f.s, e.dst) q
         |  LEFT JOIN vis${d - 1} p ON p.s = q.s AND p.node = q.node
         |  WHERE p.node IS NULL),
         |vis$d AS MATERIALIZED (
         |  SELECT * FROM vis${d - 1} UNION ALL SELECT * FROM f$d)""".stripMargin
    }.mkString
    head + fwd
  }

  private def brandesOracle(nSources: Int, depth: Int): String = {
    val scale = "1000000000000"
    val back = s""",
         |d$depth AS MATERIALIZED (
         |  SELECT s, node, sigma, CAST(0 AS BIGINT) AS delta
         |  FROM vis$depth WHERE dist = $depth)""".stripMargin +
      ((depth - 1) to 0 by -1).map { lvl =>
        s""",
           |d$lvl AS MATERIALIZED (
           |  SELECT c.s, c.node, MAX(c.sigma) AS sigma,
           |    COALESCE(SUM(CAST(CAST(c.sigma AS HUGEINT)
           |      * ($scale + w.delta) // w.sigma AS BIGINT)), 0) AS delta
           |  FROM (SELECT * FROM vis$depth WHERE dist = $lvl) c
           |  LEFT JOIN e ON e.src = c.node
           |  LEFT JOIN d${lvl + 1} w ON w.s = c.s AND w.node = e.dst
           |  GROUP BY c.s, c.node)""".stripMargin
      }.mkString
    val accUnion = (0 to depth)
      .map(l => s"SELECT s, node, delta FROM d$l")
      .mkString("\n  UNION ALL ")
    bfsCtes(nSources, depth) + back +
      s""",
         |acc AS ($accUnion),
         |bc AS (
         |  SELECT node, SUM(delta) AS bc_scaled
         |  FROM acc WHERE node <> s GROUP BY node)
         |SELECT n.node,
         |  CAST(COALESCE(bc.bc_scaled, 0) AS BIGINT) AS bc_scaled,
         |  CAST(COALESCE(bc.bc_scaled, 0) AS DOUBLE) / $scale
         |    AS betweenness
         |FROM nodes n LEFT JOIN bc ON bc.node = n.node
         |ORDER BY n.node""".stripMargin
  }

  /** q176 oracle: unrolled max-normalized integer HITS over the q145
    * link graph — HUGEINT carries the normalization product (the Spark
    * side's DECIMAL(38,0)); each half-step tops out at exactly SCALE.
    */
  private def hitsOracle(iters: Int): String = {
    val head = "WITH " + linkEdgesCte.stripMargin +
      """,
        |e AS (SELECT DISTINCT src_host AS src, dst_host AS dst FROM l),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |h0 AS (SELECT node, 1000000000 AS hub FROM nodes)""".stripMargin
    // MATERIALIZED + window-max: every CTE is evaluated once — an
    // inlined multi-referenced chain re-evaluates EXPONENTIALLY across
    // the unrolled iterations (observed: minutes at k=4)
    val iterCtes = (1 to iters).map { k =>
      s""",
         |a$k AS MATERIALIZED (
         |  SELECT node, CAST(CAST(ra AS HUGEINT) * 1000000000
         |    // MAX(ra) OVER () AS BIGINT) AS auth
         |  FROM (
         |    SELECT n.node, COALESCE(s.ra, 0) AS ra
         |    FROM nodes n LEFT JOIN (
         |      SELECT e.dst AS node, SUM(h.hub) AS ra
         |      FROM e JOIN h${k - 1} h ON h.node = e.src
         |      GROUP BY e.dst) s ON s.node = n.node)),
         |h$k AS MATERIALIZED (
         |  SELECT node, CAST(CAST(rh AS HUGEINT) * 1000000000
         |    // MAX(rh) OVER () AS BIGINT) AS hub
         |  FROM (
         |    SELECT n.node, COALESCE(s.rh, 0) AS rh
         |    FROM nodes n LEFT JOIN (
         |      SELECT e.src AS node, SUM(a.auth) AS rh
         |      FROM e JOIN a$k a ON a.node = e.dst
         |      GROUP BY e.src) s ON s.node = n.node))""".stripMargin
    }.mkString
    head + iterCtes +
      s"\nSELECT h.node, h.hub, a.auth FROM h$iters h JOIN a$iters a" +
      " ON a.node = h.node\nORDER BY a.auth DESC, h.node"
  }

  /** q191 oracle: unrolled SYNCHRONOUS label propagation over the q145
    * link graph — per iteration one neighbor-vote count and one
    * (count DESC, label) pick, ties to the smallest label (the Spark
    * side's (−count, label) struct-min). Nodes with no non-loop
    * neighbors keep their previous label (LEFT JOIN + COALESCE).
    */
  private def lpaOracle(iters: Int): String = {
    val head = "WITH " + linkEdgesCte.stripMargin +
      """,
        |n0 AS MATERIALIZED (
        |  SELECT DISTINCT node FROM (
        |    SELECT src_host AS node FROM l
        |    UNION ALL SELECT dst_host FROM l)),
        |nb AS MATERIALIZED (
        |  SELECT DISTINCT node, nbr FROM (
        |    SELECT src_host AS node, dst_host AS nbr FROM l
        |    WHERE src_host <> dst_host
        |    UNION ALL
        |    SELECT dst_host, src_host FROM l
        |    WHERE src_host <> dst_host)),
        |lab0 AS (SELECT node, node AS lbl FROM n0)""".stripMargin
    val iterCtes = (1 to iters).map { k =>
      s""",
         |v$k AS (
         |  SELECT nb.node, p.lbl, COUNT(*) AS c
         |  FROM nb JOIN lab${k - 1} p ON p.node = nb.nbr
         |  GROUP BY 1, 2),
         |w$k AS (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl,
         |      ROW_NUMBER() OVER (PARTITION BY node
         |        ORDER BY c DESC, lbl) AS r
         |    FROM v$k) WHERE r = 1),
         |lab$k AS MATERIALIZED (
         |  SELECT p.node, COALESCE(w$k.lbl, p.lbl) AS lbl
         |  FROM lab${k - 1} p LEFT JOIN w$k ON w$k.node = p.node)""".stripMargin
    }.mkString
    head + iterCtes +
      s"""
         |SELECT node, lbl AS community,
         |  CAST(COUNT(*) OVER (PARTITION BY lbl) AS BIGINT)
         |    AS community_size
         |FROM lab$iters ORDER BY node""".stripMargin
  }

  /** q234 oracle: unrolled Louvain-style synchronized local moving
    * (WebGraph.louvainCommunities' exact arithmetic — integer modularity
    * gains 2m·k − deg·tot, independent-set move scheduling by the md5
    * h48 priority, smallest-community tie-break) as `rounds` chained CTE
    * blocks over the planted link graph, then the exact integer
    * modularity Σ(2m·in_c − tot²)/(2m)² of the final labeling. Every
    * comparison is integer and the one division crosses the VARCHAR
    * bridge, so the replay is bit-exact.
    */
  /** q240 oracle: the Markov removal-effect chain unrolled CTE by CTE —
    * journey slice (first 8 events per user), transition counts with
    * START/CONV/NULL sentinels, the (channels+1)-way removal dimension,
    * then k rounds of scaled-integer value iteration (HUGEINT products,
    * `//` floor division — bit-identical to the op's DECIMAL(38,0)/div
    * arithmetic), and the effect/share readout as single IEEE divisions.
    */
  private def markovOracle(k: Int): String = {
    val iters = (1 to k).map { i =>
      s""",
         |x$i AS MATERIALIZED (
         |  SELECT t.removed, t.src AS state,
         |    CAST(SUM(CAST(t.n AS HUGEINT) *
         |      (CASE WHEN t.dst = '__conv__' THEN 1000000000000
         |            WHEN t.dst = '__null__' THEN 0
         |            ELSE COALESCE(x.v, 0) END)) // MAX(t.nout) AS BIGINT)
         |      AS v
         |  FROM tf t LEFT JOIN x${i - 1} x
         |    ON x.removed = t.removed AND x.state = t.dst
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString
    s"""WITH ev AS (
       |  SELECT u, t, us, tie FROM (
       |    SELECT CAST(user_id AS VARCHAR) AS u, event_type AS t,
       |      epoch_us(ts) AS us, event_id AS tie,
       |      ROW_NUMBER() OVER (PARTITION BY user_id
       |        ORDER BY epoch_us(ts), event_id) AS rn
       |    FROM events) WHERE rn <= 8),
       |cv AS (
       |  SELECT u, us AS cus, tie AS ctie FROM (
       |    SELECT u, us, tie,
       |      ROW_NUMBER() OVER (PARTITION BY u ORDER BY us, tie) AS r
       |    FROM ev WHERE t = 'purchase') WHERE r = 1),
       |j AS (
       |  SELECT ev.u, ev.t, ev.us, ev.tie, cv.u IS NOT NULL AS has_conv
       |  FROM ev LEFT JOIN cv ON cv.u = ev.u
       |  WHERE ev.t <> 'purchase' AND (cv.u IS NULL OR ev.us < cv.cus
       |    OR (ev.us = cv.cus AND ev.tie < cv.ctie))),
       |sq AS (
       |  SELECT u, t, has_conv,
       |    ROW_NUMBER() OVER (PARTITION BY u ORDER BY us, tie) AS rn,
       |    LAG(t) OVER (PARTITION BY u ORDER BY us, tie) AS prev,
       |    COUNT(*) OVER (PARTITION BY u) AS cnt
       |  FROM j),
       |tr AS (
       |  SELECT '__start__' AS src, t AS dst FROM sq WHERE rn = 1
       |  UNION ALL SELECT prev, t FROM sq WHERE rn >= 2
       |  UNION ALL SELECT t,
       |    CASE WHEN has_conv THEN '__conv__' ELSE '__null__' END
       |  FROM sq WHERE rn = cnt
       |  UNION ALL SELECT '__start__', '__conv__' FROM cv
       |  WHERE u NOT IN (SELECT u FROM j)),
       |tc AS (SELECT src, dst, COUNT(*) AS n FROM tr GROUP BY 1, 2),
       |no AS (SELECT src, SUM(n) AS nout FROM tc GROUP BY 1),
       |ch AS (SELECT DISTINCT t AS channel FROM j),
       |rm AS (SELECT channel AS removed FROM ch
       |       UNION ALL SELECT '__none__'),
       |tf AS MATERIALIZED (
       |  SELECT rm.removed, tc.src, tc.dst, tc.n, no.nout
       |  FROM rm CROSS JOIN tc JOIN no ON no.src = tc.src
       |  WHERE tc.src <> rm.removed AND tc.dst <> rm.removed),
       |x0 AS MATERIALIZED (SELECT DISTINCT removed, src AS state,
       |         CAST(0 AS BIGINT) AS v
       |       FROM tf)$iters,
       |ps AS (SELECT removed, v FROM x$k WHERE state = '__start__'),
       |pf AS (SELECT v AS pfv FROM ps WHERE removed = '__none__'),
       |eff AS (
       |  SELECT ch.channel, COALESCE(ps.v, 0) AS p,
       |    GREATEST((SELECT pfv FROM pf) - COALESCE(ps.v, 0), 0) AS e
       |  FROM ch LEFT JOIN ps ON ps.removed = ch.channel),
       |tot AS (SELECT SUM(e) AS te FROM eff)
       |SELECT channel,
       |  CAST((SELECT pfv FROM pf) AS DOUBLE) / 1000000000000.0
       |    AS p_conv_full,
       |  CAST(p AS DOUBLE) / 1000000000000.0 AS p_conv_removed,
       |  CASE WHEN (SELECT pfv FROM pf) > 0 THEN
       |    CAST(e AS DOUBLE) / CAST((SELECT pfv FROM pf) AS DOUBLE) END
       |    AS removal_effect,
       |  CASE WHEN (SELECT te FROM tot) > 0 THEN
       |    CAST(e AS DOUBLE) / CAST((SELECT te FROM tot) AS DOUBLE) END
       |    AS attribution_share
       |FROM eff, tot
       |ORDER BY channel""".stripMargin
  }

  /** q241 oracle: Hunter's MM rounds unrolled CTE by CTE — the
    * comparison plane from consecutive-doc length contests, then k
    * rounds of T-terms (HUGEINT products, `//` floor, denominators
    * floored at 10^4 so both engines' quotients match the op's
    * long-safe arithmetic), update, and max-normalization.
    */
  private def btOracle(k: Int): String = {
    val s = "1000000000000"
    val iters = (1 to k).map { i =>
      s""",
         |t$i AS (
         |  SELECT e.a,
         |    SUM((CAST(e.n AS HUGEINT) * $s * 1000000)
         |      // GREATEST(pa.p + pb.p, 10000)) AS t
         |  FROM ed e JOIN p${i - 1} pa ON pa.a = e.a
         |    JOIN p${i - 1} pb ON pb.a = e.b
         |  GROUP BY 1),
         |u$i AS (
         |  SELECT w.a,
         |    (CAST(w.wins AS HUGEINT) * $s * 1000000)
         |      // GREATEST(t$i.t, 1) AS pn
         |  FROM itw w JOIN t$i ON t$i.a = w.a),
         |m$i AS (SELECT MAX(pn) AS mx FROM u$i),
         |p$i AS MATERIALIZED (
         |  SELECT a, CAST((CAST(pn AS HUGEINT) * $s)
         |    // GREATEST((SELECT mx FROM m$i), 1) AS BIGINT) AS p
         |  FROM u$i)""".stripMargin
    }.mkString
    s"""WITH pairs AS (
       |  SELECT a.source AS s1, b.source AS s2,
       |    a.n_chars AS c1, b.n_chars AS c2
       |  FROM documents a JOIN documents b ON a.doc_id + 1 = b.doc_id
       |  WHERE a.source <> b.source AND a.n_chars <> b.n_chars),
       |g AS (
       |  SELECT CASE WHEN c1 > c2 THEN s1 ELSE s2 END AS w,
       |    CASE WHEN c1 > c2 THEN s2 ELSE s1 END AS l
       |  FROM pairs),
       |ed AS MATERIALIZED (
       |  SELECT a, b, COUNT(*) AS n FROM (
       |    SELECT w AS a, l AS b FROM g
       |    UNION ALL SELECT l AS a, w AS b FROM g)
       |  GROUP BY 1, 2),
       |wi AS (SELECT w AS a, COUNT(*) AS wins FROM g GROUP BY 1),
       |it AS (SELECT e.a, CAST(SUM(e.n) AS BIGINT) AS games
       |       FROM ed e GROUP BY 1),
       |itw AS MATERIALIZED (
       |  SELECT it.a, it.games,
       |    CAST(COALESCE(wi.wins, 0) AS BIGINT) AS wins
       |  FROM it LEFT JOIN wi ON wi.a = it.a),
       |p0 AS MATERIALIZED (
       |  SELECT a, CAST($s AS BIGINT) AS p FROM itw)$iters
       |SELECT w.a AS item, w.wins AS n_wins, w.games AS n_comparisons,
       |  p.p AS strength_scaled,
       |  CAST(p.p AS DOUBLE) / $s.0 AS strength
       |FROM itw w JOIN p$k p ON p.a = w.a
       |ORDER BY item""".stripMargin
  }

  /** q269 oracle: the WEIGHTED flavor of [[louvainOracle]] — identical
    * synchronized local moving, with k_v, k_{v,c}, tot and 2m as
    * weighted sums over the planted integer-weighted edge list
    * (parallel (src,dst) rows ADD, matching
    * `louvainCommunities(weightCol)`). Integer arithmetic end to end.
    */
  private def louvainOracleWeighted(rounds: Int): String = {
    val head =
      """WITH lw AS (
        |  SELECT 'h' || CAST(doc_id % 97 AS VARCHAR) || '.example.org'
        |           AS src_host,
        |         'h' || CAST((doc_id*7 + 13) % 97 AS VARCHAR)
        |           || '.example.org' AS dst_host,
        |         CAST(doc_id % 3 + 1 AS BIGINT) AS w
        |  FROM documents
        |  UNION ALL
        |  SELECT 'h' || CAST(doc_id % 97 AS VARCHAR) || '.example.org',
        |         'h' || CAST((doc_id*31 + 29) % 97 AS VARCHAR)
        |           || '.example.org',
        |         CAST(doc_id % 5 + 1 AS BIGINT)
        |  FROM documents WHERE doc_id % 3 != 0
        |),
        |nb AS MATERIALIZED (
        |  SELECT node, nbr, CAST(SUM(w) AS BIGINT) AS w FROM (
        |    SELECT src_host AS node, dst_host AS nbr, w FROM lw
        |    WHERE src_host <> dst_host
        |    UNION ALL
        |    SELECT dst_host, src_host, w FROM lw
        |    WHERE src_host <> dst_host) t
        |  GROUP BY 1, 2),
        |degc AS MATERIALIZED (
        |  SELECT node, CAST(SUM(w) AS BIGINT) AS deg FROM nb GROUP BY 1),
        |m2 AS (SELECT SUM(deg) AS m2 FROM degc),
        |lab0 AS (SELECT node, node AS comm FROM degc)""".stripMargin
    val roundCtes = (1 to rounds).map { k =>
      s""",
         |tot$k AS (
         |  SELECT v.comm, SUM(d.deg) AS tot
         |  FROM lab${k - 1} v JOIN degc d ON d.node = v.node GROUP BY 1),
         |kv$k AS (
         |  SELECT nb.node, p.comm AS cand, CAST(SUM(nb.w) AS BIGINT) AS k
         |  FROM nb JOIN lab${k - 1} p ON p.node = nb.nbr GROUP BY 1, 2),
         |sc$k AS (
         |  SELECT v.node, kv.cand,
         |    (SELECT m2 FROM m2) * kv.k
         |      - d.deg * (t.tot - CASE WHEN kv.cand = v.comm
         |                              THEN d.deg ELSE 0 END) AS score
         |  FROM lab${k - 1} v
         |    JOIN degc d ON d.node = v.node
         |    JOIN kv$k kv ON kv.node = v.node
         |    JOIN tot$k t ON t.comm = kv.cand),
         |stay$k AS (
         |  SELECT v.node,
         |    (SELECT m2 FROM m2) * COALESCE(kc.k, 0)
         |      - d.deg * (t.tot - d.deg) AS stay
         |  FROM lab${k - 1} v
         |    JOIN degc d ON d.node = v.node
         |    JOIN tot$k t ON t.comm = v.comm
         |    LEFT JOIN kv$k kc ON kc.node = v.node AND kc.cand = v.comm),
         |win$k AS (
         |  SELECT node, cand, score FROM (
         |    SELECT node, cand, score,
         |      ROW_NUMBER() OVER (PARTITION BY node
         |        ORDER BY score DESC, cand) AS r
         |    FROM sc$k) WHERE r = 1),
         |want$k AS MATERIALIZED (
         |  SELECT node, cand, CAST($h48Sql AS BIGINT) AS h FROM (
         |    SELECT w.node, w.cand, md5(w.node) AS m
         |    FROM win$k w JOIN stay$k s ON s.node = w.node
         |    WHERE w.score > s.stay)),
         |blk$k AS (
         |  SELECT DISTINCT a.node
         |  FROM nb JOIN want$k a ON a.node = nb.node
         |    JOIN want$k b ON b.node = nb.nbr
         |  WHERE b.h < a.h OR (b.h = a.h AND nb.nbr < nb.node)),
         |lab$k AS MATERIALIZED (
         |  SELECT v.node,
         |    CASE WHEN w.node IS NOT NULL AND blk.node IS NULL
         |         THEN w.cand ELSE v.comm END AS comm
         |  FROM lab${k - 1} v
         |    LEFT JOIN want$k w ON w.node = v.node
         |    LEFT JOIN blk$k blk ON blk.node = v.node)""".stripMargin
    }.mkString
    val tail =
      s"""
         |SELECT node, comm AS community FROM lab$rounds
         |ORDER BY node""".stripMargin
    head + roundCtes + tail
  }

  private def louvainOracle(rounds: Int): String = {
    val head = "WITH " + linkEdgesCte.stripMargin +
      """,
        |nb AS MATERIALIZED (
        |  SELECT DISTINCT node, nbr FROM (
        |    SELECT src_host AS node, dst_host AS nbr FROM l
        |    WHERE src_host <> dst_host
        |    UNION ALL
        |    SELECT dst_host, src_host FROM l
        |    WHERE src_host <> dst_host)),
        |degc AS MATERIALIZED (
        |  SELECT node, COUNT(*) AS deg FROM nb GROUP BY 1),
        |m2 AS (SELECT SUM(deg) AS m2 FROM degc),
        |lab0 AS (SELECT node, node AS comm FROM degc)""".stripMargin
    val roundCtes = (1 to rounds).map { k =>
      s""",
         |tot$k AS (
         |  SELECT v.comm, SUM(d.deg) AS tot
         |  FROM lab${k - 1} v JOIN degc d ON d.node = v.node GROUP BY 1),
         |kv$k AS (
         |  SELECT nb.node, p.comm AS cand, COUNT(*) AS k
         |  FROM nb JOIN lab${k - 1} p ON p.node = nb.nbr GROUP BY 1, 2),
         |sc$k AS (
         |  SELECT v.node, kv.cand,
         |    (SELECT m2 FROM m2) * kv.k
         |      - d.deg * (t.tot - CASE WHEN kv.cand = v.comm
         |                              THEN d.deg ELSE 0 END) AS score
         |  FROM lab${k - 1} v
         |    JOIN degc d ON d.node = v.node
         |    JOIN kv$k kv ON kv.node = v.node
         |    JOIN tot$k t ON t.comm = kv.cand),
         |stay$k AS (
         |  SELECT v.node,
         |    (SELECT m2 FROM m2) * COALESCE(kc.k, 0)
         |      - d.deg * (t.tot - d.deg) AS stay
         |  FROM lab${k - 1} v
         |    JOIN degc d ON d.node = v.node
         |    JOIN tot$k t ON t.comm = v.comm
         |    LEFT JOIN kv$k kc ON kc.node = v.node AND kc.cand = v.comm),
         |win$k AS (
         |  SELECT node, cand, score FROM (
         |    SELECT node, cand, score,
         |      ROW_NUMBER() OVER (PARTITION BY node
         |        ORDER BY score DESC, cand) AS r
         |    FROM sc$k) WHERE r = 1),
         |want$k AS MATERIALIZED (
         |  SELECT node, cand, CAST($h48Sql AS BIGINT) AS h FROM (
         |    SELECT w.node, w.cand, md5(w.node) AS m
         |    FROM win$k w JOIN stay$k s ON s.node = w.node
         |    WHERE w.score > s.stay)),
         |blk$k AS (
         |  SELECT DISTINCT a.node
         |  FROM nb JOIN want$k a ON a.node = nb.node
         |    JOIN want$k b ON b.node = nb.nbr
         |  WHERE b.h < a.h OR (b.h = a.h AND nb.nbr < nb.node)),
         |lab$k AS MATERIALIZED (
         |  SELECT v.node,
         |    CASE WHEN w.node IS NOT NULL AND blk.node IS NULL
         |         THEN w.cand ELSE v.comm END AS comm
         |  FROM lab${k - 1} v
         |    LEFT JOIN want$k w ON w.node = v.node
         |    LEFT JOIN blk$k blk ON blk.node = v.node)""".stripMargin
    }.mkString
    val tail =
      s""",
         |totq AS (SELECT v.comm, SUM(d.deg) AS tot
         |  FROM lab$rounds v JOIN degc d ON d.node = v.node GROUP BY 1),
         |inq AS (SELECT p1.comm, COUNT(*) AS inc
         |  FROM nb JOIN lab$rounds p1 ON p1.node = nb.node
         |    JOIN lab$rounds p2 ON p2.node = nb.nbr
         |  WHERE p2.comm = p1.comm GROUP BY 1),
         |qn AS (SELECT SUM((SELECT m2 FROM m2) * COALESCE(i.inc, 0)
         |    - t.tot * t.tot) AS qnum
         |  FROM totq t LEFT JOIN inq i ON i.comm = t.comm)
         |SELECT v.node, v.comm AS community,
         |  CAST(COUNT(*) OVER (PARTITION BY v.comm) AS BIGINT)
         |    AS community_size,
         |  CAST(CAST((SELECT qnum FROM qn) AS VARCHAR) AS DOUBLE)
         |    / (CAST((SELECT m2 FROM m2) AS DOUBLE)
         |       * CAST((SELECT m2 FROM m2) AS DOUBLE)) AS q_modularity
         |FROM lab$rounds v ORDER BY v.node""".stripMargin
    head + roundCtes + tail
  }

  /** The q144/q145/q150 planted source host (lowercase by construction). */
  private def host97 = concat(lit("h"), (col("doc_id") % 97).cast("string"),
    lit(".example.org"))

  /** q147/q148 planted robots.txt (Spark spelling): a `*` group with
    * prefix rules plus one `*`-wildcard-`$`-anchor rule, and on even
    * ids a TWO-agent group (mixed-case `GraftBot`/`ExtraBot` — the
    * parser must lowercase) with a crawl-delay; a leading comment line
    * and a group-independent Sitemap. Line positions are fixed by
    * construction, so the oracle replays every parsed row directly.
    */
  private def robotsFixture = concat(
    lit("# robots for h"), (col("doc_id") % 97).cast("string"), lit("\n"),
    lit("User-agent: *\n"),
    lit("Disallow: /private\n"),
    lit("Allow: /private/ok\n"),
    lit("Disallow: /*.json$\n"),
    when(col("doc_id") % 2 === 0, concat(
      lit("User-agent: GraftBot\nUser-agent: ExtraBot\n"),
      lit("Disallow: /p\n"),
      lit("Allow: /p/"), (col("doc_id") % 10).cast("string"), lit("\n"),
      lit("Crawl-delay: "), (col("doc_id") % 7 + 1).cast("string"),
      lit("\n"))).otherwise(lit("")),
    lit("Sitemap: https://h"), (col("doc_id") % 97).cast("string"),
    lit(".example.org/sitemap.xml"))

  /** q147/q148 doc-unique host — each doc carries its OWN robots.txt
    * (id-dependent rules under a shared host would interleave line
    * positions in the parse windows).
    */
  private def hostUnique = concat(lit("h"), col("doc_id").cast("string"),
    lit(".example.org"))

  /** q153 planted sitemap XML: an entity-bearing loc with lastmod, a
    * whitespace-padded loc without one, a loc-less INVALID block on
    * even ids (must drop, leaving an entry_idx gap — position is
    * source-block position), a conditional third entry on id%3=0.
    */
  private def sitemapFixture = concat(
    lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
      "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
      "<url><loc>https://h"),
    (col("doc_id") % 97).cast("string"), lit(".example.org/p/"),
    col("doc_id").cast("string"),
    lit("?a=1&amp;b=2</loc><lastmod>2024-01-"),
    lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0"),
    lit("</lastmod></url>\n<url><loc>  https://h"),
    (col("doc_id") % 97).cast("string"), lit(".example.org/q/"),
    col("doc_id").cast("string"), lit("  </loc></url>\n"),
    when(col("doc_id") % 2 === 0,
      lit("<url><lastmod>2024-02-01</lastmod></url>\n")).otherwise(lit("")),
    when(col("doc_id") % 3 === 0,
      concat(lit("<url><loc>https://other.example/"),
        col("doc_id").cast("string"), lit("</loc></url>\n")))
      .otherwise(lit("")),
    lit("</urlset>"))

  /** q143/q151 shared oracle prefix: the expected extracted text built
    * from the [[htmlFixture]] planted pieces, normalized by the
    * IDENTICAL collapse-chain regexes ([[Html.collapseWs]] spelling).
    * One spelling — the composed crawl query cannot drift from the
    * standalone extraction query.
    */
  private val htmlTextCtes: String = """WITH raw AS (
             |  SELECT doc_id,
             |    'Heading ' || CAST(doc_id % 50 AS VARCHAR) || chr(10) ||
             |    substr(text, 1, 60) || ' & tail <raw>' || chr(10) ||
             |    substr(text, 61) || ' with link zero' ||
             |    CASE WHEN doc_id % 3 != 0 THEN ' link one' ELSE '' END
             |      || chr(10) ||
             |    CASE WHEN doc_id % 4 = 0
             |         THEN 'alpha' || chr(10) || 'beta ' ||
             |              CAST(doc_id % 9 AS VARCHAR) || chr(10)
             |         ELSE '' END ||
             |    '"q" ' || chr(39) || 'a' || chr(39) || ' end ' ||
             |    CAST(doc_id % 7 AS VARCHAR) AS rawtext
             |  FROM documents
             |), x AS (
             |  SELECT doc_id,
             |    regexp_replace(regexp_replace(regexp_replace(rawtext,
             |      '[ \t\r\f]+', ' ', 'g'), '\s*\n\s*', chr(10), 'g'),
             |      '^\s+|\s+$', '', 'g') AS text
             |  FROM raw
             |)""".stripMargin

  val all: Seq[QuerySpec] = Seq(

    // ------------------------------------------------------------------
    // Exact dedup: one shuffle on the md5-of-normalized-text fingerprint.
    QuerySpec(
      "q20_dedup_exact",
      (s, dir) =>
        Tables.documents(s, dir)
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(TextOps.fingerprintMd5(col("text"))).as("n_distinct"))
          .withColumn("n_dups", col("n_docs") - col("n_distinct"))
          .orderBy("source"),
      Some(s"""SELECT source, COUNT(*) AS n_docs,
              |  COUNT(DISTINCT md5($normSql)) AS n_distinct,
              |  COUNT(*) - COUNT(DISTINCT md5($normSql)) AS n_dups
              |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // ------------------------------------------------------------------
    // Token counting: whitespace tokens + BPE-ish subword pre-tokens.
    QuerySpec(
      "q21_token_stats",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("source"),
            TextOps.tokenCount(col("text")).as("n_toks"),
            TextOps.subwordCount(col("text")).as("n_sub"))
          .groupBy(col("source"))
          .agg(
            sum(col("n_toks")).cast("long").as("total_tokens"),
            (sum(col("n_toks")).cast("double") / count(lit(1))).as("avg_tokens"),
            max(col("n_toks")).as("max_tokens"),
            sum(col("n_sub")).cast("long").as("total_subwords"))
          .orderBy("source"),
      Some(s"""SELECT source,
              |  CAST(SUM(len($toksSql)) AS BIGINT) AS total_tokens,
              |  CAST(SUM(len($toksSql)) AS DOUBLE)/COUNT(*) AS avg_tokens,
              |  CAST(MAX(len($toksSql)) AS BIGINT) AS max_tokens,
              |  CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))) AS BIGINT) AS total_subwords
              |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // ------------------------------------------------------------------
    // Per-document quality metrics (Gopher/C4-style heuristic filters).
    // All counts come from ONE pass of the native TextStats kernel; the
    // derived ratios are bit-identical to the HOF spelling (integer counts
    // first, same divisions) — equivalence is asserted in TextStatsSpec.
    QuerySpec(
      "q22_quality_scores",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"), length(col("text")).as("__nc"),
            graft.functions.ArrayMath.textStats(col("text")).as("__st"))
          .select(
            col("doc_id"),
            col("__st.n_tokens").as("n_tokens"),
            round(col("__st.n_stop").cast("double") / col("__st.n_tokens"), 4).as("stop_ratio"),
            round(col("__st.tok_chars").cast("double") / col("__st.n_tokens"), 4).as("mean_tok_len"),
            round(
              when(col("__nc").between(50, 20000), 1.0).otherwise(0.0) * 0.3 +
              when(col("__st.n_stop").cast("double") / col("__st.n_tokens") >= 0.01, 1.0).otherwise(0.0) * 0.3 +
              when(col("__st.n_punct").cast("double") / col("__nc") <= 0.2, 1.0).otherwise(0.0) * 0.2 +
              when((col("__st.tok_chars").cast("double") / col("__st.n_tokens")).between(2.0, 12.0), 1.0).otherwise(0.0) * 0.2,
              2).as("quality"))
          .sortWithinPartitions("doc_id"),
      Some(s"""WITH m AS (
              |  SELECT doc_id, text, $toksSql AS toks,
              |    LENGTH(text) AS n_chars,
              |    len($toksSql) AS n_tokens,
              |    len(list_filter($toksSql, x -> lower(x) IN ($stops))) AS n_stop,
              |    LENGTH(text) - LENGTH(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS n_punct,
              |    CAST(list_sum(list_transform($toksSql, x -> LENGTH(x))) AS DOUBLE) AS tok_chars
              |  FROM documents
              |)
              |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
              |  ROUND(CAST(n_stop AS DOUBLE)/n_tokens, 4) AS stop_ratio,
              |  ROUND(tok_chars/n_tokens, 4) AS mean_tok_len,
              |  ROUND(
              |    (CASE WHEN n_chars BETWEEN 50 AND 20000 THEN 1.0 ELSE 0.0 END)*0.3 +
              |    (CASE WHEN CAST(n_stop AS DOUBLE)/n_tokens >= 0.01 THEN 1.0 ELSE 0.0 END)*0.3 +
              |    (CASE WHEN CAST(n_punct AS DOUBLE)/n_chars <= 0.2 THEN 1.0 ELSE 0.0 END)*0.2 +
              |    (CASE WHEN tok_chars/n_tokens BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)*0.2,
              |  2) AS quality
              |FROM m ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Content fingerprinting (md5 of normalized text — oracle-reproducible).
    QuerySpec(
      "q23_fingerprint",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"), TextOps.fingerprintMd5(col("text")).as("fp"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, md5($normSql) AS fp
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Language ID: marker-stopword overlap + CJK script detection, counted
    // per predicted language. Tie-break = lexicographically larger code, on
    // both sides.
    QuerySpec(
      "q24_langid",
      (s, dir) => {
        // marker counts from the one-pass kernel; same greatest-of-structs
        // tie-break as TextOps.langId (lexicographically larger code wins)
        val st = graft.functions.ArrayMath.textStats(col("text"))
        val scored = Seq("en" -> "s_en", "de" -> "s_de", "es" -> "s_es", "fr" -> "s_fr")
          .map { case (lang, f) =>
            struct(col(s"__st.$f").as("score"), lit(lang).as("lang"))
          }
        val best = greatest(scored: _*)
        Tables.documents(s, dir)
          .select(col("text"), st.as("__st"))
          .select(
            when(col("text").rlike("[\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}]"), "zh")
              .otherwise(when(best.getField("score") > 0, best.getField("lang"))
                .otherwise("unknown")).as("predicted_lang"))
          .groupBy(col("predicted_lang"))
          .agg(count(lit(1)).as("n"))
          .orderBy("predicted_lang")
      },
      Some("""WITH sc AS (
             |  SELECT text,
             |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |      x -> x IN ('the','and','of','to','is','in','that','it'))) AS s_en,
             |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |      x -> x IN ('der','die','das','und','ist','nicht','ein','zu'))) AS s_de,
             |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |      x -> x IN ('el','la','los','de','que','y','es','un'))) AS s_es,
             |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |      x -> x IN ('le','la','les','et','est','un','une','que'))) AS s_fr
             |  FROM documents
             |), p AS (
             |  SELECT CASE
             |    WHEN regexp_matches(text, '[\p{Han}\p{Hiragana}\p{Katakana}]') THEN 'zh'
             |    WHEN s_fr > 0 AND s_fr >= s_es AND s_fr >= s_de AND s_fr >= s_en THEN 'fr'
             |    WHEN s_es > 0 AND s_es >= s_fr AND s_es >= s_de AND s_es >= s_en THEN 'es'
             |    WHEN s_en > 0 AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
             |    WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es AND s_de >= s_en THEN 'de'
             |    ELSE 'unknown' END AS predicted_lang
             |  FROM sc
             |)
             |SELECT predicted_lang, COUNT(*) AS n FROM p
             |GROUP BY predicted_lang ORDER BY predicted_lang""".stripMargin)),

    // ------------------------------------------------------------------
    // MinHash+LSH near-dup pairs. The xxhash64 sketch itself is not
    // SQL-expressible, so the oracle-visible output is the banded form
    // (the q30 pattern, sketch edition): the EXACT n-gram Jaccard pairs at
    // the same 0.3 threshold — DuckDB replays them bit-for-bit, the q27
    // spelling — plus three in-band verdicts the MinHash result must
    // clear, the floors OpsSpec certifies at this parameterization:
    //   recall_ok     |est ∩ exact@0.3| >= 0.3·|exact@0.3| (banding hit
    //                 prob at j=0.3 is 1-(1-0.3²)^16 ≈ 0.78, → 1 as j→1;
    //                 the fixture's planted pairs all sit at j >= 0.8)
    //   precision_ok  >= 70% of emitted pairs have TRUE jaccard >= 0.15
    //                 (32-hash estimate at the 0.3 gate has se ≈ 0.08)
    //   est_err_ok    mean |est - true| <= 0.12 over emitted pairs with
    //                 true j >= 0.1 (estimator is unbiased, se ≈ 0.08)
    // The exact reference is bounded verification work over the SAME
    // fixture the sketch runs on — the lossless AllPairs join, not a
    // second sketch.
    QuerySpec(
      "q25_minhash_near_dup",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          shingleSize = 3, minJaccard = 0.1)
        val exact = truth.filter(col("jaccard") >= 0.3)
        val est = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
          numHashes = 32, shingleSize = 3, bands = 16, minJaccard = 0.3)
        val joined = est.join(
          truth.select(col("id_a"), col("id_b"), col("jaccard").as("__tj")),
          Seq("id_a", "id_b"), "left")
        val estStats = joined.agg(
          count(lit(1)).as("__n_est"),
          sum(when(coalesce(col("__tj"), lit(0.0)) >= 0.15, 1L).otherwise(0L))
            .as("__n_precise"),
          avg(when(col("__tj").isNotNull,
            abs(col("est_jaccard") - col("__tj")))).as("__mae"),
          sum(when(coalesce(col("__tj"), lit(0.0)) >= 0.3, 1L).otherwise(0L))
            .as("__hits"))
        val nExact = exact.agg(count(lit(1)).as("__exact"))
        val verdict = estStats.crossJoin(nExact).select(
          (col("__hits") >= col("__exact") * lit(0.3)).as("recall_ok"),
          (col("__n_precise") >= col("__n_est") * lit(0.7)).as("precision_ok"),
          (coalesce(col("__mae"), lit(0.0)) <= 0.12).as("est_err_ok"))
        exact.crossJoin(broadcast(verdict)) // 1-row verdict frame
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents
              |), sh AS (
              |  SELECT doc_id, unnest(list_distinct(
              |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks) - 1)])) AS s
              |  FROM t
              |), sz AS (
              |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
              |), inter AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
              |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2
              |)
              |SELECT i.id_a, i.id_b,
              |  ROUND(CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c), 4) AS jaccard,
              |  TRUE AS recall_ok, TRUE AS precision_ok, TRUE AS est_err_ok
              |FROM inter i
              |JOIN sz sa ON sa.doc_id = i.id_a
              |JOIN sz sb ON sb.doc_id = i.id_b
              |WHERE CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) >= 0.3
              |ORDER BY id_a, id_b""".stripMargin)),

    // ------------------------------------------------------------------
    // SimHash 64-bit sketches (Charikar STOC'02). Hash values are not
    // SQL-expressible, so the oracle-visible output is the banded form:
    // the EXACT high-similarity pairs (n-gram Jaccard >= 0.5, the q27
    // spelling — DuckDB-replayed) plus verdicts certifying the sketch:
    //   neardup_hamming_ok  per pair: Hamming(simhash_a, simhash_b) <= 20
    //                       of 64 bits (near-identical token sets weight
    //                       almost every bit the same way; random doc
    //                       pairs center at 32, ±3σ ≈ 32±12)
    //   banding_complete_ok global: the production 16-bit-chunk banding
    //                       returns EXACTLY the brute-force d<=3 pair set
    //                       (pigeonhole completeness, both directions)
    QuerySpec(
      "q26_simhash",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val sigs = Dedup.simhash(docs, "doc_id", "text")
        val brute = sigs.select(col("doc_id").as("id_a"), col("simhash").as("__sa"))
          .join(sigs.select(col("doc_id").as("id_b"), col("simhash").as("__sb")),
            col("id_a") < col("id_b"))
          .filter(expr("bit_count(__sa ^ __sb)") <= 3)
          .select(col("id_a"), col("id_b"))
        val banded = Dedup.simhashNearDupPairs(docs, "doc_id", "text",
          maxDistance = 3).select(col("id_a"), col("id_b"))
        val nBrute = brute.agg(count(lit(1)).as("__nb"))
        val nBand = banded.agg(count(lit(1)).as("__nd"))
        val nCommon = banded.join(brute, Seq("id_a", "id_b"), "left_semi")
          .agg(count(lit(1)).as("__common"))
        val verdict = nBrute.crossJoin(nBand).crossJoin(nCommon).select(
          (col("__nb") === col("__nd") && col("__common") === col("__nd"))
            .as("banding_complete_ok"))
        val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          shingleSize = 3, minJaccard = 0.5)
        exact
          .join(sigs.select(col("doc_id").as("id_a"), col("simhash").as("__sa")), "id_a")
          .join(sigs.select(col("doc_id").as("id_b"), col("simhash").as("__sb")), "id_b")
          .select(col("id_a"), col("id_b"), col("jaccard"),
            (expr("bit_count(__sa ^ __sb)") <= 20).as("neardup_hamming_ok"))
          .crossJoin(broadcast(verdict)) // 1-row verdict frame
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents
              |), sh AS (
              |  SELECT doc_id, unnest(list_distinct(
              |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks) - 1)])) AS s
              |  FROM t
              |), sz AS (
              |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
              |), inter AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
              |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2
              |)
              |SELECT i.id_a, i.id_b,
              |  ROUND(CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c), 4) AS jaccard,
              |  TRUE AS neardup_hamming_ok, TRUE AS banding_complete_ok
              |FROM inter i
              |JOIN sz sa ON sa.doc_id = i.id_a
              |JOIN sz sb ON sb.doc_id = i.id_b
              |WHERE CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) >= 0.5
              |ORDER BY id_a, id_b""".stripMargin)),

    // ------------------------------------------------------------------
    // EXACT n-gram Jaccard similarity join (lossless AllPairs/PPJoin prefix
    // filter — see Dedup.ngramJaccardPairs). The oracle computes the same
    // all-pairs semantics over shingle STRINGS; the Spark side works over
    // 64-bit shingle hashes, whose distinct/intersection counts coincide
    // with the strings' (collisions negligible), so the Jaccard values are
    // identical doubles on both engines.
    QuerySpec(
      "q27_ngram_jaccard",
      (s, dir) =>
        Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
          shingleSize = 3, minJaccard = 0.2)
          .orderBy("id_a", "id_b"),
      Some(s"""WITH t AS (
              |  SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents
              |), sh AS (
              |  SELECT doc_id, unnest(list_distinct(
              |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks) - 1)])) AS s
              |  FROM t
              |), sz AS (
              |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
              |), inter AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
              |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2
              |)
              |SELECT i.id_a, i.id_b,
              |  ROUND(CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c), 4) AS jaccard
              |FROM inter i
              |JOIN sz sa ON sa.doc_id = i.id_a
              |JOIN sz sb ON sb.doc_id = i.id_b
              |WHERE CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) >= 0.2
              |ORDER BY id_a, id_b""".stripMargin)),

    // ------------------------------------------------------------------
    // Brute-force cosine top-k vs one query embedding — the ANN baseline.
    // All element math in DOUBLE with left-to-right accumulation on both
    // engines.
    QuerySpec(
      "q28_cosine_topk",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val query = emb.filter(col("vec_id") === 0L)
          .select(Similarity.asDouble(col("embedding")).as("query_vec"))
        Similarity.bruteTopK(emb.filter(col("vec_id") =!= 0L), "vec_id", "embedding", query, 20)
          .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
      },
      Some("""SELECT e.vec_id,
             |  ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cosine
             |FROM embeddings e,
             |  (SELECT embedding FROM embeddings WHERE vec_id = 0) q
             |WHERE e.vec_id <> 0
             |ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC, e.vec_id
             |LIMIT 20""".stripMargin)),

    // ------------------------------------------------------------------
    // Embedding statistics: L2 norms per label.
    QuerySpec(
      "q29_embedding_norms",
      (s, dir) =>
        Tables.embeddings(s, dir)
          .select(col("label"),
            Similarity.norm(Similarity.asDouble(col("embedding"))).as("l2"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"), round(avg(col("l2")), 6).as("avg_norm"))
          .orderBy("label"),
      Some("""SELECT label, COUNT(*) AS n,
             |  ROUND(AVG(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x)))), 6) AS avg_norm
             |FROM embeddings GROUP BY label ORDER BY label""".stripMargin)),

    // ------------------------------------------------------------------
    // LSH-bucketed ANN (the 100 TB path: bucket join, not cross product).
    // Deterministic hyperplanes (seed 42); nBits/nTables come from
    // Similarity.lshPolicy (corpus-size rule, see its scaladoc) instead
    // of fixture constants. The LSH values are hash-seeded (not
    // SQL-expressible), so the oracle-visible output is the
    // annWithExactVerdict form: exact top-3 per query (DuckDB-replayed)
    // + a recall@10 >= 0.9 verdict for the LSH result vs the exact
    // top-10 — the floor IvfSpec certifies at these policy params. NOTE
    // on reading the bench number: at fixture N the policy's per-query
    // candidate coverage (≤ nTables·targetBucket/N) is close to 1, so
    // q30 timing is near-brute-force by design — coverage shrinks as N
    // grows, and brute force IS the right plan at N this small. The
    // fixture embeddings are uniform-random (structureless), the ANN
    // worst case: recall ≈ candidate coverage. Real embedding corpora
    // cluster, so the same recall costs far fewer probes there.
    QuerySpec(
      "q30_ann_lsh",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // one metadata-cheap count derives scale-appropriate parameters;
        // designCosine 0.4 ≈ the top-10 neighbor cosine on this corpus.
        // multiProbe: 1-bit-flip probing reaches the same 0.95 recall
        // target with ~4x fewer tables (see lshPolicy scaladoc)
        val (nBits, nTables) = Similarity.lshPolicy(emb.count(), designCosine = 0.4,
          multiProbe = true)
        val queries = emb.filter(col("vec_id") < 10L)
          .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
        val ann = Similarity.annTopK(emb, "vec_id", "embedding", queries,
          "query_id", "query_vec",
          k = 10, nBits = nBits, nTables = nTables, seed = 42L, multiProbe = true)
        annWithExactVerdict(emb, queries, ann, k = 10, exactK = 3,
          recallFloor = 0.9, verdictCol = "lsh_recall_ok")
      },
      Some(annOracleSql(exactK = 3, verdictCol = "lsh_recall_ok"))),

    // ------------------------------------------------------------------
    // EXACT embedding-cosine near-duplicate pairs: all-pairs, the
    // oracle-grade flavor (identical arithmetic spelling to DuckDB's
    // list_cosine_similarity — bit-reproducible thresholding, see q28).
    // The subquadratic LSH path is declared as q56 and certified against
    // this result (precision 1.0 + recall floor asserted in OpsSpec).
    QuerySpec(
      "q31_cosine_near_dup",
      (s, dir) =>
        Similarity.cosineNearDupPairsExact(Tables.embeddings(s, dir), "vec_id", "embedding",
          minCosine = 0.4)
          .sortWithinPartitions("id_a", "id_b"),
      Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
             |ORDER BY id_a, id_b""".stripMargin)),

    // ------------------------------------------------------------------
    // LSH-bucketed cosine near-dup (the 100 TB path: bucket-join candidates
    // + exact verify). Hash-seeded bucketing is not SQL-expressible, so the
    // oracle-visible output is the banded form: the EXACT q31 pair set
    // (DuckDB replays it bit-for-bit, the q31 spelling) plus two in-band
    // verdicts the LSH result must clear —
    //   lsh_subset_ok  every emitted LSH pair is in the exact set
    //                  (precision EXACTLY 1.0: candidates are
    //                  exact-verified before emission)
    //   lsh_recall_ok  |lsh| >= 0.65·|exact| — the OpsSpec stress floor at
    //                  this deliberately low 0.4 threshold (θ≈66°);
    //                  recall ≈ 1 at true near-dup thresholds (>= 0.95)
    // nBits/nTables from Similarity.lshPolicy — see q30's note on reading
    // fixture-scale bench numbers (the exact reference side makes this
    // query's bench cost ≈ q31 + the LSH path itself).
    QuerySpec(
      "q56_cosine_near_dup_lsh",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val (nBits, nTables) = Similarity.lshPolicy(emb.count(), designCosine = 0.4,
          multiProbe = true)
        val lsh = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
          minCosine = 0.4, nBits = nBits, nTables = nTables, seed = 42L,
          multiProbe = true)
          .select(col("id_a"), col("id_b"))
        val exact = Similarity.cosineNearDupPairsExact(emb, "vec_id", "embedding",
          minCosine = 0.4)
        val hits = lsh.join(exact.select("id_a", "id_b"), Seq("id_a", "id_b"),
          "left_semi").agg(count(lit(1)).as("__hits"))
        val nLsh = lsh.agg(count(lit(1)).as("__lsh"))
        val nExact = exact.agg(count(lit(1)).as("__exact"))
        val verdict = hits.crossJoin(nLsh).crossJoin(nExact).select(
          (col("__hits") === col("__lsh")).as("lsh_subset_ok"),
          (col("__hits") >= col("__exact") * lit(0.65)).as("lsh_recall_ok"))
        exact.crossJoin(broadcast(verdict)) // 1-row verdict frame
          .orderBy("id_a", "id_b")
      },
      Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine,
             |  TRUE AS lsh_subset_ok, TRUE AS lsh_recall_ok
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
             |ORDER BY id_a, id_b""".stripMargin)),

    // ------------------------------------------------------------------
    // IVF ANN (learned-centroid scale path; spherical k-means trained in
    // DataFrame ops, probes nProbe inverted lists). The index is
    // iterative/seeded (not SQL-expressible), so like q30 the
    // oracle-visible output is annWithExactVerdict: exact top-3 per
    // query (DuckDB-replayed) + a recall@10 >= 0.9 verdict — the floor
    // IvfSpec certifies at these policy params. nCentroids/nProbe from
    // Ivf.ivfPolicy (√N rule, see its scaladoc) in structureless mode —
    // the uniform-random fixture is the ANN worst case (recall ≈ scan
    // coverage); real clustered corpora use the default mode and probe
    // far fewer lists (see q30's note).
    QuerySpec(
      "q46_ann_ivf",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val (nc, np) = graft.ops.Ivf.ivfPolicy(emb.count(), targetRecall = 0.9,
          structureless = true)
        val queries = emb.filter(col("vec_id") < 10L)
          .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
        val ann = graft.ops.Ivf.topK(emb, "vec_id", "embedding", queries,
          "query_id", "query_vec", k = 10, nCentroids = nc, nProbe = np)
        annWithExactVerdict(emb, queries, ann, k = 10, exactK = 3,
          recallFloor = 0.9, verdictCol = "ivf_recall_ok")
      },
      Some(annOracleSql(exactK = 3, verdictCol = "ivf_recall_ok"))),

    // ------------------------------------------------------------------
    // Sketch aggregates (HLL++ distinct, approximate quantiles) — the
    // 100 TB drop-ins for q44/q42. Sketch VALUES differ across engines, so
    // the oracle-visible output is (exact stats, in-band verdicts): the
    // query still runs both sketches, then checks them against exact
    // aggregates computed in the same pass — HLL++ at rsd=0.01 must land
    // within ±5% (5σ) of the exact distinct count, and percentile_approx
    // at accuracy=1000 (rank error ≤ 0.001) must land inside the exact
    // [q0.49, q0.51] value band. DuckDB replays the exact columns and
    // asserts the verdicts are all TRUE — a bounded-error oracle under the
    // driver's hash compare. ApproxSpec additionally asserts tolerances.
    // PLAN NOTE: the exact distinct count runs as its OWN aggregate and
    // joins back on the 5-row group keys. Folding count_distinct into the
    // sketch aggregate re-keys the partial phase by (group, user_id) —
    // every one of those groups then carries a 16 KB HLL buffer plus two
    // percentile heaps (measured 10× slower at sf0.1). Two skinny scans +
    // a broadcast join of |groups| rows beats one fat mixed aggregate.
    QuerySpec(
      "q47_approx_sketches",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val sketches = ev
          .groupBy(col("event_type"))
          .agg(
            approx_count_distinct(col("user_id"), rsd = 0.01).as("approx_users"),
            percentile_approx(col("value"), lit(0.5), lit(1000)).as("approx_p50"),
            expr("percentile(value, array(0.49D, 0.51D))").as("__band"))
        val exact = ev.groupBy(col("event_type"))
          .agg(count_distinct(col("user_id")).as("exact_users"))
        sketches.join(exact, Seq("event_type"))
          .select(col("event_type"), col("exact_users"),
            (abs(col("approx_users") - col("exact_users"))
              <= col("exact_users") * lit(0.05)).as("users_within_5pct"),
            (col("approx_p50") >= element_at(col("__band"), 1) &&
              col("approx_p50") <= element_at(col("__band"), 2))
              .as("p50_within_rank_band"))
          .sortWithinPartitions("event_type")
      },
      Some("""SELECT event_type,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
             |  TRUE AS users_within_5pct,
             |  TRUE AS p50_within_rank_band
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // Multimodal plumbing: opaque binary payload + typed metadata, batch
    // feature extraction via mapPartitions (decode kernel stubbed — the
    // Spark-side schema/batching is the tested part). The stub folds
    // bytes into 8 lanes with EXACT integer sums + one float rounding per
    // lane (Multimodal.decodeStub), so the oracle can replay it from the
    // UTF-8 bytes: hex-decode each byte, integer-sum per lane (exact),
    // one CAST to REAL per lane (IEEE round-to-nearest, same as Java's
    // double→float), then left-to-right double addition of the 8 lanes —
    // the same order Spark's `aggregate` over the features array uses.
    QuerySpec(
      "q32_image_headers",
      (s, dir) => {
        // REAL binary decode: every doc gets genuine PNG or JPEG header
        // bytes (assembled from doc_id-derived dimensions with codegen
        // built-ins — see Multimodal.pngHeaderBytes/jpegHeaderBytes), and
        // the native ImageMeta expression parses width/height/channels/
        // bit-depth back OUT of the byte stream (IHDR chunk / SOFn marker
        // walk, COM segment skipped). The oracle recomputes the planted
        // dimensions from doc_id arithmetic — any parser drift from the
        // public layouts hash-mismatches.
        val dims = Tables.documents(s, dir).select(col("doc_id"),
          (col("doc_id") % 1000 + 1).cast("int").as("__w"),
          ((col("doc_id") * 7) % 800 + 1).cast("int").as("__h"))
        val media = dims.select(col("doc_id"),
          when(col("doc_id") % 2 === 0,
            Multimodal.jpegHeaderBytes(col("__w"), col("__h"),
              when(col("doc_id") % 4 === 0, lit(1)).otherwise(lit(3))))
          .otherwise(
            Multimodal.pngHeaderBytes(col("__w"), col("__h"),
              when(col("doc_id") % 3 === 0, lit(1))
                .when(col("doc_id") % 3 === 1, lit(3))
                .otherwise(lit(4))))
          .as("bytes"))
        media.select(col("doc_id").as("media_id"),
          Multimodal.imageMeta(col("bytes")).as("__m"))
          .select(col("media_id"),
            col("__m.format").as("format"),
            col("__m.width").cast("long").as("width"),
            col("__m.height").cast("long").as("height"),
            col("__m.channels").cast("long").as("channels"),
            col("__m.bit_depth").cast("long").as("bit_depth"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
             |  CASE WHEN doc_id % 2 = 0 THEN 'jpeg' ELSE 'png' END AS format,
             |  doc_id % 1000 + 1 AS width,
             |  (doc_id * 7) % 800 + 1 AS height,
             |  CAST(CASE WHEN doc_id % 2 = 0
             |    THEN (CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 3 END)
             |    ELSE (CASE WHEN doc_id % 3 = 0 THEN 1
             |               WHEN doc_id % 3 = 1 THEN 3 ELSE 4 END)
             |  END AS BIGINT) AS channels,
             |  CAST(8 AS BIGINT) AS bit_depth
             |FROM documents ORDER BY media_id""".stripMargin)),

    // ------------------------------------------------------------------
    // REAL PNG pixel decode (q32's step past headers): every doc gets a
    // genuine PNG — gradient pixels, zlib-deflated IDAT, real CRCs,
    // scanline filters cycling through all five types — and the native
    // PngPixelStats expression inflates, defilters, and reduces it to
    // per-channel means. The oracle recomputes the means closed-form from
    // the doc_id-derived gradient rule, so a defilter or inflate bug
    // hash-mismatches. PngPixelSpec additionally certifies the decoder
    // against the JDK's INDEPENDENT ImageIO decoder on the same bytes.
    QuerySpec(
      "q110_png_decode",
      (s, dir) => {
        val p = Tables.documents(s, dir).select(col("doc_id"),
          (col("doc_id") % 7 + 2).cast("int").as("__w"),
          ((col("doc_id") * 3) % 6 + 2).cast("int").as("__h"),
          ((col("doc_id") * 37) % 256).cast("int").as("__r0"),
          ((col("doc_id") * 59) % 256).cast("int").as("__g0"),
          ((col("doc_id") * 83) % 256).cast("int").as("__b0"))
        p.select(col("doc_id").as("media_id"),
          Multimodal.pngPixelStats(Multimodal.pngGradientBytes(
            col("__w"), col("__h"), col("__r0"), col("__g0"), col("__b0")))
            .as("__m"))
          .select(col("media_id"),
            col("__m.width").cast("long").as("width"),
            col("__m.height").cast("long").as("height"),
            col("__m.channels").cast("long").as("channels"),
            round(col("__m.mean_r"), 6).as("mean_r"),
            round(col("__m.mean_g"), 6).as("mean_g"),
            round(col("__m.mean_b"), 6).as("mean_b"))
          .sortWithinPartitions("media_id")
      },
      Some("""WITH p AS (
             |  SELECT doc_id, doc_id % 7 + 2 AS w, (doc_id * 3) % 6 + 2 AS h,
             |    (doc_id * 37) % 256 AS r0, (doc_id * 59) % 256 AS g0,
             |    (doc_id * 83) % 256 AS b0
             |  FROM documents
             |), px AS (
             |  SELECT p.doc_id, p.w, p.h,
             |    (p.r0 + x.range + y.range) % 256 AS r,
             |    (p.g0 + x.range + y.range) % 256 AS g,
             |    (p.b0 + x.range + y.range) % 256 AS b
             |  FROM p CROSS JOIN range(0, 8) x CROSS JOIN range(0, 7) y
             |  WHERE x.range < p.w AND y.range < p.h
             |)
             |SELECT doc_id AS media_id, CAST(MAX(w) AS BIGINT) AS width,
             |  CAST(MAX(h) AS BIGINT) AS height, CAST(3 AS BIGINT) AS channels,
             |  ROUND(AVG(CAST(r AS DOUBLE)), 6) AS mean_r,
             |  ROUND(AVG(CAST(g AS DOUBLE)), 6) AS mean_g,
             |  ROUND(AVG(CAST(b AS DOUBLE)), 6) AS mean_b
             |FROM px GROUP BY doc_id ORDER BY media_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Image RESIZE over genuinely decoded pixels (the mandate's missing
    // multimodal verb): decode → nearest-neighbor resample to per-doc
    // target dims (source pixel ⌊x·w/outW⌋ — integer-exact) → per-channel
    // integer sums over the resized buffer, all inside one codegen span.
    // The oracle replays the NN index mapping and the gradient rule with
    // integer division, so a single mis-sampled pixel hash-mismatches.
    QuerySpec(
      "q112_image_resize",
      (s, dir) => {
        val p = Tables.documents(s, dir).select(col("doc_id"),
          (col("doc_id") % 9 + 4).cast("int").as("__w"),
          ((col("doc_id") * 3) % 8 + 4).cast("int").as("__h"),
          ((col("doc_id") * 37) % 256).cast("int").as("__r0"),
          ((col("doc_id") * 59) % 256).cast("int").as("__g0"),
          ((col("doc_id") * 83) % 256).cast("int").as("__b0"),
          (col("doc_id") % 5 + 2).cast("int").as("__ow"),
          ((col("doc_id") * 7) % 3 + 2).cast("int").as("__oh"))
        p.select(col("doc_id").as("media_id"),
          Multimodal.pngResize(Multimodal.pngGradientBytes(
            col("__w"), col("__h"), col("__r0"), col("__g0"), col("__b0")),
            col("__ow"), col("__oh")).as("__rs"))
          .select(col("media_id"),
            col("__rs.width").cast("long").as("width"),
            col("__rs.height").cast("long").as("height"),
            Multimodal.rgbChannelStats(col("__rs.pixels"), col("__rs.channels"))
              .as("__st"))
          .select(col("media_id"), col("width"), col("height"),
            col("__st.n_px").as("n_px"), col("__st.sum_r").as("sum_r"),
            col("__st.sum_g").as("sum_g"), col("__st.sum_b").as("sum_b"))
          .sortWithinPartitions("media_id")
      },
      Some("""WITH p AS (
             |  SELECT doc_id, doc_id % 9 + 4 AS w, (doc_id * 3) % 8 + 4 AS h,
             |    (doc_id * 37) % 256 AS r0, (doc_id * 59) % 256 AS g0,
             |    (doc_id * 83) % 256 AS b0,
             |    doc_id % 5 + 2 AS ow, (doc_id * 7) % 3 + 2 AS oh
             |  FROM documents
             |), px AS (
             |  SELECT p.doc_id, p.ow, p.oh,
             |    (p.r0 + (x.range * p.w) // p.ow + (y.range * p.h) // p.oh) % 256 AS r,
             |    (p.g0 + (x.range * p.w) // p.ow + (y.range * p.h) // p.oh) % 256 AS g,
             |    (p.b0 + (x.range * p.w) // p.ow + (y.range * p.h) // p.oh) % 256 AS b
             |  FROM p CROSS JOIN range(0, 7) x CROSS JOIN range(0, 5) y
             |  WHERE x.range < p.ow AND y.range < p.oh
             |)
             |SELECT doc_id AS media_id, CAST(MAX(ow) AS BIGINT) AS width,
             |  CAST(MAX(oh) AS BIGINT) AS height,
             |  CAST(COUNT(*) AS BIGINT) AS n_px,
             |  CAST(SUM(r) AS BIGINT) AS sum_r,
             |  CAST(SUM(g) AS BIGINT) AS sum_g,
             |  CAST(SUM(b) AS BIGINT) AS sum_b
             |FROM px GROUP BY doc_id ORDER BY media_id""".stripMargin)),

    // ------------------------------------------------------------------
    // DSIR importance resampling (Xie et al., NeurIPS 2023): rank raw
    // docs by how target-like their hashed unigram+bigram profile is —
    // logw = Σ_features [ln(T_b+1) − ln(R_b+1) + ln(Rtot+B) − ln(Ttot+B)]
    // — and select the top-50 (deterministic rounded-weight ranking; the
    // paper's Gumbel perturbation is replaced by the id tiebreak so every
    // engine replays the SAME selection). The oracle recomputes every
    // occurrence term: md5 bucketing, both distributions, the DECIMAL-
    // routed per-doc sum, and the top-k membership.
    QuerySpec(
      "q113_dsir_resample",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val target = docs.filter(col("source").isin("src0", "src1"))
        // one weights pass, persisted: the top-k branch (dsirSample's
        // exact plan — TakeOrderedAndProject on the rounded weight) and
        // the per-doc report read the SAME computed frame. The cache is
        // never explicitly unpersisted (the query returns a plan, not a
        // result) but stays BOUNDED: Spark's CacheManager dedupes by
        // canonicalized plan, so re-running this query re-uses the one
        // entry (a few thousand skinny rows) instead of accumulating —
        // and makes repeat runs serve from cache (see COVERAGE bench note)
        val w = Curation.dsirWeights(docs, "doc_id", "text", target, "text")
          .persist()
        val sel = w.filter(col("log_weight").isNotNull)
          .orderBy(col("log_weight").desc, col("doc_id")).limit(50)
          .select(col("doc_id"), lit(true).as("__sel"))
        w.join(broadcast(sel), Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_features"), col("log_weight"),
            coalesce(col("__sel"), lit(false)).as("selected"))
          .orderBy("doc_id")
      },
      Some("""WITH n AS (
             |  SELECT doc_id, source,
             |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
             |  FROM documents
             |), t AS (
             |  SELECT doc_id, source, string_split(nt, ' ') AS toks
             |  FROM n WHERE LENGTH(nt) > 0
             |), feats AS (
             |  SELECT doc_id, source, unnest(list_concat(toks,
             |    [toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))])) AS g
             |  FROM t
             |), fb AS (
             |  SELECT doc_id, source,
             |    CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT) % 10000 AS b
             |  FROM feats
             |), rc AS (
             |  SELECT b, COUNT(*) AS rc FROM fb GROUP BY 1
             |), tc AS (
             |  SELECT b, COUNT(*) AS tc FROM fb
             |  WHERE source IN ('src0', 'src1') GROUP BY 1
             |), tot AS (
             |  SELECT (SELECT SUM(rc) FROM rc) AS rtot,
             |         (SELECT SUM(tc) FROM tc) AS ttot
             |), sc AS (
             |  SELECT fb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_features,
             |    SUM(CAST(ln(COALESCE(tc.tc, 0) + 1.0) - ln(rc.rc + 1.0)
             |      + ln(tot.rtot + 10000.0) - ln(tot.ttot + 10000.0)
             |      AS DECIMAL(18,12))) AS s
             |  FROM fb JOIN rc ON rc.b = fb.b
             |  LEFT JOIN tc ON tc.b = fb.b CROSS JOIN tot
             |  GROUP BY 1
             |), sel AS (
             |  SELECT doc_id FROM sc
             |  ORDER BY ROUND(CAST(CAST(s AS VARCHAR) AS DOUBLE), 6) DESC, doc_id
             |  LIMIT 50
             |)
             |SELECT d.doc_id, COALESCE(sc.n_features, 0) AS n_features,
             |  ROUND(CAST(CAST(sc.s AS VARCHAR) AS DOUBLE), 6) AS log_weight,
             |  (d.doc_id IN (SELECT doc_id FROM sel)) AS selected
             |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Temperature (α) mixture sampling (Lample & Conneau 2019, XLM-R):
    // target weight n_d^α / Σ n_e^α with α = 0.5 flattens a skewed
    // domain mix (domains here are source prefixes — one 11×-heavy head
    // plus nine tails), then the md5 hash gate keeps each domain at its
    // computed rate under a 0.5 total budget. The oracle replays the
    // powered-count DECIMAL sum, the thresholds, and every per-row gate.
    QuerySpec(
      "q114_temperature_mix",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .withColumn("domain", substring(col("source"), 1, 4))
        val w = Curation.temperatureWeights(docs, "domain",
          alpha = 0.5, budgetFrac = 0.5)
        val kept = Curation.temperatureSample(docs, "doc_id", "domain",
          alpha = 0.5, budgetFrac = 0.5)
          .groupBy(col("domain")).agg(count(lit(1)).as("n_kept"))
        w.join(kept, Seq("domain"), "left")
          .select(col("domain"), col("n_dom"),
            round(col("weight"), 6).as("weight"), col("thresh"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"))
          .orderBy("domain")
      },
      Some("""WITH d0 AS (
             |  SELECT doc_id, substring(source, 1, 4) AS domain FROM documents
             |), c AS (
             |  SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_dom,
             |    CAST(pow(COUNT(*), 0.5) AS DECIMAL(28,12)) AS pw
             |  FROM d0 GROUP BY 1
             |), t AS (
             |  SELECT SUM(n_dom) AS n_tot, SUM(pw) AS sp FROM c
             |), f AS (
             |  SELECT c.domain, c.n_dom,
             |    CAST(CAST(c.pw AS VARCHAR) AS DOUBLE)
             |      / CAST(CAST(t.sp AS VARCHAR) AS DOUBLE) AS w,
             |    FLOOR(LEAST(1.0,
             |      CAST(CAST(c.pw AS VARCHAR) AS DOUBLE)
             |        / CAST(CAST(t.sp AS VARCHAR) AS DOUBLE)
             |      * 0.5 * t.n_tot / c.n_dom) * 10000) AS thresh
             |  FROM c, t
             |)
             |SELECT f.domain, f.n_dom, ROUND(f.w, 6) AS weight,
             |  CAST(f.thresh AS BIGINT) AS thresh,
             |  CAST(COUNT(CASE WHEN
             |    CAST(('0x' || substring(md5(CAST(d0.doc_id AS VARCHAR)), 1, 8))
             |      AS BIGINT) % 10000 < f.thresh THEN 1 END) AS BIGINT) AS n_kept
             |FROM d0 JOIN f USING (domain)
             |GROUP BY f.domain, f.n_dom, f.w, f.thresh
             |ORDER BY f.domain""".stripMargin)),

    // ------------------------------------------------------------------
    // REAL PCM sample decode (q103's step past headers): every doc gets a
    // genuine tone-filled WAV — closed-form sawtooth samples, complete
    // RIFF layout — and the native AudioPcmStats expression decodes the
    // data chunk (8-bit unsigned-midpoint / 16-bit signed LE) back to
    // integer-exact amplitude statistics. The oracle recomputes every
    // sample from the flattened-index formula, so a sign-extension or
    // offset bug in the decoder hash-mismatches.
    QuerySpec(
      "q115_audio_pcm_decode",
      (s, dir) => {
        val p = Tables.documents(s, dir).select(col("doc_id"),
          (col("doc_id") % 2 + 1).cast("int").as("__ch"),
          when(col("doc_id") % 2 === 0, lit(16)).otherwise(lit(8)).as("__bits"),
          (col("doc_id") % 50 + 1).cast("int").as("__frames"))
        p.select(col("doc_id").as("media_id"),
          Multimodal.audioPcmStats(Multimodal.wavToneBytes(
            col("__ch"), lit(16000), col("__bits"), col("__frames"))).as("__s"))
          .select(col("media_id"),
            col("__s.n_samples").as("n_samples"),
            col("__s.sum_amp").as("sum_amp"),
            col("__s.sum_abs").as("sum_abs"),
            col("__s.min_amp").cast("long").as("min_amp"),
            col("__s.max_amp").cast("long").as("max_amp"))
          .orderBy("media_id")
      },
      Some("""WITH p AS (
             |  SELECT doc_id, doc_id % 2 + 1 AS ch,
             |    CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 8 END AS bits,
             |    doc_id % 50 + 1 AS frames
             |  FROM documents
             |), s AS (
             |  SELECT p.doc_id,
             |    CASE WHEN p.bits = 8 THEN (i.range * 37 + 11) % 256 - 128
             |         ELSE (i.range * 1031 + 7) % 65536 - 32768 END AS amp
             |  FROM p CROSS JOIN range(0, 100) i
             |  WHERE i.range < p.frames * p.ch
             |)
             |SELECT doc_id AS media_id,
             |  CAST(COUNT(*) AS BIGINT) AS n_samples,
             |  CAST(SUM(amp) AS BIGINT) AS sum_amp,
             |  CAST(SUM(ABS(amp)) AS BIGINT) AS sum_abs,
             |  CAST(MIN(amp) AS BIGINT) AS min_amp,
             |  CAST(MAX(amp) AS BIGINT) AS max_amp
             |FROM s GROUP BY doc_id ORDER BY media_id""".stripMargin)),

    // ------------------------------------------------------------------
    // REAL JPEG pixel decode through the JDK's OWN codec (javax.imageio
    // ships with every JVM — Huffman + IDCT in the platform decoder, no
    // external library): fixture JPEGs are genuinely DCT-encoded gradient
    // images (ImageIO write path), decoded back by JpegPixelStats. JPEG
    // is lossy, so this is a banded verdict oracle: dims replay exactly;
    // each channel mean must land within ±4 of the closed-form gradient
    // mean (offsets bounded so the gradient never wraps mod 256 — the
    // closed form is then linear, r0 + (w-1)/2 + (h-1)/2).
    QuerySpec(
      "q116_jpeg_decode",
      (s, dir) => {
        val p = Tables.documents(s, dir).select(col("doc_id"),
          (col("doc_id") % 9 + 8).cast("int").as("__w"),
          ((col("doc_id") * 3) % 7 + 8).cast("int").as("__h"),
          ((col("doc_id") * 37) % 200).cast("int").as("__r0"),
          ((col("doc_id") * 59) % 200).cast("int").as("__g0"),
          ((col("doc_id") * 83) % 200).cast("int").as("__b0"))
        val closed = (c0: org.apache.spark.sql.Column,
                      w: org.apache.spark.sql.Column,
                      h: org.apache.spark.sql.Column) =>
          c0.cast("double") + (w - 1).cast("double") / 2.0 +
            (h - 1).cast("double") / 2.0
        p.select(col("doc_id").as("media_id"),
          col("__w"), col("__h"), col("__r0"), col("__g0"), col("__b0"),
          Multimodal.jpegPixelStats(Multimodal.jpegGradientBytes(
            col("__w"), col("__h"), col("__r0"), col("__g0"), col("__b0")))
            .as("__m"))
          .select(col("media_id"),
            col("__m.width").cast("long").as("width"),
            col("__m.height").cast("long").as("height"),
            (abs(col("__m.mean_r") - closed(col("__r0"), col("__w"), col("__h")))
              <= 4.0).as("mean_r_ok"),
            (abs(col("__m.mean_g") - closed(col("__g0"), col("__w"), col("__h")))
              <= 4.0).as("mean_g_ok"),
            (abs(col("__m.mean_b") - closed(col("__b0"), col("__w"), col("__h")))
              <= 4.0).as("mean_b_ok"))
          .sortWithinPartitions("media_id")
      },
      Some("""SELECT doc_id AS media_id,
             |  CAST(doc_id % 9 + 8 AS BIGINT) AS width,
             |  CAST((doc_id * 3) % 7 + 8 AS BIGINT) AS height,
             |  true AS mean_r_ok, true AS mean_g_ok, true AS mean_b_ok
             |FROM documents ORDER BY media_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Gopher-style per-rule quality gate (Rae et al. 2021 §A1.1): seven
    // independently-reported rule verdicts + the conjunction, every ratio
    // threshold a CROSS-MULTIPLIED integer comparison (no division, no
    // doubles) so the oracle replays each boundary exactly. minWords
    // lowered to 10 for the fixture corpus so both branches of the word-
    // count rule are exercised.
    QuerySpec(
      "q117_gopher_rules",
      (s, dir) => {
        graft.ops.TextOps.gopherRules(Tables.documents(s, dir),
          "doc_id", "text", minWords = 10L)
          .sortWithinPartitions("doc_id")
      },
      Some("""WITH b AS (
             |  SELECT doc_id, COALESCE(text, '') AS text,
             |    trim(regexp_replace(lower(COALESCE(text, '')), '\s+', ' ', 'g')) AS nt
             |  FROM documents
             |), t AS (
             |  SELECT doc_id, text,
             |    CASE WHEN LENGTH(nt) = 0 THEN [] ELSE string_split(nt, ' ') END AS toks,
             |    string_split(text, chr(10)) AS ls
             |  FROM b
             |), m AS (
             |  SELECT doc_id,
             |    CAST(len(toks) AS BIGINT) AS n_words,
             |    CAST(len(ls) AS BIGINT) AS n_lines,
             |    CAST(COALESCE(list_aggregate(list_transform(toks, x -> len(x)), 'sum'), 0)
             |      AS BIGINT) AS chars,
             |    CAST(len(text) - len(replace(text, '#', ''))
             |      + len(text) - len(replace(text, '…', ''))
             |      + (len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT) AS symbols,
             |    CAST(len([x FOR x IN ls IF regexp_matches(ltrim(x), '^[-*•]')])
             |      AS BIGINT) AS bullets,
             |    CAST(len([x FOR x IN ls IF regexp_matches(rtrim(x), '(\.\.\.|…)$')])
             |      AS BIGINT) AS ells,
             |    CAST(len([x FOR x IN toks IF regexp_matches(x, '[a-z]')])
             |      AS BIGINT) AS alpha,
             |    CAST(len(list_distinct(list_intersect(list_distinct(toks),
             |      ['the','be','to','of','and','that','have','with','this','it'])))
             |      AS BIGINT) AS stops
             |  FROM t
             |)
             |SELECT doc_id, n_words, n_lines,
             |  (n_words BETWEEN 10 AND 100000) AS word_count_ok,
             |  (3 * n_words <= chars AND chars <= 10 * n_words) AS mean_len_ok,
             |  (10 * symbols <= n_words) AS symbol_ok,
             |  (10 * bullets <= 9 * n_lines) AS bullet_ok,
             |  (10 * ells <= 3 * n_lines) AS ellipsis_ok,
             |  (5 * alpha >= 4 * n_words) AS alpha_ok,
             |  (stops >= 2) AS stopword_ok,
             |  ((n_words BETWEEN 10 AND 100000)
             |    AND (3 * n_words <= chars AND chars <= 10 * n_words)
             |    AND (10 * symbols <= n_words)
             |    AND (10 * bullets <= 9 * n_lines)
             |    AND (10 * ells <= 3 * n_lines)
             |    AND (5 * alpha >= 4 * n_words)
             |    AND (stops >= 2)) AS keep
             |FROM m ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Deterministic token-balanced training shards (the pipeline-ending
    // manifest): corpus in md5-hash "global shuffle" order, shard id =
    // ⌊cumBefore·N/total⌋ — pure integer arithmetic the oracle replays
    // with one window cumsum. 7 range partitions against 8 shards
    // exercises offsets crossing partition boundaries.
    QuerySpec(
      "q118_token_shards",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .withColumn("__tok",
            coalesce(graft.ops.TextOps.tokenCount(col("text")), lit(0L)))
        Curation.tokenShards(docs, "doc_id", "__tok",
          nShards = 8, numPartitions = 7)
          .groupBy(col("shard_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("__tok")).as("n_tokens"))
          .orderBy("shard_id")
      },
      Some("""WITH w AS (
             |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
             |    COALESCE(CASE WHEN LENGTH(trim(text)) = 0 THEN 0
             |      ELSE len(string_split_regex(trim(text), '\s+')) END, 0) AS w
             |  FROM documents
             |), c AS (
             |  SELECT doc_id, w,
             |    COALESCE(SUM(w) OVER (ORDER BY h, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
             |    (SELECT SUM(w) FROM w) AS total
             |  FROM w
             |)
             |SELECT CAST(LEAST(7, cb * 8 // total) AS BIGINT) AS shard_id,
             |  CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(w) AS BIGINT) AS n_tokens
             |FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin)),

    // ------------------------------------------------------------------
    // UNIFIED multimodal feature extraction (magic-sniff dispatch): one
    // mixed corpus — real PNG (kind 0), real JPEG (kind 1), real WAV
    // (kind 2), planted junk bytes (kind 3) — through a single
    // extractFeatures call. Content sniffing must route every payload to
    // its GENUINE decoder (the stub lane is reachable ONLY by the junk
    // rows — `decoded` pins the dispatch per row), and the feature lanes
    // must replay per format: PNG closed-form gradient means exact
    // (no-wrap offsets, the q116 bound), WAV tone sums recomputed
    // exactly from the sample formula, stub lanes exact byte folds, and
    // JPEG means within the q116 lossy band (the JDK codec's DCT
    // round-trip).
    QuerySpec(
      "q119_multimodal_dispatch",
      (s, dir) => {
        val kindD = (col("doc_id") % 4).cast("int")
        val bytes = when(kindD === 0, Multimodal.pngGradientBytes(
            (col("doc_id") % 7 + 2).cast("int"),
            ((col("doc_id") * 3) % 6 + 2).cast("int"),
            ((col("doc_id") * 37) % 200).cast("int"),
            ((col("doc_id") * 59) % 200).cast("int"),
            ((col("doc_id") * 83) % 200).cast("int")))
          .when(kindD === 1, Multimodal.jpegGradientBytes(
            (col("doc_id") % 9 + 8).cast("int"),
            ((col("doc_id") * 3) % 7 + 8).cast("int"),
            ((col("doc_id") * 37) % 200).cast("int"),
            ((col("doc_id") * 59) % 200).cast("int"),
            ((col("doc_id") * 83) % 200).cast("int")))
          .when(kindD === 2, Multimodal.wavToneBytes(
            (col("doc_id") % 2 + 1).cast("int"), lit(16000), lit(8),
            (col("doc_id") % 50 + 1).cast("int")))
          .otherwise(unhex(concat(lit("4A554E4B"), // "JUNK" + 1 varying byte
            lpad(hex(col("doc_id") % 256), 2, "0"))))
        val media = Tables.documents(s, dir)
          .select(col("doc_id").as("media_id"), bytes.as("bytes"), kindD.as("__k"))
          .select(col("media_id"), col("bytes"),
            struct(element_at(array(lit("image/png"), lit("image/jpeg"),
              lit("audio/wav"), lit("application/octet-stream")), col("__k") + 1)
                .as("format"),
              lit(0).as("width"), lit(0).as("height"),
              coalesce(length(col("bytes")).cast("long"), lit(0L)).as("nBytes"))
              .as("meta"))
        val feats = Multimodal.extractFeatures(s, media).toDF()

        // every expectation re-derives from media_id arithmetic
        val k = col("media_id") % 4
        def f(i: Int) = element_at(col("features"), i + 1)
        val wExp = when(k === 0, col("media_id") % 7 + 2)
          .when(k === 1, col("media_id") % 9 + 8)
        val hExp = when(k === 0, (col("media_id") * 3) % 6 + 2)
          .when(k === 1, (col("media_id") * 3) % 7 + 8)
        def closed(mult: Int) = (col("media_id") * mult % 200).cast("double") +
          (wExp - 1).cast("double") / 2.0 + (hExp - 1).cast("double") / 2.0
        // WAV tone: flattened sample x carries amp (x*37+11)%256-128
        val nWav = ((col("media_id") % 50 + 1) * (col("media_id") % 2 + 1))
          .cast("long")
        val seq0 = sequence(lit(0L), nWav - 1)
        def amp(x: org.apache.spark.sql.Column) = (x * 37 + 11) % 256 - 128
        val wavSum = aggregate(seq0, lit(0L), (a, x) => a + amp(x))
        val wavAbs = aggregate(seq0, lit(0L), (a, x) => a + abs(amp(x)))
        val wavMin = aggregate(seq0, lit(128L), (a, x) => least(a, amp(x)))
        val wavMax = aggregate(seq0, lit(-129L), (a, x) => greatest(a, amp(x)))
        def stubLane(b: Int) = lit((b / 255.0).toFloat)
        feats.select(col("media_id"), col("format"), col("decoded"),
            size(col("features")).cast("long").as("n_lanes"),
            wExp.cast("long").as("w"), hExp.cast("long").as("h"),
            when(k <= 1, f(7)).when(k === 2, f(0)).cast("long").as("n"),
            when(k === 0, abs(f(3).cast("double") - closed(37)) <= 0.01)
              .when(k === 1, abs(f(3).cast("double") - closed(37)) <= 4.0)
              .when(k === 2, abs(f(1).cast("double")
                - wavSum.cast("double") / nWav) <= 1e-3)
              .otherwise(f(0) === stubLane('J') && f(1) === stubLane('U')
                && f(2) === stubLane('N')).as("f1_ok"),
            when(k === 0, abs(f(4).cast("double") - closed(59)) <= 0.01)
              .when(k === 1, abs(f(4).cast("double") - closed(59)) <= 4.0)
              .when(k === 2, abs(f(2).cast("double")
                - wavAbs.cast("double") / nWav) <= 1e-3)
              .otherwise(f(3) === stubLane('K')).as("f2_ok"),
            when(k === 0, abs(f(5).cast("double") - closed(83)) <= 0.01)
              .when(k === 1, abs(f(5).cast("double") - closed(83)) <= 4.0)
              .when(k === 2, f(3) === wavMin.cast("float")
                && f(4) === wavMax.cast("float") && f(6) === lit(16000f)
                && f(7) === (col("media_id") % 2 + 1).cast("float"))
              .otherwise(f(4) === ((col("media_id") % 256).cast("double") / 255.0)
                  .cast("float")
                && f(5) === lit(0f) && f(6) === lit(0f) && f(7) === lit(0f))
              .as("f3_ok"))
          .sortWithinPartitions("media_id")
      },
      Some("""SELECT doc_id AS media_id,
             |  CASE doc_id % 4 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
             |    WHEN 2 THEN 'audio/wav' ELSE 'application/octet-stream'
             |    END AS format,
             |  CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
             |    WHEN 2 THEN 'wav' ELSE 'stub' END AS decoded,
             |  CAST(8 AS BIGINT) AS n_lanes,
             |  CAST(CASE doc_id % 4 WHEN 0 THEN doc_id % 7 + 2
             |    WHEN 1 THEN doc_id % 9 + 8 END AS BIGINT) AS w,
             |  CAST(CASE doc_id % 4 WHEN 0 THEN (doc_id * 3) % 6 + 2
             |    WHEN 1 THEN (doc_id * 3) % 7 + 8 END AS BIGINT) AS h,
             |  CAST(CASE doc_id % 4
             |    WHEN 0 THEN (doc_id % 7 + 2) * ((doc_id * 3) % 6 + 2)
             |    WHEN 1 THEN (doc_id % 9 + 8) * ((doc_id * 3) % 7 + 8)
             |    WHEN 2 THEN (doc_id % 50 + 1) * (doc_id % 2 + 1)
             |    END AS BIGINT) AS n,
             |  true AS f1_ok, true AS f2_ok, true AS f3_ok
             |FROM documents ORDER BY media_id""".stripMargin)),

    // ------------------------------------------------------------------
    // CCNet-style curation pipeline (Wenzek et al. LREC 2020) — the
    // composition the paper runs per snapshot: language-ID gate (q24's
    // marker formula) → LM perplexity score (q109's bigram NLL) →
    // perplexity TERCILES over the target-language slice → keep
    // head+middle. Buckets are assigned by NTILE(3) over (avg_nll,
    // doc_id) — rank-based, so the boundary is an integer position both
    // engines replay exactly (a value-threshold split could flip a
    // boundary doc on cross-engine ulp differences in the quantile
    // interpolation). The ntile window is doc-level and unpartitioned —
    // bounded by corpus DOC count (the q60 class), never token-scale;
    // at 100 TB the same split runs per-snapshot/per-shard as in CCNet.
    QuerySpec(
      "q120_ccnet_pipeline",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val langDf = ccnetLangDf(docs)
        val nll = TextOps.bigramLmNll(docs, "doc_id", "text", docs, "text")
        // localCheckpoint: the skinny (doc_id, lang, nll) frame feeds
        // BOTH the tercile branch (rankBuckets' own two passes) and the
        // final join — without it the text-heavy langid+NLL upstream
        // recomputes per consumer
        val joined = langDf.join(nll, Seq("doc_id")).localCheckpoint()
        // rank-bucket terciles via range-partition + per-partition offsets
        // (ScaleOps.rankBuckets) — identical to ntile(3) OVER (ORDER BY
        // avg_nll, doc_id) for these unique keys, without funneling the
        // corpus through one window task
        val en = graft.ops.ScaleOps.rankBuckets(
          joined.filter(col("lang") === "en" && col("n_bigrams") > 0),
          Seq("avg_nll", "doc_id"), nBuckets = 3, numPartitions = 8,
          bucketName = "ppl_bucket")
        joined
          .join(en.select(col("doc_id"), col("ppl_bucket")), Seq("doc_id"), "left")
          .select(col("doc_id"), col("lang"), col("n_bigrams"), col("avg_nll"),
            col("ppl_bucket"),
            (coalesce(col("ppl_bucket"), lit(3L)) <= 2L).as("kept"))
          .orderBy("doc_id")
      },
      Some(("""WITH """ + langIdCte + """, """ + lmNllCte + """, en AS (
              |  SELECT n.doc_id,
              |    CAST(NTILE(3) OVER (ORDER BY n.avg_nll, n.doc_id) AS BIGINT)
              |      AS ppl_bucket
              |  FROM nll n JOIN p ON p.doc_id = n.doc_id
              |  WHERE p.lang = 'en' AND n.n_bigrams > 0
              |)
              |SELECT n.doc_id, p.lang, n.n_bigrams, n.avg_nll, en.ppl_bucket,
              |  COALESCE(en.ppl_bucket, 3) <= 2 AS kept
              |FROM nll n
              |JOIN p ON p.doc_id = n.doc_id
              |LEFT JOIN en ON en.doc_id = n.doc_id
              |ORDER BY n.doc_id""").stripMargin)),

    // ------------------------------------------------------------------
    // URL-plane curation (ops.UrlOps — the C4/RefinedWeb front gate):
    // canonicalize → blocklist by registrable domain → dedup by
    // canonical URL (min-id survivor) → per-host cap in md5 order.
    // Fixture URLs are synthesized per doc with planted uppercase hosts,
    // default ports, tracking params (incl. an UPPERCASE utm_ one — the
    // (?i) strip), fragments, shared paths (canonical dups), a spam
    // domain, and PSL-exercising hosts: a multi-level ICANN suffix
    // (News.A.ne.JP → a.ne.jp), a PRIVATE-section suffix
    // (<source>.GitHub.IO → itself), a wildcard-rule host
    // (Shop.Foo.CK, *.ck → shop.foo.ck) and the exception rule
    // (WWW.CK, !www.ck → www.ck). Every canonicalization step is an
    // ordered RE2-safe regex the oracle mirrors 1:1 (Spark $1 backrefs,
    // DuckDB \\1), the PSL tiers replay via Psl.duckDomainCase (same
    // regex strings), and the staged ranks replay as window functions.
    QuerySpec(
      "q121_url_curation",
      (s, dir) =>
        urlPlaneDf(Tables.documents(s, dir), cap = 20).sortWithinPartitions("doc_id"),
      Some(("""WITH """ + urlFixtureCte + """, """ + urlPlaneCte + """
             |SELECT eb.doc_id, eb.url_canon, eb.host, eb.domain, eb.blocked,
             |  CAST(s1r.url_rank AS BIGINT) AS url_rank,
             |  CAST(s2r.host_rank AS BIGINT) AS host_rank,
             |  COALESCE(s2r.host_rank, 21) <= 20 AS kept
             |FROM eb
             |LEFT JOIN s1r ON s1r.doc_id = eb.doc_id
             |LEFT JOIN s2r ON s2r.doc_id = eb.doc_id
             |ORDER BY eb.doc_id""").stripMargin)),

    // ------------------------------------------------------------------
    // Model-based quality classifier (ops.Classifier — the GPT-3
    // Appendix-A / DCLM gate): reference slice (src0/src1) positive,
    // rest negative, NB log-count-ratio weights over hashed
    // unigram+bigram features (Wang & Manning ACL'12), per-doc log-odds
    // score, keep at score > 0. Training IS counting, so the oracle
    // replays TRAINING AND SCORING end-to-end: md5 bucket parity (q113
    // recipe), each occurrence term a ± of four ln's of exact
    // integer-derived values, DECIMAL-routed sum, VARCHAR decimal exit.
    // The GD refinement (trainLogistic) is spec-certified, not oracled —
    // iterative float training is not SQL-expressible.
    QuerySpec(
      "q122_quality_classifier",
      (s, dir) =>
        graft.ops.Classifier.nbScores(Tables.documents(s, dir), "doc_id",
          "text", col("source").isin("src0", "src1"))
          .orderBy("doc_id"),
      Some(("""WITH """ + nbCte + """
             |SELECT d.doc_id, COALESCE(csc.n_features, 0) AS n_features,
             |  ROUND(CAST(CAST(csc.s AS VARCHAR) AS DOUBLE) + csc.prior, 6) AS score,
             |  COALESCE(
             |    ROUND(CAST(CAST(csc.s AS VARCHAR) AS DOUBLE) + csc.prior, 6) > 0,
             |    false) AS keep
             |FROM documents d LEFT JOIN csc ON csc.doc_id = d.doc_id
             |ORDER BY d.doc_id""").stripMargin)),

    // ------------------------------------------------------------------
    // The containment GUARDED plan, oracle-certified (fills the historic
    // q123 numbering gap): same semantics as q131 but with skewGuard
    // forced ON, so the asymmetric prefix-filter path — the plan
    // dropContained auto-routes to on boilerplate-skewed corpora — is
    // hash-checked against DuckDB's brute intersection replay, not just
    // spec-compared to the plain plan. Exactness of the prefix bound
    // (containment >= t ⟹ a common shingle within the contained doc's
    // |A| - ⌈t·|A|⌉ + 1 df-rarest) is what this row certifies.
    QuerySpec(
      "q123_containment_guarded",
      (s, dir) =>
        graft.ops.Dedup.containmentPairs(Tables.documents(s, dir),
          "doc_id", "text", shingleSize = 3, minContainment = 0.5,
          skewGuard = Some(true))
          .sortWithinPartitions("contained_id", "container_id"),
      Some(s"""WITH t AS (
              |  SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents
              |), sh AS (
              |  SELECT doc_id, unnest(list_distinct(
              |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks) - 1)])) AS s
              |  FROM t
              |), sz AS (
              |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
              |), inter AS (
              |  SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
              |    COUNT(*) AS c
              |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id != b.doc_id
              |  GROUP BY 1, 2
              |)
              |SELECT i.contained_id, i.container_id,
              |  ROUND(CAST(i.c AS DOUBLE) / sa.n, 4) AS containment
              |FROM inter i JOIN sz sa ON sa.doc_id = i.contained_id
              |WHERE CAST(i.c AS DOUBLE) / sa.n >= 0.5
              |ORDER BY contained_id, container_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Table-sourced domain blocklist (q121's scale variant): at corpus
    // scale a blocklist is millions of domains — data, not config — so
    // UrlOps.dropBlockedDomains takes it as a DataFrame and anti-joins
    // on the PSL registrable domain (skinny key only; the small side
    // broadcast-anti-joins — asserted in PlanSpec). Blocklist entries
    // are mixed-case on purpose (the overload lowercases); the oracle
    // replays the anti-join as NOT IN over the same PSL CASE, with ''
    // (suffix-only hosts) surviving in both engines.
    QuerySpec(
      "q124_url_blocklist_table",
      (s, dir) => {
        import s.implicits._
        import graft.ops.UrlOps
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), urlFixture.as("url"))
        val blocklist = Seq("BadSite.com", "www.ck").toDF("domain")
        UrlOps.dropBlockedDomains(docs, "url", blocklist, "domain")
          .select(col("doc_id"),
            UrlOps.hostOf(col("url")).as("host"),
            UrlOps.registrableDomain(col("url")).as("domain"))
          .sortWithinPartitions("doc_id")
      },
      Some(("""WITH """ + urlFixtureCte + """, c AS (
             |  SELECT doc_id,
             |    lower(regexp_extract(url,
             |      '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)', 1)) AS host
             |  FROM u
             |), e AS (
             |  SELECT doc_id, host,
             |    """ + graft.ops.Psl.duckDomainCase("host") + """ AS domain
             |  FROM c
             |)
             |SELECT doc_id, host, domain FROM e
             |WHERE domain NOT IN ('badsite.com', 'www.ck')
             |ORDER BY doc_id""").stripMargin)),

    // ------------------------------------------------------------------
    // End-to-end curation composition — the chain real pipelines run
    // (RefinedWeb/CCNet order): URL gate (q121's plane) → langid + LM
    // perplexity terciles over the URL SURVIVORS only (q120's rank-based
    // bucketing — the gate order matters: a tercile over the full corpus
    // would move every boundary) → NB quality keep-gate (q122's
    // corpus-trained classifier, the GPT-3 App.-A reference-vs-rest
    // labeling — training is corpus-level by design, the gate applies in
    // the chain). Every stage reuses the SAME factored spelling (Spark
    // helper + spliced oracle CTEs) its standalone query certifies, so
    // this entry certifies the COMPOSITION: gate ordering, survivor
    // windows, and the final conjunction. Scale shape: the text column
    // is consumed only in per-row projections off the scan (langid,
    // bigram explode, ngram hash); everything joined or windowed is a
    // skinny (doc_id, …) frame — text never shuffles (PlanSpec asserts
    // it on the executed plan's exchanges).
    QuerySpec(
      "q125_curation_e2e",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val uv = urlPlaneDf(docs, cap = 20)
          .select(col("doc_id"), col("kept").as("url_kept"))
        val langDf = ccnetLangDf(docs)
        val nll = TextOps.bigramLmNll(docs, "doc_id", "text", docs, "text")
        // localCheckpoint: same rationale as q120 — one materialization
        // of the text-heavy plane serves the tercile branch and the
        // final join
        val joined = langDf.join(nll, Seq("doc_id")).join(uv, Seq("doc_id"))
          .localCheckpoint()
        // terciles over the URL survivors via ScaleOps.rankBuckets — the
        // q120 spelling: equal to the single-task ntile window on unique
        // (avg_nll, doc_id) keys, scale-safe on the range shuffle
        val en = graft.ops.ScaleOps.rankBuckets(
          joined.filter(col("url_kept") && col("lang") === "en" &&
            col("n_bigrams") > 0),
          Seq("avg_nll", "doc_id"), nBuckets = 3, numPartitions = 8,
          bucketName = "ppl_bucket")
        val nb = graft.ops.Classifier.nbScores(docs, "doc_id", "text",
          col("source").isin("src0", "src1"))
        joined
          .join(en.select(col("doc_id"), col("ppl_bucket")), Seq("doc_id"), "left")
          .join(nb.select(col("doc_id"), col("score"), col("keep")), Seq("doc_id"))
          .select(col("doc_id"), col("url_kept"), col("lang"), col("n_bigrams"),
            col("avg_nll"), col("ppl_bucket"),
            col("score").as("nb_score"),
            (col("url_kept") && coalesce(col("ppl_bucket"), lit(3L)) <= 2L
              && col("keep")).as("kept"))
          .orderBy("doc_id")
      },
      Some(("""WITH """ + urlFixtureCte + """, """ + urlPlaneCte + """, uv AS (
             |  SELECT eb.doc_id, COALESCE(s2r.host_rank, 21) <= 20 AS url_kept
             |  FROM eb LEFT JOIN s2r ON s2r.doc_id = eb.doc_id
             |), """ + langIdCte + """, """ + lmNllCte + """, """ + nbCte + """, en AS (
             |  SELECT n.doc_id,
             |    CAST(NTILE(3) OVER (ORDER BY n.avg_nll, n.doc_id) AS BIGINT)
             |      AS ppl_bucket
             |  FROM nll n
             |  JOIN p ON p.doc_id = n.doc_id
             |  JOIN uv ON uv.doc_id = n.doc_id
             |  WHERE p.lang = 'en' AND n.n_bigrams > 0 AND uv.url_kept
             |)
             |SELECT n.doc_id, uv.url_kept, p.lang, n.n_bigrams, n.avg_nll,
             |  en.ppl_bucket,
             |  ROUND(CAST(CAST(csc.s AS VARCHAR) AS DOUBLE) + csc.prior, 6)
             |    AS nb_score,
             |  (uv.url_kept AND COALESCE(en.ppl_bucket, 3) <= 2
             |   AND COALESCE(
             |     ROUND(CAST(CAST(csc.s AS VARCHAR) AS DOUBLE) + csc.prior, 6) > 0,
             |     false)) AS kept
             |FROM nll n
             |JOIN p ON p.doc_id = n.doc_id
             |JOIN uv ON uv.doc_id = n.doc_id
             |LEFT JOIN en ON en.doc_id = n.doc_id
             |LEFT JOIN csc ON csc.doc_id = n.doc_id
             |ORDER BY n.doc_id""").stripMargin)),

    // ------------------------------------------------------------------
    // Animated-container frame walking (functions.GifKernel — the
    // multi-frame sibling of q32/q103's header planes): every doc gets a
    // genuine multi-frame GIF89a (logical screen + per-frame graphic
    // control + image descriptor + sub-block chains, assembled from
    // doc_id-derived parameters), and the native GifMeta expression
    // strict-walks the block grammar back OUT — per-frame geometry and
    // timing without LZW raster decode (frame catalogs are a metadata
    // plane at corpus scale). The oracle recomputes every planted field
    // from doc_id arithmetic via range-unnest — any walker drift from
    // the public GIF89a block layout hash-mismatches; corrupt-payload
    // rejection is pinned in OpsSpec (truncation, bad magic, trailing
    // junk, wrong control-block size all NULL).
    QuerySpec(
      "q126_gif_frames",
      (s, dir) => {
        val media = Tables.documents(s, dir)
          .select(col("doc_id").as("media_id"),
            Multimodal.gifAnimBytes(
              (col("doc_id") % 10 + 24).cast("int"),
              ((col("doc_id") * 3) % 10 + 24).cast("int"),
              (col("doc_id") % 5 + 1).cast("int"),
              (col("doc_id") % 17).cast("int")).as("bytes"))
        Multimodal.gifFrames(media)
          .select(col("media_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("n_frames").cast("long").as("n_frames"),
            col("frame_idx").cast("long").as("frame_idx"),
            col("x_off").cast("long").as("x_off"),
            col("y_off").cast("long").as("y_off"),
            col("w").cast("long").as("w"),
            col("h").cast("long").as("h"),
            col("delay_cs").cast("long").as("delay_cs"))
          .orderBy("media_id", "frame_idx")
      },
      Some("""SELECT doc_id AS media_id,
             |  CAST(doc_id % 10 + 24 AS BIGINT) AS width,
             |  CAST((doc_id * 3) % 10 + 24 AS BIGINT) AS height,
             |  CAST(doc_id % 5 + 1 AS BIGINT) AS n_frames,
             |  CAST(i AS BIGINT) AS frame_idx,
             |  CAST((doc_id % 17 + 3 * i) % 8 AS BIGINT) AS x_off,
             |  CAST((doc_id % 17 + 5 * i) % 8 AS BIGINT) AS y_off,
             |  CAST((doc_id % 17 + 7 * i) % 16 + 1 AS BIGINT) AS w,
             |  CAST((doc_id % 17 + 11 * i) % 16 + 1 AS BIGINT) AS h,
             |  CAST((doc_id % 17 + 13 * i) % 500 AS BIGINT) AS delay_cs
             |FROM (SELECT doc_id, unnest(range(doc_id % 5 + 1)) AS i
             |      FROM documents)
             |ORDER BY media_id, frame_idx""".stripMargin)),

    // ------------------------------------------------------------------
    // APNG frame-control walking (functions.ApngKernel — q126's
    // PNG-family sibling): every doc gets a genuine APNG chunk stream
    // (IHDR/acTL/fcTL/IDAT/fdAT/IEND, every chunk CRC32-stamped, frame 0
    // the spec-mandated full canvas with blend SOURCE) and the native
    // ApngMeta expression walks the CRC-verified chunk grammar back out
    // — geometry, timing numerator/denominator, dispose/blend per frame,
    // no payload inflate. The oracle re-derives every field from doc_id
    // arithmetic; corrupt-payload rejection (CRC flip, sequence gap,
    // acTL after IDAT, frame-count mismatch, out-of-canvas rect) is
    // pinned in OpsSpec.
    QuerySpec(
      "q127_apng_frames",
      (s, dir) => {
        val media = Tables.documents(s, dir)
          .select(col("doc_id").as("media_id"),
            Multimodal.apngAnimBytes(
              (col("doc_id") % 10 + 24).cast("int"),
              ((col("doc_id") * 3) % 10 + 24).cast("int"),
              (col("doc_id") % 5 + 1).cast("int"),
              (col("doc_id") % 17).cast("int")).as("bytes"))
        Multimodal.apngFrames(media)
          .select(col("media_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("n_frames").cast("long").as("n_frames"),
            col("n_plays").cast("long").as("n_plays"),
            col("frame_idx").cast("long").as("frame_idx"),
            col("w").cast("long").as("w"),
            col("h").cast("long").as("h"),
            col("x_off").cast("long").as("x_off"),
            col("y_off").cast("long").as("y_off"),
            col("delay_num").cast("long").as("delay_num"),
            col("delay_den").cast("long").as("delay_den"),
            col("dispose").cast("long").as("dispose"),
            col("blend").cast("long").as("blend"))
          .sortWithinPartitions("media_id", "frame_idx")
      },
      Some("""SELECT doc_id AS media_id,
             |  CAST(doc_id % 10 + 24 AS BIGINT) AS width,
             |  CAST((doc_id * 3) % 10 + 24 AS BIGINT) AS height,
             |  CAST(doc_id % 5 + 1 AS BIGINT) AS n_frames,
             |  CAST(doc_id % 17 % 4 AS BIGINT) AS n_plays,
             |  CAST(i AS BIGINT) AS frame_idx,
             |  CAST(CASE WHEN i = 0 THEN doc_id % 10 + 24
             |    ELSE (doc_id % 17 + 7 * i) % 16 + 1 END AS BIGINT) AS w,
             |  CAST(CASE WHEN i = 0 THEN (doc_id * 3) % 10 + 24
             |    ELSE (doc_id % 17 + 11 * i) % 16 + 1 END AS BIGINT) AS h,
             |  CAST(CASE WHEN i = 0 THEN 0
             |    ELSE (doc_id % 17 + 3 * i) % 8 END AS BIGINT) AS x_off,
             |  CAST(CASE WHEN i = 0 THEN 0
             |    ELSE (doc_id % 17 + 5 * i) % 8 END AS BIGINT) AS y_off,
             |  CAST((doc_id % 17 + 13 * i) % 500 AS BIGINT) AS delay_num,
             |  CAST((doc_id % 17 + 5 * i) % 1000 AS BIGINT) AS delay_den,
             |  CAST((doc_id % 17 + i) % 3 AS BIGINT) AS dispose,
             |  CAST(CASE WHEN i = 0 THEN 0 ELSE i % 2 END AS BIGINT) AS blend
             |FROM (SELECT doc_id, unnest(range(doc_id % 5 + 1)) AS i
             |      FROM documents)
             |ORDER BY media_id, frame_idx""".stripMargin)),

    // ------------------------------------------------------------------
    // Real AUDIO container decode (q32's audio sibling): every doc gets a
    // genuine complete PCM WAV (RIFF + fmt + zero-filled data chunk,
    // assembled little-endian from doc_id-derived parameters with codegen
    // built-ins — Multimodal.wavBytes), and the native AudioMeta
    // expression chunk-walks channels / sample-rate / bit-depth / frame
    // count back OUT of the byte stream. The oracle recomputes the
    // planted parameters from doc_id arithmetic — any parser drift from
    // the public RIFF layout hash-mismatches.
    QuerySpec(
      "q103_audio_headers",
      (s, dir) => {
        val params = Tables.documents(s, dir).select(col("doc_id"),
          (col("doc_id") % 2 + 1).cast("int").as("__ch"),
          when(col("doc_id") % 3 === 0, lit(8000))
            .when(col("doc_id") % 3 === 1, lit(16000))
            .otherwise(lit(44100)).as("__rate"),
          when(col("doc_id") % 2 === 0, lit(16)).otherwise(lit(8)).as("__bits"),
          (col("doc_id") % 100).cast("int").as("__frames"))
        params.select(col("doc_id").as("media_id"),
          Multimodal.audioMeta(Multimodal.wavBytes(col("__ch"), col("__rate"),
            col("__bits"), col("__frames"))).as("__m"))
          .select(col("media_id"),
            col("__m.format").as("format"),
            col("__m.channels").cast("long").as("channels"),
            col("__m.sample_rate").cast("long").as("sample_rate"),
            col("__m.bits_per_sample").cast("long").as("bits_per_sample"),
            col("__m.n_frames").as("n_frames"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id, 'wav' AS format,
             |  doc_id % 2 + 1 AS channels,
             |  CAST(CASE WHEN doc_id % 3 = 0 THEN 8000
             |            WHEN doc_id % 3 = 1 THEN 16000
             |            ELSE 44100 END AS BIGINT) AS sample_rate,
             |  CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 8 END AS bits_per_sample,
             |  doc_id % 100 AS n_frames
             |FROM documents ORDER BY media_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Frame sampling over binary payloads (1→N generator + window counts):
    // the oracle checks the frame arithmetic from byte lengths.
    QuerySpec(
      "q33_frame_sample",
      (s, dir) => {
        val media = Multimodal.packDocuments(Tables.documents(s, dir))
        Multimodal.sampleFrames(media, frameBytes = 64, stride = 4)
          .groupBy(col("media_id"))
          .agg(count(lit(1)).as("n_frames"), sum(col("frame_size")).cast("long").as("bytes_sampled"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
             |  CAST(octet_length(encode(text)) // 256 AS BIGINT) AS n_frames,
             |  CAST((octet_length(encode(text)) // 256) * 64 AS BIGINT) AS bytes_sampled
             |FROM documents
             |WHERE octet_length(encode(text)) >= 256
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Symmetric int8 embedding quantization (ops.Quantize — the 4x
    // storage/IO reduction for corpus-scale vector stores). The oracle is
    // deliberately ORDER-INDEPENDENT: the integer code checksum and the
    // order-free max reconstruction error pin the exact codes without any
    // float accumulation-order exposure. The whole scheme is ONE native
    // codegen'd O(d) kernel (functions.Int8Stats) — the earlier staged-HOF
    // spelling was one CollapseProject away from re-evaluating the scale
    // per ELEMENT (d² work, a 26× bench swing on identical code); the
    // QuantizeSpec eval-count test pins exactly-once evaluation per row.
    QuerySpec(
      "q61_quantize_int8",
      (s, dir) => {
        import graft.ops.Quantize
        Tables.embeddings(s, dir)
          .withColumn("__q8", Quantize.int8Stats(col("embedding")))
          .select(col("vec_id"),
            col("__q8.code_sum").as("code_sum"),
            round(col("__q8.scale"), 6).as("scale"),
            round(col("__q8.max_abs_err"), 8).as("max_abs_err"))
          .orderBy("vec_id")
      },
      Some("""WITH v AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS e,
             |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS s
             |  FROM embeddings
             |), q AS (
             |  SELECT vec_id, s, e,
             |    list_transform(e, x -> CASE WHEN s = 0 THEN 0
             |      ELSE CAST(round(x / s * 127) AS BIGINT) END) AS codes
             |  FROM v
             |)
             |SELECT vec_id,
             |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
             |  ROUND(s, 6) AS scale,
             |  ROUND(list_max(list_transform(e, (x, i) ->
             |    abs(x - codes[i] * s / 127.0))), 8) AS max_abs_err
             |FROM q ORDER BY vec_id""".stripMargin)),

    // ------------------------------------------------------------------
    // END-TO-END curation pipeline — the composition a training-data run
    // actually executes: quality gate (q22 formula) → language filter
    // (q24 formula) → exact-dup survivors (smallest id per fingerprint) →
    // n-gram-Jaccard near-dup drop (greedy smaller-id survivor, exact
    // pairs at t=0.5) → per-source doc/token budget. Every stage is the
    // SAME expression its standalone query uses, so the whole composition
    // is oracle-checked end to end. Threshold 0.65 sits between the
    // achievable quality levels (…0.6, 0.7…) so double-vs-decimal literal
    // arithmetic can't flip a boundary doc across engines.
    QuerySpec(
      "q62_curation_pipeline",
      (s, dir) => {
        val st = graft.functions.ArrayMath.textStats(col("text"))
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("text"),
            length(col("text")).as("__nc"), st.as("__st"))
        val quality =
          when(col("__nc").between(50, 20000), 1.0).otherwise(0.0) * 0.3 +
          when(col("__st.n_stop").cast("double") / col("__st.n_tokens") >= 0.01, 1.0).otherwise(0.0) * 0.3 +
          when(col("__st.n_punct").cast("double") / col("__nc") <= 0.2, 1.0).otherwise(0.0) * 0.2 +
          when((col("__st.tok_chars").cast("double") / col("__st.n_tokens")).between(2.0, 12.0), 1.0).otherwise(0.0) * 0.2
        val scored = Seq("en" -> "s_en", "de" -> "s_de", "es" -> "s_es", "fr" -> "s_fr")
          .map { case (lang, f) => struct(col(s"__st.$f").as("score"), lit(lang).as("lang")) }
        val best = greatest(scored: _*)
        val lang = when(col("text").rlike("[\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}]"), "zh")
          .otherwise(when(best.getField("score") > 0, best.getField("lang"))
            .otherwise("unknown"))
        val kept = docs.filter(quality >= 0.65 && lang === "en")
        val w = Window.partitionBy(TextOps.fingerprintMd5(col("text"))).orderBy(col("doc_id"))
        val surv = kept.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        val dropIds = Dedup.ngramJaccardPairs(surv, "doc_id", "text",
          shingleSize = 3, minJaccard = 0.5)
          .select(col("id_b").as("doc_id")).distinct()
        surv.join(dropIds, Seq("doc_id"), "left_anti")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("__st.n_tokens")).cast("long").as("total_tokens"))
          .orderBy("source")
      },
      Some(s"""WITH m AS (
              |  SELECT doc_id, source, text,
              |    LENGTH(text) AS n_chars,
              |    len($toksSql) AS n_tokens,
              |    len(list_filter($toksSql, x -> lower(x) IN ($stops))) AS n_stop,
              |    LENGTH(text) - LENGTH(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS n_punct,
              |    CAST(list_sum(list_transform($toksSql, x -> LENGTH(x))) AS DOUBLE) AS tok_chars,
              |    len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
              |      x -> x IN ('the','and','of','to','is','in','that','it'))) AS s_en,
              |    len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
              |      x -> x IN ('der','die','das','und','ist','nicht','ein','zu'))) AS s_de,
              |    len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
              |      x -> x IN ('el','la','los','de','que','y','es','un'))) AS s_es,
              |    len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
              |      x -> x IN ('le','la','les','et','est','un','une','que'))) AS s_fr
              |  FROM documents
              |), kept AS (
              |  SELECT doc_id, source, text, n_tokens FROM m
              |  WHERE ((CASE WHEN n_chars BETWEEN 50 AND 20000 THEN 1.0 ELSE 0.0 END)*0.3 +
              |         (CASE WHEN CAST(n_stop AS DOUBLE)/n_tokens >= 0.01 THEN 1.0 ELSE 0.0 END)*0.3 +
              |         (CASE WHEN CAST(n_punct AS DOUBLE)/n_chars <= 0.2 THEN 1.0 ELSE 0.0 END)*0.2 +
              |         (CASE WHEN tok_chars/n_tokens BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)*0.2) >= 0.65
              |    AND (CASE
              |      WHEN regexp_matches(text, '[\\p{Han}\\p{Hiragana}\\p{Katakana}]') THEN 'zh'
              |      WHEN s_fr > 0 AND s_fr >= s_es AND s_fr >= s_de AND s_fr >= s_en THEN 'fr'
              |      WHEN s_es > 0 AND s_es >= s_fr AND s_es >= s_de AND s_es >= s_en THEN 'es'
              |      WHEN s_en > 0 AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
              |      WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es AND s_de >= s_en THEN 'de'
              |      ELSE 'unknown' END) = 'en'
              |), surv AS (
              |  SELECT doc_id, source, text, n_tokens FROM (
              |    SELECT *, row_number() OVER (PARTITION BY md5($normSql) ORDER BY doc_id) AS rn
              |    FROM kept
              |  ) WHERE rn = 1
              |), t AS (
              |  SELECT doc_id, string_split($normSql, ' ') AS toks FROM surv
              |), sh AS (
              |  SELECT doc_id, unnest(list_distinct(
              |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks) - 1)])) AS sgl
              |  FROM t
              |), sz AS (
              |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
              |), pr AS (
              |  SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS c
              |  FROM sh a JOIN sh b ON a.sgl = b.sgl AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2
              |), drops AS (
              |  SELECT DISTINCT ib FROM pr
              |  JOIN sz x ON x.doc_id = pr.ia JOIN sz y ON y.doc_id = pr.ib
              |  WHERE CAST(c AS DOUBLE) / (x.n + y.n - c) >= 0.5
              |)
              |SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
              |FROM surv WHERE doc_id NOT IN (SELECT ib FROM drops)
              |GROUP BY source ORDER BY source""".stripMargin)),

    // ------------------------------------------------------------------
    // Connected components over the exact q27 near-dup graph — cluster-level
    // dedup's transitive closure. Spark runs the O(log² n) alternating
    // large-star/small-star algorithm (Dedup.connectedComponents); the
    // oracle computes the same closure by recursive CTE reachability and
    // labels each node with the minimum reachable id. Both sides agree on
    // (member, component, cluster size) exactly — integers only, no floats.
    QuerySpec(
      "q63_dedup_clusters",
      (s, dir) => {
        val pairs = Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
          shingleSize = 3, minJaccard = 0.2)
        Dedup.connectedComponents(pairs, "id_a", "id_b")
          .select(col("id").as("doc_id"), col("component"), col("cluster_size"))
          // local sort only: global orderBy's range-sample re-ran the
          // final stage (measured −13% solo; the q188 finding)
          .sortWithinPartitions("doc_id")
      },
      Some(s"""WITH RECURSIVE t AS (
              |  SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents
              |), sh AS (
              |  SELECT doc_id, unnest(list_distinct(
              |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks) - 1)])) AS s
              |  FROM t
              |), sz AS (
              |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
              |), inter AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
              |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2
              |), e AS (
              |  SELECT id_a AS a, id_b AS b FROM inter i
              |  JOIN sz sa ON sa.doc_id = i.id_a JOIN sz sb ON sb.doc_id = i.id_b
              |  WHERE CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) >= 0.2
              |), u AS (
              |  SELECT a, b FROM e UNION SELECT b, a FROM e
              |), reach(a, b) AS (
              |  SELECT DISTINCT a, a FROM u
              |  UNION
              |  SELECT reach.a, u.b FROM reach JOIN u ON reach.b = u.a
              |), lbl AS (
              |  SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a
              |)
              |SELECT doc_id, component,
              |  CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size
              |FROM lbl ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Deterministic train/val/test split (Curation.assignSplit): bucket =
    // first 8 md5 hex chars of the id as an int mod 10000 — reproducible
    // on any engine, stable under re-partitioning and incremental data.
    // Zero-shuffle projection + one agg on (source, split).
    QuerySpec(
      "q64_split_assign",
      (s, dir) =>
        Curation.assignSplit(Tables.documents(s, dir), "doc_id")
          .groupBy(col("source"), col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(TextOps.tokenCount(col("text"))).as("total_tokens"))
          .orderBy("source", "split"),
      Some(s"""WITH b AS (
              |  SELECT source, text,
              |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS bk
              |  FROM documents
              |)
              |SELECT source,
              |  CASE WHEN bk < 8000 THEN 'train' WHEN bk < 9000 THEN 'val' ELSE 'test' END AS split,
              |  CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(CASE WHEN LENGTH(trim(text)) = 0 THEN 0
              |    ELSE len($toksSql) END) AS BIGINT) AS total_tokens
              |FROM b GROUP BY 1, 2 ORDER BY source, split""".stripMargin)),

    // ------------------------------------------------------------------
    // Sequence-packing statistics (concat-and-chunk at 2048 tokens):
    // documents concatenated in id order per source, sliced into fixed
    // windows; reports sequences produced and documents split at chunk
    // boundaries. One window cumsum + one agg; all-integer arithmetic.
    QuerySpec(
      "q65_sequence_pack",
      (s, dir) =>
        Curation.packingStats(Tables.documents(s, dir), "doc_id", "text",
          groupCol = "source", seqLen = 2048)
          .orderBy("source"),
      Some(s"""WITH m AS (
              |  SELECT source, doc_id,
              |    CASE WHEN LENGTH(trim(text)) = 0 THEN 0 ELSE len($toksSql) END AS t
              |  FROM documents
              |), c AS (
              |  SELECT source, t,
              |    SUM(t) OVER (PARTITION BY source ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
              |  FROM m
              |)
              |SELECT source,
              |  CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(t) AS BIGINT) AS total_tokens,
              |  CAST((SUM(t) + 2047) // 2048 AS BIGINT) AS n_sequences,
              |  CAST(SUM(CASE WHEN t > 0 AND (e - t) // 2048 != (e - 1) // 2048
              |    THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_split
              |FROM c GROUP BY source ORDER BY source""".stripMargin)),

    // ------------------------------------------------------------------
    // Eval-set decontamination (Curation.contaminatedDocs): training docs
    // sharing any distinct 3-gram shingle with the held-out set
    // (doc_id % 20 = 0). Skinny (id, shingleHash) join; the distinct eval
    // shingle set broadcasts. Counts of distinct shared shingles coincide
    // between hash and string shingles (q27's collision argument).
    QuerySpec(
      "q66_decontaminate",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Curation.contaminatedDocs(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", shingleSize = 3)
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents
              |), sh AS (
              |  SELECT doc_id, unnest(list_distinct(
              |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks) - 1)])) AS s
              |  FROM t
              |), ev AS (
              |  SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0
              |)
              |SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
              |FROM sh JOIN ev ON sh.s = ev.s
              |WHERE sh.doc_id % 20 != 0
              |GROUP BY sh.doc_id
              |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Bloom-prefiltered decontamination (Curation.contaminatedDocsBloom):
    // q66's large-eval-set sibling — eval shingles fold into a Bloom
    // filter (~1.2 bytes/shingle) probed by a codegen'd expression BEFORE
    // any exchange; false positives die in the exact confirm join, so the
    // result is EXACT and the oracle is the plain SQL join. Different
    // eval slice (every 37th doc) and threshold (≥ 2 shared shingles).
    QuerySpec(
      "q97_decontaminate_bloom",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Curation.contaminatedDocsBloom(
          docs.filter(col("doc_id") % 37 =!= 0),
          docs.filter(col("doc_id") % 37 === 0),
          "doc_id", "text", shingleSize = 3, minShared = 2L)
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents
              |), sh AS (
              |  SELECT doc_id, unnest(list_distinct(
              |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks) - 1)])) AS s
              |  FROM t
              |), ev AS (
              |  SELECT DISTINCT s FROM sh WHERE doc_id % 37 = 0
              |)
              |SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
              |FROM sh JOIN ev ON sh.s = ev.s
              |WHERE sh.doc_id % 37 != 0
              |GROUP BY sh.doc_id
              |HAVING COUNT(*) >= 2
              |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // PCA over the embedding corpus (ops.Pca): one treeAggregate pass for
    // the d×d moments, driver-side Jacobi eigensolve, codegen'd mat-vec
    // projection. Eigenvalues aren't SQL-replayable, so the oracle is the
    // q46/q47 banded shape: DuckDB replays n and the covariance TRACE
    // exactly (per-dim DECIMAL moments, finalize tree verbatim — the
    // trace equals Σλ by linear algebra, so it pins the whole spectrum's
    // mass), plus in-band verdicts computed distributed: Σλ within 1e-6
    // of the independent decimal trace, components orthonormal (driver
    // check), and var(first projected component) within 1e-6 of λ0.
    QuerySpec(
      "q99_pca",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val model = graft.ops.Pca.fit(emb, "embedding")
        val d = model.mean.length
        val eigSum = model.eigenvalues.sum
        val lam0 = model.eigenvalues(0)
        var maxDev = 0.0
        for (i <- 0 until d; j <- i until d) {
          val dot = model.components(i).zip(model.components(j))
            .map(t => t._1 * t._2).sum
          maxDev = math.max(maxDev, math.abs(dot - (if (i == j) 1.0 else 0.0)))
        }
        val orthoOk = maxDev < 1e-10
        def e(i: Int) = element_at(col("embedding"), i + 1).cast("double")
        val sCols = (0 until d).map(i =>
          sum(e(i).cast("decimal(18,7)")).as(s"s$i"))
        // (18,7)² → decimal(37,14), exact; (19,7)² would hit Spark's
        // precision-39 cap and silently round the scale to 13. DuckDB
        // needs (19,7) on one side instead to escape its int64 multiply.
        val ssCols = (0 until d).map(i =>
          sum(e(i).cast("decimal(18,7)") * e(i).cast("decimal(18,7)")).as(s"ss$i"))
        val stats = emb.agg(count(lit(1)).as("n"), (sCols ++ ssCols): _*)
        val nD = col("n").cast("double")
        val varT = (0 until d).map(i =>
          (col(s"ss$i").cast("double")
            - col(s"s$i").cast("double") * col(s"s$i").cast("double") / nD)
            / (nD - lit(1.0)))
        val trace = varT.reduce(_ + _)
        val projVar = graft.ops.Pca.project(emb, "embedding", model, 1)
          .agg(var_samp(element_at(col("pca"), 1)).as("pv"))
        stats.crossJoin(broadcast(projVar)).select(
          col("n"),
          trace.as("trace_v"),
          (abs(lit(eigSum) - trace) / trace < lit(1e-6)).as("eig_sum_ok"),
          lit(orthoOk).as("ortho_ok"),
          (abs(col("pv") - lit(lam0)) / lit(lam0) < lit(1e-6)).as("proj_var_ok"))
      },
      Some {
        val d = 64
        def sTerm(i: Int) =
          s"SUM(CAST(CAST(embedding[${i + 1}] AS DOUBLE) AS DECIMAL(18,7))) AS s$i"
        def ssTerm(i: Int) =
          s"SUM(CAST(CAST(embedding[${i + 1}] AS DOUBLE) AS DECIMAL(19,7)) * " +
            s"CAST(CAST(embedding[${i + 1}] AS DOUBLE) AS DECIMAL(19,7))) AS ss$i"
        def varTerm(i: Int) =
          s"((CAST(CAST(ss$i AS VARCHAR) AS DOUBLE) - " +
            s"CAST(CAST(s$i AS VARCHAR) AS DOUBLE) * CAST(CAST(s$i AS VARCHAR) AS DOUBLE)" +
            s" / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))"
        val aggs = ((0 until d).map(sTerm) ++ (0 until d).map(ssTerm)).mkString(",\n    ")
        val chain = (0 until d).map(varTerm).reduce((a, b) => s"($a + $b)")
        s"""WITH st AS (
           |  SELECT COUNT(*) AS n,
           |    $aggs
           |  FROM embeddings
           |)
           |SELECT CAST(n AS BIGINT) AS n,
           |  $chain AS trace_v,
           |  TRUE AS eig_sum_ok, TRUE AS ortho_ok, TRUE AS proj_var_ok
           |FROM st""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Deterministic random negative sampling (Curation.sampleNegatives):
    // the uniform complement of hard-negative mining — md5 position
    // probing instead of rand(), so the sample is reproducible,
    // incremental-safe, and fully SQL-replayable (same-label probes drop
    // deterministically rather than retry).
    QuerySpec(
      "q107_negative_sample",
      (s, dir) =>
        Curation.sampleNegatives(Tables.embeddings(s, dir),
          "vec_id", "label", k = 8)
          .orderBy("anchor_id", "slot"),
      Some("""WITH l AS (
             |  SELECT vec_id, label FROM embeddings WHERE label IS NOT NULL
             |), pos AS (
             |  SELECT vec_id, label,
             |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS p
             |  FROM l
             |), a AS (
             |  SELECT p.vec_id AS anchor_id, p.label AS la, s.slot,
             |    CAST(('0x' || substring(md5(
             |      CAST(p.vec_id AS VARCHAR) || ':' ||
             |      CAST(s.slot AS VARCHAR) || ':42'), 1, 8)) AS BIGINT)
             |      % (SELECT COUNT(*) FROM l) AS tp
             |  FROM pos p
             |  CROSS JOIN (SELECT unnest(range(0, 8)) AS slot) s
             |)
             |SELECT a.anchor_id, CAST(a.slot AS INT) AS slot,
             |  p2.vec_id AS neg_id
             |FROM a JOIN pos p2 ON a.tp = p2.p
             |WHERE p2.vec_id != a.anchor_id AND p2.label != a.la
             |ORDER BY anchor_id, slot""".stripMargin)),

    // ------------------------------------------------------------------
    // LSH-accelerated hard negatives (Similarity.hardNegatives): q105's
    // corpus-scale flavor — bucket-collision candidates, different-label
    // filter, exact rescore, per-anchor top-k. Hash-seeded bucketing is
    // not SQL-expressible, so the oracle-visible output is the banded
    // form: q105's EXACT ranking (DuckDB replays it natively) plus an
    // in-band recall verdict — the LSH pair set must recover >= 0.55 of
    // the exact (anchor, negative) pairs, the OpsSpec floor (hard
    // negatives live at HIGH cosine, the regime bucket collisions are
    // designed for, so observed recall runs far above it).
    QuerySpec(
      "q108_hard_negatives_lsh",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val (nBits, nTables) = Similarity.lshPolicy(emb.count(),
          designCosine = 0.4, multiProbe = true)
        val lsh = Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
          k = 3, nBits = nBits, nTables = nTables, multiProbe = true)
          .select(col("anchor_id"), col("neg_id"))
        val exact = Similarity.hardNegativesExact(emb, "vec_id", "embedding",
          "label", k = 3)
        val hits = lsh.join(exact.select("anchor_id", "neg_id"),
          Seq("anchor_id", "neg_id"), "left_semi")
          .agg(count(lit(1)).as("__hits"))
        val nExact = exact.agg(count(lit(1)).as("__exact"))
        val verdict = hits.crossJoin(nExact).select(
          (col("__hits") >= col("__exact") * lit(0.55)).as("lsh_recall_ok"))
        // local sort only: global orderBy's range-sample re-ran the LSH
        // candidate stage (measured −27% solo; the q188 finding)
        exact.crossJoin(broadcast(verdict)) // 1-row verdict frame
          .sortWithinPartitions("anchor_id", "rank")
      },
      Some("""WITH pairs AS (
             |  SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
             |    list_cosine_similarity(a.embedding::DOUBLE[],
             |                           b.embedding::DOUBLE[]) AS c
             |  FROM embeddings a JOIN embeddings b
             |    ON a.vec_id != b.vec_id AND a.label != b.label
             |  WHERE a.label IS NOT NULL AND b.label IS NOT NULL
             |), ranked AS (
             |  SELECT anchor_id, neg_id, c,
             |    ROW_NUMBER() OVER (PARTITION BY anchor_id
             |                       ORDER BY c DESC, neg_id) AS rank
             |  FROM pairs
             |)
             |SELECT anchor_id, CAST(rank AS INT) AS rank, neg_id,
             |  ROUND(c, 6) AS cosine, TRUE AS lsh_recall_ok
             |FROM ranked WHERE rank <= 3
             |ORDER BY anchor_id, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // PMI collocations (TextOps.pmiCollocations, Church & Hanks CL'90):
    // adjacent pairs co-occurring beyond chance. The score is ONE ln of a
    // ratio of exact integer products — no double partial sums anywhere,
    // so the oracle replays it with the same tree (multiplication order
    // matched) and the established ln parity.
    QuerySpec(
      "q106_pmi_collocations",
      (s, dir) =>
        TextOps.pmiCollocations(Tables.documents(s, dir), "text",
          minCount = 10L)
          .orderBy("w1", "w2"),
      Some(s"""WITH t AS (
              |  SELECT string_split($normSql, ' ') AS toks FROM documents
              |), bg AS (
              |  SELECT unnest([toks[i] FOR i IN range(1, len(toks))]) AS w1,
              |         unnest([toks[i+1] FOR i IN range(1, len(toks))]) AS w2
              |  FROM t WHERE len(toks) >= 2
              |), pc AS (
              |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair
              |  FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= 10
              |), toksu AS (
              |  SELECT unnest(string_split($normSql, ' ')) AS w FROM documents
              |), uni AS (
              |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toksu GROUP BY 1
              |), tot AS (
              |  SELECT (SELECT COUNT(*) FROM toksu) AS t_tok,
              |         (SELECT COUNT(*) FROM bg) AS t_bg
              |)
              |SELECT pc.w1, pc.w2, pc.n_pair,
              |  ROUND(ln((CAST(pc.n_pair AS DOUBLE) * t.t_tok * t.t_tok)
              |    / (CAST(t.t_bg AS DOUBLE) * u1.c * u2.c)), 6) AS pmi
              |FROM pc
              |JOIN uni u1 ON pc.w1 = u1.w
              |JOIN uni u2 ON pc.w2 = u2.w
              |CROSS JOIN tot t
              |ORDER BY w1, w2""".stripMargin)),

    // ------------------------------------------------------------------
    // N-gram LM perplexity gate (TextOps.bigramLmNll, Wenzek et al. LREC
    // 2020 / CCNet): bigram LM trained in one aggregation pass over the
    // corpus, every document scored by average negative log-likelihood
    // under add-one smoothing — the standard public quality filter next
    // to q88's heuristics (gibberish scores high, fluent text low).
    // Self-trained on the fixture corpus (CCNet trains on a curated
    // reference set; the fixture ships one corpus). Full oracle: every
    // nll term is ONE ln of a ratio of exact integer counts (the q106
    // recipe), summed through DECIMAL(18,12) (the q104 discipline), and
    // the oracle-side decimal exits via VARCHAR (bit-exact, the q96
    // route).
    QuerySpec(
      "q109_lm_perplexity",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        TextOps.bigramLmNll(docs, "doc_id", "text", docs, "text")
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents
              |), bgd AS (
              |  SELECT doc_id,
              |    unnest([toks[i] FOR i IN range(1, len(toks))]) AS w1,
              |    unnest([toks[i+1] FOR i IN range(1, len(toks))]) AS w2
              |  FROM t WHERE len(toks) >= 2
              |), bg AS (
              |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
              |  FROM bgd GROUP BY 1, 2
              |), lc AS (
              |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bg GROUP BY 1
              |), v AS (
              |  SELECT COUNT(DISTINCT w) AS v FROM (
              |    SELECT unnest(string_split($normSql, ' ')) AS w FROM documents)
              |), sc AS (
              |  SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
              |    SUM(CAST(ln(CAST(lc.c1 + v.v AS DOUBLE) / (bg.c12 + 1))
              |        AS DECIMAL(18,12))) AS s
              |  FROM bgd d
              |  JOIN bg ON bg.w1 = d.w1 AND bg.w2 = d.w2
              |  JOIN lc ON lc.w1 = d.w1
              |  CROSS JOIN v
              |  GROUP BY d.doc_id
              |)
              |SELECT doc.doc_id, COALESCE(sc.n_bigrams, 0) AS n_bigrams,
              |  ROUND(CAST(CAST(sc.s AS VARCHAR) AS DOUBLE)
              |    / CAST(sc.n_bigrams AS DOUBLE), 6) AS avg_nll
              |FROM documents doc LEFT JOIN sc ON sc.doc_id = doc.doc_id
              |ORDER BY doc.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Hard-negative mining (Similarity.hardNegativesExact): for every
    // anchor embedding, the 3 most cosine-similar DIFFERENT-label vectors
    // — the contrastive-training pairs an embedding model learns most
    // from. Oracle-grade O(n²) flavor (the LSH flavor's recall is
    // spec-certified against it); DuckDB replays the full ranking with
    // list_cosine_similarity — exact-rank replay is the q30/q46
    // precedent (adjacent cosine gaps dwarf cross-engine ulp noise).
    QuerySpec(
      "q105_hard_negatives",
      (s, dir) =>
        Similarity.hardNegativesExact(Tables.embeddings(s, dir),
          "vec_id", "embedding", "label", k = 3)
          .orderBy("anchor_id", "rank"),
      Some("""WITH pairs AS (
             |  SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
             |    list_cosine_similarity(a.embedding::DOUBLE[],
             |                           b.embedding::DOUBLE[]) AS c
             |  FROM embeddings a JOIN embeddings b
             |    ON a.vec_id != b.vec_id AND a.label != b.label
             |  WHERE a.label IS NOT NULL AND b.label IS NOT NULL
             |), ranked AS (
             |  SELECT anchor_id, neg_id, c,
             |    ROW_NUMBER() OVER (PARTITION BY anchor_id
             |                       ORDER BY c DESC, neg_id) AS rank
             |  FROM pairs
             |)
             |SELECT anchor_id, CAST(rank AS INT) AS rank, neg_id,
             |  ROUND(c, 6) AS cosine
             |FROM ranked WHERE rank <= 3
             |ORDER BY anchor_id, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // Okapi BM25 retrieval scoring (TextOps.bm25Scores): targeted corpus
    // selection by lexical relevance. The query-term filter pushes below
    // the explode-aggregate (tf table is |docs|x|terms| skinny), df/N/
    // avgdl reduce to broadcast rows, per-term scores route through
    // DECIMAL before the doc sum. Oracle parity notes: avgdl is an exact
    // integer sum / count (avg(double) is partial-order dependent), and
    // the SQL writes (1.2 + 1.0) rather than 2.2 — the sum is one ulp
    // off the literal, and both engines must compute the SAME one.
    QuerySpec(
      "q104_bm25",
      (s, dir) =>
        TextOps.bm25Scores(Tables.documents(s, dir), "doc_id", "text",
          Seq("spark", "query", "filter"))
          .orderBy("doc_id"),
      Some(s"""WITH d AS (
              |  SELECT doc_id,
              |    CAST(len(string_split($normSql, ' ')) AS DOUBLE) AS dl,
              |    string_split($normSql, ' ') AS toks
              |  FROM documents
              |), corpus AS (
              |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
              |    CAST(SUM(CAST(dl AS BIGINT)) AS DOUBLE)
              |      / CAST(COUNT(*) AS DOUBLE) AS avgdl
              |  FROM d
              |), hits AS (
              |  SELECT doc_id, dl, unnest(toks) AS term FROM d
              |), tf AS (
              |  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf,
              |    MAX(dl) AS dl
              |  FROM hits WHERE term IN ('spark', 'query', 'filter')
              |  GROUP BY 1, 2
              |), dfq AS (
              |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1
              |)
              |SELECT tf.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
              |  ROUND(CAST(SUM(CAST(
              |    ln(1.0 + (c.n - dfq.df + 0.5) / (dfq.df + 0.5))
              |      * tf.tf * (1.2 + 1.0)
              |      / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / c.avgdl))
              |  AS DECIMAL(18,12))) AS DOUBLE), 6) AS score
              |FROM tf JOIN dfq USING (term) CROSS JOIN corpus c
              |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // BPE tokenizer TRAINING (ops.Bpe.train, Sennrich ACL'16): one
    // corpus-scale pass (word-type histogram), then numMerges iterations
    // over the VOCAB table only. The merge list is fully deterministic
    // (max count, ties lexicographic) but iterative — no SQL engine can
    // replay the whole sequence. Banded oracle: merge 0 IS one plain
    // aggregation (most frequent adjacent char pair of the char-split
    // corpus), so DuckDB replays (left, right, count) of rank 0 exactly;
    // later ranks carry two Spark-computed consistency verdicts DuckDB
    // confirms as TRUE:
    //   structure_ok   each side of merge i is a corpus character or the
    //                  output of an EARLIER merge (the vocab-closure
    //                  property a valid merge table must have; the char
    //                  set is re-derived from the corpus, not from train)
    //   merge_used_ok  merge i's output token either survives in the
    //                  encoded corpus (one Bpe.encode pass — the
    //                  INDEPENDENT codegen path, not train's rewrite) or
    //                  is consumed as input by a LATER merge — a learned
    //                  token that neither appears nor feeds a later merge
    //                  would be garbage
    // BpeSpec additionally certifies the full sequence on a hand-computed
    // corpus and layout-invariance.
    QuerySpec(
      "q100_bpe_train",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val merges = graft.ops.Bpe.train(docs, "text", numMerges = 30)
        // corpus character set, derived independently of train's vocab
        val charset = docs
          .select(explode(filter(
            split(TextOps.normalized(col("text")), ""),
            x => x =!= "" && x =!= " ")).as("c"))
          .distinct().collect().map(_.getString(0)).toSet
        // distinct subword tokens of the encoded corpus (vocab-bounded)
        val encoded = graft.ops.Bpe.encode(docs, "text", merges)
          .select(explode(col("bpe_tokens")).as("t"))
          .distinct().collect().map(_.getString(0)).toSet
        val mergedByRank = merges.map(m => m.left + m.right)
        def validSym(sym: String, rank: Int): Boolean =
          (sym.length == 1 && charset(sym)) ||
            mergedByRank.take(rank).contains(sym)
        import s.implicits._
        merges.map { m =>
          (m.rank,
            if (m.rank == 0) Some(m.left) else None,
            if (m.rank == 0) Some(m.right) else None,
            if (m.rank == 0) Some(m.pairCount) else None,
            validSym(m.left, m.rank) && validSym(m.right, m.rank),
            encoded(m.left + m.right) || merges.drop(m.rank + 1)
              .exists(later => later.left == m.left + m.right ||
                later.right == m.left + m.right))
        }.toDF("rank", "first_left", "first_right", "first_count",
          "structure_ok", "merge_used_ok")
          .orderBy("rank")
      },
      Some(s"""WITH w AS (
              |  SELECT unnest(string_split($normSql, ' ')) AS w FROM documents
              |), wc AS (
              |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM w
              |  WHERE length(w) > 0 GROUP BY w
              |), ch AS (
              |  SELECT cnt, string_split(w, '') AS cs FROM wc
              |), pr AS (
              |  SELECT unnest([cs[i] FOR i IN range(1, len(cs))]) AS l,
              |         unnest([cs[i+1] FOR i IN range(1, len(cs))]) AS r,
              |         cnt
              |  FROM ch WHERE len(cs) >= 2
              |), best AS (
              |  SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS pc
              |  FROM pr GROUP BY l, r
              |  ORDER BY SUM(cnt) DESC, l, r LIMIT 1
              |)
              |SELECT CAST(rk.range AS INT) AS rank,
              |  CASE WHEN rk.range = 0 THEN b.l END AS first_left,
              |  CASE WHEN rk.range = 0 THEN b.r END AS first_right,
              |  CASE WHEN rk.range = 0 THEN b.pc END AS first_count,
              |  TRUE AS structure_ok, TRUE AS merge_used_ok
              |FROM range(0, 30) rk CROSS JOIN best b
              |ORDER BY rank""".stripMargin)),

    // ------------------------------------------------------------------
    // BPE ENCODING at corpus scale (ops.Bpe.encode): greedy lowest-rank
    // merging per word, learned ranks as ONE plan reference object inside
    // the codegen span, zero shuffles. Banded oracle: DuckDB replays
    // doc_id and the whitespace-free character count exactly; the BPE
    // semantics ride as in-band verdicts — token concatenation must
    // reproduce the letters (losslessness) and the token count must land
    // in [1, n_chars] (real compression, no dropped text).
    QuerySpec(
      "q101_bpe_encode",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val merges = graft.ops.Bpe.train(docs, "text", numMerges = 20)
        val letters = regexp_replace(graft.ops.TextOps.normalized(col("text")),
          " ", "")
        graft.ops.Bpe.encode(docs, "text", merges)
          .select(col("doc_id"), length(letters).as("n_chars"),
            (concat_ws("", col("bpe_tokens")) === letters).as("rejoin_ok"),
            ((length(letters) === 0 && size(col("bpe_tokens")) === 0) ||
              (size(col("bpe_tokens")) >= 1 &&
                size(col("bpe_tokens")) <= length(letters)))
              .as("compression_ok"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
              |  CAST(length(replace($normSql, ' ', '')) AS INT) AS n_chars,
              |  TRUE AS rejoin_ok, TRUE AS compression_ok
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // TF-IDF top-5 terms per document (tf · ln(N/df)). Ranking by the
    // UNROUNDED score with term tie-break; ln(N/df) probed bit-identical
    // JVM-vs-DuckDB across every achievable ratio at this scale, products
    // and divisions IEEE-exact, so the window picks identical term sets.
    QuerySpec(
      "q67_tfidf_top_terms",
      (s, dir) =>
        TextOps.tfidfTopTerms(Tables.documents(s, dir), "doc_id", "text", k = 5)
          .sortWithinPartitions("doc_id", "term"),
      Some(s"""WITH t AS (
              |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS term FROM documents
              |), tf AS (
              |  SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2
              |), dfq AS (
              |  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
              |), n AS (
              |  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents
              |), sc AS (
              |  SELECT tf.doc_id, tf.term,
              |    tf.tf * ln(n.n / dfq.df) AS score_raw,
              |    row_number() OVER (PARTITION BY tf.doc_id
              |      ORDER BY tf.tf * ln(n.n / dfq.df) DESC, tf.term) AS rn
              |  FROM tf JOIN dfq USING (term) CROSS JOIN n
              |)
              |SELECT doc_id, term, ROUND(score_raw, 6) AS score
              |FROM sc WHERE rn <= 5 ORDER BY doc_id, term""".stripMargin)),

    // ------------------------------------------------------------------
    // Contiguous global id assignment in doc_id order — the scalable
    // replacement for a global row_number window (which funnels the corpus
    // through one task). Range partition + local sort + zipWithIndex
    // offsets; for unique keys the result equals the single-task window on
    // any cluster layout, which is exactly what the oracle asserts.
    QuerySpec(
      "q68_global_ids",
      (s, dir) =>
        graft.ops.ScaleOps.contiguousIds(
          Tables.documents(s, dir).select(col("doc_id"), col("source")),
          sortCols = Seq("doc_id"), numPartitions = 8)
          .orderBy("doc_id"),
      Some("""SELECT doc_id, source,
             |  CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS global_id
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Incremental dedup (Dedup.dedupAgainstCorpus): the nightly-ingest
    // shape — an incoming batch (doc_id % 5 = 0) filtered against the
    // existing corpus by exact fingerprint anti-join, then cross-set exact
    // n-gram Jaccard (new↔old pairs only; cost scales with the batch, not
    // the corpus). Output = surviving incoming ids.
    QuerySpec(
      "q70_incremental_dedup",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.dedupAgainstCorpus(
          docs.filter(col("doc_id") % 5 === 0),
          docs.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", shingleSize = 3, minJaccard = 0.5)
          .select(col("doc_id")).orderBy("doc_id")
      },
      Some(s"""WITH inc AS (
              |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
              |), corp AS (
              |  SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0
              |), ex AS (
              |  SELECT doc_id, text FROM inc
              |  WHERE md5($normSql) NOT IN (SELECT DISTINCT md5($normSql) FROM corp)
              |), shi AS (
              |  SELECT doc_id, unnest(list_distinct(
              |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks) - 1)])) AS s
              |  FROM (SELECT doc_id, string_split($normSql, ' ') AS toks FROM ex)
              |), shc AS (
              |  SELECT doc_id, unnest(list_distinct(
              |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks) - 1)])) AS s
              |  FROM (SELECT doc_id, string_split($normSql, ' ') AS toks FROM corp)
              |), szi AS (
              |  SELECT doc_id, COUNT(*) AS n FROM shi GROUP BY 1
              |), szc AS (
              |  SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY 1
              |), pr AS (
              |  SELECT i.doc_id AS di, c.doc_id AS dc, COUNT(*) AS cm
              |  FROM shi i JOIN shc c ON i.s = c.s GROUP BY 1, 2
              |), drops AS (
              |  SELECT DISTINCT di FROM pr
              |  JOIN szi x ON x.doc_id = pr.di JOIN szc y ON y.doc_id = pr.dc
              |  WHERE CAST(cm AS DOUBLE) / (x.n + y.n - cm) >= 0.5
              |)
              |SELECT doc_id FROM ex WHERE doc_id NOT IN (SELECT di FROM drops)
              |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // IVF ANN served from the QUANTIZED persisted layout (int8 lists +
    // full-precision re-rank — the 100 TB serving path; see
    // Ivf.searchIndexQuantized): probes score on int8 codes (~1/8 the
    // list bytes of q46's double path), the top rerankFactor·k candidates
    // re-rank exactly against the refine sidecar. rerankFactor = 8 makes
    // the int8 ranking cutoff a negligible recall term, so the verdict
    // floor is the same coverage-limited 0.9 as q46. Banded oracle: exact
    // top-3 per query (DuckDB-replayed) + recall@10 >= 0.9 verdict.
    QuerySpec(
      "q89_ann_ivf_int8",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val (nc, np) = graft.ops.Ivf.ivfPolicy(emb.count(), targetRecall = 0.9,
          structureless = true)
        val queries = emb.filter(col("vec_id") < 10L)
          .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
        val index = graft.ops.Ivf.buildIndex(emb, "vec_id", "embedding",
          nCentroids = nc)
        val path = scratchDir("q89-int8")
        graft.ops.Ivf.saveIndex(index, path, quantize = true)
        val ann = graft.ops.Ivf.searchIndexQuantized(s, path, queries,
          "query_id", "query_vec", "vec_id", k = 10, nProbe = np, rerankFactor = 8)
        annWithExactVerdict(emb, queries, ann, k = 10, exactK = 3,
          recallFloor = 0.9, verdictCol = "int8_ivf_recall_ok")
      },
      Some(annOracleSql(exactK = 3, verdictCol = "int8_ivf_recall_ok"))),

    // ------------------------------------------------------------------
    // IVF-PQ serving tier (Ivf.saveIndexPq/searchIndexPq, Jégou et al.
    // TPAMI'11 — the FAISS IVFPQ shape): m sub-spaces × ≤256 centroids,
    // ONE byte per subspace per vector (~4× fewer list bytes than the
    // int8 tier), per-query ADC lookup table riding the broadcast probe
    // frame, O(m) scoring per candidate, exact re-rank from the refine
    // sidecar. Same banded oracle as q46/q89: exact top-3 DuckDB-replayed
    // + a recall@10 >= 0.9 verdict (IvfSpec certifies the floor and the
    // ≥4× byte shrink).
    QuerySpec(
      "q111_ann_ivf_pq",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val (nc, np) = graft.ops.Ivf.ivfPolicy(emb.count(), targetRecall = 0.9,
          structureless = true)
        val queries = emb.filter(col("vec_id") < 10L)
          .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
        val index = graft.ops.Ivf.buildIndex(emb, "vec_id", "embedding",
          nCentroids = nc)
        val path = scratchDir("q111-pq")
        graft.ops.Ivf.saveIndexPq(index, path)
        val ann = graft.ops.Ivf.searchIndexPq(s, path, queries,
          "query_id", "query_vec", "vec_id", k = 10, nProbe = np, rerankFactor = 8)
        annWithExactVerdict(emb, queries, ann, k = 10, exactK = 3,
          recallFloor = 0.9, verdictCol = "pq_ivf_recall_ok")
      },
      Some(annOracleSql(exactK = 3, verdictCol = "pq_ivf_recall_ok"))),

    // ------------------------------------------------------------------
    // Embedding-space decontamination (Similarity.semanticContamination):
    // the paraphrase-robust second gate next to q66's n-gram overlap —
    // eval set = vec_id < 50, corpus = the rest, a corpus row is
    // contaminated when its max cosine vs ANY eval row clears 0.4 (the
    // q31 stress threshold, so both classes appear at fixture scale).
    // Fully SQL-expressible: the oracle replays every (corpus, eval)
    // cosine and takes the rounded max — a REAL hash oracle, unlike the
    // banded ANN rows. Spark plan: eval ships as one plan-reference
    // matrix, native argmax per corpus row, one broadcast join for the
    // exact cosine — the corpus never shuffles.
    QuerySpec(
      "q90_semantic_decontaminate",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.semanticContamination(
          emb.filter(col("vec_id") >= 50L), "vec_id", "embedding",
          emb.filter(col("vec_id") < 50L), "embedding", minCosine = 0.4)
          .sortWithinPartitions("vec_id")
      },
      Some("""WITH ev AS (
             |  SELECT embedding FROM embeddings WHERE vec_id < 50
             |), mx AS (
             |  SELECT c.vec_id,
             |    MAX(ROUND(list_cosine_similarity(
             |      c.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6)) AS max_eval_cosine
             |  FROM embeddings c CROSS JOIN ev e
             |  WHERE c.vec_id >= 50
             |  GROUP BY c.vec_id
             |)
             |SELECT vec_id, max_eval_cosine, max_eval_cosine >= 0.4 AS contaminated
             |FROM mx ORDER BY vec_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Greedy k-center diversity selection (Similarity.kCenterSelect,
    // Gonzalez TCS'85): the farthest-point coreset selector data-curation
    // pipelines use to pick maximally-diverse examples. The whole greedy
    // trajectory is deterministic — every pairwise cosine is rounded to
    // 6 dp before the running max-fold and each round's argmin tie-breaks
    // on id — so DuckDB replays ALL k rounds exactly with k-1 unrolled
    // CTE pairs (c_i = fold the new center in, s_{i+1} = argmin). Spark
    // side: one corpus scan per round (broadcast center, greatest fold
    // into a persisted cmax column, limit(1) TakeOrdered argmin).
    QuerySpec(
      "q128_kcenter_select",
      (s, dir) =>
        Similarity.kCenterSelect(Tables.embeddings(s, dir),
          "vec_id", "embedding", k = 6)
          .orderBy("round"),
      Some {
        val e = "list_cosine_similarity"
        def notIn(n: Int) = (1 to n).map(j => s"SELECT vec_id FROM s$j")
          .mkString("(", " UNION ALL ", ")")
        val folds = (2 to 5).map { i =>
          s"""|, c$i AS (
              |  SELECT c.vec_id, c.v,
              |    GREATEST(c.cmax, ROUND($e(c.v, s$i.v), 6)) AS cmax
              |  FROM c${i - 1} c CROSS JOIN s$i
              |), s${i + 1} AS (
              |  SELECT vec_id, v, cmax FROM c$i
              |  WHERE vec_id NOT IN ${notIn(i)}
              |  ORDER BY cmax ASC, vec_id ASC LIMIT 1
              |)""".stripMargin
        }.mkString
        s"""WITH e AS (
           |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           |), s1 AS (
           |  SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1
           |), c1 AS (
           |  SELECT e.vec_id, e.v, ROUND($e(e.v, s1.v), 6) AS cmax
           |  FROM e CROSS JOIN s1
           |), s2 AS (
           |  SELECT vec_id, v, cmax FROM c1
           |  WHERE vec_id NOT IN (SELECT vec_id FROM s1)
           |  ORDER BY cmax ASC, vec_id ASC LIMIT 1
           |)$folds
           |SELECT CAST(1 AS INT) AS round, vec_id,
           |  CAST(NULL AS DOUBLE) AS nearest_cos FROM s1
           |${(2 to 6).map(i =>
              s"UNION ALL SELECT CAST($i AS INT), vec_id, cmax FROM s$i")
              .mkString("\n")}
           |ORDER BY round""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Hybrid retrieval with Reciprocal Rank Fusion (Retrieval.hybridRrf,
    // Cormack+ SIGIR'09): fuse the q104 BM25 lexical ranking with a
    // cosine ranking against a stored query embedding. Both rankings
    // order by ROUNDED score with id tie-break (exact SQL rank replay);
    // the fused score is SCALED-INTEGER 10^12 div (60+rank) — integer
    // division needs no float tolerance at all. Plan: two scoring scans,
    // each reduced by TakeOrdered top-50; ranks windowed on the bounded
    // 50-row frames; one outer join of two skinny lists.
    QuerySpec(
      "q129_hybrid_rrf",
      (s, dir) =>
        graft.ops.Retrieval.hybridRrf(
          Tables.documents(s, dir), "doc_id", "text",
          Seq("spark", "query", "filter"),
          Tables.embeddings(s, dir), "vec_id", "embedding",
          queryVecId = 7L, topN = 50, rrfK = 60)
          .orderBy(col("rrf_scaled").desc, col("doc_id")),
      Some(s"""WITH d AS (
              |  SELECT doc_id,
              |    CAST(len(string_split($normSql, ' ')) AS DOUBLE) AS dl,
              |    string_split($normSql, ' ') AS toks
              |  FROM documents
              |), corpus AS (
              |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
              |    CAST(SUM(CAST(dl AS BIGINT)) AS DOUBLE)
              |      / CAST(COUNT(*) AS DOUBLE) AS avgdl
              |  FROM d
              |), hits AS (
              |  SELECT doc_id, dl, unnest(toks) AS term FROM d
              |), tf AS (
              |  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf,
              |    MAX(dl) AS dl
              |  FROM hits WHERE term IN ('spark', 'query', 'filter')
              |  GROUP BY 1, 2
              |), dfq AS (
              |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1
              |), bm AS (
              |  SELECT tf.doc_id,
              |    ROUND(CAST(SUM(CAST(
              |      ln(1.0 + (c.n - dfq.df + 0.5) / (dfq.df + 0.5))
              |        * tf.tf * (1.2 + 1.0)
              |        / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / c.avgdl))
              |    AS DECIMAL(18,12))) AS DOUBLE), 6) AS score
              |  FROM tf JOIN dfq USING (term) CROSS JOIN corpus c
              |  GROUP BY tf.doc_id
              |), lexr AS (
              |  SELECT doc_id, lex_rank FROM (
              |    SELECT doc_id, CAST(ROW_NUMBER() OVER (
              |      ORDER BY score DESC, doc_id) AS INT) AS lex_rank
              |    FROM bm)
              |  WHERE lex_rank <= 50
              |), q AS (
              |  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7
              |), cs AS (
              |  SELECT e.vec_id AS doc_id,
              |    ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
              |      AS cosine
              |  FROM embeddings e CROSS JOIN q WHERE e.vec_id != 7
              |), embr AS (
              |  SELECT doc_id, emb_rank FROM (
              |    SELECT doc_id, CAST(ROW_NUMBER() OVER (
              |      ORDER BY cosine DESC, doc_id) AS INT) AS emb_rank
              |    FROM cs)
              |  WHERE emb_rank <= 50
              |)
              |SELECT COALESCE(l.doc_id, m.doc_id) AS doc_id,
              |  l.lex_rank, m.emb_rank,
              |  COALESCE(1000000000000 // (60 + l.lex_rank), 0)
              |    + COALESCE(1000000000000 // (60 + m.emb_rank), 0) AS rrf_scaled
              |FROM lexr l FULL OUTER JOIN embr m ON l.doc_id = m.doc_id
              |ORDER BY rrf_scaled DESC, doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Unicode NFC canonical normalization before dedup fingerprinting
    // (functions.NfcNormalize, Unicode TR-15): composed U+00E9 and
    // decomposed e+U+0301 are the SAME canonical text under different
    // bytes — without the fold, fingerprints diverge and exact dedup
    // misses true duplicates. Native codegen kernel (ASCII fast path,
    // no String round-trip for the common case); DuckDB's nfc_normalize
    // is the oracle twin. The fixture corpus is pure ASCII, so unicode
    // variants are PLANTED from doc_id arithmetic in BOTH engines (the
    // q126 planted-fixture pattern): ids cycle composed-café /
    // decomposed-café / decomposed-noël / plain, and the NFC dedup
    // grouping must merge the two café spellings into one 250-doc group
    // while counting exactly the decomposed half as changed.
    QuerySpec(
      "q130_nfc_dedup",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // explicit escapes: variant 1 COMPOSED (U+00E9), variants 2-3
        // DECOMPOSED combining marks (U+0301, U+0308)
        val v = array(lit("caf\u00e9 menu"), lit("cafe\u0301 menu"),
          lit("noe\u0308l list"), lit("plain ascii"))
        docs.select(col("doc_id"),
            element_at(v, (pmod(col("doc_id"), lit(4)) + 1).cast("int")).as("raw"))
          .withColumn("norm", graft.functions.ArrayMath.nfcNormalize(col("raw")))
          .groupBy(col("norm"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("doc_id")).as("survivor_id"),
            sum(when(col("raw") =!= col("norm"), 1L).otherwise(0L)).as("n_changed"))
          .orderBy(col("norm"))
      },
      Some("""WITH v AS (
             |  SELECT doc_id,
             |    list_extract(['caf' || chr(233) || ' menu',
             |                  'cafe' || chr(769) || ' menu',
             |                  'noe' || chr(776) || 'l list', 'plain ascii'],
             |      CAST(doc_id % 4 AS INT) + 1) AS raw
             |  FROM documents
             |)
             |SELECT nfc_normalize(raw) AS norm,
             |  CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  MIN(doc_id) AS survivor_id,
             |  CAST(SUM(CASE WHEN raw != nfc_normalize(raw) THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_changed
             |FROM v GROUP BY 1 ORDER BY norm""".stripMargin)),

    // ------------------------------------------------------------------
    // Asymmetric n-gram containment dedup (Dedup.containmentPairs,
    // Broder SEQUENCES'97): containment(A in B) = |A∩B|/|A| — catches a
    // short document quoted whole inside a longer one, where symmetric
    // Jaccard ≈ |A|/|B| stays under any useful threshold. Directional
    // output, exact inverted-index plan (the q27 machinery minus the
    // symmetric size prefilter, whose absence IS the asymmetry). DuckDB
    // replays every intersection over distinct shingle strings; the
    // threshold compare is an integer-ratio double division, identical
    // on both engines.
    QuerySpec(
      "q131_containment",
      (s, dir) =>
        graft.ops.Dedup.containmentPairs(Tables.documents(s, dir),
          "doc_id", "text", shingleSize = 3, minContainment = 0.3)
          .orderBy("contained_id", "container_id"),
      Some(s"""WITH t AS (
              |  SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents
              |), sh AS (
              |  SELECT doc_id, unnest(list_distinct(
              |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks) - 1)])) AS s
              |  FROM t
              |), sz AS (
              |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
              |), inter AS (
              |  SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
              |    COUNT(*) AS c
              |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id != b.doc_id
              |  GROUP BY 1, 2
              |)
              |SELECT i.contained_id, i.container_id,
              |  ROUND(CAST(i.c AS DOUBLE) / sa.n, 4) AS containment
              |FROM inter i JOIN sz sa ON sa.doc_id = i.contained_id
              |WHERE CAST(i.c AS DOUBLE) / sa.n >= 0.3
              |ORDER BY contained_id, container_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Containment drop-gate (Dedup.dropContained): survivors after
    // dropping docs contained (≥ θ) in a SURVIVING container — container
    // strictly larger by distinct shingles, or equal-size min-id, so
    // mutual/exact containment keeps exactly one copy. The whole greedy
    // rule is integer/ratio arithmetic — DuckDB replays the drop set and
    // the anti-join exactly.
    QuerySpec(
      "q132_drop_contained",
      (s, dir) =>
        graft.ops.Dedup.dropContained(Tables.documents(s, dir),
          "doc_id", "text", shingleSize = 3, minContainment = 0.3)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .orderBy("doc_id"),
      Some(s"""WITH t AS (
              |  SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents
              |), sh AS (
              |  SELECT doc_id, unnest(list_distinct(
              |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks) - 1)])) AS s
              |  FROM t
              |), sz AS (
              |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
              |), inter AS (
              |  SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
              |    COUNT(*) AS c
              |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id != b.doc_id
              |  GROUP BY 1, 2
              |), drops AS (
              |  SELECT DISTINCT i.contained_id
              |  FROM inter i
              |  JOIN sz sa ON sa.doc_id = i.contained_id
              |  JOIN sz sb ON sb.doc_id = i.container_id
              |  WHERE CAST(i.c AS DOUBLE) / sa.n >= 0.3
              |    AND (sb.n > sa.n OR (sb.n = sa.n AND i.container_id < i.contained_id))
              |)
              |SELECT doc_id, source, n_chars FROM documents
              |WHERE doc_id NOT IN (SELECT contained_id FROM drops)
              |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Train/test split-leakage audit (Curation.splitLeakage, GPT-3
    // App. C): every TEST-split doc sharing shingles with the TRAIN
    // split — the q64 deterministic split rule feeding the q66 overlap
    // join, both already hash-certified; DuckDB replays the md5 bucket
    // thresholds and the distinct-shingle intersection end-to-end.
    QuerySpec(
      "q133_split_leakage",
      (s, dir) =>
        Curation.splitLeakage(Tables.documents(s, dir), "doc_id", "text")
          .orderBy("doc_id"),
      Some(s"""WITH b AS (
              |  SELECT doc_id, text,
              |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS bk
              |  FROM documents
              |), t AS (
              |  SELECT doc_id, bk, string_split($normSql, ' ') AS toks FROM b
              |), sh AS (
              |  SELECT doc_id, bk, unnest(list_distinct(
              |    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks) - 1)])) AS s
              |  FROM t
              |), tr AS (
              |  SELECT DISTINCT s FROM sh WHERE bk < 8000
              |)
              |SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
              |FROM sh JOIN tr ON sh.s = tr.s
              |WHERE sh.bk >= 9000
              |GROUP BY sh.doc_id
              |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Corpus datasheet (Profile.corpusDatasheet, Gebru et al. CACM'21):
    // the one-row release-documentation report — counts, exact-dup rate,
    // token totals, char extremes — every field an exact integer or one
    // integer division, one aggregation pass (distincts via a single
    // Expand). Each piece reuses the spelling its standalone query
    // certifies (q15/q21/q22/q23).
    QuerySpec(
      "q134_corpus_datasheet",
      (s, dir) =>
        graft.ops.Profile.corpusDatasheet(Tables.documents(s, dir),
          "doc_id", "text", "lang", "source"),
      Some(s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
              |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
              |  CAST(COUNT(*) - COUNT(DISTINCT md5($normSql)) AS BIGINT)
              |    AS n_exact_dup_docs,
              |  CAST(SUM(len($toksSql)) AS BIGINT) AS total_tokens,
              |  CAST(SUM(len($toksSql)) AS DOUBLE) / COUNT(*) AS avg_tokens,
              |  CAST(MIN(length(text)) AS BIGINT) AS min_chars,
              |  CAST(MAX(length(text)) AS BIGINT) AS max_chars,
              |  CAST(SUM(CASE WHEN len($toksSql) < 50 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_short_docs
              |FROM documents""".stripMargin)),

    // ------------------------------------------------------------------
    // VIDEO-container sample catalog (functions.Mp4Kernel — the
    // ISO-BMFF sibling of q126/q127's frame planes, VERDICT r11 item 8):
    // every doc gets a genuine single-video-track MP4 (ftyp + honestly
    // sized mdat + full moov tree: mvhd, tkhd with 16.16 geometry, mdhd,
    // hdlr, vmhd/dinf, and the mandatory stsd/stts/stsz sample-table
    // trio with real chunk offsets, assembled from doc_id-derived
    // parameters), and the native Mp4Meta expression strict-walks the
    // box grammar back OUT — per-sample sizes and run-length-expanded
    // durations without touching a codec byte (sample catalogs are a
    // metadata plane at corpus scale; mdat is never read). The oracle
    // recomputes every planted field from doc_id arithmetic via
    // range-unnest — any walker drift from the public ISO/IEC 14496-12
    // layout hash-mismatches; corrupt-payload rejection (truncated box,
    // non-tiling children, stts/stsz count mismatch, sample-count bomb,
    // missing moov, bad version) is pinned in OpsSpec.
    QuerySpec(
      "q135_mp4_samples",
      (s, dir) => {
        val media = Tables.documents(s, dir)
          .select(col("doc_id").as("media_id"),
            Multimodal.mp4Bytes(
              (col("doc_id") % 64 + 16).cast("int"),
              ((col("doc_id") * 3) % 64 + 16).cast("int"),
              (col("doc_id") % 5 + 1).cast("int"),
              (col("doc_id") % 17).cast("int")).as("bytes"))
        Multimodal.mp4Samples(media)
          .select(col("media_id"), col("major_brand"),
            col("timescale").cast("long").as("timescale"),
            col("duration"),
            col("n_tracks").cast("long").as("n_tracks"),
            col("track_id").cast("long").as("track_id"),
            col("handler"), col("codec"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("media_timescale").cast("long").as("media_timescale"),
            col("media_duration"),
            col("n_samples").cast("long").as("n_samples"),
            col("sample_idx").cast("long").as("sample_idx"),
            col("sample_size").cast("long").as("sample_size"),
            col("sample_delta").cast("long").as("sample_delta"))
          .sortWithinPartitions("media_id", "sample_idx")
      },
      Some("""WITH e AS (
             |  SELECT doc_id, doc_id % 17 AS seed, doc_id % 5 + 1 AS n,
             |         unnest(range(doc_id % 5 + 1)) AS i
             |  FROM documents),
             |d AS (
             |  SELECT doc_id, seed, n, i,
             |         (seed + 7*i) % 100 + 1 AS delta,
             |         (seed + 11*i) % 900 + 100 AS sz
             |  FROM e),
             |t AS (SELECT doc_id, SUM(delta) AS mdur FROM d GROUP BY doc_id)
             |SELECT d.doc_id AS media_id,
             |  'isom' AS major_brand,
             |  CAST(600 * (d.seed % 4 + 1) AS BIGINT) AS timescale,
             |  CAST(t.mdur AS BIGINT) AS duration,
             |  CAST(1 AS BIGINT) AS n_tracks,
             |  CAST(1 AS BIGINT) AS track_id,
             |  'vide' AS handler,
             |  'avc1' AS codec,
             |  CAST(d.doc_id % 64 + 16 AS BIGINT) AS width,
             |  CAST((d.doc_id * 3) % 64 + 16 AS BIGINT) AS height,
             |  CAST(600 * (d.seed % 4 + 1) AS BIGINT) AS media_timescale,
             |  CAST(t.mdur AS BIGINT) AS media_duration,
             |  CAST(d.n AS BIGINT) AS n_samples,
             |  CAST(d.i AS BIGINT) AS sample_idx,
             |  CAST(d.sz AS BIGINT) AS sample_size,
             |  CAST(d.delta AS BIGINT) AS sample_delta
             |FROM d JOIN t ON t.doc_id = d.doc_id
             |ORDER BY media_id, sample_idx""".stripMargin)),

    // ------------------------------------------------------------------
    // Image perceptual hash (functions.DHashKernel — the pixel-plane
    // near-dup signature LAION-style image curation keys on): every doc
    // gets a genuine PNG gradient (real zlib/defilter decode on the way
    // back out), and dHash's 9×8 NN luma grid + 64 adjacent-pixel
    // comparisons are integer-exact, so the oracle replays the ENTIRE
    // hash bit for bit from the planted (w, h, r0, g0, b0) arithmetic —
    // floor NN rule, integer BT.601 luma, LSB-first bit order. The
    // 64-bit signature ships as two unsigned 32-bit halves so neither
    // engine's BIGINT sign bit is in play.
    QuerySpec(
      "q136_image_dhash",
      (s, dir) => {
        val media = Tables.documents(s, dir)
          .select(col("doc_id").as("media_id"),
            Multimodal.pngGradientBytes(
              (col("doc_id") % 24 + 12).cast("int"),
              ((col("doc_id") * 3) % 24 + 12).cast("int"),
              (col("doc_id") % 200).cast("int"),
              ((col("doc_id") * 5) % 200).cast("int"),
              ((col("doc_id") * 7) % 200).cast("int")).as("bytes"))
        Multimodal.imageDHash(media)
          .select(col("media_id"),
            expr("dhash & 4294967295").as("dhash_lo"),
            expr("(dhash >> 32) & 4294967295").as("dhash_hi"))
          .sortWithinPartitions("media_id")
      },
      Some("""WITH p AS (
             |  SELECT doc_id, doc_id % 24 + 12 AS w, (doc_id*3) % 24 + 12 AS h,
             |         doc_id % 200 AS r0, (doc_id*5) % 200 AS g0,
             |         (doc_id*7) % 200 AS b0
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, yy, xx,
             |    (299*((r0 + (xx*w)//9 + (yy*h)//8) % 256)
             |     + 587*((g0 + (xx*w)//9 + (yy*h)//8) % 256)
             |     + 114*((b0 + (xx*w)//9 + (yy*h)//8) % 256)) // 1000 AS luma
             |  FROM p, (SELECT unnest(range(8)) AS yy),
             |       (SELECT unnest(range(9)) AS xx)),
             |bits AS (
             |  SELECT a.doc_id, a.yy, a.xx,
             |    CASE WHEN b.luma > a.luma THEN 1 ELSE 0 END AS bit
             |  FROM g a JOIN g b
             |    ON b.doc_id = a.doc_id AND b.yy = a.yy AND b.xx = a.xx + 1
             |  WHERE a.xx < 8)
             |SELECT doc_id AS media_id,
             |  CAST(SUM(CASE WHEN yy*8+xx < 32
             |    THEN bit * (1::BIGINT << (yy*8+xx)) ELSE 0 END) AS BIGINT)
             |    AS dhash_lo,
             |  CAST(SUM(CASE WHEN yy*8+xx >= 32
             |    THEN bit * (1::BIGINT << (yy*8+xx-32)) ELSE 0 END) AS BIGINT)
             |    AS dhash_hi
             |FROM bits GROUP BY doc_id
             |ORDER BY media_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Image near-dup DEGREE (Dedup.hamming64Degrees — the clique-
    // collapsed spelling of text SimHash's 16-bit-chunk banding plan,
    // complete for Hamming ≤ 2 by pigeonhole): identical dHashes are
    // counted in closed form from multiplicities and only DISTINCT
    // signatures band-join, so a corpus where re-uploads dominate (or a
    // fixture whose gradients collapse to few hashes — exactly this one)
    // cannot form a quadratic hot bucket; only (id, sig) rows ever
    // shuffle, never image payloads. The oracle replays hashes as in
    // q136 then verifies the full pair relation with bit_count(xor) over
    // the two halves — any banding incompleteness, multiplicity drift,
    // or verification drift changes a degree and hash-mismatches.
    QuerySpec(
      "q137_image_neardup_degree",
      (s, dir) => {
        val media = Tables.documents(s, dir)
          .select(col("doc_id").as("media_id"),
            Multimodal.pngGradientBytes(
              (col("doc_id") % 24 + 12).cast("int"),
              ((col("doc_id") * 3) % 24 + 12).cast("int"),
              (col("doc_id") % 200).cast("int"),
              ((col("doc_id") * 5) % 200).cast("int"),
              ((col("doc_id") * 7) % 200).cast("int")).as("bytes"))
        Multimodal.imageNearDupDegrees(media, maxDistance = 2)
          .select(col("media_id"), col("n_near_dups"))
          .orderBy("media_id")
      },
      Some("""WITH p AS (
             |  SELECT doc_id, doc_id % 24 + 12 AS w, (doc_id*3) % 24 + 12 AS h,
             |         doc_id % 200 AS r0, (doc_id*5) % 200 AS g0,
             |         (doc_id*7) % 200 AS b0
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, yy, xx,
             |    (299*((r0 + (xx*w)//9 + (yy*h)//8) % 256)
             |     + 587*((g0 + (xx*w)//9 + (yy*h)//8) % 256)
             |     + 114*((b0 + (xx*w)//9 + (yy*h)//8) % 256)) // 1000 AS luma
             |  FROM p, (SELECT unnest(range(8)) AS yy),
             |       (SELECT unnest(range(9)) AS xx)),
             |bits AS (
             |  SELECT a.doc_id, a.yy, a.xx,
             |    CASE WHEN b.luma > a.luma THEN 1 ELSE 0 END AS bit
             |  FROM g a JOIN g b
             |    ON b.doc_id = a.doc_id AND b.yy = a.yy AND b.xx = a.xx + 1
             |  WHERE a.xx < 8),
             |h AS (
             |  SELECT doc_id,
             |    CAST(SUM(CASE WHEN yy*8+xx < 32
             |      THEN bit * (1::BIGINT << (yy*8+xx)) ELSE 0 END) AS BIGINT) AS lo,
             |    CAST(SUM(CASE WHEN yy*8+xx >= 32
             |      THEN bit * (1::BIGINT << (yy*8+xx-32)) ELSE 0 END) AS BIGINT) AS hi
             |  FROM bits GROUP BY doc_id),
             |pairs AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM h a JOIN h b ON a.doc_id < b.doc_id
             |  WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 2)
             |SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_near_dups
             |FROM (SELECT id_a AS media_id FROM pairs
             |      UNION ALL SELECT id_b FROM pairs)
             |GROUP BY media_id
             |ORDER BY media_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Corpus-level boilerplate line removal (TextOps.
    // removeBoilerplateLines — the C4/RefinedWeb line-dedup rule): a
    // planted footer line is appended to every even doc ("subscribe
    // now", df 250 ≫ maxDf 10 → boilerplate) and a per-doc unique line
    // to every odd doc (df 1 → survives); the operator must drop
    // exactly the high-df lines from every document while preserving
    // order, blanks, and any naturally repeated fixture lines the SAME
    // way the oracle's replay does. Output is the full cleaned text —
    // any reassembly drift (order, separator, lost blank) hash-
    // mismatches.
    QuerySpec(
      "q138_boilerplate_lines",
      (s, dir) => {
        val src = Tables.documents(s, dir)
          .select(col("doc_id"),
            concat(col("text"), lit("\n"),
              when(col("doc_id") % 2 === 0, lit("subscribe now"))
                .otherwise(concat(lit("unique-"), col("doc_id"))))
              .as("text"))
        TextOps.removeBoilerplateLines(src, "doc_id", "text", maxDf = 10L)
          .orderBy("doc_id")
      },
      Some("""WITH src AS (
             |  SELECT doc_id,
             |    text || chr(10) || CASE WHEN doc_id % 2 = 0
             |      THEN 'subscribe now'
             |      ELSE 'unique-' || CAST(doc_id AS VARCHAR) END AS text
             |  FROM documents),
             |p AS (SELECT doc_id, text, string_split(text, chr(10)) AS parts
             |      FROM src),
             |l AS (SELECT doc_id, parts, unnest(range(len(parts))) AS i FROM p),
             |t AS (SELECT doc_id, i, parts[CAST(i+1 AS INT)] AS line,
             |             trim(parts[CAST(i+1 AS INT)]) AS tl FROM l),
             |bp AS (SELECT tl FROM (
             |         SELECT tl, COUNT(DISTINCT doc_id) AS df FROM t
             |         WHERE tl <> '' GROUP BY tl) WHERE df > 10),
             |keep AS (SELECT t.doc_id, t.i, t.line FROM t
             |         WHERE t.tl = '' OR t.tl NOT IN (SELECT tl FROM bp)),
             |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
             |               string_agg(line, chr(10) ORDER BY i) AS cleaned
             |        FROM keep GROUP BY doc_id),
             |n AS (SELECT doc_id, len(string_split(text, chr(10))) AS n_lines
             |      FROM src)
             |SELECT n.doc_id, COALESCE(agg.cleaned, '') AS cleaned_text,
             |  CAST(n.n_lines AS BIGINT) AS n_lines,
             |  CAST(n.n_lines - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_dropped
             |FROM n LEFT JOIN agg ON agg.doc_id = n.doc_id
             |ORDER BY n.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // WARC/WET round trip (functions.WarcKernel + Sources.warcRecords —
    // the Common-Crawl ingest grammar, ISO 28500): every doc becomes a
    // byte-exact WET conversion record (Content-Length in UTF-8 BYTES,
    // multi-byte text in the fixture corpus keeps that honest), records
    // concatenate into multi-record files in doc_id order, and the
    // strict native walk parses every field + position back OUT through
    // Content-Length framing. The oracle rebuilds every field directly
    // from documents (record_idx via a window over the same grouping) —
    // any framing drift, byte/char confusion, or order loss
    // hash-mismatches. Corruption rejection is pinned in OpsSpec.
    QuerySpec(
      "q139_warc_roundtrip",
      (s, dir) => {
        import graft.functions.ArrayMath
        val recs = Tables.documents(s, dir)
          .select(col("doc_id"), (col("doc_id") % 16).as("file_id"),
            ArrayMath.warcRecordBytes(
              concat(lit("http://example.com/p/"), col("doc_id")),
              concat(lit("2024-01-"),
                lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0"),
                lit("T00:00:00Z")),
              col("text")).cast("string").as("rec"))
        val files = recs.groupBy("file_id")
          .agg(array_join(
            transform(array_sort(collect_list(struct(col("doc_id"), col("rec")))),
              x => x.getField("rec")), "").cast("binary").as("bytes"))
        graft.sources.Sources.warcRecords(files, "bytes",
            keepCols = Seq("file_id"))
          .select(col("warc_type"), col("record_id"), col("target_uri"),
            col("warc_date"), col("content_length"),
            // payload is BINARY (response records carry gzip/image
            // bodies); this WET text lane decodes it explicitly
            col("payload").cast("string").as("payload"),
            col("file_id").cast("long").as("file_id"),
            col("record_idx").cast("long").as("record_idx"))
          .orderBy("target_uri")
      },
      Some("""SELECT 'conversion' AS warc_type,
             |  'urn:graft:http://example.com/p/' || CAST(doc_id AS VARCHAR)
             |    AS record_id,
             |  'http://example.com/p/' || CAST(doc_id AS VARCHAR) AS target_uri,
             |  '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
             |    || 'T00:00:00Z' AS warc_date,
             |  CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
             |  text AS payload,
             |  CAST(doc_id % 16 AS BIGINT) AS file_id,
             |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id)
             |    - 1 AS BIGINT) AS record_idx
             |FROM documents
             |ORDER BY target_uri""".stripMargin)),

    // ------------------------------------------------------------------
    // Audio fingerprint (functions.WavPcmKernel.fingerprint64 — the
    // audio sibling of q136's image dHash, a Haitsma–Kalker-style
    // energy-difference hash on the time axis): every doc gets a genuine
    // 16-bit PCM WAV with the closed-form tone payload, and the
    // fingerprint's 64-window |amp| fold + adjacent comparisons are
    // integer-exact, so the oracle replays the ENTIRE hash bit for bit —
    // sample formula, floor window rule, LSB-first bits (bit 0 always
    // 0). Same unsigned-halves convention as q136.
    QuerySpec(
      "q140_audio_fingerprint",
      (s, dir) => {
        val media = Tables.documents(s, dir)
          .select(col("doc_id").as("media_id"),
            Multimodal.wavToneBytes(
              (col("doc_id") % 2 + 1).cast("int"), lit(8000),
              lit(16), (col("doc_id") % 256 + 64).cast("int")).as("bytes"))
        Multimodal.audioFingerprint(media)
          .select(col("media_id"),
            expr("afp & 4294967295").as("afp_lo"),
            expr("(afp >> 32) & 4294967295").as("afp_hi"))
          .orderBy("media_id")
      },
      Some("""WITH p AS (
             |  SELECT doc_id,
             |    (doc_id % 2 + 1) * (doc_id % 256 + 64) AS n FROM documents),
             |s AS (SELECT doc_id, n, unnest(range(n)) AS i FROM p),
             |a AS (SELECT doc_id, n, i,
             |        abs((i*1031 + 7) % 65536 - 32768) AS amp FROM s),
             |e AS (SELECT doc_id, i*64//n AS k, SUM(amp) AS en
             |      FROM a GROUP BY doc_id, i*64//n),
             |b AS (SELECT c.doc_id, c.k,
             |        CASE WHEN c.en > pr.en THEN 1 ELSE 0 END AS bit
             |      FROM e c JOIN e pr
             |        ON pr.doc_id = c.doc_id AND pr.k = c.k - 1)
             |SELECT doc_id AS media_id,
             |  CAST(SUM(CASE WHEN k < 32
             |    THEN bit * (1::BIGINT << CAST(k AS INT)) ELSE 0 END) AS BIGINT)
             |    AS afp_lo,
             |  CAST(SUM(CASE WHEN k >= 32
             |    THEN bit * (1::BIGINT << CAST(k - 32 AS INT)) ELSE 0 END)
             |    AS BIGINT) AS afp_hi
             |FROM b GROUP BY doc_id
             |ORDER BY media_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Corpus snapshot diff (Curation.corpusDiff — the incremental-ingest
    // bookkeeping between corpus versions): a synthetic v2 of documents
    // removes every %10==0 doc, rewrites every %10==1 text, and re-adds
    // every %10==2 doc under a new id; the diff must classify exactly
    // those as removed/changed/added (unchanged docs produce NO row —
    // result sized by churn, not corpus) with md5 fingerprints both
    // engines compute identically. Only (id, fp) rows reach the
    // full-outer join; text never shuffles (PlanSpec).
    QuerySpec(
      "q141_corpus_diff",
      (s, dir) => {
        val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        val cur = base.filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 10 === 1, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
          .union(base.filter(col("doc_id") % 10 === 2)
            .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
        graft.ops.Curation.corpusDiff(base, cur, "doc_id", "text")
          .orderBy("change", "doc_id")
      },
      Some("""WITH base AS (SELECT doc_id, text FROM documents),
             |cur AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 10 = 1 THEN text || ' v2' ELSE text END
             |      AS text
             |  FROM base WHERE doc_id % 10 <> 0
             |  UNION ALL
             |  SELECT doc_id + 1000000, text FROM base WHERE doc_id % 10 = 2)
             |SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
             |  CASE WHEN b.doc_id IS NULL THEN 'added'
             |       WHEN c.doc_id IS NULL THEN 'removed'
             |       ELSE 'changed' END AS change,
             |  md5(b.text) AS prev_fp, md5(c.text) AS cur_fp
             |FROM base b FULL OUTER JOIN cur c ON c.doc_id = b.doc_id
             |WHERE b.doc_id IS NULL OR c.doc_id IS NULL
             |   OR md5(b.text) <> md5(c.text)
             |ORDER BY change, doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Uniform-time frame sampling (Multimodal.mp4FrameSample over the
    // q135 catalog — the vision-pipeline frame-selection policy, pure
    // metadata plane): pts = per-track running delta sum (one window
    // shuffle, the minimum), sample selected iff a multiple of the
    // interval falls in its display span — integer-exact, so the oracle
    // replays pts and the selection rule via the same window cumsum.
    QuerySpec(
      "q142_mp4_frame_sampling",
      (s, dir) => {
        val media = Tables.documents(s, dir)
          .select(col("doc_id").as("media_id"),
            Multimodal.mp4Bytes(
              (col("doc_id") % 64 + 16).cast("int"),
              ((col("doc_id") * 3) % 64 + 16).cast("int"),
              (col("doc_id") % 5 + 1).cast("int"),
              (col("doc_id") % 17).cast("int")).as("bytes"))
        Multimodal.mp4FrameSample(Multimodal.mp4Samples(media),
            intervalTicks = 64L)
          .select(col("media_id"),
            col("sample_idx").cast("long").as("sample_idx"),
            col("pts"),
            col("sample_delta").cast("long").as("sample_delta"),
            col("sample_size").cast("long").as("sample_size"))
          .orderBy("media_id", "sample_idx")
      },
      Some("""WITH e AS (
             |  SELECT doc_id, doc_id % 17 AS seed,
             |         unnest(range(doc_id % 5 + 1)) AS i
             |  FROM documents),
             |d AS (
             |  SELECT doc_id, i,
             |         (seed + 7*i) % 100 + 1 AS delta,
             |         (seed + 11*i) % 900 + 100 AS sz
             |  FROM e),
             |c AS (
             |  SELECT doc_id, i, delta, sz,
             |    COALESCE(SUM(delta) OVER (PARTITION BY doc_id ORDER BY i
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS pts
             |  FROM d)
             |SELECT doc_id AS media_id, CAST(i AS BIGINT) AS sample_idx,
             |  CAST(pts AS BIGINT) AS pts,
             |  CAST(delta AS BIGINT) AS sample_delta,
             |  CAST(sz AS BIGINT) AS sample_size
             |FROM c WHERE (64 - pts % 64) % 64 < delta
             |ORDER BY media_id, sample_idx""".stripMargin)),

    // ------------------------------------------------------------------
    // HTML → text extraction (ops.Html — the step between WARC ingest
    // and every text operator; C4 §2.2 / CCNet §3 tradition): ordered
    // regexp_replace chain (comments → script/style/noscript with
    // content → whole head → block tags to newline → remaining tags to
    // space → entity decode, &amp; last → whitespace collapse), all
    // codegen built-ins in the Java∩RE2 regex subset. The fixture
    // plants removal-order bait (a script whose string content holds
    // '</p>'), entities, both anchor quote styles and a conditional
    // list; NO raw newlines, so every output newline is produced by
    // the block stage and the oracle replays the expected text from
    // the planted pieces plus the identical collapse-chain regexes.
    QuerySpec(
      "q143_html_extract",
      (s, dir) => {
        val pages = Tables.documents(s, dir)
          .select(col("doc_id"), htmlFixture.as("html"))
        pages
          .select(col("doc_id"),
            Html.extractTitle(col("html")).as("title"),
            Html.htmlToText(col("html")).as("text"))
          .select(col("doc_id"), col("title"), col("text"),
            size(split(col("text"), "\n")).cast("long").as("n_lines"),
            length(col("text")).cast("long").as("n_chars"))
          .sortWithinPartitions("doc_id")
      },
      Some(htmlTextCtes + """
             |SELECT doc_id,
             |  'Doc ' || CAST(doc_id AS VARCHAR) || ' & co' AS title,
             |  text,
             |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
             |  CAST(length(text) AS BIGINT) AS n_chars
             |FROM x ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Host-level link graph (Html.extractLinks + UrlOps.hostOf over the
    // q143 fixture): per-row link extraction and host projection — the
    // HTML column dies in the projection and only (src_host, dst_host)
    // crosses the one aggregation shuffle, the property that makes the
    // crawl-graph plane viable at 100 TB. The oracle replays the planted
    // anchor-host arithmetic directly, so any drift in either href
    // pattern (double- OR single-quoted — the fixture plants both) or
    // in host parsing hash-mismatches.
    QuerySpec(
      "q144_link_graph",
      (s, dir) => {
        val pages = Tables.documents(s, dir).select(
          host97.as("src_host"), htmlFixture.as("html"))
        Html.linkGraph(pages, "src_host", "html")
          .orderBy("src_host", "dst_host")
      },
      Some("WITH " + linkEdgesCte.stripMargin + """
             |SELECT src_host, dst_host, COUNT(*) AS n_links
             |FROM l GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ------------------------------------------------------------------
    // PageRank over the extracted host graph (WebGraph.pageRank, Page et
    // al. 1999 — the link-based quality prior crawl curation keys on):
    // 8 fixed iterations in scaled-integer arithmetic (SCALE=10^12,
    // damping 85/100, BIGINT div everywhere — the q129 exact-fusion
    // recipe), so the whole trajectory replays bit-exactly as 8 chained
    // CTEs over the planted edge list. Plan: the edge⋈outdeg frame is
    // built once and persisted; each iteration is one join + one
    // aggregation over HOST-cardinality frames, localCheckpoint-ed so
    // plan depth stays O(1) in the iteration count.
    QuerySpec(
      "q145_pagerank",
      (s, dir) => {
        val pages = Tables.documents(s, dir).select(
          host97.as("src_host"), htmlFixture.as("html"))
        val edges = Html.linkGraph(pages, "src_host", "html")
        WebGraph.pageRank(edges, "src_host", "dst_host", iterations = 8)
          .orderBy(col("rank").desc, col("node"))
      },
      Some(pagerankOracle(8))),

    // ------------------------------------------------------------------
    // robots.txt parsing (ops.Robots — RFC 9309, the crawl-politeness
    // plane): split + posexplode + ONE window pass per host turns the
    // line grammar into bound rule rows — group = maximal User-agent
    // run + following rules, rules repeated per agent (the RFC's
    // semantic expansion), Sitemap group-independent with agent NULL.
    // The fixture plants a leading comment, a `*` group, a conditional
    // TWO-agent mixed-case group with crawl-delay, and fixed line
    // positions — the oracle replays every parsed row from arithmetic,
    // so any grammar drift (comment strip, case fold, group binding,
    // position) hash-mismatches.
    QuerySpec(
      "q147_robots_rules",
      (s, dir) => {
        val robots = Tables.documents(s, dir)
          .select(col("doc_id"), robotsFixture.as("robots"))
        Robots.robotsRules(robots, "doc_id", "robots")
          .select(col("doc_id"), col("pos").cast("long").as("pos"),
            col("agent"), col("directive"), col("value"))
          .sortWithinPartitions("doc_id", "pos", "agent")
      },
      Some("""WITH a2 AS (
             |  SELECT 'graftbot' AS agent UNION ALL SELECT 'extrabot'
             |), r AS (
             |  SELECT doc_id, 2 AS pos, '*' AS agent,
             |         'disallow' AS directive, '/private' AS value
             |  FROM documents
             |  UNION ALL SELECT doc_id, 3, '*', 'allow', '/private/ok'
             |  FROM documents
             |  UNION ALL SELECT doc_id, 4, '*', 'disallow', '/*.json$'
             |  FROM documents
             |  UNION ALL SELECT doc_id, 7, a2.agent, 'disallow', '/p'
             |  FROM documents, a2 WHERE doc_id % 2 = 0
             |  UNION ALL SELECT doc_id, 8, a2.agent, 'allow',
             |    '/p/' || CAST(doc_id % 10 AS VARCHAR)
             |  FROM documents, a2 WHERE doc_id % 2 = 0
             |  UNION ALL SELECT doc_id, 9, a2.agent, 'crawl-delay',
             |    CAST(doc_id % 7 + 1 AS VARCHAR)
             |  FROM documents, a2 WHERE doc_id % 2 = 0
             |  UNION ALL SELECT doc_id,
             |    CASE WHEN doc_id % 2 = 0 THEN 10 ELSE 5 END,
             |    NULL, 'sitemap',
             |    'https://h' || CAST(doc_id % 97 AS VARCHAR) ||
             |      '.example.org/sitemap.xml'
             |  FROM documents
             |)
             |SELECT doc_id, CAST(pos AS BIGINT) AS pos, agent, directive,
             |       value
             |FROM r ORDER BY doc_id, pos, agent""".stripMargin)),

    // ------------------------------------------------------------------
    // robots.txt URL verdicts (Robots.urlAllowed): RFC 9309 group
    // selection — the agent's own group SHADOWS `*` entirely (even ids
    // prove it) — then longest-match over allow/disallow with Allow
    // winning ties, `*`/`$` patterns compiled to LIKE (identical
    // semantics both engines), default allow on no match. Path cases
    // cycle independently of group parity so all eight
    // (group × path-case) combinations occur; expected verdicts replay
    // from the planted arithmetic.
    QuerySpec(
      "q148_robots_verdicts",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val rules = Robots.robotsRules(
          docs.select(hostUnique.as("host"), robotsFixture.as("robots")),
          "host", "robots")
        val pc = expr("doc_id div 2") % 4
        val urls = docs.select(col("doc_id"), hostUnique.as("host"),
          when(pc === 0, lit("/private/ok/page"))
            .when(pc === 1, lit("/private/x"))
            .when(pc === 2,
              concat(lit("/p/"), (col("doc_id") % 10).cast("string")))
            .otherwise(concat(lit("/data/"),
              (col("doc_id") % 10).cast("string"), lit(".json")))
            .as("path"))
        Robots.urlAllowed(urls, "doc_id", "host", "path",
            rules, "host", "GraftBot")
          .select(col("doc_id"), col("host"), col("path"),
            col("agent_used"), col("matched_rule"), col("allowed"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  'h' || CAST(doc_id AS VARCHAR) || '.example.org' AS host,
             |  CASE (doc_id // 2) % 4
             |    WHEN 0 THEN '/private/ok/page'
             |    WHEN 1 THEN '/private/x'
             |    WHEN 2 THEN '/p/' || CAST(doc_id % 10 AS VARCHAR)
             |    ELSE '/data/' || CAST(doc_id % 10 AS VARCHAR) || '.json'
             |  END AS path,
             |  CASE WHEN doc_id % 2 = 0 THEN
             |    CASE WHEN (doc_id // 2) % 4 = 3 THEN NULL
             |         ELSE 'graftbot' END
             |  ELSE
             |    CASE WHEN (doc_id // 2) % 4 = 2 THEN NULL ELSE '*' END
             |  END AS agent_used,
             |  CASE WHEN doc_id % 2 = 0 THEN
             |    CASE (doc_id // 2) % 4
             |      WHEN 0 THEN '/p' WHEN 1 THEN '/p'
             |      WHEN 2 THEN '/p/' || CAST(doc_id % 10 AS VARCHAR)
             |      ELSE NULL END
             |  ELSE
             |    CASE (doc_id // 2) % 4
             |      WHEN 0 THEN '/private/ok' WHEN 1 THEN '/private'
             |      WHEN 2 THEN NULL ELSE '/*.json$' END
             |  END AS matched_rule,
             |  CASE WHEN doc_id % 2 = 0 THEN (doc_id // 2) % 4 IN (2, 3)
             |       ELSE (doc_id // 2) % 4 IN (0, 2) END AS allowed
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Anchor-text aggregation by target host (Html.anchors +
    // anchorTextStats — the link-context signal: anchor text describes
    // the page it POINTS AT): whole <a> elements extracted, then
    // (href, text) recovered PAIRED per element via transform (two
    // independent extract_all passes would misalign on hrefless
    // anchors — the fixture's q143 bait covers none here, but the spec
    // does); explode + one aggregation, only (dst_host, text) pairs
    // shuffle. Sorted-distinct text join makes output deterministic
    // under any partitioning; the oracle replays the planted pairs.
    QuerySpec(
      "q149_anchor_text",
      (s, dir) => {
        val pages = Tables.documents(s, dir)
          .select(htmlFixture.as("html"))
        Html.anchorTextStats(pages, "html").orderBy("dst_host")
      },
      Some("""WITH p AS (
             |  SELECT 'h' || CAST((doc_id*7 + 13) % 97 AS VARCHAR) ||
             |    '.example.org' AS dst_host, 'link zero' AS atext
             |  FROM documents
             |  UNION ALL
             |  SELECT 'h' || CAST((doc_id*31 + 29) % 97 AS VARCHAR) ||
             |    '.example.org', 'link one'
             |  FROM documents WHERE doc_id % 3 != 0
             |)
             |SELECT dst_host, COUNT(*) AS n_anchors,
             |  string_agg(DISTINCT atext, '|' ORDER BY atext) AS texts
             |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // Host quality prior joined back onto documents
    // (WebGraph.hostQualityPrior — the composed crawl-curation shape:
    // extract links → PageRank hosts → every document inherits its
    // host's link-based quality score). Rank values are the q145
    // trajectory, so the oracle reuses the SAME unrolled CTE chain and
    // left-joins it to the documents' planted host arithmetic.
    QuerySpec(
      "q150_host_prior",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pages = docs.select(host97.as("src_host"),
          htmlFixture.as("html"))
        val ranks = WebGraph.pageRank(
          Html.linkGraph(pages, "src_host", "html"),
          "src_host", "dst_host", iterations = 8)
        WebGraph.hostQualityPrior(
            docs.select(col("doc_id"), host97.as("host")), "host", ranks)
          .select(col("doc_id"), col("host"), col("host_rank"))
          .orderBy("doc_id")
      },
      Some(pagerankCtes(8) + """
             |SELECT d.doc_id,
             |  'h' || CAST(d.doc_id % 97 AS VARCHAR) || '.example.org'
             |    AS host,
             |  CAST(r8.rank AS BIGINT) AS host_rank
             |FROM documents d LEFT JOIN r8
             |  ON r8.node = 'h' || CAST(d.doc_id % 97 AS VARCHAR) ||
             |     '.example.org'
             |ORDER BY d.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Crawl → corpus, end to end in ONE plan (the q125 composition
    // pattern for the web front end): docs become HTML pages inside
    // WARC response records, records concatenate into multi-record
    // crawl files, the strict ISO 28500 walk parses them back, and the
    // q143 extraction chain turns payloads into (uri, host, title,
    // text, token-count) corpus rows — WARC framing, byte/char
    // handling, head-drop, entity decode and whitespace collapse all
    // load-bearing in one oracle. Every stage reuses the spelling its
    // standalone query certifies (q139 framing, q143 extraction, q21
    // token count).
    QuerySpec(
      "q151_crawl_to_corpus",
      (s, dir) => {
        import graft.functions.ArrayMath
        val docs = Tables.documents(s, dir)
        val recs = docs.select((col("doc_id") % 16).as("file_id"),
          col("doc_id"),
          ArrayMath.warcRecordBytes(
            concat(lit("https://"), host97, lit("/p/"),
              col("doc_id").cast("string")),
            lit("2024-02-02T00:00:00Z"),
            htmlFixture).cast("string").as("rec"))
        val files = recs.groupBy("file_id")
          .agg(array_join(
            transform(array_sort(collect_list(struct(col("doc_id"),
              col("rec")))), x => x.getField("rec")), "")
            .cast("binary").as("bytes"))
        val parsed = graft.sources.Sources.warcRecords(files, "bytes")
        parsed
          .select(col("target_uri"),
            graft.ops.UrlOps.hostOf(col("target_uri")).as("host"),
            Html.extractTitle(col("payload").cast("string")).as("title"),
            Html.htmlToText(col("payload").cast("string")).as("text"))
          .select(col("target_uri"), col("host"), col("title"), col("text"),
            TextOps.tokenCount(col("text")).as("n_tokens"))
          .sortWithinPartitions("target_uri")
      },
      Some(htmlTextCtes + """
             |SELECT 'https://h' || CAST(doc_id % 97 AS VARCHAR) ||
             |    '.example.org/p/' || CAST(doc_id AS VARCHAR)
             |    AS target_uri,
             |  'h' || CAST(doc_id % 97 AS VARCHAR) || '.example.org'
             |    AS host,
             |  'Doc ' || CAST(doc_id AS VARCHAR) || ' & co' AS title,
             |  text,
             |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
             |    AS n_tokens
             |FROM x ORDER BY target_uri""".stripMargin)),

    // ------------------------------------------------------------------
    // Politeness fetch schedule (Robots.fetchSchedule — the frontier
    // step after verdicts): urlAllowed survivors slotted per host at
    // the GOVERNING group's Crawl-delay (group selection shared with
    // urlAllowed — verdicts and politeness cannot disagree), default
    // delay when the group sets none. Three planted URLs per host —
    // two allowed, one disallowed under BOTH groups — so the oracle
    // replays slots 0..1 and fetch_at = slot × (even: planted delay,
    // odd: the default 5; the `*` group sets no Crawl-delay).
    QuerySpec(
      "q152_fetch_schedule",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val rules = Robots.robotsRules(
          docs.select(hostUnique.as("host"), robotsFixture.as("robots")),
          "host", "robots")
        val urls = docs
          .select(col("doc_id"), hostUnique.as("host"),
            explode(array(lit(0), lit(1), lit(2))).as("j"))
          .select((col("doc_id") * 4 + col("j")).as("uid"), col("doc_id"),
            col("host"),
            when(col("j") < 2, concat(lit("/ok/a"), col("j").cast("string")))
              .otherwise(lit("/private/x")).as("path"))
        Robots.fetchSchedule(urls, "uid", "host", "path",
            rules, "host", "GraftBot", defaultDelaySec = 5)
          .select(col("doc_id"), col("host"), col("path"),
            col("delay_s"), col("slot"), col("fetch_at_s"))
          .orderBy("doc_id", "slot")
      },
      Some("""WITH j AS (SELECT 0 AS j UNION ALL SELECT 1)
             |SELECT doc_id,
             |  'h' || CAST(doc_id AS VARCHAR) || '.example.org' AS host,
             |  '/ok/a' || CAST(j AS VARCHAR) AS path,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 7 + 1
             |       ELSE 5 END AS BIGINT) AS delay_s,
             |  CAST(j AS BIGINT) AS slot,
             |  CAST(j * (CASE WHEN doc_id % 2 = 0 THEN doc_id % 7 + 1
             |       ELSE 5 END) AS BIGINT) AS fetch_at_s
             |FROM documents, j
             |ORDER BY doc_id, slot""".stripMargin)),

    // ------------------------------------------------------------------
    // Sitemap parsing (Robots.sitemapEntries, sitemaps.org 0.9 — the
    // discovery channel robots.txt's `Sitemap:` directive points at):
    // per-block transform keeps loc and lastmod PAIRED (the q149 anchors
    // recipe), loc is trimmed and XML-entity-decoded (&amp; in URLs),
    // loc-less blocks are invalid and DROP leaving an entry_idx gap
    // (position = source-block position). The oracle replays every row
    // — entities, padding, the gap, the conditional entry — from
    // planted arithmetic.
    QuerySpec(
      "q153_sitemap_entries",
      (s, dir) => {
        val maps = Tables.documents(s, dir)
          .select(col("doc_id"), sitemapFixture.as("xml"))
        Robots.sitemapEntries(maps, "xml", keepCols = Seq("doc_id"))
          .select(col("doc_id"), col("entry_idx").cast("long").as("entry_idx"),
            col("loc"), col("lastmod"))
          .sortWithinPartitions("doc_id", "entry_idx")
      },
      Some("""WITH r AS (
             |  SELECT doc_id, 0 AS entry_idx,
             |    'https://h' || CAST(doc_id % 97 AS VARCHAR) ||
             |      '.example.org/p/' || CAST(doc_id AS VARCHAR) ||
             |      '?a=1&b=2' AS loc,
             |    '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
             |      AS lastmod
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id, 1,
             |    'https://h' || CAST(doc_id % 97 AS VARCHAR) ||
             |      '.example.org/q/' || CAST(doc_id AS VARCHAR), NULL
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 2 END,
             |    'https://other.example/' || CAST(doc_id AS VARCHAR), NULL
             |  FROM documents WHERE doc_id % 3 = 0
             |)
             |SELECT doc_id, CAST(entry_idx AS BIGINT) AS entry_idx, loc,
             |       lastmod
             |FROM r ORDER BY doc_id, entry_idx""".stripMargin)),

    // ------------------------------------------------------------------
    // Crawl frontier, end to end (the discovery→gate→politeness
    // composition a crawler actually runs, each stage reusing its
    // certified spelling): sitemap discovery (q153 parse) → host/path
    // split off the discovered locs (UrlOps.hostOf + path regex) →
    // robots verdicts under the q147/q148 fixture (same hosts) → fetch
    // schedule (q152). Three planted locs per host: one allowed under
    // both groups, one disallowed under both, one group-dependent
    // (allowed for the agent group, `$`-rule-blocked under `*`) — so
    // the schedule's slot layout itself depends on correct group
    // shadowing, and the oracle replays it all from arithmetic.
    QuerySpec(
      "q154_crawl_frontier",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val id = col("doc_id").cast("string")
        val sitemap = concat(
          lit("<?xml version=\"1.0\"?>\n<urlset>\n<url><loc>https://h"),
          id, lit(".example.org/p/"), (col("doc_id") % 10).cast("string"),
          lit("</loc></url>\n<url><loc>https://h"), id,
          lit(".example.org/private/x</loc></url>\n<url><loc>https://h"),
          id, lit(".example.org/data/"), (col("doc_id") % 10).cast("string"),
          lit(".json</loc></url>\n</urlset>"))
        val discovered = Robots.sitemapEntries(
          docs.select(col("doc_id"), sitemap.as("xml")),
          "xml", keepCols = Seq("doc_id"))
        val urls = discovered.select(
          (col("doc_id") * 4 + col("entry_idx")).as("uid"), col("doc_id"),
          graft.ops.UrlOps.hostOf(col("loc")).as("host"),
          regexp_extract(col("loc"), "^[a-z]+://[^/]+(/.*)$", 1).as("path"))
        val rules = Robots.robotsRules(
          docs.select(hostUnique.as("host"), robotsFixture.as("robots")),
          "host", "robots")
        Robots.fetchSchedule(urls, "uid", "host", "path",
            rules, "host", "GraftBot", defaultDelaySec = 3)
          .select(col("doc_id"), col("host"), col("path"),
            col("delay_s"), col("slot"), col("fetch_at_s"))
          .orderBy("doc_id", "slot")
      },
      Some("""WITH f AS (
             |  SELECT doc_id,
             |    '/data/' || CAST(doc_id % 10 AS VARCHAR) || '.json' AS path,
             |    0 AS slot
             |  FROM documents WHERE doc_id % 2 = 0
             |  UNION ALL
             |  SELECT doc_id, '/p/' || CAST(doc_id % 10 AS VARCHAR),
             |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
             |  FROM documents
             |)
             |SELECT doc_id,
             |  'h' || CAST(doc_id AS VARCHAR) || '.example.org' AS host,
             |  path,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 7 + 1
             |       ELSE 3 END AS BIGINT) AS delay_s,
             |  CAST(slot AS BIGINT) AS slot,
             |  CAST(slot * (CASE WHEN doc_id % 2 = 0 THEN doc_id % 7 + 1
             |       ELSE 3 END) AS BIGINT) AS fetch_at_s
             |FROM f ORDER BY doc_id, slot""".stripMargin)),

    // ------------------------------------------------------------------
    // ANN deletion tier (Ivf.deleteFromIndex — the vector-DB tombstone
    // pattern, FAISS IDSelector / Milvus delete+compact): ids vec_id%7=3
    // are tombstoned AFTER the quantized index is built and saved, and
    // the search must behave as if they never existed — no list rewrite,
    // just the skinny broadcast anti-join every serving path applies.
    // Banded oracle (the q89 recipe): exact top-3 per query over the
    // LIVE corpus only (the DuckDB replay carries the same exclusion) +
    // recall@10 ≥ 0.9 verdict vs the live-only exact ranking; a deleted
    // id leaking into the ANN rows both breaks the verdict and (if it
    // displaces a live id from the exact top-3) the hash. Purge/recovery
    // mechanics are IvfSpec-pinned.
    QuerySpec(
      "q155_ann_delete",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val (nc, np) = graft.ops.Ivf.ivfPolicy(emb.count(), targetRecall = 0.9,
          structureless = true)
        val queries = emb.filter(col("vec_id") < 10L)
          .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
        val index = graft.ops.Ivf.buildIndex(emb, "vec_id", "embedding",
          nCentroids = nc)
        val path = scratchDir("q155-del")
        graft.ops.Ivf.saveIndex(index, path, quantize = true)
        graft.ops.Ivf.deleteFromIndex(path,
          emb.filter(col("vec_id") % 7 === 3).select("vec_id"), "vec_id")
        val ann = graft.ops.Ivf.searchIndexQuantized(s, path, queries,
          "query_id", "query_vec", "vec_id", k = 10, nProbe = np,
          rerankFactor = 8)
        val live = emb.filter(col("vec_id") % 7 =!= 3)
        annWithExactVerdict(live, queries, ann, k = 10, exactK = 3,
          recallFloor = 0.9, verdictCol = "post_delete_recall_ok")
      },
      Some(annOracleSql(exactK = 3, verdictCol = "post_delete_recall_ok",
        corpusWhere = " AND e.vec_id % 7 <> 3"))),

    // ------------------------------------------------------------------
    // SFT conversation flattening (ops.Chat — the messages-format parse
    // every instruction-tuning pipeline starts with): each doc becomes a
    // REAL chat JSON (three planted shapes: system+user+assistant /
    // 4-turn multi-round / bare pair, contents = text substrings),
    // parsed back through from_json + posexplode. The oracle replays
    // every (turn_idx, role, content) from the planted arithmetic — any
    // parse drift (schema, ordering, null handling) hash-mismatches.
    QuerySpec(
      "q159_chat_turns",
      (s, dir) => {
        val convs = Tables.documents(s, dir)
          .select(col("doc_id"), chatFixture.as("messages"))
        graft.ops.Chat.flattenTurns(convs, "messages",
            keepCols = Seq("doc_id"))
          .select(col("doc_id"), col("turn_idx").cast("long").as("turn_idx"),
            col("role"), col("content"))
          .sortWithinPartitions("doc_id", "turn_idx")
      },
      Some("WITH " + chatTurnsCte.stripMargin + """
             |SELECT doc_id, CAST(turn_idx AS BIGINT) AS turn_idx, role,
             |       content
             |FROM t ORDER BY doc_id, turn_idx""".stripMargin)),

    // ------------------------------------------------------------------
    // SFT loss masking (Chat.assistantSpans over the fixed
    // `<|role|>content\n` template): per turn, the exact [start, end)
    // character offsets inside the rendered conversation plus the loss
    // flag — ONE cumulative-length window per conversation, exact
    // integer offsets, tokenizer-independent. The oracle replays the
    // whole mask layout with the same window cumsum over the planted
    // turn lengths.
    QuerySpec(
      "q160_sft_spans",
      (s, dir) => {
        val convs = Tables.documents(s, dir)
          .select(col("doc_id"), chatFixture.as("messages"))
        graft.ops.Chat.assistantSpans(
            graft.ops.Chat.flattenTurns(convs, "messages",
              keepCols = Seq("doc_id")), "doc_id")
          .select(col("doc_id"), col("turn_idx").cast("long").as("turn_idx"),
            col("role"), col("span_start"), col("span_end"), col("loss"))
          .sortWithinPartitions("doc_id", "turn_idx")
      },
      Some("WITH " + chatTurnsCte.stripMargin + """,
             |c AS (
             |  SELECT doc_id, turn_idx, role,
             |    CAST(4 + length(role) + length(content) + 1 AS BIGINT)
             |      AS len
             |  FROM t
             |), w AS (
             |  SELECT doc_id, turn_idx, role, len,
             |    CAST(SUM(len) OVER (PARTITION BY doc_id ORDER BY turn_idx
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS span_end
             |  FROM c
             |)
             |SELECT doc_id, CAST(turn_idx AS BIGINT) AS turn_idx, role,
             |  span_end - len AS span_start, span_end,
             |  role = 'assistant' AS loss
             |FROM w ORDER BY doc_id, turn_idx""".stripMargin)),

    // ------------------------------------------------------------------
    // SFT mixture accounting (Chat.sftStats): per conversation, turn
    // counts and the loss-carrying (assistant) share in rendered chars
    // and whitespace tokens — the budgeting numbers a data-mixture plan
    // uses. One aggregation; empty contents count zero tokens (the
    // q21 tokenCount contract, mirrored with a CASE in the replay).
    QuerySpec(
      "q161_sft_stats",
      (s, dir) => {
        val convs = Tables.documents(s, dir)
          .select(col("doc_id"), chatFixture.as("messages"))
        graft.ops.Chat.sftStats(
            graft.ops.Chat.flattenTurns(convs, "messages",
              keepCols = Seq("doc_id")), "doc_id")
          .orderBy("doc_id")
      },
      Some("WITH " + chatTurnsCte.stripMargin + """
             |SELECT doc_id,
             |  COUNT(*) AS n_turns,
             |  CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_assistant_turns,
             |  CAST(SUM(4 + length(role) + length(content) + 1) AS BIGINT)
             |    AS rendered_chars,
             |  CAST(SUM(CASE WHEN role = 'assistant'
             |    THEN 4 + length(role) + length(content) + 1 ELSE 0 END)
             |    AS BIGINT) AS assistant_chars,
             |  CAST(SUM(CASE WHEN role = 'assistant' AND trim(content) != ''
             |    THEN len(string_split_regex(trim(content), '\s+'))
             |    ELSE 0 END) AS BIGINT) AS assistant_tokens
             |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Preference-pair hygiene (ops.Preference.pairHygiene — the DPO/RM
    // pre-training gate): normalized-fingerprint prompt dedup, NULL-safe
    // degenerate-pair detection (chosen ≡ rejected = zero preference
    // signal), empty-side flags, min-id survivor rule. The fixture
    // plants a shared prompt, degenerate copies and empty sides by
    // arithmetic; fingerprints are COMPUTED (q20's md5-of-normalized
    // spelling), so natural head collisions group identically in both
    // engines.
    QuerySpec(
      "q162_pref_hygiene",
      (s, dir) => {
        val pairs = Tables.documents(s, dir)
          .select(col("doc_id") +: prefFixture: _*)
        graft.ops.Preference.pairHygiene(pairs, "doc_id", "prompt",
            "chosen", "rejected")
          .select(col("doc_id"), col("prompt_fp"), col("degenerate"),
            col("empty_side"), col("no_prompt"), col("prompt_dups"),
            col("keep"))
          .orderBy("doc_id")
      },
      Some("WITH " + prefPairsCte.stripMargin + """,
             |n AS (
             |  SELECT doc_id,
             |    md5(trim(regexp_replace(lower(prompt), '\s+', ' ', 'g')))
             |      AS prompt_fp,
             |    trim(regexp_replace(lower(chosen), '\s+', ' ', 'g')) AS nc,
             |    trim(regexp_replace(lower(rejected), '\s+', ' ', 'g')) AS nr
             |  FROM p
             |), w AS (
             |  SELECT doc_id, prompt_fp,
             |    (nc IS NOT NULL AND nr IS NOT NULL AND nc = nr) AS degenerate,
             |    (nc IS NULL OR nr IS NULL OR nc = '' OR nr = '') AS empty_side,
             |    COUNT(*) OVER (PARTITION BY prompt_fp) AS prompt_dups,
             |    MIN(CASE WHEN NOT (nc IS NOT NULL AND nr IS NOT NULL
             |               AND nc = nr)
             |          AND NOT (nc IS NULL OR nr IS NULL OR nc = ''
             |               OR nr = '')
             |        THEN doc_id END)
             |      OVER (PARTITION BY prompt_fp) AS min_clean
             |  FROM n
             |)
             |SELECT doc_id, prompt_fp, degenerate, empty_side,
             |  FALSE AS no_prompt,
             |  CAST(prompt_dups AS BIGINT) AS prompt_dups,
             |  (NOT degenerate AND NOT empty_side AND doc_id = min_clean)
             |    AS keep
             |FROM w ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Length-bias audit (Preference.lengthBias — the Singhal et al. 2023
    // reward-hacking check: a frac_chosen_longer far from 0.5 means the
    // RM will learn "longer is better"): exact token totals per side,
    // strictly-longer count, 6-dp means. One aggregation, everything an
    // exact integer until the final rounded divisions.
    QuerySpec(
      "q163_pref_length_bias",
      (s, dir) => {
        val pairs = Tables.documents(s, dir)
          .select(col("doc_id") +: prefFixture: _*)
        graft.ops.Preference.lengthBias(pairs, "chosen", "rejected")
      },
      Some("WITH " + prefPairsCte.stripMargin + """,
             |tc AS (
             |  SELECT
             |    CASE WHEN trim(chosen) = '' THEN 0
             |         ELSE len(string_split_regex(trim(chosen), '\s+'))
             |    END AS tc,
             |    CASE WHEN trim(rejected) = '' THEN 0
             |         ELSE len(string_split_regex(trim(rejected), '\s+'))
             |    END AS tr
             |  FROM p
             |)
             |SELECT COUNT(*) AS n_pairs,
             |  COUNT(*) AS n_compared,
             |  CAST(SUM(tc) AS BIGINT) AS chosen_tokens,
             |  CAST(SUM(tr) AS BIGINT) AS rejected_tokens,
             |  CAST(SUM(CASE WHEN tc > tr THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_chosen_longer,
             |  ROUND(CAST(SUM(tc) AS DOUBLE) / COUNT(*), 6)
             |    AS mean_chosen_tokens,
             |  ROUND(CAST(SUM(tr) AS DOUBLE) / COUNT(*), 6)
             |    AS mean_rejected_tokens,
             |  ROUND(CAST(SUM(CASE WHEN tc > tr THEN 1 ELSE 0 END) AS DOUBLE)
             |    / COUNT(*), 6) AS frac_chosen_longer
             |FROM tc""".stripMargin)),

    // ------------------------------------------------------------------
    // Delivery gate, end to end (the pipeline's LAST step run in one
    // plan): q118's deterministic token-balanced shard assignment →
    // Curation.writeJsonlShards (real files on disk + integrity
    // manifest) → verifyJsonlShards re-deriving the manifest FROM THE
    // FILES. The oracle replays the shard layout with q118's exact
    // cumsum rule and carries the in-band ok verdict — a write/verify
    // path that corrupted, dropped or double-wrote any line would fail
    // either the count hash or the verdict.
    QuerySpec(
      "q167_export_verify",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .withColumn("__tok",
            coalesce(graft.ops.TextOps.tokenCount(col("text")), lit(0L)))
        val assigned = Curation.tokenShards(docs, "doc_id", "__tok",
          nShards = 8, numPartitions = 7)
        val dest = scratchDir("q167-export")
        Curation.writeJsonlShards(
          assigned.select(col("shard_id"), col("doc_id"), col("text")),
          "shard_id", dest)
        Curation.verifyJsonlShards(s, dest)
          .select(col("shard").as("shard_id"), col("n_lines"), col("ok"))
          .orderBy("shard_id")
      },
      Some("""WITH w AS (
             |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
             |    COALESCE(CASE WHEN LENGTH(trim(text)) = 0 THEN 0
             |      ELSE len(string_split_regex(trim(text), '\s+')) END, 0) AS w
             |  FROM documents
             |), c AS (
             |  SELECT doc_id, w,
             |    COALESCE(SUM(w) OVER (ORDER BY h, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
             |    (SELECT SUM(w) FROM w) AS total
             |  FROM w
             |)
             |SELECT CAST(LEAST(7, cb * 8 // total) AS BIGINT) AS shard_id,
             |  CAST(COUNT(*) AS BIGINT) AS n_lines,
             |  TRUE AS ok
             |FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Within-document repeated-line removal (TextOps.dedupLinesWithinDoc
    // — the intra-doc sibling of q138's corpus rule: scraping artifacts
    // repeat nav bars and banners INSIDE one page): first occurrence
    // survives with its original spelling and position, blank lines all
    // survive as structure. The fixture plants the repeat three times
    // around a blank; the oracle replays the exact cleaned text and the
    // drop count.
    QuerySpec(
      "q168_dedup_lines_within",
      (s, dir) => {
        val src = Tables.documents(s, dir)
          .select(col("doc_id"),
            concat(col("text"), lit("\nkeep once\nunique-"),
              col("doc_id").cast("string"), lit("\nkeep once\n\nkeep once\ntail "),
              (col("doc_id") % 5).cast("string")).as("text"))
        TextOps.dedupLinesWithinDoc(src, "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  text || chr(10) || 'keep once' || chr(10) || 'unique-' ||
             |    CAST(doc_id AS VARCHAR) || chr(10) || chr(10) ||
             |    'tail ' || CAST(doc_id % 5 AS VARCHAR) AS cleaned_text,
             |  CAST(7 AS BIGINT) AS n_lines,
             |  CAST(2 AS BIGINT) AS n_dropped
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Markdown → text extraction (ops.Markdown — the Html sibling for
    // README/docs corpora): ordered regex chain — unfence keeping code
    // content, inline-code backticks, images→alt BEFORE links→text (the
    // `!` prefix bait), line-start header/quote/bullet markers,
    // emphasis asterisks (underscores deliberately untouched —
    // snake_case identifiers planted to pin it), then the q143 collapse
    // chain. The oracle rebuilds the expected text from the planted
    // pieces + the identical collapse regexes.
    QuerySpec(
      "q164_markdown_extract",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), mdFixture.as("md"))
        docs.select(col("doc_id"),
            graft.ops.Markdown.markdownToText(col("md")).as("text"))
          .select(col("doc_id"), col("text"),
            size(split(col("text"), "\n")).cast("long").as("n_lines"),
            length(col("text")).cast("long").as("n_chars"))
          .sortWithinPartitions("doc_id")
      },
      Some("""WITH raw AS (
             |  SELECT doc_id,
             |    'Title ' || CAST(doc_id % 50 AS VARCHAR) || chr(10) ||
             |    'intro ' || substr(text, 1, 40) ||
             |    ' with bold and em' || chr(10) ||
             |    'item one' || chr(10) ||
             |    'item ' || CAST(doc_id % 9 AS VARCHAR) || chr(10) ||
             |    'quote ' || CAST(doc_id % 7 AS VARCHAR) || chr(10) ||
             |    'x_' || CAST(doc_id % 5 AS VARCHAR) ||
             |    ' and link ' || CAST(doc_id % 3 AS VARCHAR) ||
             |    ' alt ' || CAST(doc_id % 4 AS VARCHAR) || chr(10) ||
             |    'let v_' || CAST(doc_id % 3 AS VARCHAR) || ' = 1' ||
             |    chr(10) || 'tail: ' || substr(text, 41) AS rawtext
             |  FROM documents
             |), x AS (
             |  SELECT doc_id,
             |    regexp_replace(regexp_replace(regexp_replace(rawtext,
             |      '[ \t\r\f]+', ' ', 'g'), '\s*\n\s*', chr(10), 'g'),
             |      '^\s+|\s+$', '', 'g') AS text
             |  FROM raw
             |)
             |SELECT doc_id, text,
             |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
             |  CAST(length(text) AS BIGINT) AS n_chars
             |FROM x ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Markdown link inventory (Markdown.links): whole `[..](..)` /
    // `![..](..)` elements extracted then (text, url, is_image)
    // recovered PAIRED per element in true document order (the q149
    // anchors recipe). The oracle replays both planted elements —
    // order, pairing and the image flag.
    QuerySpec(
      "q165_markdown_links",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), mdFixture.as("md"))
        docs.select(col("doc_id"),
            posexplode(graft.ops.Markdown.links(col("md")))
              .as(Seq("link_idx", "l")))
          .select(col("doc_id"), col("link_idx").cast("long").as("link_idx"),
            col("l.text").as("text"), col("l.url").as("url"),
            col("l.is_image").as("is_image"))
          .sortWithinPartitions("doc_id", "link_idx")
      },
      Some("""SELECT doc_id, CAST(0 AS BIGINT) AS link_idx,
             |  'link ' || CAST(doc_id % 3 AS VARCHAR) AS text,
             |  'https://h' || CAST((doc_id*7 + 13) % 97 AS VARCHAR) ||
             |    '.example.org/p/' || CAST(doc_id AS VARCHAR) AS url,
             |  FALSE AS is_image
             |FROM documents
             |UNION ALL
             |SELECT doc_id, 1, 'alt ' || CAST(doc_id % 4 AS VARCHAR),
             |  'img.png', TRUE
             |FROM documents
             |ORDER BY doc_id, link_idx""".stripMargin)),

    // ------------------------------------------------------------------
    // Code-license gate (ops.Code — the BigCode/StarCoder permissive
    // filter): SPDX tag wins verbatim (two comment spellings planted),
    // else canonical phrases, else unknown; permissive is an explicit
    // ALLOWLIST (unknown is not permissive); comment-line accounting
    // rides the same projection. The oracle replays the planted cycle.
    QuerySpec(
      "q166_code_license",
      (s, dir) => {
        val files = Tables.documents(s, dir)
          .select(col("doc_id"), codeFixture.as("src"))
        files.select(col("doc_id"),
            graft.ops.Code.license(col("src")).as("license"),
            graft.ops.Code.commentStats(col("src")).as("__c"))
          .select(col("doc_id"), col("license"),
            graft.ops.Code.permissive(col("license")).as("permissive"),
            col("__c.n_nonblank").as("n_nonblank"),
            col("__c.n_comment").as("n_comment"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE doc_id % 7
             |    WHEN 0 THEN 'MIT' WHEN 1 THEN 'Apache-2.0'
             |    WHEN 2 THEN 'MIT' WHEN 3 THEN 'Apache-2.0'
             |    WHEN 4 THEN 'GPL' WHEN 5 THEN 'MPL'
             |    ELSE 'unknown' END AS license,
             |  doc_id % 7 IN (0, 1, 2, 3) AS permissive,
             |  CAST(CASE WHEN doc_id % 7 = 6 THEN 4 ELSE 5 END AS BIGINT)
             |    AS n_nonblank,
             |  CAST(CASE WHEN doc_id % 7 = 6 THEN 2 ELSE 3 END AS BIGINT)
             |    AS n_comment
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Cross-modal media near-dup (Multimodal.mediaNearDupVerdicts —
    // q136's image-dHash plane ∪ q140's audio-fingerprint plane into one
    // corpus verdict): every doc carries BOTH fixtures; two assets are
    // media near-dups when either signature is within Hamming 2. The
    // oracle replays both hash planes bit for bit (q136/q140's CTEs),
    // forms each pair relation with halved bit_count(xor) (the q137
    // convention), unions them, and re-derives the per-modality degrees,
    // the distinct-neighbor union degree, and the greedy min-id survivor
    // rule — any banding incompleteness or composition drift in either
    // modality changes a count or a verdict and hash-mismatches.
    QuerySpec(
      "q169_media_neardup",
      (s, dir) => {
        val media = Tables.documents(s, dir).select(
          col("doc_id").as("media_id"),
          Multimodal.pngGradientBytes(
            (col("doc_id") % 24 + 12).cast("int"),
            ((col("doc_id") * 3) % 24 + 12).cast("int"),
            (col("doc_id") % 200).cast("int"),
            ((col("doc_id") * 5) % 200).cast("int"),
            ((col("doc_id") * 7) % 200).cast("int")).as("img_bytes"),
          Multimodal.wavToneBytes(
            (col("doc_id") % 2 + 1).cast("int"), lit(8000),
            lit(16), (col("doc_id") % 256 + 64).cast("int")).as("audio_bytes"))
        Multimodal.mediaNearDupVerdicts(media,
            imgMaxDist = 2, audioMaxDist = 2)
          .orderBy("media_id")
      },
      Some("""WITH p AS (
             |  SELECT doc_id, doc_id % 24 + 12 AS w, (doc_id*3) % 24 + 12 AS h,
             |         doc_id % 200 AS r0, (doc_id*5) % 200 AS g0,
             |         (doc_id*7) % 200 AS b0
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, yy, xx,
             |    (299*((r0 + (xx*w)//9 + (yy*h)//8) % 256)
             |     + 587*((g0 + (xx*w)//9 + (yy*h)//8) % 256)
             |     + 114*((b0 + (xx*w)//9 + (yy*h)//8) % 256)) // 1000 AS luma
             |  FROM p, (SELECT unnest(range(8)) AS yy),
             |       (SELECT unnest(range(9)) AS xx)),
             |bits AS (
             |  SELECT a.doc_id, a.yy, a.xx,
             |    CASE WHEN b.luma > a.luma THEN 1 ELSE 0 END AS bit
             |  FROM g a JOIN g b
             |    ON b.doc_id = a.doc_id AND b.yy = a.yy AND b.xx = a.xx + 1
             |  WHERE a.xx < 8),
             |ih AS (
             |  SELECT doc_id,
             |    CAST(SUM(CASE WHEN yy*8+xx < 32
             |      THEN bit * (1::BIGINT << (yy*8+xx)) ELSE 0 END) AS BIGINT) AS lo,
             |    CAST(SUM(CASE WHEN yy*8+xx >= 32
             |      THEN bit * (1::BIGINT << (yy*8+xx-32)) ELSE 0 END) AS BIGINT) AS hi
             |  FROM bits GROUP BY doc_id),
             |ap0 AS (
             |  SELECT doc_id,
             |    (doc_id % 2 + 1) * (doc_id % 256 + 64) AS n FROM documents),
             |sm AS (SELECT doc_id, n, unnest(range(n)) AS i FROM ap0),
             |am AS (SELECT doc_id, n, i,
             |        abs((i*1031 + 7) % 65536 - 32768) AS amp FROM sm),
             |en AS (SELECT doc_id, i*64//n AS k, SUM(amp) AS en
             |      FROM am GROUP BY doc_id, i*64//n),
             |ab AS (SELECT c.doc_id, c.k,
             |        CASE WHEN c.en > pr.en THEN 1 ELSE 0 END AS bit
             |      FROM en c JOIN en pr
             |        ON pr.doc_id = c.doc_id AND pr.k = c.k - 1),
             |ah AS (
             |  SELECT doc_id,
             |    CAST(SUM(CASE WHEN k < 32
             |      THEN bit * (1::BIGINT << CAST(k AS INT)) ELSE 0 END)
             |      AS BIGINT) AS lo,
             |    CAST(SUM(CASE WHEN k >= 32
             |      THEN bit * (1::BIGINT << CAST(k - 32 AS INT)) ELSE 0 END)
             |      AS BIGINT) AS hi
             |  FROM ab GROUP BY doc_id),
             |ip AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM ih a JOIN ih b ON a.doc_id < b.doc_id
             |  WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 2),
             |ap AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM ah a JOIN ah b ON a.doc_id < b.doc_id
             |  WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 2),
             |u AS (SELECT id_a, id_b FROM ip UNION SELECT id_a, id_b FROM ap),
             |di AS (SELECT media_id, COUNT(*) AS n FROM
             |  (SELECT id_a AS media_id FROM ip UNION ALL SELECT id_b FROM ip)
             |  GROUP BY 1),
             |da AS (SELECT media_id, COUNT(*) AS n FROM
             |  (SELECT id_a AS media_id FROM ap UNION ALL SELECT id_b FROM ap)
             |  GROUP BY 1),
             |du AS (SELECT media_id, COUNT(*) AS n FROM
             |  (SELECT id_a AS media_id FROM u UNION ALL SELECT id_b FROM u)
             |  GROUP BY 1)
             |SELECT d.doc_id AS media_id,
             |  CAST(COALESCE(di.n, 0) AS BIGINT) AS n_img,
             |  CAST(COALESCE(da.n, 0) AS BIGINT) AS n_audio,
             |  CAST(COALESCE(du.n, 0) AS BIGINT) AS n_media,
             |  d.doc_id NOT IN (SELECT id_b FROM u) AS kept
             |FROM documents d
             |LEFT JOIN di ON di.media_id = d.doc_id
             |LEFT JOIN da ON da.media_id = d.doc_id
             |LEFT JOIN du ON du.media_id = d.doc_id
             |ORDER BY media_id""".stripMargin)),

    // ------------------------------------------------------------------
    // ExactSubstr-style duplicated spans (TextOps.dupSpans — the Lee et
    // al. 2022 cut, token-window flavor): 4-token windows occurring more
    // than once ANYWHERE in the corpus are duplicated; overlapping-or-
    // adjacent windows merge into maximal spans via the shared
    // gaps-and-islands spelling (running-max window, then island sums).
    // The oracle replays window extraction (DuckDB list slices), the
    // corpus-frequency partition count, and the identical two-stage
    // island merge — any off-by-one in window coordinates, md5 drift, or
    // merge-rule drift changes a span boundary and hash-mismatches.
    QuerySpec(
      "q170_dup_spans",
      (s, dir) =>
        graft.ops.TextOps.dupSpans(
            Tables.documents(s, dir), "doc_id", "text", k = 4)
          .orderBy("doc_id", "span_start"),
      Some("""WITH t AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents),
             |w AS (
             |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
             |    md5(array_to_string(toks[i+1:i+4], ' ')) AS key
             |  FROM t, (SELECT unnest(range(len(toks) - 3)) AS i)
             |  WHERE len(toks) >= 4),
             |m AS (
             |  SELECT doc_id, pos FROM (
             |    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY key) AS n
             |    FROM w) WHERE n > 1),
             |pm AS (
             |  SELECT doc_id, pos,
             |    MAX(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
             |  FROM m),
             |isl AS (
             |  SELECT doc_id, pos,
             |    SUM(CASE WHEN pos > COALESCE(prev_max, -1) THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY doc_id ORDER BY pos
             |        ROWS UNBOUNDED PRECEDING) AS island
             |  FROM pm)
             |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
             |  CAST(MAX(pos) + 4 AS BIGINT) AS span_end,
             |  CAST(COUNT(*) AS BIGINT) AS n_windows
             |FROM isl GROUP BY doc_id, island
             |ORDER BY doc_id, span_start""".stripMargin)),

    // ------------------------------------------------------------------
    // Duplicated-span accounting (TextOps.dupSpanStats): per doc, total
    // tokens (the q21 tokenCount contract), merged-span count and exact
    // duplicated-token mass — the number a dedup policy thresholds on
    // ("drop docs that are mostly duplicated text"). Docs without spans
    // report zeros; the oracle re-aggregates q170's span CTEs.
    QuerySpec(
      "q171_dup_span_stats",
      (s, dir) =>
        graft.ops.TextOps.dupSpanStats(
            Tables.documents(s, dir), "doc_id", "text", k = 4)
          .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents),
             |w AS (
             |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
             |    md5(array_to_string(toks[i+1:i+4], ' ')) AS key
             |  FROM t, (SELECT unnest(range(len(toks) - 3)) AS i)
             |  WHERE len(toks) >= 4),
             |m AS (
             |  SELECT doc_id, pos FROM (
             |    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY key) AS n
             |    FROM w) WHERE n > 1),
             |pm AS (
             |  SELECT doc_id, pos,
             |    MAX(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
             |  FROM m),
             |isl AS (
             |  SELECT doc_id, pos,
             |    SUM(CASE WHEN pos > COALESCE(prev_max, -1) THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY doc_id ORDER BY pos
             |        ROWS UNBOUNDED PRECEDING) AS island
             |  FROM pm),
             |sp AS (
             |  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 4 AS e
             |  FROM isl GROUP BY doc_id, island),
             |agg AS (
             |  SELECT doc_id, COUNT(*) AS n_spans, SUM(e - s) AS dup_tokens
             |  FROM sp GROUP BY doc_id)
             |SELECT d.doc_id,
             |  COALESCE(CASE WHEN LENGTH(trim(d.text)) = 0 THEN 0
             |    ELSE len(string_split_regex(trim(d.text), '\s+')) END, 0)
             |    ::BIGINT AS n_tokens,
             |  CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
             |  CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens
             |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Exact distributed quantiles (ScaleOps.exactQuantiles — the scale
    // path around the single-reducer `percentile` aggregate): discrete
    // "lower" quantile, value at 0-based rank floor(q·(n−1)) in value
    // order, extracted via range-partition + per-partition offsets (the
    // rankBuckets recipe) — only |qs| values ever reach the driver. The
    // oracle derives the same ranks with ROW_NUMBER and the identical
    // IEEE floor product; the answer is an actual data value, so both
    // engines agree bit for bit with no interpolation caveats.
    QuerySpec(
      "q172_exact_quantiles",
      (s, dir) =>
        graft.ops.ScaleOps.exactQuantiles(
            Tables.lineitem(s, dir).select(col("l_extendedprice")),
            "l_extendedprice", Seq(0.01, 0.25, 0.5, 0.75, 0.99),
            numPartitions = 8)
          .orderBy("q"),
      Some("""WITH s AS (
             |  SELECT l_extendedprice AS v FROM lineitem
             |  WHERE l_extendedprice IS NOT NULL),
             |n AS (SELECT COUNT(*) AS n FROM s),
             |r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) - 1 AS rk FROM s),
             |t(q) AS (VALUES (0.01), (0.25), (0.5), (0.75), (0.99))
             |SELECT t.q AS q, r.v AS value
             |FROM t, n, r
             |WHERE r.rk = CAST(FLOOR(t.q * (n.n - 1)) AS BIGINT)
             |ORDER BY q""".stripMargin)),

    // ------------------------------------------------------------------
    // UniMax budget waterfilling (Curation.unimaxAllocation — Chung et
    // al. ICLR'23; the epoch-capped alternative to q114's α-temperature
    // rule): size-bucketed synthetic domains give a real funded/unfunded
    // boundary at the 20k-token budget; the oracle replays the
    // division-free prefix test and the integer water level with the
    // same windows. All BIGINT, so any drift in the funded-prefix rule
    // or the truncating division hash-mismatches.
    QuerySpec(
      "q173_unimax",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(
          when(col("doc_id") < 10, "d0").when(col("doc_id") < 30, "d1")
            .when(col("doc_id") < 70, "d2").when(col("doc_id") < 150, "d3")
            .when(col("doc_id") < 310, "d4").otherwise("d5").as("domain"),
          coalesce(graft.ops.TextOps.tokenCount(col("text")), lit(0L))
            .as("toks"))
        graft.ops.Curation.unimaxAllocation(docs, "domain", "toks",
            budget = 20000L, maxEpochs = 2L)
          .orderBy("domain")
      },
      Some("""WITH d AS (
             |  SELECT CASE WHEN doc_id < 10 THEN 'd0'
             |    WHEN doc_id < 30 THEN 'd1' WHEN doc_id < 70 THEN 'd2'
             |    WHEN doc_id < 150 THEN 'd3' WHEN doc_id < 310 THEN 'd4'
             |    ELSE 'd5' END AS domain,
             |    COALESCE(CASE WHEN LENGTH(trim(text)) = 0 THEN 0
             |      ELSE len(string_split_regex(trim(text), '\s+')) END, 0)
             |      AS toks
             |  FROM documents),
             |c AS (
             |  SELECT domain, CAST(SUM(toks) AS BIGINT) AS n_tokens,
             |    CAST(SUM(toks) * 2 AS BIGINT) AS capacity
             |  FROM d GROUP BY 1),
             |k AS (
             |  SELECT domain, n_tokens, capacity,
             |    ROW_NUMBER() OVER (ORDER BY capacity, domain) AS k,
             |    COUNT(*) OVER () AS L,
             |    CAST(COALESCE(SUM(capacity) OVER (ORDER BY capacity, domain
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS BIGINT) AS prefix
             |  FROM c),
             |f AS (
             |  SELECT *, capacity * (L - k + 1) + prefix <= 20000 AS funded
             |  FROM k),
             |g AS (
             |  SELECT *,
             |    CAST(SUM(CASE WHEN funded THEN capacity ELSE 0 END)
             |      OVER () AS BIGINT) AS fmass,
             |    CAST(SUM(CASE WHEN funded THEN 0 ELSE 1 END) OVER ()
             |      AS BIGINT) AS nunf
             |  FROM f)
             |SELECT domain, n_tokens, capacity, funded,
             |  CAST(CASE WHEN funded THEN capacity
             |    ELSE (20000 - fmass) // nunf END AS BIGINT) AS alloc_tokens,
             |  CAST(CASE WHEN funded THEN capacity
             |    ELSE (20000 - fmass) // nunf END AS DOUBLE)
             |    / CAST(n_tokens AS DOUBLE) AS epochs
             |FROM g ORDER BY domain""".stripMargin)),

    // ------------------------------------------------------------------
    // KMV distinct sketch vs exact (ops.Sketches — Beyer et al.
    // SIGMOD'07): per-source distinct token-3-gram cardinality, exact
    // AND the k=64 k-minimum-values estimate. Unlike HLL++ (q103's
    // banded lane — register layout is implementation-defined), the KMV
    // sketch is md5-deterministic, so the ENTIRE estimator — 48-bit
    // hash, rank-64 order statistic, (k−1)·2^48/h_k — replays bit for
    // bit in DuckDB (hex parsed by explicit digit arithmetic below).
    QuerySpec(
      "q174_kmv_distinct",
      (s, dir) => {
        val grams = Tables.documents(s, dir)
          .select(col("source"),
            graft.ops.TextOps.tokens(col("text")).as("__t"))
          .filter(size(col("__t")) >= 3)
          .select(col("source"), explode(expr(
            "transform(sequence(0, size(__t) - 3), " +
              "i -> array_join(slice(__t, i + 1, 3), ' '))")).as("gram"))
        val exact = grams.groupBy("source")
          .agg(countDistinct("gram").as("n_exact"))
        exact.join(
            graft.ops.Sketches.kmvDistinct(grams, Seq("source"), "gram", 64),
            "source")
          .select(col("source"), col("n_exact"), col("n_sketch"),
            col("estimate"))
          .orderBy("source")
      },
      Some {
        // 48-bit value of the first 12 md5 hex chars, as explicit
        // digit arithmetic (DuckDB has no conv()) — constants are the
        // exact powers of 16
        s"""WITH t AS (
           |  SELECT source, string_split_regex(trim(text), '\\s+') AS toks
           |  FROM documents),
           |w AS (
           |  SELECT source, array_to_string(toks[i+1:i+3], ' ') AS gram
           |  FROM t, (SELECT unnest(range(len(toks) - 2)) AS i)
           |  WHERE len(toks) >= 3),
           |d AS (SELECT DISTINCT source, gram FROM w),
           |hh AS (SELECT source, gram, md5(gram) AS m FROM d),
           |hn AS (SELECT source, gram, CAST($h48Sql AS BIGINT) AS h FROM hh),
           |rk AS (
           |  SELECT source, h,
           |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, gram)
           |      AS rank
           |  FROM hn),
           |sk AS (
           |  SELECT source, COUNT(*) AS n_sketch,
           |    MAX(CASE WHEN rank = 64 THEN h END) AS kth
           |  FROM rk WHERE rank <= 64 GROUP BY source),
           |ex AS (
           |  SELECT source, COUNT(DISTINCT gram) AS n_exact FROM w
           |  GROUP BY source)
           |SELECT ex.source, CAST(ex.n_exact AS BIGINT) AS n_exact,
           |  CAST(sk.n_sketch AS BIGINT) AS n_sketch,
           |  CASE WHEN sk.n_sketch < 64 THEN CAST(sk.n_sketch AS DOUBLE)
           |    ELSE 63.0 * 281474976710656 / CAST(sk.kth AS DOUBLE) END
           |    AS estimate
           |FROM ex JOIN sk ON sk.source = ex.source
           |ORDER BY ex.source""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Sketch-only pairwise overlap (Sketches.kmvJaccardPairs — the KMV
    // set-op estimators of SIGMOD'07): Jaccard between every two
    // sources' 3-gram vocabularies answered FROM THE SKETCHES (union
    // sketch = k smallest of the sketch union; J ≈ share lying in both),
    // with the exact Jaccard alongside. The oracle re-derives the
    // sketches (q174's digit arithmetic), the pair expansion, the
    // union-sketch rank cut, and both divisions identically — 190 pair
    // rows, every one bit-replayable.
    QuerySpec(
      "q175_kmv_jaccard",
      (s, dir) => {
        val grams = Tables.documents(s, dir)
          .select(col("source"),
            graft.ops.TextOps.tokens(col("text")).as("__t"))
          .filter(size(col("__t")) >= 3)
          .select(col("source"), explode(expr(
            "transform(sequence(0, size(__t) - 3), " +
              "i -> array_join(slice(__t, i + 1, 3), ' '))")).as("gram"))
        val sk = graft.ops.Sketches.kmvSketch(grams, Seq("source"), "gram", 64)
        val est = graft.ops.Sketches.kmvJaccardPairs(sk, "source", 64)
        val d = grams.select("source", "gram").distinct()
        val sz = d.groupBy("source").agg(count(lit(1)).as("n"))
        val inter = d.as("a")
          .join(d.as("b"), col("a.gram") === col("b.gram") &&
            col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("g_a"), col("b.source").as("g_b"))
          .agg(count(lit(1)).as("n_inter"))
        est
          .join(inter, Seq("g_a", "g_b"), "left")
          .join(sz.select(col("source").as("g_a"), col("n").as("__na")), "g_a")
          .join(sz.select(col("source").as("g_b"), col("n").as("__nb")), "g_b")
          .select(col("g_a"), col("g_b"), col("n_union_sketch"),
            col("n_both"), col("j_est"),
            (coalesce(col("n_inter"), lit(0L)).cast("double") /
              (col("__na") + col("__nb") - coalesce(col("n_inter"), lit(0L)))
                .cast("double")).as("j_exact"))
          .orderBy("g_a", "g_b")
      },
      Some {
        s"""WITH t AS (
           |  SELECT source, string_split_regex(trim(text), '\\s+') AS toks
           |  FROM documents),
           |w AS (
           |  SELECT source, array_to_string(toks[i+1:i+3], ' ') AS gram
           |  FROM t, (SELECT unnest(range(len(toks) - 2)) AS i)
           |  WHERE len(toks) >= 3),
           |d AS (SELECT DISTINCT source, gram FROM w),
           |hh AS (SELECT source, gram, md5(gram) AS m FROM d),
           |hn AS (SELECT source, gram, CAST($h48Sql AS BIGINT) AS h FROM hh),
           |rk AS (
           |  SELECT source, h,
           |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, gram) AS r
           |  FROM hn),
           |sk AS (SELECT source, h FROM rk WHERE r <= 64),
           |gs AS (SELECT DISTINCT source FROM d),
           |gp AS (SELECT a.source AS g_a, b.source AS g_b
           |       FROM gs a, gs b WHERE a.source < b.source),
           |exp AS (
           |  SELECT g_a, g_b, h, COUNT(DISTINCT side) AS sides FROM (
           |    SELECT gp.g_a, gp.g_b, s.h, 'a' AS side
           |    FROM gp JOIN sk s ON s.source = gp.g_a
           |    UNION ALL
           |    SELECT gp.g_a, gp.g_b, s.h, 'b'
           |    FROM gp JOIN sk s ON s.source = gp.g_b)
           |  GROUP BY 1, 2, 3),
           |ur AS (
           |  SELECT g_a, g_b, sides,
           |    ROW_NUMBER() OVER (PARTITION BY g_a, g_b ORDER BY h) AS r
           |  FROM exp),
           |est AS (
           |  SELECT g_a, g_b, COUNT(*) AS n_union_sketch,
           |    SUM(CASE WHEN sides = 2 THEN 1 ELSE 0 END) AS n_both
           |  FROM ur WHERE r <= 64 GROUP BY 1, 2),
           |xa AS (
           |  SELECT a.source AS g_a, b.source AS g_b, COUNT(*) AS n_inter
           |  FROM d a JOIN d b
           |    ON b.gram = a.gram AND a.source < b.source
           |  GROUP BY 1, 2),
           |sz AS (SELECT source, COUNT(*) AS n FROM d GROUP BY 1)
           |SELECT e.g_a, e.g_b,
           |  CAST(e.n_union_sketch AS BIGINT) AS n_union_sketch,
           |  CAST(e.n_both AS BIGINT) AS n_both,
           |  CAST(e.n_both AS DOUBLE) / CAST(e.n_union_sketch AS DOUBLE)
           |    AS j_est,
           |  CAST(COALESCE(xa.n_inter, 0) AS DOUBLE)
           |    / CAST(sa.n + sb.n - COALESCE(xa.n_inter, 0) AS DOUBLE)
           |    AS j_exact
           |FROM est e
           |LEFT JOIN xa ON xa.g_a = e.g_a AND xa.g_b = e.g_b
           |JOIN sz sa ON sa.source = e.g_a
           |JOIN sz sb ON sb.source = e.g_b
           |ORDER BY e.g_a, e.g_b""".stripMargin
      }),

    // ------------------------------------------------------------------
    // HITS hubs & authorities (WebGraph.hits — Kleinberg JACM'99, the
    // directional complement to q145's PageRank on the SAME link
    // graph): max-normalized scaled-integer iterations, DECIMAL(38,0)
    // normalization product on the Spark side, HUGEINT in the oracle's
    // unrolled replay — every half-step tops out at exactly 10^9, so
    // any drift in the update rule, the normalization order, or the
    // dangling-node handling hash-mismatches.
    QuerySpec(
      "q176_hits",
      (s, dir) => {
        val pages = Tables.documents(s, dir).select(
          host97.as("src_host"), htmlFixture.as("html"))
        val edges = Html.linkGraph(pages, "src_host", "html")
        graft.ops.WebGraph.hits(edges, "src_host", "dst_host",
            iterations = 4)
          .orderBy(col("auth").desc, col("node"))
      },
      Some(hitsOracle(4))),

    // ------------------------------------------------------------------
    // Event transition matrix (EventOps.transitions — the first-order
    // Markov summary of product flows): consecutive pairs per user via
    // one lead window ordered by (us, event_id) — the explicit unique
    // tiebreak that makes same-instant trajectories deterministic —
    // then (from, to) counts and per-from probabilities. Exact integer
    // micros + one IEEE division; the oracle replays the identical
    // window, tiebreak and normalization.
    QuerySpec(
      "q177_event_transitions",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"), col("event_id"))
        graft.ops.EventOps.transitions(ev, "user_id", "event_type",
            "us", "event_id")
          .orderBy("from_type", "to_type")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
             |  FROM events),
             |nx AS (
             |  SELECT event_type AS from_type,
             |    LEAD(event_type) OVER (PARTITION BY user_id
             |      ORDER BY us, event_id) AS to_type
             |  FROM e),
             |c AS (
             |  SELECT from_type, to_type, COUNT(*) AS n FROM nx
             |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
             |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
             |  CAST(n AS DOUBLE)
             |    / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
             |FROM c ORDER BY from_type, to_type""".stripMargin)),

    // ------------------------------------------------------------------
    // Triangle counts + clustering coefficients (WebGraph.triangleStats
    // — degree-ordered "compact-forward" orientation, Latapy TCS'08):
    // the undirected host graph's community diagnostics. Wedges pair
    // out-neighbors under the acyclic (degree, node) orientation — the
    // arboricity-bounded plan — and each triangle closes through the
    // canonical edge exactly once, credited to all three corners. The
    // oracle replays orientation, wedge join, closure and the 2T/d(d−1)
    // division over the same planted graph (MATERIALIZED — the
    // multi-referenced CTE chain must evaluate once).
    QuerySpec(
      "q178_triangles",
      (s, dir) => {
        val pages = Tables.documents(s, dir).select(
          host97.as("src_host"), htmlFixture.as("html"))
        val edges = Html.linkGraph(pages, "src_host", "html")
        graft.ops.WebGraph.triangleStats(edges, "src_host", "dst_host")
          .sortWithinPartitions("node")
      },
      Some("WITH " + linkEdgesCte.stripMargin + """,
             |und AS MATERIALIZED (
             |  SELECT DISTINCT LEAST(src_host, dst_host) AS a,
             |    GREATEST(src_host, dst_host) AS b
             |  FROM l WHERE src_host <> dst_host),
             |deg AS MATERIALIZED (
             |  SELECT node, COUNT(*) AS degree FROM (
             |    SELECT a AS node FROM und UNION ALL SELECT b FROM und)
             |  GROUP BY node),
             |ori AS MATERIALIZED (
             |  SELECT CASE WHEN da.degree < db.degree
             |      OR (da.degree = db.degree AND u.a < u.b)
             |    THEN u.a ELSE u.b END AS lo,
             |    CASE WHEN da.degree < db.degree
             |      OR (da.degree = db.degree AND u.a < u.b)
             |    THEN u.b ELSE u.a END AS hi
             |  FROM und u
             |  JOIN deg da ON da.node = u.a
             |  JOIN deg db ON db.node = u.b),
             |tri AS MATERIALIZED (
             |  SELECT x.lo AS w0, x.hi AS w1, y.hi AS w2
             |  FROM ori x JOIN ori y
             |    ON y.lo = x.lo AND x.hi < y.hi
             |  JOIN und e ON e.a = LEAST(x.hi, y.hi)
             |    AND e.b = GREATEST(x.hi, y.hi)),
             |pn AS (
             |  SELECT node, COUNT(*) AS triangles FROM (
             |    SELECT w0 AS node FROM tri
             |    UNION ALL SELECT w1 FROM tri
             |    UNION ALL SELECT w2 FROM tri)
             |  GROUP BY node)
             |SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
             |  CAST(COALESCE(pn.triangles, 0) AS BIGINT) AS triangles,
             |  CASE WHEN d.degree >= 2 THEN
             |    2.0 * CAST(COALESCE(pn.triangles, 0) AS DOUBLE)
             |      / CAST(d.degree * (d.degree - 1) AS DOUBLE)
             |  ELSE 0.0 END AS clustering
             |FROM deg d LEFT JOIN pn ON pn.node = d.node
             |ORDER BY d.node""".stripMargin)),

    // ------------------------------------------------------------------
    // Weighted PageRank (WebGraph.weightedPageRank over linkGraph's
    // n_links weights — a host linking another 500 times endorses it
    // more than once): rank(u)·w div Σ_out w per edge, DECIMAL(38,0)/
    // HUGEINT product, otherwise q145's exact integer recipe. The
    // oracle unrolls all 6 iterations with the same weighted division.
    QuerySpec(
      "q179_weighted_pagerank",
      (s, dir) => {
        val pages = Tables.documents(s, dir).select(
          host97.as("src_host"), htmlFixture.as("html"))
        val edges = Html.linkGraph(pages, "src_host", "html")
        graft.ops.WebGraph.weightedPageRank(edges, "src_host", "dst_host",
            "n_links", iterations = 6)
          .orderBy(col("rank").desc, col("node"))
      },
      Some {
        val head = "WITH " + linkEdgesCte.stripMargin +
          """,
            |e AS (SELECT src_host AS src, dst_host AS dst, COUNT(*) AS w
            |      FROM l GROUP BY 1, 2),
            |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
            |ow AS (SELECT src, SUM(w) AS outw FROM e GROUP BY src),
            |eo AS (SELECT e.src, e.dst, e.w, ow.outw
            |       FROM e JOIN ow USING (src)),
            |pr AS (SELECT 1000000000000 // COUNT(*) AS r0 FROM nodes),
            |r0 AS (SELECT node, (SELECT r0 FROM pr) AS rank FROM nodes)"""
            .stripMargin
        val iters = (1 to 6).map { k =>
          s""",
             |r$k AS (
             |  SELECT n.node,
             |    (15 * (SELECT r0 FROM pr)) // 100
             |      + (85 * COALESCE(s.inflow, 0)) // 100 AS rank
             |  FROM nodes n LEFT JOIN (
             |    SELECT eo.dst AS node,
             |      SUM(CAST(p.rank AS HUGEINT) * eo.w // eo.outw) AS inflow
             |    FROM eo JOIN r${k - 1} p ON p.node = eo.src
             |    GROUP BY eo.dst) s ON s.node = n.node)""".stripMargin
        }.mkString
        head + iters +
          "\nSELECT node, CAST(rank AS BIGINT) AS rank FROM r6" +
          "\nORDER BY rank DESC, node"
      }),

    // ------------------------------------------------------------------
    // Vocabulary growth / Heaps-law profile (TextOps.vocabGrowth): per
    // corpus decile (rankBuckets over doc_id — ntile-identical, no
    // single-task window), bucket token mass, NEW distinct tokens
    // (first-appearance bucket via one min-aggregation), and both
    // cumulative curves. The oracle replays the decile cut with NTILE
    // and the same first-appearance rule.
    QuerySpec(
      "q180_vocab_growth",
      (s, dir) =>
        graft.ops.TextOps.vocabGrowth(
            Tables.documents(s, dir), "doc_id", "text", nBuckets = 10,
            numPartitions = 8)
          .orderBy("bucket"),
      Some("""WITH b AS (
             |  SELECT doc_id, text,
             |    CAST(NTILE(10) OVER (ORDER BY doc_id) AS BIGINT) AS bucket
             |  FROM documents),
             |tk AS (
             |  SELECT bucket,
             |    unnest(string_split_regex(trim(text), '\s+')) AS tok
             |  FROM b WHERE LENGTH(trim(text)) > 0),
             |pb AS (SELECT bucket, COUNT(*) AS n_tok FROM tk GROUP BY 1),
             |fb AS (SELECT tok, MIN(bucket) AS bucket FROM tk GROUP BY 1),
             |nv AS (SELECT bucket, COUNT(*) AS n_new FROM fb GROUP BY 1)
             |SELECT pb.bucket, CAST(pb.n_tok AS BIGINT) AS n_tok,
             |  CAST(COALESCE(nv.n_new, 0) AS BIGINT) AS n_new,
             |  CAST(SUM(pb.n_tok) OVER (ORDER BY pb.bucket
             |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
             |  CAST(SUM(COALESCE(nv.n_new, 0)) OVER (ORDER BY pb.bucket
             |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
             |FROM pb LEFT JOIN nv ON nv.bucket = pb.bucket
             |ORDER BY pb.bucket""".stripMargin)),

    // ------------------------------------------------------------------
    // Join-key skew report (Profile.keySkew — the pre-flight check
    // before a big shuffle join, feeding ScaleOps.saltedJoin): per-key
    // counts in one aggregation, then a one-row landing forecast —
    // heaviest key (deterministic (count, key) max), skew ratio vs the
    // mean key, and the salt factor that levels the hottest partition.
    // Integer counts + two IEEE divisions, replayed exactly.
    QuerySpec(
      "q181_key_skew",
      (s, dir) =>
        graft.ops.Profile.keySkew(Tables.lineitem(s, dir), "l_orderkey",
          numPartitions = 32),
      Some("""WITH c AS (
             |  SELECT CAST(l_orderkey AS VARCHAR) AS k, COUNT(*) AS n
             |  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1)
             |SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
             |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
             |  CAST(MAX(n) AS BIGINT) AS max_count,
             |  (SELECT k FROM c ORDER BY n DESC, k DESC LIMIT 1) AS max_key,
             |  CAST(MAX(n) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
             |    / CAST(SUM(n) AS DOUBLE) AS skew_ratio,
             |  CAST(CEIL(CAST(MAX(n) AS DOUBLE)
             |    / CEIL(CAST(SUM(n) AS DOUBLE) / 32)) AS BIGINT)
             |    AS suggested_salts
             |FROM c""".stripMargin)),

    // ------------------------------------------------------------------
    // Growth-accounting lifecycle (EventOps.lifecycleStates): per weekly
    // period, users decompose into new / active / resurrected / dormant
    // over a per-user spine from first activity to the corpus horizon.
    // Exact integer periods; the oracle replays the spine (lateral
    // range), the presence left-join and the lag classification.
    QuerySpec(
      "q182_lifecycle",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), unix_micros(col("ts")).as("us"))
        graft.ops.EventOps.lifecycleStates(ev, "user_id", "us",
            periodUs = 604800000000L)
          .orderBy("period", "state")
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) // 604800000000 AS p
             |  FROM events),
             |up AS (SELECT DISTINCT user_id, p FROM e),
             |f AS (SELECT user_id, MIN(p) AS first_p FROM up GROUP BY 1),
             |h AS (SELECT MAX(p) AS last_p FROM up),
             |sp AS (
             |  SELECT f.user_id, f.first_p,
             |    unnest(range(f.first_p, h.last_p + 1)) AS p
             |  FROM f, h),
             |cl AS (
             |  SELECT sp.user_id, sp.p, sp.first_p,
             |    up.user_id IS NOT NULL AS present,
             |    LAG(up.user_id IS NOT NULL) OVER (
             |      PARTITION BY sp.user_id ORDER BY sp.p) AS prev
             |  FROM sp LEFT JOIN up
             |    ON up.user_id = sp.user_id AND up.p = sp.p)
             |SELECT p AS period,
             |  CASE WHEN NOT present THEN 'dormant'
             |    WHEN p = first_p THEN 'new'
             |    WHEN prev THEN 'active'
             |    ELSE 'resurrected' END AS state,
             |  CAST(COUNT(*) AS BIGINT) AS n_users
             |FROM cl GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ------------------------------------------------------------------
    // SCD Type-2 history fold (ScaleOps.scd2Apply over snapshotDiff —
    // Kimball's versioned-dimension maintenance): an initial history at
    // T=0 absorbs a churned customer snapshot at T=100 — %10==0 keys
    // deleted (version closes), %10==1 renamed (close + reopen), %10==2
    // re-added under new keys (first version opens), rest untouched.
    // The oracle rebuilds the exact post-apply version chain from the
    // same planted arithmetic — any classification, closing or
    // reopening drift changes a row and hash-mismatches.
    QuerySpec(
      "q183_scd2",
      (s, dir) => {
        val base = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        val history0 = base
          .withColumn("eff_from", lit(0L))
          .withColumn("eff_to", lit(null).cast("long"))
          .withColumn("is_current", lit(true))
        val v2 = base.filter(col("c_custkey") % 10 =!= 0)
          .select(col("c_custkey"),
            when(col("c_custkey") % 10 === 1,
              concat(col("c_name"), lit(" v2")))
              .otherwise(col("c_name")).as("c_name"),
            col("c_mktsegment"))
          .union(base.filter(col("c_custkey") % 10 === 2)
            .select((col("c_custkey") + 1000000).as("c_custkey"),
              col("c_name"), col("c_mktsegment")))
        graft.ops.ScaleOps.scd2Apply(history0, v2, Seq("c_custkey"),
            effAt = 100L)
          .sortWithinPartitions("c_custkey", "eff_from")
      },
      Some("""WITH base AS (
             |  SELECT c_custkey, c_name, c_mktsegment FROM customer),
             |hist AS (
             |  -- %10==0: closed at 100. %10==1: closed + reopened
             |  -- renamed. others: untouched current.
             |  SELECT c_custkey, c_name, c_mktsegment,
             |    CAST(0 AS BIGINT) AS eff_from,
             |    CASE WHEN c_custkey % 10 IN (0, 1)
             |      THEN CAST(100 AS BIGINT) END AS eff_to,
             |    c_custkey % 10 NOT IN (0, 1) AS is_current
             |  FROM base
             |  UNION ALL
             |  SELECT c_custkey, c_name || ' v2', c_mktsegment,
             |    100, NULL, TRUE
             |  FROM base WHERE c_custkey % 10 = 1
             |  UNION ALL
             |  SELECT c_custkey + 1000000, c_name, c_mktsegment,
             |    100, NULL, TRUE
             |  FROM base WHERE c_custkey % 10 = 2)
             |SELECT c_custkey, c_name, c_mktsegment,
             |  eff_from, eff_to, is_current
             |FROM hist ORDER BY c_custkey, eff_from""".stripMargin)),

    // ------------------------------------------------------------------
    // Conversion attribution (EventOps.attribution — first- AND
    // last-touch in one struct-ordered aggregation): every purchase
    // attributed to the earliest and latest click/view strictly before
    // it (same-instant ties by event_id) within a 24 h lookback;
    // unattributed conversions keep NULLs. The oracle replays the
    // per-user range join and both models with rank-1 windows.
    QuerySpec(
      "q184_attribution",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"), col("event_id"))
        graft.ops.EventOps.attribution(ev, "user_id", "event_type",
            "us", "event_id", Seq("click", "view"), "purchase",
            lookbackUs = 86400000000L)
          .sortWithinPartitions("user_id", "conv_us", "conv_tie")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
             |  FROM events),
             |c AS (
             |  SELECT user_id, us AS conv_us, event_id AS conv_tie
             |  FROM e WHERE event_type = 'purchase'),
             |t AS (
             |  SELECT user_id, event_type AS tt, us AS tus,
             |    event_id AS ttie
             |  FROM e WHERE event_type IN ('click', 'view')),
             |j AS (
             |  SELECT c.user_id, c.conv_us, c.conv_tie, t.tt, t.tus,
             |    t.ttie,
             |    ROW_NUMBER() OVER (
             |      PARTITION BY c.user_id, c.conv_us, c.conv_tie
             |      ORDER BY t.tus, t.ttie) AS rf,
             |    ROW_NUMBER() OVER (
             |      PARTITION BY c.user_id, c.conv_us, c.conv_tie
             |      ORDER BY t.tus DESC, t.ttie DESC) AS rl
             |  FROM c JOIN t ON t.user_id = c.user_id
             |    AND (t.tus < c.conv_us
             |      OR (t.tus = c.conv_us AND t.ttie < c.conv_tie))
             |    AND t.tus > c.conv_us - 86400000000)
             |SELECT c.user_id, c.conv_us, c.conv_tie,
             |  f.tt AS first_type, f.tus AS first_us,
             |  l.tt AS last_type, l.tus AS last_us
             |FROM c
             |LEFT JOIN j f ON f.user_id = c.user_id
             |  AND f.conv_us = c.conv_us AND f.conv_tie = c.conv_tie
             |  AND f.rf = 1
             |LEFT JOIN j l ON l.user_id = c.user_id
             |  AND l.conv_us = c.conv_us AND l.conv_tie = c.conv_tie
             |  AND l.rl = 1
             |ORDER BY c.user_id, c.conv_us, c.conv_tie""".stripMargin)),

    // ------------------------------------------------------------------
    // Unordered funnel (EventOps.unorderedFunnel — the any-order
    // sibling of q156's strict chain): anchored at the first signup,
    // view and purchase convert anywhere in the 72 h window regardless
    // of order; t_i = earliest in-window occurrence. Two user-keyed
    // aggregations, replayed with conditional mins.
    QuerySpec(
      "q185_unordered_funnel",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        graft.ops.EventOps.unorderedFunnel(ev, "user_id", "event_type",
            "us", Seq("signup", "view", "purchase"),
            windowUs = 259200000000L)
          .orderBy("user_id")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_type, epoch_us(ts) AS us
             |  FROM events),
             |a AS (
             |  SELECT user_id, MIN(us) AS t1 FROM e
             |  WHERE event_type = 'signup' GROUP BY 1)
             |SELECT a.user_id, a.t1,
             |  MIN(CASE WHEN e.event_type = 'view' AND e.us >= a.t1
             |    AND e.us <= a.t1 + 259200000000 THEN e.us END) AS t2,
             |  MIN(CASE WHEN e.event_type = 'purchase' AND e.us >= a.t1
             |    AND e.us <= a.t1 + 259200000000 THEN e.us END) AS t3,
             |  MIN(CASE WHEN e.event_type = 'view' AND e.us >= a.t1
             |    AND e.us <= a.t1 + 259200000000 THEN e.us END) IS NOT NULL
             |  AND
             |  MIN(CASE WHEN e.event_type = 'purchase' AND e.us >= a.t1
             |    AND e.us <= a.t1 + 259200000000 THEN e.us END) IS NOT NULL
             |    AS converted
             |FROM a JOIN e ON e.user_id = a.user_id
             |GROUP BY a.user_id, a.t1
             |ORDER BY a.user_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Time-weighted average (EventOps.timeWeightedAvg — the
    // step-function integral: each value holds until the next event):
    // per-segment value×duration products ride DECIMAL(28,6) so the
    // sum is order-independent, and the decimal exits to double over
    // the VARCHAR bridge (q96's bit-exact path). The oracle replays
    // the lead window, the decimal products and the same bridge.
    QuerySpec(
      "q186_twap",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("value"),
            unix_micros(col("ts")).as("us"), col("event_id"))
        graft.ops.EventOps.timeWeightedAvg(ev, "user_id", "value",
            "us", "event_id")
          .sortWithinPartitions("user_id")
      },
      Some("""WITH e AS (
             |  SELECT user_id, value, epoch_us(ts) AS us, event_id
             |  FROM events WHERE value IS NOT NULL),
             |n AS (
             |  SELECT user_id, value, us,
             |    LEAD(us) OVER (PARTITION BY user_id
             |      ORDER BY us, event_id) AS nxt
             |  FROM e)
             |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             |  CAST(MAX(us) - MIN(us) AS BIGINT) AS span_us,
             |  CASE WHEN MAX(us) - MIN(us) > 0 THEN
             |    CAST(CAST(SUM(CASE WHEN nxt IS NOT NULL
             |      THEN CAST(value AS DECIMAL(28,6)) * (nxt - us) END)
             |      AS VARCHAR) AS DOUBLE)
             |    / CAST(MAX(us) - MIN(us) AS DOUBLE) END AS twa
             |FROM n GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Median/MAD robust outliers (Profile.madOutliers — Hampel's rule,
    // the 50%-breakdown sibling of q86's z-score and q102's IQR gates):
    // per-type median, deviation median over the residuals, flag
    // |v − med| > 3·MAD. Quantiles round to 4 decimals before the
    // fence (the q102 interpolation-ulp discipline); the verdict set
    // aggregates through the usual rounded stats.
    QuerySpec(
      "q187_mad_outliers",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
        graft.ops.Profile.madOutliers(ev, "event_type", "value", k = 3.0)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_outliers"),
            round(min(col("value")), 4).as("min_out"),
            round(max(col("value")), 4).as("max_out"),
            min(col("med")).as("med"), min(col("mad")).as("mad"))
          .sortWithinPartitions("event_type")
      },
      Some("""WITH st AS (
             |  SELECT event_type,
             |    ROUND(quantile_cont(value, 0.5), 4) AS med
             |  FROM events GROUP BY 1),
             |m2 AS (
             |  SELECT e.event_type, st.med,
             |    ROUND(quantile_cont(abs(e.value - st.med), 0.5), 4) AS mad
             |  FROM events e JOIN st USING (event_type) GROUP BY 1, 2)
             |SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_outliers,
             |  ROUND(MIN(e.value), 4) AS min_out,
             |  ROUND(MAX(e.value), 4) AS max_out,
             |  MIN(m2.med) AS med, MIN(m2.mad) AS mad
             |FROM events e JOIN m2 ON e.event_type = m2.event_type
             |WHERE abs(e.value - m2.med) > 3.0 * m2.mad
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // Blocked fuzzy record linkage (ops.Linkage + the native
    // JaroWinklerSim codegen kernel): a dirty feed (last two name
    // digits transposed, keys shifted) matches back to the master by
    // nation-blocked Jaro-Winkler ≥ 0.95 with Levenshtein diagnostics.
    // The oracle verifies our kernel against DuckDB's INDEPENDENT
    // jaro_winkler_similarity implementation (same 0.7 boost-threshold
    // flavor, 6-dp rounding before the gate) on every candidate pair —
    // a match-window, transposition-count or prefix-boost drift
    // anywhere changes the match set or a score and hash-mismatches.
    QuerySpec(
      "q188_name_linkage",
      (s, dir) => {
        // composite blocking key: nation + a name digit the planted typo
        // never touches (char 15 = digit 6; the transposition swaps
        // chars 17/18) — an order-of-magnitude candidate cut the oracle
        // replays as part of the operator contract
        val blk = concat(col("c_nationkey").cast("string"), lit(":"),
          expr("substr(c_name, 15, 1)"))
        val base = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_name"), blk.as("blk"))
        val dirty = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
          .select((col("c_custkey") + 1000000).as("c_custkey"),
            expr("concat(substr(c_name, 1, 16), substr(c_name, 18, 1), " +
              "substr(c_name, 17, 1))").as("c_name"),
            col("c_nationkey"))
          .select(col("c_custkey"), col("c_name"),
            concat(col("c_nationkey").cast("string"), lit(":"),
              expr("substr(c_name, 15, 1)")).as("blk"))
        // sortWithinPartitions, NOT a global orderBy: the compare is
        // row-order-agnostic, and a global sort's RangePartitioner
        // sampling pass re-executes the child — here the ENTIRE
        // broadcast-join + 1M-pair Jaro-Winkler verify (one stage, no
        // shuffle below the sort), i.e. the whole lane ran twice.
        // Measured 4.96 → 2.6 s solo at sf0.1.
        graft.ops.Linkage.blockedNameMatch(
            dirty, "c_custkey", "c_name", "blk",
            base, "c_custkey", "c_name", "blk",
            minSim = 0.95)
          .sortWithinPartitions("id_a", "id_b")
      },
      Some("""WITH base AS (
             |  SELECT c_custkey, c_name, c_nationkey FROM customer),
             |dirty AS (
             |  SELECT c_custkey + 1000000 AS c_custkey,
             |    substr(c_name, 1, 16) || substr(c_name, 18, 1)
             |      || substr(c_name, 17, 1) AS c_name,
             |    c_nationkey
             |  FROM base),
             |j AS (
             |  SELECT d.c_custkey AS id_a, d.c_name AS name_a,
             |    b.c_custkey AS id_b, b.c_name AS name_b,
             |    ROUND(jaro_winkler_similarity(d.c_name, b.c_name), 6)
             |      AS jw,
             |    CAST(levenshtein(d.c_name, b.c_name) AS BIGINT) AS lev
             |  FROM dirty d JOIN base b
             |    ON b.c_nationkey = d.c_nationkey
             |    AND substr(b.c_name, 15, 1) = substr(d.c_name, 15, 1))
             |SELECT id_a, name_a, id_b, name_b, jw, lev FROM j
             |WHERE jw >= 0.95
             |ORDER BY id_a, id_b""".stripMargin)),

    // ------------------------------------------------------------------
    // Funnel conversion significance (EventOps.funnelRates — Wilson
    // score lower bounds over the q156 report): step-to-step rates and
    // the z=1.96 lower interval, computed from the SAME IEEE expression
    // tree both engines evaluate. The step window runs on the 3-row
    // report plane.
    QuerySpec(
      "q189_funnel_rates",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        val times = graft.ops.EventOps.funnel(ev, "user_id", "event_type",
          "us", Seq("signup", "view", "purchase"),
          windowUs = 259200000000L)
        graft.ops.EventOps.funnelRates(
            graft.ops.EventOps.funnelReport(times,
              Seq("signup", "view", "purchase")))
          .select(col("step"), col("event_type"), col("n_users"),
            col("rate"), col("wilson_low"))
          .orderBy("step")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
             |), s1 AS (
             |  SELECT user_id, MIN(us) AS t1 FROM e
             |  WHERE event_type = 'signup' GROUP BY 1
             |), s2 AS (
             |  SELECT e.user_id, MIN(s1.t1) AS t1, MIN(e.us) AS t2
             |  FROM e JOIN s1 USING (user_id)
             |  WHERE e.event_type = 'view' AND e.us > s1.t1
             |    AND e.us <= s1.t1 + 259200000000
             |  GROUP BY 1
             |), s3 AS (
             |  SELECT e.user_id, MIN(s2.t1) AS t1, MIN(e.us) AS t3
             |  FROM e JOIN s2 USING (user_id)
             |  WHERE e.event_type = 'purchase' AND e.us > s2.t2
             |    AND e.us <= s2.t1 + 259200000000
             |  GROUP BY 1
             |), rep AS (
             |  SELECT CAST(1 AS BIGINT) AS step, 'signup' AS event_type,
             |    (SELECT COUNT(*) FROM s1) AS n_users
             |  UNION ALL SELECT 2, 'view', (SELECT COUNT(*) FROM s2)
             |  UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)
             |), lg AS (
             |  SELECT step, event_type, n_users,
             |    LAG(n_users) OVER (ORDER BY step) AS prev
             |  FROM rep)
             |SELECT step, event_type, CAST(n_users AS BIGINT) AS n_users,
             |  CASE WHEN prev > 0 THEN
             |    ROUND(CAST(n_users AS DOUBLE) / CAST(prev AS DOUBLE), 6)
             |  END AS rate,
             |  CASE WHEN prev > 0 THEN ROUND(
             |    (CAST(n_users AS DOUBLE) / CAST(prev AS DOUBLE)
             |     + 1.96 * 1.96 / (2 * CAST(prev AS DOUBLE))
             |     - 1.96 * SQRT(
             |         CAST(n_users AS DOUBLE) / CAST(prev AS DOUBLE)
             |           * (1 - CAST(n_users AS DOUBLE) / CAST(prev AS DOUBLE))
             |           / CAST(prev AS DOUBLE)
             |         + 1.96 * 1.96
             |           / (4 * CAST(prev AS DOUBLE) * CAST(prev AS DOUBLE))))
             |    / (1 + 1.96 * 1.96 / CAST(prev AS DOUBLE)), 6)
             |  END AS wilson_low
             |FROM lg ORDER BY step""".stripMargin)),

    // ------------------------------------------------------------------
    // Nested-JSON ingest + recursive flatten (Sources.flattenStructs —
    // the step between json() and any warehouse sink): a planted
    // two-level JSON document parses through a REAL from_json with an
    // explicit schema, flattens to dot-path columns as a pure
    // projection, and the oracle replays every value from arithmetic
    // with NO JSON functions — the parse + flatten chain is what the
    // hash certifies (the q159 chat-parse convention).
    QuerySpec(
      "q190_flatten_json",
      (s, dir) => {
        val payload = concat(
          lit("{\"meta\":{\"lang\":\"l"), (col("doc_id") % 5).cast("string"),
          lit("\",\"counts\":{\"tokens\":"),
          (col("doc_id") * 7 % 100).cast("string"),
          lit(",\"lines\":"), (col("doc_id") % 9).cast("string"),
          lit("}},\"origin\":\"s"), (col("doc_id") % 3).cast("string"),
          lit("\",\"tags\":[\"t"), (col("doc_id") % 2).cast("string"),
          lit("\"]}"))
        val schema = "meta STRUCT<lang: STRING, " +
          "counts: STRUCT<tokens: BIGINT, lines: BIGINT>>, " +
          "origin STRING, tags ARRAY<STRING>"
        val nested = Tables.documents(s, dir)
          .select(col("doc_id"),
            from_json(payload, schema, Map.empty[String, String]).as("j"))
          .select(col("doc_id"), col("j.*"))
        graft.sources.Sources.flattenStructs(nested)
          .select(col("doc_id"), col("meta_lang"),
            col("meta_counts_tokens"), col("meta_counts_lines"),
            col("origin"), element_at(col("tags"), 1).as("tag0"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  'l' || CAST(doc_id % 5 AS VARCHAR) AS meta_lang,
             |  CAST(doc_id * 7 % 100 AS BIGINT) AS meta_counts_tokens,
             |  CAST(doc_id % 9 AS BIGINT) AS meta_counts_lines,
             |  's' || CAST(doc_id % 3 AS VARCHAR) AS origin,
             |  't' || CAST(doc_id % 2 AS VARCHAR) AS tag0
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Label-propagation communities (WebGraph.labelPropagation —
    // Raghavan et al. 2007 made deterministic: synchronous rounds, ties
    // to the smallest label via the (−count, label) struct-min) on the
    // q145 link graph. Each round is one join of the persisted neighbor
    // list against the skinny label frame + two map-side-combinable
    // aggregations; the oracle unrolls all three rounds with the same
    // vote count and (c DESC, lbl) pick.
    QuerySpec(
      "q191_lpa_communities",
      (s, dir) => {
        val pages = Tables.documents(s, dir).select(
          host97.as("src_host"), htmlFixture.as("html"))
        val edges = Html.linkGraph(pages, "src_host", "html")
        val lab = graft.ops.WebGraph.labelPropagation(
          edges, "src_host", "dst_host", iterations = 3)
        lab.withColumn("community_size",
            count(lit(1)).over(Window.partitionBy(col("community"))))
          .orderBy("node")
      },
      Some(lpaOracle(3)))
  ) ++ Seq(

    // ------------------------------------------------------------------
    // Rolling active users — DAU/WAU/MAU + stickiness
    // (EventOps.rollingDistinctUsers): the interval-union plan — per-user
    // coverage segments via one partitioned lag window, ±1 boundary
    // deltas, one calendar-frame running sum — versus the oracle's naive
    // day×event range join with COUNT DISTINCT per window. Same numbers,
    // linear vs 28× data motion at scale.
    QuerySpec(
      "q192_active_users",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        graft.ops.EventOps.rollingDistinctUsersMulti(ev, "user_id", "ts",
            Seq(1 -> "dau", 7 -> "wau", 28 -> "mau"))
          .select(
            datediff(col("day"), lit("1970-01-01")).cast("long").as("day_num"),
            col("dau"), col("wau"), col("mau"),
            when(col("mau") > 0,
              round(col("dau").cast("double") / col("mau").cast("double"), 6))
              .as("stickiness"))
          .orderBy("day_num")
      },
      Some("""WITH e AS (
             |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
             |b AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM e),
             |days AS (
             |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
             |    AS DATE) AS d FROM b),
             |m AS (
             |  SELECT dy.d,
             |    COUNT(DISTINCT CASE WHEN e.d = dy.d THEN e.user_id END)
             |      AS dau,
             |    COUNT(DISTINCT CASE WHEN e.d >= dy.d - 6 THEN e.user_id END)
             |      AS wau,
             |    COUNT(DISTINCT e.user_id) AS mau
             |  FROM days dy LEFT JOIN e ON e.d BETWEEN dy.d - 27 AND dy.d
             |  GROUP BY dy.d)
             |SELECT CAST(d - DATE '1970-01-01' AS BIGINT) AS day_num,
             |  CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
             |  CAST(mau AS BIGINT) AS mau,
             |  CASE WHEN mau > 0 THEN
             |    ROUND(CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE), 6)
             |  END AS stickiness
             |FROM m ORDER BY day_num""".stripMargin)),

    // ------------------------------------------------------------------
    // Count-min sketch frequency estimates (Sketches.cmsSketch /
    // cmsEstimate — Cormode & Muthukrishnan 2005): a 4×512 counter
    // matrix summarizes every token occurrence in depth·width rows
    // regardless of corpus size (map-side combine collapses each
    // partition before the shuffle); point queries for the exact top-20
    // tokens read min-over-rows, never under, over by ≤ εN on
    // collisions. The exact counts are the verification baseline the
    // oracle also replays — in production the sketch answers without
    // them. Hash = the KMV md5-48bit recipe salted with the row index.
    QuerySpec(
      "q193_cms_heavy_hitters",
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(explode(TextOps.tokens(col("text"))).as("token"))
        val sk = graft.ops.Sketches.cmsSketch(toks, "token",
          depth = 4, width = 512)
        val top = toks.groupBy("token").agg(count(lit(1)).as("exact_n"))
          .orderBy(col("exact_n").desc, col("token")).limit(20)
        graft.ops.Sketches.cmsEstimate(sk, top.select("token"), "token",
            depth = 4, width = 512)
          .join(top, "token")
          .select(col("token"), col("exact_n"), col("est").as("est_n"),
            (col("est") - col("exact_n")).as("overshoot"))
          .orderBy(col("exact_n").desc, col("token"))
      },
      Some {
        s"""WITH t AS (SELECT unnest($toksSql) AS tok FROM documents),
           |r AS (SELECT unnest(range(4)) AS row),
           |hx AS (
           |  SELECT row, md5(CAST(row AS VARCHAR) || ':' || tok) AS m
           |  FROM t, r),
           |sk AS (
           |  SELECT row, CAST(($h48Sql) % 512 AS BIGINT) AS bucket,
           |    COUNT(*) AS cnt
           |  FROM hx GROUP BY 1, 2),
           |cnts AS (SELECT tok, COUNT(*) AS exact_n FROM t GROUP BY tok),
           |top AS (SELECT tok, exact_n FROM cnts
           |        ORDER BY exact_n DESC, tok LIMIT 20),
           |pm AS (
           |  SELECT top.tok, top.exact_n, r.row,
           |    md5(CAST(r.row AS VARCHAR) || ':' || top.tok) AS m
           |  FROM top, r),
           |pb AS (
           |  SELECT tok, exact_n, row,
           |    CAST(($h48Sql) % 512 AS BIGINT) AS bucket
           |  FROM pm),
           |est AS (
           |  SELECT tok, exact_n, MIN(COALESCE(sk.cnt, 0)) AS est_n
           |  FROM pb LEFT JOIN sk ON sk.row = pb.row
           |    AND sk.bucket = pb.bucket
           |  GROUP BY 1, 2)
           |SELECT tok AS token, CAST(exact_n AS BIGINT) AS exact_n,
           |  CAST(est_n AS BIGINT) AS est_n,
           |  CAST(est_n - exact_n AS BIGINT) AS overshoot
           |FROM est ORDER BY exact_n DESC, token""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Cohen's kappa inter-annotator agreement (Profile.cohenKappa —
    // Cohen 1960, the annotation-quality gate): two heuristic "raters"
    // bucket each document (char-length terciles vs token-count
    // terciles, thresholds at the fixture's tercile boundaries), κ
    // corrects their raw agreement for chance from the marginals.
    // Everything reduces through the K×K confusion frame in one corpus
    // pass; the p_e numerator rides DECIMAL(38,0)/HUGEINT and exits
    // over the VARCHAR bridge, then po/pe/κ are a fixed sequence of
    // IEEE divisions both engines replay bit-exactly.
    QuerySpec(
      "q194_cohen_kappa",
      (s, dir) => {
        val nTok = TextOps.tokenCount(col("text"))
        val rated = Tables.documents(s, dir).select(
          when(col("n_chars") < 220, "short")
            .when(col("n_chars") < 380, "mid")
            .otherwise("long").as("rater_len"),
          when(nTok < 40, "short").when(nTok < 70, "mid")
            .otherwise("long").as("rater_tok"))
        graft.ops.Profile.cohenKappa(rated, "rater_len", "rater_tok")
      },
      Some(s"""WITH r AS (
             |  SELECT
             |    CASE WHEN n_chars < 220 THEN 'short'
             |      WHEN n_chars < 380 THEN 'mid' ELSE 'long' END AS a,
             |    CASE WHEN len($toksSql) < 40 THEN 'short'
             |      WHEN len($toksSql) < 70 THEN 'mid' ELSE 'long' END AS b
             |  FROM documents),
             |c AS (SELECT a, b, COUNT(*) AS n FROM r GROUP BY 1, 2),
             |t AS (SELECT SUM(n) AS N,
             |        COALESCE(SUM(CASE WHEN a = b THEN n END), 0) AS agree
             |      FROM c),
             |ma AS (SELECT a AS k, SUM(n) AS na FROM c GROUP BY 1),
             |mb AS (SELECT b AS k, SUM(n) AS nb FROM c GROUP BY 1),
             |p AS (SELECT COALESCE(SUM(na * nb), 0) AS pe_num
             |      FROM ma JOIN mb USING (k)),
             |sel AS (
             |  SELECT CAST(t.N AS BIGINT) AS n_items,
             |    CAST(t.agree AS DOUBLE) / CAST(t.N AS DOUBLE) AS po,
             |    CAST(CAST(p.pe_num AS VARCHAR) AS DOUBLE)
             |      / CAST(t.N AS DOUBLE) / CAST(t.N AS DOUBLE) AS pe
             |  FROM t, p)
             |SELECT n_items, po, pe,
             |  CASE WHEN pe < 1.0 THEN (po - pe) / (1.0 - pe) END AS kappa
             |FROM sel""".stripMargin)),

    // ------------------------------------------------------------------
    // Reliability diagram + ECE (Classifier.calibrationReport — Guo et
    // al. 2017's calibration audit): score = stopword fraction (the q22
    // TextStats kernel counts, one exact IEEE division), outcome =
    // lang='en'. Per-bin confidence sums ride DECIMAL(18,6) and the ECE
    // numerator is Σ|pos−s_sum| — exact decimal all the way, so the
    // whole report including ECE hash-matches, not tolerance-matches.
    QuerySpec(
      "q195_calibration",
      (s, dir) => {
        val scored = Tables.documents(s, dir)
          .select(graft.functions.ArrayMath.textStats(col("text")).as("__st"),
            col("lang"))
          .select(
            (col("__st.n_stop").cast("double") / col("__st.n_tokens"))
              .as("score"),
            when(col("lang") === "en", 1L).otherwise(0L).as("label"))
        graft.ops.Classifier.calibrationReport(scored, "score", "label",
            nBins = 10)
          .orderBy("bin")
      },
      Some(s"""WITH m AS (
             |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             |    CAST(len(list_filter($toksSql, x -> lower(x) IN ($stops)))
             |      AS DOUBLE) / len($toksSql) AS s
             |  FROM documents),
             |b AS (
             |  SELECT LEAST(CAST(FLOOR(s * 10) AS BIGINT), 9) AS bin, y,
             |    CAST(s AS DECIMAL(18,6)) AS sd
             |  FROM m WHERE s IS NOT NULL),
             |g AS (
             |  SELECT bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos,
             |    SUM(sd) AS s_sum
             |  FROM b GROUP BY bin),
             |t AS (SELECT SUM(n) AS N, SUM(ABS(pos - s_sum)) AS gap_total
             |      FROM g)
             |SELECT CAST(g.bin AS BIGINT) AS bin, CAST(g.n AS BIGINT) AS n,
             |  g.pos,
             |  CAST(CAST(g.s_sum AS VARCHAR) AS DOUBLE)
             |    / CAST(g.n AS DOUBLE) AS conf,
             |  CAST(g.pos AS DOUBLE) / CAST(g.n AS DOUBLE) AS acc,
             |  CAST(CAST(ABS(g.pos - g.s_sum) AS VARCHAR) AS DOUBLE)
             |    / CAST(g.n AS DOUBLE) AS gap,
             |  CAST(CAST(t.gap_total AS VARCHAR) AS DOUBLE)
             |    / CAST(t.N AS DOUBLE) AS ece
             |FROM g, t ORDER BY bin""".stripMargin)),

    // ------------------------------------------------------------------
    // Mixture diversity report (Curation.mixtureDiversity): Shannon
    // entropy / effective sources, Gini concentration and HHI over the
    // per-source share vector — the metrics read before setting a
    // mixing α or budget. Entropy terms ride the q106 ln→DECIMAL(18,12)
    // recipe; Gini (rank·n) and HHI (n²) stay integer/DECIMAL(38,0)
    // until the final IEEE divisions, so the whole row hash-matches.
    QuerySpec(
      "q196_mixture_diversity",
      (s, dir) => graft.ops.Curation.mixtureDiversity(
        Tables.documents(s, dir), "source"),
      Some("""WITH d AS (
             |  SELECT source, COUNT(*) AS n FROM documents
             |  WHERE source IS NOT NULL GROUP BY source),
             |r AS (
             |  SELECT n, ROW_NUMBER() OVER (ORDER BY n, source) AS i,
             |    SUM(n) OVER () AS tot, COUNT(*) OVER () AS nsrc
             |  FROM d),
             |t AS (
             |  SELECT MAX(tot) AS tot, MAX(nsrc) AS nsrc,
             |    SUM(CAST((CAST(n AS DOUBLE) / tot)
             |      * ln(CAST(n AS DOUBLE) / tot) AS DECIMAL(18,12)))
             |      AS ent_sum,
             |    SUM(CAST(i AS HUGEINT) * n) AS gnum,
             |    SUM(CAST(n AS HUGEINT) * n) AS h2
             |  FROM r)
             |SELECT CAST(tot AS BIGINT) AS n_total,
             |  CAST(nsrc AS BIGINT) AS n_sources,
             |  CAST(CAST(-ent_sum AS VARCHAR) AS DOUBLE) AS entropy,
             |  exp(CAST(CAST(-ent_sum AS VARCHAR) AS DOUBLE))
             |    AS eff_sources,
             |  (2.0 * CAST(CAST(gnum AS VARCHAR) AS DOUBLE)
             |    - CAST((nsrc + 1) * tot AS DOUBLE))
             |    / CAST(nsrc * tot AS DOUBLE) AS gini,
             |  CAST(CAST(h2 AS VARCHAR) AS DOUBLE)
             |    / CAST(tot AS DOUBLE) / CAST(tot AS DOUBLE) AS hhi
             |FROM t""".stripMargin)),

    // ------------------------------------------------------------------
    // Inter-event cadence audit (EventOps.cadenceProfile — the
    // bot/automation signal: timer traffic has near-constant gaps, CV→0;
    // human cadence is bursty): per-user gap moments from exact sums
    // (Σg BIGINT, Σg² DECIMAL(38,0)/HUGEINT — 30-day micro gaps square
    // past 2^63), variance clamped at 0 against float cancellation,
    // then one sqrt + division both engines round identically.
    QuerySpec(
      "q197_bot_cadence",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("user_id"),
          unix_micros(col("ts")).as("us"), col("event_id"))
        graft.ops.EventOps.cadenceProfile(ev, "user_id", "us", "event_id")
          .filter(col("n_gaps") >= 5)
          .sortWithinPartitions("user_id")
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
             |g AS (
             |  SELECT user_id, us - LAG(us) OVER (PARTITION BY user_id
             |    ORDER BY us, event_id) AS g
             |  FROM e),
             |a AS (
             |  SELECT user_id, COUNT(*) AS n_gaps,
             |    CAST(SUM(g) AS BIGINT) AS sg,
             |    SUM(CAST(g AS HUGEINT) * g) AS sq
             |  FROM g WHERE g IS NOT NULL GROUP BY user_id),
             |c AS (
             |  SELECT user_id, n_gaps,
             |    CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_gap_us,
             |    GREATEST((CAST(CAST(sq AS VARCHAR) AS DOUBLE)
             |      - (CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
             |        / CAST(n_gaps AS DOUBLE)) / CAST(n_gaps AS DOUBLE),
             |      0.0) AS varr
             |  FROM a)
             |SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps, mean_gap_us,
             |  CASE WHEN mean_gap_us > 0 THEN sqrt(varr) / mean_gap_us END
             |    AS cv,
             |  (CASE WHEN mean_gap_us > 0 THEN sqrt(varr) / mean_gap_us END)
             |    < 0.1 AS is_regular
             |FROM c WHERE n_gaps >= 5 ORDER BY user_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Kaplan–Meier retention curve (EventOps.kaplanMeier — the
    // right-censoring-aware survival estimator; naive "still active
    // after t days" mis-counts recent joiners as churn): lifetimes and
    // at-risk counts in pure integers, the survival product as a
    // ln→DECIMAL(18,12) window cumsum exiting through exp, exact-zero
    // handling via a prefix-max flag. Windows run on the duration
    // plane (days), never on rows.
    QuerySpec(
      "q198_kaplan_meier",
      (s, dir) => graft.ops.EventOps.kaplanMeier(
          Tables.events(s, dir), "user_id", "ts", churnGapDays = 7)
        .orderBy("t_days"),
      Some("""WITH e AS (
             |  SELECT user_id, CAST(ts AS DATE) AS d FROM events),
             |pu AS (SELECT user_id, MIN(d) AS f, MAX(d) AS l
             |       FROM e GROUP BY 1),
             |mx AS (SELECT MAX(l) AS m FROM pu),
             |du AS (
             |  SELECT CASE WHEN m - l >= 7 THEN l - f + 1
             |           ELSE m - f + 1 END AS t,
             |    CASE WHEN m - l >= 7 THEN 1 ELSE 0 END AS death
             |  FROM pu, mx),
             |bt AS (
             |  SELECT t, CAST(SUM(death) AS BIGINT) AS n_deaths,
             |    CAST(SUM(1 - death) AS BIGINT) AS n_censored,
             |    COUNT(*) AS n_at
             |  FROM du GROUP BY t),
             |en AS (
             |  SELECT t, n_deaths, n_censored,
             |    CAST(SUM(n_at) OVER ()
             |      - COALESCE(SUM(n_at) OVER (ORDER BY t
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |        0) AS BIGINT) AS n_risk
             |  FROM bt),
             |tm AS (
             |  SELECT t, n_deaths, n_censored, n_risk,
             |    CASE WHEN n_deaths < n_risk THEN
             |      CAST(ln(1.0 - CAST(n_deaths AS DOUBLE)
             |        / CAST(n_risk AS DOUBLE)) AS DECIMAL(18,12)) END
             |      AS term,
             |    MAX(CASE WHEN n_deaths >= n_risk THEN 1 ELSE 0 END)
             |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
             |        AND CURRENT ROW) AS dead_all
             |  FROM en),
             |sv AS (
             |  SELECT t, n_deaths, n_censored, n_risk, dead_all,
             |    SUM(term) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW) AS lnsum
             |  FROM tm)
             |SELECT CAST(t AS BIGINT) AS t_days, n_risk, n_deaths,
             |  n_censored,
             |  CASE WHEN dead_all = 1 THEN 0.0
             |    ELSE exp(CAST(CAST(COALESCE(lnsum,
             |      CAST(0 AS DECIMAL(18,12))) AS VARCHAR) AS DOUBLE))
             |  END AS survival
             |FROM sv ORDER BY t_days""".stripMargin)),

    // ------------------------------------------------------------------
    // Benford first-digit audit (Profile.benfordAudit — the Nigrini
    // fraud/quality gate on financial columns): first significant digit
    // from the INTEGER rendering of floor(|v|·100) (engines disagree on
    // double string forms; truncation, unlike rounding, cannot carry a
    // value across a power of ten), all 9 digits reported with absent
    // ones at 0, χ² terms summed through DECIMAL(28,6). TPC-H
    // o_totalprice is a sum of many line items — near-Benford by
    // construction.
    QuerySpec(
      "q199_benford",
      (s, dir) => graft.ops.Profile.benfordAudit(
          Tables.orders(s, dir), "o_totalprice")
        .orderBy("digit"),
      Some("""WITH c AS (
             |  SELECT CAST(FLOOR(ABS(o_totalprice) * 100) AS BIGINT)
             |    AS cents
             |  FROM orders WHERE ABS(o_totalprice) >= 0.01
             |    AND ABS(o_totalprice) < 9.0e16),
             |dg AS (
             |  SELECT CAST(CAST(cents AS VARCHAR)[1] AS INT) AS digit,
             |    COUNT(*) AS n_obs
             |  FROM c WHERE cents > 0 GROUP BY 1),
             |sp AS (SELECT unnest(range(1, 10)) AS digit),
             |en AS (
             |  SELECT sp.digit, COALESCE(dg.n_obs, 0) AS n_obs
             |  FROM sp LEFT JOIN dg ON dg.digit = sp.digit),
             |ex AS (
             |  SELECT digit, n_obs, SUM(n_obs) OVER () AS tot,
             |    log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS p_exp
             |  FROM en),
             |tm AS (
             |  SELECT digit, n_obs, tot, p_exp,
             |    CAST(n_obs AS DOUBLE) / CAST(tot AS DOUBLE) AS p_obs,
             |    CAST(((CAST(n_obs AS DOUBLE) - p_exp * CAST(tot AS DOUBLE))
             |      * (CAST(n_obs AS DOUBLE) - p_exp * CAST(tot AS DOUBLE)))
             |      / (p_exp * CAST(tot AS DOUBLE)) AS DECIMAL(28,6))
             |      AS term
             |  FROM ex)
             |SELECT CAST(digit AS BIGINT) AS digit,
             |  CAST(n_obs AS BIGINT) AS n_obs, p_obs, p_exp,
             |  CAST(CAST(SUM(term) OVER () AS VARCHAR) AS DOUBLE) AS chi2,
             |  CAST(CAST(SUM(term) OVER () AS VARCHAR) AS DOUBLE) > 15.507
             |    AS reject_benford
             |FROM tm ORDER BY digit""".stripMargin)),

    // ------------------------------------------------------------------
    // Exact EWMA smoothing (EventOps.ewmaSmooth — the adjusted/
    // truncated exponential moving average): scaled INTEGER weights
    // 3^i·4^(7−i) make every term a DECIMAL(18,6)·BIGINT product, so
    // the smoother replays bit-for-bit where a float r^i recurrence
    // drifts per evaluation order. One 8-lag user window; NULL values
    // drop from numerator AND denominator.
    QuerySpec(
      "q200_ewma",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("user_id"),
          unix_micros(col("ts")).as("us"), col("event_id"), col("value"))
        graft.ops.EventOps.ewmaSmooth(ev, "user_id", "value", "us",
            "event_id", alphaNum = 1, alphaDen = 4, lags = 8)
          .select(col("user_id"), col("us"), col("event_id"),
            col("value"), col("ewma"))
          .sortWithinPartitions("user_id", "us", "event_id")
      },
      Some {
        val u = (0 until 8).map(i =>
          math.pow(3.0, i.toDouble).toLong *
            math.pow(4.0, (7 - i).toDouble).toLong)
        val lagCols = (0 until 8).map(i => s"LAG(vd, $i) OVER w AS v$i")
          .mkString(",\n|        ")
        val numSql = (0 until 8).map(i => s"COALESCE(v$i * ${u(i)}, 0)")
          .mkString(" + ")
        val denSql = (0 until 8)
          .map(i => s"(CASE WHEN v$i IS NOT NULL THEN ${u(i)} ELSE 0 END)")
          .mkString(" + ")
        s"""WITH e AS (
           |  SELECT user_id, epoch_us(ts) AS us, event_id, value,
           |    CAST(value AS DECIMAL(18,6)) AS vd
           |  FROM events),
           |l AS (
           |  SELECT user_id, us, event_id, value,
           |        $lagCols
           |  FROM e
           |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
           |c AS (
           |  SELECT user_id, us, event_id, value,
           |    $numSql AS num,
           |    $denSql AS den
           |  FROM l)
           |SELECT user_id, us, event_id, value,
           |  CASE WHEN den > 0 THEN
           |    CAST(CAST(num AS VARCHAR) AS DOUBLE) / CAST(den AS DOUBLE)
           |  END AS ewma
           |FROM c ORDER BY user_id, us, event_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // TextRank keywords (TextOps.textRankKeywords — Mihalcea & Tarau
    // 2004): PageRank over the corpus word co-occurrence graph, the
    // q145 exact-integer kernel applied to words instead of hosts. Pair
    // extraction is one codegen zip_with projection; every iteration
    // runs on the vocabulary-sized plane. The oracle reuses the same
    // unrolled integer replay over the word-edge CTE.
    QuerySpec(
      "q201_textrank",
      (s, dir) => graft.ops.TextOps.textRankKeywords(
          Tables.documents(s, dir), "text", iterations = 6)
        .orderBy(col("rank").desc, col("token")).limit(25),
      Some {
        val wordEdges =
          s"""t AS (
             |  SELECT string_split_regex(trim(lower(text)), '\\s+') AS toks
             |  FROM documents),
             |pr0 AS (
             |  SELECT toks[i+1] AS a, toks[i+2] AS b
             |  FROM t, (SELECT unnest(range(len(toks) - 1)) AS i)
             |  WHERE len(toks) >= 2),
             |pf AS (
             |  SELECT a, b FROM pr0
             |  WHERE regexp_matches(a, '^[a-z]{3,}$$')
             |    AND regexp_matches(b, '^[a-z]{3,}$$')
             |    AND a NOT IN ($stops) AND b NOT IN ($stops) AND a <> b),
             |l AS (SELECT a, b FROM pf UNION ALL SELECT b, a FROM pf)"""
        pagerankCtesOver(wordEdges, "a", "b", 6) +
          "\nSELECT node AS token, CAST(rank AS BIGINT) AS rank" +
          "\nFROM r6 ORDER BY rank DESC, node LIMIT 25"
      }),

    // ------------------------------------------------------------------
    // A/B experiment readout (EventOps.abTestReport): deterministic
    // hash-bucket arm assignment (the q64 md5 recipe — re-run-stable,
    // never rand()), conversion = ever emitted 'purchase', pooled
    // two-proportion z-test. Four integers + a fixed IEEE sequence, so
    // the verdict hash-matches.
    QuerySpec(
      "q202_ab_test",
      (s, dir) => graft.ops.EventOps.abTestReport(
        Tables.events(s, dir), "user_id", "event_type", "purchase"),
      Some("""WITH pu AS (
             |  SELECT user_id,
             |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |      AS c
             |  FROM events GROUP BY user_id),
             |ar AS (
             |  SELECT CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)),
             |      1, 8)) AS BIGINT) % 2 AS arm, c
             |  FROM pu),
             |s AS (
             |  SELECT
             |    CAST(COALESCE(SUM(CASE WHEN arm = 0 THEN 1 END), 0)
             |      AS BIGINT) AS n_a,
             |    CAST(COALESCE(SUM(CASE WHEN arm = 0 THEN c END), 0)
             |      AS BIGINT) AS conv_a,
             |    CAST(COALESCE(SUM(CASE WHEN arm = 1 THEN 1 END), 0)
             |      AS BIGINT) AS n_b,
             |    CAST(COALESCE(SUM(CASE WHEN arm = 1 THEN c END), 0)
             |      AS BIGINT) AS conv_b
             |  FROM ar),
             |d AS (
             |  SELECT n_a, conv_a, n_b, conv_b,
             |    CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
             |    CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
             |    CAST(conv_a + conv_b AS DOUBLE)
             |      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pooled
             |  FROM s),
             |e AS (
             |  SELECT *,
             |    sqrt(pooled * (1.0 - pooled)
             |      * (1.0 / CAST(n_a AS DOUBLE)
             |         + 1.0 / CAST(n_b AS DOUBLE))) AS se
             |  FROM d)
             |SELECT n_a, conv_a, rate_a, n_b, conv_b, rate_b,
             |  CASE WHEN n_a > 0 AND n_b > 0 THEN rate_a - rate_b END
             |    AS lift,
             |  CASE WHEN n_a > 0 AND n_b > 0 AND se > 0 THEN
             |    (rate_a - rate_b) / se END AS z,
             |  ABS(CASE WHEN n_a > 0 AND n_b > 0 AND se > 0 THEN
             |    (rate_a - rate_b) / se END) > 1.96 AS significant
             |FROM e""".stripMargin)),

    // ------------------------------------------------------------------
    // Item co-occurrence (EventOps.itemCooccurrence — the bipartite
    // projection behind "users also touched", with the degree cap that
    // keeps the quadratic-per-user pair step bounded at scale): items
    // from the props JSON (the q17 parse), distinct (user, item), users
    // above 50 items excluded outright, pair support + Jaccard from the
    // capped popularities.
    QuerySpec(
      "q203_item_cooccurrence",
      (s, dir) => {
        val ui = Tables.events(s, dir).select(col("user_id"),
          from_json(col("props"), "k BIGINT", Map.empty[String, String])
            .getField("k").as("item"))
        graft.ops.EventOps.itemCooccurrence(ui, "user_id", "item",
            maxUserDegree = 50, minSupport = 5L)
          .orderBy("item_a", "item_b")
      },
      Some("""WITH ui AS (
             |  SELECT DISTINCT user_id,
             |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
             |      AS item
             |  FROM events),
             |u2 AS (SELECT user_id, item FROM ui WHERE item IS NOT NULL
             |       AND user_id IS NOT NULL),
             |dg AS (SELECT user_id, COUNT(*) AS deg FROM u2 GROUP BY 1),
             |kept AS (
             |  SELECT u2.user_id, u2.item FROM u2
             |  JOIN dg ON dg.user_id = u2.user_id WHERE dg.deg <= 50),
             |ic AS (SELECT item, COUNT(*) AS pop FROM kept GROUP BY item),
             |pr AS (
             |  SELECT x.item AS item_a, y.item AS item_b,
             |    COUNT(*) AS n_users
             |  FROM kept x JOIN kept y ON y.user_id = x.user_id
             |    AND x.item < y.item
             |  GROUP BY 1, 2)
             |SELECT item_a, item_b, CAST(n_users AS BIGINT) AS n_users,
             |  CAST(n_users AS DOUBLE)
             |    / CAST(a.pop + b.pop - n_users AS DOUBLE) AS jaccard
             |FROM pr JOIN ic a ON a.item = pr.item_a
             |JOIN ic b ON b.item = pr.item_b
             |WHERE n_users >= 5 ORDER BY item_a, item_b""".stripMargin)),

    // ------------------------------------------------------------------
    // Single-source BFS hop distances (WebGraph.shortestHops — the
    // level-synchronous traversal primitive on the q145 link graph):
    // per round one frontier join + one visited anti-join, edges
    // persisted once, early exit on an empty frontier. The oracle
    // unrolls ten levels — saturated levels add nothing, so the
    // early-exited Spark run matches the fully-unrolled replay.
    QuerySpec(
      "q204_bfs_hops",
      (s, dir) => {
        val pages = Tables.documents(s, dir).select(
          host97.as("src_host"), htmlFixture.as("html"))
        val edges = Html.linkGraph(pages, "src_host", "html")
        graft.ops.WebGraph.shortestHops(edges, "src_host", "dst_host",
            source = "h0.example.org", maxHops = 10)
          .orderBy("hop", "node")
      },
      Some {
        val head = "WITH " + linkEdgesCte.stripMargin +
          """,
            |e AS MATERIALIZED (
            |  SELECT DISTINCT src_host AS src, dst_host AS dst FROM l),
            |v0 AS (SELECT 'h0.example.org' AS node, 0 AS hop)"""
            .stripMargin
        val levels = (1 to 10).map { k =>
          s""",
             |v$k AS MATERIALIZED (
             |  SELECT node, hop FROM v${k - 1}
             |  UNION ALL
             |  SELECT d.node, $k AS hop FROM (
             |    SELECT DISTINCT e.dst AS node
             |    FROM e JOIN v${k - 1} p ON p.node = e.src
             |      AND p.hop = ${k - 1}) d
             |  WHERE d.node NOT IN (SELECT node FROM v${k - 1}))"""
            .stripMargin
        }.mkString
        head + levels +
          "\nSELECT node, CAST(hop AS BIGINT) AS hop FROM v10" +
          "\nORDER BY hop, node"
      }),

    // ------------------------------------------------------------------
    // Behavior motifs (EventOps.trigramMotifs — q177's transition
    // matrix extended to third order): consecutive (t, next, next²)
    // trigrams from two lead windows in (us, event_id) order, global
    // counts, and each motif's share among trigrams with the same first
    // step. Integer counts + one IEEE division per row.
    QuerySpec(
      "q205_trigram_motifs",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("us"),
          col("event_id"))
        graft.ops.EventOps.trigramMotifs(ev, "user_id", "event_type",
            "us", "event_id")
          .orderBy("t0", "t1", "t2")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_type AS t0, epoch_us(ts) AS us,
             |    event_id
             |  FROM events),
             |tr AS (
             |  SELECT t0,
             |    LEAD(t0, 1) OVER w AS t1,
             |    LEAD(t0, 2) OVER w AS t2
             |  FROM e
             |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
             |c AS (
             |  SELECT t0, t1, t2, COUNT(*) AS n FROM tr
             |  WHERE t2 IS NOT NULL GROUP BY 1, 2, 3)
             |SELECT t0, t1, t2, CAST(n AS BIGINT) AS n,
             |  CAST(n AS DOUBLE)
             |    / CAST(SUM(n) OVER (PARTITION BY t0) AS DOUBLE)
             |    AS share_of_t0
             |FROM c ORDER BY t0, t1, t2""".stripMargin)),

    // ------------------------------------------------------------------
    // Deterministic weighted sampling (Curation.weightedSample —
    // Efraimidis–Spirakis A-ES): key = ln(u)/w with u from the md5-48bit
    // hash, top-k keys = an exact w-weighted sample without replacement
    // that is reproducible and SQL-replayable (no rand()). One codegen
    // key projection + a distributed top-k; no global sort.
    QuerySpec(
      "q206_weighted_sample",
      (s, dir) => graft.ops.Curation.weightedSample(
          Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", k = 50)
        .orderBy("doc_id"),
      Some {
        s"""WITH hh AS (
           |  SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS m
           |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
           |h AS (
           |  SELECT doc_id, n_chars, CAST(($h48Sql) AS DOUBLE) AS hv
           |  FROM hh),
           |kk AS (
           |  SELECT doc_id, n_chars,
           |    ln((hv + 1.0) / 281474976710658.0)
           |      / CAST(n_chars AS DOUBLE) AS sample_key
           |  FROM h),
           |t AS (SELECT * FROM kk
           |      ORDER BY sample_key DESC, doc_id LIMIT 50)
           |SELECT doc_id, n_chars, sample_key FROM t
           |ORDER BY doc_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // CUSUM change-point localization (EventOps.cusumChangePoint — Page
    // 1954): per event type, |cumulative deviation of the daily mean
    // from the global mean| peaks at a level shift. Means ride
    // DECIMAL(18,6) sums over the VARCHAR bridge; deviations re-enter
    // decimal before the running sum; the argmax is a row_number, not
    // a float-equality against a stored max.
    QuerySpec(
      "q207_cusum_changepoint",
      (s, dir) => graft.ops.EventOps.cusumChangePoint(
          Tables.events(s, dir), "event_type", "value", "ts")
        .select(col("event_type"),
          datediff(col("day"), lit("1970-01-01")).cast("long")
            .as("day_num"),
          col("daily_mean"), col("cusum"), col("is_cp"))
        .orderBy("event_type", "day_num"),
      Some("""WITH d AS (
             |  SELECT event_type, CAST(ts AS DATE) AS day,
             |    CAST(value AS DECIMAL(18,6)) AS v
             |  FROM events WHERE value IS NOT NULL),
             |g AS (
             |  SELECT event_type, day, SUM(v) AS s, COUNT(*) AS n
             |  FROM d GROUP BY 1, 2),
             |m AS (
             |  SELECT event_type, day,
             |    CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
             |      AS daily_mean,
             |    CAST(CAST(SUM(s) OVER (PARTITION BY event_type)
             |      AS VARCHAR) AS DOUBLE)
             |      / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE)
             |      AS gmean
             |  FROM g),
             |cu AS (
             |  SELECT event_type, day, daily_mean,
             |    CAST(CAST(SUM(CAST(daily_mean - gmean AS DECIMAL(18,6)))
             |      OVER (PARTITION BY event_type ORDER BY day
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS VARCHAR) AS DOUBLE) AS cusum
             |  FROM m)
             |SELECT event_type,
             |  CAST(day - DATE '1970-01-01' AS BIGINT) AS day_num,
             |  daily_mean, cusum,
             |  ROW_NUMBER() OVER (PARTITION BY event_type
             |    ORDER BY ABS(cusum) DESC, day) = 1 AS is_cp
             |FROM cu ORDER BY event_type, day_num""".stripMargin)),

    // ------------------------------------------------------------------
    // Zipf power-law fit (TextOps.zipfFit — q180's Heaps-law sibling):
    // OLS of ln f on ln rank over the top-1000 vocabulary. Regression
    // moments ride the ln→DECIMAL(18,12) recipe over the VARCHAR
    // bridge; the head rank window runs on 1000 rows, never the corpus.
    QuerySpec(
      "q208_zipf_fit",
      (s, dir) => graft.ops.TextOps.zipfFit(
        Tables.documents(s, dir), "text", topK = 1000),
      Some(s"""WITH t AS (SELECT unnest($toksSql) AS tok FROM documents),
             |c AS (SELECT tok, COUNT(*) AS f FROM t GROUP BY tok),
             |top AS (SELECT tok, f FROM c ORDER BY f DESC, tok
             |        LIMIT 1000),
             |r AS (SELECT f,
             |        ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS rk
             |      FROM top),
             |m AS (
             |  SELECT COUNT(*) AS n,
             |    SUM(CAST(ln(CAST(rk AS DOUBLE)) AS DECIMAL(18,12)))
             |      AS sx,
             |    SUM(CAST(ln(CAST(f AS DOUBLE)) AS DECIMAL(18,12)))
             |      AS sy,
             |    SUM(CAST(ln(CAST(rk AS DOUBLE)) * ln(CAST(f AS DOUBLE))
             |      AS DECIMAL(18,12))) AS sxy,
             |    SUM(CAST(ln(CAST(rk AS DOUBLE)) * ln(CAST(rk AS DOUBLE))
             |      AS DECIMAL(18,12))) AS sxx,
             |    SUM(CAST(ln(CAST(f AS DOUBLE)) * ln(CAST(f AS DOUBLE))
             |      AS DECIMAL(18,12))) AS syy
             |  FROM r),
             |d AS (
             |  SELECT CAST(n AS BIGINT) AS n_tokens,
             |    CAST(n AS DOUBLE) AS nd,
             |    CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
             |    CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
             |    CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd,
             |    CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd,
             |    CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syyd
             |  FROM m)
             |SELECT n_tokens,
             |  (sxyd - sxd * syd / nd) / (sxxd - sxd * sxd / nd) AS slope,
             |  syd / nd - ((sxyd - sxd * syd / nd)
             |    / (sxxd - sxd * sxd / nd)) * sxd / nd AS intercept,
             |  ((sxyd - sxd * syd / nd) * (sxyd - sxd * syd / nd))
             |    / ((sxxd - sxd * sxd / nd) * (syyd - syd * syd / nd))
             |    AS r2
             |FROM d""".stripMargin)),

    // ------------------------------------------------------------------
    // Lead–lag cross-correlation (EventOps.leadLagCorrelation — does
    // 'view' lead 'purchase'?): Pearson r between the zero-filled
    // daily-count series at every shift |k| ≤ 3. Integer moments per
    // lag over the VARCHAR bridge into the fixed Pearson sequence; all
    // pairings are joins on the day plane.
    QuerySpec(
      "q209_lead_lag",
      (s, dir) => graft.ops.EventOps.leadLagCorrelation(
          Tables.events(s, dir), "event_type", "view", "purchase", "ts",
          maxLag = 3)
        .orderBy("lag"),
      Some("""WITH e AS (
             |  SELECT event_type AS t, CAST(ts AS DATE) AS d FROM events
             |  WHERE event_type IN ('view', 'purchase')),
             |g AS (
             |  SELECT d,
             |    SUM(CASE WHEN t = 'view' THEN 1 ELSE 0 END) AS x,
             |    SUM(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END) AS y
             |  FROM e GROUP BY d),
             |b AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM g),
             |days AS (
             |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
             |    AS DATE) AS d FROM b),
             |z AS (
             |  SELECT CAST(days.d - DATE '1970-01-01' AS BIGINT) AS dn,
             |    CAST(COALESCE(g.x, 0) AS BIGINT) AS x,
             |    CAST(COALESCE(g.y, 0) AS BIGINT) AS y
             |  FROM days LEFT JOIN g ON g.d = days.d),
             |ks AS (SELECT unnest(range(-3, 4)) AS lag),
             |p AS (
             |  SELECT ks.lag, a.x, bb.y
             |  FROM ks CROSS JOIN z a
             |  JOIN z bb ON bb.dn = a.dn + ks.lag),
             |m AS (
             |  SELECT lag, COUNT(*) AS n_days,
             |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
             |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
             |    SUM(CAST(y AS HUGEINT) * y) AS syy
             |  FROM p GROUP BY lag),
             |f AS (
             |  SELECT CAST(lag AS BIGINT) AS lag,
             |    CAST(n_days AS BIGINT) AS n_days,
             |    CAST(n_days AS DOUBLE) * CAST(CAST(sxy AS VARCHAR)
             |      AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
             |      AS cov,
             |    CAST(n_days AS DOUBLE) * CAST(CAST(sxx AS VARCHAR)
             |      AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
             |      AS vx,
             |    CAST(n_days AS DOUBLE) * CAST(CAST(syy AS VARCHAR)
             |      AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
             |      AS vy
             |  FROM m)
             |SELECT lag, n_days,
             |  CASE WHEN vx > 0 AND vy > 0 THEN
             |    cov / (sqrt(vx) * sqrt(vy)) END AS r
             |FROM f ORDER BY lag""".stripMargin)),

    // ------------------------------------------------------------------
    // Token-weighted median document length per source
    // (ScaleOps.weightedQuantile — type-1 weighted quantile with the
    // threshold cross-multiplied to integers: 2·cum ≥ W, no float
    // boundary): "half the TOKENS live in docs shorter than this",
    // which the unweighted median misstates. Ties collapse before the
    // group-partitioned cumsum.
    QuerySpec(
      "q210_weighted_median",
      (s, dir) => {
        val d = Tables.documents(s, dir).select(col("source"),
          col("n_chars"), TextOps.tokenCount(col("text")).as("n_tok"))
        graft.ops.ScaleOps.weightedQuantile(d, Seq("source"), "n_chars",
            "n_tok")
          .select(col("source"), col("wq_value").as("median_chars"),
            col("total_w").as("total_tokens"))
          .orderBy("source")
      },
      Some(s"""WITH d AS (
             |  SELECT source, n_chars,
             |    CAST(len($toksSql) AS BIGINT) AS w
             |  FROM documents
             |  WHERE n_chars IS NOT NULL AND len($toksSql) > 0),
             |g AS (
             |  SELECT source, n_chars, SUM(w) AS wv
             |  FROM d GROUP BY 1, 2),
             |c AS (
             |  SELECT source, n_chars, wv,
             |    SUM(wv) OVER (PARTITION BY source ORDER BY n_chars
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cum,
             |    SUM(wv) OVER (PARTITION BY source) AS tot
             |  FROM g)
             |SELECT source, MIN(n_chars) AS median_chars,
             |  CAST(MIN(tot) AS BIGINT) AS total_tokens
             |FROM c WHERE cum * 2 >= tot
             |GROUP BY source ORDER BY source""".stripMargin)),

    // ------------------------------------------------------------------
    // Association rules (EventOps.associationRules — Agrawal's
    // support/confidence/lift over the q203 degree-capped plane): both
    // directed rules per co-occurrence pair, three IEEE divisions from
    // the integers the co-occurrence pass already produced. Top rules
    // by lift; n_users ≥ 20 keeps the report tight.
    QuerySpec(
      "q211_association_rules",
      (s, dir) => {
        val ui = Tables.events(s, dir).select(col("user_id"),
          from_json(col("props"), "k BIGINT", Map.empty[String, String])
            .getField("k").as("item"))
        graft.ops.EventOps.associationRules(ui, "user_id", "item",
            maxUserDegree = 50, minSupport = 20L)
          .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
          .limit(100)
      },
      Some("""WITH ui AS (
             |  SELECT DISTINCT user_id,
             |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
             |      AS item
             |  FROM events),
             |u2 AS (SELECT user_id, item FROM ui
             |       WHERE item IS NOT NULL AND user_id IS NOT NULL),
             |dg AS (SELECT user_id, COUNT(*) AS deg FROM u2 GROUP BY 1),
             |kept AS (
             |  SELECT u2.user_id, u2.item FROM u2
             |  JOIN dg ON dg.user_id = u2.user_id WHERE dg.deg <= 50),
             |nn AS (SELECT COUNT(DISTINCT user_id) AS n0 FROM kept),
             |ic AS (SELECT item, COUNT(*) AS pop FROM kept GROUP BY item),
             |und AS (
             |  SELECT x.item AS a, y.item AS b, COUNT(*) AS n_users
             |  FROM kept x JOIN kept y ON y.user_id = x.user_id
             |    AND x.item < y.item
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 20),
             |dr AS (
             |  SELECT a AS antecedent, b AS consequent, n_users FROM und
             |  UNION ALL
             |  SELECT b, a, n_users FROM und),
             |f AS (
             |  SELECT dr.antecedent, dr.consequent,
             |    CAST(dr.n_users AS BIGINT) AS n_users,
             |    CAST(dr.n_users AS DOUBLE) / CAST(nn.n0 AS DOUBLE)
             |      AS support,
             |    CAST(dr.n_users AS DOUBLE) / CAST(pa.pop AS DOUBLE)
             |      AS confidence,
             |    (CAST(dr.n_users AS DOUBLE) / CAST(pa.pop AS DOUBLE))
             |      / (CAST(pb.pop AS DOUBLE) / CAST(nn.n0 AS DOUBLE))
             |      AS lift
             |  FROM dr
             |  JOIN ic pa ON pa.item = dr.antecedent
             |  JOIN ic pb ON pb.item = dr.consequent
             |  CROSS JOIN nn)
             |SELECT * FROM f
             |ORDER BY lift DESC, antecedent, consequent
             |LIMIT 100""".stripMargin)),

    // ------------------------------------------------------------------
    // Graph structural diagnostics (WebGraph.graphStats — Newman's
    // reciprocity + degree assortativity on the q145 link graph):
    // reciprocity from one reverse self-join, assortativity from exact
    // integer moments over the edge plane via the VARCHAR bridge.
    QuerySpec(
      "q212_graph_stats",
      (s, dir) => {
        val pages = Tables.documents(s, dir).select(
          host97.as("src_host"), htmlFixture.as("html"))
        val edges = Html.linkGraph(pages, "src_host", "html")
        graft.ops.WebGraph.graphStats(edges, "src_host", "dst_host")
      },
      Some("WITH " + linkEdgesCte.stripMargin + """,
             |e AS MATERIALIZED (
             |  SELECT DISTINCT src_host AS src, dst_host AS dst FROM l),
             |nn AS (
             |  SELECT COUNT(*) AS n_nodes FROM (
             |    SELECT src AS node FROM e UNION SELECT dst FROM e)),
             |lc AS (
             |  SELECT COUNT(*) AS n_all,
             |    COALESCE(SUM(CASE WHEN src = dst THEN 1 END), 0)
             |      AS n_self
             |  FROM e),
             |e2 AS MATERIALIZED (SELECT src, dst FROM e WHERE src <> dst),
             |rc AS (
             |  SELECT COUNT(*) AS nrec FROM e2 a
             |  JOIN e2 b ON b.src = a.dst AND b.dst = a.src),
             |od AS (SELECT src, COUNT(*) AS odeg FROM e2 GROUP BY src),
             |id AS (SELECT dst, COUNT(*) AS ideg FROM e2 GROUP BY dst),
             |m AS (
             |  SELECT COUNT(*) AS n,
             |    CAST(SUM(odeg) AS BIGINT) AS sx,
             |    CAST(SUM(ideg) AS BIGINT) AS sy,
             |    SUM(CAST(odeg AS HUGEINT) * ideg) AS sxy,
             |    SUM(CAST(odeg AS HUGEINT) * odeg) AS sxx,
             |    SUM(CAST(ideg AS HUGEINT) * ideg) AS syy
             |  FROM e2 JOIN od USING (src) JOIN id USING (dst)),
             |f AS (
             |  SELECT CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR)
             |      AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
             |      AS cov,
             |    CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
             |    CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE)
             |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
             |  FROM m)
             |SELECT CAST(nn.n_nodes AS BIGINT) AS n_nodes,
             |  CAST(lc.n_all - lc.n_self AS BIGINT) AS n_edges,
             |  CAST(lc.n_self AS BIGINT) AS n_self_loops,
             |  CASE WHEN lc.n_all - lc.n_self > 0 THEN
             |    CAST(rc.nrec AS DOUBLE)
             |      / CAST(lc.n_all - lc.n_self AS DOUBLE) END
             |    AS reciprocity,
             |  CASE WHEN f.vx > 0 AND f.vy > 0 THEN
             |    f.cov / (sqrt(f.vx) * sqrt(f.vy)) END AS assortativity
             |FROM nn, lc, rc, f""".stripMargin)),

    // ------------------------------------------------------------------
    // Weighted shortest paths (WebGraph.weightedShortestPaths —
    // synchronous Bellman–Ford, the Pregel SSSP kernel) on the q145
    // link graph with integer costs 1000 div n_links (heavily-linked
    // hops are cheap). Early-exited rounds equal the ten-round unrolled
    // replay because post-convergence rounds are no-ops.
    QuerySpec(
      "q213_weighted_sssp",
      (s, dir) => {
        val pages = Tables.documents(s, dir).select(
          host97.as("src_host"), htmlFixture.as("html"))
        val edges = Html.linkGraph(pages, "src_host", "html")
          .withColumn("cost", expr("1000 div n_links"))
        graft.ops.WebGraph.weightedShortestPaths(edges, "src_host",
            "dst_host", "cost", source = "h0.example.org", maxRounds = 10)
          .orderBy("dist", "node")
      },
      Some {
        val head = "WITH " + linkEdgesCte.stripMargin +
          """,
            |e AS MATERIALIZED (
            |  SELECT src_host AS src, dst_host AS dst,
            |    1000 // COUNT(*) AS w
            |  FROM l GROUP BY src_host, dst_host),
            |d0 AS (SELECT 'h0.example.org' AS node, 0 AS dist)"""
            .stripMargin
        val rounds = (1 to 10).map { k =>
          s""",
             |c$k AS (
             |  SELECT e.dst AS node, MIN(p.dist + e.w) AS nd
             |  FROM e JOIN d${k - 1} p ON p.node = e.src
             |  GROUP BY e.dst),
             |d$k AS MATERIALIZED (
             |  SELECT COALESCE(d.node, c.node) AS node,
             |    CASE WHEN d.dist IS NULL THEN c.nd
             |         WHEN c.nd IS NULL THEN d.dist
             |         WHEN c.nd < d.dist THEN c.nd ELSE d.dist END AS dist
             |  FROM d${k - 1} d FULL OUTER JOIN c$k c
             |    ON c.node = d.node)""".stripMargin
        }.mkString
        head + rounds +
          "\nSELECT node, CAST(dist AS BIGINT) AS dist FROM d10" +
          "\nORDER BY dist, node"
      }),

    // ------------------------------------------------------------------
    // Hour-of-week seasonality (EventOps.hourOfWeekProfile — the
    // traffic-shape diagnostic, q199's χ² machinery on the 168-cell
    // weekly grid): all cells reported (absent at 0), ISO weekdays,
    // χ² against uniform through DECIMAL(28,6) terms, threshold 229.215 (χ² ppf(0.999, 167)).
    QuerySpec(
      "q214_hour_of_week",
      (s, dir) => graft.ops.EventOps.hourOfWeekProfile(
          Tables.events(s, dir), "event_type", "ts")
        .sortWithinPartitions("event_type", "weekday", "hour"),
      Some("""WITH c AS (
             |  SELECT event_type, isodow(ts) AS weekday, hour(ts) AS hour,
             |    COUNT(*) AS n
             |  FROM events GROUP BY 1, 2, 3),
             |sp AS (
             |  SELECT wd.weekday, hh.hour
             |  FROM (SELECT unnest(range(1, 8)) AS weekday) wd,
             |       (SELECT unnest(range(0, 24)) AS hour) hh),
             |se AS (SELECT DISTINCT event_type FROM c),
             |z AS (
             |  SELECT se.event_type, sp.weekday, sp.hour,
             |    COALESCE(c.n, 0) AS n_obs
             |  FROM se CROSS JOIN sp
             |  LEFT JOIN c ON c.event_type = se.event_type
             |    AND c.weekday = sp.weekday AND c.hour = sp.hour),
             |e AS (
             |  SELECT event_type, weekday, hour, n_obs,
             |    SUM(n_obs) OVER (PARTITION BY event_type) AS tot
             |  FROM z),
             |t AS (SELECT *, CAST(tot AS DOUBLE) / 168.0 AS expected
             |      FROM e),
             |u AS (
             |  SELECT *, CAST(((CAST(n_obs AS DOUBLE) - expected)
             |    * (CAST(n_obs AS DOUBLE) - expected)) / expected
             |    AS DECIMAL(28,6)) AS term
             |  FROM t)
             |SELECT event_type, CAST(weekday AS BIGINT) AS weekday,
             |  CAST(hour AS BIGINT) AS hour, CAST(n_obs AS BIGINT)
             |    AS n_obs, expected,
             |  CAST(CAST(SUM(term) OVER (PARTITION BY event_type)
             |    AS VARCHAR) AS DOUBLE) AS chi2,
             |  CAST(CAST(SUM(term) OVER (PARTITION BY event_type)
             |    AS VARCHAR) AS DOUBLE) > 229.215 AS flat_rejected
             |FROM u ORDER BY event_type, weekday, hour""".stripMargin)),

    // ------------------------------------------------------------------
    // Readability scores (TextOps.readability — Flesch reading ease +
    // Flesch-Kincaid grade): surface counts (non-blank [.!?]+ sentence
    // splits, [aeiouy]+ vowel-group syllables) in one codegen
    // projection, then two fixed IEEE expressions the oracle replays.
    QuerySpec(
      "q215_readability",
      (s, dir) => graft.ops.TextOps.readability(
          Tables.documents(s, dir), "doc_id", "text")
        .sortWithinPartitions("doc_id"),
      Some(s"""SELECT doc_id,
             |  CAST(len($toksSql) AS BIGINT) AS n_words,
             |  CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
             |    x -> trim(x) <> '')) AS BIGINT) AS n_sentences,
             |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
             |    AS BIGINT) AS n_syllables,
             |  CASE WHEN len($toksSql) > 0 AND
             |    len(list_filter(string_split_regex(text, '[.!?]+'),
             |      x -> trim(x) <> '')) > 0 THEN
             |    206.835
             |    - 1.015 * (CAST(len($toksSql) AS DOUBLE)
             |      / CAST(len(list_filter(string_split_regex(text,
             |          '[.!?]+'), x -> trim(x) <> '')) AS DOUBLE))
             |    - 84.6 * (CAST(len(regexp_extract_all(lower(text),
             |        '[aeiouy]+')) AS DOUBLE)
             |      / CAST(len($toksSql) AS DOUBLE))
             |  END AS flesch,
             |  CASE WHEN len($toksSql) > 0 AND
             |    len(list_filter(string_split_regex(text, '[.!?]+'),
             |      x -> trim(x) <> '')) > 0 THEN
             |    0.39 * (CAST(len($toksSql) AS DOUBLE)
             |      / CAST(len(list_filter(string_split_regex(text,
             |          '[.!?]+'), x -> trim(x) <> '')) AS DOUBLE))
             |    + 11.8 * (CAST(len(regexp_extract_all(lower(text),
             |        '[aeiouy]+')) AS DOUBLE)
             |      / CAST(len($toksSql) AS DOUBLE)) - 15.59
             |  END AS fk_grade
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Classification report for the langId heuristic
    // (Classifier.classificationReport): per-class precision/recall/F1
    // + accuracy of q24's prediction against the fixture's lang label.
    // F1 = 2·tp/(n_pred+n_actual) — one division, no intermediate
    // rounding. The oracle splices the certified q120 langid CTE.
    QuerySpec(
      "q216_langid_report",
      (s, dir) => {
        val st = graft.functions.ArrayMath.textStats(col("text"))
        val scored = Seq("en" -> "s_en", "de" -> "s_de", "es" -> "s_es",
          "fr" -> "s_fr").map { case (lang, f) =>
          struct(col(s"__st.$f").as("score"), lit(lang).as("lang"))
        }
        val best = greatest(scored: _*)
        val pred = Tables.documents(s, dir)
          .select(col("lang").as("label"), col("text"), st.as("__st"))
          .select(col("label"),
            when(col("text").rlike(
              "[\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}]"), "zh")
              .otherwise(when(best.getField("score") > 0,
                best.getField("lang")).otherwise("unknown")).as("pred"))
        graft.ops.Classifier.classificationReport(pred, "pred", "label")
          .orderBy("category")
      },
      Some("WITH " + langIdCte.stripMargin + """,
             |j AS (
             |  SELECT p.lang AS pred, d.lang AS label
             |  FROM p JOIN documents d USING (doc_id)),
             |c AS (SELECT pred, label, COUNT(*) AS n FROM j GROUP BY 1, 2),
             |cls AS (
             |  SELECT pred AS category FROM c
             |  UNION SELECT label FROM c),
             |pn AS (SELECT pred AS category, SUM(n) AS n_pred
             |       FROM c GROUP BY 1),
             |an AS (SELECT label AS category, SUM(n) AS n_actual
             |       FROM c GROUP BY 1),
             |tpc AS (SELECT pred AS category, n AS tp FROM c
             |        WHERE pred = label),
             |tt AS (
             |  SELECT SUM(n) AS n0,
             |    COALESCE(SUM(CASE WHEN pred = label THEN n END), 0)
             |      AS tpall
             |  FROM c)
             |SELECT cls.category,
             |  CAST(COALESCE(pn.n_pred, 0) AS BIGINT) AS n_pred,
             |  CAST(COALESCE(an.n_actual, 0) AS BIGINT) AS n_actual,
             |  CAST(COALESCE(tpc.tp, 0) AS BIGINT) AS tp,
             |  CASE WHEN COALESCE(pn.n_pred, 0) > 0 THEN
             |    CAST(COALESCE(tpc.tp, 0) AS DOUBLE)
             |      / CAST(pn.n_pred AS DOUBLE) END AS precision,
             |  CASE WHEN COALESCE(an.n_actual, 0) > 0 THEN
             |    CAST(COALESCE(tpc.tp, 0) AS DOUBLE)
             |      / CAST(an.n_actual AS DOUBLE) END AS recall,
             |  CASE WHEN COALESCE(pn.n_pred, 0)
             |      + COALESCE(an.n_actual, 0) > 0 THEN
             |    2.0 * CAST(COALESCE(tpc.tp, 0) AS DOUBLE)
             |      / CAST(COALESCE(pn.n_pred, 0)
             |             + COALESCE(an.n_actual, 0) AS DOUBLE)
             |  END AS f1,
             |  CAST(tt.tpall AS DOUBLE) / CAST(tt.n0 AS DOUBLE)
             |    AS accuracy
             |FROM cls
             |LEFT JOIN pn ON pn.category = cls.category
             |LEFT JOIN an ON an.category = cls.category
             |LEFT JOIN tpc ON tpc.category = cls.category
             |CROSS JOIN tt
             |ORDER BY cls.category""".stripMargin)),

    // ------------------------------------------------------------------
    // Exact ROC AUC (Classifier.rocAuc — Mann–Whitney with midrank tie
    // correction, doubled to stay integer): does the q195 stopword
    // score actually RANK English docs above the rest? Ratio scores tie
    // constantly, so the midrank flavor is the only honest one. One
    // aggregation to the distinct-score plane, one division at the end.
    QuerySpec(
      "q217_roc_auc",
      (s, dir) => {
        val scored = Tables.documents(s, dir)
          .select(graft.functions.ArrayMath.textStats(col("text"))
            .as("__st"), col("lang"))
          .select((col("__st.n_stop").cast("double") /
            col("__st.n_tokens")).as("score"),
            when(col("lang") === "en", 1L).otherwise(0L).as("label"))
        graft.ops.Classifier.rocAuc(scored, "score", "label")
      },
      Some(s"""WITH m AS (
             |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             |    CAST(len(list_filter($toksSql, x -> lower(x) IN ($stops)))
             |      AS DOUBLE) / len($toksSql) AS s
             |  FROM documents),
             |g AS (
             |  SELECT s, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
             |  FROM m WHERE s IS NOT NULL GROUP BY s),
             |c AS (
             |  SELECT s, n, pos,
             |    COALESCE(SUM(n) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND 1 PRECEDING), 0) AS bef
             |  FROM g),
             |t AS (
             |  SELECT
             |    COALESCE(SUM(CAST(pos AS HUGEINT)
             |      * (2 * bef + n + 1)), 0) AS r2,
             |    CAST(COALESCE(SUM(pos), 0) AS BIGINT) AS n_pos,
             |    CAST(COALESCE(SUM(n - pos), 0) AS BIGINT) AS n_neg
             |  FROM c)
             |SELECT n_pos, n_neg,
             |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             |    (CAST(CAST(r2 AS VARCHAR) AS DOUBLE)
             |      - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0))
             |    / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
             |  END AS auc
             |FROM t""".stripMargin)),

    // ------------------------------------------------------------------
    // Average precision (Classifier.averagePrecision — the PR-AUC
    // step formula with atomic tie blocks): q217's companion for the
    // rare-positive regime. Exact cumsums on the distinct-score plane;
    // block terms through DECIMAL(18,12).
    QuerySpec(
      "q218_average_precision",
      (s, dir) => {
        val scored = Tables.documents(s, dir)
          .select(graft.functions.ArrayMath.textStats(col("text"))
            .as("__st"), col("lang"))
          .select((col("__st.n_stop").cast("double") /
            col("__st.n_tokens")).as("score"),
            when(col("lang") === "en", 1L).otherwise(0L).as("label"))
        graft.ops.Classifier.averagePrecision(scored, "score", "label")
      },
      Some(s"""WITH m AS (
             |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             |    CAST(len(list_filter($toksSql, x -> lower(x) IN ($stops)))
             |      AS DOUBLE) / len($toksSql) AS s
             |  FROM documents),
             |g AS (
             |  SELECT s, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
             |  FROM m WHERE s IS NOT NULL GROUP BY s),
             |c AS (
             |  SELECT s, n, pos,
             |    SUM(n) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW) AS cn,
             |    SUM(pos) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW) AS cp
             |  FROM g),
             |t AS (
             |  SELECT CAST(COALESCE(SUM(pos), 0) AS BIGINT) AS n_pos,
             |    CAST(COALESCE(SUM(n - pos), 0) AS BIGINT) AS n_neg,
             |    SUM(CAST(CAST(pos AS DOUBLE)
             |      * (CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE))
             |      AS DECIMAL(28,12))) AS ap_num
             |  FROM c)
             |SELECT n_pos, n_neg,
             |  CASE WHEN n_pos > 0 THEN
             |    CAST(CAST(ap_num AS VARCHAR) AS DOUBLE)
             |      / CAST(n_pos AS DOUBLE) END AS average_precision
             |FROM t""".stripMargin)),

    // ------------------------------------------------------------------
    // Quality-gate disparity audit (Curation.gateDisparity — the
    // four-fifths rule on q117's Gopher gate, per language): filters
    // tuned on English silently decimate other languages; this report
    // catches it before training. The oracle replays the full gate
    // conjunction per doc, then the group-plane rates.
    QuerySpec(
      "q219_gate_disparity",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val gated = graft.ops.TextOps.gopherRules(docs, "doc_id", "text",
            minWords = 10L)
          .select(col("doc_id"), col("keep"))
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        graft.ops.Curation.gateDisparity(gated, "lang", "keep")
          .orderBy("lang")
      },
      Some("""WITH b AS (
             |  SELECT doc_id, lang, COALESCE(text, '') AS text,
             |    trim(regexp_replace(lower(COALESCE(text, '')), '\s+', ' ',
             |      'g')) AS nt
             |  FROM documents
             |), t AS (
             |  SELECT doc_id, lang, text,
             |    CASE WHEN LENGTH(nt) = 0 THEN []
             |      ELSE string_split(nt, ' ') END AS toks,
             |    string_split(text, chr(10)) AS ls
             |  FROM b
             |), m AS (
             |  SELECT doc_id, lang,
             |    CAST(len(toks) AS BIGINT) AS n_words,
             |    CAST(len(ls) AS BIGINT) AS n_lines,
             |    CAST(COALESCE(list_aggregate(list_transform(toks,
             |      x -> len(x)), 'sum'), 0) AS BIGINT) AS chars,
             |    CAST(len(text) - len(replace(text, '#', ''))
             |      + len(text) - len(replace(text, '…', ''))
             |      + (len(text) - len(replace(text, '...', ''))) // 3
             |      AS BIGINT) AS symbols,
             |    CAST(len([x FOR x IN ls IF regexp_matches(ltrim(x),
             |      '^[-*•]')]) AS BIGINT) AS bullets,
             |    CAST(len([x FOR x IN ls IF regexp_matches(rtrim(x),
             |      '(\.\.\.|…)$')]) AS BIGINT) AS ells,
             |    CAST(len([x FOR x IN toks IF regexp_matches(x, '[a-z]')])
             |      AS BIGINT) AS alpha,
             |    CAST(len(list_distinct(list_intersect(list_distinct(toks),
             |      ['the','be','to','of','and','that','have','with','this',
             |       'it']))) AS BIGINT) AS stops
             |  FROM t
             |), k AS (
             |  SELECT lang,
             |    ((n_words BETWEEN 10 AND 100000)
             |      AND (3 * n_words <= chars AND chars <= 10 * n_words)
             |      AND (10 * symbols <= n_words)
             |      AND (10 * bullets <= 9 * n_lines)
             |      AND (10 * ells <= 3 * n_lines)
             |      AND (5 * alpha >= 4 * n_words)
             |      AND (stops >= 2)) AS keep
             |  FROM m),
             |g AS (
             |  SELECT lang, COUNT(*) AS n,
             |    COALESCE(SUM(CASE WHEN keep THEN 1 ELSE 0 END), 0)
             |      AS n_keep
             |  FROM k GROUP BY lang),
             |f AS (
             |  SELECT lang, n, n_keep,
             |    CAST(n_keep AS DOUBLE) / CAST(n AS DOUBLE) AS keep_rate,
             |    CAST(SUM(n_keep) OVER () AS DOUBLE)
             |      / CAST(SUM(n) OVER () AS DOUBLE) AS overall_rate
             |  FROM g),
             |z AS (
             |  SELECT lang, CAST(n AS BIGINT) AS n,
             |    CAST(n_keep AS BIGINT) AS n_keep, keep_rate, overall_rate,
             |    CASE WHEN overall_rate > 0 THEN keep_rate / overall_rate
             |      END AS ratio
             |  FROM f)
             |SELECT lang, n, n_keep, keep_rate, overall_rate, ratio,
             |  ratio < 0.8 AS below_four_fifths
             |FROM z ORDER BY lang""".stripMargin)),

    // ------------------------------------------------------------------
    // NDCG@10 (Retrieval.ndcgAtK — graded ranking quality with explicit
    // doc tiebreaks in both the system and ideal orders): a planted
    // 20-query fixture — system order = the md5-48bit hash, relevance
    // grades from residue classes — so the metric itself is what the
    // hash certifies. Per-position gains ride DECIMAL(18,12).
    QuerySpec(
      "q220_ndcg",
      (s, dir) => {
        val results = Tables.documents(s, dir).select(
          (col("doc_id") % 20).as("q"), col("doc_id"),
          conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
            .cast("long").as("score"),
          when(col("doc_id") % 7 === 0, 2L)
            .when(col("doc_id") % 3 === 0, 1L).otherwise(0L).as("rel"))
        graft.ops.Retrieval.ndcgAtK(results, "q", "doc_id", "score",
            "rel", k = 10)
          .orderBy("q")
      },
      Some {
        s"""WITH r AS (
           |  SELECT doc_id % 20 AS q, doc_id,
           |    md5(CAST(doc_id AS VARCHAR)) AS m,
           |    CASE WHEN doc_id % 7 = 0 THEN 2
           |      WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS rel
           |  FROM documents),
           |h AS (SELECT q, doc_id, CAST(($h48Sql) AS BIGINT) AS score, rel
           |      FROM r),
           |rk AS (
           |  SELECT q, rel,
           |    ROW_NUMBER() OVER (PARTITION BY q
           |      ORDER BY score DESC, doc_id) AS sr,
           |    ROW_NUMBER() OVER (PARTITION BY q
           |      ORDER BY rel DESC, doc_id) AS ir
           |  FROM h),
           |g AS (
           |  SELECT q,
           |    SUM(CASE WHEN sr <= 10 THEN
           |      CAST((POWER(2.0, rel) - 1.0)
           |        / (ln(CAST(sr AS DOUBLE) + 1.0) / ln(2.0))
           |        AS DECIMAL(18,12)) END) AS dcg,
           |    SUM(CASE WHEN ir <= 10 THEN
           |      CAST((POWER(2.0, rel) - 1.0)
           |        / (ln(CAST(ir AS DOUBLE) + 1.0) / ln(2.0))
           |        AS DECIMAL(18,12)) END) AS idcg
           |  FROM rk GROUP BY q)
           |SELECT CAST(q AS BIGINT) AS q,
           |  COALESCE(CAST(CAST(dcg AS VARCHAR) AS DOUBLE), 0.0) AS dcg,
           |  COALESCE(CAST(CAST(idcg AS VARCHAR) AS DOUBLE), 0.0)
           |    AS idcg,
           |  CASE WHEN COALESCE(CAST(CAST(idcg AS VARCHAR) AS DOUBLE),
           |      0.0) > 0 THEN
           |    CAST(CAST(dcg AS VARCHAR) AS DOUBLE)
           |      / CAST(CAST(idcg AS VARCHAR) AS DOUBLE) END AS ndcg
           |FROM g ORDER BY q""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Markov stationary distribution of the event-type chain: q177's
    // transition counts fed to WebGraph.weightedPageRank with damping
    // 100 — which IS the pure power iteration π_{t+1}(j) = Σ_i π_t(i)·
    // n(i,j) div rowTot(i) in exact scaled integers (100·x div 100 = x;
    // the teleport term vanishes). Eight synchronous steps; truncating
    // division sheds ≤10^-12 of the mass per term, far below any
    // ordering decision. Op composition is the point: the Markov
    // kernel, the web ranker and the keyword ranker are ONE iteration
    // engine.
    QuerySpec(
      "q221_markov_stationary",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("us"),
          col("event_id"))
        val trans = graft.ops.EventOps.transitions(ev, "user_id",
          "event_type", "us", "event_id")
        graft.ops.WebGraph.weightedPageRank(trans, "from_type", "to_type",
            "n", iterations = 8, dampingPct = 100)
          .orderBy(col("rank").desc, col("node"))
      },
      Some {
        val head = """WITH e0 AS (
            |  SELECT user_id, event_type AS t, epoch_us(ts) AS us,
            |    event_id
            |  FROM events),
            |pr2 AS (
            |  SELECT t AS src, LEAD(t) OVER (PARTITION BY user_id
            |    ORDER BY us, event_id) AS dst
            |  FROM e0),
            |e AS (SELECT src, dst, COUNT(*) AS w FROM pr2
            |      WHERE dst IS NOT NULL GROUP BY 1, 2),
            |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
            |ow AS (SELECT src, SUM(w) AS outw FROM e GROUP BY src),
            |eo AS (SELECT e.src, e.dst, e.w, ow.outw
            |       FROM e JOIN ow USING (src)),
            |pr AS (SELECT 1000000000000 // COUNT(*) AS r0 FROM nodes),
            |r0 AS (SELECT node, (SELECT r0 FROM pr) AS rank FROM nodes)"""
            .stripMargin
        val iters = (1 to 8).map { k =>
          s""",
             |r$k AS (
             |  SELECT n.node, COALESCE(s.inflow, 0) AS rank
             |  FROM nodes n LEFT JOIN (
             |    SELECT eo.dst AS node,
             |      SUM(CAST(p.rank AS HUGEINT) * eo.w // eo.outw)
             |        AS inflow
             |    FROM eo JOIN r${k - 1} p ON p.node = eo.src
             |    GROUP BY eo.dst) s ON s.node = n.node)""".stripMargin
        }.mkString
        head + iters +
          "\nSELECT node, CAST(rank AS BIGINT) AS rank FROM r8" +
          "\nORDER BY rank DESC, node"
      }),

    // ------------------------------------------------------------------
    // Sorted-neighborhood linkage (Linkage.sortedNeighborhoodPairs —
    // Hernández & Stolfo 1995, the OTHER blocking family next to
    // q188's equality blocking): global sort rank WITHOUT a single-task
    // window (the contiguousIds recipe), banded windowed pairing (every
    // pair within w−1 positions shares a block), Jaro-Winkler verify at
    // the q188 threshold, cross-source pairs only. The oracle replays
    // rank, window, banding-free pairing and DuckDB's independent JW.
    QuerySpec(
      "q222_sorted_neighborhood",
      (s, dir) => {
        val base = Tables.customer(s, dir)
          .select(col("c_custkey").as("id"), col("c_name").as("name"))
        val dirty = Tables.customer(s, dir)
          .select((col("c_custkey") + 1000000).as("id"),
            expr("concat(substr(c_name, 1, 16), substr(c_name, 18, 1), " +
              "substr(c_name, 17, 1))").as("name"))
        val pairs = graft.ops.Linkage.sortedNeighborhoodPairs(
          base.unionByName(dirty), "id", "name", window = 5)
        pairs
          .withColumn("jw", round(graft.functions.ArrayMath.jaroWinkler(
            col("key_a"), col("key_b")), 6))
          .filter(col("jw") >= 0.95 &&
            ((col("id_a") < 1000000) =!= (col("id_b") < 1000000)))
          .select(col("id_a"), col("key_a").as("name_a"), col("id_b"),
            col("key_b").as("name_b"), col("jw"))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH base AS (
             |  SELECT c_custkey AS id, c_name AS name FROM customer),
             |dirty AS (
             |  SELECT c_custkey + 1000000 AS id,
             |    substr(c_name, 1, 16) || substr(c_name, 18, 1)
             |      || substr(c_name, 17, 1) AS name
             |  FROM customer),
             |allr AS (SELECT * FROM base UNION ALL SELECT * FROM dirty),
             |rk AS (
             |  SELECT id, name,
             |    ROW_NUMBER() OVER (ORDER BY name, id) - 1 AS r
             |  FROM allr),
             |p AS (
             |  SELECT a.id AS id_a, a.name AS name_a,
             |    b.id AS id_b, b.name AS name_b
             |  FROM rk a JOIN rk b ON b.r > a.r AND b.r - a.r < 5),
             |f AS (
             |  SELECT id_a, name_a, id_b, name_b,
             |    ROUND(jaro_winkler_similarity(name_a, name_b), 6) AS jw
             |  FROM p)
             |SELECT id_a, name_a, id_b, name_b, jw FROM f
             |WHERE jw >= 0.95
             |  AND ((id_a < 1000000) <> (id_b < 1000000))
             |ORDER BY id_a, id_b""".stripMargin)),

    // ------------------------------------------------------------------
    // RFM segmentation (EventOps.rfmSegments — Hughes' marketing
    // classic): recency/frequency/monetary per user, each scored into
    // quintiles by rankBuckets (ntile-identical, no single-task window,
    // user-id tiebreaks). Monetary rides DECIMAL(18,6) over the VARCHAR
    // bridge; the oracle replays with NTILE over the same orderings.
    QuerySpec(
      "q223_rfm_segments",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("user_id"),
          col("value"), unix_micros(col("ts")).as("us"))
        graft.ops.EventOps.rfmSegments(ev, "user_id", "value", "us",
            nBuckets = 5, numPartitions = 8)
          .orderBy("user_id")
      },
      Some("""WITH pu AS (
             |  SELECT user_id, MAX(epoch_us(ts)) AS last_us,
             |    COUNT(*) AS frequency,
             |    SUM(COALESCE(CAST(value AS DECIMAL(18,6)),
             |      CAST(0 AS DECIMAL(18,6)))) AS m
             |  FROM events GROUP BY user_id),
             |h AS (SELECT MAX(last_us) AS hz FROM pu),
             |b AS (SELECT user_id, hz - last_us AS recency_us,
             |        frequency, m
             |      FROM pu, h),
             |sc AS (
             |  SELECT user_id, recency_us, frequency, m,
             |    CAST(NTILE(5) OVER (ORDER BY -recency_us, user_id)
             |      AS BIGINT) AS r_score,
             |    CAST(NTILE(5) OVER (ORDER BY frequency, user_id)
             |      AS BIGINT) AS f_score,
             |    CAST(NTILE(5) OVER (ORDER BY m, user_id)
             |      AS BIGINT) AS m_score
             |  FROM b)
             |SELECT user_id, CAST(recency_us AS BIGINT) AS recency_us,
             |  CAST(frequency AS BIGINT) AS frequency,
             |  CAST(CAST(m AS VARCHAR) AS DOUBLE) AS monetary,
             |  r_score, f_score, m_score,
             |  r_score * 100 + f_score * 10 + m_score AS rfm
             |FROM sc ORDER BY user_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Mutual information event_type × hour-of-day
    // (Profile.mutualInformation — the dependence measure correlation
    // can't see, with Theil's uncertainty coefficient): every term one
    // ln of exact integer products through DECIMAL(18,12), all
    // reductions on the joint plane.
    QuerySpec(
      "q224_mutual_information",
      (s, dir) => graft.ops.Profile.mutualInformation(
        Tables.events(s, dir).select(col("event_type"),
          hour(col("ts")).as("hr")),
        "event_type", "hr"),
      Some("""WITH j AS (
             |  SELECT event_type AS x, CAST(hour(ts) AS VARCHAR) AS y,
             |    COUNT(*) AS n
             |  FROM events GROUP BY 1, 2),
             |t AS (SELECT SUM(n) AS n0 FROM j),
             |mx AS (SELECT x, SUM(n) AS nx FROM j GROUP BY x),
             |my AS (SELECT y, SUM(n) AS ny FROM j GROUP BY y),
             |mi AS (
             |  SELECT CAST(CAST(SUM(CAST(
             |    (CAST(j.n AS DOUBLE) / CAST(t.n0 AS DOUBLE))
             |    * ln((CAST(j.n AS DOUBLE) * CAST(t.n0 AS DOUBLE))
             |        / (CAST(mx.nx AS DOUBLE) * CAST(my.ny AS DOUBLE)))
             |    AS DECIMAL(18,12))) AS VARCHAR) AS DOUBLE) AS mi
             |  FROM j JOIN mx USING (x) JOIN my USING (y) CROSS JOIN t),
             |hx AS (
             |  SELECT CAST(CAST(-SUM(CAST(
             |    (CAST(nx AS DOUBLE) / CAST(t.n0 AS DOUBLE))
             |    * ln(CAST(nx AS DOUBLE) / CAST(t.n0 AS DOUBLE))
             |    AS DECIMAL(18,12))) AS VARCHAR) AS DOUBLE) AS h_x
             |  FROM mx CROSS JOIN t),
             |hy AS (
             |  SELECT CAST(CAST(-SUM(CAST(
             |    (CAST(ny AS DOUBLE) / CAST(t.n0 AS DOUBLE))
             |    * ln(CAST(ny AS DOUBLE) / CAST(t.n0 AS DOUBLE))
             |    AS DECIMAL(18,12))) AS VARCHAR) AS DOUBLE) AS h_y
             |  FROM my CROSS JOIN t)
             |SELECT CAST(t.n0 AS BIGINT) AS n_items, mi.mi, hx.h_x,
             |  hy.h_y,
             |  CASE WHEN hx.h_x > 0 THEN mi.mi / hx.h_x END AS u_xy
             |FROM t, mi, hx, hy""".stripMargin)),

    // ------------------------------------------------------------------
    // Funnel time-to-convert quantiles (q156's strict funnel composed
    // with ScaleOps.weightedQuantile at w=1): per step the p50/p90 of
    // t_k − t1 over converters, thresholds as cross-multiplied integer
    // comparisons (2·cum ≥ W, 10·cum ≥ 9·W) — no float boundary, no
    // single-task sort.
    QuerySpec(
      "q225_funnel_latency",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        val times = graft.ops.EventOps.funnel(ev, "user_id", "event_type",
          "us", Seq("signup", "view", "purchase"),
          windowUs = 259200000000L)
        val durs = times.filter(col("t2").isNotNull)
          .select(lit(2L).as("step"), (col("t2") - col("t1")).as("dur"))
          .unionByName(times.filter(col("t3").isNotNull)
            .select(lit(3L).as("step"), (col("t3") - col("t1")).as("dur")))
          .withColumn("w", lit(1L))
          .localCheckpoint() // feeds both quantile passes
        val p50 = graft.ops.ScaleOps.weightedQuantile(durs, Seq("step"),
            "dur", "w", 1L, 2L)
          .select(col("step"), col("total_w").as("n_conv"),
            col("wq_value").as("p50_us"))
        val p90 = graft.ops.ScaleOps.weightedQuantile(durs, Seq("step"),
            "dur", "w", 9L, 10L)
          .select(col("step"), col("wq_value").as("p90_us"))
        p50.join(p90, "step").orderBy("step")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
             |), s1 AS (
             |  SELECT user_id, MIN(us) AS t1 FROM e
             |  WHERE event_type = 'signup' GROUP BY 1
             |), s2 AS (
             |  SELECT e.user_id, MIN(s1.t1) AS t1, MIN(e.us) AS t2
             |  FROM e JOIN s1 USING (user_id)
             |  WHERE e.event_type = 'view' AND e.us > s1.t1
             |    AND e.us <= s1.t1 + 259200000000
             |  GROUP BY 1
             |), s3 AS (
             |  SELECT e.user_id, MIN(s2.t1) AS t1, MIN(e.us) AS t3
             |  FROM e JOIN s2 USING (user_id)
             |  WHERE e.event_type = 'purchase' AND e.us > s2.t2
             |    AND e.us <= s2.t1 + 259200000000
             |  GROUP BY 1
             |), du AS (
             |  SELECT 2 AS step, t2 - t1 AS dur FROM s2
             |  UNION ALL SELECT 3, t3 - t1 FROM s3
             |), g AS (
             |  SELECT step, dur, COUNT(*) AS wv FROM du GROUP BY 1, 2
             |), c AS (
             |  SELECT step, dur,
             |    SUM(wv) OVER (PARTITION BY step ORDER BY dur
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cum,
             |    SUM(wv) OVER (PARTITION BY step) AS tot
             |  FROM g
             |), q50 AS (
             |  SELECT step, MIN(dur) AS p50_us, MIN(tot) AS n_conv
             |  FROM c WHERE cum * 2 >= tot GROUP BY step
             |), q90 AS (
             |  SELECT step, MIN(dur) AS p90_us
             |  FROM c WHERE cum * 10 >= tot * 9 GROUP BY step)
             |SELECT CAST(q50.step AS BIGINT) AS step,
             |  CAST(q50.n_conv AS BIGINT) AS n_conv,
             |  CAST(q50.p50_us AS BIGINT) AS p50_us,
             |  CAST(q90.p90_us AS BIGINT) AS p90_us
             |FROM q50 JOIN q90 USING (step) ORDER BY step""".stripMargin)),

    // ------------------------------------------------------------------
    // Per-series daily trend with inference (EventOps.dailyTrend —
    // grouped OLS of volume on day index + the slope's t-statistic):
    // zero-filled spine (gap days are real zeros), exact integer
    // moments over the VARCHAR bridge, |t| > 2 flags a real trend.
    QuerySpec(
      "q226_daily_trend",
      (s, dir) => graft.ops.EventOps.dailyTrend(
          Tables.events(s, dir), "event_type", "ts")
        .orderBy("event_type"),
      Some("""WITH dd AS (
             |  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
             |  FROM events GROUP BY 1, 2),
             |b AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM dd),
             |days AS (
             |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
             |    AS DATE) AS d FROM b),
             |se AS (SELECT DISTINCT event_type FROM dd),
             |z AS (
             |  SELECT se.event_type,
             |    CAST(days.d - DATE '1970-01-01' AS BIGINT) AS x,
             |    CAST(COALESCE(dd.n, 0) AS BIGINT) AS y
             |  FROM se CROSS JOIN days
             |  LEFT JOIN dd ON dd.event_type = se.event_type
             |    AND dd.d = days.d),
             |m AS (
             |  SELECT event_type, COUNT(*) AS n_days,
             |    CAST(SUM(x) AS BIGINT) AS sx,
             |    CAST(SUM(y) AS BIGINT) AS sy,
             |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
             |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
             |    SUM(CAST(y AS HUGEINT) * y) AS syy
             |  FROM z GROUP BY event_type),
             |f AS (
             |  SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
             |    CAST(n_days AS DOUBLE) AS nd,
             |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
             |    CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
             |        / CAST(n_days AS DOUBLE) AS cov,
             |    CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
             |        / CAST(n_days AS DOUBLE) AS vx,
             |    CAST(CAST(syy AS VARCHAR) AS DOUBLE)
             |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
             |        / CAST(n_days AS DOUBLE) AS vy
             |  FROM m),
             |g AS (
             |  SELECT event_type, n_days, nd, sxd, syd, cov, vx, vy,
             |    cov / vx AS slope,
             |    vy - (cov / vx) * cov AS sse
             |  FROM f)
             |SELECT event_type, n_days,
             |  CASE WHEN vx > 0 THEN slope END AS slope,
             |  CASE WHEN vx > 0 THEN syd / nd - slope * sxd / nd END
             |    AS intercept,
             |  CASE WHEN vx > 0 AND n_days > 2 AND sse > 0 THEN
             |    slope / sqrt((sse / (nd - 2.0)) / vx) END AS t_stat,
             |  ABS(CASE WHEN vx > 0 AND n_days > 2 AND sse > 0 THEN
             |    slope / sqrt((sse / (nd - 2.0)) / vx) END) > 2.0
             |    AS trending
             |FROM g ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // Trajectory surprisal (EventOps.trajectorySurprisal — per-user
    // mean NLL under the q177 transition model): the sequence-anomaly
    // detector. One ln of exact integer ratios per transition through
    // DECIMAL(18,12); the K×K model broadcasts back onto the pairs.
    QuerySpec(
      "q227_trajectory_surprisal",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("us"),
          col("event_id"))
        graft.ops.EventOps.trajectorySurprisal(ev, "user_id",
            "event_type", "us", "event_id")
          .sortWithinPartitions("user_id")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_type AS t, epoch_us(ts) AS us,
             |    event_id
             |  FROM events),
             |p AS (
             |  SELECT user_id, t AS f,
             |    LEAD(t) OVER (PARTITION BY user_id
             |      ORDER BY us, event_id) AS nx
             |  FROM e),
             |pp AS (SELECT user_id, f, nx FROM p WHERE nx IS NOT NULL),
             |m AS (
             |  SELECT f, nx, COUNT(*) AS nij FROM pp GROUP BY 1, 2),
             |mm AS (
             |  SELECT f, nx, nij, SUM(nij) OVER (PARTITION BY f) AS ni
             |  FROM m),
             |sc AS (
             |  SELECT pp.user_id, COUNT(*) AS n_transitions,
             |    -SUM(CAST(ln(CAST(mm.nij AS DOUBLE)
             |      / CAST(mm.ni AS DOUBLE)) AS DECIMAL(18,12))) AS s
             |  FROM pp JOIN mm ON mm.f = pp.f AND mm.nx = pp.nx
             |  GROUP BY pp.user_id)
             |SELECT user_id, CAST(n_transitions AS BIGINT)
             |    AS n_transitions,
             |  CAST(CAST(s AS VARCHAR) AS DOUBLE)
             |    / CAST(n_transitions AS DOUBLE) AS avg_nll
             |FROM sc ORDER BY user_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Daily-series correlation matrix (explicit pivot — the q57
    // discipline — into Profile.correlationMatrix): which event types
    // co-move day to day. Zero-filled spine on both sides; the q77
    // decimal-exact moment machinery does the rest.
    QuerySpec(
      "q228_series_correlation",
      (s, dir) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val daily = Tables.events(s, dir)
          .select(to_date(col("ts")).as("day"), col("event_type"))
          .groupBy("day")
          .pivot("event_type", types).agg(count(lit(1)))
        val spine = daily.agg(min(col("day")).as("__lo"),
            max(col("day")).as("__hi"))
          .select(explode(sequence(col("__lo"), col("__hi"))).as("day"))
        val z = spine.join(daily, Seq("day"), "left").na.fill(0L, types)
        graft.ops.Profile.correlationMatrix(z, types)
          .orderBy("col_x", "col_y")
      },
      Some {
        val cols = Seq("click", "error", "purchase", "signup", "view")
        val pairs = for {
          i <- cols.indices; j <- (i + 1) until cols.size
        } yield (cols(i), cols(j))
        val sums = pairs.zipWithIndex.flatMap { case ((x, y), p) =>
          def dec(e: String) = s"CAST($e AS DECIMAL(18,4))"
          def decw(e: String) = s"CAST(${dec(e)} AS DECIMAL(19,4))"
          Seq(
            s"COUNT(*) AS n_$p",
            s"SUM(${dec(x)}) AS sx_$p",
            s"SUM(${dec(y)}) AS sy_$p",
            s"SUM(${decw(x)} * ${decw(x)}) AS sxx_$p",
            s"SUM(${decw(y)} * ${decw(y)}) AS syy_$p",
            s"SUM(${decw(x)} * ${decw(y)}) AS sxy_$p")
        }.mkString(",\n    ")
        val branches = pairs.zipWithIndex.map { case ((x, y), p) =>
          val n = s"CAST(n_$p AS DOUBLE)"
          def d(pre: String) = s"CAST(${pre}_$p AS DOUBLE)"
          val num = s"$n * ${d("sxy")} - ${d("sx")} * ${d("sy")}"
          val den = s"sqrt($n * ${d("sxx")} - ${d("sx")} * ${d("sx")}) * " +
            s"sqrt($n * ${d("syy")} - ${d("sy")} * ${d("sy")})"
          s"""SELECT '$x' AS col_x, '$y' AS col_y,
             |  CAST(n_$p AS BIGINT) AS n,
             |  CASE WHEN ($den) = 0 THEN NULL
             |       ELSE round(($num) / ($den), 6) END AS corr FROM sm"""
            .stripMargin
        }.mkString("\n  UNION ALL\n  ")
        val pivotCols = cols.map(c =>
          s"CAST(COALESCE(SUM(CASE WHEN d.event_type = '$c' THEN d.n END), 0) AS BIGINT) AS $c")
          .mkString(",\n    ")
        s"""WITH d AS (
           |  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
           |  FROM events GROUP BY 1, 2),
           |b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM d),
           |days AS (
           |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
           |    AS DATE) AS day FROM b),
           |dw AS (
           |  SELECT days.day,
           |    $pivotCols
           |  FROM days LEFT JOIN d ON d.day = days.day
           |  GROUP BY days.day),
           |sm AS (
           |  SELECT
           |    $sums
           |  FROM dw
           |)
           |SELECT * FROM (
           |  $branches
           |) ORDER BY col_x, col_y""".stripMargin
      }),

    // ------------------------------------------------------------------
    // k-core backbone of the host graph (WebGraph.kCore — Seidman's
    // dense-subgraph extractor): peel to fixpoint on the q145 link
    // graph's undirected simple view, k=3. The oracle unrolls 96
    // synchronous peel rounds — past the fixpoint every round is a
    // no-op, so the fixed-depth replay certifies the fixpoint set and
    // in-core degrees bit-exactly.
    QuerySpec(
      "q229_kcore",
      (s, dir) => {
        val pages = Tables.documents(s, dir).select(
          host97.as("src_host"), htmlFixture.as("html"))
        val edges = Html.linkGraph(pages, "src_host", "html")
        WebGraph.kCore(edges, "src_host", "dst_host", k = 3)
          .orderBy(col("core_degree").desc, col("node"))
      },
      Some(kcoreOracle(3, 96))),

    // ------------------------------------------------------------------
    // Personalized PageRank (WebGraph.personalizedPageRank — random
    // walk with restart at a curator seed set): teleport mass lands
    // only on the hosts of doc_id%31=0 documents, so ranks measure
    // proximity to the whitelist rather than global importance. Same
    // exact integer arithmetic as q145; the oracle unrolls all 8
    // seeded iterations.
    QuerySpec(
      "q230_personalized_pagerank",
      (s, dir) => {
        val pages = Tables.documents(s, dir).select(
          host97.as("src_host"), htmlFixture.as("html"))
        val edges = Html.linkGraph(pages, "src_host", "html")
        val seeds = Tables.documents(s, dir)
          .filter(col("doc_id") % 31 === 0)
          .select(host97.as("seed_host"))
        WebGraph.personalizedPageRank(edges, "src_host", "dst_host",
            seeds, "seed_host", iterations = 8)
          .orderBy(col("rank").desc, col("node"))
      },
      Some(pprOracle(8))),

    // ------------------------------------------------------------------
    // Two-sample Kolmogorov–Smirnov distribution-shift gate
    // (Profile.ksTwoSample): did doc length shift between the English
    // cohort and everything else? D is an INTEGER max — max |cumA·n_B −
    // cumB·n_A| over the distinct-value frame, cumulated via the
    // range-partition + per-partition-offset recipe (no partition-less
    // window) — divided once at the end, so the statistic replays
    // bit-exactly. Verdict vs the tabulated α=0.05 coefficient.
    QuerySpec(
      "q231_ks_drift",
      (s, dir) => {
        val d = Tables.documents(s, dir).select(
          when(col("lang") === "en", "en").otherwise("other").as("cohort"),
          col("n_chars"))
        graft.ops.Profile.ksTwoSample(d, "cohort", "n_chars", "en", "other")
      },
      Some("""WITH s AS (
             |  SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS g,
             |         n_chars AS v
             |  FROM documents WHERE n_chars IS NOT NULL),
             |c AS (
             |  SELECT v,
             |    SUM(CASE WHEN g = 'en' THEN 1 ELSE 0 END) AS ca,
             |    SUM(CASE WHEN g = 'other' THEN 1 ELSE 0 END) AS cb
             |  FROM s GROUP BY v),
             |t AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM c),
             |cum AS (
             |  SELECT
             |    SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cuma,
             |    SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumb
             |  FROM c),
             |m AS (
             |  SELECT MAX(ABS(CAST(cuma AS HUGEINT) * (SELECT nb FROM t)
             |    - CAST(cumb AS HUGEINT) * (SELECT na FROM t))) AS dnum,
             |    COUNT(*) AS n_values
             |  FROM cum)
             |SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
             |  CAST(m.n_values AS BIGINT) AS n_values,
             |  CAST(CAST(m.dnum AS VARCHAR) AS DOUBLE)
             |    / (CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE)) AS ks_d,
             |  1.358 * sqrt(CAST(t.na + t.nb AS DOUBLE)
             |    / (CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE))) AS d_crit,
             |  CAST(CAST(m.dnum AS VARCHAR) AS DOUBLE)
             |      / (CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE))
             |    > 1.358 * sqrt(CAST(t.na + t.nb AS DOUBLE)
             |      / (CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE)))
             |    AS reject_same_dist
             |FROM t, m""".stripMargin)),

    // ------------------------------------------------------------------
    // Mergeable quantile sketch (Sketches.hdrSketch — the HDR-histogram /
    // DDSketch family, Masson et al. VLDB'19): per-source p50/p90/p99 of
    // document length read off a base-2 geometric bucket sketch. The
    // bucket id is EXACT integer arithmetic (binary exponent via
    // length(bin(v)), never ln), the rank threshold is the
    // cross-multiplied weightedQuantile convention, and the reported
    // value is the bucket's canonical lower bound — so the ENTIRE
    // estimator replays bit-for-bit in DuckDB (bin/shifts/integer div
    // below), no band needed. Sketch state: ≤ 63·32 rows per source
    // regardless of corpus size; per-day sketches roll up by summing
    // counts (merge-tree == direct build asserted bit-exact in
    // SketchesSpec).
    QuerySpec(
      "q232_hdr_quantiles",
      (s, dir) => {
        val d = Tables.documents(s, dir).select(col("source"), col("n_chars"))
        val sk = graft.ops.Sketches.hdrSketch(d, Seq("source"), "n_chars", 32)
          .localCheckpoint() // bucket plane feeds three quantile reads
        def q(num: Long, den: Long, name: String) =
          graft.ops.Sketches.hdrQuantile(sk, Seq("source"), 32, num, den)
            .select(col("source"), col("n_total"),
              col("hdr_value").as(name))
        q(1, 2, "p50_chars")
          .join(q(9, 10, "p90_chars").drop("n_total"), "source")
          .join(q(99, 100, "p99_chars").drop("n_total"), "source")
          .orderBy("source")
      },
      Some {
        def est(b: String) =
          s"CAST((1::BIGINT << CAST($b // 32 AS INT)) + (($b % 32) * " +
            s"(1::BIGINT << CAST($b // 32 AS INT))) // 32 AS BIGINT)"
        s"""WITH v AS (
           |  SELECT source, CAST(n_chars AS BIGINT) AS v
           |  FROM documents WHERE n_chars >= 1),
           |b AS (
           |  SELECT source,
           |    CAST(length(bin(v)) - 1 AS BIGINT) * 32
           |      + ((v - (1::BIGINT << CAST(length(bin(v)) - 1 AS INT)))
           |          * 32)
           |        // (1::BIGINT << CAST(length(bin(v)) - 1 AS INT))
           |      AS bucket
           |  FROM v),
           |c AS (SELECT source, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
           |r AS (
           |  SELECT source, bucket,
           |    SUM(cnt) OVER (PARTITION BY source ORDER BY bucket
           |      ROWS UNBOUNDED PRECEDING) AS cum,
           |    SUM(cnt) OVER (PARTITION BY source) AS n
           |  FROM c),
           |q AS (
           |  SELECT source, MAX(n) AS n,
           |    MIN(CASE WHEN cum * 2 >= n * 1 THEN bucket END) AS b50,
           |    MIN(CASE WHEN cum * 10 >= n * 9 THEN bucket END) AS b90,
           |    MIN(CASE WHEN cum * 100 >= n * 99 THEN bucket END) AS b99
           |  FROM r GROUP BY source)
           |SELECT source, CAST(n AS BIGINT) AS n_total,
           |  ${est("b50")} AS p50_chars,
           |  ${est("b90")} AS p90_chars,
           |  ${est("b99")} AS p99_chars
           |FROM q ORDER BY source""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Gap-based sessionization (EventOps.sessionStats — the classic
    // web-analytics session cut at a 30-minute inactivity gap, the same
    // grouping Structured Streaming's session_window produces, asserted
    // streaming==batch in StreamingAggSpec): deterministic
    // (user, session_seq) ids off one user-partitioned lag window, then
    // per-session bounds/counts and the exact DECIMAL value sum over
    // the VARCHAR bridge.
    QuerySpec(
      "q233_sessionize",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id"), col("value"))
        graft.ops.EventOps.sessionStats(ev, "user_id", "us", "event_id",
            "value", gapUs = 1800000000L)
          .sortWithinPartitions("user_id", "session_seq")
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) AS us, event_id, value
             |  FROM events WHERE user_id IS NOT NULL),
             |l AS (
             |  SELECT *, LAG(us) OVER (
             |      PARTITION BY user_id ORDER BY us, event_id) AS prev
             |  FROM e),
             |s AS (
             |  SELECT user_id, us, value,
             |    SUM(CASE WHEN prev IS NULL OR us - prev >= 1800000000
             |          THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY user_id ORDER BY us, event_id
             |        ROWS UNBOUNDED PRECEDING) AS session_seq
             |  FROM l)
             |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
             |  MIN(us) AS start_us, MAX(us) AS end_us,
             |  MAX(us) - MIN(us) AS duration_us,
             |  CAST(COUNT(*) AS BIGINT) AS n_events,
             |  CAST(CAST(SUM(COALESCE(CAST(value AS DECIMAL(18,6)),
             |      CAST(0 AS DECIMAL(18,6)))) AS VARCHAR) AS DOUBLE)
             |    AS sum_value
             |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ------------------------------------------------------------------
    // Louvain-style modularity communities + exact modularity
    // (WebGraph.louvainCommunities / modularity — Blondel et al. 2008
    // phase-1 local moving, synchronized with Jones–Plassmann-style
    // independent-set move scheduling so two adjacent nodes never swap;
    // Newman–Girvan Q as one integer numerator over the VARCHAR
    // bridge): communities of the planted host link graph after 4 exact
    // integer-arithmetic rounds, with the final partition's modularity
    // repeated on every row. The oracle replays all 4 rounds (gain
    // scores, h48 priorities, blocking, tie-breaks) CTE by CTE.
    QuerySpec(
      "q234_louvain_communities",
      (s, dir) => {
        val pages = Tables.documents(s, dir).select(
          host97.as("src_host"), htmlFixture.as("html"))
        // extract-once: the link graph feeds both the community rounds
        // and the modularity read
        val edges = Html.linkGraph(pages, "src_host", "html")
          .localCheckpoint(true)
        val lab = graft.ops.WebGraph.louvainCommunities(
          edges, "src_host", "dst_host", rounds = 4)
        val q = graft.ops.WebGraph.modularity(edges, "src_host",
            "dst_host", lab, "node", "community")
          .select(col("q_modularity"))
        lab.withColumn("community_size",
            count(lit(1)).over(Window.partitionBy(col("community"))))
          .crossJoin(broadcast(q)) // one-row modularity scalar
          .orderBy("node")
      },
      Some(louvainOracle(4))),

    // ------------------------------------------------------------------
    // Fleiss' kappa multi-rater agreement (Profile.fleissKappa — Fleiss
    // 1971, the n-rater generalization of q194's Cohen kappa and the QA
    // gate for >=3-annotator labeling): three heuristic "raters" tier
    // each document (char-length / token-count / stopword-count
    // terciles) into a LONG (item, rating) frame; κ corrects the mean
    // pairwise agreement for chance from the pooled category marginals.
    // Both quadratic sums ride DECIMAL(38,0)/HUGEINT and exit over the
    // VARCHAR bridge; po/pe/κ are a fixed sequence of IEEE divisions
    // both engines replay bit-exactly.
    QuerySpec(
      "q235_fleiss_kappa",
      (s, dir) => {
        val st = graft.functions.ArrayMath.textStats(col("text"))
        val base = Tables.documents(s, dir).select(col("doc_id"),
          col("n_chars"), st.getField("n_tokens").as("__nt"),
          st.getField("n_stop").as("__ns"))
        def tier(c: org.apache.spark.sql.Column, lo: Int, hi: Int) =
          when(c < lo, "short").when(c < hi, "mid").otherwise("long")
        val rated = base.select(col("doc_id"),
            tier(col("n_chars"), 220, 380).as("label"))
          .unionByName(base.select(col("doc_id"),
            tier(col("__nt"), 40, 70).as("label")))
          .unionByName(base.select(col("doc_id"),
            tier(col("__ns"), 12, 20).as("label")))
        graft.ops.Profile.fleissKappa(rated, "doc_id", "label")
      },
      Some(s"""WITH t AS (
             |  SELECT doc_id, CASE WHEN n_chars < 220 THEN 'short'
             |    WHEN n_chars < 380 THEN 'mid' ELSE 'long' END AS k
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id, CASE WHEN len($toksSql) < 40 THEN 'short'
             |    WHEN len($toksSql) < 70 THEN 'mid' ELSE 'long' END
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id,
             |    CASE WHEN len(list_filter($toksSql,
             |        x -> lower(x) IN ($stops))) < 12 THEN 'short'
             |      WHEN len(list_filter($toksSql,
             |        x -> lower(x) IN ($stops))) < 20 THEN 'mid'
             |      ELSE 'long' END
             |  FROM documents),
             |c AS (SELECT doc_id, k, COUNT(*) AS n FROM t GROUP BY 1, 2),
             |pi AS (SELECT doc_id, SUM(n) AS ni, SUM(n * n) AS si
             |       FROM c GROUP BY 1),
             |tot AS (SELECT COUNT(*) AS N, SUM(si) AS S FROM pi),
             |ck AS (SELECT k, SUM(n) AS ckn FROM c GROUP BY 1),
             |pe AS (SELECT SUM(ckn * ckn) AS pe_num, COUNT(*) AS K
             |       FROM ck),
             |sel AS (
             |  SELECT CAST(tot.N AS BIGINT) AS n_items,
             |    CAST(3 AS BIGINT) AS n_raters,
             |    CAST(pe.K AS BIGINT) AS n_categories,
             |    CAST(CAST(S - N * 3 AS VARCHAR) AS DOUBLE)
             |      / (CAST(N AS DOUBLE) * 3.0 * 2.0) AS po,
             |    CAST(CAST(pe_num AS VARCHAR) AS DOUBLE)
             |      / (CAST(N AS DOUBLE) * 3.0)
             |      / (CAST(N AS DOUBLE) * 3.0) AS pe
             |  FROM tot, pe)
             |SELECT n_items, n_raters, n_categories, po, pe,
             |  CASE WHEN pe < 1.0 THEN (po - pe) / (1.0 - pe) END AS kappa
             |FROM sel""".stripMargin)),

    // ------------------------------------------------------------------
    // χ² independence + Cramér's V (Profile.cramersV — Cramér 1946; the
    // effect-size companion to q224's mutual information on the same
    // "is language independent of source?" mixture audit): the full
    // K_x×K_y grid including zero cells, each cell term one IEEE
    // division of exact DECIMAL(38,0)/HUGEINT cross-products, summed
    // order-independently through DECIMAL(28,6) (the q199 Benford
    // recipe), sqrt at the end.
    QuerySpec(
      "q236_cramers_v",
      (s, dir) => graft.ops.Profile.cramersV(
        Tables.documents(s, dir), "lang", "source"),
      Some("""WITH j AS (
             |  SELECT lang AS x, source AS y, COUNT(*) AS n
             |  FROM documents
             |  WHERE lang IS NOT NULL AND source IS NOT NULL
             |  GROUP BY 1, 2),
             |mx AS (SELECT x, SUM(n) AS rx FROM j GROUP BY 1),
             |my AS (SELECT y, SUM(n) AS cy FROM j GROUP BY 1),
             |tt AS (SELECT SUM(n) AS nn FROM j),
             |g AS (
             |  SELECT mx.x, my.y, rx, cy, COALESCE(j.n, 0) AS o, nn
             |  FROM mx CROSS JOIN my
             |  LEFT JOIN j ON j.x = mx.x AND j.y = my.y, tt),
             |term AS (
             |  SELECT x, y, nn,
             |    CAST(CAST((nn*o - rx*cy) * (nn*o - rx*cy) AS VARCHAR)
             |        AS DOUBLE)
             |      / (CAST(nn AS DOUBLE) * CAST(rx AS DOUBLE)
             |        * CAST(cy AS DOUBLE)) AS trm
             |  FROM g),
             |agg AS (
             |  SELECT
             |    CAST(CAST(SUM(CAST(trm AS DECIMAL(28,6))) AS VARCHAR)
             |      AS DOUBLE) AS chi2,
             |    COUNT(DISTINCT x) AS k_x, COUNT(DISTINCT y) AS k_y,
             |    MAX(nn) AS n_items
             |  FROM term)
             |SELECT CAST(n_items AS BIGINT) AS n_items,
             |  CAST(k_x AS BIGINT) AS k_x, CAST(k_y AS BIGINT) AS k_y,
             |  chi2, CAST((k_x - 1) * (k_y - 1) AS BIGINT) AS dof,
             |  CASE WHEN LEAST(k_x, k_y) > 1 THEN
             |    sqrt(chi2 / (CAST(n_items AS DOUBLE)
             |      * CAST(LEAST(k_x, k_y) - 1 AS DOUBLE))) END AS cramers_v
             |FROM agg""".stripMargin)),

    // ------------------------------------------------------------------
    // Winsorization (Profile.winsorize — Dixon & Tukey 1968): the
    // heavy-tail clamp at the exact [p01, p99] order statistics (q172's
    // rank recipe — actual data values, no interpolation), read out as
    // before/after extremes and DECIMAL-routed sums so the whole clamp
    // hash-matches. The bounds pass ships two values to the driver; the
    // clamp is a 1-row broadcast — the data never reshuffles.
    QuerySpec(
      "q237_winsorize",
      (s, dir) => {
        val w = graft.ops.Profile.winsorize(
          Tables.lineitem(s, dir).select(col("l_extendedprice")),
          "l_extendedprice", 0.01, 0.99, numPartitions = 8)
        w.agg(count(col("l_extendedprice")).as("n_values"),
          min(col("l_extendedprice")).as("raw_min"),
          max(col("l_extendedprice")).as("raw_max"),
          min(col("l_extendedprice_wins")).as("wins_min"),
          max(col("l_extendedprice_wins")).as("wins_max"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("raw_sum"),
          sum(col("l_extendedprice_wins").cast("decimal(18,2)"))
            .cast("double").as("wins_sum"))
      },
      Some("""WITH s AS (
             |  SELECT l_extendedprice AS v FROM lineitem
             |  WHERE l_extendedprice IS NOT NULL),
             |nn AS (SELECT COUNT(*) AS n FROM s),
             |r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) - 1 AS rk
             |      FROM s),
             |b AS (SELECT
             |    MAX(CASE WHEN rk = CAST(FLOOR(0.01 * (n - 1)) AS BIGINT)
             |      THEN v END) AS lo,
             |    MAX(CASE WHEN rk = CAST(FLOOR(0.99 * (n - 1)) AS BIGINT)
             |      THEN v END) AS hi
             |  FROM r, nn),
             |w AS (SELECT v, LEAST(GREATEST(v, lo), hi) AS wv FROM s, b)
             |SELECT CAST(COUNT(v) AS BIGINT) AS n_values,
             |  MIN(v) AS raw_min, MAX(v) AS raw_max,
             |  MIN(wv) AS wins_min, MAX(wv) AS wins_max,
             |  CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS raw_sum,
             |  CAST(SUM(CAST(wv AS DECIMAL(18,2))) AS DOUBLE) AS wins_sum
             |FROM w""".stripMargin)),

    // ------------------------------------------------------------------
    // Classical additive seasonal decomposition (EventOps.
    // seasonalDecompose — Macaulay 1931 / the STL outer-loop recipe):
    // daily event counts split into centered-7-day-MA trend, raw
    // per-weekday seasonal means of the detrended series, and the
    // remainder. Every component is one IEEE division of exact
    // integers (trend = S/7, seasonal = Σ(7v−S)/(7·cnt)), remainder
    // the exact IEEE leftover (v−trend)−seasonal — bit-deterministic
    // end to end, so the whole decomposition hash-matches (recomposing
    // the three re-rounds; agreement is to IEEE ulp). Windows run on
    // the
    // days-in-range-bounded calendar spine.
    QuerySpec(
      "q238_seasonal_decompose",
      (s, dir) => graft.ops.EventOps.seasonalDecompose(
        Tables.events(s, dir), "ts", period = 7),
      Some("""WITH dd AS (
             |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
             |  FROM events GROUP BY 1),
             |b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM dd),
             |days AS (
             |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
             |    AS DATE) AS day FROM b),
             |z AS (
             |  SELECT days.day,
             |    CAST(days.day - DATE '1970-01-01' AS BIGINT) AS x,
             |    CAST(COALESCE(dd.n, 0) AS BIGINT) AS v
             |  FROM days LEFT JOIN dd ON dd.day = days.day),
             |w AS (
             |  SELECT day, x, v,
             |    CAST(SUM(v) OVER win AS BIGINT) AS s,
             |    COUNT(*) OVER win AS cnt,
             |    ((x % 7) + 7) % 7 AS pos
             |  FROM z
             |  WINDOW win AS (ORDER BY x
             |    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
             |d AS (SELECT *, CASE WHEN cnt = 7 THEN v * 7 - s END AS dnum
             |      FROM w),
             |se AS (
             |  SELECT pos, CAST(SUM(dnum) AS BIGINT) AS snum,
             |    COUNT(dnum) AS scnt
             |  FROM d WHERE dnum IS NOT NULL GROUP BY pos),
             |se2 AS (
             |  SELECT pos, CAST(snum AS DOUBLE)
             |    / (CAST(scnt AS DOUBLE) * 7.0) AS seasonal
             |  FROM se)
             |SELECT d.day, CAST(d.pos AS BIGINT) AS pos, d.v AS value,
             |  CASE WHEN cnt = 7 THEN CAST(s AS DOUBLE) / 7.0 END AS trend,
             |  CASE WHEN cnt = 7 THEN seasonal END AS seasonal,
             |  CASE WHEN cnt = 7 THEN
             |    (CAST(v AS DOUBLE) - CAST(s AS DOUBLE) / 7.0) - seasonal
             |  END AS remainder
             |FROM d LEFT JOIN se2 USING (pos)
             |ORDER BY day""".stripMargin)),

    // ------------------------------------------------------------------
    // HyperLogLog distinct sketch (Sketches.hllSketch/hllEstimate —
    // Flajolet et al. 2007; the register sibling of q174's KMV,
    // completing the sketch family): per-event-type distinct-user
    // estimate at p=9 (512 registers, ~4.6% standard error), exact
    // distinct alongside and a ±15% relative-error verdict in-band.
    // Fully deterministic (md5 h48, top-9-bit bucket, bin()-length
    // rho), so the oracle replays the REGISTERS and the harmonic-mean
    // estimate bit-for-bit — Σ2^(R−M_j) stays an exact BIGINT, the
    // linear-counting ln routes through DECIMAL(18,12).
    QuerySpec(
      "q239_hll_distinct",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val est = graft.ops.Sketches.hllDistinct(
          ev, Seq("event_type"), "user_id", p = 9)
        val exact = ev.filter(col("user_id").isNotNull)
          .groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("n_exact"))
        est.join(exact, Seq("event_type"))
          .select(col("event_type"), col("n_registers_hit"),
            col("estimate"), col("n_exact"),
            (abs(col("estimate") / col("n_exact").cast("double") -
              lit(1.0)) <= lit(0.15)).as("within_band"))
          .orderBy("event_type")
      },
      Some(s"""WITH d AS (
             |  SELECT DISTINCT event_type,
             |    md5(CAST(user_id AS VARCHAR)) AS m
             |  FROM events WHERE user_id IS NOT NULL),
             |h AS (SELECT event_type, CAST($h48Sql AS BIGINT) AS h FROM d),
             |b AS (SELECT event_type, h >> 39 AS bucket,
             |        h & 549755813887 AS w FROM h),
             |r AS (SELECT event_type, bucket,
             |        CASE WHEN w = 0 THEN 40
             |          ELSE 40 - length(bin(w)) END AS rho
             |      FROM b),
             |reg AS (SELECT event_type, bucket, MAX(rho) AS rho_max
             |        FROM r GROUP BY 1, 2),
             |ag AS (
             |  SELECT event_type, COUNT(*) AS hit,
             |    CAST(SUM(CAST(1 AS BIGINT) << (40 - CAST(rho_max AS INT)))
             |      AS BIGINT) AS s
             |  FROM reg GROUP BY 1),
             |e AS (
             |  SELECT event_type, hit,
             |    s + (512 - hit) * (CAST(1 AS BIGINT) << 40) AS sall,
             |    512 - hit AS v
             |  FROM ag),
             |est AS (
             |  SELECT event_type, CAST(hit AS BIGINT) AS n_registers_hit,
             |    CASE WHEN (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0
             |        * 1099511627776.0 / CAST(sall AS DOUBLE)
             |          <= 2.5 * 512.0 AND v > 0
             |      THEN CAST(CAST(512.0 * ln(512.0 / CAST(v AS DOUBLE))
             |        AS DECIMAL(18,12)) AS DOUBLE)
             |      ELSE (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0
             |        * 1099511627776.0 / CAST(sall AS DOUBLE)
             |    END AS estimate
             |  FROM e),
             |ex AS (
             |  SELECT event_type,
             |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
             |  FROM events WHERE user_id IS NOT NULL GROUP BY 1)
             |SELECT est.event_type AS event_type, n_registers_hit,
             |  estimate, n_exact,
             |  ABS(estimate / CAST(n_exact AS DOUBLE) - 1.0) <= 0.15
             |    AS within_band
             |FROM est JOIN ex ON ex.event_type = est.event_type
             |ORDER BY est.event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // Markov removal-effect attribution (EventOps.markovAttribution —
    // Anderl et al. 2016; the data-driven successor to q184's
    // first/last-touch heuristics): journeys = each user's first 8
    // events truncated at the first 'purchase', modeled as a first-
    // order chain with absorbing CONV/NULL; each channel credited by
    // the drop in absorption probability when it is removed. 12 rounds
    // of SCALE=10^12 integer value iteration (the q145 pageRank
    // discipline — DECIMAL(38,0)/HUGEINT products, floor div), so the
    // oracle replays every round CTE by CTE and the effects/shares are
    // single IEEE divisions of exact scaled integers.
    QuerySpec(
      "q240_markov_attribution",
      (s, dir) => {
        val w8 = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"), col("event_id"))
          .withColumn("__rn", row_number().over(w8))
          .filter(col("__rn") <= 8).drop("__rn")
        graft.ops.EventOps.markovAttribution(ev, "user_id", "event_type",
            "us", "event_id", convType = "purchase", iterations = 12)
          .orderBy("channel")
      },
      Some(markovOracle(12))),

    // ------------------------------------------------------------------
    // Bradley–Terry preference strengths (Preference.bradleyTerry —
    // Bradley & Terry 1952, Hunter's MM 2004; the arena-ranking model
    // behind RLHF reward-data analysis): consecutive documents contest
    // on length, source of the longer doc wins → pairwise outcomes
    // between the five sources → latent strengths with P(i beats j) =
    // π_i/(π_i+π_j). 10 MM rounds in scaled-integer arithmetic (the
    // HITS discipline: DECIMAL(38,0)/HUGEINT products, floor div,
    // denominators floored at 10^4 for long-safe quotients, max-
    // normalization each round) — the oracle replays every round CTE
    // by CTE.
    QuerySpec(
      "q241_bradley_terry",
      (s, dir) => {
        val d = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars"))
        val d2 = d.select(col("doc_id").as("__id2"),
          col("source").as("__s2"), col("n_chars").as("__c2"))
        val games = d.join(d2, col("doc_id") + 1 === col("__id2"))
          .filter(col("source") =!= col("__s2") &&
            col("n_chars") =!= col("__c2"))
          .select(
            when(col("n_chars") > col("__c2"), col("source"))
              .otherwise(col("__s2")).as("winner"),
            when(col("n_chars") > col("__c2"), col("__s2"))
              .otherwise(col("source")).as("loser"))
        graft.ops.Preference.bradleyTerry(games, "winner", "loser",
            iterations = 10)
          .orderBy("item")
      },
      Some(btOracle(10))),

    // ------------------------------------------------------------------
    // Entity resolution END TO END (Linkage.blockedNameMatch →
    // Dedup.connectedComponents — the Fellegi–Sunter two-phase plus the
    // transitive-closure step master-data pipelines run): the q188
    // dirty feed (transposed name digits) pools with the master,
    // nation+digit-blocked Jaro-Winkler ≥ 0.95 pairs become edges, CC
    // labels every record with its entity (min-id), and unmatched
    // records stay singleton entities of size 1. The oracle replays the
    // pairs against DuckDB's independent jaro_winkler_similarity and
    // the closure via WITH RECURSIVE reach + MIN label (the q63
    // recipe). Sliced to custkey%3=0 to keep the verification kernel's
    // bench cost proportionate.
    QuerySpec(
      "q242_entity_resolution",
      (s, dir) => {
        val blkOf = (name: org.apache.spark.sql.Column,
                     nat: org.apache.spark.sql.Column) =>
          concat(nat.cast("string"), lit(":"), substring(name, 15, 1))
        val cust = Tables.customer(s, dir)
          .filter(col("c_custkey") % 3 === 0)
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
        val base = cust.select(col("c_custkey"), col("c_name"),
          blkOf(col("c_name"), col("c_nationkey")).as("blk"))
        val dirty = cust
          .select((col("c_custkey") + 1000000).as("c_custkey"),
            expr("concat(substr(c_name, 1, 16), substr(c_name, 18, 1), " +
              "substr(c_name, 17, 1))").as("c_name"),
            col("c_nationkey"))
          .select(col("c_custkey"), col("c_name"),
            blkOf(col("c_name"), col("c_nationkey")).as("blk"))
        val matches = graft.ops.Linkage.blockedNameMatch(
          dirty, "c_custkey", "c_name", "blk",
          base, "c_custkey", "c_name", "blk", minSim = 0.95)
        val cc = graft.ops.Dedup.connectedComponents(
          matches, "id_a", "id_b")
        val pool = base.select(col("c_custkey").as("record_id"),
            col("c_name").as("name"))
          .unionByName(dirty.select(col("c_custkey").as("record_id"),
            col("c_name").as("name")))
        pool.join(cc.select(col("id").as("record_id"), col("component"),
            col("cluster_size")), Seq("record_id"), "left")
          .select(col("record_id"), col("name"),
            coalesce(col("component"), col("record_id")).as("entity_id"),
            coalesce(col("cluster_size"), lit(1L)).as("entity_size"))
          .orderBy("record_id")
      },
      Some("""WITH RECURSIVE cust AS (
             |  SELECT c_custkey, c_name, c_nationkey FROM customer
             |  WHERE c_custkey % 3 = 0),
             |dirty AS (
             |  SELECT c_custkey + 1000000 AS c_custkey,
             |    substr(c_name, 1, 16) || substr(c_name, 18, 1)
             |      || substr(c_name, 17, 1) AS c_name,
             |    c_nationkey
             |  FROM cust),
             |j AS (
             |  SELECT d.c_custkey AS id_a, b.c_custkey AS id_b,
             |    ROUND(jaro_winkler_similarity(d.c_name, b.c_name), 6)
             |      AS jw
             |  FROM dirty d JOIN cust b
             |    ON b.c_nationkey = d.c_nationkey
             |    AND substr(b.c_name, 15, 1) = substr(d.c_name, 15, 1)),
             |e AS (SELECT id_a AS a, id_b AS b FROM j WHERE jw >= 0.95),
             |u AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
             |reach(a, b) AS (
             |  SELECT DISTINCT a, a FROM u
             |  UNION
             |  SELECT reach.a, u.b FROM reach JOIN u ON reach.b = u.a),
             |lbl AS (SELECT a AS record_id, MIN(b) AS component
             |        FROM reach GROUP BY a),
             |sz AS (SELECT component, COUNT(*) AS csize
             |       FROM lbl GROUP BY 1),
             |pool AS (
             |  SELECT c_custkey AS record_id, c_name AS name FROM cust
             |  UNION ALL
             |  SELECT c_custkey AS record_id, c_name AS name FROM dirty)
             |SELECT p.record_id, p.name,
             |  CAST(COALESCE(l.component, p.record_id) AS BIGINT)
             |    AS entity_id,
             |  CAST(COALESCE(sz.csize, 1) AS BIGINT) AS entity_size
             |FROM pool p LEFT JOIN lbl l ON l.record_id = p.record_id
             |  LEFT JOIN sz ON sz.component = l.component
             |ORDER BY p.record_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Krippendorff's alpha (Profile.krippendorffAlpha — Krippendorff
    // 1970/2004; the missing-data agreement coefficient): q235's three
    // heuristic raters with DELIBERATE deterministic missingness (the
    // token rater skips doc_id%7=0, the stopword rater skips
    // doc_id%11=0) — exactly the ragged frame fleissKappa rejects.
    // Per-unit D_o terms are one IEEE division of exact integers
    // routed through DECIMAL(28,12); N²−Σn_c² rides DECIMAL(38,0)/
    // HUGEINT over the VARCHAR bridge; α is a fixed IEEE sequence.
    QuerySpec(
      "q243_krippendorff_alpha",
      (s, dir) => {
        val st = graft.functions.ArrayMath.textStats(col("text"))
        val base = Tables.documents(s, dir).select(col("doc_id"),
          col("n_chars"), st.getField("n_tokens").as("__nt"),
          st.getField("n_stop").as("__ns"))
        def tier(c: org.apache.spark.sql.Column, lo: Int, hi: Int) =
          when(c < lo, "short").when(c < hi, "mid").otherwise("long")
        val rated = base.select(col("doc_id"),
            tier(col("n_chars"), 220, 380).as("label"))
          .unionByName(base.filter(col("doc_id") % 7 =!= 0)
            .select(col("doc_id"), tier(col("__nt"), 40, 70).as("label")))
          .unionByName(base.filter(col("doc_id") % 11 =!= 0)
            .select(col("doc_id"), tier(col("__ns"), 12, 20).as("label")))
        graft.ops.Profile.krippendorffAlpha(rated, "doc_id", "label")
      },
      Some(s"""WITH t AS (
             |  SELECT doc_id, CASE WHEN n_chars < 220 THEN 'short'
             |    WHEN n_chars < 380 THEN 'mid' ELSE 'long' END AS k
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id, CASE WHEN len($toksSql) < 40 THEN 'short'
             |    WHEN len($toksSql) < 70 THEN 'mid' ELSE 'long' END
             |  FROM documents WHERE doc_id % 7 <> 0
             |  UNION ALL
             |  SELECT doc_id,
             |    CASE WHEN len(list_filter($toksSql,
             |        x -> lower(x) IN ($stops))) < 12 THEN 'short'
             |      WHEN len(list_filter($toksSql,
             |        x -> lower(x) IN ($stops))) < 20 THEN 'mid'
             |      ELSE 'long' END
             |  FROM documents WHERE doc_id % 11 <> 0),
             |c AS (SELECT doc_id, k, COUNT(*) AS n FROM t GROUP BY 1, 2),
             |un AS (
             |  SELECT doc_id, SUM(n) AS m, SUM(n * n) AS sq
             |  FROM c GROUP BY 1 HAVING SUM(n) >= 2),
             |dd AS (
             |  SELECT
             |    CAST(CAST(COALESCE(SUM(CAST(
             |      CAST(CAST(CAST(m AS HUGEINT) * m - sq AS VARCHAR)
             |        AS DOUBLE) / CAST(m - 1 AS DOUBLE)
             |      AS DECIMAL(28,12))), 0) AS VARCHAR) AS DOUBLE) AS do_,
             |    COUNT(*) AS nu
             |  FROM un),
             |mg AS (
             |  SELECT k, SUM(n) AS nc
             |  FROM c JOIN un USING (doc_id) GROUP BY k),
             |m2 AS (
             |  SELECT CAST(COALESCE(SUM(nc), 0) AS BIGINT) AS N,
             |    COALESCE(SUM(CAST(nc AS HUGEINT) * nc), 0) AS sqc,
             |    COUNT(*) AS K
             |  FROM mg)
             |SELECT CAST(nu AS BIGINT) AS n_units, N AS n_ratings,
             |  CAST(K AS BIGINT) AS n_categories, do_ AS d_o,
             |  CASE WHEN CAST(N AS HUGEINT) * N <> sqc THEN
             |    1.0 - (CAST(N - 1 AS DOUBLE) * do_)
             |      / CAST(CAST(CAST(N AS HUGEINT) * N - sqc AS VARCHAR)
             |        AS DOUBLE) END AS alpha
             |FROM dd, m2""".stripMargin)),

    // ------------------------------------------------------------------
    // Exact-allocation stratified sampling (Curation.stratifiedSample —
    // Cochran §5 proportional allocation): exactly
    // max(⌊N_lang·0.2⌋, min(5, N_lang)) docs per language, the lowest
    // md5-rank rows — deterministic SIZES, not Bernoulli expectations
    // (the assignSplit contrast). The readout pins MEMBERSHIP, not just
    // counts: the sampled doc_id sum is an exact integer any member
    // swap would move. The in-band verdict asserts the allocation rule.
    QuerySpec(
      "q244_stratified_sample",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val samp = graft.ops.Curation.stratifiedSample(
          d, "lang", "doc_id", 0.2, minPerStratum = 5)
        val tot = d.filter(col("doc_id").isNotNull)
          .groupBy("lang").agg(count(lit(1)).as("n_total"))
        samp.groupBy("lang")
          .agg(count(lit(1)).as("n_sampled"),
            sum(col("doc_id")).cast("long").as("sum_sampled_ids"))
          .join(tot, Seq("lang"))
          .withColumn("allocation_ok",
            col("n_sampled") === greatest(
              floor(col("n_total").cast("double") * 0.2).cast("long"),
              least(lit(5L), col("n_total"))))
          .select(col("lang"), col("n_total"), col("n_sampled"),
            col("sum_sampled_ids"), col("allocation_ok"))
          .orderBy("lang")
      },
      Some("""WITH r AS (
             |  SELECT lang, doc_id,
             |    ROW_NUMBER() OVER (PARTITION BY lang
             |      ORDER BY md5(CAST(doc_id AS VARCHAR)),
             |        CAST(doc_id AS VARCHAR)) AS rk,
             |    COUNT(*) OVER (PARTITION BY lang) AS nh
             |  FROM documents WHERE doc_id IS NOT NULL),
             |s AS (
             |  SELECT lang, doc_id, nh FROM r
             |  WHERE rk <= GREATEST(
             |    CAST(FLOOR(CAST(nh AS DOUBLE) * 0.2) AS BIGINT),
             |    LEAST(5, nh))),
             |t AS (SELECT lang, COUNT(*) AS n_total FROM documents
             |      WHERE doc_id IS NOT NULL GROUP BY 1)
             |SELECT s.lang, CAST(t.n_total AS BIGINT) AS n_total,
             |  CAST(COUNT(*) AS BIGINT) AS n_sampled,
             |  CAST(SUM(s.doc_id) AS BIGINT) AS sum_sampled_ids,
             |  COUNT(*) = GREATEST(
             |    CAST(FLOOR(CAST(MAX(s.nh) AS DOUBLE) * 0.2) AS BIGINT),
             |    LEAST(5, MAX(s.nh))) AS allocation_ok
             |FROM s JOIN t ON t.lang = s.lang
             |GROUP BY s.lang, t.n_total
             |ORDER BY s.lang""".stripMargin)),

    // ------------------------------------------------------------------
    // Difference-in-differences (EventOps.diffInDiff — the pre-period-
    // controlled experiment readout next to q202's plain A/B): per-user
    // purchase counts split at the 2024-01-16 cutover, md5-hash arms,
    // effect = (T̄_post − T̄_pre) − (C̄_post − C̄_pre) netting out
    // persistent arm imbalance. Four means over exact integer sums with
    // shared panel denominators — a fixed IEEE sequence both engines
    // replay.
    QuerySpec(
      "q245_diff_in_diff",
      (s, dir) => graft.ops.EventOps.diffInDiff(
        Tables.events(s, dir)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us")),
        "user_id", "event_type", "us", metricType = "purchase",
        cutoverUs = 1705363200000000L),
      Some("""WITH pu AS (
             |  SELECT user_id,
             |    CAST(SUM(CASE WHEN event_type = 'purchase'
             |      AND epoch_us(ts) < 1705363200000000
             |      THEN 1 ELSE 0 END) AS BIGINT) AS pre,
             |    CAST(SUM(CASE WHEN event_type = 'purchase'
             |      AND epoch_us(ts) >= 1705363200000000
             |      THEN 1 ELSE 0 END) AS BIGINT) AS post
             |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
             |a AS (
             |  SELECT CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)),
             |      1, 8)) AS BIGINT) % 2 AS arm, pre, post
             |  FROM pu),
             |s AS (
             |  SELECT
             |    CAST(COALESCE(SUM(CASE WHEN arm = 0 THEN 1 END), 0)
             |      AS BIGINT) AS n_control,
             |    CAST(COALESCE(SUM(CASE WHEN arm = 0 THEN pre END), 0)
             |      AS BIGINT) AS pc,
             |    CAST(COALESCE(SUM(CASE WHEN arm = 0 THEN post END), 0)
             |      AS BIGINT) AS qc,
             |    CAST(COALESCE(SUM(CASE WHEN arm = 1 THEN 1 END), 0)
             |      AS BIGINT) AS n_treatment,
             |    CAST(COALESCE(SUM(CASE WHEN arm = 1 THEN pre END), 0)
             |      AS BIGINT) AS pt,
             |    CAST(COALESCE(SUM(CASE WHEN arm = 1 THEN post END), 0)
             |      AS BIGINT) AS qt
             |  FROM a)
             |SELECT n_control, n_treatment,
             |  CASE WHEN n_control > 0 THEN
             |    CAST(pc AS DOUBLE) / CAST(n_control AS DOUBLE) END
             |    AS mean_pre_control,
             |  CASE WHEN n_control > 0 THEN
             |    CAST(qc AS DOUBLE) / CAST(n_control AS DOUBLE) END
             |    AS mean_post_control,
             |  CASE WHEN n_treatment > 0 THEN
             |    CAST(pt AS DOUBLE) / CAST(n_treatment AS DOUBLE) END
             |    AS mean_pre_treatment,
             |  CASE WHEN n_treatment > 0 THEN
             |    CAST(qt AS DOUBLE) / CAST(n_treatment AS DOUBLE) END
             |    AS mean_post_treatment,
             |  CASE WHEN n_control > 0 AND n_treatment > 0 THEN
             |    (CAST(qt AS DOUBLE) / CAST(n_treatment AS DOUBLE)
             |      - CAST(pt AS DOUBLE) / CAST(n_treatment AS DOUBLE))
             |    - (CAST(qc AS DOUBLE) / CAST(n_control AS DOUBLE)
             |      - CAST(pc AS DOUBLE) / CAST(n_control AS DOUBLE))
             |  END AS did_effect
             |FROM s""".stripMargin)),

    // ------------------------------------------------------------------
    // Spearman rank correlation (Profile.spearmanCorrelation): monotone
    // association between quantity and extended price. Doubled midranks
    // keep the rank plane integer (mr2 = 2·before + cnt + 1 =
    // 2·RANK + cnt − 1), the five moments are exact HUGEINT/DECIMAL
    // sums, and ρ is one shared IEEE sequence — the Spark side ranks via
    // the distributed prefix scan, the oracle via window RANK; same
    // numbers, no single-task global sort on the Spark side.
    QuerySpec(
      "q246_spearman",
      (s, dir) => graft.ops.Profile.spearmanCorrelation(
        Tables.lineitem(s, dir), "l_quantity", "l_extendedprice"),
      Some("""WITH p AS (
             |  SELECT CAST(l_quantity AS DOUBLE) AS x,
             |         CAST(l_extendedprice AS DOUBLE) AS y
             |  FROM lineitem
             |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
             |r AS (
             |  SELECT CAST(2*RANK() OVER (ORDER BY x)
             |           + COUNT(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS rx,
             |         CAST(2*RANK() OVER (ORDER BY y)
             |           + COUNT(*) OVER (PARTITION BY y) - 1 AS BIGINT) AS ry
             |  FROM p),
             |m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(CAST(SUM(CAST(rx AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sx,
             |    CAST(CAST(SUM(CAST(ry AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sy,
             |    CAST(CAST(SUM(CAST(rx AS HUGEINT)*ry) AS VARCHAR) AS DOUBLE) AS sxy,
             |    CAST(CAST(SUM(CAST(rx AS HUGEINT)*rx) AS VARCHAR) AS DOUBLE) AS sxx,
             |    CAST(CAST(SUM(CAST(ry AS HUGEINT)*ry) AS VARCHAR) AS DOUBLE) AS syy
             |  FROM r)
             |SELECT n,
             |  CASE WHEN CAST(n AS DOUBLE)*sxx - sx*sx > 0
             |        AND CAST(n AS DOUBLE)*syy - sy*sy > 0 THEN
             |    (CAST(n AS DOUBLE)*sxy - sx*sy)
             |      / sqrt((CAST(n AS DOUBLE)*sxx - sx*sx)
             |             * (CAST(n AS DOUBLE)*syy - sy*sy))
             |  END AS spearman_rho
             |FROM m""".stripMargin)),

    // ------------------------------------------------------------------
    // Wilcoxon–Mann–Whitney rank-sum test (Profile.rankSumTest): are
    // treatment-arm purchase amounts stochastically larger? The
    // nonparametric sibling of q202's mean-based A/B — doubled-midrank
    // U as an exact integer, tie-corrected normal z, effect size =
    // P(a>b)+½P(=) (exactly ROC AUC of arm membership).
    QuerySpec(
      "q247_ranksum_ab",
      (s, dir) => graft.ops.Profile.rankSumTest(
        Tables.events(s, dir).filter(col("event_type") === "purchase")
          .select(graft.ops.Curation.hashBucket(col("user_id"), 2)
            .cast("string").as("arm"), col("value")),
        "arm", "value", "0", "1"),
      Some("""WITH v AS (
             |  SELECT CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)),
             |      1, 8)) AS BIGINT) % 2 AS arm,
             |    CAST(value AS DOUBLE) AS val
             |  FROM events
             |  WHERE event_type = 'purchase' AND value IS NOT NULL
             |    AND user_id IS NOT NULL),
             |g AS (
             |  SELECT val,
             |    SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS na,
             |    SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nb
             |  FROM v GROUP BY 1),
             |c AS (
             |  SELECT *, COALESCE(SUM(na + nb) OVER (ORDER BY val
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    AS bef
             |  FROM g),
             |a AS (
             |  SELECT CAST(SUM(na) AS BIGINT) AS n_a,
             |    CAST(SUM(nb) AS BIGINT) AS n_b,
             |    CAST(CAST(SUM(CAST(na AS HUGEINT)
             |      * (2*bef + na + nb + 1))
             |      - CAST(SUM(na) AS HUGEINT)*(SUM(na) + 1) AS VARCHAR)
             |      AS DOUBLE) AS u2,
             |    CAST(CAST(SUM(CAST(na + nb AS HUGEINT)*(na + nb)*(na + nb)
             |      - (na + nb)) AS VARCHAR) AS DOUBLE) AS ties
             |  FROM c),
             |f AS (
             |  SELECT n_a, n_b, u2 / 2.0 AS u_a,
             |    CASE WHEN n_a > 0 AND n_b > 0 THEN
             |      u2 / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
             |    END AS effect_size,
             |    CASE WHEN n_a > 0 AND n_b > 0
             |      AND CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
             |        * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
             |           - ties / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
             |             * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0)))
             |        > 0 THEN
             |      (u2 - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
             |        / (2.0 * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
             |          / 12.0
             |          * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
             |             - ties / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
             |               * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
             |                  - 1.0)))))
             |    END AS z
             |  FROM a)
             |SELECT n_a, n_b, u_a, effect_size, z,
             |  CASE WHEN z IS NOT NULL THEN ABS(z) > 1.959963984540054 END
             |    AS reject_null
             |FROM f""".stripMargin)),

    // ------------------------------------------------------------------
    // AMS F2 sketch (Sketches.amsSketch/amsEstimate, Alon–Matias–Szegedy
    // STOC'96): per event type, the second frequency moment of user_id —
    // the self-join size that prices a shuffle on that key. The oracle
    // replays the REGISTERS (md5 sign bits, exact integer sums) and the
    // exact-integer median-of-squares, so the estimate itself
    // hash-matches; f2_exact rides alongside as the honest reference.
    QuerySpec(
      "q248_ams_f2",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(
          col("event_type"), col("user_id"))
        val est = graft.ops.Sketches.amsEstimate(
          graft.ops.Sketches.amsSketch(ev, Seq("event_type"), "user_id", 63),
          Seq("event_type"), 63)
        val exact = ev.filter(col("user_id").isNotNull)
          .groupBy("event_type", "user_id").agg(count(lit(1)).as("__f"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_users"),
            sum(col("__f").cast("decimal(38,0)") * col("__f"))
              .cast("string").cast("double").as("f2_exact"))
        exact.join(est, "event_type")
          .select(col("event_type"), col("n_users"), col("f2_exact"),
            col("f2_estimate"))
          .orderBy("event_type")
      },
      Some("""WITH vc AS (
             |  SELECT event_type, CAST(user_id AS VARCHAR) AS v,
             |    COUNT(*) AS f
             |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
             |ctr AS (SELECT UNNEST(generate_series(0, 62)) AS c),
             |reg AS (
             |  SELECT event_type, c AS counter,
             |    CAST(SUM(f * (CASE WHEN
             |      CAST(('0x' || substring(md5(CAST(c AS VARCHAR) || ':' || v),
             |        1, 12)) AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END))
             |      AS BIGINT) AS register
             |  FROM vc CROSS JOIN ctr GROUP BY 1, 2),
             |med AS (
             |  SELECT event_type,
             |    CAST(CAST(CAST(register AS HUGEINT) * register AS VARCHAR)
             |      AS DOUBLE) AS f2_estimate,
             |    ROW_NUMBER() OVER (PARTITION BY event_type
             |      ORDER BY CAST(register AS HUGEINT) * register, counter)
             |      AS rk
             |  FROM reg),
             |ex AS (
             |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
             |    CAST(CAST(SUM(CAST(f AS HUGEINT) * f) AS VARCHAR) AS DOUBLE)
             |      AS f2_exact
             |  FROM vc GROUP BY 1)
             |SELECT e.event_type, e.n_users, e.f2_exact, m.f2_estimate
             |FROM ex e JOIN med m USING (event_type)
             |WHERE m.rk = 32 ORDER BY e.event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // Link prediction (WebGraph.linkPrediction, Liben-Nowell & Kleinberg
    // CIKM'03) on the planted host graph: top-50 non-edges by
    // Adamic–Adar. Common-neighbor counts exact, Jaccard one division,
    // AA/RA per-term DECIMAL(28,12) order-independent sums — the whole
    // scored frame replays term-for-term.
    QuerySpec(
      "q249_link_prediction",
      (s, dir) => {
        val pages = Tables.documents(s, dir).select(
          host97.as("src_host"), htmlFixture.as("html"))
        val edges = graft.ops.Html.linkGraph(pages, "src_host", "html")
        graft.ops.WebGraph.linkPrediction(
          edges, "src_host", "dst_host", topK = 50)
      },
      Some("WITH " + linkEdgesCte.stripMargin + """,
             |e0 AS (
             |  SELECT DISTINCT src_host AS s, dst_host AS d FROM l
             |  WHERE src_host IS NOT NULL AND dst_host IS NOT NULL
             |    AND src_host <> dst_host),
             |nbr AS (
             |  SELECT s AS node, d AS nb FROM e0
             |  UNION
             |  SELECT d AS node, s AS nb FROM e0),
             |deg AS (SELECT node, COUNT(*) AS deg FROM nbr GROUP BY 1),
             |cand AS (
             |  SELECT a.node AS node_a, b.node AS node_b,
             |    CAST(COUNT(*) AS BIGINT) AS common_neighbors,
             |    SUM(CAST(1.0 / LN(CAST(dz.deg AS DOUBLE))
             |      AS DECIMAL(28,12))) AS aa,
             |    SUM(CAST(1.0 / CAST(dz.deg AS DOUBLE)
             |      AS DECIMAL(28,12))) AS ra
             |  FROM nbr a
             |  JOIN nbr b ON a.nb = b.nb AND a.node < b.node
             |  JOIN deg dz ON dz.node = a.nb
             |  GROUP BY 1, 2),
             |ne AS (
             |  SELECT * FROM cand c
             |  WHERE NOT EXISTS (SELECT 1 FROM nbr x
             |    WHERE LEAST(x.node, x.nb) = c.node_a
             |      AND GREATEST(x.node, x.nb) = c.node_b))
             |SELECT ne.node_a, ne.node_b, ne.common_neighbors,
             |  CAST(ne.common_neighbors AS DOUBLE)
             |    / CAST(da.deg + db.deg - ne.common_neighbors AS DOUBLE)
             |    AS jaccard,
             |  CAST(CAST(ne.aa AS VARCHAR) AS DOUBLE) AS adamic_adar,
             |  CAST(CAST(ne.ra AS VARCHAR) AS DOUBLE)
             |    AS resource_allocation
             |FROM ne
             |JOIN deg da ON da.node = ne.node_a
             |JOIN deg db ON db.node = ne.node_b
             |ORDER BY ne.aa DESC, ne.node_a, ne.node_b
             |LIMIT 50""".stripMargin)),

    // ------------------------------------------------------------------
    // CUPED-adjusted A/B (EventOps.cupedAb, Deng–Xu–Kohavi–Walker
    // WSDM'13): q245's panel with the pre-period count as a regression
    // covariate — θ = Cov(X,Y)/Var(X) off exact integer moments, the
    // adjusted effect and the ρ² variance-reduction factor, all one
    // shared IEEE sequence.
    QuerySpec(
      "q250_cuped_ab",
      (s, dir) => graft.ops.EventOps.cupedAb(
        Tables.events(s, dir)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us")),
        "user_id", "event_type", "us", metricType = "purchase",
        cutoverUs = 1705363200000000L),
      Some("""WITH pu AS (
             |  SELECT user_id,
             |    CAST(SUM(CASE WHEN event_type = 'purchase'
             |      AND epoch_us(ts) < 1705363200000000
             |      THEN 1 ELSE 0 END) AS BIGINT) AS x,
             |    CAST(SUM(CASE WHEN event_type = 'purchase'
             |      AND epoch_us(ts) >= 1705363200000000
             |      THEN 1 ELSE 0 END) AS BIGINT) AS y
             |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |  GROUP BY 1),
             |a AS (
             |  SELECT CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)),
             |      1, 8)) AS BIGINT) % 2 AS arm, x, y
             |  FROM pu),
             |s AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(CAST(COALESCE(SUM(CAST(x AS HUGEINT)), 0) AS VARCHAR)
             |      AS DOUBLE) AS sx,
             |    CAST(CAST(COALESCE(SUM(CAST(y AS HUGEINT)), 0) AS VARCHAR)
             |      AS DOUBLE) AS sy,
             |    CAST(CAST(COALESCE(SUM(CAST(x AS HUGEINT)*y), 0) AS VARCHAR)
             |      AS DOUBLE) AS sxy,
             |    CAST(CAST(COALESCE(SUM(CAST(x AS HUGEINT)*x), 0) AS VARCHAR)
             |      AS DOUBLE) AS sxx,
             |    CAST(CAST(COALESCE(SUM(CAST(y AS HUGEINT)*y), 0) AS VARCHAR)
             |      AS DOUBLE) AS syy,
             |    CAST(COALESCE(SUM(CASE WHEN arm = 0 THEN 1 END), 0)
             |      AS BIGINT) AS n_control,
             |    CAST(CAST(COALESCE(SUM(CASE WHEN arm = 0
             |      THEN CAST(x AS HUGEINT) END), 0) AS VARCHAR) AS DOUBLE)
             |      AS xc,
             |    CAST(CAST(COALESCE(SUM(CASE WHEN arm = 0
             |      THEN CAST(y AS HUGEINT) END), 0) AS VARCHAR) AS DOUBLE)
             |      AS yc,
             |    CAST(COALESCE(SUM(CASE WHEN arm = 1 THEN 1 END), 0)
             |      AS BIGINT) AS n_treatment,
             |    CAST(CAST(COALESCE(SUM(CASE WHEN arm = 1
             |      THEN CAST(x AS HUGEINT) END), 0) AS VARCHAR) AS DOUBLE)
             |      AS xt,
             |    CAST(CAST(COALESCE(SUM(CASE WHEN arm = 1
             |      THEN CAST(y AS HUGEINT) END), 0) AS VARCHAR) AS DOUBLE)
             |      AS yt
             |  FROM a),
             |t AS (
             |  SELECT *,
             |    CAST(n AS DOUBLE)*sxy - sx*sy AS covn,
             |    CAST(n AS DOUBLE)*sxx - sx*sx AS varxn,
             |    CAST(n AS DOUBLE)*syy - sy*sy AS varyn,
             |    CASE WHEN CAST(n AS DOUBLE)*sxx - sx*sx > 0 THEN
             |      (CAST(n AS DOUBLE)*sxy - sx*sy)
             |        / (CAST(n AS DOUBLE)*sxx - sx*sx)
             |    ELSE 0.0 END AS theta
             |  FROM s)
             |SELECT n_control, n_treatment,
             |  CASE WHEN n > 0 THEN theta END AS theta,
             |  CASE WHEN n > 0 AND varxn > 0 AND varyn > 0 THEN
             |    (covn * covn) / (varxn * varyn)
             |  WHEN n > 0 THEN 0.0 END AS var_reduction,
             |  CASE WHEN n_control > 0 AND n_treatment > 0 THEN
             |    yt / CAST(n_treatment AS DOUBLE)
             |      - yc / CAST(n_control AS DOUBLE)
             |  END AS effect_raw,
             |  CASE WHEN n_control > 0 AND n_treatment > 0 THEN
             |    (yt / CAST(n_treatment AS DOUBLE)
             |      - theta * (xt / CAST(n_treatment AS DOUBLE)
             |        - sx / CAST(n AS DOUBLE)))
             |    - (yc / CAST(n_control AS DOUBLE)
             |      - theta * (xc / CAST(n_control AS DOUBLE)
             |        - sx / CAST(n AS DOUBLE)))
             |  END AS effect_cuped
             |FROM t""".stripMargin)),

    // ------------------------------------------------------------------
    // Kendall τ-b (Profile.kendallTau): do days with more views also see
    // more purchases? Concordant/discordant pair mass off the distinct
    // (x,y)-combo plane — exact HUGEINT/DECIMAL counts, tie-corrected
    // τ-b as one shared IEEE sequence. The quadratic combo join rides
    // the bounded DAY plane, the intended contract.
    QuerySpec(
      "q251_kendall_tau",
      (s, dir) => graft.ops.Profile.kendallTau(
        Tables.events(s, dir)
          .select(to_date(col("ts")).as("day"), col("event_type"))
          .filter(col("day").isNotNull)
          .groupBy("day")
          .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("x"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("y")),
        "x", "y"),
      Some("""WITH d AS (
             |  SELECT CAST(ts AS DATE) AS day,
             |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
             |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |      AS y
             |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
             |co AS (
             |  SELECT CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y,
             |    COUNT(*) AS c
             |  FROM d GROUP BY 1, 2),
             |cd AS (
             |  SELECT
             |    CAST(CAST(COALESCE(SUM(CASE WHEN a.y < b.y
             |      THEN CAST(a.c AS HUGEINT) * b.c END), 0) AS VARCHAR)
             |      AS DOUBLE) AS cc,
             |    CAST(CAST(COALESCE(SUM(CASE WHEN a.y > b.y
             |      THEN CAST(a.c AS HUGEINT) * b.c END), 0) AS VARCHAR)
             |      AS DOUBLE) AS dd
             |  FROM co a JOIN co b ON a.x < b.x),
             |tx AS (
             |  SELECT CAST(CAST(COALESCE(SUM(CAST(m AS HUGEINT) * (m - 1)),
             |    0) AS VARCHAR) AS DOUBLE) AS t2
             |  FROM (SELECT SUM(c) AS m FROM co GROUP BY x)),
             |ty AS (
             |  SELECT CAST(CAST(COALESCE(SUM(CAST(m AS HUGEINT) * (m - 1)),
             |    0) AS VARCHAR) AS DOUBLE) AS t2
             |  FROM (SELECT SUM(c) AS m FROM co GROUP BY y)),
             |nn AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n FROM co)
             |SELECT nn.n, cd.cc AS concordant, cd.dd AS discordant,
             |  CASE WHEN (CAST(nn.n AS DOUBLE) * (CAST(nn.n AS DOUBLE) - 1.0)
             |      - tx.t2) * (CAST(nn.n AS DOUBLE)
             |        * (CAST(nn.n AS DOUBLE) - 1.0) - ty.t2) > 0 THEN
             |    2.0 * (cd.cc - cd.dd)
             |      / sqrt((CAST(nn.n AS DOUBLE) * (CAST(nn.n AS DOUBLE) - 1.0)
             |          - tx.t2) * (CAST(nn.n AS DOUBLE)
             |            * (CAST(nn.n AS DOUBLE) - 1.0) - ty.t2))
             |  END AS tau_b
             |FROM nn, cd, tx, ty""".stripMargin)),

    // ------------------------------------------------------------------
    // Pettitt changepoint test (Profile.pettittTest): did the daily
    // purchase level shift, and on which day? U_t off the doubled-
    // midrank identity (exact integers, no pair join), K = max|U_t|,
    // the classic 2·exp(−6K²/(n³+n²)) significance gate. Spark ranks by
    // distributed prefix scan; the oracle replays with window cumsums.
    QuerySpec(
      "q252_pettitt",
      (s, dir) => graft.ops.Profile.pettittTest(
        Tables.events(s, dir)
          .filter(col("event_type") === "purchase")
          .select(to_date(col("ts")).as("day"))
          .filter(col("day").isNotNull)
          .groupBy("day")
          .agg(count(lit(1)).as("cnt"))
          .select(datediff(col("day"), lit("1970-01-01")).cast("long")
            .as("t"), col("cnt")),
        "t", "cnt"),
      Some("""WITH s0 AS (
             |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
             |      AS t,
             |    COUNT(*) AS cnt
             |  FROM events
             |  WHERE event_type = 'purchase' AND ts IS NOT NULL
             |  GROUP BY 1),
             |r AS (
             |  SELECT CAST(t AS DOUBLE) AS t,
             |    CAST(2*RANK() OVER (ORDER BY cnt)
             |      + COUNT(*) OVER (PARTITION BY cnt) - 1 AS BIGINT) AS mr2,
             |    COUNT(*) OVER () AS n
             |  FROM s0),
             |u AS (
             |  SELECT t,
             |    SUM(mr2 - 1 - n) OVER (ORDER BY t
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ut,
             |    n, MAX(t) OVER () AS tmax
             |  FROM r),
             |best AS (
             |  SELECT CAST(n AS BIGINT) AS n, ABS(ut) AS k, t
             |  FROM u WHERE t <> tmax
             |  ORDER BY ABS(ut) DESC, t LIMIT 1)
             |SELECT n, CAST(k AS BIGINT) AS k_stat, t AS change_at,
             |  LEAST(1.0, 2.0 * exp(-6.0 * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
             |    / (CAST(n AS DOUBLE) * n * n + CAST(n AS DOUBLE) * n)))
             |    AS p_value,
             |  2.0 * exp(-6.0 * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
             |    / (CAST(n AS DOUBLE) * n * n + CAST(n AS DOUBLE) * n))
             |    < 0.05 AS significant
             |FROM best""".stripMargin)),

    // ------------------------------------------------------------------
    // Gini concentration (Profile.giniConcentration): how concentrated
    // is event volume across users? Rank-weighted sums per tie block off
    // the prefix-scan plane — exact DECIMAL arithmetic, one IEEE
    // readout. The scalar companion to q181's key-skew table when
    // deciding whether a shuffle key needs salting.
    QuerySpec(
      "q253_gini_users",
      (s, dir) => graft.ops.Profile.giniConcentration(
        Tables.events(s, dir)
          .filter(col("user_id").isNotNull)
          .groupBy("user_id").agg(count(lit(1)).as("cnt")),
        "cnt"),
      Some("""WITH pu AS (
             |  SELECT user_id, COUNT(*) AS c FROM events
             |  WHERE user_id IS NOT NULL GROUP BY 1),
             |pl AS (SELECT c AS v, COUNT(*) AS n FROM pu GROUP BY 1),
             |cu AS (
             |  SELECT v, n,
             |    COALESCE(SUM(n) OVER (ORDER BY v
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS bef
             |  FROM pl),
             |agg AS (
             |  SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n,
             |    CAST(CAST(COALESCE(SUM(CAST(v AS HUGEINT) * n), 0)
             |      AS VARCHAR) AS DOUBLE) AS sx,
             |    CAST(CAST(COALESCE(SUM(CAST(v AS HUGEINT) * n
             |      * (2*bef + n + 1)), 0) AS VARCHAR) AS DOUBLE) AS s2
             |  FROM cu)
             |SELECT n, sx AS total,
             |  CASE WHEN sx > 0 THEN
             |    (s2 - (CAST(n AS DOUBLE) + 1.0) * sx)
             |      / (CAST(n AS DOUBLE) * sx)
             |  END AS gini
             |FROM agg""".stripMargin)),

    // ------------------------------------------------------------------
    // Theil–Sen robust trend (Profile.theilSenSlope): events-per-day
    // growth slope that one anomalous day cannot drag (the robust
    // sibling of q226's OLS). Median pair slope and median-residual
    // intercept are EXACT order statistics on deterministic IEEE
    // divisions — the chosen values replay bit-for-bit.
    QuerySpec(
      "q254_theil_sen",
      (s, dir) => graft.ops.Profile.theilSenSlope(
        Tables.events(s, dir)
          .select(to_date(col("ts")).as("day"))
          .filter(col("day").isNotNull)
          .groupBy("day").agg(count(lit(1)).as("cnt"))
          .select(datediff(col("day"), lit("1970-01-01")).cast("long")
            .as("t"), col("cnt")),
        "t", "cnt"),
      Some("""WITH d AS (
             |  SELECT CAST(CAST(CAST(ts AS DATE) - DATE '1970-01-01'
             |      AS BIGINT) AS DOUBLE) AS x,
             |    CAST(COUNT(*) AS DOUBLE) AS y
             |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
             |p AS (
             |  SELECT a.x AS xa, b.x AS xb, (b.y - a.y) / (b.x - a.x) AS m
             |  FROM d a JOIN d b ON a.x < b.x),
             |np AS (SELECT COUNT(*) AS n_pairs FROM p),
             |nd AS (SELECT COUNT(*) AS n_points FROM d),
             |med AS (
             |  SELECT m AS slope FROM (
             |    SELECT m, ROW_NUMBER() OVER (ORDER BY m, xa, xb) AS rk
             |    FROM p) q, np
             |  WHERE q.rk = (np.n_pairs + 1) // 2),
             |res AS (
             |  SELECT med.slope, d.y - med.slope * d.x AS r
             |  FROM d, med)
             |SELECT CAST(nd.n_points AS BIGINT) AS n_points,
             |  CAST(np.n_pairs AS BIGINT) AS n_pairs,
             |  q.slope, q.r AS intercept
             |FROM (
             |  SELECT slope, r, ROW_NUMBER() OVER (ORDER BY r) AS rk
             |  FROM res) q, nd, np
             |WHERE q.rk = (nd.n_points + 1) // 2""".stripMargin)),

    // ------------------------------------------------------------------
    // Signed-value HDR sketch (Sketches.hdrSketchSigned — the r15
    // verdict's affine-adapter ask): p50/p90 of SIGNED day-over-day
    // event-count deltas per event_type, through the declared affine
    // map grid = floor(v·1) with lower bound −128 (daily deltas at the
    // fixture SFs live in [−115, 90]; a violation raises in-plan, never
    // silently drops). The two date-parity shards are sketched
    // independently and merged — the per-day rollup lane a 100 TB
    // pipeline runs — and the merge is bit-exact vs a direct build, so
    // the DuckDB oracle replays the direct build. Read-back reports the
    // EXACT RATIONAL (value_num / value_den): no decimal division in
    // either engine.
    QuerySpec(
      "q255_hdr_signed_deltas",
      (s, dir) => {
        val m = 32; val scale = 1L; val off = -128L
        val w = Window.partitionBy("event_type").orderBy("day")
        val deltas = Tables.events(s, dir)
          .select(col("event_type"), to_date(col("ts")).as("day"))
          .filter(col("day").isNotNull)
          .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
          .withColumn("delta", col("cnt") - lag(col("cnt"), 1).over(w))
          .filter(col("delta").isNotNull)
          .withColumn("par",
            pmod(datediff(col("day"), lit("1970-01-01")), lit(2)))
        def shard(p: Int) = graft.ops.Sketches.hdrSketchSigned(
          deltas.filter(col("par") === p), Seq("event_type"), "delta",
          m, scale, off)
        val sk = graft.ops.Sketches
          .hdrMergeSigned(Seq("event_type"), shard(0), shard(1))
          .localCheckpoint() // bucket plane feeds two quantile reads
        def q(num: Long, den: Long, name: String) =
          graft.ops.Sketches
            .hdrQuantileSigned(sk, Seq("event_type"), m, num, den)
            .select(col("event_type"), col("n_total"),
              col("value_num").as(name), col("value_den"))
        q(1, 2, "p50_delta_num")
          .join(q(9, 10, "p90_delta_num").drop("n_total", "value_den"),
            "event_type")
          .orderBy("event_type")
      },
      Some {
        def est(b: String) =
          s"CAST((1::BIGINT << CAST($b // 32 AS INT)) + (($b % 32) * " +
            s"(1::BIGINT << CAST($b // 32 AS INT))) // 32 AS BIGINT)"
        s"""WITH d AS (
           |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
           |l AS (
           |  SELECT event_type,
           |    c - LAG(c) OVER (PARTITION BY event_type ORDER BY day)
           |      AS delta
           |  FROM d),
           |v AS (SELECT event_type, CAST(delta + 129 AS BIGINT) AS s
           |      FROM l WHERE delta IS NOT NULL),
           |b AS (
           |  SELECT event_type,
           |    CAST(length(bin(s)) - 1 AS BIGINT) * 32
           |      + ((s - (1::BIGINT << CAST(length(bin(s)) - 1 AS INT)))
           |          * 32)
           |        // (1::BIGINT << CAST(length(bin(s)) - 1 AS INT))
           |      AS bucket
           |  FROM v),
           |c AS (SELECT event_type, bucket, COUNT(*) AS cnt
           |      FROM b GROUP BY 1, 2),
           |r AS (
           |  SELECT event_type, bucket,
           |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket
           |      ROWS UNBOUNDED PRECEDING) AS cum,
           |    SUM(cnt) OVER (PARTITION BY event_type) AS n
           |  FROM c),
           |q AS (
           |  SELECT event_type, MAX(n) AS n,
           |    MIN(CASE WHEN cum * 2 >= n * 1 THEN bucket END) AS b50,
           |    MIN(CASE WHEN cum * 10 >= n * 9 THEN bucket END) AS b90
           |  FROM r GROUP BY event_type)
           |SELECT event_type, CAST(n AS BIGINT) AS n_total,
           |  ${est("b50")} - 129 AS p50_delta_num,
           |  CAST(1 AS BIGINT) AS value_den,
           |  ${est("b90")} - 129 AS p90_delta_num
           |FROM q ORDER BY event_type""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Sampled betweenness centrality (WebGraph.betweennessCentrality —
    // Brandes 2001 restricted to the md5-order first-16 source sample,
    // the r15 verdict's path-centrality ask): which hosts sit on the
    // most shortest paths of the planted link graph? Forward
    // multi-source BFS carries exact integer path counts σ; the
    // backward dependency accumulation runs level by level in
    // SCALE=10^12 integers (products through DECIMAL(38,0)/HUGEINT), so
    // the whole estimator — sample, BFS, dependencies — replays
    // bit-exactly as unrolled CTEs. depth 12 > the graph's diameter 9;
    // levels past the true eccentricity are empty on both sides.
    QuerySpec(
      "q256_betweenness",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        def dst(a: Int, b: Int) = concat(lit("h"),
          ((col("doc_id") * a + b) % 97).cast("string"),
          lit(".example.org"))
        val edges = docs.select(host97.as("src_host"),
            dst(7, 13).as("dst_host"))
          .unionByName(docs.filter(col("doc_id") % 3 =!= 0)
            .select(host97.as("src_host"), dst(31, 29).as("dst_host")))
        graft.ops.WebGraph.betweennessCentrality(edges, "src_host",
            "dst_host", nSources = 16, maxDepth = 12)
          .orderBy("node")
      },
      Some(brandesOracle(16, 12))),

    // ------------------------------------------------------------------
    // Sampled harmonic closeness (WebGraph.harmonicCloseness — Marchiori
    // & Latora 2000, the closeness variant that survives disconnection):
    // how quickly does the md5-order 16-source sample reach each host
    // along edge direction? Same BFS kernel as q256 (the oracle reuses
    // the identical unrolled CTE chain), reciprocal distances summed in
    // exact floor-division integers.
    QuerySpec(
      "q257_harmonic_closeness",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        def dst(a: Int, b: Int) = concat(lit("h"),
          ((col("doc_id") * a + b) % 97).cast("string"),
          lit(".example.org"))
        val edges = docs.select(host97.as("src_host"),
            dst(7, 13).as("dst_host"))
          .unionByName(docs.filter(col("doc_id") % 3 =!= 0)
            .select(host97.as("src_host"), dst(31, 29).as("dst_host")))
        graft.ops.WebGraph.harmonicCloseness(edges, "src_host",
            "dst_host", nSources = 16, maxDepth = 12)
          .orderBy("node")
      },
      Some(bfsCtes(16, 12) +
        """
          |SELECT n.node,
          |  CAST(COALESCE(h.h_scaled, 0) AS BIGINT) AS h_scaled,
          |  CAST(COALESCE(h.h_scaled, 0) AS DOUBLE) / 1000000000000
          |    AS harmonic
          |FROM nodes n LEFT JOIN (
          |  SELECT node, SUM(1000000000000 // dist) AS h_scaled
          |  FROM vis12 WHERE dist > 0 GROUP BY node) h
          |  ON h.node = n.node
          |ORDER BY n.node""".stripMargin)),

    // ------------------------------------------------------------------
    // Changepoint sweep + multiple-testing gate (Profile.
    // pettittTestGrouped → Profile.bhFdr — Pettitt 1979 per series,
    // Benjamini–Hochberg 1995 across them): did ANY event type's daily
    // volume shift, controlling the false-discovery rate across the
    // simultaneous hypotheses at α = 1/20? Per-series scan is q252's
    // doubled-midrank arithmetic with natural group-partitioned windows;
    // the BH step-up is cross-multiplied (p·m·20 ≤ i·1 — no float α) and
    // the adjusted p is the standard reverse running min, both replayed
    // window-for-window.
    QuerySpec(
      "q258_changepoint_fdr",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .filter(col("event_type").isNotNull)
          .select(col("event_type"), to_date(col("ts")).as("day"))
          .filter(col("day").isNotNull)
          .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
          .select(col("event_type"),
            datediff(col("day"), lit("1970-01-01")).cast("long").as("t"),
            col("cnt"))
        val tests = graft.ops.Profile.pettittTestGrouped(
          daily, Seq("event_type"), "t", "cnt")
        // p_value / p_adj are exp()-derived doubles — Java Math.exp and
        // DuckDB libm may differ in the last ulp, so the hash-compared
        // result carries the exact integers and the DECISIONS (the
        // ProfileSpec covers the p columns in-engine); the ordering and
        // step-up still ride p internally on both sides
        graft.ops.Profile.bhFdr(tests, Seq("event_type"), "p_value",
            alphaNum = 1L, alphaDen = 20L)
          .select(col("event_type"), col("n"), col("k_stat"),
            col("change_at"), col("significant"), col("bh_rank"),
            col("discovery"))
          .orderBy("bh_rank")
      },
      Some("""WITH s0 AS (
             |  SELECT event_type AS g,
             |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
             |    COUNT(*) AS cnt
             |  FROM events
             |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
             |  GROUP BY 1, 2),
             |r AS (
             |  SELECT g, CAST(t AS DOUBLE) AS t,
             |    CAST(2*RANK() OVER (PARTITION BY g ORDER BY cnt)
             |      + COUNT(*) OVER (PARTITION BY g, cnt) - 1 AS BIGINT)
             |      AS mr2,
             |    COUNT(*) OVER (PARTITION BY g) AS n
             |  FROM s0),
             |u AS (
             |  SELECT g, t,
             |    SUM(mr2 - 1 - n) OVER (PARTITION BY g ORDER BY t
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ut,
             |    n, MAX(t) OVER (PARTITION BY g) AS tmax
             |  FROM r),
             |best AS (
             |  SELECT g, n, k, t FROM (
             |    SELECT g, CAST(n AS BIGINT) AS n, ABS(ut) AS k, t,
             |      ROW_NUMBER() OVER (PARTITION BY g
             |        ORDER BY ABS(ut) DESC, t) AS rn
             |    FROM u WHERE t <> tmax) q
             |  WHERE rn = 1),
             |p AS (
             |  SELECT g, n, CAST(k AS BIGINT) AS k_stat, t AS change_at,
             |    LEAST(1.0,
             |      2.0 * exp(-6.0 * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
             |        / (CAST(n AS DOUBLE) * n * n + CAST(n AS DOUBLE) * n)))
             |      AS p_value
             |  FROM best),
             |b AS (
             |  SELECT g, n, k_stat, change_at, p_value,
             |    p_value < 0.05 AS significant,
             |    CAST(ROW_NUMBER() OVER (ORDER BY p_value, g) AS BIGINT)
             |      AS bh_rank,
             |    COUNT(*) OVER () AS m
             |  FROM p),
             |k AS (
             |  SELECT *, MAX(CASE WHEN p_value * m * 20 <= bh_rank * 1
             |    THEN bh_rank END) OVER () AS kmax
             |  FROM b)
             |SELECT g AS event_type, n, k_stat, change_at,
             |  significant, bh_rank,
             |  kmax IS NOT NULL AND bh_rank <= kmax AS discovery
             |FROM k ORDER BY bh_rank""".stripMargin)),

    // ------------------------------------------------------------------
    // Sketch-resolution distribution-drift gate (Sketches.hdrKsGate —
    // q231's two-sample KS estimator evaluated on two mergeable HDR
    // bucket planes instead of the raw corpora): did English document
    // lengths drift from the rest, judged from SKETCH STATE ALONE —
    // the comparison a 100 TB pipeline runs between yesterday's sketch
    // and today's without re-scanning either side. D's numerator is an
    // exact DECIMAL(38,0)/HUGEINT integer over the ≤ 63·m-row union
    // bucket plane; one IEEE division + the tabulated α=0.05 verdict.
    QuerySpec(
      "q259_sketch_ks_drift",
      (s, dir) => {
        val m = 32
        val d = Tables.documents(s, dir).select(
          when(col("lang") === "en", "en").otherwise("other").as("cohort"),
          col("n_chars"))
        val en = graft.ops.Sketches.hdrSketch(
          d.filter(col("cohort") === "en"), Seq.empty, "n_chars", m)
        val rest = graft.ops.Sketches.hdrSketch(
          d.filter(col("cohort") === "other"), Seq.empty, "n_chars", m)
        graft.ops.Sketches.hdrKsGate(en, rest)
      },
      Some("""WITH v AS (
             |  SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS g,
             |    CAST(n_chars AS BIGINT) AS v
             |  FROM documents WHERE n_chars >= 1),
             |b AS (
             |  SELECT g,
             |    CAST(length(bin(v)) - 1 AS BIGINT) * 32
             |      + ((v - (1::BIGINT << CAST(length(bin(v)) - 1 AS INT)))
             |          * 32)
             |        // (1::BIGINT << CAST(length(bin(v)) - 1 AS INT))
             |      AS bucket
             |  FROM v),
             |c AS (SELECT g, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
             |p AS (
             |  SELECT bucket,
             |    SUM(CASE WHEN g = 'en' THEN cnt ELSE 0 END) AS ca,
             |    SUM(CASE WHEN g = 'other' THEN cnt ELSE 0 END) AS cb
             |  FROM c GROUP BY bucket),
             |r AS (
             |  SELECT bucket,
             |    SUM(ca) OVER (ORDER BY bucket
             |      ROWS UNBOUNDED PRECEDING) AS cuma,
             |    SUM(cb) OVER (ORDER BY bucket
             |      ROWS UNBOUNDED PRECEDING) AS cumb,
             |    SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
             |  FROM p),
             |m AS (
             |  SELECT MAX(na) AS na, MAX(nb) AS nb,
             |    COUNT(*) AS n_buckets,
             |    MAX(ABS(CAST(cuma AS HUGEINT) * nb
             |      - CAST(cumb AS HUGEINT) * na)) AS dnum
             |  FROM r)
             |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
             |  CAST(n_buckets AS BIGINT) AS n_buckets,
             |  CAST(CAST(dnum AS VARCHAR) AS DOUBLE)
             |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS ks_d,
             |  1.358 * sqrt(CAST(na + nb AS DOUBLE)
             |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) AS d_crit,
             |  CAST(CAST(dnum AS VARCHAR) AS DOUBLE)
             |      / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
             |    > 1.358 * sqrt(CAST(na + nb AS DOUBLE)
             |      / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
             |    AS reject_same_dist
             |FROM m""".stripMargin)),

    // ------------------------------------------------------------------
    // Binary-quantized ANN with exact re-rank (Similarity.signBits /
    // hammingSearch — the SimHash bound applied to retrieval: sign bits
    // pack 64-per-long, 32x smaller than float32, Hamming = xor +
    // popcount): the cheapest rung of the quantization ladder
    // (float -> int8 -> PQ -> binary). Shortlist k*4 per query by
    // (hamming, id) — exact integers, both engines — then exact cosine
    // re-rank, ROUND(,6) on the reported score (the q105 convention).
    QuerySpec(
      "q260_binary_ann",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") % 97 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val corpus = emb.filter(col("vec_id") % 97 =!= 0)
        Similarity.hammingSearch(corpus, "vec_id", "embedding",
            queries, "qid", "qv", k = 5, rerankFactor = 4)
          .orderBy("qid", "rank")
      },
      Some("""WITH q AS (
             |  SELECT vec_id AS qid, embedding AS qv
             |  FROM embeddings WHERE vec_id % 97 = 0),
             |c AS (
             |  SELECT vec_id, embedding AS cv
             |  FROM embeddings WHERE vec_id % 97 != 0),
             |h AS (
             |  SELECT q.qid, c.vec_id,
             |    CAST(len(list_filter(range(1, len(c.cv) + 1),
             |      i -> (c.cv[i] >= 0) != (q.qv[i] >= 0))) AS BIGINT)
             |      AS hamming,
             |    list_cosine_similarity(c.cv::DOUBLE[], q.qv::DOUBLE[])
             |      AS cos
             |  FROM c, q),
             |s AS (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
             |    ORDER BY hamming, vec_id) AS hr
             |  FROM h),
             |r AS (
             |  SELECT qid, vec_id, hamming, cos,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY cos DESC, vec_id) AS rank
             |  FROM s WHERE hr <= 20)
             |SELECT qid, CAST(rank AS INT) AS rank, vec_id, hamming,
             |  ROUND(cos, 6) AS cosine
             |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // HLL set-overlap from register state (Sketches.hllOverlap — the
    // counting sibling of q259's drift gate): how many users do the
    // click and purchase cohorts share, judged from two retained HLL
    // sketches without touching the corpus? Union = register-wise MAX
    // (exact), intersection = inclusion–exclusion over three
    // q239-replayable estimates, one fixed IEEE sequence — the whole
    // row replays bit-for-bit (integer harmonic sums; the
    // linear-counting ln routes through the DECIMAL(18,12) bridge).
    QuerySpec(
      "q261_hll_overlap",
      (s, dir) => {
        val ev = Tables.events(s, dir).filter(col("user_id").isNotNull)
        def sk(t: String) = graft.ops.Sketches.hllSketch(
          ev.filter(col("event_type") === t).select(col("user_id")),
          Seq.empty, "user_id", p = 9)
        graft.ops.Sketches.hllOverlap(sk("click"), sk("purchase"), p = 9)
      },
      Some {
        def reg(name: String, t: String) =
          s"""d_$name AS (
             |  SELECT DISTINCT md5(CAST(user_id AS VARCHAR)) AS m
             |  FROM events
             |  WHERE user_id IS NOT NULL AND event_type = '$t'),
             |h_$name AS (SELECT CAST($h48Sql AS BIGINT) AS h FROM d_$name),
             |reg_$name AS (
             |  SELECT h >> 39 AS bucket,
             |    MAX(CASE WHEN (h & 549755813887) = 0 THEN 40
             |      ELSE 40 - length(bin(h & 549755813887)) END) AS rho
             |  FROM h_$name GROUP BY 1)""".stripMargin
        def est(name: String, src: String) =
          s"""ag_$name AS (
             |  SELECT COUNT(*) AS hit,
             |    CAST(SUM(CAST(1 AS BIGINT) << (40 - CAST(rho AS INT)))
             |      AS BIGINT) AS s
             |  FROM $src),
             |e_$name AS (
             |  SELECT CASE
             |      WHEN (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0
             |          * 1099511627776.0
             |          / CAST(s + (512 - hit) * (CAST(1 AS BIGINT) << 40)
             |              AS DOUBLE)
             |          <= 2.5 * 512.0 AND 512 - hit > 0
             |        THEN CAST(CAST(512.0 * ln(512.0
             |          / CAST(512 - hit AS DOUBLE)) AS DECIMAL(18,12))
             |          AS DOUBLE)
             |      ELSE (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0
             |        * 1099511627776.0
             |        / CAST(s + (512 - hit) * (CAST(1 AS BIGINT) << 40)
             |            AS DOUBLE)
             |    END AS est
             |  FROM ag_$name)""".stripMargin
        s"""WITH ${reg("a", "click")},
           |${reg("b", "purchase")},
           |reg_u AS (
           |  SELECT bucket, MAX(rho) AS rho FROM (
           |    SELECT * FROM reg_a UNION ALL SELECT * FROM reg_b)
           |  GROUP BY 1),
           |${est("a", "reg_a")},
           |${est("b", "reg_b")},
           |${est("u", "reg_u")}
           |SELECT e_a.est AS est_a, e_b.est AS est_b,
           |  e_u.est AS est_union,
           |  GREATEST(0.0, e_a.est + e_b.est - e_u.est)
           |    AS est_intersection,
           |  GREATEST(0.0, e_a.est + e_b.est - e_u.est) / e_u.est
           |    AS jaccard_est
           |FROM e_a, e_b, e_u""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Top-k token heavy hitters from MERGED per-source summaries
    // (Sketches.topkSketch / topkHeavyHitters — the frequent-items
    // member of the sketch family, the order-free mergeable
    // Misra–Gries formulation of Agarwal et al. PODS'12): each source's
    // exact top-20 tokens + (total, largest-dropped) scalars become a
    // leaf state; leaves merge by pure counter ADDITION; the read
    // reports the global top-10 with the deterministic frequency
    // bounds IN-BAND (cnt_lb ≤ true ≤ cnt_ub; any item absent from the
    // state has count ≤ absent_bound). The oracle replays leaf build,
    // threshold, NULL-item meta rows, merge and the bounded read —
    // exact integers end to end.
    QuerySpec(
      "q262_topk_heavy_hitters",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val toks = docs.select(col("source"),
          explode(split(TextOps.normalized(col("text")), " ")).as("tok"))
          .filter(length(col("tok")) > 0)
        val sk = graft.ops.Sketches.topkSketch(
          toks, Seq.empty, "tok", k = 20, leafCols = Seq("source"))
        graft.ops.Sketches.topkHeavyHitters(sk, Seq.empty, k = 10)
          .orderBy("rank")
      },
      Some(s"""WITH t AS (
              |  SELECT source,
              |    unnest(string_split($normSql, ' ')) AS tok
              |  FROM documents
              |), tf AS (SELECT source, tok FROM t WHERE len(tok) > 0),
              |c AS (
              |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
              |  FROM tf GROUP BY 1, 2),
              |r AS (
              |  SELECT source, tok, c,
              |    ROW_NUMBER() OVER (PARTITION BY source
              |      ORDER BY c DESC, tok) AS rn
              |  FROM c),
              |lt AS (
              |  SELECT source,
              |    COALESCE(MAX(CASE WHEN rn = 21 THEN c END), 0) AS t,
              |    CAST(SUM(c) AS BIGINT) AS n
              |  FROM r GROUP BY source),
              |kept AS (
              |  SELECT r.tok AS item, r.c AS cnt, lt.t AS tseen
              |  FROM r JOIN lt ON lt.source = r.source WHERE rn <= 20),
              |meta AS (
              |  SELECT CAST(NULL AS VARCHAR) AS item, n AS cnt, t AS tseen
              |  FROM lt),
              |st AS (
              |  SELECT item, CAST(SUM(cnt) AS BIGINT) AS cnt,
              |    CAST(SUM(tseen) AS BIGINT) AS tseen
              |  FROM (SELECT * FROM kept UNION ALL SELECT * FROM meta)
              |  GROUP BY item),
              |m AS (SELECT cnt AS nn, tseen AS tt FROM st WHERE item IS NULL),
              |hh AS (
              |  SELECT item, cnt, tseen,
              |    ROW_NUMBER() OVER (ORDER BY cnt DESC, item) AS rank
              |  FROM st WHERE item IS NOT NULL)
              |SELECT CAST(rank AS INT) AS rank, item, cnt AS cnt_lb,
              |  cnt + (m.tt - tseen) AS cnt_ub, m.nn AS n_total,
              |  m.tt AS absent_bound
              |FROM hh, m WHERE rank <= 10 ORDER BY rank""".stripMargin)),

    // ------------------------------------------------------------------
    // PSI / Jensen-Shannon drift score from HDR bucket state
    // (Sketches.hdrPsiGate — the scored sibling of q259's KS verdict):
    // how FAR did English document lengths drift from the rest, judged
    // from two persisted sketch planes with the industry-standard PSI
    // bands (>0.25 = shifted). Laplace-smoothed proportions over the
    // union bucket plane keep every ln input an exact-integer ratio;
    // each term routes through DECIMAL(18,12) (the q109 ln discipline)
    // so the decimal sums — and the bridged doubles — replay
    // bit-for-bit.
    QuerySpec(
      "q263_sketch_psi_drift",
      (s, dir) => {
        val m = 32
        val d = Tables.documents(s, dir).select(
          when(col("lang") === "en", "en").otherwise("other").as("cohort"),
          col("n_chars"))
        val en = graft.ops.Sketches.hdrSketch(
          d.filter(col("cohort") === "en"), Seq.empty, "n_chars", m)
        val rest = graft.ops.Sketches.hdrSketch(
          d.filter(col("cohort") === "other"), Seq.empty, "n_chars", m)
        graft.ops.Sketches.hdrPsiGate(en, rest, psiAlert = 0.2)
      },
      Some("""WITH v AS (
             |  SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS g,
             |    CAST(n_chars AS BIGINT) AS v
             |  FROM documents WHERE n_chars >= 1),
             |b AS (
             |  SELECT g,
             |    CAST(length(bin(v)) - 1 AS BIGINT) * 32
             |      + ((v - (1::BIGINT << CAST(length(bin(v)) - 1 AS INT)))
             |          * 32)
             |        // (1::BIGINT << CAST(length(bin(v)) - 1 AS INT))
             |      AS bucket
             |  FROM v),
             |c AS (SELECT g, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
             |p AS (
             |  SELECT bucket,
             |    CAST(SUM(CASE WHEN g = 'en' THEN cnt ELSE 0 END)
             |      AS BIGINT) AS ca,
             |    CAST(SUM(CASE WHEN g = 'other' THEN cnt ELSE 0 END)
             |      AS BIGINT) AS cb
             |  FROM c GROUP BY bucket),
             |r AS (
             |  SELECT bucket, ca, cb,
             |    CAST(SUM(ca) OVER () AS BIGINT) AS na,
             |    CAST(SUM(cb) OVER () AS BIGINT) AS nb,
             |    CAST(COUNT(*) OVER () AS BIGINT) AS bc
             |  FROM p),
             |t AS (
             |  SELECT na, nb, bc,
             |    CAST((CAST(ca + 1 AS DOUBLE) / CAST(na + bc AS DOUBLE)
             |        - CAST(cb + 1 AS DOUBLE) / CAST(nb + bc AS DOUBLE))
             |      * ln((CAST(ca + 1 AS DOUBLE) * CAST(nb + bc AS DOUBLE))
             |        / (CAST(cb + 1 AS DOUBLE) * CAST(na + bc AS DOUBLE)))
             |      AS DECIMAL(18,12)) AS psi_t,
             |    CAST((CAST(ca + 1 AS DOUBLE) / CAST(na + bc AS DOUBLE)
             |        * ln(2.0 * (CAST(ca + 1 AS DOUBLE)
             |            / CAST(na + bc AS DOUBLE))
             |          / (CAST(ca + 1 AS DOUBLE) / CAST(na + bc AS DOUBLE)
             |            + CAST(cb + 1 AS DOUBLE) / CAST(nb + bc AS DOUBLE)))
             |      + CAST(cb + 1 AS DOUBLE) / CAST(nb + bc AS DOUBLE)
             |        * ln(2.0 * (CAST(cb + 1 AS DOUBLE)
             |            / CAST(nb + bc AS DOUBLE))
             |          / (CAST(ca + 1 AS DOUBLE) / CAST(na + bc AS DOUBLE)
             |            + CAST(cb + 1 AS DOUBLE) / CAST(nb + bc AS DOUBLE))))
             |      * 0.5 AS DECIMAL(18,12)) AS js_t
             |  FROM r),
             |m AS (
             |  SELECT MAX(na) AS na, MAX(nb) AS nb,
             |    COUNT(*) AS n_buckets,
             |    SUM(psi_t) AS psi_s, SUM(js_t) AS js_s
             |  FROM t)
             |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
             |  CAST(n_buckets AS BIGINT) AS n_buckets,
             |  CAST(CAST(psi_s AS VARCHAR) AS DOUBLE) AS psi,
             |  CAST(CAST(js_s AS VARCHAR) AS DOUBLE) AS js_divergence,
             |  CAST(CAST(psi_s AS VARCHAR) AS DOUBLE) > 0.2 AS drift_alert
             |FROM m""".stripMargin)),

    // ------------------------------------------------------------------
    // Strongly connected components of a planted multi-SCC digraph
    // (WebGraph.stronglyConnectedComponents — iterated multi-pivot
    // FW×BW reachability, Fleischer/Hendrickson/Pınar IPDPS'00; the
    // Broder WWW'00 bowtie primitive the r16 verdict asked for): hosts
    // h0..h96 split into 7 groups, each group a directed CYCLE (one
    // SCC), chords inside groups, DAG cross-edges g→g+1 only (never
    // wrapping — wrapping would fuse everything into one SCC). Expected
    // components = the 7 groups labeled by their min-string member.
    // The oracle replays with a WITH RECURSIVE transitive closure and
    // mutual-reachability min-member labels — pure set logic, no
    // floats anywhere.
    QuerySpec(
      "q264_scc",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val base = docs.select(col("doc_id"),
            expr("doc_id % 97").as("n"),
            expr("(doc_id % 97) div 14").as("g"))
          .withColumn("gs", expr("g * 14"))
          .withColumn("sz", expr("CASE WHEN g = 6 THEN 13 ELSE 14 END"))
        def host(c: String) = concat(lit("h"), expr(c).cast("string"),
          lit(".example.org"))
        val cyc = base.select(host("n").as("src_host"),
          host("gs + pmod(n - gs + 1, sz)").as("dst_host"))
        val chord = base.filter(expr("doc_id % 5 = 0"))
          .select(host("n").as("src_host"),
            host("gs + pmod(n - gs + 5, sz)").as("dst_host"))
        val cross = base.filter(expr("doc_id % 3 = 0 AND n <= 82"))
          .select(host("n").as("src_host"), host("n + 14").as("dst_host"))
        // 128 pivots ≥ the 97-node plane: every SCC settles in ONE
        // round (2 BFS passes); the iterated-residual path is
        // property-covered (Round17Props forces pivotsPerRound ∈ {1,2})
        graft.ops.WebGraph.stronglyConnectedComponents(
            cyc.unionByName(chord).unionByName(cross),
            "src_host", "dst_host",
            pivotsPerRound = 128, maxDepth = 32, maxRounds = 32)
          .orderBy("node")
      },
      Some("""WITH RECURSIVE bb AS (
             |  SELECT doc_id % 97 AS n, (doc_id % 97) // 14 AS g,
             |    ((doc_id % 97) // 14) * 14 AS gs,
             |    CASE WHEN (doc_id % 97) // 14 = 6 THEN 13 ELSE 14 END
             |      AS sz,
             |    doc_id
             |  FROM documents),
             |raw AS (
             |  SELECT 'h' || CAST(n AS VARCHAR) || '.example.org' AS src,
             |    'h' || CAST(gs + ((n - gs + 1) % sz) AS VARCHAR)
             |      || '.example.org' AS dst
             |  FROM bb
             |  UNION ALL
             |  SELECT 'h' || CAST(n AS VARCHAR) || '.example.org',
             |    'h' || CAST(gs + ((n - gs + 5) % sz) AS VARCHAR)
             |      || '.example.org'
             |  FROM bb WHERE doc_id % 5 = 0
             |  UNION ALL
             |  SELECT 'h' || CAST(n AS VARCHAR) || '.example.org',
             |    'h' || CAST(n + 14 AS VARCHAR) || '.example.org'
             |  FROM bb WHERE doc_id % 3 = 0 AND n <= 82),
             |e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
             |nodes AS (SELECT src AS node FROM e
             |          UNION SELECT dst FROM e),
             |reach(u, v) AS (
             |  SELECT src, dst FROM e
             |  UNION
             |  SELECT reach.u, e.dst FROM reach JOIN e ON e.src = reach.v),
             |mut AS (
             |  SELECT node AS u, node AS v FROM nodes
             |  UNION
             |  SELECT r1.u, r1.v FROM reach r1
             |  JOIN reach r2 ON r2.u = r1.v AND r2.v = r1.u)
             |SELECT u AS node, MIN(v) AS component
             |FROM mut GROUP BY u ORDER BY node""".stripMargin)),

    // ------------------------------------------------------------------
    // Heavy-hitter SHIFT between cohorts (Sketches.topkShift — the
    // frequent-items drift read completing the state-only trio: q259
    // "same distribution?", q263 "how far?", this "WHICH heavy items
    // moved?"): compare the top-10 tokens of the English cohort vs the
    // rest, judged from two retained topkSketch states with the
    // deterministic bounds honest on BOTH sides (an item missing from a
    // side's state reads [0, that side's absent bound]). The oracle
    // replays both per-source leaf builds, both merges, both bounded
    // reads and the full-outer status join.
    QuerySpec(
      "q265_topk_shift",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val toks = docs.select(col("lang"), col("source"),
          explode(split(TextOps.normalized(col("text")), " ")).as("tok"))
          .filter(length(col("tok")) > 0)
        val sa = graft.ops.Sketches.topkSketch(
          toks.filter(col("lang") === "en"), Seq.empty, "tok", 20,
          leafCols = Seq("source"))
        val sb = graft.ops.Sketches.topkSketch(
          toks.filter(col("lang") =!= "en"), Seq.empty, "tok", 20,
          leafCols = Seq("source"))
        graft.ops.Sketches.topkShift(sa, sb, Seq.empty, k = 10)
          .orderBy("item")
      },
      Some {
        def state(tag: String, where: String, k: Int) =
          s"""t_$tag AS (
             |  SELECT source,
             |    unnest(string_split($normSql, ' ')) AS tok
             |  FROM documents WHERE $where),
             |tf_$tag AS (
             |  SELECT source, tok FROM t_$tag WHERE len(tok) > 0),
             |c_$tag AS (
             |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM tf_$tag GROUP BY 1, 2),
             |r_$tag AS (
             |  SELECT source, tok, c,
             |    ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY c DESC, tok) AS rn
             |  FROM c_$tag),
             |lt_$tag AS (
             |  SELECT source,
             |    COALESCE(MAX(CASE WHEN rn = ${k + 1} THEN c END), 0) AS t,
             |    CAST(SUM(c) AS BIGINT) AS n
             |  FROM r_$tag GROUP BY source),
             |st_$tag AS (
             |  SELECT item, CAST(SUM(cnt) AS BIGINT) AS cnt,
             |    CAST(SUM(tseen) AS BIGINT) AS tseen
             |  FROM (
             |    SELECT r.tok AS item, r.c AS cnt, lt.t AS tseen
             |    FROM r_$tag r JOIN lt_$tag lt ON lt.source = r.source
             |    WHERE rn <= $k
             |    UNION ALL
             |    SELECT CAST(NULL AS VARCHAR), n, t FROM lt_$tag)
             |  GROUP BY item),
             |m_$tag AS (
             |  SELECT cnt AS nn, tseen AS tt FROM st_$tag
             |  WHERE item IS NULL),
             |it_$tag AS (
             |  SELECT item, cnt, tseen FROM st_$tag
             |  WHERE item IS NOT NULL),
             |hh_$tag AS (
             |  SELECT item, ROW_NUMBER() OVER (ORDER BY cnt DESC, item)
             |    AS rank
             |  FROM it_$tag)""".stripMargin
        s"""WITH ${state("a", "lang = 'en'", 20)},
           |${state("b", "lang != 'en'", 20)}
           |SELECT COALESCE(ha.item, hb.item) AS item,
           |  CASE WHEN ha.item IS NULL THEN 'entered'
           |    WHEN hb.item IS NULL THEN 'left'
           |    ELSE 'stayed' END AS status,
           |  CAST(ha.rank AS INT) AS rank_a,
           |  CAST(hb.rank AS INT) AS rank_b,
           |  CAST(COALESCE(ia.cnt, 0) AS BIGINT) AS cnt_lb_a,
           |  CAST(COALESCE(ia.cnt + m_a.tt - ia.tseen, m_a.tt, 0)
           |    AS BIGINT) AS cnt_ub_a,
           |  CAST(COALESCE(ib.cnt, 0) AS BIGINT) AS cnt_lb_b,
           |  CAST(COALESCE(ib.cnt + m_b.tt - ib.tseen, m_b.tt, 0)
           |    AS BIGINT) AS cnt_ub_b
           |FROM (SELECT * FROM hh_a WHERE rank <= 10) ha
           |FULL OUTER JOIN (SELECT * FROM hh_b WHERE rank <= 10) hb
           |  ON hb.item = ha.item
           |LEFT JOIN it_a ia ON ia.item = COALESCE(ha.item, hb.item)
           |LEFT JOIN it_b ib ON ib.item = COALESCE(ha.item, hb.item)
           |CROSS JOIN m_a CROSS JOIN m_b
           |ORDER BY item""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Bowtie decomposition of a planted web digraph
    // (WebGraph.bowtieDecomposition — Broder et al. WWW'00 "Graph
    // structure in the web", THE canonical crawl-corpus macro-structure
    // report): nodes h0..h49 planted so every region is non-empty —
    // 10-node core cycle, IN chain feeding it, OUT chain leaving it, a
    // tendril shelf off IN, a core-free IN→OUT tube shelf, and
    // disconnected 2-cycles. The oracle replays SCC (recursive
    // closure), giant selection, F/B reach, and the core-excluded
    // second closure for the tendril/tube clause — pure set logic.
    // Bench note: ~7.5 s at any SF — the priced cost of a multi-PHASE
    // decomposition (one SCC + four reach passes, each level-
    // synchronous); on the fixed-size planted graph the wall time is
    // ~70 driver round-trips of tiny jobs, not data — at real corpus
    // scale the same job count carries the data, so the shape holds.
    QuerySpec(
      "q266_bowtie",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val base = docs.select(expr("doc_id % 50").as("n")).distinct()
        def host(c: String) = concat(lit("h"), expr(c).cast("string"),
          lit(".example.org"))
        def part(whereSql: String, srcSql: String, dstSql: String) =
          base.filter(expr(whereSql))
            .select(host(srcSql).as("src_host"), host(dstSql).as("dst_host"))
        val edges = Seq(
          part("n <= 9", "n", "pmod(n + 1, 10)"),          // core cycle
          part("n <= 9", "n", "pmod(n + 3, 10)"),          // core chord
                                           // (diameter 4, not 9 — BFS
                                           // wall time tracks depth)
          part("n between 10 and 19", "n", "n - 10"),      // IN -> core
          part("n between 20 and 29", "n - 20", "n"),      // core -> OUT
          part("n between 30 and 34", "n - 20", "n"),      // IN -> tendril
          part("n between 35 and 39", "n - 25", "n"),      // IN -> tube
          part("n between 35 and 39", "n", "n - 15"),      // tube -> OUT
          part("n between 40 and 49 and n % 2 = 0", "n", "n + 1"),
          part("n between 40 and 49 and n % 2 = 1", "n", "n - 1")
        ).reduce(_ unionByName _)
        graft.ops.WebGraph.bowtieDecomposition(edges, "src_host",
            "dst_host", pivotsPerRound = 64, maxDepth = 32,
            maxRounds = 32)
          .orderBy("node")
      },
      Some("""WITH RECURSIVE bb AS (
             |  SELECT DISTINCT doc_id % 50 AS n FROM documents),
             |raw AS (
             |  SELECT n AS s, (n + 1) % 10 AS d FROM bb WHERE n <= 9
             |  UNION ALL SELECT n, (n + 3) % 10 FROM bb WHERE n <= 9
             |  UNION ALL SELECT n, n - 10 FROM bb
             |    WHERE n BETWEEN 10 AND 19
             |  UNION ALL SELECT n - 20, n FROM bb
             |    WHERE n BETWEEN 20 AND 29
             |  UNION ALL SELECT n - 20, n FROM bb
             |    WHERE n BETWEEN 30 AND 34
             |  UNION ALL SELECT n - 25, n FROM bb
             |    WHERE n BETWEEN 35 AND 39
             |  UNION ALL SELECT n, n - 15 FROM bb
             |    WHERE n BETWEEN 35 AND 39
             |  UNION ALL SELECT n, n + 1 FROM bb
             |    WHERE n BETWEEN 40 AND 49 AND n % 2 = 0
             |  UNION ALL SELECT n, n - 1 FROM bb
             |    WHERE n BETWEEN 40 AND 49 AND n % 2 = 1),
             |e AS MATERIALIZED (
             |  SELECT DISTINCT
             |    'h' || CAST(s AS VARCHAR) || '.example.org' AS src,
             |    'h' || CAST(d AS VARCHAR) || '.example.org' AS dst
             |  FROM raw WHERE s <> d),
             |-- inside WITH RECURSIVE, a MEMBER CTE's top-level UNION
             |-- does NOT dedup (DuckDB compiles member setops via the
             |-- recursive machinery) — dedup via DISTINCT-over-UNION-ALL
             |-- subqueries, and MATERIALIZE the multi-referenced planes
             |-- so the closure is evaluated once
             |nodes AS MATERIALIZED (
             |  SELECT DISTINCT node FROM (
             |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e) t),
             |reach(u, v) AS (
             |  SELECT src, dst FROM e
             |  UNION
             |  SELECT reach.u, e.dst FROM reach JOIN e ON e.src = reach.v),
             |reachm AS MATERIALIZED (SELECT u, v FROM reach),
             |comp AS MATERIALIZED (
             |  SELECT u AS node, MIN(v) AS component FROM (
             |    SELECT node AS u, node AS v FROM nodes
             |    UNION ALL
             |    SELECT r1.u, r1.v FROM reachm r1
             |    JOIN reachm r2 ON r2.u = r1.v AND r2.v = r1.u) t
             |  GROUP BY u),
             |giant AS (
             |  SELECT component FROM comp GROUP BY component
             |  ORDER BY COUNT(*) DESC, component LIMIT 1),
             |core AS MATERIALIZED (
             |  SELECT node FROM comp
             |  WHERE component = (SELECT component FROM giant)),
             |fwd AS (
             |  SELECT DISTINCT node FROM (
             |    SELECT node FROM core
             |    UNION ALL
             |    SELECT v AS node FROM reachm
             |    WHERE u IN (SELECT node FROM core)) t),
             |bwd AS (
             |  SELECT DISTINCT node FROM (
             |    SELECT node FROM core
             |    UNION ALL
             |    SELECT u AS node FROM reachm
             |    WHERE v IN (SELECT node FROM core)) t),
             |outr AS MATERIALIZED (
             |  SELECT node FROM fwd
             |  WHERE node NOT IN (SELECT node FROM core)),
             |inr AS MATERIALIZED (
             |  SELECT node FROM bwd
             |  WHERE node NOT IN (SELECT node FROM core)),
             |enc AS MATERIALIZED (
             |  SELECT src, dst FROM e
             |  WHERE src NOT IN (SELECT node FROM core)
             |    AND dst NOT IN (SELECT node FROM core)),
             |reachnc(u, v) AS (
             |  SELECT src, dst FROM enc
             |  UNION
             |  SELECT reachnc.u, enc.dst FROM reachnc
             |  JOIN enc ON enc.src = reachnc.v),
             |reachncm AS MATERIALIZED (SELECT u, v FROM reachnc),
             |rem AS MATERIALIZED (
             |  SELECT node FROM nodes
             |  WHERE node NOT IN (SELECT node FROM core)
             |    AND node NOT IN (SELECT node FROM inr)
             |    AND node NOT IN (SELECT node FROM outr)),
             |fromin AS MATERIALIZED (
             |  SELECT DISTINCT v AS node FROM reachncm
             |  WHERE u IN (SELECT node FROM inr)
             |    AND v IN (SELECT node FROM rem)),
             |toout AS MATERIALIZED (
             |  SELECT DISTINCT u AS node FROM reachncm
             |  WHERE v IN (SELECT node FROM outr)
             |    AND u IN (SELECT node FROM rem)),
             |tubes AS MATERIALIZED (
             |  SELECT node FROM fromin
             |  WHERE node IN (SELECT node FROM toout)),
             |regions AS (
             |  SELECT node, 'core' AS region FROM core
             |  UNION ALL SELECT node, 'in' FROM inr
             |  UNION ALL SELECT node, 'out' FROM outr
             |  UNION ALL SELECT node, 'tubes' FROM tubes
             |  UNION ALL SELECT node, 'tendrils' FROM (
             |    SELECT node FROM fromin
             |    UNION ALL SELECT node FROM toout) tt
             |    WHERE node NOT IN (SELECT node FROM tubes)
             |  UNION ALL SELECT node, 'disconnected' FROM rem
             |    WHERE node NOT IN (SELECT node FROM fromin)
             |      AND node NOT IN (SELECT node FROM toout))
             |SELECT c.node, c.component, r.region
             |FROM comp c JOIN regions r ON r.node = c.node
             |ORDER BY c.node""".stripMargin)),

    // ------------------------------------------------------------------
    // SCC condensation — the quotient DAG over q264's planted multi-SCC
    // digraph (WebGraph.sccCondense): which component feeds which, and
    // by how many distinct edges — the component-level view a crawl
    // planner schedules from. Two keyed joins + one aggregation; the
    // oracle reuses the recursive-closure component labels and replays
    // the condensation as plain joins.
    QuerySpec(
      "q267_scc_condense",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val base = docs.select(col("doc_id"),
            expr("doc_id % 97").as("n"),
            expr("(doc_id % 97) div 14").as("g"))
          .withColumn("gs", expr("g * 14"))
          .withColumn("sz", expr("CASE WHEN g = 6 THEN 13 ELSE 14 END"))
        def host(c: String) = concat(lit("h"), expr(c).cast("string"),
          lit(".example.org"))
        val cyc = base.select(host("n").as("src_host"),
          host("gs + pmod(n - gs + 1, sz)").as("dst_host"))
        val chord = base.filter(expr("doc_id % 5 = 0"))
          .select(host("n").as("src_host"),
            host("gs + pmod(n - gs + 5, sz)").as("dst_host"))
        val cross = base.filter(expr("doc_id % 3 = 0 AND n <= 82"))
          .select(host("n").as("src_host"), host("n + 14").as("dst_host"))
        val edges = cyc.unionByName(chord).unionByName(cross)
        val comps = graft.ops.WebGraph.stronglyConnectedComponents(
          edges, "src_host", "dst_host",
          pivotsPerRound = 128, maxDepth = 32, maxRounds = 32)
        graft.ops.WebGraph.sccCondense(edges, "src_host", "dst_host",
            comps)
          .orderBy("src_component", "dst_component")
      },
      Some("""WITH RECURSIVE bb AS (
             |  SELECT doc_id % 97 AS n, (doc_id % 97) // 14 AS g,
             |    ((doc_id % 97) // 14) * 14 AS gs,
             |    CASE WHEN (doc_id % 97) // 14 = 6 THEN 13 ELSE 14 END
             |      AS sz,
             |    doc_id
             |  FROM documents),
             |raw AS (
             |  SELECT 'h' || CAST(n AS VARCHAR) || '.example.org' AS src,
             |    'h' || CAST(gs + ((n - gs + 1) % sz) AS VARCHAR)
             |      || '.example.org' AS dst
             |  FROM bb
             |  UNION ALL
             |  SELECT 'h' || CAST(n AS VARCHAR) || '.example.org',
             |    'h' || CAST(gs + ((n - gs + 5) % sz) AS VARCHAR)
             |      || '.example.org'
             |  FROM bb WHERE doc_id % 5 = 0
             |  UNION ALL
             |  SELECT 'h' || CAST(n AS VARCHAR) || '.example.org',
             |    'h' || CAST(n + 14 AS VARCHAR) || '.example.org'
             |  FROM bb WHERE doc_id % 3 = 0 AND n <= 82),
             |e AS MATERIALIZED (
             |  SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
             |nodes AS MATERIALIZED (
             |  SELECT DISTINCT node FROM (
             |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e) t),
             |reach(u, v) AS (
             |  SELECT src, dst FROM e
             |  UNION
             |  SELECT reach.u, e.dst FROM reach JOIN e ON e.src = reach.v),
             |reachm AS MATERIALIZED (SELECT u, v FROM reach),
             |comp AS MATERIALIZED (
             |  SELECT u AS node, MIN(v) AS component FROM (
             |    SELECT node AS u, node AS v FROM nodes
             |    UNION ALL
             |    SELECT r1.u, r1.v FROM reachm r1
             |    JOIN reachm r2 ON r2.u = r1.v AND r2.v = r1.u) t
             |  GROUP BY u)
             |SELECT cs.component AS src_component,
             |  cd.component AS dst_component,
             |  CAST(COUNT(*) AS BIGINT) AS n_edges
             |FROM e
             |JOIN comp cs ON cs.node = e.src
             |JOIN comp cd ON cd.node = e.dst
             |WHERE cs.component <> cd.component
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ------------------------------------------------------------------
    // Power-law degree-exponent MLE over the planted link graph
    // (WebGraph.powerLawAlpha — Clauset, Shalizi & Newman, SIAM Review
    // 2009 eq. 3.7, the "is this graph scale-free?" estimator): α̂ =
    // 1 + n/Σ ln(d_i/(dMin−½)) with σ = (α̂−1)/√n over the undirected
    // degree tail d ≥ 2. Every ln input is the exact integer ratio
    // 2d_i/(2·dMin−1); terms route through DECIMAL(18,12); the two
    // divisions bridge via VARCHAR — bit-exact replay.
    QuerySpec(
      "q268_power_law_alpha",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        def dst(a: Int, b: Int) = concat(lit("h"),
          ((col("doc_id") * a + b) % 97).cast("string"),
          lit(".example.org"))
        val edges = docs.select(host97.as("src_host"),
            dst(7, 13).as("dst_host"))
          .unionByName(docs.filter(col("doc_id") % 3 =!= 0)
            .select(host97.as("src_host"), dst(31, 29).as("dst_host")))
        graft.ops.WebGraph.powerLawAlpha(edges, "src_host", "dst_host",
          dMin = 2L)
      },
      Some("WITH " + linkEdgesCte.stripMargin + """,
             |nb AS (
             |  SELECT DISTINCT node, nbr FROM (
             |    SELECT src_host AS node, dst_host AS nbr FROM l
             |    WHERE src_host <> dst_host
             |    UNION ALL
             |    SELECT dst_host, src_host FROM l
             |    WHERE src_host <> dst_host) t),
             |deg AS (SELECT node, COUNT(*) AS deg FROM nb GROUP BY 1),
             |t AS (
             |  SELECT CAST(ln(CAST(deg * 2 AS DOUBLE) / 3.0)
             |    AS DECIMAL(18,12)) AS t
             |  FROM deg WHERE deg >= 2),
             |m AS (SELECT COUNT(*) AS n, SUM(t) AS s FROM t)
             |SELECT CAST(n AS BIGINT) AS n_tail,
             |  CAST(2 AS BIGINT) AS d_min,
             |  1.0 + CAST(n AS DOUBLE)
             |    / CAST(CAST(s AS VARCHAR) AS DOUBLE) AS alpha,
             |  ((1.0 + CAST(n AS DOUBLE)
             |    / CAST(CAST(s AS VARCHAR) AS DOUBLE)) - 1.0)
             |    / sqrt(CAST(n AS DOUBLE)) AS sigma
             |FROM m""".stripMargin)),

    // ------------------------------------------------------------------
    // WEIGHTED Louvain communities (louvainCommunities(weightCol) — the
    // r16 verdict's weighted-phase-1 ask, now with its own oracle):
    // integer-weighted planted link graph (weights 1+doc_id%3 and
    // 1+doc_id%5, parallel rows ADD), weighted degrees/k/tot/2m in the
    // same synchronized local-moving recurrence as q234. The oracle
    // unrolls all 4 rounds with weighted sums — bit-exact integer
    // replay, the q234 machinery with three CTEs reweighted.
    QuerySpec(
      "q269_louvain_weighted",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        def dst(a: Int, b: Int) = concat(lit("h"),
          ((col("doc_id") * a + b) % 97).cast("string"),
          lit(".example.org"))
        val edges = docs.select(host97.as("src_host"),
            dst(7, 13).as("dst_host"),
            (col("doc_id") % 3 + 1).as("w"))
          .unionByName(docs.filter(col("doc_id") % 3 =!= 0)
            .select(host97.as("src_host"), dst(31, 29).as("dst_host"),
              (col("doc_id") % 5 + 1).as("w")))
        graft.ops.WebGraph.louvainCommunities(edges, "src_host",
            "dst_host", rounds = 4, weightCol = Some("w"))
          .orderBy("node")
      },
      Some(louvainOracleWeighted(4))),

    // ------------------------------------------------------------------
    // Earth-mover drift distance from HDR state (Sketches.hdrEmdGate —
    // the mass-transport member completing the state-only drift trio:
    // q259 KS = max CDF deviation, q263 PSI = relative score, this =
    // how far the mass moved in the value's own units): W1 between the
    // English and non-English document-length sketches, piecewise-
    // constant CDFs over the canonical bucket lower-bound values. The
    // numerator Σ|cumA·nB − cumB·nA|·Δv is exact HUGEINT/DECIMAL(38,0)
    // integer arithmetic; two IEEE divisions bridge via VARCHAR.
    QuerySpec(
      "q270_sketch_emd_drift",
      (s, dir) => {
        val m = 32
        val d = Tables.documents(s, dir).select(
          when(col("lang") === "en", "en").otherwise("other").as("cohort"),
          col("n_chars"))
        val en = graft.ops.Sketches.hdrSketch(
          d.filter(col("cohort") === "en"), Seq.empty, "n_chars", m)
        val rest = graft.ops.Sketches.hdrSketch(
          d.filter(col("cohort") === "other"), Seq.empty, "n_chars", m)
        graft.ops.Sketches.hdrEmdGate(en, rest, m)
      },
      Some("""WITH v AS (
             |  SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS g,
             |    CAST(n_chars AS BIGINT) AS v
             |  FROM documents WHERE n_chars >= 1),
             |b AS (
             |  SELECT g,
             |    CAST(length(bin(v)) - 1 AS BIGINT) * 32
             |      + ((v - (1::BIGINT << CAST(length(bin(v)) - 1 AS INT)))
             |          * 32)
             |        // (1::BIGINT << CAST(length(bin(v)) - 1 AS INT))
             |      AS bucket
             |  FROM v),
             |c AS (SELECT g, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
             |p AS (
             |  SELECT bucket,
             |    CAST(SUM(CASE WHEN g = 'en' THEN cnt ELSE 0 END)
             |      AS BIGINT) AS ca,
             |    CAST(SUM(CASE WHEN g = 'other' THEN cnt ELSE 0 END)
             |      AS BIGINT) AS cb,
             |    CAST((1::BIGINT << CAST(bucket // 32 AS INT))
             |      + ((bucket % 32)
             |         * (1::BIGINT << CAST(bucket // 32 AS INT))) // 32
             |      AS BIGINT) AS val
             |  FROM c GROUP BY bucket),
             |r AS (
             |  SELECT bucket, val,
             |    SUM(ca) OVER (ORDER BY bucket
             |      ROWS UNBOUNDED PRECEDING) AS cuma,
             |    SUM(cb) OVER (ORDER BY bucket
             |      ROWS UNBOUNDED PRECEDING) AS cumb,
             |    CAST(SUM(ca) OVER () AS BIGINT) AS na,
             |    CAST(SUM(cb) OVER () AS BIGINT) AS nb,
             |    COALESCE(LEAD(val) OVER (ORDER BY bucket), val) - val
             |      AS dv
             |  FROM p),
             |t AS (
             |  SELECT na, nb, val,
             |    ABS(CAST(cuma AS HUGEINT) * nb
             |      - CAST(cumb AS HUGEINT) * na) * dv AS t
             |  FROM r),
             |m AS (
             |  SELECT MAX(na) AS na, MAX(nb) AS nb,
             |    COUNT(*) AS n_buckets, SUM(t) AS s,
             |    MAX(val) - MIN(val) AS span
             |  FROM t)
             |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
             |  CAST(n_buckets AS BIGINT) AS n_buckets,
             |  CAST(CAST(s AS VARCHAR) AS DOUBLE)
             |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS emd,
             |  CASE WHEN span > 0 THEN
             |    CAST(CAST(s AS VARCHAR) AS DOUBLE)
             |      / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
             |         * CAST(span AS DOUBLE))
             |    ELSE 0.0 END AS emd_norm
             |FROM m""".stripMargin)),

    // ------------------------------------------------------------------
    // Degree assortativity (WebGraph.degreeAssortativity — Newman PRL
    // 2002: do hubs link to hubs?) over the planted link graph, as ONE
    // exact integer ratio (4·M·S1 − S2²)/(2·M·S3 − S2²) with the sums
    // through DECIMAL(38,0)/HUGEINT and a single VARCHAR-bridged
    // division — the standard macro diagnostic next to q268's α.
    QuerySpec(
      "q271_assortativity",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        def dst(a: Int, b: Int) = concat(lit("h"),
          ((col("doc_id") * a + b) % 97).cast("string"),
          lit(".example.org"))
        val edges = docs.select(host97.as("src_host"),
            dst(7, 13).as("dst_host"))
          .unionByName(docs.filter(col("doc_id") % 3 =!= 0)
            .select(host97.as("src_host"), dst(31, 29).as("dst_host")))
        graft.ops.WebGraph.degreeAssortativity(edges, "src_host",
          "dst_host")
      },
      Some("WITH " + linkEdgesCte.stripMargin + """,
             |nb AS (
             |  SELECT DISTINCT node, nbr FROM (
             |    SELECT src_host AS node, dst_host AS nbr FROM l
             |    WHERE src_host <> dst_host
             |    UNION ALL
             |    SELECT dst_host, src_host FROM l
             |    WHERE src_host <> dst_host) t),
             |deg AS (SELECT node, COUNT(*) AS deg FROM nb GROUP BY 1),
             |e1 AS (
             |  SELECT dj.deg AS j, dk.deg AS k
             |  FROM nb
             |  JOIN deg dj ON dj.node = nb.node
             |  JOIN deg dk ON dk.node = nb.nbr
             |  WHERE nb.node < nb.nbr),
             |m AS (
             |  SELECT COUNT(*) AS m,
             |    SUM(CAST(j AS HUGEINT) * k) AS s1,
             |    SUM(CAST(j AS HUGEINT) + k) AS s2,
             |    SUM(CAST(j AS HUGEINT) * j + CAST(k AS HUGEINT) * k)
             |      AS s3
             |  FROM e1)
             |SELECT CAST(m AS BIGINT) AS n_edges,
             |  CASE WHEN 2 * m * s3 - s2 * s2 != 0 THEN
             |    CAST(CAST(4 * m * s1 - s2 * s2 AS VARCHAR) AS DOUBLE)
             |      / CAST(CAST(2 * m * s3 - s2 * s2 AS VARCHAR)
             |        AS DOUBLE)
             |  END AS assortativity
             |FROM m""".stripMargin)),

    // ------------------------------------------------------------------
    // Edge reciprocity (WebGraph.reciprocity — Garlaschelli & Loffredo
    // PRL 2004): what fraction of the planted crawl graph's links are
    // returned? One self-join of the distinct simple edge plane, exact
    // integers, one division.
    QuerySpec(
      "q272_reciprocity",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        def dst(a: Int, b: Int) = concat(lit("h"),
          ((col("doc_id") * a + b) % 97).cast("string"),
          lit(".example.org"))
        val edges = docs.select(host97.as("src_host"),
            dst(7, 13).as("dst_host"))
          .unionByName(docs.filter(col("doc_id") % 3 =!= 0)
            .select(host97.as("src_host"), dst(31, 29).as("dst_host")))
        graft.ops.WebGraph.reciprocity(edges, "src_host", "dst_host")
      },
      Some("WITH " + linkEdgesCte.stripMargin + """,
             |e AS (
             |  SELECT DISTINCT src_host AS s, dst_host AS d FROM l
             |  WHERE src_host <> dst_host),
             |r AS (
             |  SELECT COUNT(*) AS n_rec FROM e
             |  WHERE EXISTS (SELECT 1 FROM e e2
             |    WHERE e2.s = e.d AND e2.d = e.s)),
             |n AS (SELECT COUNT(*) AS n_edges FROM e)
             |SELECT CAST(n_edges AS BIGINT) AS n_edges,
             |  CAST(n_rec AS BIGINT) AS n_reciprocal,
             |  CASE WHEN n_edges > 0
             |    THEN CAST(n_rec AS DOUBLE) / CAST(n_edges AS DOUBLE)
             |    ELSE 0.0 END AS reciprocity
             |FROM n, r""".stripMargin)),

    // ------------------------------------------------------------------
    // GROUPED heavy hitters (the per-group path of Sketches.topkSketch
    // — q262 exercises the leaf-merged global path; this oracles the
    // grouped one): top-5 tokens PER LANGUAGE with the deterministic
    // bounds in-band, one single-leaf state per language (exact top-k,
    // thresholds 0-or-(k+1)-th), read back per group.
    QuerySpec(
      "q273_topk_grouped",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val toks = docs.select(col("lang"),
          explode(split(TextOps.normalized(col("text")), " ")).as("tok"))
          .filter(length(col("tok")) > 0)
        val sk = graft.ops.Sketches.topkSketch(
          toks, Seq("lang"), "tok", k = 8)
        graft.ops.Sketches.topkHeavyHitters(sk, Seq("lang"), k = 5)
          .orderBy("lang", "rank")
      },
      Some(s"""WITH t AS (
              |  SELECT lang,
              |    unnest(string_split($normSql, ' ')) AS tok
              |  FROM documents
              |), tf AS (SELECT lang, tok FROM t WHERE len(tok) > 0),
              |c AS (
              |  SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
              |  FROM tf GROUP BY 1, 2),
              |r AS (
              |  SELECT lang, tok, c,
              |    ROW_NUMBER() OVER (PARTITION BY lang
              |      ORDER BY c DESC, tok) AS rn
              |  FROM c),
              |lt AS (
              |  SELECT lang,
              |    COALESCE(MAX(CASE WHEN rn = 9 THEN c END), 0) AS t,
              |    CAST(SUM(c) AS BIGINT) AS n
              |  FROM r GROUP BY lang),
              |kept AS (
              |  SELECT r.lang, r.tok AS item, r.c AS cnt, lt.t AS tseen
              |  FROM r JOIN lt ON lt.lang = r.lang WHERE rn <= 8),
              |hh AS (
              |  SELECT lang, item, cnt, tseen,
              |    ROW_NUMBER() OVER (PARTITION BY lang
              |      ORDER BY cnt DESC, item) AS rank
              |  FROM kept)
              |SELECT h.lang, CAST(h.rank AS INT) AS rank, h.item,
              |  h.cnt AS cnt_lb,
              |  CAST(h.cnt + lt.t - h.tseen AS BIGINT) AS cnt_ub,
              |  lt.n AS n_total, lt.t AS absent_bound
              |FROM hh h JOIN lt ON lt.lang = h.lang
              |WHERE h.rank <= 5
              |ORDER BY h.lang, h.rank""".stripMargin)),

    // ------------------------------------------------------------------
    // Histogram serving read off HDR state (Sketches.hdrHistogram —
    // the dashboard projection over the persisted bucket plane):
    // per-language document-length histogram with exact tiling value
    // ranges (value_hi = the next bucket id's canonical value, octave
    // roll included), running counts and cumulative shares. All
    // arithmetic on the skinny state; the corpus is never re-read.
    QuerySpec(
      "q274_hdr_histogram",
      (s, dir) => {
        val m = 8
        val docs = Tables.documents(s, dir)
        val sk = graft.ops.Sketches.hdrSketch(
          docs.select(col("lang"), col("n_chars")),
          Seq("lang"), "n_chars", m)
        graft.ops.Sketches.hdrHistogram(sk, Seq("lang"), m)
          .orderBy("lang", "bucket")
      },
      Some("""WITH v AS (
             |  SELECT lang, CAST(n_chars AS BIGINT) AS v
             |  FROM documents WHERE n_chars >= 1),
             |b AS (
             |  SELECT lang,
             |    CAST(length(bin(v)) - 1 AS BIGINT) * 8
             |      + ((v - (1::BIGINT << CAST(length(bin(v)) - 1 AS INT)))
             |          * 8)
             |        // (1::BIGINT << CAST(length(bin(v)) - 1 AS INT))
             |      AS bucket
             |  FROM v),
             |c AS (
             |  SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM b GROUP BY 1, 2),
             |h AS (
             |  SELECT lang, bucket,
             |    CAST((1::BIGINT << CAST(bucket // 8 AS INT))
             |      + ((bucket % 8)
             |         * (1::BIGINT << CAST(bucket // 8 AS INT))) // 8
             |      AS BIGINT) AS value_lo,
             |    CAST((1::BIGINT << CAST((bucket + 1) // 8 AS INT))
             |      + (((bucket + 1) % 8)
             |         * (1::BIGINT << CAST((bucket + 1) // 8 AS INT))) // 8
             |      AS BIGINT) AS value_hi,
             |    cnt,
             |    CAST(SUM(cnt) OVER (PARTITION BY lang ORDER BY bucket
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt,
             |    CAST(SUM(cnt) OVER (PARTITION BY lang ORDER BY bucket
             |        ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             |      / CAST(SUM(cnt) OVER (PARTITION BY lang) AS DOUBLE)
             |      AS cum_pct
             |  FROM c)
             |SELECT lang, bucket, value_lo, value_hi, cnt, cum_cnt,
             |  cum_pct
             |FROM h ORDER BY lang, bucket""".stripMargin)),

    // ------------------------------------------------------------------
    // HyperBall neighborhood function (WebGraph.neighborhoodFunction —
    // Boldi & Vigna ICDMW'13; the r17 verdict's named extension gap):
    // per-node HLL register planes folded by register-MAX per BFS
    // round over a planted 96-node double-expander (i → 2i+1, 3i+2
    // mod 97; node 96's edges are all self-loops, so it is outside the
    // node universe), run to the register fixpoint, each round's
    // N(t) = Σ_v estimate(B_t(v)) as an order-independent DECIMAL sum.
    // Exact N(t) from distanceDistribution alongside and a ±15%
    // in-band verdict. The oracle replays the closure (bounded-depth
    // recursive CTE), the q239-certified register/estimate arithmetic
    // per (source, t), and the same Σrho fixpoint filter — the
    // register dynamics are monotone, so a stalled Σrho can never
    // regrow and both engines emit exactly t = 0..T_fixpoint.
    QuerySpec(
      "q275_neighborhood_function",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        def host(c: String) = concat(lit("h"), expr(c).cast("string"),
          lit(".example.org"))
        val base = docs.select(expr("doc_id % 97").as("n")).distinct()
        val e = base.select(host("n").as("src_host"),
            host("pmod(2*n+1, 97)").as("dst_host"))
          .unionByName(base.select(host("n").as("src_host"),
            host("pmod(3*n+2, 97)").as("dst_host")))
        // overlap the two independent driver loops (the q281 pattern)
        import scala.concurrent.Await
        import scala.concurrent.ExecutionContext.Implicits.global
        val fNf = graft.ops.Par.grouped(graft.ops.WebGraph.neighborhoodFunction(
          e, "src_host", "dst_host", maxT = 16, p = 9))
        val fEx = graft.ops.Par.grouped(graft.ops.WebGraph.distanceDistribution(
          e, "src_host", "dst_host", nSources = 4096, maxDepth = 16))
        val nf = Await.result(fNf,
          scala.concurrent.duration.Duration.Inf)
        val ex = Await.result(fEx,
          scala.concurrent.duration.Duration.Inf)
        nf.join(ex.withColumnRenamed("n_pairs", "n_exact"), Seq("t"))
          .select(col("t"), col("nf_est"), col("n_exact"),
            (abs(col("nf_est") / col("n_exact").cast("double") -
              lit(1.0)) <= lit(0.15)).as("within_band"))
          .orderBy("t")
      },
      Some(s"""WITH RECURSIVE
             |bb AS (SELECT DISTINCT doc_id % 97 AS n FROM documents),
             |raw AS (
             |  SELECT 'h' || CAST(n AS VARCHAR) || '.example.org' AS src,
             |    'h' || CAST((2*n+1) % 97 AS VARCHAR) || '.example.org'
             |      AS dst
             |  FROM bb
             |  UNION ALL
             |  SELECT 'h' || CAST(n AS VARCHAR) || '.example.org',
             |    'h' || CAST((3*n+2) % 97 AS VARCHAR) || '.example.org'
             |  FROM bb),
             |e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
             |nodes AS (SELECT DISTINCT node FROM
             |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e) u),
             |reach(s, v, d) AS (
             |  SELECT node, node, 0 FROM nodes
             |  UNION
             |  SELECT reach.s, e.dst, reach.d + 1
             |  FROM reach JOIN e ON e.src = reach.v WHERE reach.d < 16),
             |reachm AS MATERIALIZED (SELECT * FROM reach),
             |md AS (SELECT s, v, MIN(d) AS d FROM reachm GROUP BY 1, 2),
             |ts AS (SELECT DISTINCT d AS t FROM md),
             |hb AS (SELECT s, d, CAST($h48Sql AS BIGINT) AS h
             |       FROM (SELECT s, d, md5(v) AS m FROM md) q),
             |hr AS (SELECT s, d, h >> 39 AS bucket,
             |         CASE WHEN (h & 549755813887) = 0 THEN 40
             |           ELSE 40 - length(bin(h & 549755813887)) END AS rho
             |       FROM hb),
             |reg AS (SELECT ts.t, hr.s, hr.bucket, MAX(hr.rho) AS rho_max
             |        FROM ts JOIN hr ON hr.d <= ts.t GROUP BY 1, 2, 3),
             |rs AS (SELECT t, SUM(rho_max) AS rho_sum FROM reg
             |       GROUP BY 1),
             |keep AS (SELECT t FROM (
             |    SELECT t, rho_sum, LAG(rho_sum) OVER (ORDER BY t)
             |      AS prev FROM rs) x
             |  WHERE prev IS NULL OR rho_sum > prev),
             |ag AS (SELECT t, s, COUNT(*) AS hit,
             |    CAST(SUM(CAST(1 AS BIGINT)
             |      << (40 - CAST(rho_max AS INT))) AS BIGINT) AS sm
             |  FROM reg WHERE t IN (SELECT t FROM keep) GROUP BY 1, 2),
             |ee AS (SELECT t, s, hit,
             |    sm + (512 - hit) * (CAST(1 AS BIGINT) << 40) AS sall,
             |    512 - hit AS ve
             |  FROM ag),
             |es AS (SELECT t, s,
             |    CASE WHEN (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0
             |        * 512.0 * 1099511627776.0 / CAST(sall AS DOUBLE)
             |          <= 2.5 * 512.0 AND ve > 0
             |      THEN CAST(CAST(512.0 * ln(512.0 / CAST(ve AS DOUBLE))
             |        AS DECIMAL(18,12)) AS DOUBLE)
             |      ELSE (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0
             |        * 1099511627776.0 / CAST(sall AS DOUBLE)
             |    END AS est
             |  FROM ee),
             |nf AS (SELECT t,
             |    CAST(CAST(SUM(CAST(est AS DECIMAL(27,12))) AS VARCHAR)
             |      AS DOUBLE) AS nf_est
             |  FROM es GROUP BY 1),
             |ex AS (SELECT ts.t, CAST(COUNT(*) AS BIGINT) AS n_exact
             |       FROM ts JOIN md ON md.d <= ts.t GROUP BY 1)
             |SELECT CAST(nf.t AS INT) AS t, nf.nf_est, ex.n_exact,
             |  ABS(nf.nf_est / CAST(ex.n_exact AS DOUBLE) - 1.0) <= 0.15
             |    AS within_band
             |FROM nf JOIN ex ON ex.t = nf.t
             |ORDER BY t""".stripMargin)),

    // ------------------------------------------------------------------
    // 90% effective diameter (WebGraph.effectiveDiameter — the
    // Boldi-Vigna serving read off the q275 neighborhood function):
    // interpolated hop count where N(t) first reaches 0.9·N(T). The
    // oracle replays the full q275 register table, then the same
    // max_by/lag/threshold arithmetic — every operand string-bridged,
    // so the single row is bit-equal.
    QuerySpec(
      "q276_effective_diameter",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        def host(c: String) = concat(lit("h"), expr(c).cast("string"),
          lit(".example.org"))
        val base = docs.select(expr("doc_id % 97").as("n")).distinct()
        val e = base.select(host("n").as("src_host"),
            host("pmod(2*n+1, 97)").as("dst_host"))
          .unionByName(base.select(host("n").as("src_host"),
            host("pmod(3*n+2, 97)").as("dst_host")))
        val nf = graft.ops.WebGraph.neighborhoodFunction(
          e, "src_host", "dst_host", maxT = 16, p = 9)
        graft.ops.WebGraph.effectiveDiameter(nf, q = 0.9)
      },
      Some(s"""WITH RECURSIVE
             |bb AS (SELECT DISTINCT doc_id % 97 AS n FROM documents),
             |raw AS (
             |  SELECT 'h' || CAST(n AS VARCHAR) || '.example.org' AS src,
             |    'h' || CAST((2*n+1) % 97 AS VARCHAR) || '.example.org'
             |      AS dst
             |  FROM bb
             |  UNION ALL
             |  SELECT 'h' || CAST(n AS VARCHAR) || '.example.org',
             |    'h' || CAST((3*n+2) % 97 AS VARCHAR) || '.example.org'
             |  FROM bb),
             |e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
             |nodes AS (SELECT DISTINCT node FROM
             |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e) u),
             |reach(s, v, d) AS (
             |  SELECT node, node, 0 FROM nodes
             |  UNION
             |  SELECT reach.s, e.dst, reach.d + 1
             |  FROM reach JOIN e ON e.src = reach.v WHERE reach.d < 16),
             |reachm AS MATERIALIZED (SELECT * FROM reach),
             |md AS (SELECT s, v, MIN(d) AS d FROM reachm GROUP BY 1, 2),
             |ts AS (SELECT DISTINCT d AS t FROM md),
             |hb AS (SELECT s, d, CAST($h48Sql AS BIGINT) AS h
             |       FROM (SELECT s, d, md5(v) AS m FROM md) q),
             |hr AS (SELECT s, d, h >> 39 AS bucket,
             |         CASE WHEN (h & 549755813887) = 0 THEN 40
             |           ELSE 40 - length(bin(h & 549755813887)) END AS rho
             |       FROM hb),
             |reg AS (SELECT ts.t, hr.s, hr.bucket, MAX(hr.rho) AS rho_max
             |        FROM ts JOIN hr ON hr.d <= ts.t GROUP BY 1, 2, 3),
             |rs AS (SELECT t, SUM(rho_max) AS rho_sum FROM reg
             |       GROUP BY 1),
             |keep AS (SELECT t FROM (
             |    SELECT t, rho_sum, LAG(rho_sum) OVER (ORDER BY t)
             |      AS prev FROM rs) x
             |  WHERE prev IS NULL OR rho_sum > prev),
             |ag AS (SELECT t, s, COUNT(*) AS hit,
             |    CAST(SUM(CAST(1 AS BIGINT)
             |      << (40 - CAST(rho_max AS INT))) AS BIGINT) AS sm
             |  FROM reg WHERE t IN (SELECT t FROM keep) GROUP BY 1, 2),
             |ee AS (SELECT t, s, hit,
             |    sm + (512 - hit) * (CAST(1 AS BIGINT) << 40) AS sall,
             |    512 - hit AS ve
             |  FROM ag),
             |es AS (SELECT t, s,
             |    CASE WHEN (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0
             |        * 512.0 * 1099511627776.0 / CAST(sall AS DOUBLE)
             |          <= 2.5 * 512.0 AND ve > 0
             |      THEN CAST(CAST(512.0 * ln(512.0 / CAST(ve AS DOUBLE))
             |        AS DECIMAL(18,12)) AS DOUBLE)
             |      ELSE (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0
             |        * 1099511627776.0 / CAST(sall AS DOUBLE)
             |    END AS est
             |  FROM ee),
             |nf AS (SELECT t,
             |    CAST(CAST(SUM(CAST(est AS DECIMAL(27,12))) AS VARCHAR)
             |      AS DOUBLE) AS nf_est
             |  FROM es GROUP BY 1),
             |fin AS (SELECT max_by(nf_est, t) AS nff FROM nf),
             |cand AS (SELECT nf.t, nf.nf_est,
             |    LAG(nf.nf_est) OVER (ORDER BY nf.t) AS prev,
             |    0.9 * fin.nff AS thr, fin.nff AS nff
             |  FROM nf, fin),
             |hit AS (SELECT * FROM cand WHERE nf_est >= thr
             |        ORDER BY t LIMIT 1)
             |SELECT CASE WHEN prev IS NULL THEN CAST(t AS DOUBLE)
             |    WHEN nf_est - prev <= 0.0 THEN CAST(t AS DOUBLE)
             |    ELSE CAST(t - 1 AS DOUBLE) + (thr - prev)
             |      / (nf_est - prev) END AS effective_diameter,
             |  CAST(t AS INT) AS t_hit, nff AS nf_final
             |FROM hit""".stripMargin)),

    // ------------------------------------------------------------------
    // Time-windowed drift serving off per-day HDR leaves
    // (Sketches.hdrWindowRead → hdrPsiGate — the r17 verdict's "last N
    // days vs prior N days" gap: the state sinks fold all-time, the
    // gates compare states the caller had to keep; this keeps ONE leaf
    // per day and folds only the window's leaves at read time): PSI/JS
    // drift of the event-payload-size distribution, last 10 days vs
    // the prior 10, both windows read from the SAME per-day state
    // against its own day frontier — no dates hard-coded. Because
    // bucket-count merge is lossless the window read is bit-equal to a
    // direct build on the window's rows, which is exactly what the
    // oracle does: it builds each window straight from raw rows and
    // replays the q263 PSI arithmetic — hash equality IS the
    // window-read == direct-build proof.
    QuerySpec(
      "q277_hdr_window_drift",
      (s, dir) => {
        val m = 8
        val ev = Tables.events(s, dir)
          .select(expr("(ts_ns div 1000) div 86400000000").as("day"),
            length(col("props")).as("psize"))
        val st = graft.ops.Sketches.hdrSketch(ev, Seq("day"), "psize", m)
        val recent = graft.ops.Sketches.hdrWindowRead(
          st, Seq.empty, "day", lastN = 10, endOffset = 0)
        val prior = graft.ops.Sketches.hdrWindowRead(
          st, Seq.empty, "day", lastN = 10, endOffset = 10)
        graft.ops.Sketches.hdrPsiGate(recent, prior, psiAlert = 0.2)
      },
      Some("""WITH d AS (
             |  SELECT epoch_us(ts) // 86400000000 AS day,
             |    CAST(len(props) AS BIGINT) AS v
             |  FROM events WHERE props IS NOT NULL AND len(props) >= 1),
             |mx AS (SELECT MAX(day) AS maxd FROM d),
             |w AS (
             |  SELECT CASE WHEN day > maxd - 10 THEN 'a' ELSE 'b' END
             |    AS g, v
             |  FROM d, mx WHERE day > maxd - 20),
             |b AS (
             |  SELECT g,
             |    CAST(length(bin(v)) - 1 AS BIGINT) * 8
             |      + ((v - (1::BIGINT << CAST(length(bin(v)) - 1 AS INT)))
             |          * 8)
             |        // (1::BIGINT << CAST(length(bin(v)) - 1 AS INT))
             |      AS bucket
             |  FROM w),
             |c AS (SELECT g, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
             |p AS (
             |  SELECT bucket,
             |    CAST(SUM(CASE WHEN g = 'a' THEN cnt ELSE 0 END)
             |      AS BIGINT) AS ca,
             |    CAST(SUM(CASE WHEN g = 'b' THEN cnt ELSE 0 END)
             |      AS BIGINT) AS cb
             |  FROM c GROUP BY bucket),
             |r AS (
             |  SELECT bucket, ca, cb,
             |    CAST(SUM(ca) OVER () AS BIGINT) AS na,
             |    CAST(SUM(cb) OVER () AS BIGINT) AS nb,
             |    CAST(COUNT(*) OVER () AS BIGINT) AS bc
             |  FROM p),
             |t AS (
             |  SELECT na, nb, bc,
             |    CAST((CAST(ca + 1 AS DOUBLE) / CAST(na + bc AS DOUBLE)
             |        - CAST(cb + 1 AS DOUBLE) / CAST(nb + bc AS DOUBLE))
             |      * ln((CAST(ca + 1 AS DOUBLE) * CAST(nb + bc AS DOUBLE))
             |        / (CAST(cb + 1 AS DOUBLE) * CAST(na + bc AS DOUBLE)))
             |      AS DECIMAL(18,12)) AS psi_t,
             |    CAST((CAST(ca + 1 AS DOUBLE) / CAST(na + bc AS DOUBLE)
             |        * ln(2.0 * (CAST(ca + 1 AS DOUBLE)
             |            / CAST(na + bc AS DOUBLE))
             |          / (CAST(ca + 1 AS DOUBLE) / CAST(na + bc AS DOUBLE)
             |            + CAST(cb + 1 AS DOUBLE) / CAST(nb + bc AS DOUBLE)))
             |      + CAST(cb + 1 AS DOUBLE) / CAST(nb + bc AS DOUBLE)
             |        * ln(2.0 * (CAST(cb + 1 AS DOUBLE)
             |            / CAST(nb + bc AS DOUBLE))
             |          / (CAST(ca + 1 AS DOUBLE) / CAST(na + bc AS DOUBLE)
             |            + CAST(cb + 1 AS DOUBLE) / CAST(nb + bc AS DOUBLE))))
             |      * 0.5 AS DECIMAL(18,12)) AS js_t
             |  FROM r),
             |m AS (
             |  SELECT MAX(na) AS na, MAX(nb) AS nb,
             |    COUNT(*) AS n_buckets,
             |    SUM(psi_t) AS psi_s, SUM(js_t) AS js_s
             |  FROM t)
             |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
             |  CAST(n_buckets AS BIGINT) AS n_buckets,
             |  CAST(CAST(psi_s AS VARCHAR) AS DOUBLE) AS psi,
             |  CAST(CAST(js_s AS VARCHAR) AS DOUBLE) AS js_divergence,
             |  CAST(CAST(psi_s AS VARCHAR) AS DOUBLE) > 0.2 AS drift_alert
             |FROM m""".stripMargin)),

    // ------------------------------------------------------------------
    // Time-windowed heavy-hitter shift off per-day top-k leaves
    // (Sketches.topkWindowRead → topkShift — the frequent-items half of
    // the windowed drift story): WHICH heavy users moved between the
    // last 10 days and the prior 10, both windows folded at read time
    // from the same per-day k=20 leaf state (counter addition — exactly
    // the leafCols build on the window's rows, bounds stay honest).
    // The oracle replays the per-day leaf builds, both window folds and
    // the full q265 bounded shift read.
    QuerySpec(
      "q278_topk_window_shift",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(expr("(ts_ns div 1000) div 86400000000").as("day"),
            col("user_id"))
        val st = graft.ops.Sketches.topkSketch(
          ev, Seq("day"), "user_id", 20)
        val recent = graft.ops.Sketches.topkWindowRead(
          st, Seq.empty, "day", lastN = 10, endOffset = 0)
        val prior = graft.ops.Sketches.topkWindowRead(
          st, Seq.empty, "day", lastN = 10, endOffset = 10)
        graft.ops.Sketches.topkShift(recent, prior, Seq.empty, k = 10)
          .orderBy("item")
      },
      Some {
        def fold(tag: String, where: String) =
          s"""st_$tag AS (
             |  SELECT item, CAST(SUM(cnt) AS BIGINT) AS cnt,
             |    CAST(SUM(tseen) AS BIGINT) AS tseen
             |  FROM leaf, mx WHERE $where GROUP BY item),
             |m_$tag AS (
             |  SELECT cnt AS nn, tseen AS tt FROM st_$tag
             |  WHERE item IS NULL),
             |it_$tag AS (
             |  SELECT item, cnt, tseen FROM st_$tag
             |  WHERE item IS NOT NULL),
             |hh_$tag AS (
             |  SELECT item, ROW_NUMBER() OVER (ORDER BY cnt DESC, item)
             |    AS rank
             |  FROM it_$tag)""".stripMargin
        s"""WITH d AS (
           |  SELECT epoch_us(ts) // 86400000000 AS day,
           |    CAST(user_id AS VARCHAR) AS item
           |  FROM events WHERE user_id IS NOT NULL),
           |mx AS (SELECT MAX(day) AS maxd FROM d),
           |c AS (SELECT day, item, CAST(COUNT(*) AS BIGINT) AS c
           |      FROM d GROUP BY 1, 2),
           |r AS (SELECT day, item, c,
           |        ROW_NUMBER() OVER (PARTITION BY day
           |          ORDER BY c DESC, item) AS rn
           |      FROM c),
           |lt AS (SELECT day,
           |         COALESCE(MAX(CASE WHEN rn = 21 THEN c END), 0) AS t,
           |         CAST(SUM(c) AS BIGINT) AS n
           |       FROM r GROUP BY day),
           |leaf AS (
           |  SELECT r.day, r.item, r.c AS cnt, lt.t AS tseen
           |  FROM r JOIN lt ON lt.day = r.day WHERE rn <= 20
           |  UNION ALL
           |  SELECT day, CAST(NULL AS VARCHAR), n, t FROM lt),
           |${fold("a", "day > maxd - 10")},
           |${fold("b", "day > maxd - 20 AND day <= maxd - 10")}
           |SELECT COALESCE(ha.item, hb.item) AS item,
           |  CASE WHEN ha.item IS NULL THEN 'entered'
           |    WHEN hb.item IS NULL THEN 'left'
           |    ELSE 'stayed' END AS status,
           |  CAST(ha.rank AS INT) AS rank_a,
           |  CAST(hb.rank AS INT) AS rank_b,
           |  CAST(COALESCE(ia.cnt, 0) AS BIGINT) AS cnt_lb_a,
           |  CAST(COALESCE(ia.cnt + m_a.tt - ia.tseen, m_a.tt, 0)
           |    AS BIGINT) AS cnt_ub_a,
           |  CAST(COALESCE(ib.cnt, 0) AS BIGINT) AS cnt_lb_b,
           |  CAST(COALESCE(ib.cnt + m_b.tt - ib.tseen, m_b.tt, 0)
           |    AS BIGINT) AS cnt_ub_b
           |FROM (SELECT * FROM hh_a WHERE rank <= 10) ha
           |FULL OUTER JOIN (SELECT * FROM hh_b WHERE rank <= 10) hb
           |  ON hb.item = ha.item
           |LEFT JOIN it_a ia ON ia.item = COALESCE(ha.item, hb.item)
           |LEFT JOIN it_b ib ON ib.item = COALESCE(ha.item, hb.item)
           |CROSS JOIN m_a CROSS JOIN m_b
           |ORDER BY item""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Unigram-LM tokenizer trainer (Unigram.train — Kudo ACL'18, the
    // SentencePiece family; the r17 verdict's named tokenizer gap):
    // frequent-substring seed + 2 hard-EM rounds (Viterbi E-step — every
    // statistic an exact integer, scores exact DECIMAL(18,12) ln ratios)
    // over a planted 6-word corpus drawn per doc_id. The oracle replays
    // the seed, BOTH EM rounds and the pruning; its Viterbi enumerates
    // all segmentations with ONE recursive CTE and picks per word the
    // (score DESC, path ASC) best — equal to the trainer's per-position
    // DP because appending a common suffix preserves string order, so
    // local tie-breaks compose to the global one.
    QuerySpec(
      "q279_unigram_train",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val words = docs.select(element_at(
          typedLit(Seq("banana", "bandana", "ananas", "nana", "band",
            "dana")),
          (col("doc_id") % 6 + 1).cast("int")).as("text"))
        val model = graft.ops.Unigram.train(words, "text",
          vocabSize = 10, maxPieceLen = 3, seedFactor = 2, emRounds = 2)
        graft.ops.Unigram.modelDf(words, model)
          .select(col("piece"), col("cnt"),
            col("score").cast("string").cast("double").as("score"))
          .orderBy(col("cnt").desc, col("piece"))
      },
      Some(s"""WITH RECURSIVE
             |${unigramTrainCtes}
             |SELECT piece, pcnt AS cnt,
             |  CAST(CAST(score AS VARCHAR) AS DOUBLE) AS score
             |FROM sc_2 ORDER BY cnt DESC, piece""".stripMargin)),

    // ------------------------------------------------------------------
    // Unigram Viterbi ENCODE under the q279 model
    // (Unigram.encode → the graft_unigram_encode codegen expression,
    // scores as exact 10^12-scaled longs): every distinct fixture word
    // segmented under the trained scores. The oracle re-trains and runs
    // one more recursive-CTE Viterbi under the FINAL scores — so the
    // row hash certifies the codegen kernel against the pure-SQL
    // segmentation, tie rule included.
    QuerySpec(
      "q280_unigram_encode",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val words = docs.select(element_at(
          typedLit(Seq("banana", "bandana", "ananas", "nana", "band",
            "dana")),
          (col("doc_id") % 6 + 1).cast("int")).as("text"))
        val model = graft.ops.Unigram.train(words, "text",
          vocabSize = 10, maxPieceLen = 3, seedFactor = 2, emRounds = 2)
        graft.ops.Unigram.encode(words.distinct(), "text", model)
          .select(col("text").as("w"),
            array_join(col("unigram_tokens"), " ").as("toks"))
          .orderBy("w")
      },
      Some(s"""WITH RECURSIVE
             |${unigramTrainCtes},
             |vm_3 AS (
             |  SELECT s.w, s.st, s.en, s.piece, v.score
             |  FROM sub s JOIN sc_2 v ON v.piece = s.piece),
             |seg_3(w, pos, score, path) AS (
             |  SELECT w, 0, CAST(0 AS DECIMAL(18,12)), '' FROM words
             |  UNION ALL
             |  SELECT g.w, v.en, CAST(g.score + v.score AS DECIMAL(18,12)),
             |    CASE WHEN g.path = '' THEN v.piece
             |         ELSE g.path || ' ' || v.piece END
             |  FROM seg_3 g JOIN vm_3 v ON v.w = g.w AND v.st = g.pos + 1)
             |SELECT w, path AS toks FROM (
             |  SELECT g.w, g.path, ROW_NUMBER() OVER (PARTITION BY g.w
             |      ORDER BY g.score DESC, g.path) AS rn
             |  FROM seg_3 g WHERE g.pos = len(g.w)) x
             |WHERE rn = 1 ORDER BY w""".stripMargin)),

    // ------------------------------------------------------------------
    // HyperBall HARMONIC centrality (WebGraph.hyperballHarmonic —
    // Boldi-Vigna ICDMW'13's headline application): per-node
    // Σ_{u reaching v} 1/d(u,v) estimated from INBOUND register-plane
    // shell sizes, H(v) = Σ_t (|B_t|−|B_{t−1}|)/t, on the q275
    // expander; exact sampled-BFS harmonicCloseness alongside with a
    // ±10% per-node verdict (per-node HLL shells are noisier than the
    // q275 corpus-level sums — the certified trade for O(|V|·2^p)
    // state instead of O(|V|²) closure). The oracle reuses the q275
    // closure keyed by TARGET node, replays the register estimates at
    // every depth (frozen registers make post-fixpoint shells exactly
    // 0, so no fixpoint filter is needed), the clamped shell sums and
    // the exact floor-div harmonic.
    QuerySpec(
      "q281_hyperball_harmonic",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        def host(c: String) = concat(lit("h"), expr(c).cast("string"),
          lit(".example.org"))
        val base = docs.select(expr("doc_id % 97").as("n")).distinct()
        val e = base.select(host("n").as("src_host"),
            host("pmod(2*n+1, 97)").as("dst_host"))
          .unionByName(base.select(host("n").as("src_host"),
            host("pmod(3*n+2, 97)").as("dst_host")))
        // the register iteration and the exact-BFS verdict are
        // independent level-synchronous driver loops — overlap their
        // construction on two threads (the SCC fwd/bwd reach pattern)
        // so one latency chain hides behind the other
        import scala.concurrent.Await
        import scala.concurrent.ExecutionContext.Implicits.global
        val fEst = graft.ops.Par.grouped(graft.ops.WebGraph.hyperballHarmonic(
          e, "src_host", "dst_host", maxT = 16, p = 9))
        val fExact = graft.ops.Par.grouped(graft.ops.WebGraph.harmonicCloseness(
          e, "src_host", "dst_host", nSources = 4096, maxDepth = 16))
        val est = Await.result(fEst,
          scala.concurrent.duration.Duration.Inf)
        val exact = Await.result(fExact,
          scala.concurrent.duration.Duration.Inf)
        est.join(exact.select(col("node"), col("harmonic")), Seq("node"))
          .select(col("node"), col("harmonic_est"),
            col("harmonic").as("harmonic_exact"),
            when(col("harmonic") === 0.0, col("harmonic_est") === 0.0)
              .otherwise(abs(col("harmonic_est") / col("harmonic") -
                lit(1.0)) <= lit(0.10)).as("within_band"))
          .orderBy("node")
      },
      Some(s"""WITH RECURSIVE
             |bb AS (SELECT DISTINCT doc_id % 97 AS n FROM documents),
             |raw AS (
             |  SELECT 'h' || CAST(n AS VARCHAR) || '.example.org' AS src,
             |    'h' || CAST((2*n+1) % 97 AS VARCHAR) || '.example.org'
             |      AS dst
             |  FROM bb
             |  UNION ALL
             |  SELECT 'h' || CAST(n AS VARCHAR) || '.example.org',
             |    'h' || CAST((3*n+2) % 97 AS VARCHAR) || '.example.org'
             |  FROM bb),
             |e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
             |nodes AS (SELECT DISTINCT node FROM
             |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e) u),
             |reach(s, v, d) AS (
             |  SELECT node, node, 0 FROM nodes
             |  UNION
             |  SELECT reach.s, e.dst, reach.d + 1
             |  FROM reach JOIN e ON e.src = reach.v WHERE reach.d < 16),
             |reachm AS MATERIALIZED (SELECT * FROM reach),
             |md AS (SELECT s, v, MIN(d) AS d FROM reachm GROUP BY 1, 2),
             |ts AS (SELECT DISTINCT d AS t FROM md),
             |hb AS (SELECT v, d, CAST($h48Sql AS BIGINT) AS h
             |       FROM (SELECT v, d, md5(s) AS m FROM md) q),
             |hr AS (SELECT v, d, h >> 39 AS bucket,
             |         CASE WHEN (h & 549755813887) = 0 THEN 40
             |           ELSE 40 - length(bin(h & 549755813887)) END AS rho
             |       FROM hb),
             |reg AS (SELECT ts.t, hr.v, hr.bucket, MAX(hr.rho) AS rho_max
             |        FROM ts JOIN hr ON hr.d <= ts.t GROUP BY 1, 2, 3),
             |ag AS (SELECT t, v, COUNT(*) AS hit,
             |    CAST(SUM(CAST(1 AS BIGINT)
             |      << (40 - CAST(rho_max AS INT))) AS BIGINT) AS sm
             |  FROM reg GROUP BY 1, 2),
             |ee AS (SELECT t, v, hit,
             |    sm + (512 - hit) * (CAST(1 AS BIGINT) << 40) AS sall,
             |    512 - hit AS ve
             |  FROM ag),
             |es AS (SELECT t, v,
             |    CASE WHEN (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0
             |        * 512.0 * 1099511627776.0 / CAST(sall AS DOUBLE)
             |          <= 2.5 * 512.0 AND ve > 0
             |      THEN CAST(CAST(512.0 * ln(512.0 / CAST(ve AS DOUBLE))
             |        AS DECIMAL(18,12)) AS DOUBLE)
             |      ELSE (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0
             |        * 1099511627776.0 / CAST(sall AS DOUBLE)
             |    END AS est
             |  FROM ee),
             |sh AS (SELECT v,
             |    CAST(greatest(est - LAG(est) OVER (PARTITION BY v
             |        ORDER BY t), 0.0) / CAST(t AS DOUBLE)
             |      AS DECIMAL(27,12)) AS term, t
             |  FROM es),
             |he AS (SELECT v,
             |    CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE) AS harmonic_est
             |  FROM sh WHERE t >= 1 GROUP BY v),
             |hx AS (SELECT md.v,
             |    CAST(SUM(1000000000000 // d) AS BIGINT) AS h_scaled
             |  FROM md WHERE d >= 1 GROUP BY md.v),
             |ex AS (SELECT n.node,
             |    CAST(COALESCE(hx.h_scaled, 0) AS DOUBLE)
             |      / 1000000000000.0 AS harmonic_exact
             |  FROM nodes n LEFT JOIN hx ON hx.v = n.node)
             |SELECT ex.node, he.harmonic_est, ex.harmonic_exact,
             |  CASE WHEN ex.harmonic_exact = 0.0
             |    THEN he.harmonic_est = 0.0
             |    ELSE ABS(he.harmonic_est / ex.harmonic_exact - 1.0)
             |      <= 0.10 END AS within_band
             |FROM ex JOIN he ON he.v = ex.node
             |ORDER BY ex.node""".stripMargin)),

    // ------------------------------------------------------------------
    // Tokenizer fertility / compression report (the metric tokenizer
    // choices are actually made on — pieces per word and characters per
    // piece, corpus-weighted): the q279 unigram model applied to the
    // full planted corpus via the codegen Viterbi kernel, folded to ONE
    // exact-integer row + two IEEE divisions of exact integers. The oracle
    // replays training, the per-word-type Viterbi (recursive CTE), and
    // re-weights by word counts — certifying the codegen encode's
    // aggregate behavior, not just per-word paths.
    QuerySpec(
      "q282_tokenizer_fertility",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val words = docs.select(element_at(
          typedLit(Seq("banana", "bandana", "ananas", "nana", "band",
            "dana")),
          (col("doc_id") % 6 + 1).cast("int")).as("text"))
        val model = graft.ops.Unigram.train(words, "text",
          vocabSize = 10, maxPieceLen = 3, seedFactor = 2, emRounds = 2)
        graft.ops.Unigram.encode(words, "text", model)
          .select(length(col("text")).cast("bigint").as("__chars"),
            size(col("unigram_tokens")).cast("bigint").as("__toks"))
          .groupBy()
          .agg(count(lit(1)).as("n_words"),
            sum(col("__toks")).as("n_tokens"),
            sum(col("__chars")).as("n_chars"))
          .select(col("n_words"), col("n_tokens"), col("n_chars"),
            (col("n_tokens").cast("double") /
              col("n_words").cast("double")).as("tokens_per_word"),
            (col("n_chars").cast("double") /
              col("n_tokens").cast("double")).as("chars_per_token"))
      },
      Some(s"""WITH RECURSIVE
             |${unigramTrainCtes},
             |vm_3 AS (
             |  SELECT s.w, s.st, s.en, s.piece, v.score
             |  FROM sub s JOIN sc_2 v ON v.piece = s.piece),
             |seg_3(w, pos, score, path) AS (
             |  SELECT w, 0, CAST(0 AS DECIMAL(18,12)), '' FROM words
             |  UNION ALL
             |  SELECT g.w, v.en, CAST(g.score + v.score AS DECIMAL(18,12)),
             |    CASE WHEN g.path = '' THEN v.piece
             |         ELSE g.path || ' ' || v.piece END
             |  FROM seg_3 g JOIN vm_3 v ON v.w = g.w AND v.st = g.pos + 1),
             |enc AS (
             |  SELECT w, path FROM (
             |    SELECT g.w, g.path, ROW_NUMBER() OVER (PARTITION BY g.w
             |        ORDER BY g.score DESC, g.path) AS rn
             |    FROM seg_3 g WHERE g.pos = len(g.w)) x
             |  WHERE rn = 1),
             |m AS (
             |  SELECT CAST(SUM(ww.cnt) AS BIGINT) AS n_words,
             |    CAST(SUM(ww.cnt * len(string_split(e.path, ' ')))
             |      AS BIGINT) AS n_tokens,
             |    CAST(SUM(ww.cnt * len(ww.w)) AS BIGINT) AS n_chars
             |  FROM enc e JOIN words ww ON ww.w = e.w)
             |SELECT n_words, n_tokens, n_chars,
             |  CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE)
             |    AS tokens_per_word,
             |  CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)
             |    AS chars_per_token
             |FROM m""".stripMargin)),

    // ------------------------------------------------------------------
    // HyperBall closeness / Lin's index (WebGraph.hyperballCloseness —
    // the Boldi-Vigna centrality trio's third member after q275 N(t)
    // and q281 harmonic): per-node inbound reach, total distance
    // Σ t·shell_t, and Lin's (R−1)²/S off the register shells, judged
    // in-band against the exact per-node distanceMoments (±15% on the
    // compounded index; the reach and totals read within a few
    // percent). The oracle reuses the q281 register chain and the
    // exact closure moments.
    QuerySpec(
      "q283_hyperball_closeness",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        def host(c: String) = concat(lit("h"), expr(c).cast("string"),
          lit(".example.org"))
        val base = docs.select(expr("doc_id % 97").as("n")).distinct()
        val e = base.select(host("n").as("src_host"),
            host("pmod(2*n+1, 97)").as("dst_host"))
          .unionByName(base.select(host("n").as("src_host"),
            host("pmod(3*n+2, 97)").as("dst_host")))
        // overlap the two independent driver loops (the q281 pattern)
        import scala.concurrent.Await
        import scala.concurrent.ExecutionContext.Implicits.global
        val fEst = graft.ops.Par.grouped(graft.ops.WebGraph.hyperballCloseness(
          e, "src_host", "dst_host", maxT = 16, p = 9))
        val fEx = graft.ops.Par.grouped(graft.ops.WebGraph.distanceMoments(
          e, "src_host", "dst_host", nSources = 4096, maxDepth = 16))
        val est = Await.result(fEst,
          scala.concurrent.duration.Duration.Inf)
        val ex = Await.result(fEx,
          scala.concurrent.duration.Duration.Inf)
        est.join(ex, Seq("node"))
          .select(col("node"), col("reach_est"), col("total_dist_est"),
            col("lin_est"), col("n_reached"), col("total_dist"),
            when(col("total_dist") > 0L,
              (col("n_reached") - 1L).cast("double") *
                (col("n_reached") - 1L).cast("double") /
                col("total_dist").cast("double"))
              .otherwise(lit(0.0)).as("lin_exact"))
          .withColumn("within_band",
            when(col("lin_exact") === 0.0, col("lin_est") === 0.0)
              .otherwise(abs(col("lin_est") / col("lin_exact") -
                lit(1.0)) <= lit(0.15)))
          .orderBy("node")
      },
      Some(s"""WITH RECURSIVE
             |bb AS (SELECT DISTINCT doc_id % 97 AS n FROM documents),
             |raw AS (
             |  SELECT 'h' || CAST(n AS VARCHAR) || '.example.org' AS src,
             |    'h' || CAST((2*n+1) % 97 AS VARCHAR) || '.example.org'
             |      AS dst
             |  FROM bb
             |  UNION ALL
             |  SELECT 'h' || CAST(n AS VARCHAR) || '.example.org',
             |    'h' || CAST((3*n+2) % 97 AS VARCHAR) || '.example.org'
             |  FROM bb),
             |e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
             |nodes AS (SELECT DISTINCT node FROM
             |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e) u),
             |reach(s, v, d) AS (
             |  SELECT node, node, 0 FROM nodes
             |  UNION
             |  SELECT reach.s, e.dst, reach.d + 1
             |  FROM reach JOIN e ON e.src = reach.v WHERE reach.d < 16),
             |reachm AS MATERIALIZED (SELECT * FROM reach),
             |md AS (SELECT s, v, MIN(d) AS d FROM reachm GROUP BY 1, 2),
             |ts AS (SELECT DISTINCT d AS t FROM md),
             |hb AS (SELECT v, d, CAST($h48Sql AS BIGINT) AS h
             |       FROM (SELECT v, d, md5(s) AS m FROM md) q),
             |hr AS (SELECT v, d, h >> 39 AS bucket,
             |         CASE WHEN (h & 549755813887) = 0 THEN 40
             |           ELSE 40 - length(bin(h & 549755813887)) END AS rho
             |       FROM hb),
             |reg AS (SELECT ts.t, hr.v, hr.bucket, MAX(hr.rho) AS rho_max
             |        FROM ts JOIN hr ON hr.d <= ts.t GROUP BY 1, 2, 3),
             |ag AS (SELECT t, v, COUNT(*) AS hit,
             |    CAST(SUM(CAST(1 AS BIGINT)
             |      << (40 - CAST(rho_max AS INT))) AS BIGINT) AS sm
             |  FROM reg GROUP BY 1, 2),
             |ee AS (SELECT t, v, hit,
             |    sm + (512 - hit) * (CAST(1 AS BIGINT) << 40) AS sall,
             |    512 - hit AS ve
             |  FROM ag),
             |es AS (SELECT t, v,
             |    CASE WHEN (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0
             |        * 512.0 * 1099511627776.0 / CAST(sall AS DOUBLE)
             |          <= 2.5 * 512.0 AND ve > 0
             |      THEN CAST(CAST(512.0 * ln(512.0 / CAST(ve AS DOUBLE))
             |        AS DECIMAL(18,12)) AS DOUBLE)
             |      ELSE (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0
             |        * 1099511627776.0 / CAST(sall AS DOUBLE)
             |    END AS est
             |  FROM ee),
             |sh AS (SELECT v, t,
             |    CAST(greatest(est - LAG(est) OVER (PARTITION BY v
             |        ORDER BY t), 0.0) * CAST(t AS DOUBLE)
             |      AS DECIMAL(27,12)) AS term,
             |    max_by(est, t) OVER (PARTITION BY v) AS reach
             |  FROM es),
             |he AS (SELECT v, MAX(reach) AS reach_est,
             |    CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE)
             |      AS total_dist_est
             |  FROM sh WHERE t >= 1 GROUP BY v),
             |hx AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n_reached,
             |    CAST(SUM(d) AS BIGINT) AS total_dist
             |  FROM md GROUP BY v)
             |SELECT hx.v AS node, he.reach_est, he.total_dist_est,
             |  CASE WHEN he.total_dist_est > 0.0
             |    THEN (he.reach_est - 1.0) * (he.reach_est - 1.0)
             |      / he.total_dist_est
             |    ELSE 0.0 END AS lin_est,
             |  hx.n_reached, hx.total_dist,
             |  CASE WHEN hx.total_dist > 0
             |    THEN CAST(hx.n_reached - 1 AS DOUBLE)
             |      * CAST(hx.n_reached - 1 AS DOUBLE)
             |      / CAST(hx.total_dist AS DOUBLE)
             |    ELSE 0.0 END AS lin_exact,
             |  CASE WHEN (CASE WHEN hx.total_dist > 0
             |      THEN CAST(hx.n_reached - 1 AS DOUBLE)
             |        * CAST(hx.n_reached - 1 AS DOUBLE)
             |        / CAST(hx.total_dist AS DOUBLE) ELSE 0.0 END) = 0.0
             |    THEN (CASE WHEN he.total_dist_est > 0.0
             |      THEN (he.reach_est - 1.0) * (he.reach_est - 1.0)
             |        / he.total_dist_est ELSE 0.0 END) = 0.0
             |    ELSE ABS((CASE WHEN he.total_dist_est > 0.0
             |      THEN (he.reach_est - 1.0) * (he.reach_est - 1.0)
             |        / he.total_dist_est ELSE 0.0 END)
             |      / (CAST(hx.n_reached - 1 AS DOUBLE)
             |        * CAST(hx.n_reached - 1 AS DOUBLE)
             |        / CAST(hx.total_dist AS DOUBLE)) - 1.0) <= 0.15
             |  END AS within_band
             |FROM hx JOIN he ON he.v = hx.v
             |ORDER BY node""".stripMargin)),

    // ------------------------------------------------------------------
    // WEIGHTED SCC condensation (sccCondense(weightCol) — the crawl
    // planner's view: edge MASS between components, not just distinct
    // link counts): the q267 planted 7-SCC digraph with every raw doc
    // row carrying weight 1, so parallel rows ADD and each quotient
    // edge's weight is its total doc multiplicity — data-driven at
    // every SF. The oracle reuses the q267 closure and aggregates the
    // RAW (pre-distinct) rows for the mass.
    QuerySpec(
      "q284_weighted_condense",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val base = docs.select(col("doc_id"),
            expr("doc_id % 97").as("n"),
            expr("(doc_id % 97) div 14").as("g"))
          .withColumn("gs", expr("g * 14"))
          .withColumn("sz", expr("CASE WHEN g = 6 THEN 13 ELSE 14 END"))
        def host(c: String) = concat(lit("h"), expr(c).cast("string"),
          lit(".example.org"))
        val cyc = base.select(host("n").as("src_host"),
          host("gs + pmod(n - gs + 1, sz)").as("dst_host"))
        val chord = base.filter(expr("doc_id % 5 = 0"))
          .select(host("n").as("src_host"),
            host("gs + pmod(n - gs + 5, sz)").as("dst_host"))
        val cross = base.filter(expr("doc_id % 3 = 0 AND n <= 82"))
          .select(host("n").as("src_host"), host("n + 14").as("dst_host"))
        val edges = cyc.unionByName(chord).unionByName(cross)
          .withColumn("w", lit(1L))
        val comps = graft.ops.WebGraph.stronglyConnectedComponents(
          edges, "src_host", "dst_host",
          pivotsPerRound = 128, maxDepth = 32, maxRounds = 32)
        graft.ops.WebGraph.sccCondense(edges, "src_host", "dst_host",
            comps, weightCol = Some("w"))
          .orderBy("src_component", "dst_component")
      },
      Some("""WITH RECURSIVE bb AS (
             |  SELECT doc_id % 97 AS n, (doc_id % 97) // 14 AS g,
             |    ((doc_id % 97) // 14) * 14 AS gs,
             |    CASE WHEN (doc_id % 97) // 14 = 6 THEN 13 ELSE 14 END
             |      AS sz,
             |    doc_id
             |  FROM documents),
             |raw AS (
             |  SELECT 'h' || CAST(n AS VARCHAR) || '.example.org' AS src,
             |    'h' || CAST(gs + ((n - gs + 1) % sz) AS VARCHAR)
             |      || '.example.org' AS dst
             |  FROM bb
             |  UNION ALL
             |  SELECT 'h' || CAST(n AS VARCHAR) || '.example.org',
             |    'h' || CAST(gs + ((n - gs + 5) % sz) AS VARCHAR)
             |      || '.example.org'
             |  FROM bb WHERE doc_id % 5 = 0
             |  UNION ALL
             |  SELECT 'h' || CAST(n AS VARCHAR) || '.example.org',
             |    'h' || CAST(n + 14 AS VARCHAR) || '.example.org'
             |  FROM bb WHERE doc_id % 3 = 0 AND n <= 82),
             |ew AS MATERIALIZED (
             |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
             |  FROM raw WHERE src <> dst GROUP BY 1, 2),
             |e AS MATERIALIZED (SELECT src, dst FROM ew),
             |nodes AS MATERIALIZED (
             |  SELECT DISTINCT node FROM (
             |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e) t),
             |reach(u, v) AS (
             |  SELECT src, dst FROM e
             |  UNION
             |  SELECT reach.u, e.dst FROM reach JOIN e ON e.src = reach.v),
             |reachm AS MATERIALIZED (SELECT u, v FROM reach),
             |comp AS MATERIALIZED (
             |  SELECT u AS node, MIN(v) AS component FROM (
             |    SELECT node AS u, node AS v FROM nodes
             |    UNION ALL
             |    SELECT r1.u, r1.v FROM reachm r1
             |    JOIN reachm r2 ON r2.u = r1.v AND r2.v = r1.u) t
             |  GROUP BY u)
             |SELECT cs.component AS src_component,
             |  cd.component AS dst_component,
             |  CAST(COUNT(*) AS BIGINT) AS n_edges,
             |  CAST(SUM(ew.w) AS BIGINT) AS weight
             |FROM ew
             |JOIN comp cs ON cs.node = ew.src
             |JOIN comp cd ON cd.node = ew.dst
             |WHERE cs.component <> cd.component
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ------------------------------------------------------------------
    // DoReMi domain reweighting (Curation.domainReweight — Xie et al.
    // NeurIPS'23 exponentiated-gradient / Group-DRO over per-domain
    // excess losses): 5 domains × 7 steps derived from doc_id, per-row
    // excess an exact 10-dp rational k/1024 so every cumulative
    // potential is an exact decimal sum, η = 1/4. The oracle replays
    // the whole trajectory — cell sums, grid densification, per-domain
    // cumsum, per-step max-stabilized softmax — with the q106/q109
    // DECIMAL(18,12) exp/div recipe and VARCHAR-routed wide-decimal →
    // double reads.
    QuerySpec(
      "q285_doremi_reweight",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val losses = docs.select(
          concat(lit("d"), expr("CAST(doc_id % 5 AS STRING)")).as("domain"),
          expr("doc_id % 7").as("step"),
          expr("CAST(doc_id % 13 AS DOUBLE) / 1024.0").as("excess"))
        Curation.domainReweight(losses, "domain", "step", "excess",
            eta = 0.25)
          .orderBy("domain")
      },
      Some("""WITH cells AS (
             |  SELECT 'd' || CAST(doc_id % 5 AS VARCHAR) AS domain,
             |    doc_id % 7 AS step,
             |    CAST(SUM(CAST(GREATEST(CAST(doc_id % 13 AS DOUBLE)
             |        / 1024.0, 0.0) AS DECIMAL(18,12)))
             |      AS DECIMAL(28,12)) AS ex,
             |    CAST(SUM(CAST(CAST(GREATEST(CAST(doc_id % 13 AS DOUBLE)
             |          / 1024.0, 0.0) AS DECIMAL(18,12))
             |        * CAST(0.25 AS DECIMAL(3,2)) AS DECIMAL(22,14)))
             |      AS DECIMAL(30,14)) AS exs
             |  FROM documents GROUP BY 1, 2),
             |grid AS (
             |  SELECT d.domain, st.step,
             |    COALESCE(c.ex, CAST(0 AS DECIMAL(28,12))) AS ex,
             |    COALESCE(c.exs, CAST(0 AS DECIMAL(30,14))) AS exs
             |  FROM (SELECT DISTINCT domain FROM cells) d
             |  CROSS JOIN (SELECT DISTINCT step FROM cells) st
             |  LEFT JOIN cells c ON c.domain = d.domain
             |    AND c.step = st.step),
             |cum AS (
             |  SELECT domain, step, ex,
             |    SUM(exs) OVER (PARTITION BY domain ORDER BY step
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
             |  FROM grid),
             |sf AS (
             |  SELECT domain, step, ex,
             |    CAST(exp(CAST(s - MAX(s) OVER (PARTITION BY step)
             |      AS DOUBLE)) AS DECIMAL(18,12)) AS ez
             |  FROM cum),
             |za AS (
             |  SELECT domain, step, ex, ez,
             |    SUM(ez) OVER (PARTITION BY step) AS z
             |  FROM sf),
             |al AS (
             |  SELECT domain, step, ex,
             |    CAST(CAST(ez AS DOUBLE) / CAST(z AS DOUBLE)
             |      AS DECIMAL(18,12)) AS alpha
             |  FROM za)
             |SELECT domain,
             |  CAST(CAST(SUM(ex) AS VARCHAR) AS DOUBLE) AS excess_total,
             |  CAST(CAST(SUM(alpha) AS VARCHAR) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE) AS weight_avg,
             |  CAST(max_by(alpha, step) AS DOUBLE) AS weight_final
             |FROM al GROUP BY domain ORDER BY domain""".stripMargin)),

    // ------------------------------------------------------------------
    // Kneser-Ney LM perplexity gate (TextOps.knBigramNll — Kneser & Ney
    // ICASSP'95, interpolated per Chen & Goodman'98; the KenLM-family
    // sibling of q109's add-one CCNet gate): trained on the doc_id%3=0
    // third of the corpus, scoring ALL documents so the unseen-bigram /
    // unseen-context backoff paths carry real traffic. D = 3/4. Full
    // oracle: every nll term is ln(den)−ln(num) of exact-BIGINT
    // single-fraction KN probabilities (num/den spelled in the scaladoc)
    // cast to DECIMAL(18,12) — the q106/q109 recipe.
    QuerySpec(
      "q286_kneser_ney",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        TextOps.knBigramNll(docs, "doc_id", "text",
            docs.filter(expr("doc_id % 3 = 0")), "text")
          .orderBy("doc_id")
      },
      Some(s"""WITH tr AS (
              |  SELECT string_split($normSql, ' ') AS toks
              |  FROM documents WHERE doc_id % 3 = 0
              |), trb AS (
              |  SELECT unnest([toks[i] FOR i IN range(1, len(toks))]) AS w1,
              |    unnest([toks[i+1] FOR i IN range(1, len(toks))]) AS w2
              |  FROM tr WHERE len(toks) >= 2
              |), bg AS (
              |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
              |  FROM trb GROUP BY 1, 2
              |), lc AS (
              |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
              |    CAST(COUNT(*) AS BIGINT) AS n1l
              |  FROM bg GROUP BY 1
              |), rc AS (
              |  SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1r FROM bg GROUP BY 1
              |), g AS (
              |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM bg)
              |      + (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) FROM (
              |          SELECT unnest(string_split($normSql, ' ')) AS w
              |          FROM documents WHERE doc_id % 3 = 0))
              |      + 1 AS nsm
              |), t AS (
              |  SELECT doc_id, string_split($normSql, ' ') AS toks
              |  FROM documents
              |), bgd AS (
              |  SELECT doc_id,
              |    unnest([toks[i] FOR i IN range(1, len(toks))]) AS w1,
              |    unnest([toks[i+1] FOR i IN range(1, len(toks))]) AS w2
              |  FROM t WHERE len(toks) >= 2
              |), sc AS (
              |  SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
              |    SUM(CAST(
              |      ln(CAST(CASE WHEN lc.c1 IS NULL THEN g.nsm
              |        ELSE 4 * lc.c1 * g.nsm END AS DOUBLE))
              |      - ln(CAST(CASE WHEN lc.c1 IS NULL
              |          THEN COALESCE(rc.n1r, 0) + 1
              |        ELSE GREATEST(4 * COALESCE(bg.c12, 0) - 3, 0) * g.nsm
              |          + 3 * lc.n1l * (COALESCE(rc.n1r, 0) + 1)
              |        END AS DOUBLE))
              |      AS DECIMAL(18,12))) AS s
              |  FROM bgd d
              |  LEFT JOIN bg ON bg.w1 = d.w1 AND bg.w2 = d.w2
              |  LEFT JOIN lc ON lc.w1 = d.w1
              |  LEFT JOIN rc ON rc.w2 = d.w2
              |  CROSS JOIN g
              |  GROUP BY d.doc_id
              |)
              |SELECT doc.doc_id, COALESCE(sc.n_bigrams, 0) AS n_bigrams,
              |  ROUND(CAST(CAST(sc.s AS VARCHAR) AS DOUBLE)
              |    / CAST(sc.n_bigrams AS DOUBLE), 6) AS avg_nll
              |FROM documents doc LEFT JOIN sc ON sc.doc_id = doc.doc_id
              |ORDER BY doc.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Sentence-level BLEU-4 (TextOps.bleuScore — Papineni et al.
    // ACL'02, strict sacrebleu zeros, no smoothing): every document
    // scored against its 5-block anchor document (doc_id − doc_id%5),
    // so identical pairs (BLEU = 1), partially-overlapping and
    // zero-4-gram pairs all carry traffic. Zero-shuffle per-row array
    // arithmetic on the Spark side; the oracle replays clipped
    // modified precisions by unnest-count-join and the ln/DECIMAL
    // recipe for the geometric mean and brevity penalty.
    QuerySpec(
      "q287_bleu_pairs",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"),
          col("text"))
        val anchors = docs.select(col("doc_id").as("a_id"),
          col("text").as("ref_text"))
        val pairs = docs.withColumn("a_id", expr("doc_id - doc_id % 5"))
          .join(anchors, Seq("a_id"))
        TextOps.bleuScore(pairs, "doc_id", "text", "ref_text")
          .sortWithinPartitions("doc_id")
      },
      Some(s"""WITH d AS (
              |  SELECT doc_id,
              |    list_filter(string_split($normSql, ' '),
              |      t -> t <> '') AS toks
              |  FROM documents),
              |pr AS (
              |  SELECT c.doc_id, c.toks AS ct, r.toks AS rt
              |  FROM d c JOIN d r ON r.doc_id = c.doc_id - (c.doc_id % 5)),
              |g AS (
              |  SELECT doc_id, n, len(ct) AS cl, len(rt) AS rl,
              |    CASE WHEN len(ct) >= n THEN
              |      [array_to_string(ct[i:i+n-1], chr(1))
              |        FOR i IN range(1, len(ct)-n+2)] ELSE [] END AS cg,
              |    CASE WHEN len(rt) >= n THEN
              |      [array_to_string(rt[i:i+n-1], chr(1))
              |        FOR i IN range(1, len(rt)-n+2)] ELSE [] END AS rg
              |  FROM pr, (SELECT unnest([1, 2, 3, 4]) AS n)),
              |cgr AS (
              |  SELECT doc_id, n, gram, CAST(COUNT(*) AS BIGINT) AS c
              |  FROM (SELECT doc_id, n, unnest(cg) AS gram FROM g)
              |  GROUP BY 1, 2, 3),
              |rgr AS (
              |  SELECT doc_id, n, gram, CAST(COUNT(*) AS BIGINT) AS c
              |  FROM (SELECT doc_id, n, unnest(rg) AS gram FROM g)
              |  GROUP BY 1, 2, 3),
              |mm AS (
              |  SELECT cgr.doc_id, cgr.n,
              |    CAST(SUM(LEAST(cgr.c, COALESCE(rgr.c, 0))) AS BIGINT) AS m
              |  FROM cgr LEFT JOIN rgr ON rgr.doc_id = cgr.doc_id
              |    AND rgr.n = cgr.n AND rgr.gram = cgr.gram
              |  GROUP BY 1, 2),
              |per AS (
              |  SELECT g.doc_id, g.n, g.cl, g.rl,
              |    CAST(len(g.cg) AS BIGINT) AS t, COALESCE(mm.m, 0) AS m
              |  FROM g LEFT JOIN mm ON mm.doc_id = g.doc_id
              |    AND mm.n = g.n),
              |fin AS (
              |  SELECT doc_id, MAX(cl) AS cand_len, MAX(rl) AS ref_len,
              |    MAX(CASE WHEN n=1 AND t>0
              |      THEN CAST(m AS DOUBLE)/CAST(t AS DOUBLE) END) AS p1,
              |    MAX(CASE WHEN n=2 AND t>0
              |      THEN CAST(m AS DOUBLE)/CAST(t AS DOUBLE) END) AS p2,
              |    MAX(CASE WHEN n=3 AND t>0
              |      THEN CAST(m AS DOUBLE)/CAST(t AS DOUBLE) END) AS p3,
              |    MAX(CASE WHEN n=4 AND t>0
              |      THEN CAST(m AS DOUBLE)/CAST(t AS DOUBLE) END) AS p4,
              |    BOOL_OR(m = 0 OR t = 0) AS anyzero,
              |    CAST(SUM(CASE WHEN m > 0 AND t > 0 THEN
              |        CAST(ln(CAST(m AS DOUBLE))
              |          - ln(CAST(t AS DOUBLE)) AS DECIMAL(18,12))
              |      END) AS DECIMAL(20,12))
              |      * CAST(0.25 AS DECIMAL(3,2)) AS lnq
              |  FROM per GROUP BY doc_id)
              |SELECT doc_id, cand_len, ref_len, p1, p2, p3, p4,
              |  CASE WHEN cand_len > 0 THEN
              |    CAST(CAST(exp(LEAST(0.0, 1.0 - CAST(ref_len AS DOUBLE)
              |      / CAST(cand_len AS DOUBLE))) AS DECIMAL(18,12))
              |      AS DOUBLE) END AS brevity_penalty,
              |  CASE WHEN cand_len IS NULL OR ref_len IS NULL THEN NULL
              |    WHEN cand_len = 0 OR anyzero THEN 0.0
              |    ELSE CAST(CAST(exp(
              |      CAST(CAST(lnq AS VARCHAR) AS DOUBLE)
              |      + LEAST(0.0, 1.0 - CAST(ref_len AS DOUBLE)
              |        / CAST(cand_len AS DOUBLE)))
              |      AS DECIMAL(18,12)) AS DOUBLE) END AS bleu
              |FROM fin ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Dawid-Skene annotator aggregation (Profile.dawidSkene — Dawid &
    // Skene JRSS-C'79, hard-EM): 5 synthetic raters over every document
    // (3 honest, one always-'c0', one wrong on every 4th item), 2 EM
    // rounds. The oracle replays the WHOLE trainer — majority-vote
    // init with ties toward the smaller label, then per round the
    // confusion/prior counts and the add-one ln-of-exact-integer
    // scores through DECIMAL(18,12) — so every assignment matches
    // bit-for-bit.
    QuerySpec(
      "q288_dawid_skene",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"))
        val spine = s.range(0, 5).select(col("id").as("j"))
        val ann = docs.crossJoin(broadcast(spine)).select(
          col("doc_id"),
          concat(lit("a"), col("j").cast("string")).as("rater"),
          expr("""CASE WHEN j = 3 THEN 'c0'
                  WHEN j = 4 THEN concat('c', CAST((doc_id % 3 +
                    CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) % 3
                    AS STRING))
                  ELSE concat('c', CAST(doc_id % 3 AS STRING))
                  END""").as("label"))
        graft.ops.Profile.dawidSkene(ann, "doc_id", "rater", "label",
            rounds = 2)
          .orderBy("doc_id")
      },
      Some(s"""WITH ann AS (
              |  SELECT doc_id AS i, 'a' || CAST(j AS VARCHAR) AS j,
              |    CASE WHEN j = 3 THEN 'c0'
              |      WHEN j = 4 THEN 'c' || CAST((doc_id % 3 +
              |        CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) % 3
              |        AS VARCHAR)
              |      ELSE 'c' || CAST(doc_id % 3 AS VARCHAR) END AS l
              |  FROM documents
              |  CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS j)),
              |cls AS (SELECT DISTINCT l AS k FROM ann),
              |g AS (
              |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cls) AS kn,
              |    (SELECT CAST(COUNT(DISTINCT i) AS BIGINT) FROM ann)
              |      AS n),
              |as_0 AS (SELECT i, l AS k FROM (
              |  SELECT i, l, ROW_NUMBER() OVER (PARTITION BY i
              |      ORDER BY COUNT(*) DESC, l) AS rn
              |  FROM ann GROUP BY i, l) WHERE rn = 1),
              |${dsRoundSql("as_0", 1)},
              |${dsRoundSql("as_1", 2)}
              |SELECT m.i AS doc_id, m.k AS label_mv, f.k AS label_ds,
              |  na.n_annotations
              |FROM as_0 m
              |JOIN as_2 f ON f.i = m.i
              |JOIN (SELECT i, CAST(COUNT(*) AS BIGINT) AS n_annotations
              |      FROM ann GROUP BY i) na ON na.i = m.i
              |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Deterministic random-walk corpus (WebGraph.randomWalks — Perozzi
    // et al. KDD'14 DeepWalk, uniform/node2vec p=q=1): 2 walks of
    // length 8 from every host of the q283 planted digraph, each hop
    // picked by h48(md5(walk_id|t)) mod outdeg over dst-ranked
    // neighbors — no rand(), so the DuckDB oracle replays every hop of
    // every walk through one recursive CTE with the inline h48 recipe.
    QuerySpec(
      "q289_random_walks",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        def host(c: String) = concat(lit("h"), expr(c).cast("string"),
          lit(".example.org"))
        val base = docs.select(expr("doc_id % 97").as("n")).distinct()
        val e = base.select(host("n").as("src_host"),
            host("pmod(2*n+1, 97)").as("dst_host"))
          .unionByName(base.select(host("n").as("src_host"),
            host("pmod(3*n+2, 97)").as("dst_host")))
        graft.ops.WebGraph.randomWalks(e, "src_host", "dst_host",
            walksPerNode = 2, walkLen = 8)
          .orderBy("walk_id", "step")
      },
      Some(s"""WITH RECURSIVE
             |bb AS (SELECT DISTINCT doc_id % 97 AS n FROM documents),
             |raw AS (
             |  SELECT 'h' || CAST(n AS VARCHAR) || '.example.org' AS src,
             |    'h' || CAST((2*n+1) % 97 AS VARCHAR) || '.example.org'
             |      AS dst
             |  FROM bb
             |  UNION ALL
             |  SELECT 'h' || CAST(n AS VARCHAR) || '.example.org',
             |    'h' || CAST((3*n+2) % 97 AS VARCHAR) || '.example.org'
             |  FROM bb),
             |e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
             |nb AS (
             |  SELECT src, dst,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst)
             |      AS BIGINT) AS r,
             |    CAST(COUNT(*) OVER (PARTITION BY src) AS BIGINT) AS deg
             |  FROM e),
             |starts AS (
             |  SELECT v || '#' || CAST(w AS VARCHAR) AS wid, v
             |  FROM (SELECT DISTINCT src AS v FROM e)
             |  CROSS JOIN (SELECT unnest([0, 1]) AS w)),
             |walk(wid, t, v) AS (
             |  SELECT wid, 0, v FROM starts
             |  UNION ALL
             |  SELECT walk.wid, walk.t + 1, nb.dst
             |  FROM walk JOIN nb ON nb.src = walk.v
             |  WHERE walk.t < 8
             |    AND nb.r = (${h48InlineSql(
                   "md5(walk.wid || '|' || CAST(walk.t + 1 AS VARCHAR))")})
             |      % nb.deg + 1)
             |SELECT wid AS walk_id, CAST(t AS BIGINT) AS step, v AS node
             |FROM walk ORDER BY walk_id, step""".stripMargin)),

    // ------------------------------------------------------------------
    // k-truss decomposition (WebGraph.kTruss — Cohen 2008; the
    // triangle-grade sibling of q234's community lanes): a planted K8
    // clique embedded in a 60-node ring+chord scaffold. At k=4 the
    // chords die round 1 (support 1), the ring unravels round 2, and
    // ONLY the clique survives — every edge at support 6. The oracle
    // unrolls 6 peel rounds (a fixpoint replay is a no-op) and reads
    // the final supports; the op's loud maxRounds guard certifies the
    // fixpoint arrived.
    QuerySpec(
      "q290_ktruss",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        def host(c: String) = concat(lit("v"), expr(c).cast("string"))
        val base = docs.select(expr("doc_id % 60").as("n")).distinct()
        val cl8 = base.filter(expr("n < 8")).select(col("n").as("m1"))
          .crossJoin(base.filter(expr("n < 8")).select(col("n").as("m2")))
          .filter(expr("m1 < m2"))
          .select(host("m1").as("sa"), host("m2").as("sb"))
        val ring = base.select(host("n").as("sa"),
          host("pmod(n + 1, 60)").as("sb"))
        val chord = base.select(host("n").as("sa"),
          host("pmod(n + 2, 60)").as("sb"))
        val edges = cl8.unionByName(ring).unionByName(chord)
        graft.ops.WebGraph.kTruss(edges, "sa", "sb", k = 4,
            maxRounds = 8)
          .orderBy("node_a", "node_b")
      },
      Some(s"""WITH bb AS (SELECT DISTINCT doc_id % 60 AS n
             |  FROM documents),
             |raw AS (
             |  SELECT 'v' || CAST(c1.n AS VARCHAR) AS s,
             |    'v' || CAST(c2.n AS VARCHAR) AS d
             |  FROM bb c1 CROSS JOIN bb c2
             |  WHERE c1.n < 8 AND c2.n < 8 AND c1.n < c2.n
             |  UNION ALL
             |  SELECT 'v' || CAST(n AS VARCHAR),
             |    'v' || CAST((n + 1) % 60 AS VARCHAR) FROM bb
             |  UNION ALL
             |  SELECT 'v' || CAST(n AS VARCHAR),
             |    'v' || CAST((n + 2) % 60 AS VARCHAR) FROM bb),
             |e_0 AS MATERIALIZED (
             |  SELECT DISTINCT LEAST(s, d) AS a, GREATEST(s, d) AS b
             |  FROM raw WHERE s <> d),
             |${ktRoundSql("e_0", 1, 2)},
             |${ktRoundSql("e_1", 2, 2)},
             |${ktRoundSql("e_2", 3, 2)},
             |${ktRoundSql("e_3", 4, 2)},
             |${ktRoundSql("e_4", 5, 2)},
             |${ktRoundSql("e_5", 6, 2)},
             |${ktRoundSql("e_6", 7, 2)}
             |SELECT a AS node_a, b AS node_b, sup AS support
             |FROM sup_7 WHERE sup >= 2 ORDER BY 1, 2""".stripMargin)),

    // ------------------------------------------------------------------
    // SemDeDup with the paper's keep-rule (Similarity.semDeDupDrops —
    // Abbas et al. 2023): every 50th embedding gets an EXACT clone at
    // vec_id+100000. Identical vectors co-cluster by construction
    // (assignment is a pure function of the vector) and tie on centroid
    // cosine, so the drop set is fully deterministic — exactly the
    // planted clones, each dropped in favor of its original — and the
    // random fixture pairs sit far below the 0.95 gate (max corpus
    // cosine ≈ 0.6). FULL oracle: DuckDB re-plants the clones; the
    // keep-rule's asymmetric branch is spec-certified (IvfSpec) on
    // hand-placed geometry.
    QuerySpec(
      "q291_semdedup",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir).select(col("vec_id"),
          col("embedding"))
        val clones = emb.filter(expr("vec_id % 50 = 0"))
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
        Similarity.semDeDupDrops(emb.unionByName(clones), "vec_id",
            "embedding", nClusters = 16, minCosine = 0.95)
          .select(col("id_drop"), col("id_keep"), col("cosine"))
          .sortWithinPartitions("id_drop")
      },
      Some("""SELECT vec_id + 100000 AS id_drop, vec_id AS id_keep,
             |  1.0 AS cosine
             |FROM embeddings WHERE vec_id % 50 = 0
             |ORDER BY id_drop""".stripMargin)),

    // ------------------------------------------------------------------
    // Split-conformal calibration (Classifier.conformalThresholds /
    // conformalCoverage — Vovk et al. 2005; Angelopoulos & Bates'21):
    // Mondrian per-group thresholds at α = 1/10 from the even-doc_id
    // calibration split, empirical coverage read on the odd-doc_id test
    // split. k is pure integer arithmetic and qhat an order statistic,
    // so the oracle replays both frames exactly.
    QuerySpec(
      "q292_conformal",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"),
          concat(lit("g"), expr("CAST(doc_id % 3 AS STRING)")).as("grp"),
          expr("CAST(doc_id % 101 AS DOUBLE) / 8.0").as("s"))
        val cal = docs.filter(expr("doc_id % 2 = 0"))
        val test = docs.filter(expr("doc_id % 2 = 1"))
        val th = graft.ops.Classifier.conformalThresholds(cal, "grp", "s",
          alphaNum = 1, alphaDen = 10)
        th.join(graft.ops.Classifier.conformalCoverage(test, "grp", "s",
            th), Seq("grp"))
          .orderBy("grp")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, 'g' || CAST(doc_id % 3 AS VARCHAR) AS grp,
             |    CAST(doc_id % 101 AS DOUBLE) / 8.0 AS s
             |  FROM documents),
             |r AS (
             |  SELECT grp, s,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY grp ORDER BY s)
             |      AS BIGINT) AS rn,
             |    CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n
             |  FROM d WHERE doc_id % 2 = 0),
             |th AS (
             |  SELECT grp, n AS n_cal,
             |    CAST(((n+1) * 9 + 9) // 10 AS BIGINT) AS k,
             |    CASE WHEN ((n+1) * 9 + 9) // 10 <= n THEN s END AS qhat,
             |    ((n+1) * 9 + 9) // 10 <= n AS finite_threshold,
             |    CAST(((n+1) * 9 + 9) // 10 AS DOUBLE)
             |      / CAST(n + 1 AS DOUBLE) AS coverage_level
             |  FROM r WHERE rn = LEAST(((n+1) * 9 + 9) // 10, n)),
             |cov AS (
             |  SELECT d.grp, CAST(COUNT(*) AS BIGINT) AS n_test,
             |    CAST(SUM(CASE WHEN NOT th.finite_threshold
             |      OR d.s <= th.qhat THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_covered
             |  FROM d JOIN th ON th.grp = d.grp
             |  WHERE d.doc_id % 2 = 1
             |  GROUP BY 1)
             |SELECT th.grp, th.n_cal, th.k, th.qhat, th.finite_threshold,
             |  th.coverage_level, cov.n_test, cov.n_covered,
             |  CAST(cov.n_covered AS DOUBLE) / CAST(cov.n_test AS DOUBLE)
             |    AS coverage
             |FROM th JOIN cov ON cov.grp = th.grp
             |ORDER BY th.grp""".stripMargin)),

    // ------------------------------------------------------------------
    // Perceptual image near-dup fingerprints (Multimodal.pngAHash →
    // Dedup.hamming64Degrees): genuinely-decoded 8×8 aHash over the
    // q110/q112 gradient fixtures (24 distinct images, so every doc has
    // exact-clone neighbors), degrees off the skew-proof distinct-
    // signature banding. FULL oracle: DuckDB replays the resize mapping,
    // the cross-multiplied above-mean bits, the signed 64-bit pack, and
    // brute-force hamming degrees.
    QuerySpec(
      "q293_image_ahash",
      (s, dir) => {
        val p = Tables.documents(s, dir)
          .select(col("doc_id"), (col("doc_id") % 24).cast("int").as("m"))
          .select(col("doc_id"),
            (col("m") % 5 + 4).cast("int").as("__w"),
            ((col("m") * 3) % 6 + 3).cast("int").as("__h"),
            ((col("m") * 37) % 256).cast("int").as("__r0"),
            ((col("m") * 59) % 256).cast("int").as("__g0"),
            ((col("m") * 83) % 256).cast("int").as("__b0"))
        val hashes = p.select(col("doc_id").as("media_id"),
          Multimodal.pngAHash(Multimodal.pngGradientBytes(col("__w"),
            col("__h"), col("__r0"), col("__g0"), col("__b0")))
            .as("ahash"))
        val deg = Dedup.hamming64Degrees(hashes, "media_id", "ahash",
          maxDistance = 3)
        hashes.join(deg, Seq("media_id"), "left")
          .select(col("media_id"), col("ahash"),
            coalesce(col("n_near_dups"), lit(0L)).as("n_near_dups"))
          .sortWithinPartitions("media_id")
      },
      Some("""WITH pp AS (
             |  SELECT doc_id, doc_id % 24 AS m FROM documents),
             |prm AS (
             |  SELECT DISTINCT m, m % 5 + 4 AS w, (m*3) % 6 + 3 AS h,
             |    (m*37) % 256 AS r0, (m*59) % 256 AS g0,
             |    (m*83) % 256 AS b0
             |  FROM pp),
             |px AS (
             |  SELECT m, y.range * 8 + x.range AS i,
             |    CAST(((r0 + (x.range * w) // 8 + (y.range * h) // 8)
             |        % 256)
             |      + ((g0 + (x.range * w) // 8 + (y.range * h) // 8)
             |        % 256)
             |      + ((b0 + (x.range * w) // 8 + (y.range * h) // 8)
             |        % 256) AS BIGINT) AS g
             |  FROM prm CROSS JOIN range(0, 8) x CROSS JOIN range(0, 8) y),
             |tot AS (
             |  SELECT m, CAST(SUM(g) AS BIGINT) AS t FROM px GROUP BY 1),
             |hs AS (
             |  SELECT px.m, CAST(SUM(CASE WHEN px.g * 64 > tot.t THEN
             |      CASE WHEN px.i = 0 THEN -9223372036854775807 - 1
             |        ELSE (CAST(1 AS BIGINT) << CAST(63 - px.i AS INT))
             |      END ELSE 0 END) AS BIGINT) AS ahash
             |  FROM px JOIN tot ON tot.m = px.m GROUP BY 1),
             |dh AS MATERIALIZED (
             |  SELECT pp.doc_id, hs.ahash
             |  FROM pp JOIN hs ON hs.m = pp.m),
             |deg AS (
             |  SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS nd
             |  FROM dh a JOIN dh b ON b.doc_id <> a.doc_id
             |    AND bit_count(xor(a.ahash, b.ahash)) <= 3
             |  GROUP BY 1)
             |SELECT dh.doc_id AS media_id, dh.ahash,
             |  COALESCE(deg.nd, 0) AS n_near_dups
             |FROM dh LEFT JOIN deg ON deg.doc_id = dh.doc_id
             |ORDER BY media_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Truncated Katz centrality (WebGraph.katzCentrality — Katz 1953):
    // α = 1/4 over the q283 planted digraph (in-degrees ≈ 2, far
    // inside the loud αNum·maxInDeg ≤ 7·αDen overflow bound), 6
    // attenuated-walk terms in exact scaled-integer arithmetic. The
    // oracle unrolls the 6 rounds with the q145 pagerank-CTE shape —
    // BIGINT // division, no normalization.
    QuerySpec(
      "q294_katz",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        def host(c: String) = concat(lit("h"), expr(c).cast("string"),
          lit(".example.org"))
        val base = docs.select(expr("doc_id % 97").as("n")).distinct()
        val e = base.select(host("n").as("src_host"),
            host("pmod(2*n+1, 97)").as("dst_host"))
          .unionByName(base.select(host("n").as("src_host"),
            host("pmod(3*n+2, 97)").as("dst_host")))
        graft.ops.WebGraph.katzCentrality(e, "src_host", "dst_host",
            alphaNum = 1, alphaDen = 4, iterations = 6)
          .orderBy("node")
      },
      Some {
        val head = s"""WITH bb AS (
          |  SELECT DISTINCT doc_id % 97 AS n FROM documents),
          |raw AS (
          |  SELECT 'h' || CAST(n AS VARCHAR) || '.example.org' AS src,
          |    'h' || CAST((2*n+1) % 97 AS VARCHAR) || '.example.org'
          |      AS dst
          |  FROM bb
          |  UNION ALL
          |  SELECT 'h' || CAST(n AS VARCHAR) || '.example.org',
          |    'h' || CAST((3*n+2) % 97 AS VARCHAR) || '.example.org'
          |  FROM bb),
          |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM raw),
          |nodes AS MATERIALIZED (
          |  SELECT src AS node FROM e UNION SELECT dst FROM e),
          |kz0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS katz
          |        FROM nodes)""".stripMargin
        val rounds = (1 to 6).map { k =>
          s""",
             |kz$k AS MATERIALIZED (
             |  SELECT n.node, CAST(1000000000
             |    + (1 * COALESCE(s.infl, 0)) // 4 AS BIGINT) AS katz
             |  FROM nodes n LEFT JOIN (
             |    SELECT e.dst AS node, SUM(p.katz) AS infl
             |    FROM e JOIN kz${k - 1} p ON p.node = e.src
             |    GROUP BY e.dst) s ON s.node = n.node)""".stripMargin
        }.mkString
        head + rounds +
          "\nSELECT node, katz FROM kz6 ORDER BY node"
      }),

    // ------------------------------------------------------------------
    // k-anonymity / l-diversity audit (Profile.kAnonymityReport —
    // Sweeney'02 / Machanavajjhala'07): quasi-identifiers (lang,
    // source, n_chars%7), sensitive = doc_id%5, k=3, l=2 — one
    // aggregation to the equivalence-class plane, exact integer
    // counting throughout.
    QuerySpec(
      "q297_k_anonymity",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("lang"),
          col("source"), expr("n_chars % 7").as("nb"),
          expr("CAST(doc_id % 5 AS STRING)").as("diag"))
        graft.ops.Profile.kAnonymityReport(docs,
          Seq("lang", "source", "nb"), k = 3,
          sensitiveCol = Some("diag"), l = 2)
      },
      Some("""WITH cls AS (
             |  SELECT lang, source, n_chars % 7 AS nb,
             |    CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(COUNT(DISTINCT CAST(doc_id % 5 AS VARCHAR))
             |      AS BIGINT) AS l
             |  FROM documents GROUP BY 1, 2, 3)
             |SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
             |  CAST(COUNT(*) AS BIGINT) AS n_classes,
             |  MIN(n) AS min_class_size,
             |  CAST(COALESCE(SUM(CASE WHEN n < 3 THEN n END), 0)
             |    AS BIGINT) AS n_rows_below_k,
             |  MIN(n) >= 3 AS k_anonymous,
             |  MIN(l) AS min_l,
             |  CAST(COALESCE(SUM(CASE WHEN l < 2 THEN n END), 0)
             |    AS BIGINT) AS n_rows_below_l,
             |  MIN(l) >= 2 AS l_diverse
             |FROM cls""".stripMargin)),

    // ------------------------------------------------------------------
    // Unicode-script distribution (TextOps.scriptProfile): exact
    // per-script character counts and the dominant script per document
    // — the multilingual curation signal beside q33's langId. Java
    // \p{IsLatin} and RE2 \p{Latin} name the same script classes, so
    // the oracle replays every count.
    QuerySpec(
      "q298_script_profile",
      (s, dir) =>
        TextOps.scriptProfile(Tables.documents(s, dir), "doc_id", "text")
          .sortWithinPartitions("doc_id"),
      Some("""WITH c AS (
             |  SELECT doc_id, COALESCE(text, '') AS t FROM documents),
             |n AS (
             |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_chars,
             |    CAST(len(t) - len(regexp_replace(t, '\p{Latin}', '',
             |      'g')) AS BIGINT) AS n_latin,
             |    CAST(len(t) - len(regexp_replace(t, '\p{Cyrillic}', '',
             |      'g')) AS BIGINT) AS n_cyrillic,
             |    CAST(len(t) - len(regexp_replace(t, '\p{Han}', '',
             |      'g')) AS BIGINT) AS n_han,
             |    CAST(len(t) - len(regexp_replace(t, '\p{Arabic}', '',
             |      'g')) AS BIGINT) AS n_arabic,
             |    CAST(len(t) - len(regexp_replace(t, '[0-9]', '',
             |      'g')) AS BIGINT) AS n_digit,
             |    CAST(len(t) - len(regexp_replace(t, '\s', '',
             |      'g')) AS BIGINT) AS n_space
             |  FROM c)
             |SELECT doc_id, n_chars, n_latin, n_cyrillic, n_han,
             |  n_arabic, n_digit, n_space,
             |  n_chars - n_latin - n_cyrillic - n_han - n_arabic
             |    - n_digit - n_space AS n_other,
             |  CASE WHEN n_latin + n_cyrillic + n_han + n_arabic = 0
             |    THEN 'none'
             |    ELSE (SELECT s FROM (
             |      SELECT unnest(['latin', 'cyrillic', 'han', 'arabic'])
             |        AS s,
             |      unnest([n_latin, n_cyrillic, n_han, n_arabic]) AS v)
             |      ORDER BY v DESC, s DESC LIMIT 1)
             |  END AS dominant_script
             |FROM n ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Frequent Directions matrix sketch (Pca.frequentDirections —
    // Liberty KDD'13 / Ghashami et al. SICOMP'16): the mergeable
    // deterministic low-rank Gram summary, ell=16 over the 64-dim
    // embeddings. The sketch bytes are partition-order dependent; the
    // GUARANTEE is not — so the oracle-visible frame is the exact
    // decimal-routed diag(AᵀA) plus the in-band per-dimension verdict
    // 0 ≤ ataᵢᵢ − btbᵢᵢ ≤ ‖A‖F²/ell (the q99/q47 banded pattern; the
    // bound itself is spec-certified under repartitioning in PcaSpec).
    QuerySpec(
      "q299_frequent_directions",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir).select(col("vec_id"),
          col("embedding"))
        val sk = graft.ops.Pca.frequentDirections(emb, "embedding",
          ell = 16)
        val bound = sk.frob2 / sk.ell
        import s.implicits._
        val btbDf = sk.gramDiag.toSeq.zipWithIndex
          .map { case (v, i) => (i.toLong, v) }.toDF("dim", "__btb")
        Tables.embeddings(s, dir)
          .select(posexplode(col("embedding")).as(Seq("dim", "__x")))
          .select(col("dim").cast("long").as("dim"),
            (col("__x").cast("double") * col("__x").cast("double"))
              .cast("decimal(28,12)").as("__x2"))
          .groupBy("dim").agg(sum(col("__x2")).as("__ata"))
          .join(broadcast(btbDf), Seq("dim"))
          .select(col("dim"), col("__ata").cast("double").as("ata_diag"),
            (col("__ata").cast("double") - col("__btb") >= lit(-1e-6) &&
              col("__ata").cast("double") - col("__btb") <=
                lit(bound * (1 + 1e-9) + 1e-6)).as("within_bound"))
          .orderBy("dim")
      },
      Some("""WITH x AS (
             |  SELECT unnest(embedding::DOUBLE[]) AS v,
             |    unnest(range(len(embedding))) AS dim
             |  FROM embeddings),
             |a AS (
             |  SELECT CAST(dim AS BIGINT) AS dim,
             |    SUM(CAST(v * v AS DECIMAL(28,12))) AS s
             |  FROM x GROUP BY 1)
             |SELECT dim, CAST(CAST(s AS VARCHAR) AS DOUBLE) AS ata_diag,
             |  TRUE AS within_bound
             |FROM a ORDER BY dim""".stripMargin)),

    // ------------------------------------------------------------------
    // MMR diversification (Retrieval.mmrSelect — Carbonell & Goldstein
    // SIGIR'98, λ=1/2): per query (4 stored vectors) the top-20 cosine
    // candidates re-ranked by greedy relevance-minus-redundancy, 5
    // picks. Rounded-6 scores with id ties make every pick
    // deterministic; the oracle replays the candidate cut and all 5
    // greedy rounds.
    QuerySpec(
      "q300_mmr_diversify",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir).select(col("vec_id"),
          col("embedding"))
        val queries = emb.filter(col("vec_id") < 4)
          .select(col("vec_id").as("__qid"), col("embedding").as("__qv"))
        val w = Window.partitionBy(col("__qid"))
          .orderBy(col("__rel").desc, col("vec_id"))
        val cand = emb.crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("__qid"))
          .withColumn("__rel",
            round(Similarity.cosine(col("embedding"), col("__qv")), 6))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= 20)
          .select(col("__qid").as("query_id"), col("vec_id"),
            col("__rel").as("rel"), col("embedding"))
        graft.ops.Retrieval.mmrSelect(cand, "query_id", "vec_id", "rel",
            "embedding", k = 5)
          .orderBy("query_id", "rank")
      },
      Some {
        val head = """WITH cand AS MATERIALIZED (
          |  SELECT q, id, rel, v FROM (
          |    SELECT qe.vec_id AS q, e.vec_id AS id,
          |      ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
          |        qe.embedding::DOUBLE[]), 6) AS rel,
          |      e.embedding::DOUBLE[] AS v,
          |      ROW_NUMBER() OVER (PARTITION BY qe.vec_id ORDER BY
          |        ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
          |          qe.embedding::DOUBLE[]), 6) DESC, e.vec_id) AS rn
          |    FROM embeddings e, embeddings qe
          |    WHERE qe.vec_id < 4 AND e.vec_id <> qe.vec_id) t
          |  WHERE rn <= 20),
          |sel_0 AS (SELECT q, id, v FROM cand WHERE 1 = 0)""".stripMargin
        head + ",\n" + (1 to 5).map(mmrRoundSql).mkString(",\n") +
          """
            |SELECT q AS query_id, rank, id AS vec_id, score AS mmr_score
            |FROM (SELECT q, 1 AS rank, id, score FROM pk_1
            |  UNION ALL SELECT q, 2, id, score FROM pk_2
            |  UNION ALL SELECT q, 3, id, score FROM pk_3
            |  UNION ALL SELECT q, 4, id, score FROM pk_4
            |  UNION ALL SELECT q, 5, id, score FROM pk_5) u
            |ORDER BY query_id, rank""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Character-distribution entropy (TextOps.charEntropy): the classic
    // gibberish/degeneracy gate — H = ln n − (Σ c·ln c)/n over exact
    // per-character counts, every c·ln c DECIMAL(18,12)-routed.
    QuerySpec(
      "q301_char_entropy",
      (s, dir) =>
        TextOps.charEntropy(Tables.documents(s, dir), "doc_id", "text")
          .orderBy("doc_id"),
      Some("""WITH ch AS (
             |  SELECT doc_id, unnest(list_filter(
             |    string_split(COALESCE(text, ''), ''), x -> x <> '')) AS c
             |  FROM documents),
             |cc AS (
             |  SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM ch GROUP BY 1, 2),
             |per AS (
             |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_chars,
             |    CAST(COUNT(*) AS BIGINT) AS distinct_chars,
             |    SUM(CAST(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))
             |      AS DECIMAL(18,12))) AS s
             |  FROM cc GROUP BY 1)
             |SELECT d.doc_id, COALESCE(per.n_chars, 0) AS n_chars,
             |  COALESCE(per.distinct_chars, 0) AS distinct_chars,
             |  ROUND(ln(CAST(per.n_chars AS DOUBLE))
             |    - CAST(CAST(per.s AS VARCHAR) AS DOUBLE)
             |      / CAST(per.n_chars AS DOUBLE), 6) AS entropy
             |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Winnowing fingerprints (TextOps.winnowingFingerprints —
    // Schleimer, Wilkerson & Aiken SIGMOD'03, the MOSS algorithm):
    // k=8 char-gram md5-h48 hashes, window w=4, rightmost-min
    // selection — positional fingerprints with the shared-substring
    // coverage guarantee. The oracle replays hashes, the windowed
    // minima and the rightmost resolution exactly.
    QuerySpec(
      "q302_winnowing",
      (s, dir) =>
        TextOps.winnowingFingerprints(Tables.documents(s, dir), "doc_id",
            "text", k = 8, w = 4)
          // local sort only: global orderBy's range-sample re-ran the
          // window stage (measured −20% solo; the q188 finding)
          .sortWithinPartitions("doc_id", "fp_pos"),
      Some(s"""WITH t AS (
              |  SELECT doc_id, $normSql AS t FROM documents),
              |occ AS MATERIALIZED (
              |  SELECT doc_id, CAST(p AS BIGINT) AS p,
              |    CAST($h48Sql AS BIGINT) AS h
              |  FROM (
              |    SELECT doc_id, p, md5(substr(t, CAST(p AS INT), 8)) AS m
              |    FROM (SELECT doc_id, t,
              |            unnest(range(1, len(t) - 6)) AS p
              |          FROM t WHERE len(t) >= 8) q0) q1),
              |wins AS MATERIALIZED (
              |  SELECT doc_id, p AS i,
              |    MIN(h) OVER (PARTITION BY doc_id ORDER BY p
              |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
              |    COUNT(*) OVER (PARTITION BY doc_id) AS n
              |  FROM occ),
              |sel AS (
              |  SELECT w.doc_id, w.i, w.wmin, MAX(o.p) AS fp_pos
              |  FROM (SELECT doc_id, i, wmin FROM wins WHERE i <= n - 3) w
              |  JOIN occ o ON o.doc_id = w.doc_id AND o.h = w.wmin
              |    AND o.p BETWEEN w.i AND w.i + 3
              |  GROUP BY 1, 2, 3)
              |SELECT DISTINCT doc_id, fp_pos, wmin AS fp_hash
              |FROM sel ORDER BY doc_id, fp_pos""".stripMargin)),

    // ------------------------------------------------------------------
    // WordPiece trainer (Wordpiece.train — Schuster & Nakajima
    // ICASSP'12, the BERT tokenizer; completes the tokenizer trio next
    // to q100's BPE and q279's unigram-LM): 4 likelihood-ranked merges
    // over the corpus word histogram, selection on the 10^18-scaled
    // FLOORED integer ratio count(lr)·10^18 div (count(l)·count(r))
    // with (pc desc, l, r) ties — exact decimal/HUGEINT both sides.
    // FULL oracle: every round's symbol counts, pair counts, argmax
    // and greedy fuse replayed (the trailing-delimiter replace() IS
    // the left-to-right merge rewrite).
    QuerySpec(
      "q295_wordpiece_train",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.ops.Wordpiece.mergesDf(docs,
            graft.ops.Wordpiece.train(docs, "text", numMerges = 4))
          .orderBy("rank")
      },
      Some {
        "WITH " + wpHeadSql + "," +
          (1 to 4).map(k => wpRoundSql(s"v_${k - 1}", k))
            .mkString(",\n") +
          """
            |SELECT rank, l AS "left", r AS "right", score AS score_scaled,
            |  pc AS pair_count
            |FROM (SELECT 0 AS rank, l, r, score, pc FROM mg_1
            |      UNION ALL SELECT 1, l, r, score, pc FROM mg_2
            |      UNION ALL SELECT 2, l, r, score, pc FROM mg_3
            |      UNION ALL SELECT 3, l, r, score, pc FROM mg_4)
            |ORDER BY rank""".stripMargin
      }),

    // ------------------------------------------------------------------
    // WordPiece encode (Wordpiece.encodeWords): greedy longest-match
    // inference with ## continuation rendering and honest [UNK], over
    // the corpus's top-200 words (count desc, word — deterministic)
    // against the q295-trained vocabulary. The oracle replays training,
    // builds the same char+merge vocabulary, and walks the greedy
    // longest-match as a recursive CTE (the max-length scalar probe per
    // position).
    QuerySpec(
      "q296_wordpiece_encode",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val merges = graft.ops.Wordpiece.train(docs, "text", numMerges = 4)
        val vocab = graft.ops.Wordpiece.vocabOf(docs, "text", merges)
        val words = docs.select(explode(TextOps.tokens(
            TextOps.normalized(col("text")))).as("w"))
          .filter(length(col("w")) > 0 && length(col("w")) <= 40)
          .groupBy("w").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("w")).limit(200)
        graft.ops.Wordpiece.encodeWords(words, "w", "pieces", vocab,
            maxPieces = 48)
          .select(col("w").as("word"),
            concat_ws(" ", col("pieces")).as("pieces"),
            size(col("pieces")).cast("long").as("n_pieces"))
          .orderBy("word")
      },
      Some {
        "WITH RECURSIVE " + wpHeadSql + "," +
          (1 to 4).map(k => wpRoundSql(s"v_${k - 1}", k))
            .mkString(",\n") +
          s""",
            |voc AS MATERIALIZED (
            |  SELECT DISTINCT piece FROM (
            |    SELECT unnest(list_filter(string_split(w, ''),
            |      x -> x <> '')) AS piece FROM wc
            |    UNION SELECT l || r FROM mg_1
            |    UNION SELECT l || r FROM mg_2
            |    UNION SELECT l || r FROM mg_3
            |    UNION SELECT l || r FROM mg_4)),
            |words AS MATERIALIZED (
            |  SELECT w FROM wc WHERE len(w) <= 40
            |  ORDER BY cnt DESC, w LIMIT 200),
            |bm AS MATERIALIZED (
            |  SELECT t.w, t.pos, MAX(len(v.piece)) AS bl
            |  FROM (SELECT w, CAST(r.range AS INT) AS pos
            |        FROM words, range(1, 41) r) t
            |  JOIN voc v ON substr(t.w, t.pos, len(v.piece)) = v.piece
            |  GROUP BY t.w, t.pos),
            |enc(w, pos, toks, bad) AS (
            |  SELECT w, 1, '', false FROM words
            |  UNION ALL
            |  SELECT e.w,
            |    CASE WHEN bm.bl IS NULL THEN len(e.w) + 1
            |      ELSE e.pos + bm.bl END,
            |    CASE WHEN bm.bl IS NULL THEN e.toks
            |      WHEN e.pos = 1 THEN substr(e.w, e.pos, bm.bl)
            |      ELSE e.toks || ' ##' || substr(e.w, e.pos, bm.bl) END,
            |    bm.bl IS NULL
            |  FROM enc e LEFT JOIN bm ON bm.w = e.w AND bm.pos = e.pos
            |  WHERE e.pos <= len(e.w) AND NOT e.bad),
            |fin AS (
            |  SELECT w, toks, bad FROM enc
            |  WHERE bad OR pos = len(w) + 1)
            |SELECT w AS word,
            |  CASE WHEN bad THEN '[UNK]' ELSE toks END AS pieces,
            |  CASE WHEN bad THEN 1
            |    ELSE CAST(len(string_split(toks, ' ')) AS BIGINT)
            |  END AS n_pieces
            |FROM fin ORDER BY word""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Simple Good-Turing frequency table (TextOps.goodTuring — Good
    // 1953; Gale & Sampson 1995 raw Turing estimator): frequency-of-
    // frequencies over the corpus unigram counts, r* = (r+1)N_{r+1}/N_r
    // (NULL where undefined), p_gt = r*/N. FULL oracle: both counting
    // levels and the fixed IEEE division sequence replay exactly.
    QuerySpec(
      "q303_good_turing",
      (s, dir) =>
        TextOps.goodTuring(Tables.documents(s, dir), "text"),
      Some(s"""WITH wc AS (
              |  SELECT w, CAST(COUNT(*) AS BIGINT) AS r FROM (
              |    SELECT unnest(list_filter(string_split($normSql, ' '),
              |      x -> x <> '')) AS w
              |    FROM documents) t GROUP BY w),
              |fof AS (
              |  SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r
              |  FROM wc GROUP BY r),
              |tot AS (SELECT CAST(SUM(r) AS BIGINT) AS n FROM wc),
              |nxt AS (SELECT r - 1 AS r, r * n_r AS num FROM fof)
              |SELECT fof.r, fof.n_r,
              |  CAST(nxt.num AS DOUBLE) / CAST(fof.n_r AS DOUBLE)
              |    AS r_star,
              |  CAST(nxt.num AS DOUBLE) / CAST(fof.n_r AS DOUBLE)
              |    / CAST(tot.n AS DOUBLE) AS p_gt
              |FROM fof LEFT JOIN nxt ON nxt.r = fof.r CROSS JOIN tot
              |ORDER BY fof.r""".stripMargin)),

    // ------------------------------------------------------------------
    // Chao1 vocabulary richness + Good's coverage (TextOps.vocabRichness
    // — Chao 1984 bias-corrected lower bound; Good 1953 coverage): per
    // language, off exact singleton/doubleton type counts. FULL oracle.
    QuerySpec(
      "q304_vocab_richness",
      (s, dir) =>
        TextOps.vocabRichness(Tables.documents(s, dir), "lang", "text")
          .orderBy("lang"),
      Some(s"""WITH wc AS (
              |  SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS r FROM (
              |    SELECT lang, unnest(list_filter(
              |      string_split($normSql, ' '), x -> x <> '')) AS w
              |    FROM documents) t GROUP BY lang, w),
              |ag AS (
              |  SELECT lang, CAST(SUM(r) AS BIGINT) AS n_tokens,
              |    CAST(COUNT(*) AS BIGINT) AS v_obs,
              |    CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT)
              |      AS f1,
              |    CAST(SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS BIGINT)
              |      AS f2
              |  FROM wc GROUP BY lang)
              |SELECT lang, n_tokens, v_obs, f1, f2,
              |  CAST(v_obs AS DOUBLE) + CAST(f1 * (f1 - 1) AS DOUBLE)
              |    / CAST(2 * (f2 + 1) AS DOUBLE) AS chao1,
              |  1.0 - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
              |    AS coverage
              |FROM ag ORDER BY lang""".stripMargin)),

    // ------------------------------------------------------------------
    // chrF character n-gram F-score (TextOps.chrF — Popović WMT'15,
    // β = 2, n = 1..6, whitespace removed): the q287 anchor pairing, so
    // identical, partial and disjoint pairs all carry traffic; scored
    // on the first 256 normalized chars — chrF is a SEGMENT metric, and
    // uncapped 2k-char documents made this the heaviest lane in the
    // inventory (15.1 s solo sf0.1; capped: see BASELINE.md pin). FULL
    // oracle: clipped char-n-gram counts by unnest-count-full-join, the
    // per-order IEEE divisions through DECIMAL(18,12) order-independent
    // sums, and the fixed F-fold.
    QuerySpec(
      "q305_chrf_pairs",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"),
          substring(TextOps.normalized(col("text")), 1, 256).as("seg"))
        val anchors = docs.select(col("doc_id").as("a_id"),
          col("seg").as("ref_seg"))
        val pairs = docs.withColumn("a_id", expr("doc_id - doc_id % 5"))
          .join(anchors, Seq("a_id"))
        TextOps.chrF(pairs, "doc_id", "seg", "ref_seg")
          // local sort only: global orderBy's range-sample re-ran the
          // gram rollup stage (measured −23% solo; the q188 finding)
          .sortWithinPartitions("doc_id")
      },
      Some(s"""WITH d AS (
              |  SELECT doc_id,
              |    regexp_replace(substr($normSql, 1, 256),
              |      '\\s+', '', 'g') AS cs
              |  FROM documents),
              |pr AS (
              |  SELECT c.doc_id, c.cs, r.cs AS rs
              |  FROM d c JOIN d r ON r.doc_id = c.doc_id - (c.doc_id % 5)),
              |g AS (
              |  SELECT doc_id, n,
              |    CASE WHEN len(cs) >= n THEN
              |      [substr(cs, i, n) FOR i IN range(1, len(cs)-n+2)]
              |      ELSE [] END AS cg,
              |    CASE WHEN len(rs) >= n THEN
              |      [substr(rs, i, n) FOR i IN range(1, len(rs)-n+2)]
              |      ELSE [] END AS rg
              |  FROM pr, (SELECT unnest([1, 2, 3, 4, 5, 6]) AS n)),
              |cgr AS (
              |  SELECT doc_id, n, gram, CAST(COUNT(*) AS BIGINT) AS c
              |  FROM (SELECT doc_id, n, unnest(cg) AS gram FROM g)
              |  GROUP BY 1, 2, 3),
              |rgr AS (
              |  SELECT doc_id, n, gram, CAST(COUNT(*) AS BIGINT) AS c
              |  FROM (SELECT doc_id, n, unnest(rg) AS gram FROM g)
              |  GROUP BY 1, 2, 3),
              |j AS (
              |  SELECT COALESCE(cgr.doc_id, rgr.doc_id) AS doc_id,
              |    COALESCE(cgr.n, rgr.n) AS n,
              |    LEAST(COALESCE(cgr.c, 0), COALESCE(rgr.c, 0)) AS m,
              |    COALESCE(cgr.c, 0) AS tc, COALESCE(rgr.c, 0) AS tr
              |  FROM cgr FULL JOIN rgr ON rgr.doc_id = cgr.doc_id
              |    AND rgr.n = cgr.n AND rgr.gram = cgr.gram),
              |per AS (
              |  SELECT doc_id, n, CAST(SUM(m) AS BIGINT) AS m,
              |    CAST(SUM(tc) AS BIGINT) AS tc,
              |    CAST(SUM(tr) AS BIGINT) AS tr
              |  FROM j GROUP BY 1, 2),
              |rolled AS (
              |  SELECT doc_id,
              |    SUM(CAST(CASE WHEN tc > 0 THEN
              |      CAST(m AS DOUBLE) / CAST(tc AS DOUBLE) ELSE 0.0 END
              |      AS DECIMAL(18,12))) AS ps,
              |    SUM(CAST(CASE WHEN tr > 0 THEN
              |      CAST(m AS DOUBLE) / CAST(tr AS DOUBLE) ELSE 0.0 END
              |      AS DECIMAL(18,12))) AS rs2
              |  FROM per GROUP BY doc_id),
              |fin AS (
              |  SELECT p.doc_id,
              |    CAST(len(p.cs) AS BIGINT) AS cand_nchars,
              |    CAST(len(p.rs) AS BIGINT) AS ref_nchars,
              |    COALESCE(CAST(r.ps AS DOUBLE) / 6.0, 0.0) AS chr_p,
              |    COALESCE(CAST(r.rs2 AS DOUBLE) / 6.0, 0.0) AS chr_r
              |  FROM pr p LEFT JOIN rolled r ON r.doc_id = p.doc_id)
              |SELECT doc_id, cand_nchars, ref_nchars, chr_p, chr_r,
              |  CASE WHEN 4.0 * chr_p + chr_r = 0.0 THEN 0.0
              |    ELSE (5.0 * chr_p * chr_r) / (4.0 * chr_p + chr_r)
              |  END AS chrf2
              |FROM fin ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Jensen-Shannon divergence between per-language unigram
    // distributions (TextOps.jensenShannonDivergence — Lin 1991): the
    // corpus-drift read via the entropy identity, every transcendental
    // one ln of an exact integer through DECIMAL(38,12). FULL oracle:
    // the grid, the midpoint masses and the fixed IEEE fold replay.
    QuerySpec(
      "q306_jsd_langs",
      (s, dir) =>
        TextOps.jensenShannonDivergence(Tables.documents(s, dir), "lang",
            "text")
          .orderBy("group_a", "group_b"),
      Some(s"""WITH wc AS (
              |  SELECT lang AS g, w, CAST(COUNT(*) AS BIGINT) AS c FROM (
              |    SELECT lang, unnest(list_filter(
              |      string_split($normSql, ' '), x -> x <> '')) AS w
              |    FROM documents) t GROUP BY 1, 2),
              |gsum AS (
              |  SELECT g, CAST(SUM(c) AS BIGINT) AS n,
              |    SUM(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
              |      AS DECIMAL(38,12))) AS s
              |  FROM wc GROUP BY g),
              |grid AS (
              |  SELECT gs.g, ws.w, COALESCE(wc.c, 0) AS c
              |  FROM (SELECT DISTINCT w FROM wc) ws
              |  CROSS JOIN (SELECT g FROM gsum) gs
              |  LEFT JOIN wc ON wc.g = gs.g AND wc.w = ws.w),
              |pt AS (
              |  SELECT a.g AS ga, b.g AS gb, a.n AS na, b.n AS nb,
              |    a.s AS sa, b.s AS sb
              |  FROM gsum a CROSS JOIN gsum b WHERE a.g < b.g),
              |ms AS (
              |  SELECT ga, gb,
              |    SUM(CAST(CAST(m AS DOUBLE) * ln(CAST(m AS DOUBLE))
              |      AS DECIMAL(38,12))) AS msum
              |  FROM (
              |    SELECT a.g AS ga, b.g AS gb,
              |      (a.c * pt.nb + b.c * pt.na) AS m
              |    FROM grid a JOIN grid b ON b.w = a.w AND a.g < b.g
              |    JOIN pt ON pt.ga = a.g AND pt.gb = b.g
              |    WHERE a.c > 0 OR b.c > 0) q
              |  GROUP BY 1, 2)
              |SELECT pt.ga AS group_a, pt.gb AS group_b,
              |  pt.na AS n_a, pt.nb AS n_b,
              |  ROUND((ln(2.0 * CAST(pt.na AS DOUBLE)
              |      * CAST(pt.nb AS DOUBLE))
              |    - CAST(ms.msum AS DOUBLE) / (2.0 * CAST(pt.na AS DOUBLE)
              |      * CAST(pt.nb AS DOUBLE)))
              |    - ((ln(CAST(pt.na AS DOUBLE))
              |        - CAST(pt.sa AS DOUBLE) / CAST(pt.na AS DOUBLE))
              |      + (ln(CAST(pt.nb AS DOUBLE))
              |        - CAST(pt.sb AS DOUBLE) / CAST(pt.nb AS DOUBLE)))
              |      / 2.0, 6) AS jsd
              |FROM pt JOIN ms ON ms.ga = pt.ga AND ms.gb = pt.gb
              |ORDER BY group_a, group_b""".stripMargin)),

    // ------------------------------------------------------------------
    // Edit-distance near-dup gate (Levenshtein 1966; Spark's codegen'd
    // levenshtein builtin vs DuckDB's levenshtein — the exactness tier
    // under the MinHash/SimHash sketches for short-text dedup): the
    // q287 anchor pairing on the first 120 normalized chars (bounding
    // the O(n·m) DP per row), normalized similarity, 0.8 gate.
    QuerySpec(
      "q307_edit_distance_pairs",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"),
          substring(TextOps.normalized(col("text")), 1, 120).as("__t"))
        val anchors = docs.select(col("doc_id").as("a_id"),
          col("__t").as("__rt"))
        docs.withColumn("a_id", expr("doc_id - doc_id % 5"))
          .join(anchors, Seq("a_id"))
          .select(col("doc_id"),
            length(col("__t")).cast("long").as("len_a"),
            length(col("__rt")).cast("long").as("len_b"),
            levenshtein(col("__t"), col("__rt")).cast("long")
              .as("edit_distance"))
          .withColumn("similarity", round(
            when(greatest(col("len_a"), col("len_b")) === 0L, lit(1.0))
              .otherwise(lit(1.0) - col("edit_distance").cast("double") /
                greatest(col("len_a"), col("len_b")).cast("double")), 6))
          .withColumn("is_near_dup", col("similarity") >= 0.8)
          .sortWithinPartitions("doc_id")
      },
      Some(s"""WITH d AS (
              |  SELECT doc_id, substr($normSql, 1, 120) AS t
              |  FROM documents),
              |pr AS (
              |  SELECT c.doc_id, c.t AS ta, r.t AS tb
              |  FROM d c JOIN d r ON r.doc_id = c.doc_id - (c.doc_id % 5)),
              |sc AS (
              |  SELECT doc_id, CAST(len(ta) AS BIGINT) AS len_a,
              |    CAST(len(tb) AS BIGINT) AS len_b,
              |    CAST(levenshtein(ta, tb) AS BIGINT) AS edit_distance
              |  FROM pr)
              |SELECT doc_id, len_a, len_b, edit_distance,
              |  ROUND(CASE WHEN GREATEST(len_a, len_b) = 0 THEN 1.0
              |    ELSE 1.0 - CAST(edit_distance AS DOUBLE)
              |      / CAST(GREATEST(len_a, len_b) AS DOUBLE) END, 6)
              |    AS similarity,
              |  ROUND(CASE WHEN GREATEST(len_a, len_b) = 0 THEN 1.0
              |    ELSE 1.0 - CAST(edit_distance AS DOUBLE)
              |      / CAST(GREATEST(len_a, len_b) AS DOUBLE) END, 6)
              |    >= 0.8 AS is_near_dup
              |FROM sc ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // ROUGE-L (TextOps.rougeL — Lin ACL'04 WS; the LCS-based eval metric
    // completing the BLEU/chrF trio): the q287 anchor pairing on the
    // first 40 tokens per side, LCS by the native codegen DP kernel
    // (functions/LcsLen.scala — one O(n·m) pass per row, never a
    // lambda). FULL oracle: the DP replays as anti-diagonal recursive
    // CTEs (two diagonals carried per round — DuckDB's recursive term
    // only sees the previous iteration), then the fixed IEEE P/R/F1.
    QuerySpec(
      "q308_rouge_l",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"),
          col("text"))
        val anchors = docs.select(col("doc_id").as("a_id"),
          col("text").as("ref_text"))
        val pairs = docs.withColumn("a_id", expr("doc_id - doc_id % 5"))
          .join(anchors, Seq("a_id"))
        TextOps.rougeL(pairs, "doc_id", "text", "ref_text",
            maxTokens = 40)
          .sortWithinPartitions("doc_id")
      },
      Some(s"""WITH RECURSIVE d0 AS (
              |  SELECT doc_id,
              |    (list_filter(string_split($normSql, ' '),
              |      x -> x <> ''))[1:40] AS toks
              |  FROM documents),
              |prn AS (
              |  SELECT c.doc_id, c.toks AS ct, r.toks AS rt,
              |    len(c.toks) AS n, len(r.toks) AS m
              |  FROM d0 c JOIN d0 r
              |    ON r.doc_id = c.doc_id - (c.doc_id % 5)),
              |lc(doc_id, i, j, v, age, d) AS (
              |  SELECT doc_id, 0, 0, 0, 0, 0 FROM prn
              |  UNION ALL
              |  SELECT * FROM (
              |    SELECT l.doc_id AS doc_id, l.i AS i, l.j AS j,
              |      l.v AS v, 1 AS age, l.d + 1 AS d
              |    FROM lc l JOIN prn p ON p.doc_id = l.doc_id
              |    WHERE l.age = 0 AND l.d < p.n + p.m
              |    UNION ALL
              |    SELECT c.doc_id AS doc_id, c.i AS i, c.j AS j,
              |      CASE WHEN c.i = 0 OR c.j = 0 THEN 0
              |        ELSE GREATEST(lft.v, up.v, dg.v +
              |          CASE WHEN list_extract(c.ct, c.i)
              |              = list_extract(c.rt, c.j)
              |            THEN 1 ELSE 0 END) END AS v,
              |      0 AS age, c.d1 AS d
              |    FROM (
              |      SELECT p.doc_id, p.ct, p.rt, cur.d + 1 AS d1,
              |        CAST(r.range AS INT) AS i,
              |        cur.d + 1 - CAST(r.range AS INT) AS j
              |      FROM (SELECT DISTINCT doc_id, d FROM lc
              |            WHERE age = 0) cur
              |      JOIN prn p ON p.doc_id = cur.doc_id, range(0, 41) r
              |      WHERE cur.d < p.n + p.m
              |        AND r.range BETWEEN GREATEST(0, cur.d + 1 - p.m)
              |          AND LEAST(p.n, cur.d + 1)
              |    ) c
              |    LEFT JOIN lc lft ON lft.doc_id = c.doc_id
              |      AND lft.age = 0 AND lft.i = c.i - 1 AND lft.j = c.j
              |    LEFT JOIN lc up ON up.doc_id = c.doc_id
              |      AND up.age = 0 AND up.i = c.i AND up.j = c.j - 1
              |    LEFT JOIN lc dg ON dg.doc_id = c.doc_id
              |      AND dg.age = 1 AND dg.i = c.i - 1 AND dg.j = c.j - 1
              |  ) nxt),
              |fin AS (
              |  SELECT l.doc_id, CAST(p.n AS BIGINT) AS cand_len,
              |    CAST(p.m AS BIGINT) AS ref_len,
              |    CAST(l.v AS BIGINT) AS lcs_len,
              |    CASE WHEN p.n = 0 THEN 0.0
              |      ELSE CAST(l.v AS DOUBLE) / CAST(p.n AS DOUBLE)
              |    END AS rouge_l_p,
              |    CASE WHEN p.m = 0 THEN 0.0
              |      ELSE CAST(l.v AS DOUBLE) / CAST(p.m AS DOUBLE)
              |    END AS rouge_l_r
              |  FROM lc l JOIN prn p ON p.doc_id = l.doc_id
              |  WHERE l.i = p.n AND l.j = p.m AND l.age = 0)
              |SELECT doc_id, cand_len, ref_len, lcs_len, rouge_l_p,
              |  rouge_l_r,
              |  CASE WHEN rouge_l_p + rouge_l_r = 0.0 THEN 0.0
              |    ELSE 2.0 * rouge_l_p * rouge_l_r
              |      / (rouge_l_p + rouge_l_r) END AS rouge_l_f1
              |FROM fin ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Corpus-level keep-first SENTENCE dedup (TextOps.sentenceDedupCorpus
    // — the C4 recipe, Raffel et al. 2020 JMLR 21(140) §2.2: every
    // repeated span keeps exactly one occurrence corpus-wide). The
    // fixture corpus has no punctuation, so the lane plants sentence
    // structure deterministically: a group-shared preamble (dup across
    // ~71 docs → survives only in the first doc of each group), a
    // near-unique body from the doc's own text, a footer shared by ALL
    // 500 docs (survives exactly once, in doc 0), and a unique tail.
    // The oracle replays the splitter (RE2 has no lookbehind — the
    // boundary rewrites to chr(1) first), the md5-keyed keep-first rule
    // as a row_number window, and the space-joined reassembly; any
    // drift in unit order, keep rule, or separator hash-mismatches.
    QuerySpec(
      "q309_sentence_dedup",
      (s, dir) => {
        val src = Tables.documents(s, dir).select(col("doc_id"),
          concat(
            lit("Shared preamble for group "),
            (col("doc_id") % 7).cast("string"), lit(". "),
            substring(col("text"), 1, 80), lit(". "),
            lit("All documents share this footer! Doc "),
            col("doc_id").cast("string"),
            lit(" keeps a unique tail.")).as("text"))
        TextOps.sentenceDedupCorpus(src, "doc_id", "text")
          .sortWithinPartitions("doc_id")
      },
      Some("""WITH src AS (
             |  SELECT doc_id,
             |    'Shared preamble for group ' || CAST(doc_id % 7 AS VARCHAR)
             |      || '. ' || substr(text, 1, 80) || '. '
             |      || 'All documents share this footer! Doc '
             |      || CAST(doc_id AS VARCHAR) || ' keeps a unique tail.'
             |      AS text
             |  FROM documents),
             |p AS (SELECT doc_id,
             |        string_split(regexp_replace(text, '([.!?])\s+',
             |          '\1' || chr(1), 'g'), chr(1)) AS parts
             |      FROM src),
             |l AS (SELECT doc_id, parts, unnest(range(len(parts))) AS i
             |      FROM p),
             |t AS (SELECT doc_id, i, parts[CAST(i+1 AS INT)] AS u,
             |             trim(parts[CAST(i+1 AS INT)]) AS tl FROM l),
             |k AS (SELECT doc_id, i, u,
             |        CASE WHEN tl = '' THEN TRUE
             |          ELSE row_number() OVER (PARTITION BY md5(tl)
             |            ORDER BY doc_id, i) = 1 END AS keep
             |      FROM t),
             |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
             |               string_agg(u, ' ' ORDER BY i) AS cleaned
             |        FROM k WHERE keep GROUP BY doc_id),
             |n AS (SELECT doc_id, len(parts) AS n_units FROM p)
             |SELECT n.doc_id, COALESCE(agg.cleaned, '') AS cleaned_text,
             |  CAST(n.n_units AS BIGINT) AS n_units,
             |  CAST(n.n_units - COALESCE(agg.n_kept, 0) AS BIGINT)
             |    AS n_dropped
             |FROM n LEFT JOIN agg ON agg.doc_id = n.doc_id
             |ORDER BY n.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Corpus-level keep-first LINE/PARAGRAPH dedup (TextOps.
    // lineDedupCorpus — the CCNet paragraph-hash / FineWeb line-dedup
    // recipe): newline-delimited units, same keep-first rule. The plant
    // includes a BLANK line between body and footer — blanks are
    // structure and must all survive, pinning that dedup does not
    // reflow documents (the reassembly keeps the empty unit and both
    // newlines around it).
    QuerySpec(
      "q310_line_dedup",
      (s, dir) => {
        val src = Tables.documents(s, dir).select(col("doc_id"),
          concat(
            lit("shared header "), (col("doc_id") % 5).cast("string"),
            lit("\n"), substring(col("text"), 1, 120), lit("\n\n"),
            lit("common footer line")).as("text"))
        TextOps.lineDedupCorpus(src, "doc_id", "text")
          .sortWithinPartitions("doc_id")
      },
      Some("""WITH src AS (
             |  SELECT doc_id,
             |    'shared header ' || CAST(doc_id % 5 AS VARCHAR) || chr(10)
             |      || substr(text, 1, 120) || chr(10) || chr(10)
             |      || 'common footer line' AS text
             |  FROM documents),
             |p AS (SELECT doc_id, string_split(text, chr(10)) AS parts
             |      FROM src),
             |l AS (SELECT doc_id, parts, unnest(range(len(parts))) AS i
             |      FROM p),
             |t AS (SELECT doc_id, i, parts[CAST(i+1 AS INT)] AS u,
             |             trim(parts[CAST(i+1 AS INT)]) AS tl FROM l),
             |k AS (SELECT doc_id, i, u,
             |        CASE WHEN tl = '' THEN TRUE
             |          ELSE row_number() OVER (PARTITION BY md5(tl)
             |            ORDER BY doc_id, i) = 1 END AS keep
             |      FROM t),
             |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
             |               string_agg(u, chr(10) ORDER BY i) AS cleaned
             |        FROM k WHERE keep GROUP BY doc_id),
             |n AS (SELECT doc_id, len(parts) AS n_units FROM p)
             |SELECT n.doc_id, COALESCE(agg.cleaned, '') AS cleaned_text,
             |  CAST(n.n_units AS BIGINT) AS n_units,
             |  CAST(n.n_units - COALESCE(agg.n_kept, 0) AS BIGINT)
             |    AS n_dropped
             |FROM n LEFT JOIN agg ON agg.doc_id = n.doc_id
             |ORDER BY n.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Mojibake detection + repair (TextOps.mojibakeRepair — the ftfy
    // encoding-fix pass every public pretraining recipe runs at
    // ingest). The testdata corpus is pure ASCII, so the lane plants
    // diacritics (é, ã, U+2019 curly quote — one 2-byte and one 3-byte
    // UTF-8 class) and garbles them with the REAL mechanism
    // (TextOps.latin1Garble: UTF-8 bytes re-read as Latin-1), then
    // repairs via the codec round-trip under the triple gate. The
    // oracle replays garble and repair as literal replace chains —
    // exact for this corpus because the planted chars are the only
    // non-ASCII content — plus the marker counts and the shrink gate;
    // `recovered` pins byte-exact recovery of every planted doc.
    QuerySpec(
      "q311_mojibake_repair",
      (s, dir) => {
        val t1 = replace(replace(replace(col("text"),
          lit("value"), lit("valué")),
          lit("table"), lit("tãble")),
          lit("data"), lit("da’ta"))
        val src = Tables.documents(s, dir)
          .select(col("doc_id"), t1.as("clean"),
            TextOps.latin1Garble(t1).as("text"))
        TextOps.mojibakeRepair(src, "doc_id", "text")
          .join(broadcast(src.select(col("doc_id"), col("clean"))),
            Seq("doc_id"))
          .select(col("doc_id"), col("fixed_text"), col("was_fixed"),
            col("n_markers"), col("mojibake_per_100"),
            col("markers_after"),
            (col("fixed_text") === col("clean")).as("recovered"))
          .sortWithinPartitions("doc_id")
      },
      Some("""WITH src AS (
             |  SELECT doc_id,
             |    replace(replace(replace(text, 'value', 'valué'),
             |      'table', 'tãble'), 'data', 'da’ta') AS clean
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, clean,
             |    replace(replace(replace(clean, 'é', 'Ã©'),
             |      'ã', 'Ã£'), '’', 'â' || chr(128) || chr(153)) AS gt
             |  FROM src),
             |m AS (
             |  SELECT doc_id, clean, gt,
             |    (length(gt) - length(replace(gt, 'Ã', '')))
             |      + (length(gt) - length(replace(gt, 'Â', '')))
             |      + (length(gt) - length(replace(gt, 'â', '')))
             |      AS n_markers,
             |    replace(replace(replace(gt, 'Ã©', 'é'), 'Ã£', 'ã'),
             |      'â' || chr(128) || chr(153), '’') AS fx
             |  FROM g),
             |f AS (
             |  SELECT doc_id, clean, gt, n_markers,
             |    CASE WHEN length(fx) < length(gt) THEN fx ELSE gt END
             |      AS ft,
             |    length(fx) < length(gt) AS was_fixed
             |  FROM m)
             |SELECT doc_id, ft AS fixed_text, was_fixed,
             |  CAST(COALESCE(n_markers, 0) AS BIGINT) AS n_markers,
             |  COALESCE(CAST(n_markers * 100 AS DOUBLE)
             |    / greatest(length(gt), 1), 0.0) AS mojibake_per_100,
             |  CAST(COALESCE((length(ft) - length(replace(ft, 'Ã', '')))
             |    + (length(ft) - length(replace(ft, 'Â', '')))
             |    + (length(ft) - length(replace(ft, 'â', ''))), 0)
             |    AS BIGINT) AS markers_after,
             |  ft = clean AS recovered
             |FROM f ORDER BY doc_id""".stripMargin))
  )
}
