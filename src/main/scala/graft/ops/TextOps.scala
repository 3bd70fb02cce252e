package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting. All pure
  * Catalyst built-in compositions — no UDFs, fully codegen'd, so a 100 TB
  * corpus pays one columnar scan and zero serialization boundaries.
  */
object TextOps {

  /** Whitespace tokenization (the baseline tokenizer). */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, 0).otherwise(size(tokens(c))).cast("long")

  /** BPE-ish word/number/symbol tokenizer: runs of letters, runs of digits,
    * or single non-space symbols — the usual pre-tokenization regex.
    */
  def subwordTokens(c: Column): Column =
    regexp_extract_all(c, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))

  def subwordCount(c: Column): Column = size(subwordTokens(c)).cast("long")

  // --- quality scoring -----------------------------------------------------

  private val defaultStopwords = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "that", "this")

  /** Fraction of tokens that are stopwords (non-distinct count, so the SQL
    * oracle's `list_filter(... IN ...)` reproduces it exactly).
    */
  def stopwordRatio(c: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val toks = tokens(lower(c))
    when(size(toks) === 0, 0.0)
      .otherwise(size(filter(toks, t => t.isInCollection(stopwords)))
        .cast("double") / size(toks))
  }

  def stopwordList: Seq[String] = defaultStopwords

  def punctRatio(c: Column): Column =
    when(length(c) === 0, 0.0).otherwise(
      (length(c) - length(regexp_replace(c, "[\\p{Punct}]", ""))).cast("double") / length(c))

  def meanTokenLength(c: Column): Column = {
    val toks = tokens(c)
    when(size(toks) === 0, 0.0)
      .otherwise(aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks))
  }

  /** Composite heuristic quality score in [0,1]: length in a sane band,
    * some stopwords present (fluent prose), punctuation not dominating,
    * tokens not degenerate. The shape of Gopher/C4-style quality filters.
    */
  def qualityScore(c: Column): Column = {
    val lenOk = when(length(c).between(50, 20000), 1.0).otherwise(0.0)
    val stopOk = when(stopwordRatio(c) >= 0.01, 1.0).otherwise(0.0)
    val punctOk = when(punctRatio(c) <= 0.2, 1.0).otherwise(0.0)
    val tokOk = when(meanTokenLength(c).between(2.0, 12.0), 1.0).otherwise(0.0)
    (lenOk * 0.3 + stopOk * 0.3 + punctOk * 0.2 + tokOk * 0.2)
  }

  /** Gopher-style per-rule quality gate (Rae et al. 2021 §A1.1, the
    * public-pipeline document filter; C4 shares several rules): one row
    * per doc with a boolean PER RULE plus the conjunction — pipelines
    * tune/ablate rules individually, so the verdicts must stay separate
    * (a composite score loses that).
    *
    * Rules (public thresholds as defaults):
    *   word_count_ok  minWords ≤ |words| ≤ maxWords        (Gopher 50..100k)
    *   mean_len_ok    3 ≤ mean word length ≤ 10
    *   symbol_ok      (#'#' + #'…' + #'...') / words ≤ 0.1
    *   bullet_ok      ≤ 90% of lines start with a bullet (-, *, •) —
    *                  Gopher removes bullet-DOMINATED docs (>90%), not
    *                  ordinary list-bearing prose
    *   ellipsis_ok    ≤ 30% of lines end with … or ...
    *   alpha_ok       ≥ 80% of words contain an alphabetic character
    *   stopword_ok    ≥ 2 distinct common stopwords present
    *
    * Every ratio threshold is evaluated as a CROSS-MULTIPLIED integer
    * comparison (10·symbols ≤ words, 5·alpha ≥ 4·words, 3·words ≤ chars ≤
    * 10·words, …) — no division, no doubles, so any engine replays the
    * boundary exactly. Pure projection: zero shuffles, zero joins.
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Long = 50L, maxWords: Long = 100000L): DataFrame = {
    val raw = coalesce(col(textCol), lit("")) // null text = empty doc
    val toks = tokens(normalized(raw))
    val nWords = when(length(normalized(raw)) === 0, 0).otherwise(size(toks))
      .cast("long")
    val charSum = coalesce(aggregate(transform(toks, t => length(t)),
      lit(0L), (acc, x) => acc + x), lit(0L))
    def occurrences(needle: String, width: Int) =
      (coalesce(length(raw), lit(0)) -
        coalesce(length(regexp_replace(raw, java.util.regex.Pattern.quote(needle), "")),
          lit(0))) / width
    val symbols = (occurrences("#", 1) + occurrences("…", 1) +
      occurrences("...", 3)).cast("long")
    val lines = split(raw, "\n")
    val nLines = coalesce(size(lines).cast("long"), lit(0L))
    val bulletLines = coalesce(size(filter(lines,
      l => ltrim(l).rlike("^[-*•]"))).cast("long"), lit(0L))
    val ellipsisLines = coalesce(size(filter(lines,
      l => rtrim(l).rlike("(\\.\\.\\.|…)$"))).cast("long"), lit(0L))
    val alphaWords = coalesce(size(filter(toks,
      t => t.rlike("[a-z]"))).cast("long"), lit(0L))
    val stops = typedLit(Seq("the", "be", "to", "of", "and", "that",
      "have", "with", "this", "it"))
    val nStops = size(array_intersect(array_distinct(toks), stops)).cast("long")
    val rules = Seq(
      ("word_count_ok", nWords.between(minWords, maxWords)),
      ("mean_len_ok", (lit(3L) * nWords <= charSum) && (charSum <= lit(10L) * nWords)),
      ("symbol_ok", lit(10L) * symbols <= nWords),
      ("bullet_ok", lit(10L) * bulletLines <= lit(9L) * nLines),
      ("ellipsis_ok", lit(10L) * ellipsisLines <= lit(3L) * nLines),
      ("alpha_ok", lit(5L) * alphaWords >= lit(4L) * nWords),
      ("stopword_ok", nStops >= 2L))
    df.select(
      (col(idCol) +: nWords.as("n_words") +: nLines.as("n_lines") +:
        rules.map { case (n, c) => c.as(n) }) :+
        rules.map(_._2).reduce(_ && _).as("keep"): _*)
  }

  // --- language identification --------------------------------------------

  /** Per-language marker sets for the stopword-overlap heuristic. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es" -> Seq("el", "la", "los", "de", "que", "y", "es", "un"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "que"))

  /** Language ID by marker-token overlap + CJK script detection. Ties break
    * deterministically (lexicographically larger language code wins via
    * struct ordering). An n-gram profile model would slot in the same way —
    * per-row, no shuffle.
    */
  def langId(c: Column): Column = {
    val toks = tokens(lower(c))
    val scored = langMarkers.map { case (lang, markers) =>
      struct(size(array_intersect(toks, typedLit(markers))).as("score"),
        lit(lang).as("lang"))
    }
    when(c.rlike("[\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}]"), "zh")
      .otherwise(
        when(greatest(scored: _*).getField("score") > 0,
          greatest(scored: _*).getField("lang"))
          .otherwise("unknown"))
  }

  /** Per-document Unicode-script distribution — the multilingual
    * curation signal next to [[langId]] (which only votes on marker
    * stopwords): exact character counts per major script (Latin,
    * Cyrillic, Han, Arabic), digits and whitespace, plus the dominant
    * script. Script classes are disjoint, so `n_other` (punctuation,
    * symbols, other scripts) is an exact remainder. The count spelling
    * is the [[gopherRules]] occurrences trick — length minus length
    * after regexp_replace — in the Java/RE2 common-semantics subset
    * (`\p{IsLatin}` here, `\p{Latin}` in the oracle: same classes), so
    * the whole report replays exactly. Pure projection, zero shuffle.
    *
    * → (idCol, n_chars, n_latin, n_cyrillic, n_han, n_arabic, n_digit,
    *   n_space, n_other, dominant_script — 'none' for empty/NULL text,
    *   ties toward the lexicographically larger script name, the
    *   [[langId]] convention)
    */
  def scriptProfile(df: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    val raw = coalesce(col(textCol), lit(""))
    def cnt(re: String): Column =
      (length(raw) - length(regexp_replace(raw, re, ""))).cast("long")
    val counts = Seq(
      "latin" -> cnt("\\p{IsLatin}"),
      "cyrillic" -> cnt("\\p{IsCyrillic}"),
      "han" -> cnt("\\p{IsHan}"),
      "arabic" -> cnt("\\p{IsArabic}"))
    val digits = cnt("[0-9]")
    val spaces = cnt("\\s")
    val total = length(raw).cast("long")
    val other = total - counts.map(_._2).reduce(_ + _) - digits - spaces
    val dominant = when(counts.map(_._2).reduce(_ + _) === 0L, lit("none"))
      .otherwise(greatest(counts.map { case (n, c) =>
        struct(c.as("n"), lit(n).as("s")) }: _*).getField("s"))
    df.select(col(idCol), total.as("n_chars"),
      counts(0)._2.as("n_latin"), counts(1)._2.as("n_cyrillic"),
      counts(2)._2.as("n_han"), counts(3)._2.as("n_arabic"),
      digits.as("n_digit"), spaces.as("n_space"), other.as("n_other"),
      dominant.as("dominant_script"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003
    * — the MOSS algorithm): the positional document fingerprints with
    * the COVERAGE GUARANTEE [[rollingFingerprint]] (one global min)
    * cannot give — in every window of `w` consecutive k-gram hashes,
    * select the minimum (rightmost on ties), so any shared substring of
    * length ≥ w + k − 1 between two documents is certain to share a
    * selected fingerprint. Hashes are the 48-bit md5 prefix (the
    * Sketches h48 recipe) so the whole selection replays exactly in
    * SQL.
    *
    * Scale shape: ONE codegen kernel call per row
    * ([[graft.functions.WinnowFingerprints]] — the q305/q287
    * static-kernel discipline): winnowing is per-document by
    * definition (windows never cross documents), so the whole
    * hash-plane + id-partitioned window + distinct pipeline this
    * replaces — itself 3.1× faster than the r18 two-pass spelling —
    * was shuffle overhead around a per-row O(len) loop. The kernel's
    * hash is exactly `conv(substring(md5(gram), 1, 12), 16, 10)` over
    * the code-point k-gram, its selection the identical
    * (hash asc, pos desc) rightmost window minimum, its within-row
    * dedupe the old `.distinct()` for unique ids — values byte-identical
    * (oracle hash re-verified).
    * Fingerprint count per document is ≈ 2·len/w (the paper's
    * density), so downstream near-dup joins on fp_hash ride skinny
    * planes.
    *
    * → (idCol, fp_pos — 1-based k-gram position, fp_hash), one-to-many
    *   per document and distinct within a document; documents shorter
    *   than w + k − 1 chars emit nothing (no full window exists).
    *   `idCol` must uniquely identify rows: each row is fingerprinted on
    *   its own, so a duplicated id emits its rows once per input row.
    */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 2 && k <= 64, s"k must be in [2,64], got $k")
    require(w >= 2 && w <= 64, s"w must be in [2,64], got $w")
    df.select(col(idCol),
        explode(graft.functions.ArrayMath.winnowFingerprints(
          normalized(col(textCol)), k, w)).as("__fp"))
      .select(col(idCol), col("__fp.fp_pos").as("fp_pos"),
        col("__fp.fp_hash").as("fp_hash"))
  }

  /** Per-document character-distribution Shannon entropy (nats) — the
    * classic gibberish/degeneracy signal beside [[zipfFit]] and the
    * Gopher gates: natural text sits near 3–4 nats, single-character
    * spam near 0, uniform random bytes near ln(alphabet). Computed as
    *
    *   H = ln(n) − (Σ c·ln c)/n
    *
    * over exact per-character counts c, each c·ln c one ln of an exact
    * integer routed through DECIMAL(18,12) before the order-independent
    * sum (the q106/q109 recipe) — bit-replayable. One explode + one
    * (id, char) aggregation with map-side combine, then the id rollup.
    *
    * → (idCol, n_chars, distinct_chars, entropy) — empty/NULL text
    *   reports 0 chars and NULL entropy.
    */
  def charEntropy(df: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val counts = df
      .select(col(idCol),
        explode(filter(split(coalesce(col(textCol), lit("")), ""),
          c => c =!= lit(""))).as("__c"))
      .groupBy(col(idCol), col("__c")).agg(count(lit(1)).as("__n"))
    val per = counts.groupBy(col(idCol))
      .agg(sum(col("__n")).as("n_chars"),
        count(lit(1)).as("distinct_chars"),
        sum((col("__n").cast("double") * log(col("__n").cast("double")))
          .cast("decimal(18,12)")).as("__s"))
      .select(col(idCol), col("n_chars"), col("distinct_chars"),
        round(log(col("n_chars").cast("double")) -
          col("__s").cast("double") / col("n_chars").cast("double"), 6)
          .as("entropy"))
    df.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("distinct_chars"), lit(0L)).as("distinct_chars"),
        col("entropy"))
  }

  // --- PII redaction -------------------------------------------------------

  /** Patterns restricted to syntax shared by Java regex (Spark) and RE2
    * (DuckDB's regexp engine): no lookaround, no backreferences — so the
    * DuckDB oracle replays the exact same matches.
    */
  private[ops] val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[ops] val ipRe    = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  // Leading anchor: without it a longer digit run like "1234-567-8901"
  // matches from its 2nd digit, redacting a bogus suffix and leaving a
  // stray lead digit. `(?:\+|\b)` rather than a plain `\b` because '+' is
  // a non-word char ("\b\+" never matches after a space).
  private[ops] val phoneRe = "(?:\\+|\\b)\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** Redact emails, IPv4 addresses, and NNN-NNN-NNNN phone numbers with
    * typed placeholder tags — the standard PII scrub pass a training-data
    * pipeline runs before anything else sees the text. Order matters: emails
    * first (their local parts may contain digit runs), then IPs (4 dotted
    * octets, which the dot-separated phone form would otherwise half-eat),
    * then phones. Pure `regexp_replace` chain — codegen'd, replaces ALL
    * occurrences (Spark default; DuckDB needs the 'g' flag).
    */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailRe, "<EMAIL>"),
        ipRe, "<IP>"),
      phoneRe, "<PHONE>")

  /** Per-kind PII hit counts (before redaction) — the audit metric side of
    * [[redactPii]]. Counted on the same chain order the redaction uses, so
    * counts and redactions always agree.
    */
  def piiCounts(c: Column): (Column, Column, Column) = {
    val afterEmail = regexp_replace(c, emailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, ipRe, "<IP>")
    (size(regexp_extract_all(c, lit(emailRe), lit(0))).cast("long"),
      size(regexp_extract_all(afterEmail, lit(ipRe), lit(0))).cast("long"),
      size(regexp_extract_all(afterIp, lit(phoneRe), lit(0))).cast("long"))
  }

  // --- repetition / degeneracy metrics ------------------------------------

  /** Fraction of tokens that are repeats of an earlier token:
    * `1 − distinct/total`. 0 for empty docs. Exact integer counts + one
    * IEEE division — bit-reproducible on any engine.
    */
  def dupTokenFraction(c: Column): Column = {
    val toks = tokens(normalized(c))
    when(size(toks) === 0, 0.0)
      .otherwise(lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks))
  }

  /** Share of all token n-grams taken by the single most frequent one — the
    * Gopher-style "top n-gram fraction" degeneracy signal (looping text
    * scores near 1).
    *
    * Shape matters here, twice over. (1) HOFs are interpreted, and any
    * expression nested INSIDE a lambda re-evaluates per element — a naive
    * "for each distinct gram, filter-count the grams" spelling re-derives
    * the whole shingle array u·n times per row (caught live: it pinned a
    * core for minutes at sf0.1). (2) Even building shingle STRINGS via
    * [[tokenShingles]] pays the same tax, because its `slice(toks, i, n)`
    * sits inside a lambda. So grams are the codegen'd
    * [[graft.functions.ShingleHashes]] longs (one native pass, no lambda),
    * and the max multiplicity is the longest equal-run of the SORTED hash
    * array — one O(n) `aggregate` whose input sits outside every lambda.
    * Gram identity by 64-bit hash is this repo's established convention
    * (q27's exact Jaccard rides on it); equal strings ↔ equal hashes at
    * negligible (~n²/2⁻⁶⁴) collision odds.
    */
  def topNgramFraction(c: Column, n: Int = 2): Column = {
    import graft.functions.ArrayMath
    val grams = ArrayMath.shingleHashes(tokens(normalized(c)), n)
    val best = aggregate(
      array_sort(grams),
      struct(lit(0L).as("best"), lit(0L).as("run"),
        lit(null).cast("long").as("prev")),
      (acc, x) => {
        val newRun = when(acc.getField("prev").isNotNull &&
          acc.getField("prev") === x, acc.getField("run") + 1L).otherwise(lit(1L))
        struct(greatest(acc.getField("best"), newRun).as("best"),
          newRun.as("run"), x.as("prev"))
      },
      acc => acc.getField("best"))
    when(size(grams) === 0, 0.0)
      .otherwise(best.cast("double") / size(grams))
  }

  // --- fingerprinting ------------------------------------------------------

  /** Canonical text form for exact-dup detection: lowercase, collapse
    * whitespace, trim.
    */
  def normalized(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Content fingerprint = md5 of the normalized text (md5 so the DuckDB
    * oracle can reproduce it bit-for-bit).
    */
  def fingerprintMd5(c: Column): Column = md5(normalized(c).cast("binary"))

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004):
    * PageRank over the corpus-level word co-occurrence graph —
    * consecutive lowercase alphabetic non-stopword token pairs become
    * undirected edges (both directions of each pair), ranked by
    * [[WebGraph.pageRank]]'s exact scaled-integer kernel, so the
    * keyword scores are bit-reproducible and SQL-replayable (the q145
    * discipline applied to words instead of hosts).
    *
    * The pair extraction is a pure codegen projection (zip_with over
    * two slices — no posexplode self-join); the graph is
    * vocabulary-sized, so every PageRank iteration runs on the skinny
    * word plane no matter how large the corpus.
    *
    * → (token, rank) — rank in SCALE-scaled integer units.
    */
  def textRankKeywords(docs: DataFrame, textCol: String,
                       iterations: Int = 6,
                       stopwords: Seq[String] = defaultStopwords): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val pairs = docs
      .select(explode(zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a").rlike("^[a-z]{3,}$") && col("b").rlike("^[a-z]{3,}$") &&
        !col("a").isInCollection(stopwords) &&
        !col("b").isInCollection(stopwords) &&
        col("a") =!= col("b"))
      // deduped BEFORE the reversal union: the explode+regex extraction
      // runs once, and both directions reverse the small distinct pair
      // set instead of re-scanning the corpus
      .distinct()
      .localCheckpoint()
    val edges = pairs
      .union(pairs.select(col("b").as("a"), col("a").as("b")))
    WebGraph.pageRank(edges, "a", "b", iterations)
      .select(col("node").as("token"), col("rank"))
  }

  /** Readability scores (Flesch 1948; Kincaid 1975 — the grade-level
    * heuristics text pipelines bin corpora by): per document the
    * word / sentence / syllable counts and
    *
    *   FRE      = 206.835 − 1.015·(W/S) − 84.6·(Y/W)
    *   FK grade = 0.39·(W/S) + 11.8·(Y/W) − 15.59
    *
    * with the standard surface approximations — sentences = non-blank
    * [.!?]+ splits, syllables = vowel-group ([aeiouy]+) runs — all
    * exact integer counts from one codegen projection (regex in the
    * Java/RE2 common subset, the q143 discipline), then two fixed IEEE
    * expressions. Documents with no words or no sentences report NULL
    * scores rather than dividing by zero.
    *
    * → (idCol, n_words, n_sentences, n_syllables, flesch, fk_grade)
    */
  def readability(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val t = col(textCol)
    val nWords = tokenCount(t)
    val nSents = size(filter(split(t, "[.!?]+"),
      s => length(trim(s)) > 0)).cast("long")
    val nSyll = size(regexp_extract_all(lower(t), lit("[aeiouy]+"),
      lit(0))).cast("long")
    docs.select(col(idCol), nWords.as("n_words"), nSents.as("n_sentences"),
        nSyll.as("n_syllables"))
      .withColumn("flesch",
        when(col("n_words") > 0 && col("n_sentences") > 0,
          lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") /
              col("n_sentences").cast("double")) -
            lit(84.6) * (col("n_syllables").cast("double") /
              col("n_words").cast("double"))))
      .withColumn("fk_grade",
        when(col("n_words") > 0 && col("n_sentences") > 0,
          lit(0.39) * (col("n_words").cast("double") /
            col("n_sentences").cast("double")) +
            lit(11.8) * (col("n_syllables").cast("double") /
              col("n_words").cast("double")) - lit(15.59)))
  }

  /** Zipf power-law fit (Zipf 1949; the q180 Heaps-law sibling): OLS of
    * ln(frequency) on ln(rank) over the top-K vocabulary — the slope
    * (≈ −1 for natural language) is the standard corpus-naturalness
    * probe: boilerplate-heavy or synthetic corpora flatten or steepen
    * it. Every regression moment is one ln/product of integer-derived
    * doubles cast to DECIMAL(18,12) before summing (the q106 recipe),
    * exiting over the VARCHAR bridge into a fixed IEEE sequence — the
    * whole fit hash-matches.
    *
    * Scale shape: one corpus aggregation to the vocabulary, a
    * distributed top-K (TakeOrderedAndProject), then everything runs on
    * the K-row head — the rank window is over K rows, never the corpus.
    *
    * → one row (n_tokens, slope, intercept, r2)
    */
  def zipfFit(docs: DataFrame, textCol: String, topK: Int = 1000): DataFrame = {
    require(topK >= 10, s"topK must be >= 10, got $topK")
    val counts = docs
      .select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("tok")).limit(topK)
    // K-row post-limit plane: single-partition window by construction
    val ranked = counts.withColumn("rk", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(graft.functions.ArrayMath.boundedKey(counts))
        .orderBy(col("f").desc, col("tok"))))
    val lx = log(col("rk").cast("double"))
    val ly = log(col("f").cast("double"))
    def dsum(c: Column, name: String) =
      sum(c.cast("decimal(18,12)")).as(name)
    val m = ranked.agg(count(lit(1)).as("n_tokens"),
      dsum(lx, "__sx"), dsum(ly, "__sy"), dsum(lx * ly, "__sxy"),
      dsum(lx * lx, "__sxx"), dsum(ly * ly, "__syy"))
    def d(name: String) = col(name).cast("string").cast("double")
    val nD = col("n_tokens").cast("double")
    val covXY = d("__sxy") - d("__sx") * d("__sy") / nD
    val varX = d("__sxx") - d("__sx") * d("__sx") / nD
    val varY = d("__syy") - d("__sy") * d("__sy") / nD
    val slope = covXY / varX
    m.select(col("n_tokens"), slope.as("slope"),
      (d("__sy") / nD - slope * d("__sx") / nD).as("intercept"),
      (covXY * covXY / (varX * varY)).as("r2"))
  }

  /** Rolling-hash document fingerprint: minimum 64-bit hash over character
    * shingles — a winnowing-style single-value sketch.
    */
  def rollingFingerprint(c: Column, shingle: Int = 8): Column = {
    val sh = charShingles(normalized(c), shingle)
    when(size(sh) === 0, xxhash64(normalized(c)))
      .otherwise(array_min(transform(sh, s => xxhash64(s))))
  }

  /** 1..stop as an array; EMPTY when stop < 1 (Spark's `sequence(1, 0)`
    * counts DOWN to `[1, 0]`, which would fabricate elements).
    */
  private[ops] def indices1(stop: Column): Column =
    when(stop < 1, typedLit(Seq.empty[Int])).otherwise(sequence(lit(1), stop))

  /** All character n-grams of `c` (positions are 1-based `substring`). */
  def charShingles(c: Column, n: Int): Column =
    transform(indices1(length(c) - (n - 1)), i => c.substr(i, lit(n)))

  /** Token n-gram shingles joined with a space.
    *
    * COST NOTE: `slice(toks, i, n)` sits inside the transform lambda, and
    * interpreted HOFs re-evaluate lambda-nested expressions per element —
    * so the tokenization re-runs once per shingle (O(len²) per row). Fine
    * for tests and short fields; corpus-scale paths must use the codegen'd
    * [[graft.functions.ShingleHashes]] (single pass) instead, as every
    * dedup/decontamination/repetition operator here does.
    */
  def tokenShingles(c: Column, n: Int): Column = {
    val toks = tokens(normalized(c))
    transform(indices1(size(toks) - (n - 1)),
      i => array_join(slice(toks, i, lit(n)), " "))
  }

  /** TF-IDF top-k terms per document (tf · ln(N/df), the plain unsmoothed
    * form). Distributed shape: one explode → tf groupBy (doc, term);
    * document frequency re-aggregated FROM the tf table (already one row
    * per (doc, term), so no count-distinct shuffle); term-keyed join; the
    * corpus size joins as a broadcast 1-row aggregate (no driver action
    * inside the plan). Top-k by a per-document window — partitioned, never
    * a global sort.
    *
    * Determinism: ranking uses the UNROUNDED score (ties broken by term);
    * equal (tf, df) pairs give bit-identical doubles on any IEEE engine,
    * and ln here is empirically bit-identical between the JVM and DuckDB
    * at fixture scale (probed over all N/df ratios) — the q67 oracle
    * rounds only for display.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 5): DataFrame = {
    val total = df.agg(count(lit(1)).cast("double").as("__n"))
    val toks = df.select(col(idCol), explode(tokens(normalized(col(textCol)))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(total))
      .withColumn("__score", col("tf") * log(col("__n") / col("df")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(idCol), col("term"), round(col("__score"), 6).as("score"))
  }

  /** Statistical LM quality score (the CCNet filtering pattern, Wenzek et
    * al. LREC'20, with the n-gram LM trained on the corpus itself): per
    * document, the average log2-likelihood of its token bigrams under an
    * add-k-smoothed bigram model,
    *   P(w2 | w1) = (B(w1,w2) + k) / (C(w1) + k·V)
    * where B = corpus bigram count, C(w1) = times w1 precedes any token,
    * V = corpus vocabulary size. Documents full of rare/garbled token
    * transitions score far below fluent ones — a cheap, fully
    * deterministic stand-in for perplexity filtering (rank by score,
    * keep the top mass). Docs with < 2 tokens have no bigrams and are
    * excluded. Returns (idCol, n_bigrams, avg_ll).
    *
    * Scale shape: the bigram stream is skinny (w1, w2, doc); model counts
    * are two hash aggregates on it; scoring joins are keyed on (w1, w2)
    * and w1 — never broadcast (a 100 TB corpus vocabulary does not fit on
    * one node), never all-pairs. Per-term log2 values round through
    * DECIMAL(18,12) before the per-doc sum, so partial-aggregation order
    * cannot change the result (same trick as the decimal profile sums);
    * ln/log2 itself is empirically bit-identical JVM-vs-DuckDB at fixture
    * scale (see [[tfidfTopTerms]]'s note).
    */
  def lmQualityScore(df: DataFrame, idCol: String, textCol: String,
                     k: Double = 1.0): DataFrame = {
    require(k > 0, "smoothing k must be positive")
    val docs = df
      .select(col(idCol), tokens(normalized(col(textCol))).as("__t"))
      .filter(size(col("__t")) >= 2)
    val bigrams = docs.select(col(idCol), explode(transform(
      sequence(lit(1), size(col("__t")) - 1),
      i => struct(element_at(col("__t"), i).as("w1"),
        element_at(col("__t"), i + lit(1)).as("w2")))).as("__bg"))
      .select(col(idCol), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
    val bCounts = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("__b"))
    val cCounts = bigrams.groupBy(col("w1")).agg(count(lit(1)).as("__c"))
    // scalar vocab size — one tiny broadcast row, not the model tables
    val vocab = docs.select(explode(col("__t")).as("w"))
      .agg(countDistinct(col("w")).cast("double").as("__v"))
    val term = log2((col("__b") + lit(k)) / (col("__c") + lit(k) * col("__v")))
      .cast("decimal(18,12)")
    bigrams
      .join(bCounts, Seq("w1", "w2"))
      .join(cCounts, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(term).as("__sum"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__sum").cast("double") / col("n_bigrams"), 6).as("avg_ll"))
  }

  /** Pointwise-mutual-information collocations (Church & Hanks, CL'90):
    * adjacent token pairs that co-occur far more than their unigram
    * frequencies predict — multiword expressions ("new york", "machine
    * learning") for tokenizer seeding, stopphrase lists, and corpus
    * analysis. PMI = ln(P(w1,w2) / (P(w1)·P(w2))) with probabilities from
    * corpus counts; spelled as ln((B·T·T) / (TB·C1·C2)) — ONE log of a
    * ratio of exact integer products, so engine parity needs only the ln
    * (the [[tfidfTopTerms]] precedent), no double partial sums anywhere.
    * `minCount` drops the unstable low-frequency tail (PMI's classic
    * pathology: a pair seen once between two hapaxes scores huge).
    *
    * Scale shape: the bigram stream is skinny (w1, w2); counts are hash
    * aggregates over it; scoring joins are keyed on w1 / w2 — never
    * broadcast (a corpus vocabulary does not fit on one node); the two
    * scalar totals ride as one broadcast row.
    *
    * @return (w1, w2, n_pair, pmi) for pairs with n_pair ≥ minCount
    */
  def pmiCollocations(df: DataFrame, textCol: String,
                      minCount: Long = 5L): DataFrame = {
    require(minCount >= 1, "minCount must be at least 1")
    val docs = df.select(tokens(normalized(col(textCol))).as("__t"))
      .filter(size(col("__t")) >= 2)
    val bigrams = docs.select(explode(transform(
      sequence(lit(1), size(col("__t")) - 1),
      i => struct(element_at(col("__t"), i).as("w1"),
        element_at(col("__t"), i + lit(1)).as("w2")))).as("__bg"))
      .select(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
    val pairCounts = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val toks = df.select(explode(tokens(normalized(col(textCol)))).as("w"))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("__c"))
    val totals = toks.agg(count(lit(1)).as("__t_tok"))
      .crossJoin(bigrams.agg(count(lit(1)).as("__t_bg")))
    pairCounts
      .join(uni.select(col("w").as("w1"), col("__c").as("__c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("__c").as("__c2")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_pair"),
        round(log(
          (col("n_pair").cast("double") * col("__t_tok") * col("__t_tok"))
            / (col("__t_bg").cast("double") * col("__c1") * col("__c2"))), 6)
          .as("pmi"))
  }

  /** Okapi BM25 document scoring for a fixed query-term set (Robertson &
    * Walker, SIGIR'94 — the standard lexical retrieval ranking; in a
    * data pipeline: targeted corpus selection, "find documents about X"
    * quality slices). Per surviving document,
    *   score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    * with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) (the always-positive
    * Lucene variant). Returns (idCol, n_hits, score) for documents
    * matching ≥ 1 term.
    *
    * Scale shape: the query-term filter is a literal `isin` pushed below
    * the explode-aggregate, so the tf table is |docs|·|queryTerms| skinny
    * rows, not the corpus token stream; df/N/avgdl reduce to ≤|queryTerms|
    * + 2 broadcast rows. Two skinny shuffles total. Per-term scores round
    * through DECIMAL(18,12) before the per-doc sum (partial-agg order
    * independence, as [[lmQualityScore]]); ln parity is the
    * [[tfidfTopTerms]] precedent.
    */
  def bm25Scores(df: DataFrame, idCol: String, textCol: String,
                 queryTerms: Seq[String], k1: Double = 1.2,
                 b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    require(k1 > 0 && b >= 0 && b <= 1, "k1 > 0 and b in [0,1]")
    val docs = df.select(col(idCol), tokens(normalized(col(textCol))).as("__t"))
      .select(col(idCol), col("__t"), size(col("__t")).cast("double").as("__dl"))
    // avgdl via an exact integer sum, not avg(double): double partial
    // sums are partition-order dependent; the integer sum + one division
    // is bit-identical on any engine and layout
    val corpus = docs.agg(count(lit(1)).cast("double").as("__n"),
      (sum(col("__dl").cast("long")).cast("double")
        / count(lit(1)).cast("double")).as("__avgdl"))
    val hits = docs
      .select(col(idCol), col("__dl"), explode(col("__t")).as("__term"))
      .filter(col("__term").isin(queryTerms: _*))
    val tf = hits.groupBy(col(idCol), col("__term"))
      .agg(count(lit(1)).cast("double").as("__tf"), max(col("__dl")).as("__dl"))
    val dfreq = tf.groupBy(col("__term")).agg(count(lit(1)).cast("double").as("__df"))
    val idf = log(lit(1.0) + (col("__n") - col("__df") + lit(0.5))
      / (col("__df") + lit(0.5)))
    val termScore = (idf * col("__tf") * lit(k1 + 1.0)
      / (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))))
      .cast("decimal(18,12)")
    tf.join(broadcast(dfreq), "__term")
      .crossJoin(broadcast(corpus))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"), sum(termScore).as("__s"))
      .select(col(idCol), col("n_hits"),
        round(col("__s").cast("double"), 6).as("score"))
  }

  /** CCNet-style n-gram LM quality gate (Wenzek et al., LREC 2020 — the
    * standard public pretraining-pipeline perplexity filter): train a
    * bigram language model over `train` and score every `docs` row by its
    * average negative log-likelihood under add-one (Laplace) smoothing:
    *
    *   nll(doc) = (1/n) · Σ_bigrams ln((c(w1,·) + V) / (c(w1,w2) + 1))
    *
    * where c(w1,w2) is the train-corpus bigram count, c(w1,·) its
    * left-context total, and V the train vocabulary size. Perplexity is
    * exp(nll); nll is reported directly (monotone in perplexity) so every
    * term stays ONE ln of a ratio of exact integers — the q106/PMI
    * cross-engine parity recipe. Gibberish and out-of-domain documents
    * score high; fluent in-domain text scores low — rank/threshold on
    * `avg_nll` exactly as CCNet thresholds perplexity.
    *
    * Generalizes [[lmQualityScore]] (the in-corpus flavor): a SEPARATE
    * train corpus — CCNet trains on a curated reference (wiki) and scores
    * the crawl — and add-one mass for bigrams/contexts the train set
    * never saw (left joins; an inner join could only score the training
    * corpus itself).
    *
    * Output: one row per `docs` row — (idCol, n_bigrams, avg_nll);
    * documents with fewer than 2 tokens report n_bigrams = 0 and a NULL
    * score (route them to a length gate, not this one).
    *
    * Scale shape: training is two aggregations over the TRAIN corpus
    * (bigram counts + their left-context rollup, V rides as one broadcast
    * row); a CCNet-style train set is a curated reference corpus
    * (wiki-sized), so the resulting LM tables are vocab-plane frames that
    * AQE broadcasts — the scored corpus then never shuffles except the
    * final skinny (id, term) per-doc aggregation, whose map-side partial
    * combine collapses contiguous doc rows before the exchange. Per-term
    * nll routes through DECIMAL(18,12) before the per-doc sum
    * (partial-agg order independence, the [[bm25Scores]] discipline).
    */
  def bigramLmNll(docs: DataFrame, idCol: String, textCol: String,
                  train: DataFrame, trainTextCol: String): DataFrame = {
    def bigramsOf(d: DataFrame, cols: Seq[Column], tcol: String): DataFrame = {
      val t = d.select(cols :+ tokens(normalized(col(tcol))).as("__t"): _*)
        .filter(size(col("__t")) >= 2)
      t.select(cols :+ explode(transform(
        sequence(lit(1), size(col("__t")) - 1),
        i => struct(element_at(col("__t"), i).as("w1"),
          element_at(col("__t"), i + lit(1)).as("w2")))).as("__bg"): _*)
        .select(cols :+ col("__bg.w1").as("__w1") :+ col("__bg.w2").as("__w2"): _*)
    }
    val bg = bigramsOf(train, Nil, trainTextCol)
      .groupBy(col("__w1"), col("__w2")).agg(count(lit(1)).as("__c12"))
    val leftTotals = bg.groupBy(col("__w1")).agg(sum(col("__c12")).as("__c1"))
    val vocab = train
      .select(explode(tokens(normalized(col(trainTextCol)))).as("__w"))
      .agg(countDistinct(col("__w")).as("__v")) // 1 row
    val nllTerm = log(
      (coalesce(col("__c1"), lit(0L)) + col("__v")).cast("double")
        / (coalesce(col("__c12"), lit(0L)) + lit(1L)).cast("double"))
      .cast("decimal(18,12)")
    val scored = bigramsOf(docs, Seq(col(idCol)), textCol)
      .join(bg, Seq("__w1", "__w2"), "left")
      .join(leftTotals, Seq("__w1"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(nllTerm).as("__s"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__s").cast("double") / col("n_bigrams").cast("double"), 6)
          .as("avg_nll"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"), col("avg_nll"))
  }

  /** Interpolated Kneser–Ney bigram LM scoring (Kneser & Ney, ICASSP
    * 1995; the Chen & Goodman 1998 interpolated form) — the standard LM
    * family behind KenLM-style quality filters, next to
    * [[bigramLmNll]]'s add-one CCNet flavor. With absolute discount
    * D = discountNum/discountDen and train statistics
    *
    *   c12 = c(w1 w2),  c1 = c(w1 ·),  N1(w1·) = |{w : c(w1 w) > 0}|,
    *   N1(·w2) = |{v : c(v w2) > 0}|,  Ncc = |{(v,w) : c(v w) > 0}|
    *
    * each scored bigram's probability is
    *
    *   P(w2|w1) = max(c12 − D, 0)/c1 + D·N1(w1·)/c1 · Pcont(w2)
    *   Pcont(w2) = (N1(·w2) + 1) / (Ncc + V + 1)
    *
    * (continuation probability add-one smoothed over the V-word train
    * vocabulary plus an OOV bucket, so unseen words keep positive mass);
    * an UNSEEN left context backs off to Pcont(w2) alone. Each nll term
    * is ln(den) − ln(num) of the single-fraction spelling
    *
    *   num = max(Dd·c12 − Dn, 0)·(Ncc+V+1) + Dn·N1(w1·)·(N1(·w2)+1)
    *   den = Dd·c1·(Ncc+V+1)
    *
    * — both EXACT BIGINTs (num > 0 always: a seen context has
    * N1(w1·) ≥ 1), so every term is one ln of a ratio of exact integers
    * cast to DECIMAL(18,12) — the q106/PMI cross-engine parity recipe.
    * BIGINT headroom is GUARDED, not assumed: one up-front scalar
    * aggregate measures max(c1), Ncc and V on the actual train corpus
    * and raises loudly when Dd·max(c1)·(Ncc+V+1) + Dn·V·(V+1) would
    * leave int64 (≈1e9-scale corpora are fine; past the bound, shrink
    * or sample the LM — a silent wrap would score garbage NLLs).
    *
    * Output and scale shape follow [[bigramLmNll]] verbatim: train is
    * two aggregations to vocab-plane frames that AQE broadcasts, scoring
    * never shuffles except the final skinny per-doc aggregation;
    * (idCol, n_bigrams, avg_nll), <2-token docs score NULL.
    */
  def knBigramNll(docs: DataFrame, idCol: String, textCol: String,
                  train: DataFrame, trainTextCol: String,
                  discountNum: Int = 3, discountDen: Int = 4): DataFrame = {
    require(discountNum > 0 && discountNum < discountDen,
      s"discount must be in (0,1), got $discountNum/$discountDen")
    val dn = lit(discountNum.toLong)
    val dd = lit(discountDen.toLong)
    def bigramsOf(d: DataFrame, cols: Seq[Column], tcol: String): DataFrame = {
      val t = d.select(cols :+ tokens(normalized(col(tcol))).as("__t"): _*)
        .filter(size(col("__t")) >= 2)
      t.select(cols :+ explode(transform(
        sequence(lit(1), size(col("__t")) - 1),
        i => struct(element_at(col("__t"), i).as("w1"),
          element_at(col("__t"), i + lit(1)).as("w2")))).as("__bg"): _*)
        .select(cols :+ col("__bg.w1").as("__w1") :+ col("__bg.w2").as("__w2"): _*)
    }
    val bg = bigramsOf(train, Nil, trainTextCol)
      .groupBy(col("__w1"), col("__w2")).agg(count(lit(1)).as("__c12"))
    val left = bg.groupBy(col("__w1"))
      .agg(sum(col("__c12")).as("__c1"), count(lit(1)).as("__n1l"))
    val rightTypes = bg.groupBy(col("__w2")).agg(count(lit(1)).as("__n1r"))
    // ONE up-front scalar action measures the actual train corpus so the
    // exact-BIGINT single-fraction spelling can raise LOUDLY instead of
    // overflowing silently (the katzCentrality convention): the largest
    // products are den = Dd·c1·(Ncc+V+1) and num's Dn·N1(w1·)·(N1(·w2)+1)
    // ≤ Dn·V·(V+1), both bounded here in BigInt. The same row carries
    // Ncc and V, which then enter the plan as LITERALS — the 1-row
    // broadcast crossJoin the lazy spelling needed disappears.
    val g = left.agg(coalesce(max(col("__c1")), lit(0L)).as("__mc1"))
      .crossJoin(bg.agg(count(lit(1)).as("__ncc")))
      .crossJoin(
        train.select(explode(tokens(normalized(col(trainTextCol)))).as("__w"))
          .agg(countDistinct(col("__w")).as("__v")))
      .head() // one scalar row to the driver
    val maxC1 = g.getLong(0); val nccVal = g.getLong(1); val vVal = g.getLong(2)
    val nsmBig = BigInt(nccVal) + vVal + 1
    val worst = BigInt(discountDen) * maxC1 * nsmBig +
      BigInt(discountNum) * vVal * (BigInt(vVal) + 1)
    require(worst <= Long.MaxValue,
      s"knBigramNll overflow bound: Dd*max(c1)*(Ncc+V+1) + Dn*V*(V+1) = " +
        s"$worst exceeds int64 (max c1 = $maxC1, Ncc = $nccVal, V = $vVal) " +
        "— the exact-BIGINT probability fraction would wrap silently; " +
        "shrink the train corpus or score against a sampled LM")
    val nsm = lit(nccVal + vVal + 1L)
    val n1r1 = coalesce(col("__n1r"), lit(0L)) + lit(1L)
    val num = when(col("__c1").isNull, n1r1)
      .otherwise(
        greatest(dd * coalesce(col("__c12"), lit(0L)) - dn, lit(0L)) * nsm +
          dn * col("__n1l") * n1r1)
    val den = when(col("__c1").isNull, nsm).otherwise(dd * col("__c1") * nsm)
    val nllTerm = (log(den.cast("double")) - log(num.cast("double")))
      .cast("decimal(18,12)")
    val scored = bigramsOf(docs, Seq(col(idCol)), textCol)
      .join(bg, Seq("__w1", "__w2"), "left")
      .join(left, Seq("__w1"), "left")
      .join(rightTypes, Seq("__w2"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(nllTerm).as("__s"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__s").cast("double") / col("n_bigrams").cast("double"), 6)
          .as("avg_nll"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"), col("avg_nll"))
  }

  /** Sentence-level BLEU-4 (Papineni et al., ACL 2002) between a
    * candidate and a reference text column on the SAME row — the
    * benchmark-overlap metric an eval-decontamination pass scores
    * suspected (candidate, source) pairs with, next to the exact
    * n-gram containment gates. Per n ∈ 1..4, modified precision
    * p_n = clipped matches / candidate n-gram count (each candidate
    * n-gram's matches clipped at its reference count), and
    *
    *   BLEU = BP · exp(¼ Σ_n ln p_n),  BP = min(1, e^{1 − r/c})
    *
    * with NO smoothing: any p_n = 0 (including a candidate shorter
    * than 4 tokens) scores 0 — the strict sacrebleu default.
    *
    * Exactness: every match/total count is an exact integer (explode
    * → count → clip-join — nothing float touches a count); each
    * ln p_n = ln m − ln t routes through DECIMAL(18,12), their
    * ¼-scaled sum is an exact decimal, and BP's exponent is one IEEE
    * division — the q106/q109 recipe, so the DuckDB oracle replays
    * BLEU bit-for-bit.
    *
    * Scale shape: ONE codegen kernel call per row
    * ([[graft.functions.BleuGramStats]] — the q279/q308 static-kernel
    * discipline) yields every order's exact (m, t) integers with the
    * identical U+0001-joined gram identity; everything after is per-row
    * arithmetic. Zero shuffles — the former spelling exploded both
    * sides to an (id, n, gram) plane and paid a gram exchange, a clip
    * join and a pivot for counts a segment-local loop computes in-place
    * (an even earlier higher-order-function formulation was also
    * shuffle-free but paid O(len²) INTERPRETED lambda evals per row —
    * a native kernel has neither cost). A NULL side enters the kernel
    * as an empty array, reproducing the old left-join zeros; the
    * output's own NULL masking is unchanged. `idCol` must uniquely
    * identify rows.
    *
    * → (idCol, cand_len, ref_len, p1..p4 — NULL when the candidate has
    *   no n-grams of that order — brevity_penalty, bleu); a NULL
    *   candidate or reference scores NULL.
    */
  def bleuScore(pairs: DataFrame, idCol: String, candCol: String,
                refCol: String): DataFrame = {
    def toks(c: Column): Column =
      filter(tokens(normalized(c)), t => t =!= lit(""))
    val base = pairs.select(col(idCol), toks(col(candCol)).as("__ct"),
      toks(col(refCol)).as("__rt"))
    val counted = (1 to 4).foldLeft(
      base.withColumn("__bst", graft.functions.ArrayMath.bleuGramStats(
        coalesce(col("__ct"), array().cast("array<string>")),
        coalesce(col("__rt"), array().cast("array<string>"))))) { (d, n) =>
      d.withColumn(s"__m$n", col("__bst").getItem(n - 1).getField("m"))
        .withColumn(s"__t$n", col("__bst").getItem(n - 1).getField("t"))
    }
    val anyZero = (1 to 4)
      .map(n => col(s"__m$n") === 0L || col(s"__t$n") === 0L)
      .reduce(_ || _)
    val lnSum = (1 to 4).map { n =>
      (log(col(s"__m$n").cast("double")) - log(col(s"__t$n").cast("double")))
        .cast("decimal(18,12)")
    }.reduce(_ + _)
    val cLen = size(col("__ct")).cast("long")
    val rLen = size(col("__rt")).cast("long")
    val lnBp = least(lit(0.0),
      lit(1.0) - rLen.cast("double") / cLen.cast("double"))
    val quarter = lit(new java.math.BigDecimal("0.25"))
    counted
      .withColumn("cand_len", cLen).withColumn("ref_len", rLen)
      .select(
        Seq(col(idCol), col("cand_len"), col("ref_len")) ++
        (1 to 4).map(n => when(col(s"__t$n") > 0L,
          col(s"__m$n").cast("double") / col(s"__t$n").cast("double"))
          .as(s"p$n")) ++
        Seq(
          when(col("cand_len") > 0L,
            exp(lnBp).cast("decimal(18,12)").cast("double"))
            .as("brevity_penalty"),
          when(col("__ct").isNull || col("__rt").isNull,
            lit(null).cast("double"))
            .when(col("cand_len") === 0L || anyZero, lit(0.0))
            .otherwise(
              exp((lnSum * quarter).cast("double") + lnBp)
                .cast("decimal(18,12)").cast("double")).as("bleu")): _*)
  }

  /** chrF — character n-gram F-score (Popović, WMT 2015; the
    * tokenization-free MT/eval overlap metric sacrebleu ships beside
    * BLEU, robust where word-level BLEU is brittle on morphology and
    * whitespace): over (candidate, reference) pairs on the SAME row,
    * character n-grams n ∈ 1..`maxN` are extracted from the normalized
    * text with ALL whitespace removed (the metric's definition), and
    *
    *   P_n = clipped matches / cand n-grams   (0 when cand has none)
    *   R_n = clipped matches / ref n-grams    (0 when ref has none)
    *   chrP = (Σ_n P_n)/maxN,  chrR = (Σ_n R_n)/maxN
    *   chrF_β = (1+β²)·chrP·chrR / (β²·chrP + chrR)   (0 when both 0)
    *
    * with β = 2 (the paper's recall-weighted default). Determinism:
    * every match/total count is an exact integer (explode → count →
    * clip-join, the [[bleuScore]] machinery); each P_n/R_n is ONE IEEE
    * division routed through DECIMAL(18,12) before the order-
    * independent sum; the /maxN and the F fold are a fixed IEEE
    * sequence — the whole score replays bit-for-bit in SQL.
    *
    * Scale shape: ONE codegen kernel call per row
    * ([[graft.functions.ChrfGramStats]] — the q279/q308 static-kernel
    * discipline) yields every order's exact (m, tc, tr) integers;
    * everything after is per-row arithmetic. Zero shuffles, zero
    * materializations — the former spelling exploded both sides to an
    * (id, n, gram) plane and paid a corpus-of-grams exchange plus two
    * rollups for counts a segment-local loop computes in-place (chrF is
    * a SEGMENT metric: per-row work is bounded by the caller's segment
    * cap). The kernel's positions/equality are exactly the SQL
    * substring's (code points, byte equality), so every integer — and
    * therefore every derived double — is bit-identical to the exploded
    * spelling and to the SQL oracle. `idCol` must uniquely identify
    * rows.
    *
    * → (idCol, cand_nchars, ref_nchars, chr_p, chr_r, chrf2); a NULL
    *   candidate or reference scores NULL.
    */
  def chrF(pairs: DataFrame, idCol: String, candCol: String,
           refCol: String, maxN: Int = 6, beta: Int = 2): DataFrame = {
    require(maxN >= 1 && maxN <= 10, s"maxN must be in [1,10], got $maxN")
    require(beta >= 1 && beta <= 10, s"beta must be in [1,10], got $beta")
    // whitespace removed entirely — chrF is defined on the character
    // stream, not on tokens
    def chars(c: Column): Column =
      regexp_replace(normalized(c), "\\s+", "")
    val base = pairs.select(col(idCol), chars(col(candCol)).as("__cs"),
      chars(col(refCol)).as("__rs"))
      .withColumn("__st", graft.functions.ArrayMath.chrfGramStats(
        col("__cs"), col("__rs"), maxN))
    // per-order precision/recall: one IEEE division each, decimal-cast
    // before the exact (order-free) decimal sum — the identical
    // expression sequence the exploded spelling's per-(id, n) rows fed
    // into sum(); a fixed chain of exact decimal adds equals that sum
    def term(i: Int, tot: String): Column = {
      val e = col("__st").getItem(i)
      when(e.getField(tot) > 0L, e.getField("m").cast("double") /
        e.getField(tot).cast("double")).otherwise(lit(0.0))
        .cast("decimal(18,12)")
    }
    val psSum = (0 until maxN).map(term(_, "tc")).reduce(_ + _)
    val rsSum = (0 until maxN).map(term(_, "tr")).reduce(_ + _)
    val b2 = (beta * beta).toDouble
    val chrP = psSum.cast("double") / maxN.toDouble
    val chrR = rsSum.cast("double") / maxN.toDouble
    base
      .select(col(idCol),
        when(col("__cs").isNotNull, length(col("__cs")).cast("long"))
          .as("cand_nchars"),
        when(col("__rs").isNotNull, length(col("__rs")).cast("long"))
          .as("ref_nchars"),
        when(col("__cs").isNull || col("__rs").isNull,
          lit(null).cast("double"))
          .otherwise(coalesce(chrP, lit(0.0))).as("chr_p"),
        when(col("__cs").isNull || col("__rs").isNull,
          lit(null).cast("double"))
          .otherwise(coalesce(chrR, lit(0.0))).as("chr_r"))
      .withColumn("chrf2",
        when(col("chr_p").isNull, lit(null).cast("double"))
          .when(lit(b2) * col("chr_p") + col("chr_r") === 0.0, lit(0.0))
          .otherwise((lit(1.0 + b2) * col("chr_p") * col("chr_r")) /
            (lit(b2) * col("chr_p") + col("chr_r"))))
  }

  /** ROUGE-L (Lin, ACL 2004 WS "ROUGE: A Package for Automatic
    * Evaluation of Summaries") — the LCS-based recall-oriented overlap
    * metric completing the eval trio beside [[bleuScore]] and [[chrF]]:
    * over (candidate, reference) pairs on the SAME row,
    *
    *   P = LCS/|cand|,  R = LCS/|ref|,  F1 = 2·P·R/(P+R)  (0 when both 0)
    *
    * with LCS the token-level longest common subsequence computed ONCE
    * per row by the native codegen kernel
    * [[graft.functions.LcsKernel]] (quadratic DP — a lambda spelling
    * would be the interpreted-HOF trap). Token windows are BOUNDED at
    * `maxTokens` per side (the q296 convention), so per-row work is
    * O(maxTokens²) = O(1) at corpus scale. Zero shuffle. P/R/F1 are a
    * fixed IEEE sequence over exact integers — SQL-replayable (the
    * oracle unrolls the DP as anti-diagonal recursive CTEs).
    *
    * → (idCol, cand_len, ref_len, lcs_len, rouge_l_p, rouge_l_r,
    *   rouge_l_f1); a NULL candidate or reference scores NULL.
    */
  def rougeL(pairs: DataFrame, idCol: String, candCol: String,
             refCol: String, maxTokens: Int = 40): DataFrame = {
    require(maxTokens >= 1 && maxTokens <= 512,
      s"maxTokens must be in [1,512], got $maxTokens")
    def toks(c: Column): Column =
      slice(filter(tokens(normalized(c)), t => t =!= lit("")), 1, maxTokens)
    val base = pairs.select(col(idCol), toks(col(candCol)).as("__ct"),
      toks(col(refCol)).as("__rt"))
    val lcs = graft.functions.ArrayMath.lcsLen(col("__ct"), col("__rt"))
    base
      .withColumn("cand_len", size(col("__ct")).cast("long"))
      .withColumn("ref_len", size(col("__rt")).cast("long"))
      .withColumn("lcs_len", lcs.cast("long"))
      .withColumn("rouge_l_p",
        when(col("lcs_len").isNull, lit(null).cast("double"))
          .when(col("cand_len") === 0L, lit(0.0))
          .otherwise(col("lcs_len").cast("double") /
            col("cand_len").cast("double")))
      .withColumn("rouge_l_r",
        when(col("lcs_len").isNull, lit(null).cast("double"))
          .when(col("ref_len") === 0L, lit(0.0))
          .otherwise(col("lcs_len").cast("double") /
            col("ref_len").cast("double")))
      .withColumn("rouge_l_f1",
        when(col("rouge_l_p").isNull, lit(null).cast("double"))
          .when(col("rouge_l_p") + col("rouge_l_r") === 0.0, lit(0.0))
          .otherwise(lit(2.0) * col("rouge_l_p") * col("rouge_l_r") /
            (col("rouge_l_p") + col("rouge_l_r"))))
      .select(col(idCol), col("cand_len"), col("ref_len"), col("lcs_len"),
        col("rouge_l_p"), col("rouge_l_r"), col("rouge_l_f1"))
  }

  /** Simple Good–Turing frequency table (Good, Biometrika 1953; the
    * raw Turing estimator of Gale & Sampson, JQL 1995 §2 — the
    * frequency-of-frequencies view LM smoothing, coverage estimation
    * and OOV-mass accounting all start from): over the corpus unigram
    * counts, for every observed count r,
    *
    *   N_r   = number of word types seen exactly r times
    *   r*    = (r+1) · N_{r+1} / N_r   (the adjusted count; NULL where
    *                                    N_{r+1} = 0 — the raw estimator
    *                                    is undefined there, never 0)
    *   p_gt  = r* / N                  (per-type Good–Turing mass)
    *
    * plus the unseen-mass row everything else is relative to: p0 =
    * N_1 / N (the Turing estimate of total probability of unseen
    * types) is readable off the r = 1 row. Exactness: N_r and the
    * numerator (r+1)·N_{r+1} are exact BIGINTs; r* and p_gt are a
    * FIXED IEEE division sequence over them — bit-replayable in SQL.
    *
    * Scale shape: one explode → (word) count → (r) count — two
    * map-side-combined aggregations, output ≤ max(r) rows.
    *
    * → (r, n_r, r_star, p_gt) ordered by r.
    */
  def goodTuring(docs: DataFrame, textCol: String): DataFrame = {
    val wc = docs
      .select(explode(filter(tokens(normalized(col(textCol))),
        t => t =!= lit(""))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__r"))
    val fof = wc.groupBy(col("__r").as("r"))
      .agg(count(lit(1)).as("n_r"))
    val nTot = wc.agg(sum(col("__r")).cast("bigint").as("__n")) // 1 row
    val nxt = fof.select((col("r") - 1L).as("r"),
      (col("r") * col("n_r")).as("__num")) // (r+1)·N_{r+1} keyed at r
    fof.join(nxt, Seq("r"), "left")
      .crossJoin(broadcast(nTot))
      .select(col("r"), col("n_r"),
        (col("__num").cast("double") / col("n_r").cast("double"))
          .as("r_star"),
        (col("__num").cast("double") / col("n_r").cast("double") /
          col("__n").cast("double")).as("p_gt"))
      .orderBy("r")
  }

  /** Vocabulary-richness estimators off the rare-type counts (Chao,
    * Scand. J. Statistics 1984 — the bias-corrected Chao1 lower bound
    * on true vocabulary size; Good's sample coverage, Biometrika 1953
    * — both standard corpus-profiling reads next to [[heapsLaw]] /
    * zipfFit): per group,
    *
    *   chao1    = V + f1·(f1−1) / (2·(f2+1))   (bias-corrected — defined
    *                                            even when f2 = 0)
    *   coverage = 1 − f1/N                      (Good's estimate of the
    *                                            seen-mass fraction)
    *
    * where V = observed types, f1/f2 = singleton/doubleton type counts,
    * N = tokens. All counts exact BIGINTs; chao1/coverage are one fixed
    * IEEE division each — bit-replayable.
    *
    * → (groupCol, n_tokens, v_obs, f1, f2, chao1, coverage).
    */
  def vocabRichness(docs: DataFrame, groupCol: String,
                    textCol: String): DataFrame = {
    val wc = docs
      .select(col(groupCol),
        explode(filter(tokens(normalized(col(textCol))),
          t => t =!= lit(""))).as("__w"))
      .groupBy(col(groupCol), col("__w")).agg(count(lit(1)).as("__r"))
    wc.groupBy(col(groupCol))
      .agg(sum(col("__r")).cast("bigint").as("n_tokens"),
        count(lit(1)).as("v_obs"),
        sum(when(col("__r") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("__r") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col(groupCol), col("n_tokens"), col("v_obs"), col("f1"),
        col("f2"),
        (col("v_obs").cast("double") +
          (col("f1") * (col("f1") - 1L)).cast("double") /
            (lit(2L) * (col("f2") + 1L)).cast("double")).as("chao1"),
        (lit(1.0) - col("f1").cast("double") /
          col("n_tokens").cast("double")).as("coverage"))
  }

  /** Jensen–Shannon divergence between per-group unigram distributions
    * (Lin, IEEE Trans. IT 1991 — the symmetric, bounded [0, ln 2]
    * corpus-drift measure data-mixing and domain-shift monitors read):
    * for every unordered group pair (a, b), JSD(p‖q) with p, q the
    * groups' word distributions, via the entropy identity
    *
    *   JSD = H(m) − (H(p) + H(q))/2,   m = (p + q)/2
    *
    * where every entropy is computed from EXACT integer counts: with
    * c/d the per-word counts and Na/Nb the token totals, the midpoint
    * mass is proportional to M = c·Nb + d·Na (an exact BIGINT), so
    *
    *   H(m) = ln(2·Na·Nb) − (Σ M·ln M)/(2·Na·Nb)
    *   H(p) = ln(Na) − (Σ c·ln c)/Na          (and H(q) likewise)
    *
    * — every transcendental is one ln of an exact integer, each term
    * routed through DECIMAL(38,12) before the order-independent sum
    * (the [[charEntropy]] recipe, widened: M·ln M reaches ~1e14 at
    * corpus scale and would overflow the (18,12) shape), so the whole
    * table replays bit-for-bit in SQL.
    *
    * Scale shape: one (group, word) count with map-side combine; the
    * pair plane is the (word × group) grid self-joined on word —
    * |W|·G(G−1)/2 rows, linear in vocabulary for the handful of
    * corpus sources the measure is defined over (G² is the semantics:
    * every pair gets a number).
    *
    * → (group_a, group_b, n_a, n_b, jsd) — jsd in nats, rounded to
    *   6 dp; one row per unordered pair, group_a < group_b.
    */
  def jensenShannonDivergence(docs: DataFrame, groupCol: String,
                              textCol: String): DataFrame = {
    val wc = docs
      .select(col(groupCol).cast("string").as("__g"),
        explode(filter(tokens(normalized(col(textCol))),
          t => t =!= lit(""))).as("__w"))
      .groupBy(col("__g"), col("__w")).agg(count(lit(1)).as("__c"))
    // per-group totals and Σ c·ln c (exact-integer entropies)
    val gsum = wc.groupBy(col("__g"))
      .agg(sum(col("__c")).cast("bigint").as("__n"),
        sum((col("__c").cast("double") * log(col("__c").cast("double")))
          .cast("decimal(38,12)")).as("__s"))
    // loud int64 guard (the knBigramNll convention): the midpoint mass
    // M = c·Nb + d·Na must not wrap — one scalar aggregate measures the
    // actual corpus instead of assuming it
    val g0 = wc.agg(coalesce(max(col("__c")), lit(0L)).as("__mc"))
      .crossJoin(wc.groupBy(col("__g")).agg(sum(col("__c")).as("__gn"))
        .agg(coalesce(max(col("__gn")), lit(0L)).cast("bigint").as("__mn")))
      .head()
    require(BigInt(g0.getLong(0)) * g0.getLong(1) * 2 <= Long.MaxValue,
      s"jensenShannonDivergence overflow bound: 2·max(c)·max(N) = " +
        s"${BigInt(g0.getLong(0)) * g0.getLong(1) * 2} exceeds int64 — " +
        "the midpoint mass c·Nb + d·Na would wrap silently; shard the " +
        "corpus or route M through DECIMAL(38,0)")
    // (word × group) grid → pair plane keyed on the word
    val grid = wc.select(col("__w")).distinct()
      .crossJoin(gsum.select(col("__g")))
      .join(wc, Seq("__g", "__w"), "left")
      .select(col("__g"), col("__w"), coalesce(col("__c"), lit(0L)).as("__c"))
    val a = grid.select(col("__g").as("__ga"), col("__w"),
      col("__c").as("__ca"))
    val b = grid.select(col("__g").as("__gb"), col("__w"),
      col("__c").as("__cb"))
    val pairsTot = gsum.select(col("__g").as("__ga"), col("__n").as("__na"),
        col("__s").as("__sa"))
      .crossJoin(gsum.select(col("__g").as("__gb"), col("__n").as("__nb"),
        col("__s").as("__sb")))
      .filter(col("__ga") < col("__gb"))
    val mSum = a.join(b, Seq("__w")).filter(col("__ga") < col("__gb"))
      .filter(col("__ca") > 0L || col("__cb") > 0L)
      .join(pairsTot.select(col("__ga"), col("__gb"), col("__na"),
        col("__nb")), Seq("__ga", "__gb"))
      .select(col("__ga"), col("__gb"),
        (col("__ca") * col("__nb") + col("__cb") * col("__na")).as("__m"))
      .select(col("__ga"), col("__gb"),
        (col("__m").cast("double") * log(col("__m").cast("double")))
          .cast("decimal(38,12)").as("__t"))
      .groupBy(col("__ga"), col("__gb"))
      .agg(sum(col("__t")).as("__ms"))
    val twoN = lit(2.0) * col("__na").cast("double") *
      col("__nb").cast("double")
    val hM = log(twoN) - col("__ms").cast("double") / twoN
    val hP = log(col("__na").cast("double")) -
      col("__sa").cast("double") / col("__na").cast("double")
    val hQ = log(col("__nb").cast("double")) -
      col("__sb").cast("double") / col("__nb").cast("double")
    pairsTot.join(mSum, Seq("__ga", "__gb"))
      .select(col("__ga").as("group_a"), col("__gb").as("group_b"),
        col("__na").as("n_a"), col("__nb").as("n_b"),
        round(hM - (hP + hQ) / 2.0, 6).as("jsd"))
  }

  /** CORPUS-LEVEL boilerplate line removal — the C4/RefinedWeb line-dedup
    * rule (Raffel et al. JMLR'20 §2.2 drops repeated three-sentence
    * spans; RefinedWeb/Gopher run the same idea at line granularity):
    * a non-blank line whose trimmed text appears in MORE than `maxDf`
    * distinct documents is boilerplate (cookie banners, nav menus,
    * subscribe footers) and is dropped from every document; blank lines
    * and rare lines survive, in their original order.
    *
    * Scale shape: one explode + one (line, id)-distinct aggregation
    * finds document frequencies; only the lines that EXCEED the
    * threshold ship to the filter join. On a typical web corpus true
    * boilerplate is a tiny set, so the anti-join side broadcasts
    * (`broadcastFilter = true`, the default) — but that is a corpus
    * ASSUMPTION, not an invariant: a heavily templated/mirrored corpus
    * can push millions of distinct lines over the threshold, and an
    * unconditional broadcast hint would then OOM the driver instead of
    * degrading. Pass `broadcastFilter = false` there to let
    * Catalyst/AQE pick the join (the [[graft.ops.Dedup.ngramJaccardPairs]]
    * skewGuard convention: an explicit routing knob, never a silent
    * behavior change). Reassembly is the only shuffle that carries
    * surviving line text (unavoidable: the result IS that text).
    * Trimmed line text itself is the df key — exact by construction
    * (SQL-replayable); a 100 TB deployment can swap in xxhash64 keys
    * for a skinnier count shuffle at the usual collision trade.
    *
    * → (idCol, cleaned_text, n_lines, n_dropped); null text stays null
    * with n_lines = 0.
    */
  def removeBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                             maxDf: Long,
                             broadcastFilter: Boolean = true): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val lines = df
      .select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("__i", "__line")))
      .withColumn("__t", trim(col("__line")))
    val boilerplate = lines.filter(col("__t") =!= "")
      .select(col("__t"), col(idCol)).distinct()
      .groupBy("__t").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf)
      .select(col("__t"))
    val kept = lines.join(
      if (broadcastFilter) broadcast(boilerplate) else boilerplate,
      Seq("__t"), "left_anti")
    val rebuilt = kept.groupBy(idCol)
      .agg(count(lit(1)).as("__n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("__i"), col("__line")))),
            x => x.getField("__line")), "\n").as("__cleaned"))
    df.select(col(idCol), col(textCol).as("__text"),
        coalesce(size(split(col(textCol), "\n")), lit(0))
          .cast("long").as("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__text").isNull, lit(null).cast("string"))
          .otherwise(coalesce(col("__cleaned"), lit(""))).as("cleaned_text"),
        when(col("__text").isNull, lit(0L)).otherwise(col("n_lines"))
          .as("n_lines"),
        when(col("__text").isNull, lit(0L))
          .otherwise(col("n_lines") - coalesce(col("__n_kept"), lit(0L)))
          .as("n_dropped"))
  }

  /** WITHIN-document repeated-line removal — the intra-doc sibling of
    * [[removeBoilerplateLines]] (scraping artifacts repeat nav bars,
    * cookie banners and headings INSIDE one page; Gopher's repetition
    * rules flag such docs, this op repairs them instead): every
    * non-blank line keeps only its FIRST occurrence (trimmed-text
    * identity, original spelling and position preserved); blank lines
    * all survive (they are structure, not content, and an md5("")-like
    * collapse of every blank to one would reflow the document).
    *
    * Plan: one per-doc window (partition (id, trimmed-line), order by
    * position) + the same order-preserving reassembly as the corpus
    * rule — one shuffle carrying the surviving lines.
    *
    * → (idCol, cleaned_text, n_lines, n_dropped); NULL text stays NULL.
    */
  def dedupLinesWithinDoc(df: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    val lines = df
      .select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("__i", "__line")))
      .withColumn("__t", trim(col("__line")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol), col("__t")).orderBy(col("__i"))
    val kept = lines
      .withColumn("__rn", row_number().over(w))
      .filter(col("__t") === "" || col("__rn") === 1)
    val rebuilt = kept.groupBy(idCol)
      .agg(count(lit(1)).as("__n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("__i"), col("__line")))),
            x => x.getField("__line")), "\n").as("__cleaned"))
    df.select(col(idCol), col(textCol).as("__text"),
        coalesce(size(split(col(textCol), "\n")), lit(0))
          .cast("long").as("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__text").isNull, lit(null).cast("string"))
          .otherwise(coalesce(col("__cleaned"), lit(""))).as("cleaned_text"),
        when(col("__text").isNull, lit(0L)).otherwise(col("n_lines"))
          .as("n_lines"),
        when(col("__text").isNull, lit(0L))
          .otherwise(col("n_lines") - coalesce(col("__n_kept"), lit(0L)))
          .as("n_dropped"))
  }

  /** Sentence segmentation — the deterministic rule-based splitter the
    * corpus-dedup lanes and their SQL oracles share: a unit boundary is
    * any whitespace run that follows sentence-final punctuation
    * ([.!?]). RE2-based engines have no lookbehind, so the boundary is
    * rewritten to a control char first, then split — punctuation stays
    * with its sentence, and the consumed inter-sentence whitespace is
    * re-rendered as a single space at reassembly.
    */
  def sentenceUnits(c: Column): Column =
    split(regexp_replace(c, "([.!?])\\s+", "$1\u0001"), "\u0001")

  /** Corpus-level keep-first SENTENCE dedup — the C4 recipe (Raffel et
    * al. 2020, JMLR 21(140) §2.2: of any span occurring more than once
    * in the corpus, all but one occurrence is removed). Units come from
    * [[sentenceUnits]]; semantics and plan in [[dedupUnitsKeepFirst]].
    */
  def sentenceDedupCorpus(df: DataFrame, idCol: String,
                          textCol: String): DataFrame =
    dedupUnitsKeepFirst(df, idCol, sentenceUnits(col(textCol)), " ")

  /** Corpus-level keep-first LINE/PARAGRAPH dedup — the CCNet (Wenzek
    * et al. 2020, paragraph hashes) / FineWeb (line-level) recipe: the
    * unit is a newline-delimited block. Blank lines are preserved
    * everywhere — they are document structure, and dedup must not
    * reflow the text around them.
    */
  def lineDedupCorpus(df: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    dedupUnitsKeepFirst(df, idCol, split(col(textCol), "\n"), "\n")

  /** Shared core of [[sentenceDedupCorpus]]/[[lineDedupCorpus]]: hash
    * each trimmed unit and strip every occurrence EXCEPT the
    * corpus-global first — "first" = smallest (doc id, unit position),
    * a total order, so the output is partitioning-independent and
    * SQL-replayable. Blank units all survive (structure, not content).
    * Documents reassemble in unit order.
    *
    * Plan shape at 100 TB: one explode (linear in corpus units); the
    * keeper table is groupBy(md5) → min(struct(id, pos, unit)) —
    * map-side partial aggregation collapses even a boilerplate unit
    * repeated across billions of docs to one row per map partition
    * before the shuffle, so duplicate skew cannot hot-spot a task (a
    * row_number window keyed by the hash would put every occurrence of
    * the hot unit in ONE task). (id, pos) is unique per exploded row,
    * so carrying the unit text as the struct's THIRD field never
    * changes which row wins the min — and lets the aggregate EMIT the
    * kept row directly: the former join-back of every occurrence
    * against the keeper table (a probe-side shuffle that hashed every
    * occurrence of a hot digest to one partition — the r20 verdict's
    * residual skew point) is gone outright. At most one unit text per
    * digest per map partition rides the dedup shuffle; the only other
    * text movement is the final per-doc reassembly, keyed by doc id
    * (balanced).
    *
    * → (idCol, cleaned_text, n_units, n_dropped); NULL text stays NULL.
    */
  private def dedupUnitsKeepFirst(df: DataFrame, idCol: String,
      unitsExpr: Column, sep: String): DataFrame = {
    val parts = df.select(col(idCol), unitsExpr.as("__parts"))
    val units = parts
      .select(col(idCol), posexplode(col("__parts")).as(Seq("__i", "__u")))
      .withColumn("__t", trim(col("__u")))
    val nonBlank = units.filter(col("__t") =!= "")
      .withColumn("__k", md5(col("__t")))
    val keeper = nonBlank.groupBy("__k")
      .agg(min(struct(col(idCol), col("__i"), col("__u"))).as("__first"))
    val kept = keeper
      .select(col("__first").getField(idCol).as(idCol),
        col("__first").getField("__i").as("__i"),
        col("__first").getField("__u").as("__u"))
      .unionByName(units.filter(col("__t") === "")
        .select(col(idCol), col("__i"), col("__u")))
    val rebuilt = kept.groupBy(idCol)
      .agg(count(lit(1)).as("__n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("__i"), col("__u")))),
            x => x.getField("__u")), sep).as("__cleaned"))
    parts
      .select(col(idCol), col("__parts").isNull.as("__nullText"),
        coalesce(size(col("__parts")), lit(0)).cast("long").as("n_units"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__nullText"), lit(null).cast("string"))
          .otherwise(coalesce(col("__cleaned"), lit(""))).as("cleaned_text"),
        when(col("__nullText"), lit(0L)).otherwise(col("n_units"))
          .as("n_units"),
        when(col("__nullText"), lit(0L))
          .otherwise(col("n_units") - coalesce(col("__n_kept"), lit(0L)))
          .as("n_dropped"))
  }

  /** Corpus-wide duplicated-span marking — the token-window flavor of
    * ExactSubstr dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", arXiv:2107.06499; suffix arrays
    * there, k-token rolling windows here): a window of `k` consecutive
    * whitespace tokens whose rendering occurs MORE THAN ONCE in the
    * entire corpus (any doc, any position — twice within one doc
    * counts) is duplicated; overlapping-or-adjacent duplicated windows
    * merge into maximal spans `[span_start, span_end)` in 0-based token
    * coordinates.
    *
    * Plan shape at 100 TB: one explode to (doc, pos, md5(window)) —
    * linear in corpus tokens; ONE hash shuffle keyed by the digest with
    * a partition-count window (no self-join, no dup-key frame to
    * broadcast); one per-doc window (range-merge via running max — the
    * gaps-and-islands spelling both engines share) + the span
    * aggregation. Windows hash through md5 so only 32-byte digests
    * shuffle, never window text.
    *
    * → (idCol, span_start, span_end, n_windows), one row per maximal
    *   duplicated span; docs with none produce no row.
    */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
               k: Int = 8): DataFrame = {
    require(k >= 2, s"dupSpans needs k >= 2, got $k")
    val occ = windowDigests(df, idCol, textCol, k)
    val wKey = org.apache.spark.sql.expressions.Window.partitionBy("__key")
    val marked = occ
      .withColumn("__n", count(lit(1)).over(wKey))
      .filter(col("__n") > 1)
      .select(col(idCol), col("pos"))
    mergeMarkedWindows(marked, idCol, k)
  }

  /** Gaps-and-islands merge of marked k-token windows (doc, pos) into
    * maximal [span_start, span_end) spans — shared by [[dupSpans]] and
    * the incremental sink
    * ([[graft.streaming.StreamingIngest.dupSpanAppendSink]]).
    */
  private[graft] def mergeMarkedWindows(marked: DataFrame, idCol: String,
                                        k: Int): DataFrame = {
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("pos")
    import org.apache.spark.sql.expressions.Window.{unboundedPreceding, currentRow}
    val islands = marked
      .withColumn("__pm", max(col("pos") + k)
        .over(wDoc.rowsBetween(unboundedPreceding, -1)))
      .withColumn("__island",
        sum(when(col("pos") > coalesce(col("__pm"), lit(-1L)), 1L)
          .otherwise(0L)).over(wDoc.rowsBetween(unboundedPreceding, currentRow)))
    islands.groupBy(col(idCol), col("__island"))
      .agg(min("pos").as("span_start"),
        (max("pos") + k).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** (doc, pos, digest) occurrence rows for `k`-token windows — the
    * [[dupSpans]] extraction, exposed for the incremental sink. */
  private[graft] def windowDigests(df: DataFrame, idCol: String,
                                   textCol: String, k: Int): DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= k)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, size(__t) - $k), " +
          s"i -> md5(cast(array_join(slice(__t, i + 1, $k), ' ') as binary)))"))
        .as(Seq("pos", "__key")))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("__key"))

  /** Per-doc accounting over [[dupSpans]]: token total (the q21
    * [[tokenCount]] contract), merged-span count, and duplicated-token
    * mass (spans are disjoint after merging, so the sum is exact).
    * Every doc gets a row; span-free docs report zeros.
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 8): DataFrame =
    df.select(col(idCol),
        coalesce(tokenCount(col(textCol)), lit(0L)).as("n_tokens"))
      .join(dupSpans(df, idCol, textCol, k)
          .groupBy(idCol)
          .agg(count(lit(1)).as("n_spans"),
            sum(col("span_end") - col("span_start")).as("dup_tokens")),
        Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))

  /** Vocabulary-growth (Heaps' law) profile: cumulative corpus tokens
    * vs cumulative DISTINCT tokens at each corpus bucket in `idCol`
    * order — the diagnostic a corpus-growth plan reads to see whether
    * more data still buys new vocabulary. Bucketing goes through
    * [[graft.ops.ScaleOps.rankBuckets]] (ntile-identical for unique
    * ids, no single-task window over the corpus); a token's first
    * appearance is ONE min-aggregation keyed by token; the cumulative
    * sums run on the nBuckets-row plane (the only global window, by
    * construction bounded).
    *
    * → (bucket, n_tok, n_new, cum_tokens, cum_vocab)
    */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String,
                  nBuckets: Int = 10, numPartitions: Int = 8): DataFrame = {
    val bucketed = graft.ops.ScaleOps.rankBuckets(
      df.select(col(idCol), col(textCol)), Seq(idCol), nBuckets,
      numPartitions, "bucket")
    val tokRows = bucketed
      .filter(length(trim(col(textCol))) > 0)
      .select(col("bucket"), explode(tokens(col(textCol))).as("tok"))
    val perBucket = tokRows.groupBy("bucket").agg(count(lit(1)).as("n_tok"))
    val newVocab = tokRows.groupBy("tok").agg(min("bucket").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_new"))
    // nBuckets-row plane: single-partition cumsum bounded by construction
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(graft.functions.ArrayMath.boundedKey(perBucket))
      .orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    perBucket.join(newVocab, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("cum_tokens", sum("n_tok").over(w))
      .withColumn("cum_vocab", sum("n_new").over(w))
  }

  /** Cut the [[dupSpans]] regions out: tokens inside any duplicated
    * span are removed and the survivors re-joined with single spaces
    * (token coordinates, so original whitespace is NOT preserved — the
    * standard ExactSubstr cut). Docs shorter than `k` tokens pass
    * through verbatim; NULL text stays NULL.
    *
    * → (idCol, cleaned_text, n_tokens, dup_tokens)
    */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 8): DataFrame = {
    val spans = dupSpans(df, idCol, textCol, k)
      .groupBy(idCol)
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__spans"))
    df.select(col(idCol), col(textCol).as("__text"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__text").isNull, lit(null).cast("string"))
          .when(col("__spans").isNull, col("__text"))
          .otherwise(array_join(
            filter(tokens(col("__text")), (t, i) =>
              !exists(col("__spans"), sp =>
                i.cast("long") >= sp.getField("span_start") &&
                  i.cast("long") < sp.getField("span_end"))),
            " ")).as("cleaned_text"),
        coalesce(tokenCount(col("__text")), lit(0L)).as("n_tokens"),
        coalesce(aggregate(col("__spans"),
            lit(0L), (acc, sp) => acc +
              sp.getField("span_end") - sp.getField("span_start")),
          lit(0L)).as("dup_tokens"))
  }

  /** True when every char of `c` is Latin-1 encodable (code point ≤
    * 0xFF) — the precondition for the [[mojibakeRepair]] round-trip
    * (Spark 4's `encode` RAISES on unmappable chars rather than
    * replacing them, so the gate must run BEFORE the encode).
    */
  private def latin1Encodable(c: Column): Column =
    c.rlike("^[\\x00-\\xff]*$")

  /** The mojibake transform itself — UTF-8 bytes re-read as Latin-1
    * ("cafÃ©" from "café"), i.e. the BUG [[mojibakeRepair]] undoes.
    * Public for tests and the q311 lane's synthetic corpus (the
    * testdata documents are pure ASCII, so the lane plants diacritics
    * and garbles them with the real mechanism, not a lookup table).
    * `encode(_, UTF-8)` never fails and every byte is a valid Latin-1
    * char, so this is total.
    */
  def latin1Garble(c: Column): Column =
    decode(encode(c, "UTF-8"), "ISO-8859-1")

  /** Count of mojibake marker chars in `c` — the Latin-1 renderings of
    * UTF-8 lead bytes: Ã (0xC3, 2-byte sequences U+00C0..U+00FF), Â
    * (0xC2, U+0080..U+00BF incl. NBSP), â (0xE2, the 3-byte general
    * punctuation block: curly quotes, dashes, ellipsis). One
    * `translate` per marker, no allocation beyond the stripped copy;
    * the ftfy heuristic's cheap first stage.
    */
  def mojibakeMarkers(c: Column): Column =
    (length(c) - length(translate(c, "Ã", ""))) +
      (length(c) - length(translate(c, "Â", ""))) +
      (length(c) - length(translate(c, "â", "")))

  /** Mojibake detection + repair — the encoding-fix pass every public
    * pretraining recipe runs before anything else (ftfy; C4 and CCNet
    * normalize encodings at ingest). Targets the dominant real-world
    * corruption: valid UTF-8 bytes decoded once as Latin-1/cp1252
    * ("café" → "cafÃ©"). Repair is the exact inverse performed with
    * Spark's own codecs — re-encode the garbled text as Latin-1 (a
    * per-char byte map) and reinterpret the bytes as UTF-8 — applied
    * only under a triple gate that makes the op safe on mixed corpora:
    *
    *   1. every char is Latin-1 encodable (else the text cannot be
    *      the Latin-1 reading of anything — CJK etc. passes through);
    *   2. the recovered bytes are valid UTF-8 (`try_validate_utf8` —
    *      legitimate accented Latin-1 text like "naïve café" fails
    *      here and is left alone: its bytes are not UTF-8);
    *   3. the repair strictly shrinks the text (a true un-garble
    *      always merges ≥2 chars into 1; equality means pure ASCII).
    *
    * A string that passes all three IS the Latin-1 reading of valid
    * non-trivial UTF-8 — the false-positive ("Ã©" meant literally) is
    * exactly the case no decoder can distinguish, and the gate keeps
    * the fix total and idempotent (the repaired text re-enters gate 3
    * as pure-or-shorter and stops). Score columns carry the
    * [[mojibakeMarkers]] density for threshold-based curation.
    *
    * Scale shape: a pure per-row projection — no shuffle, no state;
    * every expression (regexp gate, codec round-trip, translate
    * counts) is a codegen built-in, so the op rides whole-stage
    * codegen inside whatever scan contains it.
    *
    * → (idCol, fixed_text, was_fixed, n_markers, mojibake_per_100,
    *    markers_after); NULL text stays NULL (was_fixed false,
    *    counts 0).
    */
  def mojibakeRepair(df: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val g = col(textCol)
    val cand = encode(g, "ISO-8859-1").cast("string")
    val gated = latin1Encodable(g) &&
      try_validate_utf8(cand).isNotNull && length(cand) < length(g)
    df.select(col(idCol),
        when(g.isNull, lit(null).cast("string"))
          .when(gated, cand).otherwise(g).as("fixed_text"),
        coalesce(gated, lit(false)).as("was_fixed"),
        coalesce(mojibakeMarkers(g), lit(0)).cast("long").as("n_markers"),
        coalesce(mojibakeMarkers(g).cast("double") * 100.0 /
          greatest(length(g), lit(1)), lit(0.0)).as("mojibake_per_100"))
      .withColumn("markers_after",
        coalesce(mojibakeMarkers(col("fixed_text")), lit(0)).cast("long"))
  }
}
