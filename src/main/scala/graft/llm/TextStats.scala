package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline (SURVEY.md §7.2.5):
  * token counting, language-ID heuristics, quality scoring, fingerprinting.
  *
  * All column-level expressions, no UDFs, no shuffle: the family is
  * embarrassingly parallel over documents, which is what a 100 TB corpus
  * pass needs. Note the higher-order functions here (transform/filter/
  * aggregate) are CodegenFallback — evaluated per row interpreted, not
  * inside whole-stage codegen; the per-row-HOT paths have codegen'd
  * custom Expressions instead ([[graft.functions.SimHash64]],
  * [[graft.functions.TokenHashSet]], [[graft.functions.MinHashSignature]]),
  * each asserted bit-identical to its HOF reference form here.
  */
object TextStats {

  /** The documents table's id and text columns, which every frame-level
    * text operator here and in [[Dedup]] reads. */
  private[llm] val IdCol = "doc_id"
  private[llm] val TextCol = "text"

  /** Winnowing shingle length and window ([[winnowedDocs]]), also read by
    * its DuckDB replay ([[LlmQueries]] `winnowPairsOracleSql`). */
  private[llm] val WinnowK = 3
  private[llm] val WinnowW = 4

  /** Canonical text normalization for dedup/fingerprint keying: lowercase,
    * drop everything outside [a-z0-9 ], collapse whitespace runs, trim.
    * Normalize-then-fingerprint is what makes exact dedup catch
    * case/punctuation/whitespace variants of the same document.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Whitespace tokenization (documents are single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** One row per element of array `arr` in each row of `df`: the `keep`
    * columns plus the element as column `as`. A null or empty array, and
    * a null element, give no row. Every explode of a staged array column
    * goes through here (`dupSpans`' positional explode is the one written
    * out); a plain `explode` is left only over an inline array expression
    * or an aggregate's output, where no inferred filter reaches the scan.
    *
    * Why not plain `explode`: for it, InferFiltersFromGenerate adds a
    * `size(arr) > 0` filter, and predicate pushdown carries it under the
    * projection that staged `arr` — re-inlining the whole producing chain
    * (tokenize, shingle, hash) as a per-row predicate at the scan, so
    * every document is processed twice (winnowing: 94 s vs 0.7 s at
    * sf0.1). `explode_outer` infers no filter, and its null rows drop
    * after the generate, on the bound output attribute. PlanSpec gates
    * the registry's batch queries against the inferred filter.
    */
  def explodeNonNull(df: DataFrame, keep: Seq[Column], arr: Column,
                     as: String): DataFrame =
    df.select(keep :+ explode_outer(arr).as(as): _*).filter(col(as).isNotNull)

  /** [[explodeNonNull]] over the documents' tokens: one row per token
    * occurrence, the `keep` columns plus the token as `token`. */
  def tokenRows(docs: DataFrame, keep: String*): DataFrame =
    explodeNonNull(
      docs.select(keep.map(col) :+ tokens(col(TextCol)).as("__toks"): _*),
      keep.map(col), col("__toks"), "token")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("bigint")

  /** Word n-gram shingles over a token array. Guarded for short docs:
    * `sequence(0, size-n)` counts DOWN when size < n and slice would
    * throw on the negative index (the round-1 trap), so docs shorter
    * than n tokens shingle to an empty array.
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Intra-document repetition (the Gopher-family "repetition removal"
    * quality rule): the fraction of n-gram occurrences that repeat an
    * earlier occurrence, 1 - |distinct shingles| / |shingles|, in exact
    * integer micro-units (same engine-portable floor-division contract as
    * [[qualityScoreMicroFromTokens]]; a rounded double hits .5e-6 ties
    * that Spark and DuckDB round differently). Docs too short to have a
    * shingle score 0. Hoist the shingle array into its own projection at
    * call sites — it is referenced twice and HOF trees get no
    * subexpression elimination.
    */
  def repetitionMicroFromShingles(sh: Column): Column = {
    val t = size(sh).cast("bigint")
    val d = size(array_distinct(sh)).cast("bigint")
    val num = lit(1000000L) * (t - d)
    when(t === 0L, lit(0L))
      .otherwise(longDiv(num, t))
  }

  /** PII patterns, deliberately in the regex subset that Java regex and
    * RE2-family engines treat identically (char classes, bounded
    * quantifiers — no backrefs, no lookaround): the redaction must be
    * reproducible anywhere the corpus is processed.
    */
  val emailRe = "[a-z0-9]+@[a-z]+\\.[a-z]+"
  val ipv4Re = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"
  val phoneRe = "\\+[0-9]{8,}"

  /** Scrub emails, IPv4s and international phone numbers to typed
    * placeholder tags. Email first: the other patterns can't match inside
    * an already-redacted tag, so the order is conflict-free. Pure per-row
    * regex chain — embarrassingly parallel.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        ipv4Re, "<IP>"),
      phoneRe, "<PHONE>")

  /** Exact integer division num div den as a codegen'd IntegralDivide —
    * pure 64-bit arithmetic, exact at ANY magnitude. The previous form
    * floored via `(num − pmod(num, den)) / den`, whose `/` is DOUBLE
    * division: exact only while the dividend stays ≤ 2^53 (~9.0e15),
    * beyond which the quotient can truncate ±1 off DuckDB's exact
    * integer `//` — invisible at test SFs (dividends ~1e12), a silent
    * hash divergence on billion-count ratios at corpus scale. Operands
    * are non-negative by the family contract, so truncation == floor.
    */
  private def longDiv(num: Column, den: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.graftbridge.Bridge.expression(num),
        org.apache.spark.sql.graftbridge.Bridge.expression(den)))

  /** Exact micro-unit ratio `num / den` as a BIGINT floor division —
    * the engine-portable score contract shared by the quality /
    * repetition / contamination family: integer micro-units can't hit
    * the .5e-6 rounding ties that make a rounded double diverge between
    * Spark and DuckDB. Both operands must be non-negative counts;
    * den = 0 degrades to 0 (the "too short to score" convention).
    * Exact for num ≤ ~9.2e12 (the 1e6·num Long ceiling — ANSI errors
    * loudly past it; use [[microRatioDec]] there).
    */
  def microRatio(num: Column, den: Column): Column = {
    val scaled = lit(1000000L) * num
    when(den === 0L, lit(0L))
      .otherwise(longDiv(scaled, den))
  }

  /** [[microRatio]] in DecimalType(38,0): for ratios whose numerator can
    * exceed ~9.2e12 (Long.MaxValue / 1e6) — e.g. whole-corpus key·row
    * products in skew metrics, where the long form would overflow under
    * ANSI at billion-key scale. Same subtract-remainder-then-divide shape
    * (exact at every step; the final division has remainder zero), NOT
    * floor(a*b/c): decimal division rounds to a finite result scale, and
    * a quotient one ulp under an integer would round UP past the floor.
    */
  def microRatioDec(num: Column, den: Column): Column = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val scaled = num.cast(d38) * lit(1000000L).cast(d38)
    when(den === 0L, lit(0L))
      .otherwise(((scaled - pmod(scaled, den.cast(d38))) / den.cast(d38))
        .cast("bigint"))
  }

  def distinctTokenCount(text: Column): Column =
    size(array_distinct(tokens(text))).cast("bigint")

  /** Word-regex token count — the "BPE-ish regex" counting mode: alphabetic
    * runs as word tokens, so punctuation splits like a subword pre-tokenizer.
    */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+"), lit(0))).cast("bigint")

  /** Crude byte-pair proxy: ~4 chars per BPE token, the standard estimate. */
  def bpeTokenEstimate(text: Column): Column =
    ceil(length(text).cast("double") / 4.0).cast("bigint")

  /** Total characters across tokens (exact integer arithmetic). */
  def sumTokenLengths(text: Column): Column =
    sumTokenLengthsFromTokens(tokens(text))

  /** Same, over an already-staged token-array attribute (callers that
    * reference the tokens more than once hoist them into a projection
    * first — interpreted HOF trees get no subexpression elimination).
    */
  def sumTokenLengthsFromTokens(toks: Column): Column =
    aggregate(transform(toks, t => length(t).cast("bigint")),
      lit(0L), (acc, x) => acc + x)

  def meanTokenLength(text: Column): Column =
    sumTokenLengths(text).cast("double") / tokenCount(text)

  /** Marker-word lists per language for the n-gram/stopword language-ID
    * heuristic. Deliberately tiny and deterministic: language ID at corpus
    * scale is a per-row scoring pass, and this keeps the oracle SQL exact.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "query", "table"),
    "de" -> Seq("der", "die", "das", "und", "scan", "row"),
    "fr" -> Seq("le", "la", "les", "et", "join", "merge"))

  /** Language-ID: argmax of marker-word hits, ties broken by language name
    * ascending (stable, oracle-reproducible).
    */
  def langId(text: Column): Column = {
    val hits = langMarkers.toSeq.sortBy(_._1).map { case (lang, words) =>
      (lang, size(filter(tokens(text), t => t.isInCollection(words))))
    }
    // fold over languages in ascending name order keeping strict-greater,
    // which implements "max hits, first name wins ties"
    hits.tail.foldLeft((lit(hits.head._1), hits.head._2)) {
      case ((bestLang, bestHits), (lang, h)) =>
        (when(h > bestHits, lit(lang)).otherwise(bestLang),
         when(h > bestHits, h).otherwise(bestHits))
    }._1
  }

  /** Composite quality score in [0,1] of a tokenized document: length
    * saturation (0.4 weight) + stopword mass (0.3) + lexical diversity
    * (0.3). Weights fixed; the value is a filter signal, not a metric.
    *
    * Emitted as exact micro-units (BIGINT, integer division):
    *   0.4·min(nc,500)/500 + 0.3·h/t + 0.3·d/t
    *     = (10·min(nc,500)·t + 3750·(h+d)) / (12500·t)
    *   quality_micro = (1e6 · numerator) div denominator
    * Two float formulations both diverged from DuckDB in the last ulp
    * (double round-tripping through shortest-repr in Spark's round vs
    * true-value rounding in DuckDB breaks exact decimal ties like
    * 0.5011125 — doc_id 7 at sf0.1). Integer arithmetic has no ties.
    *
    * Takes the token array, hoisted into its own projection when scoring
    * at corpus scale: the score references the array three times (count,
    * stopword hits, distinct), and HOFs are interpreted with no
    * subexpression elimination, so an inline `tokens(text)` would
    * re-split every document three times.
    */
  def qualityScoreMicroFromTokens(toks: Column, nChars: Column): Column = {
    val t = size(toks).cast("bigint")
    val h = size(filter(toks,
      w => w.isInCollection(langMarkers.values.flatten.toSeq))).cast("bigint")
    val d = size(array_distinct(toks)).cast("bigint")
    val m = least(nChars.cast("bigint"), lit(500L))
    val num = lit(1000000L) * (lit(10L) * m * t + lit(3750L) * (h + d))
    val den = lit(12500L) * t
    // exact integer floor-division via longDiv (pure 64-bit DIV): the
    // earlier double-division form was only exact while num ≤ 2^53,
    // i.e. documents under ~7.2e5 tokens — past that it could truncate
    // one micro-unit off DuckDB's exact `//`. t=0 (empty token array)
    // would divide-by-zero under ANSI — score 0, the same "too short to
    // score" convention as microRatio and repetitionMicroFromShingles
    when(t === 0L, lit(0L))
      .otherwise(longDiv(num, den))
  }

  /** Benchmark decontamination scores: for every document, the fraction
    * of its distinct word trigrams that also appear in the benchmark set
    * (docs with id < `benchMaxId`), in exact integer micro-units — the
    * standard "n-gram overlap" contamination check run before training on
    * scraped corpora (a doc scoring high contains eval data).
    *
    * Scale shape: the benchmark gram set is SMALL by nature (eval suites,
    * not corpora) → broadcast semi join against it; the corpus side is one
    * explode + one aggregation, linear in corpus grams, no self-join.
    */
  def contaminationMicro(docs: org.apache.spark.sql.DataFrame,
                         benchMaxId: Long): org.apache.spark.sql.DataFrame = {
    // ONE corpus-side evaluation of the (interpreted-HOF) shingle chain:
    // both the per-doc gram total and the hit count come from the same
    // exploded frame via a broadcast LEFT join + one keyed aggregation.
    // Splitting totals and hits into separate branches re-evaluates the
    // shingling per branch — measured 3× slower at sf0.1.
    val grams = explodeNonNull(docs, Seq(col(IdCol)),
        array_distinct(shingles(tokens(col(TextCol)), 3)), "g")
      // round-21: materialized once — the benchmark gram set and the
      // corpus-side aggregation both read `grams`; the bench subtree's
      // pushed-down id filter makes the two subtrees differ, so the lazy
      // form re-ran tokenize+shingle for each (plan-counted 3 scans)
      .localCheckpoint()
    val bench = grams.filter(col(IdCol) < benchMaxId)
      .select("g").distinct()
      .withColumn("__hit", lit(1))
    val perDoc = grams.join(broadcast(bench), Seq("g"), "left")
      .groupBy(IdCol)
      .agg(count(lit(1)).as("t"), count(col("__hit")).as("h"))
    // docs too short for one trigram explode to nothing: restore them from
    // the id spine with contamination 0 (nothing to leak), guarded
    // against the ANSI divide
    docs.select(col(IdCol))
      .join(perDoc, Seq(IdCol), "left")
      .select(col(IdCol), {
        val num = lit(1000000L) * coalesce(col("h"), lit(0L))
        when(col("t").isNull || col("t") === 0L, lit(0L))
          .otherwise(longDiv(num, col("t")))
          .as("contam_micro")
      })
  }

  /** Content-addressed fingerprint (exact-dedup key). md5 over utf-8 text —
    * 16 bytes of shuffle key instead of the full document.
    */
  def fingerprint(text: Column): Column = md5(text)

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03) per document:
    * hash every k-token shingle, then keep the minimum hash of each
    * sliding window of w shingles (k = [[WinnowK]], w = [[WinnowW]]) — the
    * classic document-fingerprint selection that guarantees matches on any shared
    * run of ≥ w+k-1 tokens. Returns (id, fps), fps the selected hashes as a sorted
    * distinct array. Every intermediate array is staged through its own
    * projection, so lambdas reference a bound ATTRIBUTE (evaluated once
    * per row): nested inside the window lambda, the shingle-hash array
    * would be rebuilt PER WINDOW under interpreted HOF evaluation,
    * O(len²) per document. CollapseProject keeps the stages apart
    * (non-cheap producers referenced more than once are never inlined).
    */
  def winnowedDocs(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val (k, w) = (WinnowK, WinnowW)
    docs.select(col(IdCol).as("id"), tokens(col(TextCol)).as("__toks"))
      .select(col("id"), transform(
        sequence(lit(0), greatest(size(col("__toks")) - k, lit(0))),
        i => xxhash64(concat_ws(" ", slice(col("__toks"), i + 1, lit(k)))))
        .as("__sh"))
      .select(col("id"), array_sort(array_distinct(transform(
        sequence(lit(0), greatest(size(col("__sh")) - w, lit(0))),
        i => array_min(slice(col("__sh"), i + 1, lit(w)))))).as("fps"))
  }

  /** 64-bit SimHash over the token multiset, using xxhash64 as the
    * per-token hash. For each bit: majority vote across token hashes, i.e.
    * bit b is set iff more than half the tokens have bit b set. Pure
    * higher-order-function expression — no UDF, no shuffle.
    */
  def simhash64(text: Column): Column =
    graft.functions.TextHash.simhash64(tokens(text))

  /** The declarative HOF formulation of [[simhash64]] — 64 interpreted
    * `filter` passes per document (HOFs are CodegenFallback), kept as the
    * reference implementation the codegen'd Expression is asserted
    * bit-identical to in TextStatsSpec (for non-null text; on NULL text
    * the Expression yields NULL like every other fingerprint here, while
    * this form yields 0L — see [[graft.functions.SimHash64]]).
    */
  def simhash64Hof(text: Column): Column = {
    val hs = transform(tokens(text), t => xxhash64(t))
    val n = size(hs)
    (0 until 64).map { b =>
      when(size(filter(hs, h => shiftright(h, b).bitwiseAND(lit(1L)) === 1L)) * 2 > n,
        lit(1L << b)).otherwise(lit(0L))
    }.reduce((acc, x) => acc.bitwiseOR(x))
  }

  /** TF-IDF top-k terms per document (keyword extraction): raw term
    * frequency × ln(N/df), ranked per doc. Scale shape: one shuffle keyed
    * (doc, term) with map-side partial counts, a vocabulary-sized df
    * aggregate joined back (AQE broadcasts it when small), the corpus size
    * as a broadcast 1-row frame (never a driver collect), and a per-doc
    * window for the top-k — every stage is corpus-partitioned.
    *
    * Ranking is on the ROUNDED score: tf·ln(N/df) from different (tf, df)
    * pairs can be mathematically equal (2·ln(x) = ln(x²)) yet differ in
    * the last ulp per engine, so ordering by the raw double would flip
    * ranks between engines; round-6-then-rank makes such ties exact and
    * the (score desc, term asc) order reproducible everywhere.
    */
  def tfidfTopTerms(docs: org.apache.spark.sql.DataFrame,
                    k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = explodeNonNull(docs, Seq(col(IdCol).as("doc_id")),
      tokens(col(TextCol)), "term")
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), asc("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= k)
      .select("doc_id", "rk", "term", "tfidf")
  }
}
