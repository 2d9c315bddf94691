package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Checkpoints, QueryDef}
import graft.Tables.table

/** Second wave of LLM-training-corpus operators: rule-based quality
  * filtering (the Gopher/C4 family), corpus-frequency statistics (heavy
  * hitters, unigram language-model scoring), inter-document duplication
  * accounting (the Dolma "duplicate paragraph fraction" shape) and
  * greedy sequence packing.
  *
  * All oracle-checked (DuckDB hash parity). Score outputs follow the
  * repo's engine-portable contracts: exact integer micro-units for
  * rational scores ([[TextStats.microRatio]]), round-6 for transcendental
  * ones (ln-based log-probabilities can't land on a .5e-6 tie).
  */
object CorpusQueries {

  /** Stopwords for the Gopher-style "must contain ≥2 stop words" rule —
    * drawn from the corpus vocabulary so the rule discriminates.
    */
  val stopWords: Seq[String] = Seq("the", "a", "and", "of")

  /** Gopher-family quality filter rules, one row per document:
    * word-count bound, mean-word-length band [3,10], minimum stop-word
    * hits; `keep` is the conjunction. Pure per-row column arithmetic —
    * embarrassingly parallel at any corpus size. Flags are 0/1 BIGINTs
    * (engine-portable; DuckDB booleans hash fine but integers remove all
    * doubt). The token array is staged once: four expressions read it.
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val n = size(col("__toks")).cast("bigint")
    val meanMicro =
      TextStats.microRatio(TextStats.sumTokenLengthsFromTokens(col("__toks")), n)
    val stopHits =
      size(filter(col("__toks"), t => t.isInCollection(stopWords))).cast("bigint")
    table(spark, dir, "documents")
      .select(col("doc_id"), TextStats.tokens(col("text")).as("__toks"))
      .select(col("doc_id"), n.as("n_tokens"), meanMicro.as("mean_len_micro"),
        stopHits.as("stop_hits"))
      .select(col("doc_id"), col("n_tokens"), col("mean_len_micro"),
        col("stop_hits"),
        (col("n_tokens") < 50L).cast("bigint").as("flag_short"),
        (col("mean_len_micro") < 3000000L ||
          col("mean_len_micro") > 10000000L).cast("bigint").as("flag_meanlen"),
        (col("stop_hits") < 2L).cast("bigint").as("flag_stop"))
      .withColumn("keep",
        (col("flag_short") === 0L && col("flag_meanlen") === 0L &&
          col("flag_stop") === 0L).cast("bigint"))
      .orderBy("doc_id")
  }

  /** Corpus heavy hitters: top-20 tokens by frequency (count desc, token
    * asc tiebreak). The explode shuffles (token, 1) pairs with map-side
    * combine; the top-k itself is `orderBy(...).limit(k)`, which plans
    * TakeOrderedAndProject — per-partition bounded heaps merged once,
    * never a global sort. No rank column: the (cnt desc, token) order IS
    * the rank (the tiebreak makes it a total order), and emitting it
    * would force a window over the vocabulary, which at 100 TB is
    * Heaps-law unbounded (billions of distinct tokens) — the one frame
    * you must never single-partition sort.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    TextStats.tokenRows(table(spark, dir, "documents"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(20)

  /** Unigram language-model score per document (the CCNet/perplexity-
    * filter shape, degree 1): average ln p(token) under the corpus's own
    * unigram distribution. Two aggregations — corpus term frequencies and
    * the per-document mean. The LM frame is keyed by token, and a 100 TB
    * corpus's vocabulary is Heaps-law unbounded — so it is deliberately
    * NOT broadcast-hinted: AQE broadcasts it at bench SF (same plan) and
    * shuffles it at web scale, the same contract bigramLogprob uses. Only
    * the 1-row grand total carries a hint. The per-doc sum of
    * ~1e2-magnitude doubles has order noise ~1e-13, so round-6 is
    * deterministic across engines (ln values cannot tie at .5e-6 —
    * they're transcendental).
    */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    // materialized once (round-21): the LM aggregate and the per-doc
    // score join both read `tok` (differently-pruned, no exchange reuse)
    val tok = TextStats.tokenRows(table(spark, dir, "documents"), "doc_id")
      .localCheckpoint()
    val freq = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
    val tot = freq.agg(sum(col("cnt")).as("total"))
    val lp = freq.crossJoin(broadcast(tot))
      .select(col("token"), log(col("cnt").cast("double") / col("total")).as("lp"))
    tok.join(lp, Seq("token"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("bigint").as("n_tokens"),
        round(sum(col("lp")) / count(lit(1)), 6).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** Cross-source contamination matrix: for every source pair, the count
    * of distinct trigrams present in BOTH, and the overlap coefficient
    * |A∩B| / min(|A|,|B|) in micro-units — the corpus-audit answer to
    * "which sources copied from each other" that the per-doc
    * interDocDupFraction can't give.
    *
    * Scale shape: distinct (source, gram) in one keyed aggregate, then
    * ONE groupBy(gram) collecting the source set — bounded by source
    * cardinality (a schema-level constant, like the winsorize argument),
    * so the pair fan-out is ≤ C(sources, 2) per gram and the pair counts
    * shuffle on the pair key. No gram self-join: the naive ex⋈ex on gram
    * would square the hot-gram rows; collect_set caps that row's cost at
    * the source count. Per-source totals broadcast (one row per source —
    * 20 here, never data-scale).
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    // materialized once (round-21): the per-source totals and the shared-
    // gram fan-out both read the distinct (source, gram) set; their
    // pruned subtrees differ, so the lazy form re-ran the whole
    // tokenize+shingle+distinct chain per consumer
    val sg = TextStats.explodeNonNull(
        table(spark, dir, "documents").select(col("source"),
          TextStats.shingles(TextStats.tokens(col("text")), 3).as("__raw")),
        Seq(col("source")), col("__raw"), "g")
      .select("source", "g").distinct()
      .localCheckpoint()
    val tot = sg.groupBy("source").agg(count(lit(1)).as("tot"))
    // no array_sort on the set: the order is immediately destroyed by the
    // double explode + src_a < src_b filter, so sorting every gram's
    // source set is pure dead work
    val shared = sg.groupBy("g")
      .agg(collect_set(col("source")).as("ss"))
      .select(explode(col("ss")).as("src_a"), col("ss"))
      .select(col("src_a"), explode(col("ss")).as("src_b"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).cast("bigint").as("shared"))
    shared
      .join(broadcast(tot.select(col("source").as("src_a"),
        col("tot").as("ta"))), Seq("src_a"))
      .join(broadcast(tot.select(col("source").as("src_b"),
        col("tot").as("tb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared"),
        // Dec variant: `shared` is DISTINCT-3-GRAM-sized, and 3-gram
        // vocabulary grows near-linearly with the corpus (no Heaps
        // comfort at n=3) — the 1e6 product crosses 2^63 past ~9.2e12
        // shared grams, inside the 100 TB shingle budget
        TextStats.microRatioDec(col("shared"), least(col("ta"), col("tb")))
          .as("overlap_micro"))
      .orderBy("src_a", "src_b")
  }

  /** Inverted-index build (top-200 df terms): per token, document
    * frequency, total term frequency, and the first 10 postings as
    * deterministic `doc:tf` strings — the search-engine artifact a
    * retrieval stack materializes from the corpus. Postings sort by
    * doc_id (array_sort over structs — unique key, engine-total order,
    * the LISTAGG determinism rule) and the term cut is (df desc, token)
    * via orderBy+limit = TakeOrderedAndProject, never a rank window.
    *
    * Scale shape: two keyed aggregates — (token, doc) tf with map-side
    * partials, then per-token fold. The posting ARRAY is the one part
    * that grows with df; slicing to 10 inside the aggregate's output
    * keeps the result row bounded, and a production index would write
    * the full postings as the segmented parquet this query's plan
    * already shuffles by token.
    */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame = {
    val tok = TextStats.tokenRows(table(spark, dir, "documents"), "doc_id")
    val perDoc = tok.groupBy("token", "doc_id")
      .agg(count(lit(1)).as("tf"))
    perDoc.groupBy("token")
      .agg(count(lit(1)).cast("bigint").as("df"),
        sum(col("tf")).cast("bigint").as("tf_total"),
        array_join(
          transform(
            slice(array_sort(collect_list(struct(col("doc_id"), col("tf")))),
              1, 10),
            x => concat_ws(":", x.getField("doc_id"), x.getField("tf"))),
          ",").as("postings"))
      .orderBy(desc("df"), asc("token"))
      .limit(200)
  }

  /** BM25 ranking (Robertson; the Lucene idf variant) for a fixed
    * 3-term query — the lexical-retrieval scorer the inverted index
    * exists to serve, and the sparse half of every hybrid search stack
    * (the dense half is q_knn_cosine; q_rrf_fusion shows the fusion).
    *
    * score(d) = Σ_t ln((N−df+0.5)/(df+0.5)+1) ·
    *            tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl)),  k1=1.2 b=0.75
    *
    * Parity: every input is an exact integer (tf, df, N, |d|); constants
    * are written as the same performed arithmetic in both engines
    * ((1.2 + 1), (1 − 0.75) — the mmr evaluated-not-folded rule), so
    * both compute identical doubles per term; the 3-term sum's merge
    * order is absorbed by round-6 (the LM-family contract) and ranking
    * runs on the rounded score with doc-id ties (the knn contract).
    *
    * Scale: term postings only (the IN filter prunes the explode before
    * any shuffle), doc lengths shuffle once by doc, df and corpus stats
    * are broadcast scalars, and the top-20 is TakeOrderedAndProject.
    */
  def bm25Rank(spark: SparkSession, dir: String): DataFrame = {
    val qTerms = Seq("query", "window", "scan")
    val tok = TextStats.tokenRows(table(spark, dir, "documents"), "doc_id")
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
    val tf = tok.filter(col("token").isin(qTerms: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val avgdl = col("tot").cast("double") / col("n_docs")
    val idf = log((col("n_docs") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0))
    val norm = col("tf") * (lit(1.2) + lit(1.0)) /
      (col("tf") + lit(1.2) * ((lit(1.0) - lit(0.75)) +
        lit(0.75) * col("dl") / avgdl))
    tf.join(broadcast(dfr), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), (idf * norm).as("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("bigint").as("n_terms"),
        round(sum(col("s")), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(20)
  }

  /** Inter-document duplication: the fraction of each document's distinct
    * trigrams that also appear in at least one OTHER document (micro-
    * units) — the corpus-level "duplicate paragraph fraction" signal that
    * complements the intra-doc q_repetition_score. Shape at scale:
    * explode distinct shingles → shingle document-frequency aggregate →
    * join back → per-doc aggregate. Every stage is shuffle-partitioned by
    * its key; nothing is corpus-quadratic.
    */
  def interDocDupFraction(spark: SparkSession, dir: String): DataFrame = {
    val sh = table(spark, dir, "documents")
      .select(col("doc_id"),
        TextStats.shingles(TextStats.tokens(col("text")), 3).as("__raw"))
      .select(col("doc_id"), array_distinct(col("__raw")).as("__sh"))
    // materialized once (round-21): the df aggregate and the join probe
    // read `ex` through differently-pruned subtrees (no exchange reuse),
    // so the lazy form re-ran tokenize+shingle per consumer
    val ex = TextStats.explodeNonNull(sh, Seq(col("doc_id")), col("__sh"), "g")
      .localCheckpoint()
    // Measured adjudication (this corpus, sf0.1): the df>1 semi-join
    // prune that pays off in dup_spans LOSES here — tot needs every
    // posting row anyway, so the "pruned" variant adds a second
    // doc-keyed aggregate (and a re-tokenize, in its naive form) while
    // the prune removes almost nothing on a high-duplication corpus
    // (timed alone: 6.2 s pruned vs 3.6-4.1 s single-join). The single
    // gram-keyed join below is linear in the posting list — the same
    // scale class as the tfidf join — and stays the cheaper plan
    // wherever the dup fraction (this query's own output) is high.
    val dfreq = ex.groupBy("g").agg(count(lit(1)).as("df"))
    val agg = ex.join(dfreq, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("bigint").as("tot"),
        sum(when(col("df") > 1L, 1L).otherwise(0L)).as("dup"))
    sh.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("tot"), lit(0L)).as("n_shingles"),
        TextStats.microRatio(coalesce(col("dup"), lit(0L)),
          coalesce(col("tot"), lit(0L))).as("interdup_micro"))
      .orderBy("doc_id")
  }

  /** Duplicated-SPAN detection (the positional refinement of
    * [[interDocDupFraction]], after Lee et al. 2107.06499's substring
    * dedup): which token POSITIONS of each document sit inside a
    * 3-token shingle that also appears in another document, grouped
    * into maximal contiguous runs. Whole-doc dedup misses the boilerplate
    * case — a unique page wrapping a duplicated header/footer — and this
    * is the operator that finds the spans a trimming pass would cut.
    * Shape at scale: positional shingle explode → cross-doc
    * document-frequency on the DISTINCT (doc, shingle) pairs → covered
    * positions via a 3-element sequence explode → gaps-and-islands
    * (position minus per-doc row_number) → per-doc run stats. Every
    * stage shuffles on its own key (shingle, then doc_id); the only
    * window is per-doc over covered positions, bounded by document
    * length — nothing is corpus-quadratic and no global sort exists.
    * Output per doc: token count, duplicated-token count, run count,
    * longest run, and the duplicated fraction in exact micro-units.
    */
  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val sh = docs.select(col("doc_id"),
      TextStats.shingles(TextStats.tokens(col("text")), 3).as("__sh"))
    // 1-based start positions to match the oracle's range(1, len-1)
    // materialized once (round-21): `pos` feeds the cross-doc df
    // aggregate AND the dup-occurrence join (differently-pruned subtrees,
    // no exchange reuse) — the lazy form tokenized+shingled the corpus
    // twice per run
    // the positional form of TextStats.explodeNonNull (see there for why
    // _outer), written out because it also needs the position column
    val pos = sh.select(col("doc_id"), posexplode_outer(col("__sh")))
      .filter(col("col").isNotNull)
      .select(col("doc_id"), (col("pos") + 1).cast("bigint").as("sp"),
        col("col").as("g"))
      .localCheckpoint()
    // "appears in ≥2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id) over the
    // raw occurrence rows — one partially-aggregated exchange of (g, 2
    // longs) instead of the former distinct-pairs shuffle PLUS a second
    // g-keyed count exchange (round 22; the df value itself was only
    // ever compared to 1, never output)
    val dupg = pos.groupBy("g")
      .agg(min(col("doc_id")).as("__mn"), max(col("doc_id")).as("__mx"))
      .filter(col("__mn") =!= col("__mx")).select("g")
    // interval merge, not a covered-position explode: each dup-shingle
    // occurrence covers the contiguous token range [sp, sp+2], and (doc,
    // sp) is unique by construction, so merging overlapping/adjacent
    // intervals per doc in one window sort gives the identical runs —
    // an island's covered-token count is max(end) − min(sp) + 1 because
    // its interval union is a single contiguous range (a new island needs
    // sp > prev_max_end + 1: at sp == prev_max_end + 1 the COVERAGE is
    // still contiguous — adjacent shared shingles merge into one run,
    // the doc-B case in the spec). This replaces the
    // former 3×-row `sequence` explode + DISTINCT shuffle + window over
    // covered positions with one window over the occurrence rows (⅓ the
    // volume, one less shuffle) — same answer, gate-verified.
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("sp")
    val wPrev = wOrd.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wRun = wOrd.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val runs = pos.join(dupg, Seq("g"))
      .select(col("doc_id"), col("sp"), (col("sp") + 2L).as("ep"))
      .withColumn("pmax", max(col("ep")).over(wPrev))
      .withColumn("new_isl",
        when(col("pmax").isNull || col("sp") > col("pmax") + 1L, 1L)
          .otherwise(0L))
      .withColumn("isl", sum(col("new_isl")).over(wRun))
      .groupBy("doc_id", "isl")
      .agg((max(col("ep")) - min(col("sp")) + 1L).as("run_len"))
    val agg = runs.groupBy("doc_id")
      .agg(count(lit(1)).cast("bigint").as("n_runs"),
        sum(col("run_len")).cast("bigint").as("dup_tokens"),
        max(col("run_len")).cast("bigint").as("max_run"))
    docs.select(col("doc_id"), TextStats.tokenCount(col("text")).as("n_tokens"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs"),
        coalesce(col("max_run"), lit(0L)).as("max_run"),
        TextStats.microRatio(coalesce(col("dup_tokens"), lit(0L)),
          col("n_tokens")).as("dupspan_micro"))
      .orderBy("doc_id")
  }

  /** Token co-occurrence mining (the apriori-pruned market-basket pass):
    * which of the corpus's top-50 document-frequency tokens appear
    * TOGETHER, ranked by document support, with lift
    * n_docs·N / (df_a·df_b) as the association strength. The unordered
    * complement of [[collocations]] (adjacent-bigram PMI): co-presence
    * anywhere in the document, the "these topics travel together"
    * signal. Scale shape: the candidate set is a FIXED top-F token list
    * (TakeOrderedAndProject, broadcast at 50 rows — schema-bounded by
    * construction, not data-bounded), so the within-doc pair explode is
    * ≤F² per document at any corpus size — the apriori prune that makes
    * basket mining tractable; the pair aggregate shuffles on the pair
    * key. Lift multiplies counts as DOUBLES (each operand < 2⁵³ is
    * exact, so both engines compute identical products at any tested
    * scale) — the Long product form overflows past ~3e9 documents.
    */
  def cooccurPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val dt = TextStats.explodeNonNull(docs, Seq(col("doc_id")),
      array_distinct(TextStats.tokens(col("text"))), "token")
    val topf = dt.groupBy("token").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("token")).limit(50)
    val ft = dt.join(broadcast(topf), Seq("token"))
    val a = ft.select(col("doc_id"), col("token").as("tok_a"),
      col("df").as("df_a"))
    val b = ft.select(col("doc_id"), col("token").as("tok_b"),
      col("df").as("df_b"))
    val pairs = a.join(b, Seq("doc_id"))
      .filter(col("tok_a") < col("tok_b"))
      .groupBy("tok_a", "tok_b")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        max(col("df_a")).as("df_a"), max(col("df_b")).as("df_b"))
    val tot = docs.agg(count(lit(1)).as("n"))
    // operands cast to double BEFORE the multiply: each count is exact in
    // a double (< 2⁵³), but the Long PRODUCT N·n_docs overflows 2⁶³ once
    // the corpus passes ~3e9 documents — ANSI ARITHMETIC_OVERFLOW at
    // exactly the scale this operator targets (the skewReport lesson)
    pairs.crossJoin(broadcast(tot))
      .select(col("tok_a"), col("tok_b"), col("n_docs"),
        round((col("n_docs").cast("double") * col("n").cast("double")) /
          (col("df_a").cast("double") * col("df_b").cast("double")), 6)
          .as("lift"))
      .orderBy(desc("n_docs"), col("tok_a"), col("tok_b"))
      .limit(20)
  }

  /** Greedy sequence packing: documents stream into ~2048-token bins per
    * source ([[graft.ops.Sampling.packBins]]); output is the per-bin
    * manifest (doc count + token total). Parallel across sources; no
    * global sort anywhere.
    */
  def seqPack(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.packBins(
        table(spark, dir, "documents")
          .select(col("doc_id"), col("source"),
            TextStats.tokenCount(col("text")).as("n_tokens")),
        groupCol = "source", orderCol = "doc_id", weightCol = "n_tokens",
        binBudget = 2048L)
      .groupBy("source", "bin_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
      .orderBy("source", "bin_id")

  /** PII detection + redaction. The corpus itself is synthetic and
    * PII-free, so the query derives a deterministic PII-bearing column
    * from (text, doc_id) first — BOTH engines derive the identical string,
    * making the regex count/redact stage a real, non-trivially-zero
    * oracle check. At corpus scale this is the standard pre-training
    * scrub pass: per-row regex chains, no shuffle at all.
    */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val synth = concat(
      col("text"), lit(" user"), id, lit("@mail.com"),
      when(col("doc_id") % 3 === 0, concat(lit(" alt"), id, lit("@ex.org")))
        .otherwise(""),
      when(col("doc_id") % 2 === 0,
        concat(lit(" 10.0."), (col("doc_id") % 256).cast("string"), lit(".7")))
        .otherwise(""),
      when(col("doc_id") % 5 === 0,
        concat(lit(" +14155550"), (col("doc_id") % 1000).cast("string")))
        .otherwise(""))
    table(spark, dir, "documents")
      // stage the synthesized text once: four regex expressions read it
      .select(col("doc_id"), synth.as("__synth"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("__synth"), lit(TextStats.emailRe), lit(0)))
          .cast("bigint").as("n_emails"),
        size(regexp_extract_all(col("__synth"), lit(TextStats.ipv4Re), lit(0)))
          .cast("bigint").as("n_ips"),
        size(regexp_extract_all(col("__synth"), lit(TextStats.phoneRe), lit(0)))
          .cast("bigint").as("n_phones"),
        md5(TextStats.redactPii(col("__synth"))).as("red_fp"))
      .orderBy("doc_id")
  }

  /** T=2 temperature mix of 2000 docs across sources
    * ([[graft.ops.Sampling.temperatureMix]]): √n-flattened draw counts,
    * md5-rank membership — oracle-exact because sqrt (unlike pow) is
    * correctly-rounded IEEE and the allocation is integer arithmetic.
    */
  def temperatureMixDocs(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.temperatureMix(
        table(spark, dir, "documents").select(col("doc_id"), col("source")),
        groupCol = "source", idCol = "doc_id", budget = 2000L,
        temperature = 2.0)
      .select("source", "rk", "doc_id")
      .orderBy("source", "rk")

  /** Deterministic source-interleaved training order
    * ([[graft.ops.Sampling.roundRobinInterleave]]): first 100 positions
    * of the balanced cycle — consecutive positions rotate sources
    * instead of streaming one source's docs in a run.
    */
  def curriculumOrder(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.roundRobinInterleave(
        table(spark, dir, "documents").select(col("doc_id"), col("source")),
        bucketCol = "source", idCol = "doc_id")
      .orderBy("pos").limit(100)
      .select(col("pos"), col("source"), col("doc_id"))

  /** [[chunkDocs]]' window and stride in tokens, also read by its DuckDB
    * oracles ([[OracleSql.chunkRows]]). */
  private[llm] val ChunkWindow = 32
  private[llm] val ChunkStride = 24

  /** Fixed-window document chunking with overlap (window 32 tokens,
    * stride 24 → 8-token overlap) — the RAG/embedding prep step that
    * turns documents into retrievable passages, with the provenance a
    * citation needs (doc_id, chunk_id, start token offset). The chunk
    * body is emitted as its md5 (bounded output; a production run would
    * write the text itself — same plan). Chunk count per doc is
    * 1 + max(0, ⌈(n−w)/s⌉) via integer arithmetic; the per-doc explode
    * is the only fan-out (≤ n/s rows per doc), and everything else is
    * per-row expression work — zero shuffles before the output sort.
    *
    * Parity notes: the ceil numerator n−w+s−1 can go negative on tiny
    * docs, where Spark's `div` truncates toward zero and DuckDB's `//`
    * floors — greatest(0, ·) erases the difference on BOTH engines.
    * Slice bounds clamp identically (Spark slice length vs DuckDB
    * inclusive list ranges, both 1-based).
    */
  def chunkDocs(spark: SparkSession, dir: String): DataFrame = {
    val (w, s) = (ChunkWindow, ChunkStride)
    table(spark, dir, "documents")
      .select(col("doc_id"), TextStats.tokens(col("text")).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .withColumn("__extra",
        greatest(lit(0), expr(s"(__n - $w + ${s - 1}) div $s").cast("int")))
      .withColumn("chunk_id", explode(sequence(lit(0), col("__extra"))))
      .withColumn("start_tok", col("chunk_id").cast("bigint") * s)
      .select(col("doc_id"), col("chunk_id").cast("bigint").as("chunk_id"),
        col("start_tok"),
        size(slice(col("__toks"), (col("chunk_id") * s + 1), lit(w)))
          .cast("bigint").as("n_tokens"),
        md5(array_join(slice(col("__toks"), (col("chunk_id") * s + 1),
          lit(w)), " ")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Cross-document repeated passages: the [[chunkDocs]] fingerprints
    * aggregated by chunk body — passages appearing in 2+ documents are
    * boilerplate (headers, licenses, templates), the chunk-granular
    * complement of doc-level dedup and the q_dup_spans signal at
    * passage resolution. One count aggregate on the 16-byte md5 key;
    * top-50 by (n_docs desc, md5) via TakeOrderedAndProject.
    */
  def chunkDupes(spark: SparkSession, dir: String): DataFrame =
    chunkDocs(spark, dir)
      .groupBy("chunk_md5")
      .agg(countDistinct(col("doc_id")).cast("bigint").as("n_docs"),
        count(lit(1)).cast("bigint").as("n_chunks"))
      .filter(col("n_docs") >= 2L)
      .orderBy(desc("n_docs"), desc("n_chunks"), asc("chunk_md5"))
      .limit(50)

  /** Deterministic md5-rank sample: 10 docs per source
    * ([[graft.ops.Sampling.md5RankSample]]) — reproducible down-sampling
    * for eval sets and ablations, WindowGroupLimit-pruned per group.
    */
  def hashSample(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.md5RankSample(
        table(spark, dir, "documents").select(col("doc_id"), col("source")),
        groupCol = "source", idCol = "doc_id", k = 10)
      .select("source", "rk", "doc_id")
      .orderBy("source", "rk")

  /** Length-weighted sample without replacement: 10 docs per source,
    * weight = n_chars ([[graft.ops.Sampling.weightedSample]], the
    * Efraimidis–Spirakis exponential-keys construction) — the curation
    * sampler that favors substantial documents without excluding short
    * ones, reproducible across engines because the per-row uniform is
    * md5-derived rather than rand(seed). Same WindowGroupLimit shape as
    * [[hashSample]]; n_chars > 0 guard because zero weight is undefined
    * under E-S. es_key rounded for the output hash only — the RANKING
    * uses the unrounded doubles, identical on both engines.
    */
  def weightedSampleDocs(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.weightedSample(
        table(spark, dir, "documents")
          .filter(col("n_chars") > 0L)
          .select(col("doc_id"), col("source"), col("n_chars")),
        groupCol = "source", idCol = "doc_id", weightCol = "n_chars", k = 10)
      .select(col("source"), col("rk"), col("doc_id"), col("n_chars"),
        round(col("es_key"), 9).as("es_key"))
      .orderBy("source", "rk")

  /** Bigram language-model score per document: average ln p(w_i | w_{i-1})
    * under the corpus's own bigram distribution — one LM degree up from
    * [[unigramLogprob]], the distributed stand-in for a KenLM-style
    * perplexity filter. Conditional probabilities divide each bigram count
    * by its PREFIX total (occurrences of w1 as a bigram head), both from
    * the same aggregate. Docs with fewer than two tokens degrade to
    * (0, NULL) rather than disappearing.
    */
  def bigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val bg = docs.select(col("doc_id"),
      TextStats.shingles(TextStats.tokens(col("text")), 2).as("__bg"))
    // materialize the positional posting rows once (round-21): `ex` is
    // read by the bigram-frequency aggregate AND the final per-doc score
    // join, whose differently-pruned subtrees defeat ReuseExchange — the
    // lazy form re-ran tokenize+shingle per consumer (3 corpus scans,
    // plan-counted). The (doc, gram) posting list is the standard
    // materialized artifact at corpus scale (the sourceKl call).
    val ex = TextStats.explodeNonNull(bg, Seq(col("doc_id")), col("__bg"), "g")
      .localCheckpoint()
    val freq = ex.groupBy("g").agg(count(lit(1)).as("cnt"))
    val prefixTot = freq
      .groupBy(substring_index(col("g"), " ", 1).as("w1"))
      .agg(sum(col("cnt")).as("ptot"))
    val p = freq.withColumn("w1", substring_index(col("g"), " ", 1))
      .join(prefixTot, Seq("w1"))
      .select(col("g"), log(col("cnt").cast("double") / col("ptot")).as("lp"))
    // no broadcast hint: a bigram table grows with vocab², so the side
    // choice belongs to AQE (it will broadcast at this SF, shuffle at web
    // scale) — unlike the UNIGRAM table, which stays broadcastable
    val agg = ex.join(p, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("bigint").as("n_bigrams"),
        round(sum(col("lp")) / count(lit(1)), 6).as("avg_logprob"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_logprob"))
      .orderBy("doc_id")
  }

  /** Per-source vocabulary statistics: doc/token/distinct-token counts and
    * the type-token ratio (micro-units) — the Heaps'-law corpus-health
    * numbers a mixture dashboard reads. One exploded aggregate; the two
    * exact distincts expand-and-reaggregate, still keyed by source.
    */
  def sourceVocab(spark: SparkSession, dir: String): DataFrame =
    TextStats.tokenRows(table(spark, dir, "documents"), "source", "doc_id")
      .groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        countDistinct(col("token")).as("n_vocab"))
      .withColumn("ttr_micro",
        TextStats.microRatio(col("n_vocab"), col("n_tokens")))
      .orderBy("source")

  /** One BPE-training merge step, corpus-weighted: the top adjacent
    * character pairs by total occurrence count. The trick that makes
    * this corpus-size-proof: pairs are enumerated over the DISTINCT
    * token table (vocabulary-sized) and weighted by the token's corpus
    * frequency — the full text is never re-scanned at the character
    * level. `sequence(1, len-1)` is guarded for 1-char tokens (sequence
    * counts DOWN when start > stop — the round-1 trap).
    */
  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    val freq = TextStats.tokenRows(table(spark, dir, "documents"))
      .groupBy("token").agg(count(lit(1)).as("c"))
    val pairsArr = when(length(col("token")) >= 2,
        transform(sequence(lit(1), length(col("token")) - 1),
          i => col("token").substr(i, lit(2))))
      .otherwise(array().cast("array<string>"))
    TextStats.explodeNonNull(freq.select(col("c"), pairsArr.as("__pairs")),
        Seq(col("c")), col("__pairs"), "pair")
      .groupBy("pair").agg(sum(col("c")).as("cnt"))
      // top-k as TakeOrderedAndProject, not a vocabulary-wide rank
      // window — see heavyHitters; the sort order is the rank
      .orderBy(col("cnt").desc, col("pair"))
      .limit(10)
  }

  /** Number of merge rounds [[bpeLearn]] runs — interpolated into BOTH
    * the Spark loop and the DuckDB unrolled oracle, so the two can't
    * drift (the zipfHeadK lesson).
    */
  val bpeMerges = 8

  /** Sentinel wrappers for [[bpeLearn]]'s segmentation encoding: symbol
    * "ab" is stored as `<U+0001>ab<U+0002>`, so a merge is one plain
    * left-to-right non-overlapping `replace` — which is EXACTLY greedy
    * BPE merge order, because adjacent matches never share characters
    * (the naive space-separated encoding shares the boundary space and
    * under-merges runs like `a a a a`). Both engines' `replace` have the
    * same LTR non-overlapping contract, which is what makes the k-round
    * loop oracle-checkable without lookaround regexes (DuckDB's RE2 has
    * none). Assumes the sentinels don't appear in corpus tokens.
    */
  private val segS = "\u0001"
  private val segE = "\u0002"

  /** Iterative BPE VOCABULARY LEARNING — the real tokenizer-build loop,
    * not just one step ([[bpePairs]]): k rounds of count-pairs →
    * pick-argmax → merge-everywhere, emitting the first k merges
    * (rank, left, right, count at merge time) as a deterministic table.
    *
    * Scale: the loop runs entirely on the DISTINCT-token × corpus-weight
    * frame (vocabulary-sized — the corpus text is scanned exactly once,
    * the Sennrich learn_bpe economics), so each round is one
    * vocabulary-keyed aggregate plus a 1-row argmax collect; lineage is
    * cut per round with localCheckpoint and the previous round's blocks
    * are freed as soon as the next round is materialized.
    * Ties break (count desc, left asc, right asc) — deterministic on
    * both engines. Tokens shorter than 2 chars never produce a pair and
    * never merge, so they are dropped up front on both sides.
    */
  def bpeLearn(spark: SparkSession, dir: String): DataFrame =
    bpeLearnFromDocs(table(spark, dir, "documents"), bpeMerges)

  /** [[bpeLearn]] over an arbitrary documents frame (spec entry point). */
  def bpeLearnFromDocs(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Checkpoints.scoped(bpeTrain(_, docs, k)._1)
      .toDF("merge_rank", "left_sym", "right_sym", "cnt")
      .orderBy("merge_rank")
  }

  /** The k-round training loop, returning (merge table, final
    * segmentation frame); every round's checkpoint belongs to `s`.
    */
  private def bpeTrain(s: Checkpoints.Scope, docs: DataFrame, k: Int)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    val vocab = TextStats.tokenRows(docs)
      .filter(length(col("token")) >= 2)
      .groupBy("token").agg(count(lit(1)).as("c"))
    // seg_0: every code point wrapped <U+0001>·<U+0002> (regex, not split —
    // Spark's split(tok, '') keeps a trailing '' under its limit=-1
    // semantics, which would fabricate an empty symbol)
    var seg = s.checkpoint(vocab.select(col("c"),
        regexp_replace(col("token"), "(?s)(.)", segS + "$1" + segE).as("seg")))
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      val top = seg
        .select(col("c"), split(
          col("seg").substr(lit(2), length(col("seg")) - 2), segE + segS).as("sy"))
        .filter(size(col("sy")) >= 2)
        .select(col("c"), explode(transform(
          sequence(lit(1), size(col("sy")) - 1),
          i => struct(element_at(col("sy"), i).as("l"),
                      element_at(col("sy"), i + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("c")).as("cnt"))
        .orderBy(desc("cnt"), asc("l"), asc("r"))
        .take(1)
      if (top.isEmpty) exhausted = true
      else {
        val (l, rr, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r.toLong, l, rr, cnt))
        val next = s.checkpoint(seg.withColumn("seg", replace(col("seg"),
            lit(segS + l + segE + segS + rr + segE),
            lit(segS + l + rr + segE))))
        s.release(seg)
        seg = next
        r += 1
      }
    }
    (merges.toSeq, seg)
  }

  /** Result size of [[bpeVocab]]. */
  val bpeVocabTopK = 20

  /** The learned vocabulary APPLIED: after [[bpeMerges]] training rounds,
    * the corpus's token mass re-counted under the merged symbol alphabet
    * — top-[[bpeVocabTopK]] symbols by weighted occurrence. This is what
    * a tokenizer build actually ships (the vocab table); scale shape is
    * one more vocabulary-sized aggregate over the final segmentation
    * frame. Covers multi-char tokens (1-char tokens are trivially their
    * own symbol and are excluded from training on both engines).
    */
  def bpeVocab(spark: SparkSession, dir: String): DataFrame =
    bpeVocabFromDocs(table(spark, dir, "documents"), bpeMerges, bpeVocabTopK)

  def bpeVocabFromDocs(docs: DataFrame, k: Int, topK: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val top = Checkpoints.scoped { s =>
      val seg = bpeTrain(s, docs, k)._2
      TextStats.explodeNonNull(seg.select(col("c"), split(
          col("seg").substr(lit(2), length(col("seg")) - 2), segE + segS).as("sy")),
          Seq(col("c")), col("sy"), "sym")
        .groupBy("sym").agg(sum(col("c")).as("cnt"))
        .orderBy(desc("cnt"), asc("sym"))
        .limit(topK).collect()
    }
    top.map(r => (r.getString(0), r.getLong(1))).toSeq.toDF("sym", "cnt")
  }

  /** DuckDB unroll of [[bpeLearn]]'s k merge rounds, the
    * [[graft.ops.EventQueries]] PageRank-oracle pattern: one
    * (pair-counts, argmax, merged-segmentation) CTE block per round, all
    * MATERIALIZED (each s{i} is referenced twice — pair counting and the
    * next merge — and DuckDB inlines plain CTEs). String ops mirror the
    * Spark side op-for-op: same sentinels, same LTR `replace`, same
    * (count desc, left, right) tie-break. Merge EXHAUSTION (corpus
    * supports fewer than k merges) is guarded: m_i is then empty, and the
    * LEFT JOIN ON TRUE carries s_{i-1} forward unchanged — a CROSS JOIN
    * would empty every later s_i and zero the vocab arm, while bpeTrain
    * stops early and reports the final segmentation.
    */
  private def bpeOracleCtes(k: Int): String = {
    val rounds = (1 to k).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT p.l AS l, p.r AS r, CAST(sum(c) AS BIGINT) AS cnt FROM (
         |    SELECT c, unnest(list_transform(range(1, len(sy)),
         |        j -> struct_pack(l := sy[j], r := sy[j+1]))) AS p
         |    FROM (SELECT c, string_split(substr(seg, 2, len(seg) - 2),
         |            chr(2) || chr(1)) AS sy FROM s${i - 1})
         |    WHERE len(sy) >= 2)
         |  GROUP BY p.l, p.r),
         |m$i AS MATERIALIZED (
         |  SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
         |s$i AS MATERIALIZED (
         |  SELECT c, CASE WHEN m.l IS NULL THEN seg ELSE replace(seg,
         |    chr(1) || m.l || chr(2) || chr(1) || m.r || chr(2),
         |    chr(1) || m.l || m.r || chr(2)) END AS seg
         |  FROM s${i - 1} LEFT JOIN m$i m ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""WITH tok AS (
       |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
       |f AS MATERIALIZED (
       |  SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok
       |  WHERE len(token) >= 2 GROUP BY token),
       |s0 AS MATERIALIZED (
       |  SELECT c, list_aggregate(list_transform(string_split(token, ''),
       |    ch -> chr(1) || ch || chr(2)), 'string_agg', '') AS seg
       |  FROM f),
       |$rounds""".stripMargin
  }

  private def bpeLearnOracleSql(k: Int): String = {
    val unions = (1 to k).map { i =>
      s"SELECT CAST($i AS BIGINT) AS merge_rank, l AS left_sym, r AS right_sym, cnt FROM m$i"
    }.mkString("\nUNION ALL ")
    s"""${bpeOracleCtes(k)}
       |SELECT * FROM (
       |$unions)
       |ORDER BY merge_rank""".stripMargin
  }

  /** Final-segmentation symbol counts from the same unrolled CTE chain. */
  private def bpeVocabOracleSql(k: Int, topK: Int): String =
    s"""${bpeOracleCtes(k)}
       |SELECT sym, CAST(sum(c) AS BIGINT) AS cnt FROM (
       |  SELECT c, unnest(string_split(substr(seg, 2, len(seg) - 2),
       |           chr(2) || chr(1))) AS sym
       |  FROM s$k)
       |GROUP BY sym
       |ORDER BY cnt DESC, sym
       |LIMIT $topK""".stripMargin

  /** Mixture accounting by quality band: documents bucketed by their
    * quality score (micro-units, 250k-wide bands) with doc and token
    * mass per band — the "how much high-quality data do we have"
    * dashboard behind quality-curriculum sampling. Composes the exact
    * integer quality contract, so the band edges are engine-identical.
    */
  def qualityMix(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(TextStats.tokens(col("text")).as("__toks"), col("n_chars"))
      .select(
        TextStats.qualityScoreMicroFromTokens(col("__toks"), col("n_chars"))
          .as("q"),
        size(col("__toks")).cast("bigint").as("n_tokens"))
      .withColumn("band", expr("q DIV 250000"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
      .orderBy("band")

  /** Collocation extraction: top-10 token bigrams by pointwise mutual
    * information, PMI = ln( p(ab) / (p(a)·p(b)) ), among bigrams seen
    * ≥ 20 times — the phrase-mining pass (multi-word expressions) of a
    * corpus pipeline. Unigram and bigram counts come from the same
    * token-frequency aggregates the LM queries use. Cross-engine top-k on
    * a transcendental score uses the round-then-rank contract
    * (tf-idf lesson): the limit orders by the ROUNDED pmi with the
    * bigram string as tiebreak, so both engines keep identical keys.
    * The top-k is `orderBy(...).limit(k)` (TakeOrderedAndProject); no
    * rank window over the bigram-vocabulary frame, which grows as
    * vocab² and must never be single-partition sorted (see
    * heavyHitters).
    */
  def collocations(spark: SparkSession, dir: String): DataFrame =
    collocationsWithMin(spark, dir, collocMinCount)

  /** Bigram support threshold for [[collocations]]. Interpolated into the
    * oracle SQL, and parameterized for ScaleInvariantsSpec: at R×
    * shared-vocab growth every count scales by R, so running with
    * minCount = R·20 must reproduce the source top-10 with identical PMIs.
    */
  val collocMinCount = 20

  def collocationsWithMin(spark: SparkSession, dir: String,
                          minCount: Long): DataFrame = {
    val docs = table(spark, dir, "documents")
    val tok = TextStats.explodeNonNull(
      docs.select(col("doc_id"), TextStats.tokens(col("text")).as("__toks")),
      Seq.empty, col("__toks"), "token")
    // materialize the unigram aggregate (round-21): it feeds the grand
    // total and TWO w1/w2 joins whose exchange keys differ, so the lazy
    // form re-tokenized the corpus once per consumer. Vocabulary-sized —
    // the sourceKl storage-for-passes call.
    val uni = tok.groupBy("token").agg(count(lit(1)).as("uc"))
      .localCheckpoint()
    val uniTot = uni.agg(sum(col("uc")).as("utot"))
    val bg = TextStats.explodeNonNull(
      docs.select(col("doc_id"),
        TextStats.shingles(TextStats.tokens(col("text")), 2).as("__bg")),
      Seq.empty, col("__bg"), "g")
    // grand total DERIVES from the keyed aggregate (sum of per-g counts,
    // exact integers, value-identical) so ReuseExchange dedups the
    // corpus-wide tokenize+shingle+explode scan — `bg.agg(count)` has no
    // common exchange subtree and would run the whole chain a second time
    // (the unigramLogprob pattern, already applied to uni/uniTot above)
    val bigAll = bg.groupBy("g").agg(count(lit(1)).as("bc"))
      .localCheckpoint() // round-21: feeds the threshold filter AND btot
    val big = bigAll.filter(col("bc") >= minCount)
    val bigTot = bigAll.agg(coalesce(sum(col("bc")), lit(0L)).as("btot"))
    // the unigram-count side is token-keyed — vocabulary-sized, Heaps-law
    // unbounded at 100 TB — so no broadcast hint: AQE picks the build side
    // at bench SF and shuffles at web scale (only the two 1-row totals are
    // hinted; see unigramLogprob for the contract)
    val scored = big
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .withColumn("w2", substring_index(col("g"), " ", -1))
      .join(uni.select(col("token").as("w1"), col("uc").as("c1")), Seq("w1"))
      .join(uni.select(col("token").as("w2"), col("uc").as("c2")), Seq("w2"))
      .crossJoin(broadcast(bigTot)).crossJoin(broadcast(uniTot))
      .withColumn("pmi", round(
        log((col("bc").cast("double") / col("btot")) /
          ((col("c1").cast("double") / col("utot")) *
            (col("c2").cast("double") / col("utot")))), 6))
    scored
      .select("g", "bc", "pmi")
      .orderBy(col("pmi").desc, col("g"))
      .limit(10)
  }

  /** How far the Zipf fit looks down the rank-frequency curve. The slope
    * is fit on the HEAD of the distribution: the tail departs from the
    * power law anyway (hapax plateau), and at 100 TB the full vocabulary
    * is Heaps-law unbounded — a global rank over it is the
    * single-partition sort this operator must never plan.
    */
  val zipfHeadK = 1000

  /** Zipf rank-frequency slope: the least-squares slope of ln(frequency)
    * against ln(rank) over the top-[[zipfHeadK]] vocabulary head (≈ −1
    * for natural language — the corpus-health diagnostic that catches
    * template/boilerplate corpora). The head is `orderBy(...).limit(k)`
    * (TakeOrderedAndProject — never a global sort), and ranks over the
    * ≤k survivors are assigned WITHOUT a window: rank(t) = |{t' :
    * (c',token') at-or-before (c,token) in the total order}|, a broadcast
    * self-join count over a k-row frame (k² ≤ 1e6 comparisons; AQE's
    * exchange reuse dedups the shared token-frequency aggregate under
    * both sides). The fit is one covariance aggregate, round-6 (moment
    * contract).
    */
  def zipfSlope(spark: SparkSession, dir: String): DataFrame = {
    val head = TextStats.tokenRows(table(spark, dir, "documents"))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token"))
      .limit(zipfHeadK)
    val peers = broadcast(head.select(col("c").as("__c2"), col("token").as("__t2")))
    val ranked = head.join(peers,
        col("__c2") > col("c") ||
          (col("__c2") === col("c") && col("__t2") <= col("token")))
      .groupBy("token", "c").agg(count(lit(1)).as("rk"))
    // n_head, not n_vocab: the count is the ≤zipfHeadK-row fit head, not
    // the corpus vocabulary size (which q_source_vocab reports)
    ranked.select(log(col("rk").cast("double")).as("lr"),
        log(col("c").cast("double")).as("lf"))
      .agg(count(lit(1)).cast("bigint").as("n_head"),
        covar_pop(col("lr"), col("lf")).as("cv"),
        var_pop(col("lr")).as("vr"))
      // one-token vocabulary has zero rank variance: NaN, not an ANSI
      // division error (the Spark 4 default)
      .select(col("n_head"), round(
        when(col("vr").isNull || col("vr") === 0.0, lit(Double.NaN))
          .otherwise(col("cv") / col("vr")), 6).as("slope"))
  }

  /** Per-source token-distribution drift: KL(p_source ‖ p_corpus) =
    * Σ_t p_s(t)·ln(p_s(t)/p(t)) — the mixture-drift diagnostic behind
    * "did source X's language shift vs the corpus" dashboards (and the
    * quantitative form of the source-mix accounting). Every stage is
    * keyed by (source, token) or token: the token-keyed marginal join is
    * deliberately un-hinted (Heaps-law unbounded — the unigramLogprob
    * contract), the per-source totals are source-cardinality-sized and
    * AQE broadcasts them. p(t) > 0 wherever p_s(t) > 0 by construction
    * (the marginal sums the per-source counts), so the log is total.
    * Round-6: transcendental, can't tie at .5e-6.
    */
  def sourceKl(spark: SparkSession, dir: String): DataFrame = {
    // localCheckpoint the (source, token) aggregate: THREE consumers read
    // it (marginal, per-source totals, the join probe), and column
    // pruning makes their subtrees differ — so exchange reuse can't dedup
    // them and the un-checkpointed plan re-tokenizes the corpus once per
    // consumer (4 full scans). Materializing one vocab×sources frame
    // trades bounded executor storage for three corpus passes — the same
    // call Graph.pageRank/Dedup.connectedComponents make.
    val st = TextStats.tokenRows(table(spark, dir, "documents"), "source")
      .groupBy("source", "token").agg(count(lit(1)).as("c_st"))
      .localCheckpoint()
    val ct = st.groupBy("token").agg(sum(col("c_st")).as("c_t"))
    val ns = st.groupBy("source").agg(sum(col("c_st")).as("n_s"))
    val n = ns.agg(sum(col("n_s")).as("n"))
    val ps = col("c_st").cast("double") / col("n_s")
    val p = col("c_t").cast("double") / col("n")
    st.join(ct, Seq("token")).join(ns, Seq("source")).crossJoin(broadcast(n))
      .groupBy("source")
      .agg(max(col("n_s")).as("n_tokens"),
        round(sum(ps * log(ps / p)), 6).as("kl"))
      .orderBy("source")
  }

  /** Sketch-based cardinality next to ground truth: per source, the
    * HLL++ estimate (`approx_count_distinct`, the mergeable sketch that
    * replaces exact distinct at 100 TB) beside the exact distinct token
    * count. The ≤5% relative-error contract is spec-gated. Oracle-checked since
    * round 10: in the linear-counting regime the HLL++ estimate replays
    * exactly from the xxhash64 register indices (see the oracle entry).
    */
  def sketchCounts(spark: SparkSession, dir: String): DataFrame =
    TextStats.tokenRows(table(spark, dir, "documents"), "source")
      .groupBy("source")
      .agg(countDistinct(col("token")).as("exact"),
        approx_count_distinct(col("token"), rsd = 0.02).as("estimate"))
      .orderBy("source")

  /** CMS accuracy knob for [[approxHeavyHitters]]: estimates overshoot
    * true counts by at most eps·N tokens w.p. `cmsConfidence` — ~2.7 KB
    * of sketch per depth row at 1e-4, constant regardless of corpus size.
    */
  val cmsEps = 1e-4
  val cmsConfidence = 0.99

  /** Heavy hitters through the SKETCH path, next to the exact aggregate —
    * the q_sketch_counts exact-vs-estimate contract applied to top-k.
    * At 100 TB the exact top-k still pays a vocabulary-sized shuffle
    * (mitigated by map-side combine); the count-min sketch replaces it
    * with ONE shuffle-free pass (`stat.countMinSketch` runs a
    * treeAggregate of fixed-size mergeable sketches) and answers any
    * token's count in O(depth). Output: the exact top-20 with both
    * counts side by side. Oracle-checked since round 10
    * ([[approxHeavyHittersOracleSql]] replays the sketch's double-hash
    * bucketing); the counters are order-independent sums, so the merged
    * sketch is layout-invariant. The 20-row collect is bounded output,
    * not corpus data — the established index-build pattern.
    */
  def approxHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tok = TextStats.tokenRows(table(spark, dir, "documents"))
    val cms = tok.stat.countMinSketch(col("token"), eps = cmsEps,
      confidence = cmsConfidence, seed = 42)
    heavyHitters(spark, dir).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), cms.estimateCount(r.getString(0))))
      .toDF("token", "cnt", "cnt_est")
  }

  /** Per-document character-distribution Shannon entropy (nats, round-6)
    * — the gibberish/binary-junk detector of the quality-filter family:
    * natural text sits in a narrow entropy band, base64 blobs and
    * repeated-char padding fall far outside it. One codegen'd per-row
    * expression ([[graft.functions.CharEntropy]]) — ZERO shuffle, where
    * the explode/groupBy/join reference form moved one row per corpus
    * CHARACTER through an exchange (bit-matched to it, round-6, in
    * CorpusQueriesSpec). Empty documents are excluded on BOTH engines:
    * Spark's `split('', '')` yields [''] while DuckDB's `string_split`
    * yields [] — the one edge where the two explode references diverge.
    */
  def charEntropy(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        length(col("text")).cast("bigint").as("n_chars_split"),
        round(graft.functions.CharEntropy.charEntropy(col("text")), 6)
          .as("entropy"))
      .orderBy("doc_id")

  /** DuckDB replay of [[approxHeavyHitters]]'s count-min sketch: Spark's
    * `stat.countMinSketch` buckets a string item with the Guava
    * double-hash scheme — h1 = Murmur3_x86_32(bytes, 0), h2 =
    * Murmur3_x86_32(bytes, h1), bucket_i = bitflip-if-negative(h1 + i·h2)
    * mod width for rows i = 1..depth — and estimates as the min of the
    * depth bucket sums ([[graft.llm.DuckXxh.murmur32]] provides the hash;
    * hypothesis confirmed value-for-value against the engine's output
    * before landing). width = ceil(2/eps), depth =
    * ceil(-ln(1-confidence)/ln 2), per CountMinSketch.create — the sketch
    * table itself is a (row, bucket) GROUP BY, order-independent exactly
    * like the mergeable sketch. The sketch seed does not enter the
    * string/binary path.
    */
  private def approxHeavyHittersOracleSql(): String = {
    val width = math.ceil(2 / cmsEps).toInt
    val depth = math.ceil(-math.log(1 - cmsConfidence) / math.log(2)).toInt
    val h1 = DuckXxh.murmur32("token", "CAST(0 AS UBIGINT)")
    val h2 = DuckXxh.murmur32("token", "h1")
    s"""WITH tok AS MATERIALIZED (
       |  SELECT t AS token, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS t FROM documents)
       |  GROUP BY t),
       |t1 AS MATERIALIZED (
       |  SELECT token, cnt, $h1 AS h1 FROM tok),
       |t2 AS MATERIALIZED (
       |  SELECT token, cnt, h1, $h2 AS h2 FROM t1),
       |bkt AS MATERIALIZED (
       |  SELECT token, cnt, i,
       |    CAST((CASE WHEN c >= 2147483648 THEN 4294967295 - c ELSE c END)
       |         % $width AS BIGINT) AS bucket
       |  FROM (
       |    SELECT token, cnt, r.i,
       |      CAST((CAST(h1 AS HUGEINT) + r.i * CAST(h2 AS HUGEINT))
       |           % 4294967296 AS UBIGINT) AS c
       |    FROM t2 CROSS JOIN range(1, ${depth + 1}) r(i))),
       |tbl AS MATERIALIZED (
       |  SELECT i, bucket, sum(cnt) AS bsum FROM bkt GROUP BY i, bucket),
       |est AS MATERIALIZED (
       |  SELECT b.token, CAST(min(t.bsum) AS BIGINT) AS cnt_est
       |  FROM bkt b JOIN tbl t ON t.i = b.i AND t.bucket = b.bucket
       |  GROUP BY b.token)
       |SELECT c.token, c.cnt, e.cnt_est
       |FROM tok c JOIN est e USING (token)
       |ORDER BY c.cnt DESC, c.token
       |LIMIT 20""".stripMargin
  }

  val queries: Seq[QueryDef] = Seq(
    QueryDef("q_char_entropy", charEntropy, Some(
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents WHERE length(text) > 0),
        |c AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch),
        |t AS (SELECT doc_id, sum(c) AS len FROM c GROUP BY doc_id)
        |SELECT c.doc_id, CAST(max(t.len) AS BIGINT) AS n_chars_split,
        |  round(-sum((CAST(c.c AS DOUBLE) / t.len) *
        |        ln(CAST(c.c AS DOUBLE) / t.len)), 6) AS entropy
        |FROM c JOIN t USING (doc_id)
        |GROUP BY c.doc_id
        |ORDER BY c.doc_id""".stripMargin)),

    QueryDef("q_collocations", collocations, Some(
      s"""WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |uni AS (SELECT token, count(*) AS uc FROM tok GROUP BY token),
        |ut AS (SELECT sum(uc) AS utot FROM uni),
        |bg AS (
        |  SELECT unnest(list_transform(range(1, len(string_split(text, ' '))),
        |    i -> string_split(text, ' ')[i] || ' ' ||
        |         string_split(text, ' ')[i+1])) AS g
        |  FROM documents),
        |big AS (
        |  SELECT g, count(*) AS bc FROM bg GROUP BY g
        |  HAVING count(*) >= $collocMinCount),
        |bt AS (SELECT count(*) AS btot FROM bg),
        |s AS (
        |  SELECT big.g, big.bc,
        |    round(ln((CAST(big.bc AS DOUBLE) / bt.btot) /
        |      ((CAST(u1.uc AS DOUBLE) / ut.utot) *
        |       (CAST(u2.uc AS DOUBLE) / ut.utot))), 6) AS pmi
        |  FROM big
        |  JOIN uni u1 ON u1.token = split_part(big.g, ' ', 1)
        |  JOIN uni u2 ON u2.token = split_part(big.g, ' ', 2)
        |  CROSS JOIN bt CROSS JOIN ut)
        |SELECT g, bc, pmi FROM s
        |ORDER BY pmi DESC, g
        |LIMIT 10""".stripMargin)),

    QueryDef("q_zipf_slope", zipfSlope, Some(
      s"""WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |uni AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
        |head AS (
        |  SELECT token, c FROM uni ORDER BY c DESC, token LIMIT $zipfHeadK),
        |rk AS (
        |  SELECT c, row_number() OVER (ORDER BY c DESC, token) AS rk
        |  FROM head),
        |l AS (
        |  SELECT ln(CAST(rk AS DOUBLE)) AS lr, ln(CAST(c AS DOUBLE)) AS lf
        |  FROM rk),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_head,
        |    covar_pop(lr, lf) AS cv, var_pop(lr) AS vr
        |  FROM l)
        |SELECT n_head,
        |  round(CASE WHEN vr IS NULL OR vr = 0 THEN 'NaN'::DOUBLE
        |        ELSE cv / vr END, 6) AS slope
        |FROM a""".stripMargin)),

    QueryDef("q_bpe_pairs", bpePairs, Some(
      """WITH t AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |f AS (SELECT token, count(*) AS c FROM t GROUP BY token),
        |p AS (
        |  SELECT CASE WHEN len(token) >= 2
        |    THEN list_transform(range(1, len(token)), i -> substr(token, i, 2))
        |    ELSE CAST([] AS VARCHAR[]) END AS pr, c
        |  FROM f),
        |e AS (SELECT unnest(pr) AS pair, c FROM p),
        |g AS (SELECT pair, CAST(sum(c) AS BIGINT) AS cnt FROM e GROUP BY pair)
        |SELECT pair, cnt FROM g
        |ORDER BY cnt DESC, pair
        |LIMIT 10""".stripMargin)),

    QueryDef("q_bpe_learn", bpeLearn, Some(bpeLearnOracleSql(bpeMerges)),
      eager = true),
    QueryDef("q_bpe_vocab", bpeVocab,
      Some(bpeVocabOracleSql(bpeMerges, bpeVocabTopK)), eager = true),

    QueryDef("q_quality_mix", qualityMix, Some(
      s"""WITH ${OracleSql.qualityCounts},
        |q AS (
        |  SELECT ${OracleSql.qualityMicro} AS q,
        |         t
        |  FROM c)
        |SELECT CAST(q // 250000 AS BIGINT) AS band,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(t) AS BIGINT) AS tokens
        |FROM q
        |GROUP BY band
        |ORDER BY band""".stripMargin)),

    QueryDef("q_gopher_rules", gopherRules, Some(
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CASE WHEN len(toks) = 0 THEN 0
        |      ELSE CAST((1000000 * CAST(list_sum(list_transform(toks,
        |             x -> len(x))) AS BIGINT)) // len(toks) AS BIGINT)
        |    END AS mean_len_micro,
        |    CAST(len(list_filter(toks,
        |      x -> list_contains(['the', 'a', 'and', 'of'], x)))
        |      AS BIGINT) AS stop_hits
        |  FROM t)
        |SELECT doc_id, n_tokens, mean_len_micro, stop_hits,
        |  CAST(n_tokens < 50 AS BIGINT) AS flag_short,
        |  CAST(mean_len_micro < 3000000 OR mean_len_micro > 10000000
        |       AS BIGINT) AS flag_meanlen,
        |  CAST(stop_hits < 2 AS BIGINT) AS flag_stop,
        |  CAST(n_tokens >= 50 AND mean_len_micro >= 3000000
        |       AND mean_len_micro <= 10000000 AND stop_hits >= 2
        |       AS BIGINT) AS keep
        |FROM m
        |ORDER BY doc_id""".stripMargin)),

    QueryDef("q_heavy_hitters", heavyHitters, Some(
      """WITH t AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY token)
        |SELECT token, cnt FROM c
        |ORDER BY cnt DESC, token
        |LIMIT 20""".stripMargin)),

    QueryDef("q_approx_heavy_hitters", approxHeavyHitters,
      Some(approxHeavyHittersOracleSql()), eager = true),

    // HLL++ replay in the linear-counting regime: Spark's
    // approx_count_distinct(rsd=0.02) is p=12 (m=4096 registers), register
    // index = xxhash64(token, seed 42) >>> 52, and at this corpus's
    // cardinality the estimator always takes the linear-counting branch
    // H = round(m·ln(m/V)) with V = zero registers = m − |distinct idx|.
    // Both the idx derivation and the ROUNDING (Math.round, not truncate)
    // were confirmed against the engine, including a register-collision
    // case (65 distinct values → 64 registers → estimate 65). A corpus
    // drift past the LC regime fails loudly, never silently.
    QueryDef("q_sketch_counts", sketchCounts, Some {
      val xxh = graft.llm.DuckXxh.xxh64("t")
      s"""WITH tok AS MATERIALIZED (
         |  SELECT source, unnest(string_split(text, ' ')) AS t
         |  FROM documents WHERE text IS NOT NULL),
         |d AS MATERIALIZED (SELECT DISTINCT source, t FROM tok),
         |vh AS MATERIALIZED (
         |  SELECT t, $xxh AS h FROM (SELECT DISTINCT t FROM d)),
         |idxs AS MATERIALIZED (
         |  SELECT DISTINCT source, (h >> 52) AS idx FROM d JOIN vh USING (t)),
         |v AS (SELECT source, 4096 - count(*) AS zreg FROM idxs GROUP BY source),
         |ex AS (SELECT source, CAST(count(*) AS BIGINT) AS exact
         |       FROM d GROUP BY source)
         |SELECT ex.source, ex.exact,
         |  CAST(round(4096 * ln(4096.0 / v.zreg)) AS BIGINT) AS estimate
         |FROM ex JOIN v USING (source)
         |ORDER BY source""".stripMargin
    }),

    QueryDef("q_unigram_logprob", unigramLogprob, Some(
      s"""WITH ${OracleSql.tokenTable("tok")},
        |freq AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        |tot AS (SELECT count(*) AS total FROM tok)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(sum(ln(CAST(freq.cnt AS DOUBLE) / tot.total)) / count(*), 6)
        |    AS avg_logprob
        |FROM tok JOIN freq USING (token) CROSS JOIN tot
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin)),

    QueryDef("q_chunk_dupes", chunkDupes, Some(
      s"""WITH ${OracleSql.chunkRows},
        |h AS (
        |  SELECT doc_id,
        |    md5(array_to_string(
        |      ${OracleSql.chunkTokens}, ' '))
        |      AS chunk_md5
        |  FROM c)
        |SELECT chunk_md5,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_chunks
        |FROM h GROUP BY chunk_md5
        |HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_docs DESC, n_chunks DESC, chunk_md5
        |LIMIT 50""".stripMargin)),

    QueryDef("q_chunk_docs", chunkDocs, Some(
      s"""WITH ${OracleSql.chunkRows},
        |s AS (
        |  SELECT doc_id, chunk_id, chunk_id * $ChunkStride AS start_tok,
        |    ${OracleSql.chunkTokens} AS ch
        |  FROM c)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(start_tok AS BIGINT) AS start_tok,
        |  CAST(len(ch) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(ch, ' ')) AS chunk_md5
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin)),

    QueryDef("q_curriculum_order", curriculumOrder, Some(
      s"""WITH bi AS (
        |  SELECT source,
        |    row_number() OVER (ORDER BY source) - 1 AS bi
        |  FROM (SELECT DISTINCT source FROM documents)),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bi),
        |${OracleSql.md5Draw("documents", "source", "doc_id")}
        |SELECT CAST((r.rk - 1) * nb.n + bi.bi AS BIGINT) AS pos,
        |       r.source, r.doc_id
        |FROM r JOIN bi USING (source) CROSS JOIN nb
        |ORDER BY pos LIMIT 100""".stripMargin), eager = true),

    QueryDef("q_temperature_mix", temperatureMixDocs, Some(
      s"""WITH n AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY source),
        |w AS (
        |  SELECT source, n,
        |    CAST(floor(sqrt(n) * 1000000) AS BIGINT) AS wm FROM n),
        |t AS (SELECT CAST(sum(wm) AS HUGEINT) AS tw FROM w),
        |a AS (
        |  SELECT source,
        |    least(n, CAST((CAST(2000 AS HUGEINT) * wm) // tw AS BIGINT))
        |      AS alloc
        |  FROM w, t),
        |${OracleSql.md5Draw("documents", "source", "doc_id")}
        |SELECT r.source, CAST(rk AS BIGINT) AS rk, doc_id
        |FROM r JOIN a USING (source) WHERE rk <= alloc
        |ORDER BY source, rk""".stripMargin), eager = true),

    QueryDef("q_bm25_rank", bm25Rank, Some(
      s"""WITH ${OracleSql.tokenTable("tok")},
        |dl AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
        |  FROM tok GROUP BY doc_id),
        |st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(dl) AS BIGINT) AS tot FROM dl),
        |tf AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM tok WHERE token IN ('query', 'window', 'scan')
        |  GROUP BY doc_id, token),
        |dfr AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS df
        |  FROM tf GROUP BY token),
        |sc AS (
        |  SELECT tf.doc_id,
        |    ln((st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5) + 1.0) *
        |    (tf.tf * (1.2 + 1.0) /
        |     (tf.tf + 1.2 * ((1.0 - 0.75) +
        |      0.75 * dl.dl / (CAST(st.tot AS DOUBLE) / st.n_docs)))) AS s
        |  FROM tf JOIN dfr USING (token) JOIN dl USING (doc_id)
        |       CROSS JOIN st)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        |       round(sum(s), 6) AS score
        |FROM sc GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    QueryDef("q_inverted_index", invertedIndex, Some(
      s"""WITH ${OracleSql.tokenTable("tok")},
        |pd AS (
        |  SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf
        |  FROM tok GROUP BY token, doc_id),
        |bt AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS df,
        |    CAST(sum(tf) AS BIGINT) AS tf_total,
        |    array_to_string(list_transform(
        |      list_sort(list(struct_pack(d := doc_id, tf := tf)))[1:10],
        |      x -> x.d || ':' || x.tf), ',') AS postings
        |  FROM pd GROUP BY token)
        |SELECT token, df, tf_total, postings
        |FROM bt ORDER BY df DESC, token LIMIT 200""".stripMargin)),

    QueryDef("q_source_overlap", sourceOverlap, Some(
      s"""WITH sh AS (
        |  SELECT source,
        |    ${OracleSql.wordTrigrams} AS grams
        |  FROM documents),
        |ex AS (SELECT DISTINCT source, unnest(grams) AS g FROM sh),
        |tot AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS tot
        |  FROM ex GROUP BY source),
        |c AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(count(*) AS BIGINT) AS shared
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT c.src_a, c.src_b, c.shared,
        |  CAST((1000000 * c.shared) // least(ta.tot, tb.tot) AS BIGINT)
        |    AS overlap_micro
        |FROM c JOIN tot ta ON ta.source = c.src_a
        |       JOIN tot tb ON tb.source = c.src_b
        |ORDER BY src_a, src_b""".stripMargin)),

    QueryDef("q_interdoc_dup", interDocDupFraction, Some(
      s"""WITH ${OracleSql.distinctTrigrams},
        |ex AS (SELECT doc_id, unnest(grams) AS g FROM sh),
        |f AS (SELECT g, count(*) AS df FROM ex GROUP BY g),
        |agg AS (
        |  SELECT ex.doc_id,
        |    CAST(count(*) AS BIGINT) AS tot,
        |    CAST(count(*) FILTER (WHERE f.df > 1) AS BIGINT) AS dup
        |  FROM ex JOIN f USING (g) GROUP BY ex.doc_id)
        |SELECT sh.doc_id,
        |  COALESCE(agg.tot, 0) AS n_shingles,
        |  CASE WHEN COALESCE(agg.tot, 0) = 0 THEN 0
        |    ELSE CAST((1000000 * agg.dup) // agg.tot AS BIGINT)
        |  END AS interdup_micro
        |FROM sh LEFT JOIN agg ON sh.doc_id = agg.doc_id
        |ORDER BY sh.doc_id""".stripMargin)),

    QueryDef("q_pii_redact", piiRedact, Some(
      """WITH s AS (
        |  SELECT doc_id,
        |    text || ' user' || CAST(doc_id AS VARCHAR) || '@mail.com' ||
        |    CASE WHEN doc_id % 3 = 0
        |      THEN ' alt' || CAST(doc_id AS VARCHAR) || '@ex.org' ELSE '' END ||
        |    CASE WHEN doc_id % 2 = 0
        |      THEN ' 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN ' +14155550' || CAST(doc_id % 1000 AS VARCHAR) ELSE '' END
        |      AS synth
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(synth, '[a-z0-9]+@[a-z]+\.[a-z]+'))
        |       AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(synth,
        |       '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(synth, '\+[0-9]{8,}')) AS BIGINT)
        |       AS n_phones,
        |  md5(regexp_replace(regexp_replace(regexp_replace(synth,
        |    '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
        |    '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+', '<IP>', 'g'),
        |    '\+[0-9]{8,}', '<PHONE>', 'g')) AS red_fp
        |FROM s
        |ORDER BY doc_id""".stripMargin)),

    QueryDef("q_hash_sample", hashSample, Some(
      s"""WITH ${OracleSql.md5Draw("documents", "source", "doc_id")}
        |SELECT source, rk, doc_id FROM r WHERE rk <= 10
        |ORDER BY source, rk""".stripMargin)),

    QueryDef("q_cooccur_pairs", cooccurPairs, Some(
      s"""WITH ${OracleSql.tokenTable("dt0")},
        |dt AS (SELECT DISTINCT doc_id, token FROM dt0),
        |topf AS (
        |  SELECT token, count(*) AS df FROM dt GROUP BY token
        |  ORDER BY df DESC, token ASC LIMIT 50),
        |ft AS (SELECT dt.doc_id, dt.token, topf.df
        |       FROM dt JOIN topf USING (token)),
        |p AS (
        |  SELECT a.token AS tok_a, b.token AS tok_b,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    max(a.df) AS df_a, max(b.df) AS df_b
        |  FROM ft a JOIN ft b
        |    ON a.doc_id = b.doc_id AND a.token < b.token
        |  GROUP BY tok_a, tok_b),
        |tot AS (SELECT count(*) AS n FROM documents)
        |SELECT tok_a, tok_b, n_docs,
        |  round((CAST(n_docs AS DOUBLE) * CAST(n AS DOUBLE)) /
        |        (CAST(df_a AS DOUBLE) * CAST(df_b AS DOUBLE)), 6) AS lift
        |FROM p CROSS JOIN tot
        |ORDER BY n_docs DESC, tok_a, tok_b
        |LIMIT 20""".stripMargin)),

    QueryDef("q_weighted_sample", weightedSampleDocs, Some(
      """WITH d AS (
        |  SELECT source, doc_id, n_chars,
        |    -ln((CAST(concat('0x',
        |          substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |        + 1) / 4294967296.0)
        |      / CAST(n_chars AS DOUBLE) AS es_key
        |  FROM documents WHERE n_chars > 0),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY es_key, doc_id) AS rk
        |  FROM d)
        |SELECT source, rk, doc_id, n_chars, round(es_key, 9) AS es_key
        |FROM r WHERE rk <= 10
        |ORDER BY source, rk""".stripMargin)),

    QueryDef("q_dup_spans", dupSpans, Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) >= 3 THEN range(1, len(t) - 1)
        |      ELSE CAST([] AS BIGINT[]) END AS sps,
        |    CASE WHEN len(t) >= 3
        |      THEN list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |      ELSE CAST([] AS VARCHAR[]) END AS gs
        |  FROM toks),
        |ex AS (SELECT doc_id, unnest(sps) AS sp, unnest(gs) AS g FROM sh),
        |dupg AS (
        |  SELECT g FROM (SELECT DISTINCT doc_id, g FROM ex)
        |  GROUP BY g HAVING count(*) > 1),
        |cov0 AS (
        |  SELECT doc_id, unnest(range(sp, sp + 3)) AS p
        |  FROM ex JOIN dupg USING (g)),
        |cov AS (SELECT DISTINCT doc_id, p FROM cov0),
        |isl AS (
        |  SELECT doc_id, p,
        |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS g0
        |  FROM cov),
        |runs AS (SELECT doc_id, g0, count(*) AS run_len
        |         FROM isl GROUP BY doc_id, g0),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_runs,
        |    CAST(sum(run_len) AS BIGINT) AS dup_tokens,
        |    CAST(max(run_len) AS BIGINT) AS max_run
        |  FROM runs GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CAST(len(t.t) AS BIGINT) AS n_tokens,
        |  COALESCE(agg.dup_tokens, 0) AS dup_tokens,
        |  COALESCE(agg.n_runs, 0) AS n_runs,
        |  COALESCE(agg.max_run, 0) AS max_run,
        |  CAST((1000000 * COALESCE(agg.dup_tokens, 0)) // CAST(len(t.t) AS BIGINT)
        |    AS BIGINT) AS dupspan_micro
        |FROM toks t LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    QueryDef("q_bigram_logprob", bigramLogprob, Some(
      """WITH bg AS (
        |  SELECT doc_id,
        |    list_transform(range(1, len(string_split(text, ' '))),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |           string_split(text, ' ')[i+1]) AS l
        |  FROM documents),
        |ex AS (SELECT doc_id, unnest(l) AS g FROM bg),
        |freq AS (SELECT g, count(*) AS cnt FROM ex GROUP BY g),
        |pt AS (
        |  SELECT split_part(g, ' ', 1) AS w1, sum(cnt) AS ptot
        |  FROM freq GROUP BY w1),
        |p AS (
        |  SELECT g, ln(CAST(cnt AS DOUBLE) / ptot) AS lp
        |  FROM freq JOIN pt ON split_part(freq.g, ' ', 1) = pt.w1),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    round(sum(lp) / count(*), 6) AS avg_logprob
        |  FROM ex JOIN p USING (g) GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(agg.n_bigrams, 0) AS n_bigrams,
        |  agg.avg_logprob
        |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    QueryDef("q_source_kl", sourceKl, Some(
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |st AS (
        |  SELECT source, token, count(*) AS c_st FROM tok GROUP BY 1, 2),
        |ct AS (SELECT token, sum(c_st) AS c_t FROM st GROUP BY token),
        |ns AS (SELECT source, sum(c_st) AS n_s FROM st GROUP BY source),
        |n AS (SELECT sum(c_st) AS n FROM st)
        |SELECT st.source, CAST(max(ns.n_s) AS BIGINT) AS n_tokens,
        |  round(sum((CAST(c_st AS DOUBLE) / n_s) *
        |    ln((CAST(c_st AS DOUBLE) / n_s) / (CAST(c_t AS DOUBLE) / n))), 6)
        |    AS kl
        |FROM st JOIN ct USING (token) JOIN ns USING (source) CROSS JOIN n
        |GROUP BY st.source
        |ORDER BY st.source""".stripMargin), eager = true),

    QueryDef("q_source_vocab", sourceVocab, Some(
      """WITH tok AS (
        |  SELECT source, doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents)
        |SELECT source,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT token) AS BIGINT) AS n_vocab,
        |  CAST((1000000 * count(DISTINCT token)) // count(*) AS BIGINT)
        |    AS ttr_micro
        |FROM tok
        |GROUP BY source
        |ORDER BY source""".stripMargin)),

    QueryDef("q_seq_pack", seqPack, Some(
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n,
        |    COALESCE(sum(n) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS before
        |  FROM d)
        |SELECT source, CAST(before // 2048 AS BIGINT) AS bin_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS bin_tokens
        |FROM c
        |GROUP BY source, bin_id
        |ORDER BY source, bin_id""".stripMargin))
  )
}
