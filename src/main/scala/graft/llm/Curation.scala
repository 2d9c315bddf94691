package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Checkpoints, QueryDef}
import graft.Tables.table

/** Corpus-curation operators a production pretraining pipeline runs after
  * filtering/dedup: per-domain caps, robust (winsorized) statistics, and
  * target-distribution importance weighting (DSIR-style). The reference's
  * value_counts/groupby habits (crime.py:33,62) motivate the shapes; the
  * operators themselves are the 100 TB extension the brief commissions.
  *
  * Scale notes are per-operator; the common rule: frames keyed by an
  * unbounded key (token, doc) are never broadcast-hinted — only frames
  * bounded by SCHEMA (the 1-row totals, the per-event-type bounds) are.
  */
object Curation {

  /** Max documents retained per source in [[sourceCap]]. */
  val capPerSource = 10

  /** Per-source document cap — the "domain cap" every web-scale corpus
    * applies so one crawl domain cannot dominate the mixture (C4 and
    * Gopher both cap per-domain page counts). Keep the top-[[capPerSource]]
    * documents per source by length (n_chars DESC), doc_id as the
    * deterministic tiebreak.
    *
    * Scale: `row_number` over (source) partitions is the one window shape
    * that IS 100 TB-safe — state is bounded by the cap, and Spark's
    * WindowGroupLimit optimization pushes the `rk <= k` filter into a
    * per-input-partition top-k heap BEFORE the exchange, so the shuffle
    * carries at most k rows per source per input partition, never the
    * full corpus. (Contrast the corpus-global vocab windows this engine
    * deliberately rewrote away in round 4.)
    */
  def sourceCap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= capPerSource)
      .select("doc_id", "source", "n_chars")
      .orderBy("source", "doc_id")
  }

  /** Winsorized per-type statistics of the event stream: clamp `value`
    * to its within-type [p05, p95] (discrete percentiles — raw column
    * elements, so cross-engine parity is exact) and report the clamped
    * mean next to the bounds. The robust-mean form quality dashboards
    * use so a single corrupt measurement cannot move the aggregate.
    *
    * Scale: percentile_disc is an exact sort-based aggregate — fine here
    * because it is grouped by event_type, whose cardinality is bounded
    * by the event taxonomy (a schema property, not a data property; at
    * 100 TB swap in the sketch path, [[winsorizedStatsApprox]] below —
    * the same exact-vs-estimate contract q_sketch_counts documents for
    * counts). The 5-row bounds frame joins back broadcast.
    */
  def winsorizedStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val bounds = ev.groupBy("event_type")
      .agg(expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY value)").as("lo"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)").as("hi"))
    ev.join(broadcast(bounds), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).cast("bigint").as("n"),
        round(first(col("lo")), 6).as("lo"),
        round(first(col("hi")), 6).as("hi"),
        round(avg(least(greatest(col("value"), col("lo")), col("hi"))), 6)
          .as("wmean"))
      .orderBy("event_type")
  }

  /** Sketch accuracy for [[winsorizedStatsApprox]]: bounds land within
    * 1/accuracy of the true rank. */
  val winsorAccuracy = 10000

  /** The SKETCH path of [[winsorizedStats]] — the variant a 100 TB run
    * actually deploys when the group key is NOT schema-bounded (per-domain
    * winsorization over millions of domains): `approx_percentile`
    * (Greenwald-Khanna) replaces the exact sort-based percentile, so the
    * bounds aggregate is one mergeable-sketch pass with bounded memory
    * per group instead of a per-group sort. Same downstream clamp + mean.
    *
    * Estimate-vs-exact is the q_sketch_counts contract: rows-only for the
    * driver (sketch merge order isn't an oracle-reproducible quantity);
    * CurationSpec gates the divergence against [[winsorizedStats]] — at
    * accuracy [[winsorAccuracy]] the rank error is ≤ n/accuracy, which at
    * the test SFs means the bounds are raw column elements at most a few
    * ranks from the exact ones.
    */
  def winsorizedStatsApprox(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val bounds = ev.groupBy("event_type")
      .agg(
        percentile_approx(col("value"), lit(0.05), lit(winsorAccuracy)).as("lo"),
        percentile_approx(col("value"), lit(0.95), lit(winsorAccuracy)).as("hi"))
    ev.join(broadcast(bounds), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).cast("bigint").as("n"),
        round(first(col("lo")), 6).as("lo"),
        round(first(col("hi")), 6).as("hi"),
        round(avg(least(greatest(col("value"), col("lo")), col("hi"))), 6)
          .as("wmean"))
      .orderBy("event_type")
  }

  /** Target source whose unigram distribution [[importanceWeights]]
    * up-weights, and the result size. */
  val importanceTarget = "src0"
  val importanceTopK = 100

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — public arXiv
    * 2302.03169): score every out-of-target document by the mean
    * per-token log-likelihood ratio between a TARGET unigram LM (built
    * from the `src0` slice) and the CORPUS unigram LM, add-1 smoothed
    * over the corpus vocabulary so target-OOV tokens stay finite; keep
    * the top-[[importanceTopK]]. High scores = documents that look like
    * the target distribution — the standard recipe for selecting
    * web-crawl documents that resemble a curated corpus.
    *
    * Scale: two token-keyed aggregates (corpus LM, target LM) and one
    * token-keyed join back — all shuffle on `token` and are deliberately
    * NOT broadcast-hinted (Heaps-law unbounded vocabulary; AQE broadcasts
    * at bench SF, shuffles at web scale — the bigramLogprob contract).
    * The three scalar totals ride one broadcast 1-row frame. The final
    * top-k is orderBy+limit → TakeOrderedAndProject (per-partition heaps,
    * no global sort).
    */
  def importanceWeights(spark: SparkSession, dir: String): DataFrame = {
    val tok = TextStats.tokenRows(table(spark, dir, "documents"),
      "doc_id", "source")
    // ONE corpus tokenize pass feeds every LM input: the (source, token)
    // aggregate (the sourceKl pattern) is read by cfreq, tfreq, the t_tot
    // probe and the scoring join, whose differing pushed filters defeat
    // ReuseExchange. All derived values are exact integer counts.
    val st = Checkpoints.checkpoint(tok.groupBy("source", "token")
      .agg(count(lit(1)).as("cnt")))
    val cfreq = st.groupBy("token").agg(sum(col("cnt")).as("c_cnt"))
    val tfreq = st.filter(col("source") === importanceTarget)
      .groupBy("token").agg(sum(col("cnt")).as("t_cnt"))
    val totals = cfreq.agg(sum(col("c_cnt")).as("c_tot"),
      count(lit(1)).as("vocab"))
      .crossJoin(tfreq.agg(
        coalesce(sum(col("t_cnt")), lit(0L)).as("t_tot")))
    val scored = tok.filter(col("source") =!= importanceTarget)
      .join(cfreq, Seq("token"))
      .join(tfreq, Seq("token"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        (log((coalesce(col("t_cnt"), lit(0L)) + lit(1)).cast("double") /
             (col("t_tot") + col("vocab"))) -
         log((col("c_cnt") + lit(1)).cast("double") /
             (col("c_tot") + col("vocab")))).as("llr"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("bigint").as("n_tokens"),
        round(sum(col("llr")) / count(lit(1)), 6).as("llr"))
    scored.orderBy(col("llr").desc, col("doc_id").asc)
      .limit(importanceTopK)
  }

  val queries: Seq[QueryDef] = Seq(
    QueryDef("q_source_cap", sourceCap, Some(
      s"""SELECT doc_id, source, n_chars FROM (
         |  SELECT doc_id, source, n_chars,
         |    row_number() OVER (PARTITION BY source
         |                       ORDER BY n_chars DESC, doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= $capPerSource
         |ORDER BY source, doc_id""".stripMargin)),

    QueryDef("q_winsorized_stats", winsorizedStats, Some(
      """WITH ev AS (
        |  SELECT event_type, value FROM events WHERE value IS NOT NULL),
        |b AS (
        |  SELECT event_type,
        |    quantile_disc(value, 0.05) AS lo,
        |    quantile_disc(value, 0.95) AS hi
        |  FROM ev GROUP BY event_type)
        |SELECT ev.event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(b.lo, 6) AS lo,
        |  round(b.hi, 6) AS hi,
        |  round(avg(least(greatest(ev.value, b.lo), b.hi)), 6) AS wmean
        |FROM ev JOIN b USING (event_type)
        |GROUP BY ev.event_type, b.lo, b.hi
        |ORDER BY event_type""".stripMargin)),

    QueryDef("q_importance_weights", importanceWeights, Some(
      s"""WITH tok AS (
         |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
         |  FROM documents),
         |cfreq AS (SELECT token, count(*) AS c_cnt FROM tok GROUP BY token),
         |tfreq AS (SELECT token, count(*) AS t_cnt FROM tok
         |          WHERE source = '$importanceTarget' GROUP BY token),
         |tots AS (SELECT
         |    (SELECT count(*) FROM tok) AS c_tot,
         |    (SELECT count(*) FROM cfreq) AS vocab,
         |    (SELECT count(*) FROM tok
         |     WHERE source = '$importanceTarget') AS t_tot)
         |SELECT t.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_tokens,
         |  round(sum(
         |      ln((COALESCE(tf.t_cnt, 0) + 1.0) / (tots.t_tot + tots.vocab))
         |    - ln((cf.c_cnt + 1.0) / (tots.c_tot + tots.vocab))
         |  ) / count(*), 6) AS llr
         |FROM tok t
         |JOIN cfreq cf USING (token)
         |LEFT JOIN tfreq tf USING (token)
         |CROSS JOIN tots
         |WHERE t.source <> '$importanceTarget'
         |GROUP BY t.doc_id
         |ORDER BY llr DESC, doc_id
         |LIMIT $importanceTopK""".stripMargin), eager = true),

    QueryDef("q_winsorized_approx", winsorizedStatsApprox)
  )
}
