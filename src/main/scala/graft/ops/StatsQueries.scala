package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Tables.table

/** Harness wiring for the statistics operators (A7/A8/F4). */
object StatsQueries {

  private val liCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** A7 (crime.py:42,53): full Pearson matrix in long form. */
  def corrMatrix(spark: SparkSession, dir: String): DataFrame =
    Stats.corrMatrix(table(spark, dir, "lineitem"), liCols)
      .orderBy("col_a", "col_b")

  /** A8 (crime.py:51-52): features most correlated with the target. */
  def topCorrelated(spark: SparkSession, dir: String): DataFrame =
    Stats.topCorrelated(table(spark, dir, "lineitem"), liCols,
      target = "l_extendedprice", k = 3)

  /** F4 (crime.py:184,203): np.argmax over an array column. */
  def argmaxEmbedding(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")
      .select(col("vec_id"), Stats.argmax(col("embedding")).as("arg_max"))
      .orderBy("vec_id")

  /** Exact discrete percentiles per group (no interpolation arithmetic —
    * the selected values are raw column elements, so parity is exact).
    */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)")
             .as("p50"),
           expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY o_totalprice)")
             .as("p95"),
           min(col("o_totalprice")).as("lo"),
           max(col("o_totalprice")).as("hi"))
      .orderBy("o_orderpriority")

  /** Inter-event dwell-time percentiles per event type — the latency
    * distribution behind "how long until users act again", the
    * conversion-latency cousin of q_percentiles. Dwell = exact micro
    * gap to the user's NEXT event (lead over the per-user sort, O(1)
    * window state); percentiles are exact discrete over the per-type
    * dwell population — integer inputs, so engine parity is free. The
    * grouped-sort cost argument is the q_percentiles/winsorize one:
    * exact over the schema-bounded event taxonomy, approx_percentile
    * swap-in at domain-cardinality keys.
    */
  def dwellPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    table(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts"), unix_micros(col("ts")).as("us"))
      .withColumn("dwell_us", lead(col("us"), 1).over(w) - col("us"))
      .filter(col("dwell_us").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).cast("bigint").as("n"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dwell_us)")
          .cast("bigint").as("p50_us"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY dwell_us)")
          .cast("bigint").as("p90_us"),
        expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY dwell_us)")
          .cast("bigint").as("p99_us"))
      .orderBy("event_type")
  }

  /** Signup→purchase conversion latency: per user, the exact micro gap
    * from FIRST signup to the first purchase at-or-after it, then the
    * population's discrete p50/p90 and conversion count — the funnel
    * family's "how long", next to funnel_steps' "how many". Two keyed
    * min-aggregates and one join — no window, no range join: "first
    * purchase after signup" is min(purchase_us ≥ signup_us) under the
    * conditional aggregate, not an as-of pairing per event.
    */
  def funnelTime(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("us")).as("s_us"))
    val latency = ev.filter(col("event_type") === "purchase")
      .join(signup, "user_id")
      .groupBy("user_id")
      .agg(min(when(col("us") >= col("s_us"), col("us") - col("s_us")))
        .as("latency_us"))
      .filter(col("latency_us").isNotNull)
    latency.agg(count(lit(1)).cast("bigint").as("n_converted"),
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY latency_us)")
        .cast("bigint").as("p50_us"),
      expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY latency_us)")
        .cast("bigint").as("p90_us"))
  }

  /** Hourly resample of the event stream with dense gap fill. */
  def resampleHourly(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.resampleCounts(table(spark, dir, "events"),
        tsCol = "ts", keyCol = "event_type", bucketSeconds = 3600L)
      .orderBy("k", "bucket")

  /** As-of enrichment: each error event picks up the value of the same
    * user's most recent click at-or-before it.
    */
  def asofClicks(spark: SparkSession, dir: String): DataFrame = {
    val events = table(spark, dir, "events")
    val errors = events.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("tie"),
        col("value").as("click_value"))
    TimeSeries.asofJoin(errors, clicks, keyCol = "user_id",
        leftTs = "ts", rightTs = "ts", rightValCols = Seq("click_value"),
        rightTieBreak = "tie")
      .select("event_id", "click_value")
      .orderBy("event_id")
  }

  /** Benford first-digit profile of order totals — the data-quality
    * screen for fabricated or truncated numeric columns: observed count
    * and exact ppm share per leading digit, next to the Benford
    * expectation log10(1+1/d) in micro-units. All integer arithmetic
    * except the expectation constants (pure literals, identical in both
    * engines).
    */
  def benfordDigits(spark: SparkSession, dir: String): DataFrame = {
    val tot = table(spark, dir, "orders")
      .filter(col("o_totalprice") >= 1.0)
      .select(substring(floor(col("o_totalprice")).cast("string"), 1, 1)
        .cast("bigint").as("digit"))
    val n = tot.groupBy("digit").agg(count(lit(1)).as("cnt"))
    val grand = n.agg(sum(col("cnt")).as("tot"))
    n.crossJoin(broadcast(grand))
      .select(col("digit"), col("cnt").cast("bigint").as("cnt"),
        // Dec variant: cnt is ROW-sized; the Long product 1e6*cnt crosses
        // 2^63 past ~9.2e12 rows (the microRatio ceiling)
        graft.llm.TextStats.microRatioDec(col("cnt"), col("tot"))
          .as("share_micro"),
        floor(lit(1000000.0) * log(10.0, lit(1.0) + lit(1.0) / col("digit")))
          .cast("bigint").as("benford_micro"))
      .orderBy("digit")
  }

  /** Finite-window EWMA of each user's event values in time order
    * (α=0.5 over the last 8 events) — the exponential-smoothing signal
    * monitoring pipelines keep per entity. Both engines fold the same
    * ≤8-element frame left-to-right, so the sums are bit-identical
    * before the round.
    */
  def ewmaValues(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.ewma(
        table(spark, dir, "events").filter(col("value").isNotNull),
        keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
        valCol = "value", alpha = 0.5, span = 8)
      .select("event_id", "ewma")
      .orderBy("event_id")

  /** Robust outlier screen per event type: median / MAD instead of
    * mean / stddev — the z-score family member that a single corrupted
    * value cannot drag (mean and stddev both have breakdown point 0; the
    * median pair survives 50% contamination). Outlier rule is the
    * standard modified z-score |x - med| > 3.5 · 1.4826 · MAD (1.4826
    * scales MAD to σ under normality). Percentiles are the exact
    * DISCRETE ones ([[percentiles]]' parity contract — selected values
    * are raw column elements, no interpolation arithmetic), and the
    * threshold multiply is ordered (3.5 · 1.4826) · MAD in both engines
    * so the boundary comparison sees bit-identical doubles. Shape at
    * scale: two grouped exact percentiles + one counting pass, all
    * shuffling on the schema-bounded event_type key; the per-group
    * medians frame is tiny, so joining it back is a broadcast.
    */
  def robustZscore(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val med = ev.groupBy("event_type")
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
        .as("med"))
    val withMed = ev.join(broadcast(med), Seq("event_type"))
    val mad = withMed.groupBy("event_type")
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(value - med))")
        .as("mad"))
    withMed.join(broadcast(mad), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).cast("bigint").as("n"),
        round(max(col("med")), 6).as("med"),
        round(max(col("mad")), 6).as("mad"),
        sum(when(abs(col("value") - col("med")) >
          (lit(3.5) * lit(1.4826)) * col("mad"), 1L).otherwise(0L))
          .cast("bigint").as("n_outliers"))
      .orderBy("event_type")
  }

  /** ANALYZE-style column profile of the orders table (long form). */
  def tableProfile(spark: SparkSession, dir: String): DataFrame =
    Profile.tableProfile(table(spark, dir, "orders"),
        Seq("o_orderstatus", "o_orderpriority", "o_custkey"))
      .orderBy("column")

  /** Fixed-width value histogram of event values (bucket ids, not
    * engine-rounded bin edges — integer-exact in any engine).
    */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame =
    Profile.histogram(table(spark, dir, "events"), col("value"), width = 25.0)
      .orderBy("bucket")

  /** Mergeable HLL sketch cube — the pre-aggregated distinct-count
    * pattern a 100 TB deployment actually runs: per-day Datasketches HLL
    * sketches of the user set (4 KiB each at lgK=12), merged at QUERY
    * time via `hll_union_agg` into the global distinct estimate, no
    * rescan of the raw data. This is what `approx_count_distinct`
    * (q_sketch_counts) cannot do — its sketch never surfaces, so partial
    * results can't be stored-and-merged across days/partitions.
    *
    * Output: one row per day (estimate + exact sibling) plus a
    * `__merged__` row whose estimate comes ONLY from unioning the daily
    * sketches. Rows-only by nature (DuckDB carries a different sketch);
    * HllSketchSpec gates the error contract (≤5% per day, ≤2% global)
    * and the mergeability identity: union-of-dailies == one-shot global
    * sketch, bit-exact (HLL register max is insertion-order invariant).
    * The exact `countDistinct` siblings are the verification arm and
    * would be dropped at scale — the estimate IS the product.
    */
  def hllSketchCube(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val daily = ev.groupBy("day")
      .agg(hll_sketch_agg(col("user_id"), 12).as("sk"),
        countDistinct(col("user_id")).as("exact_users"))
    val perDay = daily.select(col("day").cast("string").as("key"),
      hll_sketch_estimate(col("sk")).cast("bigint").as("est_users"),
      col("exact_users").cast("bigint").as("exact_users"))
    val mergedRow = daily
      .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
        .cast("bigint").as("est_users"))
      .crossJoin(broadcast(
        ev.agg(countDistinct(col("user_id")).cast("bigint")
          .as("exact_users"))))
      .select(lit("__merged__").as("key"), col("est_users"),
        col("exact_users"))
    perDay.unionByName(mergedRow).orderBy("key")
  }

  /** Key-skew diagnosis — the report you read BEFORE choosing a salting
    * factor or AQE skew threshold: per analyzed key column, the exact
    * Gini coefficient of the key-count distribution plus the top-1 /
    * top-5 key shares (micro-units). Gini from the sorted-rank identity
    * G = (2·Σi·cᵢ − (n+1)·Σcᵢ) / (n·Σcᵢ) — all-integer arithmetic, so
    * both engines emit identical numerators before one floor division.
    *
    * Scale: everything runs over the POST-AGGREGATION key-count frame
    * (domain-sized, not data-sized). The rank windows need a total order
    * of that frame per column — the honest cost of an exact Gini; at
    * billion-key domains the swap-in is binning the counts first (the
    * winsorize argument), since Gini is insensitive to within-bin order.
    */
  private val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)

  def skewReport(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    def keyCounts(c: String) = ev
      .groupBy(col(c).cast("string").as("key"))
      .agg(count(lit(1)).as("c")).withColumn("col", lit(c))
    val kc = keyCounts("user_id").unionByName(keyCounts("event_type"))
    val wAsc = org.apache.spark.sql.expressions.Window
      .partitionBy("col").orderBy(col("c"), col("key"))
    val wDesc = org.apache.spark.sql.expressions.Window
      .partitionBy("col").orderBy(desc("c"), desc("key"))
    val ranked = kc
      .withColumn("i", row_number().over(wAsc).cast("long"))
      .withColumn("rd", row_number().over(wDesc).cast("long"))
    ranked.groupBy("col")
      .agg(count(lit(1)).cast("bigint").as("n_keys"),
        sum(col("c")).cast("bigint").as("total"),
        sum(col("i") * col("c")).cast("bigint").as("__s1"),
        max(col("c")).cast("bigint").as("__cmax"),
        sum(when(col("rd") <= 5L, col("c")).otherwise(0L)).cast("bigint")
          .as("__top5"))
      // decimal micro-ratios, not the long form: the gini numerator is
      // O(n_keys·total) and ×1e6 overflows Long past ~9.2e12 key·row
      // products (billion-key corpora are this query's stated target);
      // the oracle computes in HUGEINT, so the long form would diverge
      // exactly where the report matters. The num/den PRODUCTS are built
      // in decimal too — at extreme key·row scale even the un-scaled
      // Long products wrap before the ratio is taken
      .select(col("col"), col("n_keys"), col("total"),
        graft.llm.TextStats.microRatioDec(
          lit(2L).cast(dec38) * col("__s1").cast(dec38) -
            (col("n_keys").cast(dec38) + lit(1L).cast(dec38)) *
              col("total").cast(dec38),
          col("n_keys").cast(dec38) * col("total").cast(dec38))
          .as("gini_micro"),
        graft.llm.TextStats.microRatioDec(col("__cmax"), col("total"))
          .as("top1_micro"),
        graft.llm.TextStats.microRatioDec(col("__top5"), col("total"))
          .as("top5_micro"))
      .orderBy("col")
  }

  private def corrPair(a: String, b: String): String =
    s"SELECT '$a' AS col_a, '$b' AS col_b, round(corr($a, $b), 6) AS corr FROM lineitem"

  private def profileArm(c: String): String =
    s"""SELECT '$c' AS "column", count(*) AS n_rows, count($c) AS n_non_null,
       |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
       |  CAST(min($c) AS VARCHAR) AS min_val,
       |  CAST(max($c) AS VARCHAR) AS max_val
       |FROM orders""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef("q_skew_report", skewReport, Some(
      """WITH kc AS (
        |  SELECT 'user_id' AS col, CAST(user_id AS VARCHAR) AS key,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY key
        |  UNION ALL
        |  SELECT 'event_type', event_type, CAST(count(*) AS BIGINT)
        |  FROM events GROUP BY event_type),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY col ORDER BY c, key) AS i,
        |    row_number() OVER (PARTITION BY col
        |      ORDER BY c DESC, key DESC) AS rd
        |  FROM kc),
        |a AS (
        |  SELECT col, CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(c) AS BIGINT) AS total,
        |    CAST(sum(i * c) AS BIGINT) AS s1,
        |    CAST(max(c) AS BIGINT) AS cmax,
        |    CAST(sum(CASE WHEN rd <= 5 THEN c ELSE 0 END) AS BIGINT)
        |      AS top5
        |  FROM r GROUP BY col)
        |SELECT col, n_keys, total,
        |  CAST((1000000 * (2 * s1 - (n_keys + 1) * total))
        |       // (n_keys * total) AS BIGINT) AS gini_micro,
        |  CAST((1000000 * cmax) // total AS BIGINT) AS top1_micro,
        |  CAST((1000000 * top5) // total AS BIGINT) AS top5_micro
        |FROM a ORDER BY col""".stripMargin)),

    QueryDef("q_table_profile", tableProfile, Some(
      Seq("o_orderstatus", "o_orderpriority", "o_custkey").map(profileArm)
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\""))),

    QueryDef("q_value_histogram", valueHistogram, Some(
      """SELECT CAST(floor(value / 25.0) AS BIGINT) AS bucket, count(*) AS n
        |FROM events
        |WHERE value IS NOT NULL
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin)),

    QueryDef("q_corr_matrix", corrMatrix, Some(
      (for { a <- liCols; b <- liCols } yield corrPair(a, b))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_a, col_b"))),

    QueryDef("q_top_correlated", topCorrelated, Some(
      s"""WITH m AS (
         |${liCols.filter(_ != "l_extendedprice")
             .map(c => corrPair("l_extendedprice", c)).mkString("\nUNION ALL\n")})
         |SELECT col_b AS feature, corr FROM m
         |ORDER BY corr DESC, feature ASC
         |LIMIT 3""".stripMargin)),

    QueryDef("q_argmax_embedding", argmaxEmbedding, Some(
      """SELECT vec_id,
        |  CAST(list_indexof(embedding, list_max(embedding)) - 1 AS BIGINT) AS arg_max
        |FROM embeddings
        |ORDER BY vec_id""".stripMargin)),

    QueryDef("q_funnel_time", funnelTime, Some(
      """WITH s AS (
        |  SELECT user_id, min(epoch_us(ts)) AS s_us
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |l AS (
        |  SELECT e.user_id,
        |    min(CASE WHEN epoch_us(e.ts) >= s.s_us
        |             THEN epoch_us(e.ts) - s.s_us END) AS latency_us
        |  FROM events e JOIN s USING (user_id)
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY e.user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |  CAST(quantile_disc(latency_us, 0.5) AS BIGINT) AS p50_us,
        |  CAST(quantile_disc(latency_us, 0.9) AS BIGINT) AS p90_us
        |FROM l WHERE latency_us IS NOT NULL""".stripMargin)),

    QueryDef("q_dwell_percentiles", dwellPercentiles, Some(
      """WITH d AS (
        |  SELECT event_type,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) - epoch_us(ts) AS dwell_us
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(quantile_disc(dwell_us, 0.5) AS BIGINT) AS p50_us,
        |  CAST(quantile_disc(dwell_us, 0.9) AS BIGINT) AS p90_us,
        |  CAST(quantile_disc(dwell_us, 0.99) AS BIGINT) AS p99_us
        |FROM d WHERE dwell_us IS NOT NULL
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    QueryDef("q_percentiles", percentiles, Some(
      """SELECT o_orderpriority,
        |  quantile_disc(o_totalprice, 0.5) AS p50,
        |  quantile_disc(o_totalprice, 0.95) AS p95,
        |  min(o_totalprice) AS lo,
        |  max(o_totalprice) AS hi
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    QueryDef("q_resample_hourly", resampleHourly, Some(
      """WITH agg AS (
        |  SELECT event_type AS k,
        |    CAST(epoch_us(ts) // 1000000 -
        |         (epoch_us(ts) // 1000000) % 3600 AS BIGINT) AS bucket,
        |    count(*) AS n
        |  FROM events GROUP BY k, bucket),
        |bounds AS (SELECT k, min(bucket) AS lo, max(bucket) AS hi
        |           FROM agg GROUP BY k),
        |spine AS (SELECT k, unnest(generate_series(lo, hi, 3600)) AS bucket
        |          FROM bounds)
        |SELECT s.k AS k, s.bucket AS bucket, COALESCE(a.n, 0) AS n
        |FROM spine s LEFT JOIN agg a USING (k, bucket)
        |ORDER BY k, bucket""".stripMargin)),

    QueryDef("q_benford_digits", benfordDigits, Some(
      """WITH d AS (
        |  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders WHERE o_totalprice >= 1.0),
        |n AS (SELECT digit, CAST(count(*) AS BIGINT) AS cnt
        |      FROM d GROUP BY digit),
        |g AS (SELECT sum(cnt) AS tot FROM n)
        |SELECT digit, cnt,
        |  CAST((1000000 * cnt) // tot AS BIGINT) AS share_micro,
        |  CAST(floor(1000000.0 * log10(1.0 + 1.0 / digit)) AS BIGINT)
        |    AS benford_micro
        |FROM n CROSS JOIN g
        |ORDER BY digit""".stripMargin)),

    QueryDef("q_ewma_values", ewmaValues, Some(
      """WITH ev AS (
        |  SELECT event_id, user_id, ts, value
        |  FROM events WHERE value IS NOT NULL),
        |w AS (
        |  SELECT event_id,
        |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS win
        |  FROM ev)
        |SELECT event_id,
        |  round(
        |    list_sum(list_transform(range(len(win)),
        |      i -> win[i+1] * pow(0.5, len(win)-1-i))) /
        |    list_sum(list_transform(range(len(win)),
        |      i -> pow(0.5, len(win)-1-i))), 6) AS ewma
        |FROM w
        |ORDER BY event_id""".stripMargin)),

    QueryDef("q_robust_zscore", robustZscore, Some(
      """WITH ev AS (
        |  SELECT event_type, value FROM events WHERE value IS NOT NULL),
        |med AS (
        |  SELECT event_type, quantile_disc(value, 0.5) AS med
        |  FROM ev GROUP BY event_type),
        |mad AS (
        |  SELECT ev.event_type, quantile_disc(abs(value - med), 0.5) AS mad
        |  FROM ev JOIN med USING (event_type)
        |  GROUP BY ev.event_type),
        |j AS (
        |  SELECT ev.event_type, value, med.med, mad.mad
        |  FROM ev JOIN med USING (event_type) JOIN mad USING (event_type))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(max(med), 6) AS med, round(max(mad), 6) AS mad,
        |  CAST(count(*) FILTER (WHERE abs(value - med) >
        |    (3.5 * 1.4826) * mad) AS BIGINT) AS n_outliers
        |FROM j
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    QueryDef("q_asof_clicks", asofClicks, Some(
      // the clicks side pre-dedupes (user_id, ts) ties to the max-event_id
      // row: the Spark side's rightTieBreak resolves same-instant clicks
      // deterministically (running last() over asc __tie = max event_id
      // wins), while a plain ASOF JOIN leaves the winner unspecified —
      // without this the contract is under-specified on tied data even
      // though the current fixtures happen to have no (user_id, ts) dups
      """SELECT e.event_id AS event_id, c.value AS click_value
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'error') e
        |ASOF LEFT JOIN (SELECT user_id, ts, arg_max(value, event_id) AS value
        |                FROM events WHERE event_type = 'click'
        |                GROUP BY user_id, ts) c
        |  ON e.user_id = c.user_id AND c.ts <= e.ts
        |ORDER BY event_id""".stripMargin)),

    QueryDef("q_hll_cube", hllSketchCube)
  )
}
