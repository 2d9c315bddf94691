package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Tables.table

/** Event-analytics operators: cohort retention, equi-depth histogram,
  * daily-volume anomaly detection, Markov transitions, and PageRank over
  * the transition graph. All oracle-checked — including PageRank: with
  * dangling mass redistributed each round the iteration is a pure
  * function of the edge table, so the oracle unrolls the 10 rounds as
  * chained CTEs (generated below, one d/c/r block per round).
  */
object EventQueries {

  /** Cohort retention: users bucketed by first-active day, activity
    * counted by day offset from that cohort day — the classic retention
    * triangle. Shape at scale: ONE user-keyed exchange — collect_set(day)
    * per user (map-side partial merge dedups locally, per-user state is
    * calendar-bounded, never event-row-sized), cohort day = array_min of
    * the same set, offsets by exploding it. Round 22: this replaces the
    * former distinct (user, day) shuffle + separate per-user min
    * aggregate + user-keyed join — three user-keyed exchanges → one,
    * identical output. Events with a null user_id or ts belong to no
    * user-day and are dropped, here and in the oracle. Events load via
    * [[graft.Tables.table]] (the nanosecond-timestamp parquet trap).
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val perUser = table(spark, dir, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy("user_id").agg(collect_set(col("day")).as("ds"))
      .select(array_min(col("ds")).as("cohort_day"), explode(col("ds")).as("day"))
    perUser
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("bigint").as("day_offset"))
      .agg(count(lit(1)).as("users")) // set-exploded rows = distinct (user, day)
      .orderBy("cohort_day", "day_offset")
  }

  /** Equi-depth (decile) histogram over event values: boundaries from one
    * exact percentile_disc aggregate, bucket assignment by broadcast
    * compare, then a per-bucket count/min/max aggregate. Deliberately NOT
    * ntile: a global ntile is a single-partition sort, which dies at
    * corpus scale; boundary-compare keeps every stage distributed (the
    * boundary row is 9 doubles, broadcast). Ties sit in the lowest
    * qualifying bucket in both engines (percentile_disc picks actual data
    * values, `<=` compare on both sides).
    */
  def equidepthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .filter(col("value").isNotNull)
    val boundCols = (1 to 9).map(i =>
      expr(s"percentile_disc(0.${i}) WITHIN GROUP (ORDER BY value)")
        .as(s"b$i"))
    val bounds = ev.agg(boundCols.head, boundCols.tail: _*)
    // build the when-chain inside-out (b9 first) so the finished chain
    // tests b1 outermost: the SMALLEST qualifying bucket wins
    val bucket = (9 to 1 by -1).foldLeft(lit(10): org.apache.spark.sql.Column) {
      (acc, i) => when(col("value") <= col(s"b$i"), lit(i)).otherwise(acc)
    }
    ev.crossJoin(broadcast(bounds))
      .select(col("value"), bucket.cast("bigint").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), min(col("value")).as("lo"),
        max(col("value")).as("hi"))
      .orderBy("bucket")
  }

  /** Daily-volume anomaly detection: per event type, flag days whose
    * count z-score (vs that type's daily mean/stddev) exceeds 2. The
    * stats frame is type-cardinality-sized (broadcast); the z pass is
    * per-row. Zero-variance types degrade to NaN z / flag 0 instead of
    * tripping ANSI division-by-zero (the Spark 4 trap). Transcendental-
    * free but merge-order-dependent (stddev), so z is round-6 — the
    * established portability contract for moment statistics.
    */
  def anomalyDays(spark: SparkSession, dir: String): DataFrame = {
    val daily = table(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
    val stats = daily.groupBy("event_type")
      .agg(avg(col("n")).as("mu"), stddev_samp(col("n")).as("sd"))
    daily.join(broadcast(stats), Seq("event_type"))
      .withColumn("z", round(
        when(col("sd").isNull || col("sd") === 0.0, lit(Double.NaN))
          .otherwise((col("n") - col("mu")) / col("sd")), 6))
      .withColumn("is_anomaly",
        when(isnan(col("z")), lit(0L))
          .otherwise((abs(col("z")) > 2.0).cast("bigint")))
      .select("event_type", "day", "n", "z", "is_anomaly")
      .orderBy("event_type", "day")
  }

  /** Per-type linear TREND of daily event volume — closed-form OLS via
    * the engine's regression aggregates (`regr_slope`/`regr_intercept`,
    * single-pass co-moments): the "is this metric growing or decaying,
    * and how fast" companion to [[anomalyDays]]' level screen and
    * [[cusumAlarms]]' step detector. Runs over the POST-AGGREGATION
    * daily frame (|days| rows per type), never the raw events; x is
    * epoch-day so both engines regress on identical integers. Round-6
    * absorbs the co-moment merge-order ulps (the q_corr_matrix
    * contract).
    */
  def trendSlope(spark: SparkSession, dir: String): DataFrame = {
    val daily = table(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
    daily
      .select(col("event_type"),
        datediff(col("day"), lit(java.sql.Date.valueOf("1970-01-01")))
          .cast("double").as("x"),
        col("n").cast("double").as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).cast("bigint").as("n_days"),
        round(expr("regr_slope(y, x)"), 6).as("slope"),
        round(expr("regr_intercept(y, x)"), 6).as("intercept"))
      .orderBy("event_type")
  }

  /** One-sided CUSUM change-point detection over the daily volume of
    * each event type — the standard sequential drift detector (Page
    * 1954): S_t = max(0, S_{t-1} + (x_t − μ − slack)), alarm when S_t
    * crosses h. The recursion is NOT window-expressible directly, but
    * has the classic closed form S_t = C_t − min(0, min_{k≤t} C_k)
    * over the cumulative sum C of deviations — two window functions
    * (running sum + running min), both per-type over the POST-AGGREGATION
    * daily frame (|days| rows per type, bounded), never the raw events.
    *
    * All arithmetic is integer micro-units (μ floored to micro) — no
    * float enters the pipeline, so the statistic is engine-exact with no
    * rounding contract needed.
    */
  def cusumAlarms(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val slackMicro = 2000000L // slack of 2 events/day
    val hMicro = 10000000L    // alarm threshold: 10 cumulative excess events
    val daily = table(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
    val mu = daily.groupBy("event_type")
      .agg(sum(col("n")).as("sn"), count(lit(1)).as("cn"))
      // integer `div`, not `/`+floor: the double quotient can round up
      // across an integer boundary before the floor; the 1e6·Σn product
      // runs in DECIMAL(38,0) — Σn is EVENT-sized and the Long form
      // crosses 2^63 past ~9.2e12 events per type. The result (1e6 ×
      // mean daily volume) and the downstream cum/s arithmetic stay in
      // Long range for any per-type-day volume below ~9.2e12.
      .select(col("event_type"),
        expr("CAST(1000000 AS DECIMAL(38,0)) * sn DIV cn").as("mu_micro"))
    daily.join(broadcast(mu), Seq("event_type"))
      .withColumn("d", col("n") * 1000000L - col("mu_micro") - slackMicro)
      .withColumn("cum", sum(col("d")).over(w))
      .withColumn("s",
        col("cum") - least(min(col("cum")).over(w), lit(0L)))
      .groupBy("event_type")
      .agg(max(col("s")).as("max_s_micro"),
        sum((col("s") > hMicro).cast("bigint")).as("n_alarm_days"),
        min(when(col("s") > hMicro, col("day"))).as("first_alarm_day"))
      .orderBy("event_type")
  }

  /** First-order Markov transitions over each user's event sequence:
    * counts and exact micro-unit conditional probabilities
    * p(next | prev) — the event-stream analog of the corpus bigram LM
    * (session modeling, next-action prediction features). One lag window
    * per user, two bounded aggregates; ties in ts break on event_id so
    * the sequence — and therefore the answer — is total-order
    * deterministic.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = table(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
    val cnt = pairs
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("cnt"))
    val tot = cnt.groupBy("prev_type").agg(sum(col("cnt")).as("tot"))
    cnt.join(tot, Seq("prev_type"))
      // Dec variant: cnt is EVENT-sized (one dominant transition pair can
      // pass Long.MaxValue/1e6 ≈ 9.2e12 at the 1e13-event target scale)
      .withColumn("p_micro",
        graft.llm.TextStats.microRatioDec(col("cnt"), col("tot")))
      .select("prev_type", "next_type", "cnt", "p_micro")
      .orderBy("prev_type", "next_type")
  }

  /** PageRank over the event-transition graph. Node importance for
    * session modeling — which event types anchor user journeys. Exact
    * small-graph fixed-point values are spec-gated in GraphSpec, and the
    * full query is oracle-checked against a DuckDB unroll of the same
    * rounds (see [[pageRankOracleSql]]) — possible because the dangling
    * fix makes each round a deterministic function of (edges, ranks).
    */
  def transitionPageRank(spark: SparkSession, dir: String): DataFrame =
    Graph.pageRank(
        eventTransitions(spark, dir)
          .select(col("prev_type").as("src"), col("next_type").as("dst"),
            col("cnt").as("weight")))
      .select(col("node"), round(col("rank"), 6).as("rank"))
      .orderBy("node")

  /** Exponentially-decayed event counts — the trending/monitoring metric:
    * each event contributes exp(−λ·Δt) of a count at the corpus horizon
    * (Δt back from max ts, λ = ln2/3600 → 1-hour half-life), so recent
    * activity dominates and stale mass fades smoothly. The decayed form
    * of A1's value_counts (crime.py:33).
    *
    * Scale: per-row arithmetic + one group aggregate — no window, no
    * self-join; the 1-row horizon frame is broadcast. In a streaming
    * deployment the same quantity folds incrementally (decayed counters
    * are mergeable: scale both sides to a shared horizon and add), which
    * is why this is THE standard trending metric at scale. Exponent
    * inputs are exact integer second differences, so both engines
    * evaluate exp() on identical doubles; the sum's merge-order noise
    * (~1e-12 relative) is absorbed by round-6 — same contract as the LM
    * family.
    */
  def decayedCounts(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .select(col("event_type"), unix_timestamp(col("ts")).as("sec"))
    val horizon = ev.agg(max(col("sec")).as("h"))
    ev.crossJoin(broadcast(horizon))
      .groupBy("event_type")
      .agg(count(lit(1)).cast("bigint").as("n"),
        round(sum(exp((col("sec") - col("h")).cast("double") *
          (math.log(2.0) / 3600.0))), 6).as("decayed"))
      .orderBy("event_type")
  }

  /** SCD2 validity intervals from a change stream: consecutive same-type
    * runs per user collapse into (state, valid_from, valid_to) rows — the
    * slowly-changing-dimension build every warehouse ingest performs, and
    * the point-in-time shape the as-of join consumes. Gaps-and-islands:
    * lag() marks state changes, a running sum of the change flags numbers
    * the islands, one groupBy collapses each island, lead() over the
    * POST-AGG island frame closes the intervals (NULL = current row).
    *
    * Scale: two windows over the raw events share one (user_id, ts,
    * event_id) sort and carry O(1) state; the lead() window runs over the
    * already-collapsed island frame. Everything partitions by user_id —
    * state is bounded by one user's history, never the table. Interval
    * bounds are exact epoch MICROS (the data's native resolution), so
    * both engines emit identical integers.
    */
  def scd2Intervals(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val flagged = table(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"),
        unix_micros(col("ts")).as("us"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w) === col("event_type"), 0L)
          .otherwise(1L))
      .withColumn("seq", sum(col("chg")).over(w))
    val islands = flagged.groupBy(col("user_id"), col("seq"))
      .agg(min(col("event_type")).as("state"),
        min(col("us")).as("valid_from"),
        count(lit(1)).cast("bigint").as("n_events"))
    val wi = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("seq")
    islands
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wi))
      .select(col("user_id"), col("seq"), col("state"), col("valid_from"),
        col("valid_to"), col("n_events"))
      .orderBy("user_id", "seq")
  }

  /** First/last-touch conversion attribution: every purchase credited to
    * the first and the most recent PRECEDING click by the same user,
    * with the click→purchase latency — the marketing-analytics join the
    * funnel family doesn't answer (funnel asks "did the path complete",
    * attribution asks "which touch gets the credit").
    *
    * Shape: one per-user window, frame UNBOUNDED PRECEDING → 1 PRECEDING,
    * first/last with ignoreNulls over click-conditional columns — running
    * state is O(1) per user, no self-join against the click table (the
    * naive formulation is a range join purchase×click; this is the same
    * answer in one sort). Purchases with no prior click keep NULL credit
    * rows — the unattributed bucket a real dashboard must surface.
    */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val clickId = when(col("event_type") === "click", col("event_id"))
    val clickUs = when(col("event_type") === "click", col("us"))
    table(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"),
        unix_micros(col("ts")).as("us"))
      .withColumn("first_touch", first(clickId, ignoreNulls = true).over(w))
      .withColumn("last_touch", last(clickId, ignoreNulls = true).over(w))
      .withColumn("last_click_us", last(clickUs, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("first_touch"), col("last_touch"),
        (col("us") - col("last_click_us")).as("latency_us"))
      .orderBy("purchase_id")
  }

  /** New-vs-returning daily split — the growth dashboard's first chart:
    * per day, how many active users were seen for the FIRST time that
    * day vs returning. Two keyed aggregates: first-active day per user
    * (min over the user key), then distinct (user, day) activity tagged
    * against it. No window at all — "first day" is a min, not a rank.
    */
  def newVsReturning(spark: SparkSession, dir: String): DataFrame = {
    val act = table(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val firstDay = act.groupBy("user_id").agg(min(col("day")).as("first_day"))
    act.join(firstDay, "user_id")
      .groupBy("day")
      .agg(sum((col("day") === col("first_day")).cast("long"))
          .cast("bigint").as("new_users"),
        sum((col("day") =!= col("first_day")).cast("long"))
          .cast("bigint").as("returning_users"))
      .select(col("day").cast("string").as("day"), col("new_users"),
        col("returning_users"))
      .orderBy("day")
  }

  /** DuckDB unroll of [[Graph.pageRank]]'s damped rounds over the
    * transition graph: one (dangling-mass, contribution, rank) CTE block
    * per round, chained. Arithmetic mirrors the Spark side op-for-op —
    * (1−d)/n + d·(in_mass + dmass/n) in double precision — so the only
    * cross-engine divergence is summation order (~1e-15), absorbed by the
    * round-6 contract.
    */
  private def pageRankOracleSql: String = {
    val (iters, damping) = (Graph.PageRankIters, Graph.PageRankDamping)
    // every CTE is AS MATERIALIZED: DuckDB inlines plain CTEs, and each
    // round references r{i-1} twice (dangling mass + contributions) — an
    // inlined chain re-evaluates the transition window 2^iters times
    val rounds = (1 to iters).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT COALESCE(sum(r.rank), 0.0) AS dm
         |  FROM r${i - 1} r JOIN dang USING (node)),
         |c$i AS MATERIALIZED (
         |  SELECT norm.dst AS node, sum(r.rank * norm.p) AS in_mass
         |  FROM norm JOIN r${i - 1} r ON norm.src = r.node
         |  GROUP BY norm.dst),
         |r$i AS MATERIALIZED (
         |  SELECT nodes.node,
         |    (1 - $damping) / nn.n +
         |      $damping * (COALESCE(c$i.in_mass, 0.0) + d$i.dm / nn.n) AS rank
         |  FROM nodes LEFT JOIN c$i USING (node) CROSS JOIN d$i CROSS JOIN nn)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH pv AS MATERIALIZED (
       |  SELECT lag(event_type) OVER (PARTITION BY user_id
       |           ORDER BY ts, event_id) AS prev_type,
       |         event_type AS next_type
       |  FROM events),
       |edges AS MATERIALIZED (
       |  SELECT prev_type AS src, next_type AS dst,
       |    CAST(count(*) AS BIGINT) AS weight
       |  FROM pv WHERE prev_type IS NOT NULL
       |  GROUP BY prev_type, next_type),
       |nodes AS MATERIALIZED (
       |  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |outs AS (SELECT src, sum(weight) AS wout FROM edges GROUP BY src),
       |norm AS MATERIALIZED (
       |  SELECT e.src, e.dst,
       |    CAST(e.weight AS DOUBLE) / CAST(o.wout AS DOUBLE) AS p
       |  FROM edges e JOIN outs o USING (src)),
       |dang AS MATERIALIZED (
       |  SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM edges)),
       |r0 AS MATERIALIZED (
       |  SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
       |$rounds
       |SELECT node, round(rank, 6) AS rank FROM r$iters ORDER BY node"""
      .stripMargin
  }

  val queries: Seq[QueryDef] = Seq(
    QueryDef("q_pagerank", transitionPageRank, Some(pageRankOracleSql),
      eager = true),

    QueryDef("q_new_vs_returning", newVsReturning, Some(
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS first_day FROM act
        |      GROUP BY user_id)
        |SELECT CAST(act.day AS VARCHAR) AS day,
        |  CAST(count(*) FILTER (WHERE act.day = f.first_day) AS BIGINT)
        |    AS new_users,
        |  CAST(count(*) FILTER (WHERE act.day <> f.first_day) AS BIGINT)
        |    AS returning_users
        |FROM act JOIN f USING (user_id)
        |GROUP BY act.day
        |ORDER BY day""".stripMargin)),

    QueryDef("q_attribution", attribution, Some(
      """WITH a AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
        |    first_value(CASE WHEN event_type = 'click' THEN event_id END
        |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END
        |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch,
        |    last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END
        |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_us
        |  FROM events)
        |SELECT event_id AS purchase_id, user_id, first_touch, last_touch,
        |  us - last_us AS latency_us
        |FROM a WHERE event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin)),

    QueryDef("q_scd2_intervals", scd2Intervals, Some(
      """WITH f AS (
        |  SELECT user_id, event_id, event_type, ts, epoch_us(ts) AS us,
        |    CASE WHEN lag(event_type) OVER (PARTITION BY user_id
        |             ORDER BY ts, event_id) = event_type
        |         THEN 0 ELSE 1 END AS chg
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_type, us,
        |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
        |  FROM f),
        |i AS (
        |  SELECT user_id, seq, min(event_type) AS state,
        |    min(us) AS valid_from, CAST(count(*) AS BIGINT) AS n_events
        |  FROM s GROUP BY user_id, seq)
        |SELECT user_id, CAST(seq AS BIGINT) AS seq, state,
        |  CAST(valid_from AS BIGINT) AS valid_from,
        |  CAST(lead(valid_from) OVER (PARTITION BY user_id ORDER BY seq)
        |    AS BIGINT) AS valid_to,
        |  n_events
        |FROM i ORDER BY user_id, seq""".stripMargin)),

    QueryDef("q_cusum_alarms", cusumAlarms, Some(
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY event_type, day),
        |mu AS (
        |  SELECT event_type,
        |    CAST((1000000 * sum(n)) // count(*) AS BIGINT) AS mu_micro
        |  FROM daily GROUP BY event_type),
        |dev AS (
        |  SELECT d.event_type, d.day,
        |    d.n * 1000000 - m.mu_micro - 2000000 AS dd
        |  FROM daily d JOIN mu m USING (event_type)),
        |cum AS (
        |  SELECT event_type, day,
        |    sum(dd) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM dev),
        |s AS (
        |  SELECT event_type, day,
        |    c - least(min(c) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS s
        |  FROM cum)
        |SELECT event_type,
        |  CAST(max(s) AS BIGINT) AS max_s_micro,
        |  CAST(count(*) FILTER (WHERE s > 10000000) AS BIGINT)
        |    AS n_alarm_days,
        |  min(CASE WHEN s > 10000000 THEN day END) AS first_alarm_day
        |FROM s
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    QueryDef("q_decayed_counts", decayedCounts, Some(
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(epoch_us(ts) // 1000000 AS BIGINT) AS sec
        |  FROM events),
        |h AS (SELECT max(sec) AS h FROM ev)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(exp(CAST(sec - h.h AS DOUBLE) * (ln(2) / 3600))), 6)
        |    AS decayed
        |FROM ev CROSS JOIN h
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    QueryDef("q_cohort_retention", cohortRetention, Some(
      """WITH d AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |c AS (
        |  SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id)
        |SELECT c.cohort_day,
        |  CAST(datediff('day', c.cohort_day, d.day) AS BIGINT) AS day_offset,
        |  CAST(count(*) AS BIGINT) AS users
        |FROM d JOIN c USING (user_id)
        |GROUP BY c.cohort_day, day_offset
        |ORDER BY c.cohort_day, day_offset""".stripMargin)),

    QueryDef("q_trend_slope", trendSlope, Some(
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY event_type, day)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  round(regr_slope(CAST(n AS DOUBLE),
        |    CAST(day - DATE '1970-01-01' AS DOUBLE)), 6) AS slope,
        |  round(regr_intercept(CAST(n AS DOUBLE),
        |    CAST(day - DATE '1970-01-01' AS DOUBLE)), 6) AS intercept
        |FROM d
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    QueryDef("q_anomaly_days", anomalyDays, Some(
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY event_type, day),
        |s AS (
        |  SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sd
        |  FROM d GROUP BY event_type),
        |z AS (
        |  SELECT d.event_type, d.day, d.n,
        |    round(CASE WHEN s.sd IS NULL OR s.sd = 0 THEN 'NaN'::DOUBLE
        |          ELSE (d.n - s.mu) / s.sd END, 6) AS z
        |  FROM d JOIN s USING (event_type))
        |SELECT event_type, day, n, z,
        |  CAST(CASE WHEN isnan(z) THEN 0
        |       WHEN abs(z) > 2 THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
        |FROM z
        |ORDER BY event_type, day""".stripMargin)),

    QueryDef("q_event_transitions", eventTransitions, Some(
      """WITH p AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS prev_type,
        |         event_type AS next_type
        |  FROM events),
        |c AS (
        |  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS cnt
        |  FROM p WHERE prev_type IS NOT NULL
        |  GROUP BY prev_type, next_type),
        |t AS (
        |  SELECT prev_type, sum(cnt) AS tot FROM c GROUP BY prev_type)
        |SELECT c.prev_type, c.next_type, c.cnt,
        |  CAST((1000000 * c.cnt) // t.tot AS BIGINT) AS p_micro
        |FROM c JOIN t USING (prev_type)
        |ORDER BY c.prev_type, c.next_type""".stripMargin)),

    QueryDef("q_equidepth_hist", equidepthHistogram, Some(
      """WITH b AS (
        |  SELECT quantile_disc(value, 0.1) AS b1, quantile_disc(value, 0.2) AS b2,
        |         quantile_disc(value, 0.3) AS b3, quantile_disc(value, 0.4) AS b4,
        |         quantile_disc(value, 0.5) AS b5, quantile_disc(value, 0.6) AS b6,
        |         quantile_disc(value, 0.7) AS b7, quantile_disc(value, 0.8) AS b8,
        |         quantile_disc(value, 0.9) AS b9
        |  FROM events WHERE value IS NOT NULL),
        |x AS (
        |  SELECT value,
        |    CASE WHEN value <= b1 THEN 1 WHEN value <= b2 THEN 2
        |         WHEN value <= b3 THEN 3 WHEN value <= b4 THEN 4
        |         WHEN value <= b5 THEN 5 WHEN value <= b6 THEN 6
        |         WHEN value <= b7 THEN 7 WHEN value <= b8 THEN 8
        |         WHEN value <= b9 THEN 9 ELSE 10 END AS bucket
        |  FROM events CROSS JOIN b WHERE value IS NOT NULL)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  min(value) AS lo, max(value) AS hi
        |FROM x
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin))
  )
}
