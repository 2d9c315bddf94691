package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Tables.{dec, table}

/** Relational operator surface (SURVEY.md §2.2–2.5) expressed as named
  * harness queries over the TESTDATA corpus, each paired with ANSI SQL for
  * the DuckDB oracle.
  *
  * Determinism rules (SURVEY.md §5.1, §7.4):
  *  - every query ends in a total order (order-by keys are never null);
  *  - double aggregates go through exact decimal (see [[graft.Tables.dec]])
  *    so partial-aggregation order can't change the result;
  *  - double expressions that can't be made exact (corr, stddev) are rounded
  *    to 6 digits, and z-scores use one explicit single-pass formula shared
  *    verbatim with the oracle SQL so both engines run the same IEEE ops;
  *  - pivot value lists are explicit so column sets are stable;
  *  - Spark-side casts align output types with DuckDB's natural types
  *    (year/hour → BIGINT, counts already BIGINT).
  *
  * Scale notes (the 100 TB checklist, SURVEY.md §4): group-bys here are
  * partial+final hash aggregates around a single shuffle on the group key;
  * dimension joins (region/nation) are broadcast; fact-fact joins shuffle on
  * the join key and rely on AQE for skew; every filter and projection is a
  * `Column` expression, never a closure, so pushdown and pruning reach the
  * parquet scan.
  */
object RelationalQueries {

  /** A1/A2 (crime.py:33-37,62,67): group-by count ranked descending. */
  def countsByType(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("event_type"))

  /** A3/A4 (crime.py:72-74): cross-tab with explicit pivot values. */
  def pivotStatus(spark: SparkSession, dir: String): DataFrame =
    Pivot.pivotCount(table(spark, dir, "orders"),
        rowKey = "o_orderpriority", colKey = "o_orderstatus",
        colValues = Seq("F", "O", "P"))
      .orderBy("o_orderpriority")

  /** A4 (crime.py:74): pivot reindexed by ranked row totals. */
  def pivotRanked(spark: SparkSession, dir: String): DataFrame =
    Pivot.pivotCountRanked(table(spark, dir, "orders"),
      rowKey = "o_orderpriority", colKey = "o_orderstatus",
      colValues = Seq("F", "O", "P"))

  /** Rollup totals (engine extension noted in SURVEY §2.3): grouping-set
    * aggregates with labelled totals instead of nulls, so ordering semantics
    * match the oracle exactly.
    */
  def rollupFlags(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
              coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
              col("n"))
      .orderBy("rf", "ls")

  /** Cube totals: all grouping-set combinations with labelled subtotals
    * (completes the rollup/cube/grouping-sets family).
    */
  def cubeFlags(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
              coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
              col("n"))
      .orderBy("rf", "ls")

  /** O1 (crime.py:33,52): top-k by measure — Spark fuses orderBy+limit into
    * TakeOrderedAndProject (per-partition heap + driver merge; no full sort,
    * no shuffle of the full table — the shape that survives 100 TB).
    */
  def topkOrders(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(100)

  /** F2 (crime.py:98,102): year extraction feeding an aggregate. */
  def yearOrders(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .groupBy(Timeparts.yearOf(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n"),
           sum(dec(col("o_totalprice"))).cast("double").as("total"))
      .orderBy("yr")

  /** F1 (crime.py:97,101): timestamp → date / time-of-day string columns. */
  def dateSplit(spark: SparkSession, dir: String): DataFrame =
    Timeparts.splitTimestamp(table(spark, dir, "events"), "ts")
      .select("event_id", "date_str", "time_str")
      .orderBy("event_id")

  /** Hour-of-day histogram over the event stream table. */
  def hourlyEvents(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(Timeparts.hourOf(col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"),
           sum(dec(col("value"))).cast("double").as("v"))
      .orderBy("hr")

  /** Ordered view→click→purchase conversion funnel over the event stream. */
  def funnelSteps(spark: SparkSession, dir: String): DataFrame =
    Funnel.conversionCounts(table(spark, dir, "events"),
        Seq("view", "click", "purchase"))
      .orderBy("step")

  /** P5 (crime.py:85-94): dtype-driven null imputation. Nulls are induced
    * (the corpus has none) then filled through the same na.fill path the
    * impute op uses.
    */
  def fillMissing(spark: SparkSession, dir: String): DataFrame = {
    val withNulls = table(spark, dir, "events")
      .withColumn("etype",
        when(col("event_type") === "click", lit(null)).otherwise(col("event_type")))
      .withColumn("v",
        when(col("value") > 300.0, lit(null)).otherwise(col("value")))
      .select("event_id", "etype", "v")
    Relational.imputeByDtype(withNulls)
      .groupBy("etype")
      .agg(count(lit(1)).as("n"),
           sum(dec(col("v"))).cast("double").as("v_sum"))
      .orderBy("etype")
  }

  /** P1–P3 (crime.py:40,99,123-124,127-133): drop + rename + select. */
  def selectRename(spark: SparkSession, dir: String): DataFrame = {
    val projected = Relational.dropCols(
      table(spark, dir, "customer"), "c_acctbal", "c_nationkey")
    Relational.selectCols(
      Relational.renameCols(projected,
        "c_custkey" -> "id", "c_name" -> "cust_name", "c_mktsegment" -> "segment"),
      "id", "cust_name", "segment")
      .orderBy("id")
  }

  /** F3/ML2 (crime.py:132-134,148-150): z-score standardization. Single
    * aggregate pass (exact-decimal sums) broadcast back over the table —
    * no window, no second shuffle; the formula text matches the oracle SQL
    * so the IEEE double ops are identical.
    */
  def zscoreAcctbal(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
    val stats = cust.agg(
      sum(dec(col("c_acctbal"))).cast("double").as("s"),
      sum(dec(col("c_acctbal")) * dec(col("c_acctbal"))).cast("double").as("ss"),
      count(lit(1)).cast("double").as("n"))
    // ANSI guard: a single-row or zero-variance input makes a divisor 0,
    // which is a runtime DIVIDE_BY_ZERO under Spark 4 — degenerate inputs
    // get NaN (the pandas answer), the live path is the identical formula
    val sd = sqrt((col("ss") - col("s") * col("s") / col("n")) / (col("n") - 1))
    cust.crossJoin(broadcast(stats))
      .select(col("c_custkey"),
        round(
          when(col("n") <= 1.0, lit(Double.NaN))
            .otherwise(when(sd === 0.0, lit(Double.NaN))
              .otherwise((col("c_acctbal") - col("s") / col("n")) / sd)), 6)
          .as("z"))
      .orderBy("c_custkey")
  }

  /** J (engine joins, SURVEY §2.4): customer⋈orders revenue per segment.
    * Shuffle join on the key; at sf0.1 AQE turns it into a broadcast of the
    * customer side, at 100 TB it stays a co-partitioned shuffle join.
    */
  def mktsegmentRevenue(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
    val orders = table(spark, dir, "orders")
    orders.join(cust, orders("o_custkey") === cust("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
           sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy("c_mktsegment")
  }

  /** TPC-H Q5-shaped 5-way star join: dimension tables broadcast explicitly,
    * fact joins shuffle. Region filter prunes before any join.
    */
  def regionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val region = table(spark, dir, "region").filter(col("r_name") === "ASIA")
    val nation = table(spark, dir, "nation")
    val cust = table(spark, dir, "customer")
    val orders = table(spark, dir, "orders")
    val li = table(spark, dir, "lineitem")
    li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .join(cust, orders("o_custkey") === cust("c_custkey"))
      .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(dec(col("l_extendedprice")) *
             (lit(1.0).cast("decimal(3,2)") - dec(col("l_discount"), 3, 2)))
             .cast("double").as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(desc("revenue"), asc("n_name"))
  }

  /** TPC-H Q1 shape: the canonical partial/final agg + pushed filter. */
  def q1Lineitem(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2001-06-30").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec(col("l_quantity"), 12, 2)).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) *
          (lit(1.0).cast("decimal(3,2)") - dec(col("l_discount"), 3, 2)))
          .cast("double").as("sum_disc_price"),
        sum(dec(col("l_extendedprice")) *
          (lit(1.0).cast("decimal(3,2)") - dec(col("l_discount"), 3, 2)) *
          (lit(1.0).cast("decimal(3,2)") + dec(col("l_tax"), 3, 2)))
          .cast("double").as("sum_charge"),
        (sum(dec(col("l_quantity"), 12, 2)).cast("double") / count(lit(1)))
          .as("avg_qty"),
        (sum(dec(col("l_extendedprice"))).cast("double") / count(lit(1)))
          .as("avg_price"),
        (sum(dec(col("l_discount"), 3, 2)).cast("double") / count(lit(1)))
          .as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** M1 (crime.py:158-164): melt/unpivot then aggregate the long form. */
  def unpivotMetrics(spark: SparkSession, dir: String): DataFrame =
    Pivot.melt(table(spark, dir, "lineitem")
        .select(col("l_returnflag"),
          dec(col("l_quantity"), 12, 2).as("l_quantity"),
          dec(col("l_extendedprice")).as("l_extendedprice")),
        ids = Seq("l_returnflag"), valueCols = Seq("l_quantity", "l_extendedprice"))
      .groupBy("l_returnflag", "metric")
      .agg(sum(col("value")).cast("double").as("total"))
      .orderBy("l_returnflag", "metric")

  /** Scratch dir for sink round-trips: unique per JVM so concurrent
    * sessions (Bench + Verify, parallel CI) never overwrite each other's
    * directory mid-read.
    */
  private lazy val roundtripToken =
    java.util.UUID.randomUUID().toString.take(8)
  // every scratch dir this JVM creates is deleted on exit — without the
  // hook each harness/bench run would leave fresh UUID-named orphans
  // under tmpdir forever (the UUID that prevents cross-process clobbering
  // also defeats overwrite-based reuse)
  private val scratchDirs =
    java.util.Collections.synchronizedSet(new java.util.HashSet[String]())
  private lazy val cleanupHook: Unit = {
    sys.addShutdownHook {
      scratchDirs.forEach { p =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(new java.io.File(p))
      }
    }
    ()
  }
  private def roundtripPath(kind: String, dir: String): String = {
    cleanupHook
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_${kind}_${roundtripToken}_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")).toString
    scratchDirs.add(path)
    path
  }

  /** S1 as a harness query: the orders table written to CSV (header) and
    * read back through the explicit-schema scan, then aggregated — the
    * oracle reads the original PARQUET, so a hash match proves the CSV
    * sink/scan round-trips every value (doubles via shortest-repr
    * strings, timestamps as ISO UTC, quoted strings) bit-exactly.
    */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val orders = table(spark, dir, "orders")
    val path = roundtripPath("csv_orders", dir)
    orders.write.mode("overwrite").option("header", "true").csv(path)
    val back = graft.sources.Sources.csv(spark, path, orders.schema)
    back.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
           sum(dec(col("o_totalprice"))).cast("double").as("total"))
      .orderBy("o_orderstatus")
  }

  /** S1 companion for JSON-lines: same round-trip proof as
    * [[csvRoundtrip]] through the newline-delimited-JSON sink/scan (the
    * producer-side format of the reference's streaming path).
    */
  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
    val path = roundtripPath("json_customer", dir)
    cust.write.mode("overwrite").json(path)
    val back = graft.sources.Sources.jsonLines(spark, path, cust.schema)
    back.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
           sum(dec(col("c_acctbal"))).cast("double").as("bal"))
      .orderBy("c_mktsegment")
  }

  /** S1/S8 companion for ORC — Spark's other first-class columnar
    * format: same sink→scan→aggregate proof as [[csvRoundtrip]]. The
    * oracle never reads ORC (DuckDB can't); it checks the AGGREGATE
    * against the original parquet table, which is exactly what proves
    * the round-trip lossless.
    */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val supp = table(spark, dir, "supplier")
    val path = roundtripPath("orc_supplier", dir)
    supp.write.mode("overwrite").orc(path)
    val back = spark.read.schema(supp.schema).orc(path)
    back.groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"),
           sum(dec(col("s_acctbal"))).cast("double").as("bal"))
      .orderBy("s_nationkey")
  }

  /** Fuzzy record linkage: near-identical customer names found by
    * blocking (equi-join on the name prefix — never all-pairs) + an
    * edit-distance verify (`levenshtein ≤ 2`), the blocking/verify
    * split every entity-resolution pipeline uses at scale — recall is
    * scoped to same-block pairs by construction (the standard blocking
    * trade; the oracle checks the SAME blocked semantics). Identical
    * levenshtein semantics in DuckDB make it oracle-checkable; the
    * bounded key block keeps the within-block candidate count honest for
    * the bench while the plan shape (prefix-keyed shuffle) is the 100 TB
    * path.
    */
  def fuzzyNamePairs(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
      .filter(col("c_custkey") < 500L)
      .select(col("c_custkey").as("id"), col("c_name").as("name"),
        substring(col("c_name"), 1, 16).as("blk"))
    val a = c.select(col("id").as("id_a"), col("name").as("name_a"), col("blk"))
    val b = c.select(col("id").as("id_b"), col("name").as("name_b"), col("blk"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 2)
      .select(col("id_a"), col("id_b"), col("dist").cast("bigint").as("dist"))
      .orderBy("id_a", "id_b")
  }

  /** Runtime-bloom-pruned semi join: orders from BUILDING-segment
    * customers, with non-candidate orders dropped by a broadcast bloom
    * of the customer keys before the join shuffle. Result identical to
    * the plain semi join (bloom admits false positives only), which is
    * exactly what the oracle checks.
    */
  def bloomSemiOrders(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    BloomPrune.bloomSemiJoin(table(spark, dir, "orders"), cust,
        "o_custkey", "c_custkey", expectedItems = 100000L)
      .select("o_orderkey", "o_custkey")
      .orderBy("o_orderkey")
  }

  /** Banded range join: customers × suppliers within ±25.00 account
    * balance band, bounded block. The banding turns an inequality join (which
    * Spark plans as a nested loop) into a bin-keyed equi-join.
    */
  def rangeJoinBalances(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer").filter(col("c_custkey") < 300L)
      .select(col("c_custkey"), col("c_acctbal"))
    val supp = table(spark, dir, "supplier")
      .select(col("s_suppkey"),
        (col("s_acctbal") - 25.0).as("lo"), (col("s_acctbal") + 25.0).as("hi"))
    RangeJoin.bandedIntervalJoin(cust, supp, "c_acctbal", "lo", "hi",
        maxWidth = 50.0)
      .select("c_custkey", "s_suppkey")
      .orderBy("c_custkey", "s_suppkey")
  }

  /** CDC-style compaction: latest row per (user, event_type) key, version
    * order (ts, event_id). The upsert/merge primitive of every snapshot
    * table — one window pass keyed on the merge key, so the shuffle
    * carries each key to one reducer and nothing else; at 100 TB this is
    * the compaction job that keeps a mutable corpus queryable.
    */
  def upsertLatest(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(desc("ts"), desc("event_id"))
    table(spark, dir, "events")
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("value"))
      .orderBy("user_id", "event_type")
  }

  /** W1 extension: rank within group — top-5 users per event type. */
  def windowTopUsers(spark: SparkSession, dir: String): DataFrame = {
    val counts = table(spark, dir, "events")
      .groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy(desc("n"), asc("user_id"))
    counts.withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= 5)
      .orderBy("event_type", "rk")
  }

  /** Rolling mean over the last 5 events per user (bounded rows-frame
    * window): decimal 5-row sums are exact, so mean = sum/5-ish count is
    * engine-portable without rounding tricks.
    */
  def windowRollingAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(-4, 0)
    table(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        (sum(dec(col("value"))).over(w).cast("double") /
          count(lit(1)).over(w)).as("rolling_avg"))
      .orderBy("event_id")
  }

  /** Running total per user over event time (exact decimal prefix sums). */
  def windowRunningSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table(spark, dir, "events")
      .select(col("event_id"),
        sum(dec(col("value"))).over(w).cast("double").as("running"))
      .orderBy("event_id")
  }

  /** lag(): microseconds since the user's previous event. */
  def windowLagGap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    table(spark, dir, "events")
      .select(col("event_id"),
        coalesce(unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)),
                 lit(-1L)).as("gap_us"))
      .orderBy("event_id")
  }

  /** Anti join: customers with no pending ('P') order (NOT EXISTS). The
    * status filter keeps the result non-empty at every SF — the corpus has
    * no fully order-less customers.
    */
  def antiCustomersNoOrders(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
    val ordersP = table(spark, dir, "orders").filter(col("o_orderstatus") === "P")
    cust.join(ordersP, cust("c_custkey") === ordersP("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Semi join: customers with at least one finished order (EXISTS). */
  def semiCustomersWithF(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
    val ordersF = table(spark, dir, "orders").filter(col("o_orderstatus") === "F")
    cust.join(ordersF, cust("c_custkey") === ordersF("o_custkey"), "left_semi")
      .select("c_custkey")
      .orderBy("c_custkey")
  }

  /** A5–A7 (crime.py:42,53,134,150): column means, sample stddev, Pearson
    * correlation. Rounded — co-moment merge order is inherently partition-
    * dependent, so 6 digits is the honest precision contract.
    */
  def corrStats(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
           round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
           (sum(dec(col("l_quantity"), 12, 2)).cast("double") / count(lit(1)))
             .as("mean_qty"))

  /** Distinct aggregate: exact distinct users per event type. */
  def distinctUsers(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("nu"), count(lit(1)).as("n"))
      .orderBy("event_type")

  /** U1: union of two entity tables, top accounts overall. */
  def unionTopAccounts(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
      .select(col("c_name").as("name"), col("c_acctbal").as("acctbal"),
              lit("customer").as("kind"))
    val supp = table(spark, dir, "supplier")
      .select(col("s_name").as("name"), col("s_acctbal").as("acctbal"),
              lit("supplier").as("kind"))
    cust.unionByName(supp)
      .orderBy(desc("acctbal"), asc("name"))
      .limit(50)
  }

  /** String aggregation (LISTAGG/string_agg): per region, the
    * alphabetically-joined nation roster and its size. collect_list is
    * merge-order-nondeterministic, so the list is sort_array'd BEFORE the
    * join — the only deterministic form of string aggregation (and the
    * reason LISTAGG without WITHIN GROUP ORDER is a lint error in
    * production SQL).
    */
  def regionNationRoster(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "region")
      .join(table(spark, dir, "nation"),
        col("r_regionkey") === col("n_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).cast("bigint").as("n_nations"),
        array_join(sort_array(collect_list(col("n_name"))), ",")
          .as("roster"))
      .orderBy("r_name")

  /** Set operations (INTERSECT / EXCEPT) over customer key sets: nations
    * appearing among BOTH urgent-order and F-status-order customers, and
    * those appearing ONLY among urgent-order customers — tagged and
    * unioned into one frame. INTERSECT/EXCEPT plan as left-semi/left-anti
    * joins over distinct aggregates: shuffle on the compared columns,
    * nothing corpus-quadratic.
    */
  def intersectExcept(spark: SparkSession, dir: String): DataFrame = {
    val orders = table(spark, dir, "orders")
    val cust = table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    def nations(pred: org.apache.spark.sql.Column) =
      orders.filter(pred).select(col("o_custkey").as("c_custkey"))
        .join(cust, Seq("c_custkey"))
        .select(col("c_nationkey")).distinct()
    val urgent = nations(col("o_orderpriority") === "1-URGENT")
    val fStatus = nations(col("o_orderstatus") === "F")
    urgent.intersect(fStatus).withColumn("tag", lit("both"))
      .unionByName(urgent.except(fStatus).withColumn("tag", lit("urgent_only")))
      .orderBy("tag", "c_nationkey")
  }

  /** Semi-structured: JSON property extraction from the events props blob. */
  def propsJson(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .groupBy("event_type")
      .agg(sum(col("k")).as("k_sum"), count(lit(1)).as("n"))
      .orderBy("event_type")

  /** P8 (crime.py:100,104): bounded preview with a deterministic order. */
  def headLimit(spark: SparkSession, dir: String): DataFrame =
    Relational.preview(
      table(spark, dir, "events").select("event_id", "event_type").orderBy("event_id"))

  /** Referential-integrity audit across the star schema — the data
    * validation pass a warehouse runs on every load: per foreign key,
    * child cardinality, null keys (allowed but counted), and ORPHANS
    * (non-null keys with no parent — the violation). Each arm is one
    * left-anti join keyed by the FK plus a scalar aggregate; the four
    * 1-row arms union into the report. Zeros on consistent data are the
    * point — the query is the gate, not the finding.
    */
  def fkViolations(spark: SparkSession, dir: String): DataFrame = {
    def arm(name: String, childT: String, ck: String, parentT: String,
            pk: String): DataFrame = {
      val c = table(spark, dir, childT).select(col(ck).as("k"))
      val p = table(spark, dir, parentT).select(col(pk).as("k"))
      // coalesce: sum over an EMPTY child table is NULL, and the oracle's
      // arm reports 0 there — latent only (TPC-H children are non-empty),
      // but the degenerate input should keep the arm total
      val counts = c.agg(count(lit(1)).cast("bigint").as("child_rows"),
        coalesce(sum(col("k").isNull.cast("long")), lit(0L))
          .cast("bigint").as("null_keys"))
      val orphans = c.filter(col("k").isNotNull)
        .join(p, Seq("k"), "left_anti")
        .agg(count(lit(1)).cast("bigint").as("orphans"))
      counts.crossJoin(orphans).select(lit(name).as("fk"),
        col("child_rows"), col("null_keys"), col("orphans"))
    }
    arm("customer.nation", "customer", "c_nationkey", "nation", "n_nationkey")
      .unionByName(arm("lineitem.orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"))
      .unionByName(arm("orders.customer", "orders", "o_custkey",
        "customer", "c_custkey"))
      .unionByName(arm("supplier.nation", "supplier", "s_nationkey",
        "nation", "n_nationkey"))
      .orderBy("fk")
  }

  private def fkArmSql(name: String, childT: String, ck: String,
                       parentT: String, pk: String): String =
    s"""SELECT '$name' AS fk,
       |  CAST((SELECT count(*) FROM $childT) AS BIGINT) AS child_rows,
       |  CAST((SELECT count(*) FROM $childT WHERE $ck IS NULL) AS BIGINT)
       |    AS null_keys,
       |  CAST((SELECT count(*) FROM $childT c WHERE c.$ck IS NOT NULL
       |        AND NOT EXISTS (SELECT 1 FROM $parentT p
       |                        WHERE p.$pk = c.$ck)) AS BIGINT) AS orphans
       |""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef("q_fk_violations", fkViolations, Some(Seq(
      fkArmSql("customer.nation", "customer", "c_nationkey",
        "nation", "n_nationkey"),
      fkArmSql("lineitem.orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      fkArmSql("orders.customer", "orders", "o_custkey",
        "customer", "c_custkey"),
      fkArmSql("supplier.nation", "supplier", "s_nationkey",
        "nation", "n_nationkey"))
      .mkString("", "UNION ALL\n", "ORDER BY fk"))),
    QueryDef("q_counts_by_type", countsByType, Some(
      """SELECT event_type, count(*) AS n
        |FROM events
        |GROUP BY event_type
        |ORDER BY n DESC, event_type ASC""".stripMargin)),

    QueryDef("q_pivot_status", pivotStatus, Some(
      """SELECT o_orderpriority,
        |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
        |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
        |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    QueryDef("q_pivot_ranked", pivotRanked, Some(
      """SELECT o_orderpriority,
        |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
        |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
        |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P",
        |  count(*) AS row_total
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY row_total DESC, o_orderpriority ASC""".stripMargin)),

    QueryDef("q_rollup_flags", rollupFlags, Some(
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |       COALESCE(l_linestatus, 'ALL') AS ls,
        |       count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin)),

    QueryDef("q_cube_flags", cubeFlags, Some(
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |       COALESCE(l_linestatus, 'ALL') AS ls,
        |       count(*) AS n
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin)),

    QueryDef("q_topk_orders", topkOrders, Some(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 100""".stripMargin)),

    QueryDef("q_year_orders", yearOrders, Some(
      """SELECT year(o_orderdate) AS yr, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY yr
        |ORDER BY yr""".stripMargin)),

    QueryDef("q_date_split", dateSplit, Some(
      """SELECT event_id, strftime(ts, '%Y-%m-%d') AS date_str,
        |       strftime(ts, '%H:%M:%S') AS time_str
        |FROM events
        |ORDER BY event_id""".stripMargin)),

    QueryDef("q_hourly_events", hourlyEvents, Some(
      """SELECT hour(ts) AS hr, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        |FROM events
        |GROUP BY hr
        |ORDER BY hr""".stripMargin)),

    QueryDef("q_json_roundtrip", jsonRoundtrip, Some(
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
        |FROM customer
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin), eager = true),

    QueryDef("q_csv_roundtrip", csvRoundtrip, Some(
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin), eager = true),

    QueryDef("q_fuzzy_pairs", fuzzyNamePairs, Some(
      """WITH c AS (
        |  SELECT c_custkey AS id, c_name AS name,
        |    substr(c_name, 1, 16) AS blk
        |  FROM customer WHERE c_custkey < 500)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id
        |WHERE levenshtein(a.name, b.name) <= 2
        |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef("q_orc_roundtrip", orcRoundtrip, Some(
      """SELECT s_nationkey, count(*) AS n,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
        |FROM supplier
        |GROUP BY s_nationkey
        |ORDER BY s_nationkey""".stripMargin), eager = true),

    QueryDef("q_bloom_semi", bloomSemiOrders, Some(
      """SELECT o_orderkey, o_custkey
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin)),

    QueryDef("q_range_join", rangeJoinBalances, Some(
      """SELECT c.c_custkey, s.s_suppkey
        |FROM customer c JOIN supplier s
        |  ON c.c_acctbal >= s.s_acctbal - 25.0
        | AND c.c_acctbal <= s.s_acctbal + 25.0
        |WHERE c.c_custkey < 300
        |ORDER BY c_custkey, s_suppkey""".stripMargin)),

    QueryDef("q_window_rolling_avg", windowRollingAvg, Some(
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) /
        |    COUNT(*) OVER w AS rolling_avg
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin)),

    QueryDef("q_upsert_latest", upsertLatest, Some(
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT user_id, event_type, event_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rk
        |  FROM events)
        |WHERE rk = 1
        |ORDER BY user_id, event_type""".stripMargin)),

    QueryDef("q_funnel_steps", funnelSteps, Some(
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t0 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS t1
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t0
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t1
        |  GROUP BY e.user_id)
        |SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
        |       (SELECT count(*) FROM v) AS n_users
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'click', (SELECT count(*) FROM c)
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'purchase', (SELECT count(*) FROM p)
        |ORDER BY step""".stripMargin)),

    QueryDef("q_fill_missing", fillMissing, Some(
      """SELECT COALESCE(NULLIF(event_type, 'click'), 'none') AS etype,
        |  count(*) AS n,
        |  CAST(SUM(CAST(COALESCE(
        |    CASE WHEN value > 300.0 THEN NULL ELSE value END, 0.0)
        |    AS DECIMAL(18,2))) AS DOUBLE) AS v_sum
        |FROM events
        |GROUP BY etype
        |ORDER BY etype""".stripMargin)),

    QueryDef("q_select_rename", selectRename, Some(
      """SELECT c_custkey AS id, c_name AS cust_name, c_mktsegment AS segment
        |FROM customer
        |ORDER BY id""".stripMargin)),

    QueryDef("q_zscore_acctbal", zscoreAcctbal, Some(
      """WITH st AS (
        |  SELECT
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS s,
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)) *
        |             CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS ss,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM customer)
        |SELECT c_custkey,
        |  round((c_acctbal - s / n) / sqrt((ss - s * s / n) / (n - 1)), 6) AS z
        |FROM customer, st
        |ORDER BY c_custkey""".stripMargin)),

    QueryDef("q_mktsegment_revenue", mktsegmentRevenue, Some(
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)),

    QueryDef("q_region_revenue", regionRevenue, Some(
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
        |    AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name ASC""".stripMargin)),

    QueryDef("q1_lineitem", q1Lineitem, Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
        |    AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) *
        |    (CAST(1.0 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2))))
        |    AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) / count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-06-30 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    QueryDef("q_unpivot_metrics", unpivotMetrics, Some(
      """SELECT l_returnflag, 'l_quantity' AS metric,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM lineitem GROUP BY l_returnflag
        |UNION ALL
        |SELECT l_returnflag, 'l_extendedprice' AS metric,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag, metric""".stripMargin)),

    QueryDef("q_window_top_users", windowTopUsers, Some(
      """SELECT * FROM (
        |  SELECT event_type, user_id, count(*) AS n,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY count(*) DESC, user_id ASC) AS rk
        |  FROM events
        |  GROUP BY event_type, user_id)
        |WHERE rk <= 5
        |ORDER BY event_type, rk""".stripMargin)),

    QueryDef("q_window_running_sum", windowRunningSum, Some(
      """SELECT event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running
        |FROM events
        |ORDER BY event_id""".stripMargin)),

    QueryDef("q_window_lag_gap", windowLagGap, Some(
      """SELECT event_id,
        |  COALESCE(epoch_us(ts) - epoch_us(lag(ts, 1) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id)), -1) AS gap_us
        |FROM events
        |ORDER BY event_id""".stripMargin)),

    QueryDef("q_anti_customers_no_orders", antiCustomersNoOrders, Some(
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin)),

    QueryDef("q_semi_customers_with_f", semiCustomersWithF, Some(
      """SELECT c_custkey
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin)),

    QueryDef("q_corr_stats", corrStats, Some(
      """SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |  round(stddev_samp(l_quantity), 6) AS sd_qty,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS mean_qty
        |FROM lineitem""".stripMargin)),

    QueryDef("q_distinct_users", distinctUsers, Some(
      """SELECT event_type, count(DISTINCT user_id) AS nu, count(*) AS n
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    QueryDef("q_union_top_accounts", unionTopAccounts, Some(
      """SELECT name, acctbal, kind FROM (
        |  SELECT c_name AS name, c_acctbal AS acctbal, 'customer' AS kind FROM customer
        |  UNION ALL
        |  SELECT s_name AS name, s_acctbal AS acctbal, 'supplier' AS kind FROM supplier)
        |ORDER BY acctbal DESC, name ASC
        |LIMIT 50""".stripMargin)),

    QueryDef("q_intersect_except", intersectExcept, Some(
      """WITH urgent AS (
        |  SELECT DISTINCT c.c_nationkey
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE o.o_orderpriority = '1-URGENT'),
        |fstatus AS (
        |  SELECT DISTINCT c.c_nationkey
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE o.o_orderstatus = 'F')
        |SELECT c_nationkey, tag FROM (
        |  SELECT c_nationkey, 'both' AS tag
        |  FROM (SELECT c_nationkey FROM urgent
        |        INTERSECT SELECT c_nationkey FROM fstatus)
        |  UNION ALL
        |  SELECT c_nationkey, 'urgent_only' AS tag
        |  FROM (SELECT c_nationkey FROM urgent
        |        EXCEPT SELECT c_nationkey FROM fstatus))
        |ORDER BY tag, c_nationkey""".stripMargin)),

    QueryDef("q_region_roster", regionNationRoster, Some(
      """SELECT r.r_name,
        |  CAST(count(*) AS BIGINT) AS n_nations,
        |  string_agg(n.n_name, ',' ORDER BY n.n_name) AS roster
        |FROM region r JOIN nation n ON r.r_regionkey = n.n_regionkey
        |GROUP BY r.r_name
        |ORDER BY r.r_name""".stripMargin)),

    QueryDef("q_props_json", propsJson, Some(
      """SELECT event_type,
        |  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_sum,
        |  count(*) AS n
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    QueryDef("q_head_limit", headLimit, Some(
      """SELECT event_id, event_type
        |FROM events
        |ORDER BY event_id
        |LIMIT 5""".stripMargin))
  )
}
