package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operators a large-scale event pipeline needs: bucket
  * resampling with gap fill, and as-of (nearest-preceding) joins.
  * Both composed from built-ins — shape (a) in the custom-operator
  * preference order; no custom plan nodes required.
  */
object TimeSeries {

  /** Downsample to fixed buckets with dense gap fill: aggregate into
    * `bucketSeconds` buckets, then left-join a generated dense bucket
    * spine so empty buckets appear with zero counts. The spine is
    * `sequence()`-generated per group — no driver-side range loop, so it
    * scales to any key count.
    */
  def resampleCounts(events: DataFrame, tsCol: String, keyCol: String,
                     bucketSeconds: Long): DataFrame = {
    val bucket = (unix_timestamp(col(tsCol)) - pmod(unix_timestamp(col(tsCol)),
      lit(bucketSeconds))).cast("bigint")
    val agg = events.groupBy(col(keyCol).as("k"), bucket.as("bucket"))
      .agg(count(lit(1)).as("n"))
    val bounds = agg.groupBy("k")
      .agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
    val spine = bounds.select(col("k"),
      explode(sequence(col("lo"), col("hi"), lit(bucketSeconds))).as("bucket"))
    spine.join(agg, Seq("k", "bucket"), "left")
      .select(col("k"), col("bucket"), coalesce(col("n"), lit(0L)).as("n"))
  }

  /** As-of join: for each left row, the single most recent right row with
    * `rightTs <= leftTs` within the same key — the standard time-series
    * enrichment join (market data, feature stores). Right rows that
    * duplicate (key, ts) are told apart by the `rightTieBreak` column: the
    * highest wins, so the answer never depends on row order. Composed as
    * union → window(last non-null over time order) → filter back to left
    * rows: one shuffle on (key), no custom plan node, and no per-key
    * driver loops — the shape survives any scale.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
               leftTs: String, rightTs: String,
               rightValCols: Seq[String],
               rightTieBreak: String): DataFrame = {
    // silent-ambiguity guard: a value column shadowing a left column would
    // produce two same-named output columns
    rightValCols.foreach { c =>
      require(!left.columns.contains(c),
        s"rightValCol '$c' collides with a left column; alias it first")
    }
    // the tiebreak keeps its own orderable type (a cast("long") would be
    // an ANSI runtime error for string ids)
    val tieType = right.schema(rightTieBreak).dataType
    val l = left.withColumn("__ts", col(leftTs)).withColumn("__side", lit(0))
      .withColumn("__tie", lit(null).cast(tieType))
    // ALL value columns travel in one struct: the running last() then picks
    // the whole most-recent right ROW (even if some of its fields are
    // null), never mixing fields from different right rows — and matching
    // ASOF JOIN semantics, where a null value in the newest match is the
    // answer, not a reason to look further back
    val r = right.select(
      col(keyCol), col(rightTs).as("__ts"), lit(1).as("__side"),
      col(rightTieBreak).as("__tie"),
      struct(rightValCols.map(col): _*).as("__r"))
    val lAligned = l.withColumn("__r", lit(null).cast(r.schema("__r").dataType))
    val unioned = lAligned.unionByName(r, allowMissingColumns = true)
    // order within a timestamp: right rows (__side desc puts 1 first) so a
    // left row at the same instant sees them; ties among right rows break
    // deterministically on __tie (last one wins in the running last())
    val w = Window.partitionBy(keyCol)
      .orderBy(col("__ts"), desc("__side"), asc_nulls_last("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = unioned.withColumn("__r",
      last(col("__r"), ignoreNulls = true).over(w))
    val out = rightValCols.foldLeft(filled.filter(col("__side") === 0)) {
      (d, c) => d.withColumn(c, col(s"__r.$c"))
    }
    out.drop("__ts", "__side", "__tie", "__r")
  }

  /** Finite-window normalized EWMA (exponential smoothing): over each
    * key's last `span` rows in time order,
    * `y = Σ (1-α)^i x_{t-i} / Σ (1-α)^i` (i = 0 at the current row) —
    * the bounded-memory form monitoring pipelines use (the infinite
    * recursive form is order-unbounded state and, worse, float-divergent
    * across engines; the truncated window is deterministic).
    *
    * Shape: `collect_list` over a bounded row frame (frame order IS time
    * order) + one arithmetic HOF pass per row. The window partitions by
    * key with a `span`-row frame — per-key state is bounded by `span`, so
    * the operator holds at any key cardinality. The weight HOFs are
    * CodegenFallback, but touch ≤ `span` elements per row — measured
    * noise-level beside the window sort itself.
    *
    * Null values: rows with a NULL `valCol` are dropped up front.
    * `collect_list` silently skips NULLs, so without the filter a null
    * row would SHRINK its neighbors' windows (and diverge from engines
    * whose list aggregate keeps NULLs) instead of doing anything
    * defensible; excluding the row from the series entirely is the one
    * semantics both engines can agree on.
    */
  def ewma(events: DataFrame, keyCol: String, tsCol: String, tieCol: String,
           valCol: String, alpha: Double, span: Int): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))
      .rowsBetween(-(span - 1), Window.currentRow)
    val win = collect_list(col(valCol)).over(w)
    val decay = lit(1.0 - alpha)
    // weight for element i (0-based, oldest first) in a frame of n: (1-α)^(n-1-i)
    val weighted = transform(col("__win"),
      (x, i) => x * pow(decay, size(col("__win")) - 1 - i))
    val wsum = transform(col("__win"),
      (_, i) => pow(decay, size(col("__win")) - 1 - i))
    events.filter(col(valCol).isNotNull)
      .withColumn("__win", win)
      .withColumn("ewma", round(
        aggregate(weighted, lit(0.0), (a, x) => a + x) /
          aggregate(wsum, lit(0.0), (a, x) => a + x), 6))
      .drop("__win")
  }
}
