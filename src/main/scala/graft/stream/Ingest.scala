package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

/** Streaming ingest (SURVEY.md §2.7 ST1–ST6).
  *
  * The reference producer (/root/reference/stream.py:153-179) frames each
  * micro-batch as ONE newline-delimited JSON object
  * `{rowIdx: {featureName: value, ...}, ...}` pushed over TCP
  * (stream.py:24-36,65-67) every 5 s (stream.py:73). Consumer side here:
  * socket source → from_json with the map-of-maps schema → explode to rows.
  * Parsing is a pure DataFrame→DataFrame function, so it is unit-testable
  * on batch frames and identical under Structured Streaming's incremental
  * planner.
  */
object Ingest {

  /** ST2 payload shape: `{rowIdx: {feature: value}}` (stream.py:153-179). */
  val payloadType: MapType = MapType(StringType, MapType(StringType, StringType))

  /** Consumer-side parse: one JSON line (one producer micro-batch) →
    * one row per embedded record, with its feature map preserved.
    */
  def parsePayload(lines: DataFrame, valueCol: String = "value"): DataFrame =
    lines.select(from_json(col(valueCol), payloadType).as("batch"))
      .select(explode(col("batch")).as(Seq("row_idx", "features")))
      .select(col("row_idx").cast("long").as("row_idx"), col("features"))

  /** Project named features out of the parsed map into typed columns. */
  def toTyped(parsed: DataFrame, featureNames: Seq[String]): DataFrame =
    featureNames.foldLeft(parsed) { (d, f) =>
      d.withColumn(f, col("features").getItem(f))
    }.drop("features")

  /** S5 (stream.py:40-62,105-110): image-batch payloads carry per-row int
    * arrays (CIFAR's 3072 features / Pokemon matrices, flattened). The
    * map-of-maps parse keeps them as JSON strings; this projects one such
    * feature out as a typed ArrayType(IntegerType) column.
    */
  def intArrayFeature(parsed: DataFrame, featureName: String,
                      as: String): DataFrame =
    parsed.withColumn(as,
      from_json(col("features").getItem(featureName),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType)))

  /** Raw-line variant (stream.py:207-230): one line = JSON string array. */
  def parseRawLines(lines: DataFrame, valueCol: String = "value"): DataFrame =
    lines.select(from_json(col(valueCol),
        org.apache.spark.sql.types.ArrayType(StringType)).as("arr"))
      .select(posexplode(col("arr")).as(Seq("line_idx", "line")))

  /** ST1/S3: socket consumer matching the producer's contract
    * (localhost:6100, stream.py:24-25). At-most-once by nature of sockets —
    * documented divergence: batch boundaries are trigger-framed here, not
    * producer-framed, so tests assert on totals (SURVEY §7.4.4).
    */
  def socketPayloadStream(spark: SparkSession, host: String = "localhost",
                          port: Int = 6100): DataFrame =
    parsePayload(
      spark.readStream.format("socket")
        .option("host", host).option("port", port).load())

  /** ST3/ST4 extension (absent in the reference, engine-level capability):
    * watermarked tumbling-window counts over a typed event stream.
    */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
                     watermark: String = "10 minutes",
                     window: String = "5 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window),
        col(keyCol))
      .agg(count(lit(1)).as("n"))

  /** Streaming exact dedup: watermark-bounded, id-only — the incremental
    * form of the batch exact-dedup operator. dropDuplicatesWithinWatermark
    * keys state on the id alone (replays of the same id with a different
    * timestamp still dedup) and expires entries past the watermark
    * horizon, so memory is bounded by (arrival rate × watermark), not by
    * stream length — the property that makes it viable on an unbounded
    * 100 TB/day feed.
    */
  def dedupStream(events: DataFrame, idCol: String, tsCol: String,
                  watermark: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq(idCol))

  /** Stream-stream inner join with an event-time interval bound: right
    * rows join left rows at-or-after them within `withinSeconds`. Both
    * sides watermarked so join state expires — unbounded state is the
    * failure mode of naive stream joins.
    */
  def intervalJoinStreams(left: DataFrame, right: DataFrame, keyCol: String,
                          leftTs: String, rightTs: String,
                          withinSeconds: Long,
                          watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      l(keyCol) === r(keyCol) &&
        r(rightTs) >= l(leftTs) &&
        r(rightTs) <= l(leftTs) + expr(s"INTERVAL $withinSeconds SECONDS"))
  }
}
