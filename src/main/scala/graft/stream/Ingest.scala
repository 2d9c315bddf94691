package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

/** Streaming ingest: the reference's payload codec and socket source
  * (SURVEY.md §2.7 ST1–ST2, §2.1 S3/S5/S6). The executed event-time
  * streams (windows, dedup, joins) are built in [[StreamQueries]].
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

  /** Consumer-side parse: one JSON line in the `value` column (one
    * producer micro-batch, as the socket source delivers it) →
    * one row per embedded record, with its feature map preserved.
    */
  def parsePayload(lines: DataFrame): DataFrame =
    lines.select(from_json(col("value"), payloadType).as("batch"))
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

  /** Raw-line variant (stream.py:207-230): one `value` line = JSON string
    * array. */
  def parseRawLines(lines: DataFrame): DataFrame =
    lines.select(from_json(col("value"),
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
}
