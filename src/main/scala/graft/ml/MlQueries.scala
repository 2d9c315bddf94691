package graft.ml

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Tables.table

/** Harness wiring for the ML surface. All rows-only (not SQL-expressible;
  * SURVEY.md §5.4): parity is metric-level, asserted in ScalaTest — these
  * queries exist so the driver exercises the pipelines end-to-end.
  */
object MlQueries {

  /** Deterministic crime-shaped frame derived from the events table:
    * Category≈event_type, day-of-week + district + address categoricals,
    * lon/lat from value/user_id. Mirrors the Kaggle schema the reference
    * reads (FIXTURES.md §1) without synthesizing data outside the corpus.
    */
  def crimeShaped(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events").select(
      col("event_id"),
      col("event_type").as("Category"),
      date_format(col("ts"), "EEEE").as("DayOfWeek"),
      concat(lit("D"), pmod(col("user_id"), lit(10))).as("PdDistrict"),
      concat(lit("A"), pmod(col("event_id"), lit(500))).as("Address"),
      (lit(-122.5) + pmod(col("value"), lit(10)) / 100.0).as("X"),
      (lit(37.7) + pmod(col("user_id"), lit(100)) / 1000.0).as("Y"))

  private val schema = CrimePipeline.Schema(
    labelCol = "Category",
    categoricalCols = Seq("DayOfWeek", "PdDistrict", "Address"),
    lonCol = "X", latCol = "Y")

  /** Iterative fits (KMeans, forests) re-walk their input many times, so
    * cache it and size partitions to the data: a 100k-row training frame
    * scattered over every core (or at cluster scale, every executor) pays
    * more per-iteration scheduling than compute. ~16k rows per partition
    * keeps tasks meaningful at any scale; never expands partition count.
    */
  private final class Sized(val frame: DataFrame, val rows: Long,
                            base: DataFrame) {
    def release(): Unit = base.unpersist(blocking = false)
  }

  private def cacheSized(df: DataFrame): Sized = {
    // cache BEFORE the sizing count so the source pipeline is computed
    // exactly once; the coalesce on top reuses the InMemoryRelation.
    // release() unpersists via the CACHED plan — unpersisting the
    // coalesced view would miss the cache entry.
    val cached = df.cache()
    val n = cached.count()
    val parts = math.max(1, math.min(
      cached.rdd.getNumPartitions, (n / 16384 + 1).toInt))
    new Sized(cached.coalesce(parts), n, cached)
  }

  /** Full ML1–ML7 run: one summary row (holdout accuracy + decoded class
    * count). One split, one fit, ONE transform of the holdout: the
    * evaluator (ML6) and the decoded submission labels (ML7) both read the
    * same cached prediction frame instead of re-running the pipeline
    * transform + forest scoring per consumer. All metrics are computed
    * eagerly against cached, right-sized inputs, so the returned frame
    * holds plain values and the caches drop before returning.
    *
    * Metrics are emitted as integer MICRO-UNITS (floor, the repo's exact
    * contract for rational scores): the driver's rows-only check hashes
    * the values, and a raw double metric can wobble in its last ulps
    * across sessions (thread-order-dependent float reductions inside the
    * evaluator) — pinned by MlQueriesSpec across two fresh sessions.
    */
  def mlPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sized = cacheSized(crimeShaped(spark, dir))
    try {
      val Array(train, holdout) =
        sized.frame.randomSplit(Array(0.7, 0.3), seed = 0L)
      val model = CrimePipeline.build(schema).fit(train)
      val preds = model.transform(holdout)
        .select(col("label"), col("prediction"), col("probability")).cache()
      try {
        def eval(metric: String) =
          new org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator()
            .setLabelCol("label").setPredictionCol("prediction")
            .setMetricName(metric).evaluate(preds)
        // accuracy (ML6) plus the reference's actual training metric,
        // multi_logloss (crime.py:177), from the same cached predictions
        val accuracyMicro = math.floor(eval("accuracy") * 1e6).toLong
        val logLossMicro = math.floor(eval("logLoss") * 1e6).toLong
        // ML7's decode path (prediction index → Category string) on the
        // same cached predictions the evaluator read
        val nPred = preds
          .select(CrimePipeline.decodePrediction(model, schema).as("Category"))
          .agg(countDistinct(col("Category"))).as[Long].head()
        Seq((accuracyMicro, logLossMicro, nPred, sized.rows))
          .toDF("accuracy_micro", "log_loss_micro", "n_predicted_classes",
            "n_rows")
      } finally preds.unpersist(blocking = false)
    } finally sized.release()
  }

  /** Per-class confusion statistics — the diagnosis behind the
    * q_ml_pipeline summary numbers: for each true class, support,
    * correct predictions, and precision/recall/F1 in floor micro-units
    * (the rational-score contract). Runs the cheaper logistic head
    * (CrimePipeline.logistic — deterministic LBFGS on standardized features)
    * so the bench doesn't pay a second forest fit; the confusion counts
    * themselves are one groupBy over the cached prediction frame, and
    * the per-class rates are exact integer ratios of those counts.
    */
  def confusionStats(spark: SparkSession, dir: String): DataFrame = {
    val sized = cacheSized(crimeShaped(spark, dir))
    try {
      val Array(train, holdout) =
        sized.frame.randomSplit(Array(0.7, 0.3), seed = 0L)
      val model = CrimePipeline.build(schema, CrimePipeline.logistic).fit(train)
      val preds = model.transform(holdout)
        .select(col("label").cast("bigint").as("label"),
          col("prediction").cast("bigint").as("prediction")).cache()
      try {
        val support = preds.groupBy("label")
          .agg(count(lit(1)).as("support"),
            sum((col("prediction") === col("label")).cast("long")).as("tp"))
        val predicted = preds.groupBy(col("prediction").as("label"))
          .agg(count(lit(1)).as("pred_n"))
        val mr = graft.llm.TextStats.microRatio _
        val out = support.join(predicted, Seq("label"), "left")
          .select(col("label"), col("support").cast("bigint").as("support"),
            col("tp").cast("bigint").as("tp"),
            mr(col("tp"), coalesce(col("pred_n"), lit(0L)))
              .as("precision_micro"),
            mr(col("tp"), col("support")).as("recall_micro"),
            // F1 = 2·tp / (support + pred_n): the harmonic mean in one
            // exact integer ratio (both denominators are counts)
            mr(lit(2L) * col("tp"),
              col("support") + coalesce(col("pred_n"), lit(0L)))
              .as("f1_micro"))
          .orderBy("label")
        val rows = out.collect()
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toSeq), out.schema)
      } finally preds.unpersist(blocking = false)
    } finally sized.release()
  }

  /** ML2+ML3 alone (crime.py:132-137): scale lon/lat, KMeans k=10 seed=0,
    * report cluster-size distribution (the id-free comparison form).
    */
  def clusterSizes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val geo = crimeShaped(spark, dir).select("event_id", "X", "Y")
    val assembled = new VectorAssembler()
      .setInputCols(Array("X", "Y")).setOutputCol("geo_raw").transform(geo)
    val sized = cacheSized(new StandardScaler()
      .setInputCol("geo_raw").setOutputCol("geo_scaled")
      .setWithMean(true).setWithStd(true)
      .fit(assembled).transform(assembled)
      .select("event_id", "geo_scaled"))
    try {
      val scaled = sized.frame
      val clustered = new KMeans()
        .setK(10).setSeed(0L).setFeaturesCol("geo_scaled").setPredictionCol("cluster")
        .fit(scaled).transform(scaled)
      // k rows, never corpus rows — collect eagerly so the cache can drop
      val sizes = clustered.groupBy("cluster").agg(count(lit(1)).as("size"))
        .orderBy(desc("size"), asc("cluster"))
        .select("size").as[Long].collect().toSeq
      sizes.toDF("size") // sizes only: cluster ids aren't comparable across impls
    } finally sized.release()
  }

  /** M-estimate target encoding of order priority against order value —
    * oracle-checked (exact-decimal sums make the smoothed means
    * deterministic).
    */
  def targetEncode(spark: SparkSession, dir: String): DataFrame =
    TargetEncode.encodingTable(table(spark, dir, "orders"),
        catCol = "o_orderpriority", targetCol = "o_totalprice", m = 10.0)
      .orderBy("o_orderpriority")

  val queries: Seq[QueryDef] = Seq(
    QueryDef("q_target_encode", targetEncode, Some(
      """WITH g AS (
        |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |           / count(*) AS gmean
        |  FROM orders),
        |c AS (
        |  SELECT o_orderpriority, count(*) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority, n,
        |  round((s + 10.0 * gmean) / (n + 10.0), 6) AS enc
        |FROM c, g
        |ORDER BY o_orderpriority""".stripMargin)),

    QueryDef("q_ml_pipeline", mlPipeline, eager = true),
    QueryDef("q_ml_confusion", confusionStats, eager = true),
    QueryDef("q_ml_cluster_sizes", clusterSizes, eager = true)
  )
}
