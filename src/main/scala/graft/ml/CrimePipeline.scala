package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel, Estimator}
import org.apache.spark.ml.classification.{LogisticRegression, RandomForestClassifier}
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.feature.{StandardScaler, StringIndexer, VectorAssembler}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's ML surface (SURVEY.md §2.6 ML1–ML7) as one MLlib
  * pipeline: label/categorical encoding → lon/lat standardization → KMeans
  * cluster feature → multiclass classifier → accuracy.
  *
  * Fidelity notes (SURVEY.md §7.4):
  *  - StringIndexer uses `alphabetAsc` — sklearn's LabelEncoder assigns
  *    codes in sorted order while Spark defaults to frequencyDesc
  *    (crime.py:38-39,107-120); this is the #1 silent-divergence trap.
  *  - KMeans k=10, seed=0 mirrors crime.py:136-137; parity is metric-level
  *    (WSSSE / cluster-size distribution), never exact ids.
  *  - LightGBM (crime.py:171-181) has no MLlib equivalent, so
  *    RandomForest(maxDepth=10) is the default classifier; q_ml_confusion
  *    swaps in the [[logistic]] head.
  *  - The reference re-fits encoders on test data (crime.py:117-120,152-153)
  *    — a leakage bug we deliberately do NOT reproduce: fit once on train,
  *    transform test.
  */
object CrimePipeline {

  /** Column roles for a crime-shaped frame. */
  case class Schema(labelCol: String, categoricalCols: Seq[String],
                    lonCol: String, latCol: String)

  /** ML1–ML5 as pipeline stages. Every stage is a distributed fit: indexer
    * = distinct job per column, scaler = one stats pass, kmeans = iterative
    * broadcast-centroid jobs, forest = per-tree distributed training.
    */
  def build(schema: Schema,
            classifier: Estimator[_] = defaultClassifier): Pipeline = {
    // handleInvalid=keep: categories absent from the training split map to
    // an extra index instead of failing at scoring time. The reference
    // avoided unseen labels by re-fitting encoders on test data
    // (crime.py:117-120) — the leakage bug we deliberately don't copy, so
    // unseen categories are a normal condition here.
    val labelIndexer = new StringIndexer()
      .setInputCol(schema.labelCol).setOutputCol("label")
      .setStringOrderType("alphabetAsc") // sklearn LabelEncoder parity (ML1)
      .setHandleInvalid("keep")
    val catIndexers = schema.categoricalCols.map { c =>
      new StringIndexer().setInputCol(c).setOutputCol(s"${c}_idx")
        .setStringOrderType("alphabetAsc")
        .setHandleInvalid("keep")
    }
    val geoAssembler = new VectorAssembler()
      .setInputCols(Array(schema.lonCol, schema.latCol)).setOutputCol("geo_raw")
    val scaler = new StandardScaler() // ML2: z-score, sample std like pandas
      .setInputCol("geo_raw").setOutputCol("geo_scaled")
      .setWithMean(true).setWithStd(true)
    // ML3: one seeded k-means|| fit (k=10, seed=0, crime.py:136-137) whose
    // cluster id becomes a feature
    val kmeans = new KMeans().setK(10).setSeed(0L)
      .setFeaturesCol("geo_scaled").setPredictionCol("cluster")
    // The reference hands label-encoded ints to LightGBM as plain numeric
    // features (crime.py:111-120 — no categorical declaration), so indexed
    // columns are demoted to bare doubles here too. The CAST drops the
    // nominal metadata StringIndexer attaches; without this, tree training
    // rejects high-cardinality columns (Address) against maxBins.
    val demote =
      if (schema.categoricalCols.isEmpty) Seq.empty // SELECT *, FROM is a parse error
      else Seq(new org.apache.spark.ml.feature.SQLTransformer().setStatement(
        "SELECT *, " + schema.categoricalCols
          .map(c => s"CAST(${c}_idx AS DOUBLE) AS ${c}_num").mkString(", ") +
          " FROM __THIS__"))
    val featureAssembler = new VectorAssembler()
      .setInputCols((schema.categoricalCols.map(c => s"${c}_num") ++
        Seq("geo_scaled", "cluster")).toArray)
      .setOutputCol("features")
    new Pipeline().setStages(
      (Seq(labelIndexer) ++ catIndexers ++ demote ++
        Seq(geoAssembler, scaler, kmeans, featureAssembler, classifier)).toArray)
  }

  /** ML5 default: RandomForest is MLlib's native-multiclass tree ensemble
    * (GBTClassifier is binary-only); depth matches the reference config.
    */
  def defaultClassifier: RandomForestClassifier =
    new RandomForestClassifier()
      .setLabelCol("label").setFeaturesCol("features")
      .setMaxDepth(10).setNumTrees(20).setSeed(0L)

  /** The multinomial logistic head (crime.py:10 import) that
    * q_ml_confusion plugs into [[build]] in place of the forest.
    */
  def logistic: LogisticRegression = new LogisticRegression()
    .setLabelCol("label").setFeaturesCol("features")
    .setMaxIter(50).setRegParam(0.0).setFamily("multinomial")

  /** ML4 + ML6: 70/30 split (seed 0, crime.py:168-169), fit on train only,
    * report holdout accuracy.
    */
  def trainAndEvaluate(df: DataFrame, schema: Schema): (PipelineModel, Double) = {
    val (model, metrics) = trainAndEvaluateMetrics(df, schema)
    (model, metrics("accuracy"))
  }

  /** ML4 + ML6 with the reference's actual training metric alongside:
    * `multi_logloss` (crime.py:177) next to accuracy, from ONE transform
    * of the holdout.
    */
  def trainAndEvaluateMetrics(df: DataFrame, schema: Schema)
      : (PipelineModel, Map[String, Double]) = {
    val Array(train, test) = df.randomSplit(Array(0.7, 0.3), seed = 0L)
    val model = build(schema).fit(train)
    // both evaluators read ONE cached transform of the holdout (narrowed
    // to the metric columns) instead of re-scoring the model per metric
    val preds = model.transform(test)
      .select("label", "prediction", "probability").cache()
    try {
      def eval(metric: String) = new MulticlassClassificationEvaluator()
        .setLabelCol("label").setPredictionCol("prediction")
        .setMetricName(metric).evaluate(preds)
      (model, Map("accuracy" -> eval("accuracy"), "logLoss" -> eval("logLoss")))
    } finally preds.unpersist(blocking = false)
  }

  /** The label-decode column of ML7: predicted index back to its string
    * form, usable on any frame that already carries `prediction` (so a
    * cached transform can be scored without re-running the pipeline).
    */
  def decodePrediction(model: PipelineModel, schema: Schema)
      : org.apache.spark.sql.Column = {
    val labels = model.stages.collectFirst {
      case m: org.apache.spark.ml.feature.StringIndexerModel
        if m.getInputCol == schema.labelCol => m.labelsArray(0)
    }.getOrElse(Array.empty[String])
    // handleInvalid=keep reserves index numLabels for unseen categories; a
    // prediction can only land there if such rows were trained on. Pure
    // codegen'd lookup — element_at over an embedded literal array (the
    // labels are k strings, never data-sized); the when() guard keeps the
    // out-of-range branch from ever reaching element_at, which is an
    // INVALID_ARRAY_INDEX runtime error under ANSI mode.
    val idx = col("prediction").cast("int")
    when(idx < labels.length,
      element_at(typedlit(labels.toSeq), idx + 1))
      .otherwise(lit("__unseen__"))
  }

  /** ML7 (crime.py:200-206): submission-style (Id, Category) frame, with
    * the predicted label decoded back to its string form.
    */
  def score(model: PipelineModel, df: DataFrame, idCol: String,
            schema: Schema): DataFrame =
    model.transform(df)
      .select(col(idCol).as("Id"),
        decodePrediction(model, schema).as("Category"))
}
