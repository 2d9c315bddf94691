package graft.ml

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftTestSpark

/** The stages the registry's ML queries use beside the default pipeline:
  * the logistic head q_ml_confusion plugs into [[CrimePipeline.build]], and
  * the smoothed target encoder behind q_target_encode.
  */
class StagesSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private val schema = CrimePipeline.Schema(
    "Category", Seq("DayOfWeek", "PdDistrict", "Address"), "X", "Y")

  /** Same separable fixture shape as CrimePipelineSpec. */
  lazy val fixture = {
    val rng = new scala.util.Random(11)
    (0 until 1500).map { i =>
      val cls = i % 3
      (i.toLong, s"CAT_$cls", Seq("Mon", "Tue", "Wed")(rng.nextInt(3)),
        s"D${cls * 3 + rng.nextInt(3)}", s"A${rng.nextInt(40)}",
        -122.5 + cls * 0.5 + rng.nextGaussian() * 0.05,
        37.7 + cls * 0.3 + rng.nextGaussian() * 0.05)
    }.toDF("event_id", "Category", "DayOfWeek", "PdDistrict", "Address", "X", "Y")
  }

  test("multinomial logistic regression plugs into the crime pipeline") {
    val Array(train, test) = fixture.randomSplit(Array(0.7, 0.3), seed = 0L)
    val model = CrimePipeline.build(schema, CrimePipeline.logistic).fit(train)
    val acc = new org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("prediction")
      .setMetricName("accuracy").evaluate(model.transform(test))
    assert(acc >= 0.8, s"accuracy=$acc")
  }

  test("target encoding: smoothed means pull rare categories to the prior") {
    val df = Seq(
      ("common", 10.0), ("common", 20.0), ("common", 30.0), ("common", 40.0),
      ("rare", 100.0)
    ).toDF("cat", "y")
    val enc = TargetEncode.encodingTable(df, "cat", "y", m = 5.0)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val gmean = 200.0 / 5
    // rare (n=1, value 100) is pulled most of the way to the prior 40
    assert(math.abs(enc("rare") - (100.0 + 5 * gmean) / 6.0) < 1e-6)
    // common (n=4, mean 25) stays closer to its own mean
    assert(math.abs(enc("common") - (100.0 + 5 * gmean) / 9.0) < 1e-6)
    assert(math.abs(enc("rare") - gmean) < math.abs(100.0 - gmean))
    // a null category is a category of its own: one row, and at m = 0
    // its encoding is its own mean
    val withNull = Seq((Some("a"), 1.0), (Some("a"), 3.0), (None, 10.0))
      .toDF("cat", "y")
    val rows = TargetEncode.encodingTable(withNull, "cat", "y", m = 0.0)
      .collect()
    assert(rows.length == 2)
    assert(rows.filter(_.isNullAt(0)).map(_.getDouble(2)).toSeq == Seq(10.0))
  }
}
