package graft.ml

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.{StringIndexer, VectorAssembler}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftTestSpark

/** Metric-level ML parity (SURVEY.md §5.4): seeded synthetic multiclass
  * fixture with real signal (FIXTURES.md §4) — assert accuracy thresholds
  * and clustering quality, never exact predictions.
  */
class CrimePipelineSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  /** 3 well-separated classes; label is a deterministic function of the
    * district + geography, so a tree ensemble must beat 0.8 easily.
    */
  lazy val fixture = {
    val rng = new scala.util.Random(7)
    val rows = (0 until 3000).map { i =>
      val cls = i % 3
      val lon = -122.5 + cls * 0.5 + rng.nextGaussian() * 0.05
      val lat = 37.7 + cls * 0.3 + rng.nextGaussian() * 0.05
      val district = s"D${cls * 3 + rng.nextInt(3)}"
      val dow = Seq("Mon", "Tue", "Wed")(rng.nextInt(3))
      val addr = s"A${rng.nextInt(50)}"
      (i.toLong, s"CAT_$cls", dow, district, addr, lon, lat)
    }
    rows.toDF("event_id", "Category", "DayOfWeek", "PdDistrict", "Address", "X", "Y")
  }

  private val schema = CrimePipeline.Schema(
    "Category", Seq("DayOfWeek", "PdDistrict", "Address"), "X", "Y")

  test("pipeline reaches >=0.8 holdout accuracy on separable classes") {
    val (_, acc) = CrimePipeline.trainAndEvaluate(fixture, schema)
    assert(acc >= 0.8, s"accuracy=$acc")
  }

  test("trainAndEvaluateMetrics reports accuracy AND multi_logloss (ML6)") {
    val (_, m) = CrimePipeline.trainAndEvaluateMetrics(fixture, schema)
    assert(m("accuracy") >= 0.8, s"accuracy=${m("accuracy")}")
    // the reference trains on multi_logloss (crime.py:177); a confident
    // correct model on separable classes stays well under random guessing
    // (ln 3 ≈ 1.099 for 3 balanced classes)
    assert(!m("logLoss").isNaN && m("logLoss") > 0.0, s"logLoss=${m("logLoss")}")
    assert(m("logLoss") < math.log(3.0), s"logLoss=${m("logLoss")}")
  }

  test("StringIndexer uses alphabetAsc (sklearn LabelEncoder order)") {
    val df = Seq("zebra", "apple", "apple", "zebra", "zebra", "mango")
      .toDF("Category")
    val m = new StringIndexer().setInputCol("Category").setOutputCol("label")
      .setStringOrderType("alphabetAsc").fit(df)
    // frequencyDesc (Spark default) would put zebra first; alphabetAsc must not
    assert(m.labelsArray(0).toSeq == Seq("apple", "mango", "zebra"))
  }

  test("score() emits (Id, Category) with decoded string labels") {
    val (model, _) = CrimePipeline.trainAndEvaluate(fixture, schema)
    val scored = CrimePipeline.score(model, fixture, "event_id", schema)
    assert(scored.columns.toSeq == Seq("Id", "Category"))
    val cats = scored.select("Category").distinct()
      .collect().map(_.getString(0)).toSet
    assert(cats.subsetOf(Set("CAT_0", "CAT_1", "CAT_2")))
  }

  test("KMeans k=10 seed=0 is deterministic and covers all clusters") {
    // returns (centroids by index, member set per cluster index) for one
    // same-seed fit
    def run(): (Array[Array[Double]], Array[Set[Long]]) = {
      val assembled = new VectorAssembler().setInputCols(Array("X", "Y"))
        .setOutputCol("f").transform(fixture.select("event_id", "X", "Y"))
      val model = new KMeans().setK(10).setSeed(0L).setFeaturesCol("f")
        .setPredictionCol("c").fit(assembled)
      val byCluster = model.transform(assembled)
        .select("event_id", "c").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
        .groupBy(_._2).map { case (c, xs) => c -> xs.map(_._1).toSet }
      (model.clusterCenters.map(_.toArray),
        Array.tabulate(10)(i => byCluster.getOrElse(i, Set.empty[Long])))
    }
    // MLlib can permute cluster INDICES between same-seed fits
    // (distributed aggregation order: two same-seed fits have been seen
    // to return the same centroids shuffled), so clusters are
    // canonicalized by pairing each run-A centroid
    // with its NEAREST run-B centroid (ADVICE r13: pair under a
    // tolerance, then compare the member-set partition THROUGH the
    // pairing, always — the old conditional compare went near-dead under
    // drift, and its rounded-key Set could collapse two close centroids
    // to one key or flake at a rounding boundary). The pairing must be a
    // bijection within a RELATIVE epsilon; member sets must then agree
    // exactly through it. A sorted-sizes compare would be too weak: it
    // would accept a different partition with the same size distribution.
    val (ca, ma) = run(); val (cb, mb) = run()
    assert(ca.length == 10 && ma.forall(_.nonEmpty), "empty cluster")
    def relDist(a: Array[Double], b: Array[Double]): Double = {
      val num = math.sqrt(a.zip(b).map { case (x, y) =>
        (x - y) * (x - y) }.sum)
      val den = math.max(math.sqrt(a.map(x => x * x).sum),
        math.sqrt(b.map(x => x * x).sum)).max(java.lang.Double.MIN_NORMAL)
      num / den
    }
    val pairing = ca.indices.map(i =>
      i -> cb.indices.minBy(j => relDist(ca(i), cb(j))))
    assert(pairing.map(_._2).distinct.length == 10,
      s"centroid nearest-match pairing is not a bijection: $pairing")
    // Member-set compare through the pairing, tiered by how close the
    // paired centroids are (ADVICE r14): bit-identical centroids MUST
    // induce identical member sets (assignment is a pure function of the
    // centroids); under low-order float drift a near-boundary point can
    // legitimately flip between clusters, so non-bit-identical pairs get
    // a small symmetric-difference budget instead of a flaky exact gate.
    val bitIdentical = pairing.forall { case (i, j) =>
      ca(i).sameElements(cb(j)) }
    var flipped = 0L
    pairing.foreach { case (i, j) =>
      val d = relDist(ca(i), cb(j))
      assert(d <= 1e-6, f"paired centroids $i->$j differ: rel dist $d%.3g")
      if (bitIdentical)
        assert(ma(i) == mb(j),
          s"clusters $i->$j: bit-identical centroids, different member sets")
      else flipped += ((ma(i) diff mb(j)) union (mb(j) diff ma(i))).size
    }
    if (!bitIdentical) {
      val n = ma.map(_.size.toLong).sum
      // each flip counts twice (once leaving, once arriving); allow up to
      // 1% of points to sit near enough a boundary to flip under drift
      assert(flipped / 2 <= math.max(1L, n / 100),
        s"centroids drifted within 1e-6 but ${flipped / 2} of $n points " +
          "changed cluster — more than boundary noise")
    }
  }
}
