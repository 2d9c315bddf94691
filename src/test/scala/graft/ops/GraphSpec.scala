package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftTestSpark

class GraphSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private def ranks(edges: Seq[(String, String, Long)]): Map[String, Double] =
    Graph.pageRank(edges.toDF("src", "dst", "weight"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  /** Independent driver-side reference: dense weighted PageRank with
    * uniform dangling-mass redistribution — the semantics Graph.pageRank
    * must reproduce distributedly.
    */
  private def refRanks(edges: Seq[(String, String, Long)], iters: Int = 10,
                       damping: Double = 0.85): Map[String, Double] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size.toDouble
    val wout = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum.toDouble).toMap
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dmass = nodes.filterNot(wout.contains).map(r).sum
      val in = edges.groupBy(_._2).view.mapValues(
        _.map(e => r(e._1) * e._3 / wout(e._1)).sum).toMap
      r = nodes.map(v => v ->
        ((1.0 - damping) / n +
          damping * (in.getOrElse(v, 0.0) + dmass / n))).toMap
    }
    r
  }

  private def assertClose(got: Map[String, Double], want: Map[String, Double]): Unit = {
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-12, s"$k: $v vs ${want(k)}") }
  }

  test("symmetric 2-cycle sits at the uniform fixed point") {
    val r = ranks(Seq(("a", "b", 1L), ("b", "a", 1L)))
    assert(math.abs(r("a") - 0.5) < 1e-12)
    assert(math.abs(r("b") - 0.5) < 1e-12)
  }

  test("dangling mass is redistributed: ranks sum to 1 on a dangling graph") {
    // a→b, a→c: b and c have no out-edges — without redistribution ~81%
    // of the mass would leak over 10 rounds
    val r = ranks(Seq(("a", "b", 1L), ("a", "c", 1L)))
    assert(math.abs(r.values.sum - 1.0) < 1e-9, s"mass leaked: ${r.values.sum}")
    assert(math.abs(r("b") - r("c")) < 1e-12)
    assert(r("b") > r("a")) // b/c receive a's mass; a only teleport + dangling share
    assertClose(r, refRanks(Seq(("a", "b", 1L), ("a", "c", 1L))))
  }

  test("chain with a sink matches the dense reference and conserves mass") {
    val e = Seq(("a", "b", 1L), ("b", "c", 2L), ("c", "d", 1L), ("a", "d", 3L))
    val r = ranks(e) // d is a pure sink
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    assertClose(r, refRanks(e))
  }

  test("weights matter: the heavier edge's target outranks the lighter's") {
    val e = Seq(("a", "b", 3L), ("a", "c", 1L), ("b", "a", 1L), ("c", "a", 1L))
    val r = ranks(e)
    assert(r("b") > r("c"))
    // strongly-connected: mass is conserved up to fp noise
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    assertClose(r, refRanks(e))
  }

  test("deterministic across runs") {
    val e = Seq(("a", "b", 2L), ("b", "c", 1L), ("c", "a", 5L), ("a", "c", 1L))
    assert(ranks(e) == ranks(e))
  }

  test("triangleStats: K4 plus a pendant — hand-counted census, " +
      "duplicate/reversed input edges collapse") {
    // K4 on 1-4 (4 triangles, every member in 3) + pendant 5 on node 1;
    // edge list deliberately dirty: duplicates and reversed pairs
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
        (3L, 4L), (1L, 5L), (2L, 1L), (3L, 1L))
      .toDF("id_a", "id_b")
    val got = Graph.triangleStats(edges).collect()
      .map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("deg"), r.getAs[Long]("n_tri"),
          r.getAs[Long]("lcc_micro")))).toMap
    assert(got == Map(
      1L -> ((4L, 3L, 500000L)),   // 3 of C(4,2)=6 wedges closed
      2L -> ((3L, 3L, 1000000L)),  // all wedges closed: clique member
      3L -> ((3L, 3L, 1000000L)),
      4L -> ((3L, 3L, 1000000L)),
      5L -> ((1L, 0L, 0L))))       // pendant: deg<2 degrades to 0
  }

  test("kCore: peeling removes the pendant but keeps the clique; chains " +
      "dissolve entirely; cascades peel transitively") {
    // K4 + pendant, k=3: pendant goes, K4 survives with degrees 3
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L)).toDF("id_a", "id_b")
    val core = Graph.kCore(k4, k = 3).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("deg_in_core")).toMap
    assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // a chain has no 2-core; removal must CASCADE (ends peel first,
    // exposing the middle) — the one-pass filter would wrongly keep b-c
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    assert(Graph.kCore(chain, k = 2).count() == 0)
    // triangle + tail: the tail cascades off, the triangle is the 2-core
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val c2 = Graph.kCore(tri, k = 2).collect().map(_.getLong(0)).toSet
    assert(c2 == Set(1L, 2L, 3L))
  }

  test("kCore: an empty edge list returns an empty core, not a wait") {
    // no edges → the degree frame is empty and its observed min(deg) is
    // null, which is convergence: the call must return, not wait on the
    // Observation (the Future turns a hang into a failure)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val core = Await.result(Future(Graph.kCore(empty, k = 2).collect()), 2.minutes)
    assert(core.isEmpty)
  }

  test("kCore: maxIter bounds the peel rounds; one short fails loudly") {
    // a 6-node chain loses both ends every round: 3 peel rounds to empty.
    // maxIter counts peel rounds, so 3 converges and 2 fails loudly
    val chain6 = (1L to 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    assert(Graph.kCore(chain6, k = 2, maxIter = 3).count() == 0)
    val before = GraftTestSpark.persistedRdds
    val err = intercept[IllegalArgumentException](
      Graph.kCore(chain6, k = 2, maxIter = 2))
    assert(err.getMessage.contains("k-core peel did not converge in 2 rounds"))
    // the throw frees the last round's edge and degree checkpoints too
    assert(GraftTestSpark.persistedRdds -- before == Set.empty[Int])
  }

  test("pageRank keeps only the checkpoint its result reads") {
    val before = GraftTestSpark.persistedRdds
    val ranks = Graph.pageRank(
      Seq(("a", "b", 1L), ("b", "c", 2L), ("a", "c", 1L)).toDF("src", "dst", "weight"))
    val left = GraftTestSpark.persistedRdds -- before
    // the edges, nodes, norm, dangling and superseded rank rounds are
    // freed; the last round is the result's one scan
    val scanned = ranks.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet
    assert(left.size == 1 && left == scanned, s"left $left, result reads $scanned")
    assert(math.abs(ranks.collect().map(_.getDouble(1)).sum - 1.0) < 1e-9)
    graft.Checkpoints.release(ranks)
    assert(GraftTestSpark.persistedRdds -- before == Set.empty[Int])
  }
}
