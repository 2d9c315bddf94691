package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.Checkpoints

/** Iterative graph analytics over edge lists — the same
  * join-aggregate-per-round shape as
  * [[graft.llm.Dedup.connectedComponents]]: each round is one shuffle
  * keyed by node, lineage cut by localCheckpoint (a 10-round loop would
  * otherwise compound a 10-deep join plan) in a [[graft.Checkpoints]] scope.
  */
object Graph {

  /** [[pageRank]]'s round count and damping factor, also read by the
    * DuckDB unroll of q_pagerank ([[EventQueries]] `pageRankOracleSql`). */
  private[ops] val PageRankIters = 10
  private[ops] val PageRankDamping = 0.85

  /** Weighted PageRank. `edges` = (src, dst, weight); out-edge
    * probabilities are weight / out-strength. Dangling mass (rank sitting
    * on nodes with no out-edges) is redistributed uniformly each round —
    * the full stochastic fix, so Σrank = 1 at every iteration and the
    * ranks are a true probability distribution (downstream consumers
    * assume it). The per-round cost of the fix is one semi-join scalar
    * aggregate over |V| plus a broadcast of its 1-row result — nothing
    * node-quadratic. Ranks start uniform at 1/N; each of the
    * [[PageRankIters]] rounds is contribution-join + per-node sum +
    * dangling/teleport mix at damping [[PageRankDamping]]. At corpus
    * scale every stage is keyed by node id; nothing materializes more
    * than |E| + |V| rows.
    */
  def pageRank(edges: DataFrame): DataFrame = Checkpoints.scoped { s =>
    val damping = PageRankDamping
    // materialize the INPUT edge pipeline once: nodes and norm each
    // checkpoint independently, and without this the caller's (often
    // expensive) edge derivation — for q_pagerank, a full per-user
    // window over the events table — executes once per consumer
    val e = Checkpoints.checkpoint(edges)
    val nodes = Checkpoints.checkpoint(e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct())
    val n = nodes.count().toDouble
    val outStrength = e.groupBy("src").agg(sum(col("weight")).as("wout"))
    val norm = Checkpoints.checkpoint(e.join(outStrength, Seq("src"))
      .select(col("src"), col("dst"),
        (col("weight").cast("double") / col("wout")).as("p")))
    // nodes and norm are themselves checkpointed; the raw edge blocks
    // have no further reader
    s.release(e)
    // nodes with no out-edges: their whole rank is dangling mass
    val dangling = Checkpoints.checkpoint(nodes
      .join(norm.select(col("src").as("node")), Seq("node"), "left_anti"))

    var ranks = Checkpoints.checkpoint(nodes.withColumn("rank", lit(1.0 / n)))
    for (_ <- 1 to PageRankIters) {
      val dmass = ranks.join(dangling, Seq("node"), "left_semi")
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dmass"))
      val contrib = norm.join(ranks, norm("src") === ranks("node"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") * col("p")).as("in_mass"))
      val next = Checkpoints.checkpoint(nodes.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dmass))
        .select(col("node"),
          (lit((1.0 - damping) / n) +
            lit(damping) * (coalesce(col("in_mass"), lit(0.0)) +
              col("__dmass") / lit(n))).as("rank")))
      s.release(ranks)
      ranks = next
    }
    ranks
  }

  /** k-core decomposition by iterative peeling: repeatedly delete nodes
    * of degree < k until none remain; survivors form the k-core — the
    * "dense kernel" membership test (spam rings, tight dup communities)
    * that degree alone can't answer (a hub wired to leaves has high
    * degree and no core). Each round checkpoints the degree frame with
    * an [[Observation]] of `min(deg)`, which rides on the checkpoint job:
    * `min(deg) ≥ k` (or no edges left, a null min) means nothing would be
    * peeled, and that degree frame IS the result; otherwise one semi-join
    * filter peels every underqualified node at once. One checkpoint per
    * round, freed once superseded; rounds are bounded by the peel depth,
    * which is small on real graphs.
    *
    * `maxIter` bounds the PEEL rounds: a graph whose peel depth (rounds
    * that delete nodes) is at most `maxIter` converges; one deeper fails
    * loudly with "k-core peel did not converge" (GraphSpec pins the
    * boundary).
    *
    * Returns the k-core's (node, deg_in_core). Oracle-checked despite
    * the data-dependent round count: a fixpoint unrolled past its
    * convergence depth is stable, so the DuckDB oracle unrolls a
    * generous fixed round count (LlmQueries.kcoreOracleSql) and the
    * convergence `require` below guarantees any under-unroll surfaces as
    * a loud hash mismatch, never a silent wrong answer. Spec-level
    * contract on top: hand graphs with known cores, plus the invariant
    * every returned degree ≥ k.
    */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    Checkpoints.scoped { s =>
      @annotation.tailrec
      def peel(cur: DataFrame, peels: Int): DataFrame = {
        val obs = Observation()
        val deg = Checkpoints.checkpoint(cur.select(col("u").as("node"))
          .union(cur.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg_in_core"))
          .observe(obs, min(col("deg_in_core")).as("min_deg")))
        val converged = obs.get("min_deg") match {
          case null => true // no edges left: the k-core is empty
          case m: Long => m >= k
        }
        if (converged) deg
        else {
          require(peels < maxIter, s"k-core peel did not converge in $maxIter rounds")
          val keep = deg.filter(col("deg_in_core") >= k).select("node")
          val next = Checkpoints.checkpoint(cur
            .join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
            .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi"))
          s.release(cur)
          s.release(deg)
          peel(next, peels + 1)
        }
      }
      peel(Checkpoints.checkpoint(undirected(edges)), 0)
    }
  }

  /** The undirected simple graph of an (id_a, id_b) pair list: one (u, v)
    * row per edge with u < v, however the pair came; no self-loops. */
  private def undirected(edges: DataFrame): DataFrame =
    edges
      .select(least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()

  /** Degree assortativity: Pearson correlation of endpoint degrees over
    * the (symmetrized) edge list — positive means hubs link hubs
    * (social/community structure), negative means hubs link leaves
    * (star/broadcast structure). One degree aggregate, two joins keyed
    * by node, one corr — all single-pass; round-6 on the corr is the
    * q_corr_matrix contract.
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val canon = undirected(edges)
    val deg = canon.select(col("u").as("node"))
      .union(canon.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val withDeg = canon
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    // symmetrize: an undirected edge contributes both (du,dv) and (dv,du)
    withDeg.select(col("du").as("a"), col("dv").as("b"))
      .union(withDeg.select(col("dv").as("a"), col("du").as("b")))
      .agg((count(lit(1)) / 2).cast("bigint").as("n_edges"),
        round(corr(col("a"), col("b")), 6).as("assortativity"))
  }

  /** Per-node triangle counts + local clustering coefficient by
    * degree-ordered edge orientation (Suri & Vassilvitskii, WWW'11 —
    * "the curse of the last reducer"): orient every undirected edge from
    * its lower-(degree, id) endpoint, enumerate wedges at each source,
    * close them against the oriented edge list. Each triangle is built
    * exactly once, and — the scale point — wedge fan-out is bounded by
    * the ORIENTED out-degree (O(√m) for any graph), not the raw degree:
    * a celebrity node with 10⁸ neighbors produces almost no wedges
    * because nearly all its edges orient INTO it — the skew ("last
    * reducer") fix the naive neighbor self-join lacks.
    *
    * What orientation does NOT fix: the TOTAL wedge mass Σ C(d⁺, 2). A
    * near-dup graph is mega-cliques (measured: sf0.1's full minhash
    * graph is 837k edges over 2.9k nodes → 2.5e8 wedges), and an
    * n-clique owns Θ(n³) triangles — no enumeration beats its own
    * output size. At scale this op belongs on SPARSE similarity graphs
    * or a blocked/collapsed one (dedup exact groups first, or bound the
    * block the way q_triangle_stats does); ScaleInvariantsSpec proves the
    * blocked per-replica form, not a full dup-graph census.
    *
    * Every stage is an equi-join keyed by node or edge — wedge build on
    * src, closure on the (dst₁, dst₂) edge key. lcc = n_tri / C(deg, 2)
    * in micro-units (deg < 2 degrades to 0, the microRatio convention).
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val canon = undirected(edges)
    val deg = canon.select(col("u").as("node"))
      .union(canon.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).cast("bigint").as("deg"))
    val withDeg = canon
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"),
      when(uFirst, col("dv")).otherwise(col("du")).as("ddst"))
    val e1 = oriented.as("e1")
    val e2 = oriented.as("e2")
    val wedges = e1.join(e2,
        col("e1.src") === col("e2.src") &&
          (col("e1.ddst") < col("e2.ddst") ||
            (col("e1.ddst") === col("e2.ddst") &&
              col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
    val closer = oriented.select(col("src").as("b"), col("dst").as("c"))
    val triangles = wedges.join(closer, Seq("b", "c"))
    val perNode = triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).cast("bigint").as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        // integral div, not `/`: double division loses exactness once
        // deg² passes 2⁵³ (the Tables.eventsLayout nanos lesson); Dec
        // variant because n_tri ≤ C(deg,2) crosses Long.MaxValue/1e6 at
        // hub degree ~4.3e6 — routine in a near-dup clique graph. The
        // C(deg,2) DENOMINATOR is decimal too: the Long product
        // deg·(deg−1) wraps past hub degree ~3.04e9, and a plain DIV 2
        // would collapse back to Long before microRatioDec re-widens.
        // deg·(deg−1) is even, so the decimal /2 is exact.
        graft.llm.TextStats.microRatioDec(coalesce(col("n_tri"), lit(0L)),
          expr("CAST(deg AS DECIMAL(38,0)) * (deg - 1) / 2"))
          .as("lcc_micro"))
  }
}
