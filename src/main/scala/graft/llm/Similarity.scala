package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column `Array[Float]`
  * (SURVEY.md §7.2.5).
  *
  * Numeric contract: all arithmetic is double-precision with a sequential
  * left-fold over the array (`aggregate`), matching the oracle's list_sum
  * fold order, so scores are reproducible to the last bit before rounding.
  *
  * Scale design: brute-force top-k broadcasts the (small) query set and
  * keeps per-partition heaps via TakeOrderedAndProject — no N×Q shuffle of
  * score rows. The LSH variant bounds candidate generation for pair search;
  * at 100 TB brute force is the rerank stage, LSH/IVF the recall stage.
  */
object Similarity {

  /** The embedding table's id and vector columns. */
  private val IdCol = "vec_id"
  private val VecCol = "embedding"

  /** [[lshCosinePairs]]' banding: 4 bands of 2 hyperplanes, each
    * projection floored into buckets of width 1.0. Read by the DuckDB
    * replay too ([[LlmQueries]] `lshCosineOracleSql`). */
  private[llm] val LshBands = 4
  private[llm] val LshRowsPerBand = 2
  private[llm] val LshBucketLength = 1.0

  /** [[rrfFuse]]'s rank offset c, also read by its DuckDB replay. */
  private[llm] val RrfC = 60.0

  /** Sequential-fold dot product in double precision — a codegen'd custom
    * Expression ([[graft.functions.DotProduct]]): same fold order as the
    * HOF `aggregate(zip_with(...))` form (bit-identical results), but a
    * primitive loop with zero per-row allocation.
    */
  def dotProduct(a: Column, b: Column): Column =
    graft.functions.ArrayMath.dot(a, b)

  /** Sequential-fold squared L2 norm in double precision. */
  def normSq(a: Column): Column = dotProduct(a, a)

  def l2Norm(a: Column): Column = sqrt(normSq(a))

  /** Unit-normalize, mapping zero vectors to zero vectors instead of
    * tripping ANSI division-by-zero (Spark 4 default: x/0 is an ERROR,
    * not infinity — one zero-norm row in 100 TB would kill the job).
    */
  def unitNormalize(a: Column): Column = {
    // norm computed ONCE via array_repeat, then an elementwise zip —
    // embedding the norm inside a transform lambda re-evaluates the O(d)
    // sum per element (O(d²) per vector). Zero vectors divide by 1 and
    // stay zero instead of tripping ANSI division-by-zero.
    val n = l2Norm(a)
    val safe = when(n === 0.0, lit(1.0)).otherwise(n)
    zip_with(a, array_repeat(safe, size(a)), (x, nn) => x.cast("double") / nn)
  }

  /** Layout-independent input for a seeded centroid fit: hash-repartition
    * on the id column and sort within partitions, so random-init KMeans
    * samples the IDENTICAL layout no matter how the source files were
    * split or how many cores read them. Without this, the rows-only
    * hashes downstream of a centroid fit (semantic dedup, IVF) are stable
    * only for one file layout — they would drift across clusters even
    * with a fixed seed. 8 partitions also bounds the iterative fit's
    * per-pass scheduling (the fit re-walks its input ~20×; at 100 TB it
    * runs offline on an ~nlist·10³-point sample with the same keyed
    * layout).
    */
  private def fitLayout(df: DataFrame): DataFrame =
    df.repartition(8, col("id")).sortWithinPartitions("id")

  /** Cosine similarity; zero-norm inputs yield NaN (IEEE 0/0 semantics,
    * matching what DuckDB's double division produces) rather than an
    * ANSI runtime error.
    */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0.0, lit(Double.NaN))
      .otherwise(dotProduct(a, b) / denom)
  }

  /** Per-label centroids in long form (label, pos, mean): the class
    * prototype operator (nearest-centroid classification, cluster
    * summaries). posexplode → groupBy(label, pos) is one shuffle keyed by
    * (label, dim) — scales with labels×dim, never corpus size, and the
    * partial aggregation does the heavy summing map-side.
    */
  def labelCentroids(corpus: DataFrame): DataFrame =
    // the no-op alias holds an expression id: without it every later id
    // shifts and q_source_vocab's Expand order moves in a full Dev plan dump
    corpus.select(col("label").as("label"),
        posexplode(col(VecCol)).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(round(sum(col("x").cast("double")) / count(lit(1)), 6).as("mean"))
      .select(col("label"), col("pos").cast("bigint").as("pos"), col("mean"))

  /** A candidate's rank within its query: `score` descending, ties to the
    * lower neighbor id — the order every top-k search below keeps, and
    * the one their DuckDB oracles replay ([[OracleSql.searchRank]]).
    */
  def searchRank(score: String): Column =
    row_number().over(
      Window.partitionBy("query_id").orderBy(desc(score), asc("neighbor_id")))

  /** Brute-force cosine top-k: every query (a small broadcast set) against
    * the full corpus, rank per query. Exact baseline for the ANN variants.
    */
  def knnBruteForce(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(IdCol).as("query_id"), col(VecCol).as("qv")))
    val c = corpus.select(col(IdCol).as("neighbor_id"), col(VecCol).as("cv"))
    c.join(q, col("query_id") =!= col("neighbor_id")) // broadcast nested loop
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("cv"), col("qv")), 6).as("score"))
      .withColumn("rk", searchRank("score").cast("bigint"))
      .filter(col("rk") <= k)
      .select("query_id", "rk", "neighbor_id", "score")
  }

  /** Matryoshka two-stage retrieval (Kusupati et al., arXiv 2205.13147):
    * rank the corpus by cosine on the first `dHead` dims only — the MRL
    * prefix that carries most of the signal at a fraction of the
    * compute — keep each query's top `m`, then re-rank those `m` by
    * full-dimension cosine and emit the top `k`.
    *
    * Scale shape: the head pass is where 100 TB economics live — with
    * embeddings stored dim-truncatable (MRL's point), stage 1 reads and
    * multiplies dHead/d of the bytes (16/64 here = 4×); stage 2's full
    * vectors are fetched for only m rows per query. Both stages are the
    * proven broadcast-queries + per-query WindowGroupLimit top-k plan;
    * the rerank stage's window runs over the already-m-bounded frame.
    *
    * Oracle parity: both stages rank on round-6 cosines with id-asc tie
    * break — the q_knn_cosine contract, applied twice.
    */
  def mrlRerank(corpus: DataFrame, queries: DataFrame, dHead: Int, m: Int,
                k: Int): DataFrame = {
    val q = broadcast(queries.select(col(IdCol).as("query_id"),
      col(VecCol).as("qv")))
    val c = corpus.select(col(IdCol).as("neighbor_id"), col(VecCol).as("cv"))
    val cand = c.join(q, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cv"), col("qv"),
        round(cosine(slice(col("cv"), 1, dHead), slice(col("qv"), 1, dHead)),
          6).as("head_score"))
      .withColumn("cand_rk", searchRank("head_score"))
      .filter(col("cand_rk") <= m)
    cand
      .select(col("query_id"), col("neighbor_id"), col("head_score"),
        round(cosine(col("cv"), col("qv")), 6).as("score"))
      .withColumn("rk", searchRank("score").cast("bigint"))
      .filter(col("rk") <= k)
      .select("query_id", "rk", "neighbor_id", "score", "head_score")
  }

  /** MMR candidate stage: each query's top-`m` by rounded cosine. Kept as
    * its own method so the WindowGroupLimit plan gate (PlanSpec) can
    * assert on the candidate subtree BEFORE [[mmrSelect]] checkpoints it
    * (a checkpointed frame plans as Scan ExistingRDD, hiding the window
    * pushdown from the final plan).
    */
  def mmrCandidates(corpus: DataFrame, queries: DataFrame, m: Int): DataFrame = {
    val q = broadcast(queries.select(col(IdCol).as("query_id"),
      col(VecCol).as("qv")))
    val c = corpus.select(col(IdCol).as("neighbor_id"), col(VecCol).as("cv"))
    c.join(q, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cv"),
        cosine(col("cv"), col("qv")).as("rel_raw"))
      .withColumn("rel", round(col("rel_raw"), 6))
      .withColumn("rk", searchRank("rel"))
      .filter(col("rk") <= m)
  }

  /** Maximal-Marginal-Relevance diverse top-k (Carbonell & Goldstein,
    * SIGIR 1998): from each query's top-`m` cosine candidates, greedily
    * select `k` maximizing λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) — the
    * diversity-selection step between retrieval and use (dedup-aware
    * few-shot example picking, diverse eval-set construction).
    *
    * Scale shape: stage 1 is [[knnBruteForce]]'s broadcast top-m (the
    * exact-rerank economics); stage 2 builds the per-query candidate
    * similarity matrix — m²-bounded, ≤m(m−1)/2 pair rows per query,
    * never corpus-sized; stage 3 runs the greedy loop per query via
    * `flatMapGroups`, the documented legitimate imperative case (a
    * sequential argmax against a growing exclusion set has no
    * declarative form; per-group state is O(m²)).
    *
    * Oracle parity: candidate top-m ranks on the round-6 cosine (the knn
    * contract), but the greedy SCORES on the UNROUNDED cosines — the
    * sequential-fold doubles that are bit-identical across engines — and
    * reports floor(score·1e6) micro-units. Feeding the display-rounded
    * values back into arithmetic is the trap: two engines' round(x, 6)
    * doubles can sit one ulp apart on .5e-6 ties, and a first cut that
    * scored on them diverged by exactly 1 micro-unit at sf0.01. The
    * (1.0 − λ) subtraction is performed, not pre-folded, so both engines
    * see the same 0.30000000000000004; ties break on id asc; round 1
    * scores λ·rel (empty S ⇒ no diversity term).
    */
  def mmrSelect(corpus: DataFrame, queries: DataFrame, m: Int, k: Int,
                lambda: Double): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // round-21: `cand` feeds both pair sides AND the singles sentinel —
    // materialize so the corpus-wide scoring pass runs once, not 3×.
    // WindowGroupLimit pushdown on the candidate stage is asserted
    // pre-checkpoint by PlanSpec via [[mmrCandidates]].
    val cand = mmrCandidates(corpus, queries, m)
      .localCheckpoint()
    val a = cand.select(col("query_id"), col("neighbor_id").as("id_a"),
      col("rel_raw").as("relraw_a"), col("rel").as("rel_a"),
      col("cv").as("va"))
    val b = cand.select(col("query_id"), col("neighbor_id").as("id_b"),
      col("rel_raw").as("relraw_b"), col("rel").as("rel_b"),
      col("cv").as("vb"))
    val pairs = a.join(b, Seq("query_id")).filter(col("id_a") < col("id_b"))
      .select(col("query_id"), col("id_a"), col("relraw_a"), col("rel_a"),
        col("id_b"), col("relraw_b"), col("rel_b"),
        cosine(col("va"), col("vb")).as("sim_raw"))
    // the pair frame alone drops 1-candidate pools (no id_a < id_b row
    // exists, so the query never reaches flatMapGroups and silently
    // vanishes while the oracle emits its single candidate at rk=1) —
    // union every candidate as a sentinel self-row so each pool is
    // registered independently of pair existence
    // sentinel = SELF-pair (id_b == id_a): impossible in `pairs` (strict
    // id_a < id_b), and collision-free for every id value — an absolute
    // sentinel like Long.MinValue would silently drop a legitimate id
    // that happened to equal it
    val singles = cand.select(col("query_id"),
      col("neighbor_id").as("id_a"), col("rel_raw").as("relraw_a"),
      col("rel").as("rel_a"), col("neighbor_id").as("id_b"),
      lit(0.0).as("relraw_b"), lit(0.0).as("rel_b"), lit(0.0).as("sim_raw"))
    val grouped = pairs.unionByName(singles)
      .as[(Long, Long, Double, Double, Long, Double, Double, Double)]
    val lam = lambda
    val kk = k
    grouped.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val relRaw = scala.collection.mutable.Map.empty[Long, Double]
      val relOut = scala.collection.mutable.Map.empty[Long, Double]
      val sim = scala.collection.mutable.Map.empty[(Long, Long), Double]
      it.foreach { case (_, ia, rra, ra, ib, rrb, rb, s) =>
        relRaw(ia) = rra; relOut(ia) = ra
        if (ib != ia) {
          relRaw(ib) = rrb; relOut(ib) = rb
          sim((ia, ib)) = s; sim((ib, ia)) = s
        }
      }
      val remaining = scala.collection.mutable.SortedSet.empty[Long] ++ relRaw.keys
      val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Double, Long)]
      var rk = 1L
      while (rk <= kk && remaining.nonEmpty) {
        var bestId = -1L
        var bestScore = Double.NegativeInfinity
        // ascending-id iteration + strict > keeps the smallest id on ties,
        // matching the oracle's ORDER BY score DESC, neighbor_id ASC
        remaining.foreach { cid =>
          val score =
            if (selected.isEmpty) lam * relRaw(cid)
            else lam * relRaw(cid) -
              (1.0 - lam) * selected.map(sid => sim((cid, sid))).max
          if (score > bestScore) { bestScore = score; bestId = cid }
        }
        out += ((qid, rk, bestId, relOut(bestId),
          math.floor(bestScore * 1000000.0).toLong))
        selected += bestId
        remaining -= bestId
        rk += 1
      }
      out.iterator
    }.toDF("query_id", "rk", IdCol, "rel", "mmr_micro")
      .orderBy("query_id", "rk")
  }

  /** Exact cosine near-neighbor pairs on a bounded block (verification
    * form; the LSH variant below is the scale path). Self-join + HOF
    * cosine stays fully inside whole-stage codegen.
    */
  def cosinePairsExact(corpus: DataFrame, minCosine: Double,
                       maxId: Long): DataFrame = {
    // normalize once per vector (N ops), dot per pair (N² ops) — cheaper
    // than per-pair norms, and the exact op order the oracle SQL uses
    val v = corpus.filter(col(IdCol) < maxId)
      .select(col(IdCol).as("id"),
        unitNormalize(col(VecCol)).as("u"))
      // round-21: both self-join sides read `v` — materialize so the
      // (interpreted-HOF) unit normalization runs once per vector
      .localCheckpoint()
    val a = v.select(col("id").as("id_a"), col("u").as("ua"))
    val b = v.select(col("id").as("id_b"), col("u").as("ub"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", round(dotProduct(col("ua"), col("ub")), 6))
      .filter(col("cosine") >= minCosine)
      .select("id_a", "id_b", "cosine")
  }

  /** Brute-force top-k over INT8-QUANTIZED corpus vectors — the search
    * half of the asymmetric-quantization memory cut (the build half is
    * the oracle-checked q_embedding_int8): each unit vector stores
    * (min, scale, 256-level codes) — 4× smaller than float32 at 100 TB —
    * and queries score against the DEQUANTIZED values
    * `mn + code*sc` (asymmetric: the query stays full precision, the
    * standard SDC-vs-ADC tradeoff). Every float op (normalize, quantize,
    * dequantize, sequential-fold dot) is op-order-shared with the DuckDB
    * oracle, so the result hashes exactly despite being "approximate"
    * relative to the float search — the approximation is deterministic.
    * Same broadcast-queries / corpus-never-shuffled plan as
    * [[knnBruteForce]]; agreement with the float top-k is spec-gated.
    */
  def int8TopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(IdCol).as("query_id"),
      unitNormalize(col(VecCol)).as("qu")))
    val quant = corpus
      .select(col(IdCol).as("neighbor_id"),
        unitNormalize(col(VecCol)).as("u"))
      .withColumn("mn", array_min(col("u")))
      .withColumn("sc", Int8Quant.scale(col("mn"), array_max(col("u"))))
      .withColumn("dq", transform(col("u"), x =>
        Int8Quant.dequant(x, col("mn"), col("sc"))))
      .select("neighbor_id", "dq")
    quant.join(q, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dotProduct(col("qu"), col("dq")), 6).as("score"))
      .withColumn("rk", searchRank("score").cast("bigint"))
      .filter(col("rk") <= k)
      .select("query_id", "rk", "neighbor_id", "score")
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) of
    * two per-query rankings: rrf(d) = Σ_lists 1/([[RrfC]] + rank_d), the
    * score-free way to combine retrieval signals (here: full-precision
    * cosine and the int8 quantized ranking — the hybrid-search shape;
    * at 100 TB the lists fused are whatever recall stages ran). Rank
    * positions, not scores, cross lists, so incomparable score scales
    * fuse cleanly. Shape: both inputs are already top-k-per-query
    * bounded frames, so the full-outer join and the rank window touch
    * ≤2k rows per query. Parity: 1/(c + rank) from exact integer ranks,
    * fixed a-then-b addition order, floor nano-units output (the mmr
    * lesson: never round a derived double for display).
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    val ra = a.select(col("query_id"), col("neighbor_id"),
      col("rk").as("rk_a"))
    val rb = b.select(col("query_id"), col("neighbor_id"),
      col("rk").as("rk_b"))
    ra.join(rb, Seq("query_id", "neighbor_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfC) + col("rk_a").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfC) + col("rk_b").cast("double")), lit(0.0)))
      .withColumn("rk", searchRank("rrf").cast("bigint"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"),
        floor(col("rrf") * lit(1000000000.0)).cast("bigint").as("rrf_nano"))
  }

  /** SemDeDup-style cluster-scoped near-duplicate pairs (Abbas et al.
    * 2023, public arXiv 2303.09540): partition the embedding space with
    * KMeans, then search for cosine >= `minCosine` pairs only WITHIN each
    * cell — the candidate volume drops from N² to Σ|cell|² ≈ N²/nlist,
    * and every emitted pair carries its exact cosine (precision 1.0 by
    * construction; recall is the clustering tradeoff, gated in
    * SimilaritySpec against [[cosinePairsExact]]).
    *
    * Scale: the within-cell join is a plain equi-join on cell id — at
    * 100 TB, nlist grows with the corpus so cells stay bounded (the
    * SemDeDup paper runs ~100k clusters for web scale), and the cell
    * assignment is a partitioned table, exactly the IVF index shape. The
    * centroid fit reuses the IVF economics: a bounded sample, few
    * iterations, seeded.
    */
  def semanticDedupPairs(corpus: DataFrame, minCosine: Double,
                         maxId: Long): DataFrame = {
    val (nlist, nassign) = (8, 2)
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    import spark.implicits._
    val corpusU = corpus.filter(col(IdCol) < maxId)
      .select(col(IdCol).as("id"), unitNormalize(col(VecCol)).as("u"))
      .withColumn("uv", array_to_vector(col("u")))
      // round-21: read by the KMeans fit AND the assignment pass —
      // materialize so unit-normalization runs once. The fit's input
      // layout stays identical (fitLayout re-keys deterministically
      // downstream of this checkpoint), so the pinned digests hold.
      .localCheckpoint()
    // 5 iterations, not convergence: cells only need to be a balanced
    // space partition (the IVF index-build economics) — recall is what's
    // gated, and it holds with margin vs the 0.5 gate
    val model = new KMeans().setK(nlist).setSeed(42L)
      .setInitMode("random").setMaxIter(5)
      .setFeaturesCol("uv").setPredictionCol("cell")
      .fit(fitLayout(corpusU))
    // multi-probe membership: each vector joins its `nassign` nearest
    // cells — pairs straddling one boundary still meet in the other's
    // cell. Candidates grow ~nassign²/nlist of N²; recall is what the
    // overlap buys (the per-id rank window is nlist-bounded, per-key)
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toSeq) }
      .toSeq.toDF("cell", "centroid")
    // each assignment row carries the id's FULL probed cell set (a second
    // window over the same id partitioning — no extra exchange), so the
    // pair join below can dedupe multi-probe collisions with a plain
    // filter instead of shuffling the candidate list
    val assigned = corpusU.select(col("id"), col("u"))
      .crossJoin(broadcast(centroids))
      .withColumn("csim", dotProduct(col("u"), col("centroid")))
      .withColumn("crk", row_number().over(
        Window.partitionBy("id").orderBy(desc("csim"), asc("cell"))))
      .filter(col("crk") <= nassign)
      .withColumn("cells", collect_set(col("cell"))
        .over(Window.partitionBy("id")))
      .select("id", "u", "cell", "cells")
      // round-21: self-joined below — materialize so the centroid-rank
      // assignment (crossJoin + window) runs once, not per join side
      .localCheckpoint()
    // a pair sharing several probed cells meets once per shared cell;
    // keeping only the meeting in the SMALLEST shared cell (array_min ∘
    // array_intersect on the carried cell sets — a codegen filter,
    // order-insensitive) is exactly-once by construction, so the verify
    // runs once per candidate with no dedup exchange of the candidate
    // list and its vector payloads
    assigned.as("x").join(assigned.as("y"),
        col("x.cell") === col("y.cell") && col("x.id") < col("y.id") &&
          col("x.cell") ===
            array_min(array_intersect(col("x.cells"), col("y.cells"))))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.u").as("ua"), col("y.u").as("ub"))
      .withColumn("cosine", round(dotProduct(col("ua"), col("ub")), 6))
      .filter(col("cosine") >= minCosine)
      .select("id_a", "id_b", "cosine")
  }

  /** IVF (inverted-file) approximate top-k: the other standard ANN scale
    * path. Build: KMeans centroids over the corpus (unit vectors), each
    * vector assigned to its nearest cell. Search: a query probes only its
    * `nprobe` nearest cells — candidate volume is N·(nprobe/nlist) instead
    * of N, and the cell assignment is a plain equi-join, so at 100 TB the
    * index is just a partitioned table keyed by cell id.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val (nlist, nprobe) = (16, 4)
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    import spark.implicits._

    def unit(df: DataFrame): DataFrame = df.select(col(IdCol).as("id"),
      unitNormalize(col(VecCol)).as("u"))

    // round-21: read by the KMeans fit AND the post-fit assignment —
    // materialize so unit-normalization runs once (fitLayout re-keys
    // deterministically downstream, so the pinned digests hold)
    val corpusU = unit(corpus).withColumn("uv", array_to_vector(col("u")))
      .localCheckpoint()
    // index-build economics (what faiss does for IVF training): centroids
    // don't need a converged clustering, only a balanced space partition —
    // random init + few iterations replaces k-means||'s multiple full
    // passes, cutting the in-query build cost without moving recall
    // (recall is gated in SimilaritySpec). At 100 TB the same fit runs
    // offline on an ~nlist·10³-point sample.
    val model = new KMeans().setK(nlist).setSeed(42L)
      .setInitMode("random").setMaxIter(10)
      .setFeaturesCol("uv").setPredictionCol("cell")
      .fit(fitLayout(corpusU))
    val assigned = model.transform(corpusU)
      .select(col("id").as("neighbor_id"), col("u").as("cu"), col("cell"))
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq
      .toDF("cell", "centroid")

    val probes = unit(queries).select(col("id").as("query_id"), col("u").as("qu"))
      .crossJoin(broadcast(centroids))
      .withColumn("csim", dotProduct(col("qu"), col("centroid")))
      .withColumn("crk", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("csim"), asc("cell"))))
      .filter(col("crk") <= nprobe)
      .select("query_id", "qu", "cell")

    probes.join(assigned, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(dotProduct(col("cu"), col("qu")), 6))
      .withColumn("rk", searchRank("score").cast("bigint"))
      .filter(col("rk") <= k)
      .select("query_id", "rk", "neighbor_id", "score")
  }

  /** Product-quantization (PQ) approximate top-k — the third standard ANN
    * scale path next to LSH (pair recall) and IVF (cell pruning). Build:
    * each unit vector splits into `m` subvectors; a per-subspace KMeans
    * codebook (`codebookSize` centroids) quantizes every subvector to a
    * 1-byte code, so a 64-dim float vector compresses to `m` bytes plus
    * the id — the representation that lets a 100 TB corpus live in
    * cluster memory. Search (ADC): per query, a tiny m×codebookSize
    * lookup table of subspace dot products; each candidate's score is m
    * array lookups summed — a full scan whose per-row cost is O(m), not
    * O(dim), with the LUT broadcast. The codebooks and LUT are
    * index-build metadata (bounded by m·codebookSize·subdim and the
    * query-set size, never by the corpus), so building them driver-side
    * is the faiss shape, not a driver-side data loop; at 100 TB the
    * codebook fit runs offline on a sample exactly like the IVF build.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 16): DataFrame = {
    val (codebookSize, shortlist, sampleN) = (32, 50, 2048)
    val spark = corpus.sparkSession
    import spark.implicits._

    // ---- build (bounded, driver-side — the faiss offline-train shape):
    // codebooks come from Lloyd's iterations over an id-prefix SAMPLE of
    // at most sampleN unit vectors. The collect is bounded by sampleN
    // regardless of corpus size; at 100 TB this is the offline index
    // build on a sample, exactly like the IVF centroid fit.
    // round-21: the codebook sample, the encode pass and the exact
    // rerank all read unit-normalized corpus vectors — materialize them
    // once (per-row deterministic, so the pinned digests hold)
    val corpusU = corpus
      .select(col(IdCol).as("neighbor_id"), unitNormalize(col(VecCol)).as("u"))
      .localCheckpoint()
    val sample = corpusU
      .orderBy("neighbor_id").limit(sampleN)
      .select("u").collect().map(_.getSeq[Double](0).toArray)
    if (sample.isEmpty) {
      // empty corpus: nothing to train codebooks on and nothing to find —
      // return zero rows with the contract schema instead of crashing
      // (the behavior every sibling search path already has)
      val spark = corpus.sparkSession
      import spark.implicits._
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("query_id", "rk", "neighbor_id", "score")
    }
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val d = dim / m
    val books: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      lloyd(sample.map(v => java.util.Arrays.copyOfRange(v, s * d, s * d + d)),
        codebookSize, iters = 10, seed = 42L + s)
    }

    // ---- encode: argmin over each subspace codebook, per row, no
    // shuffle — one codegen'd primitive loop ([[graft.functions.PqEncode]],
    // bit-identical to the HOF reference form below, spec-pinned). The
    // encode pass walks EVERY corpus vector, so at 100 TB it must stay
    // inside whole-stage codegen like DotProduct/CharEntropy.
    val staged = corpusU
      .select(col("neighbor_id"),
        graft.functions.PqEncode.pqEncode(col("u"), books).as("codes"))

    // ---- search (ADC): per-query LUT of subspace dot products, m array
    // lookups per candidate, shortlist by approximate score…
    val qU = queries
      .select(col(IdCol).as("query_id"), unitNormalize(col(VecCol)).as("qu"))
    val luts = qU.collect() // the QUERY set — bounded input, not corpus data
      .map { r =>
        val qu = r.getSeq[Double](1)
        val lut: Seq[Seq[Double]] = (0 until m).map { s =>
          val qsub = qu.slice(s * d, s * d + d)
          books(s).map(c => c.zip(qsub).map { case (a, b) => a * b }.sum).toSeq
        }
        (r.getLong(0), lut)
      }.toSeq.toDF("query_id", "lut")
    val short = staged.crossJoin(broadcast(luts))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("approx",
        aggregate(zip_with(col("codes"), col("lut"),
            (c, row) => element_at(row, c + 1)),
          lit(0.0), (acc, x) => acc + x))
      .withColumn("srk", searchRank("approx"))
      .filter(col("srk") <= shortlist)
      .select("query_id", "neighbor_id")

    // ---- …then EXACT rerank of the shortlist (what production PQ does):
    // the shortlist is Q·shortlist rows — broadcast it against the corpus
    // so only shortlisted vectors are ever re-read at full precision.
    val corpusVecs = corpusU.select(col("neighbor_id"),
      col("u").as("cu"))
    corpusVecs.join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(qU), Seq("query_id"))
      .withColumn("score", round(dotProduct(col("cu"), col("qu")), 6))
      .withColumn("rk", searchRank("score").cast("bigint"))
      .filter(col("rk") <= k)
      .select("query_id", "rk", "neighbor_id", "score")
  }

  /** Interpreted-HOF reference form of the PQ encode — the semantic
    * oracle [[graft.functions.PqEncode]] must match bit-for-bit
    * (SimilaritySpec): per subspace, squared distances fold
    * left-to-right and `array_position(array_min)` keeps the FIRST
    * minimal centroid. Not used in the production path (CodegenFallback,
    * three intermediate arrays per subspace per row).
    */
  def pqEncodeHofReference(u: Column,
                           books: Array[Array[Array[Double]]]): Column = {
    val m = books.length
    val d = books(0)(0).length
    array((0 until m).map { s =>
      val cents = typedlit(books(s).map(_.toSeq).toSeq)
      val sub = slice(u, s * d + 1, d)
      val dists = transform(cents, c =>
        aggregate(zip_with(sub, c, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, z) => acc + z))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)
  }

  /** Lloyd's k-means over a bounded in-memory sample (the PQ codebook
    * trainer): seeded distinct-point init, empty clusters keep their
    * previous centroid, fixed iteration count — fully deterministic.
    */
  private def lloyd(points: Array[Array[Double]], k: Int, iters: Int,
                    seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val n = points.length
    val d = points.head.length
    var cents = rnd.shuffle((0 until n).toVector).take(math.min(k, n))
      .map(i => points(i).clone).toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length, d)(0.0)
      val cnts = new Array[Int](cents.length)
      points.foreach { p =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < cents.length) {
          var s = 0.0; var j = 0
          while (j < d) { val t = p(j) - cents(c)(j); s += t * t; j += 1 }
          if (s < bd) { bd = s; best = c }
          c += 1
        }
        cnts(best) += 1
        var j = 0
        while (j < d) { sums(best)(j) += p(j); j += 1 }
      }
      cents = Array.tabulate(cents.length) { c =>
        if (cnts(c) == 0) cents(c)
        else Array.tabulate(d)(j => sums(c)(j) / cnts(c))
      }
    }
    cents
  }

  /** Embedding-cosine near-dedup: retain every vector that is not the
    * higher id of a pair with cosine ≥ `minCosine` — the embedding-space
    * analog of [[graft.llm.Dedup.nearDedupKeepFirst]] (semantic dedup:
    * same content re-encoded, translations, paraphrases). `pairs` is
    * pluggable so the caller picks the scale path: [[cosinePairsExact]]
    * on a bounded block (oracle-checkable) or [[lshCosinePairs]] at
    * corpus scale.
    */
  def cosineNearDupKeepFirst(corpus: DataFrame, pairs: DataFrame): DataFrame = {
    val drop = pairs.select(col("id_b").as(IdCol)).distinct()
    corpus.join(drop, Seq(IdCol), "left_anti")
  }

  /** LSH-bucketed near-neighbor pairs: seeded random-hyperplane projections
    * quantized into buckets, banded like MinHash (SURVEY §7.2.5 scale
    * path): docs sharing any band of bucket ids become candidates (a
    * bucket equi-join, never N²), then an exact cosine verify removes
    * every false positive. Deterministic: projections come from a fixed
    * seed, all math is codegen'd HOFs — no MLlib model state.
    */
  def lshCosinePairs(corpus: DataFrame, minCosine: Double): DataFrame = {
    val (bands, rowsPerBand) = (LshBands, LshRowsPerBand)
    // the dimension is inferred from the data (one row read), like an
    // MLlib fit(); an empty corpus has no row to infer from, and any
    // positive dim works there (zero rows produce zero pairs), so don't
    // throw. Null sizes (null embeddings) are filtered BEFORE take(1):
    // size(null) is a null slot and getInt would NPE — null vectors are
    // in-model for the rest of this function (the __ok guard nulls their
    // projections), so the inference must tolerate them too
    val d = corpus.select(size(col(VecCol)).as("__d"))
      .filter(col("__d").isNotNull).take(1).headOption
      .map(_.getInt(0)).getOrElse(1)
    val rng = new scala.util.Random(42L)
    val projections = Array.fill(bands * rowsPerBand, d)(rng.nextGaussian())
    // one validity check per VECTOR (not per hyperplane): right dimension
    // and no null elements. DotProduct == aggregate(zip_with(...))
    // bit-for-bit (same fold order) but codegen'd; unlike zip_with it
    // folds the common prefix of mismatched lengths and reads null slots
    // as garbage, so malformed vectors must null their projections
    // explicitly — null band keys are what keep them out of every bucket.
    val unit = corpus.select(col(IdCol).as("id"),
        unitNormalize(col(VecCol)).as("u"))
      .withColumn("__ok",
        size(col("u")) === d && !exists(col("u"), x => x.isNull))
      // round-21: `unit` feeds the projection/bucketing chain AND both
      // exact-verify sides — materialize so unit-normalization (an
      // interpreted HOF) runs once per vector, not 3-4×
      .localCheckpoint()
    val bucketCols = projections.zipWithIndex.map { case (g, i) =>
      floor(when(col("__ok"), dotProduct(col("u"), typedlit(g.toSeq)))
        .otherwise(lit(null)) / LshBucketLength)
        .cast("long").as(s"b$i")
    }
    val bucketed = unit.select(col("id") +: col("u") +: bucketCols.toSeq: _*)
    val bandCols = (0 until bands).map { b =>
      val slice = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => col(s"b$i"))
      // a vector shorter than `d` zip_withs to null projections;
      // xxhash64 skips null children, which would collapse EVERY row into
      // one bucket (silent N²). Null band keys never equi-join instead.
      when(slice.map(_.isNull).reduce(_ || _), lit(null).cast("long"))
        .otherwise(xxhash64((lit(b) +: slice): _*)).as(s"band$b")
    }
    // every row carries ALL band keys, so Dedup.firstBandJoin can emit a
    // pair agreeing on k bands once, not k times
    val buckets = Dedup.explodeBands(
        bucketed.select(col("id") +: bandCols: _*), bands)
      // round-21: self-joined below — materialize so the 8 hyperplane
      // projections are computed once per vector, not per join side
      .localCheckpoint()
    val cand = Dedup.firstBandJoin(buckets, buckets, bands,
        col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    val ua = unit.select(col("id").as("id_a"), col("u").as("ua"))
    val ub = unit.select(col("id").as("id_b"), col("u").as("ub"))
    cand.join(ua, "id_a").join(ub, "id_b")
      .withColumn("cosine", round(dotProduct(col("ua"), col("ub")), 6))
      .filter(col("cosine") >= minCosine)
      .select("id_a", "id_b", "cosine")
  }
}
