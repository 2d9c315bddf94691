package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sampling operators for training-data pipelines: budgeted prefixes,
  * water-filling allocation, md5-rank and weighted samples, temperature
  * mixing, round-robin interleave, class balancing and sequence packing.
  */
object Sampling {

  /** Per-group budgeted prefix: the rows whose running `weightCol` total
    * (ordered by `orderCol` within each `groupCol`) stays within `budget`
    * — the mixture-sampling primitive behind "take N tokens from source X"
    * schedules. One window pass, shuffle keyed by group; the ordering
    * column must be unique per group or the cumulative frame (RANGE on
    * ties) makes membership ambiguous. Appends `cum_weight`.
    */
  def budgetedPrefix(df: DataFrame, groupCol: String, orderCol: String,
                     weightCol: String, budget: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(orderCol)
    df.withColumn("cum_weight", sum(col(weightCol)).over(w))
      .filter(col("cum_weight") <= budget)
  }

  /** Deterministic uniform sample: keep the `k` rows with the smallest
    * md5(id) per group. Hash-rank sampling is reproducible across engines
    * and runs (unlike rand(seed), whose stream depends on partitioning),
    * uniform for any id distribution, and one window pass per group —
    * Spark plans it as WindowGroupLimit, so only k rows per group survive
    * the shuffle. md5 (not xxhash64) keeps it DuckDB-replayable.
    */
  /** Water-filling budget allocation: given per-group totals `c_g` and a
    * budget B = `budgetFrac` × Σc, the unique level T with
    * Σ min(c_g, T) = B; each group gets `min(c_g, T)` — small groups keep
    * everything, the cap on large groups redistributes their excess until
    * the budget is exactly met. The mixture-design primitive behind
    * "cap every domain at its fair share" corpus budgets.
    *
    * The textbook solution sorts groups and scans the prefix — a GLOBAL
    * window over the per-group frame, exactly the shape this engine
    * rewrote away for unbounded keys. Instead T is found by integer
    * BISECTION on the monotone f(t) = Σ min(c_g, t): ~log2(max c) scalar
    * aggregates over the cached per-group frame, never a global sort, so
    * the operator holds at any group cardinality (domains, not a fixed
    * taxonomy). The final level uses the same integer operands
    * `(B - Σ_{c<T} c) / #{c ≥ T}` as the oracle's sorted-scan form, so
    * the two engines' doubles are bit-identical, not just close.
    *
    * Returns (group, c, alloc round-6, capped). Requires B < Σc (a
    * budgetFrac < 1); callers wanting the degenerate uncapped case can
    * skip the operator.
    */
  def waterfillAlloc(perGroup: DataFrame, groupCol: String, cCol: String,
                     budgetFrac: Double): DataFrame = {
    val counts = perGroup.select(col(groupCol).as("g"),
      col(cCol).cast("long").as("c")).cache()
    // coalesce: on an empty frame both aggregates are NULL — degrade to
    // total 0 so the B < Σc contract require below fires with its own
    // message instead of a driver NPE
    val head = counts.agg(coalesce(sum(col("c")), lit(0L)),
      coalesce(max(col("c")), lit(0L))).head()
    val (total, maxC) = (head.getLong(0), head.getLong(1))
    val budget = math.floor(total * budgetFrac).toLong
    require(budget < total, s"budget $budget must be < total $total")
    // evaluate f(t) = Σ min(c, t) at MANY levels in one aggregate pass —
    // the search is then log_64 instead of log_2 (4 passes for c up to
    // 16M, not 24), and each pass is one job over the cached frame
    def fMany(ts: Seq[Long]): Seq[Long] = {
      val row = counts.agg(
        sum(least(col("c"), lit(ts.head))),
        ts.tail.map(t => sum(least(col("c"), lit(t)))): _*).head()
      ts.indices.map(row.getLong)
    }
    // max integer t with f(t) <= budget; invariant f(lo) <= B < f(hi)
    var lo = 0L
    var hi = maxC
    var fLo = 0L
    while (hi - lo > 1) {
      val step = math.max(1L, (hi - lo) / 64)
      val grid = (lo + step until hi by step).distinct
      val vals = fMany(grid)
      val zipped = grid.zip(vals)
      val below = zipped.filter(_._2 <= budget)
      if (below.nonEmpty) { lo = below.last._1; fLo = below.last._2 }
      hi = zipped.collectFirst { case (t, v) if v > budget => t }.getOrElse(hi)
    }
    val exactHit = fLo == budget
    // integer operands of the level, matching the oracle's sorted scan:
    // below-water mass and at-or-above-water group count
    val r =
      if (exactHit)
        counts.agg(
          coalesce(sum(when(col("c") < lo, col("c"))), lit(0L)),
          count(when(col("c") >= lo, lit(1)))).head()
      else
        counts.agg(
          coalesce(sum(when(col("c") <= lo, col("c"))), lit(0L)),
          count(when(col("c") > lo, lit(1)))).head()
    val (below, nAbove) = (r.getLong(0), r.getLong(1))
    val level = (budget - below).toDouble / nAbove
    // the returned frame depends only on the scalar `level`, so build it
    // from the UNCACHED input and release the bisection's cache now —
    // otherwise every invocation (bench reruns, ScaleInvariantsSpec)
    // leaks one cached frame into executor storage for the session
    // lifetime
    counts.unpersist()
    perGroup.select(col(groupCol).as("g"), col(cCol).cast("long").as("c"))
      .select(col("g").as(groupCol), col("c"),
        round(least(col("c").cast("double"), lit(level)), 6).as("alloc"),
        (col("c").cast("double") > lit(level)).cast("bigint").as("capped"))
  }

  def md5RankSample(df: DataFrame, groupCol: String, idCol: String,
                    k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= k)
  }

  /** Temperature-flattened source mixing (the T knob of multilingual /
    * multi-source LM training, Conneau & Lample arXiv 1901.07291):
    * per-source draw counts ∝ n_s^(1/T) scaled to `budget` rows — T=1
    * keeps the natural distribution, T→∞ approaches uniform, T=2 (the
    * common default) is √n flattening. Draws are md5-rank (layout- and
    * engine-reproducible), capped at each source's population.
    *
    * Engine-parity design: n^(1/T) is a libm `pow` whose last ulp is NOT
    * portable across engines — so weights enter integer space FIRST
    * (floor(w·10⁶)) and the allocation budget·w_micro // ΣW is pure
    * integer arithmetic, identical everywhere. T=2 (the oracled path)
    * computes √n via `sqrt`, which IS correctly-rounded IEEE on both
    * engines — general T keeps `pow` and is documented reproducible but
    * not oracle-exact to the last ulp. Σ over sources is an integer
    * sum — no float merge-order hazard.
    *
    * Scale: NOTHING group-sized touches the driver — per-group counts,
    * weights, and allocations stay a distributed frame keyed by the
    * group, so `groupCol` may be domain-cardinality (1e7 groups), not
    * just a source taxonomy. Only two 1-row scalars collect (ΣW and
    * max alloc — the latter because WindowGroupLimit needs a LITERAL
    * rank cutoff, the classBalance lesson); the per-row rank then joins
    * the allocation frame un-hinted (AQE broadcasts it when small).
    */
  def temperatureMix(df: DataFrame, groupCol: String, idCol: String,
                     budget: Long, temperature: Double): DataFrame = {
    require(temperature > 0.0, s"temperature must be positive: $temperature")
    val weight =
      if (temperature == 2.0) sqrt(col("__n").cast("double"))
      else pow(col("__n").cast("double"), lit(1.0 / temperature))
    val weighted = df.groupBy(groupCol)
      .agg(count(lit(1)).cast("long").as("__n"))
      .withColumn("__wm", floor(weight * lit(1e6)).cast("long"))
      .cache()
    // one aggregate pass for both scalars: the integer weight mass and
    // the null-group guard (a null group has no defensible allocation —
    // fail with the contract, not a downstream NPE). ΣW and the
    // budget·w_micro product run in DECIMAL(38,0): at domain-cardinality
    // groups over corpus-sized counts both pass 2⁶³ (1e7 groups ×
    // √(1e12)·1e6 weight ≈ 1e19 mass; budget 1e9 × weight 1e12 ≈ 1e21),
    // where a Long product is an ANSI ARITHMETIC_OVERFLOW — the same
    // product-overflow class skewReport routes through DECIMAL. Each
    // __wm itself fits a Long for any per-group count below ~9e12 even
    // at T=1 (and far beyond at the T≥2 flattening this mix exists for).
    val dec = "DECIMAL(38,0)"
    val head = weighted.agg(
      coalesce(sum(col("__wm").cast(dec)), lit(0L).cast(dec)),
      coalesce(sum(col(groupCol).isNull.cast("long")), lit(0L))).head()
    val (wSum, nNull) = (head.getDecimal(0), head.getLong(1))
    require(nNull == 0L, s"$groupCol keys must be non-null")
    // wSum = 0 iff df is empty (every non-empty group has __wm ≥ 1e6):
    // the alloc frame is empty then, so the divisor is never read — any
    // non-zero value keeps the expression total instead of div-by-zero
    val divisor = if (wSum.signum == 0) "1" else wSum.toPlainString
    val alloc = weighted.select(col(groupCol),
      least(col("__n"),
        expr(s"CAST($budget AS $dec) * CAST(__wm AS $dec) " +
          s"DIV CAST($divisor AS $dec)")).as("__alloc"))
    // max over an empty alloc frame is NULL, not a row-less result:
    // degrade to cutoff 0 (empty output with the contract schema)
    val maxRow = alloc.agg(max(col("__alloc"))).head()
    val maxAlloc = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    // the returned plan depends only on the alloc FRAME SHAPE and the
    // scalar cutoff; release the cache now (waterfillAlloc pattern) and
    // let the final query recompute the one cheap map-side-combine agg
    weighted.unpersist()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= lit(maxAlloc)) // literal: WindowGroupLimit fires
      .join(alloc, groupCol)
      .filter(col("rk") <= col("__alloc"))
      .drop("__alloc")
  }

  /** Balanced round-robin interleave — the deterministic "training
    * order" shuffle: rows take a global position by (within-bucket
    * md5-rank, then bucket), so consecutive positions cycle through the
    * buckets (sources, difficulty bands, languages) instead of streaming
    * one bucket at a time. Order-sensitive training (curriculum, loss
    * spikes from domain runs) wants exactly this; rand() shuffles are
    * layout-dependent and irreproducible across engines.
    *
    * Scale: the rank window partitions per bucket (the md5RankSample
    * shape); the global position is ARITHMETIC (rank − 1) · nBuckets +
    * bucketIndex — no global sort over the DATA, no second window. The
    * bucket index itself is a rank over the DISTINCT-bucket frame
    * (cardinality-sized, not data-sized), computed by a distributed
    * range-partitioned sort + zipWithIndex — nothing bucket-sized ever
    * touches the driver, so `bucketCol` may be domain-cardinality, not
    * just a source taxonomy. Only the bucket COUNT collects (one
    * scalar). A writer then range-partitions on `pos`, which is the one
    * global exchange any total order costs.
    *
    * Bucket order is the sort order of the bucket's STRING form
    * (deterministic, which is the contract; ASCII taxonomies order
    * identically in every engine).
    */
  def roundRobinInterleave(df: DataFrame, bucketCol: String,
                           idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val b = df.select(col(bucketCol).cast("string").as("__b")).distinct()
    val head = b.agg(count(lit(1)),
      coalesce(sum(col("__b").isNull.cast("long")), lit(0L))).head()
    val (n, nNull) = (head.getLong(0), head.getLong(1))
    require(nNull == 0L, s"$bucketCol keys must be non-null")
    // distinct buckets → total sort order → stable dense index. The sort
    // is a range-partitioned exchange over the bucket frame only;
    // zipWithIndex adds one partition-size count job — the standard
    // scalable "rank without a single-partition window" shape.
    val idx = b.orderBy("__b").as[String].rdd.zipWithIndex()
      .toDF("__b", "__bi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(bucketCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rk", row_number().over(w).cast("bigint"))
      // join on the CAST key so a non-string bucket column can't smuggle
      // in a lossy numeric coercion of the compare; un-hinted — AQE
      // broadcasts the index frame when it is taxonomy-small
      .withColumn("__b", col(bucketCol).cast("string"))
      .join(idx, "__b")
      .withColumn("pos", (col("__rk") - 1L) * n + col("__bi"))
      .drop("__rk", "__bi", "__b")
  }

  /** Balanced per-class downsampling to the MINORITY class size — the
    * class-rebalancing pass before training on skewed labels. Same
    * md5-rank draw as [[md5RankSample]] (layout/engine-reproducible,
    * unlike rand(seed)).
    *
    * The cutoff is collected to the driver first (ONE aggregate row — the
    * bounded-scalar pattern of waterfillAlloc) so the rank filter is a
    * LITERAL: that is what lets Catalyst plan a WindowGroupLimit and keep
    * ≤n_min rows per class per input partition ahead of the exchange
    * (plan-gated in PlanSpec). A first cut carried the cutoff as a 1-row
    * broadcast column instead — plan-clean but WindowGroupLimit-blind,
    * so every row of every class crossed the shuffle; at a billion rows
    * per majority class that is the whole cost of the operator.
    */
  def classBalance(df: DataFrame, classCol: String,
                   idCol: String): DataFrame = {
    // min over zero classes is NULL (empty input, e.g. an upstream
    // filter removed everything): cutoff 0 keeps the operator total —
    // an empty result with the contract schema, not a driver NPE
    val minRow = df.groupBy(classCol).agg(count(lit(1)).as("__n"))
      .agg(min(col("__n"))).head()
    val nMin = if (minRow.isNullAt(0)) 0L else minRow.getLong(0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(classCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= lit(nMin))
  }

  /** Weighted sampling WITHOUT replacement, k per group (Efraimidis &
    * Spirakis 2006, the exponential-keys formulation): each row draws a
    * deterministic uniform u ∈ (0,1] and competes on the exponential key
    * -ln(u)/w — the k smallest keys per group are exactly a weighted
    * sample without replacement. The uniform comes from the first 8 hex
    * digits of md5(id) (not rand(seed), whose stream is partition-layout
    * dependent), so the sample is
    * reproducible across engines, runs, and repartitions: v ∈ [0,2^32)
    * is exact in a double, u = (v+1)/2^32 never hits 0, and both engines
    * evaluate the same IEEE ln/divide on identical operands. One window
    * pass per group, planned as WindowGroupLimit — only k rows per group
    * survive each input partition before the shuffle, so the operator
    * holds at any group size (the per-domain sampling primitive of a
    * mixture-weighted corpus build). Requires weight > 0 (caller
    * filters); weight 0 would divide to +Inf and sort last anyway, but
    * the E-S estimator is undefined there.
    */
  def weightedSample(df: DataFrame, groupCol: String, idCol: String,
                     weightCol: String, k: Int): DataFrame = {
    val v = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("bigint")
    val u = (v + lit(1L)).cast("double") / lit(4294967296.0)
    val key = -log(u) / col(weightCol).cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("es_key"), col(idCol))
    df.withColumn("es_key", key)
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= k)
  }

  /** Sequence packing: assign each row to a fixed-budget bin by the
    * running `weightCol` total BEFORE it (ordered by `orderCol` within
    * `groupCol`) — the greedy streaming packer that turns a document
    * stream into ~`binBudget`-token training sequences. bin_id =
    * floor(tokens_before / budget): deterministic, one window pass, and
    * embarrassingly parallel across groups (at corpus scale the group is
    * the shard/source key, so no global sort exists anywhere). A row
    * larger than the remaining slack spills into the next bin — standard
    * greedy packing slack, bounded by one max-doc per bin.
    *
    * Like [[budgetedPrefix]], `orderCol` must be unique per group: the
    * running total uses a ROWS frame, and tied order keys would make the
    * tie group's internal order — hence bin membership — run-dependent.
    */
  def packBins(df: DataFrame, groupCol: String, orderCol: String,
               weightCol: String, binBudget: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(orderCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.withColumn("__before", coalesce(sum(col(weightCol)).over(w), lit(0L)))
      .withColumn("bin_id", expr(s"__before DIV ${binBudget}L"))
      .drop("__before")
  }
}
