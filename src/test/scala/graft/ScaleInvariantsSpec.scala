package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ScaleReplicas.{Stride, Replicas => R}
import graft.llm.{CorpusQueries, Curation, Dedup, Similarity}
import graft.ops.{EventQueries, Graph, RelationalQueries, Sampling, StatsQueries}
import graft.stream.{Sessionize, StreamQueries}

/** Replication invariants: every query family run on R replicas of sf0.01
  * ([[ScaleReplicas]]) against the same query on the source corpus.
  *
  *  - Suffixed document replicas keep within-replica Jaccard structure and
  *    share no token across replicas, so near-dup output scales exactly ×R,
  *    never pairs or clusters across replicas, and its replica-0 slice
  *    equals the source result bit-for-bit.
  *  - Shared-vocab replicas multiply every corpus-frequency count by R with
  *    the vocabulary fixed, so ratios (rank order, PMI, KL, Zipf slope)
  *    stay put.
  *  - Event replicas keep timestamps and shift ids, so windowed counts are
  *    exactly ×R, and every per-user fold gives replica-0 rows identical to
  *    the source with exactly ×R rows overall.
  *
  * A rounding, overflow or plan divergence that one scale factor masks
  * surfaces here as a broken invariant. Every compare first checks that
  * its source side has rows: two empty frames pass any of them.
  */
class ScaleInvariantsSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = GraftTestSpark.spark

  private val src = ScaleReplicas.srcDir
  private lazy val out = ScaleReplicas.dir
  private lazy val shared = s"$out/shared"

  private val held = ArrayBuffer.empty[DataFrame]
  private def hold(df: DataFrame): DataFrame = { held += df; df }
  private def pin(df: DataFrame): DataFrame = hold(df.localCheckpoint())

  override def afterAll(): Unit = {
    held.foreach(Checkpoints.release)
    super.afterAll()
  }

  private def docs(dir: String) = Tables.table(spark, dir, "documents")
  private def replicaOf(c: String) = col(c).divide(Stride).cast("long")

  /** Counts the source side of a compare and refuses an empty one. */
  private def sourceRows(small: DataFrame, what: String): Long = {
    val n = small.count()
    info(s"$what: $n source rows")
    assert(n > 0, s"$what: the source side has no rows")
    n
  }

  private def nonEmpty[C <: Iterable[_]](small: C, what: String): C = {
    info(s"$what: ${small.size} source rows")
    assert(small.nonEmpty, s"$what: the source side has no rows")
    small
  }

  /** `r0` (a replica-0 slice) holds exactly `small`'s rows over `cols`
    * (all of `small`'s columns when none are named). Each side's rows are
    * unique, so every matched group counts 2. */
  private def assertSame(r0: DataFrame, small: DataFrame, what: String,
                         cols: String*): Unit = {
    sourceRows(small, what)
    val keys = if (cols.isEmpty) small.columns.toSeq else cols
    val odd = r0.unionByName(small).groupBy(keys.map(col): _*).count()
      .filter(col("count") =!= 2).count()
    assert(odd == 0, s"$odd odd rows")
  }

  private def assertScaled(big: DataFrame, small: DataFrame,
                           what: String): Unit = {
    val ns = sourceRows(small, what)
    val nb = big.count()
    assert(nb == ns * R, s"$nb vs $ns x$R")
  }

  /** Keys whose `n` in `big` is not exactly R× its `n` in `small`; a key
    * missing on either side counts. */
  private def offByR(small: DataFrame, big: DataFrame, keys: String*): Long =
    small.join(big.withColumnRenamed("n", "n_big"), keys, "full")
      .filter(coalesce(col("n_big"), lit(-1L)) =!=
        coalesce(col("n"), lit(-1L)) * R)
      .count()

  // --- near-dup pairs, clusters, windowed counts -------------------------
  private lazy val pairs =
    pin(Dedup.minhashNearDupPairs(docs(out), minJaccard = 0.9))
  private lazy val srcPairs =
    pin(Dedup.minhashNearDupPairs(docs(src), minJaccard = 0.9))

  test("replica-0 minhash pairs == source pairs bit-for-bit") {
    assertSame(pairs.filter(col("id_a") < Stride && col("id_b") < Stride),
      srcPairs, "minhash pairs", "id_a", "id_b", "jaccard")
  }

  test(s"minhash pair volume scales ~linearly (x$R within 5%)") {
    val srcTotal = sourceRows(srcPairs, "minhash pairs")
    val total = pairs.count()
    val ratio = total.toDouble / srcTotal
    assert(math.abs(ratio - R) / R < 0.05,
      f"$total vs $srcTotal: ratio $ratio%.2f, expected ~$R")
  }

  test("no dup cluster crosses replicas") {
    // connectedComponents returns a projection of its last checkpoint,
    // which Checkpoints.release in afterAll finds under the projection
    val comps = hold(Dedup.connectedComponents(
      docs(out).select(col("doc_id").as("id")), pairs))
    assert(pairs.count() > 0, "no pairs to cluster")
    val across = comps.filter(replicaOf("id") =!= replicaOf("component"))
      .count()
    assert(across == 0, s"$across nodes labeled across")
  }

  test(s"streaming windowed counts are exactly x$R") {
    val big = pin(StreamQueries.streamWindowedCounts(spark, out))
    // after `big` is pinned: both runs fill the same memory-sink table
    val small = StreamQueries.streamWindowedCounts(spark, src)
    sourceRows(small, "windowed counts")
    val bad = offByR(small, big, "win_start", "event_type")
    assert(bad == 0, s"$bad windows off")
  }

  // --- corpus LM family on the suffixed corpus ---------------------------
  // suffixed replicas share no shingles with replica 0, so replica-0
  // document frequencies are untouched by the growth
  test("replica-0 inter-doc duplication == source bit-for-bit") {
    assertSame(CorpusQueries.interDocDupFraction(spark, out)
        .filter(col("doc_id") < Stride),
      CorpusQueries.interDocDupFraction(spark, src), "inter-doc dup",
      "doc_id", "n_shingles", "interdup_micro")
  }

  test(s"replica-0 unigram logprob shifts by exactly ln($R)") {
    // disjoint-vocab growth leaves replica-0 token counts unchanged but
    // multiplies the total
    val lpSrc = CorpusQueries.unigramLogprob(spark, src)
      .select(col("doc_id"), col("avg_logprob").as("lp_src"))
    sourceRows(lpSrc, "unigram logprob")
    val lpBig = CorpusQueries.unigramLogprob(spark, out)
      .filter(col("doc_id") < Stride)
      .select(col("doc_id"), col("avg_logprob").as("lp_big"))
    val bad = lpSrc.join(lpBig, Seq("doc_id"))
      .filter(abs(col("lp_src") - col("lp_big") - math.log(R)) > 2e-6)
      .count()
    assert(bad == 0, s"$bad docs off")
  }

  test("replica-0 bigram logprob is corpus-size invariant") {
    // a conditional divides a bigram count by its prefix total, both
    // replica-local
    val lpSrc = CorpusQueries.bigramLogprob(spark, src)
      .select(col("doc_id"), col("avg_logprob").as("lp_src"))
    sourceRows(lpSrc, "bigram logprob")
    val lpBig = CorpusQueries.bigramLogprob(spark, out)
      .filter(col("doc_id") < Stride)
      .select(col("doc_id"), col("avg_logprob").as("lp_big"))
    val bad = lpSrc.join(lpBig, Seq("doc_id"))
      .filter(!(col("lp_src").isNull && col("lp_big").isNull) &&
        (col("lp_src").isNull || col("lp_big").isNull ||
          abs(col("lp_src") - col("lp_big")) > 1e-6))
      .count()
    assert(bad == 0, s"$bad docs off")
  }

  test(s"cohort retention cells are exactly x$R") {
    val small = EventQueries.cohortRetention(spark, src)
      .withColumnRenamed("users", "n")
    sourceRows(small, "cohort retention")
    val big = EventQueries.cohortRetention(spark, out)
      .withColumnRenamed("users", "n")
    val bad = offByR(small, big, "cohort_day", "day_offset")
    assert(bad == 0, s"$bad cells off")
  }

  // --- corpus-frequency family on the shared-vocab corpus ----------------
  test(s"heavy-hitter top-20 is exactly x$R, same order") {
    val hhSrc = nonEmpty(CorpusQueries.heavyHitters(spark, src).collect()
      .map(r => (r.getString(0), r.getLong(1) * R)).toSeq, "heavy hitters")
    val hhBig = CorpusQueries.heavyHitters(spark, shared).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(hhSrc == hhBig, s"src×R $hhSrc\nbig $hhBig")
  }

  test("zipf slope is invariant under shared-vocab growth") {
    // every head frequency multiplies by R, so ln f shifts uniformly by
    // ln R with ranks unchanged: covar/var, the slope, is invariant
    val zs = nonEmpty(CorpusQueries.zipfSlope(spark, src).collect().toSeq,
      "zipf slope").head
    val zb = CorpusQueries.zipfSlope(spark, shared).head()
    assert(zs.getLong(0) == zb.getLong(0) &&
      math.abs(zs.getDouble(1) - zb.getDouble(1)) <= 2e-6,
      s"src (${zs.getLong(0)}, ${zs.getDouble(1)}) vs " +
        s"big (${zb.getLong(0)}, ${zb.getDouble(1)})")
  }

  test(s"PMI top-10 invariant at min-count ${R}·20") {
    // with minCount scaled by R the surviving bigram set is identical
    // (R·bc ≥ R·20 ⟺ bc ≥ 20) and every PMI is exactly preserved:
    // ln((R·bc/R·btot) / ((R·c1/R·utot)·(R·c2/R·utot))) = pmi
    val cs = nonEmpty(CorpusQueries
      .collocationsWithMin(spark, src, CorpusQueries.collocMinCount)
      .collect().toSeq, "collocations")
    val cb = CorpusQueries.collocationsWithMin(spark, shared,
        CorpusQueries.collocMinCount.toLong * R)
      .collect().toSeq
    val ok = cs.length == cb.length && cs.zip(cb).forall { case (a, b) =>
      a.getString(0) == b.getString(0) &&
        a.getLong(1) * R == b.getLong(1) &&
        math.abs(a.getDouble(2) - b.getDouble(2)) <= 2e-6
    }
    assert(ok, s"src ${cs.map(_.toSeq)}\nbig ${cb.map(_.toSeq)}")
  }

  test("source KL invariant under shared-vocab growth") {
    // all counts scale ×R, so every ratio in KL(p_s ‖ p) is preserved
    val kSrc = nonEmpty(CorpusQueries.sourceKl(spark, src).collect()
      .map(r => r.getString(0) -> (r.getLong(1) * R, r.getDouble(2)))
      .toMap, "source KL")
    val kBig = CorpusQueries.sourceKl(spark, shared).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(kSrc.keySet == kBig.keySet && kSrc.forall { case (s, (n, kl)) =>
      kBig(s)._1 == n && math.abs(kBig(s)._2 - kl) <= 1e-6
    }, s"src×R $kSrc\nbig $kBig")
  }

  test("replica-0 char entropy == source bit-for-bit") {
    // per-row: replica-0 docs are byte-identical to the source docs
    assertSame(
      CorpusQueries.charEntropy(spark, out).filter(col("doc_id") < Stride),
      CorpusQueries.charEntropy(spark, src), "char entropy",
      "doc_id", "n_chars_split", "entropy")
  }

  // --- event families ----------------------------------------------------
  // event replicas preserve each user's sequence under shifted ids, so
  // transition counts are exactly ×R and transition probabilities, hence
  // the stationary ranks, are identical
  private lazy val prSrc = EventQueries.transitionPageRank(spark, src)
    .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  private lazy val prBig = EventQueries.transitionPageRank(spark, out)
    .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("pagerank invariant under event replication") {
    nonEmpty(prSrc, "pagerank")
    assert(prSrc.keySet == prBig.keySet &&
      prSrc.forall { case (n, r) => math.abs(prBig(n) - r) <= 2e-6 },
      s"src $prSrc\nbig $prBig")
  }

  test("pagerank mass sums to 1 on the replicated events") {
    // the dangling fix keeps Σrank = 1 at any scale
    val sum = prBig.values.sum
    assert(math.abs(sum - 1.0) <= 1e-5, s"sum $sum")
  }

  // EWMA is per-user with a bounded frame and replicas shift user_id: a
  // frame that leaked across users, or a bound that drifted with scale,
  // would break replica-0 identity here first
  private lazy val ewSrc = pin(StatsQueries.ewmaValues(spark, src))
  private lazy val ewBig = pin(StatsQueries.ewmaValues(spark, out))

  test("ewma values free of NaN/-0.0 (bit-identity precondition)") {
    // double-typed grouping normalizes -0.0→0.0 and treats NaN as equal,
    // the two cases where group-equality is weaker than bit identity.
    // Non-negative inputs under positive weights produce neither, so
    // pinning their absence upgrades the group-equality below to bit
    // identity. -0.0 is found via cast-to-string (which keeps the sign):
    // an `=== 0.0 && sign-test` conjunction is broken by
    // ConstantPropagation, which substitutes 0.0 into the sign test
    def degenerate(df: DataFrame): Long = df.filter(col("ewma").isNaN ||
      col("ewma").cast("string") === "-0.0").count()
    sourceRows(ewSrc, "ewma")
    val degen = degenerate(ewBig) + degenerate(ewSrc)
    assert(degen == 0, s"$degen degenerate rows")
  }

  test("replica-0 ewma == source bit-for-bit") {
    assertSame(ewBig.filter(col("event_id") < Stride), ewSrc, "ewma",
      "event_id", "ewma")
  }

  test(s"ewma rows scale x$R") {
    assertScaled(ewBig, ewSrc, "ewma")
  }

  test(s"decayed counts scale x$R under event replication") {
    // the horizon is unchanged and the same exp() terms are summed R
    // times; the query's round-6 absorbs summation-order noise
    val d1 = nonEmpty(EventQueries.decayedCounts(spark, src).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("decayed")).toMap,
      "decayed counts")
    val dR = EventQueries.decayedCounts(spark, out).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("decayed")).toMap
    assert(d1.keySet == dR.keySet && d1.forall { case (t, v) =>
      math.abs(dR(t) / R - v) <= 1e-5
    }, s"src $d1\nbig/R ${dR.view.mapValues(_ / R).toMap}")
  }

  // --- sampling and curation ---------------------------------------------
  test(s"waterfill allocations scale x$R on the shared corpus") {
    // every per-source count is exactly ×R, so the level and every
    // allocation scale ×R up to the floor() on the budget (≤ R/2
    // absolute) spread across capped groups
    def alloc(dir: String) = Sampling.waterfillAlloc(
        docs(dir).groupBy("source")
          .agg(sum(size(split(col("text"), " "))).cast("long").as("c")),
        "source", "c", 0.5)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("alloc")).toMap
    val a1 = nonEmpty(alloc(src), "waterfill")
    val aR = alloc(shared)
    assert(a1.keySet == aR.keySet && a1.forall { case (s, a) =>
      math.abs(aR(s) / R - a) <= 1.0
    }, s"src $a1\nbig/R ${aR.view.mapValues(_ / R).toMap}")
  }

  test("source cap: k per source, originals all kept at the source") {
    // copies tie their original's n_chars: a kept copy has fewer than
    // `cap` docs ranked above it, so fewer than `cap` originals rank
    // above its original, which the source run keeps too
    val kept1 = nonEmpty(Curation.sourceCap(spark, src).collect()
      .map(r => (r.getString(1), r.getLong(0))).toSet, "source cap")
    val keptR = Curation.sourceCap(spark, shared).collect()
      .map(r => (r.getString(1), r.getLong(0)))
    val perSrc = keptR.groupBy(_._1).values.map(_.length)
    val mapped = keptR.map { case (s, id) => (s, id % Stride) }.toSet
    assert(perSrc.forall(_ == Curation.capPerSource) && mapped.subsetOf(kept1),
      s"sizes ${perSrc.toSeq.sorted} stray ${(mapped -- kept1).take(5)}")
  }

  test(s"prefix jaccard: no cross-replica pairs, replica-0 exact, x$R") {
    // replica vocabularies are disjoint, so pairs never cross replicas;
    // each replica keeps its own 200-doc window
    val srcP = pin(Dedup.prefixJaccardPairs(docs(src), 0.9, maxId = 200L))
    val bigP = pin(Dedup.prefixJaccardPairs(
      docs(out).filter(col("doc_id") % Stride < 200L), 0.9,
      maxId = Long.MaxValue))
    val cross = bigP.filter(replicaOf("id_a") =!= replicaOf("id_b")).count()
    assert(cross == 0, s"$cross cross-replica pairs")
    assertSame(bigP.filter(col("id_a") < Stride), srcP, "prefix jaccard",
      "id_a", "id_b", "jaccard")
    assertScaled(bigP, srcP, "prefix jaccard")
  }

  // suffixed vocabularies keep every shingle's document frequency
  // replica-local, so replica-0 spans and their run geometry are exact
  private lazy val dsSrc = CorpusQueries.dupSpans(spark, src)
  private lazy val dsBig = pin(CorpusQueries.dupSpans(spark, out))

  test("replica-0 dup spans == source bit-for-bit") {
    assertSame(dsBig.filter(col("doc_id") < Stride), dsSrc, "dup spans",
      "doc_id", "n_tokens", "dup_tokens", "n_runs", "max_run", "dupspan_micro")
  }

  test(s"dup-span rows scale x$R") {
    assertScaled(dsBig, dsSrc, "dup spans")
  }

  test("weighted sample is layout-invariant, k per source") {
    // the md5-derived uniform makes the draw a pure function of
    // (id, weight), so any repartition selects the same sample
    val docs1 = docs(out).filter(col("n_chars") > 0L)
      .select(col("doc_id"), col("source"), col("n_chars"))
    def sel(df: DataFrame) = Sampling
      .weightedSample(df, "source", "doc_id", "n_chars", k = 10)
      .select("source", "rk", "doc_id")
    val a = sel(docs1)
    sourceRows(a, "weighted sample")
    val odd = a.unionByName(sel(docs1.repartition(64)))
      .groupBy("source", "rk", "doc_id").count()
      .filter(col("count") =!= 2).count()
    val perSource = a.groupBy("source").count()
      .filter(col("count") =!= 10L).count()
    assert(odd == 0 && perSource == 0,
      s"$odd odd rows, $perSource sources off")
  }

  test(s"robust z-score: med/MAD invariant, counts exactly x$R") {
    // R copies of every value keep all cumulative fractions, so
    // percentile_disc medians and MADs are identical
    def rz(dir: String) = StatsQueries.robustZscore(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n"),
        r.getAs[Double]("med"), r.getAs[Double]("mad"),
        r.getAs[Long]("n_outliers")))).toMap
    val r1 = nonEmpty(rz(src), "robust z-score")
    val rR = rz(out)
    assert(r1.keySet == rR.keySet && r1.forall {
      case (t, (n, med, mad, out1)) =>
        rR(t) == ((n * R, med, mad, out1 * R))
    }, s"src $r1\nbig $rR")
  }

  test(s"co-occurrence top-20 invariant, supports exactly x$R") {
    // every df, pair support and the doc total scale ×R, so lift
    // n_docs·N/(df_a·df_b) is exact (R²/R² cancels in integers before the
    // one division)
    val c1 = nonEmpty(CorpusQueries.cooccurPairs(spark, src).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2) * R,
        r.getAs[Double]("lift"))).toSeq, "co-occurrence")
    val cR = CorpusQueries.cooccurPairs(spark, shared).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getAs[Double]("lift"))).toSeq
    assert(c1 == cR, s"src×R $c1\nbig $cR")
  }

  test(s"trend slope/intercept scale x$R under replication") {
    // covariance and mean are both linear in the daily counts
    def trend(dir: String) = EventQueries.trendSlope(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n_days"),
        r.getAs[Double]("slope"), r.getAs[Double]("intercept")))).toMap
    val t1 = nonEmpty(trend(src), "trend slope")
    val tR = trend(out)
    assert(t1.keySet == tR.keySet && t1.forall { case (t, (nd, sl, ic)) =>
      val (ndB, slB, icB) = tR(t)
      ndB == nd && math.abs(slB / R - sl) <= 2e-6 &&
        math.abs(icB / R - ic) <= 2e-6
    }, s"src $t1\nbig $tR")
  }

  test(s"BPE merge sequence invariant, counts exactly x$R") {
    // the distinct-vocab frame is unchanged and every word weight is ×R
    def merges(dir: String) = CorpusQueries
      .bpeLearnFromDocs(docs(dir), CorpusQueries.bpeMerges).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    val m1 = nonEmpty(merges(src), "BPE merges").map(m => m.copy(_4 = m._4 * R))
    val mR = merges(shared)
    assert(m1 == mR, s"src×R $m1\nbig $mR")
  }

  // --- per-user temporal folds -------------------------------------------
  private lazy val scdSrc = EventQueries.scd2Intervals(spark, src)
  private lazy val scdBig = pin(EventQueries.scd2Intervals(spark, out))

  test("replica-0 scd2 == source bit-for-bit") {
    assertSame(scdBig.filter(col("user_id") < Stride), scdSrc, "scd2")
  }

  test(s"scd2 islands scale x$R") {
    assertScaled(scdBig, scdSrc, "scd2")
  }

  private lazy val attrSrc = EventQueries.attribution(spark, src)
  private lazy val attrBig = pin(EventQueries.attribution(spark, out))

  test("replica-0 attribution == source bit-for-bit") {
    assertSame(attrBig.filter(col("user_id") < Stride), attrSrc,
      "attribution")
  }

  test(s"attribution rows scale x$R") {
    assertScaled(attrBig, attrSrc, "attribution")
  }

  test(s"hll cube: exacts x$R, estimates within 5%") {
    // disjoint replica user sets: every exact distinct scales ×R
    val smallH = nonEmpty(StatsQueries.hllSketchCube(spark, src).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("exact_users")).toMap,
      "hll cube")
    val bigH = StatsQueries.hllSketchCube(spark, out).collect()
    assert(bigH.nonEmpty && bigH.forall { r =>
      val (exact, est) =
        (r.getAs[Long]("exact_users"), r.getAs[Long]("est_users"))
      exact == smallH(r.getString(0)) * R &&
        math.abs(est - exact) <= exact * 0.05
    }, bigH.mkString(", "))
  }

  test(s"source overlap: shared x$R, coefficient invariant") {
    // suffixing renames token sets bijectively: shared counts scale ×R
    // and floor(1e6·Rs/Rm) == floor(1e6·s/m)
    def matrix(dir: String) = CorpusQueries.sourceOverlap(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("shared"), r.getAs[Long]("overlap_micro")))).toMap
    val smallO = nonEmpty(matrix(src), "source overlap")
    val bigO = matrix(out)
    assert(bigO.keySet == smallO.keySet && smallO.forall {
      case (k, (s, m)) => bigO(k) == ((s * R, m))
    }, s"src $smallO\nbig $bigO")
  }

  // the census runs on the blocked graph only (the full minhash graph is
  // mega-cliques, see the Graph.triangleStats scaladoc): each replica's
  // id % Stride < 200 block is suffix-isomorphic to the source block
  private def blockCensus(dir: String) = Graph.triangleStats(
    Dedup.ngramJaccardPairs(docs(dir).filter(col("doc_id") % Stride < 200),
      n = 1, minJaccard = 0.9, maxId = Long.MaxValue))
  private lazy val triSrc = blockCensus(src)
  private lazy val triBig = pin(blockCensus(out))

  test("replica-0 blocked triangle census == source bit-for-bit") {
    assertSame(triBig.filter(col("node") < Stride), triSrc, "triangle census")
  }

  test(s"blocked triangle census scales x$R") {
    assertScaled(triBig, triSrc, "triangle census")
  }

  // replicated users have identical histories: dwell populations are R
  // copies, so discrete percentiles are invariant while n scales ×R
  test(s"dwell percentiles invariant, n x$R") {
    def dwell(dir: String) = StatsQueries.dwellPercentiles(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getAs[Long]("n"),
        r.getAs[Long]("p50_us"), r.getAs[Long]("p90_us"),
        r.getAs[Long]("p99_us")))).toMap
    val smallD = nonEmpty(dwell(src), "dwell percentiles")
    val bigD = dwell(out)
    assert(bigD.keySet == smallD.keySet && smallD.forall {
      case (k, (n, p50, p90, p99)) => bigD(k) == ((n * R, p50, p90, p99))
    }, s"src $smallD\nbig $bigD")
  }

  test(s"new/returning users scale x$R") {
    def nvr(dir: String) = EventQueries.newVsReturning(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("new_users"), r.getAs[Long]("returning_users"))))
      .toMap
    val smallN = nonEmpty(nvr(src), "new/returning")
    val bigN = nvr(out)
    assert(bigN.keySet == smallN.keySet && smallN.forall {
      case (k, (nu, ru)) => bigN(k) == ((nu * R, ru * R))
    }, s"src $smallN\nbig $bigN")
  }

  test(s"session stats scale x$R, bounce share invariant") {
    def ss(dir: String) = StreamQueries.sessionStats(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_sessions"), r.getAs[Long]("bounces"),
          r.getAs[Long]("bounce_micro"), r.getAs[Long]("total_events"),
          r.getAs[Long]("total_duration_us")))).toMap
    val smallS = nonEmpty(ss(src), "session stats")
    val bigS = ss(out)
    assert(bigS.keySet == smallS.keySet && smallS.forall {
      case (k, (n, b, bm, te, td)) =>
        bigS(k) == ((n * R, b * R, bm, te * R, td * R))
    }, s"src $smallS\nbig $bigS")
  }

  // the strictly-after per-user fold sees identical per-user streams in
  // every replica: step counts and conversions scale ×R, while
  // percentile_disc over an R-fold replicated multiset picks the same
  // value (position ⌈q·RN⌉ lands in original value ⌈qN⌉'s block)
  test(s"funnel step counts scale x$R") {
    def fs(dir: String) = RelationalQueries.funnelSteps(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val smallF = nonEmpty(fs(src), "funnel steps")
    val bigF = fs(out)
    assert(bigF.keySet == smallF.keySet &&
      smallF.forall { case (k, n) => bigF(k) == n * R },
      s"src $smallF\nbig $bigF")
  }

  test(s"conversions x$R, latency percentiles invariant") {
    def ft(dir: String) = StatsQueries.funnelTime(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val small = nonEmpty(ft(src), "funnel time").head
    val big = ft(out).head
    assert(big == ((small._1 * R, small._2, small._3)),
      s"src $small big $big")
  }

  // suffixing renames tokens but keeps token counts, so chunk offsets,
  // sizes and row counts replicate exactly, and replica 0 (unsuffixed)
  // matches down to the chunk md5s
  private lazy val chunkSrc = CorpusQueries.chunkDocs(spark, src)
  private lazy val chunkBig = pin(CorpusQueries.chunkDocs(spark, out))

  test("replica-0 chunking == source bit-for-bit incl. md5") {
    assertSame(chunkBig.filter(col("doc_id") < Stride), chunkSrc, "chunking")
  }

  test(s"chunk rows scale x$R") {
    assertScaled(chunkBig, chunkSrc, "chunking")
  }

  // --- layout invariance of the md5-ranked draws -------------------------
  test("temperature mix is layout-invariant, budget-bounded") {
    // the draw is a pure function of (id, group, alloc)
    val docs1 = docs(out).select(col("doc_id"), col("source"))
    def sel(df: DataFrame) = Sampling.temperatureMix(df, "source", "doc_id",
        budget = 20000L, temperature = 2.0)
      .select("source", "doc_id")
    val a = pin(sel(docs1))
    val total = sourceRows(a, "temperature mix")
    val odd = a.unionByName(sel(docs1.repartition(64)))
      .groupBy("source", "doc_id").count()
      .filter(col("count") =!= 2).count()
    assert(odd == 0 && total <= 20000L, s"$odd odd rows, total $total")
  }

  test("interleave is layout-invariant, positions unique") {
    val docs1 = docs(out).select(col("doc_id"), col("source"))
    def sel(df: DataFrame) =
      Sampling.roundRobinInterleave(df, "source", "doc_id")
    val a = pin(sel(docs1))
    sourceRows(a, "interleave")
    val odd = a.unionByName(sel(docs1.repartition(64)))
      .groupBy("source", "doc_id", "pos").count()
      .filter(col("count") =!= 2).count()
    val dupPos = a.groupBy("pos").count().filter(col("count") > 1).count()
    assert(odd == 0 && dupPos == 0, s"$odd odd rows, $dupPos dup positions")
  }

  test(s"class balance: every class kept at x$R the source minority") {
    val nMinSrc = docs(src).groupBy("source").count()
      .agg(min(col("count"))).head().getLong(0)
    val keptCounts = Sampling.classBalance(
        docs(out).select(col("doc_id"), col("source")), "source", "doc_id")
      .groupBy("source").count().select(col("count")).distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(keptCounts == Seq(nMinSrc * R), s"$keptCounts vs ${nMinSrc * R}")
  }

  // --- similarity family on orthogonal-subspace replicas -----------------
  // replica i's 64-dim vectors live in dims [64i, 64(i+1)) of a 64R-dim
  // space. Zero padding adds exact +0.0 terms to the float dot and norm
  // sums, so within-replica cosines are identical to the source, while
  // every cross-replica cosine is ±0.0 and can never outrank a strictly
  // positive score. Brute-force kNN must therefore return the source top-k
  // through the replicated corpus, and another replica's result must be
  // the exact id-shift of it (ties break by id; a uniform shift keeps the
  // order).
  private val Dim = 64
  private lazy val srcEmb = Tables.table(spark, src, "embeddings")
    .select("vec_id", "embedding")
  private lazy val bigEmb = pin((0 until R).map { i =>
    val pre = lit(Array.fill(Dim * i)(0.0f))
    val post = lit(Array.fill(Dim * (R - 1 - i))(0.0f))
    srcEmb.select((col("vec_id") + lit(i * Stride)).as("vec_id"),
      concat(pre, col("embedding"), post).as("embedding"))
  }.reduce(_ unionByName _))
  private def knn(emb: DataFrame, qs: DataFrame) =
    Similarity.knnBruteForce(emb, qs, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
  private lazy val srcKnn =
    nonEmpty(knn(srcEmb, srcEmb.filter(col("vec_id") < 10)), "knn")
  private lazy val bigR0 = knn(bigEmb, bigEmb.filter(col("vec_id") < 10))

  test("knn precondition: source top-10 scores strictly positive") {
    // makes the isolation argument total: a ±0.0 cross-replica cosine
    // can then never appear in, or perturb, a compared row
    val minScore = srcKnn.map(_._4).min
    assert(minScore > 0.0, f"min score $minScore%.6f")
  }

  test("replica-0 knn == source bit-for-bit through the replicated corpus") {
    assert(bigR0 == srcKnn, s"missing ${(srcKnn -- bigR0).take(3)} " +
      s"extra ${(bigR0 -- srcKnn).take(3)}")
  }

  test(s"replica-${R - 1} knn is the exact id-shift of the source result") {
    val r = R - 1
    val shifted = srcKnn.map { case (q, rk, n, s) =>
      (q + r * Stride, rk, n + r * Stride, s) }
    val bigRk = knn(bigEmb, bigEmb.filter(
      col("vec_id") >= r * Stride && col("vec_id") < r * Stride + 10))
    assert(bigRk == shifted, s"replica $r: missing " +
      s"${(shifted -- bigRk).take(3)} extra ${(bigRk -- shifted).take(3)}")
  }

  // ANN recall of replica-0 queries against the whole replicated corpus,
  // measured against the brute-force result: a cross-replica candidate
  // scores exactly ±0.0, so lost recall would mean the index (cells,
  // codebooks, shortlist) degraded with corpus size. PQ keeps 4-dim
  // subvectors (m grows with the padded dim); the rest runs the
  // production defaults. The bounds are SimilaritySpec's gates.
  private def meanRecall(df: DataFrame): Double = {
    val exact = nonEmpty(bigR0, "knn").groupBy(_._1)
      .map { case (q, rows) => q -> rows.map(_._3) }
    val got = df.collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val rs = exact.map { case (q, nbrs) =>
      got.getOrElse(q, Set.empty[Long]).count(nbrs.contains).toDouble /
        nbrs.size }
    rs.sum / rs.size
  }

  test("ivf recall holds on the replicated corpus (>= 0.3)") {
    val recall = meanRecall(Similarity.ivfTopK(bigEmb,
      bigEmb.filter(col("vec_id") < 10), k = 10))
    assert(recall >= 0.3, f"mean recall $recall%.3f")
  }

  test("pq recall holds on the replicated corpus (>= 0.7)") {
    val recall = meanRecall(Similarity.pqTopK(bigEmb,
      bigEmb.filter(col("vec_id") < 10), k = 10, m = 16 * R))
    assert(recall >= 0.7, f"mean recall $recall%.3f")
  }

  // --- inverted index, as-of join, sessionize ----------------------------
  test(s"inverted index: df/tf x$R, postings + order identical") {
    // on the shared corpus every df and tf_total is ×R with the same
    // top-200 terms and order, and the first-10 postings are identical:
    // replica-0 ids sort first and carry the same per-doc tf
    val iiSrc = nonEmpty(CorpusQueries.invertedIndex(spark, src).collect()
      .map(r => (r.getString(0), r.getLong(1) * R, r.getLong(2) * R,
        r.getString(3))).toSeq, "inverted index")
    val iiBig = CorpusQueries.invertedIndex(spark, shared).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    assert(iiSrc == iiBig,
      s"first diff: ${iiSrc.zip(iiBig).find(p => p._1 != p._2)}")
  }

  // click_value travels as its shortest-roundtrip string: double-typed
  // grouping would normalize -0.0→0.0 and NaN==NaN, and the raw value
  // column carries no non-negativity argument; the cast is faithful for
  // every double, so no precondition is needed
  private def asofKeyed(df: DataFrame) = df.select(col("event_id"),
    col("click_value").cast("string").as("cv"))
  private lazy val asofSrc = StatsQueries.asofClicks(spark, src)
  private lazy val asofBig = pin(StatsQueries.asofClicks(spark, out))

  test("replica-0 asof enrichment == source bit-for-bit") {
    assertSame(asofKeyed(asofBig).filter(col("event_id") < Stride),
      asofKeyed(asofSrc), "asof")
  }

  test(s"asof rows scale x$R") {
    assertScaled(asofBig, asofSrc, "asof")
  }

  // raw per-event session assignment: the session-stats test pins
  // per-entry-type aggregates, which would mask events swapped between
  // two sessions of the same entry type
  private val GapSeconds = 6 * 3600L // the production session gap
  private def sessionized(dir: String) = Sessionize.sessionize(
    Tables.table(spark, dir, "events"), userCol = "user_id", tsCol = "ts",
    tieBreak = "event_id", gapSeconds = GapSeconds)
  private def sessionIds(dir: String) = sessionized(dir)
    .select(col("event_id"), col("user_id"), col("session_id"))
  private lazy val sessBig = pin(sessionIds(out))

  test("replica-0 session ids == source bit-for-bit") {
    assertSame(sessBig.filter(col("user_id") < Stride), sessionIds(src),
      "session ids")
  }

  test(s"session count scales x$R") {
    def distinctSessions(df: DataFrame) =
      df.select("user_id", "session_id").distinct()
    assertScaled(distinctSessions(sessBig),
      distinctSessions(sessionIds(src)), "sessions")
  }

  // streaming sessionize on the real file-stream path: each time-ordered
  // file is a micro-batch, so the watermark advances batch-to-batch and
  // event-time timeouts close sessions. Compared as a multiset, because
  // one user can have two sessions with the same (n_events, duration_s)
  private lazy val streamed = pin(ScaleReplicas.streamSessionizeFiles(spark,
    s"$out/events_stream", s"$out/__stream_sessions", GapSeconds))
  private def batchSessions(dir: String) = sessionized(dir)
    .groupBy(col("user_id"), col("session_id"))
    .agg(count(lit(1)).cast("int").as("n_events"),
      (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("dur_us"))
    // integer µs→s truncation, matching ClosedSession's
    // (last - start) / 1000000L; col./ would be double division
    .select(col("user_id"), col("n_events"),
      expr("dur_us div 1000000").as("duration_s"))
  private def sessionKeysDiffer(batch: DataFrame, live: DataFrame): Long = {
    def keyed(df: DataFrame, n: String) =
      df.groupBy("user_id", "n_events", "duration_s").agg(count(lit(1)).as(n))
    keyed(batch, "n_b")
      .join(keyed(live, "n_s"), Seq("user_id", "n_events", "duration_s"),
        "full")
      .filter(coalesce(col("n_b"), lit(-1L)) =!= coalesce(col("n_s"), lit(-2L)))
      .count()
  }

  test(s"streaming sessions == batch sessions at x$R") {
    val batch = batchSessions(out)
    sourceRows(batch, "batch sessions")
    val bad = sessionKeysDiffer(batch, streamed)
    assert(bad == 0, s"$bad (user, n_events, duration) keys differ")
  }

  test("replica-0 streamed sessions == source batch bit-for-bit") {
    val batch = batchSessions(src)
    sourceRows(batch, "batch sessions")
    val bad = sessionKeysDiffer(batch,
      streamed.filter(col("user_id") < Stride))
    assert(bad == 0, s"$bad keys differ")
  }
}
