package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-sanity harness (diagnostic main, NOT part of the driver contract):
  * synthesizes an sf1-equivalent corpus — `replicas`× the source scale
  * factor, ~50k documents / 1M events at 10× sf0.1 — and runs the heavy
  * query family against it, checking the invariants that pin correctness
  * at scale:
  *
  *  - replica texts are token-suffixed (`tok` → `tok_rK`), so within-replica
  *    Jaccard structure is IDENTICAL to the source corpus while cross-replica
  *    similarity is exactly 0 — near-dup output must scale linearly, and the
  *    replica-0 slice must equal the sf0.1 result bit-for-bit;
  *  - event replicas keep timestamps and shift ids, so every windowed count
  *    must be exactly `replicas`× its sf0.1 value;
  *  - connected components must never cross replicas.
  *
  * A rounding/overflow/plan divergence that small SFs mask (the round-1
  * lesson: sf0.01 hid a rounding tie sf0.1 caught) surfaces here as an
  * invariant failure rather than as a wrong answer in production.
  *
  * Usage: runMain graft.ScaleCheck [srcSfDir] [outDir] [replicas] [tier]
  * where tier is `full` (default, the whole battery at sf1) or `heavy`
  * (the sf10 decade: minhash/CC/dup-spans/inverted-index only — one
  * more order of magnitude of the linearity evidence on the operators
  * whose cost actually grows with pair volume — plus the window-family
  * decade at 100M events: EWMA's bounded span frame, the as-of join's
  * running-last frame, and sessionize's lag + running-sum pair, each
  * pinned by replica-0 bit-identity).
  */
object ScaleCheck {

  private val Stride = 10000000L

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "target/sf1"
    val replicas = if (args.length > 2) args(2).toInt else 10
    val tier = if (args.length > 3) args(3) else "full"
    if (tier == "heavy" && replicas >= 100) {
      // fail fast on an undersized heap: below ~80g the x100 tier dies
      // minutes in with an executor OOM/heartbeat cascade (r9 lesson,
      // re-hit r15 under the 8g default). 60g leaves headroom for a
      // future environment that rounds the 80g request down a little.
      // The OOM evidence is specific to the x100 corpus, so a smaller
      // heavy smoke run (replicas < 100) is not refused.
      val maxGb = Runtime.getRuntime.maxMemory() / (1L << 30).toDouble
      if (maxGb < 60) {
        println(f"[scale] ABORT: heavy tier at x$replicas%d needs " +
          f"SPARK_DRIVER_MEM=80g (JVM max heap is $maxGb%.1fg; the x100 " +
          "corpus OOMs the 8g default after ~2 min)")
        sys.exit(1)
      }
    }
    // SPARK_GRAFT_CONF lets the scale tiers run under physical-execution
    // sweeps (e.g. the RocksDB state-store provider for the streaming
    // decade); the invariants must hold under any of them.
    val conf = GraftSession.envConf()
    conf.foreach { case (k, v) => println(s"[scale] conf $k=$v") }
    // driver and executor share one JVM here: a long full-GC pause under
    // the x100 tier's heap pressure stalls heartbeat replies and the
    // executor kills itself after 60 misses ("unable to send heartbeats"),
    // which presents as a phantom RpcEndpointNotFound cascade. Generous
    // timeouts are correct for this harness; a real cluster would keep
    // the defaults and size executor heaps instead.
    val spark = GraftSession.create(32, conf ++ Seq(
      "spark.network.timeout" -> "600s",
      "spark.executor.heartbeatInterval" -> "60s",
      "spark.app.name" -> "graft-scalecheck"))
    // host stamp at tier entry and exit: the 14–22 min tiers span many
    // contention windows, so their OK/FAIL log carries the same
    // loadavg+steal evidence Bench's JSON does
    println(HostTelemetry.stampLine("scale"))

    generate(spark, src, out, replicas, streamFiles = tier == "heavy")

    if (tier == "heavy") {
      heavyTier(spark, src, out, replicas)
      return
    }

    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scale] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.1f s")
      r
    }
    // noop sink, same as Bench: count() would let Spark collapse the
    // projections to metadata-only scans and under-time the query.
    // By-name param: an eager query fn (the streaming one runs at call
    // time) must execute INSIDE the timed block, not at argument eval
    def exec(name: String, df: => DataFrame): Unit =
      timed(name)(df.write.format("noop").mode("overwrite").save())

    var failures = List.empty[String]
    def check(name: String)(ok: Boolean, detail: => String): Unit = {
      println(s"[scale] ${if (ok) "OK  " else "FAIL"} $name${if (ok) "" else s": $detail"}")
      if (!ok) failures ::= name
    }

    // --- heavy family, timed at scale ---------------------------------
    exec("tfidf_top_terms", llm.LlmQueries.tfidfTopTerms(spark, out))
    exec("text_normalize", llm.LlmQueries.textNormalize(spark, out))
    // the windowed-count invariant below reuses this run's result — the
    // streaming query executes eagerly inside the timed block
    val winScaled = timed("stream_windowed") {
      stream.StreamQueries.streamWindowedCounts(spark, out).localCheckpoint()
    }
    val pairs = timed("minhash_pairs (materialize)") {
      llm.Dedup.minhashNearDupPairs(
        Tables.table(spark, out, "documents"), minJaccard = 0.9)
        .localCheckpoint()
    }
    exec("near_dedup (from pairs)",
      Tables.table(spark, out, "documents")
        .join(pairs.select(col("id_b").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti"))
    val comps = timed("dup_clusters (full corpus CC)") {
      // returns an already-checkpointed frame, materialized by the fit
      llm.Dedup.connectedComponents(
        Tables.table(spark, out, "documents").select(col("doc_id").as("id")),
        pairs)
    }

    // --- invariants ----------------------------------------------------
    // materialized once: two separate actions read it (set-diff + count)
    val srcPairs = llm.Dedup.minhashNearDupPairs(
      Tables.table(spark, src, "documents"), minJaccard = 0.9)
      .localCheckpoint()
    val r0 = pairs.filter(col("id_a") < Stride && col("id_b") < Stride)
    val diff = r0.unionByName(srcPairs).groupBy("id_a", "id_b", "jaccard")
      .count().filter(col("count") =!= 2).count()
    check("replica-0 minhash == sf0.1 minhash")(diff == 0, s"$diff odd rows")

    val total = pairs.count(); val srcTotal = srcPairs.count()
    val ratio = total.toDouble / srcTotal
    check(s"pair volume scales ~linearly ($total vs $srcTotal x$replicas)")(
      math.abs(ratio - replicas) / replicas < 0.05,
      f"ratio $ratio%.2f, expected ~$replicas")

    val crossReplica = comps
      .filter(col("id").divide(Stride).cast("long")
        =!= col("component").divide(Stride).cast("long")).count()
    check("no dup cluster crosses replicas")(crossReplica == 0,
      s"$crossReplica nodes labeled across")

    val winSrc = stream.StreamQueries.streamWindowedCounts(spark, src)
    val winBad = winSrc
      .join(winScaled.withColumnRenamed("n", "n_big"),
        Seq("win_start", "event_type"), "full")
      .filter(coalesce(col("n_big"), lit(-1L)) =!= coalesce(col("n"), lit(-1L)) * replicas)
      .count()
    check(s"windowed counts are exactly ${replicas}x")(winBad == 0,
      s"$winBad windows off")

    // --- round-3 wave-2 operators ------------------------------------
    // inter-doc duplication: replica-0 slice must equal the source result
    // EXACTLY — suffixed replicas share no shingles with replica 0, so
    // replica-0 document frequencies are untouched by 10× growth
    timed("interdoc_dup (sf1 + compare)") {
      val idSrc = llm.CorpusQueries.interDocDupFraction(spark, src)
      val idBig = llm.CorpusQueries.interDocDupFraction(spark, out)
        .filter(col("doc_id") < Stride)
      val idDiff = idBig.unionByName(idSrc)
        .groupBy("doc_id", "n_shingles", "interdup_micro").count()
        .filter(col("count") =!= 2).count()
      check("replica-0 interdoc-dup == sf0.1")(idDiff == 0, s"$idDiff odd rows")
    }

    // unigram LM: disjoint-vocab 10× growth leaves replica-0 token counts
    // unchanged but multiplies the total, so every replica-0 doc score
    // shifts by EXACTLY -ln(replicas)
    timed("unigram_logprob (sf1 + compare)") {
      val ugSrc = llm.CorpusQueries.unigramLogprob(spark, src)
        .select(col("doc_id"), col("avg_logprob").as("lp_src"))
      val ugBig = llm.CorpusQueries.unigramLogprob(spark, out)
        .filter(col("doc_id") < Stride)
        .select(col("doc_id"), col("avg_logprob").as("lp_big"))
      val ugBad = ugSrc.join(ugBig, Seq("doc_id"))
        .filter(abs(col("lp_src") - col("lp_big") - math.log(replicas)) > 2e-6)
        .count()
      check(s"replica-0 unigram logprob shifts by ln($replicas)")(ugBad == 0,
        s"$ugBad docs off")
    }

    // bigram LM: conditionals divide a bigram count by its prefix total,
    // BOTH replica-local — replica-0 scores are corpus-size INVARIANT
    timed("bigram_logprob (sf1 + compare)") {
      val bgSrc = llm.CorpusQueries.bigramLogprob(spark, src)
        .select(col("doc_id"), col("avg_logprob").as("lp_src"))
      val bgBig = llm.CorpusQueries.bigramLogprob(spark, out)
        .filter(col("doc_id") < Stride)
        .select(col("doc_id"), col("avg_logprob").as("lp_big"))
      val bgBad = bgSrc.join(bgBig, Seq("doc_id"))
        .filter(!(col("lp_src").isNull && col("lp_big").isNull) &&
          (col("lp_src").isNull || col("lp_big").isNull ||
            abs(col("lp_src") - col("lp_big")) > 1e-6))
        .count()
      check("replica-0 bigram logprob is corpus-size invariant")(bgBad == 0,
        s"$bgBad docs off")
    }

    // cohort retention: replicas shift user ids but keep timestamps, so
    // every (cohort_day, offset) cell must be exactly replicas× its
    // source value
    timed("cohort_retention (sf1 + compare)") {
      val cSrc = ops.EventQueries.cohortRetention(spark, src)
      val cBig = ops.EventQueries.cohortRetention(spark, out)
        .withColumnRenamed("users", "users_big")
      val cBad = cSrc.join(cBig, Seq("cohort_day", "day_offset"), "full")
        .filter(coalesce(col("users_big"), lit(-1L)) =!=
          coalesce(col("users"), lit(-1L)) * replicas)
        .count()
      check(s"cohort retention cells are exactly ${replicas}x")(cBad == 0,
        s"$cBad cells off")
    }

    // --- round-5 wave-3/4 operators ----------------------------------
    // The SHARED-vocab corpus (replicas keep the same tokens, only
    // doc_ids shift) makes corpus-frequency statistics scale trivially:
    // every token/bigram count multiplies by R while all the ratios —
    // rank order, PMI, Zipf log-log geometry — stay put.
    val sharedDir = s"$out/shared"

    timed("heavy_hitters (sf1-shared + compare)") {
      val hhSrc = llm.CorpusQueries.heavyHitters(spark, src).collect()
        .map(r => (r.getString(0), r.getLong(1) * replicas)).toSeq
      val hhBig = llm.CorpusQueries.heavyHitters(spark, sharedDir).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      check(s"heavy-hitter top-20 is exactly ${replicas}x, same order")(
        hhSrc == hhBig, s"src×R $hhSrc\nbig $hhBig")
    }

    timed("zipf_slope (sf1-shared + compare)") {
      val zs = llm.CorpusQueries.zipfSlope(spark, src).head()
      val zb = llm.CorpusQueries.zipfSlope(spark, sharedDir).head()
      // every head frequency multiplies by R → ln f shifts uniformly by
      // ln R, ranks unchanged → covar/var (and the slope) are invariant
      check("zipf slope is invariant under shared-vocab growth")(
        zs.getLong(0) == zb.getLong(0) &&
          math.abs(zs.getDouble(1) - zb.getDouble(1)) <= 2e-6,
        s"src (${zs.getLong(0)}, ${zs.getDouble(1)}) vs " +
          s"big (${zb.getLong(0)}, ${zb.getDouble(1)})")
    }

    timed("collocations (sf1-shared + compare)") {
      // with minCount scaled by R the surviving bigram set is identical
      // (bc' = R·bc ≥ R·20 ⟺ bc ≥ 20) and every PMI is exactly preserved:
      // ln((R·bc/R·btot) / ((R·c1/R·utot)·(R·c2/R·utot))) = pmi
      val cs = llm.CorpusQueries
        .collocationsWithMin(spark, src, llm.CorpusQueries.collocMinCount)
        .collect()
      val cb = llm.CorpusQueries.collocationsWithMin(spark, sharedDir,
          llm.CorpusQueries.collocMinCount.toLong * replicas)
        .collect()
      val ok = cs.length == cb.length && cs.zip(cb).forall { case (a, b) =>
        a.getString(0) == b.getString(0) &&
          a.getLong(1) * replicas == b.getLong(1) &&
          math.abs(a.getDouble(2) - b.getDouble(2)) <= 2e-6
      }
      check(s"PMI top-10 invariant at min-count ${replicas}·20")(ok,
        s"src ${cs.map(_.toSeq).toSeq}\nbig ${cb.map(_.toSeq).toSeq}")
    }

    timed("source_kl (sf1-shared + compare)") {
      // all counts scale ×R, so every ratio in KL(p_s ‖ p) — and hence
      // the divergence itself — is exactly preserved
      val kSrc = llm.CorpusQueries.sourceKl(spark, src).collect()
        .map(r => r.getString(0) -> (r.getLong(1) * replicas, r.getDouble(2)))
        .toMap
      val kBig = llm.CorpusQueries.sourceKl(spark, sharedDir).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val kOk = kSrc.keySet == kBig.keySet && kSrc.forall { case (s, (n, kl)) =>
        kBig(s)._1 == n && math.abs(kBig(s)._2 - kl) <= 1e-6
      }
      check("source KL invariant under shared-vocab growth")(kOk,
        s"src×R $kSrc\nbig $kBig")
    }

    // char entropy is per-row: replica-0 docs of the suffixed corpus are
    // byte-identical to the source docs, so the slice must match exactly
    timed("char_entropy (sf1 + compare)") {
      val ceSrc = llm.CorpusQueries.charEntropy(spark, src)
      val ceBig = llm.CorpusQueries.charEntropy(spark, out)
        .filter(col("doc_id") < Stride)
      val ceBad = ceBig.unionByName(ceSrc)
        .groupBy("doc_id", "n_chars_split", "entropy").count()
        .filter(col("count") =!= 2).count()
      check("replica-0 char entropy == sf0.1 bit-for-bit")(ceBad == 0,
        s"$ceBad odd rows")
    }

    // PageRank: event replicas preserve each user's sequence under
    // shifted ids, so transition COUNTS are exactly R× and the transition
    // PROBABILITIES — hence the stationary ranks — are identical; the
    // dangling fix keeps Σrank = 1 at any scale
    timed("pagerank (sf1 + compare)") {
      val prSrc = ops.EventQueries.transitionPageRank(spark, src).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val prBig = ops.EventQueries.transitionPageRank(spark, out).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val sumBig = prBig.values.sum
      val prOk = prSrc.keySet == prBig.keySet &&
        prSrc.forall { case (n, r) => math.abs(prBig(n) - r) <= 2e-6 }
      check("pagerank invariant under event replication")(prOk,
        s"src $prSrc\nbig $prBig")
      check("pagerank mass sums to 1 at sf1")(
        math.abs(sumBig - 1.0) <= 1e-5, s"sum $sumBig")
    }

    // --- wave-5 family -------------------------------------------------
    // EWMA is per-user with a bounded frame; event replicas shift user_id,
    // so replica-0 rows must be bit-identical to the sf0.1 run
    timed("ewma (sf1 + compare)") {
      val src0 = ops.StatsQueries.ewmaValues(spark, src)
      val big0 = ops.StatsQueries.ewmaValues(spark, out)
        .filter(col("event_id") < Stride)
      // double-typed grouping normalizes -0.0→0.0 and treats NaN as equal
      // — exactly the two cases where group-equality is weaker than bit
      // identity (+0.0 groups bit-exactly). Non-negative inputs under
      // positive weights can produce neither, so pinning their absence on
      // both sides upgrades the group-equality below to true bit-identity.
      // -0.0 is detected via cast-to-string (Double.toString keeps the
      // sign); an `=== 0.0 && sign-test` conjunction would be broken by
      // ConstantPropagation, which substitutes the 0.0 literal into the
      // sign test (and under ANSI, 1.0/x even throws at plan time)
      def degenerate(df: DataFrame): Long = df.filter(col("ewma").isNaN ||
        col("ewma").cast("string") === "-0.0").count()
      val degen = degenerate(big0) + degenerate(src0)
      check("ewma values free of NaN/-0.0 (bit-identity precondition)")(
        degen == 0, s"$degen degenerate rows")
      val bad = big0.unionByName(src0).groupBy("event_id", "ewma").count()
        .filter(col("count") =!= 2).count()
      check("replica-0 ewma == sf0.1 bit-for-bit")(bad == 0, s"$bad odd rows")
    }

    // decayed counts: event replicas shift ids but keep timestamps, so
    // the horizon is unchanged and every per-type decayed mass is exactly
    // ×R (same exp() terms summed R times; round-6 absorbs order noise)
    timed("decayed_counts (sf1 + compare)") {
      val d1 = ops.EventQueries.decayedCounts(spark, src).collect()
        .map(r => r.getString(0) -> r.getAs[Double]("decayed")).toMap
      val dR = ops.EventQueries.decayedCounts(spark, out).collect()
        .map(r => r.getString(0) -> r.getAs[Double]("decayed")).toMap
      val dOk = d1.keySet == dR.keySet && d1.forall { case (t, v) =>
        math.abs(dR(t) / replicas - v) <= 1e-5
      }
      check("decayed counts scale xR under event replication")(dOk,
        s"sf0.1 $d1\nsf1/R ${dR.view.mapValues(_ / replicas).toMap}")
    }

    // water-filling on the SHARED-vocab corpus: every per-source count is
    // exactly ×R, so the level and every allocation scale ×R up to the
    // floor() on the budget (≤ R/2 absolute) spread across capped groups
    timed("waterfill (sf1 shared + compare)") {
      def counts(dir: String) = Tables.table(spark, dir, "documents")
        .groupBy("source")
        .agg(sum(size(split(col("text"), " "))).cast("long").as("c"))
      val a1 = ops.Sampling.waterfillAlloc(counts(src), "source", "c", 0.5)
        .collect().map(r => r.getString(0) -> r.getAs[Double]("alloc")).toMap
      val aR = ops.Sampling.waterfillAlloc(
          counts(s"$out/shared"), "source", "c", 0.5)
        .collect().map(r => r.getString(0) -> r.getAs[Double]("alloc")).toMap
      val wfOk = a1.keySet == aR.keySet && a1.forall { case (s, a) =>
        math.abs(aR(s) / replicas - a) <= 1.0
      }
      check("waterfill allocations scale xR on the shared corpus")(wfOk,
        s"sf0.1 $a1\nsf1/R ${aR.view.mapValues(_ / replicas).toMap}")
    }

    // source cap on the shared corpus: cap still met, and every kept doc
    // maps (mod Stride) to a doc kept at sf0.1 — a kept copy outranks
    // 10R-10 others, so its original outranks all but <10 originals
    timed("source_cap (sf1 shared + compare)") {
      val kept1 = llm.Curation.sourceCap(spark, src).collect()
        .map(r => (r.getString(1), r.getLong(0))).toSet
      val keptR = llm.Curation.sourceCap(spark, s"$out/shared").collect()
        .map(r => (r.getString(1), r.getLong(0)))
      val perSrc = keptR.groupBy(_._1).values.map(_.length)
      val mapped = keptR.map { case (s, id) => (s, id % Stride) }.toSet
      check("sf1 source cap: k per source, originals all kept at sf0.1")(
        perSrc.forall(_ == llm.Curation.capPerSource) &&
          mapped.subsetOf(kept1),
        s"sizes ${perSrc.toSeq.sorted} stray ${(mapped -- kept1).take(5)}")
    }

    // prefix jaccard on the SUFFIXED corpus: replica vocabularies are
    // disjoint, so pairs never cross replicas and the replica-0 slice is
    // bit-identical; volume scales exactly xR (per-replica 200-doc window)
    timed("prefix_jaccard (sf1 + compare)") {
      val srcP = llm.Dedup.prefixJaccardPairs(
        Tables.table(spark, src, "documents"), 0.9, maxId = 200L)
        .localCheckpoint()
      val bigP = llm.Dedup.prefixJaccardPairs(
        Tables.table(spark, out, "documents")
          .filter(col("doc_id") % Stride < 200L), 0.9, maxId = Long.MaxValue)
        .localCheckpoint()
      val cross = bigP.filter(col("id_a").divide(Stride).cast("long")
        =!= col("id_b").divide(Stride).cast("long")).count()
      val r0 = bigP.filter(col("id_a") < Stride)
      val odd = r0.unionByName(srcP).groupBy("id_a", "id_b", "jaccard")
        .count().filter(col("count") =!= 2).count()
      val volume = bigP.count()
      val srcVolume = srcP.count()
      check("prefix jaccard: no cross-replica pairs, replica-0 exact, xR")(
        cross == 0 && odd == 0 && volume == srcVolume * replicas,
        s"cross $cross odd $odd vol $volume vs ${srcVolume * replicas}")
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(srcP)
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(bigP)
    }

    // --- round-6 family ------------------------------------------------
    // dup spans on the SUFFIXED corpus: replica vocabularies are disjoint,
    // so no shingle gains document frequency across replicas — replica-0
    // spans (and their run geometry) must equal the sf0.1 result exactly
    timed("dup_spans (sf1 + compare)") {
      val dsSrc = llm.CorpusQueries.dupSpans(spark, src)
      val dsBig = llm.CorpusQueries.dupSpans(spark, out)
        .filter(col("doc_id") < Stride)
      val dsBad = dsBig.unionByName(dsSrc)
        .groupBy("doc_id", "n_tokens", "dup_tokens", "n_runs", "max_run",
          "dupspan_micro")
        .count().filter(col("count") =!= 2).count()
      check("replica-0 dup spans == sf0.1 bit-for-bit")(dsBad == 0,
        s"$dsBad odd rows")
    }

    // weighted E-S sampling at sf1: the md5-derived uniform makes the
    // draw a pure function of (id, weight), so an arbitrary repartition
    // of the 10x corpus must select the IDENTICAL per-source sample
    timed("weighted_sample (sf1 layout)") {
      val docs1 = Tables.table(spark, out, "documents")
        .filter(col("n_chars") > 0L)
        .select(col("doc_id"), col("source"), col("n_chars"))
      def sel(df: DataFrame) = ops.Sampling
        .weightedSample(df, "source", "doc_id", "n_chars", k = 10)
        .select("source", "rk", "doc_id")
      val a = sel(docs1)
      val b = sel(docs1.repartition(64))
      val wsBad = a.unionByName(b).groupBy("source", "rk", "doc_id")
        .count().filter(col("count") =!= 2).count()
      val perSource = a.groupBy("source").count()
        .filter(col("count") =!= 10L).count()
      check("weighted sample is layout-invariant at sf1, k per source")(
        wsBad == 0 && perSource == 0, s"$wsBad odd rows, $perSource sources off")
    }

    // robust z-score: event replicas copy every value R times, which
    // preserves all cumulative fractions — percentile_disc medians and
    // MADs are IDENTICAL while n and the outlier count are exactly xR
    timed("robust_zscore (sf1 + compare)") {
      val r1 = ops.StatsQueries.robustZscore(spark, src).collect()
        .map(r => r.getString(0) -> ((r.getAs[Long]("n"),
          r.getAs[Double]("med"), r.getAs[Double]("mad"),
          r.getAs[Long]("n_outliers")))).toMap
      val rR = ops.StatsQueries.robustZscore(spark, out).collect()
        .map(r => r.getString(0) -> ((r.getAs[Long]("n"),
          r.getAs[Double]("med"), r.getAs[Double]("mad"),
          r.getAs[Long]("n_outliers")))).toMap
      val rzOk = r1.keySet == rR.keySet && r1.forall {
        case (t, (n, med, mad, out1)) =>
          val (nB, medB, madB, outB) = rR(t)
          nB == n * replicas && medB == med && madB == mad &&
            outB == out1 * replicas
      }
      check("robust z-score: med/MAD invariant, counts exactly xR")(rzOk,
        s"sf0.1 $r1\nsf1 $rR")
    }

    // co-occurrence mining on the SHARED-vocab corpus: every df, pair
    // support, and the doc total scale exactly xR, so lift
    // n_docs·N/(df_a·df_b) is EXACTLY preserved (R²/R² cancels in
    // integers before the one division) and the top-20 is identical
    // with supports xR
    timed("cooccur_pairs (sf1 shared + compare)") {
      val c1 = llm.CorpusQueries.cooccurPairs(spark, src).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2) * replicas,
          r.getAs[Double]("lift"))).toSeq
      val cR = llm.CorpusQueries.cooccurPairs(spark, sharedDir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getAs[Double]("lift"))).toSeq
      check(s"co-occurrence top-20 invariant, supports exactly x$replicas")(
        c1 == cR, s"src×R $c1\nbig $cR")
    }

    // daily-volume trend under event replication: every daily count is
    // exactly xR, so OLS slope and intercept scale by R (covariance and
    // mean both linear in y) up to summation-order ulps
    timed("trend_slope (sf1 + compare)") {
      val t1 = ops.EventQueries.trendSlope(spark, src).collect()
        .map(r => r.getString(0) -> ((r.getAs[Long]("n_days"),
          r.getAs[Double]("slope"), r.getAs[Double]("intercept")))).toMap
      val tR = ops.EventQueries.trendSlope(spark, out).collect()
        .map(r => r.getString(0) -> ((r.getAs[Long]("n_days"),
          r.getAs[Double]("slope"), r.getAs[Double]("intercept")))).toMap
      val tOk = t1.keySet == tR.keySet && t1.forall {
        case (t, (nd, sl, ic)) =>
          val (ndB, slB, icB) = tR(t)
          ndB == nd && math.abs(slB / replicas - sl) <= 2e-6 &&
            math.abs(icB / replicas - ic) <= 2e-6
      }
      check(s"trend slope/intercept scale x$replicas under replication")(tOk,
        s"sf0.1 $t1\nsf1 $tR")
    }

    // BPE learning on the SHARED-vocab corpus: the distinct-vocab frame
    // is unchanged and every word weight is exactly xR, so the learned
    // merge SEQUENCE is identical with each merge count scaled by R
    timed("bpe_learn (sf1 shared + compare)") {
      val m1 = llm.CorpusQueries
        .bpeLearnFromDocs(Tables.table(spark, src, "documents"),
          llm.CorpusQueries.bpeMerges)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3) * replicas)).toSeq
      val mR = llm.CorpusQueries
        .bpeLearnFromDocs(Tables.table(spark, s"$out/shared", "documents"),
          llm.CorpusQueries.bpeMerges)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSeq
      check(s"BPE merge sequence invariant, counts exactly x$replicas")(
        m1 == mR, s"src×R $m1\nbig $mR")
    }

    // --- wave-7/8 ------------------------------------------------------
    // event replication shifts user ids but keeps each user's history
    // identical, so the per-user window families must give replica-0
    // bit-identical frames and exactly xR row totals
    timed("scd2 + attribution (sf1 + compare)") {
      val bigS = ops.EventQueries.scd2Intervals(spark, out).localCheckpoint()
      val smallS = ops.EventQueries.scd2Intervals(spark, src)
      val sBad = bigS.filter(col("user_id") < Stride).unionByName(smallS)
        .groupBy(smallS.columns.map(col): _*)
        .count().filter(col("count") =!= 2).count()
      check("replica-0 scd2 == sf0.1 bit-for-bit")(sBad == 0,
        s"$sBad odd rows")
      val (nb, ns) = (bigS.count(), smallS.count())
      check(s"scd2 islands scale x$replicas")(nb == ns * replicas,
        s"$nb vs $ns x$replicas")
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(bigS)
      val bigA = ops.EventQueries.attribution(spark, out).localCheckpoint()
      val smallA = ops.EventQueries.attribution(spark, src)
      val aBad = bigA.filter(col("user_id") < Stride).unionByName(smallA)
        .groupBy(smallA.columns.map(col): _*)
        .count().filter(col("count") =!= 2).count()
      check("replica-0 attribution == sf0.1 bit-for-bit")(aBad == 0,
        s"$aBad odd rows")
      val (ab, as) = (bigA.count(), smallA.count())
      check(s"attribution rows scale x$replicas")(ab == as * replicas,
        s"$ab vs $as x$replicas")
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(bigA)
    }

    // disjoint replica user sets: every exact distinct scales xR, and the
    // sketch must hold its error contract at the 10x cardinality
    timed("hll cube (sf1 + compare)") {
      val smallH = ops.StatsQueries.hllSketchCube(spark, src).collect()
        .map(r => r.getString(0) -> r.getAs[Long]("exact_users")).toMap
      val bigH = ops.StatsQueries.hllSketchCube(spark, out).collect()
      val hOk = bigH.nonEmpty && bigH.forall { r =>
        val (exact, est) =
          (r.getAs[Long]("exact_users"), r.getAs[Long]("est_users"))
        exact == smallH(r.getString(0)) * replicas &&
          math.abs(est - exact) <= exact * 0.05
      }
      check(s"hll cube: exacts x$replicas, estimates within 5% at 10x " +
        "cardinality")(hOk, bigH.mkString(", "))
    }

    // suffixed replicas rename token sets bijectively, so each replica
    // contributes the SAME overlap structure with disjoint grams: shared
    // counts scale xR and the overlap coefficient is exactly invariant
    // (floor(1e6·Rs/Rm) == floor(1e6·s/m))
    timed("source overlap (sf1 + compare)") {
      def matrix(dir: String) = llm.CorpusQueries.sourceOverlap(spark, dir)
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          ((r.getAs[Long]("shared"), r.getAs[Long]("overlap_micro")))).toMap
      val (bigO, smallO) = (matrix(out), matrix(src))
      val oOk = bigO.keySet == smallO.keySet && smallO.forall {
        case (k, (s, m)) => bigO(k) == ((s * replicas, m))
      }
      check(s"source overlap: shared x$replicas, coefficient invariant")(
        oOk, s"src $smallO\nbig $bigO")
    }

    // triangle census runs on the BLOCKED graph only (the full sf1
    // minhash graph is mega-cliques — 2.5e9 wedges, see the
    // Graph.triangleStats scaladoc): each replica's id%Stride<200 block
    // is suffix-isomorphic to sf0.1's, so the census must be replica-0
    // bit-identical and exactly xR rows overall
    timed("triangle census (blocked, sf1 + compare)") {
      def blockCensus(dir: String) = ops.Graph.triangleStats(
        llm.Dedup.ngramJaccardPairs(
          Tables.table(spark, dir, "documents")
            .filter(col("doc_id") % Stride < 200),
          n = 1, minJaccard = 0.9, maxId = Long.MaxValue))
      val bigT = blockCensus(out).localCheckpoint()
      val smallT = blockCensus(src)
      val tBad = bigT.filter(col("node") < Stride).unionByName(smallT)
        .groupBy(smallT.columns.map(col): _*)
        .count().filter(col("count") =!= 2).count()
      check("replica-0 blocked triangle census == sf0.1 bit-for-bit")(
        tBad == 0, s"$tBad odd rows")
      val (tb, ts) = (bigT.count(), smallT.count())
      check(s"blocked triangle census scales x$replicas")(
        tb == ts * replicas, s"$tb vs $ts x$replicas")
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(bigT)
    }

    // replicated users have identical histories: dwell populations are R
    // identical copies, so the discrete percentiles are INVARIANT and n
    // scales xR; daily new/returning and session-entry stats scale xR
    timed("dwell/new-returning/session stats (sf1 + compare)") {
      def dwell(dir: String) = ops.StatsQueries.dwellPercentiles(spark, dir)
        .collect().map(r => r.getString(0) -> ((r.getAs[Long]("n"),
          r.getAs[Long]("p50_us"), r.getAs[Long]("p90_us"),
          r.getAs[Long]("p99_us")))).toMap
      val (bigD, smallD) = (dwell(out), dwell(src))
      val dOk = bigD.keySet == smallD.keySet && smallD.forall {
        case (k, (n, p50, p90, p99)) =>
          bigD(k) == ((n * replicas, p50, p90, p99))
      }
      check(s"dwell percentiles invariant, n x$replicas")(dOk,
        s"src $smallD\nbig $bigD")
      def nvr(dir: String) = ops.EventQueries.newVsReturning(spark, dir)
        .collect().map(r => r.getString(0) ->
          ((r.getAs[Long]("new_users"), r.getAs[Long]("returning_users"))))
        .toMap
      val (bigN, smallN) = (nvr(out), nvr(src))
      val nOk = bigN.keySet == smallN.keySet && smallN.forall {
        case (k, (nu, ru)) => bigN(k) == ((nu * replicas, ru * replicas))
      }
      check(s"new/returning users scale x$replicas")(nOk,
        s"src $smallN\nbig $bigN")
      def ss(dir: String) = stream.StreamQueries.sessionStats(spark, dir)
        .collect().map(r => r.getString(0) ->
          ((r.getAs[Long]("n_sessions"), r.getAs[Long]("bounces"),
            r.getAs[Long]("bounce_micro"), r.getAs[Long]("total_events"),
            r.getAs[Long]("total_duration_us")))).toMap
      val (bigS2, smallS2) = (ss(out), ss(src))
      val ssOk = bigS2.keySet == smallS2.keySet && smallS2.forall {
        case (k, (n, b, bm, te, td)) =>
          bigS2(k) == ((n * replicas, b * replicas, bm, te * replicas,
            td * replicas))
      }
      check(s"session stats scale x$replicas, bounce share invariant")(
        ssOk, s"src $smallS2\nbig $bigS2")
    }

    // funnel family (the one event query pair without replication-tier
    // coverage): the strictly-after per-user fold sees identical per-user
    // streams in every replica, so step counts and conversions scale
    // exactly ×R while the discrete latency percentiles are INVARIANT —
    // percentile_disc over an R-fold replicated multiset picks the same
    // value (position ⌈q·RN⌉ lands in original value ⌈qN⌉'s block).
    timed("funnel steps/time (sf1 + compare)") {
      def fs(dir: String) = ops.RelationalQueries.funnelSteps(spark, dir)
        .collect().map(r => (r.getLong(0), r.getString(1))
          -> r.getLong(2)).toMap
      val (bigF, smallF) = (fs(out), fs(src))
      val fOk = bigF.keySet == smallF.keySet &&
        smallF.forall { case (k, n) => bigF(k) == n * replicas }
      check(s"funnel step counts scale x$replicas")(fOk,
        s"src $smallF\nbig $bigF")
      def ft(dir: String) = ops.StatsQueries.funnelTime(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).head
      val (bigT, smallT) = (ft(out), ft(src))
      check(s"conversions x$replicas, latency percentiles invariant")(
        bigT == ((smallT._1 * replicas, smallT._2, smallT._3)),
        s"src $smallT big $bigT")
    }

    // suffixed replication renames tokens but preserves token COUNTS, so
    // chunk structure (offsets, sizes, row counts) replicates exactly and
    // replica-0 — unsuffixed — is bit-identical down to the chunk md5s
    timed("chunking (sf1 + compare)") {
      val bigC = llm.CorpusQueries.chunkDocs(spark, out).localCheckpoint()
      val smallC = llm.CorpusQueries.chunkDocs(spark, src)
      val cBad = bigC.filter(col("doc_id") < Stride).unionByName(smallC)
        .groupBy(smallC.columns.map(col): _*)
        .count().filter(col("count") =!= 2).count()
      check("replica-0 chunking == sf0.1 bit-for-bit incl. md5")(cBad == 0,
        s"$cBad odd rows")
      val (cb, cs) = (bigC.count(), smallC.count())
      check(s"chunk rows scale x$replicas")(cb == cs * replicas,
        s"$cb vs $cs x$replicas")
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(bigC)
    }

    // --- round-7: de-drivered mixing/interleave -----------------------
    // temperatureMix keeps counts/weights/allocations distributed; the
    // md5-ranked draw is a pure function of (id, group, alloc), so an
    // arbitrary repartition of the 10x corpus must select the IDENTICAL
    // sample, and every group must keep min(n, alloc) rows
    timed("temperature_mix (sf1 layout)") {
      val docs1 = Tables.table(spark, out, "documents")
        .select(col("doc_id"), col("source"))
      def sel(df: DataFrame) = ops.Sampling
        .temperatureMix(df, "source", "doc_id", budget = 20000L,
          temperature = 2.0)
        .select("source", "doc_id")
      val a = sel(docs1).localCheckpoint()
      val b = sel(docs1.repartition(64))
      val tmBad = a.unionByName(b).groupBy("source", "doc_id")
        .count().filter(col("count") =!= 2).count()
      val total = a.count()
      check("temperature mix is layout-invariant at sf1, budget-bounded")(
        tmBad == 0 && total <= 20000L, s"$tmBad odd rows, total $total")
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(a)
    }

    // roundRobinInterleave's bucket index now comes from a distributed
    // sort + zipWithIndex; positions must stay unique, layout-invariant,
    // and per-bucket stride-balanced at 10x
    timed("curriculum_interleave (sf1 layout)") {
      val docs1 = Tables.table(spark, out, "documents")
        .select(col("doc_id"), col("source"))
      def sel(df: DataFrame) = ops.Sampling
        .roundRobinInterleave(df, "source", "doc_id")
      val a = sel(docs1).localCheckpoint()
      val b = sel(docs1.repartition(64))
      val riBad = a.unionByName(b).groupBy("source", "doc_id", "pos")
        .count().filter(col("count") =!= 2).count()
      val dupPos = a.groupBy("pos").count().filter(col("count") > 1).count()
      check("interleave is layout-invariant at sf1, positions unique")(
        riBad == 0 && dupPos == 0, s"$riBad odd rows, $dupPos dup positions")
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(a)
    }

    // per-source doc counts scale xR, so the balanced draw must keep
    // exactly R x the source minority count in every class
    timed("class balance (sf1)") {
      val nMinSrc = Tables.table(spark, src, "documents")
        .groupBy("source").count().agg(min(col("count"))).head().getLong(0)
      val keptCounts = ops.Sampling.classBalance(
          Tables.table(spark, out, "documents")
            .select(col("doc_id"), col("source")), "source", "doc_id")
        .groupBy("source").count().select(col("count")).distinct()
        .collect().map(_.getLong(0)).toSeq
      check(s"class balance: every class kept at x$replicas src minority")(
        keptCounts == Seq(nMinSrc * replicas),
        s"$keptCounts vs ${nMinSrc * replicas}")
    }

    // --- round-12: similarity family (the one family without ×R
    // coverage until now) --------------------------------------------
    // Orthogonal-subspace replication: replica i's 64-dim vectors live in
    // dims [64i, 64(i+1)) of a 640-dim space. Zero-padding adds exact
    // +0.0 terms to the float dot/norm sums, so within-replica cosines
    // are BIT-IDENTICAL to the source corpus, while every cross-replica
    // dot product is a sum of ±0.0 terms — cosine exactly ±0.0, which
    // can never outrank a strictly positive score. Brute-force kNN (the
    // ANN family's oracle baseline, WindowGroupLimit-gated) must
    // therefore return the identical top-k through the 10× corpus, and
    // a non-zero replica's result must be the exact id-shift of the
    // source result (ties break by id; a uniform shift preserves order).
    timed("knn (sf1 orthogonal + compare)") {
      val dim = 64
      val srcEmb = Tables.table(spark, src, "embeddings")
        .select("vec_id", "embedding")
      def padded(i: Int) = {
        val pre = lit(Array.fill(dim * i)(0.0f))
        val post = lit(Array.fill(dim * (replicas - 1 - i))(0.0f))
        concat(pre, col("embedding"), post).as("embedding")
      }
      val bigEmb = (0 until replicas).map { i =>
        srcEmb.select((col("vec_id") + lit(i * Stride)).as("vec_id"), padded(i))
      }.reduce(_ unionByName _).localCheckpoint()
      def knn(emb: DataFrame, qs: DataFrame): Set[(Long, Long, Long, Double)] =
        llm.Similarity.knnBruteForce(emb, qs, k = 10).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getDouble(3))).toSet
      val srcKnn = knn(srcEmb, srcEmb.filter(col("vec_id") < 10))
      // precondition making the isolation argument total: with every
      // source top-10 score strictly positive, a ±0.0 cross-replica
      // cosine (or a -0.0 vs +0.0 boxing difference) can never appear
      // in, or perturb, any compared row
      val minScore = srcKnn.map(_._4).min
      check("knn precondition: source top-10 scores strictly positive")(
        minScore > 0.0, f"min score $minScore%.6f")
      val bigR0 = knn(bigEmb, bigEmb.filter(col("vec_id") < 10))
      check("replica-0 knn == sf0.1 bit-for-bit through the 10x corpus")(
        bigR0 == srcKnn, s"missing ${(srcKnn -- bigR0).take(3)} " +
          s"extra ${(bigR0 -- srcKnn).take(3)}")
      val r = math.min(7, replicas - 1)
      val shifted = srcKnn.map { case (q, rk, n, s) =>
        (q + r * Stride, rk, n + r * Stride, s) }
      val bigRk = knn(bigEmb, bigEmb.filter(
        col("vec_id") >= r * Stride && col("vec_id") < r * Stride + 10))
      check(s"replica-$r knn is the exact id-shift of the source result")(
        bigRk == shifted, s"missing ${(shifted -- bigRk).take(3)} " +
          s"extra ${(bigRk -- shifted).take(3)}")

      // ANN recall at the 10× corpus (the SimilaritySpec gates run only
      // at bench SF): replica-0 queries against the full big corpus,
      // recall measured vs the brute-force result above. The orthogonal
      // construction keeps this meaningful at scale: a cross-replica
      // candidate's score is exactly ±0.0, so recall lost here would mean
      // the INDEX (cells / codebooks / shortlist) degraded with corpus
      // size — the one ANN property a 10× replication can probe. PQ keeps
      // the spec's 4-dim subvectors (m grows with the padded dim);
      // everything else runs the production defaults.
      val exactNbrs = bigR0.groupBy(_._1)
        .map { case (q, rows) => q -> rows.map(_._3).toSet }
      def meanRecall(df: DataFrame): Double = {
        val got = df.collect().groupBy(_.getLong(0))
          .view.mapValues(_.map(_.getLong(2)).toSet).toMap
        val rs = exactNbrs.map { case (q, nbrs) =>
          got.getOrElse(q, Set.empty[Long]).count(nbrs.contains).toDouble /
            nbrs.size }
        rs.sum / rs.size
      }
      val qs0 = bigEmb.filter(col("vec_id") < 10)
      val ivfR = timed("  ivf recall (10x corpus)") {
        meanRecall(llm.Similarity.ivfTopK(bigEmb, qs0, k = 10)) }
      check(f"ivf recall holds at 10x corpus ($ivfR%.3f)")(ivfR >= 0.3,
        f"mean recall $ivfR%.3f < 0.3 (the spec gate at bench SF)")
      val pqR = timed("  pq recall (10x corpus)") {
        meanRecall(llm.Similarity.pqTopK(bigEmb, qs0, k = 10,
          m = 16 * replicas)) }
      check(f"pq recall holds at 10x corpus ($pqR%.3f)")(pqR >= 0.7,
        f"mean recall $pqR%.3f < 0.7 (the spec gate at bench SF)")
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(bigEmb)
    }

    org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(pairs)
    org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(comps)
    org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(srcPairs)
    org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(winScaled)
    spark.stop()
    println(HostTelemetry.stampLine("scale"))
    if (failures.nonEmpty) { println(s"[scale] FAILED: $failures"); sys.exit(1) }
    println("[scale] all invariants hold")
  }

  /** The sf10 decade for the heavy family only: pair discovery, the CC
    * graph, span duplication, the inverted index — the operators whose
    * cost is pair- or posting-shaped and therefore the ones a 10× corpus
    * actually stresses — plus the per-user window families at 100 M
    * events: EWMA's bounded span frame, the as-of join's running-last
    * frame, and sessionize's lag + running-sum pair (a frame that leaked
    * across users or drifted with scale would break replica-0
    * bit-identity here first). Same invariant style as the full battery:
    * replica bit-equality pins correctness, ×R linearity pins the
    * scaling law, no cross-replica labels pins isolation.
    */
  private def heavyTier(spark: SparkSession, src: String, out: String,
                        replicas: Int): Unit = {
    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scale] $name%-34s ${(System.nanoTime() - t0) / 1e9}%8.1f s")
      r
    }
    var failures = List.empty[String]
    def check(name: String)(ok: Boolean, detail: => String): Unit = {
      println(s"[scale] ${if (ok) "OK  " else "FAIL"} $name${if (ok) "" else s": $detail"}")
      if (!ok) failures ::= name
    }

    val pairs = timed("minhash_pairs (materialize)") {
      llm.Dedup.minhashNearDupPairs(
        Tables.table(spark, out, "documents"), minJaccard = 0.9)
        .localCheckpoint()
    }
    val srcPairs = timed("minhash_pairs (src)") {
      llm.Dedup.minhashNearDupPairs(
        Tables.table(spark, src, "documents"), minJaccard = 0.9)
        .localCheckpoint()
    }
    timed("minhash invariants") {
      val r0 = pairs.filter(col("id_a") < Stride && col("id_b") < Stride)
      val diff = r0.unionByName(srcPairs).groupBy("id_a", "id_b", "jaccard")
        .count().filter(col("count") =!= 2).count()
      check("replica-0 minhash == src bit-for-bit")(diff == 0, s"$diff odd rows")
      val total = pairs.count(); val srcTotal = srcPairs.count()
      val ratio = total.toDouble / srcTotal
      check(s"pair volume ~linear ($total vs $srcTotal x$replicas)")(
        math.abs(ratio - replicas) / replicas < 0.05,
        f"ratio $ratio%.2f, expected ~$replicas")
    }
    timed("dup_clusters (full corpus CC)") {
      val comps = llm.Dedup.connectedComponents(
        Tables.table(spark, out, "documents").select(col("doc_id").as("id")),
        pairs)
      val crossReplica = comps
        .filter(col("id").divide(Stride).cast("long")
          =!= col("component").divide(Stride).cast("long")).count()
      check("no dup cluster crosses replicas")(crossReplica == 0,
        s"$crossReplica nodes labeled across")
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(comps)
    }
    org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(pairs)
    org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(srcPairs)

    timed("dup_spans (sfN + compare)") {
      val dsBig = llm.CorpusQueries.dupSpans(spark, out).localCheckpoint()
      val dsSrc = llm.CorpusQueries.dupSpans(spark, src)
      val dsBad = dsBig.filter(col("doc_id") < Stride).unionByName(dsSrc)
        .groupBy("doc_id", "n_tokens", "dup_tokens", "n_runs", "max_run",
          "dupspan_micro")
        .count().filter(col("count") =!= 2).count()
      check("replica-0 dup spans == src bit-for-bit")(dsBad == 0,
        s"$dsBad odd rows")
      val (db, ds) = (dsBig.count(), dsSrc.count())
      check(s"dup-span rows scale x$replicas")(db == ds * replicas,
        s"$db vs $ds x$replicas")
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(dsBig)
    }

    // inverted index on the SHARED-vocab corpus: every df and tf_total is
    // exactly xR with an identical top-200 term set and order, and the
    // first-10 postings are IDENTICAL — replica-0 ids sort first and carry
    // the same per-doc tf (the posting strings don't even see the shift)
    timed("inverted_index (shared + compare)") {
      val iiSrc = llm.CorpusQueries.invertedIndex(spark, src).collect()
        .map(r => (r.getString(0), r.getLong(1) * replicas,
          r.getLong(2) * replicas, r.getString(3))).toSeq
      val iiBig = llm.CorpusQueries.invertedIndex(spark, s"$out/shared")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSeq
      check(s"inverted index: df/tf x$replicas, postings + order identical")(
        iiSrc == iiBig,
        s"first diff: ${iiSrc.zip(iiBig).find(p => p._1 != p._2)}")
    }

    // EWMA span-frame invariant at the decade: per-user bounded frame +
    // id-shifted replicas means replica-0 rows are bit-identical to the
    // source and the row volume is exactly xR — if the window frame ever
    // leaked across users (or the frame bound drifted with scale), the
    // suffix replicas' values would contaminate replica 0 here first
    timed("ewma (sfN + compare)") {
      val ewSrc = ops.StatsQueries.ewmaValues(spark, src).localCheckpoint()
      val ewBig = ops.StatsQueries.ewmaValues(spark, out).localCheckpoint()
      // same precondition as the full tier: double-typed grouping
      // normalizes -0.0→0.0 / NaN==NaN (the only two gaps between group
      // equality and bit identity), so "no NaN, no -0.0" on both sides
      // upgrades the group-equality below to true bit-identity (string
      // cast keeps the -0.0 sign; see the full-tier note on why an
      // equality-guarded sign test doesn't survive the optimizer)
      def degenerate(df: DataFrame): Long = df.filter(col("ewma").isNaN ||
        col("ewma").cast("string") === "-0.0").count()
      val degen = degenerate(ewBig) + degenerate(ewSrc)
      check("ewma values free of NaN/-0.0 (bit-identity precondition)")(
        degen == 0, s"$degen degenerate rows")
      val ewBad = ewBig.filter(col("event_id") < Stride).unionByName(ewSrc)
        .groupBy("event_id", "ewma").count()
        .filter(col("count") =!= 2).count()
      check("replica-0 ewma == src bit-for-bit")(ewBad == 0,
        s"$ewBad odd rows")
      val (eb, es) = (ewBig.count(), ewSrc.count())
      check(s"ewma rows scale x$replicas")(eb == es * replicas,
        s"$eb vs $es x$replicas")
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(ewBig)
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(ewSrc)
    }

    // as-of join at the decade — the one temporal operator with no
    // replication-tier coverage below this (scd2/attribution/session
    // AGGREGATES are pinned at ×10 in the full tier; the as-of union →
    // running-last window shape is not). Per-user matching + id-shifted
    // replicas ⇒ replica-0 enrichments are bit-identical to the source
    // and the row volume (one row per error event) is exactly ×R.
    timed("asof_clicks (sfN + compare)") {
      val aBig = ops.StatsQueries.asofClicks(spark, out).localCheckpoint()
      val aSrc = ops.StatsQueries.asofClicks(spark, src)
      // click_value travels as its shortest-roundtrip string: double-typed
      // grouping would normalize -0.0→0.0 / NaN==NaN (the EWMA caveat),
      // and unlike EWMA's derived values the raw value column carries no
      // non-negativity argument — the cast is value-faithful for every
      // double including those two, so no precondition is needed
      def keyed(df: DataFrame) = df.select(col("event_id"),
        col("click_value").cast("string").as("cv"))
      val aBad = keyed(aBig).filter(col("event_id") < Stride)
        .unionByName(keyed(aSrc))
        .groupBy("event_id", "cv").count()
        .filter(col("count") =!= 2).count()
      check("replica-0 asof enrichment == src bit-for-bit")(aBad == 0,
        s"$aBad odd rows")
      val (ab, as) = (aBig.count(), aSrc.count())
      check(s"asof rows scale x$replicas")(ab == as * replicas,
        s"$ab vs $as x$replicas")
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(aBig)
    }

    // raw per-event session ASSIGNMENT at the decade: the full tier pins
    // sessionStats' per-entry-type aggregates at ×10, which would mask a
    // compensating mis-assignment (events swapped between two sessions of
    // the same entry type). The lag + running-sum window pair is also a
    // different frame family from EWMA's bounded span frame — this is its
    // 100 M-event stress. Same production parameters as the queries
    // (gap 6 h, event_id tie-break).
    timed("sessionize (sfN + compare)") {
      def sess(dir: String) = stream.Sessionize.sessionize(
          Tables.table(spark, dir, "events"),
          userCol = "user_id", tsCol = "ts", tieBreak = "event_id",
          gapSeconds = 6 * 3600L)
        .select(col("event_id"), col("user_id"), col("session_id"))
      val sBig = sess(out).localCheckpoint()
      val sSrc = sess(src)
      val sBad = sBig.filter(col("user_id") < Stride).unionByName(sSrc)
        .groupBy("event_id", "user_id", "session_id").count()
        .filter(col("count") =!= 2).count()
      check("replica-0 session ids == src bit-for-bit")(sBad == 0,
        s"$sBad odd rows")
      val nb = sBig.select("user_id", "session_id").distinct().count()
      val ns = sSrc.select("user_id", "session_id").distinct().count()
      check(s"session count scales x$replicas")(nb == ns * replicas,
        s"$nb vs $ns x$replicas")
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(sBig)
    }

    // streaming sessionize at the decade — closes the one documented
    // replication-tier hole (SURVEY §8: the single-file corpus was one
    // micro-batch, so no watermark ever closed a session). The
    // events_stream corpus (generate(): k time-ordered files + sentinel
    // tail) makes AvailableNow produce real micro-batches, the watermark
    // advances batch-to-batch, and event-time timeouts close sessions on
    // the REAL file-stream path. Contract: the streaming closed-session
    // MULTISET equals a batch recompute exactly at 100 M events —
    // multiset, not set, because one user can have two sessions with
    // identical (n_events, duration_s) — and the replica-0 slice equals
    // the src batch recompute (streaming-path bit-identity).
    timed("stream_sessionize (sfN + parity)") {
      val gap = 6 * 3600L
      val streamed = stream.StreamQueries.streamSessionizeFiles(
          spark, s"$out/events_stream", s"$out/__stream_sessions", gap)
        .localCheckpoint()
      def batchSessions(dir: String) = stream.Sessionize.sessionize(
          Tables.table(spark, dir, "events"),
          userCol = "user_id", tsCol = "ts", tieBreak = "event_id",
          gapSeconds = gap)
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).cast("int").as("n_events"),
          (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
            .as("dur_us"))
        // integer microsecond→second truncation, matching ClosedSession's
        // (last - start) / 1000000L — col./ would be double division
        .select(col("user_id"), col("n_events"),
          expr("dur_us div 1000000").as("duration_s"))
      def keyed(df: DataFrame, n: String) =
        df.groupBy("user_id", "n_events", "duration_s")
          .agg(count(lit(1)).as(n))
      val bad = keyed(batchSessions(out), "n_b")
        .join(keyed(streamed, "n_s"),
          Seq("user_id", "n_events", "duration_s"), "full")
        .filter(coalesce(col("n_b"), lit(-1L)) =!=
          coalesce(col("n_s"), lit(-2L))).count()
      check(s"streaming sessions == batch sessions at x$replicas")(
        bad == 0, s"$bad (user,n_events,duration) keys differ")
      val bad0 = keyed(streamed.filter(col("user_id") < Stride), "n_s")
        .join(keyed(batchSessions(src), "n_b"),
          Seq("user_id", "n_events", "duration_s"), "full")
        .filter(coalesce(col("n_b"), lit(-1L)) =!=
          coalesce(col("n_s"), lit(-2L))).count()
      check("replica-0 streamed sessions == src batch bit-for-bit")(
        bad0 == 0, s"$bad0 keys differ")
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(streamed)
    }

    // streaming windowed aggregation at the decade: 100 M events through
    // the REAL file-stream path (same invariant the full tier pins at
    // ×10). State cardinality (window × event_type) is fixed by
    // construction — what the decade grows is the stateful shuffle's
    // input volume, the dimension a micro-batch engine must absorb.
    timed("stream_windowed (sfN + compare)") {
      val wBig = stream.StreamQueries.streamWindowedCounts(spark, out)
        .localCheckpoint()
      val wSrc = stream.StreamQueries.streamWindowedCounts(spark, src)
      val wBad = wSrc
        .join(wBig.withColumnRenamed("n", "n_big"),
          Seq("win_start", "event_type"), "full")
        .filter(coalesce(col("n_big"), lit(-1L))
          =!= coalesce(col("n"), lit(-1L)) * replicas)
        .count()
      check(s"streaming windowed counts exactly x$replicas")(wBad == 0,
        s"$wBad windows off")
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(wBig)
    }

    // scd2 + attribution at the decade — the remaining two per-user
    // temporal folds (the full tier pins both at ×10; same compare shape
    // reused so the two tiers stay directly comparable). With these,
    // EVERY per-user temporal operator — ewma, as-of, sessionize, scd2
    // islands, last-touch attribution — holds replica-0 bit-identity and
    // exact ×R volume at 100 M events.
    timed("scd2 + attribution (sfN + compare)") {
      val bigS = ops.EventQueries.scd2Intervals(spark, out).localCheckpoint()
      val smallS = ops.EventQueries.scd2Intervals(spark, src)
      val sBad = bigS.filter(col("user_id") < Stride).unionByName(smallS)
        .groupBy(smallS.columns.map(col): _*)
        .count().filter(col("count") =!= 2).count()
      check("replica-0 scd2 == src bit-for-bit")(sBad == 0,
        s"$sBad odd rows")
      val (scb, scs) = (bigS.count(), smallS.count())
      check(s"scd2 islands scale x$replicas")(scb == scs * replicas,
        s"$scb vs $scs x$replicas")
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(bigS)
      val bigA = ops.EventQueries.attribution(spark, out).localCheckpoint()
      val smallA = ops.EventQueries.attribution(spark, src)
      val atBad = bigA.filter(col("user_id") < Stride).unionByName(smallA)
        .groupBy(smallA.columns.map(col): _*)
        .count().filter(col("count") =!= 2).count()
      check("replica-0 attribution == src bit-for-bit")(atBad == 0,
        s"$atBad odd rows")
      val (atb, ats) = (bigA.count(), smallA.count())
      check(s"attribution rows scale x$replicas")(atb == ats * replicas,
        s"$atb vs $ats x$replicas")
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(bigA)
    }

    spark.stop()
    println(HostTelemetry.stampLine("scale"))
    if (failures.nonEmpty) { println(s"[scale] FAILED: $failures"); sys.exit(1) }
    println(s"[scale] heavy tier: all invariants hold at x$replicas")
  }

  /** Replicate documents + events from `src` into `out`, one parquet FILE
    * per table (the file-stream path globs on the exact name). Idempotent
    * per (src, replicas): a marker file records the generation arguments,
    * and any mismatch regenerates everything — silently reusing a corpus
    * built with different arguments would fail the ×N invariants and
    * misread as an engine scaling bug.
    */
  private def generate(spark: SparkSession, src: String, out: String,
                       replicas: Int, streamFiles: Boolean = false): Unit = {
    new java.io.File(out).mkdirs()
    val marker = new java.io.File(out, "gen_args.txt")
    // fingerprint the SOURCE files (len+mtime), not just the arguments: the
    // harness regenerates /root/testdata between rounds (r8 changed the
    // events ts encoding in place), and a replica corpus built from the old
    // vintage would fail the ×N invariants as a phantom engine bug
    val srcPrint = Seq("documents", "events").map { t =>
      val f = new java.io.File(s"$src/$t.parquet")
      // length()/lastModified() return 0 for a missing file — that would
      // fingerprint an absent source as "0:0" and poison the marker; a
      // mid-regeneration window (the scenario this guards against) must
      // fail fast instead
      require(f.isFile, s"source table missing: $f — is the testdata " +
        "directory mid-regeneration?")
      s"$t=${f.length()}:${f.lastModified()}"
    }.mkString(" ")
    val wanted = s"src=$src replicas=$replicas $srcPrint"
    val current = if (marker.exists())
      // UTF-8 explicitly: the marker is written UTF-8 below, and a
      // platform-default-charset read would mismatch it (and spuriously
      // regenerate the corpus) on a non-UTF-8 host
      new String(java.nio.file.Files.readAllBytes(marker.toPath),
        java.nio.charset.StandardCharsets.UTF_8) else ""
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(): Unit
    }
    if (current != wanted) {
      new java.io.File(s"$out/documents.parquet").delete()
      new java.io.File(s"$out/events.parquet").delete()
      new java.io.File(s"$out/shared/documents.parquet").delete()
      rmTree(new java.io.File(s"$out/events_stream"))
      marker.delete()
    }
    if (!new java.io.File(s"$out/documents.parquet").exists()) {
      val docs = spark.read.parquet(s"$src/documents.parquet")
      writeSingleFile((0 until replicas).map { i =>
        if (i == 0) docs
        else docs // suffix every token: same within-replica set structure,
          .withColumn("doc_id", col("doc_id") + lit(i * Stride)) // zero across
          .withColumn("text", concat(
            regexp_replace(col("text"), lit(" "), lit(s"_r$i ")), lit(s"_r$i")))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }.reduce(_ unionByName _), out, "documents")
    }
    if (!new java.io.File(s"$out/shared/documents.parquet").exists()) {
      // SHARED-vocab replicas (doc_id shift only, text untouched): the
      // corpus-frequency family's invariants need counts to scale ×R with
      // the vocabulary held fixed — the complement of the suffixed corpus,
      // whose disjoint vocabularies pin the near-dup/LM family instead
      new java.io.File(s"$out/shared").mkdirs()
      val docs = spark.read.parquet(s"$src/documents.parquet")
      writeSingleFile((0 until replicas).map { i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i * Stride))
      }.reduce(_ unionByName _), s"$out/shared", "documents")
    }
    if (!new java.io.File(s"$out/events.parquet").exists()) {
      // keep ts (so windows line up as exact multiples); shift ids so
      // per-user/per-batch group sizes stay constant instead of growing.
      // Raw read: the replica preserves whatever physical ts vintage the
      // source has, and Tables.eventsLayout re-adapts on read-back.
      val ev = graft.Tables.rawEvents(spark, src)
      writeSingleFile((0 until replicas).map { i =>
        ev.withColumn("event_id", col("event_id") + lit(i * Stride))
          .withColumn("user_id", col("user_id") + lit(i * Stride))
      }.reduce(_ unionByName _), out, "events")
    }
    val esDir = new java.io.File(s"$out/events_stream")
    if (streamFiles && esDir.exists()) {
      // sentinel-vintage check: pre-r14 corpora stamped sentinel rows with
      // user_id -1; the reserved id is now StreamQueries.SentinelUserId
      // (exact-match filtered by the reader). A cached corpus of the old
      // vintage would leak its sentinels into the parity check — rebuild it.
      // A missing/unreadable sentinel file (interrupted prior build that
      // left the dir but not the sentinels) is UNKNOWN vintage: rebuild
      // rather than crash (ADVICE r14).
      val vintage =
        try Some(spark.read
          .parquet(s"$out/events_stream/zz_sentinel_0.parquet")
          .agg(min(col("user_id"))).collect()(0).getLong(0))
        catch { case scala.util.control.NonFatal(_) => None }
      if (!vintage.contains(stream.StreamQueries.SentinelUserId)) {
        println(s"[scale] events_stream sentinel vintage " +
          s"${vintage.getOrElse("unreadable")} — rebuilding")
        rmTree(esDir)
      }
    }
    if (streamFiles && !esDir.exists()) {
      // time-ordered micro-batch corpus for the streaming-sessionize
      // decade invariant (StreamQueries.streamSessionizeFiles): the
      // replica events split into k files with DISJOINT, ASCENDING time
      // ranges (repartitionByRange on ts — equal timestamps can never
      // straddle a file boundary, so cross-batch arrival is strictly
      // time-ordered, the streaming==batch parity precondition), plus two
      // far-future sentinel files that drive the final watermark advance
      // and the timed-out state sweep. File mod-times are stamped 2 s
      // apart in range order because FileStreamSource picks pending files
      // oldest-mod-time first — the file NAME order is not its contract.
      val k = 24
      val gapUs = 6 * 3600L * 1000000L // the production session gap
      // build under a scratch name, rename LAST: the main gen marker is
      // already valid when this block runs after a cache hit, so a crash
      // mid-build must not leave a partial events_stream a later run
      // would trust
      val dir = new java.io.File(s"$out/__build_events_stream")
      rmTree(dir); dir.mkdirs()
      val ev = Tables.table(spark, out, "events")
        .select(col("user_id"), col("ts"))
      val tmp = new java.io.File(s"$out/__tmp_events_stream")
      ev.repartitionByRange(k, col("ts"))
        .write.mode("overwrite").parquet(tmp.toString)
      // a failed/partial write must be loud, not an NPE or a silently
      // short corpus whose micro-batch count drifts (ADVICE r13);
      // repartitionByRange may legitimately emit fewer than k files when
      // its range sampling collapses ties, so short-of-k is logged, and
      // only an EMPTY corpus is an error
      val parts = Option(tmp.listFiles())
        .getOrElse(sys.error(s"events_stream build: cannot list $tmp"))
        .filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName) // part-NNNNN ascends with the range index
      require(parts.nonEmpty,
        s"events_stream build: no parquet parts under $tmp")
      if (parts.length != k)
        println(s"[scale] events_stream: ${parts.length} range files " +
          s"(requested $k) — micro-batch count follows the actual files")
      val base = System.currentTimeMillis() - (k + 8) * 2000L
      parts.zipWithIndex.foreach { case (p, i) =>
        val dst = new java.io.File(dir, f"ev_$i%04d.parquet")
        java.nio.file.Files.move(p.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        require(dst.setLastModified(base + i * 2000L), s"mtime: $dst")
      }
      rmTree(tmp)
      // one pass for the sentinel timestamps AND the sentinel-collision
      // guard: the reader drops EXACTLY SentinelUserId, so real data must
      // never carry it — refuse to build a corpus where it does (ADVICE
      // r13: a range filter like "all negative ids" would instead drop
      // legitimate rows silently). min()==Long.MinValue iff present.
      val bounds = ev.agg(max(unix_micros(col("ts"))), min(col("user_id")))
        .collect()(0)
      val (maxUs, minUid) = (bounds.getLong(0), bounds.getLong(1))
      require(minUid != stream.StreamQueries.SentinelUserId,
        s"events_stream build: real data contains the reserved sentinel " +
          s"user_id ${stream.StreamQueries.SentinelUserId}")
      Seq(maxUs + 100L * gapUs, maxUs + 200L * gapUs).zipWithIndex
        .foreach { case (us, i) =>
          // sentinel rows: harness plumbing, exact-filtered out of results
          val one = spark.range(1)
            .select(lit(stream.StreamQueries.SentinelUserId).as("user_id"),
              timestamp_micros(lit(us)).as("ts"))
          writeSingleFile(one, dir.toString, s"zz_sentinel_$i")
          val f = new java.io.File(dir, s"zz_sentinel_$i.parquet")
          require(f.setLastModified(base + (k + 1 + i) * 2000L), s"mtime: $f")
        }
      require(dir.renameTo(new java.io.File(s"$out/events_stream")),
        s"rename $dir -> $out/events_stream failed")
    }
    // marker LAST: a crash mid-generation leaves no marker, so the next
    // run regenerates instead of trusting partial output
    java.nio.file.Files.write(marker.toPath,
      wanted.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
  }

  private def writeSingleFile(df: DataFrame, out: String, name: String): Unit = {
    val tmp = new java.io.File(s"$out/__tmp_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Option(tmp.listFiles()).getOrElse(
        sys.error(s"cannot list just-written tmp dir $tmp for $name"))
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written for $name"))
    java.nio.file.Files.move(part.toPath,
      new java.io.File(out, s"$name.parquet").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(tmp)
  }
}
