package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, GreaterThan, Literal, Size}
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Physical-plan assertions: the properties that decide 100 TB behavior —
  * pushdown reaching the scan, column pruning, broadcast vs shuffle join
  * selection, top-k fusion, codegen coverage — pinned as tests so a
  * refactor that silently defeats Catalyst fails CI, not the cluster.
  */
class PlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = GraftTestSpark.spark
  val sf = GraftTestSpark.sfDir

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The `size(<non-attribute>) > 0` conjuncts of `p`'s Filter conditions,
    * through adaptive stages and subqueries. */
  private def inferredExplodeFilters(p: SparkPlan): Seq[Expression] =
    collectWithSubqueries(p) { case f: FilterExec => f.condition }
      .flatMap(_.collect {
        case g @ GreaterThan(Size(a, _), Literal(0, _)) if !a.isInstanceOf[Attribute] => g
      })

  test("filters are pushed into the parquet scan") {
    val df = Tables.table(spark, sf, "orders")
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_totalprice")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]"),
      s"filter not pushed:\n$p")
  }

  test("column pruning reaches the scan (ReadSchema is the projection)") {
    val df = Tables.table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan reads more than the projection:\n$p")
  }

  test("star join broadcasts dimensions, never shuffles them") {
    val p = plan(graft.ops.RelationalQueries.regionRevenue(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    // region/nation must not be exchanged by hash partitioning
    assert(!p.contains("hashpartitioning(n_nationkey"), s"dimension shuffled:\n$p")
    assert(!p.contains("hashpartitioning(r_regionkey"), s"dimension shuffled:\n$p")
  }

  test("top-k fuses into TakeOrderedAndProject (no global sort)") {
    val p = plan(graft.ops.RelationalQueries.topkOrders(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"top-k not fused:\n$p")
  }

  test("knn broadcasts the query set (corpus is never shuffled)") {
    val emb = Tables.table(spark, sf, "embeddings")
    val p = plan(graft.llm.Similarity.knnBruteForce(
      emb, emb.filter(col("vec_id") < 5), k = 10))
    assert(p.contains("BroadcastNestedLoopJoin"), s"knn plan:\n$p")
    // the only exchange allowed is for the per-query window rank
    assert(!p.contains("hashpartitioning(neighbor_id"), s"corpus shuffled:\n$p")
  }

  test("q1 aggregation runs inside whole-stage codegen") {
    val df = graft.ops.RelationalQueries.q1Lineitem(spark, sf)
    df.collect() // AQE only materializes codegen stages on execution
    val p = plan(df)
    // codegen spans render as `*(n)` operator prefixes
    assert(p.contains("*(1) HashAggregate"), s"agg outside codegen:\n$p")
    assert(p.contains("partial_sum"), s"no map-side partial agg:\n$p")
  }

  test("custom expressions stay inside codegen (no fallback to interpreted)") {
    // a non-codegen expression would force the projection out of the
    // WholeStageCodegen span (rendered as a `*(n)` prefix) above the scan
    val emb = Tables.table(spark, sf, "embeddings")
    val df = emb.select(graft.functions.ArrayMath.dot(
      col("embedding"), col("embedding")).as("d"))
    assert(plan(df).contains("*(1) Project"), plan(df))
    // non-foldable inputs: all-literal arrays would be constant-folded
    // away on the driver and the assertion would test nothing (and HOFs
    // like transform() are CodegenFallback, which would break the span
    // for reasons unrelated to the expression under test)
    val h = xxhash64(col("vec_id"))
    val si = emb.select(graft.functions.SetMath.sortedIntersectCount(
      array(h), array(h, h)).as("c"))
    val sp = plan(si)
    assert(sp.contains("*(1) Project") && sp.contains("sortedintersectcount"),
      sp)
    val toks = split(col("text"), " ")
    val docs = Tables.table(spark, sf, "documents")
    val books = Array(Array(Array(0.0), Array(1.0)))
    for ((df, name) <- Seq(
        docs.select(graft.functions.TextHash.simhash64(toks)) -> "simhash64",
        docs.select(graft.functions.HashFamily.tokenHashSet(toks)) -> "tokenhashset",
        docs.select(graft.functions.HashFamily.minhashSignature(
          graft.functions.HashFamily.tokenHashSet(toks), 4)) -> "minhashsignature",
        docs.select(graft.functions.CharEntropy.charEntropy(col("text"))) ->
          "charentropy",
        docs.select(graft.functions.RepetitionMicro.repetitionMicro(toks)) ->
          "repetitionmicro",
        emb.select(graft.functions.PqEncode.pqEncode(
          slice(col("embedding"), 1, 1).cast("array<double>"), books)) ->
          "pqencode")) {
      val p = plan(df)
      assert(p.contains("*(1) Project") && p.contains(name), p)
    }
  }

  test("exact dedup shuffles 16-byte fingerprints, not document text") {
    val p = plan(graft.llm.Dedup.exactDupGroups(
      Tables.table(spark, sf, "documents")))
    // the exchange must be keyed on the fingerprint, and the partial
    // aggregate feeding it must not carry the text column — only the scan
    // and the fingerprint projection below it may touch text
    assert(p.contains("hashpartitioning(fp"), s"dedup not keyed by fp:\n$p")
    val partialAgg = p.linesIterator.find(_.contains("partial_min")).get
    assert(!partialAgg.contains("text#"),
      s"document text carried into the shuffle:\n$partialAgg")
  }

  test("ranked-window top-k gets the WindowGroupLimit pushdown") {
    // rank()<=k filters should plan a per-partition group limit BEFORE
    // the full window sort (Spark's InferWindowGroupLimit); losing it
    // means every group's full history flows through the window exchange
    val p = plan(graft.ops.RelationalQueries.windowTopUsers(spark, sf))
    assert(p.contains("WindowGroupLimit"), s"no group-limit pushdown:\n$p")
  }

  test("banded near-dup paths join on bucket keys, never nested-loop") {
    // the whole point of banding: candidate generation is an EQUI-join on
    // (band_idx, band_key). A plan falling back to BroadcastNestedLoopJoin
    // or CartesianProduct means the N² path snuck back in — the silent
    // killer at corpus scale (only simhashPairs/jaccard, the bounded
    // VERIFICATION forms, are allowed their nested-loop shape)
    for (df <- Seq(
        llm.LlmQueries.simhashBanded(spark, sf),
        llm.LlmQueries.minhashPairs(spark, sf),
        llm.LlmQueries.lshCosinePairs(spark, sf))) {
      val p = plan(df)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"banded path degenerated to an all-pairs join:\n${p.take(4000)}")
    }
  }


  test("winnowing/contamination explodes don't regress to inferred pre-filters") {
    // InferFiltersFromGenerate + predicate pushdown can inline a staged
    // HOF chain into a per-row size(...) > 0 filter under the Generate —
    // re-deriving the whole fingerprint array per row (measured 94 s vs
    // 0.7 s at sf0.1). explode_outer + attribute null-filter avoids it;
    // this pins that no filter carries the re-inlined array pipeline.
    for (df <- Seq(
        llm.LlmQueries.winnowPairs(spark, sf),
        llm.LlmQueries.contamination(spark, sf))) {
      val p = plan(df)
      assert(!p.contains("size(array_sort") && !p.contains("size(array_distinct"),
        s"inferred generate filter re-inlined the array chain:\n${p.take(3000)}")
    }
  }

  test("token explodes never re-inline split() into an inferred filter") {
    // same trap, token-family queries: a Filter containing split( means
    // InferFiltersFromGenerate re-derived the tokenization per row and
    // every document is split twice
    for (df <- Seq(
        llm.CorpusQueries.heavyHitters(spark, sf),
        llm.CorpusQueries.unigramLogprob(spark, sf),
        llm.CorpusQueries.sourceVocab(spark, sf),
        llm.CorpusQueries.bigramLogprob(spark, sf),
        llm.CorpusQueries.interDocDupFraction(spark, sf),
        llm.CorpusQueries.dupSpans(spark, sf),
        llm.LlmQueries.simhashBanded(spark, sf))) {
      val p = plan(df)
      val bad = p.linesIterator.exists(l => l.contains("Filter") && l.contains("split("))
      assert(!bad, s"split() re-inlined into a filter:\n${p.take(3000)}")
    }
  }

  test("no registry query plans a filter inferred from a plain explode") {
    // InferFiltersFromGenerate gives a plain `explode` a size(arr) > 0
    // filter; pushed under the projection that staged `arr`, it re-runs
    // the array's whole producing chain per row (TextStats.explodeNonNull).
    // Its signature is size(<non-attribute>) > 0 in a Filter. Checked in
    // every plan a build executes (checkpoints, driver-side collects) and
    // in the plan it returns. The eager queries are the batch-only ones
    // whose builders explode through TextStats.
    val eagerBatch = Set("q_bpe_learn", "q_bpe_vocab",
      "q_approx_heavy_hitters", "q_source_kl", "q_importance_weights")
    val eager = SparkEntry.registry.filter(_.eager).map(_.name).toSet
    assert(eagerBatch.subsetOf(eager), eagerBatch -- eager)
    val gated = SparkEntry.registry.filter(d => !d.eager || eagerBatch(d.name))
    val built = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        built.add(qe.executedPlan): Unit
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val bad = try gated.flatMap { d =>
      built.clear()
      val returned = SparkEntry.run(spark, d.name, sf)(_.queryExecution.executedPlan)
      org.apache.spark.GraftTestAccess.drain(spark.sparkContext)
      (returned +: built.asScala.toSeq).flatMap(inferredExplodeFilters)
        .map(c => s"${d.name}: $c")
    } finally spark.listenerManager.unregister(listener)
    info(s"${gated.size} queries gated")
    assert(bad.isEmpty, s"inferred explode filters:\n${bad.mkString("\n")}")
  }

  test("hash-rank sampling keeps the WindowGroupLimit pushdown") {
    val p = plan(llm.CorpusQueries.hashSample(spark, sf))
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n$p")
  }

  test("MMR candidate stage keeps the WindowGroupLimit pushdown") {
    // the top-m rank window over the corpus-sized scored frame must
    // pre-prune per input partition, or every score row crosses the
    // per-query exchange. mmrSelect localCheckpoints this frame (it
    // feeds 3 consumers), which plans the final query as Scan
    // ExistingRDD — so the pushdown is asserted on the candidate stage
    // itself, pre-checkpoint (same inputs as q_mmr_diverse).
    val emb = Tables.table(spark, sf, "embeddings")
    val p = plan(llm.Similarity.mmrCandidates(
      emb, emb.filter(col("vec_id") < 5), m = 20))
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n$p")
  }

  test("weighted sampling keeps the WindowGroupLimit pushdown") {
    // same contract as hash-rank sampling: the E-S key window must
    // pre-prune to k rows per group per input partition before the
    // shuffle, or each source's full doc list crosses the exchange
    val p = plan(llm.CorpusQueries.weightedSampleDocs(spark, sf))
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n$p")
  }

  test("per-user window chains ride ONE user_id exchange (scd2, " +
      "attribution, session stats)") {
    // the lag/sum/lead (and sessionize+collapse) chains all partition by
    // user_id: the islands groupBy satisfies its distribution from the
    // window's hash partitioning (subset property), so only the final
    // presentation sort may add a second exchange. A regression here
    // means the whole event table crosses the wire twice.
    for (q <- Seq(
        graft.ops.EventQueries.scd2Intervals(spark, sf),
        graft.ops.EventQueries.attribution(spark, sf),
        graft.stream.StreamQueries.sessionStats(spark, sf))) {
      val p = plan(q)
      val n = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
      assert(n == 1, s"expected exactly 1 user_id exchange, got $n:\n$p")
    }
  }

  test("class balancing keeps the WindowGroupLimit pushdown") {
    // the cutoff is collected to a LITERAL precisely so this fires — a
    // 1-row broadcast column form was plan-clean but group-limit-blind,
    // shipping every majority-class row across the exchange
    val p = plan(graft.ops.Sampling.classBalance(
      graft.Tables.table(spark, sf, "embeddings")
        .select(col("vec_id"), col("label")), "label", "vec_id"))
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n$p")
  }

  test("MRL rerank: both ranking stages pre-prune per input partition") {
    // stage 1's top-m window sees the corpus-sized scored frame — a
    // Partial WindowGroupLimit must bound what crosses the per-query
    // exchange; stage 2 re-ranks the m-bounded survivors
    val p = plan(llm.LlmQueries.mrlRerank(spark, sf))
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"expected both stages group-limited:\n$p")
    assert(p.contains("Partial"), s"no partial pre-prune:\n$p")
  }

  test("PQ ADC shortlist and rerank both get WindowGroupLimit pruning") {
    // per-query rank windows over corpus-sized input MUST pre-prune to
    // top-k per input partition or one window partition holds the corpus
    val emb = Tables.table(spark, sf, "embeddings")
    val p = plan(llm.Similarity.pqTopK(emb, emb.filter(col("vec_id") < 3), 5))
    assert("WindowGroupLimit".r.findAllIn(p).length >= 4,
      s"shortlist/rerank windows not group-limited:\n${p.take(3000)}")
  }

  test("PQ encode runs inside whole-stage codegen (no interpreted fallback)") {
    // the encode pass walks every corpus vector — a CodegenFallback here
    // is the difference between a primitive loop and three intermediate
    // arrays per subspace per row at 100 TB. Isolate the expression over
    // a plain double-array column (unitNormalize's HOFs are fallback by
    // nature and would break the span for unrelated reasons).
    val books = Array.tabulate(4, 3, 16)((s, c, j) => (s + c + j) * 0.1)
    val df = Tables.table(spark, sf, "embeddings")
      .select(col("embedding").cast("array<double>").as("u"))
      .select(graft.functions.PqEncode.pqEncode(col("u"), books).as("codes"))
    df.collect() // AQE shows codegen stars only after an action
    val p = plan(df)
    assert(p.contains("pqencode"), s"expression missing from plan:\n$p")
    assert(p.contains("*(1) Project"),
      s"PQ encode projection fell out of codegen:\n$p")
  }

  test("equi-depth histogram broadcasts the boundary row (no ntile sort)") {
    val p = plan(graft.ops.EventQueries.equidepthHistogram(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"boundary row not broadcast:\n$p")
    // "ntile(" not "ntile": percentile_disc contains the substring
    assert(!p.contains("ntile("), s"global ntile crept in:\n$p")
  }

  test("bloom semi join keeps the pushdown-friendly scan under the probe") {
    val fact = Tables.table(spark, sf, "orders")
    val dim = Tables.table(spark, sf, "customer").limit(100)
    val p = plan(ops.BloomPrune.bloomSemiJoin(fact, dim, "o_custkey", "c_custkey",
      expectedItems = 1000000L))
    // the probe filter must sit on the scan side (pre-shuffle), and the
    // final exact join stays a real equi-join
    assert(p.contains("might_contain"), s"bloom probe missing:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("vocab top-k family plans TakeOrderedAndProject, never a rank window") {
    // A 100 TB corpus has a Heaps-law-unbounded vocabulary; an
    // unpartitioned rank window over it single-partition sorts the one
    // frame that must stay distributed. The whole family must plan
    // orderBy+limit (TakeOrderedAndProject) with ZERO window operators.
    val qs = Seq(
      "q_heavy_hitters" -> graft.llm.CorpusQueries.heavyHitters(spark, sf),
      "q_bpe_pairs" -> graft.llm.CorpusQueries.bpePairs(spark, sf),
      "q_collocations" -> graft.llm.CorpusQueries.collocations(spark, sf),
      "q_zipf_slope" -> graft.llm.CorpusQueries.zipfSlope(spark, sf),
      "q_inverted_index" -> graft.llm.CorpusQueries.invertedIndex(spark, sf))
    qs.foreach { case (name, df) =>
      val p = plan(df)
      assert(p.contains("TakeOrderedAndProject"),
        s"$name lost the top-k fusion:\n$p")
      assert(!p.contains("Window ["),
        s"$name plans a window over the vocabulary frame:\n$p")
    }
  }

  test("char entropy is one codegen'd per-row pass: no explode, no aggregate shuffle") {
    val df = graft.llm.CorpusQueries.charEntropy(spark, sf)
    val p = plan(df)
    assert(p.contains("charentropy"), s"expression missing from plan:\n$p")
    assert(!p.contains("Generate"), s"per-character explode resurfaced:\n$p")
    assert(!p.contains("HashAggregate"), s"char-count aggregate resurfaced:\n$p")
    assert(!p.contains("hashpartitioning"),
      s"shuffle in a per-row query (only the presentation sort may exchange):\n$p")
    df.collect() // AQE shows codegen stars only after an action
    assert(plan(df).contains("*(1) Project"),
      s"entropy projection fell out of codegen:\n${plan(df)}")
  }

  test("corpus LM/collocation queries never broadcast-hint a token-keyed frame") {
    // a 100 TB corpus's vocabulary is Heaps-law unbounded, so any frame
    // KEYED by token must reach its join un-hinted (AQE broadcasts at
    // bench SF, shuffles at web scale). The only explicit broadcast hints
    // allowed in this family wrap grouping-free (scalar, 1-row) aggregates
    // — the grand totals. A hint over a grouped aggregate is a plan that
    // driver-OOMs at 100×.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, ResolvedHint}
    for ((name, df) <- Seq(
        "unigram_logprob" -> llm.CorpusQueries.unigramLogprob(spark, sf),
        "collocations" -> llm.CorpusQueries.collocations(spark, sf),
        "bigram_logprob" -> llm.CorpusQueries.bigramLogprob(spark, sf),
        "importance_weights" -> llm.Curation.importanceWeights(spark, sf))) {
      df.queryExecution.analyzed.foreach {
        case h: ResolvedHint if h.hints.strategy.isDefined =>
          // the TOPMOST aggregate under the hint is the frame broadcast;
          // grouped aggregates deeper in its input are fine (a scalar
          // total legitimately consumes the vocab counts)
          h.child.collectFirst { case a: Aggregate => a }.foreach { a =>
            assert(a.groupingExpressions.isEmpty,
              s"$name: broadcast hint over an unbounded grouped aggregate:\n$h")
          }
        case _ => ()
      }
    }
  }

  test("source cap pushes a Partial WindowGroupLimit below the exchange") {
    // the domain-cap window is the one 100 TB-safe window shape ONLY
    // because the rank<=k filter becomes a per-input-partition top-k heap
    // BEFORE the shuffle — the exchange then carries at most k rows per
    // source per partition. If the Partial mode disappears, the full
    // corpus crosses the wire.
    val p = plan(graft.llm.Curation.sourceCap(spark, sf))
    val partialBelowExchange =
      "(?s)Exchange hashpartitioning\\(source.*WindowGroupLimit.*Partial".r
    assert(partialBelowExchange.findFirstIn(p).isDefined,
      s"no partial WindowGroupLimit under the source exchange:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>"),
      s"scan not pruned to the 3 needed columns:\n$p")
  }

  test("cusum/ewma windows always carry a partition spec (never global)") {
    // the r3/r4 purge rule: no Window over an unpartitioned (single
    // partition) frame. CUSUM's two windows partition by event_type over
    // the post-aggregation daily frame; EWMA's by the entity key.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for ((name, df) <- Seq(
        "cusum" -> graft.ops.EventQueries.cusumAlarms(spark, sf),
        "ewma" -> graft.ops.StatsQueries.ewmaValues(spark, sf))) {
      val windows = df.queryExecution.optimizedPlan.collect {
        case w: LWindow => w
      }
      assert(windows.nonEmpty, s"$name: expected Window operators")
      windows.foreach { w =>
        assert(w.partitionSpec.nonEmpty,
          s"$name: unpartitioned window:\n$w")
      }
    }
  }

  test("zipf head rank self-join broadcasts the k-row peer side") {
    val p = plan(graft.llm.CorpusQueries.zipfSlope(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"peer rank join is not broadcast:\n$p")
  }

  test("partition pruning: a partitioned layout skips non-matching directories") {
    val dir = GraftTestSpark.tempPath("graft_part")
    try {
      Tables.table(spark, sf, "events")
        .write.mode("overwrite").partitionBy("event_type").parquet(dir.toString)
      val df = spark.read.parquet(dir.toString)
        .filter(col("event_type") === "click")
        .select("event_id", "value")
      val p = plan(df)
      assert(p.contains("PartitionFilters: [isnotnull(event_type"),
        s"no partition filter reached the scan:\n$p")
      // the pruned scan must read only the matching partition's rows
      val clickRows = Tables.table(spark, sf, "events")
        .filter(col("event_type") === "click").count()
      assert(df.count() == clickRows)
    } finally {
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
