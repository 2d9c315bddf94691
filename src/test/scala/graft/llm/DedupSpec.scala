package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftTestSpark

class DedupSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  val docs = Seq(
    (0L, "a b c d"), (1L, "a b c d"), (2L, "a b c d"),
    (3L, "x y z w"), (4L, "p q r s")
  ).toDF("doc_id", "text")

  test("exactDupGroups: min id kept, copies counted") {
    // null texts are unknown content, never one group of copies: adding
    // two of them leaves the groups as they were
    val nulls = Seq((5L, null: String), (6L, null: String)).toDF("doc_id", "text")
    for (in <- Seq(docs, docs.union(nulls))) {
      val g = Dedup.exactDupGroups(in).orderBy("keep_id").collect()
      assert(g.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
        Seq((0L, 3L), (3L, 1L), (4L, 1L)))
    }
  }

  test("ngramJaccardPairs computes exact unigram jaccard") {
    // {a,b,c,d} vs {a,b,c,e}: |∩|=3, |∪|=5 → 0.6
    val d2 = Seq((0L, "a b c d"), (1L, "a b c e"), (2L, "q r s t"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(d2, n = 1, minJaccard = 0.5, maxId = 10)
      .collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 0L && pairs(0).getLong(1) == 1L)
    assert(math.abs(pairs(0).getDouble(2) - 0.6) < 1e-9)
  }

  test("bigram shingles differ from unigrams (word order matters)") {
    val d2 = Seq((0L, "a b c"), (1L, "c b a")).toDF("doc_id", "text")
    val uni = Dedup.ngramJaccardPairs(d2, 1, 0.9, 10).count()
    val bi = Dedup.ngramJaccardPairs(d2, 2, 0.1, 10).count()
    assert(uni == 1) // same word set
    assert(bi == 0)  // no shared bigram
  }

  test("prefix-filtered jaccard equals the full inverted-index form") {
    // real corpus slice: the prefix candidate plan must reproduce the
    // exact result SET (the prefix principle is lossless), not a sample.
    // Full ROWS including the rounded jaccard, at BOTH bounded-block
    // sizes the query surface uses (200 and the CC family's GraphSlice
    // 1000) — round 22 switched the CC/graph pair source to the prefix
    // form, so this equality is what keeps those oracles green.
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (bound <- Seq(200L, 1000L)) {
      val full = Dedup.ngramJaccardPairs(corpus, n = 1, minJaccard = 0.9,
          maxId = bound)
        .as[(Long, Long, Double)].collect().toSet
      val pref = Dedup.prefixJaccardPairs(corpus, minJaccard = 0.9,
          maxId = bound)
        .as[(Long, Long, Double)].collect().toSet
      assert(full.nonEmpty && pref == full,
        s"bound=$bound missing=${(full -- pref).take(5)} " +
          s"extra=${(pref -- full).take(5)}")
    }

    // and the point of the algorithm: the indexed prefix is a small
    // fraction of the full token explode (t=0.9 → ~10% + 1 token/doc)
    val sets = corpus.filter(col("doc_id") < 200L)
      .select(array_distinct(split(col("text"), " ")))
      .as[Seq[String]].collect()
    val fullIndex = sets.map(_.size).sum
    val prefIndex = sets.map(s =>
      s.size - math.ceil(0.9 * s.size - 1e-9).toInt + 1).sum
    assert(prefIndex * 4 < fullIndex,
      s"prefix index $prefIndex not <25% of full $fullIndex")
  }

  test("minhash LSH: no false positives, high recall vs exact pairs") {
    val corpus = graft.Tables.table(spark, GraftTestSpark.sfDir, "documents")
    val exact = Dedup.ngramJaccardPairs(corpus, 1, 0.9, 200)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val approx = Dedup.minhashNearDupPairs(corpus.filter($"doc_id" < 200), 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact-verify stage guarantees precision 1.0 …
    assert(approx.subsetOf(exact))
    // … and banding with r=6, b=3 keeps recall high at j>=0.9
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.7, s"recall=$recall over ${exact.size} true pairs")
  }

  test("incremental minhash pairs equal the batch form's cross-split slice") {
    // same signatures + same bands + same verify on both paths, so the
    // bipartite incremental join must reproduce EXACTLY the batch pairs
    // that straddle the split — the property that makes per-batch ingest
    // dedup equivalent to re-running the full corpus job
    val docs = graft.Tables.table(spark, GraftTestSpark.sfDir, "documents")
    val split = 25L
    val inc = Dedup.incrementalNearDupPairs(
        docs.filter($"doc_id" < split), docs.filter($"doc_id" >= split),
        minJaccard = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batchSlice = Dedup.minhashNearDupPairs(docs, minJaccard = 0.9)
      .filter($"id_a" < split && $"id_b" >= split)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc == batchSlice, s"inc ${inc.size} vs slice ${batchSlice.size}")
    assert(inc.nonEmpty) // fixture corpus has cross-split near-dups
  }

  test("nearDedupKeepFirst: no detected pair survives whole") {
    val corpus = graft.Tables.table(spark, GraftTestSpark.sfDir, "documents")
      .filter($"doc_id" < 200)
    val kept = Dedup.nearDedupKeepFirst(corpus, 0.9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val pairs = Dedup.minhashNearDupPairs(corpus, 0.9).collect()
    assert(kept.nonEmpty && kept.size < 200)
    pairs.foreach { p =>
      assert(!(kept(p.getLong(0)) && kept(p.getLong(1))),
        s"pair ${p.getLong(0)},${p.getLong(1)} fully retained")
    }
  }

  test("banded simhash pairs: subset of exact, complete for hamming < bands") {
    val corpus = graft.Tables.table(spark, GraftTestSpark.sfDir, "documents")
      .filter($"doc_id" < 200)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // auto-banding picks 16 bands > 12 = maxHamming, so recall is total:
    // the banded SCALE path must equal the all-pairs verification form —
    // exactly what makes q_simhash_banded and q_simhash_pairs interchangeable.
    // Pigeonhole guarantee: h < b bands → at least one (64/b)-bit slice
    // equal; auto-banding picks b = 1, 2, 4, 8, 16, 32, 64 for these h, so
    // every band count of the first-band filter is checked against the
    // exact form — and each pair must be emitted once, not once per band
    for (h <- Seq(0, 1, 3, 7, 12, 20, 40)) {
      val exact = pairs(Dedup.simhashPairs(corpus, maxHamming = h, maxId = 200))
      val banded = pairs(Dedup.simhashNearDupPairs(corpus, maxHamming = h))
      assert(banded.toSet == exact.toSet, s"maxHamming=$h")
      assert(banded.size == banded.distinct.size, s"maxHamming=$h: a pair emitted twice")
    }
  }

  test("winnowing overlap finds a copied passage inside different docs") {
    val passage = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (0L, s"one two three $passage four five six"),
      (1L, s"seven eight nine ten $passage eleven twelve"),
      (2L, "completely different words about nothing shared here at all"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowingOverlapPairs(docs, minShared = 2, maxDocFreq = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the ≥ w+k-1-token shared run guarantees shared window minima for
    // docs 0/1; doc 2 shares no trigram with either
    assert(pairs == Set((0L, 1L)))
  }

  test("winnowing stop-gram cap drops ubiquitous fingerprints") {
    // every doc shares the same passage: with the cap below the corpus
    // size, its fingerprints are boilerplate and no pair survives
    val docs = (0L until 6L).map(i => (i, s"doc$i unique$i filler$i " +
      "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val capped = Dedup.winnowingOverlapPairs(docs, minShared = 2, maxDocFreq = 3L)
    assert(capped.count() == 0)
    val uncapped = Dedup.winnowingOverlapPairs(docs, minShared = 2, maxDocFreq = 1000L)
    assert(uncapped.count() == 15) // all C(6,2) pairs share the passage
  }

  test("simhashPairs: duplicate texts have hamming 0") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 0, maxId = 10)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("TokenHashSet / MinHashSignature are bit-identical to the HOF forms") {
    val texts = Seq("the quick brown fox", "a a a a", "", "x",
      "der die das und scan row join merge").toDF("text")
    val toks = TextStats.tokens(col("text"))
    val hofHset = array_sort(array_distinct(transform(toks, t => xxhash64(t))))
    val rows = texts.select(
      graft.functions.HashFamily.tokenHashSet(toks).as("fast"),
      hofHset.as("ref")).collect()
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))

    val hofSig = (0 until 8).map(i =>
      array_min(transform(col("hset"), h => xxhash64(lit(i), h))))
    val sigRows = texts.select(hofHset.as("hset"))
      .select(
        graft.functions.HashFamily.minhashSignature(col("hset"), 8).as("fast"),
        array(hofSig: _*).as("ref")).collect()
    sigRows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("connectedComponents: min label reaches across chains, singletons stay") {
    val nodes = (1L to 7L).toDF("id")
    // chain 1-2-3-4-5 (diameter 4 forces multiple rounds), pair 6-7? no:
    // keep 6 isolated and 7 isolated to check singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 6L, 7L -> 7L))
  }

  test("connectedComponents: too few rounds fails loudly and frees its checkpoints") {
    // the chain 1-2-3 needs 2 label rounds to settle and a 3rd to see it
    val nodes = (1L to 3L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val before = GraftTestSpark.persistedRdds
    val err = intercept[IllegalArgumentException](
      Dedup.connectedComponents(nodes, pairs, maxIter = 1))
    assert(err.getMessage.contains("did not converge within 1 rounds"))
    assert(GraftTestSpark.persistedRdds -- before == Set.empty[Int])
  }

  test("keepBestPerCluster: max quality wins, ties resolve to the lowest id") {
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L))
      .toDF("id", "component")
    val docs = Seq((1L, 10L), (2L, 50L), (3L, 50L), (4L, 7L))
      .toDF("doc_id", "n_chars")
    val got = Dedup.keepBestPerCluster(comps, docs, "n_chars")
      .collect()
      .map(r => r.getAs[Long]("component") ->
        ((r.getAs[Long]("kept_doc"), r.getAs[Long]("n_members"),
          r.getAs[Long]("best_quality")))).toMap
    // cluster 1: docs 2 and 3 tie at quality 50 → the LOWER id (2) is kept
    assert(got == Map(1L -> ((2L, 3L, 50L)), 4L -> ((4L, 1L, 7L))))
  }

  test("leakageSafeSplit: no near-dup pair straddles the split, both " +
      "sides populated") {
    val sf = graft.GraftTestSpark.sfDir
    val split = graft.llm.LlmQueries.leakageSafeSplit(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("in_train")).toMap
    val sides = split.values.toSet
    assert(sides == Set(0L, 1L), s"degenerate split: $sides")
    val docs = graft.Tables.table(spark, sf, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, n = 1, minJaccard = 0.9,
      maxId = 200L).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val (a, b) = (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
      assert(split(a) == split(b),
        s"near-dup pair ($a, $b) straddles the split")
    }
  }
}
