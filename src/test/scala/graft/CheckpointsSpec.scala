package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftTestSpark.persistedRdds

class CheckpointsSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private def ids(n: Int) = spark.range(n).toDF("id")

  test("a scope keeps what its returned frame reads, through a self-join " +
      "copy of the scan, and frees the rest") {
    val before = persistedRdds
    val joined = Checkpoints.scoped { s =>
      val a = s.checkpoint(ids(10))
      val b = s.checkpoint(a.select(($"id" * 2).as("id")))
      b.as("x").join(b.as("y"), $"x.id" === $"y.id")
    }
    assert((persistedRdds -- before).size == 1)
    assert(joined.count() == 10)
    // release finds the checkpoint under the join, not only at the root
    Checkpoints.release(joined)
    assert(persistedRdds -- before == Set.empty[Int])
  }

  test("a driver-side result reads nothing: every checkpoint is freed") {
    val before = persistedRdds
    val n = Checkpoints.scoped(s => s.checkpoint(ids(5)).count())
    assert(n == 5)
    assert(persistedRdds -- before == Set.empty[Int])
  }

  test("a throw frees every checkpoint the scope took and is re-thrown") {
    val before = persistedRdds
    val err = intercept[IllegalStateException](Checkpoints.scoped { s =>
      val a = s.checkpoint(ids(5))
      s.checkpoint(a.filter($"id" > 1))
      throw new IllegalStateException("round failed")
    })
    assert(err.getMessage == "round failed")
    assert(persistedRdds -- before == Set.empty[Int])
  }

  test("a scope never frees a checkpoint it did not take") {
    val before = persistedRdds
    val outer = ids(5).localCheckpoint()
    val joined = Checkpoints.scoped { s =>
      val inner = s.checkpoint(outer.filter($"id" > 0))
      s.release(outer)
      inner.join(outer, "id")
    }
    assert(joined.count() == 4)
    assert((persistedRdds -- before).size == 2) // outer and the kept inner
    assert(outer.count() == 5)
    // a projection over a checkpoint is released like the checkpoint
    Checkpoints.release(outer.select("id"))
    assert((persistedRdds -- before).size == 1)
    Checkpoints.release(joined)
    assert(persistedRdds -- before == Set.empty[Int])
  }

  // Every registry query whose build takes a localCheckpoint: the queries
  // that hold one through their sink when the whole registry runs at
  // sf0.01, and the two BPE queries, whose scope frees its rounds before
  // returning a driver-side result.
  private val checkpointing = Seq(
    "q_mmr_diverse", "q_kcore", "q_lsh_cosine_pairs", "q_minhash_pairs",
    "q_incremental_minhash", "q_near_deduped_docs", "q_winnow_pairs",
    "q_jaccard_pairs", "q_prefix_jaccard", "q_near_dedup_exact",
    "q_incremental_dedup", "q_dup_clusters", "q_triangle_stats",
    "q_assortativity", "q_leakage_safe_split", "q_dedup_keep_best",
    "q_cosine_pairs", "q_embedding_dedup", "q_contamination",
    "q_semantic_dedup", "q_ivf_topk", "q_pq_topk", "q_collocations",
    "q_unigram_logprob", "q_source_overlap", "q_interdoc_dup", "q_dup_spans",
    "q_bigram_logprob", "q_source_kl", "q_importance_weights", "q_pagerank")
  private val driverSide = Seq("q_bpe_learn", "q_bpe_vocab")

  test("a main's query run frees every checkpoint the query made") {
    val sf = "/root/testdata/sf0.01"
    (checkpointing ++ driverSide).foreach { name =>
      val before = persistedRdds
      val held = SparkEntry.run(spark, name, sf) { df =>
        df.write.format("noop").mode("overwrite").save()
        persistedRdds -- before
      }
      info(s"$name: ${held.size} checkpoints held through the sink")
      if (!driverSide.contains(name)) assert(held.nonEmpty, s"$name held none")
      val left = persistedRdds -- before
      assert(left.isEmpty, s"$name left $left persisted")
    }
  }
}
