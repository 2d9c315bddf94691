package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.GraftTestSpark.persistedRdds

class CheckpointsSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private def ids(n: Int) = spark.range(n).toDF("id")

  /** Ids of the checkpoints `df` reads. */
  private def reads(df: DataFrame): Set[Int] = Checkpoints.reads(df).map(_.id).toSet

  test("a scope keeps what its returned frame reads, through a self-join " +
      "copy of the scan, and frees the rest") {
    val before = persistedRdds
    val joined = Checkpoints.scoped { _ =>
      val a = Checkpoints.checkpoint(ids(10))
      val b = Checkpoints.checkpoint(a.select(($"id" * 2).as("id")))
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
    val n = Checkpoints.scoped(_ => Checkpoints.checkpoint(ids(5)).count())
    assert(n == 5)
    assert(persistedRdds -- before == Set.empty[Int])
  }

  test("a throw frees every checkpoint the scope took and is re-thrown") {
    val before = persistedRdds
    val err = intercept[IllegalStateException](Checkpoints.scoped { _ =>
      val a = Checkpoints.checkpoint(ids(5))
      Checkpoints.checkpoint(a.filter($"id" > 1))
      throw new IllegalStateException("round failed")
    })
    assert(err.getMessage == "round failed")
    assert(persistedRdds -- before == Set.empty[Int])
  }

  test("a scope never frees a checkpoint it did not take") {
    val before = persistedRdds
    val outer = ids(5).localCheckpoint()
    val joined = Checkpoints.scoped { s =>
      val inner = Checkpoints.checkpoint(outer.filter($"id" > 0))
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

  test("a nested scope hands what its frame reads to the enclosing scope, " +
      "which frees it once its own result stops reading it") {
    val before = persistedRdds
    val doubled = Checkpoints.scoped { _ =>
      val kept = Checkpoints.scoped { _ =>
        val a = Checkpoints.checkpoint(ids(10))
        Checkpoints.checkpoint(a.filter($"id" > 4))
      }
      assert((persistedRdds -- before) == reads(kept)) // `a` is freed
      Checkpoints.checkpoint(kept.select(($"id" * 2).as("id")))
    }
    assert((persistedRdds -- before) == reads(doubled)) // `kept` is freed
    assert(doubled.count() == 5)
    Checkpoints.release(doubled)
    assert(persistedRdds -- before == Set.empty[Int])
  }

  test("a checkpoint another thread takes while a main runs a query " +
      "survives the run") {
    def onThread[A](f: => A): A = {
      var out: Option[A] = None
      val t = new Thread(() => out = Some(f))
      t.start()
      t.join()
      out.get
    }
    val before = persistedRdds
    val other = SparkEntry.run(spark, "q_winnow_pairs", GraftTestSpark.sfDir) { df =>
      df.write.format("noop").mode("overwrite").save()
      onThread(Checkpoints.checkpoint(ids(7)))
    }
    // nor does a thread started inside a scope join it
    val started = Checkpoints.scoped(_ => onThread(Checkpoints.checkpoint(ids(3))))
    assert(persistedRdds -- before == reads(other) ++ reads(started))
    assert(other.count() == 7 && started.count() == 3)
    Seq(other, started).foreach(Checkpoints.release)
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
        // the build freed every checkpoint its frame does not read
        val held = persistedRdds -- before
        assert(held == reads(df), s"$name holds $held, its frame reads ${reads(df)}")
        df.write.format("noop").mode("overwrite").save()
        held
      }
      info(s"$name: ${held.size} checkpoints held through the sink")
      if (!driverSide.contains(name)) assert(held.nonEmpty, s"$name held none")
      val left = persistedRdds -- before
      assert(left.isEmpty, s"$name left $left persisted")
    }
  }
}
