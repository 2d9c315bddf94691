package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{Dedup, TextStats}
import graft.ops.Sampling
import graft.stream.Sessionize

/** Randomized differential testing of the hand-rolled ALGORITHMIC
  * operators — the multi-step distributed algorithms whose unit specs
  * pin hand-checked examples but whose input space (graph shapes, tie
  * patterns, budget boundaries) is far larger than any hand example
  * covers. Each test drives the production operator with seeded random
  * inputs and compares against an independent driver-side reference
  * written in plain Scala collections (union-find, sorted-scan
  * water-filling, per-user fold sessionization, brute-force set
  * algebra). Complements DifferentialFuzzSpec, which fuzzes the
  * scalar/codegen EXPRESSIONS; here the targets are whole operators.
  * Fixed default seed — CI runs are deterministic; set GRAFT_FUZZ_SEED
  * (decimal or 0x-hex) to sweep other seeds (the round-12 close ran
  * seeds 1, 2, and 31337 green on top of the default).
  */
class AlgorithmicFuzzSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private val rng = new scala.util.Random(
    sys.env.getOrElse("GRAFT_FUZZ_SEED", "0xA160F022").toLowerCase match {
      case s if s.startsWith("0x") => java.lang.Long.parseLong(s.drop(2), 16)
      case s => s.toLong
    })

  test("connectedComponents == union-find on 10 random graphs " +
      "(disjoint id ranges, one batched CC call)") {
    // 10 graphs in ONE connectedComponents invocation: id ranges are
    // disjoint (offset g*1000), so per-graph components are exactly the
    // components of the union — same trick ScaleInvariantsSpec's
    // replicas use, and it keeps this to one iterative CC run.
    val allNodes = scala.collection.mutable.ArrayBuffer[Long]()
    val allEdges = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    for (g <- 0 until 10) {
      val off = g * 1000L
      val n = 10 + rng.nextInt(31)                    // 10..40 nodes
      val ids = (1L to n).map(_ + off)
      allNodes ++= ids
      val m = rng.nextInt(2 * n)                      // 0..2n-1 edges
      for (_ <- 0 until m) {
        val a = ids(rng.nextInt(n))
        val b = ids(rng.nextInt(n))
        if (a < b) allEdges += ((a, b))
        else if (b < a) allEdges += ((b, a))          // drop self-loops
      }
    }
    // independent reference: union-find, component label = min member id
    val parent = scala.collection.mutable.Map(
      allNodes.toSeq.map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    allEdges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = allNodes.map(i => i -> find(i)).toMap

    val nodesDf = allNodes.toSeq.toDF("id")
    val pairsDf = allEdges.toSeq.toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodesDf, pairsDf, maxIter = 60)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == allNodes.size)
    assert(got == want)
  }

  test("batch sessionize == per-user fold on random event streams " +
      "(duplicate timestamps, random gaps)") {
    for (trial <- 0 until 3) {
      val gap = 1L + rng.nextInt(100)                 // seconds
      val rows = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      var tie = 0L
      for (u <- 1L to 20L) {
        val nEv = rng.nextInt(31)                     // 0..30 events
        var us = 1700000000000000L + rng.nextInt(1000000)
        for (_ <- 0 until nEv) {
          // step distribution straddles the gap boundary and lands ON it
          // (gap*1e6 exactly => strictly-greater contract) plus exact
          // duplicates (step 0) to exercise the tie-break ordering
          val step = rng.nextInt(4) match {
            case 0 => 0L
            case 1 => rng.nextInt((gap * 1000000L).toInt).toLong
            case 2 => gap * 1000000L
            case _ => gap * 1000000L + 1L + rng.nextInt(1000000)
          }
          us += step
          tie += 1L
          rows += ((u, us, tie))
        }
      }
      // independent reference: sort (us, tie) per user, fold session ids
      val want = rows.groupBy(_._1).flatMap { case (_, evs) =>
        val sorted = evs.sortBy(e => (e._2, e._3))
        var sid = 0L
        var prev = Long.MinValue
        sorted.map { case (_, us, t) =>
          if (sid == 0L || us - prev > gap * 1000000L) sid += 1L
          prev = us
          t -> sid
        }
      }
      val shuffled = rng.shuffle(rows.toSeq)          // input order-free
      val df = shuffled.toDF("user_id", "us", "tie")
        .withColumn("ts", timestamp_micros($"us"))
      val got = Sessionize.sessionize(df, "user_id", "ts", "tie", gap)
        .select("tie", "session_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial gap $gap")
    }
  }

  test("waterfillAlloc == textbook sorted-scan water level on random " +
      "budgets (plus a crafted exact-hit level)") {
    // crafted exact-hit first: counts {5,10,20}, budget 25 => f(10)=25
    // exactly, level (25-5)/2 = 10.0 — the exactHit branch
    val cases = Seq((Seq(5L, 10L, 20L), 0.715)) ++ Seq.fill(5) {
      val n = 3 + rng.nextInt(28)
      val counts = Seq.fill(n)(1L + ((rng.nextLong() & Long.MaxValue) %
        (if (rng.nextBoolean()) 100L else 1000000L)))
      (counts, 0.1 + rng.nextDouble() * 0.8)
    }
    for (((counts, frac), i) <- cases.zipWithIndex) {
      val total = counts.sum
      val budget = math.floor(total * frac).toLong
      if (budget > 0 && budget < total) {
        // independent reference: ascending scan for the real level T with
        // sum(min(c, T)) == B; same integer operands as the oracle's form
        val sorted = counts.sorted
        var prefix = 0L
        var level = 0.0
        var done = false
        for (k <- sorted.indices if !done) {
          val m = sorted.length - k
          if (prefix + sorted(k) * m >= budget) {
            level = (budget - prefix).toDouble / m
            done = true
          } else prefix += sorted(k)
        }
        def r6(x: Double): Double =
          java.math.BigDecimal.valueOf(x)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
        val want = counts.zipWithIndex.map { case (c, j) =>
          (s"g$j", c, r6(math.min(c.toDouble, level)), if (c > level) 1L else 0L)
        }.toSet
        val perGroup = counts.zipWithIndex
          .map { case (c, j) => (s"g$j", c) }.toDF("source", "c")
        val got = Sampling.waterfillAlloc(perGroup, "source", "c", frac)
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
          .toSet
        assert(got == want, s"case $i counts=$counts budget=$budget")
        // budget conservation: allocations sum back to the budget
        val allocSum = got.toSeq.map(_._3).sum
        assert(math.abs(allocSum - budget) < 1e-3,
          s"case $i alloc sum $allocSum != budget $budget")
      }
    }
  }

  test("ngramJaccardPairs == brute-force shingle-set jaccard on random " +
      "word docs") {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")
    for (trial <- 0 until 3) {
      val n = 1 + rng.nextInt(3)                      // shingle width 1..3
      val minJ = Seq(0.1, 0.3, 0.5)(rng.nextInt(3))
      val docs = (0L until 40L).map { id =>
        // duplicates + shared prefixes force a dense pair space
        val len = rng.nextInt(16)
        val toks = Seq.fill(len)(vocab(rng.nextInt(vocab.length)))
        (id, toks.mkString(" "))
      }
      def shingleSet(text: String): Set[String] = {
        val toks = text.split(" ", -1)                // Spark split keeps
        if (n == 1) toks.toSet                        // trailing empties
        else if (toks.length < n) Set.empty
        else toks.sliding(n).map(_.mkString(" ")).toSet
      }
      def r6(x: Double): Double =
        java.math.BigDecimal.valueOf(x)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      val sets = docs.map { case (id, t) => id -> shingleSet(t) }.toMap
      val want = (for {
        a <- docs.map(_._1); b <- docs.map(_._1) if a < b
        shared = (sets(a) intersect sets(b)).size
        if shared > 0
        j = r6(shared.toDouble / (sets(a).size + sets(b).size - shared))
        if j >= minJ
      } yield (a, b, j)).toSet
      val got = Dedup.ngramJaccardPairs(docs.toDF("doc_id", "text"),
          n, minJ, maxId = 1000000000L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(got == want, s"trial $trial n=$n minJ=$minJ")
    }
  }

  test("streaming sessionize == batch session set on a random stream " +
      "delivered in global time order") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.stream.Sessionize.{ClosedSession, SessionEvent}
    val gap = 30L + rng.nextInt(300)                  // seconds
    val gapUs = gap * 1000000L
    val events = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    for (u <- 1L to 10L) {
      var us = 1700000000000000L + rng.nextInt(1000000)
      for (_ <- 0 until rng.nextInt(26)) {
        us += (rng.nextInt(4) match {
          case 0 => 0L
          case 1 => rng.nextInt(gapUs.toInt).toLong
          case 2 => gapUs                             // exactly ON the gap
          case _ => gapUs + 1L + rng.nextInt(1000000)
        })
        events += ((u, us))
      }
    }
    // independent reference: per-user fold over sorted times into
    // (n_events, duration_s) closed sessions — the batch semantics
    val want = events.groupBy(_._1).toSeq.flatMap { case (u, evs) =>
      val times = evs.map(_._2).sorted
      val sessions = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var start = times.head
      var last = times.head
      var n = 1L
      for (t <- times.tail) {
        if (t - last > gapUs) {
          sessions += ((n, (last - start) / 1000000L))
          start = t; n = 0L
        }
        last = t; n += 1L
      }
      sessions += ((n, (last - start) / 1000000L))
      sessions.map { case (ne, d) => (u, ne, d) }
    }.sorted

    def tsOf(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(us / 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val withWm = mem.toDS()
      .withWatermark("ts", "0 seconds").as[SessionEvent]
    val q = graft.stream.Sessionize.sessionizeStream(withWm, gap)
      .writeStream.format("memory").queryName("sess_fuzz")
      .outputMode("append").start()
    try {
      // deliver in global event-time order (the parity precondition) in
      // 5 chunks, then two far-future sentinel batches: the first
      // advances the watermark past every open session's timeout, the
      // second triggers the timed-out state sweep
      val ordered = events.sortBy(_._2).toSeq
      val chunk = math.max(1, ordered.size / 5)
      ordered.grouped(chunk).foreach { batch =>
        mem.addData(batch.map { case (u, us) => SessionEvent(u, tsOf(us)) })
        q.processAllAvailable()
      }
      val far = ordered.last._2 + gapUs * 100
      mem.addData(SessionEvent(999L, tsOf(far)))
      q.processAllAvailable()
      mem.addData(SessionEvent(999L, tsOf(far + gapUs * 100)))
      q.processAllAvailable()
      val got = spark.table("sess_fuzz").as[ClosedSession].collect()
        .filter(_.user_id != 999L)
        .map(s => (s.user_id, s.n_events.toLong, s.duration_s)).toSeq.sorted
      assert(got == want, s"gap $gap")
    } finally q.stop()
  }

  /** Canonical undirected edge set the graph ops define: u < v, self
    * loops dropped, duplicates collapsed — replicated driver-side so the
    * references see exactly the graph the operators do.
    */
  private def canonEdges(raw: Seq[(Long, Long)]): Set[(Long, Long)] =
    raw.collect {
      case (a, b) if a < b => (a, b)
      case (a, b) if b < a => (b, a)
    }.toSet

  private def randomGraph(off: Long, n: Int, m: Int): Seq[(Long, Long)] =
    Seq.fill(m)((off + 1 + rng.nextInt(n).toLong,
      off + 1 + rng.nextInt(n).toLong))

  test("kCore == reference peeling fixpoint on 6 random graphs " +
      "(batched via disjoint id ranges)") {
    for (k <- Seq(2, 3)) {
      // 3 graphs per k in one kCore call — peeling is component-local,
      // so disjoint id ranges make the batched result the per-graph union
      val raw = (0 until 3).flatMap(g =>
        randomGraph(g * 1000L, 8 + rng.nextInt(25), 5 + rng.nextInt(60)))
      val edges = canonEdges(raw)
      // reference: simultaneous-round peel to the (unique) k-core
      var cur = edges
      var changed = true
      while (changed) {
        val deg = cur.toSeq.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).map { case (v, o) => v -> o.size }
        val keep = deg.filter(_._2 >= k).keySet
        val next = cur.filter(e => keep(e._1) && keep(e._2))
        changed = next != cur
        cur = next
      }
      val wantDeg = cur.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (v, o) => v -> o.size.toLong }
      val got = graft.ops.Graph.kCore(raw.toDF("id_a", "id_b"), k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == wantDeg, s"k=$k")
    }
  }

  test("triangleStats == brute-force triple enumeration on random graphs") {
    val raw = (0 until 3).flatMap(g =>
      randomGraph(g * 1000L, 8 + rng.nextInt(18), 10 + rng.nextInt(70)))
    val edges = canonEdges(raw)
    val nodes = edges.toSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val deg = nodes.map(v => v ->
      edges.count(e => e._1 == v || e._2 == v).toLong).toMap
    def adj(a: Long, b: Long) = edges(if (a < b) (a, b) else (b, a))
    val tri = scala.collection.mutable.Map(nodes.map(_ -> 0L): _*)
    for {
      i <- nodes.indices; j <- i + 1 until nodes.length
      l <- j + 1 until nodes.length
      if adj(nodes(i), nodes(j)) && adj(nodes(j), nodes(l)) &&
        adj(nodes(i), nodes(l))
    } Seq(nodes(i), nodes(j), nodes(l)).foreach(v => tri(v) += 1L)
    val want = nodes.map { v =>
      val d = deg(v)
      val pairs = d * (d - 1) / 2
      val lcc = if (pairs == 0L) 0L else tri(v) * 1000000L / pairs
      (v, d, tri(v), lcc)
    }.toSet
    val got = graft.ops.Graph.triangleStats(raw.toDF("id_a", "id_b"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want)
  }

  test("pageRank == driver-side power iteration with dangling " +
      "redistribution (weighted random digraph)") {
    val n = 30
    val raw = Seq.fill(120)((1L + rng.nextInt(n).toLong,
        1L + rng.nextInt(n).toLong))
      .filter(e => e._1 != e._2).distinct
    val weighted = raw.map { case (s, d) => (s, d, 1L + rng.nextInt(5)) }
    val nodes = weighted.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val nn = nodes.length.toDouble
    val outS = weighted.groupBy(_._1)
      .map { case (s, es) => s -> es.map(_._3).sum.toDouble }
    val damping = 0.85
    var rank = nodes.map(_ -> 1.0 / nn).toMap
    for (_ <- 1 to 10) {
      val dmass = nodes.filterNot(outS.contains).map(rank).sum
      val inMass = weighted
        .groupBy(_._2).map { case (d, es) =>
          d -> es.map(e => rank(e._1) * (e._3 / outS(e._1))).sum
        }
      rank = nodes.map(v => v -> ((1.0 - damping) / nn +
        damping * (inMass.getOrElse(v, 0.0) + dmass / nn))).toMap
    }
    val got = graft.ops.Graph.pageRank(
        weighted.toDF("src", "dst", "weight"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == rank.keySet)
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "ranks must sum to 1")
    rank.foreach { case (v, w) =>
      assert(math.abs(got(v) - w) < 1e-9, s"node $v: ${got(v)} vs $w")
    }
  }

  test("assortativity == naive symmetrized Pearson on a random graph") {
    val raw = randomGraph(0L, 25, 80)
    val edges = canonEdges(raw)
    val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (v, o) => v -> o.size.toDouble }
    val pairs = edges.toSeq.flatMap(e =>
      Seq((deg(e._1), deg(e._2)), (deg(e._2), deg(e._1))))
    val (xs, ys) = (pairs.map(_._1), pairs.map(_._2))
    val mx = xs.sum / xs.length
    val my = ys.sum / ys.length
    val cov = pairs.map { case (x, y) => (x - mx) * (y - my) }.sum
    val sx = math.sqrt(xs.map(x => (x - mx) * (x - mx)).sum)
    val sy = math.sqrt(ys.map(y => (y - my) * (y - my)).sum)
    val want = cov / (sx * sy)
    val row = graft.ops.Graph.assortativity(raw.toDF("id_a", "id_b"))
      .collect().head
    assert(row.getLong(0) == edges.size, "n_edges")
    assert(math.abs(row.getDouble(1) - want) < 2e-6,
      s"assortativity ${row.getDouble(1)} vs $want")
  }

  test("bpeLearn / bpeVocab == independent dict-based Sennrich BPE on " +
      "random corpora (ties, repeated pairs, merge exhaustion)") {
    import graft.llm.CorpusQueries
    for (trial <- 0 until 3) {
      // tiny alphabet forces dense pair collisions and real tie-breaks;
      // words like "aaaa" exercise repeated-adjacent-pair counting and
      // the left-to-right non-overlapping merge
      val alphabet = "abc"
      val words = Seq.fill(30)(
        (0 until 2 + rng.nextInt(5))
          .map(_ => alphabet(rng.nextInt(alphabet.length))).mkString)
      val docs = words.grouped(5).zipWithIndex
        .map { case (ws, i) =>
          (i.toLong, Seq.fill(1 + rng.nextInt(3))(ws).flatten.mkString(" "))
        }.toSeq
      val k = 8
      // independent reference: symbol-LIST segmentation dictionary
      // (Sennrich learn_bpe shape), not a sentinel-string frame
      val tokCounts = docs.flatMap(_._2.split(" ", -1))
        .filter(_.length >= 2)
        .groupBy(identity).map { case (t, o) => t -> o.size.toLong }
      var segm: Map[Vector[String], Long] =
        tokCounts.groupBy { case (t, _) => t.map(_.toString).toVector }
          .map { case (sy, m) => sy -> m.values.sum }
      val wantMerges = scala.collection.mutable.ArrayBuffer[
        (Long, String, String, Long)]()
      var exhausted = false
      for (r <- 1 to k if !exhausted) {
        val pairCnt = scala.collection.mutable.Map[(String, String), Long]()
        segm.foreach { case (sy, c) =>
          sy.sliding(2).filter(_.length == 2).foreach { p =>
            pairCnt((p(0), p(1))) = pairCnt.getOrElse((p(0), p(1)), 0L) + c
          }
        }
        if (pairCnt.isEmpty) exhausted = true
        else {
          val ((l, rr), cnt) = pairCnt.toSeq
            .sortBy { case ((a, b), c) => (-c, a, b) }.head
          wantMerges += ((r.toLong, l, rr, cnt))
          segm = segm.toSeq.map { case (sy, c) =>
            val out = scala.collection.mutable.ArrayBuffer[String]()
            var i = 0
            while (i < sy.length) {                    // LTR non-overlap
              if (i + 1 < sy.length && sy(i) == l && sy(i + 1) == rr) {
                out += l + rr; i += 2
              } else { out += sy(i); i += 1 }
            }
            out.toVector -> c
          }.groupBy(_._1).map { case (sy, m) => sy -> m.map(_._2).sum }
        }
      }
      val docsDf = docs.toDF("doc_id", "text")
      val gotMerges = CorpusQueries.bpeLearnFromDocs(docsDf, k)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
      assert(gotMerges == wantMerges.toSeq, s"trial $trial merges")

      val symCnt = scala.collection.mutable.Map[String, Long]()
      segm.foreach { case (sy, c) =>
        sy.foreach(s => symCnt(s) = symCnt.getOrElse(s, 0L) + c)
      }
      val wantVocab = symCnt.toSeq
        .sortBy { case (s, c) => (-c, s) }.take(5)
      val gotVocab = CorpusQueries.bpeVocabFromDocs(docsDf, k, 5)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(gotVocab == wantVocab, s"trial $trial vocab")
    }
  }

  test("hll_sketch_agg(lgK=12) estimates within 5% of exact distinct " +
      "counts across cardinality magnitudes") {
    val cards = Seq(10, 100, 2000, 20000)
    val rows = cards.flatMap { k =>
      // k distinct values, each repeated 1..3 times
      (0 until k).flatMap(i => Seq.fill(1 + rng.nextInt(3))(
        (s"k$k", k * 1000000L + i)))
    }
    val got = rows.toDF("g", "v").groupBy("g")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("v"), 12))
        .cast("bigint").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (k <- cards) {
      val est = got(s"k$k")
      assert(math.abs(est - k) <= math.max(1L, (0.05 * k).toLong),
        s"cardinality $k estimated $est")
    }
  }

  test("countMinSketch never underestimates and overestimates heavy " +
      "hitters by at most eps*N on a random zipf stream") {
    import graft.llm.CorpusQueries
    // zipf-ish stream over 200 distinct tokens
    val stream = Seq.fill(20000)(
      s"t${math.min(199L, (1.0 / math.max(5e-3, rng.nextDouble())).toLong)}")
    val trueCnt = stream.groupBy(identity)
      .map { case (t, o) => t -> o.size.toLong }
    val df = stream.toDF("token")
    val cms = df.stat.countMinSketch(col("token"),
      eps = CorpusQueries.cmsEps, confidence = CorpusQueries.cmsConfidence,
      seed = 42)
    val epsN = math.max(2L, (CorpusQueries.cmsEps * stream.size).toLong)
    trueCnt.foreach { case (t, c) =>
      val est = cms.estimateCount(t)
      assert(est >= c, s"$t underestimated: $est < $c")
      assert(est <= c + epsN + 2,
        s"$t overestimated beyond eps*N: $est vs $c + $epsN")
    }
  }

  test("mmrSelect == driver-side greedy MMR on random float embeddings " +
      "(exact micro-unit scores)") {
    import graft.llm.Similarity
    val dim = 8
    val corpus = (0L until 25L).map(id =>
      (id, Array.fill(dim)(rng.nextFloat() * 2f - 1f)))
    val queryIds = Seq(3L, 11L, 24L)
    val (m, k, lam) = (10, 6, 0.7)
    // reference cosine replicating the production op order exactly:
    // dot/(sqrt(dot(a,a)) * sqrt(dot(b,b))), sequential fold over doubles
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val denom = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
      dot(a, b) / denom
    }
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val vec = corpus.toMap
    val want = queryIds.flatMap { qid =>
      val rels = corpus.collect { case (cid, cv) if cid != qid =>
        (cid, cos(cv, vec(qid)), r6(cos(cv, vec(qid))))
      }
      val cand = rels.sortBy { case (cid, _, rel6) => (-rel6, cid) }.take(m)
      val relRaw = cand.map(c => c._1 -> c._2).toMap
      val rel6 = cand.map(c => c._1 -> c._3).toMap
      val remaining = scala.collection.mutable.SortedSet.empty[Long] ++
        relRaw.keys
      val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
      (1 to math.min(k, cand.size)).map { rk =>
        var bestId = -1L
        var bestScore = Double.NegativeInfinity
        remaining.foreach { cid =>
          val score =
            if (selected.isEmpty) lam * relRaw(cid)
            else lam * relRaw(cid) - (1.0 - lam) *
              selected.map(sid => cos(vec(cid), vec(sid))).max
          if (score > bestScore) { bestScore = score; bestId = cid }
        }
        selected += bestId
        remaining -= bestId
        (qid, rk.toLong, bestId, rel6(bestId),
          math.floor(bestScore * 1000000.0).toLong)
      }
    }.sortBy(t => (t._1, t._2))
    val corpusDf = corpus.toDF("vec_id", "embedding")
    val queriesDf = corpus.filter(t => queryIds.contains(t._1))
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrSelect(corpusDf, queriesDf, m, k, lam)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSeq
    assert(got == want)
  }

  test("rrfFuse == driver-side reciprocal-rank fusion on random " +
      "partial rankings") {
    import graft.llm.Similarity
    val k = 8
    val c = 60.0
    val listA = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val listB = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    for (q <- 1L to 4L) {
      // partial, overlapping rankings: some docs in one list only
      val docsA = rng.shuffle((1L to 30L).toList).take(5 + rng.nextInt(10))
      val docsB = rng.shuffle((1L to 30L).toList).take(5 + rng.nextInt(10))
      docsA.zipWithIndex.foreach { case (d, i) =>
        listA += ((q, d, i + 1L)) }
      docsB.zipWithIndex.foreach { case (d, i) =>
        listB += ((q, d, i + 1L)) }
    }
    val want = (1L to 4L).flatMap { q =>
      val ra = listA.filter(_._1 == q).map(t => t._2 -> t._3).toMap
      val rb = listB.filter(_._1 == q).map(t => t._2 -> t._3).toMap
      val fused = (ra.keySet ++ rb.keySet).toSeq.map { d =>
        val s = ra.get(d).map(r => 1.0 / (c + r)).getOrElse(0.0) +
          rb.get(d).map(r => 1.0 / (c + r)).getOrElse(0.0)
        (d, s)
      }.sortBy { case (d, s) => (-s, d) }.take(k)
      fused.zipWithIndex.map { case ((d, s), i) =>
        (q, i + 1L, d, math.floor(s * 1000000000.0).toLong)
      }
    }.sorted
    val got = Similarity.rrfFuse(
        listA.toSeq.toDF("query_id", "neighbor_id", "rk"),
        listB.toSeq.toDF("query_id", "neighbor_id", "rk"), k)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    assert(got == want)
  }

  test("temperatureMix == driver-side integer allocation + md5-rank " +
      "draw at T=2 and T=3") {
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    for (temperature <- Seq(2.0, 3.0)) {
      val groups = (0 until 6).map(g => s"src$g" ->
        (1 + rng.nextInt(120)))
      val rows = groups.zipWithIndex.flatMap { case ((g, n), gi) =>
        (0 until n).map(i => (g, gi * 10000L + i))
      }
      val budget = 50L + rng.nextInt(200)
      // reference: floor(n^(1/T) * 1e6) micro weights, decimal-exact
      // budget*w DIV sumW allocation capped at the population, then the
      // k smallest (md5(id), id) per group
      val wm = groups.map { case (g, n) =>
        g -> math.floor((if (temperature == 2.0) math.sqrt(n.toDouble)
          else math.pow(n.toDouble, 1.0 / temperature)) * 1e6).toLong
      }.toMap
      val wSum = wm.values.sum
      val alloc = groups.map { case (g, n) =>
        g -> math.min(n.toLong,
          (BigInt(budget) * BigInt(wm(g)) / BigInt(wSum)).toLong)
      }.toMap
      val want = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
        rs.map(_._2).sortBy(id => (md5hex(id.toString), id))
          .take(alloc(g).toInt)
          .zipWithIndex.map { case (id, i) => (g, id, i + 1L) }
      }.sorted
      val got = graft.ops.Sampling.temperatureMix(
          rows.toDF("source", "doc_id"), "source", "doc_id",
          budget, temperature)
        .select("source", "doc_id", "rk")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
      assert(got == want, s"T=$temperature budget=$budget")
    }
  }

  test("scd2Intervals and attribution == driver-side folds on a random " +
      "event fixture (duplicate timestamps, shuffled event ids)") {
    // random event table: event ids assigned in random order so id order
    // never accidentally equals time order; duplicate (user, ts) rows
    // force the event_id tie-break in both windows
    val types = Vector("click", "view", "purchase")
    val evs = scala.collection.mutable.ArrayBuffer[(Long, Long, String, Long)]()
    for (u <- 1L to 8L) {
      var us = 1700000000000000L + rng.nextInt(1000000)
      for (_ <- 0 until rng.nextInt(31)) {
        // steps span micro-dups to multi-day gaps, so the date-bucketed
        // queries (cohort, new-vs-returning) see real day structure
        us += (rng.nextInt(3) match {
          case 0 => 0L
          case 1 => 1L + rng.nextInt(5000000)
          case _ => 1L + (rng.nextLong() & Long.MaxValue) % (2L * 86400000000L)
        })
        evs += ((u, us, types(rng.nextInt(3)), 0L))
      }
    }
    val withIds = rng.shuffle(evs.toSeq).zipWithIndex
      .map { case ((u, us, t, _), i) => (i + 1L, u, t, us) }
    val dir = GraftTestSpark.tempPath("graft_evfuzz").toString
    withIds.map { case (id, u, t, us) => (id, u, t, us * 1000L, 1.0) }
      .toDF("event_id", "user_id", "event_type", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val byUser = withIds.groupBy(_._2).map { case (u, rows) =>
      u -> rows.sortBy(r => (r._4, r._1))             // (ts, event_id)
    }

    // scd2 reference: islands of consecutive equal state per user
    val wantScd2 = byUser.toSeq.flatMap { case (u, rows) =>
      val islands = scala.collection.mutable.ArrayBuffer[
        (String, Long, Long)]()                       // state, from, n
      rows.foreach { case (_, _, t, us) =>
        if (islands.nonEmpty && islands.last._1 == t) {
          val (s, f, n) = islands.last
          islands(islands.size - 1) = (s, f, n + 1)
        } else islands += ((t, us, 1L))
      }
      islands.zipWithIndex.map { case ((s, f, n), i) =>
        val to = if (i + 1 < islands.size) Some(islands(i + 1)._2) else None
        (u, i + 1L, s, f, to, n)
      }
    }.sortBy(t => (t._1, t._2))
    val gotScd2 = graft.ops.EventQueries.scd2Intervals(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)),
        r.getLong(5))).toSeq
    assert(gotScd2 == wantScd2)

    // attribution reference: prior-click fold per user
    val wantAttr = byUser.toSeq.flatMap { case (u, rows) =>
      val priorClicks = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      val out = scala.collection.mutable.ArrayBuffer[
        (Long, Long, Option[Long], Option[Long], Option[Long])]()
      rows.foreach { case (id, _, t, us) =>
        if (t == "purchase")
          out += ((id, u, priorClicks.headOption.map(_._1),
            priorClicks.lastOption.map(_._1),
            priorClicks.lastOption.map(c => us - c._2)))
        if (t == "click") priorClicks += ((id, us))
      }
      out
    }.sortBy(_._1)
    val gotAttr = graft.ops.EventQueries.attribution(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    assert(gotAttr == wantAttr)

    // cohort retention + new-vs-returning references over UTC epoch days
    val userDays = withIds.map { case (_, u, _, us) =>
      (u, us / 86400000000L)
    }.distinct
    val cohortOf = userDays.groupBy(_._1)
      .map { case (u, ds) => u -> ds.map(_._2).min }
    val wantCohort = userDays
      .groupBy { case (u, d) => (cohortOf(u), d - cohortOf(u)) }
      .map { case ((cd, off), rows) => (cd, off, rows.size.toLong) }
      .toSeq.sorted
    val gotCohort = graft.ops.EventQueries.cohortRetention(spark, dir)
      .collect().map(r => (r.getDate(0).toLocalDate.toEpochDay,
        r.getLong(1), r.getLong(2))).toSeq
    assert(gotCohort == wantCohort)

    val wantNvr = userDays.groupBy(_._2).toSeq.map { case (d, rows) =>
      val nNew = rows.count { case (u, _) => cohortOf(u) == d }.toLong
      (java.time.LocalDate.ofEpochDay(d).toString,
        nNew, rows.size - nNew)
    }.sorted
    val gotNvr = graft.ops.EventQueries.newVsReturning(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(gotNvr == wantNvr)

    // ordered-funnel reference: t0 = first view; tk = first step-k event
    // STRICTLY after t(k-1) — re-orderings must not count
    val steps = Seq("view", "click", "purchase")
    val wantFunnel = byUser.toSeq.flatMap { case (u, rows) =>
      def firstAfter(tpe: String, after: Option[Long]): Option[Long] =
        rows.collect { case (_, _, t, us)
          if t == tpe && after.forall(us > _) => us }
          .minOption
      val t0 = firstAfter(steps.head, None)
      t0.map { start =>
        val t1 = firstAfter(steps(1), Some(start))
        val t2 = t1.flatMap(m => firstAfter(steps(2), Some(m)))
        (u, start, t1, t2)
      }
    }.sortBy(_._1)
    val gotFunnel = graft.ops.Funnel.userSteps(
        graft.Tables.table(spark, dir, "events"), steps)
      .select(col("user_id"), unix_micros(col("t0")).as("u0"),
        unix_micros(col("t1")).as("u1"), unix_micros(col("t2")).as("u2"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toSeq.sortBy(_._1)
    assert(gotFunnel == wantFunnel)

    val wantCounts = steps.zipWithIndex.map { case (s, k) =>
      val n = k match {
        case 0 => wantFunnel.size.toLong
        case 1 => wantFunnel.count(_._3.isDefined).toLong
        case _ => wantFunnel.count(_._4.isDefined).toLong
      }
      (k + 1L, s, n)
    }
    val gotCounts = graft.ops.Funnel.conversionCounts(
        graft.Tables.table(spark, dir, "events"), steps)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    assert(gotCounts == wantCounts)
  }

  test("contaminationMicro == brute-force distinct-trigram overlap on " +
      "random docs (short docs, bench self-overlap)") {
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val n = 3
    val docs = (0L until 40L).map { id =>
      val len = rng.nextInt(12)                       // includes < n tokens
      (id, Seq.fill(len)(vocab(rng.nextInt(vocab.length))).mkString(" "))
    }
    val benchMaxId = 10L
    def grams(text: String): Set[String] = {
      val toks = text.split(" ", -1)
      if (toks.length < n) Set.empty
      else toks.sliding(n).map(_.mkString(" ")).toSet
    }
    val bench = docs.filter(_._1 < benchMaxId).flatMap(d => grams(d._2)).toSet
    val want = docs.map { case (id, text) =>
      val g = grams(text)
      val contam = if (g.isEmpty) 0L
        else 1000000L * g.count(bench) / g.size
      (id, contam)
    }.toSet
    val got = graft.llm.TextStats.contaminationMicro(
        docs.toDF("doc_id", "text"), benchMaxId)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("asofJoin == most-recent-matching-row fold (duplicate right " +
      "timestamps, null values in the newest match)") {
    val leftRows = (1L to 40L).map(id =>
      (id, 1L + rng.nextInt(5), rng.nextInt(50).toLong))
    val rightRows = (1L to 30L).map(tie =>
      (1L + rng.nextInt(5), rng.nextInt(50).toLong, tie,
        if (rng.nextInt(10) == 0) None else Some(rng.nextInt(1000).toLong)))
    val want = leftRows.map { case (id, k, lts) =>
      val candidates = rightRows.filter(r => r._1 == k && r._2 <= lts)
      // order (ts asc, tie asc), running last() wins => max (ts, tie)
      val chosen = candidates.sortBy(r => (r._2, r._3)).lastOption
      (id, chosen.flatMap(_._4))
    }.toSet
    val got = graft.ops.TimeSeries.asofJoin(
        leftRows.toDF("id", "k", "lts"),
        rightRows.toDF("k", "rts", "tie", "v"),
        "k", "lts", "rts", Seq("v"), "tie")
      .select("id", "v")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(got == want)
  }

  test("bandedIntervalJoin == brute-force interval containment " +
      "(exact bin-edge hits, negative values)") {
    val maxWidth = 10.0
    // integer-valued doubles force exact lo/hi boundary hits and values
    // sitting exactly on bin edges; negatives exercise floor semantics
    val points = (1L to 60L).map(id =>
      (id, (rng.nextInt(201) - 100).toDouble))
    val intervals = (1L to 25L).map { id =>
      val lo = (rng.nextInt(201) - 100).toDouble
      (id, lo, lo + rng.nextInt(11).toDouble)         // width 0..10
    }
    val want = (for {
      (pid, v) <- points; (iid, lo, hi) <- intervals
      if v >= lo && v <= hi
    } yield (pid, iid)).toSet
    val got = graft.ops.RangeJoin.bandedIntervalJoin(
        points.toDF("pid", "v"), intervals.toDF("iid", "lo", "hi"),
        "v", "lo", "hi", maxWidth)
      .select("pid", "iid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("knnBruteForce / cosinePairsExact == brute force; lshCosinePairs " +
      "is an exactly-verified subset that always finds duplicates") {
    import graft.llm.Similarity
    val dim = 6
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

    // knn corpus: no zero vectors (cosine NaN ordering is a separate
    // EdgeCases concern); planted duplicates of id 5 at 27/28
    val base = (0L until 27L).map(id =>
      (id, Array.fill(dim)(rng.nextFloat() * 2f - 1f)))
    val knnCorpus = base ++ Seq((27L, base(5)._2.clone),
      (28L, base(5)._2.clone))
    val vec = knnCorpus.toMap
    val queryIds = Seq(2L, 9L, 17L)
    val k = 5
    def cosF(a: Array[Float], b: Array[Float]): Double = {
      val denom = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
      dot(a, b) / denom
    }
    val wantKnn = queryIds.flatMap { qid =>
      knnCorpus.collect { case (cid, cv) if cid != qid =>
        (cid, r6(cosF(cv, vec(qid)))) }
        .sortBy { case (cid, s) => (-s, cid) }.take(k)
        .zipWithIndex.map { case ((cid, s), i) => (qid, i + 1L, cid, s) }
    }.sorted
    val knnDf = knnCorpus.toDF("vec_id", "embedding")
    val gotKnn = Similarity.knnBruteForce(knnDf,
        knnCorpus.filter(t => queryIds.contains(t._1))
          .toDF("vec_id", "embedding"), k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq.sorted
    assert(gotKnn == wantKnn)

    // pairs corpus adds a zero vector (unitNormalize maps it to zeros)
    val pairsCorpus = knnCorpus :+ ((29L, Array.fill(dim)(0f)))
    def unit(a: Array[Float]): Array[Double] = {
      val n = math.sqrt(dot(a, a))
      val safe = if (n == 0.0) 1.0 else n
      a.map(_.toDouble / safe)
    }
    val minCos = 0.3
    val wantPairs = (for {
      (ia, va) <- pairsCorpus; (ib, vb) <- pairsCorpus if ia < ib
      c = r6(dotD(unit(va), unit(vb)))
      if c >= minCos
    } yield (ia, ib, c)).toSet
    val pairsDf = pairsCorpus.toDF("vec_id", "embedding")
    val gotPairs = Similarity.cosinePairsExact(pairsDf, minCos,
        maxId = 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(gotPairs == wantPairs)

    // LSH: every emitted pair must appear in the exact set with the
    // identical cosine (the verify step removes all false positives),
    // and identical vectors share every bucket so duplicate pairs are
    // always found
    val gotLsh = Similarity.lshCosinePairs(pairsDf, minCos)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(gotLsh.subsetOf(wantPairs),
      s"LSH false positives: ${gotLsh.diff(wantPairs)}")
    for (p <- Seq((5L, 27L), (5L, 28L), (27L, 28L)))
      assert(gotLsh.exists(t => (t._1, t._2) == p), s"duplicate pair $p missed")
  }

  test("packBins / budgetedPrefix / roundRobinInterleave == prefix-sum " +
      "and interleave references") {
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    var order = 0L
    val rows = (0 until 4).flatMap { g =>
      (0 until 5 + rng.nextInt(21)).map { _ =>
        order += 1L
        (s"s$g", order, 1L + rng.nextInt(500))
      }
    }
    val df = rows.toDF("source", "ord", "w")

    val binBudget = 1000L
    val wantBins = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      var before = 0L
      sorted.map { case (g, o, w) =>
        val bin = before / binBudget
        before += w
        (o, bin)
      }
    }.toMap
    val gotBins = Sampling.packBins(df, "source", "ord", "w", binBudget)
      .select("ord", "bin_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotBins == wantBins)

    val budget = 2000L
    val wantPrefix = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      var cum = 0L
      sorted.flatMap { case (_, o, w) =>
        cum += w
        if (cum <= budget) Some(o -> cum) else None
      }
    }.toMap
    val gotPrefix = Sampling.budgetedPrefix(df, "source", "ord", "w", budget)
      .select("ord", "cum_weight")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotPrefix == wantPrefix)

    val buckets = rows.map(_._1).distinct.sorted
    val bi = buckets.zipWithIndex.toMap
    val nB = buckets.size.toLong
    val wantPos = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      rs.map(_._2).sortBy(o => (md5hex(o.toString), o))
        .zipWithIndex.map { case (o, i) => o -> (i.toLong * nB + bi(g)) }
    }.toMap
    val gotPos = Sampling.roundRobinInterleave(df, "source", "ord")
      .select("ord", "pos")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotPos == wantPos)
  }

  test("winnowingOverlapPairs == brute-force pair counting over the " +
      "per-doc fingerprint sets (random docs, active df cap)") {
    val vocab = Vector("the", "quick", "brown", "fox", "jumps", "over",
      "lazy", "dog", "pack", "my", "box", "with")
    // a shared passage long enough to fingerprint (>= w+k-1 = 6 tokens),
    // planted in some docs so minShared has real positives to find
    val passage = Seq("five", "boxing", "wizards", "jump", "quickly",
      "tonight", "indeed", "while", "seven", "sphinxes", "quartz", "judge")
    val docs = (0L until 30L).map { id =>
      val len = 6 + rng.nextInt(20)
      val base = Seq.fill(len)(vocab(rng.nextInt(vocab.length)))
      val toks = if (rng.nextInt(3) == 0) {
        val cut = rng.nextInt(base.length)
        base.take(cut) ++ passage ++ base.drop(cut)
      } else base
      (id, toks.mkString(" "))
    }
    val docsDf = docs.toDF("doc_id", "text")
    // per-doc fingerprint sets come from the production winnowedDocs
    // (xxhash64 chains are not replicable driver-side); the DIFFERENTIAL
    // target is everything downstream — the df cap, the inverted-index
    // self-join, and the minShared threshold
    val fpSets = TextStats.winnowedDocs(docsDf)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    for ((minShared, maxDf) <- Seq((1, 1000L), (2, 1000L), (1, 3L))) {
      val df = fpSets.values.toSeq.flatten.groupBy(identity)
        .map { case (fp, occ) => fp -> occ.size.toLong }
      val kept = df.filter(_._2 <= maxDf).keySet
      val ids = docs.map(_._1)
      val want = (for {
        a <- ids; b <- ids if a < b
        shared = (fpSets(a) intersect fpSets(b) intersect kept).size
        if shared >= minShared
      } yield (a, b, shared.toLong)).toSet
      assert(want.nonEmpty, s"degenerate trial minShared=$minShared")
      val got = Dedup.winnowingOverlapPairs(docsDf, minShared, maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(got == want, s"minShared=$minShared maxDf=$maxDf")
    }
  }
}
