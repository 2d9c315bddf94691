package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.KnownNotNull
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Checkpoints
import TextStats.{IdCol, TextCol}

/** Deduplication operators (SURVEY.md §7.2.5): exact, MinHash+LSH near-dup,
  * SimHash near-dup, n-gram Jaccard.
  *
  * Scale design: exact dedup shuffles 16-byte md5 keys, never full
  * documents; MinHash/LSH bound the near-dup candidate set (band-bucket
  * join instead of all-pairs); the exact Jaccard join is the verification
  * tool, used on bounded/blocked subsets only.
  */
object Dedup {

  /** MinHash signature length and band count: r = 24/3 = 8 rows per band
    * (see [[minhashNearDupPairs]]). Read by the DuckDB replay too
    * ([[LlmQueries]] `minhashOracleSql`), so the two cannot drift. */
  private[llm] val MinhashHashes = 24
  private[llm] val MinhashBands = 3

  /** Exact dedup groups: one row per distinct text with the id to keep
    * (min) and the copy count. Grouping key is the md5 fingerprint, so the
    * shuffle carries 16 bytes per row regardless of document size.
    *
    * Null texts are EXCLUDED, not grouped: md5(null) is null and groupBy
    * treats nulls as equal, so a corpus with N null-text rows would
    * otherwise collapse them into one "duplicate" group and count N−1
    * phantom copies — null text is unknown content, not identical
    * content (the near-dup path makes the same call: null signatures get
    * null band keys and never match). The oracle SQL carries the same
    * `WHERE text IS NOT NULL`.
    */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs.filter(col(TextCol).isNotNull)
      .select(TextStats.fingerprint(col(TextCol)).as("fp"), col(IdCol))
      .groupBy("fp")
      .agg(min(col(IdCol)).as("keep_id"), count(lit(1)).as("copies"))

  /** MinHash+LSH near-duplicate pairs over word sets, the classic banding
    * scheme (Broder minhash + LSH bands, as in MMDS ch.3):
    *
    *   1. signature: [[MinhashHashes]] minima of per-seed xxhash64 over
    *      the token set (pure codegen'd higher-order functions);
    *   2. banding: signatures split into [[MinhashBands]] groups of r rows; docs
    *      sharing any band hash become candidates — a bucket equi-join,
    *      never the N² cross product (the 100 TB property);
    *   3. exact verify: candidates get true Jaccard via array_intersect,
    *      filtered at `minJaccard` — so output has no false positives,
    *      and misses only what banding misses (P(candidate) = 1-(1-j^r)^b).
    *
    * Deterministic end-to-end (seeded hashes, no RNG). Replaces MLlib's
    * MinHashLSH.approxSimilarityJoin, which expands per hash table and
    * degenerates to all-pairs × tables on globally-similar corpora.
    *
    * r=8, b=3: P(candidate | j=0.9) ≈ 0.81, ≈1.0 at j=1, while
    * j=0.6 background pairs land under 5% — tuned against this corpus's
    * unusually high median similarity (31-word vocabulary).
    */
  def minhashNearDupPairs(docs: DataFrame, minJaccard: Double): DataFrame = {
    // `toks` is read by the band signatures and both verify sides,
    // `buckets` by both sides of the band self-join. At 100 TB this is the
    // production shape: sign the corpus once, keep the (id, hset) index,
    // join against it.
    val toks = Checkpoints.checkpoint(tokenHashSets(docs))
    val buckets = Checkpoints.checkpoint(minhashBandBuckets(toks))
    val cand = bandCandidates(buckets, buckets, minJaccard, requireIdOrder = true)
    verifyJaccard(cand, toks, minJaccard)
  }

  /** Band-bucket candidate join with two result-preserving prunes:
    * the PPJoin LENGTH filter (J(A,B) ≥ t ⟹ t·|A| ≤ |B| and
    * t·|B| ≤ |A|, because J ≤ min/max — the `- 1e-9` nudge absorbs the
    * float-product ulp exactly as in [[prefixJaccardPairs]]), and
    * first-band emission ([[firstBandJoin]]): a pair agreeing on k bands
    * would otherwise surface k times and be verified k times (measured
    * 1.43× duplicate factor at sf0.1). Both prunes drop only pairs the
    * exact verify would reject or has already seen — the output set is
    * bit-identical (oracle-checked).
    */
  private def bandCandidates(bx: DataFrame, by: DataFrame,
                             minJaccard: Double,
                             requireIdOrder: Boolean): DataFrame = {
    val idOrder = if (requireIdOrder) col("x.id") < col("y.id") else lit(true)
    val lengthOk =
      col("y.n") >= lit(minJaccard) * col("x.n") - lit(1e-9) &&
        col("x.n") >= lit(minJaccard) * col("y.n") - lit(1e-9)
    firstBandJoin(bx, by, MinhashBands, idOrder && lengthOk)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
  }

  /** Band `b`'s key `band{b}` over its `slice` of signature or
    * projection slots: `xxhash64(lit(b), slice…)`, or null when any slot
    * is null. xxhash64 skips null children, which would collapse every
    * row with a null slot into ONE bucket (silent N² candidate blowup);
    * null band keys never equi-join instead.
    */
  private[llm] def bandKey(b: Int, slice: Seq[Column]): Column =
    when(slice.map(_.isNull).reduce(_ || _), lit(null).cast("long"))
      .otherwise(xxhash64((lit(b) +: slice): _*)).as(s"band$b")

  /** One row per (document, band): every column of `withBands` — which
    * carries all band keys `band0`…`band{bands-1}` — plus the exploded
    * `band_idx`/`band_key` that [[firstBandJoin]] buckets on.
    */
  private[llm] def explodeBands(withBands: DataFrame, bands: Int): DataFrame =
    withBands.select(col("*"),
        posexplode(array((0 until bands).map(b => col(s"band$b")): _*)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_key")

  /** Band-bucket join (aliases `x`, `y`) of two [[explodeBands]] frames
    * that meets each pair ONCE: rows meet on (band_idx, band_key) and
    * `cond`, and a pair agreeing on k bands — k bucket meetings — is kept
    * only from its lowest agreeing band, so candidates are unique without
    * a distinct() shuffle (within one band a pair meets at most once).
    * The CASE finds the lowest agreeing band with one `<=>` per band;
    * the equi-join makes band `band_idx` agree, so the CASE stops at or
    * before it, and equals it exactly when no earlier band agrees.
    * `<=>` counts two null keys as agreeing; no matched row has them, as
    * band keys are null only all together (a null signature or vector
    * nulls every band) and null keys never equi-join.
    */
  private[llm] def firstBandJoin(bx: DataFrame, by: DataFrame, bands: Int,
                                 cond: Column): DataFrame = {
    val firstAgreeing = (1 until bands).foldLeft(
        when(col("x.band0") <=> col("y.band0"), 0)) { (c, j) =>
      c.when(col(s"x.band$j") <=> col(s"y.band$j"), j)
    }
    bx.as("x").join(by.as("y"),
      col("x.band_idx") === col("y.band_idx") &&
        col("x.band_key") === col("y.band_key") &&
        cond && firstAgreeing === col("x.band_idx"))
  }

  /** Incremental ingest near-dedup: pairs (existing, incoming) where an
    * INCOMING document near-duplicates an EXISTING one — the continuous-
    * ingest form of [[minhashNearDupPairs]]. Both sides are signed with
    * the same seeded minhash, so the candidate join is a bipartite
    * band-bucket equi-join: the per-batch cost is sign + join the NEW
    * batch only (at 100 TB the existing side's buckets are a precomputed
    * index table, and this is the query that runs on every ingest).
    * Callers pass disjoint id sets; output ids are (id_a = existing,
    * id_b = incoming). Pair-for-pair identical to the batch form
    * restricted to cross-split pairs (asserted in DedupSpec): same
    * signatures, same bands, same exact verify.
    */
  def incrementalNearDupPairs(existing: DataFrame, incoming: DataFrame,
                              minJaccard: Double): DataFrame = {
    // each side's hash sets are read by its band signatures and the
    // verify; each side's buckets only by the candidate join. The
    // bipartite join keeps both directions, so no id order — first-band
    // emission and the length filter apply unchanged
    val te = Checkpoints.checkpoint(tokenHashSets(existing))
    val ti = Checkpoints.checkpoint(tokenHashSets(incoming))
    val cand = bandCandidates(
      Checkpoints.checkpoint(minhashBandBuckets(te)),
      Checkpoints.checkpoint(minhashBandBuckets(ti)),
      minJaccard, requireIdOrder = false)
    verifyJaccard(cand, te.unionByName(ti), minJaccard)
  }

  /** Prefix-filtered EXACT Jaccard self-join — the AllPairs/PPJoin prefix
    * principle (Bayardo et al. WWW'07; Xiao et al. WWW'08, both public):
    * order every document's distinct-token set by one global total order
    * (document frequency ascending — rarest first — then hash), and index
    * only each document's first `n - ceil(t*n) + 1` tokens. Any pair with
    * Jaccard >= t must (a) satisfy the length filter `|b| >= t*|a|` and
    * (b) share at least one PREFIX token under the shared order — so the
    * inverted-index join over prefixes alone finds every qualifying pair,
    * and the exact verify keeps output identical to the full
    * inverted-index form ([[ngramJaccardPairs]]; set-equality asserted in
    * DedupSpec, same DuckDB oracle).
    *
    * Scale: where the full form explodes EVERY token into the index, this
    * explodes ~(1-t) of them (t=0.9 → 10%), and the candidate join meets
    * only on rare tokens — the standard exact-similarity-join plan at
    * corpus scale. The df rank window is per-document (bounded state);
    * the df aggregate + join back shuffle on the token hash, un-hinted.
    *
    * The `- 1e-9` nudge under both ceils: `t*n` in binary floats can land
    * one ulp ABOVE an exact integer product (0.9*60 = 54.0000…13), and an
    * overshot ceil SHORTENS the prefix — the unsafe direction (false
    * negatives). Nudging down absorbs the ulp; undershoot merely lengthens
    * the prefix (slower, never wrong).
    */
  def prefixJaccardPairs(docs: DataFrame, minJaccard: Double,
                         maxId: Long): DataFrame = {
    // the hash-set index is read by the df aggregate, the index join and
    // both verify sides
    val toks = Checkpoints.checkpoint(
      tokenHashSets(docs.filter(col(IdCol) < maxId)))
    val ex = TextStats.explodeNonNull(toks,
      Seq(col("id"), size(col("hset")).as("n")), col("hset"), "h")
    val dfreq = ex.groupBy("h").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("id").orderBy(col("df").asc, col("h").asc)
    // the prefix index is read by both sides of the self-join below
    val prefix = Checkpoints.checkpoint(ex.join(dfreq, "h")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <=
        col("n") - ceil(lit(minJaccard) * col("n") - lit(1e-9)) + 1)
      .select("id", "h", "n"))
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.h") === col("y.h") && col("x.id") < col("y.id") &&
          col("y.n") >= lit(minJaccard) * col("x.n") - lit(1e-9) &&
          col("x.n") >= lit(minJaccard) * col("y.n") - lit(1e-9))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    verifyJaccard(cand, toks, minJaccard, dedupPairs = true)
  }

  /** Token SET as sorted int64 hashes: one xxhash64 per token per DOC, so
    * the per-PAIR verify is a primitive merge (SortedIntersectCount)
    * instead of a string hash set per candidate — jaccard is unchanged
    * (distinct tokens → distinct hashes, collisions ~ |set|²/2⁶⁴).
    * TokenHashSet/MinHashSignature are the codegen'd forms of the
    * array_sort∘array_distinct∘transform / 24× array_min∘transform HOF
    * stacks (bit-identical; HOFs run interpreted as CodegenFallback).
    */
  private def tokenHashSets(docs: DataFrame): DataFrame =
    docs.select(col(IdCol).as("id"),
      graft.functions.HashFamily.tokenHashSet(
        TextStats.tokens(col(TextCol))).as("hset"))

  /** (id, n, band0..band{b-1}, band_idx, band_key) LSH buckets from the
    * minhash signature. Besides the exploded (band_idx, band_key) join
    * key, every row carries the token-set size `n` (for the candidate
    * length filter) and ALL band keys (for [[firstBandJoin]]) — b longs
    * and an int of width per row, paid once in the materialized index.
    */
  private def minhashBandBuckets(toks: DataFrame): DataFrame = {
    val r = MinhashHashes / MinhashBands
    val sigs = toks.select(col("id"), size(col("hset")).as("n"),
      graft.functions.HashFamily.minhashSignature(col("hset"), MinhashHashes)
        .as("sig"))
    // null text → null signature → null band keys
    val bandCols = (0 until MinhashBands).map(b =>
      bandKey(b, (b * r until (b + 1) * r).map(i => element_at(col("sig"), i + 1))))
    explodeBands(sigs.select(col("id") +: col("n") +: bandCols: _*),
      MinhashBands)
  }

  /** Exact jaccard verify of a candidate pair list against the hash sets.
    * The minhash band paths hand over candidates already unique
    * (first-band emission in [[firstBandJoin]]), so they skip the trailing
    * distinct; [[prefixJaccardPairs]] can surface a pair once per shared
    * prefix token and dedups AFTER the jaccard filter — the merge-verify
    * is so cheap that re-checking duplicates costs less than a distinct()
    * shuffle of the (much larger) raw candidate set.
    */
  private def verifyJaccard(cand: DataFrame, toks: DataFrame,
                            minJaccard: Double,
                            dedupPairs: Boolean = false): DataFrame = {
    val ta = toks.select(col("id").as("id_a"), col("hset").as("hset_a"))
    val tb = toks.select(col("id").as("id_b"), col("hset").as("hset_b"))
    val verified = cand.join(ta, "id_a").join(tb, "id_b")
      .withColumn("inter",
        graft.functions.SetMath.sortedIntersectCount(col("hset_a"), col("hset_b")))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("hset_a")) + size(col("hset_b")) - col("inter")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
    if (dedupPairs) verified.distinct() else verified
  }

  /** Greedy near-dedup: retain every document that never appears as the
    * higher id of a detected near-dup pair. For each detected pair at
    * most one side survives (the lower id), which is the practical
    * guarantee corpus dedup pipelines ship with — transitive clustering
    * needs iterative connected components and buys little at τ≥0.9.
    */
  def nearDedupKeepFirst(docs: DataFrame, minJaccard: Double): DataFrame = {
    val drop = minhashNearDupPairs(docs, minJaccard)
      .select(col("id_b").as(IdCol)).distinct()
    docs.join(drop, Seq(IdCol), "left_anti")
  }

  /** SimHash near-dup pairs at scale: band the 64-bit signature into
    * b bit-slices and bucket-join on any shared slice (documents
    * within hamming distance h share at least one of b slices whenever
    * h < b — pigeonhole), then verify true hamming ≤ maxHamming. Same
    * never-N² shape as the MinHash path.
    */
  def simhashNearDupPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    // recall guarantee is pigeonhole: h differing bits can straddle at most
    // h bands, so a pair within maxHamming shares a band only if
    // maxHamming < bands. b is the smallest divisor of 64 above
    // maxHamming: full recall with the widest slices.
    require(maxHamming < 64, s"maxHamming=$maxHamming: 64-bit signatures " +
      "cannot guarantee recall past hamming 63")
    val b = Seq(1, 2, 4, 8, 16, 32, 64).find(_ > maxHamming).get
    val width = 64 / b
    // JVM shifts count mod 64, so (1L << 64) - 1 would be 0 — an all-rows
    // single bucket (silent N²) for bands=1
    val mask = if (width == 64) -1L else (1L << width) - 1
    // a null text's null signature never matches, so those rows go first
    // and the signature is declared non-null: a nullable `sig` lets the
    // hamming verify's inferred isnotnull(sig) be pushed under this
    // projection, re-inlining the tokenize+hash chain into a per-row
    // filter (every document hashed twice per join side)
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val sigs = docs.filter(col(TextCol).isNotNull).select(col(IdCol).as("id"),
      bridge.column(KnownNotNull(bridge.expression(
        TextStats.simhash64(col(TextCol))))).as("sig"))
    val bandCols = (0 until b).map { i =>
      shiftrightunsigned(col("sig"), i * width)
        .bitwiseAND(lit(mask)).as(s"band$i")
    }
    // every row keeps ALL band slices through the explode, so
    // [[firstBandJoin]] can emit a pair agreeing on k bands once
    val buckets = explodeBands(
      sigs.select(col("id") +: col("sig") +: bandCols: _*), b)
    val cand = firstBandJoin(buckets, buckets, b, col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.sig").as("sig_a"), col("y.sig").as("sig_b"))
    cand.withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** SimHash near-duplicate pairs: 64-bit signatures, then pairs within
    * `maxHamming` bits. The pair join here is bounded by `maxId` (exact
    * verification form); the scale path joins on signature bands, same as
    * MinHash.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int, maxId: Long): DataFrame = {
    val sigs = docs.filter(col(IdCol) < maxId)
      .select(col(IdCol), TextStats.simhash64(col(TextCol)).as("sig"))
    val a = sigs.select(col(IdCol).as("id_a"), col("sig").as("sig_a"))
    val b = sigs.select(col(IdCol).as("id_b"), col("sig").as("sig_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Winnowing-overlap pairs: documents sharing at least `minShared`
    * winnowed fingerprints (TextStats.winnowedDocs — cf.
    * Schleimer et al., SIGMOD'03). Detects LOCAL overlap — a copied
    * passage of ≥ w+k-1 tokens inside otherwise-different documents —
    * which global Jaccard/MinHash similarity misses entirely; this is the
    * plagiarism/boilerplate-detection mode of near-dup.
    *
    * Scale shape: inverted-index equi-join on fingerprints (winnowing
    * keeps ~2/(w+1) of grams, so the index is sparse), with a frequency
    * cap first: fingerprints present in more than `maxDocFreq` documents
    * are boilerplate by definition and would each contribute O(df²)
    * candidate pairs — dropping them is the standard stop-gram move that
    * keeps the join linear-ish at corpus scale (they carry no dedup
    * signal; a gram shared by half the corpus identifies nothing).
    */
  def winnowingOverlapPairs(docs: DataFrame, minShared: Int,
                            maxDocFreq: Long): DataFrame = {
    // the fingerprint postings are read by the df aggregate and the
    // semi-join that keeps the rare ones; the rare postings by both sides
    // of the self-join
    val fp = Checkpoints.checkpoint(TextStats.explodeNonNull(
      TextStats.winnowedDocs(docs), Seq(col("id")), col("fps"), "fp"))
    val rare = fp.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq)
      .select("fp")
    val indexed = Checkpoints.checkpoint(fp.join(rare, Seq("fp"), "left_semi"))
    indexed.as("x").join(indexed.as("y"),
        col("x.fp") === col("y.fp") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= minShared)
  }

  /** Connected components over a near-dup pair list by iterative min-label
    * propagation: every node starts as its own component; each round a
    * node takes the minimum label among itself and its neighbors, until a
    * round changes nothing. Converges in O(cluster diameter) rounds —
    * near-dup clusters are shallow (diameter ≤ a few hops), so this is
    * the standard way to turn pairwise matches into transitive dup
    * CLUSTERS at corpus scale: each round is one co-partitioned
    * join + min-aggregation, no driver-side graph. localCheckpoint cuts
    * the growing lineage so round N doesn't replan rounds 1..N-1.
    *
    * Returns (id, component) with component = min id reachable.
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
                          maxIter: Int = 20): DataFrame = Checkpoints.scoped { s =>
    // every round joins the edge list, so the (expensive) pair detection
    // that produced it runs once; exploding each pair into its two
    // directions evaluates `pairs` once, where a self-union would twice
    val edges = Checkpoints.checkpoint(pairs.select(explode(array(
        struct(col("id_a").as("u"), col("id_b").as("v")),
        struct(col("id_b").as("u"), col("id_a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")))
    var labels = Checkpoints.checkpoint(nodes.select(col("id"),
        col("id").as("component"), col("id").as("__prev"))).select("id", "component")
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "v"), "v")
        .groupBy(col("u").as("id"))
        .agg(min(col("component")).as("n_min"))
      // the new label rides the checkpoint NEXT TO the label it
      // replaces, so convergence is a scan of the freshly cached
      // blocks — not the join-plus-shuffle of next against labels
      // the previous form paid every round (one |V|-row exchange per
      // round saved; at full-corpus CC that join was the same size
      // as the propagation step itself)
      val next = Checkpoints.checkpoint(labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("n_min"), col("component")))
            .as("component"),
          col("component").as("__prev")))
      converged = next.filter(col("component") =!= col("__prev")).isEmpty
      // round N only ever reads round N-1, and the check was its last reader
      s.release(labels)
      labels = next.select("id", "component")
      iter += 1
    }
    // a silent non-converged return would hand back split clusters with
    // intermediate labels; long chains (diameter > maxIter) must fail
    // loudly so the caller raises maxIter
    require(converged,
      s"connected components did not converge within $maxIter rounds " +
        "(cluster diameter exceeds maxIter)")
    labels
  }

  /** Exact n-gram (word shingle) Jaccard pairs via inverted-index join:
    * explode distinct shingles, join docs sharing a shingle, count shared,
    * Jaccard = |∩| / (|A|+|B|-|∩|). `maxId` bounds the block — at corpus
    * scale this runs per LSH bucket or blocking key, not globally.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, minJaccard: Double,
                        maxId: Long): DataFrame = {
    val toks = docs.filter(col(IdCol) < maxId)
      .select(col(IdCol).as("id"), TextStats.tokens(col(TextCol)).as("toks"))
    val shingled = toks.select(col("id"),
      array_distinct(if (n == 1) col("toks")
                     else TextStats.shingles(col("toks"), n)).as("shingles"))
    // Each posting row carries its document's shingle count `n_sh`, so
    // no join brings the sizes back, and the index is read by both sides
    // of the self-join. The PPJoin length filter inside the
    // join condition (J ≥ t ⟹ t·|A| ≤ |B| ≤ |A|/t, the `- 1e-9` ulp
    // nudge as in prefixJaccardPairs) prunes candidate rows BEFORE the
    // pair aggregation — it only drops pairs the exact jaccard filter
    // below would reject, so the output set is identical (oracle-checked).
    val inv = Checkpoints.checkpoint(TextStats.explodeNonNull(shingled,
      Seq(col("id"), size(col("shingles")).as("n_sh")), col("shingles"), "sh"))
    val shared = inv.as("x").join(inv.as("y"),
        col("x.sh") === col("y.sh") && col("x.id") < col("y.id") &&
          col("y.n_sh") >= lit(minJaccard) * col("x.n_sh") - lit(1e-9) &&
          col("x.n_sh") >= lit(minJaccard) * col("y.n_sh") - lit(1e-9))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.n_sh").as("na"), col("y.n_sh").as("nb"))
      .agg(count(lit(1)).as("shared"))
    shared
      .withColumn("jaccard",
        round(col("shared").cast("double") / (col("na") + col("nb") - col("shared")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Canonical-document selection: for each transitive dup cluster, keep
    * the BEST member (max quality, ties to the lowest id) instead of the
    * arbitrary first — the curation-aware dedup policy (a near-dup group
    * usually contains one clean original and several truncated/boilerplate
    * copies; keep-first would keep whichever id sorted lower).
    *
    * Shape at scale: one groupBy-argmax over (component) via a packed
    * max(struct(quality, -id)) — partial aggregation does the argmax
    * map-side, no Window, no second join back to find the winner. The
    * negated id inside the struct makes lexicographic max = (max quality,
    * then min id), deterministic at any partition layout.
    *
    * `components` is (id, component) from [[connectedComponents]]; `docs`
    * supplies `doc_id` + `qualityCol`. Returns one row per cluster:
    * (component, kept_doc, n_members, best_quality).
    */
  def keepBestPerCluster(components: DataFrame, docs: DataFrame,
                         qualityCol: String): DataFrame = {
    // the output schema fixes best_quality as bigint (the oracle contract);
    // a fractional quality column would TRUNCATE silently (0 for every
    // [0,1) score) while the argmax itself ranked on the true values —
    // refuse non-integral quality columns instead (callers with fractional
    // scores pass their micro-unit form, e.g. quality_micro)
    val qType = docs.schema(qualityCol).dataType
    require(Seq("byte", "short", "integer", "long")
        .contains(qType.typeName),
      s"qualityCol '$qualityCol' is $qType: best_quality is reported as " +
        "bigint, so fractional scores would truncate silently — pass an " +
        "integral (micro-unit) quality column")
    components
      .join(docs.select(col(IdCol).as("id"), col(qualityCol).as("__q")), "id")
      .groupBy(col("component"))
      .agg(count(lit(1)).cast("bigint").as("n_members"),
        max(struct(col("__q").as("q"), (-col("id")).as("nid"))).as("__best"))
      .select(col("component"),
        (-col("__best.nid")).cast("bigint").as("kept_doc"),
        col("n_members"),
        col("__best.q").cast("bigint").as("best_quality"))
  }
}
