package graft.llm

/** The DuckDB definitions that several oracles share, each written once:
  * an oracle interpolates the fragment instead of retyping it, so a fix
  * to one lands in every query that reads it. Each fragment mirrors one
  * Spark definition, named in its scaladoc, and reads the builder
  * constants it shares with that definition rather than repeating their
  * values.
  *
  * A fragment is a CTE (or CTE chain) without the leading `WITH`, or an
  * expression; callers open the `WITH` (or `WITH RECURSIVE`) themselves.
  * Fragments that read a registry object's constant are `def`s, so this
  * object's initialization never re-enters [[LlmQueries]] or
  * [[CorpusQueries]], whose query lists read it.
  */
private[llm] object OracleSql {

  // ---- exact word-set Jaccard pairs ----

  /** `sh`: the distinct-word set `s` of every document with id < `maxId`
    * — the per-document token sets of [[Dedup.ngramJaccardPairs]] at
    * n = 1 and of [[Dedup.prefixJaccardPairs]].
    */
  def wordSets(maxId: Long): String =
    s"""sh AS (
       |  SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS s
       |  FROM documents WHERE doc_id < $maxId)""".stripMargin

  /** The exact Jaccard of two [[wordSets]] rows `a` and `b`, unrounded —
    * the verify score of [[Dedup.ngramJaccardPairs]].
    */
  val jaccard: String =
    """CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |  (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))""".stripMargin

  /** The `sh` self-join of [[Dedup.ngramJaccardPairs]]: the pairs that
    * `on` admits with [[jaccard]] ≥ [[LlmQueries.MinJaccard]], projected
    * by `select`.
    */
  def jaccardJoin(select: String, on: String): String =
    s"""SELECT $select
       |FROM sh a JOIN sh b ON $on
       |WHERE $jaccard >= ${LlmQueries.MinJaccard}""".stripMargin

  /** `sh` on the id < `maxId` block and `p`, its near-duplicate pairs
    * ([[jaccardJoin]]) — the pair list [[Dedup.prefixJaccardPairs]]
    * feeds the near-dup graph queries.
    */
  def jaccardPairs(maxId: Long, select: String): String =
    s"""${wordSets(maxId)},
       |p AS (
       |  ${jaccardJoin(select, "a.id < b.id")})""".stripMargin

  // ---- connected components ----

  /** [[Dedup.connectedComponents]] over the near-dup pairs of the
    * id < [[LlmQueries.GraphSlice]] block: [[jaccardPairs]] (nodes `sh`,
    * pairs `p`), `edges`, the pairs both ways, and the recursive `reach`,
    * every node with every id it reaches. Callers open `WITH RECURSIVE`.
    */
  def componentClosure: String =
    s"""${jaccardPairs(LlmQueries.GraphSlice, "a.id AS id_a, b.id AS id_b")},
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM p
       |  UNION ALL SELECT id_b, id_a FROM p),
       |reach(id, r) AS (
       |  SELECT id, id FROM sh
       |  UNION
       |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.id)"""
      .stripMargin

  /** Each node's component over [[componentClosure]]: the least id it
    * reaches, the label [[Dedup.connectedComponents]] converges to.
    */
  val component: String =
    """SELECT id, CAST(min(r) AS BIGINT) AS component
      |FROM reach GROUP BY id""".stripMargin

  // ---- search ----

  /** [[Similarity.cosine]] of vector columns `a` and `b`: sequential
    * folds over DOUBLE-cast elements, bit-identical to the codegen'd
    * [[Similarity.dotProduct]]. Unrounded and unparenthesized.
    */
  def cosine(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, len($a) + 1),
       |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))) /
       |(sqrt(list_sum(list_transform(range(1, len($a) + 1),
       |  i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)))) *
       | sqrt(list_sum(list_transform(range(1, len($b) + 1),
       |  i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))))""".stripMargin

  /** [[Similarity.dotProduct]] of DOUBLE vector columns `x` and `y`,
    * folded over the positions of `n`. Unrounded.
    */
  def dot(x: String, y: String, n: String): String =
    s"""list_sum(list_transform(range(1, len($n) + 1),
       |  i -> $x[i] * $y[i]))""".stripMargin

  /** [[Similarity.searchRank]]: a candidate's rank within its query by
    * `score` descending, ties to the lower neighbor id.
    */
  def searchRank(score: String): String =
    s"""row_number() OVER (PARTITION BY query_id
       |  ORDER BY $score DESC, neighbor_id ASC)""".stripMargin

  /** The inputs of [[Similarity.knnBruteForce]]: `<p>q`, the query vectors
    * `qv` (vec_id < [[LlmQueries.QueryVecs]]), and `<p>c`, the corpus
    * vectors `cv`. `p` prefixes both CTE names.
    */
  def queriesAndCorpus(p: String): String =
    s"""${p}q AS (SELECT vec_id AS query_id, embedding AS qv
       |           FROM embeddings WHERE vec_id < ${LlmQueries.QueryVecs}),
       |${p}c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings)"""
      .stripMargin

  /** [[Similarity.knnBruteForce]]'s scoring: [[queriesAndCorpus]] and
    * `<p>scored`, the round-6 [[cosine]] of every (query, other vector)
    * pair.
    */
  def cosineScored(p: String): String =
    s"""${queriesAndCorpus(p)},
       |${p}scored AS (
       |  SELECT query_id, neighbor_id, round(
       |    ${cosine("cv", "qv")}, 6) AS score
       |  FROM ${p}c, ${p}q WHERE query_id <> neighbor_id)""".stripMargin

  /** `u`: [[Similarity.unitNormalize]] of every vector of `from`, as `uv`
    * keyed by `vec_id`.
    */
  def unitVectors(from: String): String =
    s"""u AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |      sqrt(list_sum(list_transform(embedding,
       |        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS uv
       |  FROM $from)""".stripMargin

  /** [[Similarity.cosinePairsExact]]'s score: the round-6 [[dot]] of two
    * [[unitVectors]] rows `a` and `b`.
    */
  val unitPairCosine: String = s"round(${dot("a.uv", "b.uv", "a.uv")}, 6)"

  /** [[Similarity.int8TopK]]'s scoring: [[unitVectors]], the unit queries
    * `qy`, the per-vector [[Int8Quant]] extrema and step `c`, the
    * dequantized vectors `dq`, and `scored` (named by the caller), the
    * round-6 [[dot]] of query and dequantized vector per pair.
    */
  def int8Scored(scored: String): String =
    s"""${unitVectors("embeddings")},
       |qy AS (SELECT vec_id AS query_id, uv AS qu FROM u WHERE vec_id < ${LlmQueries.QueryVecs}),
       |c AS (
       |  SELECT vec_id AS neighbor_id, uv,
       |    list_min(uv) AS mn,
       |    (list_max(uv) - list_min(uv)) / 255.0 AS sc
       |  FROM u),
       |dq AS (
       |  SELECT neighbor_id,
       |    list_transform(uv, x -> CASE WHEN sc = 0 THEN mn
       |      ELSE mn + least(floor((x - mn) / sc), 255.0) * sc END) AS d
       |  FROM c),
       |$scored AS (
       |  SELECT query_id, neighbor_id, round(
       |    ${dot("qu", "d", "d")}, 6) AS score
       |  FROM dq, qy WHERE query_id <> neighbor_id)""".stripMargin

  /** The top-[[LlmQueries.KnnK]] tail of [[Similarity.knnBruteForce]] and
    * [[Similarity.int8TopK]] over a `scored` CTE: [[searchRank]] on
    * `score`, the k best per query.
    */
  def searchTopK: String =
    s"""ranked AS (
       |  SELECT query_id, neighbor_id, score,
       |    ${searchRank("score")} AS rk
       |  FROM scored)
       |SELECT query_id, rk, neighbor_id, score
       |FROM ranked WHERE rk <= ${LlmQueries.KnnK}
       |ORDER BY query_id, rk""".stripMargin

  // ---- text ----

  /** A CTE named `name` of [[TextStats.tokenRows]]`(docs, "doc_id")`: one
    * `token` row per whitespace token of every document.
    */
  def tokenTable(name: String): String =
    s"""$name AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents)""".stripMargin

  /** [[TextStats.shingles]]`(tokens(text), 3)`: every document's word
    * trigrams in order, empty below 3 tokens.
    */
  val wordTrigrams: String =
    """CASE WHEN len(string_split(text, ' ')) >= 3
      |  THEN list_transform(range(1, len(string_split(text, ' ')) - 1),
      |    i -> string_split(text, ' ')[i] || ' ' ||
      |         string_split(text, ' ')[i+1] || ' ' ||
      |         string_split(text, ' ')[i+2])
      |  ELSE CAST([] AS VARCHAR[]) END""".stripMargin

  /** `sh`: each document's distinct [[wordTrigrams]] as `grams` — the
    * `array_distinct(shingles(tokens(text), 3))` that
    * [[TextStats.contaminationMicro]] and
    * [[CorpusQueries.interDocDupFraction]] explode.
    */
  val distinctTrigrams: String =
    s"""sh AS (
       |  SELECT doc_id,
       |    list_distinct($wordTrigrams) AS grams
       |  FROM documents)""".stripMargin

  /** Marker words as comma-separated SQL string literals, for an `IN`
    * list over [[TextStats.langMarkers]].
    */
  def quoted(words: Iterable[String]): String =
    words.map(w => s"'$w'").mkString(",")

  /** `c`: the per-document counts of
    * [[TextStats.qualityScoreMicroFromTokens]] — tokens `t`, hits `h` on
    * every [[TextStats.langMarkers]] word, distinct tokens `d` and the
    * capped length `m`.
    */
  val qualityCounts: String = {
    val markers = TextStats.langMarkers.values.map(quoted)
      .mkString(",\n                 ")
    s"""c AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS t,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      x -> x IN ($markers))) AS BIGINT) AS h,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS d,
       |    least(n_chars, 500) AS m
       |  FROM documents)""".stripMargin
  }

  /** [[TextStats.qualityScoreMicroFromTokens]] over [[qualityCounts]]:
    * the exact floor micro-unit score.
    */
  val qualityMicro: String =
    """CAST((1000000 * (10 * m * t + 3750 * (h + d))) // (12500 * t)
      |    AS BIGINT)""".stripMargin

  /** `d` and `c`: [[CorpusQueries.chunkDocs]]' windows — each document's
    * tokens `toks` with their count `n`, and one row per `chunk_id`.
    */
  def chunkRows: String = {
    val (w, s) = (CorpusQueries.ChunkWindow, CorpusQueries.ChunkStride)
    s"""d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, toks,
       |    unnest(range(0, 1 + greatest(0, (n - $w + ${s - 1}) // $s)))
       |      AS chunk_id
       |  FROM d)""".stripMargin
  }

  /** The tokens of chunk `chunk_id` of [[chunkRows]], the slice
    * [[CorpusQueries.chunkDocs]] hashes.
    */
  def chunkTokens: String = {
    val (w, s) = (CorpusQueries.ChunkWindow, CorpusQueries.ChunkStride)
    s"toks[chunk_id * $s + 1 : chunk_id * $s + $w]"
  }

  // ---- sampling ----

  /** `r`: [[graft.ops.Sampling.md5Rank]] — every row of `from` ranked
    * within its `g` group by the md5 of its `id` string, ties to the
    * lower id.
    */
  def md5Draw(from: String, g: String, id: String): String =
    s"""r AS (
       |  SELECT $g, $id, row_number() OVER (PARTITION BY $g
       |    ORDER BY md5(CAST($id AS VARCHAR)), $id) AS rk
       |  FROM $from)""".stripMargin
}
