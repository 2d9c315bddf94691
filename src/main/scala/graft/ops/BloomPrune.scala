package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Runtime bloom pruning for joins — the manual form of Spark's
  * InjectRuntimeFilter: build a bloom filter over the dimension side's
  * join keys (one small aggregate), broadcast it, and drop fact rows that
  * cannot match BEFORE the join's shuffle. False positives only, so the
  * exact join afterwards keeps the result identical while the shuffle
  * carries only plausibly-matching rows — at 100 TB this is the
  * difference between shuffling the whole fact table and shuffling the
  * few percent that can join.
  *
  * Uses Catalyst's own BloomFilterAggregate / BloomFilterMightContain
  * (the pair behind `spark.sql.optimizer.runtime.bloomFilter`), driven
  * explicitly so the pruning is part of the declared plan rather than an
  * optimizer heuristic.
  */
object BloomPrune {

  /** Build the bloom filter over `dim`'s keys: one distributed aggregate,
    * returning the serialized sketch (KBs–MBs, bounded by `expectedItems`,
    * never by dim's row count). `might_contain` requires a CONSTANT bloom
    * input, so the sketch is materialized eagerly and embedded as a
    * binary literal — the same build-then-broadcast shape as an ML fit or
    * `df.stat.bloomFilter`, and what InjectRuntimeFilter does with a
    * scalar subquery.
    */
  def keyBloomBytes(dim: DataFrame, keyCol: String,
                    expectedItems: Long): Array[Byte] = {
    val agg = new BloomFilterAggregate(
      Bridge.expression(xxhash64(col(keyCol))),
      Literal(expectedItems), Literal(expectedItems * 8))
      .toAggregateExpression()
    dim.agg(Bridge.column(agg).as("bf")).head().getAs[Array[Byte]](0)
  }

  /** `might_contain(<constant bloom>, xxhash64(key))` as a Column. */
  def mightContain(bloomBytes: Array[Byte], key: Column): Column =
    Bridge.column(BloomFilterMightContain(
      Literal.create(bloomBytes,
        org.apache.spark.sql.types.BinaryType),
      Bridge.expression(xxhash64(key))))

  /** Semi join with bloom pre-pruning: exact result of
    * `fact SEMI JOIN dim ON factKey = dimKey`, with non-candidates
    * filtered out before the join shuffle. The probe key is cast to the
    * dim key's type before hashing — xxhash64 is type-sensitive, so an
    * int fact key probing a bloom built over bigint dim keys would
    * otherwise miss every true match (the join's own EqualTo coerces,
    * the hash does not). The dim side is aliased so same-named keys
    * don't become ambiguous references.
    */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame,
                    factKey: String, dimKey: String,
                    expectedItems: Long): DataFrame = {
    val keyType = dim.schema(dimKey).dataType
    val bloom = keyBloomBytes(dim, dimKey, expectedItems)
    val dimKeys = dim.select(col(dimKey).as("__bloom_dim_key"))
    // try_cast, not cast: under ANSI mode a NARROWING probe cast (bigint
    // fact key vs int dim key) would raise CAST_OVERFLOW on rows the join
    // itself would just drop. try_cast sends them to null — the probe may
    // then pass (xxhash64 skips null children), but that's only a bloom
    // false positive and the exact semi join still drops the row.
    fact.filter(mightContain(bloom, col(factKey).try_cast(keyType)))
      .join(dimKeys, fact(factKey) === col("__bloom_dim_key"), "left_semi")
  }
}
