package graft.llm

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.scalatest.funsuite.AnyFunSuite

/** Guards the oracle-SQL hash generator's Scala-side arithmetic against
  * Spark's own implementations. The DuckDB-side SQL cannot run under
  * ScalaTest — its continuous check is the driver's oracle gate (and
  * localcheck), where every hash-fingerprint query now hash-compares —
  * but the constants this generator FOLDS AT GENERATION TIME (minhash
  * band-key seeds, chained hashInt inits) must equal Spark's bit-for-bit
  * or every generated oracle silently shifts.
  */
class DuckXxhSpec extends AnyFunSuite {

  private val M64 = BigInt(1) << 64
  private def unsigned(l: Long): BigInt = (BigInt(l) + M64).mod(M64)

  test("xxh64IntConst matches Spark's XXH64.hashInt for seed chains") {
    // the exact calls the minhash/LSH oracle generators fold: per-band
    // inits hashInt(b, 42) and per-permutation seeds hashInt(k, 42)
    for (k <- 0 until 64) {
      assert(DuckXxh.xxh64IntConst(k, BigInt(42)) ==
        unsigned(XXH64.hashInt(k, 42L)),
        s"hashInt($k, 42) diverged")
    }
    // non-trivial seeds (chained case) and negative ints
    val seeds = Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue,
      42L, 0x9E3779B97F4A7C15L)
    for (s <- seeds; i <- Seq(0, 1, 7, 255, -1, Int.MaxValue, Int.MinValue)) {
      assert(DuckXxh.xxh64IntConst(i, unsigned(s)) ==
        unsigned(XXH64.hashInt(i, s)),
        s"hashInt($i, $s) diverged")
    }
  }

  test("generated SQL is structurally sane (balanced, no unbound vars)") {
    // the generator is exercised at object-init of the query lists; this
    // pins the cheap invariants a refactor could silently break
    for (sql <- Seq(DuckXxh.xxh64("t"),
                    DuckXxh.xxh64Long("hu", "CAST(1 AS UBIGINT)"),
                    DuckXxh.murmur32("t", "CAST(0 AS UBIGINT)"))) {
      assert(sql.count(_ == '(') == sql.count(_ == ')'), "unbalanced parens")
      assert(sql.count(_ == '[') == sql.count(_ == ']'), "unbalanced brackets")
      assert(!sql.contains("$"), "unresolved interpolation")
    }
    // the signed/unsigned bridges must survive a round trip textually
    assert(DuckXxh.toSigned("u").contains("9223372036854775808"))
    assert(DuckXxh.toUnsigned("s").contains("18446744073709551616"))
  }
}
