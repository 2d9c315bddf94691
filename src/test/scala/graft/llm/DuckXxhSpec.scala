package graft.llm

import org.scalatest.funsuite.AnyFunSuite

/** Guards the oracle-SQL hash generator. The DuckDB-side SQL cannot run
  * under ScalaTest — its continuous check is the driver's oracle gate (and
  * localcheck), where every hash-fingerprint query hash-compares — so this
  * pins the cheap structural invariants of the text it generates.
  */
class DuckXxhSpec extends AnyFunSuite {

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
