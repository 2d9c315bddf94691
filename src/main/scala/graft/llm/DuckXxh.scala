package graft.llm

/** DuckDB-SQL replay of Spark's `xxhash64` (XXH64, seed 42) — the
  * generator behind the oracle SQL for the hash-fingerprint family
  * (SimHash, winnowing, MinHash), which was rows-only until round 10
  * because "xxhash64 isn't SQL-reproducible". It is: XXH64 is pure
  * integer arithmetic (public spec, github.com/Cyan4973/xxHash), and
  * DuckDB's HUGEINT gives exact 128-bit intermediates, so every
  * wrapping 64-bit op is expressible as `% 2^64` arithmetic:
  *
  *  - wrapping multiply: 32-bit limb split — `(al·bl + ((al·bh + ah·bl)
  *    mod 2^32)·2^32) mod 2^64`, every product < 2^65 so nothing
  *    overflows HUGEINT (DuckDB integer ops are overflow-CHECKED, not
  *    wrapping — naive `a*b` on UBIGINT throws);
  *  - rotl r: `(x·2^r mod 2^64) + (x >> (64-r))` — the two halves
  *    occupy disjoint bit ranges so `+` never carries;
  *  - byte access: `hex(encode(s))` once per token, then 2-char
  *    substrings (DuckDB 1.0 has no BLOB subscripting);
  *  - let-bindings (each state update reads its predecessor many
  *    times): `list_transform([expr], v -> body)[1]`, the
  *    single-element-list trick — DuckDB 1.0's `list_reduce` has no
  *    initial-value form, so reductions prepend the init instead;
  *  - data-length loops (32-byte stripes, 8-byte tail chunks, tail
  *    bytes): `list_reduce` over offset ranges; the four stripe lanes
  *    only interact after the stripe loop, so each lane is its own
  *    independent reduce over its own offset comb.
  *
  * Validated three ways before landing: the generated SQL against a
  * clean-room XXH64 reference on all length classes (empty / <8 / 8 /
  * tail-only / exactly-32 / multi-stripe / unicode), that reference
  * against Spark's `xxhash64` on the same corpus, and the end-to-end
  * oracle hash against the engine's own output at sf0.01 and sf0.1.
  * The expression is ~20 KB of SQL per call site — entirely fine for
  * an oracle that exists to be independent, not fast.
  */
private[llm] object DuckXxh {
  private val Mod = "18446744073709551616" // 2^64
  private val B32 = "4294967296"           // 2^32
  private val M64 = BigInt(1) << 64

  private val P1 = BigInt("11400714785074694791")
  private val P2 = BigInt("14029467366897019727")
  private val P3 = BigInt("1609587929392839161")
  private val P4 = BigInt("9650029242287828579")
  private val P5 = BigInt("2870177450012600261")
  private val Seed = BigInt(42)

  // fresh-variable counter: generation happens once at object init on a
  // single thread (each family's `queries` is a val), so a plain var suffices
  private var ctr = 0
  private def fresh(p: String): String = { ctr += 1; s"$p$ctr" }

  /** let-binding: `list_transform([expr], v -> body(v))[1]`. */
  private def bind(expr: String, pfx: String)(body: String => String): String = {
    val v = fresh(pfx)
    s"list_transform([$expr], $v -> ${body(v)})[1]"
  }

  /** (a·b) mod 2^64 — operands are referenced twice, so pass only
    * bound vars or constants. */
  private def mulmod(a: String, b: String): String = {
    val A = s"CAST($a AS HUGEINT)"
    val B = s"CAST($b AS HUGEINT)"
    s"CAST((($A%$B32)*($B%$B32) + ((($A%$B32)*($B//$B32) + " +
      s"($A//$B32)*($B%$B32)) % $B32) * $B32) % $Mod AS UBIGINT)"
  }
  private def mulmod(a: String, b: BigInt): String = mulmod(a, b.toString)

  private def addmod(xs: String*): String = {
    val s = xs.map(x => s"CAST($x AS HUGEINT)").mkString(" + ")
    s"CAST(($s) % $Mod AS UBIGINT)"
  }

  /** rotl for a bound var x: shifted-out high bits land in the low
    * `r` bits the multiply left as zero, so `+` is a carry-free OR. */
  private def rotl(x: String, r: Int): String =
    s"CAST(((CAST($x AS HUGEINT) * ${BigInt(1) << r}) % $Mod + " +
      s"($x >> ${64 - r})) AS UBIGINT)"

  private def xor(a: String, b: String): String = s"xor($a, $b)"

  /** byte at 1-based offset p1 of hex string hx, as UBIGINT. */
  private def byteAt(hx: String, p1: String): String =
    s"('0x' || substring($hx, CAST(2*($p1)-1 AS BIGINT), 2))::UBIGINT"

  /** little-endian word of `nBytes` at 1-based byte offset p1 — a plain
    * sum: term j already sits in disjoint bit range [8j, 8j+8). */
  private def wordAt(hx: String, p1: String, nBytes: Int): String =
    "(" + (0 until nBytes).map { j =>
      val b = if (j == 0) byteAt(hx, p1) else byteAt(hx, s"($p1)+$j")
      if (j == 0) b else s"$b * ${BigInt(1) << (8 * j)}"
    }.mkString(" + ") + ")"

  /** XXH64 stripe round: rotl31(acc + w·P2) · P1. */
  private def round(acc: String, w: String): String =
    bind(addmod(acc, mulmod(w, P2)), "rnd")(t => mulmod(rotl(t, 31), P1))

  /** merge round: (h ^ round(0, a)) · P1 + P4. */
  private def mergeRound(h: String, a: String): String =
    bind(xor(h, round("CAST(0 AS UBIGINT)", a)), "mrg")(t =>
      addmod(mulmod(t, P1), P4.toString))

  /** final avalanche: h ^= h>>33; h·=P2; h ^= h>>29; h·=P3; h ^= h>>32. */
  private def avalanche(h: String): String = {
    val s1 = bind(xor(h, s"$h >> 33"), "av")(a => mulmod(a, P2))
    val s2 = bind(s1, "av")(b =>
      bind(xor(b, s"$b >> 29"), "av")(c => mulmod(c, P3)))
    bind(s2, "av")(d => xor(d, s"$d >> 32"))
  }

  /** The full XXH64(utf8-bytes, seed 42) of a string-typed SQL
    * expression, as an UBIGINT SQL expression. */
  def xxh64(tokenExpr: String): String =
    bind(s"hex(encode($tokenExpr))", "hx") { hx =>
      bind(s"CAST(length($hx)//2 AS BIGINT)", "n") { n =>
        // >=32 path: four independent lane-reduces over each lane's
        // stripe offsets (lane l of stripe s starts at byte 32s+8l+1)
        def lane(l: Int, init: BigInt): String = {
          val offs = s"list_transform(range(0, $n//32), s -> " +
            s"CAST(32*s + ${8 * l} + 1 AS BIGINT))"
          val words = s"list_transform($offs, o -> ${wordAt(hx, "o", 8)})"
          s"list_reduce(list_prepend(CAST($init AS UBIGINT), $words), " +
            s"(acc, w) -> ${round("acc", "w")})"
        }
        val big =
          bind(lane(0, (Seed + P1 + P2).mod(M64)), "ln") { a1 =>
          bind(lane(1, (Seed + P2).mod(M64)), "ln") { a2 =>
          bind(lane(2, Seed), "ln") { a3 =>
          bind(lane(3, (Seed - P1).mod(M64)), "ln") { a4 =>
          bind(addmod(rotl(a1, 1), rotl(a2, 7), rotl(a3, 12), rotl(a4, 18)),
              "hh") { h0 =>
            bind(mergeRound(h0, a1), "mh") { h1 =>
            bind(mergeRound(h1, a2), "mh") { h2 =>
            bind(mergeRound(h2, a3), "mh") { h3 =>
              mergeRound(h3, a4) } } } } } } } }
        val hStripes = s"CASE WHEN $n >= 32 THEN $big " +
          s"ELSE CAST(${(Seed + P5).mod(M64)} AS UBIGINT) END"
        bind(hStripes, "hs") { hs =>
          // tail after the consumed stripes: m = n%32 bytes from
          // 0-based offset 32*(n//32)
          val hLen = addmod(hs, n)
          val chunkOffs = s"list_transform(range(0, ($n%32)//8), j -> " +
            s"CAST(32*($n//32) + 8*j + 1 AS BIGINT))"
          def chunkStep(acc: String, o: String): String = {
            val w = bind(wordAt(hx, o, 8), "cw")(wv =>
              round("CAST(0 AS UBIGINT)", wv))
            bind(xor(acc, w), "ck")(t =>
              bind(rotl(t, 27), "ck")(u => addmod(mulmod(u, P1), P4.toString)))
          }
          val h8 = bind(hLen, "h8")(hl =>
            s"list_reduce(list_prepend($hl, $chunkOffs), " +
              s"(acc, o) -> ${chunkStep("acc", "o")})")
          val off4 = s"(32*($n//32) + 8*((($n)%32)//8) + 1)"
          val w32 = bind(wordAt(hx, off4, 4), "w4")(wv => mulmod(wv, P1))
          val h4 = bind(h8, "h4")(h =>
            s"CASE WHEN ($n)%8 >= 4 THEN " +
              bind(xor(h, w32), "f4")(t =>
                bind(rotl(t, 23), "f4")(u =>
                  addmod(mulmod(u, P2), P3.toString))) +
              s" ELSE $h END")
          val tailStart = s"(32*($n//32) + 8*((($n)%32)//8) + " +
            s"CASE WHEN ($n)%8 >= 4 THEN 4 ELSE 0 END)"
          val tailOffs =
            s"list_transform(range($tailStart, $n), p -> CAST(p + 1 AS BIGINT))"
          def byteStep(acc: String, p1: String): String = {
            val bb = bind(byteAt(hx, p1), "tb")(bv => mulmod(bv, P5))
            bind(xor(acc, bb), "tk")(t =>
              bind(rotl(t, 11), "tk")(u => mulmod(u, P1)))
          }
          val hb = bind(h4, "hb")(h =>
            s"list_reduce(list_prepend($h, $tailOffs), " +
              s"(acc, p) -> ${byteStep("acc", "p")})")
          bind(hb, "fin")(avalanche)
        }
      }
    }

  /** UBIGINT → the signed BIGINT Spark's `xxhash64` returns. */
  def toSigned(u: String): String =
    s"CAST(CASE WHEN CAST($u AS HUGEINT) >= 9223372036854775808 " +
      s"THEN CAST($u AS HUGEINT) - $Mod ELSE CAST($u AS HUGEINT) END AS BIGINT)"

  /** signed BIGINT → the UBIGINT bit pattern (for feeding a signed
    * Spark long back into unsigned XXH64 arithmetic). */
  def toUnsigned(s: String): String =
    s"CAST(CASE WHEN CAST($s AS HUGEINT) < 0 " +
      s"THEN CAST($s AS HUGEINT) + $Mod ELSE CAST($s AS HUGEINT) END AS UBIGINT)"

  /** XXH64 of one 8-byte long (Spark `XXH64.hashLong`): the fixed-width
    * special case — no loops, just the 8-byte tail step + avalanche.
    * `hVar` is an UBIGINT bit pattern; `seedExpr` any UBIGINT SQL expr
    * (referenced once — Spark chains multi-child `xxhash64` by feeding
    * each child's hash in as the next seed, so the seed must compose). */
  def xxh64Long(hVar: String, seedExpr: String): String = {
    val k1 = bind(mulmod(hVar, P2), "kl")(t => mulmod(rotl(t, 31), P1))
    val h1 = bind(xor(addmod(seedExpr, (P5 + 8).toString), k1), "hl")(t =>
      bind(rotl(t, 27), "hl")(u => addmod(mulmod(u, P1), P4.toString)))
    bind(h1, "hl")(avalanche)
  }

  /** A signed Spark long's UBIGINT bit pattern, as a literal value. */
  def unsigned(l: Long): BigInt = (BigInt(l) + M64).mod(M64)

  /** Band `b`'s key over its signed BIGINT `slots`: Spark's multi-child
    * `xxhash64(lit(b), slots…)` ([[Dedup.bandKey]]), which CHAINS — each
    * child's hash becomes the next child's seed, starting from
    * `hashInt(b, 42)` (a constant here). Returns an UBIGINT expression.
    */
  def bandKey(b: Int, slots: Seq[String]): String = {
    val init = unsigned(
      org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(b, 42L))
    slots.foldLeft(s"CAST($init AS UBIGINT)") { (seedE, slot) =>
      xxh64Long(toUnsigned(slot), seedE)
    }
  }

  // ---- Murmur3_x86_32, Spark's variant (`Murmur3_x86_32.hashUnsafeBytes`:
  // 4-byte LE words, then each remaining TAIL byte mixed individually as a
  // SIGNED int — not the standard murmur3 tail). Feeds the CountMinSketch
  // oracle: Spark's CMS buckets strings with the Guava double-hash trick,
  // h1 = murmur(b, 0), h2 = murmur(b, h1), bucket_i = (h1 + i*h2)
  // bit-flipped-if-negative mod width. 32-bit lane: products of two
  // sub-2^32 values fit HUGEINT directly, no limb split needed.

  private val MC1 = BigInt("3432918353") // 0xcc9e2d51
  private val MC2 = BigInt("461845907")  // 0x1b873593
  private val B32Mod = "4294967296"

  private def mul32(a: String, c: BigInt): String =
    s"CAST((CAST($a AS HUGEINT) * $c) % $B32Mod AS UBIGINT)"

  private def rotl32(x: String, r: Int): String =
    s"CAST(((CAST($x AS HUGEINT) * ${BigInt(1) << r}) % $B32Mod + " +
      s"($x >> ${32 - r})) AS UBIGINT)"

  /** murmur3 k-mix for a cheap var: rotl15(k·C1)·C2. */
  private def mixK1(k: String): String =
    bind(mul32(k, MC1), "mk")(t => mul32(rotl32(t, 15), MC2))

  /** murmur3 h-mix for cheap vars: rotl13(h^k)·5 + 0xe6546b64. */
  private def mixH1(h: String, k: String): String =
    bind(xor(h, k), "mh1")(t =>
      bind(rotl32(t, 13), "mh1")(u =>
        s"CAST((CAST($u AS HUGEINT) * 5 + 3864292196) % $B32Mod AS UBIGINT)"))

  /** Spark's Murmur3_x86_32.hashUnsafeBytes over the UTF-8 bytes of a
    * string expression, as an UNSIGNED 32-bit UBIGINT. `seedExpr` is any
    * UBIGINT expr < 2^32 (referenced once). */
  def murmur32(tokenExpr: String, seedExpr: String): String =
    bind(s"hex(encode($tokenExpr))", "mx") { hx =>
      bind(s"CAST(length($hx)//2 AS BIGINT)", "mn") { n =>
        val words = s"list_transform(range(0, $n//4), wq -> " +
          s"${wordAt(hx, "4*wq + 1", 4)})"
        val hWords =
          s"list_reduce(list_prepend($seedExpr, $words), " +
            s"(acc, w) -> ${bind(mixK1("w"), "kw")(kk => mixH1("acc", kk))})"
        // tail bytes enter SIGNED, masked to 32 bits: b >= 128 becomes
        // 2^32 - 256 + b (Java sign extension of a negative byte)
        val tailVals = s"list_transform(range(4*($n//4), $n), tq -> " +
          bind(byteAt(hx, "tq + 1"), "tb")(bv =>
            s"CASE WHEN $bv >= 128 THEN $bv + 4294967040 ELSE $bv END") + ")"
        val hTail = bind(hWords, "mw")(hw =>
          s"list_reduce(list_prepend($hw, $tailVals), " +
            s"(acc, b) -> ${bind(mixK1("b"), "kb")(kk => mixH1("acc", kk))})")
        // fmix(h, len)
        bind(hTail, "mf") { h0 =>
          bind(xor(h0, s"CAST($n AS UBIGINT)"), "mf") { a =>
          bind(xor(a, s"$a >> 16"), "mf") { b =>
          bind(mul32(b, BigInt("2246822507")), "mf") { c =>  // 0x85ebca6b
          bind(xor(c, s"$c >> 13"), "mf") { d =>
          bind(mul32(d, BigInt("3266489909")), "mf") { e =>  // 0xc2b2ae35
            xor(e, s"$e >> 16") } } } } }
        }
      }
    }
}
