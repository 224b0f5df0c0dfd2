package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared column-level text/vector primitives for the training-data
  * pipeline operators (dedup, similarity, text analysis).
  *
  * Everything here is built from built-in functions and higher-order
  * array functions — zero UDFs, so Catalyst can still push, prune and
  * fold around these expressions. Higher-order functions (`transform`,
  * `aggregate`, `zip_with`) do NOT enter whole-stage codegen: Spark
  * evaluates their lambdas interpreted, row by row. So the folds a hot
  * path runs per token or per element have native twins in
  * [[VectorExprs]], pinned bit-identical to the forms here in
  * VectorExprsSpec:
  *  - REFERENCE forms (the definitions the native kernels and the DuckDB
  *    oracle strings must match; no signature or vector pass runs them —
  *    only TrainPrep's count-min buckets (qn28) call [[polyHash]], once per
  *    distinct term):
  *    [[polyHash]], [[tokenHash]], [[tokenHash60]] (native:
  *    `tokenHashesNative` / `tokenHashes60Native`, [[TokenHashes]]),
  *    [[simhash]] (native: `simhashNative`, [[SimHash]]), [[minhashSig]]
  *    (native: `minhashSigNative`, [[MinHashSig]]), [[dot]] and
  *    [[l2norm]] (native: `dotNative` / `l2normNative`, [[DotProductFF]]),
  *    and the [[seqSum]] / [[seqSumLong]] folds they are built from;
  *  - HOT-PATH forms, run as written (built-ins only, codegen'd):
  *    [[tokens]], [[tokenSet]], [[lshBands]], [[cosine]], [[e6]].
  *
  * Cross-engine determinism contract: each primitive has an exact DuckDB
  * SQL equivalent (see the oracle strings in the operator modules). Folds
  * over arrays are sequential left-to-right in BOTH engines
  * (`aggregate` here, `list_reduce` there), so double summation order —
  * and therefore the last bit of every float result — is identical.
  */
object TextFns {

  /** Large primes for polynomial string hashing. */
  val P1 = 1000000007L
  val P2 = 998244353L
  /** MinHash permutation modulus (2^31 - 1, Mersenne prime). */
  val MHP = 2147483647L

  /** Whitespace tokenization of trimmed text. DuckDB:
    * `string_split_regex(trim(text), '\s+')`. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Canonical token set: distinct tokens in lexicographic order.
    * DuckDB: `list_sort(list_distinct(...))` (list_sort is ascending,
    * matching array_sort's default). */
  def tokenSet(c: Column): Column = array_sort(array_distinct(tokens(c)))

  /** Deterministic polynomial hash of a token: fold over its character
    * codes, `h = (h*mult + code) mod prime`, seeded with 7. Matches
    * DuckDB `list_reduce(list_prepend(7, [unicode(ch) for ch in
    * split(t,'')]), (acc,x) -> (acc*mult + x) % prime)`.
    *
    * `ascii` of a one-character string is its code point, supplementary
    * characters included (pinned in VectorExprsSpec against the native
    * [[TokenHashes]]).
    */
  def polyHash(tok: Column, mult: Long, prime: Long): Column =
    aggregate(split(tok, ""), lit(7L), (acc, ch) => (acc * mult + ascii(ch)) % prime)

  /** Default token hash: mult 31 mod P1 — the h(t) every dedup operator
    * keys on. */
  def tokenHash(tok: Column): Column = polyHash(tok, 31L, P1)

  /** 60-bit token hash for SimHash: two independent polynomial hashes
    * packed as `h1 | (h2 << 30)` (each < 2^30). */
  def tokenHash60(tok: Column): Column =
    (polyHash(tok, 31L, P1) % (1L << 30))
      .bitwiseOR(shiftleft(polyHash(tok, 131L, P2) % (1L << 30), 30))

  /** Sequential left-fold sum of a double array — NOT `array_sum`
    * (engine-specific pairwise/compensated order). DuckDB:
    * `list_reduce(list_prepend(0.0, xs), (acc,x) -> acc+x)`. */
  def seqSum(xs: Column): Column =
    aggregate(xs, lit(0.0), (acc, x) => acc + x)

  /** Dot product of two float vectors in double precision, sequential
    * accumulation. */
  def dot(a: Column, b: Column): Column =
    seqSum(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))

  /** L2 norm in double precision, sequential accumulation. */
  def l2norm(a: Column): Column =
    sqrt(seqSum(transform(a, x => x.cast("double") * x.cast("double"))))

  /** Cosine similarity given precomputed norms. */
  def cosine(dotAb: Column, normA: Column, normB: Column): Column =
    dotAb / (normA * normB)

  /** Floor-scale a double to micro-units as BIGINT: the only float →
    * comparable-integer step both engines perform bit-identically
    * (`CAST(floor(x * 1e6) AS BIGINT)`). Used wherever a float score is
    * part of an oracle-compared result or an ordering key. */
  def e6(c: Column): Column = floor(c * lit(1000000L)).cast("long")

  /** MinHash permutation constants, drawn per plane through a splitmix64
    * finalizer — each plane's affine map `a_i*h + b_i mod MHP` must be
    * INDEPENDENT of the others, not just "scrambling".
    *
    * The first cut used `a_i = (i+1)*c1 % MHP, b_i = (i+1)*c2 % MHP` —
    * which makes plane i's map exactly `(i+1) x (plane-0 map) mod MHP`, a
    * SCALAR MULTIPLE of one permutation. If a token's plane-0 value v is
    * small, `2v, 3v, 4v` don't wrap, so the SAME token stays argmin for
    * planes 1..3 and band 0 (planes 0-3) agrees between two docs with
    * probability ~J instead of J^4 — the banding loses its AND-amplifier
    * on exactly the low bands. Invisible on the all-similar sf0.1 corpus
    * (extra candidates were true pairs anyway) and to the value oracle
    * (DuckDB replays the same constants); exposed by the round-12
    * realistic-corpus battery, where a 250k-doc mostly-dissimilar corpus
    * produced 1.8M band collisions against a few-thousand theoretical
    * floor, every giant bucket keyed by an arithmetic progression
    * `(v, 2v, 3v, 4v)`. splitmix64's finalizer has no such linear
    * structure across i; `a_i` is forced nonzero so no plane collapses.
    */
  private[graft] def mix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def mhA(i: Int): Long = Math.floorMod(mix64(2L * i), MHP - 1) + 1
  def mhB(i: Int): Long = Math.floorMod(mix64(2L * i + 1), MHP)

  /** MinHash signature: for permutation i in [0, n), min over the token
    * hash array of `(a_i*h + b_i) mod (2^31-1)`. Returns array<long> of
    * length n. */
  def minhashSig(tokenHashes: Column, n: Int): Column =
    array((0 until n).map { i =>
      array_min(transform(tokenHashes,
        h => (lit(mhA(i)) * h + lit(mhB(i))) % MHP))
    }: _*)

  /** LSH band keys from a minhash signature: `nBands` strings, each the
    * '-'-joined slice of `rowsPerBand` signature values, prefixed with
    * the band index so keys from different bands never collide. */
  def lshBands(sig: Column, nBands: Int, rowsPerBand: Int): Column =
    array((0 until nBands).map { b =>
      concat_ws("-", (lit(b) +: (0 until rowsPerBand).map(r =>
        sig.getItem(b * rowsPerBand + r))): _*)
    }: _*)

  /** SimHash of a token-hash array: 60-bit signature where bit k is set
    * iff strictly more tokens have bit k set than clear. Bit-majority is
    * computed per bit via a sequential fold counting set bits. */
  def simhash(tokenHashes60: Column, bits: Int = 60): Column = {
    // For bit k: count tokens with bit set; set result bit iff
    // 2*count > n_tokens (strict majority; ties -> 0).
    val n = size(tokenHashes60)
    (0 until bits).map { k =>
      val cnt = seqSumLong(transform(tokenHashes60,
        h => shiftright(h, k).bitwiseAND(lit(1L))))
      when(cnt * 2 > n, lit(1L) * lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Sequential left-fold sum of a long array. */
  def seqSumLong(xs: Column): Column =
    aggregate(xs, lit(0L), (acc, x) => acc + x)

  // ---- Matching DuckDB SQL fragments (single source of truth for the
  // ---- oracle strings; interpolated into operator oracle SQL) --------

  /** DuckDB: tokens of `col`. */
  def sqlTokens(col: String): String =
    s"string_split_regex(trim($col), '\\s+')"

  /** DuckDB: canonical token set of `col`. */
  def sqlTokenSet(col: String): String =
    s"list_sort(list_distinct(${sqlTokens(col)}))"

  /** DuckDB: polynomial hash of token expression `t`. */
  def sqlPolyHash(t: String, mult: Long, prime: Long): String =
    s"list_reduce(list_prepend(CAST(7 AS BIGINT), " +
      s"[CAST(unicode(ch) AS BIGINT) for ch in split($t, '')]), " +
      s"(acc, x) -> (acc * $mult + x) % $prime)"

  def sqlTokenHash(t: String): String = sqlPolyHash(t, 31L, P1)

  def sqlTokenHash60(t: String): String =
    s"((${sqlPolyHash(t, 31L, P1)}) % ${1L << 30}) | " +
      s"(((${sqlPolyHash(t, 131L, P2)}) % ${1L << 30}) << 30)"

  /** DuckDB: sequential double fold sum over list expression `xs`. */
  def sqlSeqSum(xs: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $xs), (acc, x) -> acc + x)"

  /** DuckDB: dot product of float list columns `a`,`b` in double. */
  def sqlDot(a: String, b: String): String =
    sqlSeqSum(s"list_transform(list_zip($a, $b), " +
      "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))")

  /** DuckDB: L2 norm of float list column `a` in double. */
  def sqlL2norm(a: String): String =
    s"sqrt(${sqlSeqSum(s"list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")})"

  def sqlE6(x: String): String = s"CAST(floor(($x) * 1000000) AS BIGINT)"

  /** DuckDB: minhash signature list of length n over token-hash list
    * expression `hs`. The per-plane constants are EMBEDDED as literals
    * from [[mhA]]/[[mhB]] — one definition, two engines — so the
    * splitmix64 draw cannot drift between the Spark plan and the oracle
    * (the old form re-derived the constants in SQL arithmetic, which
    * works only for formulas DuckDB can replay). */
  def sqlMinhashSig(hs: String, n: Int): String =
    (0 until n).map(i =>
      s"list_min([ (${mhA(i)} * h + ${mhB(i)}) % $MHP for h in $hs ])")
      .mkString("[ ", ", ", " ]")

  /** DuckDB: 60-bit simhash over token-hash-60 list expression `hs` —
    * sum of per-bit majority terms with literal bit indices. */
  def sqlSimhash(hs: String, bits: Int = 60): String =
    (0 until bits).map { k =>
      val cnt = s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform($hs, h -> (h >> $k) & 1)), (acc, x) -> acc + x)"
      s"(CASE WHEN 2 * ($cnt) > len($hs) THEN CAST(${1L << k} AS BIGINT) ELSE 0 END)"
    }.mkString("(", " + ", ")")
}
