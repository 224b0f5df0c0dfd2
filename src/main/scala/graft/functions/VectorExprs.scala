package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionDescription, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native codegen'd dot product over two `array<float>` columns.
  *
  * Why a custom Catalyst Expression (SURVEY.md §2.L): the declarative
  * form `aggregate(zip_with(a, b, _*_), 0.0, _+_)` is semantically right
  * but allocates an intermediate array per row and evaluates the lambdas
  * through interpreted `HigherOrderFunction` paths — at 12.5M row pairs
  * (qn08) that dominates the query. This expression generates a tight
  * primitive loop inside whole-stage codegen instead: no allocation, no
  * virtual calls, same result bit-for-bit.
  *
  * Semantics match the HOF form exactly (and therefore the DuckDB oracle
  * `list_reduce(list_prepend(0.0, list_transform(list_zip(a,b), ...)))`):
  * sequential left-to-right accumulation in double precision, null if
  * either array is null, any element is null, or lengths differ (zip_with
  * pads the shorter side with null, which nulls the fold).
  */
@ExpressionDescription(
  usage = "dot_ff(a, b) - sequential-fold double dot product of two float arrays.")
case class DotProductFF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_ff requires array<float> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val l = left.eval(input)
    if (l == null) return null
    val r = right.eval(input)
    if (r == null) return null
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductFF =
    copy(left = newLeft, right = newRight)
}

/** Native codegen'd MinHash signature over an `array<long>` of token
  * hashes — the single hottest expression in the engine (qn04, the
  * streaming band index, every ingest micro-batch).
  *
  * Why a custom Expression (the [[DotProductFF]] rationale, amplified):
  * the declarative form is `nPlanes` separate
  * `array_min(transform(hs, h => (a_i*h + b_i) % p))` columns — 64
  * traversals of the hash array per document, each allocating an
  * intermediate array and running its lambda through the HOF paths.
  * This expression makes ONE pass: for each element, all plane minima
  * update in a local long[] — no allocation per plane, no virtual
  * calls, and the loop body is plain long arithmetic inside whole-stage
  * codegen.
  *
  * Semantics match the HOF stack exactly (and therefore the DuckDB
  * oracle literals from [[TextFns.sqlMinhashSig]]):
  *  - a NULL input array yields the ALL-NULL-PLANES signature, never a
  *    null array — the HOF form is `array(array_min(transform(hs, ..)),
  *    ...)` and `array(...)` of 64 nulls is an array, not null;
  *  - per plane, min over NON-NULL permuted values (`array_min` skips
  *    nulls), so a null hash element is skipped, and an array with no
  *    non-null elements yields a NULL at every plane (empty array ->
  *    array of nulls, the HOF's shape);
  *  - arithmetic is `(a_i * h + b_i) % p` in Java long math — a_i < p
  *    < 2^31 and h < 2^31 keep the product under 2^62, exactly the
  *    non-overflowing range the Column form evaluates in.
  * The plane constants are baked from [[TextFns.mhA]]/[[TextFns.mhB]]
  * at plan time — one draw, three consumers (HOF, native, oracle).
  */
@ExpressionDescription(
  usage = "minhash_sig(hs, n) - n-plane MinHash signature of a long-hash array.")
case class MinHashSig(child: Expression, nPlanes: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = true)
  override def nullable: Boolean = false // null/empty inputs -> all-null planes

  private val as: Array[Long] = Array.tabulate(nPlanes)(TextFns.mhA)
  private val bs: Array[Long] = Array.tabulate(nPlanes)(TextFns.mhB)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig requires array<bigint>, got $other")
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Any](nPlanes)) // array(64 x array_min(transform(NULL,..))) = all nulls
    val hs = v.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val mins = new Array[Long](nPlanes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    var j = 0
    while (j < n) {
      if (!hs.isNullAt(j)) {
        any = true
        val h = hs.getLong(j)
        var i = 0
        while (i < nPlanes) {
          val vv = (as(i) * h + bs(i)) % TextFns.MHP
          if (vv < mins(i)) mins(i) = vv
          i += 1
        }
      }
      j += 1
    }
    if (!any) new org.apache.spark.sql.catalyst.util.GenericArrayData(
      new Array[Any](nPlanes)) // all-null planes: the HOF's empty-array shape
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mhAs", as, "long[]")
    val bRef = ctx.addReferenceObj("mhBs", bs, "long[]")
    val childGen = child.genCode(ctx)
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val mins = ctx.freshName("mins")
    val any = ctx.freshName("any")
    val h = ctx.freshName("h")
    val v = ctx.freshName("v")
    val code =
      code"""
         |${childGen.code}
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value};
         |if (${childGen.isNull}) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new Object[$nPlanes]);
         |} else {
         |  final int $n = ${childGen.value}.numElements();
         |  final long[] $mins = new long[$nPlanes];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  boolean $any = false;
         |  for (int $j = 0; $j < $n; $j++) {
         |    if (!${childGen.value}.isNullAt($j)) {
         |      $any = true;
         |      final long $h = ${childGen.value}.getLong($j);
         |      for (int $i = 0; $i < $nPlanes; $i++) {
         |        final long $v = ($aRef[$i] * $h + $bRef[$i]) % ${TextFns.MHP}L;
         |        if ($v < $mins[$i]) $mins[$i] = $v;
         |      }
         |    }
         |  }
         |  ${ev.value} = $any
         |    ? new org.apache.spark.sql.catalyst.util.GenericArrayData($mins)
         |    : new org.apache.spark.sql.catalyst.util.GenericArrayData(new Object[$nPlanes]);
         |}
       """.stripMargin
    ev.copy(code = code,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Native token hashes over an `array<string>` of tokens: every token
  * mapped through [[TextFns.tokenHash]] (`wide = false`) or
  * [[TextFns.tokenHash60]] (`wide = true`), the arrays that feed every
  * MinHash and SimHash signature.
  *
  * Why a custom Expression: [[TextFns.polyHash]] is an `aggregate` over
  * `split(tok, "")`, so per token the HOF form allocates one string per
  * character, converts each back to a Java String for `ascii`, and folds
  * through the interpreted lambda path (higher-order functions never
  * enter whole-stage codegen). This expression reads each token's UTF-8
  * bytes once, with exactly [[TextFns.polyHash]]'s fold: seed 7, then
  * `h = (h*mult + codepoint) % prime` per character, 31/P1 and, for the
  * wide form, 131/P2 in the same pass, packed as
  * `h1 % 2^30 | (h2 % 2^30) << 30`.
  *
  * Semantics copy the HOF form as it evaluates (pinned in
  * VectorExprsSpec), not as it reads:
  *  - the empty token folds ONE `0` — `split("", "")` is `[""]` and
  *    `ascii("")` is 0;
  *  - a character is what `split(tok, "")` cuts, `numBytesForFirstByte`
  *    bytes from its lead byte, and its code is what `ascii` reads from
  *    it: the code point of a well-formed sequence, and for a malformed
  *    one the first code point of Java's decoding (U+FFFD);
  *  - a null token yields a null element, a null array a null array.
  */
@ExpressionDescription(
  usage = "token_hashes(toks, wide) - polynomial hash of every token of a string array.")
case class TokenHashes(child: Expression, wide: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType,
    containsNull = child.dataType.asInstanceOf[ArrayType].containsNull)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"token_hashes requires array<string>, got $other")
    }

  override protected def nullSafeEval(toks: Any): Any =
    TokenHashes.hashes(toks.asInstanceOf[ArrayData], wide)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, toks => s"graft.functions.TokenHashes.hashes($toks, $wide)")

  override protected def withNewChildInternal(newChild: Expression): TokenHashes =
    copy(child = newChild)
}

object TokenHashes {
  import org.apache.spark.unsafe.types.UTF8String

  /** The hash of every token of `toks`; a null token hashes to null. */
  def hashes(toks: ArrayData, wide: Boolean): ArrayData = {
    val n = toks.numElements()
    val out = new Array[Long](n)
    var anyNull = false
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) anyNull = true
      else out(i) = hash(toks.getUTF8String(i), wide)
      i += 1
    }
    if (!anyNull) org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.tabulate[Any](n)(j => if (toks.isNullAt(j)) null else out(j)))
  }

  private def hash(tok: UTF8String, wide: Boolean): Long = {
    val n = tok.numBytes()
    var h1 = 7L
    var h2 = 7L
    if (n == 0) { // split("", "") is [""], and ascii("") is 0
      h1 = 7L * 31 % TextFns.P1
      h2 = 7L * 131 % TextFns.P2
    }
    var i = 0
    while (i < n) {
      val len = UTF8String.numBytesForFirstByte(tok.getByte(i))
      val cp = codePoint(tok, i, len)
      h1 = (h1 * 31 + cp) % TextFns.P1
      if (wide) h2 = (h2 * 131 + cp) % TextFns.P2
      i += len
    }
    if (wide) (h1 % (1L << 30)) | ((h2 % (1L << 30)) << 30) else h1
  }

  /** `ascii` of the `len`-byte character `split(tok, "")` cuts at byte
    * `i`: Java's first code point of those bytes, as `ascii` reads it,
    * so a malformed sequence decodes as `ascii` decodes it. One cut
    * short by the end of the token decodes from the bytes that remain;
    * there `ascii` itself would read `len` bytes, past the token's end. */
  private def codePoint(tok: UTF8String, i: Int, len: Int): Int = {
    val b0 = tok.getByte(i) & 0xFF
    if (b0 < 0x80) b0
    else {
      val bytes = Array.tabulate[Byte](math.min(len, tok.numBytes() - i))(k => tok.getByte(i + k))
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8).codePointAt(0)
    }
  }
}

/** Native SimHash over an `array<bigint>` of 60-bit token hashes — the
  * [[TextFns.simhash]] HOF stack (60 `aggregate(transform(hs, ...))`
  * bit counts, each a separate interpreted traversal) as ONE pass with
  * a `long[60]` bit counter. Bit k is set iff `2 * count_k > size(hs)`
  * (strict majority; ties clear).
  *
  * Semantics copy the HOF form as it evaluates (pinned in
  * VectorExprsSpec): a null hash element nulls every bit count, and the
  * HOF's `when(null > n, ...)` falls to 0 — so an array holding a null,
  * and a null array, yield 0, never null; an empty array yields 0.
  */
@ExpressionDescription(
  usage = "simhash60(hs) - 60-bit majority SimHash of a long-hash array.")
case class SimHash(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false // null inputs -> 0, the HOF's when(null) fall-through

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash60 requires array<bigint>, got $other")
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L else SimHash.of(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code =
      code"""
         |${c.code}
         |final long ${ev.value} = ${c.isNull} ? 0L : graft.functions.SimHash.of(${c.value});
       """.stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash =
    copy(child = newChild)
}

object SimHash {
  private val Bits = 60

  def of(hs: ArrayData): Long = {
    val n = hs.numElements()
    val counts = new Array[Long](Bits)
    var j = 0
    while (j < n) {
      if (hs.isNullAt(j)) return 0L
      val h = hs.getLong(j)
      var k = 0
      while (k < Bits) {
        counts(k) += (h >> k) & 1L
        k += 1
      }
      j += 1
    }
    var sig = 0L
    var k = 0
    while (k < Bits) {
      if (2 * counts(k) > n) sig |= 1L << k
      k += 1
    }
    sig
  }
}

/** Native integer squared L2 distance over two `array<long>` columns
  * — the SQ8 rank loop ([[graft.operators.SQ8]]/qn38's `qd2`), taken
  * out of HOF land. The declarative form
  * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0L, _+_)`
  * allocates an intermediate 64-element array PER CANDIDATE PAIR
  * (zip_with materializes) and folds it through generic array
  * machinery; at the ladder battery's 1M x 10-probe rank stage that
  * allocation is the probe wall. This expression is the
  * [[DotProductFF]] shape over longs: one fused loop, no intermediate
  * array, identical left-to-right long arithmetic — results are
  * BIT-IDENTICAL to the HOF form (including NULL on width mismatch or
  * NULL element, zip_with's padding semantics — pinned in
  * VectorExprsSpec) so the unchanged qn38/qn38b oracles ride it.
  */
case class IntSqDistLL(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "int_sqdist"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"int_sqdist requires array<bigint> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val l = left.eval(input)
    if (l == null) return null
    val r = right.eval(input)
    if (r == null) return null
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getLong(i) - b.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final long $d = $a.getLong($i) - $b.getLong($i);
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntSqDistLL =
    copy(left = newLeft, right = newRight)
}

/** Lossless byte-space LOWER BOUND on the exact e6² squared-L2
  * distance — the RANGE-search prescreen ([[graft.operators.SQ8]]
  * `rangeSq8IndexWith`).
  *
  * For floor-quantized codes q = (x6 − mn)·255 div sp (both sides
  * clamped to [0,255] — saturated dims contribute a SMALLER |Δq|, which
  * only loosens the bound), each dim's true e6 gap satisfies
  * |a6 − b6| ≥ (|Δq| − 1)·sp/255, so
  *
  *   Σ_i ((max(0, |Δq_i| − 1) · sp_i) div 255)²  ≤  Σ_i (a6_i − b6_i)²
  *
  * (flooring BEFORE the square keeps it an underestimate and bounds the
  * per-dim term by sp² ≈ 1.6e13 — no overflow at any realistic width,
  * where the unfloored 255²-scaled form would overflow a long at 64
  * dims). A candidate with bound > T² therefore provably lies outside
  * the radius and is excluded WITHOUT reading its float row — the same
  * compressed-tier IO discipline as the knn shortlist, but with a
  * proof instead of a heuristic, so range results are EXACT.
  *
  * [[IntSqDistLL]] loop shape: one fused pass, no intermediate array,
  * NULL on width mismatch or NULL element.
  */
@ExpressionDescription(
  usage = "int_sqlb(codes, probe_codes, spans) - lower bound on the e6 squared-L2 distance from byte codes.")
case class IntSqLowerBoundLL(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def prettyName: String = "int_sqlb"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = children.forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"int_sqlb requires array<bigint> inputs, got " +
        s"${first.dataType} / ${second.dataType} / ${third.dataType}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val f = first.eval(input)
    if (f == null) return null
    val g = second.eval(input)
    if (g == null) return null
    val h = third.eval(input)
    if (h == null) return null
    val a = f.asInstanceOf[ArrayData]
    val b = g.asInstanceOf[ArrayData]
    val sp = h.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements() || n != sp.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i) || sp.isNullAt(i)) return null
      var d = a.getLong(i) - b.getLong(i)
      if (d < 0) d = -d
      d -= 1
      if (d > 0) {
        val t = d * sp.getLong(i) / 255L
        acc += t * t
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b, sp) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val t = ctx.freshName("t")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements() || $n != $sp.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i) || $sp.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    long $d = $a.getLong($i) - $b.getLong($i);
         |    if ($d < 0) $d = -$d;
         |    $d -= 1L;
         |    if ($d > 0) {
         |      final long $t = $d * $sp.getLong($i) / 255L;
         |      $acc += $t * $t;
         |    }
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): IntSqLowerBoundLL =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Native Hamming distance over two `array<long>` signature columns —
  * the multi-word binary rank loop ([[graft.operators.BinarySig]] past
  * 64 dims, where the signature is ceil(D/64) longs). The [[IntSqDistLL]]
  * shape with xor + Long.bitCount per word: one fused loop, no
  * intermediate array (the HOF form `aggregate(zip_with(...))` would
  * re-create the SQ8 probe wall the native loop retired), NULL on width
  * mismatch or NULL element — zip_with-parity semantics so a DuckDB
  * oracle replaying per-word `bit_count(xor(...))` sums matches
  * bit-for-bit.
  */
case class HammingLL(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "hamming_ll"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"hamming_ll requires array<bigint> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val l = left.eval(input)
    if (l == null) return null
    val r = right.eval(input)
    if (r == null) return null
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i));
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingLL =
    copy(left = newLeft, right = newRight)
}

/** Dense matrix-vector product with a PLAN-TIME literal matrix — the
  * learned-OPQ rotation apply ([[graft.operators.PQ]] round-16: the
  * Procrustes-solved R is a dense D x D orthogonal matrix, so a
  * permutation `transform` can't express it and a HOF matmul would
  * allocate per row). `mat` is row-major D x D; input is the raw
  * `array<float>` embedding; output is `array<double>` (the rotation
  * is followed by the e6 floor, which fixes the comparable integer
  * space — doubles here, exactly like the dot-product fold). One fused
  * loop, codegen'd, O(D^2) multiply-adds per row. NULL input → NULL;
  * width mismatch or NULL element fails LOUDLY (a silently zero-padded
  * rotation would corrupt every downstream code). */
case class MatVecFD(child: Expression, mat: Array[Double], dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(mat.length == dim * dim, "matvec: matrix is not dim x dim")

  override def prettyName: String = "matvec_fd"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"matvec_fd requires array<float>, got $other")
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val e = child.eval(input)
    if (e == null) return null
    val a = e.asInstanceOf[ArrayData]
    if (a.numElements() != dim)
      throw new IllegalArgumentException(
        s"matvec_fd: embedding width ${a.numElements()} != matrix dim $dim")
    val out = new Array[Double](dim)
    var r = 0
    while (r < dim) {
      var acc = 0.0
      val base = r * dim
      var d = 0
      while (d < dim) {
        if (a.isNullAt(d))
          throw new IllegalArgumentException(
            "matvec_fd: NULL embedding element — clean the corpus before rotating")
        acc += mat(base + d) * a.getFloat(d).toDouble
        d += 1
      }
      out(r) = acc
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val matRef = ctx.addReferenceObj("matvecMat", mat, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("r")
      val d = ctx.freshName("d")
      val acc = ctx.freshName("acc")
      val base = ctx.freshName("base")
      val out = ctx.freshName("out")
      s"""
         |if ($a.numElements() != $dim) {
         |  throw new IllegalArgumentException(
         |    "matvec_fd: embedding width " + $a.numElements() + " != matrix dim $dim");
         |}
         |final double[] $out = new double[$dim];
         |for (int $r = 0; $r < $dim; $r++) {
         |  double $acc = 0.0;
         |  final int $base = $r * $dim;
         |  for (int $d = 0; $d < $dim; $d++) {
         |    if ($a.isNullAt($d)) {
         |      throw new IllegalArgumentException(
         |        "matvec_fd: NULL embedding element — clean the corpus before rotating");
         |    }
         |    $acc += $matRef[$base + $d] * (double) $a.getFloat($d);
         |  }
         |  $out[$r] = $acc;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MatVecFD =
    copy(child = newChild)

  // Content equality for the matrix payload (round-16 ADVICE): the
  // case-class default compares Array[Double] by reference, so two
  // plans carrying identical rotations never canonicalize equal and
  // plan-level reuse/CSE is missed. Results were never affected.
  override def equals(other: Any): Boolean = other match {
    case m: MatVecFD =>
      m.dim == dim && m.child == child && java.util.Arrays.equals(m.mat, mat)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(prettyName, child,
      Integer.valueOf(dim), Integer.valueOf(java.util.Arrays.hashCode(mat)))
}

object VectorExprs {
  /** Column wrapper for [[MatVecFD]]. */
  def matVecNative(emb: Column, mat: Array[Double], dim: Int): Column =
    GraftSqlBridge.column(MatVecFD(GraftSqlBridge.expression(emb), mat, dim))

  /** Column wrapper for [[IntSqDistLL]]. */
  def intSqDistNative(a: Column, b: Column): Column =
    GraftSqlBridge.column(IntSqDistLL(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Column wrapper for [[IntSqLowerBoundLL]]. */
  def intSqLowerBoundNative(codes: Column, probeCodes: Column,
      spans: Column): Column =
    GraftSqlBridge.column(IntSqLowerBoundLL(
      GraftSqlBridge.expression(codes), GraftSqlBridge.expression(probeCodes),
      GraftSqlBridge.expression(spans)))

  /** Column wrapper for [[DotProductFF]]. */
  def dotNative(a: Column, b: Column): Column =
    GraftSqlBridge.column(DotProductFF(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** L2 norm via the native dot: identical fold order to
    * [[TextFns.l2norm]] (x_i * x_i accumulated left to right). */
  def l2normNative(a: Column): Column =
    org.apache.spark.sql.functions.sqrt(dotNative(a, a))

  /** Column wrapper for [[MinHashSig]] — drop-in for
    * [[TextFns.minhashSig]] (equality pinned in VectorExprsSpec). */
  def minhashSigNative(hs: Column, nPlanes: Int): Column =
    GraftSqlBridge.column(MinHashSig(GraftSqlBridge.expression(hs), nPlanes))

  /** Column wrapper for [[TokenHashes]] — drop-in for [[TextFns.tokenHash]]
    * mapped over `toks` (equality pinned in VectorExprsSpec). */
  def tokenHashesNative(toks: Column): Column =
    GraftSqlBridge.column(TokenHashes(GraftSqlBridge.expression(toks), wide = false))

  /** Column wrapper for [[TokenHashes]] — drop-in for
    * [[TextFns.tokenHash60]] mapped over `toks`. */
  def tokenHashes60Native(toks: Column): Column =
    GraftSqlBridge.column(TokenHashes(GraftSqlBridge.expression(toks), wide = true))

  /** Column wrapper for [[SimHash]] — drop-in for [[TextFns.simhash]]. */
  def simhashNative(hs: Column): Column =
    GraftSqlBridge.column(SimHash(GraftSqlBridge.expression(hs)))

  /** Column wrapper for [[HammingLL]]. */
  def hammingNative(a: Column, b: Column): Column =
    GraftSqlBridge.column(HammingLL(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
