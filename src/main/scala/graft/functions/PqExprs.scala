package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native codegen'd product-quantization encode: the per-subspace
  * argmin of integer squared-euclidean against a PLAN-TIME codebook,
  * with partial-distance early exit.
  *
  * Why a custom Expression (the [[DotProductFF]] rationale, applied to
  * the PQ build wall): the declarative argmin — explode M subspace
  * rows, broadcast-join K codewords, rn=1 window — materializes the
  * N x M x K candidate stream through d2 evaluations and a shuffle of
  * the pre-reduced rows. At production sizing (M=16, K=256) that is
  * 4096 full d2 evaluations per vector, and the round-16 battery
  * measured the byte-code build encode-saturated at 270 s / 1M
  * vectors. This expression evaluates the whole argmin for ALL M
  * subspaces in one codegen'd pass per vector — no join, no explode,
  * no shuffle — and prunes each candidate's distance loop the moment
  * its PARTIAL sum reaches the current best (Jegou et al. TPAMI 2011's
  * standard encode pruning): a candidate that loses early costs a few
  * dims, not subDim.
  *
  * Semantics are BIT-EXACT with the join+window form (and therefore
  * the DuckDB oracle's `ROW_NUMBER() OVER (ORDER BY d2, code)`):
  * integer d2 over e6 longs, ties to the LOWEST code (candidates scan
  * in ascending code order and only a STRICTLY smaller distance
  * replaces the best — the early exit fires on `>=`, which can never
  * flip a tie). The codebook is a plan-time literal (M x K x subDim
  * longs — broadcast-class, baked into the generated class), so the
  * whole encode is a map over the corpus scan.
  *
  * Output: `array<long>` of length 2 M — `[code_0..code_{M-1},
  * d2min_0..d2min_{M-1}]` (one evaluation feeds both the codes column
  * and the reconstruction error without re-running the argmin).
  *
  * Failure policy (the loud-failure discipline): an input vector whose
  * width differs from M x subDim, or with a NULL element, throws with
  * instructions instead of silently truncating the subspace slices —
  * the silent form produced a valid-looking index with degraded
  * recall.
  */
@ExpressionDescription(
  usage = "pq_encode(emb6) - per-subspace PQ argmin codes + min integer distances.")
case class PqEncode(child: Expression, cb: Array[Long], m: Int, k: Int, subDim: Int)
    extends UnaryExpression {

  require(m > 0 && k > 0 && subDim > 0 && cb.length == m * k * subDim,
    s"pq_encode: codebook has ${cb.length} entries, sizing says ${m * k * subDim}")

  override def prettyName: String = "pq_encode"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_encode requires array<bigint> (the e6 integer view), got $other")
  }

  private def widthError(got: Int): String =
    s"pq_encode: embedding width $got != m($m) x subDim($subDim) = ${m * subDim} — " +
      "the PqParams sizing must match the corpus embedding dim (a mismatched " +
      "sizing would silently slice truncated subvectors and degrade recall)"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val a = v.asInstanceOf[ArrayData]
    if (a.numElements() != m * subDim)
      throw new IllegalArgumentException(widthError(a.numElements()))
    val out = new Array[Long](2 * m)
    var sub = 0
    while (sub < m) {
      var best = Long.MaxValue
      var bestCode = 0
      var c = 0
      while (c < k) {
        val base = (sub * k + c) * subDim
        val vbase = sub * subDim
        var acc = 0L
        var d = 0
        while (d < subDim && acc < best) {
          if (a.isNullAt(vbase + d))
            throw new IllegalArgumentException(
              "pq_encode: NULL embedding element — clean the corpus before encoding")
          val diff = a.getLong(vbase + d) - cb(base + d)
          acc += diff * diff
          d += 1
        }
        if (acc < best) { best = acc; bestCode = c }
        c += 1
      }
      out(sub) = bestCode.toLong
      out(m + sub) = best
      sub += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCb", cb, "long[]")
    nullSafeCodeGen(ctx, ev, a => {
      val out = ctx.freshName("out")
      val sub = ctx.freshName("sub")
      val best = ctx.freshName("best")
      val bestCode = ctx.freshName("bestCode")
      val c = ctx.freshName("c")
      val d = ctx.freshName("d")
      val acc = ctx.freshName("acc")
      val base = ctx.freshName("base")
      val vbase = ctx.freshName("vbase")
      val diff = ctx.freshName("diff")
      s"""
         |if ($a.numElements() != ${m * subDim}) {
         |  throw new IllegalArgumentException(
         |    "pq_encode: embedding width " + $a.numElements() + " != m($m) x subDim($subDim) = ${m * subDim}" +
         |    " - the PqParams sizing must match the corpus embedding dim (a mismatched" +
         |    " sizing would silently slice truncated subvectors and degrade recall)");
         |}
         |final long[] $out = new long[${2 * m}];
         |for (int $sub = 0; $sub < $m; $sub++) {
         |  long $best = Long.MAX_VALUE;
         |  int $bestCode = 0;
         |  final int $vbase = $sub * $subDim;
         |  for (int $c = 0; $c < $k; $c++) {
         |    final int $base = ($sub * $k + $c) * $subDim;
         |    long $acc = 0L;
         |    for (int $d = 0; $d < $subDim && $acc < $best; $d++) {
         |      if ($a.isNullAt($vbase + $d)) {
         |        throw new IllegalArgumentException(
         |          "pq_encode: NULL embedding element - clean the corpus before encoding");
         |      }
         |      final long $diff = $a.getLong($vbase + $d) - $cbRef[$base + $d];
         |      $acc += $diff * $diff;
         |    }
         |    if ($acc < $best) { $best = $acc; $bestCode = $c; }
         |  }
         |  $out[$sub] = (long) $bestCode;
         |  $out[$m + $sub] = $best;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** Native codegen'd IVF coarse-assignment argmax: the e6-cosine argmax
  * of a float vector against a PLAN-TIME centroid table.
  *
  * Why ([[PqEncode]]'s rationale, applied to the other build wall): the
  * declarative argmax — crossJoin the broadcast centroids, score, rn=1
  * window — materializes N x cells rows and shuffles their top-1
  * partials. This expression is EXACT and cheaper; every IVF, IvfSq8
  * and PQ build assigns through it or its broadcast twin
  * ([[IvfArgmaxBcast]]) in `Similarity.assign`:
  * the centroids bake into the generated class, each row pays one
  * tight loop over all cells with zero extra rows and zero shuffle —
  * a broadcast join in spirit, without ever manifesting the joined
  * rows.
  *
  * Semantics are BIT-EXACT with the window form (and the DuckDB
  * oracles' `ROW_NUMBER() OVER (ORDER BY score_e6 DESC, cent_id)`):
  * dot is [[DotProductFF]]'s left-to-right double fold, the score is
  * `floor(dot / (cn * nrm) * 1e6)` cast long with Java double->long
  * semantics (NaN -> 0, +-Inf -> Long.MIN/MAX — Spark's non-ansi
  * Cast), centroids scan in ascending cent_id and only a STRICTLY
  * greater score replaces the best, so ties resolve to the lowest
  * cent_id. Width mismatches and NULL elements throw with
  * instructions (the loud-failure discipline).
  */
@ExpressionDescription(
  usage = "ivf_argmax(emb, nrm) - e6-cosine argmax cent_id against plan-time centroids.")
case class IvfArgmax(left: Expression, right: Expression,
    cids: Array[Long], ceFlat: Array[Float], cns: Array[Double], dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  require(cids.length > 0 && ceFlat.length == cids.length * dim &&
    cns.length == cids.length, s"ivf_argmax: ragged centroid arrays")

  override def prettyName: String = "ivf_argmax"
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(org.apache.spark.sql.types.FloatType, _),
          org.apache.spark.sql.types.DoubleType) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ivf_argmax requires (array<float>, double), got $other")
  }

  override def eval(input: InternalRow): Any = {
    val e = left.eval(input)
    if (e == null) return null
    val nv = right.eval(input)
    if (nv == null) return null
    val a = e.asInstanceOf[ArrayData]
    if (a.numElements() != dim)
      throw new IllegalArgumentException(
        s"ivf_argmax: embedding width ${a.numElements()} != centroid dim $dim")
    val nrm = nv.asInstanceOf[Double]
    var bestIdx = -1
    var best = Long.MinValue
    var j = 0
    while (j < cids.length) {
      var dot = 0.0
      var d = 0
      val base = j * dim
      while (d < dim) {
        if (a.isNullAt(d))
          throw new IllegalArgumentException(
            "ivf_argmax: NULL embedding element — clean the corpus before assigning")
        dot += ceFlat(base + d).toDouble * a.getFloat(d).toDouble
        d += 1
      }
      val score = math.floor(dot / (cns(j) * nrm) * 1000000L).toLong
      if (bestIdx < 0 || score > best) { best = score; bestIdx = j }
      j += 1
    }
    cids(bestIdx)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cidRef = ctx.addReferenceObj("ivfCids", cids, "long[]")
    val ceRef = ctx.addReferenceObj("ivfCe", ceFlat, "float[]")
    val cnRef = ctx.addReferenceObj("ivfCns", cns, "double[]")
    nullSafeCodeGen(ctx, ev, (a, nrm) => {
      val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      val dot = ctx.freshName("dot")
      val base = ctx.freshName("base")
      val score = ctx.freshName("score")
      val best = ctx.freshName("best")
      val bestIdx = ctx.freshName("bestIdx")
      s"""
         |if ($a.numElements() != $dim) {
         |  throw new IllegalArgumentException(
         |    "ivf_argmax: embedding width " + $a.numElements() + " != centroid dim $dim");
         |}
         |int $bestIdx = -1;
         |long $best = Long.MIN_VALUE;
         |for (int $j = 0; $j < ${cids.length}; $j++) {
         |  double $dot = 0.0;
         |  final int $base = $j * $dim;
         |  for (int $d = 0; $d < $dim; $d++) {
         |    if ($a.isNullAt($d)) {
         |      throw new IllegalArgumentException(
         |        "ivf_argmax: NULL embedding element - clean the corpus before assigning");
         |    }
         |    $dot += ((double) $ceRef[$base + $d]) * ((double) $a.getFloat($d));
         |  }
         |  final long $score = (long) Math.floor($dot / ($cnRef[$j] * $nrm) * 1000000L);
         |  if ($bestIdx < 0 || $score > $best) { $best = $score; $bestIdx = $j; }
         |}
         |${ev.value} = $cidRef[$bestIdx];
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IvfArgmax =
    copy(left = newLeft, right = newRight)
}

/** The centroid payload a [[IvfArgmaxBcast]] ships through a Spark
  * BROADCAST variable instead of a plan-baked literal: `ceFlat` is the
  * table flattened cid-major in ascending cent_id, `cids`/`cns`
  * parallel — the exact [[IvfArgmax]] layout, relocated. */
case class CentPayload(cids: Array[Long], ceFlat: Array[Float], cns: Array[Double]) {
  require(cids.length > 0 && cns.length == cids.length &&
    ceFlat.length % cids.length == 0, "cent_payload: ragged centroid arrays")
}

/** [[IvfArgmax]] with the centroid payload in a BROADCAST variable —
  * the round-16 verdict's 262k-cell wall fix. The plan-baked literal
  * form Java-serializes the payload into every TASK binary: at 262k
  * cells x 64 dims that is a ~68 MB `ObjectInputStream.readArray` per
  * task, measured as a ~255 s row-count-independent floor (the argmax
  * arithmetic itself was seconds). A broadcast variable is torrent-
  * distributed in blocks and deserialized ONCE per executor JVM; tasks
  * pay a block-manager lookup. 100 TB at 1536 dims is ~17B vectors →
  * √N ≈ 130k cells ≈ 800 MB of centroids — plan-baked is unshippable,
  * broadcast is routine.
  *
  * One expression covers the WHOLE table at any cell count (the
  * round-15 per-block slicing existed only to bound the per-expression
  * literal payload; with the payload out of the plan, the generated
  * loop is constant-size code whose bounds are runtime array lengths —
  * no blocks, no cross-block fold). Scoring and tie rules are
  * bit-identical to [[IvfArgmax]] and the join+window form: same
  * left-to-right double fold, same e6 floor-cast with Java
  * double→long semantics, centroids scan in ascending cent_id and
  * only a STRICTLY greater score replaces the best (ties → lowest
  * cent_id), same loud width/NULL failures.
  */
@ExpressionDescription(
  usage = "ivf_argmax_bcast(emb, nrm) - e6-cosine argmax cent_id against broadcast centroids.")
case class IvfArgmaxBcast(left: Expression, right: Expression,
    bcast: org.apache.spark.broadcast.Broadcast[CentPayload], dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def prettyName: String = "ivf_argmax_bcast"
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(org.apache.spark.sql.types.FloatType, _),
          org.apache.spark.sql.types.DoubleType) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ivf_argmax_bcast requires (array<float>, double), got $other")
  }

  @transient private lazy val payload: CentPayload = bcast.value

  override def eval(input: InternalRow): Any = {
    val e = left.eval(input)
    if (e == null) return null
    val nv = right.eval(input)
    if (nv == null) return null
    val a = e.asInstanceOf[ArrayData]
    if (a.numElements() != dim)
      throw new IllegalArgumentException(
        s"ivf_argmax_bcast: embedding width ${a.numElements()} != centroid dim $dim")
    val p = payload
    val cids = p.cids
    val ceFlat = p.ceFlat
    val cns = p.cns
    val nrm = nv.asInstanceOf[Double]
    var bestIdx = -1
    var best = Long.MinValue
    var j = 0
    while (j < cids.length) {
      var dot = 0.0
      var d = 0
      val base = j * dim
      while (d < dim) {
        if (a.isNullAt(d))
          throw new IllegalArgumentException(
            "ivf_argmax_bcast: NULL embedding element — clean the corpus before assigning")
        dot += ceFlat(base + d).toDouble * a.getFloat(d).toDouble
        d += 1
      }
      val score = math.floor(dot / (cns(j) * nrm) * 1000000L).toLong
      if (bestIdx < 0 || score > best) { best = score; bestIdx = j }
      j += 1
    }
    cids(bestIdx)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // The broadcast HANDLE is the only plan-carried object (bytes, not
    // the payload); the arrays resolve once per generated-class init —
    // a block-manager lookup after the executor's first task.
    val bcRef = ctx.addReferenceObj("ivfBcast", bcast,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    val cidsVar = ctx.addMutableState("long[]", "ivfBcCids",
      v => s"$v = ((graft.functions.CentPayload) $bcRef.value()).cids();")
    val ceVar = ctx.addMutableState("float[]", "ivfBcCe",
      v => s"$v = ((graft.functions.CentPayload) $bcRef.value()).ceFlat();")
    val cnVar = ctx.addMutableState("double[]", "ivfBcCns",
      v => s"$v = ((graft.functions.CentPayload) $bcRef.value()).cns();")
    nullSafeCodeGen(ctx, ev, (a, nrm) => {
      val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      val dot = ctx.freshName("dot")
      val base = ctx.freshName("base")
      val score = ctx.freshName("score")
      val best = ctx.freshName("best")
      val bestIdx = ctx.freshName("bestIdx")
      val n = ctx.freshName("n")
      s"""
         |if ($a.numElements() != $dim) {
         |  throw new IllegalArgumentException(
         |    "ivf_argmax_bcast: embedding width " + $a.numElements() + " != centroid dim $dim");
         |}
         |int $bestIdx = -1;
         |long $best = Long.MIN_VALUE;
         |final int $n = $cidsVar.length;
         |for (int $j = 0; $j < $n; $j++) {
         |  double $dot = 0.0;
         |  final int $base = $j * $dim;
         |  for (int $d = 0; $d < $dim; $d++) {
         |    if ($a.isNullAt($d)) {
         |      throw new IllegalArgumentException(
         |        "ivf_argmax_bcast: NULL embedding element - clean the corpus before assigning");
         |    }
         |    $dot += ((double) $ceVar[$base + $d]) * ((double) $a.getFloat($d));
         |  }
         |  final long $score = (long) Math.floor($dot / ($cnVar[$j] * $nrm) * 1000000L);
         |  if ($bestIdx < 0 || $score > $best) { $best = $score; $bestIdx = $j; }
         |}
         |${ev.value} = $cidsVar[$bestIdx];
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IvfArgmaxBcast =
    copy(left = newLeft, right = newRight)
}

object PqExprs {
  /** Column wrapper for [[PqEncode]] — `cb` is the flattened codebook,
    * sub-major then code-major then pos: `cb[(sub*k + code)*subDim +
    * pos]`. */
  def pqEncodeNative(emb6: Column, cb: Array[Long], m: Int, k: Int, subDim: Int): Column =
    GraftSqlBridge.column(PqEncode(GraftSqlBridge.expression(emb6), cb, m, k, subDim))

  /** Column wrapper for [[IvfArgmax]] — `ceFlat` is the centroid table
    * flattened cid-major (ascending cent_id), `cids`/`cns` parallel. */
  def ivfArgmaxNative(emb: Column, nrm: Column, cids: Array[Long],
      ceFlat: Array[Float], cns: Array[Double], dim: Int): Column =
    GraftSqlBridge.column(IvfArgmax(GraftSqlBridge.expression(emb),
      GraftSqlBridge.expression(nrm), cids, ceFlat, cns, dim))

  /** Column wrapper for [[IvfArgmaxBcast]] — the whole centroid table
    * through a broadcast variable, any cell count. */
  def ivfArgmaxBcastNative(emb: Column, nrm: Column,
      bcast: org.apache.spark.broadcast.Broadcast[CentPayload], dim: Int): Column =
    GraftSqlBridge.column(IvfArgmaxBcast(GraftSqlBridge.expression(emb),
      GraftSqlBridge.expression(nrm), bcast, dim))
}
