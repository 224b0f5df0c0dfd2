package graft

import graft.functions.{TextFns, VectorExprs}
import graft.functions.VectorExprs.dotNative
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VectorExprsSpec extends AnyFunSuite {
  import TestSpark._

  private def df = {
    import spark.implicits._
    Seq(
      (Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)),
      (Seq(0.1f, -0.2f), Seq(0.3f, 0.4f)),
      (Seq.empty[Float], Seq.empty[Float])
    ).toDF("a", "b")
  }

  test("native dot matches the higher-order-function fold bit for bit") {
    val rows = df.select(
      dotNative(col("a"), col("b")).as("native"),
      TextFns.dot(col("a"), col("b")).as("hof")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("null array, null element, and length mismatch all yield null") {
    import spark.implicits._
    val d = Seq(
      (Some(Seq(Some(1.0f))), None: Option[Seq[Option[Float]]]),
      (Some(Seq(Some(1.0f), None)), Some(Seq(Some(1.0f), Some(2.0f)))),
      (Some(Seq(Some(1.0f))), Some(Seq(Some(1.0f), Some(2.0f))))
    ).toDF("a", "b")
    val got = d.select(dotNative(col("a"), col("b"))).collect().map(_.isNullAt(0))
    assert(got.forall(identity))
    // And the HOF form agrees on the same inputs.
    val hof = d.select(TextFns.dot(col("a"), col("b"))).collect().map(_.isNullAt(0))
    assert(hof.forall(identity))
  }

  test("native int_sqdist matches the zip_with/aggregate HOF bit for bit, including null semantics") {
    import spark.implicits._
    import graft.functions.VectorExprs.intSqDistNative
    val d = (0 until 100).map { i =>
      (Seq.tabulate(64)(j => ((i * 31 + j * 7) % 256).toLong),
       Seq.tabulate(64)(j => ((i * 17 + j * 13) % 256).toLong))
    }.toDF("a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, z) => acc + z)
    val rows = d.select(intSqDistNative(col("a"), col("b")).as("n"), hof.as("h")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // Width mismatch and NULL element: both forms yield NULL.
    val edge = Seq(
      (Some(Seq(Some(1L), Some(2L))), Some(Seq(Some(1L)))),
      (Some(Seq(Some(1L), None)), Some(Seq(Some(1L), Some(2L)))),
      (None: Option[Seq[Option[Long]]], Some(Seq(Some(1L))))
    ).toDF("a", "b")
    val hofE = aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, z) => acc + z)
    val got = edge.select(intSqDistNative(col("a"), col("b")).as("n"), hofE.as("h")).collect()
    got.foreach { r => assert(r.isNullAt(0) && r.isNullAt(1)) }
    // Interpreted eval agrees with codegen.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val la = Literal.create(new GenericArrayData(Array(3L, 250L)), ArrayType(LongType))
    val lb = Literal.create(new GenericArrayData(Array(7L, 1L)), ArrayType(LongType))
    assert(graft.functions.IntSqDistLL(la, lb).eval(null) == (16L + 249L * 249L))
  }

  test("native int_sqlb matches the HOF form bit for bit and LOWER-BOUNDS the exact distance") {
    import spark.implicits._
    import graft.functions.VectorExprs.{intSqLowerBoundNative, intSqDistNative}
    // Deterministic pseudo-corpus: e6 values, their floor-quantized
    // bytes against a shared envelope, and the spans — the exact shape
    // the range prescreen evaluates.
    val dims = 64
    val mn = -2000000L; val sp = 4000000L
    def e6s(seed: Int) = Seq.tabulate(dims)(j => mn + ((seed * 2654435761L + j * 40503L).abs % sp))
    def q8(v: Seq[Long]) = v.map(x => ((x - mn) * 255L / sp).min(255L).max(0L))
    val spans = Seq.fill(dims)(sp)
    val rows = (0 until 50).map { i =>
      (e6s(i), e6s(i + 1000), q8(e6s(i)), q8(e6s(i + 1000)), spans)
    }.toDF("a6", "b6", "qa", "qb", "sp")
    val hof = aggregate(
      zip_with(zip_with(col("qa"), col("qb"), (x, y) => abs(x - y)), col("sp"),
        (d, s) => {
          val t = greatest(d - 1, lit(0L)) * s
          val fl = (t - t % 255L) / 255L
          (fl * fl).cast("long")
        }),
      lit(0L), (acc, z) => acc + z)
    val got = rows.select(
      intSqLowerBoundNative(col("qa"), col("qb"), col("sp")).as("n"), hof.as("h"),
      intSqDistNative(col("a6"), col("b6")).as("exact")).collect()
    got.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"native ${r.getLong(0)} != HOF ${r.getLong(1)}")
      assert(r.getLong(0) <= r.getLong(2),
        s"bound ${r.getLong(0)} exceeds exact distance ${r.getLong(2)}")
    }
    assert(got.exists(_.getLong(0) > 0L), "degenerate: every bound collapsed to 0")
    // NULL semantics: width mismatch and NULL element yield NULL.
    val edge = Seq(
      (Some(Seq(Some(1L), Some(2L))), Some(Seq(Some(1L))), Some(Seq(Some(5L), Some(5L)))),
      (Some(Seq(Some(1L), None)), Some(Seq(Some(1L), Some(2L))), Some(Seq(Some(5L), Some(5L)))),
      (None: Option[Seq[Option[Long]]], Some(Seq(Some(1L))), Some(Seq(Some(5L))))
    ).toDF("qa", "qb", "sp")
    edge.select(intSqLowerBoundNative(col("qa"), col("qb"), col("sp")).as("n"))
      .collect().foreach(r => assert(r.isNullAt(0)))
  }

  test("native hamming_ll matches the per-word xor/bit_count HOF bit for bit, including null semantics") {
    import spark.implicits._
    import graft.functions.VectorExprs.hammingNative
    val d = (0 until 100).map { i =>
      (Seq.tabulate(4)(j => i.toLong * 2654435761L + j * 40503L),
       Seq.tabulate(4)(j => i.toLong * 40503L + j * 2654435761L))
    }.toDF("a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"),
        (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, z) => acc + z)
    val rows = d.select(hammingNative(col("a"), col("b")).as("n"), hof.as("h")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // Width mismatch, NULL element, NULL array: all NULL (zip_with parity).
    val edge = Seq(
      (Some(Seq(Some(1L), Some(2L))), Some(Seq(Some(1L)))),
      (Some(Seq(Some(1L), None)), Some(Seq(Some(1L), Some(2L)))),
      (None: Option[Seq[Option[Long]]], Some(Seq(Some(1L))))
    ).toDF("a", "b")
    val hofE = aggregate(zip_with(col("a"), col("b"),
        (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, z) => acc + z)
    val got = edge.select(hammingNative(col("a"), col("b")).as("n"), hofE.as("h")).collect()
    got.foreach { r => assert(r.isNullAt(0) && r.isNullAt(1)) }
    // Interpreted eval agrees with codegen (Long.MinValue word included
    // — the bit-63 wrap the sig fold produces).
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val la = Literal.create(new GenericArrayData(Array(Long.MinValue, 0L)), ArrayType(LongType))
    val lb = Literal.create(new GenericArrayData(Array(0L, -1L)), ArrayType(LongType))
    assert(graft.functions.HammingLL(la, lb).eval(null) == 65L)
  }

  test("native matvec matches a driver-side matmul bit for bit; width mismatch fails loudly") {
    import spark.implicits._
    import graft.functions.VectorExprs.matVecNative
    val dim = 8
    val mat = Array.tabulate(dim * dim)(i => math.sin(0.37 * i) + (if (i / dim == i % dim) 1.5 else 0.0))
    val rows = (0 until 50).map(i => (i.toLong, Seq.tabulate(dim)(j => (0.1f * i + 0.01f * j))))
    val df = rows.toDF("vec_id", "emb")
      .select(col("vec_id"), col("emb").cast("array<float>").as("emb"))
    val got = df.select(col("vec_id"), matVecNative(col("emb"), mat, dim).as("r"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    rows.foreach { case (id, emb) =>
      val expect = Array.tabulate(dim)(r =>
        (0 until dim).map(c => mat(r * dim + c) * emb(c).toDouble).sum)
      // Exact: both sides are the same left-to-right double fold.
      assert(got(id).toArray.sameElements(expect), s"matvec diverged at vec_id=$id")
    }
    // Interpreted eval agrees with codegen.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val la = Literal.create(new GenericArrayData(Array.tabulate(dim)(_.toFloat)), ArrayType(FloatType))
    val interp = graft.functions.MatVecFD(la, mat, dim).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
    val viaDf = df.filter(col("vec_id") === 10)
    assert(interp.length == dim && viaDf.count() == 1)
    // Width mismatch: loud, not zero-padded.
    val bad = Seq((1L, Seq(1.0f, 2.0f))).toDF("vec_id", "emb")
      .select(col("vec_id"), col("emb").cast("array<float>").as("emb"))
    val e = intercept[Throwable] {
      bad.select(matVecNative(col("emb"), mat, dim)).collect()
    }
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msgs(e).contains("matrix dim"), msgs(e))
  }

  test("interpreted eval agrees with codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val la = Literal.create(new GenericArrayData(Array(1.0f, 2.0f)), ArrayType(FloatType))
    val lb = Literal.create(new GenericArrayData(Array(3.0f, 4.0f)), ArrayType(FloatType))
    val interp = graft.functions.DotProductFF(la, lb).eval(null)
    assert(interp == 11.0)
    val viaDf = df.limit(1).select(dotNative(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(viaDf == 32.0)
  }

  test("sorted intersect count equals size(array_intersect) on real token sets") {
    val toks = Tables.documents(spark, sf).select(
      graft.functions.TextFns.tokenSet(col("text")).as("t"))
    val pairs = toks.limit(40).crossJoin(toks.limit(40).select(col("t").as("u")))
    val rows = pairs.select(
      graft.functions.SortedIntersectCount(col("t"), col("u")).as("merge"),
      size(array_intersect(col("t"), col("u"))).as("builtin")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("native minhash signature is bit-identical to the HOF stack (incl. edge shapes)") {
    import spark.implicits._
    import graft.functions.{TextFns, VectorExprs}
    // deterministic pseudo-random hash arrays of assorted lengths, plus
    // the edge shapes: empty array, array with nulls, all-null, null
    val base = (0 until 200).map { i =>
      Seq.tabulate(1 + i % 17)(j => ((i * 2654435761L + j * 40503L) % TextFns.P1): java.lang.Long)
    } ++ Seq(
      Seq.empty[java.lang.Long],
      Seq[java.lang.Long](7L, null, 11L),
      Seq[java.lang.Long](null, null),
      null)
    val df = base.toDF("hs")
    val rows = df.select(
      TextFns.minhashSig(col("hs"), 64).as("hof"),
      VectorExprs.minhashSigNative(col("hs"), 64).as("nat")).collect()
    rows.zip(base).foreach { case (r, in) =>
      def get(i: Int): Option[Seq[Any]] =
        if (r.isNullAt(i)) None
        else Some((0 until 64).map { k =>
          val a = r.getSeq[Any](i); a(k)
        })
      assert(get(0) == get(1), s"minhash divergence on input $in: ${get(0)} vs ${get(1)}")
    }
    // and the interpreted eval path agrees with codegen (filter forces a
    // non-codegen context for the expression inside a local relation)
    val interp = df.filter(col("hs").isNotNull)
      .select(VectorExprs.minhashSigNative(col("hs"), 8).as("n8"),
        TextFns.minhashSig(col("hs"), 8).as("h8"))
      .collect()
    interp.foreach(r => assert(r.getSeq[Any](0) == r.getSeq[Any](1)))
  }

  test("sorted intersect count edge cases") {
    import spark.implicits._
    val d = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq.empty[String], Seq("x")),
      (Seq("a"), Seq.empty[String])
    ).toDF("a", "b")
    val got = d.select(graft.functions.SortedIntersectCount(col("a"), col("b")))
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(2, 0, 0))
    val n = d.select(graft.functions.SortedIntersectCount(lit(null).cast("array<string>"), col("b")))
      .collect().map(_.isNullAt(0)).toSeq
    assert(n.forall(identity))
  }

  /** An ArrayData of longs as a Scala value: None for a null array, None
    * for a null element. */
  private def longs(a: org.apache.spark.sql.catalyst.util.ArrayData): Option[Seq[Option[Long]]] =
    Option(a).map(a => (0 until a.numElements()).map(i =>
      if (a.isNullAt(i)) None else Some(a.getLong(i))))

  private def longs(r: org.apache.spark.sql.Row, i: Int): Option[Seq[Option[Long]]] =
    Option(r.getSeq[Any](i)).map(_.map(x => Option(x).map(_.asInstanceOf[Long])))

  test("native token hashes are bit-identical to the HOF fold, codegen and eval (incl. edge shapes)") {
    import spark.implicits._
    import graft.functions.TokenHashes
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{ArrayType, StringType}
    // ASCII, 2-byte, 3-byte and 4-byte (supplementary) code points, and
    // the empty-string token
    val words = Seq("alpha", "x", "café", "naïve", "€uro", "日本語",
      "\uD834\uDD1E", "a\uD83D\uDE00b", "")
    val toks: Seq[Seq[String]] = words.map(Seq(_)) ++
      (0 until 60).map(i => Seq.tabulate(1 + i % 13)(j => words((i * 7 + j * 3) % words.size) + (i * j))) ++
      Seq(Seq("a", null, "b"), Seq(null), Seq.empty[String], null)
    val df = toks.toDF("toks")
    val hof = df.select(
      transform(col("toks"), TextFns.tokenHash(_)),
      transform(col("toks"), TextFns.tokenHash60(_))).collect()
    // The edge semantics, as the HOF form evaluates them: the empty token
    // folds one 0, a null token hashes to null, a null array stays null.
    assert(longs(hof(words.indexOf("")), 0) == Some(Seq(Some(7L * 31 % TextFns.P1))))
    assert(longs(hof(toks.size - 4), 0) == Some(Seq(Some(7L * 31 + 'a'), None, Some(7L * 31 + 'b'))))
    assert(longs(hof(toks.size - 1), 1).isEmpty)

    val in = BoundReference(0, ArrayType(StringType, containsNull = true), nullable = true)
    val exprs = Seq(TokenHashes(in, wide = false), TokenHashes(in, wide = true))
    val codegen = GenerateUnsafeProjection.generate(exprs) // throws if doGenCode does not compile
    val rows = df.queryExecution.toRdd.map(_.copy()).collect()
    assert(rows.length == hof.length)
    rows.zip(hof).zipWithIndex.foreach { case ((row, h), i) =>
      val gen = codegen(row)
      (0 to 1).foreach { w =>
        val want = longs(h, w)
        assert(longs(exprs(w).eval(row).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
          == want, s"eval, wide=${w == 1}, input ${toks(i)}")
        assert(longs(if (gen.isNullAt(w)) null else gen.getArray(w)) == want,
          s"codegen, wide=${w == 1}, input ${toks(i)}")
      }
    }
    // and through the column wrappers in a query
    val nat = df.select(VectorExprs.tokenHashesNative(col("toks")),
      VectorExprs.tokenHashes60Native(col("toks"))).collect()
    nat.zip(hof).foreach { case (n, h) => (0 to 1).foreach(w => assert(longs(n, w) == longs(h, w))) }
  }

  test("a malformed UTF-8 token hashes as the HOF fold reads it") {
    import graft.functions.TokenHashes
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    // a lone continuation byte, a byte no UTF-8 sequence starts with, a
    // UTF-8-encoded surrogate, and an overlong encoding, each mid-token
    val bad = Seq(Array(0x61, 0x80, 0x62), Array(0x61, 0xFF, 0x62), Array(0x61, 0xED, 0xA0, 0x80, 0x62),
      Array(0x61, 0xE0, 0x80, 0x80, 0x62), Array(0xC3, 0x61, 0x62, 0x63))
      .map(b => UTF8String.fromBytes(b.map(_.toByte)))
    val arr = new GenericArrayData(bad.toArray[Any])
    val lit = Literal.create(arr, ArrayType(StringType, containsNull = false))
    val hof = spark.range(1).select(
      transform(org.apache.spark.sql.GraftSqlBridge.column(lit), TextFns.tokenHash60(_))).head()
    val want = longs(hof, 0)
    assert(longs(TokenHashes(lit, wide = true).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]) == want)
    val in = BoundReference(0, ArrayType(StringType, containsNull = false), nullable = false)
    val gen = GenerateUnsafeProjection.generate(Seq(TokenHashes(in, wide = true)))(
      org.apache.spark.sql.catalyst.InternalRow(arr))
    assert(longs(gen.getArray(0)) == want)
  }

  test("native SimHash is bit-identical to the HOF bit-majority stack, codegen and eval (incl. edge shapes)") {
    import spark.implicits._
    import graft.functions.SimHash
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val hs: Seq[Seq[java.lang.Long]] = (0 until 100).map { i =>
      Seq.tabulate(1 + i % 11)(j => TextFns.mix64(i * 1000L + j) & ((1L << 60) - 1): java.lang.Long)
    } ++ Seq(
      Seq[java.lang.Long](1L, 1L, 0L, 0L), // a tie clears the bit
      Seq[java.lang.Long](1L, 1L, 0L),
      Seq[java.lang.Long](-1L, Long.MinValue),
      Seq.empty[java.lang.Long],
      Seq[java.lang.Long](7L, null, 11L),
      null)
    val df = hs.toDF("hs")
    val hof = df.select(TextFns.simhash(col("hs"))).collect().map(_.getLong(0))
    // The edge semantics, as the HOF form evaluates them: an empty array,
    // an array holding a null hash and a null array all yield 0.
    assert(hof.takeRight(3).toSeq == Seq(0L, 0L, 0L))
    assert(hof(hs.size - 6) == 0L && hof(hs.size - 5) == 1L)

    val in = BoundReference(0, ArrayType(LongType, containsNull = true), nullable = true)
    val codegen = GenerateUnsafeProjection.generate(Seq(SimHash(in)))
    val rows = df.queryExecution.toRdd.map(_.copy()).collect()
    rows.zip(hof).zipWithIndex.foreach { case ((row, want), i) =>
      assert(SimHash(in).eval(row) == want, s"eval, input ${hs(i)}")
      assert(codegen(row).getLong(0) == want, s"codegen, input ${hs(i)}")
    }
    val nat = df.select(VectorExprs.simhashNative(col("hs"))).collect().map(_.getLong(0))
    assert(nat.toSeq == hof.toSeq)
  }

  test("no src/main pass hashes token arrays or SimHash through the HOF forms outside TextFns") {
    val call = """\b(?:tokenHash|tokenHash60|simhash)\(""".r
    Seq("transform(col(\"toks\"), tokenHash(_))", "transform(t, TextFns.tokenHash60(_))",
        "transform(t, x => tokenHash(x))", "simhash(col(\"hs\"))")
      .foreach(code => assert(call.findFirstIn(code).isDefined, code))
    Seq("tokenHashesNative(col(\"toks\"))", "simhashNative(h)", "sqlSimhash(hs)", "sqlTokenHash(\"t\")")
      .foreach(code => assert(call.findFirstIn(code).isEmpty, code))
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    def scala(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(scala)
      else Seq(f).filter(_.getName.endsWith(".scala"))
    val offenders = scala(root).filterNot(_.getName == "TextFns.scala").flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      call.findAllMatchIn(text)
        .map(m => s"${f.getPath}:${text.substring(0, m.start).count(_ == '\n') + 1}")
    }
    assert(offenders.isEmpty,
      "hash tokens with VectorExprs.tokenHashesNative / tokenHashes60Native and SimHash with " +
        s"simhashNative — the HOF forms run interpreted: ${offenders.mkString(", ")}")
  }
}
