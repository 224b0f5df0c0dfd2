package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted SQ8 index's lifecycle beyond the qn38b hash gate:
  * in-flight parity, frozen-envelope appends with the documented
  * saturation clamp, the re-stat/re-encode rebalance, and the
  * IndexSwap crash polarities.
  */
class Sq8Spec extends AnyFunSuite {
  import TestSpark._
  import graft.operators.SQ8

  test("persisted SQ8 probe replays qn38 bit-exactly") {
    val path = graft.operators.Similarity.newIndexDir()
    SQ8.buildSq8Index(spark, sf, path)
    val persisted = SQ8.probeSq8Index(spark, sf, path, 5)
      .collect().map(_.toString).toSeq
    val inFlight = SparkEntry.queries("qn38_ann_sq8")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(persisted == inFlight)
  }

  test("append encodes against the frozen envelope; out-of-range dims clamp, in-range near-dup is found") {
    val path = graft.operators.Similarity.newIndexDir()
    SQ8.buildSq8Index(spark, sf, path)
    val statsBefore = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "stats"))
      .collect().map(_.toString).sorted.toSeq
    // In-range planted near-copy of probe 3: must surface as its top
    // refined neighbor through the byte rank + exact refine chain.
    val planted = Tables.embeddings(spark, sf).filter(col("vec_id") === 3)
      .select(lit(66666L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, (x.cast("double") * 1.01).cast("float")).otherwise(x)).as("embedding"))
    // Out-of-envelope vector: every dim far above the corpus max. Its
    // stored bytes must SATURATE at 255, never exceed the byte range
    // (the frozen affine map's declared semantics).
    val outOfRange = Tables.embeddings(spark, sf).filter(col("vec_id") === 4)
      .select(lit(77777L).as("vec_id"),
        transform(col("embedding"), x => (x.cast("double") * 0 + 50.0).cast("float"))
          .as("embedding"))
    SQ8.appendToSq8Index(spark, planted.union(outOfRange), path)
    // Envelope frozen: append must not touch the stats side.
    assert(spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "stats"))
      .collect().map(_.toString).sorted.toSeq == statsBefore, "append re-statted")
    val q8 = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes")).filter(col("vec_id") === 77777L)
      .select(col("q8")).head().getSeq[Long](0)
    assert(q8.forall(x => x >= 0L && x <= 255L), s"clamp failed: $q8")
    assert(q8.forall(_ == 255L), s"out-of-range dims should saturate at 255: $q8")
    val top = SQ8.probeSq8Index(spark, sf, path, 5)
      .filter(col("qid") === 3 && col("rnk") === 1).collect()
    assert(top.length == 1 && top.head.getLong(2) == 66666L,
      s"planted near-copy not probe 3's top neighbor: ${top.mkString}")
  }

  test("rebalance re-stats the grown lake, re-encodes every code, and is a deterministic fixpoint") {
    val path = graft.operators.Similarity.newIndexDir()
    SQ8.buildSq8Index(spark, sf, path)
    val big = Tables.embeddings(spark, sf).filter(col("vec_id") === 4)
      .select(lit(88888L).as("vec_id"),
        transform(col("embedding"), x => (x.cast("double") * 0 + 50.0).cast("float"))
          .as("embedding"))
    SQ8.appendToSq8Index(spark, big, path)
    SQ8.rebalance(spark, path)
    // The recomputed envelope covers the appended value, so its codes
    // are no longer saturated — and every OLD vector re-encoded under
    // the new map (spot-check: old codes compress toward 0 because the
    // span grew ~25x).
    val q8 = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes")).filter(col("vec_id") === 88888L)
      .select(col("q8")).head().getSeq[Long](0)
    assert(q8.forall(_ == 255L), s"corpus max should map to 255 after re-stat: $q8")
    val old3 = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes")).filter(col("vec_id") === 3L)
      .select(col("q8")).head().getSeq[Long](0)
    assert(old3.forall(x => x >= 0L && x < 30L),
      s"old codes not re-encoded under the widened envelope: $old3")
    // Fixpoint: a second rebalance over the same lake changes nothing.
    val codes1 = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes"))
      .collect().map(_.toString).sorted.toSeq
    val stats1 = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "stats"))
      .collect().map(_.toString).sorted.toSeq
    SQ8.rebalance(spark, path)
    assert(spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes"))
      .collect().map(_.toString).sorted.toSeq == codes1)
    assert(spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "stats"))
      .collect().map(_.toString).sorted.toSeq == stats1)
    // The index still serves after the swap.
    assert(SQ8.probeSq8Index(spark, sf, path, 5).count() == 50)
  }

  test("streaming vector ingest maintains the index: foreachBatch O(new) appends, saturation audit fires the re-stat mid-stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = graft.operators.Similarity.newIndexDir()
    SQ8.buildSq8Index(spark, sf, path)
    val verBefore = graft.operators.IndexSwap.liveVersion(spark, path)
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = ms.toDF().toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          // The sibling rungs' split: the append stays O(new) (a fired
          // saturation audit only drops the marker); maintenance runs
          // as its own per-batch step, paying the re-stat off the hot
          // path.
          SQ8.appendToSq8Index(b.sparkSession, b, path, autoRebalance = Some(0.2))
          SQ8.maintain(b.sparkSession, path): Unit
      }.start()
    val base = Tables.embeddings(spark, sf).filter(col("vec_id") === 3)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    try {
      // Phase 1 — an IN-DISTRIBUTION stream (near-copies of vector 3,
      // 0.01% perturbation): encodes against the frozen envelope
      // without firing the audit — in-envelope appends must stay
      // append-cost forever.
      val near = (0 until 60).map { i =>
        val e = base.clone(); e(0) = (e(0) * (1.0f + i / 1e4f))
        ((60000L + i, e.toSeq))
      }
      near.grouped(30).foreach { batch => ms.addData(batch.toSeq); q.processAllAvailable() }
      assert(graft.operators.IndexSwap.liveVersion(spark, path) == verBefore,
        "in-envelope appends must not fire the saturation audit")
      // Phase 2 — a DRIFTED stream (-5x the base direction: most dims
      // land outside the frozen [mn, mn+sp]; measured on this fixture
      // the per-row oob rate is >0.35 vs the 0.2 threshold): the
      // clamp-rate audit fires, maintenance re-stats the envelope over
      // the grown lake mid-stream. Opposite direction on purpose —
      // cosine -1, so the drifted rows never contest probe 3's top.
      val drifted = (0 until 60).map { i =>
        ((70000L + i, base.map(x => -5.0f * x * (1.0f + i / 1e4f)).toSeq))
      }
      drifted.grouped(30).foreach { batch => ms.addData(batch.toSeq); q.processAllAvailable() }
    } finally q.stop()
    assert(graft.operators.IndexSwap.liveVersion(spark, path) > verBefore,
      "drift re-stat never fired in-stream")
    val root = graft.operators.IndexSwap.liveRoot(spark, path)
    val vecs = spark.read.parquet(s"$root/vectors")
    assert(spark.read.parquet(s"$root/codes").count() == vecs.count(),
      "stream left the tiers unreconciled")
    assert(vecs.filter(col("vec_id") >= 60000L).count() == 120,
      "stream lost or duplicated appended vectors")
    // After one final re-stat the streamed lake is byte-identical to a
    // fresh build over the same rows (the rebuild-as-deterministic-
    // fixpoint contract, proved across a STREAMED lake — the mid-stream
    // rebuild froze its envelope before the last appends, so the
    // equality needs the re-stat first), and the re-statted envelope
    // surfaces a streamed near-copy as probe 3's top neighbor.
    SQ8.rebalance(spark, path)
    val fresh = graft.operators.Similarity.newIndexDir()
    SQ8.buildSq8IndexFrom(spark,
      vecs.select(col("vec_id"), col("embedding")), fresh)
    assert(SQ8.probeSq8Index(spark, sf, path, 5).collect().map(_.toString).toSeq ==
      SQ8.probeSq8Index(spark, sf, fresh, 5).collect().map(_.toString).toSeq,
      "maintained index diverged from a fresh build over the same lake")
    val top = SQ8.probeSq8Index(spark, sf, path, 5)
      .filter(col("qid") === 3 && col("rnk") === 1).collect()
    assert(top.length == 1 && top.head.getLong(2) >= 60000L && top.head.getLong(2) < 60060L,
      s"streamed near-copy lost by the re-statted envelope: ${top.mkString}")
  }

  test("filtered search: the predicate binds before the flat rank shortlist") {
    val path = graft.operators.Similarity.newIndexDir()
    SQ8.buildSq8Index(spark, sf, path)
    val probes = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
    val allowed = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 3 === 1).select("vec_id")
    val res = SQ8.probeSq8IndexWith(spark, probes, path, 5,
      allowed = Some(allowed)).collect()
    assert(res.length == 50, s"filtered probe lost rows: ${res.length}")
    assert(res.forall(_.getLong(2) % 3 == 1), "a disallowed row surfaced")
    assert(!SQ8.probeSq8Index(spark, sf, path, 5).collect()
        .forall(_.getLong(2) % 3 == 1),
      "fixture degenerate: the unfiltered top-k already satisfies the filter")
  }

  test("delete and filtered search COMPOSE: the rank stage sees allowed minus tombstoned") {
    val path = graft.operators.Similarity.newIndexDir()
    SQ8.buildSq8Index(spark, sf, path)
    val probes = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
    val allowed = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 3 === 1).select("vec_id")
    // Tombstone the allowed ids that are 1 mod 21 — a strict subset of
    // the filter, so every surviving candidate must pass BOTH verbs.
    SQ8.delete(spark,
      Tables.embeddings(spark, sf).filter(col("vec_id") % 21 === 1).select("vec_id"),
      path)
    val res = SQ8.probeSq8IndexWith(spark, probes, path, 5,
      allowed = Some(allowed)).collect()
    assert(res.length == 50, s"composed probe lost rows: ${res.length}")
    assert(res.forall(r => r.getLong(2) % 3 == 1 && r.getLong(2) % 21 != 1),
      "a disallowed or tombstoned row surfaced")
    // Non-degeneracy: the filtered-only result DID contain ids the
    // delete then removed, so the compose changed the answer.
    val filteredOnlyPath = graft.operators.Similarity.newIndexDir()
    SQ8.buildSq8Index(spark, sf, filteredOnlyPath)
    val filteredOnly = SQ8.probeSq8IndexWith(spark, probes, filteredOnlyPath, 5,
      allowed = Some(allowed)).collect()
    assert(filteredOnly.exists(_.getLong(2) % 21 == 1),
      "fixture degenerate: no tombstoned id ever surfaced pre-delete")
  }

  test("range search equals the brute-force exact range, including a clamped out-of-envelope appendee") {
    val path = graft.operators.Similarity.newIndexDir()
    SQ8.buildSq8Index(spark, sf, path)
    // Appendee: probe 3's vector with dim 0 pushed ABOVE the corpus
    // envelope — its stored byte saturates at 255, the case where the
    // prescreen bound must LOOSEN, never tighten (a wrong exclusion
    // here is exactly the clamp-unsafety the scaladoc derivation rules
    // out). The nudge is small enough to keep it inside the radius of
    // probe 3, so the assertion is non-vacuous.
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val dim0Max = corpus.values.map(_(0)).max
    val planted = corpus(3L).clone(); planted(0) = dim0Max + 0.05f
    import spark.implicits._
    SQ8.appendToSq8Index(spark,
      Seq((66666L, planted.toSeq)).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")),
      path)
    val t2 = 1450000000000L
    val got = SQ8.rangeSq8Index(spark, sf, path, t2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // Brute force over the grown corpus in plain Scala: e6 floors,
    // exact squared distance, threshold.
    def e6(v: Array[Float]) = v.map(x => math.floor(x.toDouble * 1e6).toLong)
    val grown = corpus + (66666L -> planted)
    val expected = (for {
      (qid, qv) <- grown.toSeq if qid < 10
      (cid, cv) <- grown.toSeq if cid != qid
      d2 = e6(qv).zip(e6(cv)).map { case (a, b) => (a - b) * (a - b) }.sum
      if d2 <= t2
    } yield (qid, cid, d2)).toSet
    assert(got == expected,
      s"range mismatch: missing=${expected.diff(got).take(3)} extra=${got.diff(expected).take(3)}")
    assert(expected.exists(_._2 == 66666L),
      "fixture degenerate: the clamped appendee never entered the radius")
  }

  test("range search past the survivor collect cap: the equi-join refine returns the point-read rows") {
    val path = graft.operators.Similarity.newIndexDir()
    SQ8.buildSq8Index(spark, sf, path)
    val probes = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
    val t2 = 1450000000000L
    val pointRead = SQ8.rangeSq8IndexWith(spark, probes, path, t2)
      .collect().map(_.toString).toSeq
    spark.conf.set("spark.graft.sq8.rangeCollectMax", "0")
    val equiJoin = try SQ8.rangeSq8IndexWith(spark, probes, path, t2)
      .collect().map(_.toString).toSeq
    finally spark.conf.unset("spark.graft.sq8.rangeCollectMax")
    assert(pointRead.nonEmpty, "fixture degenerate: no row inside the radius")
    assert(equiJoin == pointRead, "the over-cap refine diverged from the point-read refine")
  }

  test("range search composes with DELETE and the allowed filter") {
    val path = graft.operators.Similarity.newIndexDir()
    SQ8.buildSq8Index(spark, sf, path)
    val t2 = 2000000000000L // roomier radius so both verbs visibly bite
    val base = SQ8.rangeSq8Index(spark, sf, path, t2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    SQ8.delete(spark,
      Tables.embeddings(spark, sf).filter(col("vec_id") % 7 === 0).select("vec_id"),
      path)
    val probes = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
    val got = SQ8.rangeSq8IndexWith(spark, probes, path, t2,
      allowed = Some(Tables.embeddings(spark, sf)
        .filter(col("vec_id") % 3 === 1).select("vec_id"))).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = base.filter { case (_, id) => id % 3 == 1 && id % 7 != 0 }
    assert(got == expected,
      s"compose mismatch: missing=${expected.diff(got).take(3)} extra=${got.diff(expected).take(3)}")
    assert(base.exists { case (_, id) => id % 7 == 0 } &&
      base.exists { case (_, id) => id % 3 != 1 },
      "fixture degenerate: neither verb changed the range result")
  }

  test("serve handle: probe and range match the per-call entries bit-exactly and re-open after a rebuild") {
    val path = graft.operators.Similarity.newIndexDir()
    SQ8.buildSq8Index(spark, sf, path)
    val probeFrame = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
    val handle = SQ8.open(spark, path)
    assert(SQ8.probeWith(spark, handle, probeFrame, 5).collect().map(_.toString).toSeq ==
      SQ8.probeSq8Index(spark, sf, path, 5).collect().map(_.toString).toSeq,
      "handle probe diverged from the per-call entry")
    val t2 = 1450000000000L
    assert(SQ8.rangeWith(spark, handle, probeFrame, t2).collect().map(_.toString).toSeq ==
      SQ8.rangeSq8Index(spark, sf, path, t2).collect().map(_.toString).toSeq,
      "handle range diverged from the per-call entry")
    // Staleness: the SAME handle serves the rebuilt index, and the
    // re-open is cached (the PQ handle contract verbatim).
    SQ8.rebalance(spark, path)
    assert(SQ8.probeWith(spark, handle, probeFrame, 5).collect().map(_.toString).toSeq ==
      SQ8.probeSq8Index(spark, sf, path, 5).collect().map(_.toString).toSeq,
      "stale handle did not re-open on the new version")
    assert(handle.currentVersion == graft.operators.IndexSwap.liveVersion(spark, path),
      "re-open was discarded instead of cached")
  }

  test("interrupted rebuild heals: a partial stage is dropped; the live index is untouched") {
    import org.apache.hadoop.fs.Path
    val path = graft.operators.Similarity.newIndexDir()
    SQ8.buildSq8Index(spark, sf, path)
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new Path(s"$path/.stage/codes"))
    fs.create(new Path(s"$path/.stage/codes/part-junk.parquet"), true).close()
    val before = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes"))
      .collect().map(_.toString).sorted.toSeq
    SQ8.recover(spark, path)
    assert(!fs.exists(new Path(s"$path/.stage")))
    assert(spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes"))
      .collect().map(_.toString).sorted.toSeq == before, "rollback touched the live index")
  }
}
