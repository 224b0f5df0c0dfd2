package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted binary-signature index's lifecycle beyond the qn34b
  * hash gate: in-flight parity, O(new) appends with bit-identical
  * encoding, the compaction rebalance as a deterministic fixpoint, the
  * IndexSwap crash polarity, and the loud width/NULL guard.
  */
class BinarySigSpec extends AnyFunSuite {
  import TestSpark._
  import graft.operators.BinarySig

  test("persisted signature probe replays qn34 bit-exactly") {
    val path = graft.operators.Similarity.newIndexDir()
    BinarySig.buildBinIndex(spark, sf, path)
    val persisted = BinarySig.probeBinIndex(spark, sf, path, 5)
      .collect().map(_.toString).toSeq
    val inFlight = SparkEntry.queries("qn34_ann_binary_hamming")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(persisted == inFlight)
  }

  test("serve handle: probe matches the per-call entry bit-exactly (both sig forms) and re-opens after a rebuild") {
    val path = graft.operators.Similarity.newIndexDir()
    BinarySig.buildBinIndex(spark, sf, path)
    val probeFrame = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
    val handle = BinarySig.open(spark, path)
    assert(BinarySig.probeWith(spark, handle, probeFrame, 5).collect().map(_.toString).toSeq ==
      BinarySig.probeBinIndex(spark, sf, path, 5).collect().map(_.toString).toSeq,
      "handle probe diverged from the per-call entry")
    BinarySig.rebalance(spark, path)
    assert(BinarySig.probeWith(spark, handle, probeFrame, 5).collect().map(_.toString).toSeq ==
      BinarySig.probeBinIndex(spark, sf, path, 5).collect().map(_.toString).toSeq,
      "stale handle did not re-open on the new version")
    assert(handle.currentVersion == graft.operators.IndexSwap.liveVersion(spark, path),
      "re-open was discarded instead of cached")
    // Multi-word form: the handle caches (multiWord, dim) — the
    // 256-dim wide derivation exercises the cached-form path end to
    // end.
    val wide = Tables.embeddings(spark, sf).select(col("vec_id"),
      graft.operators.Similarity.wideEmb(col("embedding")).as("embedding"))
    val path2 = graft.operators.Similarity.newIndexDir()
    BinarySig.buildBinIndexFrom(spark, wide, path2, 256)
    val wideProbes = wide.filter(col("vec_id") < 10)
    assert(BinarySig.probeWith(spark, BinarySig.open(spark, path2), wideProbes, 5)
        .collect().map(_.toString).toSeq ==
      BinarySig.probeBinIndexWith(spark, wideProbes, path2, 5)
        .collect().map(_.toString).toSeq,
      "multi-word handle probe diverged from the per-call entry")
  }

  test("append signs new vectors bit-identically; a planted near-copy is found; old cells untouched") {
    val path = graft.operators.Similarity.newIndexDir()
    BinarySig.buildBinIndex(spark, sf, path)
    val codesBefore = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes")).count()
    // Near-copy of probe 3 with one dim nudged (same signs): identical
    // signature -> Hamming 0 -> must surface as probe 3's top refined
    // neighbor.
    val planted = Tables.embeddings(spark, sf).filter(col("vec_id") === 3)
      .select(lit(66666L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, (x.cast("double") * 1.01).cast("float")).otherwise(x)).as("embedding"))
    BinarySig.appendToBinIndex(spark, planted, path)
    assert(spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes")).count() == codesBefore + 1)
    // The appended signature equals the in-flight fold of the same
    // vector (parameter-free encoder — nothing to freeze, nothing to
    // drift).
    val storedSig = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes"))
      .filter(col("vec_id") === 66666L).head().getAs[Long]("sig")
    val flightSig = planted
      .select(graft.operators.BinarySig.sigCol(col("embedding")).as("sig"))
      .head().getLong(0)
    assert(storedSig == flightSig)
    val top = BinarySig.probeBinIndex(spark, sf, path, 5)
      .filter(col("qid") === 3 && col("rnk") === 1).collect()
    assert(top.length == 1 && top.head.getLong(2) == 66666L,
      s"planted near-copy not probe 3's top neighbor: ${top.mkString}")
  }

  test("rebalance compacts the grown index and is a deterministic fixpoint") {
    val path = graft.operators.Similarity.newIndexDir()
    BinarySig.buildBinIndex(spark, sf, path)
    val extra = Tables.embeddings(spark, sf).filter(col("vec_id") < 20)
      .select((col("vec_id") + 90000L).as("vec_id"), col("embedding"))
    BinarySig.appendToBinIndex(spark, extra, path)
    BinarySig.rebalance(spark, path)
    val codes1 = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes"))
      .collect().map(_.toString).sorted.toSeq
    BinarySig.rebalance(spark, path)
    val codes2 = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes"))
      .collect().map(_.toString).sorted.toSeq
    assert(codes1 == codes2, "rebalance is not a fixpoint")
    assert(codes1.length == spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "vectors")).count().toInt,
      "codes and cold tiers diverged")
    assert(BinarySig.probeBinIndex(spark, sf, path, 5).count() == 50)
  }

  test("interrupted rebuild heals: a partial stage is dropped; the live index is untouched") {
    import org.apache.hadoop.fs.Path
    val path = graft.operators.Similarity.newIndexDir()
    BinarySig.buildBinIndex(spark, sf, path)
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new Path(s"$path/.stage/codes"))
    fs.create(new Path(s"$path/.stage/codes/part-junk.parquet"), true).close()
    val before = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes"))
      .collect().map(_.toString).sorted.toSeq
    BinarySig.recover(spark, path)
    assert(!fs.exists(new Path(s"$path/.stage")))
    assert(spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes"))
      .collect().map(_.toString).sorted.toSeq == before, "rollback touched the live index")
  }

  test("dim-parameterized multi-word lifecycle at 256 dims: sig layout, append parity, rebalance fixpoint, width guard") {
    import graft.operators.Similarity
    val path = Similarity.newIndexDir()
    val wide = Tables.embeddings(spark, sf)
      .select(col("vec_id"), Similarity.wideEmb(col("embedding")).as("embedding"))
    BinarySig.buildBinIndexFrom(spark, wide, path, 256)
    // Stored sig = 4 longs; word w equals the declarative per-word
    // fold over dims [64w, 64w+64) — the layout contract the oracle's
    // 4-word comprehension replays.
    val hofWord = (w: Int) => aggregate(sequence(lit(0), lit(63)), lit(0L), (acc, b) =>
      acc.bitwiseOR(when(element_at(col("embedding"), b + lit(w * 64 + 1)).cast("double") > 0,
        call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))))
    val expected = wide.filter(col("vec_id") < 5)
      .select(col("vec_id"), array((0 until 4).map(hofWord): _*).as("esig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val stored = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes"))
      .filter(col("vec_id") < 5)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(stored == expected, "multi-word sig layout diverged from the per-word fold")
    // Append at 256 dims: a sign-identical near-copy of probe 3 must
    // Hamming-0 its way to the top refined neighbor (same contract as
    // the 64-dim append test).
    val planted = wide.filter(col("vec_id") === 3)
      .select(lit(77777L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, (x.cast("double") * 1.01).cast("float")).otherwise(x)).as("embedding"))
    BinarySig.appendToBinIndex(spark, planted, path)
    val probes = wide.filter(col("vec_id") < 10)
    val top = BinarySig.probeBinIndexWith(spark, probes, path, 5)
      .filter(col("qid") === 3 && col("rnk") === 1).collect()
    assert(top.length == 1 && top.head.getLong(2) == 77777L,
      s"planted wide near-copy not probe 3's top neighbor: ${top.mkString}")
    // Rebalance stays a deterministic fixpoint in the multi-word form.
    BinarySig.rebalance(spark, path)
    val codes1 = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes"))
      .collect().map(_.toString).sorted.toSeq
    BinarySig.rebalance(spark, path)
    val codes2 = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes"))
      .collect().map(_.toString).sorted.toSeq
    assert(codes1 == codes2, "multi-word rebalance is not a fixpoint")
    // A 64-dim probe against the 256-dim index fails loudly, never
    // NULL-ranks: probes encode at the STORED dim (round-16 ADVICE —
    // a probe-row-inferred dim let same-word-count width mismatches
    // through), so sigWordsCol's width guard raises during the probe.
    val narrowProbes = Tables.embeddings(spark, sf).filter(col("vec_id") < 3)
      .select("vec_id", "embedding")
    val e = intercept[Exception] {
      BinarySig.probeBinIndexWith(spark, narrowProbes, path, 5)
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("embedding width")), msgs(e).mkString(" | "))
  }

  test("auto-compaction: appends fragment past the threshold, the deferred marker fires, maintain compacts to a fixpoint") {
    import org.apache.hadoop.fs.Path
    val path = graft.operators.Similarity.newIndexDir()
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    BinarySig.buildBinIndex(spark, sf, path)
    val verBefore = graft.operators.IndexSwap.liveVersion(spark, path)
    def codeFiles: Int = graft.sources.LakeListing.dataFiles(
      spark.sessionState.newHadoopConf(),
      new Path(graft.operators.IndexSwap.side(spark, path, "codes"))).size
    val builtFiles = codeFiles
    // Fragment: several small appends, each under the threshold until
    // the last — the trigger must DEFER (marker, not an in-append
    // compaction), keeping every append O(new).
    val threshold = builtFiles + 3
    (0 until 5).foreach { i =>
      val batch = Tables.embeddings(spark, sf).filter(col("vec_id") < 4)
        .select((col("vec_id") + lit(100000L + i * 10)).as("vec_id"), col("embedding"))
      BinarySig.appendToBinIndex(spark, batch, path, autoCompact = Some(threshold))
    }
    assert(codeFiles > threshold, s"fixture did not fragment: $codeFiles files")
    assert(fs.exists(new Path(s"$path/_rebalance_due")), "trigger never dropped the marker")
    assert(graft.operators.IndexSwap.liveVersion(spark, path) == verBefore,
      "append ran the compaction inline instead of deferring")
    // Maintenance consumes the marker: compaction rewrites both tiers
    // (file count back to build-class), version bumps, marker gone.
    assert(BinarySig.maintain(spark, path), "maintain did not run the due compaction")
    assert(!fs.exists(new Path(s"$path/_rebalance_due")))
    assert(codeFiles <= builtFiles + 1, s"compaction did not defragment: $codeFiles files")
    assert(graft.operators.IndexSwap.liveVersion(spark, path) == verBefore + 1)
    assert(!BinarySig.maintain(spark, path), "maintain re-ran without a marker")
    // The compacted index still serves the exact qn34 contract rows.
    assert(BinarySig.probeBinIndex(spark, sf, path, 5).count() == 50)
  }

  test("streaming vector ingest maintains the signature index: foreachBatch O(new) appends, compaction fires mid-stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.hadoop.fs.Path
    val path = graft.operators.Similarity.newIndexDir()
    BinarySig.buildBinIndex(spark, sf, path)
    val total0 = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes")).count()
    def codeFiles: Int = graft.sources.LakeListing.dataFiles(
      spark.sessionState.newHadoopConf(),
      new Path(graft.operators.IndexSwap.side(spark, path, "codes"))).size
    val threshold = codeFiles + 3
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = ms.toDF().toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          // The PqRebalanceSpec split: the append stays O(new) (a
          // fired trigger only drops the marker); maintenance runs as
          // its own per-batch step.
          BinarySig.appendToBinIndex(b.sparkSession, b, path, autoCompact = Some(threshold))
          BinarySig.maintain(b.sparkSession, path): Unit
      }.start()
    val verBefore = graft.operators.IndexSwap.liveVersion(spark, path)
    try {
      val rows = Tables.embeddings(spark, sf).filter(col("vec_id") < 40)
        .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
      rows.grouped(8).foreach { batch => ms.addData(batch.toSeq); q.processAllAvailable() }
    } finally q.stop()
    assert(spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes")).count() == total0 + 40,
      "stream lost or duplicated signatures")
    assert(graft.operators.IndexSwap.liveVersion(spark, path) > verBefore,
      "compaction never fired in-stream")
    assert(codeFiles <= threshold + 1, s"stream left the layout fragmented: $codeFiles files")
    assert(BinarySig.probeBinIndex(spark, sf, path, 5).count() == 50)
  }

  test("append crash window: an orphaned cold row is invisible to probes and healed by the next compaction") {
    val path = graft.operators.Similarity.newIndexDir()
    BinarySig.buildBinIndex(spark, sf, path)
    val baseline = BinarySig.probeBinIndex(spark, sf, path, 5).collect().map(_.toString).toSeq
    // Simulate the documented one-crash-window state: the COLD write
    // landed, the CODES write did not (the safe polarity — dead bytes,
    // never a shortlisted ghost).
    val orphan = Tables.embeddings(spark, sf).filter(col("vec_id") === 3)
      .select(lit(88888L).as("vec_id"), col("embedding"),
        graft.functions.VectorExprs.l2normNative(col("embedding")).as("nrm"))
    orphan.write.mode("append")
      .parquet(graft.operators.IndexSwap.side(spark, path, "vectors"))
    assert(BinarySig.probeBinIndex(spark, sf, path, 5).collect().map(_.toString).toSeq == baseline,
      "an orphaned cold row leaked into probe results")
    // The compaction re-signs from the cold lake: the orphan becomes a
    // first-class indexed row (88888 is a near-copy of probe 3 — it
    // must now surface as its top neighbor).
    BinarySig.rebalance(spark, path)
    val codes = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes"))
    assert(codes.count() ==
      spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "vectors")).count(),
      "compaction did not reconcile the tiers")
    val top = BinarySig.probeBinIndex(spark, sf, path, 5)
      .filter(col("qid") === 3 && col("rnk") === 1).collect()
    assert(top.length == 1 && top.head.getLong(2) == 88888L,
      s"repaired orphan not probe 3's top neighbor: ${top.mkString}")
  }

  test("width mismatch and NULL elements fail loudly, never sign deficient bits") {
    import spark.implicits._
    def rootMessages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val path = graft.operators.Similarity.newIndexDir()
    BinarySig.buildBinIndex(spark, sf, path)
    val short = Seq((99991L, Seq(1.0f, -2.0f))).toDF("vec_id", "embedding")
    val e1 = intercept[Throwable] { BinarySig.appendToBinIndex(spark, short, path) }
    assert(rootMessages(e1).contains("embedding width"), rootMessages(e1))
    val withNull = Seq((99992L, (0 until 64).map(d =>
      if (d == 7) null else java.lang.Float.valueOf(d.toFloat)))).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val e2 = intercept[Throwable] { BinarySig.appendToBinIndex(spark, withNull, path) }
    assert(rootMessages(e2).contains("NULL element") || rootMessages(e2).contains("!= 64"),
      rootMessages(e2))
  }

  test("delete: a tombstoned row vanishes from probes immediately; the rebuild reclaims it physically") {
    import spark.implicits._
    val path = graft.operators.Similarity.newIndexDir()
    graft.operators.BinarySig.buildBinIndex(spark, sf, path)
    val top1 = graft.operators.BinarySig.probeBinIndex(spark, sf, path, 5)
      .filter(col("qid") === 3 && col("rnk") === 1).head().getAs[Long]("vec_id")
    graft.operators.BinarySig.delete(spark, Seq(top1).toDF("vec_id"), path)
    val after = graft.operators.BinarySig.probeBinIndex(spark, sf, path, 5).collect()
    assert(!after.exists(_.getAs[Long]("vec_id") == top1), "a tombstoned row surfaced")
    assert(after.length == 50, "delete shrank the result set instead of the candidates")
    graft.operators.BinarySig.rebalance(spark, path)
    val root = graft.operators.IndexSwap.liveRoot(spark, path)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/deletes")),
      "rebuild carried the tombstones forward instead of reclaiming them")
    assert(spark.read.parquet(s"$root/vectors").filter(col("vec_id") === top1).count() == 0,
      "a deleted row survived the physical reclaim")
    val res = graft.operators.BinarySig.probeBinIndex(spark, sf, path, 5).collect()
    assert(res.length == 50 && !res.exists(_.getAs[Long]("vec_id") == top1),
      "the reclaimed index still served a deleted row")
  }

}
