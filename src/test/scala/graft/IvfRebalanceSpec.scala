package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted IVF index's measured drift answer: the autoRebalance
  * trigger on append (the cleanBatch autoCompact pattern applied to the
  * ANN index), the in-place re-cluster it fires, and the two-phase swap
  * that makes the rewrite crash-safe.
  */
class IvfRebalanceSpec extends AnyFunSuite {
  import TestSpark._
  import graft.operators.Similarity

  /** A drift flood: `count` near-identical vectors around one direction
    * (10 sub-directions so a re-cluster CAN split them), ids offset to
    * 50000+. Under the build-time centroids they all land in one cell.
    */
  private def drift(count: Int) = {
    import spark.implicits._
    (0 until count).map { i =>
      val sub = i % 10
      val base = Array.tabulate(64)(d => math.cos(0.05 * d).toFloat)
      base(0) = (base(0) + 0.005f * sub + 0.00001f * i)
      (50000L + i, base.toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
  }

  test("autoRebalance trigger: a drift flood skews one cell, the measured trigger restores balance") {
    val path = Similarity.newIndexDir()
    Similarity.buildIvfIndex(spark, sf, 16, path)
    val before = Similarity.ivfCellStats(spark, path)
    val total0 = before.values.sum

    // Flood WITHOUT the trigger: the drift concentrates.
    Similarity.appendToIvfIndex(spark, drift(200), path)
    val skewed = Similarity.ivfCellStats(spark, path)
    val meanSkewed = skewed.values.sum.toDouble / 16
    assert(skewed.values.max > 4 * meanSkewed,
      s"fixture did not skew: max=${skewed.values.max} mean=$meanSkewed")

    // One more appended batch WITH the trigger: it must fire and the
    // re-cluster must spread the hot mass.
    Similarity.appendToIvfIndex(spark,
      drift(40).select((col("vec_id") + 10000).as("vec_id"), col("embedding")), path,
      autoRebalance = Some(4))
    val after = Similarity.ivfCellStats(spark, path)
    val nCells = after.size
    val meanAfter = after.values.sum.toDouble / nCells
    assert(after.values.sum == total0 + 200 + 40, "rebalance lost or duplicated rows")
    assert(after.values.max <= 4 * meanAfter,
      s"trigger did not restore balance: max=${after.values.max} mean=$meanAfter cells=$nCells")
    // sqrt(N) adaptation: the rebuilt index has more cells than the
    // 16-cell build (N grew to ~440).
    assert(nCells > 16, s"cell count did not adapt: $nCells")

    // Post-rebalance the index is still a valid probe target.
    val probed = Similarity.probeIvfIndex(spark, sf, path, 4, 5)
    val rows = probed.collect()
    assert(rows.length == 50 && rows.forall(_.getLong(2) >= 0))

    // Every lake row's stored cent_id IS the argmax-cosine assignment
    // against the rebuilt centroids (full check at fixture size).
    val lake = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "vectors"))
    val cents = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "centroids"))
    import graft.functions.VectorExprs.dotNative
    import graft.functions.TextFns.{cosine, e6}
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cscore").desc, col("cent_id").asc)
    val expected = lake.select(col("vec_id"), col("embedding"), col("nrm"))
      .join(broadcast(cents), expr("true"))
      .select(col("vec_id"), col("cent_id"),
        e6(cosine(dotNative(col("ce"), col("embedding")), col("cn"), col("nrm"))).as("cscore"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("cent_id").as("expected_cent"))
    val mismatches = lake.select(col("vec_id"), col("cent_id").cast("long").as("stored_cent"))
      .join(expected, Seq("vec_id"))
      .filter(col("stored_cent") =!= col("expected_cent")).count()
    assert(mismatches == 0, s"$mismatches rows mis-assigned after rebalance")
  }

  test("rebalance is deterministic: a second run over the same lake is a fixpoint") {
    val path = Similarity.newIndexDir()
    Similarity.buildIvfIndex(spark, sf, 16, path)
    Similarity.rebalance(spark, path)
    val cents1 = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "centroids"))
      .collect().map(_.getLong(0)).sorted.toSeq
    val stats1 = Similarity.ivfCellStats(spark, path)
    Similarity.rebalance(spark, path)
    val cents2 = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "centroids"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(cents1 == cents2, "re-clustering the same lake picked different seeds")
    assert(Similarity.ivfCellStats(spark, path) == stats1)
  }

  test("streaming vector ingest: foreachBatch append maintains the index, trigger fires mid-stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = Similarity.newIndexDir()
    Similarity.buildIvfIndex(spark, sf, 16, path)
    val total0 = Similarity.ivfCellStats(spark, path).values.sum
    val cells0 = Similarity.ivfCellStats(spark, path).size

    // appendToIvfIndex IS the micro-batch primitive: a vector stream
    // maintains the persisted index through foreachBatch, and the
    // measured rebalance trigger runs inside the stream — no separate
    // maintenance job to schedule.
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = ms.toDF().toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          Similarity.appendToIvfIndex(b.sparkSession, b, path, autoRebalance = Some(4))
      }.start()
    try {
      val driftRows = drift(200).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
      driftRows.grouped(50).foreach { batch => ms.addData(batch.toSeq); q.processAllAvailable() }
    } finally q.stop()

    val after = Similarity.ivfCellStats(spark, path)
    assert(after.values.sum == total0 + 200, "stream lost or duplicated vectors")
    // The drift concentrated in one cell; the in-stream trigger must
    // have re-clustered (adapted cell count) and restored balance.
    assert(after.size > cells0, s"trigger never fired in-stream: cells=${after.size}")
    val mean = after.values.sum.toDouble / after.size
    assert(after.values.max <= 4 * mean,
      s"stream left the index skewed: max=${after.values.max} mean=$mean")
    assert(Similarity.probeIvfIndex(spark, sf, path, 4, 5).count() == 50)
  }

  test("interrupted rebuild heals: a partial stage is dropped, the live version untouched") {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    def fsOf(p: String) = new Path(p).getFileSystem(conf)

    val p1 = Similarity.newIndexDir()
    Similarity.buildIvfIndex(spark, sf, 16, p1)
    val fs1 = fsOf(p1)
    fs1.mkdirs(new Path(s"$p1/.stage/vectors"))
    fs1.create(new Path(s"$p1/.stage/vectors/part-junk.parquet"), true).close()
    val beforeStats = Similarity.ivfCellStats(spark, p1)
    val verBefore = graft.operators.IndexSwap.liveVersion(spark, p1)
    Similarity.recover(spark, p1)
    assert(!fs1.exists(new Path(s"$p1/.stage")))
    assert(graft.operators.IndexSwap.liveVersion(spark, p1) == verBefore)
    assert(Similarity.ivfCellStats(spark, p1) == beforeStats, "rollback touched the live index")
    assert(Similarity.probeIvfIndex(spark, sf, p1, 4, 5).count() == 50)
  }

  test("legacy unversioned layout serves as version 0 and migrates on the first rebuild") {
    import org.apache.hadoop.fs.Path
    // An index whose sides live directly at the root (the pre-versioned
    // layout): readers resolve it as version 0 unchanged; the first
    // rebuild commits v1; the SECOND retires the legacy dirs after
    // their reader-grace cycle.
    val path = Similarity.newIndexDir()
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    Similarity.buildIvfIndex(spark, sf, 16, path) // v1 under the new protocol
    // Reconstruct the legacy shape: move v1's sides to the root.
    require(fs.rename(new Path(s"$path/v1/vectors"), new Path(s"$path/vectors")))
    require(fs.rename(new Path(s"$path/v1/centroids"), new Path(s"$path/centroids")))
    fs.delete(new Path(s"$path/v1"), true)
    assert(graft.operators.IndexSwap.liveVersion(spark, path) == 0L)
    val legacyProbe = Similarity.probeIvfIndex(spark, sf, path, 4, 5).count()
    assert(legacyProbe == 50, "legacy layout must keep serving")
    // Tombstones against the legacy root land at $path/deletes — the
    // optional side must follow the same v0 grace-then-retire cycle
    // (round-17 review: it used to survive forever as dead storage).
    Similarity.delete(spark,
      Tables.embeddings(spark, sf).filter(col("vec_id") % 7 === 0).select("vec_id"),
      path)
    assert(fs.exists(new Path(s"$path/deletes")), "legacy delete must tombstone at the root")
    Similarity.rebalance(spark, path) // -> v1; legacy kept as grace
    assert(graft.operators.IndexSwap.liveVersion(spark, path) == 1L)
    assert(fs.exists(new Path(s"$path/vectors")), "legacy sides are the v0 reader grace")
    assert(fs.exists(new Path(s"$path/deletes")), "legacy tombstones share the grace window")
    Similarity.rebalance(spark, path) // -> v2; legacy retired
    assert(!fs.exists(new Path(s"$path/vectors")), "legacy sides should retire at v2")
    assert(!fs.exists(new Path(s"$path/deletes")), "legacy tombstones should retire with them")
    assert(Similarity.probeIvfIndex(spark, sf, path, 4, 5).count() == 50)
  }

  test("readers never race a rebuild: a plan resolved BEFORE the swap completes AFTER it, on its snapshot") {
    val path = Similarity.newIndexDir()
    Similarity.buildIvfIndex(spark, sf, 16, path)
    val reader = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "vectors"))
    val before = reader.count()
    Similarity.rebalance(spark, path) // commits v2 while `reader` holds v1 paths
    assert(reader.count() == before, "pre-swap reader lost its snapshot")
    assert(graft.operators.IndexSwap.liveVersion(spark, path) == 2L)
  }

  test("commit refuses a stage missing a declared side — a partial stage can never become a live version") {
    import org.apache.hadoop.fs.Path
    val path = Similarity.newIndexDir()
    Similarity.buildIvfIndex(spark, sf, 16, path)
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new Path(s"$path/.stage/vectors")) // centroids side missing
    val e = intercept[IllegalArgumentException] {
      graft.operators.IndexSwap.commit(spark, path, Seq("vectors", "centroids"))
    }
    assert(e.getMessage.contains("missing sides centroids"), e.getMessage)
    assert(graft.operators.IndexSwap.liveVersion(spark, path) == 1L, "partial stage was committed")
    Similarity.recover(spark, path)
    assert(Similarity.probeIvfIndex(spark, sf, path, 4, 5).count() == 50)
  }

  test("retention knob: at retainVersions=3 a reader survives TWO commits; the version retires only past the window") {
    import org.apache.hadoop.fs.Path
    val path = Similarity.newIndexDir()
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    spark.conf.set("spark.graft.index.retainVersions", "3")
    try {
      Similarity.buildIvfIndex(spark, sf, 16, path) // v1
      val reader = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "vectors"))
      val before = reader.count()
      Similarity.rebalance(spark, path) // v2
      Similarity.rebalance(spark, path) // v3
      assert(fs.exists(new Path(s"$path/v1")), "v1 must survive two commits at K=3")
      assert(reader.count() == before, "reader two rebuild cycles old lost its snapshot at K=3")
      Similarity.rebalance(spark, path) // v4: v1 is the 3rd prior — still retained
      assert(fs.exists(new Path(s"$path/v1")), "K=3 retains three prior versions")
      Similarity.rebalance(spark, path) // v5: v1 now outside the window
      assert(!fs.exists(new Path(s"$path/v1")), "v1 should retire once outside the retained window")
      assert(fs.exists(new Path(s"$path/v2")) && fs.exists(new Path(s"$path/v3")),
        "v2-v4 remain inside the K=3 window")
    } finally spark.conf.unset("spark.graft.index.retainVersions")
    // Default retention (1 prior version) still applies after unset.
    Similarity.rebalance(spark, path) // v6: default K=1 keeps only v5
    assert(!fs.exists(new Path(s"$path/v3")) && !fs.exists(new Path(s"$path/v4")),
      "default retention must prune beyond one prior version")
    assert(fs.exists(new Path(s"$path/v5")))
    assert(Similarity.probeIvfIndex(spark, sf, path, 4, 5).count() == 50)
  }

  test("IVF serve handle: probeWith matches the per-call entry bit-exactly and re-opens after a rebuild") {
    val path = Similarity.newIndexDir()
    Similarity.buildIvfIndex(spark, sf, 16, path)
    val probeFrame = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
    val perCall = Similarity.probeIvfIndexWith(spark, probeFrame, path, 4, 5)
      .collect().map(_.toString).toSeq
    val handle = Similarity.open(spark, path)
    val viaHandle = Similarity.probeWith(spark, handle, probeFrame, 4, 5)
      .collect().map(_.toString).toSeq
    assert(viaHandle == perCall, "handle probe diverged from the per-call entry")
    Similarity.rebalance(spark, path)
    val afterRebuild = Similarity.probeIvfIndexWith(spark, probeFrame, path, 4, 5)
      .collect().map(_.toString).toSeq
    val viaStale = Similarity.probeWith(spark, handle, probeFrame, 4, 5)
      .collect().map(_.toString).toSeq
    assert(viaStale == afterRebuild, "stale handle did not re-open on the new version")
    // Refresh caching (round-15 ADVICE): the stale probe's re-open is
    // HELD — the handle now serves the committed version, so later
    // probes pay the staleness LIST only, not a fresh open each call.
    assert(handle.currentVersion == graft.operators.IndexSwap.liveVersion(spark, path),
      "re-open was discarded instead of cached — every later probe would re-open")
  }

  test("handle grace under retention: an in-flight probe on v_N completes on its snapshot while the handle flips to v_{N+1}") {
    // The round-16 verdict's interleaving: retainVersions=2 keeps v_N
    // alive through the commit, a probe whose plan resolved v_N must
    // complete on that snapshot (no failure, no mixed-version read —
    // rows appended after its file listing stay invisible), and the
    // SAME handle's next call serves v_{N+1}.
    val path = Similarity.newIndexDir()
    spark.conf.set("spark.graft.index.retainVersions", "2")
    try {
      Similarity.buildIvfIndex(spark, sf, 16, path) // v1
      val probeFrame = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
        .select("vec_id", "embedding")
      val handle = Similarity.open(spark, path)
      val baseline = Similarity.probeWith(spark, handle, probeFrame, 4, 5)
        .collect().map(_.toString).toSeq
      // In flight: routing + version pin + file listing happen at call
      // time; the collect comes AFTER the commit lands.
      val inFlight = Similarity.probeWith(spark, handle, probeFrame, 4, 5)
      assert(handle.currentVersion == 1L)
      // Mid-batch: a near-copy of probe 3 lands and a rebalance commits
      // v2 while the v1 plan is still open.
      val planted = Tables.embeddings(spark, sf).filter(col("vec_id") === 3)
        .select(lit(77777L).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, (x.cast("double") * 1.01).cast("float")).otherwise(x)).as("embedding"))
      Similarity.appendToIvfIndex(spark, planted, path)
      Similarity.rebalance(spark, path) // v2; v1 retained at K=2
      assert(graft.operators.IndexSwap.liveVersion(spark, path) == 2L)
      // The in-flight probe completes CORRECTLY and ENTIRELY on v_N:
      // bit-identical to the pre-commit baseline — the planted row
      // (visible only to v2 plans, or to v1 plans listed after the
      // append) must not leak in, and nothing may fail.
      val late = inFlight.collect().map(_.toString).toSeq
      assert(late == baseline,
        "in-flight v_N probe saw mixed-version or post-listing rows")
      // The handle flips on its next call: v2 serves, the near-copy is
      // probe 3's top neighbor, and the flip is cached.
      val after = Similarity.probeWith(spark, handle, probeFrame, 4, 5)
      val top = after.filter(col("probe_id") === 3 && col("rnk") === 1).collect()
      assert(top.length == 1 && top.head.getLong(2) == 77777L,
        s"post-flip probe missed the committed near-copy: ${top.mkString}")
      assert(handle.currentVersion == 2L, "handle did not flip to the committed version")
    } finally spark.conf.unset("spark.graft.index.retainVersions")
  }

  test("delete: a tombstoned row vanishes from probes immediately; the rebuild reclaims it physically") {
    import spark.implicits._
    val path = graft.operators.Similarity.newIndexDir()
    Similarity.buildIvfIndex(spark, sf, 16, path)
    val top1 = Similarity.probeIvfIndex(spark, sf, path, 4, 5)
      .filter(col("probe_id") === 3 && col("rnk") === 1).head().getAs[Long]("vec_id")
    Similarity.delete(spark, Seq(top1).toDF("vec_id"), path)
    val after = Similarity.probeIvfIndex(spark, sf, path, 4, 5).collect()
    assert(!after.exists(_.getAs[Long]("vec_id") == top1), "a tombstoned row surfaced")
    assert(after.length == 50, "delete shrank the result set instead of the candidates")
    Similarity.rebalance(spark, path)
    val root = graft.operators.IndexSwap.liveRoot(spark, path)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/deletes")),
      "rebuild carried the tombstones forward instead of reclaiming them")
    assert(spark.read.parquet(s"$root/vectors").filter(col("vec_id") === top1).count() == 0,
      "a deleted row survived the physical reclaim")
    val res = Similarity.probeIvfIndex(spark, sf, path, 4, 5).collect()
    assert(res.length == 50 && !res.exists(_.getAs[Long]("vec_id") == top1),
      "the reclaimed index still served a deleted row")
  }

}
