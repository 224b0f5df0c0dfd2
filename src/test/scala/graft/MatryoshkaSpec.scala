package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted matryoshka rung beyond the qn49 hash gate: probe/plan
  * parity at the qn35 sizing, the O(new) append discipline, the
  * measured compaction lifecycle, and the stored-width loud failure —
  * the same pins its BinarySig/SQ8 siblings carry.
  */
class MatryoshkaSpec extends AnyFunSuite {
  import TestSpark._
  import graft.operators.Matryoshka

  test("persisted probe == the in-flight qn35 plan at prefix 16") {
    val path = graft.operators.Similarity.newIndexDir()
    Matryoshka.buildMatryoshkaIndex(spark, sf, 16, path)
    val persisted = Matryoshka.probeMatryoshkaIndex(spark, sf, path, 5)
      .collect().map(_.toString).toSeq
    val inflight = graft.operators.Similarity.qn35Plan(spark, sf)
      .collect().map(_.toString).toSeq
    assert(persisted == inflight, "persisted probe diverged from the qn35 plan")
  }

  test("serve handle: probe matches the per-call entry bit-exactly and re-opens after a rebuild") {
    val path = graft.operators.Similarity.newIndexDir()
    Matryoshka.buildMatryoshkaIndex(spark, sf, 16, path)
    val probeFrame = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
    val handle = Matryoshka.open(spark, path)
    assert(Matryoshka.probeWith(spark, handle, probeFrame, 5).collect().map(_.toString).toSeq ==
      Matryoshka.probeMatryoshkaIndex(spark, sf, path, 5)
        .collect().map(_.toString).toSeq,
      "handle probe diverged from the per-call entry")
    Matryoshka.rebalance(spark, path)
    assert(Matryoshka.probeWith(spark, handle, probeFrame, 5).collect().map(_.toString).toSeq ==
      Matryoshka.probeMatryoshkaIndex(spark, sf, path, 5)
        .collect().map(_.toString).toSeq,
      "stale handle did not re-open on the new version")
    assert(handle.currentVersion == graft.operators.IndexSwap.liveVersion(spark, path),
      "re-open was discarded instead of cached")
  }

  test("append: O(new) stored-prefix encode; a planted near-copy surfaces; wrong-width probe fails loudly") {
    val path = graft.operators.Similarity.newIndexDir()
    Matryoshka.buildMatryoshkaIndex(spark, sf, 16, path)
    val root = graft.operators.IndexSwap.liveRoot(spark, path)
    val preBefore = spark.read.parquet(s"$root/prefix").count()
    // Near-copy of probe 3 (one dim nudged INSIDE the prefix so the
    // prefix rank sees it): must surface as probe 3's top refined
    // neighbor through the persisted probe.
    val planted = Tables.embeddings(spark, sf).filter(col("vec_id") === 3)
      .select(lit(66666L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, (x.cast("double") * 1.01).cast("float")).otherwise(x)).as("embedding"))
    Matryoshka.appendToMatryoshkaIndex(spark, planted, path)
    assert(spark.read.parquet(s"$root/prefix").count() == preBefore + 1)
    val top = Matryoshka.probeMatryoshkaIndex(spark, sf, path, 5)
      .filter(col("qid") === 3 && col("rnk") === 1).collect()
    assert(top.length == 1 && top.head.getLong(2) == 66666L,
      s"appended near-copy not probe 3's top neighbor: ${top.mkString}")
    // A 32-dim probe against the 64-dim index raises through the
    // stored-width guard (the round-16 ADVICE discipline), never
    // silently mis-slices.
    val narrow = Tables.embeddings(spark, sf).filter(col("vec_id") < 3)
      .select(col("vec_id"), slice(col("embedding"), 1, 32).as("embedding"))
    val e = intercept[Exception] {
      Matryoshka.probeMatryoshkaIndexWith(spark, narrow, path, 5).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("embedding width")), msgs(e).mkString(" | "))
  }

  test("compaction lifecycle: appends fragment past the threshold, the deferred marker fires, maintain compacts to a fixpoint") {
    import org.apache.hadoop.fs.Path
    val path = graft.operators.Similarity.newIndexDir()
    Matryoshka.buildMatryoshkaIndex(spark, sf, 16, path)
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val due = new Path(s"$path/_rebalance_due")
    val rootBefore = graft.operators.IndexSwap.liveRoot(spark, path)
    def appendBatch(tag: Long): Unit =
      Matryoshka.appendToMatryoshkaIndex(spark,
        Tables.embeddings(spark, sf).filter(col("vec_id") < 4)
          .select((col("vec_id") + tag).as("vec_id"), col("embedding")),
        path, autoCompact = Some(8))
    appendBatch(80000L)
    // Appends fragment; under the 8-file threshold nothing fires yet
    // or fires exactly when the listing crosses it — drive until it
    // does, asserting the append itself never rebalances inline.
    var i = 0L
    while (!fs.exists(due) && i < 16) { appendBatch(81000L + i * 10); i += 1 }
    assert(fs.exists(due), "fragmenting appends never dropped the due marker")
    assert(graft.operators.IndexSwap.liveRoot(spark, path) == rootBefore,
      "append compacted inline instead of deferring")
    assert(Matryoshka.maintain(spark, path),
      "maintain did not run the due compaction")
    assert(!fs.exists(due), "maintain left the due marker behind")
    assert(!Matryoshka.maintain(spark, path),
      "second maintain re-ran the compaction")
    val rootAfter = graft.operators.IndexSwap.liveRoot(spark, path)
    assert(rootAfter != rootBefore, "compaction did not commit a new version")
    // Fixpoint: a second rebalance yields byte-identical prefix rows.
    def prefixSorted(root: String): Seq[String] =
      spark.read.parquet(s"$root/prefix").collect().map(_.toString).sorted.toSeq
    val p1 = prefixSorted(rootAfter)
    Matryoshka.rebalance(spark, path)
    val p2 = prefixSorted(graft.operators.IndexSwap.liveRoot(spark, path))
    assert(p1 == p2, "rebalance is not a fixpoint")
  }

  test("streaming vector ingest maintains the index: foreachBatch O(new) appends, compaction fires mid-stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.hadoop.fs.Path
    val path = graft.operators.Similarity.newIndexDir()
    Matryoshka.buildMatryoshkaIndex(spark, sf, 16, path)
    val total0 = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "prefix")).count()
    def preFiles: Int = graft.sources.LakeListing.dataFiles(
      spark.sessionState.newHadoopConf(),
      new Path(graft.operators.IndexSwap.side(spark, path, "prefix"))).size
    val threshold = preFiles + 3
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = ms.toDF().toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          // The sibling rungs' split: the append stays O(new) (a fired
          // trigger only drops the marker); maintenance runs as its
          // own per-batch step.
          Matryoshka.appendToMatryoshkaIndex(b.sparkSession, b, path,
            autoCompact = Some(threshold))
          Matryoshka.maintain(b.sparkSession, path): Unit
      }.start()
    val verBefore = graft.operators.IndexSwap.liveVersion(spark, path)
    try {
      val rows = Tables.embeddings(spark, sf).filter(col("vec_id") < 40)
        .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
      rows.grouped(8).foreach { batch => ms.addData(batch.toSeq); q.processAllAvailable() }
    } finally q.stop()
    assert(spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "prefix")).count() == total0 + 40,
      "stream lost or duplicated prefix rows")
    assert(graft.operators.IndexSwap.liveVersion(spark, path) > verBefore,
      "compaction never fired in-stream")
    assert(preFiles <= threshold + 1, s"stream left the layout fragmented: $preFiles files")
    assert(Matryoshka.probeMatryoshkaIndex(spark, sf, path, 5).count() == 50)
  }

  test("delete: a tombstoned row vanishes from probes immediately; the rebuild reclaims it physically") {
    import spark.implicits._
    val path = graft.operators.Similarity.newIndexDir()
    Matryoshka.buildMatryoshkaIndex(spark, sf, 16, path)
    val top1 = Matryoshka.probeMatryoshkaIndex(spark, sf, path, 5)
      .filter(col("qid") === 3 && col("rnk") === 1).head().getAs[Long]("vec_id")
    Matryoshka.delete(spark, Seq(top1).toDF("vec_id"), path)
    val after = Matryoshka.probeMatryoshkaIndex(spark, sf, path, 5).collect()
    assert(!after.exists(_.getAs[Long]("vec_id") == top1), "a tombstoned row surfaced")
    assert(after.length == 50, "delete shrank the result set instead of the candidates")
    Matryoshka.rebalance(spark, path)
    val root = graft.operators.IndexSwap.liveRoot(spark, path)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/deletes")),
      "rebuild carried the tombstones forward instead of reclaiming them")
    assert(spark.read.parquet(s"$root/vectors").filter(col("vec_id") === top1).count() == 0,
      "a deleted row survived the physical reclaim")
    val res = Matryoshka.probeMatryoshkaIndex(spark, sf, path, 5).collect()
    assert(res.length == 50 && !res.exists(_.getAs[Long]("vec_id") == top1),
      "the reclaimed index still served a deleted row")
  }

}
