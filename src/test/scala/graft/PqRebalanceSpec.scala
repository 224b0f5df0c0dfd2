package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted IVFADC (PQ) index's drift lifecycle — the
  * IvfRebalanceSpec discipline applied to the five-sided index:
  * the autoRebalance trigger on append (fire-and-DEFER via the
  * `_rebalance_due` marker + the PQ.maintain entry), the in-place
  * re-cluster AND codebook retrain, encoding preservation (the meta
  * side), and the two-phase swap's crash polarities.
  */
class PqRebalanceSpec extends AnyFunSuite {
  import TestSpark._
  import graft.operators.PQ

  /** The IvfRebalanceSpec drift flood: `count` near-identical vectors
    * around one direction (10 sub-directions so a re-cluster CAN split
    * them), ids offset to 50000+. Under the build-time centroids they
    * all land in one cell. */
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

  // ---- the NorthStarSpec driver-replay arithmetic (same folds, same
  // e6 floors, same tie-breaks as the native expressions) -------------
  private def dot(a: Seq[Float], b: Seq[Float]): Double =
    a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
  private def e6(x: Double): Long = math.floor(x * 1000000L).toLong
  private def e6vec(a: Seq[Float]): Array[Long] =
    a.map(x => math.floor(x.toDouble * 1000000).toLong).toArray
  private def d2(a: Array[Long], b: Array[Long]): Long =
    a.zip(b).foldLeft(0L) { case (acc, (x, y)) => acc + (x - y) * (x - y) }

  test("autoRebalance trigger: drift flood skews one cell; the rebuild re-clusters AND retrains codes") {
    val path = graft.operators.Similarity.newIndexDir()
    PQ.buildPqIndex(spark, sf, path)
    val total0 = graft.operators.Similarity.ivfCellStats(spark, path).values.sum

    // Flood WITHOUT the trigger: the drift concentrates in one cell.
    PQ.appendToPqIndex(spark, drift(200), path)
    val skewed = graft.operators.Similarity.ivfCellStats(spark, path)
    val meanSkewed = skewed.values.sum.toDouble / 16
    assert(skewed.values.max > 4 * meanSkewed,
      s"fixture did not skew: max=${skewed.values.max} mean=$meanSkewed")

    // One more appended batch WITH the trigger: it must FIRE but DEFER
    // (round 14) — the append returns at append cost with the cell
    // layout untouched, leaving a `_rebalance_due` marker; a full
    // retrain inside the ingest path would make micro-batch latency
    // unbounded at scale.
    PQ.appendToPqIndex(spark,
      drift(40).select((col("vec_id") + 10000).as("vec_id"), col("embedding")), path,
      autoRebalance = Some(4))
    assert(new java.io.File(s"$path/_rebalance_due").exists,
      "fired trigger did not leave the due marker")
    val deferred = graft.operators.Similarity.ivfCellStats(spark, path)
    assert(deferred.size == 16, s"append rebuilt inline: cells=${deferred.size}")
    // The maintenance entry consumes the marker and runs the swap;
    // a second call is a no-op.
    assert(PQ.maintain(spark, path), "maintenance missed the due marker")
    assert(!new java.io.File(s"$path/_rebalance_due").exists, "due marker not consumed")
    assert(!PQ.maintain(spark, path), "maintenance re-ran without a due marker")
    val after = graft.operators.Similarity.ivfCellStats(spark, path)
    val nCells = after.size
    val meanAfter = after.values.sum.toDouble / nCells
    assert(after.values.sum == total0 + 200 + 40, "rebalance lost or duplicated rows")
    assert(after.values.max <= 4 * meanAfter,
      s"trigger did not restore balance: max=${after.values.max} mean=$meanAfter cells=$nCells")
    assert(nCells > 16, s"cell count did not adapt: $nCells")
    // Hot and cold tiers stay row-consistent through the swap.
    assert(spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes")).count() == total0 + 240)
    assert(PQ.probePqIndex(spark, sf, path, 4, 5).count() == 50)

    // Independent driver replay over the PERSISTED artifacts (the
    // NorthStarSpec discipline — not a second Spark plan): (a) every
    // stored cent_id is the argmax-cosine assignment against the
    // rebuilt centroids; (b) every stored code word is the argmin
    // encode against the RETRAINED codebooks. A rebalance that swapped
    // cells without retraining, or retrained without re-encoding,
    // cannot survive (b).
    val cents = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "centroids"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
    val cbBySub = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codebooks"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getSeq[Long](3).toArray))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1)).toMap
    val lake = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "vectors"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("cent_id").cast("long").as("cent_id")).collect()
    val codesMap = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes"))
      .select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    lake.foreach { r =>
      val (id, emb, nrm, storedCent) =
        (r.getLong(0), r.getSeq[Float](1), r.getDouble(2), r.getLong(3))
      val best = cents.map { case (cid, ce, cn) =>
        (e6(dot(ce, emb) / (cn * nrm)), cid)
      }.maxBy { case (sc, cid) => (sc, -cid) }
      assert(best._2 == storedCent, s"vec $id mis-assigned: stored $storedCent vs ${best._2}")
      val emb6 = e6vec(emb)
      val expected = (0 until 4).map { m =>
        val v6 = emb6.slice(m * 16, m * 16 + 16)
        cbBySub(m.toLong).map { case (code, c6) => (d2(v6, c6), code) }
          .minBy { case (d, code) => (d, code) }._2
      }
      assert(codesMap(id) == expected, s"vec $id codes stale after rebalance")
    }
  }

  test("rebalance is deterministic: a second run over the same lake is a fixpoint") {
    val path = graft.operators.Similarity.newIndexDir()
    PQ.buildPqIndex(spark, sf, path)
    PQ.rebalance(spark, path)
    val cents1 = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "centroids"))
      .collect().map(_.getLong(0)).sorted.toSeq
    val cb1 = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codebooks"))
      .collect().map(_.toString).sorted.toSeq
    val stats1 = graft.operators.Similarity.ivfCellStats(spark, path)
    PQ.rebalance(spark, path)
    val cents2 = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "centroids"))
      .collect().map(_.getLong(0)).sorted.toSeq
    val cb2 = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codebooks"))
      .collect().map(_.toString).sorted.toSeq
    assert(cents1 == cents2, "re-clustering the same lake picked different seeds")
    assert(cb1 == cb2, "retraining the same lake produced different codebooks")
    assert(graft.operators.Similarity.ivfCellStats(spark, path) == stats1)
  }

  test("rebalance preserves the residual encoding: marker intact, appended near-dup still found") {
    val path = graft.operators.Similarity.newIndexDir()
    PQ.buildPqIndex(spark, sf, path, residual = true)
    val planted = Tables.embeddings(spark, sf).filter(col("vec_id") === 3)
      .select(lit(77777L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, (x.cast("double") * 1.01).cast("float")).otherwise(x)).as("embedding"))
    PQ.appendToPqIndex(spark, planted, path)
    PQ.rebalance(spark, path)
    assert(PQ.indexMeta(spark, path)._1,
      "rebalance dropped the residual meta flag")
    // The retrained residual chain (new centroids -> new residuals ->
    // new codebooks -> new codes) must still surface the planted
    // near-copy as probe 3's top refined neighbor.
    val top = PQ.probePqIndex(spark, sf, path, 4, 5)
      .filter(col("qid") === 3 && col("rnk") === 1).collect()
    assert(top.length == 1 && top.head.getLong(2) == 77777L,
      s"planted near-copy lost by residual rebalance: ${top.mkString}")
  }

  test("streaming vector ingest maintains the PQ index: foreachBatch append, trigger fires mid-stream") {
    // The IvfRebalanceSpec streaming discipline, PQ edition:
    // appendToPqIndex IS the micro-batch primitive — encode against
    // the frozen codebooks per batch, the measured rebalance trigger
    // (re-cluster + codebook retrain + re-encode) runs INSIDE the
    // stream, no separate maintenance job.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = graft.operators.Similarity.newIndexDir()
    PQ.buildPqIndex(spark, sf, path)
    val total0 = graft.operators.Similarity.ivfCellStats(spark, path).values.sum
    val cells0 = graft.operators.Similarity.ivfCellStats(spark, path).size
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = ms.toDF().toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          // The round-14 split: the APPEND stays bounded (a fired
          // trigger only drops the due marker), and the maintenance
          // entry runs as its own step — here per micro-batch, at
          // production scale on whatever cadence bounds serving-time
          // staleness. The rebalance still happens "in-stream" in the
          // sense that the stream drives it; it no longer holds the
          // append itself hostage.
          PQ.appendToPqIndex(b.sparkSession, b, path, autoRebalance = Some(4))
          PQ.maintain(b.sparkSession, path): Unit
      }.start()
    try {
      val driftRows = drift(200).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
      driftRows.grouped(50).foreach { batch => ms.addData(batch.toSeq); q.processAllAvailable() }
    } finally q.stop()
    val after = graft.operators.Similarity.ivfCellStats(spark, path)
    assert(after.values.sum == total0 + 200, "stream lost or duplicated vectors")
    assert(after.size > cells0, s"trigger never fired in-stream: cells=${after.size}")
    val mean = after.values.sum.toDouble / after.size
    assert(after.values.max <= 4 * mean,
      s"stream left the index skewed: max=${after.values.max} mean=$mean")
    // Hot/cold row consistency through the in-stream swap, and the
    // index still serves.
    assert(spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes")).count() == total0 + 200)
    assert(PQ.probePqIndex(spark, sf, path, 4, 5).count() == 50)
  }

  test("interrupted rebuild heals: a partial stage is dropped, the live version untouched (five sides)") {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    def fsOf(p: String) = new Path(p).getFileSystem(conf)

    // The ONE crash state with residue under the versioned commit: a
    // stage written partially (here: junk in one side) before the
    // atomic rename. Recovery drops it; the live version never moved.
    val p1 = graft.operators.Similarity.newIndexDir()
    PQ.buildPqIndex(spark, sf, p1)
    val fs1 = fsOf(p1)
    fs1.mkdirs(new Path(s"$p1/.stage/codes"))
    fs1.create(new Path(s"$p1/.stage/codes/part-junk.parquet"), true).close()
    val beforeStats = graft.operators.Similarity.ivfCellStats(spark, p1)
    val verBefore = graft.operators.IndexSwap.liveVersion(spark, p1)
    PQ.recover(spark, p1)
    assert(!fs1.exists(new Path(s"$p1/.stage")))
    assert(graft.operators.IndexSwap.liveVersion(spark, p1) == verBefore)
    assert(graft.operators.Similarity.ivfCellStats(spark, p1) == beforeStats,
      "rollback touched the live index")
    assert(PQ.probePqIndex(spark, sf, p1, 4, 5).count() == 50)
  }

  test("version retention: a rebuild commits v+1, keeps v as reader grace, drops v-1") {
    import org.apache.hadoop.fs.Path
    val path = graft.operators.Similarity.newIndexDir()
    PQ.buildPqIndex(spark, sf, path)        // v1
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    assert(graft.operators.IndexSwap.liveVersion(spark, path) == 1L)
    PQ.rebalance(spark, path)        // v2: v1 retained (grace)
    assert(graft.operators.IndexSwap.liveVersion(spark, path) == 2L)
    assert(fs.exists(new Path(s"$path/v1")), "previous version must survive one cycle")
    PQ.rebalance(spark, path)        // v3: v1 dropped, v2 retained
    assert(graft.operators.IndexSwap.liveVersion(spark, path) == 3L)
    assert(!fs.exists(new Path(s"$path/v1")), "v1 should be retired at v3")
    assert(fs.exists(new Path(s"$path/v2")))
    assert(PQ.probePqIndex(spark, sf, path, 4, 5).count() == 50)
  }

  test("readers never race a rebuild: a plan resolved BEFORE the swap completes AFTER it, on its snapshot") {
    // The round-14 verdict's concurrent-reader window, closed and
    // pinned: under the old same-path swap this reader failed with
    // FILE_NOT_EXIST (measured — a rebuilt side's part files have
    // fresh names); under the versioned commit its resolved version
    // dir is immutable and retained a full cycle.
    val path = graft.operators.Similarity.newIndexDir()
    PQ.buildPqIndex(spark, sf, path)
    val reader = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes"))
    val before = reader.count()
    PQ.rebalance(spark, path) // commits v2 while `reader` holds v1 paths
    assert(reader.count() == before, "pre-swap reader lost its snapshot")
    // A fresh resolve sees the new version.
    assert(graft.operators.IndexSwap.liveVersion(spark, path) == 2L)
    assert(spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes"))
      .count() == before) // rebalance preserves row count on an unchanged lake
  }
}
