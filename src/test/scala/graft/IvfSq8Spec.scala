package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The composed IVF+SQ8 index beyond the qn45 hash gate: the SCALE
  * claim is that both prunings compose — the byte-rank scan opens only
  * the probed cells' code files, and the refine opens only the
  * shortlist's cells — so these pins are on the physical plan's file
  * counts, which the value-level oracle cannot see.
  */
class IvfSq8Spec extends AnyFunSuite {
  import TestSpark._
  import graft.operators.IvfSq8

  private def prunedScans(df: org.apache.spark.sql.DataFrame) = {
    df.collect() // realize metrics
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => allScans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(allScans) ++
        other.subqueries.flatMap(allScans)
    }
    allScans(df.queryExecution.executedPlan)
  }

  private def countParquet(f: java.io.File): Int =
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).map(countParquet).sum
    else if (f.getName.endsWith(".parquet")) 1 else 0

  test("probe reads only the probed cells' code files and the shortlist cells' cold files") {
    val path = graft.operators.Similarity.newIndexDir()
    IvfSq8.buildIvfSq8Index(spark, sf, 16, path)
    // The byte-rank scan is collected inside the probe call (its
    // shortlist is manifest-class), so pin the SAME cell-scoped codes
    // read the probe issues: routed cells only, a strict subset of the
    // code lake's files.
    val root = graft.operators.IndexSwap.liveRoot(spark, path)
    val cents = spark.read.parquet(s"$root/centroids")
    val probes = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorExprs.l2normNative(col("embedding")).as("nrm"))
    val cells = graft.operators.Similarity.ivfRouteFlat(probes, cents, 4)
      .select("cent_id").distinct().collect().map(_.getLong(0)).toSeq
    val codesRead = graft.operators.Similarity
      .cellScopedRead(spark, path, "codes", cells)
    val codeScans = prunedScans(codesRead)
    val codeFilesRead = codeScans.map(_.metrics("numFiles").value).sum
    val codesTotal = countParquet(new java.io.File(s"$root/codes".stripPrefix("file:")))
    assert(codeFilesRead > 0 && codeFilesRead < codesTotal,
      s"codes scan did not prune: read $codeFilesRead of $codesTotal files")
    // The refine's cold scan IS in the returned plan: shortlist cells
    // only.
    val probed = IvfSq8.probeIvfSq8Index(spark, sf, path, 4, 5)
    val scans = prunedScans(probed)
    val coldScans = scans.filter(_.relation.location.rootPaths.exists(
      _.toString.contains("/vectors")))
    assert(coldScans.nonEmpty, s"no vectors scan found:\n${scans.mkString("\n")}")
    val coldRead = coldScans.map(_.metrics("numFiles").value).sum
    val coldTotal = countParquet(new java.io.File(s"$root/vectors".stripPrefix("file:")))
    assert(coldRead > 0 && coldRead < coldTotal,
      s"vectors scan did not prune: read $coldRead of $coldTotal files")
    assert(probed.count() == 50)
  }

  test("append: O(new) frozen-centroid/frozen-envelope encode; a planted near-copy surfaces; untouched cells keep their files") {
    import org.apache.hadoop.fs.Path
    val path = graft.operators.Similarity.newIndexDir()
    IvfSq8.buildIvfSq8Index(spark, sf, 16, path)
    val root = graft.operators.IndexSwap.liveRoot(spark, path)
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    def cellFiles: Map[String, Set[String]] = {
      val base = new Path(s"$root/codes")
      fs.listStatus(base).filter(_.isDirectory).map { d =>
        d.getPath.getName -> fs.listStatus(d.getPath).map(_.getPath.getName).toSet
      }.toMap
    }
    val before = cellFiles
    val codesBefore = spark.read.parquet(s"$root/codes").count()
    // Near-copy of probe 3 (one dim nudged, same cell, near-identical
    // bytes): must land in probe 3's cell and surface as its top
    // refined neighbor through the composed probe.
    val planted = Tables.embeddings(spark, sf).filter(col("vec_id") === 3)
      .select(lit(55555L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, (x.cast("double") * 1.01).cast("float")).otherwise(x)).as("embedding"))
    IvfSq8.appendToIvfSq8Index(spark, planted, path)
    assert(spark.read.parquet(s"$root/codes").count() == codesBefore + 1)
    val after = cellFiles
    val touched = after.filter { case (cell, files) => before.get(cell) != Some(files) }
    assert(touched.size == 1, s"append touched ${touched.size} cells: ${touched.keys}")
    before.filterKeys(!touched.contains(_)).foreach { case (cell, files) =>
      assert(after(cell) == files, s"untouched cell $cell lost or gained files")
    }
    val top = IvfSq8.probeIvfSq8Index(spark, sf, path, 4, 5)
      .filter(col("qid") === 3 && col("rnk") === 1).collect()
    assert(top.length == 1 && top.head.getLong(2) == 55555L,
      s"appended near-copy not probe 3's top neighbor: ${top.mkString}")
  }

  test("drift lifecycle: balanced appends defer, a skew-concentrated append drops the due marker, maintain rebuilds to a fixpoint") {
    import org.apache.hadoop.fs.Path
    val path = graft.operators.Similarity.newIndexDir()
    IvfSq8.buildIvfSq8Index(spark, sf, 16, path)
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val due = new Path(s"$path/_rebalance_due")
    val rootBefore = graft.operators.IndexSwap.liveRoot(spark, path)
    // A balanced O(new) append under a generous threshold: no marker.
    val balanced = Tables.embeddings(spark, sf).filter(col("vec_id") < 4)
      .select((col("vec_id") + 90000L).as("vec_id"), col("embedding"))
    IvfSq8.appendToIvfSq8Index(spark, balanced, path, autoRebalance = Some(1000))
    assert(!fs.exists(due), "balanced append dropped the due marker")
    assert(!IvfSq8.maintain(spark, path),
      "maintain ran a rebuild with no due marker")
    // 200 near-copies of vector 3 concentrate into ONE cell (~230 rows
    // vs a ~44-row mean): the k=2 occupancy audit must fire — but the
    // append itself stays O(new) and DEFERS the rebuild to maintenance
    // (the version root must not move at append time).
    val base = Tables.embeddings(spark, sf).filter(col("vec_id") === 3)
      .select(col("embedding"))
    val skewed = base.crossJoin(spark.range(200).select(col("id")))
      .select((col("id") + 70000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, (x.cast("double") * (lit(1.0) + col("id").cast("double") / 1e5))
            .cast("float")).otherwise(x)).as("embedding"))
    IvfSq8.appendToIvfSq8Index(spark, skewed, path, autoRebalance = Some(2))
    assert(fs.exists(due), "skew-concentrated append did not drop the due marker")
    assert(graft.operators.IndexSwap.liveRoot(spark, path) == rootBefore,
      "append ran the rebuild inline instead of deferring it")
    // Maintenance consumes the marker: a rebuild commits a new version,
    // the marker is gone, a second maintain is a no-op.
    assert(IvfSq8.maintain(spark, path), "maintain did not run the due rebuild")
    val rootAfter = graft.operators.IndexSwap.liveRoot(spark, path)
    assert(rootAfter != rootBefore, "rebuild did not commit a new version")
    assert(!fs.exists(due), "maintain left the due marker behind")
    assert(!IvfSq8.maintain(spark, path), "second maintain re-ran the rebuild")
    // The rebuild is a deterministic fixpoint: running it again yields
    // byte-identical codes (same hash seeds, same envelope, same
    // assignment over the same lake).
    def codesSorted(root: String): Seq[String] =
      spark.read.parquet(s"$root/codes")
        .select(col("vec_id"), col("q8"), col("cent_id").cast("long"))
        .collect().map(_.toString).sorted.toSeq
    val c1 = codesSorted(rootAfter)
    IvfSq8.rebalance(spark, path)
    val c2 = codesSorted(graft.operators.IndexSwap.liveRoot(spark, path))
    assert(c1 == c2, "rebalance is not a fixpoint")
    // The grown index still serves: the skew copies rank as probe 3's
    // nearest neighbors through the rebuilt route.
    val top = IvfSq8.probeIvfSq8Index(spark, sf, path, 4, 5)
      .filter(col("qid") === 3 && col("rnk") === 1).collect()
    assert(top.length == 1 && top.head.getLong(2) >= 70000L,
      s"post-rebuild probe lost the planted near-copies: ${top.mkString}")
  }

  test("streaming vector ingest maintains the composed index: foreachBatch O(new) appends, drift rebuild fires mid-stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = graft.operators.Similarity.newIndexDir()
    IvfSq8.buildIvfSq8Index(spark, sf, 16, path)
    val verBefore = graft.operators.IndexSwap.liveVersion(spark, path)
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = ms.toDF().toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          // The sibling rungs' split: the append stays O(new) (a fired
          // occupancy audit only drops the marker); maintenance runs as
          // its own per-batch step and pays the rebuild off the hot path.
          IvfSq8.appendToIvfSq8Index(b.sparkSession, b, path, autoRebalance = Some(2))
          IvfSq8.maintain(b.sparkSession, path): Unit
      }.start()
    try {
      // A drifting stream: every row is a near-copy of vector 3, so the
      // appends concentrate into ONE cell and the k=2 occupancy audit
      // must fire mid-stream (clamped-envelope encode semantics — the
      // copies quantize against the FROZEN envelope until the rebuild
      // re-freezes it over the grown corpus).
      val base = Tables.embeddings(spark, sf).filter(col("vec_id") === 3)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val rows = (0 until 120).map { i =>
        val e = base.clone(); e(0) = (e(0) * (1.0f + i / 1e4f))
        ((60000L + i, e.toSeq))
      }
      rows.grouped(30).foreach { batch => ms.addData(batch.toSeq); q.processAllAvailable() }
    } finally q.stop()
    assert(graft.operators.IndexSwap.liveVersion(spark, path) > verBefore,
      "drift rebuild never fired in-stream")
    val root = graft.operators.IndexSwap.liveRoot(spark, path)
    val vecs = spark.read.parquet(s"$root/vectors")
    val codes = spark.read.parquet(s"$root/codes")
    assert(codes.count() == vecs.count(), "stream left the tiers unreconciled")
    assert(vecs.filter(col("vec_id") >= 60000L).count() == 120,
      "stream lost or duplicated appended vectors")
    // The rebuilt index serves: a streamed near-copy is probe 3's top.
    val top = IvfSq8.probeIvfSq8Index(spark, sf, path, 4, 5)
      .filter(col("qid") === 3 && col("rnk") === 1).collect()
    assert(top.length == 1 && top.head.getLong(2) >= 60000L,
      s"streamed near-copies lost by the rebuilt route: ${top.mkString}")
  }

  test("append crash window: an orphaned cold row is invisible to probes and healed by the next rebuild") {
    val path = graft.operators.Similarity.newIndexDir()
    IvfSq8.buildIvfSq8Index(spark, sf, 16, path)
    val baseline = IvfSq8.probeIvfSq8Index(spark, sf, path, 4, 5)
      .collect().map(_.toString).toSeq
    // Simulate the documented one-crash-window state: the COLD write
    // landed (in vector 3's own cell), the CODES write did not — the
    // safe polarity: dead bytes, never a shortlisted ghost.
    val root = graft.operators.IndexSwap.liveRoot(spark, path)
    val cell3 = spark.read.parquet(s"$root/vectors")
      .filter(col("vec_id") === 3).select(col("cent_id").cast("long")).head().getLong(0)
    Tables.embeddings(spark, sf).filter(col("vec_id") === 3)
      .select(lit(88888L).as("vec_id"), col("embedding"),
        graft.functions.VectorExprs.l2normNative(col("embedding")).as("nrm"),
        lit(cell3).as("cent_id"))
      .write.mode("append").partitionBy("cent_id").parquet(s"$root/vectors")
    assert(IvfSq8.probeIvfSq8Index(spark, sf, path, 4, 5)
        .collect().map(_.toString).toSeq == baseline,
      "an orphaned cold row leaked into probe results")
    // The rebuild re-derives all four sides from the cold lake: the
    // orphan becomes a first-class indexed row (a near-copy of probe 3
    // — it must now surface as its top neighbor).
    IvfSq8.rebalance(spark, path)
    val r2 = graft.operators.IndexSwap.liveRoot(spark, path)
    assert(spark.read.parquet(s"$r2/codes").count() ==
      spark.read.parquet(s"$r2/vectors").count(),
      "rebuild did not reconcile the tiers")
    val top = IvfSq8.probeIvfSq8Index(spark, sf, path, 4, 5)
      .filter(col("qid") === 3 && col("rnk") === 1).collect()
    assert(top.length == 1 && top.head.getLong(2) == 88888L,
      s"repaired orphan not probe 3's top neighbor: ${top.mkString}")
  }

  test("rank stays within the routed cells: a vector outside every probed cell never surfaces") {
    val path = graft.operators.Similarity.newIndexDir()
    IvfSq8.buildIvfSq8Index(spark, sf, 16, path)
    // Each surfaced vec_id's assigned cell must be one of its probe's
    // routed cells — read the assignment back from the cold lake.
    val res = IvfSq8.probeIvfSq8Index(spark, sf, path, 4, 5)
      .select(col("qid"), col("vec_id"))
    val asg = spark.read.parquet(
      graft.operators.IndexSwap.side(spark, path, "vectors"))
      .select(col("vec_id"), col("cent_id").cast("long").as("cent_id"))
    val cents = spark.read.parquet(
      graft.operators.IndexSwap.side(spark, path, "centroids"))
    val probes = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorExprs.l2normNative(col("embedding")).as("nrm"))
    val routed = graft.operators.Similarity.ivfRouteFlat(probes, cents, 4)
      .select(col("probe_id").as("qid"), col("cent_id"))
    val offCell = res.join(asg, Seq("vec_id"))
      .join(routed, Seq("qid", "cent_id"), "left_anti")
    assert(offCell.count() == 0, "a result came from an unprobed cell")
  }

  test("delete: a tombstoned row vanishes from probes immediately; the measured trigger defers the physical reclaim to maintain") {
    import spark.implicits._
    val path = graft.operators.Similarity.newIndexDir()
    IvfSq8.buildIvfSq8Index(spark, sf, 16, path)
    val verBefore = graft.operators.IndexSwap.liveVersion(spark, path)
    // LOGICAL phase: tombstone probe 3's current top neighbor — the
    // very next probe must exclude it (no rewrite, no rebuild), and
    // the freed shortlist slot keeps the result set full.
    val top1 = IvfSq8.probeIvfSq8Index(spark, sf, path, 4, 5)
      .filter(col("qid") === 3 && col("rnk") === 1).head().getLong(2)
    IvfSq8.delete(spark, Seq(top1).toDF("vec_id"), path)
    val afterOne = IvfSq8.probeIvfSq8Index(spark, sf, path, 4, 5).collect()
    assert(!afterOne.exists(_.getLong(2) == top1), "a tombstoned row surfaced")
    assert(afterOne.length == 50, "delete shrank the result set instead of the candidates")
    assert(graft.operators.IndexSwap.liveVersion(spark, path) == verBefore,
      "a single tombstone must not rebuild anything")
    // MEASURED reclaim: tombstone a seventh of the corpus past the 10%
    // ratio — the delete stays O(deleted) (marker only), maintain pays
    // the rebuild, and the fresh version has no deletes side at all.
    IvfSq8.delete(spark,
      Tables.embeddings(spark, sf).filter(col("vec_id") % 7 === 0).select("vec_id"),
      path, autoRebalance = Some(0.1))
    assert(graft.operators.IndexSwap.liveVersion(spark, path) == verBefore,
      "the delete itself rebuilt — reclaim must be deferred to maintenance")
    assert(IvfSq8.maintain(spark, path), "tombstone-ratio trigger never fired")
    val root = graft.operators.IndexSwap.liveRoot(spark, path)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/deletes")),
      "rebuild carried the tombstones forward instead of reclaiming them")
    val vecs = spark.read.parquet(s"$root/vectors")
    assert(vecs.filter(col("vec_id") % 7 === 0 || col("vec_id") === top1).count() == 0,
      "a deleted row survived the physical reclaim")
    assert(spark.read.parquet(s"$root/codes").count() == vecs.count(),
      "reclaim left the tiers unreconciled")
    val res = IvfSq8.probeIvfSq8Index(spark, sf, path, 4, 5).collect()
    assert(res.length == 50 &&
      !res.exists(r => r.getLong(2) % 7 == 0 || r.getLong(2) == top1),
      "the reclaimed index still served a deleted row")
  }

  test("delete audit: the absolute tombstone cap fires independent of the ratio") {
    // A ratio alone lets the tombstone window grow O(N) — the
    // spark.graft.index.maxTombstones cap (default 10M) bounds the
    // probe-side anti-join's build side in ABSOLUTE terms at any
    // corpus size. Pin the cap path with a ratio too loose to fire.
    import spark.implicits._
    val path = graft.operators.Similarity.newIndexDir()
    IvfSq8.buildIvfSq8Index(spark, sf, 16, path)
    spark.conf.set("spark.graft.index.maxTombstones", "0")
    try {
      IvfSq8.delete(spark, Seq(3L).toDF("vec_id"), path,
        autoRebalance = Some(0.99))
      assert(IvfSq8.maintain(spark, path),
        "the absolute cap did not fire (ratio was 1/500, cap 0)")
    } finally spark.conf.unset("spark.graft.index.maxTombstones")
  }

  test("filtered search: the predicate binds before the shortlist; handle and per-call agree") {
    val path = graft.operators.Similarity.newIndexDir()
    IvfSq8.buildIvfSq8Index(spark, sf, 16, path)
    val probes = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
    // A filter tight enough that post-filtering a fixed 16-wide
    // shortlist could NOT fill k=5 for every probe (1/3 of the corpus
    // survives; 16 * 1/3 ≈ 5.3 expected — a pre-rank semi-join always
    // fills all 5 from the routed cells' allowed rows).
    val allowed = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 3 === 1).select("vec_id")
    val res = IvfSq8.probeIvfSq8IndexWith(spark, probes, path, 4, 5,
      allowed = Some(allowed)).collect()
    assert(res.length == 50, s"filtered probe lost rows: ${res.length}")
    assert(res.forall(_.getLong(2) % 3 == 1), "a disallowed row surfaced")
    // The unfiltered probe must DIFFER (the filter really binds) and
    // the handle must serve the identical filtered rows.
    val unfiltered = IvfSq8.probeIvfSq8Index(spark, sf, path, 4, 5).collect()
    assert(!unfiltered.forall(_.getLong(2) % 3 == 1),
      "fixture degenerate: the unfiltered top-k already satisfies the filter")
    val viaHandle = IvfSq8.openIvfSq8Index(spark, path)
      .probeWith(spark, probes, 4, 5, allowed = Some(allowed)).collect()
    assert(viaHandle.map(_.toString).toSeq == res.map(_.toString).toSeq,
      "handle filtered probe diverged from the per-call entry")
  }

  test("serve handle: probeWith matches the per-call entry bit-exactly and re-opens after a rebuild") {
    val path = graft.operators.Similarity.newIndexDir()
    IvfSq8.buildIvfSq8Index(spark, sf, 16, path)
    val perCall = IvfSq8.probeIvfSq8Index(spark, sf, path, 4, 5)
      .collect().map(_.toString).toSeq
    val handle = IvfSq8.openIvfSq8Index(spark, path)
    val probeFrame = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
    val viaHandle = handle.probeWith(spark, probeFrame, 4, 5)
      .collect().map(_.toString).toSeq
    assert(viaHandle == perCall, "handle probe diverged from the per-call entry")
    // Staleness: a rebuild commits a new version; the SAME handle must
    // serve the rebuilt index (auto re-open), not its stale snapshot.
    IvfSq8.rebalance(spark, path)
    val afterRebuild = IvfSq8.probeIvfSq8Index(spark, sf, path, 4, 5)
      .collect().map(_.toString).toSeq
    val viaStaleHandle = handle.probeWith(spark, probeFrame, 4, 5)
      .collect().map(_.toString).toSeq
    assert(viaStaleHandle == afterRebuild, "stale handle did not re-open on the new version")
    // Refresh caching: the re-open is HELD in the handle — one open per
    // committed version, not one per probe after the first rebuild.
    assert(handle.currentVersion == graft.operators.IndexSwap.liveVersion(spark, path),
      "re-open was discarded instead of cached — every later probe would re-open")
  }
}
