package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ZoneMap

class ZoneMapSpec extends AnyFunSuite {
  import TestSpark._

  private def mkLake(): (String, String) = {
    val base = Files.createTempDirectory("zonemap").toString
    val dataDir = s"$base/orders"
    // Range-partitioned write: each of the 8 files holds a disjoint
    // o_orderkey range, so zones are tight and a narrow predicate
    // should touch few files.
    Tables.orders(spark, sf)
      .repartitionByRange(8, col("o_orderkey"))
      .write.parquet(dataDir)
    ZoneMap.writeStats(spark, dataDir, s"$base/stats", Seq("o_orderkey"))
    (dataDir, s"$base/stats")
  }

  test("pruned scan reads a strict subset of files with identical results") {
    val (dataDir, statsPath) = mkLake()
    val full = spark.read.parquet(dataDir)
      .filter(col("o_orderkey") >= 100L && col("o_orderkey") <= 140L)
      .collect().map(_.getAs[Long]("o_orderkey")).sorted.toSeq
    val pruned = ZoneMap.prunedScan(spark, dataDir, statsPath, "o_orderkey", 100L, 140L)
    assert(pruned.nFilesTotal == 8)
    assert(pruned.nFilesRead < pruned.nFilesTotal, "no files were skipped")
    assert(pruned.nFilesRead >= 1)
    val got = pruned.df.collect().map(_.getAs[Long]("o_orderkey")).sorted.toSeq
    assert(got == full)
  }

  test("a predicate outside every zone reads zero files and zero rows") {
    val (dataDir, statsPath) = mkLake()
    val pruned = ZoneMap.prunedScan(spark, dataDir, statsPath, "o_orderkey",
      Long.MaxValue - 10, Long.MaxValue)
    assert(pruned.nFilesRead == 0)
    assert(pruned.df.count() == 0)
    // Schema survives the empty case (consumers can still bind columns).
    assert(pruned.df.columns.contains("o_totalprice"))
  }

  test("pruned scan keeps Hive partition columns on a partitioned lake") {
    val base = Files.createTempDirectory("zonemap_part").toString
    val dataDir = s"$base/orders"
    Tables.orders(spark, sf)
      .withColumn("o_year", year(col("o_orderdate")))
      .repartitionByRange(4, col("o_orderkey"))
      .write.partitionBy("o_year").parquet(dataDir)
    ZoneMap.writeStats(spark, dataDir, s"$base/stats", Seq("o_orderkey"))
    val pruned = ZoneMap.prunedScan(spark, dataDir, s"$base/stats", "o_orderkey", 0L, 50L)
    assert(pruned.nFilesRead < pruned.nFilesTotal)
    // The directory-derived partition column survives the file-subset
    // read (basePath), and its values are real. Compare through strings,
    // so the check holds whatever the session's partition type inference.
    val rows = pruned.df.select("o_orderkey", "o_year").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.get(1).toString.toInt >= 1992))
  }

  test("partition pruning composes with zone pruning: both skip, results identical") {
    val base = Files.createTempDirectory("zonemap_compose").toString
    val dataDir = s"$base/orders"
    Tables.orders(spark, sf)
      .withColumn("o_year", year(col("o_orderdate")))
      .repartitionByRange(4, col("o_orderkey"))
      .write.partitionBy("o_year").parquet(dataDir)
    ZoneMap.writeStats(spark, dataDir, s"$base/stats", Seq("o_orderkey"))
    val pr = ZoneMap.prunedScanPartitioned(spark, dataDir, s"$base/stats",
      Seq(("o_year", 1996)), Seq(("o_orderkey", 100L, 900L)))
    // Multiplicative accounting: partition pruning strictly shrinks the
    // file set, zone pruning strictly shrinks it AGAIN.
    assert(pr.nPartFiles < pr.nFilesTotal, s"partition pruning idle: $pr")
    assert(pr.nFilesRead < pr.nPartFiles, s"zone pruning idle within partitions: $pr")
    assert(pr.nFilesRead >= 1)
    val full = spark.read.parquet(dataDir)
      .filter(col("o_year").cast("string") === "1996" &&
        col("o_orderkey").between(100L, 900L))
      .collect().map(_.getAs[Long]("o_orderkey")).sorted.toSeq
    assert(full.nonEmpty, "fixture predicate selected no rows — test is vacuous")
    val got = pr.df.collect().map(_.getAs[Long]("o_orderkey")).sorted.toSeq
    assert(got == full)
  }

  test("incremental refresh covers a newly appended partition; composed scan stays lossless") {
    val base = Files.createTempDirectory("zonemap_refresh_part").toString
    val dataDir = s"$base/orders"
    val orders = Tables.orders(spark, sf).withColumn("o_year", year(col("o_orderdate")))
    orders.filter(col("o_year") =!= 1996)
      .repartitionByRange(4, col("o_orderkey"))
      .write.partitionBy("o_year").parquet(dataDir)
    ZoneMap.writeStats(spark, dataDir, s"$base/stats", Seq("o_orderkey"))
    // A new partition lands (the streaming-append shape); refresh must
    // scan ONLY its files, and the composed scan must see them.
    orders.filter(col("o_year") === 1996)
      .repartitionByRange(4, col("o_orderkey"))
      .write.mode("append").partitionBy("o_year").parquet(dataDir)
    val newly = ZoneMap.refreshStats(spark, dataDir, s"$base/stats", Seq("o_orderkey"))
    assert(newly > 0 && newly <= 4, s"refresh covered $newly files, expected the new partition's")
    assert(ZoneMap.refreshStats(spark, dataDir, s"$base/stats", Seq("o_orderkey")) == 0,
      "second refresh with no new files must be a no-op")
    val pr = ZoneMap.prunedScanPartitioned(spark, dataDir, s"$base/stats",
      Seq(("o_year", 1996)), Seq(("o_orderkey", 100L, 900L)))
    assert(pr.nFilesRead >= 1 && pr.nPartFiles <= 4)
    val full = orders.filter(col("o_year") === 1996 && col("o_orderkey").between(100L, 900L))
      .collect().map(_.getAs[Long]("o_orderkey")).sorted.toSeq
    assert(full.nonEmpty)
    assert(pr.df.collect().map(_.getAs[Long]("o_orderkey")).sorted.toSeq == full)
  }

  test("pruning is lossless across seeded-random predicate ranges") {
    val (dataDir, statsPath) = mkLake()
    val full = spark.read.parquet(dataDir).select("o_orderkey")
      .collect().map(_.getLong(0)).sorted
    val rnd = new scala.util.Random(42)
    val maxKey = full.last
    (1 to 12).foreach { _ =>
      val a = rnd.nextLong().abs % (maxKey + 1)
      val b = rnd.nextLong().abs % (maxKey + 1)
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      val pruned = ZoneMap.prunedScan(spark, dataDir, statsPath, "o_orderkey", lo, hi)
      val got = pruned.df.select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
      val want = full.filter(k => k >= lo && k <= hi).toSeq
      assert(got == want, s"range [$lo,$hi] diverged")
    }
  }

  test("incremental refresh covers only new files and stays lossless") {
    val base = Files.createTempDirectory("zonemap_incr").toString
    val dataDir = s"$base/orders"
    val orders = Tables.orders(spark, sf)
    // Batch 1: the first half of the key space, then a cold refresh.
    orders.filter(col("o_orderkey") < 750L)
      .repartitionByRange(4, col("o_orderkey")).write.parquet(dataDir)
    assert(ZoneMap.refreshStats(spark, dataDir, s"$base/stats", Seq("o_orderkey")) == 4L)
    // Batch 2 appends; refresh must cover exactly the new files.
    orders.filter(col("o_orderkey") >= 750L)
      .repartitionByRange(4, col("o_orderkey"))
      .write.mode("append").parquet(dataDir)
    assert(ZoneMap.refreshStats(spark, dataDir, s"$base/stats", Seq("o_orderkey")) == 4L)
    // Idempotent: nothing new, nothing appended.
    assert(ZoneMap.refreshStats(spark, dataDir, s"$base/stats", Seq("o_orderkey")) == 0L)
    val nStats = spark.read.parquet(s"$base/stats").count()
    assert(nStats == 8L)
    // Pruning over the incrementally built stats is still exact, and a
    // second-batch-only range skips every batch-1 file.
    val pruned = ZoneMap.prunedScan(spark, dataDir, s"$base/stats", "o_orderkey", 800L, 900L)
    assert(pruned.nFilesTotal == 8L && pruned.nFilesRead <= 4L)
    val got = pruned.df.select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    val want = orders.filter(col("o_orderkey").between(800L, 900L))
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want)
  }

  test("conjunctive pruning is lossless and at least as selective as one column") {
    val base = Files.createTempDirectory("zonemap_multi").toString
    val dataDir = s"$base/orders"
    Tables.orders(spark, sf)
      .repartitionByRange(8, col("o_orderkey"))
      .write.parquet(dataDir)
    ZoneMap.writeStats(spark, dataDir, s"$base/stats",
      Seq("o_orderkey", "o_custkey"))
    val one = ZoneMap.prunedScan(spark, dataDir, s"$base/stats",
      "o_orderkey", 100L, 400L)
    val both = ZoneMap.prunedScanAll(spark, dataDir, s"$base/stats",
      Seq(("o_orderkey", 100L, 400L), ("o_custkey", 0L, 40L)))
    assert(both.nFilesRead <= one.nFilesRead)
    val got = both.df.select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    val want = spark.read.parquet(dataDir)
      .filter(col("o_orderkey").between(100L, 400L) && col("o_custkey").between(0L, 40L))
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  test("stats carry one row per data file") {
    val (dataDir, statsPath) = mkLake()
    val nStats = spark.read.parquet(statsPath).count()
    val nFiles = new java.io.File(dataDir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(nStats == nFiles)
  }

  test("refresh drops stats rows for files compaction deleted; pruned scan survives") {
    import graft.sources.LakeMaintenance
    val (dataDir, statsPath) = mkLake() // 8 range files + stats
    // Compaction rewrites 8 small files into 1 and deletes the
    // originals — without the drop, the stats table keeps 8 phantom
    // paths and the next pruned scan dies at plan time on a dead file.
    val stats = LakeMaintenance.compact(spark, dataDir, targetBytes = 512L * 1024 * 1024)
    assert(stats.exists(s => s.filesAfter < s.filesBefore), "compaction was a no-op")
    val added = ZoneMap.refreshStats(spark, dataDir, statsPath, Seq("o_orderkey"))
    assert(added >= 1, "the compacted file must be newly covered")
    val statFiles = spark.read.parquet(statsPath).select("file")
      .collect().map(r => new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath).toSet
    val live = spark.read.parquet(dataDir).inputFiles
      .map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet
    assert(statFiles == live, "stats must cover exactly the live files")
    // End to end: the scan over the refreshed stats equals the filter.
    val want = spark.read.parquet(dataDir)
      .filter(col("o_orderkey") >= 100L && col("o_orderkey") <= 140L)
      .collect().map(_.getAs[Long]("o_orderkey")).sorted.toSeq
    val pr = ZoneMap.prunedScan(spark, dataDir, statsPath, "o_orderkey", 100L, 140L)
    assert(pr.df.collect().map(_.getAs[Long]("o_orderkey")).sorted.toSeq == want)
    // Idempotent: nothing new, nothing dropped on a second call.
    assert(ZoneMap.refreshStats(spark, dataDir, statsPath, Seq("o_orderkey")) == 0L)
  }

  test("stats-swap crash recovery: a refresh restores the moved-aside table and re-runs the diff") {
    import org.apache.hadoop.fs.Path
    val (dataDir, statsPath) = mkLake()
    val fs = new Path(dataDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statsP = fs.makeQualified(new Path(statsPath))
    val aside = new Path(statsP.getParent, s".${statsP.getName}_rebuild_old")
    // Crash between the two renames: live table moved aside, rebuild
    // never moved in — statsPath is missing, readers fail loudly. The
    // next refresh must restore the aside (the pre-rebuild table is
    // still correct, merely unpruned) instead of degrading to a
    // full-lake rescan.
    require(fs.rename(statsP, aside))
    assert(ZoneMap.refreshStats(spark, dataDir, statsPath, Seq("o_orderkey")) == 0L,
      "recovery must restore the aside, leaving nothing newly covered")
    assert(fs.exists(statsP) && !fs.exists(aside))
    val pr = ZoneMap.prunedScan(spark, dataDir, statsPath, "o_orderkey", 100L, 140L)
    assert(pr.nFilesRead > 0 && pr.nFilesRead < pr.nFilesTotal)
    // Crash AFTER the swap committed (cleanup never ran): a leftover
    // aside next to a live table is just deleted.
    fs.mkdirs(aside)
    assert(ZoneMap.refreshStats(spark, dataDir, statsPath, Seq("o_orderkey")) == 0L)
    assert(!fs.exists(aside), "committed-swap aside must be cleaned up")
  }

  test("refresh ignores hidden dirs: a crash-window compaction aside never enters the stats") {
    val (dataDir, statsPath) = mkLake()
    // Simulate the 2-phase-swap crash window: an aside dir holding a
    // COPY of live data. Spark readers skip hidden dirs; a stats row
    // over the aside would make the pruned scan read those rows twice.
    Tables.orders(spark, sf).limit(50).coalesce(1)
      .write.parquet(s"$dataDir/.orders_compact_old")
    assert(ZoneMap.refreshStats(spark, dataDir, statsPath, Seq("o_orderkey")) == 0L,
      "hidden-dir files must not be newly covered")
    val statFiles = spark.read.parquet(statsPath).select("file")
      .collect().map(_.getString(0))
    assert(!statFiles.exists(_.contains("compact_old")), "aside file leaked into stats")
  }

  test("hidden-ness is judged relative to the lake root, not the absolute path") {
    // A lake living UNDER a dot/underscore-prefixed ancestor (a CI
    // `_work` dir, a `~/.cache` path) is a normal lake: judging the
    // absolute path would mark every file hidden, empty the listing,
    // and — with the deletion sync — wipe the stats table, silently
    // emptying every pruned scan thereafter.
    val base = java.nio.file.Files.createTempDirectory("zonehidden").toString
    val dataDir = s"$base/_work/.cache/lake"
    Tables.orders(spark, sf).repartitionByRange(4, col("o_orderkey"))
      .write.parquet(dataDir)
    val statsPath = s"$base/stats"
    assert(ZoneMap.refreshStats(spark, dataDir, statsPath, Seq("o_orderkey")) == 4L,
      "all four lake files must be covered despite the hidden ancestors")
    // And a second call must not misread the now-covered files as a
    // deletion and wipe the table.
    assert(ZoneMap.refreshStats(spark, dataDir, statsPath, Seq("o_orderkey")) == 0L)
    assert(spark.read.parquet(statsPath).count() == 4L)
  }
}
