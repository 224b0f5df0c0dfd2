package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.BloomLake

class BloomLakeSpec extends AnyFunSuite {
  import TestSpark._

  // Orders clustered by o_orderkey (the realistic layout) so o_custkey is
  // scattered: the exact shape where zone maps cannot prune a customer
  // point lookup and bloom filters are the only exclusion signal.
  private def mkLake(): String = {
    val dataDir = s"${Files.createTempDirectory("bloomlake")}/orders"
    BloomLake.write(
      Tables.orders(spark, sf).repartitionByRange(16, col("o_orderkey")),
      dataDir, "o_custkey", expectedNdv = 10000L)
    dataDir
  }

  test("blooms are written on every row group and exclude groups for a rare key") {
    val dataDir = mkLake()
    // Rarest customer: fewest orders, min-custkey tie-break (q0b's pick).
    val key = Tables.orders(spark, sf)
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
      .orderBy(col("n").asc, col("o_custkey").asc).limit(1).head.getLong(0)
    val probe = BloomLake.probeLong(spark, dataDir, "o_custkey", key)
    assert(probe.nRowGroups >= 16, "expected one row group per range file")
    assert(probe.nBloomPresent == probe.nRowGroups, "a row group is missing its bloom")
    assert(probe.nMaybe < probe.nRowGroups, "blooms excluded no row group")
    assert(probe.nMaybe >= 1, "the key's own row group must answer maybe")
  }

  test("no false negatives: the probed scan equals the full scan for every key") {
    val dataDir = mkLake()
    // For a sample of real keys, every row group that truly holds the key
    // must answer "maybe" — i.e. the bloom-pruned row count can never
    // drop below the true count. Checked end-to-end: the filter result
    // over the bloom lake (reader applies row-group bloom pruning on the
    // pushed equality predicate) matches the original table's rows.
    val orig = Tables.orders(spark, sf)
    val keys = orig.select("o_custkey").distinct().orderBy("o_custkey")
      .limit(5).collect().map(_.getLong(0))
    val lake = spark.read.parquet(dataDir)
    keys.foreach { k =>
      val want = orig.filter(col("o_custkey") === k)
        .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
      val got = lake.filter(col("o_custkey") === k)
        .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == want, s"bloom lake lost rows for custkey $k")
    }
  }

  test("string keys: content-sha lookup excludes row groups, present sha answers maybe") {
    // The content-addressable case: documents keyed by sha2(text), lake
    // clustered by doc_id — "which row groups could hold THIS digest?"
    val dataDir = s"${Files.createTempDirectory("bloomlake")}/docs"
    val docs = Tables.documents(spark, sf)
      .withColumn("sha", sha2(col("text"), 256))
    BloomLake.write(docs.repartitionByRange(8, col("doc_id")),
      dataDir, "sha", expectedNdv = 10000L)
    val someSha = docs.orderBy("doc_id").select("sha").head.getString(0)
    val hit = BloomLake.probeString(spark, dataDir, "sha", someSha)
    assert(hit.nBloomPresent == hit.nRowGroups)
    assert(hit.nMaybe >= 1, "the digest's own row group must answer maybe")
    assert(hit.nMaybe < hit.nRowGroups, "a unique sha should not hit every group")
    val miss = BloomLake.probeString(spark, dataDir, "sha",
      "0000000000000000000000000000000000000000000000000000000000000000")
    assert(miss.nMaybe <= miss.nRowGroups / 4,
      s"absent sha not excluded: ${miss.nMaybe} of ${miss.nRowGroups}")
  }

  test("compaction preserves blooms when given the writer options — and drops them otherwise") {
    import graft.sources.LakeMaintenance
    def mkSmallFiles(): String = {
      val dir = s"${Files.createTempDirectory("bloomcompact")}/orders"
      BloomLake.write(Tables.orders(spark, sf).repartition(12),
        dir, "o_custkey", expectedNdv = 10000L)
      dir
    }
    val key = Tables.orders(spark, sf).select(min("o_custkey")).head.getLong(0)
    // With the options: fewer files, blooms on every surviving row group.
    val withOpts = mkSmallFiles()
    val before = BloomLake.probeLong(spark, withOpts, "o_custkey", key)
    assert(before.nBloomPresent == before.nRowGroups)
    val stats = LakeMaintenance.compact(spark, withOpts, targetBytes = 512L * 1024 * 1024,
      writerOptions = BloomLake.writerOptions("o_custkey", 10000L))
    assert(stats.exists(s => s.filesAfter < s.filesBefore), "compaction was a no-op")
    val after = BloomLake.probeLong(spark, withOpts, "o_custkey", key)
    assert(after.nRowGroups < before.nRowGroups)
    assert(after.nBloomPresent == after.nRowGroups,
      "compaction dropped bloom filters despite writer options")
    // Without: same rewrite silently drops every bloom (the hazard the
    // parameter exists for — a probe can no longer exclude anything).
    val plain = mkSmallFiles()
    LakeMaintenance.compact(spark, plain, targetBytes = 512L * 1024 * 1024)
    val dropped = BloomLake.probeLong(spark, plain, "o_custkey", key)
    assert(dropped.nBloomPresent == 0)
    assert(dropped.nMaybe == dropped.nRowGroups)
  }

  test("distributed probe filter agrees with the driver walk, order preserved") {
    val dataDir = mkLake()
    val files = spark.read.parquet(dataDir).inputFiles.toSeq.sorted
    val key = Tables.orders(spark, sf)
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
      .orderBy(col("n").asc, col("o_custkey").asc).limit(1).head.getLong(0)
    // driverMax = 0 forces the executor fan-out; a huge cap forces the
    // driver walk. Same candidate set, same order, either path.
    val dist = BloomLake.probeLongWhere(spark, files, "o_custkey", key, driverMax = 0)
    val drv = BloomLake.probeLongWhere(spark, files, "o_custkey", key, driverMax = 1000)
    assert(dist == drv)
    assert(dist.nonEmpty && dist.size < files.size)

    // The set probe's fan-out arm, over the three files it must tell
    // apart: one whose only hit sits in a later row group (kept), one
    // with no hit (excluded) and one that predates the sha column (kept:
    // its key values are not indexed).
    import graft.sources.LakeListing
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val base = Files.createTempDirectory("bloomset").toString
    val conf = spark.sessionState.newHadoopConf()
    def shas(prefix: String) =
      spark.range(0, 3000, 1, 1).select(format_string(s"$prefix%05d", col("id")).as("sha"))
    shas("k").write.options(BloomLake.writerOptions("sha", 3000L, fpp = 1e-8))
      .option("parquet.block.size", "4096").parquet(s"$base/later")
    shas("m").write.options(BloomLake.writerOptions("sha", 3000L, fpp = 1e-8))
      .parquet(s"$base/miss")
    spark.range(0, 10, 1, 1).toDF("doc_id").write.parquet(s"$base/old")
    val Seq(later, miss, old) = Seq("later", "miss", "old").map { d =>
      val fs = LakeListing.dataFiles(conf, new Path(s"$base/$d"))
      assert(fs.size == 1, s"$d: expected one data file, got $fs")
      fs.head.toString
    }
    val sha = "k02999" // the last row written, so not in the first row group
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(later), conf))
    try assert(reader.getFooter.getBlocks.size >= 2, "later: expected several row groups")
    finally reader.close()
    val set = Seq(later, miss, old)
    val keys = Seq("absent_a", sha, "absent_b")
    val setDist = BloomLake.pruneByStringSet(spark, set, "sha", keys, driverMax = 0)
    val setDrv = BloomLake.pruneByStringSet(spark, set, "sha", keys, driverMax = 1000)
    assert(setDist == setDrv)
    assert(setDrv == Seq(later, old))
    // the single-key probe, same walk, excludes the pre-column file
    assert(BloomLake.probeStringWhere(spark, set, "sha", sha, driverMax = 0) == Seq(later))
  }

  test("probe guards: type mismatch and typo'd columns fail loudly; pre-column files exclude") {
    // Blooms hash the PLAIN-encoded physical value, so probing an INT32
    // column with a long hash would answer "definitely absent"
    // everywhere — a silent false negative. The walk must refuse.
    val intDir = s"${Files.createTempDirectory("bloomguard")}/labels"
    BloomLake.write(Tables.embeddings(spark, sf).select("vec_id", "label"),
      intDir, "label", expectedNdv = 100L)
    val mismatch = intercept[IllegalArgumentException] {
      BloomLake.probeLong(spark, intDir, "label", 1L)
    }
    assert(mismatch.getMessage.contains("type mismatch"))
    // A column no probed file carries is a caller typo, not an exclusion.
    val typo = intercept[IllegalArgumentException] {
      BloomLake.probeLong(spark, intDir, "no_such_column", 1L)
    }
    assert(typo.getMessage.contains("not found in any"))
    // Schema evolution: files predating the column hold only NULLs for
    // it — their row groups are counted and EXCLUDED, never crashed on.
    val mixed = Files.createTempDirectory("bloomevolve").toString
    Tables.orders(spark, sf).select("o_orderkey").repartition(2)
      .write.parquet(s"$mixed/old")
    BloomLake.write(Tables.orders(spark, sf).repartition(2),
      s"$mixed/new", "o_custkey", expectedNdv = 10000L)
    val key = Tables.orders(spark, sf).select(min("o_custkey")).head.getLong(0)
    val pr = BloomLake.probeLong(spark, mixed, "o_custkey", key)
    assert(pr.nRowGroups == 4, "recursive listing must see both generations")
    assert(pr.nBloomPresent == 2, "only the new generation carries blooms")
    assert(pr.nMaybe <= 2, "pre-column row groups must be excluded, not maybes")
  }

  test("three-tier string lookup: lang partition + doc_id zones + sha blooms") {
    import graft.sources.ZoneMap
    // The content-address serving shape: documents lake partitioned by
    // lang, range-clustered by doc_id within partitions, sha blooms for
    // "fetch THIS digest" lookups.
    val base = Files.createTempDirectory("threetier_sha").toString
    val dataDir = s"$base/docs"; val statsPath = s"$base/stats"
    val docs = Tables.documents(spark, sf).withColumn("sha", sha2(col("text"), 256))
    docs.repartitionByRange(4, col("doc_id"))
      .write.options(graft.sources.BloomLake.writerOptions("sha", 10000L))
      .partitionBy("lang").parquet(dataDir)
    ZoneMap.writeStats(spark, dataDir, statsPath, Seq("doc_id"))
    // Target: a document in the lower doc_id half of one lang.
    val mid = docs.agg(floor(avg("doc_id")).cast("long")).head.getLong(0)
    val t = docs.filter(col("doc_id") <= mid).orderBy("doc_id")
      .select("lang", "sha", "doc_id").head
    val pr = ZoneMap.prunedScanThreeTier(spark, dataDir, statsPath,
      Seq(("lang", t.getString(0))), Seq(("doc_id", 0L, mid)),
      "sha", t.getString(1))
    assert(pr.nPartFiles < pr.nFilesTotal, "lang partition tier inert")
    assert(pr.nZoneFiles < pr.nPartFiles, "doc_id zone tier inert")
    assert(pr.nFilesRead <= pr.nZoneFiles)
    // The corpus deliberately contains duplicate texts (it is a dedup
    // testbed), so match on membership: the target doc comes back, and
    // only same-sha rows ride along.
    val got = pr.df.select("doc_id", "sha").collect()
    assert(got.map(_.getLong(0)).contains(t.getLong(2)), "target document missing")
    assert(got.forall(_.getString(1) == t.getString(1)), "a non-matching sha leaked through")
  }

  test("capacity audit fails on an undersized ndv instead of silently un-pruning") {
    // An expectedNdv far under the keys a file really receives makes
    // parquet-mr write a bitset that saturates — every probe answers
    // "maybe" and pruning silently stops. The audit turns that into a
    // loud failure of the run that wrote the file.
    val base = Files.createTempDirectory("bloomcap").toString
    val keys = spark.range(60000)
      .select(concat(lit("k"), col("id")).as("k"))
    // undersized: bitset sized for 4k keys, file holds 60k distinct
    keys.coalesce(1).write
      .options(BloomLake.writerOptions("k", expectedNdv = 4000L, fpp = 1e-8))
      .parquet(s"$base/under")
    val err = intercept[IllegalArgumentException] {
      BloomLake.assertBloomCapacity(spark, s"$base/under", "k", fpp = 1e-8)
    }
    assert(err.getMessage.contains("bitset"), err.getMessage)
    // properly sized: same data, ndv covers the real key count — passes
    keys.coalesce(1).write
      .options(BloomLake.writerOptions("k", expectedNdv = 100000L, fpp = 1e-8))
      .parquet(s"$base/sized")
    BloomLake.assertBloomCapacity(spark, s"$base/sized", "k", fpp = 1e-8)
    // and a bloom-less write fails too: absence un-prunes just as
    // silently as saturation
    keys.coalesce(1).write.parquet(s"$base/none")
    val err2 = intercept[IllegalArgumentException] {
      BloomLake.assertBloomCapacity(spark, s"$base/none", "k", fpp = 1e-8)
    }
    assert(err2.getMessage.contains("no bloom filter"), err2.getMessage)
  }

  test("a key absent from the table is excluded by (almost) every row group") {
    val dataDir = mkLake()
    val probe = BloomLake.probeLong(spark, dataDir, "o_custkey", -987654321L)
    // Only split-block false positives may answer maybe; at ~1% FPP over
    // a handful of groups, "at most a couple" is a safe deterministic
    // bound (the corpus and bloom seeds are fixed by the testdata).
    assert(probe.nMaybe <= probe.nRowGroups / 4,
      s"absent key not excluded: ${probe.nMaybe} of ${probe.nRowGroups}")
  }
}
