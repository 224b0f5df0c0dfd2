package graft

import graft.streaming.StreamDedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming LSH near-dup: the stream must find exactly the pairs the
  * batch band-collision semantics declare (each emitted once, in the
  * later doc's micro-batch), and the event-time horizon must actually
  * bound state — an evicted bucket stops pairing.
  */
object StreamDedupSpec {
  case class Doc(doc_id: Long, text: String, us: Long)
}

class StreamDedupSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._
  import StreamDedupSpec.Doc

  /** Band-collision ground truth straight from the shared banded head. */
  private def brute(docs: Seq[Doc]): Set[(Long, Long, Int)] = {
    val sigs = StreamDedup.banded(docs.toDF())
      .collect().map(b => b.doc_id -> b.sig).toMap
    val bands = (s: Seq[Long]) => (0 until StreamDedup.NBands).map(b =>
      s.slice(b * StreamDedup.RowsPerBand, (b + 1) * StreamDedup.RowsPerBand))
    (for {
      (ida, sa) <- sigs.toSeq; (idb, sb) <- sigs.toSeq
      if ida < idb && bands(sa).zip(bands(sb)).exists { case (x, y) => x == y }
    } yield (ida, idb,
      sa.zip(sb).count { case (x, y) => x == y })).toSet
  }

  private def runStream(batches: Seq[Seq[Doc]], horizonMs: Long): Seq[(Long, Long, Int)] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Doc]
    val q = StreamDedup.nearDupPairsStreaming(ms.toDF(), horizonMs)
      .writeStream.format("memory").queryName("sdedup").outputMode("append").start()
    try {
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      spark.table("sdedup").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    } finally q.stop()
  }

  test("streaming pairs == batch band-collision semantics, each emitted once") {
    // Dup-heavy fixture: 30 base docs + near-identical variants.
    // Event times start at 1s, not 0: a row at exactly the initial
    // watermark (epoch 0) is dropped as late by the stateful operator.
    val base = (0 until 30).map { i =>
      Doc(i.toLong, s"alpha bravo charlie delta echo foxtrot golf hotel doc$i word${i % 7}", (i + 1) * 1000000L)
    }
    val dups = (0 until 15).map { i =>
      Doc(100L + i, s"alpha bravo charlie delta echo foxtrot golf hotel doc$i extra", 60000000L + i * 1000000L)
    }
    val docs = base ++ dups
    val expected = brute(docs)
    assert(expected.nonEmpty) // the fixture really collides

    val got = runStream(docs.grouped(15).toSeq, horizonMs = 1000L * 3600 * 24 * 365)
    assert(got.size == got.toSet.size, "a pair was emitted more than once")
    assert(got.toSet == expected)

    // and the batch twin agrees with the same ground truth
    val batch = StreamDedup.nearDupPairsBatch(docs.toDF())
      .collect().map(p => (p.doc_a, p.doc_b, p.n_agree)).toSet
    assert(batch == expected)
  }

  test("streaming clean-corpus ingest keeps only quality, novel docs in the lake") {
    import graft.streaming.IngestClean
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_clean").toString
    val (lake, idx) = (s"$dir/lake", s"$dir/index")
    val dText = "zebra yak xylophone walrus vulture tiger snake rabbit quail panda otter"
    val batch1 = Seq(
      Doc(1, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo", 1000000L),
      Doc(2, "alpha  bravo charlie delta echo foxtrot golf hotel india juliet kilo ", 2000000L), // exact dup of 1 (whitespace)
      Doc(3, "too short to pass", 3000000L), // fails the quality gate
      Doc(4, dText, 4000000L))
    val batch2 = Seq(
      Doc(5, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo", 5000000L), // exact dup of 1, across batches
      Doc(6, dText.split(' ').reverse.mkString(" "), 6000000L), // same token SET as 4 -> near dup via bands
      Doc(7, "one unique sentence mentioning parquet shuffles catalyst codegen and watermarks today", 7000000L))

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Doc]
    val q = ms.toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        IngestClean.cleanBatch(spark, b, lake, idx); ()
      }.start()
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
      // replay batch 1 whole: idempotent, nothing re-enters
      ms.addData(batch1); q.processAllAvailable()
    } finally q.stop()

    val kept = spark.read.parquet(lake).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 7L), s"lake holds $kept")
    // and the index holds exactly the survivors' band rows
    val indexed = spark.read.parquet(idx).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(indexed == Set(1L, 4L, 7L), s"index holds $indexed")
  }

  test("quarantine audit trail records every drop with its rejecting stage") {
    import graft.streaming.IngestClean
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_quar").toString
    val (lake, idx, quar) = (s"$dir/lake", s"$dir/index", s"$dir/quarantine")
    val dText = "zebra yak xylophone walrus vulture tiger snake rabbit quail panda otter"
    val batch1 = Seq(
      Doc(1, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo", 1000000L),
      Doc(2, "alpha  bravo charlie delta echo foxtrot golf hotel india juliet kilo ", 2000000L),
      Doc(3, "too short to pass", 3000000L),
      Doc(4, dText, 4000000L))
    val batch2 = Seq(
      Doc(5, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo", 5000000L),
      Doc(6, dText.split(' ').reverse.mkString(" "), 6000000L),
      Doc(7, "one unique sentence mentioning parquet shuffles catalyst codegen and watermarks today", 7000000L))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Doc]
    val q = ms.toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        IngestClean.cleanBatch(spark, b, lake, idx,
          quarantineDir = Some(quar), batchId = id); ()
      }.start()
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    // Every drop is explainable: in-batch exact dup, quality reject,
    // cross-batch exact dup, near dup — each with its stage AND the
    // specific document it duplicated (dup_of provenance).
    val rows = spark.read.parquet(quar).select("doc_id", "reason")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(rows == Set(2L -> "exact_dup", 3L -> "quality",
      5L -> "exact_dup", 6L -> "near_dup"), s"quarantine held $rows")
    val prov = spark.read.parquet(quar).select("doc_id", "dup_of")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(prov == Map(2L -> Some(1L), 3L -> None, 5L -> Some(1L), 6L -> Some(4L)),
      s"dup_of provenance was $prov")
    // Survivors never appear in the quarantine; lake unchanged by it.
    val kept = spark.read.parquet(lake).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 7L))
    assert(rows.map(_._1).intersect(kept).isEmpty)
    // Replay idempotence: re-running a batch under ITS OWN batchId
    // overwrites that batch's partition — one record per decision, no
    // duplicate log rows (the at-least-once foreachBatch contract).
    import org.apache.spark.sql.functions.{col => c}
    val replayed = spark.createDataFrame(spark.sparkContext.parallelize(
      batch1.map(d => org.apache.spark.sql.Row(d.doc_id, d.text, d.us))),
      ms.toDF().schema)
    IngestClean.cleanBatch(spark, replayed, lake, idx,
      quarantineDir = Some(quar), batchId = 0L)
    val batch0 = spark.read.parquet(quar).filter(c("batch") === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(batch0.distinct.size == batch0.size, s"duplicate log rows in batch 0: $batch0")
  }

  test("NULL text fails the quality gate AND lands in the quarantine (null-safe predicates)") {
    // Under ANSI semantics size(split(trim(NULL))) is NULL — a naive
    // filter(p) / filter(!p) pair drops a NULL-text row from BOTH sides,
    // violating the 'every drop is explainable' audit contract.
    import graft.streaming.IngestClean
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_null").toString
    val (lake, idx, quar) = (s"$dir/lake", s"$dir/index", s"$dir/quarantine")
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true),
      StructField("us", LongType, nullable = false)))
    val batch = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row(1L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo", 1000000L),
      org.apache.spark.sql.Row(2L, null, 2000000L))), schema)
    val stats = IngestClean.cleanBatch(spark, batch, lake, idx,
      quarantineDir = Some(quar), batchId = 0L)
    assert(stats == IngestClean.BatchStats(2, 1, 1, 1))
    val quarRows = spark.read.parquet(quar).select("doc_id", "reason")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(quarRows == Set(2L -> "quality"), s"quarantine held $quarRows")
    val kept = spark.read.parquet(lake).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
  }

  test("cleanBatch runs four O(batch) actions per micro-batch; stage counts ride the write as observe metrics") {
    import graft.streaming.IngestClean
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_jobs").toString
    val (lake, idx) = (s"$dir/lake", s"$dir/index")
    val dText = "zebra yak xylophone walrus vulture tiger snake rabbit quail panda otter"
    def df(docs: Seq[Doc]) = spark.createDataFrame(docs)
    val batch1 = Seq(
      Doc(1, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo", 1000000L),
      Doc(2, "alpha  bravo charlie delta echo foxtrot golf hotel india juliet kilo ", 2000000L),
      Doc(3, "too short to pass", 3000000L),
      Doc(4, dText, 4000000L))
    val batch2 = Seq(
      Doc(5, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo", 5000000L),
      Doc(6, dText.split(' ').reverse.mkString(" "), 6000000L),
      Doc(7, "one unique sentence mentioning parquet shuffles catalyst codegen and watermarks today", 7000000L))
    val s1 = IngestClean.cleanBatch(spark, df(batch1), lake, idx)
    assert(s1 == IngestClean.BatchStats(in = 4, quality = 3, exactNovel = 2, appended = 2))

    // Steady state (lake + index exist): exactly four top-level SQL
    // executions, each O(batch) — the band checkpoint (the ONE MinHash
    // pass), the bounded probe-key collect (the input to both tiers'
    // bloom pruning), the lake append, and the index append. Every
    // stage count arrives via CollectMetrics on the lake-write pass; a
    // .count() action per stage would show up here as extra executions.
    val execs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        event match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            execs.incrementAndGet(); ()
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val s2 = IngestClean.cleanBatch(spark, df(batch2), lake, idx)
      assert(s2 == IngestClean.BatchStats(in = 3, quality = 3, exactNovel = 2, appended = 1))
      // listener bus is async: wait for the count to go quiet
      var last = -1; var same = 0
      val deadline = System.nanoTime() + 10000000000L
      while (same < 5 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val cur = execs.get()
        if (cur == last) same += 1 else { same = 0; last = cur }
      }
      assert(execs.get() == 4,
        s"expected 4 SQL executions (band checkpoint + probe collect + lake + index append), saw ${execs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
    val kept = spark.read.parquet(lake).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 7L))
  }

  test("cleanBatch sizes its appends' bloom bitsets to the batch, and the bitsets hold the batch's keys") {
    import graft.streaming.IngestClean
    import graft.sources.{BloomLake, LakeListing}
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_bloom").toString
    val (lake, idx) = (s"$dir/lake", s"$dir/index")
    def batch(ids: Range) = spark.createDataFrame(ids.map(i =>
      Doc(i, (1 to 12).map(j => s"w${i}x$j").mkString(" "), i * 1000000L)))
    def files(d: String): Map[String, Long] = LakeListing.dataFileSizes(
      spark.sessionState.newHadoopConf(), new org.apache.hadoop.fs.Path(d))
      .map { case (p, n) => p.toString -> n }.toMap
    assert(IngestClean.cleanBatch(spark, batch(1 to 30), lake, idx).appended == 30)
    val lake1 = files(lake)
    assert(IngestClean.cleanBatch(spark, batch(31 to 60), lake, idx).appended == 30)
    // Capacity: every bitset holds its row group's keys at the ingest fpp
    // (one sha per lake row, one band per index row).
    BloomLake.assertBloomCapacity(spark, lake, "sha", fpp = 1e-8)
    BloomLake.assertBloomCapacity(spark, idx, "band", fpp = 1e-8)
    // Sized to the batch: a bitset for the 100k-key default alone is
    // ~0.5 MB. (The first batch's lake file has its own case below.)
    val sized = (files(lake) -- lake1.keys) ++ files(idx)
    assert(sized.nonEmpty)
    sized.foreach { case (f, n) => assert(n < 64 * 1024, s"$f is $n bytes") }
    // Four rows share a doc_id: three repeat docs 1-3 and are dropped
    // as exact dups, the fourth is kept (into a fresh index dir, as
    // after a crash between the lake and index appends). The index
    // append matches the appended row, not its doc_id, so it writes that
    // one row's bands, and the bitset holds them.
    val twins = spark.createDataFrame((1 to 3).map(i =>
      Doc(100, (1 to 12).map(j => s"w${i}x$j").mkString(" "), (100 + i) * 1000000L)) :+
      Doc(100, (1 to 12).map(j => s"w100x$j").mkString(" "), 104000000L))
    val idx2 = s"$dir/index2"
    assert(IngestClean.cleanBatch(spark, twins, lake, idx2).appended == 1)
    assert(spark.read.parquet(idx2).filter(col("doc_id") === 100L).count() ==
      StreamDedup.NBands)
    BloomLake.assertBloomCapacity(spark, idx2, "band", fpp = 1e-8)
  }

  test("ingest keeps lake zone maps current with O(new-files) refreshes") {
    import graft.streaming.IngestClean
    import graft.sources.ZoneMap
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_zones").toString
    val (lake, idx, stats) = (s"$dir/lake", s"$dir/index", s"$dir/zones")
    def doc(id: Long, seed: String, us: Long) =
      Doc(id, (1 to 12).map(i => s"$seed$i").mkString(" "), us)
    val batch1 = Seq(doc(1, "alpha", 1000000L), doc(2, "bravo", 2000000L))
    val batch2 = Seq(doc(7, "charlie", 7000000L), doc(9, "delta", 9000000L))

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Doc]
    val q = ms.toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        IngestClean.cleanBatch(spark, b, lake, idx, zoneStatsPath = Some(stats)); ()
      }.start()
    try {
      ms.addData(batch1); q.processAllAvailable()
      val zones1 = spark.read.parquet(stats).count()
      assert(zones1 >= 1, "first batch produced no zone rows")
      ms.addData(batch2); q.processAllAvailable()
      val zones2 = spark.read.parquet(stats).count()
      assert(zones2 > zones1, "second batch's files are not covered")
    } finally q.stop()

    // Every lake file is covered: an incremental refresh now finds
    // nothing new (idempotence == full coverage), and the stats row
    // count equals the lake file count.
    assert(ZoneMap.refreshStats(spark, lake, stats, Seq("doc_id", "us")) == 0L)
    val nFiles = new java.io.File(lake).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(spark.read.parquet(stats).count() == nFiles)
    // And the zones actually skip: a doc_id range landed by batch 2 only
    // reads a strict file subset, losslessly.
    val pr = ZoneMap.prunedScan(spark, lake, stats, "doc_id", 7L, 9L)
    assert(pr.nFilesRead < pr.nFilesTotal)
    assert(pr.df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(7L, 9L))
  }

  test("checkpoint restart: crash after batch side effects converges to the uninterrupted run") {
    // The at-least-once foreachBatch contract, driven end to end: a file
    // source + checkpoint stream crashes AFTER batch 1's lake/index/
    // quarantine writes but BEFORE the checkpoint commits, restarts from
    // the same checkpoint (batch 1 REPLAYS), and the final lake + index
    // must equal an uninterrupted run's. The quarantine matches up to the
    // documented replay artifact: a replayed survivor is an exact-dup of
    // its own first write, so its batch partition may log exact_dup rows
    // for docs that ARE in the lake — the lake row wins.
    import graft.streaming.IngestClean
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_cp").toString
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true),
      StructField("us", LongType, nullable = false)))
    val textA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo"
    val textB = "zebra yak xylophone walrus vulture tiger snake rabbit quail panda otter"
    val textC = "one unique sentence mentioning parquet shuffles catalyst codegen and watermarks today"
    val files = Seq(
      Seq(Doc(1, textA, 1000000L), Doc(2, "too short", 2000000L)),
      Seq(Doc(3, textB, 3000000L), Doc(4, textA, 4000000L)),
      Seq(Doc(5, textB.split(' ').reverse.mkString(" "), 5000000L), Doc(6, textC, 6000000L)),
      Seq(Doc(7, textC, 7000000L)))
    val src = s"$root/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    files.zipWithIndex.foreach { case (docs, i) =>
      val stage = s"$root/stage$i"
      spark.createDataFrame(docs).coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(src, f"b$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      // one file per micro-batch, in write order (source sorts by mtime)
      assert(dst.setLastModified(1700000000000L + i * 60000L))
    }

    def run(tag: String, crashAtBatch: Option[Long]): (String, String, String) = {
      val (lake, idx, quar, cp) =
        (s"$root/$tag/lake", s"$root/$tag/index", s"$root/$tag/quar", s"$root/$tag/cp")
      val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          IngestClean.cleanBatch(spark, b, lake, idx,
            quarantineDir = Some(quar), batchId = id)
          if (crashAtBatch.contains(id) && !crashed.getAndSet(true))
            throw new RuntimeException("injected crash: side effects done, commit pending")
          ()
        }.start()
      try { q.processAllAvailable(); q.stop() }
      catch { case _: Exception => () } // the injected crash kills the query
      (lake, idx, quar)
    }

    val (lakeU, idxU, quarU) = run("uninterrupted", None)
    val (lakeI, idxI, quarI) = run("interrupted", Some(1L))
    // restart from the same checkpoint: batch 1 replays, 2..3 complete
    run("interrupted", None)

    def lakeSet(p: String) = spark.read.parquet(p).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    def idxSet(p: String) = spark.read.parquet(p).select("band", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    def quarSet(p: String) = spark.read.parquet(p).select("doc_id", "reason")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(lakeSet(lakeI) == lakeSet(lakeU), "lake diverged after crash+restart")
    assert(idxSet(idxI) == idxSet(idxU), "band index diverged after crash+restart")
    val (qU, qI) = (quarSet(quarU), quarSet(quarI))
    assert(qU.subsetOf(qI), s"restart lost quarantine records: ${qU.diff(qI)}")
    val lakeIds = lakeSet(lakeI).map(_._1)
    val extras = qI.diff(qU)
    assert(extras.forall { case (id, reason) => reason == "exact_dup" && lakeIds(id) },
      s"unexplained quarantine extras beyond the replay artifact: $extras")
  }

  test("repairIndex fills the lake->index crash hole and restores near-dup detection") {
    // The one window cleanBatch cannot self-heal: a crash between the
    // lake append and the index append leaves lake docs with no band
    // rows — and the replay can't fill them (the replayed rows are
    // exact-dups of their own first write). Simulate the hole by
    // writing lake rows directly, then repair and verify a near-dup
    // arriving afterwards is actually caught.
    import graft.streaming.IngestClean
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_repair").toString
    val (lake, idx) = (s"$dir/lake", s"$dir/index")
    val dText = "zebra yak xylophone walrus vulture tiger snake rabbit quail panda otter"
    // the crashed batch: survivors reached the lake, bands never reached the index
    spark.createDataFrame(Seq(Doc(1, dText, 1000000L)))
      .withColumn("nrm", org.apache.spark.sql.functions.lower(col("text")))
      .write.parquet(lake)
    // without repair, the near-dup of doc 1 sails through
    assert(IngestClean.repairIndex(spark, lake, idx) == 1L)
    assert(IngestClean.repairIndex(spark, lake, idx) == 0L, "repair must be idempotent")
    val indexed = spark.read.parquet(idx).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(indexed == Set(1L), s"index holds $indexed")
    val batch = spark.createDataFrame(Seq(
      Doc(2, dText.split(' ').reverse.mkString(" "), 2000000L)))
    val stats = IngestClean.cleanBatch(spark, batch, lake, idx)
    assert(stats.appended == 0L, "near-dup of the repaired doc was not caught")
    val kept = spark.read.parquet(lake).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
  }

  test("state-store restart: band buckets survive a checkpoint stop/start and still pair") {
    // The OTHER recovery surface: IngestClean's crash test proves
    // foreachBatch idempotence; this proves flatMapGroupsWithState's
    // keyed state (the LSH band buckets) is restored from the state
    // store — a doc ingested BEFORE the stop must pair with its
    // near-dup arriving AFTER the restart, which only happens if the
    // bucket membership survived, and the restarted run must emit no
    // duplicate pairs.
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft_sdedup_cp").toString
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("us", LongType, nullable = false)))
    val textA = "the quick brown fox jumps over the lazy dog again and again"
    val files = Seq(
      Seq(Doc(1, textA, 1000000L),
        Doc(2, "completely unrelated text about database engines and parquet files", 2000000L)),
      Seq(Doc(3, textA, 3000000L)))  // pairs with doc 1 ACROSS the restart
    val src = s"$root/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    def addFile(i: Int): Unit = {
      val stage = s"$root/stage$i"
      spark.createDataFrame(files(i)).coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(src, f"b$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + i * 60000L))
    }
    val (cp, out) = (s"$root/cp", s"$root/pairs")
    def runOnce(): Unit = {
      val q = StreamDedup.nearDupPairsStreaming(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        horizonMs = 1000L * 3600 * 24 * 365)
        .writeStream.option("checkpointLocation", cp)
        .format("parquet").option("path", out)
        .outputMode("append").start()
      try { q.processAllAvailable() } finally q.stop()
    }
    addFile(0); runOnce()                  // doc 1's buckets enter the state store
    addFile(1); runOnce()                  // restart from checkpoint, doc 3 arrives
    val pairs = spark.read.parquet(out).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.distinct.size == pairs.size, s"duplicate pairs after restart: $pairs")
    assert(pairs.contains((1L, 3L)),
      s"state lost across restart: doc 3 failed to pair with pre-restart doc 1 ($pairs)")
  }

  test("horizon eviction: an expired bucket stops pairing") {
    val h = 3600L * 1000 // 1 hour horizon
    val hour = 3600L * 1000000
    val a = Doc(1, "the quick brown fox jumps over the lazy dog again and again", 1000000L)
    val pushes = Seq(
      Doc(2, "completely unrelated text about database engines and parquet files", 10 * hour),
      Doc(3, "another unrelated doc mentioning spark catalyst and tungsten", 10 * hour + 1000000L))
    val aCopy = Doc(4, a.text, 10 * hour + 2000000L)
    val aCopy2 = Doc(5, a.text, 10 * hour + 3000000L)
    val got = runStream(
      Seq(Seq(a), Seq(pushes(0)), Seq(pushes(1)), Seq(aCopy), Seq(aCopy2)), h)
    // doc 1's buckets were evicted when the watermark passed 1h, so the
    // identical doc 4 does NOT pair with it...
    assert(!got.exists { case (x, y, _) => x == 1L }, s"evicted bucket still paired: $got")
    // ...but docs 4 and 5 (both inside the horizon) do pair.
    assert(got.exists { case (x, y, _) => x == 4L && y == 5L }, s"missing in-horizon pair: $got")
  }

  test("verified near-dup tier drops zero false positives and still catches true dups") {
    import graft.streaming.IngestClean
    // The any-band rule's measured over-drop (IngestClean object doc):
    // a band whose 4 minhash rows are all achieved by SHARED tokens
    // makes a low-Jaccard pair band-collide. These colliders were found
    // by searching candidate token sets under the FROZEN signature
    // family (StreamDedup.signatureFamily) — deterministic forever; the
    // precondition assert below fails loudly if the constants move.
    val tokA = (0 until 20).map(i => s"alpha$i")
    val tokE = (0 until 20).map(i => s"epsilon$i")
    val a = Doc(1, tokA.mkString(" "), 1000000L)
    val e = Doc(10, tokE.mkString(" "), 10000000L)
    // J = 10/30 with A / with E — both well under the 3/5 verify rule
    val bFalse = Doc(11,
      (tokA.take(10) ++ (0 until 10).map(j => s"beta0x$j")).mkString(" "), 11000000L)
    val gFalse = Doc(12,
      (tokE.take(10) ++ (0 until 10).map(j => s"gamma11x$j")).mkString(" "), 12000000L)
    // true near-dups: J = 20/22
    val cTrue = Doc(13, (tokA ++ Seq("extraa", "extrab")).mkString(" "), 13000000L)
    val hTrue = Doc(14, (tokE ++ Seq("extrac", "extrad")).mkString(" "), 14000000L)
    val dExact = Doc(15, tokA.mkString("  ") + " ", 15000000L)
    // precondition: the false positives DO band-collide with their targets
    val collisions = brute(Seq(a, e, bFalse, gFalse)).map(p => (p._1, p._2))
    assert(collisions.contains((1L, 11L)) && collisions.contains((10L, 12L)),
      s"fixture colliders no longer band-collide (signature family moved?): $collisions")

    def run(verify: Option[(Int, Int)]): (Set[Long], Set[(Long, String)]) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_ingest_verify").toString
      val (lake, idx, quar) = (s"$dir/lake", s"$dir/index", s"$dir/quarantine")
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = MemoryStream[Doc]
      val q = ms.toDF().writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          IngestClean.cleanBatch(spark, b, lake, idx,
            quarantineDir = Some(quar), batchId = id, verifyNearDups = verify); ()
        }.start()
      try {
        ms.addData(Seq(a)); q.processAllAvailable()
        ms.addData(Seq(e, bFalse, gFalse, cTrue, hTrue, dExact)); q.processAllAvailable()
      } finally q.stop()
      (spark.read.parquet(lake).select("doc_id").collect().map(_.getLong(0)).toSet,
        spark.read.parquet(quar).select("doc_id", "reason")
          .collect().map(r => r.getLong(0) -> r.getString(1)).toSet)
    }

    // any-band rule: the low-J colliders are over-dropped (the caveat)
    val (lakeOff, quarOff) = run(None)
    assert(lakeOff == Set(1L, 10L), s"any-band lake held $lakeOff")
    assert(quarOff.contains(11L -> "near_dup") && quarOff.contains(12L -> "near_dup"))
    // verified tier: ZERO false positives dropped; both true near-dups
    // still quarantine (lake partner A and in-batch partner E), exact
    // dup unaffected
    val (lakeOn, quarOn) = run(Some((3, 5)))
    assert(lakeOn == Set(1L, 10L, 11L, 12L), s"verified lake held $lakeOn")
    assert(quarOn == Set(13L -> "near_dup", 14L -> "near_dup", 15L -> "exact_dup"),
      s"verified quarantine held $quarOn")
  }

  test("per-batch probes stay O(batch + touched files) as the lake grows") {
    // The round-13 scale contract: a micro-batch's exact and near checks
    // must not scan the whole lake/index. Grow a lake over many batches
    // of mutually-dissimilar docs, then ingest one more NOVEL batch: the
    // bloom walks must exclude (almost) every file in both tiers, while
    // a DUPLICATE batch must still be caught through whatever files
    // survive its probe (no false negatives — blooms only ever
    // over-scan).
    import graft.streaming.IngestClean
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_prune").toString
    val (lake, idx) = (s"$dir/lake", s"$dir/index")
    // 12-token docs, all-distinct vocabulary per doc -> no band overlap
    def doc(id: Long) =
      Doc(id, (0 until 12).map(i => s"w${id}x$i").mkString(" "), id * 1000000L)
    val nBatches = 6
    (0 until nBatches).foreach { b =>
      val batch = spark.createDataFrame((0 until 20).map(i => doc(b * 100L + i)))
      IngestClean.cleanBatch(spark, batch, lake, idx); ()
    }
    // Novel batch: every file in both tiers should be bloom-excluded.
    val novel = spark.createDataFrame((0 until 20).map(i => doc(9000L + i)))
    val s1 = IngestClean.cleanBatch(spark, novel, lake, idx)
    assert(s1.appended == 20L)
    val (exTotal, exScanned) = IngestClean.lastExactFiles
    val (bdTotal, bdScanned) = IngestClean.lastBandFiles
    assert(exTotal >= nBatches, s"lake should have >= $nBatches files, saw $exTotal")
    assert(bdTotal >= nBatches, s"index should have >= $nBatches files, saw $bdTotal")
    // sha/band keys are effectively random: expected false-positive
    // survivors ~0; allow a little slack but demand real exclusion.
    assert(exScanned <= exTotal / 2,
      s"exact tier scanned $exScanned of $exTotal files for a novel batch")
    assert(bdScanned <= bdTotal / 2,
      s"near tier scanned $bdScanned of $bdTotal files for a novel batch")
    // Duplicate + near-dup batch: still caught (bloom pruning is
    // conservative — the files that matter always survive the walk).
    val dupBatch = spark.createDataFrame(Seq(
      doc(101).copy(doc_id = 8000L, us = 999000000L), // exact dup of batch-1 doc
      Doc(8001L, doc(202).text.split(' ').reverse.mkString(" "), 999100000L))) // near dup
    val s2 = IngestClean.cleanBatch(spark, dupBatch, lake, idx)
    assert(s2 == IngestClean.BatchStats(2, 2, 1, 0), s"dup batch stats: $s2")
    assert(IngestClean.lastExactFiles._2 >= 1, "the dup's home file was bloom-excluded")
  }

  test("over-bound batches fall back to unpruned probes with identical verdicts") {
    // maxProbeKeys caps the per-batch key collect; past it, both tiers
    // probe every file (the pre-pruning cost) — CORRECTNESS must be
    // untouched, only the plan. Run the same dup-carrying batch under a
    // normal bound and a zero bound and require identical stats + the
    // fallback's all-files probe signature.
    import graft.streaming.IngestClean
    def run(maxKeys: String): (IngestClean.BatchStats, (Int, Int), (Int, Int)) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_ingest_fb").toString
      val (lake, idx) = (s"$dir/lake", s"$dir/index")
      def doc(id: Long) =
        Doc(id, (0 until 12).map(i => s"f${id}x$i").mkString(" "), id * 1000000L)
      IngestClean.cleanBatch(spark,
        spark.createDataFrame((0 until 20).map(i => doc(i.toLong))), lake, idx)
      spark.conf.set("spark.graft.ingest.maxProbeKeys", maxKeys)
      try {
        val batch = spark.createDataFrame(Seq(
          doc(100L), doc(101L),
          doc(3).copy(doc_id = 200L, us = 999000000L), // exact dup
          Doc(201L, doc(7).text.split(' ').reverse.mkString(" "), 999100000L))) // near dup
        val st = IngestClean.cleanBatch(spark, batch, lake, idx)
        (st, IngestClean.lastExactFiles, IngestClean.lastBandFiles)
      } finally spark.conf.unset("spark.graft.ingest.maxProbeKeys")
    }
    val (stPruned, _, _) = run("2000000")
    val (stFallback, ex, bd) = run("0")
    assert(stPruned == IngestClean.BatchStats(4, 4, 3, 2), s"pruned stats: $stPruned")
    assert(stFallback == stPruned, s"fallback changed verdicts: $stFallback vs $stPruned")
    assert(ex._1 == ex._2 && ex._1 > 0, s"fallback should probe ALL lake files, saw $ex")
    assert(bd._1 == bd._2 && bd._1 > 0, s"fallback should probe ALL index files, saw $bd")
  }

  test("compaction keeps the ingest lake + index probe-prunable and dup detection intact") {
    // The composition a long-running ingest needs: appends accumulate a
    // file per batch (the footer walk grows with batch count), periodic
    // compactIngest collapses them — and the REWRITTEN files must stay
    // as bloom-prunable as fresh appends (writer options threaded), the
    // signature-family marker must survive in place, and dedup verdicts
    // must be unchanged.
    import graft.streaming.IngestClean
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_compact").toString
    val (lake, idx) = (s"$dir/lake", s"$dir/index")
    def doc(id: Long) =
      Doc(id, (0 until 12).map(i => s"c${id}w$i").mkString(" "), id * 1000000L)
    (0 until 6).foreach { b =>
      val batch = spark.createDataFrame((0 until 20).map(i => doc(b * 100L + i)))
      IngestClean.cleanBatch(spark, batch, lake, idx); ()
    }
    def files(p: String) = new java.io.File(p).listFiles
      .count(_.getName.endsWith(".parquet"))
    val (lakeBefore, idxBefore) = (files(lake), files(idx))
    IngestClean.compactIngest(spark, lake, idx, targetBytes = 512L * 1024 * 1024)
    assert(files(lake) < lakeBefore, s"lake not compacted: ${files(lake)} vs $lakeBefore")
    assert(files(idx) < idxBefore, s"index not compacted: ${files(idx)} vs $idxBefore")
    assert(new java.io.File(idx, "_sigfamily").exists, "marker lost in compaction")
    // novel batch: the (single) compacted files can no longer be
    // excluded against their own keys -- but a novel batch's keys must
    // still bloom-exclude them (rewritten blooms are real, not absent)
    val novel = spark.createDataFrame((0 until 20).map(i => doc(7000L + i)))
    val s1 = IngestClean.cleanBatch(spark, novel, lake, idx)
    assert(s1.appended == 20L)
    assert(IngestClean.lastExactFiles._2 == 0,
      s"novel batch scanned ${IngestClean.lastExactFiles} — compacted sha blooms are gone")
    assert(IngestClean.lastBandFiles._2 == 0,
      s"novel batch scanned ${IngestClean.lastBandFiles} — compacted band blooms are gone")
    // dup batch: detection intact through the rewrite
    val dupBatch = spark.createDataFrame(Seq(
      doc(101).copy(doc_id = 8000L, us = 999000000L),
      Doc(8001L, doc(202).text.split(' ').reverse.mkString(" "), 999100000L)))
    val s2 = IngestClean.cleanBatch(spark, dupBatch, lake, idx)
    assert(s2 == IngestClean.BatchStats(2, 2, 1, 0), s"dup batch stats after compaction: $s2")
  }

  test("auto-compaction trigger bounds file count with no caller cadence") {
    // autoCompact = Some(k): cleanBatch compacts ITSELF when a table's
    // file count exceeds k x its ideal compacted count (derived from the
    // listing the batch already walks — stateless, so a restarted stream
    // keeps the property without remembering when it last compacted).
    import graft.streaming.IngestClean
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_autocompact").toString
    val (lake, idx) = (s"$dir/lake", s"$dir/index")
    def doc(id: Long) =
      Doc(id, (0 until 12).map(i => s"a${id}w$i").mkString(" "), id * 1000000L)
    def files(p: String) = new java.io.File(p).listFiles
      .count(_.getName.endsWith(".parquet"))
    var maxLakeFiles = 0
    (0 until 9).foreach { b =>
      val batch = spark.createDataFrame((0 until 20).map(i => doc(b * 100L + i)))
      IngestClean.cleanBatch(spark, batch, lake, idx, autoCompact = Some(2))
      maxLakeFiles = math.max(maxLakeFiles, files(lake))
    }
    // bytes here are far under one targetBytes, so ideal = 1 file: the
    // count must saw-tooth under the k=2 trigger (compact fires when a
    // batch observes > 2 files), never reach the 9+ an append-per-batch
    // lake accumulates
    assert(maxLakeFiles <= 4, s"trigger never fired: lake peaked at $maxLakeFiles files")
    assert(files(lake) <= 3, s"final lake has ${files(lake)} files")
    assert(files(idx) <= 3, s"final index has ${files(idx)} files")
    assert(new java.io.File(idx, "_sigfamily").exists, "marker lost in auto-compaction")
    // dedup verdicts intact through the self-triggered rewrites: an
    // exact dup and a token-permuted near dup of compacted-away batches
    val dupBatch = spark.createDataFrame(Seq(
      doc(101).copy(doc_id = 9000L, us = 999000000L),
      Doc(9001L, doc(202).text.split(' ').reverse.mkString(" "), 999100000L)))
    val st = IngestClean.cleanBatch(spark, dupBatch, lake, idx, autoCompact = Some(2))
    assert(st == IngestClean.BatchStats(2, 2, 1, 0),
      s"dup batch stats after auto-compaction: $st")
  }

  test("signature-family mismatch rebuilds the band index instead of appending incomparable keys") {
    // A persisted band index is only meaningful under the constants that
    // produced it: simulate an index written under DIFFERENT constants
    // by corrupting the marker — the next batch must REBUILD (reband the
    // lake under the current family) and near-dup detection must still
    // work. repairIndex cannot heal this case (it matches by doc_id and
    // the stale-banded docs are present), which is why the marker
    // exists.
    import graft.streaming.IngestClean
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_sigfam").toString
    val (lake, idx) = (s"$dir/lake", s"$dir/index")
    val dText = "zebra yak xylophone walrus vulture tiger snake rabbit quail panda otter"
    IngestClean.cleanBatch(spark,
      spark.createDataFrame(Seq(Doc(1, dText, 1000000L))), lake, idx)
    // the marker was written with the index
    val marker = new java.io.File(idx, "_sigfamily")
    assert(marker.exists, "index append did not write the signature-family marker")
    assert(new String(java.nio.file.Files.readAllBytes(marker.toPath)).trim ==
      graft.streaming.StreamDedup.signatureFamily)
    // corrupt it: pretend the index was banded under an older family
    // (written through the Hadoop FS so the local-FS checksum sidecar
    // stays consistent — a raw java.nio write would fail the CRC)
    locally {
      val p = new org.apache.hadoop.fs.Path(idx, "_sigfamily")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val out = fs.create(p, true)
      out.write("sigfam-0000000000000000".getBytes); out.close()
    }
    val stats = IngestClean.cleanBatch(spark,
      spark.createDataFrame(Seq(
        Doc(2, dText.split(' ').reverse.mkString(" "), 2000000L))), lake, idx)
    assert(stats.appended == 0L, "near-dup sailed through a rebuilt index")
    assert(new String(java.nio.file.Files.readAllBytes(marker.toPath)).trim ==
      graft.streaming.StreamDedup.signatureFamily, "rebuild did not refresh the marker")
    val kept = spark.read.parquet(lake).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
  }

  test("legacy bare-file quarantine dirs migrate into the batch=-1 partition on first touch") {
    import graft.streaming.IngestClean
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_qmig").toString
    val (lake, idx, quar) = (s"$dir/lake", s"$dir/index", s"$dir/quarantine")
    // a quarantine dir written by the pre-partitioned layout: bare
    // parquet files at the root
    val stage = s"$dir/stage"
    spark.createDataFrame(Seq(Doc(99, "legacy dropped doc", 1000L)))
      .withColumn("reason", org.apache.spark.sql.functions.lit("quality"))
      .coalesce(1).write.parquet(stage)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(quar))
    new java.io.File(stage).listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
      java.nio.file.Files.move(f.toPath, new java.io.File(quar, f.getName).toPath); ()
    }
    val batch = spark.createDataFrame(Seq(
      Doc(1, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo", 1000000L),
      Doc(2, "too short", 2000000L)))
    IngestClean.cleanBatch(spark, batch, lake, idx,
      quarantineDir = Some(quar), batchId = 0L)
    // one partitioned table holding BOTH generations (partition-type
    // inference can be conf-toggled by sibling suites, so pin the cast)
    import org.apache.spark.sql.functions.{col => cc}
    val rows = spark.read.parquet(quar)
      .select(cc("doc_id"), cc("reason"), cc("batch").cast("int").as("batch"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(rows == Set((99L, "quality", -1), (2L, "quality", 0)), s"quarantine held $rows")
  }

  test("horizon holds even with no intervening batch to fire the eviction timeout") {
    // The identical doc arrives 10h later in the VERY NEXT batch: the
    // bucket's timeout has not fired (the watermark only advances after
    // batch 1, and no data-free batch ran), but the pair is still
    // cross-horizon and must be suppressed by member age.
    val h = 3600L * 1000
    val a = Doc(1, "the quick brown fox jumps over the lazy dog again and again", 1000000L)
    val late = Doc(2, a.text, 10 * 3600L * 1000000L)
    val inside = Doc(3, a.text, 10 * 3600L * 1000000L + 1000000L)
    val got = runStream(Seq(Seq(a), Seq(late, inside)), h)
    assert(!got.exists { case (x, _, _) => x == 1L }, s"cross-horizon pair leaked: $got")
    assert(got.exists { case (x, y, _) => x == 2L && y == 3L }, s"missing in-horizon pair: $got")
  }

  test("cleanBatch decides per row: two rows sharing a doc_id each get their own verdict") {
    // The two batches first seen while building the bloom case: doc_id
    // 100 twice, once a reordered copy (near dup) and once an exact copy
    // of a lake doc, each beside one novel row on the same doc_id. Keyed
    // on doc_id, a flag on either row dropped both (0 appended) and the
    // index picked up the lake copy's bands.
    import graft.streaming.IngestClean
    val textL = "zebra yak xylophone walrus vulture tiger snake rabbit quail panda otter"
    def bandsOf(text: String): Set[String] =
      StreamDedup.banded(spark.createDataFrame(Seq(Doc(0, text, 0L))).toDF())
        .collect().map(_.band).toSet
    def run(copy: String, novel: String, reason: String): Unit = {
      val dir = java.nio.file.Files.createTempDirectory("graft_ingest_perrow").toString
      val (lake, idx, quar) = (s"$dir/lake", s"$dir/index", s"$dir/quarantine")
      IngestClean.cleanBatch(spark, spark.createDataFrame(Seq(Doc(1, textL, 1000000L))), lake, idx)
      val st = IngestClean.cleanBatch(spark, spark.createDataFrame(Seq(
          Doc(100, copy, 100000000L), Doc(100, novel, 101000000L))), lake, idx,
        quarantineDir = Some(quar), batchId = 1L)
      assert(st.appended == 1L, s"$reason batch: $st")
      val kept = spark.read.parquet(lake).select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(kept == Set(1L -> textL, 100L -> novel), s"$reason batch: lake held $kept")
      val indexed = spark.read.parquet(idx).filter(col("doc_id") === 100L)
        .select("band").collect().map(_.getString(0)).toSet
      assert(indexed == bandsOf(novel), s"$reason batch: index holds bands of another row")
      val quarRows = spark.read.parquet(quar).select("doc_id", "text", "reason", "dup_of")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
      assert(quarRows == Set((100L, copy, reason, 1L)), s"$reason batch: quarantine held $quarRows")
    }
    run(textL.split(' ').reverse.mkString(" "),
      "one unique sentence mentioning parquet shuffles catalyst codegen and watermarks today",
      "near_dup")
    run(textL,
      "another novel line about band windows per row keys and lake appends here",
      "exact_dup")
  }

  test("cleanBatch sizes the first batch's lake sha bloom from the spine's observed count") {
    import graft.streaming.IngestClean
    import graft.sources.{BloomLake, LakeListing}
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_bloom1").toString
    val (lake, idx) = (s"$dir/lake", s"$dir/index")
    val docs = (1 to 30).map(i => Doc(i, (1 to 12).map(j => s"f${i}x$j").mkString(" "), i * 1000000L))
    assert(IngestClean.cleanBatch(spark, spark.createDataFrame(docs), lake, idx).appended == 30)
    BloomLake.assertBloomCapacity(spark, lake, "sha", fpp = 1e-8)
    BloomLake.assertBloomCapacity(spark, idx, "band", fpp = 1e-8)
    val sizes = Seq(lake, idx).flatMap(d => LakeListing.dataFileSizes(
      spark.sessionState.newHadoopConf(), new org.apache.hadoop.fs.Path(d)))
    assert(sizes.size == 2)
    // a bitset for the 100k-key default alone is ~0.5 MB
    sizes.foreach { case (f, n) => assert(n < 64 * 1024, s"$f is $n bytes") }
  }

  test("a steady-state cleanBatch append runs 11 Spark jobs (19 with the double-built spine)") {
    // One batch with an exact and a near dup, so both tiers keep files
    // after their bloom walks and the whole plan runs: the spine
    // checkpoint 2 (its nrm exchange and the checkpoint), the probe-key
    // collect 1, the lake append 6 (the two key broadcasts, the lake-hit
    // broadcast, the band and the per-row exchanges, the write) and the
    // index append 2 (the new files' sha broadcast, the write).
    import graft.streaming.IngestClean
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_jobcount").toString
    val (lake, idx) = (s"$dir/lake", s"$dir/index")
    def doc(id: Long) = Doc(id, (0 until 12).map(i => s"j${id}x$i").mkString(" "), id * 1000000L)
    IngestClean.cleanBatch(spark, spark.createDataFrame((0 until 20).map(i => doc(i.toLong))), lake, idx)
    val batch = spark.createDataFrame((100 until 120).map(i => doc(i.toLong)) ++ Seq(
      doc(3).copy(doc_id = 200L, us = 999000000L),
      Doc(201L, doc(7).text.split(' ').reverse.mkString(" "), 999100000L)))
    var st: IngestClean.BatchStats = null
    val jobs = IndexRungSpec.jobsOf { st = IngestClean.cleanBatch(spark, batch, lake, idx) }
    assert(st == IngestClean.BatchStats(22, 22, 21, 20), s"stats: $st")
    assert(IngestClean.lastExactFiles._2 == 1 && IngestClean.lastBandFiles._2 == 1)
    assert(jobs == 11, s"expected 11 Spark jobs per steady-state append, saw $jobs")
  }

  test("the spine checkpoint runs MinHash once: one MinHashSig in its executed plan") {
    // StreamDedup's PROJECTION DISCIPLINE: inlining the signature into
    // the band extraction re-runs all 64 planes per extracted item.
    import graft.streaming.IngestClean
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_minhash").toString
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        if (funcName == "localCheckpoint") plans.add(qe.executedPlan): Unit
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      IngestClean.cleanBatch(spark, spark.createDataFrame(Seq(
        Doc(1, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo", 1000000L),
        Doc(2, "zebra yak xylophone walrus vulture tiger snake rabbit quail panda otter", 2000000L))),
        s"$dir/lake", s"$dir/index")
      org.apache.spark.sql.GraftSqlBridge.drainListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size == 1, s"expected one spine checkpoint, saw ${plans.size}")
    val helper = new AdaptiveSparkPlanHelper {}
    val sigs = helper.collectWithSubqueries(plans.peek()) { case p => p }
      .flatMap(_.expressions.flatMap(_.collect { case m: graft.functions.MinHashSig => m }))
    assert(sigs.size == 1, s"expected one MinHashSig in the spine checkpoint, saw ${sigs.size}")
  }
}
