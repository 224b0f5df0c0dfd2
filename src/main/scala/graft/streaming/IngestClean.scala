package graft.streaming

import graft.sources.{BloomLake, LakeListing, Parquet}
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming clean-corpus ingest — the qp01 pipeline rearranged for a
  * stream: each micro-batch passes a quality gate, exact-dedups within
  * the batch and against the lake, near-dedups against a PERSISTENT LSH
  * BAND INDEX, and only survivors append to the lake (plus their band
  * rows to the index).
  *
  * The index is the piece that makes this incremental, and — since
  * round 13 — every per-batch probe is PRUNED to O(batch + touched
  * files), never a corpus scan:
  *
  *  - EXACT tier: lake appends carry `sha = sha2(nrm, 256)` written
  *    with a parquet split-block bloom filter on that column
  *    ([[BloomLake.writerOptions]]). A batch's exact check collects its
  *    own distinct shas (one bounded O(batch) action), bloom-walks the
  *    lake's FOOTERS ([[BloomLake.pruneByStringSet]] — metadata only,
  *    executor fan-out past 64 files), and left-joins the batch to ONLY
  *    the surviving files' `nrm` column, flagging the hits. A
  *    mostly-novel batch — the steady state — excludes nearly every
  *    file and scans almost nothing. No `distinct()` over the lake: the
  *    per-row group after the join absorbs its multiplicity, so the
  *    corpus-wide shuffle the round-10 shape paid per batch is gone.
  *    Pre-upgrade lake files have no sha column; the set-probe treats
  *    them as un-excludable (always scanned) — correct, and
  *    self-amortizing as the lake turns over.
  *  - NEAR tier: band-index appends carry a bloom filter on `band`; the
  *    batch's band keys (collected in the same O(batch) action) prune
  *    the index files the same way, and the pruned rows meet the
  *    batch's bands in one band window, with no `distinct()`.
  *
  * A batch too large for the bounded key collect (see `maxProbeKeys`)
  * runs the same plan over every file — the pre-round-13 cost, still
  * correct. The index also stores a SIGNATURE-FAMILY marker
  * ([[StreamDedup.signatureFamily]]): band strings are only comparable
  * under the constants that produced them, so a constant change
  * triggers a full index REBUILD (reband the lake) instead of appending
  * incomparable keys — silent recall loss repairIndex could never see.
  *
  * Dedup rules (same spine as qp01/qn18): quality = >= minTokens
  * whitespace tokens (NULL text fails the gate — predicates are
  * null-safe on BOTH sides, so a NULL-text row is dropped AND lands in
  * the quarantine tagged 'quality', never silently lost between two
  * three-valued filters); exact = normalized text seen before
  * (in-batch: keep lowest (us, doc_id)); near = shares any MinHash band
  * with an indexed doc or an earlier exact-novel arrival of the batch
  * (the LSH candidate rule — deliberately the
  * recall-side approximation; verification-grade J >= p/q runs in the
  * batch engine when the workload needs it).
  *
  * Any-band-rule precision caveat, measured in the ingest battery: on a
  * Zipfian corpus a band can be entirely STOPWORD-determined (all 4
  * minhash rows achieved by common tokens), making low-Jaccard docs
  * band-collide — the rule then drops the later carriers of each such
  * band (~0.1%-frequency bands at 1M docs in the paircurve generator's
  * head). This also self-limits: a cleanBatch-built index holds each
  * band's FIRST carrier only, so hot bands cannot accumulate. A
  * workload that cannot afford the over-drop passes
  * `verifyNearDups = Some((p, q))`: band-collided candidates then get
  * the exact token-set J >= p/q check against their collision partners
  * before dropping — O(candidate pairs), see [[verifiedDups]] for the
  * declared precision/recall trade and the partner-text fetch
  * discipline. (Under verify, a band CAN accumulate carriers — each
  * unverified collider survives and appends its bands — which is
  * exactly why the verified tier checks content, not band membership.)
  *
  * Job discipline: a steady-state micro-batch executes FOUR actions,
  * every one O(batch): the spine checkpoint (the one nrm window and the
  * one MinHash pass), the probe-key collect off that checkpoint, the
  * lake append, and the index append (the optional quarantine and zone
  * refresh each add their own) — 11 Spark jobs (pinned in
  * StreamDedupSpec) where the double-built spine took 19–20. The lake
  * append is the decision: one plan of a left join, one band window and
  * one per-row group, which also feeds the quarantine. The stage counts
  * ride the checkpoint and the lake append as `observe` metrics; never
  * a `.count()` per stage.
  */
object IngestClean {

  final case class BatchStats(in: Long, quality: Long, exactNovel: Long, appended: Long)

  private def nrm(c: Column) =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Bound on the per-batch probe-key collect (1 sha + NBands band keys
    * per first-per-nrm doc, checked on the checkpoint's observed count
    * before collecting). Over the bound, pruning is skipped — every
    * file is probed, the pre-pruning cost — rather than letting the
    * collect grow with an unbounded batch. The default bounds the
    * driver-side key bytes, not just rows: at ~80 B per sha/band string
    * 500k keys is ~40 MB on the driver — a 2M default would have let one
    * micro-batch pin ~150-250 MB before the fallback engaged (round-11
    * review). 500k keys = ~29k docs/batch at 17 keys/doc; a larger
    * micro-batch should raise this consciously, not inherit it. */
  private def maxProbeKeys(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.ingest.maxProbeKeys")
      .map(_.toLong).getOrElse(500000L)

  /** Separate, smaller bound on the BROADCAST semi-joins that re-filter
    * surviving files' rows map-side (the post-compaction granularity
    * fix): a broadcast ships every key to every executor, so its safe
    * ceiling is well under the collect's. Between this and
    * [[maxProbeKeys]], file-level bloom pruning still runs on the
    * collected keys but the scan feeds the join whole files — the
    * pre-compaction cost, still correct. */
  private val MaxSemiJoinKeys = 100000L

  /** Expected distinct keys per written file, sizing the bloom bitsets
    * of writes whose key count is not known up front: the index rebuild
    * and repair. A batch append sizes its bitsets to the counts its
    * spine checkpoint observed instead — a 100k-ndv bitset is ~0.5–1 MB
    * per file, which dwarfs a few-hundred-row batch file and is read
    * back by every later batch's bloom walk. At [[BloomFpp]], 100k ndv
    * stays under parquet-mr's 1 MB bloom cap; a much larger ndv would
    * silently hit the cap and degrade the real fpp. Oversizing wastes
    * space, undersizing raises the false-positive rate — both safe. */
  private val BloomNdv = 100000L

  /** Bloom false-positive rate. A SET probe tests up to maxProbeKeys
    * keys per row group, so expected false survivors per file are
    * K x fpp — the parquet default 0.01 excludes NOTHING under a 1e5-key
    * batch (measured in the ingest battery). 1e-8 keeps K x fpp << 1 at
    * the default key bound for ~38 bits/key. */
  private val BloomFpp = 1e-8

  // Test probes (the lastNearPairPath pattern): how many candidate files
  // each tier saw and how many survived its bloom walk on the most
  // recent cleanBatch — the O(batch + touched files) contract is pinned
  // on these in StreamDedupSpec.
  @volatile private[graft] var lastExactFiles: (Int, Int) = (0, 0)
  @volatile private[graft] var lastBandFiles: (Int, Int) = (0, 0)

  /** Failpoint for crash-window tests and the qp11 registration: set to
    * "after_lake_append" to throw BETWEEN the lake append and the index
    * append — the one window [[repairIndex]] exists for. */
  @volatile private[graft] var failpoint: Option[String] = None

  /** Existence through the Hadoop FileSystem API (the same resolution
    * [[graft.sources.ZoneMap.refreshStats]] uses) — a `java.io.File`
    * check is always false on HDFS/S3, which would silently skip the
    * lake/index anti-joins and the zone refresh on a non-local lake. */
  private def pathExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  // ---- signature-family marker ----------------------------------------

  private def markerPath(indexDir: String) =
    new org.apache.hadoop.fs.Path(indexDir, "_sigfamily")

  private def readMarker(spark: SparkSession, indexDir: String): Option[String] = {
    val p = markerPath(indexDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim)
      finally in.close()
    }
  }

  private def writeMarker(spark: SparkSession, indexDir: String): Unit = {
    val p = markerPath(indexDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(StreamDedup.signatureFamily.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    ()
  }

  /** Hold the index to the CURRENT signature family. A marker that
    * disagrees triggers [[rebuildIndex]] — appending bands drawn from
    * different constants would silently zero the pre-change corpus's
    * near-dup recall (old and new band strings never collide, and
    * repairIndex matches by doc_id so it cannot notice). A legacy index
    * with no marker adopts the current family (the constants it was
    * built under are unknowable; the documented assumption is that a
    * marker-less index predates versioning, not a constant change). */
  private def ensureSignatureFamily(spark: SparkSession, lakeDir: String,
      indexDir: String): Unit = {
    if (!pathExists(spark, indexDir)) return
    readMarker(spark, indexDir) match {
      case Some(m) if m == StreamDedup.signatureFamily => ()
      case Some(_) => rebuildIndex(spark, lakeDir, indexDir)
      case None => writeMarker(spark, indexDir)
    }
  }

  /** Reband the WHOLE lake into a fresh index — the signature-family
    * migration path. Two-phase (the ZoneMap stats-swap discipline):
    * band rows land in a hidden staging dir (readers skip it), the old
    * data files are removed, the staged files move into place, and the
    * marker is written LAST — a crash anywhere before that leaves a
    * stale or absent marker, so the next call re-runs the (idempotent)
    * rebuild instead of trusting a half-swapped index. */
  def rebuildIndex(spark: SparkSession, lakeDir: String, indexDir: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val idxPath = new org.apache.hadoop.fs.Path(indexDir)
    val fs = idxPath.getFileSystem(conf)
    val staging = new org.apache.hadoop.fs.Path(indexDir, ".rebuild_tmp")
    if (fs.exists(staging)) fs.delete(staging, true)
    if (pathExists(spark, lakeDir)) {
      val lake = Parquet.read(spark, lakeDir).select("doc_id", "text", "us")
      StreamDedup.banded(lake).toDF().select("band", "doc_id")
        .write.options(BloomLake.writerOptions("band", BloomNdv, BloomFpp))
        .mode(SaveMode.Overwrite).parquet(staging.toString)
    }
    if (fs.exists(idxPath))
      LakeListing.dataFiles(conf, idxPath).foreach(f => fs.delete(f, false))
    if (fs.exists(staging)) {
      LakeListing.dataFiles(conf, staging).foreach { f =>
        fs.rename(f, new org.apache.hadoop.fs.Path(idxPath, f.getName)); ()
      }
      fs.delete(staging, true)
    }
    writeMarker(spark, indexDir)
  }

  /** Clean one micro-batch (doc_id, text, us) into `lakeDir`, maintaining
    * `indexDir`. Returns the per-stage survivor counts. Call from
    * `foreachBatch`; idempotence across retries comes from the exact and
    * band checks themselves (a replayed doc is a dup of its own first
    * write).
    *
    * `zoneStatsPath` (optional) keeps a [[graft.sources.ZoneMap]] stats
    * table over the lake as part of the same batch commit: after the
    * append, [[graft.sources.ZoneMap.refreshStats]] scans ONLY the files
    * this batch added (O(batch), never a lake rescan), so selective
    * readers can data-skip a lake that is still ingesting. Refresh
    * crash-safety matches the stats contract: a missed refresh is
    * repaired by the next batch's call (refresh diffs the listing, not
    * the batch).
    *
    * `verifyNearDups = Some((p, q))` upgrades the near tier's any-band
    * drop rule to the exact-verified tier ([[verifiedDups]]).
    * `autoCompact = Some(k)` arms the measured compaction trigger (see
    * the inline doc at the trigger site): the caller stops owning
    * compaction cadence entirely. */
  def cleanBatch(spark: SparkSession, batch: DataFrame,
      lakeDir: String, indexDir: String, minTokens: Int = 10,
      zoneStatsPath: Option[String] = None,
      zoneCols: Seq[String] = Seq("doc_id", "us"),
      quarantineDir: Option[String] = None,
      batchId: Long = -1L,
      verifyNearDups: Option[(Int, Int)] = None,
      autoCompact: Option[Int] = None): BatchStats = {
    // Null-safe on BOTH polarities: under ANSI semantics
    // size(split(trim(NULL))) is NULL, so filter(p) AND filter(!p) each
    // drop the row — it would vanish with no quarantine record.
    val qualityOk = coalesce(size(split(trim(col("text")), "\\s+")) >= minTokens, lit(false))

    ensureSignatureFamily(spark, lakeDir, indexDir)

    // THE SPINE, checkpointed once: every batch row with its quality flag
    // `q`, nrm, sha, whether it is its nrm's in-batch keeper (`first`: the
    // lowest (us, doc_id) among the quality rows, text breaking a full
    // tie) and the keeper's doc_id (`keep`), plus the keepers' band keys —
    // the batch's ONE MinHash pass. Every later step reads the checkpoint,
    // so the nrm window shuffle runs once. Keepers have distinct nrm, so
    // `sha` is their row key: every verdict below is decided per row, and
    // two rows sharing a doc_id never share one. The counts ride the
    // checkpoint action as an observation, so they cost no job.
    val byNrm = Window.partitionBy("q", "nrm").orderBy(col("us"), col("doc_id"), col("text"))
    val obsSpine = Observation()
    val spine = StreamDedup.withBands(
        batch.select(col("doc_id"), col("text"), col("us"), qualityOk.as("q"))
          .withColumn("nrm", nrm(col("text")))
          .withColumn("sha", sha2(col("nrm"), 256))
          .withColumn("first", col("q") && row_number().over(byNrm) === 1)
          .withColumn("keep", first(col("doc_id")).over(byNrm)),
        col("first"))
      .observe(obsSpine, count(lit(1)).as("in"), count_if(col("q")).as("quality"),
        count_if(col("first")).as("first"), count_if(col("bands").isNotNull).as("banded"))
      .localCheckpoint(true)
    // AQE drops an observation whose input it proves empty and completes
    // it with an empty map; what it would have counted is then zero.
    def counted(o: Observation, k: String): Long = o.get.get(k).fold(0L)(_.asInstanceOf[Long])
    val keepers = spine.filter(col("first")).select("doc_id", "text", "us", "nrm", "sha", "bands")

    val hadoopConf = spark.sessionState.newHadoopConf()
    val lakePath = new org.apache.hadoop.fs.Path(lakeDir)
    def lakeFiles(): Set[String] =
      if (!pathExists(spark, lakeDir)) Set.empty
      else LakeListing.dataFiles(hadoopConf, lakePath).map(_.toString).toSet
    val lakeExists = pathExists(spark, lakeDir)
    val indexExists = pathExists(spark, indexDir)
    val preAppend = lakeFiles()
    try {

    // ONE bounded O(batch) collect reads the probe keys both tiers prune
    // with off the checkpoint: the keepers' shas (exact tier; distinct by
    // construction) and their band keys, deduped on the driver (near
    // tier). Skipped when there is nothing to prune. When the observed
    // keeper count puts the keys over maxProbeKeys, nothing is collected
    // and both tiers probe every file: the same plan over unpruned files.
    val probeKeys: Option[(Seq[String], Seq[String])] =
      if ((!lakeExists && !indexExists) ||
        counted(obsSpine, "first") * (1 + StreamDedup.NBands) > maxProbeKeys(spark)) None
      else {
        val rows = keepers.select("sha", "bands").collect()
        Some((rows.map(_.getString(0)).toSeq,
          rows.iterator.filterNot(_.isNullAt(1)).flatMap(_.getSeq[String](1)).toSeq.distinct))
      }
    val (shas, bandKeys) = (probeKeys.map(_._1), probeKeys.map(_._2))
    // Bloom-walk one table's files with the batch's keys (metadata only):
    // no keys at all means the batch cannot hit, no probe means every file.
    def touched(files: Seq[String], keyCol: String, keys: Option[Seq[String]]): Seq[String] =
      keys match {
        case Some(ks) if ks.nonEmpty => BloomLake.pruneByStringSet(spark, files, keyCol, ks)
        case Some(_) => Seq.empty
        case None => files
      }
    // File-level exclusion is the wrong granularity once compaction
    // merges a table into few big files (a 100 MB file with millions of
    // keys survives almost any probe, and feeding it whole into the
    // join made post-compaction batches SLOWER than uncompacted ones —
    // measured in the ingestgrow battery), so a surviving file's rows are
    // re-filtered map-side against the batch's own keys (broadcast — they
    // were already collected) before any shuffle. Over the broadcast
    // bound the scan feeds whole files: the pre-compaction cost, still
    // correct.
    def narrowed(scan: DataFrame, key: Column, keys: Option[Seq[String]]): DataFrame =
      keys match {
        case Some(ks) if ks.size <= MaxSemiJoinKeys =>
          import spark.implicits._
          scan.join(broadcast(ks.toDF("k")), key === col("k"), "left_semi")
        case _ => scan
      }

    // The two bloom walks are independent footer reads: run side by side.
    val lakeAll = preAppend.toSeq.sorted
    val idxAll = if (!indexExists) Seq.empty[String] else LakeListing.dataFiles(hadoopConf,
      new org.apache.hadoop.fs.Path(indexDir)).map(_.toString)
    val walked = Array.fill(2)(Seq.empty[String])
    graft.Concurrently.run(Seq(() => walked(0) = touched(lakeAll, "sha", shas),
      () => walked(1) = touched(idxAll, "band", bandKeys)))
    lastExactFiles = (lakeAll.size, walked(0).size)
    lastBandFiles = (idxAll.size, walked(1).size)
    // EXACT tier: the surviving lake files' nrm (and doc_id, the dup_of
    // provenance). The sha is recomputed from nrm, never read: pre-upgrade
    // lake files have no sha column, and sha2 over the scanned nrm is the
    // same deterministic key.
    val lakeHits = Option.when(walked(0).nonEmpty)(narrowed(
      Parquet.read(spark, walked(0): _*).select(col("nrm"), col("doc_id").as("lake_doc")),
      sha2(col("nrm"), 256), shas))
    // NEAR tier: the surviving index files' (band, carrier doc) rows.
    val idxRows = Option.when(walked(1).nonEmpty)(narrowed(
      Parquet.read(spark, walked(1): _*).select(col("band"), col("doc_id").as("idx_doc")),
      col("band"), bandKeys))

    // THE DECISION, one plan. The lake exact hit is a flag (`lake_doc`,
    // the lowest lake doc with the row's nrm) from a left join; the
    // join's multiplicity is absorbed by the per-row group below, so the
    // lake side needs no distinct. Each keeper then explodes to one row
    // per band (one null-band row if it has none), carrying its text on
    // one of them only, and the index rows join it through ONE
    // band window, again with no distinct: per band, the earliest
    // exact-novel arrival (a row is an in-batch near dup iff some band of
    // it saw an earlier one — linear in a hot band, where a band
    // self-join was quadratic) and the lowest index carrier (a lake near
    // dup, and its dup_of provenance). A lake exact dup's bands never
    // count as an arrival, so they cannot mark a novel row.
    val flagged = lakeHits.fold(keepers.withColumn("lake_doc", lit(null).cast("long")))(
      keepers.join(_, Seq("nrm"), "left"))
    val arrival = struct(col("us"), col("doc_id"), col("sha"))
    val bandRows = flagged
      .select(col("sha"), col("doc_id"), col("us"), col("lake_doc"), col("text"),
        posexplode_outer(col("bands")).as(Seq("pos", "band")))
      .select(col("sha"), col("doc_id"), col("us"), col("lake_doc"), col("band"),
        lit(null).cast("long").as("idx_doc"),
        when(coalesce(col("pos"), lit(0)) === 0, col("text")).as("text"))
    val byBand = Window.partitionBy("band")
    val windowed = idxRows.fold(bandRows)(bandRows.unionByName(_, allowMissingColumns = true))
      .withColumn("band_first", min(when(col("band").isNotNull && col("sha").isNotNull &&
        col("lake_doc").isNull, arrival)).over(byBand))
      .withColumn("carrier", min(col("idx_doc")).over(byBand))
      .filter(col("sha").isNotNull)
    // One per-row group: every keeper back to one row with its verdict.
    val grouped = windowed.groupBy("sha", "doc_id", "us")
      .agg(first(col("text"), ignoreNulls = true).as("text"),
        min(col("lake_doc")).as("lake_doc"), min(col("carrier")).as("carrier"),
        min(when(col("band_first") < arrival, col("band_first"))).as("prior"))
    val nearOf = verifyNearDups match {
      // provenance: the indexed doc whose band was hit, else the earliest
      // in-batch band partner — the "because of doc Y" the audit needs
      case None => grouped.withColumn("near_of", coalesce(col("carrier"), col("prior.doc_id")))
      case Some((p, q)) => grouped.join(verifiedDups(spark, windowed, keepers, lakeDir,
        lakeExists, arrival, p, q), Seq("sha"), "left")
    }
    val decided = nearOf
      .withColumn("reason", when(col("lake_doc").isNotNull, lit("exact_dup"))
        .when(col("near_of").isNotNull, lit("near_dup")))
      .withColumn("dup_of", coalesce(col("lake_doc"), col("near_of")))

    // Audit trail FIRST — before the lake append: every dropped row
    // lands in the quarantine with the stage that rejected it — the
    // answer to "why is doc X not in the lake?" without re-running the
    // pipeline. Ordering matters: the lake/index reads above list
    // explicit pre-append files, so nothing here can see this batch's
    // own survivors — but the quarantine must still precede the append
    // so a crash between them never loses the explanation for a row the
    // lake already rejected. Stage tags are ROW-level (quality and
    // in-batch exact dup straight off the spine, the rest from the
    // per-row verdicts), so two same-doc_id rows in one batch each get
    // their own verdict. Layout is uniformly Hive-partitioned by batch:
    // with `batchId` set (the foreachBatch
    // id) each attempt OVERWRITES its own batch=<id> partition, so a
    // replay after a partial failure leaves one record per decision —
    // the log reflects the LAST attempt's view (a doc both in the lake
    // and logged exact_dup is a replay artifact; the lake row wins).
    // Without a batchId, drops append under batch=-1 — same directory
    // shape, so the quarantine always reads as ONE partitioned table. A
    // quarantine dir written by the pre-partitioned layout (bare parquet
    // files at the root) is MIGRATED on first touch: the bare files move
    // into a batch=-1 partition, because mixing the two layouts makes
    // Spark refuse to read the directory as one table.
    quarantineDir.foreach { qd =>
      val qRoot = new org.apache.hadoop.fs.Path(qd)
      val qfs = qRoot.getFileSystem(hadoopConf)
      if (qfs.exists(qRoot)) {
        val bare = qfs.listStatus(qRoot).filter(st =>
          st.isFile && st.getPath.getName.endsWith(".parquet"))
        if (bare.nonEmpty) {
          val legacy = new org.apache.hadoop.fs.Path(qRoot, "batch=-1")
          qfs.mkdirs(legacy)
          bare.foreach { st =>
            qfs.rename(st.getPath,
              new org.apache.hadoop.fs.Path(legacy, st.getPath.getName)); ()
          }
        }
      }
      // Every non-quality drop carries dup_of PROVENANCE — the specific
      // document it duplicated (in-batch keeper, lake doc with the same
      // nrm, or the band partner/indexed doc for near-dups), so "why is
      // doc X not in the lake" has a one-row answer. dup_of is an
      // additive schema change: pre-provenance quarantine files lack the
      // column (read the mixed table with mergeSchema to surface it).
      val log = spine.filter(!col("first"))
        .select(col("doc_id"), col("text"), col("us"), when(col("q"), col("keep")).as("dup_of"),
          when(col("q"), lit("exact_dup")).otherwise(lit("quality")).as("reason"))
        .unionByName(decided.filter(col("reason").isNotNull)
          .select("doc_id", "text", "us", "dup_of", "reason"))
      val mode = if (batchId >= 0) SaveMode.Overwrite else SaveMode.Append
      log.write.mode(mode).parquet(s"$qd/batch=$batchId")
    }

    // The lake append: the per-row verdicts' survivors, with the
    // exact-novel and appended counts observed on the same pass, and the
    // sha column under a bloom filter sized to the keepers — the artifact
    // the NEXT batch's exact tier prunes with. One file per append: every
    // later batch's bloom walk reads one footer per file, and the per-row
    // exchange alone coalesces to two partitions at 5k docs.
    val obsDecided = Observation()
    decided.observe(obsDecided, count_if(col("lake_doc").isNull).as("novel"),
        count_if(col("reason").isNull).as("appended"))
      .filter(col("reason").isNull)
      .select(col("doc_id"), col("text"), col("us"), nrm(col("text")).as("nrm"), col("sha"))
      .coalesce(1)
      .write.options(BloomLake.writerOptions("sha",
        math.max(1L, counted(obsSpine, "first")), BloomFpp))
      .mode(SaveMode.Append).parquet(lakeDir)

    failpoint.filter(_ == "after_lake_append").foreach { _ =>
      throw new IllegalStateException(
        "injected failpoint: lake appended, index append pending")
    }

    // Index append — LAKE-FIRST for crash consistency (a crash here
    // leaves lake rows the next batch still exact-dedups; index-first
    // would leave phantom bands that suppress their own replay forever).
    // The rows derive from the files THIS append added (an fs listing
    // diff — manifest-class, like the zone refresh), matched to the
    // keepers on sha, not from the verdicts: re-running that lineage
    // after the append would re-run its probes against a listing that
    // may have been refreshed, so the written files are the one
    // authoritative record of what landed. The bands come from the
    // checkpoint (no second MinHash pass). The band bloom holds at most
    // the batch's distinct bands, which the probe-key collect counted,
    // else the keepers' band keys, which the checkpoint counted.
    val newFiles = (lakeFiles() -- preAppend).toSeq.sorted
    if (newFiles.nonEmpty) {
      val bandNdv = bandKeys.fold(counted(obsSpine, "banded") * StreamDedup.NBands)(_.size.toLong)
      keepers.join(Parquet.readBase(spark, lakeDir, newFiles).select("sha"), Seq("sha"), "left_semi")
        .select(explode(col("bands")).as("band"), col("doc_id"))
        .write.options(BloomLake.writerOptions("band", math.max(1L, bandNdv), BloomFpp))
        .mode(SaveMode.Append).parquet(indexDir)
      if (!indexExists) writeMarker(spark, indexDir)
    }
    zoneStatsPath.foreach { sp =>
      if (pathExists(spark, lakeDir))
        graft.sources.ZoneMap.refreshStats(spark, lakeDir, sp, zoneCols): Unit
    }
    // MEASURED compaction trigger (`autoCompact = Some(k)`): compact when
    // either table's data-file count exceeds k x its ideal compacted
    // count — ideal derived STATELESSLY from the same listing the batch
    // already walks (ceil(total bytes / targetBytes)), so no
    // "batches since last compaction" counter to persist or lose on
    // restart. An append-per-batch lake otherwise grows its file count
    // (and every later batch's footer walk) linearly with batch count —
    // the ingestgrow battery's unpicked curve; with the trigger the
    // count saw-tooths between ideal and k x ideal regardless of how
    // long the stream runs or how it crashes. Runs AFTER the index
    // append (compaction must never sit inside the lake->index crash
    // window); crash-safety is compact's own two-phase swap.
    autoCompact.foreach { k =>
      def over(dir: String): Boolean =
        pathExists(spark, dir) && {
          val sizes = LakeListing.dataFileSizes(hadoopConf,
            new org.apache.hadoop.fs.Path(dir)).map(_._2)
          val ideal = math.max(1L,
            (sizes.sum + defaultTargetBytes - 1) / defaultTargetBytes)
          sizes.size > k * ideal
        }
      if (over(lakeDir) || over(indexDir)) compactIngest(spark, lakeDir, indexDir)
    }
    BatchStats(counted(obsSpine, "in"), counted(obsSpine, "quality"),
      counted(obsDecided, "novel"), counted(obsDecided, "appended"))
    // The finally matters for a LONG-RUNNING stream: the spine
    // checkpoint pins the batch and its band keys in block storage per
    // batch, and relying on GC/ContextCleaner to release them lets
    // thousands of micro-batches accumulate dead blocks (the clearMemo
    // pattern, applied per batch).
    } finally {
      try spine.queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case _ => ()
      } catch { case _: Exception => () } // stopped context: blocks are gone
    }
  }

  /** The VERIFIED near-dup tier (`verifyNearDups = Some((p, q))`): every
    * band-collision CANDIDATE gets the exact token-set Jaccard >= p/q
    * check (qn03/qn04's rule) against its collision partner before the
    * drop — the any-band rule's known over-drop on stopword-determined
    * bands (object doc) becomes a verified decision. Cost is
    * O(candidate pairs), never O(batch^2): candidates are one pair per
    * (row, band-with-a-hit) — the band's earliest in-batch arrival, and
    * the indexed band's lowest carrier — exactly the rows the any-band
    * rule's band window already computes.
    *
    * Declared semantics (precision over the any-band rule's recall): a
    * row is dropped iff SOME candidate partner passes the exact check.
    * The candidate per band is its FIRST carrier — a true dup whose
    * only shared band is carried first by an unrelated doc is not
    * dropped (it survives, carrying its own content bands into the
    * index, so its later dups verify against IT). That under-drop is
    * bounded and self-healing where the any-band over-drop was neither:
    * a wrongly dropped doc is gone forever; a wrongly kept one is one
    * more lake row the batch engine's full J >= p/q dedup (qn18) can
    * still reconcile. An indexed carrier with the row's own doc_id is no
    * candidate; an in-batch partner is another row by construction.
    *
    * Partner text fetch: in-batch partners read from the keepers by sha;
    * lake partners (a bounded id set — one per hit band) are fetched by
    * a pushed-down `doc_id IN (...)` scan when the set fits
    * [[MaxSemiJoinKeys]] (row-group stats prune a doc_id-clustered lake)
    * and by a semi-join otherwise. Verify mode therefore adds ONE
    * bounded collect (the partner ids) to the batch's action count —
    * priced per batch in the ingest battery. Returns (sha, near_of). */
  private def verifiedDups(spark: SparkSession, windowed: DataFrame,
      keepers: DataFrame, lakeDir: String, lakeExists: Boolean,
      arrival: Column, p: Int, q: Int): DataFrame = {
    import graft.functions.TextFns.tokenSet
    // one candidate row per (row, hit band): the lake carrier (p_sha
    // null) and/or the in-batch first arrival
    val cand = windowed.filter(col("lake_doc").isNull)
    val pairs = cand.filter(col("carrier").isNotNull && col("carrier") =!= col("doc_id"))
      .select(col("sha"), col("carrier").as("partner"), lit(null).cast("string").as("p_sha"))
      .unionByName(cand.filter(col("band_first") < arrival).select(col("sha"),
        col("band_first.doc_id").as("partner"), col("band_first.sha").as("p_sha")))
      .distinct()
    val lakePairs = pairs.filter(col("p_sha").isNull).drop("p_sha")
    val lakeScan: Option[DataFrame] =
      if (!lakeExists) None
      else {
        // the bounded collect: lake-partner ids, one per hit band
        val idRows = lakePairs.select(col("partner")).distinct()
          .limit(math.min(MaxSemiJoinKeys + 1, Int.MaxValue.toLong).toInt)
          .collect()
        if (idRows.isEmpty) None
        else {
          val base = Parquet.read(spark, lakeDir)
            .select(col("doc_id").as("partner"), col("text").as("p_text"))
          if (idRows.length <= MaxSemiJoinKeys)
            // pushed-down IN: parquet row-group stats prune a
            // doc_id-clustered lake to the touched groups
            Some(base.filter(col("partner").isin(idRows.map(_.getLong(0)).toSeq: _*)))
          else
            Some(base.join(lakePairs.select("partner").distinct(), Seq("partner"), "left_semi"))
        }
      }
    val batchPairs = pairs.filter(col("p_sha").isNotNull)
      .join(keepers.select(col("sha").as("p_sha"), col("text").as("p_text")), Seq("p_sha"))
      .drop("p_sha")
    // exact J >= p/q on token SETS — the qn03 rule verbatim
    lakeScan.fold(batchPairs)(lk => batchPairs.unionByName(lakePairs.join(lk, Seq("partner"))))
      .join(keepers.select(col("sha"), tokenSet(col("text")).as("d_toks")), Seq("sha"))
      .withColumn("p_toks", tokenSet(col("p_text")))
      .withColumn("n_inter", size(array_intersect(col("d_toks"), col("p_toks"))))
      .withColumn("n_union",
        size(col("d_toks")) + size(col("p_toks")) - col("n_inter"))
      .filter(col("n_union") > 0 && lit(q) * col("n_inter") >= lit(p) * col("n_union"))
      .groupBy(col("sha")).agg(min(col("partner")).as("near_of"))
  }

  /** The compaction target file size — shared by [[compactIngest]]'s
    * default and the [[cleanBatch]] auto-compaction trigger's ideal-
    * file-count derivation (the two must agree or the trigger's "ideal"
    * drifts from what compaction actually produces). */
  private[streaming] val defaultTargetBytes: Long = 128L * 1024 * 1024

  /** Periodic maintenance for an ingest lake + band index: small-file
    * compaction with the BLOOM writer options threaded through the
    * rewrite — compacting either table without them would silently drop
    * the very filters the per-batch pruning probes (the
    * [[graft.sources.LakeMaintenance.compact]] contract). An
    * append-per-micro-batch lake accumulates one-plus files per batch,
    * so the footer walk (and eventually the listing) grows linearly
    * with BATCH COUNT even though each walk is metadata-only; running
    * this every K batches caps both at O(lake bytes / targetBytes).
    *
    * `expectedKeysPerFile` sizes the post-compaction blooms: a merged
    * file holds the keys of every file it swallowed, and a bitset sized
    * for a batch-sized append would saturate (exclude nothing) on a
    * 128 MB compacted file. Default 1M keys ~ a 40 B/row index file at
    * the default target; at 1e-8 fpp that is a ~4.8 MB bloom per file
    * (~4% overhead) — the price of keeping a compacted lake as
    * probe-prunable as a fresh one (pinned in StreamDedupSpec). An
    * `expectedKeysPerFile` that undersells the real per-file keys makes
    * the rewritten bitsets saturate and silently stop excluding —
    * [[BloomLake.assertBloomCapacity]] audits exactly this from footers
    * (fails loudly, BloomLakeSpec); run it after a cadence change or
    * whenever targetBytes grows.
    * Crash-safety is compact's own two-phase swap; the signature-family
    * marker is not a data file and survives in place. */
  def compactIngest(spark: SparkSession, lakeDir: String, indexDir: String,
      targetBytes: Long = defaultTargetBytes,
      expectedKeysPerFile: Long = 1000000L): Unit = {
    if (pathExists(spark, lakeDir))
      graft.sources.LakeMaintenance.compact(spark, lakeDir, targetBytes,
        BloomLake.writerOptions("sha", expectedKeysPerFile, BloomFpp)): Unit
    if (pathExists(spark, indexDir))
      graft.sources.LakeMaintenance.compact(spark, indexDir, targetBytes,
        BloomLake.writerOptions("band", expectedKeysPerFile, BloomFpp)): Unit
  }

  /** Repair the band index after the one crash window [[cleanBatch]]
    * cannot self-heal: a failure BETWEEN the lake append and the index
    * append commits survivors to the lake whose bands never reach the
    * index — and the replay can't fill them in, because the replayed
    * rows are exact-dups of their own first write and never reach the
    * index append. Without repair, every future near-dup of those docs
    * passes the band check: silent, unbounded recall loss.
    *
    * The repair is the set difference the crashed batch lost: lake docs
    * absent from the index get their band rows appended (under the same
    * band bloom the per-batch pruning probes — a repaired file is as
    * prunable as an appended one). A signature-family mismatch found
    * here rebuilds the whole index first (see [[ensureSignatureFamily]])
    * — after which nothing is missing by construction. O(lake ⋈ index)
    * on doc_id — a startup/periodic maintenance call (run it on
    * recovery before resuming the stream), NOT a per-batch cost.
    * Idempotent: a second call finds nothing missing. Docs that band to
    * nothing (empty token sets) are re-examined each call and re-append
    * nothing — harmless. Returns the number of docs re-indexed. */
  def repairIndex(spark: SparkSession, lakeDir: String, indexDir: String): Long = {
    if (!pathExists(spark, lakeDir)) return 0L
    ensureSignatureFamily(spark, lakeDir, indexDir)
    val lake = Parquet.read(spark, lakeDir).select("doc_id", "text", "us")
    val missing =
      if (!pathExists(spark, indexDir)) lake
      else lake.join(Parquet.read(spark, indexDir).select("doc_id").distinct(),
        Seq("doc_id"), "left_anti")
    val bands = StreamDedup.banded(missing).toDF()
      .select("band", "doc_id").localCheckpoint(true)
    val n = bands.select("doc_id").distinct().count()
    if (n > 0) {
      bands.write.options(BloomLake.writerOptions("band", BloomNdv, BloomFpp))
        .mode(SaveMode.Append).parquet(indexDir)
      if (readMarker(spark, indexDir).isEmpty) writeMarker(spark, indexDir)
    }
    n
  }
}
