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
  *    executor fan-out past 64 files), and anti-joins the batch against
  *    ONLY the surviving files' `nrm` column. A mostly-novel batch — the
  *    steady state — excludes nearly every file and scans almost
  *    nothing. No `distinct()` over the lake: an anti-join needs no
  *    deduplicated right side, so the corpus-wide shuffle the round-10
  *    shape paid per batch is gone. Pre-upgrade lake files have no sha
  *    column; the set-probe treats them as un-excludable (always
  *    scanned) — correct, and self-amortizing as the lake turns over.
  *  - NEAR tier: band-index appends carry a bloom filter on `band`; the
  *    batch's band keys (collected in the same O(batch) action) prune
  *    the index files the same way, and the `distinct()` that feeds the
  *    membership join runs over the PRUNED subset only.
  *
  * A batch too large for the bounded key collect (see `maxProbeKeys`)
  * falls back to probing every file — the pre-round-13 cost, still
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
  * with an indexed doc (the LSH candidate rule — deliberately the
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
  * Job discipline: the per-stage counts ride the lake-write pass as
  * `observe` metrics — a steady-state micro-batch executes FOUR
  * actions, every one O(batch): the band checkpoint (the single MinHash
  * pass, reused by three consumers), the probe-key collect, the lake
  * append, and the index append (the optional quarantine and zone
  * refresh each add their own). Never a `.count()` per stage. The
  * in-batch near check is a per-band window (min arrival per band), not
  * a band self-join — linear in a hot band's bucket size where the
  * self-join was quadratic.
  */
object IngestClean {

  final case class BatchStats(in: Long, quality: Long, exactNovel: Long, appended: Long)

  private def nrm(c: Column) =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Bound on the per-batch probe-key collect (1 sha + NBands band keys
    * per first-per-nrm doc). Over the bound, pruning is skipped — every
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
    * collected keys but the scan feeds the anti-join whole files — the
    * pre-compaction cost, still correct. */
  private def maxSemiJoinKeys(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.ingest.maxSemiJoinKeys")
      .map(_.toLong).getOrElse(100000L)

  /** Expected distinct keys per written file, sizing the bloom bitsets
    * of writes whose key count is not known up front: the first batch's
    * lake append (no probe keys are collected before a lake exists), a
    * batch over [[maxProbeKeys]], and the index rebuild and repair. A
    * batch append with a known count sizes its bitsets to that count
    * instead — a 100k-ndv bitset is ~0.5–1 MB per file, which dwarfs a
    * few-hundred-row batch file and is read back by every later batch's
    * bloom walk. With [[bloomFpp]] at its 1e-8 default, 100k ndv stays
    * under parquet-mr's 1 MB bloom cap; a much larger ndv would silently
    * hit the cap and degrade the real fpp. Oversizing wastes space,
    * undersizing raises the false-positive rate — both safe. */
  private def bloomNdv(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.ingest.bloomNdv")
      .map(_.toLong).getOrElse(100000L)

  /** Bloom false-positive rate. A SET probe tests up to maxProbeKeys
    * keys per row group, so expected false survivors per file are
    * K x fpp — the parquet default 0.01 excludes NOTHING under a 1e5-key
    * batch (measured in the ingest battery). 1e-8 keeps K x fpp << 1 at
    * the default key bound for ~38 bits/key. */
  private def bloomFpp(spark: SparkSession): Double =
    spark.conf.getOption("spark.graft.ingest.bloomFpp")
      .map(_.toDouble).getOrElse(1e-8)

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
        .write.options(BloomLake.writerOptions("band", bloomNdv(spark), bloomFpp(spark)))
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

    // The exact-dedup spine, built twice from `batch`: once UNOBSERVED
    // (feeding the band/dup analysis and the quarantine tags, which run
    // as their own actions and must not re-fire the lake write's
    // observations) and once OBSERVED (the lake-write lineage, where one
    // pass collects every stage count for free).
    def spine(qualityRows: DataFrame): (DataFrame, DataFrame) = {
      val withRn = qualityRows.withColumn("nrm", nrm(col("text")))
        .withColumn("sha", sha2(col("nrm"), 256))
        .withColumn("rn", row_number().over(
          Window.partitionBy("nrm").orderBy(col("us").asc, col("doc_id").asc)))
      (withRn, withRn.filter(col("rn") === 1).drop("rn"))
    }
    val (withRn, inBatchFirst) = spine(batch.filter(qualityOk))

    val hadoopConf = spark.sessionState.newHadoopConf()
    val lakePath = new org.apache.hadoop.fs.Path(lakeDir)
    def lakeFiles(): Set[String] =
      if (!pathExists(spark, lakeDir)) Set.empty
      else LakeListing.dataFiles(hadoopConf, lakePath).map(_.toString).toSet
    val lakeExists = pathExists(spark, lakeDir)
    val indexExists = pathExists(spark, indexDir)
    val preAppend = lakeFiles()

    // The batch's band rows, computed ONCE per batch and checkpointed:
    // the 64-plane MinHash is the single most expensive per-batch
    // expression, and three consumers need its output — the probe-key
    // collect, the near-dup analysis, and the index append. Banding
    // inBatchFirst (not exactNovel) breaks the cycle with the pruned
    // lake read; the dup analysis re-restricts to exact-novel docs
    // below, so verdicts are unchanged. Only (band, doc_id, us)
    // survives into the checkpoint — the signature arrays would
    // multiply its footprint ~10x for nothing.
    val bandedFirst = StreamDedup.banded(inBatchFirst.select("doc_id", "text", "us"))
      .toDF().select("band", "doc_id", "us").localCheckpoint(true)
    try {

    // ONE bounded O(batch) action collects the probe keys both tiers
    // prune with: the batch's shas (exact tier; already distinct —
    // inBatchFirst is first-per-nrm) and its distinct band keys (near
    // tier — from inBatchFirst, a SUPERSET of the exact-novel docs that
    // are actually band-checked, so pruning with it is conservative),
    // tagged into one column so one job serves both. Skipped entirely
    // when there is nothing to prune; over maxProbeKeys, both tiers
    // fall back to all-files.
    val probeKeys: Option[(Seq[String], Seq[String])] =
      if (!lakeExists && !indexExists) None
      else {
        val maxKeys = maxProbeKeys(spark)
        val rows = inBatchFirst.select(concat(lit("s:"), col("sha")).as("k"))
          .unionByName(bandedFirst.select(concat(lit("b:"), col("band")).as("k")).distinct())
          .limit(math.min(maxKeys + 1, Int.MaxValue.toLong).toInt).collect()
        if (rows.length > maxKeys) None
        else {
          val ks = rows.map(_.getString(0))
          Some((
            ks.collect { case k if k.startsWith("s:") => k.drop(2) }.toSeq,
            ks.collect { case k if k.startsWith("b:") => k.drop(2) }.toSeq))
        }
      }

    // EXACT tier: bloom-prune the lake's files with the batch's shas,
    // then anti-join on nrm against ONLY the survivors. No distinct —
    // the anti/semi joins are multiplicity-blind, so the corpus-wide
    // shuffle the distinct() cost is simply not needed. Surviving files
    // are additionally semi-joined against the BATCH's keys map-side
    // (broadcast — the keys were already collected): file-level
    // exclusion is the wrong granularity once compaction merges a lake
    // into few big files (a 100 MB file with millions of keys survives
    // almost any probe, and feeding it whole into the anti-join made
    // post-compaction batches SLOWER than uncompacted ones — measured
    // in the ingestgrow battery), so the scan keeps only rows whose key
    // the batch actually probes before any join shuffle. The sha here
    // is recomputed from nrm, never read: pre-upgrade lake files have
    // no sha column, and sha2 over the scanned nrm is exactly the same
    // deterministic key.
    val seenNrm: Option[DataFrame] =
      if (!lakeExists) { lastExactFiles = (0, 0); None }
      else {
        val all = preAppend.toSeq.sorted
        val pruned = probeKeys match {
          case Some((shas, _)) if shas.nonEmpty =>
            BloomLake.pruneByStringSet(spark, all, "sha", shas)
          case Some(_) => Seq.empty // no quality docs: nothing can be a dup
          case None => all
        }
        lastExactFiles = (all.size, pruned.size)
        if (pruned.isEmpty) None
        else {
          // doc_id rides along for the quarantine's dup_of provenance
          val scan = Parquet.read(spark, pruned: _*).select(col("nrm"), col("doc_id"))
          Some(probeKeys match {
            case Some((shas, _)) if shas.size <= maxSemiJoinKeys(spark) =>
              import spark.implicits._
              scan.join(broadcast(shas.toDF("sha")),
                sha2(col("nrm"), 256) === col("sha"), "left_semi")
            case _ => scan // over the broadcast bound: whole files, still correct
          })
        }
      }
    def novel(firstPerNrm: DataFrame): DataFrame = seenNrm match {
      case None => firstPerNrm
      case Some(nrms) => firstPerNrm.join(nrms, Seq("nrm"), "left_anti")
    }

    val exactNovel = novel(inBatchFirst)

    // Near-dup doc_ids, decided per band WITHOUT a self-join: a doc is an
    // in-batch near-dup iff some band it occupies saw an earlier arrival
    // (min (us, doc_id) over the band partition — linear where the
    // band⋈band join was quadratic in a hot bucket), and a lake near-dup
    // iff any of its bands is in the persisted index (left join a marker
    // on the distinct PRUNED index bands). Same verdicts as the join
    // formulation: if any earlier y shares a band, that band's min ≤ y.
    // The semi-join re-restricts the checkpointed bands to exact-novel
    // docs BEFORE the window: a lake-exact-dup's bands must not become a
    // band's earliest arrival and mark a genuinely novel doc near-dup.
    val banded = bandedFirst.join(exactNovel.select("doc_id"), Seq("doc_id"), "left_semi")
    val idxBands: Option[DataFrame] =
      if (!indexExists) { lastBandFiles = (0, 0); None }
      else {
        val all = LakeListing.dataFiles(hadoopConf,
          new org.apache.hadoop.fs.Path(indexDir)).map(_.toString)
        val pruned = probeKeys match {
          case Some((_, bands)) if bands.nonEmpty =>
            BloomLake.pruneByStringSet(spark, all, "band", bands)
          case Some(_) => Seq.empty
          case None => all
        }
        lastBandFiles = (all.size, pruned.size)
        if (pruned.isEmpty) None
        // distinct over the PRUNED subset only — O(touched files), and
        // needed here (unlike the exact tier) because the membership
        // LEFT join would otherwise multiply batch rows per index hit.
        // Same granularity discipline as the exact tier: semi-join the
        // scan against the batch's own band keys FIRST (map-side,
        // broadcast), so the distinct shuffles only bands the batch can
        // actually hit — a compacted index file would otherwise feed
        // its whole multi-million-row key set into the shuffle.
        else {
          val scan = Parquet.read(spark, pruned: _*)
            .select(col("band"), col("doc_id").as("idx_doc"))
          val filtered = probeKeys match {
            case Some((_, bands)) if bands.size <= maxSemiJoinKeys(spark) =>
              import spark.implicits._
              scan.join(broadcast(bands.toDF("band")), Seq("band"), "left_semi")
            case _ => scan // over the broadcast bound: whole files, still correct
          }
          // per-band dedup (the old distinct), keeping the lowest member
          // doc as the band's provenance witness for dup_of
          Some(filtered.groupBy(col("band"))
            .agg(min(col("idx_doc")).as("idx_dup_of"))
            .withColumn("idx_hit", lit(1)))
        }
      }
    val withIdx = idxBands match {
      case None => banded.withColumn("idx_hit", lit(0))
        .withColumn("idx_dup_of", lit(null).cast("long"))
      case Some(ib) => banded.join(ib, Seq("band"), "left")
    }
    val arrival = struct(col("us"), col("doc_id"))
    val bandFirsted = withIdx
      .withColumn("band_first", min(arrival).over(Window.partitionBy("band")))
    val anyBandDups = bandFirsted
      .groupBy(col("doc_id"), col("us"))
      .agg(max(col("idx_hit")).as("lake_hit"), min(col("band_first")).as("earliest"),
        min(col("idx_dup_of")).as("idx_partner"))
      .filter(coalesce(col("lake_hit"), lit(0)) === 1 || col("earliest") < arrival)
      // provenance: the lake doc whose band was hit, else the earliest
      // in-batch band partner — the "because of doc Y" the audit needs
      .select(col("doc_id"),
        when(coalesce(col("lake_hit"), lit(0)) === 1, col("idx_partner"))
          .otherwise(col("earliest.doc_id")).as("dup_of"))
    val dupIds = verifyNearDups match {
      case None => anyBandDups
      case Some((p, q)) => verifiedDups(spark, bandFirsted, inBatchFirst,
        lakeDir, lakeExists, arrival, p, q)
    }

    // Audit trail FIRST — before the lake append: every dropped row
    // lands in the quarantine with the stage that rejected it — the
    // answer to "why is doc X not in the lake?" without re-running the
    // pipeline. Ordering matters: the lake/index reads above list
    // explicit pre-append files, so nothing here can see this batch's
    // own survivors — but the quarantine must still precede the append
    // so a crash between them never loses the explanation for a row the
    // lake already rejected. Stage tags are ROW-level (the quality tag
    // re-evaluates the null-safe predicate; the exact tags come from the
    // rn>1 frame and the pruned-lake semi-join), so two same-doc_id rows
    // in one batch each get their own verdict. Layout is uniformly
    // Hive-partitioned by batch: with `batchId` set (the foreachBatch
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
      def tagged(df: DataFrame, reason: String, dupOf: Column) =
        df.select(col("doc_id"), col("text"), col("us"), dupOf.cast("long").as("dup_of"))
          .withColumn("reason", lit(reason))
      val droppedQuality = tagged(batch.filter(!qualityOk), "quality", lit(null))
      val withKeep = withRn.withColumn("keep",
        min(struct(col("us"), col("doc_id"))).over(Window.partitionBy("nrm")))
      val inBatchDups = tagged(withKeep.filter(col("rn") > 1), "exact_dup",
        col("keep.doc_id"))
      val lakeDups = seenNrm.map { nrms =>
        val seenMin = nrms.groupBy(col("nrm")).agg(min(col("doc_id")).as("lake_doc"))
        tagged(inBatchFirst.join(seenMin, Seq("nrm")), "exact_dup", col("lake_doc"))
      }
      val droppedNear = tagged(exactNovel.join(dupIds, Seq("doc_id")), "near_dup",
        col("dup_of"))
      val log = Seq(Some(droppedQuality), Some(inBatchDups), lakeDups, Some(droppedNear))
        .flatten.reduce(_ unionByName _)
      val mode = if (batchId >= 0) SaveMode.Overwrite else SaveMode.Append
      log.write.mode(mode).parquet(s"$qd/batch=$batchId")
    }

    // The observed lake-write lineage: every stage count rides this ONE
    // pass as a CollectMetrics node (no per-stage .count() actions). The
    // dup analysis joins in UNOBSERVED, so each observation appears
    // exactly once in the plan. The append carries the sha column under
    // a bloom filter — the artifact the NEXT batch's exact tier prunes
    // with.
    val obsIn = Observation(); val obsQuality = Observation()
    val obsNovel = Observation(); val obsApp = Observation()
    val (_, inBatchFirstObs) = spine(
      batch.observe(obsIn, count(lit(1)).as("n"))
        .filter(qualityOk).observe(obsQuality, count(lit(1)).as("n")))
    val survivors = novel(inBatchFirstObs).observe(obsNovel, count(lit(1)).as("n"))
      .join(dupIds, Seq("doc_id"), "left_anti")
      .observe(obsApp, count(lit(1)).as("n"))
    // AQE's empty-relation propagation is excluded for THIS write only:
    // when a replayed batch dedups to zero survivors, the rule replaces
    // the empty join stage's whole subtree — CollectMetrics nodes
    // included — and Spark then completes the matched Observations with
    // EMPTY maps (the in/quality/novel counts vanish; measured in
    // StreamDedupSpec's replay). Empty-propagation buys nothing on an
    // append that would write zero rows anyway; the rest of AQE (skew,
    // coalescing) stays on for the at-scale anti-joins.
    // ... and it must be set on the session the WRITE executes under:
    // inside foreachBatch the lineage is bound to the micro-batch's
    // cloned session, whose SQLConf is independent of the caller's.
    val execSession = survivors.sparkSession
    val aqeExcludedKey = "spark.sql.adaptive.optimizer.excludedRules"
    val prevExcluded = execSession.conf.getOption(aqeExcludedKey)
    execSession.conf.set(aqeExcludedKey,
      (prevExcluded.toSeq :+
        "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation")
        .mkString(","))
    // The sha bloom holds at most the batch's first-per-nrm shas, which
    // the probe-key collect already counted.
    val shaNdv = probeKeys.map(k => math.max(1L, k._1.size.toLong)).getOrElse(bloomNdv(spark))
    try
      survivors.write.options(BloomLake.writerOptions("sha", shaNdv, bloomFpp(spark)))
        .mode(SaveMode.Append).parquet(lakeDir)
    finally prevExcluded match {
      case Some(v) => execSession.conf.set(aqeExcludedKey, v)
      case None => execSession.conf.unset(aqeExcludedKey)
    }

    failpoint.filter(_ == "after_lake_append").foreach { _ =>
      throw new IllegalStateException(
        "injected failpoint: lake appended, index append pending")
    }

    // Index append — LAKE-FIRST for crash consistency (a crash here
    // leaves lake rows the next batch still exact-dedups; index-first
    // would leave phantom bands that suppress their own replay forever).
    // The doc_ids derive from the files THIS append added (an fs listing
    // diff — manifest-class, like the zone refresh), not from the
    // survivors frame: re-running the survivors lineage after the append
    // would re-run its probe-pruned anti-joins against a listing that
    // may have been refreshed, so the written files are the one
    // authoritative record of what landed. The bands come from the
    // checkpoint (same deterministic expression — no second MinHash
    // pass), restricted to those authoritative ids.
    // The band bloom holds the distinct bands of the appended docs: at
    // most the batch's distinct bands, which the probe-key collect
    // counted. Where nothing was probed and no lake nrm was read, every
    // first-per-nrm doc is exact-novel, so the novel count times NBands
    // bounds them. The appended count alone would not: the semi-join is
    // on doc_id, so a lake exact-dup row sharing a survivor's doc_id
    // writes its bands too.
    val appended = obsApp.get("n").asInstanceOf[Long]
    val bandNdv = probeKeys.map(k => math.max(1L, k._2.size.toLong))
      .orElse(Option.when(seenNrm.isEmpty)(
        math.max(1L, obsNovel.get("n").asInstanceOf[Long] * StreamDedup.NBands)))
      .getOrElse(bloomNdv(spark))
    val newFiles = (lakeFiles() -- preAppend).toSeq.sorted
    if (newFiles.nonEmpty) {
      val appendedIds = Parquet.readBase(spark, lakeDir, newFiles)
        .select("doc_id")
      bandedFirst.join(appendedIds, Seq("doc_id"), "left_semi")
        .select("band", "doc_id")
        .write.options(BloomLake.writerOptions("band", bandNdv, bloomFpp(spark)))
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
    BatchStats(
      obsIn.get("n").asInstanceOf[Long],
      obsQuality.get("n").asInstanceOf[Long],
      obsNovel.get("n").asInstanceOf[Long],
      appended)
    // The finally matters for a LONG-RUNNING stream: the band
    // checkpoint pins ~NBands x batch rows in block storage per batch,
    // and relying on GC/ContextCleaner to release them lets thousands
    // of micro-batches accumulate dead blocks (the clearMemo pattern,
    // applied per batch).
    } finally {
      try bandedFirst.queryExecution.analyzed.foreach {
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
    * (doc, band-with-a-hit) — the band's earliest in-batch arrival, and
    * the indexed band's lowest carrier — exactly the rows the any-band
    * rule already computes.
    *
    * Declared semantics (precision over the any-band rule's recall): a
    * doc is dropped iff SOME candidate partner passes the exact check.
    * The candidate per band is its FIRST carrier — a true dup whose
    * only shared band is carried first by an unrelated doc is not
    * dropped (it survives, carrying its own content bands into the
    * index, so its later dups verify against IT). That under-drop is
    * bounded and self-healing where the any-band over-drop was neither:
    * a wrongly dropped doc is gone forever; a wrongly kept one is one
    * more lake row the batch engine's full J >= p/q dedup (qn18) can
    * still reconcile.
    *
    * Partner text fetch: in-batch partners read from the batch frame;
    * lake partners (a bounded id set — one per hit band) are fetched by
    * a pushed-down `doc_id IN (...)` scan when the set fits
    * [[maxSemiJoinKeys]] (row-group stats prune a doc_id-clustered lake)
    * and by a semi-join otherwise. Verify mode therefore adds ONE
    * bounded collect (the partner ids) to the batch's action count —
    * priced per batch in the ingest battery. */
  private def verifiedDups(spark: SparkSession, bandFirsted: DataFrame,
      inBatchFirst: DataFrame, lakeDir: String, lakeExists: Boolean,
      arrival: Column, p: Int, q: Int): DataFrame = {
    import graft.functions.TextFns.tokenSet
    // one candidate row per (doc, hit band): the lake carrier and/or the
    // in-batch first arrival
    val cand = bandFirsted.select(col("doc_id"),
      when(coalesce(col("idx_hit"), lit(0)) === 1, col("idx_dup_of")).as("lake_p"),
      when(col("band_first") < arrival, col("band_first.doc_id")).as("batch_p"))
    val pairs = cand.select(col("doc_id"), col("lake_p").as("partner"),
        lit(true).as("from_lake"))
      .unionByName(cand.select(col("doc_id"), col("batch_p").as("partner"),
        lit(false).as("from_lake")))
      .filter(col("partner").isNotNull && col("partner") =!= col("doc_id"))
      .distinct()
    val batchTexts = inBatchFirst
      .select(col("doc_id").as("partner"), col("text").as("p_text"))
    val lakeScan: Option[DataFrame] =
      if (!lakeExists) None
      else {
        // the bounded collect: lake-partner ids, one per hit band
        val idRows = pairs.filter(col("from_lake")).select(col("partner")).distinct()
          .limit(math.min(maxSemiJoinKeys(spark) + 1, Int.MaxValue.toLong).toInt)
          .collect()
        if (idRows.isEmpty) None
        else {
          val base = Parquet.read(spark, lakeDir)
            .select(col("doc_id").as("partner"), col("text").as("p_text"))
          if (idRows.length <= maxSemiJoinKeys(spark))
            // pushed-down IN: parquet row-group stats prune a
            // doc_id-clustered lake to the touched groups
            Some(base.filter(col("partner").isin(idRows.map(_.getLong(0)).toSeq: _*)))
          else
            Some(base.join(pairs.filter(col("from_lake")).select("partner").distinct(),
              Seq("partner"), "left_semi"))
        }
      }
    val partnerTexts = lakeScan match {
      case None => batchTexts.withColumn("p_lake", lit(false))
      case Some(lk) => batchTexts.withColumn("p_lake", lit(false))
        .unionByName(lk.withColumn("p_lake", lit(true)))
    }
    // exact J >= p/q on token SETS — the qn03 rule verbatim. The join on
    // (partner, from_lake == p_lake) keys each pair to the right text
    // source: batch and lake doc_id spaces may overlap.
    val dToks = inBatchFirst.select(col("doc_id"), tokenSet(col("text")).as("d_toks"))
    pairs.join(partnerTexts,
        pairs("partner") === partnerTexts("partner") &&
          pairs("from_lake") === partnerTexts("p_lake"))
      .drop(partnerTexts("partner"))
      .join(dToks, Seq("doc_id"))
      .withColumn("p_toks", tokenSet(col("p_text")))
      .withColumn("n_inter", size(array_intersect(col("d_toks"), col("p_toks"))))
      .withColumn("n_union",
        size(col("d_toks")) + size(col("p_toks")) - col("n_inter"))
      .filter(col("n_union") > 0 && lit(q) * col("n_inter") >= lit(p) * col("n_union"))
      .groupBy(col("doc_id")).agg(min(col("partner")).as("dup_of"))
  }

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
  /** The compaction target file size — shared by [[compactIngest]]'s
    * default and the [[cleanBatch]] auto-compaction trigger's ideal-
    * file-count derivation (the two must agree or the trigger's "ideal"
    * drifts from what compaction actually produces). */
  private[streaming] val defaultTargetBytes: Long = 128L * 1024 * 1024

  def compactIngest(spark: SparkSession, lakeDir: String, indexDir: String,
      targetBytes: Long = defaultTargetBytes,
      expectedKeysPerFile: Long = 1000000L): Unit = {
    if (pathExists(spark, lakeDir))
      graft.sources.LakeMaintenance.compact(spark, lakeDir, targetBytes,
        BloomLake.writerOptions("sha", expectedKeysPerFile, bloomFpp(spark))): Unit
    if (pathExists(spark, indexDir))
      graft.sources.LakeMaintenance.compact(spark, indexDir, targetBytes,
        BloomLake.writerOptions("band", expectedKeysPerFile, bloomFpp(spark))): Unit
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
      bands.write.options(BloomLake.writerOptions("band", bloomNdv(spark), bloomFpp(spark)))
        .mode(SaveMode.Append).parquet(indexDir)
      if (readMarker(spark, indexDir).isEmpty) writeMarker(spark, indexDir)
    }
    n
  }
}
