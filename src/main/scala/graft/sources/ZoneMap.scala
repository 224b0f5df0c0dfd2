package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level zone maps: a per-file min/max stats table enabling
  * data-skipping scans — the lakehouse planning trick (Delta/Iceberg
  * file stats) on plain parquet directories.
  *
  * Parquet already row-group-prunes WITHIN a file via footer statistics,
  * but at 100 TB a selective query still pays an open+footer-read per
  * file (millions of S3 GETs) before it can skip anything. A zone-map
  * table inverts that: planning reads ONE small parquet table (KBs per
  * million files), selects the files whose [min,max] intersects the
  * predicate, and hands only those to the scan. The driver-side collect
  * is O(file count) — the same class as a backfill manifest, not data.
  *
  * The pruned scan is semantically lossless by construction: candidate
  * files are a superset of matching files (zone overlap is necessary
  * for a row match), and the row predicate is re-applied after the scan
  * — so pruning can only skip I/O, never change results
  * (ZoneMapSpec proves pruned == full-scan-filtered).
  */
object ZoneMap {

  /** One scan pass computing per-file [min,max] for `cols`; the stats
    * table is written to `statsPath`. Re-run after appends/compaction
    * (stats are per-file, so a rewrite is a full refresh — at the lake,
    * refresh per-partition as partitions land). */
  def writeStats(spark: SparkSession, dataDir: String, statsPath: String,
                 cols: Seq[String]): Unit = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    Parquet.read(spark, dataDir)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1) // stats are KBs; one file keeps planning to one read
      .write.mode("overwrite").parquet(statsPath)
  }

  /** Incremental refresh: scan ONLY files not yet covered by the stats
    * table and append their zones, and DROP stats rows whose files no
    * longer exist (compaction and 2-phase swaps delete originals — a
    * phantom stats row would hand [[prunedScanAll]] a dead path and
    * fail the scan at plan time). Appends cost O(new data); the drop
    * rewrites the stats table, which is manifest-class KBs by design
    * (collected to the driver like every stats read here). This is the
    * maintenance call a streaming ingest makes after each batch and a
    * compactor makes after a rewrite. Idempotent: a second call with
    * nothing new appends and drops nothing. Returns the number of
    * newly covered files. */
  def refreshStats(spark: SparkSession, dataDir: String, statsPath: String,
                   cols: Seq[String]): Long = {
    import org.apache.hadoop.fs.Path
    // Scheme-insensitive identity: input_file_name() renders file:///p,
    // the FS listing file:/p — compare by path only.
    def norm(s: String) = new Path(s).toUri.getPath
    val fs = new Path(dataDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverSwap(fs, new Path(statsPath))
    // Hidden dirs skipped (see LakeListing): a compaction crash window
    // leaves a `.<dir>_compact_old` aside holding COPIES of live rows —
    // a stats row over an aside file would double-read them.
    val listing = LakeListing
      .dataFiles(spark.sparkContext.hadoopConfiguration, new Path(dataDir))
      .map(_.toString)
    val listingNorm = listing.map(norm).toSet
    // One stats read serves both the known-set and the drop rebuild.
    val (statsRows, statsSchema, fileIdx) =
      if (!fs.exists(new Path(statsPath)))
        (Array.empty[org.apache.spark.sql.Row], null: org.apache.spark.sql.types.StructType, -1)
      else {
        val df = Parquet.read(spark, statsPath)
        (df.collect(), df.schema, df.schema.fieldIndex("file"))
      }
    val known: Set[String] = statsRows.map(r => norm(r.getString(fileIdx))).toSet
    if (known.exists(!listingNorm(_))) {
      // Deleted files: rebuild the stats table without them. The rows are
      // already materialized on the driver, so reusing them is safe — but
      // an in-place overwrite is NOT: Spark's overwrite deletes the dir
      // before the new files commit, and a concurrent prunedScan reading
      // the stats table in that window would see an empty/partial table
      // and silently return zero survivors. Two-phase swap instead (the
      // LakeMaintenance pattern): write the rebuilt table to a hidden
      // sibling, rename the live table aside, rename the rebuild in,
      // drop the aside. A reader in the (two-rename) window fails LOUDLY
      // on a missing path — never silently empty — and the aside makes
      // a crash recoverable by hand.
      val kept = statsRows.filter(r => listingNorm(norm(r.getString(fileIdx))))
      val statsP = fs.makeQualified(new Path(statsPath))
      val tmp = rebuildTmp(statsP)
      val aside = rebuildAside(statsP)
      fs.delete(tmp, true); fs.delete(aside, true)
      spark.createDataFrame(java.util.Arrays.asList(kept: _*), statsSchema)
        .coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      require(fs.rename(statsP, aside), s"stats swap: could not move $statsP aside")
      require(fs.rename(tmp, statsP), s"stats swap: could not move rebuilt table into $statsP")
      fs.delete(aside, true): Unit
    }
    val newFiles = listing.filterNot(f => known(norm(f)))
    if (newFiles.nonEmpty) {
      val aggs = cols.flatMap(c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
      Parquet.readBase(spark, dataDir, newFiles)
        .groupBy(input_file_name().as("file"))
        .agg(aggs.head, aggs.tail: _*)
        .coalesce(1)
        .write.mode("append").parquet(statsPath)
    }
    newFiles.size.toLong
  }

  private def rebuildTmp(statsP: Path) =
    new Path(statsP.getParent, s".${statsP.getName}_rebuild_tmp")
  private def rebuildAside(statsP: Path) =
    new Path(statsP.getParent, s".${statsP.getName}_rebuild_old")

  /** Repair a swap interrupted between its two renames: the live table
    * moved aside but the rebuild never moved in, so `statsPath` is
    * missing while the aside holds the (pre-rebuild, still-correct —
    * merely unpruned of deleted files) table. Restore the aside and let
    * the caller's normal diff re-run the rebuild; without this, a crash
    * in the rename window silently degrades the next refresh to a
    * full-lake rescan. A LEFTOVER aside next to a live table is the
    * post-swap crash (cleanup never ran) — the rebuild committed, so the
    * aside is just deleted. */
  private def recoverSwap(fs: org.apache.hadoop.fs.FileSystem, statsPath: Path): Unit = {
    val statsP = fs.makeQualified(statsPath)
    val aside = rebuildAside(statsP)
    if (fs.exists(aside)) {
      if (!fs.exists(statsP))
        require(fs.rename(aside, statsP), s"stats swap recovery: could not restore $aside")
      else fs.delete(aside, true): Unit
    }
    val tmp = rebuildTmp(statsP)
    if (fs.exists(tmp)) fs.delete(tmp, true): Unit // crash mid-write: rebuild is re-derivable
  }

  /** A scan result plus its pruning accounting. */
  final case class Pruned(df: DataFrame, nFilesTotal: Long, nFilesRead: Long)

  /** Scan only the files whose zone for `column` intersects [lo, hi].
    * The row-level predicate is re-applied, so the result is identical
    * to a full scan + filter; only the I/O differs. */
  def prunedScan(spark: SparkSession, dataDir: String, statsPath: String,
                 column: String, lo: Any, hi: Any): Pruned =
    prunedScanAll(spark, dataDir, statsPath, Seq((column, lo, hi)))

  /** Conjunctive multi-column pruning: a file survives only if EVERY
    * predicate's zone overlaps — pruning power multiplies across
    * independent columns. Same losslessness argument per conjunct. */
  def prunedScanAll(spark: SparkSession, dataDir: String, statsPath: String,
                    preds: Seq[(String, Any, Any)]): Pruned = {
    require(preds.nonEmpty, "at least one (column, lo, hi) predicate")
    val (stats, nTotal) = localStats(spark, statsPath)
    val keep = files(stats.filter(zoneOverlap(preds)))
    val df = scanKeep(spark, dataDir, keep, rangeRowPreds(preds).reduce(_ && _))
    Pruned(df, nTotal, keep.length)
  }

  /** The one planning read: the KB-scale stats table, collected once into
    * a local relation, with its row count. A filter and collect over that
    * relation runs on the driver (no job) with Spark's own comparison
    * semantics. */
  private def localStats(spark: SparkSession, statsPath: String): (DataFrame, Long) = {
    val stats = Parquet.read(spark, statsPath)
    val rows = stats.collect()
    (spark.createDataFrame(java.util.Arrays.asList(rows: _*), stats.schema), rows.length.toLong)
  }
  private def files(stats: DataFrame): Seq[String] =
    stats.select("file").collect().map(_.getString(0)).toIndexedSeq

  /** The zone-overlap predicate over the stats table: a file survives
    * only if EVERY conjunct's [min,max] intersects its range. */
  private def zoneOverlap(preds: Seq[(String, Any, Any)]): Column =
    preds.map { case (c, lo, hi) =>
      col(s"min_$c") <= lit(hi) && col(s"max_$c") >= lit(lo)
    }.reduce(_ && _)

  /** The row-level re-application of the range predicates (losslessness:
    * pruning hands the scan a superset; these make the rows exact). */
  private def rangeRowPreds(preds: Seq[(String, Any, Any)]): Seq[Column] =
    preds.map { case (c, lo, hi) => col(c) >= lit(lo) && col(c) <= lit(hi) }

  /** Partition equalities re-applied to rows, compared through a string
    * cast so the result is independent of the session's
    * partition-type-inference setting. */
  private def partRowPreds(partCols: Seq[(String, Any)]): Seq[Column] =
    partCols.map { case (k, v) => col(k).cast("string") === v.toString }

  /** Scan an explicit surviving-file subset. basePath keeps Hive
    * partition columns (year=/month=) bound when reading file subsets
    * out of a partitioned lake — without it, Spark drops the
    * directory-derived columns. */
  private def scanKeep(spark: SparkSession, dataDir: String,
      keep: Seq[String], rowPred: Column): DataFrame =
    if (keep.isEmpty) Parquet.read(spark, dataDir).where(lit(false))
    else Parquet.readBase(spark, dataDir, keep).filter(rowPred)

  /** The shared planning read of the partitioned scans: total stats
    * rows, partition survivors, and the zone survivors WITHIN them.
    * A Hive-layout file path embeds its partition values
    * (`.../year=1996/part-...`), so the partition equalities apply to
    * the stats rows first — the same directory pruning the catalog
    * would do, decided from the one KB-scale planning read. */
  private final case class Survivors(nTotal: Long, nPart: Long, zoneKeep: Seq[String])
  private def partZoneSurvivors(spark: SparkSession, statsPath: String,
      partCols: Seq[(String, Any)], preds: Seq[(String, Any, Any)]): Survivors = {
    require(partCols.nonEmpty, "at least one (partitionColumn, value) equality")
    require(preds.nonEmpty, "at least one (column, lo, hi) predicate")
    val (stats, nTotal) = localStats(spark, statsPath)
    val partPred = partCols.map { case (k, v) =>
      col("file").contains(s"/$k=$v/")
    }.reduce(_ && _)
    val partStats = stats.filter(partPred)
    Survivors(nTotal, partStats.collect().length.toLong,
      files(partStats.filter(zoneOverlap(preds))))
  }

  /** A partition-pruned + zone-pruned scan with both prunings accounted:
    * total files, files surviving PARTITION pruning, files actually
    * read after zone pruning within those partitions. */
  final case class PrunedPart(df: DataFrame, nFilesTotal: Long,
      nPartFiles: Long, nFilesRead: Long)

  /** Partition pruning COMPOSED with zone-map skipping. The stats table
    * doubles as the file index: a Hive-layout file path embeds its
    * partition values (`.../year=1996/part-...`), so the partition
    * predicate applies to the stats rows first (the same directory
    * pruning the catalog would do, decided from the one KB-scale
    * planning read) and zone overlap then prunes WITHIN the surviving
    * partitions — the two prunings multiply. Lossless for the same
    * reason as [[prunedScanAll]]: each stage keeps a superset of
    * matching files, and both the partition equalities and the range
    * predicate re-apply to rows after the scan.
    *
    * `partCols` are (partitionColumn, value) equalities; `preds` the
    * (column, lo, hi) zone ranges. Partition values re-compare through
    * a string cast so the result is independent of the session's
    * partition-type-inference setting. */
  def prunedScanPartitioned(spark: SparkSession, dataDir: String, statsPath: String,
      partCols: Seq[(String, Any)], preds: Seq[(String, Any, Any)]): PrunedPart = {
    val s = partZoneSurvivors(spark, statsPath, partCols, preds)
    val rowPred = (rangeRowPreds(preds) ++ partRowPreds(partCols)).reduce(_ && _)
    PrunedPart(scanKeep(spark, dataDir, s.zoneKeep, rowPred),
      s.nTotal, s.nPart, s.zoneKeep.length)
  }

  /** All three skipping tiers accounted: total files, survivors of
    * PARTITION pruning, survivors of ZONE pruning within those, files
    * actually read after the BLOOM point probe on the zone survivors. */
  final case class PrunedThree(df: DataFrame, nFilesTotal: Long,
      nPartFiles: Long, nZoneFiles: Long, nFilesRead: Long)

  /** The full skipping hierarchy in one planned scan: partition
    * equalities prune directories (from the stats table — the KB-scale
    * planning read), zone overlap prunes files within the surviving
    * partitions, and the parquet bloom filters then exclude zone
    * survivors that definitely lack `pointCol = pointValue` (a
    * footer-walk over ONLY the zone survivors — the tiers multiply, so
    * the bloom cost is O(files the zones couldn't exclude), not O(lake)).
    * Lossless end to end: partitions/zones keep supersets, blooms have
    * no false negatives, and every predicate — including the point
    * equality — re-applies to rows after the scan.
    */
  def prunedScanThreeTier(spark: SparkSession, dataDir: String, statsPath: String,
      partCols: Seq[(String, Any)], preds: Seq[(String, Any, Any)],
      pointCol: String, pointValue: Long): PrunedThree =
    threeTier(spark, dataDir, statsPath, partCols, preds, pointCol, lit(pointValue),
      BloomLake.probeLongWhere(spark, _, pointCol, pointValue))

  /** String-point-key overload — the content-address lookup ("fetch THIS
    * sha") over a sha/digest column. */
  def prunedScanThreeTier(spark: SparkSession, dataDir: String, statsPath: String,
      partCols: Seq[(String, Any)], preds: Seq[(String, Any, Any)],
      pointCol: String, pointValue: String): PrunedThree =
    threeTier(spark, dataDir, statsPath, partCols, preds, pointCol, lit(pointValue),
      BloomLake.probeStringWhere(spark, _, pointCol, pointValue))

  private def threeTier(spark: SparkSession, dataDir: String, statsPath: String,
      partCols: Seq[(String, Any)], preds: Seq[(String, Any, Any)],
      pointCol: String, pointLit: Column,
      bloomFilterFiles: Seq[String] => Seq[String]): PrunedThree = {
    val s = partZoneSurvivors(spark, statsPath, partCols, preds)
    val bloomKeep = bloomFilterFiles(s.zoneKeep)
    val rowPred = (rangeRowPreds(preds) ++ partRowPreds(partCols) :+
      (col(pointCol) === pointLit)).reduce(_ && _)
    PrunedThree(scanKeep(spark, dataDir, bloomKeep, rowPred),
      s.nTotal, s.nPart, s.zoneKeep.length, bloomKeep.length)
  }
}
