package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.values.bloomfilter.BlockSplitBloomFilter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

/** Parquet split-block bloom filters: the point-predicate complement to
  * [[ZoneMap]].
  *
  * Zone maps ([min,max] per file) prune RANGE predicates, but only on the
  * column the data is clustered by — on any other high-cardinality column
  * every zone spans nearly the full domain and min/max excludes nothing.
  * That is exactly the lookup a curation pipeline runs all day ("fetch
  * every order of ONE customer", "fetch ONE document lineage id") against
  * a lake clustered by time or by primary key. The parquet format's
  * split-block bloom filters (parquet-format BloomFilter.md; written by
  * parquet-mr when `parquet.bloom.filter.enabled#col` is set) answer
  * point membership per ROW GROUP with no false negatives: "definitely
  * absent" row groups are skipped without touching their pages.
  *
  * Spark wires both halves natively — the writer option flows through
  * `spark.write.option(...)`, and the vectorized reader's row-group
  * filtering (stats, dictionary, bloom) applies pushed equality
  * predicates before decoding — so this file only adds (a) the write
  * convention and (b) a footer-level probe that makes the pruning
  * decision OBSERVABLE, so specs and the correctness gate can assert
  * "bloom filters were written and they excluded row groups" instead of
  * trusting the reader silently.
  *
  * Probe safety contract: blooms hash the PLAIN-encoded physical value,
  * so probing an INT32 column with a long hash (or a non-BINARY column
  * with a string hash) would return "definitely absent" everywhere — a
  * SILENT false negative. The walk therefore checks the column's
  * physical type and fails loudly on a mismatch; a schema-evolved file
  * that predates the column holds only NULLs for it, so its row groups
  * are excluded (correctly — they cannot match a point equality), while
  * a column found in NO probed file is treated as a caller typo and
  * errors. Every probe runs the same walk (one verdict per row group:
  * column absent, no bloom, hit or miss); the set probe
  * [[pruneByStringSet]] differs only in which verdicts keep a file.
  *
  * Scale shape: the probe reads footer metadata + one bloom bitset
  * (kilobytes) per row group — O(row groups), never data pages; the same
  * planning-cost class as the zone-map stats table. At 100 TB the driver
  * never does this per-query — the reader applies blooms inside each
  * task — the probe exists for evidence, for offline "would this key
  * hit?" tooling, and as the planning filter of
  * [[ZoneMap.prunedScanThreeTier]] (where big candidate sets fan out,
  * see [[probeLongWhere]]).
  */
object BloomLake {

  /** One point-probe over every row group's bloom filter.
    *
    * @param nRowGroups    row groups across all data files
    * @param nBloomPresent row groups that carry a bloom filter on the column
    * @param nMaybe        row groups the probe could NOT exclude ("might
    *                      contain" + any group without a bloom filter —
    *                      absence means no exclusion, never a skip; row
    *                      groups of schema-evolved files that predate the
    *                      column are excluded, not maybes)
    */
  final case class BloomProbe(nRowGroups: Int, nBloomPresent: Int, nMaybe: Int)

  /** Write `df` as parquet with a split-block bloom filter on `bloomCol`.
    * `expectedNdv` sizes the bitset (parquet-mr derives bytes from the
    * target false-positive rate at that cardinality); oversizing is
    * wasted kilobytes, undersizing inflates the false-positive rate —
    * both are safe, neither loses rows.
    *
    * Dictionary encoding is disabled for `bloomCol` only: parquet-mr
    * SKIPS the bloom when a column chunk ends up fully
    * dictionary-encoded (the dictionary already answers exact
    * membership), which is what happens to every column at
    * test-fixture row counts. At production row-group sizes a
    * high-cardinality key overflows the dictionary page and gets its
    * bloom regardless; pinning plain encoding makes the written
    * artifact the same shape at every scale.
    */
  def write(df: DataFrame, path: String, bloomCol: String, expectedNdv: Long): Unit =
    df.write.options(writerOptions(bloomCol, expectedNdv)).parquet(path)

  /** The writer options as a map — the ONE definition both ingest and
    * maintenance use. Bloom filters are write-time artifacts: any rewrite
    * of the lake (compaction, backfill) that omits these silently drops
    * them, so `LakeMaintenance.compact(..., writerOptions = ...)` takes
    * this map through the rewrite.
    *
    * `fpp` sizes the bitset together with `expectedNdv`. The parquet-mr
    * default (0.01) is tuned for SINGLE-key point probes; a SET probe
    * ([[pruneByStringSet]]) tests K keys per row group, so its expected
    * false positives are K x fpp — at K ~ 1e5 batch keys a 1% bloom
    * excludes NOTHING (measured: 32/32 index files survived a 5k-doc
    * batch's 80k band keys). Callers on the set-probe path pass
    * fpp <= 1/(expected K) / 10; the bits cost is log-linear
    * (~1.44 log2(1/fpp) bits per key: 14 at 1e-3, 38 at 1e-8).
    */
  def writerOptions(bloomCol: String, expectedNdv: Long,
      fpp: Double = 0.01): Map[String, String] = {
    // parquet-mr clamps the bitset to parquet.bloom.filter.max.bytes
    // (default 1 MB) SILENTLY — an ndv x fpp pair that needs more bits
    // would degrade to a saturated filter that excludes nothing
    // (measured: a 100k-ndv cap under 500k actual keys returned every
    // file as a maybe). Raise the cap to what the request actually
    // needs: optimal bits = -n ln(p) / (ln 2)^2, rounded up to the
    // power-of-2 block split size — and fail LOUDLY when the request
    // cannot be honored at all: parquet-mr's own upper bound on the
    // bitset is 128 MB (BlockSplitBloomFilter.UPPER_BOUND_BYTES), so an
    // ndv x fpp needing more (~28M keys at 1e-8) would silently saturate
    // no matter what cap we ask for, and past ~224M keys the Long cap
    // would overflow the Int the Hadoop conf reads. The caller's fix is
    // structural (smaller files via compaction targetBytes, or a looser
    // fpp), so an exception beats a degraded filter.
    val optimalBits = (-expectedNdv * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val parquetUpperBound = 128L * 1024 * 1024 // parquet-mr's hard bitset cap, bytes
    val maxBytes = math.max(1L << 20, java.lang.Long.highestOneBit(
      math.max(1L, optimalBits / 8 - 1)) * 2)
    require(maxBytes <= parquetUpperBound && maxBytes <= Int.MaxValue,
      s"bloom filter for ndv=$expectedNdv at fpp=$fpp needs a $maxBytes-byte bitset, " +
        s"over parquet-mr's $parquetUpperBound-byte cap — it would silently saturate " +
        "and exclude nothing; lower the per-file key count (compaction targetBytes) " +
        "or raise fpp")
    Map(
      s"parquet.bloom.filter.enabled#$bloomCol" -> "true",
      s"parquet.bloom.filter.expected.ndv#$bloomCol" -> expectedNdv.toString,
      s"parquet.bloom.filter.fpp#$bloomCol" -> fpp.toString,
      "parquet.bloom.filter.max.bytes" -> maxBytes.toString,
      s"parquet.enable.dictionary#$bloomCol" -> "false")
  }

  /** Probe every row group's bloom filter for a long `value`. Driver-side
    * footer metadata walk — O(row groups), no data pages (see class doc).
    * `path` may be flat or Hive-partitioned: listing is recursive.
    */
  def probeLong(spark: SparkSession, path: String, colName: String, value: Long): BloomProbe =
    probeAll(spark, path, colName, longKey(value))

  /** String-key variant — the content-address lookup ("which row groups
    * could hold THIS sha?") over BINARY/UTF8 columns.
    */
  def probeString(spark: SparkSession, path: String, colName: String, value: String): BloomProbe =
    probeAll(spark, path, colName, stringKeys(Seq(value)))

  /** Which of `files` might contain `colName = value` — the planning
    * filter of the three-tier scan; returns the empty list for empty
    * input (a filter, not a dir probe). Small candidate sets
    * (<= driverMax, the common case once partitions and zones have
    * pruned) walk footers on the driver; larger sets fan the walk out
    * as one Spark job ([[perFile]]), so planning cost scales with the
    * CLUSTER, not the driver, when a predicate is too weak for the
    * earlier tiers. Input order is preserved either way.
    */
  def probeLongWhere(spark: SparkSession, files: Seq[String], colName: String,
      value: Long, driverMax: Int = 64): Seq[String] =
    probeWhere(spark, files, colName, longKey(value), driverMax)

  /** String-key variant of [[probeLongWhere]] — the content-address
    * filter ("which candidate files could hold THIS sha?").
    */
  def probeStringWhere(spark: SparkSession, files: Seq[String], colName: String,
      value: String, driverMax: Int = 64): Seq[String] =
    probeWhere(spark, files, colName, stringKeys(Seq(value)), driverMax)

  /** SET-probe: which of `files` might contain `colName = v` for ANY of
    * `values` — the per-micro-batch pruning filter of the streaming
    * ingest (`IngestClean`): the batch's key set (shas, LSH bands)
    * excludes every index/lake file that provably holds none of them, so
    * the dedup joins scan O(touched files), not O(corpus).
    *
    * Same walk as the single-key [[probeStringWhere]]; two deliberate
    * differences, both because the probed column may POSTDATE old files
    * (the sha column is added to an already-running lake):
    *
    *  - a row group whose column is ABSENT keeps its file (it must be
    *    scanned — its rows exist, their key values are simply not
    *    indexed), where the single-key probe excludes it (there the
    *    column is declared table schema, so absence means all-NULL);
    *  - no "column not found" require: a lake with zero post-upgrade
    *    files has the column nowhere, and the correct answer is "scan
    *    everything", not an error.
    *
    * A file's walk stops at its first kept row group, a row group's at
    * its first hitting key. Empty `values` means no key can hit anywhere
    * EXCEPT in column-absent row groups — callers should treat an empty
    * batch as "nothing to probe" instead. Cost: `values` hashed once,
    * then O(files) footer walks (fanned out as one Spark job past
    * `driverMax`) x O(|values|) bitset lookups per row group worst case
    * — metadata-class, no data pages.
    */
  def pruneByStringSet(spark: SparkSession, files: Seq[String], colName: String,
      values: Seq[String], driverMax: Int = 64): Seq[String] =
    files.zip(perFile(spark, files, colName, stringKeys(values), driverMax)(_.exists(_ != Miss)))
      .collect { case (f, true) => f }

  private def probeWhere(spark: SparkSession, files: Seq[String], colName: String,
      keys: ProbeKeys, driverMax: Int): Seq[String] =
    if (files.isEmpty) Seq.empty
    else files.zip(pointWalk(spark, files, colName, keys, driverMax))
      .collect { case (f, groups) if groups.exists(_.maybe) => f }

  private def probeAll(spark: SparkSession, path: String, colName: String,
      keys: ProbeKeys): BloomProbe = {
    val files = LakeListing.dataFiles(spark.sessionState.newHadoopConf(), new Path(path))
    require(files.nonEmpty, "no parquet files to probe — wrong directory?")
    val groups = pointWalk(spark, files.map(_.toString), colName, keys, Int.MaxValue).flatten
    BloomProbe(groups.size, groups.count(g => g == Hit || g == Miss), groups.count(_.maybe))
  }

  /** The single-key probes' walk: every row group's verdict, per file. A
    * column found in no probed file is a caller typo (class doc). */
  private def pointWalk(spark: SparkSession, files: Seq[String], colName: String,
      keys: ProbeKeys, driverMax: Int): Seq[Vector[Verdict]] = {
    val walked = perFile(spark, files, colName, keys, driverMax)(_.toVector)
    require(walked.exists(_.exists(_ != Absent)),
      s"column $colName not found in any of ${files.length} probed files — caller typo?")
    walked
  }

  /** One row group's answer to "might it hold a probe key?". `maybe` is
    * the single-key reading: a group without a bloom cannot be excluded,
    * and a group of a file that predates the column holds only NULLs
    * for it, which cannot match a point equality. */
  private sealed abstract class Verdict(val maybe: Boolean) extends Serializable
  private case object Absent extends Verdict(false)
  private case object NoBloom extends Verdict(true)
  private case object Hit extends Verdict(true)
  private case object Miss extends Verdict(false)

  /** A probe's keys, hashed ONCE on the driver with parquet's own
    * split-block hash (XXH64 of the PLAIN-encoded value, the one hash
    * strategy the format defines, so any filter instance hashes as the
    * written ones do), and the physical type those hashes are valid
    * against — see the class doc's probe-safety contract. */
  private final case class ProbeKeys(hashes: Array[Long], physical: PrimitiveTypeName)

  private def hasher = new BlockSplitBloomFilter(BlockSplitBloomFilter.LOWER_BOUND_BYTES)

  private def longKey(v: Long): ProbeKeys =
    ProbeKeys(Array(hasher.hash(v)), PrimitiveTypeName.INT64)

  private def stringKeys(vs: Seq[String]): ProbeKeys = {
    val h = hasher
    ProbeKeys(vs.map(v => h.hash(Binary.fromString(v))).toArray, PrimitiveTypeName.BINARY)
  }

  /** Each file's row-group verdicts, reduced by `summarize` while the
    * footer is open (a summary that stops early reads no further
    * bitsets), in input order. Up to `driverMax` files walk on the
    * driver; more fan out as ONE Spark job — a footer and bitset read per
    * file, no data pages. The executors walk with the SESSION's Hadoop
    * conf, serialized into the closure: a fresh `new Configuration()`
    * would drop programmatic `spark.hadoop.*` session settings
    * (object-store credentials set on the SparkSession), making the
    * fan-out fail on S3/ABFS lakes where the driver walk works.
    */
  private def perFile[A: ClassTag](spark: SparkSession, files: Seq[String], colName: String,
      keys: ProbeKeys, driverMax: Int)(summarize: Iterator[Verdict] => A): Seq[A] = {
    val conf = spark.sessionState.newHadoopConf()
    if (files.length <= driverMax)
      files.map(f => walkFile(conf, new Path(f), colName, keys)(summarize))
    else {
      val serConf = new SerializableHadoopConf(conf)
      spark.sparkContext.parallelize(files, math.min(files.length, 256))
        .map(f => walkFile(serConf.value, new Path(f), colName, keys)(summarize))
        .collect().toSeq
    }
  }

  /** One file's footer walk, its row groups' verdicts produced lazily —
    * static and spark-free so the fan-out ships it as-is.
    */
  private def walkFile[A](conf: Configuration, file: Path, colName: String, keys: ProbeKeys)(
      summarize: Iterator[Verdict] => A): A = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try summarize(reader.getFooter.getBlocks.asScala.iterator.map[Verdict] { block =>
      block.getColumns.asScala.find(_.getPath.toDotString == colName) match {
        case None => Absent
        case Some(cc) =>
          val t = cc.getPrimitiveType.getPrimitiveTypeName
          require(t == keys.physical,
            s"bloom probe type mismatch on $colName in $file: column is $t, probe hashes " +
              s"${keys.physical} — hashes would never collide (silent false negatives)")
          val bf = reader.getBloomFilterDataReader(block).readBloomFilter(cc)
          if (bf == null) NoBloom
          else if (keys.hashes.exists(bf.findHash)) Hit
          else Miss
      }
    }) finally reader.close()
  }

  /** Post-write bloom CAPACITY audit: fail loudly if any row group's
    * written bitset is too small for the keys it actually holds — the
    * silent failure mode [[writerOptions]]' sizing exists to prevent. A
    * caller-supplied `expectedNdv` bounds only what the caller EXPECTED;
    * nothing at write time checks it against the rows a file really got
    * (an undersized bitset saturates and excludes nothing — measured:
    * a 100k-ndv cap under 500k actual keys returned every file as a
    * maybe, and the battery only caught it because the prune counts are
    * observable). This reads each footer's row count as the per-group
    * key upper bound (scaled by `keysPerRow` when the column is known
    * to repeat, e.g. exact-dup-heavy lakes), computes the bits
    * -n ln(p)/(ln 2)^2 those keys need at `fpp`, and requires the
    * written bitset to be at least that — so an undersized write fails
    * the run that produced it instead of degrading every future probe.
    * Row count over-estimates ndv under multiplicity, so the audit errs
    * strict — the safe direction for a pruning structure. Call it from
    * spec paths and after compaction rewrites ([[graft.streaming
    * .IngestClean.compactIngest]]'s expectedKeysPerFile is exactly the
    * number this audits); it is O(row groups) footer metadata, never
    * data pages. A row group missing its bloom entirely (e.g. writer
    * options dropped in a rewrite) also fails: absence un-prunes just
    * as silently as saturation. Pre-column files are skipped — their
    * groups are legitimately un-excludable. */
  def assertBloomCapacity(spark: SparkSession, path: String, colName: String,
      fpp: Double, keysPerRow: Double = 1.0): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val files = LakeListing.dataFiles(conf, new Path(path))
    require(files.nonEmpty, s"no parquet files under $path — wrong directory?")
    val bad = Seq.newBuilder[String]
    var seen = false
    files.foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try reader.getFooter.getBlocks.asScala.zipWithIndex.foreach { case (block, gi) =>
        block.getColumns.asScala.find(_.getPath.toDotString == colName).foreach { cc =>
          seen = true
          val keys = math.max(1L, math.ceil(block.getRowCount * keysPerRow).toLong)
          val neededBits = (-keys * math.log(fpp) / (math.log(2) * math.log(2))).toLong
          val bf = reader.getBloomFilterDataReader(block).readBloomFilter(cc)
          if (bf == null)
            bad += s"$f group $gi: no bloom filter on $colName (${block.getRowCount} rows)"
          else if (bf.getBitsetSize.toLong * 8 < neededBits)
            bad += s"$f group $gi: bitset ${bf.getBitsetSize} B < ${neededBits / 8} B " +
              s"needed for $keys keys at fpp=$fpp"
        }
      } finally reader.close()
    }
    require(seen, s"column $colName absent from every file under $path — caller typo?")
    val problems = bad.result()
    require(problems.isEmpty,
      s"bloom capacity audit failed on $path — an undersized bitset saturates and " +
        "excludes NOTHING (probes silently stop pruning):\n" + problems.mkString("\n"))
  }

  /** Hadoop `Configuration` is not `Serializable`; this wrapper ships one
    * inside a task closure via Hadoop's own Writable encoding (the same
    * trick as Spark's private `SerializableConfiguration`), so executor
    * tasks see the session's programmatic `spark.hadoop.*` settings.
    */
  private final class SerializableHadoopConf(@transient private var conf: Configuration)
      extends Serializable {
    def value: Configuration = conf
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new Configuration(false)
      conf.readFields(in)
    }
  }
}
