package graft.sources

import graft.Concurrently
import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** EP2 — the yearly backfill driver (reference run.py:6-57): discover dump
  * files, organize them into a monthly manifest (latest file per type,
  * checksums joined), then ingest each dump into the lake chronologically.
  *
  * Discovery goes through the Hadoop FileSystem API, so the same code
  * lists `file:/`, `hdfs:/` or `s3a:/` (the reference's anonymous S3
  * listing, s3.py:251-290, is the s3a case with
  * `fs.s3a.aws.credentials.provider=...AnonymousAWSCredentialsProvider`).
  *
  * The manifest ([[Manifest]]) is one driver-side pass over that listing
  * and the CHECKSUM.txt lines, a few dozen rows per year of dumps, so
  * organizing it submits no Spark job; checksums are digested through the
  * same FileSystem. A `.gz` dump is ONE split, so each dump's parse/write
  * is a single-task job: run one after another (the reference's loop)
  * they leave all but one core idle. Within a month the dumps are
  * independent — each appends into its own `<lake>/<type>` table and the
  * manifest keeps at most one file per (month, type) — so a month's dumps
  * run concurrently ([[Concurrently]]) and the month costs about its
  * largest dump.
  * Months stay sequential and chronological, like the reference.
  */
object Backfill {

  /** Recursively list keys under `base` as a one-column DataFrame
    * (`path`, relative to base) — the FS-agnostic stand-in for the
    * reference's paginated list_objects_v2. */
  def listKeys(spark: SparkSession, base: String): DataFrame = {
    import spark.implicits._
    keysUnder(spark, base).toDF("path")
  }

  /** The recursive listing behind [[listKeys]], relative to `base`. */
  private def keysUnder(spark: SparkSession, base: String): Seq[String] = {
    val p = new Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val keys = Iterator.continually(it)
      .takeWhile(_.hasNext)
      .map(_.next().getPath.toUri.getPath)
      .toSeq
    val baseUri = fs.makeQualified(p).toUri.getPath
    keys.map(_.stripPrefix(baseUri).stripPrefix("/"))
  }

  /** Read every CHECKSUM.txt under `base` into (src, line) rows for
    * [[Manifest.organize]], `src` relative to `base` (matching the file
    * listing's key space). */
  def checksumLines(spark: SparkSession, base: String): DataFrame = {
    import spark.implicits._
    readChecksums(spark, base, keysUnder(spark, base)).toDF("src", "line")
  }

  /** The (src, line) pairs of every CHECKSUM.txt in an existing listing of
    * `base`, read on the driver. Lines split like Spark's text source:
    * at `\n`, `\r` or `\r\n`, with a leading UTF-8 byte-order mark dropped. */
  private def readChecksums(spark: SparkSession, base: String, keys: Seq[String]): Seq[(String, String)] =
    keys.filter(_.endsWith("CHECKSUM.txt")).flatMap { rel =>
      val p = new Path(s"${base.stripSuffix("/")}/$rel")
      val in = new BufferedReader(new InputStreamReader(
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p), StandardCharsets.UTF_8))
      val lines = try Iterator.continually(in.readLine()).takeWhile(_ != null).toList finally in.close()
      (lines.take(1).map(_.stripPrefix("\uFEFF")) ++ lines.drop(1)).map(rel -> _)
    }

  /** Organize + ingest every (month, type) dump under `inDir` into
    * `lakeDir`. Returns the manifest that was executed, as
    * (year_month, data_type) in manifest order. Paths in the manifest are
    * relative to `inDir`.
    *
    * Per month, in chronological order: first every dump's checksum is
    * verified, so a mismatch throws before any of that month's tables is
    * written; then the month's dumps are read and written concurrently.
    * A failed write rethrows only after its siblings have finished, so
    * no job outlives the call (months already done stay written). */
  def run(spark: SparkSession, inDir: String, lakeDir: String,
      verifyChecksums: Boolean = true): Seq[(String, String)] = {
    val keys = keysUnder(spark, inDir)
    val manifest = Manifest.entries(keys, readChecksums(spark, inDir, keys), inDir.stripSuffix("/"))
    def ingest(e: Manifest.Entry): Unit = {
      val (year, month, _) = DiscogsLake.parseInputUrl(e.url)
      DiscogsLake.writeDump(DiscogsXml.read(spark, e.url, e.data_type), lakeDir, e.data_type, year.toInt, month)
    }
    manifest.map(_.year_month).distinct.foreach { ym =>
      val dumps = manifest.filter(_.year_month == ym)
      if (verifyChecksums) dumps.filter(_.checksum.nonEmpty).foreach { e =>
        require(Ingest.verifyChecksum(e.url, e.checksum, conf = spark.sparkContext.hadoopConfiguration),
          s"checksum mismatch: ${e.url}")
      }
      Concurrently.run(dumps.map(e => () => ingest(e)))
    }
    manifest.map(e => (e.year_month, e.data_type))
  }
}
