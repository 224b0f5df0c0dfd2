package graft.sources

import graft.Concurrently
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** EP2 — the yearly backfill driver (reference run.py:6-57): discover dump
  * files, organize them into a monthly manifest (latest file per type,
  * checksums joined), then ingest each dump into the lake chronologically.
  *
  * Discovery goes through the Hadoop FileSystem API, so the same code
  * lists `file:/`, `hdfs:/` or `s3a:/` (the reference's anonymous S3
  * listing, s3.py:251-290, is the s3a case with
  * `fs.s3a.aws.credentials.provider=...AnonymousAWSCredentialsProvider`).
  *
  * The manifest is a genuinely relational computation ([[Manifest]]), so
  * it runs as a Spark plan; the per-dump ingest is driver-side. A `.gz`
  * dump is ONE split, so each dump's parse/write is a single-task job:
  * run one after another (the reference's loop) they leave all but one
  * core idle. Within a month the dumps are independent — each appends
  * into its own `<lake>/<type>` table and the manifest keeps at most one
  * file per (month, type) — so a month's dumps run concurrently
  * ([[Concurrently]]) and the month costs about its largest dump.
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
    import org.apache.hadoop.fs.Path
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
  def checksumLines(spark: SparkSession, base: String): DataFrame =
    checksumLines(spark, base, keysUnder(spark, base))

  /** [[checksumLines]] over an existing listing of `base`, so a caller
    * that already listed the tree does not LIST it again. */
  private def checksumLines(spark: SparkSession, base: String, keys: Seq[String]): DataFrame = {
    import spark.implicits._
    val frames = keys.filter(_.endsWith("CHECKSUM.txt")).map { rel =>
      spark.read.textFile(s"${base.stripSuffix("/")}/$rel").toDF("line")
        .select(lit(rel).as("src"), col("line"))
    }
    frames.reduceOption(_.unionByName(_))
      .getOrElse(Seq.empty[(String, String)].toDF("src", "line"))
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
    import spark.implicits._
    val keys = keysUnder(spark, inDir)
    val manifest = Manifest.organize(keys.toDF("path"), checksumLines(spark, inDir, keys),
      baseUrl = inDir.stripSuffix("/")).collect().toSeq
    def monthOf(row: Row) = row.getAs[String]("year_month")
    def ingest(row: Row): Unit = {
      val (url, dataType) = (row.getAs[String]("url"), row.getAs[String]("data_type"))
      val (year, month, _) = DiscogsLake.parseInputUrl(url)
      DiscogsLake.writeDump(DiscogsXml.read(spark, url, dataType), lakeDir, dataType, year.toInt, month)
    }
    manifest.map(monthOf).distinct.foreach { ym =>
      val dumps = manifest.filter(monthOf(_) == ym)
      if (verifyChecksums) dumps.foreach { row =>
        val (url, checksum) = (row.getAs[String]("url"), row.getAs[String]("checksum"))
        if (checksum.nonEmpty)
          require(Ingest.verifyChecksum(url, checksum), s"checksum mismatch: $url")
      }
      Concurrently.run(dumps.map(row => () => ingest(row)))
    }
    manifest.map(row => (monthOf(row), row.getAs[String]("data_type")))
  }
}
