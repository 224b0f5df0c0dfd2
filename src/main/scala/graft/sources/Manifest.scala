package graft.sources

import java.time.LocalDate
import java.time.format.{DateTimeFormatter, ResolverStyle}
import org.apache.spark.sql.DataFrame
import org.apache.spark.unsafe.types.UTF8String

/** Dump-manifest organization (reference s3.py:329-424): regex-extract
  * date/type from a key listing, keep the latest file per (year-month,
  * type) and the latest CHECKSUM.txt per month, parse checksum lines (both
  * "<sum> *<file>" and "<sum> <file>" styles, s3.py:292-327), left-join
  * checksums by filename (missing => ''), and sort by month, then type
  * (s3.py:397).
  *
  * One driver-side pass, no Spark job: the input is one key per dump file
  * plus a few checksum lines per month (about 60 rows per year of dumps),
  * O(file count) at any lake size. The string rules are Spark SQL's, as the
  * registered q0m query checks: first regex match, `trim` strips spaces
  * only, `split` keeps trailing empty tokens, and date ties break on the
  * path in UTF-8 byte order.
  */
object Manifest {

  /** One manifest row; the field names are [[organize]]'s column names. */
  final case class Entry(year_month: String, data_type: String, url: String, checksum: String, date: String)

  private val datePattern = "discogs_(\\d{4})(\\d{2})(\\d{2})_".r
  private val typePattern = "discogs_\\d{8}_(\\w+)\\.xml\\.gz".r
  /** s3.py:392-397 type_mapping; unmapped types are dropped. */
  private val simpleType = Map("artists" -> "artist", "masters" -> "master",
    "labels" -> "label", "releases" -> "release")
  private val yyyyMMdd = DateTimeFormatter.ofPattern("uuuuMMdd").withResolverStyle(ResolverStyle.STRICT)

  private def trimSpaces(s: String): String = s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse

  private final case class Dated(path: String, yearMonth: String, fullDate: String)

  /** The newest key, ties to the first path. */
  private def latest(keys: Seq[Dated]): Dated =
    keys.minBy(k => (k.fullDate, UTF8String.fromString(k.path)))(
      Ordering.Tuple2(Ordering.String.reverse, Ordering[UTF8String]))

  /** @param keys one key per listed file, relative to `baseUrl`
    * @param checksumLines (checksum-file key, one raw line of that file)
    * @return one entry per latest dump (one per checksum line when its
    *         filename is listed twice), sorted by (year_month, data_type)
    */
  def entries(keys: Seq[String], checksumLines: Seq[(String, String)], baseUrl: String): Seq[Entry] = {
    val dated = keys.flatMap(p => datePattern.findFirstMatchIn(p).map(m =>
      Dated(p, s"${m.group(1)}-${m.group(2)}", m.group(1) + m.group(2) + m.group(3))))
    val (checksumFiles, dumps) = dated.partition(_.path.endsWith("CHECKSUM.txt"))
    val monthOfChecksumFile = checksumFiles.groupBy(_.yearMonth).map { case (ym, ks) => latest(ks).path -> ym }
    val sums = checksumLines.flatMap { case (src, line) =>
      val parts = trimSpaces(line).split("\\s+", -1)
      monthOfChecksumFile.get(src).filter(_ => parts.length >= 2)
        .map(ym => (ym, trimSpaces(parts.tail.mkString(" ").replace("*", ""))) -> parts(0))
    }.groupMap(_._1)(_._2)
    val typed = dumps.flatMap(k => typePattern.findFirstMatchIn(k.path)
      .flatMap(m => simpleType.get(m.group(1))).map(t => (k.yearMonth, t) -> k))
    typed.groupMap(_._1)(_._2).view.mapValues(latest).toSeq.sortBy(_._1).flatMap { case ((ym, dataType), k) =>
      val date = LocalDate.parse(k.fullDate, yyyyMMdd).toString
      // A filename listed twice joins twice, the later line first.
      sums.getOrElse((ym, k.path.split("/", -1).last), Seq("")).reverse
        .map(Entry(ym, dataType, s"$baseUrl/${k.path}", _, date))
    }
  }

  /** [[entries]] over DataFrames: `files` has one column `path`,
    * `checksumContents` the columns `src` and `line`. */
  def organize(
      files: DataFrame,
      checksumContents: DataFrame,
      baseUrl: String = "https://discogs-data-dumps.s3.us-west-2.amazonaws.com"): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    entries(files.select("path").na.drop().as[String].collect().toSeq,
      checksumContents.select("src", "line").na.drop().as[(String, String)].collect().toSeq,
      baseUrl).toDF()
  }
}
