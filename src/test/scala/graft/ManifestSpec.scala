package graft

import graft.sources.Manifest
import org.scalatest.funsuite.AnyFunSuite

/** The manifest rules (reference s3.py:329-424) on listings the q0m
  * fixture does not cover. Every expected row is what the original
  * window/join Spark plan returned for the same inputs. */
class ManifestSpec extends AnyFunSuite {
  import TestSpark._

  private val d = "data/2019"

  private def organize(keys: Seq[String], lines: Seq[(String, String)]): Seq[(String, String, String, String, String)] = {
    import spark.implicits._
    Manifest.organize(keys.toDF("path"), lines.toDF("src", "line"), baseUrl = "b")
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
  }

  test("the latest dump per (month, type) wins; a date tie breaks on path in UTF-8 byte order") {
    // U+FF01 sorts after U+1F600 in UTF-16 but before it in UTF-8.
    val keys = Seq(s"$d/b/discogs_20190301_artists.xml.gz", s"$d/a/discogs_20190301_artists.xml.gz",
      "data/😀/discogs_20190301_labels.xml.gz", "data/！/discogs_20190301_labels.xml.gz",
      s"$d/discogs_20190301_masters.xml.gz", s"$d/discogs_20190302_masters.xml.gz")
    assert(organize(keys, Nil) == Seq(
      ("2019-03", "artist", s"b/$d/a/discogs_20190301_artists.xml.gz", "", "2019-03-01"),
      ("2019-03", "label", "b/data/！/discogs_20190301_labels.xml.gz", "", "2019-03-01"),
      ("2019-03", "master", s"b/$d/discogs_20190302_masters.xml.gz", "", "2019-03-02")))
  }

  test("only the latest CHECKSUM.txt of a month is read; a date tie breaks on path") {
    val keys = Seq(s"$d/discogs_20190401_artists.xml.gz", s"$d/discogs_20190401_CHECKSUM.txt",
      s"$d/discogs_20190415_CHECKSUM.txt", s"$d/b/discogs_20190501_CHECKSUM.txt",
      s"$d/a/discogs_20190501_CHECKSUM.txt", s"$d/discogs_20190501_labels.xml.gz")
    val lines = Seq(
      s"$d/discogs_20190401_CHECKSUM.txt" -> "old *discogs_20190401_artists.xml.gz",
      s"$d/discogs_20190415_CHECKSUM.txt" -> "new *discogs_20190401_artists.xml.gz",
      s"$d/b/discogs_20190501_CHECKSUM.txt" -> "bbb discogs_20190501_labels.xml.gz",
      s"$d/a/discogs_20190501_CHECKSUM.txt" -> "aaa discogs_20190501_labels.xml.gz")
    assert(organize(keys, lines) == Seq(
      ("2019-04", "artist", s"b/$d/discogs_20190401_artists.xml.gz", "new", "2019-04-01"),
      ("2019-05", "label", s"b/$d/discogs_20190501_labels.xml.gz", "aaa", "2019-05-01")))
  }

  test("checksum lines: star and plain styles, tabs, padding, blank and one-token lines") {
    val cs = s"$d/discogs_20190601_CHECKSUM.txt"
    val keys = Seq("artists", "labels", "masters", "releases")
      .map(t => s"$d/discogs_20190601_$t.xml.gz") :+ cs
    // Only spaces are trimmed: a tab-only line survives the blank filter
    // and splits into two empty tokens; a leading tab makes the checksum
    // token empty, so the release keeps no checksum. A trailing tab
    // leaves an empty last token that the final trim drops.
    val lines = Seq("  s1   *discogs_20190601_artists.xml.gz  ", "s2\tdiscogs_20190601_labels.xml.gz",
      "", "   ", "\t", "onetoken", "s3 * discogs_20190601_masters.xml.gz\t",
      "\ts4 discogs_20190601_releases.xml.gz").map(cs -> _)
    assert(organize(keys, lines) == Seq(
      ("2019-06", "artist", s"b/$d/discogs_20190601_artists.xml.gz", "s1", "2019-06-01"),
      ("2019-06", "label", s"b/$d/discogs_20190601_labels.xml.gz", "s2", "2019-06-01"),
      ("2019-06", "master", s"b/$d/discogs_20190601_masters.xml.gz", "s3", "2019-06-01"),
      ("2019-06", "release", s"b/$d/discogs_20190601_releases.xml.gz", "", "2019-06-01")))
  }

  test("a filename listed twice in a checksum file yields one row per line, the later line first") {
    val cs = s"$d/discogs_20190701_CHECKSUM.txt"
    val keys = Seq(s"$d/discogs_20190701_artists.xml.gz", s"$d/discogs_20190701_labels.xml.gz", cs)
    val lines = Seq("first *discogs_20190701_artists.xml.gz", "second discogs_20190701_artists.xml.gz",
      "third *discogs_20190701_labels.xml.gz").map(cs -> _)
    assert(organize(keys, lines) == Seq(
      ("2019-07", "artist", s"b/$d/discogs_20190701_artists.xml.gz", "second", "2019-07-01"),
      ("2019-07", "artist", s"b/$d/discogs_20190701_artists.xml.gz", "first", "2019-07-01"),
      ("2019-07", "label", s"b/$d/discogs_20190701_labels.xml.gz", "third", "2019-07-01")))
  }

  test("unmapped types, non-dump keys and checksum-only months yield no row") {
    val keys = Seq(s"$d/discogs_20190801_badtype.xml.gz", s"$d/not_a_dump.txt", "README",
      s"$d/discogs_20190801_artists.xml", s"$d/discogs_20190901_CHECKSUM.txt",
      s"$d/discogs_20190801_releases.xml.gz")
    // September's checksum names an August file: months never cross.
    val lines = Seq(s"$d/discogs_20190901_CHECKSUM.txt" -> "s9 *discogs_20190801_releases.xml.gz")
    assert(organize(keys, lines) == Seq(
      ("2019-08", "release", s"b/$d/discogs_20190801_releases.xml.gz", "", "2019-08-01")))
  }

  test("an impossible dump date fails the manifest") {
    val e = intercept[Exception](organize(Seq(s"$d/discogs_20190230_artists.xml.gz"), Nil))
    assert(e.getMessage.contains("Text '20190230' could not be parsed"))
  }
}
