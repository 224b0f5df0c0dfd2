package graft

import graft.sources.{Backfill, DiscogsLake, DiscogsXml, Ingest}
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** EP2 end-to-end: stage dump files + CHECKSUM.txt like a month of the
  * Discogs bucket, run the backfill, read the lake back.
  */
class BackfillSpec extends AnyFunSuite {
  import TestSpark._

  private val testFixtures = Paths.get(getClass.getResource("/fixtures").toURI)

  test("backfill organizes, verifies and ingests a staged month") {
    val in = Files.createTempDirectory("graft_backfill_in")
    val lake = Files.createTempDirectory("graft_backfill_lake").toString
    val fixtures = Paths.get("/root/repo/src/test/resources/fixtures")
    // Stage two entity dumps + an older release dump that must LOSE the
    // latest-per-(month,type) argmax, + the month's checksum file.
    val monthDir = in.resolve("data/2024"); Files.createDirectories(monthDir)
    val rel = monthDir.resolve("discogs_20240301_releases.xml.gz")
    val relOld = monthDir.resolve("discogs_20240201_releases.xml.gz")
    val art = monthDir.resolve("discogs_20240301_artists.xml.gz")
    Files.copy(fixtures.resolve("releases_gz.xml.gz"), rel)
    Files.copy(fixtures.resolve("releases_gz.xml.gz"), relOld)
    Files.copy(fixtures.resolve("artists_gz.xml.gz"), art)
    val sums = Seq(rel, art).map(p =>
      s"${Ingest.checksumFile(p.toString)} *${p.getFileName}").mkString("\n")
    Files.write(monthDir.resolve("discogs_20240301_CHECKSUM.txt"), sums.getBytes)

    val done = Backfill.run(spark, in.toString, lake)
    // relOld is February: it is the latest (only) release dump of ITS month,
    // so two months of releases plus March artists get ingested.
    assert(done.toSet == Set(("2024-02", "release"), ("2024-03", "release"), ("2024-03", "artist")))
    // Manifest order: months ascending, then type — concurrency within a
    // month does not reorder what `run` returns.
    assert(done == Seq(("2024-02", "release"), ("2024-03", "artist"), ("2024-03", "release")))

    val backRel = DiscogsLake.read(spark, lake, "release")
    val months = backRel.select("month").distinct()
      .collect().map(_.getString(0)).toSet
    assert(months == Set("02", "03"))
    assert(backRel.filter(org.apache.spark.sql.functions.col("month") === "03").count() > 0)
    assert(DiscogsLake.read(spark, lake, "artist").count() > 0)
  }

  test("a file: URI input verifies and ingests through the Hadoop FileSystem") {
    val in = Files.createTempDirectory("graft_backfill_uri")
    val lake = Files.createTempDirectory("graft_backfill_uri_lake").toString
    val monthDir = in.resolve("data/2024"); Files.createDirectories(monthDir)
    val art = monthDir.resolve("discogs_20240301_artists.xml.gz")
    val rel = monthDir.resolve("discogs_20240301_releases.xml.gz")
    Files.copy(testFixtures.resolve("artists_gz.xml.gz"), art)
    Files.copy(testFixtures.resolve("releases_gz.xml.gz"), rel)
    Files.write(monthDir.resolve("discogs_20240301_CHECKSUM.txt"), Seq(art, rel).map(p =>
      s"${Ingest.checksumFile(p.toString)} *${p.getFileName}").mkString("\n").getBytes)
    val uri = in.toUri.toString
    assert(uri.startsWith("file:/"))
    assert(Backfill.run(spark, uri, lake) == Seq(("2024-03", "artist"), ("2024-03", "release")))
    assert(DiscogsLake.read(spark, lake, "artist").count() > 0)
    assert(DiscogsLake.read(spark, lake, "release").count() > 0)
  }

  test("checksum mismatch aborts the backfill") {
    val in = Files.createTempDirectory("graft_backfill_bad")
    val lake = Files.createTempDirectory("graft_backfill_bad_lake").toString
    val fixtures = Paths.get("/root/repo/src/test/resources/fixtures")
    val monthDir = in.resolve("data/2024"); Files.createDirectories(monthDir)
    val art = monthDir.resolve("discogs_20240301_artists.xml.gz")
    Files.copy(fixtures.resolve("artists_gz.xml.gz"), art)
    Files.write(monthDir.resolve("discogs_20240301_CHECKSUM.txt"),
      s"deadbeef *${art.getFileName}".getBytes)
    val e = intercept[IllegalArgumentException](Backfill.run(spark, in.toString, lake))
    assert(e.getMessage.contains("checksum mismatch"))
  }

  test("a month's checksums are all verified before any of its tables is written") {
    val in = Files.createTempDirectory("graft_backfill_first")
    val lake = Files.createTempDirectory("graft_backfill_first_lake")
    val monthDir = in.resolve("data/2024"); Files.createDirectories(monthDir)
    val art = monthDir.resolve("discogs_20240301_artists.xml.gz")
    val rel = monthDir.resolve("discogs_20240301_releases.xml.gz")
    Files.copy(testFixtures.resolve("artists_gz.xml.gz"), art)
    Files.copy(testFixtures.resolve("releases_gz.xml.gz"), rel)
    // artist sorts first in the manifest and its line is right; only the
    // release line is wrong.
    Files.write(monthDir.resolve("discogs_20240301_CHECKSUM.txt"),
      (s"${Ingest.checksumFile(art.toString)} *${art.getFileName}\n" +
        s"deadbeef *${rel.getFileName}").getBytes)
    val e = intercept[IllegalArgumentException](Backfill.run(spark, in.toString, lake.toString))
    assert(e.getMessage.contains("checksum mismatch"))
    assert(!Files.exists(lake.resolve("artist")), "artist was written before the month's checksums passed")
    assert(!Files.exists(lake.resolve("release")))
  }

  test("a failed dump write rethrows only after its siblings finish") {
    val in = Files.createTempDirectory("graft_backfill_torn")
    val lake = Files.createTempDirectory("graft_backfill_torn_lake").toString
    val monthDir = in.resolve("data/2024"); Files.createDirectories(monthDir)
    val art = monthDir.resolve("discogs_20240301_artists.xml.gz")
    Files.copy(testFixtures.resolve("artists_gz.xml.gz"), art)
    // A truncated transfer: the first half of the release dump's bytes,
    // with no checksum line to catch it before the parse.
    val relBytes = Files.readAllBytes(testFixtures.resolve("releases_gz.xml.gz"))
    Files.write(monthDir.resolve("discogs_20240301_releases.xml.gz"),
      java.util.Arrays.copyOf(relBytes, relBytes.length / 2))
    Files.write(monthDir.resolve("discogs_20240301_CHECKSUM.txt"),
      s"${Ingest.checksumFile(art.toString)} *${art.getFileName}".getBytes)
    intercept[Exception](Backfill.run(spark, in.toString, lake))
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty, "a dump write outlived the failed run")
    val fixtureRows = DiscogsXml.read(spark, testFixtures.resolve("artists_gz.xml.gz").toString, "artist").count()
    assert(DiscogsLake.read(spark, lake, "artist").count() == fixtureRows,
      "the sibling artist write was left incomplete")
  }

  test("ranged-download chunk plan covers the file exactly once") {
    for (size <- Seq(0L, 1L, 999L, 1024L * 1024, 100L * 1024 * 1024 + 17)) {
      val chunks = Ingest.splitChunks(size)
      if (size == 0) assert(chunks.isEmpty)
      else {
        assert(chunks.head._1 == 0 && chunks.last._2 == size - 1)
        chunks.sliding(2).foreach {
          case Seq((_, e1), (s2, _)) => assert(s2 == e1 + 1)
          case _ =>
        }
        assert(chunks.forall { case (s, e) => e >= s })
      }
    }
    // 8 workers, 8 MiB cap: a 1 GiB file splits into 32 MiB-target chunks
    // clamped to 8 MiB -> 128 chunks.
    assert(Ingest.splitChunks(1024L * 1024 * 1024).length == 128)
  }
}
