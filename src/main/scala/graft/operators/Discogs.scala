package graft.operators

import graft.Q
import graft.sources.{BloomLake, DiscogsLake, DiscogsXml, Manifest, Parquet, ZoneMap}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Discogs ingest queries (SURVEY.md §2.X Q1–Q6 + Q-manifest) over the
  * hand-written XML fixtures. The parse itself is verified structurally in
  * ScalaTest against ground truth produced by EXECUTING the reference
  * parser (tools/make_expected.py); here each entity is additionally
  * flattened to scalar columns so the driver's DuckDB hash-compare gets a
  * literal-VALUES oracle (DuckDB cannot read XML — the expected rows are
  * frozen from the reference parser's own output).
  *
  * Flattening rules (mirrored by tools/gen_oracle_values.py): scalars pass
  * through (null stays NULL); list items join with '|'; struct fields join
  * with ';'; inner description lists join with ','; null items/fields
  * render as '∅'; every list gets a companion count column so '' (empty
  * join) is unambiguous.
  */
object Discogs {

  val fixturesDir = "/root/repo/src/test/resources/fixtures"

  private[operators] val lakeRun = new java.util.concurrent.atomic.AtomicInteger(0)

  /** A fresh fixture dir under java.io.tmpdir — one per invocation,
    * because a plan returned by an earlier invocation still holds a file
    * index over its own dir ([[TmpDirs]] reclaims dead JVMs' leftovers
    * on first use and leaves this JVM's in place). */
  private[operators] def freshFixtureDir(prefix: String = "graft_zonemap_q_"): java.io.File = {
    val base = TmpDirs.dir(prefix, lakeRun.incrementAndGet())
    TmpDirs.rmTree(base)
    base
  }

  private val NUL = "∅"

  private def jlist(arr: Column): Column =
    array_join(transform(arr, x => coalesce(x, lit(NUL))), "|")

  private def s(c: Column): Column = coalesce(c.cast("string"), lit(NUL))

  private def jimages(arr: Column, widthFirst: Boolean): Column =
    array_join(transform(arr, im =>
      if (widthFirst)
        concat_ws(";", s(im.getField("width")), s(im.getField("height")),
          s(im.getField("type")), s(im.getField("uri")), s(im.getField("uri150")))
      else
        concat_ws(";", s(im.getField("height")), s(im.getField("width")),
          s(im.getField("type")), s(im.getField("uri")), s(im.getField("uri150")))),
      "|")

  def artistsFlat(spark: SparkSession, path: String): DataFrame =
    flattenArtists(DiscogsXml.artists(spark, path))

  def flattenArtists(df: DataFrame): DataFrame =
    df.select(
      col("id"), col("name"), col("realname"), col("profile"), col("data_quality"),
      jlist(col("urls")).as("urls_s"), size(col("urls")).as("n_urls"),
      jlist(col("namevariations")).as("namevariations_s"),
      jlist(col("aliases")).as("aliases_s"),
      jlist(col("groups")).as("groups_s"),
      jlist(col("members")).as("members_s"),
      jimages(col("images"), widthFirst = false).as("images_s"),
      size(col("images")).as("n_images"))
      .orderBy(col("id"))

  def labelsFlat(spark: SparkSession, path: String): DataFrame =
    DiscogsXml.labels(spark, path).select(
      col("id"), col("name"), col("contactinfo"), col("profile"), col("data_quality"),
      jimages(col("images"), widthFirst = true).as("images_s"),
      size(col("images")).as("n_images"),
      jlist(col("urls")).as("urls_s"), size(col("urls")).as("n_urls"),
      jlist(col("sublabels")).as("sublabels_s"))
      .orderBy(col("id"))

  def mastersFlat(spark: SparkSession, path: String): DataFrame =
    flattenMasters(DiscogsXml.masters(spark, path))

  def flattenMasters(df: DataFrame): DataFrame =
    df.select(
      col("id"), col("main_release"),
      array_join(transform(col("artists"), a => concat_ws(";",
        s(a.getField("id")), s(a.getField("name")), s(a.getField("anv")),
        s(a.getField("join")), s(a.getField("role")), s(a.getField("tracks")))), "|")
        .as("artists_s"),
      jlist(col("genres")).as("genres_s"),
      jlist(col("styles")).as("styles_s"),
      col("year"), col("title"), col("data_quality"),
      jimages(col("images"), widthFirst = false).as("images_s"),
      array_join(transform(col("videos"), v => concat_ws(";",
        s(v.getField("duration")), s(v.getField("embed")), s(v.getField("src")),
        s(v.getField("title")), s(v.getField("description")))), "|")
        .as("videos_s"))
      .orderBy(col("id"))

  def releasesFlat(spark: SparkSession, path: String): DataFrame =
    flattenReleases(DiscogsXml.releases(spark, path))

  def flattenReleases(df: DataFrame): DataFrame =
    df.select(
      col("id"), col("status"), col("title"), col("country"), col("released"),
      col("notes"),
      jimages(col("images"), widthFirst = false).as("images_s"),
      jlist(col("artists")).as("artists_s"),
      array_join(transform(col("labels"), l => concat_ws(";",
        s(l.getField("name")), s(l.getField("catno")))), "|").as("labels_s"),
      array_join(transform(col("formats"), f => concat_ws(";",
        s(f.getField("name")), s(f.getField("qty")),
        array_join(transform(f.getField("descriptions"), d => coalesce(d, lit(NUL))), ","))),
        "|").as("formats_s"),
      jlist(col("genres")).as("genres_s"),
      jlist(col("styles")).as("styles_s"))
      .orderBy(col("id"))

  val all: Seq[Q] = Seq(
    Q("q01_parse_artists", DiscogsOracles.q01)((s, _) =>
      artistsFlat(s, s"$fixturesDir/artists.xml")),

    // Same fixture through the gzip codec path — identical expected rows.
    Q("q01b_parse_artists_gz", DiscogsOracles.q01)((s, _) =>
      artistsFlat(s, s"$fixturesDir/artists_gz.xml.gz")),

    // Same fixture through the record-recovering scan (per-fragment
    // from_xml, reference recover=True semantics) — identical rows.
    Q("q01r_parse_artists_recovering", DiscogsOracles.q01)((s, _) =>
      flattenArtists(DiscogsXml.artistsRecovering(s, s"$fixturesDir/artists.xml"))),

    // Releases through the splittable recovering scan — identical rows to
    // q04 (pins the read() dispatch path for plain-XML dumps).
    Q("q04r_parse_releases_recovering", DiscogsOracles.q04)((s, _) =>
      flattenReleases(DiscogsXml.releasesRecovering(s, s"$fixturesDir/releases.xml"))),

    // Masters likewise (nested <artists><artist> is fragment-safe: the
    // record delimiter is </master>).
    Q("q03r_parse_masters_recovering", DiscogsOracles.q03)((s, _) =>
      flattenMasters(DiscogsXml.mastersRecovering(s, s"$fixturesDir/masters.xml"))),

    Q("q02_parse_labels", DiscogsOracles.q02)((s, _) =>
      labelsFlat(s, s"$fixturesDir/labels.xml")),

    Q("q03_parse_masters", DiscogsOracles.q03)((s, _) =>
      mastersFlat(s, s"$fixturesDir/masters.xml")),

    Q("q04_parse_releases", DiscogsOracles.q04)((s, _) =>
      releasesFlat(s, s"$fixturesDir/releases.xml")),

    // README.md:84-87 demo query, verbatim semantics.
    Q("q05_jazz_releases", DiscogsOracles.q05)((s, _) =>
      DiscogsXml.releases(s, s"$fixturesDir/releases.xml")
        .filter(array_contains(col("genres"), "Jazz") && size(col("genres")) > 1)
        .select(col("id"), col("title"))
        .orderBy(col("id"))
        .limit(20)),

    Q("q06_genre_counts", DiscogsOracles.q06)((s, _) =>
      DiscogsXml.releases(s, s"$fixturesDir/releases.xml")
        .select(explode(col("genres")).as("genre"))
        .groupBy(col("genre")).agg(count(lit(1)).as("n"))
        .orderBy(col("genre"))),

    Q("q0m_manifest", DiscogsOracles.q0m) { (s, _) =>
      val files = s.read.text(s"$fixturesDir/manifest_keys.txt")
        .select(col("value").as("path"))
      val cs = s.read.text(s"$fixturesDir/checksum_contents.txt")
        .select(
          substring_index(col("value"), "\t", 1).as("src"),
          substring_index(col("value"), "\t", -1).as("line"))
      Manifest.organize(files, cs)
    },

    // Parse -> partitioned lake write -> partition-pruned read-back
    // (A12 + A15): two month partitions written, one read back.
    Q("q0l_lake_roundtrip", DiscogsOracles.q0l) { (s, _) =>
      val base = Discogs.freshFixtureDir("graft_lake_fixture_").toString
      val rel = DiscogsXml.releases(s, s"$fixturesDir/releases.xml")
      DiscogsLake.writeDump(rel, base, "release", 1996, "03")
      DiscogsLake.writeDump(rel, base, "release", 1996, "04")
      DiscogsLake.read(s, base, "release")
        .filter(col("month") === "04")
        .groupBy(col("year"), col("month"))
        .agg(count(lit(1)).as("n"), sum(size(col("genres"))).as("n_genres"))
        .orderBy(col("year"), col("month"))
    },

    // Zone-map data-skipping scan (A15's planning tier, end-to-end):
    // rewrite orders into a range-clustered multi-file copy (a
    // partition-only transform — same rows), build the file-level
    // [min,max] stats table, then answer a selective conjunctive range
    // predicate through ZoneMap.prunedScanAll. Pruning is lossless by
    // construction (candidate files are a superset; the row predicate
    // re-applies after the scan), so the oracle is the plain filter over
    // the ORIGINAL single-file table. The require makes "the zone maps
    // actually skipped I/O" part of the gate, not just the spec.
    Q("q0z_zonemap_scan",
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_orderkey BETWEEN 1000 AND 3000
        |  AND o_totalprice BETWEEN 50000 AND 200000
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val base = Discogs.freshFixtureDir()
      val dataDir = s"$base/orders"; val statsPath = s"$base/stats"
      graft.Tables.orders(s, dir)
        .repartitionByRange(8, col("o_orderkey"))
        .write.parquet(dataDir)
      ZoneMap.writeStats(s, dataDir, statsPath, Seq("o_orderkey", "o_totalprice"))
      val pr = ZoneMap.prunedScanAll(s, dataDir, statsPath,
        Seq(("o_orderkey", 1000L, 3000L), ("o_totalprice", 50000.0, 200000.0)))
      require(pr.nFilesRead < pr.nFilesTotal,
        s"zone maps skipped nothing: read ${pr.nFilesRead} of ${pr.nFilesTotal} files")
      pr.df.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // Zone maps COMPOSED with Hive partition pruning (the round-8 gap:
    // q0z proved skipping on a flat table only). Orders rewrite into a
    // year-partitioned lake, range-clustered by o_orderkey WITHIN each
    // partition (repartitionByRange before partitionBy: each of the 4
    // range tasks writes one orderkey-quartile file per year dir), so a
    // (year equality AND orderkey range) query must prune twice:
    // partition dirs first, then zones within the survivors. Both
    // requires make the MULTIPLICATION of the prunings part of the
    // correctness gate — partition pruning alone or zone pruning alone
    // fails the run. Lossless as ever: the oracle is the plain filter
    // over the ORIGINAL table.
    Q("q0zp_zonemap_partition_pruned",
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE EXTRACT(year FROM o_orderdate) = 1996
        |  AND o_orderkey BETWEEN 4000 AND 6000
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val base = Discogs.freshFixtureDir()
      val dataDir = s"$base/orders_lake"; val statsPath = s"$base/stats"
      graft.Tables.orders(s, dir)
        .withColumn("year", year(col("o_orderdate")))
        .repartitionByRange(4, col("o_orderkey"))
        .write.partitionBy("year").parquet(dataDir)
      ZoneMap.writeStats(s, dataDir, statsPath, Seq("o_orderkey"))
      val pr = ZoneMap.prunedScanPartitioned(s, dataDir, statsPath,
        Seq(("year", 1996)), Seq(("o_orderkey", 4000L, 6000L)))
      require(pr.nPartFiles < pr.nFilesTotal,
        s"partition pruning skipped nothing: ${pr.nPartFiles} of ${pr.nFilesTotal} files")
      require(pr.nFilesRead < pr.nPartFiles,
        s"zone maps skipped nothing within partitions: read ${pr.nFilesRead} of ${pr.nPartFiles}")
      pr.df.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // Parquet split-block bloom filters — the POINT-predicate complement
    // to q0z's zone maps. The lake copy is range-clustered by o_orderkey
    // (the realistic layout: time/PK-clustered), so every file's
    // o_custkey [min,max] spans nearly the whole domain and zone maps
    // exclude NOTHING for a customer lookup; the per-row-group blooms
    // written on o_custkey do. The probed key is the rarest customer
    // (fewest orders, min custkey tie-break — deterministic in both
    // engines), so only a couple of row groups can genuinely contain it.
    // The requires make "blooms were written" and "blooms excluded row
    // groups" part of the gate; lossless as ever (no false negatives),
    // so the oracle is the plain filter over the ORIGINAL table.
    Q("q0b_bloom_point_lookup",
      """WITH pick AS (SELECT o_custkey FROM orders GROUP BY o_custkey
        |              ORDER BY COUNT(*) ASC, o_custkey ASC LIMIT 1)
        |SELECT o_orderkey, o_orderdate, o_totalprice
        |FROM orders WHERE o_custkey = (SELECT o_custkey FROM pick)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val base = Discogs.freshFixtureDir()
      val dataDir = s"$base/orders_bloom"
      val orders = graft.Tables.orders(s, dir)
      BloomLake.write(orders.repartitionByRange(32, col("o_orderkey")),
        dataDir, "o_custkey", expectedNdv = 200000L)
      // Rarest customer: a 1-row bounded collect (the probe itself is a
      // driver-side footer walk, so a driver-known key is inherent here).
      val key = orders.groupBy("o_custkey").agg(count(lit(1)).as("n"))
        .orderBy(col("n").asc, col("o_custkey").asc).limit(1)
        .head.getLong(0)
      val probe = BloomLake.probeLong(s, dataDir, "o_custkey", key)
      require(probe.nBloomPresent == probe.nRowGroups,
        s"bloom filters missing: ${probe.nBloomPresent} of ${probe.nRowGroups} row groups")
      require(probe.nMaybe < probe.nRowGroups,
        s"blooms excluded nothing: ${probe.nMaybe} of ${probe.nRowGroups} row groups might contain $key")
      Parquet.read(s, dataDir).filter(col("o_custkey") === key)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // The full skipping hierarchy composed in one lookup — the capstone
    // of the three-tier story (SCALE.md "File-level data skipping"):
    // "orders of customer K in year 1996 with orderkey below the global
    // mean". year= prunes partition dirs, o_orderkey zones prune the
    // range-clustered files within the surviving year, and the custkey
    // blooms exclude zone survivors that definitely lack K. Every tier
    // must strictly prune (three requires — any tier going inert fails
    // the gate), the tiers multiply (blooms probe only zone survivors),
    // and the whole stack is lossless, so the oracle is the plain
    // triple filter over the ORIGINAL table. K is the rarest customer
    // IN the filtered subset (fewest orders, min-custkey tie-break), so
    // results are non-empty and the bloom tier has something to prune.
    Q("q0bz_three_tier_lookup",
      """WITH mid AS (SELECT CAST(FLOOR(AVG(o_orderkey)) AS BIGINT) AS m FROM orders),
        |sub AS (SELECT o_orderkey, o_orderdate, o_totalprice, o_custkey
        |        FROM orders, mid
        |        WHERE EXTRACT(year FROM o_orderdate) = 1996 AND o_orderkey <= m),
        |pick AS (SELECT o_custkey FROM sub GROUP BY o_custkey
        |         ORDER BY COUNT(*) ASC, o_custkey ASC LIMIT 1)
        |SELECT o_orderkey, o_orderdate, o_totalprice
        |FROM sub WHERE o_custkey = (SELECT o_custkey FROM pick)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val base = Discogs.freshFixtureDir()
      val dataDir = s"$base/orders_lake"; val statsPath = s"$base/stats"
      val orders = graft.Tables.orders(s, dir)
      orders.withColumn("year", year(col("o_orderdate")))
        .repartitionByRange(4, col("o_orderkey"))
        .write.options(BloomLake.writerOptions("o_custkey", 200000L))
        .partitionBy("year").parquet(dataDir)
      ZoneMap.writeStats(s, dataDir, statsPath, Seq("o_orderkey"))
      val mid = orders.agg(floor(avg("o_orderkey")).cast("long")).head.getLong(0)
      val key = orders
        .filter(year(col("o_orderdate")) === 1996 && col("o_orderkey") <= mid)
        .groupBy("o_custkey").agg(count(lit(1)).as("n"))
        .orderBy(col("n").asc, col("o_custkey").asc).limit(1)
        .head.getLong(0)
      val pr = ZoneMap.prunedScanThreeTier(s, dataDir, statsPath,
        Seq(("year", 1996)), Seq(("o_orderkey", Long.MinValue, mid)),
        "o_custkey", key)
      require(pr.nPartFiles < pr.nFilesTotal,
        s"partition tier inert: ${pr.nPartFiles} of ${pr.nFilesTotal}")
      require(pr.nZoneFiles < pr.nPartFiles,
        s"zone tier inert: ${pr.nZoneFiles} of ${pr.nPartFiles}")
      require(pr.nFilesRead < pr.nZoneFiles,
        s"bloom tier inert: read ${pr.nFilesRead} of ${pr.nZoneFiles} zone survivors")
      pr.df.select("o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderkey")
    }
  )
}
