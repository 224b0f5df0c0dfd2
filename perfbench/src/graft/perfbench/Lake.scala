package graft.perfbench

import graft.sources.{Backfill, DiscogsLake, DiscogsXml, Ingest, Manifest, ZoneMap}
import java.io.{File, PrintWriter}
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** `lake`: one seeded month goes through `Backfill.run` (checksum,
  * manifest, parse, lake write), then analysts query the new lake. */
object Lake extends Workload {
  private var month: Gen.Month = _
  /** (template, params, rows) of every query, for the DuckDB check. */
  private val results = ArrayBuffer.empty[(String, Seq[Any], Array[Row])]
  private val filesRatio = ArrayBuffer.empty[Double]
  private val opCost = ArrayBuffer.empty[(String, Snap)]
  private var ingested = Seq.empty[(String, String)]

  /** Query templates, run round-robin with seeded parameters. */
  val templates = Vector("genre_year", "style_top_labels", "master_rank", "lookup_plain", "lookup_zonemap")

  def generate(c: Ctx, dir: String, scale: Double): Unit =
    month = Gen.month(s"$dir/month", c.seed, scale)

  /** Ingest and query a tiny month first, so the timed calls do not also
    * pay for loading their code into a fresh JVM. */
  def warm(c: Ctx, dir: String): Unit = {
    generate(c, dir, 0.1)
    Backfill.run(c.spark, month.inDir, s"$dir/lake")
    ZoneMap.writeStats(c.spark, s"$dir/lake/release", s"$dir/zm", Seq("id"))
    val rng = new SplittableRandom(c.seed)
    for (_ <- 0 until 2; t <- templates) query(c, s"$dir/lake", s"$dir/zm", t, params(t, rng, month))
  }

  private def params(t: String, r: SplittableRandom, m: Gen.Month): Seq[Any] = t match {
    case "genre_year" =>
      val y = 1960 + r.nextInt(55)
      Seq(Gen.genres(r.nextInt(8)), y.toString, (y + 1 + r.nextInt(10)).toString)
    case "style_top_labels" => Seq(Gen.styles(r.nextInt(Gen.styles.size)))
    case "master_rank" => Seq(Gen.genres(r.nextInt(8)))
    case _ => Seq(1L + r.nextInt(m.rows("release").toInt))
  }

  /** One analyst query; returns its rows (and, for the zone-map scan,
    * the share of files it read). */
  def query(c: Ctx, lake: String, zm: String, t: String, p: Seq[Any]): (Array[Row], Option[Double]) = {
    val spark = c.spark
    def rel = DiscogsLake.read(spark, lake, "release")
    val point = Seq(col("id"), col("title"), col("country"), col("released"))
    t match {
      case "genre_year" =>
        (c.collect(rel.filter(array_contains(col("genres"), p(0)) &&
          substring(col("released"), 1, 4).between(p(1), p(2)))
          .groupBy("country").agg(count(lit(1)).as("n")).orderBy("country")), None)
      case "style_top_labels" =>
        val names = rel.filter(array_contains(col("styles"), p(0)))
          .select(explode(col("labels")).as("l")).select(col("l.name").as("name"))
        val lab = DiscogsLake.read(spark, lake, "label").select("id", "name")
        (c.collect(names.join(lab, "name").groupBy("id", "name").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("id").asc).limit(10).select("id", "name", "n")), None)
      case "master_rank" =>
        val m = DiscogsLake.read(spark, lake, "master").filter(array_contains(col("genres"), p(0)))
          .select(col("id").as("master_id"), col("year"), col("main_release"))
        val w = Window.partitionBy("country").orderBy(col("year").desc, col("master_id").asc)
        (c.collect(m.join(rel.select(col("id").as("main_release"), col("country")), "main_release")
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
          .select("country", "master_id", "year", "rn").orderBy("country", "rn")), None)
      case "lookup_plain" =>
        (c.collect(rel.filter(col("id") === p(0)).select(point: _*).orderBy("id")), None)
      case "lookup_zonemap" =>
        val pr = ZoneMap.prunedScan(spark, s"$lake/release", zm, "id", p(0), p(0))
        (c.collect(pr.df.select(point: _*).orderBy("id")),
          Some(pr.nFilesRead.toDouble / math.max(1L, pr.nFilesTotal)))
    }
  }

  def timed(c: Ctx, dir: String, out: String, deadlineNs: Long): Timed = {
    val lake = s"$out/lake"; val zm = s"$out/zonemap"
    results.clear(); filesRatio.clear(); opCost.clear()
    // The month is ingested three times, into three lakes; the ingest time
    // is the median of the three, and the queries read the last lake.
    val bulk = (Seq(1, 2).map(i => s"$out/lake-$i") :+ lake)
      .flatMap(l => c.op("sources.Backfill.run")(Backfill.run(c.spark, month.inDir, l)))
    ingested = bulk.lastOption.map(_._1).getOrElse(Seq.empty)
    c.op("sources.ZoneMap.writeStats")(ZoneMap.writeStats(c.spark, s"$lake/release", zm, Seq("id")))
    val (ms, wall) = c.loop(minOps = 20, maxOps = 2000, deadlineNs, stride = templates.size) { i =>
      val r = new SplittableRandom(c.seed * 1000003L + i)
      val t = templates(i % templates.size)
      val p = params(t, r, month)
      val before = c.counters.map(_.snapshot(c.spark.sparkContext))
      val res = c.op(s"operators.Discogs.$t")(query(c, lake, zm, t, p))
      for (b <- before; k <- c.counters) opCost += ((t, k.snapshot(c.spark.sparkContext) - b))
      res.map { case ((rows, ratio), s) =>
        results += ((t, p, rows)); ratio.foreach(filesRatio += _); s
      }
    }
    val t = Timed(month.totalXmlBytes, if (bulk.size == 3) Stats.median(bulk.map(_._2)) else Double.NaN, ms, wall,
      Main.dirBytes(new File(lake)).toDouble / month.totalXmlBytes)
    c.metric("xml_mb", month.totalXmlBytes / 1e6, "MB")
    c.metric("ingest_mb_per_s", t.bulkBytes / 1e6 / t.bulkS, "MB/s")
    c.metric("lake_bytes_per_xml_byte", t.spaceRatio, "ratio")
    c.metric("query_p50_ms", Stats.median(ms), "ms")
    c.metric("query_qps", ms.size / wall, "1/s")
    t
  }

  def check(c: Ctx, dir: String, out: String): Unit = {
    val lake = s"$out/lake"
    c.check("lake.backfill_ingested_all_dumps", ingested.map(_._2).sorted == month.gzPaths.keys.toSeq.sorted,
      s"Backfill.run ingested $ingested")
    val hashCols = (df: DataFrame) =>
      df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")))
        .head()
    month.gzPaths.toSeq.sorted.foreach { case (e, gz) =>
      // The lake's year/month partition columns replace any entity column
      // of the same name (master.year); compare the columns the lake keeps.
      val lakeDf = DiscogsLake.read(c.spark, lake, e).drop("year", "month")
      val directDf = DiscogsXml.read(c.spark, gz, e)
      val lost = directDf.columns.filterNot(lakeDf.columns.contains)
      if (lost.nonEmpty) c.notes(s"lake.$e.columns_replaced_by_partition") = lost.mkString(",")
      val fromLake = hashCols(lakeDf)
      val direct = hashCols(directDf.drop(lost.toIndexedSeq: _*))
      c.check(s"lake.$e.rows", fromLake.getLong(0) == month.rows(e) && direct.getLong(0) == month.rows(e),
        s"lake ${fromLake.getLong(0)}, direct read ${direct.getLong(0)}, generated ${month.rows(e)}")
      c.check(s"lake.$e.content_hash", fromLake.get(1) == direct.get(1),
        s"lake ${fromLake.get(1)} != direct read ${direct.get(1)}")
    }
    c.check("lake.queries_ran", results.nonEmpty, "no query succeeded")
    // Rows for the DuckDB comparison, which runs after the JVM exits.
    val w = new PrintWriter(new File(s"$out/queries.jsonl"), "UTF-8")
    try results.foreach { case (t, p, rows) =>
      w.println(s"{\"template\":${Json.str(t)},\"params\":${p.map(Json.value).mkString("[", ",", "]")}," +
        s"\"rows\":${rows.map(_.toSeq.map(Json.value).mkString("[", ",", "]")).mkString("[", ",", "]")}}")
    } finally w.close()
  }

  def layers(c: Ctx, dir: String, out: String): Unit = {
    val spark = c.spark; val sc = spark.sparkContext; val k = c.counters.get; val tr = c.tracer
    c.layer("sources.ZoneMap.files_read_ratio", Stats.median(filesRatio.toSeq), "ratio")
    val perOp = opCost.toSeq
    c.layer("sources.DiscogsLake.bytes_read_per_query", perOp.map(_._2.inputBytes.toDouble).sum / perOp.size, "bytes")
    templates.foreach { t =>
      val s = tr.each(s"operators.Discogs.$t")
      if (s.nonEmpty) c.layer(s"operators.Discogs.${t}_p50_ms", Stats.median(s) * 1e3, "ms")
    }
    c.layer("spark.shuffle_bytes_per_query", perOp.map(_._2.shuffleRead.toDouble).sum / perOp.size, "bytes")

    // The ingest again, one layer call at a time, so each gets its own span.
    val lake = s"$out/lake-layers"
    val t0 = System.nanoTime()
    val manifest = tr.span("sources.Backfill.manifest") {
      Manifest.organize(Backfill.listKeys(spark, month.inDir), Backfill.checksumLines(spark, month.inDir),
        baseUrl = month.inDir.stripSuffix("/")).collect()
    }
    manifest.foreach { row =>
      val (url, e) = (row.getAs[String]("url"), row.getAs[String]("data_type"))
      tr.span("sources.Ingest.checksum")(Ingest.verifyChecksum(url, row.getAs[String]("checksum")))
      val s0 = k.snapshot(sc)
      tr.span(s"sources.DiscogsXml.parse.$e")(DiscogsXml.read(spark, url, e).write.format("noop").mode("overwrite").save())
      val parse = k.snapshot(sc) - s0
      c.layer(s"sources.DiscogsXml.parse_tasks.$e", parse.tasks.toDouble, "count")
      c.layer(s"sources.DiscogsXml.parse_cpu_s.$e", parse.cpuS, "s")
      val (y, m, _) = DiscogsLake.parseInputUrl(url)
      tr.span(s"sources.DiscogsLake.writeDump.$e")(DiscogsLake.writeDump(DiscogsXml.read(spark, url, e), lake, e, y.toInt, m))
    }
    val t1 = System.nanoTime()
    val parseS = manifest.map(r => tr.total(s"sources.DiscogsXml.parse.${r.getAs[String]("data_type")}")).sum
    c.layer("sources.Ingest.checksum_s", tr.total("sources.Ingest.checksum"), "s")
    c.layer("sources.Backfill.manifest_s", tr.total("sources.Backfill.manifest"), "s")
    c.layer("sources.DiscogsXml.parse_s", parseS, "s")
    c.layer("sources.DiscogsXml.parse_mb_per_s", month.totalXmlBytes / 1e6 / parseS, "MB/s")
    c.layer("sources.DiscogsLake.write_s",
      manifest.map(r => tr.total(s"sources.DiscogsLake.writeDump.${r.getAs[String]("data_type")}")).sum - parseS, "s")
    val files = Option(new File(lake).listFiles).toSeq.flatten.flatMap(walk).filter(_.getName.endsWith(".parquet"))
    c.layer("sources.DiscogsLake.files_written", files.size.toDouble, "count")
    c.layer("sources.DiscogsLake.bytes_written", files.map(_.length).sum.toDouble, "bytes")
    c.layer("trace.lake.sources_coverage", tr.coverage("sources.", t0, t1), "ratio")
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
}
