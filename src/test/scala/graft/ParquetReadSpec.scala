package graft

import graft.operators.{IndexMemo, IndexSwap, TmpDirs}
import graft.sources.{DiscogsLake, LakeListing, Parquet, ZoneMap}
import java.io.File
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.sources.Parquet]]: a read plans from one footer on the driver,
  * with no Spark job, and gets exactly the schema Spark's inference job
  * would; every read it cannot match defers to `spark.read.parquet`. */
class ParquetReadSpec extends AnyFunSuite {
  import TestSpark._
  import IndexRungSpec.{jobsOf, rungs}

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_parquet_$name").toString

  private def sameAsInferred(s: SparkSession, paths: String*): Unit = {
    assert(Parquet.footerSchema(s, paths).isDefined, s"deferred: ${paths.mkString(", ")}")
    assert(Parquet.read(s, paths: _*).schema == s.read.parquet(paths: _*).schema,
      s"schema differs: ${paths.mkString(", ")}")
  }

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  private def dataFiles(dir: String): Seq[String] =
    LakeListing.dataFiles(spark.sessionState.newHadoopConf(), new Path(dir)).map(_.toString)

  /** `n` rows of nested and logical types, with a zero-padded `month`. */
  private def mixed(n: Int): DataFrame = spark.range(n).select(
    col("id"), (col("id") % 3).cast("int").as("i"), col("id").cast("string").as("str"),
    (col("id") / 7).cast("decimal(12,3)").as("dec"), timestamp_micros(col("id")).as("ts"),
    array(col("id"), col("id") + 1).as("arr"),
    struct(col("id").as("a"), lit("x").as("b")).as("st"), map(lit("k"), col("id")).as("m"),
    col("id").cast("string").cast("binary").as("bin"), lit(null).cast("double").as("nul"),
    (lit(1990) + col("id") % 3).as("year"), format_string("%02d", col("id") % 2 + 8).as("month"))

  test("one footer gives the inferred schema: a file, a directory, a partitioned lake with partition type inference on and off, basePath subsets") {
    val dir = tmp("shapes")
    mixed(20).drop("year", "month").coalesce(1).write.parquet(s"$dir/t")
    sameAsInferred(spark, s"$dir/t")
    sameAsInferred(spark, dataFiles(s"$dir/t").head)
    val lake = s"$dir/lake"
    mixed(40).repartition(3).write.partitionBy("year", "month").parquet(lake)
    Seq("true", "false").foreach { on =>
      withConf("spark.sql.sources.partitionColumnTypeInference.enabled", on) {
        sameAsInferred(spark, lake)
        sameAsInferred(spark, s"$lake/year=1991/month=09", s"$lake/year=1990/month=08")
        Seq(dataFiles(lake).take(3), Seq(s"$lake/year=1992", s"$lake/year=1990/month=09"))
          .foreach { sub =>
            assert(Parquet.readBase(spark, lake, sub).schema ==
              spark.read.option("basePath", lake).parquet(sub: _*).schema, s"basePath $sub")
          }
        assert(Parquet.read(spark, lake).orderBy("id").collect().toSeq ==
          spark.read.parquet(lake).orderBy("id").collect().toSeq)
      }
    }
  }

  test("the root walk takes roots in path order and stats only those that can hold the least leaf") {
    val dir = tmp("roots")
    // "a-b/…" sorts before "a/…" ('-' < '/'), though root "a" sorts first.
    spark.range(2).withColumn("x", lit(1)).coalesce(1).write.parquet(s"$dir/a")
    spark.range(2).withColumn("y", lit("b")).coalesce(1).write.parquet(s"$dir/a-b")
    Seq(Seq(s"$dir/a", s"$dir/a-b"), Seq(s"$dir/a-b", s"$dir/a"),
        Seq(s"$dir/a", dataFiles(s"$dir/a-b").head), Seq(s"$dir/a") ++ dataFiles(s"$dir/a-b"))
      .foreach(paths => sameAsInferred(spark, paths: _*))
    assert(Parquet.read(spark, s"$dir/a", s"$dir/a-b").columns.contains("y"))
    // A root that sorts after the first leaf is never stat'd: a missing one
    // there still plans from the footer, and Spark's own check then fails.
    val late = s"$dir/b_missing"
    assert(Parquet.footerSchema(spark, Seq(late, s"$dir/a")).isDefined)
    assert(Parquet.footerSchema(spark, Seq(s"$dir/a-a_missing", s"$dir/a")).isEmpty)
    assert(intercept[AnalysisException](Parquet.read(spark, late, s"$dir/a")).getCondition ==
      intercept[AnalysisException](spark.read.parquet(late, s"$dir/a")).getCondition)
  }

  test("one footer gives the inferred schema of bloom-written IngestClean files") {
    val dir = tmp("ingest")
    val batch = spark.createDataFrame(Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo", 1000000L),
      (2L, "zebra yak xylophone walrus vulture tiger snake rabbit quail panda otter", 2000000L)))
      .toDF("doc_id", "text", "us")
    graft.streaming.IngestClean.cleanBatch(spark, batch, s"$dir/lake", s"$dir/index")
    sameAsInferred(spark, s"$dir/lake")
    sameAsInferred(spark, s"$dir/index")
  }

  test("one footer gives the inferred schema of every rung's sides after build and append") {
    rungs.foreach { r =>
      val path = IndexMemo.mutableCopy(spark, sf, s"rungspec_${r.name}")(r.build)
      r.append(r.corpus().filter(col(r.id) < 5).withColumn(r.id, col(r.id) + 1000000L), path)
      val root = IndexSwap.liveRoot(spark, path)
      r.rung.sides.foreach { side =>
        val dir = IndexSwap.sideAt(root, side)
        sameAsInferred(spark, dir)
        val cells = Option(new File(dir).list).toSeq.flatten.filter(_.startsWith("cent_id=")).sorted
        if (cells.nonEmpty) {
          val sub = cells.take(2).map(c => s"$dir/$c")
          assert(Parquet.readBase(spark, dir, sub).schema ==
            spark.read.option("basePath", dir).parquet(sub: _*).schema, s"${r.name} $side cells")
        }
      }
    }
  }

  test("one footer gives the inferred schema of the nanos events fixture under its sibling session") {
    val p = s"${tmp("nanos")}/events.parquet"
    Files.createDirectories(java.nio.file.Paths.get(p))
    locally {
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
      val schema = Types.buildMessage()
        .required(PrimitiveTypeName.INT64).named("event_id")
        .required(PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
          .named("ts")
        .named("events")
      val w = ExampleParquetWriter.builder(new Path(s"$p/part-0.parquet")).withType(schema).build()
      w.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", 1L).append("ts", 1700000000123456789L))
      w.close()
    }
    val sibling = spark.newSession()
    sibling.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sameAsInferred(sibling, p)
    // The caller's session rejects the nanos file; the helper defers and
    // raises the same error.
    intercept[Exception](spark.read.parquet(p).schema)
    intercept[Exception](Parquet.read(spark, p).schema)
    val dir = new File(p).getParent
    assert(jobsOf(Tables.events(spark, dir): Unit) == 0)
    assert(Tables.events(spark, dir).schema("ts").dataType == TimestampType)
  }

  test("globs, mergeSchema, summary files and empty directories take the fallback") {
    val dir = tmp("fallback")
    mixed(10).drop("year", "month").coalesce(1).write.parquet(s"$dir/a")
    val glob = s"$dir/a/*.parquet"
    assert(Parquet.footerSchema(spark, Seq(glob)).isEmpty)
    assert(Parquet.read(spark, glob).schema == spark.read.parquet(glob).schema)

    spark.range(3).write.parquet(s"$dir/m/p=1")
    spark.range(3).withColumn("extra", lit("x")).write.parquet(s"$dir/m/p=2")
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assert(Parquet.footerSchema(spark, Seq(s"$dir/m")).isEmpty)
      assert(Parquet.read(spark, s"$dir/m").schema == spark.read.parquet(s"$dir/m").schema)
      assert(Parquet.read(spark, s"$dir/m").columns.contains("extra"))
    }

    Files.copy(new File(dataFiles(s"$dir/a").head.stripPrefix("file:")).toPath,
      new File(s"$dir/a/_common_metadata").toPath)
    assert(Parquet.footerSchema(spark, Seq(s"$dir/a")).isEmpty)
    assert(Parquet.read(spark, s"$dir/a").schema == spark.read.parquet(s"$dir/a").schema)

    val empty = s"$dir/empty"
    new File(empty).mkdirs()
    assert(Parquet.footerSchema(spark, Seq(empty)).isEmpty)
    val viaSpark = intercept[AnalysisException](spark.read.parquet(empty))
    val viaHelper = intercept[AnalysisException](Parquet.read(spark, empty))
    assert(viaHelper.getCondition == viaSpark.getCondition)
    assert(viaSpark.getCondition == "UNABLE_TO_INFER_SCHEMA")
  }

  test("a helper read and DiscogsLake.read run no job; ZoneMap planning runs one") {
    val dir = tmp("jobs")
    mixed(30).drop("year", "month").repartition(3).write.parquet(s"$dir/t")
    assert(jobsOf(spark.read.parquet(s"$dir/t"): Unit) == 1, "the counter misses inference jobs")
    assert(jobsOf(Parquet.read(spark, s"$dir/t"): Unit) == 0)
    DiscogsLake.writeDump(mixed(30).drop("year", "month"), s"$dir/lake", "release", 2020, "09")
    assert(jobsOf(DiscogsLake.read(spark, s"$dir/lake", "release"): Unit) == 0)
    ZoneMap.writeStats(spark, s"$dir/t", s"$dir/zm", Seq("id"))
    var pruned: ZoneMap.Pruned = null
    assert(jobsOf { pruned = ZoneMap.prunedScan(spark, s"$dir/t", s"$dir/zm", "id", 3L, 5L) } == 1)
    assert(pruned.nFilesTotal == 3 && pruned.nFilesRead >= 1)
    assert(pruned.df.orderBy("id").select("id").collect().map(_.getLong(0)).toSeq == Seq(3L, 4L, 5L))
    val lake = s"$dir/lake/release"
    ZoneMap.writeStats(spark, lake, s"$dir/zmp", Seq("id"))
    assert(jobsOf(ZoneMap.prunedScanPartitioned(spark, lake, s"$dir/zmp",
      Seq("year" -> 2020), Seq(("id", 0L, 2L))): Unit) == 1)
  }

  test("DiscogsLake.read leaves the session conf alone, so a rung side read types its partitions the same before and after") {
    val dir = tmp("conf")
    DiscogsLake.writeDump(mixed(12).drop("year", "month"), s"$dir/lake", "release", 2020, "09")
    val ivf = rungs.find(_.name == "IVF").get
    val side = IndexSwap.sideAt(IndexSwap.liveRoot(spark,
      IndexMemo.pristine(spark, sf, s"rungspec_${ivf.name}")(ivf.build)), "vectors")
    val before = (spark.read.parquet(side).schema, Parquet.read(spark, side).schema)
    val conf = spark.conf.getAll
    val release = DiscogsLake.read(spark, s"$dir/lake", "release")
    assert(spark.conf.getAll == conf, "DiscogsLake.read changed the session conf")
    assert(release.schema("year").dataType == IntegerType)
    assert(release.schema("month").dataType == StringType)
    assert(release.select("month").distinct().collect().map(_.getString(0)).toSeq == Seq("09"))
    assert((spark.read.parquet(side).schema, Parquet.read(spark, side).schema) == before)
    assert(before._1("cent_id").dataType == IntegerType)
  }

  test("DiscogsLake.read keeps the partition-typed schema, values and column order of a lake whose files carry a year column, with no job") {
    val dir = tmp("yearcol")
    val lake = s"$dir/lake"
    // writeDump replaces the data `year` and partitionBy drops it from the
    // files; files written straight into a partition directory keep theirs.
    DiscogsLake.writeDump(mixed(6).drop("month"), lake, "master", 2020, "09")
    assert(!Parquet.footerSchema(spark, Seq(s"$lake/master")).get.fieldNames.contains("year"))
    mixed(6).select("id", "year", "str", "month", "arr").coalesce(1)
      .write.parquet(s"$lake/hand/year=2021/month=10")
    // The read before declared partition types: inference off, year cast.
    val legacy = spark.newSession()
    legacy.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    Seq("master" -> Seq(2020 -> "09"), "hand" -> Seq(2021 -> "10")).foreach { case (t, parts) =>
      val before = legacy.read.parquet(s"$lake/$t").withColumn("year", col("year").cast("int"))
      var read: DataFrame = null
      assert(jobsOf { read = DiscogsLake.read(spark, lake, t) } == 0, t)
      assert(read.schema == before.schema, t)
      assert(read.orderBy("id").collect().toSeq == before.orderBy("id").collect().toSeq, t)
      assert(read.select("year", "month").distinct().collect().map(r => r.getInt(0) -> r.getString(1))
        .toSeq == parts, t)
    }
  }

  test("a tmp-dir sweep removes an exited owner's dirs and keeps a live sibling's and its own") {
    val prefix = "graft_tmpdirs_spec_"
    val own = TmpDirs.dir(prefix, 1)
    val live = new ProcessBuilder("sleep", "60").start()
    val exited = new ProcessBuilder("true").start()
    exited.waitFor()
    val tmpRoot = new File(sys.props("java.io.tmpdir"))
    def planted(name: String): File = {
      val d = new File(tmpRoot, name)
      new File(d, "part").mkdirs()
      d
    }
    val dirs = Seq(own.getName, s"$prefix${live.pid}_1", s"$prefix${exited.pid}_1", s"${prefix}7")
      .map(planted)
    try {
      TmpDirs.sweepDead(prefix)
      val Seq(ownDir, liveDir, exitedDir, untagged) = dirs
      assert(ownDir.exists, "swept this JVM's own dir")
      assert(liveDir.exists, "swept a live sibling's dir")
      assert(!exitedDir.exists, "kept an exited owner's dir")
      assert(untagged.exists, "swept a dir with no owner tag")
    } finally {
      live.destroy()
      dirs.foreach(TmpDirs.rmTree)
    }
  }

  test("no src/main read infers a Parquet schema outside Parquet.read and the mergeSchema reads") {
    val call = """\.read\b(?:\s*\.\w+\((?:[^()]|\([^()]*\))*\))*\s*\.parquet\(""".r
    Seq("s.read.parquet(p)", "spark.read.option(\"basePath\", b).parquet(fs: _*)",
        "x.read\n  .option(\"k\", f(y))\n  .parquet(p)")
      .foreach(code => assert(call.findFirstIn(code).isDefined, code))
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    def scala(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(scala)
      else Seq(f).filter(_.getName.endsWith(".scala"))
    val offenders = scala(root).filterNot(_.getName == "Parquet.scala").flatMap { f =>
      val text = new String(Files.readAllBytes(f.toPath), "UTF-8")
      call.findAllMatchIn(text).filterNot(_.matched.contains("mergeSchema"))
        .map(m => s"${f.getPath}:${text.substring(0, m.start).count(_ == '\n') + 1}")
    }
    assert(offenders.isEmpty,
      s"read through graft.sources.Parquet, which infers on the driver: ${offenders.mkString(", ")}")
  }
}
