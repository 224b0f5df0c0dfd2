package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** Parquet reads that plan without a Spark job.
  *
  * `spark.read.parquet(p)` without a schema submits one job to read one
  * footer: schema inference touches the first data file of the sorted
  * listing (no summary file, no `mergeSchema`). [[read]] reads that same
  * footer on the driver, converts it exactly as the inference job does
  * (`ParquetFileFormat.readSchemaFromFooter` through a
  * `ParquetToSparkSchemaConverter` built from the reading session's
  * `SQLConf`), and hands it to `spark.read.schema(…)`. Partition columns
  * stay out of the declared schema, so Spark still infers them from the
  * directory names under the session's settings.
  *
  * Every read this cannot match exactly defers to `spark.read.parquet`
  * unchanged: a glob path, a `_metadata` / `_common_metadata` summary
  * file named as a root or in a visited directory,
  * `spark.sql.parquet.mergeSchema` on, a first file that is not
  * `.parquet` or whose footer does not read, a data column that shares
  * the name of a partition directory it does not declare, and a path
  * with no data files (which then raises Spark's own error).
  */
object Parquet {

  def read(spark: SparkSession, paths: String*): DataFrame =
    load(spark, None, new StructType(), paths)

  /** A file or directory subset of the partitioned lake at `basePath`,
    * keeping its partition columns. */
  def readBase(spark: SparkSession, basePath: String, paths: Seq[String]): DataFrame =
    load(spark, Some(basePath), new StructType(), paths)

  /** A partitioned read whose partition columns take the declared types
    * of `partitions` instead of the session's inference. */
  def readPartitioned(spark: SparkSession, path: String, partitions: StructType): DataFrame =
    load(spark, None, partitions, Seq(path))

  private def load(spark: SparkSession, basePath: Option[String], partitions: StructType,
      paths: Seq[String]): DataFrame = {
    def reader = basePath.fold(spark.read)(spark.read.option("basePath", _))
    val declared = partitions.fieldNames.map(_.toLowerCase).toSet
    def declaring(data: StructType): DataFrame = {
      val df = reader.schema(StructType(
        data.filterNot(f => declared(f.name.toLowerCase)) ++ partitions)).parquet(paths: _*)
      // Inference keeps a data column named like a partition at the data
      // column's place, typed and valued as the partition; a declared
      // schema puts it last, so the columns are put back in that order.
      if (!data.fieldNames.exists(n => declared(n.toLowerCase))) df
      else {
        def inData(c: String) = data.fieldNames.exists(_.equalsIgnoreCase(c))
        df.select((data.fieldNames.flatMap(n => df.columns.find(_.equalsIgnoreCase(n))) ++
          df.columns.filterNot(inData)).map(col): _*)
      }
    }
    footerSchema(spark, paths, declared) match {
      case Some(data) if partitions.isEmpty => reader.schema(data).parquet(paths: _*)
      case Some(data) => declaring(data)
      case None =>
        val inferred = reader.parquet(paths: _*)
        if (partitions.isEmpty) inferred else declaring(inferred.schema)
    }
  }

  /** The data schema that inference would return for `paths`, read from
    * one footer on the driver; None where [[read]] defers. */
  private[graft] def footerSchema(spark: SparkSession, paths: Seq[String],
      declared: Set[String] = Set.empty): Option[StructType] = {
    val sqlConf = spark.sessionState.conf
    if (paths.isEmpty || sqlConf.isParquetSchemaMergingEnabled ||
        paths.exists(_.exists("{}[]*?\\".contains(_)))) None
    else try {
      val conf = spark.sessionState.newHadoopConf()
      firstDataFile(conf, paths).flatMap { leaf =>
        val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(leaf, conf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(leaf.getPath, meta),
          new ParquetToSparkSchemaConverter(sqlConf))
        val partKeys = leaf.getPath.toUri.getPath.split('/')
          .filter(_.contains('=')).map(_.takeWhile(_ != '=').toLowerCase).toSet -- declared
        if (schema.fieldNames.exists(n => partKeys(n.toLowerCase))) None else Some(schema)
      }
    } catch { case NonFatal(_) => None }
  }

  private final class Defer extends Exception(null, null, false, false)

  /** The file schema inference would pick: the least visible leaf path
    * of the listing. Every leaf under a root sorts at or after the root's
    * own path, so the roots are taken in path order (qualified with no
    * filesystem call), and a root is stat'd and walked only while it
    * sorts before the least leaf found so far: a file-subset or
    * many-cell read stats one root and lists at most one directory chain. */
  private def firstDataFile(conf: org.apache.hadoop.conf.Configuration,
      paths: Seq[String]): Option[FileStatus] = {
    if (paths.exists(p => isSummary(new Path(p).getName))) throw new Defer
    val roots = paths.map { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      (fs, fs.makeQualified(path))
    }.sortBy(_._2.toString)
    val first = roots.foldLeft(Option.empty[FileStatus]) { case (best, (fs, root)) =>
      if (best.exists(_.getPath.toString <= root.toString)) best
      else {
        val st = fs.getFileStatus(root)
        val leaf =
          if (st.isDirectory) firstUnder(fs, st.getPath)
          else Some(st).filter(f => visible(f.getPath.getName))
        (best ++ leaf).minByOption(_.getPath.toString)
      }
    }
    if (first.exists(!_.getPath.getName.endsWith(".parquet"))) throw new Defer
    first
  }

  /** Inference prefers a summary file anywhere in the listing; one in a
    * directory the walk visits defers the read. */
  private def firstUnder(fs: FileSystem, dir: Path): Option[FileStatus] = {
    val kids = fs.listStatus(dir).filter(k => visible(k.getPath.getName))
    if (kids.exists(k => !k.isDirectory && isSummary(k.getPath.getName))) throw new Defer
    kids.sortBy(k => k.getPath.getName + (if (k.isDirectory) "/" else "")).iterator
      .flatMap(k => if (k.isDirectory) firstUnder(fs, k.getPath) else Some(k))
      .nextOption()
  }

  private def isSummary(name: String): Boolean = Set("_metadata", "_common_metadata")(name)

  /** Spark's listing filter (`HadoopFSUtils.shouldFilterOutPathName`):
    * hidden are `.` names, `_` names without `=`, and `._COPYING_` files;
    * the summary files stay visible. */
  private def visible(name: String): Boolean =
    name.startsWith("_common_metadata") || name.startsWith("_metadata") ||
      !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_"))
}

/** Recursive data-file listing shared by the planning-side walkers
  * ([[BloomLake]] probes, [[ZoneMap.refreshStats]]): every `.parquet`
  * file under the root EXCEPT hidden files and anything under a hidden
  * dir — compaction tmp/aside dirs, `_spark_metadata` — because Spark
  * readers never see those, and a planner that does (e.g. a stats row
  * over a compaction aside holding copies of live rows) double-reads.
  *
  * Hidden-ness is judged on the path RELATIVE to the root: the root is
  * qualified through the filesystem first so a relative or
  * differently-schemed input still strips cleanly — judging the
  * absolute path would mark every file hidden whenever an ANCESTOR of
  * the lake is dot- or underscore-prefixed (a CI `_work` dir, a
  * `~/.cache` lake) and silently empty the listing.
  */
private[graft] object LakeListing {
  def dataFiles(conf: org.apache.hadoop.conf.Configuration, root: Path): Seq[Path] =
    dataFileSizes(conf, root).map(_._1)

  /** Same walk, keeping each file's byte length from the listing itself
    * (the RemoteIterator already carries it — no per-file RPC), so
    * callers that need both the count and the total bytes (the
    * auto-compaction trigger) pay one listing. */
  def dataFileSizes(conf: org.apache.hadoop.conf.Configuration,
      root: Path): Seq[(Path, Long)] = {
    val fs = root.getFileSystem(conf)
    val qualifiedRoot = fs.makeQualified(root).toUri.getPath
    val out = Seq.newBuilder[(Path, Long)]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath
      val rel = p.toUri.getPath.stripPrefix(qualifiedRoot)
      val hidden = rel.split("/").exists(s => s.startsWith(".") || s.startsWith("_"))
      if (p.getName.endsWith(".parquet") && !hidden) out += ((p, st.getLen))
    }
    out.result()
  }
}
