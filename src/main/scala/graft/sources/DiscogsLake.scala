package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Hive-partitioned Parquet lake, `<type>/year=YYYY/month=MM/` (reference
  * README.md:9-47, s3.py:40-52). `month` is a zero-padded STRING partition
  * value ("09") — DuckDB infers it varchar (README.md:89-90) — so reads
  * declare `year INT` and `month STRING` instead of inferring them, and
  * leave the session's partition-type inference as it is.
  *
  * Scale notes: the write is `partitionBy(year, month)` dynamic
  * partitioning — each task writes only its partition's files, and reads
  * prune by partition directory before any IO. No `coalesce(1)`: file
  * count per partition follows upstream parallelism, which is what a
  * 1000-executor ingest wants (the reference's one-file-per-dump layout is
  * a single-process artifact, not semantics).
  */
object DiscogsLake {

  /** Derive (year, month, type) from a dump URL/filename — s3.py:21-38. */
  def parseInputUrl(url: String): (String, String, String) = {
    val filename = url.split('/').last
    val dateStr = filename.split('_')(1)
    val dataType = filename.split('_').last.split('.').head
    (dateStr.substring(0, 4), dateStr.substring(4, 6), dataType)
  }

  /** Write one entity table into the lake with literal partition values
    * (one dump file covers exactly one year/month).
    */
  def writeDump(df: DataFrame, baseDir: String, dataType: String,
      year: Int, month: String): Unit =
    df.withColumn("year", lit(year))
      .withColumn("month", lit(month))
      .write.mode("append")
      .partitionBy("year", "month")
      .parquet(s"$baseDir/$dataType")

  /** Write a frame that already carries year/month columns. */
  def write(df: DataFrame, baseDir: String, dataType: String): Unit =
    df.write.mode("overwrite")
      .partitionBy("year", "month")
      .parquet(s"$baseDir/$dataType")

  private val partitions = StructType(Seq(
    StructField("year", IntegerType), StructField("month", StringType)))

  def read(spark: SparkSession, baseDir: String, dataType: String): DataFrame =
    Parquet.readPartitioned(spark, s"$baseDir/$dataType", partitions)
}
