package graft

import graft.sources.{DiscogsLake, DiscogsXml, Parquet}

/** Ingest-throughput measurement: XML dump -> typed parse -> partitioned
  * parquet lake, end to end. Prints one JSON line with rows/sec and
  * MB/sec. Usage: `runMain graft.IngestBench <dump.xml[.gz]> [entity]`,
  * or `runMain graft.IngestBench backfill <stagedRoot>` to time the EP2
  * yearly-backfill driver over a staged multi-month tree (the
  * BackfillSpec layout: data/<year>/discogs_YYYYMMDD_<type>s.xml.gz +
  * per-month CHECKSUM.txt). Compare against the reference's operating
  * shape (2 vCPU AWS Batch, chunk_size 5000 — BASELINE.md); generate
  * inputs with tools/gen_ingest_bench.py.
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val path = args(0)
    val entity = args.lift(1).getOrElse("artist")
    val spark = GraftSession.builder()
      // Split uncompressed dumps finely enough to feed every core — the
      // default 128 MB gives a 216 MB file only 2 tasks.
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (path == "backfill") {
      // EP2 driver over a staged tree: months run sequentially (the
      // reference's loop), a month's dumps concurrently (each `.gz` dump
      // is a single-task parse/write).
      val root = args(1)
      val lake = java.nio.file.Files.createTempDirectory("graft_backfill_bench").toString
      val t0 = System.nanoTime()
      val done = graft.sources.Backfill.run(spark, root, lake)
      val secs = (System.nanoTime() - t0) / 1e9
      val rows = done.map(_._2).distinct.map(t =>
        DiscogsLake.read(spark, lake, t).count()).sum
      println(f"""{"metric":"backfill","months":${done.map(_._1).distinct.size},"dumps":${done.size},"rows":$rows,"sec":$secs%.2f,"rows_per_sec":${rows / secs}%.0f}""")
      spark.stop()
      return
    }
    val out = java.nio.file.Files.createTempDirectory("graft_ingest_bench").toString
    val bytes = new java.io.File(path).length()
    // warmup: session + codegen on a tiny slice
    DiscogsXml.read(spark, path, entity).limit(1).collect()
    val t0 = System.nanoTime()
    val df = DiscogsXml.read(spark, path, entity)
    DiscogsLake.writeDump(df, out, entity, 2024, "03")
    val secs = (System.nanoTime() - t0) / 1e9
    val rows = Parquet.read(spark, s"$out/$entity").count()
    println(f"""{"metric":"ingest","rows":$rows,"input_mb":${bytes / 1e6}%.1f,"sec":$secs%.2f,"rows_per_sec":${rows / secs}%.0f,"mb_per_sec":${bytes / 1e6 / secs}%.1f}""")
    // Gz dumps are single-split: the line above measured ONE task doing
    // everything. The pre-split path pays the sequential gunzip once,
    // cuts the stream at record boundaries into plain blocks, and the
    // parse then fans out (>1 task on one dump — the round-8 carried
    // gap). Identical output is asserted, not assumed: an
    // order-insensitive content hash over every projected column must
    // match the single-split ingest exactly.
    if (path.endsWith(".gz")) {
      import org.apache.spark.sql.functions._
      def contentHash(df: org.apache.spark.sql.DataFrame): Long = {
        val cols = df.columns.sorted.map(col).toIndexedSeq
        // XOR-fold: order-insensitive like sum, but cannot overflow
        // (ANSI mode turns a long-sum overflow into a task failure).
        df.select(xxhash64(to_json(struct(cols: _*))).as("h"))
          .agg(expr("bit_xor(h)")).head().getLong(0)
      }
      val splitDir = java.nio.file.Files.createTempDirectory("graft_presplit").toString
      val t1 = System.nanoTime()
      val blocks = graft.sources.Ingest.preSplitGz(
        path, splitDir, graft.sources.DiscogsSchemas.rowTags(entity), 32L * 1024 * 1024)
      val splitSecs = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val sdf = DiscogsXml.readRecovering(spark, splitDir, entity)
      val nTasks = sdf.rdd.getNumPartitions
      DiscogsLake.writeDump(sdf, s"$out/presplit", entity, 2024, "03")
      val parseSecs = (System.nanoTime() - t2) / 1e9
      val sRows = Parquet.read(spark, s"$out/presplit/$entity").count()
      val hashMatch = contentHash(Parquet.read(spark, s"$out/presplit/$entity")) ==
        contentHash(Parquet.read(spark, s"$out/$entity"))
      println(f"""{"metric":"ingest_presplit","rows":$sRows,"blocks":${blocks.size},"tasks":$nTasks,"split_sec":$splitSecs%.2f,"parse_sec":$parseSecs%.2f,"total_sec":${splitSecs + parseSecs}%.2f,"rows_per_sec":${sRows / (splitSecs + parseSecs)}%.0f,"hash_match":$hashMatch}""")
    }
    spark.stop()
  }
}
