package graft.perfbench

import graft.SparkEntry
import graft.functions.TextFns
import graft.functions.VectorExprs
import graft.streaming.IngestClean
import java.io.File
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** `dedup`: the registered pair queries over an all-similar corpus and a
  * mostly-dissimilar one with planted near-copies, then seeded batches
  * through `IngestClean.cleanBatch` into a growing lake. */
object Dedup extends Workload {
  /** Sweep order, with the memo tags `graft.Bench` clears before each call. */
  val queries = Seq("qn03_jaccard_pairs" -> Seq("tokenset"), "qn04_minhash_lsh_pairs" -> Seq(),
    "qn06_simhash_near_pairs" -> Seq("simhash"), "qn17_dedup_components" -> Seq("components"))
  /** The pair family whose dispatch arm `Dedup.lastPairPath` records, per query. */
  private val armTag = Map("qn03_jaccard_pairs" -> "tokenset", "qn04_minhash_lsh_pairs" -> "minhash")
  val corpora = Seq("similar", "neardup")

  private var sizes = Map.empty[String, (Long, Long)] // corpus -> (docs, text bytes)
  private var planted = Seq.empty[(Long, Long)]
  private var nBatches = 0
  private var batchBytes = Map.empty[Int, Long]
  /** (query, corpus) -> (seconds, pairs out, arm, counters) of the latest pass. */
  private val calls = ArrayBuffer.empty[(String, String, Double, Long, String, Option[Snap])]
  private val batches = ArrayBuffer.empty[IngestClean.BatchStats]
  private val probed = ArrayBuffer.empty[((Int, Int), (Int, Int))]

  private def short(q: String) = q.take(4)

  def generate(c: Ctx, dir: String, scale: Double): Unit = {
    val spark = c.spark
    import spark.implicits._
    def write(name: String, docs: Seq[Gen.Doc]): Unit =
      docs.toDF().coalesce(1).write.parquet(s"$dir/$name/documents.parquet")
    val sim = Gen.similarDocs((300 * scale).toInt.max(40), c.seed)
    val (near, pl) = Gen.nearDupDocs((2000 * scale).toInt.max(200), c.seed + 1)
    write("similar", sim); write("neardup", near)
    sizes = Map("similar" -> (sim.size.toLong, sim.map(_.n_chars).sum),
      "neardup" -> (near.size.toLong, near.map(_.n_chars).sum))
    planted = pl
    // Append batches: fresh documents with in-batch near-copies, plus exact
    // repeats of the previous batch that the lake must turn away.
    nBatches = 20
    val per = (300 * scale).toInt.max(20)
    var prev = Seq.empty[Gen.Doc]
    val rows = (0 until nBatches).flatMap { b =>
      val (fresh, _) = Gen.nearDupDocs(per, c.seed + 100 + b, idBase = 1000000L + b * 10000L)
      val r = new java.util.SplittableRandom(c.seed + 5000 + b)
      val docs = fresh.map(d => if (prev.nonEmpty && r.nextInt(20) == 0)
        d.copy(text = prev(r.nextInt(prev.size)).text) else d)
      prev = docs
      docs.map(d => (b, d.doc_id, d.text, 1000000L * (b * 10000L + d.doc_id % 10000)))
    }
    batchBytes = rows.groupMapReduce(_._1)(_._3.length.toLong)(_ + _)
    rows.toDF("batch", "doc_id", "text", "us").write.partitionBy("batch").parquet(s"$dir/batches")
  }

  /** Run every pair query on a small near-duplicate corpus and one append
    * first, so the timed calls do not also pay for loading their code into
    * a fresh JVM. */
  def warm(c: Ctx, dir: String): Unit = {
    generate(c, dir, 0.1)
    for ((q, _) <- queries)
      SparkEntry.queries(q)(c.spark, s"$dir/neardup").write.format("noop").mode("overwrite").save()
    graft.operators.Dedup.clearMemo(c.spark)
    IngestClean.cleanBatch(c.spark, batch(c.spark, dir, 0), s"$dir/lake", s"$dir/index")
  }

  private def batch(spark: SparkSession, dir: String, b: Int): DataFrame =
    spark.read.parquet(s"$dir/batches").filter(col("batch") === b).drop("batch")

  def timed(c: Ctx, dir: String, out: String, deadlineNs: Long): Timed = {
    val spark = c.spark
    calls.clear(); batches.clear(); probed.clear()
    for (corpus <- corpora; (q, tags) <- queries) {
      tags.foreach(t => graft.operators.Dedup.clearMemo(spark, t))
      val before = c.counters.map(_.snapshot(spark.sparkContext))
      val obs = Observation()
      c.op(s"operators.Dedup.${short(q)}") {
        val df = SparkEntry.queries(q)(spark, s"$dir/$corpus")
        c.noop(df.observe(obs, count(lit(1)).as("n")))
      }.foreach { case (_, s) =>
        val arm = armTag.get(q).flatMap(graft.operators.Dedup.lastPairPath(spark, _)).getOrElse("")
        calls += ((q, corpus, s, obs.get("n").asInstanceOf[Long], arm,
          for (b <- before; k <- c.counters) yield k.snapshot(spark.sparkContext) - b))
      }
    }
    graft.operators.Dedup.clearMemo(spark)
    val (lake, idx) = (s"$out/lake", s"$out/index")
    val (ms, wall) = c.loop(minOps = 4, maxOps = nBatches, deadlineNs) { b =>
      c.op("streaming.IngestClean.cleanBatch")(IngestClean.cleanBatch(spark, batch(spark, dir, b), lake, idx))
        .map { case (st, s) =>
          batches += st; probed += ((IngestClean.lastExactFiles, IngestClean.lastBandFiles)); s
        }
    }
    val docs = calls.map(x => sizes(x._2)._1).sum
    val bytes = calls.map(x => sizes(x._2)._2).sum
    val pairS = calls.map(_._3).sum
    c.metric("dedup_docs_per_s", docs / pairS, "docs/s")
    c.metric("append_p50_ms", Stats.median(ms), "ms")
    calls.foreach { case (q, corpus, s, n, arm, _) =>
      c.metric(s"operators.Dedup.${short(q)}.${corpus}_s", s, "s")
      c.metric(s"operators.Dedup.${short(q)}.$corpus.pairs_out", n.toDouble, "count")
      c.notes(s"operators.Dedup.${short(q)}.$corpus.arm") = if (arm.isEmpty) "none" else arm
    }
    val inBytes = (0 until batches.size).map(batchBytes).sum
    Timed(bytes.toDouble, if (calls.size == 8) pairS else Double.NaN, ms, wall,
      (Main.dirBytes(new File(lake)) + Main.dirBytes(new File(idx))).toDouble / inBytes)
  }

  def check(c: Ctx, dir: String, out: String): Unit = {
    val spark = c.spark
    c.check("dedup.pair_calls", calls.size == 8, s"${calls.size} of 8 pair calls succeeded")
    val found = SparkEntry.queries("qn03_jaccard_pairs")(spark, s"$dir/neardup")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missing = planted.map { case (a, b) => (a min b, a max b) }.filterNot(found)
    c.check(s"dedup.planted_pairs_found (${planted.size})", planted.nonEmpty && missing.isEmpty,
      s"${missing.size} planted pairs missing, e.g. ${missing.take(3)}")
    val lake = spark.read.parquet(s"$out/lake")
    val nrm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    val (n, distinct) = (lake.count(), lake.select(nrm).distinct().count())
    c.check("dedup.lake_has_no_exact_duplicates", n > 0 && n == distinct, s"$n rows, $distinct distinct texts")
    c.check("dedup.appended_matches_lake", batches.map(_.appended).sum == n,
      s"batches appended ${batches.map(_.appended).sum}, lake holds $n")
  }

  def layers(c: Ctx, dir: String, out: String): Unit = {
    val tr = c.tracer
    calls.foreach { case (q, corpus, _, _, _, snap) =>
      val p = s"operators.Dedup.${short(q)}.$corpus"
      snap.foreach { d =>
        c.layer(s"$p.jobs", d.jobs.toDouble, "count")
        c.layer(s"$p.shuffle_write_bytes", d.shuffleWrite.toDouble, "bytes")
        c.layer(s"$p.spill_bytes", d.spill.toDouble, "bytes")
        c.layer(s"$p.cpu_s", d.cpuS, "s")
        c.layer(s"$p.task_skew", d.taskSkew, "ratio")
      }
    }
    val appendMs = tr.each("streaming.IngestClean.cleanBatch").map(_ * 1e3)
    c.layer("streaming.IngestClean.batch_ms", Stats.median(appendMs), "ms")
    def ratio(sel: (((Int, Int), (Int, Int))) => (Int, Int)) = {
      val xs = probed.map(sel); xs.map(_._2).sum.toDouble / math.max(1, xs.map(_._1).sum)
    }
    c.layer("streaming.IngestClean.exact_files_probed_ratio", ratio(_._1), "ratio")
    c.layer("streaming.IngestClean.band_files_probed_ratio", ratio(_._2), "ratio")
    c.layer("streaming.IngestClean.appended", batches.map(_.appended).sum.toDouble, "count")
    c.layer("trace.dedup.operators_coverage", tr.coverage("operators.Dedup", c.passStartNs, c.passEndNs), "ratio")

    // Signature passes alone, into the noop sink.
    val docs = c.spark.read.parquet(s"$dir/neardup/documents.parquet")
      .select(col("doc_id"), TextFns.tokenSet(col("text")).as("toks"))
    tr.span("functions.VectorExprs.minhash")(c.noop(docs.select(
      VectorExprs.minhashSigNative(transform(col("toks"), TextFns.tokenHash(_)), 64))))
    // The token hashes get their own projection, as qn06 gives them: simhash
    // reads its argument once per bit.
    tr.span("functions.TextFns.simhash")(c.noop(docs.select(transform(col("toks"), TextFns.tokenHash60(_)).as("hs"))
      .select(TextFns.simhash(col("hs")))))
    c.layer("functions.VectorExprs.minhash_s", tr.total("functions.VectorExprs.minhash"), "s")
    c.layer("functions.TextFns.simhash_s", tr.total("functions.TextFns.simhash"), "s")
  }
}
