package graft.perfbench

import graft.operators.{BinarySig, IvfSq8, Matryoshka, PQ, SQ8, Similarity, TextIndex}
import java.io.File
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** `ann`: every index rung through its lifecycle — build, append, delete,
  * then probe batches — over a seeded clustered vector corpus, and a
  * seeded text corpus for `TextIndex`. */
object Ann extends Workload {
  val dim = 64
  private val k = 10

  /** One rung's verbs. `qid` and `id` name the result columns holding the
    * probe and neighbour ids; `floor` is the lowest recall@10 the run accepts. */
  final case class Rung(name: String, corpus: String, qid: String, id: String, floor: Double,
      build: (SparkSession, String, String) => Unit,
      probe: (SparkSession, DataFrame, String) => DataFrame,
      append: (SparkSession, DataFrame, String) => Unit,
      delete: (SparkSession, DataFrame, String) => Unit)

  private def vecs(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/vec/embeddings.parquet").select("vec_id", "embedding")

  // Floors: the registered recall gates (qn44 for binary, matryoshka and
  // SQ8 as hits out of 50; qn41 for IVF-PQ), and 0.1 for the rungs
  // without one, far above the ~k/N a collapsed shortlist scores.
  val rungs = Seq(
    Rung("Similarity", "vec", "probe_id", "vec_id", 0.1,
      (s, d, p) => Similarity.buildIvfIndex(s, s"$d/vec", 16, p),
      (s, q, p) => Similarity.probeIvfIndexWith(s, q, p, 4, k),
      (s, v, p) => Similarity.appendToIvfIndex(s, v, p),
      (s, ids, p) => Similarity.deleteFromIvfIndex(s, ids, p)),
    Rung("SQ8", "vec", "qid", "vec_id", 20 / 50.0,
      (s, d, p) => SQ8.buildSq8IndexFrom(s, vecs(s, d), p),
      (s, q, p) => SQ8.probeSq8IndexWith(s, q, p, k),
      (s, v, p) => SQ8.appendToSq8Index(s, v, p),
      (s, ids, p) => SQ8.deleteFromSq8Index(s, ids, p)),
    Rung("IvfSq8", "vec", "qid", "vec_id", 0.1,
      (s, d, p) => IvfSq8.buildIvfSq8IndexFrom(s, vecs(s, d), 16, p),
      (s, q, p) => IvfSq8.probeIvfSq8IndexWith(s, q, p, 4, k),
      (s, v, p) => IvfSq8.appendToIvfSq8Index(s, v, p),
      (s, ids, p) => IvfSq8.deleteFromIvfSq8Index(s, ids, p)),
    Rung("PQ", "vec", "qid", "vec_id", 8 / 50.0,
      (s, d, p) => PQ.buildPqIndex(s, s"$d/vec", p),
      (s, q, p) => PQ.probePqIndexWith(s, q, p, 4, k),
      (s, v, p) => PQ.appendToPqIndex(s, v, p),
      (s, ids, p) => PQ.deleteFromPqIndex(s, ids, p)),
    Rung("BinarySig", "vec", "qid", "vec_id", 5 / 50.0,
      (s, d, p) => BinarySig.buildBinIndexFrom(s, vecs(s, d), p, dim),
      (s, q, p) => BinarySig.probeBinIndexWith(s, q, p, k),
      (s, v, p) => BinarySig.appendToBinIndex(s, v, p),
      (s, ids, p) => BinarySig.deleteFromBinIndex(s, ids, p)),
    Rung("Matryoshka", "vec", "qid", "vec_id", 4 / 50.0,
      (s, d, p) => Matryoshka.buildMatryoshkaIndexFrom(s, vecs(s, d), 16, p),
      (s, q, p) => Matryoshka.probeMatryoshkaIndexWith(s, q, p, k),
      (s, v, p) => Matryoshka.appendToMatryoshkaIndex(s, v, p),
      (s, ids, p) => Matryoshka.deleteFromMatryoshkaIndex(s, ids, p)),
    Rung("TextIndex", "text", "qid", "doc_id", 0.1,
      (s, d, p) => TextIndex.buildTextIndexFrom(s, s.read.parquet(s"$d/text/documents.parquet").select("doc_id", "text"), p),
      (s, q, p) => TextIndex.probeTextIndexWith(s, q, p, k),
      (s, v, p) => TextIndex.appendToTextIndex(s, v, p),
      (s, ids, p) => TextIndex.deleteFromTextIndex(s, ids, p)))

  private var n = 0
  private var textBytes = 0L
  private val batches = 16
  private val probeBase = 10000000L
  /** Exact top-10 ids per probe id, per corpus, after the appends and deletes. */
  private var truth = Map.empty[String, Map[Long, Set[Long]]]
  /** Ids each corpus deletes. */
  private var deletes = Map.empty[String, Seq[Long]]
  private val probeMs = ArrayBuffer.empty[(String, Double)]
  private val buildS = ArrayBuffer.empty[(String, Double)]
  private val mutateMs = ArrayBuffer.empty[(String, String, Double)]
  private val hits = scala.collection.mutable.Map.empty[String, (Long, Long)]
  private val returned = scala.collection.mutable.Map.empty[String, Set[Long]]
  private val lingering = ArrayBuffer.empty[(String, Int)]
  private val stageDirs = ArrayBuffer.empty[String]

  def generate(c: Ctx, dir: String, scale: Double): Unit = {
    val spark = c.spark
    import spark.implicits._
    val r = new SplittableRandom(c.seed)
    n = (2000 * scale).toInt.max(200)
    val nDocs = (1000 * scale).toInt.max(100)
    // Clusters with a low intrinsic dimension, as real embeddings have:
    // each point is its cluster's centre plus a 4-dimensional latent
    // offset mapped into the 64 dimensions, plus a little isotropic noise.
    val centers = Array.fill(32, dim)(r.nextGaussian().toFloat)
    val maps = Array.fill(32, dim, 4)(0.3f * r.nextGaussian().toFloat)
    def point(): Array[Float] = {
      val c = r.nextInt(centers.length); val z = Array.fill(4)(r.nextGaussian().toFloat)
      Array.tabulate(dim)(j => centers(c)(j) + (0 until 4).map(l => maps(c)(j)(l) * z(l)).sum +
        0.02f * r.nextGaussian().toFloat)
    }
    val corpus = Array.fill(n)(point())
    val probes = Array.fill(batches * 8)(point())
    val appended = Array.fill(50)(point())
    corpus.zipWithIndex.map { case (v, i) => (i.toLong, v, i % 32) }.toSeq.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/vec/embeddings.parquet")
    probes.zipWithIndex.map { case (v, i) => (probeBase + i, v, i / 8) }.toSeq.toDF("vec_id", "embedding", "batch")
      .coalesce(1).write.parquet(s"$dir/vec-probes")
    appended.zipWithIndex.map { case (v, i) => (5000000L + i, v) }.toSeq.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/vec-appends")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d, na, nb = 0.0; var j = 0
      while (j < dim) { d += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j); j += 1 }
      d / math.sqrt(na * nb)
    }
    def top(p: Array[Float], live: Seq[(Long, Array[Float])]): Seq[Long] =
      live.map { case (id, v) => (id, cos(p, v)) }.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
    val base = corpus.indices.map(i => (i.toLong, corpus(i)))
    // Delete the nearest neighbour of the first 20 probes, so that the
    // probes after the deletes have something to leave out.
    val vecDeletes = probes.take(20).map(p => top(p, base).head).distinct.toSeq
    val live = base.filterNot(x => vecDeletes.contains(x._1)) ++
      appended.indices.map(i => (5000000L + i, appended(i)))
    val vecTruth = probes.indices.map(i => (probeBase + i) -> top(probes(i), live).toSet).toMap

    // Text: documents of made-up words; each query is six words of one
    // target document, which must come back in its top 10. The targets of
    // the first four queries are deleted and must not come back.
    val (docs, _) = Gen.nearDupDocs(nDocs + 50, c.seed + 7, share = 0.0)
    docs.take(nDocs).map(d => (d.doc_id, d.text)).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$dir/text/documents.parquet")
    textBytes = docs.take(nDocs).map(_.n_chars).sum
    val queries = (0 until batches * 8).map { i =>
      val target = r.nextInt(nDocs); val w = docs(target).text.split(' ')
      val start = r.nextInt(w.length - 6)
      (probeBase + i, w.slice(start, start + 6).mkString(" "), i / 8, target.toLong)
    }
    queries.toDF("doc_id", "text", "batch", "target").coalesce(1).write.parquet(s"$dir/text-probes")
    docs.drop(nDocs).zipWithIndex.map { case (d, i) => (5000000L + i, d.text) }
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/text-appends")
    val textDeletes = queries.take(4).map(_._4).distinct
    truth = Map("vec" -> vecTruth,
      "text" -> queries.map(q => q._1 -> Set(q._4).diff(textDeletes.toSet)).toMap)
    deletes = Map("vec" -> vecDeletes, "text" -> textDeletes)
  }

  /** No warm-up: builds and mutations run cold, as batch jobs do; each
    * rung's first probe is reported apart as its cold probe. */
  def warm(c: Ctx, dir: String): Unit = ()

  private def probeBatch(s: SparkSession, dir: String, g: Rung, b: Int): DataFrame =
    s.read.parquet(s"$dir/${g.corpus}-probes").filter(col("batch") === b)
      .select(g.id, if (g.corpus == "vec") "embedding" else "text")

  /** Build every rung, append to it, delete from it, then probe the rungs
    * round-robin until the deadline, at least twice each. */
  private def lifecycle(c: Ctx, dir: String, out: String, deadlineNs: Long): Unit = {
    val spark = c.spark
    import spark.implicits._
    Seq(probeMs, buildS, mutateMs, lingering, stageDirs).foreach(_.clear()); hits.clear(); returned.clear()
    def path(g: Rung) = s"$out/${g.name}"
    def verb(g: Rung, v: String)(body: => Unit): Option[Double] = {
      val before = c.counters.map(_.snapshot(spark.sparkContext))
      val r = c.op(s"operators.${g.name}.$v")(body).map(_._2)
      for (b <- before; k <- c.counters) {
        c.layer(s"operators.${g.name}.${v}_jobs", (k.snapshot(spark.sparkContext) - b).jobs.toDouble, "count")
        // A verb that returned must leave no job running and no staged side behind.
        lingering += ((s"${g.name}.$v", spark.sparkContext.statusTracker.getActiveJobIds().length))
        if (new File(s"${path(g)}/.stage").exists) stageDirs += s"${g.name}.$v"
      }
      r
    }
    rungs.foreach(g => verb(g, "build")(g.build(spark, dir, path(g))).foreach(s => buildS += ((g.name, s))))
    rungs.foreach { g =>
      verb(g, "append")(g.append(spark, spark.read.parquet(s"$dir/${g.corpus}-appends"), path(g)))
        .foreach(s => mutateMs += ((g.name, "append", s * 1e3)))
      verb(g, "delete")(g.delete(spark, deletes(g.corpus).toDF(g.id), path(g)))
        .foreach(s => mutateMs += ((g.name, "delete", s * 1e3)))
    }
    // Probe batches round-robin over the rungs, so every rung gets the same share.
    c.loop(2 * rungs.size, batches * rungs.size, deadlineNs) { i =>
      val g = rungs(i % rungs.size); val b = i / rungs.size
      c.op(s"operators.${g.name}.probe")(g.probe(spark, probeBatch(spark, dir, g, b), path(g))
        .select(col(g.qid), col(g.id)).collect()).map { case (rows, s) =>
        val got = rows.groupMap(_.getLong(0))(_.getLong(1)).map { case (q, v) => q -> v.toSet }
        val want = truth(g.corpus).filter { case (q, ids) => (q - probeBase) / 8 == b && ids.nonEmpty }
        val (h, t) = hits.getOrElse(g.name, (0L, 0L))
        hits(g.name) = (h + want.map { case (q, ids) => (got.getOrElse(q, Set.empty) & ids).size }.sum,
          t + want.map(_._2.size).sum)
        returned(g.name) = returned.getOrElse(g.name, Set.empty[Long]) ++ got.values.flatten
        probeMs += ((g.name, s * 1e3)); s
      }
    }
  }

  def timed(c: Ctx, dir: String, out: String, deadlineNs: Long): Timed = {
    lifecycle(c, dir, out, deadlineNs)
    // The probes after each rung's first (cold) one.
    val ms = rungs.flatMap(g => probeMs.filter(_._1 == g.name).map(_._2).drop(1))
    val recall = rungs.map(g => g.name -> hits.get(g.name).map { case (h, t) => h.toDouble / math.max(1L, t) }.getOrElse(0.0))
    recall.foreach { case (g, v) => c.metric(s"operators.$g.recall_at_10", v, "ratio") }
    c.metric("ann_recall_at_10", recall.map(_._2).min, "ratio")
    val vecRungs = buildS.filter(_._1 != "TextIndex")
    c.metric("ann_build_vec_per_s", vecRungs.size * n / vecRungs.map(_._2).sum, "vectors/s")
    c.metric("ann_probe_p50_ms", Stats.median(ms), "ms")
    c.metric("ann_mutate_p50_ms", Stats.median(mutateMs.map(_._3).toSeq), "ms")
    val vecBytes = n.toDouble * dim * 4
    val inBytes = rungs.map(g => if (g.corpus == "vec") vecBytes else textBytes.toDouble).sum
    val indexBytes = rungs.map(g => Main.dirBytes(new File(s"$out/${g.name}"))).sum
    Timed(inBytes, if (buildS.size == rungs.size) buildS.map(_._2).sum else Double.NaN, ms, ms.sum / 1e3,
      indexBytes / inBytes)
  }

  def check(c: Ctx, dir: String, out: String): Unit =
    rungs.foreach { g =>
      val rec = c.named.get(s"operators.${g.name}.recall_at_10").map(_._1).getOrElse(0.0)
      c.check(s"ann.${g.name}.recall_at_10>=${g.floor}", rec >= g.floor, f"recall $rec%.3f")
      val back = returned.getOrElse(g.name, Set.empty) & deletes(g.corpus).toSet
      c.check(s"ann.${g.name}.deleted_ids_not_returned", returned.contains(g.name) && back.isEmpty,
        s"deleted ids returned: ${back.take(5)}")
    }

  def layers(c: Ctx, dir: String, out: String): Unit = {
    rungs.foreach { g =>
      val p = s"operators.${g.name}"
      c.layer(s"$p.build_s", c.tracer.total(s"$p.build"), "s")
      c.layer(s"$p.index_bytes", Main.dirBytes(new File(s"$out/${g.name}")).toDouble, "bytes")
      val probes = probeMs.filter(_._1 == g.name).map(_._2)
      if (probes.nonEmpty) c.layer(s"$p.probe_cold_ms", probes.head, "ms")
      if (probes.size > 1) c.layer(s"$p.probe_warm_p50_ms", Stats.median(probes.tail.toSeq), "ms")
      mutateMs.filter(_._1 == g.name).foreach { case (_, v, ms) => c.layer(s"$p.${v}_ms", ms, "ms") }
    }
    c.layer("operators.IndexSwap.active_jobs_after_return", lingering.map(_._2).sum.toDouble, "count")
    c.layer("operators.IndexSwap.stage_debris_dirs", stageDirs.size.toDouble, "count")
  }
}
