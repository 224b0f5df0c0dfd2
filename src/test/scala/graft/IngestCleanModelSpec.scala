package graft

import graft.streaming.{IngestClean, StreamDedup}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `IngestClean.cleanBatch` against a brute-force model of the rules its
  * scaladoc states, run on the driver over plain collections:
  *  - quality: at least `minTokens` whitespace tokens after trimming
  *    spaces; NULL text fails;
  *  - in-batch exact dup: rows with one normalized text keep the lowest
  *    (us, doc_id) — text breaks a full tie — and the others name it;
  *  - lake exact dup: a keeper whose normalized text is in the lake
  *    names the lowest lake doc_id with it;
  *  - near dup: an exact-novel keeper sharing any band with the index
  *    names the lowest indexed carrier of its bands, else one sharing a
  *    band with an earlier exact-novel keeper of the batch (arrival
  *    order (us, doc_id, sha)) names the earliest such keeper;
  *  - survivors append to the lake, and their bands to the index.
  * The band keys come from `StreamDedup.banded`, the one hash family the
  * model trusts. The whitespace tokenizer gives every non-NULL text a
  * token set of at least one token, so the empty and blank texts (token
  * set [""]) stand for the degenerate sets here; the gate drops them.
  */
class IngestCleanModelSpec extends AnyFunSuite {
  import TestSpark._

  case class In(doc_id: Long, text: String, us: Long)
  case class Lake(doc_id: Long, text: String, us: Long, nrm: String, sha: String)
  case class Quar(doc_id: Long, text: String, us: Long, dup_of: Option[Long], reason: String)

  private val minTokens = 8

  private def trimSpaces(t: String) = t.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
  private def quality(t: String) = t != null && trimSpaces(t).split("\\s+", -1).length >= minTokens
  private def nrm(t: String) = trimSpaces(t).toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
  private def sha(s: String) = java.security.MessageDigest.getInstance("SHA-256")
    .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** One batch through the model: the stats, the lake and index rows it
    * appends, and its quarantine rows. */
  private def model(batch: Seq[In], lake: Seq[Lake], index: Seq[(String, Long)],
      bands: String => Set[String]): (IngestClean.BatchStats, Seq[Lake], Seq[(String, Long)], Seq[Quar]) = {
    val (good, bad) = batch.partition(r => quality(r.text))
    val groups = good.groupBy(r => nrm(r.text)).values.toSeq
    val keepers = groups.map(_.minBy(r => (r.us, r.doc_id, r.text)))
    val inBatchDups = groups.flatMap { g =>
      val k = g.minBy(r => (r.us, r.doc_id, r.text))
      g.diff(Seq(k)).map(r => Quar(r.doc_id, r.text, r.us, Some(k.doc_id), "exact_dup"))
    }
    val lakeDoc = lake.groupMapReduce(_.nrm)(_.doc_id)(math.min)
    val (seen, novel) = keepers.partition(r => lakeDoc.contains(nrm(r.text)))
    val carrier = index.groupMapReduce(_._1)(_._2)(math.min)
    def arrival(r: In) = (r.us, r.doc_id, sha(nrm(r.text)))
    val nearOf = novel.map { r =>
      val idx = bands(r.text).flatMap(carrier.get).minOption
      val prior = novel.filter(o => Ordering[(Long, Long, String)].lt(arrival(o), arrival(r)) &&
        bands(o.text).exists(bands(r.text))).minByOption(arrival)
      r -> idx.orElse(prior.map(_.doc_id))
    }
    val survivors = nearOf.collect { case (r, None) => r }
    val quar = bad.map(r => Quar(r.doc_id, r.text, r.us, None, "quality")) ++ inBatchDups ++
      seen.map(r => Quar(r.doc_id, r.text, r.us, Some(lakeDoc(nrm(r.text))), "exact_dup")) ++
      nearOf.collect { case (r, Some(d)) => Quar(r.doc_id, r.text, r.us, Some(d), "near_dup") }
    (IngestClean.BatchStats(batch.size, good.size, novel.size, survivors.size),
      survivors.map(r => Lake(r.doc_id, r.text, r.us, nrm(r.text), sha(nrm(r.text)))),
      survivors.flatMap(r => bands(r.text).toSeq.map(_ -> r.doc_id)), quar)
  }

  /** Four seeded batches: fresh docs over a small vocabulary, in-batch
    * exact copies (case and space variants, some arriving first), token
    * reorders of this and earlier batches' docs, exact copies of earlier
    * docs, rows reusing a doc_id (with novel text, a copy, or a reorder
    * at the same us), NULL, empty, blank and short texts; the fourth
    * batch replays the second. */
  private def stream(seed: Long): Seq[Seq[In]] = {
    val r = new scala.util.Random(seed)
    val vocab = (0 until 60).map(i => s"tok$i")
    def fresh(n: Int) = Seq.fill(n)(vocab(r.nextInt(vocab.size))).mkString(" ")
    def reorder(t: String) = r.shuffle(t.split(' ').toSeq).mkString(" ")
    def variant(t: String) = t.split(' ').map(w => if (r.nextBoolean()) w.toUpperCase else w)
      .mkString(if (r.nextBoolean()) "  " else " ") + (if (r.nextBoolean()) "   " else "")
    var earlier = Seq.empty[In]
    val made = (0 until 3).map { b =>
      def us() = b * 100000000L + r.nextInt(6) * 1000000L
      val base = (0 until 10).map(i => In(b * 100L + i, fresh(8 + r.nextInt(5)), us()))
      val extra = Seq(
        In(b * 100L + 20, variant(base(0).text), us()),
        In(b * 100L + 21, variant(base(1).text), base(1).us - 1),
        In(b * 100L + 22, reorder(base(2).text), us()),
        In(base(3).doc_id, fresh(10), us()),
        In(base(4).doc_id, base(4).text + "  ", base(4).us),
        In(base(5).doc_id, reorder(base(5).text), base(5).us),
        In(b * 100L + 23, null, us()),
        In(b * 100L + 24, "", us()),
        In(b * 100L + 25, "     ", us()),
        In(b * 100L + 26, "tok1 tok2 tok3", us()),
        In(b * 100L + 27, Seq.fill(9)("tok7").mkString(" "), us())) ++
        (if (earlier.isEmpty) Nil else {
          val pick = earlier.filter(d => quality(d.text))
          Seq(In(b * 100L + 30, pick(r.nextInt(pick.size)).text, us()),
            In(b * 100L + 31, reorder(pick(r.nextInt(pick.size)).text), us()),
            In(b * 100L + 32, variant(pick(r.nextInt(pick.size)).text), us()))
        })
      val batch = r.shuffle(base ++ extra)
      earlier ++= batch
      batch
    }
    made :+ made(1)
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq

  test("cleanBatch equals the brute-force model over a seeded stream with a replay") {
    val batches = stream(20261019L)
    val texts = batches.flatten.map(_.text).filter(_ != null).distinct
    val bandsByText: Map[String, Set[String]] = {
      val df = spark.createDataFrame(texts.zipWithIndex.map { case (t, i) => In(i.toLong, t, 0L) })
      val byId = StreamDedup.banded(df.toDF()).collect().groupMap(_.doc_id)(_.band)
      texts.zipWithIndex.map { case (t, i) => t -> byId.getOrElse(i.toLong, Array.empty[String]).toSet }.toMap
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_model").toString
    val (lakeDir, idxDir, quarDir) = (s"$dir/lake", s"$dir/index", s"$dir/quarantine")
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true),
      StructField("us", LongType, nullable = false)))
    var (lake, index) = (Seq.empty[Lake], Seq.empty[(String, Long)])
    batches.zipWithIndex.foreach { case (batch, b) =>
      val (want, lakeAdd, idxAdd, quar) = model(batch, lake, index, bandsByText)
      lake ++= lakeAdd; index ++= idxAdd
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        batch.map(d => Row(d.doc_id, d.text, d.us)), 2), schema)
      val got = IngestClean.cleanBatch(spark, df, lakeDir, idxDir, minTokens = minTokens,
        quarantineDir = Some(quarDir), batchId = b.toLong)
      assert(got == want, s"batch $b stats")
      val gotLake = rowsOf(spark.read.parquet(lakeDir).select("doc_id", "text", "us", "nrm", "sha"))
        .map(r => Lake(r.getLong(0), r.getString(1), r.getLong(2), r.getString(3), r.getString(4)))
      assert(gotLake.sortBy(_.toString) == lake.sortBy(_.toString), s"batch $b lake rows")
      val gotIdx = rowsOf(spark.read.parquet(idxDir).select("band", "doc_id"))
        .map(r => r.getString(0) -> r.getLong(1))
      assert(gotIdx.sorted == index.sorted, s"batch $b index rows")
      val gotQuar = rowsOf(spark.read.parquet(quarDir).filter(col("batch").cast("int") === b)
          .select("doc_id", "text", "us", "dup_of", "reason"))
        .map(r => Quar(r.getLong(0), r.getString(1), r.getLong(2),
          Option.when(!r.isNullAt(3))(r.getLong(3)), r.getString(4)))
      assert(gotQuar.sortBy(_.toString) == quar.sortBy(_.toString), s"batch $b quarantine rows")
    }
    // the fixture exercises every rule
    val reasons = rowsOf(spark.read.parquet(quarDir).select("reason")).map(_.getString(0)).toSet
    assert(reasons == Set("quality", "exact_dup", "near_dup"))
    assert(lake.groupBy(_.doc_id).exists(_._2.size > 1), "no doc_id reached the lake twice")
  }
}
