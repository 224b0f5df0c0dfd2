package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The [[graft.operators.IndexRung]] lifecycle, once per rung: every
  * persisted index answers the same verbs (recover, delete, maintain,
  * describe) the same way, whatever its sides. Fixtures: the sf0.001
  * embeddings (the six vector rungs) and documents (the text rung).
  */
class IndexRungSpec extends AnyFunSuite {
  import TestSpark._
  import IndexRungSpec._
  import graft.operators._

  /** A private copy of the rung's once-per-session build. */
  private def fresh(r: Rung): String =
    IndexMemo.mutableCopy(spark, sf, s"rungspec_${r.name}")(r.build)

  private def probes(r: Rung): DataFrame = r.corpus().filter(col(r.id) < 10)

  /** (side -> n_rows) of the live version. */
  private def described(path: String, r: Rung): Map[String, Long] =
    r.rung.describe(spark, path).collect().map(x => x.getString(0) -> x.getLong(1)).toMap

  private def stageDir(path: String): java.io.File = new java.io.File(s"$path/.stage")
  private def marker(path: String): java.io.File = new java.io.File(s"$path/_rebalance_due")

  test("a failed staging side leaves no job running and nothing the next recover keeps") {
    val path = Similarity.newIndexDir()
    val sc = spark.sparkContext
    val ex = intercept[IllegalStateException] {
      Concurrently.run(Seq(
        // Eight 1.5 s tasks: still writing when the other side throws.
        () => spark.range(0, 8, 1, 8).toDF("vec_id")
          .withColumn("slow", expr("reflect('java.lang.Thread', 'sleep', 1500L)"))
          .write.mode("overwrite").parquet(IndexSwap.tmp(path, "vectors").toString),
        () => { Thread.sleep(1000); throw new IllegalStateException("side failed") }))
    }
    assert(ex.getMessage == "side failed")
    assert(sc.statusTracker.getActiveJobIds.isEmpty, "a staging job outlived the failed call")
    assert(new java.io.File(IndexSwap.tmp(path, "vectors").toString).exists,
      "the surviving side never finished its write")
    Similarity.recover(spark, path)
    assert(!stageDir(path).exists, "recover left the stage behind")
  }

  test("IVF, IvfSq8 and PQ put every vector in the same cell, built and rebalanced") {
    // One assignment (Similarity.assign) over one centroid rule: the
    // stride seeds at build, Similarity.reseed at rebalance.
    val cellRungs = Seq("IVF", "IvfSq8", "PQ").map(n => rungs.find(_.name == n).get)
    val paths = cellRungs.map(fresh)
    def cells(path: String): Map[Long, Long] =
      spark.read.parquet(IndexSwap.side(spark, path, "vectors"))
        .select(col("vec_id"), col("cent_id").cast("long"))
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    def agree(when: String): Unit = {
      val Seq(ivf, sq8, pq) = paths.map(cells)
      assert(ivf.size == vecs.count() && ivf.values.toSet.size > 1, s"IVF cells $when")
      assert(sq8 == ivf, s"IvfSq8 and IVF disagree $when")
      assert(pq == ivf, s"PQ and IVF disagree $when")
    }
    agree("after the build")
    cellRungs.zip(paths).foreach { case (r, p) => r.rung.rebalance(spark, p) }
    agree("after a rebalance")
  }

  rungs.foreach { r =>
    test(s"${r.name}: a per-call probe runs at most ${r.jobsBefore} Spark jobs, an open handle's no more") {
      val path = IndexMemo.pristine(spark, sf, s"rungspec_${r.name}")(r.build)
      val q = probes(r)
      val perCall = jobsOf(r.probe(q, path).collect(): Unit)
      assert(perCall <= r.jobs, s"per-call probe ran $perCall jobs")
      val serve = r.serve(path)
      val viaHandle = jobsOf(serve(q).collect(): Unit)
      // A per-call probe is one open plus the handle probe: an open
      // handle that re-loaded its state would pay the open's jobs again.
      val openJobs = jobsOf(r.rung.open(spark, path): Unit)
      assert(viaHandle + openJobs <= perCall,
        s"handle probe ran $viaHandle jobs, open $openJobs, per-call $perCall")
      assert(serve(q).collect().map(_.toString).toSeq ==
        r.probe(q, path).collect().map(_.toString).toSeq, "handle and per-call rows differ")
    }

    test(s"${r.name}: a planted .stage/<side> is dropped by the next delete and the next maintain") {
      val path = fresh(r)
      def plant(): Unit = {
        assert(new java.io.File(stageDir(path), r.rung.sides.head).mkdirs())
        assert(stageDir(path).exists)
      }
      plant()
      r.rung.delete(spark, r.corpus().filter(col(r.id) === 499L).select(r.id), path)
      assert(!stageDir(path).exists, "delete left the planted stage")
      plant()
      assert(!r.rung.maintain(spark, path), "maintain rebalanced without a marker")
      assert(!stageDir(path).exists, "maintain left the planted stage")
    }

    test(s"${r.name}: delete hides ids from the probe; describe lists the sides plus deletes") {
      val path = fresh(r)
      // Delete what the probes returned first, so the check bites.
      val gone = r.probe(probes(r), path).filter(col("rnk") <= 3)
        .select(col(r.id)).distinct().collect().map(_.getLong(0)).toSet
      assert(gone.nonEmpty)
      import spark.implicits._
      r.rung.delete(spark, gone.toSeq.toDF(r.id), path)
      val back = r.probe(probes(r), path).select(col(r.id)).collect().map(_.getLong(0)).toSet
      assert(back.nonEmpty, "probe returned nothing after the delete")
      assert((back & gone).isEmpty, s"deleted ids returned: ${back & gone}")
      val described = r.rung.describe(spark, path).collect().map(_.getString(0)).toSet
      assert(described == (r.rung.sides :+ "deletes").toSet, described)
    }

    test(s"${r.name}: delete past the reclaim rate ${if (r.deferred) "defers to maintain" else "rebalances inline"}") {
      val path = fresh(r)
      val v0 = IndexSwap.liveVersion(spark, path)
      // 50 of 500 rows: 10% tombstones against a 1% rate.
      r.rung.delete(spark, r.corpus().filter(col(r.id) % 10 === 0).select(r.id), path,
        autoRebalance = Some(0.01))
      if (r.deferred) {
        assert(marker(path).exists, "the due reclaim dropped no marker")
        assert(IndexSwap.liveVersion(spark, path) == v0, "a deferred reclaim rebuilt inline")
        assert(r.rung.maintain(spark, path), "maintain did not consume the marker")
        assert(!marker(path).exists, "maintain left the marker")
        assert(!r.rung.maintain(spark, path), "maintain re-ran without a marker")
      } else {
        assert(!marker(path).exists, "the inline reclaim dropped a marker")
      }
      assert(IndexSwap.liveVersion(spark, path) == v0 + 1, "no rebuild committed")
      assert(IndexSwap.tombstonesAt(spark, IndexSwap.liveRoot(spark, path)).isEmpty,
        "the rebuild kept the tombstones")
    }

    test(s"${r.name}: append grows each appended side by the new rows and a probe finds the copies, in at most ${r.appendJobsBefore} Spark jobs and ${r.appendPassesBefore} passes over the rows") {
      val path = fresh(r)
      val before = described(path, r)
      val originals = probes(r).filter(col(r.id) < 5)
      val offset = 1000000L
      // Count how often the new rows are evaluated, once through the id
      // and once through the payload: column pruning drops a tap on a
      // column a pass does not read, and every pass reads one of the
      // two (the text rung's stats delta reads only the text). An
      // encoder that stopped materializing a frame several sides share
      // re-reads its input, and both counts see it.
      val idEvals = spark.sparkContext.longAccumulator
      val payloadEvals = spark.sparkContext.longAccumulator
      val tapId = udf { (id: Long) => idEvals.add(1); id }
      val (payload, tapPayload) =
        if (r.name == "TextIndex") "text" -> udf { (t: String) => payloadEvals.add(1); t }
        else "embedding" -> udf { (e: Seq[Float]) => payloadEvals.add(1); e }
      val copies = originals.withColumn(r.id, tapId(col(r.id)) + offset)
        .withColumn(payload, tapPayload(col(payload)))
      // What each side gains: one row per new vector, for the text rung
      // one doclen row per document, its originals' postings again, and
      // one additive stats row.
      val gains: Map[String, Long] =
        if (r.name == "TextIndex")
          Map("doclen" -> 5L, "stats" -> 1L, "postings" ->
            spark.read.parquet(IndexSwap.sideAt(IndexSwap.liveRoot(spark, path), "postings"))
              .filter(col("doc_id") < 5).count())
        else r.rung.sides.filter(Set("vectors", "codes", "prefix")).map(_ -> 5L).toMap
      val jobs = jobsOf(r.append(copies, path))
      val after = described(path, r)
      assert(after.keySet == before.keySet, s"append changed the described sides: $after")
      before.foreach { case (side, n) =>
        assert(after(side) - n == gains.getOrElse(side, 0L),
          s"$side grew from $n to ${after(side)}, expected +${gains.getOrElse(side, 0L)}")
      }
      val hits = r.probe(originals, path)
      val qid = hits.columns.head // qid, or probe_id for IVF
      val found = hits.filter(col(r.id) === col(qid) + offset).select(qid)
        .collect().map(_.getLong(0)).toSet
      assert(found == (0L until 5L).toSet, s"probes found the copies of $found only")
      assert(jobs <= r.appendJobs, s"append ran $jobs jobs")
      assert(idEvals.value <= 5L * r.appendPassesBefore,
        s"append evaluated the ids of its 5 new rows ${idEvals.value} times")
      assert(payloadEvals.value <= 5L * r.appendPassesBefore,
        s"append evaluated the payloads of its 5 new rows ${payloadEvals.value} times")
    }
  }
}

object IndexRungSpec {
  import TestSpark._
  import graft.operators._

  /** Spark jobs started while `body` runs, every posted event drained
    * before and after (the ProfileSpec discipline). */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet(): Unit
    }
    GraftSqlBridge.drainListeners(sc)
    sc.addSparkListener(counter)
    try { body; GraftSqlBridge.drainListeners(sc) } finally sc.removeSparkListener(counter)
    started.get
  }

  /** One rung under test: `corpus` is the (id, payload) fixture frame,
    * `id` its id column, `probe` serves k=10 neighbours per probe row
    * through the per-call entry and `serve` opens a handle on a path
    * and serves the same probe through it. `jobsBefore` is the Spark
    * job count of one per-call probe (collected) when each rung still
    * had its own handle class and the IVF-tier rungs routed per call
    * with a Spark job. `deferred` is false for IVF, whose due reclaim
    * runs inline. `append` is the rung's `appendTo*Index`;
    * `appendJobsBefore` is the Spark job count of appending 5 rows, and
    * `appendPassesBefore` how many times that append evaluated its new
    * rows (through the id or the payload, whichever more often), when
    * each rung still wrote its own append sides. The case names keep
    * those counts; the asserted bounds are `jobs` and `appendJobs`, the
    * counts since every side read plans its schema from one footer on
    * the driver instead of a schema-inference job. */
  final case class Rung(name: String, rung: IndexRung, id: String,
      corpus: () => DataFrame, build: String => Unit,
      probe: (DataFrame, String) => DataFrame, serve: String => DataFrame => DataFrame,
      append: (DataFrame, String) => Unit,
      jobsBefore: Int, appendJobsBefore: Int, appendPassesBefore: Int,
      jobs: Int, appendJobs: Int, deferred: Boolean = true)

  private def vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding")
  private def docs = Tables.documents(spark, sf).select("doc_id", "text")

  val rungs = Seq(
    Rung("IVF", Similarity, "vec_id", () => vecs,
      Similarity.buildIvfIndex(spark, sf, 16, _),
      (q, p) => Similarity.probeIvfIndexWith(spark, q, p, 4, 10),
      p => { val h = Similarity.open(spark, p); Similarity.probeWith(spark, h, _, 4, 10) },
      Similarity.appendToIvfIndex(spark, _, _),
      jobsBefore = 10, appendJobsBefore = 3, appendPassesBefore = 1,
      jobs = 7, appendJobs = 2, deferred = false),
    Rung("SQ8", SQ8, "vec_id", () => vecs,
      SQ8.buildSq8Index(spark, sf, _),
      (q, p) => SQ8.probeSq8IndexWith(spark, q, p, 10),
      p => { val h = SQ8.open(spark, p); SQ8.probeWith(spark, h, _, 10) },
      SQ8.appendToSq8Index(spark, _, _),
      jobsBefore = 16, appendJobsBefore = 10, appendPassesBefore = 4,
      jobs = 13, appendJobs = 9),
    Rung("IvfSq8", IvfSq8, "vec_id", () => vecs,
      IvfSq8.buildIvfSq8Index(spark, sf, 16, _),
      (q, p) => IvfSq8.probeIvfSq8IndexWith(spark, q, p, 4, 10),
      p => { val h = IvfSq8.open(spark, p); IvfSq8.probeWith(spark, h, _, 4, 10) },
      IvfSq8.appendToIvfSq8Index(spark, _, _),
      jobsBefore = 21, appendJobsBefore = 12, appendPassesBefore = 1,
      jobs = 15, appendJobs = 10),
    Rung("PQ", PQ, "vec_id", () => vecs,
      PQ.buildPqIndex(spark, sf, _),
      (q, p) => PQ.probePqIndexWith(spark, q, p, 4, 10),
      p => { val h = PQ.open(spark, p); PQ.probeWith(spark, h, _, 4, 10) },
      PQ.appendToPqIndex(spark, _, _),
      jobsBefore = 22, appendJobsBefore = 12, appendPassesBefore = 4,
      jobs = 16, appendJobs = 9),
    Rung("BinarySig", BinarySig, "vec_id", () => vecs,
      BinarySig.buildBinIndex(spark, sf, _),
      (q, p) => BinarySig.probeBinIndexWith(spark, q, p, 10),
      p => { val h = BinarySig.open(spark, p); BinarySig.probeWith(spark, h, _, 10) },
      BinarySig.appendToBinIndex(spark, _, _),
      jobsBefore = 12, appendJobsBefore = 6, appendPassesBefore = 4,
      jobs = 10, appendJobs = 6),
    Rung("Matryoshka", Matryoshka, "vec_id", () => vecs,
      Matryoshka.buildMatryoshkaIndex(spark, sf, 16, _),
      (q, p) => Matryoshka.probeMatryoshkaIndexWith(spark, q, p, 10),
      p => { val h = Matryoshka.open(spark, p); Matryoshka.probeWith(spark, h, _, 10) },
      Matryoshka.appendToMatryoshkaIndex(spark, _, _),
      jobsBefore = 16, appendJobsBefore = 10, appendPassesBefore = 4,
      jobs = 12, appendJobs = 8),
    Rung("TextIndex", TextIndex, "doc_id", () => docs,
      TextIndex.buildTextIndex(spark, sf, _),
      (q, p) => TextIndex.probeTextIndexWith(spark, q, p, 10),
      p => { val h = TextIndex.open(spark, p); TextIndex.probeWith(spark, h, _, 10) },
      TextIndex.appendToTextIndex(spark, _, _),
      jobsBefore = 18, appendJobsBefore = 12, appendPassesBefore = 2,
      jobs = 15, appendJobs = 11))
}
