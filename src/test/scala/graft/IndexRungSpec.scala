package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The [[graft.operators.IndexRung]] lifecycle, once per rung: every
  * persisted index answers the same verbs (recover, delete, maintain,
  * describe) the same way, whatever its sides. Fixtures: the sf0.001
  * embeddings (the six vector rungs) and documents (the text rung).
  */
class IndexRungSpec extends AnyFunSuite {
  import TestSpark._
  import graft.operators._

  /** One rung under test: `corpus` is the (id, payload) fixture frame,
    * `id` its id column, `probe` serves k=10 neighbours per probe row.
    * `deferred` is false for IVF, whose due reclaim runs inline. */
  final case class Rung(name: String, rung: IndexRung, id: String,
      corpus: () => DataFrame, build: String => Unit,
      probe: (DataFrame, String) => DataFrame, deferred: Boolean = true)

  private def vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding")
  private def docs = Tables.documents(spark, sf).select("doc_id", "text")

  private val rungs = Seq(
    Rung("IVF", Similarity, "vec_id", () => vecs,
      Similarity.buildIvfIndex(spark, sf, 16, _),
      (q, p) => Similarity.probeIvfIndexWith(spark, q, p, 4, 10), deferred = false),
    Rung("SQ8", SQ8, "vec_id", () => vecs,
      SQ8.buildSq8Index(spark, sf, _),
      (q, p) => SQ8.probeSq8IndexWith(spark, q, p, 10)),
    Rung("IvfSq8", IvfSq8, "vec_id", () => vecs,
      IvfSq8.buildIvfSq8Index(spark, sf, 16, _),
      (q, p) => IvfSq8.probeIvfSq8IndexWith(spark, q, p, 4, 10)),
    Rung("PQ", PQ, "vec_id", () => vecs,
      PQ.buildPqIndex(spark, sf, _),
      (q, p) => PQ.probePqIndexWith(spark, q, p, 4, 10)),
    Rung("BinarySig", BinarySig, "vec_id", () => vecs,
      BinarySig.buildBinIndex(spark, sf, _),
      (q, p) => BinarySig.probeBinIndexWith(spark, q, p, 10)),
    Rung("Matryoshka", Matryoshka, "vec_id", () => vecs,
      Matryoshka.buildMatryoshkaIndex(spark, sf, 16, _),
      (q, p) => Matryoshka.probeMatryoshkaIndexWith(spark, q, p, 10)),
    Rung("TextIndex", TextIndex, "doc_id", () => docs,
      TextIndex.buildTextIndex(spark, sf, _),
      (q, p) => TextIndex.probeTextIndexWith(spark, q, p, 10)))

  /** A private copy of the rung's once-per-session build. */
  private def fresh(r: Rung): String =
    IndexMemo.mutableCopy(spark, sf, s"rungspec_${r.name}")(r.build)

  private def probes(r: Rung): DataFrame = r.corpus().filter(col(r.id) < 10)

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

  rungs.foreach { r =>
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
  }
}
