package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parity pins for the native coarse assignment's two payload routes
  * (Similarity.nativeAssignBlocked): the BROADCAST route (round 17 —
  * forced here by shrinking blockCells below the table size) must be
  * row-for-row identical to BOTH the plan-baked literal expression and
  * the declarative join+window argmax — including on planted exact
  * ties between distant cent_ids, which must resolve to the LOWEST
  * cent_id exactly like the window form's `ORDER BY cscore DESC,
  * cent_id ASC`. The end-to-end semantics are already oracle-gated
  * (the qn10 family, qn39/qn40); this spec isolates the route dispatch
  * so a future edit can't hide behind fixtures whose centroid tables
  * fit the literal route.
  */
class BlockedArgmaxSpec extends AnyFunSuite {
  import TestSpark._
  import graft.operators.Similarity

  private val dim = 8

  /** A deterministic corpus of `n` float vectors with ids 0..n-1. */
  private def corpus(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(dim)(d =>
        (math.sin(0.37 * i + 1.31 * d) + 0.001 * ((i * 31 + d * 7) % 13)).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"),
        graft.functions.VectorExprs.l2normNative(
          col("embedding").cast("array<float>")).as("nrm"))
  }

  /** A centroid table of `k` cells drawn from the corpus shape, with
    * cent_ids spread non-contiguously (stride 3) so block boundaries
    * never coincide with id arithmetic. */
  private def cents(k: Int) = {
    import spark.implicits._
    (0 until k).map { j =>
      (j.toLong * 3, Array.tabulate(dim)(d =>
        (math.sin(0.37 * (j * 5) + 1.31 * d)).toFloat).toSeq)
    }.toDF("cent_id", "ce")
      .select(col("cent_id"), col("ce").cast("array<float>").as("ce"),
        graft.functions.VectorExprs.l2normNative(
          col("ce").cast("array<float>")).as("cn"))
  }

  private def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select("vec_id", "cent_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("forced broadcast-route assignment == literal native == join+window argmax") {
    val v = corpus(400)
    val c = cents(23) // 23 cells, blockCells=5 -> 5 blocks, last one ragged
    val windowed = asMap(Similarity.ivfAssigned(v, c, Seq("vec_id")))
    val single = asMap(Similarity.nativeAssignBlocked(v, c, Seq("vec_id")))
    val blocked = asMap(Similarity.nativeAssignBlocked(v, c, Seq("vec_id"), blockCells = 5))
    assert(single == windowed, "literal native diverged from the window form")
    assert(blocked == windowed, "broadcast native diverged from the window form")
  }

  test("distant exact tie resolves to the lowest cent_id (the window form's rule)") {
    import spark.implicits._
    // Two IDENTICAL centroids, ids 2 and 40 — blockCells=3 forces the
    // broadcast route — plus decoys the probe scores strictly lower
    // against.
    val dup = Array.tabulate(dim)(d => math.cos(0.21 * d).toFloat).toSeq
    val far = Array.tabulate(dim)(d => -math.cos(0.21 * d).toFloat).toSeq
    val rows = Seq((2L, dup), (40L, dup)) ++
      (0 until 8).map(j => ((j * 5 + 3).toLong, far))
    val c = rows.toDF("cent_id", "ce")
      .select(col("cent_id"), col("ce").cast("array<float>").as("ce"),
        graft.functions.VectorExprs.l2normNative(
          col("ce").cast("array<float>")).as("cn"))
    val v = Seq((0L, dup)).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"),
        graft.functions.VectorExprs.l2normNative(
          col("embedding").cast("array<float>")).as("nrm"))
    val blocked = asMap(Similarity.nativeAssignBlocked(v, c, Seq("vec_id"), blockCells = 3))
    val windowed = asMap(Similarity.ivfAssigned(v, c, Seq("vec_id")))
    assert(windowed(0L) == 2L, s"window form picked ${windowed(0L)} — fixture broken")
    assert(blocked(0L) == 2L, s"broadcast-route tie resolved to ${blocked(0L)}, not the lowest cent_id")
  }

  test("broadcast route at a 1000-cell table == window argmax, including a planted distant tie") {
    // 1000 cells at forced blockCells=4 exercises the broadcast route
    // on a table 250x the dispatch threshold — far beyond what any
    // fixture-sized table would exercise by accident.
    val v = corpus(300)
    val c = cents(1000) // blockCells=4 -> broadcast route
    val windowed = asMap(Similarity.ivfAssigned(v, c, Seq("vec_id")))
    val blocked = asMap(Similarity.nativeAssignBlocked(v, c, Seq("vec_id"), blockCells = 4))
    assert(blocked == windowed, "broadcast route diverged from the window form")
    // Tie between distant cent_ids under the broadcast route: a
    // duplicate centroid planted at a HIGH cent_id must lose to the
    // low one.
    import spark.implicits._
    val dup = Array.tabulate(dim)(d => math.cos(0.21 * d).toFloat).toSeq
    val far = Array.tabulate(dim)(d => -math.cos(0.21 * d).toFloat).toSeq
    val rows = Seq((2L, dup), (900L, dup)) ++
      (0 until 400).map(j => ((j * 2 + 3).toLong, far))
    val ct = rows.toDF("cent_id", "ce")
      .select(col("cent_id"), col("ce").cast("array<float>").as("ce"),
        graft.functions.VectorExprs.l2normNative(
          col("ce").cast("array<float>")).as("cn"))
    val probe = Seq((0L, dup)).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"),
        graft.functions.VectorExprs.l2normNative(
          col("embedding").cast("array<float>")).as("nrm"))
    val tied = asMap(Similarity.nativeAssignBlocked(probe, ct, Seq("vec_id"), blockCells = 4))
    assert(tied(0L) == 2L, s"broadcast-route tie resolved to ${tied(0L)}, not the lowest cent_id")
  }

  test("route dispatch boundary: exactly-at-threshold stays literal, below it goes broadcast") {
    // 7 cells with blockCells=7 is exactly the literal route (the
    // degenerate boundary); blockCells=2 forces broadcast on the same
    // table — both must match the window form.
    val v = corpus(100)
    val c = cents(7)
    val one = asMap(Similarity.nativeAssignBlocked(v, c, Seq("vec_id"), blockCells = 7))
    val many = asMap(Similarity.nativeAssignBlocked(v, c, Seq("vec_id"), blockCells = 2))
    val windowed = asMap(Similarity.ivfAssigned(v, c, Seq("vec_id")))
    assert(one == windowed && many == windowed)
  }

  test("broadcast-route payloads are tracked per session and release destroys them") {
    import graft.operators.Similarity
    Similarity.releaseAssignBroadcasts(spark) // clean slate
    val v = corpus(50)
    val c = cents(12)
    val before = Similarity.trackedAssignBcastCount(spark)
    // Force the broadcast route (blockCells below the table size) and
    // MATERIALIZE the plan — the registry must hold the payload.
    Similarity.nativeAssignBlocked(v, c, Seq("vec_id"), blockCells = 4).collect()
    assert(Similarity.trackedAssignBcastCount(spark) == before + 1,
      "broadcast-route payload was not tracked")
    // Release at a safe point (plan materialized and discarded):
    // registry empties; the next build re-broadcasts cleanly.
    Similarity.releaseAssignBroadcasts(spark)
    assert(Similarity.trackedAssignBcastCount(spark) == 0, "release left tracked payloads")
    val again = Similarity.nativeAssignBlocked(v, c, Seq("vec_id"), blockCells = 4).collect()
    assert(again.length == 50, "assignment broken after release")
    Similarity.releaseAssignBroadcasts(spark)
  }

}
