package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The session-scoped pristine-index memo behind the lifecycle gates
  * (optimization round: one deterministic build per family per session;
  * mutating gates get a private file-level copy). What must hold:
  * identity for read-only consumers, isolation for mutating ones, and
  * serve-parity between a memoized tree and a fresh build.
  */
class IndexMemoSpec extends AnyFunSuite {
  import TestSpark._
  import graft.operators.{IndexMemo, SQ8}

  test("pristine returns ONE path per (dir, tag) and its probe matches a fresh build") {
    var builds = 0
    val p1 = IndexMemo.pristine(spark, sf, "spec_sq8") { p =>
      builds += 1; SQ8.buildSq8Index(spark, sf, p)
    }
    val p2 = IndexMemo.pristine(spark, sf, "spec_sq8") { p =>
      builds += 1; SQ8.buildSq8Index(spark, sf, p)
    }
    assert(p1 == p2, "memo returned different paths for one key")
    assert(builds == 1, s"build ran $builds times for one key")
    val fresh = graft.operators.Similarity.newIndexDir()
    SQ8.buildSq8Index(spark, sf, fresh)
    val viaMemo = SQ8.probeSq8Index(spark, sf, p1, 5).collect().map(_.toString).toSeq
    val viaFresh = SQ8.probeSq8Index(spark, sf, fresh, 5).collect().map(_.toString).toSeq
    assert(viaMemo == viaFresh, "memoized index serves differently from a fresh build")
  }

  test("mutableCopy isolates mutation: a delete in the copy never leaks into the pristine tree") {
    val pristine = IndexMemo.pristine(spark, sf, "spec_sq8_mut")(SQ8.buildSq8Index(spark, sf, _))
    val before = SQ8.probeSq8Index(spark, sf, pristine, 5).collect().map(_.toString).toSeq
    val copy = IndexMemo.mutableCopy(spark, sf, "spec_sq8_mut")(SQ8.buildSq8Index(spark, sf, _))
    assert(copy != pristine, "mutableCopy handed back the shared tree")
    SQ8.delete(spark,
      Tables.embeddings(spark, sf).filter(col("vec_id") % 7 === 0).select("vec_id"), copy)
    // The copy sees the tombstones; the pristine tree must not.
    val copyRows = SQ8.probeSq8Index(spark, sf, copy, 5)
      .filter(col("vec_id") % 7 === 0).count()
    assert(copyRows == 0, "delete did not bind in the private copy")
    val after = SQ8.probeSq8Index(spark, sf, pristine, 5).collect().map(_.toString).toSeq
    assert(after == before, "mutation leaked into the pristine memoized tree")
  }

  test("clear evicts this session's entries and deletes the trees") {
    val p = IndexMemo.pristine(spark, sf, "spec_sq8_clear")(SQ8.buildSq8Index(spark, sf, _))
    assert(new java.io.File(p).exists)
    assert(IndexMemo.size(spark) >= 1)
    IndexMemo.clear(spark)
    assert(IndexMemo.size(spark) == 0, "clear left entries behind")
    assert(!new java.io.File(p).exists, "clear left the tree on disk")
    // Post-clear rebuild works (fresh dir, fresh build).
    val p2 = IndexMemo.pristine(spark, sf, "spec_sq8_clear")(SQ8.buildSq8Index(spark, sf, _))
    assert(p2 != p && new java.io.File(p2).exists)
    IndexMemo.clear(spark)
  }
}
