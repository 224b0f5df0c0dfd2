package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted inverted index's lifecycle beyond the qn69/qn70 hash
  * gates: O(new) appends that keep BM25 parity with a fresh build,
  * tombstone deletes with immediate exclusion and physical reclaim,
  * the allowed-frame filter, rebuild-as-fixpoint, and DESCRIBE.
  */
class TextIndexSpec extends AnyFunSuite {
  import TestSpark._
  import graft.operators.TextIndex

  private def probeRows(path: String, k: Int = 10) =
    TextIndex.probeTextIndex(spark, sf, path, k).collect().map(_.toString).toSeq

  test("append is O(new) and BM25-identical to a fresh build over the same corpus") {
    val half = Tables.documents(spark, sf).filter(col("doc_id") % 2 === 0)
      .select("doc_id", "text")
    val rest = Tables.documents(spark, sf).filter(col("doc_id") % 2 === 1)
      .select("doc_id", "text")
    val grown = graft.operators.Similarity.newIndexDir()
    TextIndex.buildTextIndexFrom(spark, half, grown)
    val postingsBefore = spark.read
      .parquet(graft.operators.IndexSwap.side(spark, grown, "postings"))
      .collect().map(_.toString).sorted.toSeq
    TextIndex.appendToTextIndex(spark, rest, grown)
    // O(new): the pre-append postings are untouched (append-only side).
    val postingsAfter = spark.read
      .parquet(graft.operators.IndexSwap.side(spark, grown, "postings"))
      .collect().map(_.toString).sorted.toSeq
    assert(postingsBefore.forall(postingsAfter.contains),
      "append rewrote or dropped existing postings")
    // Parity: N/T/df/dl all see the grown corpus exactly.
    val fresh = graft.operators.Similarity.newIndexDir()
    TextIndex.buildTextIndex(spark, sf, fresh)
    assert(probeRows(grown) == probeRows(fresh),
      "appended index diverged from a fresh build over the same corpus")
  }

  test("delete excludes candidates immediately; the rebuild reclaims physically and is a fixpoint") {
    val path = graft.operators.Similarity.newIndexDir()
    TextIndex.buildTextIndex(spark, sf, path)
    val base = probeRows(path)
    TextIndex.delete(spark,
      Tables.documents(spark, sf).filter(col("doc_id") % 7 === 0).select("doc_id"),
      path)
    val afterDelete = TextIndex.probeTextIndex(spark, sf, path, 10).collect()
    assert(afterDelete.forall(_.getLong(2) % 7 != 0), "a tombstoned doc surfaced")
    assert(base.exists(r => afterDelete.forall(_.toString != r)),
      "fixture degenerate: the delete changed nothing")
    // Physical reclaim: the rebuild drops tombstoned postings and
    // RE-STATS df/N/T over the surviving corpus (the SQ8 re-stat
    // semantics — before reclaim the index predates the delete, after
    // it the index IS the shrunken corpus's), so the fixpoint to pin
    // is equality with a FRESH build over the surviving docs.
    TextIndex.rebalance(spark, path)
    val root = graft.operators.IndexSwap.liveRoot(spark, path)
    assert(spark.read.parquet(s"$root/postings")
      .filter(col("doc_id") % 7 === 0).count() == 0, "reclaim left tombstoned postings")
    val fresh = graft.operators.Similarity.newIndexDir()
    TextIndex.buildTextIndexFrom(spark,
      Tables.documents(spark, sf).filter(col("doc_id") % 7 =!= 0)
        .select("doc_id", "text"),
      fresh)
    assert(probeRows(path) == probeRows(fresh),
      "reclaimed index diverged from a fresh build over the surviving docs")
  }

  test("filtered search: the allowed frame binds before the top-k window") {
    val path = graft.operators.Similarity.newIndexDir()
    TextIndex.buildTextIndex(spark, sf, path)
    val en = Tables.documents(spark, sf).filter(col("lang") === "en").select("doc_id")
    val res = TextIndex.probeTextIndexWith(spark,
      Tables.documents(spark, sf).filter(col("doc_id") < 5).select("doc_id", "text"),
      path, 10, allowed = Some(en)).collect()
    val enIds = en.collect().map(_.getLong(0)).toSet
    assert(res.nonEmpty && res.forall(r => enIds.contains(r.getLong(2))),
      "a disallowed doc surfaced")
    assert(!TextIndex.probeTextIndex(spark, sf, path, 10).collect()
        .forall(r => enIds.contains(r.getLong(2))),
      "fixture degenerate: the unfiltered top-k is already all-English")
  }

  test("serve handle: probe matches the per-call entry bit-exactly and re-opens after a rebuild") {
    val path = graft.operators.Similarity.newIndexDir()
    TextIndex.buildTextIndex(spark, sf, path)
    val queries = Tables.documents(spark, sf).filter(col("doc_id") < 5)
      .select("doc_id", "text")
    val handle = TextIndex.open(spark, path)
    assert(TextIndex.probeWith(spark, handle, queries, 10).collect().map(_.toString).toSeq ==
      probeRows(path), "handle probe diverged from the per-call entry")
    TextIndex.rebalance(spark, path)
    assert(TextIndex.probeWith(spark, handle, queries, 10).collect().map(_.toString).toSeq ==
      probeRows(path), "stale handle did not re-open on the new version")
    assert(handle.currentVersion == graft.operators.IndexSwap.liveVersion(spark, path),
      "re-open was discarded instead of cached")
  }

  test("streaming document ingest maintains the index: foreachBatch O(new) appends, compaction fires mid-stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.hadoop.fs.Path
    val path = graft.operators.Similarity.newIndexDir()
    TextIndex.buildTextIndex(spark, sf, path)
    def postFiles: Int = graft.sources.LakeListing.dataFiles(
      spark.sessionState.newHadoopConf(),
      new Path(graft.operators.IndexSwap.side(spark, path, "postings"))).size
    val threshold = postFiles + 3
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          TextIndex.appendToTextIndex(b.sparkSession, b, path,
            autoCompact = Some(threshold))
          TextIndex.maintain(b.sparkSession, path): Unit
      }.start()
    val verBefore = graft.operators.IndexSwap.liveVersion(spark, path)
    try {
      val rows = Tables.documents(spark, sf).filter(col("doc_id") < 40)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      rows.grouped(8).foreach { batch => ms.addData(batch.toSeq); q.processAllAvailable() }
    } finally q.stop()
    assert(graft.operators.IndexSwap.liveVersion(spark, path) > verBefore,
      "compaction never fired in-stream")
    assert(postFiles <= threshold + 1, s"stream left the layout fragmented: $postFiles files")
    // The streamed index equals a fresh build over the grown corpus.
    val grownCorpus = Tables.documents(spark, sf).select("doc_id", "text").union(
      Tables.documents(spark, sf).filter(col("doc_id") < 40)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
    val fresh = graft.operators.Similarity.newIndexDir()
    TextIndex.buildTextIndexFrom(spark, grownCorpus, fresh)
    assert(probeRows(path) == probeRows(fresh),
      "streamed index diverged from a fresh build over the grown corpus")
  }

  test("edge corpus: tab-leading text keeps its empty-string posting, null text neither crashes nor counts wrong") {
    import spark.implicits._
    // Doc 2 shares ONLY the "" term with the query below (Spark trim
    // strips spaces, not tabs, so "\tc d" tokenizes to ["", c, d] and
    // "\ta" to ["", a]) — it surfaces iff the driver-side query
    // tokenizer replicates Spark's space-only trim (round-17 review:
    // Java String.trim eats the tab and silently drops the "" term).
    val corpus = Seq((1L, "a b"), (2L, "\tc d"),
      (4L, "a c")).toDF("doc_id", "text")
      .union(Seq(3L).toDF("doc_id").select(col("doc_id"),
        lit(null).cast("string").as("text")))
    val path = graft.operators.Similarity.newIndexDir()
    TextIndex.buildTextIndexFrom(spark, corpus, path)
    val queries = Seq((100L, "\ta")).toDF("doc_id", "text")
      .union(Seq(101L).toDF("doc_id").select(col("doc_id"),
        lit(null).cast("string").as("text")))
    val res = TextIndex.probeTextIndexWith(spark, queries, path, 10).collect()
    val hits = res.filter(_.getLong(0) == 100L).map(_.getLong(2)).toSet
    assert(hits == Set(1L, 2L, 4L),
      s"expected the ''-term doc 2 and the 'a' docs 1/4, got $hits")
    assert(!res.exists(_.getLong(0) == 101L), "null-text query produced rows")
    // Rebuild with zero tombstones: stats are a fixpoint even though
    // the null-text doc has no postings (N subtracts tombstone debt,
    // never re-derives from postings).
    val before = res.map(_.toString).toSeq
    TextIndex.rebalance(spark, path)
    val root = graft.operators.IndexSwap.liveRoot(spark, path)
    val st = spark.read.parquet(s"$root/stats")
      .agg(sum(col("n_docs")), sum(col("n_tokens"))).head()
    assert(st.getLong(0) == 4L, s"rebuild shrank N to ${st.getLong(0)} (token-less doc dropped)")
    assert(TextIndex.probeTextIndexWith(spark, queries, path, 10)
      .collect().map(_.toString).toSeq == before, "no-op rebuild changed the probe")
  }

  test("describe reports every side including tombstone debt") {
    val path = graft.operators.Similarity.newIndexDir()
    TextIndex.buildTextIndex(spark, sf, path)
    TextIndex.delete(spark,
      Tables.documents(spark, sf).filter(col("doc_id") % 7 === 0).select("doc_id"),
      path)
    val d = TextIndex.describe(spark, path).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nDocs = Tables.documents(spark, sf).count()
    assert(d("doclen") == nDocs, s"doclen rows ${d("doclen")} != $nDocs docs")
    assert(d("deletes") == Tables.documents(spark, sf)
      .filter(col("doc_id") % 7 === 0).count())
    assert(d.contains("postings") && d.contains("stats"))
  }
}
