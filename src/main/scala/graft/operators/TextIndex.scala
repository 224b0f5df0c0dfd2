package graft.operators

import graft.{Concurrently, Tables}
import graft.functions.TextFns._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted inverted (keyword) index — qn65's BM25-shaped keyword
  * tier given the vector family's index lifecycle (the qn38b/qn34b
  * argument, text edition: the in-flight tier re-tokenizes and
  * re-aggregates the WHOLE corpus per query; a 100 TB corpus
  * tokenizes ONCE and a probe reads only its query terms' postings).
  *
  * Three swappable sides under the [[IndexSwap]] versioned commit:
  *
  *  - `$path/postings`: the HOT side — (term, doc_id, tf), sorted and
  *    range-partitioned BY TERM so a probe's term predicate prunes to
  *    the matched terms' row groups (the vec_id point-read discipline,
  *    keyed by term). The per-term document frequency is NOT stored:
  *    df(t) = COUNT(*) over t's postings, computed from the rows the
  *    probe reads anyway — a stored df would go stale under appends,
  *    this one cannot.
  *  - `$path/doclen`: (doc_id, dl) token counts, sorted by doc_id.
  *  - `$path/stats`: ADDITIVE delta rows (n_docs, n_tokens) — readers
  *    SUM them, so an append writes one delta row instead of
  *    rewriting a singleton (the O(new) append contract; the corpus
  *    totals N and T every score needs are two cheap sums).
  *
  * Scoring replays qn65's integer BM25 contract bit-for-bit (k1=1.2 /
  * b=0.75 scaled integral, ratio idf, no float log), so a fresh build
  * probed through [[probeTextIndex]] hash-matches the in-flight
  * oracle (the qn69 driver gate), and the persisted hybrid
  * composition hash-matches qn65's full fused oracle (qn70).
  *
  * Lifecycle verbs follow the family discipline: [[appendToTextIndex]]
  * is O(new) (postings/doclen append + one stats delta; appended
  * doc_ids must be fresh — the permanent-identity contract),
  * [[delete]] tombstones doc_ids for immediate candidate
  * exclusion (df and the N/T stats stay the stored corpus's — the
  * index-predates-the-delete semantics every rung shares),
  * [[probeTextIndexWith]] takes the `allowed` frame, and
  * [[rebalance]] rebuilds from the lake minus tombstones
  * under the crash-safe staged swap. [[describe]] is the
  * footer-walk DESCRIBE verb.
  */
object TextIndex extends IndexRung {

  /** The index's swappable sides (the [[IndexSwap]] protocol). */
  val sides: Seq[String] = Seq("postings", "doclen", "stats")

  /** Live rows: the doclen side's footer count (one row per indexed
    * document that has tokens). */
  protected def liveRows(s: SparkSession, root: String): Long =
    Similarity.parquetRowCount(s, IndexSwap.sideAt(root, "doclen"))

  /** Tombstones key by doc_id: [[delete]] takes a (doc_id, ...) frame. */
  override protected def idCol: String = "doc_id"

  /** Tokenized (doc_id, term) pairs of a (doc_id, text) corpus. */
  private def tokensOf(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"), explode(tokens(col("text"))).as("term"))

  /** Stage all three sides (shared by build and rebalance — one
    * definition of the layout). */
  private def stageSides(s: SparkSession, path: String,
      corpus: DataFrame): Unit = {
    val tk = tokensOf(corpus).localCheckpoint(true) // feeds all three sides
    // Independent staging writes overlapped (round 18, guide §2.6).
    Concurrently.run(Seq(
      () => tk.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .repartitionByRange(col("term")).sortWithinPartitions("term")
        .write.mode("overwrite").parquet(IndexSwap.tmp(path, "postings").toString),
      () => tk.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        .repartitionByRange(col("doc_id")).sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(IndexSwap.tmp(path, "doclen").toString),
      () => {
        val (nDocs, nTokens) = corpusStats(corpus)
        statsDelta(s, nDocs, nTokens).write.mode("overwrite")
          .parquet(IndexSwap.tmp(path, "stats").toString)
      }))
  }

  /** (n_docs, n_tokens) of a corpus in ONE pass/job (optimization round
    * 17: the doc count and the token count each ran their own action —
    * two scans where one agg answers both). sum(size(tokens)) counts
    * exactly what exploding `tokensOf` yields: explode drops empty
    * arrays and NULLs. greatest(., 0) makes the NULL-text accounting
    * conf-independent (round-17 ADVICE): under ANSI size(NULL) is NULL
    * (sum skips it), but legacy sizeOfNull returns -1, which would
    * silently skew the BM25 corpus total — greatest clamps both to 0. */
  private def corpusStats(corpus: DataFrame): (Long, Long) = {
    val r = corpus.agg(count(lit(1)).as("n"),
      coalesce(sum(greatest(size(tokens(col("text"))), lit(0))), lit(0L)).as("t")).head()
    (r.getLong(0), r.getLong(1))
  }

  private def statsDelta(s: SparkSession, nDocs: Long, nTokens: Long): DataFrame = {
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(org.apache.spark.sql.Row(nDocs, nTokens))
    s.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_docs",
        org.apache.spark.sql.types.LongType, false),
      org.apache.spark.sql.types.StructField("n_tokens",
        org.apache.spark.sql.types.LongType, false))))
  }

  /** Build from the corpus at `dir` — staged writes, atomic commit. */
  def buildTextIndex(s: SparkSession, dir: String, path: String): Unit =
    buildTextIndexFrom(s,
      Tables.documents(s, dir).select("doc_id", "text"), path)

  /** Build from an arbitrary (doc_id, text) corpus frame. */
  def buildTextIndexFrom(s: SparkSession, corpus: DataFrame,
      path: String): Unit = {
    recover(s, path)
    stageSides(s, path, corpus)
    IndexSwap.commit(s, path, sides)
  }

  /** Append NEW documents: O(new) — postings/doclen rows for the new
    * docs plus ONE stats delta row; nothing existing is read or
    * rewritten. doc_ids are permanent identities (the family
    * contract): re-appending a live or tombstoned id is a caller
    * error that would double-count df. */
  def appendToTextIndex(s: SparkSession, newDocs: DataFrame,
      path: String, autoCompact: Option[Int] = None): Unit = {
    recover(s, path)
    val root = IndexSwap.liveRoot(s, path)
    val tk = tokensOf(newDocs).localCheckpoint(true)
    tk.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .repartitionByRange(col("term")).sortWithinPartitions("term")
      .write.mode("append").parquet(IndexSwap.sideAt(root, "postings"))
    tk.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      .repartitionByRange(col("doc_id")).sortWithinPartitions("doc_id")
      .write.mode("append").parquet(IndexSwap.sideAt(root, "doclen"))
    val (nNew, tNew) = corpusStats(newDocs)
    statsDelta(s, nNew, tNew).write.mode("append")
      .parquet(IndexSwap.sideAt(root, "stats"))
    // Measured fragmentation trigger (the BinarySig/Matryoshka
    // pattern): appends fragment the term-sorted point-read layout —
    // past the file-count threshold the deferred marker drops and the
    // append returns at append cost; [[maintain]] pays.
    autoCompact.foreach { maxFiles =>
      val files = graft.sources.LakeListing.dataFiles(
        s.sessionState.newHadoopConf(),
        new org.apache.hadoop.fs.Path(IndexSwap.sideAt(root, "postings"))).size
      if (files > maxFiles) markRebalanceDue(s, path)
    }
  }

  /** [[delete]] under the name existing callers use: doc_id tombstones,
    * immediate candidate exclusion; df and the corpus stats stay the
    * stored index's until [[rebalance]] physically reclaims. */
  def deleteFromTextIndex(s: SparkSession, ids: DataFrame,
      path: String): Unit =
    delete(s, ids, path)

  /** Rebuild from the STORED sides minus tombstones — the physical
    * reclaim + compaction (appends fragment the term-sorted layout).
    * Postings and doclen re-sort from their own lakes; the corpus
    * totals SUBTRACT the tombstoned debt from the stored stats
    * (n_docs − distinct tombstoned ids, n_tokens − their doclen sum)
    * rather than re-deriving from postings — a token-less doc (NULL /
    * empty text) has no postings row but IS a corpus row, so a
    * re-derivation would silently shrink N on every rebuild (round-17
    * review). Exact fixpoint vs a fresh build over the survivors,
    * PROVIDED tombstoned ids were indexed docs (the family's
    * permanent-identity contract — deleting a never-indexed id is a
    * caller error here exactly as re-appending one is). */
  def rebalance(s: SparkSession, path: String): Unit = {
    recover(s, path)
    val root = IndexSwap.liveRoot(s, path)
    def minusTombs(side: String): DataFrame =
      IndexSwap.exceptTombstones(s, root,
        s.read.parquet(IndexSwap.sideAt(root, side))
          .withColumnRenamed("doc_id", "vec_id"))
        .withColumnRenamed("vec_id", "doc_id")
    minusTombs("postings")
      .repartitionByRange(col("term")).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(IndexSwap.tmp(path, "postings").toString)
    val dlLive = minusTombs("doclen").localCheckpoint(true)
    dlLive.repartitionByRange(col("doc_id")).sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(IndexSwap.tmp(path, "doclen").toString)
    val stored = s.read.parquet(IndexSwap.sideAt(root, "stats"))
      .agg(sum(col("n_docs")).as("n"), sum(col("n_tokens")).as("t")).head()
    val dead = IndexSwap.tombstonesAt(s, root) match {
      case None => (0L, 0L)
      case Some(tombs) =>
        val deadTokens = s.read.parquet(IndexSwap.sideAt(root, "doclen"))
          .join(tombs.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"), "left_semi")
          .agg(coalesce(sum(col("dl")), lit(0L))).head().getLong(0)
        (tombs.count(), deadTokens)
    }
    statsDelta(s, stored.getLong(0) - dead._1, stored.getLong(1) - dead._2)
      .write.mode("overwrite").parquet(IndexSwap.tmp(path, "stats").toString)
    IndexSwap.commit(s, path, sides)
  }

  /** Probe with the declared fixture query set (doc_id < 5) — the
    * qn69 driver gate's entry. */
  def probeTextIndex(s: SparkSession, dir: String, path: String,
      k: Int): DataFrame =
    probeTextIndexWith(s,
      Tables.documents(s, dir).filter(col("doc_id") < 5)
        .select("doc_id", "text"),
      path, k)

  /** BM25 top-k for a QUERY BATCH from the stored artifacts: tokenize
    * the queries driver-side (bounded), prune the postings scan to the
    * query terms (isin up to the dispatch bound — against the
    * term-sorted layout that is a row-group point-read — BETWEEN's
    * string-range analogue buys nothing for terms, so past the bound
    * the scan degrades to a semi-join), derive df from the matched
    * postings, score with qn65's integer BM25 contract, window top-k.
    * Tombstones anti-join and `allowed` semi-joins the CANDIDATES
    * before the window; df/N/T stay the stored corpus's (the
    * index-predates-the-verb semantics). */
  def probeTextIndexWith(s: SparkSession, queries: DataFrame, path: String,
      k: Int, allowed: Option[DataFrame] = None): DataFrame = {
    val root = IndexSwap.liveRoot(s, path) // ONE resolution per call
    val stats = s.read.parquet(IndexSwap.sideAt(root, "stats"))
      .agg(sum(col("n_docs")).as("n"), sum(col("n_tokens")).as("t")).head()
    probeTextResolved(s, queries, root, stats.getLong(0), stats.getLong(1),
      k, allowed)
  }

  /** The probe pipeline against a PINNED root and already-summed
    * corpus totals — shared by the per-call entry (reads them fresh)
    * and [[TextIndexHandle.probeWith]] (cached). */
  private def probeTextResolved(s: SparkSession, queries: DataFrame,
      root: String, n: Long, t: Long, k: Int,
      allowed: Option[DataFrame]): DataFrame = {
    val qRows = queries.select(col("doc_id"), col("text"))
      .limit(PQ.maxProbeBatch + 1).collect()
    require(qRows.length <= PQ.maxProbeBatch,
      s"probeTextIndexWith: query batch exceeds ${PQ.maxProbeBatch} rows — " +
        "keyword probing is for query BATCHES; a corpus-sized query set is " +
        "a self-join over the postings lake, not an index probe")
    // Query terms, tokenized driver-side with the SAME split rule as
    // the build (one definition would be ideal, but the build's rule
    // is Spark's split(trim, \s+) — replicated here verbatim and
    // pinned by the qn69 hash gate, which breaks if they diverge).
    val qt = qRows.flatMap { r =>
      // NULL text contributes no query terms (explode-of-null parity
      // with the in-flight tier — the qid simply has no keyword
      // candidates); Spark's trim strips ASCII SPACE ONLY, so the
      // driver replica must too (Java String.trim also eats tabs/
      // newlines <= U+0020 — a tab-leading text would then drop the
      // "" posting the build stored, silently shifting scores). No
      // nonEmpty filter: split emits [""] for an all-space text and
      // the build stores that "" posting — exact parity, not
      // cleanliness.
      if (r.isNullAt(1)) Seq.empty[org.apache.spark.sql.Row]
      else {
        val sparkTrimmed = r.getString(1)
          .dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
        sparkTrimmed.split("\\s+", -1).distinct
          .map(t => org.apache.spark.sql.Row(r.getLong(0), t)).toSeq
      }
    }
    val qtDf = s.createDataFrame(java.util.Arrays.asList(qt: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("qid",
          org.apache.spark.sql.types.LongType, false),
        org.apache.spark.sql.types.StructField("term",
          org.apache.spark.sql.types.StringType, false))))
    val terms = qt.map(_.getString(1)).distinct.toSeq
    val termPush =
      if (terms.isEmpty) lit(false)
      else if (terms.length <= isinMaxTerms(s)) col("term").isin(terms: _*)
      else lit(true) // over the bound: the semi-join below still prunes rows
    val matched = s.read.parquet(IndexSwap.sideAt(root, "postings"))
      .filter(termPush)
      .join(broadcast(qtDf.select(col("term")).distinct()), Seq("term"), "left_semi")
      .localCheckpoint(true) // ONE postings read feeds df AND candidates
    // df from the FULL matched postings (before qid-exclusion,
    // tombstones, or the allowed filter — qn65's df is corpus-wide).
    val dfT = matched.groupBy("term").agg(count(lit(1)).as("df"))
    val cand0 = matched.join(broadcast(qtDf), Seq("term"))
      .filter(col("doc_id") =!= col("qid"))
      .withColumnRenamed("doc_id", "vec_id")
    val cand = allowed.foldLeft(IndexSwap.exceptTombstones(s, root, cand0)) {
      (c, a) => c.join(a.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
    }.withColumnRenamed("vec_id", "doc_id")
    val scored = cand
      .join(dfT.hint("SHUFFLE_HASH"), "term")
      .join(s.read.parquet(IndexSwap.sideAt(root, "doclen")), "doc_id")
      .withColumn("contrib", expr(
        s"(22 * tf * ((${n}L * 1000000L) div df)) div (10 * tf + 3 + (9 * dl * ${n}L) div ${t}L)"))
      .groupBy("qid", "doc_id").agg(sum(col("contrib")).as("kws"))
    val w = Window.partitionBy(col("qid")).orderBy(col("kws").desc, col("doc_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("doc_id"),
        col("kws"))
      .orderBy("qid", "rnk")
  }

  /** Postings-scan term-pushdown dispatch bound (the isinMaxIds
    * discipline, term edition). */
  private def isinMaxTerms(s: SparkSession): Int =
    s.conf.getOption("spark.graft.text.isinMaxTerms").map(_.toInt).getOrElse(10000)

  /** Serve-session handle — the family discipline
    * ([[SQ8.Sq8IndexHandle]]): pins a version root and the summed
    * corpus totals (N, T), so a handle probe pays zero reads outside
    * the pruned postings scan and the doclen join. CAVEAT the vector
    * rungs don't have: N/T change on APPEND too (not just rebuild),
    * and an append does not bump the version — a long-lived handle
    * serving across appends scores against slightly stale totals
    * until the next rebuild commits (bounded staleness, same class as
    * the documented stale-df-free design; re-open to refresh sooner).
    * Refresh contract: [[IndexSwap.refreshHandle]]. */
  final case class TextIndexHandle private[operators] (path: String,
      version: Long, root: String, n: Long, t: Long) {
    private val current =
      new java.util.concurrent.atomic.AtomicReference[TextIndexHandle](this)
    /** The version the handle currently serves from. */
    def currentVersion: Long = current.get().version
    /** BM25 top-k through the cached totals (bit-identical to the
      * per-call entry at equal totals — TextIndexSpec pins it). */
    def probeWith(s: SparkSession, queries: DataFrame, k: Int,
        allowed: Option[DataFrame] = None): DataFrame = {
      val h = IndexSwap.refreshHandle(s, path, current,
        (_: TextIndexHandle).version, () => openTextIndex(s, path))
      probeTextResolved(s, queries, h.root, h.n, h.t, k, allowed)
    }
  }

  /** Open a serve-session handle: resolve the version once, sum the
    * stats deltas once. */
  def openTextIndex(s: SparkSession, path: String): TextIndexHandle = {
    val version = IndexSwap.liveVersion(s, path)
    val root = IndexSwap.rootAt(path, version)
    val stats = s.read.parquet(IndexSwap.sideAt(root, "stats"))
      .agg(sum(col("n_docs")).as("n"), sum(col("n_tokens")).as("t")).head()
    TextIndexHandle(path, version, root, stats.getLong(0), stats.getLong(1))
  }
}
