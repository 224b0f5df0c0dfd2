package graft.operators

import graft.{Concurrently, Tables}
import graft.functions.TextFns._
import graft.functions.VectorExprs.{dotNative, l2normNative}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted matryoshka (prefix-dimension) index — the qn35/qn48
  * pipeline given the [[BinarySig]]/[[SQ8]] index lifecycle (round-16
  * verdict task 3: qn35/qn48 re-sliced every corpus vector's prefix
  * per query; a 100 TB corpus slices ONCE and the rank scan reads
  * prefix-dim floats per vector — D/prefix× under the full column,
  * 4× at the production 64-of-256 shape).
  *
  * Two swappable sides under the [[IndexSwap]] two-phase protocol:
  *
  *  - `$path/prefix`: the HOT side — (vec_id, pre, pnrm) with `pre`
  *    the first `prefix` dims and `pnrm` their L2 norm, sorted by
  *    vec_id. The rank scan is linear in N by declared construction
  *    (the flat-rung contract binary/SQ8 share); its IO bound is the
  *    prefix column.
  *  - `$path/vectors`: the COLD side — full-precision (vec_id,
  *    embedding, nrm), sorted by vec_id with 1 MB row groups so the
  *    shortlist's vec_id pushdown point-reads the refine rows.
  *
  * The prefix width is a MODEL-DECLARED corpus parameter fixed at
  * build time (MRL-trained embeddings carry their coarse geometry in
  * a declared prefix — 64 of 256, 128 of 768), persisted implicitly
  * as the stored `pre` width and re-read by append/rebalance/probe —
  * nothing re-infers it from data. Like [[BinarySig]] the encoder is
  * otherwise parameter-free (a slice), so there is no frozen-envelope
  * side, appends never saturate, and [[rebalance]]
  * exists for COMPACTION (appends fragment the sorted point-read
  * layout): a deterministic fixpoint under the crash-safe swap, with
  * the measured `autoCompact` file-count trigger deferring through
  * the `_rebalance_due` marker [[maintain]] consumes.
  *
  * A fresh build probed through [[probeMatryoshkaIndexWith]] replays
  * the qn48 oracle bit-exactly (the qn49 driver gate): same e6 prefix
  * cosine with the ppn/pnrm zero-norm guards, same 32-wide shortlist,
  * same exact full-width re-rank, same tie rules.
  */
object Matryoshka extends IndexRung {

  /** The index's swappable sides (the [[IndexSwap]] protocol). */
  val sides: Seq[String] = Seq("prefix", "vectors")

  /** Live rows: the prefix side's footer count. */
  protected def liveRows(s: SparkSession, root: String): Long =
    Similarity.parquetRowCount(s, IndexSwap.sideAt(root, "prefix"))

  /** Prefix-score shortlist width the exact refine re-ranks (the
    * qn35/qn48 contract). */
  private val shortlistWidth = 32

  /** The prefix slice with the loud width/NULL guard (the
    * [[SQ8.q8Col]] discipline, and the [[BinarySig]] stored-dim rule
    * from the round-16 ADVICE fix: encode at the STORED dims so any
    * width mismatch raises instead of silently mis-slicing). */
  private def preGuarded(emb: Column, fullDim: Int, prefix: Int): Column =
    when(size(emb) === fullDim && !exists(emb, x => x.isNull),
        slice(emb, 1, prefix))
      .otherwise(raise_error(concat(
        lit("Matryoshka: embedding width "), size(emb).cast("string"),
        lit(s" != stored dim $fullDim, or NULL element — clean/resize the" +
          " corpus before slicing"))).cast("array<float>"))

  /** Stage both sides into the [[IndexSwap]] tmp siblings (shared by
    * build and rebalance — one definition of the layout). */
  private def stageSides(path: String, v: DataFrame, fullDim: Int,
      prefix: Int): Unit = {
    val pre = preGuarded(col("embedding"), fullDim, prefix)
    // Independent staging writes overlapped (round 18, guide §2.6).
    Concurrently.run(Seq(
      () => v.select(col("vec_id"), pre.as("pre"), l2normNative(pre).as("pnrm"))
        .repartitionByRange(col("vec_id")).sortWithinPartitions("vec_id")
        .write.mode("overwrite").parquet(IndexSwap.tmp(path, "prefix").toString),
      () => v.select(col("vec_id"), col("embedding"), col("nrm"))
        .repartitionByRange(col("vec_id")).sortWithinPartitions("vec_id")
        .write.mode("overwrite").option("parquet.block.size", 1L << 20)
        .parquet(IndexSwap.tmp(path, "vectors").toString)))
  }

  /** Build from the corpus at `dir` with the qn35 fixture prefix. */
  def buildMatryoshkaIndex(s: SparkSession, dir: String, prefix: Int,
      path: String): Unit =
    buildMatryoshkaIndexFrom(s,
      Tables.embeddings(s, dir).select("vec_id", "embedding"), prefix, path)

  /** Build from an arbitrary (vec_id, embedding) corpus frame (the
    * dim-parameterized discipline). The full width is read from one
    * corpus row; `prefix` must be a strict, positive sub-width. */
  def buildMatryoshkaIndexFrom(s: SparkSession, corpus: DataFrame, prefix: Int,
      path: String): Unit = {
    recover(s, path)
    val fullDim = corpus.select(size(col("embedding"))).head().getInt(0)
    require(prefix >= 1 && prefix < fullDim,
      s"Matryoshka: prefix $prefix must be in [1, $fullDim) — a prefix at the" +
        " full width is the exact scan, not an index")
    val v = corpus.select(col("vec_id"), col("embedding"),
      l2normNative(col("embedding")).as("nrm"))
    stageSides(path, v, fullDim, prefix)
    IndexSwap.commit(s, path, sides)
  }

  /** The stored full dimensionality, from one cold-side row. */
  private def storedDim(s: SparkSession, root: String): Int =
    s.read.parquet(IndexSwap.sideAt(root, "vectors"))
      .select(size(col("embedding"))).head().getInt(0)

  /** The stored prefix width, from one hot-side row — the persisted
    * model-declared parameter every later entry re-reads. */
  private def storedPrefix(s: SparkSession, root: String): Int =
    s.read.parquet(IndexSwap.sideAt(root, "prefix"))
      .select(size(col("pre"))).head().getInt(0)

  /** Slice NEW vectors at the STORED prefix and append to both tiers:
    * O(new) work, encoding bit-identical to the build. COLD side first
    * (the crash-window polarity the sibling rungs share: an orphaned
    * cold row is dead bytes no rank scan surfaces; an orphaned PREFIX
    * row would be shortlisted and silently dropped by the refine
    * join). ONE version resolution for both writes and the trigger
    * audit. `autoCompact = Some(maxFiles)` is the measured
    * fragmentation trigger ([[BinarySig.appendToBinIndex]]'s): past it
    * the `_rebalance_due` marker drops and the append returns at
    * append cost. */
  def appendToMatryoshkaIndex(s: SparkSession, newVecs: DataFrame, path: String,
      autoCompact: Option[Int] = None): Unit = {
    recover(s, path)
    val root = IndexSwap.liveRoot(s, path)
    val fullDim = storedDim(s, root)
    val prefix = storedPrefix(s, root)
    val v = newVecs.select(col("vec_id"), col("embedding"),
      l2normNative(col("embedding")).as("nrm"))
    v.repartitionByRange(col("vec_id")).sortWithinPartitions("vec_id")
      .write.mode("append").option("parquet.block.size", 1L << 20)
      .parquet(IndexSwap.sideAt(root, "vectors"))
    val pre = preGuarded(col("embedding"), fullDim, prefix)
    v.select(col("vec_id"), pre.as("pre"), l2normNative(pre).as("pnrm"))
      .repartitionByRange(col("vec_id")).sortWithinPartitions("vec_id")
      .write.mode("append").parquet(IndexSwap.sideAt(root, "prefix"))
    autoCompact.foreach { maxFiles =>
      val files = graft.sources.LakeListing.dataFiles(
        s.sessionState.newHadoopConf(),
        new org.apache.hadoop.fs.Path(IndexSwap.sideAt(root, "prefix"))).size
      if (files > maxFiles) markRebalanceDue(s, path)
    }
  }

  /** Re-slice and re-sort both tiers from the grown cold lake at the
    * STORED prefix — the COMPACTION answer (a deterministic fixpoint:
    * the encoder is a parameter-free slice). Crash-safe under the
    * [[IndexSwap]] two-phase swap. */
  def rebalance(s: SparkSession, path: String): Unit = {
    recover(s, path)
    val root = IndexSwap.liveRoot(s, path)
    val fullDim = storedDim(s, root)
    val prefix = storedPrefix(s, root)
    // Tombstones reclaim physically here (the fresh version dir
    // carries no deletes side).
    val v = IndexSwap.exceptTombstones(s, root,
      s.read.parquet(IndexSwap.sideAt(root, "vectors"))
        .select(col("vec_id"), col("embedding"), col("nrm")))
    stageSides(path, v, fullDim, prefix)
    IndexSwap.commit(s, path, sides)
  }

  /** [[delete]] under the name existing callers use. */
  def deleteFromMatryoshkaIndex(s: SparkSession, ids: DataFrame, path: String,
      autoRebalance: Option[Double] = None): Unit =
    delete(s, ids, path, autoRebalance)

  /** Probe with the declared fixture probe set (vec_id < 10) — the
    * qn49 driver gate's entry. */
  def probeMatryoshkaIndex(s: SparkSession, dir: String, path: String,
      k: Int): DataFrame =
    probeMatryoshkaIndexWith(s,
      Tables.embeddings(s, dir).filter(col("vec_id") < 10)
        .select("vec_id", "embedding"),
      path, k)

  /** Serve an ARBITRARY probe batch from the stored artifacts: e6
    * prefix-cosine ranking over the prefix scan (ppn/pnrm zero-norm
    * guards — the qn35 contract), top-[[shortlistWidth]] per probe,
    * exact full-width cosine refine point-read from the cold side.
    * Identical rows to [[Similarity.matryoshkaPlanFrom]] over the same
    * corpus (MatryoshkaSpec + the qn49 hash gate). Probe batches only
    * — the loud [[PQ.maxProbeBatch]] bound, same rationale as the
    * sibling rungs. */
  def probeMatryoshkaIndexWith(s: SparkSession, probes: DataFrame, path: String,
      k: Int, allowed: Option[DataFrame] = None): DataFrame = {
    // Probes are READ-ONLY (the sibling rungs' contract): no recover
    // here — a probe racing an in-flight rebuild's staging must never
    // delete the stage dir out from under the writer.
    val root = IndexSwap.liveRoot(s, path)
    probeMatryoshkaResolved(s, probes, root, storedDim(s, root),
      storedPrefix(s, root), k, allowed)
  }

  /** The probe pipeline against a PINNED version root and
    * already-read stored widths — shared by the per-call entry (reads
    * them fresh: two point reads) and
    * [[MatryoshkaIndexHandle.probeWith]] (cached). */
  private def probeMatryoshkaResolved(s: SparkSession, probes: DataFrame,
      root: String, fullDim: Int, prefix: Int,
      k: Int, allowed: Option[DataFrame]): DataFrame = {
    val (_, probesV) = IndexSwap.localProbes(s, probes, "probeMatryoshkaIndexWith")
    val ppre = preGuarded(col("embedding"), fullDim, prefix)
    val psig = probesV.select(col("vec_id").as("qid"),
      ppre.as("ppre"), l2normNative(ppre).as("ppn"))
    val wSl = Window.partitionBy(col("qid")).orderBy(col("pscore").desc, col("vec_id").asc)
    val sl = allowed.foldLeft(IndexSwap.exceptTombstones(s, root,
        s.read.parquet(IndexSwap.sideAt(root, "prefix")))) { (c, a) =>
        c.join(a.select(col("vec_id")), Seq("vec_id"), "left_semi") }
      .join(broadcast(psig), expr("true"))
      .filter(col("vec_id") =!= col("qid") && col("ppn") > 0 && col("pnrm") > 0)
      .select(col("qid"), col("vec_id"),
        e6(cosine(dotNative(col("ppre"), col("pre")), col("ppn"), col("pnrm"))).as("pscore"))
      .withColumn("rn", row_number().over(wSl)).filter(col("rn") <= shortlistWidth)
      .select(col("qid"), col("vec_id"))
    // Manifest-class shortlist (probes x 32, hard-bounded above) ->
    // vec_id pushdown against the sorted 1 MB-row-group cold layout.
    IndexSwap.exactRefine(s, sl, probesV, k) { (push, _) =>
      s.read.parquet(IndexSwap.sideAt(root, "vectors")).filter(push)
    }
  }

  /** Serve-session handle for the matryoshka rung — the
    * [[SQ8.Sq8IndexHandle]] discipline: pins a version root and the
    * two stored widths (full dim, prefix), so a handle probe pays zero
    * metadata reads (the per-call entry re-LISTs the version and
    * point-reads both widths every call). Staleness: the PQ contract
    * verbatim — liveVersion re-check per call, re-open cached once per
    * committed version. */
  final case class MatryoshkaIndexHandle private[operators] (path: String,
      version: Long, root: String, fullDim: Int, prefix: Int) {
    private val current =
      new java.util.concurrent.atomic.AtomicReference[MatryoshkaIndexHandle](this)
    /** The version the handle currently serves from. */
    def currentVersion: Long = current.get().version
    /** knn through the cached widths (bit-identical to the per-call
      * entry — MatryoshkaSpec pins handle == per-call). */
    def probeWith(s: SparkSession, probes: DataFrame, k: Int,
        allowed: Option[DataFrame] = None): DataFrame = {
      val h = IndexSwap.refreshHandle(s, path, current,
        (_: MatryoshkaIndexHandle).version, () => openMatryoshkaIndex(s, path))
      probeMatryoshkaResolved(s, probes, h.root, h.fullDim, h.prefix, k, allowed)
    }
  }

  /** Open a serve-session handle: resolve the version once, read both
    * stored widths once. */
  def openMatryoshkaIndex(s: SparkSession, path: String): MatryoshkaIndexHandle = {
    val version = IndexSwap.liveVersion(s, path)
    val root = IndexSwap.rootAt(path, version)
    MatryoshkaIndexHandle(path, version, root,
      storedDim(s, root), storedPrefix(s, root))
  }
}
