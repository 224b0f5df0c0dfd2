package graft.operators

import graft.Tables
import graft.functions.VectorExprs.intSqDistNative
import graft.sources.Parquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF + SQ8 composed index (round-15 verdict task 2): the quantized
  * ladder rung given an IVF tier — route → byte rank WITHIN the probed
  * cells → exact refine. The flat SQ8/binary rungs' probe cost is
  * linear in N by declared construction; this is the production
  * serving shape for a corpus that outgrows the flat scan: the rank
  * stage reads nProbe/√N of the BYTE lake (both prunings compose —
  * cell pruning bounds which files open, the 4x byte compression
  * bounds what each opened file weighs). The qn33 IVFADC pattern
  * applied to the cheaper rung: SQ8's affine map is parameter-light
  * (D stats rows vs M x K codebooks) and its in-cell rank is the
  * native [[graft.functions.IntSqDistLL]] loop, no ADC table build
  * per probe.
  *
  * Four swappable sides under the versioned [[IndexSwap]] commit:
  *
  *  - `$path/centroids`: √N-class (cent_id, ce, cn) — the route table.
  *  - `$path/stats`: D rows (pos, mn, sp) — the frozen affine map,
  *    computed over the WHOLE corpus (one global envelope, not
  *    per-cell: probes quantize once against one map, and the oracle
  *    replays one map — per-cell envelopes would buy rank precision at
  *    the cost of re-encoding a probe per probed cell).
  *  - `$path/codes`: cent_id-PARTITIONED (vec_id, q8) — the rank
  *    stage's only input, listed cell-scoped per probe
  *    ([[Similarity.cellScopedReadAt]]).
  *  - `$path/vectors`: cent_id-partitioned full-precision
  *    (vec_id, embedding, nrm), sorted by vec_id with 1 MB row groups
  *    — the refine point-reads ride both the cell scope AND the
  *    vec_id pushdown.
  *
  * Assignment, routing, quantization and tie rules are the exact
  * building blocks the qn10/qn38 oracles already pin (stride
  * centroids, e6 cosine argmax with lowest-cent_id ties, e6-floored
  * affine byte map with `(a - a%b)/b` flooring), so the qn45 driver
  * gate replays the whole route+rank+refine chain in DuckDB.
  */
object IvfSq8 extends IndexRung {

  /** The index's swappable sides (the [[IndexSwap]] protocol). */
  val sides: Seq[String] = Seq("centroids", "stats", "codes", "vectors")

  /** Live rows: the vector lake's per-cell footer counts. */
  protected def liveRows(s: SparkSession, root: String): Long =
    Similarity.ivfCellStatsAt(s, root).values.sum

  /** In-cell byte-distance shortlist width the exact refine re-ranks
    * (the qn38 contract carried over). */
  private val shortlistWidth = 16

  /** Both tiers cell-partitioned, one vec_id-sorted file per touched
    * cell (the cold side in 1 MB row groups, so the refine composes
    * cell scope + id pushdown); centroids and the envelope one file
    * each. */
  protected val layouts: Map[String, IndexSwap.Layout] = Map(
    "vectors" -> IndexSwap.Layout.cellsSorted(IndexSwap.coldBlock),
    "codes" -> IndexSwap.Layout.cellsSorted(),
    "centroids" -> IndexSwap.Layout.single,
    "stats" -> IndexSwap.Layout.single)

  /** The two data sides of an ASSIGNED frame (vec_id, embedding, nrm,
    * cent_id): the cold rows and their byte codes, same cells. */
  private def cellSides(asg: DataFrame, mna: Array[Long],
      spa: Array[Long]): Seq[(String, DataFrame)] =
    Seq("vectors" -> asg,
      "codes" -> SQ8.ve6Of(asg).select(col("vec_id"), SQ8.q8Col(lit(mna), lit(spa)).as("q8"))
        .join(asg.select(col("vec_id"), col("cent_id")), Seq("vec_id")))

  /** Assign (vec_id, embedding) rows against the stored centroids and
    * encode them against the stored envelope. */
  protected def encode(rows: DataFrame,
      st: => State): Seq[(String, DataFrame)] = {
    val (cents, mna, spa) = st
    cellSides(Similarity.assign(IndexSwap.normed(rows), cents)
      .localCheckpoint(true), mna, spa) // feeds both sides — one assignment pass
  }

  /** Build from the corpus at `dir`: stride centroids, blocked-native
    * exact assignment, one global envelope, cell-partitioned byte
    * codes + cold floats — staged, then ONE atomic commit. */
  def buildIvfSq8Index(s: SparkSession, dir: String, nCentroids: Int,
      path: String): Unit =
    buildIvfSq8IndexFrom(s,
      Tables.embeddings(s, dir).select("vec_id", "embedding"), nCentroids, path)

  /** Build from an arbitrary (vec_id, embedding) corpus frame (the
    * dim-parameterized discipline — nothing here is 64-pinned). */
  def buildIvfSq8IndexFrom(s: SparkSession, corpus: DataFrame, nCentroids: Int,
      path: String): Unit = {
    val v = IndexSwap.normed(corpus)
    rebuild(s, path, v, Similarity.centsOf(s, Similarity.ivfCents(v, nCentroids)))
  }

  /** Assign `v` to `cents`, freeze the envelope over it and stage all
    * four sides — shared by the build and the drift rebalance. */
  private def rebuild(s: SparkSession, path: String, v: DataFrame,
      cents: Similarity.Cents): Unit = {
    val asg = Similarity.assign(v, cents)
      .localCheckpoint(true) // assignment feeds BOTH sides — one pass
    // Envelope from the CHECKPOINTED assignment, not the raw corpus
    // frame (round-16 ADVICE: asg was checkpointed precisely so the
    // build pays one corpus pass; statsOf over `v` re-scanned it).
    val (mna, spa) = SQ8.collectStats(SQ8.statsOf(SQ8.ve6Of(asg)))
    stage(s, path, cellSides(asg, mna, spa) ++ Seq(
      "centroids" -> cents.local, "stats" -> SQ8.statsFrame(s, mna, spa)))
  }

  /** Assign NEW vectors against the STORED centroids, encode against
    * the STORED envelope (clamped — the SQ8 append saturation rule),
    * and append to both cell-partitioned tiers: O(new) work, no
    * rebuild, only the touched cells gain files.
    *
    * `autoRebalance = Some(k)` makes the drift cadence MEASURED
    * ([[auditCellSkew]]): past it the `_rebalance_due` marker drops —
    * the append itself stays O(new), and [[maintain]] runs the rebuild
    * on the maintenance cadence. */
  def appendToIvfSq8Index(s: SparkSession, newVecs: DataFrame, path: String,
      autoRebalance: Option[Int] = None): Unit =
    append(s, newVecs, path)((root, st) =>
      autoRebalance.foreach(auditCellSkew(s, path, root, st()._1.arrays.cids.length, _)))

  /** [[delete]] under the name existing callers use. */
  def deleteFromIvfSq8Index(s: SparkSession, ids: DataFrame, path: String,
      autoRebalance: Option[Double] = None): Unit =
    delete(s, ids, path, autoRebalance)

  /** Re-derive ALL FOUR sides from the grown cold lake — the drift
    * answer. Centroids re-seed from the √(grown N) surviving vectors
    * ([[Similarity.reseed]]: deterministic, distribution-free over an
    * appended lake's arbitrary id space, and the cell count ADAPTS to
    * the grown corpus instead of freezing the build-time k); the
    * envelope re-freezes over the grown corpus, so post-rebalance codes
    * are unclamped exact again (appends between rebuilds saturate
    * against the prior envelope — the declared SQ8 append semantics).
    * Deterministic fixpoint; crash-safe under the versioned
    * [[IndexSwap]] commit. */
  def rebalance(s: SparkSession, path: String): Unit = {
    val (v, cents) = Similarity.reseed(s, IndexSwap.liveRoot(s, path))
    rebuild(s, path, v, cents)
  }

  /** Probe with the declared fixture probe set (vec_id < 10) — the
    * qn45 driver gate's entry. */
  def probeIvfSq8Index(s: SparkSession, dir: String, path: String,
      nProbe: Int, k: Int): DataFrame =
    probeIvfSq8IndexWith(s,
      Tables.embeddings(s, dir).filter(col("vec_id") < 10)
        .select("vec_id", "embedding"),
      path, nProbe, k)

  /** Serve an ARBITRARY probe batch: flat route over the √N centroid
    * table → cell-scoped byte rank (only the probed cells' code files
    * are listed and read) → per-probe top-[[shortlistWidth]] →
    * cell-scoped + vec_id-pushed exact refine → top-k. ONE version
    * resolution per call. Probe batches only — the [[PQ.maxProbeBatch]]
    * bound. */
  def probeIvfSq8IndexWith(s: SparkSession, probes: DataFrame, path: String,
      nProbe: Int, k: Int, allowed: Option[DataFrame] = None): DataFrame =
    probe(s, open(s, path), probes, nProbe, k, allowed)

  /** [[probeIvfSq8IndexWith]] through a serve handle. */
  def probeWith(s: SparkSession, h: Handle, probes: DataFrame, nProbe: Int, k: Int,
      allowed: Option[DataFrame] = None): DataFrame =
    probe(s, h.refreshed(s), probes, nProbe, k, allowed)

  /** The probe body against a handle: every side reads from its one
    * pinned root, and the route is an in-process loop over its
    * centroid arrays ([[Similarity.driverRouteFrame]] — qn10's e6/tie
    * rules, zero Spark jobs). */
  private def probe(s: SparkSession, h: Handle, probes: DataFrame,
      nProbe: Int, k: Int, allowed: Option[DataFrame]): DataFrame = {
    val root = h.root
    val (cents, mna, spa) = h.state
    val (probeRows, probesV) = IndexSwap.localProbes(s, probes, "probeIvfSq8IndexWith")
    val (localPc, cells) = Similarity.driverRouteFrame(s, probeRows, cents.arrays, nProbe, "qid")
    // Probe bytes: quantize against the stored envelope, clamped
    // (identity for in-corpus probes — the qn45 oracle parity).
    val pq8 = SQ8.ve6Of(probesV)
      .select(col("vec_id").as("qid"), SQ8.q8Col(lit(mna), lit(spa)).as("pq8"))
    // Rank WITHIN the probed cells: the cell-scoped listing bounds the
    // files opened at O(probed cells); the native int loop bounds the
    // per-row cost. Tombstoned rows are anti-joined out HERE — before
    // the shortlist window — so a deleted row can neither surface nor
    // crowd a live row out of the 16 slots (the deletes side is read
    // fresh per call: unlike the frozen centroids/envelope it GROWS
    // within a version, so handles must not cache it).
    val qd2 = intSqDistNative(col("q8"), col("pq8"))
    val wSl = Window.partitionBy(col("qid")).orderBy(col("qd2").asc, col("vec_id").asc)
    val codesLive = IndexSwap.exceptTombstones(s, root,
      Similarity.cellScopedReadAt(s, root, "codes", cells)
        .select(col("vec_id"), col("q8"), col("cent_id").cast("long").as("cent_id")))
    // FILTERED search (qn53): the predicate SEMI-JOINS the rank stage —
    // before the shortlist window, the same place the tombstone
    // anti-join sits — so the shortlist is the top-16 AMONG the allowed
    // rows (post-filtering a fixed shortlist instead would silently
    // lose recall as the filter tightens: 16 candidates minus the
    // disallowed leaves <16, eventually <k). The allowed frame is any
    // (vec_id, ...) keys frame — typically a semi-join off a metadata
    // table.
    val codesAllowed = allowed.foldLeft(codesLive) { (c, a) =>
      c.join(a.select(col("vec_id")), Seq("vec_id"), "left_semi") }
    val sl = codesAllowed
      .join(broadcast(localPc), Seq("cent_id"))
      .join(broadcast(pq8), Seq("qid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("cent_id"), qd2.as("qd2"))
      .withColumn("rn", row_number().over(wSl)).filter(col("rn") <= shortlistWidth)
      .select(col("qid"), col("vec_id"), col("cent_id"), col("qd2"))
    // Refine: manifest-class shortlist (probes x 16) — collected so the
    // cold read composes the shortlisted cells' scope with a vec_id
    // pushdown against the sorted 1 MB row groups.
    IndexSwap.exactRefine(s, sl, probesV, k, Seq("qd2")) { (push, slRows) =>
      Similarity.cellScopedReadAt(s, root, "vectors",
        slRows.map(_.getAs[Long]("cent_id")).distinct.toSeq).filter(push)
    }
  }

  /** The centroid table and the frozen envelope. */
  type State = (Similarity.Cents, Array[Long], Array[Long])

  /** The √N-row centroid side and the D-row stats side, collected. */
  protected def load(s: SparkSession, root: String): State = {
    val (mna, spa) = SQ8.collectStats(Parquet.read(s, IndexSwap.sideAt(root, "stats")))
    (Similarity.centsOf(s, Parquet.read(s, IndexSwap.sideAt(root, "centroids"))), mna, spa)
  }
}
