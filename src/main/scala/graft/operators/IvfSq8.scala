package graft.operators

import graft.{Concurrently, Tables}
import graft.functions.TextFns._
import graft.functions.VectorExprs.{dotNative, intSqDistNative, l2normNative}
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
    recover(s, path)
    val v = corpus.select(col("vec_id"), col("embedding"),
      l2normNative(col("embedding")).as("nrm"))
    val cents = Similarity.ivfCents(v, nCentroids)
    val localCents = s.createDataFrame(
      java.util.Arrays.asList(cents.collect(): _*), cents.schema)
    stageAndCommit(s, path, v, localCents, nCentroids.toLong)
  }

  /** Stage all four sides from a (vec_id, embedding, nrm) corpus frame
    * and a LOCAL centroid frame, then ONE atomic commit — shared by
    * the build and the drift rebalance. */
  private def stageAndCommit(s: SparkSession, path: String, v: DataFrame,
      localCents: DataFrame, nCells: Long): Unit = {
    val asg = Similarity.ivfAssignedDispatch(v, localCents, nCells)
      .localCheckpoint(true) // assignment feeds BOTH sides — one pass
    // Envelope from the CHECKPOINTED assignment, not the raw corpus
    // frame (round-16 ADVICE: asg was checkpointed precisely so the
    // build pays one corpus pass; statsOf over `v` re-scanned it).
    val (mna, spa) = SQ8.collectStats(SQ8.statsOf(SQ8.ve6Of(asg)))
    // All four sides derive from the checkpointed assignment / local
    // arrays and land in disjoint staging dirs — overlapped
    // (Concurrently.run, round 18 guide §2.6); the atomic
    // commit below still waits for every side.
    Concurrently.run(Seq(
      // Cold side: the IVF vectors layout (cell dirs, vec_id-sorted 1 MB
      // row groups — the probe refine composes cell scope + id pushdown).
      () => asg.repartition(col("cent_id"))
        .sortWithinPartitions(col("cent_id"), col("vec_id"))
        .write.mode("overwrite").option("parquet.block.size", 1L << 20)
        .partitionBy("cent_id").parquet(IndexSwap.tmp(path, "vectors").toString),
      // Hot side: byte codes, same cell layout.
      () => SQ8.ve6Of(asg).select(col("vec_id"), SQ8.q8Col(mna, spa, clamp = false).as("q8"))
        .join(asg.select(col("vec_id"), col("cent_id")), Seq("vec_id"))
        .repartition(col("cent_id"))
        .sortWithinPartitions(col("cent_id"), col("vec_id"))
        .write.mode("overwrite")
        .partitionBy("cent_id").parquet(IndexSwap.tmp(path, "codes").toString),
      () => localCents.coalesce(1).write.mode("overwrite")
        .parquet(IndexSwap.tmp(path, "centroids").toString),
      () => {
        val statRows: java.util.List[org.apache.spark.sql.Row] =
          java.util.Arrays.asList(mna.indices.map(i =>
            org.apache.spark.sql.Row(i, mna(i), spa(i))): _*)
        val statSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("pos", org.apache.spark.sql.types.IntegerType, false),
          org.apache.spark.sql.types.StructField("mn", org.apache.spark.sql.types.LongType, false),
          org.apache.spark.sql.types.StructField("sp", org.apache.spark.sql.types.LongType, false)))
        s.createDataFrame(statRows, statSchema).coalesce(1).write.mode("overwrite")
          .parquet(IndexSwap.tmp(path, "stats").toString)
      }))
    IndexSwap.commit(s, path, sides)
  }

  /** Assign NEW vectors against the STORED centroids, encode against
    * the STORED envelope (clamped — the SQ8 append saturation rule),
    * and append to both cell-partitioned tiers: O(new) work, no
    * rebuild, only the touched cells gain files. COLD side first (the
    * one documented crash window's safe polarity: an orphaned cold row
    * is dead bytes no rank scan surfaces; an orphaned CODE row would
    * be shortlisted and silently dropped by the refine join). ONE
    * version resolution for every side read and write (round-15
    * ADVICE).
    *
    * `autoRebalance = Some(k)` makes the drift cadence MEASURED
    * instead of caller discipline (the sibling rungs' audit-at-append
    * pattern): after the append, per-cell row counts come off the
    * vector lake's parquet FOOTERS (driver metadata — O(files), no
    * Spark job), and if the hottest cell holds more than k x the mean
    * over the declared cell count, the `_rebalance_due` marker drops —
    * the append itself stays O(new), and [[maintain]] runs
    * the rebuild on the maintenance cadence. A drifting stream
    * otherwise concentrates appends into a few stale cells, and every
    * probe routed there degrades toward a linear scan of the drift. */
  def appendToIvfSq8Index(s: SparkSession, newVecs: DataFrame, path: String,
      autoRebalance: Option[Int] = None): Unit = {
    recover(s, path)
    val root = IndexSwap.liveRoot(s, path)
    val cents = s.read.parquet(IndexSwap.sideAt(root, "centroids"))
    val (mna, spa) = SQ8.collectStats(
      s.read.parquet(IndexSwap.sideAt(root, "stats")))
    val nCells = cents.count()
    val v = newVecs.select(col("vec_id"), col("embedding"),
      l2normNative(col("embedding")).as("nrm"))
    val asg = Similarity.ivfAssignedDispatch(v, cents, nCells)
      .localCheckpoint(true) // feeds both sides — one assignment pass
    asg.repartition(col("cent_id"))
      .sortWithinPartitions(col("cent_id"), col("vec_id"))
      .write.mode("append").option("parquet.block.size", 1L << 20)
      .partitionBy("cent_id").parquet(IndexSwap.sideAt(root, "vectors"))
    SQ8.ve6Of(asg).select(col("vec_id"), SQ8.q8Col(mna, spa, clamp = true).as("q8"))
      .join(asg.select(col("vec_id"), col("cent_id")), Seq("vec_id"))
      .repartition(col("cent_id"))
      .sortWithinPartitions(col("cent_id"), col("vec_id"))
      .write.mode("append")
      .partitionBy("cent_id").parquet(IndexSwap.sideAt(root, "codes"))
    autoRebalance.foreach { k =>
      val stats = Similarity.ivfCellStatsAt(s, root)
      if (stats.nonEmpty) {
        val mean = math.max(1.0, stats.values.sum.toDouble / math.max(1L, nCells))
        if (stats.values.max > k * mean) markRebalanceDue(s, path)
      }
    }
  }

  /** [[delete]] under the name existing callers use. */
  def deleteFromIvfSq8Index(s: SparkSession, ids: DataFrame, path: String,
      autoRebalance: Option[Double] = None): Unit =
    delete(s, ids, path, autoRebalance)

  /** Re-derive ALL FOUR sides from the grown cold lake — the drift
    * answer. Centroids re-seed from the √(grown N) vectors with the
    * lowest `xxhash64(vec_id)` (the [[Similarity.rebalance]]
    * rule: deterministic, distribution-free over an appended lake's
    * arbitrary id space, and the cell count ADAPTS to the grown corpus
    * instead of freezing the build-time k); the envelope re-freezes
    * over the grown corpus, so post-rebalance codes are unclamped
    * exact again (appends between rebuilds saturate against the prior
    * envelope — the declared SQ8 append semantics). Deterministic
    * fixpoint; crash-safe under the versioned [[IndexSwap]] commit. */
  def rebalance(s: SparkSession, path: String): Unit = {
    recover(s, path)
    val root = IndexSwap.liveRoot(s, path)
    // Tombstones reclaim PHYSICALLY here: the rebuild reads the cold
    // lake minus the deleted ids, and the fresh version dir carries no
    // deletes side at all.
    val del = IndexSwap.tombstonesAt(s, root)
    val v = del.foldLeft(
      s.read.parquet(IndexSwap.sideAt(root, "vectors"))
        .select(col("vec_id"), col("embedding"), col("nrm"))
    ) { (c, d) => c.join(d, Seq("vec_id"), "left_anti") }
    // √N sizing over the SURVIVING rows (footer stats minus tombstones
    // — a no-op tombstone undercounts by one, which the ceil absorbs).
    val total = math.max(1L, Similarity.ivfCellStatsAt(s, root).values.sum -
      del.map(_.count()).getOrElse(0L))
    val k = math.max(16L, math.ceil(math.sqrt(total.toDouble)).toLong)
    val seeds = v.orderBy(xxhash64(col("vec_id"), lit(1002)).asc, col("vec_id").asc)
      .limit(k.toInt)
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"), col("nrm").as("cn"))
    val localCents = s.createDataFrame(
      java.util.Arrays.asList(seeds.collect(): _*), seeds.schema)
    stageAndCommit(s, path, v, localCents, k)
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
    * resolution per call (the probeResolved contract). Probe batches
    * only — the [[PQ.maxProbeBatch]] bound. */
  def probeIvfSq8IndexWith(s: SparkSession, probes: DataFrame, path: String,
      nProbe: Int, k: Int, allowed: Option[DataFrame] = None): DataFrame = {
    val root = IndexSwap.liveRoot(s, path)
    val cents = s.read.parquet(IndexSwap.sideAt(root, "centroids"))
    val (mna, spa) = SQ8.collectStats(
      s.read.parquet(IndexSwap.sideAt(root, "stats")))
    probeResolved(s, probes, root, mna, spa, nProbe, k, Left(cents), allowed)
  }

  /** The probe body against an ALREADY-RESOLVED version root and
    * envelope — shared by the per-call entry and [[IvfSq8IndexHandle]]
    * (the [[PQ.probeResolved]] discipline: every side reads from one
    * pinned root; the handle additionally routes in-process over its
    * cached centroid arrays instead of the per-call Spark job). */
  private def probeResolved(s: SparkSession, probes: DataFrame, root: String,
      mna: Array[Long], spa: Array[Long], nProbe: Int, k: Int,
      route: Either[DataFrame, Similarity.CentArrays],
      allowed: Option[DataFrame] = None): DataFrame = {
    val (probeRows, probesV) = IndexSwap.localProbes(s, probes, "probeIvfSq8IndexWith")
    // Route: in-process over the handle's cached arrays when a serve
    // session supplied them ([[Similarity.driverRoutePairs]] — same
    // e6/tie rules, zero Spark jobs), the flat argsort routing job
    // otherwise (centroids broadcast-class by construction; e6/tie
    // rules = qn10's either way).
    val pcSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("qid",
        org.apache.spark.sql.types.LongType, false),
      org.apache.spark.sql.types.StructField("cent_id",
        org.apache.spark.sql.types.LongType, false)))
    val pcRows = route match {
      case Right(ca) =>
        Similarity.driverRoutePairs(probeRows, ca, nProbe)
          .map { case (r, cid) => org.apache.spark.sql.Row(r.getLong(0), cid) }
      case Left(cents) =>
        val cScore = e6(cosine(dotNative(col("ce"), col("pe")), col("cn"), col("pn")))
        val wRoute = Window.partitionBy(col("qid")).orderBy(col("cscore").desc, col("cent_id").asc)
        probesV
          .select(col("vec_id").as("qid"), col("embedding").as("pe"), col("nrm").as("pn"))
          .join(broadcast(cents), expr("true"))
          .select(col("qid"), col("cent_id"), cScore.as("cscore"))
          .withColumn("rn", row_number().over(wRoute)).filter(col("rn") <= nProbe)
          .select(col("qid"), col("cent_id"))
          .collect()
    }
    val localPc = s.createDataFrame(java.util.Arrays.asList(pcRows: _*), pcSchema)
    val cells = pcRows.map(_.getLong(1)).distinct.toSeq
    // Probe bytes: quantize against the stored envelope, clamped
    // (identity for in-corpus probes — the qn45 oracle parity).
    val pq8 = SQ8.ve6Of(probesV)
      .select(col("vec_id").as("qid"), SQ8.q8Col(mna, spa, clamp = true).as("pq8"))
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

  /** A SERVE-SESSION handle for the composed index (the
    * [[PQ.PqIndexHandle]] contract at this rung): the fixed per-call
    * serving state — resolved version root, the frozen envelope
    * arrays, and the centroid table as flat driver arrays — opened
    * once and reused across probe calls. A handle probe pays zero
    * store reads outside the two cell-scoped data sides and runs the
    * routing as an in-process loop ([[Similarity.driverRoutePairs]]).
    * Staleness follows the sibling handles exactly: [[probeWith]]
    * re-checks [[IndexSwap.liveVersion]] (one LIST) and the re-open is
    * cached in an [[java.util.concurrent.atomic.AtomicReference]] —
    * once per committed version, never per probe; within the reader-
    * grace window a stale handle is still CORRECT (its version dir is
    * immutable and retained per `spark.graft.index.retainVersions`). */
  final case class IvfSq8IndexHandle private[operators] (path: String,
      version: Long, root: String, centArrays: Similarity.CentArrays,
      mna: Array[Long], spa: Array[Long]) {
    private val current =
      new java.util.concurrent.atomic.AtomicReference[IvfSq8IndexHandle](this)
    /** The version the handle currently serves from (advances once per
      * committed rebuild — the refresh-cached contract the spec pins). */
    def currentVersion: Long = current.get().version
    /** Probe through the cached state, re-opening (once per committed
      * version) if a rebuild landed since the last probe. */
    def probeWith(s: SparkSession, probes: DataFrame, nProbe: Int, k: Int,
        allowed: Option[DataFrame] = None): DataFrame = {
      val h = IndexSwap.refreshHandle(s, path, current,
        (_: IvfSq8IndexHandle).version, () => openIvfSq8Index(s, path))
      probeResolved(s, probes, h.root, h.mna, h.spa, nProbe, k,
        Right(h.centArrays), allowed)
    }
  }

  /** Open a serve-session handle: resolve the version once, collect
    * the centroid table (√N rows) and the D-row envelope once. */
  def openIvfSq8Index(s: SparkSession, path: String): IvfSq8IndexHandle = {
    val version = IndexSwap.liveVersion(s, path)
    val root = IndexSwap.rootAt(path, version)
    val ca = Similarity.collectCents(s.read.parquet(s"$root/centroids"))
    val (mna, spa) = SQ8.collectStats(s.read.parquet(s"$root/stats"))
    IvfSq8IndexHandle(path, version, root, ca, mna, spa)
  }
}
