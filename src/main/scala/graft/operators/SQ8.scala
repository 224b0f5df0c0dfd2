package graft.operators

import graft.{Concurrently, Tables}
import graft.functions.TextFns._
import graft.functions.VectorExprs.l2normNative
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted SQ8 scalar-quantization index — the qn38 pipeline given
  * the PQ index lifecycle (round-13 verdict task: qn38 recomputed the
  * per-dim stats and byte codes per query; a 100 TB corpus encodes
  * ONCE).
  *
  * Three swappable sides under the [[IndexSwap]] versioned commit:
  *
  *  - `$path/codes`: the HOT side — (vec_id, q8[D]) byte vectors, the
  *    only table the rank stage scans (4x under the floats; measured
  *    per-rung in the pq battery ladder).
  *  - `$path/vectors`: the COLD side — full-precision (vec_id,
  *    embedding, nrm), sorted by vec_id with 1 MB row groups so the
  *    shortlist's `vec_id IN (...)` pushdown point-reads the refine
  *    rows (the PQ cold-layout discipline; no IVF tier here — SQ8 is
  *    the flat-scan rung of the ladder, its IO bound IS the byte
  *    column).
  *  - `$path/stats`: D rows (pos, mn, sp) — the frozen affine map.
  *
  * Quantization is the qn38 integer contract exactly: e6-floored
  * longs, per-dim `(x - mn) * 255 // sp` with `//` spelled as
  * `(a - a%b)/b` so Spark and DuckDB floor identically — a fresh build
  * probed through [[probeSq8Index]] replays the qn38 oracle bit-exact
  * (the qn38b driver gate).
  *
  * Stats are FROZEN at build time, like the PQ codebooks: appended
  * vectors encode against the stored map, with out-of-range dims
  * CLAMPED to [0, 255] (the standard SQ saturation rule — a frozen
  * affine map cannot represent values outside the build-time envelope;
  * saturation is a bounded rank-stage error the exact refine absorbs
  * for shortlisted rows). A drifted corpus is a REBUILD:
  * [[rebalance]] recomputes the envelope over the grown cold
  * lake and re-encodes every code, crash-safe under the same
  * stage+atomic-rename discipline as [[PQ.rebalance]] — and
  * the rebuild is MEASURED, not caller discipline (round 17, the
  * sibling rungs' deferred-marker pattern):
  * `appendToSq8Index(autoRebalance = Some(rate))` audits the appended
  * batch's out-of-envelope saturation rate, drops `_rebalance_due`
  * past it, and [[maintain]] pays the re-stat off the append
  * hot path.
  */
object SQ8 extends IndexRung {

  /** The index's swappable sides (the [[IndexSwap]] protocol). */
  val sides: Seq[String] = Seq("codes", "vectors", "stats")

  /** Live rows: the codes side's footer count. */
  protected def liveRows(s: SparkSession, root: String): Long =
    Similarity.parquetRowCount(s, IndexSwap.sideAt(root, "codes"))

  /** Byte-distance shortlist width the exact refine re-ranks (the
    * qn38 contract). */
  private val shortlistWidth = 16

  private[graft] def ve6Of(v: DataFrame): DataFrame =
    v.select(col("vec_id"), transform(col("embedding"),
      x => floor(x.cast("double") * 1000000).cast("long")).as("emb6"))

  /** Per-dim envelope over an e6 frame: (pos, mn, sp) — ONE D-group
    * partial agg (N x D rows collapse map-side to D rows per task). */
  private[operators] def statsOf(ve6F: DataFrame): DataFrame =
    ve6F.select(posexplode(col("emb6")).as(Seq("pos", "x")))
      .groupBy("pos").agg(min(col("x")).as("mn"),
        greatest(lit(1L), max(col("x")) - min(col("x"))).as("sp"))

  /** The affine byte map over an `emb6` column, stats as plan-time
    * literal arrays. Integer floor division as (a - a%b)/b: the
    * long/long `/` is a double, but an exactly-divisible numerator
    * below 2^53 divides exactly, so the floor matches DuckDB's `//`
    * bit-for-bit. `clamp` saturates to [0, 255] — identity for values
    * inside the stored envelope (every build-corpus row by
    * construction, so the qn38 oracle parity is unaffected), the
    * declared append/serve semantics outside it.
    *
    * Width/NULL guard (the [[PQ]] vsubKeyed loud-failure discipline —
    * round-14 ADVICE): a row whose width differs from the stored
    * envelope's D, or with a NULL element, would otherwise quantize
    * through out-of-bounds `element_at` / null arithmetic into NULL q8
    * bytes — and a NULL qd2 sorts FIRST in the ascending shortlist
    * window, so malformed rows would silently dominate every probe's
    * shortlist (a valid-looking index with degraded recall). O(D)
    * per row, same cost class as the transform itself. */
  private[graft] def q8Col(mna: Array[Long], spa: Array[Long], clamp: Boolean): Column = {
    val d = mna.length
    val checked = when(size(col("emb6")) === d &&
        !exists(col("emb6"), x => x.isNull), col("emb6"))
      .otherwise(raise_error(concat(
        lit("SQ8: embedding width "), size(col("emb6")).cast("string"),
        lit(s" != stats dim $d, or NULL element — the corpus must match the stored" +
          " envelope's dimensionality and carry no NULLs; clean/resize before encoding"))))
    transform(checked, (x, i) => {
      val a = (x - element_at(lit(mna), i + 1)) * 255L
      val sp = element_at(lit(spa), i + 1)
      val q = ((a - (a % sp)) / sp).cast("long")
      if (clamp) least(greatest(q, lit(0L)), lit(255L)) else q
    })
  }

  /** Collect a stats frame to (mna, spa) pos-major arrays. */
  private[graft] def collectStats(stats: DataFrame): (Array[Long], Array[Long]) = {
    val st = stats.orderBy("pos").collect()
    require(st.nonEmpty, "SQ8: empty stats — cannot build/serve over an empty corpus")
    (st.map(_.getLong(1)), st.map(_.getLong(2)))
  }

  /** Stage all three sides into the [[IndexSwap]] tmp siblings (shared
    * by build and rebalance — one definition of the layout). */
  private def stageSides(s: SparkSession, path: String, v: DataFrame,
      stats: DataFrame): Unit = {
    val ve6F = ve6Of(v)
    val (mna, spa) = collectStats(stats)
    // Independent staging writes overlapped (round 18, guide §2.6).
    Concurrently.run(Seq(
      () => ve6F.select(col("vec_id"), q8Col(mna, spa, clamp = false).as("q8"))
        .repartitionByRange(col("vec_id")).sortWithinPartitions("vec_id")
        .write.mode("overwrite").parquet(IndexSwap.tmp(path, "codes").toString),
      () => v.select(col("vec_id"), col("embedding"), col("nrm"))
        .repartitionByRange(col("vec_id")).sortWithinPartitions("vec_id")
        .write.mode("overwrite").option("parquet.block.size", 1L << 20)
        .parquet(IndexSwap.tmp(path, "vectors").toString),
      () => {
        val rows: java.util.List[org.apache.spark.sql.Row] =
          java.util.Arrays.asList(mna.indices.map(i =>
            org.apache.spark.sql.Row(i, mna(i), spa(i))): _*)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("pos", org.apache.spark.sql.types.IntegerType, false),
          org.apache.spark.sql.types.StructField("mn", org.apache.spark.sql.types.LongType, false),
          org.apache.spark.sql.types.StructField("sp", org.apache.spark.sql.types.LongType, false)))
        s.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite")
          .parquet(IndexSwap.tmp(path, "stats").toString)
      }))
  }

  /** Build the persisted SQ8 index from the corpus at `dir` — staged
    * writes, atomic commit (a crash leaves the prior index or nothing,
    * never a half-described lake). */
  def buildSq8Index(s: SparkSession, dir: String, path: String): Unit =
    buildSq8IndexFrom(s,
      Tables.embeddings(s, dir).select("vec_id", "embedding"), path)

  /** Build from an arbitrary (vec_id, embedding) corpus frame — the
    * dim-parameterized entry (round-15 verdict task 1). The envelope,
    * codes and probe paths are dimension-generic throughout (stats are
    * a per-pos agg, the affine map folds over whatever width the
    * stored stats declare), so a 256- or 768-dim corpus needs no other
    * change; the q8Col guard enforces corpus/envelope width equality
    * loudly. */
  def buildSq8IndexFrom(s: SparkSession, corpus: DataFrame, path: String): Unit = {
    recover(s, path)
    val v = corpus.select(col("vec_id"), col("embedding"),
      l2normNative(col("embedding")).as("nrm"))
    stageSides(s, path, v, statsOf(ve6Of(v)))
    IndexSwap.commit(s, path, sides)
  }

  /** Encode NEW vectors against the FROZEN stored envelope and append
    * to both tiers: O(new) work, no re-stat. COLD side first (the
    * [[PQ.appendToPqIndex]] crash-window polarity: an orphaned cold
    * row is dead bytes no rank scan ever surfaces; an orphaned CODE
    * row would be shortlisted and then silently dropped by the refine
    * join). Out-of-envelope dims clamp — see the object doc. */
  def appendToSq8Index(s: SparkSession, newVecs: DataFrame, path: String,
      autoRebalance: Option[Double] = None): Unit = {
    recover(s, path)
    // ONE version resolution for the stats read and both side writes
    // (round-15 ADVICE): a rebalance committing mid-append would
    // otherwise split the append across versions — codes encoded
    // against one envelope landing beside another, or cold rows in a
    // retiring version the code rows dangle against.
    val root = IndexSwap.liveRoot(s, path)
    val (mna, spa) = collectStats(s.read.parquet(IndexSwap.sideAt(root, "stats")))
    val v = newVecs.select(col("vec_id"), col("embedding"),
      l2normNative(col("embedding")).as("nrm"))
    v.repartitionByRange(col("vec_id")).sortWithinPartitions("vec_id")
      .write.mode("append").option("parquet.block.size", 1L << 20)
      .parquet(IndexSwap.sideAt(root, "vectors"))
    ve6Of(v).select(col("vec_id"), q8Col(mna, spa, clamp = true).as("q8"))
      .repartitionByRange(col("vec_id")).sortWithinPartitions("vec_id")
      .write.mode("append").parquet(IndexSwap.sideAt(root, "codes"))
    // The measured DRIFT trigger (round 17 — the PQ/IVF/BinarySig
    // deferred-marker pattern at this rung, with SQ8's OWN drift
    // metric): the failure mode of a frozen affine envelope is
    // SATURATION — appended values outside the build-time [mn, mn+sp]
    // clamp to 0/255, collapsing their rank-stage distances — so the
    // audit measures exactly that: the fraction of appended (row, dim)
    // cells falling OUTSIDE the stored envelope, one O(new) aggregate
    // over the batch just encoded. Past `maxOobRate` the append drops
    // the due marker and returns at append cost; [[maintain]]
    // re-stats the envelope over the grown lake on the maintenance
    // cadence. In-distribution streams never fire it (build-corpus
    // rows are in-envelope by construction).
    autoRebalance.foreach { maxOobRate =>
      require(maxOobRate > 0 && maxOobRate < 1,
        s"appendToSq8Index: autoRebalance is an out-of-envelope RATE in (0, 1), got $maxOobRate")
      val hi = mna.zip(spa).map { case (m, sp) => m + sp }
      val audit = ve6Of(v).select(
        sum(aggregate(transform(col("emb6"), (x, i) =>
            when(x < element_at(lit(mna), i + 1) ||
                 x > element_at(lit(hi), i + 1), 1L).otherwise(0L)),
          lit(0L), (acc, e) => acc + e)).as("oob"),
        count(lit(1)).as("n")).head()
      val oob = if (audit.isNullAt(0)) 0L else audit.getLong(0)
      if (oob.toDouble / math.max(1L, audit.getLong(1) * mna.length) > maxOobRate)
        markRebalanceDue(s, path)
    }
  }

  /** Re-stat AND re-encode the whole index from its own cold lake (the
    * drift answer — appended vectors may saturate against the frozen
    * envelope; the rebuild recomputes it over the GROWN corpus and
    * re-encodes every byte vector). Crash-safe: the [[IndexSwap]]
    * versioned commit over all three sides. Deterministic: same lake
    * in, same index out. */
  def rebalance(s: SparkSession, path: String): Unit = {
    recover(s, path)
    val root = IndexSwap.liveRoot(s, path)
    // Tombstones reclaim physically here: the rebuild reads the cold
    // lake minus the deleted ids, and the fresh version dir carries no
    // deletes side at all.
    val v = IndexSwap.exceptTombstones(s, root,
      s.read.parquet(IndexSwap.sideAt(root, "vectors"))
        .select(col("vec_id"), col("embedding"), col("nrm")))
    stageSides(s, path, v, statsOf(ve6Of(v)))
    IndexSwap.commit(s, path, sides)
  }

  /** [[delete]] under the name existing callers use. */
  def deleteFromSq8Index(s: SparkSession, ids: DataFrame, path: String,
      autoRebalance: Option[Double] = None): Unit =
    delete(s, ids, path, autoRebalance)

  /** Probe with the declared fixture probe set (vec_id < 10) — the
    * qn38b driver gate's entry. */
  def probeSq8Index(s: SparkSession, dir: String, path: String, k: Int): DataFrame =
    probeSq8IndexWith(s,
      Tables.embeddings(s, dir).filter(col("vec_id") < 10)
        .select("vec_id", "embedding"),
      path, k)

  /** Serve an ARBITRARY probe batch from the stored artifacts: byte
    * ranking over the codes scan, top-[[shortlistWidth]] per probe,
    * exact cosine refine point-read from the cold side. Identical rows
    * to qn38 when the index was built from the same corpus (Sq8Spec +
    * the qn38b hash gate). Probe batches only — the same loud
    * [[PQ.maxProbeBatch]] bound as the PQ serving entry (the shortlist
    * collect is probes x 16 <= 1e6 rows). */
  def probeSq8IndexWith(s: SparkSession, probes: DataFrame, path: String,
      k: Int, allowed: Option[DataFrame] = None): DataFrame = {
    // ONE version resolution per probe call (the PQ.probeResolved
    // contract — round-15 ADVICE): stats, codes and the cold refine
    // all read the SAME pinned version; a rebalance committing
    // mid-probe can never pair an old envelope with re-encoded codes
    // (a silently wrong shortlist, not an error).
    val root = IndexSwap.liveRoot(s, path)
    val (mna, spa) = collectStats(s.read.parquet(IndexSwap.sideAt(root, "stats")))
    probeSq8Resolved(s, probes, root, mna, spa, k, allowed)
  }

  /** The probe pipeline against a PINNED version root and an already-
    * collected envelope — shared by the per-call entry (reads them
    * fresh) and [[Sq8IndexHandle.probeWith]] (cached). */
  private def probeSq8Resolved(s: SparkSession, probes: DataFrame,
      root: String, mna: Array[Long], spa: Array[Long],
      k: Int, allowed: Option[DataFrame]): DataFrame = {
    val (_, probesV) = IndexSwap.localProbes(s, probes, "probeSq8IndexWith")
    // Probe bytes quantize against the STORED envelope, clamped (an
    // out-of-corpus probe may fall outside it; identity for in-range
    // probes, so the qn38 parity is unaffected).
    val pq8 = ve6Of(probesV)
      .select(col("vec_id").as("qid"), q8Col(mna, spa, clamp = true).as("pq8"))
    // Rank loop is the native fused expression (round 15): the HOF
    // form allocated a zip_with array per candidate pair — the
    // measured probe wall at 1M (ladder battery). Bit-identical
    // results (VectorExprsSpec), so the qn38/qn38b oracles ride it.
    val qd2 = graft.functions.VectorExprs.intSqDistNative(col("q8"), col("pq8"))
    val wSl = Window.partitionBy(col("qid")).orderBy(col("qd2").asc, col("vec_id").asc)
    // FILTERED search (the qn53 discipline at the flat rung): the
    // allowed-ids frame semi-joins the rank scan before the shortlist.
    val codesLive = allowed.foldLeft(IndexSwap.exceptTombstones(s, root,
        s.read.parquet(IndexSwap.sideAt(root, "codes")))) { (c, a) =>
      c.join(a.select(col("vec_id")), Seq("vec_id"), "left_semi") }
    val sl = codesLive
      .join(broadcast(pq8), expr("true"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), qd2.as("qd2"))
      .withColumn("rn", row_number().over(wSl)).filter(col("rn") <= shortlistWidth)
      .select(col("qid"), col("vec_id"), col("qd2"))
    // Shortlist is manifest-class (probes x 16, hard-bounded above):
    // collect it so the cold read carries the vec_id pushdown against
    // the sorted 1 MB-row-group layout — the [[PQ.probePqIndexWith]]
    // point-read discipline ([[IndexSwap.exactRefine]]).
    IndexSwap.exactRefine(s, sl, probesV, k, Seq("qd2")) { (push, _) =>
      s.read.parquet(IndexSwap.sideAt(root, "vectors")).filter(push)
    }
  }

  /** RANGE search with the declared fixture probe set (vec_id < 10) —
    * the qn64 driver gate's entry. */
  def rangeSq8Index(s: SparkSession, dir: String, path: String,
      t2e12: Long): DataFrame =
    rangeSq8IndexWith(s,
      Tables.embeddings(s, dir).filter(col("vec_id") < 10)
        .select("vec_id", "embedding"),
      path, t2e12)

  /** EXACT range search over the persisted index: every corpus row
    * within squared-L2 radius `t2e12` (e6² units) of each probe — the
    * radius verb of the serving surface (knn / filtered knn / delete /
    * append / RANGE), FAISS's `range_search` counterpart.
    *
    * Two-tier like the knn probe, but the compressed tier is a PROOF,
    * not a heuristic: candidates are prescreened by
    * [[graft.functions.VectorExprs.IntSqLowerBoundLL]] — a byte-space
    * lower bound on the exact e6² distance (derivation in its scaladoc;
    * both sides floor-quantized and clamped, which only loosens the
    * bound) — so a pruned row provably lies outside the radius and the
    * result is exact, never shortlist-truncated. Measured on the driver
    * fixtures at the qn64 radius: ~2% of candidates survive to the
    * float read. The qn64 oracle is the BRUTE-FORCE exact range (no
    * prescreen), so any wrongly-excluded candidate hash-mismatches —
    * the gate checks the bound's losslessness itself, not a replay of
    * the same plan.
    *
    * Scale shape: unlike knn there is no fixed-width shortlist — range
    * output is data-dependent by definition — so the cold refine
    * DISPATCHES on the measured survivor count (the [[IndexSwap.isinMaxIds]]
    * discipline): up to [[rangeCollectMax]] survivors are collected
    * and the float side is POINT-READ under an isin/between pushdown
    * (measured at 1M x 70 survivors: the distributed-join form paid a
    * full cold-side shuffle and LOST to brute force; the point-read
    * form wins ~3x); past the cap the survivors stay a distributed
    * frame and the refine is a vec_id equi-join against the sorted
    * float side — unbounded output, no further driver collect (the
    * dispatch probe itself collected the first cap survivor ids, and
    * the over-cap branch re-derives the prescreen from the codes scan:
    * at most one truncated pass — limit early-stops — plus the full
    * pass the refine needs anyway; a persist would trade that bounded
    * re-scan for executor memory pinned past the call). Composes with
    * the lifecycle verbs: tombstones are anti-joined and an `allowed`
    * frame semi-joins the prescreen, both BEFORE any distance work. */
  def rangeSq8IndexWith(s: SparkSession, probes: DataFrame, path: String,
      t2e12: Long, allowed: Option[DataFrame] = None): DataFrame = {
    val root = IndexSwap.liveRoot(s, path)
    val (mna, spa) = collectStats(s.read.parquet(IndexSwap.sideAt(root, "stats")))
    rangeSq8Resolved(s, probes, root, mna, spa, t2e12, allowed)
  }

  /** The range pipeline against a PINNED root and collected envelope
    * (the [[probeSq8Resolved]] split, range edition). */
  private def rangeSq8Resolved(s: SparkSession, probes: DataFrame,
      root: String, mna: Array[Long], spa: Array[Long],
      t2e12: Long, allowed: Option[DataFrame]): DataFrame = {
    require(t2e12 >= 0, s"rangeSq8IndexWith: negative squared radius $t2e12")
    val probesRaw = probes.select(col("vec_id"), col("embedding"))
    val probeRows = probesRaw.limit(PQ.maxProbeBatch + 1).collect()
    require(probeRows.length <= PQ.maxProbeBatch,
      s"rangeSq8IndexWith: probe batch exceeds ${PQ.maxProbeBatch} rows — " +
        "range-probe in batches; a corpus-sized radius sweep is qn08's " +
        "near-pair grid, not an index probe")
    val probesV = s.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probesRaw.schema)
    val pe6 = ve6Of(probesV)
    val pq8 = pe6.select(col("vec_id").as("qid"), col("emb6").as("pe6"),
      q8Col(mna, spa, clamp = true).as("pq8"))
    val spansLit = array(spa.map(lit(_)): _*)
    val lb = graft.functions.VectorExprs.intSqLowerBoundNative(
      col("q8"), col("pq8"), spansLit)
    val codesLive = allowed.foldLeft(IndexSwap.exceptTombstones(s, root,
        s.read.parquet(IndexSwap.sideAt(root, "codes")))) { (c, a) =>
      c.join(a.select(col("vec_id")), Seq("vec_id"), "left_semi") }
    val surv = codesLive
      .join(broadcast(pq8.select(col("qid"), col("pq8"))), expr("true"))
      .filter(col("vec_id") =!= col("qid"))
      .filter(lb <= lit(t2e12))
      .select(col("qid"), col("vec_id"))
    // Exact refine: e6 distance against the float side. Survivor-count
    // dispatch (see scaladoc): point-read when bounded, equi-join when
    // not.
    val pe6b = broadcast(pq8.select(col("qid"), col("pe6")))
    val d2 = graft.functions.VectorExprs.intSqDistNative(col("de6"), col("pe6"))
    val coldAll = s.read.parquet(IndexSwap.sideAt(root, "vectors"))
    val cap = rangeCollectMax(s)
    val survRows = surv.limit(cap + 1).collect()
    val refined = if (survRows.length <= cap) {
      val localSurv = s.createDataFrame(
        java.util.Arrays.asList(survRows: _*), surv.schema)
      val push = IndexSwap.idPush(s, survRows.map(_.getLong(1)).distinct.toSeq)
      val cold = ve6Of(coldAll.filter(push))
        .select(col("vec_id"), col("emb6").as("de6"))
      broadcast(localSurv).join(cold, Seq("vec_id")).join(pe6b, Seq("qid"))
    } else {
      val cold = ve6Of(coldAll).select(col("vec_id"), col("emb6").as("de6"))
      surv.join(cold, Seq("vec_id")).join(pe6b, Seq("qid"))
    }
    refined
      .select(col("qid"), col("vec_id"), d2.as("d2_e12"))
      .filter(col("d2_e12") <= lit(t2e12))
      .orderBy("qid", "d2_e12", "vec_id")
  }

  /** Survivor count up to which the range refine collects and
    * point-reads the cold side; above it the refine stays a
    * distributed equi-join (unbounded range output). */
  private def rangeCollectMax(s: SparkSession): Int =
    s.conf.getOption("spark.graft.sq8.rangeCollectMax").map(_.toInt)
      .getOrElse(1000000)

  /** Serve-session handle for the flat SQ8 rung — the
    * [[PQ.PqIndexHandle]] discipline without the routing tier: pins a
    * version root and the COLLECTED envelope arrays, so a handle
    * probe/range pays zero store reads outside the codes scan and the
    * cold refine (the per-call entries re-resolve the version — one
    * LIST — and re-read the D-row stats parquet on every call; a
    * serving fleet pays that once per REBUILD instead).
    *
    * Staleness follows the PQ contract verbatim: calls re-check
    * [[IndexSwap.liveVersion]] (one LIST) and the re-open is cached in
    * an [[java.util.concurrent.atomic.AtomicReference]] — once per
    * committed version, never per call; a stale handle inside the
    * reader-grace window is still CORRECT (its version dir is
    * immutable and retained one cycle). */
  final case class Sq8IndexHandle private[operators] (path: String,
      version: Long, root: String, mna: Array[Long], spa: Array[Long]) {
    private val current =
      new java.util.concurrent.atomic.AtomicReference[Sq8IndexHandle](this)
    /** The version the handle currently serves from. */
    def currentVersion: Long = current.get().version
    private def refreshed(s: SparkSession): Sq8IndexHandle =
      IndexSwap.refreshHandle(s, path, current, (_: Sq8IndexHandle).version,
        () => openSq8Index(s, path))
    /** knn through the cached envelope (the probeSq8IndexWith rows,
      * bit-identical — Sq8Spec pins handle == per-call). */
    def probeWith(s: SparkSession, probes: DataFrame, k: Int,
        allowed: Option[DataFrame] = None): DataFrame = {
      val h = refreshed(s)
      probeSq8Resolved(s, probes, h.root, h.mna, h.spa, k, allowed)
    }
    /** Range through the cached envelope (the rangeSq8IndexWith rows). */
    def rangeWith(s: SparkSession, probes: DataFrame, t2e12: Long,
        allowed: Option[DataFrame] = None): DataFrame = {
      val h = refreshed(s)
      rangeSq8Resolved(s, probes, h.root, h.mna, h.spa, t2e12, allowed)
    }
  }

  /** Open a serve-session handle: resolve the version once, collect
    * the D-row envelope once. */
  def openSq8Index(s: SparkSession, path: String): Sq8IndexHandle = {
    val version = IndexSwap.liveVersion(s, path)
    val root = IndexSwap.rootAt(path, version)
    val (mna, spa) = collectStats(s.read.parquet(IndexSwap.sideAt(root, "stats")))
    Sq8IndexHandle(path, version, root, mna, spa)
  }
}
