package graft

import graft.functions.TextFns._
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** At-scale evidence batteries: `runMain graft.Battery <name> [args]`.
  *
  * The sf0.1 bench proves plans are CORRECT and fast at 5k docs / 2k
  * vectors; these batteries prove the SHAPES hold when the declared
  * scale hazards actually materialize — a genuinely hot join key, a
  * lake with more candidate files than the planner's driver walk
  * accepts, a corpus big enough that fingerprint recomputation is the
  * wrong answer, and a REALISTIC mostly-dissimilar corpus where the
  * pair queries' candidate pruning must bite (the sf0.1 documents
  * table is all-similar by construction, so every bench number there
  * is Θ(true pairs) output-bound — pruning never gets to show).
  * Results are recorded per round in docs/BENCH_NOTES.md.
  *
  * Batteries:
  *   skew [rows=20000000]       salted vs unsalted hot-key join with
  *                              per-task reducer-spread measurement
  *   bloom [files=256]          three-tier scan over a lake whose zone
  *                              survivors exceed the 64-file driver
  *                              walk, engaging the Spark-job fan-out
  *   governance [docs=2000000]  O(batch) fingerprint maintenance +
  *                              qp06/qp07/qp09 at corpus scale
  *   paircurve [sizes=250000,500000,1000000,2000000]
  *                              qn03/qn04 wall time + CANDIDATE volume
  *                              on ~2%-near-dup corpora
  *   pq [vectors=500000]        IVFADC two-temperature index: disk +
  *                              rank-stage bytes ADC vs exact, recall
  *
  * All generation is deterministic (xxhash64 of ids — no RNG state), so
  * any number here reproduces bit-identically.
  */
object Battery {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.headOption match {
      case Some("skew")       => skew(spark, args.lift(1).map(_.toLong).getOrElse(20000000L))
      case Some("bloom")      => bloom(spark, args.lift(1).map(_.toInt).getOrElse(256))
      case Some("governance") => governance(spark, args.lift(1).map(_.toLong).getOrElse(2000000L))
      case Some("paircurve")  => paircurve(spark, args.lift(1)
        .getOrElse("250000,500000,1000000,2000000").split(",").toSeq.map(_.trim.toLong))
      case Some("ivfjoin")    => ivfjoin(spark, args.lift(1).map(_.toLong).getOrElse(260000L))
      case Some("ingest")     => ingest(spark, args.lift(1)
        .getOrElse("100000,1000000,4000000").split(",").toSeq.map(_.trim.toLong))
      case Some("ingestgrow") => ingestGrow(spark,
        args.lift(1).map(_.toInt).getOrElse(40))
      case Some("pq")         => pq(spark, args.lift(1).map(_.toLong).getOrElse(500000L))
      case Some("pqdispatch") => pqDispatch(spark, args.lift(1).map(_.toLong).getOrElse(125000L),
        args.lift(2).map(_.split(",").toSeq.map(_.trim.toInt))
          .getOrElse(Seq(32, 64, 128, 256, 512, 1024)))
      case Some("pqserve")    => pqServe(spark, args.lift(1).map(_.toLong).getOrElse(4000000L))
      case Some("pqiters")    => pqIters(spark, args.lift(1).map(_.toLong).getOrElse(500000L))
      case Some("pqopq")      => pqOpq(spark, args.lift(1).map(_.toLong).getOrElse(500000L),
        correlated = args.lift(2).contains("corr"))
      case Some("pqopqserve") => pqOpqServe(spark, args.lift(1).map(_.toLong).getOrElse(500000L))
      case Some("pqlat")      => pqLat(spark, args.lift(1).map(_.toLong).getOrElse(1000000L))
      case Some("ladder")     => ladder(spark, args.lift(1).map(_.toLong).getOrElse(1000000L))
      case Some("ladderdim")  => ladderDim(spark, args.lift(1).map(_.toLong).getOrElse(500000L),
        args.lift(2).map(_.toInt).getOrElse(256))
      case Some("argmaxsweep") => argmaxSweep(spark,
        args.lift(1).map(_.toLong).getOrElse(50000L),
        args.lift(2).map(_.split(",").toSeq.map(_.trim.toInt))
          .getOrElse(Seq(65536, 262144, 1024000)))
      case Some("pqlife")     => pqLife(spark, args.lift(1).map(_.toLong).getOrElse(4000000L))
      case Some("tombstone")  => tombstone(spark, args.lift(1).map(_.toLong).getOrElse(1000000L))
      case Some("range")      => rangeB(spark, args.lift(1).map(_.toLong).getOrElse(1000000L))
      case Some("text")       => textB(spark, args.lift(1).map(_.toLong).getOrElse(1000000L))
      case other => sys.error(s"unknown battery: $other (skew|bloom|governance|paircurve|ivfjoin|ingest|ingestgrow|pq|pqdispatch|pqserve|pqiters|pqopq|pqopqserve|pqlat|ladder|ladderdim|pqlife|argmaxsweep|tombstone|range|text)")
    }
    spark.stop()
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  // ---- skew ------------------------------------------------------------

  /** Per-task shuffle-read record counts, by stage — the reducer-spread
    * instrument. The skewed stage is the one with the largest total.
    */
  private final class SpreadListener extends SparkListener {
    val byStage = scala.collection.concurrent.TrieMap[Int, scala.collection.mutable.ArrayBuffer[Long]]()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val recs = Option(t.taskMetrics).map(_.shuffleReadMetrics.recordsRead).getOrElse(0L)
      byStage.getOrElseUpdate(t.stageId,
        scala.collection.mutable.ArrayBuffer.empty[Long]).synchronized {
        byStage(t.stageId) += recs
      }
    }
    def reset(): Unit = byStage.clear()
    /** Drain the async listener bus before reading or resetting: task-end
      * events can trail collect() by a beat, and a reset racing a prior
      * rep's stragglers would misattribute records across forms. Waits
      * until the observed event count is stable for 3 consecutive
      * 100 ms checks (10 s cap). */
    def quiesce(): Unit = {
      var last = -1L; var same = 0
      val deadline = System.nanoTime() + 10000000000L
      while (same < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val cur = byStage.values.map(_.size.toLong).sum
        if (cur == last) same += 1 else { same = 0; last = cur }
      }
    }
    /** (max, mean-of-nonzero, n-nonzero-tasks) for the heaviest shuffle-read stage. */
    def spread(): (Long, Double, Int) = {
      val heaviest = byStage.values.filter(_.exists(_ > 0)).maxByOption(_.sum)
        .getOrElse(scala.collection.mutable.ArrayBuffer(0L))
      val nz = heaviest.filter(_ > 0)
      (heaviest.maxOption.getOrElse(0L),
        if (nz.isEmpty) 0.0 else nz.sum.toDouble / nz.size, nz.size)
    }
  }

  /** A genuinely hot key: 90% of `n` fact rows carry event_type 'view';
    * an unsalted shuffle join sends them all to ONE reducer. The salted
    * form must (a) return identical results and (b) spread the hot
    * key's shuffle-read records across ~S reducers.
    */
  private def skew(s: SparkSession, n: Long): Unit = {
    val types = array(lit("view"), lit("click"), lit("error"), lit("purchase"), lit("signup"))
    val fact = s.range(n).select(
      col("id").as("event_id"),
      // id-hash in [0,100): 90 -> view, rest uniform over the other 4
      when(pmod(xxhash64(col("id"), lit(1)), lit(100)) < 90, lit("view"))
        .otherwise(element_at(types, (pmod(xxhash64(col("id"), lit(2)), lit(4)) + 2).cast("int")))
        .as("event_type"),
      (pmod(xxhash64(col("id"), lit(3)), lit(1000)).cast("double") / 100.0).as("value"))
    val dim = operators.Skew.weightsDF(s)
    def agg(j: DataFrame) = j.groupBy(col("event_type"))
      .agg(sum(col("value").cast("decimal(18,2)") * col("weight").cast("decimal(9,4)"))
        .cast("double").as("wvalue"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))
    def unsalted = agg(fact.join(dim.hint("shuffle_hash"), Seq("event_type")))
    def salted = agg(operators.Skew.saltedJoin(fact, dim, "event_type", col("event_id"), 16))

    val listener = new SpreadListener
    s.sparkContext.addSparkListener(listener)
    def run(tag: String, df: => DataFrame): (Seq[String], Double) = {
      listener.quiesce(); listener.reset()
      val (rows, secs) = timed(df.collect().map(_.toString).toSeq)
      listener.quiesce()
      val (mx, mean, k) = listener.spread()
      println(f"""{"battery":"skew","form":"$tag","rows":$n,"sec":$secs%.2f,"reduce_max_records":$mx,"reduce_mean_records":$mean%.0f,"reduce_tasks":$k,"spread":${mx / math.max(mean, 1.0)}%.1f}""")
      (rows, secs)
    }
    // alternate 3 reps each (single samples on this host carry up to 3x
    // noise — the round-2 lesson)
    var (u, sl) = (Seq.empty[String], Seq.empty[String])
    (1 to 3).foreach { _ =>
      u = run("unsalted", unsalted)._1
      sl = run("salted", salted)._1
    }
    require(u == sl, "salted join diverged from unsalted results")
    s.sparkContext.removeSparkListener(listener)
  }

  // ---- bloom -----------------------------------------------------------

  /** A 2-partition lake with `files/2` files per partition, bloom
    * filters on o_custkey, rows range-clustered by o_orderkey. The
    * three-tier probe keeps one partition (partition pruning), a wide
    * o_orderkey range keeps ~all of its files (zone maps can't help a
    * full-partition range — that is the point: the candidate set
    * EXCEEDS the 64-file driver walk), and the bloom walk fans out as a
    * Spark job to exclude nearly every file for a single o_custkey.
    */
  private def bloom(s: SparkSession, files: Int): Unit = {
    import graft.sources.{BloomLake, ZoneMap}
    val perPart = files / 2
    val n = 20000000L
    val root = java.nio.file.Files.createTempDirectory("graft_battery_bloom").toString
    val lake = s"$root/lake"; val stats = s"$root/stats"
    val (_, wSec) = timed {
      Seq(1996, 1997).foreach { y =>
        s.range(n / 2).select(
          (col("id") * 2 + (y - 1996)).as("o_orderkey"),
          pmod(xxhash64(col("id"), lit(y)), lit(5000000L)).as("o_custkey"),
          pmod(xxhash64(col("id"), lit(7)), lit(1000)).cast("double").as("o_totalprice"))
          .repartitionByRange(perPart, col("o_orderkey"))
          .write.options(BloomLake.writerOptions("o_custkey", 200000L))
          .parquet(s"$lake/year=$y")
      }
    }
    val (_, zSec) = timed(ZoneMap.writeStats(s, lake, stats, Seq("o_orderkey")))
    // a key that exists in year=1997 (derived, not scanned-for)
    val probeKey = s.read.parquet(s"$lake/year=1997").select(col("o_custkey"))
      .limit(1).head.getLong(0)
    val (pr, pSec) = timed {
      val r = ZoneMap.prunedScanThreeTier(s, lake, stats,
        Seq(("year", 1997)), Seq(("o_orderkey", 1L, n * 2)), "o_custkey", probeKey)
      (r, r.df.count())
    }
    val fanout = pr._1.nZoneFiles > 64
    println(f"""{"battery":"bloom","files":${pr._1.nFilesTotal},"part_survivors":${pr._1.nPartFiles},"zone_survivors":${pr._1.nZoneFiles},"bloom_survivors":${pr._1.nFilesRead},"rows":${pr._2},"fanout_engaged":$fanout,"probe_sec":$pSec%.2f,"write_sec":$wSec%.1f,"stats_sec":$zSec%.1f}""")
    require(fanout, s"zone survivors ${pr._1.nZoneFiles} <= 64: the fan-out path never engaged")
    // same candidate set, driver walk vs executor fan-out, timed head to head
    val cand = s.read.parquet(stats)
      .filter(col("file").contains("/year=1997/"))
      .select("file").collect().map(_.getString(0)).toSeq
    val (drv, dSec) = timed(BloomLake.probeLongWhere(s, cand, "o_custkey", probeKey, driverMax = Int.MaxValue))
    val (dist, xSec) = timed(BloomLake.probeLongWhere(s, cand, "o_custkey", probeKey, driverMax = 0))
    require(drv == dist, "driver walk and fan-out disagree on surviving files")
    println(f"""{"battery":"bloom_walk","candidates":${cand.size},"survivors":${drv.size},"driver_sec":$dSec%.2f,"fanout_sec":$xSec%.2f}""")
  }

  // ---- shared corpus generator ----------------------------------------

  /** Deterministic mostly-dissimilar corpus: 48 tokens/doc — 4 drawn
    * Zipf-ish from a 200-word stopword pool (the realistic shared head;
    * log-uniform, so "s1" tops every df ranking) and 44 drawn UNIFORMLY
    * from a 10n-word rare vocabulary (expected df ~4.4, independent of
    * n). A random pair then shares ~a stopword and ~nothing rare:
    * J ~ 0.003 — LSH band collisions are essentially only true
    * near-dups, and the df-ascending prefix filter never admits a
    * stopword. Every 50th doc (`i % 50 == 1`) copies the previous doc's
    * tokens 8..47 and redraws 0..7: a planted near-dup pair at
    * J >= 40/56 = 0.71 — above the qn03 threshold 0.6, detected by
    * 16x4 minhash-LSH with prob ~0.99 — so ~2% of docs have a true
    * near-dup, the realistic rate, vs the sf0.1 documents table where
    * near-everything matches and every pair query is output-bound.
    */
  private def corpus(s: SparkSession, n: Long, nearDups: Boolean): DataFrame = {
    val langs = array(Seq("en", "de", "fr", "es", "pt", "it", "nl", "pl").map(lit): _*)
    // Rare ids by DIRECT modulo, not a scaled unit float: the float path
    // (`u = hash%1e6 / 1e6; floor(u*V)`) has only 1e6 distinct values, so
    // past 1M docs it silently CAPS the vocabulary at 1e6 tokens — dfs
    // then grow with n and the qn03 candidate curve turns quadratic for
    // a generator reason, not an algorithmic one (measured: 1.42B
    // candidates at 2M docs under the cap vs linear growth without).
    val rareVocab = math.max(10L * n, 10000L)
    val toks = transform(sequence(lit(0), lit(47)), j => {
      val src =
        if (!nearDups) col("id")
        else when(col("id") % 50 === 1 && j >= 8, col("id") - 1).otherwise(col("id"))
      val u = pmod(xxhash64(src, j, lit(42)), lit(1000000L)).cast("double") / 1e6
      when(j < 4,
        concat(lit("s"), floor(pow(lit(200.0), u)).cast("long").cast("string")))
        .otherwise(
          concat(lit("t"), pmod(xxhash64(src, j, lit(44)), lit(rareVocab)).cast("string")))
    })
    s.range(n).select(
      col("id").as("doc_id"),
      array_join(toks, " ").as("text"),
      element_at(langs, (pmod(xxhash64(col("id"), lit(9)), lit(8)) + 1).cast("int")).as("lang"),
      concat(lit("src"), pmod(xxhash64(col("id"), lit(11)), lit(4))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  // ---- governance ------------------------------------------------------

  /** The additive-fingerprint maintenance contract at corpus scale:
    * updating a 2M-doc snapshot for a 20k batch must cost O(batch) —
    * fingerprint the BATCH, add mod p — and equal the full recompute
    * (checked here value-for-value). Plus qp06/qp07/qp09 wall times at
    * the same corpus via the registered entry points.
    */
  private def governance(s: SparkSession, n: Long): Unit = {
    import operators.Curation
    val root = java.nio.file.Files.createTempDirectory("graft_battery_gov").toString
    corpus(s, n, nearDups = false)
      .write.parquet(s"$root/documents.parquet")
    val batchN = 20000L
    corpus(s, batchN, nearDups = false)
      .withColumn("doc_id", col("doc_id") + n) // new docs, ids beyond the lake
      .write.parquet(s"$root/batch.parquet")

    val lake = s.read.parquet(s"$root/documents.parquet")
    val batch = s.read.parquet(s"$root/batch.parquet")
    def fpMap(df: DataFrame): Map[String, (Long, Long, Long)] =
      Curation.corpusFingerprint(df).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val (snap, fullSec) = timed(fpMap(lake))
    val (bfp, batchSec) = timed(fpMap(batch))
    // O(1) driver-side merge — the entire snapshot update
    val merged = (snap.keySet ++ bfp.keySet).map { l =>
      val (an, ac, af) = snap.getOrElse(l, (0L, 0L, 0L))
      val (bn, bc, bf) = bfp.getOrElse(l, (0L, 0L, 0L))
      l -> ((an + bn, ac + bc, (af + bf) % Curation.fpModulus))
    }.toMap
    val (recomputed, unionSec) = timed(fpMap(lake.unionByName(batch)))
    require(merged == recomputed,
      "additive fingerprint: snapshot + batch != recomputed union")
    println(f"""{"battery":"governance_fp","docs":$n,"batch":$batchN,"full_sec":$fullSec%.2f,"batch_sec":$batchSec%.2f,"union_recompute_sec":$unionSec%.2f,"speedup":${fullSec / math.max(batchSec, 0.001)}%.0f}""")

    Seq("qp06_corpus_fingerprint", "qp07_quality_constraints", "qp09_quarantine_report")
      .foreach { q =>
        val (_, sec) = timed(
          SparkEntry.queries(q)(s, root).write.mode("overwrite").format("noop").save())
        println(f"""{"battery":"governance","query":"$q","docs":$n,"sec":$sec%.2f}""")
      }
  }

  // ---- ivfjoin ---------------------------------------------------------

  /** The corpus-sized IVF probe beyond the collect path's declared bound:
    * `n` vectors probe a persisted sqrt(n)-cell index at nProbe=4, so the
    * routing table is 4n rows — past 1e6 the collect-based
    * probeIvfIndexWith must REFUSE (its loud `require`) and the
    * assignment-join path (qn10d's probeIvfIndexJoined) must carry the
    * full batch. This is the demonstration the qn10d contract points at:
    * the driver never holds a route, and the rescore is an equi-join on
    * cent_id whose output is n x nProbe x (n/cells) rows — the honest
    * cost of all-pairs-via-cells ANN, executed distributively.
    */
  private def ivfjoin(s: SparkSession, n: Long): Unit = {
    import operators.Similarity
    require(n * 4 > 1000000L, s"ivfjoin needs > 250k vectors to exceed the 1e6 route bound, got $n")
    val dim = 16
    val root = java.nio.file.Files.createTempDirectory("graft_battery_ivf").toString
    val emb = transform(sequence(lit(0), lit(dim - 1)), i =>
      ((pmod(xxhash64(col("id"), i, lit(5)), lit(2000)).cast("double") / 1000.0) - 1.0).cast("float"))
    s.range(n).select(col("id").as("vec_id"), emb.as("embedding"), lit(0).as("label"))
      .write.parquet(s"$root/embeddings.parquet")
    val nCent = math.max(16, math.sqrt(n.toDouble).toInt)
    val path = Similarity.newIndexDir()
    val (_, bSec) = timed(Similarity.buildIvfIndex(s, root, nCent, path))
    val probes = Tables.embeddings(s, root).select(col("vec_id"), col("embedding"))
    val refused =
      try { Similarity.probeIvfIndexWith(s, probes, path, 4, 5).count(); false }
      catch { case _: IllegalArgumentException => true }
    val ((rows, topOk), jSec) = timed {
      val r = Similarity.probeIvfIndexJoined(s, probes, path, 4, 5)
      val cnt = r.count()
      (cnt, cnt <= n * 5)
    }
    println(f"""{"battery":"ivfjoin","vectors":$n,"cells":$nCent,"routes":${n * 4},"collect_path_refused":$refused,"build_sec":$bSec%.1f,"probe_join_sec":$jSec%.1f,"result_rows":$rows,"rows_le_nk":$topOk}""")
    require(refused, "collect path accepted an over-bound probe batch — the guard is gone")
    // ROUTING-STAGE head-to-head at the same n: the flat route scores
    // every probe against all sqrt(n) fine centroids (n x sqrt(n)); the
    // coarse tier scores n x (n^(1/4) + 2 x sqrt(n)/n^(1/4)) — the
    // round-13 cut. Counted without the rescore tail so the routing
    // cost is isolated (the rescore output is Theta(n^1.5) by the IVF
    // law and would swamp the measurement).
    import graft.functions.VectorExprs.l2normNative
    val cents = s.read.parquet(operators.IndexSwap.side(s, path, "centroids"))
    val pv = probes.select(col("vec_id"), col("embedding"),
      l2normNative(col("embedding")).as("nrm"))
    val (fr, flatSec) = timed(Similarity.ivfRouteFlat(pv, cents, 4).count())
    val (cr, coarseSec) = timed(Similarity.ivfRouteCoarse(pv, cents, 4).count())
    println(f"""{"battery":"ivfroute","vectors":$n,"cells":$nCent,"flat_sec":$flatSec%.1f,"coarse_sec":$coarseSec%.1f,"flat_routes":$fr,"coarse_routes":$cr}""")
  }

  // ---- pq --------------------------------------------------------------

  /** The IVFADC two-temperature promise, measured: build a persisted PQ
    * index over n 64-dim vectors at sqrt(n) coarse cells, then race the
    * four probe arms — pruned ADC (hot codes, probed cells only) vs
    * pruned exact (cold floats, same cells), and full-scan ADC vs
    * full-scan exact — with per-arm input bytes from task metrics. The
    * contract: the codes lake is a small fraction of the float lake ON
    * DISK, the ADC arms read commensurately fewer bytes, and the
    * route-conditional recall@5 (PQ top-5 vs exact top-5 over the SAME
    * probed cells — isolating ADC fidelity from the IVF miss rate,
    * which on this unstructured corpus is nProbe/cells by construction)
    * stays above the floor the PQSpec fixture pins. */
  private def pq(s: SparkSession, n: Long): Unit = {
    import operators.PQ
    import graft.functions.VectorExprs.{dotNative, l2normNative}
    val dim = 64
    val root = java.nio.file.Files.createTempDirectory("graft_battery_pq").toString
    // CLUSTERED corpus — the shape real embedding spaces have and the
    // one PQ's promise is stated on. n/8 clusters of 8 near-identical
    // members (cluster direction hashed per dim, members wiggled 1e-3):
    // a probe's exact top-5 is its 7 co-members, so end-to-end recall
    // measures the route + table + shortlist + refine chain, not the
    // corpus. (On uniform noise every pairwise cosine is a near-tie
    // inside the quantization error and ANY compressed index scores
    // ~nothing — measured 4/50 here before the fixture changed.)
    val nClusters = math.max(16L, n / 8)
    val cl = col("id") % nClusters
    val emb = transform(sequence(lit(0), lit(dim - 1)), i =>
      (((pmod(xxhash64(cl, i, lit(7)), lit(2000)).cast("double") / 1000.0) - 1.0) +
        (pmod(xxhash64(col("id"), i, lit(11)), lit(2000)).cast("double") / 1000000.0)).cast("float"))
    s.range(n).select(col("id").as("vec_id"), emb.as("embedding"), lit(0).as("label"))
      // Range-partitioned files: the declared vec_id < 10 probe set
      // stays in ONE small file, so the probe-side read is a constant,
      // not a corpus-sized term in the byte measurements below.
      .repartitionByRange(256, col("vec_id"))
      .write.parquet(s"$root/embeddings.parquet")
    val nCells = math.max(16, math.sqrt(n.toDouble).toInt)
    val path = operators.Similarity.newIndexDir()
    // Explicitly FLAT: this arm is the exact-assignment baseline the
    // fast arm below races (round 14: the flat branch is the native
    // argmax expression — exact AND the default inside the payload
    // budget).
    val (_, bSec) = timed(PQ.buildPqIndex(s, root, path, nCells, fastAssign = Some(false)))
    def dirBytes(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).map(dirBytes).sum
      else if (f.getName.endsWith(".parquet")) f.length else 0L
    val codesBytes = dirBytes(new java.io.File(operators.IndexSwap.side(s, path, "codes")))
    val vecBytes = dirBytes(new java.io.File(operators.IndexSwap.side(s, path, "vectors")))
    println(f"""{"battery":"pq","vectors":$n,"cells":$nCells,"build_sec":$bSec%.1f,"codes_bytes":$codesBytes,"vectors_bytes":$vecBytes,"bytes_ratio":${vecBytes.toDouble / codesBytes}%.1f}""")
    // The fast-build arm: two-tier assignment (N x 2 sqrt(cells) score
    // rows instead of N x cells) — build wall vs the recall it costs.
    val pathFast = operators.Similarity.newIndexDir()
    val (_, bfSec) = timed(PQ.buildPqIndex(s, root, pathFast, nCells, fastAssign = Some(true)))

    // IO accounting is FILESYSTEM-DERIVED: bytes of the probed cells'
    // files per lake side — the rank-stage read each arm cannot avoid
    // at any storage tier. Runtime byte metrics are not usable for
    // this comparison in local mode: task inputMetrics.bytesRead
    // reported 41 KB for an 18.5 MB local-fs parquet full scan, and
    // the scan node's filesSize counts whole non-partitioned
    // relations before row-group pruning. File bytes of the selected
    // cent_id partitions are exact for both arms by layout.
    def cellFiles(sub: String, cs: Seq[Long]): Long =
      cs.map(c => dirBytes(new java.io.File(s"${operators.IndexSwap.side(s, path, sub)}/cent_id=$c"))).sum
    locally {
      // The exact arm over the SAME probed cells as the PQ probe.
      val cents = s.read.parquet(operators.IndexSwap.side(s, path, "centroids"))
      val probesRaw = Tables.embeddings(s, root).filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"), l2normNative(col("embedding")).as("nrm"))
      val probesV = s.createDataFrame( // local, like probePqIndexWith's own probe side
        java.util.Arrays.asList(probesRaw.collect(): _*), probesRaw.schema)
      def exactArm(cellFilter: Option[Seq[Long]]): Array[(Long, Long)] = {
        val cold0 = s.read.parquet(operators.IndexSwap.side(s, path, "vectors"))
        val cold = cellFilter.fold(cold0)(cs => cold0.filter(col("cent_id").isin(cs: _*)))
          .select(col("vec_id"), col("embedding").as("de"), col("nrm").as("dn"))
        val sc = e6(cosine(dotNative(col("qe"), col("de")), col("qn"), col("dn")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("score_e6").desc, col("vec_id").asc)
        cold.join(broadcast(probesV.select(col("vec_id").as("qid"),
            col("embedding").as("qe"), col("nrm").as("qn"))), expr("true"))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"), sc.as("score_e6"))
          .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
          .select(col("qid"), col("vec_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
      }
      val probeFrame = probesV.select("vec_id", "embedding")
      val (_, cells) = PQ.routeCells(s, probesV, cents, 4)
      val (pqTop, pqSec) = timed(
        PQ.probePqIndexWith(s, probeFrame, path, 4, 5).select("qid", "vec_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))))
      val (exTop, exSec) = timed(exactArm(Some(cells)))
      def recall(a: Array[(Long, Long)], b: Array[(Long, Long)]): Int = {
        val bm = b.groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
        a.count { case (q, v) => bm.getOrElse(q, Set.empty)(v) }
      }
      val prunedRecall = recall(pqTop, exTop)
      println(f"""{"battery":"pqprobe","arm":"pruned","vectors":$n,"probed_cells":${cells.size},"adc_sec":$pqSec%.1f,"rank_bytes_adc":${cellFiles("codes", cells)},"exact_sec":$exSec%.1f,"rank_bytes_exact":${cellFiles("vectors", cells)},"recall_at5_in_cell":"$prunedRecall/${exTop.length}"}""")
      val (fpqTop, fpqSec) = timed(
        PQ.probePqIndexWith(s, probeFrame, path, nCells, 5).select("qid", "vec_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))))
      val (fexTop, fexSec) = timed(exactArm(None))
      val fullRecall: Int = recall(fpqTop, fexTop)
      val cb2: Long = codesBytes
      val vb2: Long = vecBytes
      println(f"""{"battery":"pqprobe","arm":"fullscan","vectors":$n,"adc_sec":$fpqSec%.1f,"rank_bytes_adc":$cb2,"exact_sec":$fexSec%.1f,"rank_bytes_exact":$vb2,"recall_at5":"$fullRecall/${fexTop.length}"}""")
      val (ffTop, ffSec) = timed(
        PQ.probePqIndexWith(s, probeFrame, pathFast, nCells, 5).select("qid", "vec_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))))
      val fastRecall = recall(ffTop, fexTop)
      println(f"""{"battery":"pqprobe","arm":"fullscan_fastbuild","vectors":$n,"build_sec":$bfSec%.1f,"adc_sec":$ffSec%.1f,"recall_at5":"$fastRecall/${fexTop.length}"}""")

      // The nProbe SERVING curve — recall@5 (vs the exact full scan,
      // so IVF route misses count) against rank-stage bytes, PQ codes
      // vs exact floats over the SAME probed cells. The PQ index's
      // cold side IS an IVF lake (same schema, same cent_id
      // partitioning), so probeIvfIndexWith serves it directly: one
      // corpus, one layout, the two temperature tiers head-to-head at
      // every nProbe.
      for (np <- Seq(1, 2, 4, 8)) {
        val (_, npCells) = PQ.routeCells(s, probesV, cents, np)
        val (pqT, pqS) = timed(
          PQ.probePqIndexWith(s, probeFrame, path, np, 5).select("qid", "vec_id")
            .collect().map(r => (r.getLong(0), r.getLong(1))))
        val (ivT, ivS) = timed(
          operators.Similarity.probeIvfIndexWith(s, probeFrame, path, np, 5)
            .select("probe_id", "vec_id")
            .collect().map(r => (r.getLong(0), r.getLong(1))))
        val pqR = recall(pqT, fexTop)
        val ivR = recall(ivT, fexTop)
        println(f"""{"battery":"pqnprobe","vectors":$n,"nprobe":$np,"probed_cells":${npCells.size},"pq_sec":$pqS%.1f,"pq_rank_bytes":${cellFiles("codes", npCells)},"pq_recall_at5":"$pqR/${fexTop.length}","ivf_sec":$ivS%.1f,"ivf_rank_bytes":${cellFiles("vectors", npCells)},"ivf_recall_at5":"$ivR/${fexTop.length}"}""")
      }

      // The oversized-shortlist RANGE pushdown form (isin -> BETWEEN
      // past the isinMaxIds dispatch): the cold scan's numOutputRows
      // (record-level parquet filtering is off by default, so this is
      // exactly the rows of the row groups the pushed range ADMITTED)
      // vs the probed cells' total. Row-group pruning under the range
      // form is DATA-DEPENDENT — it engages only when shortlist ids
      // are range-clustered AND cells span multiple 1 MB row groups;
      // on this corpus ids interleave (cluster = id % nClusters) and a
      // ~700-row cell is one row group, so the measured honest bound
      // is the partition filter (39/707 cells), with the range adding
      // nothing. The isin form (<= isinMaxIds ids, every realistic
      // serving batch) faces the same row-group geometry; its win over
      // BETWEEN is the exact parquet IN/page-level evaluation, not
      // group skipping, at this cell size.
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def allScans(pl: SparkPlan): Seq[FileSourceScanExec] = pl match {
        case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
        case q: QueryStageExec => allScans(q.plan)
        case f: FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(allScans)
      }
      val priorIsin = s.conf.getOption("spark.graft.index.isinMaxIds")
      try {
        s.conf.set("spark.graft.index.isinMaxIds", "1") // force the range branch
        val probed = PQ.probePqIndexWith(s, probeFrame, path, 4, 5)
        probed.collect()
        val coldScan = allScans(probed.queryExecution.executedPlan)
          .filter(_.metadata("PushedFilters").contains("GreaterThanOrEqual(vec_id"))
        val probedCellRows = {
          val stats = operators.Similarity.ivfCellStats(s, path)
          cells.map(c => stats.getOrElse(c, 0L)).sum
        }
        val scanned = coldScan.map(_.metrics("numOutputRows").value).sum
        println(s"""{"battery":"pqrange","vectors":$n,"probed_cell_rows":$probedCellRows,"range_scan_rows":$scanned,"row_groups_pruned":${scanned < probedCellRows}}""")
      } finally priorIsin match {
        case Some(v) => s.conf.set("spark.graft.index.isinMaxIds", v)
        case None => s.conf.unset("spark.graft.index.isinMaxIds")
      }

      // Production-class sizing: M=8 x K=256 byte codes — the round-15
      // notes predicted the fullscan recall fade (50 -> 39 -> 31/50) is
      // the 16^4 combo-space wall, and that a byte-code sizing recovers
      // it at >= 32x raw compression. Priced here on the same corpus
      // and probes; the probe path re-derives the sizing from the
      // stored codebooks (self-describing index).
      val pathMk = operators.Similarity.newIndexDir()
      val (_, bmkSec) = timed(PQ.buildPqIndex(s, root, pathMk, nCells,
        fastAssign = Some(true), params = PQ.PqParams(8, 8, 256)))
      val mkCodesBytes = dirBytes(new java.io.File(operators.IndexSwap.side(s, pathMk, "codes")))
      val (mkTop, mkSec) = timed(
        PQ.probePqIndexWith(s, probeFrame, pathMk, nCells, 5).select("qid", "vec_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))))
      val mkRecall = recall(mkTop, fexTop)
      println(f"""{"battery":"pqprobe","arm":"fullscan_m8k256","vectors":$n,"build_sec":$bmkSec%.1f,"adc_sec":$mkSec%.1f,"codes_bytes":$mkCodesBytes,"bytes_ratio":${vecBytes.toDouble / mkCodesBytes}%.1f,"recall_at5":"$mkRecall/${fexTop.length}"}""")
    }
  }

  // ---- pqdispatch -------------------------------------------------------

  /** Brackets the assignment dispatch over a CELL-COUNT sweep at fixed
    * n: full-build walls for the two real branches (flat = the BLOCKED
    * native exact argmax since round 15 — exact at any cell count;
    * fast = the two-tier approximate route), plus ASSIGNMENT-ONLY
    * walls for all three forms (native blocked / two-tier / the
    * join+window argmax) so the dispatch subject is isolated from the
    * per-cell write fan-out the build walls share. The shared
    * codebook/codes memo is prewarmed first. The window arm is skipped
    * past 4096 cells: it materializes N x cells rows, its wall is
    * linear in cells by construction, and the 136.8 s-class point was
    * already priced at fixture scale in round 16. */
  private def pqDispatch(s: SparkSession, n: Long,
      cellSweep: Seq[Int] = Seq(32, 64, 128, 256, 512, 1024)): Unit = {
    import operators.{PQ, Similarity}
    import graft.functions.VectorExprs.l2normNative
    val dim = 64
    val root = java.nio.file.Files.createTempDirectory("graft_battery_pqd").toString
    val nClusters = math.max(16L, n / 8)
    val cl = col("id") % nClusters
    val emb = transform(sequence(lit(0), lit(dim - 1)), i =>
      (((pmod(xxhash64(cl, i, lit(7)), lit(2000)).cast("double") / 1000.0) - 1.0) +
        (pmod(xxhash64(col("id"), i, lit(11)), lit(2000)).cast("double") / 1000000.0)).cast("float"))
    s.range(n).select(col("id").as("vec_id"), emb.as("embedding"), lit(0).as("label"))
      .repartitionByRange(256, col("vec_id"))
      .write.parquet(s"$root/embeddings.parquet")
    PQ.buildPqIndex(s, root, operators.Similarity.newIndexDir(), 32,
      fastAssign = Some(false)) // prewarm the codebook/codes memo
    val v = Tables.embeddings(s, root)
      .select(col("vec_id"), col("embedding"), l2normNative(col("embedding")).as("nrm"))
    cellSweep.foreach { c =>
      val cents = PQ.coarseCents(v, c)
      val localCents = s.createDataFrame(
        java.util.Arrays.asList(cents.collect(): _*), cents.schema)
      def drain(df: org.apache.spark.sql.DataFrame): Unit = {
        df.agg(sum(col("cent_id"))).head(); ()
      }
      val (_, asgNative) = timed(drain(
        Similarity.nativeAssignBlocked(v, localCents, Seq("vec_id"))))
      val (_, asgFast) = timed(drain(PQ.fastCoarseAssign(v, localCents)))
      val asgWindow =
        if (c > 4096) -1.0
        else timed(drain(PQ.coarseAssign(v, localCents)))._2
      val (_, flatSec) = timed(PQ.buildPqIndex(s, root,
        operators.Similarity.newIndexDir(), c, fastAssign = Some(false)))
      val (_, fastSec) = timed(PQ.buildPqIndex(s, root,
        operators.Similarity.newIndexDir(), c, fastAssign = Some(true)))
      println(f"""{"battery":"pqdispatch","vectors":$n,"cells":$c,"flat_sec":$flatSec%.1f,"fast_sec":$fastSec%.1f,"asg_native_sec":$asgNative%.1f,"asg_fast_sec":$asgFast%.1f,"asg_window_sec":$asgWindow%.1f,"block_cells":${PQ.nativeAssignMaxCells}}""")
    }
  }

  // ---- argmaxsweep --------------------------------------------------------

  /** Assignment-only walls at PRODUCTION cell counts. Round 16
    * measured the plan-baked literal route at ~255 s ROW-COUNT-
    * INDEPENDENT at 262k cells (every task Java-deserialized the
    * ~68 MB baked payload); round 17 routed the beyond-literal payload
    * through a broadcast variable, so this sweep now prices the
    * broadcast-native exact argmax against two-tier fastAssign. Rows
    * are the measurement subject's multiplier, not the corpus: per-row
    * cost is O(cells x dim) for exact vs O(sqrt(cells) x dim) for
    * two-tier, so the table prices where the recall-first exact
    * default stops being advisable on wall grounds. */
  private def argmaxSweep(s: SparkSession, nRows: Long, cellSweep: Seq[Int]): Unit = {
    import operators.{PQ, Similarity}
    import graft.functions.VectorExprs.l2normNative
    val dim = 64
    val root = java.nio.file.Files.createTempDirectory("graft_battery_amx").toString
    val maxCells = cellSweep.max.toLong
    val corpusN = math.max(nRows, maxCells) + 16
    val emb = transform(sequence(lit(0), lit(dim - 1)), i =>
      (((pmod(xxhash64(col("id") % 997, i, lit(7)), lit(2000)).cast("double") / 1000.0) - 1.0) +
        (pmod(xxhash64(col("id"), i, lit(11)), lit(2000)).cast("double") / 1000000.0)).cast("float"))
    s.range(corpusN).select(col("id").as("vec_id"), emb.as("embedding"), lit(0).as("label"))
      .repartitionByRange(64, col("vec_id"))
      .write.parquet(s"$root/embeddings.parquet")
    val v = Tables.embeddings(s, root)
      .select(col("vec_id"), col("embedding"), l2normNative(col("embedding")).as("nrm"))
    // Repartition the subject across the cores (round 17): the corpus
    // is range-partitioned by vec_id, so `vec_id < nRows` lands the
    // whole subject in the first 1-2 files and the drain runs
    // effectively single-threaded — the round-16 "row-count-independent
    // ~255 s wall" was two compounding artifacts, the plan-baked
    // literal's per-task deser AND this one-task evaluation (jstack
    // round 17: one RUNNABLE worker, 209 s of CPU in the codegen'd
    // argmax, 31 idle cores). A production build's scan has no such
    // skew; the sweep must measure the operator, not the fixture's
    // file layout.
    val subject = v.filter(col("vec_id") < nRows)
      .repartition(64).localCheckpoint(true)
    def drain(df: org.apache.spark.sql.DataFrame): Unit = {
      df.agg(sum(col("cent_id"))).head(); ()
    }
    cellSweep.foreach { c =>
      val cents = PQ.coarseCents(v, c)
      val localCents = s.createDataFrame(
        java.util.Arrays.asList(cents.collect(): _*), cents.schema)
      val nBlocks = (c + PQ.nativeAssignMaxCells - 1) / PQ.nativeAssignMaxCells
      // Two reps of the same drain: rep1 carries the one-time costs
      // (codegen, broadcast creation + first-task fetch), rep2 is the
      // steady state — under the retired literal route the gap was the
      // per-task deser of the baked payload (the 262k-cell ~255 s
      // wall); under the broadcast route both reps should be argmax
      // arithmetic.
      val (_, blockedSec) = timed(drain(
        Similarity.nativeAssignBlocked(subject, localCents, Seq("vec_id"))))
      val (_, blockedSec2) = timed(drain(
        Similarity.nativeAssignBlocked(subject, localCents, Seq("vec_id"))))
      val (_, fastSec) = timed(drain(PQ.fastCoarseAssign(subject, localCents)))
      println(f"""{"battery":"argmaxsweep","rows":$nRows,"cells":$c,"blocks":$nBlocks,"blocked_sec":$blockedSec%.1f,"blocked_rep2_sec":$blockedSec2%.1f,"two_tier_sec":$fastSec%.1f}""")
    }
  }

  // ---- pqserve ----------------------------------------------------------

  /** Shared clustered-corpus generator for the PQ arms (the pq /
    * pqdispatch fixture shape: n/8 clusters of 8 near-identical
    * members — see [[pq]] for why uniform noise would measure the
    * corpus, not the operator). */
  private def pqClusteredCorpus(s: SparkSession, n: Long, tag: String): String = {
    val dim = 64
    val root = java.nio.file.Files.createTempDirectory(s"graft_battery_$tag").toString
    val nClusters = math.max(16L, n / 8)
    val cl = col("id") % nClusters
    val emb = transform(sequence(lit(0), lit(dim - 1)), i =>
      (((pmod(xxhash64(cl, i, lit(7)), lit(2000)).cast("double") / 1000.0) - 1.0) +
        (pmod(xxhash64(col("id"), i, lit(11)), lit(2000)).cast("double") / 1000000.0)).cast("float"))
    s.range(n).select(col("id").as("vec_id"), emb.as("embedding"), lit(0).as("label"))
      .repartitionByRange(256, col("vec_id"))
      .write.parquet(s"$root/embeddings.parquet")
    root
  }

  /** Distributed exact-cosine top-5 for the declared probes — the
    * ground truth the serve arms score recall against. */
  private def pqExactTop5(s: SparkSession, root: String): Array[(Long, Long)] = {
    import graft.functions.VectorExprs.{dotNative, l2normNative}
    val v = Tables.embeddings(s, root)
      .select(col("vec_id"), col("embedding"), l2normNative(col("embedding")).as("nrm"))
    val probes = v.filter(col("vec_id") < 10)
    val probesV = s.createDataFrame(
      java.util.Arrays.asList(probes.collect(): _*), probes.schema)
    val sc = e6(cosine(dotNative(col("qe"), col("de")), col("qn"), col("dn")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score_e6").desc, col("vec_id").asc)
    v.select(col("vec_id"), col("embedding").as("de"), col("nrm").as("dn"))
      .join(broadcast(probesV.select(col("vec_id").as("qid"),
        col("embedding").as("qe"), col("nrm").as("qn"))), expr("true"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), sc.as("score_e6"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
  }

  private def pqRecall(a: Array[(Long, Long)], b: Array[(Long, Long)]): Int = {
    val bm = b.groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    a.count { case (q, v) => bm.getOrElse(q, Set.empty)(v) }
  }

  /** The 4M-scale serve point (round-13 verdict task 7): ONE two-tier
    * byte-code build at sqrt(n) cells, then the nProbe serving curve —
    * recall@5 vs the exact full scan (route misses count), rank-stage
    * bytes filesystem-derived per tier. The flat-assignment baseline
    * arm is deliberately absent: at 4M x 2000 cells the flat argmax is
    * the measured N^1.5 wall the dispatch exists to avoid. */
  private def pqServe(s: SparkSession, n: Long): Unit = {
    import operators.PQ
    val root = pqClusteredCorpus(s, n, "pqs")
    val nCells = math.max(16, math.sqrt(n.toDouble).toInt)
    val path = operators.Similarity.newIndexDir()
    // Default dispatch (round 14): native EXACT assignment at <= 1024
    // cells, two-tier beyond — so this arm measures what a production
    // build actually runs at this scale.
    val (_, bSec) = timed(PQ.buildPqIndex(s, root, path, nCells,
      params = PQ.PqParams(8, 8, 256)))
    def dirBytes(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).map(dirBytes).sum
      else if (f.getName.endsWith(".parquet")) f.length else 0L
    val codesBytes = dirBytes(new java.io.File(operators.IndexSwap.side(s, path, "codes")))
    val vecBytes = dirBytes(new java.io.File(operators.IndexSwap.side(s, path, "vectors")))
    println(f"""{"battery":"pqserve","vectors":$n,"cells":$nCells,"build_sec":$bSec%.1f,"codes_bytes":$codesBytes,"vectors_bytes":$vecBytes,"bytes_ratio":${vecBytes.toDouble / codesBytes}%.1f}""")
    val exact = pqExactTop5(s, root)
    val probeFrame = Tables.embeddings(s, root).filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
    def cellFiles(sub: String, cs: Seq[Long]): Long =
      cs.map(c => dirBytes(new java.io.File(s"${operators.IndexSwap.side(s, path, sub)}/cent_id=$c"))).sum
    val cents = s.read.parquet(operators.IndexSwap.side(s, path, "centroids"))
    for (np <- Seq(1, 2, 4, 8, 16)) {
      val probesRaw = Tables.embeddings(s, root).filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"),
          graft.functions.VectorExprs.l2normNative(col("embedding")).as("nrm"))
      val probesV = s.createDataFrame(
        java.util.Arrays.asList(probesRaw.collect(): _*), probesRaw.schema)
      val (_, npCells) = PQ.routeCells(s, probesV, cents, np)
      val (top, sec) = timed(
        PQ.probePqIndexWith(s, probeFrame, path, np, 5).select("qid", "vec_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))))
      println(f"""{"battery":"pqserve_nprobe","vectors":$n,"nprobe":$np,"probed_cells":${npCells.size},"serve_sec":$sec%.1f,"rank_bytes_codes":${cellFiles("codes", npCells)},"rank_bytes_floats":${cellFiles("vectors", npCells)},"recall_at5":"${pqRecall(top, exact)}/${exact.length}"}""")
    }
  }

  // ---- pqiters ------------------------------------------------------------

  /** Lloyd depth at FIXED compression (round-13 verdict task 6): the
    * byte-code sizing erased the K=16 recall fade; does a deeper
    * deterministic Lloyd chain buy anything more? One build + full-scan
    * serve per iters, same corpus, same probes, recall vs the exact
    * full scan. */
  private def pqIters(s: SparkSession, n: Long): Unit = {
    import operators.PQ
    val root = pqClusteredCorpus(s, n, "pqi")
    val nCells = math.max(16, math.sqrt(n.toDouble).toInt)
    val exact = pqExactTop5(s, root)
    val probeFrame = Tables.embeddings(s, root).filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
    for (it <- Seq(1, 2, 3)) {
      val path = operators.Similarity.newIndexDir()
      val (_, bSec) = timed(PQ.buildPqIndex(s, root, path, nCells,
        fastAssign = Some(true), params = PQ.PqParams(8, 8, 256), iters = it))
      val (top, sec) = timed(
        PQ.probePqIndexWith(s, probeFrame, path, nCells, 5).select("qid", "vec_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))))
      println(f"""{"battery":"pqiters","vectors":$n,"iters":$it,"build_sec":$bSec%.1f,"fullscan_serve_sec":$sec%.1f,"recall_at5":"${pqRecall(top, exact)}/${exact.length}"}""")
    }
  }

  // ---- pqlat --------------------------------------------------------------

  /** Serving-latency breakdown: the pqserve curve showed the probe
    * wall FLAT across nProbe (~5.5 s at 1M, ~9 s at 4M) — fixed
    * per-call costs dominate, not rank IO. This arm times each fixed
    * stage of [[operators.PQ.probePqIndexWith]] in isolation (meta
    * read, probe collect, routing, then the full call twice — the
    * second run isolates what page cache and codegen reuse give back),
    * so the latency budget is attributed before anyone optimizes it. */
  private def pqLat(s: SparkSession, n: Long): Unit = {
    import operators.PQ
    import graft.functions.VectorExprs.l2normNative
    val root = pqClusteredCorpus(s, n, "pql")
    val nCells = math.max(16, math.sqrt(n.toDouble).toInt)
    val path = operators.Similarity.newIndexDir()
    PQ.buildPqIndex(s, root, path, nCells,
      fastAssign = Some(true), params = PQ.PqParams(8, 8, 256))
    val probeFrame = Tables.embeddings(s, root).filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
    val (_, metaSec) = timed(PQ.indexMeta(s, path))
    val probesRaw = probeFrame.select(col("vec_id"), col("embedding"),
      l2normNative(col("embedding")).as("nrm"))
    val (probeRows, collectSec) = timed(probesRaw.collect())
    val probesV = s.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probesRaw.schema)
    val cents = s.read.parquet(operators.IndexSwap.side(s, path, "centroids"))
    val (_, routeSec) = timed(PQ.routeCells(s, probesV, cents, 4))
    val (_, cold1) = timed(PQ.probePqIndexWith(s, probeFrame, path, 4, 5).collect())
    val (_, warm) = timed(PQ.probePqIndexWith(s, probeFrame, path, 4, 5).collect())
    // The serve-session handle: fixed stages (version resolve, meta
    // read, centroid/codebook collects) paid once at open; each later
    // call pays one liveVersion LIST check + the data-side work.
    val (handle, openSec) = timed(PQ.openPqIndex(s, path))
    val (_, h1) = timed(handle.probeWith(s, probeFrame, 4, 5).collect())
    val (_, h2) = timed(handle.probeWith(s, probeFrame, 4, 5).collect())
    val (_, h3) = timed(handle.probeWith(s, probeFrame, 4, 5).collect())
    println(f"""{"battery":"pqlat","vectors":$n,"cells":$nCells,"meta_sec":$metaSec%.2f,"probe_collect_sec":$collectSec%.2f,"route_sec":$routeSec%.2f,"full_cold_sec":$cold1%.2f,"full_warm_sec":$warm%.2f,"handle_open_sec":$openSec%.2f,"handle_probe_secs":[$h1%.2f,$h2%.2f,$h3%.2f]}""")
    // Round-15 verdict task 7: the handle's store-traffic win priced
    // by MEASUREMENT, not arithmetic. (a) bytesRead attribution — the
    // Hadoop "file"-scheme counter around each arm isolates how many
    // index bytes a per-call probe re-reads that a handle probe never
    // touches (meta + centroid + codebook sides); each such read is an
    // object-store round-trip on a fleet. (b) COLD-cache walls — the
    // page cache is dropped before each arm (local-fs cold read stands
    // in for the store's first-byte latency), pricing per-call vs
    // handle serving when nothing is resident.
    def readBytes(): Long = Option(
      org.apache.hadoop.fs.GlobalStorageStatistics.INSTANCE.get("file"))
      .flatMap(st => Option(st.getLong("bytesRead")).map(Long2long)).getOrElse(0L)
    def bytesOf[A](f: => A): Long = { val b0 = readBytes(); f; readBytes() - b0 }
    val perCallBytes = bytesOf(PQ.probePqIndexWith(s, probeFrame, path, 4, 5).collect())
    val handleBytes = bytesOf(handle.probeWith(s, probeFrame, 4, 5).collect())
    def dropCaches(): Boolean =
      try new ProcessBuilder("sh", "-c", "sync; echo 3 > /proc/sys/vm/drop_caches")
        .start().waitFor() == 0
      catch { case _: Exception => false }
    if (!dropCaches())
      println("""{"battery":"pqlat_cold","skipped":"drop_caches unavailable"}""")
    else {
      val (_, coldPerCall) = timed(PQ.probePqIndexWith(s, probeFrame, path, 4, 5).collect())
      dropCaches()
      val (coldHandle, coldOpen) = timed(PQ.openPqIndex(s, path))
      val (_, coldH1) = timed(coldHandle.probeWith(s, probeFrame, 4, 5).collect())
      dropCaches()
      // Steady-state cold serving call: the handle is open and warm,
      // only the cell-scoped data sides are cold.
      val (_, coldH2) = timed(coldHandle.probeWith(s, probeFrame, 4, 5).collect())
      println(f"""{"battery":"pqlat_cold","vectors":$n,"cells":$nCells,"percall_read_bytes":$perCallBytes,"handle_read_bytes":$handleBytes,"fixed_overhead_bytes":${perCallBytes - handleBytes},"cold_percall_sec":$coldPerCall%.2f,"cold_open_sec":$coldOpen%.2f,"cold_handle_first_sec":$coldH1%.2f,"cold_handle_steady_sec":$coldH2%.2f}""")
    }
  }

  // ---- ladder -------------------------------------------------------------

  /** Prices the two FLAT quantization rungs at scale (round-14 verdict
    * task 4 — the ladder table had PQ rows only): persisted SQ8 and
    * persisted binary-signature indexes on the shared clustered corpus
    * — build / append / rebalance walls, rank-stage bytes (these rungs
    * scan their whole codes side per probe batch — no IVF tier), and
    * serve recall@5 vs the exact full scan. */
  private def ladder(s: SparkSession, n: Long): Unit = {
    import operators.{BinarySig, SQ8}
    val root = pqClusteredCorpus(s, n, "lad")
    val exact = pqExactTop5(s, root)
    val probeFrame = Tables.embeddings(s, root).filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
    val appendVecs = Tables.embeddings(s, root).filter(col("vec_id") < n / 10)
      .select((col("vec_id") + n).as("vec_id"), col("embedding"))
    def dirBytes(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).map(dirBytes).sum
      else if (f.getName.endsWith(".parquet")) f.length else 0L
    def recall(a: Array[(Long, Long)], b: Array[(Long, Long)]): Int = {
      val bm = b.groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
      a.count { case (q, v) => bm.getOrElse(q, Set.empty)(v) }
    }
    // SQ8 rung.
    locally {
      val path = operators.Similarity.newIndexDir()
      val (_, bSec) = timed(SQ8.buildSq8Index(s, root, path))
      val codesBytes = dirBytes(new java.io.File(operators.IndexSwap.side(s, path, "codes")))
      val vecBytes = dirBytes(new java.io.File(operators.IndexSwap.side(s, path, "vectors")))
      val (top, pSec) = timed(SQ8.probeSq8Index(s, root, path, 5)
        .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))))
      val (_, aSec) = timed(SQ8.appendToSq8Index(s, appendVecs, path))
      val (_, rSec) = timed(SQ8.rebalance(s, path))
      println(f"""{"battery":"ladder","rung":"sq8","vectors":$n,"build_sec":$bSec%.1f,"probe_sec":$pSec%.1f,"append_sec":$aSec%.1f,"rebalance_sec":$rSec%.1f,"rank_bytes":$codesBytes,"cold_bytes":$vecBytes,"bytes_ratio":${vecBytes.toDouble / codesBytes}%.1f,"recall_at5":"${recall(top, exact)}/${exact.length}"}""")
    }
    // Binary (1-bit signature) rung.
    locally {
      val path = operators.Similarity.newIndexDir()
      val (_, bSec) = timed(BinarySig.buildBinIndex(s, root, path))
      val codesBytes = dirBytes(new java.io.File(operators.IndexSwap.side(s, path, "codes")))
      val vecBytes = dirBytes(new java.io.File(operators.IndexSwap.side(s, path, "vectors")))
      val (top, pSec) = timed(BinarySig.probeBinIndex(s, root, path, 5)
        .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))))
      val (_, aSec) = timed(BinarySig.appendToBinIndex(s, appendVecs, path))
      val (_, rSec) = timed(BinarySig.rebalance(s, path))
      println(f"""{"battery":"ladder","rung":"binary","vectors":$n,"build_sec":$bSec%.1f,"probe_sec":$pSec%.1f,"append_sec":$aSec%.1f,"rebalance_sec":$rSec%.1f,"rank_bytes":$codesBytes,"cold_bytes":$vecBytes,"bytes_ratio":${vecBytes.toDouble / codesBytes}%.1f,"recall_at5":"${recall(top, exact)}/${exact.length}"}""")
    }
    // IVF + SQ8 composed rung (round-15 verdict task 2): the route
    // bounds which code files the rank stage OPENS — rank_bytes here
    // is the PROBED cells' code bytes (what a probe batch actually
    // reads), against the flat SQ8 rung's whole-codes-side rank_bytes
    // above. codes_bytes is the full lake for reference.
    locally {
      val path = operators.Similarity.newIndexDir()
      val nCells = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
      val (_, bSec) = timed(operators.IvfSq8.buildIvfSq8Index(s, root, nCells, path))
      val r0 = operators.IndexSwap.liveRoot(s, path)
      val codesBytes = dirBytes(new java.io.File(s"$r0/codes"))
      val vecBytes = dirBytes(new java.io.File(s"$r0/vectors"))
      val cents = s.read.parquet(s"$r0/centroids")
      val probesN = Tables.embeddings(s, root).filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"),
          graft.functions.VectorExprs.l2normNative(col("embedding")).as("nrm"))
      val cells = operators.Similarity.ivfRouteFlat(probesN, cents, 4)
        .select("cent_id").distinct().collect().map(_.getLong(0))
      val rankBytes = cells.map(c =>
        dirBytes(new java.io.File(s"$r0/codes/cent_id=$c"))).sum
      val (top, pSec) = timed(operators.IvfSq8.probeIvfSq8Index(s, root, path, 4, 5)
        .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))))
      println(f"""{"battery":"ladder","rung":"ivfsq8","vectors":$n,"cells":$nCells,"n_probe":4,"build_sec":$bSec%.1f,"probe_sec":$pSec%.1f,"rank_bytes":$rankBytes,"codes_bytes":$codesBytes,"cold_bytes":$vecBytes,"prune_ratio":${codesBytes.toDouble / math.max(1L, rankBytes)}%.1f,"recall_at5":"${recall(top, exact)}/${exact.length}"}""")
    }
  }

  // ---- ladderdim ----------------------------------------------------------

  /** The flat rungs at PRODUCTION dimensionality (round-15 verdict
    * task 1): derive a `dims`-wide corpus from the clustered fixture
    * (permuted sign-flipped 64-dim replicas — the qn46 derivation at
    * any multiple of 64), then price build/probe/recall for the
    * multi-word binary signature and the width-generic SQ8 envelope,
    * plus the parameterized matryoshka prefix (dims/4, in-flight). */
  private def ladderDim(s: SparkSession, n: Long, dims: Int): Unit = {
    import operators.{BinarySig, SQ8}
    require(dims % 64 == 0 && dims >= 64, s"ladderdim: dims must be a multiple of 64, got $dims")
    val mult = dims / 64
    val root = pqClusteredCorpus(s, n, s"ldim$dims")
    // The ONE wide-corpus derivation (round-16 ADVICE: an inline copy
    // here could drift from the oracle-pinned qn46/qn47 derivation).
    val wide = Tables.embeddings(s, root)
      .select(col("vec_id"),
        operators.Similarity.wideEmb(col("embedding"), mult).as("embedding"))
      .localCheckpoint(true)
    val probes = wide.filter(col("vec_id") < 10)
    // Exact truth over the WIDE corpus (the flat rungs' denominator).
    val v = wide.withColumn("nrm",
      graft.functions.VectorExprs.l2normNative(col("embedding")))
    val refScore = graft.functions.TextFns.e6(graft.functions.TextFns.cosine(
      graft.functions.VectorExprs.dotNative(col("qe"), col("de")), col("qn"), col("dn")))
    val wEx = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score_e6").desc, col("vec_id").asc)
    val exact = v.select(col("vec_id"), col("embedding").as("de"), col("nrm").as("dn"))
      .join(broadcast(v.filter(col("vec_id") < 10).select(col("vec_id").as("qid"),
        col("embedding").as("qe"), col("nrm").as("qn"))), expr("true"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), refScore.as("score_e6"))
      .withColumn("rnk", org.apache.spark.sql.functions.row_number().over(wEx))
      .filter(col("rnk") <= 5).select("qid", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def recall(a: Array[(Long, Long)]): Int = {
      val bm = exact.groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
      a.count { case (q, vv) => bm.getOrElse(q, Set.empty)(vv) }
    }
    def dirBytes(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).map(dirBytes).sum
      else if (f.getName.endsWith(".parquet")) f.length else 0L
    locally {
      val path = operators.Similarity.newIndexDir()
      val (_, bSec) = timed(BinarySig.buildBinIndexFrom(s, wide, path, dims))
      val codesBytes = dirBytes(new java.io.File(operators.IndexSwap.side(s, path, "codes")))
      val (top, pSec) = timed(BinarySig.probeBinIndexWith(s, probes, path, 5)
        .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))))
      println(f"""{"battery":"ladderdim","rung":"binary","vectors":$n,"dims":$dims,"sig_words":${(dims + 63) / 64},"build_sec":$bSec%.1f,"probe_sec":$pSec%.1f,"rank_bytes":$codesBytes,"recall_at5":"${recall(top)}/${exact.length}"}""")
    }
    locally {
      val path = operators.Similarity.newIndexDir()
      val (_, bSec) = timed(SQ8.buildSq8IndexFrom(s, wide, path))
      val codesBytes = dirBytes(new java.io.File(operators.IndexSwap.side(s, path, "codes")))
      val (top, pSec) = timed(SQ8.probeSq8IndexWith(s, probes, path, 5)
        .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))))
      println(f"""{"battery":"ladderdim","rung":"sq8","vectors":$n,"dims":$dims,"build_sec":$bSec%.1f,"probe_sec":$pSec%.1f,"rank_bytes":$codesBytes,"recall_at5":"${recall(top)}/${exact.length}"}""")
    }
    locally {
      // PERSISTED matryoshka (round-16 verdict task 3): the prefix side
      // stores once — rank bytes are the prefix lake, D/prefix x under
      // the float column the in-flight qn48 plan re-derived per call.
      val path = operators.Similarity.newIndexDir()
      val (_, bSec) = timed(
        operators.Matryoshka.buildMatryoshkaIndexFrom(s, wide, dims / 4, path))
      val preBytes = dirBytes(new java.io.File(
        operators.IndexSwap.side(s, path, "prefix").stripPrefix("file:")))
      val (top, pSec) = timed(
        operators.Matryoshka.probeMatryoshkaIndexWith(s, probes, path, 5)
          .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))))
      println(f"""{"battery":"ladderdim","rung":"matryoshka","vectors":$n,"dims":$dims,"prefix":${dims / 4},"build_sec":$bSec%.1f,"probe_sec":$pSec%.1f,"rank_bytes":$preBytes,"recall_at5":"${recall(top)}/${exact.length}"}""")
    }
    locally {
      // Composed IVF + SQ8 at production width (round-16 verdict task
      // 4): both prunings at 256 dims — rank_bytes is the PROBED
      // cells' code bytes, the flat rungs' whole-side rank_bytes above
      // are the comparison.
      val path = operators.Similarity.newIndexDir()
      val nCells = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
      val (_, bSec) = timed(
        operators.IvfSq8.buildIvfSq8IndexFrom(s, wide, nCells, path))
      val r0 = operators.IndexSwap.liveRoot(s, path)
      def lb(p: String) = dirBytes(new java.io.File(p.stripPrefix("file:")))
      val codesBytes = lb(s"$r0/codes")
      val vecBytes = lb(s"$r0/vectors")
      val cents = s.read.parquet(s"$r0/centroids")
      val probesN = probes.withColumn("nrm",
        graft.functions.VectorExprs.l2normNative(col("embedding")))
      val cells = operators.Similarity.ivfRouteFlat(probesN, cents, 4)
        .select("cent_id").distinct().collect().map(_.getLong(0))
      val rankBytes = cells.map(c => lb(s"$r0/codes/cent_id=$c")).sum
      val (top, pSec) = timed(
        operators.IvfSq8.probeIvfSq8IndexWith(s, probes, path, 4, 5)
          .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))))
      println(f"""{"battery":"ladderdim","rung":"ivfsq8","vectors":$n,"dims":$dims,"cells":$nCells,"n_probe":4,"build_sec":$bSec%.1f,"probe_sec":$pSec%.1f,"rank_bytes":$rankBytes,"codes_bytes":$codesBytes,"cold_bytes":$vecBytes,"prune_ratio":${codesBytes.toDouble / math.max(1L, rankBytes)}%.1f,"recall_at5":"${recall(top)}/${exact.length}"}""")
    }
  }

  // ---- tombstone ----------------------------------------------------------

  /** Price the round-17 lifecycle verbs at 1M on the composed index:
    * clean probe vs probe with a 10% unreclaimed tombstone window vs
    * post-reclaim probe (the anti-join's cost and its removal), the
    * filtered probe (allowed-frame semi-join), and the reclaim rebuild
    * itself. */
  private def tombstone(s: SparkSession, n: Long): Unit = {
    import operators.IvfSq8
    val root = pqClusteredCorpus(s, n, "tomb")
    val nCells = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
    val path = operators.Similarity.newIndexDir()
    val (_, bSec) = timed(IvfSq8.buildIvfSq8Index(s, root, nCells, path))
    def probe() = timed(IvfSq8.probeIvfSq8Index(s, root, path, 4, 5).collect())
    val (_, warm) = probe() // absorb first-probe codegen
    val (cleanRows, cleanSec) = probe()
    val allowed = Tables.embeddings(s, root)
      .filter(col("vec_id") % 3 === 1).select("vec_id")
    val (filtRows, filtSec) = timed(IvfSq8.probeIvfSq8IndexWith(s,
      Tables.embeddings(s, root).filter(col("vec_id") < 10)
        .select("vec_id", "embedding"),
      path, 4, 5, allowed = Some(allowed)).collect())
    val (_, dSec) = timed(IvfSq8.delete(s,
      Tables.embeddings(s, root).filter(col("vec_id") % 10 === 4).select("vec_id"),
      path))
    val (tombRows, tombSec) = probe()
    val r0 = operators.IndexSwap.liveRoot(s, path)
    def lb(p: String) = {
      def go(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).map(go).sum
        else if (f.getName.endsWith(".parquet")) f.length else 0L
      go(new java.io.File(p.stripPrefix("file:")))
    }
    val delBytes = lb(s"$r0/deletes")
    val (_, rSec) = timed(IvfSq8.rebalance(s, path))
    val (_, warm2) = probe() // fresh version: codegen/listing warm-up again
    val (cleanRows2, clean2Sec) = probe()
    println(f"""{"battery":"tombstone","vectors":$n,"cells":$nCells,"build_sec":$bSec%.1f,"probe_clean_sec":$cleanSec%.2f,"probe_filtered_sec":$filtSec%.2f,"delete_sec":$dSec%.1f,"probe_tombstoned_sec":$tombSec%.2f,"deletes_bytes":$delBytes,"reclaim_sec":$rSec%.1f,"probe_reclaimed_sec":$clean2Sec%.2f,"rows":"${cleanRows.length}/${filtRows.length}/${tombRows.length}/${cleanRows2.length}","warm":"$warm%.2f/$warm2%.2f"}""")
  }

  // ---- range --------------------------------------------------------------

  /** Prices the qn64 RANGE verb at scale on the clustered corpus:
    * per radius, the prescreen's candidate survival (the byte bound's
    * pruning power — the whole point of the compressed tier), the
    * two-tier wall, and a BRUTE arm (exact e6 distance over the full
    * float side, no prescreen — same rows by construction, so the delta
    * is what the bound buys). Radii bracket the corpus's cluster
    * geometry: within-cluster (~6.4e7 e6² on this generator), the
    * cluster boundary, and a loose sweep. */
  private def rangeB(s: SparkSession, n: Long): Unit = {
    import operators.{IndexSwap, SQ8}
    import graft.functions.VectorExprs.{intSqDistNative, intSqLowerBoundNative}
    val root = pqClusteredCorpus(s, n, "range")
    val path = operators.Similarity.newIndexDir()
    val (_, bSec) = timed(SQ8.buildSq8Index(s, root, path))
    val r0 = IndexSwap.liveRoot(s, path)
    val probesDf = Tables.embeddings(s, root).filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
    val radii = Seq(100000000L, 1000000000L, 100000000000L)
    val out = radii.map { t2 =>
      val (rows, sec) = timed(
        SQ8.rangeSq8Index(s, root, path, t2).collect())
      // Prescreen survival: the codes-scan filter alone (what the
      // refine would read), through the REAL encoder (SQ8.q8Col — one
      // definition; an inline replica here could drift from the plan
      // the verb actually runs).
      val (mna, spa) = SQ8.collectStats(
        s.read.parquet(IndexSwap.sideAt(r0, "stats")))
      val pq8 = SQ8.ve6Of(probesDf)
        .select(col("vec_id").as("qid"),
          SQ8.q8Col(mna, spa, clamp = true).as("pq8"))
      val spansLit = array(spa.map(lit(_)): _*)
      val surv = s.read.parquet(IndexSwap.sideAt(r0, "codes"))
        .join(broadcast(pq8), expr("true"))
        .filter(col("vec_id") =!= col("qid"))
        .filter(intSqLowerBoundNative(col("q8"), col("pq8"), spansLit) <= lit(t2))
        .count()
      // Brute arm: no prescreen — exact distance over every float row.
      val pe6 = Tables.embeddings(s, root).filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), transform(col("embedding"),
          x => floor(x.cast("double") * 1000000).cast("long")).as("pe6"))
      val (bruteRows, bruteSec) = timed(
        s.read.parquet(IndexSwap.sideAt(r0, "vectors"))
          .select(col("vec_id"), transform(col("embedding"),
            x => floor(x.cast("double") * 1000000).cast("long")).as("de6"))
          .join(broadcast(pe6), expr("true"))
          .filter(col("vec_id") =!= col("qid"))
          .filter(intSqDistNative(col("de6"), col("pe6")) <= lit(t2))
          .count())
      require(bruteRows == rows.length,
        s"range@$t2: two-tier ${rows.length} rows != brute $bruteRows — bound not lossless")
      (t2, rows.length, surv, sec, bruteSec)
    }
    val js = out.map { case (t2, rws, sv, sec, bsec) =>
      f"""{"t2":$t2,"rows":$rws,"prescreen_rows":$sv,"range_sec":$sec%.2f,"brute_sec":$bsec%.2f}"""
    }.mkString("[", ",", "]")
    println(f"""{"battery":"range","vectors":$n,"build_sec":$bSec%.1f,"radii":$js}""")
  }

  // ---- text ---------------------------------------------------------------

  /** Prices the persisted inverted index (qn69) at scale against the
    * in-flight keyword tier it replaces: synthetic N-doc corpus
    * (~40-word docs over a 50k-term Zipf-ish vocab), one build, then
    * per-probe walls for the index probe (term-pruned postings read)
    * vs the qn65-style in-flight recompute (full-corpus tokenize +
    * aggregate per query). The gap IS the build's amortization
    * argument. */
  private def textB(s: SparkSession, n: Long): Unit = {
    import operators.TextIndex
    val root = java.nio.file.Files.createTempDirectory("graft_battery_text").toString
    // ~40 tokens/doc; term ids skew toward the low end (square of a
    // uniform hash) so df varies across terms like real text.
    val words = transform(sequence(lit(0), lit(39)), i => concat(lit("w"),
      (pmod(xxhash64(col("doc_id"), i), lit(50000)) *
        pmod(xxhash64(col("doc_id"), i, lit(3)), lit(50000)) / lit(50000))
        .cast("long").cast("string")))
    s.range(n).select(col("id").as("doc_id"),
        array_join(words, " ").as("text"), lit("en").as("lang"),
        lit("synth").as("source"), lit(0L).as("n_chars"))
      .repartitionByRange(256, col("doc_id"))
      .write.parquet(s"$root/documents.parquet")
    val path = operators.Similarity.newIndexDir()
    val (_, bSec) = timed(TextIndex.buildTextIndex(s, root, path))
    val queries = Tables.documents(s, root).filter(col("doc_id") < 5)
      .select("doc_id", "text")
    val handle = TextIndex.openTextIndex(s, path)
    val (_, warm) = timed(handle.probeWith(s, queries, 10).collect())
    val (idxRows, idxSec) = timed(handle.probeWith(s, queries, 10).collect())
    // The in-flight arm: qn65's keyword tier verbatim over the same
    // corpus (tokenize + tf/df/dl/N/T per call).
    def inflight() = {
      val docs = Tables.documents(s, root)
      val tk = docs.select(col("doc_id"),
        explode(graft.functions.TextFns.tokens(col("text"))).as("term"))
        .localCheckpoint(true)
      val tf = tk.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfT = tk.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
      val dl = tk.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val qt = tk.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("term")).distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("kws").desc, col("doc_id").asc)
      qt.join(tf, "term").filter(col("doc_id") =!= col("qid"))
        .join(dfT.hint("SHUFFLE_HASH"), "term")
        .join(dl, "doc_id")
        .crossJoin(docs.agg(count(lit(1)).as("n")))
        .crossJoin(tk.agg(count(lit(1)).as("t")))
        .withColumn("contrib", expr(
          "(22 * tf * ((n * 1000000) div df)) div (10 * tf + 3 + (9 * dl * n) div t)"))
        .groupBy("qid", "doc_id").agg(sum(col("contrib")).as("kws"))
        .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 10)
        .collect()
    }
    val (inRows, inSec) = timed(inflight())
    // Full-row equality, not a count: both arms emit min(k, cands)
    // rows regardless, so only (qid, rnk, doc_id, kws) parity actually
    // gates the equivalence the speedup claim rests on.
    val idxSet = idxRows.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    val inSet = inRows.map(r =>
      (r.getLong(r.fieldIndex("qid")), r.getInt(r.fieldIndex("rnk")).toLong,
       r.getLong(r.fieldIndex("doc_id")), r.getLong(r.fieldIndex("kws")))).sorted.toSeq
    require(idxSet == inSet,
      s"text battery: arms disagree — idx ${idxSet.take(2)} vs inflight ${inSet.take(2)}")
    val postBytes = {
      def go(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).map(go).sum
        else if (f.getName.endsWith(".parquet")) f.length else 0L
      go(new java.io.File(operators.IndexSwap.side(s, path, "postings").stripPrefix("file:")))
    }
    println(f"""{"battery":"text","docs":$n,"build_sec":$bSec%.1f,"probe_sec":$idxSec%.2f,"probe_warm_sec":$warm%.2f,"inflight_sec":$inSec%.1f,"speedup":${inSec / math.max(idxSec, 0.001)}%.1f,"postings_bytes":$postBytes,"rows":${idxRows.length}}""")
  }

  // ---- pqlife -------------------------------------------------------------

  /** The END-TO-END index lifecycle at scale (round-14 verdict task 8
    * — the 4M evidence covered build + serve only): build(n) ->
    * drift-shaped append(+n/10, all near one direction) -> the
    * measured trigger drops the due marker -> PQ.maintain runs the
    * deferred rebalance -> serve curve, with walls per stage and
    * recall before/after the rebalance (vs the exact scan over the
    * GROWN lake, so the drift rows count). */
  private def pqLife(s: SparkSession, n: Long): Unit = {
    import operators.PQ
    import graft.functions.VectorExprs.l2normNative
    val root = pqClusteredCorpus(s, n, "pqlf")
    val nCells = math.max(16, math.sqrt(n.toDouble).toInt)
    val path = operators.Similarity.newIndexDir()
    val (_, bSec) = timed(PQ.buildPqIndex(s, root, path, nCells,
      params = PQ.PqParams(8, 8, 256)))
    val probeFrame = Tables.embeddings(s, root).filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
    // Exact ground truth over the ORIGINAL corpus for the pre-append
    // serve point.
    val exact0 = pqExactTop5(s, root)
    def recall(a: Array[(Long, Long)], b: Array[(Long, Long)]): Int = {
      val bm = b.groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
      a.count { case (q, v) => bm.getOrElse(q, Set.empty)(v) }
    }
    val (top0, s0) = timed(PQ.probePqIndexWith(s, probeFrame, path, 8, 5)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))))
    // Drift flood: n/10 near-identical vectors around one direction
    // (the IvfRebalanceSpec shape at battery scale) — under the
    // build-time centroids they concentrate into a few cells.
    val dim = 64
    val nNew = n / 10
    val driftEmb = transform(sequence(lit(0), lit(dim - 1)), i =>
      (cos(i.cast("double") * 0.05) +
        (pmod(xxhash64(col("id"), i, lit(13)), lit(2000)).cast("double") / 1000000.0)).cast("float"))
    val drift = s.range(nNew).select((col("id") + n).as("vec_id"), driftEmb.as("embedding"))
    val (_, aSec) = timed(PQ.appendToPqIndex(s, drift, path, autoRebalance = Some(4)))
    val due = operators.IndexSwap.fsOf(s, path)
      .exists(new org.apache.hadoop.fs.Path(s"$path/_rebalance_due"))
    val (ran, mSec) = timed(PQ.maintain(s, path))
    val cellsAfter = operators.Similarity.ivfCellStats(s, path).size
    // Exact ground truth over the GROWN lake (original + drift).
    val grown = Tables.embeddings(s, root)
      .select(col("vec_id"), col("embedding"))
      .unionByName(drift)
      .select(col("vec_id"), col("embedding"), l2normNative(col("embedding")).as("nrm"))
    val probesV = s.createDataFrame(
      java.util.Arrays.asList(grown.filter(col("vec_id") < 10).collect(): _*),
      grown.schema)
    val sc = e6(cosine(graft.functions.VectorExprs.dotNative(col("qe"), col("de")),
      col("qn"), col("dn")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score_e6").desc, col("vec_id").asc)
    val exactG = grown.select(col("vec_id"), col("embedding").as("de"), col("nrm").as("dn"))
      .join(broadcast(probesV.select(col("vec_id").as("qid"),
        col("embedding").as("qe"), col("nrm").as("qn"))), expr("true"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), sc.as("score_e6"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
      .select(col("qid"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (topG, sG) = timed(PQ.probePqIndexWith(s, probeFrame, path, 8, 5)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))))
    println(f"""{"battery":"pqlife","vectors":$n,"cells":$nCells,"build_sec":$bSec%.1f,"serve0_sec":$s0%.1f,"recall0_at5":"${recall(top0, exact0)}/${exact0.length}","append_sec":$aSec%.1f,"drift_rows":$nNew,"due_marker":$due,"rebalance_ran":$ran,"rebalance_sec":$mSec%.1f,"cells_after":$cellsAfter,"serve_after_sec":$sG%.1f,"recall_after_at5":"${recall(topG, exactG)}/${exactG.length}"}""")
  }

  // ---- pqopq --------------------------------------------------------------

  /** The OPQ rotation's recall delta (round-13 verdict task 8): ADC
    * brute-scan top-5 recall vs exact, plain split vs bit-reversal-
    * rotated split, at BOTH sizings — the fixture 4x16 (where the
    * combo-space fade leaves headroom for the rotation to matter) and
    * the production byte code (where K=256 may already saturate this
    * corpus). No refine tier: this isolates the quantizer. */
  private def pqOpq(s: SparkSession, n: Long, correlated: Boolean = false): Unit = {
    import operators.PQ
    val root = if (correlated) pqCorrelatedCorpus(s, n) else pqClusteredCorpus(s, n, "pqo")
    val corpusTag = if (correlated) "corr" else "clustered"
    val exact = pqExactTop5(s, root)
    for {
      (p, ptag) <- Seq((PQ.fixturePq, "4x16x16"), (PQ.PqParams(8, 8, 256), "8x8x256"))
      (rot, label) <- Seq((false, "plain"), (true, "rotated"))
    } {
      val (top, sec) = timed(PQ.adcBruteTopK(s, root, p, rot, 5,
        cbTag = s"pqcbB:$corpusTag:$ptag:$label", codesTag = s"pqcodesB:$corpusTag:$ptag:$label")
        .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))))
      println(f"""{"battery":"pqopq","corpus":"$corpusTag","vectors":$n,"sizing":"$ptag","arm":"$label","sec":$sec%.1f,"adc_recall_at5":"${pqRecall(top, exact)}/${exact.length}"}""")
    }
    // LEARNED rotation arms (round-15 verdict task 4): the Ge et al.
    // alternation on a 10k driver sample, from both inits — identity
    // and the bit-reversal stand-in — so the three-way table (plain /
    // bit-reversal / learned) answers keep-or-retire for the stand-in.
    val sample = Tables.embeddings(s, root).filter(col("vec_id") < 10000)
      .orderBy("vec_id").select("embedding")
      .collect().map(_.getSeq[Float](0).toArray)
    for {
      (p, ptag) <- Seq((PQ.fixturePq, "4x16x16"), (PQ.PqParams(8, 8, 256), "8x8x256"))
      (initBr, label) <- Seq((false, "learned_id"), (true, "learned_bitrev"))
    } {
      val (r, learnSec) = timed(PQ.opqLearnRotation(sample, p, iters = 5, initBitrev = initBr))
      val (top, sec) = timed(PQ.adcBruteTopK(s, root, p, rotate = false, 5,
        cbTag = s"pqcbB:$corpusTag:$ptag:$label", codesTag = s"pqcodesB:$corpusTag:$ptag:$label",
        learnedR = Some(r))
        .select("qid", "vec_id").collect().map(rr => (rr.getLong(0), rr.getLong(1))))
      println(f"""{"battery":"pqopq","corpus":"$corpusTag","vectors":$n,"sizing":"$ptag","arm":"$label","learn_sec":$learnSec%.1f,"sec":$sec%.1f,"adc_recall_at5":"${pqRecall(top, exact)}/${exact.length}"}""")
    }
  }

  /** The learned-OPQ rotation priced INSIDE the persisted lifecycle
    * (round-16 verdict task 7 — `learnedR` had been wired into the
    * train path and measured on ADC brute-scan recall only; the serve
    * paths shipped nothing). Three persisted builds on the correlated
    * corpus at production PQ sizing, all probed through BOTH serving
    * entries:
    *
    *  - `plain`: no rotation (the baseline build).
    *  - `perm`: the bit-reversal PERMUTATION persisted as a learned-R
    *    matrix (R[i][bitrev(i)] = 1 — the qn43 stand-in, now a
    *    degenerate case of the rotation side rather than a separate
    *    mechanism).
    *  - `learned`: the Ge et al. alternation from the bitrev init
    *    (the round-16 keep decision), learned on a 10k driver sample.
    *
    * Each row: build premium (sec vs plain), probe wall, recall@5 vs
    * the exact cosine truth, and SERVE PARITY — the per-call entry and
    * the cached handle must return identical rows (the rotation rides
    * the handle's cached state). */
  private def pqOpqServe(s: SparkSession, n: Long): Unit = {
    import operators.PQ
    val root = pqCorrelatedCorpus(s, n)
    val exact = pqExactTop5(s, root)
    val p = PQ.PqParams(8, 8, 256)
    val d = 64
    val permR = new Array[Double](d * d)
    (0 until d).foreach(i => permR(i * d + PQ.opqPerm(i)) = 1.0)
    val sample = Tables.embeddings(s, root).filter(col("vec_id") < 10000)
      .orderBy("vec_id").select("embedding")
      .collect().map(_.getSeq[Float](0).toArray)
    val (learned, learnSec) = timed(
      PQ.opqLearnRotation(sample, p, iters = 5, initBitrev = true))
    val probeFrame = Tables.embeddings(s, root).filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
    Seq(("plain", None, 0.0), ("perm", Some(permR), 0.0),
        ("learned", Some(learned), learnSec)).foreach { case (arm, r, lSec) =>
      val path = operators.Similarity.newIndexDir()
      val (_, bSec) = timed(PQ.buildPqIndex(s, root, path, 16,
        fastAssign = Some(false), params = p, learnedR = r))
      val (viaCall, pSec) = timed(PQ.probePqIndexWith(s, probeFrame, path, 4, 5)
        .collect().map(_.toString).toSeq)
      val handle = PQ.openPqIndex(s, path)
      val viaHandle = handle.probeWith(s, probeFrame, 4, 5)
        .collect().map(_.toString).toSeq
      val rows = PQ.probePqIndexWith(s, probeFrame, path, 4, 5)
        .select("qid", "vec_id").collect().map(x => (x.getLong(0), x.getLong(1)))
      println(f"""{"battery":"pqopqserve","vectors":$n,"arm":"$arm","learn_sec":$lSec%.1f,"build_sec":$bSec%.1f,"probe_sec":$pSec%.1f,"serve_parity":${viaHandle == viaCall},"recall_at5":"${pqRecall(rows, exact)}/${exact.length}"}""")
    }
  }

  /** The corpus OPQ exists for (round-14 verdict task 5 — the
    * clustered fixture's hash-derived dims are exchangeable, so a
    * rotation measured recall-neutral BY CONSTRUCTION): cluster signal
    * concentrated in a CONTIGUOUS block of dims through a fixed
    * deterministic linear mix of k=16 latent dims plus a steep per-dim
    * scale — dims 0-15 carry the cluster geometry at full scale, dims
    * 16-63 only milli-scale id noise. An UNROTATED M-way split then
    * loads the whole signal onto the first M/4 subspaces (K codewords
    * each for 16 live dims — starved) while the rest quantize noise
    * (wasted); the bit-reversal rotation spreads the live dims ~evenly
    * so every subspace's codebook carries ~1/M of the signal. This is
    * the canonical variance-imbalance case of Ge et al. CVPR 2013,
    * reduced to the permutation family qn43 implements. */
  private def pqCorrelatedCorpus(s: SparkSession, n: Long): String = {
    val dim = 64
    val root = java.nio.file.Files.createTempDirectory("graft_battery_pqoc").toString
    val nClusters = math.max(16L, n / 8)
    val cl = col("id") % nClusters
    // latent_l(cluster): the cluster direction in a 16-dim latent
    // space; observed dim d mixes latent (d mod 16) under scale_d.
    val emb = transform(sequence(lit(0), lit(dim - 1)), i => {
      val latent = (pmod(xxhash64(cl, pmod(i, lit(16)), lit(7)), lit(2000))
        .cast("double") / 1000.0) - 1.0
      val noise = pmod(xxhash64(col("id"), i, lit(11)), lit(2000)).cast("double") / 1000000.0
      val scale = when(i < 16, lit(1.0)).otherwise(lit(0.001))
      ((latent * scale) + noise).cast("float")
    })
    s.range(n).select(col("id").as("vec_id"), emb.as("embedding"), lit(0).as("label"))
      .repartitionByRange(256, col("vec_id"))
      .write.parquet(s"$root/embeddings.parquet")
    root
  }

  // ---- ingest ----------------------------------------------------------

  /** The streaming-ingest cost CURVE: a fixed 5k-doc micro-batch against
    * lakes of increasing size, per-batch wall + input bytes + files
    * scanned, with the bloom pruning ON (the round-13 shape) and OFF
    * (forced fallback = every file probed and scanned — the
    * pre-round-13 cost, which is linear in the lake). The contract this
    * measures: pruned per-batch cost stays ~flat as the lake grows,
    * because a mostly-novel batch's keys exclude nearly every lake and
    * index file at the footer walk. Lakes are written directly in the
    * exact format cleanBatch appends (nrm + sha under a sha bloom; band
    * index under a band bloom + family marker), so the probe exercises
    * the real artifact, not a simplification. Each batch carries two
    * planted dups (one exact, one near) whose detection is REQUIRED —
    * pruning must never cost a false negative.
    */
  private def ingest(s: SparkSession, sizes: Seq[Long]): Unit = {
    import graft.streaming.{IngestClean, StreamDedup}
    import graft.sources.BloomLake
    val bytesRead = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        Option(t.taskMetrics).foreach(m => bytesRead.addAndGet(m.inputMetrics.bytesRead): Unit)
      }
    }
    s.sparkContext.addSparkListener(listener)
    sizes.foreach { n =>
      val root = java.nio.file.Files.createTempDirectory(s"graft_battery_ingest_$n").toString
      val lake = s"$root/lake"; val idx = s"$root/index"
      // The lake exactly as cleanBatch would have left it: corpus text is
      // already whitespace-normalized lowercase, so nrm == text. The
      // corpus here is STOPWORD-FREE (all-rare tokens), unlike the
      // paircurve generator: a Zipf head creates bands whose 4 minhash
      // rows are all stopword-determined — shared by ~0.1% of docs and
      // therefore present in EVERY file — but a lake actually built by
      // sequential cleanBatch can never reach that state (once a band
      // is indexed, every later carrier is rejected by the any-band
      // rule), so direct-writing a Zipfian corpus puts the index in a
      // pipeline-unreachable state whose hot bands defeat file pruning
      // for a reason the real pipeline structurally prevents. Measured
      // before this change: 7 stopword bands true-hit 32/32 files at 1M
      // docs while bloom false positives were 2/32.
      val docs = ingestCorpus(s, n)
        .select(col("doc_id"), col("text"), (col("doc_id") * 1000000L).as("us"))
        .withColumn("nrm", col("text"))
        .withColumn("sha", sha2(col("nrm"), 256))
      // ndv must track the ACTUAL per-file key count (32 files here): an
      // undersized bitset saturates and excludes nothing — the silent
      // failure writerOptions' max-bytes note documents.
      val shaNdv = math.max(100000L, n / 32)
      val bandNdv = math.max(100000L, n * 16 / 32)
      val (_, wSec) = timed {
        docs.write.options(BloomLake.writerOptions("sha", shaNdv, 1e-8)).parquet(lake)
        StreamDedup.banded(docs.select("doc_id", "text", "us")).toDF()
          .select("band", "doc_id")
          .write.options(BloomLake.writerOptions("band", bandNdv, 1e-8)).parquet(idx)
      }
      // one 5k batch: 4998 novel docs (fresh generator ids past the
      // lake's, so their TEXTS are genuinely new — a plain id shift
      // would replay the lake's own texts) + 1 exact dup + 1 near dup
      // of lake docs. Random cross-corpus band collisions are genuine
      // LSH semantics and grow with the lake, so the assertions pin
      // (a) both planted dups caught and (b) pruned == unpruned stats,
      // not an exact survivor count.
      val batchN = 5000L
      val plantedIds = Seq(11L + n + 5000000L, 22L + n + 5000000L)
      val novel = ingestCorpus(s, n + batchN - 2)
        .filter(col("doc_id") >= n)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          (col("doc_id") + 7L).cast("long").as("us"))
      val planted = docs.filter(col("doc_id").isin(11L, 22L))
        .select((col("doc_id") + n + 5000000L).as("doc_id"),
          when(col("doc_id") === 22L,
            concat(col("text"), lit(" tailtok1 tailtok2"))) // J = 48/50: bands still agree
            .otherwise(col("text")).as("text"),
          lit(999999999L).as("us"))
      val batch = novel.unionByName(planted).localCheckpoint(true)
      val conf = s.sessionState.newHadoopConf()
      def listing(dir: String): Set[String] =
        graft.sources.LakeListing.dataFiles(conf,
          new org.apache.hadoop.fs.Path(dir)).map(_.toString).toSet
      val (preLake, preIdx) = (listing(lake), listing(idx))
      println(s"""{"battery":"ingest_setup","lake_docs":$n,"write_sec":${math.round(wSec)},"lake_files":${preLake.size},"index_files":${preIdx.size}}""")
      def run(tag: String, maxKeys: Long,
          verify: Option[(Int, Int)] = None): IngestClean.BatchStats = {
        s.conf.set("spark.graft.ingest.maxProbeKeys", maxKeys.toString)
        bytesRead.set(0)
        val (stats, sec) = timed(IngestClean.cleanBatch(s, batch, lake, idx,
          verifyNearDups = verify))
        Thread.sleep(500) // quiesce the async listener before reading bytes
        val (exT, exS) = IngestClean.lastExactFiles
        val (bdT, bdS) = IngestClean.lastBandFiles
        // the planted dups MUST be dropped — pruning never costs recall
        val added = (listing(lake) -- preLake).toSeq.sorted
        val leaked =
          if (added.isEmpty) 0L
          else s.read.parquet(added: _*).filter(col("doc_id").isin(plantedIds: _*)).count()
        require(leaked == 0L, s"$tag: $leaked planted dups reached the lake")
        println(f"""{"battery":"ingest","form":"$tag","lake_docs":$n,"batch_docs":$batchN,"sec":$sec%.2f,"input_mb":${bytesRead.get / 1e6}%.1f,"exact_files":"$exS/$exT","band_files":"$bdS/$bdT","appended":${stats.appended}}""")
        // undo the append so the next form sees the identical lake
        val fs = new org.apache.hadoop.fs.Path(lake).getFileSystem(conf)
        (listing(lake) -- preLake).foreach(f =>
          fs.delete(new org.apache.hadoop.fs.Path(f), false))
        (listing(idx) -- preIdx).foreach(f =>
          fs.delete(new org.apache.hadoop.fs.Path(f), false))
        stats
      }
      // restore the PRIOR conf state, not a literal: setting the code
      // default here would shadow any future change to it for the rest
      // of the session (the StreamDedupSpec fallback-test discipline)
      val priorMaxKeys = s.conf.getOption("spark.graft.ingest.maxProbeKeys")
      try {
        val pruned = run("pruned", 2000000L)
        val unpruned = run("unpruned", 0L)
        require(pruned == unpruned,
          s"pruning changed batch semantics: $pruned vs $unpruned")
        // the verified tier's per-batch PRICE, same lake and batch: its
        // appended count may legitimately exceed the any-band forms'
        // (random cross-corpus band collisions are kept once verified
        // as non-duplicates — that is the tier's point); the planted
        // TRUE dups must still be dropped (checked inside run). The
        // near-dup plant's exact J is 48/50, far over the 3/5 rule.
        val verified = run("verified", 2000000L, verify = Some((3, 5)))
        require(verified.appended >= pruned.appended,
          s"verified tier dropped more than any-band: $verified vs $pruned")
      } finally priorMaxKeys match {
        case Some(v) => s.conf.set("spark.graft.ingest.maxProbeKeys", v)
        case None => s.conf.unset("spark.graft.ingest.maxProbeKeys")
      }
    }
    s.sparkContext.removeSparkListener(listener)
  }

  // ---- ingestgrow ------------------------------------------------------

  /** Stopword-free all-distinct corpus for the ingest batteries (see the
    * `ingest` battery's comment on why the Zipf-head generator puts the
    * index in a pipeline-unreachable state). */
  private def ingestCorpus(s: SparkSession, nn: Long): DataFrame = {
    val rareVocab = math.max(10L * nn, 10000L)
    val toks = transform(sequence(lit(0), lit(47)), j =>
      concat(lit("t"), pmod(xxhash64(col("id"), j, lit(44)), lit(rareVocab)).cast("string")))
    s.range(nn).select(col("id").as("doc_id"), array_join(toks, " ").as("text"))
  }

  /** The LONG-RUNNING ingest shape: `nBatches` sequential cleanBatch
    * appends into one growing lake — the real pipeline, not a
    * direct-written fixture — with and without periodic compaction
    * (every 10 batches, blooms threaded through the rewrite). What this
    * measures that the `ingest` battery cannot: per-batch cost as FILE
    * COUNT grows with batch count (each append adds files; every later
    * batch's footer walk and listing pays for all of them), and whether
    * compactIngest actually flattens that curve while keeping verdicts
    * identical (asserted per batch via BatchStats equality between
    * forms).
    */
  private def ingestGrow(s: SparkSession, nBatches: Int): Unit = {
    val batchN = 5000L
    val total = nBatches * batchN
    // "auto" = the MEASURED trigger (autoCompact = Some(8)): no caller
    // cadence at all — cleanBatch compacts itself whenever a table's
    // file count exceeds 8x its ideal compacted count. The gate: its
    // per-batch cost and file counts stay flat like the manual form's,
    // and its verdicts are identical to both.
    val forms = Seq("plain", "compacted", "auto")
    val statsByForm = forms.map { form =>
      val root = java.nio.file.Files.createTempDirectory(s"graft_battery_grow_$form").toString
      val lake = s"$root/lake"; val idx = s"$root/index"
      val perBatch = (0 until nBatches).map { b =>
        val batch = ingestCorpus(s, total)
          .filter(col("doc_id") >= b * batchN && col("doc_id") < (b + 1) * batchN)
          .select(col("doc_id"), col("text"), (col("doc_id") + 1L).as("us"))
        val (st, sec) = timed(graft.streaming.IngestClean.cleanBatch(s, batch, lake, idx,
          autoCompact = if (form == "auto") Some(8) else None))
        val compactSec =
          if (form == "compacted" && (b + 1) % 10 == 0)
            timed(graft.streaming.IngestClean.compactIngest(s, lake, idx))._2
          else 0.0
        (st, sec, compactSec,
          graft.streaming.IngestClean.lastExactFiles,
          graft.streaming.IngestClean.lastBandFiles)
      }
      // per-decile means: the growth curve in 4 numbers per form
      perBatch.grouped(10).zipWithIndex.foreach { case (g, i) =>
        val meanSec = g.map(_._2).sum / g.size
        val cSec = g.map(_._3).sum
        val lastEx = g.last._4; val lastBd = g.last._5
        println(f"""{"battery":"ingestgrow","form":"$form","batches":"${i * 10 + 1}-${i * 10 + g.size}","mean_batch_sec":$meanSec%.2f,"compact_sec":$cSec%.1f,"exact_files":"${lastEx._2}/${lastEx._1}","band_files":"${lastBd._2}/${lastBd._1}"}""")
      }
      perBatch.map(_._1)
    }
    require(statsByForm(0) == statsByForm(1) && statsByForm(0) == statsByForm(2),
      "compaction changed batch verdicts — the rewrite is not transparent")
  }

  // ---- paircurve -------------------------------------------------------

  /** qn03/qn04 on mostly-dissimilar corpora of increasing size: wall
    * time, emitted pairs, and the CANDIDATE volume each plan's pruning
    * admits (prefix-token collisions for qn03, band-bucket collisions
    * for qn04) — the number that must grow sub-quadratically for the
    * plans to survive a corpus that is NOT all-similar. Candidate
    * volume is computed analytically from the group sizes (sum of
    * C(n,2) over prefix tokens / band buckets) with the exact pipeline
    * expressions, so it is the join's true output cardinality without
    * running the join twice.
    */
  private def paircurve(s: SparkSession, sizes: Seq[Long]): Unit = {
    sizes.foreach { n =>
      val root = java.nio.file.Files.createTempDirectory(s"graft_battery_pair_$n").toString
      corpus(s, n, nearDups = true)
        .write.parquet(s"$root/documents.parquet")
      val docs = s.read.parquet(s"$root/documents.parquet")

      // qn03 candidate volume: identical-set collapse, df-ascending vocab
      // ranks, prefix for J >= 3/5 — the registered pipeline's own head.
      val tm = docs.select(col("doc_id"), tokenSet(col("text")).as("toks"))
      val dfreq = tm.select(col("doc_id"), explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("df"))
      val (ranked, _) = operators.Dedup.globalRanks(dfreq, col("df"), col("tok"))
      val vocabIds = ranked.select(col("tok"), col("gpos").cast("int").as("tid"))
      val grp = tm.select(col("doc_id"), explode(col("toks")).as("tok"))
        .join(vocabIds, "tok")
        .groupBy("doc_id").agg(array_sort(collect_list(col("tid"))).as("ids"))
        .groupBy("ids").agg(count(lit(1)).as("members"))
        .withColumn("sz", size(col("ids")))
      val prefixLen = col("sz") - ((lit(3) * col("sz") + lit(4)) / lit(5)).cast("int") + lit(1)
      val c03 = grp.select(explode(slice(col("ids"), lit(1), prefixLen)).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("k"))
        .agg(sum(col("k") * (col("k") - 1))).head.getLong(0) / 2

      // qn04 candidate volume: 16x4 LSH band buckets over MinHash(64).
      // sig materialized in its own projection — the StreamDedup
      // projection-discipline note (inlining the native signature into
      // lshBands' 64 getItems re-runs all planes per item).
      val c04 = docs
        .select(col("doc_id"), transform(tokenSet(col("text")), tokenHash(_)).as("hs"))
        .filter(size(col("hs")) > 0)
        .select(functions.VectorExprs.minhashSigNative(col("hs"), 64).as("sig"))
        .select(explode(lshBands(col("sig"), 16, 4)).as("band"))
        .groupBy("band").agg(count(lit(1)).as("k"))
        .agg(sum(col("k") * (col("k") - 1))).head.getLong(0) / 2

      // qn06 candidate volume under the scheme the dispatch actually
      // picks at these sizes: 2x30-bit super-chunks with radius-1 probe
      // expansion (the round-13 replacement for the 4x15 pigeonhole,
      // whose ~N^2/870 constant-divisor curve the round-12 battery
      // recorded). Join output = exact chunk matches (sum C(k,2)) plus
      // single-bit-flip matches (sum_v sum_b k_v * k_{v xor 2^b} / 2) —
      // computed analytically from the per-chunk value histograms, the
      // join's true cardinality without running it twice.
      val ch = docs
        .select(col("doc_id"), transform(tokenSet(col("text")), tokenHash60(_)).as("hs"))
        .filter(size(col("hs")) > 0)
        .select(simhash(col("hs")).as("sim"))
        .select(explode(array((0 until 2).map(c =>
          lit(c.toLong << 30).bitwiseOR(
            shiftright(col("sim"), c * 30).bitwiseAND(lit((1L << 30) - 1)))): _*)).as("key"))
        .groupBy("key").agg(count(lit(1)).as("k"))
        .localCheckpoint(true)
      val c06exact = ch.agg(sum(col("k") * (col("k") - 1))).head.getLong(0) / 2
      val c06flip = ch
        .select(col("k"), explode(array((0 until 30).map(b =>
          col("key").bitwiseXOR(lit(1L << b))): _*)).as("fkey"))
        .join(ch.select(col("key").as("fkey"), col("k").as("k2")), "fkey")
        .agg(coalesce(sum(col("k") * col("k2")), lit(0L))).head.getLong(0) / 2
      val c06 = c06exact + c06flip

      def runQ(q: String): (Long, Double) = {
        val (cnt, sec) = timed(SparkEntry.queries(q)(s, root).count())
        (cnt, sec)
      }
      val (p03, s03) = runQ("qn03_jaccard_pairs")
      val (p04, s04) = runQ("qn04_minhash_lsh_pairs")
      val (p06, s06) = runQ("qn06_simhash_near_pairs")
      println(f"""{"battery":"paircurve","docs":$n,"qn03_sec":$s03%.1f,"qn03_pairs":$p03,"qn03_candidates":$c03,"qn04_sec":$s04%.1f,"qn04_pairs":$p04,"qn04_candidates":$c04,"qn06_sec":$s06%.1f,"qn06_pairs":$p06,"qn06_candidates":$c06}""")
      operators.Dedup.clearMemo(s)
      s.catalog.clearCache()
    }
  }
}
