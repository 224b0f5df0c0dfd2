package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Checks for the product-quantization tier that go beyond the DuckDB
  * hash gate: persisted-index parity with the in-flight query, the
  * partition-pruned probe IO, the plan shapes the 100 TB story rests
  * on, the compression factor, and end-to-end ANN recall.
  */
class PQSpec extends AnyFunSuite {
  import TestSpark._

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).map(dirBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length else 0L

  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  private def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
    case q: QueryStageExec => allScans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(allScans)
  }

  test("persisted IVFADC probe replays qn33 bit-exactly") {
    val path = graft.operators.Similarity.newIndexDir()
    graft.operators.PQ.buildPqIndex(spark, sf, path)
    val persisted = graft.operators.PQ.probePqIndex(spark, sf, path, 4, 5)
      .collect().map(_.toString).toSeq
    val inFlight = SparkEntry.queries("qn33_ann_ivfpq_refine")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(persisted == inFlight)
  }

  test("buildPqIndexFrom at the fixture corpus+sizing is bit-identical to buildPqIndex") {
    // The dim-parameterized build (qn51's entry) and the dir-memoized
    // fixture build must be the SAME pipeline — stride seeds, one Lloyd
    // step, native encode, identical staging — or the wide gate proves
    // a different operator than qn39 serves.
    import graft.operators.PQ
    val pathA = graft.operators.Similarity.newIndexDir()
    val pathB = graft.operators.Similarity.newIndexDir()
    PQ.buildPqIndex(spark, sf, pathA)
    PQ.buildPqIndexFrom(spark, Tables.embeddings(spark, sf), pathB, 16, PQ.fixturePq)
    val probes = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
    val a = PQ.probePqIndexWith(spark, probes, pathA, 4, 5).collect().map(_.toString).toSeq
    val b = PQ.probePqIndexWith(spark, probes, pathB, 4, 5).collect().map(_.toString).toSeq
    assert(a.nonEmpty && a == b)
  }

  test("probe scans only the probed cells' code files; refine is a shortlist point-read") {
    val path = graft.operators.Similarity.newIndexDir()
    graft.operators.PQ.buildPqIndex(spark, sf, path)
    // The refine (the returned frame — the ADC tier runs inside the
    // internal shortlist collect) reads the cold side under BOTH
    // pushable predicates: the probed-cell partition filter and the
    // shortlist's vec_id IN pushdown.
    val probe = graft.operators.PQ.probePqIndex(spark, sf, path, 2, 5)
    probe.collect()
    val cold = allScans(probe.queryExecution.executedPlan)
      .filter(_.partitionFilters.exists(_.toString.contains("cent_id")))
    assert(cold.size == 1, probe.queryExecution.executedPlan.toString)
    val scan = cold.head
    val filesRead = scan.metrics("numFiles").value
    def countParquet(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).map(countParquet).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    // Count from the INDEX root, not the scan's rootPaths: the
    // cell-scoped read (round 14) lists only the probed cells'
    // directories, so rootPaths no longer names the whole lake — which
    // is exactly the point (the scan cannot even SEE unprobed cells).
    val totalFiles = countParquet(new java.io.File(graft.operators.IndexSwap.side(spark, path, "vectors")))
    assert(filesRead > 0 && filesRead < totalFiles,
      s"no partition pruning: read $filesRead of $totalFiles files")
    assert(scan.metadata("PushedFilters").contains("In(vec_id"),
      s"shortlist id pushdown missing: ${scan.metadata("PushedFilters")}")

    // The ADC tier's codes-side pruning, by the scan nodes' filesSize
    // (post-pruning selected bytes — task-level inputMetrics.bytesRead
    // is unreliable on local-fs parquet in this build; see the pq
    // battery doc). The QueryExecutionListener sees probePqIndex's
    // INTERNAL actions too, where the codes scan runs.
    val scanBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        allScans(qe.executedPlan).foreach(sc =>
          scanBytes.addAndGet(sc.metrics("filesSize").value): Unit)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      def arm(nProbe: Int): Long = {
        scanBytes.set(0)
        graft.operators.PQ.probePqIndex(spark, sf, path, nProbe, 5).collect()
        Thread.sleep(500) // listener bus is async
        scanBytes.get
      }
      val pruned = arm(2)
      val full = arm(16)
      assert(pruned > 0 && pruned < full,
        s"codes pruning missing: 2-cell probe selected $pruned vs all-cell $full bytes")
    } finally spark.listenerManager.unregister(listener)
  }

  test("probe batch collect is loudly bounded; oversized shortlists degrade to the range pushdown") {
    val path = graft.operators.Similarity.newIndexDir()
    graft.operators.PQ.buildPqIndex(spark, sf, path)
    // (a) a probe frame past maxProbeBatch must fail with instructions
    // BEFORE anything corpus-sized collects (the routeCells contract,
    // one stage earlier): probes x adcTopR is the shortlist collect.
    val over = spark.range(graft.operators.PQ.maxProbeBatch + 1L)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          i => (i.cast("double") / 64.0).cast("float")).as("embedding"))
    val ex = intercept[IllegalArgumentException] {
      graft.operators.PQ.probePqIndexWith(spark, over, path, 4, 5).collect()
    }
    assert(ex.getMessage.contains("probe batch exceeds") &&
      ex.getMessage.contains("qn20"), ex.getMessage)
    // (b) above the isin threshold the cold-read pushdown degrades to
    // BETWEEN(min, max) — still pushable (range row-group pruning
    // against the sorted-by-vec_id layout) — and the result is
    // bit-identical: the broadcast-shortlist inner join carries
    // exactness, the pushdown is IO-only.
    val baseline = graft.operators.PQ.probePqIndex(spark, sf, path, 4, 5)
      .collect().map(_.toString).toSeq
    spark.conf.set("spark.graft.index.isinMaxIds", "1")
    try {
      val ranged = graft.operators.PQ.probePqIndex(spark, sf, path, 4, 5)
      val rows = ranged.collect().map(_.toString).toSeq
      assert(rows == baseline, "range pushdown changed the probe result")
      val cold = allScans(ranged.queryExecution.executedPlan)
        .filter(_.partitionFilters.exists(_.toString.contains("cent_id")))
      assert(cold.size == 1)
      val pushed = cold.head.metadata("PushedFilters")
      assert(pushed.contains("GreaterThanOrEqual(vec_id") &&
        pushed.contains("LessThanOrEqual(vec_id"),
        s"range form not pushed: $pushed")
      assert(!pushed.contains("In(vec_id"), s"unexpected isin under range form: $pushed")
    } finally spark.conf.unset("spark.graft.index.isinMaxIds")
  }

  test("degenerate probe batches: empty frame serves empty; nProbe past the cell count probes all cells") {
    val path = graft.operators.Similarity.newIndexDir()
    graft.operators.PQ.buildPqIndex(spark, sf, path)
    // Empty probe frame: every stage (route, tables, shortlist, refine)
    // must flow through to an empty, correctly-typed result — not an
    // empty-min/max or empty-isin crash in the driver-side plumbing.
    val empty = Tables.embeddings(spark, sf).filter(lit(false))
      .select("vec_id", "embedding")
    val out = graft.operators.PQ.probePqIndexWith(spark, empty, path, 4, 5)
    assert(out.columns.toSeq == Seq("qid", "rnk", "vec_id", "score_e6"))
    assert(out.count() == 0)
    // nProbe beyond the cell count degrades to an all-cells probe —
    // identical rows to the exact cell-count probe, no bound error.
    val all16 = graft.operators.PQ.probePqIndex(spark, sf, path, 16, 5)
      .collect().map(_.toString).toSeq
    val over = graft.operators.PQ.probePqIndex(spark, sf, path, 999, 5)
      .collect().map(_.toString).toSeq
    assert(over == all16, "nProbe > cells diverged from the all-cells probe")
  }

  test("codes lake is the hot side: materially smaller than the float lake") {
    val path = graft.operators.Similarity.newIndexDir()
    graft.operators.PQ.buildPqIndex(spark, sf, path)
    val codesBytes = dirBytes(new java.io.File(graft.operators.IndexSwap.side(spark, path, "codes")))
    val vecBytes = dirBytes(new java.io.File(graft.operators.IndexSwap.side(spark, path, "vectors")))
    // Raw ratio is 64x (4 small ints vs 64 floats + norm); parquet
    // framing narrows it at fixture row counts — 4x is the conservative
    // floor that still catches an accidental float column on the hot side.
    assert(codesBytes > 0 && vecBytes > codesBytes * 4,
      s"codes=$codesBytes vectors=$vecBytes")
  }

  test("PQ training and encode argmin run the native early-exit expression, never SortAggregate") {
    // Round 14: the join+window argmin (TopKPerGroup) was replaced by
    // the pq_encode codegen expression — the codebook/seeds are a
    // plan-time literal, so the N x K candidate stream never exists as
    // rows. The training (qn30) keeps exactly one join: the K x M x
    // subDim local seed frame LEFT JOIN the means (the empty-cell
    // seed-retention rule); the encode (qn31) is join-free.
    Seq("qn30_pq_codebooks", "qn31_pq_encode").foreach { name =>
      val p = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
      assert(p.contains("pq_encode"), s"$name argmin lost the native expression:\n$p")
      assert(!p.contains("SortAggregate"), s"$name fell off the hash-agg path:\n$p")
      assert(!p.contains("TopKPerGroup"), s"$name still plans the join+window argmin:\n$p")
    }
    val enc = SparkEntry.queries("qn31_pq_encode")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!enc.contains("Join"), s"qn31 encode should be join-free:\n$enc")
  }

  test("persisted RESIDUAL index replays qn36 bit-exactly; the meta side dispatches the scoring") {
    val path = graft.operators.Similarity.newIndexDir()
    graft.operators.PQ.buildPqIndex(spark, sf, path, residual = true)
    assert(graft.operators.PQ.indexMeta(spark, path)._1, "residual meta flag missing")
    val persisted = graft.operators.PQ.probePqIndex(spark, sf, path, 4, 5)
      .collect().map(_.toString).toSeq
    val inFlight = SparkEntry.queries("qn36_ann_ivfpq_residual")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(persisted == inFlight)
    // A rebuild WITHOUT residual must flip the meta flag (the encoding
    // is self-describing; a stale flag would mis-score every probe).
    graft.operators.PQ.buildPqIndex(spark, sf, path)
    assert(!graft.operators.PQ.indexMeta(spark, path)._1, "stale residual meta flag")
    val plain = graft.operators.PQ.probePqIndex(spark, sf, path, 4, 5)
      .collect().map(_.toString).toSeq
    val qn33 = SparkEntry.queries("qn33_ann_ivfpq_refine")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(plain == qn33)
  }

  test("append encodes against the frozen codebooks and touches only the target cells") {
    import spark.implicits._
    val path = graft.operators.Similarity.newIndexDir()
    graft.operators.PQ.buildPqIndex(spark, sf, path)
    def cellFiles(): Map[String, Set[String]] = {
      val root = new java.io.File(graft.operators.IndexSwap.side(spark, path, "codes"))
      Option(root.listFiles).getOrElse(Array.empty).filter(_.getName.startsWith("cent_id="))
        .map(d => d.getName -> d.listFiles.map(_.getName).toSet).toMap
    }
    val before = cellFiles()
    val n0 = spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes")).count()
    // Plant a near-copy of probe 3: cosine ~1, so it must surface as
    // its top refined neighbor after the append.
    val planted = Tables.embeddings(spark, sf).filter(col("vec_id") === 3)
      .select(lit(99999L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, (x.cast("double") * 1.01).cast("float")).otherwise(x)).as("embedding"))
    graft.operators.PQ.appendToPqIndex(spark, planted, path)
    assert(spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes")).count() == n0 + 1)
    val after = cellFiles()
    val changed = after.filter { case (cell, files) => before.getOrElse(cell, Set.empty) != files }
    assert(changed.size == 1, s"append touched ${changed.size} cells: ${changed.keys}")
    val top = graft.operators.PQ.probePqIndex(spark, sf, path, 4, 5)
      .filter(col("qid") === 3 && col("rnk") === 1).collect()
    assert(top.length == 1 && top.head.getLong(2) == 99999L,
      s"planted near-copy not probe 3's top neighbor: ${top.mkString}")
  }

  test("append to a RESIDUAL index encodes in residual space (marker dispatch)") {
    // The round-12 advice bug: appendToPqIndex encoded raw e6 values
    // against RESIDUAL-space codebooks, so appended near-neighbors were
    // silently mis-ranked. The planted near-copy must survive the full
    // residual chain: residual encode on append, residual ADC tables on
    // probe, shortlist, exact refine.
    val path = graft.operators.Similarity.newIndexDir()
    graft.operators.PQ.buildPqIndex(spark, sf, path, residual = true)
    val planted = Tables.embeddings(spark, sf).filter(col("vec_id") === 3)
      .select(lit(88888L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, (x.cast("double") * 1.01).cast("float")).otherwise(x)).as("embedding"))
    graft.operators.PQ.appendToPqIndex(spark, planted, path)
    val top = graft.operators.PQ.probePqIndex(spark, sf, path, 4, 5)
      .filter(col("qid") === 3 && col("rnk") === 1).collect()
    assert(top.length == 1 && top.head.getLong(2) == 88888L,
      s"planted near-copy not probe 3's top neighbor under residual append: ${top.mkString}")
    // The appended row's CODES must equal what a residual build of the
    // same corpus state would store: re-encode check — its code word
    // scores below adcTopR against probe 3's tables (already implied by
    // rnk=1 via the shortlist), and the hot side grew by exactly 1.
    assert(spark.read.parquet(graft.operators.IndexSwap.side(spark, path, "codes")).filter(col("vec_id") === 88888L).count() == 1)
  }

  test("appended cold files keep the point-read layout: one file per touched cell, sorted by vec_id") {
    val path = graft.operators.Similarity.newIndexDir()
    graft.operators.PQ.buildPqIndex(spark, sf, path)
    def vecFiles(): Map[String, Set[String]] = {
      val root = new java.io.File(graft.operators.IndexSwap.side(spark, path, "vectors"))
      Option(root.listFiles).getOrElse(Array.empty).filter(_.getName.startsWith("cent_id="))
        .map(d => d.getName -> d.listFiles.map(_.getName).filter(_.endsWith(".parquet")).toSet)
        .toMap
    }
    val before = vecFiles()
    // The BUILD's files must already hold the declared order (the sort
    // must lead with cent_id, or partitionBy's injected non-stable
    // partition-column sort scrambles vec_id — the bug this assert
    // caught on the append path first).
    before.foreach { case (cell, files) =>
      files.foreach { f =>
        val ids = spark.read.parquet(s"${graft.operators.IndexSwap.side(spark, path, "vectors")}/$cell/$f")
          .select("vec_id").collect().map(_.getLong(0)).toSeq
        assert(ids == ids.sorted, s"$cell build file not sorted by vec_id")
      }
    }
    // A WIDE batch (60 vectors fanning out to many cells): without the
    // repartition(cent_id) the write fans out tasks x cells files; with
    // it each touched cell gains exactly ONE file, rows sorted by
    // vec_id so the refine's id pushdown can skip row groups.
    val batch = Tables.embeddings(spark, sf).filter(col("vec_id") < 60)
      .select((col("vec_id") + 500000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 1, (x.cast("double") * 1.03).cast("float")).otherwise(x)).as("embedding"))
    graft.operators.PQ.appendToPqIndex(spark, batch, path)
    val after = vecFiles()
    val grown = after.filter { case (cell, files) =>
      (files -- before.getOrElse(cell, Set.empty)).nonEmpty }
    assert(grown.nonEmpty)
    grown.foreach { case (cell, files) =>
      val added = (files -- before.getOrElse(cell, Set.empty)).toSeq
      assert(added.size == 1, s"$cell gained ${added.size} files — append fan-out is back")
      val ids = spark.read.parquet(s"${graft.operators.IndexSwap.side(spark, path, "vectors")}/$cell/${added.head}")
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(ids == ids.sorted, s"$cell appended file not sorted by vec_id")
    }
  }

  test("a probe stream over the persisted PQ index matches the batch probe") {
    // The StreamSemanticSpec serving-loop discipline, PQ edition: a
    // standing IVFADC index, probe batches through foreachBatch over
    // probePqIndexWith — stream == batch, bit-exact.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = graft.operators.Similarity.newIndexDir()
    graft.operators.PQ.buildPqIndex(spark, sf, path)
    val probes = Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 10).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val ms = MemoryStream[(Long, Array[Float])]
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val q = ms.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          out ++= graft.operators.PQ
            .probePqIndexWith(spark, batch, path, 4, 5)
            .collect().map(_.toString)
        }: Unit
      }.start()
    try {
      ms.addData(probes.take(5).toSeq); q.processAllAvailable()
      ms.addData(probes.drop(5).toSeq); q.processAllAvailable()
    } finally q.stop()
    val batchRows = graft.operators.PQ
      .probePqIndex(spark, sf, path, 4, 5).collect().map(_.toString)
    assert(batchRows.nonEmpty)
    assert(out.sorted.toSeq == batchRows.sorted.toSeq,
      s"stream/batch diverged: stream=${out.size} batch=${batchRows.length}")
  }

  test("IVFADC end-to-end recall@5 against exact cosine on a clustered corpus") {
    // The driver fixture's embeddings are unstructured noise, so ANY
    // nProbe-of-16 route bounds recall near nProbe/16 (measured 24% at
    // 4/16) — that measures the data, not the operator. The promise
    // IVFADC makes is on CLUSTERABLE corpora, so this builds one (the
    // NorthStarSpec qn08 discipline): 10 clusters x 20 members in 64
    // dims, members wiggled 1e-3 around the cluster direction,
    // interleaved ids so probes 0..9 hit all 10 clusters.
    import spark.implicits._
    val dim = 64
    val vecs = (0 until 200).map { i =>
      val cl = i % 10; val m = i / 10
      val base = Array.tabulate(dim)(d =>
        math.cos(0.37 * cl + 0.11 * d).toFloat)
      base(0) = (base(0) + 0.001f * m)
      (i.toLong, base.toSeq, cl)
    }
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_pq_recall_${System.nanoTime}")
    vecs.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
      .coalesce(1).write.parquet(s"$tmp/embeddings.parquet")
    try {
      val vs = vecs.map { case (id, e, _) => id -> e.map(_.toDouble).toArray }.toMap
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        d / math.sqrt(na * nb)
      }
      val exact = (0L until 10L).map { q =>
        q -> vs.keys.filter(_ != q).toSeq
          .map(v => (v, cos(vs(q), vs(v)))).sortBy { case (v, s) => (-s, v) }
          .take(5).map(_._1).toSet
      }.toMap
      val approx = SparkEntry.queries("qn33_ann_ivfpq_refine")(spark, tmp.toString)
        .select("qid", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val hits = exact.map { case (q, ex) => (approx.getOrElse(q, Set.empty) & ex).size }.sum
      // Same-cluster neighbors share a coarse cell by construction, so
      // the route finds them and the 16-wide ADC shortlist keeps them:
      // the 80% floor catches a broken route, table layout, or refine.
      assert(hits >= 40, s"recall@5 = $hits/50")

      // The residual form (qn36) must clear the same floor — its
      // codebooks spend resolution on within-cell geometry, so it can
      // only help on a clusterable corpus.
      val res = SparkEntry.queries("qn36_ann_ivfpq_residual")(spark, tmp.toString)
        .select("qid", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val resHits = exact.map { case (q, ex) => (res.getOrElse(q, Set.empty) & ex).size }.sum
      assert(resHits >= 40, s"residual recall@5 = $resHits/50")

      // The fast (two-tier) build's declared recall dip stays small on
      // the same corpus: co-members still co-locate (they route through
      // the same coarse cells), so the floor holds for it too.
      val pathFast = graft.operators.Similarity.newIndexDir()
      graft.operators.PQ.buildPqIndex(spark, tmp.toString, pathFast, 16, fastAssign = Some(true))
      val fast = graft.operators.PQ.probePqIndex(spark, tmp.toString, pathFast, 4, 5)
        .select("qid", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val fastHits = exact.map { case (q, ex) => (fast.getOrElse(q, Set.empty) & ex).size }.sum
      assert(fastHits >= 40, s"fastAssign recall@5 = $fastHits/50")
      // The two-tier assignment must never silently DROP a vector
      // (pathological corpora could route a vector only to fine-less
      // coarse cells; the tie-break analysis says no, this pins it).
      assert(spark.read.parquet(graft.operators.IndexSwap.side(spark, pathFast, "codes")).count() == 200L,
        "fastAssign dropped or duplicated vectors")

      // residual x fastAssign COMBINED: the memo keys carry both
      // (fastKey), and the qn36 run above already cached the
      // flat-assignment residual frames for this corpus — a stale-memo
      // bug that ignored fastKey would pair fast assignments with
      // flat-residual codes and silently mis-encode every vector,
      // which cannot clear the recall floor.
      val pathRF = graft.operators.Similarity.newIndexDir()
      graft.operators.PQ.buildPqIndex(spark, tmp.toString, pathRF, 16,
        fastAssign = Some(true), residual = true)
      assert(graft.operators.PQ.indexMeta(spark, pathRF)._1)
      val rf = graft.operators.PQ.probePqIndex(spark, tmp.toString, pathRF, 4, 5)
        .select("qid", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val rfHits = exact.map { case (q, ex) => (rf.getOrElse(q, Set.empty) & ex).size }.sum
      assert(rfHits >= 40, s"residual+fastAssign recall@5 = $rfHits/50")
      assert(spark.read.parquet(graft.operators.IndexSwap.side(spark, pathRF, "codes")).count() == 200L)

      // Non-fixture sizing (M=8, byte-class K): the persisted index
      // SELF-DESCRIBES via its codebook table, so the unchanged probe
      // path serves it — any leftover fixture constant in the ADC
      // layout (idx = sub*K + code, the M-term fold) would misalign
      // every lookup and cannot clear the floor. (At 200 vectors the
      // stride rule caps the realized K at 200 per subspace — the meta
      // side must store the REALIZED sizing, which this exercises too.)
      val pathMk = graft.operators.Similarity.newIndexDir()
      graft.operators.PQ.buildPqIndex(spark, tmp.toString, pathMk, 16,
        params = graft.operators.PQ.PqParams(8, 8, 256))
      val mk = graft.operators.PQ.probePqIndex(spark, tmp.toString, pathMk, 4, 5)
        .select("qid", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val mkHits = exact.map { case (q, ex) => (mk.getOrElse(q, Set.empty) & ex).size }.sum
      assert(mkHits >= 40, s"M=8/K=256 recall@5 = $mkHits/50")

      // The SQ8 rung (qn38) clears the same ladder floor: the byte
      // step (span/255 per dim) dwarfs the 1e-3 member wiggle, so
      // co-members collide to qd2 ~ 0 and the exact re-rank restores
      // the within-cluster order.
      val sq = SparkEntry.queries("qn38_ann_sq8")(spark, tmp.toString)
        .select("qid", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val sqHits = exact.map { case (q, ex) => (sq.getOrElse(q, Set.empty) & ex).size }.sum
      assert(sqHits >= 40, s"SQ8 recall@5 = $sqHits/50")
      assert(spark.read.parquet(graft.operators.IndexSwap.side(spark, pathMk, "codes"))
        .select(size(col("codes"))).head().getInt(0) == 8,
        "M=8 index did not store 8 codes per vector")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      rm(tmp)
    }
  }

  test("filtered search: the predicate binds before the ADC shortlist; handle and per-call agree") {
    import graft.operators.PQ
    val path = graft.operators.Similarity.newIndexDir()
    PQ.buildPqIndex(spark, sf, path)
    val probes = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
    val allowed = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 3 === 1).select("vec_id")
    val res = PQ.probePqIndexWith(spark, probes, path, 4, 5,
      allowed = Some(allowed)).collect()
    assert(res.length == 50, s"filtered probe lost rows: ${res.length}")
    assert(res.forall(_.getLong(2) % 3 == 1), "a disallowed row surfaced")
    val unfiltered = PQ.probePqIndex(spark, sf, path, 4, 5).collect()
    assert(!unfiltered.forall(_.getLong(2) % 3 == 1),
      "fixture degenerate: the unfiltered top-k already satisfies the filter")
    val viaHandle = PQ.openPqIndex(spark, path)
      .probeWith(spark, probes, 4, 5, allowed = Some(allowed)).collect()
    assert(viaHandle.map(_.toString).toSeq == res.map(_.toString).toSeq,
      "handle filtered probe diverged from the per-call entry")
  }

  test("serve handle: probeWith matches the per-call entry bit-exactly and re-opens after a rebuild") {
    import graft.operators.PQ
    val path = graft.operators.Similarity.newIndexDir()
    PQ.buildPqIndex(spark, sf, path)
    val perCall = PQ.probePqIndex(spark, sf, path, 4, 5)
      .collect().map(_.toString).toSeq
    val handle = PQ.openPqIndex(spark, path)
    val probeFrame = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
    val viaHandle = handle.probeWith(spark, probeFrame, 4, 5)
      .collect().map(_.toString).toSeq
    assert(viaHandle == perCall, "handle probe diverged from the per-call entry")
    // Staleness: a rebuild commits a new version; the SAME handle must
    // serve the rebuilt index (auto re-open), not its stale snapshot.
    PQ.rebalance(spark, path)
    val afterRebuild = PQ.probePqIndex(spark, sf, path, 4, 5)
      .collect().map(_.toString).toSeq
    val viaStaleHandle = handle.probeWith(spark, probeFrame, 4, 5)
      .collect().map(_.toString).toSeq
    assert(viaStaleHandle == afterRebuild, "stale handle did not re-open on the new version")
    // Refresh caching (round-15 ADVICE): the re-open is HELD in the
    // handle — later probes reuse it (one open per committed version,
    // not one per probe after the first rebuild).
    assert(handle.currentVersion == graft.operators.IndexSwap.liveVersion(spark, path),
      "re-open was discarded instead of cached — every later probe would re-open")
  }

  test("learned-rotation index: rotation persists through append and rebalance, both serving entries agree, planted near-copy surfaces") {
    import graft.operators.PQ
    val path = graft.operators.Similarity.newIndexDir()
    // A small deterministic learned R from the fixture corpus (bitrev
    // init — the round-16 keep decision).
    val sample = Tables.embeddings(spark, sf).filter(col("vec_id") < 200)
      .orderBy("vec_id").select("embedding")
      .collect().map(_.getSeq[Float](0).toArray)
    val r = PQ.opqLearnRotation(sample, PQ.fixturePq, iters = 2, initBitrev = true)
    PQ.buildPqIndex(spark, sf, path, learnedR = Some(r))
    // The rotation side committed atomically with the codes.
    val root0 = graft.operators.IndexSwap.liveRoot(spark, path)
    assert(new java.io.File(s"$root0/rotation".stripPrefix("file:")).exists,
      "rotation side missing from the committed version")
    // Residual + rotation is refused loudly.
    intercept[IllegalArgumentException] {
      PQ.buildPqIndex(spark, sf, graft.operators.Similarity.newIndexDir(),
        residual = true, learnedR = Some(r))
    }
    // Serve parity: per-call and handle probes agree (the handle caches
    // the rotation with the rest of the serving state).
    val probeFrame = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
    val perCall = PQ.probePqIndexWith(spark, probeFrame, path, 4, 5)
      .collect().map(_.toString).toSeq
    val handle = PQ.openPqIndex(spark, path)
    assert(handle.probeWith(spark, probeFrame, 4, 5)
      .collect().map(_.toString).toSeq == perCall,
      "rotated handle probe diverged from the per-call entry")
    // Append encodes the new row through the STORED rotation: a planted
    // near-copy of probe 3 must shortlist (rotated-space ADC) and then
    // win the exact refine.
    val planted = Tables.embeddings(spark, sf).filter(col("vec_id") === 3)
      .select(lit(99999L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, (x.cast("double") * 1.01).cast("float")).otherwise(x)).as("embedding"))
    PQ.appendToPqIndex(spark, planted, path)
    val top = PQ.probePqIndexWith(spark, probeFrame, path, 4, 5)
      .filter(col("qid") === 3 && col("rnk") === 1).collect()
    assert(top.length == 1 && top.head.getLong(2) == 99999L,
      s"appended near-copy not probe 3's top neighbor under rotation: ${top.mkString}")
    // Rebalance preserves the rotation side (model state, like the
    // meta flag) and the rebuilt index still serves the near-copy.
    PQ.rebalance(spark, path)
    val root1 = graft.operators.IndexSwap.liveRoot(spark, path)
    assert(root1 != root0 &&
      new java.io.File(s"$root1/rotation".stripPrefix("file:")).exists,
      "rebalance dropped the rotation side")
    val top2 = PQ.probePqIndexWith(spark, probeFrame, path, 4, 5)
      .filter(col("qid") === 3 && col("rnk") === 1).collect()
    assert(top2.length == 1 && top2.head.getLong(2) == 99999L,
      s"rebuilt rotated index lost the near-copy: ${top2.mkString}")
  }

  test("delete: a tombstoned row vanishes from probes immediately; the rebuild reclaims it physically") {
    import spark.implicits._
    val path = graft.operators.Similarity.newIndexDir()
    graft.operators.PQ.buildPqIndex(spark, sf, path)
    val top1 = graft.operators.PQ.probePqIndex(spark, sf, path, 4, 5)
      .filter(col("qid") === 3 && col("rnk") === 1).head().getAs[Long]("vec_id")
    graft.operators.PQ.delete(spark, Seq(top1).toDF("vec_id"), path)
    val after = graft.operators.PQ.probePqIndex(spark, sf, path, 4, 5).collect()
    assert(!after.exists(_.getAs[Long]("vec_id") == top1), "a tombstoned row surfaced")
    assert(after.length == 50, "delete shrank the result set instead of the candidates")
    graft.operators.PQ.rebalance(spark, path)
    val root = graft.operators.IndexSwap.liveRoot(spark, path)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/deletes")),
      "rebuild carried the tombstones forward instead of reclaiming them")
    assert(spark.read.parquet(s"$root/vectors").filter(col("vec_id") === top1).count() == 0,
      "a deleted row survived the physical reclaim")
    val res = graft.operators.PQ.probePqIndex(spark, sf, path, 4, 5).collect()
    assert(res.length == 50 && !res.exists(_.getAs[Long]("vec_id") == top1),
      "the reclaimed index still served a deleted row")
  }

}
