package graft

/** Benchmark main: every registered query against
  * SPARK_GRAFT_SF_DIR, one JSON line out.
  *
  * Honesty rules: (1) a warmup query runs first so the first measured
  * query doesn't absorb session/codegen/FS init (~4-5 s); (2) results are
  * forced through the `noop` sink, not `.count()` — count lets Catalyst
  * prune every unreferenced projection (a fingerprint query would
  * "benchmark" as a row count scan); (3) the heavy PAIR queries carry
  * ~3x single-sample noise on a loaded host (docs/BENCH_NOTES.md), so
  * they run 3 reps and report the MEDIAN (plus max-min spread) — with
  * the pair-frame memo tag-cleared before each rep so every rep measures
  * the same cold build, and left warm after the last rep so downstream
  * memo consumers (qn17/qn18) keep their sweep semantics.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // Clean-tmp protocol (round 14, promoted from the Battery): stale
    // battery corpora under java.io.tmpdir distort wall timings — past
    // ~40 GB of leftover graft_battery_* trees the fs/page-cache
    // pressure produced measured 10x non-monotone swings (BENCH_NOTES
    // round 16), and the round-13 sweep drifted +10-35% on carried
    // queries for exactly this reason. The official sweep now enforces
    // the same discipline the Battery requires: drop leftovers BEFORE
    // timing anything. AGE-SCOPED (round-14 ADVICE): only trees whose
    // root mtime is older than an hour are presumed stale — an
    // unconditional name-prefix sweep would delete a concurrently
    // RUNNING Battery process's live corpus out from under it, and a
    // battery arm that is still mid-measurement necessarily touched
    // its tree within the last hour.
    locally {
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) Option(x.listFiles).getOrElse(Array.empty).foreach(rm)
        x.delete(): Unit
      }
      val staleBefore = System.currentTimeMillis() - 60L * 60 * 1000
      val tmp = new java.io.File(sys.props("java.io.tmpdir"))
      Option(tmp.listFiles).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("graft_battery_") &&
          f.lastModified() < staleBefore).foreach { f =>
          System.err.println(s"BENCH: clearing stale battery tmp ${f.getName}")
          rm(f)
        }
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def run(name: String): Unit = {
      // Failure-honesty test hook: SPARK_GRAFT_INJECT_FAIL=<query name>
      // makes that query die, so "a dead query reports as failed, never
      // as a ~0s timing" is demonstrable against the real artifact
      // (round-8 lesson) without editing a query.
      if (sys.env.get("SPARK_GRAFT_INJECT_FAIL").contains(name))
        throw new RuntimeException(s"injected failure for $name")
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
    }
    // Noisy/slow queries -> median-of-3. Value = memo tags to clear
    // before each rep (empty: no memo in play). qn17 clears only the
    // label memo: each rep measures a cold propagation over the
    // deliberately-warm simhash pair inputs (matching its position in
    // the sweep), and the last rep leaves warm labels for qp02/qp04
    // downstream.
    val noisy: Map[String, Seq[String]] = Map(
      "qn03_jaccard_pairs" -> Seq("tokenset"),
      "qn03b_shingle_jaccard_pairs" -> Seq(),
      "qn04_minhash_lsh_pairs" -> Seq(),
      "qn06_simhash_near_pairs" -> Seq("simhash"),
      "qn08_cosine_near_pairs" -> Seq(),
      "qn17_dedup_components" -> Seq("components"),
      // No memo in play, but twice-documented (r4/r5 bench notes) as the
      // worst in-sweep GC artifact: its bloom build + checkpoint runs
      // right after the pair queries' dead blocks drop, so single samples
      // have measured eviction, not the plan.
      "qn21_bloom_decontamination" -> Seq(),
      // r7 verdict: every >2s query carries a min so the artifact reads
      // through host-load noise. qp01/qp03 share the clean45 pair memo
      // (cold build measured each rep, warm frame left for the other);
      // qn20 re-measures the cold semasg assignment build; the frame left
      // warm after its last rep benefits qn08b only if the sweep is
      // reordered — qn20b rebuilds its own centroid collect and has
      // uniform reps by design. qn20c owns the IVF assignment memo. q0z
      // builds a fresh fixture dir per invocation, so its reps are
      // uniform by design.
      "qn05_simhash_values" -> Seq(),
      "qn23_substring_spans" -> Seq(),
      "qp01_clean_corpus" -> Seq("clean45"),
      "qp03_training_manifest" -> Seq("clean45"),
      "q0z_zonemap_scan" -> Seq(),
      "qn20_semantic_dedup" -> Seq("semasg"),
      "qn20b_semantic_dedup_stream" -> Seq(),
      "qn20c_semantic_dedup_ivf" -> Seq("semasgivf"),
      // Round-14 verdict: every query >3 s gets the median-of-3
      // protocol so round-over-round drift separates into plan change
      // vs load noise (qp11 +37%, q13b +24%, q0bz +30% arrived as
      // single samples with no spread to judge them by). Rep
      // semantics per query: qp11 memoizes its crash-free batch-0
      // base lake ON FIRST INVOCATION (so rep 1 carries that one-time
      // build and the SPREAD prices it; the median is the steady-state
      // crash+repair+replay the gate exists for); q13b is a pure
      // two-agg pass and q0bz builds a fresh fixture dir per
      // invocation — uniform reps by design; qn36 owns the residual
      // codebook/codes memos (cleared per rep, left warm for
      // qn39-qn41 downstream, matching their sweep-order semantics);
      // qn41 consumes only frames earlier queries left warm — uniform
      // reps; qn43 owns the OPQ-rotated memo pair with no downstream
      // consumer.
      "qp11_ingest_crash_repair" -> Seq(),
      "q13b_approx_distinct" -> Seq(),
      "q0bz_three_tier_lookup" -> Seq(),
      "qn36_ann_ivfpq_residual" -> Seq("pqrcb", "pqrcodes"),
      "qn41_ann_recall_floor" -> Seq(),
      "qn43_ann_pq_adc_opq" -> Seq("pqcb:opq", "pqcodes:opq"))
    val reps = 3
    // Failures are first-class output: round 8 proved that swallowing
    // them times a dead query as a ~0s no-op and the artifact reads as
    // "fast" — 13 analysis-failing queries inflated "106 queries, 149s"
    // while actually exercising 93. A failed query is recorded as
    // (name, exception class), excluded from n_queries/total, and
    // printed in a "failed" field so the artifact can't mask an outage.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    def timed(name: String): Option[Double] = {
      val t0 = System.nanoTime()
      val ok = try { run(name); true } catch {
        case e: Throwable =>
          failed(name) = e.getClass.getSimpleName
          System.err.println(s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
          false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // Between measurements every plan built inside this timed() is
      // fully materialized (noop sink) and discarded, so the centroid
      // broadcasts qn20b's batch twin accumulates are destroyable NOW
      // rather than at whatever later point the ContextCleaner notices.
      graft.streaming.StreamSemantic.releaseBroadcasts(spark)
      // Drop dead localCheckpoint blocks between measurements: the pair
      // queries pin materialized RDDs, and without a GC the
      // ContextCleaner never unpersists them — storage fills, later
      // queries measure eviction/GC instead of their own plan.
      System.gc()
      if (ok) Some(dt) else None
    }
    // Warmup (session/codegen/FS init). Not measured; a failure here is
    // loud on stderr but must not kill the sweep — q12 is also measured
    // below and would be reported failed there.
    try run("q12_agg_pricing_summary")
    catch { case e: Throwable => System.err.println(s"BENCH WARMUP FAIL: $e") }
    // SPARK_GRAFT_ONLY=qa,qb restricts the sweep (dev-time A/B timing).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // (name, reported seconds, max-min spread over reps, min over reps).
    // For the noisy set the MIN is the plan floor (BENCH_NOTES: same-plan
    // sweeps move 11s <-> 17s with host load; cold minima match) — it is
    // what separates a plan change from load noise round-over-round.
    val results: Seq[(String, Double, Double, Double)] =
      names.flatMap { name =>
        noisy.get(name) match {
          case None => timed(name).map(t => (name, t, 0.0, t))
          case Some(tags) =>
            // A rep that fails aborts the remaining reps — the query is
            // dead, not noisy, and re-running a failure 3x buys nothing.
            val ts = (1 to reps).iterator.map { _ =>
              tags.foreach(t => graft.operators.Dedup.clearMemo(spark, t))
              timed(name)
            }.takeWhile(_.isDefined).flatten.toSeq.sorted
            if (ts.size < reps) None
            else Some((name, ts(reps / 2), ts.last - ts.head, ts.head))
        }
      }
    def fmt(v: Double): String = f"$v%.3f"
    val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val noisyResults = results.filter { case (k, _, _, _) => noisy.contains(k) }
    val spread = noisyResults
      .map { case (k, _, sp, _) => s"\"" + k + "\":" + fmt(sp) }.mkString("{", ",", "}")
    val mins = noisyResults
      .map { case (k, _, _, mn) => s"\"" + k + "\":" + fmt(mn) }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Noise-resistant headlines (round-16 verdict task 6): `total`
    // already sums the per-query REPORTED values (median-of-3 for the
    // noisy set, single sample otherwise) — `sum_of_medians` states
    // that invariant explicitly as its own field; `total_min` sums the
    // per-query MINIMA (the plan floor — BENCH_NOTES: same-plan sweeps
    // moved 1.7x with host load while cold minima matched), the number
    // to read when two rounds' hosts disagree.
    val totalMin = results.map(_._4).sum
    val failedJson = failed
      .map { case (k, ex) => s"\"" + k + "\":\"" + ex + "\"" }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sum_of_medians":${fmt(total)},"total_min":${fmt(totalMin)},"queries":$qs,"n_queries":${results.size},"n_failed":${failed.size},"failed":$failedJson,"reps_noisy":$reps,"spread":$spread,"min":$mins,"sf":"$sfDir"}""")
    // The full line above exceeds 2 KB at 70+ queries, and harness log
    // capture may keep only the output tail — repeat the headline stats
    // in a compact trailing line so the total is never truncated away.
    val slowest = results.sortBy(-_._2).take(8)
      .map { case (k, v, _, _) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sum_of_medians":${fmt(total)},"total_min":${fmt(totalMin)},"n_queries":${results.size},"n_failed":${failed.size},"failed":$failedJson,"slowest":$slowest,"min_noisy":$mins,"sf":"$sfDir"}""")
    spark.stop()
  }
}
