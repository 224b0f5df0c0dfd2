package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Self-checks for the curation compositions beyond the DuckDB hash
  * gate: accounting invariants, sketch losslessness, permutation
  * correctness, and canonical-choice sanity.
  */
object CurationSpec {
  case class HealthDoc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
}

class CurationSpec extends AnyFunSuite {
  import TestSpark._

  test("qn20 per-cluster accounting covers the whole corpus") {
    val rows = SparkEntry.queries("qn20_semantic_dedup")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped") == r.getAs[Long]("n_vecs"))
      assert(r.getAs[Long]("n_kept") >= 1, "a cluster must keep at least its lowest-id member")
    }
    val total = rows.map(_.getAs[Long]("n_vecs")).sum
    assert(total == Tables.embeddings(spark, sf).count())
  }

  test("qn20 centroid count grows ~sqrt(N): 4x rows => 2x clusters, bounded cluster sizes") {
    import spark.implicits._
    // Unit vectors on a circle: evenly-spread angles make the stride-
    // seeded centroids evenly spaced too, so nearest-centroid clusters
    // are balanced and sizes are checkable against N/k.
    def write(n: Int): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_qn20_k$n").toString
      (0 until n).map { i =>
        val th = 2.0 * math.Pi * i / n
        (i.toLong, Array(math.cos(th).toFloat, math.sin(th).toFloat), 0)
      }.toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
      dir
    }
    def clusters(n: Int): Array[org.apache.spark.sql.Row] =
      SparkEntry.queries("qn20_semantic_dedup")(spark, write(n)).collect()
    val small = clusters(256) // k = max(8, ceil(sqrt(256))) = 16
    val big = clusters(1024)  // k = 32
    assert(small.length == 16, s"expected 16 clusters at n=256, got ${small.length}")
    assert(big.length == 32, s"expected 32 clusters at n=1024, got ${big.length}")
    // Per-cluster candidate work stays bounded: no cluster balloons past
    // a small multiple of the N/k average (the quadratic-per-cluster
    // hazard the sqrt(N) regime exists to prevent).
    assert(big.map(_.getAs[Long]("n_vecs")).max <= 2L * 1024 / 32,
      "a cluster exceeded 2x the balanced size on an evenly-spread corpus")
    assert(big.map(_.getAs[Long]("n_vecs")).sum == 1024L)
  }

  test("qn08b finds every within-cluster twin pair with exact scores") {
    import spark.implicits._
    // 40 vectors = 20 exact twin pairs on a circle: identical twins
    // assign to the same centroid by construction (same argmax), so the
    // cluster-bounded miner must emit EXACTLY the 20 twin pairs at
    // cos = 1.0 — distinct angles keep every non-twin pair far below
    // the 0.99 threshold. (The sf corpus has no qualifying pairs, so
    // the oracle row for qn08b is a zero-row hash match; this is the
    // positive-output proof.)
    val dir = java.nio.file.Files.createTempDirectory("graft_qn08b").toString
    (0 until 40).map { i =>
      val th = 2.0 * math.Pi * (i / 2) / 20
      (i.toLong, Array(math.cos(th).toFloat, math.sin(th).toFloat), 0)
    }.toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
    val rows = SparkEntry.queries("qn08b_cluster_near_pairs")(spark, dir).collect()
    assert(rows.length == 20, s"expected 20 twin pairs, got ${rows.length}")
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))
      assert(b == a + 1 && a % 2 == 0, s"non-twin pair ($a, $b) surfaced")
      // e6 FLOORS dot/(na*nb), which can land one ulp under 1.0 for
      // identical vectors — 999999 is a correct floor, not an error.
      assert(r.getAs[Long]("score_e6") >= 999999L, s"twin score not ~1.0: $r")
    }
  }

  test("qn20c IVF accounting covers the whole corpus") {
    val rows = SparkEntry.queries("qn20c_semantic_dedup_ivf")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped") == r.getAs[Long]("n_vecs"))
      assert(r.getAs[Long]("n_kept") >= 1)
    }
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == Tables.embeddings(spark, sf).count())
  }

  test("qn20c IVF route scores sub-N*k candidates and mostly agrees with the exact tier") {
    import graft.operators.Curation
    // The whole point of the tier: candidate volume must undercut the
    // brute-force N*k the exact assignment pays (here by ~nProbe/k2).
    val (cand, brute) = Curation.ivfCandidateVolume(spark, sf)
    assert(cand < brute, s"IVF candidates ($cand) must undercut brute-force N*k ($brute)")
    // Quantified agreement vs exact (the declared-miss contract made
    // measurable): on the 64-dim synthetic corpus the top-3-of-k2 probe
    // recovers the exact argmax centroid for the large majority of
    // vectors. The floor is deliberately below the measured value —
    // it pins "mostly right", not a brittle exact rate.
    val (exact, n, _) = Curation.semAssignment(spark, sf)
    val (ivf, _, _) = Curation.semAssignmentIvf(spark, sf)
    val agree = exact.select(col("vec_id"), col("cent_id").as("ec"))
      .join(ivf.select(col("vec_id"), col("cent_id").as("ic")), "vec_id")
      .filter(col("ec") === col("ic")).count()
    assert(agree * 10 >= n * 6, s"IVF agreement $agree/$n below the 60% floor")
  }

  test("qn08c cluster branch finds planted high-dim pairs within a pinned recall floor") {
    import graft.operators.Similarity
    // The plant arithmetic assumes vec_id is dense [0, n) — pin it, or
    // the query's nV bookkeeping silently drifts from the real corpus.
    val ids = Tables.embeddings(spark, sf).agg(count(lit(1)), max(col("vec_id"))).head()
    assert(ids.getLong(1) == ids.getLong(0) - 1, "vec_id is not dense [0, n)")

    // Brute-force truth over the planted corpus: every planted copy is a
    // true near pair by construction (cos >= 0.99995 for any mass
    // split), so truth must be exactly the plantCount pairs — this also
    // re-checks that the raw corpus has no organic pairs muddying the
    // recall denominator.
    val v = Similarity.plantedVecs(spark, sf)
    val truth = v.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nrm").as("na"))
      .join(v.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb")),
        col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        graft.functions.TextFns.e6(graft.functions.TextFns.cosine(
          graft.functions.VectorExprs.dotNative(col("ea"), col("eb")),
          col("na"), col("nb"))).as("score_e6"))
      .filter(col("score_e6") >= 990000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(truth.size == Similarity.plantCount,
      s"expected exactly ${Similarity.plantCount} true planted pairs, got ${truth.size}")
    truth.keys.foreach { case (a, b) =>
      assert(b == a + Similarity.plantIdOffset, s"non-planted truth pair ($a,$b)")
    }

    // The registered query: found pairs must be a SUBSET of truth with
    // exact scores (the cluster bound may miss, never invent), the row
    // count must be positive (the whole point — qn08's r8 evidence gap
    // was a 0-vs-0 oracle row), and recall carries the same 60% floor
    // the qn20c agreement bound uses. Measured this round: 39/40.
    val found = SparkEntry.queries("qn08c_planted_near_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(found.nonEmpty, "cluster branch found no planted pairs at all")
    found.foreach { case (pair, score) =>
      assert(truth.get(pair).contains(score),
        s"found pair $pair (score $score) not in brute-force truth ${truth.get(pair)}")
    }
    assert(found.size * 10 >= truth.size * 6,
      s"planted recall ${found.size}/${truth.size} below the 60% floor")
  }

  test("qn08 dispatch boundary: 23 dims routes to the grid, 24 to the cluster branch") {
    import spark.implicits._
    import graft.operators.Similarity
    // Same corpus EMBEDDED at both widths — 40 vectors = 20 exact twin
    // pairs on a circle in the first two coordinates, zero-padded to the
    // target dimension. Twins share an argmax centroid and the grid is
    // lossless, so BOTH routes must emit exactly the 20 twin pairs: the
    // boundary flips the plan, never the answer. Pins gridMaxDim = 23
    // against drift (the oracle bakes the same literal, so an engine-side
    // drift would silently fork the dispatch).
    def corpus(dim: Int): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_dim$dim").toString
      (0 until 40).map { i =>
        val th = 2.0 * math.Pi * (i / 2) / 20
        val v = Array.fill(dim)(0.0f)
        v(0) = math.cos(th).toFloat; v(1) = math.sin(th).toFloat
        (i.toLong, v, 0)
      }.toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
      dir
    }
    def twinPairs(dir: String): Seq[(Long, Long)] =
      SparkEntry.queries("qn08_cosine_near_pairs")(spark, dir)
        .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSeq
    val atGrid = twinPairs(corpus(Similarity.gridMaxDim))
    assert(Similarity.lastNearPairPath == "grid",
      s"dim ${Similarity.gridMaxDim} must route to the lossless grid")
    val atCluster = twinPairs(corpus(Similarity.gridMaxDim + 1))
    assert(Similarity.lastNearPairPath == "cluster",
      s"dim ${Similarity.gridMaxDim + 1} must route to the cluster branch")
    val expected = (0 until 40 by 2).map(i => (i.toLong, i + 1L))
    assert(atGrid == expected, s"grid route pairs: $atGrid")
    assert(atCluster == expected, s"cluster route pairs: $atCluster")
  }

  test("qn21 bloom gate is lossless: identical results to the exact-only join") {
    // The registered query (bloom prefilter + exact verify) must emit
    // exactly what the exact join alone emits — the sketch may only
    // prune definite negatives.
    val gated = SparkEntry.queries("qn21_bloom_decontamination")(spark, sf)
      .collect().map(_.toString).sorted
    val toks = graft.functions.TextFns.tokens(col("text"))
    val kg = array_distinct(transform(sequence(lit(1), size(col("tk")) - 4),
      i => concat_ws(" ", (0 until 5).map(o => element_at(col("tk"), i + o)): _*)))
    val g = Tables.documents(spark, sf)
      .filter(size(toks) >= 5)
      .select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"), kg.as("grams"))
      .select(col("doc_id"), size(col("grams")).as("n_grams"), explode(col("grams")).as("gram"))
    val bench = g.filter(col("doc_id") % 97 === 0).select("gram").distinct()
    val exact = g.filter(col("doc_id") % 97 =!= 0)
      .join(bench, "gram")
      .groupBy("doc_id")
      .agg(max(col("n_grams")).as("n_grams"), count(lit(1)).as("n_shared"))
      .select(col("doc_id"), col("n_shared"), col("n_grams"),
        graft.functions.TextFns.e6(col("n_shared").cast("double") / col("n_grams")).as("contam_e6"),
        when(col("n_shared") * 10 >= col("n_grams"), 1L).otherwise(0L).as("flagged"))
      .collect().map(_.toString).sorted
    assert(gated.toSeq == exact.toSeq)
  }

  test("qn21 plan carries the might_contain sketch probe") {
    val plan = SparkEntry.queries("qn21_bloom_decontamination")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"no bloom probe in plan:\n$plan")
  }

  test("qn22 epoch positions are a permutation and batches are full-size blocks") {
    val rows = SparkEntry.queries("qn22_epoch_shuffle")(spark, sf)
      .select("epoch_pos", "batch").collect()
    val n = rows.length
    assert(rows.map(_.getLong(0)).toSet == (1L to n).toSet, "epoch_pos must be 1..n exactly once")
    rows.foreach(r => assert(r.getLong(1) == (r.getLong(0) - 1) / 32))
  }

  test("qn22 plan has no unpartitioned window (global-sort-free rank)") {
    val plan = SparkEntry.queries("qn22_epoch_shuffle")(spark, sf)
      .queryExecution.optimizedPlan.toString
    // The only Window in the plan partitions by the range-partition id;
    // a naive plan would show windowspecdefinition(hsh ...) with no
    // partition column.
    assert(!plan.contains("windowspecdefinition(hsh"),
      s"global window leaked into the epoch-shuffle plan:\n$plan")
  }

  test("qn20 within-cluster join flips broadcast -> shuffled-hash over the size cap") {
    def run() = SparkEntry.queries("qn20_semantic_dedup")(spark, sf)
    val big = run()
    // Pin the cent_id equi-join specifically — other joins in the plan
    // (the drp rejoin) may broadcast regardless and would make a bare
    // BroadcastHashJoin check vacuous.
    assert(big.queryExecution.executedPlan.toString
      .matches("(?s).*BroadcastHashJoin \\[cent_id.*"),
      "default cap should broadcast the cent_id side")
    val bigRows = big.collect().map(_.toString).toSeq
    try {
      spark.conf.set("spark.graft.pairJoin.broadcastMaxRows", "0")
      val small = run()
      assert(small.queryExecution.executedPlan.toString.contains("ShuffledHashJoin"),
        "cap=0 should shuffle-hash the cent_id join")
      // identical rows either way: the cap changes physical strategy only
      assert(small.collect().map(_.toString).toSeq == bigRows)
    } finally spark.conf.unset("spark.graft.pairJoin.broadcastMaxRows")
  }

  /** The qn20 seed table over a (vec_id, embedding, nrm) frame: the
    * stride seeds keyed by their own vec_id, the oracle's cent_id. */
  private def semSeeds(v: org.apache.spark.sql.DataFrame, n: Long) = {
    val (stride, k) = graft.operators.Curation.centroidSeeds(n)
    v.filter(col("vec_id") % stride === 0 && col("vec_id") < stride * k)
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"), col("nrm").as("cn"))
  }

  private def normed(dir: String) = Tables.embeddings(spark, dir).select(col("vec_id"),
    col("embedding"), graft.functions.VectorExprs.l2normNative(col("embedding")).as("nrm"))

  private def cellsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Long]] =
    df.select(col("vec_id"), col("cent_id")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap

  test("qn20's assignment gives every vector IVF's cell over the same seeds, on both native routes") {
    import graft.operators.Similarity
    val (asg, n, _) = graft.operators.Curation.semAssignment(spark, sf)
    val got = cellsOf(asg)
    val v = normed(sf)
    val seeds = semSeeds(v, n)
    assert(got.size == n && got.values.flatten.toSet.size > 1, "assignment covers the corpus")
    assert(got == cellsOf(Similarity.ivfAssigned(v, seeds, Seq("vec_id"))),
      "the window form disagrees")
    // The broadcast payload route, forced at fixture size.
    assert(got == cellsOf(Similarity.nativeAssignBlocked(v, seeds, Seq("vec_id"), blockCells = 4)),
      "the broadcast route disagrees")
  }

  test("qn20's assignment takes IVF's rules on a zero-norm and a NULL-embedding row") {
    import spark.implicits._
    // 64 unit vectors on a circle plus one zero vector (id 64) and one
    // NULL embedding (id 65); neither is a seed (stride 7). A zero norm
    // scores NaN against every seed, which the native argmax floors to
    // 0, so the row lands on the lowest cent_id (the window form's
    // ANSI division throws DIVIDE_BY_ZERO here); a NULL embedding
    // assigns to no cell.
    val dir = java.nio.file.Files.createTempDirectory("graft_qn20_edge").toString
    ((0 until 64).map { i =>
      val th = 2.0 * math.Pi * i / 64
      (i.toLong, Array(math.cos(th).toFloat, math.sin(th).toFloat))
    } ++ Seq(64L -> Array(0f, 0f), 65L -> (null: Array[Float])))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val (asg, n, _) = graft.operators.Curation.semAssignment(spark, dir)
    val got = cellsOf(asg)
    assert(n == 66 && got.size == 66)
    assert(got(64L).contains(0L), s"zero-norm row: ${got(64L)}")
    assert(got(65L).isEmpty, s"NULL-embedding row: ${got(65L)}")
    assert(got == cellsOf(graft.operators.Similarity.nativeAssignBlocked(
      normed(dir), semSeeds(normed(dir), n), Seq("vec_id"))))
  }

  test("qp02 per-cluster argmax plans through TopKPerGroup") {
    val p = SparkEntry.queries("qp02_canonical_selection")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("TopKPerGroup"), p)
  }

  test("qn23 longest runs equal the true longest common token substring") {
    val reported = SparkEntry.queries("qn23_substring_spans")(spark, sf)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("longest_run_tokens")).toMap
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.functions.TextFns.tokens(col("text")).as("tk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toArray).toMap
    // Brute-force longest common substring (token-level DP) over every
    // pair; pairs with LCS >= 8 must be reported with exactly that run.
    def lcs(a: Array[String], b: Array[String]): Int = {
      var best = 0
      val prev = new Array[Int](b.length + 1)
      for (i <- 1 to a.length) {
        var diag = 0
        for (j <- 1 to b.length) {
          val tmp = prev(j)
          if (a(i - 1) == b(j - 1)) { prev(j) = diag + 1; if (prev(j) > best) best = prev(j) }
          else prev(j) = 0
          diag = tmp
        }
      }
      best
    }
    val ids = docs.keys.toSeq.sorted
    var checkedPairs = 0
    for (i <- ids.indices; j <- (i + 1) until ids.length) {
      val (a, b) = (ids(i), ids(j))
      val truth = lcs(docs(a), docs(b))
      if (truth >= 8) {
        assert(reported.get((a, b)).contains(truth.toLong),
          s"pair ($a,$b): reported ${reported.get((a, b))} != true LCS $truth")
        checkedPairs += 1
      } else {
        assert(!reported.contains((a, b)), s"pair ($a,$b) reported but true LCS is $truth < 8")
      }
    }
    assert(checkedPairs > 0, "fixture has no >=8-token shared substrings to check")
  }

  test("qn23 tolerates documents shorter than the gram width") {
    import spark.implicits._
    // A 7-token doc used to make sequence(1, size-7) descend through
    // element_at(tk, 0) and throw; it must simply contribute no grams.
    val dir = java.nio.file.Files.createTempDirectory("graft_qn23_short").toString
    Seq(
      (1L, "only seven tokens live in this document", "en", "t", 40L),
      (2L, "a b c d e f g h i j k l m n o p", "en", "t", 31L),
      (3L, "a b c d e f g h i j k l m n o p", "en", "t", 31L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("qn23_substring_spans")(spark, dir).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 3L)))
    assert(rows.head.getAs[Long]("longest_run_tokens") == 16L)
  }

  test("qp02 canonical member is the longest document of a real cluster") {
    val canon = SparkEntry.queries("qp02_canonical_selection")(spark, sf).collect()
    val comp = graft.operators.Dedup.componentLabels(spark, sf)
      .join(Tables.documents(spark, sf).select("doc_id", "n_chars"), "doc_id")
      .collect().map(r => (r.getAs[Long]("comp"), r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars")))
      .groupBy(_._1)
    canon.foreach { r =>
      val members = comp(r.getAs[Long]("comp"))
      assert(members.size == r.getAs[Long]("n_members"))
      assert(members.size > 1)
      val best = members.maxBy(m => (m._3, -m._2))
      assert(r.getAs[Long]("canonical_doc") == best._2)
      assert(r.getAs[Long]("canonical_chars") == best._3)
    }
  }

  test("qp04 audit histogram accounts for every document exactly once") {
    val audit = SparkEntry.queries("qp04_dedup_audit")(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(audit.map(_.getAs[Long]("n_docs")).sum == nDocs)
    audit.foreach { r =>
      val (csize, nc) = (r.getAs[Long]("csize"), r.getAs[Long]("n_clusters"))
      assert(r.getAs[Long]("n_docs") == csize * nc)
      assert(r.getAs[Long]("n_redundant") == (csize - 1) * nc)
    }
    // Redundant docs = docs minus one canonical per cluster.
    val nClusters = audit.map(_.getAs[Long]("n_clusters")).sum
    assert(audit.map(_.getAs[Long]("n_redundant")).sum == nDocs - nClusters)
  }

  test("component labels are a memoized view within a session") {
    graft.operators.Dedup.clearMemo(spark, "components")
    val a = graft.operators.Dedup.componentLabels(spark, sf)
    val b = graft.operators.Dedup.componentLabels(spark, sf)
    assert(a eq b, "second call re-ran the propagation loop")
    // Read the memoized frame BEFORE eviction — clearing the tag
    // unpersists its checkpoint blocks (that's the point of eviction).
    val before = a.collect().map(_.toString).sorted.toSeq
    graft.operators.Dedup.clearMemo(spark, "components")
    val c = graft.operators.Dedup.componentLabels(spark, sf)
    assert(!(a eq c), "tag eviction did not invalidate the memo")
    // And the rebuild is deterministic.
    assert(c.collect().map(_.toString).sorted.toSeq == before)
  }

  test("qp05 curriculum is a band-monotone permutation with full batches") {
    val rows = SparkEntry.queries("qp05_curriculum")(spark, sf).collect()
    val n = Tables.documents(spark, sf).count()
    // Positions are a permutation of 1..n.
    assert(rows.map(_.getAs[Long]("pos")).sorted.toSeq == (1L to n).toSeq)
    // Bands never decrease along the curriculum (short-to-long serving).
    val byPos = rows.sortBy(_.getAs[Long]("pos"))
    val bands = byPos.map(_.getAs[Long]("band"))
    assert(bands.sliding(2).forall(p => p(0) <= p(1)))
    // Every batch except the last is exactly 32 documents.
    val sizes = byPos.groupBy(_.getAs[Long]("batch")).toSeq.sortBy(_._1).map(_._2.length)
    assert(sizes.init.forall(_ == 32))
    // And qn22's shuffle actually reorders within bands: doc_ids within
    // a band are not served in ascending id order.
    val firstBand = byPos.filter(_.getAs[Long]("band") == bands.head)
      .map(_.getAs[Long]("doc_id"))
    assert(firstBand.toSeq != firstBand.sorted.toSeq)
  }

  test("qp07 validates in ONE corpus pass and its counts match brute force") {
    val df = SparkEntry.queries("qp07_quality_constraints")(spark, sf)
    // One scan: every constraint is a column of a single aggregate, so
    // the plan reads documents.parquet exactly once (the uniqueness
    // distinct rides the same pass via Expand). A per-rule-scan
    // regression would show up as a second file scan here.
    val plan = df.queryExecution.executedPlan.toString
    val scans = "documents\\.parquet".r.findAllIn(plan).length
    assert(scans == 1, s"validation suite scans the corpus $scans times:\n$plan")
    val rows = df.collect().map(r => r.getAs[String]("check_name") ->
      (r.getAs[Long]("n_violations"), r.getAs[Long]("n_checked"), r.getAs[Boolean]("ok"))).toMap
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    assert(rows.values.forall(_._2 == n))
    assert(rows("doc_id_unique") == ((0L, n, true)))
    val short = docs.filter(length(col("text")) < 50).count()
    assert(rows("text_min_50_chars") == ((short, n, short == 0L)))
    assert(rows.forall { case (_, (v, _, ok)) => ok == (v == 0L) })
  }

  test("observed validation rides another job's pass and matches qp07's counts") {
    import operators.Curation
    val obs = new org.apache.spark.sql.Observation("corpus_health")
    // The "existing job" here is the fingerprint aggregation; validation
    // attaches to its input scan and costs no extra pass.
    val fp = Curation.corpusFingerprint(
      Curation.withValidationObserved(Tables.documents(spark, sf), obs))
    assert(fp.collect().nonEmpty) // the action that populates the metrics
    val m = obs.get
    val dedicated = SparkEntry.queries("qp07_quality_constraints")(spark, sf)
      .collect().map(r => r.getAs[String]("check_name") -> r.getAs[Long]("n_violations")).toMap
    assert(m("n") == Tables.documents(spark, sf).count())
    assert(m("empty_text") == dedicated("text_nonempty"))
    assert(m("bad_lang") == dedicated("lang_in_set"))
    assert(m("len_mismatch") == dedicated("n_chars_consistent"))
    assert(m("short_text") == dedicated("text_min_50_chars"))
    // HLL stand-in for exact uniqueness: within its error bound.
    val n = m("n").asInstanceOf[Long]
    val approx = m("approx_distinct_ids").asInstanceOf[Long]
    assert(math.abs(approx - n).toDouble / n < 0.1)
  }

  test("observed validation reports per micro-batch on a stream") {
    import operators.Curation
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import CurationSpec.HealthDoc
    import spark.implicits._
    val rows = Tables.documents(spark, sf).collect().map(r => HealthDoc(
      r.getAs[Long]("doc_id"), r.getAs[String]("text"), r.getAs[String]("lang"),
      r.getAs[String]("source"), r.getAs[Long]("n_chars")))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val ms = MemoryStream[HealthDoc]
    val q = Curation.withValidationObserved(ms.toDF(), "corpus_health")
      .writeStream.format("noop").outputMode("append").start()
    try {
      ms.addData(b1.toSeq); q.processAllAvailable()
      ms.addData(b2.toSeq); q.processAllAvailable()
      val perBatch = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("corpus_health")))
      assert(perBatch.size == 2, s"expected 2 observed batches, got ${perBatch.size}")
      // Per-trigger counts sum to the batch-engine totals: the health
      // stream is the same suite qp07 runs, sliced by micro-batch.
      assert(perBatch.map(_.getAs[Long]("n")).sum == rows.length.toLong)
      val shortTotal = Tables.documents(spark, sf)
        .filter(length(col("text")) < 50).count()
      assert(perBatch.map(_.getAs[Long]("short_text")).sum == shortTotal)
      assert(perBatch.map(_.getAs[Long]("len_mismatch")).sum == 0L)
    } finally q.stop()
  }

  test("qp09 quarantine split: one pass, two populations, report agrees") {
    import operators.Curation
    val outDir = s"${java.nio.file.Files.createTempDirectory("quarantine")}/lake"
    Curation.writeQuarantined(Tables.documents(spark, sf), outDir)
    val back = spark.read.parquet(outDir)
    val n = Tables.documents(spark, sf).count()
    assert(back.count() == n, "the split must lose no rows")
    // The quarantined partition matches qp09's oracle-checked report.
    val report = SparkEntry.queries("qp09_quarantine_report")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val quarantined = back.filter(col("quarantined") === true)
      .select("doc_id", "reasons").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(quarantined == report)
    // Clean rows carry no reasons, and a clean-lake reader
    // partition-prunes: only quarantined=false files are scanned.
    val clean = back.filter(col("quarantined") === false)
    assert(clean.count() == n - report.size)
    assert(clean.filter(col("reasons").isNotNull).count() == 0,
      "clean rows must carry NULL reasons, never a value")
    // The quarantined predicate must land INSIDE the PartitionFilters
    // bracket — 'PartitionFilters: []' plus a post-scan Filter would
    // also contain both substrings, so match the bracket itself.
    val plan = clean.select("doc_id").queryExecution.executedPlan.toString()
    assert("PartitionFilters: \\[[^\\]]*quarantined".r.findFirstIn(plan).isDefined,
      s"clean-lake read must partition-prune on the quarantined flag:\n$plan")
  }

  test("qp06 fingerprint is additive and layout-invariant") {
    import operators.Curation
    val docs = Tables.documents(spark, sf)
    def fps(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long)] =
      Curation.corpusFingerprint(df).collect()
        .map(r => r.getAs[String]("lang") ->
          (r.getAs[Long]("n_docs"), r.getAs[Long]("fp"))).toMap
    val full = fps(docs)
    // Additivity: an even/odd doc_id split is an arbitrary "old snapshot
    // + ingest batch" partition; per lang the fingerprints must add mod
    // p and the counts must add exactly. This is the property that makes
    // snapshot maintenance O(new data) at lake scale.
    val even = fps(docs.filter(col("doc_id") % 2 === 0))
    val odd = fps(docs.filter(col("doc_id") % 2 === 1))
    val p = BigInt(Curation.fpModulus)
    full.foreach { case (lang, (n, fp)) =>
      val (ne, fe) = even.getOrElse(lang, (0L, 0L))
      val (no, fo) = odd.getOrElse(lang, (0L, 0L))
      assert(ne + no == n, s"$lang doc counts don't add")
      assert(((BigInt(fe) + BigInt(fo)) mod p) == BigInt(fp),
        s"$lang fingerprints don't add mod p")
    }
    // Layout invariance: a repartitioned (different files, different
    // scan order) copy of the same rows fingerprints identically —
    // compaction provably preserves the signature.
    assert(fps(docs.repartition(7)) == full)
    // Sensitivity: flipping one character of one document moves that
    // lang's fingerprint.
    val tampered = docs.withColumn("text",
      when(col("doc_id") === docs.agg(min("doc_id")).head.getLong(0),
        concat(col("text"), lit("x"))).otherwise(col("text")))
    val tlang = docs.orderBy("doc_id").select("lang").head.getString(0)
    assert(fps(tampered)(tlang)._2 != full(tlang)._2, "tampered doc did not move fp")
  }

  test("qp10 drift localization: an edit moves ONLY its partition's fingerprint, counts unchanged") {
    // The property the drift report is built on: comparing per-partition
    // fingerprints localizes an arbitrary edit to exactly the partitions
    // it touched — and detects it with row counts UNCHANGED, the case a
    // count-based diff is structurally blind to.
    import operators.Curation
    val docs = Tables.documents(spark, sf)
    def fps(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long)] =
      Curation.corpusFingerprint(df).collect()
        .map(r => r.getAs[String]("lang") ->
          (r.getAs[Long]("n_docs"), r.getAs[Long]("fp"))).toMap
    val full = fps(docs)
    val editLang = docs.orderBy("doc_id").select("lang").head.getString(0)
    val editedId = docs.filter(col("lang") === editLang)
      .agg(min("doc_id")).head.getLong(0)
    val edited = fps(docs.withColumn("text",
      when(col("doc_id") === editedId, concat(col("text"), lit(" v2")))
        .otherwise(col("text"))))
    full.foreach { case (lang, (n, fp)) =>
      val (ne, fe) = edited(lang)
      assert(ne == n, s"$lang count moved on an edit")
      if (lang == editLang)
        assert(fe != fp, s"edited partition $lang did not drift")
      else
        assert(fe == fp, s"untouched partition $lang drifted")
    }
  }
}
