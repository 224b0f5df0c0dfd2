package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFns._
import graft.functions.VectorExprs.{dotNative, l2normNative}
import graft.sources.Parquet
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`embedding:
  * array<float>`): brute-force cosine as the exact baseline, a
  * sign-random-projection LSH variant as the sub-linear scale path.
  *
  * Scale design (100 TB): norms are computed once per vector in the scan
  * projection (one pass, no shuffle). Probes are a tiny table —
  * explicitly `broadcast()` so scoring is a map-side nested loop over the
  * big side: the only shuffle in the whole plan is the final per-probe
  * top-k (a window over `probe_id`, k rows per probe survive). The LSH
  * variant buckets both sides by a 16-bit hyperplane-sign signature and
  * equi-joins on (band of the signature), trading recall for a candidate
  * set ~2^-bits the size of the data.
  *
  * Float policy: dot products and norms are sequential double folds —
  * the native [[graft.functions.DotProductFF]] expression, bit-identical
  * to the HOF fold [[graft.functions.TextFns.dot]] (VectorExprsSpec) and
  * to the DuckDB oracle's `list_reduce`; every emitted score and every
  * ordering key is the floor-scaled integer `e6(score)` so rank cutoffs
  * cannot diverge on float ties.
  */
object Similarity extends IndexRung {

  /** Max embedding dimension at which qn08's lossless angular grid is
    * still the right plan. The grid's two cell coordinates concentrate
    * ~1/sqrt(dim) for unit vectors, so past ~2 dozen dims the grid spans
    * a handful of cells and candidate volume degenerates toward
    * all-pairs (measured at 32 dims on the round-6 250x battery: the
    * plan never finished). Above this, qn08 routes to the
    * cluster-bounded plan. A CONSTANT, not a conf: the DuckDB oracle
    * replays the identical dispatch predicate, so the rule must be one
    * shared literal, never two settings that can drift. */
  private[graft] val gridMaxDim = 23

  /** How many COARSE cells a corpus-sized probe explores before picking
    * its nProbe fine cells ([[ivfRouteCoarse]]). A constant shared with
    * the qn10d oracle (the gridMaxDim rule): the value changes which
    * fine centroids a probe can see — declared IVF-miss semantics, one
    * literal on both engines. Declared ABOVE `all` — the oracle string
    * interpolates it at object init, which runs in declaration order
    * (a below-`all` declaration interpolated as 0 and emptied the
    * oracle's probe routing; caught by the round-13 verify gate). */
  private[graft] val coarseProbeCells = 2

  /** Centroid count at which [[probeIvfIndexJoined]] switches its probe
    * routing from FLAT (probe x all k centroids) to the two-tier COARSE
    * route ([[ivfRouteCoarse]]). The coarse tier's win is asymptotic —
    * k -> ~3 sqrt(k) score work per probe — but it costs two extra
    * windows and a join; at the 16-cell fixture that fixed overhead is
    * +0.5s against a routing stage that is already trivial (measured in
    * the ivfjoin battery: flat wins until ~500k vectors ~ 700
    * centroids; coarse's lead grows past it). The threshold SITS AT
    * that measured crossover: below it the coarse branch would be both
    * slower (its constants dominate) AND lossy (coarse-MISS semantics)
    * — a round-12 advice finding moved it up from 256, where 256-700
    * centroid indexes paid the semantics change for a performance
    * loss. The qn06 dispatch pattern: measured size picks the branch,
    * and BOTH branches stay oracle-gated every round (qn10d pins flat,
    * qn10e forces coarse at fixture size).
    *
    * Branch semantics are NOT identical (the gridMaxDim contrast):
    * below the threshold the joined path returns exactly the flat
    * routing's neighbors ([[probeIvfIndexWith]]'s hash-identity
    * contract, re-pinned in NorthStarSpec); at-or-above it, coarse-MISS
    * semantics apply — a fine centroid in an unprobed coarse cell is
    * invisible. A caller crossing the threshold (growing index) sees
    * that drift by design; this doc and the dispatch site are the
    * declared contract. */
  private[graft] val coarseRouteMinCentroids = 700L

  /** qn08c's plant: vectors with vec_id < plantCount gain a near-dup
    * copy at vec_id + plantIdOffset whose first coordinate is scaled
    * 1.02x (in double, cast back to float — bit-identical in DuckDB).
    * cos(v, v') >= 0.99995 for every possible mass split, so each copy
    * is a TRUE near pair at the 0.99 threshold by construction. */
  private[graft] val plantCount = 40
  private[graft] val plantIdOffset = 1000000L

  /** The planted corpus with norms: raw embeddings plus the perturbed
    * copies, the qn08c input on both the Spark and (via the mirrored
    * CTE) oracle side. */
  private[graft] def plantedVecs(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val planted = base.filter(col("vec_id") < plantCount)
      .select((col("vec_id") + plantIdOffset).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, (x.cast("double") * lit(1.02)).cast("float")).otherwise(x))
          .as("embedding"))
    base.unionByName(planted)
      .select(col("vec_id"), col("embedding"), l2normNative(col("embedding")).as("nrm"))
  }

  /** Which branch qn08's dimension dispatch took on its most recent
    * plan build ("grid" | "cluster") — a test probe: the cluster
    * branch's assignment collapses behind a checkpoint, so the choice
    * is not reliably readable from the final plan string. */
  @volatile private[graft] var lastNearPairPath: String = ""

  private def vecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), l2normNative(col("embedding")).as("nrm"))

  private def sqlVecs =
    s"SELECT vec_id, embedding, ${sqlL2norm("embedding")} AS nrm FROM embeddings"

  /** A 256-dim corpus DERIVED deterministically from the 64-dim
    * fixture — the oracle-checkable stand-in for production-width
    * embeddings (round-15 verdict task 1: the flat rungs must be
    * exercised past the 64-dim fixture, and a registered query needs a
    * DuckDB-replayable corpus). Replica r of dim i is the fixture's
    * dim (i + 17r) mod 64, sign-flipped when (31r + i) is odd:
    * multiplication by ±1 and the permutation are EXACT in every float
    * width, so Spark and DuckDB derive bit-identical floats — no
    * cross-engine rounding surface — while the flips decorrelate the
    * replicas' sign structure so the multi-word signature actually
    * exercises all four words. */
  private[graft] def wideEmb(emb: Column, replicas: Int = 4): Column =
    flatten(transform(sequence(lit(0), lit(replicas - 1)), r =>
      transform(sequence(lit(0), lit(63)), i =>
        (element_at(emb, ((i + lit(17) * r) % 64) + 1) *
          when(((r * 31 + i) % 2) === 0, lit(1.0f)).otherwise(lit(-1.0f)))
          .cast("float"))))

  private def wideVecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), wideEmb(col("embedding")).as("embedding"))

  /** [[wideEmb]]'s DuckDB replay (validated element-for-element against
    * the Spark column): j in 0..255 decomposes as r = j div 64,
    * i = j mod 64. */
  private def sqlWideEmb: String =
    """list_transform(range(0, 256), j ->
      |  CAST(embedding[CAST((((j % 64) + 17 * (j // 64)) % 64) + 1 AS INT)] *
      |       (CASE WHEN ((j // 64) * 31 + (j % 64)) % 2 = 0 THEN 1 ELSE -1 END) AS FLOAT))""".stripMargin

  private def cosE6(a: String, b: String) =
    sqlE6(s"${sqlDot(s"$a.embedding", s"$b.embedding")} / ($a.nrm * $b.nrm)")

  /** Deterministic pseudo-random hyperplane component for (plane p, dim
    * d): an affine hash folded to {-1, +1}. Shared by the Spark plan and
    * the oracle (literal per-plane constants on both sides) — no RNG
    * state.
    *
    * Per-plane phase AND stride, both splitmix64-drawn: the first cut
    * used one fixed stride (`p*c + d*40503 mod 97`), which makes every
    * plane the SAME period-97 sign sequence at a different phase — two
    * of the 16 planes landed PERFECTLY correlated, inflating band
    * collision probability 0.091 vs the 0.0625 design (measured,
    * round-12; the minhash battery's lesson applied here).
    *
    * The strides are DISTINCT and drawn from 1..48 only, by rejection
    * over the mix64 stream: a repeated stride recreates the original
    * defect between that pair (same sequence, shifted phase), and
    * strides b and 97-b walk the same period-97 sequence in opposite
    * directions (sign patterns that are reverses of each other —
    * measured |corr| 0.84 between two such planes in the first
    * independent-draw cut, round-12 review). Restricting to the lower
    * half eliminates complementary pairs structurally; 16 distinct
    * strides from 48 leave the measured bucket balance at the 0.0625
    * design and pairwise sequence correlations at the random-±1
    * baseline (max 0.375 at 64 dims). Both properties are spec-pinned.
    */
  private[graft] def signA(p: Int): Long = Math.floorMod(mix64(1000L + 2L * p), 97L)
  private[graft] lazy val signStrides: IndexedSeq[Long] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var k = 0L
    while (out.size < 16) {
      val c = Math.floorMod(mix64(5000L + k), 48L) + 1L
      if (!out.contains(c)) out += c
      k += 1
    }
    out.toIndexedSeq
  }
  private[graft] def signB(p: Int): Long = signStrides(p)
  private def sign(p: Int, d: Column): Column =
    when(((lit(signA(p)) + d * lit(signB(p))) % 97L) < 48L, lit(1.0))
      .otherwise(lit(-1.0))

  val all: Seq[Q] = Seq(

    // Exact top-5 cosine neighbors for 10 probe vectors (vec_id < 10).
    Q("qn07_cosine_topk",
      s"""WITH v AS ($sqlVecs),
         |s AS (SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
         |             ${cosE6("p", "c")} AS score_e6
         |      FROM v p, v c WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
         |                  ORDER BY score_e6 DESC, vec_id) AS rnk FROM s)
         |SELECT probe_id, rnk, vec_id, score_e6 FROM r
         |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin) { (s, dir) =>
      val v = vecs(s, dir)
      val probes = v.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"), col("nrm").as("pn"))
      val scored = v.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          e6(cosine(dotNative(col("pe"), col("embedding")), col("pn"), col("nrm"))).as("score_e6"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("score_e6").desc, col("vec_id").asc)
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("probe_id"), col("rnk").cast("long").as("rnk"), col("vec_id"), col("score_e6"))
        .orderBy("probe_id", "rnk")
    },

    // All-pairs near-duplicate detection in embedding space:
    // cosine >= 0.99 (integer threshold on the e6 score), DISPATCHED BY
    // MEASURED DIMENSION. At dim <= gridMaxDim the plan blocks LOSSLESSLY
    // on an angular grid ([[nearPairCandidates]]): candidate generation
    // is an equi-join on cell keys, never a nested-loop cross product —
    // exact results, sub-quadratic work whenever the corpus has angular
    // diversity. Above it the grid is MEASURED to degenerate toward
    // all-pairs (round-6 250x battery: never finished at 32 dims —
    // normalized coordinates concentrate ~1/sqrt(dim)), so the entry
    // point routes to the cluster-bounded plan (qn08b's machinery:
    // within-cluster pairs over the memoized sqrt(N) assignment, declared
    // SemDeDup miss semantics). The oracle replays the SAME dispatch:
    // both branches are gated on the corpus's max dimension, so engine
    // and oracle always take the same branch — the dispatch rule is part
    // of the declared semantics, not a hidden approximation.
    Q("qn08_cosine_near_pairs",
      s"""WITH ${Curation.semAsgCteList},
         |dimp AS (SELECT MAX(len(embedding)) AS dim FROM v)
         |SELECT vec_a, vec_b, score_e6 FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         ${cosE6("a", "b")} AS score_e6
         |  FROM v a CROSS JOIN v b CROSS JOIN dimp
         |  WHERE dimp.dim <= $gridMaxDim
         |    AND a.vec_id < b.vec_id AND ${cosE6("a", "b")} >= 990000
         |  UNION ALL
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         ${cosE6("a", "b")} AS score_e6
         |  FROM asg a JOIN asg b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
         |  CROSS JOIN dimp
         |  WHERE dimp.dim > $gridMaxDim AND ${cosE6("a", "b")} >= 990000)
         |ORDER BY vec_a, vec_b""".stripMargin) { (s, dir) =>
      val (_, dim) = Curation.embedStats(s, dir)
      if (dim > gridMaxDim) {
        lastNearPairPath = "cluster"
        Curation.clusterNearPairs(s, dir)
      } else {
        lastNearPairPath = "grid"
        nearPairCandidates(Tables.embeddings(s, dir))
          .select(col("vec_a"), col("vec_b"),
            e6(cosine(dotNative(col("ea"), col("eb")), col("na"), col("nb"))).as("score_e6"))
          .filter(col("score_e6") >= 990000)
          .orderBy("vec_a", "vec_b")
      }
    },

    // RECALL EVIDENCE for the high-dimension branch. The synthetic
    // embeddings corpus has no organic pairs at the 0.99 threshold, so
    // qn08/qn08b's correctness rows match 0-vs-0 — structurally unable
    // to catch a recall regression in the cluster branch (the oracle
    // replays the same dispatch, so a branch that silently dropped every
    // pair would still "match"). This query PLANTS near-duplicates:
    // every vec_id < plantCount gains a copy (id + plantIdOffset) with
    // its first coordinate scaled 1.02x — cos(v, v') =
    // (1 + .02t)/sqrt(1 + .0404t) >= 0.99995 for all t = v1^2/|v|^2, so
    // each of the 40 planted pairs is a TRUE near pair by construction —
    // and routes the 540-vector corpus through the IDENTICAL
    // sqrt(N)-centroid machinery (shared seeds rule, e6 scores,
    // tie-breaks; the oracle replays it over the same planted CTE). The
    // output is the within-cluster found subset: a positive-row hash
    // check every round, plus the quantified recall floor vs brute force
    // in CurationSpec ("cluster branch finds planted high-dim pairs").
    Q("qn08c_planted_near_pairs",
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + $plantIdOffset AS vec_id,
         |         [CASE WHEN i = 0 THEN CAST(CAST(embedding[i + 1] AS DOUBLE) * 1.02 AS REAL)
         |               ELSE embedding[i + 1] END for i in range(0, len(embedding))] AS embedding
         |  FROM embeddings WHERE vec_id < $plantCount),
         |${Curation.semAsgCteListFrom("corpus")}
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |       ${cosE6("a", "b")} AS score_e6
         |FROM asg a JOIN asg b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
         |WHERE ${cosE6("a", "b")} >= 990000
         |ORDER BY vec_a, vec_b""".stripMargin) { (s, dir) =>
      val (nV0, dim) = Curation.embedStats(s, dir)
      // vec_id is dense [0, nV0) (pinned by the recall spec), so the
      // plant adds exactly min(plantCount, nV0) rows — no extra count job.
      val nV = nV0 + math.min(plantCount.toLong, nV0)
      val asg = Curation.semAssignmentOver(s, plantedVecs(s, dir), nV, dir + "#planted")
      Curation.clusterPairsOf(s, asg, nV, dim)
    },

    // ANN: 16-plane sign-random-projection LSH. Candidates = vectors
    // sharing at least one signature band with the probe; exact cosine
    // re-scores candidates; top-5 per probe. Band width tunes the
    // recall/selectivity tradeoff: the synthetic testdata has no true
    // near-neighbors (top-5 cosine ~0.3, per-bit agreement ~0.6), so 2-bit
    // bands are needed for recall; a real near-dup corpus (cos > 0.9,
    // per-bit agreement > 0.95) keeps high recall at 4-bit bands with
    // ~256x fewer candidates. Recall vs the exact qn07 baseline is
    // asserted in NorthStarSpec. The hyperplanes are deterministic
    // arithmetic and the projections sequential double folds, so the
    // WHOLE approximate pipeline — signatures, banding, candidate set,
    // rescore — replays exactly in the oracle (round 2; was rows-only).
    Q("qn09_ann_lsh_topk", {
      val signCase = (p: Int) =>
        s"(CASE WHEN ((${signA(p)} + i * ${signB(p)}) % 97) < 48 THEN 1.0 ELSE -1.0 END)"
      val proj = (p: Int) =>
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"[CAST(embedding[i + 1] AS DOUBLE) * ${signCase(p)} for i in range(0, len(embedding))]), " +
          "(a, x) -> a + x)"
      val sigExpr = (0 until 16).map(p =>
        s"(CASE WHEN (${proj(p)}) > 0 THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)")
        .mkString("(", " + ", ")")
      s"""WITH v AS (SELECT vec_id, embedding, ${sqlL2norm("embedding")} AS nrm,
         |                  $sigExpr AS sig FROM embeddings),
         |b AS (SELECT vec_id, embedding, nrm, bd, (sig >> (2 * bd)) & 3 AS bk
         |      FROM v, (SELECT unnest(range(0, 8)) AS bd)),
         |cand AS (SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS vec_id
         |         FROM b p JOIN b c ON p.bd = c.bd AND p.bk = c.bk
         |         WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id),
         |s AS (SELECT cand.probe_id, cand.vec_id,
         |             ${sqlE6(s"${sqlDot("p.embedding", "c.embedding")} / (p.nrm * c.nrm)")} AS score_e6
         |      FROM cand JOIN v p ON cand.probe_id = p.vec_id
         |                JOIN v c ON cand.vec_id = c.vec_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
         |                 ORDER BY score_e6 DESC, vec_id) AS rnk FROM s)
         |SELECT probe_id, rnk, vec_id, score_e6 FROM r
         |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin
    }) { (s, dir) =>
      annTopK(s, dir, nPlanes = 16, bandBits = 2, k = 5)
    },

    // ANN, IVF flavor: coarse-quantize vectors to their nearest centroid
    // (deterministic centroid seed set: vec_id % stride == 0), probe the
    // nProbe nearest centroid cells, exact-rescore within them. The
    // centroid table is tiny and broadcast twice (assignment + probe
    // routing); the big side never shuffles except the final top-k. At
    // scale the seed centroids come from a sampled k-means — the plan
    // shape (two broadcast joins + window) is identical. Cell assignment
    // ranks on e6-integer scores with cent_id tie-breaks, so the entire
    // approximate pipeline replays in the oracle (round 2; was rows-only).
    Q("qn10_ann_ivf_topk", ivfOracleSql()) { (s, dir) =>
      annIvfTopK(s, dir, nCentroids = 16, nProbe = 4, k = 5)
    },

    // The SAME IVF semantics with the index PERSISTED as a data layout:
    // assigned vectors land in a cent_id-partitioned parquet lake, and a
    // probe reads ONLY its nProbe cells' files via Hive partition
    // pruning. This is the 100 TB serving shape — the build is one batch
    // job, each probe's IO is ~nProbe/k of the corpus — and because the
    // build replays qn10's deterministic assignment math, the persisted
    // probe answers hash-identically to qn10's oracle (same SQL). The
    // index dir is rebuilt per invocation under java.io.tmpdir (q0z's
    // fixture discipline, stale dirs reclaimed at first use).
    Q("qn10b_ann_ivf_persisted", ivfOracleSql()) { (s, dir) =>
      // Pristine build shared with qn10d/qn10e/qn56/qn57 (IndexMemo:
      // one deterministic build per family per session).
      val path = IndexMemo.pristine(s, dir, "ivf16")(
        buildIvfIndex(s, dir, nCentroids = 16, _))
      probeIvfIndex(s, dir, path, nProbe = 4, k = 5)
    },

    // Index MAINTENANCE: the lake is built from the even half of the
    // corpus (centroids frozen there), the odd half arrives later and is
    // appended — assigned against the STORED centroids, O(new vectors)
    // work, only its target cells gain files (dynamic partition append;
    // untouched-cell immutability pinned in NorthStarSpec). A probe then
    // sees the union. The oracle replays the same lifecycle by deriving
    // centroids from the even half and assigning everyone against them —
    // so "append never rebuilds, never re-clusters" is a hash-checked
    // semantic, not a convention. Centroid drift is handled by periodic
    // REBUILD, not per-append re-clustering (re-clustering would silently
    // stale every already-written cell).
    // The build half's seeds sample the RE-DENSIFIED id space
    // (vec_id div 2): striding raw vec_id over even ids only hits even
    // lattice points of an odd stride and silently halves the centroid
    // count (round-10 review) — half the cells means double the probe IO.
    Q("qn10c_ann_ivf_append",
        ivfOracleSql("vec_id % 2 = 0", "vec_id // 2")) { (s, dir) =>
      val path = newIndexDir()
      buildIvfIndex(s, dir, nCentroids = 16, path,
        col("vec_id") % 2 === 0, expr("vec_id div 2"))
      appendToIvfIndex(s,
        Tables.embeddings(s, dir).filter(col("vec_id") % 2 === 1)
          .select(col("vec_id"), col("embedding")), path)
      probeIvfIndex(s, dir, path, nProbe = 4, k = 5)
    },

    // The corpus-sized probe path against the SAME persisted index: every
    // vector in the corpus probes at once, so the collect-based routing of
    // qn10b (bounded at 1e6 routes) is the wrong shape — instead the
    // routed probes stay a DISTRIBUTED frame and the index lake joins on
    // cent_id (the plan the probeIvfIndexWith contract names for
    // over-bound probe sets). At the 16-cell fixture the routing
    // DISPATCH ([[coarseRouteMinCentroids]]) picks FLAT routing — the
    // coarse tier's fixed overhead loses until ~700 centroids — so the
    // oracle replays the flat route; the coarse branch is pinned by
    // qn10e below. The oracle replays the identical pipeline with the
    // probe filter widened to the whole corpus, so the assignment-join
    // path is hash-checked, not just shape-checked.
    Q("qn10d_ann_ivf_probe_join",
        ivfOracleSql(probeFilter = "TRUE")) { (s, dir) =>
      val path = IndexMemo.pristine(s, dir, "ivf16")(
        buildIvfIndex(s, dir, nCentroids = 16, _))
      probeIvfIndexJoined(s,
        Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
        path, nProbe = 4, k = 5)
    },

    // The at-scale branch of qn10d's dispatch, FORCED at fixture size so
    // the two-tier coarse routing (N^(1/4) score work per probe, declared
    // coarse-miss semantics) stays hash-gated every round — the qn06b
    // discipline. The oracle replays the coarse tier's dense cent_idx,
    // stride seeds, fine->coarse argmax, and two-level probe argsort
    // bit-exactly.
    Q("qn10e_ann_ivf_probe_join_coarse",
        ivfOracleSql(probeFilter = "TRUE", coarseRoute = true)) { (s, dir) =>
      val path = IndexMemo.pristine(s, dir, "ivf16")(
        buildIvfIndex(s, dir, nCentroids = 16, _))
      probeIvfIndexJoined(s,
        Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
        path, nProbe = 4, k = 5, forceRoute = Some(true))
    },

    // Binary (1-bit) quantization + Hamming shortlist + exact rerank —
    // the cheapest rung of the quantization ladder (exact > int8/qn16 >
    // PQ/qn30-33 > binary): a 64-dim float vector becomes ONE long (the
    // per-dim sign bits, 32x under the floats), candidate ranking is
    // xor + bit_count per pair — two ALU ops inside codegen, no memory
    // traffic beyond the sig column — and only the 16-wide shortlist
    // pays the full-precision read. The rerank discipline (and the
    // scale story) is qn33's: the compressed tier bounds IO, the exact
    // tier restores ranking quality on the survivors.
    Q("qn34_ann_binary_hamming", sqlQn34()) { (s, dir) => qn34Plan(s, dir) },

    // Persisted signature index under the DRIVER gate (the qn38b
    // discipline, binary edition — round-14 verdict task 4): build the
    // two-sided index fresh (one sign long per vector + point-read
    // cold floats, committed atomically through IndexSwap), serve
    // through the probe entry — must hash-match qn34's in-flight
    // oracle because the stored signatures are the same fold and the
    // probe replays the same Hamming/shortlist/refine chain.
    Q("qn34b_ann_binary_hamming_persisted", sqlQn34()) { (s, dir) =>
      // Pristine build shared with qn58/qn59 (IndexMemo: one build per
      // family per session — the production build-once/probe-many shape).
      val path = IndexMemo.pristine(s, dir, "bin64")(BinarySig.buildBinIndex(s, dir, _))
      BinarySig.probeBinIndex(s, dir, path, 5)
    },

    // Matryoshka (prefix-dimension) search: score on the FIRST 16 dims
    // (a 4x-narrower scan when embeddings are MRL-trained so prefixes
    // carry the coarse geometry), shortlist 32, exact rerank on all 64.
    // Same ladder discipline; the knob is a column slice, not a second
    // index — at 100 TB the prefix can be a separate parquet column
    // (written once at ingest) so the rank scan never touches the tail
    // dims.
    Q("qn35_ann_matryoshka_prefix", {
      val pre = (c: String) => s"list_slice($c, 1, 16)"
      s"""WITH v AS (SELECT vec_id, embedding, ${sqlL2norm("embedding")} AS nrm,
         |                  ${sqlL2norm(pre("embedding"))} AS pnrm FROM embeddings),
         |p AS (SELECT vec_id AS qid, embedding AS pe, nrm AS pn, pnrm AS ppn
         |      FROM v WHERE vec_id < 10),
         |c AS (SELECT p.qid, s.vec_id,
         |             ${sqlE6(s"${sqlDot(pre("p.pe"), pre("s.embedding"))} / (p.ppn * s.pnrm)")} AS pscore
         |      FROM v s, p WHERE s.vec_id <> p.qid AND p.ppn > 0 AND s.pnrm > 0),
         |sl AS (SELECT qid, vec_id FROM (
         |       SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |                   ORDER BY pscore DESC, vec_id) AS rn FROM c) WHERE rn <= 32),
         |ref AS (SELECT sl.qid, sl.vec_id,
         |               ${sqlE6(s"${sqlDot("p.pe", "d.embedding")} / (p.pn * d.nrm)")} AS score_e6
         |        FROM sl JOIN p ON p.qid = sl.qid JOIN v d ON d.vec_id = sl.vec_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |               ORDER BY score_e6 DESC, vec_id) AS rnk FROM ref)
         |SELECT qid, rnk, vec_id, score_e6 FROM r WHERE rnk <= 5
         |ORDER BY qid, rnk""".stripMargin
    }) { (s, dir) => qn35Plan(s, dir) },

    // SQ8 scalar quantization — the ladder rung between the sign bit
    // (qn34: 64x, lossy) and PQ (qn30-33: 64x+, trained): per-dimension
    // min/max over the corpus (ONE 64-group partial agg — N x D rows
    // collapse map-side to D rows/task), each dim affinely mapped to a
    // 0..255 byte, candidates ranked by integer squared-L2 over the
    // byte vectors (64 byte-wide ALU ops in codegen — no float math,
    // 4x less rank-stage IO than the floats), 16-wide shortlist pays
    // the exact cosine re-rank. All arithmetic is integer over the e6
    // floor — quantize is (x - mn) * 255 div span with div spelled as
    // (a - a%b)/b so both engines floor identically. At 100 TB the
    // byte column is written once at ingest beside the floats (the
    // qn35 separate-column discipline) and the rank scan never reads
    // the float tail.
    Q("qn38_ann_sq8", sqlQn38()) { (s, dir) => qn38Plan(s, dir) },

    // Persisted SQ8 under the DRIVER gate (the qn39 discipline, SQ8
    // edition — round-13 verdict task 4): build the three-sided index
    // fresh from the corpus (frozen per-dim envelope + byte codes +
    // point-read cold floats, staged and committed atomically through
    // IndexSwap), then serve through the probe entry — the result must
    // hash-match qn38's in-flight oracle because the build persists
    // the same deterministic stats and codes, and the probe replays
    // the same rank/shortlist/refine chain from the stored artifacts.
    Q("qn38b_ann_sq8_persisted", sqlQn38()) { (s, dir) =>
      // Pristine build shared with qn60/qn61/qn64/qn66/qn70 (IndexMemo).
      val path = IndexMemo.pristine(s, dir, "sq8_64")(SQ8.buildSq8Index(s, dir, _))
      SQ8.probeSq8Index(s, dir, path, 5)
    },

    // Recall floors for the FLAT ladder rungs (qn41's contract extended
    // — round-14 verdict task 6: binary/matryoshka/SQ8 had no collapse
    // tripwire, so the silent-regression class qn41 catches for
    // ivfpq/residual could still land in these rungs battery-only).
    // Each variant's top-5 is intersected with the EXACT global top-5
    // (these rungs have no route, so the denominator is the full-scan
    // truth — qn07's plan), and the query emits `recall_ok = hits >=
    // floor` as a literal the oracle replays as TRUE. Floors are
    // collapse tripwires strictly between chance (<2/50) and the
    // measured operating points (see flatRecallFloorHits) — only a
    // genuinely broken signature fold / envelope / prefix slice or a
    // scrambled shortlist trips them, not fixture noise.
    Q("qn44_ann_flat_recall_floor",
      """SELECT variant, recall_ok FROM (VALUES ('binary', TRUE), ('matryoshka', TRUE),
        |  ('sq8', TRUE)) t(variant, recall_ok) ORDER BY variant""".stripMargin) { (s, dir) =>
      val v = vecs(s, dir)
      val probesV = v.filter(col("vec_id") < 10)
      val refScore = e6(cosine(dotNative(col("qe"), col("de")), col("qn"), col("dn")))
      val wEx = Window.partitionBy(col("qid")).orderBy(col("score_e6").desc, col("vec_id").asc)
      val exact = v.select(col("vec_id"), col("embedding").as("de"), col("nrm").as("dn"))
        .join(broadcast(probesV.select(col("vec_id").as("qid"),
          col("embedding").as("qe"), col("nrm").as("qn"))), expr("true"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), refScore.as("score_e6"))
        .withColumn("rnk", row_number().over(wEx)).filter(col("rnk") <= 5)
        .select(col("qid"), col("vec_id")).localCheckpoint(true)
      def hitsOf(approx: DataFrame): Long =
        approx.select(col("qid"), col("vec_id"))
          .join(exact, Seq("qid", "vec_id"), "left_semi").count()
      val rows: java.util.List[org.apache.spark.sql.Row] = java.util.Arrays.asList(
        org.apache.spark.sql.Row("binary", hitsOf(qn34Plan(s, dir)) >= flatRecallFloorHits("binary")),
        org.apache.spark.sql.Row("matryoshka", hitsOf(qn35Plan(s, dir)) >= flatRecallFloorHits("matryoshka")),
        org.apache.spark.sql.Row("sq8", hitsOf(qn38Plan(s, dir)) >= flatRecallFloorHits("sq8")))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("variant", org.apache.spark.sql.types.StringType, false),
        org.apache.spark.sql.types.StructField("recall_ok", org.apache.spark.sql.types.BooleanType, false)))
      s.createDataFrame(rows, schema).orderBy("variant")
    },

    // ---- Dim-parameterized flat rungs (round-15 verdict task 1) ----
    // Production embedding corpora run 256-1536 dims; the 64-dim
    // fixture must not be the only width the ladder's encoders ever
    // see. These three run the flat rungs at 256 dims over a corpus
    // DERIVED deterministically from the fixture ([[wideEmb]]:
    // permuted sign-flipped replicas — exact in every float width, so
    // the oracle replays the derivation bit-identically), through the
    // same persisted lifecycles as their 64-dim siblings.

    // Binary rung at 256 dims: the signature is ceil(256/64) = 4 longs
    // (word w = sign bits of dims [64w, 64w+64)), ranked by the native
    // HammingLL fused xor+popcount loop; build -> persisted index ->
    // probe, all through the one dim-parameterized encoder (64 dims is
    // its 1-word special case, stored as the qn34b one-long format).
    Q("qn46_ann_binary_wide_persisted", sqlQn46) { (s, dir) =>
      val path = newIndexDir()
      val wv = wideVecs(s, dir)
      BinarySig.buildBinIndexFrom(s, wv, path, 256)
      BinarySig.probeBinIndexWith(s, wv.filter(col("vec_id") < 10), path, 5)
    },

    // SQ8 rung at 256 dims: the envelope/codes/probe chain is
    // dimension-generic (per-pos stats, width-checked affine map), so
    // the wide build IS the 64-dim build with a 256-row stats side.
    Q("qn47_ann_sq8_wide_persisted", sqlQn47) { (s, dir) =>
      val path = newIndexDir()
      val wv = wideVecs(s, dir)
      SQ8.buildSq8IndexFrom(s, wv, path)
      SQ8.probeSq8IndexWith(s, wv.filter(col("vec_id") < 10), path, 5)
    },

    // Matryoshka rung with a PARAMETERIZED prefix: 64 of 256 (the
    // production shape — the prefix is a model-declared corpus
    // parameter, not a fixed 16).
    Q("qn48_ann_matryoshka_param", sqlQn48()) { (s, dir) =>
      matryoshkaPlanFrom(
        wideVecs(s, dir).withColumn("nrm", l2normNative(col("embedding"))), 64)
    },

    // IVF + SQ8 composed (round-15 verdict task 2): the quantized rung
    // given an IVF tier — route to nProbe cells, byte-rank WITHIN the
    // probed cells' cell-partitioned code files (both prunings
    // compose: the listing is O(probed cells), each opened file is 4x
    // under the floats), exact refine on the 16-wide shortlist. The
    // flat rungs' probe cost is linear in N by declared construction;
    // this is the serving shape past that — the qn33 IVFADC pattern at
    // the cheaper rung, persisted under the versioned IndexSwap.
    Q("qn45_ann_ivf_sq8_persisted", sqlQn45) { (s, dir) =>
      // Pristine build shared with qn52/qn53 (IndexMemo).
      val path = IndexMemo.pristine(s, dir, "ivfsq8_16")(
        IvfSq8.buildIvfSq8Index(s, dir, 16, _))
      IvfSq8.probeIvfSq8Index(s, dir, path, 4, 5)
    },

    // Persisted matryoshka rung (round-16 verdict task 3): qn35/qn48
    // re-sliced every corpus vector's prefix per probe call; the
    // production shape stores the prefix side ONCE (prefix-dim floats,
    // D/prefix x smaller than the full column) under the versioned
    // IndexSwap and point-reads the refine rows from the sorted cold
    // side. Same sizing as qn48 (64-of-256 over the wide derivation),
    // so the probe replays qn48's oracle bit-exactly through the
    // persisted lifecycle.
    Q("qn49_ann_matryoshka_persisted", sqlQn48()) { (s, dir) =>
      // Pristine build shared with qn62/qn63 (IndexMemo).
      val wv = wideVecs(s, dir)
      val path = IndexMemo.pristine(s, dir, "matry64w")(
        Matryoshka.buildMatryoshkaIndexFrom(s, wv, 64, _))
      Matryoshka.probeMatryoshkaIndexWith(s, wv.filter(col("vec_id") < 10), path, 5)
    },

    // Composed IVF+SQ8 at PRODUCTION dimensionality (round-16 verdict
    // task 4): qn45 builds over the 64-dim fixture; this builds the
    // same four-sided index at 256 dims via the oracle-replayable wide
    // derivation — route, byte rank, refine all width-generic.
    Q("qn50_ann_ivf_sq8_wide", sqlQn50) { (s, dir) =>
      val path = newIndexDir()
      val wv = wideVecs(s, dir)
      IvfSq8.buildIvfSq8IndexFrom(s, wv, 16, path)
      IvfSq8.probeIvfSq8IndexWith(s, wv.filter(col("vec_id") < 10), path, 4, 5)
    },

    // The PQ tier at PRODUCTION dimensionality (round 17 — the last
    // "driver gates only see 64 dims" asymmetry): qn39 gates the
    // persisted IVFADC at the fixture width; this builds the same
    // five-sided index at 256 dims (M=4 subspaces of 64 dims each)
    // over the wide derivation. Train, encode, route, ADC and refine
    // are all sized by PqParams — the probe reads the realized sizing
    // from the stored meta row, so nothing in the lifecycle knows the
    // fixture width.
    Q("qn51_ann_ivfpq_wide", sqlQn51) { (s, dir) =>
      val path = newIndexDir()
      val wv = wideVecs(s, dir)
      PQ.buildPqIndexFrom(s, wv, path, 16, PQ.PqParams(4, 64, 16))
      PQ.probePqIndexWith(s, wv.filter(col("vec_id") < 10), path, 4, 5)
    },

    // DELETE as a first-class lifecycle verb (round 17): tombstone a
    // deterministic seventh of the corpus, then probe — the rank stage
    // anti-joins the tombstones, so the result is exactly the full
    // build's route/rank/refine chain with deleted candidates excluded
    // (the oracle replays that: same centroids and envelope — the
    // index was built BEFORE the delete — minus the tombstoned
    // candidates). Physical reclaim is the drift rebuild's job
    // (IvfSq8Spec pins files-shrink + fresh-build parity).
    Q("qn52_ann_ivf_sq8_deletes", sqlQn52) { (s, dir) =>
      // Mutating gate: private file-level copy of the shared pristine
      // build (IndexMemo.mutableCopy) — the tombstone write below must
      // never land in qn45/qn53's shared tree.
      val path = IndexMemo.mutableCopy(s, dir, "ivfsq8_16")(
        IvfSq8.buildIvfSq8Index(s, dir, 16, _))
      IvfSq8.delete(s,
        Tables.embeddings(s, dir).filter(col("vec_id") % 7 === 0).select("vec_id"),
        path)
      IvfSq8.probeIvfSq8Index(s, dir, path, 4, 5)
    },

    // FILTERED search (round 17): top-k among the rows an arbitrary
    // predicate admits — the serving shape behind "nearest docs WHERE
    // lang = 'en'". The allowed-ids frame (here a deterministic third
    // of the corpus; in production a semi-join off a metadata table)
    // SEMI-JOINS the rank stage before the shortlist window, so the
    // result is exact filtered top-k within the routed cells — not a
    // post-filtered fixed shortlist that loses recall as the filter
    // tightens.
    Q("qn53_ann_ivf_sq8_filtered", sqlQn53) { (s, dir) =>
      val path = IndexMemo.pristine(s, dir, "ivfsq8_16")(
        IvfSq8.buildIvfSq8Index(s, dir, 16, _))
      IvfSq8.probeIvfSq8IndexWith(s,
        Tables.embeddings(s, dir).filter(col("vec_id") < 10)
          .select("vec_id", "embedding"),
        path, 4, 5,
        allowed = Some(Tables.embeddings(s, dir)
          .filter(col("vec_id") % 3 === 1).select("vec_id")))
    },

    // The qn52/qn53 lifecycle verbs, extended to EVERY persisted rung
    // (round 17): deletes and filtered search were library-supported on
    // all six index families but oracle-gated only on the composed/PQ
    // tiers — these close the verbs x rungs matrix, so a regression in
    // any rung's tombstone anti-join or allowed semi-join goes
    // CORRECTNESS-red, not spec-only. Same fixture discipline
    // throughout: delete a deterministic seventh (the index predates
    // the delete, so centroids/envelopes are the FULL corpus's), or
    // admit a deterministic third; the oracle replays the rung's
    // published chain with only the candidate set filtered.

    // Plain IVF: tombstones excluded from the routed cells' candidates.
    Q("qn56_ann_ivf_deletes",
        ivfOracleSql(candFilter = "a.vec_id % 7 <> 0")) { (s, dir) =>
      val path = IndexMemo.mutableCopy(s, dir, "ivf16")(
        buildIvfIndex(s, dir, nCentroids = 16, _))
      delete(s,
        Tables.embeddings(s, dir).filter(col("vec_id") % 7 === 0).select("vec_id"),
        path)
      probeIvfIndex(s, dir, path, nProbe = 4, k = 5)
    },

    // Plain IVF: allowed-ids semi-join binds before the within-cell
    // top-k, so the result is exact filtered top-k in the routed cells.
    Q("qn57_ann_ivf_filtered",
        ivfOracleSql(candFilter = "a.vec_id % 3 = 1")) { (s, dir) =>
      val path = IndexMemo.pristine(s, dir, "ivf16")(
        buildIvfIndex(s, dir, nCentroids = 16, _))
      probeIvfIndexWith(s,
        Tables.embeddings(s, dir).filter(col("vec_id") < 10)
          .select(col("vec_id"), col("embedding")),
        path, nProbe = 4, k = 5,
        allowed = Some(Tables.embeddings(s, dir)
          .filter(col("vec_id") % 3 === 1).select("vec_id")))
    },

    // Binary rung: tombstoned signatures never enter the Hamming rank.
    Q("qn58_ann_binary_deletes",
        sqlQn34("s.vec_id % 7 <> 0")) { (s, dir) =>
      val path = IndexMemo.mutableCopy(s, dir, "bin64")(
        BinarySig.buildBinIndex(s, dir, _))
      BinarySig.delete(s,
        Tables.embeddings(s, dir).filter(col("vec_id") % 7 === 0).select("vec_id"),
        path)
      BinarySig.probeBinIndex(s, dir, path, 5)
    },

    // Binary rung: the filter binds before the 16-wide Hamming
    // shortlist — filtered top-k, not a post-filtered shortlist.
    Q("qn59_ann_binary_filtered",
        sqlQn34("s.vec_id % 3 = 1")) { (s, dir) =>
      val path = IndexMemo.pristine(s, dir, "bin64")(
        BinarySig.buildBinIndex(s, dir, _))
      BinarySig.probeBinIndexWith(s,
        Tables.embeddings(s, dir).filter(col("vec_id") < 10)
          .select(col("vec_id"), col("embedding")),
        path, 5,
        allowed = Some(Tables.embeddings(s, dir)
          .filter(col("vec_id") % 3 === 1).select("vec_id")))
    },

    // SQ8 rung: the envelope stays the full corpus's (frozen at build);
    // only the byte-rank candidate set shrinks.
    Q("qn60_ann_sq8_deletes",
        sqlQn38("s.vec_id % 7 <> 0")) { (s, dir) =>
      val path = IndexMemo.mutableCopy(s, dir, "sq8_64")(SQ8.buildSq8Index(s, dir, _))
      SQ8.delete(s,
        Tables.embeddings(s, dir).filter(col("vec_id") % 7 === 0).select("vec_id"),
        path)
      SQ8.probeSq8Index(s, dir, path, 5)
    },

    // SQ8 rung: filtered integer-L2 rank.
    Q("qn61_ann_sq8_filtered",
        sqlQn38("s.vec_id % 3 = 1")) { (s, dir) =>
      val path = IndexMemo.pristine(s, dir, "sq8_64")(SQ8.buildSq8Index(s, dir, _))
      SQ8.probeSq8IndexWith(s,
        Tables.embeddings(s, dir).filter(col("vec_id") < 10)
          .select(col("vec_id"), col("embedding")),
        path, 5,
        allowed = Some(Tables.embeddings(s, dir)
          .filter(col("vec_id") % 3 === 1).select("vec_id")))
    },

    // Matryoshka rung (at the qn49 production sizing — 64-of-256 over
    // the wide derivation): tombstones excluded from the prefix rank.
    Q("qn62_ann_matryoshka_deletes",
        sqlQn48("s.vec_id % 7 <> 0")) { (s, dir) =>
      val wv = wideVecs(s, dir)
      val path = IndexMemo.mutableCopy(s, dir, "matry64w")(
        Matryoshka.buildMatryoshkaIndexFrom(s, wv, 64, _))
      Matryoshka.delete(s,
        Tables.embeddings(s, dir).filter(col("vec_id") % 7 === 0).select("vec_id"),
        path)
      Matryoshka.probeMatryoshkaIndexWith(s, wv.filter(col("vec_id") < 10), path, 5)
    },

    // Matryoshka rung: filtered prefix-score shortlist.
    Q("qn63_ann_matryoshka_filtered",
        sqlQn48("s.vec_id % 3 = 1")) { (s, dir) =>
      val wv = wideVecs(s, dir)
      val path = IndexMemo.pristine(s, dir, "matry64w")(
        Matryoshka.buildMatryoshkaIndexFrom(s, wv, 64, _))
      Matryoshka.probeMatryoshkaIndexWith(s, wv.filter(col("vec_id") < 10), path, 5,
        allowed = Some(Tables.embeddings(s, dir)
          .filter(col("vec_id") % 3 === 1).select("vec_id")))
    },

    qn67Entry,

    // RANGE search (round 17 — the radius verb, FAISS range_search):
    // every corpus row within squared-L2 radius T² of each probe,
    // EXACT, served from the persisted SQ8 index. The compressed tier
    // is a byte-space LOWER BOUND on the e6² distance (IntSqLowerBoundLL
    // — a proof, not a heuristic: a pruned row provably lies outside
    // the radius; ~2% of candidates survive to the float read at this
    // radius on the driver fixtures). The oracle is deliberately the
    // BRUTE-FORCE exact range over all probe x corpus pairs — no
    // prescreen replay — so the gate checks the bound's LOSSLESSNESS:
    // one wrongly-excluded candidate hash-mismatches. The radius is a
    // fixture constant chosen at the ~1% pair quantile (stable across
    // sf0.001/0.01/0.1, measured).
    Q("qn64_ann_sq8_range", sqlQn64()) { (s, dir) =>
      val path = IndexMemo.pristine(s, dir, "sq8_64")(SQ8.buildSq8Index(s, dir, _))
      SQ8.rangeSq8Index(s, dir, path, rangeT2e12)
    },

    // RANGE x the lifecycle verbs (the qn52/qn53 discipline on the
    // radius verb): tombstone a seventh, admit a third — the exact
    // range result must be the brute-force range over allowed-minus-
    // deleted candidates. Still the no-prescreen oracle, so the bound's
    // losslessness stays the thing being proved.
    Q("qn66_ann_sq8_range_filtered",
        sqlQn64("s.vec_id % 7 <> 0 AND s.vec_id % 3 = 1")) { (s, dir) =>
      val path = IndexMemo.mutableCopy(s, dir, "sq8_64")(SQ8.buildSq8Index(s, dir, _))
      SQ8.delete(s,
        Tables.embeddings(s, dir).filter(col("vec_id") % 7 === 0).select("vec_id"),
        path)
      SQ8.rangeSq8IndexWith(s,
        Tables.embeddings(s, dir).filter(col("vec_id") < 10)
          .select("vec_id", "embedding"),
        path, rangeT2e12,
        allowed = Some(Tables.embeddings(s, dir)
          .filter(col("vec_id") % 3 === 1).select("vec_id")))
    },

    // HYBRID retrieval (round 17): keyword relevance AND embedding
    // similarity fused by reciprocal rank — the serving shape behind
    // "search the corpus" when neither tier alone suffices (keyword
    // misses paraphrase, vector misses rare exact terms). Queries are
    // the first five documents ("more like this"); each runs BOTH
    // retrievers and the candidate union re-ranks by RRF.
    //
    //  - Keyword tier: BM25-shaped scoring in PURE INTEGER arithmetic
    //    (the qt10/qt08 discipline — no cross-engine float log): idf is
    //    the qt08 ratio (N*1e6 div df) and the BM25 saturation/length
    //    terms use k1=1.2, b=0.75 scaled integral — contribution =
    //    (22*tf*idf6) div (10*tf + 3 + (9*dl*N) div T). Same saturating
    //    tf and doc-length normalization as real BM25, bit-identical in
    //    both engines. (Scale note: idf6*22*tf must fit int64 — holds
    //    to ~1e8 docs at tf<=1e3; past that, rank with doubles and keep
    //    the integer form for gates.)
    //  - Vector tier: exact cosine top-10 (the qn07 plan).
    //  - Fusion: RRF at the standard K=60 — rrf_e6 = sum over lists of
    //    1e6 div (60+rank) — rank-only, so the two tiers' incomparable
    //    score scales never need calibration.
    //
    // Scale shape: the keyword tier is all equi-joins on term/doc_id
    // (nothing corpus-derived broadcasts — the qt08 rule), the vector
    // tier broadcasts only the 5-probe side, and fusion touches two
    // top-10 lists per query.
    Q("qn65_hybrid_retrieval", sqlQn65()) { (s, dir) =>
      hybridRetrievalPlan(s, dir, allowed = None)
    },

    // FILTERED hybrid retrieval (the qn53 discipline on the fused
    // verb, with a REAL metadata predicate): "more like this, English
    // only" — the allowed frame is a semi-join off the documents
    // table's lang column, and it binds on the CANDIDATE side of BOTH
    // tiers before their top-10 windows, so the fused top-5 is exact
    // filtered retrieval, not a post-filtered fusion that starves as
    // the filter tightens.
    Q("qn68_hybrid_filtered",
        sqlQn65(kwFilter =
            "AND tf.doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')",
          vecFilter =
            "AND s.vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en')")) { (s, dir) =>
      hybridRetrievalPlan(s, dir, allowed = Some(
        Tables.documents(s, dir).filter(col("lang") === "en").select("doc_id")))
    },

    // The keyword tier PERSISTED (round 17 — the qn38b argument, text
    // edition): qn65's BM25 tier re-tokenizes the corpus per query;
    // the inverted index stores term-sorted postings ONCE and a probe
    // reads only its query terms' row groups. Must hash-match the
    // in-flight oracle because the stored tf/dl/N/T are the same
    // aggregates and df re-derives from the matched postings.
    Q("qn69_text_index_bm25", sqlQn69) { (s, dir) =>
      // Pristine build shared with qn70 (IndexMemo).
      val path = IndexMemo.pristine(s, dir, "text")(TextIndex.buildTextIndex(s, dir, _))
      TextIndex.probeTextIndex(s, dir, path, 10)
    },

    // The FULL hybrid serving shape from STORED artifacts: keyword
    // top-10 from the inverted index + exact-cosine top-10 from the
    // SQ8 index's full-precision side, fused by RRF — and it must
    // hash-match qn65's in-flight oracle bit-for-bit, proving the
    // persisted composition changes nothing but the read pattern.
    Q("qn70_hybrid_persisted", sqlQn65()) { (s, dir) =>
      val tPath = IndexMemo.pristine(s, dir, "text")(TextIndex.buildTextIndex(s, dir, _))
      val vPath = IndexMemo.pristine(s, dir, "sq8_64")(SQ8.buildSq8Index(s, dir, _))
      hybridFromIndexes(s, dir, tPath, vPath)
    },

  )

  /** The qn65/qn68 plan: both retrievers + RRF fusion, with an
    * optional allowed-docs frame semi-joining each tier's CANDIDATES
    * before its top-10 window (queries stay unfiltered probes). */
  private def hybridRetrievalPlan(s: SparkSession, dir: String,
      allowed: Option[DataFrame]): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tk = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .localCheckpoint(true) // barrier: feeds tf/df/dl/qt (qt08 discipline)
    val tf = tk.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfT = tk.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
    val dl = tk.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val qt = tk.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("term")).distinct()
    val kwCand = allowed.foldLeft(
        qt.join(tf, "term").filter(col("doc_id") =!= col("qid"))) { (f, a) =>
      f.join(a.select(col("doc_id")), Seq("doc_id"), "left_semi") }
    val kw = kwCand
      .join(dfT.hint("SHUFFLE_HASH"), "term")
      .join(dl, "doc_id")
      .crossJoin(docs.agg(count(lit(1)).as("n")))
      .crossJoin(tk.agg(count(lit(1)).as("t")))
      .withColumn("contrib", expr(
        "(22 * tf * ((n * 1000000) div df)) div (10 * tf + 3 + (9 * dl * n) div t)"))
      .groupBy("qid", "doc_id").agg(sum(col("contrib")).as("kws"))
    val wK = Window.partitionBy(col("qid")).orderBy(col("kws").desc, col("doc_id").asc)
    val kr = kw.withColumn("krnk", row_number().over(wK))
      .filter(col("krnk") <= 10).select(col("qid"), col("doc_id"), col("krnk"))
    val v = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"),
      l2normNative(col("embedding")).as("nrm"))
    val p = v.filter(col("vec_id") < 5).select(col("vec_id").as("qid"),
      col("embedding").as("pe"), col("nrm").as("pn"))
    val vCand = allowed.foldLeft(v) { (f, a) =>
      f.join(a.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi") }
    hybridVectorTierAndFuse(kr, vCand, p)
  }

  /** The vector tier + RRF fusion tail shared by [[hybridRetrievalPlan]]
    * and [[hybridFromIndexes]] — ONE definition of the cosine scoring,
    * the top-10 windows, the K=60 reciprocal-rank arithmetic and every
    * tie rule, because qn70's hash-matches-qn65 contract requires the
    * two plans to stay bit-identical (round-17 review: they were
    * copy-pasted). `vCand` is the candidate vectors frame (vec_id,
    * embedding, nrm); `p` the broadcast probe side (qid, pe, pn). */
  private def hybridVectorTierAndFuse(kr: DataFrame, vCand: DataFrame,
      p: DataFrame): DataFrame = {
    val vsc = e6(cosine(dotNative(col("pe"), col("embedding")), col("pn"), col("nrm")))
    val wV = Window.partitionBy(col("qid")).orderBy(col("vscore").desc, col("doc_id").asc)
    val vr = vCand.join(broadcast(p), expr("true"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("doc_id"), vsc.as("vscore"))
      .withColumn("vrnk", row_number().over(wV))
      .filter(col("vrnk") <= 10).select(col("qid"), col("doc_id"), col("vrnk"))
    val wF = Window.partitionBy(col("qid")).orderBy(col("rrf_e6").desc, col("doc_id").asc)
    kr.join(vr, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"),
        (coalesce(expr("1000000 div (60 + krnk)"), lit(0L)) +
         coalesce(expr("1000000 div (60 + vrnk)"), lit(0L))).as("rrf_e6"))
      .withColumn("rnk", row_number().over(wF))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("doc_id"),
        col("rrf_e6"))
      .orderBy("qid", "rnk")
  }

  /** The qn70 plan: both tiers served from persisted indexes, fused
    * with the same RRF tail as [[hybridRetrievalPlan]]. */
  private def hybridFromIndexes(s: SparkSession, dir: String,
      textPath: String, vecPath: String): DataFrame = {
    val queries = Tables.documents(s, dir).filter(col("doc_id") < 5)
      .select("doc_id", "text")
    val kr = TextIndex.probeTextIndexWith(s, queries, textPath, 10)
      .select(col("qid"), col("doc_id"), col("rnk").as("krnk"))
    val root = IndexSwap.liveRoot(s, vecPath)
    val v = Parquet.read(s, IndexSwap.sideAt(root, "vectors"))
      .select(col("vec_id"), col("embedding"), col("nrm"))
    val p = v.filter(col("vec_id") < 5).select(col("vec_id").as("qid"),
      col("embedding").as("pe"), col("nrm").as("pn"))
    hybridVectorTierAndFuse(kr, v, p)
  }

  /** qn69's oracle: qn65's keyword CTEs alone, top-10 per query. */
  private def sqlQn69: String = {
    val toks = sqlTokens("text")
    s"""WITH tk AS (SELECT doc_id, unnest($toks) AS term FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
       |dft AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tk GROUP BY 1),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY 1),
       |nn AS (SELECT COUNT(*) AS n FROM documents),
       |tt AS (SELECT COUNT(*) AS t FROM tk),
       |qt AS (SELECT DISTINCT doc_id AS qid, term FROM tk WHERE doc_id < 5),
       |kw AS (SELECT qt.qid, tf.doc_id,
       |              CAST(SUM((22 * tf.tf * ((nn.n * 1000000) // dft.df)) //
       |                   (10 * tf.tf + 3 + (9 * dl.dl * nn.n) // tt.t)) AS BIGINT) AS kws
       |       FROM qt JOIN tf USING (term) JOIN dft USING (term)
       |            JOIN dl ON dl.doc_id = tf.doc_id, nn, tt
       |       WHERE tf.doc_id <> qt.qid GROUP BY 1, 2),
       |r AS (SELECT qid, doc_id, kws, ROW_NUMBER() OVER (PARTITION BY qid
       |               ORDER BY kws DESC, doc_id) AS rnk FROM kw)
       |SELECT qid, rnk, doc_id, kws FROM r WHERE rnk <= 10
       |ORDER BY qid, rnk""".stripMargin
  }

  /** qn65/qn68's oracle: the same two retrievers and RRF fusion as
    * CTEs — integer BM25-shaped keyword tier, exact-cosine vector
    * tier, 1e6 div (60+rank) fusion over the top-10 union; the two
    * filter fragments restrict each tier's candidates (qn68's
    * lang-predicate semi-join). */
  private def sqlQn65(kwFilter: String = "", vecFilter: String = ""): String = {
    val toks = sqlTokens("text")
    s"""WITH tk AS (SELECT doc_id, unnest($toks) AS term FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
       |dft AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tk GROUP BY 1),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY 1),
       |nn AS (SELECT COUNT(*) AS n FROM documents),
       |tt AS (SELECT COUNT(*) AS t FROM tk),
       |qt AS (SELECT DISTINCT doc_id AS qid, term FROM tk WHERE doc_id < 5),
       |kw AS (SELECT qt.qid, tf.doc_id,
       |              CAST(SUM((22 * tf.tf * ((nn.n * 1000000) // dft.df)) //
       |                   (10 * tf.tf + 3 + (9 * dl.dl * nn.n) // tt.t)) AS BIGINT) AS kws
       |       FROM qt JOIN tf USING (term) JOIN dft USING (term)
       |            JOIN dl ON dl.doc_id = tf.doc_id, nn, tt
       |       WHERE tf.doc_id <> qt.qid $kwFilter GROUP BY 1, 2),
       |kr AS (SELECT qid, doc_id, krnk FROM (
       |       SELECT qid, doc_id, ROW_NUMBER() OVER (PARTITION BY qid
       |                ORDER BY kws DESC, doc_id) AS krnk FROM kw) WHERE krnk <= 10),
       |v AS (SELECT vec_id, embedding, ${sqlL2norm("embedding")} AS nrm FROM embeddings),
       |p AS (SELECT vec_id AS qid, embedding AS pe, nrm AS pn FROM v WHERE vec_id < 5),
       |vs AS (SELECT p.qid, s.vec_id AS doc_id,
       |              ${sqlE6(s"${sqlDot("p.pe", "s.embedding")} / (p.pn * s.nrm)")} AS vscore
       |       FROM v s, p WHERE s.vec_id <> p.qid $vecFilter),
       |vr AS (SELECT qid, doc_id, vrnk FROM (
       |       SELECT qid, doc_id, ROW_NUMBER() OVER (PARTITION BY qid
       |                ORDER BY vscore DESC, doc_id) AS vrnk FROM vs) WHERE vrnk <= 10),
       |f AS (SELECT COALESCE(kr.qid, vr.qid) AS qid,
       |             COALESCE(kr.doc_id, vr.doc_id) AS doc_id,
       |             COALESCE(1000000 // (60 + kr.krnk), 0) +
       |             COALESCE(1000000 // (60 + vr.vrnk), 0) AS rrf_e6
       |      FROM kr FULL OUTER JOIN vr
       |        ON kr.qid = vr.qid AND kr.doc_id = vr.doc_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |               ORDER BY rrf_e6 DESC, doc_id) AS rnk FROM f)
       |SELECT qid, rnk, doc_id, rrf_e6 FROM r WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin
  }

  /** qn67: DESCRIBE as the ops verb of the index surface — build,
    * delete a seventh, then introspect. The footer-walk counts must
    * equal what the lifecycle ACTUALLY persisted: codes/vectors = the
    * corpus (tombstones are deferred debt, not physical deletes),
    * stats = one row per dim, deletes = the tombstone record count.
    * The oracle derives every number from the corpus, so a lifecycle
    * regression (a build dropping rows, a delete physically erasing,
    * a double-appended tombstone) goes hash-red. */
  private def qn67Entry: Q = Q("qn67_index_describe",
    """SELECT side, n_rows FROM (
      |  SELECT 'codes' AS side, CAST(COUNT(*) AS BIGINT) AS n_rows FROM embeddings
      |  UNION ALL SELECT 'deletes', CAST(COUNT(*) AS BIGINT) FROM embeddings WHERE vec_id % 7 = 0
      |  UNION ALL SELECT 'stats', 64
      |  UNION ALL SELECT 'vectors', CAST(COUNT(*) AS BIGINT) FROM embeddings)
      |ORDER BY side""".stripMargin) { (s, dir) =>
    val path = IndexMemo.mutableCopy(s, dir, "sq8_64")(SQ8.buildSq8Index(s, dir, _))
    SQ8.delete(s,
      Tables.embeddings(s, dir).filter(col("vec_id") % 7 === 0).select("vec_id"),
      path)
    SQ8.describe(s, path).orderBy("side")
  }

  /** qn64's radius: the ~1% quantile of probe-corpus e6² distances on
    * the driver fixtures (min ≈ 1.1e12, median ≈ 2.0e12 at every sf). */
  private def rangeT2e12: Long = 1450000000000L

  /** qn64's oracle: brute-force exact range — every (probe, corpus)
    * pair's e6² squared-L2 distance, thresholded. Deliberately NOT the
    * two-tier plan: the prescreen must be invisible in the result. */
  private def sqlQn64(candFilter: String = "TRUE"): String = {
    val isum = (xs: String) =>
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), $xs), (a, b) -> a + b)"
    s"""WITH ve AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) for x in embedding] AS emb6
       |            FROM embeddings),
       |p AS (SELECT vec_id AS qid, emb6 AS pe6 FROM ve WHERE vec_id < 10),
       |d AS (SELECT p.qid, s.vec_id,
       |             ${isum("list_transform(list_zip(s.emb6, p.pe6), z -> (z[1]-z[2])*(z[1]-z[2]))")} AS d2_e12
       |      FROM ve s, p WHERE s.vec_id <> p.qid AND ($candFilter))
       |SELECT qid, vec_id, d2_e12 FROM d WHERE d2_e12 <= $rangeT2e12
       |ORDER BY qid, d2_e12, vec_id""".stripMargin
  }

  /** qn52's oracle: [[sqlQn45]]'s chain with the tombstoned candidates
    * excluded from the rank stage (centroids/envelope stay the FULL
    * corpus's — the index predates the delete). */
  private def sqlQn52: String =
    sqlIvfSq8("SELECT vec_id, embedding FROM embeddings", 64,
      candFilter = "a.vec_id % 7 <> 0")

  /** qn53's oracle: the same chain with the rank stage RESTRICTED to
    * the allowed candidates — filtered-search semantics (the filter
    * binds before the shortlist, so top-16/top-5 are among the allowed
    * rows, not a post-filtered fixed shortlist). */
  private def sqlQn53: String =
    sqlIvfSq8("SELECT vec_id, embedding FROM embeddings", 64,
      candFilter = "a.vec_id % 3 = 1")

  /** qn51's oracle: the qn33/qn39 route/ADC/refine chain
    * ([[PQ.sqlIvfPq]]) instantiated at 256 dims over the wide
    * derivation, M=4 x subDim=64. */
  private def sqlQn51: String =
    PQ.sqlIvfPq(s"SELECT vec_id, $sqlWideEmb AS embedding FROM embeddings",
      PQ.PqParams(4, 64, 16))

  /** qn45's oracle: stride centroids, argmax assignment, 4-cell
    * routing (the qn10 CTEs), global SQ8 envelope + byte codes (the
    * qn38 CTEs), integer-L2 rank WITHIN the routed cells, 16-wide
    * shortlist, exact cosine refine. */
  private def sqlQn45: String =
    sqlIvfSq8("SELECT vec_id, embedding FROM embeddings", 64)

  /** qn50's oracle: [[sqlQn45]]'s route/rank/refine chain at 256 dims
    * over the wide derivation. */
  private def sqlQn50: String =
    sqlIvfSq8(s"SELECT vec_id, $sqlWideEmb AS embedding FROM embeddings", 256)

  /** The IVF+SQ8 oracle parameterized by corpus CTE and width. */
  private def sqlIvfSq8(eCte: String, dims: Int,
      candFilter: String = "TRUE"): String = {
    val isum = (xs: String) =>
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), $xs), (a, b) -> a + b)"
    val cosE6c = (a: String, b: String, an: String, bn: String) =>
      sqlE6(s"${sqlDot(a, b)} / ($an * $bn)")
    s"""WITH e AS ($eCte),
       |v AS (SELECT vec_id, embedding, ${sqlL2norm("embedding")} AS nrm FROM e),
       |ist AS (SELECT GREATEST(1, COUNT(*) // 16) AS stride FROM v),
       |cents AS (SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn FROM v, ist
       |          WHERE vec_id % stride = 0 AND vec_id < stride * 16),
       |asg AS (SELECT vec_id, cent_id FROM (
       |        SELECT v.vec_id, c.cent_id,
       |               ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |                 ORDER BY ${cosE6c("c.ce", "v.embedding", "c.cn", "v.nrm")} DESC,
       |                          c.cent_id) AS rn
       |        FROM v, cents c) WHERE rn = 1),
       |ve AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) for x in embedding] AS emb6
       |       FROM e),
       |st AS (SELECT i AS pos, MIN(emb6[i+1]) AS mn,
       |              GREATEST(1, MAX(emb6[i+1]) - MIN(emb6[i+1])) AS sp
       |       FROM ve, (SELECT unnest(range(0, $dims)) AS i) GROUP BY 1),
       |sta AS (SELECT list(mn ORDER BY pos) AS mna, list(sp ORDER BY pos) AS spa FROM st),
       |qv AS (SELECT vec_id, [((emb6[i+1] - mna[i+1]) * 255) // spa[i+1] for i in range(0, $dims)] AS q8
       |       FROM ve, sta),
       |p AS (SELECT qv.vec_id AS qid, qv.q8 AS pq8, v.embedding AS pe, v.nrm AS pn
       |      FROM qv JOIN v ON v.vec_id = qv.vec_id WHERE qv.vec_id < 10),
       |pc AS (SELECT qid, cent_id FROM (
       |       SELECT p.qid, c.cent_id,
       |              ROW_NUMBER() OVER (PARTITION BY p.qid
       |                ORDER BY ${cosE6c("c.ce", "p.pe", "c.cn", "p.pn")} DESC,
       |                         c.cent_id) AS rn
       |       FROM p, cents c) WHERE rn <= 4),
       |cand AS (SELECT pc.qid, a.vec_id FROM asg a JOIN pc USING (cent_id)
       |         WHERE a.vec_id <> pc.qid AND ($candFilter)),
       |h AS (SELECT c.qid, c.vec_id,
       |             ${isum("list_transform(list_zip(s.q8, p.pq8), z -> (z[1]-z[2])*(z[1]-z[2]))")} AS qd2
       |      FROM cand c JOIN qv s ON s.vec_id = c.vec_id JOIN p ON p.qid = c.qid),
       |sl AS (SELECT qid, vec_id, qd2 FROM (
       |       SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |                   ORDER BY qd2, vec_id) AS rn FROM h) WHERE rn <= 16),
       |ref AS (SELECT sl.qid, sl.vec_id, CAST(sl.qd2 AS BIGINT) AS qd2,
       |               ${cosE6c("q.embedding", "d.embedding", "q.nrm", "d.nrm")} AS score_e6
       |        FROM sl JOIN v q ON q.vec_id = sl.qid JOIN v d ON d.vec_id = sl.vec_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |               ORDER BY score_e6 DESC, vec_id) AS rnk FROM ref)
       |SELECT qid, rnk, vec_id, qd2, score_e6 FROM r WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin
  }

  /** qn46's oracle: the wide derivation, 4-word sign signature,
    * per-word xor+popcount Hamming, 16-wide shortlist, exact re-rank —
    * [[sqlQn34]] generalized to ceil(D/64) words. */
  private def sqlQn46: String = {
    val bit = "CASE WHEN b = 63 THEN CAST(-9223372036854775808 AS BIGINT) ELSE (1::BIGINT << b) END"
    val sig = "[list_reduce(list_prepend(0::BIGINT, [CASE WHEN " +
      s"CAST(embedding[w*64+b+1] AS DOUBLE) > 0 THEN $bit ELSE 0::BIGINT END " +
      "for b in range(0, 64)]), (a, c) -> a | c) for w in range(0, 4)]"
    val ham = "list_reduce(list_prepend(0::BIGINT, " +
      "[CAST(bit_count(xor(s.sig[w+1], p.psig[w+1])) AS BIGINT) for w in range(0, 4)]), " +
      "(a, c) -> a + c)"
    s"""WITH e AS (SELECT vec_id, $sqlWideEmb AS embedding FROM embeddings),
       |v AS (SELECT vec_id, embedding, ${sqlL2norm("embedding")} AS nrm,
       |             $sig AS sig FROM e),
       |p AS (SELECT vec_id AS qid, embedding AS pe, nrm AS pn, sig AS psig
       |      FROM v WHERE vec_id < 10),
       |h AS (SELECT p.qid, s.vec_id, $ham AS ham
       |      FROM v s, p WHERE s.vec_id <> p.qid),
       |sl AS (SELECT qid, vec_id, ham FROM (
       |       SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |                   ORDER BY ham, vec_id) AS rn FROM h) WHERE rn <= 16),
       |ref AS (SELECT sl.qid, sl.vec_id, CAST(sl.ham AS BIGINT) AS hamming,
       |               ${sqlE6(s"${sqlDot("p.pe", "d.embedding")} / (p.pn * d.nrm)")} AS score_e6
       |        FROM sl JOIN p ON p.qid = sl.qid JOIN v d ON d.vec_id = sl.vec_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |               ORDER BY score_e6 DESC, vec_id) AS rnk FROM ref)
       |SELECT qid, rnk, vec_id, hamming, score_e6 FROM r WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin
  }

  /** qn47's oracle: [[sqlQn38]]'s envelope/byte-map/integer-L2 chain
    * at 256 dims over the wide derivation. */
  private def sqlQn47: String = {
    val isum = (xs: String) =>
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), $xs), (a, b) -> a + b)"
    s"""WITH e AS (SELECT vec_id, $sqlWideEmb AS embedding FROM embeddings),
       |ve AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) for x in embedding] AS emb6
       |       FROM e),
       |st AS (SELECT i AS pos, MIN(emb6[i+1]) AS mn,
       |              GREATEST(1, MAX(emb6[i+1]) - MIN(emb6[i+1])) AS sp
       |       FROM ve, (SELECT unnest(range(0, 256)) AS i) GROUP BY 1),
       |sta AS (SELECT list(mn ORDER BY pos) AS mna, list(sp ORDER BY pos) AS spa FROM st),
       |qv AS (SELECT vec_id, [((emb6[i+1] - mna[i+1]) * 255) // spa[i+1] for i in range(0, 256)] AS q8
       |       FROM ve, sta),
       |v AS (SELECT vec_id, embedding, ${sqlL2norm("embedding")} AS nrm FROM e),
       |p AS (SELECT qv.vec_id AS qid, qv.q8 AS pq8, v.embedding AS pe, v.nrm AS pn
       |      FROM qv JOIN v ON v.vec_id = qv.vec_id WHERE qv.vec_id < 10),
       |h AS (SELECT p.qid, s.vec_id,
       |             ${isum("list_transform(list_zip(s.q8, p.pq8), z -> (z[1]-z[2])*(z[1]-z[2]))")} AS qd2
       |      FROM qv s, p WHERE s.vec_id <> p.qid),
       |sl AS (SELECT qid, vec_id, qd2 FROM (
       |       SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |                   ORDER BY qd2, vec_id) AS rn FROM h) WHERE rn <= 16),
       |ref AS (SELECT sl.qid, sl.vec_id, CAST(sl.qd2 AS BIGINT) AS qd2,
       |               ${sqlE6(s"${sqlDot("p.pe", "d.embedding")} / (p.pn * d.nrm)")} AS score_e6
       |        FROM sl JOIN p ON p.qid = sl.qid JOIN v d ON d.vec_id = sl.vec_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |               ORDER BY score_e6 DESC, vec_id) AS rnk FROM ref)
       |SELECT qid, rnk, vec_id, qd2, score_e6 FROM r WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin
  }

  /** qn48's oracle: the qn35 prefix-score/shortlist/re-rank chain with
    * a 64-of-256 prefix over the wide derivation. */
  private def sqlQn48(candFilter: String = "TRUE"): String = {
    val pre = (c: String) => s"list_slice($c, 1, 64)"
    s"""WITH e AS (SELECT vec_id, $sqlWideEmb AS embedding FROM embeddings),
       |v AS (SELECT vec_id, embedding, ${sqlL2norm("embedding")} AS nrm,
       |             ${sqlL2norm(pre("embedding"))} AS pnrm FROM e),
       |p AS (SELECT vec_id AS qid, embedding AS pe, nrm AS pn, pnrm AS ppn
       |      FROM v WHERE vec_id < 10),
       |c AS (SELECT p.qid, s.vec_id,
       |             ${sqlE6(s"${sqlDot(pre("p.pe"), pre("s.embedding"))} / (p.ppn * s.pnrm)")} AS pscore
       |      FROM v s, p WHERE s.vec_id <> p.qid AND p.ppn > 0 AND s.pnrm > 0 AND ($candFilter)),
       |sl AS (SELECT qid, vec_id FROM (
       |       SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |                   ORDER BY pscore DESC, vec_id) AS rn FROM c) WHERE rn <= 32),
       |ref AS (SELECT sl.qid, sl.vec_id,
       |               ${sqlE6(s"${sqlDot("p.pe", "d.embedding")} / (p.pn * d.nrm)")} AS score_e6
       |        FROM sl JOIN p ON p.qid = sl.qid JOIN v d ON d.vec_id = sl.vec_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |               ORDER BY score_e6 DESC, vec_id) AS rnk FROM ref)
       |SELECT qid, rnk, vec_id, score_e6 FROM r WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin
  }

  /** qn44's collapse floors in HITS out of 50 (10 probes x top-5),
    * keyed by variant — strictly between chance (<2/50: the shortlist
    * is 16-32 of N rows, so a scrambled rank stage intersects the
    * exact top-5 at ~16x5/N per probe, well under 2 total) and the
    * measured operating points on the driver fixtures (the qn41
    * margin discipline). Measured at sf0.001 / sf0.01 / sf0.1:
    * binary 18/19/13, matryoshka 23/27/10, sq8 50/50/50 (the SQ8
    * affine map at byte precision is near-lossless on this fixture —
    * its 16-wide shortlist contains the true top-5 at every measured
    * sf; binary and matryoshka fade with N on the noise fixture
    * because near-tie cosines swamp 1-bit/16-dim resolution — see
    * qn41's registration comment for why that bounds these low
    * without saying anything about clusterable corpora). Floors sit
    * at roughly a third to half the worst measured point so only a
    * genuine collapse (~chance) trips them: binary 5, matryoshka 4,
    * sq8 20. */
  private[graft] val flatRecallFloorHits: Map[String, Long] =
    Map("binary" -> 5L, "matryoshka" -> 4L, "sq8" -> 20L)

  /** qn34's plan (shared by the in-flight gate and qn44's floor):
    * sign signature through the BinarySig rung's encoder
    * ([[BinarySig.sigCol]]: bit d set iff dim d > 0, bit 63 wrapping
    * to Long.MinValue) — 16-wide Hamming shortlist, exact cosine
    * re-rank. */
  private[graft] def qn34Plan(s: SparkSession, dir: String): DataFrame = {
    val v = vecs(s, dir)
    val sg = v.withColumn("sig", BinarySig.sigCol(col("embedding"))).localCheckpoint(true)
    val probes = sg.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("pe"),
        col("nrm").as("pn"), col("sig").as("psig"))
    val wSl = Window.partitionBy(col("qid")).orderBy(col("ham").asc, col("vec_id").asc)
    val sl = sg.select(col("vec_id"), col("sig"))
      .join(broadcast(probes.select(col("qid"), col("psig"))), expr("true"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        bit_count(col("sig").bitwiseXOR(col("psig"))).cast("long").as("ham"))
      .withColumn("rn", row_number().over(wSl)).filter(col("rn") <= 16)
      .select(col("qid"), col("vec_id"), col("ham").as("hamming"))
    val wRef = Window.partitionBy(col("qid")).orderBy(col("score_e6").desc, col("vec_id").asc)
    sl.join(broadcast(probes.select(col("qid"), col("pe"), col("pn"))), Seq("qid"))
      .join(v.select(col("vec_id"), col("embedding").as("de"), col("nrm").as("dn")),
        Seq("vec_id"))
      .select(col("qid"), col("vec_id"), col("hamming"),
        e6(cosine(dotNative(col("pe"), col("de")), col("pn"), col("dn"))).as("score_e6"))
      .withColumn("rnk", row_number().over(wRef)).filter(col("rnk") <= 5)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("vec_id"),
        col("hamming"), col("score_e6"))
      .orderBy("qid", "rnk")
  }

  /** qn35's plan (shared with qn44): 16-dim prefix score, 32-wide
    * shortlist, exact re-rank on all 64 dims — the fixture
    * instantiation of [[matryoshkaPlanFrom]]. */
  private[graft] def qn35Plan(s: SparkSession, dir: String): DataFrame =
    matryoshkaPlanFrom(vecs(s, dir), 16)

  /** The PARAMETERIZED matryoshka plan (round-15 verdict task 1): the
    * prefix width is a corpus parameter — MRL-trained production
    * embeddings carry their coarse geometry in a model-declared prefix
    * (64 of 256, 128 of 768, ...), not a fixed 16. `v0` is any
    * (vec_id, embedding, nrm) frame; prefix scoring, 32-wide
    * shortlist, exact full-width re-rank. */
  private[graft] def matryoshkaPlanFrom(v0: DataFrame, prefix: Int): DataFrame = {
    val v = v0
      .withColumn("pre", slice(col("embedding"), 1, prefix))
      .withColumn("pnrm", l2normNative(slice(col("embedding"), 1, prefix)))
    val probes = v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("pe"), col("nrm").as("pn"),
        col("pre").as("ppre"), col("pnrm").as("ppn"))
    val wSl = Window.partitionBy(col("qid")).orderBy(col("pscore").desc, col("vec_id").asc)
    val sl = v.select(col("vec_id"), col("pre"), col("pnrm"))
      .join(broadcast(probes.select(col("qid"), col("ppre"), col("ppn"))), expr("true"))
      .filter(col("vec_id") =!= col("qid") && col("ppn") > 0 && col("pnrm") > 0)
      .select(col("qid"), col("vec_id"),
        e6(cosine(dotNative(col("ppre"), col("pre")), col("ppn"), col("pnrm"))).as("pscore"))
      .withColumn("rn", row_number().over(wSl)).filter(col("rn") <= 32)
      .select(col("qid"), col("vec_id"))
    val wRef = Window.partitionBy(col("qid")).orderBy(col("score_e6").desc, col("vec_id").asc)
    sl.join(broadcast(probes.select(col("qid"), col("pe"), col("pn"))), Seq("qid"))
      .join(v.select(col("vec_id"), col("embedding").as("de"), col("nrm").as("dn")),
        Seq("vec_id"))
      .select(col("qid"), col("vec_id"),
        e6(cosine(dotNative(col("pe"), col("de")), col("pn"), col("dn"))).as("score_e6"))
      .withColumn("rnk", row_number().over(wRef)).filter(col("rnk") <= 5)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("vec_id"), col("score_e6"))
      .orderBy("qid", "rnk")
  }

  /** qn38's plan (shared with qn44), through the SQ8 rung's encoders:
    * the e6 view ([[SQ8.ve6Of]]) and per-dim envelope
    * ([[SQ8.statsOf]] — ONE 64-group partial agg), assembled pos-major
    * (the cbPivot pattern) into one broadcastable row that the affine
    * byte map ([[SQ8.q8Col]]) reads as columns; integer-L2 rank,
    * 16-wide shortlist, exact cosine re-rank. */
  private[graft] def qn38Plan(s: SparkSession, dir: String): DataFrame = {
    val ve6 = SQ8.ve6Of(Tables.embeddings(s, dir))
    val sta = SQ8.statsOf(ve6).agg(
      transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
        z => z.getField("mn")).as("mna"),
      transform(array_sort(collect_list(struct(col("pos"), col("sp")))),
        z => z.getField("sp")).as("spa"))
    val qv = ve6.crossJoin(broadcast(sta))
      .select(col("vec_id"), SQ8.q8Col(col("mna"), col("spa")).as("q8"))
    val v = vecs(s, dir)
    val probes = qv.filter(col("vec_id") < 10).join(v, Seq("vec_id"))
      .select(col("vec_id").as("qid"), col("q8").as("pq8"),
        col("embedding").as("pe"), col("nrm").as("pn"))
    // Native fused rank loop (see SQ8.probeSq8IndexWith) — identical
    // integer results, no per-pair zip_with allocation.
    val qd2 = graft.functions.VectorExprs.intSqDistNative(col("q8"), col("pq8"))
    val wSl = Window.partitionBy(col("qid")).orderBy(col("qd2").asc, col("vec_id").asc)
    val sl = qv.join(broadcast(probes.select(col("qid"), col("pq8"))), expr("true"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), qd2.as("qd2"))
      .withColumn("rn", row_number().over(wSl)).filter(col("rn") <= 16)
      .select(col("qid"), col("vec_id"), col("qd2"))
    val wRef = Window.partitionBy(col("qid")).orderBy(col("score_e6").desc, col("vec_id").asc)
    sl.join(broadcast(probes.select(col("qid"), col("pe"), col("pn"))), Seq("qid"))
      .join(v.select(col("vec_id"), col("embedding").as("de"), col("nrm").as("dn")),
        Seq("vec_id"))
      .select(col("qid"), col("vec_id"), col("qd2"),
        e6(cosine(dotNative(col("pe"), col("de")), col("pn"), col("dn"))).as("score_e6"))
      .withColumn("rnk", row_number().over(wRef)).filter(col("rnk") <= 5)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("vec_id"),
        col("qd2"), col("score_e6"))
      .orderBy("qid", "rnk")
  }

  /** qn34's oracle (shared with qn34b's persisted gate): sign
    * signature, Hamming shortlist, exact re-rank. */
  private def sqlQn34(candFilter: String = "TRUE"): String = {
    val bit = "CASE WHEN d = 63 THEN CAST(-9223372036854775808 AS BIGINT) ELSE (1::BIGINT << d) END"
    val sig = "list_reduce(list_prepend(0::BIGINT, [CASE WHEN CAST(embedding[d+1] AS DOUBLE) > 0 " +
      s"THEN $bit ELSE 0::BIGINT END for d in range(0, 64)]), (a, b) -> a | b)"
    s"""WITH v AS (SELECT vec_id, embedding, ${sqlL2norm("embedding")} AS nrm,
       |                  $sig AS sig FROM embeddings),
       |p AS (SELECT vec_id AS qid, embedding AS pe, nrm AS pn, sig AS psig
       |      FROM v WHERE vec_id < 10),
       |h AS (SELECT p.qid, s.vec_id, bit_count(xor(s.sig, p.psig)) AS ham
       |      FROM v s, p WHERE s.vec_id <> p.qid AND ($candFilter)),
       |sl AS (SELECT qid, vec_id, ham FROM (
       |       SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |                   ORDER BY ham, vec_id) AS rn FROM h) WHERE rn <= 16),
       |ref AS (SELECT sl.qid, sl.vec_id, CAST(sl.ham AS BIGINT) AS hamming,
       |               ${sqlE6(s"${sqlDot("p.pe", "d.embedding")} / (p.pn * d.nrm)")} AS score_e6
       |        FROM sl JOIN p ON p.qid = sl.qid JOIN v d ON d.vec_id = sl.vec_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |               ORDER BY score_e6 DESC, vec_id) AS rnk FROM ref)
       |SELECT qid, rnk, vec_id, hamming, score_e6 FROM r WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin
  }

  /** qn38's oracle (shared with qn38b's persisted gate): per-dim
    * envelope, affine byte map, integer-L2 rank, 16-wide shortlist,
    * exact cosine re-rank. */
  private def sqlQn38(candFilter: String = "TRUE"): String = {
    val isum = (xs: String) =>
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), $xs), (a, b) -> a + b)"
    s"""WITH ve AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) for x in embedding] AS emb6
       |            FROM embeddings),
       |st AS (SELECT i AS pos, MIN(emb6[i+1]) AS mn,
       |              GREATEST(1, MAX(emb6[i+1]) - MIN(emb6[i+1])) AS sp
       |       FROM ve, (SELECT unnest(range(0, 64)) AS i) GROUP BY 1),
       |sta AS (SELECT list(mn ORDER BY pos) AS mna, list(sp ORDER BY pos) AS spa FROM st),
       |qv AS (SELECT vec_id, [((emb6[i+1] - mna[i+1]) * 255) // spa[i+1] for i in range(0, 64)] AS q8
       |       FROM ve, sta),
       |v AS (SELECT vec_id, embedding, ${sqlL2norm("embedding")} AS nrm FROM embeddings),
       |p AS (SELECT qv.vec_id AS qid, qv.q8 AS pq8, v.embedding AS pe, v.nrm AS pn
       |      FROM qv JOIN v ON v.vec_id = qv.vec_id WHERE qv.vec_id < 10),
       |h AS (SELECT p.qid, s.vec_id,
       |             ${isum("list_transform(list_zip(s.q8, p.pq8), z -> (z[1]-z[2])*(z[1]-z[2]))")} AS qd2
       |      FROM qv s, p WHERE s.vec_id <> p.qid AND ($candFilter)),
       |sl AS (SELECT qid, vec_id, qd2 FROM (
       |       SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |                   ORDER BY qd2, vec_id) AS rn FROM h) WHERE rn <= 16),
       |ref AS (SELECT sl.qid, sl.vec_id, CAST(sl.qd2 AS BIGINT) AS qd2,
       |               ${sqlE6(s"${sqlDot("p.pe", "d.embedding")} / (p.pn * d.nrm)")} AS score_e6
       |        FROM sl JOIN p ON p.qid = sl.qid JOIN v d ON d.vec_id = sl.vec_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |               ORDER BY score_e6 DESC, vec_id) AS rnk FROM ref)
       |SELECT qid, rnk, vec_id, qd2, score_e6 FROM r WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin
  }

  /** qn10/qn10b/qn10c/qn10d shared oracle: the full IVF pipeline as
    * DuckDB CTEs — deterministic stride centroids (from the rows
    * matching `centSrcFilter`; the whole corpus for qn10/qn10b/qn10d,
    * the build half for qn10c), argmax-cosine assignment of EVERY
    * vector, nProbe routing of the probe set (`probeFilter`; the 10
    * declared probes, or the whole corpus for qn10d), within-cell
    * rescoring, top-k. */
  private def ivfOracleSql(centSrcFilter: String = "TRUE",
      sampleKeySql: String = "vec_id",
      probeFilter: String = "vec_id < 10",
      coarseRoute: Boolean = false,
      candFilter: String = "TRUE"): String = {
      val cosE6c = (a: String, b: String, an: String, bn: String) =>
        sqlE6(s"${sqlDot(a, b)} / ($an * $bn)")
      // Flat routing (qn10/qn10b/qn10c): each probe argsorts ALL 16
      // centroids. Coarse routing (qn10d): the two-tier replay of
      // [[ivfRouteCoarse]] — dense cent_idx over cent_id order, the
      // coarseSeeds stride rule, fine->coarse argmax, probe ->
      // coarseProbeCells coarse cells -> nProbe fine cells within them.
      val pcCte =
        if (!coarseRoute)
          s"""pc AS (SELECT probe_id, pe, pn, cent_id FROM (
             |          SELECT p.vec_id AS probe_id, p.embedding AS pe, p.nrm AS pn, c.cent_id,
             |                 ROW_NUMBER() OVER (PARTITION BY p.vec_id
             |                   ORDER BY ${cosE6c("c.ce", "p.embedding", "c.cn", "p.nrm")} DESC,
             |                            c.cent_id) AS rn
             |          FROM (SELECT * FROM v WHERE $probeFilter) p, cents c) WHERE rn <= 4)""".stripMargin
        else
          s"""cidx AS (SELECT cent_id, ce, cn,
             |                ROW_NUMBER() OVER (ORDER BY cent_id) - 1 AS cent_idx FROM cents),
             |cst AS (SELECT GREATEST(4, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS k2,
             |               GREATEST(1, COUNT(*) // GREATEST(4, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT))) AS cstride
             |        FROM cidx),
             |cc AS (SELECT cent_idx // cstride AS coarse_id, ce AS gce, cn AS gcn FROM cidx, cst
             |       WHERE cent_idx % cstride = 0 AND cent_idx < cstride * k2),
             |casg AS (SELECT cent_id, ce, cn, coarse_id FROM (
             |         SELECT x.cent_id, x.ce, x.cn, cc.coarse_id,
             |                ROW_NUMBER() OVER (PARTITION BY x.cent_id
             |                  ORDER BY ${cosE6c("cc.gce", "x.ce", "cc.gcn", "x.cn")} DESC,
             |                           cc.coarse_id) AS rn
             |         FROM cidx x, cc) WHERE rn = 1),
             |pr AS (SELECT probe_id, pe, pn, coarse_id FROM (
             |       SELECT p.vec_id AS probe_id, p.embedding AS pe, p.nrm AS pn, cc.coarse_id,
             |              ROW_NUMBER() OVER (PARTITION BY p.vec_id
             |                ORDER BY ${cosE6c("cc.gce", "p.embedding", "cc.gcn", "p.nrm")} DESC,
             |                         cc.coarse_id) AS rn
             |       FROM (SELECT * FROM v WHERE $probeFilter) p, cc) WHERE rn <= $coarseProbeCells),
             |pc AS (SELECT probe_id, pe, pn, cent_id FROM (
             |       SELECT pr.probe_id, pr.pe, pr.pn, c.cent_id,
             |              ROW_NUMBER() OVER (PARTITION BY pr.probe_id
             |                ORDER BY ${cosE6c("c.ce", "pr.pe", "c.cn", "pr.pn")} DESC,
             |                         c.cent_id) AS rn
             |       FROM pr JOIN casg c USING (coarse_id)) WHERE rn <= 4)""".stripMargin
      s"""WITH v AS (SELECT vec_id, embedding, ${sqlL2norm("embedding")} AS nrm FROM embeddings),
         |cs AS (SELECT * FROM v WHERE $centSrcFilter),
         |st AS (SELECT GREATEST(1, COUNT(*) // 16) AS stride FROM cs),
         |cents AS (SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn FROM cs, st
         |          WHERE ($sampleKeySql) % stride = 0 AND ($sampleKeySql) < stride * 16),
         |asg AS (SELECT vec_id, embedding, nrm, cent_id FROM (
         |          SELECT v.vec_id, v.embedding, v.nrm, c.cent_id,
         |                 ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |                   ORDER BY ${cosE6c("c.ce", "v.embedding", "c.cn", "v.nrm")} DESC,
         |                            c.cent_id) AS rn
         |          FROM v, cents c) WHERE rn = 1),
         |$pcCte,
         |s AS (SELECT pc.probe_id, a.vec_id,
         |             ${cosE6c("pc.pe", "a.embedding", "pc.pn", "a.nrm")} AS score_e6
         |      FROM asg a JOIN pc USING (cent_id)
         |      WHERE a.vec_id <> pc.probe_id AND ($candFilter)),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
         |                 ORDER BY score_e6 DESC, vec_id) AS rnk FROM s)
         |SELECT probe_id, rnk, vec_id, score_e6 FROM r
         |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin
  }

  /** Candidate pairs for cosine >= 0.99 via LOSSLESS angular grid
    * blocking — the exact-semantics replacement for an all-pairs
    * nested-loop join.
    *
    * For unit vectors u = x/|x|, cos(a,b) >= 0.99 implies
    * ||u_a - u_b|| = sqrt(2 - 2 cos) <= 0.1415, so every normalized
    * coordinate differs by at most 0.1415. Bucketing the first two
    * normalized coordinates into cells of width 0.15 therefore puts any
    * qualifying pair in the same or an adjacent cell in BOTH dims: one
    * side explodes its 3x3 cell neighborhood and the join is an
    * equi-join on the cell key. Every qualifying pair survives (the
    * filter is a necessary condition — no recall loss, unlike LSH), and
    * each unordered pair matches exactly once (unique home cell, and the
    * vec_a < vec_b filter kills the mirrored probe). Candidates shrink
    * with the corpus's angular diversity; a degenerate corpus pointing
    * one way degrades to the honest all-pairs cost — which is then the
    * true output size anyway at this threshold.
    *
    * DIMENSIONALITY LIMIT (measured, round 6): normalized coordinates
    * concentrate as ~1/sqrt(dim), so at 32 dims the two grid coordinates
    * span only ~4 cells each and a 500k-vector corpus degraded toward
    * all-pairs candidate volume (~8B) — the curse of dimensionality, not
    * a plan bug; no lossless sub-quadratic blocking exists for exact
    * high-dim near-pair mining in general. The grid stays the right
    * EXACT plan for low-dim / anisotropic embeddings; at high dim reach
    * for the library's bounded-candidate forms instead: qn20's
    * cluster-bounded verify (SemDeDup semantics — misses cross-cluster
    * pairs by declaration) or qn04/qn09 signature candidates (tunable
    * recall). Documented in docs/SCALE.md.
    *
    * Expects (vec_id, embedding) plus anything else; emits
    * (vec_a, vec_b, ea, eb, na, nb). */
  private[graft] def nearPairCandidates(v0: DataFrame): DataFrame = {
    val width = 0.15
    def cell(i: Int): Column = when(col("nrm") > 0,
      floor(element_at(col("embedding"), i).cast("double") / col("nrm") / width).cast("long"))
      .otherwise(lit(0L))
    val v = v0.select(col("vec_id"), col("embedding"),
        l2normNative(col("embedding")).as("nrm"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        cell(1).as("c0"), cell(2).as("c1"))
    val home = v.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      col("nrm").as("nb"), struct(col("c0"), col("c1")).as("cell"))
    val probes = v.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      col("nrm").as("na"),
      explode(array((for { d0 <- -1 to 1; d1 <- -1 to 1 } yield
        struct((col("c0") + d0).as("c0"), (col("c1") + d1).as("c1"))): _*)).as("cell"))
    probes.join(home, "cell").filter(col("vec_a") < col("vec_b"))
  }

  /** Deterministic stride-sampled coarse centroids (qn10/qn10b/spec).
    * Stride folds in as a single-row crossJoin (mirroring the oracle's
    * `st` CTE) — no driver-side count() job at plan build.
    *
    * `sampleKey` is the id-space the stride lattice walks. It MUST be
    * dense over the rows of `v`: sampling a FILTERED corpus on raw
    * vec_id hits only the lattice points that survive the filter (an
    * even-ids build with an odd stride yields HALF the declared
    * centroids — caught in round-10 review), so a filtered build passes
    * the re-densified key (qn10c: `vec_id div 2`). */
  private[graft] def ivfCents(v: DataFrame, nCentroids: Int,
      sampleKey: Column = col("vec_id")): DataFrame = {
    val st = v.agg(count(lit(1)).as("n_vec"))
      .select(greatest(lit(1L), expr(s"n_vec div $nCentroids")).as("stride"))
    v.crossJoin(st)
      .filter(sampleKey % col("stride") === 0 && sampleKey < col("stride") * nCentroids)
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"), col("nrm").as("cn"))
  }

  /** IVF approximate top-k, exposed for the spec's recall test. */
  def annIvfTopK(s: SparkSession, dir: String, nCentroids: Int, nProbe: Int, k: Int): DataFrame = {
    val v = vecs(s, dir)
    val cents = ivfCents(v, nCentroids)
    ivfScoreTail(ivfAssigned(v, cents), ivfProbeCells(v, cents, nProbe), k)
  }

  /** The rows of `v` a cell assignment keeps beside `cent_id` unless
    * told otherwise: the cold-side row shape of IVF and IvfSq8. */
  private val vecCols = Seq("vec_id", "embedding", "nrm")

  /** Cell assignment: argmax cosine to a centroid (one broadcast join +
    * per-row max; ties break to the lowest cent_id), keeping the `keep`
    * columns of `v` beside `cent_id`. The declarative form the queries
    * and the oracle share, and the parity reference of the native
    * argmax ([[assign]]). */
  private[graft] def ivfAssigned(v: DataFrame, cents: DataFrame,
      keep: Seq[String] = vecCols): DataFrame = {
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("cscore").desc, col("cent_id").asc)
    v.join(broadcast(cents), expr("true"))
      .select(keep.map(col) ++ Seq(col("cent_id"),
        e6(cosine(dotNative(col("ce"), col("embedding")), col("cn"), col("nrm"))).as("cscore")): _*)
      .withColumn("rn", row_number().over(wAssign)).filter(col("rn") === 1)
      .select(keep.map(col) :+ col("cent_id"): _*)
  }

  /** The centroid table collected to flat driver arrays — the
    * plan-time payload the native argmax expressions bake in.
    * Centroid tables are sqrt(N) rows by construction — manifest-class
    * collects. */
  private[graft] case class CentArrays(cids: Array[Long], flat: Array[Float],
      cns: Array[Double], dim: Int)

  private[graft] def collectCents(cents: DataFrame): CentArrays = {
    val rows = cents.select(col("cent_id"), col("ce"), col("cn"))
      .collect().sortBy(_.getLong(0))
    require(rows.nonEmpty, "IVF: cannot assign against an empty centroid table")
    val dim = rows.head.getSeq[Float](1).length
    val cids = rows.map(_.getLong(0))
    val cns = rows.map(_.getDouble(2))
    val flat = new Array[Float](rows.length * dim)
    rows.zipWithIndex.foreach { case (r, j) =>
      val ce = r.getSeq[Float](1)
      require(ce.length == dim, s"IVF: ragged centroid width at cent_id=${cids(j)}")
      ce.copyToArray(flat, j * dim)
    }
    CentArrays(cids, flat, cns, dim)
  }

  /** A centroid table held on the driver: the local relation the
    * window-form assignment joins and the flat arrays the native loops
    * and the driver route bake in. */
  private[graft] final case class Cents(local: DataFrame, arrays: CentArrays)

  /** Collect a √N-row centroid frame ONCE into [[Cents]] (the arrays
    * come from the local relation, no second job). */
  private[graft] def centsOf(s: SparkSession, cents: DataFrame): Cents = {
    val local = s.createDataFrame(java.util.Arrays.asList(cents.collect(): _*), cents.schema)
    Cents(local, collectCents(local))
  }

  /** In-process flat route over CACHED centroid arrays: score every
    * (probe, centroid) pair with [[ivfAssigned]]'s exact rules (e6
    * floor, lowest-cent_id ties) and return each probe's top-nProbe
    * as (probe row, cent_id) pairs — the one routing loop of every
    * PQ / IVF / IvfSq8 probe (probes x cells x dim multiply-adds on
    * the driver, zero Spark jobs). [[driverRouteFrame]] turns the pairs
    * into the local relation the probe tails join against. */
  private[graft] def driverRoutePairs(probeRows: Array[org.apache.spark.sql.Row],
      ca: CentArrays, nProbe: Int): Array[(org.apache.spark.sql.Row, Long)] = {
    val nCells = ca.cids.length
    val top = math.max(0, math.min(nProbe, nCells))
    val out = Array.newBuilder[(org.apache.spark.sql.Row, Long)]
    out.sizeHint(probeRows.length * top)
    // Per probe: its embedding widened once, then a bounded insertion
    // into the `top` best (score desc, cent_id asc) — no per-cell
    // allocation and no sort of every cell.
    val emb = new Array[Double](ca.dim)
    val bestSc = new Array[Long](top)
    val bestJ = new Array[Int](top)
    def ahead(sc: Long, j: Int, i: Int): Boolean =
      sc > bestSc(i) || (sc == bestSc(i) && ca.cids(j) < ca.cids(bestJ(i)))
    probeRows.foreach { r =>
      val e = r.getSeq[Float](1)
      require(e.length == ca.dim,
        s"driverRoutePairs: probe width ${e.length} != centroid dim ${ca.dim}")
      var w = 0
      e.foreach { x => emb(w) = x.toDouble; w += 1 }
      val nrm = r.getDouble(2)
      var filled = 0
      var j = 0
      while (j < nCells && top > 0) {
        var dot = 0.0
        var d = 0
        val base = j * ca.dim
        while (d < ca.dim) {
          dot += ca.flat(base + d).toDouble * emb(d)
          d += 1
        }
        val sc = math.floor(dot / (ca.cns(j) * nrm) * 1000000L).toLong
        if (filled < top || ahead(sc, j, top - 1)) {
          var i = if (filled < top) { filled += 1; filled - 1 } else top - 1
          while (i > 0 && ahead(sc, j, i - 1)) {
            bestSc(i) = bestSc(i - 1); bestJ(i) = bestJ(i - 1); i -= 1
          }
          bestSc(i) = sc; bestJ(i) = j
        }
        j += 1
      }
      var i = 0
      while (i < filled) { out += ((r, ca.cids(bestJ(i)))); i += 1 }
    }
    out.result()
  }

  /** Most (probe, cell) pairs a driver route may produce: the pairs are
    * a driver collect, so past this a probe batch fails loudly. */
  private[operators] val maxRoutedPairs = 1000000L

  /** [[driverRoutePairs]] as a local (`probeCol`, cent_id) relation
    * plus the distinct routed cells — the route every driver-routed
    * probe body joins against. `withVectors` adds the probe's
    * embedding and norm as `pe` / `pn` (the IVF score tail's inputs).
    * A batch routing to more than [[maxRoutedPairs]] rows fails
    * loudly. */
  private[operators] def driverRouteFrame(s: SparkSession,
      probeRows: Array[org.apache.spark.sql.Row], ca: CentArrays, nProbe: Int,
      probeCol: String, withVectors: Boolean = false): (DataFrame, Seq[Long]) = {
    require(probeRows.length.toLong * nProbe <= maxRoutedPairs,
      "driverRouteFrame: probe batch routes to >1e6 (probe, cell) rows — index " +
        "probing is for probe BATCHES; a corpus-sized probe set should assign both " +
        "sides to cells and equi-join on cent_id (the qn20 shape)")
    import org.apache.spark.sql.types._
    val rows = driverRoutePairs(probeRows, ca, nProbe).map { case (r, cid) =>
      if (withVectors) org.apache.spark.sql.Row(r.getLong(0), cid, r.get(1), r.getDouble(2))
      else org.apache.spark.sql.Row(r.getLong(0), cid) }
    val schema = StructType(Seq(StructField(probeCol, LongType, false),
        StructField("cent_id", LongType, false)) ++
      (if (withVectors) Seq(StructField("pe", ArrayType(FloatType, containsNull = true), true),
        StructField("pn", DoubleType, false)) else Nil))
    (s.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
      rows.map(_.getLong(1)).distinct.toSeq)
  }

  /** EXACT native assignment at ANY cell count. Two payload routes,
    * same expression semantics (scores, e6 floor, lowest-cent_id ties
    * — [[ivfAssigned]]'s rules exactly, pinned in BlockedArgmaxSpec):
    *
    *  - Tables within [[nativeAssignMaxCells]] AND the
    *    [[nativeAssignMaxBytes]] payload cap stay the round-14
    *    plan-baked literal [[graft.functions.IvfArgmax]] — the payload
    *    rides the plan, nothing extra to distribute, the plan cache
    *    sees a pure literal expression.
    *  - Larger tables route the payload through a Spark BROADCAST
    *    variable and ONE [[graft.functions.IvfArgmaxBcast]] expression
    *    (round 17 — this RETIRED the round-15/16 per-block slicing +
    *    cross-block fold: blocks existed only to bound the
    *    per-expression literal, and the literal route itself was the
    *    wall — the task binary carries the whole payload, so at 262k
    *    cells every task Java-deserialized ~68 MB and the assignment
    *    ran ~255 s REGARDLESS of row count, measured round 16. The
    *    broadcast deserializes once per executor JVM; tasks pay a
    *    block-manager lookup).
    *
    * Both routes are a pure map over the scan: zero joins, zero
    * shuffles, zero extra rows at ANY cell count — a 100 TB index
    * wants √N ≈ 10k-130k cells (17B vectors at 1536 dims → ~800 MB of
    * centroids: plan-unbakeable, broadcast-routine), where the
    * join+window form is an N x cells wall.
    *
    * `keep` is the output column set alongside `cent_id`; `blockCells`
    * is spec-pinnable (BlockedArgmaxSpec forces the broadcast route on
    * fixture-sized tables by shrinking it). */
  private[graft] def nativeAssignBlocked(v: DataFrame, cents: DataFrame,
      keep: Seq[String], blockCells: Int = nativeAssignMaxCells): DataFrame =
    nativeAssignWith(v, collectCents(cents), keep, blockCells)

  /** [[nativeAssignBlocked]] over centroid arrays already collected. */
  private[operators] def nativeAssignWith(v: DataFrame, ca: CentArrays, keep: Seq[String],
      blockCells: Int): DataFrame = {
    val byteCap = math.max(1L, nativeAssignMaxBytes / (ca.dim * 4L))
    val bc = math.max(1, math.min(blockCells.toLong, byteCap).toInt)
    if (ca.cids.length <= bc)
      v.select(keep.map(col) :+ graft.functions.PqExprs.ivfArgmaxNative(
        col("embedding"), col("nrm"), ca.cids, ca.flat, ca.cns, ca.dim).as("cent_id"): _*)
    else {
      val bcast = v.sparkSession.sparkContext.broadcast(
        graft.functions.CentPayload(ca.cids, ca.flat, ca.cns))
      trackAssignBcast(v.sparkSession, bcast)
      v.select(keep.map(col) :+ graft.functions.PqExprs.ivfArgmaxBcastNative(
        col("embedding"), col("nrm"), bcast, ca.dim).as("cent_id"): _*)
    }
  }

  /** Beyond-literal assignment payload broadcasts, per session — the
    * [[graft.streaming.StreamSemantic]] registry pattern (round-17
    * review): a broadcast's blocks live until the ContextCleaner GCs
    * the last plan referencing it — correct, but LAZY, so a serve
    * session cycling large-cell-count builds accumulates
    * multi-hundred-MB payloads on the driver and every executor until
    * a driver GC happens to run. Callers that know a safe point —
    * every assignment plan built since the last release fully
    * materialized and discarded (a build/rebalance after its commit;
    * a battery between arms) — call [[releaseAssignBroadcasts]] to
    * destroy them eagerly. Callers that don't are still safe: the
    * registry holds the only extra reference, and stopped sessions
    * are evicted on the next track/release. */
  private val liveAssignBcasts = scala.collection.concurrent.TrieMap
    .empty[SparkSession,
      List[org.apache.spark.broadcast.Broadcast[graft.functions.CentPayload]]]

  private def trackAssignBcast(s: SparkSession,
      bc: org.apache.spark.broadcast.Broadcast[graft.functions.CentPayload]): Unit = {
    liveAssignBcasts.keySet.filter(_.sparkContext.isStopped).foreach(liveAssignBcasts.remove)
    liveAssignBcasts.updateWith(s) { prev => Some(bc :: prev.getOrElse(Nil)) }: Unit
  }

  /** Test probe: assignment broadcasts currently tracked for a session. */
  private[graft] def trackedAssignBcastCount(s: SparkSession): Int =
    liveAssignBcasts.get(s).map(_.size).getOrElse(0)

  /** Destroy every assignment-payload broadcast this session has
    * accumulated. ONLY safe when no un-materialized plan still
    * references one — destroying under a live plan fails its tasks. */
  def releaseAssignBroadcasts(s: SparkSession): Unit = {
    liveAssignBcasts.keySet.filter(_.sparkContext.isStopped).foreach(liveAssignBcasts.remove)
    liveAssignBcasts.remove(s).foreach(_.foreach { bc =>
      try bc.destroy() catch { case _: Exception => () } // already cleaned is fine
    })
  }

  /** Literal-route bound of the native exact assignment
    * ([[nativeAssignBlocked]]): centroid tables up to this many cells
    * bake into the plan as ONE [[graft.functions.IvfArgmax]] literal;
    * larger tables route the payload through a broadcast variable
    * ([[graft.functions.IvfArgmaxBcast]]) — same loop, same tie rules,
    * payload out of the task binary (round 17: the per-TASK Java
    * deserialization of a baked payload was itself the wall, measured
    * ~255 s row-count-independent at 262k cells). 4096 is the bracket
    * point where the literal route still won or tied at both measured
    * corpus sizes. */
  private[graft] val nativeAssignMaxCells = 4096

  /** Literal-route payload cap: a plan-baked centroid literal stays
    * modest even at unusual dims (the round-14 guard —
    * [[nativeAssignBlocked]] switches to the broadcast route past it). */
  private val nativeAssignMaxBytes: Long = 64L << 20

  /** TOTAL payload guard of the native argmax: the centroid table is
    * collected to the driver and (past the literal bound) shipped as a
    * broadcast variable, so it must stay executor-memory-class end to
    * end. 2 GB covers √N sizing for any corpus this engine will meet
    * — 17B vectors at 1536 dims (the 100 TB shape) is ~130k cells ≈
    * 800 MB. */
  private val nativeAssignTotalMaxBytes: Long = 2L << 30

  /** The one cell assignment of every IVF, IvfSq8 and PQ build,
    * rebalance and append, and of SemDeDup's exact clusters (qn20,
    * qn08, qn08b, qn08c), keeping the `keep` columns of `v` beside
    * `cent_id`: the native argmax ([[nativeAssignWith]] — EXACT at any
    * cell count, a pure map over the scan, the plan-baked literal up
    * to [[nativeAssignMaxCells]] and the broadcast payload past it).
    * Only a centroid table past [[nativeAssignTotalMaxBytes]] takes the
    * window form ([[ivfAssigned]] — same scores, same e6 floor, same
    * lowest-cent_id tie rule, so the two branches agree row for row;
    * pinned in BlockedArgmaxSpec). */
  private[operators] def assign(v: DataFrame, cents: Cents,
      keep: Seq[String] = vecCols): DataFrame =
    if (cents.arrays.cids.length.toLong * cents.arrays.dim * 4L > nativeAssignTotalMaxBytes)
      ivfAssigned(v, cents.local, keep)
    else nativeAssignWith(v, cents.arrays, keep, nativeAssignMaxCells)

  /** The rebuild input of the cell-partitioned rungs (IVF, IvfSq8, PQ),
    * all read from ONE pinned root: the cold lake minus its tombstones,
    * and fresh centroids — the √N surviving vectors with the lowest
    * `xxhash64(vec_id)` (a global top-k: TakeOrderedAndProject, no
    * sort materialization). The build-time stride rule needs a DENSE
    * sample key and an appended lake's id space is arbitrary; the hash
    * rule is deterministic, distribution-free over the ids, and adapts
    * the cell count to the GROWN corpus instead of freezing the
    * build-time k. N is the footer row count minus the tombstones (a
    * no-op tombstone undercounts by one, which the ceil absorbs); the
    * seed collect is √N rows — manifest-class up to ~1e12-vector lakes,
    * the same table every probe routes against. */
  private[operators] def reseed(s: SparkSession, root: String): (DataFrame, Cents) = {
    val v = IndexSwap.liveVectors(s, root)
    val total = math.max(1L, ivfCellStatsAt(s, root).values.sum -
      IndexSwap.tombstonesAt(s, root).map(_.count()).getOrElse(0L))
    val k = math.max(16L, math.ceil(math.sqrt(total.toDouble)).toLong)
    (v, centsOf(s, v.orderBy(xxhash64(col("vec_id"), lit(1002)).asc, col("vec_id").asc)
      .limit(k.toInt)
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"), col("nrm").as("cn"))))
  }

  /** Probe routing: the declared-query probe set (vec_id < 10). */
  private def ivfProbeCells(v: DataFrame, cents: DataFrame, nProbe: Int): DataFrame =
    ivfRoute(v.filter(col("vec_id") < 10), cents, nProbe)

  /** Two-tier probe routing — the corpus-sized path's replacement for
    * the flat probe x all-centroids nested loop ([[ivfRoute]]): the
    * k fine centroids are themselves stride-clustered to
    * k2 = max(4, ceil(sqrt(k))) ~ N^(1/4) coarse seeds (the qn20c
    * shape, applied to the PERSISTED centroid table via a dense
    * row-number index over cent_id); a probe scores only the k2 coarse
    * seeds, keeps its [[coarseProbeCells]] best coarse cells, and picks
    * its nProbe fine cells among the fine centroids ASSIGNED to those
    * cells — reached through an equi-join on coarse_id, never a nested
    * loop over all k. Routing work per probe drops from k ~ sqrt(N) to
    * k2 + coarseProbeCells x k/k2 ~ N^(1/4) — ~30x less at 1e9 vectors.
    * Declared miss semantics: a fine centroid living in an unprobed
    * coarse cell is invisible to that probe; the oracle replays the
    * identical two-tier argmax (e6 scores, coarse_id/cent_id
    * tie-breaks), so engine and oracle miss identically.
    *
    * Fully lazy like everything on this path: k2/cstride fold in as
    * single-row crossJoined aggregates (the oracle's cst CTE), and the
    * dense cent_idx is a window over the centroid table — k rows, the
    * one tier small enough that a single-partition window is the
    * deployment shape. */
  private[graft] def ivfRouteCoarse(pv: DataFrame, cents: DataFrame, nProbe: Int): DataFrame = {
    val cidx = cents.withColumn("cent_idx",
      row_number().over(Window.orderBy(col("cent_id"))) - 1)
    val cst = cidx.agg(count(lit(1)).as("ck"))
      .select(greatest(lit(4L), ceil(sqrt(col("ck"))).cast("long")).as("k2"), col("ck"))
      .select(col("k2"), greatest(lit(1L), expr("ck div k2")).as("cstride"))
    val cc = cidx.crossJoin(cst)
      .filter(col("cent_idx") % col("cstride") === 0 &&
        col("cent_idx") < col("cstride") * col("k2"))
      .select(expr("cent_idx div cstride").as("coarse_id"),
        col("ce").as("gce"), col("cn").as("gcn"))
    // fine centroid -> its coarse cell (argmax cosine, ties to low id)
    val wFine = Window.partitionBy(col("cent_id"))
      .orderBy(col("gscore").desc, col("coarse_id").asc)
    val casg = cidx.join(broadcast(cc), expr("true"))
      .select(col("cent_id"), col("ce"), col("cn"), col("coarse_id"),
        e6(cosine(dotNative(col("gce"), col("ce")), col("gcn"), col("cn"))).as("gscore"))
      .withColumn("rn", row_number().over(wFine)).filter(col("rn") === 1)
      .select(col("cent_id"), col("ce"), col("cn"), col("coarse_id"))
    // probe -> its best coarse cells
    val wCoarse = Window.partitionBy(col("probe_id"))
      .orderBy(col("cscore").desc, col("coarse_id").asc)
    val routed = pv
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"), col("nrm").as("pn"))
      .join(broadcast(cc), expr("true"))
      .select(col("probe_id"), col("pe"), col("pn"), col("coarse_id"),
        e6(cosine(dotNative(col("gce"), col("pe")), col("gcn"), col("pn"))).as("cscore"))
      .withColumn("rn", row_number().over(wCoarse)).filter(col("rn") <= coarseProbeCells)
      .select(col("probe_id"), col("pe"), col("pn"), col("coarse_id"))
    // probe -> nProbe fine cells WITHIN the probed coarse cells: an
    // equi-join on coarse_id — the nested loop this tier exists to kill
    val wProbe = Window.partitionBy(col("probe_id"))
      .orderBy(col("fscore").desc, col("cent_id").asc)
    routed.join(casg, Seq("coarse_id"))
      .select(col("probe_id"), col("pe"), col("pn"), col("cent_id"),
        e6(cosine(dotNative(col("ce"), col("pe")), col("cn"), col("pn"))).as("fscore"))
      .withColumn("rn", row_number().over(wProbe)).filter(col("rn") <= nProbe)
      .select(col("probe_id"), col("pe"), col("pn"), col("cent_id"))
  }

  /** Route an arbitrary (vec_id, embedding, nrm) probe frame to its
    * nProbe nearest cells as (probe_id, pe, pn, cent_id) — FLAT (probe
    * x all centroids, ties to the lowest cent_id): right for declared
    * probe batches, the qn33/qn36/qn41 route; the corpus-sized path
    * goes through [[ivfRouteCoarse]] (the ivfjoin battery's routing
    * head-to-head). */
  private[graft] def ivfRoute(pv: DataFrame, cents: DataFrame, nProbe: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("probe_id"))
      .orderBy(col("cscore").desc, col("cent_id").asc)
    pv.select(col("vec_id").as("probe_id"), col("embedding").as("pe"), col("nrm").as("pn"))
      .join(broadcast(cents), expr("true"))
      .select(col("probe_id"), col("pe"), col("pn"), col("cent_id"),
        e6(cosine(dotNative(col("ce"), col("pe")), col("cn"), col("pn"))).as("cscore"))
      .withColumn("rn", row_number().over(wProbe)).filter(col("rn") <= nProbe)
      .select(col("probe_id"), col("pe"), col("pn"), col("cent_id"))
  }

  /** Exact rescoring within the probed cells + per-probe top-k.
    * `broadcastProbes` hints the probe-cell side broadcast (right for
    * the declared-probe queries, where it is ~10 rows); the
    * corpus-sized assignment-join path (qn10d) passes false and lets
    * Catalyst/AQE pick — at scale that is a shuffled join on cent_id. */
  private def ivfScoreTail(candidates: DataFrame, probeCells: DataFrame, k: Int,
      broadcastProbes: Boolean = true): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("score_e6").desc, col("vec_id").asc)
    val probeSide = if (broadcastProbes) broadcast(probeCells) else probeCells
    candidates.join(probeSide, Seq("cent_id"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        e6(cosine(dotNative(col("pe"), col("embedding")), col("pn"), col("nrm"))).as("score_e6"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk").cast("long").as("rnk"), col("vec_id"), col("score_e6"))
      .orderBy("probe_id", "rnk")
  }

  // ---- Persisted IVF index (qn10b) ------------------------------------

  private val indexRun = new java.util.concurrent.atomic.AtomicInteger(0)

  private[graft] def newIndexDir(): String = {
    val n = indexRun.incrementAndGet()
    // Bounded ring (round-10 review): reclaim generation n-8 so a
    // long-lived JVM holds at most 8 index lakes. 8 generations is far
    // beyond the concurrent-plan window — the widest holder is the
    // determinism sweep with 2 plans of one query alive at once.
    TmpDirs.rmTree(TmpDirs.dir("graft_ivf_q_", n - 8))
    TmpDirs.dir("graft_ivf_q_", n).toString
  }

  /** The IVF index's swappable sides (the [[IndexSwap]] protocol). */
  val sides: Seq[String] = Seq("vectors", "centroids")

  /** The assigned vectors one `cent_id=` directory per cell, as the
    * writing tasks leave them; the centroid table one file. */
  protected val layouts: Map[String, IndexSwap.Layout] = Map(
    "vectors" -> IndexSwap.Layout.cells(),
    "centroids" -> IndexSwap.Layout.single)

  /** Assign (vec_id, embedding) rows to the centroids: the one data side. */
  protected def encode(rows: DataFrame,
      st: => State): Seq[(String, DataFrame)] =
    Seq("vectors" -> assign(IndexSwap.normed(rows), st))

  /** Materialize the IVF index at `path` as a DATA LAYOUT: assigned
    * vectors in a cent_id-partitioned parquet lake plus the tiny
    * centroid table. One batch job (the same deterministic assignment
    * qn10 computes in-flight); after it, a probe's IO is bounded by its
    * probed cells' files — the other (nCentroids - nProbe)/nCentroids
    * of the corpus is never opened. At 100 TB this is the difference
    * between an ANN service and a full scan per query batch.
    * Centroids are nCentroids rows by declaration: collected ONCE so
    * the assignment and the centroid write don't each replay the
    * corpus count + filter scan (round-10 review). Staged + committed
    * like the rebuild paths (round 15): a crashed build leaves NOTHING
    * half-visible at the index root. */
  def buildIvfIndex(s: SparkSession, dir: String, nCentroids: Int, path: String,
      pred: Column = lit(true), sampleKey: Column = col("vec_id")): Unit = {
    val v = vecs(s, dir).filter(pred)
    val cents = centsOf(s, ivfCents(v, nCentroids, sampleKey))
    stage(s, path, encode(v, cents) :+ ("centroids" -> cents.local))
  }

  /** Assign NEW vectors against the STORED centroids and append them to
    * the index lake: O(new vectors) work, no rebuild, and only the
    * cells the new vectors land in gain files — dynamic partition
    * append never rewrites an untouched cell (pinned in NorthStarSpec).
    * Centroids stay frozen at build time; drift is handled by rebuild,
    * never per-append re-clustering, which would silently stale every
    * already-written cell's assignment.
    *
    * `autoRebalance = Some(k)` makes the rebuild cadence MEASURED
    * instead of caller discipline ([[auditCellSkew]]): past it
    * [[rebalance]] runs inline. */
  def appendToIvfIndex(s: SparkSession, newVecs: DataFrame, path: String,
      autoRebalance: Option[Int] = None): Unit =
    append(s, newVecs, path)((root, st) =>
      autoRebalance.foreach(auditCellSkew(s, path, root, st().arrays.cids.length, _)))

  /** [[delete]] under the name existing callers use. */
  def deleteFromIvfIndex(s: SparkSession, ids: DataFrame, path: String,
      autoRebalance: Option[Double] = None): Unit =
    delete(s, ids, path, autoRebalance)

  /** A due rebalance (the append's cell-skew audit or a delete's
    * tombstone reclaim) runs INLINE, no deferred marker: this index's
    * append trigger predates the siblings' deferred-marker pattern. */
  override protected def onRebalanceDue(s: SparkSession, path: String): Unit =
    rebalance(s, path)

  /** Live rows: the vector lake's per-cell footer counts. */
  protected def liveRows(s: SparkSession, root: String): Long =
    ivfCellStatsAt(s, root).values.sum

  /** Per-cell row counts of a persisted IVF index, from the vector
    * lake's parquet footers — the occupancy audit the rebalance trigger
    * reads. Driver-side metadata walk, O(files); no Spark job. */
  def ivfCellStats(s: SparkSession, path: String): Map[Long, Long] =
    ivfCellStatsAt(s, IndexSwap.liveRoot(s, path))

  /** [[ivfCellStats]] against an ALREADY-RESOLVED version root — the
    * pinned form the append paths use so the trigger audits the same
    * version the append wrote (round-15 ADVICE). */
  private[graft] def ivfCellStatsAt(s: SparkSession, root: String): Map[Long, Long] = {
    val conf = s.sessionState.newHadoopConf()
    graft.sources.LakeListing.dataFiles(conf,
        new org.apache.hadoop.fs.Path(IndexSwap.sideAt(root, "vectors")))
      .groupBy(_.getParent.getName)
      .collect { case (dir, files) if dir.startsWith("cent_id=") =>
        dir.stripPrefix("cent_id=").toLong -> files.map { f =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
          try r.getRecordCount finally r.close()
        }.sum
      }
  }

  /** Re-cluster a persisted IVF index IN PLACE from its own lake — the
    * drift answer ([[appendToIvfIndex]]'s trigger calls this; a caller
    * can also run it on a cadence), re-seeded by [[reseed]].
    *
    * Crash safety AND reader safety are the versioned [[IndexSwap]]
    * commit: both new lakes write COMPLETELY into the hidden stage,
    * one atomic rename makes them version N+1, and version N is
    * retained a full cycle so a reader that resolved it mid-rebalance
    * finishes against its snapshot. A crash before the rename leaves a
    * partial stage [[recover]] drops (run by append and
    * rebalance entry) — no state loses the only copy of the index. */
  def rebalance(s: SparkSession, path: String): Unit = {
    val (v, cents) = reseed(s, IndexSwap.liveRoot(s, path))
    stage(s, path, encode(v, cents) :+ ("centroids" -> cents.local))
  }

  /** Probe a persisted IVF index: route probes via the stored centroid
    * table, then scan ONLY the probed cells — `cent_id IN (...)` lands
    * as a PartitionFilter, so Hive pruning skips every other cell's
    * files (pinned in NorthStarSpec). Routing runs on the driver over
    * the collected centroid arrays (bounded by nProbe x #probes rows —
    * manifest-class, like ZoneMap planning) and re-enters the plan as a
    * local relation, so the returned plan never re-runs a routing
    * pipeline for the rescoring broadcast. Probe vectors come from the
    * base table; results are identical to qn10's in-flight form because
    * the index stores the same embedding floats, double norms, and
    * assignment.
    *
    * Routing here is always FLAT (probe x all centroids — right for a
    * declared probe batch against a fixture-sized centroid table).
    * [[probeIvfIndexJoined]] returns the identical neighbors below its
    * [[coarseRouteMinCentroids]] dispatch threshold and coarse-MISS
    * results at or above it — see its doc before migrating between the
    * two entry points. */
  def probeIvfIndex(s: SparkSession, dir: String, path: String, nProbe: Int, k: Int): DataFrame =
    probeIvfIndexWith(s,
      vecs(s, dir).filter(col("vec_id") < 10).select("vec_id", "embedding"),
      path, nProbe, k)

  /** [[probeIvfIndex]] for an ARBITRARY probe frame of (vec_id,
    * embedding) — the serving entry: a probe batch (or one micro-batch
    * of a probe stream via foreachBatch — streaming == batch parity
    * pinned in StreamSemanticSpec) against a standing index.
    *
    * Contract: the probes are collected to the driver and routed there
    * (nProbe x #probes routed rows), so this is for probe BATCHES — up
    * to the order of 1e5 probes per call. A corpus-sized probe set should be
    * an assignment join instead (route both sides to cells and
    * equi-join on cent_id — the qn20 shape); [[driverRouteFrame]]'s
    * 1e6-pair bound fails loudly rather than letting the collect OOM
    * the driver. */
  def probeIvfIndexWith(s: SparkSession, probes: DataFrame, path: String,
      nProbe: Int, k: Int, allowed: Option[DataFrame] = None): DataFrame =
    probe(s, open(s, path), probes, nProbe, k, allowed)

  /** [[probeIvfIndexWith]] through a serve handle. */
  def probeWith(s: SparkSession, h: Handle, probes: DataFrame, nProbe: Int, k: Int,
      allowed: Option[DataFrame] = None): DataFrame =
    probe(s, h.refreshed(s), probes, nProbe, k, allowed)

  /** The probe body against a handle: routes IN-PROCESS over its
    * centroid arrays ([[driverRoutePairs]] — [[ivfRoute]]'s exact
    * arithmetic: [[graft.functions.DotProductFF]]'s left-to-right
    * double fold, e6 floor-cast, score-desc/cent_id-asc ties), then
    * reads only the routed cells of its pinned root. */
  private def probe(s: SparkSession, h: Handle, probes: DataFrame, nProbe: Int,
      k: Int, allowed: Option[DataFrame]): DataFrame = {
    val probesRaw = probes.select(col("vec_id"), col("embedding"),
      l2normNative(col("embedding")).as("nrm"))
    // One row past the route bound is enough for driverRouteFrame to fail loudly.
    val probeRows = probesRaw.limit((maxRoutedPairs / math.max(1, nProbe)).toInt + 1).collect()
    val (localPc, cells) = driverRouteFrame(s, probeRows, h.state.arrays, nProbe, "probe_id",
      withVectors = true)
    // Tombstones (if any delete landed on this version) are anti-joined
    // out before the rescoring top-k — a deleted row can neither
    // surface nor crowd a live row out of the k slots. The deletes
    // side grows within a version, so it reads fresh per call (the
    // handle must not cache it).
    val candidates = allowed.foldLeft(IndexSwap.exceptTombstones(s, h.root,
        cellScopedReadAt(s, h.root, "vectors", cells))) { (c, a) =>
        c.join(a.select(col("vec_id")), Seq("vec_id"), "left_semi") }
      .filter(col("cent_id").isin(cells: _*))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("cent_id").cast("long").as("cent_id"))
    ivfScoreTail(candidates, localPc, k)
  }

  /** The centroid table. */
  type State = Cents

  /** The √N-row centroid side, collected. */
  protected def load(s: SparkSession, root: String): State =
    centsOf(s, Parquet.read(s, IndexSwap.sideAt(root, "centroids")))

  /** Cell-count bound past which [[cellScopedRead]] falls back to the
    * whole-lake listing: the scoped form's win is O(nProbe) listing vs
    * O(cells), which inverts when a probe touches most of the lake. */
  private val cellScopedMaxCells = 4096

  /** Read a cent_id-partitioned index side listing ONLY the probed
    * cells' directories. Partition DISCOVERY over the whole lake is
    * the measured dominant fixed cost of a serving call — 2.0-2.4 s
    * per read at 1000 cells on local fs vs 0.28 s scoped (and the
    * full listing is O(cells) object-store requests at production
    * cell counts, paid TWICE per PQ probe: codes + cold side). The
    * `basePath` option keeps cent_id a partition column with the same
    * inference as the full-listing read, so results are bit-identical
    * (qn39/qn40/qn10b ride the unchanged oracles). Cells whose
    * directory does not exist (a seeded centroid no vector chose) are
    * skipped, judged from one listing of the side directory; an all-empty probe set, or one spanning more than
    * [[cellScopedMaxCells]] cells, takes the whole-lake listing the
    * callers' own cent_id filter then prunes. */
  private[graft] def cellScopedRead(s: SparkSession, path: String, side: String,
      cells: Seq[Long]): DataFrame =
    cellScopedReadAt(s, IndexSwap.liveRoot(s, path), side, cells)

  /** [[cellScopedRead]] against an ALREADY-RESOLVED version root — the
    * serve-handle form: one version resolution per probe CALL (pinned
    * by the caller), never one per side read, so a commit landing
    * between the codes read and the cold read can't mix versions. */
  private[graft] def cellScopedReadAt(s: SparkSession, root: String, side: String,
      cells: Seq[Long]): DataFrame = {
    val base = s"$root/$side"
    val dirs =
      if (cells.size > cellScopedMaxCells) Seq.empty
      else {
        val present = IndexSwap.fsOf(s, root)
          .listStatus(new org.apache.hadoop.fs.Path(base)).map(_.getPath.getName).toSet
        cells.map(c => s"cent_id=$c").filter(present).map(d => s"$base/$d")
      }
    if (dirs.isEmpty) Parquet.read(s, base)
    else Parquet.readBase(s, base, dirs)
  }

  /** The CORPUS-SIZED probe path the [[probeIvfIndexWith]] contract
    * points at: route the probe frame to its nProbe cells as a
    * DISTRIBUTED frame and equi-join the index lake on cent_id — the
    * driver never collects a route, so the probe set can be as large as
    * the corpus itself (the "re-embed everything and find each vector's
    * neighbors" batch, the qn20 shape).
    *
    * Routing is DISPATCHED by measured centroid count
    * ([[coarseRouteMinCentroids]]): below the threshold it is FLAT —
    * identical results to [[probeIvfIndexWith]] on the same arguments
    * (the hash-identity contract, pinned in NorthStarSpec) — and at or
    * above it the COARSE tier ([[ivfRouteCoarse]]) engages: a
    * corpus-sized probe batch against all sqrt(N) fine centroids was
    * the last flat N x sqrt(N) stage on this path (round-10 verdict);
    * the two-tier route cuts it to ~N^(1/4) per probe at the declared
    * coarse-MISS semantics (a fine centroid in an unprobed coarse cell
    * is invisible), which the qn10e oracle replays exactly. Callers
    * migrating a growing index across the threshold see that result
    * drift by design — it is the dispatch contract, not a bug.
    *
    * Fully lazy: calling this runs ZERO jobs (pinned in NorthStarSpec);
    * routing, the cell join, and the rescore all execute inside the one
    * action the caller runs. Plan shape at scale: coarse-seed broadcast
    * for routing (k2 ~ N^(1/4) rows), fine cells via an equi-join on
    * coarse_id, then a join on cent_id between the routed probes
    * (O(probes x nProbe) rows) and the cent_id-partitioned lake — for a
    * SELECTIVE probe batch Spark's dynamic partition pruning can skip
    * unprobed cells at runtime; for a corpus-sized batch every cell is
    * genuinely needed and the join shuffles on cent_id (nCentroids ~
    * sqrt(N) keys at scale — enough reducers). */
  def probeIvfIndexJoined(s: SparkSession, probes: DataFrame, path: String,
      nProbe: Int, k: Int, forceRoute: Option[Boolean] = None): DataFrame = {
    // ONE version resolution per call (the pinned-root discipline),
    // and the same tombstone exclusion as every other probe entry — a
    // deleted row's visibility must not depend on which entry serves.
    val root = IndexSwap.liveRoot(s, path)
    val cents = Parquet.read(s, IndexSwap.sideAt(root, "centroids"))
    val pv = probes.select(col("vec_id"), col("embedding"),
      l2normNative(col("embedding")).as("nrm"))
    // Routing DISPATCH by measured centroid count (the qn06 pattern —
    // see [[coarseRouteMinCentroids]] for the threshold rationale and
    // the declared flat-vs-coarse semantics). The count comes from the
    // centroid table's parquet FOOTERS (driver metadata, one tiny file
    // by construction) — a .count() here would break this path's
    // zero-jobs-at-plan-build contract (pinned in NorthStarSpec).
    // `forceRoute` pins a branch for its oracle gate (qn10e) and the
    // routing battery; production callers leave it None.
    val useCoarse = forceRoute.getOrElse(
      parquetRowCount(s, IndexSwap.sideAt(root, "centroids")) >= coarseRouteMinCentroids)
    val pc =
      if (useCoarse) ivfRouteCoarse(pv, cents, nProbe)
      else ivfRoute(pv, cents, nProbe)
    val candidates = IndexSwap.exceptTombstones(s, root,
        Parquet.read(s, IndexSwap.sideAt(root, "vectors")))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("cent_id").cast("long").as("cent_id"))
    ivfScoreTail(candidates, pc, k, broadcastProbes = false)
  }

  /** Total row count of a parquet dir from file footers — driver-side
    * metadata, ZERO Spark jobs (the BloomLake footer-walk class). Sized
    * for manifest-scale tables (the centroid table: sqrt(N) rows, one
    * coalesced file); never call it on a data lake. */
  private[graft] def parquetRowCount(s: SparkSession, dir: String): Long = {
    val conf = s.sessionState.newHadoopConf()
    graft.sources.LakeListing.dataFiles(conf, new org.apache.hadoop.fs.Path(dir))
      .map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** LSH-bucketed approximate top-k, exposed for the spec's recall test.
    *
    * Multi-band collision dedup is the same shuffle-free
    * first-agreeing-band discipline as qn04: a (probe, candidate) pair
    * joins once per agreeing band, and only the row whose band index IS
    * the lowest agreeing band survives — a codegen'd scalar filter inside
    * the join stage. The round-5 shape deduplicated with
    * `dropDuplicates(probe_id, vec_id)` over rows still carrying the
    * embedding arrays; `first()` on an array column has no mutable hash
    * buffer, so Spark planned a SortAggregate over the whole candidate
    * stream (the one stray SortAggregate in the round-6 plan audit). */
  def annTopK(s: SparkSession, dir: String, nPlanes: Int, bandBits: Int, k: Int): DataFrame = {
    val v = vecs(s, dir)
    // 16-bit signature: bit p = sign of <embedding, plane_p> where
    // plane_p has deterministic ±1 components (computed per dimension via
    // a position-indexed transform — one pass over the vector per plane).
    val sigBits: Column = (0 until nPlanes).map { p =>
      val proj = seqSum(zip_with(col("embedding"),
        sequence(lit(0), size(col("embedding")) - 1),
        (x, i) => x.cast("double") * sign(p, i)))
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val sig = v.withColumn("sig", sigBits)
    val nBands = nPlanes / bandBits
    val mask = (1L << bandBits) - 1
    val banded = sig.select(col("vec_id"), col("embedding"), col("nrm"), col("sig"),
      posexplode(array((0 until nBands).map(bd => concat_ws(":", lit(bd),
        shiftright(col("sig"), bd * bandBits).bitwiseAND(lit(mask)))): _*))
        .as(Seq("bd", "band")))
    val probes = banded.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
        col("nrm").as("pn"), col("sig").as("psig"), col("band"))
    // Lowest band where the two packed signatures agree: XOR once, then a
    // least() over per-band zero tests — pure scalar codegen, no UDF.
    val xorSig = col("sig").bitwiseXOR(col("psig"))
    val firstAgree = (0 until nBands).map { bd =>
      when(shiftright(xorSig, bd * bandBits).bitwiseAND(lit(mask)) === 0, lit(bd))
        .otherwise(lit(nBands))
    }.reduce(least(_, _))
    val cands = banded.join(broadcast(probes), Seq("band"))
      .filter(col("vec_id") =!= col("probe_id") && col("bd") === firstAgree)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("score_e6").desc, col("vec_id").asc)
    cands
      .select(col("probe_id"), col("vec_id"),
        e6(cosine(dotNative(col("pe"), col("embedding")), col("pn"), col("nrm"))).as("score_e6"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk").cast("long").as("rnk"), col("vec_id"), col("score_e6"))
      .orderBy("probe_id", "rnk")
  }
}
