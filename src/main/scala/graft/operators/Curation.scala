package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFns._
import graft.streaming.StreamSemantic
import graft.functions.VectorExprs.{dotNative, l2normNative}
import graft.sources.Parquet
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation compositions — the round-4 additions on top of the
  * dedup/similarity/train-prep families: semantic (embedding-cluster)
  * dedup, sketch-gated decontamination, deterministic epoch shuffling,
  * and quality-aware canonical selection over near-dup clusters.
  *
  * Scale design (100 TB):
  *  - Semantic dedup bounds the quadratic cosine work per CLUSTER: the
  *    centroid table broadcasts (k rows), assignment is map-side, and the
  *    within-cluster pair join is an equi-join on cent_id — never a
  *    corpus cross join. k grows ~sqrt(N) with the corpus (SemDeDup's
  *    regime), keeping per-cluster pair counts flat.
  *  - The decontamination prefilter is a Bloom sketch of the benchmark
  *    n-grams: MBs riding into the corpus scan as a literal, dropping
  *    definite-negatives map-side BEFORE any join. The exact verify join
  *    only sees survivors, so the sketch's false-positive rate affects
  *    cost, never results (lossless by construction).
  *  - Epoch shuffle is the distributed-rank pattern (range partition +
  *    per-partition row_number + O(#partitions) offsets) — a global
  *    permutation with no global window.
  *  - Canonical selection reuses the memoized component labels and plans
  *    its per-cluster argmax through the TopKPerGroup operator.
  */
object Curation {

  /** Semantic-dedup cosine threshold, e6-scaled. Corpus-calibrated in
    * practice (SemDeDup tunes eps per corpus); 0.35 exercises real drops
    * on the synthetic embeddings, whose cosine mass sits below 0.6. */
  private val semThresholdE6 = 350000L

  /** qn20's centroid-seed rule — THE one definition, shared by the batch
    * query, its DuckDB oracle (same formula in SQL), and the streaming
    * parity spec (StreamSemanticSpec): k = max(8, ceil(sqrt(n)))
    * stride-spaced seeds, stride = max(1, n/k). IEEE sqrt is correctly
    * rounded and ceil/floor-div are exact, so the JVM, Spark SQL, and
    * DuckDB all derive the identical (stride, k) from the same count. */
  private[graft] def centroidSeeds(n: Long): (Long, Long) = {
    val k = math.max(8L, math.ceil(math.sqrt(n.toDouble)).toLong)
    (math.max(1L, n / k), k)
  }

  /** qn20c's coarse-quantizer shape: the k ~ sqrt(N) fine centroids are
    * themselves clustered to k2 = max(4, ceil(sqrt(k))) ~ N^(1/4) coarse
    * seeds by the SAME stride rule (applied to the centroid index), so
    * the JVM, Spark SQL, and DuckDB derive identical (cstride, k2). */
  private[graft] def coarseSeeds(k: Long): (Long, Long) = {
    val k2 = math.max(4L, math.ceil(math.sqrt(k.toDouble)).toLong)
    (math.max(1L, k / k2), k2)
  }

  /** How many coarse cells each vector probes in qn20c's IVF assignment.
    * A CONSTANT shared with the DuckDB oracle (same rule as
    * [[graft.operators.Similarity.gridMaxDim]]): the probe count changes
    * which fine centroid a vector can see, so it is declared semantics —
    * one literal, never two settings that can drift. */
  private[graft] val ivfNProbe = 3

  /** qn23's frequent-gram document-frequency cap: an 8-gram appearing in
    * more than this many documents is treated as boilerplate and dropped
    * before the positional self-join (f docs sharing a gram emit ~f^2
    * candidate rows on one join key). Recall-changing, documented knob;
    * mirrored verbatim in the DuckDB oracle. */
  private[operators] val gramDfCap = 64L

  private def cosE6Sql(a: String, b: String, an: String, bn: String) =
    sqlE6(s"${sqlDot(a, b)} / ($an * $bn)")

  /** Word 5-gram shingles of token array `tk`, distinct (order matters). */
  private[operators] def kgrams5(tk: Column): Column =
    array_distinct(transform(
      sequence(lit(1), size(tk) - 4),
      i => concat_ws(" ", (0 until 5).map(o => element_at(tk, i + o)): _*)))

  private[operators] def sqlKgrams5(t: String): String = {
    val parts = (0 until 5).map(o => s"($t)[i + $o]").mkString(", ")
    s"list_distinct([ concat_ws(' ', $parts) for i in range(1, len($t) - 3) ])"
  }

  /** `might_contain(bloomBytes, xxhash64(c))` — the native Catalyst
    * membership probe against a serialized Bloom sketch, built through
    * the bridge (the expression is internal to the optimizer's runtime-
    * filter rewrite and not registered as a SQL function). */
  private def mightContain(bloomBytes: Array[Byte], c: Column): Column =
    GraftSqlBridge.column(BloomFilterMightContain(
      GraftSqlBridge.expression(lit(bloomBytes)),
      GraftSqlBridge.expression(xxhash64(c))))

  /** Serialized Bloom sketch of `xxhash64(col)` over `df` — the native
    * [[BloomFilterAggregate]] sketch the optimizer itself builds for
    * runtime join filters, here aggregated explicitly. One job; the
    * result is MBs (1M items at default fpp ~= 1.2 MB) and re-enters the
    * probe plan as a foldable literal, exactly how Spark's own
    * InjectRuntimeFilter ships its subquery result into the scan. */
  private def bloomOf(df: DataFrame, c: Column, estItems: Long): Array[Byte] = {
    val agg = GraftSqlBridge.column(
      new BloomFilterAggregate(GraftSqlBridge.expression(xxhash64(c)), estItems)
        .toAggregateExpression())
    df.agg(agg.as("bf")).head.getAs[Array[Byte]](0)
  }

  /** The sqrt(N)-centroid assignment CTE prefix (v -> st -> cents ->
    * asg), shared by every oracle that replays the SemDeDup cluster
    * structure: qn20/qn20b's drop accounting, qn08b's cluster-bounded
    * near-pair mining, and qn08's high-dimension dispatch branch
    * (exposed WITHOUT the `WITH` keyword as [[semAsgCteList]] so callers
    * can append their own CTEs). */
  private[operators] lazy val semAsgCteList: String = semAsgCteListFrom("embeddings")

  /** The same CTE prefix over an arbitrary source relation `src(vec_id,
    * embedding)` — qn08c's planted-corpus oracle routes a derived corpus
    * through the identical machinery. */
  private[operators] def semAsgCteListFrom(src: String): String =
    s"""v AS (SELECT vec_id, embedding, ${sqlL2norm("embedding")} AS nrm FROM $src),
       |st AS (SELECT GREATEST(8, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS k,
       |              GREATEST(1, COUNT(*) // GREATEST(8, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT))) AS stride
       |       FROM v),
       |cents AS (SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn FROM v, st
       |          WHERE vec_id % stride = 0 AND vec_id < stride * k),
       |asg AS (SELECT vec_id, embedding, nrm, cent_id FROM (
       |          SELECT v.vec_id, v.embedding, v.nrm, c.cent_id,
       |                 ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |                   ORDER BY ${cosE6Sql("c.ce", "v.embedding", "c.cn", "v.nrm")} DESC,
       |                            c.cent_id) AS rn
       |          FROM v, cents c) WHERE rn = 1)""".stripMargin

  private lazy val semAsgCtes: String = "WITH " + semAsgCteList

  /** The SemDeDup drop-accounting tail over an `asg(vec_id, embedding,
    * nrm, cent_id)` CTE — shared by qn20/qn20b (exact assignment) and
    * qn20c (IVF assignment): the accounting contract is one SQL string
    * regardless of how the assignment was produced. */
  private lazy val semAccountingSql: String =
    s"""drp AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b
       |        ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
       |        WHERE ${cosE6Sql("a.embedding", "b.embedding", "a.nrm", "b.nrm")} >= $semThresholdE6)
       |SELECT asg.cent_id, COUNT(*) AS n_vecs,
       |       COUNT(drp.vec_id) AS n_dropped,
       |       COUNT(*) - COUNT(drp.vec_id) AS n_kept
       |FROM asg LEFT JOIN drp ON asg.vec_id = drp.vec_id
       |GROUP BY asg.cent_id ORDER BY cent_id""".stripMargin

  /** qn20's full oracle replay, shared verbatim by the batch plan
    * (qn20) and the streaming operator's batch-mode registration
    * (qn20b): one SQL definition means the two engines are held to the
    * IDENTICAL accounting, not two transcriptions of it. */
  private lazy val semDedupOracle: String =
    s"""$semAsgCtes,
       |$semAccountingSql""".stripMargin

  /** qn20c's assignment CTE prefix: the IVF (coarse-quantized) route to
    * the SAME `asg(vec_id, embedding, nrm, cent_id)` shape. Every stage
    * is deterministic integer/e6 arithmetic, so DuckDB replays the
    * approximation exactly: fine centroids cluster to the k2 coarse
    * seeds; each vector probes its [[ivfNProbe]] best coarse cells and
    * takes the best fine centroid WITHIN those cells (declared IVF miss
    * semantics — the exact argmax may live in an unprobed cell; engine
    * and oracle miss it identically). */
  private lazy val ivfAsgCteList: String = ivfAsgCteListProbe(ivfNProbe)

  /** The same IVF CTE prefix at an explicit probe count — qn20d's
    * sharded-streaming oracle replays the nProbe=1 form (an arrival
    * lives in exactly ONE coarse cell's state shard). */
  private[operators] def ivfAsgCteListProbe(nProbe: Int): String = {
    val vCos = cosE6Sql("cc.gce", "v.embedding", "cc.gcn", "v.nrm")
    val fCos = cosE6Sql("cc.gce", "fc.ce", "cc.gcn", "fc.cn")
    val aCos = cosE6Sql("c.ce", "vr.embedding", "c.cn", "vr.nrm")
    s"""v AS (SELECT vec_id, embedding, ${sqlL2norm("embedding")} AS nrm FROM embeddings),
       |st AS (SELECT GREATEST(8, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS k,
       |              GREATEST(1, COUNT(*) // GREATEST(8, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT))) AS stride
       |       FROM v),
       |fc AS (SELECT vec_id // stride AS cent_idx, embedding AS ce, nrm AS cn FROM v, st
       |       WHERE vec_id % stride = 0 AND vec_id < stride * k),
       |cst AS (SELECT GREATEST(4, CAST(CEIL(SQRT(k)) AS BIGINT)) AS k2,
       |               GREATEST(1, k // GREATEST(4, CAST(CEIL(SQRT(k)) AS BIGINT))) AS cstride
       |        FROM st),
       |cc AS (SELECT cent_idx // cstride AS coarse_id, ce AS gce, cn AS gcn FROM fc, cst
       |       WHERE cent_idx % cstride = 0 AND cent_idx < cstride * k2),
       |casg AS (SELECT cent_idx, ce, cn, coarse_id FROM (
       |         SELECT fc.cent_idx, fc.ce, fc.cn, cc.coarse_id,
       |                ROW_NUMBER() OVER (PARTITION BY fc.cent_idx
       |                  ORDER BY $fCos DESC, cc.coarse_id) AS rn
       |         FROM fc, cc) WHERE rn = 1),
       |vr AS (SELECT vec_id, embedding, nrm, coarse_id FROM (
       |       SELECT v.vec_id, v.embedding, v.nrm, cc.coarse_id,
       |              ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |                ORDER BY $vCos DESC, cc.coarse_id) AS rn
       |       FROM v, cc) WHERE rn <= $nProbe),
       |asg AS (SELECT vec_id, embedding, nrm, cent_id FROM (
       |        SELECT vr.vec_id, vr.embedding, vr.nrm, c.cent_idx * stride AS cent_id,
       |               ROW_NUMBER() OVER (PARTITION BY vr.vec_id
       |                 ORDER BY $aCos DESC, c.cent_idx) AS rn
       |        FROM vr JOIN casg c USING (coarse_id) CROSS JOIN st) WHERE rn = 1)""".stripMargin
  }

  /** Memoized one-row stats probe over the corpus embeddings: (row
    * count, max dimension). Drives every driver-side decision downstream
    * — the seed rule (stride, k), the pair-join side gate, and qn08's
    * grid-vs-cluster dimension dispatch. Keyed only by (session,
    * corpus). */
  private[operators] def embedStats(s: SparkSession, dir: String): (Long, Int) = {
    val v = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), l2normNative(col("embedding")).as("nrm"))
    val stats = Dedup.memoized("semstats", s, dir, 0, 0)(
      v.agg(count(lit(1)), max(size(col("embedding")))).localCheckpoint(true)).head
    (stats.getLong(0), if (stats.isNullAt(1)) 0 else stats.getInt(1))
  }

  /** The sqrt(N)-centroid assignment shared by qn20, qn08 and qn08b:
    * the stride seeds collected once and every vector assigned through
    * [[Similarity.assign]]. Returns the CHECKPOINTED (vec_id,
    * embedding, nrm, cent_id) frame plus the probed row count and max
    * dimension (the inputs every downstream byte gate needs). */
  private[graft] def semAssignment(s: SparkSession, dir: String): (DataFrame, Long, Int) = {
    val v = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), l2normNative(col("embedding")).as("nrm"))
    val (nV, dim) = embedStats(s, dir)
    (semAssignmentOver(s, v, nV, dir), nV, dim)
  }

  /** The assignment over an arbitrary (vec_id, embedding, nrm)
    * corpus — qn08c routes its planted-near-dup corpus through the
    * IDENTICAL machinery. `memoKey` keys the session memo: a derived
    * corpus must never answer queries posed over the raw one, so callers
    * pass a distinct key per corpus derivation.
    *
    * The seeds keep their own `vec_id` as `cent_id` (the stride lattice
    * point `cent_idx * stride`, the oracle's id) and collect to the
    * driver once — k ~ sqrt(N) rows, the IVF centroid table's class.
    * [[Similarity.assign]] scores every vector against them in one
    * native map over the scan with the oracle's rules (e6 cosine,
    * lowest cent_id on ties): no candidate rows, no shuffle. True
    * SemDeDup scale would swap brute force for ANN assignment (qn20c's
    * IVF tier). */
  private[graft] def semAssignmentOver(s: SparkSession, v: DataFrame, nV: Long,
      memoKey: String): DataFrame = {
    // The checkpointed assignment rides the session memo (the
    // qn17-pairs pattern): qn20, qn08b and any future consumer share
    // ONE assignment build per (session, corpus) — exactly what a
    // production pipeline does with its cluster assignment.
    val (stride, k) = centroidSeeds(nV)
    Dedup.memoized("semasg", s, memoKey, 0, 0) {
      val seeds = v.filter(col("vec_id") % stride === 0 && col("vec_id") < stride * k)
        .select(col("vec_id").as("cent_id"), col("embedding").as("ce"), col("nrm").as("cn"))
      // An empty corpus has no seeds to collect and nothing to assign.
      if (nV == 0) v.withColumn("cent_id", lit(null).cast("long"))
      else Similarity.assign(v, Similarity.centsOf(s, seeds)).localCheckpoint(true)
    }
  }

  /** The coarse table plus routing frames of the IVF assignment: collects
    * the k2 ~ N^(1/4) coarse seeds to the driver (the declared deployment
    * shape — one tier SMALLER than qn20b's k ~ sqrt(N) centroid collect;
    * 178 rows at N = 1e9) and turns routing into ONE map-side projection:
    * per row, k2 unrolled literal-centroid cosines, packed (-e6 score,
    * coarse_id) structs, `array_sort` + `slice` for the top-nProbe cells
    * — no join, no shuffle, inside whole-stage codegen. Returns
    * (cents(cent_idx, ce, cn, coarse_id), vr(vec_id, embedding, nrm,
    * coarse_id)): the fine-centroid side keyed by its coarse cell, and
    * the corpus exploded to its probed cells. */
  private def ivfRouting(s: SparkSession, v: DataFrame, stride: Long, k: Long,
      cstride: Long, k2: Long): (DataFrame, DataFrame) = {
    import s.implicits._
    val cc: Array[(Long, Array[Float], Double)] = v
      .filter(col("vec_id") % stride === 0 && col("vec_id") < stride * k)
      .select(expr(s"vec_id div ${stride}L").as("cent_idx"), col("embedding"), col("nrm"))
      .filter(col("cent_idx") % cstride === 0 && col("cent_idx") < cstride * k2)
      .select(expr(s"cent_idx div ${cstride}L").as("coarse_id"), col("embedding"), col("nrm"))
      .as[(Long, Array[Float], Double)].collect().sortBy(_._1)
    // Top-nProbe coarse cells by (e6 cosine DESC, coarse_id ASC): the
    // negated-score struct sort reproduces the oracle's ROW_NUMBER order
    // exactly (e6 scores are longs, so negation cannot lose ties).
    def routed(emb: Column, nrm: Column, nProbe: Int): Column = {
      val cells = cc.map { case (cid, ce, cn) =>
        struct((lit(0L) - e6(cosine(dotNative(typedlit(ce), emb), lit(cn), nrm))).as("ns"),
          lit(cid).as("cid"))
      }
      transform(slice(array_sort(array(cells.toIndexedSeq: _*)), 1, nProbe),
        c => c.getField("cid"))
    }
    val cents = v
      .filter(col("vec_id") % stride === 0 && col("vec_id") < stride * k)
      .select(expr(s"vec_id div ${stride}L").as("cent_idx"),
        col("embedding").as("ce"), col("nrm").as("cn"))
      .withColumn("coarse_id", element_at(routed(col("ce"), col("cn"), 1), 1))
      .localCheckpoint(true) // k rows; feeds the equi-join (and spec probes)
    val vr = v.select(col("vec_id"), col("embedding"), col("nrm"),
      explode(routed(col("embedding"), col("nrm"), ivfNProbe)).as("coarse_id"))
    (cents, vr)
  }

  /** qn20c's assignment tier: IVF (coarse-quantized) centroid assignment
    * — the scale path past [[semAssignment]]'s brute-force N*k scoring
    * (the documented O(N^1.5) ceiling at SemDeDup's k ~ sqrt(N)). Each
    * vector routes map-side to its [[ivfNProbe]] best of k2 ~ N^(1/4)
    * coarse cells, then scores ONLY the fine centroids quantized into
    * those cells — an equi-join on coarse_id, ~nProbe * k/k2 candidates
    * per vector, so total scoring work drops from N*k ~ N^1.5 to
    * ~N * sqrt(k) ~ N^1.25. Approximate BY DECLARATION (the exact argmax
    * centroid may live in an unprobed cell); the DuckDB oracle replays
    * the identical deterministic routing, and CurationSpec measures
    * agreement vs the exact tier. Same memo/checkpoint discipline as the
    * exact assignment. */
  private[graft] def semAssignmentIvf(s: SparkSession, dir: String): (DataFrame, Long, Int) = {
    val v = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), l2normNative(col("embedding")).as("nrm"))
    val (nV, dim) = embedStats(s, dir)
    if (nV == 0) return semAssignment(s, dir) // no seeds to collect; shapes agree
    val (stride, k) = centroidSeeds(nV)
    val (cstride, k2) = coarseSeeds(k)
    val asg = Dedup.memoized("semasgivf", s, dir, 0, 0) {
      val (cents, vr) = ivfRouting(s, v, stride, k, cstride, k2)
      // Fine scoring: equi-join on the probed cell — the fine-centroid
      // side is k rows of full vectors, byte-gated like qn20's pair side
      // (broadcast under the budget; shuffled-hash on coarse_id over it).
      val rowBytes = 48L + 8L * dim
      val scored = vr.join(Dedup.sizedWide(s, cents, k, rowBytes), "coarse_id")
        .select(col("vec_id"), col("cent_idx"),
          e6(cosine(dotNative(col("ce"), col("embedding")), col("cn"), col("nrm"))).as("cscore"))
      // argmax by (cscore desc, cent_id asc) over each vector's own
      // candidate subset, packed into ONE long so the aggregate stays a
      // codegen'd HashAggregate with map-side combine (max(struct(...))
      // plans as a SortAggregate over the whole candidate stream). With
      // the broadcast side each vector's candidates are co-located, so
      // it reduces to one row per vec_id before the exchange; with the
      // shuffled side, to at most nProbe rows. Layout: (cscore + 1e6) <
      // 2^21 in the high bits; the centroid index (< k <= 2^42) rides
      // the low 42 bits INVERTED, so score ties break to the lowest
      // cent_id — the oracle's (cscore DESC, cent_id ASC) rank order.
      val IdxBits = 42
      val mask = (1L << IdxBits) - 1
      val best = scored
        .groupBy("vec_id")
        .agg(max(shiftleft(col("cscore") + 1000000L, IdxBits) +
          (lit(mask) - col("cent_idx"))).as("b"))
        .select(col("vec_id"),
          ((lit(mask) - col("b").bitwiseAND(mask)) * stride).as("cent_id"))
      v.join(Dedup.sized(s, best, nV), "vec_id")
        .select(col("vec_id"), col("embedding"), col("nrm"), col("cent_id"))
        .localCheckpoint(true)
    }
    (asg, nV, dim)
  }

  /** Candidate volume of the IVF route (spec/battery probe): how many
    * (vector, fine-centroid) pairs qn20c actually scores vs the N*k the
    * brute-force tier pays. Recomputes the routing keys — product code
    * never calls this. Returns (ivf candidates, brute-force N*k). */
  private[graft] def ivfCandidateVolume(s: SparkSession, dir: String): (Long, Long) = {
    val v = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), l2normNative(col("embedding")).as("nrm"))
    val (nV, _) = embedStats(s, dir)
    val (stride, k) = centroidSeeds(nV)
    val (cstride, k2) = coarseSeeds(k)
    val (cents, vr) = ivfRouting(s, v, stride, k, cstride, k2)
    val cellSizes = cents.groupBy("coarse_id").agg(count(lit(1)).as("cs"))
    val cand = vr.select("vec_id", "coarse_id").join(cellSizes, "coarse_id")
      .agg(sum(col("cs"))).head.getLong(0)
    (cand, nV * k)
  }

  /** qn20's within-cluster drop accounting over an assignment frame —
    * the body shared by qn20 (exact assignment) and qn20c (IVF): within
    * each cluster drop every vector with an earlier (lower vec_id)
    * cluster-mate at cosine >= the threshold, then emit per-cluster
    * keep/drop counts. Join-side strategy is measured-size, byte-aware
    * (the side carries full vectors). */
  private def semDedupAccounting(s: SparkSession, asg: DataFrame, nV: Long, dim: Int): DataFrame = {
    val right = Dedup.sizedWide(s, asg.select(col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("nrm").as("nb"), col("cent_id")), nV, 48L + 8L * dim)
    val drp = asg.select(col("vec_id").as("vec_a"),
        col("embedding").as("ea"), col("nrm").as("na"), col("cent_id"))
      .join(right, "cent_id")
      .filter(col("vec_a") < col("vec_b") &&
        e6(cosine(dotNative(col("ea"), col("eb")), col("na"), col("nb"))) >= semThresholdE6)
      .select(col("vec_b").as("vec_id")).distinct()
      .withColumn("dropped", lit(true))
    asg.join(drp, Seq("vec_id"), "left")
      .groupBy("cent_id")
      .agg(count(lit(1)).as("n_vecs"),
        count(col("dropped")).as("n_dropped"),
        (count(lit(1)) - count(col("dropped"))).as("n_kept"))
      .orderBy("cent_id")
  }

  /** Cluster-bounded cosine near-pair mining at the 0.99 e6 threshold —
    * qn08b's body, and the dispatch target Similarity routes qn08 to on
    * high-dimension corpora (where the lossless angular grid is measured
    * to degenerate toward all-pairs). Reuses the memoized sqrt(N)
    * assignment; pairs are emitted only WITHIN a cluster (declared
    * SemDeDup miss semantics) and verified with exact e6 cosine. */
  private[operators] def clusterNearPairs(s: SparkSession, dir: String): DataFrame = {
    val (asg, nV, dim) = semAssignment(s, dir)
    clusterPairsOf(s, asg, nV, dim)
  }

  /** The within-cluster pair join over any `asg(vec_id, embedding, nrm,
    * cent_id)` frame — shared by qn08/qn08b (raw corpus) and qn08c
    * (planted corpus). */
  private[operators] def clusterPairsOf(s: SparkSession, asg: DataFrame,
      nV: Long, dim: Int): DataFrame = {
    val right = Dedup.sizedWide(s, asg.select(col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("nrm").as("nb"), col("cent_id")), nV, 48L + 8L * dim)
    asg.select(col("vec_id").as("vec_a"),
        col("embedding").as("ea"), col("nrm").as("na"), col("cent_id"))
      .join(right, "cent_id")
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        e6(cosine(dotNative(col("ea"), col("eb")), col("na"), col("nb"))).as("score_e6"))
      .filter(col("score_e6") >= 990000)
      .orderBy("vec_a", "vec_b")
  }

  val all: Seq[Q] = Seq(

    // Semantic dedup (SemDeDup-shaped): cluster embeddings to stride-
    // seeded centroids by max cosine, then within each cluster drop every
    // vector that has an earlier (lower vec_id) cluster-mate with cosine
    // >= the threshold. Emits per-cluster keep/drop accounting. The
    // oracle replays the identical deterministic pipeline: e6-integer
    // assignment scores with cent_id tie-breaks, integer threshold.
    // The centroid count is DERIVED from the measured corpus size,
    // k = max(8, ceil(sqrt(n))) — SemDeDup's regime, keeping the
    // within-cluster pair work ~n per cluster-member instead of
    // (n/k_fixed)^2: 100x the corpus means 10x the clusters, so the
    // per-cluster candidate count stays ~sqrt-bounded. IEEE sqrt is
    // correctly rounded, so both engines compute the identical k.
    Q("qn20_semantic_dedup", semDedupOracle) { (s, dir) =>
      // Within-cluster pairs: equi-join on cent_id, measured-size side
      // strategy (broadcast under the caps, shuffled-hash on cent_id over
      // them — the checkpointed frame's default stats would force SMJ).
      // The side carries full vectors, so the gate is BYTE-aware, not
      // just row-counted: rows x (8 B/dim + row overhead) must also fit
      // the broadcast budget ("keys travel, payloads rejoin" does not
      // apply here — the payload IS the join's verify input, so over the
      // budget the vectors ride one cent_id exchange instead).
      val (asg, nV, dim) = semAssignment(s, dir)
      semDedupAccounting(s, asg, nV, dim)
    },

    // SemDeDup with the IVF assignment tier — the 100 TB regime of qn20,
    // where k ~ sqrt(N) makes brute-force assignment O(N^1.5): vectors
    // route map-side through k2 ~ N^(1/4) coarse cells (driver-collected
    // literal table, one projection, no shuffle) and score only the fine
    // centroids quantized into their ivfNProbe probed cells — an
    // equi-join on coarse_id, total work ~N * sqrt(k). The assignment is
    // approximate BY DECLARATION (a vector whose exact argmax centroid
    // sits in an unprobed coarse cell lands on its best probed-cell
    // centroid instead); the oracle replays the identical deterministic
    // routing — same seeds, same e6 scores, same tie-breaks — so engine
    // and oracle take the identical approximation, and CurationSpec
    // quantifies agreement vs the exact tier rather than hiding it.
    Q("qn20c_semantic_dedup_ivf",
      s"""WITH $ivfAsgCteList,
         |$semAccountingSql""".stripMargin) { (s, dir) =>
      val (asg, nV, dim) = semAssignmentIvf(s, dir)
      semDedupAccounting(s, asg, nV, dim)
    },

    // The STREAMING semantic-dedup operator, oracle-gated: the same
    // flatMapGroupsWithState pipeline that runs unbounded in
    // [[graft.streaming.StreamSemantic]] executes here over the bounded
    // corpus (qs01's registration pattern — Spark runs stateful
    // streaming operators identically over batch input), with arrival
    // order = vec_id, and must reproduce qn20's accounting against the
    // SHARED oracle SQL verbatim. This turns the streaming/batch parity
    // contract from a spec-only claim into a per-round CORRECTNESS row.
    // The k ~ sqrt(N) centroid collect is the operator's declared
    // deployment shape (the table then rides a broadcast variable —
    // assignment is map-side; the only shuffle is the groupByKey on
    // cent_id into the state store), so the driver footprint is
    // O(sqrt N), not O(N), and executors receive the table once each.
    Q("qn20b_semantic_dedup_stream", semDedupOracle) { (s, dir) =>
      import s.implicits._
      val v = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val (stride, k) = centroidSeeds(v.count())
      val cents = v
        .filter(col("vec_id") % stride === 0 && col("vec_id") < stride * k)
        .as[(Long, Array[Float])].collect().sortBy(_._1)
        .map { case (id, e) => (id, e) }.toIndexedSeq
      val vin = v.as[(Long, Array[Float])]
        .map { case (id, e) => StreamSemantic.VecIn(id, e, id) }
      StreamSemantic.semanticDedupBatch(vin, cents, semThresholdE6)
        .groupBy(col("cent_id").cast("long").as("cent_id"))
        .agg(count(lit(1)).as("n_vecs"),
          count(when(!col("kept"), lit(1))).as("n_dropped"),
          count(when(col("kept"), lit(1))).as("n_kept"))
        .orderBy("cent_id")
    },

    // The EXECUTOR-SHARDED streaming semantic dedup, oracle-gated — the
    // unbounded deployment shape qn20b's scaladoc could only describe:
    // no process (driver included) ever holds the k ~ sqrt(N) fine
    // centroids. Only the k2 ~ N^(1/4) COARSE seeds collect (the qn20c
    // bound); the fine-centroid table stays a distributed dataset whose
    // rows ride the same shuffle as the data as marker rows, each coarse
    // cell's state ingesting only its own shard. Arrivals route to their
    // top-1 coarse cell — the oracle is the IVF CTE prefix at nProbe=1
    // (a DECLARED stronger approximation than qn20c's 3-probe form: an
    // arrival lives in exactly one shard), with the accounting tail
    // shared verbatim with qn20/qn20b/qn20c.
    Q("qn20d_semantic_dedup_sharded",
      s"""WITH ${ivfAsgCteListProbe(1)},
         |$semAccountingSql""".stripMargin) { (s, dir) =>
      import s.implicits._
      val v = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val (stride, k) = centroidSeeds(v.count())
      // Fine centroids: a DISTRIBUTED frame — the whole point. Never
      // collected, never broadcast.
      val fine = v
        .filter(col("vec_id") % stride === 0 && col("vec_id") < stride * k)
        .as[(Long, Array[Float])]
      // Coarse seeds: cent_idx % cstride == 0, id = cent_idx / cstride
      // (the oracle's cc CTE) — k2 rows to the driver, declared bound.
      val (cstride, k2) = coarseSeeds(k)
      val coarse = fine
        .filter(r => (r._1 / stride) % cstride == 0 && (r._1 / stride) < cstride * k2)
        .collect().map { case (cid, ce) => (cid / stride / cstride, ce) }
        .sortBy(_._1).toIndexedSeq
      val vin = v.as[(Long, Array[Float])]
        .map { case (id, e) => StreamSemantic.VecIn(id, e, id) }
      StreamSemantic.semanticDedupSharded(vin, fine, coarse, semThresholdE6)
        .groupBy(col("cent_id"))
        .agg(count(lit(1)).as("n_vecs"),
          count(when(!col("kept"), lit(1))).as("n_dropped"),
          count(when(col("kept"), lit(1))).as("n_kept"))
        .orderBy("cent_id")
    },

    // Cluster-bounded cosine near-pair mining — the HIGH-DIMENSION form
    // of qn08. The round-6 250x battery measured qn08's exact angular
    // grid collapsing at 32 dims (normalized coordinates concentrate
    // ~1/sqrt(dim), so the grid degenerates toward all-pairs); this is
    // the scale path for that regime: reuse the sqrt(N)-centroid
    // assignment, emit pairs only WITHIN a cluster (declared SemDeDup
    // semantics — cross-cluster pairs are missed by design, the same
    // contract qn20's drop set lives with), verify with exact e6
    // cosine. Work is bounded per cluster (~sqrt N members), never a
    // corpus cross join; every stage is the oracle-replayed machinery
    // qn20 already pins.
    Q("qn08b_cluster_near_pairs",
      s"""$semAsgCtes
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |       ${cosE6Sql("a.embedding", "b.embedding", "a.nrm", "b.nrm")} AS score_e6
         |FROM asg a JOIN asg b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
         |WHERE ${cosE6Sql("a.embedding", "b.embedding", "a.nrm", "b.nrm")} >= 990000
         |ORDER BY vec_a, vec_b""".stripMargin) { (s, dir) =>
      clusterNearPairs(s, dir)
    },

    // Sketch-gated benchmark decontamination: same contamination relation
    // as qn11 (shared 5-grams with the held-out split), but the corpus
    // side is prefiltered by a Bloom sketch of the benchmark grams BEFORE
    // the exact verify join — the 100 TB shape, where the corpus never
    // shuffles and survivors of the (MB-sized) sketch are the only rows
    // that reach the join. Results are sketch-independent: the exact join
    // re-verifies every sketch survivor, so false positives cost work,
    // never correctness. Emits the contamination decision per document.
    Q("qn21_bloom_decontamination", {
      val toks = sqlTokens("text")
      val sh = sqlKgrams5(toks)
      s"""WITH g AS (SELECT doc_id, len($sh) AS n_grams, unnest($sh) AS gram
         |           FROM documents WHERE len($toks) >= 5),
         |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
         |hits AS (SELECT g.doc_id, MAX(g.n_grams) AS n_grams, COUNT(*) AS n_shared
         |         FROM g JOIN bench USING (gram)
         |         WHERE g.doc_id % 97 <> 0
         |         GROUP BY g.doc_id)
         |SELECT doc_id, n_shared, n_grams,
         |       ${sqlE6("CAST(n_shared AS DOUBLE) / n_grams")} AS contam_e6,
         |       CASE WHEN 10 * n_shared >= n_grams THEN 1 ELSE 0 END AS flagged
         |FROM hits ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      // Materialization barrier at the TOKENIZED frame (5k rows of token
      // arrays), not the exploded gram frame (3M string rows): the three
      // consumers (bloom build, bench join side, corpus probe side) each
      // re-expand grams from the cached arrays, which keeps the
      // InferFiltersFromGenerate filter clones operating on an attribute
      // instead of re-inlining the tokenizer per lambda iteration
      // (quadratic per document — measured 16 s/pass), while the barrier
      // itself materializes in <1 s (vs 14 s for the exploded frame).
      val tk = Tables.documents(s, dir)
        .filter(size(tokens(col("text"))) >= 5)
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .localCheckpoint(true)
      val g = tk
        .select(col("doc_id"), kgrams5(col("tk")).as("grams"))
        .select(col("doc_id"), size(col("grams")).as("n_grams"),
          explode(col("grams")).as("gram"))
      val bench = g.filter(col("doc_id") % 97 === 0).select("gram").distinct()
      val bloom = bloomOf(bench, col("gram"), 1000000L)
      g.filter(col("doc_id") % 97 =!= 0)
        // Map-side sketch gate: definite non-members die in the scan
        // stage, so the exact join's probe side is ~(true hits + fpp).
        .filter(mightContain(bloom, col("gram")))
        // Exact verify: benchmarks are small by assumption (MBs), so the
        // distinct gram set broadcasts — same shape as qn11.
        .join(broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(max(col("n_grams")).as("n_grams"), count(lit(1)).as("n_shared"))
        .select(col("doc_id"), col("n_shared"), col("n_grams"),
          e6(col("n_shared").cast("double") / col("n_grams")).as("contam_e6"),
          when(col("n_shared") * 10 >= col("n_grams"), 1L).otherwise(0L).as("flagged"))
        .orderBy("doc_id")
    },

    // Deterministic epoch shuffle: the training-order permutation. Docs
    // order by a multiplicative hash (no RNG — re-runs and failure
    // recovery see the identical order) and take a global position and a
    // fixed-size micro-batch id. The Spark plan is the distributed-rank
    // pattern: range-partition on the hash, row_number per partition,
    // per-partition offsets from one O(#partitions) count pass — no
    // global window anywhere (the oracle's ROW_NUMBER OVER (ORDER BY) is
    // exactly what a naive plan would do and what this avoids).
    Q("qn22_epoch_shuffle",
      """WITH h AS (SELECT doc_id, (doc_id * 2654435761) % 1000003 AS hsh
        |           FROM documents),
        |r AS (SELECT doc_id, hsh,
        |             ROW_NUMBER() OVER (ORDER BY hsh, doc_id) AS epoch_pos FROM h)
        |SELECT doc_id, hsh, epoch_pos, (epoch_pos - 1) // 32 AS batch
        |FROM r ORDER BY epoch_pos""".stripMargin) { (s, dir) =>
      val hashed = Tables.documents(s, dir)
        .select(col("doc_id"), ((col("doc_id") * lit(2654435761L)) % 1000003L).as("hsh"))
      val (ranked, _) = Dedup.globalRanks(hashed, col("hsh"), col("doc_id"))
      ranked
        .select(col("doc_id"), col("hsh"), col("gpos").as("epoch_pos"))
        .withColumn("batch", expr("(epoch_pos - 1) div 32"))
        .orderBy("epoch_pos")
    },

    // Exact substring-span dedup (the "repeated long substring" modality
    // of training-data dedup): for every document pair sharing at least
    // one word 8-gram AT ALIGNED POSITIONS, report how many positions
    // match and the longest shared token run. Positional 8-grams
    // equi-join on the gram; runs come from the classic diagonal
    // gaps-and-islands: matches on one diagonal (pa - pb) with
    // consecutive pa form one shared substring, so grouping by
    // (pair, diagonal, pa - row_number) counts each run's length.
    // Every shuffle is keyed (gram join, island groupBy) — no cross
    // join. Frequent-gram skew is capped: grams whose DOCUMENT frequency
    // exceeds [[gramDfCap]] (boilerplate headers, license blurbs) are
    // dropped before the self-join — a gram in f documents emits ~f^2
    // candidate rows on ONE join key, so without the cap a single
    // boilerplate gram is both the skew hot-spot and a quadratic pair
    // emitter. Recall-changing but standard (same escape hatch as the
    // LSH bucket cap); the oracle applies the identical predicate.
    Q("qn23_substring_spans", {
      val toks = sqlTokens("text")
      val parts = (0 until 8).map(o => s"tk[i + $o]").mkString(", ")
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents WHERE len($toks) >= 8),
         |g AS (SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
         |      SELECT doc_id, unnest([{'pos': i, 'gram': concat_ws(' ', $parts)}
         |                             for i in range(1, len(tk) - 6)]) AS u FROM t)),
         |hot AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) > $gramDfCap),
         |gf AS (SELECT * FROM g WHERE gram NOT IN (SELECT gram FROM hot)),
         |m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
         |      FROM gf a JOIN gf b ON a.gram = b.gram AND a.doc_id < b.doc_id),
         |i AS (SELECT doc_a, doc_b, pa,
         |             pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
         |                                     ORDER BY pa) AS grp,
         |             pa - pb AS diag
         |      FROM m),
         |r AS (SELECT doc_a, doc_b, COUNT(*) AS run_grams
         |      FROM i GROUP BY doc_a, doc_b, diag, grp)
         |SELECT doc_a, doc_b,
         |       CAST(SUM(run_grams) AS BIGINT) AS n_matches,
         |       MAX(run_grams) + 7 AS longest_run_tokens
         |FROM r GROUP BY doc_a, doc_b
         |ORDER BY doc_a, doc_b""".stripMargin
    }) { (s, dir) =>
      // Same barrier discipline as qn21: pin the token arrays, derive the
      // positional grams per consumer. Docs under 8 tokens are filtered
      // BEFORE the gram expansion: they contribute no grams, and
      // sequence(1, size - 7) on them would descend (Spark defaults to
      // step -1 when start > stop) into element_at(tk, 0), which throws.
      val tk = Tables.documents(s, dir)
        .filter(size(tokens(col("text"))) >= 8)
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .localCheckpoint(true)
      val gramAt = transform(sequence(lit(1), size(col("tk")) - 7),
        i => concat_ws(" ", (0 until 8).map(o => element_at(col("tk"), i + o)): _*))
      val g = tk.select(col("doc_id"), posexplode(gramAt).as(Seq("p0", "gram")))
        .select(col("doc_id"), (col("p0") + 1).as("pos"), col("gram"))
      // Frequent-gram cap: ONE aggregation shuffle of the gram frame
      // (countDistinct keyed on gram) builds the hot set; the hot set is
      // at most |gram rows| / cap grams (each needs > cap distinct docs),
      // so the anti-join PROBE then broadcasts it (AQE, at runtime) and
      // the corpus side pays no second shuffle for the filter itself.
      val hot = g.groupBy("gram").agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") > gramDfCap).select("gram")
      // Pinned: the capped frame feeds the size probe and BOTH self-join
      // sides — without the barrier the gram explode and the hot-set
      // shuffle re-execute per consumer (measured 2.5x wall on qn23).
      val gf = g.join(hot, Seq("gram"), "left_anti").localCheckpoint(true)
      val nGrams = gf.count() // size probe for the join-strategy choice
      val m = gf.select(col("doc_id").as("doc_a"), col("pos").as("pa"), col("gram"))
        // ~96 B/row: gram rows carry the 3-token shingle string — byte-
        // budgeted so a near-cap gram table can't broadcast ~0.8 GB.
        .join(Dedup.sizedWide(s, gf.select(col("doc_id").as("doc_b"),
          col("pos").as("pb"), col("gram")), nGrams, 96L), "gram")
        .filter(col("doc_a") < col("doc_b"))
      val wDiag = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
        .orderBy(col("pa"))
      m.select(col("doc_a"), col("doc_b"), col("pa"), (col("pa") - col("pb")).as("diag"))
        .withColumn("grp", col("pa") - row_number().over(wDiag))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(count(lit(1)).as("run_grams"))
        .groupBy("doc_a", "doc_b")
        .agg(sum(col("run_grams")).as("n_matches"),
          (max(col("run_grams")) + 7).as("longest_run_tokens"))
        .orderBy("doc_a", "doc_b")
    },

    // Canonical selection: for every near-dup cluster (connected
    // components over the simhash pair graph, shared with qn17), keep the
    // LONGEST member (chars desc, doc_id tie) — the curation rule that
    // prefers the most complete copy, vs qn02's keep-lowest-id. Reuses
    // the memoized pair machinery; the per-cluster argmax is the
    // declarative row_number form the TopKRewriteRule plans as
    // TopKPerGroup.
    Q("qp02_canonical_selection",
      s"""WITH RECURSIVE
         |${Dedup.sqlComponentsCte},
         |comp AS (SELECT node AS doc_id, MIN(lab) AS comp FROM walk GROUP BY node),
         |m AS (SELECT comp, COUNT(*) AS n_members FROM comp GROUP BY comp),
         |c AS (SELECT comp.comp, comp.doc_id, d.n_chars,
         |             ROW_NUMBER() OVER (PARTITION BY comp.comp
         |               ORDER BY d.n_chars DESC, comp.doc_id) AS rn
         |      FROM comp JOIN documents d USING (doc_id))
         |SELECT c.comp, m.n_members, c.doc_id AS canonical_doc,
         |       c.n_chars AS canonical_chars
         |FROM c JOIN m USING (comp)
         |WHERE rn = 1 AND m.n_members > 1
         |ORDER BY comp""".stripMargin) { (s, dir) =>
      val comp = Dedup.componentLabels(s, dir)
      val sizes = comp.groupBy("comp").agg(count(lit(1)).as("n_members"))
      val w = Window.partitionBy(col("comp"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      comp.join(Tables.documents(s, dir).select("doc_id", "n_chars"), "doc_id")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .join(sizes, "comp")
        .filter(col("n_members") > 1)
        .select(col("comp"), col("n_members"), col("doc_id").as("canonical_doc"),
          col("n_chars").as("canonical_chars"))
        .orderBy("comp")
    },

    // Curriculum ordering — the trainer-facing ordering between qn22's
    // uniform shuffle and a raw sort: documents are served short-to-long
    // (the classic length curriculum; any integer difficulty signal
    // slots into `band`), deterministically shuffled WITHIN each band by
    // the same Knuth coin as qn22, then cut into fixed-size batches.
    // The global position comes from the distributed-rank pattern
    // (range partition on (band, hsh) + per-partition row_number +
    // O(#partitions) offsets) — no unpartitioned window anywhere.
    Q("qp05_curriculum",
      """WITH h AS (SELECT doc_id, LEAST(2, n_chars // 200) AS band,
        |                  (doc_id * 2654435761) % 1000003 AS hsh
        |           FROM documents),
        |r AS (SELECT doc_id, band, hsh,
        |             ROW_NUMBER() OVER (ORDER BY band, hsh, doc_id) AS pos FROM h)
        |SELECT doc_id, band, pos, (pos - 1) // 32 AS batch
        |FROM r ORDER BY pos""".stripMargin) { (s, dir) =>
      val hashed = Tables.documents(s, dir)
        .select(col("doc_id"),
          least(lit(2L), expr("n_chars div 200")).as("band"),
          ((col("doc_id") * lit(2654435761L)) % 1000003L).as("hsh"))
      val (ranked, _) = Dedup.globalRanks(hashed, col("band"), col("hsh"), col("doc_id"))
      ranked
        .select(col("doc_id"), col("band"), col("gpos").as("pos"))
        .withColumn("batch", expr("(pos - 1) div 32"))
        .orderBy("pos")
    },

    // Dedup audit report — the cluster-size histogram a pipeline owner
    // reads before trusting a threshold: how many near-dup clusters of
    // each size exist, how many documents they hold, and how many are
    // redundant copies (cluster size minus its one canonical survivor).
    // Reuses qn17's memoized component labels; two count aggregations on
    // top, so the audit costs nothing beyond the components themselves.
    Q("qp04_dedup_audit",
      s"""WITH RECURSIVE
         |${Dedup.sqlComponentsCte},
         |comp AS (SELECT node AS doc_id, MIN(lab) AS comp FROM walk GROUP BY node),
         |sz AS (SELECT comp, COUNT(*) AS csize FROM comp GROUP BY comp)
         |SELECT csize, COUNT(*) AS n_clusters,
         |       CAST(csize * COUNT(*) AS BIGINT) AS n_docs,
         |       CAST((csize - 1) * COUNT(*) AS BIGINT) AS n_redundant
         |FROM sz GROUP BY csize ORDER BY csize""".stripMargin) { (s, dir) =>
      Dedup.componentLabels(s, dir)
        .groupBy("comp").agg(count(lit(1)).as("csize"))
        .groupBy("csize").agg(count(lit(1)).as("n_clusters"))
        .select(col("csize"), col("n_clusters"),
          (col("csize") * col("n_clusters")).as("n_docs"),
          ((col("csize") - 1) * col("n_clusters")).as("n_redundant"))
        .orderBy("csize")
    },

    // One-pass data-validation gate (Deequ-style): every expectation a
    // training pipeline checks before trusting an ingest — key
    // uniqueness, domain membership, derived-column consistency, null/
    // empty and minimum-quality rules — evaluated in ONE corpus scan.
    // Each constraint is a conditional sum inside a single aggregate
    // (the distinct-count for uniqueness rides the same pass via
    // Expand); the per-constraint report rows then unpivot from the
    // 1-row aggregate with stack(), so adding a constraint adds a
    // column to the agg, never a scan. At 100 TB that is the difference
    // between a validation suite that costs one pass and one that costs
    // one pass PER RULE. The rule expressions come from the shared
    // [[validationRules]] so this pass and the observed-metrics form
    // cannot drift; the oracle SQL is hand-written — that is the
    // independent check.
    Q("qp07_quality_constraints",
      """WITH m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT) AS dup_id,
        |         CAST(SUM(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END) AS BIGINT) AS empty_text,
        |         CAST(SUM(CASE WHEN lang NOT IN ('de','en','es','fr','zh') THEN 1 ELSE 0 END) AS BIGINT) AS bad_lang,
        |         CAST(SUM(CASE WHEN n_chars <> LENGTH(text) THEN 1 ELSE 0 END) AS BIGINT) AS len_mismatch,
        |         CAST(SUM(CASE WHEN LENGTH(text) < 50 THEN 1 ELSE 0 END) AS BIGINT) AS short_text
        |  FROM documents)
        |SELECT 'doc_id_unique' AS check_name, dup_id AS n_violations, n AS n_checked, dup_id = 0 AS ok FROM m
        |UNION ALL SELECT 'lang_in_set', bad_lang, n, bad_lang = 0 FROM m
        |UNION ALL SELECT 'n_chars_consistent', len_mismatch, n, len_mismatch = 0 FROM m
        |UNION ALL SELECT 'text_min_50_chars', short_text, n, short_text = 0 FROM m
        |UNION ALL SELECT 'text_nonempty', empty_text, n, empty_text = 0 FROM m
        |ORDER BY check_name""".stripMargin) { (s, dir) =>
      val aggs = (count(lit(1)) - countDistinct(col("doc_id"))).as("dup_id") +:
        validationRules.map { case (metric, _, cond) => violations(cond).as(metric) }
      val m = Tables.documents(s, dir).agg(count(lit(1)).as("n"), aggs: _*)
      val pairs = ("doc_id_unique", "dup_id") +:
        validationRules.map { case (metric, check, _) => (check, metric) }
      val stackArgs = pairs.map { case (check, metric) => s"'$check', $metric" }
      m.select(
        expr(s"stack(${pairs.size}, ${stackArgs.mkString(", ")}) AS (check_name, n_violations)"),
        col("n").as("n_checked"))
        .withColumn("ok", col("n_violations") === 0L)
        .orderBy("check_name")
    },

    // Corpus content fingerprint — the dataset-versioning primitive a
    // 100 TB pipeline signs its snapshots with: an ORDER-INDEPENDENT,
    // ADDITIVE content hash per language partition. Each row digests to
    // 60 bits of the sha-256 of its BYTE-LENGTH-PREFIXED field encoding
    // (`len:value` per field, NULL as a marker, '|'-joined — a shifted
    // field boundary or a null/value swap cannot collide, because the
    // prefix pins where every field ends), and the partition fingerprint
    // is the digest SUM mod 2^61-1. Sum, not hash-of-sorted-concat:
    // commutativity makes the fingerprint independent of file layout,
    // partition count, and scan order — compaction and repartitioning
    // provably preserve it — and additivity makes maintenance
    // O(new data): fp(A ∪ B) = (fp(A) + fp(B)) mod p, so an ingest
    // batch updates a snapshot signature without rescanning the corpus
    // (pinned in CurationSpec). Plan shape: one map-side digest
    // projection + one partially aggregated hash agg on a tiny key
    // (lang) — a single 1-row-per-lang shuffle, nothing else. Digests
    // sum as DECIMAL(38,0) (DuckDB: HUGEINT) so no intermediate
    // overflow at any corpus size.
    Q("qp06_corpus_fingerprint",
      s"""SELECT lang, COUNT(*) AS n_docs,
         |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |       $fpDigestSumSql AS fp
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      corpusFingerprint(Tables.documents(s, dir))
    },

    // The ENFORCEMENT form of qp07: which documents fail which rules.
    // One projection computes a deterministic comma-joined reasons
    // string (rule order = declaration order; concat_ws skips the
    // non-violated NULLs identically in both engines), and only
    // violating docs surface. The production split writes BOTH
    // populations in ONE pass — [[writeQuarantined]] partitions the
    // output by the quarantined flag, so the lake write and the
    // quarantine sink are two directories of the same single-scan job,
    // not two scans (pinned in CurationSpec).
    Q("qp09_quarantine_report",
      """SELECT doc_id, concat_ws(',',
        |  CASE WHEN text IS NULL OR text = '' THEN 'text_nonempty' END,
        |  CASE WHEN lang NOT IN ('de','en','es','fr','zh') THEN 'lang_in_set' END,
        |  CASE WHEN n_chars <> LENGTH(text) THEN 'n_chars_consistent' END,
        |  CASE WHEN LENGTH(text) < 50 THEN 'text_min_50_chars' END) AS reasons
        |FROM documents
        |WHERE (text IS NULL OR text = '') OR lang NOT IN ('de','en','es','fr','zh')
        |   OR n_chars <> LENGTH(text) OR LENGTH(text) < 50
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("reasons", reasonsCol)
        .filter(col("reasons") =!= "")
        .select("doc_id", "reasons")
        .orderBy("doc_id")
    },

    // The additive property AS an oracle-gated query — the snapshot
    // MAINTENANCE contract: an old snapshot's stored fingerprint plus
    // the ingest batch's fingerprint must equal the full corpus
    // fingerprint, per lang, with modular addition only. Here all three
    // frames derive from one table (old = doc_id % 3 != 0, batch = the
    // rest) so DuckDB can replay every column; in production fp_old is
    // a STORED value and only the batch is scanned — the update is
    // O(new data), and `consistent` is the audit bit a pipeline owner
    // checks before trusting an incrementally-maintained signature.
    Q("qp08_snapshot_fingerprint_update",
      s"""WITH f_old AS (SELECT lang, $fpDigestSumSql AS fp
         |              FROM documents WHERE doc_id % 3 <> 0 GROUP BY lang),
         |f_batch AS (SELECT lang, $fpDigestSumSql AS fp
         |            FROM documents WHERE doc_id % 3 = 0 GROUP BY lang),
         |f_full AS (SELECT lang, $fpDigestSumSql AS fp
         |           FROM documents GROUP BY lang)
         |SELECT f.lang, COALESCE(o.fp, 0) AS fp_old, COALESCE(b.fp, 0) AS fp_batch,
         |       CAST((COALESCE(o.fp, 0) + COALESCE(b.fp, 0)) % 2305843009213693951 AS BIGINT) AS fp_updated,
         |       f.fp AS fp_full,
         |       CAST((COALESCE(o.fp, 0) + COALESCE(b.fp, 0)) % 2305843009213693951 AS BIGINT) = f.fp AS consistent
         |FROM f_full f
         |LEFT JOIN f_old o ON f.lang = o.lang
         |LEFT JOIN f_batch b ON f.lang = b.lang
         |ORDER BY f.lang""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      def fpOf(d: DataFrame, as: String) =
        corpusFingerprint(d).select(col("lang"), col("fp").as(as))
      fpOf(docs, "fp_full")
        .join(fpOf(docs.filter(col("doc_id") % 3 =!= 0), "fp_o"), Seq("lang"), "left")
        .join(fpOf(docs.filter(col("doc_id") % 3 === 0), "fp_b"), Seq("lang"), "left")
        .select(col("lang"),
          coalesce(col("fp_o"), lit(0L)).as("fp_old"),
          coalesce(col("fp_b"), lit(0L)).as("fp_batch"),
          ((coalesce(col("fp_o"), lit(0L)) + coalesce(col("fp_b"), lit(0L))) % lit(fpModulus))
            .as("fp_updated"),
          col("fp_full"))
        .withColumn("consistent", col("fp_updated") === col("fp_full"))
        .orderBy("lang")
    },

    // Snapshot DRIFT report — the question qp08's additive audit cannot
    // answer: which partitions changed between two corpus VERSIONS when
    // the change is arbitrary (edits, deletions), not an append. Edits
    // are not additive, so the answer is a per-partition fingerprint
    // COMPARE: fingerprint both versions (one single-scan aggregate
    // each), full-outer join on the partition key, and a lang drifts iff
    // its fp or count differs (null-safe — a lang present in only one
    // version drifts by definition). This is the incremental-pipeline
    // gate: only drifted partitions re-validate / re-dedup / re-shard.
    // The "new version" derives deterministically from the same table
    // (docs at doc_id%97=0 edited, doc_id%101=0 deleted) so DuckDB can
    // replay every byte; in production the old side is the STORED
    // per-partition fingerprint table — an O(partitions) read, with only
    // the new version scanned.
    Q("qp10_snapshot_drift",
      s"""WITH v_new AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 97 = 0 THEN text || ' v2' ELSE text END AS text,
         |         lang, source,
         |         CASE WHEN doc_id % 97 = 0 THEN n_chars + 3 ELSE n_chars END AS n_chars
         |  FROM documents WHERE doc_id % 101 <> 0),
         |f_old AS (SELECT lang, COUNT(*) AS n_docs_old, $fpDigestSumSql AS fp_old
         |          FROM documents GROUP BY lang),
         |f_new AS (SELECT lang, COUNT(*) AS n_docs_new, $fpDigestSumSql AS fp_new
         |          FROM v_new GROUP BY lang)
         |SELECT COALESCE(o.lang, n.lang) AS lang,
         |       COALESCE(n_docs_old, 0) AS n_docs_old,
         |       COALESCE(n_docs_new, 0) AS n_docs_new,
         |       COALESCE(fp_old, 0) AS fp_old, COALESCE(fp_new, 0) AS fp_new,
         |       (fp_old IS DISTINCT FROM fp_new)
         |         OR (n_docs_old IS DISTINCT FROM n_docs_new) AS drifted
         |FROM f_old o FULL OUTER JOIN f_new n ON o.lang = n.lang
         |ORDER BY lang""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val edited = col("doc_id") % 97 === 0
      val vNew = docs.filter(col("doc_id") % 101 =!= 0)
        .withColumn("text", when(edited, concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .withColumn("n_chars", when(edited, col("n_chars") + 3).otherwise(col("n_chars")))
      val fOld = corpusFingerprint(docs)
        .select(col("lang"), col("n_docs").as("n_docs_old"), col("fp").as("fp_old"))
      val fNew = corpusFingerprint(vNew)
        .select(col("lang"), col("n_docs").as("n_docs_new"), col("fp").as("fp_new"))
      fOld.join(fNew, Seq("lang"), "full_outer")
        .select(col("lang"),
          coalesce(col("n_docs_old"), lit(0L)).as("n_docs_old"),
          coalesce(col("n_docs_new"), lit(0L)).as("n_docs_new"),
          coalesce(col("fp_old"), lit(0L)).as("fp_old"),
          coalesce(col("fp_new"), lit(0L)).as("fp_new"),
          (not(col("fp_old") <=> col("fp_new")) ||
            not(col("n_docs_old") <=> col("n_docs_new"))).as("drifted"))
        .orderBy("lang")
    },

    // The streaming clean-corpus pipeline's MAINTENANCE CONTRACT as an
    // oracle-gated query (the qp08 pattern, round-10 verdict ask #5):
    // three deterministic micro-batches (doc_id % 3, arrival us =
    // doc_id x 1e6) flow through the REAL IngestClean.cleanBatch into a
    // fresh lake + band index; batch 1 CRASHES in the one window the
    // pipeline cannot self-heal (after its lake append, before its
    // index append — a failpoint at the exact production crash site);
    // repairIndex runs, batch 1 REPLAYS (the at-least-once contract),
    // batch 2 completes. The emitted per-doc verdict (in_lake, indexed)
    // must match DuckDB replaying the dedup RULES alone — quality gate,
    // first-per-nrm, lake-nrm exactness, any-shared-band near rule,
    // batch by batch — with no crash in sight: crash + repair + replay
    // is OBSERVATIONALLY EQUIVALENT to an uninterrupted run, which is
    // the whole recovery story in one hash.
    Q("qp11_ingest_crash_repair", sqlIngestCrashOracle) { (s, dir) =>
      import graft.streaming.IngestClean
      val root = newIngestRunDir()
      val (lake, idx) = (s"$root/lake", s"$root/index")
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), (col("doc_id") * 1000000L).as("us"))
      def batchOf(b: Int) = base.filter(col("doc_id") % 3 === b)
      // failpoint is process-global state: serialize against any
      // concurrent plan build of this same query (determinism sweeps).
      IngestClean.synchronized {
        // Batch 0 is deterministic and CRASH-FREE — its post-state is
        // memoized on disk once per corpus dir and copied in (the
        // memoized-pair-frame discipline applied to a fixture lake:
        // ~5s/invocation of identical recompute gone from the sweep).
        // Everything the gate exists for — the crash, repairIndex, the
        // replay, batch 2 — still executes LIVE below, every invocation.
        val pre = preCrashBase.computeIfAbsent(dir, _ => {
          val b = TmpDirs.dir("graft_ingbase_", Integer.toHexString(dir.hashCode))
          TmpDirs.rmTree(b)
          IngestClean.cleanBatch(s, batchOf(0), s"$b/lake", s"$b/index")
          b.toString
        })
        TmpDirs.copyTree(new java.io.File(s"$pre/lake"), new java.io.File(lake))
        TmpDirs.copyTree(new java.io.File(s"$pre/index"), new java.io.File(idx))
        IngestClean.failpoint = Some("after_lake_append")
        try {
          try { IngestClean.cleanBatch(s, batchOf(1), lake, idx); () }
          catch { case e: IllegalStateException if e.getMessage.contains("failpoint") => () }
        } finally IngestClean.failpoint = None
        IngestClean.repairIndex(s, lake, idx)
        IngestClean.cleanBatch(s, batchOf(1), lake, idx) // at-least-once replay
        IngestClean.cleanBatch(s, batchOf(2), lake, idx)
      }
      val lakeIds = Parquet.read(s, lake).select(col("doc_id")).withColumn("lk", lit(true))
      val idxIds = Parquet.read(s, idx).select(col("doc_id")).distinct()
        .withColumn("ix", lit(true))
      base.select(col("doc_id"))
        .join(lakeIds, Seq("doc_id"), "left")
        .join(idxIds, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("lk"), lit(false)).as("in_lake"),
          (coalesce(col("lk"), lit(false)) && coalesce(col("ix"), lit(false))).as("indexed"))
        .orderBy("doc_id")
    }
  )

  // ---- qp11 support ----------------------------------------------------

  private val ingestRun = new java.util.concurrent.atomic.AtomicInteger(0)
  /** qp11's memoized pre-crash state: corpus dir -> the on-disk
    * lake+index left by batch 0 (deterministic, crash-free — safe to
    * reuse across invocations within one JVM; the testdata dir is
    * immutable for a sweep's lifetime). Built under the same
    * IngestClean lock as the choreography so a concurrent invocation's
    * armed failpoint can never crash the base build. */
  private val preCrashBase = new java.util.concurrent.ConcurrentHashMap[String, String]()
  // A bounded in-JVM ring (the Similarity.newIndexDir discipline); a
  // dead JVM's run dirs and base snapshots go on first use (TmpDirs).
  private def newIngestRunDir(): String = {
    val n = ingestRun.incrementAndGet()
    TmpDirs.rmTree(TmpDirs.dir("graft_ingq_", n - 8))
    TmpDirs.dir("graft_ingq_", n).toString
  }

  /** qp11's oracle: the three-batch ingest unrolled in SQL — quality
    * gate, in-batch first-per-nrm, lake-nrm exact dedup, and the
    * any-shared-band near rule (in-batch earlier-arrival bands + the
    * persisted index's bands = bands of every previously KEPT doc),
    * batch by batch. The banding replays [[graft.streaming.StreamDedup]]
    * exactly through the shared TextFns literals (qn04's band string
    * format). The crash/repair/replay choreography has no counterpart
    * here BY DESIGN: recovery must be observationally invisible. */
  private lazy val sqlIngestCrashOracle: String = {
    val tokset = sqlTokenSet("text")
    val hs = s"[ ${sqlTokenHash("t")} for t in $tokset ]"
    // Per-batch CTE block: fb = quality + first-per-nrm; eb = minus
    // lake-exact dups; nb = near-dups (index bands + earlier in-batch);
    // kb = kept. `prevKept` is the union subquery of earlier batches'
    // kept doc_ids ("" for batch 0).
    def batchCtes(b: Int, prevKept: String): String = {
      val (f, e, n, k) = (s"f$b", s"e$b", s"n$b", s"k$b")
      val eDef =
        if (prevKept.isEmpty) s"$e AS (SELECT * FROM $f)"
        else
          s"""$e AS (SELECT * FROM $f WHERE nrm NOT IN (
             |       SELECT base.nrm FROM base JOIN ($prevKept) pk USING (doc_id)))""".stripMargin
      val idxArm =
        if (prevKept.isEmpty) ""
        else
          s"""SELECT DISTINCT x.doc_id FROM $e x JOIN bnd bx ON bx.doc_id = x.doc_id
             |       WHERE bx.band IN (SELECT DISTINCT band FROM bnd JOIN ($prevKept) pk2 USING (doc_id))
             |       UNION
             |       """.stripMargin
      s"""$f AS (SELECT doc_id, nrm, us FROM base WHERE b = $b AND q
         |       QUALIFY ROW_NUMBER() OVER (PARTITION BY nrm ORDER BY us, doc_id) = 1),
         |$eDef,
         |$n AS ($idxArm
         |       SELECT DISTINCT x.doc_id FROM $e x JOIN bnd bx ON bx.doc_id = x.doc_id
         |       JOIN bnd by2 ON by2.band = bx.band JOIN $e y ON y.doc_id = by2.doc_id
         |       WHERE (y.us, y.doc_id) < (x.us, x.doc_id)),
         |$k AS (SELECT doc_id FROM $e WHERE doc_id NOT IN (SELECT doc_id FROM $n))""".stripMargin
    }
    val kept01 = "SELECT doc_id FROM k0 UNION ALL SELECT doc_id FROM k1"
    s"""WITH base AS (
       |  SELECT doc_id, text, doc_id % 3 AS b, doc_id * 1000000 AS us,
       |         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nrm,
       |         COALESCE(len(string_split_regex(trim(text), '\\s+')) >= 10, false) AS q
       |  FROM documents),
       |sig AS (SELECT doc_id, ${sqlMinhashSig("hs", 64)} AS sig FROM (
       |        SELECT doc_id, $hs AS hs FROM base WHERE q) WHERE len(hs) > 0),
       |bnd AS (SELECT doc_id,
       |               unnest([ concat_ws('-', bb, sig[4*bb+1], sig[4*bb+2], sig[4*bb+3], sig[4*bb+4])
       |                        for bb in range(0, 16) ]) AS band FROM sig),
       |${batchCtes(0, "")},
       |${batchCtes(1, "SELECT doc_id FROM k0")},
       |${batchCtes(2, kept01)},
       |kept AS (SELECT doc_id FROM k0 UNION ALL SELECT doc_id FROM k1
       |         UNION ALL SELECT doc_id FROM k2)
       |SELECT d.doc_id,
       |       k.doc_id IS NOT NULL AS in_lake,
       |       (k.doc_id IS NOT NULL AND bd.doc_id IS NOT NULL) AS indexed
       |FROM documents d
       |LEFT JOIN kept k ON d.doc_id = k.doc_id
       |LEFT JOIN (SELECT DISTINCT doc_id FROM bnd) bd ON d.doc_id = bd.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** The digest-sum SQL fragment shared by qp06/qp08's oracles — the
    * DuckDB twin of [[corpusFingerprint]]'s digest: byte-length-prefixed
    * fields, 60-bit sha prefix, HUGEINT sum, mod 2^61-1.
    */
  private lazy val fpDigestSumSql: String =
    """CAST(SUM(CAST('0x' || substr(sha256(concat_ws('|',
      |           COALESCE(CAST(STRLEN(CAST(doc_id AS VARCHAR)) AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR), '∅'),
      |           COALESCE(CAST(STRLEN(text) AS VARCHAR) || ':' || text, '∅'),
      |           COALESCE(CAST(STRLEN(lang) AS VARCHAR) || ':' || lang, '∅'),
      |           COALESCE(CAST(STRLEN(source) AS VARCHAR) || ':' || source, '∅'),
      |           COALESCE(CAST(STRLEN(CAST(n_chars AS VARCHAR)) AS VARCHAR) || ':' || CAST(n_chars AS VARCHAR), '∅')
      |         )), 1, 15) AS BIGINT)) % 2305843009213693951 AS BIGINT)""".stripMargin

  /** qp07's constraint sums attached to `df` as observed metrics: the
    * validation suite riding an EXISTING job's pass instead of costing
    * its own. `observe` metrics accumulate per-partition and merge at
    * the action — zero extra scans, zero extra shuffles; any pipeline
    * stage that already streams the corpus (clean-corpus, fingerprint,
    * lake write) reports corpus health as a side effect. Uniqueness is
    * the one rule that changes form: observed metrics must be
    * merge-able, so exact COUNT(DISTINCT) becomes approx_count_distinct
    * (HLL — mergeable by construction); run qp07 itself when exactness
    * matters. CurationSpec pins observed == dedicated-pass counts.
    */
  def withValidationObserved(df: DataFrame,
      obs: org.apache.spark.sql.Observation): DataFrame =
    df.observe(obs, validationMetrics.head, validationMetrics.tail: _*)

  /** Streaming form: `Observation` is batch-only, so streams attach the
    * same metrics under a NAME and read them per micro-batch from
    * `StreamingQueryProgress.observedMetrics(name)` — corpus health per
    * trigger, riding whatever the stream already computes (pinned in
    * CurationSpec against the batch counts).
    */
  def withValidationObserved(df: DataFrame, name: String): DataFrame =
    df.observe(name, validationMetrics.head, validationMetrics.tail: _*)

  /** The validation rule set — ONE definition for qp07's dedicated pass
    * and both observed-metrics forms, so the counts cannot drift:
    * (metric column name, qp07 check name, violation condition).
    * Uniqueness is separate — its two forms differ by necessity (exact
    * COUNT(DISTINCT) in qp07, mergeable HLL when observed).
    */
  private val validationRules: Seq[(String, String, Column)] = Seq(
    ("empty_text", "text_nonempty", col("text").isNull || col("text") === ""),
    ("bad_lang", "lang_in_set", !col("lang").isin("de", "en", "es", "fr", "zh")),
    ("len_mismatch", "n_chars_consistent", col("n_chars") =!= length(col("text"))),
    ("short_text", "text_min_50_chars", length(col("text")) < 50))

  private def violations(cond: Column): Column = sum(when(cond, 1L).otherwise(0L))

  /** Per-row failed-rule list as a deterministic comma-joined string
    * (declaration order; concat_ws skips the non-violated NULLs). */
  private def reasonsCol: Column =
    concat_ws(",", validationRules.map { case (_, check, cond) => when(cond, lit(check)) }: _*)

  /** The one-pass enforcement split: every document lands in
    * `outDir/quarantined=false` (the clean lake) or
    * `outDir/quarantined=true` (with its `reasons`), from a SINGLE scan
    * — the partitioned write routes rows by the flag, so enforcement
    * costs one pass regardless of how many rules run, exactly like
    * qp07's report. Readers of the clean lake partition-prune to
    * `quarantined=false` and never touch the quarantine files.
    */
  def writeQuarantined(docs: DataFrame, outDir: String): Unit =
    docs.withColumn("quarantined", reasonsCol =!= "")
      // Clean rows carry a NULL reasons column, not '': the single
      // partitionBy write cannot drop the column for one partition, but
      // nulls compress to nothing and read back unambiguous.
      .withColumn("reasons", when(col("quarantined"), reasonsCol))
      .write.partitionBy("quarantined").parquet(outDir)

  private def validationMetrics: Seq[Column] =
    count(lit(1)).as("n") +:
      validationRules.map { case (metric, _, cond) => violations(cond).as(metric) } :+
      approx_count_distinct("doc_id").as("approx_distinct_ids")

  /** 2^61 - 1 (Mersenne prime): the fingerprint modulus. Row digests are
    * 60-bit (15 hex chars of sha-256), so every digest is already < p and
    * the per-partition sums reduce with one final mod.
    */
  val fpModulus: Long = 2305843009213693951L

  /** qp06's frame: (lang, n_docs, total_chars, fp) — see the Q scaladoc. */
  def corpusFingerprint(docs: DataFrame): DataFrame = {
    // Byte-length-prefixed field encoding (`len:value`, NULL marker,
    // '|'-joined): the prefix pins where each field ends, so a '|'
    // inside a value or content shifting across field boundaries (or a
    // null/value swap) cannot produce a colliding row encoding. Byte
    // length (octet_length / DuckDB STRLEN) because both engines agree
    // on it exactly for any UTF-8 content.
    def enc(c: Column): Column = {
      val s = c.cast("string")
      coalesce(concat(octet_length(s).cast("string"), lit(":"), s), lit("∅"))
    }
    val digest = conv(substring(sha2(concat_ws("|",
      enc(col("doc_id")), enc(col("text")), enc(col("lang")),
      enc(col("source")), enc(col("n_chars"))), 256),
      1, 15), 16, 10).cast("decimal(38,0)")
    docs
      .select(col("lang"), col("n_chars"), digest.as("d"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("d")) % lit(fpModulus)).cast("long").as("fp"))
      .orderBy("lang")
  }
}
