package graft.operators

import graft.{Concurrently, Q, Tables}
import graft.functions.TextFns._
import graft.functions.VectorExprs.{dotNative, l2normNative}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) over the `embeddings` table — the
  * compressed-index tier of the similarity-search family (qn07–qn10:
  * exact, sign-LSH, IVF). A 64-dim float vector (256 bytes) becomes a
  * 4-code word (2 bytes at 4 bits/code): the 64x compression that makes
  * a 100 TB embedding corpus scannable — the ADC scoring pass reads ONLY
  * the code column, never the floats.
  *
  * The reference engine has no PQ; this extends its ANN surface
  * (reference `README.md` query section) with the standard
  * IVFADC construction (Jegou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011): split D=64 dims into M=4 subspaces of
  * 16, k-means each subspace to K=16 codewords, encode = per-subspace
  * argmin, query via Asymmetric Distance Computation — the probe
  * precomputes an M x K table of subspace distances and every
  * candidate's approximate distance is M table lookups, no float math
  * per candidate. (Fixture-sized M/K; at scale M=16, K=256 — one byte
  * per code — changes no plan shape.)
  *
  * Float policy (the Similarity contract, applied harder): PQ runs in
  * PURE INTEGER space. Vectors enter as e6-floored longs
  * (`floor(x * 1e6)`), codebook training is one deterministic Lloyd
  * step from stride seeds (the qn19 rule: no RNG anywhere), distances
  * are integer squared-euclidean, every argmin ties to the lowest
  * code — so the DuckDB oracle replays bit-exactly with no epsilon.
  *
  * Scale shapes, per query:
  *  - training (qn30): seeds are K rows/subspace (broadcast); the
  *    assignment is a map-side broadcast join + rn=1 window planned as
  *    TopKPerGroup with MAP-SIDE partial top-1 — the N x K candidate
  *    stream collapses map-side, so the shuffle carries N x M
  *    pre-reduced rows, then the (sub, cid, pos) mean is a second
  *    partial agg over N x D rows. No N x K shuffle anywhere.
  *  - encode (qn31): same TopKPerGroup shape against the TRAINED codebook
  *    (M x K rows, broadcast). At 100 TB this runs once per corpus and
  *    persists ([[buildPqIndex]]); queries never re-encode.
  *  - ADC (qn32): the probe side collapses to one 64-slot lookup array
  *    per probe (M x K subspace distances, sub-major), broadcast; the
  *    scan side reads codes only, scores via 4 `element_at`s per
  *    (candidate, probe) — all inside one codegen stage — and the only
  *    shuffle is the per-probe top-k window.
  *  - IVFADC + refine (qn33): IVF coarse route bounds the candidate set
  *    to nProbe cells, ADC ranks the cells' codes, the top-R shortlist
  *    (R=16) alone pays a full-precision read for the exact cosine
  *    re-rank — the two-stage retrieval a production vector store runs.
  */
object PQ extends IndexRung {

  /** PQ sizing: M subspaces of `subDim` dims (m * subDim = embedding
    * dim), K codewords per subspace. The FIXTURE default is 4 x 16
    * (2-byte words — what the registered queries and their DuckDB
    * oracles replay); production byte-code sizing is
    * `PqParams(16, 4, 256)`-class — one byte per code, 16^4 -> 256^16
    * combo space. A persisted index is SELF-DESCRIBING: the probe,
    * append, and rebalance paths read the REALIZED sizing and the
    * encoding flag from the stored `meta` side ([[indexMeta]]), so an
    * index built at any sizing serves without the caller restating
    * it. */
  final case class PqParams(m: Int, subDim: Int, k: Int) {
    require(m > 0 && subDim > 0 && k > 1, s"bad PQ sizing: $this")
    def dim: Int = m * subDim
  }

  /** The fixture sizing the registered queries (qn30–qn36) run at. */
  val fixturePq: PqParams = PqParams(4, 16, 16)

  /** Subspace count M. `pqM * pqSubDim` must equal the embedding dim. */
  private[graft] val pqM = fixturePq.m
  /** Dims per subspace. */
  private[graft] val pqSubDim = fixturePq.subDim
  /** Codewords per subspace K (16 = 4-bit codes at fixture scale). */
  private[graft] val pqK = fixturePq.k
  /** ADC shortlist width the refine tier re-ranks at full precision. */
  private[graft] val adcTopR = 16

  /** Hard probe-batch ceiling for [[probePqIndexWith]]: sized so the
    * shortlist collect (probes x [[adcTopR]] rows) stays under the same
    * 1e6-row driver-collect contract [[routeCells]] enforces for the
    * routing. 62,500 probes at the fixture topR — a serving batch, by
    * construction; corpus-sized probe sets belong on the cent_id
    * assignment-join path (the qn20 shape). */
  private[graft] val maxProbeBatch: Int = 1000000 / adcTopR

  // ---- Spark side ---------------------------------------------------

  /** e6-floored integer view of the corpus: (vec_id, emb6[D]). */
  private def ve(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 1000000).cast("long")).as("emb6"))

  /** Long-form subspace view: (keys..., sub, v6[pqSubDim]) — M rows per
    * input row, built by a static explode over the M literal slices (no
    * runtime arithmetic picks the slice bounds, so column pruning and
    * codegen see plain literals). `keys` is (vec_id) for corpus frames
    * and (qid, cent_id) for the residual probe tables. */
  private def vsubKeyed(veF: DataFrame, keys: Seq[String],
      p: PqParams = fixturePq): DataFrame = {
    // Width guard (the loud-failure discipline): a probe or corpus row
    // whose width differs from the declared sizing must fail with
    // instructions — the silent alternative is `slice` past the array
    // end, truncated subvectors, null d2s, and a valid-looking result
    // with degraded ranking. O(1) per row (array size check).
    val checked = when(size(col("emb6")) === p.dim, col("emb6"))
      .otherwise(raise_error(concat(
        lit("PQ: embedding width "), size(col("emb6")).cast("string"),
        lit(s" != m(${p.m}) x subDim(${p.subDim}) = ${p.dim} — fix the PqParams sizing" +
          " or the input frame"))))
    veF.select(keys.map(col) :+ explode(array((0 until p.m).map(m =>
        struct(lit(m.toLong).as("sub"),
          slice(checked, m * p.subDim + 1, p.subDim).as("v6"))): _*)).as("sv"): _*)
      .select(keys.map(col) ++ Seq(col("sv.sub").as("sub"), col("sv.v6").as("v6")): _*)
  }

  private def vsub(veF: DataFrame, p: PqParams = fixturePq): DataFrame =
    vsubKeyed(veF, Seq("vec_id"), p)

  /** Integer squared euclidean between two e6 long arrays — the native
    * fused expression (one definition with the SQ8 rank loop;
    * bit-identical to the zip_with/aggregate HOF form it replaced,
    * VectorExprsSpec). Here it only feeds the ADC-table build
    * (probes x M x K rows — broadcast-class), so this is consistency,
    * not a wall. */
  private def d2(a: Column, b: Column): Column =
    graft.functions.VectorExprs.intSqDistNative(a, b)

  /** Collect a trained codebook frame (sub, code, c6) to the flattened
    * plan-time form [[graft.functions.PqEncode]] consumes, deriving the
    * REALIZED sizing from the rows (the stride rule caps K at the
    * corpus size, so the realized K can be smaller than requested —
    * PQSpec's 200-vector / K=256 case). M x K rows: driver-manifest
    * class. Density is validated — a hole in the (sub, code) lattice
    * would silently mis-address every later ADC lookup. */
  private def collectCb(cb: DataFrame): (Array[Long], PqParams) = {
    val rows = cb.select(col("sub"), col("code"), col("c6")).collect()
    require(rows.nonEmpty, "PQ: empty codebook — train before encoding")
    val m = rows.iterator.map(_.getLong(0)).max.toInt + 1
    require(rows.length % m == 0,
      s"PQ: codebook not dense — ${rows.length} rows over $m subspaces")
    val k = rows.length / m
    val subDim = rows.head.getSeq[Long](2).length
    val flat = new Array[Long](m * k * subDim)
    val seen = new Array[Boolean](m * k)
    rows.foreach { r =>
      val sub = r.getLong(0).toInt
      val code = r.getLong(1).toInt
      require(sub >= 0 && sub < m && code >= 0 && code < k && !seen(sub * k + code),
        s"PQ: codebook not dense at (sub=$sub, code=$code)")
      seen(sub * k + code) = true
      val c6 = r.getSeq[Long](2)
      require(c6.length == subDim,
        s"PQ: ragged codeword width ${c6.length} at (sub=$sub, code=$code), expected $subDim")
      c6.copyToArray(flat, (sub * k + code) * subDim)
    }
    (flat, PqParams(m, subDim, k))
  }

  /** The native encode column over an `emb6` e6 array: array[2M] =
    * codes ++ d2mins (see [[graft.functions.PqEncode]] — bit-exact with
    * the join+window argmin, with partial-distance early exit). */
  private def encCol(flat: Array[Long], p: PqParams): Column =
    graft.functions.PqExprs.pqEncodeNative(col("emb6"), flat, p.m, p.k, p.subDim)

  /** The trained codebook, memoized per (session, corpus): one
    * deterministic Lloyd step per subspace from stride seeds. Returns
    * (sub, cid, code, c6[pqSubDim]) — `code` is the dense 0..K-1 rank
    * of the seed id within its subspace, the value the packed word and
    * the ADC table index. K*M rows: localCheckpoint'd (a
    * materialization barrier — three queries and the persisted build
    * all consume it). */
  private[graft] def codebook(s: SparkSession, dir: String): DataFrame =
    Dedup.memoized("pqcb", s, dir, 0, 0) {
      cbPivot(codebookLong(s, dir)).localCheckpoint(true)
    }

  /** Long codebook -> the (sub, cid, code, c6) array form. */
  private def cbPivot(cbl: DataFrame): DataFrame = {
    val wCode = Window.partitionBy(col("sub")).orderBy(col("cid"))
    cbl.groupBy("sub", "cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("centroid_e6")))),
        p => p.getField("centroid_e6")).as("c6"))
      .withColumn("code", (row_number().over(wCode) - 1).cast("long"))
      .select(col("sub"), col("cid"), col("code"), col("c6"))
  }

  /** qn30's long form: (sub, cid, pos, n, centroid_e6) — the Lloyd-step
    * means per (subspace, seed cell, dimension). A cell that attracted
    * ZERO members keeps its SEED centroid (n = 0) — the standard
    * empty-cluster rule, and load-bearing for the ADC layout: duplicate
    * seeds (near-identical vectors on the stride lattice — a clustered
    * corpus hits this immediately, caught by PQSpec's recall fixture)
    * lose every argmin tie to the lower cid, and dropping their empty
    * cells would leave the codebook short of K entries per subspace —
    * shifting every later code's slot in the packed sub-major lookup
    * array and mis-addressing [[adcScore]]. */
  private def codebookLong(s: SparkSession, dir: String): DataFrame =
    trainCodebookLong(ve(s, dir))

  /** Deterministic Lloyd training over ANY (vec_id, emb6) e6 frame —
    * shared by the plain (qn30) and residual (qn36) trainings. Seeds
    * by the STRIDE rule (dense id space — the build-time contract;
    * [[rebalance]] retrains with [[hashSeedVecs]] instead,
    * because an appended lake's id space is arbitrary). `iters`
    * unrolls extra Lloyd steps (each step re-seeds from the previous
    * step's means — still RNG-free, and oracle-replayable as a chained
    * CTE block); the default 1 is the registered-query contract. */
  private def trainCodebookLong(ve6F: DataFrame, p: PqParams = fixturePq,
      iters: Int = 1): DataFrame = {
    require(iters >= 1, s"PQ: iters must be >= 1, got $iters")
    var cbl = lloydStepNative(ve6F, strideSeedVecs(ve6F, p.k), p)
    var t = 1
    while (t < iters) {
      cbl = lloydStepNative(ve6F, centroidSeedVecs(cbl, p), p)
      t += 1
    }
    cbl
  }

  /** The K stride-rule seed vectors, collected (K rows — the same
    * driver-manifest class as the centroid collects): ids divisible by
    * stride = max(1, N div K) below stride x K, in cid order. */
  private def strideSeedVecs(ve6F: DataFrame, k: Int): Array[(Long, Array[Long])] = {
    val n = ve6F.count()
    require(n > 0, "PQ: cannot train a codebook over an empty corpus")
    val stride = math.max(1L, n / k)
    ve6F.filter(col("vec_id") % stride === 0 && col("vec_id") < stride * k)
      .select(col("vec_id"), col("emb6")).orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
  }

  /** Codebook seeds for an ARBITRARY id space: the K vectors with the
    * lowest `xxhash64(vec_id)` (the [[Similarity.rebalance]]
    * seed rule applied to the codebook) — deterministic,
    * distribution-free over the ids. TakeOrderedAndProject: no sort
    * materialization; K rows collect. Sorted by cid so the code ranks
    * match [[cbPivot]]'s ORDER BY cid. */
  private def hashSeedVecs(ve6F: DataFrame, k: Int): Array[(Long, Array[Long])] =
    ve6F.orderBy(xxhash64(col("vec_id"), lit(1004)).asc, col("vec_id").asc)
      .limit(k).select(col("vec_id"), col("emb6")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)

  /** Re-seed from a trained cbl long frame's means (the multi-iter
    * Lloyd chain): collect (K x M x subDim rows — manifest-class) back
    * to full-dim seed vectors keyed by cid. */
  private def centroidSeedVecs(cbl: DataFrame, p: PqParams): Array[(Long, Array[Long])] = {
    val rows = cbl.select(col("sub"), col("cid"), col("pos"), col("centroid_e6")).collect()
    rows.groupBy(_.getLong(1)).toArray.sortBy(_._1).map { case (cid, rs) =>
      val v = new Array[Long](p.dim)
      rs.foreach(r => v(r.getLong(0).toInt * p.subDim + r.getLong(2).toInt) = r.getLong(3))
      (cid, v)
    }
  }

  /** One deterministic Lloyd step from LOCAL seed vectors: the argmin
    * assignment is the native [[graft.functions.PqEncode]] expression
    * (map-side, early-exit — no N x K join, no window shuffle), the
    * means are one partial agg over N x D rows, and empty cells keep
    * their seed centroid (n = 0 — see [[codebookLong]]'s layout
    * rationale). Returns the cbl long form (sub, cid, pos, n,
    * centroid_e6); ties in the assignment go to the lowest cid (seeds
    * scan in ascending-cid order inside the expression — the oracle's
    * ROW_NUMBER ORDER BY (d2, cid)). */
  private def lloydStepNative(ve6F: DataFrame,
      seeds: Array[(Long, Array[Long])], p: PqParams): DataFrame = {
    require(seeds.nonEmpty, "PQ: no seed vectors (empty corpus?)")
    seeds.foreach { case (cid, v) => require(v.length == p.dim,
      s"PQ: seed $cid has width ${v.length}, sizing declares ${p.m} x ${p.subDim} = ${p.dim}") }
    val k = seeds.length // realized K: the stride rule caps it at the corpus size
    val flat = new Array[Long](p.m * k * p.subDim)
    for (((_, v), j) <- seeds.zipWithIndex; sub <- 0 until p.m; d <- 0 until p.subDim)
      flat((sub * k + j) * p.subDim + d) = v(sub * p.subDim + d)
    val cids = seeds.map(_._1)
    val pr = PqParams(p.m, p.subDim, k)
    // (sub, cid, pos, vv) for the means: ONE posexplode of the input
    // vector next to its assignment array — the only shuffle in the
    // step is the means' partial agg.
    val asgLong = ve6F
      .select(col("vec_id"), encCol(flat, pr).as("enc"), col("emb6"))
      .select(col("enc"), posexplode(col("emb6")).as(Seq("i", "vv")))
      .select(floor(col("i") / p.subDim).cast("long").as("sub"),
        (col("i") % p.subDim).cast("long").as("pos"),
        element_at(lit(cids),
          element_at(col("enc"), floor(col("i") / p.subDim).cast("int") + 1).cast("int") + 1)
          .as("cid"),
        col("vv"))
    val means = asgLong.groupBy("sub", "cid", "pos")
      .agg(count(lit(1)).as("n"),
        floor(sum(col("vv")).cast("double") / count(lit(1))).cast("long").as("m6"))
    val s = ve6F.sparkSession
    val seedRows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList((for {
        (cid, v) <- seeds; sub <- 0 until p.m; d <- 0 until p.subDim
      } yield org.apache.spark.sql.Row(sub.toLong, cid, d.toLong, v(sub * p.subDim + d))): _*)
    val seedSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("sub", org.apache.spark.sql.types.LongType, false),
      org.apache.spark.sql.types.StructField("cid", org.apache.spark.sql.types.LongType, false),
      org.apache.spark.sql.types.StructField("pos", org.apache.spark.sql.types.LongType, false),
      org.apache.spark.sql.types.StructField("sv", org.apache.spark.sql.types.LongType, false)))
    s.createDataFrame(seedRows, seedSchema)
      .join(means, Seq("sub", "cid", "pos"), "left")
      .select(col("sub"), col("cid"), col("pos"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("m6"), col("sv")).as("centroid_e6"))
  }

  /** Per-vector PQ codes in long form: (vec_id, sub, code, d2min) —
    * argmin against the trained codebook. */
  private[graft] def encoded(s: SparkSession, dir: String): DataFrame =
    encodeWith(ve(s, dir), codebook(s, dir))

  /** Native encode of an e6 frame against a trained codebook frame,
    * long form (vec_id, sub, code, d2min): the codebook collects to a
    * plan-time literal (M x K rows), so the encode is a pure map over
    * the corpus scan — no join, no window, no shuffle (the
    * [[graft.functions.PqEncode]] early-exit argmin). */
  private def encodeWith(ve6F: DataFrame, cb: DataFrame): DataFrame = {
    val (flat, p) = collectCb(cb)
    ve6F.select(col("vec_id"), encCol(flat, p).as("enc"))
      .select(col("vec_id"), posexplode(
        zip_with(slice(col("enc"), 1, p.m), slice(col("enc"), p.m + 1, p.m),
          (c, d) => struct(c.as("code"), d.as("d2min")))).as(Seq("sub", "cd")))
      .select(col("vec_id"), col("sub").cast("long").as("sub"),
        col("cd.code").as("code"), col("cd.d2min").as("d2min"))
  }

  /** Native encode straight to the stored hot-side shape (vec_id,
    * codes[M]) — NO pivot shuffle (the old collect_list groupBy is
    * gone: one expression evaluation per vector, slice the code half). */
  private def codesWith(ve6F: DataFrame, cb: DataFrame): DataFrame = {
    val (flat, p) = collectCb(cb)
    ve6F.select(col("vec_id"), encCol(flat, p).as("enc"))
      .select(col("vec_id"), slice(col("enc"), 1, p.m).as("codes"))
  }

  /** Codes in the stored shape: (vec_id, codes[pqM]) — the column a PQ
    * index lake persists (sub-major, one small int per subspace; 4
    * bits each at fixture K). Memoized per (session, corpus) like the
    * codebook: qn32, qn33, and the persisted build all consume the
    * identical deterministic frame. */
  private[graft] def codesArr(s: SparkSession, dir: String): DataFrame =
    Dedup.memoized("pqcodes", s, dir, 0, 0) {
      codesWith(ve(s, dir), codebook(s, dir)).localCheckpoint(true)
    }

  /** [[codebook]] for an arbitrary sizing — the fixture sizing shares
    * [[codebook]]'s cache; other sizings memoize under a
    * params-qualified tag (a byte-code build and the fixture build
    * must never share a cached frame). */
  /** Memo-tag suffix for a non-default training depth — an iters=3
    * codebook and the single-step default must never share a cached
    * frame (the nCells/params key reasoning). */
  private def itag(iters: Int): String = if (iters == 1) "" else s":it$iters"

  private def codebookP(s: SparkSession, dir: String, p: PqParams,
      iters: Int = 1): DataFrame =
    if (p == fixturePq && iters == 1) codebook(s, dir)
    else Dedup.memoized(s"pqcb:${p.m}x${p.subDim}x${p.k}${itag(iters)}", s, dir, 0, 0) {
      cbPivot(trainCodebookLong(ve(s, dir), p, iters)).localCheckpoint(true)
    }

  /** [[codesArr]] for an arbitrary sizing (see [[codebookP]]). */
  private def codesArrP(s: SparkSession, dir: String, p: PqParams,
      iters: Int = 1): DataFrame =
    if (p == fixturePq && iters == 1) codesArr(s, dir)
    else Dedup.memoized(s"pqcodes:${p.m}x${p.subDim}x${p.k}${itag(iters)}", s, dir, 0, 0) {
      codesWith(ve(s, dir), codebookP(s, dir, p, iters)).localCheckpoint(true)
    }

  /** The ADC lookup tables for a probe frame: (qid, tab[pqM * pqK]) —
    * one integer subspace-distance per (sub, code), laid out sub-major
    * so a candidate's approximate distance is
    * sum_m tab[m * K + code_m]. O(probes x M x K) rows — broadcast. */
  private def adcTables(probes: DataFrame, cb: DataFrame,
      p: PqParams = fixturePq): DataFrame =
    adcTablesKeyed(probes.withColumnRenamed("vec_id", "qid"), cb, Seq("qid"), p)

  /** `keys` = (qid) for whole-space tables; (qid, cent_id) for the
    * residual form, where every probed CELL gets its own table. */
  private def adcTablesKeyed(probes6: DataFrame, cb: DataFrame,
      keys: Seq[String], p: PqParams = fixturePq): DataFrame =
    probes6.join(broadcast(cb), Seq("sub"))
      .select(keys.map(col) ++ Seq((col("sub") * p.k + col("code")).as("idx"),
        d2(col("v6"), col("c6")).as("td")): _*)
      .groupBy(keys.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("idx"), col("td")))),
        x => x.getField("td")).as("tab"))

  /** sum_m tab[m * K + codes[m]] — the ADC score: M array lookups per
    * (candidate, probe), pure codegen, no float math. */
  private def adcScore(tab: Column, codes: Column,
      p: PqParams = fixturePq): Column =
    aggregate(sequence(lit(0), lit(p.m - 1)), lit(0L), (acc, m) =>
      acc + element_at(tab, (m * p.k + element_at(codes, m + 1) + 1).cast("int")))

  /** A persisted index's `meta` side: ONE row (residual, m, sub_dim,
    * k) holding the encoding flag and the REALIZED sizing (the stride
    * rule caps K at the corpus size, so this is derived from the
    * trained codebook at build time, not the requested params). It is
    * a swap side like the four data sides, so encoding metadata and
    * data commit ATOMICALLY through [[IndexSwap]] — the round-13
    * ADVICE crash window (data written, marker missing, probes
    * silently mis-rank a residual index as plain) cannot exist.
    * Reading it is one tiny parquet read per serving call — replacing
    * BOTH the old `_residual` fs-exists check and the per-call
    * codebook aggregate job. */
  private def writeMeta(s: SparkSession, path: String, residual: Boolean,
      p: PqParams): Unit = {
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(org.apache.spark.sql.Row(residual, p.m, p.subDim, p.k))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("residual", org.apache.spark.sql.types.BooleanType, false),
      org.apache.spark.sql.types.StructField("m", org.apache.spark.sql.types.IntegerType, false),
      org.apache.spark.sql.types.StructField("sub_dim", org.apache.spark.sql.types.IntegerType, false),
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType, false)))
    s.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite")
      .parquet(IndexSwap.tmp(path, "meta").toString)
  }

  /** The stored encoding flag + realized sizing (see [[writeMeta]]).
    * NOT cached across calls: a same-session rebuild of the path may
    * change the encoding (PQSpec pins exactly that), and the read is
    * manifest-class. A missing meta side fails LOUDLY as a format
    * diagnostic (round-14 ADVICE): an index persisted by the pre-meta
    * layout (params derived per-call from the codebook table,
    * `_residual` fs marker) would otherwise surface as an opaque
    * parquet-not-found on every probe/append/rebalance. No silent
    * migration: the realized sizing cannot be recovered without the
    * per-call codebook aggregate the meta side exists to remove, and
    * a rebuild re-derives everything deterministically from the
    * corpus. */
  private[graft] def indexMeta(s: SparkSession, path: String): (Boolean, PqParams) =
    indexMetaAt(s, IndexSwap.liveRoot(s, path))

  /** [[indexMeta]] against an already-resolved version root (the
    * serve-handle form). */
  private def indexMetaAt(s: SparkSession, root: String): (Boolean, PqParams) = {
    val metaDir = new org.apache.hadoop.fs.Path(s"$root/meta")
    val fs = metaDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(metaDir))
      throw new IllegalStateException(
        s"PQ index at $root has no meta side — this is a pre-meta layout (or not a " +
          "PQ index root). Rebuild it with buildPqIndex: the meta row now commits " +
          "atomically with the data sides, and pre-meta layouts are not auto-migrated " +
          "because deriving the realized sizing per call is exactly the cost meta removed.")
    val r = s.read.parquet(metaDir.toString).head()
    (r.getBoolean(0), PqParams(r.getInt(1), r.getInt(2), r.getInt(3)))
  }

  // ---- DuckDB oracle fragments ---------------------------------------

  /** Integer fold sum (the qn16 q_sum pattern). */
  private def sqlISum(xs: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), $xs), (acc, x) -> acc + x)"

  /** Integer squared euclidean over two e6 BIGINT lists. */
  private def sqlD2(a: String, b: String): String =
    sqlISum(s"list_transform(list_zip($a, $b), p -> (p[1]-p[2])*(p[1]-p[2]))")

  /** The training + encoding CTE block over a long-form subspace CTE
    * `$sub` (columns vec_id, sub, v6) whose distinct vec_id count is
    * `$cnt`'s row count: stride seeds, one Lloyd step (sasg -> cbl with
    * the empty-cell seed-retention rule), the trained codebook cb with
    * dense code ranks, and the per-vector encoding enc. Shared by the
    * plain (qn30–qn32 via [[sqlPqCtes]]) and residual (qn36) oracles —
    * mirrors [[trainCodebookLong]] / [[encodeWith]] term for term. */
  private def sqlTrainEncCtes(sub: String, cnt: String,
      p: PqParams = fixturePq): String =
    s"""pst AS (SELECT GREATEST(1, COUNT(*) // ${p.k}) AS stride FROM $cnt),
       |seeds AS (SELECT sub, vec_id AS cid, v6 AS ce6 FROM $sub, pst
       |          WHERE vec_id % stride = 0 AND vec_id < stride * ${p.k}),
       |sasg AS (SELECT vec_id, sub, v6, cid FROM (
       |         SELECT v.vec_id, v.sub, v.v6, sd.cid,
       |                ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub
       |                  ORDER BY ${sqlD2("v.v6", "sd.ce6")}, sd.cid) AS rn
       |         FROM $sub v JOIN seeds sd USING (sub)) WHERE rn = 1),
       |ml AS (SELECT sub, cid, i AS pos, COUNT(*) AS n,
       |              CAST(floor(CAST(SUM(v6[i+1]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m6
       |       FROM sasg, (SELECT unnest(range(0, ${p.subDim})) AS i) GROUP BY 1, 2, 3),
       |cbl AS (SELECT sdl.sub, sdl.cid, sdl.pos,
       |               COALESCE(ml.n, 0) AS n, COALESCE(ml.m6, sdl.sv) AS centroid_e6
       |        FROM (SELECT sd.sub, sd.cid, i AS pos, sd.ce6[i+1] AS sv
       |              FROM seeds sd, (SELECT unnest(range(0, ${p.subDim})) AS i)) sdl
       |        LEFT JOIN ml ON ml.sub = sdl.sub AND ml.cid = sdl.cid AND ml.pos = sdl.pos),
       |cb AS (SELECT sub, cid, ROW_NUMBER() OVER (PARTITION BY sub ORDER BY cid) - 1 AS code,
       |              list(centroid_e6 ORDER BY pos) AS c6
       |       FROM cbl GROUP BY sub, cid),
       |enc AS (SELECT vec_id, sub, code, d2 FROM (
       |        SELECT v.vec_id, v.sub, cb.code, ${sqlD2("v.v6", "cb.c6")} AS d2,
       |               ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub
       |                 ORDER BY ${sqlD2("v.v6", "cb.c6")}, cb.code) AS rn
       |        FROM $sub v JOIN cb USING (sub)) WHERE rn = 1)""".stripMargin

  /** e6 view of the corpus as a list expression. */
  private def sqlE6List(c: String): String =
    s"[CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) for x in $c]"

  /** Shared CTE prefix for the PLAIN (non-residual) pipeline: e6 view,
    * subspace slices, then the training + encoding block. */
  private def sqlPqCtes(p: PqParams = fixturePq): String =
    sqlPqCtesVe(s"""ve AS (SELECT vec_id, ${sqlE6List("embedding")} AS emb6
       |       FROM embeddings)""".stripMargin, p)

  /** [[sqlPqCtes]] with the corpus CTE swappable — qn43 substitutes the
    * OPQ-rotated view; everything downstream (slices, training,
    * encode) is identical text. */
  private def sqlPqCtesVe(veCte: String, p: PqParams = fixturePq): String =
    s"""$veCte,
       |subs AS (SELECT unnest(range(0, ${p.m})) AS sub),
       |vsub AS (SELECT vec_id, sub, list_slice(emb6, sub*${p.subDim} + 1, sub*${p.subDim} + ${p.subDim}) AS v6
       |         FROM ve, subs),
       |${sqlTrainEncCtes("vsub", "ve", p)}""".stripMargin

  /** Probe-side ADC tables in long form: (qid, sub, code, td). */
  private def sqlProbeTab(probeFilter: String): String =
    s"""pt AS (SELECT p.vec_id AS qid, cb.sub, cb.code, ${sqlD2("p.v6", "cb.c6")} AS td
       |       FROM (SELECT * FROM vsub WHERE $probeFilter) p JOIN cb ON cb.sub = p.sub)""".stripMargin

  private def sqlCosE6(a: String, b: String, an: String, bn: String) =
    sqlE6(s"${sqlDot(a, b)} / ($an * $bn)")

  // ---- the declared queries -------------------------------------------

  val all: Seq[Q] = Seq(
    // PQ codebook training: one deterministic Lloyd step per subspace.
    Q("qn30_pq_codebooks",
      s"""WITH ${sqlPqCtes()}
         |SELECT sub, cid, pos, n, centroid_e6 FROM cbl
         |ORDER BY sub, cid, pos""".stripMargin) { (s, dir) =>
      codebookLong(s, dir).orderBy("sub", "cid", "pos")
    },

    // PQ encoding: the packed code word + integer reconstruction error.
    Q("qn31_pq_encode",
      s"""WITH ${sqlPqCtes()}
         |SELECT vec_id,
         |       CAST(SUM(code * (CASE sub WHEN 0 THEN 1 WHEN 1 THEN 16
         |                                 WHEN 2 THEN 256 ELSE 4096 END)) AS BIGINT) AS code_packed,
         |       CAST(SUM(d2) AS BIGINT) AS err_e12
         |FROM enc GROUP BY 1 ORDER BY vec_id""".stripMargin) { (s, dir) =>
      // sub-major base-K digits: the 2-byte word a PQ lake would store
      // (emitted unpacked as codes[] by the index build; packed here so
      // the oracle can hash one integer per vector).
      val weight = (0 until pqM).map(m => when(col("sub") === m,
          lit(Seq.fill(m)(pqK.toLong).product)))
        .reduce((a, b) => coalesce(a, b))
      encoded(s, dir)
        .groupBy("vec_id")
        .agg(sum(col("code") * weight).as("code_packed"),
          sum(col("d2min")).as("err_e12"))
        .orderBy("vec_id")
    },

    // PQ encode at a NON-FIXTURE sizing (M=8 subspaces of 8 dims,
    // K=32): the whole parameterized pipeline — slicing, stride
    // seeding, Lloyd step, dense code ranks, argmin encode — replayed
    // by the oracle at a second (m, subDim, k) point, so a fixture
    // constant left anywhere in the param plumbing breaks the hash.
    // Long form (no packed word: packing is a K-specific display).
    // Production byte-code sizing (M=16/K=256) changes only these
    // three numbers; its recall/compression is priced in the pq
    // battery (BENCH_NOTES).
    Q("qn37_pq_encode_m8",
      s"""WITH ${sqlPqCtes(PqParams(8, 8, 32))}
         |SELECT vec_id, sub, code, CAST(d2 AS BIGINT) AS err_e12
         |FROM enc ORDER BY vec_id, sub""".stripMargin) { (s, dir) =>
      val p = PqParams(8, 8, 32)
      encodeWith(ve(s, dir), codebookP(s, dir, p))
        .select(col("vec_id"), col("sub"), col("code"), col("d2min").as("err_e12"))
        .orderBy("vec_id", "sub")
    },

    // ADC brute scan: every vector scored against every probe via M
    // table lookups over the codes — the compressed full-scan baseline
    // (what a PQ store falls back to when no IVF route exists).
    Q("qn32_ann_pq_adc",
      s"""WITH ${sqlPqCtes()},
         |${sqlProbeTab("vec_id < 10")},
         |adc AS (SELECT pt.qid, e.vec_id, CAST(SUM(pt.td) AS BIGINT) AS adist_e12
         |        FROM enc e JOIN pt ON pt.sub = e.sub AND pt.code = e.code
         |        WHERE e.vec_id <> pt.qid GROUP BY 1, 2),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |               ORDER BY adist_e12, vec_id) AS rnk FROM adc)
         |SELECT qid, rnk, vec_id, adist_e12 FROM r WHERE rnk <= 5
         |ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      val cb = codebook(s, dir)
      val probes = vsub(ve(s, dir)).filter(col("vec_id") < 10)
      val tabs = adcTables(probes, cb)
      val w = Window.partitionBy(col("qid")).orderBy(col("adist_e12").asc, col("vec_id").asc)
      codesArr(s, dir).join(broadcast(tabs), expr("true"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), adcScore(col("tab"), col("codes")).as("adist_e12"))
        .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
        .select(col("qid"), col("rnk").cast("long").as("rnk"), col("vec_id"), col("adist_e12"))
        .orderBy("qid", "rnk")
    },

    // IVFADC + exact refine: coarse route bounds candidates to nProbe
    // cells, ADC ranks the cells' codes, only the top-R shortlist pays
    // a full-precision read for the exact cosine re-rank.
    Q("qn33_ann_ivfpq_refine", sqlQn33) { (s, dir) =>
      qn33Plan(s, dir)
    },

    // RESIDUAL IVFADC (by_residual — the FAISS-default refinement of
    // qn33): codebooks train on v - coarse_centroid instead of v, so
    // the K codewords spend their resolution on the WITHIN-cell
    // geometry rather than re-describing the coarse structure the
    // route already resolved. The probe side pays one distance table
    // per PROBED CELL (nProbe x M x K integer entries per probe —
    // still broadcast-class) because the probe's residual differs per
    // cell; the candidate cost is unchanged (M lookups, keyed by the
    // candidate's own cell). Measured on the fixture: the residual
    // shortlist surfaces strictly better candidates than qn32/qn33's
    // whole-space codebook at the same M x K budget.
    Q("qn36_ann_ivfpq_residual", sqlQn36) { (s, dir) =>
      qn36Plan(s, dir)
    },

    // Persisted IVFADC under the DRIVER gate (the qn10b discipline,
    // until now pinned only in PQSpec): build the two-temperature
    // index fresh from the corpus, probe it through the serving entry
    // — the result must hash-match qn33's in-flight oracle because the
    // build persists the same deterministic assignment, codebook, and
    // codes, and the probe replays the same route/ADC/refine chain
    // from the stored artifacts.
    Q("qn39_ann_ivfpq_persisted", sqlQn33) { (s, dir) =>
      // Pristine build shared with qn54/qn55 (IndexMemo: one build per
      // family per session — the production build-once/probe-many shape).
      val path = IndexMemo.pristine(s, dir, "pq")(buildPqIndex(s, dir, _))
      probePqIndex(s, dir, path, 4, 5)
    },

    // FILTERED search on the PQ tier (round 17 — the qn53 semantics):
    // the allowed-ids frame semi-joins the candidates before the ADC
    // shortlist, so the top-R/top-k are exact among allowed rows.
    Q("qn54_ann_ivfpq_filtered",
      sqlIvfPq("SELECT vec_id, embedding FROM embeddings", fixturePq,
        candFilter = "a.vec_id % 3 = 1")) { (s, dir) =>
      val path = IndexMemo.pristine(s, dir, "pq")(buildPqIndex(s, dir, _))
      probePqIndexWith(s,
        Tables.embeddings(s, dir).filter(col("vec_id") < 10)
          .select("vec_id", "embedding"),
        path, 4, 5,
        allowed = Some(Tables.embeddings(s, dir)
          .filter(col("vec_id") % 3 === 1).select("vec_id")))
    },

    // DELETE on the PQ tier (round 17 — the qn52 verb at this rung,
    // closing the verbs x rungs matrix): tombstone a deterministic
    // seventh, then probe — codebooks, assignment and codes stay the
    // FULL corpus's (the index predates the delete); only the ADC
    // candidate set excludes the tombstoned rows, which the oracle
    // replays as a candidate filter on the same route/ADC/refine chain.
    Q("qn55_ann_ivfpq_deletes",
      sqlIvfPq("SELECT vec_id, embedding FROM embeddings", fixturePq,
        candFilter = "a.vec_id % 7 <> 0")) { (s, dir) =>
      val path = IndexMemo.mutableCopy(s, dir, "pq")(buildPqIndex(s, dir, _))
      delete(s,
        Tables.embeddings(s, dir).filter(col("vec_id") % 7 === 0).select("vec_id"),
        path)
      probePqIndex(s, dir, path, 4, 5)
    },

    // The RESIDUAL persisted form: the meta side's residual flag must carry
    // the encoding through build -> store -> probe dispatch, gated
    // against qn36's oracle.
    Q("qn40_ann_ivfpq_residual_persisted", sqlQn36) { (s, dir) =>
      val path = Similarity.newIndexDir()
      buildPqIndex(s, dir, path, residual = true)
      probePqIndex(s, dir, path, 4, 5)
    },

    // ANN recall as a DRIVER-GATED contract (the q13b HLL-bound
    // pattern): each quantized variant's top-5 is intersected with the
    // EXACT-cosine top-5 over the SAME routed cells (the
    // route-conditional denominator — isolating ADC+refine fidelity
    // from the IVF miss rate, which is the corpus's geometry, not the
    // operator's), and the query emits `recall_ok = hits >= floor` as
    // a literal the oracle replays as TRUE. A recall collapse — the
    // correlated-hyperplane class of bug, a misaddressed ADC table, a
    // scrambled shortlist — goes CORRECTNESS-red instead of
    // battery-only. The floors are COLLAPSE tripwires, not a quality
    // SLA: the driver fixture is unstructured noise, where pairwise
    // cosines are near-ties inside the quantization error and the
    // 16-wide shortlist holds a shrinking share of the in-cell top-5
    // (measured on this fixture: ivfpq 20/50, residual 7/50 at
    // sf0.01; 12/50 and 4/50 at sf0.1) — the quality story on
    // CLUSTERABLE corpora is the pq battery's nProbe curve and
    // PQSpec's >= 40/50 clustered floor. A broken route/table/refine
    // scores ~chance (<2/50) and trips both floors at any sf.
    Q("qn41_ann_recall_floor",
      """SELECT variant, recall_ok FROM (VALUES ('ivfpq', TRUE), ('residual', TRUE))
        |  t(variant, recall_ok) ORDER BY variant""".stripMargin) { (s, dir) =>
      val v = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"), l2normNative(col("embedding")).as("nrm"))
      val cents = coarseCents(v)
      val asg = coarseAssign(v, cents)
      val cScore = e6(cosine(dotNative(col("ce"), col("embedding")), col("cn"), col("nrm")))
      val probesV = v.filter(col("vec_id") < 10)
      val wRoute = Window.partitionBy(col("probe_id")).orderBy(col("cscore").desc, col("cent_id").asc)
      val pc = probesV.select(col("vec_id").as("probe_id"), col("embedding"), col("nrm"))
        .join(broadcast(cents), expr("true"))
        .select(col("probe_id"), col("cent_id"), cScore.as("cscore"))
        .withColumn("rn", row_number().over(wRoute)).filter(col("rn") <= 4)
        .select(col("probe_id"), col("cent_id"))
      // The exact-in-cell top-5: full-precision cosine over exactly the
      // candidates the route admits — what a perfect compressed tier
      // would return.
      val refScore = e6(cosine(dotNative(col("qe"), col("de")), col("qn"), col("dn")))
      val wEx = Window.partitionBy(col("qid")).orderBy(col("score_e6").desc, col("vec_id").asc)
      val exact = asg.join(broadcast(pc), Seq("cent_id"))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id").as("qid"), col("vec_id"))
        .join(broadcast(probesV.select(col("vec_id").as("qid"),
          col("embedding").as("qe"), col("nrm").as("qn"))), Seq("qid"))
        .join(v.select(col("vec_id"), col("embedding").as("de"), col("nrm").as("dn")),
          Seq("vec_id"))
        .select(col("qid"), col("vec_id"), refScore.as("score_e6"))
        .withColumn("rnk", row_number().over(wEx)).filter(col("rnk") <= 5)
        .select(col("qid"), col("vec_id")).localCheckpoint(true)
      def hitsOf(approx: DataFrame): Long =
        approx.select(col("qid"), col("vec_id"))
          .join(exact, Seq("qid", "vec_id"), "left_semi").count()
      val rows: java.util.List[org.apache.spark.sql.Row] = java.util.Arrays.asList(
        org.apache.spark.sql.Row("ivfpq", hitsOf(qn33Plan(s, dir)) >= ivfpqRecallFloorHits),
        org.apache.spark.sql.Row("residual", hitsOf(qn36Plan(s, dir)) >= residualRecallFloorHits))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("variant", org.apache.spark.sql.types.StringType, false),
        org.apache.spark.sql.types.StructField("recall_ok", org.apache.spark.sql.types.BooleanType, false)))
      s.createDataFrame(rows, schema).orderBy("variant")
    },

    // Multi-step Lloyd as a PARAMETER (round-13 verdict task 6): the
    // training depth `iters` unrolls extra deterministic steps — each
    // re-seeds from the previous step's means, so the chain stays
    // RNG-free and the oracle replays it as chained CTE blocks. This
    // registration pins iters=2 end-to-end (seeds -> cbl -> re-seed ->
    // cbl2, with the empty-cell rule retaining the STEP-1 mean); the
    // registered default everywhere else stays iters=1 (hash
    // stability). Whether extra steps buy recall at FIXED compression
    // is a battery question (BENCH_NOTES pqiters).
    Q("qn42_pq_codebooks_iters2",
      s"""WITH ${sqlPqCtes()},
         |${sqlLloydStep2("vsub", "cbl", "2")}
         |SELECT sub, cid, pos, n, centroid_e6 FROM cbl2
         |ORDER BY sub, cid, pos""".stripMargin) { (s, dir) =>
      trainCodebookLong(ve(s, dir), fixturePq, iters = 2)
        .orderBy("sub", "cid", "pos")
    },

    // OPQ rotation rung (Ge et al., "Optimized Product Quantization",
    // CVPR 2013 — public knowledge): rotate the space BEFORE the
    // subspace split so the M subspaces share the variance instead of
    // inheriting whatever correlation structure the raw dim order has.
    // The full OPQ alternates rotation and codebook updates; the
    // RNG-free stand-in here is a FIXED bit-reversal permutation of
    // the 64 dims (a literal column transform, so the oracle replays
    // it exactly) — rotation-as-permutation captures the mechanism
    // (decorrelate the split) while keeping the qn19 no-RNG rule.
    // Same qn32 ADC-brute-scan shape over the rotated space; ADC
    // distances are invariant under the permutation of WITHIN-subspace
    // dims but the subspace MEMBERSHIP changes, which is the point.
    // The recall delta vs the unrotated split is priced in the pqopq
    // battery at 500k (BENCH_NOTES).
    Q("qn43_ann_pq_adc_opq", sqlQn43) { (s, dir) =>
      adcBruteTopK(s, dir, fixturePq, rotate = true, 5,
        cbTag = "pqcb:opq", codesTag = "pqcodes:opq")
    }
  )

  /** Bit-reversal permutation of the 64 dims (6-bit index reversal) —
    * qn43's deterministic rotation stand-in. A self-inverse-free full
    * permutation: dim i of the rotated space reads dim rev6(i) of the
    * raw space. */
  private[graft] lazy val opqPerm: Array[Int] = // lazy: consumed during `all`'s init above
    Array.tabulate(64)(i => Integer.reverse(i) >>> 26)

  /** The OPQ-rotated e6 view: ONE `transform` over the literal
    * permutation array. NOT `array(64 x element_at(...))` — that
    * spelling inlines 64 copies of whatever expression produced emb6
    * into every consumer (CollapseProject), blows the generated-method
    * size, and drops the whole encode stage to interpreted eval
    * (measured: 333 s for a 20k-row encode vs ~1 s in codegen — the
    * round-15 materialize-HOF-arrays trap in a new costume). The
    * single-HOF form keeps the stage in codegen with one cheap
    * fallback call per row. */
  private def rotatedVe(ve6F: DataFrame): DataFrame =
    ve6F.select(col("vec_id"),
      transform(lit(opqPerm.map(_.toLong)),
        p => element_at(col("emb6"), p.cast("int") + 1)).as("emb6"))

  /** The e6 view of the corpus under a LEARNED dense rotation: the
    * codegen'd [[graft.functions.MatVecFD]] matvec, then the same e6
    * floor every pipeline entry applies — rotated doubles land in the
    * identical comparable-integer space as [[ve]]'s raw floats. */
  private def learnedVe(s: SparkSession, dir: String, r: Array[Double],
      dim: Int): DataFrame =
    learnedVe6Of(graft.Tables.embeddings(s, dir), r, dim)

  /** [[learnedVe]] over an arbitrary (vec_id, embedding, ...) frame —
    * the form the persisted lifecycle's append/rebalance re-encode
    * paths share with the build. */
  private def learnedVe6Of(v: DataFrame, r: Array[Double], dim: Int): DataFrame =
    v.select(col("vec_id"),
      transform(graft.functions.VectorExprs.matVecNative(col("embedding"), r, dim),
        x => floor(x * 1000000).cast("long")).as("emb6"))

  /** Stage the OPTIONAL learned-rotation side (round-16 verdict task
    * 7): one row — dim + the row-major D x D matrix. It rides the same
    * atomic [[IndexSwap]] commit as the five declared sides, so codes
    * encoded in the rotated space and the rotation that defines it are
    * never separable; absence is the legitimate unrotated state (the
    * [[rotationAt]] read dispatches on existence at the PINNED root,
    * which is consistent because version dirs are immutable). */
  private def stageRotation(s: SparkSession, path: String, r: Array[Double],
      dim: Int): Unit = {
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(org.apache.spark.sql.Row(dim, r.toSeq))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("dim", org.apache.spark.sql.types.IntegerType, false),
      org.apache.spark.sql.types.StructField("mat",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, false), false)))
    s.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite")
      .parquet(IndexSwap.tmp(path, "rotation").toString)
  }

  /** The stored learned rotation at a PINNED version root, if any —
    * (row-major matrix, dim). One existence check + one tiny read per
    * serving call; the serve handle caches it. */
  private[graft] def rotationAt(s: SparkSession, root: String): Option[(Array[Double], Int)] = {
    val p = new org.apache.hadoop.fs.Path(IndexSwap.sideAt(root, "rotation"))
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val row = s.read.parquet(p.toString).head()
      Some((row.getSeq[Double](1).toArray, row.getInt(0)))
    }
  }

  /** Learn an OPQ rotation (Ge et al. CVPR 2013, the non-parametric
    * alternation) on a DRIVER-SIDE sample: per iteration, (a) fit
    * per-subspace codebooks in the current rotated space (two Lloyd
    * steps, seeds = the first K sample subvectors in sample order),
    * decode to the quantized reconstruction Y_hat, then (b) solve
    * R = argmin ||R X - Y_hat||_F by orthogonal Procrustes
    * ([[graft.functions.Procrustes]]). Deterministic end to end: the
    * caller passes the sample in a fixed order, seeding and
    * tie-breaks are index-ordered, and the SVD is fixed-sweep Jacobi —
    * no RNG anywhere (the qn19 rule), so a battery arm replays
    * identically. `initBitrev` starts the alternation from the qn43
    * bit-reversal permutation instead of identity (the round-15
    * verdict question: keep or retire bit-reversal as the init).
    * Cost: O(iters x n x (D^2 + M x K x subDim)) driver flops — ~1 s
    * for n=10k, D=64, paid once per build. Returns R row-major
    * (rotated = R x raw). */
  private[graft] def opqLearnRotation(sample: Array[Array[Float]], p: PqParams,
      iters: Int, initBitrev: Boolean): Array[Double] = {
    val d = p.dim
    val n = sample.length
    require(n >= p.k, s"opqLearnRotation: sample size $n < K=${p.k}")
    require(sample.forall(_.length == d),
      s"opqLearnRotation: sample width != ${p.dim}")
    var r: Array[Double] =
      if (!initBitrev) Array.tabulate(d * d)(i => if (i / d == i % d) 1.0 else 0.0)
      else {
        // rotated dim i reads raw dim bitrev(i) — R[i][bitrev(i)] = 1.
        // Generalized to any power-of-two d (round-16 ADVICE: the fixed
        // 64-entry opqPerm threw past d=64 and silently corrupted the
        // init below it); d=64 reproduces opqPerm exactly.
        require((d & (d - 1)) == 0,
          s"opqLearnRotation: bit-reversal init needs a power-of-two dim, got $d")
        val bits = Integer.numberOfTrailingZeros(d)
        val m = new Array[Double](d * d)
        var i = 0
        while (i < d) { m(i * d + (Integer.reverse(i) >>> (32 - bits))) = 1.0; i += 1 }
        m
      }
    val y = Array.ofDim[Double](n, d)
    val yhat = Array.ofDim[Double](n, d)
    var it = 0
    while (it < iters) {
      // Y = R X
      var i = 0
      while (i < n) {
        val x = sample(i)
        var rr = 0
        while (rr < d) {
          var acc = 0.0
          val base = rr * d
          var c = 0
          while (c < d) { acc += r(base + c) * x(c); c += 1 }
          y(i)(rr) = acc
          rr += 1
        }
        i += 1
      }
      // Per-subspace codebook fit + decode.
      var m = 0
      while (m < p.m) {
        val off = m * p.subDim
        var cents = Array.tabulate(p.k)(c =>
          java.util.Arrays.copyOfRange(y(c % n), off, off + p.subDim))
        def nearest(row: Array[Double]): Int = {
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < p.k) {
            var dd = 0.0
            var j = 0
            while (j < p.subDim) {
              val diff = row(off + j) - cents(c)(j); dd += diff * diff; j += 1
            }
            if (dd < bestD) { bestD = dd; best = c } // strict: ties keep low index
            c += 1
          }
          best
        }
        var step = 0
        while (step < 2) {
          val sums = Array.ofDim[Double](p.k, p.subDim)
          val cnt = new Array[Int](p.k)
          var i2 = 0
          while (i2 < n) {
            val a = nearest(y(i2))
            var j = 0
            while (j < p.subDim) { sums(a)(j) += y(i2)(off + j); j += 1 }
            cnt(a) += 1
            i2 += 1
          }
          cents = Array.tabulate(p.k)(c =>
            if (cnt(c) == 0) cents(c)
            else Array.tabulate(p.subDim)(j => sums(c)(j) / cnt(c)))
          step += 1
        }
        var i3 = 0
        while (i3 < n) {
          val a = nearest(y(i3))
          var j = 0
          while (j < p.subDim) { yhat(i3)(off + j) = cents(a)(j); j += 1 }
          i3 += 1
        }
        m += 1
      }
      // M = sum Y_hat X^T, then the Procrustes solve.
      val mm = new Array[Double](d * d)
      var i4 = 0
      while (i4 < n) {
        val x = sample(i4)
        var rr = 0
        while (rr < d) {
          val yv = yhat(i4)(rr)
          if (yv != 0.0) {
            val base = rr * d
            var c = 0
            while (c < d) { mm(base + c) += yv * x(c); c += 1 }
          }
          rr += 1
        }
        i4 += 1
      }
      r = graft.functions.Procrustes.orthogonalProcrustes(mm, d)
      it += 1
    }
    r
  }

  /** qn32's ADC brute scan parameterized by sizing and rotation — the
    * shared form behind qn43 and the pqopq battery's recall-delta
    * arms. Returns (qid, rnk, vec_id, adist_e12), top-k per probe by
    * approximate distance (no exact refine: this measures the
    * quantizer's own fidelity). `learnedR` supersedes `rotate`: the
    * corpus rotates through the dense learned matrix instead of the
    * bit-reversal permutation. */
  private[graft] def adcBruteTopK(s: SparkSession, dir: String, p: PqParams,
      rotate: Boolean, k: Int, cbTag: String, codesTag: String,
      learnedR: Option[Array[Double]] = None): DataFrame = {
    val v6 = learnedR.map(learnedVe(s, dir, _, p.dim))
      .getOrElse(if (rotate) rotatedVe(ve(s, dir)) else ve(s, dir))
    val cb = Dedup.memoized(cbTag, s, dir, 0, 0) {
      cbPivot(trainCodebookLong(v6, p)).localCheckpoint(true)
    }
    val codes = Dedup.memoized(codesTag, s, dir, 0, 0) {
      codesWith(v6, cb).localCheckpoint(true)
    }
    val tabs = adcTablesKeyed(
      vsubKeyed(v6.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "qid"),
        Seq("qid"), p), cb, Seq("qid"), p)
    val w = Window.partitionBy(col("qid")).orderBy(col("adist_e12").asc, col("vec_id").asc)
    codes.join(broadcast(tabs), expr("true"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), adcScore(col("tab"), col("codes"), p).as("adist_e12"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("vec_id"), col("adist_e12"))
      .orderBy("qid", "rnk")
  }

  /** qn43's oracle: qn32's text with the corpus CTE swapped for the
    * bit-reversal-rotated view (the permutation as a literal list). */
  private def sqlQn43: String = {
    val permList = opqPerm.mkString("[", ", ", "]")
    val rotVe =
      s"""ve0 AS (SELECT vec_id, ${sqlE6List("embedding")} AS emb0
         |        FROM embeddings),
         |ve AS (SELECT vec_id, [emb0[p + 1] for p in $permList] AS emb6 FROM ve0)""".stripMargin
    s"""WITH ${sqlPqCtesVe(rotVe)},
       |${sqlProbeTab("vec_id < 10")},
       |adc AS (SELECT pt.qid, e.vec_id, CAST(SUM(pt.td) AS BIGINT) AS adist_e12
       |        FROM enc e JOIN pt ON pt.sub = e.sub AND pt.code = e.code
       |        WHERE e.vec_id <> pt.qid GROUP BY 1, 2),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |               ORDER BY adist_e12, vec_id) AS rnk FROM adc)
       |SELECT qid, rnk, vec_id, adist_e12 FROM r WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin
  }

  /** One UNROLLED extra Lloyd step as CTEs: re-seed from `$prevCbl`'s
    * means, re-assign, re-mean — the SQL twin of the `iters` loop in
    * [[trainCodebookLong]], empty cells retaining the previous step's
    * centroid. */
  private def sqlLloydStep2(sub: String, prevCbl: String, t: String,
      p: PqParams = fixturePq): String =
    s"""seeds$t AS (SELECT sub, cid, list(centroid_e6 ORDER BY pos) AS ce6
       |            FROM $prevCbl GROUP BY sub, cid),
       |sasg$t AS (SELECT vec_id, sub, v6, cid FROM (
       |         SELECT v.vec_id, v.sub, v.v6, sd.cid,
       |                ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub
       |                  ORDER BY ${sqlD2("v.v6", "sd.ce6")}, sd.cid) AS rn
       |         FROM $sub v JOIN seeds$t sd USING (sub)) WHERE rn = 1),
       |ml$t AS (SELECT sub, cid, i AS pos, COUNT(*) AS n,
       |              CAST(floor(CAST(SUM(v6[i+1]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m6
       |       FROM sasg$t, (SELECT unnest(range(0, ${p.subDim})) AS i) GROUP BY 1, 2, 3),
       |cbl$t AS (SELECT sdl.sub, sdl.cid, sdl.pos,
       |               COALESCE(ml$t.n, 0) AS n, COALESCE(ml$t.m6, sdl.sv) AS centroid_e6
       |        FROM (SELECT sd.sub, sd.cid, i AS pos, sd.ce6[i+1] AS sv
       |              FROM seeds$t sd, (SELECT unnest(range(0, ${p.subDim})) AS i)) sdl
       |        LEFT JOIN ml$t ON ml$t.sub = sdl.sub AND ml$t.cid = sdl.cid AND ml$t.pos = sdl.pos)""".stripMargin

  /** qn41's collapse floors, in HITS out of 50 (10 probes x top-5):
    * the fixture-measured operating points are 20/50 (ivfpq) and 7/50
    * (residual) at the sf0.01 gate, 12/50 and 4/50 at sf0.1 — see
    * qn41's registration comment for why the noise fixture bounds
    * these low — and a misrouted or misaddressed compressed tier
    * scores ~chance (<2/50). The floors sit STRICTLY BETWEEN chance
    * and the measured minimum (round-14 ADVICE: a floor equal to the
    * operating point has zero margin, so a benign fixture or
    * quantization perturbation would flip the CORRECTNESS gate red
    * even though these are collapse tripwires, not SLAs): ivfpq 8
    * (chance <2, measured min 12), residual 3 (chance <2, measured
    * min 4). Only a genuine collapse — ~chance scoring — trips them. */
  private[graft] val ivfpqRecallFloorHits = 8L
  private[graft] val residualRecallFloorHits = 3L

  /** qn33's oracle (shared with qn39's persisted gate): stride coarse
    * tier, argmax assignment, 4-cell routing, ADC over the candidates,
    * top-[[adcTopR]] shortlist, exact cosine re-rank. */
  private def sqlQn33: String =
    sqlIvfPq("SELECT vec_id, embedding FROM embeddings", fixturePq)

  /** The route/ADC/refine oracle over ANY corpus SELECT and sizing —
    * qn33/qn39/qn40 instantiate it at the fixture (the raw embeddings
    * table, 4x16x16); qn51 at the 256-dim wide derivation (4x64x16).
    * One oracle text, two widths: the dim-parameterized PQ tier and
    * its DuckDB replay share every route/train/encode/refine rule. */
  private[operators] def sqlIvfPq(corpusSql: String, p: PqParams,
      candFilter: String = "TRUE"): String =
    s"""WITH corpus AS ($corpusSql),
       |${sqlPqCtesVe(s"ve AS (SELECT vec_id, ${sqlE6List("embedding")} AS emb6 FROM corpus)", p)},
       |${sqlProbeTab("vec_id < 10")},
       |v AS (SELECT vec_id, embedding, ${sqlL2norm("embedding")} AS nrm FROM corpus),
       |ist AS (SELECT GREATEST(1, COUNT(*) // 16) AS stride FROM v),
       |cents AS (SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn FROM v, ist
       |          WHERE vec_id % stride = 0 AND vec_id < stride * 16),
       |asg AS (SELECT vec_id, cent_id FROM (
       |        SELECT v.vec_id, c.cent_id,
       |               ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |                 ORDER BY ${sqlCosE6("c.ce", "v.embedding", "c.cn", "v.nrm")} DESC,
       |                          c.cent_id) AS rn
       |        FROM v, cents c) WHERE rn = 1),
       |pc AS (SELECT probe_id, cent_id FROM (
       |       SELECT p.vec_id AS probe_id, c.cent_id,
       |              ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |                ORDER BY ${sqlCosE6("c.ce", "p.embedding", "c.cn", "p.nrm")} DESC,
       |                         c.cent_id) AS rn
       |       FROM (SELECT * FROM v WHERE vec_id < 10) p, cents c) WHERE rn <= 4),
       |cand AS (SELECT pc.probe_id AS qid, a.vec_id FROM asg a JOIN pc USING (cent_id)
       |         WHERE a.vec_id <> pc.probe_id AND ($candFilter)),
       |adcc AS (SELECT c.qid, c.vec_id, CAST(SUM(pt.td) AS BIGINT) AS adist_e12
       |         FROM cand c JOIN enc e ON e.vec_id = c.vec_id
       |              JOIN pt ON pt.qid = c.qid AND pt.sub = e.sub AND pt.code = e.code
       |         GROUP BY 1, 2),
       |sl AS (SELECT qid, vec_id FROM (
       |       SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |                   ORDER BY adist_e12, vec_id) AS rnk FROM adcc)
       |       WHERE rnk <= $adcTopR),
       |ref AS (SELECT sl.qid, sl.vec_id,
       |               ${sqlCosE6("q.embedding", "d.embedding", "q.nrm", "d.nrm")} AS score_e6
       |        FROM sl JOIN v q ON q.vec_id = sl.qid JOIN v d ON d.vec_id = sl.vec_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |               ORDER BY score_e6 DESC, vec_id) AS rnk FROM ref)
       |SELECT qid, rnk, vec_id, score_e6 FROM r WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin

  /** qn33's plan (shared doc: see the registration above). */
  private def qn33Plan(s: SparkSession, dir: String): DataFrame = {
    val v = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), l2normNative(col("embedding")).as("nrm"))
    // IVF coarse tier: the Similarity stride rule, cosine argmax.
    val cents = coarseCents(v)
    val asg = coarseAssign(v, cents)
    val cScore = e6(cosine(dotNative(col("ce"), col("embedding")), col("cn"), col("nrm")))
    val probesV = v.filter(col("vec_id") < 10)
    val wRoute = Window.partitionBy(col("probe_id")).orderBy(col("cscore").desc, col("cent_id").asc)
    val pc = probesV.select(col("vec_id").as("probe_id"), col("embedding"), col("nrm"))
      .join(broadcast(cents), expr("true"))
      .select(col("probe_id"), col("cent_id"), cScore.as("cscore"))
      .withColumn("rn", row_number().over(wRoute)).filter(col("rn") <= 4)
      .select(col("probe_id"), col("cent_id"))
    val cand = asg.join(broadcast(pc), Seq("cent_id"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id").as("qid"), col("vec_id"))
    // ADC over the candidates: codes ride a broadcast-table lookup.
    val tabs = adcTables(vsub(ve(s, dir)).filter(col("vec_id") < 10), codebook(s, dir))
    val scored = cand.join(codesArr(s, dir), Seq("vec_id"))
      .join(broadcast(tabs), Seq("qid"))
      .select(col("qid"), col("vec_id"), adcScore(col("tab"), col("codes")).as("adist_e12"))
    val wSl = Window.partitionBy(col("qid")).orderBy(col("adist_e12").asc, col("vec_id").asc)
    val sl = scored.withColumn("rnk", row_number().over(wSl))
      .filter(col("rnk") <= adcTopR).select(col("qid"), col("vec_id"))
    // Exact refine: only the shortlist reads full-precision floats.
    val refScore = e6(cosine(dotNative(col("qe"), col("de")), col("qn"), col("dn")))
    val wRef = Window.partitionBy(col("qid")).orderBy(col("score_e6").desc, col("vec_id").asc)
    sl.join(broadcast(probesV.select(col("vec_id").as("qid"),
        col("embedding").as("qe"), col("nrm").as("qn"))), Seq("qid"))
      .join(v.select(col("vec_id"), col("embedding").as("de"), col("nrm").as("dn")),
        Seq("vec_id"))
      .select(col("qid"), col("vec_id"), refScore.as("score_e6"))
      .withColumn("rnk", row_number().over(wRef)).filter(col("rnk") <= 5)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("vec_id"), col("score_e6"))
      .orderBy("qid", "rnk")
  }

  /** qn36's oracle (shared with qn40's persisted gate). */
  private def sqlQn36: String =
    s"""WITH v AS (SELECT vec_id, embedding, ${sqlL2norm("embedding")} AS nrm FROM embeddings),
         |ist AS (SELECT GREATEST(1, COUNT(*) // 16) AS stride FROM v),
         |cents AS (SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn FROM v, ist
         |          WHERE vec_id % stride = 0 AND vec_id < stride * 16),
         |asg AS (SELECT vec_id, cent_id FROM (
         |        SELECT v.vec_id, c.cent_id,
         |               ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |                 ORDER BY ${sqlCosE6("c.ce", "v.embedding", "c.cn", "v.nrm")} DESC,
         |                          c.cent_id) AS rn
         |        FROM v, cents c) WHERE rn = 1),
         |cent6 AS (SELECT cent_id, ${sqlE6List("ce")} AS c6full FROM cents),
         |ve AS (SELECT vec_id, ${sqlE6List("embedding")} AS emb6 FROM embeddings),
         |subs AS (SELECT unnest(range(0, $pqM)) AS sub),
         |rv AS (SELECT ve.vec_id, [ve.emb6[i+1] - c6.c6full[i+1] for i in range(0, ${pqM * pqSubDim})] AS r6
         |       FROM ve JOIN asg USING (vec_id) JOIN cent6 c6 ON c6.cent_id = asg.cent_id),
         |rsub AS (SELECT vec_id, sub, list_slice(r6, sub*$pqSubDim + 1, sub*$pqSubDim + $pqSubDim) AS v6
         |         FROM rv, subs),
         |${sqlTrainEncCtes("rsub", "rv")},
         |pc AS (SELECT probe_id, cent_id FROM (
         |       SELECT p.vec_id AS probe_id, c.cent_id,
         |              ROW_NUMBER() OVER (PARTITION BY p.vec_id
         |                ORDER BY ${sqlCosE6("c.ce", "p.embedding", "c.cn", "p.nrm")} DESC,
         |                         c.cent_id) AS rn
         |       FROM (SELECT * FROM v WHERE vec_id < 10) p, cents c) WHERE rn <= 4),
         |pr AS (SELECT pc.probe_id AS qid, pc.cent_id,
         |              [pe.emb6[i+1] - c6.c6full[i+1] for i in range(0, ${pqM * pqSubDim})] AS r6
         |       FROM pc JOIN ve pe ON pe.vec_id = pc.probe_id JOIN cent6 c6 USING (cent_id)),
         |prsub AS (SELECT qid, cent_id, sub, list_slice(r6, sub*$pqSubDim + 1, sub*$pqSubDim + $pqSubDim) AS p6
         |          FROM pr, subs),
         |pt AS (SELECT prsub.qid, prsub.cent_id, cb.sub, cb.code, ${sqlD2("prsub.p6", "cb.c6")} AS td
         |       FROM prsub JOIN cb ON cb.sub = prsub.sub),
         |cand AS (SELECT pc.probe_id AS qid, a.vec_id, a.cent_id FROM asg a JOIN pc USING (cent_id)
         |         WHERE a.vec_id <> pc.probe_id),
         |adcc AS (SELECT c.qid, c.vec_id, CAST(SUM(pt.td) AS BIGINT) AS adist_e12
         |         FROM cand c JOIN enc e ON e.vec_id = c.vec_id
         |              JOIN pt ON pt.qid = c.qid AND pt.cent_id = c.cent_id
         |                     AND pt.sub = e.sub AND pt.code = e.code
         |         GROUP BY 1, 2),
         |sl AS (SELECT qid, vec_id FROM (
         |       SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |                   ORDER BY adist_e12, vec_id) AS rnk FROM adcc)
         |       WHERE rnk <= $adcTopR),
         |ref AS (SELECT sl.qid, sl.vec_id,
         |               ${sqlCosE6("q.embedding", "d.embedding", "q.nrm", "d.nrm")} AS score_e6
         |        FROM sl JOIN v q ON q.vec_id = sl.qid JOIN v d ON d.vec_id = sl.vec_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |               ORDER BY score_e6 DESC, vec_id) AS rnk FROM ref)
         |SELECT qid, rnk, vec_id, score_e6 FROM r WHERE rnk <= 5
         |ORDER BY qid, rnk""".stripMargin

  /** qn36's plan (shared doc: see the registration above). */
  private def qn36Plan(s: SparkSession, dir: String): DataFrame = {
      val v = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"), l2normNative(col("embedding")).as("nrm"))
      val cents = coarseCents(v)
      val asg = coarseAssign(v, cents)
      val cent6 = cents.select(col("cent_id"),
        transform(col("ce"), x => floor(x.cast("double") * 1000000).cast("long")).as("c6full"))
      val veF = ve(s, dir)
      val rve = residualVe(veF, asg, cents)
      val rcb = Dedup.memoized("pqrcb", s, dir, 16L, 0) {
        cbPivot(trainCodebookLong(rve)).localCheckpoint(true)
      }
      val rcodes = Dedup.memoized("pqrcodes", s, dir, 16L, 0) {
        codesWith(rve, rcb).localCheckpoint(true)
      }
      // Flat routing of the declared probes (the qn33 shape).
      val cScore = e6(cosine(dotNative(col("ce"), col("embedding")), col("cn"), col("nrm")))
      val probesV = v.filter(col("vec_id") < 10)
      val wRoute = Window.partitionBy(col("probe_id")).orderBy(col("cscore").desc, col("cent_id").asc)
      val pc = probesV.select(col("vec_id").as("probe_id"), col("embedding"), col("nrm"))
        .join(broadcast(cents), expr("true"))
        .select(col("probe_id"), col("cent_id"), cScore.as("cscore"))
        .withColumn("rn", row_number().over(wRoute)).filter(col("rn") <= 4)
        .select(col("probe_id"), col("cent_id"))
      // One residual table per (probe, probed cell).
      val pr = pc.join(veF.withColumnRenamed("vec_id", "probe_id"), Seq("probe_id"))
        .join(broadcast(cent6), Seq("cent_id"))
        .select(col("probe_id").as("qid"), col("cent_id"),
          zip_with(col("emb6"), col("c6full"), (a, b) => a - b).as("emb6"))
      val tabs = adcTablesKeyed(vsubKeyed(pr, Seq("qid", "cent_id")), rcb, Seq("qid", "cent_id"))
      val cand = asg.join(broadcast(pc), Seq("cent_id"))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id").as("qid"), col("vec_id"), col("cent_id"))
      val scored = cand.join(rcodes, Seq("vec_id"))
        .join(broadcast(tabs), Seq("qid", "cent_id"))
        .select(col("qid"), col("vec_id"), adcScore(col("tab"), col("codes")).as("adist_e12"))
      val wSl = Window.partitionBy(col("qid")).orderBy(col("adist_e12").asc, col("vec_id").asc)
      val sl = scored.withColumn("rnk", row_number().over(wSl))
        .filter(col("rnk") <= adcTopR).select(col("qid"), col("vec_id"))
      val refScore = e6(cosine(dotNative(col("qe"), col("de")), col("qn"), col("dn")))
      val wRef = Window.partitionBy(col("qid")).orderBy(col("score_e6").desc, col("vec_id").asc)
      sl.join(broadcast(probesV.select(col("vec_id").as("qid"),
          col("embedding").as("qe"), col("nrm").as("qn"))), Seq("qid"))
        .join(v.select(col("vec_id"), col("embedding").as("de"), col("nrm").as("dn")),
          Seq("vec_id"))
        .select(col("qid"), col("vec_id"), refScore.as("score_e6"))
        .withColumn("rnk", row_number().over(wRef)).filter(col("rnk") <= 5)
        .select(col("qid"), col("rnk").cast("long").as("rnk"), col("vec_id"), col("score_e6"))
        .orderBy("qid", "rnk")
  }

  // ---- persisted IVFADC index ----------------------------------------

  /** Materialize the IVFADC index at `path` as a DATA LAYOUT — the
    * two-temperature shape a 100 TB vector store runs:
    *
    *  - `$path/codes`: the HOT side — (vec_id, codes[pqM]) partitioned
    *    by coarse cent_id. At scale this is the only table a probe
    *    scans: M small ints per vector (64x under the floats), and
    *    partition pruning opens only the probed cells' files.
    *  - `$path/vectors`: the COLD side — full-precision (vec_id,
    *    embedding, nrm), same cent_id partitioning. Only the ADC
    *    shortlist's rows are ever read (the refine re-rank), and the
    *    probed-cell partition filter bounds even that scan.
    *  - `$path/codebooks` (M x K rows) and `$path/centroids` (one row
    *    per coarse cell): driver-manifest-class metadata.
    *
    * The assignment, codebook, and encoding are the qn30/qn31/qn33
    * pipelines verbatim, so a probe of the persisted index replays
    * qn33 bit-exactly (pinned in PQSpec; `nCells` = 16, the fixture
    * default — a real index passes ~sqrt(N)). Both lakes repartition
    * on cent_id before the partitioned write so every cell lands as
    * ONE file instead of (cells x writer-tasks) fragments — at
    * sqrt(N) cells the un-repartitioned write is a small-file
    * explosion.
    *
    * The assignment defaults to the NATIVE flat argmax (round 14,
    * [[nativeCoarseAssign]]): exact, zero-shuffle, bit-parity with
    * qn33 up to the measured [[nativeAssignMaxCells]] bound.
    * `fastAssign = Some(true)` pins the two-tier coarse route instead
    * (the beyond-the-bound default branch;
    * ~N x 2 sqrt(nCells) score rows) — APPROXIMATE by
    * declaration: a vector whose true nearest fine cell sits outside
    * its 2 probed coarse cells lands in a near-optimal cell instead
    * (the qn10e coarse-MISS semantics, applied to layout). Probes
    * still find it whenever their nProbe cells cover where it LANDED,
    * so the cost is a small recall dip, not correctness — priced in
    * the pq battery. `Some(false)` pins the exact native branch. */
  def buildPqIndex(s: SparkSession, dir: String, path: String,
      nCells: Int = 16, fastAssign: Option[Boolean] = None,
      residual: Boolean = false, params: PqParams = fixturePq,
      iters: Int = 1, learnedR: Option[Array[Double]] = None): Unit = {
    require(learnedR.isEmpty || !residual,
      "buildPqIndex: learned rotation composes with whole-space codes only — " +
        "residual encoding subtracts RAW-space centroids, which a rotated " +
        "codebook cannot score")
    recover(s, path) // clear any interrupted prior swap/build staging
    val v = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), l2normNative(col("embedding")).as("nrm"))
    val cents = coarseCents(v, nCells)
    val localCents = s.createDataFrame(
      java.util.Arrays.asList(cents.collect(): _*), cents.schema)
    // Assignment DISPATCH, round-14 form: the default is the NATIVE
    // flat argmax ([[graft.functions.IvfArgmax]] — exact, bit-parity
    // with qn33, zero shuffle; it retired the join+window explosion
    // that made the two-tier approximation worth its recall dip at
    // build scale). The two-tier route remains the branch for centroid
    // tables too large to bake into the task binary
    // ([[nativeAssignMaxBytes]]) — and `fastAssign = Some(true)` pins
    // it for the battery and the coarse-MISS parity specs;
    // `Some(false)` pins the exact branch.
    val useFast = fastAssign.getOrElse(useTwoTier(nCells, dimOf(localCents)))
    val asg =
      if (useFast) fastCoarseAssign(v, localCents)
      else nativeCoarseAssign(v, localCents)
    // `residual = true` stores the qn36 encoding (codebooks trained on
    // v - coarse_centroid; the `meta` side makes the probe's scoring
    // dispatch self-describing). Memo keys carry nCells: the
    // residuals depend on the coarse layout, so a 16-cell build and a
    // sqrt(N)-cell build must never share a cached frame.
    val fastKey = if (useFast) 1 else 0
    // Non-fixture sizings memoize under a params-qualified tag — a
    // 16x256 build and the fixture 4x16 build must never share a
    // cached frame (same reasoning as the nCells key).
    val ptag = (if (params == fixturePq) ""
      else s":${params.m}x${params.subDim}x${params.k}") + itag(iters)
    val rve = if (residual) residualVe(ve(s, dir), asg, localCents) else null
    // Learned-rotation builds train and encode over the ROTATED e6 view
    // (no memo: the rotation is caller-supplied state no tag scheme
    // should try to fingerprint); the rotation itself stages as an
    // optional sixth side below, inside the same atomic commit.
    val lr6 = learnedR.map(r => learnedVe6Of(Tables.embeddings(s, dir), r,
      dimOf(localCents)).localCheckpoint(true))
    val cb =
      if (lr6.isDefined)
        cbPivot(trainCodebookLong(lr6.get, params, iters)).localCheckpoint(true)
      else if (residual) Dedup.memoized(s"pqrcb$ptag", s, dir, nCells.toLong, fastKey) {
        cbPivot(trainCodebookLong(rve, params, iters)).localCheckpoint(true)
      }
      else codebookP(s, dir, params, iters)
    val codes =
      if (lr6.isDefined) codesWith(lr6.get, cb)
      else if (residual) Dedup.memoized(s"pqrcodes$ptag", s, dir, nCells.toLong, fastKey) {
        codesWith(rve, cb).localCheckpoint(true)
      }
      else codesArrP(s, dir, params, iters)
    stagePqSidesAndCommit(s, path, v, asg, cb, codes, localCents, residual, learnedR)
  }

  /** [[buildPqIndex]] over a CALLER-SUPPLIED corpus frame (vec_id,
    * embedding) — the dim-parameterization discipline the flat rungs
    * got in round 16 ([[SQ8.buildSq8IndexFrom]],
    * [[BinarySig.buildBinIndexFrom]], [[IvfSq8.buildIvfSq8IndexFrom]])
    * extended to the PQ tier: `params` sizes the subspace grid at ANY
    * width (qn51 gates M=4 x subDim=64 over the 256-dim wide
    * derivation), and nothing in train / encode / stage / serve knows
    * the fixture width — [[probePqIndexWith]] reads the realized
    * sizing from the stored meta row, so a probe at the wrong width
    * fails loudly in [[vsubKeyed]]'s guard. Plain whole-space encoding
    * only: the residual and learned-R forms stay corpus-memoized
    * through [[buildPqIndex]]. No memoization here — the corpus is
    * caller state no dir-keyed tag should try to fingerprint; the one
    * frame every stage re-reads is localCheckpoint'd instead. */
  private[graft] def buildPqIndexFrom(s: SparkSession, vecs: DataFrame,
      path: String, nCells: Int, params: PqParams, iters: Int = 1): Unit = {
    recover(s, path)
    val v = vecs.select(col("vec_id"), col("embedding"),
      l2normNative(col("embedding")).as("nrm")).localCheckpoint(true)
    val cents = coarseCents(v, nCells)
    val localCents = s.createDataFrame(
      java.util.Arrays.asList(cents.collect(): _*), cents.schema)
    val asg =
      if (useTwoTier(nCells, dimOf(localCents))) fastCoarseAssign(v, localCents)
      else nativeCoarseAssign(v, localCents)
    val ve6 = v.select(col("vec_id"), transform(col("embedding"),
      x => floor(x.cast("double") * 1000000).cast("long")).as("emb6"))
    val cb = cbPivot(trainCodebookLong(ve6, params, iters)).localCheckpoint(true)
    stagePqSidesAndCommit(s, path, v, asg, cb, codesWith(ve6, cb), localCents,
      residual = false, learnedR = None)
  }

  /** Stage + commit every side of a trained PQ index — the shared tail
    * of [[buildPqIndex]] and [[buildPqIndexFrom]].
    *
    * Every side — both temperature tiers, both metadata tables, and
    * the meta row carrying the encoding flag — STAGES into the
    * [[IndexSwap]] stage dir and commits through ONE atomic
    * version-dir rename: a crash anywhere before it leaves the prior
    * version (or, on a fresh path, nothing) fully intact and visible.
    * The round-13 ADVICE window — all data written, the encoding
    * marker missing, probes silently serving residual codes as plain
    * — cannot exist: the meta side lands in the same atomic commit as
    * the codes it describes. */
  private def stagePqSidesAndCommit(s: SparkSession, path: String, v: DataFrame,
      asg: DataFrame, cb: DataFrame, codes: DataFrame, localCents: DataFrame,
      residual: Boolean, learnedR: Option[Array[Double]]): Unit = {
    // The staged sides are independent jobs over already-materialized
    // inputs (cb/codes are checkpointed, localCents is driver-local,
    // asg is a pure map over the scan) writing disjoint staging dirs —
    // overlapped per Concurrently.run (round 18, guide §2.6); the
    // atomic version-rename commit below still runs only after every
    // side has landed, so the crash window is unchanged.
    Concurrently.run(Seq(
      () => asg.join(codes, Seq("vec_id"))
        .select(col("vec_id"), col("codes"), col("cent_id"))
        .repartition(col("cent_id"))
        .write.mode("overwrite").partitionBy("cent_id")
        .parquet(IndexSwap.tmp(path, "codes").toString),
      // Cold-side layout is POINT-READ shaped: the refine only ever wants
      // ~topR rows per probe by vec_id, so rows sort by vec_id within
      // each cell and row groups stay small — the vec_id IN (shortlist)
      // pushdown then skips every row group whose min/max misses the ids,
      // instead of paying the whole cell's floats per probe. cent_id must
      // LEAD the sort: partitionBy requires partition-column ordering,
      // and when the incoming ordering doesn't already satisfy it the
      // file writer injects its own NON-STABLE sort on cent_id alone —
      // silently destroying the vec_id order this layout is for (caught
      // by PQSpec's appended-file sortedness assert).
      () => v.join(asg, Seq("vec_id"))
        .repartition(col("cent_id")).sortWithinPartitions(col("cent_id"), col("vec_id"))
        .write.mode("overwrite").option("parquet.block.size", 1L << 20)
        .partitionBy("cent_id").parquet(IndexSwap.tmp(path, "vectors").toString),
      () => cb.coalesce(1).write.mode("overwrite")
        .parquet(IndexSwap.tmp(path, "codebooks").toString),
      () => localCents.coalesce(1).write.mode("overwrite")
        .parquet(IndexSwap.tmp(path, "centroids").toString),
      () => {
        learnedR.foreach(r => stageRotation(s, path, r, dimOf(localCents)))
        writeMeta(s, path, residual, collectCb(cb)._2)
      }))
    IndexSwap.commit(s, path, sides)
  }

  /** Literal-route bound of the native exact assignment
    * ([[Similarity.nativeAssignBlocked]]): centroid tables up to this
    * many cells bake into the plan as ONE
    * [[graft.functions.IvfArgmax]] literal; larger tables route the
    * payload through a broadcast variable
    * ([[graft.functions.IvfArgmaxBcast]]) — same loop, same tie rules,
    * payload out of the task binary (round 17; rounds 15-16's
    * per-block literal slicing + cross-block fold are retired — the
    * per-TASK Java deserialization of the baked payload was itself the
    * wall, measured ~255 s row-count-independent at 262k cells).
    * 4096 is the `pqdispatch` bracket point (native wins or ties
    * through it at both measured corpus sizes). */
  private[graft] val nativeAssignMaxCells = 4096

  /** Literal-route payload cap: a plan-baked centroid literal stays
    * modest even at unusual dims (the round-14 ADVICE guard —
    * [[Similarity.nativeAssignBlocked]] switches to the broadcast
    * route past it structurally). */
  private[graft] val nativeAssignMaxBytes: Long = 64L << 20

  /** TOTAL payload guard for the native branch: the centroid table is
    * collected to the driver and (past the literal bound) shipped as a
    * broadcast variable, so it must stay executor-memory-class end to
    * end. 2 GB covers √N sizing for any corpus this engine will meet
    * — 17B vectors at 1536 dims (the 100 TB shape) is ~130k cells ≈
    * 800 MB (round 17 raised this from the 256 MB plan-bake era: a
    * broadcast payload never rides the task binary). The two-tier
    * approximation survives only as the declared-semantics branch for
    * `fastAssign = Some(true)` pins and beyond-guard tables. */
  private[graft] val nativeAssignTotalMaxBytes: Long = 2L << 30

  /** True when the whole centroid table stays a collectable,
    * broadcastable payload ([[nativeAssignTotalMaxBytes]]) — the
    * shared dispatch predicate of every build-side assignment. */
  private[graft] def nativeAssignTotalOk(nCells: Long, dim: Int): Boolean =
    nCells * dim * 4L <= nativeAssignTotalMaxBytes

  /** The two-tier dispatch predicate: only beyond the TOTAL payload
    * guard (round 15 — the blocked argmax retired the cell-count
    * bound). */
  private def useTwoTier(nCells: Long, dim: Int): Boolean =
    !nativeAssignTotalOk(nCells, dim)

  /** Centroid width from a local centroid frame (one row peek). */
  private def dimOf(localCents: DataFrame): Int =
    localCents.select(col("ce")).head().getSeq[Float](0).length

  /** EXACT coarse assignment through the BLOCKED native argmax
    * ([[Similarity.nativeAssignBlocked]]): the centroid table flattens
    * into ≤[[nativeAssignMaxCells]]-cell per-block expressions
    * (ascending cent_id — the tie rule), each corpus row pays one
    * codegen'd loop per block plus a reference-only fold, and the
    * assignment is a pure map over the scan — no N x cells rows, no
    * window shuffle, at ANY cell count. Bit-identical to
    * [[coarseAssign]] (same fold, same e6 floor, same tie-break;
    * pinned by qn39/qn40 parity, PqRebalanceSpec's driver replay, and
    * BlockedArgmaxSpec's forced-multi-block parity). */
  private def nativeCoarseAssign(v: DataFrame, localCents: DataFrame): DataFrame =
    Similarity.nativeAssignBlocked(v, localCents, Seq("vec_id"))

  /** RESIDUAL e6 view of an e6 corpus frame: emb6 - assigned coarse
    * centroid (e6-floored), per [[buildPqIndex]]'s `residual` encoding.
    * Shared by the build, the appended-vector encode, and the
    * rebalance retrain — one definition of "residual space". */
  private def residualVe(ve6: DataFrame, asg: DataFrame, cents: DataFrame): DataFrame = {
    val cent6 = cents.select(col("cent_id"),
      transform(col("ce"), x => floor(x.cast("double") * 1000000).cast("long")).as("c6full"))
    ve6.join(asg, Seq("vec_id")).join(broadcast(cent6), Seq("cent_id"))
      .select(col("vec_id"), zip_with(col("emb6"), col("c6full"), (a, b) => a - b).as("emb6"))
  }

  /** Assign and encode NEW vectors against the STORED coarse centroids
    * and codebooks and append them to both temperature tiers:
    * O(new vectors) work, no retrain, and only the cells the new
    * vectors land in gain files (dynamic partition append — the
    * appendToIvfIndex contract). Encoding dispatches on the stored
    * `meta` side: a residual-built index keeps codebooks in RESIDUAL
    * space, so new vectors encode as v - assigned coarse centroid —
    * raw-space codes there would be silently mis-ranked by every later
    * probe (the probe's scoring dispatches on the same row). Codebooks
    * and centroids stay frozen at build time: re-deriving either per
    * append would silently stale every already-written code; drift is
    * a REBUILD ([[rebalance]]), with `autoRebalance = Some(k)`
    * making the cadence MEASURED (the appendToIvfIndex trigger:
    * per-cell footer counts after the append; hottest cell > k x the
    * mean over the declared cell count). A fired trigger DEFERS: it
    * drops a `_rebalance_due` marker and returns at append cost — a
    * full retrain inside a micro-batch append would make ingest
    * latency unbounded at 100 TB; [[maintain]] (a maintenance
    * entry point, run on the operator's cadence or per micro-batch
    * where stop-the-world is acceptable) consumes the marker and runs
    * the crash-safe swap.
    *
    * Crash window (documented, deliberate): the two tiers append
    * non-atomically, COLD (vectors) first — a crash between the writes
    * leaves a full-precision row with no code, which no probe can ever
    * shortlist (dead bytes until the next rebalance rewrites both
    * tiers from the cold side). The pre-round-14 order (codes first)
    * was the dangerous polarity: an orphaned CODE row gets shortlisted
    * and then silently dropped by the refine join — a wrong result,
    * not just dead bytes. `newVecs`: (vec_id, embedding). */
  def appendToPqIndex(s: SparkSession, newVecs: DataFrame, path: String,
      autoRebalance: Option[Int] = None): Unit = {
    recover(s, path) // heal any interrupted prior swap first
    // ONE version resolution for every side read and write below
    // (round-15 ADVICE): an append racing a rebalance commit must
    // never mix metadata from one version with writes into another.
    val root = IndexSwap.liveRoot(s, path)
    val centsDir = IndexSwap.sideAt(root, "centroids")
    val cents = s.read.parquet(centsDir)
    val cb = s.read.parquet(IndexSwap.sideAt(root, "codebooks"))
    val v = newVecs.select(col("vec_id"), col("embedding"),
      l2normNative(col("embedding")).as("nrm"))
    // Same payload dispatch as the build: blocked native exact argmax
    // while the stored centroid table stays plan-bakeable, two-tier
    // beyond the total guard.
    val asg =
      if (useTwoTier(Similarity.parquetRowCount(s, centsDir), dimOf(cents)))
        fastCoarseAssign(v, cents)
      else nativeCoarseAssign(v, cents)
    // New rows encode in the INDEX'S space: the stored learned rotation
    // when present (a rotated index is whole-space by construction),
    // the residual view when the meta says so, raw e6 otherwise.
    val encIn = rotationAt(s, root) match {
      case Some((r, d)) => learnedVe6Of(v, r, d)
      case None =>
        val ve6 = v.select(col("vec_id"),
          transform(col("embedding"),
            x => floor(x.cast("double") * 1000000).cast("long")).as("emb6"))
        if (indexMetaAt(s, root)._1) residualVe(ve6, asg, cents) else ve6
    }
    val codes = codesWith(encIn, cb) // realized sizing derives from the stored codebook
    // COLD side first (see the crash-window note above). Mirror the
    // build's point-read layout (one file per touched cell, rows
    // sorted by vec_id, small row groups): an unsorted append fans out
    // tasks x cells files and forfeits the vec_id row-group pruning
    // the refine's shortlist read depends on.
    v.join(asg, Seq("vec_id"))
      .repartition(col("cent_id")).sortWithinPartitions(col("cent_id"), col("vec_id"))
      .write.mode("append").option("parquet.block.size", 1L << 20)
      .partitionBy("cent_id").parquet(IndexSwap.sideAt(root, "vectors"))
    asg.join(codes, Seq("vec_id"))
      .select(col("vec_id"), col("codes"), col("cent_id"))
      .repartition(col("cent_id"))
      .write.mode("append").partitionBy("cent_id").parquet(IndexSwap.sideAt(root, "codes"))
    autoRebalance.foreach { k =>
      val stats = Similarity.ivfCellStatsAt(s, root) // same layout: vectors/cent_id=
      if (stats.nonEmpty) {
        val nCells = math.max(1L, Similarity.parquetRowCount(s, centsDir))
        val mean = math.max(1.0, stats.values.sum.toDouble / nCells)
        if (stats.values.max > k * mean) markRebalanceDue(s, path)
      }
    }
  }

  /** [[delete]] under the name existing callers use. */
  def deleteFromPqIndex(s: SparkSession, ids: DataFrame, path: String,
      autoRebalance: Option[Double] = None): Unit =
    delete(s, ids, path, autoRebalance)

  /** The PQ index's swappable sides (the [[IndexSwap]] protocol): both
    * temperature tiers, both metadata tables, and the meta row — a
    * build or rebalance rewrites all five consistently or not at all. */
  val sides: Seq[String] = Seq("codes", "vectors", "codebooks", "centroids", "meta")

  /** Live rows: the vector lake's per-cell footer counts. */
  protected def liveRows(s: SparkSession, root: String): Long =
    Similarity.ivfCellStatsAt(s, root).values.sum

  /** Re-cluster AND re-train a persisted IVFADC index in place from its
    * own cold lake — the drift answer ([[appendToPqIndex]]'s trigger
    * calls this; a caller can also run it on a cadence).
    *
    * Everything re-derives from the lake under the REBUILD seed rules
    * (an appended lake's id space is arbitrary, so stride seeding is
    * out): coarse seeds are the sqrt(N) lowest-`xxhash64(vec_id)`
    * vectors (the [[Similarity.rebalance]] rule — deterministic,
    * distribution-free, cell count adapted to the GROWN corpus), and
    * the codebook retrains one Lloyd step from the K
    * lowest-`xxhash64(vec_id, salt')` seed vectors ([[hashSeedVecs]]).
    * The stored encoding is PRESERVED: a residual index retrains its
    * codebooks on the residuals against the NEW coarse centroids (the
    * `meta` side is re-read, never flipped — a flip is a
    * [[buildPqIndex]] decision). The assignment uses the same
    * [[nativeAssignMaxBytes]] payload dispatch as the build.
    *
    * Crash safety is the [[IndexSwap]] versioned commit over all five
    * sides: one staged write set, one atomic version-dir rename — a
    * crash before the rename leaves the live version untouched and
    * heals on the next [[recover]] (run by append and
    * rebalance entry); concurrent READERS keep their resolved version
    * for a full rebuild cycle (the reader-grace contract). */
  def rebalance(s: SparkSession, path: String): Unit = {
    recover(s, path)
    val (residual, p) = indexMeta(s, path)
    val rebRoot = IndexSwap.liveRoot(s, path)
    // Tombstones reclaim physically here (the fresh version dir
    // carries no deletes side).
    val rebDel = IndexSwap.tombstonesAt(s, rebRoot)
    val v = rebDel.foldLeft(
      s.read.parquet(IndexSwap.sideAt(rebRoot, "vectors"))
        .select(col("vec_id"), col("embedding"), col("nrm"))
    ) { (c, d) => c.join(d, Seq("vec_id"), "left_anti") }
    // Surviving-row sizing (footer stats minus tombstones — a no-op
    // tombstone undercounts by one, which the ceil absorbs).
    val total = math.max(1L, Similarity.ivfCellStatsAt(s, rebRoot).values.sum -
      rebDel.map(_.count()).getOrElse(0L))
    val nCells = math.max(16L, math.ceil(math.sqrt(total.toDouble)).toLong).toInt
    val seeds = v.orderBy(xxhash64(col("vec_id"), lit(1002)).asc, col("vec_id").asc)
      .limit(nCells)
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"), col("nrm").as("cn"))
    val localCents = s.createDataFrame(
      java.util.Arrays.asList(seeds.collect(): _*), seeds.schema)
    val asg =
      if (useTwoTier(nCells, dimOf(localCents))) fastCoarseAssign(v, localCents)
      else nativeCoarseAssign(v, localCents)
    // The stored rotation is PRESERVED across rebuilds (it is model
    // state, like the meta's encoding flag — re-learning is a
    // buildPqIndex decision): the grown lake re-encodes through it and
    // the side re-stages into the new version below.
    val rotStored = rotationAt(s, rebRoot)
    val rve6 = rotStored match {
      case Some((r, d)) => learnedVe6Of(v, r, d)
      case None =>
        val ve6 = v.select(col("vec_id"),
          transform(col("embedding"),
            x => floor(x.cast("double") * 1000000).cast("long")).as("emb6"))
        if (residual) residualVe(ve6, asg, localCents) else ve6
    }
    // Sizing is preserved from the stored meta; the REALIZED K of the
    // retrained codebook can differ (hashSeedVecs over a shrunk lake),
    // so the rewritten meta derives from the retrained rows.
    val cb = cbPivot(lloydStepNative(rve6, hashSeedVecs(rve6, p.k), p)).localCheckpoint(true)
    val codes = codesWith(rve6, cb)
    asg.join(codes, Seq("vec_id"))
      .select(col("vec_id"), col("codes"), col("cent_id"))
      .repartition(col("cent_id"))
      .write.mode("overwrite").partitionBy("cent_id")
      .parquet(IndexSwap.tmp(path, "codes").toString)
    v.join(asg, Seq("vec_id"))
      .repartition(col("cent_id")).sortWithinPartitions(col("cent_id"), col("vec_id"))
      .write.mode("overwrite").option("parquet.block.size", 1L << 20)
      .partitionBy("cent_id").parquet(IndexSwap.tmp(path, "vectors").toString)
    cb.coalesce(1).write.mode("overwrite")
      .parquet(IndexSwap.tmp(path, "codebooks").toString)
    localCents.coalesce(1).write.mode("overwrite")
      .parquet(IndexSwap.tmp(path, "centroids").toString)
    rotStored.foreach { case (r, d) => stageRotation(s, path, r, d) }
    writeMeta(s, path, residual, collectCb(cb)._2)
    IndexSwap.commit(s, path, sides)
  }

  /** Probe a persisted IVFADC index: route each probe to its `nProbe`
    * coarse cells via the stored centroids (manifest-class collect, the
    * probeIvfIndex contract), scan ONLY those cells' CODES under a
    * `cent_id IN (...)` PartitionFilter, ADC-rank them with the
    * broadcast lookup tables, and re-rank the top-[[adcTopR]] shortlist
    * with the exact cosine read from the cold side — itself bounded by
    * the same probed-cell partition filter. Returns (qid, rnk, vec_id,
    * score_e6): identical rows to qn33 when the index was built from
    * the same corpus (PQSpec). */
  def probePqIndex(s: SparkSession, dir: String, path: String,
      nProbe: Int, k: Int): DataFrame =
    probePqIndexWith(s,
      Tables.embeddings(s, dir).filter(col("vec_id") < 10)
        .select("vec_id", "embedding"),
      path, nProbe, k)

  /** [[probePqIndex]] for an ARBITRARY probe frame of (vec_id,
    * embedding) — the serving entry (the probeIvfIndexWith pattern).
    * Probe batches only: the probes, the routing, and the ADC
    * shortlist each collect driver-side. The probe collect is bounded
    * FIRST at [[maxProbeBatch]] rows (1e6 / [[adcTopR]]), which also
    * bounds the shortlist collect at probes x topR <= 1e6 rows;
    * routing is additionally bounded at probes x nProbe <= 1e6 by
    * [[routeCells]]. Both bounds fail LOUDLY with instructions — a
    * corpus-sized probe frame must never OOM the driver silently. */
  def probePqIndexWith(s: SparkSession, probes: DataFrame, path: String,
      nProbe: Int, k: Int, allowed: Option[DataFrame] = None): DataFrame = {
    // ONE version resolution per probe call (the versioned IndexSwap
    // contract): every side below reads from the same pinned root, so
    // a rebalance committing mid-probe can never mix versions.
    val root = IndexSwap.liveRoot(s, path)
    val cents = s.read.parquet(s"$root/centroids")
    val cb = s.read.parquet(s"$root/codebooks")
    val (residualIdx, p) = indexMetaAt(s, root)
    probeResolved(s, probes, root, cents, cb, residualIdx, p, nProbe, k, None,
      rotationAt(s, root), allowed)
  }

  /** A SERVE-SESSION handle (round-14 verdict task 7): the fixed
    * per-call serving state — resolved version root, meta flag +
    * realized sizing, the two manifest-class metadata tables as LOCAL
    * relations, AND the centroid table as flat driver arrays — opened
    * once and reused across probe calls. A handle probe pays zero
    * store reads outside the two cell-scoped data sides and runs the
    * ROUTING as an in-process loop over the cached arrays
    * ([[driverRoute]] — probes x cells multiply-adds, microseconds for
    * serving batches) instead of the per-call Spark routing job; the
    * per-call fixed stages the pqlat battery measured (meta read
    * 0.12 s + centroid/codebook reads + routing job 0.25 s) are paid
    * once per REBUILD, not once per probe batch.
    *
    * Staleness: the handle pins the version it opened. [[probeWith]]
    * re-checks [[IndexSwap.liveVersion]] (one LIST request) and
    * re-opens automatically when a rebuild has committed — within the
    * reader-grace window a stale handle is still CORRECT (its version
    * dir is immutable and retained one cycle), so the check is about
    * freshness, not safety. The re-open is CACHED in an
    * [[java.util.concurrent.atomic.AtomicReference]] (round-15
    * ADVICE: the immutable case-class form discarded the refreshed
    * handle, so after the first rebuild EVERY probe re-ran the full
    * open — meta read + centroid/codebook collects — reverting the
    * handle to per-call cost); re-open now happens once per committed
    * version, as the "paid once per REBUILD" contract states. */
  final case class PqIndexHandle private[operators] (path: String, version: Long,
      root: String, residual: Boolean, params: PqParams,
      localCents: DataFrame, localCb: DataFrame,
      centArrays: Similarity.CentArrays,
      rotation: Option[(Array[Double], Int)]) {
    private val current =
      new java.util.concurrent.atomic.AtomicReference[PqIndexHandle](this)
    /** The version the handle currently serves from (advances once per
      * committed rebuild — the refresh-cached contract PQSpec pins). */
    def currentVersion: Long = current.get().version
    /** Probe through the cached state, re-opening (once per committed
      * version) if a rebuild landed since the last probe. */
    def probeWith(s: SparkSession, probes: DataFrame, nProbe: Int, k: Int,
        allowed: Option[DataFrame] = None): DataFrame = {
      val h = IndexSwap.refreshHandle(s, path, current,
        (_: PqIndexHandle).version, () => openPqIndex(s, path))
      probeResolved(s, probes, h.root, h.localCents, h.localCb,
        h.residual, h.params, nProbe, k, Some(h.centArrays), h.rotation, allowed)
    }
  }

  /** DESCRIBE the live index; the optional `rotation` side reports
    * when present. */
  override def describe(s: SparkSession, path: String): DataFrame =
    IndexSwap.describeIndex(s, path, sides :+ "rotation")

  /** Open a serve-session handle: resolve the version once, read meta
    * once, and collect the centroid + codebook tables (sqrt(N) and
    * M x K rows — manifest-class) into local relations every later
    * probe plans against without touching the store. */
  def openPqIndex(s: SparkSession, path: String): PqIndexHandle = {
    val version = IndexSwap.liveVersion(s, path)
    val root = IndexSwap.rootAt(path, version)
    val (residual, p) = indexMetaAt(s, root)
    val cents = s.read.parquet(s"$root/centroids")
    val localCents = s.createDataFrame(
      java.util.Arrays.asList(cents.collect(): _*), cents.schema)
    val cb = s.read.parquet(s"$root/codebooks")
    val localCb = s.createDataFrame(
      java.util.Arrays.asList(cb.collect(): _*), cb.schema)
    PqIndexHandle(path, version, root, residual, p, localCents, localCb,
      Similarity.collectCents(localCents), rotationAt(s, root))
  }

  /** IN-PROCESS probe routing over the handle's cached centroid
    * arrays: per probe, score every cell with the EXACT [[routeCells]]
    * arithmetic — [[graft.functions.DotProductFF]]'s left-to-right
    * double fold, `floor(dot / (cn * nrm) * 1e6)` with Java
    * double->long cast, ties by (score desc, cent_id asc) — and keep
    * the top nProbe. Bit-parity with the Spark routing job is pinned
    * transitively by PQSpec's handle-vs-per-call equality (a routing
    * divergence would change the served rows). Work is probes x cells
    * multiply-adds on the driver — for the bounded serving batch shape
    * (≤1e6 routed pairs, cells ~ sqrt(N)) that is microseconds-to-
    * milliseconds, replacing a ~0.25 s Spark job per call. */
  private def driverRoute(s: SparkSession,
      probeRows: Array[org.apache.spark.sql.Row], ca: Similarity.CentArrays,
      nProbe: Int): (DataFrame, Seq[Long]) = {
    require(probeRows.length.toLong * nProbe <= 1000000L,
      "driverRoute: probe batch routes to >1e6 (probe, cell) rows — " +
        "PQ probing is for probe BATCHES; a corpus-sized probe set should " +
        "assign both sides to cells and equi-join on cent_id (the qn20 shape)")
    val rows = Similarity.driverRoutePairs(probeRows, ca, nProbe)
      .map { case (r, cid) => org.apache.spark.sql.Row(r.getLong(0), cid) }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("probe_id", org.apache.spark.sql.types.LongType, false),
      org.apache.spark.sql.types.StructField("cent_id", org.apache.spark.sql.types.LongType, false)))
    (s.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
      rows.map(_.getLong(1)).distinct.toSeq)
  }

  /** The probe pipeline against a PINNED version root and
    * already-available metadata frames — shared by the per-call entry
    * ([[probePqIndexWith]]: reads them fresh) and the serve handle
    * ([[PqIndexHandle.probeWith]]: local relations, zero store reads
    * outside the two cell-scoped data sides). */
  private def probeResolved(s: SparkSession, probes: DataFrame, root: String,
      cents: DataFrame, cb: DataFrame, residualIdx: Boolean, p: PqParams,
      nProbe: Int, k: Int, cachedCents: Option[Similarity.CentArrays],
      rot: Option[(Array[Double], Int)] = None,
      allowed: Option[DataFrame] = None): DataFrame = {
    // The routing, the ADC-table build, the shortlist and the refine
    // each run their own action over ONE local probe relation.
    val (probeRows, probesV) = IndexSwap.localProbes(s, probes, "probePqIndexWith")
    // Routing: in-process over the handle's cached arrays when a
    // serve-session supplied them ([[driverRoute]]), the Spark routing
    // job otherwise — identical pairs either way (PQSpec pins the
    // handle-vs-per-call equality).
    val (localPc, cells) = cachedCents match {
      case Some(ca) => driverRoute(s, probeRows, ca, nProbe)
      case None => routeCells(s, probesV, cents, nProbe)
    }
    // Probes encode in the INDEX'S space: through the stored learned
    // rotation when the index carries one (routing and the exact
    // refine stay in the raw space — the centroids and cold floats are
    // raw; only the codebook/codes tier lives rotated).
    val pe6 = rot match {
      case Some((r, d)) => probesV.select(col("vec_id").as("probe_id"),
        transform(graft.functions.VectorExprs.matVecNative(col("embedding"), r, d),
          x => floor(x * 1000000).cast("long")).as("emb6"))
      case None => probesV.select(col("vec_id").as("probe_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000000).cast("long")).as("emb6"))
    }
    // Both data-side reads are CELL-SCOPED (Similarity.cellScopedRead):
    // whole-lake partition discovery was the measured dominant fixed
    // cost of a serve call (~2 s per read at 1000 cells, paid twice —
    // codes here, the cold side below), and it grows O(cells) while a
    // probe touches nProbe. The isin filter stays: it is the
    // partition-pruning predicate for the (rare) whole-lake fallback
    // and the plan-visible record of the bound.
    val codes = IndexSwap.exceptTombstones(s, root,
        Similarity.cellScopedReadAt(s, root, "codes", cells))
      .filter(col("cent_id").isin(cells: _*))
    // FILTERED search (the qn53 semantics at this tier): the predicate
    // SEMI-JOINS the candidates before the ADC shortlist, so top-k is
    // exact among allowed rows — never a post-filtered fixed shortlist.
    val codesAllowed = allowed.foldLeft(codes) { (c, a) =>
      c.join(a.select(col("vec_id")), Seq("vec_id"), "left_semi") }
    val cand0 = codesAllowed.join(broadcast(localPc), Seq("cent_id"))
      .filter(col("vec_id") =!= col("probe_id"))
    // Scoring dispatches on the index's declared encoding (the `meta`
    // side buildPqIndex commits atomically with the data): whole-space
    // codes score against one table per probe; residual codes against
    // one table per (probe, probed cell) — the probe's residual
    // differs per cell, so the table is keyed by both and the join key
    // widens. ONE manifest-class read serves both the flag and the
    // realized sizing (the old form paid an fs-exists plus a codebook
    // aggregate job per serving call) — and the serve handle caches
    // even that.
    val scored =
      if (!residualIdx) {
        val tabs = adcTables(vsub(pe6.withColumnRenamed("probe_id", "vec_id"), p), cb, p)
        cand0.select(col("probe_id").as("qid"), col("vec_id"), col("codes"))
          .join(broadcast(tabs), Seq("qid"))
          .select(col("qid"), col("vec_id"),
            adcScore(col("tab"), col("codes"), p).as("adist_e12"))
      } else {
        val cent6 = cents.select(col("cent_id"),
          transform(col("ce"), x => floor(x.cast("double") * 1000000).cast("long")).as("c6full"))
        val pr = broadcast(localPc).join(broadcast(pe6), Seq("probe_id"))
          .join(broadcast(cent6), Seq("cent_id"))
          .select(col("probe_id").as("qid"), col("cent_id"),
            zip_with(col("emb6"), col("c6full"), (a, b) => a - b).as("emb6"))
        val tabs = adcTablesKeyed(vsubKeyed(pr, Seq("qid", "cent_id"), p), cb,
          Seq("qid", "cent_id"), p)
        cand0.select(col("probe_id").as("qid"), col("cent_id"), col("vec_id"), col("codes"))
          .join(broadcast(tabs), Seq("qid", "cent_id"))
          .select(col("qid"), col("vec_id"),
            adcScore(col("tab"), col("codes"), p).as("adist_e12"))
      }
    val wSl = Window.partitionBy(col("qid")).orderBy(col("adist_e12").asc, col("vec_id").asc)
    val sl = scored.withColumn("rnk", row_number().over(wSl))
      .filter(col("rnk") <= adcTopR).select(col("qid"), col("vec_id"))
    // The shortlist is manifest-class (probes x topR <= 1e6 rows — the
    // probe-collect bound above makes this a hard ceiling), so it comes
    // back to the driver and the cold read carries BOTH pushable
    // predicates: the probed-cell partition filter AND a vec_id
    // pushdown — against the point-read layout [[buildPqIndex]] writes,
    // row groups without a shortlisted id never leave disk. The vec_id
    // form DISPATCHES on shortlist size ([[IndexSwap.isinMaxIds]]): up to the
    // threshold it is the exact `IN (ids...)` literal list; above it, a
    // plan with ~1e6 literals is itself the hazard (driver memory +
    // analysis cost), so the pushdown degrades to the RANGE
    // `vec_id BETWEEN min AND max` — row-group-prunable against the
    // sorted-by-vec_id layout WHEN the shortlist ids cluster and a
    // cell spans multiple row groups; the probed-cell partition filter
    // is the unconditional IO bound (both measured in the pq battery's
    // pqrange arm) — and
    // EXACTNESS is unaffected either way: the inner join on the
    // broadcast shortlist below filters precisely. A distributed
    // shortlist join with no pushdown at all would read every probed
    // cell's floats whole, making the refine cost what the ADC tier
    // just saved.
    IndexSwap.exactRefine(s, sl, probesV, k) { (push, _) =>
      Similarity.cellScopedReadAt(s, root, "vectors", cells)
        .filter(col("cent_id").isin(cells: _*) && push)
    }
  }

  /** Route a probe frame to its nProbe coarse cells and collect the
    * (probe_id, cent_id) pairs — manifest-class, bounded by
    * nProbe x #probes rows (the probeIvfIndex contract). Returns the
    * local routed frame plus the distinct probed cells. */
  private[graft] def routeCells(s: SparkSession, probesV: DataFrame,
      cents: DataFrame, nProbe: Int): (DataFrame, Seq[Long]) = {
    val cScore = e6(cosine(dotNative(col("ce"), col("embedding")), col("cn"), col("nrm")))
    val wRoute = Window.partitionBy(col("probe_id")).orderBy(col("cscore").desc, col("cent_id").asc)
    val pc = probesV.select(col("vec_id").as("probe_id"), col("embedding"), col("nrm"))
      .join(broadcast(cents), expr("true"))
      .select(col("probe_id"), col("cent_id"), cScore.as("cscore"))
      .withColumn("rn", row_number().over(wRoute)).filter(col("rn") <= nProbe)
      .select(col("probe_id"), col("cent_id"))
    // The probeIvfIndexWith contract, enforced the same LOUD way: the
    // route collects driver-side, so a probe batch that fans out to
    // too many (probe, cell) rows must fail with instructions, never
    // OOM the driver silently. (The probe frame itself and the topR
    // shortlist carry their own 1e6 bound via [[maxProbeBatch]].)
    val pcRows = pc.limit(1000001).collect()
    require(pcRows.length <= 1000000,
      "routeCells: probe batch routes to >1e6 (probe, cell) rows — " +
        "PQ probing is for probe BATCHES; a corpus-sized probe set should " +
        "assign both sides to cells and equi-join on cent_id (the qn20 shape)")
    (s.createDataFrame(java.util.Arrays.asList(pcRows: _*), pc.schema),
      pcRows.map(_.getLong(1)).distinct.toSeq)
  }

  /** The coarse IVF tier shared by qn33 and the persisted build: the
    * Similarity stride rule. */
  private[graft] def coarseCents(v: DataFrame, nCells: Int = 16): DataFrame = {
    val strideF = v.agg(count(lit(1)).as("n_vec"))
      .select(greatest(lit(1L), expr(s"n_vec div $nCells")).as("stride"))
    v.crossJoin(strideF)
      .filter(col("vec_id") % col("stride") === 0 && col("vec_id") < col("stride") * nCells)
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"), col("nrm").as("cn"))
  }

  /** Two-tier coarse assignment for [[buildPqIndex]]'s `fastAssign`:
    * the qn10e routing shape recast for an N-SIZED input frame. Every
    * window input here is SKINNY — the embedding drops before any
    * shuffle and re-joins by vec_id exactly once, and the fine tier
    * scores through a per-coarse-cell ARRAY under a fold instead of an
    * N x fine-cells row explosion. (The probe-batch router
    * [[Similarity.ivfRouteCoarse]] carries the probe vector through
    * its windows and joins — right for 10-row probe frames, and an
    * OOM at a 500k-vector assignment, measured: its fine join held
    * 26M rows each with a full embedding.) Semantics match the flat
    * argmax whenever the true cell's coarse parent is among the
    * vector's [[Similarity.coarseProbeCells]] probed coarse cells —
    * the declared coarse-MISS rule. */
  private[graft] def fastCoarseAssign(v: DataFrame, cents: DataFrame): DataFrame = {
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
    val wFine = Window.partitionBy(col("cent_id"))
      .orderBy(col("gscore").desc, col("coarse_id").asc)
    val casg = cidx.join(broadcast(cc), expr("true"))
      .select(col("cent_id"), col("ce"), col("cn"), col("coarse_id"),
        e6(cosine(dotNative(col("gce"), col("ce")), col("gcn"), col("cn"))).as("gscore"))
      .withColumn("rn", row_number().over(wFine)).filter(col("rn") === 1)
      .select(col("coarse_id"), col("cent_id"), col("ce"), col("cn"))
    val fineByCoarse = casg.groupBy("coarse_id")
      .agg(collect_list(struct(col("cent_id"), col("ce"), col("cn"))).as("fines"))
    val wCoarse = Window.partitionBy(col("vec_id"))
      .orderBy(col("cscore").desc, col("coarse_id").asc)
    val picks = v.join(broadcast(cc), expr("true"))
      .select(col("vec_id"), col("coarse_id"),
        e6(cosine(dotNative(col("gce"), col("embedding")), col("gcn"), col("nrm"))).as("cscore"))
      .withColumn("rn", row_number().over(wCoarse))
      .filter(col("rn") <= Similarity.coarseProbeCells)
      .select(col("vec_id"), col("coarse_id"))
    val scored = picks.join(v, Seq("vec_id"))
      .join(broadcast(fineByCoarse), Seq("coarse_id"))
    val best = aggregate(col("fines"),
      struct(lit(Long.MinValue).as("sc"), lit(Long.MaxValue).as("cid")),
      (acc, f) => {
        val sc = e6(cosine(dotNative(f.getField("ce"), col("embedding")),
          f.getField("cn"), col("nrm")))
        when(sc > acc.getField("sc") ||
            (sc === acc.getField("sc") && f.getField("cent_id") < acc.getField("cid")),
          struct(sc.as("sc"), f.getField("cent_id").as("cid"))).otherwise(acc)
      })
    val wBest = Window.partitionBy(col("vec_id")).orderBy(col("sc").desc, col("cid").asc)
    scored.select(col("vec_id"), best.getField("sc").as("sc"), best.getField("cid").as("cid"))
      .withColumn("rn", row_number().over(wBest)).filter(col("rn") === 1)
      .select(col("vec_id"), col("cid").as("cent_id"))
  }

  private[graft] def coarseAssign(v: DataFrame, cents: DataFrame): DataFrame = {
    val cScore = e6(cosine(dotNative(col("ce"), col("embedding")), col("cn"), col("nrm")))
    val wAsg = Window.partitionBy(col("vec_id")).orderBy(col("cscore").desc, col("cent_id").asc)
    v.join(broadcast(cents), expr("true"))
      .select(col("vec_id"), col("cent_id"), cScore.as("cscore"))
      .withColumn("rn", row_number().over(wAsg)).filter(col("rn") === 1)
      .select(col("vec_id"), col("cent_id"))
  }
}
