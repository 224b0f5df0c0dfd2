package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFns._
import graft.functions.{FirstAgreeingBand, PairwiseEqCount, SortedFirstCommon, SortedIntersectCount}
import graft.functions.VectorExprs.{minhashSigNative, simhashNative, tokenHashes60Native, tokenHashesNative}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` table — the LLM-training-
  * data half of the engine (SURVEY.md §2 north-star; QN1/QN2 expanded).
  *
  * Scale design (100 TB): every variant is a pure shuffle-on-key plan.
  * - Exact dedup groups on the normalized text itself at test SF; at lake
  *   scale substitute `sha2(norm, 256)` as the grouping key so the shuffle
  *   moves 32-byte keys instead of document bodies (same result, modulo
  *   2^-128 collisions).
  * - The Jaccard joins use *prefix filtering*: a pair with J >= p/q must
  *   share a token among the first `|A| - ceil(p|A|/q) + 1` of the sorted
  *   token set, so candidate generation is an equi-join on (prefix token),
  *   never a cross join. Token sets are dictionary-encoded to dense int
  *   ids first ([[Dedup.encodeIds]]) so every downstream compare is an
  *   int compare, and candidate occurrences are deduplicated by the
  *   first-common-prefix-token filter ([[graft.functions.SortedFirstCommon]])
  *   instead of a `distinct()` shuffle over the full candidate stream.
  *   Token-frequency skew is the known hazard: at scale, assign vocab ids
  *   by ascending global document frequency (the vocab build already
  *   counts df) so prefixes hold the rarest tokens; the filter stays
  *   lossless under any consistent total order.
  * - MinHash/LSH and SimHash banding are the sub-linear candidate paths:
  *   equi-joins on band keys / 15-bit chunks, both AQE-skew-splittable.
  *
  * All thresholds are evaluated in integer arithmetic (`5|∩| >= 3|∪|`
  * instead of `|∩|/|∪| >= 0.6`) so Spark and the DuckDB oracle cannot
  * diverge on float rounding; reported scores are floor-scaled to 1e-6
  * integers ([[graft.functions.TextFns.e6]]).
  */
object Dedup {

  /** Whitespace-collapsed, trimmed, lowercased text — the exact-dup key. */
  private def norm(c: Column) =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  private val sqlNorm = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  /** Token sets + size, shared head of the near-dup plans. */
  private def tokenized(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokenSet(col("text")).as("toks"))
      .withColumn("sz", size(col("toks")))

  private val sqlTokenized =
    s"SELECT doc_id, ${sqlTokenSet("text")} AS toks, len(${sqlTokenSet("text")}) AS sz FROM documents"

  /** Session-scoped memo of the checkpointed pair frames. qn03 and qn18
    * need the identical (token-set, 3/5) pair set, and qn06/qn17 the
    * identical simhash pair set: within one session these deterministic
    * intermediates are materialized views, not per-query work. Keys are
    * (session, sfDir, input tag, p, q); values hold localCheckpoint'd
    * frames whose blocks live for the session anyway.
    */
  private val pairMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String, Long, Int, String), DataFrame]

  private[operators] def memoized(tag: String, s: SparkSession, dir: String, p: Long, q: Int)(
      build: => DataFrame): DataFrame = {
    // Hygiene: entries of stopped sessions are dead weight (their blocks
    // died with the context; the map must not pin the sessions too).
    pairMemo.keySet.filter(_._1.sparkContext.isStopped)
      .foreach(pairMemo.remove)
    // Every plan-shaping conf is part of the key: each changes the
    // physical plan, and a memoized frame built under one setting must
    // not answer a query posed under another. NOTE the memo assumes the
    // data under `dir` is immutable within a session (true for the lake
    // contract); call [[clearMemo]] after rewriting a corpus in place.
    val confSig = s"${broadcastCap(s)}:${allPairsMaxGroups(s)}:" +
      s"${allPairsMargin(s)}:${vocabDriverRankMaxTokens(s)}"
    pairMemo.getOrElseUpdate((s, dir, tag, p, q, confSig), build)
  }

  /** Visible size of the memo for `s` (tests). */
  private[graft] def memoSize(s: SparkSession): Int =
    pairMemo.keySet.count(_._1 eq s)

  /** Drop every memoized pair frame for `s` and unpersist its
    * checkpointed blocks — the eviction hook a long-lived service calls
    * between corpora (or after an in-place rewrite of `dir`). Without
    * this, frames pin their localCheckpoint blocks for the session
    * lifetime. */
  def clearMemo(s: SparkSession): Unit = {
    sideChoicesBuf.synchronized { sideChoicesBuf.filterInPlace(_._1 ne s) }
    clearMemoTag(s, None)
  }

  /** Tag-scoped eviction ("tokenset" / "simhash") — Bench uses this to
    * make repeated measurements of one pair family cold without
    * disturbing the other family's warm frame. */
  def clearMemo(s: SparkSession, tag: String): Unit = clearMemoTag(s, Some(tag))

  private def clearMemoTag(s: SparkSession, tag: Option[String]): Unit =
    pairMemo.keySet.filter(k => (k._1 eq s) && tag.forall(_ == k._3)).foreach { k =>
      pairMemo.remove(k).foreach { df =>
        try df.queryExecution.analyzed.foreach {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.unpersist(blocking = false)
          case _ => ()
        } catch { case _: Exception => () } // stopped context: blocks are gone
      }
    }

  /** Max rows a corpus-derived join side may hold and still be broadcast
    * in the pair plans (~300 MB of narrow pair rows at the default).
    * Conf-tunable so tests can force the shuffled-hash path. */
  private[operators] def broadcastCap(s: SparkSession): Long =
    s.conf.getOption("spark.graft.pairJoin.broadcastMaxRows").map(_.toLong).getOrElse(8000000L)

  /** Distinct-set-count cap above which the all-pairs candidate path is
    * not even PROBED (the occurrence-count job is skipped entirely):
    * past it the quadratic pair space cannot beat a prefix/band
    * candidate stream worth having. A 100 TB corpus blows through this
    * cap on the group count alone, so the probe adds ZERO cost at
    * scale; at fixture/bench scale it is one tiny agg over an
    * already-checkpointed frame. */
  private[operators] def allPairsMaxGroups(s: SparkSession): Long =
    s.conf.getOption("spark.graft.pairJoin.allPairsMaxGroups")
      .map(_.toLong).getOrElse(1L << 18)

  /** Decisive-gap margin for the all-pairs dispatch: the quadratic arm
    * runs only when the measured candidate stream exceeds
    * margin x n·(n-1)/2. Near parity the shipped candidate path keeps
    * its measured constants (A/B at sf0.1: a 3.2x row gap on the
    * clean45 family still LOST by ~0.8 s to per-row constants plus the
    * probe's own jobs; the 11.6x qn03 gap wins decisively). */
  private[operators] def allPairsMargin(s: SparkSession): Double =
    s.conf.getOption("spark.graft.pairJoin.allPairsMargin")
      .map(_.toDouble).getOrElse(4.0)

  /** Minhash-family margin (round 18). The 4.0 default was calibrated
    * against the WIDE all-pairs arm (two 64-long signatures riding every
    * bucketed-join row); the narrow arm (ids-only join, payloads
    * re-probed from the ~2 MB broadcast maps — the band arm's own
    * keys-travel/payloads-rejoin discipline) has per-row constants that
    * MATCH the band arm's, so the crossover tracks the row gap much
    * closer: measured at sf0.1, gap 2.13x, narrow all-pairs 2.1-2.3 s vs
    * band 3.6-4.3 s for the identical rep-pair stage. 1.5 keeps a safety
    * factor for the bucket-explode overhead near parity. Yields to
    * `allPairsMargin` when that shared conf is set (tests pin both arms
    * through it). */
  private[operators] def allPairsMarginMinhash(s: SparkSession): Double =
    s.conf.getOption("spark.graft.pairJoin.allPairsMargin")
      .map(_.toDouble).getOrElse(1.5)

  /** Vocab size up to which the dictionary ranks are computed ON THE
    * DRIVER from one collect of the (materialized) document-frequency
    * table (round 18, guide §1.2: fewer jobs where the data is tiny).
    * The distributed [[globalRanks]] path costs a range exchange, a
    * window, a checkpoint and an offsets collect — ~3 jobs of pure
    * overhead when the vocabulary is 31 tokens (the bench corpus). The
    * probe is one CollectLimit over the already-checkpointed df frame:
    * if more than this many tokens come back, the distributed path runs
    * exactly as before, so a 100 TB vocabulary pays one cheap limit job
    * on a frame the rank path was about to read anyway. 0 disables the
    * probe (tests pin the distributed arm). */
  private[operators] def vocabDriverRankMaxTokens(s: SparkSession): Int =
    s.conf.getOption("spark.graft.pairJoin.vocabDriverRankMaxTokens")
      .map(_.toInt).getOrElse(4096)

  /** Bucket count L for the all-pairs equi-join enumeration
    * ([[bucketedAllPairs]]): the probe side replicates each row
    * (L - bucket) times, the build side is probed per bucket, so L
    * trades probe-side width against per-match fan-out. 64 keeps the
    * replicated side tiny at every group count the cap admits. */
  private val AllPairsBuckets = 64

  /** Last candidate-path decision per (session, family) — "all_pairs"
    * vs "prefix"/"band". Diagnostics for tests, the [[sideChoices]]
    * discipline. */
  private val pairPathBuf =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]
  private[graft] def lastPairPath(s: SparkSession, tag: String): Option[String] =
    pairPathBuf.get((s, tag))
  private def recordPairPath(s: SparkSession, tag: String, path: String): Unit = {
    pairPathBuf.keySet.filter(_._1.sparkContext.isStopped).foreach(pairPathBuf.remove)
    pairPathBuf((s, tag)) = path
  }

  /** Every unordered pair of `ep` rows EXACTLY once, as an equi-join on
    * a hash-bucket key — the all-pairs arm of the measured candidate
    * dispatch (chosen only when the measured candidate stream exceeds
    * n·(n-1)/2; see the dispatch comments at the call sites). Row r
    * lands in bucket b(r) = pmod(xxhash64(doc_id), L); the probe side
    * replicates each row to every bucket >= its own (one explode of a
    * sequence — n·(L+1)/2 rows in expectation), the build side sits in
    * its one bucket, and same-bucket matches orient by doc_id, so every
    * unordered pair materializes from exactly one (probe, build) row
    * pair: cross-bucket pairs only where the probe's OWN bucket is the
    * lower one, same-bucket pairs only with the lower doc_id on the
    * probe side. The join stays a keyed Broadcast/ShuffledHash join
    * ([[sizedWide]] decides which) — never a CartesianProduct/BNLJ,
    * which the plan gate bans. Output: `doc_a`/`doc_b` plus the payload
    * columns suffixed `_a`/`_b`; pair orientation is by BUCKET, not by
    * id, so consumers must treat payload-derived outputs symmetrically
    * (all callers do: intersection counts, agreement counts). */
  private def bucketedAllPairs(s: SparkSession, ep: DataFrame, cols: Seq[String],
      nRows: Long, avgRowBytes: Long): DataFrame = {
    val L = AllPairsBuckets
    def side(sfx: String) = ep.select(
      col("doc_id").as(s"doc_$sfx") +: cols.map(c => col(c).as(s"${c}_$sfx")): _*)
    def bktOf(d: Column) = pmod(xxhash64(d), lit(L.toLong)).cast("int")
    val xs = side("a").withColumn("bx", bktOf(col("doc_a")))
      .withColumn("jb", explode(sequence(col("bx"), lit(L - 1))))
    val ys = side("b").withColumn("jb", bktOf(col("doc_b")))
    xs.join(sizedWide(s, ys, nRows, avgRowBytes), "jb")
      .filter(col("bx") < col("jb") || col("doc_a") < col("doc_b"))
      .drop("jb", "bx")
  }

  /** Record of recent sized()/sizedWide() decisions, keyed by the session
    * that made them: (session, probed rows, "broadcast" | "shuffle_hash").
    * A diagnostics probe — the pair frames are memoized checkpoints, so
    * the chosen join strategy is invisible in the consumer's executed
    * plan. Bounded (a long-lived service must not grow it without limit)
    * and read only through the synchronized [[sideChoices]] snapshot;
    * [[clearMemo]] drops the CALLING session's entries only, matching the
    * pair-memo eviction scope (concurrent sessions keep their
    * diagnostics). */
  private val sideChoicesBuf =
    new scala.collection.mutable.ListBuffer[(SparkSession, Long, String)]
  private val sideChoicesMax = 1024

  /** Synchronized snapshot of `s`'s most recent join-side decisions. */
  def sideChoices(s: SparkSession): Seq[(Long, String)] =
    sideChoicesBuf.synchronized {
      sideChoicesBuf.collect { case (ss, r, c) if ss eq s => (r, c) }.toList
    }

  /** All sessions' decisions (monitoring; tests use the scoped form). */
  def sideChoices: Seq[(Long, String)] =
    sideChoicesBuf.synchronized { sideChoicesBuf.map { case (_, r, c) => (r, c) }.toList }

  private def choose(s: SparkSession, rows: Long, bc: Boolean): String = {
    val c = if (bc) "broadcast" else "shuffle_hash"
    sideChoicesBuf.synchronized {
      sideChoicesBuf.filterInPlace(!_._1.sparkContext.isStopped)
      if (sideChoicesBuf.size >= sideChoicesMax) sideChoicesBuf.remove(0)
      sideChoicesBuf += ((s, rows, c))
    }
    c
  }

  /** Join-side strategy chosen by MEASURED size at plan build, not hope.
    * Every candidate side here derives from a `localCheckpoint`, whose
    * LogicalRDD stats default to "huge" — Catalyst left alone would plan a
    * sort-merge join whose many-to-many group buffering dominates the
    * candidate emission. Under the cap the side broadcasts (map-side
    * join, zero shuffle); over it — the 100 TB corpus case — it hashes on
    * the join key instead of OOMing the driver. The probe is a count on
    * an already-materialized frame: the same runtime-stats trick AQE
    * plays, paid once per plan build. */
  private[operators] def sized(s: SparkSession, df: DataFrame, probedRows: Long): DataFrame =
    if (choose(s, probedRows, probedRows <= broadcastCap(s)) == "broadcast") broadcast(df)
    else df.hint("SHUFFLE_HASH")

  /** Byte-budget refinement of [[sized]] for PAYLOAD-WIDE sides. The row
    * cap is calibrated for ~40-byte narrow pair rows; a side carrying
    * vectors or token arrays can blow the driver far below it (5M rows of
    * 768-dim embeddings ≈ 15 GB). Callers pass an estimated row width;
    * the side broadcasts only if it fits BOTH the row cap and a 300 MB
    * byte budget, else hashes on the join key. */
  private[operators] def sizedWide(
      s: SparkSession, df: DataFrame, probedRows: Long, avgRowBytes: Long): DataFrame = {
    val byteBudget = 300L * 1024 * 1024
    if (choose(s, probedRows,
        probedRows <= broadcastCap(s) && probedRows * avgRowBytes <= byteBudget) == "broadcast")
      broadcast(df)
    else df.hint("SHUFFLE_HASH")
  }

  /** Distributed global ranks with NO unpartitioned window: range-
    * partition on the order keys, row_number within each partition, then
    * per-partition offsets from one O(#partitions) count pass — the
    * footprint AQE itself keeps. Returns the (checkpointed) input plus a
    * 1-based dense `gpos` column over the given total order, and the
    * total row count (free from the offsets pass). Shared by the vocab
    * id assignment in [[jaccardPairs]] and the epoch-shuffle permutation
    * (qn22). */
  private[graft] def globalRanks(df: DataFrame, order: Column*): (DataFrame, Long) = {
    val ranked = df
      .repartitionByRange(order: _*)
      .withColumn("pid", spark_partition_id())
      .withColumn("lr", row_number().over(Window.partitionBy("pid").orderBy(order: _*)))
      .localCheckpoint(true) // read twice: offset probe + caller consumers
    val pidCounts = ranked.groupBy("pid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val total = pidCounts.map(_._2).sum
    // pid -> rank offset (counts of all lower-ranged partitions)
    val offsets = pidCounts.map(_._1)
      .zip(pidCounts.map(_._2).scanLeft(0L)(_ + _).init)
    val offCol =
      if (offsets.isEmpty) lit(0L)
      else element_at(map(offsets.flatMap { case (p, o) => Seq(lit(p), lit(o)) }: _*), col("pid"))
    (ranked.withColumn("gpos", offCol + col("lr")).drop("pid", "lr"), total)
  }

  /** The driver-rank arm's vocab order: (df asc, tok asc) with tokens
    * compared as Spark compares strings — by UTF-8 bytes, i.e. code
    * points — so the driver and [[globalRanks]] assign the same dense
    * ids even where UTF-16 order disagrees (supplementary characters
    * sort before U+E000..U+FFFF in UTF-16, after them in code points). */
  private[graft] def driverRank(vocab: Seq[(String, Long)]): Seq[(String, Long)] =
    vocab.sortBy { case (tok, df) =>
      (df, org.apache.spark.unsafe.types.UTF8String.fromString(tok)) }

  /** All pairs with token-set Jaccard >= p/q as `(doc_a, doc_b, n_inter,
    * n_union)`, via dictionary encoding + lossless prefix filter + the
    * first-common-token dedup. Documents with EMPTY token sets never
    * pair: J = 0/0 is undefined and the explode/encode stage drops them
    * — oracles must carry the matching `sz > 0` predicate. One wide stage: the prefix equi-join and
    * both broadcast payload joins and every filter codegen together; the
    * only shuffles are the tiny encode groupBy and the caller's sort.
    *
    * Token sets are dictionary-encoded: vocab ids are dense ranks by
    * (document frequency asc, token) — a bijection, so intersections and
    * unions of the id arrays have exactly the cardinalities of the token
    * sets (no hashing, no collision caveat), and the prefix filter stays
    * lossless (it holds under any consistent total order) while prefixes
    * hold the RAREST tokens — the fewest candidate collisions. Rank
    * assignment is distributed (range partition + per-partition
    * row_number + offsets); no global window anywhere.
    *
    * Two physical verify paths, chosen by measured vocab size at plan
    * build (one tiny driver job — the same trick AQE plays with runtime
    * stats):
    *  - vocab <= 64: each token set is ONE bitmap long; `|A∩B|` is
    *    `bit_count(a & b)` and the first-common-prefix-token test is a
    *    lowest-set-bit compare — every per-candidate op is a single
    *    codegen'd machine instruction (measured 4x over the merge walks
    *    on the 89M-row candidate stream at sf0.1).
    *  - otherwise: sorted int-id arrays with the
    *    [[graft.functions.SortedIntersectCount]] /
    *    [[graft.functions.SortedFirstCommon]] merge walks (still int
    *    compares, never string compares).
    */
  private def jaccardPairs(t: DataFrame, p: Int, q: Int,
      tag: String = "tokenset"): DataFrame = {
    // Materialization barrier. The token-set expression is referenced by
    // several downstream subtrees (vocab build, encode, and — via
    // InferFiltersFromGenerate + pushdown — a per-row `size(toks) > 0`
    // filter in EACH of them, with the tokenizer re-inlined into every
    // lambda iteration: measured 12.8s for one explode-count over 5000
    // shingled docs at sf0.1). Pinning the 5000-row tokenized frame once
    // makes every downstream reference an attribute read.
    val tm = t.select(col("doc_id"), col("toks")).localCheckpoint(true)
    val s = tm.sparkSession
    // Vocab ids are dense ranks by (document frequency asc, token): the
    // prefix filter is lossless under ANY consistent total order, and
    // df-ascending puts the rarest tokens in the prefixes — the fewest
    // candidate collisions. Rank assignment is fully distributed:
    // range-partition by the rank key, row_number within each partition,
    // then add per-partition offsets. The offsets come from one tiny
    // driver-side pass over the per-partition counts — O(#partitions)
    // values, the footprint AQE itself keeps — which also yields vocabN
    // for the bitmap-path probe, so this costs no extra job versus the
    // old single-partition global window it replaces.
    val dfreq = tm.select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df")) // toks are sets: count = doc freq
      // Materialize the df agg ONCE (round 18): the rank path's range
      // exchange SAMPLES its child, so the unmaterialized agg ran twice
      // (sample pass + exchange pass) at every scale; the checkpoint
      // also gives the small-vocab probe below a free read.
      .localCheckpoint(true)
    // Measured vocab-rank dispatch (round 18): a tiny vocabulary (the
    // bench corpus: 31 tokens; any <= rankCap) collects in one
    // CollectLimit job and ranks on the driver — same (df asc, tok asc)
    // total order, same dense 1-based ids — replacing globalRanks'
    // range exchange + window + checkpoint + offsets collect (~3 jobs of
    // overhead at fixture scale) with a driver sort of <= 4096 entries;
    // occUpper then costs NOTHING (summed driver-side). Past the cap the
    // distributed path runs exactly as before.
    val rankCap = vocabDriverRankMaxTokens(s)
    val vocabHead =
      if (rankCap > 0) dfreq.limit(rankCap + 1).collect()
      else Array.empty[org.apache.spark.sql.Row]
    val smallVocab = rankCap > 0 && vocabHead.length <= rankCap
    val (vocab, vocabN, occUpperThunk) =
      if (smallVocab) {
        val ranksD = driverRank(vocabHead.map(r => (r.getString(0), r.getLong(1))).toSeq)
        // Driver-side df upper bound, BigInt-clamped like occLower.
        val up = {
          val b = ranksD.iterator.map { case (_, df) => BigInt(df) * (df - 1) }.sum / 2
          if (b > BigInt(Long.MaxValue)) Long.MaxValue else b.toLong
        }
        val rows: java.util.List[org.apache.spark.sql.Row] =
          java.util.Arrays.asList(ranksD.zipWithIndex.map { case ((tok, _), i) =>
            org.apache.spark.sql.Row(tok, i + 1) }: _*)
        val lv = s.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("tok",
            org.apache.spark.sql.types.StringType, false),
          org.apache.spark.sql.types.StructField("tid",
            org.apache.spark.sql.types.IntegerType, false))))
        (sized(s, lv, ranksD.length.toLong), ranksD.length.toLong, () => up)
      } else {
        val (ranked, n) = globalRanks(dfreq, col("df"), col("tok"))
        // ~64 B/row budget: vocab rows carry the token STRING (3-word
        // shingles in qn03b), so the narrow-row count cap alone could
        // broadcast ~0.6 GB of a near-cap vocabulary.
        (sizedWide(s, ranked.select(col("tok"), col("gpos").cast("int").as("tid")), n, 64L),
          n,
          () => ranked
            .agg(coalesce(sum(col("df") * (col("df") - lit(1))), lit(0L)))
            .head.getLong(0) / 2)
      }
    val enc = tm.select(col("doc_id"), explode(col("toks")).as("tok"))
      .join(vocab, "tok")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(col("tid"))).as("ids"))
      .withColumn("sz", size(col("ids")))
    // Collapse identical token sets before the pair join: docs with equal
    // id arrays are indistinguishable under set Jaccard, so the quadratic
    // candidate work runs once per DISTINCT set (rep = min doc_id) and
    // member pairs are expanded afterward. Exact-dup collapse before
    // near-dup — the standard pipeline ordering, applied inside the
    // operator (5000 docs -> 3935 distinct sets at sf0.1: ~1.6x fewer
    // candidate pairs).
    val grp = enc.groupBy("ids")
      .agg(min(col("doc_id")).as("doc_id"),
        array_sort(collect_list(col("doc_id"))).as("members"))
      .withColumn("sz", size(col("ids")))
    // ceil(p*sz/q) computed as (p*sz + q - 1) div q — no float ceil, so
    // the prefix can never round short and drop a pair.
    val prefixLen = col("sz") - ((lit(p) * col("sz") + lit(q - 1)) / lit(q)).cast("int") + lit(1)
    // Same barrier: the encoded frame feeds the prefix-explode side and
    // both broadcast payloads (3 subtrees).
    val ep = grp.withColumn("pids", slice(col("ids"), lit(1), prefixLen))
      .localCheckpoint(true)
    // Size probe for the join-strategy choice: distinct-set count, total
    // prefix-index rows, AND the array mass of the wide payload columns
    // — one agg over the materialized frame. The array sums feed
    // sizedWide's byte budget: the row-count cap alone is calibrated for
    // narrow rows, and a 4M-group payload side carrying two ~48-int
    // arrays per row passes 8M rows while its broadcast collect blows
    // spark.driver.maxResultSize (found by the round-12 paircurve
    // battery at 4M docs — the exact failure sizedWide's scaladoc
    // predicted for token arrays).
    val epStats = ep.agg(count(lit(1)),
      coalesce(sum(size(col("pids"))), lit(0L)),
      coalesce(sum(size(col("ids"))), lit(0L)),
      coalesce(sum(size(col("members"))), lit(0L))).head
    val nGroups = epStats.getLong(0)
    val nPrefixRows = epStats.getLong(1)
    val nIdElems = epStats.getLong(2)
    val nMemberElems = epStats.getLong(3)
    // UnsafeRow-ish estimate: fixed row overhead + 8B per array element
    // plus array headers; deliberately round up (12B/elem, CEILING
    // division — a truncating per-row average would contribute 0 bytes
    // for e.g. 0.9 elements/row and quietly loosen the byte budget).
    def avgBytes(elems: Long*): Long =
      48L + elems.map(e =>
        12L * ((e + math.max(nGroups, 1L) - 1) / math.max(nGroups, 1L))).sum
    val payRowBytes = avgBytes(nIdElems, nPrefixRows)
    val memberRowBytes = avgBytes(nMemberElems)

    // Measured candidate-path dispatch (optimization round 17; guide
    // §1.2 "fix the distributed algorithm first" / §2.3 "shuffle fewer
    // bytes"): the prefix equi-join emits one row per SHARED PREFIX
    // TOKEN — sum over prefix tokens of C(c,2) rows. On a corpus whose
    // distinct-set count n is small relative to that stream (the
    // all-similar bench corpus: n = 3,935 sets vs 89.3M occurrences at
    // sf0.1 — 11.6x more rows than n·(n-1)/2 = 7.7M), enumerating every
    // unordered SET pair exactly once is strictly fewer rows through
    // the SAME exact verify predicate — and it drops the per-candidate
    // first-common dedup test too (exactly-once holds by construction).
    // Both counts are measured at plan build: C(c,2) summed in one tiny
    // agg over the already-checkpointed prefix stream, gated behind
    // [[allPairsMaxGroups]] so the probe itself is skipped the moment n
    // alone rules the quadratic path out — at 100 TB the cap check
    // fails on nGroups and nothing extra runs. Lossless either way: the
    // prefix filter never drops a true pair (round-1 proof), and the
    // all-pairs arm verifies every pair, so the verified set is
    // identical and the oracle cannot move.
    val allPairsN =
      if (nGroups > 3000000000L) Long.MaxValue else nGroups * (nGroups - 1) / 2
    // Convexity shortcut before the probe job: spreading the
    // nPrefixRows prefix occurrences as EVENLY as possible over the at
    // most vocabN distinct tokens minimizes sum C(c,2), so that spread
    // is a hard LOWER bound on the occurrence count. When even the
    // bound exceeds n·(n-1)/2 (the all-similar corpus: 31 tokens carry
    // 49k prefix rows at sf0.1 → bound 39M vs 7.7M pairs) the all-pairs
    // arm wins with NO extra job; the probe only runs in the genuinely
    // ambiguous regime (large vocab, discriminative prefixes).
    // BigInt, clamped to Long.MaxValue (round-17 ADVICE): with huge
    // nPrefixRows over a tiny vocab the Long arithmetic can wrap and a
    // wrapped bound would falsely read decisive. Clamping DOWN keeps it
    // a valid lower bound, and a bound at Long.MaxValue is genuinely
    // decisive against any under-cap pair count (<= 2^35).
    val occLower = {
      val v = math.max(1L, math.min(vocabN, math.max(nPrefixRows, 1L)))
      val base = BigInt(nPrefixRows / v); val rem = BigInt(nPrefixRows % v)
      val b = rem * (base + 1) * base / 2 + (BigInt(v) - rem) * base * (base - 1) / 2
      if (b > BigInt(Long.MaxValue)) Long.MaxValue else b.toLong
    }
    // ... and a cheap UPPER bound before paying the probe's shuffle:
    // prefix-token collisions are at most full-df collisions. On the
    // driver-ranked path the dfs are already local (the bound is free);
    // otherwise one tiny agg over the checkpointed vocab frame. A
    // discriminative corpus (shingles: df mostly 1) skips the
    // occurrence probe entirely on this bound.
    def occUpper: Long = occUpperThunk()
    val margin = allPairsMargin(s)
    def decisive(occ: Long): Boolean = occ.toDouble > margin * allPairsN.toDouble
    val nOcc =
      if (nGroups < 2 || nGroups > allPairsMaxGroups(s)) -1L
      else if (decisive(occLower)) occLower
      else if (!decisive(occUpper)) -1L // even the upper bound is not decisive
      else ep.select(explode(col("pids")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c") * (col("c") - lit(1))), lit(0L)))
        .head.getLong(0) / 2
    val useAllPairs = nOcc >= 0 && decisive(nOcc)
    // Recorded under the CALLER's memo tag (round-17 ADVICE): a shared
    // "jaccard" key reported whichever family built last and stayed
    // stale on memo hits.
    recordPairPath(s, tag, if (useAllPairs) "all_pairs" else "prefix")

    // Necessary size condition (J <= min/max) first — a two-int compare
    // that drops a pair before any set work runs.
    val sizeGate = lit(q) * least(col("sz_a"), col("sz_b")) >=
      lit(p) * greatest(col("sz_a"), col("sz_b"))

    // Shared candidate-occurrence head: one row per shared prefix token.
    def candidates(pay: String => DataFrame): DataFrame = {
      val pre = ep.select(col("doc_id"), explode(col("pids")).as("tok"))
      pre.as("x").join(sized(s, pre.as("y"), nPrefixRows), col("x.tok") === col("y.tok"))
        .filter(col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"), col("x.tok").as("tok"))
        .join(pay("a"), "doc_a")
        .join(pay("b"), "doc_b")
        .filter(sizeGate)
    }

    val verified =
      if (vocabN <= 64) {
        val toBm = (ids: Column) => aggregate(ids, lit(0L),
          (acc, i) => acc.bitwiseOR(call_function("shiftleft", lit(1L), i - 1)))
        val epb = ep.withColumn("bm", toBm(col("ids"))).withColumn("pbm", toBm(col("pids")))
        if (useAllPairs)
          // All-pairs arm, bitmap verify: no prefix explode, no
          // first-common filter — one bit_count AND per pair.
          bucketedAllPairs(s, epb.select("doc_id", "bm", "sz"), Seq("bm", "sz"), nGroups, 64L)
            .filter(sizeGate)
            .withColumn("n_inter", bit_count(col("bm_a").bitwiseAND(col("bm_b"))))
        else {
          def pay(side: String) = sized(s, epb.select(
            col("doc_id").as(s"doc_$side"), col("bm").as(s"bm_$side"),
            col("pbm").as(s"pbm_$side"), col("sz").as(s"sz_$side")), nGroups)
          // Exactly-once per pair: this occurrence's token is the lowest
          // set bit of the ANDed prefix bitmaps. Replaces round 1's
          // distinct() (89M-row shuffle at sf0.1) with an in-stage compare.
          val pab = col("pbm_a").bitwiseAND(col("pbm_b"))
          val firstCommon = bit_count(pab.bitwiseAND(-pab) - 1) + 1
          candidates(pay)
            .filter(col("tok") === firstCommon)
            .withColumn("n_inter", bit_count(col("bm_a").bitwiseAND(col("bm_b"))))
        }
      } else {
        if (useAllPairs)
          // All-pairs arm, merge-walk verify: ids only (no pids ride
          // the pair rows — the first-common walk is gone).
          bucketedAllPairs(s, ep.select("doc_id", "ids", "sz"), Seq("ids", "sz"),
            nGroups, avgBytes(nIdElems))
            .filter(sizeGate)
            .withColumn("n_inter", SortedIntersectCount(col("ids_a"), col("ids_b")))
        else {
          def pay(side: String) = sizedWide(s, ep.select(
            col("doc_id").as(s"doc_$side"), col("ids").as(s"ids_$side"),
            col("pids").as(s"pids_$side"), col("sz").as(s"sz_$side")),
            nGroups, payRowBytes)
          candidates(pay)
            // Exactly-once per pair, merge-walk form of the same filter.
            .filter(col("tok") === SortedFirstCommon(col("pids_a"), col("pids_b")))
            // Projected once: downstream filter + both output columns
            // reference n_inter; inlining would re-run the walk per use.
            .withColumn("n_inter", SortedIntersectCount(col("ids_a"), col("ids_b")))
        }
      }

    val repPairs = verified
      .withColumn("n_union", col("sz_a") + col("sz_b") - col("n_inter"))
      .filter(lit(q) * col("n_inter") >= lit(p) * col("n_union"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"))

    // Expand representative pairs back to document pairs. A cross-group
    // doc pair maps to exactly one unordered group pair (no duplicates);
    // within-group pairs are J = 1 (n_inter = n_union = sz), included by
    // every threshold.
    val members = ep.select(col("doc_id").as("rep"), col("members"), col("sz"))
    val cross = repPairs
      .join(sizedWide(s, members.select(col("rep").as("doc_a"), col("members").as("ma")),
        nGroups, memberRowBytes), "doc_a")
      .join(sizedWide(s, members.select(col("rep").as("doc_b"), col("members").as("mb")),
        nGroups, memberRowBytes), "doc_b")
      .select(explode(col("ma")).as("a"), col("mb"), col("n_inter"), col("n_union"))
      .select(col("a"), explode(col("mb")).as("b"), col("n_inter"), col("n_union"))
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"), col("n_inter"), col("n_union"))
    val within = members.filter(size(col("members")) > 1)
      .select(col("sz"), explode(flatten(transform(col("members"), a =>
        transform(filter(col("members"), b => b > a), b =>
          struct(a.as("a"), b.as("b")))))).as("pr"))
      .select(col("pr.a").as("doc_a"), col("pr.b").as("doc_b"),
        col("sz").as("n_inter"), col("sz").as("n_union"))

    cross.unionByName(within)
      // The pair stream reaches here shuffle-free (broadcast joins all the
      // way down), so a global sort's range-sampling pass would recompute
      // the whole candidate stream — and an interposed repartition() gets
      // pruned as a redundant exchange under the sort's range exchange.
      // localCheckpoint pins the verified pairs (narrow rows) in the block
      // manager so the caller's orderBy samples materialized partitions
      // instead of re-running the join (measured 41s -> 25s at sf0.1).
      .localCheckpoint(true)
  }

  val all: Seq[Q] = Seq(

    Q("qn01_exact_dedup_stats",
      s"""SELECT COUNT(*) AS n_docs,
         |       COUNT(DISTINCT $sqlNorm) AS n_unique,
         |       COUNT(*) - COUNT(DISTINCT $sqlNorm) AS n_dup_docs
         |FROM documents""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(norm(col("text"))).as("n_unique"),
          (count(lit(1)) - countDistinct(norm(col("text")))).as("n_dup_docs"))
    },

    Q("qn02_dedup_representatives",
      s"""SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
         |FROM documents GROUP BY $sqlNorm
         |HAVING COUNT(*) > 1 ORDER BY keeper_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(norm(col("text")).as("k"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
        .select("keeper_id", "n_copies")
        .orderBy("keeper_id")
    },

    // Exact token-set Jaccard >= 0.6 pairs via lossless prefix filtering
    // over dictionary-encoded token ids.
    Q("qn03_jaccard_pairs",
      s"""WITH t AS ($sqlTokenized)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       len(list_intersect(a.toks, b.toks)) AS n_inter,
         |       a.sz + b.sz - len(list_intersect(a.toks, b.toks)) AS n_union,
         |       ${sqlE6("CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / (a.sz + b.sz - len(list_intersect(a.toks, b.toks)))")} AS j_e6
         |FROM t a, t b
         |WHERE a.doc_id < b.doc_id AND a.sz > 0 AND b.sz > 0
         |  AND 5 * len(list_intersect(a.toks, b.toks))
         |      >= 3 * (a.sz + b.sz - len(list_intersect(a.toks, b.toks)))
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      memoized("tokenset", s, dir, 3, 5)(jaccardPairs(tokenized(s, dir), 3, 5))
        .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"),
          e6(col("n_inter").cast("double") / col("n_union")).as("j_e6"))
        .orderBy("doc_a", "doc_b")
    },

    // N-gram (3-shingle) Jaccard: word ORDER matters here, unlike the
    // token-set variant above — shingle sets are far more discriminative,
    // which is why production near-dup pipelines shingle first. Same
    // lossless prefix filter at J >= 0.5 over dictionary-encoded shingles.
    Q("qn03b_shingle_jaccard_pairs", {
      val toks = sqlTokens("text")
      val sh = s"list_sort(list_distinct([ concat_ws(' ', ($toks)[i], ($toks)[i+1], ($toks)[i+2]) " +
        s"for i in range(1, len($toks) - 1) ]))"
      s"""WITH t AS (SELECT doc_id, $sh AS toks, len($sh) AS sz FROM documents
         |           WHERE len($toks) >= 3)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       len(list_intersect(a.toks, b.toks)) AS n_inter,
         |       a.sz + b.sz - len(list_intersect(a.toks, b.toks)) AS n_union
         |FROM t a, t b
         |WHERE a.doc_id < b.doc_id
         |  AND 2 * len(list_intersect(a.toks, b.toks))
         |      >= a.sz + b.sz - len(list_intersect(a.toks, b.toks))
         |ORDER BY doc_a, doc_b""".stripMargin
    }) { (s, dir) =>
      val toksRaw = tokens(col("text"))
      val shingles = array_sort(array_distinct(transform(
        sequence(lit(1), size(col("tk")) - 2),
        i => concat_ws(" ", element_at(col("tk"), i),
          element_at(col("tk"), i + 1), element_at(col("tk"), i + 2)))))
      val t = Tables.documents(s, dir)
        .filter(size(toksRaw) >= 3)
        .select(col("doc_id"), toksRaw.as("tk"))
        .select(col("doc_id"), shingles.as("toks"))
      jaccardPairs(t, 1, 2, "shingle").orderBy("doc_a", "doc_b")
    },

    // MinHash(64) + LSH(16 bands x 4 rows) candidate pairs with the
    // signature-agreement count. The oracle brute-forces the identical
    // banding over all pairs; the Spark plan only ever equi-joins on band
    // keys — the sub-linear path that survives 100 TB.
    Q("qn04_minhash_lsh_pairs", {
      val hs = s"[ ${sqlTokenHash("t")} for t in toks ]"
      s"""WITH t AS ($sqlTokenized),
         |sig AS (SELECT doc_id, ${sqlMinhashSig(hs, 64)} AS sig FROM t),
         |band AS (SELECT doc_id,
         |                [ concat_ws('-', b, sig[4*b+1], sig[4*b+2], sig[4*b+3], sig[4*b+4])
         |                  for b in range(0, 16) ] AS bands, sig FROM sig)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       len(list_filter(list_zip(a.sig, b.sig), p -> p[1] = p[2])) AS n_agree
         |FROM band a, band b
         |WHERE a.doc_id < b.doc_id AND len(list_intersect(a.bands, b.bands)) > 0
         |ORDER BY doc_a, doc_b""".stripMargin
    }) { (s, dir) =>
      val sig = tokenized(s, dir)
        .select(col("doc_id"), minhashSigNative(tokenHashesNative(col("toks")), 64).as("sig"))
        // Materialization barrier: sig feeds the band explode and both
        // broadcast payloads (3 subtrees), and each would otherwise
        // re-run the 64-permutation MinHash over every document.
        .localCheckpoint(true)
      // Collapse identical signatures first (docs with equal MinHash
      // signatures — typically exact/near-exact duplicates — collide in
      // every band and agree everywhere): the quadratic band join runs on
      // distinct signatures, member pairs expand afterward.
      val grp = sig.groupBy("sig")
        .agg(min(col("doc_id")).as("doc_id"),
          array_sort(collect_list(col("doc_id"))).as("members"))
        .localCheckpoint(true)
      // Size probe on the materialized frame: group count + member-array
      // mass (the byte-budget input for the wide sides) in one pass.
      val grpStats = grp.agg(count(lit(1)),
        coalesce(sum(size(col("members"))), lit(0L))).head
      val nGrp = grpStats.getLong(0)
      val memberElems = grpStats.getLong(1)
      // Band key = struct(bandIdx, the 4 signature rows): tuple equality
      // is EXACTLY the oracle's string-key equality (fixed arity, numeric
      // fields) without building/compare of concat'd strings. One row per
      // colliding band; the first-agreeing-band filter then keeps exactly
      // one occurrence per pair — no distinct() shuffle (round 1 moved
      // 46.5M candidate rows through it at sf0.1).
      // No sig column here: the band join is keys-only (see repPairs) and
      // an unused 64-long array would ride every build-map entry.
      val banded = grp.select(col("doc_id"),
        explode(array((0 until 16).map { b =>
          struct((lit(b).as("b") +: (0 until 4).map(r =>
            col("sig").getItem(b * 4 + r).as(s"h$r"))): _*)
        }: _*)).as("band"))
      // sizedWide, not sized: a signature row is a 64-long array
      // (~600 B serialized), so the narrow-row count cap alone lets a
      // multi-million-group corpus broadcast gigabytes into the driver
      // (the round-12 paircurve battery hit spark.driver.maxResultSize
      // at 4M docs — the qn03 payload-side lesson, same fix).
      val sigRowBytes = 48L + 12L * 64L
      // Measured candidate-path dispatch — the jaccardPairs discipline
      // applied to the band join: the band equi-join emits one row per
      // COLLIDING BAND (sum over band keys of C(c,2) = 46.5M at sf0.1)
      // while the distinct-signature pair space is n·(n-1)/2 = 7.7M.
      // When the measured collision count exceeds the pair count, every
      // unordered signature pair is enumerated once instead
      // ([[bucketedAllPairs]]) and "shares >= 1 band" becomes one
      // early-exit FirstAgreeingBand >= 0 test per pair — no 16x band
      // explode, no payload re-joins (both sigs ride the single keyed
      // join). The probe is one tiny agg over the 16n band keys, gated
      // behind [[allPairsMaxGroups]]: at 100 TB the cap check fails on
      // nGrp and nothing extra runs. Identical pair set either way —
      // the oracle's own predicate IS "some band agrees".
      val nBandOcc =
        if (nGrp < 2 || nGrp > allPairsMaxGroups(s)) -1L
        else banded.groupBy("band").agg(count(lit(1)).as("c"))
          .agg(coalesce(sum(col("c") * (col("c") - lit(1))), lit(0L)))
          .head.getLong(0) / 2
      val allPairsN =
        if (nGrp > 3000000000L) Long.MaxValue else nGrp * (nGrp - 1) / 2
      val useAllPairs = nBandOcc >= 0 &&
        nBandOcc.toDouble > allPairsMarginMinhash(s) * allPairsN.toDouble
      recordPairPath(s, "minhash", if (useAllPairs) "all_pairs" else "band")
      val pay = (side: String) => sizedWide(s, grp.select(
        col("doc_id").as(s"doc_$side"), col("sig").as(s"sig_$side")), nGrp, sigRowBytes)
      // Measured-size strategy — banded derives from a localCheckpoint
      // whose default stats would otherwise force a sort-merge join (see
      // [[sized]]). DELIBERATELY narrow: the banded rows do carry their
      // signatures, but consuming x.sig/y.sig off the join output copies
      // two 64-long arrays into every one of the 46.5M candidate rows
      // and bloats the build-side map 16x (sig per band entry) — A/B
      // measured 12.9s vs 8.8s cold at sf0.1 in favor of joining narrow
      // (doc ids only) and re-probing the two ~2 MB, cache-resident
      // payload maps afterward. Same lesson as the round-1 shuffle rule:
      // keys travel, payloads rejoin — on BOTH arms (round 18): the
      // first all-pairs cut rode the signatures on the bucketed join
      // and measured a wash against the band arm (11.06 vs 11.04 s);
      // joining ids-only and re-probing the same two payload maps cut
      // the rep-pair stage 3.6-4.3 s -> 2.1-2.3 s at sf0.1 — the
      // bucket-explode rows stay 16 B and the 64-long arrays are only
      // materialized once per surviving pair row, not once per
      // replicated probe row.
      val repPairs = if (useAllPairs)
        bucketedAllPairs(s, grp.select("doc_id"), Seq.empty, nGrp, 16L)
          .join(pay("a"), "doc_a")
          .join(pay("b"), "doc_b")
          .filter(FirstAgreeingBand(col("sig_a"), col("sig_b"), 4) >= 0)
          .select(col("doc_a"), col("doc_b"),
            PairwiseEqCount(col("sig_a"), col("sig_b")).as("n_agree"))
      else banded.as("x")
        // ~96 B/row: the 5-field band struct is wider than a narrow pair
        // row, so the count cap alone under-budgets the build side.
        .join(sizedWide(s, banded.as("y"), 16L * nGrp, 96L), col("x.band") === col("y.band"))
        .filter(col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          col("x.band").getField("b").as("b"))
        .join(pay("a"), "doc_a")
        .join(pay("b"), "doc_b")
        .filter(col("b") === FirstAgreeingBand(col("sig_a"), col("sig_b"), 4))
        .select(col("doc_a"), col("doc_b"),
          PairwiseEqCount(col("sig_a"), col("sig_b")).as("n_agree"))
      // Expand rep pairs to doc pairs (cross-group: one unordered group
      // pair per doc pair; within-group: full agreement on all 64 rows).
      val members = grp.select(col("doc_id").as("rep"), col("members"), size(col("sig")).as("n_sig"))
      // members arrays are ~1 element on a realistic corpus but unbounded
      // on a dup-heavy one — byte-budget them from the measured average.
      val memberRowBytes = 48L + 12L * (memberElems / math.max(nGrp, 1L))
      val cross = repPairs
        .join(sizedWide(s, members.select(col("rep").as("doc_a"), col("members").as("ma")),
          nGrp, memberRowBytes), "doc_a")
        .join(sizedWide(s, members.select(col("rep").as("doc_b"), col("members").as("mb")),
          nGrp, memberRowBytes), "doc_b")
        .select(explode(col("ma")).as("a"), col("mb"), col("n_agree"))
        .select(col("a"), explode(col("mb")).as("b"), col("n_agree"))
        .select(least(col("a"), col("b")).as("doc_a"),
          greatest(col("a"), col("b")).as("doc_b"), col("n_agree"))
      val within = members.filter(size(col("members")) > 1)
        .select(col("n_sig"), explode(flatten(transform(col("members"), a =>
          transform(filter(col("members"), b => b > a), b =>
            struct(a.as("a"), b.as("b")))))).as("pr"))
        .select(col("pr.a").as("doc_a"), col("pr.b").as("doc_b"),
          col("n_sig").as("n_agree"))
      cross.unionByName(within)
        // Materialize the (shuffle-free) pair stream before the global
        // sort — see jaccardPairs.
        .localCheckpoint(true)
        .orderBy("doc_a", "doc_b")
    },

    Q("qn05_simhash_values", {
      val hs = s"[ ${sqlTokenHash60("t")} for t in toks ]"
      s"""WITH t AS ($sqlTokenized)
         |SELECT doc_id, ${sqlSimhash(hs)} AS simhash
         |FROM t ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      tokenized(s, dir)
        .select(col("doc_id"), simhashNative(tokenHashes60Native(col("toks"))).as("simhash"))
        .localCheckpoint(true) // materialize before sort (see jaccardPairs)
        .orderBy("doc_id")
    },

    // The composed training-data pipeline — quality gate -> exact dedup
    // -> near-dup removal (greedy keep-lowest-id at jaccard >= 0.8) ->
    // corpus stats. This is the operators above chained the way a real
    // cleaning job runs them; each stage reuses the scale-shaped plan it
    // was verified with.
    Q("qp01_clean_corpus",
      s"""WITH $sqlCleanCtes
         |SELECT COUNT(*) AS n_clean,
         |       (SELECT COUNT(*) FROM documents) AS n_raw,
         |       (SELECT COUNT(*) FROM q) AS n_quality,
         |       (SELECT COUNT(*) FROM d) AS n_exact_unique,
         |       CAST(SUM(sz) AS BIGINT) AS sum_vocab
         |FROM surv JOIN t USING (doc_id)""".stripMargin) { (s, dir) =>
      val st = cleanStages(s, dir)
      val clean = st.t.join(st.surv, Seq("doc_id"), "left_semi")
      // Stage counts as crossJoined single-row aggregates — one job, no
      // driver-side count() actions inside the plan build.
      clean.agg(count(lit(1)).as("n_clean"), sum(col("sz")).as("sum_vocab"))
        .crossJoin(Tables.documents(s, dir).agg(count(lit(1)).as("n_raw")))
        .crossJoin(st.quality.agg(count(lit(1)).as("n_quality")))
        .crossJoin(st.exact.agg(count(lit(1)).as("n_exact_unique")))
        .select(col("n_clean"), col("n_raw"), col("n_quality"),
          col("n_exact_unique"), col("sum_vocab"))
    },

    // The END-TO-END training-curation manifest: qp01's stages extended
    // through the held-out split and decontamination to the final
    // train/val/test counts — the single query a pipeline owner runs to
    // see where documents go. Stages: quality gate -> exact dedup ->
    // near-dup removal (J >= 0.8, greedy keep-lowest-id) -> drop the
    // held-out benchmark docs themselves (doc_id % 97 = 0) -> drop pool
    // docs sharing any 5-gram with the benchmark -> deterministic
    // 80/10/10 split. Every stage count folds in as a crossJoined scalar
    // aggregate — one job, no driver-side counts in the plan build
    // (except jaccardPairs' own probes).
    Q("qp03_training_manifest", {
      val toks = sqlTokens("text")
      val sh = Curation.sqlKgrams5(toks)
      s"""WITH $sqlCleanCtes,
         |pool AS (SELECT doc_id FROM surv WHERE doc_id % 97 <> 0),
         |g AS (SELECT doc_id, unnest($sh) AS gram FROM documents WHERE len($toks) >= 5),
         |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
         |cont AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (gram)
         |         JOIN pool ON g.doc_id = pool.doc_id),
         |clean AS (SELECT doc_id FROM pool WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
         |s AS (SELECT doc_id, (doc_id * 2654435761) % 100 AS bucket FROM clean)
         |SELECT (SELECT COUNT(*) FROM documents) AS n_raw,
         |       (SELECT COUNT(*) FROM q) AS n_quality,
         |       (SELECT COUNT(*) FROM d) AS n_exact_unique,
         |       (SELECT COUNT(*) FROM surv) AS n_neardup_survivors,
         |       (SELECT COUNT(*) FROM pool) AS n_pool,
         |       (SELECT COUNT(*) FROM clean) AS n_clean,
         |       CAST(SUM(CASE WHEN bucket < 80 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         |       CAST(SUM(CASE WHEN bucket >= 80 AND bucket < 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
         |       CAST(SUM(CASE WHEN bucket >= 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_test
         |FROM s""".stripMargin
    }) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val st = cleanStages(s, dir)
      val pool = st.surv.filter(col("doc_id") % 97 =!= 0)
      // Contamination vs the held-out docs: token barrier as qn21, grams
      // expanded only for the bench side and the (semi-joined) pool side.
      val tk = docs.filter(size(tokens(col("text"))) >= 5)
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .localCheckpoint(true)
      def grams(df: DataFrame) = df
        .select(col("doc_id"), Curation.kgrams5(col("tk")).as("grams"))
        .select(col("doc_id"), explode(col("grams")).as("gram"))
      val bench = grams(tk.filter(col("doc_id") % 97 === 0)).select("gram").distinct()
      val cont = grams(tk.join(pool, Seq("doc_id"), "left_semi"))
        .join(broadcast(bench), "gram")
        .select("doc_id").distinct()
      // Barrier: clean feeds the split agg AND the n_clean count (and is
      // itself derived from the twice-read pool) — a tiny id frame.
      val clean = pool.join(cont, Seq("doc_id"), "left_anti").localCheckpoint(true)
      val bucket = (col("doc_id") * lit(2654435761L)) % 100
      clean.select(bucket.as("bucket"))
        .agg(sum(when(col("bucket") < 80, 1L).otherwise(0L)).as("n_train"),
          sum(when(col("bucket") >= 80 && col("bucket") < 90, 1L).otherwise(0L)).as("n_val"),
          sum(when(col("bucket") >= 90, 1L).otherwise(0L)).as("n_test"))
        .crossJoin(docs.agg(count(lit(1)).as("n_raw")))
        .crossJoin(st.quality.agg(count(lit(1)).as("n_quality")))
        .crossJoin(st.exact.agg(count(lit(1)).as("n_exact_unique")))
        .crossJoin(st.surv.agg(count(lit(1)).as("n_neardup_survivors")))
        .crossJoin(pool.agg(count(lit(1)).as("n_pool")))
        .crossJoin(clean.agg(count(lit(1)).as("n_clean")))
        .select(col("n_raw"), col("n_quality"), col("n_exact_unique"),
          col("n_neardup_survivors"), col("n_pool"), col("n_clean"),
          col("n_train"), col("n_val"), col("n_test"))
    },

    // SimHash near-dup pairs: Hamming distance <= 3 over the 60-bit
    // signature. Spark generates candidates by the pigeonhole principle —
    // split 60 bits into 4 chunks of 15; distance <= 3 forces at least one
    // identical chunk — so candidates come from 4 equi-joins, not O(n^2).
    Q("qn06_simhash_near_pairs", sqlSimhashPairsOracle) { (s, dir) =>
      memoized("simhash", s, dir, 0, 0)(simhashNearPairs(s, dir))
        .orderBy("doc_a", "doc_b")
    },

    // The at-scale branch of qn06's dispatch, FORCED at fixture size so
    // the 2x30-bit radius-1 scheme is hash-gated every round (the
    // dispatch threshold would otherwise keep it untested until a 1e5
    // corpus): identical declared semantics, identical oracle — both
    // chunkings are lossless for hamming <= 3, so the pair sets must
    // hash-match exactly.
    Q("qn06b_simhash_super_chunks", sqlSimhashPairsOracle) { (s, dir) =>
      memoized("simhashsuper", s, dir, 0, 0) {
        val sh = tokenized(s, dir)
          .select(col("doc_id"), simhashNative(tokenHashes60Native(col("toks"))).as("simhash"))
          .localCheckpoint(true)
        simhashPairsSuperChunk(s, sh, sh.count()).localCheckpoint(true)
      }.orderBy("doc_a", "doc_b")
    },

    // The GIANT-corpus branch of qn06's dispatch (>= ~1.3e10 docs:
    // 1 chunk x radius-3 full enumeration, join output == true pairs
    // exactly), FORCED here on a fixture subset — the 36k-variant probe
    // expansion over the whole fixture corpus would cost sweep seconds
    // for no extra coverage, and the branch's semantics are
    // subset-independent. Same brute-force oracle, restricted
    // identically: all three tiers are lossless for hamming <= 3, so
    // the pair sets hash-match whichever branch runs.
    Q("qn06c_simhash_probe_enum", sqlSimhashPairsOracleWhere("doc_id < 300")) { (s, dir) =>
      val sh = tokenized(s, dir).filter(col("doc_id") < 300)
        .select(col("doc_id"), simhashNative(tokenHashes60Native(col("toks"))).as("simhash"))
        .localCheckpoint(true)
      simhashPairsProbeEnum(s, sh, sh.count())
        .localCheckpoint(true).orderBy("doc_a", "doc_b")
    },

    // Incremental-ingest dedup: classify an incoming batch (doc_id % 10
    // >= 8) against the existing corpus — exact duplicate (normalized
    // text seen before), near duplicate (token Jaccard >= 0.6 with any
    // existing doc), or new. This is the shape every production ingest
    // runs: the existing side is an index, the incoming side streams
    // through it; here both derive from the same pair machinery with a
    // crossing filter.
    Q("qn18_incremental_dedup",
      s"""WITH t AS ($sqlTokenized),
         |inc AS (SELECT doc_id, $sqlNorm AS nrm FROM documents WHERE doc_id % 10 >= 8),
         |exn AS (SELECT DISTINCT $sqlNorm AS nrm FROM documents WHERE doc_id % 10 < 8),
         |exact AS (SELECT DISTINCT doc_id FROM inc JOIN exn USING (nrm)),
         |near AS (SELECT DISTINCT i.doc_id
         |         FROM t i JOIN t e
         |           ON i.doc_id % 10 >= 8 AND e.doc_id % 10 < 8
         |          AND i.sz > 0 AND e.sz > 0
         |          AND 5 * len(list_intersect(i.toks, e.toks))
         |              >= 3 * (i.sz + e.sz - len(list_intersect(i.toks, e.toks))))
         |SELECT i.doc_id,
         |       CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
         |            WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
         |            ELSE 'new' END AS status
         |FROM inc i
         |LEFT JOIN exact ex ON i.doc_id = ex.doc_id
         |LEFT JOIN near nr ON i.doc_id = nr.doc_id
         |ORDER BY i.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val inc = docs.filter(col("doc_id") % 10 >= 8)
        .select(col("doc_id"), norm(col("text")).as("nrm"))
      val exn = docs.filter(col("doc_id") % 10 < 8)
        .select(norm(col("text")).as("nrm")).distinct()
      val exact = inc.join(exn, Seq("nrm"), "left_semi")
        .select(col("doc_id")).withColumn("is_exact", lit(true))
      // Crossing near-dup pairs from the symmetric pair machinery: keep
      // pairs with one side in each half, collect the incoming side.
      val pairs = memoized("tokenset", s, dir, 3, 5)(jaccardPairs(tokenized(s, dir), 3, 5))
        .select(col("doc_a"), col("doc_b"))
      val near = pairs
        .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .filter(col("doc_a") % 10 >= 8 && col("doc_b") % 10 < 8)
        .select(col("doc_a").as("doc_id")).distinct()
        .withColumn("is_near", lit(true))
      inc.select(col("doc_id"))
        .join(exact, Seq("doc_id"), "left")
        .join(near, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("is_exact"), "exact_dup")
            .when(col("is_near"), "near_dup")
            .otherwise("new").as("status"))
        .orderBy("doc_id")
    },

    // Transitive closure of the near-dup relation: connected components
    // over the simhash pair graph by iterative min-label propagation
    // (the dedup-cluster step real pipelines run after pair generation —
    // a doc transitively near a kept doc must be dropped too). The Spark
    // loop is the GraphX-style DataFrame iteration: propagate the
    // minimum reachable doc_id along edges until fixpoint, checkpointing
    // each round so lineage stays flat. Iterations = component diameter.
    // The oracle is a DuckDB recursive CTE over the same edge set.
    Q("qn17_dedup_components",
      s"""WITH RECURSIVE
         |$sqlComponentsCte
         |SELECT node AS doc_id, MIN(lab) AS comp FROM walk
         |GROUP BY node ORDER BY doc_id""".stripMargin) { (s, dir) =>
      componentLabels(s, dir).orderBy("doc_id")
    },

    // Sketch calibration: for the simhash near-pair set, compare the
    // sketch's signal (hamming distance) against TRUE token-set Jaccard —
    // the measurement a curation pipeline runs before trusting a sketch
    // threshold at scale. Reuses the memoized pair frame (zero recompute
    // in a session that ran qn06/qn17); true intersections are native
    // merge walks over the sorted token sets, and identical-set pairs
    // (union = 0 can't occur here, but equal sets can) calibrate at
    // J = 1.0 exactly. Per-hamming aggregate keeps the output tiny.
    Q("qn24_simhash_calibration", {
      val hs = s"[ ${sqlTokenHash60("t")} for t in toks ]"
      val inter = "len(list_intersect(a.toks, b.toks))"
      s"""WITH t AS ($sqlTokenized),
         |sh AS (SELECT doc_id, ${sqlSimhash(hs)} AS simhash FROM t),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |             bit_count(xor(a.simhash, b.simhash)) AS hamming
         |      FROM sh a, sh b
         |      WHERE a.doc_id < b.doc_id
         |        AND bit_count(xor(a.simhash, b.simhash)) <= 3),
         |j AS (SELECT p.hamming,
         |             CASE WHEN a.sz + b.sz - $inter = 0 THEN 1000000
         |                  ELSE ${sqlE6(s"CAST($inter AS DOUBLE) / (a.sz + b.sz - $inter)")}
         |             END AS j_e6
         |      FROM p JOIN t a ON p.doc_a = a.doc_id
         |             JOIN t b ON p.doc_b = b.doc_id)
         |SELECT hamming, COUNT(*) AS n_pairs,
         |       MIN(j_e6) AS min_j_e6, MAX(j_e6) AS max_j_e6,
         |       CAST(SUM(j_e6) AS BIGINT) // COUNT(*) AS mean_j_e6
         |FROM j GROUP BY hamming ORDER BY hamming""".stripMargin
    }) { (s, dir) =>
      val pairs = memoized("simhash", s, dir, 0, 0)(simhashNearPairs(s, dir))
      val t = tokenized(s, dir).localCheckpoint(true) // joined twice
      // The payload here is the token-set array itself (the verify
      // input), so the broadcast gate is byte-aware: rows x ~16 B/token.
      val tStats = t.agg(count(lit(1)), coalesce(avg(col("sz")), lit(0.0))).head
      val nDocs = tStats.getLong(0)
      val rowBytes = 48L + 16L * tStats.getDouble(1).toLong
      val withToks = pairs
        .join(sizedWide(s, t.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"),
          col("sz").as("sz_a")), nDocs, rowBytes), "doc_a")
        .join(sizedWide(s, t.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"),
          col("sz").as("sz_b")), nDocs, rowBytes), "doc_b")
        .withColumn("n_inter", SortedIntersectCount(col("toks_a"), col("toks_b")))
        .withColumn("n_union", col("sz_a") + col("sz_b") - col("n_inter"))
        .withColumn("j_e6",
          when(col("n_union") === 0, 1000000L)
            .otherwise(e6(col("n_inter").cast("double") / col("n_union"))))
      withToks.groupBy("hamming")
        .agg(count(lit(1)).as("n_pairs"),
          min(col("j_e6")).as("min_j_e6"), max(col("j_e6")).as("max_j_e6"),
          expr("sum(j_e6) div count(1)").as("mean_j_e6"))
        .orderBy("hamming")
    }
  )

  /** Shared oracle fragment for the clean-corpus compositions (qp01/qp03):
    * quality gate `q`, exact-dedup representatives `d`, their token sets
    * `t`, the near-dup drop set `dup` (J >= 4/5, keep-lowest-id), and the
    * survivors `surv`. Callers prepend `WITH`. */
  private lazy val sqlCleanCtes: String = {
    val toks = sqlTokens("text")
    val stops = TextAnalysis.stopwordsEn.map(w => s"'$w'").mkString("[", ", ", "]")
    val nStop = s"len(list_filter($toks, t -> list_contains($stops, t)))"
    s"""q AS (SELECT * FROM documents
       |      WHERE len($toks) >= 10 AND 10 * $nStop >= len($toks)),
       |d AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY $sqlNorm),
       |t AS (SELECT doc_id, ${sqlTokenSet("text")} AS toks, len(${sqlTokenSet("text")}) AS sz
       |      FROM documents WHERE doc_id IN (SELECT doc_id FROM d)),
       |dup AS (SELECT DISTINCT b.doc_id FROM t a JOIN t b
       |        ON a.doc_id < b.doc_id
       |          AND 5 * len(list_intersect(a.toks, b.toks))
       |              >= 4 * (a.sz + b.sz - len(list_intersect(a.toks, b.toks)))),
       |surv AS (SELECT doc_id FROM t WHERE doc_id NOT IN (SELECT doc_id FROM dup))""".stripMargin
  }

  private final case class CleanStages(
      quality: DataFrame, exact: DataFrame, t: DataFrame, surv: DataFrame)

  /** Shared Spark head of the clean-corpus compositions: quality gate ->
    * exact dedup -> token sets -> near-dup survivors. The J >= 4/5 pair
    * frame is memoized under its own tag (qp01 and qp03 need the
    * identical frame), and the survivor id frame is checkpointed — it
    * feeds several crossJoined stage counts downstream. */
  private def cleanStages(s: SparkSession, dir: String): CleanStages = {
    val docs = Tables.documents(s, dir)
    // Tokenize ONCE for the gate (q22's double-parse lesson): the old
    // inline filter re-split `text` three times per row (nTok twice via
    // the conjunction, nStop's filter once more). The counts ride a
    // staged projection over the materialized array; the filter then
    // compares cheap integer attributes, and the helper columns drop out.
    val quality = docs
      .withColumn("tk_q", tokens(col("text")))
      .withColumn("n_tok_q", size(col("tk_q")))
      .withColumn("n_stop_q", size(filter(col("tk_q"), t =>
        array_contains(array(TextAnalysis.stopwordsEn.map(lit): _*), t))))
      .filter(col("n_tok_q") >= 10 && col("n_stop_q") * 10 >= col("n_tok_q"))
      .drop("tk_q", "n_tok_q", "n_stop_q")
    val exact = quality.groupBy(norm(col("text")).as("k"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val t = docs.join(exact, "doc_id")
      .select(col("doc_id"), tokenSet(col("text")).as("toks"))
      .withColumn("sz", size(col("toks")))
    // Near-dup pairs at jaccard >= 0.8 via the same dictionary-encoded
    // lossless prefix filter; only the higher doc_id of each pair is
    // dropped (greedy keep-lowest-id).
    val dupB = memoized("clean45", s, dir, 4, 5)(
      jaccardPairs(t.select("doc_id", "toks"), 4, 5, "clean45"))
      .select(col("doc_b").as("doc_id")).distinct()
    val surv = t.select("doc_id").join(dupB, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    CleanStages(quality, exact, t, surv)
  }

  /** Shared oracle fragment: the recursive-CTE chain computing connected
    * components of the simhash hamming<=3 near-dup graph. Callers prepend
    * `WITH RECURSIVE` and aggregate `walk(node, lab)` by node. */
  private[operators] lazy val sqlComponentsCte: String = {
    val hs = s"[ ${sqlTokenHash60("t")} for t in toks ]"
    s"""t AS ($sqlTokenized),
       |sh AS (SELECT doc_id, ${sqlSimhash(hs)} AS simhash FROM t),
       |e AS (SELECT a.doc_id AS a, b.doc_id AS b FROM sh a, sh b
       |      WHERE a.doc_id < b.doc_id
       |        AND bit_count(xor(a.simhash, b.simhash)) <= 3),
       |ed AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
       |walk(node, lab) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT ed.b, walk.lab FROM walk JOIN ed ON ed.a = walk.node
       |)""".stripMargin
  }

  /** Connected components over the simhash near-dup pair graph as
    * `(doc_id, comp)` — iterative min-label propagation, the GraphX-style
    * DataFrame loop: propagate the minimum reachable doc_id along edges
    * until fixpoint, checkpointing each round so lineage stays flat.
    * Iterations = component diameter. Memoized per (session, dir) under
    * tag "components": qn17, qp02 and qp04 all consume the identical
    * labels, and the propagation loop is the expensive part — within a
    * session it's a materialized view. Bench clears this tag before
    * each qn17 rep so the measurement stays a cold propagation over
    * warm pair inputs. */
  private[graft] def componentLabels(s: SparkSession, dir: String): DataFrame =
    memoized("components", s, dir, 0, 0)(componentLabelsBuild(s, dir))

  private def componentLabelsBuild(s: SparkSession, dir: String): DataFrame = {
    val pairs = memoized("simhash", s, dir, 0, 0)(simhashNearPairs(s, dir))
      .select(col("doc_a"), col("doc_b"))
    val edges = pairs.unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .toDF("src", "dst").localCheckpoint(true)
    // Measured-size strategy for every join in the loop (round 18,
    // guide §3.1): both sides are localCheckpoints whose default stats
    // read "huge", so Catalyst planned a sort-merge join with 3
    // exchanges PER ROUND — 84 jobs / ~4 s at sf0.1 for 5,000-row
    // frames, pure per-round overhead. One metadata-cheap parquet count
    // (the qn14 dispatch pattern) bounds every side: labels has exactly
    // nDocs rows, and the nb aggregate at most that — under the
    // broadcast cap each round is two map-side joins plus one tiny
    // aggregate exchange; past it (the 100 TB corpus) [[sized]] falls
    // back to SHUFFLE_HASH, never the driver-blowing broadcast.
    val nDocs = Tables.documents(s, dir).count()
    var labels = Tables.documents(s, dir)
      .select(col("doc_id"), col("doc_id").as("comp")).localCheckpoint(true)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 50) {
      val nb = edges.join(sized(s, labels, nDocs), col("src") === col("doc_id"))
        .groupBy(col("dst")).agg(min(col("comp")).as("nb_comp"))
      // The changed flag rides the round's own join, so convergence
      // detection is a scan of the just-materialized frame — not a
      // second labels join (one fewer shuffle per round). (A
      // pointer-jumping variant — also taking comp's own label each
      // round — was measured in round 18: rounds 12 -> ~7, jobs 59 ->
      // 45, but wall FLAT (min 3.11 vs 3.03 s): the extra broadcast
      // build per round ate the round reduction. Rejected; the loop
      // stays one edge-min step per round.)
      val next = labels.join(sized(s, nb, nDocs), col("doc_id") === col("dst"), "left")
        .select(col("doc_id"),
          least(col("comp"), coalesce(col("nb_comp"), col("comp"))).as("comp"),
          (coalesce(col("nb_comp"), col("comp")) < col("comp")).as("changed"))
        .localCheckpoint(true)
      converged = next.filter(col("changed")).isEmpty
      labels = next.select("doc_id", "comp")
      rounds += 1
    }
    // The cap is a runaway bound, not a semantic: labels that have not
    // reached fixpoint are WRONG component ids, so failing loud beats
    // returning them (graphs with diameter > 50 need a doubling-style
    // pointer-jumping pass, not more rounds of this).
    if (!converged) throw new IllegalStateException(
      s"dedup components: min-label propagation did not converge in $rounds rounds")
    labels
  }

  /** qn06/qn06b/qn06c's shared oracle: the brute-force all-pairs hamming
    * filter — blocking scheme-independent, so every branch of the
    * dispatch is held to the same answer. `docFilter` restricts the
    * corpus for branches whose fixture-size forcing needs a subset
    * (qn06c's 36k-variant probe expansion). */
  private def sqlSimhashPairsOracleWhere(docFilter: String): String = {
    val hs = s"[ ${sqlTokenHash60("t")} for t in toks ]"
    s"""WITH t AS ($sqlTokenized),
       |sh AS (SELECT doc_id, ${sqlSimhash(hs)} AS simhash FROM t WHERE $docFilter)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       bit_count(xor(a.simhash, b.simhash)) AS hamming
       |FROM sh a, sh b
       |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }
  private lazy val sqlSimhashPairsOracle: String = sqlSimhashPairsOracleWhere("TRUE")

  /** Corpus-size threshold where [[simhashNearPairs]] switches chunking
    * schemes. The 4x15-bit pigeonhole's candidate volume is ~N^2 / 2^15
    * x 4 on uniform hashes — a CONSTANT divisor of all-pairs (measured
    * ~N^2/870 in the round-12 trio battery: 4.59B candidates at 2M
    * docs), so past ~1e5 docs the blocking stops being sub-quadratic in
    * any useful sense. The 2x30-bit radius-1 scheme divides by ~2^30/61
    * instead (~2000x fewer random collisions) at a fixed 62-rows/doc
    * probe expansion. Both schemes are LOSSLESS for hamming <= 3, so
    * the dispatch never changes results — only the plan. A constant
    * (not a conf): the value oracle replays results, not plans, so no
    * cross-engine drift is possible, but determinism sweeps still want
    * one literal. */
  private[operators] val simhashSuperChunkMinDocs = 100000L

  /** Corpus size where the dispatch leaves 2x30 super-chunks for the
    * FULL-ENUMERATION tier ([[simhashPairsProbeEnum]]): 1 chunk of all
    * 60 bits, radius-3 probe expansion. The cost model (BENCH_NOTES):
    * the 2x30 scheme's candidates are ~N^2 x (2 x 61^2 / 2^30) — a
    * divisor of all-pairs of ~3.7e5, measured — while full enumeration
    * pays a FIXED |ball(60,3)| = 36,051 probe rows per doc and emits
    * candidates == true pairs exactly (a probe variant equals an index
    * value iff the pair's distance is <= 3 — the blocking is perfect,
    * see the method doc). N x 36051 crosses N^2/3.7e5 at N ~ 1.3e10
    * docs; past it the enumeration's linear probe volume beats the
    * super-chunks' quadratic candidate tail, with the SAME lossless
    * semantics, so the dispatch keeps qn06 exact at any corpus size
    * instead of handing >1e10-doc corpora to an approximate path. All
    * three tiers are instances of one family — k chunks of 60/k bits
    * probed to radius floor(3/k) — dispatched at the measured
    * crossovers; each tier is oracle-forced at fixture size
    * (qn06/qn06b/qn06c). */
  private[operators] val simhashProbeEnumMinDocs = 13000000000L

  /** SimHash hamming<=3 pairs (unordered), shared by qn06 and the
    * component query, DISPATCHED BY MEASURED CORPUS SIZE (see
    * [[simhashSuperChunkMinDocs]] and [[simhashProbeEnumMinDocs]]). All
    * branches emit the identical pair set — the pigeonhole guarantee
    * holds in each — so the oracle SQL (all-pairs hamming filter) is
    * one definition regardless of branch. */
  private def simhashNearPairs(s: SparkSession, dir: String): DataFrame = {
      val sh = tokenized(s, dir)
        .select(col("doc_id"), simhashNative(tokenHashes60Native(col("toks"))).as("simhash"))
        // Materialization barrier: both sides of the chunk self-join
        // would otherwise re-run the 60-bit SimHash per document.
        .localCheckpoint(true)
      val nDocs = sh.count()
      val pairs =
        if (nDocs >= simhashProbeEnumMinDocs) simhashPairsProbeEnum(s, sh, nDocs)
        else if (nDocs >= simhashSuperChunkMinDocs) simhashPairsSuperChunk(s, sh, nDocs)
        else simhashPairs4x15(s, sh, nDocs)
      // Materialize the (shuffle-free) pair stream before the global
      // sort — see jaccardPairs.
      pairs.localCheckpoint(true)
  }

  /** The small-corpus branch: 4 chunks of 15 bits, distance <= 3 forces
    * at least one IDENTICAL chunk — candidates from 4 equi-joins.
    * Chunk join key packs (chunkIdx, 15 chunk bits) into one long —
    * exact tuple equality, no string concat. The first-equal-chunk
    * filter keeps one occurrence per pair (<= 4 chunks, so a plain
    * when-chain — no merge walk needed), replacing round 1's distinct. */
  private def simhashPairs4x15(s: SparkSession, sh: DataFrame, nDocs: Long): DataFrame = {
      def chunkOf(sim: Column, c: Int): Column =
        shiftright(sim, c * 15).bitwiseAND(lit((1L << 15) - 1))
      val chunked = sh.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(c =>
          lit(c.toLong << 15).bitwiseOR(chunkOf(col("simhash"), c))): _*))
          .as("key"))
      val ham = bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
      val firstEqChunk = (0 until 4).foldRight(lit(-1L)) { (c, rest) =>
        when(chunkOf(col("x.simhash"), c) === chunkOf(col("y.simhash"), c), lit(c.toLong))
          .otherwise(rest)
      }
      // Measured-size strategy — chunked derives from a localCheckpoint
      // whose default stats would otherwise force a sort-merge join (see
      // [[sized]]). 4 chunk rows per document.
      chunked.as("x").join(sized(s, chunked.as("y"), 4L * nDocs), col("x.key") === col("y.key"))
        .filter(col("x.doc_id") < col("y.doc_id") && ham <= 3 &&
          shiftright(col("x.key"), 15) === firstEqChunk)
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          ham.cast("long").as("hamming"))
  }

  /** The at-scale branch: 2 super-chunks of 30 bits with RADIUS-1 probe
    * expansion. Pigeonhole at two levels: hamming <= 3 over two chunks
    * forces one chunk with hamming <= 1, and "within hamming 1 of a
    * 30-bit value" is an exact-match problem after enumerating the
    * value plus its 30 single-bit flips (multi-index hashing). The
    * index side emits 2 rows/doc (exact chunk values); the probe side
    * 62 rows/doc (2 x (1 + 30)); the join is exact equality on a packed
    * (chunkIdx, 30-bit value) long. A random pair collides with
    * probability ~2 x 61/2^30 instead of 4/2^15 — the ~2000x blocking
    * gain that keeps candidates near-linear at millions of docs
    * (measured in the paircurve battery), for a fixed 15.5x row
    * expansion over the 4x15 scheme's 4 rows/doc.
    *
    * Exactly-once per pair without a distinct: within a qualifying
    * chunk exactly ONE probe variant of x matches y's exact value (the
    * flip of the single differing bit, or the unflipped value), the
    * doc_id order filter kills the mirrored orientation, and the
    * first-chunk-with-hamming<=1 filter picks one chunk when both
    * qualify. */
  private def simhashPairsSuperChunk(s: SparkSession, sh: DataFrame, nDocs: Long): DataFrame = {
      val mask30 = (1L << 30) - 1
      def chunkOf(sim: Column, c: Int): Column =
        shiftright(sim, c * 30).bitwiseAND(lit(mask30))
      val idx = sh.select(col("doc_id"), col("simhash"),
        explode(array((0 until 2).map(c =>
          lit(c.toLong << 30).bitwiseOR(chunkOf(col("simhash"), c))): _*))
          .as("key"))
      val probes = sh.select(col("doc_id"), col("simhash"),
        explode(array((0 until 2).flatMap { c =>
          val tag = lit(c.toLong << 30)
          tag.bitwiseOR(chunkOf(col("simhash"), c)) +:
            (0 until 30).map(b =>
              tag.bitwiseOR(chunkOf(col("simhash"), c).bitwiseXOR(lit(1L << b))))
        }: _*)).as("key"))
      val ham = bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
      def chunkHam(c: Int) =
        bit_count(chunkOf(col("x.simhash"), c).bitwiseXOR(chunkOf(col("y.simhash"), c)))
      val firstNearChunk = (0 until 2).foldRight(lit(-1L)) { (c, rest) =>
        when(chunkHam(c) <= 1, lit(c.toLong)).otherwise(rest)
      }
      probes.as("x").join(sized(s, idx.as("y"), 2L * nDocs), col("x.key") === col("y.key"))
        .filter(col("x.doc_id") < col("y.doc_id") && ham <= 3 &&
          shiftright(col("x.key"), 30) === firstNearChunk)
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          ham.cast("long").as("hamming"))
  }

  /** Every 60-bit mask with at most 3 bits set — the radius-3 Hamming
    * ball's XOR offsets, |ball| = 1 + 60 + C(60,2) + C(60,3) = 36,051.
    * Driver-side once, shipped into the plan as ONE array literal
    * (~288 KB), so the probe expansion is a codegen'd `transform` over
    * a foldable array — no 36k-branch expression tree, no UDF. */
  private lazy val radius3Masks60: Seq[Long] = {
    val out = Seq.newBuilder[Long]
    out += 0L
    for (i <- 0 until 60) {
      out += (1L << i)
      for (j <- i + 1 until 60) {
        out += (1L << i) | (1L << j)
        for (k <- j + 1 until 60) out += (1L << i) | (1L << j) | (1L << k)
      }
    }
    out.result()
  }

  /** The giant-corpus branch: 1 chunk of all 60 bits, radius-3 probe
    * enumeration — multi-index hashing collapsed to a single index. The
    * index side emits each doc's exact simhash (1 row/doc); the probe
    * side emits the doc's whole radius-3 ball (36,051 rows/doc, the
    * simhash XOR each [[radius3Masks60]] offset); the join is exact
    * equality on the 60-bit value. The blocking is PERFECT: a probe
    * variant of x equals y's value iff x^y is one of the masks, i.e.
    * iff hamming(x,y) <= 3 — so join output == true pairs, with no
    * candidate tail at all (the property neither chunked tier has: their
    * random chunk collisions scale with N^2/divisor; here the only
    * quadratic term is true pairs themselves). Exactly-once per
    * unordered pair without a distinct: exactly ONE mask maps x to y
    * (their XOR), and the doc_id order filter kills the mirrored
    * (y-probes-x) orientation.
    *
    * Cost shape: probe volume is a FIXED 36,051 rows/doc — linear in N,
    * ~2.9 MB/doc shuffled pre-AQE-compression — which loses to the
    * super-chunks' tiny expansion until candidates ~N^2/3.7e5 out-grow
    * it at ~1.3e10 docs ([[simhashProbeEnumMinDocs]]); past that this
    * tier is the only lossless plan whose work stays near-linear.
    * Forced at fixture size on a subset by qn06c (the full fixture
    * corpus x 36k rows would dominate the sweep for no extra
    * coverage). */
  private[operators] def simhashPairsProbeEnum(s: SparkSession, sh: DataFrame,
      nDocs: Long): DataFrame = {
      val probes = sh.select(col("doc_id"), col("simhash"),
        explode(transform(typedlit(radius3Masks60),
          m => col("simhash").bitwiseXOR(m))).as("key"))
      val idx = sh.select(col("doc_id"), col("simhash"),
        col("simhash").as("key"))
      val ham = bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
      probes.as("x").join(sized(s, idx.as("y"), nDocs), col("x.key") === col("y.key"))
        .filter(col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          ham.cast("long").as("hamming"))
  }
}
