package graft.streaming

import graft.functions.TextFns._
import graft.functions.VectorExprs.tokenHashesNative
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming MinHash-LSH near-duplicate detection — the ingest-time
  * twin of the batch qn04 pipeline: documents arrive on a stream, and
  * every arrival is checked against the recent corpus WITHOUT an O(n^2)
  * compare or a batch re-run.
  *
  * Plan shape: signature + band explode are pure Column expressions
  * (identical to the batch path), then the stream groups by BAND KEY and
  * keeps per-bucket state = the member docs of that LSH bucket inside
  * the dedup horizon. A new doc pairs only against its own bucket's
  * members — the same sub-linear candidate generation the batch plan
  * gets from the band equi-join, expressed as keyed state.
  *
  * Exactly-once pair emission needs no cross-bucket coordination: a
  * colliding pair agrees on its FIRST agreeing band, and both docs
  * necessarily sit in that band's bucket too — so each bucket emits a
  * pair only if ITS band index is the pair's first agreeing band
  * (the stateless trick behind the batch plan's no-distinct dedup,
  * `FirstAgreeingBand`).
  *
  * Scale + state bound: state is sharded by band key (the shuffle key),
  * and the event-time timeout evicts buckets `horizonMs` past their last
  * arrival — "near-dup within the horizon" is the declared streaming
  * semantics (an unbounded exact history cannot fit any streaming state
  * store; production pipelines bound dedup lookback the same way).
  */
object StreamDedup {

  val NPlanes = 64
  val NBands = 16
  val RowsPerBand = 4

  /** Stable fingerprint of the SIGNATURE FAMILY — the banding shape plus
    * every splitmix64-drawn permutation constant. A persisted band index
    * is only meaningful under the constants that produced it: change
    * mhA/mhB (or the shape) and old band strings never collide with
    * newly banded docs, so every pre-change lake doc silently loses
    * near-dup recall — and [[IngestClean.repairIndex]] cannot heal it
    * (it matches by doc_id; the stale-banded docs ARE present).
    * [[IngestClean]] stores this value next to the index and REBUILDS
    * (rebands the whole lake) on mismatch instead of appending.
    */
  lazy val signatureFamily: String = {
    val parts = Seq(NPlanes.toLong, NBands.toLong, RowsPerBand.toLong) ++
      (0 until NPlanes).flatMap(i => Seq(mhA(i), mhB(i)))
    f"sigfam-${parts.foldLeft(0x5DEECE66DL)((acc, v) => mix64(acc ^ v))}%016x"
  }

  // PROJECTION DISCIPLINE for the native MinHashSig (the qn04 rule,
  // sharpened): `lshBands(sig, ...)` extracts 64 items from `sig`. The
  // HOF form's `array(e_0..e_63).getItem(k)` folded to `e_k` via
  // SimplifyExtractValueOps, so inlining it cost one plane per item;
  // the native expression is OPAQUE to that rule, so an inlined
  // `lshBands(minhashSigNative(hs), ...)` re-runs ALL 64 planes per
  // extracted item — 64x the work (measured as a ~30 min stall on the
  // 1M-doc battery when a candidate calc inlined it). ALWAYS
  // materialize the signature in its own .select() before banding;
  // CollapseProject will not re-inline an expression referenced 64
  // times. [[banded]] below is the reference shape.

  case class BandDoc(band: String, b: Int, doc_id: Long, us: Long, sig: Seq[Long])
  /** BandDoc + the event-time column the watermark/timeout machinery
    * tracks (must survive up to the stateful operator). */
  case class BandDocT(band: String, b: Int, doc_id: Long, us: Long, sig: Seq[Long],
      ts: java.sql.Timestamp)
  case class DupPair(doc_a: Long, doc_b: Long, n_agree: Int)
  case class Bucket(members: List[(Long, Long, Seq[Long])]) // (doc_id, us, sig)

  /** Tokenize -> MinHash(64) -> 16 band keys, one row per (doc, band).
    * Pure Column expressions: works identically on batch and streaming
    * frames. Input needs (doc_id, text, us). The token hashes and the
    * signature are the native kernels ([[graft.functions.TokenHashes]],
    * [[graft.functions.MinHashSig]]), which run inside whole-stage
    * codegen; their HOF references in TextFns would run interpreted on
    * every ingest batch. */
  def banded(docs: DataFrame): Dataset[BandDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id"), col("us"),
        tokenHashesNative(tokenSet(col("text"))).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), col("us"),
        graft.functions.VectorExprs.minhashSigNative(col("hs"), NPlanes).as("sig"))
      .select(col("doc_id"), col("us"), col("sig"),
        posexplode(lshBands(col("sig"), NBands, RowsPerBand)).as(Seq("b", "band")))
      .select(col("band"), col("b"), col("doc_id"), col("us"), col("sig"))
      .as[BandDoc]
  }

  /** [[banded]]'s head kept at one row per doc: adds `bands`, the row's
    * NBands band keys as one array, where `on` holds and the token set
    * is non-empty, else null. The signature gets its own projection, as
    * above, so MinHash runs once per banded row. */
  def withBands(docs: DataFrame, on: Column): DataFrame =
    docs.withColumn("hs", when(on, tokenHashesNative(tokenSet(col("text")))))
      .withColumn("sig", when(size(col("hs")) > 0,
        graft.functions.VectorExprs.minhashSigNative(col("hs"), NPlanes)))
      .withColumn("bands", when(col("sig").isNotNull, lshBands(col("sig"), NBands, RowsPerBand)))
      .drop("hs", "sig")

  private def firstAgree(a: Seq[Long], b: Seq[Long]): Int =
    (0 until NBands).indexWhere(bd =>
      (0 until RowsPerBand).forall(r => a(bd * RowsPerBand + r) == b(bd * RowsPerBand + r)))

  private def agreeCount(a: Seq[Long], b: Seq[Long]): Int =
    a.iterator.zip(b.iterator).count { case (x, y) => x == y }

  /** Pair the docs of one micro-batch (arrival order = event time, ties
    * by doc_id) against the bucket members, emitting only from the
    * pair's first agreeing band. Returns the pairs and the grown
    * member list.
    *
    * The horizon is enforced HERE by member age relative to the
    * arrival's event time (`horizonUs < 0` = unbounded, the batch twin).
    * Timeout eviction only fires on a batch boundary where the bucket
    * receives no data, so a cross-horizon arrival in the same batch
    * would otherwise still pair against a stale member; age-filtering
    * makes "near-dup within the horizon" hold regardless of micro-batch
    * timing, and eviction only reclaims memory. */
  private def pairUp(bd: Int, arrived: Seq[BandDoc],
      members0: List[(Long, Long, Seq[Long])],
      horizonUs: Long): (Seq[DupPair], List[(Long, Long, Seq[Long])]) = {
    var members = members0
    val out = Seq.newBuilder[DupPair]
    for (d <- arrived) {
      for ((mid, mus, msig) <- members
           if mid != d.doc_id && (horizonUs < 0 || mus + horizonUs > d.us))
        if (firstAgree(msig, d.sig) == bd)
          out += DupPair(math.min(mid, d.doc_id), math.max(mid, d.doc_id),
            agreeCount(msig, d.sig))
      members = (d.doc_id, d.us, d.sig) :: members
    }
    (out.result(), members)
  }

  /** Streaming near-dup pairs with a bounded dedup horizon. `docs` must
    * be a streaming frame with (doc_id, text, us); pairs appear in the
    * micro-batch where the LATER doc arrives. */
  def nearDupPairsStreaming(docs: DataFrame, horizonMs: Long): Dataset[DupPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    banded(docs)
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", s"$horizonMs milliseconds")
      .as[BandDocT]
      .groupByKey(_.band)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: String, it0: Iterator[BandDocT], state: GroupState[Bucket]) => {
          val it = it0.map(d => BandDoc(d.band, d.b, d.doc_id, d.us, d.sig))
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val arrived = it.toSeq.sortBy(d => (d.us, d.doc_id))
            val bd = arrived.head.b
            val (pairs, members) =
              pairUp(bd, arrived, state.getOption.map(_.members).getOrElse(Nil),
                horizonMs * 1000L)
            // keep only members still reachable from future arrivals
            val floorUs = (state.getCurrentWatermarkMs() - horizonMs) * 1000L
            state.update(Bucket(members.filter(_._2 >= floorUs)))
            // evict the bucket horizonMs past its newest arrival (never
            // at-or-before the current watermark, which Spark rejects)
            val newestMs = arrived.map(_.us).max / 1000L
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + 1, newestMs + horizonMs))
            pairs.iterator
          }
        })
  }

  /** Batch twin: same banded head, same pairing code, full group at
    * once — the reference semantics the streaming path is tested
    * against. */
  def nearDupPairsBatch(docs: DataFrame): Dataset[DupPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    banded(docs)
      .groupByKey(_.band)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, it: Iterator[BandDoc], _: GroupState[Bucket]) => {
          val arrived = it.toSeq.sortBy(d => (d.us, d.doc_id))
          pairUp(arrived.head.b, arrived, Nil, -1L)._1.iterator
        })
  }
}
