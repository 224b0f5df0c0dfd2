package graft.operators

import org.apache.spark.sql.SparkSession

/** Session-scoped memo of PRISTINE persisted-index builds — the
  * [[Dedup]] pair-memo discipline applied to the index-lifecycle gates.
  *
  * Motivation (optimization round, guide §1.2/§2.4: remove redundant
  * passes before tuning anything inside them): the verbs x rungs driver
  * gates all serve the SAME deterministic pristine index per family —
  * before this memo the sweep built SQ8's 64-dim index six times
  * (qn38b, qn60, qn61, qn64, qn66, qn70), the PQ fixture index three
  * times (qn39, qn54, qn55), the composed IVF+SQ8 three times
  * (qn45, qn52, qn53), and so on: ~15 redundant full corpus
  * scan+encode+write passes per sweep. In production the build runs
  * once per lifecycle and probes amortize it; within one session the
  * gates now share one pristine build per (corpus dir, family).
  *
  * Honesty rules:
  *  - results are untouched — every consumer reads the identical
  *    committed artifacts a fresh build writes (builds are RNG-free and
  *    deterministic, the qn19 rule), so the oracle hashes cannot move;
  *  - the FIRST gate to need a family's index still pays the full cold
  *    build inside its own timed region — nothing is precomputed
  *    outside a measured query, and nothing persists across JVMs
  *    (stranded memo dirs from dead JVMs are reclaimed at first use);
  *  - gates that MUTATE their index (the delete verbs) never touch the
  *    shared tree: [[mutableCopy]] hands them a file-level private copy
  *    (bit-identical to a fresh build at O(index bytes) local-copy cost
  *    instead of a corpus re-scan + re-encode).
  *
  * The memo assumes data under `dir` is immutable within a session (the
  * lake contract — the pair-memo caveat); [[clear]] is the eviction
  * hook after an in-place corpus rewrite. Keys hold the session, and
  * entries of stopped sessions are swept on every access.
  */
private[graft] object IndexMemo {
  private val memo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), String]

  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The pristine index path for (dir, tag), built at most once per
    * session. READ-ONLY consumers only — a mutating gate goes through
    * [[mutableCopy]]. Deliberately NOT in the newIndexDir reclamation
    * ring: a memoized tree must outlive any number of later gates.
    * Builds serialize under the object lock (concurrent test suites may
    * race the same key; the loser would strand a half-built dir). */
  def pristine(s: SparkSession, dir: String, tag: String)(build: String => Unit): String = {
    memo.keySet.filter(_._1.sparkContext.isStopped).foreach { k =>
      memo.remove(k).foreach(p => TmpDirs.rmTree(new java.io.File(p)))
    }
    memo.get((s, dir, tag)).getOrElse(synchronized {
      memo.getOrElseUpdate((s, dir, tag), {
        val p = TmpDirs.dir("graft_idx_memo_", s"${tag}_${seq.incrementAndGet()}").toString
        build(p)
        p
      })
    })
  }

  /** A privately-owned copy of the pristine index for gates that MUTATE
    * it (the delete verbs): byte-identical to a fresh build, landing in
    * a [[Similarity.newIndexDir]] ring slot like any per-gate index, so
    * the ring's generation reclamation bounds the copies as before. */
  def mutableCopy(s: SparkSession, dir: String, tag: String)(build: String => Unit): String = {
    val src = pristine(s, dir, tag)(build)
    val dst = Similarity.newIndexDir()
    TmpDirs.copyTree(new java.io.File(src), new java.io.File(dst))
    dst
  }

  /** Evict every memoized index for `s` and delete the trees — the
    * corpus-rewrite / test-isolation hook. */
  def clear(s: SparkSession): Unit =
    memo.keySet.filter(_._1 eq s).foreach { k =>
      memo.remove(k).foreach(p => TmpDirs.rmTree(new java.io.File(p)))
    }

  /** Visible size of the memo for `s` (tests). */
  private[graft] def size(s: SparkSession): Int = memo.keySet.count(_._1 eq s)
}
