package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** `explain(formatted)` evidence, two modes:
  *
  *  - `runMain graft.Plans [sfDir]` regenerates docs/PLANS.md for the
  *    plan-shape-critical queries, as reviewable evidence that pushdown /
  *    broadcast / partial aggregation / codegen landed where the
  *    scaladocs claim. Run it after touching any plan.
  *  - `runMain graft.Plans <outDir> <suffix> <q1,q2,...|all> [sfDir]`
  *    writes `<outDir>/<query>_<suffix>.txt` per named query (every
  *    registered query for `all`) — the optimization-round evidence files
  *    (`plans/rNN/<query>_{before,after}.txt`).
  *
  * Both modes use the same fixed `local[4]` session so dumps stay
  * comparable across hosts and invocations.
  */
object Plans {
  val headline: Seq[(String, String)] = Seq(
    "q07_region_revenue" -> "broadcast dim joins + partial/final agg",
    "q12_agg_pricing_summary" -> "TPC-H Q1 shape: scan -> partial agg -> final agg",
    "q17_rownum_top_order_per_cust" -> "rank===1 rewritten to TopKPerGroup (no per-group sort)",
    "q20_topk_orders" -> "TakeOrderedAndProject (no global sort)",
    "qn03_jaccard_pairs" -> "measured dispatch: prefix-filter equi-join (first-common pair dedup, no distinct) vs bucketed all-pairs equi-join when the candidate stream is measured larger; bitmap/merge-walk verify either way",
    "qn04_minhash_lsh_pairs" -> "measured dispatch: LSH band equi-join (first-agreeing-band dedup, broadcast sig rejoin) vs bucketed all-pairs with one early-exit band test when band collisions are measured larger",
    "qn07_cosine_topk" -> "broadcast probes, codegen'd native dot, TopKPerGroup operator (rewritten from the window form)",
    "qs02_session_window" -> "built-in session window aggregation",
    "qm01_asset_catalog" -> "payload column pruned out of the scan",
    "qp01_clean_corpus" -> "composed pipeline: quality gate, exact dedup, near-dup anti-join",
    "qr01_asof_last_click" -> "as-of join as tagged union + one window shuffle (no range explosion)",
    "qr02_click_attribution_window" -> "range join: shuffle on user key, range as partition-local predicate",
    "qn11_contamination_check" -> "benchmark n-gram set broadcast; corpus streams through, no corpus shuffle",
    "qt08_tfidf_top_terms" -> "no corpus-derived broadcast: shuffled-hash df join, n_tok as a window over tf, N as one-row crossJoin; both doc windows share one exchange",
    "qn08_cosine_near_pairs" -> "lossless angular-grid blocking: equi-join on cell keys, no nested-loop cross product",
    "qn09_ann_lsh_topk" -> "band equi-join vs broadcast probes; first-agreeing-band pair dedup as a scalar filter (no SortAggregate over array payloads)",
    "qn14b_sharded_packing" -> "shard-keyed packing: partitioned window cumsum, no global sort",
    "qn19_kmeans_step" -> "k-means assignment through partial+final TopKPerGroup; centroids via one (cluster, pos) partial-agg shuffle; vectors never shuffle whole",
    "qn20_semantic_dedup" -> "centroids collected once, every vector assigned by the native exact argmax (Similarity.assign: a map over the scan, no candidate rows, no shuffle); within-cluster pairs via cent_id equi-join (measured-size gated) — quadratic work bounded per cluster, never a corpus cross join",
    "q0z_zonemap_scan" -> "zone-map pruned scan: planning reads the stats table, the data scan lists only surviving files, row predicate re-applied",
    "q0zp_zonemap_partition_pruned" -> "partition pruning composed with zone pruning: partition equalities filter the stats table first, zones prune within surviving partitions, both re-applied to rows",
    "qn20d_semantic_dedup_sharded" -> "executor-sharded streaming dedup: coarse tier broadcast only, fine centroids ride the shuffle as marker rows, one groupByKey on coarse_id into state",
    "qn21_bloom_decontamination" -> "bloom sketch rides the scan as a literal might_contain filter; corpus never shuffles, exact join re-verifies every sketch survivor",
    "qn22_epoch_shuffle" -> "distributed rank: range partition on the hash + per-partition row_number + O(#partitions) offsets; no unpartitioned window",
    "q30_grouping_sets" -> "one Expand + one aggregate pass — not a union of per-set scans",
    "q32_scalar_subquery" -> "correlated scalar subquery decorrelated to aggregate + join; no per-row subquery node",
    "qn26_bpe_merge" -> "char explode over the DISTINCT-word frequency table, pair counts, TakeOrderedAndProject top-k",
    "qn27_record_linkage" -> "block-key equi-join (never a nested loop); levenshtein verify inside the join stage",
    "qn28_countmin_hitters" -> "sketch cells and candidates are O(1)-bounded broadcasts; candidates via TakeOrderedAndProject",
    "qt10_lm_surprise" -> "LM model sides join shuffled-hash; no corpus-derived broadcast anywhere",
    "qk01_salted_skew_join" -> "salted shuffle join: exchange hash-partitions (event_type, salt) so each hot key spreads over 16 reducers; dim replicated by explode, ShuffledHashJoin forced",
    "qk02_salted_distinct_users" -> "salted non-algebraic agg: per-(key, salt) collect_set shards, final merge concatenates pre-deduplicated arrays — no single-reducer distinct assembly",
    "qn10b_ann_ivf_persisted" -> "persisted IVF probe: cent_id IN (...) as a PartitionFilter on the index lake — unprobed cells' files never open; broadcast probe-cell rescoring + top-k",
    "qn10d_ann_ivf_probe_join" -> "corpus-sized IVF probe: routed probes stay distributed, index lake equi-joins on cent_id — no collect, no IN-list; the serving shape past the 1e6-route collect bound (routing dispatched FLAT at the 16-cell fixture)",
    "qn10e_ann_ivf_probe_join_coarse" -> "forced coarse branch of qn10d's dispatch: k2-seed broadcast routing, fine cells via coarse_id equi-join — no probe x all-centroids nested loop",
    "qn06c_simhash_probe_enum" -> "radius-3 ball enumeration: one 36,051-mask literal-array transform, exact-equality join — join output IS the answer (no candidate filter, no pair-dedup state)",
    "qn30_pq_codebooks" -> "PQ codebook training: the assignment argmin is the native pq_encode expression (plan-time seed literal, partial-distance early exit — no N x K join, no window shuffle); the only shuffle is the (sub, cid, pos) partial-agg mean",
    "qn31_pq_encode" -> "PQ encode: join-free map over the corpus scan — the trained codebook bakes into the pq_encode codegen expression, one early-exit argmin pass per vector emits all M codes + reconstruction errors",
    "qn32_ann_pq_adc" -> "ADC scan: per-probe 64-slot lookup arrays broadcast; candidate scoring is 4 element_at's over the code column inside one codegen stage; only shuffle is the per-probe top-k",
    "qn33_ann_ivfpq_refine" -> "IVFADC + refine: coarse route bounds candidates to probed cells, ADC ranks codes, top-16 shortlist alone pays the full-precision read for the exact cosine re-rank",
    "qn34_ann_binary_hamming" -> "binary tier: one sign-bit long per vector; candidate ranking is xor + bit_count (two ALU ops in codegen, no array traffic); 16-wide shortlist pays the float read",
    "qn36_ann_ivfpq_residual" -> "residual IVFADC: codebooks train on v - coarse_centroid; one broadcast distance table per (probe, probed cell); candidate cost unchanged at M lookups keyed by the candidate's cell",
    "qn37_pq_encode_m8" -> "non-fixture PQ sizing (M=8 subspaces, K=32 codewords): the identical native train+encode pipeline with every slicing/stride/layout constant a parameter — same plan shape as qn30/qn31, different arithmetic",
    "qn38_ann_sq8" -> "SQ8 scalar quantization: per-dim min/max via one 64-group partial agg, map-only byte quantize, integer squared-L2 rank in codegen, 16-wide shortlist pays the exact re-rank",
    "qn38b_ann_sq8_persisted" -> "persisted SQ8 serve: frozen envelope + byte codes read from the three-sided index, rank over the codes scan only, shortlist point-read of the cold floats (vec_id pushdown) — the qn39 discipline without an IVF tier",
    "qn34b_ann_binary_hamming_persisted" -> "persisted signature serve: one stored sign-long per vector, xor+bit_count rank over the sig scan only, shortlist point-read of the cold floats (vec_id pushdown) — the qn38b discipline at the 1-bit rung",
    "qn45_ann_ivf_sq8_persisted" -> "IVF+SQ8 composed serve: route to nProbe cells, native int-L2 rank over ONLY the probed cells' cell-partitioned code files (cell-scoped listing), exact refine composing cell scope with the vec_id pushdown — both prunings visible as scoped scans",
    "qn46_ann_binary_wide_persisted" -> "dim-parameterized signature serve at 256 dims: 4-word array<long> sig, native hamming_ll fused xor+popcount rank (no per-pair array materialization), same shortlist/refine shape as qn34b",
    "qn49_ann_matryoshka_persisted" -> "persisted matryoshka serve: the prefix-dim float side stored ONCE (D/prefix x under the full column), rank reads the prefix scan only, shortlist point-reads the cold floats (vec_id pushdown) — the qn38b discipline at the zero-quantization-error rung",
    "qn50_ann_ivf_sq8_wide" -> "the qn45 composed serve at 256 dims: width-generic route / byte rank / refine over the wide derivation — cell-scoped listing and the vec_id pushdown compose independently of dim",
    "qn51_ann_ivfpq_wide" -> "the qn39 persisted IVFADC serve at 256 dims (M=4 x subDim=64): PqParams sizes train/encode/ADC, the probe reads the realized sizing from the stored meta — same cell-scoped codes scan, broadcast ADC tables, vec_id-pushdown refine as the fixture gate",
    "qn52_ann_ivf_sq8_deletes" -> "tombstone delete: the rank stage anti-joins the optional deletes side BEFORE the shortlist window (a deleted row can neither surface nor crowd a live row out of a slot); cell-scoped listing and vec_id pushdown unchanged; physical reclaim is the drift rebuild's version swap",
    "qn53_ann_ivf_sq8_filtered" -> "filtered search: the allowed-ids frame semi-joins the rank stage before the shortlist window — exact filtered top-k within the routed cells, never a post-filtered fixed shortlist that loses recall as the filter tightens",
    "qn54_ann_ivfpq_filtered" -> "filtered search on the PQ tier: the allowed-ids frame semi-joins the candidates before the ADC shortlist — the qn53 discipline at the codebook rung",
    "qn64_ann_sq8_range" -> "exact range search: codes scan filtered by the native int_sqlb lower bound (a pruned row PROVABLY lies outside the radius), survivor-count dispatch collects + point-reads the cold floats under the cap — the refine reads ~2% of candidates at the gated radius",
    "qn65_hybrid_retrieval" -> "hybrid retrieval: integer BM25 keyword tier (all equi-joins on term/doc_id, nothing corpus-derived broadcasts — the qt08 rule), broadcast-probe exact-cosine tier, full-outer RRF fusion over two top-10 lists per query",
    "qn69_text_index_bm25" -> "persisted inverted-index probe: term-pushdown postings scan (isin literal against the term-sorted layout), df derived from the matched postings (one read feeds df AND candidates via localCheckpoint), shuffled-hash df join, doclen equi-join, window top-k",
    "qn70_hybrid_persisted" -> "the full hybrid from STORED artifacts: qn69's pruned postings probe + exact cosine over the SQ8 index's float side + the same RRF tail — hash-matches qn65's in-flight oracle with a fraction of its reads",
    "qn42_pq_codebooks_iters2" -> "two-step Lloyd: the iters chain re-seeds from step-1 means (collected K x D rows), each step the same native-assignment + partial-agg-mean shape — depth multiplies passes, never changes the per-pass plan",
    "qn43_ann_pq_adc_opq" -> "OPQ rotation rung: a literal 64-lookup permutation projection ahead of the identical train/encode/ADC pipeline — the rotation costs zero plan shape, only the subspace membership changes",
    "qn39_ann_ivfpq_persisted" -> "persisted IVFADC serve: codes scanned under a cent_id partition filter, broadcast ADC tables, shortlist point-read of the cold floats (vec_id pushdown) — the qn10b discipline on the two-temperature index",
    "qn40_ann_ivfpq_residual_persisted" -> "persisted RESIDUAL IVFADC: the meta side's residual flag dispatches per-(probe, cell) residual tables through the same stored-artifact serve path",
    "qp06_corpus_fingerprint" -> "snapshot signature: map-side sha digest projection + one partially aggregated hash agg on lang — a 1-row-per-lang shuffle and nothing else")

  def main(argv: Array[String]): Unit = {
    require(argv.length <= 1 || argv.length >= 3,
      "usage: Plans [sfDir] | Plans <outDir> <suffix> <q1,q2,...|all> [sfDir]")
    // The optional sfDir follows the per-query mode's three arguments.
    val (dump, args) = argv.splitAt(if (argv.length >= 3) 3 else 0)
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.builder("4")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (dump.isEmpty) writeDoc(spark, sf) else dumpQueries(spark, dump, sf)
    spark.stop()
  }

  /** Giant literals (the qn21 Bloom sketch renders as MBs of hex on one
    * line) would bloat any dump unreadably; keep both ends, elide the
    * middle. */
  def elide(line: String): String =
    if (line.length <= 500) line
    else line.take(240) + s" …[${line.length - 480} chars elided]… " + line.takeRight(240)

  /** `explain(formatted)` of `df`, every line elided, newline-terminated. */
  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .linesIterator.map(elide).mkString("", "\n", "\n")

  private def writeDoc(spark: SparkSession, sf: String): Unit = {
    val out = new StringBuilder
    out ++= "# Physical plans (generated by `sbt \"runMain graft.Plans\"`)\n\n"
    out ++= s"Explain mode: formatted. Data: `$sf`. Regenerate after plan changes;\n"
    out ++= "PlanSpec asserts the load-bearing shapes in CI.\n"
    headline.foreach { case (name, why) =>
      out ++= s"\n## $name — $why\n\n```\n${formatted(SparkEntry.queries(name)(spark, sf))}```\n"
    }
    Files.createDirectories(Paths.get("docs"))
    Files.writeString(Paths.get("docs/PLANS.md"), out.toString)
    println(s"wrote docs/PLANS.md (${headline.size} plans)")
  }

  private def dumpQueries(spark: SparkSession, dump: Array[String], sf: String): Unit = {
    val Array(outDir, suffix, qlist) = dump
    val names =
      if (qlist == "all") SparkEntry.queries.keys.toSeq.sorted
      else qlist.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"),
        formatted(SparkEntry.queries(name)(spark, sf)))
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
  }
}
