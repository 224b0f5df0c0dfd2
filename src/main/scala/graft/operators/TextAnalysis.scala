package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFns._
import graft.functions.VectorExprs.tokenHashesNative
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` — token statistics, quality
  * scoring, n-gram language identification, and rolling-hash document
  * fingerprinting (SURVEY.md §2 north-star).
  *
  * All four are embarrassingly parallel scan+project plans (no shuffle
  * except the final presentation sort / group), which is exactly what a
  * 100 TB corpus pass needs: one vectorized parquet scan, whole-stage
  * codegen'd per-row expressions, write out. Scores that involve division
  * are floor-scaled to 1e-6 integers so the DuckDB comparison is exact.
  */
object TextAnalysis {

  /** Stopword profiles for the n-gram language-ID heuristic. Tiny,
    * hard-coded, deterministic — the real-world analogue ships larger
    * profiles as a broadcast lookup; the operator shape is identical. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "de", "y", "es", "un"),
    "fr" -> Seq("le", "la", "de", "et", "est", "un"),
    "zh" -> Seq("de5", "shi4", "zai4", "le5"))

  val stopwordsEn: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")

  private def toksCol: Column = tokens(col("text"))

  val all: Seq[Q] = Seq(

    // Token counting: whitespace tokens plus a BPE-ish subword estimate
    // (alternating vowel/consonant boundary count via regex) — both pure
    // per-row expressions.
    Q("qt01_token_stats",
      s"""SELECT doc_id,
         |       len(${sqlTokens("text")}) AS n_tokens,
         |       len(${sqlTokenSet("text")}) AS n_unique,
         |       CAST(length(regexp_replace(text, '[^aeiou]', '', 'g')) AS BIGINT) AS n_vowels,
         |       CAST(length(text) AS BIGINT) AS n_chars_m,
         |       n_chars
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(toksCol).cast("long").as("n_tokens"),
          size(tokenSet(col("text"))).cast("long").as("n_unique"),
          length(regexp_replace(col("text"), "[^aeiou]", "")).cast("long").as("n_vowels"),
          length(col("text")).cast("long").as("n_chars_m"),
          col("n_chars"))
        .orderBy("doc_id")
    },

    // BPE-ish token counting: the GPT-2 pre-tokenizer regex (contraction
    // suffixes | space-prefixed letter runs | digit runs | punctuation
    // runs | whitespace), restricted to constructs Java regex and RE2
    // evaluate identically (no lookahead, explicit ASCII classes). The
    // match COUNT approximates trainer token counts far better than
    // whitespace splitting — "don't." is 1 whitespace token but 3
    // pre-tokens — and it's what batch-size/packing planning actually
    // budgets on. Pure per-row expression, zero shuffle.
    Q("qt09_bpe_token_counts", {
      val pat = """''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"""
      val toks = sqlTokens("text")
      s"""SELECT doc_id,
         |       CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_bpe,
         |       len($toks) AS n_ws,
         |       ${sqlE6(s"CAST(len(regexp_extract_all(text, '$pat')) AS DOUBLE) / len($toks)")} AS fertility_e6
         |FROM documents ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val pat = """'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"""
      val nBpe = size(regexp_extract_all(col("text"), lit(pat), lit(0)))
      // Counts land in their own projection so the pre-tokenizer regex
      // and the whitespace split each run ONCE per row — inlining them
      // into the fertility ratio re-evaluates both (q22's double-parse
      // lesson: codegen does not CSE the duplicated subtree; measured 2x
      // on the 10M battery). CollapseProject keeps the stages apart
      // because the aliases are non-cheap and referenced twice.
      Tables.documents(s, dir)
        .select(col("doc_id"),
          nBpe.cast("long").as("n_bpe"),
          size(toksCol).cast("long").as("n_ws"))
        .select(col("doc_id"), col("n_bpe"), col("n_ws"),
          e6(col("n_bpe").cast("double") / col("n_ws")).as("fertility_e6"))
        .orderBy("doc_id")
    },

    // Quality scoring: mean token length, type/token ratio, stopword
    // ratio, and a composite score — the standard cheap pre-training
    // filters. All ratios emitted as e6 integers.
    Q("qt02_quality_scores", {
      val toks = sqlTokens("text")
      val tset = sqlTokenSet("text")
      val stops = stopwordsEn.map(w => s"'$w'").mkString("[", ", ", "]")
      val nStop = s"len(list_filter($toks, t -> list_contains($stops, t)))"
      s"""SELECT doc_id,
         |       ${sqlE6(s"CAST(length(replace(trim(text), ' ', '')) AS DOUBLE) / len($toks)")} AS mean_tok_len_e6,
         |       ${sqlE6(s"CAST(len($tset) AS DOUBLE) / len($toks)")} AS ttr_e6,
         |       ${sqlE6(s"CAST($nStop AS DOUBLE) / len($toks)")} AS stop_ratio_e6,
         |       CASE WHEN len($toks) >= 10 AND 10 * $nStop >= len($toks) THEN 1 ELSE 0 END AS keep
         |FROM documents ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      // Three-stage projection, each alias computed ONCE (q22's
      // double-parse lesson — codegen does not CSE duplicated non-cheap
      // subtrees, and the old single projection re-split `text` four
      // times through nTok/nStop/ttr): tokenize once, count once, then
      // ratios over the integer counts. `array_distinct(tk)` is
      // `tokenSet(text)` by definition (tokenSet = sort∘distinct∘tokens
      // and only the SIZE is consumed, which sorting cannot change).
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), toksCol.as("tk"))
        .select(col("doc_id"),
          size(col("tk")).as("n_tok"),
          size(filter(col("tk"), t =>
            array_contains(array(stopwordsEn.map(lit): _*), t))).as("n_stop"),
          length(regexp_replace(trim(col("text")), " ", "")).as("n_chr"),
          size(array_distinct(col("tk"))).as("n_set"))
        .select(col("doc_id"),
          e6(col("n_chr").cast("double") / col("n_tok")).as("mean_tok_len_e6"),
          e6(col("n_set").cast("double") / col("n_tok")).as("ttr_e6"),
          e6(col("n_stop").cast("double") / col("n_tok")).as("stop_ratio_e6"),
          when(col("n_tok") >= 10 && col("n_stop") * 10 >= col("n_tok"), lit(1L))
            .otherwise(lit(0L)).as("keep"))
        .orderBy("doc_id")
    },

    // Language ID: score each profile by stopword-set overlap with the
    // document's token set; argmax with profile-order tiebreak, 'und'
    // when nothing matches. Deterministic heuristic, same CASE cascade in
    // both engines.
    Q("qt03_langid", {
      val tset = sqlTokenSet("text")
      val scores = langProfiles.map { case (l, ws) =>
        l -> s"len(list_intersect($tset, ${ws.map(w => s"'$w'").mkString("[", ", ", "]")}))"
      }
      val cascade = {
        // lang_guess = the first profile whose score equals the max and > 0
        val maxExpr = s"greatest(${scores.map(_._2).mkString(", ")})"
        val whens = scores.map { case (l, sc) =>
          s"WHEN $maxExpr > 0 AND $sc = $maxExpr THEN '$l'"
        }.mkString(" ")
        s"CASE $whens ELSE 'und' END"
      }
      s"""SELECT doc_id, lang AS lang_label, $cascade AS lang_guess,
         |       ${scores.map { case (l, sc) => s"CAST($sc AS BIGINT) AS score_$l" }.mkString(", ")}
         |FROM documents ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      // Staged so the token set materializes ONCE and each profile score
      // ONCE (the old single projection re-tokenized per score and then
      // re-evaluated every score inside greatest() and again per WHEN arm
      // of the cascade — q22's double-parse lesson at its worst). The
      // cascade and max run over plain integer attributes, which are
      // cheap to repeat.
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang").as("lang_label"), tokenSet(col("text")).as("tset"))
        .select(col("doc_id") +: col("lang_label") +:
          langProfiles.map { case (l, ws) =>
            size(array_intersect(col("tset"), array(ws.map(lit): _*))).as(s"s_$l") }: _*)
      val maxScore = greatest(langProfiles.map { case (l, _) => col(s"s_$l") }: _*)
      // First profile (in declaration order) reaching the max wins —
      // mirrors the SQL WHEN cascade.
      val guessOrdered = langProfiles.foldRight(lit("und"): Column) {
        case ((l, _), els) =>
          when(maxScore > 0 && col(s"s_$l") === maxScore, lit(l)).otherwise(els)
      }
      scored
        .select(col("doc_id") +: col("lang_label") +: guessOrdered.as("lang_guess") +:
          langProfiles.map { case (l, _) => col(s"s_$l").cast("long").as(s"score_$l") }: _*)
        .orderBy("doc_id")
    },

    // Document fingerprinting: polynomial rolling hash over word
    // 3-grams; keep hashes ≡ 0 (mod 8) — a deterministic mod-p sketch
    // (winnowing's cheaper cousin). Emitted as a joined string so the
    // whole sketch is one comparable value.
    Q("qt04_fingerprints", {
      val toks = sqlTokens("text")
      val hs = s"[ ${sqlTokenHash("t")} for t in $toks ]"
      s"""WITH h AS (SELECT doc_id, $hs AS hs FROM documents)
         |SELECT doc_id,
         |       COALESCE(array_to_string(list_sort(list_distinct(
         |         list_filter([ (hs[i]*961 + hs[i+1]*31 + hs[i+2]) % ${P1}
         |                       for i in range(1, len(hs) - 1) ],
         |                     g -> g % 8 = 0))), ','), '') AS fp,
         |       len(list_distinct(
         |         list_filter([ (hs[i]*961 + hs[i+1]*31 + hs[i+2]) % ${P1}
         |                       for i in range(1, len(hs) - 1) ],
         |                     g -> g % 8 = 0))) AS n_fp
         |FROM h ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      // Each stage lands in its own projection so the array computes ONCE
      // per row: inlining `hs` into the per-gram element_at lambda makes
      // Spark re-evaluate the whole token-hash array per access — O(sz^2)
      // re-hashing that benched ~50x slower at sf0.1.
      val hsCol = tokenHashesNative(toksCol)
      // 1-based element_at mirrors DuckDB's 1-based list indexing; range
      // i in [1, len-2] yields all 3-gram start positions.
      val gramsCol = transform(sequence(lit(1), size(col("hs")) - 2), i =>
        (element_at(col("hs"), i) * 961L + element_at(col("hs"), i + 1) * 31L
          + element_at(col("hs"), i + 2)) % P1)
      Tables.documents(s, dir)
        .select(col("doc_id"), hsCol.as("hs"))
        .select(col("doc_id"), gramsCol.as("grams"))
        .select(col("doc_id"),
          array_sort(array_distinct(filter(col("grams"), g => g % 8 === 0))).as("sel"))
        .select(col("doc_id"),
          array_join(col("sel"), ",").as("fp"),
          size(col("sel")).cast("long").as("n_fp"))
        .orderBy("doc_id")
    },

    // Corpus-level language stats over the labeled column (the group-by
    // companion to the per-row analyses).
    Q("qt05_lang_corpus_stats",
      s"""SELECT lang, COUNT(*) AS n_docs,
         |       CAST(SUM(len(${sqlTokens("text")})) AS BIGINT) AS n_tokens,
         |       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         |       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
         |       CAST(MAX(n_chars) AS BIGINT) AS max_chars
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(toksCol)).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("lang")
    },

    // LM-surprise quality scoring — the KenLM-shaped signal (how
    // "expected" each document is under a corpus language model), here a
    // bigram model in pure integer arithmetic: surprise of bigram
    // (w1 w2) = count(w1 *) * 1e6 div count(w1 w2), i.e. the inverse
    // conditional probability — a monotone stand-in for -log P that
    // needs no float log (which is NOT correctly-rounded-identical
    // across engines). Per-doc score = integer mean surprise; low =
    // predictable/fluent under the corpus, high = unusual. Scale shape:
    // bigram and prefix counts are corpus-derived, so the model joins
    // back shuffled-hash on the bigram/prefix keys — no corpus-sized
    // broadcast anywhere (the qt08 rule).
    Q("qt10_lm_surprise", {
      val toks = sqlTokens("text")
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents WHERE len($toks) >= 2),
         |b AS (SELECT doc_id,
         |             unnest([ concat_ws(' ', tk[i], tk[i + 1]) for i in range(1, len(tk)) ]) AS bg
         |      FROM t),
         |cb AS (SELECT bg, COUNT(*) AS c_bg FROM b GROUP BY bg),
         |cu AS (SELECT string_split(bg, ' ')[1] AS w1,
         |              CAST(SUM(c_bg) AS BIGINT) AS c_w1 FROM cb GROUP BY 1),
         |s AS (SELECT b.doc_id, (cu.c_w1 * 1000000) // cb.c_bg AS surprise_e6
         |      FROM b JOIN cb USING (bg)
         |             JOIN cu ON string_split(b.bg, ' ')[1] = cu.w1)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |       CAST(SUM(surprise_e6) AS BIGINT) // COUNT(*) AS avg_surprise_e6
         |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val tk = tokens(col("text"))
      val b = Tables.documents(s, dir)
        .filter(size(tk) >= 2)
        .select(col("doc_id"), tk.as("tk"))
        .select(col("doc_id"), explode(transform(sequence(lit(1), size(col("tk")) - 1),
          i => concat_ws(" ", element_at(col("tk"), i), element_at(col("tk"), i + 1))))
          .as("bg"))
        .localCheckpoint(true) // barrier: feeds the model counts AND the rescoring join
      val cb = b.groupBy("bg").agg(count(lit(1)).as("c_bg"))
      val cu = cb.groupBy(split(col("bg"), " ").getItem(0).as("w1"))
        .agg(sum(col("c_bg")).as("c_w1"))
      b.withColumn("w1", split(col("bg"), " ").getItem(0))
        .join(cb.hint("SHUFFLE_HASH"), "bg")
        .join(cu.hint("SHUFFLE_HASH"), "w1")
        .select(col("doc_id"), expr("(c_w1 * 1000000) div c_bg").as("surprise_e6"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("surprise_e6")).as("ssum"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("ssum div n_bigrams").as("avg_surprise_e6"))
        .orderBy("doc_id")
    }
  )
}
