package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Decontaminate, Dedup}
import graft.functions.TextFunctions._
import Fixtures._

/** Events (time buckets, regexp extraction, funnels, retention),
  * LLM-data-pipeline text analysis, the flagship corpus pipeline, dedup
  * and the per-document ops that section grew (packing, redaction,
  * sharding, splits), and the SQL surface. */
object TextQueries {
  val all: Seq[Q] = Seq(

    // ---- events: time-bucketed agg + regexp extraction -------------------
    Q("q_events_hourly", oracleSql = """
      SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
             round(sum(value), 4) AS total_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
      build = (s, d) =>
      t(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total_value"))
        .orderBy("hour", "event_type")),
    Q("q_events_regexp", oracleSql = """
      SELECT event_type, count(*) AS n,
             round(avg(CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT)), 6)
               AS avg_k
      FROM events GROUP BY event_type ORDER BY event_type""",
      build = (s, d) =>
      t(s, d, "events")
        .withColumn("k", regexp_extract(col("props"), "\"k\": (\\d+)", 1)
          .cast("int"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(avg("k"), 6).as("avg_k"))
        .orderBy("event_type")),

    // Best-of-n rejection sampling (RLHF data prep): events are the
    // sampler's layout — contiguous fans of 8 reward-scored completions
    // per prompt — and the argmax completion per prompt is selected by a
    // struct-ordered AGGREGATE (map-side combine, no per-prompt window
    // funnel). Rewards in integer cents (IEEE-exact round of 2-decimal
    // doubles); ties break to min candidate id.
    // Best-of-n replayed exactly: contiguous fans of 8 by integer div,
    // rewards to integer cents, argmax via max + min-id-among-max join.
    Q("q_best_of_n", oracleSql = """
      WITH cand AS (
        SELECT event_id // 8 AS prompt_id, event_id AS cand_id,
               CAST(round(value * 100) AS BIGINT) AS reward_c
        FROM events),
      agg AS (
        SELECT prompt_id, max(reward_c) AS mx, min(reward_c) AS mn,
               count(*) AS n
        FROM cand GROUP BY 1)
      SELECT a.prompt_id, min(c.cand_id) AS chosen_id,
             a.mx AS reward_c, a.n AS n_cands, a.mn AS min_reward_c
      FROM agg a
      JOIN cand c ON c.prompt_id = a.prompt_id AND c.reward_c = a.mx
      GROUP BY a.prompt_id, a.mx, a.n, a.mn
      ORDER BY a.prompt_id""",
      build = (s, d) =>
      graft.operators.Preference.bestOfN(
          graft.operators.Preference.candidates(t(s, d, "events"), fan = 8))
        .orderBy("prompt_id")),

    // DPO preference pairs: (chosen, rejected, margin) per prompt from
    // the same candidate fans — chosen = max reward (min id tie),
    // rejected = min reward (min id tie), kept when the margin clears
    // 500 cents. ONE exchange on prompt_id; output is corpus/fan rows.
    // DPO pairs replayed exactly: both extreme-reward candidates with
    // min-id tie-breaks, integer-cent margin, n >= 2 and margin >= 500.
    Q("q_pref_pairs", oracleSql = """
      WITH cand AS (
        SELECT event_id // 8 AS prompt_id, event_id AS cand_id,
               CAST(round(value * 100) AS BIGINT) AS reward_c
        FROM events),
      agg AS (
        SELECT prompt_id, max(reward_c) AS mx, min(reward_c) AS mn,
               count(*) AS n
        FROM cand GROUP BY 1),
      ch AS (
        SELECT a.prompt_id, min(c.cand_id) AS chosen_id
        FROM agg a
        JOIN cand c ON c.prompt_id = a.prompt_id AND c.reward_c = a.mx
        GROUP BY 1),
      rj AS (
        SELECT a.prompt_id, min(c.cand_id) AS rejected_id
        FROM agg a
        JOIN cand c ON c.prompt_id = a.prompt_id AND c.reward_c = a.mn
        GROUP BY 1)
      SELECT a.prompt_id, ch.chosen_id, rj.rejected_id,
             a.mx - a.mn AS margin_c, a.n AS n_cands
      FROM agg a
      JOIN ch USING (prompt_id) JOIN rj USING (prompt_id)
      WHERE a.n >= 2 AND a.mx - a.mn >= 500
      ORDER BY prompt_id""",
      build = (s, d) =>
      graft.operators.Preference.preferencePairs(
          graft.operators.Preference.candidates(t(s, d, "events"), fan = 8),
          minMarginCents = 500)
        .orderBy("prompt_id")),

    // Strictly-ordered behavioral funnel (view → click → purchase): each
    // stage is "first qualifying event AFTER the previous stage's time",
    // not mere event existence. Every stage aggregates and joins on
    // user_id, so one hash partitioning carries the whole chain (the
    // later joins reuse the earlier stages' exchanges) and each stage's
    // input is pre-filtered to its own event type before any shuffle.
    // Counts are integers — exact across engines.
    Q("q_funnel", oracleSql = """
      WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY 1),
      c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
      p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
      SELECT '1_view' AS stage, count(*) AS n FROM v
      UNION ALL SELECT '2_click', count(*) FROM c
      UNION ALL SELECT '3_purchase', count(*) FROM p
      ORDER BY stage""",
      build = (s, d) => {
      val ev = t(s, d, "events").select("user_id", "event_type", "ts")
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t_view"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("t_view"))
        .groupBy("user_id").agg(min("ts").as("t_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("t_click"))
        .groupBy("user_id").agg(min("ts").as("t_purchase"))
      v.agg(count(lit(1)).as("n")).withColumn("stage", lit("1_view"))
        .unionByName(
          c.agg(count(lit(1)).as("n")).withColumn("stage", lit("2_click")))
        .unionByName(
          p.agg(count(lit(1)).as("n")).withColumn("stage", lit("3_purchase")))
        .select("stage", "n").orderBy("stage")
    }),

    // Cohort retention: users bucketed by signup week, counted in each
    // later activity week (the week-offset matrix growth teams read).
    // Cohorts and activity both aggregate on user_id first — the corpus
    // shuffles once per side, the join is cohort-sized, and every output
    // value is an integer count over Monday-truncated weeks (both engines
    // truncate ISO weeks to Monday, offsets are exact multiples of 7 days).
    Q("q_retention", oracleSql = """
      WITH s AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cweek FROM events
        WHERE event_type = 'signup' GROUP BY 1),
      a AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS aweek
        FROM events)
      SELECT s.cweek,
             date_diff('day', s.cweek, a.aweek) // 7 AS week_offset,
             count(DISTINCT s.user_id) AS n_users
      FROM s JOIN a USING (user_id)
      WHERE a.aweek >= s.cweek
      GROUP BY 1, 2 ORDER BY cweek, week_offset""",
      build = (s, d) => {
      val ev = t(s, d, "events")
      val cohorts = ev.filter(col("event_type") === "signup")
        .groupBy("user_id")
        .agg(date_trunc("week", min("ts")).as("cweek"))
      val activity = ev
        .select(col("user_id"), date_trunc("week", col("ts")).as("aweek"))
        .distinct()
      cohorts.join(activity, Seq("user_id"))
        .filter(col("aweek") >= col("cweek"))
        .withColumn("week_offset",
          (datediff(col("aweek"), col("cweek")) / 7).cast("long"))
        .groupBy("cweek", "week_offset")
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cweek", "week_offset")
    }),

    // ---- LLM-data-pipeline: text analysis --------------------------------
    Q("q_text_stats", oracleSql = """
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
               AS n_tokens,
             len(regexp_extract_all(text, '[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]'))
               AS n_bpe_tokens,
             length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
               AS n_norm_chars,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      FROM documents ORDER BY doc_id""",
      build = (s, d) =>
      docsSpread(s, d).select(
          col("doc_id"),
          tokenCount(col("text")).as("n_tokens"),
          bpeTokenCount(col("text")).as("n_bpe_tokens"),
          length(normalizeText(col("text"))).as("n_norm_chars"),
          fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),
    Q("q_quality", oracleSql = """
      WITH norm AS (
        SELECT doc_id,
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
        FROM documents),
      f AS (
        SELECT doc_id,
               CAST(length(nt) AS DOUBLE) AS n_chars,
               CAST(len(list_filter(string_split_regex(nt, '\s+'),
                 x -> x <> '')) AS DOUBLE) AS n_tok,
               CAST(length(regexp_replace(nt, '[\p{L}\p{N}\s]', '', 'g'))
                 AS DOUBLE) AS n_sym,
               CAST(length(regexp_replace(nt, '[^0-9]', '', 'g'))
                 AS DOUBLE) AS n_dig
        FROM norm),
      feats AS (
        SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
               CASE WHEN n_tok > 0 THEN (n_chars - (n_tok - 1)) / n_tok
                    ELSE 0.0 END AS mean_token_len,
               CASE WHEN n_chars > 0 THEN n_sym / n_chars ELSE 0.0 END
                 AS symbol_ratio,
               CASE WHEN n_chars > 0 THEN n_dig / n_chars ELSE 0.0 END
                 AS digit_ratio
        FROM f)
      SELECT doc_id, n_tokens,
             round(mean_token_len, 6) AS mean_token_len,
             round(symbol_ratio, 6) AS symbol_ratio,
             round(digit_ratio, 6) AS digit_ratio,
             round(
               (CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 1.0
                     ELSE 0.3 END) *
               (CASE WHEN mean_token_len >= 2 AND mean_token_len <= 12
                     THEN 1.0 ELSE 0.5 END) *
               greatest(0.0, 1.0 - symbol_ratio * 4) *
               greatest(0.0, 1.0 - digit_ratio * 2), 6) AS quality
      FROM feats ORDER BY doc_id""",
      build = (s, d) => {
      val f = qualityFeatures(col("text"))
      docsSpread(s, d).select(
          col("doc_id"),
          f.getField("n_tokens").as("n_tokens"),
          round(f.getField("mean_token_len"), 6).as("mean_token_len"),
          round(f.getField("symbol_ratio"), 6).as("symbol_ratio"),
          round(f.getField("digit_ratio"), 6).as("digit_ratio"),
          qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),
    Q("q_lang_id", oracleSql = """
      WITH cjk AS (
        SELECT doc_id,
               CASE WHEN length(regexp_replace(text, '\s', '', 'g')) = 0
                    THEN 0.0
                    ELSE length(regexp_replace(
                           regexp_replace(text, '\s', '', 'g'),
                           '[^\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}]',
                           '', 'g'))
                         / CAST(length(regexp_replace(text, '\s', '', 'g'))
                                AS DOUBLE) END AS cjk_ratio
        FROM documents),
      toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(
                 regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
                 x -> x <> '') AS t
        FROM documents),
      scores AS (
        SELECT doc_id,
          CASE WHEN len(t) = 0 THEN 0.0 ELSE
            len(list_filter(t, x -> list_contains(
              ['der','die','und','das','ist','nicht','von','mit','den','ein'], x)))
            / CAST(len(t) AS DOUBLE) END AS s_de,
          CASE WHEN len(t) = 0 THEN 0.0 ELSE
            len(list_filter(t, x -> list_contains(
              ['the','of','and','to','in','is','that','it','was','for'], x)))
            / CAST(len(t) AS DOUBLE) END AS s_en,
          CASE WHEN len(t) = 0 THEN 0.0 ELSE
            len(list_filter(t, x -> list_contains(
              ['de','la','que','el','en','los','del','las','por','un'], x)))
            / CAST(len(t) AS DOUBLE) END AS s_es,
          CASE WHEN len(t) = 0 THEN 0.0 ELSE
            len(list_filter(t, x -> list_contains(
              ['le','la','les','des','est','dans','que','une','pour','qui'], x)))
            / CAST(len(t) AS DOUBLE) END AS s_fr,
          CASE WHEN len(t) = 0 THEN 0.0 ELSE
            len(list_filter(t, x -> list_contains(
              ['di','che','il','la','per','del','con','una','sono','della'], x)))
            / CAST(len(t) AS DOUBLE) END AS s_it,
          CASE WHEN len(t) = 0 THEN 0.0 ELSE
            len(list_filter(t, x -> list_contains(
              ['de','que','em','para','com','uma','os','não','mais','das'], x)))
            / CAST(len(t) AS DOUBLE) END AS s_pt
        FROM toks)
      SELECT s.doc_id,
             CASE WHEN c.cjk_ratio > 0.3 THEN 'zh'
                  WHEN greatest(s_de,s_en,s_es,s_fr,s_it,s_pt) <= 0.0 THEN 'und'
                  WHEN s_de = greatest(s_de,s_en,s_es,s_fr,s_it,s_pt) THEN 'de'
                  WHEN s_en = greatest(s_de,s_en,s_es,s_fr,s_it,s_pt) THEN 'en'
                  WHEN s_es = greatest(s_de,s_en,s_es,s_fr,s_it,s_pt) THEN 'es'
                  WHEN s_fr = greatest(s_de,s_en,s_es,s_fr,s_it,s_pt) THEN 'fr'
                  WHEN s_it = greatest(s_de,s_en,s_es,s_fr,s_it,s_pt) THEN 'it'
                  ELSE 'pt' END AS lang_guess,
             round(s_en, 6) AS en_score
      FROM scores s JOIN cjk c ON s.doc_id = c.doc_id
      ORDER BY s.doc_id""",
      build = (s, d) =>
      docsSpread(s, d).select(
          col("doc_id"),
          langId(col("text")).as("lang_guess"),
          round(langScore(col("text"), "en"), 6).as("en_score"))
        .orderBy("doc_id")),

    // ---- the flagship 100 TB use case, end-to-end ------------------------
    Q("q_corpus_pipeline", oracleSql = """
      WITH norm AS (
        SELECT doc_id, text,
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
        FROM documents),
      f AS (
        SELECT doc_id,
               CAST(length(nt) AS DOUBLE) AS n_chars,
               CAST(len(list_filter(string_split_regex(nt, '\s+'),
                 x -> x <> '')) AS DOUBLE) AS n_tok,
               CAST(length(regexp_replace(nt, '[\p{L}\p{N}\s]', '', 'g'))
                 AS DOUBLE) AS n_sym,
               CAST(length(regexp_replace(nt, '[^0-9]', '', 'g'))
                 AS DOUBLE) AS n_dig
        FROM norm),
      qual AS (
        SELECT doc_id, round(
          (CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 1.0 ELSE 0.3 END) *
          (CASE WHEN n_tok > 0 AND (n_chars - (n_tok - 1)) / n_tok >= 2
                 AND (n_chars - (n_tok - 1)) / n_tok <= 12
                THEN 1.0 ELSE 0.5 END) *
          greatest(0.0, 1.0 - (CASE WHEN n_chars > 0 THEN n_sym / n_chars
                                    ELSE 0.0 END) * 4) *
          greatest(0.0, 1.0 - (CASE WHEN n_chars > 0 THEN n_dig / n_chars
                                    ELSE 0.0 END) * 2), 6) AS q
        FROM f),
      kept AS (
        SELECT n.doc_id, n.text, n.nt, qual.q
        FROM norm n JOIN qual USING (doc_id) WHERE qual.q >= 0.5),
      keepers AS (
        SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(nt)),
      cjk AS (
        SELECT doc_id,
               CASE WHEN length(regexp_replace(text, '\s', '', 'g')) = 0
                    THEN 0.0
                    ELSE length(regexp_replace(
                           regexp_replace(text, '\s', '', 'g'),
                           '[^\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}]',
                           '', 'g'))
                         / CAST(length(regexp_replace(text, '\s', '', 'g'))
                                AS DOUBLE) END AS cjk_ratio
        FROM kept),
      toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(nt, '\s+'), x -> x <> '') AS t
        FROM kept),
      scores AS (
        SELECT doc_id,
          CASE WHEN len(t) = 0 THEN 0.0 ELSE
            len(list_filter(t, x -> list_contains(
              ['der','die','und','das','ist','nicht','von','mit','den','ein'], x)))
            / CAST(len(t) AS DOUBLE) END AS s_de,
          CASE WHEN len(t) = 0 THEN 0.0 ELSE
            len(list_filter(t, x -> list_contains(
              ['the','of','and','to','in','is','that','it','was','for'], x)))
            / CAST(len(t) AS DOUBLE) END AS s_en,
          CASE WHEN len(t) = 0 THEN 0.0 ELSE
            len(list_filter(t, x -> list_contains(
              ['de','la','que','el','en','los','del','las','por','un'], x)))
            / CAST(len(t) AS DOUBLE) END AS s_es,
          CASE WHEN len(t) = 0 THEN 0.0 ELSE
            len(list_filter(t, x -> list_contains(
              ['le','la','les','des','est','dans','que','une','pour','qui'], x)))
            / CAST(len(t) AS DOUBLE) END AS s_fr,
          CASE WHEN len(t) = 0 THEN 0.0 ELSE
            len(list_filter(t, x -> list_contains(
              ['di','che','il','la','per','del','con','una','sono','della'], x)))
            / CAST(len(t) AS DOUBLE) END AS s_it,
          CASE WHEN len(t) = 0 THEN 0.0 ELSE
            len(list_filter(t, x -> list_contains(
              ['de','que','em','para','com','uma','os','não','mais','das'], x)))
            / CAST(len(t) AS DOUBLE) END AS s_pt
        FROM toks),
      lang AS (
        SELECT s.doc_id,
             CASE WHEN c.cjk_ratio > 0.3 THEN 'zh'
                  WHEN greatest(s_de,s_en,s_es,s_fr,s_it,s_pt) <= 0.0 THEN 'und'
                  WHEN s_de = greatest(s_de,s_en,s_es,s_fr,s_it,s_pt) THEN 'de'
                  WHEN s_en = greatest(s_de,s_en,s_es,s_fr,s_it,s_pt) THEN 'en'
                  WHEN s_es = greatest(s_de,s_en,s_es,s_fr,s_it,s_pt) THEN 'es'
                  WHEN s_fr = greatest(s_de,s_en,s_es,s_fr,s_it,s_pt) THEN 'fr'
                  WHEN s_it = greatest(s_de,s_en,s_es,s_fr,s_it,s_pt) THEN 'it'
                  ELSE 'pt' END AS lang
        FROM scores s JOIN cjk c ON s.doc_id = c.doc_id)
      SELECT l.lang, count(*) AS n_docs, round(avg(k.q), 6) AS avg_quality
      FROM keepers kp
      JOIN kept k ON k.doc_id = kp.doc_id
      JOIN lang l ON l.doc_id = kp.doc_id
      GROUP BY l.lang ORDER BY l.lang""",
      build = (s, d) => {
      // training-data curation in one plan: quality gate → exact dedup
      // (lowest doc_id per normalized-text fingerprint) → language tag →
      // per-language corpus stats. ALL text expressions evaluate in ONE
      // projection over the scan (a dedup formulated as a self-join would
      // re-run the quality/lang/fingerprint regexes on every branch); the
      // dedup window then shuffles only (doc_id, q, lang, fp) scalars —
      // the text column never leaves its scan partition.
      import org.apache.spark.sql.expressions.Window
      val perDoc = docsSpread(s, d).select(col("doc_id"),
          qualityScore(col("text")).as("q"),
          langId(col("text")).as("lang"),
          fingerprint(col("text")).as("fp"))
      // The quality gate rides ABOVE the window, folded into the min (a
      // failing doc contributes NULL, which min ignores): an early
      // `.filter(q >= 0.5)` gets predicate-pushed below the repartition
      // onto the single-row-group scan, re-evaluating the whole regex
      // tree once in the Filter (single-threaded!) and again in the
      // Project — measured 3.8 s single-task vs ~0.3 s spread. Same rows
      // out: for a passing doc, doc_id == min(passing doc_ids of its fp
      // group) is exactly the old filtered-window survivor rule.
      perDoc
        .withColumn("min_id", min(when(col("q") >= 0.5, col("doc_id")))
          .over(Window.partitionBy("fp")))
        .filter(col("q") >= 0.5 && col("doc_id") === col("min_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), round(avg("q"), 6).as("avg_quality"))
        .orderBy("lang")
    }),

    // Flagship #2: the round-3 curation gates composed end-to-end — exact
    // dedup → repetition gate → benchmark decontamination → per-source
    // volume stats. Each gate keeps its optimal internal shape (two-phase
    // aggregates, broadcast eval set) and gates compose as doc_id
    // semi-joins: per-doc metrics are invariant to which other training
    // docs survive earlier gates, so the composition is order-stable and
    // the whole pipeline is oracle-checkable.
    // Gate pipeline re-derived end-to-end: dedup = min doc_id per
    // md5(normalized text); repetition and decontamination formulas as in
    // q_repetition / q_decontaminate (per-doc metrics are subset-invariant,
    // so gates compose as id-set intersection in any order).
    Q("q_pipeline_gates", oracleSql = """
      WITH train AS (
        SELECT doc_id, source, text,
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
        FROM documents WHERE source <> 'src0'),
      dedup AS (
        SELECT min(doc_id) AS doc_id FROM train GROUP BY md5(nt)),
      tk AS (
        SELECT doc_id,
               list_filter(string_split_regex(nt, '\s+'), x -> x <> '') AS tk
        FROM train),
      grams AS (
        SELECT doc_id, n, g, count(*) AS c FROM (
          SELECT doc_id, 2 AS n,
                 unnest(list_transform(range(1, len(tk)),
                   i -> tk[i] || ' ' || tk[i+1])) AS g
          FROM tk WHERE len(tk) >= 2
          UNION ALL
          SELECT doc_id, 3 AS n,
                 unnest(list_transform(range(1, len(tk) - 1),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
          FROM tk WHERE len(tk) >= 3)
        GROUP BY 1, 2, 3),
      tops AS (
        SELECT doc_id, max(CASE WHEN n = 2 THEN c END) AS t2,
               max(CASE WHEN n = 3 THEN c END) AS t3
        FROM grams GROUP BY doc_id),
      rep AS (
        SELECT b.doc_id FROM tk b LEFT JOIN tops USING (doc_id)
        WHERE (CASE WHEN len(b.tk) = 0 THEN 1.0
               ELSE CAST(len(list_distinct(b.tk)) AS DOUBLE) / len(b.tk)
               END) >= 0.35
          AND coalesce(CAST(t2 * 2 AS DOUBLE) / len(b.tk), 0.0) <= 0.25
          AND coalesce(CAST(t3 * 3 AS DOUBLE) / len(b.tk), 0.0) <= 0.30),
      shtr AS (
        SELECT DISTINCT doc_id, tok FROM (
          SELECT doc_id, unnest(CASE WHEN len(tk) < 5
                   THEN [array_to_string(tk, ' ')]
                   ELSE list_transform(range(1, len(tk) - 3),
                          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                               || ' ' || tk[i+3] || ' ' || tk[i+4])
                 END) AS tok
          FROM tk)),
      evtk AS (
        SELECT list_filter(string_split_regex(
                 regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
                 x -> x <> '') AS tk
        FROM documents WHERE source = 'src0'),
      ev AS (
        SELECT DISTINCT tok FROM (
          SELECT unnest(CASE WHEN len(tk) < 5
                   THEN [array_to_string(tk, ' ')]
                   ELSE list_transform(range(1, len(tk) - 3),
                          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                               || ' ' || tk[i+3] || ' ' || tk[i+4])
                 END) AS tok
          FROM evtk)),
      decon AS (
        SELECT t.doc_id FROM shtr t LEFT JOIN ev e ON t.tok = e.tok
        GROUP BY t.doc_id
        HAVING CAST(count(e.tok) AS DOUBLE) / count(*) <= 0.2),
      surv AS (
        SELECT tr.doc_id, tr.source, tr.text FROM train tr
        JOIN dedup USING (doc_id) JOIN rep USING (doc_id)
        JOIN decon USING (doc_id))
      SELECT source, count(*) AS n_docs,
             CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
               x -> x <> ''))) AS BIGINT) AS n_tokens
      FROM surv GROUP BY source ORDER BY source""",
      build = (s, d) => {
      val docs = t(s, d, "documents")
      val eval = docs.filter(col("source") === "src0")
      val train = docs.filter(col("source") =!= "src0")
      // Each gate's keep-set is computed INDEPENDENTLY from the base
      // corpus — one text pass per gate, then narrow id-set semi-joins.
      // Naively chaining keep(keep(keep(train))) doubles the upstream
      // subtree at every stage (each gate references its input twice), so
      // the scan re-executes 2^gates times; subset-invariant metrics make
      // the independent/intersect form equivalent and linear.
      val keepDedup = Dedup.exactDedup(train).select("doc_id")
      val keepRep = operators.Repetition.metrics(train)
        .filter(col("distinct_frac") >= 0.35 &&
          col("top2gram_frac") <= 0.25 && col("top3gram_frac") <= 0.30)
        .select("doc_id")
      val keepDecon = Decontaminate.overlap(train, eval, n = 5)
        .filter(col("overlap_frac") <= 0.2)
        .select("doc_id")
      train
        .join(keepDedup, Seq("doc_id"), "left_semi")
        .join(keepRep, Seq("doc_id"), "left_semi")
        .join(keepDecon, Seq("doc_id"), "left_semi")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(tokenCount(col("text")).cast("long")).as("n_tokens"))
        .orderBy("source")
    }),

    // ---- LLM-data-pipeline: dedup ----------------------------------------
    Q("q_dedup_exact", oracleSql = """
      SELECT min(doc_id) AS doc_id FROM documents
      GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
      ORDER BY doc_id""",
      build = (s, d) =>
      Dedup.exactDedup(t(s, d, "documents"))
        .select("doc_id").orderBy("doc_id")),
    // q_dedup_minhash: the PRODUCTION face's portable banding replayed at
    // its own operating point — k=64 affine hashes, 16 bands of 4 raw
    // signature rows, est = matches/64 (exact dyadic, no rounding)
    Q("q_dedup_minhash", oracleSql = """
      WITH norm AS (
        SELECT doc_id, list_filter(string_split_regex(
                 regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
               x -> x <> '') AS t
        FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, sh FROM (
          SELECT doc_id,
                 CASE WHEN len(t) < 3 THEN array_to_string(t, ' ')
                      ELSE array_to_string(t[i:i+2], ' ') END AS sh
          FROM norm, UNNEST(CASE WHEN len(t) < 3 THEN [CAST(1 AS BIGINT)]
                                 ELSE range(1, len(t) - 1) END) AS u(i))),
      hb AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(sh), 1, 7)) AS BIGINT) AS h
        FROM sh),
      sig AS (
        SELECT doc_id, i,
               min((((1103515245 * (2 * i + 1)) % 2147483647) * h
                    + ((12345 + 1013904223 * i) % 2147483647))
                   % 2147483647) AS h
        FROM hb, UNNEST(range(64)) AS s(i)
        GROUP BY doc_id, i),
      band AS (
        SELECT doc_id, i // 4 AS band,
               string_agg(h::VARCHAR, ',' ORDER BY i) AS key
        FROM sig GROUP BY doc_id, i // 4),
      cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM band a JOIN band b ON a.band = b.band AND a.key = b.key
                                AND a.doc_id < b.doc_id)
      SELECT c.a_id AS a_id, c.b_id AS b_id,
             sum(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) / 64.0
               AS est_jaccard
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.a_id
      JOIN sig sb ON sb.doc_id = c.b_id AND sb.i = sa.i
      GROUP BY c.a_id, c.b_id
      HAVING sum(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) / 64.0 >= 0.5
      ORDER BY a_id, b_id""",
      build = (s, d) =>
      // the production face runs the PORTABLE hash family (one md5-derived
      // 28-bit base hash per shingle + k universal-hash affines — the same
      // machinery the persisted LSH index ships in production, chosen for
      // engine-version-stable signatures) at the production operating
      // point bands=16, r=4, k=64 — so the FULL pair set replays
      // bit-for-bit in DuckDB and the face that was rows-only through
      // round 10 sits under the exact oracle. est = matches/64, exact
      // dyadic. The xxhash64 fast path stays exercised and recall-gated
      // by q_dedup_minhash_recall.
      Dedup.minhashLshPairsFixed(t(s, d, "documents"), threshold = 0.5,
          bands = 16, rowsPerBand = 4)
        .orderBy("a_id", "b_id")),
    Q("q_dedup_minhash_fixed", oracleSql = """
      WITH norm AS (
        SELECT doc_id, list_filter(string_split_regex(
                 regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
               x -> x <> '') AS t
        FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, sh FROM (
          SELECT doc_id,
                 CASE WHEN len(t) < 3 THEN array_to_string(t, ' ')
                      ELSE array_to_string(t[i:i+2], ' ') END AS sh
          FROM norm, UNNEST(CASE WHEN len(t) < 3 THEN [CAST(1 AS BIGINT)]
                                 ELSE range(1, len(t) - 1) END) AS u(i))),
      hb AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(sh), 1, 7)) AS BIGINT) AS h
        FROM sh),
      sig AS (
        SELECT doc_id, i,
               min((((1103515245 * (2 * i + 1)) % 2147483647) * h
                    + ((12345 + 1013904223 * i) % 2147483647))
                   % 2147483647) AS h
        FROM hb, UNNEST(range(16)) AS s(i)
        GROUP BY doc_id, i),
      band AS (
        SELECT doc_id, i // 2 AS band,
               string_agg(h::VARCHAR, ',' ORDER BY i) AS key
        FROM sig GROUP BY doc_id, i // 2),
      cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM band a JOIN band b ON a.band = b.band AND a.key = b.key
                                AND a.doc_id < b.doc_id)
      SELECT c.a_id AS a_id, c.b_id AS b_id,
             sum(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) / 16.0
               AS est_jaccard
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.a_id
      JOIN sig sb ON sb.doc_id = c.b_id AND sb.i = sa.i
      GROUP BY c.a_id, c.b_id
      HAVING sum(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) / 16.0 >= 0.5
      ORDER BY a_id, b_id""",
      build = (s, d) =>
      // the LSH machinery's exact-oracle face: md5-derived 60-bit per-seed
      // hashes DuckDB recomputes bit-for-bit (hex-string cast), raw
      // signature slices as band keys — banding, candidates and the
      // signature-estimated Jaccard all replayed cross-engine. est is
      // count/16 (exact dyadic), no rounding needed.
      Dedup.minhashLshPairsFixed(t(s, d, "documents"), threshold = 0.5)
        .orderBy("a_id", "b_id")),
    // PERSISTED LSH index, the continuous-crawl shape: 2/3 of the corpus
    // becomes an indexed lake table (bucket-clustered + bucket blooms);
    // the other 1/3 arrives as a "new batch" and probes it — history is
    // never re-shingled, and within the key budget the probe's isin
    // filter reaches the scan and file-prunes. Same portable hashes as
    // q_dedup_minhash_fixed, so DuckDB replays index build + probe
    // end-to-end (candidates restricted to cross hist×batch pairs).
    Q.split("q_dedup_minhash_index", oracleSql = """
      WITH norm AS (
        SELECT doc_id, list_filter(string_split_regex(
                 regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
               x -> x <> '') AS t
        FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, sh FROM (
          SELECT doc_id,
                 CASE WHEN len(t) < 3 THEN array_to_string(t, ' ')
                      ELSE array_to_string(t[i:i+2], ' ') END AS sh
          FROM norm, UNNEST(CASE WHEN len(t) < 3 THEN [CAST(1 AS BIGINT)]
                                 ELSE range(1, len(t) - 1) END) AS u(i))),
      hb AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(sh), 1, 7)) AS BIGINT) AS h
        FROM sh),
      sig AS (
        SELECT doc_id, i,
               min((((1103515245 * (2 * i + 1)) % 2147483647) * h
                    + ((12345 + 1013904223 * i) % 2147483647))
                   % 2147483647) AS h
        FROM hb, UNNEST(range(16)) AS s(i)
        GROUP BY doc_id, i),
      band AS (
        SELECT doc_id, i // 2 AS band,
               string_agg(h::VARCHAR, ',' ORDER BY i) AS key
        FROM sig GROUP BY doc_id, i // 2),
      cand AS (
        SELECT DISTINCT b.doc_id AS new_id, a.doc_id AS hist_id
        FROM band a JOIN band b ON a.band = b.band AND a.key = b.key
        WHERE a.doc_id % 3 <> 0 AND b.doc_id % 3 = 0)
      SELECT c.new_id AS new_id, c.hist_id AS hist_id,
             sum(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) / 16.0
               AS est_jaccard
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.new_id
      JOIN sig sb ON sb.doc_id = c.hist_id AND sb.i = sa.i
      GROUP BY c.new_id, c.hist_id
      HAVING sum(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) / 16.0 >= 0.5
      ORDER BY new_id, hist_id""",
      phases = (s, d) => {
      import graft.lake.LakeLog
      import graft.operators.DedupIndex
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftlsh"))
      val docs = t(s, d, "documents")
      (() => DedupIndex.buildIndex(s, log, "lsh",
         docs.filter(col("doc_id") % 3 =!= 0)),
       () => DedupIndex.probeIndex(s, log, "lsh",
           docs.filter(col("doc_id") % 3 === 0), threshold = 0.5)
         .orderBy("new_id", "hist_id"))
    }),
    // q_dedup_simhash: the production face's portable fingerprints at
    // radius 4 — brute-force Hamming IS the full-recall guarantee the
    // Manku banding provides, checked on real data
    Q("q_dedup_simhash", oracleSql = """
      WITH norm AS (
        SELECT doc_id, list_filter(string_split_regex(
                 regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
               x -> x <> '') AS t
        FROM documents),
      sh AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substring(md5(sh), 1, 15)) AS BIGINT) AS h
        FROM (
          SELECT doc_id,
                 CASE WHEN len(t) < 2 THEN array_to_string(t, ' ')
                      ELSE array_to_string(t[i:i+1], ' ') END AS sh
          FROM norm, UNNEST(CASE WHEN len(t) < 2 THEN [CAST(1 AS BIGINT)]
                                 ELSE range(1, len(t)) END) AS u(i))),
      fp AS (
        SELECT doc_id,
               list_sum(list_transform(range(64), b ->
                 CASE WHEN list_sum(list_transform(hl, h ->
                        CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS fp
        FROM (SELECT doc_id, list(h) AS hl FROM sh GROUP BY doc_id)),
      p AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               bit_count(xor(a.fp, b.fp)) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id)
      SELECT a_id, b_id, CAST(hamming AS INT) AS hamming FROM p
      WHERE hamming <= 4 ORDER BY a_id, b_id""",
      build = (s, d) =>
      // production face on PORTABLE (md5-derived) shingle hashes at a
      // TIGHTER radius than the _fixed face (4 vs 8 — a distinct Manku
      // (k, c) banding choice), so the pair set replays exactly in DuckDB
      // (brute-force Hamming = the pigeonhole full-recall guarantee) and
      // the face that was rows-only through round 10 sits under the
      // exact oracle. The xxhash64 fast path stays exercised and
      // recall-gated by q_dedup_simhash_recall.
      Dedup.simhashPairsFixed(t(s, d, "documents"), maxHamming = 4)
        .orderBy("a_id", "b_id")),
    Q("q_dedup_simhash_fixed", oracleSql = """
      WITH norm AS (
        SELECT doc_id, list_filter(string_split_regex(
                 regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
               x -> x <> '') AS t
        FROM documents),
      sh AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substring(md5(sh), 1, 15)) AS BIGINT) AS h
        FROM (
          SELECT doc_id,
                 CASE WHEN len(t) < 2 THEN array_to_string(t, ' ')
                      ELSE array_to_string(t[i:i+1], ' ') END AS sh
          FROM norm, UNNEST(CASE WHEN len(t) < 2 THEN [CAST(1 AS BIGINT)]
                                 ELSE range(1, len(t)) END) AS u(i))),
      fp AS (
        SELECT doc_id,
               list_sum(list_transform(range(64), b ->
                 CASE WHEN list_sum(list_transform(hl, h ->
                        CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS fp
        FROM (SELECT doc_id, list(h) AS hl FROM sh GROUP BY doc_id)),
      p AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               bit_count(xor(a.fp, b.fp)) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id)
      SELECT a_id, b_id, CAST(hamming AS INT) AS hamming FROM p
      WHERE hamming <= 8 ORDER BY a_id, b_id""",
      build = (s, d) =>
      // the Manku machinery's exact-oracle face: portable md5-derived
      // shingle hashes, Spark runs the REAL multi-block candidate join,
      // DuckDB brute-forces all-pairs Hamming — equality IS the pigeonhole
      // full-recall guarantee, checked on real data.
      Dedup.simhashPairsFixed(t(s, d, "documents"), maxHamming = 8)
        .orderBy("a_id", "b_id")),
    // Exact all-pairs word-3-gram Jaccard — independent re-derivation of the
    // shingle semantics (normalize → whitespace tokens → 3-gram shingles,
    // <3 tokens ⇒ the whole normalized text as one shingle). Exact-value
    // oracle is valid for BOTH engine strategies (prefix-filter and bitmask)
    // because each is exact, not approximate.
    Q("q_dedup_jaccard", oracleSql = """
      WITH toks AS (
        SELECT doc_id AS id,
               list_filter(string_split_regex(
                 regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
                 x -> x <> '') AS tk
        FROM documents),
      sh AS (
        SELECT id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_transform(range(1, len(tk) - 1),
                           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
               END AS shl
        FROM toks),
      tok AS (SELECT DISTINCT id, tok
              FROM (SELECT id, unnest(shl) AS tok FROM sh)),
      sizes AS (SELECT id, count(*) AS sz FROM tok GROUP BY id),
      inter AS (
        SELECT a.id AS a_id, b.id AS b_id, count(*) AS c
        FROM tok a JOIN tok b ON a.tok = b.tok AND a.id < b.id
        GROUP BY 1, 2)
      SELECT i.a_id, i.b_id,
             round(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 6) AS jaccard
      FROM inter i
      JOIN sizes sa ON sa.id = i.a_id
      JOIN sizes sb ON sb.id = i.b_id
      WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.6
      ORDER BY a_id, b_id""",
      build = (s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), threshold = 0.6, n = 3)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("a_id", "b_id")),
    // Dedup-candidate evaluation: precision/recall of the LSH pair
    // generator against exact 3-gram-Jaccard ground truth — the metric a
    // pipeline watches when tuning bands/rows. Both inputs are
    // already-reduced pair sets; one full-outer join + one aggregate,
    // all-integer outputs. The oracle replays BOTH generators (the
    // portable-hash LSH face and the exact Jaccard) and set-compares.
    // q_dedup_eval: replay BOTH generators — the portable-hash LSH face
    // (q_dedup_minhash_fixed's CTEs) and exact 3-gram Jaccard
    // (q_dedup_jaccard's shape at threshold 0.5) — then full-join the
    // pair sets and count tp/fp/fn. The `sh` CTE feeds both sides.
    // Recall gates + dedup-candidate eval: the exact all-pairs TRUTH arm
    // (3-gram Jaccard / brute Hamming / exact cosine — gate machinery
    // explicitly reserved for gate scale, never the production path)
    // builds apart from the timed probe, so the headline number prices
    // the PRODUCTION face: candidate generation + the set compare
    // against the materialized truth. localCheckpoint pins the truth so
    // the probe can't lazily recompute it inside the timed region.
    Q.split("q_dedup_eval", oracleSql = """
      WITH norm AS (
        SELECT doc_id, list_filter(string_split_regex(
                 regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
               x -> x <> '') AS t
        FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, sh FROM (
          SELECT doc_id,
                 CASE WHEN len(t) < 3 THEN array_to_string(t, ' ')
                      ELSE array_to_string(t[i:i+2], ' ') END AS sh
          FROM norm, UNNEST(CASE WHEN len(t) < 3 THEN [CAST(1 AS BIGINT)]
                                 ELSE range(1, len(t) - 1) END) AS u(i))),
      hb AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(sh), 1, 7)) AS BIGINT) AS h
        FROM sh),
      sig AS (
        SELECT doc_id, i,
               min((((1103515245 * (2 * i + 1)) % 2147483647) * h
                    + ((12345 + 1013904223 * i) % 2147483647))
                   % 2147483647) AS h
        FROM hb, UNNEST(range(16)) AS s(i)
        GROUP BY doc_id, i),
      band AS (
        SELECT doc_id, i // 2 AS band,
               string_agg(h::VARCHAR, ',' ORDER BY i) AS key
        FROM sig GROUP BY doc_id, i // 2),
      cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM band a JOIN band b ON a.band = b.band AND a.key = b.key
                                AND a.doc_id < b.doc_id),
      pred AS (
        SELECT c.a_id, c.b_id
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.a_id
        JOIN sig sb ON sb.doc_id = c.b_id AND sb.i = sa.i
        GROUP BY c.a_id, c.b_id
        HAVING sum(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) / 16.0 >= 0.5),
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      truth AS (
        SELECT i.a_id, i.b_id
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.a_id
        JOIN sizes sb ON sb.doc_id = i.b_id
        WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.5),
      m AS (
        SELECT
          CAST(coalesce(sum(CASE WHEN p.a_id IS NOT NULL
                                  AND t.a_id IS NOT NULL
                                 THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp,
          CAST(coalesce(sum(CASE WHEN p.a_id IS NOT NULL
                                  AND t.a_id IS NULL
                                 THEN 1 ELSE 0 END), 0) AS BIGINT) AS fp,
          CAST(coalesce(sum(CASE WHEN p.a_id IS NULL
                                  AND t.a_id IS NOT NULL
                                 THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn
        FROM pred p FULL JOIN truth t
          ON p.a_id = t.a_id AND p.b_id = t.b_id)
      SELECT tp, fp, fn,
             CASE WHEN tp + fp > 0
                  THEN CAST(tp * 100 // (tp + fp) AS BIGINT)
                  ELSE CAST(-1 AS BIGINT) END AS precision_pct,
             CASE WHEN tp + fn > 0
                  THEN CAST(tp * 100 // (tp + fn) AS BIGINT)
                  ELSE CAST(-1 AS BIGINT) END AS recall_pct
      FROM m""",
      phases = (s, d) => {
      val docs = t(s, d, "documents")
      var truth: DataFrame = null
      (() => truth = Dedup.ngramJaccardPairs(docs, threshold = 0.5, n = 3)
         .localCheckpoint(),
       () => graft.operators.RankMetrics.pairSetMetrics(
         Dedup.minhashLshPairsFixed(docs, threshold = 0.5), truth))
    }),
    // Recall gates for the three production (Spark-internal-hash) faces —
    // the ONLY queries whose pair sets DuckDB cannot replay. Each gate
    // computes recall against an exact truth set Spark-side, `require`s a
    // floor (a regression crashes the query → the gate FAILS it), and
    // emits a row DuckDB verifies exactly: the truth-pair count where the
    // truth is oracle-expressible, plus the floor and a met flag the hash
    // check falsifies. The approximate faces themselves stay rows-only by
    // nature; these siblings carry their falsifiable number.
    // Recall-gate siblings: the truth-pair count replays exactly where
    // the truth set is oracle-expressible (3-gram Jaccard, exact cosine);
    // floor/met are literals the Spark side computes from the REAL
    // comparison — a recall regression either crashes the query (require)
    // or flips floor_met and fails the hash.
    Q.split("q_dedup_minhash_recall", oracleSql = """
      WITH norm AS (
        SELECT doc_id, list_filter(string_split_regex(
                 regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
               x -> x <> '') AS t
        FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, sh FROM (
          SELECT doc_id,
                 CASE WHEN len(t) < 3 THEN array_to_string(t, ' ')
                      ELSE array_to_string(t[i:i+2], ' ') END AS sh
          FROM norm, UNNEST(CASE WHEN len(t) < 3 THEN [CAST(1 AS BIGINT)]
                                 ELSE range(1, len(t) - 1) END) AS u(i))),
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      truth AS (
        SELECT i.a_id, i.b_id
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.a_id
        JOIN sizes sb ON sb.doc_id = i.b_id
        WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.5)
      SELECT CAST(count(*) AS BIGINT) AS n_truth,
             CAST(900000 AS BIGINT) AS floor_ppm,
             CAST(1 AS BIGINT) AS floor_met
      FROM truth""",
      phases = (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      var truth: DataFrame = null
      (() => truth = Dedup.ngramJaccardPairs(docs, threshold = 0.5, n = 3)
         .select("a_id", "b_id").localCheckpoint(),
       () => {
         val nTruth = pairRecallPpm(
           Dedup.minhashLshPairs(docs, threshold = 0.5), truth,
           floorPpm = 900000L, what = "minhash-lsh vs exact 3-gram jaccard")
         Seq((nTruth, 900000L, 1L)).toDF("n_truth", "floor_ppm", "floor_met")
       })
    }),
    Q.split("q_dedup_simhash_recall", oracleSql = """
      SELECT CAST(1000000 AS BIGINT) AS floor_ppm,
             CAST(1 AS BIGINT) AS floor_met""",
      phases = (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      var truth: DataFrame = null
      // truth = brute-force Hamming over the SAME xxhash64 fingerprints;
      // the Manku banding is pigeonhole-complete, so the floor is 100% —
      // this checks the guarantee itself on real data at gate scale
      // (n_truth is hash-internal → not oracle-expressible, not emitted)
      (() => truth = Dedup.simhashPairsBrute(docs, maxHamming = 8)
         .select("a_id", "b_id").localCheckpoint(),
       () => {
         pairRecallPpm(Dedup.simhashPairs(docs, maxHamming = 8), truth,
           floorPpm = 1000000L, what = "simhash banding vs brute-force")
         Seq((1000000L, 1L)).toDF("floor_ppm", "floor_met")
       })
    }),
    Q.split("q_dedup_semantic_recall", oracleSql = """
      SELECT CAST(count(*) AS BIGINT) AS n_truth,
             CAST(850000 AS BIGINT) AS floor_ppm,
             CAST(1 AS BIGINT) AS floor_met
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])) >= 0.3""",
      phases = (s, d) => {
      import s.implicits._
      val embs = t(s, d, "embeddings")
      var truth: DataFrame = null
      (() => truth = Dedup.embeddingNearDupPairs(embs, threshold = 0.3,
         exact = true).select("a_id", "b_id").localCheckpoint(),
       () => {
         val nTruth = pairRecallPpm(
           Dedup.semanticDupPairs(embs, threshold = 0.3,
             k = 4, kmeansIters = 2, nProbe = 2), truth,
           floorPpm = 850000L, what = "semdedup vs exact cosine pairs")
         Seq((nTruth, 850000L, 1L)).toDF("n_truth", "floor_ppm", "floor_met")
       })
    }),
    // Incremental (cross-batch) dedup via the Bloom fingerprint index:
    // src1 plays the newly crawled batch, every third doc of the existing
    // corpus is re-crawled under a fresh id (a guaranteed exact dup). The
    // bloom path's result is EXACT (no false negatives; false positives
    // only route extra rows into the verification anti-join), so the
    // whole scenario sits under the DuckDB oracle.
    // Incremental dedup re-derived: same re-crawl construction, dedup
    // within the batch (min doc_id per normalized-text md5), then
    // anti-join against the corpus fingerprint set.
    Q("q_dedup_incremental", oracleSql = """
      WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE source <> 'src1'),
      newb AS (
        SELECT doc_id, text FROM documents WHERE source = 'src1'
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM corpus
        WHERE doc_id % 3 = 0),
      nfp AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM newb),
      within AS (SELECT min(doc_id) AS doc_id FROM nfp GROUP BY fp),
      cfp AS (
        SELECT DISTINCT
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM corpus)
      SELECT n.doc_id
      FROM nfp n JOIN within USING (doc_id)
      LEFT JOIN cfp c ON n.fp = c.fp
      WHERE c.fp IS NULL
      ORDER BY n.doc_id""",
      build = (s, d) => {
      val docs = t(s, d, "documents")
      val corpus = docs.filter(col("source") =!= "src1")
      val recrawl = corpus.filter(pmod(col("doc_id"), lit(3)) === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      val newBatch = docs.filter(col("source") === "src1")
        .unionByName(recrawl)
      val corpusFps = corpus.select(fingerprint(col("text")).as("fp"))
      val bloom = Dedup.fingerprintBloom(corpus, expectedItems = 100000)
      Dedup.incrementalExactDedupBloom(corpusFps, bloom, newBatch)
        .select("doc_id").orderBy("doc_id")
    }),
    // Benchmark decontamination: src0 plays the held-out eval suite, the
    // rest of the corpus is "training data" checked for 5-gram leakage.
    // Decontamination re-derived: distinct 5-gram shingles per doc, eval
    // set = src0's distinct shingles, left join counts overlap per train doc.
    Q("q_decontaminate", oracleSql = """
      WITH toks AS (
        SELECT doc_id, source,
               list_filter(string_split_regex(
                 regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
                 x -> x <> '') AS tk
        FROM documents),
      sh AS (
        SELECT doc_id, source,
               CASE WHEN len(tk) < 5 THEN [array_to_string(tk, ' ')]
                    ELSE list_transform(range(1, len(tk) - 3),
                           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                                || ' ' || tk[i+3] || ' ' || tk[i+4])
               END AS shl
        FROM toks),
      tok AS (SELECT DISTINCT doc_id, source, tok
              FROM (SELECT doc_id, source, unnest(shl) AS tok FROM sh)),
      ev AS (SELECT DISTINCT tok FROM tok WHERE source = 'src0')
      SELECT t.doc_id,
             count(e.tok) AS n_overlap,
             count(*) AS n_shingles,
             round(CAST(count(e.tok) AS DOUBLE) / count(*), 6) AS overlap_frac
      FROM tok t LEFT JOIN ev e ON t.tok = e.tok
      WHERE t.source <> 'src0'
      GROUP BY t.doc_id
      ORDER BY t.doc_id""",
      build = (s, d) => {
      val docs = t(s, d, "documents")
      Decontaminate.overlap(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), n = 5)
        .withColumn("overlap_frac", round(col("overlap_frac"), 6))
        .orderBy("doc_id")
    }),

    // Gopher-style repetition quality metrics over the whole corpus.
    // Repetition metrics re-derived: token list per doc, top 2-/3-gram
    // occurrence counts via unnest+group, token-fraction formulas as in
    // Repetition.metrics (empty doc ⇒ distinct_frac 1, <n tokens ⇒ 0).
    Q("q_repetition", oracleSql = """
      WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(
                 regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
                 x -> x <> '') AS tk
        FROM documents),
      grams AS (
        SELECT doc_id, n, g, count(*) AS c FROM (
          SELECT doc_id, 2 AS n,
                 unnest(list_transform(range(1, len(tk)),
                   i -> tk[i] || ' ' || tk[i+1])) AS g
          FROM toks WHERE len(tk) >= 2
          UNION ALL
          SELECT doc_id, 3 AS n,
                 unnest(list_transform(range(1, len(tk) - 1),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
          FROM toks WHERE len(tk) >= 3)
        GROUP BY 1, 2, 3),
      tops AS (
        SELECT doc_id, max(CASE WHEN n = 2 THEN c END) AS t2,
               max(CASE WHEN n = 3 THEN c END) AS t3
        FROM grams GROUP BY doc_id)
      SELECT b.doc_id, len(b.tk) AS n_tokens,
             round(CASE WHEN len(b.tk) = 0 THEN 1.0
                   ELSE CAST(len(list_distinct(b.tk)) AS DOUBLE) / len(b.tk)
                   END, 6) AS distinct_frac,
             round(coalesce(CAST(t2 * 2 AS DOUBLE) / len(b.tk), 0.0), 6)
               AS top2gram_frac,
             round(coalesce(CAST(t3 * 3 AS DOUBLE) / len(b.tk), 0.0), 6)
               AS top3gram_frac
      FROM toks b LEFT JOIN tops USING (doc_id)
      ORDER BY doc_id""",
      build = (s, d) =>
      operators.Repetition.metrics(t(s, d, "documents"))
        .withColumn("distinct_frac", round(col("distinct_frac"), 6))
        .withColumn("top2gram_frac", round(col("top2gram_frac"), 6))
        .withColumn("top3gram_frac", round(col("top3gram_frac"), 6))
        .orderBy("doc_id")),
    // Token-budget sequence packing (sharded greedy chunk assignment).
    // Sequence packing re-derived: same shard split (doc_id mod 8), same
    // start-offset cumulative window, chunk = floor(start / budget).
    Q("q_pack", oracleSql = """
      WITH base AS (
        SELECT doc_id, source, CAST(doc_id % 8 AS INT) AS shard,
               CAST(len(list_filter(string_split_regex(text, '\s+'),
                 x -> x <> '')) AS BIGINT) AS n_tok
        FROM documents)
      SELECT doc_id, source, shard, n_tok,
             CAST(floor(coalesce(sum(n_tok) OVER (
                 PARTITION BY source, shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / 2048) AS BIGINT) AS chunk_id
      FROM base ORDER BY doc_id""",
      build = (s, d) =>
      operators.Packing.packByTokenBudget(t(s, d, "documents"),
          budget = 2048, nShards = 8)
        .orderBy("doc_id")),
    // PII redaction: the corpus text is digit-free, so the query plants
    // deterministic doc_id-derived PII (the oracle plants the identical
    // strings) and the scrub + per-class counts are checked exactly.
    // Redaction re-derived: identical PII seeding from doc_id, identical
    // portable regexes; DuckDB regexp_replace needs the 'g' flag to match
    // Spark's replace-all, counts via len(regexp_extract_all).
    Q("q_redact", oracleSql = """
      WITH seeded AS (
        SELECT doc_id, text
          || CASE WHEN doc_id % 7 = 0 THEN ' mail u' || doc_id || '@ex'
               || (doc_id % 5) || '.org' ELSE '' END
          || CASE WHEN doc_id % 11 = 0 THEN ' ip 10.' || (doc_id % 250)
               || '.0.' || (doc_id % 100) ELSE '' END
          || CASE WHEN doc_id % 13 = 0 THEN ' tel +1 415-555-'
               || (doc_id % 9000 + 1000) ELSE '' END
          || CASE WHEN doc_id % 17 = 0 THEN ' ssn 078-05-'
               || (doc_id % 9000 + 1000) ELSE '' END AS text
        FROM documents)
      SELECT doc_id,
        len(regexp_extract_all(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        len(regexp_extract_all(text,
          '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips,
        len(regexp_extract_all(text,
          '\+[0-9]{1,2}[ -][0-9]{3}[ -][0-9]{3}[ -][0-9]{4}\b')) AS n_phones,
        len(regexp_extract_all(text,
          '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS n_ssns,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
          '\+[0-9]{1,2}[ -][0-9]{3}[ -][0-9]{3}[ -][0-9]{4}\b', '<PHONE>', 'g'),
          '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g') AS text_clean
      FROM seeded ORDER BY doc_id""",
      build = (s, d) => {
      val id = col("doc_id")
      def m(k: Int) = pmod(id, lit(k))
      val seeded = t(s, d, "documents").withColumn("text", concat(
        col("text"),
        when(m(7) === 0,
          concat(lit(" mail u"), id, lit("@ex"), m(5), lit(".org")))
          .otherwise(lit("")),
        when(m(11) === 0,
          concat(lit(" ip 10."), m(250), lit(".0."), m(100)))
          .otherwise(lit("")),
        when(m(13) === 0,
          concat(lit(" tel +1 415-555-"), m(9000) + 1000))
          .otherwise(lit("")),
        when(m(17) === 0,
          concat(lit(" ssn 078-05-"), m(9000) + 1000))
          .otherwise(lit(""))))
      operators.Redact.scrub(seeded)
        .select("doc_id", "n_emails", "n_ips", "n_phones", "n_ssns",
          "text_clean")
        .orderBy("doc_id")
    }),
    // Corpus TF-IDF: top-3 characteristic terms per document, ranked on
    // integers only (tf desc, df asc, term asc) so ranks reproduce exactly.
    // TF-IDF re-derived: same tokenize, same integer rank key, same
    // smoothed ln((N+1)/(df+1)) score.
    Q("q_tfidf", oracleSql = """
      WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
          x -> x <> '')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens
             FROM tf GROUP BY 1),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(*) AS nn FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dl.n_tokens, dfreq.df,
               CAST(tf.tf AS DOUBLE) / dl.n_tokens
                 * ln(CAST(nn + 1 AS DOUBLE) / (dfreq.df + 1)) AS tfidf,
               row_number() OVER (PARTITION BY tf.doc_id
                 ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS rank
        FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN n)
      SELECT doc_id, term, tf, n_tokens, df, round(tfidf, 6) AS tfidf, rank
      FROM scored WHERE rank <= 3 ORDER BY doc_id, rank""",
      build = (s, d) =>
      operators.TfIdf.topTerms(t(s, d, "documents"), k = 3)
        .withColumn("tfidf", round(col("tfidf"), 6))
        .orderBy("doc_id", "rank")),
    // Int8 vector quantization quality: per-vector scale, max reconstruction
    // error (bounded by scale/2) and original↔dequantized cosine — the
    // storage/bandwidth half of the ANN stack, all per-row projections.
    // Quantization re-derived: same max-abs scale, same round-half-away
    // int8 codes, same in-order element folds (the scale cancels in the
    // cosine, so no float scale multiplication enters the metric).
    Q("q_quantize", oracleSql = """
      WITH base AS (
        SELECT vec_id, embedding AS v,
               CAST(list_aggregate(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE))), 'max') AS DOUBLE) AS m
        FROM embeddings),
      qz AS (
        SELECT vec_id, v,
               CASE WHEN m > 0 THEN m / 127.0 ELSE 1.0 END AS s,
               list_transform(v, x -> CAST(round(CAST(x AS DOUBLE) /
                 (CASE WHEN m > 0 THEN m / 127.0 ELSE 1.0 END)) AS INT))
                 AS qv
        FROM base),
      metrics AS (
        SELECT vec_id, s,
               list_aggregate(list_transform(range(1, len(v) + 1),
                 i -> abs(CAST(v[i] AS DOUBLE) - qv[i] * s)), 'max')
                 AS max_err,
               list_aggregate(list_transform(range(1, len(v) + 1),
                 i -> CAST(v[i] AS DOUBLE) * qv[i]), 'sum') AS dvq,
               sqrt(list_aggregate(list_transform(v,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                 AS nv,
               sqrt(list_aggregate(list_transform(qv,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                 AS nq
        FROM qz)
      SELECT vec_id, round(s, 6) AS scale, round(max_err, 6) AS max_err,
             round(CASE WHEN nv > 0 AND nq > 0 THEN dvq / (nv * nq) END, 6)
               AS recon_cos
      FROM metrics ORDER BY vec_id""",
      build = (s, d) => {
      val q = operators.Quantize.quantizeInt8(t(s, d, "embeddings"))
      // metrics first, rounding second: aliasing round(scale) AS scale in
      // the same select would lateral-alias-shadow the raw scale inside
      // the metric expressions (Spark 4 LCA resolution) and skew max_err
      q.select(col("vec_id"), col("scale"),
          operators.Quantize.reconMaxErr(
            col("embedding"), col("q"), col("scale")).as("max_err"),
          operators.Quantize.reconCosine(
            col("embedding"), col("q")).as("recon_cos"))
        .select(col("vec_id"),
          round(col("scale"), 6).as("scale"),
          round(col("max_err"), 6).as("max_err"),
          round(col("recon_cos"), 6).as("recon_cos"))
        .orderBy("vec_id")
    }),
    // CCNet-style LM quality scoring: train a smoothed bigram model on the
    // corpus itself, score every document by mean log-prob. Log-probs are
    // integer-scaled at training time so per-doc sums are order-independent
    // and the oracle is exact.
    // LM scoring re-derived: same bigram counts, same add-1 smoothing,
    // same integer scaling round(ln·1e6) — integer sums make the per-doc
    // aggregation order-independent on both engines.
    Q("q_lm_score", oracleSql = """
      WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(
                 regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
                 x -> x <> '') AS tk
        FROM documents),
      bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tk)),
                 i -> tk[i] || ' ' || tk[i+1])) AS b
        FROM toks WHERE len(tk) >= 2),
      sp AS (
        SELECT doc_id, split_part(b, ' ', 1) AS w1,
               split_part(b, ' ', 2) AS w2
        FROM bg),
      c12 AS (SELECT w1, w2, count(*) AS c12 FROM sp GROUP BY 1, 2),
      c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
      vv AS (SELECT count(DISTINCT w) AS v FROM
               (SELECT unnest(tk) AS w FROM toks)),
      pairs AS (
        SELECT w1, w2,
               CAST(round(ln((c12 + 1) / (c1 + 1.0 * v)) * 1e6) AS BIGINT)
                 AS lp
        FROM c12 JOIN c1 USING (w1) CROSS JOIN vv),
      uni AS (
        SELECT w1,
               CAST(round(ln(1.0 / (c1 + 1.0 * v)) * 1e6) AS BIGINT)
                 AS lp_unseen
        FROM c1 CROSS JOIN vv),
      ctx AS (SELECT CAST(round(ln(1.0 / v) * 1e6) AS BIGINT) AS lp0 FROM vv),
      scored AS (
        SELECT s.doc_id,
               coalesce(p.lp, u.lp_unseen, ctx.lp0) AS slp
        FROM sp s
        LEFT JOIN pairs p ON s.w1 = p.w1 AND s.w2 = p.w2
        LEFT JOIN uni u ON s.w1 = u.w1
        CROSS JOIN ctx)
      SELECT doc_id, count(*) AS n_bigrams,
             CAST(floor(CAST(sum(slp) AS DOUBLE) / count(*)) AS BIGINT)
               AS avg_logp_u
      FROM scored GROUP BY doc_id ORDER BY doc_id""",
      build = (s, d) => {
      // avg log-prob in FLOOR-MICRO units: the per-bigram terms are exact
      // integers, and floor(ssum/n) is the same integer on every engine —
      // round(double, 6) was one-ulp-fragile (decimal-tie disagreement
      // surfaced at sf0.1)
      val docs = t(s, d, "documents")
      // fused self-train+score: one tokenize pass instead of four
      operators.LangModel.scoreSelfTrained(docs, k = 1.0)
        .select(col("doc_id"), col("n_bigrams"),
          floor(col("ssum_micro").cast("double") / col("n_bigrams"))
            .cast("long").as("avg_logp_u"))
        .orderBy("doc_id")
    }),
    // Declarative data-quality validation (the Deequ shape): six checks
    // compile into ONE aggregate pass; the report row set replays
    // exactly (all counters are exact aggregates).
    Q("q_validate", oracleSql = """
      SELECT 'not_null' AS check_name, 'text' AS target,
             count(*) - count(text) = 0 AS passed,
             CAST(count(*) - count(text) AS BIGINT) AS observed
      FROM documents
      UNION ALL
      SELECT 'unique', 'doc_id',
             count(doc_id) - count(DISTINCT doc_id) = 0,
             CAST(count(doc_id) - count(DISTINCT doc_id) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT 'in_range', 'n_chars',
             sum(CASE WHEN n_chars IS NOT NULL
                       AND (n_chars < 1 OR n_chars > 1000000)
                      THEN 1 ELSE 0 END) = 0,
             CAST(sum(CASE WHEN n_chars IS NOT NULL
                            AND (n_chars < 1 OR n_chars > 1000000)
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT 'in_set', 'lang',
             sum(CASE WHEN lang IS NOT NULL
                       AND lang NOT IN ('de','en','es','fr','zh')
                      THEN 1 ELSE 0 END) = 0,
             CAST(sum(CASE WHEN lang IS NOT NULL
                            AND lang NOT IN ('de','en','es','fr','zh')
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT 'matches', 'source',
             sum(CASE WHEN source IS NOT NULL
                       AND NOT regexp_matches(source, '^src[0-9]+$')
                      THEN 1 ELSE 0 END) = 0,
             CAST(sum(CASE WHEN source IS NOT NULL
                            AND NOT regexp_matches(source, '^src[0-9]+$')
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT 'row_count', '*',
             count(*) BETWEEN 1 AND 10000000,
             CAST(count(*) AS BIGINT)
      FROM documents
      ORDER BY check_name, target""",
      build = (s, d) => {
      import graft.operators.Validate._
      graft.operators.Validate.run(t(s, d, "documents"), Seq(
          NotNull("text"), Unique("doc_id"),
          InRange("n_chars", 1, 1000000),
          InSet("lang", Seq("de", "en", "es", "fr", "zh")),
          Matches("source", "^src[0-9]+$"),
          RowCountBetween(1, 10000000)))
        .orderBy("check_name", "target")
    }),

    // Quality-weighted corpus draw: Efraimidis–Spirakis sampling without
    // replacement, inclusion ∝ n_chars — the weighted subset selection a
    // mixture recipe uses when "sample by quality" must be exact,
    // deterministic and one-pass. DuckDB recomputes every portable key.
    Q("q_sample_weighted", oracleSql = """
      WITH keyed AS (
        SELECT doc_id, source, n_chars,
               -ln(CAST(('0x' || substring(
                   md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) / 1152921504606846976.0)
               / CAST(n_chars AS DOUBLE) AS sk
        FROM documents WHERE n_chars > 0)
      SELECT doc_id, source, n_chars, round(sk, 9) AS sample_key
      FROM keyed ORDER BY sk ASC, doc_id ASC LIMIT 50""",
      build = (s, d) =>
      operators.Sampling.weightedSampleNoReplace(
          t(s, d, "documents").select("doc_id", "source", "n_chars"),
          k = 50, weightCol = "n_chars", keyCol = "doc_id", tag = "ws")
        .withColumn("sample_key", round(col("sample_key"), 9))
        .select("doc_id", "source", "n_chars", "sample_key")),

    // CCNet's perplexity bucketing: per-language head/middle/tail
    // terciles of the bigram-LM score (head = most fluent third). The
    // integer-scaled scoring makes every rounded avg exact, and the
    // (score, doc_id) total order makes each ntile boundary
    // engine-deterministic — DuckDB replays LM training, scoring and the
    // tercile split end-to-end.
    Q("q_ccnet_buckets", oracleSql = """
      WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(
                 regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
                 x -> x <> '') AS tk
        FROM documents),
      bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tk)),
                 i -> tk[i] || ' ' || tk[i+1])) AS b
        FROM toks WHERE len(tk) >= 2),
      sp AS (
        SELECT doc_id, split_part(b, ' ', 1) AS w1,
               split_part(b, ' ', 2) AS w2
        FROM bg),
      c12 AS (SELECT w1, w2, count(*) AS c12 FROM sp GROUP BY 1, 2),
      c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
      vv AS (SELECT count(DISTINCT w) AS v FROM
               (SELECT unnest(tk) AS w FROM toks)),
      pairs AS (
        SELECT w1, w2,
               CAST(round(ln((c12 + 1) / (c1 + 1.0 * v)) * 1e6) AS BIGINT)
                 AS lp
        FROM c12 JOIN c1 USING (w1) CROSS JOIN vv),
      uni AS (
        SELECT w1,
               CAST(round(ln(1.0 / (c1 + 1.0 * v)) * 1e6) AS BIGINT)
                 AS lp_unseen
        FROM c1 CROSS JOIN vv),
      ctx AS (SELECT CAST(round(ln(1.0 / v) * 1e6) AS BIGINT) AS lp0 FROM vv),
      perdoc AS (
        SELECT s.doc_id,
               CAST(floor(CAST(sum(coalesce(p.lp, u.lp_unseen, ctx.lp0))
                 AS DOUBLE) / count(*)) AS BIGINT) AS avg_logp_u
        FROM sp s
        LEFT JOIN pairs p ON s.w1 = p.w1 AND s.w2 = p.w2
        LEFT JOIN uni u ON s.w1 = u.w1
        CROSS JOIN ctx
        GROUP BY s.doc_id),
      bk AS (
        SELECT d.lang, pd.doc_id, pd.avg_logp_u,
               ntile(3) OVER (PARTITION BY d.lang
                 ORDER BY pd.avg_logp_u DESC, pd.doc_id ASC) AS bucket
        FROM perdoc pd JOIN documents d USING (doc_id))
      SELECT lang, bucket, count(*) AS n_docs,
             max(avg_logp_u) AS best, min(avg_logp_u) AS worst
      FROM bk GROUP BY lang, bucket ORDER BY lang, bucket""",
      build = (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      // floor-micro average (exact integer on every engine) keys the
      // tercile order — same hardening as q_lm_score; fused self-
      // train+score = one tokenize pass instead of four
      val scored = operators.LangModel.scoreSelfTrained(docs, k = 1.0)
        .withColumn("avg_logp_u",
          floor(col("ssum_micro").cast("double") / col("n_bigrams"))
            .cast("long"))
        .join(docs.select("doc_id", "lang"), "doc_id")
      val w = Window.partitionBy("lang")
        .orderBy(col("avg_logp_u").desc, col("doc_id").asc)
      scored.withColumn("bucket", ntile(3).over(w))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          max("avg_logp_u").as("best"), min("avg_logp_u").as("worst"))
        .orderBy("lang", "bucket")
    }),

    // Training-shard assignment: deterministic modular-mix shuffle into 16
    // shards, checked via the per-shard manifest stats (exact integers).
    // Shard stats re-derived: identical modular multiplicative mix
    // ((id mod p)·2654435761 mod p, p = 1e9+7 — overflow-free in BIGINT),
    // same whitespace token counts.
    Q("q_shard", oracleSql = """
      WITH a AS (
        SELECT CAST(((doc_id % 1000000007) * 2654435761) % 1000000007
                 % 16 AS INT) AS shard,
               doc_id,
               CAST(len(list_filter(string_split_regex(text, '\s+'),
                 x -> x <> '')) AS BIGINT) AS n_tok
        FROM documents)
      SELECT shard, count(*) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens,
             min(doc_id) AS min_id, max(doc_id) AS max_id
      FROM a GROUP BY shard ORDER BY shard""",
      build = (s, d) =>
      operators.Sharding.shardStats(t(s, d, "documents"), nShards = 16)
        .orderBy("shard")),
    // RAG-prep chunking: 32-token windows overlapping by 8, one row per
    // chunk with position metadata.
    // Chunking re-derived: same raw whitespace tokens, same stride-24
    // starts, 1-based inclusive list slicing clamped at the end.
    Q("q_chunk", oracleSql = """
      WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'),
                 x -> x <> '') AS tk
        FROM documents),
      starts AS (
        SELECT doc_id, tk, unnest(range(0, len(tk), 24)) AS start_tok
        FROM toks WHERE len(tk) > 0)
      SELECT doc_id,
             CAST(start_tok / 24 AS BIGINT) AS chunk_idx,
             CAST(start_tok AS BIGINT) AS start_tok,
             CAST(len(tk[start_tok + 1 : start_tok + 32]) AS BIGINT)
               AS n_tok,
             array_to_string(tk[start_tok + 1 : start_tok + 32], ' ')
               AS chunk_text
      FROM starts ORDER BY doc_id, chunk_idx""",
      build = (s, d) =>
      operators.Chunker.chunkByTokens(t(s, d, "documents"),
          size = 32, overlap = 8)
        .orderBy("doc_id", "chunk_idx")),
    // Deterministic train/val/test assignment (90/5/5 via mix buckets).
    // Split assignment re-derived: same mix, bucket = mix % 10000,
    // train < 9000 ≤ val < 9500 ≤ test.
    Q("q_split", oracleSql = """
      WITH a AS (
        SELECT CASE
                 WHEN ((doc_id % 1000000007) * 2654435761) % 1000000007
                      % 10000 < 9000 THEN 'train'
                 WHEN ((doc_id % 1000000007) * 2654435761) % 1000000007
                      % 10000 < 9500 THEN 'val'
                 ELSE 'test' END AS split,
               source
        FROM documents)
      SELECT split, source, count(*) AS n_docs
      FROM a GROUP BY split, source ORDER BY split, source""",
      build = (s, d) =>
      operators.Sharding.assignSplits(t(s, d, "documents"))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("split", "source")),

    // LEAKAGE-FREE split: duplicate clusters (exact-dup graph → connected
    // components) land whole on one side of the train/val/test boundary —
    // every member splits by its component representative, so a near-dup
    // of a training doc can never sit in eval (the Lee et al. 2022
    // train-test contamination). Dup cliques give CC a closed-form
    // oracle: rep = min(doc_id) per fingerprint group.
    // leak-free split: closed-form CC rep (min doc_id per dup-fingerprint
    // group; singletons are their own rep) + the q_split bucket formula
    // keyed on the rep
    Q("q_split_leakfree", oracleSql = """
      WITH fp AS (SELECT doc_id,
                    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                      AS f
                  FROM documents),
           g AS (SELECT f, min(doc_id) AS m FROM fp GROUP BY f),
           r AS (SELECT fp.doc_id, g.m AS rep FROM fp JOIN g USING (f))
      SELECT doc_id, rep,
             CASE WHEN ((rep % 1000000007) * 2654435761) % 1000000007
                       % 10000 < 9000 THEN 'train'
                  WHEN ((rep % 1000000007) * 2654435761) % 1000000007
                       % 10000 < 9500 THEN 'val'
                  ELSE 'test' END AS split
      FROM r ORDER BY doc_id""",
      build = (s, d) => {
      val docs = docsSpread(s, d)
      val fp = docs.select(col("doc_id"), fingerprint(col("text")).as("f"))
      val pairs = fp.select(col("doc_id").as("a_id"), col("f"))
        .join(fp.select(col("doc_id").as("b_id"), col("f")), Seq("f"))
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id")
      operators.Sharding.assignSplitsLeakFree(docs, pairs)
        .select("doc_id", "rep", "split")
        .orderBy("doc_id")
    }),

    // ---- SQL surface (un-mocked /query endpoint) -------------------------
    // The reference mocks this endpoint (rest_api.go:709-734); here the same
    // golden-test SQL text runs for real through spark.sql AND through DuckDB
    // as its own oracle.
    Q("q_sql_golden", oracleSql = """
      SELECT l_returnflag AS category, COUNT(*) AS total_orders,
             round(SUM(l_extendedprice * l_quantity), 2) AS total_revenue,
             round(AVG(l_extendedprice), 4) AS avg_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
      build = (s, d) =>
      graft.api.SqlApi.query(s, d, """
        SELECT l_returnflag AS category, COUNT(*) AS total_orders,
               round(SUM(l_extendedprice * l_quantity), 2) AS total_revenue,
               round(AVG(l_extendedprice), 4) AS avg_price
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    Q("q_sql_topn", oracleSql = """
      SELECT l_orderkey,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             o_orderdate
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue DESC, l_orderkey LIMIT 20""",
      build = (s, d) =>
      // TPC-H Q3 shape: 3-way join + agg + top-N, same text both engines
      graft.api.SqlApi.query(s, d, """
        SELECT l_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               o_orderdate
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey LIMIT 20""")),
    Q("q_sql_subquery", oracleSql = """
      SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
      FROM lineitem l1
      WHERE l_quantity < (SELECT 0.5 * avg(l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = l1.l_partkey)""",
      build = (s, d) =>
      // TPC-H Q17 shape: correlated scalar subquery (decorrelated by
      // Catalyst into a join — the reference has no subqueries at all)
      graft.api.SqlApi.query(s, d, """
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem l1
        WHERE l_quantity < (SELECT 0.5 * avg(l_quantity)
                            FROM lineitem l2
                            WHERE l2.l_partkey = l1.l_partkey)""")),
  )
}
