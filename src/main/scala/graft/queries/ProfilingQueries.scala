package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import Fixtures._

/** Data profiling and the corpus analytics that grew beside it (column
  * statistics, graph ranking and clustering, quality models, URL
  * normalization), plus grouping sets — with the oracle builders only
  * these queries use. */
object ProfilingQueries {
  /** Shared by q_anomaly and q_stream_anomaly — the stream face's final
    * state equals the batch aggregate by construction, so BOTH queries
    * replay against this one batch SQL (one definition, no drift). */
  private val anomalyOracleSql: String = """
      WITH series AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      mo AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(sum(n) AS BIGINT) AS sum_n,
               CAST(sum(n * n) AS BIGINT) AS sum_sq
        FROM series GROUP BY 1),
      j AS (
        SELECT s.event_type, s.hour, s.n, m.n_buckets, m.sum_n,
               (m.n_buckets * s.n - m.sum_n) *
                 (m.n_buckets * s.n - m.sum_n) AS lhs,
               9 * (m.n_buckets * m.sum_sq - m.sum_n * m.sum_n) AS rhs
        FROM series s JOIN mo m USING (event_type))
      SELECT event_type, hour, n, n_buckets, sum_n, lhs, rhs
      FROM j WHERE lhs > rhs ORDER BY event_type, hour"""

  /** THE frozen quality model — single source of truth for every query
    * that scores with it (q_quality_model, q_model_eval, q_dataset_card,
    * q_calibrate). Dyadic constants so standardization is IEEE-exact. */
  private def frozenQualityModel: graft.operators.QualityClassifier.Model =
    graft.operators.QualityClassifier.Model(
      Seq("n_tokens_d", "mean_token_len", "symbol_ratio", "digit_ratio"),
      Seq(0.75, -0.5, -1.25, -0.75), 0.25,
      Seq(64.0, 5.0, 0.03125, 0.0625), Seq(32.0, 2.0, 0.03125, 0.0625))

  /** documents → carry columns + the frozen model's four feature source
    * columns (the one projection all frozen-model queries share). */
  private def withQualityFeatures(df: DataFrame,
                                  carry: Seq[String]): DataFrame = {
    val c = carry.map(col)
    df.select(c :+
        graft.functions.TextFunctions.qualityFeatures(col("text")).as("f"): _*)
      .select(c ++ Seq(
        col("f.n_tokens").cast("double").as("n_tokens_d"),
        col("f.mean_token_len").as("mean_token_len"),
        col("f.symbol_ratio").as("symbol_ratio"),
        col("f.digit_ratio").as("digit_ratio")): _*)
  }

  /** The DuckDB CTE chain every frozen-model oracle shares: features →
    * standardized margin, with `carry` columns (never `text` — it is
    * always carried) riding through to the final `m(carry, text, n_tok,
    * sym, margin)`. One definition, or the gate silently diverges per
    * query when the model moves. */
  private def qualityMarginOracleCtes(carry: String): String = {
    val c = if (carry.isEmpty) "" else carry + ", "
    s"""
      WITH norm AS (
        SELECT ${c}text,
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt
        FROM documents),
      f AS (
        SELECT ${c}text,
               CAST(length(nt) AS DOUBLE) AS n_chars,
               CAST(len(list_filter(string_split_regex(nt, '\\s+'),
                 x -> x <> '')) AS DOUBLE) AS n_tok,
               CAST(length(regexp_replace(nt, '[\\p{L}\\p{N}\\s]', '', 'g'))
                 AS DOUBLE) AS n_sym,
               CAST(length(regexp_replace(nt, '[^0-9]', '', 'g'))
                 AS DOUBLE) AS n_dig
        FROM norm),
      feats AS (
        SELECT ${c}text, n_tok,
               CASE WHEN n_tok > 0 THEN (n_chars - (n_tok - 1)) / n_tok
                    ELSE 0.0 END AS mtl,
               CASE WHEN n_chars > 0 THEN n_sym / n_chars ELSE 0.0 END AS sym,
               CASE WHEN n_chars > 0 THEN n_dig / n_chars ELSE 0.0 END AS dig
        FROM f),
      m AS (
        SELECT ${c}text, n_tok, sym,
               0.25 + (n_tok - 64.0) / 32.0 * 0.75
                    + (mtl - 5.0) / 2.0 * (-0.5)
                    + (sym - 0.03125) / 0.03125 * (-1.25)
                    + (dig - 0.0625) / 0.0625 * (-0.75) AS margin
        FROM feats)"""
  }

  /** Unrolled fixed-point PageRank: the same integer recurrence
    * [[graft.operators.LinkGraph.pageRank]] runs (teleport 0.15·10¹²,
    * per-edge `rank // outdeg`, damped `(85·sum) // 100`), one CTE per
    * iteration. Integer `//` in DuckDB and `div` in Spark agree on
    * positives, which is what makes the oracle exact.
    */
  private def pageRankOracleSql(iters: Int,
                                seedCond: String => String = _ => "TRUE")
      : String = {
    val base = s"""
      WITH nodes AS (SELECT doc_id AS id FROM documents),
      nn AS (SELECT count(*) AS n FROM nodes),
      edges AS (
        SELECT id AS src, (id * 17 + c.c) % nn.n AS dst
        FROM nodes CROSS JOIN nn
        CROSS JOIN (SELECT unnest([1, 2, 3]) AS c) c),
      od AS (SELECT src, count(*) AS od FROM edges GROUP BY 1),
      r0 AS (SELECT id,
               CASE WHEN ${seedCond("id")}
                    THEN CAST(1000000000000 AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS r
             FROM nodes)"""
    val iterCtes = (1 to iters).map { i =>
      s""",
      r$i AS (
        SELECT n.id,
               CAST((CASE WHEN ${seedCond("n.id")}
                          THEN 150000000000 ELSE 0 END) +
                    (85 * COALESCE(c.s, 0)) // 100
                 AS BIGINT) AS r
        FROM nodes n LEFT JOIN (
          SELECT e.dst, CAST(SUM(r.r // od.od) AS BIGINT) AS s
          FROM edges e
          JOIN r${i - 1} r ON e.src = r.id
          JOIN od ON od.src = e.src
          GROUP BY e.dst) c ON c.dst = n.id)"""
    }.mkString
    base + iterCtes +
      s"""
      SELECT id, r AS rank_fp FROM r$iters
      ORDER BY rank_fp DESC, id ASC LIMIT 20"""
  }

  /** Unrolled integer HITS over the synthetic link graph: `iters` rounds
    * of auth-from-hub / hub-from-auth sums, each L1-renormalized by the
    * division-only `max(total div scale, 1)` rule — exactly
    * [[graft.operators.LinkGraph.hits]]'s recurrence. Sum CTEs are
    * MATERIALIZED for the same reason as the k-core oracle's (multi-ref
    * CTE re-expansion). DuckDB's integer SUM widens to HUGEINT, so every
    * reduction is CAST back to BIGINT before it feeds the next round.
    */
  private def hitsOracleSql(iters: Int, scale: Long): String = {
    val base = s"""
      WITH nodes AS (SELECT doc_id AS id FROM documents),
      nn AS (SELECT count(*) AS n FROM nodes),
      edges AS MATERIALIZED (
        SELECT id AS src, (id * 17 + c.c) % nn.n AS dst
        FROM nodes CROSS JOIN nn
        CROSS JOIN (SELECT unnest([1, 2, 3]) AS c) c),
      h0 AS (SELECT id, CAST($scale AS BIGINT) AS v FROM nodes)"""
    val iterCtes = (1 to iters).map { i =>
      s""",
      ra$i AS MATERIALIZED (
        SELECT n.id, CAST(COALESCE(s.s, 0) AS BIGINT) AS v
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS id, CAST(SUM(h.v) AS BIGINT) AS s
          FROM edges e JOIN h${i - 1} h ON e.src = h.id
          GROUP BY 1) s ON s.id = n.id),
      ta$i AS (SELECT greatest(CAST(SUM(v) AS BIGINT) // $scale, 1) AS d
               FROM ra$i),
      a$i AS MATERIALIZED (
        SELECT id, CAST(v // t.d AS BIGINT) AS v
        FROM ra$i CROSS JOIN ta$i t),
      rh$i AS MATERIALIZED (
        SELECT n.id, CAST(COALESCE(s.s, 0) AS BIGINT) AS v
        FROM nodes n LEFT JOIN (
          SELECT e.src AS id, CAST(SUM(a.v) AS BIGINT) AS s
          FROM edges e JOIN a$i a ON e.dst = a.id
          GROUP BY 1) s ON s.id = n.id),
      th$i AS (SELECT greatest(CAST(SUM(v) AS BIGINT) // $scale, 1) AS d
               FROM rh$i),
      h$i AS MATERIALIZED (
        SELECT id, CAST(v // t.d AS BIGINT) AS v
        FROM rh$i CROSS JOIN th$i t)"""
    }.mkString
    base + iterCtes + s"""
      SELECT a.id, a.v AS auth_fp, h.v AS hub_fp
      FROM a$iters a JOIN h$iters h ON a.id = h.id
      ORDER BY auth_fp DESC, a.id ASC LIMIT 20"""
  }

  /** Unrolled synchronous label propagation over the block-structured
    * synthetic graph — exactly
    * [[graft.operators.LinkGraph.labelPropagation]]'s recurrence: per
    * round every node adopts its neighbors' most frequent label, count
    * ties broken by SMALLEST label (row_number over cnt DESC, label ASC —
    * the same total order the Spark side encodes as
    * `max(struct(cnt, -label))`). All-integer, so the replay is exact.
    */
  private def labelPropOracleSql(iters: Int, block: Int, k: Int): String = {
    val cs = (1 to k).mkString("[", ", ", "]")
    val base = s"""
      WITH nodes0 AS (SELECT doc_id AS id FROM documents),
      e AS MATERIALIZED (
        SELECT id AS src,
               (id // $block) * $block + ((id % $block + c.c) % $block) AS dst
        FROM nodes0 CROSS JOIN (SELECT unnest($cs) AS c) c),
      u0 AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e WHERE src <> dst),
      und AS MATERIALIZED (
        SELECT a AS v, b AS nbr FROM u0
        UNION ALL SELECT b AS v, a AS nbr FROM u0),
      nodes AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
      l0 AS (SELECT id, id AS label FROM nodes)"""
    val iterCtes = (1 to iters).map { i =>
      s""",
      c$i AS MATERIALIZED (
        SELECT v, label FROM (
          SELECT u.v, l.label, count(*) AS cnt
          FROM und u JOIN l${i - 1} l ON u.nbr = l.id
          GROUP BY u.v, l.label)
        QUALIFY row_number() OVER (
          PARTITION BY v ORDER BY cnt DESC, label ASC) = 1),
      l$i AS MATERIALIZED (
        SELECT p.id, COALESCE(c.label, p.label) AS label
        FROM l${i - 1} p LEFT JOIN c$i c ON c.v = p.id)"""
    }.mkString
    base + iterCtes + s"""
      SELECT label, CAST(count(*) AS BIGINT) AS size,
             min(id) AS min_id, max(id) AS max_id
      FROM l$iters GROUP BY label ORDER BY label"""
  }

  /** Unrolled grid-blocked DBSCAN over the planted point layout —
    * exactly [[graft.operators.Dbscan]]'s semantics: eps-cell candidate
    * join, core gate (count+self ≥ minPts), `rounds` min-label flooding
    * rounds over the core-core graph, min-adjacent-core border
    * assignment, noise = -1. All integer arithmetic.
    */
  private def dbscanOracleSql(eps: Long, minPts: Int, rounds: Int): String = {
    val base = s"""
      WITH pts AS (
        SELECT vec_id AS id,
          CASE WHEN vec_id % 17 = 0
            THEN CAST(('0x' || substring(md5('dbnx:' || vec_id), 1, 15))
                   AS BIGINT) % 4100
            ELSE ((vec_id % 8) % 4) * 1000 +
                 CAST(('0x' || substring(md5('dbx:' || vec_id), 1, 15))
                   AS BIGINT) % 81 END AS x,
          CASE WHEN vec_id % 17 = 0
            THEN CAST(('0x' || substring(md5('dbny:' || vec_id), 1, 15))
                   AS BIGINT) % 1100
            ELSE ((vec_id % 8) // 4) * 1000 +
                 CAST(('0x' || substring(md5('dby:' || vec_id), 1, 15))
                   AS BIGINT) % 81 END AS y
        FROM embeddings),
      cells AS (
        SELECT id, x, y, x // $eps AS cx, y // $eps AS cy FROM pts),
      pairs AS MATERIALIZED (
        SELECT a.id AS ai, b.id AS bi
        FROM cells a JOIN cells b
          ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
         AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
         AND a.id <> b.id
        WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
              <= ${eps * eps}),
      core AS MATERIALIZED (
        SELECT ai AS id FROM pairs GROUP BY ai
        HAVING count(*) + 1 >= $minPts),
      ce AS MATERIALIZED (
        SELECT p.ai, p.bi FROM pairs p
        JOIN core c1 ON c1.id = p.ai
        JOIN core c2 ON c2.id = p.bi),
      l0 AS (SELECT id, id AS lbl FROM core)"""
    val iterCtes = (1 to rounds).map { i =>
      s""",
      l$i AS MATERIALIZED (
        SELECT l.id, least(l.lbl, COALESCE(min(n.lbl), l.lbl)) AS lbl
        FROM l${i - 1} l
        LEFT JOIN ce e ON e.ai = l.id
        LEFT JOIN l${i - 1} n ON n.id = e.bi
        GROUP BY l.id, l.lbl)"""
    }.mkString
    base + iterCtes + s""",
      border AS (
        SELECT p.ai AS id, min(l.lbl) AS lbl
        FROM pairs p JOIN l$rounds l ON l.id = p.bi
        WHERE p.ai NOT IN (SELECT id FROM core)
        GROUP BY p.ai),
      asg AS (
        SELECT pts.id, COALESCE(cl.lbl, b.lbl, -1) AS cluster,
               CASE WHEN cl.lbl IS NOT NULL THEN 1 ELSE 0 END AS is_core
        FROM pts LEFT JOIN l$rounds cl ON cl.id = pts.id
        LEFT JOIN border b ON b.id = pts.id)
      SELECT cluster, CAST(count(*) AS BIGINT) AS n_points,
             CAST(sum(is_core) AS BIGINT) AS n_core,
             min(id) AS min_id, max(id) AS max_id
      FROM asg GROUP BY cluster ORDER BY cluster"""
  }

  /** Shared CTE chain replaying [[graft.operators.Urls]] end-to-end:
    * deterministic raw-URL synthesis from doc_id, then the exact
    * canonicalization regex chain (same RE2 patterns, DuckDB needs the
    * explicit 'g' flag where Spark replaces globally), host/registrable-
    * domain extraction and path depth. Ends with a `norm` CTE of
    * (doc_id, url_canon, host, domain, depth).
    */
  private val urlNormOracleCtes: String = """
      WITH raw AS (
        SELECT doc_id,
          (CASE doc_id % 4 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'http'
                WHEN 2 THEN 'https' ELSE 'HTTPS' END) || '://' ||
          (CASE doc_id % 6 WHEN 0 THEN 'News.Example.COM'
                WHEN 1 THEN 'blog.sample.co.uk'
                WHEN 2 THEN 'www.shop.example.com'
                WHEN 3 THEN 'archive.example.org'
                WHEN 4 THEN 'a.b.example.com.au'
                ELSE 'Cdn.Assets.sample.net' END) ||
          (CASE WHEN doc_id % 5 = 0 THEN
                (CASE WHEN doc_id % 4 >= 2 THEN ':443' ELSE ':80' END)
                ELSE '' END) ||
          '/Articles/item' || CAST(doc_id AS VARCHAR) ||
          (CASE doc_id % 4
             WHEN 0 THEN '?utm_source=feed&id=' ||
                         CAST(doc_id AS VARCHAR) || '&utm_campaign=x'
             WHEN 1 THEN '?id=' || CAST(doc_id AS VARCHAR) ||
                         '&fbclid=ZZtrack'
             WHEN 2 THEN '?gclid=abc123' ELSE '' END) ||
          (CASE WHEN doc_id % 3 = 0 THEN '#section2' ELSE '' END) AS url
        FROM documents),
      pre AS (
        SELECT doc_id,
          lower(regexp_extract(url, '^[A-Za-z]+://[^/?#]+', 0)) AS p0,
          regexp_replace(url, '^[A-Za-z]+://[^/?#]+', '') AS r0
        FROM raw),
      canon AS (
        SELECT doc_id,
          regexp_replace(
            CASE WHEN p0 LIKE 'http://%'
                   THEN regexp_replace(p0, ':80$', '')
                 WHEN p0 LIKE 'https://%'
                   THEN regexp_replace(p0, ':443$', '')
                 ELSE p0 END,
            '://www\.', '://') ||
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(r0, '#.*$', ''),
                  '&(utm_[a-z]+|fbclid|gclid|ref)=[^&]*', '', 'g'),
                '\?(utm_[a-z]+|fbclid|gclid|ref)=[^&]*&', '?', 'g'),
              '\?(utm_[a-z]+|fbclid|gclid|ref)=[^&]*$', ''),
            '\?$', '') AS url_canon
        FROM pre),
      parts AS (
        SELECT doc_id, url_canon,
          regexp_extract(url_canon, '^[a-z]+://([^/:?#]+)', 1) AS host,
          regexp_extract(url_canon,
                         '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path
        FROM canon),
      norm AS (
        SELECT doc_id, url_canon, host,
          regexp_extract(host,
            '([^.]+\.(co\.uk|org\.uk|ac\.uk|com\.au|net\.au|org\.au|co\.jp|co\.nz|com\.br|co\.in|co\.za|com\.sg|com\.mx|com\.cn|com\.tr|[^.]+))$',
            1) AS domain,
          len(regexp_extract_all(path, '/[^/]+')) AS depth
        FROM parts)"""

  val all: Seq[Q] = Seq(

    // ---- data profiling (one-pass column statistics) ---------------------
    // Shannon character entropy — the information-density quality signal
    // (integer-scaled log-prob terms make the float-free reduction replay
    // bit-for-bit; see Entropy.scala's determinism contract)
    Q("q_entropy", oracleSql = """
      WITH ch AS (
        SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
      ct AS (
        SELECT doc_id, ch, count(*) AS c FROM ch WHERE ch <> ''
        GROUP BY doc_id, ch),
      wn AS (
        SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n FROM ct),
      t AS (
        SELECT doc_id, n,
               c * CAST(round(ln(CAST(c AS DOUBLE) / n) * 1000000)
                 AS BIGINT) AS term
        FROM wn)
      SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars,
             CAST(count(*) AS BIGINT) AS distinct_chars,
             CAST(floor(-CAST(sum(term) AS DOUBLE) / max(n)) AS BIGINT)
               AS entropy_micro
      FROM t GROUP BY doc_id ORDER BY doc_id""",
      build = (s, d) =>
      // exact integer micro-nats output (same decimal-tie hardening as
      // q_lm_score's avg_logp_u)
      graft.operators.Entropy.charEntropy(t(s, d, "documents"))
        .select("doc_id", "n_chars", "distinct_chars", "entropy_micro")
        .orderBy("doc_id")),

    // Budgeted selection: best documents by quality until a token budget.
    // The global prefix sum runs DISTRIBUTED (range partition on the order
    // key → per-slice running totals → offsets from a #partitions-row
    // collect) — no single-task Window.orderBy funnel. Integer token
    // weights make every running total and the keep boundary exact, so
    // DuckDB's window cumsum replays the selection bit-for-bit.
    Q("q_token_budget", oracleSql = """
      WITH norm AS (
        SELECT doc_id,
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt,
               len(list_filter(string_split_regex(text, '\s+'),
                 x -> x <> '')) AS n_tokens
        FROM documents),
      f AS (
        SELECT doc_id, n_tokens,
               CAST(length(nt) AS DOUBLE) AS n_chars,
               CAST(len(list_filter(string_split_regex(nt, '\s+'),
                 x -> x <> '')) AS DOUBLE) AS n_tok,
               CAST(length(regexp_replace(nt, '[\p{L}\p{N}\s]', '', 'g'))
                 AS DOUBLE) AS n_sym,
               CAST(length(regexp_replace(nt, '[^0-9]', '', 'g'))
                 AS DOUBLE) AS n_dig
        FROM norm),
      scored AS (
        SELECT doc_id, n_tokens,
               round(
                 (CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 1.0
                       ELSE 0.3 END) *
                 (CASE WHEN (CASE WHEN n_tok > 0
                               THEN (n_chars - (n_tok - 1)) / n_tok
                               ELSE 0.0 END) >= 2
                         AND (CASE WHEN n_tok > 0
                               THEN (n_chars - (n_tok - 1)) / n_tok
                               ELSE 0.0 END) <= 12
                       THEN 1.0 ELSE 0.5 END) *
                 greatest(0.0, 1.0 - (CASE WHEN n_chars > 0
                   THEN n_sym / n_chars ELSE 0.0 END) * 4) *
                 greatest(0.0, 1.0 - (CASE WHEN n_chars > 0
                   THEN n_dig / n_chars ELSE 0.0 END) * 2), 6) AS q
        FROM f),
      c AS (
        SELECT doc_id, q, n_tokens,
               CAST(sum(n_tokens) OVER (ORDER BY q DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_weight
        FROM scored)
      SELECT doc_id, q, n_tokens, cum_weight
      FROM c WHERE cum_weight <= 20000 ORDER BY cum_weight""",
      build = (s, d) => {
      val docs = docsSpread(s, d).select(col("doc_id"),
        qualityScore(col("text")).as("q"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Selection.takeUntilBudget(docs, "n_tokens",
          Seq(col("q").desc), "doc_id", budget = 20000L)
        .select(col("doc_id"), col("q"), col("n_tokens"), col("cum_weight"))
        .orderBy("cum_weight")
    }),

    // Per-source frequency cap (the FineWeb/Dolma per-domain cap): top 5
    // docs per source by length, rank reported. Total ordering via
    // (n_chars desc, doc_id) makes the cap boundary engine-exact.
    Q("q_source_cap", oracleSql = """
      SELECT source, doc_id, n_chars, rank_in_group FROM (
        SELECT source, doc_id, n_chars,
               row_number() OVER (PARTITION BY source
                 ORDER BY n_chars DESC, doc_id ASC) AS rank_in_group
        FROM documents)
      WHERE rank_in_group <= 5
      ORDER BY source, rank_in_group""",
      build = (s, d) =>
      graft.operators.Selection.capPerGroup(
          t(s, d, "documents").select("doc_id", "source", "n_chars"),
          "source", Seq(col("n_chars").desc), "doc_id", n = 5)
        .select("source", "doc_id", "n_chars", "rank_in_group")
        .orderBy("source", "rank_in_group")),

    // Link-graph centrality: fixed-point PageRank (5 iterations, d=0.85)
    // over the deterministic synthetic link graph i → (17i+c) mod n,
    // c=1..3. Every rank is integer arithmetic (rank div outdeg,
    // (85·sum) div 100), so DuckDB unrolling the same iterations in SQL
    // reproduces the values bit-for-bit — no float drift across engines.
    // 8 shuffle partitions: the per-iteration exchanges carry (long,
    // long) rows for a graph whose node count is corpus-sized, and the
    // loop runs 10+ small jobs — at 32 partitions the task-scheduling
    // overhead dominates the arithmetic.
    Q("q_pagerank", oracleSql = pageRankOracleSql(5),
      build = (s, d) => withShufflePartitions(s, 8) {
      val edges = graft.operators.LinkGraph.syntheticLinks(
        t(s, d, "documents"), k = 3, mult = 17L)
      graft.operators.LinkGraph.pageRank(edges, iters = 5)
        .orderBy(col("rank_fp").desc, col("id").asc).limit(20)
    }),

    // Warm-start PageRank on a GROWING graph — the continuous-crawl
    // recompute: converged ranks over the k=2 link set seed 2 iterations
    // over the enlarged k=3 set (new edges, same recurrence). DuckDB
    // unrolls both phases — 3 cold iterations on the old edges, the
    // warm hand-off, 2 more on the new edges — to bit-equality.
    Q("q_pagerank_warm", oracleSql = {
      def iter(out: String, prev: String, edges: String,
               od: String): String = s""",
      $out AS (
        SELECT n.id,
               CAST(150000000000 + (85 * COALESCE(c.s, 0)) // 100
                 AS BIGINT) AS r
        FROM nodes n LEFT JOIN (
          SELECT e.dst, CAST(SUM(r.r // $od.od) AS BIGINT) AS s
          FROM $edges e
          JOIN $prev r ON e.src = r.id
          JOIN $od ON $od.src = e.src
          GROUP BY e.dst) c ON c.dst = n.id)"""
      """
      WITH nodes AS (SELECT doc_id AS id FROM documents),
      nn AS (SELECT count(*) AS n FROM nodes),
      e1 AS (
        SELECT id AS src, (id * 17 + c.c) % nn.n AS dst
        FROM nodes CROSS JOIN nn
        CROSS JOIN (SELECT unnest([1, 2]) AS c) c),
      e2 AS (
        SELECT id AS src, (id * 17 + c.c) % nn.n AS dst
        FROM nodes CROSS JOIN nn
        CROSS JOIN (SELECT unnest([1, 2, 3]) AS c) c),
      od1 AS (SELECT src, count(*) AS od FROM e1 GROUP BY 1),
      od2 AS (SELECT src, count(*) AS od FROM e2 GROUP BY 1),
      p0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS r FROM nodes)""" +
      (1 to 3).map(i => iter(s"p$i", s"p${i - 1}", "e1", "od1")).mkString +
      """,
      w0 AS (SELECT n.id, CAST(COALESCE(p.r, 150000000000) AS BIGINT) AS r
             FROM nodes n LEFT JOIN p3 p ON p.id = n.id)""" +
      (1 to 2).map(i => iter(s"w$i", s"w${i - 1}", "e2", "od2")).mkString +
      """
      SELECT id, r AS rank_fp FROM w2
      ORDER BY rank_fp DESC, id ASC LIMIT 20"""
    },
      build = (s, d) => withShufflePartitions(s, 8) {
      val docs = t(s, d, "documents")
      val edgesOld = graft.operators.LinkGraph.syntheticLinks(
        docs, k = 2, mult = 17L)
      val edgesNew = graft.operators.LinkGraph.syntheticLinks(
        docs, k = 3, mult = 17L)
      val prev = graft.operators.LinkGraph.pageRank(edgesOld, iters = 3)
      graft.operators.LinkGraph.pageRankWarmStart(edgesNew, prev, iters = 2)
        .orderBy(col("rank_fp").desc, col("id").asc).limit(20)
    }),

    // TrustRank (personalized PageRank): teleport mass lands only on the
    // trusted seed set (every 10th doc) — trust decays with link
    // distance from the seeds, the link-spam detection recipe. Same
    // integer recurrence as q_pagerank; DuckDB unrolls it with the seed
    // CASE in the teleport term.
    Q("q_trustrank", oracleSql = pageRankOracleSql(5, id => s"$id % 10 = 0"),
      build = (s, d) => withShufflePartitions(s, 8) {
      val docs = t(s, d, "documents")
      val edges = graft.operators.LinkGraph.syntheticLinks(
        docs, k = 3, mult = 17L)
      val seeds = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select("doc_id")
      graft.operators.LinkGraph.pageRankPersonalized(edges, seeds,
          iters = 5)
        .orderBy(col("rank_fp").desc, col("id").asc).limit(20)
    }),

    // BFS hop distance from a trusted seed frontier — the crawl-depth
    // gate ("drop pages > k hops from curated seeds") as data: per-node
    // shortest hop count over the synthetic link graph, unreached nodes
    // absent. Set-valued BFS layers need no tie-breaking, so the DuckDB
    // oracle replays the same unrolled rounds exactly.
    Q("q_bfs_depth", oracleSql = """
      WITH nodes AS (SELECT doc_id AS id FROM documents),
      nn AS (SELECT count(*) AS n FROM nodes),
      edges AS MATERIALIZED (
        SELECT id AS src, (id * 17 + c.c) % nn.n AS dst
        FROM nodes CROSS JOIN nn
        CROSS JOIN (SELECT unnest([1, 2, 3]) AS c) c),
      c0 AS MATERIALIZED (
        SELECT id, CAST(0 AS BIGINT) AS depth FROM nodes
        WHERE id % 97 = 0),
      r1 AS MATERIALIZED (
        SELECT DISTINCT e.dst AS id FROM edges e
        JOIN c0 f ON e.src = f.id WHERE f.depth = 0),
      d1 AS MATERIALIZED (
        SELECT id, CAST(1 AS BIGINT) AS depth FROM r1
        WHERE id NOT IN (SELECT id FROM c0)),
      c1 AS MATERIALIZED (
        SELECT * FROM c0 UNION ALL SELECT * FROM d1),
      r2 AS MATERIALIZED (
        SELECT DISTINCT e.dst AS id FROM edges e
        JOIN d1 f ON e.src = f.id),
      d2 AS MATERIALIZED (
        SELECT id, CAST(2 AS BIGINT) AS depth FROM r2
        WHERE id NOT IN (SELECT id FROM c1)),
      c2 AS MATERIALIZED (
        SELECT * FROM c1 UNION ALL SELECT * FROM d2),
      r3 AS MATERIALIZED (
        SELECT DISTINCT e.dst AS id FROM edges e
        JOIN d2 f ON e.src = f.id),
      d3 AS MATERIALIZED (
        SELECT id, CAST(3 AS BIGINT) AS depth FROM r3
        WHERE id NOT IN (SELECT id FROM c2)),
      c3 AS (SELECT * FROM c2 UNION ALL SELECT * FROM d3)
      SELECT id, depth FROM c3 ORDER BY depth, id""",
      build = (s, d) => withShufflePartitions(s, 8) {
      val docs = t(s, d, "documents")
      val edges = graft.operators.LinkGraph.syntheticLinks(
        docs, k = 3, mult = 17L)
      val seeds = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select("doc_id")
      graft.operators.LinkGraph.bfsDepth(edges, seeds, maxDepth = 3)
        .orderBy("depth", "id")
    }),

    // Bounded-hop weighted single-source shortest paths (Bellman–Ford
    // rounds): after 6 relaxations, dist(v) is the exact min weight over
    // ≤6-edge paths from node 0 — the "within k clicks, cheapest route"
    // crawl query. Integer weights 1..9 from the portable md5 of the
    // edge, so DuckDB rebuilds the identical weighted graph and unrolls
    // all 6 rounds; per round one edge-sized (long,long,long) join, a
    // min aggregate and an explicit-CASE full-outer merge (NULL
    // semantics pinned identically in both engines).
    // SSSP replayed exactly: identical synthetic edges, identical md5
    // weights, 6 unrolled Bellman-Ford rounds with the same explicit
    // CASE merge.
    Q("q_sssp", oracleSql = """
      WITH nodes AS (SELECT doc_id AS id FROM documents),
      nn AS (SELECT count(*) AS n FROM nodes),
      e AS MATERIALIZED (
        SELECT src, dst,
               CAST(('0x' || substring(md5('w:' || CAST(src AS VARCHAR)
                 || ':' || CAST(dst AS VARCHAR)), 1, 15)) AS BIGINT)
                 % 9 + 1 AS w
        FROM (SELECT id AS src, (id * 17 + c.c) % nn.n AS dst
              FROM nodes CROSS JOIN nn
              CROSS JOIN (SELECT unnest([1, 2, 3]) AS c) c) t),
      d0 AS MATERIALIZED (
        SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist)
      ,r1 AS MATERIALIZED (
        SELECT e.dst AS id, min(d.dist + e.w) AS nd
        FROM d0 d JOIN e ON e.src = d.id GROUP BY 1),
      d1 AS MATERIALIZED (
        SELECT COALESCE(d.id, r.id) AS id,
               CASE WHEN d.dist IS NULL THEN r.nd
                    WHEN r.nd IS NULL THEN d.dist
                    WHEN r.nd < d.dist THEN r.nd
                    ELSE d.dist END AS dist
        FROM d0 d FULL OUTER JOIN r1 r ON r.id = d.id)
      ,r2 AS MATERIALIZED (
        SELECT e.dst AS id, min(d.dist + e.w) AS nd
        FROM d1 d JOIN e ON e.src = d.id GROUP BY 1),
      d2 AS MATERIALIZED (
        SELECT COALESCE(d.id, r.id) AS id,
               CASE WHEN d.dist IS NULL THEN r.nd
                    WHEN r.nd IS NULL THEN d.dist
                    WHEN r.nd < d.dist THEN r.nd
                    ELSE d.dist END AS dist
        FROM d1 d FULL OUTER JOIN r2 r ON r.id = d.id)
      ,r3 AS MATERIALIZED (
        SELECT e.dst AS id, min(d.dist + e.w) AS nd
        FROM d2 d JOIN e ON e.src = d.id GROUP BY 1),
      d3 AS MATERIALIZED (
        SELECT COALESCE(d.id, r.id) AS id,
               CASE WHEN d.dist IS NULL THEN r.nd
                    WHEN r.nd IS NULL THEN d.dist
                    WHEN r.nd < d.dist THEN r.nd
                    ELSE d.dist END AS dist
        FROM d2 d FULL OUTER JOIN r3 r ON r.id = d.id)
      ,r4 AS MATERIALIZED (
        SELECT e.dst AS id, min(d.dist + e.w) AS nd
        FROM d3 d JOIN e ON e.src = d.id GROUP BY 1),
      d4 AS MATERIALIZED (
        SELECT COALESCE(d.id, r.id) AS id,
               CASE WHEN d.dist IS NULL THEN r.nd
                    WHEN r.nd IS NULL THEN d.dist
                    WHEN r.nd < d.dist THEN r.nd
                    ELSE d.dist END AS dist
        FROM d3 d FULL OUTER JOIN r4 r ON r.id = d.id)
      ,r5 AS MATERIALIZED (
        SELECT e.dst AS id, min(d.dist + e.w) AS nd
        FROM d4 d JOIN e ON e.src = d.id GROUP BY 1),
      d5 AS MATERIALIZED (
        SELECT COALESCE(d.id, r.id) AS id,
               CASE WHEN d.dist IS NULL THEN r.nd
                    WHEN r.nd IS NULL THEN d.dist
                    WHEN r.nd < d.dist THEN r.nd
                    ELSE d.dist END AS dist
        FROM d4 d FULL OUTER JOIN r5 r ON r.id = d.id)
      ,r6 AS MATERIALIZED (
        SELECT e.dst AS id, min(d.dist + e.w) AS nd
        FROM d5 d JOIN e ON e.src = d.id GROUP BY 1),
      d6 AS MATERIALIZED (
        SELECT COALESCE(d.id, r.id) AS id,
               CASE WHEN d.dist IS NULL THEN r.nd
                    WHEN r.nd IS NULL THEN d.dist
                    WHEN r.nd < d.dist THEN r.nd
                    ELSE d.dist END AS dist
        FROM d5 d FULL OUTER JOIN r6 r ON r.id = d.id)
      SELECT id, dist FROM d6 ORDER BY id""",
      build = (s, d) => withShufflePartitions(s, 8) {
      val docs = t(s, d, "documents")
      val edges = graft.operators.LinkGraph.syntheticLinks(
        docs, k = 3, mult = 17L)
      graft.operators.LinkGraph.sssp(
          graft.operators.LinkGraph.hashWeights(edges, maxW = 9),
          docs.filter(col("doc_id") === 0).select("doc_id"),
          rounds = 6)
        .orderBy("id")
    }),

    // Cross-source quantile normalization (the calibration step before
    // mixed-corpus score thresholds mean anything): each doc's score →
    // its source-conditional CDF position in integer ppm, computed in
    // histogram-CDF form — scores aggregate to (source, score, count)
    // FIRST (map-side combine, cardinality = value domain), the running
    // CDF windows over those bounded rows, and docs get their ppm back
    // by one hash join. No per-source global sort of the corpus.
    // Quantile normalization replayed exactly: histogram counts, the
    // per-source cumulative CDF over aggregated (source, score) rows,
    // the ppm floor and the join back to documents.
    Q("q_score_qnorm", oracleSql = """
      WITH sc AS (SELECT doc_id, source, n_chars FROM documents),
      agg AS (SELECT source, n_chars, count(*) AS c FROM sc GROUP BY 1, 2),
      cum AS (SELECT source, n_chars,
                     sum(c) OVER (PARTITION BY source ORDER BY n_chars)
                       AS cle
              FROM agg),
      ns AS (SELECT source, count(*) AS n FROM sc GROUP BY 1)
      SELECT s.doc_id, s.source, s.n_chars,
             CAST(c.cle * 1000000 // ns.n AS BIGINT) AS q_ppm
      FROM sc s
      JOIN cum c ON c.source = s.source AND c.n_chars = s.n_chars
      JOIN ns ON ns.source = s.source
      ORDER BY s.doc_id""",
      build = (s, d) => withShufflePartitions(s, 8) {
      graft.operators.Qnorm.quantileNormalize(
          t(s, d, "documents").select("doc_id", "source", "n_chars"),
          "source", "n_chars")
        .select(col("doc_id"), col("source"), col("n_chars"), col("q_ppm"))
        .orderBy("doc_id")
    }),

    // Contrastive pair construction (ICT/DPR-style in-batch negatives):
    // each ≥8-token doc splits at ⌊n/2⌋ into (anchor, positive), lands
    // in a portable-md5 batch, and carries n_negatives = batch−1 (the
    // loss math's constant). Zero-shuffle projection + a 16-row batch-
    // size broadcast; the lossless split is spec-pinned corpus-wide.
    // Contrastive pairs replayed exactly: same tokenizer, floor-half
    // list slices, md5 batch assignment, batch-size negatives.
    Q("q_contrastive", oracleSql = """
      WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '')
                 AS ws
        FROM documents),
      sp AS (
        SELECT doc_id, len(ws) AS n, len(ws) // 2 AS half, ws
        FROM toks WHERE len(ws) >= 8),
      pairs AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5('b:' ||
                 CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 16
                 AS batch_id,
               array_to_string(list_slice(ws, 1, half), ' ') AS anchor,
               array_to_string(list_slice(ws, half + 1, n), ' ')
                 AS positive
        FROM sp),
      bs AS (SELECT batch_id, count(*) AS c FROM pairs GROUP BY 1)
      SELECT p.doc_id, p.batch_id, p.anchor, p.positive,
             CAST(bs.c - 1 AS BIGINT) AS n_negatives
      FROM pairs p JOIN bs ON bs.batch_id = p.batch_id
      ORDER BY p.doc_id""",
      build = (s, d) => withShufflePartitions(s, 8) {
      graft.operators.Contrastive.spanPairs(
          t(s, d, "documents"), minToks = 8, batches = 16)
        .orderBy("doc_id")
    }),

    // HITS hubs & authorities over the same link graph (Kleinberg
    // JACM'99) — the hub/authority role split PageRank conflates.
    // Integer fixed-point with DIVISION-ONLY L1 renormalization (divisor
    // = max(total div scale, 1), so no multiply can overflow at any
    // graph size); two edge-sized (long,long) exchanges per round, the
    // scalar totals ride in-plan as broadcast one-row joins. DuckDB
    // unrolls the same 3 integer rounds to bit-equality.
    Q("q_hits", oracleSql = hitsOracleSql(3, 1000000000L),
      build = (s, d) => withShufflePartitions(s, 8) {
      val edges = graft.operators.LinkGraph.syntheticLinks(
        t(s, d, "documents"), k = 3, mult = 17L)
      graft.operators.LinkGraph.hits(edges, iters = 3)
        .orderBy(col("auth_fp").desc, col("id").asc).limit(20)
    }),

    // N-gram containment (Broder's asymmetric near-dup metric): pairs
    // where ≥30% of doc A's distinct 3-grams occur in doc B — the quote/
    // embedded-document signal Jaccard structurally misses. Every 5th
    // page carries a planted 20-word quote with known source (synthesized
    // in BOTH engines); stop-grams with df > 50 are excluded (the
    // informativeness AND join-fan-out gate). Integer ppm; DuckDB
    // replays grams → df gate → pair counts → ppm exactly.
    // Containment replayed exactly: same quoted-page synthesis (left
    // join against the source doc, 20-word slice), filtered tokens,
    // distinct 3-grams, df ≤ 50 stop-gram gate, pair counts and the
    // integer ppm floor.
    Q("q_dedup_containment", oracleSql = """
      WITH nn AS (SELECT count(*) AS n FROM documents),
      pages AS (
        SELECT d.doc_id,
          CASE WHEN d.doc_id % 5 = 0
            THEN d.text || ' ' || array_to_string(list_slice(
                   list_filter(string_split_regex(s.text, '\s+'),
                     x -> x <> ''), 1, 20), ' ')
            ELSE d.text END AS page
        FROM documents d CROSS JOIN nn
        LEFT JOIN documents s
          ON d.doc_id % 5 = 0 AND s.doc_id = (d.doc_id + 13) % nn.n),
      toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(page, '\s+'), x -> x <> '')
                 AS ws
        FROM pages),
      grams AS (
        SELECT DISTINCT doc_id,
               ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
        FROM toks, unnest(range(1, len(ws) - 1)) t(i)),
      rare AS (
        SELECT g FROM (SELECT g, count(*) AS c FROM grams GROUP BY 1)
        WHERE c <= 50),
      fg AS (SELECT gr.doc_id, gr.g FROM grams gr JOIN rare ON rare.g = gr.g),
      sz AS (SELECT doc_id, count(*) AS na FROM fg GROUP BY 1),
      shared AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
        FROM fg a JOIN fg b ON a.g = b.g AND a.doc_id <> b.doc_id
        GROUP BY 1, 2)
      SELECT s.a_id, s.b_id, CAST(s.shared AS BIGINT) AS shared,
             CAST(z.na AS BIGINT) AS n_grams,
             CAST(s.shared * 1000000 // z.na AS BIGINT) AS c_ppm
      FROM shared s JOIN sz z ON z.doc_id = s.a_id
      WHERE CAST(s.shared * 1000000 // z.na AS BIGINT) >= 300000
      ORDER BY a_id, b_id""",
      build = (s, d) => withShufflePartitions(s, 8) {
      graft.operators.Containment.containmentPairs(
          graft.operators.Containment.synthesizeQuoted(docsSpread(s, d)),
          n = 3, maxDf = 50, minPpm = 300000)
        .orderBy("a_id", "b_id")
    }),

    // Winnowing fingerprint overlap (Schleimer SIGMOD'03, the MOSS core):
    // each w=4 window of word-3-gram hashes keeps its rightmost minimum,
    // storing ~2/(w+1) of all positions while guaranteeing any shared run
    // of ≥ w+k-1 = 6 tokens yields a shared fingerprint — the planted
    // 20-word quotes surface with ≥2 shared prints. Selection is a fixed
    // OR over w lag/lead conjunctions on ONE doc-keyed window; hub hashes
    // with df > 50 are excluded (join fan-out gate). DuckDB replays
    // grams → 60-bit md5 → rightmost-min selection → df gate → pair
    // counts → coverage ppm exactly.
    // Winnowing replayed exactly: the containment quoted-page synthesis,
    // 3-gram 60-bit md5 hashes in token order, then the stateless
    // selection rule — position j is kept iff for SOME split a+b = w-1
    // the a hashes left are all >= h and the b hashes right are all > h
    // (rightmost-minimum of some full window; NULL comparisons fail the
    // conjunction, enforcing fully-inside-document windows exactly like
    // the Spark isNotNull guards) — then df gate, pair counts, ppm.
    Q("q_dedup_winnow", oracleSql = """
      WITH nn AS (SELECT count(*) AS n FROM documents),
      pages AS (
        SELECT d.doc_id,
          CASE WHEN d.doc_id % 5 = 0
            THEN d.text || ' ' || array_to_string(list_slice(
                   list_filter(string_split_regex(s.text, '\s+'),
                     x -> x <> ''), 1, 20), ' ')
            ELSE d.text END AS page
        FROM documents d CROSS JOIN nn
        LEFT JOIN documents s
          ON d.doc_id % 5 = 0 AND s.doc_id = (d.doc_id + 13) % nn.n),
      toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(page, '\s+'), x -> x <> '')
                 AS ws
        FROM pages),
      grams AS (
        SELECT doc_id, i,
               CAST(('0x' || substring(md5('wf:' ||
                 ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15))
                 AS BIGINT) AS h
        FROM toks, unnest(range(1, len(ws) - 1)) t(i)),
      lagged AS (
        SELECT doc_id, h,
               lag(h, 1)  OVER w AS l1, lag(h, 2)  OVER w AS l2,
               lag(h, 3)  OVER w AS l3,
               lead(h, 1) OVER w AS r1, lead(h, 2) OVER w AS r2,
               lead(h, 3) OVER w AS r3
        FROM grams WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
      fp AS (
        SELECT DISTINCT doc_id, h FROM lagged
        WHERE (r1 > h AND r2 > h AND r3 > h)
           OR (l1 >= h AND r1 > h AND r2 > h)
           OR (l1 >= h AND l2 >= h AND r1 > h)
           OR (l1 >= h AND l2 >= h AND l3 >= h)),
      rare AS (
        SELECT h FROM (SELECT h, count(*) AS c FROM fp GROUP BY 1)
        WHERE c <= 50),
      fg AS (SELECT f.doc_id, f.h FROM fp f JOIN rare ON rare.h = f.h),
      sz AS (SELECT doc_id, count(*) AS nfp FROM fg GROUP BY 1),
      shared AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
        FROM fg a JOIN fg b ON a.h = b.h AND a.doc_id <> b.doc_id
        GROUP BY 1, 2)
      SELECT s.a_id, s.b_id, CAST(s.shared AS BIGINT) AS shared,
             CAST(z.nfp AS BIGINT) AS nfp,
             CAST(s.shared * 1000000 // z.nfp AS BIGINT) AS cov_ppm
      FROM shared s JOIN sz z ON z.doc_id = s.a_id
      WHERE s.shared >= 2
      ORDER BY a_id, b_id""",
      build = (s, d) => withShufflePartitions(s, 8) {
      graft.operators.Winnowing.overlapPairs(
          graft.operators.Containment.synthesizeQuoted(docsSpread(s, d)),
          k = 3, w = 4, maxDf = 50, minShared = 2)
        .orderBy("a_id", "b_id")
    }),

    // Lloyd's k-means over the embeddings table in INTEGER arithmetic
    // (floor(e·1000)+4000 quantization, integer squared L2, min-cid
    // ties, per-dim sum-div-count centroid updates, first-k-by-id
    // init): 3 rounds, k=8. Per round one k×d broadcast onto the
    // points, a struct-ordered argmin AGGREGATE, one (cid, dim)
    // exchange for the update — LinkGraph's fixed-width iteration
    // discipline. DuckDB unrolls all 3 rounds to bit-equality.
    // K-means replayed exactly: quantization, 3 unrolled Lloyd rounds
    // (distances, min-dist + min-cid assignment, floor-division centroid
    // updates with empty-cluster carryover), final sizes/inertia/
    // centroid checksums. MATERIALIZED throughout — a1/s1/c1 are each
    // referenced twice and un-hinted CTEs re-expand exponentially.
    Q("q_cluster_kmeans", oracleSql = """
      WITH pts AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding, e ->
                 CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT) + 4000)
                 AS q
        FROM embeddings),
      c0 AS MATERIALIZED (
        SELECT CAST(vec_id AS INTEGER) AS cid, q AS c
        FROM pts WHERE vec_id < 8),
      d1 AS MATERIALIZED (
        SELECT p.vec_id, c.cid,
               list_sum(list_transform(range(1, 65), j ->
                 (p.q[j] - c.c[j]) * (p.q[j] - c.c[j]))) AS dist
        FROM pts p CROSS JOIN c0 c),
      m1 AS MATERIALIZED (
        SELECT vec_id, min(dist) AS bd FROM d1 GROUP BY 1),
      a1 AS MATERIALIZED (
        SELECT d.vec_id, min(d.cid) AS cid, m.bd AS dist
        FROM d1 d JOIN m1 m ON m.vec_id = d.vec_id AND d.dist = m.bd
        GROUP BY d.vec_id, m.bd),
      s1 AS MATERIALIZED (
        SELECT a.cid, j,
               CAST(sum(p.q[j]) AS BIGINT) // count(*) AS cv
        FROM a1 a JOIN pts p ON p.vec_id = a.vec_id
        CROSS JOIN unnest(range(1, 65)) t(j)
        GROUP BY 1, 2),
      c1 AS MATERIALIZED (
        SELECT cid, list(cv ORDER BY j) AS c FROM s1 GROUP BY 1
        UNION ALL
        SELECT c0.cid, c0.c FROM c0
        WHERE c0.cid NOT IN (SELECT cid FROM s1)),
      d2 AS MATERIALIZED (
        SELECT p.vec_id, c.cid,
               list_sum(list_transform(range(1, 65), j ->
                 (p.q[j] - c.c[j]) * (p.q[j] - c.c[j]))) AS dist
        FROM pts p CROSS JOIN c1 c),
      m2 AS MATERIALIZED (
        SELECT vec_id, min(dist) AS bd FROM d2 GROUP BY 1),
      a2 AS MATERIALIZED (
        SELECT d.vec_id, min(d.cid) AS cid, m.bd AS dist
        FROM d2 d JOIN m2 m ON m.vec_id = d.vec_id AND d.dist = m.bd
        GROUP BY d.vec_id, m.bd),
      s2 AS MATERIALIZED (
        SELECT a.cid, j,
               CAST(sum(p.q[j]) AS BIGINT) // count(*) AS cv
        FROM a2 a JOIN pts p ON p.vec_id = a.vec_id
        CROSS JOIN unnest(range(1, 65)) t(j)
        GROUP BY 1, 2),
      c2 AS MATERIALIZED (
        SELECT cid, list(cv ORDER BY j) AS c FROM s2 GROUP BY 1
        UNION ALL
        SELECT c1.cid, c1.c FROM c1
        WHERE c1.cid NOT IN (SELECT cid FROM s2)),
      d3 AS MATERIALIZED (
        SELECT p.vec_id, c.cid,
               list_sum(list_transform(range(1, 65), j ->
                 (p.q[j] - c.c[j]) * (p.q[j] - c.c[j]))) AS dist
        FROM pts p CROSS JOIN c2 c),
      m3 AS MATERIALIZED (
        SELECT vec_id, min(dist) AS bd FROM d3 GROUP BY 1),
      a3 AS MATERIALIZED (
        SELECT d.vec_id, min(d.cid) AS cid, m.bd AS dist
        FROM d3 d JOIN m3 m ON m.vec_id = d.vec_id AND d.dist = m.bd
        GROUP BY d.vec_id, m.bd),
      s3 AS MATERIALIZED (
        SELECT a.cid, j,
               CAST(sum(p.q[j]) AS BIGINT) // count(*) AS cv
        FROM a3 a JOIN pts p ON p.vec_id = a.vec_id
        CROSS JOIN unnest(range(1, 65)) t(j)
        GROUP BY 1, 2),
      c3 AS MATERIALIZED (
        SELECT cid, list(cv ORDER BY j) AS c FROM s3 GROUP BY 1
        UNION ALL
        SELECT c2.cid, c2.c FROM c2
        WHERE c2.cid NOT IN (SELECT cid FROM s3)),
      res AS MATERIALIZED (
        SELECT cid, count(*) AS n, CAST(sum(dist) AS BIGINT) AS inertia
        FROM a3 GROUP BY 1)
      SELECT c.cid, COALESCE(r.n, 0) AS n,
             COALESCE(r.inertia, 0) AS inertia,
             CAST(list_sum(c.c) AS BIGINT) AS centroid_sum
      FROM c3 c LEFT JOIN res r ON r.cid = c.cid
      ORDER BY c.cid""",
      build = (s, d) => withShufflePartitions(s, 8) {
      graft.operators.Kmeans.clusterSummary(s, t(s, d, "embeddings"),
          k = 8, iters = 3)
        .orderBy("cid")
    }),

    // Grid-blocked DBSCAN over a planted integer 2-D layout (8 dense
    // blobs + uniform noise, synthesized from vec_id via the portable
    // hash in BOTH engines): density clusters discovered (not declared),
    // border points deterministically assigned (min adjacent core), noise
    // = -1. The eps-neighbor join is an equi-join on grid cells — no
    // cross join at any scale. DuckDB replays synthesis → pairs → cores
    // → min-label flooding → border/noise verdicts exactly.
    Q("q_cluster_dbscan", oracleSql = dbscanOracleSql(60L, 4, 5),
      build = (s, d) => withShufflePartitions(s, 8) {
      val pts = graft.operators.Dbscan.synthesizePoints(
        t(s, d, "embeddings"))
      graft.operators.Dbscan.cluster(pts, eps = 60L, minPts = 4, rounds = 5)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_points"), sum("is_core").as("n_core"),
          min("id").as("min_id"), max("id").as("max_id"))
        .orderBy("cluster")
    }),

    // Conversation assembly for SFT data: sessionized event logs render
    // as role-tagged chat transcripts, consecutive same-role events
    // coalesced into single turns (the run-grouping real chat corpora
    // need). Deterministic string assembly over the (ts, event_id) total
    // order — DuckDB replays sessionization, turn grouping and both
    // string_agg levels byte-for-byte. One user-keyed exchange feeds all
    // four window/aggregate steps.
    // SFT transcript assembly replayed exactly: q_sessions'
    // sessionization CTEs, the role CASE, IS-DISTINCT-FROM turn starts,
    // running turn ids, then two ordered string_agg levels (turn text by
    // (ts, event_id), transcript by turn_id).
    Q("q_dialog_sft", oracleSql = """
      WITH lagged AS (
        SELECT user_id, event_id, ts, event_type, props,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev_ts
        FROM events),
      numbered AS (
        SELECT user_id, event_id, ts, event_type, props,
               CAST(sum(CASE WHEN prev_ts IS NULL
                         OR epoch(ts) - epoch(prev_ts) > 1800
                    THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS session_id
        FROM lagged),
      roled AS (
        SELECT *, CASE WHEN event_type IN ('click', 'view')
                       THEN 'user' ELSE 'assistant' END AS role
        FROM numbered),
      starts AS (
        SELECT *, CASE WHEN lag(role) OVER (
                 PARTITION BY user_id, session_id ORDER BY ts, event_id)
               IS DISTINCT FROM role THEN 1 ELSE 0 END AS st
        FROM roled),
      turns AS (
        SELECT *, CAST(sum(st) OVER (PARTITION BY user_id, session_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS turn_id
        FROM starts),
      turntext AS (
        SELECT user_id, session_id, turn_id, role,
               count(*) AS ne,
               string_agg(event_type || ' ' || props, '; '
                          ORDER BY ts, event_id) AS txt
        FROM turns GROUP BY user_id, session_id, turn_id, role)
      SELECT user_id, session_id,
             CAST(count(*) AS BIGINT) AS n_turns,
             CAST(sum(ne) AS BIGINT) AS n_events,
             string_agg('<|' || role || '|> ' || txt, chr(10)
                        ORDER BY turn_id) AS transcript
      FROM turntext GROUP BY user_id, session_id
      ORDER BY user_id, session_id""",
      build = (s, d) => withShufflePartitions(s, 8) {
      graft.operators.Dialog.assembleTranscripts(
          t(s, d, "events"), userTypes = Seq("click", "view"))
        .orderBy("user_id", "session_id")
    }),

    // Boilerplate line removal (CCNet/RefinedWeb cleaning): lines
    // recurring in ≥2 distinct documents (nav headers, promos, footers —
    // synthesized deterministically onto each page in BOTH engines) are
    // template chrome and get dropped; unique content survives. The
    // decision is exact string document-frequency; the 64-bit line-hash
    // pass is a collision-proof prefilter (superset, re-counted by
    // string). DuckDB rebuilds the same pages and replays the df gate
    // and reassembly byte-for-byte.
    // Boilerplate removal replayed exactly: rebuild the same synthesized
    // pages (concat_ws skips the NULL promo on non-%3 docs in both
    // engines), split to lines, df = count(DISTINCT doc) per exact line
    // string, drop df≥2 lines, reassemble ordered by position (COALESCE
    // '' so a fully-boilerplate page matches Spark's empty-array join).
    Q("q_boilerplate", oracleSql = """
      WITH pages AS (
        SELECT doc_id, concat_ws(chr(10),
          'NAV ' || source || ' home about contact',
          text,
          CASE WHEN doc_id % 3 = 0
               THEN 'PROMO subscribe to our newsletter today' END,
          'FOOTER copyright sample site') AS page
        FROM documents),
      ls AS (SELECT doc_id, string_split(page, chr(10)) AS a FROM pages),
      lines AS (
        SELECT doc_id, pos, a[pos] AS line
        FROM ls, unnest(range(1, len(a) + 1)) AS t(pos)),
      freq AS (
        SELECT line FROM (
          SELECT line, count(DISTINCT doc_id) AS df FROM lines GROUP BY 1)
        WHERE df >= 2),
      flags AS (
        SELECT l.doc_id, l.pos, l.line, (f.line IS NULL) AS keep
        FROM lines l LEFT JOIN freq f ON l.line = f.line)
      SELECT doc_id,
        COALESCE(string_agg(CASE WHEN keep THEN line END,
          chr(10) ORDER BY pos), '') AS clean,
        CAST(count(*) AS BIGINT) AS n_lines,
        CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM flags GROUP BY doc_id ORDER BY doc_id""",
      build = (s, d) => withShufflePartitions(s, 8) {
      graft.operators.Boilerplate.removeBoilerplate(
          graft.operators.Boilerplate.synthesize(docsSpread(s, d)),
          minDf = 2)
        .orderBy("doc_id")
    }),

    // Span corruption (T5 denoising objective, Raffel JMLR'20): every
    // document becomes an (input, target) training pair — maximal runs of
    // masked tokens collapse to <extra_id_k> sentinels in the input, the
    // target lists each sentinel with its masked tokens. Mask decisions
    // are a portable md5 hash of (doc, pos) — reproducible across runs,
    // retries and engines; DuckDB replays tokenize → mask → run-grouping
    // → both assemblies byte-for-byte. One exchange keyed by doc id (the
    // run window and the final aggregate share hash partitioning).
    // Span corruption replayed exactly: same \s+ tokenization as q_bpe,
    // the portable 60-bit md5 mask hash, lag-based run starts, running
    // run ids, and both string_agg assemblies (COALESCE '' so a document
    // with no masked token matches Spark's empty-array join).
    Q("q_span_corrupt", oracleSql = """
      WITH toks AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS ws
        FROM documents),
      w AS (
        SELECT doc_id, pos, ws[pos] AS tok
        FROM toks, unnest(range(1, len(ws) + 1)) AS t(pos)
        WHERE ws[pos] <> ''),
      m AS (
        SELECT doc_id, pos, tok,
               (CAST(('0x' || substring(
                  md5('mask:' || doc_id || ':' || pos), 1, 15)) AS BIGINT)
                % 5 = 0) AS mk
        FROM w),
      r AS (
        SELECT doc_id, pos, tok, mk,
               CASE WHEN mk AND NOT COALESCE(
                   lag(mk) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
                 THEN 1 ELSE 0 END AS st
        FROM m),
      s AS (
        SELECT doc_id, pos, tok, mk, st,
               CAST(sum(st) OVER (PARTITION BY doc_id ORDER BY pos)
                 AS BIGINT) AS rid
        FROM r)
      SELECT doc_id,
        COALESCE(string_agg(
          CASE WHEN NOT mk THEN tok
               WHEN st = 1 THEN '<extra_id_' || (rid - 1) || '>' END,
          ' ' ORDER BY pos), '') AS input,
        COALESCE(string_agg(
          CASE WHEN mk THEN (CASE WHEN st = 1
            THEN '<extra_id_' || (rid - 1) || '> ' || tok
            ELSE tok END) END,
          ' ' ORDER BY pos), '') AS target,
        CAST(sum(CASE WHEN mk THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
        CAST(sum(st) AS BIGINT) AS n_spans
      FROM s GROUP BY doc_id ORDER BY doc_id""",
      build = (s, d) => withShufflePartitions(s, 8) {
      graft.operators.Augment.spanCorrupt(docsSpread(s, d), every = 5)
        .orderBy("doc_id")
    }),

    // Label-propagation community detection (Raghavan 2007) over a
    // block-structured synthetic graph with planted communities — the
    // topical-cluster / mirror-family grouper for crawl curation.
    // Synchronous rounds with min-label tie-breaking make the result a
    // pure function of the graph; DuckDB unrolls the same 4 integer
    // rounds to bit-equality. Output: per-label community size + id span.
    Q("q_communities", oracleSql = labelPropOracleSql(4, 50, 2),
      build = (s, d) => withShufflePartitions(s, 8) {
      val docs = t(s, d, "documents")
      val edges = graft.operators.LinkGraph.syntheticBlockLinks(
        docs, block = 50, k = 2)
      graft.operators.LinkGraph.labelPropagation(edges, iters = 4)
        .groupBy("label")
        .agg(count(lit(1)).as("size"), min("id").as("min_id"),
          max("id").as("max_id"))
        .orderBy("label")
    }),

    // URL canonicalization — the address-normalization step before any
    // per-domain cap/blocklist/dedup keying: mixed-case scheme+host,
    // default ports, www., fragments and tracking params (utm_*/fbclid/
    // gclid/ref) all erased by a pure RE2-compatible regex chain (zero
    // shuffles, one codegen projection); registrable domain = longest
    // known public suffix + 1. Deterministic raw URLs are synthesized
    // from doc_id in BOTH engines; DuckDB replays the whole chain
    // byte-for-byte.
    Q("q_url_canon", oracleSql = (urlNormOracleCtes + """
      SELECT doc_id, url_canon, host, domain, depth
      FROM norm ORDER BY doc_id"""),
      build = (s, d) =>
      graft.operators.Urls.normalize(
          graft.operators.Urls.synthesize(docsSpread(s, d)))
        .orderBy("doc_id")),

    // Per-registrable-domain rollup over the canonicalized URLs with a
    // broadcast blocklist anti-join (the blocklist is KB-sized — it
    // never justifies shuffling the corpus side): docs, distinct hosts,
    // total path depth per domain — what a crawl-budget allocator or
    // per-domain cap consumes.
    Q("q_url_domain_stats", oracleSql = (urlNormOracleCtes + """
      SELECT domain, count(*) AS n_docs,
             count(DISTINCT host) AS n_hosts,
             CAST(sum(depth) AS BIGINT) AS sum_depth
      FROM norm WHERE domain <> 'sample.net'
      GROUP BY domain ORDER BY domain"""),
      build = (s, d) => {
      import s.implicits._
      val norm = graft.operators.Urls.normalize(
        graft.operators.Urls.synthesize(docsSpread(s, d)))
      graft.operators.Urls.domainStats(norm,
          Seq("sample.net").toDF("domain"))
        .orderBy("domain")
    }),

    // Per-label embedding centroids (mean pooling) in the long form —
    // (label, dim, mean): fixed-width rows with map-side partial sums,
    // arrays never cross an exchange.
    Q("q_embed_pool", oracleSql = """
      WITH u AS (
        SELECT label,
               unnest(range(len(embedding))) AS pos,
               unnest(CAST(embedding AS DOUBLE[])) AS v
        FROM embeddings)
      SELECT label, pos, round(avg(v), 6) AS mean
      FROM u GROUP BY label, pos ORDER BY label, pos""",
      build = (s, d) =>
      graft.operators.EmbedPool.meanPoolLong(
          t(s, d, "embeddings"), "label", "embedding")
        .withColumn("mean", round(col("mean"), 6))
        .orderBy("label", "pos")),

    // Triangle count over the same link graph — the clustering /
    // link-spam density signal. Degree-oriented two-join enumeration
    // (each wedge at its lowest-rank vertex, closure as a pure
    // equi-join); DuckDB counts the same triangles with the naive
    // a<b<c three-way join — counts must agree exactly.
    Q("q_triangles", oracleSql = """
      WITH nodes AS (SELECT doc_id AS id FROM documents),
      nn AS (SELECT count(*) AS n FROM nodes),
      edges AS (
        SELECT id AS src, (id * 17 + c.c) % nn.n AS dst
        FROM nodes CROSS JOIN nn
        CROSS JOIN (SELECT unnest([1, 2, 3]) AS c) c),
      und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst)
      SELECT count(*) AS n_triangles
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b""",
      build = (s, d) => withShufflePartitions(s, 8) {
      val edges = graft.operators.LinkGraph.syntheticLinks(
        t(s, d, "documents"), k = 3, mult = 17L)
      // localCheckpoint EXECUTES here, inside the conf scope — a lazy
      // plan would escape the wrapper and materialize later at the
      // session-default partition count, silently voiding the sizing
      graft.operators.LinkGraph.triangleCount(edges).localCheckpoint()
    }),

    // DSIR-style importance scoring (arXiv:2302.03169): rank the corpus
    // by unigram log-likelihood ratio against the English slice as the
    // target distribution; keep the 100 most target-like docs. The
    // explicit-vocabulary path replays in DuckDB (same tokenizer, same
    // add-1 smoothing); the hashed-bucket scale path is spec-checked
    // for rank agreement in DsirSpec.
    Q("q_dsir", oracleSql = """
      WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
          x -> x <> '')) AS term
        FROM documents),
      raw_cnt AS (SELECT term, count(*) AS cnt_raw FROM toks GROUP BY 1),
      tgt_cnt AS (
        SELECT term, count(*) AS cnt_target
        FROM toks JOIN documents USING (doc_id)
        WHERE lang = 'en' GROUP BY 1),
      j AS (
        SELECT r.term, r.cnt_raw, COALESCE(t.cnt_target, 0) AS cnt_target
        FROM raw_cnt r LEFT JOIN tgt_cnt t USING (term)),
      tot AS (SELECT sum(cnt_raw) AS nr, sum(cnt_target) AS nt,
                     count(*) AS v FROM j),
      w AS (
        SELECT term,
               ln((cnt_target + 1) / CAST(nt + v AS DOUBLE)) -
               ln((cnt_raw + 1) / CAST(nr + v AS DOUBLE)) AS w
        FROM j CROSS JOIN tot),
      scored AS (
        SELECT doc_id, count(*) AS n_tokens, sum(w.w) AS score
        FROM toks JOIN w USING (term) GROUP BY 1)
      SELECT doc_id, n_tokens, round(score, 6) AS score
      FROM scored
      ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 100""",
      build = (s, d) => {
      val docs = t(s, d, "documents")
      // target = subset of raw: one tokenize pass covers both count tables
      graft.operators.Dsir.scoreExactSubset(docs, col("lang") === "en")
        .withColumn("score", round(col("score"), 6))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(100)
    }),

    // The composed curation recipe — this round's new operators chained
    // as ONE Catalyst plan: per-domain frequency caps (≤40 docs per
    // source by length) feed DSIR importance scoring (weights learned on
    // the capped corpus vs its English slice), and the 100 most
    // target-like survivors ship with their provenance. Every stage's
    // decisions are integer- or rounded-decidable, so DuckDB replays the
    // whole funnel end-to-end.
    Q("q_curation_recipe", oracleSql = """
      WITH capped AS (
        SELECT doc_id, text, lang, source FROM (
          SELECT doc_id, text, lang, source,
                 row_number() OVER (PARTITION BY source
                   ORDER BY n_chars DESC, doc_id ASC) AS rn
          FROM documents) WHERE rn <= 40),
      toks AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
          x -> x <> '')) AS term
        FROM capped),
      raw_cnt AS (SELECT term, count(*) AS cnt_raw FROM toks GROUP BY 1),
      tgt_cnt AS (
        SELECT term, count(*) AS cnt_target
        FROM toks JOIN capped USING (doc_id)
        WHERE lang = 'en' GROUP BY 1),
      j AS (
        SELECT r.term, r.cnt_raw, COALESCE(t.cnt_target, 0) AS cnt_target
        FROM raw_cnt r LEFT JOIN tgt_cnt t USING (term)),
      tot AS (SELECT sum(cnt_raw) AS nr, sum(cnt_target) AS nt,
                     count(*) AS v FROM j),
      w AS (
        SELECT term,
               ln((cnt_target + 1) / CAST(nt + v AS DOUBLE)) -
               ln((cnt_raw + 1) / CAST(nr + v AS DOUBLE)) AS w
        FROM j CROSS JOIN tot),
      scored AS (
        SELECT doc_id, count(*) AS n_tokens, sum(w.w) AS score
        FROM toks JOIN w USING (term) GROUP BY 1)
      SELECT s.doc_id, c.source, s.n_tokens,
             round(s.score, 6) AS score
      FROM scored s JOIN capped c USING (doc_id)
      ORDER BY round(s.score, 6) DESC, s.doc_id ASC LIMIT 100""",
      build = (s, d) => {
      // persisted: the DSIR tokenize pass AND the provenance join both
      // re-evaluate the cap window otherwise
      val capped = graft.operators.Selection.capPerGroup(
          docsSpread(s, d), "source", Seq(col("n_chars").desc), "doc_id",
          n = 40)
        .drop("rank_in_group")
        .persist()
      // target = subset of raw: one tokenize pass covers both count tables
      graft.operators.Dsir.scoreExactSubset(capped, col("lang") === "en")
        .join(capped.select("doc_id", "source"), "doc_id")
        .withColumn("score", round(col("score"), 6))
        .orderBy(col("score").desc, col("doc_id").asc)
        .select("doc_id", "source", "n_tokens", "score")
        .limit(100)
    }),

    // Robust outlier gate (median/MAD, Iglewicz–Hoaglin z ≤ 3.5) — the
    // length-outlier curation step. Medians of integral n_chars interpolate
    // to exact halves, so every keep/drop decision replays bit-for-bit.
    Q("q_outlier_gate", oracleSql = """
      WITH med AS (
        SELECT lang, quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med
        FROM documents GROUP BY lang),
      dev AS (
        SELECT d.lang, CAST(d.n_chars AS DOUBLE) AS v, m.med
        FROM documents d JOIN med m USING (lang)),
      mad AS (
        SELECT lang, quantile_cont(abs(v - med), 0.5) AS mad
        FROM dev GROUP BY lang),
      z AS (
        SELECT dev.lang, v, dev.med, mad.mad,
               CASE WHEN mad.mad > 0 THEN abs(v - dev.med) / (mad.mad * 1.4826)
                    WHEN v = dev.med THEN 0
                    ELSE CAST('inf' AS DOUBLE) END AS rz
        FROM dev JOIN mad USING (lang))
      SELECT lang, count(*) AS n_rows,
             CAST(sum(CASE WHEN rz <= 3.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             round(max(med), 4) AS med, round(max(mad), 4) AS mad,
             round(min(CASE WHEN rz <= 3.5 THEN v END), 4) AS kept_lo,
             round(max(CASE WHEN rz <= 3.5 THEN v END), 4) AS kept_hi
      FROM z GROUP BY lang ORDER BY lang""",
      build = (s, d) =>
      graft.operators.Outliers.report(
          t(s, d, "documents"), "n_chars", "lang", k = 3.5)
        .orderBy("lang")),

    // Feature-hashing vectorizer under the EXACT oracle: the sparse
    // (doc_id, bucket, tf) face replays bit-for-bit — DuckDB tokenizes
    // with the corpus tokenizer and recomputes the portable 60-bit md5
    // bucket for every token. The dense Array[Float] face feeds the
    // ANN/PCA operators (spec-checked equivalent to this sparse form).
    Q("q_text_vectorize", oracleSql = """
      WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
          x -> x <> '')) AS term
        FROM documents),
      b AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5('tv:' || term), 1, 15))
                 AS BIGINT) % 64 AS bucket
        FROM toks)
      SELECT doc_id, bucket, count(*) AS tf
      FROM b GROUP BY 1, 2 ORDER BY doc_id, bucket""",
      build = (s, d) =>
      graft.operators.TextVectorizer.sparseHashedTf(
          t(s, d, "documents"), dim = 64)
        .orderBy("doc_id", "bucket")),

    // Distribution drift (PSI) between two corpus slices under the EXACT
    // oracle: integer-cent bucketing replays bit-for-bit; proportions,
    // smoothing and the ln term are the same IEEE expressions both sides.
    Q("q_drift", oracleSql = """
      WITH refs AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem WHERE l_orderkey % 2 = 0),
      curs AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem WHERE l_quantity > 25),
      rb AS (SELECT least(greatest(cents - 0, 0) // 500000, 19) AS bucket,
                    count(*) AS ref_n FROM refs GROUP BY 1),
      cb AS (SELECT least(greatest(cents - 0, 0) // 500000, 19) AS bucket,
                    count(*) AS cur_n FROM curs GROUP BY 1),
      spine AS (SELECT unnest(range(0, 20)) AS bucket),
      tot AS (SELECT (SELECT count(*) FROM refs) AS rt,
                     (SELECT count(*) FROM curs) AS ct),
      j AS (SELECT s.bucket, coalesce(ref_n, 0) AS ref_n,
                   coalesce(cur_n, 0) AS cur_n, rt, ct
            FROM spine s LEFT JOIN rb USING (bucket)
            LEFT JOIN cb USING (bucket) CROSS JOIN tot)
      SELECT bucket, ref_n, cur_n,
             round(((CAST(cur_n AS DOUBLE) + 0.5) /
                      (CAST(ct AS DOUBLE) + 10.0)
                  - (CAST(ref_n AS DOUBLE) + 0.5) /
                      (CAST(rt AS DOUBLE) + 10.0))
               * ln(((CAST(cur_n AS DOUBLE) + 0.5) /
                       (CAST(ct AS DOUBLE) + 10.0))
                  / ((CAST(ref_n AS DOUBLE) + 0.5) /
                       (CAST(rt AS DOUBLE) + 10.0))), 6) AS psi_term
      FROM j ORDER BY bucket""",
      build = (s, d) => {
      val li = t(s, d, "lineitem")
      def cents(df: org.apache.spark.sql.DataFrame) = df.select(
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      graft.operators.Drift.psiBuckets(
          cents(li.filter(col("l_orderkey") % 2 === 0)),
          cents(li.filter(col("l_quantity") > 25)),
          "cents", lo = 0L, width = 500000L, nBuckets = 20)
        .withColumn("psi_term", round(col("psi_term"), 6))
        .orderBy("bucket")
    }),

    // Model-based quality filtering under the EXACT oracle: a FROZEN
    // logistic model (dyadic weights/means/stds → exact standardization
    // literals) scores the corpus-standard quality features; DuckDB
    // recomputes the features (q_quality's formulas), the same
    // left-to-right margin and the sigmoid. Training itself is
    // spec-checked like BPE/k-means (QualityClassifierSpec).
    Q("q_quality_model", oracleSql = (qualityMarginOracleCtes("doc_id") + """
      SELECT doc_id, round(1.0 / (1.0 + exp(-margin)), 6) AS quality_prob,
             1.0 / (1.0 + exp(-margin)) >= 0.5 AS keep
      FROM m ORDER BY doc_id"""),
      build = (s, d) => {
      import graft.operators.QualityClassifier
      val m = frozenQualityModel
      val f = withQualityFeatures(t(s, d, "documents"), Seq("doc_id"))
      QualityClassifier.score(f, m)
        .select(col("doc_id"), col("quality_prob"),
          (col("quality_prob") >= 0.5).as("keep"))
        .withColumn("quality_prob", round(col("quality_prob"), 6))
        .orderBy("doc_id")
    }),

    // Threshold-sweep evaluation of the frozen quality classifier:
    // confusion counts + precision/recall per cutoff — the curve read
    // before picking a filter threshold. Thresholds cut the raw MARGIN
    // (IEEE +,-,*,/ only — bit-reproducible cross-engine) never the
    // sigmoid (libm exp is the 1-ulp hazard q_hll measured). One corpus
    // pass: rows fan out to #thresholds via a literal-array explode, the
    // exchange carries #thresholds×4 counters.
    Q("q_model_eval", oracleSql = (qualityMarginOracleCtes("doc_id") + """,
      lab AS (
        SELECT margin, (n_tok >= 64.0 AND sym <= 0.03125) AS label
        FROM m),
      c AS (
        SELECT t.threshold,
               CAST(sum(CASE WHEN label AND margin >= t.threshold
                             THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(sum(CASE WHEN NOT label AND margin >= t.threshold
                             THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(sum(CASE WHEN label AND margin < t.threshold
                             THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST(sum(CASE WHEN NOT label AND margin < t.threshold
                             THEN 1 ELSE 0 END) AS BIGINT) AS tn
        FROM lab CROSS JOIN (
          SELECT CAST(unnest([-1.0, -0.5, 0.0, 0.5, 1.0]) AS DOUBLE)
            AS threshold) t
        GROUP BY 1)
      SELECT threshold, tp, fp, fn, tn,
             CASE WHEN tp + fp > 0 THEN (tp * 1000000) // (tp + fp)
                  ELSE -1 END AS precision_ppm,
             CASE WHEN tp + fn > 0 THEN (tp * 1000000) // (tp + fn)
                  ELSE -1 END AS recall_ppm
      FROM c ORDER BY threshold"""),
      build = (s, d) => {
      import graft.operators.QualityClassifier
      val m = frozenQualityModel
      val f = withQualityFeatures(t(s, d, "documents"), Seq("doc_id"))
      // ground-truth proxy on dyadic constants — IEEE-exact both engines
      val scored = f
        .withColumn("margin", QualityClassifier.marginColumn(m))
        .withColumn("label",
          col("n_tokens_d") >= 64.0 && col("symbol_ratio") <= 0.03125)
      graft.operators.ModelEval.confusionSweep(scored, "label", "margin",
          Seq(-1.0, -0.5, 0.0, 0.5, 1.0))
        .orderBy("threshold")
    }),

    // Mixture planning: the pre-sampling arithmetic — each source's
    // natural token supply vs its integer weight share of a total
    // budget; epochs_ppm > 1e6 = up-sampling. Unlisted sources get
    // weight 0 and stay VISIBLE as target 0 rows. Metadata-priced
    // after one corpus aggregate.
    Q("q_mixture_plan", oracleSql = """
      WITH tc AS (
        SELECT source,
               CAST(sum(len(list_filter(string_split_regex(
                 regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                 '\s+'), x -> x <> ''))) AS BIGINT) AS natural_tokens
        FROM documents GROUP BY source),
      w AS (SELECT * FROM (VALUES ('src0', 5), ('src1', 3), ('src2', 1))
            v(source, weight)),
      j AS (
        SELECT tc.source, tc.natural_tokens,
               CAST(COALESCE(w.weight, 0) AS BIGINT) AS weight
        FROM tc LEFT JOIN w USING (source)),
      t AS (SELECT CAST(sum(weight) AS BIGINT) AS tw FROM j),
      p AS (
        SELECT j.source, j.natural_tokens, j.weight,
               CAST(CASE WHEN t.tw > 0
                    THEN j.weight * (500000 // t.tw) +
                         (j.weight * (500000 % t.tw)) // t.tw
                    ELSE 0 END AS BIGINT) AS target_tokens
        FROM j CROSS JOIN t)
      SELECT source, natural_tokens, weight, target_tokens,
             CAST(CASE WHEN natural_tokens = 0 THEN 0
                  WHEN target_tokens <= 9000000000000
                  THEN (target_tokens * 1000000) // natural_tokens
                  ELSE target_tokens //
                       greatest(natural_tokens // 1000000, 1)
                  END AS BIGINT) AS epochs_ppm
      FROM p ORDER BY source""",
      build = (s, d) => {
      import s.implicits._
      val tc = t(s, d, "documents")
        .select(col("source"),
          size(graft.functions.TextFunctions.tokens(
            graft.functions.TextFunctions.normalizeText(col("text"))))
            .cast("long").as("nt"))
        .groupBy("source").agg(sum("nt").as("n_tokens"))
      val weights = Seq(("src0", 5L), ("src1", 3L), ("src2", 1L))
        .toDF("source", "weight")
      graft.operators.MixturePlan.solve(tc, weights,
          budgetTokens = 500000L)
        .orderBy("source")
    }),

    // Dataset-card generation: the per-source release summary (docs,
    // tokens, duplication, length and quality profile) in ONE
    // aggregation pass — every column integer (ppm rates, ×100
    // floor-scaled means, IEEE margin decisions, md5 dup keys).
    Q("q_dataset_card", oracleSql = (qualityMarginOracleCtes("source") + """,
      base AS (
        SELECT source, CAST(n_tok AS BIGINT) AS nt, md5(text) AS fp,
               margin
        FROM m)
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS n_tokens,
             CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_dup_docs,
             CAST((sum(nt) * 100) // count(*) AS BIGINT)
               AS mean_tokens_x100,
             CAST((sum(CASE WHEN nt >= 64 THEN 1 ELSE 0 END) * 1000000)
               // count(*) AS BIGINT) AS long_doc_ppm,
             CAST((sum(CASE WHEN margin >= 0.0 THEN 1 ELSE 0 END)
               * 1000000) // count(*) AS BIGINT) AS quality_keep_ppm
      FROM base GROUP BY source ORDER BY source"""),
      build = (s, d) => {
      import graft.operators.QualityClassifier
      val withFeats = withQualityFeatures(t(s, d, "documents"),
        Seq("source", "text"))
      graft.operators.DatasetCard.perSource(withFeats,
          QualityClassifier.marginColumn(frozenQualityModel))
        .orderBy("source")
    }),

    // RAG context assembly in ONE plan (fourth flagship composition):
    // chunk → sparse INTEGER tf dot-product scoring (cosine's sqrt is
    // libm; norms add nothing to a fixed query's ranking) → per-query
    // token-budget cut under the Selection boundary rule. Query terms
    // broadcast; candidates have inverted-index sparsity via the
    // shared-term floor.
    Q("q_rag_context", oracleSql = """
      WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'),
                 x -> x <> '') AS tk
        FROM documents),
      chunks AS (
        SELECT doc_id,
               CAST(start_tok / 24 AS BIGINT) AS chunk_idx,
               CAST(len(tk[start_tok + 1 : start_tok + 32]) AS BIGINT)
                 AS n_tok,
               tk[start_tok + 1 : start_tok + 32] AS ctk
        FROM (SELECT doc_id, tk,
                     unnest(range(0, len(tk), 24)) AS start_tok
              FROM toks WHERE len(tk) > 0)),
      cterms AS (
        SELECT doc_id, chunk_idx, n_tok, term,
               CAST(count(*) AS BIGINT) AS tfc
        FROM (SELECT doc_id, chunk_idx, n_tok, unnest(ctk) AS term
              FROM chunks)
        GROUP BY 1, 2, 3, 4),
      q AS (SELECT * FROM (VALUES
              ('q1', 'sort merge join'),
              ('q2', 'table scan filter'),
              ('q3', 'stream window state')) v(query_id, qtext)),
      qterms AS (
        SELECT query_id, term, CAST(count(*) AS BIGINT) AS tfq
        FROM (SELECT query_id,
                     unnest(list_filter(string_split_regex(qtext, '\s+'),
                       x -> x <> '')) AS term
              FROM q)
        GROUP BY 1, 2),
      dots AS (
        SELECT query_id, doc_id, chunk_idx, n_tok,
               CAST(sum(c.tfc * t.tfq) AS BIGINT) AS dot
        FROM cterms c JOIN qterms t USING (term)
        GROUP BY 1, 2, 3, 4
        HAVING sum(c.tfc * t.tfq) >= 1),
      sel AS (
        SELECT query_id, doc_id, chunk_idx, n_tok, dot,
               CAST(COALESCE(sum(n_tok) OVER (PARTITION BY query_id
                 ORDER BY dot DESC, doc_id ASC, chunk_idx ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS cum_before
        FROM dots)
      SELECT query_id, doc_id, chunk_idx, n_tok, dot, cum_before
      FROM sel WHERE cum_before < 256
      ORDER BY query_id, cum_before, doc_id, chunk_idx""",
      build = (s, d) => {
      import s.implicits._
      val queries = Seq(
        ("q1", "sort merge join"),
        ("q2", "table scan filter"),
        ("q3", "stream window state")).toDF("query_id", "qtext")
      graft.operators.Rag.assembleContext(
          t(s, d, "documents"), queries,
          chunkSize = 32, overlap = 8, budgetTokens = 256L)
        .orderBy("query_id", "cum_before", "doc_id", "chunk_idx")
    }),

    // Cross-source score calibration: raw quality scores are not
    // comparable across sources, so a global cutoff silently keeps
    // whole sources and drops others. Rank-normalize within source
    // (integer pct_ppm from a declared total order), then keep each
    // source's top 40% — the same FRACTION of every source. One
    // source-partitioned window over (id, score) scalars + a broadcast
    // per-source count join; thresholds cut the IEEE-exact margin rank,
    // never a libm value.
    Q("q_calibrate", oracleSql = (qualityMarginOracleCtes("doc_id, source") + """,
      r AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                 ORDER BY margin DESC, doc_id ASC) AS rk,
               count(*) OVER (PARTITION BY source) AS n
        FROM m)
      SELECT doc_id, source,
             CASE WHEN n > 1 THEN ((rk - 1) * 1000000) // (n - 1)
                  ELSE 0 END AS pct_ppm
      FROM r
      WHERE (CASE WHEN n > 1 THEN ((rk - 1) * 1000000) // (n - 1)
                  ELSE 0 END) < 400000
      ORDER BY source, pct_ppm, doc_id"""),
      build = (s, d) => {
      import graft.operators.{Calibrate, QualityClassifier}
      val scored = withQualityFeatures(t(s, d, "documents"),
          Seq("doc_id", "source"))
        .withColumn("margin",
          QualityClassifier.marginColumn(frozenQualityModel))
        .select("doc_id", "source", "margin")
      Calibrate.keepTopPerSource(scored, "source", "doc_id", "margin",
          keepPpm = 400000L)
        .select(col("doc_id"), col("source"), col("pct_ppm"))
        .orderBy("source", "pct_ppm", "doc_id")
    }),

    // Collocation mining: top adjacent word pairs by CONFIDENCE
    // P(w2|w1) in exact ppm (PMI would need cross-engine ln or an
    // overflowing triple product). Bigrams form ARRAY-SIDE (slice +
    // zip_with in one projection — no posexplode/self-join); only
    // word-count-shaped exchanges, text never moves.
    Q("q_collocations", oracleSql = """
      WITH toks AS (
        SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS t
        FROM documents),
      uni AS (
        SELECT w, count(*) AS w1_n FROM (
          SELECT unnest(t) AS w FROM toks) GROUP BY 1),
      pairs AS (
        SELECT t[i + 1] AS w1, t[i + 2] AS w2
        FROM toks, UNNEST(range(len(t) - 1)) AS u(i)
        WHERE len(t) >= 2),
      bi AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_n
        FROM pairs GROUP BY 1, 2 HAVING count(*) >= 5)
      SELECT b.w1, b.w2, b.pair_n, CAST(u.w1_n AS BIGINT) AS w1_n,
             CAST((b.pair_n * 1000000) // u.w1_n AS BIGINT) AS conf_ppm
      FROM bi b JOIN uni u ON u.w = b.w1
      ORDER BY conf_ppm DESC, b.w1 ASC, b.w2 ASC LIMIT 20""",
      build = (s, d) =>
      graft.operators.Collocations.topByConfidence(
        docsSpread(s, d), minCount = 5L, k = 20)),

    // Count-series anomaly detection: hourly event-type buckets more
    // than 3σ from their type's mean, decided ENTIRELY in integer
    // arithmetic — (n·x − s)² > k²·(n·q − s²) — no sqrt, no doubles,
    // replays bit-for-bit. The moments join back as a broadcast
    // (one row per event type); the flag pass prices as metadata.
    Q("q_anomaly", oracleSql = anomalyOracleSql,
      build = (s, d) => {
      val series = t(s, d, "events")
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"))
      graft.operators.Anomaly.countSpikes(series, "event_type", "hour",
          "n", k = 3)
        .orderBy("event_type", "hour")
    }),

    // Length-bucketed batch assembly: similar-length docs batch
    // together so padding-to-longest stops burning slots. Bucket =
    // (len−1) div width; batches cut longest-first within bucket;
    // per-batch padding waste emitted as integer evidence. Window
    // partitions by BUCKET (parallelism = #buckets) over (id, len)
    // scalars only — text never shuffles.
    Q("q_length_batches", oracleSql = """
      WITH base AS (
        SELECT doc_id, CAST(len(list_filter(string_split_regex(text,
          '\s+'), x -> x <> '')) AS BIGINT) AS len
        FROM documents),
      b AS (SELECT doc_id, len, (len - 1) // 16 AS bucket
            FROM base WHERE len > 0),
      r AS (SELECT bucket, len,
              (row_number() OVER (PARTITION BY bucket
                 ORDER BY len DESC, doc_id ASC) - 1) // 8 AS batch_id
            FROM b)
      SELECT bucket, batch_id, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(max(len) AS BIGINT) AS max_len,
             CAST(sum(len) AS BIGINT) AS sum_len,
             CAST(count(*) * max(len) - sum(len) AS BIGINT) AS padding
      FROM r GROUP BY 1, 2 ORDER BY bucket, batch_id""",
      build = (s, d) =>
      graft.operators.Packing.lengthBucketedBatches(
          t(s, d, "documents"), bucketWidth = 16, batchSize = 8)
        .orderBy("bucket", "batch_id")),

    // Bucket-spine gap filling: the step a monitor runs BEFORE
    // statistics — a groupBy emits rows only for buckets that HAVE
    // events, so absence must become an explicit zero first. Every
    // event type gets the GLOBAL hourly spine (broadcast one-row bounds
    // exploded per group, one left join); everything metadata-priced.
    Q("q_gapfill", oracleSql = """
      WITH series AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      b AS (SELECT min(hour) AS lo, max(hour) AS hi FROM series),
      g AS (SELECT DISTINCT event_type FROM series),
      spine AS (
        SELECT g.event_type, CAST(u.h AS TIMESTAMP) AS hour
        FROM g CROSS JOIN b,
             UNNEST(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS u(h))
      SELECT s.event_type, s.hour, COALESCE(se.n, 0) AS n
      FROM spine s LEFT JOIN series se USING (event_type, hour)
      ORDER BY event_type, hour""",
      build = (s, d) => {
      val series = t(s, d, "events")
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"))
      graft.operators.GapFill.fillHourly(series, "event_type", "hour",
          "n")
        .orderBy("event_type", "hour")
    }),

    // Streaming trending terms: the corpus word count maintained as an
    // update-mode aggregate upserted exactly-once into a lake table
    // keyed by term — counts are additive and order-invariant, so the
    // stream's final state equals the batch word count bit-for-bit and
    // the top-20 replays under the exact oracle. (Vocabulary-sized
    // state is the documented cost; the sketch siblings — CMS, MG —
    // are the bounded-state alternatives.)
    Q("q_stream_trending", oracleSql = """
      SELECT term, CAST(n AS BIGINT) AS n FROM (
        SELECT term, count(*) AS n FROM (
          SELECT unnest(list_filter(string_split_regex(
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
            x -> x <> '')) AS term
          FROM documents)
        GROUP BY term)
      ORDER BY n DESC, term LIMIT 20""",
      build = (s, d) => withShufflePartitions(s, 4) {
      import graft.lake.{LakeLog, LakeTable}
      import graft.streaming.Streams
      val docs = t(s, d, "documents").select("doc_id", "text")
      val tmp = java.nio.file.Files.createTempDirectory("graftstream")
      val srcDir = tmp.resolve("src").toString
      docs.repartition(6, col("doc_id")).write.parquet(srcDir)
      val log = new LakeLog(tmp.resolve("lake"))
      val sinkDf = s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("term",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType))))
      LakeTable.createTable(log, "trending", sinkDf.schema)
      val agg = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "2").parquet(srcDir)
        .select(explode(graft.functions.TextFunctions.tokens(
          graft.functions.TextFunctions.normalizeText(col("text"))))
          .as("term"))
        .groupBy("term").agg(count(lit(1)).as("n"))
        .withColumn("k", col("term"))
        .select("k", "term", "n")
      val q = Streams.sinkAggToLake(agg, log, "trending", "k",
        tmp.resolve("ckpt").toString)
      q.processAllAvailable(); q.stop()
      LakeTable.read(s, log, "trending")
        .select("term", "n")
        .orderBy(col("n").desc, col("term").asc).limit(20)
    }),

    // The anomaly monitor on a CONTINUOUS ingest: the hourly count
    // series is maintained as a streaming update-mode aggregate
    // upserted exactly-once into a lake table (the q_stream_hourly
    // machinery), and the spike pass runs over the table's final
    // state. Stream state ≡ batch aggregate, so the flags replay
    // bit-for-bit against the same batch oracle as q_anomaly.
    Q("q_stream_anomaly", oracleSql = anomalyOracleSql,
      build = (s, d) => withShufflePartitions(s, 4) {
      import graft.lake.{LakeLog, LakeTable}
      import graft.streaming.Streams
      val ev = t(s, d, "events").select("ts", "event_id", "event_type")
      val tmp = java.nio.file.Files.createTempDirectory("graftstream")
      val srcDir = tmp.resolve("src").toString
      ev.repartition(6, col("event_id")).write.parquet(srcDir)
      val log = new LakeLog(tmp.resolve("lake"))
      val sinkDf = ev.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("hour",
            org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("event_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType))))
      LakeTable.createTable(log, "hourly_n", sinkDf.schema)
      val agg = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "2").parquet(srcDir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("k",
          concat(col("hour").cast("string"), lit("|"), col("event_type")))
        .select("k", "hour", "event_type", "n")
      val q = Streams.sinkAggToLake(agg, log, "hourly_n", "k",
        tmp.resolve("ckpt").toString)
      q.processAllAvailable(); q.stop()
      val series = LakeTable.read(s, log, "hourly_n")
        .select("event_type", "hour", "n")
      graft.operators.Anomaly.countSpikes(series, "event_type", "hour",
          "n", k = 3)
        .orderBy("event_type", "hour")
    }),

    // Right-to-be-forgotten across the lake: one subject key erased
    // from EVERY table carrying it — merge-on-read per table (erasure
    // requests must not each rewrite terabytes; the physical purge is
    // the compaction/VACUUM horizon), idempotent per (request, table)
    // via derived txn ids so a replayed half-done request never
    // double-deletes. In-query pins: rows actually deleted, replay is
    // a no-op, the key is gone from both tables.
    Q("q_lake_forget", oracleSql = """
      WITH surv AS (SELECT * FROM events WHERE user_id <> 7)
      SELECT * FROM (
        SELECT 'ev' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM surv
        UNION ALL
        SELECT 'prof' AS tbl,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM surv)
      ORDER BY tbl""",
      build = (s, d) => {
      import graft.lake.{Forget, LakeLog, LakeTable}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftforget"))
      val ev = t(s, d, "events").select("user_id", "event_type", "value")
      val prof = ev.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"))
      LakeTable.createTable(log, "ev", ev.schema)
      LakeTable.createTable(log, "prof", prof.schema)
      // different tables (per-table commit locks): fully independent loads
      LakeTable.inParallel(Seq(
        () => { LakeTable.insert(s, log, "ev", ev, numFiles = 4); () },
        () => { LakeTable.insert(s, log, "prof", prof, numFiles = 4); () }))
      val r1 = Forget.forgetKey(s, log, Seq("ev", "prof"), "user_id",
        "7", "req-1")
      assert(r1.find(_.table == "ev").get.rowsDeleted > 0)
      assert(r1.find(_.table == "prof").get.rowsDeleted == 1)
      // replay of the same request: idempotent no-op on every table
      val r2 = Forget.forgetKey(s, log, Seq("ev", "prof"), "user_id",
        "7", "req-1")
      assert(r2.forall(_.rowsDeleted == 0))
      val evAfter = LakeTable.read(s, log, "ev")
      val profAfter = LakeTable.read(s, log, "prof")
      assert(evAfter.filter(col("user_id") === 7).count() == 0)
      assert(profAfter.filter(col("user_id") === 7).count() == 0)
      val a = evAfter.agg(count(lit(1)).as("n_rows"),
          countDistinct("user_id").as("n_users"))
        .withColumn("tbl", lit("ev"))
      val b = profAfter.agg(count(lit(1)).as("n_rows"),
          countDistinct("user_id").as("n_users"))
        .withColumn("tbl", lit("prof"))
      a.unionByName(b).select("tbl", "n_rows", "n_users").orderBy("tbl")
    }),

    Q("q_profile", oracleSql = """
      WITH p AS (
        SELECT 'l_quantity' AS "column", count(*) AS n_rows,
               count(*) - count(l_quantity) AS n_nulls,
               round(min(l_quantity), 4) AS min_v,
               round(max(l_quantity), 4) AS max_v,
               round(avg(l_quantity), 6) AS mean_v,
               round(stddev_samp(l_quantity), 6) AS stddev_v,
               round(quantile_cont(l_quantity, 0.25), 4) AS p25,
               round(quantile_cont(l_quantity, 0.5), 4) AS p50,
               round(quantile_cont(l_quantity, 0.75), 4) AS p75
        FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', count(*), count(*) - count(l_extendedprice),
               round(min(l_extendedprice), 4), round(max(l_extendedprice), 4),
               round(avg(l_extendedprice), 6),
               round(stddev_samp(l_extendedprice), 6),
               round(quantile_cont(l_extendedprice, 0.25), 4),
               round(quantile_cont(l_extendedprice, 0.5), 4),
               round(quantile_cont(l_extendedprice, 0.75), 4)
        FROM lineitem
        UNION ALL
        SELECT 'l_discount', count(*), count(*) - count(l_discount),
               round(min(l_discount), 4), round(max(l_discount), 4),
               round(avg(l_discount), 6), round(stddev_samp(l_discount), 6),
               round(quantile_cont(l_discount, 0.25), 4),
               round(quantile_cont(l_discount, 0.5), 4),
               round(quantile_cont(l_discount, 0.75), 4)
        FROM lineitem
        UNION ALL
        SELECT 'l_tax', count(*), count(*) - count(l_tax),
               round(min(l_tax), 4), round(max(l_tax), 4),
               round(avg(l_tax), 6), round(stddev_samp(l_tax), 6),
               round(quantile_cont(l_tax, 0.25), 4),
               round(quantile_cont(l_tax, 0.5), 4),
               round(quantile_cont(l_tax, 0.75), 4)
        FROM lineitem)
      SELECT * FROM p ORDER BY "column" """,
      build = (s, d) =>
      graft.operators.Profile.numericProfile(
          t(s, d, "lineitem").select("l_quantity", "l_extendedprice",
            "l_discount", "l_tax"))
        .select(col("column"), col("nRows").as("n_rows"),
          col("nNulls").as("n_nulls"),
          round(col("min"), 4).as("min_v"), round(col("max"), 4).as("max_v"),
          round(col("mean"), 6).as("mean_v"),
          round(col("stddev"), 6).as("stddev_v"),
          round(col("p25"), 4).as("p25"), round(col("p50"), 4).as("p50"),
          round(col("p75"), 4).as("p75"))
        .orderBy("column")),

    // Equi-width histogram: the distribution profile behind outlier bounds
    // and mixture design. One metadata-priced min/max aggregate broadcast
    // back as a 1-row crossJoin, then bucket = integer `div` over CENTS —
    // every boundary decision is integer-exact, so DuckDB replays bucket
    // assignment bit-for-bit (a double divide could round a value across a
    // bucket edge differently per engine). Scan → broadcast → one groupBy
    // on ≤ 20 keys: the only full-data exchange carries bucket ids.
    Q("q_histogram", oracleSql = """
      WITH c AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem),
      mm AS (SELECT min(cents) AS lo, max(cents) AS hi FROM c)
      SELECT (cents - lo) * 20 // (hi - lo + 1) AS bucket,
             count(*) AS cnt, min(cents) AS min_cents,
             max(cents) AS max_cents
      FROM c, mm GROUP BY 1 ORDER BY bucket""",
      build = (s, d) =>
      t(s, d, "lineitem")
        .select(round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .crossJoin(broadcast(
          t(s, d, "lineitem")
            .select(round(col("l_extendedprice") * 100).cast("long")
              .as("cents"))
            .agg(min("cents").as("lo"), max("cents").as("hi"))))
        .withColumn("bucket",
          expr("(cents - lo) * 20 div (hi - lo + 1)"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"),
          min("cents").as("min_cents"), max("cents").as("max_cents"))
        .orderBy("bucket")),

    // Pairwise correlation / covariance — the feature-redundancy signal a
    // curation pipeline reads before dropping collinear quality scores.
    // ONE codegen'd partial+final aggregate pass computes every pair via
    // mergeable co-moments (no per-pair scans, no shuffle beyond one
    // partial-agg row per partition) — the same one-pass shape at 100 TB.
    Q("q_corr", oracleSql = """
      SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
             round(corr(l_quantity, l_discount), 6) AS corr_qty_disc,
             round(corr(l_extendedprice, l_tax), 6) AS corr_price_tax,
             round(covar_samp(l_quantity, l_extendedprice), 2)
               AS covar_qty_price,
             round(covar_samp(l_discount, l_tax), 8) AS covar_disc_tax
      FROM lineitem""",
      build = (s, d) =>
      t(s, d, "lineitem").agg(
        round(corr("l_quantity", "l_extendedprice"), 6).as("corr_qty_price"),
        round(corr("l_quantity", "l_discount"), 6).as("corr_qty_disc"),
        round(corr("l_extendedprice", "l_tax"), 6).as("corr_price_tax"),
        round(covar_samp("l_quantity", "l_extendedprice"), 2)
          .as("covar_qty_price"),
        round(covar_samp("l_discount", "l_tax"), 8).as("covar_disc_tax"))),

    // ---- grouping sets / rollup (extension) ------------------------------
    Q("q_rollup", oracleSql = """
      SELECT l_returnflag, l_linestatus, count(*) AS cnt,
             round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
      build = (s, d) =>
      t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),
  )
}
