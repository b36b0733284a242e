package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, EmbeddingPca, Similarity}
import graft.functions.TextFunctions._
import Fixtures._

/** LLM-data-pipeline embeddings: vector dedup, ANN indexes and search,
  * with the text tools that section grew (HTML/link extraction, BPE). */
object EmbeddingQueries {
  /** The SRP hyperplanes q_ann_srp uses, as DuckDB VALUES literals: the
    * generator is deterministic (xorshift seed 42) and data-independent,
    * so the oracle can carry the exact same doubles — Double.toString
    * round-trips, and DuckDB's decimal parse recovers the identical bits.
    */
  private lazy val srpPlaneLiterals: String =
    graft.functions.VectorFunctions.randomPlanes(8, 64).zipWithIndex
      .map { case (p, i) => s"($i, [${p.mkString(",")}]::DOUBLE[])" }
      .mkString(", ")

  /** Unrolled k-core peel over the synthetic link graph plus the planted
    * circulant block: `rounds` fixed rounds of "drop nodes with degree
    * < k", exactly the Spark loop's recurrence (rounds past convergence
    * are no-ops on both sides). Every chained CTE is MATERIALIZED —
    * DuckDB inlines single-reference CTEs by default, and u_{i-1}
    * appears three times per round, so the un-hinted plan re-expands the
    * whole chain exponentially (measured: 5 rounds un-hinted times out
    * where materialized runs in 30 ms). */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    val peel = (1 to rounds).map { i =>
      s""",
      d$i AS MATERIALIZED (SELECT v, count(*) AS d FROM (
          SELECT a AS v FROM u${i - 1}
          UNION ALL SELECT b AS v FROM u${i - 1}) GROUP BY 1),
      al$i AS MATERIALIZED (SELECT v FROM d$i WHERE d >= $k),
      u$i AS MATERIALIZED (SELECT u.a, u.b FROM u${i - 1} u
        JOIN al$i x ON u.a = x.v
        JOIN al$i y ON u.b = y.v)"""
    }.mkString
    s"""
      WITH nodes AS (SELECT doc_id AS id FROM documents),
      nn AS (SELECT count(*) AS n FROM nodes),
      base AS (
        SELECT id AS src, (id * 17 + c.c) % nn.n AS dst
        FROM nodes CROSS JOIN nn
        CROSS JOIN (SELECT unnest([1, 2, 3]) AS c) c),
      blk AS (
        SELECT id AS src, (id + 10 * c.c) % nn.n AS dst
        FROM nodes CROSS JOIN nn
        CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5]) AS c) c
        WHERE id % 10 = 0),
      u0 AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM (SELECT * FROM base UNION ALL SELECT * FROM blk)
        WHERE src <> dst)""" + peel + s"""
      SELECT id, core_deg FROM (
        SELECT v AS id, count(*) AS core_deg FROM (
          SELECT a AS v FROM u$rounds
          UNION ALL SELECT b AS v FROM u$rounds) GROUP BY 1)
      WHERE core_deg >= $k ORDER BY id"""
  }

  /** The q_bpe oracle's encoder: the frozen merge table applied in rank
    * order as nested left-to-right replace()s over boundary-wrapped
    * symbols ("~a~~b~" → "~ab~"; '~' never occurs in corpus tokens, and
    * the wrapping makes matches symbol-exact). Generated by a fold so the
    * SQL stays in lockstep with [[graft.operators.Bpe.frozenMerges]]. */
  private val bpeReplayExpr: String =
    graft.operators.Bpe.frozenMerges.foldLeft("wrapped") {
      case (e, (a, b)) => s"replace($e, '~$a~~$b~', '~$a$b~')"
    }

  val all: Seq[Q] = Seq(

    // ---- LLM-data-pipeline: embeddings -----------------------------------
    Q("q_embed_neardup", oracleSql = """
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6) AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])) >= 0.3
      ORDER BY a_id, b_id""",
      build = (s, d) =>
      // threshold 0.3: the synthetic embeddings' max pairwise cosine is ~0.48,
      // so 0.8 would select nothing — 0.3 exercises the operator for real.
      Dedup.embeddingNearDupPairs(t(s, d, "embeddings"), threshold = 0.3,
          exact = true)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("a_id", "b_id")),
    Q("q_dedup_semantic_fixed", oracleSql = """
      WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                 FROM embeddings WHERE vec_id < 4),
           s AS (SELECT e.vec_id, c.cid,
                        list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                               c.ce) AS sc
                 FROM embeddings e CROSS JOIN c),
           a AS (SELECT vec_id, cid FROM (
                   SELECT vec_id, cid,
                          row_number() OVER (PARTITION BY vec_id
                                             ORDER BY sc DESC, cid) AS rk
                   FROM s) t WHERE rk = 1)
      SELECT x.vec_id AS a_id, y.vec_id AS b_id,
             round(list_cosine_similarity(CAST(ex.embedding AS DOUBLE[]),
                                          CAST(ey.embedding AS DOUBLE[])), 6)
               AS cos
      FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id
      JOIN embeddings ex ON ex.vec_id = x.vec_id
      JOIN embeddings ey ON ey.vec_id = y.vec_id
      WHERE list_cosine_similarity(CAST(ex.embedding AS DOUBLE[]),
                                   CAST(ey.embedding AS DOUBLE[])) >= 0.3
      ORDER BY a_id, b_id""",
      build = (s, d) => {
      // semantic dedup against a frozen codebook: centroids = the first 4
      // corpus vectors (normalized), so assignment, within-cluster pairing
      // and exact rescoring are all deterministic SQL — the one semantic-
      // dedup path the DuckDB oracle can hash-match end-to-end.
      // the normalize kernel is a registered native function — and Datasets
      // analyze eagerly, so registration must precede this select
      graft.functions.VectorExpressions.register(s)
      val embs = t(s, d, "embeddings")
      val cents = embs.filter(col("vec_id") < 4)
        .select(col("vec_id").cast("int").as("centroid_id"),
          graft.functions.VectorFunctions.normalize(col("embedding"))
            .as("centroid"))
      Dedup.semanticDupPairsWithCentroids(embs, cents, threshold = 0.3)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("a_id", "b_id")
    }),
    Q("q_dedup_spans", oracleSql = """
      WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
                                   x -> x <> '') AS t
        FROM documents),
      sp AS (
        SELECT doc_id, i AS pos,
               array_to_string(t[(i*8+1):(i*8+8)], ' ') AS span
        FROM toks, UNNEST(range(CAST(ceil(len(t)/8.0) AS BIGINT))) AS u(i)),
      k AS (
        SELECT doc_id, pos FROM (
          SELECT doc_id, pos,
                 row_number() OVER (PARTITION BY span
                                    ORDER BY doc_id, pos) AS rk
          FROM sp) WHERE rk = 1)
      SELECT d.doc_id AS doc_id,
             coalesce(s.txt, '') AS text_spandedup,
             CAST(coalesce(s.n, 0) AS INT) AS n_spans_kept
      FROM documents d LEFT JOIN (
        SELECT sp.doc_id AS sdoc, string_agg(sp.span, ' ' ORDER BY sp.pos) AS txt,
               count(*) AS n
        FROM sp JOIN k USING (doc_id, pos) GROUP BY sp.doc_id) s
        ON d.doc_id = s.sdoc
      ORDER BY d.doc_id""",
      build = (s, d) =>
      // CCNet-style span dedup under the exact oracle: every 8-token span
      // that appeared earlier in (doc_id, pos) order drops; DuckDB
      // recomputes first occurrences with a rank window over the same
      // span construction.
      Dedup.dropDuplicateSpans(docsSpread(s, d), spanTokens = 8)
        .select("doc_id", "text_spandedup", "n_spans_kept")
        .orderBy("doc_id")),
    Q("q_dedup_substr", oracleSql = """
      WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
                                   x -> x <> '') AS t
        FROM documents),
      occ AS (
        SELECT doc_id, i AS pos, array_to_string(t[(i+1):(i+8)], ' ') AS w
        FROM toks, UNNEST(range(len(t) - 8 + 1)) AS u(i)
        WHERE len(t) >= 8),
      masked AS (
        SELECT doc_id, pos FROM (
          SELECT doc_id, pos,
                 row_number() OVER (PARTITION BY w
                                    ORDER BY doc_id, pos) AS rk
          FROM occ) WHERE rk > 1),
      cov AS (
        SELECT DISTINCT doc_id, pos + j AS p
        FROM masked, UNNEST(range(8)) AS v(j)),
      tokpos AS (
        SELECT doc_id, i AS p, t[i+1] AS tok
        FROM toks, UNNEST(range(len(t))) AS u(i))
      SELECT d.doc_id AS doc_id,
             coalesce(s.txt, '') AS text_substrdedup,
             CAST(coalesce(c.nrem, 0) AS INT) AS n_tokens_removed
      FROM documents d
      LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS txt
                 FROM tokpos ANTI JOIN cov USING (doc_id, p)
                 GROUP BY doc_id) s ON d.doc_id = s.doc_id
      LEFT JOIN (SELECT doc_id, count(*) AS nrem FROM cov
                 GROUP BY doc_id) c ON d.doc_id = c.doc_id
      ORDER BY d.doc_id""",
      build = (s, d) =>
      // ExactSubstr-style duplicate-substring masking (Lee et al. 2022)
      // under the exact oracle: every stride-1 8-token window keeps its
      // global first occurrence; tokens covered by later occurrences are
      // removed. DuckDB replays the same window rank + coverage union +
      // in-place token rebuild.
      Dedup.maskDuplicateSubstrings(docsSpread(s, d), shingleTokens = 8)
        .select("doc_id", "text_substrdedup", "n_tokens_removed")
        .orderBy("doc_id")),
    // HTML → text extraction (the WET-generation step): deterministic
    // boilerplate pages synthesized around each doc's text in BOTH
    // engines, then script/style/comment/tag strip + fixed-order entity
    // decode + whitespace collapse, with title and link-count structure
    // signals. Pure codegen projection — zero shuffles.
    Q("q_html_extract", oracleSql = """
      WITH h AS (
        SELECT doc_id,
          '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
          '</title><style>body { color: #333; }</style><script>var id=' ||
          CAST(doc_id AS VARCHAR) ||
          ';</script></head><body><nav><a href="/">home</a> | ' ||
          '<a href="/about">about</a></nav><!-- boilerplate --><h1>Doc ' ||
          CAST(doc_id AS VARCHAR) ||
          '</h1><p>Q&amp;A &lt;tag&gt; &quot;q&quot; it&#39;s ' ||
          'x&nbsp;y</p><p>' || text ||
          '</p><footer>&copy; example</footer></body></html>' AS html
        FROM documents)
      SELECT doc_id,
        regexp_extract(html, '(?is)<title>(.*?)</title>', 1) AS title,
        len(regexp_extract_all(html, '(?is)<a\s')) AS n_links,
        trim(regexp_replace(
          replace(replace(replace(replace(replace(replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(html,
                    '(?is)<script.*?</script>', ' ', 'g'),
                  '(?is)<style.*?</style>', ' ', 'g'),
                '(?s)<!--.*?-->', ' ', 'g'),
              '(?s)<[^>]+>', ' ', 'g'),
            '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
            '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
          '\s+', ' ', 'g')) AS text_clean
      FROM h ORDER BY doc_id""",
      build = (s, d) =>
      graft.operators.HtmlExtract.extract(
          graft.operators.HtmlExtract.synthesize(docsSpread(s, d)))
        .orderBy("doc_id")),

    // Crawl-graph construction from real markup: pages synthesized with
    // actual <a href="/doc/N"> links + robots noindex directives, edges
    // extracted by a pure regexp projection (zero shuffles) — the step
    // between WET generation and PageRank/BFS. DuckDB re-synthesizes
    // and re-parses the same bytes.
    Q("q_link_extract", oracleSql = """
      WITH nn AS (SELECT count(*) AS n FROM documents),
      pages AS (
        SELECT doc_id,
          '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
          '</title>' ||
          (CASE WHEN doc_id % 13 = 0
                THEN '<meta name="robots" content="noindex">'
                ELSE '' END) ||
          '</head><body><p>page body</p><a href="/doc/' ||
          CAST((doc_id * 7 + 1) % nn.n AS VARCHAR) ||
          '">next</a> <a href="/doc/' ||
          CAST((doc_id * 7 + 2) % nn.n AS VARCHAR) ||
          '">more</a></body></html>' AS html
        FROM documents CROSS JOIN nn)
      SELECT doc_id AS src,
             CAST(u.t AS BIGINT) AS dst,
             regexp_extract(html,
               '(?i)<meta name="robots" content="noindex">', 0) <> ''
               AS src_noindex
      FROM pages,
           UNNEST(regexp_extract_all(html, 'href="/doc/([0-9]+)"', 1))
             AS u(t)
      ORDER BY src, dst""",
      build = (s, d) =>
      graft.operators.HtmlExtract.extractLinks(
          graft.operators.HtmlExtract.synthesizeLinked(docsSpread(s, d)))
        .orderBy("src", "dst")),

    Q("q_text_normalize", oracleSql = """
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(
               nfc_normalize(text || '  cafe' || chr(769) || ' ' || chr(7)
                             || '  fin '),
               '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
               '\s+', ' ', 'g')) AS clean,
             length(trim(regexp_replace(regexp_replace(
               nfc_normalize(text || '  cafe' || chr(769) || ' ' || chr(7)
                             || '  fin '),
               '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
               '\s+', ' ', 'g'))) AS clean_len
      FROM documents ORDER BY doc_id""",
      build = (s, d) => {
      // Unicode cleaning under the exact oracle: a deterministic dirty
      // suffix (decomposed e + combining acute, a BEL control char, messy
      // whitespace) is appended in BOTH engines; cleanText must NFC-compose
      // it, strip the control char and collapse the runs to the same bytes
      // DuckDB's nfc_normalize + regexp chain produces.
      docsSpread(s, d)
        .select(col("doc_id"),
          cleanText(concat(col("text"),
            lit("  café \u0007  fin "))).as("clean"))
        .withColumn("clean_len", length(col("clean")))
        .orderBy("doc_id")
    }),
    // BPE greedy rank-encode, replayed exactly: each word becomes
    // boundary-wrapped symbols (~c~ per code point + ~</w>~), then the
    // frozen merge table applies IN RANK ORDER as a nested replace()
    // chain (replace is left-to-right non-overlapping — precisely the
    // paper's merge step; equivalence to greedy-by-rank is the learned-
    // table property BpeSpec pins). Distinct words encode once, then
    // join back to positions.
    Q("q_bpe", oracleSql = s"""
      WITH toks AS (
        SELECT doc_id, string_split_regex(text, '\\s+') AS ws
        FROM documents),
      w AS (
        SELECT doc_id, pos, ws[pos] AS word
        FROM toks, unnest(range(1, len(ws) + 1)) AS t(pos)
        WHERE ws[pos] <> ''),
      dw AS (SELECT DISTINCT word FROM w),
      wrapped_t AS (
        SELECT word,
               regexp_replace(word, '(.)', '~\\1~', 'g') || '~</w>~'
                 AS wrapped
        FROM dw),
      enc AS (
        SELECT word, string_split(trim($bpeReplayExpr, '~'), '~~') AS parts
        FROM wrapped_t)
      SELECT w.doc_id,
             CAST(sum(len(e.parts)) AS BIGINT) AS n_subwords,
             string_agg(array_to_string(e.parts, '|'), '|'
                        ORDER BY w.pos) AS subwords
      FROM w JOIN enc e ON w.word = e.word
      GROUP BY w.doc_id ORDER BY w.doc_id""",
      build = (s, d) => {
      // BPE encoding under the EXACT oracle via the frozen merge table
      // (production shape: tokenizer trained offline once — Bpe.train, the
      // real Sennrich loop, stays pinned by BpeSpec — then shipped and
      // applied everywhere). Greedy lowest-rank encoding equals in-rank-
      // order replay for learned tables (BpeSpec pins the equivalence), so
      // DuckDB replays the encoder as a 64-deep replace() chain over
      // boundary-wrapped symbols and recomputes every subword of every
      // doc. Encoding is a broadcast-ranks map over one projection — no
      // shuffle, no training pass at query time.
      val docs = docsSpread(s, d)
      graft.operators.Bpe.encode(docs, graft.operators.Bpe.frozenModel)
        .select(col("doc_id"),
          size(col("bpe_tokens")).cast("long").as("n_subwords"),
          array_join(col("bpe_tokens"), "|").as("subwords"))
        .orderBy("doc_id")
    }),
    // q_embed_pca: frozen Hadamard components h_i[j] = (−1)^popcount(r&j)/8
    // (r ∈ {1,2,3,5}); DuckDB re-learns the centering means and whitening
    // variances from the data and replays (x·h − μ)/√(var+1e-9) exactly.
    Q("q_embed_pca", oracleSql = """
      WITH hh AS (
        SELECT i, list_transform(range(0, 64), j ->
                 (CASE WHEN bit_count(r & j) % 2 = 0
                       THEN 1.0 ELSE -1.0 END) / 8) AS h
        FROM (VALUES (0, 1), (1, 2), (2, 3), (3, 5)) planes(i, r)),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      p AS (SELECT e.vec_id, hh.i, list_dot_product(e.v, hh.h) AS praw
            FROM e CROSS JOIN hh),
      st AS (SELECT i, avg(praw) AS mu,
                    avg(praw * praw) - avg(praw) * avg(praw) AS vr
             FROM p GROUP BY i)
      SELECT p.vec_id,
             round(max(CASE WHEN p.i = 0
               THEN (praw - mu) / sqrt(vr + 1e-9) END), 4) AS p0,
             round(max(CASE WHEN p.i = 1
               THEN (praw - mu) / sqrt(vr + 1e-9) END), 4) AS p1,
             round(max(CASE WHEN p.i = 2
               THEN (praw - mu) / sqrt(vr + 1e-9) END), 4) AS p2,
             round(max(CASE WHEN p.i = 3
               THEN (praw - mu) / sqrt(vr + 1e-9) END), 4) AS p3
      FROM p JOIN st USING (i) GROUP BY p.vec_id ORDER BY p.vec_id""",
      build = (s, d) => {
      // PCA projection + whitening under the EXACT oracle via frozen
      // components (the q_dedup_semantic_fixed trick): components are
      // Sylvester Hadamard rows (±1/8, both engines construct them
      // independently), while the centering mean and whitening variances
      // are LEARNED from the data — DuckDB recomputes every constant and
      // the full (x·c − mean·c)/√(var+eps) arithmetic. The eigensolver
      // itself stays pinned by EmbeddingPcaSpec (eigenpair exactness vs
      // direct covariance eigen, alignment, whitening variance,
      // determinism).
      val embs = t(s, d, "embeddings")
      val model = EmbeddingPca.frozenModel(embs, rowIdx = Seq(1, 2, 3, 5))
      EmbeddingPca.transform(embs, model, whiten = true)
        .select(col("vec_id") +:
          (0 until 4).map(i => round(col("pca")(i), 4).as(s"p$i")): _*)
        .orderBy("vec_id")
    }),
    // q_dedup_semantic: the fixed-point Lloyd fit replayed end-to-end —
    // quantize (floor(x·10⁶), bit-exact: float→double widening + one
    // rounded multiply), seed from the 4 smallest ids, two unrolled
    // rounds of integer-L2 argmin + exact integer floor-mean, then the
    // nProbe=2 soft assignment, within-cluster pairing and exact-cosine
    // rescore. Every clustering step is order-independent integer math,
    // which is what makes a learned-kmeans face cross-engine checkable.
    Q("q_dedup_semantic", oracleSql = """
      WITH e AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
               list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                 AS qv
        FROM embeddings),
      -- dim guard: the distance/floor-mean CTEs below hard-code range(64);
      -- if the embeddings generator's dimension ever drifts, this errors
      -- loudly instead of silently computing truncated distances (the
      -- final SELECT's WHERE forces its evaluation)
      chk AS (
        SELECT CASE WHEN count(*) = 0 OR
                         (min(len(qv)) = 64 AND max(len(qv)) = 64) THEN 1
               ELSE CAST(error('embedding dim <> 64: oracle range(64) ' ||
                               'CTEs would truncate') AS INT) END AS ok
        FROM e),
      c0 AS (
        SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS cid,
               qv AS qc
        FROM (SELECT id, qv FROM e ORDER BY id LIMIT 4)),
      d1 AS (
        SELECT e.id, c.cid,
               list_sum(list_transform(range(64),
                 i -> (e.qv[i+1] - c.qc[i+1]) * (e.qv[i+1] - c.qc[i+1])))
                 AS dist
        FROM e CROSS JOIN c0 c),
      a1 AS (SELECT id, cid FROM (
               SELECT id, cid, row_number() OVER (PARTITION BY id
                 ORDER BY dist, cid) AS rk FROM d1) WHERE rk = 1),
      u1 AS (
        SELECT a1.cid, r.i AS pos, sum(e.qv[r.i+1]) AS s, count(*) AS n
        FROM a1, e, UNNEST(range(64)) AS r(i)
        WHERE e.id = a1.id
        GROUP BY 1, 2),
      n1 AS (
        SELECT cid, list((s - ((s % n) + n) % n) // n ORDER BY pos) AS qc
        FROM u1 GROUP BY cid),
      c1 AS (
        SELECT c0.cid, COALESCE(n1.qc, c0.qc) AS qc
        FROM c0 LEFT JOIN n1 ON n1.cid = c0.cid),
      d2 AS (
        SELECT e.id, c.cid,
               list_sum(list_transform(range(64),
                 i -> (e.qv[i+1] - c.qc[i+1]) * (e.qv[i+1] - c.qc[i+1])))
                 AS dist
        FROM e CROSS JOIN c1 c),
      a2 AS (SELECT id, cid FROM (
               SELECT id, cid, row_number() OVER (PARTITION BY id
                 ORDER BY dist, cid) AS rk FROM d2) WHERE rk = 1),
      u2 AS (
        SELECT a2.cid, r.i AS pos, sum(e.qv[r.i+1]) AS s, count(*) AS n
        FROM a2, e, UNNEST(range(64)) AS r(i)
        WHERE e.id = a2.id
        GROUP BY 1, 2),
      n2 AS (
        SELECT cid, list((s - ((s % n) + n) % n) // n ORDER BY pos) AS qc
        FROM u2 GROUP BY cid),
      c2 AS (
        SELECT c1.cid, COALESCE(n2.qc, c1.qc) AS qc
        FROM c1 LEFT JOIN n2 ON n2.cid = c1.cid),
      df AS (
        SELECT e.id, c.cid,
               list_sum(list_transform(range(64),
                 i -> (e.qv[i+1] - c.qc[i+1]) * (e.qv[i+1] - c.qc[i+1])))
                 AS dist
        FROM e CROSS JOIN c2 c),
      af AS (SELECT id, cid FROM (
               SELECT id, cid, row_number() OVER (PARTITION BY id
                 ORDER BY dist, cid) AS rk FROM df) WHERE rk <= 2),
      p AS (
        SELECT x.id AS a_id, y.id AS b_id,
               list_cosine_similarity(ex.v, ey.v) AS cos
        FROM af x JOIN af y ON x.cid = y.cid AND x.id < y.id
        JOIN e ex ON ex.id = x.id
        JOIN e ey ON ey.id = y.id
        WHERE list_cosine_similarity(ex.v, ey.v) >= 0.3)
      SELECT a_id, b_id, round(max(cos), 6) AS cos
      FROM p CROSS JOIN chk WHERE chk.ok = 1
      GROUP BY a_id, b_id ORDER BY a_id, b_id""",
      build = (s, d) =>
      // SemDeDup with the FIT ITSELF under the exact oracle: fixed-point
      // integer Lloyd — quantized vectors, integer L2 argmin, exact
      // floor-mean centroid updates — is deterministic across
      // partitionings AND engines (float Lloyd is neither: a double
      // mean's value depends on partial-merge order), so assignment,
      // within-cluster pairing and the exact-cosine rescore all replay
      // in DuckDB with two unrolled Lloyd rounds. Rows-only through
      // round 10 for exactly that float-mean reason; the learned float
      // path stays exercised + recall-gated by q_dedup_semantic_recall.
      Dedup.semanticDupPairsFixedPoint(t(s, d, "embeddings"),
          threshold = 0.3, k = 4, kmeansIters = 2, nProbe = 2)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("a_id", "b_id")),
    // Hard-negative mining for contrastive training: per anchor, the k
    // closest corpus vectors with a DIFFERENT label (the most confusable
    // wrong answers). Label filter runs before the bounded top-k
    // aggregate, so the exchange stays anchors × k whatever the corpus.
    // hard negatives: brute cosine with the label-mismatch filter, same
    // arithmetic as q_ann_brute
    Q("q_mine_negatives", oracleSql = """
      WITH q AS (SELECT vec_id AS query_id, embedding AS qvec,
                        label AS qlabel
                 FROM embeddings WHERE vec_id < 10),
      scored AS (
        SELECT q.query_id, e.vec_id, e.label,
               list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(q.qvec AS DOUBLE[])) AS cos
        FROM embeddings e CROSS JOIN q WHERE e.label <> q.qlabel),
      ranked AS (
        SELECT query_id, vec_id, label, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, vec_id) AS rank
        FROM scored)
      SELECT query_id, vec_id, label, round(cos, 6) AS cos, rank
      FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
      build = (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
          col("label").as("qlabel"))
      Similarity.hardNegatives(emb, q, k = 5)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("query_id", "rank")
    }),
    Q("q_ann_brute", oracleSql = """
      WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                 FROM embeddings WHERE vec_id < 10),
      scored AS (
        SELECT q.query_id, e.vec_id,
               list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(q.qvec AS DOUBLE[])) AS cos
        FROM embeddings e CROSS JOIN q),
      ranked AS (
        SELECT query_id, vec_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, vec_id) AS rank
        FROM scored)
      SELECT query_id, vec_id, round(cos, 6) AS cos, rank
      FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
      build = (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(emb, q, k = 5)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("query_id", "rank")
    }),

    // Margin-based bitext mining (Artetxe & Schwenk ACL'19 — the
    // LASER/CCMatrix parallel-pair recipe): mutual-top-1 pairs scored
    // by cosine over the mean of each side's k-NN cosines, the margin
    // that cancels hubness. Planted translations = exact vector copies
    // under offset ids (synthesized in BOTH engines); decoys = a
    // disjoint embedding slice. Integer-quantized cosines rank and the
    // margin is pure integer arithmetic, so DuckDB replays both
    // directions' neighborhoods, the mutual join and every margin
    // exactly. Neighbor summaries are bounded graft_topk AGGREGATES —
    // no per-anchor window funnel even in this brute/oracle face.
    // Bitext mining replayed: both directions' integer-quantized
    // cosine neighborhoods, the mutual-top-1 join, and the integer
    // mean-of-means margin (CASE mirrors the engine's non-positive-
    // denominator guard).
    Q("q_bitext_mine", oracleSql = """
      WITH src AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings WHERE vec_id % 3 = 0),
      tgt AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id % 3 = 1
        UNION ALL
        SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
        FROM embeddings WHERE vec_id % 6 = 0),
      p AS MATERIALIZED (
        SELECT s.id AS src_id, t.id AS tgt_id,
               CAST(round(list_cosine_similarity(s.v, t.v) * 1000000)
                 AS BIGINT) AS cos_u
        FROM src s CROSS JOIN tgt t),
      sr AS MATERIALIZED (
        SELECT src_id, tgt_id, cos_u, row_number() OVER (
          PARTITION BY src_id ORDER BY cos_u DESC, tgt_id) AS rk FROM p),
      ss AS (SELECT src_id, CAST(sum(cos_u) AS BIGINT) AS sum_s,
                    CAST(count(*) AS BIGINT) AS n_s
             FROM sr WHERE rk <= 4 GROUP BY 1),
      sb AS (SELECT src_id, tgt_id, cos_u FROM sr WHERE rk = 1),
      tr AS MATERIALIZED (
        SELECT src_id, tgt_id, cos_u, row_number() OVER (
          PARTITION BY tgt_id ORDER BY cos_u DESC, src_id) AS rk FROM p),
      ts AS (SELECT tgt_id, CAST(sum(cos_u) AS BIGINT) AS sum_t,
                    CAST(count(*) AS BIGINT) AS n_t
             FROM tr WHERE rk <= 4 GROUP BY 1),
      tb AS (SELECT tgt_id, src_id AS best_s FROM tr WHERE rk = 1),
      mined AS (
        SELECT sb.src_id, sb.tgt_id, sb.cos_u,
               CASE WHEN ss.sum_s * ts.n_t + ts.sum_t * ss.n_s > 0
                 THEN CAST((2000000 * sb.cos_u * ss.n_s * ts.n_t) //
                   (ss.sum_s * ts.n_t + ts.sum_t * ss.n_s) AS BIGINT)
                 ELSE CAST(0 AS BIGINT) END AS margin_ppm
        FROM sb
        JOIN tb ON tb.tgt_id = sb.tgt_id AND tb.best_s = sb.src_id
        JOIN ss ON ss.src_id = sb.src_id
        JOIN ts ON ts.tgt_id = sb.tgt_id)
      SELECT src_id, tgt_id, cos_u, margin_ppm FROM mined
      WHERE margin_ppm >= 1050000
      ORDER BY src_id, tgt_id""",
      build = (s, d) => withShufflePartitions(s, 8) {
      val emb = t(s, d, "embeddings")
      val src = emb.filter(col("vec_id") % 3 === 0)
      val tgt = emb.filter(col("vec_id") % 3 === 1)
        .select(col("vec_id"), col("embedding"))
        .unionByName(emb.filter(col("vec_id") % 6 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            col("embedding")))
      graft.operators.Bitext.minePairs(src, tgt, k = 4,
          minMarginPpm = 1050000L)
        .orderBy("src_id", "tgt_id")
    }),
    // q_ann_srp: EXACT oracle via frozen hyperplanes — the planes are
    // deterministic seeded vectors (VectorFunctions.randomPlanes(8, 64,
    // seed 42)), inlined below as literals, so DuckDB recomputes the SRP
    // buckets (sign bits over dot products — normalization can't change a
    // sign), replays the 1-bit-flip multi-probe, and exact-rescores the
    // same candidate set.
    Q("q_ann_srp", oracleSql = s"""
      WITH planes(i, p) AS (VALUES $srpPlaneLiterals),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      b AS (
        SELECT e.vec_id,
               CAST(sum(CASE WHEN list_dot_product(e.v, pl.p) >= 0
                             THEN (1::BIGINT << pl.i) ELSE 0 END) AS BIGINT)
                 AS bucket
        FROM e CROSS JOIN planes pl GROUP BY e.vec_id),
      q AS (SELECT vec_id AS query_id, bucket AS qbucket
            FROM b WHERE vec_id < 10),
      probes AS (
        SELECT query_id,
               CASE WHEN g < 0 THEN qbucket
                    ELSE xor(qbucket, (1::BIGINT << g)) END AS bucket
        FROM q, UNNEST(range(-1, 8)) t(g)),
      cand AS (SELECT DISTINCT p.query_id, c.vec_id
               FROM probes p JOIN b c USING (bucket)),
      scored AS (
        SELECT cand.query_id, cand.vec_id,
               list_cosine_similarity(CAST(ce.embedding AS DOUBLE[]),
                                      CAST(qe.embedding AS DOUBLE[])) AS cos
        FROM cand JOIN embeddings ce ON ce.vec_id = cand.vec_id
                  JOIN embeddings qe ON qe.vec_id = cand.query_id),
      ranked AS (
        SELECT query_id, vec_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, vec_id) AS rank
        FROM scored)
      SELECT query_id, vec_id, round(cos, 6) AS cos, rank
      FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
      build = (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.srpTopK(emb, q, k = 5)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("query_id", "rank")
    }),
    // Retrieval-quality evaluation: recall@5 of the SRP-LSH index against
    // brute-force ground truth, per query — the in-engine metric a
    // pipeline watches after swapping exact search for an index. Both
    // inputs are already-reduced top-k sets, so every join here is
    // queries×k-sized; outputs are pure integers (hit counts, ranks,
    // floor percentages) — no float crosses the engine boundary.
    // q_ann_recall: replay BOTH retrieval sides (the q_ann_brute scan and
    // the q_ann_srp frozen-hyperplane index, verbatim CTE shapes), then
    // set-compare ids per query — every output is an integer, so nothing
    // float-sensitive crosses the engine boundary.
    Q("q_ann_recall", oracleSql = s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                 FROM embeddings WHERE vec_id < 10),
      bscored AS (
        SELECT q.query_id, e.vec_id,
               list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(q.qvec AS DOUBLE[])) AS cos
        FROM embeddings e CROSS JOIN q),
      brute AS (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, vec_id) AS rank
        FROM bscored QUALIFY rank <= 5),
      planes(i, p) AS (VALUES $srpPlaneLiterals),
      ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
      b AS (
        SELECT ev.vec_id,
               CAST(sum(CASE WHEN list_dot_product(ev.v, pl.p) >= 0
                             THEN (1::BIGINT << pl.i) ELSE 0 END) AS BIGINT)
                 AS bucket
        FROM ev CROSS JOIN planes pl GROUP BY ev.vec_id),
      qb AS (SELECT vec_id AS query_id, bucket AS qbucket
             FROM b WHERE vec_id < 10),
      probes AS (
        SELECT query_id,
               CASE WHEN g < 0 THEN qbucket
                    ELSE xor(qbucket, (1::BIGINT << g)) END AS bucket
        FROM qb, UNNEST(range(-1, 8)) t(g)),
      cand AS (SELECT DISTINCT p.query_id, c.vec_id
               FROM probes p JOIN b c USING (bucket)),
      ascored AS (
        SELECT cand.query_id, cand.vec_id,
               list_cosine_similarity(CAST(ce.embedding AS DOUBLE[]),
                                      CAST(qe.embedding AS DOUBLE[])) AS cos
        FROM cand JOIN embeddings ce ON ce.vec_id = cand.vec_id
                  JOIN embeddings qe ON qe.vec_id = cand.query_id),
      approx AS (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, vec_id) AS rank
        FROM ascored QUALIFY rank <= 5),
      hit AS (
        SELECT a.query_id, count(*) AS hits,
               min(a.rank) AS first_hit_rank
        FROM approx a JOIN brute USING (query_id, vec_id)
        GROUP BY 1)
      SELECT q.query_id,
             CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
             CAST(coalesce(h.hits, 0) * 100 // 5 AS BIGINT) AS recall_pct,
             CAST(coalesce(h.first_hit_rank, -1) AS BIGINT)
               AS first_hit_rank
      FROM q LEFT JOIN hit h ON h.query_id = q.query_id
      ORDER BY q.query_id""",
      build = (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      graft.operators.RankMetrics.topKOverlap(
          Similarity.bruteForceTopK(emb, q, k = 5),
          Similarity.srpTopK(emb, q, k = 5), k = 5)
        .orderBy("query_id")
    }),
    // MMR diversified retrieval under the EXACT oracle: DuckDB regenerates
    // the top-10 candidate sets, the pairwise candidate cosines, and
    // replays the greedy λ=0.5 selection unrolled three stages deep —
    // every argmax compares the identical IEEE doubles, ties break by id.
    // q_ann_mmr: replay candidate generation (brute top-10), pairwise
    // candidate sims, then the greedy MMR selection unrolled k=3 stages —
    // stage argmaxes ORDER BY the same 0.5*rel - 0.5*maxSim doubles Spark
    // compares, ties by vec_id
    Q("q_ann_mmr", oracleSql = """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
      q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
      cand AS (SELECT query_id, vec_id, rel FROM (
        SELECT q.query_id, e.vec_id,
               list_cosine_similarity(e.v, q.qv) AS rel,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY list_cosine_similarity(e.v, q.qv) DESC, e.vec_id)
                 AS rn
        FROM e CROSS JOIN q) WHERE rn <= 10),
      sims AS (SELECT a.query_id, a.vec_id AS a_id, b.vec_id AS b_id,
                      list_cosine_similarity(ea.v, eb.v) AS sim
               FROM cand a
               JOIN cand b ON a.query_id = b.query_id
                          AND a.vec_id < b.vec_id
               JOIN e ea ON ea.vec_id = a.vec_id
               JOIN e eb ON eb.vec_id = b.vec_id),
      s1 AS (SELECT query_id, vec_id, 0.5 * rel AS sc FROM (
        SELECT query_id, vec_id, rel, row_number() OVER (
          PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rn
        FROM cand) WHERE rn = 1),
      p2 AS (SELECT c.query_id, c.vec_id,
                    0.5 * c.rel - 0.5 * coalesce(s.sim, 0) AS sc
             FROM cand c
             JOIN s1 ON c.query_id = s1.query_id AND c.vec_id <> s1.vec_id
             LEFT JOIN sims s ON s.query_id = c.query_id
               AND ((s.a_id = c.vec_id AND s.b_id = s1.vec_id) OR
                    (s.a_id = s1.vec_id AND s.b_id = c.vec_id))),
      s2 AS (SELECT query_id, vec_id, sc FROM (
        SELECT query_id, vec_id, sc, row_number() OVER (
          PARTITION BY query_id ORDER BY sc DESC, vec_id) AS rn
        FROM p2) WHERE rn = 1),
      p3 AS (SELECT c.query_id, c.vec_id,
                    0.5 * c.rel - 0.5 * greatest(coalesce(x1.sim, 0),
                                                 coalesce(x2.sim, 0)) AS sc
             FROM cand c
             JOIN s1 ON c.query_id = s1.query_id AND c.vec_id <> s1.vec_id
             JOIN s2 ON c.query_id = s2.query_id AND c.vec_id <> s2.vec_id
             LEFT JOIN sims x1 ON x1.query_id = c.query_id
               AND ((x1.a_id = c.vec_id AND x1.b_id = s1.vec_id) OR
                    (x1.a_id = s1.vec_id AND x1.b_id = c.vec_id))
             LEFT JOIN sims x2 ON x2.query_id = c.query_id
               AND ((x2.a_id = c.vec_id AND x2.b_id = s2.vec_id) OR
                    (x2.a_id = s2.vec_id AND x2.b_id = c.vec_id))),
      s3 AS (SELECT query_id, vec_id, sc FROM (
        SELECT query_id, vec_id, sc, row_number() OVER (
          PARTITION BY query_id ORDER BY sc DESC, vec_id) AS rn
        FROM p3) WHERE rn = 1),
      sel AS (
        SELECT query_id, vec_id, 1 AS mmr_rank, sc FROM s1
        UNION ALL SELECT query_id, vec_id, 2, sc FROM s2
        UNION ALL SELECT query_id, vec_id, 3, sc FROM s3)
      SELECT query_id, vec_id, mmr_rank, round(sc, 6) AS mmr_score
      FROM sel ORDER BY query_id, mmr_rank""",
      build = (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      graft.operators.Mmr.diversifiedTopK(emb, q, n = 10, k = 3)
        .withColumn("mmr_score", round(col("mmr_score"), 6))
        .orderBy("query_id", "mmr_rank")
    }),
    // Plain IVF under the EXACT oracle via frozen Hadamard coarse
    // centroids (the q_ann_ivfpq trick, PQ-less): DuckDB replays coarse
    // assignment (ties → lower list id, the assignNearest rule), the
    // nProbe=2 probe set and the exact cosine rescoring + top-k. The
    // Spark side writes the real partition-pruned disk index and the
    // probe opens only the 2 probed list directories. The LEARNED
    // k-means coarse quantizer stays pinned by SimilaritySpec.
    // q_ann_ivfpq: frozen-everything IVF-PQ — Hadamard coarse centroids
    // (unit ±1/8 rows), coarse assignment ties → lower list id
    // (assignNearest), PQ encode ties → higher code id (array_max), probes
    // = top-2 lists per query, ADC only over candidates in probed lists.
    // Plain IVF, frozen Hadamard coarse centroids: assignment → probe →
    // exact cosine rescore → top-k, replayed end-to-end (the PQ-less
    // sibling of q_ann_ivfpq below; same hc/assign/probes CTE shapes).
    Q.split("q_ann_ivf", oracleSql = """
      WITH hc AS (
        SELECT g, list_transform(range(0, 64), j ->
          (CASE WHEN bit_count((g+1) & j) % 2 = 0
                THEN 1.0 ELSE -1.0 END) / 8.0) AS hv
        FROM range(0, 8) t(g)),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS raw
            FROM embeddings),
      n AS (SELECT vec_id,
              list_transform(raw, x -> x / sqrt(list_dot_product(raw, raw)))
                AS cv
            FROM e),
      assign AS (SELECT vec_id, g FROM (
          SELECT n.vec_id, hc.g, row_number() OVER (PARTITION BY n.vec_id
            ORDER BY list_dot_product(n.cv, hc.hv) DESC, hc.g ASC) AS rk
          FROM n CROSS JOIN hc) WHERE rk = 1),
      qn AS (SELECT vec_id AS query_id, cv AS qv FROM n WHERE vec_id < 10),
      probes AS (SELECT query_id, g FROM (
          SELECT qn.query_id, hc.g, row_number() OVER (
            PARTITION BY qn.query_id
            ORDER BY list_dot_product(qn.qv, hc.hv) DESC, hc.g ASC) AS rk
          FROM qn CROSS JOIN hc) WHERE rk <= 2),
      scored AS (SELECT p.query_id, a.vec_id,
                   list_dot_product(n.cv, qn.qv) AS cos
                 FROM probes p JOIN assign a USING (g)
                 JOIN n ON n.vec_id = a.vec_id
                 JOIN qn ON qn.query_id = p.query_id),
      ranked AS (SELECT query_id, vec_id, cos,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, vec_id) AS rank FROM scored)
      SELECT query_id, vec_id, round(cos, 6) AS cos, rank
      FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
      phases = (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val dir = java.nio.file.Files.createTempDirectory("graftivf").toString
      (() => Similarity.writeIvfIndex(emb, dir, nCentroids = 8,
         coarse = graft.operators.Pq.hadamardCentroids(64, 8)),
       () => Similarity.ivfTopKIndexed(s, dir, q, k = 5, nProbe = 2)
         .withColumn("cos", round(col("cos"), 6))
         .orderBy("query_id", "rank"))
    }),
    // Product quantization + ADC under the EXACT oracle: codebooks are
    // frozen closed-form dyadic constants (Pq.codebook scaladoc), so DuckDB
    // independently re-encodes every vector (argmax subspace dots, same tie
    // rule) and replays the LUT-sum scoring in the same subspace order —
    // the hash match covers compression AND asymmetric scoring end to end.
    // q_ann_pq: re-derive the frozen closed-form codebooks, re-encode every
    // vector (row_number over (d DESC, c DESC) = Spark's array_max struct
    // tie rule), rebuild each query's flattened LUT in (s, c) order and sum
    // lookups in s order — float-order-identical to the Spark aggregate.
    Q("q_ann_pq", oracleSql = """
      WITH cb AS (
        SELECT s, c, list_transform(range(0, 8), j ->
          (((5*s + 3*c + 7*j + c*j) % 16) - 7.5) / 64.0) AS v
        FROM range(0, 8) t1(s), range(0, 16) t2(c)),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS raw
            FROM embeddings),
      n AS (SELECT vec_id,
              list_transform(raw, x -> x / sqrt(list_dot_product(raw, raw)))
                AS cv
            FROM e),
      qn AS (SELECT vec_id AS query_id, cv AS qv FROM n WHERE vec_id < 10),
      sub AS (SELECT n.vec_id, cb.s, cb.c,
                list_dot_product(n.cv[cb.s*8+1 : cb.s*8+8], cb.v)
                  - list_dot_product(cb.v, cb.v) / 2.0 AS d
              FROM n CROSS JOIN cb),
      codes AS (
        SELECT vec_id, array_agg(c ORDER BY s) AS cs
        FROM (SELECT vec_id, s, c, row_number() OVER (
                PARTITION BY vec_id, s ORDER BY d DESC, c DESC) AS rk
              FROM sub) WHERE rk = 1 GROUP BY vec_id),
      lut AS (SELECT qn.query_id, array_agg(
                list_dot_product(qn.qv[cb.s*8+1 : cb.s*8+8], cb.v)
                ORDER BY cb.s, cb.c) AS lf
              FROM qn CROSS JOIN cb GROUP BY qn.query_id),
      adc AS (SELECT lut.query_id, codes.vec_id,
                list_sum(list_transform(range(0, 8), s ->
                  lf[s*16 + cs[s+1] + 1])) AS adc
              FROM codes CROSS JOIN lut),
      ranked AS (SELECT query_id, vec_id, adc,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY adc DESC, vec_id) AS rank FROM adc)
      SELECT query_id, vec_id, round(adc, 6) AS adc, rank
      FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
      build = (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      graft.operators.Pq.adcTopK(emb, q, k = 5)
        .withColumn("adc", round(col("adc"), 6))
        .orderBy("query_id", "rank")
    }),
    // Full IVF-PQ under the EXACT oracle: frozen Hadamard coarse centroids
    // + frozen PQ codebooks, so DuckDB replays coarse assignment (ties →
    // lower list id, the assignNearest rule), the nProbe=2 probe set, PQ
    // encoding AND ADC scoring — while the Spark side actually writes the
    // partition-pruned index to disk and reads back only probed lists.
    Q.split("q_ann_ivfpq", oracleSql = """
      WITH hc AS (
        SELECT g, list_transform(range(0, 64), j ->
          (CASE WHEN bit_count((g+1) & j) % 2 = 0
                THEN 1.0 ELSE -1.0 END) / 8.0) AS hv
        FROM range(0, 8) t(g)),
      cb AS (
        SELECT s, c, list_transform(range(0, 8), j ->
          (((5*s + 3*c + 7*j + c*j) % 16) - 7.5) / 64.0) AS v
        FROM range(0, 8) t1(s), range(0, 16) t2(c)),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS raw
            FROM embeddings),
      n AS (SELECT vec_id,
              list_transform(raw, x -> x / sqrt(list_dot_product(raw, raw)))
                AS cv
            FROM e),
      assign AS (SELECT vec_id, g FROM (
          SELECT n.vec_id, hc.g, row_number() OVER (PARTITION BY n.vec_id
            ORDER BY list_dot_product(n.cv, hc.hv) DESC, hc.g ASC) AS rk
          FROM n CROSS JOIN hc) WHERE rk = 1),
      sub AS (SELECT n.vec_id, cb.s, cb.c,
                list_dot_product(n.cv[cb.s*8+1 : cb.s*8+8], cb.v)
                  - list_dot_product(cb.v, cb.v) / 2.0 AS d
              FROM n CROSS JOIN cb),
      codes AS (
        SELECT vec_id, array_agg(c ORDER BY s) AS cs
        FROM (SELECT vec_id, s, c, row_number() OVER (
                PARTITION BY vec_id, s ORDER BY d DESC, c DESC) AS rk
              FROM sub) WHERE rk = 1 GROUP BY vec_id),
      qn AS (SELECT vec_id AS query_id, cv AS qv FROM n WHERE vec_id < 10),
      probes AS (SELECT query_id, g FROM (
          SELECT qn.query_id, hc.g, row_number() OVER (
            PARTITION BY qn.query_id
            ORDER BY list_dot_product(qn.qv, hc.hv) DESC, hc.g ASC) AS rk
          FROM qn CROSS JOIN hc) WHERE rk <= 2),
      lut AS (SELECT qn.query_id, array_agg(
                list_dot_product(qn.qv[cb.s*8+1 : cb.s*8+8], cb.v)
                ORDER BY cb.s, cb.c) AS lf
              FROM qn CROSS JOIN cb GROUP BY qn.query_id),
      cand AS (SELECT p.query_id, a.vec_id
               FROM probes p JOIN assign a USING (g)),
      adc AS (SELECT cand.query_id, cand.vec_id,
                list_sum(list_transform(range(0, 8), s ->
                  lf[s*16 + cs[s+1] + 1])) AS adc
              FROM cand JOIN codes USING (vec_id) JOIN lut USING (query_id)),
      ranked AS (SELECT query_id, vec_id, adc,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY adc DESC, vec_id) AS rank FROM adc)
      SELECT query_id, vec_id, round(adc, 6) AS adc, rank
      FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
      phases = (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val dir = java.nio.file.Files.createTempDirectory("graftivfpq").toString
      (() => graft.operators.Pq.writeIvfPqIndex(emb, dir, nLists = 8,
         coarse = graft.operators.Pq.hadamardCentroids(64, 8)),
       () => graft.operators.Pq.ivfPqTopK(s, dir, q, k = 5, nProbe = 2)
         .withColumn("adc", round(col("adc"), 6))
         .orderBy("query_id", "rank"))
    }),

    // k-core decomposition — the dense-subgraph extractor (link farms,
    // tight crawl communities). The fixture plants a degree-10 circulant
    // block inside the base link graph; peeling at k=6 cascades 4 rounds
    // (452 → 336 → 128 → 50 survivors) before converging on the planted
    // block. Fixed 6-round peel (rounds past convergence are no-ops) so
    // DuckDB unrolls the exact same peeling in materialized CTEs; output
    // = surviving nodes with their in-core degree.
    Q("q_kcore", oracleSql = kCoreOracleSql(6, 6),
      build = (s, d) => withShufflePartitions(s, 8) {
      val docs = t(s, d, "documents")
      val edges = graft.operators.LinkGraph.syntheticLinks(
          docs, k = 3, mult = 17L)
        .unionAll(graft.operators.LinkGraph.syntheticHubLinks(
          docs, every = 10, k = 5))
      graft.operators.LinkGraph.kCore(edges, k = 6, rounds = 6)
        .orderBy("id")
    }),

    // BM25 ranked retrieval over the inverted-index postings with the
    // document length denormalized per posting (impact-index layout: no
    // corpus-sized doc-length join at query time). DuckDB replays
    // tokenize → tf/dl → df → the full Lucene-idf BM25 arithmetic;
    // ranking ties break on the ROUNDED score then doc_id, so the order
    // is engine-independent.
    Q("q_search_bm25", oracleSql = """
      WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
          x -> x <> '')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      st AS (SELECT count(*) AS n_docs,
                    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      df_ AS (SELECT term, count(*) AS df FROM tf
              WHERE term IN ('spark', 'window', 'hash') GROUP BY 1),
      sc AS (SELECT t.doc_id,
               ln(1.0 + (st.n_docs - df_.df + 0.5) / (df_.df + 0.5)) *
                 (t.tf * (1.2 + 1)) /
                 (t.tf + 1.2 * ((1 - 0.75) + 0.75 * dl.dl / st.avgdl)) AS s
             FROM tf t
             JOIN df_ ON df_.term = t.term
             JOIN dl ON dl.doc_id = t.doc_id
             CROSS JOIN st)
      SELECT doc_id, round(sum(s), 6) AS score
      FROM sc GROUP BY 1
      ORDER BY score DESC, doc_id ASC LIMIT 20""",
      build = (s, d) => {
      import graft.operators.InvertedIndex
      // one corpus-tokenize pass: posts feeds BOTH the stats aggregate
      // and the scoring join — unpersisted, each reference re-runs the
      // tokenize+explode subtree (same rationale as q_search_eval's
      // filtered cache; cleared per query by Verify/Bench)
      val posts = InvertedIndex.postingsWithLen(t(s, d, "documents"))
        .persist()
      val stats = InvertedIndex.bm25Stats(posts)
      InvertedIndex.bm25Search(posts, stats, Seq("spark", "window", "hash"))
        .withColumn("score", round(col("score"), 6))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(20)
    }),
    // Ranking-metric evaluation (nDCG@10 / MRR / P@10, integer faces —
    // SearchEval scaladoc) over a retrieval run: results = tf-ranking on
    // each query's FIRST term only (deliberately weaker than the graded
    // truth, so the metrics are non-trivial), qrels = graded 1..3 by how
    // many of the query's terms the document contains. The discount
    // weight table is driver-computed once and interpolated verbatim
    // into the oracle — no engine-side logs, no float sums. The judged
    // and ranked sets are both tiny (≤ k rows/query; judgment lists stay
    // thousands of rows at any corpus size), broadcast onto the postings.
    // Integer ranking metrics replayed exactly: same tokenizer CTE, the
    // tf-ranking with (tf DESC, doc_id ASC) ties, graded qrels, and the
    // SAME driver-computed discount weight table interpolated as VALUES —
    // 10⁹-scaled nDCG and 10⁶-scaled MRR/P@k in pure integer division,
    // so no float sum order or libm log can desync the engines
    Q("q_search_eval", oracleSql = {
      val wVals = graft.operators.SearchEval.discountWeightsU(10)
        .zipWithIndex.map { case (wu, i) => s"(${i + 1}, $wu)" }
        .mkString(", ")
      val L = graft.operators.SearchEval.lcmTo(10) // 2520
      raw"""
      WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
          x -> x <> '')) AS term
        FROM documents),
      q(query_id, term, pos) AS (VALUES
        (0, 'spark', 0), (0, 'window', 1), (0, 'hash', 2),
        (1, 'join', 0), (1, 'sort', 1), (1, 'merge', 2)),
      w(r, wu) AS (VALUES $wVals),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      qrels AS (
        SELECT q.query_id, t.doc_id,
               CAST(count(DISTINCT q.term) AS BIGINT) AS rel
        FROM q JOIN tf t ON t.term = q.term GROUP BY 1, 2),
      res AS (SELECT query_id, doc_id, rank FROM (
        SELECT q.query_id, t.doc_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY t.tf DESC, t.doc_id ASC) AS rank
        FROM q JOIN tf t ON t.term = q.term WHERE q.pos = 0)
        WHERE rank <= 10),
      r2 AS (
        SELECT r.query_id, r.rank, COALESCE(qr.rel, 0) AS rel,
               sum(CASE WHEN COALESCE(qr.rel, 0) > 0 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY r.query_id ORDER BY r.rank)
                 AS cumhits
        FROM res r
        LEFT JOIN qrels qr ON qr.query_id = r.query_id
                          AND qr.doc_id = r.doc_id),
      got AS (
        SELECT r2.query_id,
               sum(r2.rel * w.wu) AS dcg_u,
               min(CASE WHEN r2.rel > 0 THEN r2.rank END) AS first_rel,
               sum(CASE WHEN r2.rel > 0 THEN 1 ELSE 0 END) AS hits,
               sum(CASE WHEN r2.rel > 0
                   THEN r2.cumhits * ($L // r2.rank) ELSE 0 END) AS ap_num
        FROM r2 JOIN w ON w.r = r2.rank
        GROUP BY 1),
      ideal AS (
        SELECT query_id,
               sum(CASE WHEN rn <= 10 THEN rel * wu ELSE 0 END) AS idcg_u,
               count(*) AS r_total
        FROM (SELECT query_id, rel, row_number() OVER (
                PARTITION BY query_id ORDER BY rel DESC, doc_id ASC) AS rn
              FROM qrels WHERE rel > 0) i
        LEFT JOIN w ON w.r = i.rn
        GROUP BY 1)
      SELECT CAST(g.query_id AS BIGINT) AS query_id,
             CAST(CASE WHEN COALESCE(i.idcg_u, 0) > 0
                  THEN (1000000000 * g.dcg_u) // i.idcg_u
                  ELSE 0 END AS BIGINT) AS ndcg_u,
             CAST(COALESCE(1000000 // g.first_rel, 0) AS BIGINT) AS mrr_u,
             CAST(g.hits * 1000000 // 10 AS BIGINT) AS p_at_k_u,
             CAST(CASE WHEN COALESCE(i.r_total, 0) > 0
                  THEN (1000000 * g.ap_num) // ($L * LEAST(i.r_total, 10))
                  ELSE 0 END AS BIGINT) AS ap_u
      FROM got g LEFT JOIN ideal i ON i.query_id = g.query_id
      ORDER BY query_id"""
    },
      build = (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import graft.operators.{InvertedIndex, SearchEval}
      val posts = InvertedIndex.postingsWithLen(t(s, d, "documents"))
      val q = Seq((0L, "spark", 0), (0L, "window", 1), (0L, "hash", 2),
        (1L, "join", 0), (1L, "sort", 1), (1L, "merge", 2))
        .toDF("query_id", "term", "pos")
      // one corpus-tokenize pass: the broadcast term join prunes the
      // postings map-side to ≤ |terms| × docs-containing rows, and the
      // tiny filtered result is persisted so the ranked-run and qrels
      // branches don't re-tokenize the corpus each (tiny cache, cleared
      // per query by Verify/Bench)
      val filtered = posts.join(broadcast(q), Seq("term"))
        .select("query_id", "pos", "term", "doc_id", "tf").persist()
      val res = filtered.filter(col("pos") === 0)
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(col("tf").desc, col("doc_id").asc)))
        .filter(col("rank") <= 10)
        .select("query_id", "doc_id", "rank")
      val qrels = filtered.groupBy("query_id", "doc_id")
        .agg(countDistinct("term").as("rel"))
      SearchEval.rankingMetrics(res, qrels, k = 10).orderBy("query_id")
    }),

    // Inter-annotator agreement (Cohen's kappa, exact integer ppm —
    // Agreement scaladoc): two deterministic 3-class "annotators" over
    // the corpus (char-length terciles vs whitespace-count terciles —
    // correlated but not identical, so kappa is non-trivially between
    // chance and perfect), per-source. Every exchange after the first
    // aggregate is O(sources × classes).
    // Cohen's kappa replayed in the exact integer form: the same label
    // CASEs, the marginal-product S, and the sign-safe floor idiom
    // (num − (((num % den) + den) % den)) // den — floor under the
    // truncating % BOTH engines share, so negative kappas can't desync
    Q("q_annotator_kappa", oracleSql = """
      WITH lab AS (
        SELECT source,
               CASE WHEN n_chars < 216 THEN 0
                    WHEN n_chars < 373 THEN 1 ELSE 2 END AS a,
               CASE WHEN length(text) - length(replace(text, ' ', ''))
                         < 38 THEN 0
                    WHEN length(text) - length(replace(text, ' ', ''))
                         < 67 THEN 1
                    ELSE 2 END AS b
        FROM documents),
      agg AS (SELECT source, count(*) AS n,
                     sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree
              FROM lab GROUP BY 1),
      ma AS (SELECT source, a AS cls, count(*) AS na FROM lab
             GROUP BY 1, 2),
      mb AS (SELECT source, b AS cls, count(*) AS nb FROM lab
             GROUP BY 1, 2),
      s AS (SELECT ma.source, sum(ma.na * mb.nb) AS s
            FROM ma JOIN mb ON mb.source = ma.source
                           AND mb.cls = ma.cls
            GROUP BY 1),
      k AS (SELECT agg.source, agg.n, agg.agree,
                   1000000 * (agg.n * agg.agree - COALESCE(s.s, 0))
                     AS num,
                   agg.n * agg.n - COALESCE(s.s, 0) AS den
            FROM agg LEFT JOIN s ON s.source = agg.source)
      SELECT source, CAST(n AS BIGINT) AS n,
             CAST(agree AS BIGINT) AS agree,
             CAST(CASE WHEN den = 0
                  THEN CASE WHEN agree = n THEN 1000000 ELSE 0 END
                  ELSE (num - (((num % den) + den) % den)) // den
                  END AS BIGINT) AS kappa_ppm
      FROM k ORDER BY source""",
      build = (s, d) => {
      import graft.operators.Agreement
      val lab = t(s, d, "documents").select(col("source"),
        when(col("n_chars") < 216, 0L).when(col("n_chars") < 373, 1L)
          .otherwise(2L).as("a"),
        when(expr("length(text) - length(replace(text, ' ', ''))") < 38,
          0L)
          .when(expr("length(text) - length(replace(text, ' ', ''))")
            < 67, 1L)
          .otherwise(2L).as("b"))
      Agreement.cohenKappaBy(lab, "source", "a", "b").orderBy("source")
    }),

    // The PRODUCTION BM25 path under the same exact oracle: the impact
    // index and its (n_docs, avgdl) row are PERSISTED lake tables built
    // once; the query reads bloom-pruned postings + the one stats row and
    // never touches the corpus (plan pinned corpus-free in
    // InvertedIndexSpec; Bench splits build from probe).
    // identical arithmetic: the persisted stats/postings hold the same
    // values the in-plan branch computes, so one oracle serves both faces
    Q.split("q_search_bm25_indexed", oracleSql = """
      WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
          x -> x <> '')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      st AS (SELECT count(*) AS n_docs,
                    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      df_ AS (SELECT term, count(*) AS df FROM tf
              WHERE term IN ('spark', 'window', 'hash') GROUP BY 1),
      sc AS (SELECT t.doc_id,
               ln(1.0 + (st.n_docs - df_.df + 0.5) / (df_.df + 0.5)) *
                 (t.tf * (1.2 + 1)) /
                 (t.tf + 1.2 * ((1 - 0.75) + 0.75 * dl.dl / st.avgdl)) AS s
             FROM tf t
             JOIN df_ ON df_.term = t.term
             JOIN dl ON dl.doc_id = t.doc_id
             CROSS JOIN st)
      SELECT doc_id, round(sum(s), 6) AS score
      FROM sc GROUP BY 1
      ORDER BY score DESC, doc_id ASC LIMIT 20""",
      phases = (s, d) => {
      import graft.lake.LakeLog
      import graft.operators.InvertedIndex
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftbm"))
      (() => InvertedIndex.buildBm25Index(s, log, "bm",
         t(s, d, "documents"), numFiles = 8),
       () => InvertedIndex.bm25SearchIndex(s, log, "bm",
           Seq("spark", "window", "hash"))
         .withColumn("score", round(col("score"), 6))
         .orderBy(col("score").desc, col("doc_id").asc)
         .limit(20))
    }),

    // Count-min sketch frequency estimation: the fixed-grid sketch whose
    // shuffle is ≤ depth×width cells REGARDLESS of vocabulary size (the
    // Hybrid retrieval with reciprocal-rank fusion (Cormack SIGIR'09):
    // the RAG stack's standard two-arm retrieval — BM25 lexical + dense
    // cosine over the same corpus, fused by Σ 10⁹ div (60 + rank) so
    // neither score scale needs calibration. Each arm ranks on its
    // round-6 score (the cross-engine-stable face) with min-id ties;
    // fusion is a (query, id) full-outer join over ≤ 2·topN rows per
    // query. Production swap for the dense arm is the IVF probe feeding
    // the same rankArm contract.
    // Hybrid RRF replayed exactly: the BM25 CTEs per query term-set,
    // the dense cosine arm, round-6-then-rank with min-id ties in both
    // arms, integer reciprocal-rank contributions over the full-outer
    // fused set.
    Q("q_search_hybrid", oracleSql = """
      WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
          x -> x <> '')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      st AS (SELECT count(*) AS n_docs,
                    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      qt AS (SELECT * FROM (VALUES
               (0, 'spark'), (0, 'window'), (0, 'hash'),
               (1, 'join'), (1, 'sort'), (1, 'merge')) v(qid, term)),
      df_ AS (SELECT term, count(*) AS df FROM tf
              WHERE term IN ('spark', 'window', 'hash',
                             'join', 'sort', 'merge') GROUP BY 1),
      sc AS (SELECT q.qid, t.doc_id,
               ln(1.0 + (st.n_docs - df_.df + 0.5) / (df_.df + 0.5)) *
                 (t.tf * (1.2 + 1)) /
                 (t.tf + 1.2 * ((1 - 0.75) + 0.75 * dl.dl / st.avgdl)) AS s
             FROM tf t
             JOIN qt q ON q.term = t.term
             JOIN df_ ON df_.term = t.term
             JOIN dl ON dl.doc_id = t.doc_id
             CROSS JOIN st),
      lexsc AS (SELECT qid, doc_id, round(sum(s), 6) AS rs
                FROM sc GROUP BY 1, 2),
      lex AS (SELECT qid, id, lex_rank FROM (
                SELECT CAST(qid AS INTEGER) AS qid, doc_id AS id,
                       CAST(row_number() OVER (PARTITION BY qid
                         ORDER BY rs DESC, doc_id) AS BIGINT) AS lex_rank
                FROM lexsc) t WHERE lex_rank <= 50),
      qv AS (SELECT CAST(vec_id AS INTEGER) AS qid, embedding
             FROM embeddings WHERE vec_id < 2),
      semsc AS (SELECT q.qid, e.vec_id AS id,
                  round(list_cosine_similarity(
                    CAST(e.embedding AS DOUBLE[]),
                    CAST(q.embedding AS DOUBLE[])), 6) AS rs
                FROM embeddings e CROSS JOIN qv q),
      sem AS (SELECT qid, id, sem_rank FROM (
                SELECT qid, id,
                       CAST(row_number() OVER (PARTITION BY qid
                         ORDER BY rs DESC, id) AS BIGINT) AS sem_rank
                FROM semsc) t WHERE sem_rank <= 50)
      SELECT COALESCE(l.qid, s.qid) AS query_id,
             COALESCE(l.id, s.id) AS id,
             COALESCE(l.lex_rank, 0) AS lex_rank,
             COALESCE(s.sem_rank, 0) AS sem_rank,
             COALESCE(1000000000 // (60 + l.lex_rank), 0) +
               COALESCE(1000000000 // (60 + s.sem_rank), 0) AS rrf
      FROM lex l FULL OUTER JOIN sem s ON s.qid = l.qid AND s.id = l.id
      ORDER BY query_id, rrf DESC, id""",
      build = (s, d) => withShufflePartitions(s, 8) {
      import graft.operators.{HybridSearch, InvertedIndex}
      // one corpus-tokenize pass: posts is referenced by the stats
      // aggregate AND once per lexical query (union arm) — unpersisted
      // that is 3 tokenize+explode passes over the corpus
      val posts = InvertedIndex.postingsWithLen(t(s, d, "documents"))
        .persist()
      val stats = InvertedIndex.bm25Stats(posts)
      val lex = HybridSearch.lexicalArm(posts, stats,
        Seq(0 -> Seq("spark", "window", "hash"),
          1 -> Seq("join", "sort", "merge")), topN = 50)
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 2)
        .select(col("vec_id").cast("int").as("query_id"),
          col("embedding").as("qvec"))
      HybridSearch.rrfFuse(lex, HybridSearch.cosineArm(emb, q, topN = 50))
        .orderBy(col("query_id"), col("rrf").desc, col("id"))
    }),
  )
}
