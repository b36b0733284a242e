package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import Fixtures._

/** The rest of the LLM-data-pipeline section: sketches (CMS, HLL,
  * quantiles), later lake operations, tokenizers, SCD2, entity
  * resolution and privacy (k-anonymity, randomized response). */
object PipelineQueries {
  val all: Seq[Q] = Seq(

    // map-side partial aggregate collapses occurrences into the grid
    // before the exchange — contrast the vocabulary-sized word-count
    // exchange). Portable affine hashes over the 60-bit md5 key, so
    // DuckDB rebuilds the identical grid and replays the probes; output
    // pairs each estimate with the exact count (est ≥ exact always —
    // CMS never underestimates a point query).
    Q("q_cms", oracleSql = """
      WITH toks AS (
        SELECT unnest(list_filter(string_split_regex(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
          x -> x <> '')) AS term
        FROM documents),
      tc AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
      keys AS (SELECT term, cnt,
          CAST(('0x' || substring(md5(term), 1, 15)) AS BIGINT)
            % 2147483647 AS xm
        FROM tc),
      fam AS (SELECT unnest([0, 1, 2, 3]) AS row_i,
                     unnest([1103515245, 1664525, 22695477,
                             1566083941]) AS a,
                     unnest([12345, 1013904223, 1, 2531011]) AS b),
      cells AS (SELECT row_i,
                       ((a * xm + b) % 2147483647) % 16 AS bucket,
                       CAST(sum(cnt) AS BIGINT) AS cnt
                FROM keys CROSS JOIN fam GROUP BY 1, 2),
      probes AS (SELECT unnest(['data', 'fast', 'hash', 'query', 'slow',
                                'spark', 'table', 'window']) AS term),
      pc AS (SELECT p.term, f.row_i,
                    ((f.a * (CAST(('0x' || substring(md5(p.term), 1, 15))
                        AS BIGINT) % 2147483647) + f.b)
                      % 2147483647) % 16 AS bucket
             FROM probes p CROSS JOIN fam f),
      est AS (SELECT pc.term,
                     CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est_cnt
              FROM pc LEFT JOIN cells c
                ON c.row_i = pc.row_i AND c.bucket = pc.bucket
              GROUP BY 1),
      ex AS (SELECT term, count(*) AS exact_cnt FROM toks
             WHERE term IN ('data', 'fast', 'hash', 'query', 'slow',
                            'spark', 'table', 'window') GROUP BY 1)
      SELECT e.term, CAST(coalesce(ex.exact_cnt, 0) AS BIGINT) AS exact_cnt,
             e.est_cnt
      FROM est e LEFT JOIN ex ON ex.term = e.term
      ORDER BY e.term""",
      build = (s, d) => {
      import graft.operators.Cms
      val occ = t(s, d, "documents").repartition(16)
        .select(explode(tokens(normalizeText(col("text")))).as("term"))
      val grid = Cms.sketch(occ, width = 16, depth = 4)
      val probes = Seq("spark", "window", "hash", "data", "query",
        "fast", "slow", "table")
      val exact = occ.filter(col("term").isin(probes: _*))
        .groupBy("term").agg(count(lit(1)).as("exact_cnt"))
      Cms.estimate(grid, probes, width = 16, depth = 4)
        .join(exact, Seq("term"), "left")
        .select(col("term"),
          coalesce(col("exact_cnt"), lit(0L)).as("exact_cnt"),
          col("est_cnt"))
        .orderBy("term")
    }),

    // HyperLogLog distinct-cardinality sketch, per language: the exchange
    // carries ≤ m=64 (idx, rho) registers per group REGARDLESS of
    // vocabulary (map-side partial max), vs the vocabulary-sized shuffle
    // of exact countDistinct shown alongside for calibration. Portable
    // 60-bit md5 key → DuckDB rebuilds the identical register file; every
    // hashed output is an INTEGER (s_scaled = Σ 2^(55−ρ_j) ≤ 2^61 exact
    // in a long; est_milli = floor-scaled raw formula — deterministic
    // IEEE divide, no ln()); the ln-corrected user estimate stays out of
    // the hash (Java vs DuckDB libm differ by 1 ulp on some inputs) and
    // is pinned by HllSpec instead.
    // q_hll: rebuild the identical 64-register file from the 60-bit md5
    // key (idx = key mod 64, w = key div 64, rho = 55 - len(bin(w)));
    // integer harmonic sum, same IEEE estimate + small-range branch.
    Q("q_hll", oracleSql = """
      WITH toks AS (
        SELECT lang, unnest(list_filter(string_split_regex(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
          x -> x <> '')) AS term
        FROM documents),
      d AS (SELECT DISTINCT lang, term FROM toks),
      k AS (SELECT lang,
          CAST(('0x' || substring(md5(term), 1, 15)) AS BIGINT) AS key
        FROM d),
      r AS (SELECT lang, key % 64 AS idx,
                   max(CASE WHEN key // 64 = 0 THEN 55
                            ELSE 55 - length(bin(key // 64)) END) AS rho
            FROM k GROUP BY 1, 2),
      g AS (SELECT lang,
                   CAST(sum(1::BIGINT << (55 - rho)) AS BIGINT)
                     AS s_present,
                   count(*) AS n_present
            FROM r GROUP BY 1),
      e AS (SELECT lang,
                   CAST(s_present + (64 - n_present) * (1::BIGINT << 55)
                     AS BIGINT) AS s_scaled,
                   CAST(64 - n_present AS BIGINT) AS zero_regs
            FROM g),
      est AS (SELECT lang, s_scaled, zero_regs,
          CAST(floor(0.709 * 64.0 * 64.0 * power(2.0, 55.0)
                     / CAST(s_scaled AS DOUBLE) * 1000.0) AS BIGINT)
            AS est_milli
        FROM e),
      ex AS (SELECT lang, count(DISTINCT term) AS exact_distinct
             FROM toks GROUP BY 1)
      SELECT est.lang, CAST(ex.exact_distinct AS BIGINT) AS exact_distinct,
             est.s_scaled, est.zero_regs, est.est_milli
      FROM est JOIN ex ON ex.lang = est.lang
      ORDER BY est.lang""",
      build = (s, d) => {
      val occ = t(s, d, "documents").repartition(16)
        .select(col("lang"),
          explode(tokens(normalizeText(col("text")))).as("term"))
      val exact = occ.groupBy("lang")
        .agg(countDistinct("term").as("exact_distinct"))
      graft.operators.Hll.distinctEstimate(occ, "term", b = 6,
          groupCols = Seq("lang"))
        .join(exact, Seq("lang"))
        .select(col("lang"), col("exact_distinct"), col("s_scaled"),
          col("zero_regs"), col("est_milli"))
        .orderBy("lang")
    }),

    // Q-digest mergeable quantile sketch — the sketch-family percentile
    // face (CMS=frequency, MG=top-k, HLL=distinct, q-digest=quantiles):
    // per-partition digests of ≤3k trie nodes are the ONLY thing that
    // moves (vs q_percentile's full sort), deterministic by construction
    // (canonical compress, order-insensitive merges — no KLL coin
    // flips), rank error ≤ depth/k. Gate in the recall-gate mold: exact
    // rank intervals of every estimate computed in ONE extra scan,
    // `require`d inside the ε budget (a regression crashes the query),
    // and the emitted (q_ppm, n, eps_ppm, within) row is exactly
    // oracle-expressible.
    // q_quantile_sketch / _group: the estimates themselves are
    // sketch-internal (partition-dependent), so — recall-gate mold — the
    // oracle pins the exact row counts per probed quantile plus the
    // in-query-`require`d within flags and the ε budget.
    Q("q_quantile_sketch", oracleSql = """
      SELECT q_ppm, count(*) AS n, CAST(5000 AS BIGINT) AS eps_ppm,
             CAST(1 AS BIGINT) AS within
      FROM lineitem CROSS JOIN (VALUES (CAST(10000 AS BIGINT)),
        (CAST(250000 AS BIGINT)), (CAST(500000 AS BIGINT)),
        (CAST(750000 AS BIGINT)), (CAST(900000 AS BIGINT)),
        (CAST(990000 AS BIGINT))) AS qv(q_ppm)
      GROUP BY q_ppm ORDER BY q_ppm""",
      build = (s, d) => {
      import s.implicits._
      import graft.operators.QDigest
      val depth = 25 // extendedprice cents < 2^25
      val k = 5000L  // eps = depth/k = 0.5%
      val cents = t(s, d, "lineitem")
        .select(round(col("l_extendedprice") * 100).cast("long").as("v"))
      // build parallel (narrow 1-col repartition; single-row-group
      // source), but rank-scan the bare projection — partial aggs
      // collapse in the scan partition, no exchange
      val sk = QDigest.sketch(cents.repartition(16), "v", depth, k)
      val qsP = Seq(10000L, 250000L, 500000L, 750000L, 900000L, 990000L)
      val ests = qsP.map(q => q -> QDigest.quantile(sk, q))
      val rankAggs = ests.flatMap { case (q, e) =>
        Seq(sum(when(col("v") <= e, 1L).otherwise(0L)).as(s"le_$q"),
          sum(when(col("v") < e, 1L).otherwise(0L)).as(s"lt_$q"))
      }
      val row = cents.agg(count(lit(1)).as("n"), rankAggs: _*).head()
      val n = row.getAs[Long]("n")
      require(n == sk.n, s"q-digest lost rows: sketch n=${sk.n} scan n=$n")
      val bound = QDigest.rankErrorBound(sk)
      ests.map { case (q, e) =>
        val target = math.max(1L, (q * n + 999999L) / 1000000L)
        val hi = row.getAs[Long](s"le_$q")
        val lo = row.getAs[Long](s"lt_$q")
        require(hi >= target - bound && lo <= target + bound,
          s"q-digest rank error blown at q=$q ppm: est=$e " +
            s"rank=[$lo,$hi] target=$target bound=$bound")
        (q, n, 1000000L * depth / k, 1L)
      }.toDF("q_ppm", "n", "eps_ppm", "within").orderBy("q_ppm")
    }),
    // The grouped face: per-(key, partition) partial digests, one
    // (key, sketch) exchange, order-insensitive merge per key — the
    // "running p50/p90 latency per service" shape. Same gate: exact
    // per-group rank intervals via one broadcast join + aggregate.
    Q("q_quantile_sketch_group", oracleSql = """
      SELECT l_returnflag, q_ppm, count(*) AS n, CAST(1 AS BIGINT) AS within
      FROM lineitem CROSS JOIN (VALUES (CAST(500000 AS BIGINT)),
        (CAST(900000 AS BIGINT))) AS qv(q_ppm)
      GROUP BY 1, 2 ORDER BY 1, 2""",
      build = (s, d) => {
      import s.implicits._
      import graft.operators.QDigest
      val depth = 25
      val k = 2000L
      val li = t(s, d, "lineitem")
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("v"))
      val ests = QDigest.quantilesByKey(li.repartition(16),
        "l_returnflag", "v", depth, k, Seq(500000L, 900000L))
      val checked = li.join(broadcast(ests), "l_returnflag")
        .groupBy("l_returnflag", "q_ppm", "qd_est", "qd_n")
        .agg(sum(when(col("v") <= col("qd_est"), 1L).otherwise(0L))
            .as("r_le"),
          sum(when(col("v") < col("qd_est"), 1L).otherwise(0L))
            .as("r_lt"))
        .collect()
      checked.map { r =>
        val (flag, q) = (r.getAs[String]("l_returnflag"),
          r.getAs[Long]("q_ppm"))
        val n = r.getAs[Long]("qd_n")
        val target = math.max(1L, (q * n + 999999L) / 1000000L)
        val bound = depth.toLong * n / k
        require(r.getAs[Long]("r_le") >= target - bound &&
            r.getAs[Long]("r_lt") <= target + bound,
          s"grouped q-digest rank error blown at ($flag, $q ppm)")
        (flag, q, n, 1L)
      }.toSeq.toDF("l_returnflag", "q_ppm", "n", "within")
        .orderBy("l_returnflag", "q_ppm")
    }),

    // The mergeable sketch STORE: each "day's" batch collapses to one
    // KB-sized digest row per key, APPENDED to a lake table (raw values
    // never retained), and the serving read merges a key's rows —
    // order-insensitively, so batches may land or replay in any order —
    // to answer quantiles across all days. This is the running-p99-per-
    // service shape the sketch family exists for: state and wire cost
    // are (keys × batches × 3k nodes) regardless of corpus size. Gate:
    // exact rank intervals over ALL raw rows, `require`d inside ε.
    Q("q_quantile_store", oracleSql = """
      SELECT source, q_ppm, count(*) AS n, CAST(1 AS BIGINT) AS within
      FROM documents CROSS JOIN (VALUES (CAST(500000 AS BIGINT)),
        (CAST(990000 AS BIGINT))) AS qv(q_ppm)
      GROUP BY 1, 2 ORDER BY 1, 2""",
      build = (s, d) => {
      import s.implicits._
      import graft.operators.QDigest
      import graft.lake.{LakeLog, LakeTable}
      val depth = 20
      val k = 1000L
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftqs"))
      val docs = t(s, d, "documents").select(col("source"),
        col("doc_id"), col("n_chars").cast("long").as("v"))
      val slices = (0 to 2).map(b => (QDigest.sketchRowsByKey(
        docs.filter(col("doc_id") % 3 === b), "source", "v", depth, k),
        s"day-$b"))
      LakeTable.createTable(log, "sk", slices.head._1.schema)
      // the three per-day sketch builds are independent heavy jobs: stage
      // concurrently, commit in day order (identical history)
      LakeTable.insertAll(s, log, "sk", slices)
      val ests = QDigest.quantilesOfSketchRows(
        LakeTable.read(s, log, "sk"), "source", Seq(500000L, 990000L))
      val checked = docs.join(broadcast(ests), "source")
        .groupBy("source", "q_ppm", "qd_est", "qd_n")
        .agg(sum(when(col("v") <= col("qd_est"), 1L).otherwise(0L))
            .as("r_le"),
          sum(when(col("v") < col("qd_est"), 1L).otherwise(0L))
            .as("r_lt"))
        .collect()
      checked.map { r =>
        val n = r.getAs[Long]("qd_n")
        val q = r.getAs[Long]("q_ppm")
        val target = math.max(1L, (q * n + 999999L) / 1000000L)
        val bound = depth.toLong * n / k
        require(r.getAs[Long]("r_le") >= target - bound &&
            r.getAs[Long]("r_lt") <= target + bound,
          s"sketch-store rank error blown at " +
            s"(${r.getAs[String]("source")}, $q ppm)")
        (r.getAs[String]("source"), q, n, 1L)
      }.toSeq.toDF("source", "q_ppm", "n", "within")
        .orderBy("source", "q_ppm")
    }),

    // Sketch-store compaction: the OPTIMIZE verb merges each key's
    // per-batch digest rows into ONE row per key in a single atomic
    // overwrite commit. Q-digest merges are order-insensitive, so the
    // compacted store PROVABLY answers every quantile query identically
    // — the in-query require pins exact pre/post answer equality plus
    // one-commit atomicity, and the emitted per-source row counts
    // (batches carrying the source before, exactly 1 after) are
    // hash-checked by the oracle.
    // q_quantile_store_compact: rows_before = batches (doc_id % 3
    // slices) carrying the source, rows_after = exactly one merged row
    // per key; the answer-identity proof is the in-query require
    Q("q_quantile_store_compact", oracleSql = """
      SELECT source, count(DISTINCT doc_id % 3) AS rows_before,
        CAST(1 AS BIGINT) AS rows_after,
        CAST(1 AS BIGINT) AS quantiles_equal
      FROM documents GROUP BY 1 ORDER BY 1""",
      build = (s, d) => {
      import s.implicits._
      import graft.operators.QDigest
      import graft.lake.{LakeLog, LakeTable}
      val depth = 20
      val k = 1000L
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftqsc"))
      val docs = t(s, d, "documents").select(col("source"),
        col("doc_id"), col("n_chars").cast("long").as("v"))
      val slices = (0 to 2).map(b => (QDigest.sketchRowsByKey(
        docs.filter(col("doc_id") % 3 === b), "source", "v", depth, k),
        s"day-$b"))
      LakeTable.createTable(log, "sk", slices.head._1.schema)
      // the three per-day sketch builds are independent heavy jobs: stage
      // concurrently, commit in day order (identical history)
      LakeTable.insertAll(s, log, "sk", slices)
      def ests() = QDigest.quantilesOfSketchRows(
          LakeTable.read(s, log, "sk"), "source", Seq(500000L, 990000L))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
        .sortBy(x => (x._1, x._2)).toSeq
      val preRows = LakeTable.read(s, log, "sk").groupBy("source")
        .agg(count(lit(1)).as("nb")).collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      val pre = ests()
      val vPre = log.latestVersion("sk")
      val (nBefore, nAfter) =
        QDigest.compactSketchStore(s, log, "sk", "source",
          txnId = "sk-compact-1")
      require(nAfter < nBefore,
        s"compaction did not reduce rows: $nBefore -> $nAfter")
      require(log.latestVersion("sk") == vPre + 1,
        "compaction must land as exactly one commit")
      require(pre == ests(), "compaction changed quantile answers")
      // idempotent replay: same txn id is a duplicate, not a rewrite
      QDigest.compactSketchStore(s, log, "sk", "source",
        txnId = "sk-compact-1")
      require(log.latestVersion("sk") == vPre + 1,
        "replayed compaction must not commit again")
      val postRows = LakeTable.read(s, log, "sk").groupBy("source")
        .agg(count(lit(1)).as("na")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      preRows.map { case (src, nb) => (src, nb, postRows(src), 1L) }
        .toSeq.toDF("source", "rows_before", "rows_after",
          "quantiles_equal")
        .orderBy("source")
    }),

    // Corpus-overlap estimation: pairwise Jaccard between SOURCES from
    // per-source minhash signatures — corpora are never joined, text
    // never moves, the exchange is ≤ sources×k rows (map-side min), and
    // every output is an integer. Same portable md5+affine family as
    // q_dedup_minhash_fixed, grouped by source instead of doc id.
    // q_corpus_overlap: rebuild per-source signatures with the same
    // md5+affine family (min over the source's shingles), pairwise
    // position-match count — all integer.
    Q("q_corpus_overlap", oracleSql = """
      WITH norm AS (
        SELECT source, list_filter(string_split_regex(
                 regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
               x -> x <> '') AS t
        FROM documents),
      sh AS (
        SELECT DISTINCT source, sh FROM (
          SELECT source,
                 CASE WHEN len(t) < 3 THEN array_to_string(t, ' ')
                      ELSE array_to_string(t[i:i+2], ' ') END AS sh
          FROM norm, UNNEST(CASE WHEN len(t) < 3 THEN [CAST(1 AS BIGINT)]
                                 ELSE range(1, len(t) - 1) END) AS u(i))),
      hb AS (
        SELECT source,
               CAST(('0x' || substring(md5(sh), 1, 7)) AS BIGINT) AS h
        FROM sh),
      sig AS (
        SELECT source, i,
               min((((1103515245 * (2 * i + 1)) % 2147483647) * h
                    + ((12345 + 1013904223 * i) % 2147483647))
                   % 2147483647) AS h
        FROM hb, UNNEST(range(16)) AS s(i)
        GROUP BY source, i),
      pair AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS BIGINT)
                 AS matches
        FROM sig a JOIN sig b ON a.i = b.i AND a.source < b.source
        GROUP BY 1, 2)
      SELECT src_a, src_b, matches,
             CAST(matches * 100 // 16 AS BIGINT) AS jaccard_pct
      FROM pair ORDER BY src_a, src_b""",
      build = (s, d) =>
      graft.operators.CorpusOverlap.signatureOverlap(
          t(s, d, "documents").repartition(16), groupCol = "source", k = 16)
        .orderBy("src_a", "src_b")),

    // Edit-distance fuzzy matching on short linkage keys (40-char
    // normalized prefixes): positional q-gram count filter + position and
    // length windows generate candidates, exact levenshtein verifies —
    // never the O(n²) cross join the DuckDB oracle is allowed to run at
    // oracle scale.
    Q("q_dedup_editdist", oracleSql = """
      WITH k AS (
        SELECT doc_id, substr(regexp_replace(lower(trim(text)),
          '\s+', ' ', 'g'), 1, 40) AS key
        FROM documents)
      SELECT a.doc_id AS id_1, b.doc_id AS id_2,
             CAST(levenshtein(a.key, b.key) AS BIGINT) AS dist
      FROM k a JOIN k b ON a.doc_id < b.doc_id
        AND abs(length(a.key) - length(b.key)) <= 2
      WHERE levenshtein(a.key, b.key) <= 2
      ORDER BY id_1, id_2""",
      build = (s, d) => {
      val keys = t(s, d, "documents").repartition(16)
        .select(col("doc_id"),
          substring(normalizeText(col("text")), 1, 40).as("key"))
      graft.operators.EditDist.editDistancePairs(keys, maxDist = 2, q = 3)
        .withColumn("dist", col("dist").cast("long"))
        .orderBy("id_1", "id_2")
    }),

    // UPDATE ... SET ... WHERE through the SQL face: copy-on-write row
    // update with stat-pruned file rewrites in one OCC commit. The final
    // read groups by the updated flag column, so the hash covers exactly
    // which rows the predicate touched and the SET arithmetic applied.
    Q("q_lake_update", oracleSql = """
      WITH upd AS (
        SELECT l_quantity,
               CASE WHEN l_quantity > 40 THEN l_extendedprice * 0.9
                    ELSE l_extendedprice END AS l_extendedprice,
               CASE WHEN l_quantity > 40 THEN 'X'
                    ELSE l_returnflag END AS l_returnflag
        FROM lineitem)
      SELECT l_returnflag, count(*) AS n_rows,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM upd GROUP BY 1 ORDER BY 1""",
      build = (s, d) => {
      import graft.api.LakeSql
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftupd"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
      LakeTable.createTable(log, "li", li.schema)
      LakeTable.insert(s, log, "li", li, numFiles = 4,
        zOrderBy = Seq("l_quantity"))
      val st = LakeSql.execute(s, log,
        "UPDATE li SET l_extendedprice = l_extendedprice * 0.9, " +
          "l_returnflag = 'X' WHERE l_quantity > 40")
      // quantity-clustered files + stat pruning: the predicate must leave
      // at least one file untouched (rewriting all 4 would mean pruning
      // regressed to a full-table rewrite)
      require(st.head.getAs[Long]("files_rewritten") < 4,
        "UPDATE rewrote every file — stat pruning inoperative")
      LakeTable.read(s, log, "li")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
        .orderBy("l_returnflag")
    }),

    // ALTER TABLE ADD/DROP CONSTRAINT with Delta's existing-row
    // validation: the ADD scans the table once and rejects if any live
    // row violates (asserted by adding a constraint the data breaks);
    // once installed it gates writes exactly like CREATE-time checks,
    // and DROP re-opens the gate. The final aggregate's hash covers
    // which inserts landed.
    Q("q_lake_constraint", oracleSql = """
      SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem""",
      build = (s, d) => {
      import graft.api.LakeSql
      import graft.lake.{LakeLog, LakeTable, LakeValidationException}
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftck"))
      val li = t(s, d, "lineitem").select("l_orderkey", "l_quantity")
      LakeTable.createTable(log, "li", li.schema)
      LakeTable.insert(s, log, "li", li.filter(col("l_quantity") <= 30))
      // a constraint the existing rows satisfy installs...
      LakeSql.execute(s, log,
        "ALTER TABLE li ADD CONSTRAINT qty_cap CHECK (l_quantity <= 30)")
      // ...one they violate must be rejected with the violation count
      val rejected = try {
        LakeSql.execute(s, log,
          "ALTER TABLE li ADD CONSTRAINT impossible CHECK (l_quantity < 5)")
        false
      } catch { case _: LakeValidationException => true }
      require(rejected, "ADD CONSTRAINT accepted over violating rows")
      // the installed constraint gates writes
      val writeRejected = try {
        LakeTable.insert(s, log, "li", li.filter(col("l_quantity") > 30))
        false
      } catch { case _: LakeValidationException => true }
      require(writeRejected, "installed constraint did not gate the write")
      // DROP re-opens the gate; the big rows land
      LakeSql.execute(s, log, "ALTER TABLE li DROP CONSTRAINT qty_cap")
      LakeTable.insert(s, log, "li", li.filter(col("l_quantity") > 30))
      LakeTable.read(s, log, "li").agg(
        count(lit(1)).as("n_rows"),
        round(sum("l_quantity"), 2).as("sum_qty"))
    }),

    // ANALYZE TABLE + DESCRIBE STATS: one aggregate pass persists exact
    // per-column ndv / nulls / min / max and the row count as advisory
    // schema metadata; DuckDB recomputes the identical statistics from
    // the raw table.
    Q("q_lake_analyze", oracleSql = """
      SELECT * FROM (
        SELECT '__table' AS "column", count(*) AS ndv_or_rows,
               CAST(NULL AS VARCHAR) AS nulls, CAST(NULL AS VARCHAR) AS min,
               CAST(NULL AS VARCHAR) AS max
        FROM lineitem
        UNION ALL
        SELECT 'l_orderkey', count(DISTINCT l_orderkey),
               CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                 AS VARCHAR),
               CAST(min(l_orderkey) AS VARCHAR),
               CAST(max(l_orderkey) AS VARCHAR)
        FROM lineitem
        UNION ALL
        SELECT 'l_quantity', count(DISTINCT l_quantity),
               CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
                 AS VARCHAR),
               CAST(min(l_quantity) AS VARCHAR),
               CAST(max(l_quantity) AS VARCHAR)
        FROM lineitem
        UNION ALL
        SELECT 'l_returnflag', count(DISTINCT l_returnflag),
               CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
                 AS VARCHAR),
               min(l_returnflag), max(l_returnflag)
        FROM lineitem)
      ORDER BY "column"""",
      build = (s, d) => {
      import graft.api.LakeSql
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftan"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag")
      LakeTable.createTable(log, "li", li.schema)
      LakeTable.insert(s, log, "li", li, numFiles = 4)
      LakeSql.execute(s, log, "ANALYZE TABLE li COMPUTE STATISTICS " +
        "FOR COLUMNS (l_orderkey, l_quantity, l_returnflag)")
      LakeSql.execute(s, log, "DESCRIBE STATS li")
        .select("column", "ndv_or_rows", "nulls", "min", "max")
        .orderBy("column")
    }),

    // Deterministic training order: curriculum rank within each source
    // (longest docs first) + stride-scheduling interleave across sources
    // with integer virtual time, so any prefix matches the weight mixture
    // and the whole order replays bit-identically in DuckDB's window
    // recompute. Ranks and the final sequence are assigned DISTRIBUTED
    // (range partition + zipWithIndex + offset join) — no global window.
    Q("q_curriculum", oracleSql = """
      WITH ranked AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                 ORDER BY n_chars DESC, doc_id ASC) - 1 AS rk
        FROM documents),
      keyed AS (
        SELECT doc_id, source, rk,
               ((2 * rk + 1) * 1048576) //
                 (1 + CAST(substr(source, 4) AS BIGINT) % 4) AS vt
        FROM ranked)
      SELECT row_number() OVER (ORDER BY vt, source, rk) AS seq,
             doc_id, source, rk, vt
      FROM keyed ORDER BY seq""",
      build = (s, d) => withShufflePartitions(s, 8) {
      val docs = t(s, d, "documents").select("doc_id", "source", "n_chars")
      graft.operators.Curriculum.interleave(docs, "source",
          Seq(col("n_chars").desc, col("doc_id").asc),
          lit(1) + substring(col("source"), 4, 10).cast("long") % 4)
        .select("seq", "doc_id", "source", "rk", "vt")
        .orderBy("seq")
    }),

    // Tokenizer-fit metric: out-of-vocabulary rate per source against a
    // frozen vocabulary — the "does this corpus match the tokenizer"
    // gate run before committing to a training mix. Zero shuffles before
    // the tiny per-source aggregate; the token array never leaves its row.
    Q("q_vocab_coverage", oracleSql = """
      WITH toks AS (
        SELECT source, unnest(list_filter(string_split_regex(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
          x -> x <> '')) AS term
        FROM documents)
      SELECT source, count(*) AS n_tokens,
             CAST(count(*) FILTER (WHERE term NOT IN ('data', 'query',
               'table', 'row', 'column', 'spark', 'batch', 'stream',
               'window', 'filter', 'scan', 'merge', 'agg', 'key',
               'value')) AS BIGINT) AS oov_tokens,
             round(CAST(count(*) FILTER (WHERE term NOT IN ('data',
               'query', 'table', 'row', 'column', 'spark', 'batch',
               'stream', 'window', 'filter', 'scan', 'merge', 'agg',
               'key', 'value')) AS DOUBLE) / count(*), 6) AS oov_rate
      FROM toks GROUP BY source ORDER BY source""",
      build = (s, d) => {
      val vlit = array(Seq("data", "query", "table", "row", "column",
        "spark", "batch", "stream", "window", "filter", "scan", "merge",
        "agg", "key", "value").map(lit): _*)
      t(s, d, "documents")
        .select(col("source"), tokens(normalizeText(col("text"))).as("toks"))
        .select(col("source"), size(col("toks")).as("n_tok"),
          size(filter(col("toks"),
            tk => !array_contains(vlit, tk))).as("n_oov"))
        .groupBy("source")
        .agg(sum("n_tok").as("n_tokens"), sum("n_oov").as("oov_tokens"),
          round(sum("n_oov").cast("double") / sum("n_tok"), 6)
            .as("oov_rate"))
        .orderBy("source")
    }),

    // Generated columns (Delta's GENERATED ALWAYS AS): the quantity band
    // is a generated PARTITION column — writers never supply it, the
    // write computes it, and a filter on it prunes whole partitions from
    // the log alone (asserted via scan metrics). DuckDB recomputes the
    // same derivation.
    Q("q_lake_generated", oracleSql = """
      WITH src AS (
        SELECT CAST(floor(l_quantity / 10) AS BIGINT) AS qband,
               l_extendedprice
        FROM lineitem)
      SELECT qband, count(*) AS n_rows,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM src WHERE qband >= 3 GROUP BY 1 ORDER BY 1""",
      build = (s, d) => {
      import graft.api.{LakeSql, SqlApi}
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftgen"))
      LakeSql.execute(s, log,
        "CREATE TABLE li (l_orderkey int64, l_quantity float64, " +
          "l_extendedprice float64, " +
          "qband int64 GENERATED ALWAYS AS " +
          "(cast(floor(l_quantity / 10) as bigint))) " +
          "PARTITIONED BY (qband)")
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
      // the writer does NOT supply qband — the lake computes it
      LakeTable.insert(s, log, "li", li, numFiles = 2)
      val out = SqlApi.queryLake(s, log,
        "SELECT qband, count(*) AS n_rows, " +
          "round(sum(l_extendedprice), 2) AS sum_price " +
          "FROM li WHERE qband >= 3 GROUP BY qband ORDER BY qband")
      val m = graft.Metrics.measure("gen-partition-probe", out)
      require(m.filesPruned > 0,
        s"generated partition column did not prune " +
          s"(scanned=${m.filesScanned})")
      out
    }),

    // Column mapping: RENAME COLUMN is a metadata-only commit (the data
    // files are untouched — asserted on the file set), reads alias the
    // immutable physical name back to the new logical name, writes AFTER
    // the rename land under the same physical name, stat pruning on the
    // renamed column still skips files (asserted via scan metrics), and
    // DROP COLUMN removes a field without rewriting a byte. The final
    // aggregate runs over files written on BOTH sides of the rename.
    Q("q_lake_rename", oracleSql = """
      WITH src AS (
        SELECT l_quantity AS qty, l_returnflag FROM lineitem)
      SELECT l_returnflag, count(*) AS n_rows, round(sum(qty), 2) AS sum_qty
      FROM src WHERE qty > 45 GROUP BY 1 ORDER BY 1""",
      build = (s, d) => {
      import graft.api.{LakeSql, SqlApi}
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftcm"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
      LakeTable.createTable(log, "li", li.schema)
      LakeTable.insert(s, log, "li", li.filter(col("l_orderkey") % 2 === 0),
        numFiles = 4, zOrderBy = Seq("l_quantity"))
      val preFiles = log.snapshot("li").files.map(_.path).toSet
      LakeSql.execute(s, log, "ALTER TABLE li RENAME COLUMN l_quantity TO qty")
      require(log.snapshot("li").files.map(_.path).toSet == preFiles,
        "RENAME COLUMN touched data files — not metadata-only")
      LakeTable.insert(s, log, "li",
        li.filter(col("l_orderkey") % 2 === 1)
          .withColumnRenamed("l_quantity", "qty"),
        numFiles = 4, zOrderBy = Seq("qty"))
      LakeSql.execute(s, log, "ALTER TABLE li DROP COLUMN l_extendedprice")
      val out = SqlApi.queryLake(s, log,
        "SELECT l_returnflag, count(*) AS n_rows, " +
          "round(sum(qty), 2) AS sum_qty " +
          "FROM li WHERE qty > 45 GROUP BY l_returnflag ORDER BY l_returnflag")
      // pre- AND post-rename files are quantity-sorted: the qty predicate
      // must prune through the renamed logical name
      val m = graft.Metrics.measure("rename-prune-probe", out)
      require(m.filesPruned > 0,
        s"no pruning through renamed column (scanned=${m.filesScanned})")
      out
    }),

    // Timestamp time travel: TIMESTAMP AS OF resolves through the log's
    // commit timestamps (binary search) to the newest version at-or-before
    // the instant, then reads that snapshot. The query pins the instant to
    // version 1's own commit timestamp, so the as-of read must see exactly
    // the first slice while the latest read sees both — DuckDB recomputes
    // both states from the base table.
    Q("q_lake_timetravel_ts", oracleSql = """
      SELECT * FROM (
        SELECT 'asof_v1' AS which, count(*) AS n_rows,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem WHERE l_orderkey % 3 = 0
        UNION ALL
        SELECT 'latest' AS which, count(*) AS n_rows,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem WHERE l_orderkey % 3 IN (0, 1))
      ORDER BY which""",
      build = (s, d) => {
      import graft.api.LakeSql
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftts"))
      val li = t(s, d, "lineitem").select("l_orderkey", "l_quantity")
      LakeTable.createTable(log, "li", li.schema)
      (0 to 1).foreach { m =>
        LakeTable.insert(s, log, "li",
          li.filter(col("l_orderkey") % 3 === m), txnId = s"slice-$m")
        // commit timestamps are millisecond-grained; keep versions on
        // distinct instants so "as of v1's timestamp" is unambiguous
        Thread.sleep(5)
      }
      val ts1 = LakeTable.history(s, log, "li")
        .filter(col("version") === 1).head.getTimestamp(1)
      val asOf = LakeSql.execute(s, log,
        s"SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty " +
          s"FROM li TIMESTAMP AS OF '$ts1'")
        .withColumn("which", lit("asof_v1"))
      val latest = LakeSql.execute(s, log,
        "SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty " +
          "FROM li")
        .withColumn("which", lit("latest"))
      asOf.unionAll(latest).select("which", "n_rows", "sum_qty")
        .orderBy("which")
    }),

    // Point-in-time fact enrichment through SCD2 history: orders join
    // the customer-dimension version valid AT THE ORDER'S OWN integer
    // time — %4 customers move segment at t=1, so their t=0 orders
    // credit the ORIGINAL segment and their t=1 orders the new one
    // (today's-dimension joins get exactly this wrong). Equi-join on
    // the key + interval filter; no range-join machinery (few versions
    // per key). The oracle derives both dimension states analytically.
    // Point-in-time join re-derived: the dimension state at integer time
    // t is analytic (%4 keys read MOVED from t=1), so the oracle joins
    // facts to a CASE, not to history rows. Every order key resolves
    // (verified: orders ⊆ customer), so no NULL group risks the
    // cross-engine null-ordering trap.
    // build (two full-dim SCD2 upsert commits) and probe (the point-in-
    // time join) split so Bench prices the join as the headline and the
    // dimension build in the `builds` sidecar
    Q.split("q_scd2_fact_join", oracleSql = """
      WITH facts AS (
        SELECT o_custkey AS custkey, o_orderkey % 2 AS t_fact,
               o_totalprice
        FROM orders),
      dim AS (SELECT c_custkey AS key, c_mktsegment AS seg FROM customer)
      SELECT f.t_fact,
             CASE WHEN f.t_fact >= 1 AND d.key % 4 = 0 THEN 'MOVED'
                  ELSE d.seg END AS seg,
             COUNT(*) AS n_orders,
             round(SUM(f.o_totalprice), 2) AS sum_price
      FROM facts f LEFT JOIN dim d ON d.key = f.custkey
      GROUP BY 1, 2 ORDER BY 1, 2""",
      phases = (s, d) => {
      import graft.lake.{LakeLog, Scd}
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftsj"))
      val base = t(s, d, "customer").select(
        col("c_custkey").as("key"), col("c_mktsegment").as("seg"))
      (() => {
         Scd.create(log, "dim", base.schema)
         Scd.applyBatch(s, log, "dim", base, "key", Seq("seg"), 0L, "b0")
         Scd.applyBatch(s, log, "dim",
           base.filter(col("key") % 4 === 0)
             .select(col("key"), lit("MOVED").as("seg")),
           "key", Seq("seg"), 1L, "b1")
         ()
       },
       () => {
         val facts = t(s, d, "orders").select(
           col("o_custkey").as("custkey"),
           (col("o_orderkey") % 2).as("t_fact"),
           col("o_totalprice"))
         Scd.joinAsOf(facts, graft.lake.LakeTable.read(s, log, "dim"),
             "key", "custkey", "t_fact")
           .groupBy(col("t_fact"), col("seg"))
           .agg(count(lit(1)).as("n_orders"),
             round(sum("o_totalprice"), 2).as("sum_price"))
           .orderBy("t_fact", "seg")
       })
    }),

    // A/B experiment readout in exact arithmetic: two faces — the null
    // test (purchase conversion on random user halves, expected
    // insignificant) and a planted lift (arm 1 gains deterministic
    // extra conversions). The two-proportion z-test's squared
    // inequality cross-multiplies into one DECIMAL(38) comparison — no
    // sqrt, no libm; DuckDB replays it in HUGEINT. Per-user reduction
    // is the only data-sized aggregate; the verdict runs on two rows.
    // A/B readout re-derived: per-user max-conversion, per-arm counts,
    // and the cross-multiplied z² inequality in HUGEINT — int128 covers
    // the DECIMAL(38) envelope exactly.
    Q("q_abtest", oracleSql = """
      WITH per_user AS (
        SELECT user_id % 2 AS variant, user_id,
               max(CASE WHEN event_type = 'purchase' AND value > 150
                   THEN 1 ELSE 0 END) AS conv0,
               max(CASE WHEN (event_type = 'purchase' AND value > 150)
                     OR (user_id % 2 = 1 AND event_type = 'click')
                   THEN 1 ELSE 0 END) AS conv1
        FROM events GROUP BY 1, 2),
      faces AS (
        SELECT 'null_test' AS face, variant, COUNT(*) AS n,
               CAST(SUM(conv0) AS BIGINT) AS x
        FROM per_user GROUP BY 1, 2
        UNION ALL
        SELECT 'lifted', variant, COUNT(*), CAST(SUM(conv1) AS BIGINT)
        FROM per_user GROUP BY 1, 2),
      ab AS (
        SELECT face,
               CAST(max(CASE WHEN variant = 0 THEN n END) AS BIGINT) AS n_a,
               CAST(max(CASE WHEN variant = 0 THEN x END) AS BIGINT) AS x_a,
               CAST(max(CASE WHEN variant = 1 THEN n END) AS BIGINT) AS n_b,
               CAST(max(CASE WHEN variant = 1 THEN x END) AS BIGINT) AS x_b
        FROM faces GROUP BY 1)
      SELECT face, n_a, x_a, n_b, x_b,
             x_b * 1000000 // n_b - x_a * 1000000 // n_a AS lift_ppm,
             CAST(CASE WHEN
               CAST(2500 AS HUGEINT) * (n_a + n_b) *
               (CAST(x_a AS HUGEINT) * n_b - CAST(x_b AS HUGEINT) * n_a) *
               (CAST(x_a AS HUGEINT) * n_b - CAST(x_b AS HUGEINT) * n_a)
               > CAST(9604 AS HUGEINT) * (x_a + x_b) *
                 (n_a + n_b - x_a - x_b) * n_a * n_b
             THEN 1 ELSE 0 END AS INT) AS significant
      FROM ab ORDER BY face""",
      build = (s, d) => {
      import graft.operators.AbTest
      val ev = t(s, d, "events")
        .withColumn("variant", pmod(col("user_id"), lit(2)))
      def face(name: String, conv: org.apache.spark.sql.Column) =
        AbTest.twoProportion(ev.withColumn("conv", conv.cast("int")),
            "user_id", "variant", "conv")
          .withColumn("face", lit(name))
      // conversion = a HIGH-VALUE purchase: the raw event stream touches
      // every user with every event type (small synthetic user domain),
      // so an unthresholded conversion saturates both arms at 100%
      val converts = col("event_type") === "purchase" && col("value") > 150
      face("null_test", converts)
        .unionByName(face("lifted", converts ||
          (col("variant") === 1 && col("event_type") === "click")))
        .select("face", "n_a", "x_a", "n_b", "x_b", "lift_ppm",
          "significant")
        .orderBy("face")
    }),

    // WordPiece tokenization: deterministic piece inventory (all ≤4-char
    // word substrings clearing the count floor; single chars always, the
    // coverage rule that makes [UNK] unreachable on corpus words), then
    // greedy longest-match-first encoding per DISTINCT word, weighted
    // back by corpus counts. The oracle rebuilds the inventory and
    // replays maximal munch as a recursive CTE over word positions.
    // WordPiece re-derived: inventory from the same substring counts,
    // maximal munch as a recursive CTE — (word, pos) advances by the MAX
    // matching piece length; coverage makes the recursion total.
    Q("q_tokenize_wordpiece", oracleSql = """
      WITH RECURSIVE words AS (
        SELECT w, COUNT(*) AS c FROM (
          SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
            x -> x <> '')) AS w
          FROM documents) GROUP BY 1),
      cand AS (
        SELECT CASE WHEN p = 1 THEN substr(w, p, l)
                    ELSE '##' || substr(w, p, l) END AS piece,
               SUM(c) AS n
        FROM words,
             UNNEST(range(1, len(w) + 1)) AS t(p),
             UNNEST(range(1, least(4, len(w) - p + 1) + 1)) AS u(l)
        GROUP BY 1),
      vocab AS (
        SELECT piece FROM cand
        WHERE n >= 20 OR length(piece) = 1
           OR (length(piece) = 3 AND substr(piece, 1, 2) = '##')),
      matches AS (
        SELECT w, p AS pos, max(l) AS best
        FROM (SELECT w.w, t.p, u.l
              FROM words w,
                   UNNEST(range(1, len(w.w) + 1)) AS t(p),
                   UNNEST(range(1, least(4, len(w.w) - t.p + 1) + 1)) AS u(l)
              WHERE (CASE WHEN t.p = 1 THEN substr(w.w, t.p, u.l)
                          ELSE '##' || substr(w.w, t.p, u.l) END)
                    IN (SELECT piece FROM vocab))
        GROUP BY 1, 2),
      rec AS (
        SELECT w, CAST(1 AS BIGINT) AS pos FROM words
        UNION ALL
        SELECT r.w, r.pos + m.best
        FROM rec r JOIN matches m ON m.w = r.w AND m.pos = r.pos),
      emitted AS (
        SELECT r.w, CASE WHEN r.pos = 1 THEN substr(r.w, 1, m.best)
                         ELSE '##' || substr(r.w, r.pos, m.best) END AS piece
        FROM rec r JOIN matches m ON m.w = r.w AND m.pos = r.pos)
      SELECT e.piece, CAST(SUM(wd.c) AS BIGINT) AS n
      FROM emitted e JOIN words wd ON wd.w = e.w
      GROUP BY 1 ORDER BY n DESC, piece LIMIT 40""",
      build = (s, d) => {
      val docs = t(s, d, "documents")
      val model = graft.operators.WordPiece.train(docs, maxPieceLen = 4,
        minCount = 20L)
      graft.operators.WordPiece.pieceCounts(docs, model)
        .orderBy(col("n").desc, col("piece")).limit(40)
    }),
    // Unigram-LM tokenization (SentencePiece's model): the GLOBALLY best
    // segmentation under frozen integer staircase-log₂ piece scores —
    // where WordPiece munches the longest local piece, unigram can
    // prefer two frequent pieces over one rare long one. The oracle
    // enumerates every segmentation per distinct word via a recursive
    // CTE and replays the identical (score, k, path) argmax.
    // q_tokenize_unigram: rebuild the inventory + integer staircase-log₂
    // scores (bin()/shift arithmetic — no libm), enumerate EVERY
    // segmentation per distinct word with a recursive CTE, argmax under
    // the same (score DESC, pieces ASC, path ASC) total order, re-weight
    // by word frequency.
    Q("q_tokenize_unigram", oracleSql = """
      WITH RECURSIVE words AS (
        SELECT w, COUNT(*) AS c FROM (
          SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
            x -> x <> '')) AS w
          FROM documents) GROUP BY 1),
      vocab AS (
        SELECT piece, SUM(c) AS n FROM (
          SELECT substr(w, p, l) AS piece, c
          FROM words,
               UNNEST(range(1, len(w) + 1)) AS t(p),
               UNNEST(range(1, least(4, len(w) - p + 1) + 1)) AS u(l))
        GROUP BY 1
        HAVING SUM(c) >= 20 OR length(piece) = 1),
      tot AS (SELECT SUM(n) AS t FROM vocab),
      sc AS (
        SELECT piece,
               ((length(bin(n)) - 1) * 8
                  + (n * 8) // (CAST(1 AS BIGINT) << (length(bin(n)) - 1))
                  - 8)
               - (SELECT (length(bin(t)) - 1) * 8
                    + (t * 8) // (CAST(1 AS BIGINT) << (length(bin(t)) - 1))
                    - 8 FROM tot) AS s
        FROM vocab),
      paths AS (
        SELECT w, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS score,
               CAST(0 AS BIGINT) AS k, '' AS path
        FROM words
        UNION ALL
        SELECT p.w, p.pos + length(v.piece), p.score + v.s, p.k + 1,
               p.path || '|' || v.piece
        FROM paths p
        JOIN sc v ON v.piece = substr(p.w, p.pos, length(v.piece))
        WHERE p.pos <= len(p.w)),
      best AS (
        SELECT w, path,
               row_number() OVER (PARTITION BY w
                 ORDER BY score DESC, k ASC, path ASC) AS rn
        FROM paths WHERE pos = len(w) + 1),
      emitted AS (
        SELECT w, unnest(string_split(substr(path, 2), '|')) AS piece
        FROM best WHERE rn = 1)
      SELECT e.piece, CAST(SUM(wd.c) AS BIGINT) AS n
      FROM emitted e JOIN words wd ON wd.w = e.w
      GROUP BY 1 ORDER BY n DESC, piece LIMIT 40""",
      build = (s, d) => {
      val docs = t(s, d, "documents")
      val model = graft.operators.Unigram.train(docs, maxPieceLen = 4,
        minCount = 20L)
      graft.operators.Unigram.pieceCounts(docs, model)
        .orderBy(col("n").desc, col("piece")).limit(40)
    }),

    // Late-data dead-letter routing: where a watermark silently DROPS
    // stragglers, this sink quarantines them. Three deterministic
    // micro-batches (lake-source versions: two date windows, then the
    // window-2 remainder plus id%13 stragglers of ANY age); each batch
    // splits against the durable watermark of the PREVIOUS batches only
    // (max ts so far − 1h), so the old stragglers land in the `late`
    // table and everything else flows on-time — all three appends per
    // batch txn-idempotent. The oracle replays batch assignment,
    // cumulative-max watermarks and the split.
    // Late routing re-derived: batch assignment is a pure row function,
    // the watermark a strictly-earlier-batch cumulative max minus the
    // lateness, the split a comparison — all on microsecond-exact
    // timestamps.
    Q("q_stream_late", oracleSql = """
      WITH b AS (
        SELECT ts, event_id, event_type,
               CASE WHEN event_id % 13 = 0 THEN 2
                    WHEN ts < TIMESTAMP '2024-01-11' THEN 0
                    WHEN ts < TIMESTAMP '2024-01-21' THEN 1
                    ELSE 2 END AS batch
        FROM events),
      m AS (SELECT batch, max(ts) AS mx FROM b GROUP BY 1),
      wm AS (
        SELECT b0.batch, max(m.mx) - INTERVAL 1 HOUR AS w
        FROM (SELECT DISTINCT batch FROM b) b0
        JOIN m ON m.batch < b0.batch GROUP BY 1),
      lab AS (
        SELECT b.event_type, b.event_id,
               CASE WHEN w.w IS NOT NULL AND b.ts < w.w
                    THEN 'late' ELSE 'ontime' END AS face
        FROM b LEFT JOIN wm w ON w.batch = b.batch)
      SELECT face, event_type, COUNT(*) AS n,
             CAST(SUM(event_id) AS BIGINT) AS checksum
      FROM lab GROUP BY 1, 2 ORDER BY 1, 2""",
      build = (s, d) => withShufflePartitions(s, 4) {
      import graft.lake.{LakeLog, LakeTable}
      import graft.streaming.Streams
      val ev = t(s, d, "events").select("ts", "event_id", "event_type")
      val tmp = java.nio.file.Files.createTempDirectory("graftlate")
      val log = new LakeLog(tmp.resolve("lake"))
      val batchOf =
        when(col("event_id") % 13 === 0, 2)
          .when(col("ts") < lit("2024-01-11").cast("timestamp"), 0)
          .when(col("ts") < lit("2024-01-21").cast("timestamp"), 1)
          .otherwise(2)
      LakeTable.createTable(log, "src", ev.schema)
      for (t0 <- Seq("ontime", "late"))
        LakeTable.createTable(log, t0, ev.schema)
      LakeTable.createTable(log, "wm",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("batch_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("max_ts",
            org.apache.spark.sql.types.TimestampType))))
      LakeTable.insertAll(s, log, "src", (0 to 2).map(b =>
        (ev.filter(batchOf === b), s"slice-$b")))
      val q = Streams.lateRoutingSinkToLake(
        Streams.lakeStream(s, log, "src", maxVersionsPerBatch = Some(1L)),
        log, "ontime", "late", "wm", "ts", latenessMs = 3600L * 1000L,
        tmp.resolve("ckpt").toString)
      q.processAllAvailable(); q.stop()
      def face(name: String, table: String) =
        LakeTable.read(s, log, table).groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("event_id").as("checksum"))
          .withColumn("face", lit(name))
      face("ontime", "ontime").unionByName(face("late", "late"))
        .select("face", "event_type", "n", "checksum")
        .orderBy("face", "event_type")
    }),

    // Entity resolution: planted dirty re-crawls of customer (case-folded
    // copies with drifted balances, "inc"-suffixed copies) resolve back
    // to their source entity through multi-pass blocking (normalized
    // name; (nation, $100-balance-band)), integer field-agreement
    // scoring, and connected components over the match graph. Every
    // edge requires name agreement (50 of the 80 threshold), so realized
    // components are same-name cliques — the oracle's 2-hop min replay
    // is exact. Output = entity-size histogram with id checksums: any
    // mis-clustering anywhere moves it.
    // Entity resolution re-derived: same planted variants, both blocking
    // passes unioned DISTINCT, identical integer scoring, and the match
    // graph collapsed by a 2-hop minimum — exact here because every edge
    // requires name agreement, making components same-name cliques.
    Q("q_entity_resolution", oracleSql = """
      WITH base AS (
        SELECT c_custkey AS id, c_name AS name, c_mktsegment AS seg,
               c_nationkey AS nat,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal
        FROM customer),
      records AS (
        SELECT id, name, seg, nat, bal FROM base
        UNION ALL
        SELECT id + 1000000, upper(name), seg, nat, bal + 37
        FROM base WHERE id % 3 = 0
        UNION ALL
        SELECT id + 2000000, name || ' inc', seg, nat, bal - 25
        FROM base WHERE id % 9 = 0),
      recn AS (
        SELECT *, regexp_replace(regexp_replace(lower(name),
          '\b(inc|llc|ltd)\b', '', 'g'), '[^a-z0-9]', '', 'g') AS nn
        FROM records),
      cand AS (
        SELECT DISTINCT a_id, b_id, na, nb, ba, bb, sa, sb FROM (
          SELECT a.id AS a_id, b.id AS b_id, a.nn AS na, b.nn AS nb,
                 a.bal AS ba, b.bal AS bb, a.seg AS sa, b.seg AS sb
          FROM recn a JOIN recn b ON a.nn = b.nn AND a.id < b.id
          UNION ALL
          SELECT a.id, b.id, a.nn, b.nn, a.bal, b.bal, a.seg, b.seg
          FROM recn a JOIN recn b
            ON a.nat = b.nat AND a.bal // 10000 = b.bal // 10000
               AND a.id < b.id)),
      matches AS (
        SELECT a_id, b_id FROM cand
        WHERE (CASE WHEN na = nb THEN 50 ELSE 0 END) +
              (CASE WHEN abs(ba - bb) <= 100 THEN 30 ELSE 0 END) +
              (CASE WHEN sa = sb THEN 20 ELSE 0 END) >= 80),
      edges AS (
        SELECT a_id AS u, b_id AS v FROM matches
        UNION SELECT b_id, a_id FROM matches),
      nbr1 AS (
        SELECT r.id, least(r.id, coalesce(min(e.v), r.id)) AS m1
        FROM recn r LEFT JOIN edges e ON e.u = r.id GROUP BY r.id),
      comp AS (
        SELECT n.id, least(n.m1, coalesce(min(n2.m1), n.m1)) AS entity
        FROM nbr1 n LEFT JOIN edges e ON e.u = n.id
        LEFT JOIN nbr1 n2 ON n2.id = e.v
        GROUP BY n.id, n.m1),
      per AS (
        SELECT entity, COUNT(*) AS n_records,
               CAST(SUM(id) AS BIGINT) AS sum_id
        FROM comp GROUP BY 1)
      SELECT n_records, COUNT(*) AS n_entities,
             CAST(SUM(sum_id) AS BIGINT) AS checksum
      FROM per GROUP BY 1 ORDER BY 1""",
      build = (s, d) => {
      import graft.operators.EntityResolution
      val base = t(s, d, "customer").select(col("c_custkey").as("id"),
        col("c_name").as("name"), col("c_mktsegment").as("seg"),
        col("c_nationkey").as("nat"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal"))
      val v1 = base.filter(col("id") % 3 === 0).select(
        (col("id") + 1000000L).as("id"), upper(col("name")).as("name"),
        col("seg"), col("nat"), (col("bal") + 37L).as("bal"))
      val v2 = base.filter(col("id") % 9 === 0).select(
        (col("id") + 2000000L).as("id"),
        concat(col("name"), lit(" inc")).as("name"),
        col("seg"), col("nat"), (col("bal") - 25L).as("bal"))
      val records = base.unionByName(v1).unionByName(v2)
        .withColumn("name_norm", regexp_replace(regexp_replace(
          lower(col("name")), "\\b(inc|llc|ltd)\\b", ""),
          "[^a-z0-9]", ""))
      val matches = EntityResolution.matchPairs(records, "id",
        blockExprs = Seq("name_norm",
          "concat(cast(nat as string), '|', cast(bal div 10000 as string))"),
        rules = Seq(("name_norm_a = name_norm_b", 50L),
          ("abs(bal_a - bal_b) <= 100", 30L), ("seg_a = seg_b", 20L)),
        threshold = 80L)
      EntityResolution.entities(records, "id", matches)
        .groupBy("entity").agg(count(lit(1)).as("n_records"),
          sum("record_id").as("sum_id"))
        .groupBy("n_records").agg(count(lit(1)).as("n_entities"),
          sum("sum_id").as("checksum"))
        .orderBy("n_records")
    }),

    // Partition-spec evolution (Iceberg UpdatePartitionSpec): half of
    // lineitem lands flat, the spec flips to PARTITIONED BY
    // (l_returnflag) in one metadata-only commit, the other half lands
    // partitioned — nothing rewrites, the snapshot mixes layouts, and
    // BOTH read paths reconstruct every row (legacy files reattach their
    // own logged maps; current-spec files ride the FileIndex, where the
    // probe's partition filter must actually prune). The `all` face
    // aggregates the full mixed table; the `probe` face reads one
    // partition through readIndexed with a pruning assert.
    // Partition evolution re-derived: layouts are an engine-side detail —
    // the oracle just aggregates the base table (both faces), proving the
    // mixed-layout reconstruction loses and duplicates nothing.
    Q("q_lake_partition_evolution", oracleSql = """
      SELECT * FROM (
        SELECT 'all' AS face, l_returnflag, count(*) AS n_rows,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY 2
        UNION ALL
        SELECT 'probe', l_returnflag, count(*), round(sum(l_quantity), 2)
        FROM lineitem WHERE l_returnflag = 'R' GROUP BY 2)
      ORDER BY face, l_returnflag""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftpe"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity")
      LakeTable.createTable(log, "li", li.schema)
      LakeTable.insert(s, log, "li",
        li.filter(col("l_orderkey") % 2 === 0), txnId = "flat-half",
        numFiles = 2)
      log.alterPartitioning("li", Seq("l_returnflag"), "adopt-rf")
      LakeTable.insert(s, log, "li",
        li.filter(col("l_orderkey") % 2 =!= 0), txnId = "part-half",
        numFiles = 2)
      val specs = log.snapshot("li").files.map(_.partition.keySet).toSet
      require(specs == Set(Set.empty[String], Set("l_returnflag")),
        s"expected mixed layouts after spec evolution, got $specs")
      val all = LakeTable.read(s, log, "li")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 2).as("sum_qty"))
        .withColumn("face", lit("all"))
      val probe = LakeTable.readIndexed(s, log, "li")
        .filter(col("l_returnflag") === "R")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 2).as("sum_qty"))
        .withColumn("face", lit("probe"))
      val m = graft.Metrics.measure("pevo-probe", probe)
      require(m.filesPruned > 0,
        s"partition filter did not prune current-spec files " +
          s"(scanned=${m.filesScanned})")
      all.unionByName(probe)
        .select("face", "l_returnflag", "n_rows", "sum_qty")
        .orderBy("face", "l_returnflag")
    }),

    // SCD Type 2 over the lake: three change batches against a customer
    // dimension — initial load at t=0, a segment move (+balance bump on
    // a subset) at t=1, a second move at t=2 whose keys chain
    // close→reopen, plus a no-op CDC echo that must mint NO versions.
    // Every version row carries integer (eff_from, eff_to, is_current),
    // so the oracle derives the exact final dimension analytically from
    // the base table. Sort key coalesces eff_to: Spark orders NULLS
    // FIRST, DuckDB NULLS LAST — never sort oracle output on a nullable.
    // SCD2 re-derived analytically: each (eff_from, eff_to, is_current)
    // stratum's membership is a pure function of the key's residues —
    // %4 keys closed at 1, %8 keys re-closed at 2, %50 synthetics opened
    // at 1, the %7 echo contributing nothing.
    Q("q_lake_scd2", oracleSql = """
      WITH base AS (
        SELECT c_custkey AS key, c_mktsegment AS seg,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal
        FROM customer),
      vers AS (
        SELECT key, bal, CAST(0 AS BIGINT) AS eff_from,
               CASE WHEN key % 4 = 0 THEN CAST(1 AS BIGINT) END AS eff_to,
               CASE WHEN key % 4 = 0 THEN 0 ELSE 1 END AS is_current
        FROM base
        UNION ALL
        SELECT key, bal + CASE WHEN key % 10 = 0 THEN 1000 ELSE 0 END, 1,
               CASE WHEN key % 8 = 0 THEN CAST(2 AS BIGINT) END,
               CASE WHEN key % 8 = 0 THEN 0 ELSE 1 END
        FROM base WHERE key % 4 = 0
        UNION ALL
        SELECT key + 1000000, bal, 1, NULL, 1
        FROM base WHERE key % 50 = 0
        UNION ALL
        SELECT key, bal + CASE WHEN key % 10 = 0 THEN 1000 ELSE 0 END,
               2, NULL, 1
        FROM base WHERE key % 8 = 0)
      SELECT eff_from, eff_to, is_current, COUNT(*) AS n,
             CAST(SUM(key) AS BIGINT) AS sum_key,
             CAST(SUM(bal) AS BIGINT) AS sum_bal
      FROM vers GROUP BY 1, 2, 3
      ORDER BY eff_from, coalesce(eff_to, -1), is_current""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable, Scd}
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftscd2"))
      val base = t(s, d, "customer").select(
        col("c_custkey").as("key"), col("c_mktsegment").as("seg"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal"))
      Scd.create(log, "dim", base.schema)
      Scd.applyBatch(s, log, "dim", base, "key", Seq("seg", "bal"), 0L, "b0")
      val bump = when(col("key") % 10 === 0, 1000L).otherwise(0L)
      val b1 = base.filter(col("key") % 4 === 0)
        .select(col("key"), lit("MOVED").as("seg"),
          (col("bal") + bump).as("bal"))
        .unionByName(base.filter(col("key") % 50 === 0)
          .select((col("key") + 1000000L).as("key"), col("seg"), col("bal")))
      Scd.applyBatch(s, log, "dim", b1, "key", Seq("seg", "bal"), 1L, "b1")
      val b2 = base.filter(col("key") % 8 === 0)
        .select(col("key"), lit("MOVED2").as("seg"),
          (col("bal") + bump).as("bal"))
        .unionByName(base
          .filter(col("key") % 7 === 0 && col("key") % 8 =!= 0)
          .select(col("key"),
            when(col("key") % 4 === 0, "MOVED").otherwise(col("seg"))
              .as("seg"),
            (col("bal") + when(col("key") % 4 === 0 &&
              col("key") % 10 === 0, 1000L).otherwise(0L)).as("bal")))
      Scd.applyBatch(s, log, "dim", b2, "key", Seq("seg", "bal"), 2L, "b2")
      LakeTable.read(s, log, "dim")
        .groupBy("eff_from", "eff_to", "is_current")
        .agg(count(lit(1)).as("n"), sum("key").as("sum_key"),
          sum("bal").as("sum_bal"))
        .orderBy(col("eff_from"), coalesce(col("eff_to"), lit(-1L)),
          col("is_current"))
    }),

    // Cross-table atomic transaction: documents and their per-source
    // stats move TOGETHER — one decided txn publishes both (src0+src1),
    // an aborted txn (src2) leaves a trace in neither, and a later
    // main-line insert into only the doc table (src3) shows what the
    // txn's pinned snapshot protects against: the `main` face sees the
    // now-inconsistent pair (src3 docs with no stats row) while the
    // `txn_snapshot` face (readAt = version-pinned participants) stays
    // consistent on every source. The oracle recomputes both faces from
    // the base table.
    // Multi-table txn re-derived: the committed txn's sources appear in
    // both faces, the aborted one in neither, the late main-line-only
    // insert (src3) only in the main face — where its stats row is the
    // empty COALESCE and consistency flips to 0.
    Q("q_lake_multitxn", oracleSql = """
      WITH meta_main AS (
        SELECT source, COUNT(*) AS n_meta FROM documents
        WHERE source IN ('src0', 'src1', 'src3') GROUP BY 1),
      stats_main AS (
        SELECT source, COUNT(*) AS n_stats FROM documents
        WHERE source IN ('src0', 'src1') GROUP BY 1),
      meta_snap AS (
        SELECT source, COUNT(*) AS n_meta FROM documents
        WHERE source IN ('src0', 'src1') GROUP BY 1),
      faces AS (
        SELECT 'main' AS face, COALESCE(m.source, s.source) AS source,
               COALESCE(m.n_meta, 0) AS n_meta,
               COALESCE(s.n_stats, 0) AS n_stats
        FROM meta_main m FULL OUTER JOIN stats_main s USING (source)
        UNION ALL
        SELECT 'txn_snapshot', m.source, m.n_meta,
               COALESCE(s.n_stats, 0)
        FROM meta_snap m FULL OUTER JOIN stats_main s USING (source))
      SELECT face, source, CAST(n_meta AS BIGINT) AS n_meta,
             CAST(n_stats AS BIGINT) AS n_stats,
             CAST(CASE WHEN n_meta = n_stats THEN 1 ELSE 0 END AS INT)
               AS consistent
      FROM faces ORDER BY face, source""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable, MultiTxn}
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftmt"))
      val docs = t(s, d, "documents").select("doc_id", "source", "n_chars")
      def stats(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("source").agg(count(lit(1)).as("n_docs"))
      LakeTable.createTable(log, "meta", docs.schema)
      LakeTable.createTable(log, "stats", stats(docs).schema)
      val committed = docs.filter(col("source").isin("src0", "src1"))
      MultiTxn.stage(s, log, "t1", "meta", committed)
      MultiTxn.stage(s, log, "t1", "stats", stats(committed))
      MultiTxn.commit(s, log, "t1", Seq("meta", "stats"))
      val aborted = docs.filter(col("source") === "src2")
      MultiTxn.stage(s, log, "t2", "meta", aborted)
      MultiTxn.stage(s, log, "t2", "stats", stats(aborted))
      MultiTxn.abort(log, "t2", Seq("meta", "stats"))
      LakeTable.insert(s, log, "meta",
        docs.filter(col("source") === "src3"), txnId = "late-main")
      def face(name: String, meta: org.apache.spark.sql.DataFrame,
               st: org.apache.spark.sql.DataFrame) =
        meta.groupBy("source").agg(count(lit(1)).as("n_meta"))
          .join(st.withColumnRenamed("n_docs", "n_stats"),
            Seq("source"), "full_outer")
          .select(lit(name).as("face"), col("source"),
            coalesce(col("n_meta"), lit(0L)).as("n_meta"),
            coalesce(col("n_stats"), lit(0L)).as("n_stats"))
      val snap = MultiTxn.readAt(s, log, "t1")
      face("main", LakeTable.read(s, log, "meta"),
          LakeTable.read(s, log, "stats"))
        .unionByName(face("txn_snapshot", snap("meta"), snap("stats")))
        .withColumn("consistent",
          (col("n_meta") === col("n_stats")).cast("int"))
        .orderBy("face", "source")
    }),

    // CUSUM changepoint detection (Page 1954) with planted ground truth:
    // hourly event counts gain a +3/hour level shift from Jan 21 (the
    // planted-structure pattern q_kcore uses), and the integer CUSUM
    // fold must alarm shortly after — detection delay shrinks as the
    // data (and so the signal-to-noise) grows, visible across the SFs.
    // Per-key folds run inside one row each; the raw stream reduces to
    // (type, hour) counts first, so nothing corpus-sized shuffles.
    // CUSUM re-derived as a recursive CTE: the max(0, S + B·v − bs −
    // slackB) recurrence unrolls one series step per iteration (~700
    // steps × 5 keys — bounded by the calendar). Pure integer state, so
    // every S, max-S and alarm instant matches the Spark fold exactly.
    Q("q_changepoint", oracleSql = """
      WITH RECURSIVE series AS (
        SELECT event_type AS k, date_trunc('hour', ts) AS t,
               CAST(COUNT(*) AS BIGINT) +
                 CASE WHEN date_trunc('hour', ts) >= TIMESTAMP '2024-01-21'
                      THEN 3 ELSE 0 END AS v
        FROM events GROUP BY event_type, date_trunc('hour', ts)),
      idx AS (
        SELECT k, t, v, ROW_NUMBER() OVER (PARTITION BY k ORDER BY t) AS i,
               COUNT(*) OVER (PARTITION BY k) AS np FROM series),
      base AS (
        SELECT k, CAST(SUM(v) AS BIGINT) AS bs
        FROM idx WHERE i <= 48 GROUP BY 1),
      rec AS (
        SELECT b.k, CAST(48 AS BIGINT) AS i, CAST(0 AS BIGINT) AS s,
               CAST(0 AS BIGINT) AS mx, CAST(NULL AS TIMESTAMP) AS at
        FROM base b
        UNION ALL
        SELECT r.k, r.i + 1,
               greatest(r.s + 48 * x.v - b.bs - 48, 0),
               greatest(r.mx, greatest(r.s + 48 * x.v - b.bs - 48, 0)),
               COALESCE(r.at,
                 CASE WHEN greatest(r.s + 48 * x.v - b.bs - 48, 0) > 960
                      THEN x.t END)
        FROM rec r JOIN idx x ON x.k = r.k AND x.i = r.i + 1
        JOIN base b ON b.k = r.k)
      SELECT r.k AS event_type, CAST(max(i.np) AS BIGINT) AS n_points,
             CAST(max(b.bs) AS BIGINT) AS base_sum,
             CAST(max(r.mx) FILTER (r.i = i.np) AS BIGINT) AS max_s,
             max(r.at) FILTER (r.i = i.np) AS alarm_time
      FROM rec r JOIN idx i ON i.k = r.k AND i.i = 1
      JOIN base b ON b.k = r.k
      GROUP BY 1 ORDER BY 1""",
      build = (s, d) => {
      val series = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"))
        .withColumn("n", col("n") +
          when(col("hour") >= lit("2024-01-21").cast("timestamp"), 3L)
            .otherwise(0L))
      graft.operators.Changepoint.cusum(series, "event_type", "hour", "n",
          baseline = 48, slackTimesB = 48L, thresholdTimesB = 960L)
        .orderBy("event_type")
    }),

    // l-diversity on top of the k-anonymity search: the sensitive column
    // (market segment) must show ≥ 3 DISTINCT values per class — k alone
    // leaves the homogeneity attack open. The two gate SFs choose
    // DIFFERENT ladder steps (the 1% corpus clears the budget at the
    // finest step, the 0.1% corpus must coarsen once), so the oracle
    // replays a search that actually branches on data.
    // l-diversity re-derived: the same stepped search with the dual bar
    // (class size ≥ k AND distinct sensitive ≥ l) in the residue.
    Q("q_kanon_ldiv", oracleSql = """
      WITH base AS (
        SELECT c_nationkey AS nat, c_mktsegment AS seg,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal
        FROM customer),
      gen AS (
        SELECT s,
          CASE WHEN s = 0 THEN CAST(nat AS VARCHAR)
               WHEN s = 1 THEN CAST(nat // 5 AS VARCHAR)
               ELSE '*' END AS g_nat,
          CASE WHEN s = 0 THEN CAST(bal // 100000 AS VARCHAR)
               WHEN s = 1 THEN CAST(bal // 500000 AS VARCHAR)
               ELSE '*' END AS g_bal,
          seg
        FROM base CROSS JOIN (SELECT unnest([0, 1, 2]) AS s)),
      classes AS (
        SELECT s, g_nat, g_bal, COUNT(*) AS n,
               COUNT(DISTINCT seg) AS n_sens
        FROM gen GROUP BY 1, 2, 3),
      residue AS (
        SELECT s,
               COALESCE(SUM(CASE WHEN n < 3 OR n_sens < 3 THEN n END), 0)
                 AS viol,
               SUM(n) AS tot
        FROM classes GROUP BY 1),
      chosen AS (
        SELECT COALESCE(
          (SELECT min(s) FROM residue WHERE viol * 1000000 <= tot * 200000),
          2) AS s)
      SELECT CAST(c.s AS INT) AS step, g_nat, g_bal,
             CAST(n AS BIGINT) AS n, CAST(n_sens AS BIGINT) AS n_sens
      FROM classes c JOIN chosen ch ON c.s = ch.s
      WHERE n >= 3 AND n_sens >= 3
      ORDER BY g_nat, g_bal""",
      build = (s, d) =>
      graft.operators.Anonymize.lDiversify(t(s, d, "customer"),
        k = 3, l = 3,
        ladders = Seq(
          graft.operators.Anonymize.Ladder("g_nat", Seq(
            "CAST(c_nationkey AS STRING)",
            "CAST(c_nationkey div 5 AS STRING)", "'*'")),
          graft.operators.Anonymize.Ladder("g_bal", Seq(
            "CAST(CAST(round(c_acctbal * 100) AS BIGINT) div 100000 AS STRING)",
            "CAST(CAST(round(c_acctbal * 100) AS BIGINT) div 500000 AS STRING)",
            "'*'"))),
        sensitiveCol = "c_mktsegment", maxSuppressedPpm = 200000L)
        .orderBy("g_nat", "g_bal")),

    // Local differential privacy via randomized response (Warner 1965):
    // each event's conversion bit flips with p=1/4 (ε = ln 3) under a
    // seeded deterministic md5 coin, then the per-type rate debiases
    // exactly in integer ppm — the coin's determinism is what lets the
    // oracle replay every flip and makes pipeline retries idempotent
    // (documented: a deployment wanting adversarial unpredictability
    // swaps in a keyed hash; estimator unchanged).
    // q_dp_rr: replay the seeded md5 coin per event, the flips, and the
    // integer-ppm debiasing — the mechanism is exactly auditable, which
    // is the point of the deterministic coin.
    Q("q_dp_rr", oracleSql = """
      WITH base AS (
        SELECT event_id, event_type,
               CASE WHEN value > 150 THEN 1 ELSE 0 END AS sig
        FROM events),
      coin AS (
        SELECT event_type,
               CASE WHEN CAST(('0x' || substring(md5('rr-r8|' ||
                        CAST(event_id AS VARCHAR)), 1, 12)) AS BIGINT)
                        % 1000000 < 250000
                    THEN 1 - sig ELSE sig END AS rr
        FROM base),
      g AS (SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(rr) AS BIGINT) AS n_reported
            FROM coin GROUP BY 1)
      SELECT event_type, CAST(n AS BIGINT) AS n, n_reported,
             CAST(least(1000000, greatest(0,
               ((n_reported * 1000000 // n) - 250000) * 1000000
                 // (1000000 - 500000))) AS BIGINT) AS est_true_ppm
      FROM g ORDER BY event_type""",
      build = (s, d) => {
      import graft.operators.Privacy
      val ev = t(s, d, "events").select(col("event_id"), col("event_type"),
        (col("value") > 150).cast("int").as("sig"))
      Privacy.debiasedRate(
          Privacy.randomizedResponse(ev, "event_id", "sig",
            pPpm = 250000L, seed = "rr-r8"),
          "event_type", pPpm = 250000L)
        .orderBy("event_type")
    }),

    // k-anonymity AND t-closeness: each class's balance-band
    // distribution must sit within EMD t of the corpus's — the
    // skew leak l-diversity misses. EMD over the ordered bands is
    // exact cross-multiplied integer arithmetic (no floats); the
    // oracle replays the whole stepped search including every class's
    // cumulative-count EMD in HUGEINT.
    // t-closeness re-derived: the stepped search again, now with each
    // class's ordered-EMD vs the global balance-band distribution in the
    // residue — cumulative counts cross-multiplied in HUGEINT, integral
    // `//` for the reported ppm (floor; all terms non-negative).
    Q("q_kanon_tclose", oracleSql = """
      WITH base AS (
        SELECT c_nationkey AS nat, c_mktsegment AS seg,
               CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS sens
        FROM customer),
      gdist AS (SELECT sens, COUNT(*) AS g FROM base GROUP BY 1),
      globc AS (
        SELECT sens, SUM(g) OVER (ORDER BY sens) AS cg FROM gdist),
      tot AS (SELECT CAST(SUM(g) AS HUGEINT) AS big_n,
                     COUNT(*) AS m FROM gdist),
      gen AS (
        SELECT s,
          CASE WHEN s = 0 THEN CAST(nat AS VARCHAR)
               WHEN s = 1 THEN CAST(nat // 5 AS VARCHAR)
               ELSE '*' END AS g_nat,
          CASE WHEN s <= 1 THEN seg ELSE '*' END AS g_seg,
          sens
        FROM base CROSS JOIN (SELECT unnest([0, 1, 2]) AS s)),
      cs AS (SELECT s, g_nat, g_seg, sens, COUNT(*) AS cnt
             FROM gen GROUP BY 1, 2, 3, 4),
      sizes AS (SELECT s, g_nat, g_seg, SUM(cnt) AS n
                FROM cs GROUP BY 1, 2, 3),
      grid AS (
        SELECT z.s, z.g_nat, z.g_seg, z.n, v.sens, v.cg,
               COALESCE(c.cnt, 0) AS cnt
        FROM sizes z CROSS JOIN globc v
        LEFT JOIN cs c ON c.s = z.s AND c.g_nat = z.g_nat
                      AND c.g_seg = z.g_seg AND c.sens = v.sens),
      cum AS (
        SELECT s, g_nat, g_seg, n, cg,
               SUM(cnt) OVER (PARTITION BY s, g_nat, g_seg
                              ORDER BY sens) AS cc
        FROM grid),
      emd AS (
        SELECT s, g_nat, g_seg, n,
               (SUM(abs(CAST(cc AS HUGEINT) * (SELECT big_n FROM tot)
                        - CAST(n AS HUGEINT) * cg)) * 1000000)
               // (CAST(n AS HUGEINT) * (SELECT big_n FROM tot)
                  * ((SELECT m FROM tot) - 1)) AS emd_ppm
        FROM cum GROUP BY 1, 2, 3, 4),
      residue AS (
        SELECT s,
               COALESCE(SUM(CASE WHEN n < 3 OR emd_ppm > 250000 THEN n END),
                 0) AS viol,
               SUM(n) AS tot_n
        FROM emd GROUP BY 1),
      chosen AS (
        SELECT COALESCE(
          (SELECT min(s) FROM residue
           WHERE viol * 1000000 <= tot_n * 200000), 2) AS s)
      SELECT CAST(e.s AS INT) AS step, g_nat, g_seg,
             CAST(n AS BIGINT) AS n, CAST(emd_ppm AS BIGINT) AS emd_ppm
      FROM emd e JOIN chosen ch ON e.s = ch.s
      WHERE n >= 3 AND emd_ppm <= 250000
      ORDER BY g_nat, g_seg""",
      build = (s, d) =>
      graft.operators.Anonymize.tCloseness(t(s, d, "customer"),
        k = 3, tPpm = 250000L,
        ladders = Seq(
          graft.operators.Anonymize.Ladder("g_nat", Seq(
            "CAST(c_nationkey AS STRING)",
            "CAST(c_nationkey div 5 AS STRING)", "'*'")),
          graft.operators.Anonymize.Ladder("g_seg", Seq(
            "c_mktsegment", "c_mktsegment", "'*'"))),
        sensitiveExpr = "CAST(round(c_acctbal * 100) AS BIGINT) div 100000",
        maxSuppressedPpm = 200000L)
        .orderBy("g_nat", "g_seg")),

    // k-anonymity by stepped global recoding: generalize the customer
    // quasi-identifiers (nation, segment, balance band) up a fixed
    // ladder until the under-k residue fits the suppression budget,
    // then emit the chosen step's ≥k equivalence classes. The step
    // search is metadata-priced (one aggregate per ladder step, two
    // longs to the driver); the oracle replays the whole search —
    // per-step residue counts, budget comparison, fallback — not just
    // the final class table.
    // k-anonymity re-derived: the oracle replays the STEP SEARCH (per-step
    // under-k residues vs the 20% suppression budget, coarsest-step
    // fallback), then emits the chosen step's ≥k classes. DuckDB `//`
    // truncates toward zero exactly like Spark's `div` (verified on
    // negatives — acctbal bands cross zero).
    Q("q_kanon", oracleSql = """
      WITH base AS (
        SELECT c_nationkey AS nat, c_mktsegment AS seg,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal
        FROM customer),
      gen AS (
        SELECT s,
          CASE WHEN s = 0 THEN CAST(nat AS VARCHAR)
               WHEN s = 1 THEN CAST(nat // 5 AS VARCHAR)
               ELSE '*' END AS g_nat,
          CASE WHEN s <= 1 THEN seg ELSE '*' END AS g_seg,
          CASE WHEN s = 0 THEN CAST(bal // 100000 AS VARCHAR)
               WHEN s = 1 THEN CAST(bal // 500000 AS VARCHAR)
               ELSE '*' END AS g_bal
        FROM base CROSS JOIN (SELECT unnest([0, 1, 2]) AS s)),
      classes AS (
        SELECT s, g_nat, g_seg, g_bal, COUNT(*) AS n
        FROM gen GROUP BY 1, 2, 3, 4),
      residue AS (
        SELECT s, COALESCE(SUM(CASE WHEN n < 3 THEN n END), 0) AS viol,
               SUM(n) AS tot
        FROM classes GROUP BY 1),
      chosen AS (
        SELECT COALESCE(
          (SELECT min(s) FROM residue WHERE viol * 1000000 <= tot * 200000),
          2) AS s)
      SELECT CAST(c.s AS INT) AS step, g_nat, g_seg, g_bal,
             CAST(n AS BIGINT) AS n
      FROM classes c JOIN chosen ch ON c.s = ch.s
      WHERE n >= 3
      ORDER BY g_nat, g_seg, g_bal""",
      build = (s, d) =>
      graft.operators.Anonymize.kAnonymize(t(s, d, "customer"), k = 3,
        ladders = Seq(
          graft.operators.Anonymize.Ladder("g_nat", Seq(
            "CAST(c_nationkey AS STRING)",
            "CAST(c_nationkey div 5 AS STRING)", "'*'")),
          graft.operators.Anonymize.Ladder("g_seg", Seq(
            "c_mktsegment", "c_mktsegment", "'*'")),
          graft.operators.Anonymize.Ladder("g_bal", Seq(
            "CAST(CAST(round(c_acctbal * 100) AS BIGINT) div 100000 AS STRING)",
            "CAST(CAST(round(c_acctbal * 100) AS BIGINT) div 500000 AS STRING)",
            "'*'"))),
        maxSuppressedPpm = 200000L)
        .orderBy("g_nat", "g_seg", "g_bal")),

    // Pareto frontier (skyline): suppliers not strictly beaten on BOTH
    // total spend (minimized) and line volume (maximized, negated into
    // the minimized frame). The engine runs the band-partitioned skyline
    // (Skyline.frontier — per-bucket windows + a P-row prefix-min
    // broadcast, no all-pairs pass and no global window); the oracle is
    // the textbook NOT EXISTS dominance test, valid because the band
    // formulation is exact, not approximate.
    // Skyline re-derived as the textbook NOT EXISTS dominance predicate —
    // exact-value oracle is valid for the engine's band-partitioned
    // formulation because banding never changes the answer, only the
    // parallel decomposition.
    Q("q_pareto", oracleSql = """
      WITH per AS (
        SELECT l_suppkey AS suppkey,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                 AS BIGINT) AS cost_cents,
               COUNT(*) AS n_lines
        FROM lineitem GROUP BY 1)
      SELECT p.suppkey, p.cost_cents, p.n_lines
      FROM per p
      WHERE NOT EXISTS (
        SELECT 1 FROM per q
        WHERE q.cost_cents <= p.cost_cents AND q.n_lines >= p.n_lines
          AND (q.cost_cents < p.cost_cents OR q.n_lines > p.n_lines))
      ORDER BY suppkey""",
      build = (s, d) => {
      val per = t(s, d, "lineitem")
        .groupBy(col("l_suppkey").as("suppkey"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
          .as("cost_cents"), count(lit(1)).as("n_lines"))
        .withColumn("neg_lines", -col("n_lines"))
      graft.operators.Skyline.frontier(per, "cost_cents", "neg_lines")
        .select("suppkey", "cost_cents", "n_lines")
        .orderBy("suppkey")
    }),
  )
}
