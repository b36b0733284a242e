package graft
package queries

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import Fixtures._

/** Function breadth (§2.8 on): scalar, date, string, JSON and array
  * functions, the as-of join, stratified sampling, pivot/unpivot,
  * generators and heavy hitters. */
object FunctionQueries {
  val all: Seq[Q] = Seq(

    // ---- §2.8 scalar functions (extension) -------------------------------
    Q("q_scalar_funcs", oracleSql = """
      SELECT o_orderkey, year(o_orderdate) AS yr, month(o_orderdate) AS mo,
             upper(substring(o_orderpriority, 1, 4)) AS prio4,
             length(o_orderstatus) AS status_len,
             round(abs(o_totalprice - 1000.0), 2) AS abs_diff,
             o_orderkey % 7 AS key_mod,
             CASE WHEN o_totalprice > 100000 THEN 'big'
                  WHEN o_totalprice > 10000 THEN 'mid'
                  ELSE 'small' END AS bucket
      FROM orders ORDER BY o_orderkey""",
      build = (s, d) =>
      t(s, d, "orders").select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          upper(substring(col("o_orderpriority"), 1, 4)).as("prio4"),
          length(col("o_orderstatus")).as("status_len"),
          round(abs(col("o_totalprice") - 1000.0), 2).as("abs_diff"),
          (col("o_orderkey") % 7).as("key_mod"),
          when(col("o_totalprice") > 100000, "big")
            .when(col("o_totalprice") > 10000, "mid")
            .otherwise("small").as("bucket"))
        .orderBy("o_orderkey")),

    // ---- §2.3 as-of join (training-pipeline operator; union+window) ------
    Q("q_asof", oracleSql = """
      WITH r AS (SELECT user_id, ts, max(value) AS rv
                 FROM events GROUP BY 1, 2),
           l AS (SELECT event_id, user_id, ts FROM events
                 WHERE event_id % 10 = 0)
      SELECT l.event_id, l.user_id, l.ts, round(r.rv, 4) AS ref_value
      FROM l ASOF LEFT JOIN r
        ON l.user_id = r.user_id AND l.ts >= r.ts
      ORDER BY l.event_id""",
      build = (s, d) => {
      val ev = t(s, d, "events")
      val quotes = ev.groupBy("user_id", "ts")
        .agg(max("value").as("rv"))
      val probes = ev.filter(col("event_id") % 10 === 0)
        .select("event_id", "user_id", "ts")
      graft.operators.AsOfJoin.asof(probes, quotes, Seq("user_id"), "ts", "ts")
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("rv"), 4).as("ref_value"))
        .orderBy("event_id")
    }),

    Q("q_asof_fwd", oracleSql = """
      WITH r AS (SELECT user_id, ts, max(value) AS rv
                 FROM events GROUP BY 1, 2),
           l AS (SELECT event_id, user_id, ts FROM events
                 WHERE event_id % 10 = 0)
      SELECT l.event_id, l.user_id, l.ts, round(rr.rv, 4) AS ref_value
      FROM l LEFT JOIN LATERAL (
        SELECT r.rv FROM r
        WHERE r.user_id = l.user_id AND r.ts >= l.ts
          AND r.ts <= l.ts + INTERVAL 1 HOUR
        ORDER BY r.ts LIMIT 1) rr ON TRUE
      ORDER BY l.event_id""",
      build = (s, d) => {
      // forward as-of with a bounded staleness window: the next quote at or
      // after each probe, but only within 1 hour — pandas merge_asof
      // (direction="forward", tolerance=1h) semantics, oracle-checked via a
      // DuckDB LATERAL min-over-window reformulation.
      val ev = t(s, d, "events")
      val quotes = ev.groupBy("user_id", "ts")
        .agg(max("value").as("rv"))
      val probes = ev.filter(col("event_id") % 10 === 0)
        .select("event_id", "user_id", "ts")
      graft.operators.AsOfJoin.asof(probes, quotes, Seq("user_id"), "ts", "ts",
          direction = "forward", tolerance = Some(expr("INTERVAL 1 HOUR")))
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("rv"), 4).as("ref_value"))
        .orderBy("event_id")
    }),

    // ---- scalar function breadth: dates, strings, math, nulls ------------
    Q("q_scalar_dates", oracleSql = """
      SELECT o_orderkey,
             datediff('day', o_orderdate, DATE '1998-12-31') AS days_to_end,
             o_orderdate + INTERVAL 30 DAY AS due_date,
             dayofweek(o_orderdate) + 1 AS dow,
             quarter(o_orderdate) AS qtr,
             last_day(o_orderdate) AS month_end
      FROM orders ORDER BY o_orderkey""",
      build = (s, d) =>
      t(s, d, "orders").select(
          col("o_orderkey"),
          datediff(lit("1998-12-31").cast("date"), col("o_orderdate"))
            .as("days_to_end"),
          date_add(col("o_orderdate"), 30).as("due_date"),
          dayofweek(col("o_orderdate")).as("dow"),
          quarter(col("o_orderdate")).as("qtr"),
          last_day(col("o_orderdate")).as("month_end"))
        .orderBy("o_orderkey")),
    Q("q_scalar_strings", oracleSql = """
      SELECT c_custkey,
             concat_ws('|', c_mktsegment, c_name) AS joined,
             replace(c_name, 'Customer', 'Cust') AS replaced,
             lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
             reverse(c_mktsegment) AS rev,
             position('E' IN c_mktsegment) AS e_pos,
             trim(lower(c_mktsegment)) AS lower_seg
      FROM customer ORDER BY c_custkey""",
      build = (s, d) =>
      t(s, d, "customer").select(
          col("c_custkey"),
          concat_ws("|", col("c_mktsegment"), col("c_name")).as("joined"),
          replace(col("c_name"), lit("Customer"), lit("Cust")).as("replaced"),
          lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
          reverse(col("c_mktsegment")).as("rev"),
          locate("E", col("c_mktsegment")).as("e_pos"),
          trim(lower(col("c_mktsegment"))).as("lower_seg"))
        .orderBy("c_custkey")),
    Q("q_scalar_math", oracleSql = """
      SELECT l_orderkey, l_linenumber,
             round(sqrt(l_extendedprice), 6) AS sqrt_price,
             round(ln(l_extendedprice + 1), 6) AS ln_price,
             round(pow(l_discount, 2), 6) AS disc_sq,
             CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
             CAST(floor(l_tax * 100) AS BIGINT) AS tax_pct,
             CAST(sign(l_quantity - 25) AS BIGINT) AS qty_sign
      FROM lineitem ORDER BY l_orderkey, l_linenumber""",
      build = (s, d) =>
      t(s, d, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          round(sqrt(col("l_extendedprice")), 6).as("sqrt_price"),
          round(ln(col("l_extendedprice") + 1), 6).as("ln_price"),
          round(pow(col("l_discount"), 2), 6).as("disc_sq"),
          ceil(col("l_quantity")).as("qty_ceil"),
          floor(col("l_tax") * 100).as("tax_pct"),
          // cast: Spark sign returns DOUBLE, DuckDB TINYINT — align on BIGINT
          sign(col("l_quantity") - 25).cast("long").as("qty_sign"))
        .orderBy("l_orderkey", "l_linenumber")),
    Q("q_nulls", oracleSql = """
      SELECT l_returnflag, count(*) AS n_rows,
             count(nullif(l_quantity, 1.0)) AS n_nonnull,
             round(sum(coalesce(nullif(l_quantity, 1.0), 0.0)), 2) AS sum_qty0,
             round(avg(nullif(l_quantity, 1.0)), 6) AS avg_nonnull
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
      build = (s, d) =>
      // nullif manufactures nulls; coalesce/null-aware aggs recover them
      t(s, d, "lineitem")
        .withColumn("maybe_qty", nullif(col("l_quantity"), lit(1.0)))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          count(col("maybe_qty")).as("n_nonnull"),
          round(sum(coalesce(col("maybe_qty"), lit(0.0))), 2).as("sum_qty0"),
          round(avg(col("maybe_qty")), 6).as("avg_nonnull"))
        .orderBy("l_returnflag")),
    Q("q_cube", oracleSql = """
      SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
             round(sum(o_totalprice), 2) AS rev
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
      build = (s, d) =>
      t(s, d, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("rev"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // ---- JSON functions (events.props is a JSON payload) -----------------
    Q("q_json", oracleSql = """
      SELECT event_type, count(*) AS n,
             round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6)
               AS avg_k,
             min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
             max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      FROM events GROUP BY event_type ORDER BY event_type""",
      build = (s, d) =>
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(avg("k"), 6).as("avg_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type")),

    // ---- array functions over embeddings ---------------------------------
    Q("q_array_ops", oracleSql = """
      SELECT vec_id, len(embedding) AS dim,
             round(CAST(embedding[1] AS DOUBLE), 6) AS first_elem,
             round(CAST(embedding[-1] AS DOUBLE), 6) AS last_elem,
             round(list_sum(list_transform(embedding[1:8],
               x -> CAST(x AS DOUBLE))), 6) AS head_sum
      FROM embeddings ORDER BY vec_id""",
      build = (s, d) =>
      t(s, d, "embeddings").select(
          col("vec_id"),
          size(col("embedding")).as("dim"),
          round(element_at(col("embedding"), 1).cast("double"), 6)
            .as("first_elem"),
          round(element_at(col("embedding"), -1).cast("double"), 6)
            .as("last_elem"),
          round(aggregate(slice(col("embedding"), 1, 8),
            lit(0.0), (acc, x) => acc + x.cast("double")), 6).as("head_sum"))
        .orderBy("vec_id")),

    // ---- deterministic stratified sampling -------------------------------
    Q("q_sample", oracleSql = """
      SELECT source, least(25, count(*)) AS n_sampled,
             least(25, count(*)) AS n_distinct
      FROM documents GROUP BY source ORDER BY source""",
      build = (s, d) =>
      // selection is hash-deterministic (not SQL-replicable); the exact-size
      // guarantee IS the oracle: per stratum, min(25, stratum size) rows
      graft.operators.Sampling.stratifiedExact(
          t(s, d, "documents"), "source", 25, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_sampled"),
          countDistinct("doc_id").as("n_distinct"))
        .orderBy("source")),
    Q("q_mixture_temp", oracleSql = """
      WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n
                 FROM documents GROUP BY lang),
      s AS (SELECT list_sum(list(sqrt(n) ORDER BY lang)) AS sw FROM c),
      r AS (SELECT lang, n, sqrt(n) / sw * 1000 / n AS rate FROM c, s),
      x AS (SELECT d.doc_id, d.lang, r.rate,
              CAST(floor(r.rate) AS BIGINT)
              + CASE WHEN CAST(('0x' || substring(
                      md5('t:' || CAST(d.doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) / 1152921504606846976.0
                    < r.rate - floor(r.rate)
                THEN 1 ELSE 0 END AS copies
            FROM documents d JOIN r ON d.lang = r.lang)
      SELECT lang, CAST(sum(copies) AS BIGINT) AS n_rows,
             count(*) FILTER (WHERE copies > 0) AS n_docs,
             max(copies) - 1 AS max_copy
      FROM x GROUP BY lang HAVING sum(copies) > 0 ORDER BY lang""",
      build = (s, d) =>
      // mT5-style temperature resampling (α=0.5) over the skewed lang
      // column: low-resource languages upsample WITH repetition, the head
      // downsamples, targeting 1000 rows in expectation. The portable md5
      // hash lets DuckDB replay the per-row Bernoulli bit-for-bit, so the
      // gate checks every copy count, not just totals. Plan: one tiny
      // count agg → driver rates → broadcast join + posexplode; the
      // corpus never shuffles.
      graft.operators.Sampling.temperatureResample(
          t(s, d, "documents"), "lang", "doc_id",
          targetRows = 1000L, alpha = 0.5,
          hash01 = graft.operators.Sampling.portableHash01("t"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct("doc_id").as("n_docs"),
          max("copy").as("max_copy"))
        .orderBy("lang")),

    // ---- pivot (wide aggregation) ----------------------------------------
    Q("q_pivot", oracleSql = """
      SELECT l_linestatus,
             round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2)
               AS "A",
             round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2)
               AS "N",
             round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2)
               AS "R"
      FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""",
      build = (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(round(sum("l_quantity"), 2))
        .orderBy("l_linestatus")),

    // ---- unpivot / melt (long-format reshape) ---------------------------
    Q("q_unpivot", oracleSql = """
      SELECT l_orderkey, l_linenumber, measure, round(val, 2) AS val FROM (
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
               l_quantity AS val FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
      ORDER BY l_orderkey, l_linenumber, measure""",
      build = (s, d) =>
      // Dataset.unpivot = one Expand node (3 output rows per input, no
      // shuffle, stays inside whole-stage codegen) — the inverse of
      // q_pivot's wide aggregation; long format is what per-measure
      // profiling and plotting pipelines consume
      t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount",
          "l_tax")
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "measure", "val")
        .withColumn("val", round(col("val"), 2))
        .orderBy("l_orderkey", "l_linenumber", "measure")),

    // ---- explode / generator (UDTF-shaped) -------------------------------
    Q("q_explode_tokens", oracleSql = """
      SELECT tok, count(*) AS n FROM (
        SELECT unnest(list_filter(string_split_regex(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
          x -> x <> '')) AS tok
        FROM documents)
      GROUP BY tok ORDER BY n DESC, tok LIMIT 20""",
      build = (s, d) =>
      docsSpread(s, d)
        .select(explode(tokens(normalizeText(col("text")))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok")).limit(20)),

    // ---- heavy hitters (two-pass sketch-then-verify) ---------------------
    Q("q_heavy_hitters", oracleSql = """
      WITH tok AS (
        SELECT unnest(list_filter(string_split_regex(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
          x -> x <> '')) AS item
        FROM documents),
      t AS (SELECT count(*) AS n FROM tok),
      c AS (SELECT item, count(*) AS cnt FROM tok GROUP BY item)
      SELECT c.item, c.cnt, t.n FROM c, t WHERE c.cnt * 40 > t.n
      ORDER BY c.cnt DESC, c.item""",
      build = (s, d) => {
      // tokens with frequency > n/40, EXACT, without ever shuffling the
      // vocabulary: pass 1 is a Misra–Gries partial aggregate (≤ 80
      // counters per partition cross the exchange, guarantee bound
      // n/81 < threshold), pass 2 re-counts only the ≤ 80 candidates
      // behind a scan-pruning isin filter. See operators/HeavyHitters.
      // (This corpus's vocabulary fits the sketch whole — the SPEC drives
      // vocab ≫ k Zipf streams through the compress/merge path.)
      val toks = docsSpread(s, d)
        .select(explode(tokens(normalizeText(col("text")))).as("item"))
      graft.operators.HeavyHitters.exactHeavy(toks, denom = 40)
        .orderBy(col("cnt").desc, col("item"))
    }),
    Q("q_heavy_hitters_grouped", oracleSql = """
      WITH tok AS (
        SELECT lang, unnest(list_filter(string_split_regex(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
          x -> x <> '')) AS item
        FROM documents),
      t AS (SELECT lang, count(*) AS n FROM tok GROUP BY 1),
      c AS (SELECT lang, item, count(*) AS cnt FROM tok GROUP BY 1, 2)
      SELECT c.lang, c.item, c.cnt, t.n
      FROM c JOIN t USING (lang) WHERE c.cnt * 40 > t.n
      ORDER BY c.lang, c.cnt DESC, c.item""",
      build = (s, d) => {
      // the grouped face: per-LANGUAGE frequent tokens, each language's
      // threshold its own n_lang/40. Pass 1 is one groupBy(lang) sketch
      // aggregate (≤ 80 counters per group cross the exchange); the
      // candidate (lang, item) pairs broadcast back to prune pass 2.
      val toks = docsSpread(s, d).select(col("lang"),
        explode(tokens(normalizeText(col("text")))).as("item"))
      graft.operators.HeavyHitters
        .exactHeavyPerGroup(toks, "lang", "item", denom = 40)
        .orderBy(col("lang"), col("cnt").desc, col("item"))
    }),
  )
}
